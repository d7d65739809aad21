package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Thrown at the atomic-rename commit point when another writer claimed
  * the targeted version number first. Extends IllegalStateException so
  * pre-reconciliation callers (and specs) that match the broad type
  * keep working; the append path catches THIS type to reconcile. */
final class ConcurrentCommitException(msg: String)
  extends IllegalStateException(msg)

/** Thrown when reconciliation finds the concurrent winner does NOT
  * commute with a blind append (it removed file groups, changed the
  * schema, added CHECK constraints, or altered merge-on-read delete
  * state) — the named-conflict fail-fast Delta calls
  * ConcurrentDeleteReadException / MetadataChangedException etc. */
final class LakeConflictException(msg: String)
  extends IllegalStateException(msg)

/** A minimal versioned table format over parquet — the lakehouse storage
  * semantics the reference rides Delta for (SURVEY §1.1: the reference
  * only ever creates/overwrites and full-scans tables, but the *format
  * capability surface* of a lakehouse includes snapshots, upserts and
  * time travel, so this layer provides them without Delta jars).
  *
  * Layout:
  * {{{
  *   <root>/data/<uuid>/part-*.parquet     immutable data file groups
  *   <root>/_versions/v00000001.json       manifest: list of data dirs
  * }}}
  *
  * Commit protocol: data is written first into a fresh uuid directory
  * (invisible until referenced), then the next manifest version is
  * written via temp-file + atomic rename. Readers resolve the latest
  * manifest (or any historical one — time travel) and read exactly the
  * file groups it lists. Crash between data write and manifest commit
  * leaves only an orphaned uuid dir, never a corrupt table.
  *
  * Multi-writer: the atomic rename is the conflict point — two writers
  * targeting the same version number produce exactly one winner. The
  * APPEND path then reconciles Delta-style ([[commitAppend]]): a loser
  * whose base snapshot the winner only EXTENDED (blind appends commute
  * — disjoint new uuid groups, no dir removed, schema / CHECK / MOR
  * delete state unchanged) rebases onto the winner and retries at the
  * next version; any non-commuting pair (append vs compact, rewrite vs
  * rewrite, append vs purge…) fails fast with a named
  * [[LakeConflictException]]. Non-append writers never auto-retry.
  *
  * Scale notes: MERGE is copy-on-write over the logical table — at
  * 100 TB you'd partition data dirs by a key range so a merge rewrites
  * only affected partitions; the manifest-swap commit works unchanged.
  */
object LakeTable {

  /** Per-table-root hard-link capability memory for the commit rename
    * ([[commitVersion]]): TRUE after the first successful link, FALSE
    * after a proven capability failure (UnsupportedOperation /
    * FileSystemException), absent = not probed yet. */
  private val linkCapable =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The `java.nio` path of `p` when it lives on the local filesystem,
    * else None. Manifest-sized metadata I/O through Hadoop's
    * ChecksumFileSystem costs ~5-10 ms per create/list (checksum
    * sidecar + path resolution); direct NIO is ~0.1 ms. Commit-heavy
    * lifecycles pay this per commit, so local mounts take the NIO path
    * (object stores keep the Hadoop client — this is a dispatch, not a
    * semantic change; measured in OPTIMIZATION_r16.md §commit-tail). */
  private[sources] def localNio(f: FileSystem,
                                p: Path): Option[java.nio.file.Path] =
    if ("file".equalsIgnoreCase(Option(p.toUri.getScheme)
        .getOrElse(f.getUri.getScheme)))
      Some(java.nio.file.Paths.get(p.toUri.getPath))
    else None

  private[sources] def fileSystem(spark: SparkSession,
                                  root: String): FileSystem = fs(spark, root)

  /** On-disk bytes of committed dv sidecars, by (root, rel). Sidecars
    * are write-once like group dirs ([[GraftDvBatchScan.listGroup]]), so
    * a count never goes stale; a sidecar deleted since (vacuum) fails
    * the read when its masks load. Bounded like the group listings. */
  private val sidecarBytes =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()

  /** Total on-disk bytes of the committed dv sidecars `rels`, each rel
    * listed once per JVM ([[sidecarBytes]]); a missing sidecar fails
    * with [[sidecarMissing]]. */
  private[sources] def dvSidecarBytesForRels(spark: SparkSession,
      root: String, rels: Seq[String]): Long = {
    lazy val f = fs(spark, root)
    rels.map { r =>
      Option(sidecarBytes.get((root, r))).map(_.longValue).getOrElse {
        val n = try f.listStatus(new Path(root, r)).filter(_.isFile)
            .map(_.getLen).sum
          catch { case e: java.io.FileNotFoundException =>
            throw sidecarMissing(root, r, e)
          }
        if (sidecarBytes.size > 100000) sidecarBytes.clear()
        sidecarBytes.put((root, r), n)
        n
      }
    }.sum
  }

  /** The error for a dv sidecar (`rel` under `root`, or one file of
    * it) that a snapshot names but the filesystem no longer holds:
    * deleted by hand, or vacuumed under a version still read. */
  private[sources] def sidecarMissing(root: String, rel: String,
      cause: Throwable): java.io.FileNotFoundException = {
    val e = new java.io.FileNotFoundException(
      s"graft-lake: deletion-vector sidecar $rel of $root is missing")
    e.initCause(cause)
    e
  }

  private def versionsDir(root: String) = new Path(root, "_versions")

  private def manifestPath(root: String, v: Int) =
    new Path(versionsDir(root), f"v$v%08d.json")

  /** All committed versions, ascending. */
  def versions(spark: SparkSession, root: String): Seq[Int] = {
    val f = fs(spark, root)
    val dir = versionsDir(root)
    def parse(names: Iterator[String]): Seq[Int] = names
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.substring(1, n.length - 5).toInt)
      .toSeq.sorted
    localNio(f, dir) match {
      case Some(d) =>
        if (!java.nio.file.Files.isDirectory(d)) Seq.empty
        else {
          import scala.jdk.CollectionConverters._
          val s = java.nio.file.Files.list(d)
          try parse(s.iterator().asScala.map(_.getFileName.toString))
          finally s.close()
        }
      case None =>
        if (!f.exists(dir)) Seq.empty
        else parse(f.listStatus(dir).iterator.map(_.getPath.getName))
    }
  }

  def latestVersion(spark: SparkSession, root: String): Option[Int] =
    versions(spark, root).lastOption

  /** The newest version committed at or before `tsMicros` (commit time
    * = the manifest file's modification time — set by the atomic
    * rename, monotone under the single-writer protocol). Fails fast
    * with the available range when the timestamp predates the table. */
  def versionAtTimestamp(spark: SparkSession, root: String,
                         tsMicros: Long): Int = {
    val f = fs(spark, root)
    val committed = versions(spark, root).map { v =>
      (v, f.getFileStatus(manifestPath(root, v)).getModificationTime)
    }
    if (committed.isEmpty)
      throw new IllegalStateException(s"no table at $root")
    val tsMillis = tsMicros / 1000L
    committed.filter(_._2 <= tsMillis).map(_._1).lastOption.getOrElse {
      throw new IllegalArgumentException(
        s"timestamp ${java.time.Instant.ofEpochMilli(tsMillis)} predates " +
        s"the table at $root (first commit at ${java.time.Instant
          .ofEpochMilli(committed.head._2)})")
    }
  }

  /** The first version committed AT OR AFTER `tsMicros` — the
    * streaming `startingTimestamp` resolution (Delta: "changes
    * committed at or after"). Refuses when the timestamp is past the
    * newest commit: a silent empty stream would read as "no changes"
    * when the truth is "you asked for the future". */
  def firstVersionAtOrAfter(spark: SparkSession, root: String,
                            tsMicros: Long): Int = {
    val f = fs(spark, root)
    val committed = versions(spark, root).map { v =>
      (v, f.getFileStatus(manifestPath(root, v)).getModificationTime)
    }
    if (committed.isEmpty)
      throw new IllegalStateException(s"no table at $root")
    val tsMillis = tsMicros / 1000L
    committed.find(_._2 >= tsMillis).map(_._1).getOrElse {
      throw new IllegalArgumentException(
        s"startingTimestamp ${java.time.Instant.ofEpochMilli(tsMillis)} " +
        s"is after the newest commit of $root (at ${java.time.Instant
          .ofEpochMilli(committed.last._2)})")
    }
  }

  /** Parse a SQL-ish timestamp literal (`yyyy-MM-dd[ HH:mm:ss[.fff]]`,
    * JVM-local zone — the `java.sql.Timestamp.toString` round trip) to
    * epoch millis. Shared by RESTORE TIMESTAMP AS OF and the streaming
    * `startingTimestamp` option. */
  private[graft] def parseTsLiteralMillis(ts: String): Long =
    try java.sql.Timestamp.valueOf(ts).getTime
    catch {
      case _: IllegalArgumentException =>
        try java.sql.Timestamp.valueOf(
          java.time.LocalDate.parse(ts).atStartOfDay()).getTime
        catch { case _: java.time.format.DateTimeParseException =>
          throw new IllegalArgumentException(
            s"cannot parse timestamp '$ts' — use yyyy-MM-dd or " +
              "yyyy-MM-dd HH:mm:ss[.fff]")
        }
    }

  private def readLinesAt(f: FileSystem, p: Path): Seq[String] = {
    val in = f.open(p)
    try {
      val txt = new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      txt.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    } finally in.close()
  }

  // ——— manifest resolution: delta commits + checkpoints ——————————————
  //
  // A manifest version file is either FULL format (one data-dir name
  // per line; '#key=value' metadata lines) or DELTA format (first line
  // '#~delta=<base>', then '#+k=v' meta set / '#-k' meta remove /
  // '+dir' add / '-dir' remove against the resolved state of <base>,
  // always the previous version). Deltas make each commit O(change)
  // bytes instead of O(groups); every CheckpointInterval-th commit
  // additionally lands its FULL state as `v<N>.checkpoint`, so a cold
  // read resolves from checkpoint + delta tail — never the whole
  // history. There is no _last_checkpoint pointer file: resolution
  // walks the (≤ interval-long) delta chain and probes each rung's own
  // checkpoint, which is the same discovery with one fewer write to
  // keep consistent. Vacuum materializes a checkpoint for the oldest
  // RETAINED version before dropping its base, so chains never break.

  /** Every N-th commit lands a full-state checkpoint. */
  private[sources] val CheckpointInterval = 10

  private[sources] def checkpointPath(root: String, v: Int) =
    new Path(versionsDir(root), f"v$v%08d.checkpoint")

  private val DeltaHeader = "#~delta="

  /** Resolved (dataDirs, meta) keyed by manifest FILE identity —
    * (path, mtime, length). Manifests are immutable once committed,
    * and keying on the FileStatus means a deleted-and-recreated table
    * at the same root can never serve a stale state. Bounded: cleared
    * wholesale past 1024 entries (the working set is the latest few
    * versions of the live tables). */
  private val resolveCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), (Seq[String], Map[String, String])]()

  /** Last resolution's (version, delta-chain length walked, checkpoint
    * version used or -1) — the oracle/test observable that reads
    * resolve from checkpoint + tail, never the whole history. */
  @volatile private[graft] var lastResolve: Option[(Int, Int, Int)] = None

  /** Drop every cached resolution (test/oracle hook: force the next
    * read to walk the physical checkpoint + tail). */
  private[graft] def clearResolveCache(): Unit = resolveCache.clear()

  private def parseFull(lines: Seq[String])
      : (Seq[String], Map[String, String]) = {
    val dirs = lines.filterNot(_.startsWith("#"))
    val meta = lines.filter(_.startsWith("#")).flatMap { l =>
      l.drop(1).split("=", 2) match {
        case Array(k, v2) => Some(k -> v2)
        case _ => None
      }
    }.toMap
    (dirs, meta)
  }

  private def applyDelta(base: (Seq[String], Map[String, String]),
                         lines: Seq[String])
      : (Seq[String], Map[String, String]) = {
    val rmDirs = lines.iterator
      .filter(l => l.startsWith("-")).map(_.drop(1)).toSet
    val addDirs = lines.filter(l => l.startsWith("+"))
      .map(_.drop(1))
    var meta = base._2
    lines.foreach { l =>
      if (l.startsWith("#+")) l.drop(2).split("=", 2) match {
        case Array(k, v2) => meta += (k -> v2)
        case _ =>
      }
      else if (l.startsWith("#-")) meta -= l.drop(2)
    }
    (base._1.filterNot(rmDirs) ++ addDirs, meta)
  }

  /** Delta-encode a commit against the previous resolved state — None
    * when the new dir sequence is not expressible as survivors (in
    * carried order) plus an appended tail (a reorder: full format
    * then), which keeps resolution order-exact for every commit. */
  private def encodeDelta(prev: (Seq[String], Map[String, String]),
                          dirs: Seq[String], meta: Map[String, String])
      : Option[Seq[String]] = {
    val (pDirs, pMeta) = prev
    val dSet = dirs.toSet
    val pSet = pDirs.toSet
    val removed = pDirs.filterNot(dSet)
    val added = dirs.filterNot(pSet)
    if ((pDirs.filter(dSet) ++ added) != dirs) return None
    val metaSets = meta.toSeq
      .filter { case (k, v2) => !pMeta.get(k).contains(v2) }.sorted
    val metaRms = (pMeta.keySet -- meta.keySet).toSeq.sorted
    Some(metaSets.map { case (k, v2) => s"#+$k=$v2" } ++
      metaRms.map(k => s"#-$k") ++
      removed.map("-" + _) ++ added.map("+" + _))
  }

  /** Resolve a version's full (dataDirs, meta) state: walk the delta
    * chain back until a cached rung, a full-format manifest, or a
    * checkpoint, then fold the collected deltas forward (caching each
    * rung so the next read is O(1)). Missing version ⇒ the same
    * FileNotFoundException the flat read threw. */
  private def resolveState(spark: SparkSession, root: String,
                           v: Int): (Seq[String], Map[String, String]) = {
    val f = fs(spark, root)
    def keyOf(p: Path) = {
      val st = f.getFileStatus(p)
      (p.toString, st.getModificationTime, st.getLen)
    }
    var pending = List.empty[((String, Long, Long), Seq[String])]
    var state: (Seq[String], Map[String, String]) = null
    var fromCp = -1
    var cur = v
    while (state == null) {
      val p = manifestPath(root, cur)
      val key =
        try keyOf(p)
        catch {
          case e: java.io.FileNotFoundException if cur != v =>
            throw new IllegalStateException(
              s"manifest delta chain broken at $root: resolving version " +
                s"$v needs version $cur, but neither its manifest nor a " +
                "checkpoint exists", e)
        }
      val hit = resolveCache.get(key)
      if (hit != null) state = hit
      else {
        val lines = readLinesAt(f, p)
        lines.headOption match {
          case Some(h) if h.startsWith(DeltaHeader) =>
            // prefer THIS rung's checkpoint (vacuum materializes one
            // for the oldest retained version; every interval-th
            // commit lands one) — else walk to the delta's base
            val cpState = readCheckpointState(spark, f, root, cur)
            cpState match {
              case Some(s0) =>
                state = s0; fromCp = cur
                resolveCache.put(key, s0)
              case None =>
                pending = (key -> lines.tail) :: pending
                cur = h.drop(DeltaHeader.length).trim.toInt
            }
          case _ =>
            state = parseFull(lines)
            resolveCache.put(key, state)
        }
      }
    }
    if (resolveCache.size > 1024) resolveCache.clear()
    val chainLen = pending.size
    pending.foreach { case (k, delta) =>
      state = applyDelta(state, delta)
      resolveCache.put(k, state)
    }
    lastResolve = Some((v, chainLen, fromCp))
    state
  }

  /** Land `v`'s full state as its checkpoint (atomic tmp + rename;
    * content is deterministic, so a racing duplicate is harmless and
    * an existing file short-circuits). */
  private[sources] def checkpointParquetPath(root: String, v: Int) =
    new Path(versionsDir(root), f"v$v%08d.checkpoint.pq")

  /** Past this many state entries (dir lines + meta keys) a checkpoint
    * lands as PARQUET (kind, k, v, idx rows) instead of one driver
    * text file — the Delta-checkpoint-parquet / Iceberg-manifest-tree
    * move: columnar-compressed, written in parallel, and readable
    * through Spark so a 10⁶-group table's cold resolution is a scan,
    * not a driver line parse. Conf-able for tests. */
  private[sources] def checkpointParquetMinEntries(
      spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.checkpoint.parquetMinEntries")
      .map(_.toInt).getOrElse(100000)

  private def writeCheckpoint(spark: SparkSession, root: String, v: Int,
                              dirs: Seq[String],
                              meta: Map[String, String]): Unit = {
    val f = fs(spark, root)
    val dest = checkpointPath(root, v)
    if (f.exists(dest) || f.exists(checkpointParquetPath(root, v))) return
    if (dirs.size + meta.size > checkpointParquetMinEntries(spark)) {
      // parquet checkpoint: idx preserves dir order (manifest order is
      // observable through dataDirPaths), meta rows carry idx -1
      import org.apache.spark.sql.types.{IntegerType, StringType,
        StructField, StructType}
      val schema = StructType(Seq(
        StructField("kind", StringType, nullable = false),
        StructField("k", StringType, nullable = false),
        StructField("v", StringType, nullable = true),
        StructField("idx", IntegerType, nullable = false)))
      val rows = meta.toSeq.sorted.map { case (k, v2) =>
        Row("meta", k, v2, -1) } ++
        dirs.zipWithIndex.map { case (d, i) => Row("dir", d, null, i) }
      val tmp = new Path(versionsDir(root),
        s".cptmp-$v-${System.nanoTime()}.pq")
      if (rows.size <= LocalWriteMaxRows) {
        // bounded state → driver-side parquet (same bytes, no job);
        // the >LocalWriteMaxRows case is exactly what the parquet
        // form exists for and stays a distributed write
        val u = org.apache.spark.unsafe.types.UTF8String.fromString _
        org.apache.spark.sql.execution.datasources.parquet
          .GraftLocalParquetWrite.writeFile(spark, tmp.toString, schema,
            rows.iterator.map { r =>
              org.apache.spark.sql.catalyst.InternalRow(
                u(r.getString(0)), u(r.getString(1)),
                Option(r.getString(2)).map(u).orNull,
                r.getInt(3))
            })
      } else spark.createDataFrame(
        spark.sparkContext.parallelize(rows,
          math.max(1, rows.size / 500000 + 1)), schema)
        .write.parquet(tmp.toString)
      if (!f.rename(tmp, checkpointParquetPath(root, v)))
        f.delete(tmp, true)
      return
    }
    val tmp = new Path(versionsDir(root), s".cptmp-$v-${System.nanoTime()}")
    val body = (meta.toSeq.sorted.map { case (k, v2) => s"#$k=$v2" } ++
      dirs).mkString("\n")
    localNio(f, tmp) match {
      case Some(tp) =>
        java.nio.file.Files.write(tp,
          body.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.TRUNCATE_EXISTING,
          java.nio.file.StandardOpenOption.WRITE)
      case None =>
        val out = f.create(tmp, true)
        try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
    }
    if (!f.rename(tmp, dest)) f.delete(tmp, false)
  }

  /** Resolve a version's checkpoint state, text or parquet form,
    * through [[resolveCache]]. */
  private def readCheckpointState(spark: SparkSession, f: FileSystem,
      root: String, cur: Int): Option[(Seq[String], Map[String, String])] = {
    def keyed(p: Path): Option[(Seq[String], Map[String, String])] = {
      val st =
        try f.getFileStatus(p)
        catch { case _: java.io.IOException => return None }
      val key = (p.toString, st.getModificationTime, st.getLen)
      val hit = resolveCache.get(key)
      if (hit != null) return Some(hit)
      val s0 =
        if (st.isDirectory) {
          val df = spark.read.parquet(p.toString).collect()
          val metaM = df.filter(_.getString(0) == "meta")
            .map(r => r.getString(1) -> r.getString(2)).toMap
          val dirsS = df.filter(_.getString(0) == "dir")
            .sortBy(_.getInt(3)).map(_.getString(1)).toSeq
          (dirsS, metaM)
        } else parseFull(readLinesAt(f, p))
      resolveCache.put(key, s0)
      Some(s0)
    }
    keyed(checkpointPath(root, cur))
      .orElse(keyed(checkpointParquetPath(root, cur)))
  }

  /** Data-dir entries of a manifest. Full format: one data-dir name per
    * line; lines starting with '#' are key=value metadata (kept
    * trivially parseable without a JSON lib on the read path). Delta
    * manifests resolve through [[resolveState]]. Package-visible: the
    * streaming source diffs consecutive manifests for its batches
    * ([[GraftLakeMicroBatchStream]]). */
  private[sources] def dataDirsAt(spark: SparkSession, root: String,
                                  v: Int): Seq[String] =
    resolveState(spark, root, v)._1

  private def readManifest(spark: SparkSession, root: String,
                           v: Int): Seq[String] = dataDirsAt(spark, root, v)

  private[graft] def manifestMetaAt(spark: SparkSession, root: String,
                                      v: Int): Map[String, String] =
    manifestMeta(spark, root, v)

  private def manifestMeta(spark: SparkSession, root: String,
                           v: Int): Map[String, String] =
    resolveState(spark, root, v)._2

  // ——— driver-side fast path for tiny local batches ————————————————
  //
  // A Spark write JOB costs ~100-250 ms of fixed overhead (scheduler
  // round, task launch, commit protocol, _SUCCESS) regardless of data
  // size — at one commit per micro-batch that overhead IS the commit
  // latency (optimization guide §1.2: fix the per-task work only after
  // the job shape; here the fix is that a driver-resident batch needs
  // no job at all). When the batch's optimized plan is already a
  // LocalRelation (a Seq(...).toDF() lifecycle append, a projected
  // small upsert), its rows are on the driver BY CONSTRUCTION — the
  // same parquet bytes are written directly via Spark's own
  // ParquetOutputWriter machinery ([[GraftLocalParquetWrite]]), no job.
  // Anything larger or lineage-backed takes the classic job path.

  private val LocalWriteMaxRows = 20000

  /** The batch's rows + schema when its optimized plan is a driver-
    * resident LocalRelation of at most [[LocalWriteMaxRows]] rows.
    * Deterministic projections over local data are folded INTO the
    * LocalRelation by Catalyst (ConvertToLocalRelation), so defaults /
    * generated columns / physical renames keep the fast path. */
  private def localBatch(df: DataFrame)
      : Option[(Seq[org.apache.spark.sql.catalyst.InternalRow],
                org.apache.spark.sql.types.StructType)] =
    df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if l.data.lengthCompare(LocalWriteMaxRows) <= 0 =>
        Some((l.data, l.schema))
      case _ => None
    }

  /** Schema of the single parquet file group at `absDir`, by file
    * identity — written once, immutable thereafter. Populated at write
    * time by the driver-side fast path; back-filled from the footer's
    * serialized Spark schema otherwise ([[dirSchema]]). */
  private val dirSchemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  private[sources] def cacheDirSchema(absDir: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    if (dirSchemaCache.size > 100000) dirSchemaCache.clear()
    dirSchemaCache.put(absDir, schema)
  }

  /** Schema of the immutable file group at `absDir`: from the cache
    * (populated at write time), else ONE driver-side footer read of the
    * group's first data file — every file of a group comes from a
    * single write, so one footer speaks for the group — parsing the
    * exact serialized Spark schema the writer recorded
    * (`org.apache.spark.sql.parquet.row.metadata`). None when the
    * footer lacks it (foreign parquet, e.g. CONVERT-ed dirs): callers
    * must then fall back to Spark's own mergeSchema inference. */
  private def dirSchema(spark: SparkSession, absDir: String)
      : Option[org.apache.spark.sql.types.StructType] =
    Option(dirSchemaCache.get(absDir)).orElse {
      scala.util.Try {
        val p = new Path(absDir)
        val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        f.listStatus(p).find { st =>
          val n = st.getPath.getName
          st.isFile && !n.startsWith("_") && !n.startsWith(".")
        }.flatMap { st =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromStatus(st, f.getConf)
          // footer metadata only — SKIP_ROW_GROUPS spares the block
          // deserialization, which dominates open() on wide files
          val opts = org.apache.parquet.HadoopReadOptions
            .builder(f.getConf)
            .withMetadataFilter(org.apache.parquet.format.converter
              .ParquetMetadataConverter.SKIP_ROW_GROUPS)
            .build()
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in, opts)
          try Option(r.getFooter.getFileMetaData.getKeyValueMetaData
              .get("org.apache.spark.sql.parquet.row.metadata"))
            .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
              .asInstanceOf[org.apache.spark.sql.types.StructType])
          finally r.close()
        }
      }.toOption.flatten.map { s => cacheDirSchema(absDir, s); s }
    }

  /** The merged scan schema for a set of group dirs when every group
    * reports the SAME footer schema up to nullability (the
    * overwhelmingly common case — no schema evolution in the snapshot):
    * merging such schemas is the identity on the all-nullable form,
    * which is the form Spark's file sources read any schema as, so
    * handing Spark this schema skips the mergeSchema footer JOB at
    * every read while producing the bit-identical frame. Nullability
    * alone differs between groups whenever a writer's plan knew a
    * column non-null (a MOR update's `lit` SET value). Mixed-schema
    * snapshots return None and take Spark's own mergeSchema path.
    * Cache misses back-fill in parallel without a Spark job — footer
    * reads are independent ~ms I/O. */
  private[sources] def uniformSchemaOf(spark: SparkSession, absDirs: Seq[String])
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.asNullable
    onDriver(absDirs.filterNot(dirSchemaCache.containsKey))(dirSchema(spark, _))
    absDirs.headOption.flatMap { h =>
      dirSchema(spark, h).map(asNullable).filter(s =>
        absDirs.drop(1).forall(d => dirSchema(spark, d).map(asNullable).contains(s)))
    }
  }

  /** `f` over `xs` on the driver, results in order: one by one for up
    * to 8 items, else on a pool of up to 16 threads — for independent
    * ~ms footer reads, which need no Spark job. */
  private[sources] def onDriver[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.size <= 8) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, xs.size))
      try xs.map(x => pool.submit(new java.util.concurrent.Callable[B] {
        def call(): B = f(x)
      })).map(_.get())
      finally pool.shutdown()
    }

  /** Threshold above which Spark launches a listing JOB for multi-path
    * scans. Driver-side listing of ≤10⁴ local-FS group dirs is faster
    * than a job round; past that many dirs (and on object stores,
    * where each LIST is a round trip) Spark's parallel listing job
    * takes over. */
  private val ListingJobThreshold = 10000

  /** Run `body` (an eager multi-dir scan construction) with the
    * parallel-listing threshold raised to [[ListingJobThreshold]] so
    * group-dir listing happens on the driver instead of as a Spark job.
    * Restores the session value afterwards. */
  private def withDriverListing[A](spark: SparkSession)(body: => A): A = {
    val k = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val old = spark.conf.get(k)
    if (old.toInt >= ListingJobThreshold) body
    else {
      spark.conf.set(k, ListingJobThreshold.toString)
      try body finally spark.conf.set(k, old)
    }
  }

  /** One parquet scan frame over a snapshot's group dirs: uniform
    * footer schema → explicit schema (no footer job) + driver-side
    * listing; otherwise Spark's mergeSchema inference (additive
    * evolution). The physical rewrites (compaction, z-order, index
    * builds, UNIQUE re-checks) read raw groups here; snapshot reads go
    * through the lake scan ([[read]]). */
  private[sources] def scanDirs(spark: SparkSession,
      absDirs: Seq[String]): DataFrame =
    uniformSchemaOf(spark, absDirs) match {
      case Some(s) => withDriverListing(spark) {
        spark.read.schema(s).parquet(absDirs: _*) }
      case None => withDriverListing(spark) {
        spark.read.option("mergeSchema", "true").parquet(absDirs: _*) }
    }

  private def writeDataFiles(spark: SparkSession, root: String,
                             df: DataFrame): String = {
    val uuid = java.util.UUID.randomUUID().toString
    val dir = s"data/$uuid"
    val abs = new Path(root, dir).toString
    localBatch(df) match {
      case Some((rows, schema)) =>
        org.apache.spark.sql.execution.datasources.parquet
          .GraftLocalParquetWrite.writeFile(spark, abs, schema, rows.iterator)
        cacheDirSchema(abs, schema)
      case None =>
        // no schema-cache entry here: the group's footer is the ground
        // truth and [[dirSchema]] back-fills from it in ~1 ms once
        df.write.mode(SaveMode.ErrorIfExists).parquet(abs)
    }
    dir
  }

  private def commit(spark: SparkSession, root: String,
                     dataDirs: Seq[String],
                     meta: Map[String, String] = Map.empty): Int =
    commitVersion(spark, root,
      latestVersion(spark, root).getOrElse(0) + 1, dataDirs, meta)

  /** Key prefixes whose manifest entries are PER-DIR sidecar state
    * (`<prefix>:<dir>:<suffix>`); the dir is always the second
    * ':'-segment — group dir names are `data/<uuid or hex>` and never
    * contain a ':'. */
  private val PerDirKeyPrefixes =
    Set("stat", "bloom", "anncodes", "hllsk", "kllsk")

  /** Whether per-dir sidecar key `k` names a dir in `live`:
    * Some(verdict) for per-dir keys ([[PerDirKeyPrefixes]]-prefixed
    * plus exact `part:<dir>`), None for table-level keys (caller
    * decides those). O(1) per key — the dir is parsed out of the key
    * and tested against a Set, never `dirs.exists(startsWith)`, which
    * made meta carry O(keys × dirs) ≈ O(groups² · cols) of driver
    * string scans per commit on a many-group table. */
  private def perDirKeyLives(k: String,
                             live: Set[String]): Option[Boolean] = {
    val c1 = k.indexOf(':')
    if (c1 < 0) None
    else {
      val pfx = k.substring(0, c1)
      if (pfx == "part" || pfx == "zc")
        Some(live.contains(k.substring(c1 + 1)))
      else if (PerDirKeyPrefixes(pfx)) {
        val c2 = k.indexOf(':', c1 + 1)
        Some(c2 > 0 && live.contains(k.substring(c1 + 1, c2)))
      } else None
    }
  }

  /** The carryable portion of a version's meta: everything except the
    * PER-VERSION keys — `op` (each commit names its own), `cdc` (names
    * THIS version's change sidecar; a carried copy would re-serve the
    * previous version's change rows at a version that changed no rows)
    * and `batchId` (names the streaming batch that produced THIS
    * version; the idempotency ledger scans history newest-back and
    * never needs a carried copy). */
  private[sources] def carryMeta(m: Map[String, String]): Map[String, String] =
    m - "op" - "cdc" - "batchId" - "mergekey"

  /** Publish a group-replace result as the next version: the kept
    * (pruned) dirs plus the freshly written group — the commit half of
    * the DSv2 row-level write ([[GraftReplaceBatchWrite]]); same shape
    * as deleteWhere's rewrite commit. */
  private[sources] def commitReplacing(spark: SparkSession, root: String,
                                       dataDirs: Seq[String],
                                       op: String): Int = {
    // stats/bloom/ANN codes of surviving dirs stay valid — carry them
    // like append does (MOR delete state can't appear here: the DSv2
    // scan feeding row-level ops fails fast on MOR tables). The ANN
    // model survives as long as any codes do; replaced dirs drop their
    // codes with the dirs (the rewritten rows re-index on the next run).
    val live = dataDirs.toSet
    val carried = latestVersion(spark, root)
      .map(v => manifestMetaAt(spark, root, v)).getOrElse(Map.empty)
      .filter { case (k, _) =>
        perDirKeyLives(k, live).getOrElse(k.startsWith("annmodel:")) }
    commit(spark, root, dataDirs, Map("op" -> op) ++ carried)
  }

  /** Commit a specific version number — the atomic-rename conflict point
    * (package-visible so the losing-writer path is testable). A schema
    * override declared by ALTER TABLE ([[evolveSchema]]) carries forward
    * into every later commit automatically — evolution survives
    * appends/merges/deletes without each path knowing about it. */
  private[graft] def commitVersion(spark: SparkSession, root: String, v: Int,
                                   dataDirs: Seq[String],
                                   meta0: Map[String, String]): Int = {
    // auto-carried meta: the ALTER-declared schema and CHECK constraints
    // survive every later commit without each write path knowing (a
    // committed constraint binds appends, merges, and compactions alike).
    // The ONE exception is a table REPLACE ([[replaceTable]]): a replace
    // is a new table contract, so nothing auto-carries — an old CHECK
    // binding to a same-named column of the new schema would be a
    // silent lie, not continuity.
    val meta =
      if (v <= 1 || meta0.get("op").contains("replace-table")) meta0
      else scala.util.Try(manifestMetaAt(spark, root, v - 1)).toOption
        .fold(meta0) { prev =>
          val schema =
            if (meta0.contains("schema")) Map.empty[String, String]
            else prev.get("schema").map("schema" -> _).toMap
          val checks = prev.filter { case (k, _) =>
            (k.startsWith("check:") || k.startsWith("unique:") ||
              k.startsWith("default:") || k.startsWith("identity:") ||
              k.startsWith("gencol:") || k == "partcol" ||
              k == "parttrans" ||
              k == "bucketcol" || k == "bucketn" ||
              // the COPY INTO ledger is table-level ingest state, not
              // file-group state — it survives every commit type so a
              // compaction or overwrite can never silently re-open the
              // door to double-loading (Delta parity: FORCE is the
              // only way back in)
              k.startsWith("copied:") ||
              // user table properties are table-level contract
              // metadata — they survive every commit type EXCEPT the
              // one that removes them (unsetProperties lists the
              // survivors explicitly; carrying here would resurrect
              // the removed key)
              (k.startsWith("prop:") &&
                !meta0.get("op").contains("unset-tblproperties")) ||
              k == "cdf") &&
              !meta0.contains(k) }
          meta0 ++ schema ++ checks
        }
    val f = fs(spark, root)
    val tmp = new Path(versionsDir(root), s".tmp-$v-${System.nanoTime()}")
    // delta-encode against the previous resolved state when possible —
    // the manifest write (and its read) is then O(change), not
    // O(groups); reorders and shrink-below-full cases keep full format
    val prevState =
      if (v <= 1) None
      else scala.util.Try(resolveState(spark, root, v - 1)).toOption
    val fullLines = meta.toSeq.sorted.map { case (k, v2) => s"#$k=$v2" } ++
      dataDirs
    val bodyLines = prevState.flatMap(encodeDelta(_, dataDirs, meta)) match {
      case Some(delta) if delta.size + 1 < fullLines.size =>
        s"$DeltaHeader${v - 1}" +: delta
      case _ => fullLines
    }
    val body = bodyLines.mkString("\n")
    localNio(f, tmp) match {
      case Some(tp) =>
        java.nio.file.Files.createDirectories(tp.getParent)
        java.nio.file.Files.write(tp,
          body.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
      case None =>
        f.mkdirs(versionsDir(root))
        val out = f.create(tmp, false)
        try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
    }
    val dest = manifestPath(root, v)
    // THE conflict point. On the local filesystem Hadoop's rename is
    // POSIX rename(2), which silently REPLACES an existing destination
    // — an exists()-then-rename pair is a TOCTOU race where two
    // writers can both "win" and one commit vanishes (observed once
    // under heavy thread contention: 4 racing appends, 3 surviving,
    // zero errors). link(2) IS atomic create-exclusive, so the local
    // path commits via hard link: exactly one writer creates dest,
    // every other gets EEXIST. Non-local filesystems (HDFS class)
    // keep rename, which for them fails on an existing destination.
    val won =
      if ("file".equalsIgnoreCase(Option(dest.toUri.getScheme)
          .getOrElse(f.getUri.getScheme))) {
        val tp = java.nio.file.Paths.get(tmp.toUri.getPath)
        val dp = java.nio.file.Paths.get(dest.toUri.getPath)
        // capability memory: once a mount proves link-incapable, every
        // later commit under this root takes the rename path directly
        // (and the downgrade is logged ONCE, not re-probed per commit)
        val storeKey = root
        val ok =
          if (java.lang.Boolean.FALSE.equals(linkCapable.get(storeKey)))
            !f.exists(dest) && f.rename(tmp, dest)
          else
            try {
              java.nio.file.Files.createLink(dp, tp)
              linkCapable.put(storeKey, java.lang.Boolean.TRUE)
              true
            } catch {
              case _: java.nio.file.FileAlreadyExistsException => false
              // file:// mounts without hard-link support (FUSE, SMB/NFS
              // variants, container overlays) throw
              // UnsupportedOperationException or a FileSystemException
              // ("operation not supported") — remember the incapacity
              // and fall back to exists()+rename (accepting the
              // narrower race ONLY where links are unavailable). Other
              // IOExceptions are TRANSIENT errors on a link-capable
              // mount: rethrow — silently downgrading exactly-once on
              // a flaky filesystem is the one thing this path must
              // never do.
              case e @ (_: UnsupportedOperationException |
                        _: java.nio.file.FileSystemException)
                  if !e.isInstanceOf[
                    java.nio.file.FileAlreadyExistsException] =>
                if (linkCapable.putIfAbsent(storeKey,
                    java.lang.Boolean.FALSE) == null)
                  System.err.println(
                    s"[graft-lake] hard links unavailable at $root " +
                      s"(${e.getClass.getSimpleName}); commits downgrade " +
                      "to exists()+rename on this mount")
                !f.exists(dest) && f.rename(tmp, dest)
            }
        f.delete(tmp, false)
        ok
      } else !f.exists(dest) && f.rename(tmp, dest)
    if (!won) {
      f.delete(tmp, false)
      throw new ConcurrentCommitException(
        s"concurrent commit detected for version $v at $root")
    }
    // mirror the committed version into the Delta-protocol-shaped
    // _delta_log (after the rename — the log never references an
    // uncommitted version; see DeltaLog for the documented scope)
    val prevDirs = if (v > 1) readManifest(spark, root, v - 1) else Seq.empty
    DeltaLog.mirrorCommit(spark, root, v, prevDirs, dataDirs,
      meta.get("schema"))
    // land the periodic full-state checkpoint (only the WINNING writer
    // reaches here; content is deterministic, failure is harmless —
    // resolution just walks a longer tail until the next one)
    if (v % CheckpointInterval == 0)
      scala.util.Try(writeCheckpoint(spark, root, v, dataDirs, meta))
    v
  }

  /** Per-group min/max stats for the named numeric/timestamp columns,
    * recorded in the manifest as `#stat:<dir>:<col>=<min>,<max>` — the
    * data-skipping index: one extra aggregation job per commit buys
    * file-group pruning on every subsequent filtered read. */
  /** Stats are computed by re-reading the files just written — NOT by
    * re-running the input DataFrame's lineage, which for nondeterministic
    * inputs (sample(), rand()-derived columns) could disagree with the
    * persisted rows and produce pruning stats that drop real matches. */
  private def statsMeta(spark: SparkSession, root: String, dataDir: String,
                        statsCols: Seq[String]): Map[String, String] =
    if (statsCols.isEmpty) Map.empty
    else {
      val written = spark.read.parquet(new Path(root, dataDir).toString)
      // STRING columns keep verbatim min/max (base64-wrapped so the
      // one-line manifest format stays trivially parseable), recorded
      // as `S:<minB64>,<maxB64>` under the SAME stat: key — every
      // key-lifecycle handler (clone, vacuum, rename, compact carry)
      // works unchanged. Values longer than 64 chars DROP the stat for
      // that group (no truncation guessing): the group admits every
      // probe — over-scan, never a wrong prune. Comparison order is
      // UTF8String's unsigned-byte order on both the write (Spark's
      // min/max over strings) and probe sides, so the bound is exact.
      val isStr = statsCols.filter(c => written.schema.fields
        .find(_.name.equalsIgnoreCase(c))
        .exists(_.dataType == org.apache.spark.sql.types.StringType)).toSet
      val aggs = statsCols.flatMap(c =>
        if (isStr(c)) Seq(min(col(c)).as(s"min_$c"),
          max(col(c)).as(s"max_$c"))
        else Seq(
          min(col(c).cast("double")).as(s"min_$c"),
          max(col(c).cast("double")).as(s"max_$c")))
      val row = written.agg(aggs.head, aggs.tail: _*).head()
      def b64(s: String): String = java.util.Base64.getEncoder
        .encodeToString(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      statsCols.flatMap { c =>
        val lo = row.getAs[Any](s"min_$c")
        val hi = row.getAs[Any](s"max_$c")
        if (lo == null || hi == null) None
        else if (isStr(c)) {
          val (mn, mx) = (lo.toString, hi.toString)
          if (mn.length > 64 || mx.length > 64) None
          else Some(s"stat:$dataDir:$c" -> s"S:${b64(mn)},${b64(mx)}")
        }
        else Some(s"stat:$dataDir:$c" -> s"$lo,$hi")
      }.toMap
    }

  /** Create version 1 from a DataFrame. `statsCols` opts into per-group
    * min/max tracking for data skipping (see [[readWhere]]). */
  def create(spark: SparkSession, root: String, df: DataFrame,
             statsCols: Seq[String] = Nil): Int = {
    require(latestVersion(spark, root).isEmpty, s"table exists at $root")
    val dir = writeDataFiles(spark, root, df)
    commit(spark, root, Seq(dir),
      statsMeta(spark, root, dir, statsCols) + ("op" -> "create"))
  }

  /** Split `df` by its partition-column value TUPLE into one immutable
    * file group PER TUPLE (one staged `partitionBy` write — a single
    * shuffled pass, never one job per value), registering each group's
    * joined value for [[partAdmit]] pruning. Values are decoded by
    * RE-READING the landed files (the statsMeta rule — never trust
    * dir-name escaping round-trips). Returns (dir, joinedValue)
    * pairs, components joined by [[PartSep]]. */
  private def writePartitionedDataFiles(
      spark: SparkSession, root: String, partCols: Seq[String],
      df: DataFrame, transforms: Seq[String] = Nil): Seq[(String, String)] = {
    require(partCols.nonEmpty, "writePartitionedDataFiles needs columns")
    require(!df.columns.exists(_.equalsIgnoreCase("__gpart")),
      "batch carries a reserved column name '__gpart'")
    // rows route by the TRANSFORMED key (identity when no transform is
    // declared) — the recorded part: value is the derived one, the raw
    // source column stays in every data file
    val trans =
      if (transforms.isEmpty) partCols.map(_ => "id") else transforms
    require(trans.size == partCols.size,
      s"transform list (${trans.size}) must align with partition " +
        s"columns (${partCols.size})")
    val keyExprs = partCols.zip(trans).map { case (c, t) =>
      val dt = df.schema.fields.find(_.name.equalsIgnoreCase(c))
        .map(_.dataType).getOrElse(
          throw new IllegalArgumentException(s"no column '$c' in batch"))
      transformCol(t, col(c), dt)
    }
    val f = fs(spark, root)
    val uuid = java.util.UUID.randomUUID().toString
    // driver-side fast path: a LocalRelation batch (single-row stream
    // upserts, lifecycle appends) needs neither the validation job nor
    // the repartition+partitionBy write job — the key expressions fold
    // into the LocalRelation (same Catalyst evaluation), the gates run
    // over the folded strings, and each value-tuple's rows land via one
    // direct parquet write. Semantics identical to the staged path:
    // same gate messages, same dir naming/order, same recorded values.
    localBatch(df).foreach { case (rows, schema) =>
      localBatch(df.select(keyExprs.map(_.cast("string")): _*)) match {
        case Some((keyRows, _)) if keyRows.size == rows.size =>
          val comps = keyRows.map(kr =>
            (0 until partCols.size).map(i =>
              if (kr.isNullAt(i)) null else kr.getUTF8String(i).toString))
          if (comps.exists(_.contains(null)))
            throw new IllegalArgumentException(
              s"null value in partition column(s) ${partCols.mkString(",")} " +
                "refused — partition keys must be non-null (no hidden " +
                "default-partition bucket)")
          if (comps.exists(_.exists(_.length > 100)))
            throw new IllegalArgumentException(
              s"partition values in ${partCols.mkString(",")} longer than 100 " +
                "characters are unsupported as manifest-recorded keys")
          comps.flatten.foreach { s =>
            if (s.exists(_ < ' ') || s != s.trim)
              throw new IllegalArgumentException(
                s"partition value '${s.take(40)}' has control characters " +
                  "or leading/trailing whitespace — unsupported as a " +
                  "manifest-recorded partition key")
          }
          val grouped = rows.zip(comps).groupBy(_._2).toSeq
            .sortBy { case (c, _) => c.map(hexStr).mkString("-") }
          return grouped.zipWithIndex.map { case ((c, rs), i) =>
            val dir = s"data/$uuid-p$i"
            val abs = new Path(root, dir).toString
            org.apache.spark.sql.execution.datasources.parquet
              .GraftLocalParquetWrite.writeFile(spark, abs, schema,
                rs.iterator.map(_._1))
            cacheDirSchema(abs, schema)
            dir -> c.mkString(PartSep)
          }
        case _ => () // key exprs did not fold — take the staged path
      }
    }
    val anyNull = keyExprs.map(_.isNull).reduce(_ || _)
    val anyLong = keyExprs.map(e =>
      length(e.cast("string")) > 100).reduce(_ || _)
    // one validation job, not one per gate — at one commit per
    // micro-batch the per-append job count is the latency floor
    val gates = df.agg(
      coalesce(max(when(anyNull, 1).otherwise(0)), lit(0)).as("nulls"),
      coalesce(max(when(anyLong, 1).otherwise(0)), lit(0)).as("long"))
      .head()
    if (gates.getInt(0) > 0)
      throw new IllegalArgumentException(
        s"null value in partition column(s) ${partCols.mkString(",")} " +
          "refused — partition keys must be non-null (no hidden " +
          "default-partition bucket)")
    if (gates.getInt(1) > 0)
      throw new IllegalArgumentException(
        s"partition values in ${partCols.mkString(",")} longer than 100 " +
          "characters are unsupported as manifest-recorded keys")
    val staged = new Path(root, s"data/.pstage-$uuid")
    try {
      // __gpart is a HEX surrogate of the key tuple: one staged dir
      // per tuple like partitionBy wants, but the dir name is always
      // filesystem-safe ASCII (per-column hex joined by '-' — hex is
      // lossless and collision-free, and '-' can't appear inside a hex
      // run, so tuple boundaries can't alias) — the REAL values are
      // decoded by re-reading the landed files below, never from the
      // dir name; the real columns stay in every file because only
      // the surrogate is the partitioning column
      // hash-repartition BY KEY (one file per value dir), but at the
      // CLUSTER's width, not spark.sql.shuffle.partitions — a many-
      // partition write is bounded by per-file parquet writer open/
      // close, so the task count is the parallelism of that
      val width = math.max(spark.sparkContext.defaultParallelism,
        spark.sessionState.conf.numShufflePartitions)
      df.withColumn("__gpart", concat_ws("-",
          keyExprs.map(e => hex(e.cast("string").cast("binary"))): _*))
        .repartition(width, col("__gpart"))
        .write.partitionBy("__gpart").parquet(staged.toString)
      val subs = f.listStatus(staged).map(_.getPath)
        .filter(_.getName.startsWith("__gpart=")).sortBy(_.getName)
      val localRoot =
        if ("file".equalsIgnoreCase(Option(new Path(root).toUri.getScheme)
            .getOrElse(f.getUri.getScheme))) Some(root) else None
      subs.zipWithIndex.map { case (sub, i) =>
        val dir = s"data/$uuid-p$i"
        // local fast path: one nio move per dir — Hadoop's LocalFS
        // rename costs ~10-20 ms of checksum bookkeeping per call,
        // which at many partitions dominates the whole write
        localRoot match {
          case Some(r) =>
            java.nio.file.Files.move(
              java.nio.file.Paths.get(sub.toUri.getPath),
              java.nio.file.Paths.get(new Path(r, dir).toUri.getPath))
          case None =>
            if (!f.rename(sub, new Path(root, dir)))
              throw new IllegalStateException(s"stage rename failed for $dir")
        }
        // decode the value tuple from the SURROGATE dir name — hex is
        // lossless per column and '-' can never appear inside a hex
        // run, so this is exactly the tuple the landed rows carry. The
        // old per-dir read-back was O(dirs) driver-side Spark jobs per
        // partitioned write — the dominant cost at many partitions.
        val comps = sub.getName.drop("__gpart=".length).split("-", -1)
          .toIndexedSeq.map(h => new String(
            h.grouped(2).map(b => Integer.parseInt(b, 16).toByte).toArray,
            java.nio.charset.StandardCharsets.UTF_8))
        // the manifest reader trims lines, so a value with control
        // chars or edge whitespace would round-trip DIFFERENT and make
        // partAdmit silently prune its own group — refuse loudly
        // (this refusal is also what makes PartSep unforgeable)
        comps.foreach { s =>
          if (s.exists(_ < ' ') || s != s.trim)
            throw new IllegalArgumentException(
              s"partition value '${s.take(40)}' has control characters " +
                "or leading/trailing whitespace — unsupported as a " +
                "manifest-recorded partition key")
        }
        // the landed files carry exactly df's columns (__gpart was the
        // partitionBy surrogate, excluded from data files) — pre-seed
        // the group-schema cache so the first read skips footer I/O
        cacheDirSchema(new Path(root, dir).toString, df.schema)
        dir -> comps.mkString(PartSep)
      }.toSeq
    } finally f.delete(staged, true)
  }

  /** CREATE TABLE ... PARTITIONED BY (partCol): the Delta/Hive
    * partition layout as manifest metadata — `#partcol=` declares the
    * column (auto-carried through every later commit, protected from
    * rename/drop), each file group holds exactly one value
    * (`#part:<dir>=`), and every read path that prunes by stats also
    * prunes by partition containment ([[partAdmit]]) — equality and IN
    * probes on the partition column skip non-matching groups at the
    * zero-file-open manifest level, EXACTLY rather than by min/max
    * approximation. Appends route rows to per-value groups
    * automatically (a value accumulates one group per append batch —
    * Delta's multiple-files-per-partition shape; [[compactSmall]]
    * merges within a partition). [[overwriteWhere]] on the partition
    * column prefers containment over stats: an in-band group is
    * replaced whole, never row-filtered. At 100 TB this is the
    * `partitionBy("month")` contract: reprocessing a month touches that
    * month's groups only. Float/double/decimal keys are refused (their
    * string round-trip is unstable); use string/integral/date/boolean
    * keys, as every warehouse does. */
  def createPartitioned(spark: SparkSession, root: String, df: DataFrame,
                        partCol: String,
                        statsCols: Seq[String]): Int =
    createPartitioned(spark, root, df, Seq(partCol), statsCols)

  def createPartitioned(spark: SparkSession, root: String, df: DataFrame,
                        partCol: String): Int =
    createPartitioned(spark, root, df, Seq(partCol), Nil)

  /** Multi-column variant: `PARTITIONED BY (a, b, …)` — one file group
    * per value TUPLE, with [[partAdmit]] pruning on ANY subset of the
    * columns (a probe on `b` alone still skips every group whose `b`
    * component differs — Hive/Delta semantics). */
  def createPartitioned(spark: SparkSession, root: String, df: DataFrame,
                        partCols: Seq[String],
                        statsCols: Seq[String]): Int = {
    require(latestVersion(spark, root).isEmpty, s"table exists at $root")
    val fields = resolvePartCols(df.schema, partCols)
    val parts = writePartitionedDataFiles(spark, root, fields, df)
    val stats = parts.flatMap { case (d, _) =>
      statsMeta(spark, root, d, statsCols) }.toMap
    commit(spark, root, parts.map(_._1),
      stats ++ parts.map { case (d, pv) => s"part:$d" -> pv }.toMap +
        ("partcol" -> fields.mkString(",")) +
        ("op" -> "create-partitioned"))
  }

  /** CREATE TABLE … PARTITIONED BY (days(ts), …) — TRANSFORMED
    * partitioning (Iceberg's hidden partitioning): each spec is
    * (source column, transform) with transform ∈ `id` | `days` |
    * `months` | `years` | `trunc:<w>`. File groups key on the DERIVED
    * value (one group per derived tuple per batch), the raw column
    * stays in the data, and probes on the raw column — equality AND
    * ranges — prune through the transform at the manifest level
    * because every supported transform is monotone ([[partAdmit]]).
    * Partition-by-day without a precomputed day column: the canonical
    * 100 TB fact layout. */
  def createPartitionedTransformed(spark: SparkSession, root: String,
      df: DataFrame, specs: Seq[(String, String)],
      statsCols: Seq[String] = Nil): Int = {
    require(latestVersion(spark, root).isEmpty, s"table exists at $root")
    val resolved = resolveTransSpecs(df.schema, specs)
    val parts = writePartitionedDataFiles(spark, root,
      resolved.map(_._1), df, resolved.map(_._2))
    val stats = parts.flatMap { case (d, _) =>
      statsMeta(spark, root, d, statsCols) }.toMap
    commit(spark, root, parts.map(_._1),
      stats ++ parts.map { case (d, pv) => s"part:$d" -> pv }.toMap +
        ("partcol" -> resolved.map(_._1).mkString(",")) +
        ("parttrans" -> resolved.map(_._2).mkString(",")) +
        ("op" -> "create-partitioned"))
  }

  /** Empty-create variant of [[createPartitionedTransformed]] (the SQL
    * `CREATE TABLE … PARTITIONED BY (days(ts))` path): declares the
    * layout; appends route through the transform from the first batch
    * on. */
  def createEmptyPartitionedTransformed(spark: SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType,
      specs: Seq[(String, String)]): Int = {
    require(latestVersion(spark, root).isEmpty,
      s"table already exists at $root")
    val resolved = resolveTransSpecs(schema, specs)
    commitVersion(spark, root, 1, Seq.empty,
      Map("op" -> "create", "schema" -> schema.json,
        "partcol" -> resolved.map(_._1).mkString(","),
        "parttrans" -> resolved.map(_._2).mkString(",")))
  }

  /** Resolve, type-check and canonicalize declared partition columns:
    * string/integral/date/boolean keys only (float/double/decimal
    * string round-trips are unstable), no duplicates, and no commas in
    * names (the manifest stores the list comma-joined). */
  private def resolvePartCols(
      schema: org.apache.spark.sql.types.StructType,
      partCols: Seq[String]): Seq[String] = {
    require(partCols.nonEmpty, "at least one partition column required")
    val fields = partCols.map { pc =>
      schema.fields.find(_.name.equalsIgnoreCase(pc))
        .getOrElse(throw new IllegalArgumentException(
          s"no column '$pc' in the batch"))
    }
    import org.apache.spark.sql.types._
    fields.foreach { field =>
      field.dataType match {
        case StringType | LongType | IntegerType | ShortType | ByteType |
             DateType | BooleanType => ()
        case dt => throw new IllegalArgumentException(
          s"partition column '${field.name}' has unsupported type " +
            s"${dt.sql} — use string/integral/date/boolean keys")
      }
      require(!field.name.contains(","),
        s"partition column name '${field.name}' contains a comma — " +
          "unsupported as a manifest-declared key")
    }
    val names = fields.map(_.name)
    require(names.map(_.toLowerCase).distinct.size == names.size,
      s"duplicate partition columns: ${names.mkString(",")}")
    names
  }

  /** Clustered create: range-partition by `clusterKey` into up to
    * `numGroups` FILE GROUPS in one commit, recording per-group min/max
    * for `statsCols`. With a Z-order clusterKey
    * ([[graft.functions.ZOrderInterleave]]) this is the
    * `OPTIMIZE ZORDER BY` layout: contiguous z-ranges are rectangles in
    * coordinate space, so every statsCol gets real pruning power at once
    * (see [[readWhere]]). One shuffle (range partitioner) + one write
    * pass; each output partition becomes its own manifest group so the
    * skipping happens at the zero-file-open manifest level, above
    * parquet row-group pruning. */
  /** The BUCKET-transform layout of a manifest, if declared:
    * (source column, bucket count). Iceberg's `bucket(n, col)` — file
    * groups key on `pmod(murmur3(col), n)` instead of the raw value,
    * which is what makes HIGH-CARDINALITY keys storage-partition-
    * joinable: two tables bucketed `bucket(8, custkey)` co-locate by
    * bucket id and join with zero exchanges, where an identity layout
    * on custkey would mean one group per customer. */
  private[graft] def bucketSpecAt(
      meta: Map[String, String]): Option[(String, Int)] =
    for { c <- meta.get("bucketcol"); n <- meta.get("bucketn") }
      yield (c, n.toInt)

  /** The write-side bucket id column: `pmod(hash(col), n)` — Spark's
    * `hash` is Murmur3 seed 42, the SAME function
    * [[GraftBucketFunction]] exposes to the SPJ planner and
    * [[bucketIdOfLiteral]] evaluates for manifest pruning. */
  private def bucketIdCol(c: String, n: Int): org.apache.spark.sql.Column =
    pmod(hash(col(c)), lit(n))

  /** Bucket id of a pushed-filter literal, driver-side — None for
    * types the bucket layout doesn't admit (then the probe keeps every
    * group; conservative, never wrong). Must agree bit-for-bit with
    * [[bucketIdCol]]: Spark's Murmur3 hashes a column's NATIVE type,
    * and pushed filter literals arrive typed to the column. */
  private[sources] def bucketIdOfLiteral(v: Any, n: Int): Option[Int] = {
    import org.apache.spark.unsafe.hash.Murmur3_x86_32
    val h: Option[Int] = v match {
      case l: java.lang.Long    => Some(Murmur3_x86_32.hashLong(l, 42))
      case i: java.lang.Integer => Some(Murmur3_x86_32.hashInt(i, 42))
      case s: java.lang.Short   => Some(Murmur3_x86_32.hashInt(s.toInt, 42))
      case b: java.lang.Byte    => Some(Murmur3_x86_32.hashInt(b.toInt, 42))
      case s: String =>
        val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
        Some(Murmur3_x86_32.hashUnsafeBytes(
          u.getBaseObject, u.getBaseOffset, u.numBytes(), 42))
      case u: org.apache.spark.unsafe.types.UTF8String =>
        Some(Murmur3_x86_32.hashUnsafeBytes(
          u.getBaseObject, u.getBaseOffset, u.numBytes(), 42))
      case _ => None
    }
    h.map(x => ((x % n) + n) % n)
  }

  /** CREATE TABLE … PARTITIONED BY (bucket(n, col)) — the hash-bucket
    * layout: each file group holds ONE bucket id's rows
    * (`#part:<dir>=<id>`), appends route batches by the same hash, an
    * equality/IN probe on the bucket column prunes to its value's one
    * bucket at the manifest level, and the DSv2 scan reports
    * `bucket(n, col)` KeyGroupedPartitioning so equal-bucketed tables
    * join storage-partitioned (zero exchanges) on keys far too
    * high-cardinality for identity partitioning. Integral/string
    * columns only (the hash contract must be reproducible from pushed
    * literals); nulls hash like Spark's `hash(NULL)` and land in a
    * deterministic bucket. */
  def createBucketed(spark: SparkSession, root: String, df: DataFrame,
                     bucketCol: String, nBuckets: Int,
                     statsCols: Seq[String] = Nil): Int = {
    require(latestVersion(spark, root).isEmpty, s"table exists at $root")
    require(nBuckets >= 2 && nBuckets <= 4096,
      s"bucket($nBuckets, $bucketCol): bucket count must be in [2, 4096]")
    val field = resolveBucketCol(df.schema, bucketCol)
    val parts = writeBucketedDataFiles(spark, root, field, nBuckets, df)
    val stats = parts.flatMap { case (d, _) =>
      statsMeta(spark, root, d, statsCols) }.toMap
    commit(spark, root, parts.map(_._1),
      stats ++ parts.map { case (d, id) => s"part:$d" -> id.toString }.toMap
        + ("bucketcol" -> field) + ("bucketn" -> nBuckets.toString)
        + ("op" -> "create-bucketed"))
  }

  /** Empty-create variant (the SQL `CREATE TABLE … PARTITIONED BY
    * (bucket(n, col))` path): declares the layout, appends route from
    * the first batch on. */
  def createEmptyBucketed(spark: SparkSession, root: String,
                          schema: org.apache.spark.sql.types.StructType,
                          bucketCol: String, nBuckets: Int): Int = {
    require(latestVersion(spark, root).isEmpty,
      s"table already exists at $root")
    require(nBuckets >= 2 && nBuckets <= 4096,
      s"bucket($nBuckets, $bucketCol): bucket count must be in [2, 4096]")
    val field = resolveBucketCol(schema, bucketCol)
    commitVersion(spark, root, 1, Seq.empty,
      Map("op" -> "create", "schema" -> schema.json,
        "bucketcol" -> field, "bucketn" -> nBuckets.toString))
  }

  private def resolveBucketCol(
      schema: org.apache.spark.sql.types.StructType,
      bucketCol: String): String = {
    import org.apache.spark.sql.types._
    val field = schema.fields.find(_.name.equalsIgnoreCase(bucketCol))
      .getOrElse(throw new IllegalArgumentException(
        s"no column '$bucketCol' to bucket on"))
    field.dataType match {
      case ByteType | ShortType | IntegerType | LongType | StringType => ()
      case t => throw new IllegalArgumentException(
        s"bucket column '$bucketCol' has type ${t.simpleString} — " +
          "bucket layouts take integral/string keys (the hash must be " +
          "reproducible from pushed literals)")
    }
    field.name
  }

  /** One staged write → one dir per OCCUPIED bucket id (empty buckets
    * have no dir — SPJ against a fuller table needs Spark's
    * `pushPartValues`, the documented conf). Returns (dir, bucketId).
    */
  private def writeBucketedDataFiles(spark: SparkSession, root: String,
      c: String, n: Int, df: DataFrame): Seq[(String, Int)] = {
    require(!df.columns.exists(_.equalsIgnoreCase("__gpart")),
      "batch carries a reserved column name '__gpart'")
    val f = fs(spark, root)
    val uuid = java.util.UUID.randomUUID().toString
    // driver-side fast path (see [[writePartitionedDataFiles]]): fold
    // the bucket-id expression into the LocalRelation and land each
    // occupied bucket's rows with one direct parquet write — same dir
    // naming/order as the staged path (string sort of the id).
    localBatch(df).foreach { case (rows, schema) =>
      localBatch(df.select(bucketIdCol(c, n).cast("string"))) match {
        case Some((idRows, _)) if idRows.size == rows.size =>
          val ids = idRows.map(_.getUTF8String(0).toString)
          val grouped = rows.zip(ids).groupBy(_._2).toSeq.sortBy(_._1)
          return grouped.zipWithIndex.map { case ((id, rs), i) =>
            val dir = s"data/$uuid-b$i"
            val abs = new Path(root, dir).toString
            org.apache.spark.sql.execution.datasources.parquet
              .GraftLocalParquetWrite.writeFile(spark, abs, schema,
                rs.iterator.map(_._1))
            cacheDirSchema(abs, schema)
            dir -> id.toInt
          }
        case _ => ()
      }
    }
    val staged = new Path(root, s"data/.bstage-$uuid")
    try {
      val width = math.max(spark.sparkContext.defaultParallelism,
        spark.sessionState.conf.numShufflePartitions)
      df.withColumn("__gpart", bucketIdCol(c, n).cast("string"))
        .repartition(width, col("__gpart"))
        .write.partitionBy("__gpart").parquet(staged.toString)
      val subs = f.listStatus(staged).map(_.getPath)
        .filter(_.getName.startsWith("__gpart=")).sortBy(_.getName)
      val localRoot =
        if ("file".equalsIgnoreCase(Option(new Path(root).toUri.getScheme)
            .getOrElse(f.getUri.getScheme))) Some(root) else None
      subs.zipWithIndex.map { case (sub, i) =>
        val dir = s"data/$uuid-b$i"
        localRoot match {
          case Some(r) =>
            java.nio.file.Files.move(
              java.nio.file.Paths.get(sub.toUri.getPath),
              java.nio.file.Paths.get(new Path(r, dir).toUri.getPath))
          case None =>
            if (!f.rename(sub, new Path(root, dir)))
              throw new IllegalStateException(
                s"stage rename failed for $dir")
        }
        cacheDirSchema(new Path(root, dir).toString, df.schema)
        dir -> sub.getName.drop("__gpart=".length).toInt
      }.toSeq
    } finally f.delete(staged, true)
  }

  def createClustered(spark: SparkSession, root: String, df: DataFrame,
                      clusterKey: String, numGroups: Int,
                      statsCols: Seq[String]): Int = {
    require(latestVersion(spark, root).isEmpty, s"table exists at $root")
    val f = fs(spark, root)
    val uuid = java.util.UUID.randomUUID().toString
    val staged = new Path(root, s"data/.stage-$uuid")
    df.repartitionByRange(numGroups, col(clusterKey))
      .write.mode(SaveMode.ErrorIfExists).parquet(staged.toString)
    // each staged part file → its own data dir (= one manifest group)
    val parts = f.listStatus(staged).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val dirs = parts.zipWithIndex.map { case (p, i) =>
      val dir = s"data/$uuid-g$i"
      f.mkdirs(new Path(root, dir))
      f.rename(p, new Path(new Path(root, dir), p.getName))
      dir
    }.toSeq
    f.delete(staged, true)
    val stats = dirs.flatMap(d => statsMeta(spark, root, d, statsCols)).toMap
    commit(spark, root, dirs, stats + ("op" -> "create-clustered"))
  }

  /** Append-only commit: new version = old file groups + new ones.
    * Prior groups' stats (and any other carried meta) survive. */
  def append(spark: SparkSession, root: String, df: DataFrame,
             statsCols: Seq[String] = Nil): Int =
    appendInternal(spark, root, df, statsCols, Map.empty)

  private def appendInternal(spark: SparkSession, root: String,
                             df: DataFrame, statsCols: Seq[String],
                             extraMeta: Map[String, String]): Int = {
    // refuse a renamed stats column BEFORE any byte lands — checking
    // after appendPrepare would orphan the freshly written data dir,
    // breaking the 'a refused append leaves no orphan' contract the
    // conflict path upholds
    latestVersion(spark, root).foreach { cur =>
      val meta = manifestMeta(spark, root, cur)
      statsCols.foreach(c => requireNotRenamed(meta, c, "stats collection"))
    }
    val (base, parts) = appendPrepareParts(spark, root, df)
    val stats = parts.flatMap { case (d, _) =>
      statsMeta(spark, root, d, statsCols) }.toMap
    val partMeta = parts.collect {
      case (d, Some(pv)) => s"part:$d" -> pv }.toMap
    commitAppendMulti(spark, root, base, parts.map(_._1),
      stats ++ partMeta ++ extraMeta)
  }

  /** `COPY INTO` — Databricks' idempotent bulk-ingest verb, the Scala
    * half of `COPY INTO t FROM '<dir>' FILEFORMAT = PARQUET`
    * ([[GraftCopyIntoCommand]]): file-level exactly-once ingest from a
    * landing directory. Every loaded source file is keyed by its full
    * path in a `copied:<hex(path)>=<bytes>` manifest ledger that
    * [[commitVersion]] auto-carries through EVERY later commit
    * (append / merge / compact / overwrite / restore — after a
    * truncating INSERT OVERWRITE the files STAY loaded, Delta parity:
    * re-ingesting them needs an explicit FORCE). A re-run loads only
    * unseen files, and a run with nothing new is a TRUE no-op — no
    * commit, the version does not move, so a scheduled hourly COPY
    * costs zero versions on idle hours. A previously-loaded path whose
    * SIZE changed refuses loudly: the source mutated under the ledger,
    * and both silent choices are wrong (skip loses the new rows,
    * reload double-counts the old ones); `force = true` is the
    * explicit override — it reloads every matched file (duplicates
    * included, the documented Databricks semantics) and re-stamps the
    * ledger. New files ingest through [[appendInternal]], so declared
    * defaults, generated columns, identity stamping, CHECK/UNIQUE
    * constraints and partition routing gate COPY exactly as they gate
    * appends.
    *
    * Scale: the listing is one driver-side names-only pass over the
    * landing dir (O(files), no data bytes); the read is data-sized in
    * NEW bytes only; the ledger adds one manifest line per loaded
    * file — linear manifest growth with file count, the same per-file
    * metadata trade Delta's JSON log makes.
    *
    * Returns (files_loaded, files_skipped, rows_inserted, version);
    * `version` is the unmoved current version when nothing loads. */
  def copyInto(spark: SparkSession, root: String, srcDir: String,
               pattern: Option[String] = None,
               force: Boolean = false): (Long, Long, Long, Int) = {
    val cur = latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    // the landing dir may live on a DIFFERENT filesystem scheme than
    // the table (s3 table, local landing dir) — resolve its own FS or
    // Hadoop throws "Wrong FS" and COPY INTO is unusable cross-scheme
    val src = new Path(srcDir)
    val f = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(f.exists(src), s"COPY INTO source does not exist: $srcDir")
    val rx = pattern.map(globToRegex)
    val all = f.listStatus(src).toSeq
      .filter(_.isFile)
      .filterNot { st =>
        val n = st.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
      .filter(st => rx.forall(r => r.matches(st.getPath.getName)))
      .sortBy(_.getPath.getName)
    val ledger = manifestMeta(spark, root, cur).collect {
      case (k, v) if k.startsWith("copied:") =>
        k.stripPrefix("copied:") -> v
    }
    def keyOf(st: org.apache.hadoop.fs.FileStatus): String =
      hexStr(st.getPath.toString)
    // ledger value `<bytes>:<mtimeMillis>` — size alone misses an
    // in-place rewrite that preserves byte length, which would then be
    // silently skipped as already-loaded (Databricks keys its ingest
    // ledger on path + modification time for the same reason). Legacy
    // size-only entries compare size only.
    def stamp(st: org.apache.hadoop.fs.FileStatus): String =
      s"${st.getLen}:${st.getModificationTime}"
    def mutated(st: org.apache.hadoop.fs.FileStatus): Boolean =
      ledger(keyOf(st)).split(":", 2) match {
        case Array(sz, mt) =>
          sz != st.getLen.toString || mt != st.getModificationTime.toString
        case Array(sz) => sz != st.getLen.toString
      }
    val (seen, fresh) = all.partition(st => ledger.contains(keyOf(st)))
    if (!force)
      seen.find(mutated)
        .foreach(st => throw new IllegalStateException(
          s"COPY INTO at $root: previously loaded file ${st.getPath} " +
            s"changed (ledger ${ledger(keyOf(st))} -> now ${stamp(st)} " +
            "as bytes:mtime) — the source mutated after load; skipping " +
            "would lose the new rows and reloading would double-count " +
            "the old ones. Re-run with COPY_OPTIONS ('force' = 'true') " +
            "to reload every matched file explicitly."))
    val toLoad = if (force) all else fresh
    if (toLoad.isEmpty) (0L, seen.size.toLong, 0L, cur)
    else {
      val batch = spark.read
        .parquet(toLoad.map(_.getPath.toString): _*)
      // footer-count pass (no data pages) — the reported insert count
      // must describe the files as listed, before append lands them
      val rows = batch.count()
      val newKeys = toLoad.map(st =>
        s"copied:${keyOf(st)}" -> stamp(st)).toMap
      val v = appendInternal(spark, root, batch, Nil,
        newKeys + ("op" -> "copy-into"))
      (toLoad.size.toLong, (all.size - toLoad.size).toLong, rows, v)
    }
  }

  /** Lossless filesystem/manifest-safe encoding for ledger keys (the
    * partition-surrogate rule: hex can't collide and can't smuggle
    * '=' or control chars into a manifest line). */
  private def hexStr(s: String): String =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => f"${b & 0xff}%02x").mkString

  /** PATTERN glob → anchored regex over the file NAME ('*' and '?'
    * never cross a path separator; everything else is literal). */
  private def globToRegex(glob: String): scala.util.matching.Regex = {
    val sb = new StringBuilder("^")
    glob.foreach {
      case '*' => sb.append("[^/]*")
      case '?' => sb.append("[^/]")
      case c if "\\.[]{}()+-^$|".indexOf(c) >= 0 =>
        sb.append('\\').append(c)
      case c => sb.append(c)
    }
    sb.append("$").toString.r
  }

  /** Append phase 1: validate against the base snapshot and write the
    * new file group (invisible until a manifest references it).
    * Package-visible so a spec / demo can inject a racing winner
    * between the data write and the commit; production [[append]] runs
    * both phases back-to-back. Returns (baseVersion, newDataDir).
    * Single-group shape — refuses partitioned tables (those split into
    * one group per value; use [[append]], which routes through
    * [[appendPrepareParts]]). */
  private[graft] def appendPrepare(spark: SparkSession, root: String,
                                   df: DataFrame): (Int, String) = {
    val (base, parts) = appendPrepareParts(spark, root, df)
    require(parts.size == 1 && parts.head._2.isEmpty,
      s"appendPrepare on a partitioned table at $root — use append()")
    (base, parts.head._1)
  }

  /** [[appendPrepare]] generalized for partitioned tables: on a table
    * with a declared partition column the validated batch lands as one
    * file group PER partition value (each tagged with its value for
    * [[partAdmit]]); otherwise exactly one untagged group. */
  private def appendPrepareParts(spark: SparkSession, root: String,
      df: DataFrame): (Int, Seq[(String, Option[String])]) = {
    val cur = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    val meta = manifestMeta(spark, root, cur)
    // write-defaults materialize FIRST so every gate below validates
    // the rows exactly as they will land on disk
    val filled0 = applyGenerated(spark, root, meta,
      applyWriteDefaults(spark, root, meta, df))
    // identity stamping SECOND: the batch lands once in a staging dir
    // (the statsMeta rule — a nondeterministic lineage must not
    // disagree between the count pass and the stamp pass, or ids could
    // collide with the next allocation), then contiguous ids are
    // stamped from the snapshot's high-water mark. Validation below
    // sees the stamped rows, exactly as they will commit.
    val (filled, stage) = identityAt(meta) match {
      case None => (filled0, None)
      case Some((c, _, step, hwm)) =>
        filled0.columns.find(_.equalsIgnoreCase(c)).foreach(x =>
          throw new IllegalArgumentException(
            s"column '$x' is GENERATED ALWAYS AS IDENTITY at $root; " +
              "remove it from the batch — ids are engine-assigned"))
        val rel = s"data/.idstage-${java.util.UUID.randomUUID()}"
        filled0.write.parquet(new Path(root, rel).toString)
        val staged = spark.read.parquet(new Path(root, rel).toString)
        (stampIdentity(spark, staged, c, step, hwm), Some(rel))
    }
    try {
      enforceConstraints(spark, root, cur, filled)
      // UNIQUE admission: batch-internal dups + one probe of the live
      // snapshot (bloom-prunable at scale), before any byte lands
      enforceUnique(meta, filled, Some(read(spark, root)), "by append")
      // a batch naming a metadata-only-dropped physical column would
      // write bytes every read must then hide — refuse it loudly
      filled.columns.find(c => colDropsAt(meta).exists(_.equalsIgnoreCase(c)))
        .foreach(c => throw new IllegalArgumentException(
          s"append at $root carries column '$c', which was dropped " +
            "metadata-only; remove it from the batch or compact first"))
      // incoming batches arrive in LOGICAL names (constraints above see
      // them that way); files land in PHYSICAL names so every group in
      // the table shares one on-disk schema under a rename mapping
      val physical = toPhysical(meta, filled)
      // bucket layouts route by hash id; identity layouts by value
      val parts = bucketSpecAt(meta) match {
        case Some((bc, n)) =>
          require(physical.columns.exists(_.equalsIgnoreCase(bc)),
            s"append at $root must carry bucket column '$bc'")
          writeBucketedDataFiles(spark, root, bc, n, physical)
            .map { case (d, id) => (d, Some(id.toString)) }
        case None => partColsAt(meta) match {
          case Seq() =>
            Seq((writeDataFiles(spark, root, physical), None))
          case pcs =>
            pcs.foreach(pc =>
              require(physical.columns.exists(_.equalsIgnoreCase(pc)),
                s"append at $root must carry partition column '$pc'"))
            writePartitionedDataFiles(spark, root, pcs, physical,
              parttransAt(meta))
              .map { case (d, pv) => (d, Some(pv)) }
        }
      }
      (cur, parts)
    } finally stage.foreach(rel =>
      fs(spark, root).delete(new Path(root, rel), true))
  }

  /** Two-pass contiguous id assignment over an already-LANDED batch
    * (`staged` must read from files, not live lineage): pass 1 reduces
    * each partition to a row count (numPartitions longs to the driver),
    * pass 2 stamps hwm + step·(exclusive prefix + local index) — the
    * [[graft.operators.PrefixScan]] offset trick without the sort,
    * since identity promises uniqueness and density, not any row
    * order. */
  private def stampIdentity(spark: SparkSession, staged: DataFrame,
                            c: String, step: Long, hwm: Long): DataFrame = {
    val rdd = staged.rdd
    val counts = rdd.mapPartitionsWithIndex { (i, it) =>
        var n = 0L; it.foreach(_ => n += 1); Iterator((i, n))
      }.collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _)
    val schema = org.apache.spark.sql.types.StructType(staged.schema.fields)
      .add(c, org.apache.spark.sql.types.LongType, nullable = false)
    val stamped = rdd.mapPartitionsWithIndex { (pi, it) =>
      var k = offsets(pi)
      it.map { r => k += 1; Row.fromSeq(r.toSeq :+ (hwm + step * k)) }
    }
    spark.createDataFrame(stamped, schema)
  }

  /** Meta keys an append carries forward from the snapshot it lands on:
    * stats/bloom/ANN codes of immutable prior groups stay valid (the
    * appended group is simply un-indexed until the next index run);
    * the table-wide MOR delete state must survive too (a deleted key
    * stays deleted — see deleteWhereMor's contract). */
  private def appendCarries(k: String): Boolean =
    k.startsWith("stat:") || k.startsWith("bloom:") ||
      k.startsWith("annmodel:") || k.startsWith("anncodes:") ||
      k.startsWith("hllsk:") || k.startsWith("kllsk:") ||
      k.startsWith("identity:") ||
      // MinHash index keys carry so a post-append probe refuses with
      // the EXPLICIT version-mismatch message (mhver stays behind the
      // table version — the index is stale, not gone); rewrites drop
      // the keys entirely, which refuses as "no index"
      k.startsWith("mhidx:") || k.startsWith("mhparams:") ||
      k.startsWith("mhver:") ||
      k.startsWith("part:") || k == "partcol" ||
      k == "parttrans" ||
      k == "bucketcol" || k == "bucketn" ||
      // incremental-clustering membership: appended groups are "fresh"
      // (untagged) by construction; clustered groups stay tagged
      k.startsWith("zc:") || k == "zcols" ||
      k == "deletes" || k == "deletekey" || k == "dv" || k == "colmap" ||
      k == "coldrop"

  private[sources] val MaxCommitRetries = 20

  /** Append phase 2: publish an already-written file group on top of
    * `base`, reconciling version collisions Delta-style. On
    * [[ConcurrentCommitException]] the loser re-reads the NEW latest
    * snapshot; if every concurrent commit merely extended `base`
    * (blind appends commute: no dir removed, schema / CHECK / MOR
    * delete state unchanged — checked base-vs-latest, which covers a
    * whole chain of winners at once because uuid dirs are never
    * re-added after removal), it rebases its dir list + carried meta
    * onto the winner and retries at the next version. Non-commuting
    * winners raise a named [[LakeConflictException]] instead — the
    * prepared data dir is deleted so a refused append leaves no
    * orphan. Bounded at [[MaxCommitRetries]] rebases. */
  private[graft] def commitAppend(spark: SparkSession, root: String,
                                  base: Int, dir: String,
                                  extraMeta: Map[String, String]): Int =
    commitAppendMulti(spark, root, base, Seq(dir), extraMeta)

  private def commitAppendMulti(spark: SparkSession, root: String,
                                base: Int, dirs: Seq[String],
                                extraMeta: Map[String, String]): Int = {
    def mine: DataFrame = spark.read.option("mergeSchema", "true")
      .parquet(dirs.map(d => new Path(root, d).toString): _*)
    def dropPrepared(): Unit =
      dirs.foreach(d => fs(spark, root).delete(new Path(root, d), true))
    // identity high-water-mark advance: the stamped ids run
    // (hwm+step .. hwm+step·n], so the new mark is a pure function of
    // the base mark and the landed row count — computed ONCE from the
    // base snapshot (a winner that moved the mark is a named conflict
    // in assertAppendCommutes, so a rebase can never commit a stale
    // mark)
    val idExtra: Map[String, String] =
      identityAt(manifestMeta(spark, root, base)) match {
        case Some((c, start, step, hwm)) =>
          val n = if (dirs.isEmpty) 0L else mine.count()
          Map(s"identity:$c" -> s"$start,$step,${hwm + step * n}")
        case None => Map.empty
      }
    var attempt = base
    var tries = 0
    while (true) {
      val carried = manifestMeta(spark, root, attempt).filter {
        case (k, _) => appendCarries(k) }
      try return commitVersion(spark, root, attempt + 1,
        readManifest(spark, root, attempt) ++ dirs,
        Map("op" -> "append") ++ carried ++ extraMeta ++ idExtra)
      catch { case e: ConcurrentCommitException =>
        tries += 1
        if (tries > MaxCommitRetries) {
          dropPrepared()
          throw new IllegalStateException(
            s"append at $root gave up after $MaxCommitRetries rebases " +
              s"(live contention): ${e.getMessage}")
        }
        val latest = latestVersion(spark, root).getOrElse(attempt)
        try {
          assertAppendCommutes(spark, root, base, latest)
          // two racing appends can each be UNIQUE-valid alone yet
          // collide with each other — a rebase re-validates the
          // prepared rows against exactly the winner chain's NEW file
          // groups (O(winner churn), never the table)
          val meta = manifestMeta(spark, root, latest)
          if (uniqueColsAt(meta).nonEmpty && dirs.nonEmpty) {
            val delta = readManifest(spark, root, latest).toSet --
              readManifest(spark, root, base).toSet
            if (delta.nonEmpty) {
              val winnerRows = spark.read.option("mergeSchema", "true")
                .parquet(delta.toSeq
                  .map(d => new Path(root, d).toString): _*)
              try enforceUnique(meta, mine, Some(winnerRows),
                "by concurrent append")
              catch { case e: IllegalArgumentException =>
                throw new LakeConflictException(
                  s"append (base v$base) conflicts with a concurrent " +
                    s"append at $root: ${e.getMessage}")
              }
            }
          }
        } catch { case c: LakeConflictException =>
          dropPrepared()
          throw c
        }
        attempt = latest
      }
    }
    -1 // unreachable
  }

  /** The commute check for a blind append rebasing from `base` onto
    * `latest` (Delta's logical conflict rules): a removed base file
    * group is tolerated ONLY when every winner op is row-preserving
    * (compaction re-arranges the same rows, so the loser's validation
    * snapshot still stands — this is what lets nightly OPTIMIZE race
    * streaming ingest); a row-CHANGING removal (delete/replace/merge/
    * restore) conflicts. Schema / CHECK constraints / MOR delete state
    * must be unchanged regardless (incoming rows were validated
    * against `base`'s constraints only, and a concurrently committed
    * constraint or delete must not silently bind rows it never saw). */
  private def assertAppendCommutes(spark: SparkSession, root: String,
                                   base: Int, latest: Int): Unit = {
    def conflict(what: String): Nothing = {
      val winnerOps = ((base + 1) to latest)
        .map(v => manifestMeta(spark, root, v).getOrElse("op", "unknown"))
        .distinct.mkString("+")
      throw new LakeConflictException(
        s"append (base v$base) conflicts with concurrent $winnerOps " +
          s"(through v$latest) at $root: $what")
    }
    val baseDirs = readManifest(spark, root, base)
    val latestDirs = readManifest(spark, root, latest).toSet
    val removed = baseDirs.filterNot(latestDirs.contains)
    if (removed.nonEmpty) {
      // Delta's logical rule: a BLIND append reads no file group, so a
      // winner that merely re-arranged the same rows commutes with it;
      // the semantic gates below (schema/CHECK/MOR/identity) still
      // apply. Scoped to INCREMENTAL compaction (optimize-small — the
      // nightly-compaction-vs-streaming-ingest race that actually
      // happens in production): a whole-table OPTIMIZE stays exclusive
      // by contract (same posture as restore), and a winner that
      // CHANGED rows (delete/replace/merge/restore/purge) conflicts —
      // the loser's validation snapshot saw rows that no longer stand.
      val winnerOps = ((base + 1) to latest)
        .map(v => manifestMeta(spark, root, v).getOrElse("op", "unknown"))
      val rowPreserving = Set("optimize-small", "append",
        "streaming-append", "index", "index-hll", "index-kll",
        "index-ann", "add-constraint", "add-unique", "set-default",
        "drop-default", "set-identity")
      if (!winnerOps.forall(rowPreserving.contains))
        conflict(s"file groups ${removed.mkString(", ")} were removed " +
          s"by non-compaction op(s) ${winnerOps.distinct.mkString("+")}")
    }
    val bm = manifestMeta(spark, root, base)
    val lm = manifestMeta(spark, root, latest)
    if (bm.get("schema") != lm.get("schema"))
      conflict("table schema changed")
    def checks(m: Map[String, String]) =
      m.filter { case (k, _) =>
        k.startsWith("check:") || k.startsWith("unique:") ||
          k.startsWith("default:") || k.startsWith("gencol:") }
    if (checks(bm) != checks(lm))
      conflict("CHECK/UNIQUE constraints or column DEFAULTs changed " +
        "(incoming rows were materialized/validated against the old " +
        "declaration set)")
    // MOR delete state changes COMMUTE with a blind append (Delta's
    // conflict matrix: blind INSERT conflicts with nothing row-level):
    // positional dv masks name only pre-existing files — the appended
    // files can't be masked by them — and table-wide equality deletes
    // apply at READ time to every row, appended ones included (the
    // documented deleteWhereMor contract). A winner's REPLACEMENT rows
    // (update-mor/merge-mor appends) are unique-re-validated by the
    // rebase loop's winner-delta check, so UNIQUE stays sound too.
    if (bm.get("colmap") != lm.get("colmap") ||
        bm.get("coldrop") != lm.get("coldrop"))
      conflict("column rename/drop mapping changed (the prepared files " +
        "were written under the old physical mapping)")
    // two identity appends stamping from the same high-water mark would
    // commit colliding ids — never commuting (Delta serializes identity
    // allocation the same way)
    def ident(m: Map[String, String]) =
      m.filter { case (k, _) => k.startsWith("identity:") }
    if (ident(bm) != ident(lm))
      conflict("identity high-water mark advanced (the prepared rows " +
        "carry ids allocated from the old mark)")
  }

  /** The commute check for a DELTA (merge-on-read) commit rebasing from
    * `base` onto `latest` — STRICTER than [[assertAppendCommutes]]: the
    * staged dv mask names (`file`, `pos`) identities of BASE's physical
    * files, so even a row-preserving compaction of the winner chain
    * invalidates it (the masked positions now reference unlisted
    * files). Only a chain of blind appends commutes: no base dir
    * removed, schema / constraint / MOR-delete / column-mapping /
    * identity state unchanged. */
  private[sources] def assertDeltaCommutes(spark: SparkSession,
      root: String, base: Int, latest: Int): Unit = {
    def conflict(what: String): Nothing = {
      val winnerOps = ((base + 1) to latest)
        .map(v => manifestMeta(spark, root, v).getOrElse("op", "unknown"))
        .distinct.mkString("+")
      throw new LakeConflictException(
        s"delta row-level commit (base v$base) conflicts with " +
          s"concurrent $winnerOps (through v$latest) at $root: $what")
    }
    val baseDirs = readManifest(spark, root, base)
    val latestDirs = readManifest(spark, root, latest).toSet
    val removed = baseDirs.filterNot(latestDirs.contains)
    if (removed.nonEmpty)
      conflict(s"file groups ${removed.mkString(", ")} were removed — " +
        "the staged dv mask references their physical positions")
    val bm = manifestMeta(spark, root, base)
    val lm = manifestMeta(spark, root, latest)
    if (bm.get("schema") != lm.get("schema"))
      conflict("table schema changed")
    def checks(m: Map[String, String]) =
      m.filter { case (k, _) =>
        k.startsWith("check:") || k.startsWith("unique:") ||
          k.startsWith("default:") || k.startsWith("gencol:") }
    if (checks(bm) != checks(lm))
      conflict("CHECK/UNIQUE constraints or column DEFAULTs changed")
    if (bm.get("deletes") != lm.get("deletes") ||
        bm.get("deletekey") != lm.get("deletekey") ||
        bm.get("dv") != lm.get("dv"))
      conflict("merge-on-read delete state changed (a concurrent dv " +
        "commit may mask or duplicate the same row identities)")
    if (bm.get("colmap") != lm.get("colmap") ||
        bm.get("coldrop") != lm.get("coldrop"))
      conflict("column rename/drop mapping changed")
    def ident(m: Map[String, String]) =
      m.filter { case (k, _) => k.startsWith("identity:") }
    if (ident(bm) != ident(lm))
      conflict("identity high-water mark advanced")
  }

  /** Conservative stats check for one source filter against one dir's
    * recorded [min,max]: false ONLY when the stats PROVE no row can
    * match. Shared by the DSv2 scan pruning
    * ([[GraftDvBatchScan.filter]]) and the row-level group-replace
    * scan ([[GraftGroupScan]]). */
  private[sources] def statsAdmit(
      meta: Map[String, String], dir: String,
      f: org.apache.spark.sql.sources.Filter): Boolean = {
    import org.apache.spark.sql.sources._
    def range(c: String): Option[(Double, Double)] =
      meta.get(s"stat:$dir:$c").flatMap { s =>
        s.split(",") match {
          case Array(mn, mx) =>
            scala.util.Try((mn.toDouble, mx.toDouble)).toOption
          case _ => None
        }
      }
    def num(v: Any): Option[Double] = v match {
      case n: Number => Some(n.doubleValue())
      case _ => None
    }
    // string min/max (`S:<minB64>,<maxB64>` stat values): exact
    // verbatim bounds compared in UTF8String's unsigned-byte order —
    // the SAME order Spark's min/max used to record them
    import org.apache.spark.unsafe.types.UTF8String
    def srange(c: String): Option[(UTF8String, UTF8String)] =
      meta.get(s"stat:$dir:$c").filter(_.startsWith("S:"))
        .flatMap { s =>
          s.drop(2).split(",", -1) match {
            case Array(mn, mx) => scala.util.Try((
              UTF8String.fromBytes(java.util.Base64.getDecoder.decode(mn)),
              UTF8String.fromBytes(java.util.Base64.getDecoder.decode(mx))
            )).toOption
            case _ => None
          }
        }
    def ustr(v: Any): Option[UTF8String] = v match {
      case s: String => Some(UTF8String.fromString(s))
      case u: UTF8String => Some(u)
      case _ => None
    }
    f match {
      case EqualTo(a, v) => ((range(a), num(v)) match {
        case (Some((mn, mx)), Some(d)) => d >= mn && d <= mx
        case _ => true
      }) && ((srange(a), ustr(v)) match {
        case (Some((mn, mx)), Some(u)) =>
          u.compareTo(mn) >= 0 && u.compareTo(mx) <= 0
        case _ => true
      })
      case GreaterThan(a, v) => ((range(a), num(v)) match {
        case (Some((_, mx)), Some(d)) => mx > d
        case _ => true
      }) && ((srange(a), ustr(v)) match {
        case (Some((_, mx)), Some(u)) => mx.compareTo(u) > 0
        case _ => true
      })
      case GreaterThanOrEqual(a, v) => ((range(a), num(v)) match {
        case (Some((_, mx)), Some(d)) => mx >= d
        case _ => true
      }) && ((srange(a), ustr(v)) match {
        case (Some((_, mx)), Some(u)) => mx.compareTo(u) >= 0
        case _ => true
      })
      case LessThan(a, v) => ((range(a), num(v)) match {
        case (Some((mn, _)), Some(d)) => mn < d
        case _ => true
      }) && ((srange(a), ustr(v)) match {
        case (Some((mn, _)), Some(u)) => mn.compareTo(u) < 0
        case _ => true
      })
      case LessThanOrEqual(a, v) => ((range(a), num(v)) match {
        case (Some((mn, _)), Some(d)) => mn <= d
        case _ => true
      }) && ((srange(a), ustr(v)) match {
        case (Some((mn, _)), Some(u)) => mn.compareTo(u) <= 0
        case _ => true
      })
      case In(a, vs) => (range(a) match {
        case Some((mn, mx)) =>
          val ds = vs.flatMap(v => num(v))
          ds.length != vs.length || ds.exists(d => d >= mn && d <= mx)
        case None => true
      }) && (srange(a) match {
        case Some((mn, mx)) =>
          val us = vs.flatMap(v => ustr(v))
          us.length != vs.length || us.exists(u =>
            u.compareTo(mn) >= 0 && u.compareTo(mx) <= 0)
        case None => true
      })
      case StringStartsWith(a, prefix) => srange(a) match {
        // groups whose max < prefix, or whose min's prefix-length cut
        // is > prefix, can hold no match
        case Some((mn, mx)) =>
          val p = UTF8String.fromString(prefix)
          mx.compareTo(p) >= 0 &&
            mn.substring(0, p.numChars()).compareTo(p) <= 0
        case None => true
      }
      case And(l, r) => statsAdmit(meta, dir, l) && statsAdmit(meta, dir, r)
      case Or(l, r)  => statsAdmit(meta, dir, l) || statsAdmit(meta, dir, r)
      case _ => true // Not / null checks / other ops: keep
    }
  }

  /** The declared partition columns of a manifest
    * ([[createPartitioned]]), outermost first; empty when the table is
    * unpartitioned. Stored comma-joined under `#partcol=` (column
    * names with commas are refused at declaration), so a single-column
    * table's manifest bytes are unchanged from the single-column era. */
  private[graft] def partColsAt(meta: Map[String, String]): Seq[String] =
    meta.get("partcol").map(_.split(",", -1).toSeq).getOrElse(Nil)

  /** The per-column partition TRANSFORMS of a manifest, aligned with
    * [[partColsAt]] ([[createPartitionedTransformed]] — Iceberg's
    * hidden partitioning): `id` (identity), `days`/`months`/`years`
    * (date → epoch units; partition-by-day without a precomputed day
    * column, THE most common 100 TB layout) and `trunc:<w>` (integral
    * floor-to-multiple / string prefix). Absent key → all identity
    * (every pre-transform table reads unchanged). The recorded
    * `part:<dir>` value is the TRANSFORMED value; data files keep the
    * raw source column, and probes on the SOURCE column prune through
    * the transform because every supported transform is MONOTONE
    * non-decreasing ([[transAdmitLiteral]]). */
  private[graft] def parttransAt(meta: Map[String, String]): Seq[String] =
    meta.get("parttrans").map(_.split(",", -1).toSeq).getOrElse(Nil)

  /** Write-side derived partition value for transform `t` over source
    * column `c` — the one definition the router, the pruner
    * ([[transformLiteralV]]) and the catalog's layout report all
    * share. */
  private def transformCol(t: String, c: org.apache.spark.sql.Column,
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    t match {
      case "id" => c
      case "days" => datediff(c, to_date(lit("1970-01-01")))
      case "months" => (year(c) - lit(1970)) * lit(12) + month(c) - lit(1)
      case "years" => year(c) - lit(1970)
      case tr if tr.startsWith("trunc:") =>
        val w = tr.drop("trunc:".length).toInt
        dt match {
          case StringType => substring(c, 1, w)
          case _ => (c - pmod(c, lit(w))).cast(dt)
        }
      case tr if tr.startsWith("bucket:") =>
        // the bucket TRANSFORM as a composite-layout component —
        // same murmur3-seed-42 contract as the pure bucket layout
        // ([[bucketIdCol]]/[[GraftBucketFunction]])
        pmod(hash(c), lit(tr.drop("bucket:".length).toInt))
      case other => throw new IllegalArgumentException(
        s"unknown partition transform '$other'")
    }
  }

  /** Driver-side mirror of [[transformCol]] over a pushed-filter
    * literal — None when the literal's type can't be transformed
    * (then the probe keeps every group; conservative, never wrong).
    * Must agree value-for-value with the write side. */
  private[sources] def transformLiteralV(t: String, v: Any): Option[Any] = {
    def epochDay: Option[Long] = v match {
      case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
      case d: java.time.LocalDate => Some(d.toEpochDay)
      case _ => None
    }
    def ym: Option[(Int, Int)] = v match {
      case d: java.sql.Date =>
        val l = d.toLocalDate; Some((l.getYear, l.getMonthValue))
      case d: java.time.LocalDate => Some((d.getYear, d.getMonthValue))
      case _ => None
    }
    t match {
      case "id" => Some(v)
      case "days" => epochDay.map(d => d: java.lang.Long)
      case "months" =>
        ym.map { case (y, m) => ((y - 1970) * 12 + m - 1): java.lang.Integer }
      case "years" => ym.map { case (y, _) => (y - 1970): java.lang.Integer }
      case tr if tr.startsWith("trunc:") =>
        val w = tr.drop("trunc:".length).toLong
        v match {
          case s: String => Some(s.take(w.toInt))
          case n: java.lang.Long =>
            Some((n - Math.floorMod(n.longValue, w)): java.lang.Long)
          case n: java.lang.Integer =>
            Some((n - Math.floorMod(n.longValue, w)).toInt: java.lang.Integer)
          case n: java.lang.Short =>
            Some((n - Math.floorMod(n.longValue, w)).toInt: java.lang.Integer)
          case n: java.lang.Byte =>
            Some((n - Math.floorMod(n.longValue, w)).toInt: java.lang.Integer)
          case _ => None
        }
      case tr if tr.startsWith("bucket:") =>
        // equality probes prune to the literal's one bucket; range
        // probes return None (a hash layout cannot prune ranges —
        // the caller keeps every group)
        bucketIdOfLiteral(v, tr.drop("bucket:".length).toInt)
          .map(i => i: java.lang.Integer)
      case _ => None
    }
  }

  /** Validate a transform spec list against a schema: source types
    * must support the transform, widths must be positive. Returns the
    * canonical (resolvedCol, transform) pairs. */
  private def resolveTransSpecs(
      schema: org.apache.spark.sql.types.StructType,
      specs: Seq[(String, String)]): Seq[(String, String)] = {
    import org.apache.spark.sql.types._
    require(specs.nonEmpty, "at least one partition column required")
    val out = specs.map { case (c, t) =>
      val field = schema.fields.find(_.name.equalsIgnoreCase(c))
        .getOrElse(throw new IllegalArgumentException(
          s"no column '$c' in the schema"))
      require(!field.name.contains(","),
        s"partition column name '${field.name}' contains a comma")
      t match {
        case "id" =>
          field.dataType match {
            case StringType | LongType | IntegerType | ShortType |
                 ByteType | DateType | BooleanType => ()
            case dt => throw new IllegalArgumentException(
              s"partition column '${field.name}' has unsupported type " +
                s"${dt.sql} — use string/integral/date/boolean keys")
          }
        case "days" | "months" | "years" =>
          require(field.dataType == DateType,
            s"$t(${field.name}): date-typed source required, got " +
              s"${field.dataType.sql} (cast timestamps to date first — " +
              "session-timezone-dependent keys would not round-trip)")
        case tr if tr.startsWith("trunc:") =>
          val w = tr.drop("trunc:".length).toIntOption.getOrElse(
            throw new IllegalArgumentException(
              s"truncate width in '$tr' must be an integer"))
          require(w >= 1, s"truncate($w, ${field.name}): width must be ≥ 1")
          field.dataType match {
            case StringType | LongType | IntegerType | ShortType |
                 ByteType => ()
            case dt => throw new IllegalArgumentException(
              s"truncate(${field.name}): integral/string source " +
                s"required, got ${dt.sql}")
          }
        case tr if tr.startsWith("bucket:") =>
          val n = tr.drop("bucket:".length).toIntOption.getOrElse(
            throw new IllegalArgumentException(
              s"bucket count in '$tr' must be an integer"))
          require(n >= 2 && n <= 4096,
            s"bucket($n, ${field.name}): bucket count must be in [2, 4096]")
          field.dataType match {
            case StringType | LongType | IntegerType | ShortType |
                 ByteType => ()
            case dt => throw new IllegalArgumentException(
              s"bucket(${field.name}): integral/string source " +
                s"required, got ${dt.sql} (the hash must be " +
                "reproducible from pushed literals)")
          }
        case other => throw new IllegalArgumentException(
          s"unknown partition transform '$other' — use days/months/" +
            "years/truncate or a plain column")
      }
      field.name -> t
    }
    val names = out.map(_._1)
    require(names.map(_.toLowerCase).distinct.size == names.size,
      s"duplicate partition columns: ${names.mkString(",")}")
    out
  }

  /** Split a recorded `#part:<dir>=` value into its per-column
    * components. Components are joined by U+0001 — a control char,
    * which partition VALUES refuse at write time, so the separator can
    * never be forged by data; a single-column value round-trips
    * byte-identical to the single-column era. */
  private[sources] val PartSep = "\u0001"

  private[sources] def partValsAt(p: String): Seq[String] =
    p.split(PartSep, -1).toSeq

  /** The recorded value of partition column `column` for group `dir`,
    * if the table is partitioned by it and the group is tagged. */
  private[graft] def partValFor(meta: Map[String, String], dir: String,
                                  column: String): Option[String] = {
    val i = partColsAt(meta).indexWhere(_.equalsIgnoreCase(column))
    if (i < 0) None
    else meta.get(s"part:$dir").flatMap(p => partValsAt(p).lift(i))
  }

  /** True when `column` is an IDENTITY partition component — only then
    * does its recorded `part:` value equal the raw column value (a
    * transformed component records the DERIVED value, which numeric
    * band probes must not compare raw — they fall back to stats). */
  private[sources] def identityPartCol(meta: Map[String, String],
      column: String): Boolean = {
    val i = partColsAt(meta).indexWhere(_.equalsIgnoreCase(column))
    i >= 0 && parttransAt(meta).lift(i).forall(_ == "id")
  }

  /** Partition-value admission — the DIRECTORY-level pruning layer
    * (Delta/Hive partition pruning): every file group of a partitioned
    * table holds exactly ONE value tuple of the partition columns,
    * recorded verbatim in the manifest (`#part:<dir>=<v1>␁<v2>…`), so
    * equality and IN probes on ANY subset of the columns prune at the
    * zero-file-open manifest level — no min/max approximation. The
    * equality compare is numeric when BOTH sides parse as doubles
    * (a probe like 1995.0 against a long recorded as "1995" must still
    * match), string-exact otherwise; the double path over-admits for
    * int64 values beyond 2^53 (distinct longs that collide as doubles
    * admit each other's groups), which is tolerated because every read
    * path re-applies the exact row filter — over-admission costs a
    * scan, never a wrong row. Range probes prune when the value parses
    * numeric. Groups without a recorded value (e.g. merged by an old
    * compaction) are conservatively kept — pruning degrades, never
    * lies. Nulls can't hide anywhere: partition writes refuse null
    * keys, so IsNull on a partition column admits nothing. */
  private[sources] def partAdmit(
      meta: Map[String, String], dir: String,
      f: org.apache.spark.sql.sources.Filter): Boolean = {
    import org.apache.spark.sql.sources._
    // bucket layouts prune EQUALITY/IN probes to the literal's one
    // bucket (ranges can't prune a hash layout — stats still can);
    // untagged groups (post-compaction) conservatively keep
    bucketSpecAt(meta) match {
      case Some((bc, n)) =>
        val tagged = meta.get(s"part:$dir").flatMap(_.toIntOption)
        def admit(v: Any): Boolean = tagged.forall(id =>
          bucketIdOfLiteral(v, n).forall(_ == id))
        return f match {
          case EqualTo(a, v) if a.equalsIgnoreCase(bc)       => admit(v)
          case EqualNullSafe(a, v)
              if a.equalsIgnoreCase(bc) && v != null         => admit(v)
          case In(a, vs) if a.equalsIgnoreCase(bc)           =>
            vs.exists(admit)
          case And(l, r) =>
            partAdmit(meta, dir, l) && partAdmit(meta, dir, r)
          case Or(l, r) =>
            partAdmit(meta, dir, l) || partAdmit(meta, dir, r)
          case _ => true
        }
      case None => ()
    }
    val pcs = partColsAt(meta)
    val pvs = meta.get(s"part:$dir").map(partValsAt).getOrElse(Nil)
    // untagged group (pre-partitioning legacy / merged by an old
    // compaction) or a component-count mismatch: conservatively keep
    if (pcs.isEmpty || pvs.size != pcs.size) return true
    val trs0 = parttransAt(meta)
    val trs = if (trs0.size == pcs.size) trs0 else pcs.map(_ => "id")
    // the recorded (component, transform) for filter attribute `a`, if
    // `a` is one of the partition SOURCE columns (ANY subset of the
    // tuple prunes)
    def valFor(a: String): Option[(String, String)] =
      pcs.indexWhere(_.equalsIgnoreCase(a)) match {
        case -1 => None
        case i  => Some((pvs(i), trs(i)))
      }
    def str(v: Any) = String.valueOf(v)
    // equality: compare numerically when BOTH sides parse as numbers
    // (a probe like 1995.0 against a long partition recorded as
    // "1995" must still match — falsely pruning the only matching
    // group would silently return empty); string-exact otherwise
    def eq(p: String, v: Any): Boolean =
      (p.toDoubleOption, str(v).toDoubleOption) match {
        case (Some(x), Some(d)) => x == d
        case _ => p == str(v)
      }
    def cmp(p: String, v: Any)(ok: (Double, Double) => Boolean): Boolean =
      (p.toDoubleOption, v match {
        case n: Number => Some(n.doubleValue()); case _ => None
      }) match {
        case (Some(x), Some(d)) => ok(x, d)
        case _ => true
      }
    // transformed components: map the SOURCE-column literal through
    // the transform driver-side — every supported transform is MONOTONE
    // non-decreasing, so `src > X ⇒ t(src) >= t(X)` (strict ranges
    // widen to inclusive, exact at day granularity after the residual
    // filter); untransformable literals keep the group
    def eqT(pt: (String, String), v: Any): Boolean = pt match {
      case (p, "id") => eq(p, v)
      case (p, t) => transformLiteralV(t, v).forall(eq(p, _))
    }
    def rangeT(pt: (String, String), v: Any,
        okN: (Double, Double) => Boolean,
        okS: (String, String) => Boolean): Boolean = {
      val (p, t) = pt
      // hash transforms are NOT monotone — a range probe on a bucket
      // component keeps every group (only equality/IN prune a hash)
      if (t.startsWith("bucket:")) return true
      transformLiteralV(t, v) match {
        case None => true
        case Some(tv) =>
          (p.toDoubleOption, str(tv).toDoubleOption) match {
            case (Some(x), Some(d)) => okN(x, d)
            // trunc over strings: fixed-width prefixes preserve
            // lexicographic order, so the prefix compare is sound
            case _ if t.startsWith("trunc:") => okS(p, str(tv))
            case _ => true
          }
      }
    }
    f match {
      case EqualTo(a, v)       => valFor(a).forall(eqT(_, v))
      case EqualNullSafe(a, v) =>
        valFor(a).forall(pt => v != null && eqT(pt, v))
      case In(a, vs)           =>
        valFor(a).forall(pt => vs.exists(eqT(pt, _)))
      case GreaterThan(a, v)   => valFor(a).forall { pt =>
        if (pt._2 == "id") cmp(pt._1, v)(_ > _)
        else rangeT(pt, v, _ >= _, _ >= _) }
      case GreaterThanOrEqual(a, v) => valFor(a).forall { pt =>
        if (pt._2 == "id") cmp(pt._1, v)(_ >= _)
        else rangeT(pt, v, _ >= _, _ >= _) }
      case LessThan(a, v)      => valFor(a).forall { pt =>
        if (pt._2 == "id") cmp(pt._1, v)(_ < _)
        else rangeT(pt, v, _ <= _, _ <= _) }
      case LessThanOrEqual(a, v) => valFor(a).forall { pt =>
        if (pt._2 == "id") cmp(pt._1, v)(_ <= _)
        else rangeT(pt, v, _ <= _, _ <= _) }
      case IsNull(a)           => valFor(a) match {
        // identity/time/trunc components refuse null keys at write
        // time, so IsNull proves empty; a bucket component hashes
        // NULL like Spark's hash(NULL) = seed 42 → one bucket
        case Some((p, t)) if t.startsWith("bucket:") =>
          val n = t.drop("bucket:".length).toInt
          eq(p, ((42 % n) + n) % n)
        case Some(_) => false
        case None    => true
      }
      case And(l, r) => partAdmit(meta, dir, l) && partAdmit(meta, dir, r)
      case Or(l, r)  => partAdmit(meta, dir, l) || partAdmit(meta, dir, r)
      case _ => true
    }
  }

  /** File groups of the latest version whose [min,max] for `column`
    * intersects [lo, hi]; groups without stats are conservatively kept.
    * On a table partitioned BY `column`, the recorded partition value
    * decides exactly (containment preferred over stats). Exposed for
    * tests/inspection — [[readWhere]] is the read path. */
  def selectGroups(spark: SparkSession, root: String, column: String,
                   lo: Double, hi: Double): Seq[String] = {
    val v = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    val meta = manifestMeta(spark, root, v)
    val partitioned = identityPartCol(meta, column)
    readManifest(spark, root, v).filter { dir =>
      (if (partitioned) partValFor(meta, dir, column).map(_.toDoubleOption)
       else None)
      match {
        case Some(Some(x)) => x >= lo && x <= hi
        case Some(None) => true // non-numeric partition value: keep
        case None => meta.get(s"stat:$dir:$column") match {
          // a string-typed stat (`S:` marker) can't answer a numeric
          // band — admit (over-scan, never a wrong prune)
          case Some(s) if !s.startsWith("S:") =>
            val Array(mn, mx) = s.split(",").map(_.toDouble)
            mx >= lo && mn <= hi
          case _ => true
        }
      }
    }
  }

  /** Data-skipping read: scans only the file groups whose stats admit
    * `column ∈ [lo, hi]`, then applies the exact filter. At scale this is
    * the manifest-level pruning layer ABOVE parquet row-group pruning —
    * skipped groups cost zero file opens. The admitted groups read
    * through [[readDirsSubset]] (the lake scan), where the band also
    * pushes into its footer skipping. A renamed filter column finds no
    * physical stat keys and admits every group (no pruning, still
    * correct), and pruning stays
    * CONSERVATIVE under masks: a mask only removes rows, so a group
    * admitted by its (pre-mask) stats over-admits, never lies. */
  def readWhere(spark: SparkSession, root: String, column: String,
                lo: Double, hi: Double): DataFrame = {
    val v = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    val df = readDirsSubset(spark, root, Some(v),
      selectGroups(spark, root, column, lo, hi).toSet)
    val band = col(column).cast("double").between(lo, hi)
    // Catalyst unwraps the cast for narrower integral and float
    // columns, so the band pushes as is; a long column's cast is
    // lossy and stays put, but below 2^53 every long converts
    // exactly, so long bounds select the same rows and push
    val exact = Seq(lo, hi).forall(b => math.abs(b) < (1L << 53))
    val long = df.schema.find(_.name.equalsIgnoreCase(column))
      .exists(_.dataType == org.apache.spark.sql.types.LongType)
    if (long && exact) df.filter(col(column) >= math.ceil(lo).toLong &&
      col(column) <= math.floor(hi).toLong && band)
    else df.filter(band)
  }

  /** Build per-file-group Bloom-filter indexes for `cols` over the
    * LATEST snapshot — the Delta-style bloom index that prunes EQUALITY
    * lookups min/max stats can't: a high-cardinality key scattered
    * across groups spans every group's [min,max], but each group's
    * bloom answers "definitely not here" for specific values. Filters
    * are built distributed (one [[graft.functions.BloomBuildAgg]] pass
    * per group, sized to the group's row count), written as immutable
    * sidecar files under `_index/` (keyed by the COW-immutable group
    * dir, so an index entry can never go stale), and referenced from a
    * metadata-only commit (`#bloom:<dir>:<col>=<sidecar>`, op=index —
    * no data rewrite, same file groups). Groups already indexed for a
    * column are skipped, so re-running after appends only indexes the
    * new groups. Returns the committed version. */
  def indexBloom(spark: SparkSession, root: String, cols: Seq[String],
                 fpp: Double = 0.01): Int = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val v = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    val dirs = readManifest(spark, root, v)
    val meta = manifestMeta(spark, root, v)
    cols.foreach(c => requireNotRenamed(meta, c, "bloom indexing"))
    val f = fs(spark, root)
    f.mkdirs(new Path(root, "_index"))
    val added = for {
      dir <- dirs; c <- cols
      if !meta.contains(s"bloom:$dir:$c")
    } yield {
      val df = spark.read.parquet(new Path(root, dir).toString)
      val expected = math.max(64L, df.count())
      val agg = graft.functions.BloomBuildAgg(
        ColumnBridge.expression(col(c)), expected, fpp)
      val bytes = df.agg(ColumnBridge.column(agg.toAggregateExpression()))
        .head().getAs[Array[Byte]](0)
      val rel = s"_index/bloom-${dir.replace('/', '_')}-$c.bin"
      val out = f.create(new Path(root, rel), true)
      try out.write(bytes) finally out.close()
      s"bloom:$dir:$c" -> rel
    }
    commitVersion(spark, root, v + 1, dirs,
      carryMeta(meta) ++ added + ("op" -> "index"))
  }

  /** Planning-time bloom sidecars are tiny and immutable (COW dirs) —
    * cache per (root, sidecar) so a multi-probe plan loads each once. */
  private val bloomCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.util.sketch.BloomFilter]()

  private def loadBloom(spark: SparkSession, root: String,
                        rel: String): org.apache.spark.util.sketch.BloomFilter =
    bloomCache.computeIfAbsent(s"$root/$rel", _ => {
      val in = fs(spark, root).open(new Path(root, rel))
      try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
      finally in.close()
    })

  /** Mirror of [[graft.functions.BloomBuildAgg]]'s key encoding —
    * integral types probe as longs, strings as UTF-8 bytes; anything
    * else is conservatively "might contain". */
  private def bloomMightContain(
      bf: org.apache.spark.util.sketch.BloomFilter, v: Any): Boolean =
    v match {
      case l: Long => bf.mightContainLong(l)
      case i: Int => bf.mightContainLong(i.toLong)
      case s: Short => bf.mightContainLong(s.toLong)
      case b: Byte => bf.mightContainLong(b.toLong)
      case s: String =>
        bf.mightContainBinary(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case u: org.apache.spark.unsafe.types.UTF8String =>
        bf.mightContainBinary(u.getBytes)
      case _ => true
    }

  /** Bloom twin of [[statsAdmit]]: can file group `dir` possibly hold a
    * row satisfying `f`? Only equality shapes consult the index
    * (EqualTo / In — range predicates are min/max territory); groups or
    * columns without an index are conservatively kept. */
  private[sources] def bloomAdmit(
      spark: SparkSession, root: String, meta: Map[String, String],
      dir: String, f: org.apache.spark.sql.sources.Filter): Boolean = {
    import org.apache.spark.sql.sources._
    def probe(a: String, v: Any): Boolean =
      meta.get(s"bloom:$dir:$a") match {
        case Some(rel) if v != null =>
          bloomMightContain(loadBloom(spark, root, rel), v)
        case _ => true
      }
    f match {
      case EqualTo(a, v) => probe(a, v)
      case In(a, vs) => vs.isEmpty || vs.exists(v => probe(a, v))
      case And(l, r) => bloomAdmit(spark, root, meta, dir, l) &&
        bloomAdmit(spark, root, meta, dir, r)
      case Or(l, r) => bloomAdmit(spark, root, meta, dir, l) ||
        bloomAdmit(spark, root, meta, dir, r)
      case _ => true
    }
  }

  /** Point-lookup read: scans only the file groups whose min/max stats
    * AND bloom index admit `column = value`, then applies the exact
    * filter — the needle-in-100TB path: manifest stats bound the range,
    * the bloom disproves membership group by group, and only the
    * surviving group(s) open a parquet footer. The admitted groups read
    * through [[readDirsSubset]] (the lake scan), where the deletes apply
    * inside the reader and the pushed `EqualTo` also skips files by
    * footer stats. */
  def readWhereEq(spark: SparkSession, root: String, column: String,
                  value: Any): DataFrame = {
    val v = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    // a renamed column simply finds no physical stat/bloom keys and
    // admits every group — no pruning, still correct; the subset read
    // restores the logical shape before the exact filter
    readDirsSubset(spark, root, Some(v),
      selectGroupsEq(spark, root, column, value).toSet)
      .filter(col(column) === lit(value))
  }

  /** File groups an equality probe on `column = value` would scan —
    * exposed for tests/inspection, [[readWhereEq]] is the read path. */
  def selectGroupsEq(spark: SparkSession, root: String, column: String,
                     value: Any): Seq[String] = {
    val v = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    val meta = manifestMeta(spark, root, v)
    val eq = org.apache.spark.sql.sources.EqualTo(column, value)
    readManifest(spark, root, v).filter(dir =>
      partAdmit(meta, dir, eq) && statsAdmit(meta, dir, eq) &&
        bloomAdmit(spark, root, meta, dir, eq))
  }

  /** Resolved absolute data-dir paths of a snapshot (`version = None` →
    * latest). */
  def dataDirPaths(spark: SparkSession, root: String,
                   version: Option[Int] = None): Seq[String] =
    readManifest(spark, root, existingVersion(spark, root, version))
      .map(groupDir(root, _))

  /** `new Path(root, rel).toString`, memoized: the URI parse costs
    * ~10 µs and every read resolves each group dir of its snapshot
    * (schema, listing). A pure function of its arguments, so never
    * stale; bounded like the group listings. */
  private[sources] def groupDir(root: String, rel: String): String = {
    val key = (root, rel)
    Option(groupDirs.get(key)).getOrElse {
      val abs = new Path(root, rel).toString
      if (groupDirs.size > 100000) groupDirs.clear()
      groupDirs.put(key, abs)
      abs
    }
  }
  private val groupDirs =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  /** `version`, or the latest when None; fails when there is no table
    * at `root` or no such version. */
  private[sources] def existingVersion(spark: SparkSession, root: String,
      version: Option[Int]): Int = {
    val vs = versions(spark, root)
    if (vs.isEmpty) throw new IllegalStateException(s"no table at $root")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v),
      s"version $v does not exist at $root (have ${vs.mkString(",")})")
    v
  }

  /** CREATE TABLE without data: version 1 lists no file groups and
    * declares the schema as a manifest override — the same mechanism
    * ALTER uses ([[evolveSchema]]), so empty-table reads project typed
    * nulls over zero rows and the first INSERT is a plain append. */
  def createEmpty(spark: SparkSession, root: String,
                  schema: org.apache.spark.sql.types.StructType,
                  partCols: Seq[String] = Nil): Int = {
    require(latestVersion(spark, root).isEmpty,
      s"table already exists at $root")
    // an empty table may DECLARE its partition columns up front (the
    // SQL `CREATE TABLE … PARTITIONED BY` path): appends then route
    // rows to per-tuple groups from the first batch on
    val partMeta =
      if (partCols.isEmpty) None
      else Some("partcol" -> resolvePartCols(schema, partCols).mkString(","))
    commitVersion(spark, root, 1, Seq.empty,
      Map("op" -> "create", "schema" -> schema.json) ++ partMeta)
  }

  /** ALTER TABLE ADD COLUMNS as a metadata-only commit: the new version
    * lists the SAME data dirs plus a `#schema=` override (the full
    * evolved schema as DataType JSON). No data is rewritten — columns
    * not yet present in any parquet group read as typed nulls, and the
    * override carries forward through later commits (see
    * [[commitVersion]]). Time travel below the evolution version keeps
    * the old schema — history is immutable, including its shape. */
  def evolveSchema(spark: SparkSession, root: String,
                   newFields: org.apache.spark.sql.types.StructType): Int = {
    val cur = read(spark, root).schema
    val dropped = latestVersion(spark, root)
      .map(v => colDropsAt(manifestMeta(spark, root, v)))
      .getOrElse(Seq.empty)
    newFields.fieldNames.foreach { n =>
      require(!cur.fieldNames.map(_.toLowerCase).contains(n.toLowerCase),
        s"column $n already exists at $root")
      require(!dropped.exists(_.equalsIgnoreCase(n)),
        s"column name '$n' was dropped metadata-only at $root and cannot " +
          "be re-added until a rewrite materializes the drop")
    }
    val evolved = org.apache.spark.sql.types.StructType(
      cur.fields ++ newFields.fields)
    val v = latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    // metadata-only commit over the SAME dirs: every sidecar family
    // stays valid, so carry the whole manifest state — carrying only a
    // subset here once DROPPED the MOR delete list, silently
    // resurrecting deleted rows on the next read (regression-tested)
    val carried = carryMeta(manifestMeta(spark, root, v)) - "schema"
    commitVersion(spark, root, v + 1, readManifest(spark, root, v),
      carried + ("op" -> "add-columns") + ("schema" -> evolved.json))
  }

  // ---- column rename via column mapping (Delta's name-mapping) -------

  /** The rename mapping of a manifest: physical (on-disk parquet) name
    * → current logical name, only for renamed columns. */
  private[sources] def colMapAt(
      meta: Map[String, String]): Seq[(String, String)] =
    meta.get("colmap").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
      .map { kv =>
        val Array(p, l) = kv.split("=", 2); (p, l)
      }

  /** Logical → physical projection of an incoming batch (the write-side
    * inverse of [[logicalName]]) — appended files always carry PHYSICAL
    * names so every file group in the table shares one on-disk schema. */
  private def toPhysical(meta: Map[String, String],
                         df: DataFrame): DataFrame =
    colMapAt(meta).foldLeft(df) { case (d, (phys, log)) =>
      if (d.columns.exists(_.equalsIgnoreCase(log)))
        d.withColumnRenamed(log, phys)
      else d
    }

  /** Logical column names dropped metadata-only ([[dropColumn]]) —
    * still present in the physical files until a rewrite. */
  private[sources] def colDropsAt(meta: Map[String, String]): Seq[String] =
    meta.get("coldrop").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)

  /** The logical name a PHYSICAL parquet column reads as under a
    * snapshot's column mapping: a renamed column its logical name, a
    * metadata-only drop None, any other column itself. */
  private[sources] def logicalName(meta: Map[String, String],
      physical: String): Option[String] =
    if (colDropsAt(meta).exists(_.equalsIgnoreCase(physical))) None
    else Some(colMapAt(meta).find(_._1.equalsIgnoreCase(physical))
      .fold(physical)(_._2))

  /** The inverse of [[logicalName]]: the parquet column a LOGICAL column
    * reads from. None when the mapping took that physical name away (it
    * was renamed from or dropped) — the column then reads as typed
    * nulls. */
  private[sources] def physicalName(meta: Map[String, String],
      logical: String): Option[String] = {
    val renamed = colMapAt(meta)
    renamed.find(_._2.equalsIgnoreCase(logical)).map(_._1).orElse(
      if (renamed.exists(_._1.equalsIgnoreCase(logical)) ||
          colDropsAt(meta).exists(_.equalsIgnoreCase(logical))) None
      else Some(logical))
  }

  /** Refuse a rename/drop of a column any committed metadata binds by
    * name — CHECK constraints, the MOR delete key, stats/bloom/ANN
    * sidecar entries (Delta gates these behind protocol upgrades or
    * rewrites for the same reason). */
  private def requireUnreferenced(meta: Map[String, String],
                                  colName: String, what: String): Unit =
    meta.foreach { case (k, value) =>
      def named(c: String) = c.equalsIgnoreCase(colName)
      val referenced =
        (k.startsWith("check:") &&
          ("""\b""" + java.util.regex.Pattern.quote(colName) + """\b""").r
            .findFirstIn(value).isDefined) ||
        (k == "deletekey" && named(value)) ||
        (k == "partcol" && value.split(",", -1).exists(named)) ||
        (k.startsWith("unique:") && named(value)) ||
        // value.nonEmpty: a DROP DEFAULT tombstone (empty value) no
        // longer binds the column and must not block its rename/drop
        (k.startsWith("default:") && value.nonEmpty &&
          named(k.drop("default:".length))) ||
        (k.startsWith("gencol:") && value.nonEmpty &&
          (named(k.drop("gencol:".length)) ||
          ("\\b" + java.util.regex.Pattern.quote(colName) + "\\b").r
            .findFirstIn(value).isDefined)) ||
        (k.startsWith("identity:") && named(k.drop("identity:".length))) ||
        (k.startsWith("annmodel:") && named(k.drop("annmodel:".length))) ||
        ((k.startsWith("stat:") || k.startsWith("bloom:") ||
          k.startsWith("anncodes:") || k.startsWith("hllsk:") ||
          k.startsWith("kllsk:")) &&
          named(k.split(":").last))
      if (referenced) throw new UnsupportedOperationException(
        s"cannot $what '$colName': referenced by committed " +
          s"metadata '$k'; drop/materialize it first (compact clears " +
          "file-keyed sidecars)")
    }

  /** Fail fast when `colName` is a RENAMED logical column — the
    * sidecar-building paths (bloom, ANN, stats) read raw physical
    * frames and would miss it; `compact` bakes the logical names into
    * fresh files and clears the mapping, after which everything works. */
  private[sources] def requireNotRenamed(meta: Map[String, String],
                                         colName: String,
                                         what: String): Unit =
    colMapAt(meta).find(_._2.equalsIgnoreCase(colName)).foreach { _ =>
      throw new UnsupportedOperationException(
        s"$what on renamed column '$colName' is not supported while the " +
          "rename is metadata-only; materialize it first " +
          "(LakeTable.compact) to bake logical names into the files")
    }

  /** ALTER TABLE RENAME COLUMN as a METADATA-ONLY commit (Delta's
    * column-mapping mode): no parquet byte is rewritten — the manifest
    * records physical→logical in `#colmap=`, [[read]] projects it, and
    * appends write the physical name so all file groups keep one
    * on-disk schema. Time travel below the rename keeps the old name
    * (history is immutable, including its shape). Copy-on-write
    * rewrites ([[deleteWhere]]/[[merge]]/[[compact]]) materialize
    * logical names into fresh files and DROP the mapping — rename
    * costs nothing now and is amortized into the next rewrite.
    *
    * Refused while any sidecar references the column by name — CHECK
    * constraints, the MOR delete key, stats/bloom/ANN entries — since
    * those bind the old name (Delta gates renames behind a protocol
    * upgrade for the same reason). New sidecars on the renamed column
    * are refused until a compact materializes it
    * ([[requireNotRenamed]]); CHECK constraints and MOR deletes added
    * AFTER the rename work immediately (they evaluate on logical
    * frames). */
  def renameColumn(spark: SparkSession, root: String,
                   oldName: String, newName: String): Int = {
    require(newName.nonEmpty && !newName.contains(",") &&
      !newName.contains("=") && !newName.contains("\n"),
      s"bad column name: $newName")
    val v = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    val meta = manifestMeta(spark, root, v)
    val logical = read(spark, root).schema
    require(logical.fieldNames.exists(_.equalsIgnoreCase(oldName)),
      s"no column '$oldName' at $root " +
        s"(have ${logical.fieldNames.mkString(",")})")
    require(!logical.fieldNames.exists(_.equalsIgnoreCase(newName)),
      s"column '$newName' already exists at $root")
    require(!colDropsAt(meta).exists(_.equalsIgnoreCase(newName)),
      s"column name '$newName' was dropped metadata-only at $root and " +
        "cannot be reused until a rewrite materializes the drop")
    requireUnreferenced(meta, oldName, "rename")
    // collapse rename chains: phys→old becomes phys→new; a first rename
    // of a creation-time column adds old(=physical)→new
    val prior = colMapAt(meta)
    val mapped = prior.find(_._2.equalsIgnoreCase(oldName)) match {
      case Some((phys, _)) =>
        prior.map { case (p, l) => if (p == phys) (p, newName) else (p, l) }
      case None => prior :+ (oldName -> newName)
    }
    // the ALTER-declared schema (if any) is kept in LOGICAL names —
    // rename its field too so later reads project consistently
    val schemaMeta = meta.get("schema").map { js =>
      val st = org.apache.spark.sql.types.DataType.fromJson(js)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      "schema" -> org.apache.spark.sql.types.StructType(st.fields.map { f =>
        if (f.name.equalsIgnoreCase(oldName)) f.copy(name = newName) else f
      }).json
    }
    commitVersion(spark, root, v + 1, readManifest(spark, root, v),
      carryMeta(meta) - "colmap" - "schema" ++ schemaMeta +
        ("colmap" -> mapped.map { case (p, l) => s"$p=$l" }.mkString(",")) +
        ("op" -> "rename-column"))
  }

  /** ALTER TABLE DROP COLUMN as a METADATA-ONLY commit (the rename's
    * twin): no parquet byte is rewritten — the manifest records the
    * dropped PHYSICAL name in `#coldrop=` and every read projects it
    * out. Time travel below the drop still shows the column; a COW
    * rewrite materializes the narrowed schema and clears the entry.
    * The dropped name cannot be re-added ([[renameColumn]]/
    * [[evolveSchema]] refuse) until a rewrite physically removes the
    * old bytes — re-using it earlier would silently resurrect them.
    * Refused while committed metadata references the column
    * ([[requireUnreferenced]]); refused for the last column. */
  def dropColumn(spark: SparkSession, root: String, name: String): Int = {
    val v = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    val meta = manifestMeta(spark, root, v)
    val logical = read(spark, root).schema
    require(logical.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"no column '$name' at $root " +
        s"(have ${logical.fieldNames.mkString(",")})")
    require(logical.fields.length > 1,
      s"cannot drop the only column of $root")
    requireUnreferenced(meta, name, "drop")
    val prior = colMapAt(meta)
    val (dropPhys, remainingMap) =
      prior.find(_._2.equalsIgnoreCase(name)) match {
        case Some((phys, _)) => (phys, prior.filterNot(_._1 == phys))
        case None => (name, prior)
      }
    val drops = colDropsAt(meta) :+ dropPhys
    val schemaMeta = meta.get("schema").map { js =>
      val st = org.apache.spark.sql.types.DataType.fromJson(js)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      "schema" -> org.apache.spark.sql.types.StructType(
        st.fields.filterNot(_.name.equalsIgnoreCase(name))).json
    }
    commitVersion(spark, root, v + 1, readManifest(spark, root, v),
      carryMeta(meta) - "colmap" - "coldrop" - "schema" ++ schemaMeta ++
        (if (remainingMap.nonEmpty)
          Map("colmap" -> remainingMap
            .map { case (p, l) => s"$p=$l" }.mkString(","))
        else Map.empty) +
        ("coldrop" -> drops.mkString(",")) +
        ("op" -> "drop-column"))
  }

  /** The ALTER-declared schema at a version (latest if None), if any. */
  private[sources] def schemaOverrideAt(
      spark: SparkSession, root: String,
      version: Option[Int]): Option[org.apache.spark.sql.types.StructType] = {
    val vs = versions(spark, root)
    version.orElse(vs.lastOption)
      .filter(vs.contains)
      .flatMap(v => manifestMetaAt(spark, root, v).get("schema"))
      .map(org.apache.spark.sql.types.DataType.fromJson(_)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** The snapshot's LOGICAL schema without building a read frame: an
    * ALTER/DDL-declared schema (the `schema` manifest key) IS the read
    * projection — served straight from the (cached) manifest, no
    * O(groups) file listing at analysis time. Without one, the groups'
    * scan schema ([[scanDirs]]: the uniform footer schema, cached per
    * group, else Spark's merged one) under the column mapping — renamed
    * columns take their logical names, metadata-only drops leave. An
    * empty snapshot without a declared schema has none. Every read's
    * table ([[GraftLakeTable]], [[GraftDvLakeTable]]) takes its schema
    * from here, so this never builds a read frame. */
  private[graft] def snapshotSchema(spark: SparkSession, root: String,
      version: Option[Int] = None)
      : org.apache.spark.sql.types.StructType =
    schemaOverrideAt(spark, root, version).getOrElse {
      val dirs = dataDirPaths(spark, root, version)
      if (dirs.isEmpty) throw new IllegalStateException(
        s"empty snapshot at $root has no declared schema")
      val meta = manifestMeta(spark, root,
        version.getOrElse(versions(spark, root).last))
      val footers =
        uniformSchemaOf(spark, dirs).getOrElse(scanDirs(spark, dirs).schema)
      org.apache.spark.sql.types.StructType(footers.fields.flatMap(f =>
        logicalName(meta, f.name).map(n => f.copy(name = n))))
    }

  /** Snapshot read; `version = None` → latest (time travel otherwise).
    * Every snapshot — plain, masked by deletion vectors or equality
    * deletes, renamed or dropped columns, a declared schema, or no
    * groups at all — reads as ONE lake scan ([[GraftDvBatchScan]]),
    * the relation SQL reads too: groups written
    * before a column existed read it as null, a declared schema's
    * columns no group carries read as typed nulls, each task applies
    * its files' masks and the snapshot's delete keys in the reader, and
    * pushed filters prune groups by partition, stats and bloom. */
  def read(spark: SparkSession, root: String,
           version: Option[Int] = None): DataFrame =
    readInternal(spark, root, version, keepLineage = false)

  /** [[read]] plus row LINEAGE: every row also carries `__file` (its
    * parquet file's key, [[fileKey]]) and `__pos` (its row index within
    * that file) — the positional identity deletion vectors key on —
    * from the lake scan's `__file`/`__pos` metadata columns (the
    * relation merge-on-read staging and the SQL row-level scan share).
    * Deletes and projections apply exactly as in [[read]]. */
  private[graft] def readWithLineage(spark: SparkSession, root: String,
      version: Option[Int] = None): DataFrame =
    readInternal(spark, root, version, keepLineage = true)

  private def readInternal(spark: SparkSession, root: String,
      version: Option[Int], keepLineage: Boolean,
      keepDirs: Option[Set[String]] = None): DataFrame =
    dvFrame(spark, root, existingVersion(spark, root, version), keepLineage,
      keepDirs)

  /** Whether a snapshot has deletion vectors or equality deletes — the
    * snapshots the catalog serves as [[GraftDvLakeTable]], whose
    * row-level DML stacks merge-on-read commits. */
  private[sources] def nativeDvOk(meta: Map[String, String]): Boolean =
    dvState(meta).nonEmpty || deleteState(meta).nonEmpty

  /** Snapshot `v` as ONE lake scan ([[GraftDvBatchScan]]) — each
    * file's mask and the delete keys applied inside the reader, plus
    * the reader's `__file`/`__pos` columns when `lineage` — over the
    * file groups `dirs` (relative manifest entries) when set, else all
    * of them. The relation is pinned to
    * `v`: the frame serves the snapshot it was built on, whatever
    * commits land before it runs. */
  private def dvFrame(spark: SparkSession, root: String, v: Int,
      lineage: Boolean, dirs: Option[Set[String]] = None): DataFrame = {
    val rel = org.apache.spark.sql.execution.datasources.v2
      .DataSourceV2Relation.create(
        new GraftDvLakeTable(root, root, Some(v), dirs), None, None)
    org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(spark,
      if (lineage) rel.withMetadataColumns() else rel)
  }

  /** File groups of snapshot `version` admitted by EVERY filter under
    * the manifest's partition values, min/max stats and bloom indexes —
    * the admission chain of every lake scan ([[GraftDvBatchScan]]).
    * Returns (kept relative
    * dirs, total group count). Conservative by construction: groups
    * without the needed metadata are kept, so a pruned read over-scans
    * but never lies. */
  private[sources] def pruneDirsForFilters(spark: SparkSession,
      root: String, version: Option[Int],
      filters: Seq[org.apache.spark.sql.sources.Filter])
      : (Seq[String], Int) = {
    val v = version.getOrElse(versions(spark, root).lastOption.getOrElse(
      throw new IllegalStateException(s"no table at $root")))
    val dirs = readManifest(spark, root, v)
    (admittedDirs(spark, root, manifestMeta(spark, root, v), dirs, filters),
      dirs.size)
  }

  /** The groups of `dirs` admitted by every filter of `filters` under
    * snapshot `meta`'s partition values, min/max stats and bloom
    * indexes. */
  private[sources] def admittedDirs(spark: SparkSession, root: String,
      meta: Map[String, String], dirs: Seq[String],
      filters: Seq[org.apache.spark.sql.sources.Filter]): Seq[String] =
    if (filters.isEmpty) dirs
    else dirs.filter(d => filters.forall(f =>
      partAdmit(meta, d, f) && statsAdmit(meta, d, f) &&
        bloomAdmit(spark, root, meta, d, f)))

  /** Test/inspection forwarder for [[pruneDirsForFilters]]. */
  private[graft] def pruneProbe(spark: SparkSession, root: String,
      version: Option[Int],
      filters: Seq[org.apache.spark.sql.sources.Filter])
      : (Seq[String], Int) =
    pruneDirsForFilters(spark, root, version, filters)

  /** [[read]] restricted to a subset of the snapshot's file groups
    * (relative manifest entries) — column mapping, declared-schema
    * projection and the delete state apply exactly as in the full read,
    * so a stats-pruned scan of a masked snapshot serves the same frame
    * over fewer bytes. */
  private[sources] def readDirsSubset(spark: SparkSession, root: String,
      version: Option[Int], keptRel: Set[String]): DataFrame =
    readInternal(spark, root, version, keepLineage = false,
      keepDirs = Some(keptRel))

  /** MERGE (upsert): rows in `updates` replace current rows with equal
    * `key`; unmatched update rows are inserted. Copy-on-write: writes a
    * full new file group for the merged table, commits a new version.
    * Concurrent readers keep their snapshot. */
  def merge(spark: SparkSession, root: String, updates: DataFrame,
            key: String, meta: Map[String, String] = Map.empty): Int = {
    latestVersion(spark, root)
      .foreach(v => enforceConstraints(spark, root, v, updates))
    val current = read(spark, root)
    val merged = current
      .join(updates.select(col(key)), Seq(key), "left_anti")
      .unionByName(updates)
    // UNIQUE admission: a merge keyed on the unique column is the
    // upsert path and always passes; a merge keyed on ANOTHER column
    // could smuggle a duplicate in, so validate the merged result
    // (one aggregate over rows the COW rewrite reads anyway)
    latestVersion(spark, root).foreach { v =>
      enforceUnique(manifestMeta(spark, root, v), merged, None,
        "by merge result") }
    // CDC tags match the snapshot-diff feed: keyed rows that existed
    // pair as update pre/post images, fresh keys are inserts
    def tagged = {
      val curKeys = current.select(col(key)).distinct()
      current.join(updates.select(col(key)), Seq(key), "left_semi")
        .withColumn("_change_type", lit("update_preimage"))
      .unionByName(updates.join(curKeys, Seq(key), "left_semi")
        .withColumn("_change_type", lit("update_postimage")))
      .unionByName(updates.join(curKeys, Seq(key), "left_anti")
        .withColumn("_change_type", lit("insert")))
    }
    withStagedCdc(spark, root, tagged) { extra =>
      commit(spark, root, Seq(writeDataFiles(spark, root, merged)),
        Map("op" -> "merge") ++ meta ++ extra)
    }
  }

  /** Change-data feed between two committed versions, by snapshot diff —
    * rows tagged `insert` / `update_preimage` / `update_postimage` /
    * `delete` in a `_change_type` column, keyed on `key`.
    *
    * Scale design: a row can only have changed if its file group was
    * added or removed between the versions, or if the window added
    * delete state (equality deletes, deletion vectors) that hides it, so
    * the diff reads groups SHARED by the two manifests only for the
    * latter and the scan is bounded by the churn, not the table (a pure
    * append diffs only the appended files; zero old rows are read).
    * Copy-on-write rewrites land everything in "added"+"removed", where
    * the signed multiset diff cancels the unchanged rows exactly. Every
    * side reads through the dv reader ([[dvFrame]]). */
  def changes(spark: SparkSession, root: String, fromV: Int, toV: Int,
              key: String): DataFrame = {
    val beforeDirs = readManifest(spark, root, fromV).toSet
    val afterDirs = readManifest(spark, root, toV).toSet
    val shared = beforeDirs intersect afterDirs
    val metaBefore = manifestMeta(spark, root, fromV)
    val metaAfter = manifestMeta(spark, root, toV)
    // every side is one dv-reader scan of ITS version over its groups,
    // so each masks with its own delete state (rows already gone at
    // fromV never re-emit; a second MOR update inside the window masks
    // rows of the first update's replacement group). The TO version's
    // shape is the feed's: fromV's sides take toV's logical names
    // through the physical names (a rename crossing the window), with
    // typed nulls for columns fromV lacks (an ADD COLUMNS)
    val added = dvFrame(spark, root, toV, lineage = false,
      Some(afterDirs -- beforeDirs))
    def asAfter(df: DataFrame, keep: String*): DataFrame = df.select(
      added.schema.fields.toSeq.map { f =>
        physicalName(metaAfter, f.name).flatMap(logicalName(metaBefore, _))
          .flatMap(n => df.schema.fieldNames.find(_.equalsIgnoreCase(n)))
          .fold(lit(null).cast(f.dataType))(col).as(f.name)
      } ++ keep.map(col): _*)
    val removed = asAfter(dvFrame(spark, root, fromV, lineage = false,
      Some(beforeDirs -- afterDirs)))
    // rows of the SHARED groups visible at fromV, with lineage: a MOR
    // delete or update churns no shared dir, so its removed rows are
    // these rows that toV's new delete state hides
    lazy val before = asAfter(dvFrame(spark, root, fromV, lineage = true,
      Some(shared)), FileCol, PosCol)
    // a MOR delete commit's change rows are the rows whose keys joined
    // the delete list in the window (sidecar lists are append-only until
    // a rewrite drops them with the old dirs, so the path-set diff is
    // the delta)
    val beforePaths = deleteState(metaBefore).map(_._2.toSet)
      .getOrElse(Set.empty[String])
    val newDeletePaths = deleteState(metaAfter).map(_._2.toSet)
      .getOrElse(Set.empty[String]) -- beforePaths
    val morDeleted: Option[DataFrame] =
      if (newDeletePaths.isEmpty) None
      else {
        val k = metaAfter("deletekey")
        val keys = spark.read.parquet(
            newDeletePaths.toSeq.map(r => new Path(root, r).toString): _*)
          .select(col(k)).distinct()
        Some(before.join(keys, Seq(k), "left_semi").drop(FileCol, PosCol))
      }
    // a MOR UPDATE churns only its replacement dir — its PREIMAGE rows
    // sit at the window's NEW dv positions of shared groups: semi-join
    // them and feed them to the REMOVED side — the key-window
    // classification below then pairs them with the replacement rows as
    // update_preimage/update_postimage (or emits a lone positional
    // delete as `delete`) with no special-casing.
    val newDvPaths = dvState(metaAfter).toSet -- dvState(metaBefore).toSet
    val dvPre: Option[DataFrame] =
      if (newDvPaths.isEmpty || shared.isEmpty) None
      else {
        val keys = dvMaskFrame(spark, root, newDvPaths.toSeq)
          .select(col(FileCol), col(PosCol)).distinct()
        Some(before.join(keys, Seq(FileCol, PosCol), "left_semi")
          .drop(FileCol, PosCol))
      }
    // single-pass signed multiset diff: one aggregation over the churned
    // rows replaces the exceptAll-per-tag formulation, whose diff subtree
    // Catalyst would re-evaluate once per change-type branch (6× the
    // shuffle for the same answer). `_net` > 0 ⇒ the row gained |net|
    // copies in the after-version, < 0 ⇒ lost; rows COW-rewritten
    // unchanged cancel to 0 here exactly as they did under exceptAll.
    val dataCols = added.columns.toSeq
    val removedAll = dvPre.fold(removed)(removed.unionByName(_))
    val net = added.withColumn("_side", lit(1L))
      .unionByName(removedAll.withColumn("_side", lit(-1L)))
      .groupBy(dataCols.map(col): _*)
      .agg(sum(col("_side")).as("_net"))
      .filter(col("_net") =!= 0L)
    // a key with changed rows on both sides changed content → update;
    // one-sided keys are pure inserts/deletes (window, not join — the
    // key-flag pass rides the same hash partitioning, null-key-safe)
    val wKey = org.apache.spark.sql.expressions.Window.partitionBy(col(key))
    val churn = net
      .withColumn("_hasPost",
        max(when(col("_net") > 0, 1).otherwise(0)).over(wKey))
      .withColumn("_hasPre",
        max(when(col("_net") < 0, 1).otherwise(0)).over(wKey))
      .withColumn("_change_type",
        when(col("_net") > 0 && col("_hasPre") === 1,
          lit("update_postimage"))
          .when(col("_net") > 0, lit("insert"))
          .when(col("_net") < 0 && col("_hasPost") === 1,
            lit("update_preimage"))
          .otherwise(lit("delete")))
      // restore multiset multiplicity (|net| copies of each changed row)
      .withColumn("_dup", explode(sequence(lit(1L), abs(col("_net")))))
      .select(dataCols.map(col) :+ col("_change_type"): _*)
    morDeleted.fold(churn)(d => churn.unionByName(
      d.select(dataCols.map(col): _*)
        .withColumn("_change_type", lit("delete"))))
  }

  /** DELETE WHERE: copy-on-write removal of matching rows. SQL DELETE
    * semantics: only rows where the predicate is TRUE are removed —
    * rows where it evaluates NULL (three-valued logic) are KEPT, hence
    * the coalesce rather than a bare negation. */
  def deleteWhere(spark: SparkSession, root: String,
                  predicate: org.apache.spark.sql.Column): Int = {
    val remaining =
      read(spark, root).filter(not(coalesce(predicate, lit(false))))
    val deleted = read(spark, root).filter(coalesce(predicate, lit(false)))
    // CDC sidecar STAGES before the commit and is referenced by it
    // (stage-then-reference — a live stream never sees a committed
    // version whose sidecar is still in flight)
    val cdc = withStagedCdc(spark, root,
      deleted.withColumn("_change_type", lit("delete"))) { extra =>
      commit(spark, root, Seq(writeDataFiles(spark, root, remaining)),
        Map("op" -> "delete") ++ extra)
    }
    cdc
  }

  /** Run `commitFn` with a staged change sidecar's `cdc` meta entry
    * (empty when the table hasn't opted into CDF); a failed commit
    * deletes the orphaned stage before rethrowing. */
  private def withStagedCdc(spark: SparkSession, root: String,
                            tagged: => DataFrame)(
                            commitFn: Map[String, String] => Int): Int =
    if (!isCdfEnabled(spark, root)) commitFn(Map.empty)
    else {
      val rel = stageChangeSidecar(spark, root, tagged)
      try commitFn(Map("cdc" -> rel))
      catch { case e: Throwable =>
        fs(spark, root).delete(new Path(root, rel), true)
        throw e
      }
    }

  // ——— change-data-feed sidecars ————————————————————————————————————

  /** Opt into the change-data feed (Delta's
    * `delta.enableChangeDataFeed`): from this commit on, row-CHANGING
    * operations (delete / merge / replaceWhere / overwrite) also
    * persist their tagged change rows under `changes/v<N>/`, so the
    * [[GraftLakeCdfSource streaming CDF source]] can serve every
    * version as a pure file scan. Appends never write sidecars — their
    * change rows ARE the appended data files, tagged `insert` at read
    * time (Delta's optimization; an append-heavy table pays zero extra
    * bytes). The flag is one manifest line and auto-carries. */
  def enableChangeFeed(spark: SparkSession, root: String): Int = {
    val v = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    commitVersion(spark, root, v + 1, readManifest(spark, root, v),
      carryMeta(manifestMeta(spark, root, v)) +
        ("cdf" -> "true") + ("op" -> "set-cdf"))
  }

  private[sources] def cdfAt(meta: Map[String, String]): Boolean =
    meta.get("cdf").contains("true")

  private def isCdfEnabled(spark: SparkSession, root: String): Boolean =
    latestVersion(spark, root)
      .exists(v => cdfAt(manifestMeta(spark, root, v)))

  /** Stage a version's tagged change rows (data columns +
    * `_change_type`) as `changes/<uuid>/` parquet, BEFORE the commit
    * that will reference it via its `#cdc=` manifest key — the same
    * stage-then-reference protocol data files use, so a live CDF
    * stream can never observe a committed row-changing version whose
    * sidecar hasn't landed yet, and a LOSING commit's orphaned stage
    * is deleted by its writer (never referenced, never served).
    * Sidecars are owned by their version — [[vacuum]]/[[purge]] delete
    * them with the dropped manifests. */
  private def stageChangeSidecar(spark: SparkSession, root: String,
                                 tagged: DataFrame): String = {
    val rel = s"changes/${java.util.UUID.randomUUID().toString}"
    tagged.write.mode(SaveMode.ErrorIfExists)
      .parquet(new Path(root, rel).toString)
    rel
  }

  /** The committed change-sidecar path of a version, if any. */
  private[sources] def cdcPathAt(meta: Map[String, String]): Option[String] =
    meta.get("cdc")

  /** Delta's `replaceWhere` — atomically replace the rows with
    * `column ∈ [lo, hi]` by `df`, in ONE commit (the partition-
    * overwrite idiom: "reprocess July" without touching any other
    * month and without a delete+append window where readers see
    * neither). Semantics match Delta:
    *  - CONTAINMENT: every incoming row must satisfy the predicate —
    *    a row outside the band rejects the whole write before any
    *    byte lands (otherwise "replace July" could silently edit
    *    August);
    *  - file groups whose min/max stats PROVE no row in the band are
    *    carried by name with their stats/bloom/HLL/ANN sidecars
    *    intact — zero bytes rewritten (at 100 TB with a clustered
    *    layout this is the whole table minus the reprocessed
    *    partition);
    *  - only the overlapping groups rewrite: their out-of-band
    *    survivors land as one fresh group, the replacement batch as
    *    another; `statsCols` re-records skipping stats for both.
    * CHECK constraints and write-defaults gate the batch like an
    * append. Version-collision races fail fast (rewrite-class op — no
    * auto-rebase, same as delete/compact). Requires materialized MOR
    * deletes and no pending rename/drop mapping (compact first), and
    * no identity column (replacement ids would need re-stamping —
    * out of scope, refused loudly). */
  def overwriteWhere(spark: SparkSession, root: String, df: DataFrame,
                     column: String, lo: Double, hi: Double,
                     statsCols: Seq[String] = Nil): Int = {
    val v = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    val meta = manifestMeta(spark, root, v)
    require(deleteState(meta).isEmpty && dvState(meta).isEmpty,
      s"table at $root has merge-on-read deletes; rewriteDeletes first")
    require(colMapAt(meta).isEmpty && colDropsAt(meta).isEmpty,
      s"table at $root has a metadata-only rename/drop mapping; " +
        "compact first so raw group reads see logical names")
    identityAt(meta).foreach { case (c, _, _, _) =>
      throw new UnsupportedOperationException(
        s"replaceWhere on identity table at $root unsupported " +
          s"(replacement rows would need '$c' re-stamped)") }
    val filled = applyGenerated(spark, root, meta,
      applyWriteDefaults(spark, root, meta, df))
    val inBand = col(column).cast("double").between(lo, hi)
    val outside = filled.filter(not(coalesce(inBand, lit(false))))
      .limit(1).count()
    if (outside > 0) throw new IllegalArgumentException(
      s"replaceWhere($column in [$lo,$hi]) at $root: incoming batch " +
        "has rows outside the replaced band; write rejected whole")
    enforceConstraints(spark, root, v, filled)
    // UNIQUE admission probes the SURVIVORS (rows outside the band —
    // in-band rows are being replaced, colliding with them is fine)
    enforceUnique(meta, filled,
      Some(read(spark, root).filter(not(coalesce(inBand, lit(false))))),
      "by replaceWhere")
    val dirs = readManifest(spark, root, v)
    // partition containment preferred over stats (selectGroups): on a
    // table partitioned BY `column`, an in-band group's recorded value
    // PROVES every row is in band — it is replaced whole, no survivor
    // scan; only stats-admitted groups without that proof are scanned
    // for out-of-band remainders
    val touched = selectGroups(spark, root, column, lo, hi).toSet
    val provenWhole =
      if (!identityPartCol(meta, column))
        Set.empty[String]
      else touched.filter(d => partValFor(meta, d, column)
        .flatMap(_.toDoubleOption).exists(x => x >= lo && x <= hi))
    val needScan = touched -- provenWhole
    val carried = dirs.filterNot(touched)
    // out-of-band survivors of the touched groups, rewritten once
    val remDir =
      if (needScan.isEmpty) None
      else {
        val rows = spark.read.option("mergeSchema", "true")
          .parquet(needScan.toSeq.sorted
            .map(d => new Path(root, d).toString): _*)
          .filter(not(coalesce(inBand, lit(false))))
        if (rows.isEmpty) None
        else Some(writeDataFiles(spark, root, rows))
      }
    // the replacement batch lands partition-split on a partitioned
    // table (same routing as append), one plain group otherwise
    val newParts = partColsAt(meta) match {
      case Seq() => Seq((writeDataFiles(spark, root, filled), None))
      case pcs =>
        pcs.foreach(pc =>
          require(filled.columns.exists(_.equalsIgnoreCase(pc)),
            s"replaceWhere batch at $root must carry partition column " +
              s"'$pc'"))
        writePartitionedDataFiles(spark, root, pcs, filled,
          parttransAt(meta))
          .map { case (d, pv) => (d, Some(pv)) }
    }
    val carriedSet = carried.toSet
    val keptMeta = carryMeta(meta).filter { case (k, _) =>
      perDirKeyLives(k, carriedSet).getOrElse(k.startsWith("annmodel:")) }
    val newDirs = remDir.toSeq ++ newParts.map(_._1)
    val newStats = newDirs
      .flatMap(d => statsMeta(spark, root, d, statsCols)).toMap
    val newPartMeta = newParts.collect {
      case (d, Some(pv)) => s"part:$d" -> pv }.toMap
    // CDC: the replaced band's old rows + the replacement batch
    // (Delta's replaceWhere feed shape — delete + insert, not update
    // pairs), staged before the commit that references it
    withStagedCdc(spark, root,
      read(spark, root).filter(coalesce(inBand, lit(false)))
        .withColumn("_change_type", lit("delete"))
        .unionByName(filled.withColumn("_change_type", lit("insert")))) {
      extra =>
        commitVersion(spark, root, v + 1, carried ++ newDirs,
          keptMeta ++ newStats ++ newPartMeta ++ extra +
            ("op" -> "replace-where"))
    }
  }

  /** `INSERT OVERWRITE` without a predicate — atomically replace the
    * WHOLE table's rows by `df` in one commit. NOT a history rewrite:
    * every prior version stays time-travelable; only the latest
    * snapshot changes (Delta's overwrite-mode save has the same
    * semantics). Declared schema/partitioning, defaults, GENERATED
    * rules, CHECK constraints and UNIQUE keys all survive and gate the
    * incoming batch (UNIQUE probes the batch against itself only —
    * there are no survivors to collide with). Same preconditions as
    * [[overwriteWhere]]: materialized MOR deletes, no pending
    * rename/drop, no identity column.
    * Scale shape: one data-sized write of the new batch (partition-
    * split on a partitioned table) + one manifest commit — old file
    * groups are dropped by reference, never read. */
  /** SQL `TRUNCATE TABLE` ([[GraftLakeTable]] implements
    * `TruncatableTable`): delete every row, KEEP the contract — the
    * exact complement of [[replaceTable]]. Schema, constraints,
    * defaults, generated/identity declarations (including the identity
    * high-water mark — ids never rewind past a truncation, so rows
    * inserted after can never collide with ids visible in old
    * snapshots), partition layout, CDF enablement and the COPY INTO
    * ledger all survive via [[commitVersion]]'s auto-carry. The commit
    * lists ZERO file groups — manifest-only, no data read or written,
    * except the CDF delete-all sidecar when the table opted into the
    * feed (rewrite feeds cost what they replace, the documented CDF
    * trade). Time travel keeps every pre-truncate snapshot; MOR delete
    * state vanishes with the rows it masked. The current LOGICAL
    * schema pins explicitly into the commit when the manifest didn't
    * already declare one — with zero parquet groups left there is
    * nothing to infer from, and a pending rename/drop mapping
    * materializes trivially (its physical groups are gone). */
  def truncateTable(spark: SparkSession, root: String): Int = {
    val v = latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    val meta = manifestMeta(spark, root, v)
    val schemaMeta =
      if (meta.contains("schema")) Map.empty[String, String]
      else Map("schema" -> read(spark, root).schema.json)
    withStagedCdc(spark, root,
      read(spark, root).withColumn("_change_type", lit("delete"))) {
      extra =>
        commitVersion(spark, root, v + 1, Seq.empty,
          Map("op" -> "truncate") ++ schemaMeta ++ extra)
    }
  }

  /** `CREATE OR REPLACE TABLE` — Delta's history-PRESERVING
    * redefinition, the staged half behind
    * [[GraftLakeCatalog.stageReplace]]: the replacement commits as the
    * NEXT version of the SAME table, so time travel serves every
    * pre-replace snapshot with its own schema, rows, and rules, while
    * the live table definition RESETS — the new schema is declared
    * fresh, and none of the old version's table state auto-carries
    * (constraints, defaults, generated/identity columns, partition
    * layout, column mappings, MOR delete masks, CDF enablement, the
    * COPY INTO ledger — see [[commitVersion]]'s replace carve-out).
    * Carrying any of it would bind old rules to same-named columns
    * with new meaning; a replace that wants the old gates re-declares
    * them. This is also why replace PROCEEDS where INSERT OVERWRITE
    * refuses (pending renames, MOR masks, identity): those gates
    * protect the OLD contract's rows, and a replace keeps none.
    *
    * Scale: one data-sized write of the new batch (partition-routed
    * when `partCols` declared); old groups drop by reference, never
    * read. Returns the committed version. */
  def replaceTable(spark: SparkSession, root: String, df: DataFrame,
                   partCols: Seq[String] = Nil): Int = {
    val v = latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(
        s"no table at $root — REPLACE TABLE requires an existing table " +
          "(use CREATE OR REPLACE to create when absent)"))
    val resolved =
      if (partCols.isEmpty) Seq.empty
      else resolvePartCols(df.schema, partCols)
    val parts = resolved match {
      case Seq() => Seq((writeDataFiles(spark, root, df), None))
      case pcs => writePartitionedDataFiles(spark, root, pcs, df)
        .map { case (d, pv) => (d, Some(pv)) }
    }
    val partMeta = parts.collect {
      case (d, Some(pv)) => s"part:$d" -> pv }.toMap
    val pcMeta =
      if (resolved.isEmpty) Map.empty[String, String]
      else Map("partcol" -> resolved.mkString(","))
    commitVersion(spark, root, v + 1, parts.map(_._1),
      Map("op" -> "replace-table", "schema" -> df.schema.json) ++
        partMeta ++ pcMeta)
  }

  /** Schema-only [[replaceTable]] (`REPLACE TABLE t (cols)` without AS
    * SELECT): the new version declares the schema and zero rows. */
  def replaceTableEmpty(spark: SparkSession, root: String,
                        schema: org.apache.spark.sql.types.StructType,
                        partCols: Seq[String] = Nil): Int = {
    val v = latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(
        s"no table at $root — REPLACE TABLE requires an existing table"))
    val pcMeta =
      if (partCols.isEmpty) Map.empty[String, String]
      else Map("partcol" -> resolvePartCols(schema, partCols).mkString(","))
    commitVersion(spark, root, v + 1, Seq.empty,
      Map("op" -> "replace-table", "schema" -> schema.json) ++ pcMeta)
  }

  def overwriteAll(spark: SparkSession, root: String, df: DataFrame,
                   statsCols: Seq[String] = Nil): Int = {
    val v = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    val meta = manifestMeta(spark, root, v)
    require(deleteState(meta).isEmpty && dvState(meta).isEmpty,
      s"table at $root has merge-on-read deletes; rewriteDeletes first")
    require(colMapAt(meta).isEmpty && colDropsAt(meta).isEmpty,
      s"table at $root has a metadata-only rename/drop mapping; " +
        "compact first so raw group reads see logical names")
    identityAt(meta).foreach { case (c, _, _, _) =>
      throw new UnsupportedOperationException(
        s"INSERT OVERWRITE on identity table at $root unsupported " +
          s"(replacement rows would need '$c' re-stamped)") }
    val filled = applyGenerated(spark, root, meta,
      applyWriteDefaults(spark, root, meta, df))
    enforceConstraints(spark, root, v, filled)
    enforceUnique(meta, filled, None, "by INSERT OVERWRITE")
    val newParts = partColsAt(meta) match {
      case Seq() => Seq((writeDataFiles(spark, root, filled), None))
      case pcs =>
        pcs.foreach(pc =>
          require(filled.columns.exists(_.equalsIgnoreCase(pc)),
            s"overwrite batch at $root must carry partition column '$pc'"))
        writePartitionedDataFiles(spark, root, pcs, filled,
          parttransAt(meta))
          .map { case (d, pv) => (d, Some(pv)) }
    }
    // every per-dir sidecar of the dropped groups goes with them; only
    // table-level metadata (rules, constraints, schema, ANN model)
    // carries forward — never the per-version keys ([[carryMeta]]), and
    // never clustering state (the overwritten layout is gone)
    val keptMeta = carryMeta(meta).filterNot { case (k, _) =>
      k.startsWith("stat:") || k.startsWith("bloom:") ||
        k.startsWith("anncodes:") || k.startsWith("hllsk:") ||
        k.startsWith("kllsk:") || k.startsWith("part:") ||
        k.startsWith("zc:") || k == "zcols"
    }
    val newDirs = newParts.map(_._1)
    val newStats = newDirs
      .flatMap(d => statsMeta(spark, root, d, statsCols)).toMap
    val newPartMeta = newParts.collect {
      case (d, Some(pv)) => s"part:$d" -> pv }.toMap
    // CDC: a full overwrite feeds as delete-everything + insert-batch
    // (Delta's overwrite feed — data-sized on purpose; the user opted
    // into CDF knowing rewrite feeds cost what they replace)
    withStagedCdc(spark, root,
      read(spark, root).withColumn("_change_type", lit("delete"))
        .unionByName(filled.withColumn("_change_type", lit("insert")))) {
      extra =>
        commitVersion(spark, root, v + 1, newDirs,
          keptMeta ++ newStats ++ newPartMeta ++ extra +
            ("op" -> "overwrite"))
    }
  }

  /** Merge-on-read DELETE (Iceberg equality-delete / Delta deletion-
    * vector shape): instead of rewriting every touched file group
    * (copy-on-write — [[deleteWhere]]), record the DELETED KEYS in a
    * tiny sidecar parquet under `_deletes/` and commit metadata only —
    * the data files are untouched, the delete costs O(matches), and
    * the dv reader drops rows whose key is in the list at scan time
    * ([[GraftDvBatchScan]]: [[read]], SQL and time travel alike, each
    * version with its own delete state). Semantics: a TABLE-WIDE equality
    * delete on `keyCol` — the key stays deleted (even across later
    * appends) until a rewrite materializes the masks
    * ([[rewriteDeletes]]/[[compact]]/any COW op, which all read through
    * the masked [[read]] and drop the sidecar metadata with the old
    * dirs). All MOR deletes on one table must share one `keyCol`.
    * At 100 TB this is the GDPR-delete path: removing one user costs a
    * key-list append, not a table rewrite; each reading JVM decodes the
    * (small) accumulated key list once. Keys match as a join's do: a
    * null never matches, `-0.0` equals `0.0` and NaN equals NaN; the key
    * column must not be a struct, array or map. Returns the committed
    * version, or the current one unchanged when nothing matches. */
  def deleteWhereMor(spark: SparkSession, root: String,
                     predicate: org.apache.spark.sql.Column,
                     keyCol: String): Int = {
    val v = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    val meta = manifestMeta(spark, root, v)
    deleteState(meta).foreach { case (k, _) =>
      require(k.equalsIgnoreCase(keyCol),
        s"table at $root already has merge-on-read deletes keyed by '$k'; " +
          s"cannot mix with '$keyCol'") }
    val doomed = read(spark, root)
      .filter(coalesce(predicate, lit(false)))
      .select(col(keyCol)).distinct()
    require(!Set("struct", "array", "map")(doomed.schema.head.dataType.typeName),
      s"merge-on-read delete key '$keyCol' must not be a struct, array or map")
    if (doomed.isEmpty) return v
    val rel = s"_deletes/del-${java.util.UUID.randomUUID()}"
    doomed.coalesce(1).write.parquet(new Path(root, rel).toString)
    val list = meta.get("deletes").fold(rel)(old => s"$old,$rel")
    commitVersion(spark, root, v + 1, readManifest(spark, root, v),
      carryMeta(meta) + ("deletes" -> list) + ("deletekey" -> keyCol) +
        ("op" -> "delete-mor"))
  }

  /** Merge-on-read UPDATE (Delta's deletion-vector update path): mark
    * every matched row deleted POSITIONALLY — a (file, row-index)
    * sidecar under `_deletes/dv-*`, the row's physical identity — and
    * append the updated rows as a fresh file group, in ONE commit. A
    * point update to one row of a 1 GB file group costs O(matches)
    * bytes: the group is untouched on disk; every read path patches at
    * scan time ([[read]]'s and [[readWithLineage]]'s native reader
    * skips each file's masked positions, [[GraftDvBatchScan]]). Because
    * the mask names physical positions, the appended replacement rows —
    * and every later append — are never swallowed by it (the flaw a
    * key-equality mask would have). Time travel serves each version's
    * own delete state; CDC (when enabled) emits update_preimage /
    * update_postimage pairs; [[rewriteDeletes]] (or any COW op)
    * materializes the masks away. Semantics match SQL UPDATE: only rows
    * where the predicate is TRUE update (NULL keeps); SET expressions
    * may reference any column and are cast to the column's type;
    * GENERATED columns recompute from the updated row (setting one
    * directly refuses); identity values are PRESERVED (setting the
    * identity column refuses); CHECK and UNIQUE constraints gate the
    * replacement rows before any manifest commit. Partitioned tables
    * route the replacements to per-value groups (a row may move
    * partitions). Version-collision races fail fast (rewrite-class op).
    * Returns the committed version — unchanged when nothing matches.
    *
    * Scale: one bounded collect of the masked scan stages the matches
    * ([[withStagedMatches]]); up to [[LocalWriteMaxRows]] of them, the
    * sidecar, replacement and CDC rows are written from the driver, so
    * a point update runs only the collect's jobs. More matches add a
    * parquet stage dir and distributed writes. The read-side cost
    * until rewrite is the masked files' whole-file reads (no row-group
    * pushdown on them) and a per-file mask decode — the MOR trade. */
  def updateWhereMor(spark: SparkSession, root: String,
                     predicate: org.apache.spark.sql.Column,
                     set: Map[String, org.apache.spark.sql.Column]): Int = {
    require(set.nonEmpty, "updateWhereMor needs at least one SET column")
    val v = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    val meta = manifestMeta(spark, root, v)
    require(colMapAt(meta).isEmpty && colDropsAt(meta).isEmpty,
      s"table at $root has a metadata-only rename/drop mapping; " +
        "compact first so raw group reads see logical names")
    val schema = read(spark, root).schema
    require(!schema.fieldNames.exists(n =>
        n.equalsIgnoreCase(FileCol) || n.equalsIgnoreCase(PosCol)),
      s"table at $root carries a reserved lineage column name " +
        s"($FileCol/$PosCol)")
    identityAt(meta).foreach { case (c, _, _, _) =>
      require(!set.keys.exists(_.equalsIgnoreCase(c)),
        s"cannot UPDATE identity column '$c' at $root — ids are " +
          "engine-assigned and preserved across updates") }
    genColsAt(meta).keys.foreach(g =>
      require(!set.keys.exists(_.equalsIgnoreCase(g)),
        s"cannot UPDATE generated column '$g' at $root directly — it " +
          "recomputes from its declared expression"))
    val setTyped = set.map { case (c, e) =>
      val f = schema.fields.find(_.name.equalsIgnoreCase(c))
        .getOrElse(throw new IllegalArgumentException(
          s"no column '$c' at $root"))
      (f.name, e.cast(f.dataType))
    }
    withStagedMatches(spark, root, readWithLineage(spark, root)
        .filter(coalesce(predicate, lit(false)))) { (staged, nMatches) =>
      if (nMatches == 0) return v
      // the replacement rows: SETs applied, generated columns dropped
      // then re-materialized, gates in exactly the append order —
      // EVERY gate runs before any sidecar or data byte lands, so a
      // refused update leaves no orphan
      val set0 = setTyped.foldLeft(staged.drop(FileCol, PosCol)) {
        case (d, (c, e)) => d.withColumn(c, e) }
      val regen = genColsAt(meta).keys.foldLeft(set0) { (d, g) =>
        d.columns.find(_.equalsIgnoreCase(g)).fold(d)(d.drop(_)) }
      val updated = applyGenerated(spark, root, meta, regen)
      enforceConstraints(spark, root, v, updated)
      if (uniqueColsAt(meta).nonEmpty) {
        // survivors = the masked snapshot MINUS the matched rows (by
        // physical identity) — collisions with replaced rows are fine
        val survivors = readWithLineage(spark, root)
          .join(staged.select(col(FileCol), col(PosCol)),
            Seq(FileCol, PosCol), "left_anti")
          .drop(FileCol, PosCol)
        enforceUnique(meta, updated, Some(survivors), "by MOR update")
      }
      // positional delete sidecar — tagged 'U' for CDC classification
      val dvRel = writeDvSidecar(spark, root,
        staged.select(col(FileCol), col(PosCol), lit("U").as("__op")),
        nMatches)
      val parts = partColsAt(meta) match {
        case Seq() => Seq((writeDataFiles(spark, root, updated), None))
        case pcs => writePartitionedDataFiles(spark, root, pcs, updated,
          parttransAt(meta))
          .map { case (d, pv) => (d, Some(pv)) }
      }
      val partMeta = parts.collect {
        case (d, Some(pv)) => s"part:$d" -> pv }.toMap
      val list = (dvState(meta) :+ dvRel).mkString(",")
      withStagedCdc(spark, root,
        staged.drop(FileCol, PosCol)
          .withColumn("_change_type", lit("update_preimage"))
          .unionByName(updated
            .withColumn("_change_type", lit("update_postimage")))) {
        extra =>
          commitVersion(spark, root, v + 1,
            readManifest(spark, root, v) ++ parts.map(_._1),
            carryMeta(meta) ++ partMeta ++ extra +
              ("dv" -> list) + ("op" -> "update-mor"))
      }
    }
  }

  /** Merge-on-read MERGE (upsert) via positional deletion vectors —
    * the DV sibling of [[merge]]'s copy-on-write rewrite: rows of
    * `updates` whose `key` exists get their CURRENT rows masked
    * positionally (O(matches) sidecar, every data file byte-identical)
    * and ALL update rows land as ONE fresh appended group — one
    * commit. A weekly upsert touching 0.1% of keys costs 0.1% new
    * bytes instead of rewriting every matched file group. Gates match
    * [[merge]]: CHECK validates the incoming rows, UNIQUE validates
    * them against the surviving (masked-minus-matched) snapshot; CDC
    * pairs update_preimage/update_postimage for matched keys and tags
    * fresh keys `insert`; time travel/stacking/rewrite behave exactly
    * as [[updateWhereMor]], which stages matches the same way (a point
    * merge of driver-resident `updates` adds one key broadcast).
    * Returns the committed version. */
  def mergeMor(spark: SparkSession, root: String,
               updates: DataFrame, key: String,
               extraMeta: Map[String, String] = Map.empty): Int = {
    val v = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    val meta = manifestMeta(spark, root, v)
    require(colMapAt(meta).isEmpty && colDropsAt(meta).isEmpty,
      s"table at $root has a metadata-only rename/drop mapping; " +
        "compact first so raw group reads see logical names")
    val schema = read(spark, root).schema
    require(!schema.fieldNames.exists(n =>
        n.equalsIgnoreCase(FileCol) || n.equalsIgnoreCase(PosCol)),
      s"table at $root carries a reserved lineage column name " +
        s"($FileCol/$PosCol)")
    require(updates.columns.exists(_.equalsIgnoreCase(key)),
      s"mergeMor: updates carry no key column '$key'")
    enforceConstraints(spark, root, v, updates)
    // a left-semi join repeats no left row: no distinct on the keys
    withStagedMatches(spark, root, readWithLineage(spark, root)
        .join(updates.select(col(key)), Seq(key), "left_semi")) {
        (staged, nMatches) =>
      if (uniqueColsAt(meta).nonEmpty) {
        val survivors = readWithLineage(spark, root)
          .join(staged.select(col(FileCol), col(PosCol)),
            Seq(FileCol, PosCol), "left_anti")
          .drop(FileCol, PosCol)
        enforceUnique(meta, updates, Some(survivors), "by MOR merge")
      }
      val dvMeta =
        if (nMatches == 0) Map.empty[String, String]
        else {
          val dvRel = writeDvSidecar(spark, root,
            staged.select(col(FileCol), col(PosCol), lit("U").as("__op")),
            nMatches)
          Map("dv" -> (dvState(meta) :+ dvRel).mkString(","))
        }
      val parts = partColsAt(meta) match {
        case Seq() => Seq((writeDataFiles(spark, root, updates), None))
        case pcs => writePartitionedDataFiles(spark, root, pcs, updates,
          parttransAt(meta))
          .map { case (d, pv) => (d, Some(pv)) }
      }
      val partMeta = parts.collect {
        case (d, Some(pv)) => s"part:$d" -> pv }.toMap
      val curKeys = staged.select(col(key)).distinct()
      withStagedCdc(spark, root,
        staged.drop(FileCol, PosCol)
          .withColumn("_change_type", lit("update_preimage"))
          .unionByName(updates.join(curKeys, Seq(key), "left_semi")
            .withColumn("_change_type", lit("update_postimage")))
          .unionByName(updates.join(curKeys, Seq(key), "left_anti")
            .withColumn("_change_type", lit("insert")))) { extra =>
        commitVersion(spark, root, v + 1,
          readManifest(spark, root, v) ++ parts.map(_._1),
          carryMeta(meta) ++ partMeta ++ extra ++ dvMeta ++ extraMeta +
            // the merge key is per-version feed metadata: it lets the
            // CDF source classify this commit's appended rows
            // (postimage vs insert) when no change sidecar was staged
            ("mergekey" -> schema.fields
              .find(_.name.equalsIgnoreCase(key)).fold(key)(_.name)) +
            ("op" -> "merge-mor"))
      }
    }
  }

  /** Merge-on-read DELETE by POSITION (the deletion-vector sibling of
    * [[deleteWhereMor]], which masks by key equality): matched rows —
    * any predicate, NO key column needed — are recorded as (file,
    * row-index) pairs in a `_deletes/dv-*` sidecar, ONE metadata-plus-
    * sidecar commit, every data file byte-identical. Because the mask
    * is positional, rows appended LATER with identical values are
    * never swallowed (the equality mask's documented trade). All read
    * paths patch at scan time; CDC (when enabled) emits `delete` rows;
    * [[rewriteDeletes]]/any COW op materializes. NULL-predicate rows
    * KEEP (SQL DELETE semantics). Returns the committed version —
    * unchanged when nothing matches. Cost: the matches staged as in
    * [[updateWhereMor]] + O(matches) sidecar bytes — the GDPR
    * point-delete at 100 TB. */
  def deleteWhereDv(spark: SparkSession, root: String,
                    predicate: org.apache.spark.sql.Column): Int = {
    val v = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    val meta = manifestMeta(spark, root, v)
    require(colMapAt(meta).isEmpty && colDropsAt(meta).isEmpty,
      s"table at $root has a metadata-only rename/drop mapping; " +
        "compact first so raw group reads see logical names")
    val schema = read(spark, root).schema
    require(!schema.fieldNames.exists(n =>
        n.equalsIgnoreCase(FileCol) || n.equalsIgnoreCase(PosCol)),
      s"table at $root carries a reserved lineage column name " +
        s"($FileCol/$PosCol)")
    withStagedMatches(spark, root, readWithLineage(spark, root)
        .filter(coalesce(predicate, lit(false)))) { (staged, nMatches) =>
      if (nMatches == 0) return v
      val dvRel = writeDvSidecar(spark, root,
        staged.select(col(FileCol), col(PosCol), lit("D").as("__op")),
        nMatches)
      val list = (dvState(meta) :+ dvRel).mkString(",")
      withStagedCdc(spark, root,
        staged.drop(FileCol, PosCol)
          .withColumn("_change_type", lit("delete"))) { extra =>
        commitVersion(spark, root, v + 1, readManifest(spark, root, v),
          carryMeta(meta) ++ extra + ("dv" -> list) + ("op" -> "delete-dv"))
      }
    }
  }

  /** Run `body` over a MOR mutation's matched rows and their count,
    * staged ONCE so the dv keys, replacement and CDC rows describe the
    * SAME rows under a nondeterministic predicate. One bounded collect
    * evaluates each input partition once; up to [[LocalWriteMaxRows]]
    * rows it IS the stage, a driver LocalRelation that keeps the driver
    * write paths. More matches re-run the scan into a parquet stage
    * dir `data/.mstage-*`, read back and dropped after `body`. */
  private def withStagedMatches(spark: SparkSession, root: String,
      matches: DataFrame)(body: (DataFrame, Long) => Int): Int = {
    val probe = matches.limit(LocalWriteMaxRows + 1).collect()
    if (probe.length <= LocalWriteMaxRows)
      return body(graft.util.LocalFrame.of(spark, probe, matches.schema),
        probe.length.toLong)
    val stage = new Path(root, s"data/.mstage-${java.util.UUID.randomUUID()}")
    matches.write.parquet(stage.toString)
    try {
      val staged = spark.read.parquet(stage.toString)
      body(staged, staged.count())
    } finally fs(spark, root).delete(stage, true)
  }

  /** Materialize accumulated merge-on-read deletes: one masked read →
    * fresh file group(s), delete sidecar metadata dropped with the old
    * dirs. The group-granular twin is [[compact]] with a cluster key. */
  def rewriteDeletes(spark: SparkSession, root: String): Int = {
    val v = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    val m = manifestMeta(spark, root, v)
    require(deleteState(m).nonEmpty || dvState(m).nonEmpty,
      s"no merge-on-read deletes to rewrite at $root")
    commit(spark, root, Seq(writeDataFiles(spark, root, read(spark, root))),
      Map("op" -> "rewrite-deletes"))
  }

  /** Rows per file a positional-delete sidecar may funnel through ONE
    * task before the write goes parallel ([[writeDvSidecar]]). */
  private val DvSidecarRowsPerFile = 4L * 1000 * 1000

  /** Masks at or below this many rows land as ONE compact binary file
    * ([[DvBinarySidecar]] — varint-delta positions, ~1–2 bytes/row)
    * instead of a parquet directory; the point-update sidecar drops
    * from ~1–2 KB of parquet + checksum litter to ~150 bytes, and the
    * driver-side encode is bounded by this cap. Bigger masks stay
    * parquet so writes, reads and folds stay distributed. */
  private val DvBinaryMaxRows = 100000L

  /** The (file, pos, op) rows of a snapshot's dv sidecars as ONE
    * DataFrame, each sidecar file decoded through the per-JVM sidecar
    * cache ([[GraftDvSidecars]]): compact `.bin` sidecars (small by the
    * write threshold) on the driver into a LocalRelation — no Spark job,
    * and the planner sees its EXACT size — and parquet sidecars one task
    * per part, whatever the session's file-split settings. */
  private[sources] def dvMaskFrame(spark: SparkSession, root: String,
      rels: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType,
      StructField, StructType}
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField(FileCol, StringType, nullable = false),
      StructField(PosCol, LongType, nullable = false),
      StructField("__op", StringType, nullable = false)))
    val sidecars = GraftDvBatchScan.sidecars(spark, root, rels, None)
    val (bins, parts) = sidecars.dv.toSeq.partition(_.key.endsWith(".bin"))
    def rowsOf(es: GraftDvSidecars.Entries): Iterator[Row] =
      es.iterator.flatMap { case (fp, op, mask) =>
        new DvMaskCodec.Cursor(mask).map(Row(fp, _, op)) }
    val load = GraftDvBatchScan.load(spark, sidecars)
    val local = spark.createDataFrame(
      bins.flatMap(f => rowsOf(load.entries(f))).asJava, schema)
    if (parts.isEmpty) local
    else {
      val conf = GraftDvBatchScan.confBroadcast(spark)._1
      local.unionByName(spark.createDataFrame(spark.sparkContext
        .parallelize(parts, parts.size).setName("dv sidecar parts")
        .mapPartitions { it =>
          val task = new sidecars.Load(conf.value.value)
          it.flatMap(f => rowsOf(task.entries(f)))
        }, schema))
    }
  }

  /** Write a positional-delete sidecar. Point updates (the common
    * case) collapse to one file; a BROAD predicate that matched
    * millions of rows writes in parallel instead of funneling every
    * (file, pos) pair through a single task — the mask stays O(matches)
    * bytes either way, this only bounds the write's critical path. */
  private def writeDvSidecar(spark: SparkSession, root: String,
      keyed: DataFrame, nMatches: Long): String = {
    if (nMatches <= DvBinaryMaxRows) {
      // the common (point-update) shape: one compact binary file —
      // the collect is bounded by the threshold, never data-sized
      val rows = keyed.collect()
      // group by (file, OP), not file alone: a fold of mixed 'U'/'D'
      // masks for one file keeps both tags round-trippable (the binary
      // format allows multiple entries per path) instead of silently
      // collapsing to whichever row came first
      val perFile = rows
        .groupBy(r => (r.getString(0), r.getString(2))).toSeq
        .sortBy(_._1)
        .map { case ((fp, op), rs) =>
          (fp, op, rs.map(_.getLong(1)).distinct.sorted.toArray)
        }
      val dvRel = s"_deletes/dv-${java.util.UUID.randomUUID()}.bin"
      DvBinarySidecar.write(fs(spark, root), new Path(root, dvRel),
        perFile)
      return dvRel
    }
    val dvRel = s"_deletes/dv-${java.util.UUID.randomUUID()}"
    val parts = math.max(1L,
      (nMatches + DvSidecarRowsPerFile - 1) / DvSidecarRowsPerFile).toInt
    // coalesce can only REDUCE partition count — a staged frame that
    // arrives narrower than the computed width must repartition or the
    // broad write still funnels through its few tasks
    val sized =
      if (parts > keyed.rdd.getNumPartitions) keyed.repartition(parts)
      else keyed.coalesce(parts)
    sized.write.parquet(new Path(root, dvRel).toString)
    dvRel
  }

  /** Compact the accumulated deletion-vector sidecars into ONE
    * deduplicated sidecar — a METADATA-ONLY commit, O(mask) bytes, no
    * data file touched (every data dir carries by name). A table taking
    * hourly point updates accumulates one sidecar per commit and every
    * scan unions them all; compacting folds that read-side cost back to
    * one broadcast without paying [[rewriteDeletes]]' O(table) rewrite.
    * Old versions keep serving their own sidecar lists (the old
    * sidecars stay on disk until vacuum collects them once no retained
    * version references them). Returns the committed version; refuses
    * when fewer than two sidecars exist (nothing to fold). */
  def compactDeletes(spark: SparkSession, root: String): Int = {
    val v = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    val meta = manifestMeta(spark, root, v)
    val rels = dvState(meta)
    require(rels.size >= 2,
      s"compactDeletes at $root needs at least 2 deletion-vector " +
        s"sidecars to fold, have ${rels.size}")
    // size the fold's write without a count job: binary sidecars know
    // their exact row counts (cheap driver decode), parquet inputs
    // bound at DvSidecarRowsPerFile per part (dedup only shrinks) —
    // an all-binary accumulation folds back to one binary file
    val sidecars = GraftDvBatchScan.sidecars(spark, root, rels, None)
    val (bins, parts) = sidecars.dv.partition(_.key.endsWith(".bin"))
    val load = GraftDvBatchScan.load(spark, sidecars)
    val nRows = parts.length * DvSidecarRowsPerFile + bins.map(
      load.entries(_).map(e => DvMaskCodec.count(e._3).toLong).sum).sum
    // (file, pos) is unique across sidecars — a masked row never
    // reappears in a later masked read, so no later commit can re-mask
    // it — making dedup a safety net for hand-edited state. A `.bin`
    // fold dedups on the driver (no job); only parquet pays distinct's
    val masks = dvMaskFrame(spark, root, rels)
    val dvRel = writeDvSidecar(spark, root,
      if (nRows <= DvBinaryMaxRows) masks else masks.distinct(), nRows)
    commitVersion(spark, root, v + 1, readManifest(spark, root, v),
      carryMeta(meta) + ("dv" -> dvRel) + ("op" -> "compact-deletes"))
  }

  /** Table-wide equality-delete state recorded in a manifest:
    * (key column, sidecar paths). */
  private[sources] def deleteState(
      meta: Map[String, String]): Option[(String, Seq[String])] =
    meta.get("deletes").map(ps =>
      (meta.getOrElse("deletekey", throw new IllegalStateException(
        "manifest lists deletes without a deletekey")),
        ps.split(",").toSeq))

  /** POSITIONAL deletion-vector state of a manifest (Delta's deletion
    * vectors / Iceberg's position deletes): sidecar parquet dirs under
    * `_deletes/dv-*`, each holding (`__file` the data file's key
    * ([[fileKey]]), `__pos` row index within it, `__op` 'U'pdate |
    * 'D'elete — the op tag feeds CDC classification only; masking
    * ignores it). Unlike
    * the table-wide EQUALITY delete ([[deleteState]]), a positional
    * mask names a row's physical identity, so rows appended AFTER the
    * mask are never affected — which is what lets a MOR UPDATE commit
    * (mask the old row + append the new one) without the replacement
    * being swallowed by its own mask. */
  private[sources] def dvState(meta: Map[String, String]): Seq[String] =
    meta.get("dv").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)

  /** Reserved lineage column names ([[readWithLineage]]). */
  private[sources] val FileCol = "__file"
  private[sources] val PosCol = "__pos"

  /** The one spelling of a data file's path in dv masks and `__file`
    * values: the URL-encoded form Spark's `_metadata.file_path` yields,
    * so masks written from any read path match on any other, whatever
    * characters the table root holds. Re-parsed from the path's string
    * form, because a listed path's URI may carry an empty authority
    * (`file:///`) where Spark's has none (`file:/`). [[pathOfKey]]
    * inverts it. */
  private[sources] def fileKey(p: Path): String =
    org.apache.spark.paths.SparkPath.fromPathString(p.toString).urlEncoded

  private[sources] def pathOfKey(key: String): Path =
    org.apache.spark.paths.SparkPath.fromUrlString(key).toPath

  /** OPTIMIZE-style compaction: rewrite all current file groups as one
    * group of `targetPartitions` files, optionally sorted within files
    * by a clustering key (gives parquet min/max stats real pruning
    * power — the poor man's Z-order). Appended stream micro-batches are
    * the classic small-files source; compaction is what keeps scan task
    * counts sane at 100 TB. Old versions still read the old files. */
  /** Incremental OPTIMIZE (the production small-file compaction shape —
    * Delta's OPTIMIZE, Iceberg's rewrite_data_files): merge ONLY the
    * file groups below `minBytes` into one fresh group; every large
    * group — at 100 TB, almost the whole table — is carried by name
    * with its stats and bloom index intact, zero bytes rewritten. A
    * streaming-ingest table accumulating one small group per
    * micro-batch compacts in O(recent churn), not O(table); run it
    * after every N commits and the group count stays bounded while the
    * big clustered groups keep their skipping metadata forever.
    * No-ops (same version) when fewer than two small groups exist. */
  def compactSmall(spark: SparkSession, root: String,
                   minBytes: Long): Int =
    compactSmallScoped(spark, root, minBytes, Nil)

  /** [[compactSmall]] with WITHIN-GROUP clustering: merged groups are
    * written sorted by `clusterBy`, with fresh min/max stats on those
    * columns. On a BUCKETED table this is the within-bucket
    * maintenance verb: a streaming-ingested bucketed fact accumulates
    * one group per occupied bucket per append; this folds each
    * bucket's small groups into ONE sorted group — the bucket tag (and
    * with it manifest pruning + the zero-exchange SPJ layout) carries
    * through, and the sort gives the second column real stats pruning
    * inside each bucket (z-order's job, scoped to a hash layout). */
  def compactSmallSorted(spark: SparkSession, root: String,
                         minBytes: Long, clusterBy: Seq[String]): Int = {
    require(clusterBy.nonEmpty, "compactSmallSorted needs cluster columns")
    compactSmallScoped(spark, root, minBytes, Nil, clusterBy)
  }

  /** Partition-scoped OPTIMIZE (Databricks' `OPTIMIZE t WHERE part =
    * v`): compact small groups of ONE partition value only — every
    * group outside the scope is carried by name, zero bytes of it read
    * or rewritten. The nightly-maintenance shape at 100 TB: today's
    * hot partition accumulated micro-batch files; yesterday's
    * terabytes stay untouched. Refuses on unpartitioned tables and
    * non-partition columns (a silent full-table compact would be the
    * lie). */
  def compactSmallWhere(spark: SparkSession, root: String,
                        column: String, value: String,
                        minBytes: Long): Int =
    compactSmallWhereTuple(spark, root, Seq((column, value)), minBytes)

  /** [[compactSmallWhere]] with a multi-column scope (`WHERE a = x AND
    * b = y …`): groups whose recorded tuple matches EVERY pin compact;
    * a partial pin is fine here (unlike the scoped ZORDER) because
    * small groups always merge within one full value tuple anyway. */
  def compactSmallWhereTuple(spark: SparkSession, root: String,
                             pins: Seq[(String, String)],
                             minBytes: Long): Int = {
    require(pins.nonEmpty, "OPTIMIZE … WHERE needs at least one " +
      "<partcol> = <value> pin")
    val v = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    val meta = manifestMeta(spark, root, v)
    pins.foreach { case (c, _) =>
      require(partColsAt(meta).exists(_.equalsIgnoreCase(c)),
        s"OPTIMIZE … WHERE: '$c' is not a partition column of " +
          s"$root (have ${partColsAt(meta).mkString(", ")})") }
    compactSmallScoped(spark, root, minBytes, pins)
  }

  private def compactSmallScoped(spark: SparkSession, root: String,
      minBytes: Long, scope: Seq[(String, String)],
      clusterBy: Seq[String] = Nil): Int = {
    val v = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    val meta = manifestMeta(spark, root, v)
    require(deleteState(meta).isEmpty && dvState(meta).isEmpty,
      s"table at $root has merge-on-read deletes; rewriteDeletes first")
    val f = fs(spark, root)
    def bytes(d: String): Long =
      f.listStatus(new Path(root, d)).map(_.getLen).sum
    val dirs = readManifest(spark, root, v)
    // out-of-scope groups are simply never "small": they survive by
    // name through the standard carry below. The scoped test is EXACT
    // membership — a group with no recorded value for the column
    // (legacy/untagged) is out of scope, NOT conservatively admitted:
    // partAdmit's keep-on-unknown semantics are right for reads (an
    // over-scan never lies) but wrong here, where the contract is
    // "zero bytes of out-of-scope groups read" and an untagged group
    // may hold any value.
    val inScope: String => Boolean = scope match {
      case Seq() => _ => true
      case pins => d => pins.forall { case (c, value) =>
        partValFor(meta, d, c).exists(partValueMatches(_, value)) }
    }
    val (small, large) =
      dirs.partition(d => bytes(d) < minBytes && inScope(d))
    if (small.size <= 1) return v
    // on a partitioned table, small groups merge WITHIN a partition
    // value — the one-value-per-group invariant (and its exact
    // pruning) survives compaction; a lone small group per value
    // stays as-is. Valueless groups (pre-partitioning legacy) merge
    // together untagged.
    // the grouping key is the OPAQUE recorded value (the joined tuple
    // on a multi-column table, the BUCKET ID on a bucketed one), so
    // "within a partition" means within one value tuple / one bucket —
    // the one-tuple-per-group invariant (and the SPJ layout a bucketed
    // table reports) survives compaction
    val partitioned =
      partColsAt(meta).nonEmpty || bucketSpecAt(meta).isDefined
    val buckets = small.groupBy(d =>
      if (partitioned) meta.get(s"part:$d") else None)
    val (loneSmall, mergeable) = buckets.partition(_._2.size <= 1)
    if (mergeable.isEmpty) return v
    // per-bucket merges are INDEPENDENT single-file jobs — run them
    // concurrently from a small pool (guide §2.6: overlap independent
    // jobs so the next job's tasks back-fill the tail of the current
    // one); results collect in deterministic bucket order, and each
    // group's fresh stats ride the same future as its write
    val mergeWork = mergeable.toSeq.sortBy(_._1.getOrElse(""))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, mergeWork.size))
    val results: Seq[((String, Option[String]), Map[String, String])] =
      try mergeWork.map { case (pv, ds) =>
        pool.submit(new java.util.concurrent.Callable[
            ((String, Option[String]), Map[String, String])] {
          def call() = {
            val merged = scanDirs(spark,
              ds.map(d => new Path(root, d).toString))
            val arranged =
              if (clusterBy.isEmpty) merged.coalesce(1)
              else merged.coalesce(1)
                .sortWithinPartitions(clusterBy.map(col): _*)
            val dir = writeDataFiles(spark, root, arranged)
            // sorted compaction records fresh stats on the cluster
            // columns — that is its point (within-group range pruning)
            val st =
              if (clusterBy.isEmpty) Map.empty[String, String]
              else statsMeta(spark, root, dir, clusterBy)
            ((dir, pv), st)
          }
        })
      }.map(_.get())
      finally pool.shutdown()
    val newGroups: Seq[(String, Option[String])] = results.map(_._1)
    val newStats = results.flatMap(_._2).toMap
    val mergedSet = mergeable.values.flatten.toSet
    // Commit with FILE-DISJOINT rewrite reconciliation (Delta's logical
    // conflict rule for rewrites): a losing compaction may rebase onto
    // a winner iff the file groups it READ AND REWROTE are untouched in
    // the winner's snapshot and no semantic state changed (schema,
    // rename/drop mapping, MOR delete state). The canonical scenario is
    // nightly compaction racing streaming ingest: the append's new
    // groups are disjoint from the merged set by construction, so both
    // commit. An overlapping rewrite (the winner removed a group this
    // compaction merged) stays a named fail-fast — its inputs are gone.
    def carriedFrom(m: Map[String, String], survivors: Seq[String]) = {
      val live = survivors.toSet
      m.filter { case (k, _) =>
        perDirKeyLives(k, live).getOrElse(
          k.startsWith("annmodel:") ||
          // merged groups are read raw and re-written raw — physical
          // names — so rename/drop mappings stay exactly as valid
          k == "colmap" || k == "coldrop")
      }
    }
    var attempt = v
    var tries = 0
    while (true) {
      val attemptMeta =
        if (attempt == v) meta else manifestMeta(spark, root, attempt)
      val attemptDirs =
        if (attempt == v) dirs else readManifest(spark, root, attempt)
      val survivors = attemptDirs.filterNot(mergedSet)
      try return commitVersion(spark, root, attempt + 1,
        survivors ++ newGroups.map(_._1),
        carriedFrom(attemptMeta, survivors) ++ newStats ++
          newGroups.collect {
            case (d, Some(pv)) => s"part:$d" -> pv } +
          ("op" -> "optimize-small"))
      catch { case e: ConcurrentCommitException =>
        tries += 1
        def conflict(what: String): Nothing = {
          newGroups.foreach { case (d, _) =>
            f.delete(new Path(root, d), true) }
          throw new LakeConflictException(
            s"compactSmall (base v$v) conflicts with a concurrent " +
              s"commit at $root: $what")
        }
        if (tries > MaxCommitRetries) {
          newGroups.foreach { case (d, _) =>
            f.delete(new Path(root, d), true) }
          throw new IllegalStateException(
            s"compactSmall at $root gave up after $MaxCommitRetries " +
              s"rebases (live contention): ${e.getMessage}")
        }
        val latest = latestVersion(spark, root).getOrElse(attempt)
        val lm = manifestMeta(spark, root, latest)
        val latestDirs = readManifest(spark, root, latest).toSet
        val gone = mergedSet.filterNot(latestDirs.contains)
        if (gone.nonEmpty)
          conflict(s"file groups ${gone.mkString(", ")} this compaction " +
            "read were removed (overlapping rewrite)")
        if (meta.get("schema") != lm.get("schema"))
          conflict("table schema changed")
        if (colMapAt(meta) != colMapAt(lm) ||
            colDropsAt(meta) != colDropsAt(lm))
          conflict("column rename/drop mapping changed (the merged " +
            "group baked the old physical names)")
        if (deleteState(lm).nonEmpty || dvState(lm).nonEmpty)
          conflict("merge-on-read deletes appeared (the merged group " +
            "was read unmasked)")
        attempt = latest
      }
    }
    -1 // unreachable
  }

  def compact(spark: SparkSession, root: String, targetPartitions: Int,
              clusterBy: Option[String] = None): Int = {
    val cur = read(spark, root)
    val arranged = clusterBy match {
      case Some(k) => cur.repartition(targetPartitions, col(k))
        .sortWithinPartitions(col(k))
      case None => cur.coalesce(targetPartitions)
    }
    commit(spark, root, Seq(writeDataFiles(spark, root, arranged)),
      Map("op" -> "optimize"))
  }

  /** `OPTIMIZE … ZORDER BY (a, b)` — rewrite the WHOLE table laid out
    * by the Morton interleave of the two columns (rank-scaled to 16
    * bits against the live min/max), one file group per contiguous
    * z-range with fresh min/max stats on BOTH columns: contiguous
    * z-ranges are rectangles in (a, b) space, so range probes on
    * EITHER column prune at the manifest level — the layout a
    * single-column sort cannot give (see q133 for the exactness
    * argument). One data-sized read + one range-exchange write;
    * commits as a rewrite (`optimize-zorder`), every prior version
    * stays time-travelable. Two to four columns (k-way Morton — each
    * extra column trades per-dimension resolution, 16 bits down to 15
    * at k = 4); partitioned tables refuse — z-ordering
    * would break their one-group-per-value contract; MOR deletes and
    * pending rename/drop must be materialized first (raw group
    * rewrite). */
  def optimizeZOrder(spark: SparkSession, root: String,
                     cols: Seq[String], numGroups: Int): Int = {
    require(cols.size >= 2 && cols.size <= 4,
      s"ZORDER BY takes 2 to 4 columns, got ${cols.mkString(", ")}")
    require(numGroups >= 2, s"numGroups must be >= 2, got $numGroups")
    val v = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    val meta = manifestMeta(spark, root, v)
    require(deleteState(meta).isEmpty && dvState(meta).isEmpty,
      s"table at $root has merge-on-read deletes; rewriteDeletes first")
    require(colMapAt(meta).isEmpty && colDropsAt(meta).isEmpty,
      s"table at $root has a metadata-only rename/drop mapping; " +
        "compact first")
    require(partColsAt(meta).isEmpty,
      s"table at $root is partitioned (${partColsAt(meta).mkString(",")})" +
        " — z-ordering would break the one-group-per-value contract")
    val cur = read(spark, root)
    cols.foreach(c => require(cur.columns.exists(_.equalsIgnoreCase(c)),
      s"no column '$c' at $root"))
    val (dirs, stats) = writeZOrderGroups(spark, root, cur, cols, numGroups)
    // same carry rule as overwriteAll: per-dir sidecars die with their
    // dirs; table-level contracts (schema, constraints, defaults,
    // generation, identity, ANN model) survive
    val keptMeta = carryMeta(meta).filterNot { case (k, _) =>
      k.startsWith("stat:") || k.startsWith("bloom:") ||
        k.startsWith("anncodes:") || k.startsWith("hllsk:") ||
        k.startsWith("kllsk:") || k.startsWith("part:") ||
        k.startsWith("zc:") || k == "zcols"
    }
    commitVersion(spark, root, v + 1, dirs,
      keptMeta ++ stats + ("op" -> "optimize-zorder"))
  }

  /** INCREMENTAL (liquid-style) clustering — `OPTIMIZE … ZORDER BY …
    * INCREMENTAL`: z-order ONLY the file groups created since the last
    * clustering commit; already-clustered groups carry BY NAME (zero
    * bytes read or moved). A steadily-appended table pays O(new data)
    * per re-cluster instead of [[optimizeZOrder]]'s O(table); each
    * clustered group keeps its own z-locality and its fresh min/max
    * stats, so corner probes prune across ALL clustering generations.
    * Cluster membership is the per-dir `zc:<dir>` manifest tag (dies
    * with its dir on any rewrite — a compacted group becomes "new"
    * again, which is the honest answer) and the clustering column set
    * is pinned by `zcols` — a different column set refuses, naming the
    * recorded one (re-cluster fully with [[optimizeZOrder]] first).
    * Nothing-new runs are TRUE no-ops: no commit, version unmoved.
    * Gates match [[optimizeZOrder]]. */
  def optimizeZOrderIncremental(spark: SparkSession, root: String,
      cols: Seq[String], numGroups: Int): Int = {
    require(cols.size >= 2 && cols.size <= 4,
      s"ZORDER BY takes 2 to 4 columns, got ${cols.mkString(", ")}")
    require(numGroups >= 2, s"numGroups must be >= 2, got $numGroups")
    val v = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    val meta = manifestMeta(spark, root, v)
    require(deleteState(meta).isEmpty && dvState(meta).isEmpty,
      s"table at $root has merge-on-read deletes; rewriteDeletes first")
    require(colMapAt(meta).isEmpty && colDropsAt(meta).isEmpty,
      s"table at $root has a metadata-only rename/drop mapping; " +
        "compact first")
    require(partColsAt(meta).isEmpty && bucketSpecAt(meta).isEmpty,
      s"table at $root is partitioned/bucketed — z-ordering would " +
        "break the one-group-per-value contract")
    val colsKey = cols.map(_.toLowerCase).mkString(",")
    meta.get("zcols").foreach(rec => require(rec == colsKey,
      s"table at $root is incrementally clustered on ($rec); " +
        s"re-clustering on ($colsKey) needs a FULL optimizeZOrder first"))
    val dirs = readManifest(spark, root, v)
    val clustered = dirs.filter(d => meta.contains(s"zc:$d"))
    val fresh = dirs.filterNot(d => meta.contains(s"zc:$d"))
    if (fresh.isEmpty) return v // true no-op: nothing new since last run
    val cur = scanDirs(spark, fresh.map(d => new Path(root, d).toString))
    cols.foreach(c => require(cur.columns.exists(_.equalsIgnoreCase(c)),
      s"no column '$c' at $root"))
    val (zDirs, zStats) = writeZOrderGroups(spark, root, cur, cols,
      numGroups)
    // clustered groups carry by name with their per-dir keys; the
    // rewritten fresh groups' keys die with them
    val keptMeta = {
      val live = clustered.toSet
      carryMeta(meta).filter { case (k, _) =>
        perDirKeyLives(k, live).getOrElse(true) }
    }
    commitVersion(spark, root, v + 1, clustered ++ zDirs,
      keptMeta ++ zStats ++
        (clustered ++ zDirs).map(d => s"zc:$d" -> "1").toMap +
        ("zcols" -> colsKey) + ("op" -> "optimize-zorder-incremental"))
  }

  /** The Morton re-layout write half shared by [[optimizeZOrder]] and
    * [[optimizeZOrderWhere]]: stage `cur` into `numGroups` contiguous
    * z-range file groups (rank-scaled k-way interleave against the
    * frame's own min/max — 16 bits per coordinate for 2–3 columns, 15
    * for 4) and return (dirs, fresh k-column min/max stats). */
  private def writeZOrderGroups(spark: SparkSession, root: String,
      cur: DataFrame, cols: Seq[String], numGroups: Int)
      : (Seq[String], Map[String, String]) = {
    val b = cur.agg(
      min(col(cols.head)).cast("double"),
      (Seq(max(col(cols.head)).cast("double")) ++ cols.tail.flatMap(c =>
        Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))): _*)
      .head()
    cols.indices.foreach(i => require(!b.isNullAt(2 * i),
      s"ZORDER column '${cols(i)}' at $root is all-null or the scope " +
        "is empty"))
    val bits = graft.functions.ZOrderInterleave.bitsFor(cols.size)
    val top = ((1L << bits) - 1).toDouble
    def scaled(c: org.apache.spark.sql.Column, lo: Double,
               hi: Double): org.apache.spark.sql.Column =
      ((c.cast("double") - lo) * (top / math.max(hi - lo, 1.0)))
        .cast("long")
    val zkey = graft.functions.ZOrderInterleaveK(
      cols.zipWithIndex.map { case (c, i) =>
        scaled(col(c), b.getDouble(2 * i), b.getDouble(2 * i + 1)) })
    require(!cur.columns.exists(_.equalsIgnoreCase("__gz")),
      "table carries a reserved column name '__gz'")
    val f = fs(spark, root)
    val uuid = java.util.UUID.randomUUID().toString
    val staged = new Path(root, s"data/.zstage-$uuid")
    val dirs =
      try {
        cur.withColumn("__gz", zkey)
          .repartitionByRange(numGroups, col("__gz"))
          .sortWithinPartitions(col("__gz"))
          .drop("__gz")
          .write.mode(SaveMode.ErrorIfExists).parquet(staged.toString)
        val parts = f.listStatus(staged).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        parts.zipWithIndex.map { case (p, i) =>
          val dir = s"data/$uuid-z$i"
          f.mkdirs(new Path(root, dir))
          if (!f.rename(p, new Path(new Path(root, dir), p.getName)))
            throw new IllegalStateException(s"stage rename failed for $dir")
          dir
        }.toSeq
      } finally f.delete(staged, true)
    (dirs, dirs.flatMap(d => statsMeta(spark, root, d, cols)).toMap)
  }

  /** Does a recorded partition value match a requested one? Exact
    * string match, with numeric tolerance ("1995" matches "1995.0") —
    * shared by the scoped OPTIMIZE verbs. */
  private def partValueMatches(rec: String, value: String): Boolean =
    rec == value || ((rec.toDoubleOption, value.toDoubleOption) match {
      case (Some(a), Some(bv)) => a == bv
      case _ => false
    })

  /** Partition-scoped `OPTIMIZE t WHERE part = v ZORDER BY (a, b)` —
    * the Morton re-layout of [[optimizeZOrder]] applied INSIDE one
    * partition value: only the named value's groups are read and
    * rewritten (as `numGroups` contiguous z-ranges, each still tagged
    * with the partition value, so the one-value-per-group invariant
    * and its exact pruning survive); every other partition's groups
    * carry by name with their stats/bloom/part tags intact, zero bytes
    * read. The nightly shape at 100 TB: today's hot partition gets its
    * two-dimensional skipping layout without touching yesterday's
    * terabytes. Single-column-partitioned tables only (a one-column
    * scope on a multi-column layout would merge distinct value tuples
    * into one group — a broken invariant, so it refuses); refuses on
    * non-partition columns, unknown values, MOR deletes, and pending
    * rename/drop exactly like its siblings. */
  def optimizeZOrderWhere(spark: SparkSession, root: String,
                          column: String, value: String,
                          cols: Seq[String], numGroups: Int): Int =
    optimizeZOrderWhereTuple(spark, root, Seq((column, value)), cols,
      numGroups)

  /** [[optimizeZOrderWhere]] for multi-column partition layouts: the
    * scope pins the FULL partition tuple (`WHERE a = x AND b = y …`) —
    * pinning a subset would merge distinct value tuples into one
    * z-group and break the one-tuple-per-group invariant, so it
    * refuses with the missing columns named. */
  def optimizeZOrderWhereTuple(spark: SparkSession, root: String,
                               pins: Seq[(String, String)],
                               cols: Seq[String], numGroups: Int): Int = {
    require(cols.size >= 2 && cols.size <= 4,
      s"ZORDER BY takes 2 to 4 columns, got ${cols.mkString(", ")}")
    require(numGroups >= 2, s"numGroups must be >= 2, got $numGroups")
    require(pins.nonEmpty, "scoped ZORDER needs at least one " +
      "<partcol> = <value> pin")
    val v = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    val meta = manifestMeta(spark, root, v)
    require(deleteState(meta).isEmpty && dvState(meta).isEmpty,
      s"table at $root has merge-on-read deletes; rewriteDeletes first")
    require(colMapAt(meta).isEmpty && colDropsAt(meta).isEmpty,
      s"table at $root has a metadata-only rename/drop mapping; " +
        "compact first")
    val pcs = partColsAt(meta)
    pins.foreach { case (c, _) =>
      require(pcs.exists(_.equalsIgnoreCase(c)),
        s"OPTIMIZE … WHERE: '$c' is not a partition column of " +
          s"$root (have ${pcs.mkString(", ")})") }
    val unpinned = pcs.filterNot(pc =>
      pins.exists(_._1.equalsIgnoreCase(pc)))
    require(unpinned.isEmpty,
      s"scoped ZORDER must pin the FULL partition tuple of $root — " +
        s"missing ${unpinned.mkString(", ")} (a partial pin would " +
        "merge distinct value tuples into one group)")
    val dirs = readManifest(spark, root, v)
    val inScope = dirs.filter(d => pins.forall { case (c, value) =>
      partValFor(meta, d, c).exists(partValueMatches(_, value)) })
    require(inScope.nonEmpty,
      s"OPTIMIZE … WHERE ${pins.map(p => s"${p._1} = ${p._2}")
        .mkString(" AND ")}: no file groups carry that value at $root")
    // the recorded opaque value (what part: tags of the new z-groups
    // must carry so partition pruning stays exact)
    val recVal = meta(s"part:${inScope.head}")
    val cur = scanDirs(spark, inScope.map(d => new Path(root, d).toString))
    cols.foreach(c => require(cur.columns.exists(_.equalsIgnoreCase(c)),
      s"no column '$c' at $root"))
    val (zDirs, zStats) = writeZOrderGroups(spark, root, cur, cols,
      numGroups)
    val inScopeSet = inScope.toSet
    val survivors = dirs.filterNot(inScopeSet)
    // per-dir keys survive only for carried groups; in-scope groups'
    // keys die with them (the z-groups get fresh two-column stats);
    // per-version keys never carry ([[carryMeta]] — the ONE strip site)
    val keptMeta = {
      val live = survivors.toSet
      carryMeta(meta).filter { case (k, _) =>
        perDirKeyLives(k, live).getOrElse(true) }
    }
    commitVersion(spark, root, v + 1, survivors ++ zDirs,
      keptMeta ++ zStats ++ zDirs.map(d => s"part:$d" -> recVal) +
        ("op" -> "optimize-zorder-where"))
  }

  /** RESTORE: roll the table back to `toVersion`'s state as a NEW
    * commit — history is never rewritten, so readers of intermediate
    * versions are unaffected and the restore itself is time-travelable.
    * Purely a metadata operation: the new manifest re-references
    * `toVersion`'s file groups (and carries its stats), no data moves —
    * O(1) in table size, same as Delta's RESTORE. */
  def restore(spark: SparkSession, root: String, toVersion: Int): Int = {
    val vs = versions(spark, root)
    require(vs.contains(toVersion),
      s"version $toVersion does not exist at $root (have ${vs.mkString(",")})")
    val carried = manifestMeta(spark, root, toVersion)
      .filter { case (k, _) =>
        k.startsWith("stat:") || k.startsWith("bloom:") ||
          k.startsWith("annmodel:") || k.startsWith("anncodes:") ||
          k.startsWith("hllsk:") || k.startsWith("kllsk:") ||
          k == "deletes" || k == "deletekey" || k == "dv" ||
          k == "colmap" || k == "coldrop" ||
          // the restored version's OWN declared schema (expressed in
          // its own logical names, consistent with its colmap) — not
          // the latest version's, which a rename may have rewritten
          k == "schema" }
    commit(spark, root, readManifest(spark, root, toVersion),
      carried + ("op" -> "restore") + ("restoredVersion" -> toVersion.toString))
  }

  /** DESCRIBE HISTORY: (version, operation, file-group count) for every
    * retained version, ascending. Manifest-only — no data files are
    * opened. Versions committed before operation tagging read as
    * "unknown". */
  def history(spark: SparkSession, root: String): Seq[(Int, String, Int)] =
    historyWithTimestamps(spark, root).map { case (v, op, g, _) =>
      (v, op, g) }

  /** [[history]] plus each version's COMMIT TIME (epoch millis) — the
    * manifest mtime, i.e. the SAME clock `TIMESTAMP AS OF` resolution
    * ([[versionAtTimestamp]]) and `VACUUM … RETAIN n HOURS`
    * ([[retainHoursKeepCount]]) read, so a timestamp surfaced here
    * round-trips through both: restoring to a listed commit_ts lands
    * on that version, and a retention window measured against the
    * listed times keeps exactly the versions it appears to. */
  def historyWithTimestamps(spark: SparkSession,
      root: String): Seq[(Int, String, Int, Long)] = {
    val f = fs(spark, root)
    versions(spark, root).map { v =>
      (v, manifestMeta(spark, root, v).getOrElse("op", "unknown"),
        readManifest(spark, root, v).size,
        f.getFileStatus(manifestPath(root, v)).getModificationTime)
    }
  }

  /** Right-to-be-forgotten PURGE: remove matching rows from the current
    * snapshot AND from all retained history in one operation — the
    * GDPR-erasure shape copy-on-write tables need, because an ordinary
    * DELETE leaves every purged byte readable via time travel. A COW
    * delete commits the surviving rows as a new version, then retention
    * is truncated to that single version: every prior manifest is
    * dropped and every file group referenced only by history is
    * physically deleted (the [[vacuum]] ownership rule still protects a
    * clone's source). Erasure deliberately beats time travel — after
    * purge, `versions` is a single entry and no retained byte, manifest
    * line, or min/max stat derives from a purged row. Cost is one table
    * rewrite + O(history) metadata, identical to DELETE + VACUUM(1). */
  def purge(spark: SparkSession, root: String,
            predicate: org.apache.spark.sql.Column): Int = {
    val v = deleteWhere(spark, root, predicate)
    vacuum(spark, root, keepVersions = 1)
    // erasure beats the feed: under CDF the delete commit's own change
    // sidecar holds exactly the purged rows — scrub it too (the
    // streaming source treats the gap as a loud refusal, never a
    // silent skip)
    cdcPathAt(manifestMeta(spark, root, v))
      .foreach(rel => fs(spark, root).delete(new Path(root, rel), true))
    v
  }

  /** ALTER TABLE ADD CONSTRAINT (Delta-style CHECK constraint): a
    * metadata-only commit recording `check:<name> = <sql predicate>`.
    * Existing rows are validated first (a constraint the current data
    * violates is refused, Delta's semantics); from then on every
    * append/merge validates its INCOMING rows before any file lands —
    * the write fails atomically, nothing is committed, and the
    * validation cost is one aggregate over the batch (never the table).
    * Constraints auto-carry through every later commit (see
    * [[commitVersion]]); there is no DROP CONSTRAINT — quality gates
    * are append-only here, matching the governance posture of a
    * training-data lake. NULL predicate results count as violations
    * (ANSI CHECK treats NULL as pass; a data-quality gate must not). */
  def addCheckConstraint(spark: SparkSession, root: String,
                         name: String, predicateSql: String): Int = {
    require(name.matches("[A-Za-z0-9_]+"), s"bad constraint name: $name")
    val v = latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    val bad = read(spark, root)
      .filter(not(coalesce(expr(predicateSql), lit(false)))).count()
    require(bad == 0,
      s"cannot add constraint $name: $bad existing rows violate " +
        s"($predicateSql)")
    commitVersion(spark, root, v + 1, readManifest(spark, root, v),
      manifestMeta(spark, root, v).filter { case (k, _) =>
        k.startsWith("stat:") || k.startsWith("bloom:") ||
          k.startsWith("annmodel:") || k.startsWith("anncodes:") ||
          k.startsWith("hllsk:") || k.startsWith("kllsk:") ||
          k == "deletes" || k == "deletekey" || k == "colmap" ||
          k == "coldrop" } ++
        Map("op" -> "add-constraint", s"check:$name" -> predicateSql))
  }

  /** The UNIQUE-constrained columns of a manifest: name → column. */
  private[sources] def uniqueColsAt(
      meta: Map[String, String]): Map[String, String] =
    meta.collect { case (k, c) if k.startsWith("unique:") =>
      k.drop("unique:".length) -> c }

  /** ALTER TABLE ADD UNIQUE (the warehouse key guarantee neither Delta
    * nor Iceberg enforces — but ingest pipelines constantly need): a
    * metadata-only commit recording `unique:<name> = <col>`. Existing
    * rows are validated first (a constraint the data violates is
    * refused); from then on every append validates its batch for
    * internal duplicates AND probes the live snapshot for collisions
    * before any manifest commit, a MERGE validates its merged result,
    * and a multi-writer rebase re-validates against the winner's new
    * rows ([[commitAppend]]) — uniqueness holds even when two racing
    * appends each looked valid alone. NULL keys are exempt (ANSI
    * UNIQUE). Auto-carries through every commit like CHECK
    * constraints. Validation cost per append is one semi-join probe —
    * at scale the bloom index on the key column turns it into a
    * group-pruned point lookup. */
  def addUniqueConstraint(spark: SparkSession, root: String,
                          name: String, colName: String): Int = {
    require(name.matches("[A-Za-z0-9_]+"), s"bad constraint name: $name")
    val v = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    val meta = manifestMeta(spark, root, v)
    // the rebase path (commitAppend's unique re-validation) reads
    // winner file groups RAW — a constraint on a metadata-only-renamed
    // column would make col(logicalName) throw there, escaping the
    // conflict handler; refuse up front exactly like setIdentity
    requireNotRenamed(meta, colName, "UNIQUE constraint")
    val cur = read(spark, root)
    require(cur.columns.exists(_.equalsIgnoreCase(colName)),
      s"no column '$colName' at $root")
    val dup = cur.filter(col(colName).isNotNull)
      .groupBy(col(colName)).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).limit(1).count()
    if (dup > 0) throw new IllegalArgumentException(
      s"cannot add UNIQUE($colName) at $root: existing rows violate it")
    commitVersion(spark, root, v + 1, readManifest(spark, root, v),
      carryMeta(meta) + (s"unique:$name" -> colName) +
        ("op" -> "add-unique"))
  }

  /** Declared write-defaults of a manifest: logical column name → SQL
    * literal. An empty value is a tombstone left by
    * [[dropColumnDefault]] (the auto-carry in [[commitVersion]] copies
    * keys forward; removal needs an explicit overwrite). */
  private[sources] def defaultsAt(
      meta: Map[String, String]): Map[String, String] =
    meta.collect { case (k, v) if k.startsWith("default:") && v.nonEmpty =>
      k.drop("default:".length) -> v }

  /** ALTER TABLE ALTER COLUMN SET DEFAULT as a metadata-only commit
    * (Delta's write-default semantics): `default:<col> = <sql literal>`.
    * From then on an append whose batch OMITS the column materializes
    * the default into the written files — existing rows are untouched
    * (no rewrite, no read-path magic: what you read is what is on
    * disk), and a batch that carries the column explicitly wins. The
    * literal is validated now by evaluating CAST(lit AS coltype) once;
    * defaults auto-carry like CHECK constraints, participate in the
    * append commute check (a concurrently changed default must not
    * silently rewrite what a prepared batch meant), and block
    * rename/drop of the column until dropped
    * ([[requireUnreferenced]]). Applies to [[append]]/[[streamAppend]];
    * MERGE takes full rows by contract and is unaffected. */
  def setColumnDefault(spark: SparkSession, root: String,
                       name: String, defaultSql: String): Int = {
    require(!defaultSql.contains("\n") && defaultSql.nonEmpty,
      "default literal must be a non-empty single-line SQL expression")
    val v = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    val field = read(spark, root).schema.fields
      .find(_.name.equalsIgnoreCase(name))
      .getOrElse(throw new IllegalArgumentException(
        s"no column '$name' at $root"))
    require(!genColsAt(manifestMeta(spark, root, v)).keys
        .exists(_.equalsIgnoreCase(name)),
      s"column '$name' is GENERATED; a column cannot be both " +
        "GENERATED and DEFAULT")
    // evaluate once: a literal that cannot cast fails the ALTER, not
    // some later append
    spark.sql(s"SELECT CAST(($defaultSql) AS ${field.dataType.sql})")
      .collect()
    commitVersion(spark, root, v + 1, readManifest(spark, root, v),
      carryMeta(manifestMeta(spark, root, v)) +
        (s"default:${field.name}" -> defaultSql) + ("op" -> "set-default"))
  }

  /** ALTER TABLE ALTER COLUMN DROP DEFAULT — commits an empty-value
    * tombstone (see [[defaultsAt]]); later appends omitting the column
    * write NULLs again. */
  def dropColumnDefault(spark: SparkSession, root: String,
                        name: String): Int = {
    val v = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    val meta = manifestMeta(spark, root, v)
    val key = meta.collectFirst { case (k, v)
        if k.startsWith("default:") && v.nonEmpty &&
          k.drop("default:".length).equalsIgnoreCase(name) => k }
      .getOrElse(throw new IllegalArgumentException(
        s"no DEFAULT declared on '$name' at $root"))
    commitVersion(spark, root, v + 1, readManifest(spark, root, v),
      carryMeta(meta) + (key -> "") + ("op" -> "drop-default"))
  }

  /** The table's identity column, if declared:
    * (column, start, step, high-water mark). One per table
    * ([[setIdentity]] refuses a second); value format
    * `identity:<col>=<start>,<step>,<hwm>` where hwm is the LAST
    * allocated id (start − step before any allocation). */
  private[sources] def identityAt(
      meta: Map[String, String]): Option[(String, Long, Long, Long)] =
    meta.collectFirst {
      case (k, v) if k.startsWith("identity:") && v.nonEmpty =>
        val Array(st, sp, hw) = v.split(",").map(_.trim.toLong)
        (k.drop("identity:".length), st, sp, hw)
    }

  /** ALTER TABLE … SET IDENTITY — Delta's `GENERATED ALWAYS AS
    * IDENTITY (START WITH s INCREMENT BY p)` bound to an existing
    * never-written BIGINT column (add it with [[evolveSchema]] first;
    * rows that predate the column read NULL ids — history is
    * immutable). From this commit on:
    *  - appends/streamAppends MUST omit the column; the engine stamps
    *    contiguous ids hwm+step, hwm+2·step, … (two bounded passes over
    *    the landed batch — O(batch), never the table);
    *  - a batch carrying the column is refused (GENERATED ALWAYS);
    *  - the high-water mark lives in the manifest and auto-carries
    *    through delete/compact/merge/index commits like CHECKs do;
    *  - concurrent identity appends are a named conflict (both would
    *    stamp from the same mark — Delta serializes allocation the
    *    same way); plain tables keep commuting.
    * Uniqueness and density are the contract; row→id assignment order
    * is not (same as Delta — ids are for lineage joins, not sorting). */
  def setIdentity(spark: SparkSession, root: String, name: String,
                  start: Long = 1L, step: Long = 1L): Int = {
    require(step >= 1, s"identity step must be >= 1, got $step")
    val v = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    val meta = manifestMeta(spark, root, v)
    identityAt(meta).foreach { case (c, _, _, _) =>
      throw new IllegalArgumentException(
        s"table at $root already has identity column '$c'") }
    requireNotRenamed(meta, name, "identity")
    val field = read(spark, root).schema.fields
      .find(_.name.equalsIgnoreCase(name))
      .getOrElse(throw new IllegalArgumentException(
        s"no column '$name' at $root — evolveSchema it in first"))
    require(field.dataType == org.apache.spark.sql.types.LongType,
      s"identity column must be BIGINT; '$name' is ${field.dataType.sql}")
    require(!defaultsAt(meta).exists(_._1.equalsIgnoreCase(field.name)),
      s"'${field.name}' has a column DEFAULT; identity and DEFAULT are " +
        "mutually exclusive")
    commitVersion(spark, root, v + 1, readManifest(spark, root, v),
      carryMeta(meta) +
        (s"identity:${field.name}" -> s"$start,$step,${start - step}") +
        ("op" -> "set-identity"))
  }

  /** Materialize write-defaults into an incoming append batch: every
    * defaulted column the batch OMITS is added as the declared literal
    * cast to the snapshot's column type; columns the batch carries win.
    * Runs BEFORE constraint validation so CHECK/UNIQUE see the rows as
    * they will land. */
  private def applyWriteDefaults(spark: SparkSession, root: String,
                                 meta: Map[String, String],
                                 df: DataFrame): DataFrame = {
    val defs = defaultsAt(meta)
      .filterNot { case (c, _) =>
        df.columns.exists(_.equalsIgnoreCase(c)) }
    if (defs.isEmpty) return df
    val schema = read(spark, root).schema
    defs.foldLeft(df) { case (d, (c, sql)) =>
      val tpe = schema.fields.find(_.name.equalsIgnoreCase(c))
        .map(_.dataType)
        .getOrElse(throw new IllegalStateException(
          s"default declared on unknown column '$c' at $root"))
      d.withColumn(c, expr(sql).cast(tpe))
    }
  }

  /** Declared generation expressions of a manifest: logical column
    * name → SQL expression ([[setGeneratedColumn]]). */
  private[sources] def genColsAt(
      meta: Map[String, String]): Map[String, String] =
    meta.collect { case (k, v) if k.startsWith("gencol:") && v.nonEmpty =>
      k.drop("gencol:".length) -> v }

  /** ALTER TABLE ALTER COLUMN ... GENERATED ALWAYS AS (expr) — Delta's
    * generated columns as a metadata-only commit (`gencol:<col> =
    * <sql expr>`). From then on: an append whose batch OMITS the column
    * materializes the expression into the written files (like a
    * write-default, but computed per row from the batch's other
    * columns); a batch that CARRIES the column is VALIDATED — every row
    * must satisfy `col <=> expr` or the write is refused whole before
    * any byte lands (Delta's consistency check, null-safe so absent
    * inputs behave). Existing rows are validated at declaration time
    * (an invariant the current data violates is refused); the
    * declaration auto-carries like CHECK constraints, participates in
    * the append commute check, and blocks rename/drop of the generated
    * column AND of any column its expression names
    * ([[requireUnreferenced]] — renaming an input would silently
    * change what future writes compute). A column cannot be both
    * DEFAULT and GENERATED, or IDENTITY and GENERATED. Applies to
    * [[append]]/[[streamAppend]]/[[overwriteWhere]]; [[merge]] writes
    * pre-computed rows and is gated by its CHECK-constraint pass. */
  def setGeneratedColumn(spark: SparkSession, root: String,
                         name: String, exprSql: String): Int = {
    require(!exprSql.contains("\n") && exprSql.trim.nonEmpty,
      "generation expression must be a non-empty single-line SQL expression")
    val v = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    val meta = manifestMeta(spark, root, v)
    requireNotRenamed(meta, name, "generated column")
    val field = read(spark, root).schema.fields
      .find(_.name.equalsIgnoreCase(name))
      .getOrElse(throw new IllegalArgumentException(
        s"no column '$name' at $root"))
    require(!defaultsAt(meta).keys.exists(_.equalsIgnoreCase(name)),
      s"column '$name' has a write-default; a column cannot be both " +
        "DEFAULT and GENERATED")
    require(!genColsAt(meta).keys.exists(_.equalsIgnoreCase(name)),
      s"column '$name' is already generated")
    identityAt(meta).foreach { case (c, _, _, _) =>
      require(!c.equalsIgnoreCase(name),
        s"identity column '$c' cannot be generated") }
    // the invariant must already hold — declaring a generation rule
    // must not silently reinterpret history (Delta refuses likewise)
    val bad = read(spark, root)
      .filter(not(col(field.name) <=> expr(exprSql).cast(field.dataType)))
      .limit(1).count()
    require(bad == 0,
      s"cannot declare GENERATED ALWAYS AS on '$name': existing rows " +
        s"violate col <=> ($exprSql)")
    commitVersion(spark, root, v + 1, readManifest(spark, root, v),
      carryMeta(meta) + (s"gencol:${field.name}" -> exprSql) +
        ("op" -> "set-generated"))
  }

  /** Write-side generated-column handling: materialize omitted
    * generated columns, validate carried ones (refuse the whole batch
    * on a mismatch). Runs after defaults, before constraints — gates
    * see the rows as they will land. */
  private def applyGenerated(spark: SparkSession, root: String,
                             meta: Map[String, String],
                             df: DataFrame): DataFrame = {
    val gens = genColsAt(meta)
    if (gens.isEmpty) return df
    val schema = read(spark, root).schema
    gens.foldLeft(df) { case (d, (c, sql)) =>
      val tpe = schema.fields.find(_.name.equalsIgnoreCase(c))
        .map(_.dataType)
        .getOrElse(throw new IllegalStateException(
          s"generation rule on unknown column '$c' at $root"))
      if (!d.columns.exists(_.equalsIgnoreCase(c)))
        d.withColumn(c, expr(sql).cast(tpe))
      else {
        val bad = d.filter(not(col(c) <=> expr(sql).cast(tpe)))
          .limit(1).count()
        if (bad > 0) throw new IllegalArgumentException(
          s"batch carries generated column '$c' with values that do " +
            s"not match GENERATED ALWAYS AS ($sql); omit the column " +
            "or write matching values")
        d
      }
    }
  }

  /** Validate a batch against the table's UNIQUE constraints: no
    * internal duplicates, no collision with the live `against` frame.
    * NULL keys exempt. */
  private[sources] def enforceUnique(meta: Map[String, String],
                                     df: DataFrame,
                                     against: => Option[DataFrame],
                                     where: String): Unit = {
    val uniques = uniqueColsAt(meta)
    if (uniques.isEmpty) return
    // by-name + lazy: building the live-snapshot frame lists every
    // file group on the driver — a table with no UNIQUE constraint
    // must not pay that on every append
    lazy val curSnap = against
    uniques.foreach { case (name, c) =>
      val keys = df.filter(col(c).isNotNull).select(col(c))
      val selfDup = keys.groupBy(col(c)).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).limit(1).count()
      if (selfDup > 0) throw new IllegalArgumentException(
        s"UNIQUE($c) [$name] violated $where: duplicate keys within " +
          "the batch")
      curSnap.foreach { cur =>
        val hit = keys
          .join(cur.filter(col(c).isNotNull).select(col(c)), Seq(c),
            "left_semi")
          .limit(1).count()
        if (hit > 0) throw new IllegalArgumentException(
          s"UNIQUE($c) [$name] violated $where: key already present " +
            "in the table")
      }
    }
  }

  /** Validate an incoming batch against the table's CHECK constraints;
    * throws before any data is written. Package-visible: the DSv2
    * row-level write ([[GraftReplaceBatchWrite]]) validates its
    * replacement rows through this too — a committed constraint is an
    * admission gate on EVERY write path, including SQL UPDATE / MERGE
    * INTO (Delta enforces CHECK on UPDATE as well). */
  private[sources] def enforceConstraints(spark: SparkSession, root: String,
                                          v: Int, df: DataFrame): Unit = {
    val checks = manifestMeta(spark, root, v)
      .collect { case (k, sql) if k.startsWith("check:") =>
        k.drop(6) -> sql }
    if (checks.isEmpty) return
    val counts = df.agg(
      count(lit(1)).as("_n"),
      checks.toSeq.sortBy(_._1).map { case (n, sql) =>
        sum(when(not(coalesce(expr(sql), lit(false))), 1L).otherwise(0L))
          .as(s"_viol_$n")
      }: _*).head()
    checks.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((n, sql), i) =>
      val viol = counts.getLong(i + 1)
      if (viol > 0) throw new IllegalArgumentException(
        s"CHECK constraint $n violated by $viol incoming rows ($sql); " +
          "write rejected")
    }
  }

  /** SHALLOW CLONE (Delta's `CREATE TABLE dst SHALLOW CLONE src`): a new
    * table whose v1 manifest references the SOURCE's current file groups
    * by absolute path — zero bytes copied, O(metadata) regardless of
    * table size (the whole point at 100 TB: a writable dev/test fork of
    * a petabyte table in milliseconds). `Path(root, child)` resolution
    * ignores `root` for absolute children, so every existing read path
    * (scan, stats pruning, bloom skipping, delete masks) works on the
    * clone unchanged. Stats/bloom meta keys and delete-mask paths are
    * rewritten to the absolute form so pruning keeps working. Divergence
    * is free: clone-side appends/merges/deletes write under the CLONE's
    * root; the source never sees them. Ownership rule (enforced in
    * [[vacuum]]): a table never deletes absolute (foreign) entries — only
    * the source owns its bytes — so a source VACUUM past its retention
    * window invalidates clones, the same caveat Delta documents. */
  /** Zero-copy conversion of a plain parquet directory into a lake
    * table (Delta's `CONVERT TO DELTA`): version 1 references the
    * directory by ABSOLUTE path — not one byte moves or rewrites, the
    * files keep serving any reader that still points at them — and
    * every lake feature (time travel from here on, appends, DDL,
    * constraints, maintenance) applies from the next commit. The
    * directory is FOREIGN, same rule as a shallow clone: this table's
    * vacuum never deletes bytes it doesn't own. Schema is inferred
    * from the files (mergeSchema) and declared in the manifest so
    * later appends validate against it. Refuses when the table exists
    * or the directory holds no parquet files — converting nothing
    * would publish a lie. */
  def convertInPlace(spark: SparkSession, root: String,
                     srcDir: String): Int = {
    require(latestVersion(spark, root).isEmpty, s"table exists at $root")
    val src = new Path(srcDir)
    val sfs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(sfs.exists(src) && sfs.getFileStatus(src).isDirectory,
      s"CONVERT: '$srcDir' is not a directory")
    val files = sfs.listStatus(src).filter(f =>
      f.isFile && f.getPath.getName.endsWith(".parquet"))
    require(files.nonEmpty,
      s"CONVERT: '$srcDir' holds no parquet files — nothing to convert")
    val abs = sfs.makeQualified(src).toString
    val schema = spark.read.option("mergeSchema", "true")
      .parquet(abs).schema
    commitVersion(spark, root, 1, Seq(abs),
      Map("op" -> "convert", "schema" -> schema.json,
        "convertSource" -> abs))
  }

  /** User table properties of a snapshot (`prop:<key>` manifest meta):
    * free-form contract metadata (owner, pii flags, retention notes)
    * that auto-carries through every commit type. */
  private[graft] def propertiesAt(
      meta: Map[String, String]): Map[String, String] =
    meta.collect { case (k, v) if k.startsWith("prop:") => k.drop(5) -> v }

  /** `ALTER TABLE … SET TBLPROPERTIES` — a metadata-only commit; keys
    * must be manifest-line safe (no '=', no control chars; values no
    * newline). Setting an existing key overwrites it (Delta
    * semantics). */
  def setProperties(spark: SparkSession, root: String,
                    props: Map[String, String]): Int = {
    require(props.nonEmpty, "SET TBLPROPERTIES needs at least one pair")
    props.foreach { case (k, v2) =>
      require(k.nonEmpty && !k.contains('=') && !k.exists(_ < ' '),
        s"property key '$k' must be non-empty without '=' or control chars")
      require(!v2.exists(c => c == '\n' || c == '\r'),
        s"property value for '$k' must not contain newlines")
    }
    val v = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    commitVersion(spark, root, v + 1, readManifest(spark, root, v),
      carryMeta(manifestMeta(spark, root, v)) ++
        props.map { case (k, v2) => s"prop:$k" -> v2 } +
        ("op" -> "set-tblproperties"))
  }

  /** `ALTER TABLE … UNSET TBLPROPERTIES` — refuses on unknown keys
    * (a silent no-op would read as "removed"). */
  def unsetProperties(spark: SparkSession, root: String,
                      keys: Seq[String]): Int = {
    require(keys.nonEmpty, "UNSET TBLPROPERTIES needs at least one key")
    val v = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    val meta = manifestMeta(spark, root, v)
    val missing = keys.filterNot(k => meta.contains(s"prop:$k"))
    require(missing.isEmpty,
      s"UNSET TBLPROPERTIES: no such property ${missing.mkString(", ")} " +
        s"at $root (have ${propertiesAt(meta).keys.toSeq.sorted
          .mkString(", ")})")
    commitVersion(spark, root, v + 1, readManifest(spark, root, v),
      carryMeta(meta) -- keys.map(k => s"prop:$k") +
        ("op" -> "unset-tblproperties"))
  }

  def shallowClone(spark: SparkSession, srcRoot: String,
                   dstRoot: String): Int = {
    require(latestVersion(spark, dstRoot).isEmpty, s"table exists at $dstRoot")
    val v = latestVersion(spark, srcRoot).getOrElse(
      throw new IllegalStateException(s"no table at $srcRoot"))
    val dirs = dataDirsAt(spark, srcRoot, v)
    val abs = dirs.map(d => new Path(srcRoot, d).toString)
    val meta = manifestMetaAt(spark, srcRoot, v).map { case (k, value) =>
      val k2 = dirs.zip(abs).foldLeft(k) { case (kk, (d, a)) =>
        if (kk.startsWith(s"stat:$d:")) s"stat:$a:" + kk.drop(6 + d.length)
        else if (kk.startsWith(s"bloom:$d:")) s"bloom:$a:" + kk.drop(7 + d.length)
        else if (kk.startsWith(s"anncodes:$d:"))
          s"anncodes:$a:" + kk.drop(10 + d.length)
        else if (kk.startsWith(s"hllsk:$d:"))
          s"hllsk:$a:" + kk.drop(7 + d.length)
        else if (kk.startsWith(s"kllsk:$d:"))
          s"kllsk:$a:" + kk.drop(7 + d.length)
        else kk
      }
      // sidecar-path VALUES must also go absolute: bloom filters, ANN
      // model/codes and delete lists all live under the SOURCE's root —
      // a relative path would resolve under the clone's root, where no
      // sidecar exists (Path(root, child) ignores root for absolute
      // children, so the absolute form reads unchanged on the clone)
      val v2 =
        if (k == "deletes" || k == "dv")
          value.split(",").map(r => new Path(srcRoot, r).toString)
            .mkString(",")
        else if (k.startsWith("bloom:") || k.startsWith("annmodel:") ||
            k.startsWith("anncodes:") || k.startsWith("hllsk:") ||
            k.startsWith("kllsk:"))
          new Path(srcRoot, value).toString
        else value
      k2 -> v2
    }
    commitVersion(spark, dstRoot, 1, abs,
      meta ++ Map("op" -> "clone", "cloneSource" -> srcRoot))
  }

  /** VACUUM: physically delete data file groups referenced only by
    * versions older than `keepVersions` manifests, then drop those
    * manifests. Time travel remains available for the retained window.
    * (At scale this is the storage-cost companion to [[compact]] —
    * copy-on-write keeps every historical byte until vacuumed.)
    * Foreign entries (absolute paths — [[shallowClone]] references into
    * another table's root) are dropped from the manifest but their bytes
    * are never deleted: only the owning table may delete them. */
  /** Time-based retention (Delta's `VACUUM … RETAIN n HOURS`): drop
    * every version whose commit (manifest mtime, monotone under the
    * single-writer protocol) is OLDER than `hours` ago — but ALWAYS
    * keep the latest version, whatever its age (a vacuum must never
    * delete the current snapshot). Data dirs still referenced by any
    * kept version survive, so a fresh RESTORE pins its (old) groups
    * alive through any retention window. Returns the number of
    * versions kept. */
  def vacuumRetainHours(spark: SparkSession, root: String,
                        hours: Long): Int = {
    val keep = retainHoursKeepCount(spark, root, hours)
    vacuum(spark, root, keep)
    keep
  }

  /** How many (suffix) versions a RETAIN n HOURS window keeps — at
    * least the latest, whatever its age. Shared by the real vacuum and
    * its DRY RUN. */
  private[graft] def retainHoursKeepCount(spark: SparkSession,
      root: String, hours: Long): Int = {
    require(hours >= 0, s"RETAIN $hours HOURS: retention must be >= 0")
    val f = fs(spark, root)
    val vs = versions(spark, root)
    if (vs.isEmpty) throw new IllegalStateException(s"no table at $root")
    val cutoff = System.currentTimeMillis() - hours * 3600L * 1000L
    // Scan newest→oldest and STOP at the first manifest older than the
    // cutoff: the kept set is a true version suffix by construction.
    // Counting matches across the whole list would assume mtimes are
    // monotone — clock skew or a backup/restore of the table directory
    // breaks that, and a stale mtime on a recent manifest could then
    // drop versions inside the window while an old-but-fresh mtime
    // keeps stale ones.
    val fresh = vs.reverseIterator
      .takeWhile(v =>
        f.getFileStatus(manifestPath(root, v)).getModificationTime >= cutoff)
      .size
    math.max(fresh, 1)
  }

  /** Every sidecar path a manifest's metadata references: MOR delete
    * masks (equality `deletes` lists and positional `dv` lists under
    * `_deletes`) and the `_index` sidecars (bloom filters, ANN model
    * + codes, HLL/KLL sketches, the MinHash ingest index). These are
    * the paths a vacuum must keep while ANY retained version names
    * them — and may collect once none does (rewriteDeletes and COW
    * invalidation drop the keys, leaving the bytes orphaned). */
  private def sidecarRefsAt(meta: Map[String, String]): Set[String] =
    (meta.get("deletes").toSeq.flatMap(_.split(",")) ++
     meta.get("dv").toSeq.flatMap(_.split(",")) ++
     meta.collect {
       case (k, v) if k.startsWith("bloom:") || k.startsWith("annmodel:") ||
         k.startsWith("anncodes:") || k.startsWith("hllsk:") ||
         k.startsWith("kllsk:") || k.startsWith("mhidx:") => v
     }).filter(_.nonEmpty).toSet

  /** What [[vacuum]] WOULD delete for this retention, deleting nothing
    * (Delta's `VACUUM … DRY RUN`): data dirs referenced only by
    * dropped versions (foreign absolute paths excluded — never this
    * table's to delete), dropped versions' change sidecars, delete
    * masks and index sidecars no RETAINED version still references
    * (the `_deletes` dv sidecars left behind by a rewriteDeletes, the
    * `_index` entries dropped by a COW invalidation — without this they
    * accumulate forever on a long-lived table), and the dropped
    * manifests themselves. The real vacuum deletes EXACTLY this list,
    * so an operator can eyeball the blast radius first. */
  def vacuumDryRun(spark: SparkSession, root: String,
                   keepVersions: Int): Seq[String] = {
    val vs = versions(spark, root)
    if (vs.size <= keepVersions) return Seq.empty
    val f = fs(spark, root)
    val keep = vs.takeRight(keepVersions)
    val drop = vs.dropRight(keepVersions)
    val kept = keep.flatMap(readManifest(spark, root, _)).toSet
    val keptSidecars =
      keep.flatMap(v => sidecarRefsAt(manifestMeta(spark, root, v))).toSet
    // distinct: a stale dir or sidecar referenced by SEVERAL dropped
    // versions would otherwise list once per version — the real vacuum
    // re-deletes idempotently, but DRY RUN output (and its count) must
    // name each path exactly once
    drop.flatMap { v =>
      val meta = manifestMeta(spark, root, v)
      readManifest(spark, root, v)
        .filterNot(kept.contains)
        .filterNot(d => new Path(d).isAbsolute)
        .map(d => new Path(root, d).toString) ++
      // a dropped version's change sidecar goes with it: the feed is
      // only ever served for time-travelable versions
      cdcPathAt(meta)
        .map(rel => new Path(root, rel).toString) ++
      // masks/indexes this dropped version referenced, kept by no
      // retained version (absolute = foreign clone refs, never ours)
      (sidecarRefsAt(meta) -- keptSidecars).toSeq.sorted
        .filterNot(p => new Path(p).isAbsolute)
        .map(rel => new Path(root, rel).toString) ++
      Seq(manifestPath(root, v).toString) ++
      // a dropped version's checkpoint (text or parquet form) is
      // superseded with it — no retained resolution can start below
      // the oldest kept version
      (if (f.exists(checkpointPath(root, v)))
         Seq(checkpointPath(root, v).toString) else Nil) ++
      (if (f.exists(checkpointParquetPath(root, v)))
         Seq(checkpointParquetPath(root, v).toString) else Nil)
    }.distinct
  }

  def vacuum(spark: SparkSession, root: String, keepVersions: Int): Unit = {
    val f = fs(spark, root)
    val doomed = vacuumDryRun(spark, root, keepVersions)
    if (doomed.nonEmpty) {
      // the oldest RETAINED version's delta base is about to go —
      // materialize its full state as a checkpoint FIRST, so the chain
      // stays resolvable (kept versions above it chain within the
      // retained suffix by construction)
      val oldestKept = versions(spark, root)
        .takeRight(math.max(keepVersions, 1)).head
      val (dirs, meta) = resolveState(spark, root, oldestKept)
      writeCheckpoint(spark, root, oldestKept, dirs, meta)
    }
    doomed.foreach(p => f.delete(new Path(p), true))
  }

  /** Streaming ingestion: each micro-batch commits one append version.
    * The batch id is recorded in the manifest and re-delivered batches
    * (foreachBatch retries a batch if the driver dies between the sink
    * action and the checkpoint commit) are skipped — the manifest is the
    * idempotency ledger, same role Delta's txn log plays for its
    * foreachBatch pattern. Assumes ONE logical stream (one checkpoint
    * lineage) per table: batch ids persist in the checkpoint and stay
    * monotonic across restarts, which is what makes the comparison
    * sound; a different stream must write to a different table. */
  /** Most recent committed streaming batch id, scanning versions newest
    * to oldest — interleaved maintenance commits (compact/merge/append)
    * have no batchId meta and must not erase the idempotency ledger. */
  private def lastCommittedBatchId(spark: SparkSession,
                                   root: String): Option[Long] =
    versions(spark, root).reverseIterator
      .map(v => manifestMeta(spark, root, v).get("batchId"))
      .collectFirst { case Some(b) => b.toLong }

  def streamAppend(df: DataFrame, root: String,
                   statsCols: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = df.sparkSession
    df.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (lastCommittedBatchId(spark, root).exists(_ >= batchId)) {
          // duplicate delivery after restart — already committed
        } else {
          val meta = Map("batchId" -> batchId.toString,
            "op" -> "streaming-append")
          if (latestVersion(spark, root).isEmpty) {
            val dir = writeDataFiles(spark, root, batch)
            commit(spark, root, Seq(dir),
              statsMeta(spark, root, dir, statsCols) ++ meta)
          } else appendInternal(spark, root, batch, statsCols, meta)
        }
        ()
      }
      .start()
  }

  /** Streaming MERGE (upsert) sink: each micro-batch's rows replace
    * current rows with equal `key`, new keys insert — the
    * `foreachBatch` + MERGE idiom that turns an at-least-once stream of
    * row revisions into an exactly-once table of latest states. Replayed
    * batches are skipped via the batchId recorded in each commit's
    * manifest, so a restart cannot double-apply a merge (which, unlike
    * an append, would still corrupt counts silently if re-run against a
    * LATER state).
    *
    * Scale: each micro-batch pays one COW rewrite of matched file
    * groups; at 100 TB the same code runs with a longer trigger interval
    * so batch size amortizes the rewrite, and compaction (see
    * [[compact]]) folds the resulting version chain. */
  def streamMerge(df: DataFrame, root: String, key: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = df.sparkSession
    df.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (lastCommittedBatchId(spark, root).exists(_ >= batchId)) {
          // duplicate delivery after restart — already committed
        } else {
          val meta = Map("batchId" -> batchId.toString,
            "op" -> "streaming-merge")
          if (latestVersion(spark, root).isEmpty) {
            val dir = writeDataFiles(spark, root, batch)
            commit(spark, root, Seq(dir), meta)
          } else merge(spark, root, batch, key, meta)
        }
        ()
      }
      .start()
  }

  /** Streaming MOR-MERGE (upsert) sink — [[streamMerge]] with the
    * deletion-vector path: each micro-batch masks its matched keys
    * positionally and appends one fresh group ([[mergeMor]]) instead
    * of COW-rewriting every matched file group. At 100 TB this turns
    * a high-frequency upsert stream from perpetual whole-group churn
    * into O(batch) bytes per trigger, amortized into the next
    * compaction. Replayed batches skip via the manifest batchId ledger
    * exactly like the COW sink. */
  def streamMergeMor(df: DataFrame, root: String, key: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = df.sparkSession
    df.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (lastCommittedBatchId(spark, root).exists(_ >= batchId)) {
          // duplicate delivery after restart — already committed
        } else {
          val meta = Map("batchId" -> batchId.toString)
          if (latestVersion(spark, root).isEmpty) {
            val dir = writeDataFiles(spark, root, batch)
            commit(spark, root, Seq(dir),
              meta + ("op" -> "streaming-merge-mor"))
          } else mergeMor(spark, root, batch, key, meta)
        }
        ()
      }
      .start()
  }
}
