package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A Delta-protocol-SHAPED commit log mirrored beside [[LakeTable]]'s
  * manifest: `_delta_log/00000000000000000000.json` files containing
  * newline-delimited `protocol` / `metaData` / `add` / `remove` actions,
  * the layout a reference user's Delta tooling expects on disk
  * (reference DE_data_preparation.py:29 writes `format("delta")`).
  *
  * Scope (documented, honest): this mirrors the COMMIT layout — action
  * kinds, 0-based zero-padded version files, parquet-relative paths,
  * Spark-JSON schemaString, protocol (1,2) — plus classic-form
  * CHECKPOINTS (`%020d.checkpoint.parquet` + `_last_checkpoint`
  * pointer, written every [[CheckpointInterval]] commits) so log replay
  * is bounded by the checkpoint interval instead of O(commits):
  * snapshot reconstruction seeds from the newest checkpoint at or below
  * the requested version and replays only the JSON tail. Writers never
  * replay: a checkpoint's `add` rows come from the manifest's data dirs,
  * listed on the driver like the per-commit mirror. It does NOT
  * implement the Delta kernel's DV / column-mapping features or
  * multi-writer log coordination (the manifest's atomic rename stays
  * the single-writer commit point; no Delta jars exist in this
  * environment to test real interop against — SURVEY §1.1). The
  * manifest remains the source of truth; the log is written after the
  * manifest rename succeeds, so it never references an uncommitted
  * version.
  */
object DeltaLog {

  /** Classic-form checkpoint cadence (the Delta default is 10). */
  val CheckpointInterval: Int = 10

  /** Checkpoint row shape (classic form): exactly one non-null action
    * column per row; field names/shapes follow the Delta spec so a
    * log-walking reader recognizes them. */
  private[graft] case class CpProtocol(minReaderVersion: Int,
                                       minWriterVersion: Int)
  private[graft] case class CpFormat(provider: String,
                                     options: Map[String, String])
  private[graft] case class CpMetaData(id: String, format: CpFormat,
      schemaString: String, partitionColumns: Seq[String],
      configuration: Map[String, String], createdTime: Long)
  private[graft] case class CpAdd(path: String,
      partitionValues: Map[String, String], size: Long,
      modificationTime: Long, dataChange: Boolean)
  private[graft] case class CpRow(protocol: Option[CpProtocol],
      metaData: Option[CpMetaData], add: Option[CpAdd])

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logDir(root: String) = new Path(root, "_delta_log")

  /** Delta versions are 0-based; LakeTable manifests are 1-based. */
  private def logPath(root: String, deltaV: Long) =
    new Path(logDir(root), f"$deltaV%020d.json")

  private def checkpointPath(root: String, deltaV: Long) =
    new Path(logDir(root), f"$deltaV%020d.checkpoint.parquet")

  /** Existence probe: NIO on local mounts ([[LakeTable.localNio]]). */
  private def exists(f: FileSystem, p: Path): Boolean =
    LakeTable.localNio(f, p).fold(f.exists(p))(java.nio.file.Files.exists(_))

  private def readText(f: FileSystem, p: Path): String =
    LakeTable.localNio(f, p) match {
      case Some(np) => new String(java.nio.file.Files.readAllBytes(np),
        java.nio.charset.StandardCharsets.UTF_8)
      case None =>
        val in = f.open(p)
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
    }

  /** The JSON-escaped string value following `tag` in `line`, unescaped
    * (the writer controls the format, so parsing is primitive by
    * design: known key shapes, one action object per line). */
  private def stringAfter(line: String, tag: String): Option[String] = {
    val i = line.indexOf(tag)
    if (i < 0) None
    else {
      val sb = new StringBuilder
      var j = i + tag.length
      var done = false
      while (!done && j < line.length) {
        line.charAt(j) match {
          case '\\' => sb.append(line.charAt(j + 1)); j += 2
          case '"'  => done = true
          case c    => sb.append(c); j += 1
        }
      }
      Some(sb.toString)
    }
  }

  private def escape(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** Root-relative parquet files (path, size, mtime) of one data dir.
    * NIO on local mounts ([[LakeTable.localNio]] — this runs once per
    * changed dir per commit). */
  private def listDataFiles(spark: SparkSession, root: String,
                            dataDir: String): Seq[(String, Long, Long)] = {
    val f = fs(spark, root)
    val dir = new Path(root, dataDir)
    LakeTable.localNio(f, dir) match {
      case Some(d) =>
        import scala.jdk.CollectionConverters._
        val s = java.nio.file.Files.list(d)
        try s.iterator().asScala.flatMap { p =>
          val n = p.getFileName.toString
          if (n.startsWith("part-") && n.endsWith(".parquet") &&
              java.nio.file.Files.isRegularFile(p)) {
            val at = java.nio.file.Files.readAttributes(p,
              classOf[java.nio.file.attribute.BasicFileAttributes])
            Some((s"$dataDir/$n", at.size(), at.lastModifiedTime().toMillis))
          } else None
        }.toSeq.sortBy(_._1)
        finally s.close()
      case None =>
        f.listStatus(dir).toSeq
          .filter(st => st.isFile && st.getPath.getName.startsWith("part-") &&
            st.getPath.getName.endsWith(".parquet"))
          .map(st => (s"$dataDir/${st.getPath.getName}", st.getLen,
            st.getModificationTime))
          .sortBy(_._1)
    }
  }

  /** Mirror one committed manifest version into the log: `add` actions
    * for files new in this version, `remove` for files dropped, plus
    * `protocol` + `metaData` on the first commit. Idempotent per
    * version (existing log file wins — a replayed commit after a crash
    * between manifest rename and log write re-lands identically). Every
    * [[CheckpointInterval]]-th version also lands a checkpoint, built
    * from the manifest on the driver ([[writeCheckpoint]]). Neither
    * step launches a Spark job, save the v1 schema of a table created
    * over foreign parquet. */
  private[sources] def mirrorCommit(spark: SparkSession, root: String,
                                    manifestV: Int, prevDirs: Seq[String],
                                    curDirs: Seq[String],
                                    declaredSchema: Option[String] = None)
      : Unit = {
    val f = fs(spark, root)
    val dest = logPath(root, manifestV - 1L)
    val destNio = LakeTable.localNio(f, dest)
    if (exists(f, dest)) return
    // data dirs are write-once: the file-level diff is exactly the
    // dir-level diff, so list ONLY the changed dirs — O(churn) fs ops
    // per mirrored commit, never O(groups)
    val prevSet = prevDirs.toSet
    val curSet = curDirs.toSet
    val added = curDirs.filterNot(prevSet)
      .flatMap(listDataFiles(spark, root, _))
    val removed = prevDirs.filterNot(curSet)
      .flatMap(listDataFiles(spark, root, _))
    val now = System.currentTimeMillis()
    val header: Seq[String] =
      if (manifestV == 1) {
        // schemaString: the manifest-declared schema when present
        // (CREATE TABLE without data has no parquet to read), else the
        // schema Spark reads the data just written as. Every group
        // shares one schema by construction, so ONE dir's answer is
        // the whole answer. The footer-schema cache gives it in the
        // nullable form Spark reads it as, with no schema job; foreign
        // parquet, whose footer lacks Spark's schema, asks Spark.
        val schemaJson = declaredSchema.getOrElse {
          val dir = new Path(root, curDirs.head).toString
          LakeTable.uniformSchemaOf(spark, Seq(dir))
            .getOrElse(spark.read.parquet(dir).schema).json
        }
        Seq(
          """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
          s"""{"metaData":{"id":"${java.util.UUID.randomUUID()}","format":{"provider":"parquet","options":{}},"schemaString":"${escape(schemaJson)}","partitionColumns":[],"configuration":{},"createdTime":$now}}""")
      } else Seq.empty
    val adds = added.map {
      case (p, size, mtime) =>
        s"""{"add":{"path":"${escape(p)}","partitionValues":{},"size":$size,"modificationTime":$mtime,"dataChange":true}}"""
    }
    val removes = removed.map {
      case (p, _, _) =>
        s"""{"remove":{"path":"${escape(p)}","deletionTimestamp":$now,"dataChange":true}}"""
    }
    val body = (header ++ adds ++ removes).mkString("\n")
    // same tmp + atomic-rename pattern as the manifest; a loser (log
    // already mirrored by a concurrent replay) is dropped silently
    val tmp = new Path(logDir(root), s".tmp-$manifestV-${System.nanoTime()}")
    val renamed = destNio match {
      case Some(dp) =>
        val tp = java.nio.file.Paths.get(tmp.toUri.getPath)
        java.nio.file.Files.createDirectories(tp.getParent)
        java.nio.file.Files.write(tp,
          body.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        // ATOMIC_MOVE fails (instead of replacing) when a concurrent
        // replay already landed dest — same loser semantics as rename
        try {
          java.nio.file.Files.move(tp, dp,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException |
               _: java.nio.file.FileSystemException =>
            java.nio.file.Files.deleteIfExists(tp); false
        }
      case None =>
        f.mkdirs(logDir(root))
        val out = f.create(tmp, false)
        try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        if (!f.rename(tmp, dest)) { f.delete(tmp, false); false } else true
    }
    if (!renamed) ()
    // Delta's default cadence: a checkpoint every 10th commit (delta
    // versions 9, 19, …) keeps replay bounded by the interval
    else if (manifestV % CheckpointInterval == 0)
      writeCheckpoint(spark, root, Some(manifestV - 1L))
  }

  /** Checkpoint versions present in the log, ascending (0-based). */
  def checkpointVersions(spark: SparkSession, root: String): Seq[Long] = {
    val f = fs(spark, root)
    if (!f.exists(logDir(root))) Seq.empty
    else f.listStatus(logDir(root)).toSeq.map(_.getPath.getName)
      .filter(n => n.endsWith(".checkpoint.parquet") && !n.startsWith("."))
      .map(_.stripSuffix(".checkpoint.parquet").toLong).sorted
  }

  /** metaData carried into a checkpoint: from the version-0 commit when
    * it still exists, else from the newest prior checkpoint (so
    * checkpointing keeps working after old JSON commits are pruned). */
  private def metaDataInfo(spark: SparkSession, root: String): CpMetaData = {
    val f = fs(spark, root)
    val v0 = logPath(root, 0L)
    if (exists(f, v0)) {
      val line = readText(f, v0).split("\n")
        .find(_.contains(""""metaData":{""")).getOrElse(
          sys.error(s"no metaData action in $v0"))
      CpMetaData(
        stringAfter(line, """"metaData":{"id":"""").getOrElse(""),
        CpFormat("parquet", Map.empty),
        stringAfter(line, """"schemaString":"""").getOrElse(""),
        Seq.empty, Map.empty,
        """"createdTime":(\d+)""".r.findFirstMatchIn(line)
          .map(_.group(1).toLong).getOrElse(0L))
    } else {
      val cps = checkpointVersions(spark, root)
      require(cps.nonEmpty, s"neither version-0 commit nor checkpoint at $root")
      import org.apache.spark.sql.functions.col
      val r = spark.read.parquet(checkpointPath(root, cps.max).toString)
        .where(col("metaData").isNotNull)
        .select(col("metaData.id"), col("metaData.schemaString"),
          col("metaData.createdTime"))
        .head
      CpMetaData(r.getString(0), CpFormat("parquet", Map.empty),
        r.getString(1), Seq.empty, Map.empty, r.getLong(2))
    }
  }

  /** `CpRow`'s encoder, derived once per JVM: deriving it by reflection
    * costs ~60-90 ms per call (~320 ms on the first). */
  private lazy val cpRowEncoder =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[CpRow]()

  /** Write a classic-form checkpoint at `deltaV` (default: latest):
    * one parquet file holding the full action snapshot — protocol,
    * metaData, and one `add` per active file — plus the
    * `_last_checkpoint` pointer. Idempotent per version. Replay cost
    * from then on is the JSON tail after the checkpoint, not the whole
    * log — the piece that keeps a long-lived table's reads O(interval)
    * instead of O(commits).
    *
    * The snapshot is derived from the manifest, not by replaying the
    * log: the active files at delta version `v` are the files of
    * manifest version `v + 1`'s data dirs. Data dirs are write-once and
    * every mirrored commit is exactly the file diff of its dirs, so the
    * listing equals the replay (and repairs a version whose mirror a
    * crash skipped). Bounded checkpoints are written on the driver, so
    * the checkpointing commit costs about what an ordinary one does.
    * Readers still replay checkpoint + JSON tail ([[activeFiles]]). */
  def writeCheckpoint(spark: SparkSession, root: String,
                      deltaV: Option[Long] = None): Unit = {
    val f = fs(spark, root)
    val v = deltaV.getOrElse {
      val vs = versions(spark, root) ++ checkpointVersions(spark, root)
      require(vs.nonEmpty, s"no _delta_log at $root")
      vs.max
    }
    val dest = checkpointPath(root, v)
    if (exists(f, dest)) return
    val adds = LakeTable.dataDirsAt(spark, root, (v + 1).toInt)
      .flatMap(listDataFiles(spark, root, _)).sortBy(_._1)
      .map { case (p, size, mtime) =>
        CpAdd(p, Map.empty, size, mtime, dataChange = true)
      }
    val meta = metaDataInfo(spark, root)
    val rows: Seq[CpRow] =
      CpRow(Some(CpProtocol(1, 2)), None, None) +:
        CpRow(None, Some(meta), None) +:
        adds.map(a => CpRow(None, None, Some(a)))
    val tmp = new Path(logDir(root), s".cp-tmp-$v-${System.nanoTime()}")
    // bounded checkpoints (the overwhelmingly common case) write the
    // one parquet file driver-side — the rows are driver-resident by
    // construction, and a coalesce(1) write JOB is ~0.2-0.4 s of pure
    // scheduler overhead per 10th commit (the GraftLocalParquetWrite
    // discipline); unbounded snapshots keep the job path.
    val part =
      if (rows.lengthCompare(100000) <= 0) {
        // the serializer reuses its output row; the writer consumes
        // each row before the next is produced
        val ser = cpRowEncoder.createSerializer()
        new Path(org.apache.spark.sql.execution.datasources.parquet
          .GraftLocalParquetWrite.writeFile(spark, tmp.toString,
            cpRowEncoder.schema, rows.iterator.map(ser)))
      } else {
        spark.createDataset(rows)(cpRowEncoder).coalesce(1)
          .write.mode("overwrite").parquet(tmp.toString)
        f.listStatus(tmp).map(_.getPath)
          .find(p => p.getName.startsWith("part-") &&
            p.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file under $tmp"))
      }
    // atomic rename; a loser (concurrent checkpointer won) cleans up
    if (!f.rename(part, dest)) { f.delete(tmp, true); return }
    f.delete(tmp, true)
    publishLastCheckpoint(f, root, v, rows.length)
  }

  /** Point `_last_checkpoint` at checkpoint `v` unless it already names
    * a newer one, so an explicit checkpoint of an older version never
    * moves the pointer backwards. Local mounts replace the pointer in
    * one atomic rename, so it never vanishes; other filesystems keep
    * Hadoop's delete + rename. */
  private def publishLastCheckpoint(f: FileSystem, root: String, v: Long,
                                    size: Int): Unit = {
    val lc = new Path(logDir(root), "_last_checkpoint")
    val current = scala.util.Try(readText(f, lc)).toOption
      .flatMap(""""version":(\d+)""".r.findFirstMatchIn(_))
      .map(_.group(1).toLong)
    if (current.exists(_ > v)) return
    val body = s"""{"version":$v,"size":$size}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val tmp = new Path(logDir(root), s".lc-tmp-${System.nanoTime()}")
    LakeTable.localNio(f, lc) match {
      case Some(lp) =>
        import java.nio.file.{Files, StandardCopyOption, StandardOpenOption}
        val tp = lp.resolveSibling(tmp.getName)
        Files.write(tp, body, StandardOpenOption.CREATE_NEW,
          StandardOpenOption.WRITE)
        // Hadoop's local FS verifies a pointer against the checksum
        // sidecar it wrote with it; a stale one would fail its reads
        Files.deleteIfExists(lp.resolveSibling("._last_checkpoint.crc"))
        Files.move(tp, lp, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      case None =>
        val out = f.create(tmp, true)
        try out.write(body) finally out.close()
        f.delete(lc, false)
        if (!f.rename(tmp, lc)) f.delete(tmp, false)
    }
  }

  /** Delta versions present in the log, ascending (0-based). */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val f = fs(spark, root)
    if (!f.exists(logDir(root))) Seq.empty
    else f.listStatus(logDir(root)).toSeq.map(_.getPath.getName)
      .filter(n => n.endsWith(".json") && !n.startsWith("."))
      .map(n => n.stripSuffix(".json").toLong).sorted
  }

  /** Active root-relative files at a delta version — the snapshot
    * reconstruction a log-walking reader performs: seed from the newest
    * checkpoint at or below `deltaV` (when one exists), then replay
    * add/remove actions of only the JSON tail after it. Without a
    * checkpoint this is the from-scratch replay of every commit.
    * Parsing is deliberately primitive (the writer controls the
    * format): one action object per line, path extracted from the
    * known key shape. */
  def activeFiles(spark: SparkSession, root: String, deltaV: Long): Seq[String] = {
    val f = fs(spark, root)
    val active = scala.collection.mutable.LinkedHashSet.empty[String]
    val base = checkpointVersions(spark, root).filter(_ <= deltaV)
      .sorted.lastOption
    base.foreach { cpV =>
      import org.apache.spark.sql.functions.col
      spark.read.parquet(checkpointPath(root, cpV).toString)
        .where(col("add").isNotNull).select(col("add.path"))
        .collect().map(_.getString(0)).sorted.foreach(active.add)
    }
    val from = base.map(_ + 1L).getOrElse(0L)
    versions(spark, root).filter(v => v >= from && v <= deltaV).foreach { v =>
      val txt = readText(f, logPath(root, v))
      txt.split("\n").map(_.trim).filter(_.nonEmpty).foreach { line =>
        stringAfter(line, """"add":{"path":"""").foreach(active.add)
        stringAfter(line, """"remove":{"path":"""").foreach(active.remove)
      }
    }
    active.toSeq
  }

  /** Snapshot read THROUGH the log (vs [[LakeTable.read]]'s manifest
    * path): replay to `deltaV` (default: latest) and read exactly those
    * files. LakeTableSpec proves the two paths agree at every version of
    * a create→append→merge→delete chain. */
  def read(spark: SparkSession, root: String,
           deltaV: Option[Long] = None): DataFrame = {
    // a fully-checkpointed log may have no JSON tail left at all
    val vs = versions(spark, root) ++ checkpointVersions(spark, root)
    require(vs.nonEmpty, s"no _delta_log at $root")
    val v = deltaV.getOrElse(vs.max)
    val files = activeFiles(spark, root, v)
      .map(p => new Path(root, p).toString)
    require(files.nonEmpty, s"empty snapshot at delta version $v")
    spark.read.option("mergeSchema", "true").parquet(files: _*)
  }
}
