package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.{FileFormat => DsFileFormat}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Streaming CHANGE-DATA-FEED source over a [[LakeTable]] — Delta's
  * `readChangeFeed` as its own format:
  * {{{
  *   spark.readStream.format("graft-lake-cdf")
  *     .option("startingVersion", 2)        // optional, default: from v1
  *     .option("startingTimestamp", "2026-08-16 00:00:00") // or by time
  *     .option("maxVersionsPerTrigger", 10) // optional admission control
  *     .load(tableRoot)
  * }}}
  * `startingTimestamp` resolves once, at stream start, to the first
  * commit at or after the timestamp (exclusive with
  * `startingVersion`); `maxVersionsPerTrigger` caps how many commits a
  * micro-batch drains, so a stream starting against a long history
  * backfills in bounded, checkpointable batches.
  * Emits every committed version's change rows with two extra columns,
  * `_change_type` (insert / update_preimage / update_postimage /
  * delete) and `_commit_version`. Offsets are manifest versions (the
  * same contract as the plain streaming source), so restarts resume
  * exactly from the checkpointed commit.
  *
  * Where the rows come from — always a pure FILE SCAN, never a
  * snapshot diff at read time:
  *  - an APPEND version's change rows ARE its appended data files,
  *    tagged `insert` at read time (zero extra stored bytes — Delta's
  *    optimization for the dominant op);
  *  - a row-CHANGING version (delete / merge / replaceWhere /
  *    overwrite) is served from the `changes/v<N>/` sidecar those
  *    operations persist when the table opted in
  *    ([[LakeTable.enableChangeFeed]]);
  *  - a DELETION-VECTOR commit without a sidecar (updateWhereMor /
  *    deleteWhereDv / mergeMor on a table that never opted in)
  *    RECONSTRUCTS from the dv mask itself — the mask names exactly
  *    the preimage rows, the appended group(s) are the postimages
  *    (merge rows classify per the recorded merge key), and a
  *    compactDeletes fold is a zero-change version (Delta serves DV
  *    commits from their DVs the same way);
  *  - a COW rewrite WITHOUT a sidecar (CDF enabled after the fact, or
  *    a [[LakeTable.purge]]-scrubbed erasure) refuses LOUDLY — a
  *    visible gap, never a silent one;
  *  - metadata-only versions (DDL, constraints, indexes) emit nothing.
  *
  * Scale: each micro-batch reads exactly the churn of its version
  * range — appended files, sidecar files, dv masks — never the table.
  * Out of scope (refused loudly): tables with a pending metadata-only
  * rename/drop and EQUALITY (keyed) merge-on-read delete state
  * (materialize first). */
final class GraftLakeCdfSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-lake-cdf"

  private def rootOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-lake-cdf requires .load(path)"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftLakeCdfSource.cdfSchema(SparkSession.active, rootOf(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new GraftLakeCdfTable(
      Option(properties.get("path")).getOrElse(
        throw new IllegalArgumentException(
          "graft-lake-cdf requires .load(path)")),
      schema)
}

object GraftLakeCdfSource {
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  private[sources] def cdfSchema(spark: SparkSession,
                                 root: String): StructType = {
    val base = LakeTable.read(spark, root).schema
    require(!base.fieldNames.exists(n =>
        n.equalsIgnoreCase(ChangeTypeCol) ||
        n.equalsIgnoreCase(CommitVersionCol)),
      s"table at $root already carries a CDF-reserved column name")
    StructType(base.fields :+
      StructField(ChangeTypeCol, StringType, nullable = false) :+
      StructField(CommitVersionCol, LongType, nullable = false))
  }
}

private[sources] final class GraftLakeCdfTable(root: String,
                                               schema0: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft-lake-cdf:$root"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = schema0
      override def toMicroBatchStream(checkpointLocation: String)
          : MicroBatchStream = {
        val sv = Option(options.get("startingVersion")).map(_.toInt)
        val st = Option(options.get("startingTimestamp"))
        require(sv.isEmpty || st.isEmpty,
          "graft-lake-cdf: startingVersion and startingTimestamp are " +
            "mutually exclusive — pick one")
        // a timestamp resolves ONCE, at stream start, to the first
        // commit at or after it (Delta's startingTimestamp contract)
        val resolved = st.map(ts => LakeTable.firstVersionAtOrAfter(
          SparkSession.active, root,
          Math.multiplyExact(LakeTable.parseTsLiteralMillis(ts), 1000L)))
          .orElse(sv)
        new GraftLakeCdfStream(root, schema0, resolved,
          Option(options.get("maxVersionsPerTrigger")).map(_.toInt))
      }
    }
}

private[sources] final class GraftLakeCdfStream(
    root: String, cdfSchema: StructType, startingVersion: Option[Int],
    maxVersionsPerTrigger: Option[Int] = None)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsAdmissionControl {

  private def spark = SparkSession.active
  // data columns = the CDF schema minus the two feed columns
  private val dataSchema = StructType(cdfSchema.fields.dropRight(2))
  private val sidecarSchema = StructType(dataSchema.fields :+
    cdfSchema.fields(cdfSchema.length - 2)) // + _change_type

  override def initialOffset(): Offset =
    GraftLakeOffset(startingVersion.map(v => math.max(0, v - 1)).getOrElse(0))
  override def latestOffset(): Offset =
    GraftLakeOffset(LakeTable.latestVersion(spark, root).getOrElse(0))
  /** Admission control, same contract as the plain source (X225):
    * `maxVersionsPerTrigger` caps how many commits one micro-batch may
    * drain, so a CDF stream starting against a long history backfills
    * in bounded, checkpointable batches instead of draining every
    * version into micro-batch 1. Without the option every available
    * version drains in one batch (the prior contract, unchanged). */
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : Offset = {
    val s = start.asInstanceOf[GraftLakeOffset].v
    val latest = LakeTable.latestVersion(spark, root).getOrElse(0)
    GraftLakeOffset(maxVersionsPerTrigger match {
      case Some(n) => math.min(latest, s + math.max(1, n))
      case None => latest
    })
  }
  override def deserializeOffset(json: String): Offset =
    GraftLakeOffset(json.trim.toInt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftLakeOffset].v
    val e = end.asInstanceOf[GraftLakeOffset].v
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def files(dir: Path): Seq[(String, Long)] =
      fs.listStatus(dir)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName)
        .map(f => (f.getPath.toString, f.getLen)).toSeq
    if (e >= 1) {
      val endMeta = LakeTable.manifestMetaAt(spark, root, e)
      if (LakeTable.colMapAt(endMeta).nonEmpty ||
          LakeTable.colDropsAt(endMeta).nonEmpty)
        throw new UnsupportedOperationException(
          s"graft-lake-cdf: table at $root has a metadata-only column " +
            "rename/drop; materialize it (LakeTable.compact) first")
    }
    (s + 1 to e).flatMap { v =>
      val cur = LakeTable.dataDirsAt(spark, root, v).toSet
      val prev =
        if (v <= 1) Set.empty[String]
        else LakeTable.dataDirsAt(spark, root, v - 1).toSet
      val meta = LakeTable.manifestMetaAt(spark, root, v)
      val prevMeta =
        if (v <= 1) Map.empty[String, String]
        else LakeTable.manifestMetaAt(spark, root, v - 1)
      LakeTable.cdcPathAt(meta) match {
        case Some(rel) =>
          val p = new Path(root, rel)
          if (!fs.exists(p))
            throw new UnsupportedOperationException(
              s"graft-lake-cdf: version $v of $root references a change " +
                s"sidecar ($rel) that no longer exists — it was scrubbed " +
                "(purge erasure beats the feed); restart the stream past " +
                "this version or re-snapshot")
          files(p).map { case (fp, len) =>
            GraftLakeCdfPartition(fp, len, v, fromSidecar = true) }
        case None
            if meta.get("op").contains("compact-deletes") &&
               cur == prev =>
          // a deletion-vector FOLD: the dv sidecar list is rewritten to
          // one deduplicated sidecar but every data dir carries by name
          // and the masked row set is identical — a zero-change version
          // (the dv-differs arm below must not fire on it)
          Seq.empty
        case None
            if LakeTable.deleteState(meta) !=
               LakeTable.deleteState(prevMeta) =>
          throw new UnsupportedOperationException(
            s"graft-lake-cdf: version $v of $root is a merge-on-read " +
              "delete, which has no change sidecar; use copy-on-write " +
              "deletes (deleteWhere) on CDF tables")
        case None
            if LakeTable.dvState(meta) != LakeTable.dvState(prevMeta) &&
               LakeTable.dvState(prevMeta).toSet.subsetOf(
                 LakeTable.dvState(meta).toSet) &&
               (meta.get("op").contains("update-mor") ||
                meta.get("op").contains("delete-dv") ||
                meta.get("op").contains("merge-mor")) =>
          // a deletion-vector commit WITHOUT a staged change sidecar:
          // the dv mask itself names exactly the preimage rows, so the
          // feed reconstructs from the mask + the appended replacement
          // group(s) — churn-bounded, zero extra stored bytes (Delta
          // serves DV commits from their DVs the same way). Preimages
          // classify PER ROW by the mask's own op tag ('U' →
          // update_preimage, 'D' → delete — a clause-matrix MERGE
          // mixes both); update-mor's appended rows are ALL
          // update_postimage; merge-mor's appended rows split by the
          // delta writer's file classification (part-u-/part-i-) when
          // present, else per row on the recorded merge key.
          val op = meta("op")
          val newRels = LakeTable.dvState(meta)
            .filterNot(LakeTable.dvState(prevMeta).toSet)
          // driver-side bound: the reconstruction decodes these masks
          // (and for keyed merges collects distinct matched keys) on
          // the driver
          val newBytes =
            LakeTable.dvSidecarBytesForRels(spark, root, newRels)
          if (newBytes > GraftLakeCdfStream.MaxMaskBytes)
            throw new UnsupportedOperationException(
              s"graft-lake-cdf: version $v of $root added $newBytes " +
                "bytes of dv sidecars — past the driver reconstruction " +
                s"bound (${GraftLakeCdfStream.MaxMaskBytes}); enable the " +
                "feed (LakeTable.enableChangeFeed) before mass merges")
          val masksByOp =
            GraftLakeCdfStream.masksByOp(spark, root, newRels)
          val pre = masksByOp.toSeq
            .sortBy { case ((fp, o), _) => (fp, o) }
            .map { case ((fp, o), m) =>
              val path = LakeTable.pathOfKey(fp)
              GraftLakeCdfPartition(path.toString,
                fs.getFileStatus(path).getLen, v,
                fromSidecar = false,
                tag = if (o == "D") "delete" else "update_preimage",
                mask = m)
            }
          // per-file merged masks (ops unioned) for the keyed-merge
          // matched-keys probe below
          lazy val masks: Map[String, Array[Byte]] = masksByOp.toSeq
            .groupBy(_._1._1)
            .map { case (fp, entries) =>
              val all = entries.flatMap { case (_, m) =>
                val csr = new DvMaskCodec.Cursor(m)
                val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
                while (csr.hasNext) buf += csr.next()
                buf
              }
              fp -> DvMaskCodec.encode(all.distinct.sorted.toArray)
            }
          val addedFiles = (cur -- prev).toSeq.sorted
            .flatMap(d => files(new Path(root, d)))
          // the delta writer's per-class file names — exact appended-row
          // classification for ANY ON-clause shape, zero recorded state
          def fileClass(fp: String): Option[String] = {
            val n = new Path(fp).getName
            if (n.startsWith("part-u-")) Some("update_postimage")
            else if (n.startsWith("part-i-")) Some("insert")
            else None
          }
          val post: Seq[GraftLakeCdfPartition] = op match {
            case "update-mor" => addedFiles.map { case (fp, len) =>
              GraftLakeCdfPartition(fp, len, v, fromSidecar = false,
                tag = "update_postimage") }
            case "merge-mor"
                if addedFiles.forall { case (fp, _) =>
                  fileClass(fp).isDefined } =>
              // covers the all-delete clause matrix too (zero adds)
              addedFiles.map { case (fp, len) =>
                GraftLakeCdfPartition(fp, len, v, fromSidecar = false,
                  tag = fileClass(fp).get) }
            case "merge-mor" if !meta.contains("mergekey") =>
              throw new UnsupportedOperationException(
                s"graft-lake-cdf: version $v of $root is a merge " +
                  "commit with neither classified data files nor a " +
                  "recorded merge key — enable the feed " +
                  "(LakeTable.enableChangeFeed) BEFORE row-changing " +
                  "commits")
            case "merge-mor" =>
              val key = meta("mergekey")
              val kf = dataSchema.fields
                .find(_.name.equalsIgnoreCase(key))
                .getOrElse(throw new UnsupportedOperationException(
                  s"graft-lake-cdf: version $v of $root merged on " +
                    s"'$key', which the current schema lacks"))
              kf.dataType match {
                case org.apache.spark.sql.types.ByteType |
                     org.apache.spark.sql.types.ShortType |
                     org.apache.spark.sql.types.IntegerType |
                     org.apache.spark.sql.types.LongType |
                     org.apache.spark.sql.types.StringType => ()
                case t => throw new UnsupportedOperationException(
                  s"graft-lake-cdf: version $v of $root merged on " +
                    s"'$key' of type ${t.simpleString} — sidecar-less " +
                    "merge feeds support integral/string keys (enable " +
                    "the feed for other key types)")
              }
              // key values of the REPLACED rows — scan only the masked
              // files, keep masked positions (O(churn))
              import org.apache.spark.sql.functions.{col => fcol}
              val sp = spark
              import sp.implicits._
              val pairs = masks.toSeq.flatMap { case (fp, m) =>
                val csr = new DvMaskCodec.Cursor(m)
                val buf = scala.collection.mutable.ArrayBuffer.empty[
                  (String, Long)]
                while (csr.hasNext) buf += ((fp, csr.next()))
                buf
              }.toDF("__mf", "__mp")
              val matchedKeys =
                if (masks.isEmpty) Array.empty[String]
                else sp.read.parquet(masks.keys.toSeq.sorted
                    .map(LakeTable.pathOfKey(_).toString): _*)
                  .withColumn("__mf", fcol("_metadata.file_path"))
                  .withColumn("__mp", fcol("_metadata.row_index"))
                  .join(pairs, Seq("__mf", "__mp"), "left_semi")
                  .select(fcol(kf.name).cast("string")).distinct()
                  .collect().map(_.getString(0))
              addedFiles.map { case (fp, len) =>
                GraftLakeCdfPartition(fp, len, v, fromSidecar = false,
                  tag = "insert", postKeys = matchedKeys,
                  keyCol = kf.name) }
            case _ => Seq.empty
          }
          pre ++ post
        case None
            if LakeTable.dvState(meta) != LakeTable.dvState(prevMeta) =>
          // a dv REWRITE shape this feed can't reconstruct (sidecars
          // dropped or an op without a recorded key) — refuse loudly
          throw new UnsupportedOperationException(
            s"graft-lake-cdf: version $v of $root is a deletion-vector " +
              "commit without a change sidecar — enable the feed " +
              "(LakeTable.enableChangeFeed) BEFORE row-changing commits")
        case None if (prev -- cur).nonEmpty =>
          throw new UnsupportedOperationException(
            s"graft-lake-cdf: version $v of $root " +
              s"(op=${meta.getOrElse("op", "?")}) rewrote file groups " +
              "without a change sidecar — enable the feed " +
              "(LakeTable.enableChangeFeed) BEFORE row-changing commits, " +
              "or serve this window with table_changes() instead")
        case None =>
          (cur -- prev).toSeq.sorted.flatMap(d => files(new Path(root, d)))
            .map { case (fp, len) =>
              GraftLakeCdfPartition(fp, len, v, fromSidecar = false) }
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    def readerFor(schema: StructType) =
      new ParquetFileFormat().buildReaderWithPartitionValues(
        sparkSession = spark,
        dataSchema = schema,
        partitionSchema = StructType(Nil),
        requiredSchema = schema,
        filters = Nil,
        options = Map(DsFileFormat.OPTION_RETURNING_BATCH -> "false"),
        hadoopConf = spark.sessionState.newHadoopConf())
    new GraftLakeCdfReaderFactory(
      readerFor(dataSchema), readerFor(sidecarSchema),
      dataSchema, sidecarSchema)
  }
}

private[sources] object GraftLakeCdfStream {

  /** Above this many bytes of dv sidecars added by one version, the
    * feed refuses to reconstruct it: the reconstruction builds the
    * version's masks on the driver, and a mask this large (≈ tens of
    * millions of rows) belongs in a change sidecar. */
  val MaxMaskBytes: Long = 64L * 1024 * 1024

  /** The masks of the sidecars `rels`, per (data file key, op tag) and
    * built on the driver: the feed classifies each masked row by its
    * own 'U'/'D' tag (update preimage vs delete), so a clause-matrix
    * MERGE's mixed masks stay apart. Each `.bin` sidecar and parquet
    * sidecar part decodes through the per-JVM sidecar cache
    * ([[GraftDvSidecars]]), with no Spark job. Callers bound the
    * sidecar bytes first ([[MaxMaskBytes]]). */
  def masksByOp(spark: SparkSession, root: String, rels: Seq[String])
      : Map[(String, String), Array[Byte]] =
    if (rels.isEmpty) Map.empty
    else {
      val sidecars = GraftDvBatchScan.sidecars(spark, root, rels, None)
      val load = GraftDvBatchScan.load(spark, sidecars)
      sidecars.dv.toSeq.flatMap(load.entries).groupBy(e => (e._1, e._2))
        .map { case (k, es) => k -> GraftDvSidecars.union(es.map(_._3)) }
    }
}

/** One CDF file read. `fromSidecar` rows carry their own tag in-file;
  * otherwise `tag` applies — filtered to the masked positions when
  * `mask` is set (dv preimages), and re-classified per row against
  * `postKeys` on `keyCol` for sidecar-less merge postimages. */
private[sources] final case class GraftLakeCdfPartition(
    path: String, length: Long, version: Int,
    fromSidecar: Boolean,
    tag: String = "insert",
    mask: Array[Byte] = null,
    postKeys: Array[String] = null,
    keyCol: String = null) extends InputPartition

/** Per-file CDF reader: appends `_change_type` (constant `insert` for
  * append-version data files; carried in-file for sidecar rows) and
  * the constant `_commit_version` to every row. The copy is row-at-a-
  * time on the feed path only — feeds are churn-bounded by design. */
private[sources] final class GraftLakeCdfReaderFactory(
    dataFn: PartitionedFile => Iterator[InternalRow],
    sidecarFn: PartitionedFile => Iterator[InternalRow],
    dataSchema: StructType, sidecarSchema: StructType)
    extends PartitionReaderFactory {

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    val fp = p.asInstanceOf[GraftLakeCdfPartition]
    val pf = PartitionedFile(
      new GenericInternalRow(Array.empty[Any]),
      SparkPath.fromPathString(fp.path), 0, fp.length)
    val nData = dataSchema.length
    val dataTypes = dataSchema.fields.map(_.dataType)
    val it: Iterator[InternalRow] =
      if (fp.fromSidecar) sidecarFn(pf).map { r =>
        val out = new GenericInternalRow(nData + 2)
        var i = 0
        while (i < nData) { out.update(i, r.get(i, dataTypes(i))); i += 1 }
        out.update(nData, r.getUTF8String(nData).copy()) // _change_type
        out.update(nData + 1, fp.version.toLong)
        out
      }
      else {
        // dv preimages: keep EXACTLY the masked positions (the reader
        // scans the whole file, so the row counter is the dv position
        // space — GraftDvBatchScan's mask walk, inverted)
        val base =
          if (fp.mask == null) dataFn(pf)
          else DvMaskCodec.walk(dataFn(pf), fp.mask, keepMasked = true)(
            (r, _) => r)
        val tagU = UTF8String.fromString(fp.tag)
        val postU = UTF8String.fromString("update_postimage")
        val keySet: java.util.HashSet[String] =
          if (fp.postKeys == null) null
          else {
            val hs = new java.util.HashSet[String](fp.postKeys.length * 2)
            fp.postKeys.foreach(hs.add)
            hs
          }
        val keyIdx =
          if (fp.keyCol == null) -1 else dataSchema.fieldIndex(fp.keyCol)
        base.map { r =>
          val out = new GenericInternalRow(nData + 2)
          var i = 0
          while (i < nData) { out.update(i, r.get(i, dataTypes(i))); i += 1 }
          val tag =
            if (keySet == null) tagU
            else {
              val kv = r.get(keyIdx, dataTypes(keyIdx))
              if (kv != null && keySet.contains(kv.toString)) postU
              else tagU
            }
          out.update(nData, tag)
          out.update(nData + 1, fp.version.toLong)
          out
        }
      }
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}
