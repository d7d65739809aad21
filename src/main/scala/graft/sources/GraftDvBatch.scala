package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, Statistics, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.{FileFormat => DsFileFormat}
import org.apache.spark.sql.functions.{col, collect_set, sort_array}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import java.util.OptionalLong

/** NATIVE DSv2 Batch for deletion-vector snapshots — the read path of
  * every common dv snapshot, through SQL ([[GraftDvLakeTable]]) and the
  * Scala API alike ([[LakeTable.read]] builds the same relation):
  *
  *  - the SAME manifest admission chain prunes file groups before any
  *    footer opens ([[LakeTable.pruneDirsForFilters]] — partition
  *    values, min/max stats, bloom);
  *  - surviving files read through Spark's parquet reader (vectorized
  *    underneath for atomic schemas) with the translatable filters
  *    pushed for row-group pruning on UNMASKED files;
  *  - the dv mask applies per file IN the reader: each file carries
  *    only ITS masked positions, varint-delta encoded ([[DvMaskCodec]]
  *    — a sorted position list costs ~1–2 bytes/row), and a masked file
  *    reads WHOLE, without parquet filter pushdown, so the row counter
  *    sees every row (position = sequential row index of the
  *    whole-file scan; files are never split);
  *  - files pack into partitions by size the way Spark's own file scans
  *    do ([[GraftDvBatchScan.pack]]), so a snapshot of many small groups
  *    runs a handful of tasks, not one per file;
  *  - [[SupportsReportStatistics]] reports the kept files' byte size,
  *    so the STATIC planner broadcasts a small dv dimension — no AQE
  *    needed.
  *
  * Spark re-applies the full predicate above the scan (every filter is
  * returned as residual by the builder), so pushdown here is a strict
  * optimization. [[GraftDvScanBuilder]] routes the snapshot shapes outside
  * [[LakeTable.nativeDvOk]] — column rename/drop mappings,
  * ALTER-extended schemas, equality deletes, masks past
  * [[GraftDvBatchScan.MaxMaskBytes]] — to the V1 bridge, which
  * reproduces the full read semantics via [[LakeTable.readDirsSubset]].
  * Mask state is O(churn), never O(table): the planner ships each
  * file's own compressed mask with its partition, and
  * [[LakeTable.rewriteDeletes]] folds masks away.
  */
private[sources] final class GraftDvBatchScan(
    root: String, version: Option[Int], tableSchema: StructType,
    requiredSchema: StructType, filters: Seq[Filter])
    extends Scan with Batch with SupportsReportStatistics {

  private def spark = SparkSession.active

  // resolved once per scan; planning and statistics share it
  private lazy val pruned: (Seq[String], Int) = {
    val p = LakeTable.pruneDirsForFilters(spark, root, version, filters)
    GraftDvScan.lastPrune = Some((p._1.size, p._2))
    p
  }

  private lazy val keptFiles: Seq[(String, Long)] = {
    val f = LakeTable.fileSystem(spark, root)
    pruned._1.flatMap { d =>
      f.listStatus(new Path(root, d))
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName)
        .map(st => (st.getPath.toString, st.getLen))
    }
  }

  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftDvBatchScan `$root`" + version.fold("")(v => s"@v$v") +
      (if (filters.isEmpty) "" else filters.mkString(" [", ", ", "]"))

  /** Kept bytes — post-pushdown, so a dim pruned to a sliver reports a
    * sliver; numRows left empty (footer reads aren't worth it, the
    * byte size is what the broadcast threshold consumes). */
  override def estimateStatistics(): Statistics = {
    val bytes = math.max(1L, keptFiles.map(_._2).sum)
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
      override def numRows(): OptionalLong = OptionalLong.empty()
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val meta = LakeTable.manifestMetaAt(spark, root,
      version.orElse(LakeTable.latestVersion(spark, root)).getOrElse(
        throw new IllegalStateException(s"no table at $root")))
    val masks = GraftDvBatchScan.loadMasks(spark, root, meta)
    GraftDvBatchScan.pack(spark, keptFiles.map { case (p, len) =>
      GraftDvFile(p, len, masks.getOrElse(p, null))
    }).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    def readerFor(pushed: Seq[Filter]) =
      new ParquetFileFormat().buildReaderWithPartitionValues(
        sparkSession = spark,
        dataSchema = tableSchema,
        partitionSchema = StructType(Nil),
        requiredSchema = requiredSchema,
        filters = pushed,
        options = Map(DsFileFormat.OPTION_RETURNING_BATCH -> "false"),
        hadoopConf = spark.sessionState.newHadoopConf())
    // unmasked files take row-group pruning; masked files read FULLY so
    // the sequential row counter equals the dv position space
    new GraftDvReaderFactory(readerFor(filters), readerFor(Nil))
  }
}

private[sources] object GraftDvBatchScan {

  /** Above this many dv sidecar bytes the builder keeps the V1
    * bridge's distributed anti-join: the native path ships each file's
    * compressed mask from the driver, and a mask this large (≈ tens of
    * millions of rows) is past due for [[LakeTable.rewriteDeletes]]
    * anyway. */
  private[sources] val MaxMaskBytes: Long = 64L * 1024 * 1024

  /** Whole files packed into partitions by size with Spark's own
    * file-scan packing (`FilePartition.maxSplitBytes` and
    * `getFilePartitions`, largest file first): the same target size,
    * open cost and partition-count settings as a parquet scan, except
    * that no file is split. Each file keeps its own mask. */
  private[sources] def pack(spark: SparkSession,
      files: Seq[GraftDvFile]): Seq[GraftDvFilePartition] = {
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(spark,
      files.map(_.length + openCost).sum)
    val byPath = files.map(f => SparkPath.fromPathString(f.path) -> f).toMap
    val whole = files.sortBy(-_.length).map(f => PartitionedFile(
      new GenericInternalRow(Array.empty[Any]),
      SparkPath.fromPathString(f.path), 0, f.length))
    FilePartition.getFilePartitions(spark, whole, maxSplit).map(p =>
      GraftDvFilePartition(p.files.map(pf => byPath(pf.filePath))))
  }

  /** Per-FILE masked positions of a snapshot, varint-delta encoded —
    * one distributed group-collect over the sidecars (O(mask), bounded
    * by [[MaxMaskBytes]] at the builder). */
  private[sources] def loadMasks(spark: SparkSession, root: String,
      meta: Map[String, String]): Map[String, Array[Byte]] =
    loadMasksFromRels(spark, root, LakeTable.dvState(meta))

  /** [[loadMasks]] over an explicit sidecar list — the CDF source
    * reconstructs a sidecar-less dv commit from ONLY the sidecars that
    * version added. */
  private[sources] def loadMasksFromRels(spark: SparkSession,
      root: String, rels: Seq[String]): Map[String, Array[Byte]] = {
    if (rels.isEmpty) return Map.empty
    // all-binary accumulations (stacked point updates) merge on the
    // driver from the decoded-sidecar cache — zero Spark jobs
    val merged = LakeTable.binMasksMerged(spark, root, rels)
    if (merged.isDefined) return merged.get
    LakeTable.dvMaskFrame(spark, root, rels)
      .groupBy(col(LakeTable.FileCol))
      .agg(sort_array(collect_set(col(LakeTable.PosCol))).as("ps"))
      .collect()
      .map { r =>
        r.getString(0) -> DvMaskCodec.encode(
          r.getSeq[Long](1).toArray)
      }.toMap
  }

  /** [[loadMasksFromRels]] keyed (file, op tag): the change feed
    * classifies each masked row by its own 'U'/'D' tag (update
    * preimage vs delete), so a clause-matrix MERGE's mixed masks stay
    * distinguishable. Same driver-side bound contract as
    * [[loadMasksFromRels]] — callers gate on sidecar bytes. */
  private[sources] def loadMasksByOpFromRels(spark: SparkSession,
      root: String, rels: Seq[String])
      : Map[(String, String), Array[Byte]] = {
    if (rels.isEmpty) return Map.empty
    val merged = LakeTable.binMasksMergedByOp(spark, root, rels)
    if (merged.isDefined) return merged.get
    LakeTable.dvMaskFrame(spark, root, rels)
      .groupBy(col(LakeTable.FileCol), col("__op"))
      .agg(sort_array(collect_set(col(LakeTable.PosCol))).as("ps"))
      .collect()
      .map { r =>
        (r.getString(0), r.getString(1)) -> DvMaskCodec.encode(
          r.getSeq[Long](2).toArray)
      }.toMap
  }
}

/** One data file of a dv scan, read whole (never split: the dv position
  * space is the whole-file row index). `mask` is null for unmasked
  * files. */
private[sources] final case class GraftDvFile(
    path: String, length: Long, mask: Array[Byte])

/** The whole files one task reads, in order ([[GraftDvBatchScan.pack]]);
  * each keeps its own mask. */
private[sources] final case class GraftDvFilePartition(
    files: Array[GraftDvFile]) extends InputPartition

/** Varint(LEB128)-encoded gaps of a strictly-increasing non-negative
  * position list: gap₀ = p₀ + 1, gapᵢ = pᵢ − pᵢ₋₁ (all ≥ 1). Point
  * masks cost a couple of bytes; a dense masked run costs ~1 byte/row
  * — the roaring-lite encoding that keeps shipped masks O(churn). */
private[sources] object DvMaskCodec {
  def encode(sorted: Array[Long]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(
      math.max(16, sorted.length * 2))
    var prev = -1L
    var i = 0
    while (i < sorted.length) {
      var d = sorted(i) - prev
      while ((d & ~0x7fL) != 0L) {
        out.write(((d & 0x7fL) | 0x80L).toInt); d >>>= 7
      }
      out.write(d.toInt)
      prev = sorted(i); i += 1
    }
    out.toByteArray
  }

  /** Encoded position count — one pass over the bytes (a position ends
    * at each byte with the continuation bit clear). */
  def count(bytes: Array[Byte]): Int = {
    var i = 0; var n = 0
    while (i < bytes.length) {
      if ((bytes(i) & 0x80) == 0) n += 1
      i += 1
    }
    n
  }

  /** Streaming decoder — O(1) memory, positions come back in order. */
  final class Cursor(bytes: Array[Byte]) {
    private var i = 0
    private var cur = -1L
    def hasNext: Boolean = i < bytes.length
    def next(): Long = {
      var shift = 0; var d = 0L; var b = 0
      do {
        b = bytes(i) & 0xff; i += 1
        d |= (b & 0x7fL) << shift; shift += 7
      } while ((b & 0x80) != 0)
      cur += d
      cur
    }
  }
}

/** COMPACT single-file deletion-vector sidecar (the roaring-bitmap
  * role in Delta): `_deletes/dv-<uuid>.bin` holding, per masked data
  * file, its op tag and varint-delta-encoded sorted positions
  * ([[DvMaskCodec]]) — a point update's mask is one ~150-byte FILE
  * where the parquet form was a directory of ~1–2 KB plus checksum
  * litter. Small masks ([[LakeTable]]'s write threshold) take this
  * form; large masks stay parquet so reads and folds stay distributed.
  * Layout: magic "GDV1", varint entry count, then per entry
  * (varint pathLen, UTF-8 path, 1 op byte, varint maskLen, mask). */
private[sources] object DvBinarySidecar {
  private val Magic = "GDV1".getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private def writeVarint(out: java.io.DataOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0L) {
      out.writeByte(((v & 0x7fL) | 0x80L).toInt); v >>>= 7
    }
    out.writeByte(v.toInt)
  }
  private def readVarint(in: java.io.DataInputStream): Long = {
    var shift = 0; var v = 0L; var b = 0
    do {
      b = in.readUnsignedByte()
      v |= (b & 0x7fL) << shift; shift += 7
    } while ((b & 0x80) != 0)
    v
  }

  def write(f: org.apache.hadoop.fs.FileSystem, path: Path,
            perFile: Seq[(String, String, Array[Long])]): Unit = {
    val raw = f.create(path, false)
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(raw))
    try {
      out.write(Magic)
      writeVarint(out, perFile.size.toLong)
      perFile.foreach { case (fp, op, positions) =>
        val pb = fp.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        writeVarint(out, pb.length.toLong); out.write(pb)
        out.writeByte(op.charAt(0).toInt)
        val mask = DvMaskCodec.encode(positions)
        writeVarint(out, mask.length.toLong); out.write(mask)
      }
      out.flush()
    } finally out.close()
  }

  /** (data file path, op, ENCODED mask) entries. */
  def read(f: org.apache.hadoop.fs.FileSystem,
           path: Path): Seq[(String, String, Array[Byte])] = {
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(f.open(path)))
    try {
      val m = new Array[Byte](Magic.length); in.readFully(m)
      require(java.util.Arrays.equals(m, Magic),
        s"bad dv sidecar magic at $path")
      val n = readVarint(in).toInt
      (0 until n).map { _ =>
        val pl = readVarint(in).toInt
        val pb = new Array[Byte](pl); in.readFully(pb)
        val op = in.readUnsignedByte().toChar.toString
        val ml = readVarint(in).toInt
        val mb = new Array[Byte](ml); in.readFully(mb)
        (new String(pb, java.nio.charset.StandardCharsets.UTF_8), op, mb)
      }
    } finally in.close()
  }
}

/** Reader factory: a partition's files stream in order — unmasked
  * files through the pushed-filter reader, masked files through the
  * full-file reader behind a two-pointer skip over their own decoded
  * position stream. */
private[sources] final class GraftDvReaderFactory(
    pushedFn: PartitionedFile => Iterator[InternalRow],
    fullFn: PartitionedFile => Iterator[InternalRow])
    extends PartitionReaderFactory {

  private def rowsOf(f: GraftDvFile): Iterator[InternalRow] = {
    val pf = PartitionedFile(
      new GenericInternalRow(Array.empty[Any]),
      SparkPath.fromPathString(f.path), 0, f.length)
    if (f.mask == null) pushedFn(pf)
    else {
      val cursor = new DvMaskCodec.Cursor(f.mask)
      var nextMasked = if (cursor.hasNext) cursor.next() else -1L
      var idx = -1L
      fullFn(pf).filter { _ =>
        idx += 1
        if (idx == nextMasked) {
          nextMasked = if (cursor.hasNext) cursor.next() else -1L
          false
        } else true
      }
    }
  }

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    val it = p.asInstanceOf[GraftDvFilePartition].files.iterator
      .flatMap(rowsOf)
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}
