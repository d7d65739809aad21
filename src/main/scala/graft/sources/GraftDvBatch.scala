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
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import java.util.OptionalLong

/** The deletion-vector (dv) reader: the one scan that applies a
  * snapshot's positional masks, for SQL reads ([[GraftDvLakeTable]]),
  * the Scala API ([[LakeTable.read]], [[LakeTable.readWithLineage]] and
  * the range/point reads build the same relation) and the SQL
  * merge-on-read operations' row scan ([[GraftDeltaScanBuilder]]):
  *
  *  - the SAME manifest admission chain prunes file groups before any
  *    footer opens ([[LakeTable.pruneDirsForFilters]] — partition
  *    values, min/max stats, bloom);
  *  - surviving files read through Spark's parquet reader (vectorized
  *    underneath for atomic schemas) with the translatable filters
  *    pushed for row-group pruning on UNMASKED files;
  *  - the dv mask applies per file IN the reader: each file carries
  *    only ITS masked positions, varint-delta encoded ([[DvMaskCodec]]
  *    — a sorted position list costs ~1–2 bytes/row), keyed by
  *    [[LakeTable.fileKey]]; a masked file reads WHOLE, without parquet
  *    filter pushdown, so the row counter sees every row (position =
  *    sequential row index of the whole-file scan; files are never
  *    split);
  *  - lineage: when the required schema asks for `__file`/`__pos` the
  *    reader appends each row's file key and position, and then every
  *    file reads whole, so `__pos` is the row's index in its file;
  *  - the snapshot's column mapping is a schema mapping: data columns
  *    read under their PHYSICAL parquet names
  *    ([[LakeTable.physicalName]]) and report their logical names —
  *    renamed columns, metadata-only drops, and ALTER-added columns an
  *    older file lacks (parquet reads a missing column as nulls);
  *  - files pack into partitions by size the way Spark's own file scans
  *    do ([[GraftDvBatchScan.pack]]), so a snapshot of many small groups
  *    runs a handful of tasks, not one per file;
  *  - [[SupportsReportStatistics]] reports the kept files' byte size,
  *    so the STATIC planner broadcasts a small dv dimension — no AQE
  *    needed.
  *
  * Spark re-applies the full predicate above the scan (every filter is
  * returned as residual by the builders), so pushdown here is a strict
  * optimization; filters on a column the mapping renames or hides are
  * not pushed at all. Snapshots with equality deletes or masks past
  * [[GraftDvBatchScan.MaxMaskBytes]] stay outside
  * ([[LakeTable.nativeDvOk]]). Mask state is O(churn), never O(table):
  * the planner ships each file's own compressed mask with its
  * partition, and [[LakeTable.rewriteDeletes]] folds masks away.
  */
private[sources] final class GraftDvBatchScan(
    root: String, version: Option[Int], tableSchema: StructType,
    requiredSchema: StructType, filters: Seq[Filter])
    extends Scan with Batch with SupportsReportStatistics {

  private def spark = SparkSession.active

  // resolved once, so groups, masks and column mapping come from one
  // snapshot even when a commit lands between planning steps
  private lazy val snapshot: Int =
    version.orElse(LakeTable.latestVersion(spark, root)).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
  private lazy val meta: Map[String, String] =
    LakeTable.manifestMetaAt(spark, root, snapshot)

  private def physical(name: String): Option[String] =
    LakeTable.physicalName(meta, name)

  // filters on columns that read under their own name: stats, bloom
  // and parquet footers all speak physical names
  private lazy val pushable: Seq[Filter] =
    filters.filter(_.references.forall(r => physical(r).contains(r)))

  // resolved once per scan; planning and statistics share it
  private lazy val pruned: (Seq[String], Int) = {
    val p = LakeTable.pruneDirsForFilters(spark, root, Some(snapshot),
      pushable)
    GraftDvScan.lastPrune = Some((p._1.size, p._2))
    p
  }

  private lazy val keptFiles: Seq[(String, Long)] = {
    val f = LakeTable.fileSystem(spark, root)
    pruned._1.flatMap { d =>
      f.listStatus(new Path(root, d))
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName)
        .map(st => (LakeTable.fileKey(st.getPath), st.getLen))
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
    val masks = GraftDvBatchScan.loadMasks(spark, root, meta)
    GraftDvBatchScan.pack(spark, keptFiles.map { case (p, len) =>
      GraftDvFile(p, len, masks.getOrElse(p, null))
    }).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    import GraftDvReaderFactory.{File, Missing, Pos}
    def lineage(f: StructField) =
      (f.name.equalsIgnoreCase(LakeTable.FileCol) ||
        f.name.equalsIgnoreCase(LakeTable.PosCol)) &&
        !tableSchema.fieldNames.exists(_.equalsIgnoreCase(f.name))
    // the parquet read: every mapped data column under its physical
    // name, all nullable (an ALTER-added column is absent from older
    // files); output column i is parquet column plan(i), a lineage
    // value, or a column the mapping hides (typed null)
    val read = requiredSchema.fields.filterNot(lineage).flatMap(f =>
      physical(f.name).map(p => StructField(p, f.dataType, nullable = true)))
    var next = 0
    val plan = requiredSchema.fields.map { f =>
      if (lineage(f))
        if (f.name.equalsIgnoreCase(LakeTable.FileCol)) File else Pos
      else if (physical(f.name).isEmpty) Missing
      else { next += 1; next - 1 }
    }
    val shaped = plan.length != read.length
    def readerFor(pushed: Seq[Filter]) =
      new ParquetFileFormat().buildReaderWithPartitionValues(
        sparkSession = spark,
        dataSchema = StructType(read),
        partitionSchema = StructType(Nil),
        requiredSchema = StructType(read),
        filters = pushed,
        options = Map(DsFileFormat.OPTION_RETURNING_BATCH -> "false"),
        hadoopConf = spark.sessionState.newHadoopConf())
    // unmasked files take row-group pruning; masked files (and every
    // file of a lineage read) read FULLY so the sequential row counter
    // equals the dv position space
    new GraftDvReaderFactory(readerFor(pushable), readerFor(Nil),
      if (shaped) plan else null, requiredSchema.fields.map(_.dataType))
  }
}

private[sources] object GraftDvBatchScan {

  /** Above this many dv sidecar bytes reads keep the V1 bridge's
    * distributed anti-join and SQL merge-on-read operations refuse: the
    * native path ships each file's compressed mask from the driver, and
    * a mask this large (≈ tens of millions of rows) is past due for
    * [[LakeTable.rewriteDeletes]] anyway. */
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
    val byPath = files.map(f => SparkPath.fromUrlString(f.path) -> f).toMap
    val whole = files.sortBy(-_.length).map(f => PartitionedFile(
      new GenericInternalRow(Array.empty[Any]),
      SparkPath.fromUrlString(f.path), 0, f.length))
    FilePartition.getFilePartitions(spark, whole, maxSplit).map(p =>
      GraftDvFilePartition(p.files.map(pf => byPath(pf.filePath))))
  }

  /** Per-FILE masked positions of a snapshot, varint-delta encoded —
    * one distributed group-collect over the sidecars (O(mask), bounded
    * by [[MaxMaskBytes]] at the builder). */
  private[sources] def loadMasks(spark: SparkSession, root: String,
      meta: Map[String, String]): Map[String, Array[Byte]] = {
    val rels = LakeTable.dvState(meta)
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

  /** [[loadMasks]] over an explicit sidecar list, keyed (file, op
    * tag): the change feed reconstructs a sidecar-less dv commit from
    * ONLY the sidecars that version added, and classifies each masked
    * row by its own 'U'/'D' tag (update preimage vs delete), so a
    * clause-matrix MERGE's mixed masks stay distinguishable. Same
    * driver-side bound contract as [[loadMasks]] — callers gate on
    * sidecar bytes. */
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
  * space is the whole-file row index). `path` is the file's key
  * ([[LakeTable.fileKey]]); `mask` is null for unmasked files. */
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

  /** The rows of a WHOLE-file read (row i sits at position i) that
    * `mask` covers (`keepMasked`) or does not cover (a null mask covers
    * nothing), each handed to `f` with its position — the one
    * two-pointer walk over a file's rows and its decoded positions. */
  def walk[B](rows: Iterator[InternalRow], mask: Array[Byte],
      keepMasked: Boolean)(f: (InternalRow, Long) => B): Iterator[B] = {
    val cursor = if (mask == null) null else new Cursor(mask)
    var nextMasked =
      if (cursor != null && cursor.hasNext) cursor.next() else -1L
    var pos = -1L
    rows.filter { _ =>
      pos += 1
      val masked = pos == nextMasked
      if (masked)
        nextMasked = if (cursor.hasNext) cursor.next() else -1L
      masked == keepMasked
    }.map(f(_, pos))
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
  * files through the pushed-filter reader, masked files (and every file
  * when lineage is asked for) through the full-file reader behind the
  * mask walk ([[DvMaskCodec.walk]]). `plan` (null = parquet rows pass
  * through) names each output column's source: a parquet column
  * ordinal, [[GraftDvReaderFactory.File]]/[[GraftDvReaderFactory.Pos]]
  * lineage, or [[GraftDvReaderFactory.Missing]] (typed null). */
private[sources] final class GraftDvReaderFactory(
    pushedFn: PartitionedFile => Iterator[InternalRow],
    fullFn: PartitionedFile => Iterator[InternalRow],
    plan: Array[Int], types: Array[DataType])
    extends PartitionReaderFactory {
  import GraftDvReaderFactory._

  private val lineage =
    plan != null && plan.exists(c => c == File || c == Pos)

  private def rowsOf(f: GraftDvFile): Iterator[InternalRow] = {
    val pf = PartitionedFile(
      new GenericInternalRow(Array.empty[Any]),
      SparkPath.fromUrlString(f.path), 0, f.length)
    if (f.mask == null && !lineage) {
      val rows = pushedFn(pf)
      if (plan == null) rows else rows.map(shape(_, null, -1L))
    } else {
      val file = UTF8String.fromString(f.path)
      DvMaskCodec.walk(fullFn(pf), f.mask, keepMasked = false)((r, pos) =>
        if (plan == null) r else shape(r, file, pos))
    }
  }

  private def shape(r: InternalRow, file: UTF8String,
      pos: Long): InternalRow = {
    val out = new GenericInternalRow(plan.length)
    var i = 0
    while (i < plan.length) {
      plan(i) match {
        case Missing => ()
        case File    => out.update(i, file)
        case Pos     => out.update(i, pos)
        case c       => out.update(i, r.get(c, types(i)))
      }
      i += 1
    }
    out
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

private[sources] object GraftDvReaderFactory {
  val Missing = -1
  val File = -2
  val Pos = -3
}
