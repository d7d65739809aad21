package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition,
  PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Streaming READS of a [[LakeTable]] — the table format as a
  * Structured Streaming source, the capability Delta calls "streaming
  * from a table" (`spark.readStream.format("delta")`):
  *
  * {{{
  *   spark.readStream.format("graft-lake").load(root)   // path
  *   spark.readStream.table("lake.events")              // catalog
  * }}}
  *
  * Offsets ARE manifest versions: the commit log is already a totally
  * ordered, immutable sequence, so offset arithmetic is version
  * arithmetic and a restart replays from the checkpointed version with
  * exactly-once semantics (manifests never change after commit). Each
  * micro-batch reads the file groups ADDED in `(start, end]` — one
  * manifest diff per version, no directory scans of the table root.
  *
  * Append-only contract (Delta's default): a version that REMOVES file
  * groups (delete/merge/compaction/replace) fails the stream with the
  * offending op named — silently re-emitting rewritten groups would
  * double-count. At 100 TB this is the same shape as Delta's
  * `ignoreChanges=false` default.
  *
  * The per-file readers reuse Spark's own parquet row machinery
  * ([[ParquetFileFormat.buildReaderWithPartitionValues]] — the exact
  * function FileScanRDD ships to executors), so nulls-for-missing
  * columns (additive schema evolution) and every parquet decoding
  * detail match the batch path byte for byte. */
private[sources] final class GraftLakeMicroBatchStream(
    root: String, requiredSchema: StructType, tableSchema: StructType,
    ignoreChanges: Boolean,
    maxVersionsPerTrigger: Option[Int] = None,
    startingVersion: Option[Int] = None)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {

  private def spark = SparkSession.active

  /** Column mapping captured at STREAM START: renamed tables stream
    * fine because physical names are rename-stable (appends always
    * write physical; a metadata-only rename changes only the logical
    * side), so the requested LOGICAL fields translate to physical once
    * and every file in every batch decodes under them — rows are
    * positional, the logical shape is preserved. A mapping that
    * CHANGES mid-stream fails the batch by name (the stream's resolved
    * schema is stale — Delta fails ongoing streams on schema change
    * the same way); a restart re-resolves and continues. */
  private val (startColMap, startColDrops) =
    LakeTable.latestVersion(spark, root) match {
      case Some(v) =>
        val m = LakeTable.manifestMetaAt(spark, root, v)
        (LakeTable.colMapAt(m), LakeTable.colDropsAt(m))
      case None => (Seq.empty[(String, String)], Seq.empty[String])
    }

  /** Logical → physical field-name translation under the stream-start
    * mapping (no-op without renames). */
  private def toPhysical(st: StructType): StructType =
    if (startColMap.isEmpty) st
    else StructType(st.fields.map { f =>
      startColMap.find(_._2.equalsIgnoreCase(f.name))
        .map { case (phys, _) => f.copy(name = phys) }.getOrElse(f)
    })

  /** Delta's `startingVersion`: begin the stream AT that commit
    * (inclusive) instead of replaying the whole log — the backfill-
    * from-here knob. Offsets are versions, so "start at v" = initial
    * offset v−1. */
  override def initialOffset(): Offset =
    GraftLakeOffset(startingVersion.map(v => math.max(0, v - 1)).getOrElse(0))

  override def latestOffset(): Offset =
    GraftLakeOffset(LakeTable.latestVersion(spark, root).getOrElse(0))

  /** Admission control (Delta's `maxFilesPerTrigger` analog, in this
    * format's natural unit): `maxVersionsPerTrigger` caps how many
    * commits one micro-batch may drain, so a stream starting against a
    * long history backfills in bounded batches instead of reading the
    * entire log as batch 1 — bounded memory, bounded per-batch work,
    * checkpointable progress between them. Without the option every
    * available version drains in one batch (the existing contract). */
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

  /** Delete mask for the batch being planned: the END version's
    * accumulated MOR delete keys ([[GraftDvBatchScan.deleteKeys]]: the
    * per-JVM key decode the batch scan's tasks use, no Spark job),
    * applied row-by-row in the readers. Set by [[planInputPartitions]],
    * consumed by [[createReaderFactory]] — the driver plans one batch
    * at a time, so the handoff is sequential. Rows already emitted by
    * earlier batches are NOT retracted (an append-only stream cannot
    * retract — Delta's ignoreDeletes posture); rows a mask catches
    * BEFORE they are emitted never appear. */
  @volatile private var currentMask: Option[(String, DeleteKeys)] = None

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftLakeOffset].v
    val e = end.asInstanceOf[GraftLakeOffset].v
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // schema-stability gate: a rename/drop committed since the stream
    // resolved its schema makes the translation stale — fail the batch
    // by name, a restart re-resolves (Delta's schema-change posture)
    if (e >= 1) {
      val endMeta = LakeTable.manifestMetaAt(spark, root, e)
      if (LakeTable.colMapAt(endMeta) != startColMap ||
          LakeTable.colDropsAt(endMeta) != startColDrops)
        throw new UnsupportedOperationException(
          s"graft-lake streaming: column rename/drop mapping changed by " +
            s"version $e of $root since the stream started; restart the " +
            "stream to pick up the new schema")
    }
    currentMask =
      if (e < 1) None
      else GraftDvBatchScan.deleteKeys(spark, root,
        LakeTable.manifestMetaAt(spark, root, e), tableSchema)
    (s + 1 to e).flatMap { v =>
      val cur = LakeTable.dataDirsAt(spark, root, v)
      val prev = if (v <= 1) Seq.empty else LakeTable.dataDirsAt(spark, root, v - 1)
      val removed = prev.toSet -- cur.toSet
      // a deletion-vector commit removes NO dirs but still CHANGES rows
      // (it masks positions of shared groups and appends replacements);
      // emitting its added dir as plain appends would silently skip the
      // retractions — same append-only contract as a group rewrite
      val dvChanged = v >= 1 &&
        LakeTable.dvState(LakeTable.manifestMetaAt(spark, root, v)) !=
        (if (v <= 1) Seq.empty
         else LakeTable.dvState(LakeTable.manifestMetaAt(spark, root, v - 1)))
      if ((removed.nonEmpty || dvChanged) && !ignoreChanges) {
        val op = LakeTable.manifestMetaAt(spark, root, v).getOrElse("op", "?")
        val what =
          if (removed.nonEmpty) s"removed ${removed.size} file group(s)"
          else "masked rows via deletion vectors"
        throw new UnsupportedOperationException(
          s"graft-lake streaming reads are append-only; version $v " +
          s"(op=$op) $what. Restart the " +
          "stream from the current snapshot, or opt into " +
          "option(\"ignoreChanges\", \"true\") — rewritten groups are " +
          "then re-emitted in full (Delta's ignoreChanges contract).")
      }
      // (historical colmap values are irrelevant — physical names are
      // rename-stable, so the stream-start translation decodes every
      // file; only a mapping that changed SINCE stream start is a
      // hazard, checked once per batch against the end version below)
      (cur.toSet -- prev.toSet).toSeq.sorted.flatMap { dirRel =>
        fs.listStatus(new Path(root, dirRel))
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .sortBy(_.getPath.getName)
          .map(f => GraftLakeFilePartition(f.getPath.toString, f.getLen))
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // when a delete mask is live, read the key column too (appended to
    // the schema if the query didn't project it; dropped again after
    // the filter) so the reader can test membership row-by-row
    val mask = currentMask
    val (readSchema, keyIdx) = mask match {
      case Some((k, _)) =>
        requiredSchema.fields.zipWithIndex
          .find(_._1.name.equalsIgnoreCase(k)) match {
          case Some((_, i)) => (requiredSchema, i)
          case None =>
            val f = tableSchema.fields
              .find(_.name.equalsIgnoreCase(k))
              .getOrElse(throw new IllegalStateException(
                s"delete key '$k' not in table schema at $root"))
            (StructType(requiredSchema.fields :+ f),
              requiredSchema.fields.length)
        }
      case None => (requiredSchema, -1)
    }
    // built ONCE on the driver: a serializable closure holding the
    // broadcast hadoop conf + schemas (the same object FileScanRDD
    // ships); OPTION_RETURNING_BATCH=false forces row iterators (the
    // PartitionReader contract here is InternalRow, not ColumnarBatch).
    // Schemas translate LOGICAL → PHYSICAL under the stream-start
    // column mapping (files always carry physical names); the returned
    // rows are positional, so the logical shape is preserved for free
    val physRead = toPhysical(readSchema)
    val readFn = new ParquetFileFormat().buildReaderWithPartitionValues(
      sparkSession = spark,
      dataSchema = toPhysical(tableSchema),
      partitionSchema = StructType(Nil),
      requiredSchema = physRead,
      filters = Nil,
      options = Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      hadoopConf = spark.sessionState.newHadoopConf())
    new GraftLakeFileReaderFactory(readFn, mask.map(_._2), keyIdx,
      physRead, requiredSchema.fields.length)
  }
}

/** Offset = committed manifest version (0 = before the first commit). */
private[sources] final case class GraftLakeOffset(v: Int) extends Offset {
  override def json: String = v.toString
}

private[sources] final case class GraftLakeFilePartition(
    path: String, length: Long) extends InputPartition

/** Per-file reader factory. When `deletedKeys` is set, rows whose key
  * (at `keyIdx` in `readSchema`) is in the set are dropped, and — if
  * the key column was appended only for the filter
  * (`nOut < readSchema.size`) — the row is projected back to the
  * query's shape before being returned. */
private[sources] final class GraftLakeFileReaderFactory(
    readFn: PartitionedFile => Iterator[InternalRow],
    deletedKeys: Option[DeleteKeys], keyIdx: Int, readSchema: StructType,
    nOut: Int)
    extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val fp = p.asInstanceOf[GraftLakeFilePartition]
    val raw = readFn(PartitionedFile(
      new GenericInternalRow(Array.empty[Any]),
      SparkPath.fromPathString(fp.path), 0, fp.length))
    val keyType = if (keyIdx >= 0) readSchema(keyIdx).dataType else null
    val masked = deletedKeys match {
      case Some(keys) => raw.filterNot(r => keys.contains(r.get(keyIdx, keyType)))
      case None => raw
    }
    val it = if (deletedKeys.isDefined && nOut < readSchema.length) {
      // drop the filter-only key column (executor-side codegen — the
      // projection is not serializable, so it is built here)
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create((0 until nOut).map(i =>
          org.apache.spark.sql.catalyst.expressions.BoundReference(
            i, readSchema(i).dataType, readSchema(i).nullable)))
      masked.map(proj)
    } else masked
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}
