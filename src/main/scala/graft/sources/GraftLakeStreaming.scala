package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan}
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
    deletedKeys: Option[DeleteKeys] = None, keyIdx: Int = -1,
    readSchema: StructType = StructType(Nil), nOut: Int = 0)
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

/** ScanBuilder wrapper for streamable tables: every pushdown call
  * forwards to the real [[org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder]]
  * (columns, catalyst filters, aggregates, variant extractions — the
  * full set it implements), so batch plans keep their pushdown; only
  * `build()` differs, wrapping the scan so `toMicroBatchStream`
  * resolves. (A subclass can't do this: `build()`'s return type is
  * narrowed to ParquetScan and Scala forbids widening an override.) */
private[sources] final class GraftLakeStreamScanBuilder(
    d: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder,
    root: String, tableSchema: StructType, ignoreChanges: Boolean,
    options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
    extends org.apache.spark.sql.connector.read.ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownVariantExtractions {

  private var pushedExprs
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Nil
  private var requested: Option[StructType] = None

  override def pruneColumns(requiredSchema: StructType): Unit = {
    requested = Some(requiredSchema)
    d.pruneColumns(requiredSchema)
  }
  override def pushFilters(
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    pushedExprs = filters
    d.pushFilters(filters)
  }
  override def pushedFilters()
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    d.pushedFilters
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = d.supportCompletePushDown(agg)
  private var aggPushed = false
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    val pushed = d.pushAggregation(agg)
    // a pushed aggregate reshapes the scan output — the partition-value
    // layout claim below would describe columns that no longer exist
    aggPushed = aggPushed || pushed
    pushed
  }
  override def pushVariantExtractions(
      extractions: Array[org.apache.spark.sql.connector.read.VariantExtraction])
      : Array[Boolean] = d.pushVariantExtractions(extractions)

  /** Range/equality predicates on bare columns, translated to source
    * filters for the stats check (Spark's own translateFilter is
    * protected). Anything else — casts, functions, string ops — maps
    * to None and prunes nothing: conservative by construction, and the
    * full predicate still runs in the parquet scan regardless. */
  private def toSourceFilter(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, Literal}
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.sql.{sources => sf}
    def lit(v: Any): Any = v match {
      case d: org.apache.spark.sql.types.Decimal => Double.box(d.toDouble)
      case other => other
    }
    e match {
      case ce.EqualTo(a: Attribute, Literal(v, _)) => Some(sf.EqualTo(a.name, lit(v)))
      case ce.EqualTo(Literal(v, _), a: Attribute) => Some(sf.EqualTo(a.name, lit(v)))
      case ce.GreaterThan(a: Attribute, Literal(v, _)) => Some(sf.GreaterThan(a.name, lit(v)))
      case ce.GreaterThan(Literal(v, _), a: Attribute) => Some(sf.LessThan(a.name, lit(v)))
      case ce.GreaterThanOrEqual(a: Attribute, Literal(v, _)) => Some(sf.GreaterThanOrEqual(a.name, lit(v)))
      case ce.GreaterThanOrEqual(Literal(v, _), a: Attribute) => Some(sf.LessThanOrEqual(a.name, lit(v)))
      case ce.LessThan(a: Attribute, Literal(v, _)) => Some(sf.LessThan(a.name, lit(v)))
      case ce.LessThan(Literal(v, _), a: Attribute) => Some(sf.GreaterThan(a.name, lit(v)))
      case ce.LessThanOrEqual(a: Attribute, Literal(v, _)) => Some(sf.LessThanOrEqual(a.name, lit(v)))
      case ce.LessThanOrEqual(Literal(v, _), a: Attribute) => Some(sf.GreaterThanOrEqual(a.name, lit(v)))
      case ce.In(a: Attribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        Some(sf.In(a.name,
          vs.map(v => lit(v.asInstanceOf[Literal].value)).toArray))
      case ce.StartsWith(a: Attribute, Literal(v, _)) if v != null =>
        Some(sf.StringStartsWith(a.name, v.toString))
      case ce.And(l, r) =>
        for { lf <- toSourceFilter(l); rf <- toSourceFilter(r) }
          yield sf.And(lf, rf)
      case ce.Or(l, r) =>
        for { lf <- toSourceFilter(l); rf <- toSourceFilter(r) }
          yield sf.Or(lf, rf)
      case _ => None
    }
  }

  /** Manifest-level data skipping on the SQL/DSv2 read path: the pushed
    * filters translate to source filters and file groups whose recorded
    * min/max — or bloom index, for equality probes — disprove them are
    * dropped from the scan BEFORE any parquet footer is opened — the
    * planning-time layer above parquet row-group pruning, same indexes
    * `readWhere`/`readWhereEq` use. When pruning applies, the parquet
    * delegate is rebuilt over the surviving paths and the recorded
    * pushdown calls are replayed onto it. */
  override def build(): Scan = {
    val spark = SparkSession.active
    val v1 = pushedExprs.flatMap(toSourceFilter)
    // snapshot with a skipping index (stats or bloom), if any
    val indexed = for {
      v <- LakeTable.latestVersion(spark, root)
      meta = LakeTable.manifestMetaAt(spark, root, v)
      if meta.keys.exists(k =>
        k.startsWith("stat:") || k.startsWith("bloom:") ||
          k == "partcol" || k == "bucketcol")
    } yield (meta, LakeTable.dataDirsAt(spark, root, v))
    val keptStatic = indexed.map { case (meta, dirs) =>
      if (v1.isEmpty) dirs
      else dirs.filter(dir =>
        v1.forall(f => LakeTable.partAdmit(meta, dir, f) &&
          LakeTable.statsAdmit(meta, dir, f) &&
          LakeTable.bloomAdmit(spark, root, meta, dir, f)))
    }
    val underlying = (indexed, keptStatic) match {
      case (Some((_, dirs)), Some(kept)) if kept.size < dirs.size =>
        val fb = GraftLakeSource.delegateForDirs(spark, root, kept,
          tableSchema, options).newScanBuilder(options)
        requested.foreach(fb.pruneColumns)
        if (pushedExprs.nonEmpty) fb.pushFilters(pushedExprs)
        fb.build()
      case _ => d.build()
    }
    // hand the scan what it needs to re-prune at RUNTIME (DPP-style,
    // from join-sibling values Catalyst only knows mid-execution)
    val rt = indexed.map { case (meta, dirs) =>
      GraftRuntimeFilterInfo(meta, keptStatic.getOrElse(dirs),
        requested, pushedExprs, options,
        (meta.toSeq.flatMap {
          case (k, _) if k.startsWith("stat:") || k.startsWith("bloom:") =>
            Seq(k.split(':').last)
          case ("partcol", pc) => pc.split(",", -1).toSeq
          case _ => Nil
        }).distinct)
    }
    // under the maskDeletes streaming opt-in a MOR table may LOAD, but
    // a batch scan of it must still refuse: the raw parquet delegate
    // cannot honor the masks (the micro-batch stream can, and does)
    val morBatchRefusal = for {
      _ <- Some(()).filter(_ => java.lang.Boolean.parseBoolean(
        options.getOrDefault("maskDeletes", "false")))
      v <- LakeTable.latestVersion(spark, root)
      _ <- LakeTable.deleteState(LakeTable.manifestMetaAt(spark, root, v))
    } yield s"table at $root has merge-on-read deletes (version $v); " +
      "batch reads cannot honor delete masks — use LakeTable.read or " +
      "materialize (rewriteDeletes/compact); maskDeletes applies to " +
      "streaming reads only"
    // a pending metadata-only rename/drop: the raw parquet delegate
    // would mis-shape batch rows (physical names), so batch execution
    // refuses — the micro-batch stream reads on, translating names
    val colmapBatchRefusal = for {
      v <- LakeTable.latestVersion(spark, root)
      vMeta = LakeTable.manifestMetaAt(spark, root, v)
      if LakeTable.colMapAt(vMeta).nonEmpty ||
        LakeTable.colDropsAt(vMeta).nonEmpty
    } yield s"table at $root has a metadata-only column rename/drop " +
      s"(version $v); materialize it first (LakeTable.compact) or " +
      "read via LakeTable.read (streaming reads are supported)"
    // storage-partitioned-join eligibility (opt-in via Spark's own V2
    // bucketing flag): a clean partitioned snapshot whose EVERY live
    // group is value-tagged with re-typable values, on a scan that
    // still outputs raw rows and still contains the partition columns.
    // Anything less reports UnknownPartitioning — a partial layout
    // claim would be planner-visible and wrong.
    val kgInfo: Option[GraftKeyGroupInfo] = for {
      (meta, dirs) <- indexed
      if spark.conf.get(
        "spark.sql.sources.v2.bucketing.enabled", "false").toBoolean
      if morBatchRefusal.isEmpty && colmapBatchRefusal.isEmpty
      if !aggPushed
      if LakeTable.deleteState(meta).isEmpty
      liveDirs = keptStatic.getOrElse(dirs)
      if liveDirs.nonEmpty && liveDirs.forall(d => meta.contains(s"part:$d"))
      info <- LakeTable.bucketSpecAt(meta) match {
        case Some((bc, n)) =>
          // bucket layout: key = the bucket id (INT), report =
          // bucket(n, col) — what makes HIGH-cardinality keys SPJ-able
          val kf = tableSchema.fields.find(_.name.equalsIgnoreCase(bc))
          if (kf.isDefined && requested.forall(
              _.fieldNames.exists(_.equalsIgnoreCase(bc))))
            Some(GraftKeyGroupInfo(
              Seq(kf.get.name),
              Seq(org.apache.spark.sql.types.IntegerType: org.apache
                .spark.sql.types.DataType),
              liveDirs.map(d => d.split('/').last ->
                Seq(meta(s"part:$d"))).toMap,
              bucketN = Some(n)))
          else None
        case None =>
          val pcs = LakeTable.partColsAt(meta)
          val trs0 = LakeTable.parttransAt(meta)
          val trs = if (trs0.size == pcs.size) trs0 else pcs.map(_ => "id")
          val keyFields = pcs.map(c =>
            tableSchema.fields.find(_.name.equalsIgnoreCase(c)))
          // identity and bucket components are SPJ-reportable (values
          // re-type losslessly; bucket keys are the recorded INT ids);
          // time/trunc-transformed layouts record DERIVED values —
          // claiming identity(col) over them would be a wrong planner
          // promise, so they report Unknown until the planner resolves
          // the transform functions
          if (pcs.nonEmpty &&
              trs.forall(t => t == "id" || t.startsWith("bucket:")) &&
              keyFields.zip(trs).forall { case (kf, t) =>
                kf.exists(f => t.startsWith("bucket:") ||
                  GraftKeyGrouping.supported(f.dataType)) } &&
              requested.forall(rs => pcs.forall(c =>
                rs.fieldNames.exists(_.equalsIgnoreCase(c)))))
            Some(GraftKeyGroupInfo(
              keyFields.map(_.get.name),
              keyFields.zip(trs).map { case (kf, t) =>
                if (t.startsWith("bucket:"))
                  org.apache.spark.sql.types.IntegerType
                    : org.apache.spark.sql.types.DataType
                else kf.get.dataType },
              liveDirs.map(d => d.split('/').last ->
                LakeTable.partValsAt(meta(s"part:$d"))).toMap,
              transforms = trs))
          else None
      }
    } yield info
    new GraftLakeStreamableScan(underlying, root, tableSchema,
      ignoreChanges, rt, morBatchRefusal.orElse(colmapBatchRefusal),
      options, kgInfo)
  }
}

/** Everything the scan needs to rebuild its parquet delegate when a
  * runtime filter arrives: the snapshot's skipping metadata, the
  * statically-surviving dirs, and the recorded pushdown calls. */
private[sources] final case class GraftRuntimeFilterInfo(
    meta: Map[String, String], dirs: Seq[String],
    requested: Option[StructType],
    pushedExprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
    options: org.apache.spark.sql.util.CaseInsensitiveStringMap,
    columns: Seq[String])

/** Scan wrapper that keeps the delegate's batch path untouched (same
  * Batch, same columnar mode, same metrics — pushdown already happened
  * in the builder), adds the micro-batch stream, and — when the
  * snapshot carries a skipping index — RUNTIME file-group pruning
  * ([[org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering]],
  * the DSv2 form of dynamic partition pruning): a join against a
  * filtered dim delivers the key set mid-execution, the same
  * stats+bloom admission that serves static pushdown re-prunes the
  * group list, and the parquet delegate is rebuilt over the survivors
  * before the batch materializes. At 100 TB this is the star-join
  * fact-scan killer feature — the fact side scans only the groups the
  * dim's surviving keys can live in, without the user pre-filtering. */
private[graft] final class GraftLakeStreamableScan(
    initial: Scan, root: String, tableSchema: StructType,
    ignoreChanges: Boolean = false,
    rt: Option[GraftRuntimeFilterInfo] = None,
    morBatchRefusal: Option[String] = None,
    streamOptions: java.util.Map[String, String] =
      java.util.Collections.emptyMap[String, String](),
    kg: Option[GraftKeyGroupInfo] = None) extends Scan
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {
  private var underlying: Scan = initial
  /** Observable for specs: dirs surviving the runtime re-prune. */
  private[graft] var runtimePrunedTo: Option[Int] = None

  /** One keyed InputPartition per file SPLIT (plus the distinct
    * value-tuple count for the layout report), when the snapshot is
    * storage-partition-joinable ([[GraftKeyGrouping.regroup]]) —
    * recomputed whenever a runtime filter rebuilds the delegate, so
    * DPP-style group pruning and the key-grouped layout compose. */
  private var keyedGroups: Option[(Array[InputPartition], Int)] =
    kg.flatMap(info => GraftKeyGrouping.regroup(initial.toBatch, info))

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    rt.map(_.columns
        // only columns the (possibly pruned) scan still OUTPUTS:
        // Spark resolves these refs against the relation output, and
        // advertising a pruned-away indexed column fails analysis
        .filter(c => underlying.readSchema().fieldNames
          .exists(_.equalsIgnoreCase(c)))
        .map(org.apache.spark.sql.connector.expressions.Expressions
          .column).toArray)
      .getOrElse(Array.empty)

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = rt.foreach { info =>
    val v1 = org.apache.spark.sql.graftbridge.ColumnBridge
      .predicatesToV1(predicates)
    if (v1.nonEmpty) {
      val spark = SparkSession.active
      val kept = info.dirs.filter(dir =>
        v1.forall(f => LakeTable.partAdmit(info.meta, dir, f) &&
          LakeTable.statsAdmit(info.meta, dir, f) &&
          LakeTable.bloomAdmit(spark, root, info.meta, dir, f)))
      if (kept.size < info.dirs.size) {
        runtimePrunedTo = Some(kept.size)
        val fb = GraftLakeSource.delegateForDirs(spark, root, kept,
          tableSchema, info.options).newScanBuilder(info.options)
        info.requested.foreach(fb.pruneColumns)
        if (info.pushedExprs.nonEmpty) fb.pushFilters(info.pushedExprs)
        underlying = fb.build()
        if (keyedGroups.isDefined) {
          // the runtime-kept dirs are a SUBSET of the grouped ones, so
          // regroup cannot lose totality; if it somehow did, failing
          // loud beats executing under a partitioning promise we broke
          keyedGroups = Some(kg.flatMap(i =>
            GraftKeyGrouping.regroup(underlying.toBatch, i)).getOrElse(
            throw new IllegalStateException(
              s"runtime re-prune at $root broke key grouping")))
        }
      }
    }
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    keyedGroups match {
      case Some((_, distinctKeys)) =>
        val exprs: Array[org.apache.spark.sql.connector.expressions
            .Expression] = kg.get.bucketN match {
          case Some(n) => Array(
            org.apache.spark.sql.connector.expressions.Expressions
              .bucket(n, kg.get.partCols.head)
              : org.apache.spark.sql.connector.expressions.Expression)
          case None =>
            val trs =
              if (kg.get.transforms.size == kg.get.partCols.size)
                kg.get.transforms
              else kg.get.partCols.map(_ => "id")
            kg.get.partCols.zip(trs).map { case (c, t) =>
              (if (t.startsWith("bucket:"))
                 org.apache.spark.sql.connector.expressions.Expressions
                   .bucket(t.drop("bucket:".length).toInt, c)
               else org.apache.spark.sql.connector.expressions.Expressions
                 .identity(c))
                : org.apache.spark.sql.connector.expressions.Expression
            }.toArray
        }
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(exprs, distinctKeys)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  override def readSchema(): StructType = underlying.readSchema()
  override def toBatch: Batch = {
    morBatchRefusal.foreach(m => throw new UnsupportedOperationException(m))
    keyedGroups match {
      case Some(_) => new Batch {
        // read keyedGroups at call time — a runtime filter may have
        // narrowed it between planning and execution
        override def planInputPartitions(): Array[InputPartition] =
          keyedGroups.get._1
        override def createReaderFactory(): PartitionReaderFactory =
          underlying.toBatch.createReaderFactory()
      }
      case None => underlying.toBatch
    }
  }
  override def description(): String = underlying.description()
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    underlying.columnarSupportMode()
  /** The re-prune surfaces as a DRIVER custom metric
    * ([[org.apache.spark.sql.connector.read.Scan#reportDriverMetrics]]):
    * `BatchScanExec.postDriverMetrics()` reads it from the very scan
    * instance execution filtered, so the count is observable on the
    * executed plan's SQL metrics even under AQE stage cloning — the
    * same channel Delta uses for its file-skipping counters. */
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    underlying.supportedCustomMetrics() :+ new GraftRuntimePruneMetric
  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val base = underlying.reportDriverMetrics()
    runtimePrunedTo match {
      case Some(n) => base :+ new GraftRuntimePruneValue(n.toLong)
      case None    => base
    }
  }
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftLakeMicroBatchStream(root, underlying.readSchema(), tableSchema,
      ignoreChanges,
      maxVersionsPerTrigger =
        Option(streamOptions.get("maxVersionsPerTrigger")).map(_.toInt),
      startingVersion =
        Option(streamOptions.get("startingVersion")).map(_.toInt))
}

/** Driver metric: number of file groups surviving the runtime re-prune
  * (reported only when a runtime filter actually dropped groups). */
private[graft] final class GraftRuntimePruneMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = GraftRuntimePruneMetric.Name
  override def description(): String =
    "file groups surviving runtime re-prune"
}
private[graft] object GraftRuntimePruneMetric {
  val Name = "graftRuntimePrunedGroups"
}
private[graft] final class GraftRuntimePruneValue(n: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
  override def name(): String = GraftRuntimePruneMetric.Name
  override def value(): Long = n
}

/** Everything the scan needs to report storage-partitioned layout:
  * the declared partition columns, their catalyst types, and the
  * manifest's dir-basename → value-tuple map (total over the live
  * dirs — the builder only constructs this when EVERY group is
  * value-tagged). */
private[sources] final case class GraftKeyGroupInfo(
    partCols: Seq[String],
    keyTypes: Seq[org.apache.spark.sql.types.DataType],
    dirNameToVals: Map[String, Seq[String]],
    /** Set for pure BUCKET layouts: the layout reports `bucket(n, col)`
      * instead of identity transforms, keys are bucket ids (INT). */
    bucketN: Option[Int] = None,
    /** Per-component transforms for COMPOSITE layouts (aligned with
      * partCols; "id" or "bucket:<n>") — a bucket component reports
      * `bucket(n, col)` with its recorded INT id as the key. */
    transforms: Seq[String] = Nil)

/** A [[FilePartition]] that knows its partition-value tuple — the
  * DSv2 [[org.apache.spark.sql.connector.read.HasPartitionKey]]
  * contract storage-partitioned joins require. Subclassing keeps the
  * delegate's [[org.apache.spark.sql.execution.datasources.v2
  * .FilePartitionReaderFactory]] working unchanged (it matches on
  * FilePartition). */
private[sources] final class KeyedFilePartition(
    idx: Int, fs: Array[PartitionedFile], key: InternalRow)
    extends org.apache.spark.sql.execution.datasources.FilePartition(idx, fs)
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** Storage-partitioned-join support (Spark's V2 bucketing, the
  * Iceberg/Delta shuffle-elimination path): a partitioned
  * [[LakeTable]] holds exactly ONE partition-value tuple per file
  * group, which is precisely the layout
  * [[org.apache.spark.sql.connector.read.partitioning
  * .KeyGroupedPartitioning]] describes — so two lake tables
  * partitioned on the same key JOIN WITHOUT A SHUFFLE (and a groupBy
  * on the partition key aggregates without one). At 100 TB this is
  * the co-located fact-to-fact join: the exchange that would move
  * both tables disappears entirely. */
private[sources] object GraftKeyGrouping {

  /** Partition-key types the manifest's string values re-type
    * losslessly (the same family partition declarations admit). */
  def supported(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType | ByteType | StringType |
           BooleanType => true
      case _ => false
    }
  }

  private def keyValue(raw: String,
                       dt: org.apache.spark.sql.types.DataType): Any = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType    => raw.toLong
      case IntegerType => raw.toInt
      case ShortType   => raw.toShort
      case ByteType    => raw.toByte
      case BooleanType => raw.toBoolean
      case StringType  =>
        org.apache.spark.unsafe.types.UTF8String.fromString(raw)
      case other => throw new IllegalStateException(
        s"unsupported partition key type $other")
    }
  }

  /** Re-plan a delegate batch's file splits as ONE [[KeyedFilePartition]]
    * per SPLIT, each tagged with its partition-value tuple. Grouping
    * splits of equal value is deliberately LEFT TO SPARK
    * (`BatchScanExec.groupPartitions` — the DSv2 contract Iceberg
    * follows): the planner merges them for a plain storage-partitioned
    * join, but keeps them SEPARATE under
    * `v2.bucketing.partiallyClusteredDistribution` — the skew path,
    * where a hot partition value's many files stay many tasks while
    * the other side's matching partition replicates. Pre-merging here
    * would silently cap a skewed value at one task. Returns
    * (partitions, distinct value-tuple count) — the count is what the
    * connector-side layout report claims. None — caller reports
    * UnknownPartitioning — when any planned file lives in a dir the
    * manifest didn't tag (a time-travel snapshot older than the
    * partition declaration, or a foreign clone reference): the claim
    * must be TOTAL or the reported layout would be a lie. */
  def regroup(batch: Batch, info: GraftKeyGroupInfo)
      : Option[(Array[InputPartition], Int)] = {
    val splits = scala.collection.mutable.ArrayBuffer[PartitionedFile]()
    batch.planInputPartitions().foreach {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        splits ++= fp.files
      case _ => return None
    }
    val keyed = splits.map { pf =>
      info.dirNameToVals.get(pf.toPath.getParent.getName) match {
        case Some(vals) => (vals, pf)
        case None => return None
      }
    }
    val sorted = keyed.sortBy { case (vals, pf) =>
      (vals.mkString(LakeTable.PartSep), pf.toPath.toString) }
    val parts = sorted.zipWithIndex.map { case ((vals, pf), i) =>
      val key = InternalRow.fromSeq(vals.zip(info.keyTypes).map {
        case (raw, dt) => keyValue(raw, dt) })
      new KeyedFilePartition(i, Array(pf), key): InputPartition
    }.toArray
    Some((parts, sorted.map(_._1).distinct.size))
  }
}
