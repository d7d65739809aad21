package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Expression => V2Expression}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, Statistics, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetFileRead
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, IntegerType, LongType, ShortType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import java.util.OptionalLong

/** The lake scan: the one scan under every batch read of a snapshot,
  * whatever it holds (no delete state, deletion-vector masks,
  * equality-delete keys, a column mapping, a declared schema, or no
  * groups at all) — SQL and path-format reads at any version
  * ([[GraftLakeTable]], [[GraftDvLakeTable]]), the Scala API
  * ([[LakeTable.read]], [[LakeTable.readWithLineage]], the range/point
  * reads and [[LakeTable.changes]] build the same relation), the SQL
  * copy-on-write group replace ([[GraftGroupScan]]) and the SQL
  * merge-on-read operations' row scan ([[GraftDeltaScanBuilder]]):
  *
  *  - the SAME manifest admission chain prunes file groups before any
  *    footer opens ([[LakeTable.pruneDirsForFilters]] — partition
  *    values, min/max stats, bloom), within `dirs` when the relation
  *    names a subset of the snapshot's groups;
  *  - the surviving groups' files (each group dir listed once per JVM,
  *    [[GraftDvBatchScan.listGroup]]) are skipped when their parquet
  *    footer's row-group stats rule every row group out under the
  *    pushed filters ([[GraftDvBatchScan.footerSkip]]): the STATISTICS
  *    check each task's parquet reader runs after opening the file,
  *    done on the driver before the open, on footers cached per file
  *    identity — so a point read opens the files that can hold its key;
  *  - surviving files read the way Spark's parquet reader reads them
  *    ([[GraftParquetFileRead]]: vectorized where Spark would vectorize)
  *    with the translatable filters pushed for row-group pruning on
  *    UNMASKED files — but each task copies the Hadoop conf once per
  *    distinct pushed predicate, not once per file, and takes each
  *    file's footer from the footer cache (reading and caching it on a
  *    miss), so a re-read opens no footer;
  *  - the dv mask applies per file IN the reader: each task builds the
  *    masks of ITS partition's files before opening the first, from the
  *    snapshot's sidecars ([[GraftDvSidecars]]: each `.bin` sidecar and
  *    parquet sidecar part read and decoded once per JVM, shared by its
  *    tasks), so no mask passes through the driver and a mask of any
  *    size reads the same way; a masked file reads WHOLE,
  *    without parquet filter pushdown, so the row counter sees every
  *    row (position = sequential row index of the whole-file scan;
  *    files are never split);
  *  - equality deletes ([[LakeTable.deleteWhereMor]]) apply per row in
  *    the same tasks: each `_deletes/del-*` part's keys are decoded
  *    once per JVM into the same cache ([[GraftDvSidecars.keysOf]]),
  *    the key column is read even when the query does not ask for it,
  *    and a row whose key is in the set is dropped ([[DeleteKeys]]:
  *    a join's key equality). A snapshot without them reads no
  *    extra column and tests no row;
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
  *  - planning runs once per scan: Spark asks for the partitions and
  *    the reader factory more than once per query, and both are lazy
  *    vals here; the prepared Hadoop conf is broadcast once per distinct
  *    conf and Spark context, not per scan
  *    ([[GraftDvBatchScan.confBroadcast]]);
  *  - [[SupportsReportStatistics]] reports the kept files' byte size,
  *    so the STATIC planner broadcasts a small dimension — no AQE
  *    needed;
  *  - runtime filtering ([[SupportsRuntimeV2Filtering]], the DSv2 form
  *    of dynamic partition pruning): a join's runtime key set re-runs
  *    the admission chain over the admitted groups, and the kept files
  *    and partitions follow;
  *  - under Spark's V2 bucketing a partitioned snapshot reports its
  *    storage-partitioned layout ([[GraftKeyGrouping]]), one keyed
  *    partition per whole file, so co-partitioned tables join without a
  *    shuffle;
  *  - a pushed COUNT/MIN/MAX ([[GraftDvScanBuilder.pushAggregation]])
  *    reads one row per file from its footer's statistics
  *    ([[GraftDvAggReaderFactory]]);
  *  - a latest-snapshot table's scan also starts its micro-batch
  *    stream ([[GraftLakeMicroBatchStream]]);
  *  - metrics on the executed scan ([[GraftDvScanMetrics]]): groups
  *    admitted by the manifest and in the snapshot, files after manifest
  *    admission, files kept by footer stats, driver footer-cache misses
  *    and conf broadcasts; footers read and conf copies made by the
  *    tasks.
  *
  * Spark re-applies the full predicate above the scan (every filter is
  * returned as residual by the builders), so pushdown and skipping here
  * are strict optimizations; filters on a column the mapping renames or
  * hides are not pushed at all. A sidecar the snapshot names but the
  * filesystem lacks fails the read with an error naming it.
  */
private[sources] final class GraftDvBatchScan(
    root: String, snapshot: Int, tableSchema: StructType,
    requiredSchema: StructType, filters: Seq[Filter],
    dirs: Option[Set[String]] = None,
    agg: Option[GraftDvAggregate] = None,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeV2Filtering with SupportsReportPartitioning {
  import GraftDvBatchScan.{Listed, Planned}

  private def spark = SparkSession.active

  // groups, masks and column mapping all come from `snapshot`, which
  // the table or operation building the scan resolved
  private lazy val meta: Map[String, String] =
    LakeTable.manifestMetaAt(spark, root, snapshot)

  private def physical(name: String): Option[String] =
    LakeTable.physicalName(meta, name)

  // filters on columns that read under their own name: stats, bloom
  // and parquet footers all speak physical names
  private lazy val pushable: Seq[Filter] =
    filters.filter(_.references.forall(r => physical(r).contains(r)))

  // the filters parquet sees (footer skipping and row-group pruning),
  // under Spark's own switch for parquet pushdown
  private lazy val parquetFilters: Seq[Filter] =
    if (spark.sessionState.conf.parquetFilterPushDown) pushable else Nil

  // resolved once per scan; planning and statistics share it
  private lazy val pruned: (Seq[String], Int) = {
    val (kept, total) =
      LakeTable.pruneDirsForFilters(spark, root, Some(snapshot), pushable)
    (dirs.fold(kept)(ds => kept.filter(ds)), total)
  }

  // the storage-partitioned layout of a whole-snapshot row scan
  private lazy val keyGroups: Option[GraftKeyGroups] =
    if (agg.isDefined || dirs.isDefined) None
    else GraftKeyGrouping.of(spark, meta, tableSchema, requiredSchema, pruned._1)

  @volatile private var footerMisses = 0
  @volatile private var confBroadcasts = 0

  // the statically admitted groups' plan until a runtime filter
  // narrows the groups ([[filter]])
  private var planned: Planned = _
  private def plan: Planned = synchronized {
    if (planned == null) planned = planFor(pruned._1)
    planned
  }

  /** The files of `groups` (footer-skipped unless the scan reports key
    * groups: one keyed partition per admitted file) and their
    * partitions. */
  private def planFor(groups: Seq[String]): Planned = {
    val listed = groups.map(d =>
      d -> GraftDvBatchScan.listGroup(spark, LakeTable.groupDir(root, d)))
    val admitted = listed.flatMap(_._2)
    keyGroups match {
      case Some(kg) =>
        val keyed = listed.flatMap { case (d, fs) => fs.map(kg.keyOf(d) -> _) }
          .sortBy { case ((order, _), f) => (order, f.key) }
        Planned(groups, admitted.size, admitted,
          keyed.map { case ((_, key), f) =>
            new GraftDvKeyedPartition(Array(f), key): InputPartition }.toArray,
          keyed.map(_._1._1).distinct.size)
      case None =>
        val files =
          if (parquetFilters.isEmpty) admitted
          else {
            val (kept, misses) =
              GraftDvBatchScan.footerSkip(spark, admitted, parquetFilters)
            footerMisses += misses
            kept
          }
        Planned(groups, admitted.size, files,
          GraftDvBatchScan.pack(spark, files).toArray, 0)
    }
  }

  override def readSchema(): StructType = agg.fold(requiredSchema)(_.schema)
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftDvBatchScan `$root`@v$snapshot" +
      (if (filters.isEmpty) "" else filters.mkString(" [", ", ", "]")) +
      agg.fold("")(a => " PushedAggregation: " +
        a.aggregation.aggregateExpressions.mkString("[", ", ", "]"))

  /** Kept bytes — after manifest admission and footer skipping, so a
    * dim pruned to a sliver reports a sliver; numRows left empty (the
    * byte size is what the broadcast threshold consumes). */
  override def estimateStatistics(): Statistics = {
    val bytes = math.max(1L, plan.files.map(_.length).sum)
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
      override def numRows(): OptionalLong = OptionalLong.empty()
    }
  }

  override def planInputPartitions(): Array[InputPartition] = plan.partitions

  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  /** Columns a runtime filter (dynamic partition pruning) can prune
    * groups on: those the manifest holds partition values, min/max
    * stats or a bloom index for, and the scan reads under their own
    * name. */
  override def filterAttributes(): Array[NamedReference] = {
    val indexed = meta.toSeq.flatMap {
      case (k, _) if k.startsWith("stat:") || k.startsWith("bloom:") =>
        Seq(k.split(':').last)
      case ("partcol", pc) => pc.split(",", -1).toSeq
      case _ => Nil
    }
    readSchema().fieldNames.filter(n =>
      physical(n).contains(n) && indexed.exists(_.equalsIgnoreCase(n)))
      .map(Expressions.column)
  }

  /** A runtime filter re-runs the manifest admission chain over the
    * admitted groups; the kept files and partitions follow. */
  override def filter(predicates: Array[Predicate]): Unit = {
    val runtime = org.apache.spark.sql.graftbridge.ColumnBridge
      .predicatesToV1(predicates).toSeq
      .filter(_.references.forall(r => physical(r).contains(r)))
    if (runtime.nonEmpty) synchronized {
      val groups = plan.groups
      val kept = LakeTable.admittedDirs(spark, root, meta, groups, runtime)
      if (kept.size < groups.size) planned = planFor(kept)
    }
  }

  override def outputPartitioning(): Partitioning = keyGroups match {
    case Some(kg) => new KeyGroupedPartitioning(kg.report, plan.keys)
    case None => new UnknownPartitioning(0)
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftLakeMicroBatchStream(root, requiredSchema, tableSchema,
      options.getBoolean("ignoreChanges", false),
      Option(options.get("maxVersionsPerTrigger")).map(_.toInt),
      Option(options.get("startingVersion")).map(_.toInt))

  override def supportedCustomMetrics(): Array[CustomMetric] =
    GraftDvScanMetrics.all

  override def reportDriverMetrics(): Array[CustomTaskMetric] = {
    val p = plan
    GraftDvScanMetrics.values(
      GraftDvScanMetrics.GroupsAdmitted -> p.groups.size.toLong,
      GraftDvScanMetrics.GroupsTotal -> pruned._2.toLong,
      GraftDvScanMetrics.FilesAdmitted -> p.admitted.toLong,
      GraftDvScanMetrics.FilesKept -> p.files.size.toLong,
      GraftDvScanMetrics.FooterMisses -> footerMisses.toLong,
      GraftDvScanMetrics.ConfBroadcasts -> confBroadcasts.toLong)
  }

  private lazy val readerFactory: PartitionReaderFactory = {
    import GraftDvReaderFactory.{File, Missing, Pos}
    val files = plan.files
    // a scan that kept no file runs no task and needs neither conf nor
    // sidecars
    val conf =
      if (files.isEmpty) null
      else {
        val (b, made) = GraftDvBatchScan.confBroadcast(spark)
        if (made) confBroadcasts = 1
        b
      }
    agg match {
      case Some(a) =>
        new GraftDvAggReaderFactory(
          GraftParquetFileRead(spark.sessionState.conf, a.schema), conf, a)
      case None =>
        def lineage(f: StructField) =
          (f.name.equalsIgnoreCase(LakeTable.FileCol) ||
            f.name.equalsIgnoreCase(LakeTable.PosCol)) &&
            !tableSchema.fieldNames.exists(_.equalsIgnoreCase(f.name))
        // the parquet read: every mapped data column under its physical
        // name, all nullable (an ALTER-added column is absent from older
        // files); output column i is parquet column plan(i), a lineage
        // value, or a column the mapping hides (typed null)
        val asked = requiredSchema.fields.filterNot(lineage).flatMap(f =>
          physical(f.name).map(p => StructField(p, f.dataType, nullable = true)))
        // the equality-delete key (never renamed or dropped: the
        // manifest binds it), read at parquet ordinal keyAt under its
        // physical name and appended when the query does not ask for it
        val deletes = GraftDvBatchScan.deletesOf(root, meta, tableSchema)
        val key = deletes.map(d =>
          StructField(physical(d._1.name).get, d._1.dataType, nullable = true))
        val read = key.fold(asked)(k =>
          if (asked.exists(_.name.equalsIgnoreCase(k.name))) asked else asked :+ k)
        val keyAt = key.fold(-1)(k => read.indexWhere(_.name.equalsIgnoreCase(k.name)))
        var next = 0
        val columns = requiredSchema.fields.map { f =>
          if (lineage(f))
            if (f.name.equalsIgnoreCase(LakeTable.FileCol)) File else Pos
          else if (physical(f.name).isEmpty) Missing
          else { next += 1; next - 1 }
        }
        // unmasked files take row-group pruning; masked files (and every
        // file of a lineage read) read FULLY so the sequential row
        // counter equals the dv position space
        val lineageRead = columns.exists(c => c == File || c == Pos)
        val sidecars =
          if (files.isEmpty) null
          else GraftDvBatchScan.sidecars(spark, root, LakeTable.dvState(meta), deletes)
        new GraftDvReaderFactory(
          GraftParquetFileRead(spark.sessionState.conf, StructType(read)), conf,
          if (lineageRead) Nil else parquetFilters,
          if (columns.sameElements(read.indices)) null else columns,
          requiredSchema.fields.map(_.dataType), sidecars, keyAt)
    }
  }
}

private[graft] object GraftDvBatchScan {

  /** A scan's plan: its groups, the files they list, the files kept
    * by footer stats, their partitions and (keyed plans) the distinct
    * partition keys among them. */
  private final case class Planned(groups: Seq[String], admitted: Int,
      files: Seq[Listed], partitions: Array[InputPartition], keys: Int)

  /** A listed data file: its key ([[LakeTable.fileKey]]), byte length
    * and modification time — together the identity its footer is cached
    * under. */
  private[graft] final case class Listed(key: String, length: Long,
      mtime: Long) {
    def status: FileStatus =
      new FileStatus(length, false, 1, 0, mtime, LakeTable.pathOfKey(key))
  }
  private[graft] object Listed {
    def apply(st: FileStatus): Listed = Listed(LakeTable.fileKey(st.getPath),
      st.getLen, st.getModificationTime)
  }

  /** The parquet files of each committed group dir, by absolute dir.
    * Group dirs are write-once (staged delta writes rename and sweep
    * before the commit names the dir), so a listing never goes stale; a
    * dir deleted since (vacuum) fails the read when its files open. */
  private val listingCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Listed]]()

  /** Footers with row groups, by file identity: a file rewritten at the
    * same path differs in length or mtime and misses. Files are
    * immutable, so the driver's footer-stats skipping and the tasks'
    * readers share it; in a JVM of its own an executor fills its own. */
  private[sources] val footerCache =
    new java.util.concurrent.ConcurrentHashMap[Listed, ParquetMetadata]()

  /** Broadcasts of the prepared Hadoop conf, by Spark context and what
    * the conf is made of (the context's Hadoop conf and the session's
    * SQL confs, in full); access-ordered, the least recent dropped past
    * [[MaxConfBroadcasts]]. */
  private type ConfKey =
    (SparkContext, java.util.Map[String, String], Map[String, String])
  private val confBroadcasts = new java.util.LinkedHashMap[ConfKey,
      Broadcast[SerializableConfiguration]](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[ConfKey,
        Broadcast[SerializableConfiguration]]): Boolean =
      size() > MaxConfBroadcasts
  }
  private val MaxConfBroadcasts = 8

  /** The broadcast of the session's Hadoop conf prepared for parquet
    * reads ([[GraftParquetFileRead.setupConf]]), and whether this call
    * made it. Spark's reader broadcasts the conf (~1,000 keys, ~13 ms)
    * on every build; here one broadcast serves every scan whose
    * prepared conf is made of the same confs, so a changed session or
    * Hadoop setting gets a new one. Entries of a stopped context are
    * dropped before the lookup. */
  private[sources] def confBroadcast(spark: SparkSession)
      : (Broadcast[SerializableConfiguration], Boolean) = {
    // newHadoopConf is the context's Hadoop conf plus the session's SQL
    // confs, and setupConf reads only SQL confs: the two determine the
    // prepared conf, which is built only on a miss
    val hadoop = new java.util.HashMap[String, String]()
    spark.sparkContext.hadoopConfiguration.iterator()
      .forEachRemaining(e => hadoop.put(e.getKey, e.getValue))
    val key: ConfKey =
      (spark.sparkContext, hadoop, spark.sessionState.conf.getAllConfs)
    confBroadcasts.synchronized {
      confBroadcasts.keySet().removeIf(_._1.isStopped)
      Option(confBroadcasts.get(key)).map(_ -> false).getOrElse {
        val conf = spark.sessionState.newHadoopConf()
        GraftParquetFileRead.setupConf(conf, spark.sessionState.conf)
        val b = spark.sparkContext.broadcast(new SerializableConfiguration(conf))
        confBroadcasts.put(key, b)
        (b, true)
      }
    }
  }

  /** The parquet files of the group dir `absDir`, sorted by name. */
  private[sources] def listGroup(spark: SparkSession,
      absDir: String): Seq[Listed] =
    Option(listingCache.get(absDir)).getOrElse {
      val p = new Path(absDir)
      val listed = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(p)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName)
        .map(Listed(_))
        .toSeq
      if (listingCache.size > 100000) listingCache.clear()
      listingCache.put(absDir, listed)
      listed
    }

  /** The files of the sidecars `rels` under `root`: each `.bin`
    * sidecar, and the part files of each parquet sidecar dir. Each
    * sidecar is checked to exist on every call, one status a sidecar,
    * and a missing one fails with an error naming it
    * ([[LakeTable.sidecarMissing]]); sidecars are write-once like group
    * dirs, so [[listGroup]]'s listing serves the parts. */
  private def sidecarFiles(spark: SparkSession, root: String,
      rels: Seq[String]): Seq[Listed] = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    rels.flatMap { rel =>
      val st = try fs.getFileStatus(new Path(root, rel))
        catch { case e: java.io.FileNotFoundException =>
          throw LakeTable.sidecarMissing(root, rel, e)
        }
      if (st.isFile) Seq(Listed(st)) else listGroup(spark, st.getPath.toString)
    }
  }

  /** The sidecars of dv state `dv` and of the equality deletes `deletes`
    * (the key as the parts hold it, and their dirs) under `root`, read
    * under the session's parquet settings. */
  private[sources] def sidecars(spark: SparkSession, root: String,
      dv: Seq[String], deletes: Option[(StructField, Seq[String])])
      : GraftDvSidecars = {
    val conf = spark.sessionState.conf
    GraftDvSidecars(root, sidecarFiles(spark, root, dv).toArray,
      GraftParquetFileRead(conf, GraftDvSidecars.Schema),
      deletes.fold(Array.empty[Listed])(d => sidecarFiles(spark, root, d._2).toArray),
      deletes.map(d => GraftParquetFileRead(conf, StructType(Seq(d._1)))).orNull)
  }

  /** A driver-side [[GraftDvSidecars.Load]] of `s`, over the session's
    * prepared conf ([[confBroadcast]]). */
  private[sources] def load(spark: SparkSession, s: GraftDvSidecars): s.Load =
    new s.Load(confBroadcast(spark)._1.value.value)

  /** The equality deletes of snapshot `meta`: the key as a field of the
    * snapshot's logical `schema`, named as the manifest (and the parts)
    * name it, and the deletes' dirs. */
  private[sources] def deletesOf(root: String, meta: Map[String, String],
      schema: StructType): Option[(StructField, Seq[String])] =
    LakeTable.deleteState(meta).map { case (k, rels) =>
      val key = schema.find(_.name.equalsIgnoreCase(k)).getOrElse(
        throw new IllegalStateException(s"delete key '$k' not in the table at $root"))
      (StructField(k, key.dataType), rels)
    }

  /** The equality-delete keys of snapshot `meta` ([[deletesOf]]) with
    * the key's name, decoded on the driver through the per-JVM cache
    * the scan's tasks use; None without equality deletes. */
  private[sources] def deleteKeys(spark: SparkSession, root: String,
      meta: Map[String, String], schema: StructType)
      : Option[(String, DeleteKeys)] =
    deletesOf(root, meta, schema).map(d =>
      d._1.name -> load(spark, sidecars(spark, root, Nil, Some(d))).deleted)

  /** Caches `footer`, row groups included, as `f`'s. */
  private[sources] def cacheFooter(f: Listed, footer: ParquetMetadata): Unit = {
    if (footerCache.size > 20000) footerCache.clear()
    footerCache.put(f, footer)
  }

  /** The footers of `files` and how many missed the cache. Misses read
    * with options built on the Spark context's Hadoop conf
    * (`ParquetReadOptions.builder()` would make a fresh `Configuration`
    * and re-parse the Hadoop XML, ~16 ms a footer against ~0.5 ms). */
  private[graft] def footers(spark: SparkSession, files: Seq[Listed])
      : (Seq[ParquetMetadata], Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val cached = files.map(f => f -> footerCache.get(f))
    val misses = cached.collect { case (f, null) => f }
    val fresh = LakeTable.onDriver(misses)(f => f -> readFooter(f, conf)).toMap
    (cached.map { case (f, m) => if (m == null) fresh(f) else m },
      misses.size)
  }

  /** Reads and caches `f`'s footer over `conf`. */
  private[sources] def readFooter(f: Listed,
      conf: org.apache.hadoop.conf.Configuration): ParquetMetadata = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f.status, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf).build())
    val footer = try r.getFooter finally r.close()
    cacheFooter(f, footer)
    footer
  }

  /** The files of `files` whose footer row-group stats admit `filters`
    * (drop a file when parquet-mr's STATISTICS-level row-group filter
    * keeps none of its row groups), and the footer-cache misses. The
    * predicate is the one each task's reader pushes
    * ([[GraftParquetFileRead.predicate]]: Spark's [[ParquetFilters]]
    * under the session conf, the rebase spec from the footer), built
    * once per distinct file schema — the same check the task's parquet
    * reader runs after opening the file, so it never drops a row a task
    * would have returned. Files whose predicate cannot be built or
    * checked are kept. */
  private[sources] def footerSkip(spark: SparkSession, files: Seq[Listed],
      filters: Seq[Filter]): (Seq[Listed], Int) = {
    import org.apache.parquet.filter2.compat.{FilterCompat, RowGroupFilter}
    import org.apache.parquet.filter2.predicate.FilterPredicate
    import org.apache.parquet.schema.MessageType
    import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
    val read = GraftParquetFileRead(spark.sessionState.conf, new StructType())
    val predicates =
      scala.collection.mutable.HashMap[(MessageType, RebaseSpec), Option[FilterPredicate]]()
    val (footerList, misses) = footers(spark, files)
    val kept = files.zip(footerList).filter { case (_, footer) =>
      val fmd = footer.getFileMetaData
      val rebase = read.rebaseSpecs(footer)._1
      val predicate = predicates.getOrElseUpdate((fmd.getSchema, rebase),
        scala.util.Try(read.predicate(fmd.getSchema, rebase, filters))
          .toOption.flatten)
      predicate.forall(p => scala.util.Try(!RowGroupFilter.filterRowGroups(
        FilterCompat.get(p), footer.getBlocks, fmd.getSchema).isEmpty)
        .getOrElse(true))
    }.map(_._1)
    (kept, misses)
  }

  /** Whole files packed into partitions by size with Spark's own
    * file-scan packing (`FilePartition.maxSplitBytes` and
    * `getFilePartitions`, largest file first): the same target size,
    * open cost and partition-count settings as a parquet scan, except
    * that no file is split. */
  private[sources] def pack(spark: SparkSession,
      files: Seq[Listed]): Seq[GraftDvFilePartition] = {
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(spark,
      files.map(_.length + openCost).sum)
    val byPath = files.map(f => SparkPath.fromUrlString(f.key) -> f).toMap
    val whole = files.sortBy(-_.length).map(f => PartitionedFile(
      new GenericInternalRow(Array.empty[Any]),
      SparkPath.fromUrlString(f.key), 0, f.length))
    FilePartition.getFilePartitions(spark, whole, maxSplit).map(p =>
      new GraftDvFilePartition(p.files.map(pf => byPath(pf.filePath))))
  }
}

/** The whole files one task reads, in order ([[GraftDvBatchScan.pack]]):
  * each one's key ([[LakeTable.fileKey]]), length and mtime — its
  * footer's cache identity. The dv position space is a file's
  * whole-file row index, so no file is split. */
private[sources] class GraftDvFilePartition(
    val files: Array[GraftDvBatchScan.Listed]) extends InputPartition

/** One whole file of a key-grouped scan, with its group's partition
  * key — the [[HasPartitionKey]] contract storage-partitioned joins
  * need. Grouping the files of one key into one task is left to Spark
  * (`BatchScanExec.groupPartitions`), which keeps them apart under
  * `v2.bucketing.partiallyClusteredDistribution` (the skew path). */
private[sources] final class GraftDvKeyedPartition(
    files: Array[GraftDvBatchScan.Listed], key: InternalRow)
    extends GraftDvFilePartition(files) with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** An aggregate the scan answers from parquet footers
  * ([[GraftDvScanBuilder.pushAggregation]]): Spark's pushed
  * `aggregation`, its output `schema`, and `dataSchema`, the columns
  * every file of the snapshot holds, in file order. */
private[sources] final case class GraftDvAggregate(aggregation: Aggregation,
    schema: StructType, dataSchema: StructType)

/** Reader factory of a footer-answered aggregate: one row per file of
  * the partition, the partial COUNT/MIN/MAX its footer's row-group
  * statistics give (Spark's own footer aggregation,
  * [[GraftParquetFileRead.aggRow]]); Spark merges the rows above the
  * scan. Footers come from [[GraftDvBatchScan.footerCache]]; a miss
  * reads the footer alone. */
private[sources] final class GraftDvAggReaderFactory(
    read: GraftParquetFileRead, conf: Broadcast[SerializableConfiguration],
    agg: GraftDvAggregate) extends PartitionReaderFactory {
  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = new PartitionReader[InternalRow] {
    private val files = p.asInstanceOf[GraftDvFilePartition].files.iterator
    private var footerReads = 0L
    private var cur: InternalRow = _
    override def next(): Boolean = files.hasNext && {
      val f = files.next()
      val footer = Option(GraftDvBatchScan.footerCache.get(f)).getOrElse {
        footerReads += 1
        GraftDvBatchScan.readFooter(f, conf.value.value)
      }
      cur = read.aggRow(footer, f.key, agg.dataSchema, agg.aggregation,
        agg.schema)
      true
    }
    override def get(): InternalRow = cur
    override def close(): Unit = ()
    override def currentMetricsValues(): Array[CustomTaskMetric] =
      GraftDvScanMetrics.values(
        GraftDvScanMetrics.TaskFooterReads -> footerReads)
  }
}

/** A storage-partitioned layout ([[GraftKeyGrouping.of]]): the
  * transforms the scan reports, and each group's partition key with
  * the string its files sort by. */
private[sources] final case class GraftKeyGroups(report: Array[V2Expression],
    keyOf: Map[String, (String, InternalRow)])

/** Storage-partitioned-join support (Spark's V2 bucketing, the
  * Iceberg/Delta shuffle-elimination path): a partitioned
  * [[LakeTable]] holds exactly ONE partition-value tuple per file
  * group, which is precisely the layout
  * [[org.apache.spark.sql.connector.read.partitioning
  * .KeyGroupedPartitioning]] describes — so two lake tables
  * partitioned on the same key JOIN WITHOUT A SHUFFLE (and a groupBy
  * on the partition key aggregates without one). */
private[sources] object GraftKeyGrouping {

  /** Partition-key types the manifest's string values re-type
    * losslessly (the same family partition declarations admit). */
  def supported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | StringType |
         BooleanType => true
    case _ => false
  }

  private def keyValue(raw: String, dt: DataType): Any = dt match {
    case LongType    => raw.toLong
    case IntegerType => raw.toInt
    case ShortType   => raw.toShort
    case ByteType    => raw.toByte
    case BooleanType => raw.toBoolean
    case StringType  => UTF8String.fromString(raw)
    case other => throw new IllegalStateException(
      s"unsupported partition key type $other")
  }

  /** The layout of a scan of `groups` of snapshot `meta` reading
    * `required` of `tableSchema`, when storage-partitioned joins are on
    * (`spark.sql.sources.v2.bucketing.enabled`) and the layout claim can
    * be TOTAL: the snapshot has no equality deletes, every group is
    * value-tagged, the scan reads every partition column, and the
    * layout is a bucket layout (key = the INT bucket id, reported as
    * `bucket(n, col)` — what makes high-cardinality keys SPJ-able) or
    * identity/bucket components of re-typable values. Time/trunc
    * layouts record DERIVED values, so claiming identity(col) over them
    * would be a wrong planner promise; they and anything else report no
    * layout. */
  def of(spark: SparkSession, meta: Map[String, String],
      tableSchema: StructType, required: StructType,
      groups: Seq[String]): Option[GraftKeyGroups] = {
    def field(c: String) = tableSchema.fields.find(_.name.equalsIgnoreCase(c))
    def reads(c: String) = required.fieldNames.exists(_.equalsIgnoreCase(c))
    val eligible = spark.sessionState.conf.v2BucketingEnabled &&
      LakeTable.deleteState(meta).isEmpty && groups.nonEmpty &&
      groups.forall(d => meta.contains(s"part:$d"))
    def layout(types: Seq[DataType], vals: String => Seq[String],
        report: Array[V2Expression]) =
      GraftKeyGroups(report, groups.map { d =>
        val vs = vals(meta(s"part:$d"))
        d -> (vs.mkString(LakeTable.PartSep) ->
          InternalRow.fromSeq(vs.zip(types).map { case (v, t) => keyValue(v, t) }))
      }.toMap)
    if (!eligible) None
    else LakeTable.bucketSpecAt(meta) match {
      case Some((bc, n)) =>
        field(bc).filter(_ => reads(bc)).map(f => layout(Seq(IntegerType),
          Seq(_), Array(Expressions.bucket(n, f.name))))
      case None =>
        val pcs = LakeTable.partColsAt(meta)
        val trs0 = LakeTable.parttransAt(meta)
        val trs = if (trs0.size == pcs.size) trs0 else pcs.map(_ => "id")
        val fields = pcs.map(field)
        val ok = pcs.nonEmpty && pcs.forall(reads) &&
          fields.zip(trs).forall { case (f, t) =>
            f.exists(f => t.startsWith("bucket:") ||
              (t == "id" && supported(f.dataType))) }
        if (!ok) None
        else Some(layout(fields.zip(trs).map { case (f, t) =>
            if (t.startsWith("bucket:")) IntegerType else f.get.dataType },
          LakeTable.partValsAt,
          fields.zip(trs).map { case (f, t) =>
            if (t.startsWith("bucket:"))
              Expressions.bucket(t.drop("bucket:".length).toInt, f.get.name)
            else Expressions.identity(f.get.name): V2Expression }.toArray))
    }
  }
}

/** Varint(LEB128)-encoded gaps of a strictly-increasing non-negative
  * position list: gap₀ = p₀ + 1, gapᵢ = pᵢ − pᵢ₋₁ (all ≥ 1). Point
  * masks cost a couple of bytes; a dense masked run costs ~1 byte/row
  * — the roaring-lite encoding that keeps masks O(churn). */
private[sources] object DvMaskCodec {
  /** Encodes an ascending position list; a repeated position is
    * written once. */
  def encode(sorted: Array[Long]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(
      math.max(16, sorted.length * 2))
    var prev = -1L
    var i = 0
    while (i < sorted.length) {
      var d = sorted(i) - prev
      if (d != 0L) {
        while ((d & ~0x7fL) != 0L) {
          out.write(((d & 0x7fL) | 0x80L).toInt); d >>>= 7
        }
        out.write(d.toInt)
      }
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
  final class Cursor(bytes: Array[Byte]) extends Iterator[Long] {
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

/** A snapshot's delete-state sidecars as its scan's tasks read them:
  * the table root, its dv sidecar files (`.bin` sidecars,
  * [[DvBinarySidecar]], and the parts of parquet sidecar dirs) and the
  * parts of its equality-delete dirs (`keyParts`), found on the driver
  * once per scan ([[GraftDvBatchScan.sidecars]]). `read` reads a dv
  * part's (`__file`, `__pos`, `__op`) columns, `keyRead` an equality
  * part's one key column (null without equality deletes). */
private[sources] final case class GraftDvSidecars(root: String,
    dv: Array[GraftDvBatchScan.Listed], read: GraftParquetFileRead,
    keyParts: Array[GraftDvBatchScan.Listed], keyRead: GraftParquetFileRead) {

  /** One task's reads of the sidecars over the broadcast conf `shared`:
    * each sidecar file's decode comes from [[GraftDvSidecars]]' per-JVM
    * cache (a miss reads the file), after which `footerReads` and
    * `confCopies` count the parquet sidecar footers it read and the
    * Hadoop conf copies it made. */
  final class Load(shared: org.apache.hadoop.conf.Configuration) {
    import GraftDvBatchScan.Listed
    import GraftDvSidecars.{Entries, decoded, keysOf, sortedMask, union}
    var footerReads = 0L
    private val task = new read.Task(shared, Nil)
    private val keyTask = if (keyRead == null) null else new keyRead.Task(shared, Nil)
    def confCopies: Long =
      task.confCopies + (if (keyTask == null) 0L else keyTask.confCopies)

    private def missing(f: Listed, e: Throwable) =
      LakeTable.sidecarMissing(root, f.key, e)

    private def readBin(f: Listed): Entries = {
      val path = LakeTable.pathOfKey(f.key)
      try DvBinarySidecar.read(path.getFileSystem(shared), path)
      catch { case e: java.io.FileNotFoundException => throw missing(f, e) }
    }

    /** Each row of the parquet sidecar part `f`, handed to `each`; `open`
      * opens it over its cached footer (null on a miss). */
    private def scan(f: Listed, vectorized: Boolean,
        open: ParquetMetadata => (Iterator[InternalRow], java.io.Closeable))(
        each: InternalRow => Unit): Unit = {
      val cached = GraftDvBatchScan.footerCache.get(f)
      if (cached == null) footerReads += 1
      if (!vectorized) footerReads += 1
      val (rows, handle) =
        try open(cached)
        catch { case e: java.io.FileNotFoundException => throw missing(f, e) }
      try rows.foreach(each) finally handle.close()
    }

    private def readPart(f: Listed): Entries = {
      val byKey = scala.collection.mutable.HashMap
        .empty[(String, String), scala.collection.mutable.ArrayBuilder.ofLong]
      scan(f, read.vectorized, task.open(f.status, _, push = false)(
          GraftDvBatchScan.cacheFooter(f, _))) { r =>
        byKey.getOrElseUpdate((r.getString(0), r.getString(2)),
          new scala.collection.mutable.ArrayBuilder.ofLong) += r.getLong(1)
      }
      byKey.iterator.map { case ((k, op), b) =>
        (k, op, sortedMask(b.result())) }.toSeq
    }

    private def readKeys(f: Listed): java.util.Set[Any] = {
      val t = keyRead.schema.head.dataType
      val keys = new java.util.HashSet[Any]()
      scan(f, keyRead.vectorized, keyTask.open(f.status, _, push = false)(
          GraftDvBatchScan.cacheFooter(f, _))) { r =>
        // a columnar row's strings point into its reused buffers
        if (!r.isNullAt(0)) keys.add(DeleteKeys.norm(r.get(0, t) match {
          case s: UTF8String => s.copy()
          case v => v
        }))
      }
      keys
    }

    /** The entries of dv sidecar file `f`, a `.bin` sidecar or a
      * parquet part. */
    def entries(f: Listed): Entries =
      decoded(f)(if (f.key.endsWith(".bin")) readBin(f) else readPart(f))

    /** The masks of the data files `keys`, by key; files with no masked
      * position are absent. */
    def masks(keys: Array[String]): Map[String, Array[Byte]] = {
      val mine = keys.toSet
      dv.iterator.flatMap(entries).filter(e => mine(e._1)).toSeq
        .groupBy(_._1).map { case (k, es) => k -> union(es.map(_._3)) }
    }

    /** The snapshot's equality-delete keys, the union of its parts';
      * null without equality deletes. */
    lazy val deleted: DeleteKeys =
      if (keyRead == null) null
      else keyParts.map(f => keysOf(f)(readKeys(f))) match {
        case Array(one) => new DeleteKeys(one)
        case sets =>
          val all = new java.util.HashSet[Any](sets.map(_.size).sum * 4 / 3 + 16)
          sets.foreach(all.addAll)
          new DeleteKeys(all)
      }
  }
}

private[sources] object GraftDvSidecars {
  /** A sidecar file's masks: (data file key, op tag, encoded mask). */
  type Entries = Seq[(String, String, Array[Byte])]

  /** The columns a parquet sidecar's part is read for. */
  val Schema: StructType = StructType(Seq(
    StructField(LakeTable.FileCol, org.apache.spark.sql.types.StringType),
    StructField(LakeTable.PosCol, org.apache.spark.sql.types.LongType),
    StructField("__op", org.apache.spark.sql.types.StringType)))

  private def sortedMask(ps: Array[Long]): Array[Byte] = {
    java.util.Arrays.sort(ps)
    DvMaskCodec.encode(ps)
  }

  /** The union of encoded masks of one data file. */
  private[sources] def union(masks: Seq[Array[Byte]]): Array[Byte] =
    if (masks.size == 1) masks.head
    else sortedMask(masks.flatMap(new DvMaskCodec.Cursor(_)).toArray)

  private final class Slot { @volatile var value: AnyRef = _ }

  /** Decoded sidecar files (a `.bin` sidecar, one parquet dv sidecar
    * part or one equality-delete part) by file identity. Sidecars are
    * write-once, so the tasks and driver reads of a JVM share one read
    * and decode of each — a concurrent miss waits for the one reading —
    * and a re-read decodes nothing. Bounded by the decodes' approximate
    * heap size: past [[MaxDecodedBytes]] the cache clears wholesale, so
    * delete state larger than that decodes more than once per JVM. */
  private val slots = new java.util.concurrent.ConcurrentHashMap[
    GraftDvBatchScan.Listed, Slot]()
  private val decodedBytes = new java.util.concurrent.atomic.AtomicLong()
  private val MaxDecodedBytes = 128L << 20

  private def cached[T <: AnyRef](f: GraftDvBatchScan.Listed)(load: => T)(
      bytes: T => Long): T = {
    val slot = slots.computeIfAbsent(f, _ => new Slot)
    val hit = slot.value
    if (hit != null) hit.asInstanceOf[T]
    else slot.synchronized {
      if (slot.value == null) {
        val v = load
        val n = bytes(v)
        if (decodedBytes.addAndGet(n) > MaxDecodedBytes) {
          slots.clear()
          decodedBytes.set(n)
          slots.put(f, slot)
        }
        slot.value = v
      }
      slot.value.asInstanceOf[T]
    }
  }

  /** The entries of dv sidecar file `f` from the cache, `load`ed on a miss. */
  private[sources] def decoded(f: GraftDvBatchScan.Listed)(
      load: => Entries): Entries =
    cached(f)(load)(_.iterator.map(e => 2L * e._1.length + e._3.length + 64).sum)

  /** The keys of equality-delete part `f` from the cache, `load`ed on a
    * miss. */
  private[sources] def keysOf(f: GraftDvBatchScan.Listed)(
      load: => java.util.Set[Any]): java.util.Set[Any] = {
    import scala.jdk.CollectionConverters._
    cached(f)(load)(_.asScala.iterator.map {
      case s: UTF8String => 64L + s.numBytes
      case _ => 64L
    }.sum)
  }
}

/** Equality-delete keys under a join's key equality: a null key
  * never matches, binary keys compare by content, and `-0.0` equals
  * `0.0` and NaN equals NaN (Spark normalizes floating join keys the
  * same way). Serializable: the micro-batch stream ships it to its
  * tasks. */
private[sources] final class DeleteKeys(keys: java.util.Set[Any])
    extends Serializable {
  def contains(v: Any): Boolean = v != null && keys.contains(DeleteKeys.norm(v))
}

private[sources] object DeleteKeys {
  /** A catalyst value in the form the set holds: binary as a
    * content-compared [[UTF8String]] over its bytes, `-0.0` as `0.0`
    * (NaNs compare equal under `Double.equals` already). */
  def norm(v: Any): Any = v match {
    case b: Array[Byte] => UTF8String.fromBytes(b)
    case d: Double => if (d == 0.0d) 0.0d else d
    case f: Float => if (f == 0.0f) 0.0f else f
    case _ => v
  }
}

/** Reader factory: a partition's files stream in order, each read
  * whole by the task's one [[GraftParquetFileRead.Task]] over the
  * broadcast conf — unmasked files with `pushed` pushed for row-group
  * pruning, masked files (and every file when lineage is asked for)
  * without, behind the mask walk ([[DvMaskCodec.walk]]). Before its
  * first file opens, the task loads the masks of its files from
  * `sidecars` (null only in a scan that kept no file: it runs no task);
  * when `keyAt` names the parquet column of an equality-delete key,
  * rows whose key the snapshot deletes are dropped after the walk.
  * Each file's footer comes from [[GraftDvBatchScan.footerCache]]; a
  * miss reads it off the file's open stream and caches it; the open
  * file is the one `input_file_name()` names. `plan` (null = parquet rows pass
  * through) names each output column's source: a parquet column
  * ordinal, [[GraftDvReaderFactory.File]]/[[GraftDvReaderFactory.Pos]]
  * lineage, or [[GraftDvReaderFactory.Missing]] (typed null). */
private[sources] final class GraftDvReaderFactory(
    read: GraftParquetFileRead, conf: Broadcast[SerializableConfiguration],
    pushed: Seq[Filter], plan: Array[Int], types: Array[DataType],
    sidecars: GraftDvSidecars, keyAt: Int)
    extends PartitionReaderFactory {
  import GraftDvReaderFactory._

  private val lineage =
    plan != null && plan.exists(c => c == File || c == Pos)

  private val keyType = if (keyAt < 0) null else read.schema(keyAt).dataType

  private def shape(r: InternalRow, file: UTF8String,
      pos: Long): InternalRow = {
    val out = new GenericInternalRow(plan.length)
    var i = 0
    while (i < plan.length) {
      plan(i) match {
        case Missing => ()
        case File    => out.update(i, file)
        case Pos     => out.update(i, pos)
        // a columnar row's get() reads a null slot as a zero value
        case c       => if (!r.isNullAt(c)) out.update(i, r.get(c, types(i)))
      }
      i += 1
    }
    out
  }

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = new PartitionReader[InternalRow] {
    private val task = new read.Task(conf.value.value, pushed)
    private var footerReads = 0L
    private val files = p.asInstanceOf[GraftDvFilePartition].files
    private val load = new sidecars.Load(conf.value.value)
    private lazy val masks = load.masks(files.map(_.key))
    private val pending = files.iterator
    private var rows: Iterator[InternalRow] = Iterator.empty
    private var open: java.io.Closeable = null
    private var cur: InternalRow = _

    private def deleted(r: InternalRow): Boolean =
      keyAt >= 0 && !r.isNullAt(keyAt) &&
        load.deleted.contains(r.get(keyAt, keyType))

    private def rowsOf(f: GraftDvBatchScan.Listed): Iterator[InternalRow] = {
      val mask = masks.getOrElse(f.key, null)
      val cached = GraftDvBatchScan.footerCache.get(f)
      if (cached == null) footerReads += 1
      // parquet-mr's reader reads the footer again itself
      if (!read.vectorized) footerReads += 1
      val push = mask == null && !lineage
      val (it, handle) = task.open(f.status, cached, push)(
        GraftDvBatchScan.cacheFooter(f, _))
      open = handle
      GraftParquetFileRead.setInputFile(f.key, f.length)
      if (push) {
        val kept = if (keyAt < 0) it else it.filterNot(deleted)
        if (plan == null) kept else kept.map(shape(_, null, -1L))
      } else {
        // positions count every row, so the key test follows the walk
        val file = UTF8String.fromString(f.key)
        val walked = DvMaskCodec.walk(it, mask, keepMasked = false)((r, pos) =>
          if (deleted(r)) null else if (plan == null) r else shape(r, file, pos))
        if (keyAt < 0) walked else walked.filter(_ != null)
      }
    }

    override def next(): Boolean = {
      while (!rows.hasNext && pending.hasNext) {
        close()
        rows = rowsOf(pending.next())
      }
      if (rows.hasNext) { cur = rows.next(); true } else false
    }
    override def get(): InternalRow = cur
    override def close(): Unit =
      if (open != null) {
        open.close()
        open = null
        GraftParquetFileRead.unsetInputFile()
      }
    override def currentMetricsValues(): Array[CustomTaskMetric] =
      GraftDvScanMetrics.values(
        GraftDvScanMetrics.TaskFooterReads -> (footerReads + load.footerReads),
        GraftDvScanMetrics.TaskConfCopies -> (task.confCopies + load.confCopies))
  }
}

private[sources] object GraftDvReaderFactory {
  val Missing = -1
  val File = -2
  val Pos = -3
}

/** Metrics of [[GraftDvBatchScan]], read off the executed scan's SQL
  * metrics: the driver's ([[GraftDvBatchScan.reportDriverMetrics]]) and
  * the tasks' (their partition readers' `currentMetricsValues`, summed
  * over tasks). Spark instantiates each metric class by name, so each
  * is its own no-argument class. */
private[graft] object GraftDvScanMetrics {
  val GroupsAdmitted = "graftDvGroupsAdmitted"
  val GroupsTotal = "graftDvGroupsTotal"
  val FilesAdmitted = "graftDvFilesAdmitted"
  val FilesKept = "graftDvFilesKept"
  val FooterMisses = "graftDvFooterMisses"
  val ConfBroadcasts = "graftDvConfBroadcasts"
  val TaskFooterReads = "graftDvTaskFooterReads"
  val TaskConfCopies = "graftDvTaskConfCopies"

  sealed abstract class Metric(n: String, d: String) extends CustomSumMetric {
    override def name(): String = n
    override def description(): String = d
  }
  final class GroupsAdmittedMetric
      extends Metric(GroupsAdmitted, "groups admitted by the manifest")
  final class GroupsTotalMetric
      extends Metric(GroupsTotal, "groups in the snapshot")
  final class FilesAdmittedMetric
      extends Metric(FilesAdmitted, "files after manifest admission")
  final class FilesKeptMetric
      extends Metric(FilesKept, "files kept by footer stats")
  final class FooterMissesMetric
      extends Metric(FooterMisses, "footer cache misses")
  final class ConfBroadcastsMetric
      extends Metric(ConfBroadcasts, "Hadoop conf broadcasts")
  final class TaskFooterReadsMetric
      extends Metric(TaskFooterReads, "footers read by tasks")
  final class TaskConfCopiesMetric
      extends Metric(TaskConfCopies, "Hadoop conf copies by tasks")

  def all: Array[CustomMetric] = Array(new GroupsAdmittedMetric,
    new GroupsTotalMetric, new FilesAdmittedMetric,
    new FilesKeptMetric, new FooterMissesMetric, new ConfBroadcastsMetric,
    new TaskFooterReadsMetric, new TaskConfCopiesMetric)

  def values(vs: (String, Long)*): Array[CustomTaskMetric] =
    vs.map { case (n, v) =>
      new CustomTaskMetric {
        override def name(): String = n
        override def value(): Long = v
      }: CustomTaskMetric
    }.toArray

  /** The dv scans of an executed plan, AQE stages included. */
  def scans(p: SparkPlan): Seq[BatchScanExec] = p.collect {
    case b: BatchScanExec if b.scan.isInstanceOf[GraftDvBatchScan] => Seq(b)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
  }.flatten

  /** Every metric of the one dv scan of `df`'s executed plan, by name:
    * read after `df` has run (the driver's are posted when its scan
    * executes, the tasks' summed as they end). None when the plan holds
    * no dv scan; more than one is an error. */
  def of(df: DataFrame): Option[Map[String, Long]] =
    scans(df.queryExecution.executedPlan) match {
      case Seq() => None
      case Seq(b) => Some(all.map(m => m.name() -> b.metrics(m.name()).value).toMap)
      case bs => throw new IllegalStateException(
        s"${bs.size} dv scans in ${df.queryExecution.executedPlan}")
    }
}
