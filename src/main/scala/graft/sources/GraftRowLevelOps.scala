package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetWriteSupport}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Group-based row-level operations (SQL `MERGE INTO` / `UPDATE` / and
  * the non-pushable `DELETE` fallback) for the graft-lake catalog.
  *
  * Architecture — the standard DSv2 group-replace protocol that
  * Iceberg's copy-on-write mode uses: the analyzer rewrites the DML
  * statement into a [[org.apache.spark.sql.catalyst.plans.logical.ReplaceData]]
  * plan that (a) reads the target through THIS operation's scan,
  * (b) computes the surviving/updated rows, and (c) hands them to this
  * operation's write, whose commit replaces the read groups with the
  * new files — one atomic manifest version, time travel intact.
  *
  * Group granularity is the FILE GROUP: the scan accepts the command's
  * condition as a GROUP filter (the Iceberg contract — "groups may
  * contain false positives, but every possibly-matching row must be
  * read") and prunes whole data dirs whose manifest min/max stats prove
  * no row can match ([[LakeTable]]'s `stat:` entries — the same index
  * `readWhere` uses). Pruned dirs are NOT read and NOT rewritten: the
  * commit keeps them and replaces only the dirs the scan actually
  * planned, so at 100 TB an `UPDATE … WHERE k BETWEEN a AND b` over a
  * key-clustered table rewrites only the affected groups. Dirs without
  * stats (or non-range conditions) are conservatively read — plain
  * correctness, today's write amplification. The planned groups read
  * through the lake scan ([[GraftDvBatchScan]]); executor-side parquet
  * writing reuses Spark's own machinery
  * ([[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat]]),
  * so files are byte-compatible with every other commit path. */
private[sources] final class GraftRowLevelOperation(
    root: String, cmd: RowLevelOperation.Command)
    extends RowLevelOperation {

  /** Dirs the scan planned (set at build time, read by the commit):
    * the replaced set. Everything else in the snapshot survives. */
  @volatile private[sources] var scannedDirs: Seq[String] = Seq.empty

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftGroupScanBuilder(this, root)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new GraftReplaceWrite(root, info.schema(),
          cmd.toString.toLowerCase, GraftRowLevelOperation.this)
    }
}

/** ScanBuilder for the group-replace read: accepts every pushed filter
  * (reporting it pushed so Spark does NOT re-apply it as a row filter —
  * in this protocol the condition is group-level and carryover rows of
  * affected groups MUST survive) but uses it only to prune whole file
  * groups via manifest stats. Column pruning is honored normally. */
private[sources] final class GraftGroupScanBuilder(
    op: GraftRowLevelOperation, root: String)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
  import org.apache.spark.sql.sources.Filter

  private val spark = SparkSession.active
  private val tableSchema = LakeTable.snapshotSchema(spark, root)
  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    Array.empty // nothing residual: group-level acceptance
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = if (requiredSchema.isEmpty) tableSchema else requiredSchema

  override def build(): org.apache.spark.sql.connector.read.Scan =
    new GraftGroupScan(op, root, tableSchema, required, pushed)
}

/** The group-replace scan: resolves the current snapshot ONCE, splits
  * its dirs into kept (stats prove no match) vs scanned, records the
  * scanned set on the operation for the commit, and reads every row of
  * the scanned dirs through the lake scan ([[GraftDvBatchScan]]) with
  * no filter, so no footer skipping drops a file of a planned group.
  * It is deliberately not runtime-filterable: Spark's runtime group
  * filter would narrow the groups read below the recorded set the
  * commit replaces. */
private[sources] final class GraftGroupScan(
    op: GraftRowLevelOperation, root: String, tableSchema: StructType,
    required: StructType,
    filters: Array[org.apache.spark.sql.sources.Filter])
    extends org.apache.spark.sql.connector.read.Scan {

  // (version, planned groups)
  private lazy val planned: (Int, Seq[String]) = {
    val spark = SparkSession.active
    val v = LakeTable.latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    val meta = LakeTable.manifestMetaAt(spark, root, v)
    val groups = LakeTable.dataDirsAt(spark, root, v).filter(dir =>
      filters.forall(f => LakeTable.partAdmit(meta, dir, f) &&
        LakeTable.statsAdmit(meta, dir, f)))
    op.scannedDirs = groups
    (v, groups)
  }

  private lazy val scan = new GraftDvBatchScan(root, planned._1,
    tableSchema, required, Nil, Some(planned._2.toSet))

  override def readSchema(): StructType = required
  override def toBatch: org.apache.spark.sql.connector.read.Batch = scan
  override def description(): String =
    s"graft-lake group-replace scan `$root` (${planned._2.size} group(s))"
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    scan.supportedCustomMetrics()
  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    scan.reportDriverMetrics()
}

/** The replacing write: executors stream InternalRows into parquet
  * files under a fresh `data/<uuid>` dir; the driver commit publishes
  * a version that keeps every dir the scan pruned and replaces exactly
  * the scanned ones with the new files. */
private[sources] final class GraftReplaceWrite(
    root: String, schema: StructType, op: String,
    operation: GraftRowLevelOperation) extends Write {

  override def toBatch: BatchWrite = {
    val spark = SparkSession.active
    // Spark's own parquet write preparation: fills the hadoop conf with
    // every key ParquetWriteSupport.init reads (schema, legacy format,
    // timestamp type, rebase modes) — no hand-maintained key list
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = org.apache.spark.sql.execution.datasources.parquet
      .ParquetUtils.prepareWrite(
        spark.sessionState.conf, job, schema,
        new ParquetOptions(Map.empty[String, String], spark.sessionState.conf))
    val confEntries = {
      import scala.jdk.CollectionConverters._
      job.getConfiguration.iterator().asScala
        .map(e => (e.getKey, e.getValue)).toArray
    }
    val dataDir = s"data/${java.util.UUID.randomUUID()}"
    new GraftReplaceBatchWrite(root, dataDir, schema, factory, confEntries,
      op, operation)
  }
}

private[sources] final class GraftReplaceBatchWrite(
    root: String, dataDir: String, schema: StructType,
    factory: OutputWriterFactory, confEntries: Array[(String, String)],
    op: String, operation: GraftRowLevelOperation) extends BatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new GraftReplaceWriterFactory(s"$root/$dataDir", schema, factory,
      confEntries)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    // dirs the scan pruned survive untouched; scanned dirs are replaced
    // by the freshly written group
    val currentV = LakeTable.latestVersion(spark, root)
    val current = currentV
      .map(v => LakeTable.dataDirsAt(spark, root, v)).getOrElse(Seq.empty)
    val kept = current.filterNot(operation.scannedDirs.contains)
    val wrote = messages.collect { case GraftFileCommitted(n) => n }
    // CHECK constraints gate this path too: an UPDATE/MERGE INTO writes
    // NEW row values, so the replacement group is validated before the
    // manifest commit — on violation the written files are removed and
    // nothing is published (the same atomic-reject contract append and
    // merge give). Carryover rows of replaced groups re-validate for
    // free: they passed at their own admission and still do.
    if (wrote.nonEmpty) currentV.foreach { v =>
      try {
        val replacement = spark.read.parquet(s"$root/$dataDir")
        LakeTable.enforceConstraints(spark, root, v, replacement)
        // UNIQUE gates this path too: an UPDATE can rewrite a key into
        // a collision with itself or with an untouched group, so the
        // replacement rows validate against the KEPT dirs before the
        // manifest commit (same atomic-reject contract as CHECK)
        val meta = LakeTable.manifestMetaAt(spark, root, v)
        if (LakeTable.uniqueColsAt(meta).nonEmpty) {
          val keptRows =
            if (kept.isEmpty) None
            else Some(LakeTable.scanDirs(spark, kept.map(d =>
              new org.apache.hadoop.fs.Path(root, d).toString)))
          LakeTable.enforceUnique(meta, replacement, keptRows,
            "by row-level write")
        }
      } catch { case e: Throwable => abort(messages); throw e }
    }
    if (wrote.isEmpty && kept.isEmpty) {
      // zero surviving rows anywhere: publish a readable empty group so
      // the new version scans to an empty frame instead of failing
      spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .coalesce(1).write.parquet(s"$root/$dataDir")
    }
    val newDirs =
      if (wrote.nonEmpty || kept.isEmpty) kept :+ dataDir else kept
    LakeTable.commitReplacing(spark, root, newDirs, op)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val p = new org.apache.hadoop.fs.Path(s"$root/$dataDir")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (f.exists(p)) f.delete(p, true)
  }
}

private[sources] final case class GraftFileCommitted(file: String)
    extends WriterCommitMessage

private[sources] final class GraftReplaceWriterFactory(
    absDataDir: String, schema: StructType,
    factory: OutputWriterFactory, confEntries: Array[(String, String)])
    extends DataWriterFactory {

  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private lazy val (writer, file) = {
        val conf = new Configuration(false)
        confEntries.foreach { case (k, v) => conf.set(k, v) }
        val ctx = new TaskAttemptContextImpl(conf,
          new TaskAttemptID("graft", 0, TaskType.MAP, partitionId,
            (taskId % Int.MaxValue).toInt))
        val name =
          f"part-$partitionId%05d-$taskId${factory.getFileExtension(ctx)}"
        (factory.newInstance(s"$absDataDir/$name", schema, ctx), name)
      }
      private var any = false

      // ReplaceData's plain-task path delivers the query rows RAW:
      // [__row_operation: int | table columns...] (the projecting task
      // is only chosen when the operation declares metadata attributes
      // — ReplaceDataExec.writingTask). Mirror its contract here: the
      // op int drives keep-vs-drop (DELETE-tagged rows exist for SQL
      // metrics, not for the table), and the data columns shift by one.
      private lazy val dropOp =
        org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
          schema.fields.toIndexedSeq.zipWithIndex.map { case (sf, i) =>
            org.apache.spark.sql.catalyst.expressions.BoundReference(
              i + 1, sf.dataType, sf.nullable)
          })

      override def write(row: InternalRow): Unit =
        if (row.numFields == schema.length + 1) {
          if (row.getInt(0) !=
              org.apache.spark.sql.catalyst.util.RowDeltaUtils.DELETE_OPERATION) {
            any = true
            writer.write(dropOp(row))
          }
        } else { any = true; writer.write(row) }

      override def commit(): WriterCommitMessage =
        if (any) { writer.close(); GraftFileCommitted(file) }
        // no rows reached this task: nothing was opened, nothing to add
        else GraftFileCommitted.empty

      override def abort(): Unit = if (any) {
        writer.close()
        val p = new org.apache.hadoop.fs.Path(s"$absDataDir/$file")
        val f = p.getFileSystem(new Configuration())
        if (f.exists(p)) f.delete(p, false)
      }

      override def close(): Unit = ()
    }
}

private[sources] object GraftFileCommitted {
  /** Marker for "this task wrote nothing" (filtered out at commit). */
  val empty: WriterCommitMessage = new WriterCommitMessage {}
}
