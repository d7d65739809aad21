package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.hadoop.mapred.{FileSplit, JobConf}
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetInputFormat, ParquetRecordReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.TaskContext
import org.apache.spark.rdd.InputFileBlockHolder
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, RecordReaderIterator}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Whole-file parquet reads done the way Spark 4.1's
  * [[ParquetFileFormat.buildReaderWithPartitionValues]] does them —
  * [[VectorizedParquetRecordReader]] where Spark would vectorize, else
  * parquet-mr's [[ParquetRecordReader]] with [[ParquetReadSupport]];
  * the footer's datetime and INT96 rebase specs; the same capacity,
  * off-heap and session time zone settings; Spark's pushed predicate
  * ([[ParquetFilters]]) set on the task conf, so parquet's row-group
  * filtering (stats, dictionary, bloom — all from the conf) runs as it
  * does there — but over footers and a Hadoop conf the caller supplies.
  * Spark's reader copies the whole broadcast conf (~1,000 keys) into a
  * fresh `JobConf` and re-reads the footer for EVERY file; a [[Task]]
  * copies it once per distinct pushed predicate and takes each file's
  * footer from its caller, reading it only when the caller has none.
  * The settings are the session's, captured on the driver; the schema
  * is the parquet read schema (no partition columns). Lives in Spark's parquet package for the package-private
  * reader plumbing, like [[GraftLocalParquetWrite]]. */
final case class GraftParquetFileRead(
    schema: StructType, vectorized: Boolean, offHeap: Boolean,
    capacity: Int, recordFilter: Boolean, int96Conversion: Boolean,
    timeZone: String, datetimeRebaseMode: String, int96RebaseMode: String,
    pushDownDate: Boolean, pushDownTimestamp: Boolean,
    pushDownDecimal: Boolean, pushDownString: Boolean, inThreshold: Int,
    caseSensitive: Boolean) {

  private val schemaJson = schema.json

  /** A file's datetime and INT96 rebase specs, from its footer's
    * key-value metadata. */
  def rebaseSpecs(footer: ParquetMetadata): (RebaseSpec, RebaseSpec) = {
    val kv = footer.getFileMetaData.getKeyValueMetaData
    (DataSourceUtils.datetimeRebaseSpec(kv.get, datetimeRebaseMode),
      DataSourceUtils.int96RebaseSpec(kv.get, int96RebaseMode))
  }

  /** The row of the pushed aggregate `agg` (output `aggSchema`) that
    * one file's footer statistics answer — Spark's own footer
    * aggregation, `dataSchema` naming the file's columns in file order. */
  def aggRow(footer: ParquetMetadata, path: String, dataSchema: StructType,
      agg: Aggregation, aggSchema: StructType): InternalRow =
    ParquetUtils.createAggInternalRowFromFooter(footer, path, dataSchema,
      new StructType(), agg, aggSchema, InternalRow.empty, rebaseSpecs(footer)._1)

  /** Spark's parquet predicate for `filters` over a file schema, None
    * when no filter translates. */
  def predicate(fileSchema: MessageType, rebase: RebaseSpec,
      filters: Seq[Filter]): Option[FilterPredicate] = {
    val pf = new ParquetFilters(fileSchema, pushDownDate, pushDownTimestamp,
      pushDownDecimal, pushDownString, inThreshold, caseSensitive, rebase)
    filters.flatMap(pf.createFilter).reduceOption(FilterApi.and)
  }

  /** One task's reads over the broadcast conf `shared`, which is never
    * mutated, with `filters` pushed where asked. Each distinct pushed
    * predicate (None included) gets its own `JobConf` copy, made on
    * first use: the predicate lives in the conf, and a task attempt
    * context over a `JobConf` takes it as is, where over a plain
    * `Configuration` Hadoop copies it again. `confCopies` counts them. */
  final class Task(shared: Configuration, filters: Seq[Filter]) {
    var confCopies = 0L
    private val contexts =
      scala.collection.mutable.HashMap[Option[FilterPredicate], TaskAttemptContextImpl]()
    // the predicate depends on the file schema and its rebase spec
    private val predicates = scala.collection.mutable.HashMap[
      (MessageType, RebaseSpec), Option[FilterPredicate]]()
    private lazy val toUnsafe = UnsafeProjection.create(schema)
    private lazy val footerOptions = HadoopReadOptions.builder(shared).build()

    private def context(pushed: Option[FilterPredicate]) =
      contexts.getOrElseUpdate(pushed, {
        val conf = new JobConf(shared)
        confCopies += 1
        conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schemaJson)
        conf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, schemaJson)
        pushed.foreach(ParquetInputFormat.setFilterPredicate(conf, _))
        new TaskAttemptContextImpl(conf,
          new TaskAttemptID(new TaskID(new JobID(), TaskType.MAP, 0), 0))
      })

    /** The rows of the whole file `status`, with the task's filters
      * pushed for row-group pruning when `push`, and the handle that
      * closes the file early. `cached` is the file's footer, row groups
      * included, or null: the footer is then read off the stream the
      * vectorized reader goes on to read, and handed to `fresh`. */
    def open(status: FileStatus, cached: ParquetMetadata, push: Boolean)(
        fresh: ParquetMetadata => Unit)
        : (Iterator[InternalRow], java.io.Closeable) = {
      val input = HadoopInputFile.fromStatus(status, shared)
      val stream = if (vectorized || cached == null) input.newStream() else null
      try {
        val footer =
          if (cached != null) cached
          else {
            val f = ParquetFileReader.readFooter(input, footerOptions, stream)
            fresh(f)
            f
          }
        // parquet-mr's reader opens the file itself
        if (!vectorized && stream != null) stream.close()
        val fmd = footer.getFileMetaData
        val (datetimeRebase, int96Rebase) = rebaseSpecs(footer)
        val pushed =
          if (!push || filters.isEmpty) None
          else predicates.getOrElseUpdate((fmd.getSchema, datetimeRebase),
            predicate(fmd.getSchema, datetimeRebase, filters))
        // INT96 values convert only in files parquet-mr did not write
        val convertTz =
          if (int96Conversion && !fmd.getCreatedBy.startsWith("parquet-mr"))
            Some(DateTimeUtils.getZoneId(timeZone))
          else None
        val ctx = context(pushed)
        val split = new FileSplit(status.getPath, 0, status.getLen,
          Array.empty[String])
        if (vectorized) {
          val reader = new VectorizedParquetRecordReader(convertTz.orNull,
            datetimeRebase.mode.toString, datetimeRebase.timeZone,
            int96Rebase.mode.toString, int96Rebase.timeZone,
            offHeap && TaskContext.get() != null, capacity)
          val iter = new RecordReaderIterator[AnyRef](reader)
          try {
            // the file reader takes the footer and the open stream as is
            reader.initialize(split, ctx, Some(input), Some(stream), Some(footer))
            reader.initBatch(new StructType(), InternalRow.empty)
          } catch {
            case e: Throwable =>
              iter.close()
              throw e
          }
          (iter.asInstanceOf[Iterator[InternalRow]], iter)
        } else {
          val support = new ParquetReadSupport(convertTz,
            enableVectorizedReader = false, datetimeRebase, int96Rebase)
          val reader = pushed match {
            case Some(p) if recordFilter =>
              new ParquetRecordReader[InternalRow](support,
                FilterCompat.get(p, null))
            case _ => new ParquetRecordReader[InternalRow](support)
          }
          val iter = new RecordReaderIterator[InternalRow](reader)
          try reader.initialize(split, ctx)
          catch {
            case e: Throwable =>
              iter.close()
              throw e
          }
          (iter.map(toUnsafe), iter)
        }
      } catch {
        case e: Throwable =>
          if (stream != null) stream.close()
          throw e
      }
    }
  }
}

object GraftParquetFileRead {

  /** The read of `schema` under the session conf `conf`, with Spark's
    * rule for when to vectorize. */
  def apply(conf: SQLConf, schema: StructType): GraftParquetFileRead = {
    val options = new ParquetOptions(Map.empty[String, String], conf)
    GraftParquetFileRead(schema,
      ParquetUtils.isBatchReadSupportedForSchema(conf, schema),
      conf.offHeapColumnVectorEnabled, conf.parquetVectorizedReaderBatchSize,
      conf.parquetRecordFilterEnabled, conf.isParquetINT96TimestampConversion,
      conf.sessionLocalTimeZone, options.datetimeRebaseModeInRead,
      options.int96RebaseModeInRead, conf.parquetFilterPushDownDate,
      conf.parquetFilterPushDownTimestamp, conf.parquetFilterPushDownDecimal,
      conf.parquetFilterPushDownStringPredicate,
      conf.parquetFilterPushDownInFilterThreshold, conf.caseSensitiveAnalysis)
  }

  /** Names the file whose rows the task reads next (`key`, its
    * URL-encoded path, and its length) for `input_file_name()`, as
    * Spark's own file readers do per file; [[unsetInputFile]] clears
    * it. */
  def setInputFile(key: String, length: Long): Unit =
    InputFileBlockHolder.set(key, 0, length)

  def unsetInputFile(): Unit = InputFileBlockHolder.unset()

  /** The session-wide keys Spark's parquet reader sets on its Hadoop
    * conf (everything but the read schema, which [[Task]] sets on its
    * copies), so one prepared conf serves every read schema. */
  def setupConf(hadoopConf: Configuration, conf: SQLConf): Unit = {
    hadoopConf.set(ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    hadoopConf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, conf.sessionLocalTimeZone)
    Seq(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key -> conf.nestedSchemaPruningEnabled,
      SQLConf.CASE_SENSITIVE.key -> conf.caseSensitiveAnalysis,
      SQLConf.PARQUET_BINARY_AS_STRING.key -> conf.isParquetBinaryAsString,
      SQLConf.PARQUET_INT96_AS_TIMESTAMP.key -> conf.isParquetINT96AsTimestamp,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key ->
        conf.parquetInferTimestampNTZEnabled,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key -> conf.legacyParquetNanosAsLong,
      SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key ->
        conf.parquetReaderRespectUnknownTypeAnnotation)
      .foreach { case (k, v) => hadoopConf.setBoolean(k, v) }
  }
}
