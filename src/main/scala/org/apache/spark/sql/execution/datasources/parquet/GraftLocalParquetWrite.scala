package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Driver-side parquet write for tiny, already-local batches
  * (guide §1.2 "per-task work" + §5 driver discipline, inverted: when
  * the data IS a handful of driver-resident rows, a full Spark job —
  * scheduler round, task serialization, commit protocol, _SUCCESS
  * rename — is ~100-250 ms of pure overhead per file at ANY scale; a
  * direct ParquetOutputWriter call writes the same bytes in
  * single-digit ms).
  *
  * The file is produced by the exact machinery a Spark write job's
  * task would use — [[ParquetFileFormat.prepareWrite]] configures the
  * session's compression codec, timestamp physical type, legacy-format
  * flags and the serialized Spark schema footer key, and
  * [[ParquetOutputWriter]] consumes [[InternalRow]]s — so readers
  * (including schema resolution from the footer's
  * `org.apache.spark.sql.parquet.row.metadata`) cannot distinguish the
  * result from a job-written file. Lives in Spark's parquet package
  * for access to the package-private writer plumbing. */
object GraftLocalParquetWrite {

  /** Write `rows` (shaped by `schema`) as one parquet file inside
    * `destDir` (created if needed). Returns the written file's path. */
  def writeFile(spark: SparkSession, destDir: String, schema: StructType,
                rows: Iterator[InternalRow]): String = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    // local destinations write through RawLocalFileSystem: the default
    // ChecksumFileSystem wrapper spends most of the writer-open cost on
    // the .crc sidecar machinery (measured ~13 ms/open → ~5 ms), and
    // nothing reads the optional crc. Scheme-scoped: only "file:" paths
    // resolve through this override; object stores are untouched.
    if ("file".equalsIgnoreCase(Option(new org.apache.hadoop.fs.Path(destDir)
        .toUri.getScheme).getOrElse(org.apache.hadoop.fs.FileSystem
          .getDefaultUri(job.getConfiguration).getScheme))) {
      job.getConfiguration.set("fs.file.impl",
        classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
      job.getConfiguration.setBoolean("fs.file.impl.disable.cache", true)
    }
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, schema)
    val attempt = new TaskAttemptID(
      new TaskID(new JobID(java.util.UUID.randomUUID().toString, 0),
        TaskType.MAP, 0), 0)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, attempt)
    val dir = new org.apache.hadoop.fs.Path(destDir)
    val fs = dir.getFileSystem(job.getConfiguration)
    fs.mkdirs(dir)
    val file = new org.apache.hadoop.fs.Path(dir,
      s"part-00000-${java.util.UUID.randomUUID()}" +
        factory.getFileExtension(ctx)).toString
    val writer = factory.newInstance(file, schema, ctx)
    try rows.foreach(writer.write)
    finally writer.close()
    file
  }
}
