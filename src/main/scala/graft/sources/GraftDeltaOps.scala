package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DELTA-based row-level operations (Spark's [[SupportsDelta]]) — the
  * MERGE-ON-READ write path for the FULL SQL row-level surface:
  * conditional `WHEN MATCHED [AND …] THEN UPDATE/DELETE`, `WHEN NOT
  * MATCHED [BY SOURCE] …` — everything the group-replace rewrite
  * ([[GraftRowLevelOperation]]) serves copy-on-write, served as ONE
  * deletion-vector commit instead: Spark's WriteDelta plan hands each
  * affected row to [[GraftDeltaWriter]] as an insert / update / delete
  * against the row's (`__file`, `__pos`) identity, tasks persist the
  * masked positions as dv-sidecar parquet parts and the new rows as a
  * fresh data group, and the driver commit publishes
  * `dv += sidecar, dirs += group` — every pre-existing data file
  * byte-identical. Engaged under `spark.graft.update.mode = mor` (the
  * same opt-in the parser-level canonical shapes use); copy-on-write
  * stays the default. Works ON TOP of existing deletion vectors: the
  * operation's scan skips already-masked rows (they must not re-match
  * a MERGE), so MOR statements stack.
  *
  * Scan contract: the operation scans through the native dv reader
  * ([[GraftDvBatchScan]], which appends the row identity); filters are
  * accepted for group pruning only and all reported residual — Spark
  * re-applies the row-level condition above the scan (delta semantics
  * need exact rows, the opposite of the group-replace protocol's
  * carryover contract). */
private[sources] final class GraftDeltaOperation(
    root: String, cmd: RowLevelOperation.Command)
    extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graft-lake delta $cmd `$root`"

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(LakeTable.FileCol),
      Expressions.column(LakeTable.PosCol))

  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftDeltaScanBuilder(root)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new GraftDeltaWrite(root,
        info.schema(), GraftDeltaOperation.opName(cmd))
    }
}

private[sources] object GraftDeltaOperation {
  /** Committed op names MATCH the parser-level MOR verbs', so the CDF
    * reconstruction arm ([[GraftLakeCdfStream]]) classifies delta
    * commits identically: masked rows of an update-mor are
    * update_preimage + the appended group update_postimage, delete-dv
    * masks are delete. Delta MERGE commits record no merge key, so a
    * sidecar-less CDF read of one refuses (enable the feed for merges
    * — the documented boundary). */
  def opName(cmd: RowLevelOperation.Command): String =
    cmd.toString.toUpperCase match {
      case "UPDATE" => "update-mor"
      case "DELETE" => "delete-dv"
      case _        => "merge-mor"
    }
}

private[sources] final class GraftDeltaScanBuilder(root: String)
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
    filters // ALL residual: delta semantics need exact row filtering
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** The native dv reader over the latest snapshot, pinned to the
    * version resolved here; `__file`/`__pos` come from its lineage
    * columns and already-masked rows never reach the operation. */
  override def build(): Scan = {
    val v = LakeTable.latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    // same driver-side bound as the native read: masks are collected
    // to plan per-file skips, and a sidecar set this large is past due
    // for rewriteDeletes anyway
    val maskBytes = LakeTable.dvSidecarBytes(spark, root,
      LakeTable.manifestMetaAt(spark, root, v))
    if (maskBytes > GraftDvBatchScan.MaxMaskBytes)
      throw new UnsupportedOperationException(
        s"graft-lake: row-level MOR op at $root — accumulated dv " +
          s"sidecars ($maskBytes bytes) exceed the driver mask bound " +
          s"(${GraftDvBatchScan.MaxMaskBytes}); run " +
          "LakeTable.rewriteDeletes (or compactDeletes) first")
    new GraftDvBatchScan(root, Some(v), tableSchema, required, pushed.toSeq)
  }
}

/** The delta write: tasks persist masked positions as dv-sidecar
  * parquet parts and inserted/updated rows as a fresh data group; the
  * driver commit appends both to the manifest — ONE deletion-vector
  * commit for the whole statement. */
private[sources] final class GraftDeltaWrite(
    root: String, dataSchema: StructType, op: String) extends DeltaWrite {

  override def toBatch: DeltaBatchWrite = {
    val spark = SparkSession.active
    def prepared(schema: StructType): (OutputWriterFactory,
        Array[(String, String)]) = {
      val job = Job.getInstance(spark.sessionState.newHadoopConf())
      val factory = ParquetUtils.prepareWrite(spark.sessionState.conf, job,
        schema, new ParquetOptions(Map.empty[String, String],
          spark.sessionState.conf))
      import scala.jdk.CollectionConverters._
      (factory, job.getConfiguration.iterator().asScala
        .map(e => (e.getKey, e.getValue)).toArray)
    }
    val (dataFactory, dataConf) = prepared(dataSchema)
    val maskSchema = GraftDeltaWrite.MaskSchema
    val (maskFactory, maskConf) = prepared(maskSchema)
    val uuid = java.util.UUID.randomUUID().toString
    new GraftDeltaBatchWrite(root, s"data/$uuid", s"_deletes/dv-$uuid",
      dataSchema, dataFactory, dataConf, maskFactory, maskConf, op)
  }
}

private[sources] object GraftDeltaWrite {
  /** Sidecar schema — identical to every other dv sidecar: the op tag
    * feeds CDC classification ('U'pdate | 'D'elete). */
  val MaskSchema: StructType = StructType(Seq(
    StructField(LakeTable.FileCol, StringType, nullable = false),
    StructField(LakeTable.PosCol, LongType, nullable = false),
    StructField("__op", StringType, nullable = false)))
}

private[sources] final class GraftDeltaBatchWrite(
    root: String, dataDir: String, dvRel: String,
    dataSchema: StructType,
    dataFactory: OutputWriterFactory, dataConf: Array[(String, String)],
    maskFactory: OutputWriterFactory, maskConf: Array[(String, String)],
    op: String) extends DeltaBatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DeltaWriterFactory =
    new GraftDeltaWriterFactory(s"$root/$dataDir", s"$root/$dvRel",
      dataSchema, dataFactory, dataConf, maskFactory, maskConf)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val msgs = messages.collect { case m: GraftDeltaCommitted => m }
    val f = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // publish EXACTLY the files the committed task attempts named:
    // rename each `.⟨name⟩.staged` to its final part name. A zombie /
    // lost-executor / speculative-duplicate attempt's litter keeps the
    // staged name (hidden AND the wrong suffix, so no reader lists it)
    // and is swept below — duplicate rows / mask entries can never
    // publish.
    def publish(staged: Seq[String]): Unit = staged.foreach { tmp =>
      val p = new Path(tmp)
      val dest = new Path(p.getParent,
        GraftDeltaWriterFactory.finalName(p.getName))
      require(f.rename(p, dest),
        s"could not publish staged delta part $tmp")
    }
    publish(msgs.flatMap(_.dataFiles))
    publish(msgs.flatMap(_.maskFile))
    def sweep(dir: String): Unit = {
      val p = new Path(dir)
      if (f.exists(p)) f.listStatus(p)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".staged"))
        .foreach(st => f.delete(st.getPath, false))
    }
    sweep(s"$root/$dataDir"); sweep(s"$root/$dvRel")
    val wroteData = msgs.exists(_.dataFiles.nonEmpty)
    val wroteMask = msgs.exists(_.maskFile.isDefined)
    if (!wroteData && !wroteMask) return // no-op statement: no commit
    val base = LakeTable.latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    try {
      if (wroteData) {
        val replacement = spark.read.parquet(s"$root/$dataDir")
        val meta = LakeTable.manifestMetaAt(spark, root, base)
        LakeTable.enforceConstraints(spark, root, base, replacement)
        if (LakeTable.uniqueColsAt(meta).nonEmpty) {
          // survivors = masked snapshot minus THIS statement's masks
          val maskDf = spark.read.parquet(s"$root/$dvRel")
            .select(LakeTable.FileCol, LakeTable.PosCol)
          val survivors = LakeTable.readWithLineage(spark, root)
            .join(maskDf, Seq(LakeTable.FileCol, LakeTable.PosCol),
              "left_anti")
            .drop(LakeTable.FileCol, LakeTable.PosCol)
          LakeTable.enforceUnique(meta, replacement, Some(survivors),
            "by delta row-level write")
        }
      }
      // versioned commit with the blind-append reconciliation loop: a
      // chain of concurrent winners that only APPENDED commutes with
      // this commit (the dv mask names only base files, the new group
      // is blind), so rebase `dirs +=` / `dv +=` onto the winner and
      // retry; non-commuting winners raise the named conflict
      var attempt = base
      var tries = 0
      var committed = false
      while (!committed) {
        val meta = LakeTable.manifestMetaAt(spark, root, attempt)
        val dirs = LakeTable.dataDirsAt(spark, root, attempt) ++
          (if (wroteData) Seq(dataDir) else Nil)
        val dvMeta =
          if (wroteMask)
            Map("dv" -> (LakeTable.dvState(meta) :+ dvRel).mkString(","))
          else Map.empty[String, String]
        try {
          LakeTable.commitVersion(spark, root, attempt + 1, dirs,
            LakeTable.carryMeta(meta) ++ dvMeta + ("op" -> op))
          committed = true
        } catch { case e: ConcurrentCommitException =>
          tries += 1
          if (tries > LakeTable.MaxCommitRetries)
            throw new IllegalStateException(
              s"delta row-level commit at $root gave up after " +
                s"${LakeTable.MaxCommitRetries} rebases: ${e.getMessage}")
          val latest = LakeTable.latestVersion(spark, root)
            .getOrElse(attempt)
          LakeTable.assertDeltaCommutes(spark, root, base, latest)
          // two racing writers can each be UNIQUE-valid alone yet
          // collide — re-validate the new rows against exactly the
          // winner chain's new file groups (O(winner churn))
          val lm = LakeTable.manifestMetaAt(spark, root, latest)
          if (wroteData && LakeTable.uniqueColsAt(lm).nonEmpty) {
            val delta = LakeTable.dataDirsAt(spark, root, latest).toSet --
              LakeTable.dataDirsAt(spark, root, base).toSet - dataDir
            if (delta.nonEmpty) {
              val winnerRows = LakeTable.scanDirs(spark,
                delta.toSeq.map(d => s"$root/$d"))
              try LakeTable.enforceUnique(lm,
                spark.read.parquet(s"$root/$dataDir"), Some(winnerRows),
                "by concurrent append")
              catch { case ue: IllegalArgumentException =>
                throw new LakeConflictException(
                  s"delta row-level commit (base v$base) conflicts " +
                    s"with a concurrent append at $root: ${ue.getMessage}")
              }
            }
          }
          attempt = latest
        }
      }
    } catch { case e: Throwable => abort(messages); throw e }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    Seq(s"$root/$dataDir", s"$root/$dvRel").foreach { p0 =>
      val p = new Path(p0)
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
    }
  }
}

/** Committed-attempt file names (absolute STAGED paths) — the driver
  * publishes exactly these, so an unauthorized attempt's output can
  * never reach a reader. */
private[sources] final case class GraftDeltaCommitted(
    dataFiles: Seq[String], maskFile: Option[String])
    extends WriterCommitMessage

private[sources] object GraftDeltaWriterFactory {
  /** Task output is staged as `.⟨final⟩.staged` — hidden (dot prefix:
    * invisible to spark.read) AND the wrong suffix (never matches the
    * native scans' `*.parquet` listings) until the driver commit
    * renames it. */
  private[sources] def stagedName(name: String): String = s".$name.staged"
  private[sources] def finalName(staged: String): String =
    staged.stripPrefix(".").stripSuffix(".staged")
}

private[sources] final class GraftDeltaWriterFactory(
    absDataDir: String, absDvDir: String, dataSchema: StructType,
    dataFactory: OutputWriterFactory, dataConf: Array[(String, String)],
    maskFactory: OutputWriterFactory, maskConf: Array[(String, String)])
    extends DeltaWriterFactory {

  override def createWriter(partitionId: Int,
                            taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private def open(factory: OutputWriterFactory,
          conf: Array[(String, String)], dir: String,
          schema: StructType, prefix: String) = {
        val c = new Configuration(false)
        conf.foreach { case (k, v) => c.set(k, v) }
        val ctx = new TaskAttemptContextImpl(c,
          new TaskAttemptID("graftd", 0, TaskType.MAP, partitionId,
            (taskId % Int.MaxValue).toInt))
        val name = GraftDeltaWriterFactory.stagedName(
          f"$prefix$partitionId%05d-$taskId" +
            factory.getFileExtension(ctx))
        (factory.newInstance(s"$dir/$name", schema, ctx), s"$dir/$name")
      }
      // appended rows split by ROW CLASS into separately-named files
      // (`part-u-…` = update postimages, `part-i-…` = inserts): the
      // writer is the ONE place that knows which MERGE clause produced
      // a row, and the file name carries that classification to the
      // change feed for free — CDF classifies a clause-matrix MERGE
      // exactly, for ANY ON-clause shape, with zero recorded state
      private lazy val updW = open(dataFactory, dataConf, absDataDir,
        dataSchema, "part-u-")
      private lazy val insW = open(dataFactory, dataConf, absDataDir,
        dataSchema, "part-i-")
      private lazy val maskW = open(maskFactory, maskConf, absDvDir,
        GraftDeltaWrite.MaskSchema, "part-")
      private var anyUpd = false
      private var anyIns = false
      private var anyMask = false
      private val tagU = UTF8String.fromString("U")
      private val tagD = UTF8String.fromString("D")

      private def mask(id: InternalRow, tag: UTF8String): Unit = {
        anyMask = true
        val out = new GenericInternalRow(3)
        out.update(0, id.getUTF8String(0).copy())
        out.update(1, id.getLong(1))
        out.update(2, tag)
        maskW._1.write(out)
      }

      override def insert(row: InternalRow): Unit = {
        anyIns = true
        insW._1.write(row)
      }
      override def update(metadata: InternalRow, id: InternalRow,
                          row: InternalRow): Unit = {
        mask(id, tagU)
        anyUpd = true
        updW._1.write(row)
      }
      override def delete(metadata: InternalRow, id: InternalRow): Unit =
        mask(id, tagD)

      override def commit(): WriterCommitMessage = {
        if (anyUpd) updW._1.close()
        if (anyIns) insW._1.close()
        if (anyMask) maskW._1.close()
        GraftDeltaCommitted(
          (if (anyUpd) Seq(updW._2) else Nil) ++
            (if (anyIns) Seq(insW._2) else Nil),
          if (anyMask) Some(maskW._2) else None)
      }
      override def abort(): Unit = {
        def drop(opened: Boolean, w: (org.apache.spark.sql.execution
            .datasources.OutputWriter, String)): Unit = if (opened) {
          w._1.close()
          val p = new Path(w._2)
          val f = p.getFileSystem(new Configuration())
          if (f.exists(p)) f.delete(p, false)
        }
        drop(anyUpd, updW); drop(anyIns, insW); drop(anyMask, maskW)
      }
      override def close(): Unit = ()
    }
}
