package graft

import graft.sources.LakeTable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Masked reads of deletion-vector snapshots: the Scala API and SQL
  * both read the common dv snapshot through the native reader
  * (`GraftDvBatchScan`) in one scan job — no footer-schema job, no
  * anti-join — with files packed into few partitions. */
class DvReadSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private val Schema = StructType(Seq(
    StructField("k", LongType), StructField("s", StringType)))

  private def rows(keys: Seq[Long], s: Long => String): DataFrame =
    spark.createDataFrame(keys.map(k => Row(k, s(k))).asJava, Schema)

  private def withWarehouse(catalog: String)(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_dv_read").toString
    spark.conf.set(s"spark.sql.catalog.$catalog",
      "graft.sources.GraftLakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalog.warehouse", dir)
    try f(dir)
    finally graft.util.Tmp.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  private def sorted(df: DataFrame): Seq[(Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** Spark jobs `body` launches, counted by a SparkListener. A marker
    * job run afterwards flushes the listener bus: events arrive in
    * order, so once the marker's start is seen every earlier job start
    * has been counted. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val prop = "graft.dvreadspec.phase"
    val counted = new java.util.concurrent.atomic.AtomicInteger()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(prop))) match {
          case Some("body") => counted.incrementAndGet()
          case Some("marker") => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(prop, "body")
      val out = try body finally sc.setLocalProperty(prop, "marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(prop, null)
      assert(marker.await(30, java.util.concurrent.TimeUnit.SECONDS))
      (out, counted.get())
    } finally sc.removeSparkListener(listener)
  }

  /** The Spark schema a group's writer recorded in its first file's
    * footer. */
  private def footerSchema(dir: String): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toString), conf))
    try org.apache.spark.sql.types.DataType.fromJson(
        r.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
      .asInstanceOf[StructType]
    finally r.close()
  }

  private def parquetFiles(root: String): Int =
    LakeTable.dataDirPaths(spark, root).map(d =>
      new java.io.File(d).listFiles().count(_.getName.endsWith(".parquet")))
      .sum

  private def scanOf(df: DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail(s"no batch scan in\n${df.queryExecution.executedPlan}"))

  test("groups that differ only in nullability read with no Spark job " +
    "at frame build, rows equal to a mergeSchema read") {
    val root = java.nio.file.Files.createTempDirectory("graft_dv_null").toString
    try {
      LakeTable.create(spark, root, rows(0L until 50L, k => s"a$k"))
      LakeTable.append(spark, root, rows(50L until 80L, k => s"b$k"))
      LakeTable.updateWhereMor(spark, root, col("k") === 7L,
        Map("s" -> lit("U")))
      val dirs = LakeTable.dataDirPaths(spark, root)
      val footers = dirs.map(footerSchema).distinct
      assert(footers.size == 2, s"groups should differ: $footers")
      assert(footers.map(s => StructType(s.fields.map(_.copy(nullable = true))))
        .distinct.size == 1, s"groups should differ only in nullability: $footers")
      val (df, jobs) = jobsDuring(LakeTable.read(spark, root))
      assert(jobs == 0, s"building the read frame launched $jobs Spark job(s)")
      val merged = spark.read.option("mergeSchema", "true").parquet(dirs: _*)
      assert(df.schema == merged.schema)
      // the merged raw groups less the update's masked original row
      assert(sorted(df) ==
        sorted(merged.filter(!(col("k") === 7L && col("s") =!= "U"))))
      assert(sorted(df).find(_._1 == 7L).contains((7L, "U")))
    } finally graft.util.Tmp.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("packed dv partitions: masked files sharing a partition keep " +
    "their own masks, under one file per partition and one partition") {
    val root = java.nio.file.Files.createTempDirectory("graft_dv_pack").toString
    try {
      LakeTable.create(spark, root, rows(0L until 20L, k => s"v$k"))
      (1 until 12).foreach { g =>
        LakeTable.append(spark, root,
          rows((g * 20L) until (g * 20L + 20L), k => s"v$k"))
      }
      // masks in every group's file: positions differ file to file
      LakeTable.deleteWhereDv(spark, root, col("k") % 7L === 3L)
      LakeTable.updateWhereMor(spark, root, col("k") % 11L === 5L,
        Map("s" -> concat(col("s"), lit("!"))))
      val want = (0L until 240L).filterNot(_ % 7L == 3L).map { k =>
        (k, if (k % 11L == 5L) s"v$k!" else s"v$k")
      }.sorted
      val files = parquetFiles(root)
      assert(files >= 13, s"expected a file per group, got $files")
      def check(): Int = {
        val df = LakeTable.read(spark, root)
        assert(sorted(df) == want)
        assert(df.queryExecution.executedPlan.toString
          .contains("GraftDvBatchScan"))
        scanOf(df).inputRDD.getNumPartitions
      }
      val perFile = withConf("spark.sql.files.maxPartitionBytes" -> "1")(check())
      assert(perFile == files)
      val one = withConf("spark.sql.files.maxPartitionBytes" -> "1g",
        "spark.sql.files.minPartitionNum" -> "1")(check())
      assert(one == 1)
      val default = check()
      assert(default < files &&
        default <= spark.sparkContext.defaultParallelism,
        s"$default partitions for $files files: the scan should pack them")
    } finally graft.util.Tmp.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("the Scala API and SQL agree on a dv snapshot, latest and " +
    "VERSION AS OF, through the native reader; a renamed column reads " +
    "through the bridge") {
    withWarehouse("lakeDvr") { wh =>
      val root = s"$wh/t"
      LakeTable.create(spark, root, rows(0L until 40L, k => s"a$k"))
      LakeTable.append(spark, root, rows(40L until 60L, k => s"b$k"))
      val vUpd = LakeTable.updateWhereMor(spark, root, col("k") < 5L,
        Map("s" -> lit("U")))
      LakeTable.append(spark, root, rows(60L until 70L, k => s"c$k"))
      LakeTable.deleteWhereDv(spark, root, col("k") % 9L === 0L)
      def native(df: DataFrame): DataFrame = {
        assert(df.queryExecution.executedPlan.toString
          .contains("GraftDvBatchScan"), df.queryExecution.executedPlan)
        df
      }
      val api = sorted(native(LakeTable.read(spark, root)))
      assert(api.size == 70 - 8)
      assert(api == sorted(native(spark.sql("SELECT * FROM lakeDvr.t"))))
      Seq(3L, 27L, 45L, 66L, 1000L).foreach { k =>
        assert(sorted(native(LakeTable.readWhereEq(spark, root, "k", k))) ==
          sorted(native(spark.sql(s"SELECT * FROM lakeDvr.t WHERE k = $k"))),
          s"k = $k")
        assert(sorted(LakeTable.readWhereEq(spark, root, "k", k)) ==
          api.filter(_._1 == k))
      }
      val old = sorted(native(LakeTable.read(spark, root, Some(vUpd))))
      assert(old.size == 60 && old.count(_._2 == "U") == 5)
      assert(old == sorted(native(spark.sql(
        s"SELECT * FROM lakeDvr.t VERSION AS OF $vUpd"))))
      // a rename mapping is outside the native reader: the API takes
      // the anti-join read, SQL the V1 bridge, and both still mask
      LakeTable.renameColumn(spark, root, "s", "label")
      val renamedApi = LakeTable.read(spark, root)
      val renamedSql = spark.sql("SELECT * FROM lakeDvr.t")
      assert(renamedApi.columns.toSeq == Seq("k", "label"))
      assert(renamedSql.columns.toSeq == Seq("k", "label"))
      assert(sorted(renamedApi) == api && sorted(renamedSql) == api)
      val sqlPlan = renamedSql.queryExecution.executedPlan.toString
      assert(sqlPlan.contains("GraftDvScan") &&
        !sqlPlan.contains("GraftDvBatchScan"), sqlPlan)
    }
  }

  test("a dv snapshot whose groups' footers differ (an append added a " +
    "column) reads through the native reader on the API and SQL alike") {
    withWarehouse("lakeDvm") { wh =>
      val root = s"$wh/t"
      LakeTable.create(spark, root, rows(0L until 20L, k => s"a$k"))
      LakeTable.append(spark, root, rows(20L until 30L, k => s"b$k")
        .withColumn("score", col("k").cast("double")))
      LakeTable.deleteWhereDv(spark, root, col("k") % 7L === 0L)
      val api = LakeTable.read(spark, root)
      val sql = spark.sql("SELECT * FROM lakeDvm.t")
      Seq(api, sql).foreach { df =>
        assert(df.columns.toSeq == Seq("k", "s", "score"))
        assert(df.queryExecution.executedPlan.toString
          .contains("GraftDvBatchScan"), df.queryExecution.executedPlan)
      }
      def triples(df: DataFrame): Seq[(Long, String, Option[Double])] =
        df.collect().map(r => (r.getLong(0), r.getString(1),
          Option(r.get(2)).map(_.asInstanceOf[Double]))).toSeq.sortBy(_._1)
      val expected = (0L until 30L).filter(_ % 7L != 0L).map(k =>
        if (k < 20L) (k, s"a$k", None) else (k, s"b$k", Some(k.toDouble)))
      assert(triples(api) == expected)
      assert(triples(sql) == expected)
    }
  }
}
