package graft

import graft.sources.{GraftDvScanMetrics, LakeTable}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Masked reads of deletion-vector snapshots: the Scala API (plain,
  * lineage, range and point reads) and SQL read dv snapshots through
  * the native reader (`GraftDvBatchScan`) in one scan job — no
  * footer-schema job, no anti-join — with files packed into few
  * partitions, column mappings and declared schemas included, and masks
  * keyed by one spelling of each file's path. */
class DvReadSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private val Schema = StructType(Seq(
    StructField("k", LongType), StructField("s", StringType)))

  private def rows(keys: Seq[Long], s: Long => String): DataFrame =
    spark.createDataFrame(keys.map(k => Row(k, s(k))).asJava, Schema)

  /** A catalog over a fresh warehouse dir, `sub` below a temp dir. */
  private def withWarehouse(catalog: String, sub: String = "")(
      f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_dv_read")
    val wh = dir.resolve(sub).toString
    spark.conf.set(s"spark.sql.catalog.$catalog",
      "graft.sources.GraftLakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalog.warehouse", wh)
    try f(wh)
    finally graft.util.Tmp.deleteRecursively(dir)
  }

  /** `df`, after checking its plan reads through the native reader. */
  private def native(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftDvBatchScan"), plan)
    df
  }

  private def sorted(df: DataFrame): Seq[(Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
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
    "through it too") {
    withWarehouse("lakeDvr") { wh =>
      val root = s"$wh/t"
      LakeTable.create(spark, root, rows(0L until 40L, k => s"a$k"))
      LakeTable.append(spark, root, rows(40L until 60L, k => s"b$k"))
      val vUpd = LakeTable.updateWhereMor(spark, root, col("k") < 5L,
        Map("s" -> lit("U")))
      LakeTable.append(spark, root, rows(60L until 70L, k => s"c$k"))
      LakeTable.deleteWhereDv(spark, root, col("k") % 9L === 0L)
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
      // a rename mapping is the native reader's schema mapping: the API
      // and SQL both read it through GraftDvBatchScan, and both mask
      LakeTable.renameColumn(spark, root, "s", "label")
      val renamedApi = LakeTable.read(spark, root)
      val renamedSql = spark.sql("SELECT * FROM lakeDvr.t")
      assert(renamedApi.columns.toSeq == Seq("k", "label"))
      assert(renamedSql.columns.toSeq == Seq("k", "label"))
      assert(sorted(renamedApi) == api && sorted(renamedSql) == api)
      val sqlPlan = renamedSql.queryExecution.executedPlan.toString
      assert(sqlPlan.contains("GraftDvBatchScan"), sqlPlan)
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

  test("a table root holding a space and a '%' keeps its masks: API and " +
    "SQL merge-on-read deletes hide their rows from LakeTable.read and " +
    "SQL, and a following updateWhereMor brings none back") {
    withWarehouse("lakeDvk", "dv a%b") { wh =>
      val root = s"$wh/t"
      LakeTable.create(spark, root, rows(0L until 20L, k => s"a$k"))
      def check(want: Seq[(Long, String)]): Unit = {
        assert(sorted(native(LakeTable.read(spark, root))) == want)
        assert(sorted(native(spark.sql("SELECT * FROM lakeDvk.t"))) == want)
      }
      LakeTable.deleteWhereDv(spark, root, col("k") % 7L === 0L)
      val afterApi = (0L until 20L).filter(_ % 7L != 0L)
      check(afterApi.map(k => (k, s"a$k")))
      withConf("spark.graft.update.mode" -> "mor")(
        spark.sql("DELETE FROM lakeDvk.t WHERE k IN (3, 4)"))
      assert(LakeTable.history(spark, root).last._2 == "delete-dv")
      val afterSql = afterApi.filterNot(Set(3L, 4L))
      check(afterSql.map(k => (k, s"a$k")))
      LakeTable.updateWhereMor(spark, root, col("k") < 10L,
        Map("s" -> lit("U")))
      check(afterSql.map(k => (k, if (k < 10L) "U" else s"a$k")))
    }
  }

  test("readWithLineage on a dv snapshot packed into one partition: " +
    "(__file, __pos) equal _metadata.file_path/row_index of a raw " +
    "parquet read, under pushdown-eligible filters") {
    val root = java.nio.file.Files.createTempDirectory("graft_dv_lin").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val blockSize = conf.get("parquet.block.size")
    try {
      // small row groups, sorted keys: a pushed range skips row groups
      // of the unmasked files
      conf.setInt("parquet.block.size", 2048)
      LakeTable.create(spark, root,
        rows(0L until 3000L, k => f"s$k%06d").coalesce(1))
      LakeTable.append(spark, root,
        rows(3000L until 6000L, k => f"t$k%06d").coalesce(1))
      // masks in the first group's file only; the update adds a group
      LakeTable.deleteWhereDv(spark, root,
        col("k") % 97L === 5L && col("k") < 3000L)
      LakeTable.updateWhereMor(spark, root, col("k") === 11L,
        Map("s" -> lit("U")))
      val rowGroups = LakeTable.dataDirPaths(spark, root).take(2).map { d =>
        val file = new java.io.File(d).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(file.toString), conf))
        try r.getFooter.getBlocks.size finally r.close()
      }
      assert(rowGroups.forall(_ > 1), s"row groups per file: $rowGroups")
      val raw = spark.read.parquet(LakeTable.dataDirPaths(spark, root): _*)
        .select(col("k"), col("s"), col("_metadata.file_path").as("f"),
          col("_metadata.row_index").as("p"))
      def triples(df: DataFrame): Seq[(Long, String, Long)] =
        df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
          .toSeq.sorted
      withConf("spark.sql.files.maxPartitionBytes" -> "1g",
          "spark.sql.files.minPartitionNum" -> "1") {
        Seq(col("k") >= 2500L && col("k") < 3500L, col("k") > 5900L,
            col("k") === 11L, col("s") === "t004242", lit(true)).foreach { p =>
          val lin = LakeTable.readWithLineage(spark, root).filter(p)
          assert(lin.columns.toSeq == Seq("k", "s", "__file", "__pos"))
          assert(scanOf(native(lin)).inputRDD.getNumPartitions == 1)
          val want = raw.filter(p)
            .filter(!(col("k") % 97L === 5L && col("k") < 3000L))
            .filter(!(col("k") === 11L && col("s") =!= "U"))
          assert(triples(lin.select("k", "__file", "__pos")) ==
            triples(want.select("k", "f", "p")), s"filter $p")
          // input_file_name() names each row's file, as __file does
          assert(lin.filter(input_file_name() =!= col("__file")).isEmpty,
            s"filter $p")
        }
      }
    } finally {
      if (blockSize == null) conf.unset("parquet.block.size")
      else conf.set("parquet.block.size", blockSize)
      graft.util.Tmp.deleteRecursively(java.nio.file.Paths.get(root))
    }
  }

  test("renamed+dropped and ALTER-extended dv snapshots read through " +
    "GraftDvBatchScan on the API and SQL; readWhere/readWhereEq on a " +
    "renamed column return the right rows") {
    withWarehouse("lakeDvx") { wh =>
      val root = s"$wh/t"
      val three = StructType(Schema.fields :+ StructField("x", LongType))
      LakeTable.create(spark, root, spark.createDataFrame(
        (0L until 30L).map(k => Row(k, s"a$k", k * 10L)).asJava, three))
      LakeTable.deleteWhereDv(spark, root, col("k") % 5L === 0L)
      LakeTable.renameColumn(spark, root, "s", "label")
      LakeTable.dropColumn(spark, root, "x")
      // a rename onto the physical name the first one freed: logical
      // `s` now reads physical `k`, logical `label` physical `s`
      LakeTable.renameColumn(spark, root, "k", "s")
      val want = (0L until 30L).filter(_ % 5L != 0L).map(k => (k, s"a$k"))
      Seq(LakeTable.read(spark, root), spark.sql("SELECT * FROM lakeDvx.t"))
        .foreach { df =>
          assert(df.columns.toSeq == Seq("s", "label"))
          assert(sorted(native(df)) == want)
        }
      assert(sorted(native(LakeTable.readWhere(spark, root, "s", 7, 12))) ==
        want.filter(r => r._1 >= 7L && r._1 <= 12L))
      assert(sorted(native(LakeTable.readWhereEq(spark, root, "s", 13L))) ==
        Seq((13L, "a13")))
      assert(sorted(native(
        LakeTable.readWhereEq(spark, root, "label", "a13"))) ==
        Seq((13L, "a13")))
      assert(LakeTable.readWhereEq(spark, root, "label", "a10").count() == 0L)
      assert(sorted(native(spark.sql(
        "SELECT * FROM lakeDvx.t WHERE label = 'a13' OR s = 4"))) ==
        Seq((4L, "a4"), (13L, "a13")))
      // ALTER-extended: the added columns are absent from older files
      val ext = s"$wh/e"
      LakeTable.create(spark, ext, rows(0L until 20L, k => s"a$k"))
      LakeTable.deleteWhereDv(spark, ext, col("k") % 3L === 0L)
      LakeTable.evolveSchema(spark, ext, StructType(Seq(
        StructField("note", StringType), StructField("score", LongType))))
      LakeTable.append(spark, ext, spark.createDataFrame(Seq(
        Row(100L, "b100", "n", 7L)).asJava, StructType(Schema.fields ++ Seq(
          StructField("note", StringType), StructField("score", LongType)))))
      LakeTable.deleteWhereDv(spark, ext, col("k") === 1L)
      def quads(df: DataFrame): Seq[(Long, String, String, Option[Long])] =
        native(df).collect().map(r => (r.getLong(0), r.getString(1),
          r.getString(2), Option(r.get(3)).map(_.asInstanceOf[Long])))
          .toSeq.sortBy(_._1)
      val wantExt = (0L until 20L).filter(k => k % 3L != 0L && k != 1L)
        .map(k => (k, s"a$k", null: String, Option.empty[Long])) :+
        ((100L, "b100", "n", Some(7L)))
      assert(quads(LakeTable.read(spark, ext)) == wantExt)
      assert(quads(spark.sql("SELECT * FROM lakeDvx.e")) == wantExt)
      assert(quads(spark.sql("SELECT * FROM lakeDvx.e WHERE score = 7")) ==
        Seq((100L, "b100", "n", Some(7L))))
    }
  }

  test("readWhere on a dv snapshot reads through the native reader and " +
    "prunes groups by min/max stats on long and int columns") {
    val root = java.nio.file.Files.createTempDirectory("graft_dv_rw").toString
    try {
      import spark.implicits._
      LakeTable.createClustered(spark, root,
        (1L to 100L).map(i => (i, i.toInt)).toDF("id", "n"), "id",
        numGroups = 4, statsCols = Seq("id", "n"))
      LakeTable.deleteWhereDv(spark, root, col("id") === 15L)
      Seq("id", "n").foreach { c =>
        val df = native(LakeTable.readWhere(spark, root, c, 9.5, 20.5))
        assert(df.collect().map(_.getLong(0)).sorted.toSeq ==
          (10L to 20L).filter(_ != 15L), c)
        val m = GraftDvScanMetrics.of(df).get
        assert((m(GraftDvScanMetrics.GroupsAdmitted),
          m(GraftDvScanMetrics.GroupsTotal)) == ((1L, 4L)), c)
      }
    } finally graft.util.Tmp.deleteRecursively(java.nio.file.Paths.get(root))
  }

  /** `from until until` as (k, s = "a" + k), in `files` files. */
  private def keyed(from: Long, until: Long, files: Int): DataFrame =
    spark.range(from, until, 1, files).select(col("id").as("k"),
      concat(lit("a"), col("id").cast("string")).as("s"))

  /** The dv sidecar rels of version `v`. */
  private def dvRels(root: String, v: Int): Seq[String] =
    LakeTable.manifestMetaAt(spark, root, v).get("dv").toSeq
      .flatMap(_.split(","))

  /** Every message of `e`'s cause chain. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")

  test("masks mixing a .bin sidecar with parquet sidecars (SQL delta " +
    "MERGE, a >100,000-row deleteWhereDv) load in the reading tasks: " +
    "API, SQL and lineage reads agree one file per task and in one " +
    "partition, and a point read runs 1 job, count(*) 2") {
    withWarehouse("lakeDvj") { wh =>
      val root = s"$wh/t"
      LakeTable.create(spark, root, keyed(0L, 60000L, 2))
      LakeTable.append(spark, root, keyed(60000L, 120000L, 2))
      LakeTable.append(spark, root, keyed(120000L, 180000L, 2))
      LakeTable.updateWhereMor(spark, root, col("k") === 7L,
        Map("s" -> lit("U")))
      LakeTable.deleteWhereDv(spark, root, col("k") % 10L < 6L)
      val src = (0L to 40L) ++ (200000L to 200005L)
      spark.createDataFrame(src.map(k => Row(k)).asJava,
        StructType(Seq(StructField("k", LongType))))
        .createOrReplaceTempView("dvj_src")
      // a clause matrix the parser does not take: Spark's row-level
      // MERGE plan runs the delta operation, whose tasks write a parquet
      // sidecar; it masks files the two sidecars above mask too (the
      // update's replacement row among them)
      try withConf("spark.graft.update.mode" -> "mor")(spark.sql(
        """MERGE INTO lakeDvj.t t USING dvj_src s ON t.k = s.k
          |WHEN MATCHED AND t.k <= 8 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET s = 'M'
          |WHEN NOT MATCHED THEN INSERT (k, s) VALUES (s.k, 'N')
          |WHEN NOT MATCHED BY SOURCE AND t.k % 1000 = 9 THEN DELETE
          |""".stripMargin))
      finally spark.catalog.dropTempView("dvj_src")
      val v = LakeTable.versions(spark, root).last
      assert(LakeTable.history(spark, root).last._2 == "merge-mor")
      val rels = dvRels(root, v)
      assert(rels.size == 3 && rels.count(_.endsWith(".bin")) == 1, rels)
      val before = ((0L until 180000L).map(k => k -> s"a$k").toMap +
        (7L -> "U")).filterNot(_._1 % 10L < 6L)
      val srcSet = src.toSet
      val want = (before.toSeq.flatMap { case (k, s) =>
        if (srcSet(k)) (if (k <= 8L) None else Some(k -> "M"))
        else if (k % 1000L == 9L) None
        else Some(k -> s)
      } ++ src.filterNot(before.contains).map(_ -> "N")).sorted
      val raw = spark.read.parquet(LakeTable.dataDirPaths(spark, root): _*)
        .select(col("_metadata.file_path"), col("_metadata.row_index"),
          col("k"), col("s"))
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getString(3))).toMap
      def check(): Unit = {
        assert(sorted(native(LakeTable.read(spark, root))) == want)
        assert(sorted(native(spark.sql("SELECT * FROM lakeDvj.t"))) == want)
        val lin = native(LakeTable.readWithLineage(spark, root)).collect()
          .map(r => (r.getString(2), r.getLong(3)) -> (r.getLong(0), r.getString(1)))
        // each row sits at its own (file, position) of the raw files
        lin.foreach { case (at, row) => assert(raw.get(at).contains(row), at) }
        assert(lin.map(_._2).toSeq.sorted == want)
      }
      withConf("spark.sql.files.maxPartitionBytes" -> "1")(check())
      withConf("spark.sql.files.maxPartitionBytes" -> "1g",
        "spark.sql.files.minPartitionNum" -> "1")(check())
      val (point, pointJobs) = jobsDuring(
        spark.sql("SELECT * FROM lakeDvj.t WHERE k = 19").collect())
      assert(point.map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((19L, "M")))
      assert(pointJobs == 1, s"$pointJobs jobs for a point read")
      val (n, countJobs) = jobsDuring(
        spark.sql("SELECT count(*) FROM lakeDvj.t").collect().head.getLong(0))
      assert(n == want.size.toLong)
      assert(countJobs == 2, s"$countJobs jobs for count(*)")
      val (apiPoint, apiJobs) = jobsDuring(
        LakeTable.readWhereEq(spark, root, "k", 1009L).collect())
      assert(apiPoint.isEmpty)
      assert(apiJobs == 1, s"$apiJobs jobs for an API point read")
    }
  }

  /** `body`'s result and the most tasks a stage of it runs to read
    * parquet dv sidecar parts (the partitions of its RDD named "dv
    * sidecar parts"); 0 when no stage reads them. */
  private def sidecarTasksDuring[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerStageSubmitted}
    val sc = spark.sparkContext
    val prop = "graft.dvreadspec.phase"
    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        e.stageInfo.rddInfos.filter(_.name == "dv sidecar parts")
          .foreach(r => tasks.accumulateAndGet(r.numPartitions, (a, b) => math.max(a, b)))
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(prop) == "marker"))
          marker.countDown()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      // the marker job's start follows every stage body submitted
      sc.setLocalProperty(prop, "marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(prop, null)
      assert(marker.await(30, java.util.concurrent.TimeUnit.SECONDS))
      (out, tasks.get)
    } finally sc.removeSparkListener(listener)
  }

  test("under 1-byte file splits, changes() and compactDeletes read a " +
    "108,000-row parquet dv sidecar beside a .bin one in no more tasks " +
    "than the sidecar has parts") {
    withWarehouse("lakeDvp") { wh =>
      val root = s"$wh/t"
      LakeTable.create(spark, root, keyed(0L, 60000L, 2))
      LakeTable.append(spark, root, keyed(60000L, 120000L, 2))
      LakeTable.append(spark, root, keyed(120000L, 180000L, 2))
      LakeTable.updateWhereMor(spark, root, col("k") === 7L,
        Map("s" -> lit("U")))
      val v = LakeTable.deleteWhereDv(spark, root, col("k") % 10L < 6L)
      val Seq(bin, pq) = dvRels(root, v)
      assert(bin.endsWith(".bin") && !pq.endsWith(".bin"), Seq(bin, pq))
      val parts = new java.io.File(s"$root/$pq").listFiles()
        .count(_.getName.endsWith(".parquet"))
      def feed() = LakeTable.changes(spark, root, 3, v, "k")
        .collect().map(_.toSeq.mkString("|")).toSeq.sorted
      val want = feed()
      assert(want.size == 108000 + 2, want.take(3))
      withConf("spark.sql.files.maxPartitionBytes" -> "1") {
        val (got, feedTasks) = sidecarTasksDuring(feed())
        assert(got == want)
        assert(feedTasks >= 1 && feedTasks <= parts, s"$feedTasks tasks, $parts parts")
        val (_, foldTasks) = sidecarTasksDuring(LakeTable.compactDeletes(spark, root))
        assert(foldTasks >= 1 && foldTasks <= parts, s"$foldTasks tasks, $parts parts")
      }
      val kept = (0L until 180000L).filterNot(_ % 10L < 6L)
        .map(k => k -> (if (k == 7L) "U" else s"a$k"))
      assert(sorted(LakeTable.read(spark, root)) == kept)
    }
  }

  test("a missing .bin or parquet dv sidecar fails API, SQL and change " +
    "feed reads with an error naming it") {
    withWarehouse("lakeDvg") { wh =>
      val root = s"$wh/t"
      LakeTable.create(spark, root, keyed(0L, 120000L, 2))
      val vBin = LakeTable.updateWhereMor(spark, root, col("k") === 7L,
        Map("s" -> lit("U")))
      val vPq = LakeTable.deleteWhereDv(spark, root, col("k") % 10L < 9L)
      val Seq(bin, pq) = dvRels(root, vPq)
      assert(bin.endsWith(".bin") && !pq.endsWith(".bin"), Seq(bin, pq))
      val wantBin = (0L until 120000L).map(k =>
        k -> (if (k == 7L) "U" else s"a$k"))
      // reads before the deletion fill the listing and sidecar caches
      assert(sorted(LakeTable.read(spark, root, Some(vBin))) == wantBin)
      assert(sorted(LakeTable.read(spark, root, Some(vPq))) ==
        wantBin.filter(_._1 % 10L == 9L))
      def fails(rel: String, v: Int): Unit = {
        val reads = Seq(
          () => LakeTable.read(spark, root, Some(v)).collect(),
          () => spark.sql(s"SELECT * FROM lakeDvg.t VERSION AS OF $v").collect(),
          () => spark.sql(s"SELECT count(*) FROM lakeDvg.t VERSION AS OF $v")
            .collect())
        reads.foreach { read =>
          val m = messages(intercept[Exception](read()))
          assert(m.contains(rel) && m.contains("is missing"), m)
        }
      }
      val aside = java.nio.file.Files.createTempDirectory("graft_dv_aside")
      try {
        val binFile = java.nio.file.Paths.get(root, bin)
        java.nio.file.Files.move(binFile, aside.resolve("dv.bin"))
        fails(bin, vBin)
        fails(bin, vPq)
        // the change feed names the missing sidecar, not a byte bound
        val q = spark.readStream.format("graft-lake-cdf")
          .option("startingVersion", vBin.toLong).load(root)
          .writeStream.format("memory").queryName("dvg_cdf")
          .outputMode("append").start()
        try {
          val m = messages(intercept[Exception](q.processAllAvailable()))
          assert(m.contains(bin) && m.contains("is missing"), m)
          assert(!m.contains(Long.MaxValue.toString), m)
        } finally { q.stop(); spark.catalog.dropTempView("dvg_cdf") }
        java.nio.file.Files.move(aside.resolve("dv.bin"), binFile)
        graft.util.Tmp.deleteRecursively(java.nio.file.Paths.get(root, pq))
        fails(pq, vPq)
        // the version before the parquet sidecar still reads
        assert(sorted(LakeTable.read(spark, root, Some(vBin))) == wantBin)
      } finally graft.util.Tmp.deleteRecursively(aside)
    }
  }
}
