package graft

import graft.sources.{GraftDvBatchScan, GraftDvScanMetrics, LakeTable}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** File skipping and per-scan planning in the deletion-vector reader
  * (`GraftDvBatchScan`): files whose footer row-group stats rule out
  * the pushed filters are never opened, skipping never changes a
  * result, and each scan builds only the parquet readers it uses. The
  * counts come from the executed scan's driver metrics. */
class DvSkipSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private val Schema = StructType(Seq(
    StructField("k", LongType), StructField("s", StringType)))

  private def rows(keys: Seq[Long], s: Long => String): DataFrame =
    spark.createDataFrame(keys.map(k => Row(k, s(k))).asJava, Schema)

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def withRoot(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_dv_skip")
    try f(dir.resolve("t").toString)
    finally graft.util.Tmp.deleteRecursively(dir)
  }

  /** v2 scans of an executed plan, AQE stages included. */
  private def scans(p: SparkPlan): Seq[BatchScanExec] = p.collect {
    case b: BatchScanExec => Seq(b)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
  }.flatten

  /** The dv scan's driver metrics of an executed `df`. */
  private def metrics(df: DataFrame): Map[String, Long] = {
    val dv = scans(df.queryExecution.executedPlan)
      .filter(_.scan.description().startsWith("GraftDvBatchScan"))
    assert(dv.size == 1, df.queryExecution.executedPlan)
    Seq(GraftDvScanMetrics.FilesAdmitted, GraftDvScanMetrics.FilesKept,
      GraftDvScanMetrics.FooterMisses, GraftDvScanMetrics.ReadersBuilt)
      .map(n => n -> dv.head.metrics(n).value).toMap
  }

  /** `body`'s result and the input records its tasks read. A marker
    * job flushes the listener bus: once its start arrives, every task
    * end of `body` has been seen. */
  private def recordsReadDuring[A](body: => A): (A, Long) = {
    val sc = spark.sparkContext
    val prop = "graft.dvskipspec.phase"
    val read = new java.util.concurrent.atomic.AtomicLong()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(prop) == "marker"))
          marker.countDown()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty(prop, "marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(prop, null)
      assert(marker.await(30, java.util.concurrent.TimeUnit.SECONDS))
      // the marker's own single-row task read no input
      (out, read.get())
    } finally sc.removeSparkListener(listener)
  }

  private def lines(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  test("footer-stats skipping never drops a matching row: API, SQL and " +
    "lineage reads equal the same reads with parquet pushdown off") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dv_skipeq")
    val wh = dir.toString
    spark.conf.set("spark.sql.catalog.lakeSkip", "graft.sources.GraftLakeCatalog")
    spark.conf.set("spark.sql.catalog.lakeSkip.warehouse", wh)
    val conf = spark.sparkContext.hadoopConfiguration
    val blockSize = conf.get("parquet.block.size")
    try {
      val root = s"$wh/t"
      val rnd = new scala.util.Random(17)
      // d: seeded doubles in [0, 1) with NaN every 97th row
      val ds = (0 until 3300).map(i => if (i % 97 == 0) Double.NaN else rnd.nextDouble())
      def rowsOf(lo: Int, hi: Int) = spark.range(lo, hi).select(
        col("id").cast("int").as("i"),
        (col("id") * 7L).as("l"),
        element_at(typedLit(ds), (col("id") + 1L).cast("int")).as("d"),
        date_add(lit(java.sql.Date.valueOf("2020-01-01")),
          (col("id") / 30L).cast("int")).as("dt"),
        timestamp_seconds(lit(1577836800L) + col("id") * 60L).as("ts"),
        (col("id") / 3L).cast("decimal(10,2)").as("dec"),
        format_string("%s%04d", when(col("id") % 2L === 0L, "p")
          .otherwise("q"), col("id")).as("s"),
        lit(null).cast("int").as("nul"),
        format_string("x%d", col("id")).as("lbl"))
      // a distributed write of range-partitioned, sorted files with
      // small row groups (TIMESTAMP_MICROS, so ts filters push too)
      conf.setInt("parquet.block.size", 2048)
      withConf("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
        LakeTable.create(spark, root, rowsOf(0, 3000)
          .repartitionByRange(4, col("i")).sortWithinPartitions("i"))
      }
      if (blockSize == null) conf.unset("parquet.block.size")
      else conf.set("parquet.block.size", blockSize)
      (3000 until 3200 by 50).foreach(lo =>
        LakeTable.append(spark, root, rowsOf(lo, lo + 50).coalesce(1)))
      // masks in the first range file and one appended file; the
      // update adds a group
      LakeTable.deleteWhereDv(spark, root,
        (col("i") % 13 === 0 && col("i") < 700) || col("i") === 3010)
      LakeTable.updateWhereMor(spark, root, col("i") === 1500,
        Map("s" -> lit("p1500u")))
      // an ALTER-added column the older files lack, then a rename
      LakeTable.evolveSchema(spark, root,
        StructType(Seq(StructField("extra", LongType))))
      LakeTable.append(spark, root, rowsOf(3200, 3300)
        .withColumn("extra", col("i").cast("long") % 10L).coalesce(1))
      LakeTable.deleteWhereDv(spark, root, col("i") === 3250)
      LakeTable.renameColumn(spark, root, "lbl", "label")
      // the update staged its row through a lineage read: the row's
      // null columns stay null
      val updated = LakeTable.read(spark, root).filter(col("i") === 1500).collect()
      assert(updated.map(r => (r.getAs[String]("s"), r.isNullAt(r.fieldIndex("nul")),
        r.isNullAt(r.fieldIndex("extra")))).toSeq == Seq(("p1500u", true, true)))
      // the created group: four files of several row groups each
      val created = LakeTable.dataDirPaths(spark, root).map(d =>
        new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet")))
        .find(_.length == 4).getOrElse(fail("no four-file group"))
      created.foreach { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toString), conf))
        try assert(r.getFooter.getBlocks.size > 1, f)
        finally r.close()
      }

      val aboveIn = (300 until 320).map(_ * 7).mkString(", ")
      val filters = Seq(
        "i = 17", "i < 40", "i <= 40", "i > 3290", "i >= 2990",
        "l = 7007", "l IN (7, 14, 21)", s"l IN ($aboveIn)",
        "d > 0.99", "d < 0.01", "d > 1e300", "d = double('NaN')",
        "d <= 0.5 AND i > 2500",
        "dt = DATE'2020-02-01'", "dt >= DATE'2020-04-01'",
        "ts < TIMESTAMP'2020-01-01 01:00:00'",
        "ts > TIMESTAMP'2020-01-03 00:00:00'",
        "dec > 1090.00", "dec = 12.33",
        "s = 'p0042'", "s = 'p1500u'", "s LIKE 'p1%'", "s LIKE 'q29%'",
        "nul IS NULL AND i < 30", "nul IS NOT NULL", "nul = 3",
        "extra IS NULL AND i > 3190", "extra IS NOT NULL", "extra = 5",
        "extra > 7 OR i < 5",
        "label = 'x17'", "label LIKE 'x1%' AND i < 100",
        "i < 10 OR i > 3295", "i IS NOT NULL AND i < 3")
      var skipped = 0
      filters.foreach { f =>
        def reads(): Seq[Seq[String]] = {
          val api = LakeTable.read(spark, root).filter(expr(f))
          val got = Seq(lines(api),
            lines(spark.sql(s"SELECT * FROM lakeSkip.t WHERE $f")),
            lines(LakeTable.readWithLineage(spark, root).filter(expr(f))))
          val m = metrics(api)
          if (m(GraftDvScanMetrics.FilesKept) < m(GraftDvScanMetrics.FilesAdmitted))
            skipped += 1
          got
        }
        val on = reads()
        val off = withConf("spark.sql.parquet.filterPushdown" -> "false")(reads())
        assert(on == off, s"filter $f")
        assert(on(0) == on(1), s"API and SQL differ under $f")
      }
      assert(skipped >= filters.size / 2,
        s"only $skipped of ${filters.size} filters skipped a file")
    } finally {
      if (blockSize == null) conf.unset("parquet.block.size")
      else conf.set("parquet.block.size", blockSize)
      spark.conf.unset("spark.sql.catalog.lakeSkip")
      spark.conf.unset("spark.sql.catalog.lakeSkip.warehouse")
      graft.util.Tmp.deleteRecursively(dir)
    }
  }

  test("a point read opens only its files and each scan builds only " +
    "the readers it uses") {
    withRoot { root =>
      LakeTable.create(spark, root, rows(0L until 20L, k => s"a$k"))
      (1 until 41).foreach(g => LakeTable.append(spark, root,
        rows((g * 20L) until (g * 20L + 20L), k => s"a$k")))
      LakeTable.deleteWhereDv(spark, root, col("k") === 5L)
      val files = LakeTable.dataDirPaths(spark, root).map(d =>
        new java.io.File(d).listFiles().count(_.getName.endsWith(".parquet"))).sum
      assert(files == 41)

      val (point, read) = recordsReadDuring {
        val df = LakeTable.readWhereEq(spark, root, "k", 503L)
        assert(df.collect().map(_.getString(1)).toSeq == Seq("a503"))
        df
      }
      val m = metrics(point)
      assert(m(GraftDvScanMetrics.FilesAdmitted) == 41, m)
      assert(m(GraftDvScanMetrics.FilesKept) >= 1 &&
        m(GraftDvScanMetrics.FilesKept) <= 2, m)
      assert(m(GraftDvScanMetrics.FooterMisses) == 41, m)
      assert(m(GraftDvScanMetrics.ReadersBuilt) == 1, m)
      assert(read == 20L * m(GraftDvScanMetrics.FilesKept),
        s"tasks read $read records for $m")

      // another point read: every footer comes from the cache
      val again = LakeTable.readWhereEq(spark, root, "k", 507L)
      assert(again.collect().map(_.getLong(0)).toSeq == Seq(507L))
      assert(metrics(again)(GraftDvScanMetrics.FooterMisses) == 0)

      // unfiltered: masked and unmasked files share one reader
      val full = LakeTable.read(spark, root)
      assert(full.collect().length == 819)
      assert(metrics(full)(GraftDvScanMetrics.ReadersBuilt) == 1)
      assert(metrics(full)(GraftDvScanMetrics.FilesKept) == 41)
      // a masked and an unmasked file kept under a filter: two readers
      val both = LakeTable.read(spark, root).filter(col("k") <= 25L)
      assert(both.collect().length == 25)
      assert(metrics(both)(GraftDvScanMetrics.FilesKept) == 2)
      assert(metrics(both)(GraftDvScanMetrics.ReadersBuilt) == 2)
      // a lineage read reads every file whole: one reader
      val lin = LakeTable.readWithLineage(spark, root).filter(col("k") <= 25L)
      assert(lin.collect().length == 25)
      assert(metrics(lin)(GraftDvScanMetrics.ReadersBuilt) == 1)
      // nothing can match: no file kept, no reader built
      val none = LakeTable.readWhereEq(spark, root, "k", 100000L)
      assert(none.collect().isEmpty)
      assert(metrics(none)(GraftDvScanMetrics.FilesKept) == 0)
      assert(metrics(none)(GraftDvScanMetrics.ReadersBuilt) == 0)
    }
  }

  test("a cached footer is served only for the same (key, length, " +
    "mtime): a file rewritten at the same path, and a table recreated " +
    "at the same root, read their own footers") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dv_footer")
    try {
      val target = dir.resolve("f.parquet")
      def place(n: Long, mtime: Long): GraftDvBatchScan.Listed = {
        val out = dir.resolve(s"w$n").toString
        spark.range(n).coalesce(1).write.parquet(out)
        val part = new java.io.File(out).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.copy(part.toPath, target,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        assert(target.toFile.setLastModified(mtime))
        val st = new org.apache.hadoop.fs.Path(target.toUri).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
          .getFileStatus(new org.apache.hadoop.fs.Path(target.toUri))
        GraftDvBatchScan.Listed(
          org.apache.spark.paths.SparkPath.fromPathString(st.getPath.toString)
            .urlEncoded, st.getLen, st.getModificationTime)
      }
      def rowsIn(l: GraftDvBatchScan.Listed): (Long, Int) = {
        val (f, misses) = GraftDvBatchScan.footers(spark, Seq(l))
        (f.head.getBlocks.asScala.map(_.getRowCount).sum, misses)
      }
      val first = place(10L, 1600000000000L)
      assert(rowsIn(first) == ((10L, 1)))
      assert(rowsIn(first) == ((10L, 0)))
      val second = place(3000L, 1600000100000L)
      assert(second.key == first.key && second != first)
      assert(rowsIn(second) == ((3000L, 1)))

      // the table level: a dropped and recreated table at one root
      val root = dir.resolve("t").toString
      LakeTable.create(spark, root, rows(0L until 20L, k => s"a$k"))
      LakeTable.deleteWhereDv(spark, root, col("k") === 1L)
      assert(LakeTable.readWhereEq(spark, root, "k", 7L).collect()
        .map(_.getString(1)).toSeq == Seq("a7"))
      graft.util.Tmp.deleteRecursively(java.nio.file.Paths.get(root))
      LakeTable.create(spark, root, rows(0L until 20L, k => s"b$k"))
      LakeTable.deleteWhereDv(spark, root, col("k") === 1L)
      val again = LakeTable.readWhereEq(spark, root, "k", 7L)
      assert(again.collect().map(_.getString(1)).toSeq == Seq("b7"))
      assert(metrics(again)(GraftDvScanMetrics.FooterMisses) == 1)
    } finally graft.util.Tmp.deleteRecursively(dir)
  }

  test("a version whose group dir was vacuumed fails its read loudly, " +
    "never with partial rows, though its listing was cached") {
    withRoot { root =>
      LakeTable.create(spark, root, rows(0L until 30L, k => s"a$k"))
      (1 until 4).foreach(g => LakeTable.append(spark, root,
        rows((g * 30L) until (g * 30L + 30L), k => s"a$k")))
      val v = LakeTable.deleteWhereDv(spark, root, col("k") % 10L === 0L)
      // warm the listing and footer caches of every group
      assert(LakeTable.read(spark, root).collect().length == 108)
      assert(LakeTable.readWhereEq(spark, root, "k", 45L).collect().length == 1)
      assert(LakeTable.read(spark, root).filter(col("k") > 5L).collect()
        .length == 103)
      // a group dir the manifest still names is gone
      val lost = LakeTable.dataDirPaths(spark, root)(2)
      val lostKey = spark.read.parquet(lost).agg(max("k")).head.getLong(0)
      val keptKey = (lostKey + 30L) % 120L
      graft.util.Tmp.deleteRecursively(java.nio.file.Paths.get(lost))
      intercept[Exception](LakeTable.read(spark, root, Some(v)).collect())
      intercept[Exception](LakeTable.read(spark, root).filter(col("k") > 5L)
        .collect())
      intercept[Exception](LakeTable.readWhereEq(spark, root, "k", lostKey)
        .collect())
      // groups the lost dir never held still read
      assert(LakeTable.readWhereEq(spark, root, "k", keptKey).collect()
        .map(_.getLong(0)).toSeq == Seq(keptKey))
    }
    withRoot { root =>
      LakeTable.create(spark, root, rows(0L until 30L, k => s"a$k"))
      val v = LakeTable.deleteWhereDv(spark, root, col("k") === 3L)
      assert(LakeTable.read(spark, root, Some(v)).collect().length == 29)
      LakeTable.rewriteDeletes(spark, root)
      LakeTable.append(spark, root, rows(30L until 40L, k => s"b$k"))
      LakeTable.vacuum(spark, root, keepVersions = 1)
      intercept[Exception](LakeTable.read(spark, root, Some(v)).collect())
      assert(LakeTable.read(spark, root).count() == 39L)
    }
  }
}
