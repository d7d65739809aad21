package graft

import graft.sources.{GraftDvBatchScan, GraftDvScanMetrics, LakeTable}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** File skipping and per-scan planning in the deletion-vector reader
  * (`GraftDvBatchScan`): files whose footer row-group stats rule out
  * the pushed filters are never opened, skipping never changes a
  * result, tasks copy the Hadoop conf once per distinct pushed
  * predicate and take footers from the cache, and one conf broadcast
  * serves every scan under the same conf. The counts come from the
  * executed scan's driver and task metrics. */
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

  private val Partitions = "partitions"

  /** The dv scan's metrics of an executed `df`, driver and task, and
    * its partition count under [[Partitions]]. */
  private def metrics(df: DataFrame): Map[String, Long] = {
    val dv = GraftDvScanMetrics.scans(df.queryExecution.executedPlan)
    assert(dv.size == 1, df.queryExecution.executedPlan)
    GraftDvScanMetrics.of(df).get +
      (Partitions -> dv.head.batch.planInputPartitions().length.toLong)
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

  // d: seeded doubles in [0, 1) with NaN every 97th row
  private lazy val skipDoubles = {
    val rnd = new scala.util.Random(17)
    (0 until 3300).map(i => if (i % 97 == 0) Double.NaN else rnd.nextDouble())
  }

  /** Rows `lo` until `hi` of the skipping-equivalence tables: columns
    * of every pushable type, an all-null one and a label. */
  private def skipRows(lo: Int, hi: Int): DataFrame = spark.range(lo, hi).select(
    col("id").cast("int").as("i"),
    (col("id") * 7L).as("l"),
    element_at(typedLit(skipDoubles), (col("id") + 1L).cast("int")).as("d"),
    date_add(lit(java.sql.Date.valueOf("2020-01-01")),
      (col("id") / 30L).cast("int")).as("dt"),
    timestamp_seconds(lit(1577836800L) + col("id") * 60L).as("ts"),
    (col("id") / 3L).cast("decimal(10,2)").as("dec"),
    format_string("%s%04d", when(col("id") % 2L === 0L, "p")
      .otherwise("q"), col("id")).as("s"),
    lit(null).cast("int").as("nul"),
    format_string("x%d", col("id")).as("lbl"))

  /** Creates the table at `root` from rows 0 until 3000 in a
    * distributed write of range-partitioned, sorted files with small
    * row groups (TIMESTAMP_MICROS, so ts filters push too). */
  private def createSkipTable(root: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val blockSize = conf.get("parquet.block.size")
    conf.setInt("parquet.block.size", 2048)
    try withConf("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      LakeTable.create(spark, root, skipRows(0, 3000)
        .repartitionByRange(4, col("i")).sortWithinPartitions("i"))
    } finally {
      if (blockSize == null) conf.unset("parquet.block.size")
      else conf.set("parquet.block.size", blockSize)
    }
  }

  private val skipFilters = Seq(
    "i = 17", "i < 40", "i <= 40", "i > 3290", "i >= 2990",
    "l = 7007", "l IN (7, 14, 21)",
    s"l IN (${(300 until 320).map(_ * 7).mkString(", ")})",
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
      createSkipTable(root)
      (3000 until 3200 by 50).foreach(lo =>
        LakeTable.append(spark, root, skipRows(lo, lo + 50).coalesce(1)))
      // masks in the first range file and one appended file; the
      // update adds a group
      LakeTable.deleteWhereDv(spark, root,
        (col("i") % 13 === 0 && col("i") < 700) || col("i") === 3010)
      LakeTable.updateWhereMor(spark, root, col("i") === 1500,
        Map("s" -> lit("p1500u")))
      // an ALTER-added column the older files lack, then a rename
      LakeTable.evolveSchema(spark, root,
        StructType(Seq(StructField("extra", LongType))))
      LakeTable.append(spark, root, skipRows(3200, 3300)
        .withColumn("extra", col("i").cast("long") % 10L).coalesce(1))
      LakeTable.deleteWhereDv(spark, root, col("i") === 3250)
      // equality deletes keyed on the double column d, stacked on the
      // dvs: the key of i = 0 is NaN, so every NaN row goes too
      LakeTable.deleteWhereMor(spark, root,
        col("i") % 11 === 0 && col("i") < 1100, "d")
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

      val filters = skipFilters
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

  test("footer-stats skipping never drops a matching row on a plain " +
    "snapshot and on one with a metadata-only RENAME and DROP COLUMN: " +
    "API, SQL latest, VERSION AS OF and path reads equal the same reads " +
    "with parquet pushdown off") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dv_skipplain")
    val wh = dir.toString
    spark.conf.set("spark.sql.catalog.lakePlain", "graft.sources.GraftLakeCatalog")
    spark.conf.set("spark.sql.catalog.lakePlain.warehouse", wh)
    try {
      val root = s"$wh/t"
      createSkipTable(root)
      (3000 until 3300 by 50).foreach(lo =>
        LakeTable.append(spark, root, skipRows(lo, lo + 50).coalesce(1)))
      // every read of snapshot v, all of which must agree
      def check(v: Int, filters: Seq[String]): Unit = {
        var skipped = 0
        filters.foreach { f =>
          def reads(): Seq[Seq[String]] = {
            val api = LakeTable.read(spark, root, Some(v)).filter(expr(f))
            val got = Seq(api,
              spark.sql(s"SELECT * FROM lakePlain.t WHERE $f"),
              spark.sql(s"SELECT * FROM lakePlain.t VERSION AS OF $v WHERE $f"),
              spark.read.format("graft-lake").load(root).filter(expr(f)),
              spark.read.format("graft-lake").option("versionAsOf", v)
                .load(root).filter(expr(f))).map(lines)
            val m = metrics(api)
            if (m(GraftDvScanMetrics.FilesKept) < m(GraftDvScanMetrics.FilesAdmitted))
              skipped += 1
            got
          }
          val on = reads()
          val off = withConf("spark.sql.parquet.filterPushdown" -> "false")(reads())
          assert(on == off, s"v$v filter $f")
          assert(on.distinct.size == 1, s"v$v reads differ under $f")
        }
        assert(skipped >= filters.size / 2,
          s"v$v: only $skipped of ${filters.size} filters skipped a file")
      }
      val plainFilters = skipFilters.filterNot(_.contains("extra"))
      check(LakeTable.latestVersion(spark, root).get,
        plainFilters.map(_.replace("label", "lbl")))
      LakeTable.renameColumn(spark, root, "lbl", "label")
      LakeTable.dropColumn(spark, root, "nul")
      assert(LakeTable.read(spark, root).columns.toSeq ==
        Seq("i", "l", "d", "dt", "ts", "dec", "s", "label"))
      check(LakeTable.latestVersion(spark, root).get,
        plainFilters.filterNot(_.contains("nul")))
    } finally {
      spark.conf.unset("spark.sql.catalog.lakePlain")
      spark.conf.unset("spark.sql.catalog.lakePlain.warehouse")
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
      // the delete staged its match through this scan, a point read
      // of k = 5 whose footer skipping read all 41 footers: they are
      // cached
      assert(m(GraftDvScanMetrics.FooterMisses) == 0, m)
      // the tasks open the kept files on the footers skipping read
      assert(m(GraftDvScanMetrics.TaskFooterReads) == 0, m)
      assert(m(GraftDvScanMetrics.TaskConfCopies) == m(Partitions), m)
      assert(m(GraftDvScanMetrics.ConfBroadcasts) <= 1, m)
      assert(read == 20L * m(GraftDvScanMetrics.FilesKept),
        s"tasks read $read records for $m")

      // another point read: every footer comes from the cache, and the
      // conf broadcast is the first read's
      val again = LakeTable.readWhereEq(spark, root, "k", 507L)
      assert(again.collect().map(_.getLong(0)).toSeq == Seq(507L))
      val ma = metrics(again)
      assert(ma(GraftDvScanMetrics.FooterMisses) == 0, ma)
      assert(ma(GraftDvScanMetrics.TaskFooterReads) == 0, ma)
      assert(ma(GraftDvScanMetrics.ConfBroadcasts) == 0, ma)

      // unfiltered: masked and unmasked files, one conf copy per task
      val full = LakeTable.read(spark, root)
      assert(full.collect().length == 819)
      val mf = metrics(full)
      assert(mf(GraftDvScanMetrics.FilesKept) == 41, mf)
      assert(mf(GraftDvScanMetrics.TaskConfCopies) == mf(Partitions), mf)
      assert(mf(Partitions) < 41, mf)
      assert(mf(GraftDvScanMetrics.TaskFooterReads) == 0, mf)
      // a masked and an unmasked file kept under a filter: one copy
      // without the predicate, one with it
      val both = LakeTable.read(spark, root).filter(col("k") <= 25L)
      assert(both.collect().length == 25)
      assert(metrics(both)(GraftDvScanMetrics.FilesKept) == 2)
      assert(metrics(both)(GraftDvScanMetrics.TaskConfCopies) == 2)
      // every file kept under a filter, one of them masked: at most one
      // copy per task and distinct predicate, where a copy per file
      // would make 41
      val all = LakeTable.read(spark, root).filter(col("k") >= 0L)
      assert(all.collect().length == 819)
      val mall = metrics(all)
      assert(mall(GraftDvScanMetrics.FilesKept) == 41, mall)
      assert(mall(GraftDvScanMetrics.TaskConfCopies) <= 2 * mall(Partitions), mall)
      assert(2 * mall(Partitions) < 41, mall)
      // a lineage read reads every file whole: one copy per task
      val lin = LakeTable.readWithLineage(spark, root).filter(col("k") <= 25L)
      assert(lin.collect().length == 25)
      val ml = metrics(lin)
      assert(ml(GraftDvScanMetrics.TaskConfCopies) == ml(Partitions), ml)
      // nothing can match: no file kept, no conf broadcast or copy
      val none = LakeTable.readWhereEq(spark, root, "k", 100000L)
      assert(none.collect().isEmpty)
      val mn = metrics(none)
      assert(mn(GraftDvScanMetrics.FilesKept) == 0, mn)
      assert(mn(GraftDvScanMetrics.ConfBroadcasts) == 0, mn)
      assert(mn(GraftDvScanMetrics.TaskConfCopies) == 0, mn)
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
      // the delete's staging read (this scan, filtered on k) read the
      // recreated file's footer
      assert(metrics(again)(GraftDvScanMetrics.FooterMisses) == 0)
      // recreated once more, with nothing reading it before: the read
      // takes no footer of the earlier tables
      graft.util.Tmp.deleteRecursively(java.nio.file.Paths.get(root))
      LakeTable.create(spark, root, rows(0L until 20L, k => s"c$k"))
      val third = LakeTable.readWhereEq(spark, root, "k", 7L)
      assert(third.collect().map(_.getString(1)).toSeq == Seq("c7"))
      assert(metrics(third)(GraftDvScanMetrics.FooterMisses) == 1)
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
    withRoot { root =>
      // a deleted dv sidecar whose byte count was cached
      LakeTable.create(spark, root, rows(0L until 30L, k => s"a$k"))
      LakeTable.deleteWhereDv(spark, root, col("k") === 3L)
      assert(LakeTable.read(spark, root).collect().length == 29)
      val sidecars = new java.io.File(root, "_deletes").listFiles()
        .filter(_.getName.endsWith(".bin"))
      assert(sidecars.length == 1)
      sidecars.foreach(_.delete())
      intercept[Exception](LakeTable.read(spark, root).collect())
      intercept[Exception](LakeTable.readWhereEq(spark, root, "k", 7L).collect())
    }
  }

  test("the dv reader reads nested columns alike over the vectorized " +
    "reader and parquet-mr: API, SQL and lineage reads") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dv_nested")
    val wh = dir.toString
    spark.conf.set("spark.sql.catalog.lakeNest", "graft.sources.GraftLakeCatalog")
    spark.conf.set("spark.sql.catalog.lakeNest.warehouse", wh)
    try {
      val root = s"$wh/t"
      def rowsOf(lo: Long, hi: Long) = spark.range(lo, hi).select(
        col("id").as("k"),
        when(col("id") % 7L === 0L, lit(null)).otherwise(struct(
          (col("id") * 2L).cast("int").as("a"),
          format_string("s%d", col("id")).as("b"))).as("st"),
        when(col("id") % 5L === 0L, lit(null)).otherwise(array(
          col("id").cast("int"), lit(null).cast("int"),
          (col("id") + 1L).cast("int"))).as("arr"))
      LakeTable.create(spark, root, rowsOf(0L, 50L).coalesce(1))
      (1 until 4).foreach(g =>
        LakeTable.append(spark, root, rowsOf(g * 50L, g * 50L + 50L).coalesce(1)))
      LakeTable.deleteWhereDv(spark, root, col("k") % 10L === 3L)
      val expected = lines(rowsOf(0L, 200L).filter(col("k") % 10L =!= 3L))
      val readSchema = LakeTable.read(spark, root).schema
      def reads(): Seq[Seq[String]] = Seq(
        lines(LakeTable.read(spark, root)),
        lines(spark.sql("SELECT * FROM lakeNest.t")),
        lines(LakeTable.readWithLineage(spark, root)
          .drop("__file", "__pos")),
        lines(LakeTable.readWithLineage(spark, root)
          .select("__file", "__pos", "k")),
        lines(LakeTable.read(spark, root).filter(col("k") > 120L)))
      val on = reads()
      val off = withConf("spark.sql.parquet.enableVectorizedReader" -> "false") {
        assert(!org.apache.spark.sql.execution.datasources.parquet
          .GraftParquetFileRead(spark.sessionState.conf, readSchema).vectorized)
        reads()
      }
      assert(on == off)
      assert(on(0) == expected)
      assert(on(1) == expected)
      assert(on(2) == expected)
      assert(on(3).size == expected.size)
      assert(on(4) == expected.filter(_.split('|')(0).toLong > 120L))
    } finally {
      spark.conf.unset("spark.sql.catalog.lakeNest")
      spark.conf.unset("spark.sql.catalog.lakeNest.warehouse")
      graft.util.Tmp.deleteRecursively(dir)
    }
  }

  test("each read of one snapshot honors its own conf: parquet filter " +
    "pushdown and the INT96 rebase mode") {
    withRoot { root =>
      // a conf no other read shares, so this test's broadcasts are its
      // own; pushdown set explicitly, as withConf restores it
      withConf("spark.graft.dvskipspec.nonce" -> java.util.UUID.randomUUID().toString,
          "spark.sql.parquet.filterPushdown" -> "true") {
        LakeTable.create(spark, root, rows(0L until 20L, k => s"a$k"))
        (1 until 6).foreach(g => LakeTable.append(spark, root,
          rows((g * 20L) until (g * 20L + 20L), k => s"a$k")))
        LakeTable.deleteWhereDv(spark, root, col("k") === 5L)
        def point() = {
          val df = LakeTable.readWhereEq(spark, root, "k", 63L)
          assert(df.collect().map(_.getString(1)).toSeq == Seq("a63"))
          metrics(df)
        }
        val on = point()
        assert(on(GraftDvScanMetrics.FilesKept) < on(GraftDvScanMetrics.FilesAdmitted), on)
        // the delete's staging read, a lake scan under this same conf,
        // made the broadcast this read takes
        assert(on(GraftDvScanMetrics.ConfBroadcasts) == 0, on)
        val off = withConf("spark.sql.parquet.filterPushdown" -> "false")(point())
        assert(off(GraftDvScanMetrics.FilesKept) == 6, off)
        assert(off(GraftDvScanMetrics.ConfBroadcasts) == 1, off)
        val back = point()
        assert(back(GraftDvScanMetrics.FilesKept) == on(GraftDvScanMetrics.FilesKept), back)
        assert(back(GraftDvScanMetrics.ConfBroadcasts) == 0, back)
      }
    }
    withRoot { root =>
      // INT96 values of a file no Spark wrote (no version key in its
      // footer) rebase under the session's mode
      val mode = "spark.sql.parquet.int96RebaseModeInRead"
      val day = java.time.LocalDate.of(1000, 1, 1)
      withConf(mode -> "CORRECTED") {
        LakeTable.create(spark, root, spark.range(3).select(col("id").as("k"),
          timestamp_seconds(lit(0L)).as("ts")).coalesce(1))
        val group = new java.io.File(LakeTable.dataDirPaths(spark, root).head)
        val target = group.listFiles().filter(_.getName.endsWith(".parquet")).head
        group.listFiles().filter(_.getName.endsWith(".crc")).foreach(_.delete())
        val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
          "message m { optional int64 k; optional int96 ts; }")
        val tmp = java.nio.file.Paths.get(root + "-int96.parquet")
        val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
          .builder(new org.apache.hadoop.fs.Path(tmp.toUri))
          .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
        val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
        val int96 = java.nio.ByteBuffer.allocate(12)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          .putLong(0L).putInt((day.toEpochDay + 2440588L).toInt).array()
        try (0L until 3L).foreach(k => w.write(groups.newGroup().append("k", k)
          .append("ts", org.apache.parquet.io.api.Binary.fromConstantByteArray(int96))))
        finally w.close()
        java.nio.file.Files.move(tmp, target.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        LakeTable.deleteWhereDv(spark, root, col("k") === 1L)
      }
      def ts(): Seq[String] = LakeTable.read(spark, root).orderBy("k")
        .select(col("ts").cast("string")).collect().map(_.getString(0)).toSeq
      val corrected = withConf(mode -> "CORRECTED")(ts())
      assert(corrected == Seq.fill(2)("1000-01-01 00:00:00"))
      val legacy = withConf(mode -> "LEGACY")(ts())
      assert(legacy.size == 2 && legacy.forall(_ != corrected.head), legacy)
      val failed = withConf(mode -> "EXCEPTION")(intercept[Exception](ts()))
      assert(Iterator.iterate[Throwable](failed)(_.getCause).takeWhile(_ != null)
        .exists(_.getClass.getSimpleName == "SparkUpgradeException"), failed)
      assert(withConf(mode -> "CORRECTED")(ts()) == corrected)
    }
  }

  test("a second read of a snapshot reads no footer in its tasks and " +
    "makes no conf broadcast") {
    withRoot { root =>
      LakeTable.create(spark, root, rows(0L until 20L, k => s"a$k"))
      (1 until 6).foreach(g => LakeTable.append(spark, root,
        rows((g * 20L) until (g * 20L + 20L), k => s"a$k")))
      LakeTable.deleteWhereDv(spark, root, col("k") % 7L === 0L)
      // an unfiltered read skips nothing; the delete's staging read
      // (this scan, its filter not pushable) read all six footers in
      // its tasks, so this first read finds them cached
      val first = LakeTable.read(spark, root)
      assert(first.collect().length == 102)
      val m1 = metrics(first)
      assert(m1(GraftDvScanMetrics.FooterMisses) == 0, m1)
      assert(m1(GraftDvScanMetrics.TaskFooterReads) == 0, m1)
      val second = LakeTable.read(spark, root)
      assert(lines(second) == lines(first))
      val m2 = metrics(second)
      assert(m2(GraftDvScanMetrics.TaskFooterReads) == 0, m2)
      assert(m2(GraftDvScanMetrics.ConfBroadcasts) == 0, m2)
      assert(m2(GraftDvScanMetrics.TaskConfCopies) == m2(Partitions), m2)
      // a group no read has opened: the next read's tasks read its
      // footer, the read after it none
      LakeTable.append(spark, root, rows(120L until 140L, k => s"a$k"))
      val third = LakeTable.read(spark, root)
      assert(third.collect().length == 122)
      assert(metrics(third)(GraftDvScanMetrics.TaskFooterReads) == 1)
      val fourth = LakeTable.read(spark, root)
      assert(lines(fourth) == lines(third))
      val m4 = metrics(fourth)
      assert(m4(GraftDvScanMetrics.TaskFooterReads) == 0, m4)
      assert(m4(GraftDvScanMetrics.ConfBroadcasts) == 0, m4)
    }
  }
}
