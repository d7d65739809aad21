package graft

import graft.sources.{GraftDvScanMetrics, LakeTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DSv2 connector ([[graft.sources.GraftLakeSource]]): format-string
  * reads must equal the LakeTable API reads, time travel must work via
  * option, the scan must keep parquet pushdown/pruning, and writes must
  * be rejected (the commit protocol is API-only). */
class GraftLakeSourceSpec extends SparkSpec {

  /** Groups the lake scan of `df` admitted, off its metrics once `df`
    * has run. */
  private def admitted(df: DataFrame): Long =
    GraftDvScanMetrics.of(df).getOrElse(fail("no lake scan in the plan"))(
      GraftDvScanMetrics.GroupsAdmitted)

  private def withTable(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_lake_ds").toString
    try f(dir)
    finally graft.util.Tmp.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("format read equals API read, including time travel") {
    withTable { root =>
      val nation = Tables.load(spark, sf, "nation")
      LakeTable.create(spark, root, nation.filter(col("n_nationkey") < 10))
      LakeTable.append(spark, root, nation.filter(col("n_nationkey") >= 10))

      val latest = spark.read.format("graft-lake").load(root)
      assert(latest.count() == 25)
      assert(latest.schema.fieldNames.sorted.sameElements(
        nation.schema.fieldNames.sorted))

      val v1 = spark.read.format("graft-lake")
        .option("versionAsOf", 1).load(root)
      assert(v1.count() == 10)
      // value-level: snapshot equals the API's snapshot
      assert(v1.orderBy("n_nationkey").collect()
        .sameElements(LakeTable.read(spark, root, Some(1))
          .orderBy("n_nationkey").collect()))
    }
  }

  test("scan delegates to vectorized parquet with pushdown and pruning") {
    withTable { root =>
      val nation = Tables.load(spark, sf, "nation")
      LakeTable.create(spark, root, nation)
      val df = spark.read.format("graft-lake").load(root)
        .filter(col("n_nationkey") < 5)
        .select("n_name")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("GraftDvBatchScan") &&
        plan.contains("[IsNotNull(n_nationkey), LessThan(n_nationkey,5)]"),
        s"filter not pushed:\n$plan")
      // column pruning reached the scan: only the two referenced columns
      val scan = GraftDvScanMetrics.scans(df.queryExecution.executedPlan)
      assert(scan.map(_.scan.readSchema().simpleString) ==
        Seq("struct<n_nationkey:int,n_name:string>"), s"columns not pruned:\n$plan")
      assert(df.collect().map(_.getString(0)).length == 5)
    }
  }

  test("additive schema evolution: old groups read new column as null") {
    withTable { root =>
      val nation = Tables.load(spark, sf, "nation")
      LakeTable.create(spark, root, nation.select("n_nationkey", "n_name"))
      LakeTable.append(spark, root, nation.select("n_nationkey", "n_name")
        .withColumn("extra", lit(1L)))
      val df = spark.read.format("graft-lake").load(root)
      assert(df.schema.fieldNames.contains("extra"))
      assert(df.filter(col("extra").isNull).count() == 25)
      assert(df.filter(col("extra") === 1L).count() == 25)
    }
  }

  test("streaming read follows the commit log across appends") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root,
        Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
      val stream = spark.readStream.format("graft-lake").load(root)
      val q = stream.writeStream.format("memory")
        .queryName("lake_stream_sink").outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(spark.table("lake_stream_sink").count() == 2)
        // two more commits land while the stream runs — each version
        // arrives exactly once (offsets are manifest versions)
        LakeTable.append(spark, root, Seq((3L, "c")).toDF("id", "tag"))
        q.processAllAvailable()
        assert(spark.table("lake_stream_sink").count() == 3)
        LakeTable.append(spark, root, Seq((4L, "d"), (5L, "e")).toDF("id", "tag"))
        q.processAllAvailable()
        val got = spark.table("lake_stream_sink")
          .collect().map(r => (r.getLong(0), r.getString(1))).toSet
        assert(got == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
      } finally {
        q.stop()
        spark.catalog.dropTempView("lake_stream_sink")
      }
    }
  }

  test("streaming read fails fast on a non-append version") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root,
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "tag"))
      val q = spark.readStream.format("graft-lake").load(root)
        .writeStream.format("memory").queryName("lake_stream_fail")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        // a delete rewrites file groups — append-only streaming must
        // refuse it with the op named, not silently double-count
        LakeTable.deleteWhere(spark, root, col("id") === 2L)
        val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
          q.awaitTermination(10000)
        }
        def causes(t: Throwable): Seq[Throwable] =
          if (t == null) Nil else t +: causes(t.getCause)
        assert(causes(ex).exists(c =>
          c.isInstanceOf[UnsupportedOperationException] &&
            c.getMessage.contains("append-only")))
      } finally {
        q.stop()
        spark.catalog.dropTempView("lake_stream_fail")
      }
    }
  }

  test("streaming over MOR deletes: maskDeletes streams the masked " +
    "snapshot; batches mask un-emitted rows; batch reads still refuse") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root,
        (1L to 6L).map(i => (i, s"t$i")).toDF("id", "tag"))
      LakeTable.deleteWhereMor(spark, root, col("id") <= 2L, "id")
      // a batch read of the MOR table serves the masked snapshot
      assert(spark.read.format("graft-lake").load(root).collect().toSet ==
        LakeTable.read(spark, root).collect().toSet)
      // a fresh stream emits exactly the masked
      // snapshot (deletes applied before first emission); parquet sink
      // + checkpoint so the stream can stop and resume deterministically
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_mor_ckpt").toString
      val out = java.nio.file.Files
        .createTempDirectory("graft_mor_out").toString
      def start() = spark.readStream.format("graft-lake").load(root)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        val q = start()
        try { q.processAllAvailable() } finally q.stop()
        assert(spark.read.parquet(out).select("id").as[Long]
          .collect().sorted.toSeq == Seq(3L, 4L, 5L, 6L))
        // while the stream is DOWN: append 7 and 8, MOR-delete 7
        // (never emitted) and 4 (already emitted: not retracted); the
        // resumed batch emits the appended rows with the mask current
        // at its end offset — 7 never appears
        LakeTable.append(spark, root,
          Seq((7L, "t7"), (8L, "t8")).toDF("id", "tag"))
        LakeTable.deleteWhereMor(spark, root, col("id") === 7L, "id")
        LakeTable.deleteWhereMor(spark, root, col("id") === 4L, "id")
        val q2 = start()
        try { q2.processAllAvailable() } finally q2.stop()
        assert(spark.read.parquet(out).select("id").as[Long]
          .collect().sorted.toSeq == Seq(3L, 4L, 5L, 6L, 8L))
        // the masked snapshot agrees on everything except the
        // cannot-retract 4
        assert(LakeTable.read(spark, root).select("id").as[Long]
          .collect().sorted.toSeq == Seq(3L, 5L, 6L, 8L))
      } finally {
        graft.util.Tmp.deleteRecursively(java.nio.file.Paths.get(ckpt))
        graft.util.Tmp.deleteRecursively(java.nio.file.Paths.get(out))
      }
      // a SECOND fresh stream now emits exactly the masked snapshot —
      // exactly-once rows match LakeTable.read
      val q2 = spark.readStream.format("graft-lake").load(root)
        .writeStream.format("memory").queryName("lake_mor_stream2")
        .outputMode("append").start()
      try {
        q2.processAllAvailable()
        assert(spark.table("lake_mor_stream2").select("id").as[Long]
          .collect().sorted.toSeq == Seq(3L, 5L, 6L, 8L))
      } finally {
        q2.stop()
        spark.catalog.dropTempView("lake_mor_stream2")
      }
      // the batch read serves the masked snapshot, latest and v1
      assert(spark.read.format("graft-lake").load(root).collect().toSet ==
        LakeTable.read(spark, root).collect().toSet)
      assert(spark.read.format("graft-lake").option("versionAsOf", 1)
        .load(root).collect().toSet ==
        LakeTable.read(spark, root, Some(1)).collect().toSet)
    }
  }

  test("streaming over a renamed table: logical shape from physical " +
    "files; a mid-stream rename fails the batch by name") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root,
        Seq((1L, 10L), (2L, 20L)).toDF("id", "amount"))
      LakeTable.renameColumn(spark, root, "amount", "price")
      LakeTable.append(spark, root, Seq((3L, 30L)).toDF("id", "price"))
      // batch reads serve the logical shape through the mapping
      val batch = spark.read.format("graft-lake").load(root)
      assert(batch.columns.toSeq == Seq("id", "price"))
      assert(batch.collect().toSet == LakeTable.read(spark, root).collect().toSet)
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      // a fresh stream resolves the LOGICAL schema and decodes the
      // physical files under the translated names
      val q = spark.readStream.format("graft-lake").load(root)
        .writeStream.format("memory").queryName("lake_renamed")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val got = spark.table("lake_renamed")
        assert(got.columns.toSeq == Seq("id", "price"))
        assert(got.select(sum(col("price"))).head().getLong(0) == 60L)
        // a rename committed AFTER the stream resolved its schema
        // fails the next batch by name (restart re-resolves)
        LakeTable.renameColumn(spark, root, "price", "cost")
        LakeTable.append(spark, root, Seq((4L, 40L)).toDF("id", "cost"))
        val es = intercept[
            org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
          q.awaitTermination(10000)
        }
        assert(causes(es).exists(c =>
          c.isInstanceOf[UnsupportedOperationException] &&
            c.getMessage.contains("restart the stream")), es.toString)
      } finally {
        q.stop()
        spark.catalog.dropTempView("lake_renamed")
      }
    }
  }

  test("streaming admission control: maxVersionsPerTrigger bounds each " +
    "batch; startingVersion skips history") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root, Seq((1L, "a")).toDF("id", "tag"))
      LakeTable.append(spark, root, Seq((2L, "b")).toDF("id", "tag"))
      LakeTable.append(spark, root, Seq((3L, "c")).toDF("id", "tag"))
      val q = spark.readStream.format("graft-lake")
        .option("maxVersionsPerTrigger", "1").load(root)
        .writeStream.format("memory").queryName("lake_admission")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(spark.table("lake_admission").count() == 3)
        // the three commits drained ONE per micro-batch, not in one go
        val batches = q.recentProgress.count(_.numInputRows > 0)
        assert(batches == 3, s"expected 3 bounded batches, saw $batches")
      } finally {
        q.stop(); spark.catalog.dropTempView("lake_admission")
      }
      // startingVersion: a fresh stream from v3 sees only v3's rows
      val q2 = spark.readStream.format("graft-lake")
        .option("startingVersion", "3").load(root)
        .writeStream.format("memory").queryName("lake_startver")
        .outputMode("append").start()
      try {
        q2.processAllAvailable()
        assert(spark.table("lake_startver").select("id").as[Long]
          .collect().toSeq == Seq(3L))
      } finally {
        q2.stop(); spark.catalog.dropTempView("lake_startver")
      }
    }
  }

  test("streaming restart resumes from the checkpointed version") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root,
        Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_stream_ckpt").toString
      val out = java.nio.file.Files
        .createTempDirectory("graft_stream_out").toString
      try {
        // the file sink supports checkpoint recovery (memory does not)
        def start() = spark.readStream
          .format("graft-lake").load(root)
          .writeStream.format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode("append").start()
        val q1 = start()
        try { q1.processAllAvailable() } finally q1.stop()
        assert(spark.read.parquet(out).count() == 2)
        // commits land while no stream is running
        LakeTable.append(spark, root, Seq((3L, "c")).toDF("id", "tag"))
        // a fresh query on the SAME checkpoint resumes at the recorded
        // version and delivers only the new commit — exactly-once
        // across restarts
        val q2 = start()
        try { q2.processAllAvailable() } finally q2.stop()
        val got = spark.read.parquet(out)
          .collect().map(r => (r.getLong(0), r.getString(1))).toSet
        assert(got == Set((1L, "a"), (2L, "b"), (3L, "c")))
      } finally {
        graft.util.Tmp.deleteRecursively(java.nio.file.Paths.get(ckpt))
        graft.util.Tmp.deleteRecursively(java.nio.file.Paths.get(out))
      }
    }
  }

  test("streaming with ignoreChanges skips non-append versions") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root,
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "tag"))
      val q = spark.readStream.format("graft-lake")
        .option("ignoreChanges", "true").load(root)
        .writeStream.format("memory").queryName("lake_stream_ic")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(spark.table("lake_stream_ic").count() == 3)
        // the delete rewrites groups; ignoreChanges emits only the
        // rewritten (added) group — the 2 surviving rows re-emit
        LakeTable.deleteWhere(spark, root, col("id") === 2L)
        q.processAllAvailable()
        assert(spark.table("lake_stream_ic").count() == 5)
        // appends after the rewrite keep flowing
        LakeTable.append(spark, root, Seq((4L, "d")).toDF("id", "tag"))
        q.processAllAvailable()
        assert(spark.table("lake_stream_ic").count() == 6)
      } finally {
        q.stop()
        spark.catalog.dropTempView("lake_stream_ic")
      }
    }
  }

  test("DSv2 read prunes file groups by manifest stats at planning time") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root,
        Seq((1L, "lo1"), (2L, "lo2")).toDF("id", "tag"),
        statsCols = Seq("id"))
      LakeTable.append(spark, root,
        Seq((100L, "hi1"), (200L, "hi2")).toDF("id", "tag"),
        statsCols = Seq("id"))
      val dirs = LakeTable.dataDirPaths(spark, root)
      assert(dirs.size == 2)
      val df = spark.read.format("graft-lake").load(root)
        .filter(col("id") >= 100L)
      assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(100L, 200L))
      // the scan admits ONLY the high-id group
      assert(admitted(df) == 1)
      // an unprunable predicate keeps both groups
      val full = spark.read.format("graft-lake").load(root)
        .filter(col("tag") =!= "x")
      assert(full.collect().length == 4)
      assert(admitted(full) == 2)
    }
  }

  test("DSv2 read prunes file groups by bloom index on equality probes") {
    withTable { root =>
      import spark.implicits._
      // two groups with INTERLEAVED ids — min/max stats cannot separate
      // them for a point probe; only the bloom index can
      LakeTable.create(spark, root,
        Seq((1L, "a"), (100L, "a")).toDF("id", "tag"),
        statsCols = Seq("id"))
      LakeTable.append(spark, root,
        Seq((2L, "b"), (200L, "b")).toDF("id", "tag"),
        statsCols = Seq("id"))
      LakeTable.indexBloom(spark, root, Seq("id"))
      assert(LakeTable.dataDirPaths(spark, root).size == 2)
      // both groups span [1,200]-ish ranges: stats admit id=100 in both;
      // the bloom keeps only the owning group
      assert(LakeTable.selectGroupsEq(spark, root, "id", 100L).size == 1)
      val df = spark.read.format("graft-lake").load(root)
        .filter(col("id") === 100L)
      assert(df.collect().map(_.getString(1)).toSeq == Seq("a"))
      assert(admitted(df) == 1)
      // absent-but-in-range key: bloom prunes everything, zero rows
      assert(LakeTable.readWhereEq(spark, root, "id", 150L).count() == 0)
      // the index commit is metadata-only: same groups, version bumped
      assert(LakeTable.versions(spark, root) == Seq(1, 2, 3))
      assert(LakeTable.history(spark, root).last._2 == "index")
    }
  }

  test("DSv2 read prunes file groups by partition value at planning time") {
    withTable { root =>
      import spark.implicits._
      // STRING partition values: min/max stats can't index strings —
      // only the recorded partition value can prune these groups
      LakeTable.createPartitioned(spark, root,
        Seq((1L, "1998-01"), (2L, "1998-02"), (3L, "1998-03"),
          (4L, "1998-02")).toDF("id", "month"), "month")
      assert(LakeTable.dataDirPaths(spark, root).size == 3)
      val df = spark.read.format("graft-lake").load(root)
        .filter(col("month") === "1998-02")
      assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 4L))
      // directory-level pruning: the scan admits ONLY the matching
      // partition's group
      assert(admitted(df) == 1)
      // IN-list keeps exactly the named partitions
      val in2 = spark.read.format("graft-lake").load(root)
        .filter(col("month").isin("1998-01", "1998-03"))
      assert(in2.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
      assert(admitted(in2) == 2)
      // appends route rows per value; a value accumulates one group
      // per batch and the scan reads exactly that value's groups
      LakeTable.append(spark, root,
        Seq((5L, "1998-02"), (6L, "1998-04")).toDF("id", "month"))
      assert(LakeTable.dataDirPaths(spark, root).size == 5)
      val after = spark.read.format("graft-lake").load(root)
        .filter(col("month") === "1998-02")
      assert(after.collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(2L, 4L, 5L))
      assert(admitted(after) == 2)
    }
  }

  test("runtime filtering: a filtered dim join re-prunes the fact scan mid-execution") {
    // the plain fact, then the same fact with a deletion vector: the
    // masked snapshot prunes the same way and still masks its row
    for (masked <- Seq(false, true)) withTable { root =>
      import spark.implicits._
      // fact: 4 range-clustered groups with key stats; dim keeps ONE key
      val rows = (0L until 400L).map(i => (i % 100, s"f$i"))
      LakeTable.createClustered(spark, root, rows.toDF("k", "payload"), "k",
        numGroups = 4, statsCols = Seq("k"))
      assert(LakeTable.dataDirPaths(spark, root).size == 4)
      if (masked) LakeTable.deleteWhereDv(spark, root, col("payload") === "f105")
      val model = rows.filter(r => r._1 == 5L && !(masked && r._2 == "f105"))
        .map(r => (r._1, r._2, "keep"))
      // DPP requires a SELECTIVE PREDICATE on the pruning side (an
      // unfiltered dim can't prune anything) — and it must survive as
      // a plan node, so the dim comes from parquet (a LocalRelation
      // constant-folds the filter away before the rule sees it)
      Seq((5L, "keep"), (90L, "drop")).toDF("k", "tag")
        .write.parquet(s"$root/_dim_src")
      val dim = spark.read.parquet(s"$root/_dim_src")
        .filter(col("tag") === "keep")
      // useStats' benefit estimate has no stats to work with on a tiny
      // v2 relation and rejects the filter; the fallback ratio path
      // injects it (production fact tables carry real stats)
      val joined = graft.util.LocalFrame.withConf(spark,
        "spark.sql.optimizer.dynamicPartitionPruning.useStats", "false") {
        val j = spark.read.format("graft-lake").load(root).join(dim, "k")
        // collect() (not count(), which plans a sibling QueryExecution
        // whose own scan would be the filtered one) so the plan we
        // inspect below is the plan that executed
        assert(j.collect().map(r => (r.getLong(0), r.getString(1),
          r.getString(2))).sorted.toSeq == model.sorted)
        j
      }
      // the optimizer injected a dynamic-pruning runtime filter on the
      // v2 scan, and execution re-pruned the group list to the single
      // group whose [min,max] can hold k=5
      val planStr = joined.queryExecution.executedPlan.toString
      assert(planStr.contains("RuntimeFilters: [dynamicpruning"),
        planStr.take(1200))
      // the executed fact scan (inside an AQE query stage) reported the
      // re-prune through the DSv2 DRIVER custom-metric channel —
      // BatchScanExec.postDriverMetrics() reads the very scan instance
      // execution filtered, so this observes the prune that actually ran
      assert(admitted(joined) == 1, s"masked=$masked")
    }
  }

  test("CDF across compactDeletes: the fold is a zero-change version, " +
    "no prior change sidecar is re-served, and the fold's manifest " +
    "carries no stale cdc/batchId key") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root,
        (1L to 10L).map(i => (i, i * 10L)).toDF("id", "v"))
      LakeTable.enableChangeFeed(spark, root)                 // v2
      LakeTable.deleteWhereDv(spark, root, col("id") === 1L)  // v3
      LakeTable.deleteWhereDv(spark, root, col("id") === 2L)  // v4
      val vFold = LakeTable.compactDeletes(spark, root)       // v5
      val meta = LakeTable.manifestMetaAt(spark, root, vFold)
      assert(!meta.contains("cdc") && !meta.contains("batchId"),
        s"fold carried per-version keys: $meta")
      val q = spark.readStream.format("graft-lake-cdf").load(root)
        .writeStream.format("memory").queryName("cdf_fold")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val rows = spark.table("cdf_fold")
          .select("id", "_change_type", "_commit_version")
          .as[(Long, String, Long)].collect().toSeq
        assert(rows.count(_._2 == "insert") == 10)
        // each dv delete served EXACTLY once, at its own version
        assert(rows.filter(_._2 == "delete").map(r => (r._1, r._3)).sorted
          == Seq((1L, 3L), (2L, 4L)))
        // the fold itself is a zero-change version
        assert(!rows.exists(_._3 == vFold.toLong),
          s"fold version $vFold served change rows")
      } finally { q.stop(); spark.catalog.dropTempView("cdf_fold") }
      // reads after the fold still serve the masked snapshot
      assert(LakeTable.read(spark, root).count() == 8)
    }
  }

  test("writes through the format are rejected") {
    withTable { root =>
      val nation = Tables.load(spark, sf, "nation")
      LakeTable.create(spark, root, nation)
      intercept[Exception] {
        nation.write.format("graft-lake").mode("append").save(root)
      }
      // the rejected write must not have committed anything
      assert(LakeTable.versions(spark, root) == Seq(1))
    }
  }

  test("unknown version fails fast with the available versions") {
    withTable { root =>
      LakeTable.create(spark, root, Tables.load(spark, sf, "nation"))
      val e = intercept[Exception] {
        spark.read.format("graft-lake").option("versionAsOf", 7).load(root)
      }
      assert(e.getMessage.contains("version 7"))
    }
  }

  test("CDF admission control: maxVersionsPerTrigger bounds each " +
    "batch; startingTimestamp resolves to the first commit at or " +
    "after; both-options and future timestamps refuse") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root, Seq((1L, "a")).toDF("id", "tag"))
      LakeTable.append(spark, root, Seq((2L, "b")).toDF("id", "tag"))
      LakeTable.append(spark, root, Seq((3L, "c")).toDF("id", "tag"))
      val q = spark.readStream.format("graft-lake-cdf")
        .option("maxVersionsPerTrigger", "1").load(root)
        .writeStream.format("memory").queryName("cdf_admission")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(spark.table("cdf_admission").count() == 3)
        val batches = q.recentProgress.count(_.numInputRows > 0)
        assert(batches == 3, s"expected 3 bounded batches, saw $batches")
      } finally {
        q.stop(); spark.catalog.dropTempView("cdf_admission")
      }
      // backdate v1/v2; a timestamp between v2 and v3 starts at v3
      val fsys = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def manifest(v: Int) = new org.apache.hadoop.fs.Path(
        s"$root/_versions", f"v$v%08d.json")
      val now = System.currentTimeMillis()
      fsys.setTimes(manifest(1), now - 3L * 3600 * 1000, -1)
      fsys.setTimes(manifest(2), now - 2L * 3600 * 1000, -1)
      val ts = new java.sql.Timestamp(now - 3600L * 1000).toString
      val q2 = spark.readStream.format("graft-lake-cdf")
        .option("startingTimestamp", ts).load(root)
        .writeStream.format("memory").queryName("cdf_startts")
        .outputMode("append").start()
      try {
        q2.processAllAvailable()
        assert(spark.table("cdf_startts").select("id").as[Long]
          .collect().toSeq == Seq(3L))
      } finally {
        q2.stop(); spark.catalog.dropTempView("cdf_startts")
      }
      // both starting options at once refuse
      val both = intercept[Exception] {
        spark.readStream.format("graft-lake-cdf")
          .option("startingVersion", "2").option("startingTimestamp", ts)
          .load(root)
          .writeStream.format("memory").queryName("cdf_both")
          .outputMode("append").start().processAllAvailable()
      }
      assert(Iterator.iterate(both: Throwable)(_.getCause)
        .takeWhile(_ != null).take(8)
        .exists(c => Option(c.getMessage)
          .exists(_.contains("mutually exclusive"))), both.toString)
      // a timestamp after the newest commit refuses, never streams empty
      val future = new java.sql.Timestamp(now + 24L * 3600 * 1000).toString
      val fut = intercept[Exception] {
        spark.readStream.format("graft-lake-cdf")
          .option("startingTimestamp", future).load(root)
          .writeStream.format("memory").queryName("cdf_future")
          .outputMode("append").start().processAllAvailable()
      }
      assert(Iterator.iterate(fut: Throwable)(_.getCause)
        .takeWhile(_ != null).take(8)
        .exists(c => Option(c.getMessage)
          .exists(_.contains("after the newest commit"))), fut.toString)
    }
  }
}
