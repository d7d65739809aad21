package graft

import graft.sources.LakeTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** Storage-partitioned joins ([[graft.sources.GraftKeyGrouping]]):
  * a partitioned LakeTable reports KeyGroupedPartitioning under
  * Spark's V2-bucketing flag, so equi-joins and aggregations on the
  * partition key plan WITHOUT a shuffle — and with the flag off, the
  * exact same query plans the shuffle it always did (the layout claim
  * is opt-in, never ambient). */
class SpjSpec extends SparkSpec {

  private def withSpj[A](on: Boolean)(body: => A): A =
    graft.util.LocalFrame.withConf(spark,
      "spark.sql.sources.v2.bucketing.enabled", on.toString) {
      graft.util.LocalFrame.withConf(spark,
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true") {
        graft.util.LocalFrame.withConf(spark,
          "spark.sql.adaptive.enabled", "false") { body }
      }
    }

  private def noBroadcast[A](body: => A): A =
    graft.util.LocalFrame.withConf(spark,
      "spark.sql.autoBroadcastJoinThreshold", "-1")(body)

  private def shuffles(df: DataFrame): Int = {
    // execute without a driver transfer (plan finalizes on execution)
    df.foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ())
    df.queryExecution.executedPlan.collect {
      case s: ShuffleExchangeLike => s }.size
  }

  test("co-partitioned lake tables join and aggregate without a shuffle") {
    val dir = java.nio.file.Files.createTempDirectory("graft_spj").toString
    try {
      val left = Tables.load(spark, sf, "nation")
        .select(col("n_nationkey").cast("long").as("k"),
          col("n_regionkey").cast("long").as("r"),
          col("n_name").as("name"))
      val right = Tables.load(spark, sf, "nation")
        .select(col("n_regionkey").cast("long").as("r"),
          (col("n_nationkey") * 10).cast("long").as("v"))
      LakeTable.createEmpty(spark, s"$dir/t1", left.schema, Seq("r"))
      LakeTable.append(spark, s"$dir/t1", left)
      LakeTable.createEmpty(spark, s"$dir/t2", right.schema, Seq("r"))
      LakeTable.append(spark, s"$dir/t2", right)
      val t1 = spark.read.format("graft-lake").load(s"$dir/t1")
      val t2 = spark.read.format("graft-lake").load(s"$dir/t2")
      val nation = left

      // the scan reports its byte size, so a join of these small
      // tables would broadcast either way: broadcast stays off
      withSpj(on = true) { noBroadcast {
        val j = t1.join(t2, "r")
        assert(shuffles(j) == 0,
          s"SPJ expected, plan:\n${j.queryExecution.executedPlan}")
        assert(j.count() ==
          nation.groupBy("r").count().agg(sum(col("count") * col("count")))
            .head.getLong(0))
        val a = t1.groupBy(col("r")).agg(count(lit(1)).as("n"))
        assert(shuffles(a) == 0,
          s"shuffle-free agg expected, plan:\n${a.queryExecution.executedPlan}")
        assert(a.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
          nation.groupBy("r").count().collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap)
      } }
      withSpj(on = false) { noBroadcast {
        val j = t1.join(t2, "r")
        assert(shuffles(j) > 0,
          "with V2 bucketing off the join must shuffle as before")
      } }
    } finally graft.util.Tmp.deleteRecursively(
      java.nio.file.Paths.get(dir))
  }

  test("BUCKET-transform layout: two bucket(8, k) lake tables join " +
    "with zero exchanges, equality probes prune to one bucket, and " +
    "appends route by the same hash") {
    val dir = java.nio.file.Files.createTempDirectory("graft_spjb").toString
    try {
      import spark.implicits._
      val left = (1L to 400L).map(i => (i, i * 10L)).toDF("k", "v")
      val right = (1L to 400L).filter(_ % 2 == 0)
        .map(i => (i, s"n$i")).toDF("k", "nm")
      LakeTable.createBucketed(spark, s"$dir/t1", left, "k", 8)
      LakeTable.createBucketed(spark, s"$dir/t2", right, "k", 8)
      // appends route by the same hash: one new dir per occupied bucket
      LakeTable.append(spark, s"$dir/t1",
        Seq((1000L, 1L), (1001L, 2L)).toDF("k", "v"))
      // the bucket transform resolves through the catalog's V2
      // FunctionCatalog — path loads have no function catalog, so
      // bucketed SPJ is a CATALOG-table feature (Iceberg's posture too)
      spark.conf.set("spark.sql.catalog.spjb",
        "graft.sources.GraftLakeCatalog")
      spark.conf.set("spark.sql.catalog.spjb.warehouse", dir)
      val t1 = spark.table("spjb.t1")
      val t2 = spark.table("spjb.t2")
      withSpj(on = true) {
       graft.util.LocalFrame.withConf(spark,
         "spark.sql.autoBroadcastJoinThreshold", "-1") {
        val j = t1.join(t2, "k")
        assert(shuffles(j) == 0,
          s"bucketed SPJ expected, plan:\n${j.queryExecution.executedPlan}")
        assert(j.count() == 200L)
        // values agree through the join
        assert(j.filter(col("k") === 6L).select(col("v"), col("nm"))
          .head() == org.apache.spark.sql.Row(60L, "n6"))
       }
      }
      // broadcast off as in the flag-on branch above
      withSpj(on = false) { noBroadcast {
        val j = t1.join(t2, "k")
        assert(shuffles(j) > 0,
          "with V2 bucketing off the bucketed join must shuffle")
      } }
      // manifest-level bucket pruning: an equality probe keeps only
      // dirs tagged with the literal's bucket (plus none others)
      val probe = org.apache.spark.sql.sources.EqualTo("k", 6L)
      val (keptDirs, total) = graft.sources.LakeTable
        .pruneProbe(spark, s"$dir/t2", None, Seq(probe))
      assert(total >= 7 && keptDirs.size == 1,
        s"bucket probe kept ${keptDirs.size} of $total")
      // the kept dir really contains k=6
      assert(spark.read.parquet(keptDirs.map(d =>
          s"$dir/t2/$d"): _*).filter(col("k") === 6L).count() == 1)
      // range probes cannot prune a hash layout (conservative keep-all)
      val (rk, rt) = graft.sources.LakeTable.pruneProbe(
        spark, s"$dir/t2", None,
        Seq(org.apache.spark.sql.sources.GreaterThan("k", 100L)))
      assert(rk.size == rt)
    } finally {
      spark.conf.unset("spark.sql.catalog.spjb")
      spark.conf.unset("spark.sql.catalog.spjb.warehouse")
      graft.util.Tmp.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

  test("a partitioned pair with a deletion vector on one side still " +
    "joins without a shuffle and masks the deleted rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_spjdv").toString
    try {
      import spark.implicits._
      val left = (1L to 60L).map(i => (i, i % 5, s"n$i"))
      val right = (0L until 5L).map(r => (r, r * 100L))
      LakeTable.createEmpty(spark, s"$dir/t1",
        left.toDF("k", "r", "name").schema, Seq("r"))
      LakeTable.append(spark, s"$dir/t1", left.toDF("k", "r", "name"))
      LakeTable.createEmpty(spark, s"$dir/t2",
        right.toDF("r", "v").schema, Seq("r"))
      LakeTable.append(spark, s"$dir/t2", right.toDF("r", "v"))
      LakeTable.deleteWhereDv(spark, s"$dir/t1", col("k") % 7 === 0L)
      val model = (for {
        (k, r, _) <- left if k % 7 != 0
        (r2, v) <- right if r2 == r
      } yield (r, k, v)).sorted
      val t1 = spark.read.format("graft-lake").load(s"$dir/t1")
      val t2 = spark.read.format("graft-lake").load(s"$dir/t2")
      withSpj(on = true) { noBroadcast {
        val j = t1.join(t2, "r").select("r", "k", "v")
        assert(shuffles(j) == 0,
          s"SPJ expected, plan:\n${j.queryExecution.executedPlan}")
        assert(j.as[(Long, Long, Long)].collect().sorted.toSeq == model)
      } }
    } finally graft.util.Tmp.deleteRecursively(java.nio.file.Paths.get(dir))
  }
}
