package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** How the merge-on-read verbs (`updateWhereMor`, `deleteWhereDv`,
  * `mergeMor`) stage their matched rows: up to 20,000 matches (the
  * driver-write bound) as the rows of one bounded collect, more through
  * a parquet stage dir. Both arms of each verb give the rows, `__pos`
  * masks and change-feed rows an independent model predicts; under a
  * nondeterministic predicate the masks, the change-feed rows and the
  * replacement rows describe the same rows; and a point mutation runs
  * only the jobs of its probe (and a merge's one broadcast). */
class MorStageSpec extends graft.SparkSpec {

  /** The driver-write bound: at most this many matches stage on the
    * driver. */
  private val Bound = 20000

  private def withRoot(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_mor_stage")
    try f(dir.resolve("t").toString)
    finally graft.util.Tmp.deleteRecursively(dir)
  }

  /** A table of `n` rows (k, s = "a" + k) in `files` files, with the
    * change feed on. */
  private def table(root: String, n: Long, files: Int): Unit = {
    LakeTable.create(spark, root, spark.range(0L, n, 1L, files).select(
      col("id").as("k"), concat(lit("a"), col("id").cast("string")).as("s")))
    LakeTable.enableChangeFeed(spark, root)
  }

  private type Pos = (String, Long)

  /** Every live row of the latest version at its (file, position), read
    * from the raw data files and masked by nothing: the model's
    * before-image (the fixtures carry no masks before the mutation). */
  private def rawRows(root: String): Map[Pos, (Long, String)] =
    spark.read.parquet(LakeTable.dataDirPaths(spark, root): _*)
      .select(col("_metadata.file_path"), col("_metadata.row_index"),
        col("k"), col("s"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getString(3))).toMap

  /** The (file, pos) -> op masks the latest commit added. */
  private def newMasks(root: String): Map[Pos, String] = {
    val vs = LakeTable.versions(spark, root)
    val Seq(before, after) = vs.takeRight(2).map(v =>
      LakeTable.dvState(LakeTable.manifestMetaAt(spark, root, v)))
    val added = after.filterNot(before.contains)
    LakeTable.dvMaskFrame(spark, root, added).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getString(2)).toMap
  }

  /** The latest commit's change-feed rows: (change type, k, s), sorted. */
  private def cdfRows(root: String): Seq[(String, Long, String)] = {
    val meta = LakeTable.manifestMetaAt(spark, root,
      LakeTable.versions(spark, root).last)
    val rel = LakeTable.cdcPathAt(meta).getOrElse(fail(s"no cdc in $meta"))
    spark.read.parquet(new org.apache.hadoop.fs.Path(root, rel).toString)
      .collect().map(r => (r.getAs[String]("_change_type"),
        r.getAs[Long]("k"), r.getAs[String]("s"))).toSeq.sorted
  }

  private def live(root: String): Seq[(Long, String)] =
    LakeTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  /** `body`'s result and whether it staged its matches in a parquet
    * dir: a write job whose innermost graft frame is the staging
    * helper (the change-feed write runs below it, in `body`). */
  private def stagedToDisk[A](body: => A): (A, Boolean) = {
    val (out, jobs) = jobSitesDuring(body)
    (out, jobs.exists(j => j.startsWith("parquet at") &&
      j.linesIterator.find(_.contains("graft.")).exists(
        _.contains("withStagedMatches"))))
  }

  /** Run `mutate` on a fresh `n`-row table and check it against the
    * model: the rows whose key `hit` admits are the matches; `after`
    * maps a matched (k, s) to its replacement (None deletes); `inserts`
    * are rows the mutation adds; `op` is the masks' tag; `pre`/`post`
    * are the change types of the matched and replacement rows. */
  private def check(n: Long, matches: Int, onDisk: Boolean,
      hit: Long => Boolean, mutate: String => Int,
      after: ((Long, String)) => Option[(Long, String)],
      inserts: Seq[(Long, String)], op: String, pre: String,
      post: Option[String]): Unit = withRoot { root =>
    table(root, n, 4)
    val raw = rawRows(root)
    val matched = raw.filter { case (_, (k, _)) => hit(k) }
    assert(matched.size == matches)
    val (_, staged) = stagedToDisk(mutate(root))
    assert(staged == onDisk, s"$matches matches staged on disk: $staged")
    assert(newMasks(root) == matched.map { case (p, _) => p -> op })
    val replaced = matched.values.toSeq.flatMap(r => after(r))
    assert(live(root) == (raw.values.toSeq.flatMap(r =>
      if (hit(r._1)) after(r) else Some(r)) ++ inserts).sorted)
    assert(cdfRows(root) == (matched.values.toSeq.map(r => (pre, r._1, r._2)) ++
      post.toSeq.flatMap(t => replaced.map(r => (t, r._1, r._2))) ++
      inserts.map(r => ("insert", r._1, r._2))).sorted)
  }

  Seq(Bound -> false, Bound + 1 -> true).foreach { case (m, onDisk) =>
    val arm = if (onDisk) "a parquet stage dir" else "one bounded collect"
    test(s"updateWhereMor of $m matches stages them in $arm: rows, masks " +
      "and change feed match the model") {
      check(80000L, m, onDisk, _ < m, root => LakeTable.updateWhereMor(
          spark, root, col("k") < m, Map("s" -> concat(col("s"), lit("!")))),
        { case (k, s) => Some((k, s + "!")) }, Nil, "U", "update_preimage",
        Some("update_postimage"))
    }

    test(s"deleteWhereDv of $m matches stages them in $arm: rows, masks " +
      "and change feed match the model") {
      check(80000L, m, onDisk, k => k % 3L == 1L && k < 3L * m,
        root => LakeTable.deleteWhereDv(spark, root,
          col("k") % 3L === 1L && col("k") < 3L * m),
        _ => None, Nil, "D", "delete", None)
    }

    test(s"mergeMor of $m matched keys stages them in $arm: rows, masks " +
      "and change feed match the model") {
      // every second key from 30,000 on, and three fresh keys
      val fresh = Seq(100000L, 100001L, 100002L)
      val keys = (0L until m.toLong).map(i => 30000L + 2L * i).toSet
      val updates = (keys.toSeq ++ fresh).map(k => (k, s"M$k"))
      import spark.implicits._
      check(80000L, m, onDisk, keys, root => LakeTable.mergeMor(spark, root,
          updates.toDF("k", "s"), "k"),
        { case (k, _) => Some((k, s"M$k")) }, fresh.map(k => (k, s"M$k")),
        "U", "update_preimage", Some("update_postimage"))
    }
  }

  /** Nondeterministic predicates: `rand(7)` (seeded per partition, so
    * it repeats on a re-run of the same scan) and a UDF drawing a fresh
    * number on every evaluation (so two evaluations of the matches
    * disagree). */
  private val randoms: Seq[(String, () => Column)] = Seq(
    "rand(7) < 0.3" -> (() => rand(7) < 0.3),
    "an unseeded random UDF < 0.3" -> (() => udf(() =>
      java.util.concurrent.ThreadLocalRandom.current().nextDouble())
      .asNondeterministic()() < 0.3))

  /** Run a mutation of predicate `p` on a fresh `n`-row table: the masked
    * rows are exactly the change feed's `pre` rows and the rows the
    * mutation took out of the table; `post` rows (an update's) are as
    * many, each a masked row with its SET applied. */
  private def checkRandom(n: Long, onDisk: Boolean, p: Column,
      mutate: (String, Column) => Int, op: String, pre: String,
      post: Option[String]): Unit = withRoot { root =>
    table(root, n, 4)
    val raw = rawRows(root)
    val (_, staged) = stagedToDisk(mutate(root, p))
    assert(staged == onDisk, s"$p over $n rows staged on disk: $staged")
    val masks = newMasks(root)
    assert(masks.values.forall(_ == op))
    val masked = masks.keys.toSeq.map(raw)
    assert(masked.size > Bound / 4)
    assert(onDisk == (masked.size > Bound), s"${masked.size} masked rows")
    val cdf = cdfRows(root)
    assert(cdf.filter(_._1 == pre).map(r => (r._2, r._3)) == masked.sorted)
    val kept = raw.values.toSeq.filterNot(masked.toSet)
    post match {
      case None =>
        assert(cdf.size == masked.size)
        assert(live(root) == kept.sorted)
      case Some(t) =>
        val replaced = masked.map { case (k, s) => (k, s + "!") }
        assert(cdf.filter(_._1 == t).map(r => (r._2, r._3)) == replaced.sorted)
        assert(cdf.size == 2 * masked.size)
        assert(live(root) == (kept ++ replaced).sorted)
    }
  }

  for ((n, onDisk) <- Seq(40000L -> false, 100000L -> true);
       (name, p) <- randoms) {
    test(s"updateWhereMor where $name over $n rows: masks, change feed " +
      "and replacement rows describe the same rows") {
      checkRandom(n, onDisk, p(), (root, p) => LakeTable.updateWhereMor(spark,
        root, p, Map("s" -> concat(col("s"), lit("!")))),
        "U", "update_preimage", Some("update_postimage"))
    }

    test(s"deleteWhereDv where $name over $n rows: masks and change feed " +
      "describe the rows it took out") {
      checkRandom(n, onDisk, p(), (root, p) => LakeTable.deleteWhereDv(spark,
        root, p), "D", "delete", None)
    }
  }

  test("a point updateWhereMor and deleteWhereDv run at most 2 Spark jobs, " +
    "a point mergeMor at most 3, and compactDeletes over .bin sidecars none") {
    withRoot { root =>
      LakeTable.create(spark, root, spark.range(0L, 1000L, 1L, 2).select(
        col("id").as("k"), concat(lit("a"), col("id").cast("string")).as("s")))
      LakeTable.append(spark, root, spark.range(1000L, 2000L, 1L, 2).select(
        col("id").as("k"), concat(lit("a"), col("id").cast("string")).as("s")))
      val (_, upd) = jobsDuring(LakeTable.updateWhereMor(spark, root,
        col("k") === 7L, Map("s" -> lit("U"))))
      assert(upd <= 2, s"$upd jobs for a point updateWhereMor")
      val (_, del) = jobsDuring(LakeTable.deleteWhereDv(spark, root,
        col("k") === 1500L))
      assert(del <= 2, s"$del jobs for a point deleteWhereDv")
      import spark.implicits._
      val (_, mrg) = jobsDuring(LakeTable.mergeMor(spark, root,
        Seq((9L, "M"), (5000L, "N")).toDF("k", "s"), "k"))
      assert(mrg <= 3, s"$mrg jobs for a point mergeMor")
      val rels = LakeTable.dvState(LakeTable.manifestMetaAt(spark, root,
        LakeTable.versions(spark, root).last))
      assert(rels.size == 3 && rels.forall(_.endsWith(".bin")), rels)
      val (_, cmp) = jobsDuring(LakeTable.compactDeletes(spark, root))
      assert(cmp == 0, s"$cmp jobs for compactDeletes over .bin sidecars")
      val want = ((0L until 2000L).filter(_ != 1500L).map(k =>
        k -> (k match { case 7L => "U"; case 9L => "M"; case _ => s"a$k" })) :+
        (5000L -> "N")).sorted
      assert(live(root) == want)
    }
  }
}
