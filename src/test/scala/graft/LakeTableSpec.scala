package graft

import graft.sources.LakeTable
import org.apache.spark.sql.functions._

class LakeTableSpec extends SparkSpec {

  private def withTable(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_lake").toString
    try f(dir)
    finally {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(dir)
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(q => java.nio.file.Files.deleteIfExists(q))
    }
  }

  test("create/append accumulate rows across versions") {
    withTable { root =>
      val nation = Tables.load(spark, sf, "nation")
      val v1 = LakeTable.create(spark, root, nation.filter(col("n_nationkey") < 10))
      val v2 = LakeTable.append(spark, root, nation.filter(col("n_nationkey") >= 10))
      assert(v1 == 1 && v2 == 2)
      assert(LakeTable.read(spark, root).count() == 25)
    }
  }

  test("time travel reads historical snapshots unchanged") {
    withTable { root =>
      val nation = Tables.load(spark, sf, "nation")
      LakeTable.create(spark, root, nation.filter(col("n_nationkey") < 10))
      LakeTable.append(spark, root, nation.filter(col("n_nationkey") >= 10))
      assert(LakeTable.read(spark, root, Some(1)).count() == 10)
      assert(LakeTable.read(spark, root, Some(2)).count() == 25)
      assert(LakeTable.versions(spark, root) == Seq(1, 2))
    }
  }

  test("_delta_log mirrors every commit: log-replay read == manifest read") {
    withTable { root =>
      import graft.sources.DeltaLog
      import spark.implicits._
      val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
        .toDF("id", "name", "v")
      LakeTable.create(spark, root, base)
      LakeTable.append(spark, root, Seq((4L, "d", 40.0)).toDF("id", "name", "v"))
      LakeTable.merge(spark, root,
        Seq((2L, "b2", 99.0)).toDF("id", "name", "v"), "id")
      LakeTable.deleteWhere(spark, root, col("id") === 1L)
      // one 0-based zero-padded log file per manifest version
      assert(DeltaLog.versions(spark, root) == Seq(0L, 1L, 2L, 3L))
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
        root, "_delta_log", "00000000000000000000.json")))
      // first commit carries protocol + metaData with the Spark schema
      val v0 = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root, "_delta_log",
          "00000000000000000000.json")))
      assert(v0.contains(""""protocol":{"minReaderVersion":1"""))
      assert(v0.contains(""""schemaString":""") && v0.contains("struct"))
      // the from-scratch log replay reconstructs every manifest snapshot
      for (mv <- 1 to 4) {
        val viaLog = DeltaLog.read(spark, root, Some(mv - 1L))
          .orderBy("id").collect().toSeq
        val viaManifest = LakeTable.read(spark, root, Some(mv))
          .orderBy("id").collect().toSeq
        assert(viaLog == viaManifest, s"version $mv")
      }
      // copy-on-write versions actually emit remove actions
      val v3 = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root, "_delta_log",
          "00000000000000000003.json")))
      assert(v3.contains(""""remove":{"path":"""))
    }
  }

  test("checkpoint bounds log replay: snapshots survive pruned JSON commits") {
    withTable { root =>
      import graft.sources.DeltaLog
      import spark.implicits._
      import java.nio.file.{Files, Paths}
      LakeTable.create(spark, root,
        Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
          .toDF("id", "name", "v"))
      LakeTable.append(spark, root, Seq((4L, "d", 40.0)).toDF("id", "name", "v"))
      LakeTable.merge(spark, root,
        Seq((2L, "b2", 99.0)).toDF("id", "name", "v"), "id")
      LakeTable.deleteWhere(spark, root, col("id") === 1L)
      DeltaLog.writeCheckpoint(spark, root, Some(2L))
      assert(Files.exists(Paths.get(root, "_delta_log",
        "00000000000000000002.checkpoint.parquet")))
      val lc = new String(Files.readAllBytes(
        Paths.get(root, "_delta_log", "_last_checkpoint")))
      assert(lc.contains(""""version":2"""))
      // prune every JSON commit the checkpoint covers — replay must
      // reconstruct the snapshot from checkpoint + tail alone
      for (v <- 0 to 2)
        Files.delete(Paths.get(root, "_delta_log", f"$v%020d.json"))
      for (mv <- 3 to 4) {
        val viaLog = DeltaLog.read(spark, root, Some(mv - 1L))
          .orderBy("id").collect().toSeq
        val viaManifest = LakeTable.read(spark, root, Some(mv))
          .orderBy("id").collect().toSeq
        assert(viaLog == viaManifest, s"version $mv")
      }
      // a later checkpoint bootstraps metaData from the earlier one
      // even though the version-0 commit is gone
      DeltaLog.writeCheckpoint(spark, root, Some(3L))
      assert(DeltaLog.read(spark, root, Some(3L)).orderBy("id")
        .collect().toSeq ==
        LakeTable.read(spark, root, Some(4)).orderBy("id").collect().toSeq)
    }
  }

  test("the 10th commit auto-writes a checkpoint (Delta default cadence)") {
    withTable { root =>
      import graft.sources.DeltaLog
      import spark.implicits._
      LakeTable.create(spark, root, Seq((0L, "r0")).toDF("id", "tag"))
      for (i <- 1 to 9)
        LakeTable.append(spark, root, Seq((i.toLong, s"r$i")).toDF("id", "tag"))
      // manifest v10 = delta v9 → auto checkpoint at 9
      assert(DeltaLog.checkpointVersions(spark, root) == Seq(9L))
      assert(DeltaLog.read(spark, root).count() == 10)
      // an explicit checkpoint of an older version leaves the pointer
      // at the newest one
      def lastCheckpoint = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root, "_delta_log", "_last_checkpoint")))
      assert(lastCheckpoint.contains(""""version":9"""))
      DeltaLog.writeCheckpoint(spark, root, Some(3L))
      assert(DeltaLog.checkpointVersions(spark, root) == Seq(3L, 9L))
      assert(lastCheckpoint.contains(""""version":9"""))
      assert(DeltaLog.read(spark, root).count() == 10)
    }
  }

  /** Active files (path, size, mtime) at delta version `upTo`, by
    * replaying the JSON commits 0..upTo. */
  private def replayAdds(root: String, upTo: Long): Seq[(String, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    (0L to upTo).foldLeft(Map.empty[String, (Long, Long)]) { (acc, v) =>
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(root,
          "_delta_log", f"$v%020d.json")).asScala.foldLeft(acc) { (m, line) =>
        val n = om.readTree(line)
        if (n.has("add")) {
          val a = n.get("add")
          m + (a.get("path").asText -> ((a.get("size").asLong,
            a.get("modificationTime").asLong)))
        } else if (n.has("remove")) m - n.get("remove").get("path").asText
        else m
      }
    }.toSeq.map { case (p, (size, mtime)) => (p, size, mtime) }.sorted
  }

  /** The `add` rows (path, size, mtime) of the checkpoint at `v`. */
  private def checkpointAdds(root: String, v: Long): Seq[(String, Long, Long)] =
    spark.read.parquet(java.nio.file.Paths.get(root, "_delta_log",
        f"$v%020d.checkpoint.parquet").toString)
      .where(col("add").isNotNull)
      .select("add.path", "add.size", "add.modificationTime").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted

  test("checkpoints list the manifest's files: equal to the JSON replay") {
    withTable { root =>
      import graft.sources.DeltaLog
      import spark.implicits._
      def batch(ids: Long*) = ids.map(i => (i, s"r$i")).toDF("id", "tag")
      LakeTable.create(spark, root, batch(1L, 2L, 3L))
      LakeTable.append(spark, root, batch(4L))
      LakeTable.append(spark, root, batch(5L, 6L))
      LakeTable.merge(spark, root, Seq((2L, "m2"), (7L, "m7"))
        .toDF("id", "tag"), "id")
      LakeTable.deleteWhere(spark, root, col("id") === 1L)
      LakeTable.append(spark, root, batch(8L))
      LakeTable.restore(spark, root, 3)
      LakeTable.append(spark, root, batch(9L))
      LakeTable.merge(spark, root, Seq((4L, "m4")).toDF("id", "tag"), "id")
      LakeTable.append(spark, root, batch(10L))
      // the chain really removes files and re-adds old dirs
      val log = (0 to 9).map(v => new String(java.nio.file.Files
        .readAllBytes(java.nio.file.Paths.get(root, "_delta_log",
          f"$v%020d.json"))))
      assert(log(4).contains(""""remove":{"path":""""))
      assert(log(6).contains(""""add":{"path":"""") &&
        log(6).contains(""""remove":{"path":""""))
      assert(DeltaLog.checkpointVersions(spark, root) == Seq(9L))
      assert(checkpointAdds(root, 9L) == replayAdds(root, 9L))
      assert(footerSchema(s"$root/_delta_log") ==
        org.apache.spark.sql.Encoders.product[DeltaLog.CpRow].schema)
      // an explicit checkpoint of an older version lists that version
      DeltaLog.writeCheckpoint(spark, root, Some(4L))
      assert(checkpointAdds(root, 4L) == replayAdds(root, 4L))
      assert(checkpointAdds(root, 4L) != checkpointAdds(root, 9L))
    }
  }

  test("checkpointing appends of a local batch launch no Spark job") {
    withTable { root =>
      import graft.sources.DeltaLog
      import spark.implicits._
      def batch(i: Int) = Seq((i.toLong, s"r$i")).toDF("id", "tag")
      LakeTable.create(spark, root, batch(0))
      // every 10th commit checkpoints; from the 20th on, a log replay
      // would have to read the previous checkpoint
      val jobs = (1 to 19).flatMap { i =>
        val (v, n) = jobsDuring(LakeTable.append(spark, root, batch(i)))
        if (v % DeltaLog.CheckpointInterval == 0) Some(v -> n) else None
      }
      assert(jobs == Seq(10 -> 0, 20 -> 0))
      assert(DeltaLog.checkpointVersions(spark, root) == Seq(9L, 19L))
      assert(DeltaLog.read(spark, root).count() == 20)
    }
  }

  test("create's metaData schemaString is the schema Spark reads the data as") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import spark.implicits._
    val nested = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("ts", TimestampType),
      StructField("pt", StructType(Seq(
        StructField("x", DoubleType, nullable = false),
        StructField("tags", ArrayType(StringType, containsNull = false))))),
      StructField("m", MapType(StringType, IntegerType,
        valueContainsNull = false))))
    val nestedRows = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, java.sql.Timestamp.valueOf("2024-01-02 03:04:05"),
        Row(1.5, Seq("a", "b")), Map("k" -> 1))), nested)
    val batches = Seq(
      "local" -> Seq((1L, "a", 10.0)).toDF("id", "name", "v"),
      "parquet" -> Tables.load(spark, sf, "nation"),
      "nested" -> nestedRows)
    for ((label, df) <- batches) withTable { root =>
      LakeTable.create(spark, root, df)
      val v0 = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(root,
        "_delta_log", "00000000000000000000.json"))
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val nodes = (0 until v0.size).map(i => om.readTree(v0.get(i)))
      val schemaString = nodes.find(_.has("metaData")).get
        .get("metaData").get("schemaString").asText
      val addPath = nodes.find(_.has("add")).get.get("add").get("path").asText
      val dir = new org.apache.hadoop.fs.Path(root, addPath).getParent.toString
      assert(schemaString == spark.read.parquet(dir).schema.json, label)
    }
  }

  test("merge upserts matched keys and inserts unmatched ones") {
    withTable { root =>
      import spark.implicits._
      val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
        .toDF("id", "name", "v")
      LakeTable.create(spark, root, base)
      val updates = Seq((2L, "b2", 99.0), (4L, "d", 40.0))
        .toDF("id", "name", "v")
      LakeTable.merge(spark, root, updates, "id")
      val now = LakeTable.read(spark, root).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
      assert(now == Map(
        1L -> ("a", 10.0), 2L -> ("b2", 99.0),
        3L -> ("c", 30.0), 4L -> ("d", 40.0)))
      // pre-merge snapshot is intact
      assert(LakeTable.read(spark, root, Some(1)).count() == 3)
    }
  }

  test("deleteWhere removes rows copy-on-write") {
    withTable { root =>
      val orders = Tables.load(spark, sf, "orders").limit(100)
      LakeTable.create(spark, root, orders)
      LakeTable.deleteWhere(spark, root, col("o_totalprice") > 200000)
      val left = LakeTable.read(spark, root)
      assert(left.filter(col("o_totalprice") > 200000).count() == 0)
      assert(left.count() ==
        orders.filter(!(col("o_totalprice") > 200000)).count())
    }
  }

  test("deleteWhere keeps rows where the predicate evaluates NULL") {
    withTable { root =>
      import spark.implicits._
      val base = Seq[(Long, Option[Double])](
        (1L, Some(10.0)), (2L, Some(99.0)), (3L, None))
        .toDF("id", "x")
      LakeTable.create(spark, root, base)
      // predicate is NULL for id=3 — SQL DELETE must NOT remove it
      LakeTable.deleteWhere(spark, root, col("x") > 50)
      val left = LakeTable.read(spark, root).select("id")
        .collect().map(_.getLong(0)).toSet
      assert(left == Set(1L, 3L), s"got $left")
    }
  }

  test("compaction reduces file groups, preserves rows, enables pruning sort") {
    withTable { root =>
      val orders = Tables.load(spark, sf, "orders")
      LakeTable.create(spark, root, orders.filter(col("o_orderkey") % 3 === 0))
      LakeTable.append(spark, root, orders.filter(col("o_orderkey") % 3 === 1))
      LakeTable.append(spark, root, orders.filter(col("o_orderkey") % 3 === 2))
      val before = LakeTable.read(spark, root).count()
      LakeTable.compact(spark, root, targetPartitions = 2,
        clusterBy = Some("o_custkey"))
      val after = LakeTable.read(spark, root)
      assert(after.count() == before)
      assert(after.rdd.getNumPartitions <= 2)
      // history intact
      assert(LakeTable.read(spark, root, Some(3)).count() == before)
    }
  }

  test("streaming micro-batches append as table versions") {
    withTable { root =>
      implicit val sq = spark.sqlContext
      import spark.implicits._
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val q = LakeTable.streamAppend(mem.toDF(), root)
      try {
        mem.addData((1L, "a"), (2L, "b"))
        q.processAllAvailable()
        assert(LakeTable.read(spark, root).count() == 2)
        mem.addData((3L, "c"))
        q.processAllAvailable()
        assert(LakeTable.read(spark, root).count() == 3)
        assert(LakeTable.versions(spark, root).size == 2)
      } finally q.stop()
    }
  }

  test("data skipping prunes file groups by manifest min/max stats") {
    withTable { root =>
      val orders = Tables.load(spark, sf, "orders")
      LakeTable.create(spark, root,
        orders.filter(col("o_custkey") < 50), statsCols = Seq("o_custkey"))
      LakeTable.append(spark, root,
        orders.filter(col("o_custkey").between(50, 99)),
        statsCols = Seq("o_custkey"))
      LakeTable.append(spark, root,
        orders.filter(col("o_custkey") >= 100), statsCols = Seq("o_custkey"))
      // a range inside the middle group must prune the other two
      val groups = LakeTable.selectGroups(spark, root, "o_custkey", 60, 70)
      assert(groups.size == 1, s"expected 1 group scanned, got $groups")
      val got = LakeTable.readWhere(spark, root, "o_custkey", 60, 70)
      val expect = orders.filter(col("o_custkey").between(60, 70))
      assert(got.count() == expect.count())
      // a disjoint range scans nothing
      assert(LakeTable.selectGroups(spark, root, "o_custkey", 5000, 6000).isEmpty)
      assert(LakeTable.readWhere(spark, root, "o_custkey", 5000, 6000)
        .count() == 0)
    }
  }

  test("vacuum drops old versions' files but keeps shared file groups") {
    withTable { root =>
      val nation = Tables.load(spark, sf, "nation")
      LakeTable.create(spark, root, nation.filter(col("n_nationkey") < 10)) // v1
      LakeTable.append(spark, root, nation.filter(col("n_nationkey") >= 10)) // v2 (shares v1's group)
      LakeTable.compact(spark, root, 1) // v3 (new group only)
      LakeTable.vacuum(spark, root, keepVersions = 2)
      // v1 dropped; its file group survives because v2 still references it
      assert(LakeTable.versions(spark, root) == Seq(2, 3))
      assert(LakeTable.read(spark, root, Some(2)).count() == 25)
      assert(LakeTable.read(spark, root).count() == 25)
      intercept[Exception] { LakeTable.read(spark, root, Some(1)).count() }
    }
  }

  test("additive schema evolution: old groups read new columns as null") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root, Seq((1L, "a")).toDF("id", "name"))
      LakeTable.append(spark, root,
        Seq((2L, "b", 9.5)).toDF("id", "name", "score"))
      val df = LakeTable.read(spark, root)
      assert(df.columns.toSet == Set("id", "name", "score"))
      val byId = df.collect().map(r => r.getAs[Long]("id") ->
        Option(r.getAs[Any]("score"))).toMap
      assert(byId(1L).isEmpty && byId(2L).contains(9.5))
    }
  }

  test("conflicting concurrent commit is detected, not silently clobbered") {
    withTable { root =>
      val nation = Tables.load(spark, sf, "nation")
      LakeTable.create(spark, root, nation)
      // simulate a racing writer that claims version 2 first; the loser
      // (committing the same version) must fail, not clobber
      val v2 = java.nio.file.Paths.get(root, "_versions", "v00000002.json")
      java.nio.file.Files.createDirectories(v2.getParent)
      java.nio.file.Files.writeString(v2, "data/raced-in")
      intercept[IllegalStateException] {
        LakeTable.commitVersion(spark, root, 2, Seq("data/loser"), Map.empty)
      }
      // the winner's manifest content is untouched
      assert(java.nio.file.Files.readString(v2) == "data/raced-in")
    }
  }

  test("two interleaved appenders both succeed (blind appends rebase)") {
    withTable { root =>
      import spark.implicits._
      val nation = Tables.load(spark, sf, "nation")
      LakeTable.create(spark, root, nation.filter(col("n_nationkey") < 10))
      // writer B prepares its append against v1 (data written, not yet
      // committed), then writer A wins version 2…
      val (base, dir) = LakeTable.appendPrepare(spark, root,
        nation.filter(col("n_nationkey") >= 20))
      LakeTable.append(spark, root,
        nation.filter(col("n_nationkey") >= 10 && col("n_nationkey") < 20))
      // …and B's commit collides at v2, reconciles, lands at v3 with
      // BOTH new groups in the final snapshot
      val v = LakeTable.commitAppend(spark, root, base, dir, Map.empty)
      assert(v == 3)
      assert(LakeTable.read(spark, root).count() == 25)
      assert(LakeTable.read(spark, root)
        .select("n_nationkey").as[Long].collect().sorted.toSeq == (0L to 24L))
      // history shows three commits, no clobber
      assert(LakeTable.versions(spark, root) == Seq(1, 2, 3))
    }
  }

  test("threaded appenders all land without loss") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root, Seq((0L, "seed")).toDF("id", "tag"))
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = (1 to 4).map { i =>
        new Thread(() =>
          try LakeTable.append(spark, root,
            Seq((i.toLong, s"w$i")).toDF("id", "tag"))
          catch { case t: Throwable => errs.add(t) })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty, s"appender failed: ${Option(errs.peek())}")
      assert(LakeTable.read(spark, root)
        .select("id").as[Long].collect().sorted.toSeq == (0L to 4L))
      assert(LakeTable.versions(spark, root) == (1 to 5))
    }
  }

  test("append vs non-commuting rewrite fails with a named conflict") {
    withTable { root =>
      import spark.implicits._
      import graft.sources.LakeConflictException
      LakeTable.create(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
      LakeTable.append(spark, root, Seq((3L, "c")).toDF("id", "tag"))
      // appender B prepares against v2; a compaction rewrites both
      // groups (removing B's base dirs) before B commits
      val (base, dir) = LakeTable.appendPrepare(spark, root,
        Seq((4L, "d")).toDF("id", "tag"))
      LakeTable.compact(spark, root, targetPartitions = 1)
      val e = intercept[LakeConflictException] {
        LakeTable.commitAppend(spark, root, base, dir, Map.empty)
      }
      assert(e.getMessage.contains("optimize"), e.getMessage)
      assert(e.getMessage.contains("removed"), e.getMessage)
      // the refused append leaves no orphan group and no extra version
      assert(LakeTable.read(spark, root).count() == 3)
      assert(LakeTable.versions(spark, root) == Seq(1, 2, 3))
      assert(!new java.io.File(s"$root/$dir").exists())
    }
  }

  test("file-disjoint rewrite concurrency: compactSmall and append " +
    "both commit in every interleaving; append past compactSmall " +
    "rebases deterministically") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root, Seq((1L, "a")).toDF("id", "tag"))
      LakeTable.append(spark, root, Seq((2L, "b")).toDF("id", "tag"))
      // deterministic half: appender B prepares against v2, an
      // incremental compaction wins v3 (merging B's base groups —
      // row-preserving), B rebases and commits at v4
      val (base, dir) = LakeTable.appendPrepare(spark, root,
        Seq((3L, "c")).toDF("id", "tag"))
      LakeTable.compactSmall(spark, root, minBytes = Long.MaxValue)
      val v = LakeTable.commitAppend(spark, root, base, dir, Map.empty)
      assert(v == 4)
      assert(LakeTable.read(spark, root).select("id").as[Long]
        .collect().sorted.toSeq == Seq(1L, 2L, 3L))
      // racing half: a threaded compaction and append must BOTH land,
      // whatever the interleaving (each side reconciles past the other)
      LakeTable.append(spark, root, Seq((4L, "d")).toDF("id", "tag"))
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val tCompact = new Thread(() =>
        try LakeTable.compactSmall(spark, root, minBytes = Long.MaxValue)
        catch { case t: Throwable => errs.add(t) })
      val tAppend = new Thread(() =>
        try LakeTable.append(spark, root, Seq((5L, "e")).toDF("id", "tag"))
        catch { case t: Throwable => errs.add(t) })
      tCompact.start(); tAppend.start()
      tCompact.join(); tAppend.join()
      assert(errs.isEmpty, s"concurrent writer failed: ${Option(errs.peek())}")
      assert(LakeTable.read(spark, root).select("id").as[Long]
        .collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
      val ops = LakeTable.history(spark, root).map(_._2)
      assert(ops.count(_ == "optimize-small") == 2 &&
        ops.count(_ == "append") >= 3, ops.toString)
      // overlapping rewrites still fail fast by name: a full-table
      // OPTIMIZE winner is NOT row-preserving-commutable for a
      // prepared append (whole-table rewrites stay exclusive)…
      val (b2, d2) = LakeTable.appendPrepare(spark, root,
        Seq((6L, "f")).toDF("id", "tag"))
      LakeTable.deleteWhere(spark, root, col("id") === 1L)
      val e = intercept[graft.sources.LakeConflictException] {
        LakeTable.commitAppend(spark, root, b2, d2, Map.empty)
      }
      assert(e.getMessage.contains("delete") &&
        e.getMessage.contains("removed"), e.getMessage)
      assert(!new java.io.File(s"$root/$d2").exists())
    }
  }

  test("append vs concurrently added CHECK constraint fails, names the reason") {
    withTable { root =>
      import spark.implicits._
      import graft.sources.LakeConflictException
      LakeTable.create(spark, root, Seq((1L, 5L)).toDF("id", "qty"))
      // B validates its rows against v1 (no constraints yet)…
      val (base, dir) = LakeTable.appendPrepare(spark, root,
        Seq((2L, -1L)).toDF("id", "qty"))
      // …then a constraint B's rows were never checked against commits
      LakeTable.addCheckConstraint(spark, root, "qty_pos", "qty > 0")
      val e = intercept[LakeConflictException] {
        LakeTable.commitAppend(spark, root, base, dir, Map.empty)
      }
      assert(e.getMessage.contains("CHECK"), e.getMessage)
      assert(LakeTable.read(spark, root).count() == 1)
    }
  }

  test("renameColumn: metadata-only mapping — read, append, time " +
    "travel, CDC, and COW materialization") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root,
        Seq((1L, 10L), (2L, 20L)).toDF("id", "amount"))
      val dirsV1 = LakeTable.dataDirPaths(spark, root)
      // metadata-only: same file groups, new version, logical shape
      val v2 = LakeTable.renameColumn(spark, root, "amount", "price")
      assert(v2 == 2 && LakeTable.dataDirPaths(spark, root) == dirsV1)
      assert(LakeTable.read(spark, root).columns.toSeq == Seq("id", "price"))
      assert(LakeTable.read(spark, root).select(sum(col("price")))
        .head().getLong(0) == 30L)
      // history keeps its shape: v1 still reads the OLD name
      assert(LakeTable.read(spark, root, Some(1)).columns.toSeq ==
        Seq("id", "amount"))
      // appends arrive in LOGICAL names; on-disk schema stays physical
      LakeTable.append(spark, root, Seq((3L, 30L)).toDF("id", "price"))
      assert(LakeTable.read(spark, root).select(sum(col("price")))
        .head().getLong(0) == 60L)
      val physCols = spark.read.option("mergeSchema", "true")
        .parquet(LakeTable.dataDirPaths(spark, root): _*).columns.toSeq
      assert(physCols == Seq("id", "amount"),
        s"appended group broke the shared physical schema: $physCols")
      // rename chain collapses: price -> cost still maps from 'amount'
      LakeTable.renameColumn(spark, root, "price", "cost")
      assert(LakeTable.read(spark, root).columns.toSeq == Seq("id", "cost"))
      // CDC emits the TO version's logical shape on both sides of the
      // window (v3 is the append commit — the name was 'price' there)
      val ch = LakeTable.changes(spark, root, 1, 3, "id")
      assert(ch.columns.contains("price") && !ch.columns.contains("amount"))
      assert(ch.filter(col("_change_type") === "insert").count() == 1)
      // COW delete materializes logical names and DROPS the mapping
      LakeTable.deleteWhere(spark, root, col("id") === 1L)
      assert(LakeTable.read(spark, root).columns.toSeq == Seq("id", "cost"))
      val physAfter = spark.read.option("mergeSchema", "true")
        .parquet(LakeTable.dataDirPaths(spark, root): _*).columns.toSeq
      assert(physAfter == Seq("id", "cost"),
        "COW rewrite did not bake logical names into the files")
      assert(LakeTable.read(spark, root).count() == 2)
    }
  }

  test("renameColumn: refusals and post-rename feature gates") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root,
        Seq((1L, 10L, 5L)).toDF("id", "amount", "qty"))
      LakeTable.indexBloom(spark, root, Seq("id"))
      LakeTable.addCheckConstraint(spark, root, "qty_pos", "qty > 0")
      // refused: bloom-indexed and check-referenced columns
      intercept[UnsupportedOperationException] {
        LakeTable.renameColumn(spark, root, "id", "key")
      }
      intercept[UnsupportedOperationException] {
        LakeTable.renameColumn(spark, root, "qty", "quantity")
      }
      // collisions and unknowns
      intercept[IllegalArgumentException] {
        LakeTable.renameColumn(spark, root, "amount", "qty")
      }
      intercept[IllegalArgumentException] {
        LakeTable.renameColumn(spark, root, "nope", "x")
      }
      // a clean column renames; new sidecars on it are then gated
      LakeTable.renameColumn(spark, root, "amount", "price")
      intercept[UnsupportedOperationException] {
        LakeTable.indexBloom(spark, root, Seq("price"))
      }
      // constraints added AFTER the rename bind immediately (they
      // evaluate on logical frames) — a violating append is refused
      LakeTable.addCheckConstraint(spark, root, "price_pos", "price > 0")
      intercept[IllegalArgumentException] {
        LakeTable.append(spark, root,
          Seq((9L, -1L, 1L)).toDF("id", "price", "qty"))
      }
      // DSv2 raw delegate fails fast instead of exposing physical names
      intercept[UnsupportedOperationException] {
        spark.read.format("graft-lake").load(root).collect()
      }
      // compact materializes: mapping cleared, everything ungated
      LakeTable.compact(spark, root, 1)
      assert(spark.read.format("graft-lake").load(root)
        .columns.toSeq == Seq("id", "price", "qty"))
      LakeTable.indexBloom(spark, root, Seq("price"))
      assert(LakeTable.readWhereEq(spark, root, "price", 10L).count() == 1)
    }
  }

  test("partitioned table: per-value groups, exact pruning, replaceWhere " +
    "containment, compactSmall within partitions") {
    withTable { root =>
      import spark.implicits._
      LakeTable.createPartitioned(spark, root,
        Seq((1L, 10L, 100L), (2L, 10L, 200L), (3L, 20L, 300L),
          (4L, 30L, 400L)).toDF("id", "bucket", "cents"), "bucket")
      assert(LakeTable.dataDirPaths(spark, root).size == 3)
      // exact equality pruning: one group per value
      assert(LakeTable.selectGroupsEq(spark, root, "bucket", 10L).size == 1)
      assert(LakeTable.readWhereEq(spark, root, "bucket", 10L).count() == 2)
      // numeric partition values prune range probes by containment
      assert(LakeTable.selectGroups(spark, root, "bucket", 15, 25).size == 1)
      // null partition keys refused before any byte lands
      intercept[IllegalArgumentException] {
        LakeTable.append(spark, root,
          Seq((9L, Option.empty[Long], 900L)).toDF("id", "bucket", "cents"))
      }
      // float keys refused; partition column protected from rename/drop
      intercept[IllegalArgumentException] {
        LakeTable.createPartitioned(spark, s"$root/f2",
          Seq((1L, 1.5)).toDF("id", "price"), "price")
      }
      intercept[UnsupportedOperationException] {
        LakeTable.renameColumn(spark, root, "bucket", "b2")
      }
      intercept[UnsupportedOperationException] {
        LakeTable.dropColumn(spark, root, "bucket")
      }
      // replaceWhere on the partition column: the in-band group is
      // PROVEN whole by its recorded value (replaced with no survivor
      // scan); the other partitions' groups carry byte-identical
      val dirsBefore = LakeTable.dataDirPaths(spark, root).toSet
      LakeTable.overwriteWhere(spark, root,
        Seq((1L, 10L, 111L), (2L, 10L, 222L)).toDF("id", "bucket", "cents"),
        "bucket", 10, 10)
      val dirsAfter = LakeTable.dataDirPaths(spark, root).toSet
      assert((dirsBefore intersect dirsAfter).size == 2,
        s"untouched partitions not carried: $dirsBefore vs $dirsAfter")
      assert(LakeTable.read(spark, root).agg(sum(col("cents")))
        .head().getLong(0) == 111L + 222L + 300L + 400L)
      // compactSmall merges small groups WITHIN a partition value only
      LakeTable.append(spark, root,
        Seq((5L, 20L, 500L)).toDF("id", "bucket", "cents"))
      LakeTable.append(spark, root,
        Seq((6L, 30L, 600L)).toDF("id", "bucket", "cents"))
      assert(LakeTable.dataDirPaths(spark, root).size == 5)
      LakeTable.compactSmall(spark, root, minBytes = 1L << 30)
      // buckets 20 and 30 each merged 2→1; bucket 10's lone group kept
      assert(LakeTable.dataDirPaths(spark, root).size == 3)
      assert(LakeTable.selectGroupsEq(spark, root, "bucket", 20L).size == 1)
      assert(LakeTable.readWhereEq(spark, root, "bucket", 20L)
        .agg(sum(col("cents"))).head().getLong(0) == 300L + 500L)
      assert(LakeTable.readWhereEq(spark, root, "bucket", 30L)
        .agg(sum(col("cents"))).head().getLong(0) == 400L + 600L)
      // the whole table still reads complete
      assert(LakeTable.read(spark, root).count() == 6)
    }
  }

  test("partition pruning property: probes equal the unpruned filter " +
    "under random maintenance (string and long keys, 6 seeds)") {
    import spark.implicits._
    def check(root: String, pc: String, values: Seq[Any]): Unit = {
      val full = LakeTable.read(spark, root)
      values.foreach { v =>
        val exp = full.filter(col(pc) === lit(v)).select(col("id"))
          .as[Long].collect().sorted.toSeq
        val got = LakeTable.readWhereEq(spark, root, pc, v)
          .select(col("id")).as[Long].collect().sorted.toSeq
        assert(got == exp,
          s"$pc=$v: pruned read returned $got, full filter $exp")
      }
    }
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(100 + seed)
      // STRING keys, including '=' and non-ASCII (manifest round-trip
      // hazards) and a digit-string that must not match the long 10
      withTable { root =>
        val vocab = Seq("emea", "apac", "x=1", "söz", "10")
        var nextId = 0L
        def batch(k: Int) = (1 to k).map { _ =>
          nextId += 1
          (nextId, vocab(rnd.nextInt(vocab.size)), rnd.nextInt(500).toLong)
        }.toDF("id", "region", "cents")
        LakeTable.createPartitioned(spark, root, batch(8), "region")
        for (_ <- 1 to 3) {
          rnd.nextInt(3) match {
            case 1 => LakeTable.compactSmall(spark, root, Long.MaxValue)
            case _ => LakeTable.append(spark, root,
              batch(1 + rnd.nextInt(4)))
          }
          check(root, "region", vocab :+ "nope")
        }
        // edge-whitespace partition keys are refused loudly (the
        // manifest reader trims lines — a trimmed round-trip would
        // silently prune the group)
        intercept[IllegalArgumentException] {
          LakeTable.append(spark, root,
            Seq((999L, "sp ", 1L)).toDF("id", "region", "cents"))
        }
      }
      // LONG keys with a replaceWhere round
      withTable { root =>
        val vocab = Seq(1L, 2L, 10L, 0L)
        var nextId = 0L
        def batch(k: Int) = (1 to k).map { _ =>
          nextId += 1
          (nextId, vocab(rnd.nextInt(vocab.size)), rnd.nextInt(500).toLong)
        }.toDF("id", "bucket", "cents")
        LakeTable.createPartitioned(spark, root, batch(8), "bucket",
          Seq("cents"))
        LakeTable.append(spark, root, batch(4))
        val tgt = vocab(rnd.nextInt(vocab.size))
        val rep = { nextId += 1; Seq((nextId, tgt, 7L)) }
          .toDF("id", "bucket", "cents")
        LakeTable.overwriteWhere(spark, root, rep, "bucket",
          tgt.toDouble, tgt.toDouble)
        check(root, "bucket", vocab :+ 99L)
        LakeTable.compactSmall(spark, root, Long.MaxValue)
        check(root, "bucket", vocab :+ 99L)
      }
      // TWO keys (string × long): subset probes on EITHER column must
      // equal the unpruned filter through appends and compaction, and
      // a single-column equality probe must scan exactly the groups
      // whose tuple component matches
      withTable { root =>
        val regions = Seq("emea", "apac")
        val buckets = Seq(1L, 2L, 10L)
        var nextId = 0L
        def batch(k: Int) = (1 to k).map { _ =>
          nextId += 1
          (nextId, regions(rnd.nextInt(regions.size)),
            buckets(rnd.nextInt(buckets.size)), rnd.nextInt(500).toLong)
        }.toDF("id", "region", "bucket", "cents")
        LakeTable.createPartitioned(spark, root, batch(12),
          Seq("region", "bucket"), Nil)
        for (_ <- 1 to 3) {
          rnd.nextInt(3) match {
            case 1 => LakeTable.compactSmall(spark, root, Long.MaxValue)
            case _ => LakeTable.append(spark, root,
              batch(1 + rnd.nextInt(4)))
          }
          check(root, "region", regions :+ "nope")
          check(root, "bucket", buckets :+ 99L)
          // exact group accounting: an equality probe on ONE column
          // scans exactly the groups whose component matches
          val full = LakeTable.read(spark, root)
          regions.foreach { r =>
            val want = full.filter(col("region") === r)
              .select(col("bucket")).distinct().count()
            val got = LakeTable.selectGroupsEq(spark, root, "region", r)
            // ≥ want groups exist (appends add one group per tuple per
            // batch; compaction merges within a tuple), but every
            // scanned group must really hold the region
            assert(got.size >= want.toInt || want == 0,
              s"region=$r scanned ${got.size} < $want tuple groups")
            val meta = graft.sources.LakeTable.manifestMetaAt(spark, root,
              LakeTable.versions(spark, root).last)
            got.foreach { d =>
              assert(graft.sources.LakeTable.partValFor(meta, d, "region")
                .contains(r), s"group $d scanned for region=$r but holds " +
                  graft.sources.LakeTable.partValFor(meta, d, "region"))
            }
          }
        }
        // a batch missing one of the two partition columns refuses
        intercept[IllegalArgumentException] {
          LakeTable.append(spark, root,
            Seq((999L, "emea", 1L)).toDF("id", "region", "cents"))
        }
      }
    }
  }

  test("rename gates: readWhere projects the colmap, UNIQUE on a renamed " +
    "column is refused, and a refused stats-append leaves no orphan") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root,
        Seq((1L, 10L, 5L), (2L, 20L, 6L)).toDF("id", "amount", "qty"),
        statsCols = Seq("id"))
      LakeTable.renameColumn(spark, root, "amount", "price")
      LakeTable.dropColumn(spark, root, "qty")
      // readWhere on an UNRENAMED stats column must still return the
      // LOGICAL shape: renamed column resolved, dropped column absent
      val got = LakeTable.readWhere(spark, root, "id", 1, 2)
      assert(got.columns.toSeq == Seq("id", "price"),
        s"readWhere leaked physical/dropped columns: ${got.columns.toSeq}")
      assert(got.select(sum(col("price"))).head().getLong(0) == 30L)
      // filtering BY the renamed column: no stat keys match (no
      // pruning), but the logical name must resolve and filter
      val byRenamed = LakeTable.readWhere(spark, root, "price", 15, 25)
      assert(byRenamed.count() == 1 &&
        byRenamed.head().getAs[Long]("price") == 20L)
      // UNIQUE on a renamed column refused up front (the rebase path
      // reads winner groups raw and would throw past the conflict
      // handler otherwise)
      intercept[UnsupportedOperationException] {
        LakeTable.addUniqueConstraint(spark, root, "u_price", "price")
      }
      // an append refused for a renamed STATS column must leave no
      // orphaned data dir (fail-fast before any byte lands)
      val dataDirs = (r: String) => {
        val d = new java.io.File(r, "data")
        if (d.exists()) d.listFiles().count(_.isDirectory) else 0
      }
      val before = dataDirs(root)
      intercept[UnsupportedOperationException] {
        LakeTable.append(spark, root,
          Seq((3L, 30L)).toDF("id", "price"), statsCols = Seq("price"))
      }
      assert(dataDirs(root) == before,
        "refused append orphaned a prepared data dir")
      assert(LakeTable.read(spark, root).count() == 2)
    }
  }

  test("dropColumn: metadata-only drop — read, time travel, guards, " +
    "COW materialization") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root,
        Seq((1L, 10L, 5L), (2L, 20L, 6L)).toDF("id", "amount", "qty"))
      val dirsV1 = LakeTable.dataDirPaths(spark, root)
      val v2 = LakeTable.dropColumn(spark, root, "qty")
      assert(v2 == 2 && LakeTable.dataDirPaths(spark, root) == dirsV1)
      assert(LakeTable.read(spark, root).columns.toSeq == Seq("id", "amount"))
      // history keeps its shape
      assert(LakeTable.read(spark, root, Some(1)).columns.toSeq ==
        Seq("id", "amount", "qty"))
      // appends without the dropped column work; naming it is refused
      LakeTable.append(spark, root, Seq((3L, 30L)).toDF("id", "amount"))
      assert(LakeTable.read(spark, root).count() == 3)
      intercept[IllegalArgumentException] {
        LakeTable.append(spark, root,
          Seq((4L, 40L, 7L)).toDF("id", "amount", "qty"))
      }
      // re-adding the dropped name is refused until a rewrite
      intercept[IllegalArgumentException] {
        LakeTable.evolveSchema(spark, root,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("qty",
              org.apache.spark.sql.types.LongType))))
      }
      // drop composes with rename: amount -> price, then drop price
      // removes the PHYSICAL 'amount' and its mapping entry
      LakeTable.renameColumn(spark, root, "amount", "price")
      LakeTable.dropColumn(spark, root, "price")
      assert(LakeTable.read(spark, root).columns.toSeq == Seq("id"))
      // last column is protected
      intercept[IllegalArgumentException] {
        LakeTable.dropColumn(spark, root, "id")
      }
      // DSv2 raw delegate gated; COW compact materializes and ungates
      intercept[UnsupportedOperationException] {
        spark.read.format("graft-lake").load(root).collect()
      }
      LakeTable.compact(spark, root, 1)
      assert(spark.read.option("mergeSchema", "true")
        .parquet(LakeTable.dataDirPaths(spark, root): _*)
        .columns.toSeq == Seq("id"),
        "compact did not narrow the physical schema")
      assert(spark.read.format("graft-lake").load(root)
        .columns.toSeq == Seq("id"))
      assert(LakeTable.read(spark, root).count() == 3)
    }
  }

  test("UNIQUE constraint: admission on append/merge, null exemption, " +
    "concurrent-append collision") {
    withTable { root =>
      import spark.implicits._
      import graft.sources.LakeConflictException
      LakeTable.create(spark, root,
        Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
      // refused while existing rows violate it
      LakeTable.append(spark, root, Seq((2L, "dup")).toDF("id", "tag"))
      intercept[IllegalArgumentException] {
        LakeTable.addUniqueConstraint(spark, root, "pk", "id")
      }
      LakeTable.deleteWhere(spark, root, col("tag") === "dup")
      LakeTable.addUniqueConstraint(spark, root, "pk", "id")
      // batch-internal duplicate and table collision both refused;
      // nothing publishes
      val vNow = LakeTable.versions(spark, root).last
      intercept[IllegalArgumentException] {
        LakeTable.append(spark, root,
          Seq((3L, "x"), (3L, "y")).toDF("id", "tag"))
      }
      intercept[IllegalArgumentException] {
        LakeTable.append(spark, root, Seq((1L, "again")).toDF("id", "tag"))
      }
      assert(LakeTable.versions(spark, root).last == vNow)
      assert(LakeTable.read(spark, root).count() == 2)
      // clean append passes; NULL keys are exempt (two nulls fine)
      LakeTable.append(spark, root, Seq((3L, "c")).toDF("id", "tag"))
      LakeTable.append(spark, root,
        Seq[(Option[Long], String)]((None, "n1")).toDF("id", "tag"))
      LakeTable.append(spark, root,
        Seq[(Option[Long], String)]((None, "n2")).toDF("id", "tag"))
      assert(LakeTable.read(spark, root).count() == 5)
      // merge keyed ON the unique column is the upsert path
      LakeTable.merge(spark, root, Seq((3L, "c2")).toDF("id", "tag"), "id")
      assert(LakeTable.read(spark, root)
        .filter(col("id") === 3L).head().getString(1) == "c2")
      // merge keyed on ANOTHER column that would duplicate ids refuses
      intercept[IllegalArgumentException] {
        LakeTable.merge(spark, root,
          Seq((1L, "smuggled")).toDF("id", "tag"), "tag")
      }
      // two racing appends with the SAME new key: the loser's rebase
      // re-validates against the winner's rows and conflicts by name
      val (base, dir) = LakeTable.appendPrepare(spark, root,
        Seq((77L, "w2")).toDF("id", "tag"))
      LakeTable.append(spark, root, Seq((77L, "w1")).toDF("id", "tag"))
      val e = intercept[LakeConflictException] {
        LakeTable.commitAppend(spark, root, base, dir, Map.empty)
      }
      assert(e.getMessage.contains("UNIQUE"), e.getMessage)
      assert(!new java.io.File(s"$root/$dir").exists())
      // a racing append with a DIFFERENT key still rebases fine
      val (b2, d2) = LakeTable.appendPrepare(spark, root,
        Seq((88L, "ok")).toDF("id", "tag"))
      LakeTable.append(spark, root, Seq((99L, "other")).toDF("id", "tag"))
      LakeTable.commitAppend(spark, root, b2, d2, Map.empty)
      assert(LakeTable.read(spark, root)
        .filter(col("id").isin(77L, 88L, 99L)).count() == 3)
    }
  }

  test("HLL sidecar index: metadata-only, incremental, hybrid " +
    "estimate, MOR fail-fast") {
    withTable { root =>
      import graft.sources.LakeHllIndex
      import spark.implicits._
      val rows = (0L until 400L).map(i => (i, i % 100)).toDF("id", "grp")
      LakeTable.create(spark, root, rows.filter(col("id") < 300))
      val dirsV1 = LakeTable.dataDirPaths(spark, root)
      val v2 = LakeHllIndex.indexHll(spark, root, Seq("id", "grp"))
      assert(v2 == 2 && LakeTable.dataDirPaths(spark, root) == dirsV1)
      // committed-only estimate: within 5% of exact
      val est1 = LakeHllIndex.approxDistinct(spark, root, "id")
      assert(math.abs(est1 - 300L) <= 15, s"est1=$est1")
      assert(LakeHllIndex.approxDistinct(spark, root, "grp") == 100L ||
        math.abs(LakeHllIndex.approxDistinct(spark, root, "grp") - 100L)
          <= 5)
      // append: new group is uncovered, hybrid estimate counts it live
      LakeTable.append(spark, root, rows.filter(col("id") >= 300))
      val (cov1, open1) = LakeHllIndex.coverage(spark, root, "id")
      assert(cov1.size == 1 && open1.size == 1)
      val est2 = LakeHllIndex.approxDistinct(spark, root, "id")
      assert(math.abs(est2 - 400L) <= 20, s"est2=$est2")
      // incremental re-index: old sidecars byte-untouched, one new
      val before = indexFiles(root)
      LakeHllIndex.indexHll(spark, root, Seq("id", "grp"))
      val after = indexFiles(root)
      assert(before.forall { case (f, sig) => after.get(f).contains(sig) })
      assert(LakeHllIndex.coverage(spark, root, "id")._2.isEmpty)
      val est3 = LakeHllIndex.approxDistinct(spark, root, "id")
      assert(math.abs(est3 - 400L) <= 20, s"est3=$est3")
      // complete index is a version no-op
      val vNow = LakeTable.versions(spark, root).last
      assert(LakeHllIndex.indexHll(spark, root, Seq("id", "grp")) == vNow)
      // sketches cannot subtract: MOR deletes fail fast; materializing
      // restores service (rewrite drops entries with the dirs — the
      // next index run rebuilds)
      LakeTable.deleteWhereMor(spark, root, col("id") < 100L, "id")
      intercept[UnsupportedOperationException] {
        LakeHllIndex.approxDistinct(spark, root, "id")
      }
      LakeTable.rewriteDeletes(spark, root)
      LakeHllIndex.indexHll(spark, root, Seq("id"))
      val est4 = LakeHllIndex.approxDistinct(spark, root, "id")
      assert(math.abs(est4 - 300L) <= 15, s"est4=$est4")
    }
  }

  test("generated columns: omitted batches materialize, carried " +
    "mismatches refuse whole, expression inputs are rename-protected") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root,
        Seq((1L, 100L, 110L)).toDF("id", "cents", "gross"))
      LakeTable.setGeneratedColumn(spark, root, "gross", "cents + 10")
      // a rule existing rows violate is refused at declaration
      intercept[IllegalArgumentException] {
        LakeTable.setGeneratedColumn(spark, root, "id", "cents")
      }
      // append omitting the column materializes the expression
      LakeTable.append(spark, root, Seq((2L, 200L)).toDF("id", "cents"))
      assert(LakeTable.read(spark, root).filter(col("id") === 2L)
        .head().getAs[Long]("gross") == 210L)
      // carried-and-matching passes; a mismatch refuses the whole batch
      LakeTable.append(spark, root,
        Seq((3L, 300L, 310L)).toDF("id", "cents", "gross"))
      intercept[IllegalArgumentException] {
        LakeTable.append(spark, root,
          Seq((4L, 400L, 999L)).toDF("id", "cents", "gross"))
      }
      assert(LakeTable.read(spark, root).count() == 3)
      // the generated column AND the expression's input are protected
      intercept[UnsupportedOperationException] {
        LakeTable.renameColumn(spark, root, "cents", "c2")
      }
      intercept[UnsupportedOperationException] {
        LakeTable.renameColumn(spark, root, "gross", "g2")
      }
      // an unreferenced column still renames freely
      LakeTable.renameColumn(spark, root, "id", "key")
      // DEFAULT and GENERATED are mutually exclusive, both directions
      intercept[IllegalArgumentException] {
        LakeTable.setColumnDefault(spark, root, "gross", "0")
      }
      val root2 = s"$root/t2"
      LakeTable.create(spark, root2, Seq((1L, 5L)).toDF("a", "b"))
      LakeTable.setColumnDefault(spark, root2, "b", "7")
      intercept[IllegalArgumentException] {
        LakeTable.setGeneratedColumn(spark, root2, "b", "a + 1")
      }
    }
  }

  test("KLL sidecar index: metadata-only, incremental, hybrid " +
    "quantiles, compactSmall keeps covered groups, MOR fail-fast") {
    withTable { root =>
      import graft.sources.LakeKllIndex
      import spark.implicits._
      // values 1..1000: exact quantiles are knowable (p50=500, p90=900)
      val rows = (1L to 1000L).map(i => (i, i * 10)).toDF("id", "v")
      LakeTable.create(spark, root, rows.filter(col("id") <= 600))
      val dirsV1 = LakeTable.dataDirPaths(spark, root)
      val v2 = LakeKllIndex.indexKll(spark, root, Seq("v"))
      assert(v2 == 2 && LakeTable.dataDirPaths(spark, root) == dirsV1)
      // committed-only estimate: k=200 rank error ~1.65% → ±2% slack
      val Seq(p50a) = LakeKllIndex.approxQuantiles(spark, root, "v", Seq(0.5))
      assert(math.abs(p50a - 3000.0) <= 150, s"p50a=$p50a")
      // append: new group uncovered, hybrid merges sidecar + live scan
      LakeTable.append(spark, root, rows.filter(col("id") > 600))
      val (cov1, open1) = LakeKllIndex.coverage(spark, root, "v")
      assert(cov1.size == 1 && open1.size == 1)
      val Seq(p50b, p90b) =
        LakeKllIndex.approxQuantiles(spark, root, "v", Seq(0.5, 0.9))
      assert(math.abs(p50b - 5000.0) <= 250, s"p50b=$p50b")
      assert(math.abs(p90b - 9000.0) <= 450, s"p90b=$p90b")
      // incremental re-index: old sidecar byte-untouched, one new
      val before = indexFiles(root)
      LakeKllIndex.indexKll(spark, root, Seq("v"))
      val after = indexFiles(root)
      assert(before.forall { case (f, sig) => after.get(f).contains(sig) })
      assert(LakeKllIndex.coverage(spark, root, "v")._2.isEmpty)
      // complete index is a version no-op
      val vNow = LakeTable.versions(spark, root).last
      assert(LakeKllIndex.indexKll(spark, root, Seq("v")) == vNow)
      // compactSmall drops merged groups' entries with the dirs;
      // re-index covers the merged group, estimate stays sane
      LakeTable.compactSmall(spark, root, minBytes = Long.MaxValue)
      LakeKllIndex.indexKll(spark, root, Seq("v"))
      val Seq(p50c) = LakeKllIndex.approxQuantiles(spark, root, "v", Seq(0.5))
      assert(math.abs(p50c - 5000.0) <= 250, s"p50c=$p50c")
      // sketches cannot subtract: MOR deletes fail fast; materializing
      // restores service
      LakeTable.deleteWhereMor(spark, root, col("id") <= 500L, "id")
      intercept[UnsupportedOperationException] {
        LakeKllIndex.approxQuantiles(spark, root, "v", Seq(0.5))
      }
      LakeTable.rewriteDeletes(spark, root)
      LakeKllIndex.indexKll(spark, root, Seq("v"))
      val Seq(p50d) = LakeKllIndex.approxQuantiles(spark, root, "v", Seq(0.5))
      assert(math.abs(p50d - 7500.0) <= 300, s"p50d=$p50d")
      // bad rank refused
      intercept[IllegalArgumentException] {
        LakeKllIndex.approxQuantiles(spark, root, "v", Seq(1.5))
      }
    }
  }

  test("evolveSchema carries MOR delete state (resurrection regression)") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root,
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "tag"))
      LakeTable.deleteWhereMor(spark, root, col("id") === 2L, "id")
      assert(LakeTable.read(spark, root).count() == 2)
      // the ALTER is metadata-only over the same dirs — the delete
      // list must survive it (it once didn't: only stat:* was carried)
      LakeTable.evolveSchema(spark, root,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("note",
            org.apache.spark.sql.types.StringType))))
      val after = LakeTable.read(spark, root)
      assert(after.columns.toSeq == Seq("id", "tag", "note"))
      assert(after.count() == 2,
        "ALTER ADD COLUMNS resurrected merge-on-read deleted rows")
    }
  }

  test("crash between data write and commit leaves table readable") {
    withTable { root =>
      val nation = Tables.load(spark, sf, "nation")
      LakeTable.create(spark, root, nation)
      // simulate an uncommitted writer: orphan data dir, no manifest
      nation.limit(1).write.parquet(s"$root/data/orphan-uuid")
      assert(LakeTable.read(spark, root).count() == 25)
      assert(LakeTable.versions(spark, root) == Seq(1))
    }
  }

  test("restore re-references old file groups; history logs operations") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
      LakeTable.append(spark, root, Seq((3L, "c")).toDF("id", "s"))
      LakeTable.deleteWhere(spark, root, col("id") === 1L)
      LakeTable.restore(spark, root, 2)
      // restored state == v2; intermediate history untouched
      assert(LakeTable.read(spark, root).count() == 3)
      assert(LakeTable.read(spark, root, Some(3)).count() == 2)
      // metadata-only: v4 references v2's groups, no new data dirs
      assert(LakeTable.dataDirPaths(spark, root, Some(4)).toSet ==
        LakeTable.dataDirPaths(spark, root, Some(2)).toSet)
      assert(LakeTable.history(spark, root).map(h => (h._1, h._2)) ==
        Seq((1, "create"), (2, "append"), (3, "delete"), (4, "restore")))
    }
  }

  test("changes tags inserts, updates (pre+post), and deletes exactly") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root,
        Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
          .toDF("id", "name", "v"))
      // v2: delete id=3, update id=2, insert id=4 (all in one merge+delete)
      LakeTable.deleteWhere(spark, root, col("id") === 3L)
      LakeTable.merge(spark, root,
        Seq((2L, "b", 99.0), (4L, "d", 40.0)).toDF("id", "name", "v"), "id")
      val tags = LakeTable.changes(spark, root, 1, 3, "id")
        .select(col("id"), col("_change_type")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(tags == Set(
        (3L, "delete"),
        (2L, "update_preimage"), (2L, "update_postimage"),
        (4L, "insert")))
      // pre/post images carry the right content
      val post = LakeTable.changes(spark, root, 1, 3, "id")
        .filter(col("_change_type") === "update_postimage")
        .select(col("v")).head().getDouble(0)
      assert(post == 99.0)
    }
  }

  test("changes over a pure append reads only the appended file group") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root, Seq((1L, "a")).toDF("id", "name"))
      LakeTable.append(spark, root, Seq((2L, "b")).toDF("id", "name"))
      val cdc = LakeTable.changes(spark, root, 1, 2, "id")
      // result: one insert, nothing else
      assert(cdc.collect().map(r =>
        (r.getLong(0), r.getString(2))).toSet == Set((2L, "insert")))
      // metadata pruning: the scanned files are only the diff dirs (the
      // shared v1 group never enters the plan)
      val scanned = cdc.queryExecution.executedPlan.collectLeaves()
        .flatMap {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.relation.location.inputFiles
          case _ => Nil
        }.toSet
      val v1Dirs = LakeTable.dataDirPaths(spark, root, Some(1)).toSet
      assert(scanned.forall(p => !v1Dirs.exists(p.startsWith)),
        s"CDC scan touched an unchanged file group: $scanned")
      // the feed's sides are dv-reader scans: together they admit the
      // appended group alone
      val dvScans = graft.sources.GraftDvScanMetrics.scans(
        cdc.queryExecution.executedPlan)
      assert(dvScans.map(_.metrics(
        graft.sources.GraftDvScanMetrics.GroupsAdmitted).value).sum == 1,
        cdc.queryExecution.executedPlan)
    }
  }

  test("changes across an equality delete, dv updates and deletes, a " +
    "RENAME COLUMN and an ADD COLUMNS equals a model snapshot diff") {
    withTable { root =>
      LakeTable.create(spark, root, spark.range(0, 30, 1, 2).select(
        col("id"), format_string("t%d", col("id")).as("tag"),
        (col("id") * 10L).as("v")))
      LakeTable.deleteWhereMor(spark, root, col("id").isin(3L, 4L), "id") // 2
      LakeTable.updateWhereMor(spark, root, col("id") === 7L,
        Map("v" -> lit(700L)))                                           // 3
      LakeTable.evolveSchema(spark, root,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("extra",
            org.apache.spark.sql.types.LongType))))                       // 4
      LakeTable.append(spark, root, spark.range(30, 32).select(col("id"),
        format_string("t%d", col("id")).as("tag"),
        (col("id") * 10L).as("v"), lit(1L).as("extra")))                 // 5
      LakeTable.updateWhereMor(spark, root, col("id") === 12L,
        Map("extra" -> lit(5L)))                                          // 6
      LakeTable.deleteWhereDv(spark, root, col("id") === 9L)              // 7
      LakeTable.renameColumn(spark, root, "tag", "label")                 // 8
      LakeTable.deleteWhereMor(spark, root, col("id") === 15L, "id")      // 9
      LakeTable.append(spark, root, spark.range(32, 33).select(col("id"),
        format_string("t%d", col("id")).as("label"),
        (col("id") * 10L).as("v"), lit(2L).as("extra")))                 // 10
      assert(LakeTable.versions(spark, root).last == 10)
      // the model: both snapshots read whole, the older one under the
      // newer one's names (tag was renamed label; extra is null before
      // it existed), diffed as multisets and classified by id
      def rowsAt(v: Int, names: Seq[String]): Seq[Seq[Any]] = {
        val df = LakeTable.read(spark, root, Some(v))
        val cols = df.columns.toSeq
        df.collect().toSeq.map { r =>
          names.map { n =>
            val from = if (n == "label" && !cols.contains(n)) "tag" else n
            if (cols.contains(from)) r.get(cols.indexOf(from)) else null
          }
        }
      }
      def model(a: Int, b: Int): Seq[String] = {
        val names = LakeTable.read(spark, root, Some(b)).columns.toSeq
        val net = (rowsAt(b, names).map(_ -> 1) ++ rowsAt(a, names).map(_ -> -1))
          .groupBy(_._1).map { case (r, xs) => r -> xs.map(_._2).sum }
          .filter(_._2 != 0)
        val byId = net.groupBy(_._1.head)
        net.toSeq.flatMap { case (r, n) =>
          val both = byId(r.head).exists(_._2 > 0) && byId(r.head).exists(_._2 < 0)
          val tag =
            if (n > 0) (if (both) "update_postimage" else "insert")
            else if (both) "update_preimage" else "delete"
          Seq.fill(math.abs(n))((r :+ tag).mkString("|"))
        }.sorted
      }
      Seq(1 -> 2, 2 -> 3, 3 -> 5, 4 -> 6, 1 -> 7, 6 -> 8, 7 -> 9, 1 -> 10,
          5 -> 10, 8 -> 10).foreach { case (a, b) =>
        val feed = LakeTable.changes(spark, root, a, b, "id")
        assert(feed.columns.toSeq ==
          LakeTable.read(spark, root, Some(b)).columns.toSeq :+ "_change_type")
        assert(feed.collect().map(_.toSeq.mkString("|")).toSeq.sorted ==
          model(a, b), s"changes($a, $b)")
      }
    }
  }

  test("streamMerge upserts per batch and skips replayed batch ids") {
    withTable { root =>
      implicit val sq = spark.sqlContext
      import spark.implicits._
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Double)]
      val q = LakeTable.streamMerge(
        mem.toDF().toDF("id", "v"), root, "id")
      try {
        mem.addData((1L, 1.0), (2L, 2.0))
        q.processAllAvailable()
        mem.addData((2L, 22.0), (3L, 3.0)) // revise id=2, insert id=3
        q.processAllAvailable()
        val state = LakeTable.read(spark, root).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        assert(state == Map(1L -> 1.0, 2L -> 22.0, 3L -> 3.0))
      } finally q.stop()
      // replay batch 0 through a fresh query on the same table: the
      // recorded batchId must make the duplicate delivery a no-op
      val mem2 = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Double)]
      val q2 = LakeTable.streamMerge(
        mem2.toDF().toDF("id", "v"), root, "id")
      try {
        mem2.addData((1L, 111.0)) // arrives as batchId 0 again
        q2.processAllAvailable()
        val v = LakeTable.read(spark, root).filter(col("id") === 1L)
          .head().getDouble(1)
        assert(v == 1.0, "replayed batch id must not re-merge")
      } finally q2.stop()
    }
  }

  test("streamMergeMor upserts per batch via deletion vectors: no " +
    "group rewrites, replayed batch ids skip, rewrite materializes") {
    withTable { root =>
      implicit val sq = spark.sqlContext
      import spark.implicits._
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Double)]
      val q = LakeTable.streamMergeMor(
        mem.toDF().toDF("id", "v"), root, "id")
      try {
        mem.addData((1L, 1.0), (2L, 2.0))
        q.processAllAvailable()
        val dirsV1 = LakeTable.dataDirPaths(spark, root)
        mem.addData((2L, 22.0), (3L, 3.0)) // revise id=2, insert id=3
        q.processAllAvailable()
        // the first batch's group is untouched — the revision is a dv
        // mask plus one appended group, never a rewrite
        val dirs = LakeTable.dataDirPaths(spark, root)
        assert(dirsV1.forall(d => dirs.contains(d)),
          "streaming MOR merge rewrote a prior batch's group")
        val state = LakeTable.read(spark, root).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        assert(state == Map(1L -> 1.0, 2L -> 22.0, 3L -> 3.0))
      } finally q.stop()
      // replayed batch 0 on a fresh query is a no-op
      val mem2 = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Double)]
      val q2 = LakeTable.streamMergeMor(
        mem2.toDF().toDF("id", "v"), root, "id")
      try {
        mem2.addData((1L, 111.0))
        q2.processAllAvailable()
        assert(LakeTable.read(spark, root).filter(col("id") === 1L)
          .head().getDouble(1) == 1.0)
      } finally q2.stop()
      LakeTable.rewriteDeletes(spark, root)
      assert(LakeTable.read(spark, root).count() == 3)
    }
  }

  test("compactSmall merges only small groups, carries big groups' metadata") {
    withTable { root =>
      import spark.implicits._
      val big = (1L to 2000L).map(i => (i, s"row$i")).toDF("id", "tag")
      LakeTable.create(spark, root, big.coalesce(1), statsCols = Seq("id"))
      LakeTable.append(spark, root, Seq((9001L, "x")).toDF("id", "tag"),
        statsCols = Seq("id"))
      LakeTable.append(spark, root, Seq((9002L, "y")).toDF("id", "tag"),
        statsCols = Seq("id"))
      val bigDir = LakeTable.dataDirPaths(spark, root).head
      val v = LakeTable.compactSmall(spark, root, minBytes = 4096L)
      assert(v == 4)
      val after = LakeTable.dataDirPaths(spark, root)
      assert(after.size == 2 && after.contains(bigDir))
      assert(LakeTable.read(spark, root).count() == 2002)
      // the big group's stats survived the commit by name: a probe in
      // the small-id range prunes it (the merged group, statless, is
      // conservatively kept — so exactly one group survives)
      val bigRel = bigDir.split('/').takeRight(2).mkString("/")
      val kept = LakeTable.selectGroups(spark, root, "id", 9000.0, 9100.0)
      assert(kept.size == 1 && !kept.contains(bigRel))
      // another run with the same threshold is a no-op (one small group)
      assert(LakeTable.compactSmall(spark, root, 4096L) == v)
    }
  }

  test("merge-on-read delete masks reads without touching data files") {
    withTable { root =>
      val nation = Tables.load(spark, sf, "nation")
      LakeTable.create(spark, root, nation)
      val dirsBefore = LakeTable.dataDirPaths(spark, root)
      val v2 = LakeTable.deleteWhereMor(spark, root,
        col("n_regionkey") === 0, "n_nationkey")
      assert(v2 == 2)
      // data files byte-untouched; the commit is metadata + sidecar
      assert(LakeTable.dataDirPaths(spark, root) == dirsBefore)
      assert(LakeTable.history(spark, root).last._2 == "delete-mor")
      val after = LakeTable.read(spark, root)
      assert(after.filter(col("n_regionkey") === 0).count() == 0)
      assert(after.count() == 20)
      // time travel: v1 still sees every row
      assert(LakeTable.read(spark, root, Some(1)).count() == 25)
      // CDC surfaces the masked rows as deletes with zero file churn
      val cdc = LakeTable.changes(spark, root, 1, 2, "n_nationkey")
      assert(cdc.filter(col("_change_type") === "delete").count() == 5)
      assert(cdc.count() == 5)

      // keys of type long, string, binary, date and double (-0.0, NaN
      // and null keys among them): every read equals an independent
      // left-anti join of the raw files against the sidecar keys, and
      // SQL reads through one dv scan with no join, at the latest
      // version (equality deletes and a dv) and VERSION AS OF (equality
      // deletes only)
      val base = spark.range(0, 40, 1, 3).select(col("id"),
        when(col("id") % 9 === 0, lit(null)).otherwise(col("id") % 19).as("k"),
        when(col("id") % 9 === 1, lit(null))
          .otherwise(format_string("s%02d", col("id") % 17)).as("s"),
        when(col("id") % 9 === 2, lit(null))
          .otherwise(format_string("b%d", col("id") % 13).cast("binary")).as("b"),
        when(col("id") % 9 === 3, lit(null)).otherwise(date_add(
          lit(java.sql.Date.valueOf("2024-01-01")), (col("id") % 11).cast("int")))
          .as("dt"),
        when(col("id") % 10 === 0, lit(-0.0)).when(col("id") % 10 === 1, lit(0.0))
          .when(col("id") % 10 === 2, lit(Double.NaN))
          .when(col("id") % 10 === 3, lit(null).cast("double"))
          .otherwise(col("id") / 7.0).as("d"))
      def lines(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.collect().map(_.toSeq.map {
          case a: Array[Byte] => a.mkString("[", ",", "]")
          case v => String.valueOf(v)
        }.mkString("|")).toSeq.sorted
      def oneScan(df: org.apache.spark.sql.DataFrame): Seq[String] = {
        val out = lines(df)
        val plan = df.queryExecution.executedPlan
        assert(graft.sources.GraftDvScanMetrics.scans(plan).size == 1, plan)
        assert(!plan.toString.contains("Join"), plan)
        out
      }
      spark.conf.set("spark.sql.catalog.lakeEq", "graft.sources.GraftLakeCatalog")
      spark.conf.set("spark.sql.catalog.lakeEq.warehouse", root)
      try Seq("k" -> 4, "s" -> 5, "b" -> 6, "dt" -> 7, "d" -> 10).foreach {
        case (key, m) =>
          val t = s"$root/eq_$key"
          LakeTable.create(spark, t, base)
          val vEq = LakeTable.deleteWhereMor(spark, t,
            col("id") % m === 0 || col("id") % m === 2 || col("id") === 3, key)
          // re-appended keys stay deleted; a second part joins the list
          LakeTable.append(spark, t, base.filter(col("id") < 10))
          LakeTable.deleteWhereMor(spark, t, col("id") === 39, key)
          val v = LakeTable.deleteWhereDv(spark, t, col("id") % 8 === 5)
          def model(at: Int) = {
            val rels = LakeTable.manifestMetaAt(spark, t, at)("deletes")
              .split(",").map(r => s"$t/$r")
            spark.read.parquet(LakeTable.dataDirPaths(spark, t, Some(at)): _*)
              .join(spark.read.parquet(rels: _*).select(col(key)).distinct(),
                Seq(key), "left_anti")
              .select(base.columns.map(col): _*)
          }
          val want = model(v).filter(col("id") % 8 =!= 5)
          assert(oneScan(LakeTable.read(spark, t)) == lines(want), key)
          assert(oneScan(spark.sql(s"SELECT * FROM lakeEq.eq_$key")) ==
            lines(want), key)
          assert(oneScan(spark.sql(s"SELECT * FROM lakeEq.eq_$key " +
            s"VERSION AS OF $vEq")) == lines(model(vEq)), key)
          assert(oneScan(LakeTable.read(spark, t, Some(vEq))) ==
            lines(model(vEq)), key)
          val lineage = LakeTable.readWithLineage(spark, t)
          assert(oneScan(lineage.drop("__file", "__pos")) == lines(want), key)
          // each lineage row sits at its own (file, position)
          val raw = spark.read.parquet(LakeTable.dataDirPaths(spark, t): _*)
            .select(col("_metadata.file_path").as("__file"),
              col("_metadata.row_index").as("__pos"), col("id"))
          assert(lineage.join(raw, Seq("__file", "__pos", "id"), "left_anti")
            .count() == 0, key)
          // point reads of a deleted key, a kept key and a null key
          val deletedKey = base.filter(col("id") % m === 2 && col(key).isNotNull)
            .select(col(key)).head().get(0)
          val keptKey = want.filter(col(key).isNotNull).select(col(key)).head().get(0)
          Seq(deletedKey, keptKey).foreach { value =>
            assert(oneScan(LakeTable.readWhereEq(spark, t, key, value)) ==
              lines(want.filter(col(key) === lit(value))), s"$key = $value")
          }
          assert(lines(want.filter(col(key).isNull)).nonEmpty, key)
          assert(lines(LakeTable.read(spark, t).filter(col(key).isNull)) ==
            lines(want.filter(col(key).isNull)), key)
          if (key == "k") {
            // row-level SQL refuses in both update modes, naming the
            // deletes and the way out; INSERT INTO still appends
            def refusal(sql: String): String =
              Iterator.iterate(intercept[Exception](spark.sql(sql).collect()): Throwable)(
                _.getCause).takeWhile(_ != null).map(e => String.valueOf(e.getMessage))
                .mkString("\n")
            val merge = "MERGE INTO lakeEq.eq_k t USING (SELECT CAST(1 AS BIGINT) " +
              "AS id) s ON t.id = s.id WHEN MATCHED AND t.id > 5 THEN DELETE " +
              "WHEN MATCHED THEN UPDATE SET s = 'M' " +
              "WHEN NOT MATCHED BY SOURCE AND t.id = 38 THEN DELETE"
            Seq(None, Some("mor")).foreach { mode =>
              mode.foreach(spark.conf.set("spark.graft.update.mode", _))
              try {
                val stmts = Seq(merge, "INSERT OVERWRITE lakeEq.eq_k " +
                  "SELECT * FROM lakeEq.eq_k") ++ (if (mode.isEmpty) Seq(
                  "DELETE FROM lakeEq.eq_k WHERE id = 1",
                  "UPDATE lakeEq.eq_k SET s = 'U' WHERE id = 1") else Nil)
                stmts.foreach { sql =>
                  val m = refusal(sql)
                  assert(m.contains("merge-on-read deletes") &&
                    m.contains("rewriteDeletes"), s"$mode $sql: $m")
                }
              } finally spark.conf.unset("spark.graft.update.mode")
            }
            spark.sql("INSERT INTO lakeEq.eq_k SELECT * FROM lakeEq.eq_k WHERE id = 1")
            assert(lines(LakeTable.read(spark, t)) ==
              lines(want.unionByName(want.filter(col("id") === 1))))
          }
      } finally {
        spark.conf.unset("spark.sql.catalog.lakeEq")
        spark.conf.unset("spark.sql.catalog.lakeEq.warehouse")
      }
    }
  }

  test("shallow clone is metadata-only, diverges independently, and " +
    "never vacuums source bytes") {
    withTable { src => withTable { dst =>
      import spark.implicits._
      LakeTable.create(spark, src,
        (1L to 100L).map(i => (i, if (i % 2 == 0) "even" else "odd"))
          .toDF("id", "tag"), statsCols = Seq("id"))
      LakeTable.append(spark, src,
        (101L to 150L).map(i => (i, "late")).toDF("id", "tag"),
        statsCols = Seq("id"))
      LakeTable.shallowClone(spark, src, dst)
      // metadata-only: zero parquet bytes under the clone's root
      import scala.jdk.CollectionConverters._
      def parquetsUnder(root: String): Long = {
        val w = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        try w.iterator().asScala.count(_.toString.endsWith(".parquet")).toLong
        finally w.close()
      }
      assert(parquetsUnder(dst) == 0, "clone copied data files")
      assert(LakeTable.read(spark, dst).count() == 150)
      // stats pruning survives the key rewrite: a ranged read on the
      // clone must open fewer groups than the full table holds
      assert(LakeTable.readWhere(spark, dst, "id", 1, 50).count() == 50)
      // divergence: clone delete is invisible to the source
      LakeTable.deleteWhere(spark, dst, col("tag") === "late")
      assert(LakeTable.read(spark, dst).count() == 100)
      assert(LakeTable.read(spark, src).count() == 150)
      // source append is invisible to the clone (snapshot semantics)
      LakeTable.append(spark, src, Seq((999L, "post")).toDF("id", "tag"))
      assert(LakeTable.read(spark, dst).count() == 100)
      // clone-side vacuum drops its old versions but never the
      // source's bytes — the source still reads in full
      LakeTable.vacuum(spark, dst, 1)
      assert(LakeTable.read(spark, dst).count() == 100)
      assert(LakeTable.read(spark, src).count() == 151)
      // cloning over an existing table is refused
      intercept[IllegalArgumentException] {
        LakeTable.shallowClone(spark, src, dst)
      }
    } }
  }

  test("purge erases matching rows from history, disk, and stats") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root,
        Seq((1L, "keep"), (2L, "secret"), (3L, "keep")).toDF("id", "t"),
        statsCols = Seq("id"))
      LakeTable.append(spark, root,
        Seq((4L, "secret"), (5L, "keep")).toDF("id", "t"),
        statsCols = Seq("id"))
      LakeTable.purge(spark, root, col("t") === "secret")
      // current snapshot clean, and NO prior version remains to travel to
      assert(LakeTable.read(spark, root).select("id").as[Long].collect()
        .sorted.toSeq == Seq(1L, 3L, 5L))
      assert(LakeTable.versions(spark, root).size == 1)
      // no byte on disk carries the purged rows: read every parquet
      // file under the root directly and look for them
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      val files =
        try w.iterator().asScala.map(_.toString)
          .filter(_.endsWith(".parquet")).toSeq
        finally w.close()
      assert(files.nonEmpty)
      val raw = spark.read.parquet(files: _*)
      assert(raw.filter(col("t") === "secret").count() == 0,
        "a purged row survives on disk")
      assert(raw.count() == 3)
    }
  }

  test("readers hold their snapshot across concurrent commits") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "t"))
      // a reader frame constructed at v1 …
      val snapshot = LakeTable.read(spark, root)
      // … survives a concurrent append AND a COW delete unchanged
      LakeTable.append(spark, root, Seq((3L, "c")).toDF("id", "t"))
      LakeTable.deleteWhere(spark, root, col("id") === 1L)
      assert(snapshot.count() == 2, "reader saw a concurrent writer")
      assert(snapshot.select("id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L))
      // while a fresh reader sees the latest version
      assert(LakeTable.read(spark, root).select("id").as[Long]
        .collect().sorted.toSeq == Seq(2L, 3L))
    }
  }

  test("CHECK constraints gate writes, carry through commits, and " +
    "clones inherit them") {
    withTable { src => withTable { dst =>
      import spark.implicits._
      LakeTable.create(spark, src,
        Seq((1L, 10.0), (2L, 20.0)).toDF("id", "price"))
      // a constraint existing data violates is refused
      intercept[IllegalArgumentException] {
        LakeTable.addCheckConstraint(spark, src, "expensive", "price > 15")
      }
      LakeTable.addCheckConstraint(spark, src, "positive", "price > 0")
      // clean write passes; violating and NULL-predicate writes fail
      LakeTable.append(spark, src, Seq((3L, 30.0)).toDF("id", "price"))
      intercept[IllegalArgumentException] {
        LakeTable.append(spark, src, Seq((4L, -1.0)).toDF("id", "price"))
      }
      intercept[IllegalArgumentException] {
        LakeTable.merge(spark, src,
          Seq((2L, Option.empty[Double])).toDF("id", "price"), "id")
      }
      assert(LakeTable.read(spark, src).count() == 3)
      // the constraint survived the intermediate append commit
      LakeTable.append(spark, src, Seq((5L, 50.0)).toDF("id", "price"))
      intercept[IllegalArgumentException] {
        LakeTable.append(spark, src, Seq((6L, 0.0)).toDF("id", "price"))
      }
      // clones inherit the gate
      LakeTable.shallowClone(spark, src, dst)
      intercept[IllegalArgumentException] {
        LakeTable.append(spark, dst, Seq((7L, -7.0)).toDF("id", "price"))
      }
      LakeTable.append(spark, dst, Seq((7L, 7.0)).toDF("id", "price"))
      assert(LakeTable.read(spark, dst).count() == 5)
    } }
  }

  test("MOR deletes persist across appends and accumulate; rewrite materializes") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root,
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "tag"))
      LakeTable.deleteWhereMor(spark, root, col("id") === 2L, "id")
      // a deleted key stays deleted even if re-appended (table-wide
      // equality delete until a rewrite)
      LakeTable.append(spark, root, Seq((2L, "b2"), (4L, "d")).toDF("id", "tag"))
      assert(LakeTable.read(spark, root).select("id").as[Long].collect()
        .sorted.toSeq == Seq(1L, 3L, 4L))
      // second MOR delete accumulates; mixed key columns are rejected
      LakeTable.deleteWhereMor(spark, root, col("id") === 3L, "id")
      intercept[IllegalArgumentException] {
        LakeTable.deleteWhereMor(spark, root, col("tag") === "a", "tag")
      }
      assert(LakeTable.read(spark, root).select("id").as[Long].collect()
        .sorted.toSeq == Seq(1L, 4L))
      // a no-match predicate commits nothing
      val vBefore = LakeTable.versions(spark, root).last
      assert(LakeTable.deleteWhereMor(spark, root,
        col("id") === 99L, "id") == vBefore)
      // the DSv2 path cannot honor the masks → fails fast
      val e = intercept[UnsupportedOperationException] {
        spark.read.format("graft-lake").load(root).collect()
      }
      assert(e.getMessage.contains("merge-on-read"))
      // rewrite materializes: same rows, delete metadata gone, DSv2 ok
      LakeTable.rewriteDeletes(spark, root)
      assert(LakeTable.read(spark, root).select("id").as[Long].collect()
        .sorted.toSeq == Seq(1L, 4L))
      assert(spark.read.format("graft-lake").load(root).count() == 2)
      intercept[IllegalArgumentException] {
        LakeTable.rewriteDeletes(spark, root)
      }
    }
  }

  // ---- persisted IVF-PQ ANN index (graft.sources.LakeAnnIndex) ------

  /** Every file under `<root>/_index`, name → (size, mtime) — the
    * "existing sidecars untouched" fingerprint for incremental runs. */
  private def indexFiles(root: String): Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(root, "_index")
    if (!java.nio.file.Files.isDirectory(p)) Map.empty
    else {
      val w = java.nio.file.Files.walk(p)
      try w.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => f.toString -> (java.nio.file.Files.size(f),
          java.nio.file.Files.getLastModifiedTime(f).toMillis)).toMap
      finally w.close()
    }
  }

  test("ANN index: metadata-only commit, hybrid probe after append, " +
    "incremental reindex, COW invalidation") {
    withTable { root =>
      import graft.sources.LakeAnnIndex
      import spark.implicits._
      val e = Tables.load(spark, sf, "embeddings")
      LakeTable.create(spark, root, e.filter(col("vec_id") % 5 =!= 4))
      val dirsV1 = LakeTable.dataDirPaths(spark, root)
      val v2 = LakeAnnIndex.indexIvfPq(spark, root, "vec_id", "embedding")
      // metadata-only commit: new version, same file groups
      assert(v2 == 2 && LakeTable.dataDirPaths(spark, root) == dirsV1)
      assert(LakeAnnIndex.coverage(spark, root, "embedding")._2.isEmpty)
      // append carries the index; the new group is uncovered
      LakeTable.append(spark, root, e.filter(col("vec_id") % 5 === 4))
      val (coded1, open1) = LakeAnnIndex.coverage(spark, root, "embedding")
      assert(coded1.size == 1 && open1.size == 1)
      // a probe equal to an APPENDED vector must surface that row at
      // rank 1 with d2 = 0 — the uncovered tail is exact-scanned, so
      // correctness never waits for a re-index
      val (pid, pvec) = e.filter(col("vec_id") % 5 === 4)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].orderBy(col("vec_id")).head()
      val q = Seq((pid + 100000L, pvec)).toDF("vec_id", "embedding")
      val top = LakeAnnIndex.annTopK(spark, root, q, "vec_id", "embedding",
        "vec_id", "embedding", k = 3).orderBy(col("rank")).collect()
      assert(top.length == 3)
      assert(top.head.getAs[Long]("neighbor_id") == pid &&
        top.head.getAs[Double]("d2") == 0.0)
      // incremental reindex: model + existing codes sidecars reused
      // byte-untouched; only the appended group encodes
      val modelBefore = LakeAnnIndex.modelSidecar(spark, root, "embedding")
      val before = indexFiles(root)
      LakeAnnIndex.indexIvfPq(spark, root, "vec_id", "embedding")
      assert(LakeAnnIndex.modelSidecar(spark, root, "embedding") == modelBefore)
      val after = indexFiles(root)
      assert(before.forall { case (f, sig) => after.get(f).contains(sig) },
        "existing sidecar files were rewritten")
      assert(after.size > before.size, "no codes sidecar for the new group")
      assert(LakeAnnIndex.coverage(spark, root, "embedding")._2.isEmpty)
      // a complete index is a version no-op
      val vNow = LakeTable.versions(spark, root).last
      assert(LakeAnnIndex.indexIvfPq(spark, root, "vec_id", "embedding") == vNow)
      // full COW rewrite drops the entries with the dirs: the index is
      // invalidated, probes fail fast, a rebuild restores service
      LakeTable.compact(spark, root, 1)
      val (coded2, open2) = LakeAnnIndex.coverage(spark, root, "embedding")
      assert(coded2.isEmpty && open2.size == 1)
      assert(LakeAnnIndex.modelSidecar(spark, root, "embedding").isEmpty)
      intercept[IllegalStateException] {
        LakeAnnIndex.annTopK(spark, root, q, "vec_id", "embedding",
          "vec_id", "embedding", k = 3)
      }
      LakeAnnIndex.indexIvfPq(spark, root, "vec_id", "embedding")
      assert(LakeAnnIndex.coverage(spark, root, "embedding")._2.isEmpty)
      assert(LakeAnnIndex.annTopK(spark, root, q, "vec_id", "embedding",
        "vec_id", "embedding", k = 3).count() == 3)
    }
  }

  test("bloom and ANN sidecars resolve on a shallow clone (absolute " +
    "paths); clone-side reindex never writes under the source") {
    withTable { src => withTable { dst =>
      import graft.sources.LakeAnnIndex
      import spark.implicits._
      val e = Tables.load(spark, sf, "embeddings")
      LakeTable.create(spark, src, e)
      LakeTable.indexBloom(spark, src, Seq("vec_id"))
      LakeAnnIndex.indexIvfPq(spark, src, "vec_id", "embedding")
      LakeTable.shallowClone(spark, src, dst)
      // bloom probes on the clone read through the SOURCE's sidecars
      // (values went absolute with the clone) — a present key finds its
      // row, an absent key is pruned to zero groups before any footer
      assert(LakeTable.readWhereEq(spark, dst, "vec_id", 7L).count() == 1)
      assert(LakeTable.selectGroupsEq(spark, dst, "vec_id", 99000017L).isEmpty)
      // ANN probes on the clone serve from the source's committed index
      val (pid, pvec) = e.select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].orderBy(col("vec_id")).head()
      val q = Seq((pid + 100000L, pvec)).toDF("vec_id", "embedding")
      val top = LakeAnnIndex.annTopK(spark, dst, q, "vec_id", "embedding",
        "vec_id", "embedding", k = 1).head()
      assert(top.getAs[Long]("neighbor_id") == pid &&
        top.getAs[Double]("d2") == 0.0)
      // clone diverges: its append is uncovered, and re-indexing the
      // clone writes sidecars under the CLONE's root only
      LakeTable.append(spark, dst,
        e.filter(col("vec_id") < 50)
          .select((col("vec_id") + 500000L).as("vec_id"), col("embedding")))
      val srcIndexBefore = indexFiles(src)
      LakeAnnIndex.indexIvfPq(spark, dst, "vec_id", "embedding")
      assert(indexFiles(src) == srcIndexBefore,
        "clone reindex touched source sidecars")
      assert(LakeAnnIndex.coverage(spark, dst, "embedding")._2.isEmpty)
      assert(LakeAnnIndex.coverage(spark, src, "embedding")._2.isEmpty)
    } }
  }

  test("streamAppend carries the ANN index; incremental reindex covers " +
    "the streamed batch") {
    withTable { root =>
      import graft.sources.LakeAnnIndex
      implicit val sq = spark.sqlContext
      import spark.implicits._
      val e = Tables.load(spark, sf, "embeddings")
      LakeTable.create(spark, root,
        e.filter(col("vec_id") < 400).select(col("vec_id"), col("embedding")))
      LakeAnnIndex.indexIvfPq(spark, root, "vec_id", "embedding")
      // nightly-append shape: new vectors arrive as a micro-batch
      val tail = e.filter(col("vec_id") >= 400)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect().toSeq
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Array[Float])]
      val sq2 = LakeTable.streamAppend(
        mem.toDF().toDF("vec_id", "embedding"), root)
      try {
        mem.addData(tail: _*)
        sq2.processAllAvailable()
      } finally sq2.stop()
      // the streamed commit carried the index; its group is uncovered
      val (coded, open) = LakeAnnIndex.coverage(spark, root, "embedding")
      assert(coded.size == 1 && open.size == 1)
      // probes already see the streamed vectors (exact-scanned tail)
      val (pid, pvec) = tail.minBy(_._1)
      val q = Seq((pid + 100000L, pvec)).toDF("vec_id", "embedding")
      assert(LakeAnnIndex.annTopK(spark, root, q, "vec_id", "embedding",
        "vec_id", "embedding", k = 1).head().getAs[Long]("neighbor_id") == pid)
      // bounded re-index: one new codes sidecar, old files untouched
      val before = indexFiles(root)
      LakeAnnIndex.indexIvfPq(spark, root, "vec_id", "embedding")
      val after = indexFiles(root)
      assert(before.forall { case (f, sig) => after.get(f).contains(sig) })
      assert(LakeAnnIndex.coverage(spark, root, "embedding")._2.isEmpty)
      assert(LakeAnnIndex.annTopK(spark, root, q, "vec_id", "embedding",
        "vec_id", "embedding", k = 1).head().getAs[Long]("neighbor_id") == pid)
    }
  }

  test("maintenance loop stays O(churn): streamed micro-batches → " +
    "compactSmall keeps big group's codes → only merged group re-encodes") {
    withTable { root =>
      import graft.sources.LakeAnnIndex
      implicit val sq = spark.sqlContext
      import spark.implicits._
      import scala.jdk.CollectionConverters._
      def dirBytes(d: String): Long = {
        val w = java.nio.file.Files.walk(java.nio.file.Paths.get(root, d))
        try w.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size(_).longValue()).sum
        finally w.close()
      }
      val e = Tables.load(spark, sf, "embeddings")
        .select(col("vec_id"), col("embedding"))
      // nightly shape: one big indexed bulk group + 3 small streamed
      // micro-batch groups
      LakeTable.create(spark, root, e.filter(col("vec_id") < 300))
      LakeAnnIndex.indexIvfPq(spark, root, "vec_id", "embedding")
      val Seq(bulkDir) = LakeAnnIndex.coverage(spark, root, "embedding")._1
      val tail = e.filter(col("vec_id") >= 300)
        .as[(Long, Array[Float])].collect().sortBy(_._1).toSeq
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Array[Float])]
      val stream = LakeTable.streamAppend(
        mem.toDF().toDF("vec_id", "embedding"), root)
      try tail.grouped((tail.size + 2) / 3).foreach { chunk =>
        mem.addData(chunk: _*); stream.processAllAvailable()
      } finally stream.stop()
      assert(LakeAnnIndex.coverage(spark, root, "embedding")
        ._2.size == 3, "expected 3 uncovered micro-batch groups")
      // compactSmall: the 3 micro-batch groups merge; the bulk group is
      // carried BY NAME with its codes — zero bulk bytes rewritten,
      // zero bulk codes dropped
      val sidecarsBefore = indexFiles(root)
      // threshold between the group sizes: dirBytes is recursive and
      // counts .crc checksums, compactSmall's own accounting doesn't —
      // half the bulk size clears both skews (micro-batches are ~1/4)
      LakeTable.compactSmall(spark, root, minBytes = dirBytes(bulkDir) / 2)
      val (codedMid, openMid) = LakeAnnIndex.coverage(spark, root, "embedding")
      assert(codedMid == Seq(bulkDir),
        s"bulk group lost its codes across compactSmall: $codedMid")
      assert(openMid.size == 1, s"expected one merged group: $openMid")
      assert(indexFiles(root) == sidecarsBefore,
        "compactSmall touched index sidecars")
      // incremental reindex: O(churn) by GROUP COUNT — the one merged
      // group gets the one new codes sidecar; model + bulk codes reused
      // byte-untouched
      val modelBefore = LakeAnnIndex.modelSidecar(spark, root, "embedding")
      LakeAnnIndex.indexIvfPq(spark, root, "vec_id", "embedding")
      assert(LakeAnnIndex.modelSidecar(spark, root, "embedding") == modelBefore)
      val sidecarsAfter = indexFiles(root)
      assert(sidecarsBefore.forall { case (f, sig) =>
        sidecarsAfter.get(f).contains(sig) },
        "reindex rewrote pre-existing sidecar files")
      val newParents = (sidecarsAfter.keySet -- sidecarsBefore.keySet)
        .map(f => java.nio.file.Paths.get(f).getParent.toString)
      assert(newParents.size == 1,
        s"expected exactly one new codes sidecar dir, got $newParents")
      assert(LakeAnnIndex.coverage(spark, root, "embedding")._2.isEmpty)
      // service check: a probe equal to a STREAMED vector surfaces its
      // row at rank 1, d2 = 0 through the fully-covered index
      val (pid, pvec) = tail.head
      val q = Seq((pid + 100000L, pvec)).toDF("vec_id", "embedding")
      assert(LakeAnnIndex.annTopK(spark, root, q, "vec_id", "embedding",
        "vec_id", "embedding", k = 1).head()
        .getAs[Long]("neighbor_id") == pid)
      // restart safety: the batchId ledger survives the interleaved
      // maintenance commits (compact/index carry no batchId), so a
      // replayed delivery of an already-committed batch is skipped even
      // though maintenance commits are newer than the streamed ones
      val rowsBefore = LakeTable.read(spark, root).count()
      val mem2 = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Array[Float])]
      val replay = LakeTable.streamAppend(
        mem2.toDF().toDF("vec_id", "embedding"), root)
      try { mem2.addData(tail.take(5): _*); replay.processAllAvailable() }
      finally replay.stop()
      assert(LakeTable.read(spark, root).count() == rowsBefore,
        "replayed batchId was not skipped")
    }
  }

  test("column write-defaults: metadata-only ALTER, materialized on " +
    "disk for omitting appends, explicit batch wins, DROP restores " +
    "NULL, rename refused while bound, constraints see filled rows") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root,
        Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"))
      LakeTable.evolveSchema(spark, root, org.apache.spark.sql.types
        .StructType(Seq(org.apache.spark.sql.types.StructField("src",
          org.apache.spark.sql.types.StringType))))
      val dirsBefore = LakeTable.dataDirPaths(spark, root)
      LakeTable.setColumnDefault(spark, root, "src", "'backfill'")
      assert(LakeTable.dataDirPaths(spark, root) == dirsBefore,
        "SET DEFAULT rewrote data files")
      // rename refused while the default binds the name
      intercept[UnsupportedOperationException] {
        LakeTable.renameColumn(spark, root, "src", "origin")
      }
      // a bad literal is refused at ALTER time, not at some later append
      intercept[Exception] {
        LakeTable.setColumnDefault(spark, root, "v", "'not-a-number'0")
      }
      // omitting append gets the default — ON DISK (raw parquet proof)
      LakeTable.append(spark, root, Seq((3L, 30.0)).toDF("id", "v"))
      val raw = spark.read.option("mergeSchema", "true")
        .parquet(LakeTable.dataDirPaths(spark, root): _*)
      assert(raw.filter(col("src") === "backfill").count() == 1)
      // explicit batch wins
      LakeTable.append(spark, root,
        Seq((4L, 40.0, "manual")).toDF("id", "v", "src"))
      // DROP DEFAULT: a later omitting append writes NULL again, while
      // rows already materialized keep their values (immutability)
      LakeTable.dropColumnDefault(spark, root, "src")
      LakeTable.append(spark, root, Seq((6L, 60.0)).toDF("id", "v"))
      val bySrc = LakeTable.read(spark, root)
        .groupBy(coalesce(col("src"), lit("-")).as("s")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(bySrc == Map("-" -> 3L, "backfill" -> 1L, "manual" -> 1L))
      // double-drop refused
      intercept[IllegalArgumentException] {
        LakeTable.dropColumnDefault(spark, root, "src")
      }
      // CHECK constraints validate the FILLED rows: with the default
      // re-set, a constraint requiring src non-null for new ids passes
      // a batch that omits src entirely (the default fills before the
      // gate runs) and refuses one carrying an explicit NULL (the
      // batch's column wins, so nothing fills it)
      LakeTable.setColumnDefault(spark, root, "src", "'backfill'")
      LakeTable.addCheckConstraint(spark, root, "src_set",
        "id < 10 OR src IS NOT NULL")
      LakeTable.append(spark, root, Seq((11L, 1.1)).toDF("id", "v"))
      intercept[IllegalArgumentException] {
        LakeTable.append(spark, root,
          Seq((12L, 1.2, null: String)).toDF("id", "v", "src"))
      }
      assert(LakeTable.read(spark, root)
        .filter(col("id") === 11L && col("src") === "backfill")
        .count() == 1)
    }
  }

  test("replaceWhere: atomic band overwrite, containment gate, and " +
    "untouched groups carried with their stats") {
    withTable { root =>
      import spark.implicits._
      val base = (1L to 100L).map(i => (i, i % 10, i * 100L))
        .toDF("id", "bucket", "v")
      LakeTable.createClustered(spark, root, base, "bucket", 4,
        Seq("bucket"))
      val dirsBefore = LakeTable.dataDirPaths(spark, root).toSet
      // containment: a row outside the band rejects the whole write
      intercept[IllegalArgumentException] {
        LakeTable.overwriteWhere(spark, root,
          Seq((200L, 3L, 1L), (201L, 7L, 1L)).toDF("id", "bucket", "v"),
          "bucket", 3, 3)
      }
      // nothing committed by the refusal
      assert(LakeTable.read(spark, root).count() == 100)
      // replace bucket 3 (10 rows) with 2 recomputed rows
      val v = LakeTable.overwriteWhere(spark, root,
        Seq((200L, 3L, 5L), (201L, 3L, 6L)).toDF("id", "bucket", "v"),
        "bucket", 3, 3, Seq("bucket"))
      val got = LakeTable.read(spark, root)
      assert(got.count() == 92)
      assert(got.filter(col("bucket") === 3).count() == 2)
      assert(got.filter(col("bucket") === 3).agg(sum(col("v")))
        .head().getLong(0) == 11L)
      // groups whose stats exclude bucket 3 are carried by name...
      val dirsAfter = LakeTable.dataDirPaths(spark, root).toSet
      val carried = dirsBefore intersect dirsAfter
      assert(carried.nonEmpty, "no group carried — pruning inert")
      // ...with their stats meta intact: a probe on an untouched bucket
      // prunes down to its one carried group (the rewritten groups also
      // re-recorded stats via statsCols, so they prune away too)
      assert(LakeTable.selectGroups(spark, root, "bucket", 0, 0).size == 1,
        "carried/rewritten groups lost their stats entries")
      // old snapshot untouched (time travel below the replace)
      assert(LakeTable.read(spark, root, Some(v - 1)).count() == 100)
    }
  }

  test("identity column: contiguous engine-assigned ids, GENERATED " +
    "ALWAYS refusal, and hwm carry through maintenance commits") {
    withTable { root =>
      import spark.implicits._
      val b0 = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
      LakeTable.create(spark, root, b0)
      LakeTable.evolveSchema(spark, root,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("rid",
            org.apache.spark.sql.types.LongType))))
      LakeTable.setIdentity(spark, root, "rid", start = 100L, step = 3L)
      // an explicit-id batch is refused
      intercept[IllegalArgumentException] {
        LakeTable.append(spark, root,
          Seq((9L, "x", 1L)).toDF("k", "s", "rid"))
      }
      LakeTable.append(spark, root,
        Seq((3L, "c"), (4L, "d"), (5L, "e")).toDF("k", "s"))
      LakeTable.append(spark, root, Seq((6L, "f")).toDF("k", "s"))
      val ids = LakeTable.read(spark, root)
        .filter(col("rid").isNotNull).select(col("rid"))
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(100L, 103L, 106L, 109L),
        s"expected the gap-free series from 100 step 3, got $ids")
      // pre-identity rows read NULL ids (history immutable)
      assert(LakeTable.read(spark, root)
        .filter(col("rid").isNull).count() == 2)
      // hwm auto-carries through a COW delete; the next append
      // continues the series instead of re-issuing ids
      LakeTable.deleteWhere(spark, root, col("k") === 3L)
      LakeTable.append(spark, root, Seq((7L, "g")).toDF("k", "s"))
      val mx = LakeTable.read(spark, root).agg(max(col("rid")))
        .head().getLong(0)
      assert(mx == 112L, s"hwm lost across delete: next id was $mx")
    }
  }

  test("racing identity appends: exactly one winner, loser is a named " +
    "conflict (ids would collide)") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root, Seq(Tuple1(1L)).toDF("k"))
      LakeTable.evolveSchema(spark, root,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("rid",
            org.apache.spark.sql.types.LongType))))
      LakeTable.setIdentity(spark, root, "rid")
      // both writers prepare against the same base snapshot
      val (base, dirA) = LakeTable.appendPrepare(spark, root,
        Seq(Tuple1(2L)).toDF("k"))
      val (_, dirB) = LakeTable.appendPrepare(spark, root,
        Seq(Tuple1(3L)).toDF("k"))
      // A commits first and advances the high-water mark
      LakeTable.commitAppend(spark, root, base, dirA, Map.empty)
      // B's rebase must fail NAMED — its rows carry ids stamped from
      // the stale mark
      val e = intercept[graft.sources.LakeConflictException] {
        LakeTable.commitAppend(spark, root, base, dirB, Map.empty)
      }
      assert(e.getMessage.contains("identity"), e.getMessage)
      // the winner's ids are intact and unique
      val ids = LakeTable.read(spark, root)
        .filter(col("rid").isNotNull).select(col("rid"))
        .collect().map(_.getLong(0)).toSeq
      assert(ids == Seq(1L))
    }
  }

  test("MOR update: deletion vectors patch reads at O(matches) bytes, " +
    "never swallow later appends, and materialize on rewrite") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root,
        (1L to 1000L).map(i => (i, i * 10L, "init")).toDF("id", "v", "tag"))
      val dirsBefore = LakeTable.dataDirPaths(spark, root)
      // point update: one matched row of a 1000-row group
      val v2 = LakeTable.updateWhereMor(spark, root, col("id") === 7L,
        Map("v" -> lit(777L), "tag" -> lit("patched")))
      assert(v2 == 2)
      // original file groups untouched; ONE tiny replacement group added
      val dirsAfter = LakeTable.dataDirPaths(spark, root)
      assert(dirsBefore.forall(dirsAfter.contains),
        "update-mor rewrote an existing file group")
      assert(dirsAfter.size == dirsBefore.size + 1)
      assert(LakeTable.history(spark, root).last._2 == "update-mor")
      // masked + patched: count stable, new values visible, old gone
      val after = LakeTable.read(spark, root)
      assert(after.count() == 1000)
      assert(after.filter(col("id") === 7L)
        .select(col("v"), col("tag")).head() ==
        org.apache.spark.sql.Row(777L, "patched"))
      // positional identity: a LATER append re-using the updated key's
      // values is NOT swallowed by the mask (the equality-mask flaw)
      LakeTable.append(spark, root, Seq((7L, 70L, "late")).toDF("id", "v", "tag"))
      assert(LakeTable.read(spark, root)
        .filter(col("id") === 7L).count() == 2)
      // second update stacks — and can hit the FIRST update's
      // replacement group (dv entries accumulate across groups)
      LakeTable.updateWhereMor(spark, root,
        col("id") === 7L && col("tag") === "patched",
        Map("v" -> lit(7777L)))
      val twice = LakeTable.read(spark, root).filter(col("id") === 7L)
        .select(col("v")).collect().map(_.getLong(0)).toSet
      assert(twice == Set(7777L, 70L))
      // time travel serves each version's own delete state
      assert(LakeTable.read(spark, root, Some(1))
        .filter(col("id") === 7L).select(col("v")).head().getLong(0) == 70L)
      assert(LakeTable.read(spark, root, Some(2))
        .filter(col("id") === 7L).select(col("v")).head().getLong(0) == 777L)
      // pruned reads patch too
      assert(LakeTable.readWhere(spark, root, "id", 7.0, 7.0)
        .select(col("v")).collect().map(_.getLong(0)).toSet ==
        Set(7777L, 70L))
      // CDC snapshot diff classifies the pair as an update
      val cdc = LakeTable.changes(spark, root, 1, 2, "id")
      assert(cdc.filter(col("_change_type") === "update_preimage")
        .select(col("v")).head().getLong(0) == 70L)
      assert(cdc.filter(col("_change_type") === "update_postimage")
        .select(col("v")).head().getLong(0) == 777L)
      assert(cdc.count() == 2)
      // rewrite materializes: dv meta gone, reads identical
      val before = LakeTable.read(spark, root).orderBy(col("id"), col("v"))
        .collect().toSeq
      LakeTable.rewriteDeletes(spark, root)
      val meta = LakeTable.manifestMetaAt(spark, root,
        LakeTable.latestVersion(spark, root).get)
      assert(!meta.contains("dv"))
      assert(LakeTable.read(spark, root).orderBy(col("id"), col("v"))
        .collect().toSeq == before)
    }
  }

  test("MOR update races an append: the dv state change is a NAMED " +
    "append conflict, never a silent blind rebase") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root,
        (1L to 50L).map(i => (i, i)).toDF("id", "v"))
      // the append prepares against the pre-update snapshot
      val (base, dir) = LakeTable.appendPrepare(spark, root,
        Seq((51L, 51L)).toDF("id", "v"))
      // an update-mor commit wins the version race
      LakeTable.updateWhereMor(spark, root, col("id") === 1L,
        Map("v" -> lit(-1L)))
      // the blind append COMMUTES with the dv state change and rebases
      // (Delta's WriteSerializable default: blind INSERT conflicts
      // with no row-level op — the positional mask names only
      // pre-existing files, which the appended group is not)
      val v = LakeTable.commitAppend(spark, root, base, dir, Map.empty)
      assert(v == LakeTable.versions(spark, root).last)
      // the table is the update's outcome PLUS the appended row
      val t = LakeTable.read(spark, root)
      assert(t.count() == 51)
      assert(t.filter(col("v") === -1L).count() == 1)
      assert(t.filter(col("id") === 51L).count() == 1)
    }
  }

  test("MOR update refusals: identity and generated columns, and " +
    "UNIQUE collisions, all refuse before any commit") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root,
        (1L to 10L).map(i => (i, i * 2L)).toDF("id", "v"))
      LakeTable.addUniqueConstraint(spark, root, "uid", "id")
      val v0 = LakeTable.latestVersion(spark, root).get
      // rewriting id into an existing key collides with a survivor
      val e = intercept[IllegalArgumentException] {
        LakeTable.updateWhereMor(spark, root, col("id") === 3L,
          Map("id" -> lit(5L)))
      }
      assert(e.getMessage.contains("UNIQUE"), e.getMessage)
      assert(LakeTable.latestVersion(spark, root).get == v0,
        "refused update moved the version")
      // ...but rewriting into a FREE key (or onto the replaced row's
      // own key) passes (v kept consistent with the rule declared below)
      LakeTable.updateWhereMor(spark, root, col("id") === 3L,
        Map("id" -> lit(303L), "v" -> lit(606L)))
      assert(LakeTable.read(spark, root)
        .filter(col("id") === 303L).count() == 1)
      // identity / generated columns are engine-owned
      LakeTable.setGeneratedColumn(spark, root, "v", "id * 2")
      intercept[IllegalArgumentException] {
        LakeTable.updateWhereMor(spark, root, col("id") === 4L,
          Map("v" -> lit(0L)))
      }
      // updating the generated column's INPUT recomputes it
      LakeTable.updateWhereMor(spark, root, col("id") === 4L,
        Map("id" -> lit(404L)))
      assert(LakeTable.read(spark, root).filter(col("id") === 404L)
        .select(col("v")).head().getLong(0) == 808L)
    }
  }

  test("MOR merge: matched rows mask positionally, inserts append, " +
    "gates and races match the COW merge") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root,
        (1L to 20L).map(i => (i, i * 10L)).toDF("id", "v"))
      LakeTable.addUniqueConstraint(spark, root, "uid", "id")
      val dirsBefore = LakeTable.dataDirPaths(spark, root)
      // upsert: ids 2,3 update; 21 inserts
      LakeTable.mergeMor(spark, root,
        Seq((2L, 222L), (3L, 333L), (21L, 210L)).toDF("id", "v"), "id")
      val after = LakeTable.dataDirPaths(spark, root)
      assert(dirsBefore.forall(d => after.contains(d)))
      assert(after.size == dirsBefore.size + 1)
      val t = LakeTable.read(spark, root)
      assert(t.count() == 21)
      assert(t.filter(col("id") === 2L).select(col("v"))
        .head().getLong(0) == 222L)
      // unique gate: a merge keyed on ANOTHER column cannot smuggle a
      // duplicate id past the masked-survivor check
      val e = intercept[IllegalArgumentException] {
        LakeTable.mergeMor(spark, root,
          Seq((5L, 999L)).toDF("id", "v"), "v")
      }
      assert(e.getMessage.contains("UNIQUE"), e.getMessage)
      // no-match merge: pure insert, NO new dv state
      val dvBefore = LakeTable.manifestMetaAt(spark, root,
        LakeTable.latestVersion(spark, root).get).get("dv")
      LakeTable.mergeMor(spark, root,
        Seq((50L, 500L)).toDF("id", "v"), "id")
      val metaNow = LakeTable.manifestMetaAt(spark, root,
        LakeTable.latestVersion(spark, root).get)
      assert(metaNow.get("dv") == dvBefore,
        "a no-match merge grew the dv state")
      assert(LakeTable.read(spark, root).count() == 22)
      // a racing blind append commutes with the merge's dv commit
      // and rebases — the unique gate still re-validates the appended
      // rows against exactly the winner's NEW file groups
      val (b, d) = LakeTable.appendPrepare(spark, root,
        Seq((60L, 600L)).toDF("id", "v"))
      LakeTable.mergeMor(spark, root,
        Seq((1L, 111L)).toDF("id", "v"), "id")
      LakeTable.commitAppend(spark, root, b, d, Map.empty)
      val t2 = LakeTable.read(spark, root)
      assert(t2.count() == 23)
      assert(t2.filter(col("id") === 1L).select(col("v"))
        .head().getLong(0) == 111L)
      assert(t2.filter(col("id") === 60L).count() == 1)
      // ...while a rebase whose rows COLLIDE with the winner's new
      // rows still refuses by name (unique re-validation)
      val (b2, d2) = LakeTable.appendPrepare(spark, root,
        Seq((70L, 700L)).toDF("id", "v"))
      LakeTable.mergeMor(spark, root,
        Seq((70L, 707L)).toDF("id", "v"), "id")
      val c = intercept[graft.sources.LakeConflictException] {
        LakeTable.commitAppend(spark, root, b2, d2, Map.empty)
      }
      assert(c.getMessage.contains("UNIQUE") ||
        c.getMessage.contains("concurrent"), c.getMessage)
    }
  }

  test("positional DV delete: any predicate, no key column, stacks " +
    "with DV updates, each version serves its own state") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root,
        (1L to 100L).map(i => (i, i * 10L)).toDF("id", "v"))
      val dirsBefore = LakeTable.dataDirPaths(spark, root)
      // predicate delete — no key column involved
      val v2 = LakeTable.deleteWhereDv(spark, root,
        col("v") % 30L === 0L)
      assert(v2 == 2)
      assert(LakeTable.dataDirPaths(spark, root) == dirsBefore,
        "dv delete touched a data file")
      assert(LakeTable.read(spark, root).count() == 100 - 33)
      // NULL predicate rows keep (SQL DELETE semantics)
      LakeTable.deleteWhereDv(spark, root,
        when(col("id") === 1L, lit(null).cast("boolean"))
          .otherwise(col("id") === 2L))
      assert(LakeTable.read(spark, root)
        .filter(col("id") <= 2).select(col("id"))
        .collect().map(_.getLong(0)).toSeq == Seq(1L))
      // stacks with a DV update; time travel serves each state
      LakeTable.updateWhereMor(spark, root, col("id") === 4L,
        Map("v" -> lit(444L)))
      assert(LakeTable.read(spark, root)
        .filter(col("id") === 4L).select(col("v")).head().getLong(0)
        == 444L)
      assert(LakeTable.read(spark, root, Some(2)).count() == 67)
      assert(LakeTable.read(spark, root, Some(1)).count() == 100)
      // nothing-matches delete: version unchanged
      val vSame = LakeTable.deleteWhereDv(spark, root, col("id") < 0L)
      assert(vSame == LakeTable.latestVersion(spark, root).get)
      // rewrite materializes everything away
      LakeTable.rewriteDeletes(spark, root)
      val meta = LakeTable.manifestMetaAt(spark, root,
        LakeTable.latestVersion(spark, root).get)
      assert(!meta.contains("dv"))
      assert(LakeTable.read(spark, root).count() == 66)
    }
  }

  test("manifest deltas + checkpoints: commits stay O(change), cold " +
    "reads resolve from checkpoint + tail, vacuum keeps chains " +
    "resolvable and collects superseded checkpoints") {
    withTable { root =>
      import spark.implicits._
      import graft.sources.{LakeTable => LT}
      LakeTable.create(spark, root, Seq((1L, 10L)).toDF("id", "v")) // v1
      (2 to 23).foreach { i =>                                      // v2..23
        LakeTable.append(spark, root, Seq((i.toLong, 10L * i)).toDF("id", "v"))
      }
      def lines(v: Int): Seq[String] = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(root, "_versions", f"v$v%08d.json"))
        .toArray.map(_.toString.trim).filter(_.nonEmpty).toSeq
      // v1 is full format; later appends are 2-line deltas
      // (header + added dir — op unchanged append-to-append)
      assert(!lines(1).head.startsWith("#~delta="))
      assert(lines(23).size == 2 && lines(23).head == "#~delta=22",
        lines(23).toString)
      // checkpoints landed at v10 and v20
      def cp(v: Int) = java.nio.file.Paths.get(
        root, "_versions", f"v$v%08d.checkpoint")
      assert(java.nio.file.Files.exists(cp(10)) &&
        java.nio.file.Files.exists(cp(20)))
      // cold resolution of v23: 3 deltas onto the v20 checkpoint
      LT.clearResolveCache()
      LT.manifestMetaAt(spark, root, 23)
      assert(LT.lastResolve.contains((23, 3, 20)), LT.lastResolve.toString)
      // intermediate versions resolve exactly (time travel correctness)
      assert(LakeTable.read(spark, root, Some(7))
        .agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0)
        == (1 to 7).map(_ * 10L).sum)
      assert(LakeTable.read(spark, root, Some(15)).count() == 15)
      // vacuum to the last 5: oldest kept v19's base chain is dropped —
      // a checkpoint materializes for it; v10/v20... v20 is kept? no:
      // kept = 19..23, so v10's checkpoint is superseded and collected,
      // v20's is kept (v20 retained)
      LakeTable.vacuum(spark, root, keepVersions = 5)
      assert(!java.nio.file.Files.exists(cp(10)), "superseded checkpoint")
      assert(java.nio.file.Files.exists(cp(19)),
        "oldest retained version must get a checkpoint")
      assert(java.nio.file.Files.exists(cp(20)))
      LT.clearResolveCache()
      assert(LakeTable.read(spark, root).count() == 23)
      LT.clearResolveCache()
      LT.manifestMetaAt(spark, root, 19)
      assert(LT.lastResolve.contains((19, 0, 19)), LT.lastResolve.toString)
      // a vacuumed version refuses (the chain below the suffix is gone)
      intercept[Exception] { LakeTable.read(spark, root, Some(9)).count() }
      // a table-rewriting commit (every dir replaced) lands FULL format
      // — its full state is smaller than the remove-everything delta
      LakeTable.compact(spark, root, targetPartitions = 1)        // v24
      assert(!lines(24).head.startsWith("#~delta="), lines(24).head)
      assert(LakeTable.read(spark, root).count() == 23)
    }
  }

  test("parquet checkpoints via the bounded driver-side write resolve " +
    "identically to the job path (r16: the <= LocalWriteMaxRows arm " +
    "writes the one checkpoint file without a Spark job)") {
    withTable { root =>
      import graft.sources.{LakeTable => LT}
      import spark.implicits._
      graft.util.LocalFrame.withConf(spark,
        "spark.graft.checkpoint.parquetMinEntries", "5") {
        LakeTable.create(spark, root,
          (1L to 8L).map(i => (i, 10L * i)).toDF("id", "v"))   // v1
        (2 to 12).foreach { i =>                               // v2..12
          LakeTable.append(spark, root,
            Seq((100L + i, 7L * i)).toDF("id", "v"))
        }
        // the v10 checkpoint landed in PARQUET form (state is 10+ dirs
        // + meta > 5 entries) through the driver-side write
        val cp = java.nio.file.Paths.get(
          root, "_versions", "v00000010.checkpoint.pq")
        assert(java.nio.file.Files.exists(cp), "parquet checkpoint")
        // cold resolution of v12 seeds from it (chain = 2 deltas) and
        // restates the exact snapshot: dir order and meta round-trip
        LT.clearResolveCache()
        val dirs12 = LakeTable.dataDirPaths(spark, root, Some(12))
        assert(LT.lastResolve.contains((12, 2, 10)), LT.lastResolve.toString)
        assert(dirs12.size == 12)
        assert(LakeTable.read(spark, root, Some(10))
          .agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0)
          == (1L to 8L).map(_ * 10L).sum + (2 to 10).map(7L * _).sum)
      }
    }
  }

  test("compactDeletes: N stacked dv sidecars fold into ONE in a " +
    "metadata-only commit — reads identical, data files untouched, " +
    "old versions keep their own lists") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root,
        (1L to 100L).map(i => (i, i * 10L)).toDF("id", "v"))
      // refuses with nothing to fold
      intercept[IllegalArgumentException] {
        LakeTable.compactDeletes(spark, root) }
      LakeTable.updateWhereMor(spark, root, col("id") === 1L,
        Map("v" -> lit(111L)))
      intercept[IllegalArgumentException] {
        LakeTable.compactDeletes(spark, root) } // one sidecar: nothing to fold
      LakeTable.deleteWhereDv(spark, root, col("id") === 2L)
      LakeTable.updateWhereMor(spark, root, col("id") === 3L,
        Map("v" -> lit(333L)))
      val vBefore = LakeTable.latestVersion(spark, root).get
      def dvList(v: Int): Seq[String] =
        LakeTable.manifestMetaAt(spark, root, v).get("dv")
          .toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
      assert(dvList(vBefore).size == 3)
      val before = LakeTable.read(spark, root)
        .orderBy(col("id")).collect().toSeq
      val dirsBefore = LakeTable.dataDirPaths(spark, root)
      val vAfter = LakeTable.compactDeletes(spark, root)
      assert(LakeTable.manifestMetaAt(spark, root, vAfter)
        .get("op").contains("compact-deletes"))
      // ONE sidecar now; same data dirs; byte-identical read
      assert(dvList(vAfter).size == 1)
      assert(LakeTable.dataDirPaths(spark, root) == dirsBefore,
        "compactDeletes touched a data file")
      assert(LakeTable.read(spark, root)
        .orderBy(col("id")).collect().toSeq == before)
      assert(LakeTable.read(spark, root).count() == 99)
      assert(LakeTable.read(spark, root).filter(col("id") === 3L)
        .select(col("v")).head().getLong(0) == 333L)
      // the pre-compaction version still serves its own 3-sidecar list
      assert(dvList(vBefore).size == 3)
      assert(LakeTable.read(spark, root, Some(vBefore))
        .orderBy(col("id")).collect().toSeq == before)
      // further stacking works on the folded state
      LakeTable.updateWhereMor(spark, root, col("id") === 3L,
        Map("v" -> lit(334L)))
      assert(dvList(LakeTable.latestVersion(spark, root).get).size == 2)
      assert(LakeTable.read(spark, root).filter(col("id") === 3L)
        .select(col("v")).head().getLong(0) == 334L)
      // rewrite still materializes everything away
      LakeTable.rewriteDeletes(spark, root)
      assert(!LakeTable.manifestMetaAt(spark, root,
        LakeTable.latestVersion(spark, root).get).contains("dv"))
      assert(LakeTable.read(spark, root).count() == 99)
      // vacuum now collects the folded-away sidecars: nothing retained
      // references them
      LakeTable.vacuum(spark, root, keepVersions = 1)
      assert(LakeTable.read(spark, root).count() == 99)
    }
  }

  test("string min/max skipping stats: equality probes prune to the " +
    "matching group; >64-char values drop the stat honestly and " +
    "admit everything; values stay exact") {
    withTable { root =>
      import spark.implicits._
      LakeTable.create(spark, root,
        Seq(("alpha", 1L), ("bravo", 2L)).toDF("status", "v"),
        statsCols = Seq("status"))
      LakeTable.append(spark, root,
        Seq(("mike", 3L), ("november", 4L)).toDF("status", "v"),
        statsCols = Seq("status"))
      LakeTable.append(spark, root,
        Seq(("xray", 5L), ("zulu", 6L)).toDF("status", "v"),
        statsCols = Seq("status"))
      // equality prunes to exactly one group, zero file opens elsewhere
      assert(LakeTable.selectGroupsEq(spark, root, "status", "mike")
        .size == 1)
      // a value outside every [min,max] prunes ALL groups
      assert(LakeTable.selectGroupsEq(spark, root, "status", "container")
        .isEmpty)
      assert(LakeTable.readWhereEq(spark, root, "status", "zulu")
        .select(col("v")).head().getLong(0) == 6L)
      // numeric probes on a numeric column coexist (both stat kinds
      // in one manifest)
      LakeTable.append(spark, root,
        Seq(("golf", 100L)).toDF("status", "v"),
        statsCols = Seq("status", "v"))
      assert(LakeTable.readWhereEq(spark, root, "status", "golf")
        .count() == 1)
      // >64-char min/max: the stat drops for that group (over-scan,
      // never a wrong prune) — every probe admits it, rows stay exact
      val long1 = "a" * 80
      LakeTable.append(spark, root,
        Seq((long1, 7L)).toDF("status", "v"), statsCols = Seq("status"))
      val v = LakeTable.latestVersion(spark, root).get
      val meta = LakeTable.manifestMetaAt(spark, root, v)
      val statKeys = meta.keys.filter(_.startsWith("stat:")).toSeq
      // 4 groups with status stats + 1 v stat; the long-string group
      // carries NO status stat
      assert(statKeys.count(_.endsWith(":status")) == 4)
      assert(LakeTable.readWhereEq(spark, root, "status", long1)
        .select(col("v")).head().getLong(0) == 7L)
      // the stat-less group admits every equality probe
      assert(LakeTable.selectGroupsEq(spark, root, "status", "mike")
        .size == 2)
    }
  }
}
