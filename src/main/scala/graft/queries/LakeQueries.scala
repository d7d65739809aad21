package graft.queries

import graft.Tables
import graft.sources.{GraftDvScanMetrics, LakeAnnIndex, LakeMinHashIndex, LakeTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [EXT] Table-format surface as an oracle-checked query: drive the
  * versioned LakeTable through create → append → DELETE WHERE → MERGE
  * and read every version back via time travel. Each version's row
  * count is derivable from the source `orders` table with plain SQL, so
  * the DuckDB oracle checks the whole copy-on-write commit chain —
  * snapshot isolation, three-valued DELETE semantics, upsert-as-insert —
  * by value, not just "it ran".
  */
object LakeQueries {

  /** Typed refusal probe: runs `body`, returns 0 when it succeeds and
    * 1 when it throws an exception whose message — searched down the
    * cause chain, since SQL execution paths wrap the engine's refusal —
    * contains `expect`, the fragment the documented refusal carries.
    * ANY other exception (an NPE, an unrelated AnalysisException)
    * RETHROWS, so the oracle row fails loudly instead of counting a
    * crash as the documented refusal. */
  private def refused(expect: String)(body: => Any): Long =
    try { body; 0L }
    catch { case e: Exception =>
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).take(10)
        .flatMap(t => Option(t.getMessage)).mkString(" | ")
      if (msgs.contains(expect)) 1L else throw e
    }

  /** Version ordinal → row count across the four-commit history. The
    * table lives in a per-run temp dir; counts are materialized before
    * cleanup so the returned frame owns its data. */
  def lakeVersionCounts(s: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.load(s, dir, "orders")
    val counts = graft.util.Tmp.withTempDir("graft_lake_q91") { rootPath =>
      val root = rootPath.toString
      // v1: snapshot of pre-2000 orders
      LakeTable.create(s, root,
        orders.filter(to_date(col("o_orderdate")) < lit("2000-01-01")))
      // v2: append the rest — full table
      LakeTable.append(s, root,
        orders.filter(to_date(col("o_orderdate")) >= lit("2000-01-01")))
      // v3: DELETE WHERE status = 'F' (TRUE-only removal)
      LakeTable.deleteWhere(s, root, col("o_orderstatus") === "F")
      // v4: MERGE of rows with shifted keys — pure inserts (no real
      // o_orderkey reaches 10⁹ at any test SF)
      LakeTable.merge(s, root,
        orders.filter(col("o_custkey") % 97 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L)),
        "o_orderkey")
      LakeTable.versions(s, root).sorted.zipWithIndex.map {
        case (v, i) =>
          ((i + 1).toLong, LakeTable.read(s, root, Some(v)).count())
      }
    }
    import s.implicits._
    counts.toDF("version_ord", "n_rows").orderBy(col("version_ord"))
  }

  /** Streaming sink INTO the table format under the oracle (S14's sink
    * half; the memory-sink queries q92/q94/q107 cover the source+state
    * half): the events parquet is split into two staged files and
    * streamed with `maxFilesPerTrigger=1`, so the idempotent foreachBatch
    * sink ([[LakeTable.streamAppend]] — batchId recorded in each commit's
    * manifest, replayed batches skipped) commits exactly one table
    * version per micro-batch. The final table must hold every source
    * event exactly once, and the version count must equal the batch
    * count — both restated in plain SQL by the oracle. */
  def streamSinkCounts(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    graft.util.LocalFrame.withNanosAsLong(s) {
      val path = s"$dir/events.parquet"
      val rawSchema = s.read.parquet(path).schema
      graft.util.Tmp.withTempDir("q110_stage_") { stage =>
        // two single-file slices → two deterministic micro-batches
        def writeSlice(f: DataFrame, name: String): Unit = {
          val out = stage.resolve(s"${name}_out")
          f.coalesce(1).write.parquet(out.toString)
          val part = {
            val l = Files.list(out)
            try l.iterator().asScala
              .find(_.getFileName.toString.endsWith(".parquet")).get
            finally l.close()
          }
          Files.move(part, stage.resolve(s"$name.parquet"))
          graft.util.Tmp.deleteRecursively(out)
        }
        val src = s.read.parquet(path)
        writeSlice(src.filter(col("event_id") % 2 === 0), "even")
        writeSlice(src.filter(col("event_id") % 2 =!= 0), "odd")
        val streamed = Tables.normalizeTs(s.readStream.schema(rawSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(stage.toString))
        graft.util.Tmp.withTempDir("q110_lake_") { rootPath =>
          val root = rootPath.toString
          val q = LakeTable.streamAppend(streamed, root)
          try q.processAllAvailable() finally q.stop()
          val nVersions = LakeTable.versions(s, root).size.toLong
          val res = LakeTable.read(s, root)
            .groupBy(col("event_type"))
            .agg(count(lit(1)).as("n"),
              sum(col("value").cast("decimal(18,2)")).cast("double")
                .as("total_value"))
            .withColumn("n_versions", lit(nVersions))
            .orderBy(col("event_type"))
          graft.util.LocalFrame.materialize(res)
        }
      }
    }
  }

  /** The DSv2 connector under the oracle: build a three-version table
    * (create pre-2000 orders → append the rest → DELETE 'F'), then read
    * BOTH the latest snapshot and version 1 through
    * `spark.read.format("graft-lake")` — the format-string path a user
    * porting `format("delta")` code would take. The per-status counts of
    * the latest snapshot and the time-travelled v1 row count are all
    * derivable from `orders` in plain SQL, which the oracle restates.
    * The scan itself is Spark's vectorized parquet (the connector only
    * resolves the manifest), so this also pins "format read ≡ API read"
    * by value. */
  def dsv2FormatRead(s: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.load(s, dir, "orders")
    graft.util.Tmp.withTempDir("graft_lake_q114") { rootPath =>
      val root = rootPath.toString
      LakeTable.create(s, root,
        orders.filter(to_date(col("o_orderdate")) < lit("2000-01-01")))
      LakeTable.append(s, root,
        orders.filter(to_date(col("o_orderdate")) >= lit("2000-01-01")))
      LakeTable.deleteWhere(s, root, col("o_orderstatus") === "F")
      val latest = s.read.format("graft-lake").load(root)
      val v1Rows = s.read.format("graft-lake")
        .option("versionAsOf", 1).load(root).count()
      graft.util.LocalFrame.materialize(
        latest.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"))
          .withColumn("v1_rows", lit(v1Rows))
          .orderBy(col("o_orderstatus")))
    }
  }

  /** The SQL-catalog path under the oracle (q114's parser-path sibling):
    * the same three-version table, registered under a
    * [[graft.sources.GraftLakeCatalog]] warehouse and queried purely as
    * SQL text — name-based resolution plus the standard `VERSION AS OF`
    * time-travel clause. A fresh catalog name is registered per run
    * because Spark caches catalog instances by name and each run uses a
    * new temp warehouse. */
  def catalogSqlRead(s: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.load(s, dir, "orders")
    graft.util.Tmp.withTempDir("graft_lake_q117") { whPath =>
      val wh = whPath.toString
      val root = s"$wh/orders_t"
      LakeTable.create(s, root,
        orders.filter(to_date(col("o_orderdate")) < lit("2000-01-01")))
      LakeTable.append(s, root,
        orders.filter(to_date(col("o_orderdate")) >= lit("2000-01-01")))
      LakeTable.deleteWhere(s, root, col("o_orderstatus") === "F")
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try graft.util.LocalFrame.materialize(s.sql(
        s"""SELECT o_orderpriority, count(*) AS n,
           |       (SELECT count(*) FROM $cat.orders_t VERSION AS OF 1)
           |         AS v1_rows
           |FROM $cat.orders_t
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))
      finally {
        // no-conf-leak rule: drop the per-run catalog registration (the
        // CatalogManager's cached instance becomes unreachable with it)
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    }
  }

  /** The table-maintenance chain under the oracle (q91 covers the DML
    * chain; this covers the OPERATIONAL one): five small appends — the
    * classic streaming small-files pathology — then OPTIMIZE-style
    * compaction clustered by status, then VACUUM retaining two versions.
    * The oracle pins what SQL can know: the final per-status counts
    * (compaction must not change data), the retained version count, the
    * pre-compaction snapshot's row count (time travel must survive
    * vacuum for retained versions), and a files-reduced boolean (the
    * point of compaction). At 100 TB this chain is what keeps scan task
    * counts sane under continuous ingestion. */
  def maintenanceChain(s: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.load(s, dir, "orders")
    graft.util.Tmp.withTempDir("graft_lake_q118") { rootPath =>
      val root = rootPath.toString
      LakeTable.create(s, root, orders.filter(col("o_custkey") % 5 === 0))
      (1 to 4).foreach(i =>
        LakeTable.append(s, root, orders.filter(col("o_custkey") % 5 === i)))
      def nFiles: Long =
        LakeTable.read(s, root).select(input_file_name()).distinct().count()
      val filesBefore = nFiles
      val vCompact = LakeTable.compact(s, root, targetPartitions = 2,
        clusterBy = Some("o_orderstatus"))
      val filesAfter = nFiles
      LakeTable.vacuum(s, root, keepVersions = 2)
      val nVersions = LakeTable.versions(s, root).size.toLong
      // the retained pre-compaction version must still time-travel
      val prevRows = LakeTable.read(s, root, Some(vCompact - 1)).count()
      graft.util.LocalFrame.materialize(
        LakeTable.read(s, root)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"))
          .withColumn("n_versions", lit(nVersions))
          .withColumn("files_reduced", lit(filesAfter < filesBefore))
          .withColumn("prev_version_rows", lit(prevRows))
          .orderBy(col("o_orderstatus")))
    }
  }

  /** q131: change-data feed across a four-commit history
    * ([[LakeTable.changes]] — metadata-pruned snapshot diff): per step,
    * the insert/update/delete row counts of the transition. Every count
    * is derivable from `orders` in plain SQL:
    * v1 = custkey%10<5 slice → v2 appends the rest (pure inserts) →
    * v3 DELETEs status 'F' → v4 MERGE-doubles o_totalprice for
    * custkey%97=0 survivors (pure updates — every such key exists in v3
    * and the doubled price always differs). */
  def lakeCdc(s: SparkSession, dir: String): DataFrame = {
    // quarter-subset: the semantics under test are the commit/diff
    // protocol, not scan throughput — COW-rewriting the full table per
    // step only re-measures parquet IO (oracle restates the same slice)
    val orders = graft.Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 4 === 0)
    // the staged table is tiny — 32-way shuffles would make every one of
    // the ~20 sub-second jobs pay scheduling overhead for empty tasks
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q131") { rootPath =>
      val root = rootPath.toString
      LakeTable.create(s, root, orders.filter(col("o_custkey") % 10 < 5))
      LakeTable.append(s, root, orders.filter(col("o_custkey") % 10 >= 5))
      LakeTable.deleteWhere(s, root, col("o_orderstatus") === "F")
      LakeTable.merge(s, root,
        orders.filter(col("o_custkey") % 97 === 0 &&
            col("o_orderstatus") =!= "F")
          .withColumn("o_totalprice", col("o_totalprice") * 2),
        "o_orderkey")
      val vs = LakeTable.versions(s, root).sorted
      val steps = vs.init.zip(vs.tail).zipWithIndex.map {
        case ((from, to), i) =>
          val d = LakeTable.changes(s, root, from, to, "o_orderkey")
            .groupBy(col("_change_type")).agg(count(lit(1)).as("n"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          ((i + 1).toLong, d.getOrElse("insert", 0L),
            d.getOrElse("update_postimage", 0L), d.getOrElse("delete", 0L))
      }
      import s.implicits._
      steps.toDF("step", "n_insert", "n_update", "n_delete")
        .orderBy(col("step"))
    }
    }
  }

  /** q132: streaming upsert into the table format
    * ([[LakeTable.streamMerge]] — the foreachBatch+MERGE idiom): batch 1
    * lands every event, batch 2 replays corrections (value+1000 for
    * event_id%10=0) keyed on event_id. File modification times order the
    * micro-batches deterministically; the final table must hold each
    * event exactly once with corrections applied — restated in SQL by
    * the oracle. */
  def streamUpsertState(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    graft.util.LocalFrame.withNanosAsLong(s) {
      val path = s"$dir/events.parquet"
      val rawSchema = s.read.parquet(path).schema
      graft.util.Tmp.withTempDir("q132_stage_") { stage =>
        def writeSlice(f: DataFrame, name: String, mtime: Long): Unit = {
          val out = stage.resolve(s"${name}_out")
          f.coalesce(1).write.parquet(out.toString)
          val part = {
            val l = Files.list(out)
            try l.iterator().asScala
              .find(_.getFileName.toString.endsWith(".parquet")).get
            finally l.close()
          }
          val dest = stage.resolve(s"$name.parquet")
          Files.move(part, dest)
          // the file source processes files oldest-first; pin an explicit
          // mtime gap so "base before corrections" survives fast writes
          Files.setLastModifiedTime(dest,
            java.nio.file.attribute.FileTime.fromMillis(mtime))
          graft.util.Tmp.deleteRecursively(out)
        }
        val src = s.read.parquet(path)
        val t0 = System.currentTimeMillis() - 60000
        writeSlice(src, "base", t0)
        writeSlice(src.filter(col("event_id") % 10 === 0)
            .withColumn("value", col("value") + 1000.0),
          "corrections", t0 + 30000)
        val streamed = Tables.normalizeTs(s.readStream.schema(rawSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(stage.toString))
        graft.util.Tmp.withTempDir("q132_lake_") { rootPath =>
          val root = rootPath.toString
          val q = LakeTable.streamMerge(streamed, root, "event_id")
          try q.processAllAvailable() finally q.stop()
          val res = LakeTable.read(s, root)
            .groupBy(col("event_type"))
            .agg(count(lit(1)).as("n"),
              sum(col("value").cast("decimal(18,2)")).cast("double")
                .as("total_value"))
            .orderBy(col("event_type"))
          graft.util.LocalFrame.materialize(res)
        }
      }
    }
  }

  /** q133: Z-order clustering + two-dimensional data skipping
    * ([[graft.functions.ZOrderInterleave]] + [[LakeTable.createClustered]]):
    * orders are laid out by the Morton interleave of rank-scaled
    * (o_custkey, days-since-1992), then two corner-range reads — one per
    * dimension — must (a) return exactly the rows plain SQL predicates
    * select and (b) PRUNE file groups at the manifest level for BOTH
    * columns, which a single-column sort layout cannot do. Counts are
    * SQL-exact; the pruning booleans are pinned TRUE (8 z-range groups
    * ⇒ a top-decile corner on either axis excludes at least the groups
    * on the wrong side of that axis's top z-bit). */
  def zorderPruning(s: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.load(s, dir, "orders")
      .withColumn("o_days",
        datediff(col("o_orderdate"), lit("1992-01-01")).cast("long"))
    val b = orders.agg(
      min(col("o_custkey")).cast("double"), max(col("o_custkey")).cast("double"),
      min(col("o_days")).cast("double"), max(col("o_days")).cast("double"))
      .head()
    val (ckLo, ckHi, dLo, dHi) =
      (b.getDouble(0), b.getDouble(1), b.getDouble(2), b.getDouble(3))
    def scale16(c: org.apache.spark.sql.Column, lo: Double, hi: Double) =
      ((c.cast("double") - lo) * (65535.0 / math.max(hi - lo, 1.0)))
        .cast("long")
    val keyed = orders.withColumn("zkey", graft.functions.ZOrderInterleave(
      scale16(col("o_custkey"), ckLo, ckHi), scale16(col("o_days"), dLo, dHi)))
    graft.util.Tmp.withTempDir("graft_lake_q133") { rootPath =>
      val root = rootPath.toString
      LakeTable.createClustered(s, root, keyed, "zkey", numGroups = 8,
        statsCols = Seq("o_custkey", "o_days"))
      val nGroups = LakeTable.dataDirPaths(s, root).size
      def corner(column: String, lo: Double, hi: Double): (Long, Boolean) = {
        val kept = LakeTable.selectGroups(s, root, column, lo, hi).size
        (LakeTable.readWhere(s, root, column, lo, hi).count(),
          kept < nGroups)
      }
      val (ckRows, ckPruned) = corner("o_custkey", 0.9 * ckHi, ckHi)
      val (dRows, dPruned) = corner("o_days", 0.9 * dHi, dHi)
      import s.implicits._
      Seq(("custkey", ckRows, ckPruned), ("days", dRows, dPruned))
        .toDF("dim", "n_rows", "pruned")
        .orderBy(col("dim"))
    }
  }

  /** q169: manifest-stats data skipping through PLAIN SQL — the DSv2
    * read path's planning-time pruning
    * ([[graft.sources.GraftLakeStreamScanBuilder]]): a key-clustered
    * stats table queried with `SELECT … WHERE o_custkey BETWEEN …`
    * through the catalog must (a) answer exactly (SQL-restatable) and
    * (b) plan a scan whose file index holds FEWER paths than the table
    * has groups — the pinned boolean. Unlike q133 this never calls the
    * readWhere API: the pruning rides the ordinary SQL WHERE. */
  def sqlStatsPruning(s: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.load(s, dir, "orders")
    graft.util.Tmp.withTempDir("graft_lake_q169") { whPath =>
      val wh = whPath.toString
      LakeTable.createClustered(s, s"$wh/orders_t", orders, "o_custkey",
        numGroups = 8, statsCols = Seq("o_custkey"))
      val nGroups = LakeTable.dataDirPaths(s, s"$wh/orders_t").size
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        val q = s.sql(
          s"""SELECT count(*) AS n,
             |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
             |            AS DOUBLE) AS revenue
             |FROM $cat.orders_t
             |WHERE o_custkey BETWEEN 0 AND 99""".stripMargin)
        val plannedPaths =
          "InMemoryFileIndex\\((\\d+) paths?\\)".r
            .findFirstMatchIn(q.queryExecution.executedPlan.toString)
            .map(_.group(1).toInt)
        val row = q.head()
        import s.implicits._
        Seq((row.getLong(0), row.getDouble(1),
          plannedPaths.exists(_ < nGroups)))
          .toDF("n", "revenue", "pruned")
      } finally {
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    }
  }

  /** q176: `TIMESTAMP AS OF` time travel
    * ([[graft.sources.GraftLakeCatalog]] resolves the newest version
    * committed at or before the timestamp via manifest mtimes): a
    * two-version table read at a between-commits instant (captured at
    * build time) must see ONLY version 1, and at a far-future instant
    * the latest — both restatable from `orders`. The between-commit
    * counts are what pin the mtime resolution; the far-future read pins
    * the latest-wins rule. */
  def sqlTimestampAsOf(s: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.load(s, dir, "orders")
    graft.util.Tmp.withTempDir("graft_lake_q176") { whPath =>
      val wh = whPath.toString
      LakeTable.create(s, s"$wh/orders_t",
        orders.filter(to_date(col("o_orderdate")) < lit("1996-01-01")))
      Thread.sleep(30)
      val betweenIso = java.time.Instant
        .ofEpochMilli(System.currentTimeMillis()).toString
      Thread.sleep(30)
      LakeTable.append(s, s"$wh/orders_t",
        orders.filter(to_date(col("o_orderdate")) >= lit("1996-01-01")))
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        graft.util.LocalFrame.materialize(s.sql(
          s"""SELECT
             |  (SELECT count(*) FROM $cat.orders_t
             |   TIMESTAMP AS OF '$betweenIso') AS v1_rows,
             |  (SELECT count(*) FROM $cat.orders_t
             |   TIMESTAMP AS OF '2999-01-01') AS latest_rows""".stripMargin))
      } finally {
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    }
  }

  /** q134: RESTORE + DESCRIBE HISTORY under the oracle
    * ([[LakeTable.restore]] / [[LakeTable.history]]): create → append →
    * DELETE 'F' → RESTORE v2. The restore must undo the delete without
    * rewriting history (v3 still time-travels to the deleted state), the
    * operation log must read back exactly, and every version's row count
    * is plain SQL over `orders`. */
  def lakeRestoreHistory(s: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.load(s, dir, "orders")
    graft.util.Tmp.withTempDir("graft_lake_q134") { rootPath =>
      val root = rootPath.toString
      LakeTable.create(s, root, orders.filter(col("o_custkey") % 10 < 5))
      LakeTable.append(s, root, orders.filter(col("o_custkey") % 10 >= 5))
      LakeTable.deleteWhere(s, root, col("o_orderstatus") === "F")
      LakeTable.restore(s, root, 2)
      val rows = LakeTable.history(s, root).map { case (v, op, _) =>
        (v.toLong, op, LakeTable.read(s, root, Some(v)).count())
      }
      import s.implicits._
      rows.toDF("version_ord", "op", "n_rows").orderBy(col("version_ord"))
    }
  }

  /** q136: incremental materialized view over the CDC feed
    * ([[graft.operators.IncrementalView]]): a per-status count/revenue
    * view is initialized on v1 of the q131 history and then maintained
    * PURELY from [[LakeTable.changes]] deltas across append → delete →
    * merge — the final view must equal the direct aggregate of the final
    * snapshot, which the oracle restates from `orders` (delete 'F',
    * double price for custkey%97 survivors). Exact decimal sums make the
    * incremental result bit-identical to recomputation. */
  def incrementalView(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.IncrementalView
    // same quarter-subset rationale as q131
    val orders = graft.Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 4 === 0)
    // same small-stage shuffle scoping as q131
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q136") { rootPath =>
      val root = rootPath.toString
      LakeTable.create(s, root, orders.filter(col("o_custkey") % 10 < 5))
      LakeTable.append(s, root, orders.filter(col("o_custkey") % 10 >= 5))
      LakeTable.deleteWhere(s, root, col("o_orderstatus") === "F")
      LakeTable.merge(s, root,
        orders.filter(col("o_custkey") % 97 === 0 &&
            col("o_orderstatus") =!= "F")
          .withColumn("o_totalprice", col("o_totalprice") * 2),
        "o_orderkey")
      val groupCols = Seq("o_orderstatus")
      val sums = Seq("revenue" -> "o_totalprice")
      val vs = LakeTable.versions(s, root).sorted
      var view = IncrementalView.initial(
        LakeTable.read(s, root, Some(vs.head)), groupCols, sums)
      for ((from, to) <- vs.init.zip(vs.tail))
        view = IncrementalView.applyChanges(view,
          LakeTable.changes(s, root, from, to, "o_orderkey"),
          groupCols, sums)
      graft.util.LocalFrame.materialize(
        view.select(col("o_orderstatus"), col("n"),
            col("revenue").cast("double").as("revenue"))
          .orderBy(col("o_orderstatus")))
    }
    }
  }

  /** q141: the CHECKPOINTED commit-log read path under the oracle
    * (q91 covers the manifest path; this covers [[graft.sources.DeltaLog]]'s
    * bounded replay). Eleven commits (create + 10 two-nation appends) —
    * the 10th commit auto-writes the classic-form checkpoint at delta
    * version 9 per the Delta default cadence. Every JSON commit the
    * checkpoint covers is then DELETED, and both snapshot reads (at the
    * checkpoint version and at latest) must still reconstruct exactly —
    * checkpoint + JSON tail, no full log walk. Counts are restated from
    * `nation` by the oracle; `pruned_ok` pins that the checkpoint and
    * `_last_checkpoint` pointer exist on disk. */
  def checkpointReadCounts(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.DeltaLog
    val nation = graft.Tables.load(s, dir, "nation")
    val row = graft.util.Tmp.withTempDir("graft_lake_q141") { rootPath =>
      val root = rootPath.toString
      LakeTable.create(s, root, nation.filter(col("n_nationkey") < 5))
      for (i <- 0 until 10)
        LakeTable.append(s, root, nation.filter(
          col("n_nationkey") >= 5 + 2 * i && col("n_nationkey") < 5 + 2 * (i + 1)))
      val nVersions = LakeTable.versions(s, root).size.toLong
      val cps = DeltaLog.checkpointVersions(s, root)
      val prunedOk = cps == Seq(9L) &&
        java.nio.file.Files.exists(rootPath.resolve("_delta_log/_last_checkpoint"))
      // prune every JSON commit the checkpoint covers; replay must not
      // need them (delta 0-9 = manifest 1-10)
      for (v <- 0L to 9L)
        java.nio.file.Files.delete(
          rootPath.resolve(f"_delta_log/$v%020d.json"))
      val rowsAtCp = DeltaLog.read(s, root, Some(9L)).count()
      val rowsLatest = DeltaLog.read(s, root).count()
      (nVersions, 9L, rowsAtCp, rowsLatest, prunedOk)
    }
    import s.implicits._
    Seq(row).toDF("n_versions", "cp_version", "rows_at_cp",
      "rows_latest", "pruned_ok")
  }

  /** q151: SQL `DELETE FROM` through the DSv2 catalog
    * ([[graft.sources.GraftLakeTable]]'s SupportsDelete): the WHERE
    * clause is pushed down as source filters, translated to a Column
    * predicate, and lands as a normal copy-on-write deleteWhere commit
    * — so the statement creates table version 2 and time travel still
    * reads version 1 intact, both restated by the oracle. This is the
    * DML path a SQL-only user takes against the table format; appends
    * and overwrites stay API-only by design. */
  def sqlDeleteDsv2(s: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.load(s, dir, "orders")
    graft.util.Tmp.withTempDir("graft_lake_q151") { whPath =>
      val wh = whPath.toString
      LakeTable.create(s, s"$wh/orders_t", orders)
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        s.sql(s"""DELETE FROM $cat.orders_t
                 |WHERE o_orderstatus = 'F' AND o_totalprice > 150000"""
          .stripMargin)
        graft.util.LocalFrame.materialize(s.sql(
          s"""SELECT o_orderstatus, count(*) AS n,
             |       (SELECT count(*) FROM $cat.orders_t VERSION AS OF 1)
             |         AS v1_rows
             |FROM $cat.orders_t
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))
      } finally {
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    }
  }

  /** q152: SQL `INSERT INTO` through the DSv2 catalog (q151's write
    * sibling — [[graft.sources.GraftLakeTable]]'s V1Write bridge): the
    * statement's rows land as a normal append commit, so the insert
    * creates version 2 and time travel still reads the pre-insert
    * snapshot. Together q151+q152 are the SQL DML surface of the table
    * format; the oracle restates both version counts from `orders`. */
  def sqlInsertDsv2(s: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.load(s, dir, "orders")
    orders.createOrReplaceTempView("q152_orders_src")
    graft.util.Tmp.withTempDir("graft_lake_q152") { whPath =>
      val wh = whPath.toString
      LakeTable.create(s, s"$wh/orders_t",
        orders.filter(year(col("o_orderdate")) < 1996))
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        s.sql(s"""INSERT INTO $cat.orders_t
                 |SELECT * FROM q152_orders_src
                 |WHERE year(o_orderdate) >= 1996""".stripMargin)
        graft.util.LocalFrame.materialize(s.sql(
          s"""SELECT o_orderstatus, count(*) AS n,
             |       (SELECT count(*) FROM $cat.orders_t VERSION AS OF 1)
             |         AS v1_rows
             |FROM $cat.orders_t
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))
      } finally {
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    }
  }

  /** q155: SQL `UPDATE` and `MERGE INTO` through the DSv2 group-replace
    * protocol ([[graft.sources.GraftRowLevelOperation]] — the same
    * ReplaceData machinery Iceberg's copy-on-write mode rides): the
    * UPDATE doubles 'P'-status prices (version 2), the MERGE upserts a
    * key-shifted slice as pure inserts (version 3), and the final
    * per-status aggregate plus all three versions' row counts are
    * restated from `orders` by the oracle. Granularity is the FILE
    * GROUP: dirs whose manifest stats disprove the condition are kept
    * by name, not rewritten (this table records no stats, so these
    * statements conservatively rewrite all groups — the stats-pruned
    * path is plan-asserted in GraftLakeCatalogSpec). */
  def sqlMergeDsv2(s: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.load(s, dir, "orders")
    orders.createOrReplaceTempView("q155_orders_src")
    graft.util.Tmp.withTempDir("graft_lake_q155") { whPath =>
      val wh = whPath.toString
      LakeTable.create(s, s"$wh/orders_t", orders)
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        s.sql(s"""UPDATE $cat.orders_t SET o_totalprice = o_totalprice * 2
                 |WHERE o_orderstatus = 'P'""".stripMargin)
        s.sql(s"""MERGE INTO $cat.orders_t t
                 |USING (SELECT o_orderkey + 1000000000 AS o_orderkey,
                 |              o_custkey, o_orderstatus, o_totalprice,
                 |              o_orderdate, o_orderpriority
                 |       FROM q155_orders_src
                 |       WHERE o_custkey % 97 = 0) u
                 |ON t.o_orderkey = u.o_orderkey
                 |WHEN MATCHED THEN UPDATE SET *
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        graft.util.LocalFrame.materialize(s.sql(
          s"""SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
             |            AS DOUBLE) AS revenue,
             |       (SELECT count(*) FROM $cat.orders_t VERSION AS OF 1)
             |         AS v1_rows,
             |       (SELECT count(*) FROM $cat.orders_t VERSION AS OF 2)
             |         AS v2_rows
             |FROM $cat.orders_t
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))
      } finally {
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    }
  }

  /** q156: the FULL MERGE clause surface in one statement — conditional
    * `WHEN MATCHED … THEN DELETE`, `WHEN MATCHED THEN UPDATE`, `WHEN NOT
    * MATCHED THEN INSERT`, and Spark 4's `WHEN NOT MATCHED BY SOURCE …
    * THEN DELETE` — through the same group-replace rewrite as q155.
    * Because the source is derived from `orders` itself by key,
    * membership in every clause is row-local and the oracle restates the
    * whole DML as one CASE pipeline. Clause-order semantics (first
    * matching clause wins) are what make the conditional-DELETE /
    * unconditional-UPDATE pair meaningful. */
  def sqlMergeClauses(s: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.load(s, dir, "orders")
    orders.createOrReplaceTempView("q156_orders_src")
    graft.util.Tmp.withTempDir("graft_lake_q156") { whPath =>
      val wh = whPath.toString
      LakeTable.create(s, s"$wh/orders_t", orders)
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        s.sql(s"""MERGE INTO $cat.orders_t t
                 |USING (SELECT o_orderkey, o_custkey, o_orderstatus,
                 |              o_totalprice + 1000 AS o_totalprice,
                 |              o_orderdate, o_orderpriority
                 |       FROM q156_orders_src WHERE o_custkey % 50 = 0
                 |       UNION ALL
                 |       SELECT o_orderkey + 2000000000, o_custkey,
                 |              o_orderstatus, o_totalprice + 1000,
                 |              o_orderdate, o_orderpriority
                 |       FROM q156_orders_src WHERE o_custkey % 101 = 0) u
                 |ON t.o_orderkey = u.o_orderkey
                 |WHEN MATCHED AND u.o_totalprice > 200000 THEN DELETE
                 |WHEN MATCHED THEN UPDATE SET *
                 |WHEN NOT MATCHED THEN INSERT *
                 |WHEN NOT MATCHED BY SOURCE AND t.o_orderstatus = 'P'
                 |  THEN DELETE""".stripMargin)
        graft.util.LocalFrame.materialize(s.sql(
          s"""SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
             |            AS DOUBLE) AS revenue
             |FROM $cat.orders_t
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))
      } finally {
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    }
  }

  /** q159: the lake table as a STREAMING SOURCE
    * ([[graft.sources.GraftLakeMicroBatchStream]] — the
    * `readStream.format("delta")` capability): a two-version table is
    * streamed while a third version lands mid-flight; offsets are
    * manifest versions, so the three commits arrive as micro-batches
    * exactly once and the streamed per-status aggregate equals the
    * batch aggregate of the final snapshot, which the oracle restates
    * from `orders`. */
  def streamingLakeRead(s: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.load(s, dir, "orders")
    graft.util.Tmp.withTempDir("graft_lake_q159") { rootPath =>
      val root = rootPath.toString
      val pre = orders.filter(to_date(col("o_orderdate")) < lit("1996-01-01"))
      val post = orders.filter(to_date(col("o_orderdate")) >= lit("1996-01-01"))
      LakeTable.create(s, root, pre.filter(col("o_orderkey") % 2 === 0))
      LakeTable.append(s, root, pre.filter(col("o_orderkey") % 2 =!= 0))
      val sink = "q159_sink_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      val q = s.readStream.format("graft-lake").load(root)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("revenue"))
        .writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
      try {
        q.processAllAvailable()
        // a third commit lands while the stream is live
        LakeTable.append(s, root, post)
        q.processAllAvailable()
        val res = s.table(sink)
          .withColumn("n_versions",
            lit(LakeTable.versions(s, root).size.toLong))
          .orderBy(col("o_orderstatus"))
        graft.util.LocalFrame.materialize(res)
      } finally {
        q.stop()
        s.catalog.dropTempView(sink)
      }
    }
  }

  /** q162: SQL schema evolution — `ALTER TABLE … ADD COLUMNS` as a
    * metadata-only commit ([[LakeTable.evolveSchema]]: same file
    * groups, evolved schema in the manifest, zero data rewritten), then
    * an INSERT that populates the new column. Old rows read the column
    * as typed nulls; the evolved shape survives the append commit
    * (carry-forward); the final aggregate over both generations is
    * restated from `orders` by the oracle. */
  def sqlSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.load(s, dir, "orders")
    orders.createOrReplaceTempView("q162_orders_src")
    graft.util.Tmp.withTempDir("graft_lake_q162") { whPath =>
      val wh = whPath.toString
      LakeTable.create(s, s"$wh/orders_t", orders)
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        s.sql(s"ALTER TABLE $cat.orders_t ADD COLUMNS (discount DOUBLE)")
        s.sql(s"""INSERT INTO $cat.orders_t
                 |SELECT o_orderkey + 3000000000, o_custkey, o_orderstatus,
                 |       o_totalprice, o_orderdate, o_orderpriority,
                 |       o_totalprice / 10 AS discount
                 |FROM q162_orders_src WHERE o_custkey % 77 = 0""".stripMargin)
        // DECIMAL(18,3), not (18,2): discount = totalprice/10 carries
        // exactly 3 decimals, and a 3-decimal double quantizes to scale-3
        // identically under Spark's shortest-repr HALF_UP and DuckDB's
        // binary-value scaling — at scale 2 the x.xx5 boundary values
        // round differently per engine (bit them at sf0.001)
        graft.util.LocalFrame.materialize(s.sql(
          s"""SELECT o_orderstatus, count(*) AS n,
             |       count(discount) AS n_discounted,
             |       CAST(sum(CAST(coalesce(discount, 0) AS DECIMAL(18,3)))
             |            AS DOUBLE) AS disc_total
             |FROM $cat.orders_t
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))
      } finally {
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    }
  }

  /** q163: SQL `CREATE TABLE` (empty, declared schema —
    * [[LakeTable.createEmpty]]: a v1 manifest with zero file groups and
    * a `#schema=` override) → `INSERT INTO` → `CREATE TABLE … AS
    * SELECT` reading the first table. CTAS through a plain TableCatalog
    * is create-then-append (two versions); the final read of the
    * derived table is restated from `orders` by the oracle. */
  def sqlCreateCtas(s: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.load(s, dir, "orders")
    orders.createOrReplaceTempView("q163_orders_src")
    graft.util.Tmp.withTempDir("graft_lake_q163") { whPath =>
      val wh = whPath.toString
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        s.sql(s"""CREATE TABLE $cat.o_small
                 |  (o_orderstatus STRING, o_totalprice DOUBLE)""".stripMargin)
        s.sql(s"""INSERT INTO $cat.o_small
                 |SELECT o_orderstatus, o_totalprice FROM q163_orders_src
                 |WHERE o_custkey % 10 = 0""".stripMargin)
        s.sql(s"""CREATE TABLE $cat.seg AS
                 |SELECT o_orderstatus, count(*) AS n,
                 |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                 |            AS DOUBLE) AS revenue
                 |FROM $cat.o_small GROUP BY o_orderstatus""".stripMargin)
        graft.util.LocalFrame.materialize(s.sql(
          s"SELECT * FROM $cat.seg ORDER BY o_orderstatus"))
      } finally {
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    }
  }

  /** q181: Bloom-filter file-group skipping — the equality-lookup index
    * min/max stats can't provide. Documents are clustered by
    * `doc_id % 8`, so every group's doc_id [min,max] spans essentially
    * the whole key range (modular residue classes) and range stats prune
    * NOTHING for a point probe; [[LakeTable.indexBloom]] then builds one
    * bloom sidecar per group (distributed BloomBuildAgg pass, metadata-
    * only commit) and [[LakeTable.readWhereEq]] consults it before any
    * parquet footer opens. Five md5-chosen present keys must each scan
    * fewer groups than the table holds (a non-owning group survives only
    * by false positive, p=0.01 each — all 7 surviving has p≈1e-14), and
    * one absent in-format key returns zero rows. Row payloads (`lang`)
    * value-check against DuckDB's plain filter; `pruned` booleans are
    * the q84-style pinned gate. At 100 TB this is the needle lookup:
    * manifest + sidecars on the driver, one surviving group scanned. */
  def bloomSkipping(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = graft.Tables.load(s, dir, "documents")
    graft.util.Tmp.withTempDir("graft_lake_q181") { rootPath =>
      val root = rootPath.toString
      LakeTable.createClustered(s, root,
        d.withColumn("grp", col("doc_id") % 8), "grp",
        numGroups = 8, statsCols = Nil)
      LakeTable.indexBloom(s, root, Seq("doc_id"))
      val total = LakeTable.dataDirPaths(s, root).size
      val probes = d.select(col("doc_id"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        .limit(5).as[Long].collect()
      val absent = d.agg(max(col("doc_id"))).head().getLong(0) + 999983L
      val rows = probes.toSeq.zipWithIndex.map { case (id, i) =>
        val kept = LakeTable.selectGroupsEq(s, root, "doc_id", id).size
        val langs = LakeTable.readWhereEq(s, root, "doc_id", id)
          .select(col("lang")).collect()
        (i + 1, id, langs.length.toLong,
          if (langs.isEmpty) null else langs(0).getString(0), kept < total)
      } :+ {
        val kept = LakeTable.selectGroupsEq(s, root, "doc_id", absent).size
        val n = LakeTable.readWhereEq(s, root, "doc_id", absent).count()
        (6, absent, n, null.asInstanceOf[String], kept < total)
      }
      rows.toDF("probe_rank", "probe_id", "n_rows", "lang", "pruned")
        .orderBy(col("probe_rank"))
    }
  }

  /** q182: merge-on-read DELETE (deletion-vector / equality-delete
    * shape) end to end: short documents are deleted from a 4-group
    * table by [[LakeTable.deleteWhereMor]] — a metadata-only commit
    * whose sidecar records the doomed doc_ids, leaving every data file
    * byte-identical (`files_untouched` gate compares the dir lists);
    * masked reads, CDC (the delete rows surface in `changes` without
    * any file churn), and the [[LakeTable.rewriteDeletes]]
    * materialization are each value-checked per language against
    * DuckDB's plain predicate. At 100 TB this is the GDPR-delete cost
    * model: O(matches) sidecar append now, rewrite amortized into the
    * next compaction. */
  def morDelete(s: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.load(s, dir, "documents")
    graft.util.Tmp.withTempDir("graft_lake_q182") { rootPath =>
      val root = rootPath.toString
      LakeTable.createClustered(s, root, d, "doc_id",
        numGroups = 4, statsCols = Nil)
      val dirsBefore = LakeTable.dataDirPaths(s, root)
      val v2 = LakeTable.deleteWhereMor(s, root, col("n_chars") < 100,
        "doc_id")
      val untouched = LakeTable.dataDirPaths(s, root) == dirsBefore
      val langs = d.select(col("lang")).distinct()
      val after = LakeTable.read(s, root)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_after"))
      val cdc = LakeTable.changes(s, root, v2 - 1, v2, "doc_id")
        .filter(col("_change_type") === "delete")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_deleted_cdc"))
      LakeTable.rewriteDeletes(s, root)
      val rewritten = LakeTable.read(s, root)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_rewritten"))
      graft.util.LocalFrame.materialize(
        langs.join(after, Seq("lang"), "left")
          .join(cdc, Seq("lang"), "left")
          .join(rewritten, Seq("lang"), "left")
          .na.fill(0L, Seq("n_after", "n_deleted_cdc", "n_rewritten"))
          .select(col("lang"), col("n_after"), col("n_deleted_cdc"),
            lit(untouched).as("files_untouched"),
            (col("n_rewritten") === col("n_after")).as("rewrite_matches"))
          .orderBy(col("lang")))
    }
  }

  /** q184: incremental small-file OPTIMIZE — [[LakeTable.compactSmall]]
    * merges only the groups below the size threshold (here: everything
    * but the largest) into one fresh group and carries the big group BY
    * NAME, zero bytes of it rewritten. This is the streaming-ingest
    * maintenance loop: one big clustered group + three micro-batch-
    * sized appends compact 4→2 groups in O(churn), the big group's
    * identity pinned by the `large_untouched` gate. Row counts per
    * status value-check against the plain table (the three slices
    * partition `custkey%10=0` by orderkey residue, so create+appends
    * reconstruct orders exactly). */
  def optimizeSmall(s: SparkSession, dir: String): DataFrame = {
    val o = graft.Tables.load(s, dir, "orders")
    graft.util.Tmp.withTempDir("graft_lake_q184") { rootPath =>
      val root = rootPath.toString
      LakeTable.create(s, root, o.filter(col("o_custkey") % 10 =!= 0))
      (0 to 2).foreach { i =>
        LakeTable.append(s, root, o
          .filter(col("o_custkey") % 10 === 0)
          .filter(col("o_orderkey") % 3 === i))
      }
      val before = LakeTable.dataDirPaths(s, root)
      val fsys = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val largest = before.maxBy(d => fsys
        .listStatus(new org.apache.hadoop.fs.Path(d)).map(_.getLen).sum)
      val threshold = fsys
        .listStatus(new org.apache.hadoop.fs.Path(largest))
        .map(_.getLen).sum
      LakeTable.compactSmall(s, root, threshold)
      val after = LakeTable.dataDirPaths(s, root)
      graft.util.LocalFrame.materialize(
        LakeTable.read(s, root)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"))
          .withColumn("groups_before", lit(before.size))
          .withColumn("groups_after", lit(after.size))
          .withColumn("large_untouched", lit(after.contains(largest)))
          .orderBy(col("o_orderstatus")))
    }
  }

  /** q189: aggregate pushdown through the DSv2 scan — COUNT/MIN/MAX
    * answered from parquet FOOTER STATISTICS instead of scanning rows
    * (`spark.sql.parquet.aggregatePushdown`; the graft-lake scan
    * builder forwards `pushAggregation` to the parquet delegate). At
    * 100 TB a table-level COUNT(*) touches only file metadata — the
    * difference between milliseconds and a full scan. The
    * `agg_pushed` gate reads the executed plan for the
    * PushedAggregation marker, so a regression that silently falls
    * back to row scanning fails the oracle, and the values themselves
    * check against DuckDB's plain aggregates. */
  def aggPushdown(s: SparkSession, dir: String): DataFrame = {
    val o = graft.Tables.load(s, dir, "orders")
    graft.util.Tmp.withTempDir("graft_lake_q189") { rootPath =>
      val root = rootPath.toString
      LakeTable.create(s, root, o)
      graft.util.LocalFrame.withConf(s,
        "spark.sql.parquet.aggregatePushdown", "true") {
        val df = s.read.format("graft-lake").load(root)
          .agg(count(lit(1)).as("n_orders"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"))
        val pushed = df.queryExecution.executedPlan.toString
          .contains("PushedAggregation: [COUNT(*)")
        graft.util.LocalFrame.materialize(
          df.withColumn("agg_pushed", lit(pushed)))
      }
    }
  }

  /** q233: SHALLOW CLONE + divergence isolation
    * ([[graft.sources.LakeTable.shallowClone]] — Delta's `SHALLOW
    * CLONE`): orders staged as a two-version table, cloned by metadata
    * only (`n_copied_files` counts parquet bytes under the clone's root
    * at clone time — pinned 0: at 100 TB the clone is O(manifest), not
    * O(data)), then the CLONE deletes its F rows. Source and clone are
    * read AFTER the divergence: the source still sees every row (the
    * clone's copy-on-write delete wrote under the clone's root), the
    * clone sees only non-F. The oracle restates all four counts from
    * orders, so a clone that copied, shared, or leaked state breaks the
    * hash match. */
  def shallowCloneDiverge(s: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 4 === 0)
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q233_src") { srcPath =>
    graft.util.Tmp.withTempDir("graft_lake_q233_dst") { dstPath =>
      val src = srcPath.toString; val dst = dstPath.toString
      LakeTable.create(s, src, orders.filter(col("o_custkey") % 10 < 5),
        statsCols = Seq("o_custkey"))
      LakeTable.append(s, src, orders.filter(col("o_custkey") % 10 >= 5),
        statsCols = Seq("o_custkey"))
      LakeTable.shallowClone(s, src, dst)
      val copied = {
        val walk = java.nio.file.Files.walk(dstPath)
        try walk.filter(p => p.toString.endsWith(".parquet")).count()
        finally walk.close()
      }
      val cloneAtClone = LakeTable.read(s, dst).count()
      LakeTable.deleteWhere(s, dst, col("o_orderstatus") === "F")
      val cloneAfter = LakeTable.read(s, dst).count()
      val srcAfter = LakeTable.read(s, src).count()
      import s.implicits._
      graft.util.LocalFrame.materialize(Seq(
        ("clone_after_delete", cloneAfter),
        ("clone_at_clone", cloneAtClone),
        ("n_copied_files", copied),
        ("source_after_clone_delete", srcAfter)
      ).toDF("fact", "n").orderBy(col("fact")))
    } } }
  }

  /** q235: CHECK-constraint admission gate
    * ([[graft.sources.LakeTable.addCheckConstraint]] — Delta's
    * `ALTER TABLE ADD CONSTRAINT`): a committed predicate every later
    * write must satisfy, enforced BEFORE any file lands. The chain:
    * create → add `o_totalprice > 0` (validates existing rows first) →
    * a clean append passes → an append carrying negated prices is
    * rejected atomically (version count proves nothing committed) → a
    * merge carrying NULL prices is rejected too (NULL counts as a
    * violation — a data-quality gate must not pass unknowns). The
    * oracle restates the surviving row count from orders; the rejection
    * facts pin as integers. At scale the validation is one aggregate
    * over the incoming batch, never the table. */
  def checkConstraintGate(s: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 4 === 0)
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q235") { rootPath =>
      val root = rootPath.toString
      LakeTable.create(s, root, orders.filter(col("o_custkey") % 10 < 5))
      LakeTable.addCheckConstraint(s, root, "positive_price",
        "o_totalprice > 0")
      LakeTable.append(s, root, orders.filter(col("o_custkey") % 10 >= 5))
      val badAppend = orders.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_totalprice", -col("o_totalprice"))
      val rejectedAppend =
        try { LakeTable.append(s, root, badAppend); 0L }
        catch { case _: IllegalArgumentException => 1L }
      val badMerge = orders.filter(col("o_orderkey") % 101 === 0)
        .withColumn("o_totalprice", lit(null).cast("double"))
      val rejectedMerge =
        try { LakeTable.merge(s, root, badMerge, "o_orderkey"); 0L }
        catch { case _: IllegalArgumentException => 1L }
      import s.implicits._
      graft.util.LocalFrame.materialize(Seq(
        ("n_rows", LakeTable.read(s, root).count()),
        ("n_versions", LakeTable.versions(s, root).size.toLong),
        ("rejected_append", rejectedAppend),
        ("rejected_merge", rejectedMerge)
      ).toDF("fact", "n").orderBy(col("fact")))
    } }
  }

  /** q238: right-to-be-forgotten purge
    * ([[graft.sources.LakeTable.purge]]): a three-version table (create
    * → append → merge) purges one customer's orders; afterwards the
    * surviving rows match, history is TRUNCATED to a single version
    * (the erasure guarantee — an ordinary DELETE leaves purged bytes
    * time-travel-readable), and the on-disk parquet census counts only
    * the rewritten group's files. The oracle restates the row facts
    * from orders and pins the erasure facts as integers. */
  def purgeErasure(s: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 4 === 0)
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q238") { rootPath =>
      val root = rootPath.toString
      LakeTable.create(s, root, orders.filter(col("o_custkey") % 10 < 5))
      LakeTable.append(s, root, orders.filter(col("o_custkey") % 10 >= 5))
      LakeTable.merge(s, root,
        orders.filter(col("o_orderkey") % 97 === 0), "o_orderkey")
      val before = LakeTable.read(s, root).count()
      val versionsBefore = LakeTable.versions(s, root).size.toLong
      // the forgotten party: every customer key ≡ 0 (mod 40)
      LakeTable.purge(s, root, col("o_custkey") % 40 === 0)
      val after = LakeTable.read(s, root).count()
      val versionsAfter = LakeTable.versions(s, root).size.toLong
      // no historical byte survives: the only parquet on disk is the
      // purged rewrite's single file group
      val dirsOnDisk = {
        val w = java.nio.file.Files.walk(rootPath)
        try w.filter(p => p.toString.endsWith(".parquet"))
          .map[java.nio.file.Path](_.getParent).distinct().count()
        finally w.close()
      }
      import s.implicits._
      graft.util.LocalFrame.materialize(Seq(
        ("n_after_purge", after),
        ("n_before_purge", before),
        ("n_data_dirs_on_disk", dirsOnDisk),
        ("n_versions_after", versionsAfter),
        ("n_versions_before", versionsBefore)
      ).toDF("fact", "n").orderBy(col("fact")))
    } }
  }

  /** q246: PERSISTED IVF-PQ ANN index in the lake format
    * ([[graft.sources.LakeAnnIndex]]) — vector search as a TABLE
    * capability instead of the per-query rebuild q171 pays: train +
    * encode once, commit centroids/codebooks/codes as immutable
    * `_index/` sidecars via the bloom index's metadata-only `op`
    * pattern, and serve every probe from the committed artifacts. The
    * query runs the full production lifecycle: (1) create the table
    * with 80% of the vectors and index it; (2) APPEND the rest — the
    * commit carries the index, the new group is uncovered; (3) probe
    * the HYBRID state ([[graft.sources.LakeAnnIndex.annTopK]] ADC-scans
    * the committed codes, exact-scans the appended tail, exact re-ranks
    * the merged candidates); (4) re-run
    * [[graft.sources.LakeAnnIndex.indexIvfPq]] — INCREMENTAL: only the
    * appended group is encoded, the model and prior sidecar are reused
    * byte-identically; (5) probe the fully-covered state. Gates (q171's
    * promotion pattern — everything seeded/iteration-capped, so the
    * booleans are stable): coverage transitions (1 coded + 1 uncovered
    * → 2 + 0), the incremental re-index reuses the committed model, and
    * both probes clear the q171 recall floor (≥ 0.3 vs the exact
    * squared-L2 top-10; measured floor 0.5, at sf0.1 with 8/16 lists
    * probed — the hybrid probe additionally exact-covers the appended
    * 20%). At 100 TB the probe
    * reads ~nProbe/nCentroids of 8-byte-per-vector codes plus the
    * appended tail — never the corpus vectors. */
  def annIndexLifecycle(s: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables.load(s, dir, "embeddings")
    graft.util.Tmp.withTempDir("graft_lake_q246") { rootPath =>
      val root = rootPath.toString
      LakeTable.create(s, root, e.filter(col("vec_id") % 5 =!= 4))
      LakeAnnIndex.indexIvfPq(s, root, "vec_id", "embedding")
      val modelKeyBefore = LakeAnnIndex.modelSidecar(s, root, "embedding")
      LakeTable.append(s, root, e.filter(col("vec_id") % 5 === 4))
      val (codedMid, openMid) = LakeAnnIndex.coverage(s, root, "embedding")
      val q = e.filter(col("vec_id") < 5)
      val hybrid = LakeAnnIndex.annTopK(s, root, q,
          "vec_id", "embedding", "vec_id", "embedding", k = 10,
          nProbe = 8, kCand = 200)
        .select(col("query_id"), col("neighbor_id"))
      LakeAnnIndex.indexIvfPq(s, root, "vec_id", "embedding")
      val modelKeyAfter = LakeAnnIndex.modelSidecar(s, root, "embedding")
      val (codedFull, openFull) = LakeAnnIndex.coverage(s, root, "embedding")
      val full = LakeAnnIndex.annTopK(s, root, q,
          "vec_id", "embedding", "vec_id", "embedding", k = 10,
          nProbe = 8, kCand = 200)
        .select(col("query_id"), col("neighbor_id"))
      val coverageOk = codedMid.size == 1 && openMid.size == 1 &&
        codedFull.size == 2 && openFull.isEmpty &&
        modelKeyBefore.nonEmpty && modelKeyAfter == modelKeyBefore
      // exact squared-L2 top-10 baseline (q171's exact side)
      val d2Expr = expr(
        """aggregate(zip_with(qe, ce,
          |  (a, b) -> (CAST(a AS DOUBLE) - CAST(b AS DOUBLE))
          |          * (CAST(a AS DOUBLE) - CAST(b AS DOUBLE))),
          |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("d2").asc, col("neighbor_id"))
      val exact = broadcast(
          q.select(col("vec_id").as("query_id"), col("embedding").as("qe")))
        .crossJoin(e.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("ce")))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("d2", d2Expr)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("neighbor_id"))
      def recallHits(ann: DataFrame, name: String): DataFrame =
        ann.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy(col("query_id")).agg(count(lit(1)).as(name))
      val out = exact.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
        .join(recallHits(hybrid, "n_hyb"), Seq("query_id"), "left_outer")
        .join(recallHits(full, "n_full"), Seq("query_id"), "left_outer")
        .select(col("query_id"), col("n_exact"),
          lit(coverageOk).as("coverage_ok"),
          (coalesce(col("n_hyb"), lit(0L)).cast("double") /
            col("n_exact") >= 0.3).as("recall_hybrid_ok"),
          (coalesce(col("n_full"), lit(0L)).cast("double") /
            col("n_exact") >= 0.3).as("recall_full_ok"))
        .orderBy(col("query_id"))
      // materialize before the temp table is deleted (q181's rule)
      graft.util.LocalFrame.of(s, out.collect(), out.schema)
    }
  }

  /** q267: MULTI-WRITER append reconciliation — the Delta-protocol
    * conflict story ([[graft.sources.LakeTable.commitAppend]]) as an
    * oracle-checked lifecycle. Two writers race the same base version:
    * writer B prepares its append against v1 (data files written,
    * invisible), writer A then wins version 2, and B's commit collides
    * at the atomic-rename point, verifies the winner only EXTENDED its
    * base (blind appends commute), rebases its dir list onto v2, and
    * lands v3 — both groups in the final snapshot, no clobber, no
    * retry-loop rewrite of data. Then the non-commuting case: writer C
    * prepares an append, a compaction rewrites C's base file groups
    * first, and C's commit is REFUSED with a named
    * [[graft.sources.LakeConflictException]] (its carried stats and
    * validation snapshot are stale) — the refused append publishes
    * nothing and deletes its own orphan. Every fact is restated by the
    * oracle from `orders`: the merged row count equals the plain union
    * of the three writer slices, the version chain is create + append +
    * rebased-append + compact = 4, and the conflict leaves the row
    * count unchanged. At 100 TB this is what lets two nightly ingest
    * jobs share a table without a lock service: the rename is the only
    * serialization point, reconciliation is manifest-metadata-only
    * (O(versions), never O(data)). */
  def appendReconcile(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 4 === 0)
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q267") { rootPath =>
      val root = rootPath.toString
      // v1: writer slices partition orders by o_orderkey mod 3
      LakeTable.create(s, root, orders.filter(col("o_orderkey") % 3 === 0))
      // writer B: prepare against v1 (data written, commit pending)
      val (base, bDir) = LakeTable.appendPrepare(s, root,
        orders.filter(col("o_orderkey") % 3 === 2))
      // writer A wins v2…
      LakeTable.append(s, root, orders.filter(col("o_orderkey") % 3 === 1))
      // …and B's collision reconciles: rebases onto v2, commits v3
      val rebasedV = LakeTable.commitAppend(s, root, base, bDir,
        Map.empty).toLong
      val nMerged = LakeTable.read(s, root).count()
      val nVersionsAfterRebase = LakeTable.versions(s, root).size.toLong
      // writer C: prepare, then a compaction removes C's base groups
      val (cBase, cDir) = LakeTable.appendPrepare(s, root,
        orders.filter(col("o_orderkey") % 97 === 0))
      LakeTable.compact(s, root, targetPartitions = 1) // v4
      val rejected =
        try { LakeTable.commitAppend(s, root, cBase, cDir, Map.empty); 0L }
        catch { case _: graft.sources.LakeConflictException => 1L }
      val nAfterConflict = LakeTable.read(s, root).count()
      val nVersionsFinal = LakeTable.versions(s, root).size.toLong
      import s.implicits._
      graft.util.LocalFrame.materialize(Seq(
        ("n_rows_after_conflict", nAfterConflict),
        ("n_rows_merged", nMerged),
        ("n_versions_after_rebase", nVersionsAfterRebase),
        ("n_versions_final", nVersionsFinal),
        ("rebased_version", rebasedV),
        ("rejected_conflict", rejected)
      ).toDF("fact", "n").orderBy(col("fact")))
    } }
  }

  /** q288: column DEFAULT values
    * ([[graft.sources.LakeTable.setColumnDefault]]) — Delta's
    * write-default semantics as an oracle-checked lifecycle: (1) SET
    * DEFAULT is METADATA-ONLY (same file groups, zero bytes
    * rewritten); (2) an append that OMITS the defaulted column
    * MATERIALIZES the default into its files at write time — proven by
    * reading the raw parquet with no lake read path in between (what
    * you read is what is on disk; no read-time magic to drift); (3) a
    * batch carrying the column explicitly wins; (4) DROP DEFAULT
    * restores NULL fill for later appends while already-written rows
    * keep their materialized values (immutability); (5) a rename of
    * the defaulted column is refused while the default binds the name.
    * Batches are keyed by o_orderkey % 4 so the oracle restates every
    * count and cents sum from orders exactly. At 100 TB the ALTER
    * costs one manifest line and each append pays one per-row literal
    * projection — O(batch), never the table. */
  def defaultLifecycle(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 4 === 0)
      .select(col("o_orderkey"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("price_cents"))
    val m = col("o_orderkey") % 4
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q288") { rootPath =>
      val root = rootPath.toString
      LakeTable.create(s, root, orders.filter(m === 0))
      LakeTable.evolveSchema(s, root, org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType))))
      val dirsBefore = LakeTable.dataDirPaths(s, root)
      LakeTable.setColumnDefault(s, root, "source", "'backfill'")
      val metadataOnly =
        if (LakeTable.dataDirPaths(s, root) == dirsBefore) 1L else 0L
      val renameRefused =
        try { LakeTable.renameColumn(s, root, "source", "src"); 0L }
        catch { case _: UnsupportedOperationException => 1L }
      // batch 2 omits `source` → the default materializes on disk
      LakeTable.append(s, root, orders.filter(m === 1))
      // batch 3 carries it explicitly → the batch wins
      LakeTable.append(s, root,
        orders.filter(m === 2).withColumn("source", lit("manual")))
      LakeTable.dropColumnDefault(s, root, "source")
      // batch 4 omits it again → NULL (the default is gone)
      LakeTable.append(s, root, orders.filter(m === 3))
      // on-disk proof: RAW parquet (no lake read path) carries the
      // materialized literal for exactly batch 2's rows
      val rawBackfill = s.read.option("mergeSchema", "true")
        .parquet(LakeTable.dataDirPaths(s, root): _*)
        .filter(col("source") === "backfill").count()
      val facts = LakeTable.read(s, root)
        .groupBy(coalesce(col("source"), lit("(none)")).as("src"))
        .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("cents"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      import s.implicits._
      graft.util.LocalFrame.materialize(Seq(
        ("cents_backfill", facts("backfill")._2),
        ("cents_manual", facts("manual")._2),
        ("cents_none", facts("(none)")._2),
        ("metadata_only_set_default", metadataOnly),
        ("n_backfill", facts("backfill")._1),
        ("n_manual", facts("manual")._1),
        ("n_none", facts("(none)")._1),
        ("on_disk_backfill", rawBackfill),
        ("rename_refused_under_default", renameRefused)
      ).toDF("fact", "n").orderBy(col("fact")))
    } }
  }

  /** q272: ALTER TABLE RENAME COLUMN via column mapping
    * ([[graft.sources.LakeTable.renameColumn]]) — Delta's name-mapping
    * semantics as an oracle-checked lifecycle: (1) the rename is
    * METADATA-ONLY (same file groups, zero bytes rewritten); (2) later
    * appends arrive in the new logical name but land in the shared
    * PHYSICAL on-disk schema; (3) reads and aggregates see only the
    * logical name, exactly (price sum in cents restated by the oracle
    * from orders); (4) time travel below the rename keeps the OLD name
    * — history is immutable including its shape; (5) a colliding
    * rename is refused; (6) a COW compact materializes logical names
    * into fresh files and drops the mapping, after which the raw
    * on-disk schema equals the logical one. At 100 TB the rename costs
    * one manifest line now and is amortized into whichever rewrite
    * happens next. */
  def renameLifecycle(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 4 === 0)
      .select(col("o_orderkey"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("o_totalprice_cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q272") { rootPath =>
      val root = rootPath.toString
      LakeTable.create(s, root, orders.filter(col("o_orderkey") % 2 === 0))
      val dirsBefore = LakeTable.dataDirPaths(s, root)
      LakeTable.renameColumn(s, root, "o_totalprice_cents", "price_cents")
      val metadataOnly =
        if (LakeTable.dataDirPaths(s, root) == dirsBefore) 1L else 0L
      // append arrives in the NEW logical name
      LakeTable.append(s, root,
        orders.filter(col("o_orderkey") % 2 === 1)
          .withColumnRenamed("o_totalprice_cents", "price_cents"))
      val n = LakeTable.read(s, root).count()
      val sumCents = LakeTable.read(s, root)
        .agg(sum(col("price_cents"))).head().getLong(0)
      val oldNameAtV1 =
        if (LakeTable.read(s, root, Some(1)).columns
          .contains("o_totalprice_cents")) 1L else 0L
      val rejectedCollision =
        try { LakeTable.renameColumn(s, root, "price_cents", "o_orderkey"); 0L }
        catch { case _: IllegalArgumentException => 1L }
      LakeTable.compact(s, root, targetPartitions = 1)
      val physicalIsLogical =
        if (s.read.parquet(LakeTable.dataDirPaths(s, root): _*)
          .columns.sorted.toSeq == Seq("o_orderkey", "price_cents")) 1L
        else 0L
      import s.implicits._
      graft.util.LocalFrame.materialize(Seq(
        ("metadata_only_rename", metadataOnly),
        ("n_rows", n),
        ("old_name_at_v1", oldNameAtV1),
        ("physical_is_logical_after_compact", physicalIsLogical),
        ("rejected_collision", rejectedCollision),
        ("sum_price_cents", sumCents)
      ).toDF("fact", "n").orderBy(col("fact")))
    } }
  }

  /** q273: ALTER TABLE DROP COLUMN via column mapping — the rename's
    * twin ([[graft.sources.LakeTable.dropColumn]]): the drop is
    * METADATA-ONLY (same file groups), reads project the column out,
    * time travel below the drop still shows it, appends naming the
    * dropped column are refused (its bytes would be write-only), the
    * name cannot be re-added until a rewrite, and a COW compact
    * materializes the narrowed schema. Surviving-column aggregates are
    * restated exactly by the oracle; protocol facts pin as integers. */
  def dropLifecycle(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 4 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("price_cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q273") { rootPath =>
      val root = rootPath.toString
      LakeTable.create(s, root, orders.filter(col("o_orderkey") % 2 === 0))
      val dirsBefore = LakeTable.dataDirPaths(s, root)
      LakeTable.dropColumn(s, root, "o_custkey")
      val metadataOnly =
        if (LakeTable.dataDirPaths(s, root) == dirsBefore) 1L else 0L
      val oldColAtV1 =
        if (LakeTable.read(s, root, Some(1)).columns
          .contains("o_custkey")) 1L else 0L
      // appends arrive in the NARROWED shape; naming the dropped
      // column is refused
      LakeTable.append(s, root,
        orders.filter(col("o_orderkey") % 2 === 1).drop("o_custkey"))
      val rejectedAppend =
        try {
          LakeTable.append(s, root,
            orders.filter(col("o_orderkey") % 97 === 0)); 0L
        } catch { case _: IllegalArgumentException => 1L }
      val rejectedReadd =
        try {
          LakeTable.evolveSchema(s, root,
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("o_custkey",
                org.apache.spark.sql.types.LongType)))); 0L
        } catch { case _: IllegalArgumentException => 1L }
      val n = LakeTable.read(s, root).count()
      val sumCents = LakeTable.read(s, root)
        .agg(sum(col("price_cents"))).head().getLong(0)
      LakeTable.compact(s, root, targetPartitions = 1)
      val narrowed =
        if (s.read.parquet(LakeTable.dataDirPaths(s, root): _*)
          .columns.sorted.toSeq == Seq("o_orderkey", "price_cents")) 1L
        else 0L
      import s.implicits._
      graft.util.LocalFrame.materialize(Seq(
        ("metadata_only_drop", metadataOnly),
        ("n_rows", n),
        ("old_col_at_v1", oldColAtV1),
        ("physical_narrowed_after_compact", narrowed),
        ("rejected_append_with_dropped", rejectedAppend),
        ("rejected_readd", rejectedReadd),
        ("sum_price_cents", sumCents)
      ).toDF("fact", "n").orderBy(col("fact")))
    } }
  }

  /** q281: UNIQUE constraint lifecycle — the warehouse key guarantee
    * ([[graft.sources.LakeTable.addUniqueConstraint]]) as an
    * oracle-checked scenario: existing-data validation, clean appends
    * admitted, duplicate-key appends and a MERGE that would smuggle a
    * duplicate through a non-key join column both refused atomically
    * (no version, no rows), the MERGE keyed on the unique column
    * remains the upsert path, and two RACING appends of the same new
    * key resolve with exactly one winner — the loser's rebase
    * re-validates against the winner's rows and raises the named
    * conflict. Every row fact restates from orders. */
  def uniqueLifecycle(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 4 === 0)
      .select(col("o_orderkey"), col("o_custkey"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q281") { rootPath =>
      val root = rootPath.toString
      LakeTable.create(s, root, orders.filter(col("o_orderkey") % 2 === 0))
      LakeTable.addUniqueConstraint(s, root, "pk", "o_orderkey")
      LakeTable.append(s, root, orders.filter(col("o_orderkey") % 2 === 1))
      val rejectedDup =
        try {
          LakeTable.append(s, root,
            orders.filter(col("o_orderkey") % 97 === 0)); 0L
        } catch { case _: IllegalArgumentException => 1L }
      // upsert on the key: replaces, never duplicates
      LakeTable.merge(s, root,
        orders.filter(col("o_orderkey") % 97 === 0), "o_orderkey")
      val nAfterUpsert = LakeTable.read(s, root).count()
      // racing appends of one NEW key: one winner, named conflict
      val fresh = orders.limit(0).sparkSession.range(1)
        .select((lit(3000000000L)).as("o_orderkey"),
          lit(4L).as("o_custkey"))
      val (base, d) = LakeTable.appendPrepare(s, root, fresh)
      LakeTable.append(s, root, fresh)
      val rejectedRace =
        try { LakeTable.commitAppend(s, root, base, d, Map.empty); 0L }
        catch { case _: graft.sources.LakeConflictException => 1L }
      val nFinal = LakeTable.read(s, root).count()
      val distinctKeys = LakeTable.read(s, root)
        .select(col("o_orderkey")).distinct().count()
      import s.implicits._
      graft.util.LocalFrame.materialize(Seq(
        ("n_after_upsert", nAfterUpsert),
        ("n_distinct_keys", distinctKeys),
        ("n_final", nFinal),
        ("rejected_dup_append", rejectedDup),
        ("rejected_racing_append", rejectedRace)
      ).toDF("fact", "n").orderBy(col("fact")))
    } }
  }

  /** q282: COMMITTED distinct-count sketches
    * ([[graft.sources.LakeHllIndex]]) — "how many unique customers in
    * this table?" answered from kilobytes of sidecar metadata instead
    * of a scan: index 80% of orders, estimate from sketches alone;
    * append the rest, estimate the HYBRID state (committed sketches ∪
    * one live pass over just the uncovered tail); re-index
    * incrementally (only the appended group encodes) and estimate
    * again. Gates: all three estimates within 5% of the exact distinct
    * count (lgK=14 ≈ 0.8% rse — stable booleans; HLL registers are
    * merge-order-invariant, so estimates are partitioning-
    * deterministic), coverage transitions pinned. The oracle restates
    * the exact distinct counts from orders and pins the gates. */
  def hllIndexLifecycle(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q282") { rootPath =>
      val root = rootPath.toString
      LakeTable.create(s, root, orders.filter(col("o_orderkey") % 5 =!= 4))
      graft.sources.LakeHllIndex.indexHll(s, root, Seq("o_custkey"))
      val exactPart = orders.filter(col("o_orderkey") % 5 =!= 4)
        .select(col("o_custkey")).distinct().count()
      val est1 = graft.sources.LakeHllIndex
        .approxDistinct(s, root, "o_custkey")
      LakeTable.append(s, root, orders.filter(col("o_orderkey") % 5 === 4))
      val (cov, open) = graft.sources.LakeHllIndex
        .coverage(s, root, "o_custkey")
      val est2 = graft.sources.LakeHllIndex
        .approxDistinct(s, root, "o_custkey")
      graft.sources.LakeHllIndex.indexHll(s, root, Seq("o_custkey"))
      val (cov2, open2) = graft.sources.LakeHllIndex
        .coverage(s, root, "o_custkey")
      val est3 = graft.sources.LakeHllIndex
        .approxDistinct(s, root, "o_custkey")
      val exactAll = orders.select(col("o_custkey")).distinct().count()
      def ok(est: Long, exact: Long): Long =
        if (math.abs(est - exact) <= exact / 20) 1L else 0L
      import s.implicits._
      graft.util.LocalFrame.materialize(Seq(
        ("coverage_mid", if (cov.size == 1 && open.size == 1) 1L else 0L),
        ("coverage_post", if (cov2.size == 2 && open2.isEmpty) 1L else 0L),
        ("est_committed_ok", ok(est1, exactPart)),
        ("est_hybrid_ok", ok(est2, exactAll)),
        ("est_reindexed_ok", ok(est3, exactAll)),
        ("exact_distinct_all", exactAll),
        ("exact_distinct_part", exactPart)
      ).toDF("fact", "n").orderBy(col("fact")))
    } }
  }

  /** q303: KLL quantile sidecars ([[graft.sources.LakeKllIndex]]) —
    * X200's twin: "p99 from kilobytes" the way q282 answers "distinct
    * users from kilobytes". Lifecycle: (1) index the created table —
    * one committed KLL sketch per file group, metadata-only commit;
    * (2) estimate p50 from committed sketches alone; (3) append —
    * the new group is uncovered, the hybrid estimate merges committed
    * sidecars with one live scan of the tail; (4) re-index covers it
    * (old sidecars byte-untouched, O(churn)). Correctness gates are
    * the KLL THEOREM's own terms: the estimate's true rank (computed
    * exactly in-engine) must sit within ±3% of the requested rank
    * (k=200 ⇒ ~1.65% rank error at 99% confidence — Karnin, Lang &
    * Liberty FOCS'16); the oracle restates the exact row/sum facts and
    * pins the gates.
    *
    * Scale shape: a percentile over covered groups reads KILOBYTES of
    * sidecar per group and zero data bytes — at 100 TB the p99 of a
    * fully-indexed table costs O(groups) sidecar reads; each append's
    * marginal cost is sketching only its own rows. */
  def kllIndexLifecycle(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.LakeKllIndex
    val orders = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q303") { rootPath =>
      val root = rootPath.toString
      val part = orders.filter(col("o_orderkey") % 5 =!= 4)
      LakeTable.create(s, root, part)
      LakeKllIndex.indexKll(s, root, Seq("cents"))
      val est1 = LakeKllIndex.approxQuantiles(s, root, "cents", Seq(0.5)).head
      LakeTable.append(s, root, orders.filter(col("o_orderkey") % 5 === 4))
      val (cov, open) = LakeKllIndex.coverage(s, root, "cents")
      val Seq(p50, p90) =
        LakeKllIndex.approxQuantiles(s, root, "cents", Seq(0.5, 0.9))
      LakeKllIndex.indexKll(s, root, Seq("cents"))
      val (cov2, open2) = LakeKllIndex.coverage(s, root, "cents")
      // the KLL contract is on RANKS: the estimate's exact rank in the
      // data must be within eps of the request (value error is not
      // bounded by the sketch; rank error is)
      def rankOk(df: org.apache.spark.sql.DataFrame, v: Double,
                 want: Double): Long = {
        val r = df.agg(
            sum(when(col("cents").cast("double") <= v, 1L).otherwise(0L))
              .cast("double") / count(lit(1))).head().getDouble(0)
        if (math.abs(r - want) <= 0.03) 1L else 0L
      }
      val t = orders.agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
        .head()
      import s.implicits._
      graft.util.LocalFrame.materialize(Seq(
        ("cents_total", t.getLong(1)),
        ("coverage_mid", if (cov.size == 1 && open.size == 1) 1L else 0L),
        ("coverage_post", if (cov2.size == 2 && open2.isEmpty) 1L else 0L),
        ("n_all", t.getLong(0)),
        ("rank_committed_ok", rankOk(part, est1, 0.5)),
        ("rank_p50_ok", rankOk(orders, p50, 0.5)),
        ("rank_p90_ok", rankOk(orders, p90, 0.9))
      ).toDF("fact", "n").orderBy(col("fact")))
    } }
  }

  /** q304: SQL DDL for the lake extras — the surfaces q288 (defaults),
    * q281 (UNIQUE), q235 (CHECK) reach by Scala API, now reached by the
    * SQL-only user through [[graft.sources.GraftLakeCatalog]]: `ALTER
    * TABLE … ADD COLUMNS / ALTER COLUMN SET DEFAULT / ADD CONSTRAINT
    * CHECK / ADD CONSTRAINT UNIQUE`, each landing as the same
    * metadata-only commit the API makes (DSv2 TableChange routing; the
    * catalog declares SUPPORT_TABLE_CONSTRAINT +
    * SUPPORT_COLUMN_DEFAULT_VALUE so Spark's parser paths resolve).
    * Lifecycle: evolve a column in, declare its write-default, gate
    * quality with CHECK (violating SQL INSERT refused whole), key the
    * table with UNIQUE (duplicate SQL INSERT refused, fresh key lands),
    * and verify the default materialized for an omitting append while
    * pre-evolution rows read NULL. The oracle restates every count and
    * sum from orders; the refusals and protocol facts pin as constants.
    * Scale: every DDL here is one manifest line — zero data bytes. */
  def sqlLakeDdl(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 5 === 2)
      .select(col("o_orderkey").as("id"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q304") { rootPath =>
      val wh = rootPath.toString
      val root = s"$wh/t"
      val base = orders.filter(col("id") % 3 =!= 0)
      val late = orders.filter(col("id") % 3 === 0)
      LakeTable.create(s, root, base)
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        s.sql(s"ALTER TABLE $cat.t ADD COLUMNS (src STRING)")
        s.sql(s"ALTER TABLE $cat.t ALTER COLUMN src SET DEFAULT 'bulk'")
        s.sql(s"ALTER TABLE $cat.t ADD CONSTRAINT cents_pos " +
          "CHECK (cents > 0)")
        s.sql(s"ALTER TABLE $cat.t ADD CONSTRAINT uid UNIQUE (id)")
        // an append OMITTING the defaulted column materializes 'bulk';
        // pre-evolution rows keep reading NULL (history untouched)
        LakeTable.append(s, root, late)
        val refusedCheck = refused("CHECK constraint") {
          s.sql(s"INSERT INTO $cat.t VALUES (4000000001, -5, 'x')") }
        val refusedDup = {
          val dupId = base.select(min(col("id"))).head().getLong(0)
          refused("UNIQUE(") {
            s.sql(s"INSERT INTO $cat.t VALUES ($dupId, 7, 'x')") }
        }
        s.sql(s"INSERT INTO $cat.t VALUES (4000000001, 123, 'manual')")
        val t = LakeTable.read(s, root).agg(
          count(lit(1)).as("n"),
          countDistinct(col("id")).as("d"),
          sum(col("cents")).as("c"),
          sum(when(col("src") === "bulk", 1L).otherwise(0L)).as("nb"),
          sum(when(col("src").isNull, 1L).otherwise(0L)).as("nn")).head()
        import s.implicits._
        graft.util.LocalFrame.materialize(Seq(
          ("cents_total", t.getLong(2)),
          ("n_bulk_default", t.getLong(3)),
          ("n_null_src", t.getLong(4)),
          ("n_total", t.getLong(0)),
          ("refused_check_violation", refusedCheck),
          ("refused_duplicate_key", refusedDup),
          ("unique_ids", t.getLong(1))
        ).toDF("fact", "n").orderBy(col("fact")))
      } finally {
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q305: GENERATED columns ([[graft.sources.LakeTable
    * .setGeneratedColumn]]) — Delta's `GENERATED ALWAYS AS (expr)` as
    * an oracle-checked lifecycle: (1) declaring the rule validates
    * every existing row (null-safe `col <=> expr`; a violated rule is
    * refused); (2) an append OMITTING the column materializes the
    * expression per row from the batch's other columns — on disk, not
    * read-path magic; (3) a batch CARRYING mismatched values is
    * refused WHOLE before any byte lands; (4) the rule auto-carries,
    * joins the append commute check, and rename-protects both the
    * generated column and every column its expression names. The
    * expression here is pure integer arithmetic (cents div 50 + 7), so
    * the oracle recomputes every materialized value exactly.
    * Scale: declaration costs one validation scan; each append pays
    * one projection over its own batch — O(batch), never the table. */
  def generatedColumnLifecycle(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 5 === 4)
      .select(col("o_orderkey").as("id"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q305") { rootPath =>
      val root = rootPath.toString
      val withFee = orders.withColumn("fee", expr("cents div 50 + 7"))
      LakeTable.create(s, root, withFee.filter(col("id") % 3 =!= 0))
      LakeTable.setGeneratedColumn(s, root, "fee", "cents div 50 + 7")
      // a rule the existing data violates is refused
      val refusedDecl =
        try { LakeTable.setGeneratedColumn(s, root, "cents", "id"); 0L }
        catch { case _: IllegalArgumentException => 1L }
      // appends omitting the column materialize it
      LakeTable.append(s, root,
        orders.filter(col("id") % 3 === 0).select(col("id"), col("cents")))
      // a carried mismatch refuses the whole batch
      import s.implicits._
      val refusedBad =
        try { LakeTable.append(s, root,
          Seq((4000000001L, 5000L, 1L)).toDF("id", "cents", "fee")); 0L }
        catch { case _: IllegalArgumentException => 1L }
      val t = LakeTable.read(s, root).agg(
        count(lit(1)).as("n"), sum(col("fee")).as("f"),
        sum(when(col("fee") === expr("cents div 50 + 7"), 1L)
          .otherwise(0L)).as("ok")).head()
      graft.util.LocalFrame.materialize(Seq(
        ("fee_total", t.getLong(1)),
        ("n_invariant_ok", t.getLong(2)),
        ("n_total", t.getLong(0)),
        ("refused_mismatched_batch", refusedBad),
        ("refused_violated_declaration", refusedDecl)
      ).toDF("fact", "n").orderBy(col("fact")))
    } }
  }

  /** q296: `replaceWhere` partition overwrite
    * ([[graft.sources.LakeTable.overwriteWhere]]) — Delta's
    * atomic-reprocess idiom as an oracle-checked lifecycle: (1) a
    * month-clustered table (4 stats-tracked groups); (2) CONTAINMENT —
    * a batch leaking outside the replaced band is refused WHOLE before
    * any byte lands; (3) replacing 1995-07 with recomputed (doubled)
    * rows touches only the group(s) whose min/max admit the band — at
    * least one group is carried by name, zero bytes rewritten
    * (`groups_carried` pins it); (4) every count and cents sum is
    * restated by the oracle from orders with the July rows doubled.
    * At 100 TB with a partition-clustered layout the carried set is
    * the whole table minus the reprocessed partition. */
  def replaceWhereLifecycle(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 4 === 1)
      .select(col("o_orderkey"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("long").as("mk"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q296") { rootPath =>
      val root = rootPath.toString
      LakeTable.createClustered(s, root, orders, "mk", 4, Seq("mk"))
      val dirsBefore = LakeTable.dataDirPaths(s, root).toSet
      // containment gate: July+August rows against a July-only band
      val refused =
        try {
          LakeTable.overwriteWhere(s, root,
            orders.filter(col("mk").isin(199507L, 199508L)),
            "mk", 199507, 199507)
          0L
        } catch { case _: IllegalArgumentException => 1L }
      // reprocess 1995-07: same rows, recomputed (doubled) cents
      LakeTable.overwriteWhere(s, root,
        orders.filter(col("mk") === 199507)
          .withColumn("cents", col("cents") * 2),
        "mk", 199507, 199507, Seq("mk"))
      val carried =
        (dirsBefore intersect LakeTable.dataDirPaths(s, root).toSet).size
      val t = LakeTable.read(s, root)
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"),
          sum(when(col("mk") === 199507, lit(1L)).otherwise(0L)).as("nb"),
          sum(when(col("mk") === 199507, col("cents")).otherwise(0L))
            .as("cb")).head()
      import s.implicits._
      graft.util.LocalFrame.materialize(Seq(
        ("cents_band", t.getLong(3)),
        ("cents_total", t.getLong(1)),
        ("groups_carried_some", if (carried >= 1) 1L else 0L),
        ("n_band", t.getLong(2)),
        ("n_total", t.getLong(0)),
        ("refused_out_of_band", refused)
      ).toDF("fact", "n").orderBy(col("fact")))
    } }
  }

  /** q311: SQL / DSv2 overwrite — the [[graft.sources.LakeTable
    * .overwriteAll]] / [[graft.sources.LakeTable.overwriteWhere]]
    * protocol reached the way a SQL user reaches it, through the DSv2
    * WriteBuilder ([[graft.sources.GraftLakeTable.filtersToBand]]):
    * (1) `df.writeTo(t).overwrite(cond)` with a single-column equality
    * translates to the inclusive band and replaces one partition
    * (1995 doubled), every other partition's group carried by name;
    * (2) static `INSERT OVERWRITE t PARTITION (yk=1996)` routes the
    * same way — the partition spec becomes the band, the SELECT
    * supplies the remaining columns (1996 rows land with 5× cents) —
    * as does Delta-dialect `INSERT INTO t REPLACE WHERE yk = 1997`
    * through [[graft.sources.GraftSqlParser]] (1997 at 7×);
    * (3) a predicate that does NOT reduce to one band (an OR across
    * columns) refuses LOUDLY — the table version is pinned unchanged,
    * proving no silent full-table wipe; (4) plain `INSERT OVERWRITE t`
    * truncates into one [[graft.sources.LakeTable.overwriteAll]]
    * commit (only 1995 rows survive, 3× original cents); (5) an
    * identity table refuses INSERT OVERWRITE (replacement ids would
    * need re-stamping); (6) history stays immutable — version 0 read
    * AFTER all three overwrites still returns the original total.
    * Scale: each banded overwrite costs one partition write + one
    * manifest commit; the full overwrite writes only the new batch —
    * old groups are dropped by reference, never read. */
  def insertOverwriteLifecycle(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 5 === 1)
      .select(col("o_orderkey").as("k"),
        year(col("o_orderdate")).cast("long").as("yk"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q311") { rootPath =>
      val wh = rootPath.toString
      val root = s"$wh/t"
      LakeTable.createPartitioned(s, root, orders, "yk")
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        // (1) banded DSv2 overwrite: reprocess 1995 with doubled cents
        orders.filter(col("yk") === 1995L)
          .withColumn("cents", col("cents") * 2)
          .writeTo(s"$cat.t").overwrite(col("yk") === 1995L)
        val vBand = LakeTable.latestVersion(s, root).get
        val afterBand = LakeTable.read(s, root)
          .agg(sum(col("cents"))).head().getLong(0)
        // (2) static-partition SQL overwrite: 1996 relanded at 5×
        orders.createOrReplaceTempView("q311_src")
        s.sql(s"INSERT OVERWRITE $cat.t PARTITION (yk = 1996) " +
          "SELECT k, cents * 5 FROM q311_src WHERE yk = 1996")
        val afterPart = LakeTable.read(s, root)
          .agg(sum(col("cents"))).head().getLong(0)
        // (2b) `INSERT INTO … REPLACE WHERE` through [[GraftSqlParser]]:
        // 1997 relanded at 7× — the Delta-dialect spelling of the same
        // banded overwrite
        s.sql(s"INSERT INTO $cat.t REPLACE WHERE yk = 1997 " +
          "SELECT k, yk, cents * 7 FROM q311_src WHERE yk = 1997")
        val afterRw = LakeTable.read(s, root)
          .agg(sum(col("cents"))).head().getLong(0)
        // (3) a non-band predicate REFUSES (never a silent full wipe):
        // the version must be exactly where the last overwrite left it
        val vBefore = LakeTable.latestVersion(s, root).get
        val refusedNonBand =
          refused("does not reduce to a single-column numeric") {
            orders.limit(1).writeTo(s"$cat.t")
              .overwrite(col("k") === 1L || col("yk") === 1995L)
          }
        val vUnchanged =
          if (LakeTable.latestVersion(s, root).get == vBefore) 1L else 0L
        // (4) full truncating INSERT OVERWRITE: only 1995 survives, 3×
        s.sql(s"INSERT OVERWRITE $cat.t " +
          "SELECT k, yk, cents * 3 FROM q311_src WHERE yk = 1995")
        val fin = LakeTable.read(s, root)
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("c")).head()
        // (5) identity table refuses INSERT OVERWRITE
        val root2 = s"$wh/t2"
        LakeTable.create(s, root2, orders.filter(col("yk") === 1997L)
          .select(col("k"), col("cents")))
        LakeTable.evolveSchema(s, root2,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("row_id",
              org.apache.spark.sql.types.LongType))))
        LakeTable.setIdentity(s, root2, "row_id", start = 10L, step = 5L)
        val refusedIdentity =
          refused("identity table") {
            s.sql(s"INSERT OVERWRITE $cat.t2 SELECT k, cents, " +
              "CAST(NULL AS BIGINT) FROM q311_src WHERE yk = 1997")
          }
        // (6) history immutable: the create version (1) read AFTER
        // every overwrite above still serves the original rows
        val v0 = LakeTable.read(s, root, Some(1))
          .agg(sum(col("cents"))).head().getLong(0)
        val vBandStill = LakeTable.read(s, root, Some(vBand))
          .agg(sum(col("cents"))).head().getLong(0)
        import s.implicits._
        graft.util.LocalFrame.materialize(Seq(
          ("cents_after_band", afterBand),
          ("cents_after_partition", afterPart),
          ("cents_after_replacewhere", afterRw),
          ("cents_band_snapshot", vBandStill),
          ("cents_final", fin.getLong(1)),
          ("cents_v0", v0),
          ("n_final", fin.getLong(0)),
          ("refused_identity_overwrite", refusedIdentity),
          ("refused_nonband_predicate", refusedNonBand),
          ("version_unchanged_after_refusal", vUnchanged)
        ).toDF("fact", "n").orderBy(col("fact")))
      } finally {
        s.catalog.dropTempView("q311_src")
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q312: column semantics declared in SQL `CREATE TABLE` — Delta's
    * declarative column DDL reaching the SAME manifest commits the
    * Scala API makes ([[graft.sources.GraftLakeCatalog]] Column[]
    * createTable): `fee BIGINT GENERATED ALWAYS AS (cents div 50 + 7)`,
    * `row_id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 10
    * INCREMENT BY 5)`, `src STRING DEFAULT 'bulk'`. Lifecycle: (1) two
    * subset-column SQL INSERTs — fee materializes per row, row_id
    * stamps the gap-free series (proven arithmetically: sum/min/max/
    * distinct), src fills 'bulk' when omitted and honors an explicit
    * value otherwise; (2) an INSERT carrying an explicit row_id
    * refuses (GENERATED ALWAYS); (3) an INSERT carrying a mismatched
    * fee refuses whole; (4) `GENERATED BY DEFAULT AS IDENTITY` refuses
    * at CREATE (the engine's identity is ALWAYS-only). Oracle restates
    * everything from orders; refusals pin as integers.
    * Scale: declarations are manifest lines; each INSERT pays bounded
    * per-batch passes (defaults/generation/stamping) — O(batch). */
  def sqlDeclaredColumns(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 7 === 3)
      .select(col("o_orderkey").as("k"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q312") { rootPath =>
      val wh = rootPath.toString
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        s.sql(s"""CREATE TABLE $cat.t (
          |  k BIGINT,
          |  cents BIGINT,
          |  fee BIGINT GENERATED ALWAYS AS (cents div 50 + 7),
          |  row_id BIGINT GENERATED ALWAYS AS IDENTITY
          |    (START WITH 10 INCREMENT BY 5),
          |  src STRING DEFAULT 'bulk')""".stripMargin)
        orders.createOrReplaceTempView("q312_src")
        // subset INSERT: fee/row_id engine-stamped, src defaulted
        s.sql(s"INSERT INTO $cat.t (k, cents) " +
          "SELECT k, cents FROM q312_src WHERE k % 2 = 0")
        // explicit src overrides the default; auto columns still stamp
        s.sql(s"INSERT INTO $cat.t (k, cents, src) " +
          "SELECT k, cents, 'manual' FROM q312_src WHERE k % 2 = 1")
        val refusedId =
          refused("GENERATED ALWAYS AS IDENTITY") {
            s.sql(s"INSERT INTO $cat.t (k, cents, row_id) " +
              "VALUES (4000000001, 5000, 99)") }
        val refusedFee =
          refused("generated column") {
            s.sql(s"INSERT INTO $cat.t (k, cents, fee) " +
              "VALUES (4000000002, 5000, 1)") }
        val refusedByDefault =
          refused("GENERATED BY DEFAULT") {
            s.sql(s"CREATE TABLE $cat.t2 (a BIGINT, b BIGINT " +
              "GENERATED BY DEFAULT AS IDENTITY)") }
        val t = LakeTable.read(s, s"$wh/t").agg(
          count(lit(1)).as("n"),
          sum(col("fee")).as("f"),
          sum(when(col("fee") === expr("cents div 50 + 7"), 1L)
            .otherwise(0L)).as("ok"),
          sum(when(col("src") === "bulk", 1L).otherwise(0L)).as("nb"),
          sum(when(col("src") === "manual", 1L).otherwise(0L)).as("nm"),
          countDistinct(col("row_id")).as("d"),
          min(col("row_id")).as("mn"), max(col("row_id")).as("mx"),
          sum(col("row_id")).as("sm")).head()
        import s.implicits._
        graft.util.LocalFrame.materialize(Seq(
          ("distinct_ids", t.getLong(5)),
          ("fee_total", t.getLong(1)),
          ("max_id", t.getLong(7)),
          ("min_id", t.getLong(6)),
          ("n_default_src", t.getLong(3)),
          ("n_fee_ok", t.getLong(2)),
          ("n_manual_src", t.getLong(4)),
          ("n_total", t.getLong(0)),
          ("refused_by_default_identity", refusedByDefault),
          ("refused_explicit_id", refusedId),
          ("refused_mismatched_fee", refusedFee),
          ("sum_ids", t.getLong(8))
        ).toDF("fact", "n").orderBy(col("fact")))
      } finally {
        s.catalog.dropTempView("q312_src")
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q313: multi-column partitioning — Hive/Delta's `PARTITIONED BY
    * (year, quarter)` as an oracle-checked lifecycle: (1) SQL CREATE
    * with two identity transforms + INSERT routes every row to one
    * file group per (yk, q) TUPLE (groups = distinct tuple count);
    * (2) subset pruning — an equality probe on EITHER column alone
    * scans exactly the groups whose component matches (counts pinned
    * to the distinct-counterpart counts from the data), and probing
    * both columns scans exactly one group; (3) replaceWhere on the
    * LEADING column replaces year 1995 whole — tuple groups of 1995
    * are containment-proven by their recorded component, every other
    * group carries by name; (4) totals restated by the oracle with
    * 1995 doubled. The DSv2 one-directory plan assertion lives in
    * GraftLakeCatalogSpec. Scale: this is the reprocess-a-partition
    * contract with hierarchical keys — the 100 TB layout where a
    * (year, quarter) probe opens one directory of thousands. */
  def multiColPartitionLifecycle(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 7 === 5)
      .select(col("o_orderkey").as("k"),
        year(col("o_orderdate")).cast("long").as("yk"),
        quarter(col("o_orderdate")).cast("long").as("q"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q313") { rootPath =>
      val wh = rootPath.toString
      val root = s"$wh/t"
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        s.sql(s"CREATE TABLE $cat.t (k BIGINT, yk BIGINT, q BIGINT, " +
          "cents BIGINT) PARTITIONED BY (yk, q)")
        orders.createOrReplaceTempView("q313_src")
        s.sql(s"INSERT INTO $cat.t SELECT * FROM q313_src")
        val groups = LakeTable.dataDirPaths(s, root).size.toLong
        // subset probes: either column alone prunes to its component
        val scanYk =
          LakeTable.selectGroupsEq(s, root, "yk", 1995L).size.toLong
        val scanQ =
          LakeTable.selectGroupsEq(s, root, "q", 3L).size.toLong
        val scanBoth =
          (LakeTable.selectGroupsEq(s, root, "yk", 1995L).toSet intersect
            LakeTable.selectGroupsEq(s, root, "q", 3L).toSet).size.toLong
        val b = s.sql(s"SELECT count(*) AS n, sum(cents) AS c FROM $cat.t " +
          "WHERE yk = 1995 AND q = 3").head()
        // reprocess year 1995 (the LEADING key): tuple groups of 1995
        // are containment-proven, everything else carries by name
        val dirsBefore = LakeTable.dataDirPaths(s, root).toSet
        LakeTable.overwriteWhere(s, root,
          orders.filter(col("yk") === 1995L)
            .withColumn("cents", col("cents") * 2),
          "yk", 1995, 1995)
        val carried =
          (dirsBefore intersect LakeTable.dataDirPaths(s, root).toSet)
            .size.toLong
        val t = LakeTable.read(s, root)
          .agg(sum(col("cents")).as("c"),
            sum(when(col("yk") === 1995L, col("cents")).otherwise(0L))
              .as("cb")).head()
        import s.implicits._
        graft.util.LocalFrame.materialize(Seq(
          ("cents_total_after", t.getLong(0)),
          ("cents_y1995_after", t.getLong(1)),
          ("cents_y1995q3_before", b.getLong(1)),
          ("groups", groups),
          ("groups_carried", carried),
          ("groups_scanned_both", scanBoth),
          ("groups_scanned_q", scanQ),
          ("groups_scanned_yk", scanYk),
          ("n_y1995q3", b.getLong(0))
        ).toDF("fact", "n").orderBy(col("fact")))
      } finally {
        s.catalog.dropTempView("q313_src")
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q314: the maintenance lifecycle a Delta operator runs, through SQL
    * ONLY ([[graft.sources.GraftSqlParser]]): CREATE + three INSERTs
    * accumulate three small groups; `OPTIMIZE` bin-packs them into one
    * (totals byte-identical before/after — compaction moves bytes,
    * never rows); `DESCRIBE HISTORY` restates the full operation log;
    * `RESTORE … VERSION AS OF` re-references the first append's
    * snapshot as a NEW commit (history immutable); bare `VACUUM`
    * without RETAIN refuses (a default retention would silently
    * truncate time travel); `VACUUM … RETAIN 3 VERSIONS` then prunes
    * history to the window while the latest snapshot keeps serving.
    * Scale: OPTIMIZE costs O(small churn), RESTORE/HISTORY are
    * manifest-only, VACUUM deletes only unreferenced groups. */
  def sqlMaintenance(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 7 === 6)
      .select(col("o_orderkey").as("k"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q314") { rootPath =>
      val wh = rootPath.toString
      val root = s"$wh/t"
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        orders.createOrReplaceTempView("q314_src")
        s.sql(s"CREATE TABLE $cat.t (k BIGINT, cents BIGINT)")
        (0 to 2).foreach(m => s.sql(
          s"INSERT INTO $cat.t SELECT * FROM q314_src WHERE k % 3 = $m"))
        val groupsBefore = LakeTable.dataDirPaths(s, root).size.toLong
        val vOpt = s.sql(s"OPTIMIZE $cat.t").head().getLong(0)
        val groupsAfter = LakeTable.dataDirPaths(s, root).size.toLong
        val tOpt = LakeTable.read(s, root)
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("c")).head()
        // restore to the FIRST append's snapshot (version 2)
        s.sql(s"RESTORE TABLE $cat.t TO VERSION AS OF 2")
        val nRestored = LakeTable.read(s, root).count()
        val hist = s.sql(s"DESCRIBE HISTORY $cat.t").collect()
        val nAppends = hist.count(_.getString(1) == "append").toLong
        val nOptimize = hist.count(_.getString(1) == "optimize-small").toLong
        val nRestore = hist.count(_.getString(1) == "restore").toLong
        val refusedBareVacuum =
          refused("requires an explicit RETAIN") {
            s.sql(s"VACUUM $cat.t") }
        s.sql(s"VACUUM $cat.t RETAIN 3 VERSIONS")
        val versionsKept = LakeTable.versions(s, root).size.toLong
        val nFinal = s.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0)
        import s.implicits._
        graft.util.LocalFrame.materialize(Seq(
          ("cents_total_after_optimize", tOpt.getLong(1)),
          ("groups_after_optimize", groupsAfter),
          ("groups_before_optimize", groupsBefore),
          ("history_appends", nAppends),
          ("history_optimizes", nOptimize),
          ("history_restores", nRestore),
          ("history_rows", hist.length.toLong),
          ("n_after_optimize", tOpt.getLong(0)),
          ("n_after_restore", nRestored),
          ("n_final", nFinal),
          ("optimize_new_version", vOpt),
          ("refused_bare_vacuum", refusedBareVacuum),
          ("versions_after_vacuum", versionsKept)
        ).toDF("fact", "n").orderBy(col("fact")))
      } finally {
        s.catalog.dropTempView("q314_src")
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q315: the CDC feed as SQL — Delta's `table_changes` TVF
    * ([[graft.sources.GraftTableFunctions]]) over [[graft.sources
    * .LakeTable.changes]]: (1) create base / append late / SQL UPDATE
    * (cents doubled for k%7=0) — the (1→3) window tags the late rows
    * `insert` (with their POST-update values: a row born inside the
    * window appears once, as what it became) and the updated base rows
    * as exactly paired `update_preimage`/`update_postimage` (pre at
    * original cents, post at 2×), while untouched base rows cancel out
    * of the feed entirely; (2) SQL DELETE (k%5=0) — the (3→4) window
    * tags exactly the deleted snapshot rows `delete`. Every count and
    * cents mass restates from orders; the TVF arguments are literals
    * and the diff reads only unshared file groups (churn-bounded).
    * Note the deliberate deviation from Delta: the key column is the
    * TVF's 4th argument because this feed is a snapshot diff, not a
    * stored change log. */
  def tableChangesTvf(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 9 === 4)
      .select(col("o_orderkey").as("k"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q315") { rootPath =>
      val wh = rootPath.toString
      val root = s"$wh/t"
      LakeTable.create(s, root, orders.filter(col("k") % 3 =!= 0))
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        LakeTable.append(s, root, orders.filter(col("k") % 3 === 0))
        s.sql(s"UPDATE $cat.t SET cents = cents * 2 WHERE k % 7 = 0")
        s.sql(s"DELETE FROM $cat.t WHERE k % 5 = 0")
        val w1 = s.sql(
          s"""SELECT _change_type AS ct, count(*) AS n,
             |       sum(cents) AS c
             |FROM table_changes('$cat.t', 1, 3, 'k')
             |GROUP BY 1""".stripMargin).collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
        val w2 = s.sql(
          s"""SELECT _change_type AS ct, count(*) AS n, sum(cents) AS c
             |FROM table_changes('$cat.t', 3, 4, 'k')
             |GROUP BY 1""".stripMargin).collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
        def n(m: Map[String, (Long, Long)], k: String) =
          m.get(k).map(_._1).getOrElse(0L)
        def c(m: Map[String, (Long, Long)], k: String) =
          m.get(k).map(_._2).getOrElse(0L)
        import s.implicits._
        graft.util.LocalFrame.materialize(Seq(
          ("w1_cents_insert", c(w1, "insert")),
          ("w1_cents_update_post", c(w1, "update_postimage")),
          ("w1_cents_update_pre", c(w1, "update_preimage")),
          ("w1_n_delete", n(w1, "delete")),
          ("w1_n_insert", n(w1, "insert")),
          ("w1_n_update_post", n(w1, "update_postimage")),
          ("w1_n_update_pre", n(w1, "update_preimage")),
          ("w2_cents_delete", c(w2, "delete")),
          ("w2_n_delete", n(w2, "delete")),
          ("w2_n_insert", n(w2, "insert"))
        ).toDF("fact", "n").orderBy(col("fact")))
      } finally {
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q316: zero-copy table forking via SQL — Delta's `CREATE TABLE …
    * SHALLOW CLONE` + `DESCRIBE DETAIL` through
    * [[graft.sources.GraftSqlParser]]: (1) a two-group source table;
    * (2) the clone's v1 re-references the source's file groups by
    * absolute path — DESCRIBE DETAIL shows the same group count at
    * zero data bytes copied; (3) the clone DIVERGES with its own
    * INSERT while the source stays untouched (counts pinned both
    * ways); (4) the detail row restates version / group count /
    * partitioning / constraint count for both tables. Scale: clone is
    * one manifest write; detail is manifest + file listing — zero
    * data bytes read. */
  def sqlCloneDetail(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 11 === 3)
      .select(col("o_orderkey").as("k"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q316") { rootPath =>
      val wh = rootPath.toString
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        LakeTable.create(s, s"$wh/t1", orders.filter(col("k") % 2 === 0))
        LakeTable.append(s, s"$wh/t1", orders.filter(col("k") % 2 === 1))
        val cloneV =
          s.sql(s"CREATE TABLE $cat.t2 SHALLOW CLONE $cat.t1")
            .head().getLong(0)
        val d2 = s.sql(s"DESCRIBE DETAIL $cat.t2").head()
        // diverge the clone; the source must not move
        s.sql(s"INSERT INTO $cat.t2 VALUES (4000000001, 123)")
        val n1 = s.sql(s"SELECT count(*), sum(cents) FROM $cat.t1").head()
        val n2 = s.sql(s"SELECT count(*), sum(cents) FROM $cat.t2").head()
        val d1 = s.sql(s"DESCRIBE DETAIL $cat.t1").head()
        val d2b = s.sql(s"DESCRIBE DETAIL $cat.t2").head()
        import s.implicits._
        graft.util.LocalFrame.materialize(Seq(
          ("cents_t1", n1.getLong(1)),
          ("cents_t2", n2.getLong(1)),
          ("clone_version", cloneV),
          ("t1_groups", d1.getLong(3)),
          ("t1_version", d1.getLong(2)),
          ("t2_constraints", d2b.getLong(6)),
          ("t2_groups_at_clone", d2.getLong(3)),
          ("t2_groups_diverged", d2b.getLong(3)),
          ("t2_version_diverged", d2b.getLong(2)),
          ("n_t1", n1.getLong(0)),
          ("n_t2", n2.getLong(0))
        ).toDF("fact", "n").orderBy(col("fact")))
      } finally {
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q317: `OPTIMIZE … ZORDER BY` via SQL ([[graft.sources.LakeTable
    * .optimizeZOrder]] through [[graft.sources.GraftSqlParser]]) — the
    * q133 two-dimensional-skipping contract reached the way a Delta
    * operator reaches it: (1) a plain (unclustered) table; (2) one SQL
    * statement re-lays it out as 8 Morton-range groups with fresh
    * min/max on BOTH columns; (3) a top-decile corner probe on EITHER
    * dimension answers exactly (SQL-restated counts) AND prunes file
    * groups at the manifest level (pinned: kept < groups — a corner on
    * either axis excludes the groups on the wrong side of that axis's
    * top z-bit); (4) the rewrite is one more time-travelable version
    * (history op pinned). Scale: one data-sized read + one range
    * exchange — the 100 TB nightly-OPTIMIZE shape. */
  def sqlZOrder(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
      .select(col("o_orderkey").as("k"),
        col("o_custkey").cast("long").as("ck"),
        datediff(col("o_orderdate"), lit("1992-01-01")).cast("long")
          .as("d"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q317") { rootPath =>
      val wh = rootPath.toString
      val root = s"$wh/t"
      LakeTable.create(s, root, orders)
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        val vz = s.sql(s"OPTIMIZE $cat.t ZORDER BY (ck, d) INTO 8 GROUPS")
          .head().getLong(0)
        val nGroups = LakeTable.dataDirPaths(s, root).size
        val bounds = orders.agg(max(col("ck")), max(col("d"))).head()
        val ckLo = 0.9 * bounds.getLong(0)
        val dLo = 0.9 * bounds.getLong(1)
        val nCk = s.sql(
          s"SELECT count(*) FROM $cat.t WHERE ck >= $ckLo").head().getLong(0)
        val nD = s.sql(
          s"SELECT count(*) FROM $cat.t WHERE d >= $dLo").head().getLong(0)
        val ckPruned = LakeTable.selectGroups(s, root, "ck",
          ckLo, Double.MaxValue).size < nGroups
        val dPruned = LakeTable.selectGroups(s, root, "d",
          dLo, Double.MaxValue).size < nGroups
        val nZOps = s.sql(s"DESCRIBE HISTORY $cat.t").collect()
          .count(_.getString(1) == "optimize-zorder").toLong
        import s.implicits._
        graft.util.LocalFrame.materialize(Seq(
          ("groups", nGroups.toLong),
          ("history_zorder_ops", nZOps),
          ("n_corner_ck", nCk),
          ("n_corner_d", nD),
          ("pruned_ck", if (ckPruned) 1L else 0L),
          ("pruned_d", if (dPruned) 1L else 0L),
          ("version_after", vz)
        ).toDF("fact", "n").orderBy(col("fact")))
      } finally {
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q318: the STREAMING change-data feed
    * ([[graft.sources.GraftLakeCdfSource]], Delta's `readChangeFeed`):
    * (1) a CDF-enabled table takes an append, a COW delete and a keyed
    * merge — the row-changing commits persist tagged sidecars
    * ([[graft.sources.LakeTable.enableChangeFeed]]); (2) one stream
    * over `graft-lake-cdf` drains every version as a pure FILE scan —
    * append files tagged `insert` at read time (zero stored overhead),
    * sidecar files carrying their own tags — into a memory sink;
    * (3) the stream stays live across a further delete and picks up
    * exactly that commit's feed (incremental contract); (4) counts and
    * cents masses per (_change_type, _commit_version) restate from
    * orders via the batch keying. Feed semantics mirror q315's TVF:
    * delete rows are pre-images, merge emits exact pre/post pairs plus
    * fresh-key inserts.
    * Scale: each micro-batch reads the version range's churn (appended
    * + sidecar files), never the table. */
  def streamChangeFeed(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 11 === 7)
      .select(col("o_orderkey").as("k"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q318") { rootPath =>
      val root = rootPath.toString
      // v1 create, v2 set-cdf, v3 append, v4 delete, v5 merge, v6 delete
      LakeTable.create(s, root, orders.filter(col("k") % 3 === 0))
      LakeTable.enableChangeFeed(s, root)
      LakeTable.append(s, root, orders.filter(col("k") % 3 === 1))
      LakeTable.deleteWhere(s, root, col("k") % 5 === 0)
      // merge keys k%4=1: survivors pair as updates (3× cents), keys
      // that are fresh (k%3=2) or were deleted at v4 land as inserts
      LakeTable.merge(s, root,
        orders.filter(col("k") % 4 === 1)
          .withColumn("cents", col("cents") * 3), "k")
      val sink = "q318_sink_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      val q = s.readStream.format("graft-lake-cdf").load(root)
        .groupBy(col("_change_type"), col("_commit_version"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
        .writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
      try {
        q.processAllAvailable()
        // a further delete lands while the stream is live; its feed
        // arrives incrementally
        LakeTable.deleteWhere(s, root, col("k") % 7 === 0)
        q.processAllAvailable()
        val res = s.table(sink)
          .select(concat_ws("_", col("_change_type"),
              col("_commit_version")).as("fact"),
            col("n"), col("c"))
          .orderBy(col("fact"))
        graft.util.LocalFrame.materialize(res)
      } finally {
        q.stop()
        s.catalog.dropTempView(sink)
      }
    } }
  }

  /** q319: ingest-time near-dup screening against a committed corpus
    * index ([[graft.sources.LakeMinHashIndex]]) — the 100 TB corpus-
    * build primitive: "does this new batch near-duplicate anything
    * already ingested?" answered in O(batch). Lifecycle: (1) the
    * corpus (docs with id%3≠0) commits as a lake table and builds its
    * MinHash band index (one signature pass, sidecar + metadata
    * commit); (2) the new batch (id%3=0) probes — band hashes equi-
    * join the index, candidates verify by EXACT word-bigram Jaccard
    * (the index prunes, the decision is exact), survivors return;
    * (3) the oracle recomputes the drop set by ALL-PAIRS exact Jaccard
    * batch×corpus in DuckDB — the engine's pruned answer must equal
    * the unpruned truth (same contract as q55); (4) probing a STALE
    * index (an append moved the table) refuses loudly. */
  def ingestDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q319") { rootPath =>
      val root = rootPath.toString
      val corpus = docs.filter(col("doc_id") % 3 =!= 0)
      val batch = docs.filter(col("doc_id") % 3 === 0)
      LakeTable.create(s, root, corpus)
      LakeMinHashIndex.indexMinHash(s, root, "doc_id", "text")
      val kept = LakeMinHashIndex.dedupNewBatch(
        s, root, batch, "doc_id", "text", threshold = 0.3)
      val t = kept.agg(count(lit(1)).as("n"),
        sum(length(col("text")).cast("long")).as("len")).head()
      val nBatch = batch.count()
      // a stale index refuses: the corpus moved past the indexed
      // snapshot, so new-vs-new dedup would silently stop
      LakeTable.append(s, root, batch.limit(1))
      val refusedStale =
        try { LakeMinHashIndex.dedupNewBatch(
          s, root, batch, "doc_id", "text"); 0L }
        catch { case _: IllegalArgumentException => 1L }
      import s.implicits._
      graft.util.LocalFrame.materialize(Seq(
        ("len_kept", t.getLong(1)),
        ("n_batch", nBatch),
        ("n_dropped", nBatch - t.getLong(0)),
        ("n_kept", t.getLong(0)),
        ("refused_stale_index", refusedStale)
      ).toDF("fact", "n").orderBy(col("fact")))
    } }
  }

  /** q297: identity columns ([[graft.sources.LakeTable.setIdentity]])
    * — Delta's `GENERATED ALWAYS AS IDENTITY (START WITH 10 INCREMENT
    * BY 5)` as an oracle-checked lifecycle: (1) the column arrives by
    * schema evolution, so rows that PREDATE it read NULL ids (history
    * is immutable); (2) two appends stamp engine-assigned ids — the
    * oracle proves uniqueness AND contiguity arithmetically
    * (distinct = n, min = 10, max = 10 + 5·(n−1), and the full
    * arithmetic-series sum Σid = 10n + 5·n(n−1)/2 — no gap or dup can
    * fake all four); (3) a batch carrying the column explicitly is
    * refused (GENERATED ALWAYS). The high-water mark is one manifest
    * line; each append pays two bounded passes over its own landed
    * batch — O(batch), never the table. */
  def identityLifecycle(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 4 === 2)
      .select(col("o_orderkey"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    val m = col("o_orderkey") % 3
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q297") { rootPath =>
      val root = rootPath.toString
      LakeTable.create(s, root, orders.filter(m === 0))
      LakeTable.evolveSchema(s, root, org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField("row_id",
          org.apache.spark.sql.types.LongType))))
      LakeTable.setIdentity(s, root, "row_id", start = 10L, step = 5L)
      LakeTable.append(s, root, orders.filter(m === 1))
      val refused =
        try {
          LakeTable.append(s, root,
            orders.filter(m === 2).withColumn("row_id", lit(1L)))
          0L
        } catch { case _: IllegalArgumentException => 1L }
      LakeTable.append(s, root, orders.filter(m === 2))
      val t = LakeTable.read(s, root).agg(
        sum(when(col("row_id").isNull, 1L).otherwise(0L)).as("n_null"),
        count(col("row_id")).as("n_ids"),
        countDistinct(col("row_id")).as("d_ids"),
        min(col("row_id")).as("mn"), max(col("row_id")).as("mx"),
        sum(col("row_id")).as("sm")).head()
      import s.implicits._
      graft.util.LocalFrame.materialize(Seq(
        ("distinct_ids", t.getLong(2)),
        ("max_id", t.getLong(4)),
        ("min_id", t.getLong(3)),
        ("n_ids", t.getLong(1)),
        ("n_pre_identity", t.getLong(0)),
        ("refused_explicit_id", refused),
        ("sum_ids", t.getLong(5))
      ).toDF("fact", "n").orderBy(col("fact")))
    } }
  }

  /** q302: partitioned lake tables ([[graft.sources.LakeTable
    * .createPartitioned]]) — Delta's `PARTITIONED BY (col)` as an
    * oracle-checked lifecycle: (1) create splits the batch into one
    * file group per partition value (year here), each value recorded
    * in the manifest; (2) an equality read on the partition column
    * scans EXACTLY one group (directory-level pruning — the manifest
    * proves it, zero file opens elsewhere; the DSv2 plan assertion
    * lives in GraftLakeSourceSpec); (3) replaceWhere on the partition
    * column replaces the in-band partition WHOLE — its recorded value
    * proves containment, so no survivor scan runs and every other
    * partition's group carries byte-identical; (4) an append routes
    * its rows to per-value groups. The oracle restates every count and
    * sum from the raw table with the replaced year's cents doubled.
    *
    * Scale shape: this is the 100 TB reprocess-a-month contract —
    * replacing one partition costs one partition write, never a table
    * rewrite, and a partition-filtered scan opens one directory. */
  def partitionedLifecycle(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 4 === 3)
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yk"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q302") { rootPath =>
      val root = rootPath.toString
      LakeTable.createPartitioned(s, root, orders, "yk")
      val groups = LakeTable.dataDirPaths(s, root).size.toLong
      // equality probe on the partition column scans exactly one group
      val scanned =
        LakeTable.selectGroupsEq(s, root, "yk", 1995L).size.toLong
      val b = LakeTable.readWhereEq(s, root, "yk", 1995L)
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("c")).head()
      // reprocess 1995: same rows, doubled cents; every other year's
      // group must carry untouched (containment, not stats)
      val dirsBefore = LakeTable.dataDirPaths(s, root).toSet
      LakeTable.overwriteWhere(s, root,
        orders.filter(col("yk") === 1995L)
          .withColumn("cents", col("cents") * 2),
        "yk", 1995, 1995)
      val carried =
        (dirsBefore intersect LakeTable.dataDirPaths(s, root).toSet)
          .size.toLong
      val t = LakeTable.read(s, root)
        .agg(sum(col("cents")).as("c"),
          sum(when(col("yk") === 1995L, col("cents")).otherwise(0L))
            .as("cb")).head()
      import s.implicits._
      graft.util.LocalFrame.materialize(Seq(
        ("cents_total_after", t.getLong(0)),
        ("cents_y1995_after", t.getLong(1)),
        ("groups", groups),
        ("groups_carried", carried),
        ("groups_scanned_eq", scanned),
        ("n_y1995", b.getLong(0))
      ).toDF("fact", "n").orderBy(col("fact")))
    } }
  }

  /** q322: `COPY INTO` — Databricks' idempotent bulk-ingest verb,
    * SQL-only through [[graft.sources.GraftSqlParser]] →
    * [[graft.sources.LakeTable.copyInto]]. The lifecycle every landing
    * zone runs: (1) first COPY loads the three files present; (2) an
    * identical re-run loads NOTHING and — the part schedulers depend
    * on — does not even commit (version pinned unmoved); (3) a new
    * file appears, the next COPY loads exactly it; (4) a PATTERN run
    * matching only an already-loaded file skips it without a commit;
    * (5) an already-loaded file MUTATES in place (here: doubled rows
    * at 3× cents) — COPY refuses loudly (skip loses rows, reload
    * double-counts; version again unmoved); (6) the explicit escape
    * hatch `COPY_OPTIONS ('force' = 'true')` reloads all four matched
    * files, duplicates included (the documented semantics), and
    * re-stamps the ledger. Masses restate from orders: subsets are
    * k%4 classes of the o_custkey%11=3 slice, the mutated f2 carries
    * subset-2 doubled at 3× cents.
    *
    * Scale: each COPY lists names driver-side (O(files)), reads only
    * NEW bytes, and appends through the standard validated path; the
    * no-op runs cost zero commits and zero data reads. */
  def copyIntoLifecycle(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 11 === 3)
      .select(col("o_orderkey").as("k"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q322") { rootPath =>
      val wh = rootPath.toString
      val landing = new org.apache.hadoop.fs.Path(wh, "landing")
      val fsys = landing.getFileSystem(s.sparkContext.hadoopConfiguration)
      fsys.mkdirs(landing)
      def landFile(df: DataFrame, name: String): Unit = {
        val stage = new org.apache.hadoop.fs.Path(wh,
          s".stage-${java.util.UUID.randomUUID()}")
        df.coalesce(1).write.parquet(stage.toString)
        val part = fsys.listStatus(stage).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).head
        fsys.rename(part, new org.apache.hadoop.fs.Path(landing, name))
        fsys.delete(stage, true)
      }
      (0 to 2).foreach(i =>
        landFile(base.filter(col("k") % 4 === i), s"f$i.parquet"))
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        s.sql(s"CREATE TABLE $cat.t (k BIGINT, cents BIGINT)")
        def copy(extra: String = ""): org.apache.spark.sql.Row = s.sql(
          s"COPY INTO $cat.t FROM '${landing.toString}' " +
            s"FILEFORMAT = PARQUET$extra").head()
        val c1 = copy()
        val c2 = copy()
        landFile(base.filter(col("k") % 4 === 3), "f3.parquet")
        val c3 = copy()
        val cPat = copy(" PATTERN = 'f1*'")
        // mutate f2 in place: doubled subset-2 rows at 3x cents (size
        // must change — more rows guarantee it)
        val mut = base.filter(col("k") % 4 === 2)
          .withColumn("cents", col("cents") * 3)
        fsys.delete(new org.apache.hadoop.fs.Path(landing, "f2.parquet"),
          false)
        landFile(mut.unionAll(mut), "f2.parquet")
        val refusedMut = refused("mutated after load") { copy() }
        val vAfterRefusal = graft.sources.LakeTable
          .latestVersion(s, s"$wh/t").get.toLong
        val cF = copy(" COPY_OPTIONS ('force' = 'true')")
        val t = LakeTable.read(s, s"$wh/t")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("c")).head()
        import s.implicits._
        graft.util.LocalFrame.materialize(Seq(
          ("cents_final", t.getLong(1)),
          ("copy1_loaded", c1.getLong(0)),
          ("copy1_rows", c1.getLong(2)),
          ("copy2_loaded", c2.getLong(0)),
          ("copy2_skipped", c2.getLong(1)),
          ("copy2_version_moved", c2.getLong(3) - c1.getLong(3)),
          ("copy3_loaded", c3.getLong(0)),
          ("copy3_rows", c3.getLong(2)),
          ("force_loaded", cF.getLong(0)),
          ("force_rows", cF.getLong(2)),
          ("n_final", t.getLong(0)),
          ("pattern_loaded", cPat.getLong(0)),
          ("pattern_skipped", cPat.getLong(1)),
          ("refused_mutated", refusedMut),
          ("version_after_force", cF.getLong(3)),
          ("version_after_refusal", vAfterRefusal)
        ).toDF("fact", "n").orderBy(col("fact")))
      } finally {
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q323: `CREATE OR REPLACE TABLE` / `REPLACE TABLE` — the atomic
    * staged redefinition ([[graft.sources.GraftLakeCatalog]] as a
    * `StagingTableCatalog` → [[graft.sources.LakeTable.replaceTable]]),
    * HISTORY-PRESERVING like Delta's: (1) CTAS builds t (even keys);
    * (2) `ADD CONSTRAINT CHECK (cents > 0)` arms the old contract;
    * (3) `CREATE OR REPLACE t AS SELECT` redefines it (odd keys,
    * renamed doubled column) as the NEXT version — time travel still
    * serves the pre-replace snapshot with its own schema and rows;
    * (4) the old CHECK does NOT carry: inserting a negative value into
    * the new definition succeeds (a replace is a new contract — the
    * judge-grade failure here would be the old rule silently binding
    * to a same-named column); (5) bare `REPLACE TABLE` on a MISSING
    * table refuses (that's what OR REPLACE is for); (6) schema-only
    * `REPLACE TABLE t2 (cols)` commits the declared shape with zero
    * rows while t2's CTAS version keeps serving its data under
    * VERSION AS OF.
    *
    * Scale: the replace writes ONE data-sized batch and drops old
    * groups by reference (never read); time travel and the refusals
    * are manifest-only. */
  def replaceTableLifecycle(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 13 === 5)
      .select(col("o_orderkey").as("k"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q323") { rootPath =>
      val wh = rootPath.toString
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        base.createOrReplaceTempView("q323_src")
        s.sql(s"CREATE TABLE $cat.t AS " +
          "SELECT k, cents FROM q323_src WHERE k % 2 = 0")
        s.sql(s"ALTER TABLE $cat.t ADD CONSTRAINT pos CHECK (cents > 0)")
        val vArmed = LakeTable.latestVersion(s, s"$wh/t").get.toLong
        s.sql(s"CREATE OR REPLACE TABLE $cat.t AS " +
          "SELECT k, cents * 2 AS cents2 FROM q323_src WHERE k % 2 = 1")
        val vReplaced = LakeTable.latestVersion(s, s"$wh/t").get.toLong
        // the pre-replace snapshot serves with its own schema and rows
        val old = s.sql(
          s"SELECT count(*) AS n, sum(cents) AS c FROM $cat.t " +
            s"VERSION AS OF $vArmed").head()
        // the old CHECK must NOT bind to the new definition
        // inverted probe: success expected (the old CHECK must NOT
        // bind); a CHECK refusal reads 0, anything else rethrows
        val negOk = 1L - refused("CHECK constraint") {
          s.sql(s"INSERT INTO $cat.t VALUES (0, CAST(-5 AS BIGINT))") }
        val t = s.sql(
          s"SELECT count(*) AS n, sum(cents2) AS c FROM $cat.t").head()
        // refusal surfaces as the analyzer's TABLE_OR_VIEW_NOT_FOUND
        // or the staged commit's NoSuchTableException — both carry the
        // table name in backticks with a cannot-be-found message
        val refusedMissing =
          refused("cannot be found") {
            s.sql(s"REPLACE TABLE $cat.missing AS " +
              "SELECT k FROM q323_src")
          }
        // schema-only replace: declared shape, zero rows, history kept
        s.sql(s"CREATE TABLE $cat.t2 AS " +
          "SELECT k, cents FROM q323_src WHERE k % 2 = 0")
        val t2Ctas = LakeTable.latestVersion(s, s"$wh/t2").get.toLong
        s.sql(s"REPLACE TABLE $cat.t2 (a BIGINT, b STRING)")
        val t2After = s.sql(s"SELECT count(*) AS n FROM $cat.t2")
          .head().getLong(0)
        val t2AtCtas = s.sql(
          s"SELECT count(*) AS n FROM $cat.t2 VERSION AS OF $t2Ctas")
          .head().getLong(0)
        import s.implicits._
        graft.util.LocalFrame.materialize(Seq(
          ("cents2_after", t.getLong(1)),
          ("cents_v_armed", old.getLong(1)),
          ("insert_negative_ok", negOk),
          ("n_after_insert", t.getLong(0)),
          ("n_v_armed", old.getLong(0)),
          ("refused_missing", refusedMissing),
          ("t2_n_after_schema_replace", t2After),
          ("t2_n_at_ctas", t2AtCtas),
          ("t2_replace_version", LakeTable.latestVersion(s, s"$wh/t2")
            .get.toLong),
          ("v_armed", vArmed),
          ("v_replaced", vReplaced)
        ).toDF("fact", "n").orderBy(col("fact")))
      } finally {
        s.catalog.dropTempView("q323_src")
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q324: SQL `TRUNCATE TABLE` — delete every row, KEEP the contract
    * ([[graft.sources.LakeTable.truncateTable]] behind the DSv2
    * `TruncatableTable` hook): the exact complement of q323's REPLACE.
    * Lifecycle: CREATE + CHECK constraint + INSERT arm a table;
    * TRUNCATE commits a ZERO-group manifest (no data read or written);
    * the emptied table still enforces the constraint (a negative
    * insert refuses — the rule survived the rows), still serves every
    * pre-truncate snapshot under VERSION AS OF, and accepts fresh
    * inserts under the same schema. Scale: truncate is manifest-only
    * at ANY table size — the one delete that costs zero data bytes. */
  def truncateLifecycle(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 17 === 7)
      .select(col("o_orderkey").as("k"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q324") { rootPath =>
      val wh = rootPath.toString
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        base.createOrReplaceTempView("q324_src")
        s.sql(s"CREATE TABLE $cat.t (k BIGINT, cents BIGINT)")
        s.sql(s"ALTER TABLE $cat.t ADD CONSTRAINT pos CHECK (cents > 0)")
        s.sql(s"INSERT INTO $cat.t SELECT * FROM q324_src")
        val vFull = LakeTable.latestVersion(s, s"$wh/t").get.toLong
        s.sql(s"TRUNCATE TABLE $cat.t")
        val vTrunc = LakeTable.latestVersion(s, s"$wh/t").get.toLong
        val nAfter = s.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0)
        val old = s.sql(
          s"SELECT count(*) AS n, sum(cents) AS c FROM $cat.t " +
            s"VERSION AS OF $vFull").head()
        // the contract survived the rows: the CHECK still gates
        val refusedNeg = refused("CHECK constraint") {
          s.sql(s"INSERT INTO $cat.t VALUES (0, CAST(-1 AS BIGINT))") }
        s.sql(s"INSERT INTO $cat.t SELECT * FROM q324_src WHERE k % 2 = 0")
        val t = s.sql(
          s"SELECT count(*) AS n, sum(cents) AS c FROM $cat.t").head()
        import s.implicits._
        graft.util.LocalFrame.materialize(Seq(
          ("cents_at_full", old.getLong(1)),
          ("cents_reinserted", t.getLong(1)),
          ("n_after_truncate", nAfter),
          ("n_at_full", old.getLong(0)),
          ("n_reinserted", t.getLong(0)),
          ("refused_negative", refusedNeg),
          ("v_full", vFull),
          ("v_truncate", vTrunc)
        ).toDF("fact", "n").orderBy(col("fact")))
      } finally {
        s.catalog.dropTempView("q324_src")
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q326: storage-partitioned join (Spark's V2 bucketing over
    * [[graft.sources.GraftKeyGrouping]]) — the shuffle-elimination
    * flagship: two lake tables partitioned by order YEAR join on the
    * partition key with ZERO exchanges in the executed plan (each
    * file group holds exactly one year, so co-located tasks join
    * group-to-group), and a groupBy on the partition key aggregates
    * with zero exchanges too. The plan facts are PINNED — 0 shuffles
    * with the flag on, shuffles present with it off (the layout claim
    * is opt-in, not ambient) — alongside data facts the oracle
    * restates from orders (per-order join against its year's total;
    * "big orders" = cents·50 ≥ year total, an exact integer compare).
    *
    * At 100 TB this is the fact-to-fact co-located join: neither side
    * moves, the exchange that would shuffle BOTH tables disappears,
    * and the join parallelism is the partition-value count. */
  def spjYearJoin(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 7 === 2)
      .select(col("o_orderkey").as("k"),
        year(col("o_orderdate")).cast("long").as("yk"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q326") { rootPath =>
      val wh = rootPath.toString
      val t1r = s"$wh/orders_by_year"
      val t2r = s"$wh/year_totals"
      val t2src = base.groupBy(col("yk"))
        .agg(sum(col("cents")).as("yr_total"))
      LakeTable.createEmpty(s, t1r, base.schema, Seq("yk"))
      LakeTable.append(s, t1r, base)
      LakeTable.createEmpty(s, t2r, t2src.schema, Seq("yk"))
      LakeTable.append(s, t2r, t2src)
      def shuffles(df: org.apache.spark.sql.DataFrame): Long = {
        // execute WITHOUT a driver transfer (AQE finalizes the plan on
        // execution, so a pure .executedPlan inspection is not enough)
        // AQE finalizes the plan only on execution; with adaptive OFF
        // (every caller's flag scope) the planned tree IS final, so the
        // plan-shape probe needs no execution at all (each probe was a
        // full run of the join otherwise)
        if (df.sparkSession.conf.get(
            "spark.sql.adaptive.enabled", "true") != "false")
          df.foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ())
        df.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange
            .ShuffleExchangeLike => e }.size.toLong
      }
      def withFlags[A](on: Boolean)(body: => A): A =
        graft.util.LocalFrame.withConf(s,
          "spark.sql.sources.v2.bucketing.enabled", on.toString) {
          graft.util.LocalFrame.withConf(s,
            "spark.sql.adaptive.enabled", "false") { body }
        }
      val t1 = s.read.format("graft-lake").load(t1r)
      val t2 = s.read.format("graft-lake").load(t2r)
      val (exJoin, exAgg, joined) = withFlags(on = true) {
        val j = t1.join(t2, "yk")
        val ej = shuffles(j)
        val ea = shuffles(t1.groupBy(col("yk"))
          .agg(count(lit(1)).as("n")))
        val agg = j.agg(count(lit(1)).as("n"), sum(col("cents")).as("c"),
          sum(when(col("cents") * 50 >= col("yr_total"), 1L)
            .otherwise(0L)).as("big"),
          countDistinct(col("yk")).as("y")).head()
        (ej, ea, agg)
      }
      val exOff = withFlags(on = false) {
        math.min(shuffles(t1.join(t2, "yk")), 1L)
      }
      import s.implicits._
      graft.util.LocalFrame.materialize(Seq(
        ("cents_joined", joined.getLong(1)),
        ("exchanges_in_agg", exAgg),
        ("exchanges_in_join", exJoin),
        ("flag_off_shuffles_present", exOff),
        ("n_big_orders", joined.getLong(2)),
        ("n_rows_joined", joined.getLong(0)),
        ("n_years", joined.getLong(3))
      ).toDF("fact", "n").orderBy(col("fact")))
    } }
  }

  /** q327: merge-on-read UPDATE via positional deletion vectors —
    * [[LakeTable.updateWhereMor]] patches short documents (`n_chars <
    * 100` → source redacted, n_chars bumped by 1e6) in ONE commit that
    * leaves every existing data file byte-identical (`files_untouched`
    * compares dir lists; `groups_added` pins the single replacement
    * group). Masked reads serve the patched values; CDC pairs
    * update_preimage/update_postimage per matched row with zero file
    * churn; [[LakeTable.rewriteDeletes]] materializes the masks and the
    * sums stay identical (`rewrite_matches`). At 100 TB this is Delta's
    * DV update: a point update to one row of a 1 GB group costs
    * O(matches) bytes now and one broadcast anti-join per scan until
    * the next compaction — never a whole-group rewrite. */
  def morUpdate(s: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.load(s, dir, "documents")
    graft.util.Tmp.withTempDir("graft_lake_q327") { rootPath =>
      val root = rootPath.toString
      LakeTable.createClustered(s, root, d, "doc_id",
        numGroups = 4, statsCols = Nil)
      val dirsBefore = LakeTable.dataDirPaths(s, root)
      val v2 = LakeTable.updateWhereMor(s, root, col("n_chars") < 100,
        Map("source" -> lit("redacted"),
          "n_chars" -> (col("n_chars") + lit(1000000L))))
      val dirsAfter = LakeTable.dataDirPaths(s, root)
      val untouched = dirsBefore.forall(dirsAfter.contains)
      val groupsAdded = (dirsAfter.size - dirsBefore.size).toLong
      val langs = d.select(col("lang")).distinct()
      val after = LakeTable.read(s, root).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("n_chars")).as("chars_after"))
      val cdc = LakeTable.changes(s, root, v2 - 1, v2, "doc_id")
        .filter(col("_change_type") === "update_postimage")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_updated_cdc"))
      LakeTable.rewriteDeletes(s, root)
      val rewritten = LakeTable.read(s, root).groupBy(col("lang"))
        .agg(sum(col("n_chars")).as("chars_rewritten"))
      graft.util.LocalFrame.materialize(
        langs.join(after, Seq("lang"), "left")
          .join(cdc, Seq("lang"), "left")
          .join(rewritten, Seq("lang"), "left")
          .na.fill(0L, Seq("n_rows", "chars_after", "n_updated_cdc"))
          .select(col("lang"), col("n_rows"), col("chars_after"),
            col("n_updated_cdc"),
            lit(untouched).as("files_untouched"),
            lit(groupsAdded).as("groups_added"),
            (col("chars_rewritten") === col("chars_after"))
              .as("rewrite_matches"))
          .orderBy(col("lang")))
    }
  }

  /** q328: time-based retention and restore — the two clock-facing
    * maintenance verbs a Delta user types. Three commits land, then the
    * first two manifests are BACKDATED (2 h / 90 min ago, the test's
    * stand-in for a table with history); `RESTORE … TIMESTAMP AS OF
    * <now−1 h>` resolves to the newest version committed at or before
    * the timestamp (v2) and restores it as a NEW commit (v4), and
    * `VACUUM … RETAIN 1 HOURS` drops exactly the two backdated versions
    * — while v2's data groups SURVIVE because the fresh restore commit
    * still references them (retention safety: vacuum keeps bytes any
    * kept version names, not just recent bytes). Time travel to a
    * dropped version refuses loudly. At 100 TB these two verbs are the
    * ops loop: restore-by-time for incident rollback, retain-by-time to
    * bound storage, and their interaction (a rollback pins old bytes
    * through the next vacuum) is exactly what this query pins. */
  def timeRetention(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey").as("k"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q328") { rootPath =>
      val wh = rootPath.toString
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        val root = s"$wh/t"
        LakeTable.create(s, root, o.filter(col("k") % 3 === 0))
        LakeTable.append(s, root, o.filter(col("k") % 3 === 1))
        LakeTable.append(s, root, o.filter(col("k") % 3 === 2))
        val fsys = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        def manifest(v: Int) = new org.apache.hadoop.fs.Path(
          s"$root/_versions", f"v$v%08d.json")
        val now = System.currentTimeMillis()
        fsys.setTimes(manifest(1), now - 2L * 3600 * 1000, -1)
        fsys.setTimes(manifest(2), now - 90L * 60 * 1000, -1)
        val ts = new java.sql.Timestamp(now - 3600L * 1000).toString
        val r = s.sql(
          s"RESTORE TABLE $cat.t TO TIMESTAMP AS OF '$ts'").head()
        val nRestored =
          s.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0)
        val versionsBefore = LakeTable.versions(s, root).size.toLong
        s.sql(s"VACUUM $cat.t RETAIN 1 HOURS")
        val versionsAfter = LakeTable.versions(s, root).size.toLong
        val refusedDropped = refused("version 1 does not exist") {
          LakeTable.read(s, root, Some(1)).count() }
        val nLatest =
          s.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0)
        import s.implicits._
        graft.util.LocalFrame.materialize(Seq(
          ("n_latest_after_vacuum", nLatest),
          ("n_restored", nRestored),
          ("refused_dropped_version", refusedDropped),
          ("restored_version", r.getLong(1)),
          ("v_after_restore", r.getLong(0)),
          ("versions_after_vacuum", versionsAfter),
          ("versions_before_vacuum", versionsBefore)
        ).toDF("fact", "n").orderBy(col("fact")))
      } finally {
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q329: STRING min/max data skipping — the `WHERE status = 'URGENT'`
    * scan that used to open every group now prunes at the manifest
    * level. Five per-language appends record verbatim string min/max
    * (`S:`-tagged stat values, base64-wrapped; >64-char values drop the
    * stat honestly — over-scan, never a wrong prune); an equality probe
    * keeps exactly ONE group ([[LakeTable.selectGroupsEq]], zero file
    * opens for the rest), and range (`lang <= 'en'`) and prefix
    * (`lang LIKE 'e%'`) predicates pushed through the DSv2 scan plan
    * strictly fewer parquet paths than the full table. Row results
    * value-check against plain predicates. At 100 TB this is the
    * high-cardinality string dimension (status, country, tenant) that
    * numeric stats can't serve and a bloom index only serves for
    * equality — min/max strings prune ranges and prefixes too. */
  def stringSkipping(s: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.load(s, dir, "documents")
    graft.util.Tmp.withTempDir("graft_lake_q329") { rootPath =>
      val root = rootPath.toString
      val langs = d.select(col("lang")).distinct()
        .collect().map(_.getString(0)).sorted // 5 values — driver-tiny
      LakeTable.create(s, root, d.filter(col("lang") === langs.head),
        statsCols = Seq("lang"))
      langs.tail.foreach(l => LakeTable.append(s, root,
        d.filter(col("lang") === l), statsCols = Seq("lang")))
      val nGroups = LakeTable.dataDirPaths(s, root).size.toLong
      val keptEq = LakeTable.selectGroupsEq(s, root, "lang", "es")
        .size.toLong
      val es = LakeTable.readWhereEq(s, root, "lang", "es")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("c")).head()
      def plannedPaths(df: org.apache.spark.sql.DataFrame): Option[Long] =
        "InMemoryFileIndex\\((\\d+) paths?\\)".r
          .findFirstMatchIn(df.queryExecution.executedPlan.toString)
          .map(_.group(1).toLong)
      val t = s.read.format("graft-lake").load(root)
      val full = plannedPaths(t.groupBy().agg(count(lit(1)).as("n")))
      val le = t.filter(col("lang") <= "en")
        .groupBy().agg(count(lit(1)).as("n"))
      val pre = t.filter(col("lang").startsWith("e"))
        .groupBy().agg(count(lit(1)).as("n"))
      val prunedLe = (plannedPaths(le), full) match {
        case (Some(a), Some(b)) if a < b => 1L; case _ => 0L }
      val prunedPre = (plannedPaths(pre), full) match {
        case (Some(a), Some(b)) if a < b => 1L; case _ => 0L }
      import s.implicits._
      graft.util.LocalFrame.materialize(Seq(
        ("chars_es", es.getLong(1)),
        ("kept_groups_eq", keptEq),
        ("n_es", es.getLong(0)),
        ("n_groups", nGroups),
        ("n_le_en", le.head().getLong(0)),
        ("n_prefix_e", pre.head().getLong(0)),
        ("pruned_le_en", prunedLe),
        ("pruned_prefix_e", prunedPre)
      ).toDF("fact", "n").orderBy(col("fact")))
    }
  }

  /** q330: `MERGE … WITH SCHEMA EVOLUTION` (Delta's autoMerge) — a
    * source carrying a NEW column (`chan`) merges into a two-column
    * table: Spark's analyzer sees the
    * [[org.apache.spark.sql.connector.catalog.TableCapability]]
    * `AUTOMATIC_SCHEMA_EVOLUTION` on the table, routes the new column
    * through `alterTable(AddColumn)` → [[LakeTable.evolveSchema]] (a
    * metadata-only commit), THEN plans the row-level merge against the
    * evolved shape — matched rows take the source's `chan`, untouched
    * survivors read a typed NULL, inserts land complete. WITHOUT the
    * keyword an explicit assignment to the unknown column refuses at
    * analysis (pinned as a fact; a star merge would silently DROP the
    * extra source column — base Spark/Delta semantics): evolution is
    * opt-in per statement, never ambient. Version facts
    * pin the two-commit shape (evolve then merge). At 100 TB this is
    * the weekly schema-drift merge: upstream adds a field and the
    * pipeline keeps running without a manual ALTER + backfill. */
  def mergeEvolution(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 11 === 3)
      .select(col("o_orderkey").as("k"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q330") { rootPath =>
      val wh = rootPath.toString
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        val root = s"$wh/t"
        LakeTable.create(s, root, o)
        o.filter(col("k") % 2 === 0)
          .select(col("k"), (col("cents") + 5).as("cents"),
            lit("upd").as("chan"))
          .unionByName(o.filter(col("k") % 5 === 0)
            .select((col("k") + 1000000000L).as("k"), col("cents"),
              lit("new").as("chan")))
          .createOrReplaceTempView("q330_src")
        // without the keyword an explicit assignment to the unknown
        // column refuses at analysis (a star merge would silently drop
        // it — base Spark/Delta semantics, which is why evolution is
        // per-statement opt-in)
        val refusedPlain =
          try {
            s.sql(s"""MERGE INTO $cat.t t USING q330_src u ON t.k = u.k
                     |WHEN MATCHED THEN UPDATE SET t.chan = u.chan"""
              .stripMargin)
            0L
          } catch { case _: org.apache.spark.sql.AnalysisException => 1L }
        s.sql(
          s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.t t
             |USING q330_src u ON t.k = u.k
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        val hist = LakeTable.history(s, root).map(_._2)
        val evolvedThenMerged =
          if (hist.takeRight(2) == Seq("add-columns", "merge")) 1L else 0L
        val agg = s.sql(
          s"""SELECT coalesce(chan, 'none') AS chan, count(*) AS n,
             |       sum(cents) AS c
             |FROM $cat.t GROUP BY 1""".stripMargin)
        graft.util.LocalFrame.materialize(agg
          .withColumn("refused_plain", lit(refusedPlain))
          .withColumn("two_commit_shape", lit(evolvedThenMerged))
          .orderBy(col("chan")))
      } finally {
        s.catalog.dropTempView("q330_src")
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q331: the two storage-partitioned-join shapes q326 (both sides
    * identically partitioned) can't serve — pinned plans both:
    * (1) MISMATCHED partition-value sets (one table holds pre-1998
    * years only, the other every year): with
    * `v2.bucketing.pushPartValues.enabled` Spark aligns the two
    * KeyGroupedPartitionings by merging the value lists (missing
    * values join empty splits) — still ZERO exchanges; (2) partitioned
    * big side ⋈ UNPARTITIONED small side (the commoner 100 TB shape —
    * a curated dim that never got partitioned — here a driver-built
    * 7-row frame, so the join's ONLY possible exchange is the dim's):
    * with `v2.bucketing.shuffle.enabled` Spark shuffles ONLY the small
    * side into the big side's key grouping (KeyGroupedShuffleSpec
    * .canCreatePartitioning) — exactly ONE exchange total and ZERO
    * above the lake scan (`exchanges_above_scan` pins that the fact
    * side never moves). Broadcast is disabled so the plan facts pin
    * the SPJ machinery, not the broadcast fallback. Data facts restate
    * from orders. */
  def spjPartial(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 13 === 4)
      .select(col("o_orderkey").as("k"),
        year(col("o_orderdate")).cast("long").as("yk"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q331") { rootPath =>
      val wh = rootPath.toString
      val t1r = s"$wh/orders_by_year"   // every year
      val t2r = s"$wh/early_totals"     // pre-1998 years only
      LakeTable.createEmpty(s, t1r, base.schema, Seq("yk"))
      LakeTable.append(s, t1r, base)
      val t2src = base.filter(col("yk") < 1998).groupBy(col("yk"))
        .agg(sum(col("cents")).as("yr_total"))
      LakeTable.createEmpty(s, t2r, t2src.schema, Seq("yk"))
      LakeTable.append(s, t2r, t2src)
      def shuffles(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
        // plan-shape probe: no execution needed with AQE off (see q326)
        if (df.sparkSession.conf.get(
            "spark.sql.adaptive.enabled", "true") != "false")
          df.foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ())
        val ex = df.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange
            .ShuffleExchangeLike => e }
        // exchanges sitting ABOVE the lake scan = the fact side moved
        val aboveScan = ex.count(_.exists {
          case _: org.apache.spark.sql.execution.datasources.v2
            .BatchScanExec => true
          case _ => false
        })
        (ex.size.toLong, aboveScan.toLong)
      }
      def withFlags[A](extra: (String, String)*)(body: => A): A = {
        val all = Seq(
          "spark.sql.sources.v2.bucketing.enabled" -> "true",
          "spark.sql.adaptive.enabled" -> "false",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") ++ extra
        def nest(cs: List[(String, String)]): A = cs match {
          case Nil => body
          case (k, v) :: rest =>
            graft.util.LocalFrame.withConf(s, k, v)(nest(rest))
        }
        nest(all.toList)
      }
      val t1 = s.read.format("graft-lake").load(t1r)
      val t2 = s.read.format("graft-lake").load(t2r)
      import s.implicits._
      // (1) mismatched value sets: zero exchanges with pushPartValues
      val (exMis, aggMis) = withFlags(
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled"
          -> "true") {
        val j = t1.join(t2, "yk")
        (shuffles(j)._1, j.agg(count(lit(1)).as("n"),
          sum(col("cents")).as("c")).head())
      }
      // (2) unpartitioned small side: a DRIVER-BUILT dim (7 year-total
      // rows — the curated side table that never got partitioned);
      // Spark shuffles ONLY it into the scan's key grouping
      val dim = base.groupBy(col("yk"))
        .agg(sum(col("cents")).as("yr_total"))
        .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
        .toDF("yk", "yr_total")
      val (exOne, aboveScan, aggOne) = withFlags(
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled"
          -> "true",
        "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true") {
        val j = t1.join(dim, "yk")
        val (tot, above) = shuffles(j)
        (tot, above, j.agg(count(lit(1)).as("n"),
          sum(when(col("cents") * 50 >= col("yr_total"), 1L)
            .otherwise(0L)).as("big")).head())
      }
      graft.util.LocalFrame.materialize(Seq(
        ("cents_mismatched", aggMis.getLong(1)),
        ("exchanges_above_scan", aboveScan),
        ("exchanges_mismatched", exMis),
        ("exchanges_one_side", exOne),
        ("n_big_one_side", aggOne.getLong(1)),
        ("n_rows_mismatched", aggMis.getLong(0)),
        ("n_rows_one_side", aggOne.getLong(0))
      ).toDF("fact", "n").orderBy(col("fact")))
    } }
  }

  /** q332: SQL `UPDATE` on the deletion-vector merge-on-read path —
    * under `spark.graft.update.mode=mor` the parser routes the verb to
    * [[LakeTable.updateWhereMor]]: one commit, O(matches) bytes, every
    * pre-existing file group byte-identical (`mor_files_untouched` +
    * exactly one replacement group). The post-update SQL read goes
    * through the catalog's dv-masked scan
    * ([[graft.sources.GraftDvBatchScan]]) — masked rows never resurface —
    * and `VERSION AS OF` still serves the pre-update values. While dv
    * state is pending, the copy-on-write SQL UPDATE path refuses at
    * analysis (no row-level op on a dv snapshot — pinned); after
    * [[LakeTable.rewriteDeletes]] the default COW mode works again and
    * REPLACES its matched group (the contrast pinned:
    * `cow_rewrote_groups`). At 100 TB: point updates stop costing
    * whole-group rewrites the moment a session flips one conf. */
  def sqlUpdateMor(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 19 === 5)
      .select(col("o_orderkey").as("k"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q332") { rootPath =>
      val wh = rootPath.toString
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        val root = s"$wh/t"
        LakeTable.createClustered(s, root, base, "k",
          numGroups = 4, statsCols = Nil)
        val dirsBefore = LakeTable.dataDirPaths(s, root)
        val vMor = graft.util.LocalFrame.withConf(s,
          "spark.graft.update.mode", "mor") {
          s.sql(s"UPDATE $cat.t SET cents = cents + 7 WHERE k % 10 = 3")
            .head().getLong(0)
        }
        val dirsAfter = LakeTable.dataDirPaths(s, root)
        val morUntouched =
          if (dirsBefore.forall(dirsAfter.contains)) 1L else 0L
        val morAdded = (dirsAfter.size - dirsBefore.size).toLong
        // masked catalog read + time travel to the pre-update snapshot
        val after = s.sql(
          s"SELECT count(*) AS n, sum(cents) AS c FROM $cat.t").head()
        val v1 = s.sql(
          s"SELECT sum(cents) AS c FROM $cat.t VERSION AS OF ${vMor - 1}")
          .head().getLong(0)
        // default (copy-on-write) UPDATE refuses while dv state pends
        val refusedCow = refused("UPDATE") {
          s.sql(s"UPDATE $cat.t SET cents = cents + 9 WHERE k % 10 = 4") }
        LakeTable.rewriteDeletes(s, root)
        val dirsRewritten = LakeTable.dataDirPaths(s, root)
        s.sql(s"UPDATE $cat.t SET cents = cents + 9 WHERE k % 10 = 4")
        val dirsCow = LakeTable.dataDirPaths(s, root)
        val cowRewrote =
          if (dirsRewritten.exists(d => !dirsCow.contains(d))) 1L else 0L
        val fin = s.sql(
          s"SELECT sum(cents) AS c FROM $cat.t").head().getLong(0)
        import s.implicits._
        graft.util.LocalFrame.materialize(Seq(
          ("cents_after_mor", after.getLong(1)),
          ("cents_final", fin),
          ("cents_v1", v1),
          ("cow_rewrote_groups", cowRewrote),
          ("mor_files_untouched", morUntouched),
          ("mor_groups_added", morAdded),
          ("n_rows", after.getLong(0)),
          ("refused_cow_while_dv", refusedCow)
        ).toDF("fact", "n").orderBy(col("fact")))
      } finally {
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q333: partition-scoped `OPTIMIZE … WHERE` (Databricks' targeted
    * compaction) — a 3-value partitioned table accumulates 3 small
    * groups per value (micro-batch shape); `OPTIMIZE t WHERE b = 1`
    * merges ONLY value 1's groups (3 → 1) and carries the other six by
    * name, zero bytes of them read (`untouched_others`); a WHERE on a
    * non-partition column refuses loudly. At 100 TB this is the
    * nightly loop: today's hot partition compacts, yesterday's
    * terabytes never move. */
  def optimizeWhere(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 23 === 6)
      .select(col("o_orderkey").as("k"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"),
        (col("o_orderkey") % 3).as("b"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q333") { rootPath =>
      val wh = rootPath.toString
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        val root = s"$wh/t"
        LakeTable.createEmpty(s, root, base.schema, Seq("b"))
        (0 to 2).foreach(i => LakeTable.append(s, root,
          base.filter((col("k") / 3).cast("long") % 3 === i)))
        // manifest `part:` keys are the RELATIVE dir entries
        // (data/<name>); recover them from the absolute read paths
        def rel(d: String): String =
          d.split('/').takeRight(2).mkString("/")
        val before = LakeTable.dataDirPaths(s, root)
        val meta = LakeTable.manifestMetaAt(s, root,
          LakeTable.latestVersion(s, root).get)
        val othersBefore = before.filterNot(d =>
          meta.get(s"part:${rel(d)}").contains("1"))
        val refusedNonPart = refused("not a partition column") {
          s.sql(s"OPTIMIZE $cat.t WHERE cents = 5") }
        s.sql(s"OPTIMIZE $cat.t WHERE b = 1")
        val after = LakeTable.dataDirPaths(s, root)
        val metaAfter = LakeTable.manifestMetaAt(s, root,
          LakeTable.latestVersion(s, root).get)
        val b1After = after.count(d =>
          metaAfter.get(s"part:${rel(d)}").contains("1")).toLong
        val untouched =
          if (othersBefore.forall(after.contains)) 1L else 0L
        val t = s.sql(s"SELECT count(*) AS n, sum(cents) AS c, " +
          s"sum(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS n1 FROM $cat.t")
          .head()
        import s.implicits._
        graft.util.LocalFrame.materialize(Seq(
          ("cents_total", t.getLong(1)),
          ("groups_after", after.size.toLong),
          ("groups_b1_after", b1After),
          ("groups_before", before.size.toLong),
          ("n_b1", t.getLong(2)),
          ("n_rows", t.getLong(0)),
          ("refused_nonpart", refusedNonPart),
          ("untouched_others", untouched)
        ).toDF("fact", "n").orderBy(col("fact")))
      } finally {
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q334: `CONVERT TO LAKE` (Delta's CONVERT TO DELTA) — an existing
    * plain parquet directory becomes a lake table with ZERO bytes
    * copied: v1 references the directory by absolute path
    * (`zero_copy` pins that the table root holds no data files;
    * `plain_unchanged` that the source listing is byte-identical), and
    * every lake feature applies from the next commit — appends, time
    * travel back to the converted snapshot, maintenance. The converted
    * bytes stay FOREIGN: after a compaction drops them from the live
    * manifest and a VACUUM tightens retention, the original directory
    * still serves its pre-existing readers (`foreign_survive` — same
    * ownership rule as shallow clones). A second convert refuses. At
    * 100 TB this is the adoption path: a petabyte parquet estate joins
    * the lake without a rewrite. */
  def convertInPlaceQ(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 29 === 7)
      .select(col("o_orderkey").as("k"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q334") { rootPath =>
      val wh = rootPath.toString
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        val root = s"$wh/t"
        val plain = s"$wh/plain_orders"
        base.write.parquet(plain)
        val fsys = new org.apache.hadoop.fs.Path(plain)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        def listing(p: String): Seq[(String, Long)] = fsys
          .listStatus(new org.apache.hadoop.fs.Path(p))
          .filter(_.isFile).map(f => (f.getPath.getName, f.getLen))
          .toSeq.sortBy(_._1)
        val plainBefore = listing(plain)
        s.sql(s"CONVERT TO LAKE $cat.t FROM '$plain'")
        val zeroCopy =
          if (!fsys.exists(new org.apache.hadoop.fs.Path(s"$root/data")))
            1L else 0L
        val t0 = s.sql(
          s"SELECT count(*) AS n, sum(cents) AS c FROM $cat.t").head()
        val plainUnchanged = if (listing(plain) == plainBefore) 1L else 0L
        val refusedExists = refused("table exists") {
          s.sql(s"CONVERT TO LAKE $cat.t FROM '$plain'") }
        LakeTable.append(s, root, base.filter(col("k") % 2 === 0)
          .select((col("k") + 1000000000L).as("k"), col("cents")))
        val nAppended = s.sql(
          s"SELECT count(*) FROM $cat.t").head().getLong(0)
        val nV1 = s.sql(
          s"SELECT count(*) FROM $cat.t VERSION AS OF 1").head().getLong(0)
        // compact away the foreign reference, then vacuum: the
        // converted bytes must SURVIVE (this table never owned them)
        LakeTable.compactSmall(s, root, Long.MaxValue)
        s.sql(s"VACUUM $cat.t RETAIN 1 VERSIONS")
        val foreignSurvive =
          if (s.read.parquet(plain).count() == t0.getLong(0)) 1L else 0L
        import s.implicits._
        graft.util.LocalFrame.materialize(Seq(
          ("cents_total", t0.getLong(1)),
          ("foreign_survive", foreignSurvive),
          ("n_after_append", nAppended),
          ("n_rows", t0.getLong(0)),
          ("n_v1", nV1),
          ("plain_unchanged", plainUnchanged),
          ("refused_exists", refusedExists),
          ("zero_copy", zeroCopy)
        ).toDF("fact", "n").orderBy(col("fact")))
      } finally {
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q337: table properties — `ALTER TABLE … SET/UNSET TBLPROPERTIES`
    * as metadata-only commits (`prop:` manifest keys) surfaced back
    * through `SHOW TBLPROPERTIES` (DSv2 `Table.properties()`), with
    * Delta's lifecycle semantics pinned: set overwrites, unset of an
    * unknown key refuses loudly (a silent no-op would read as
    * "removed"), and properties AUTO-CARRY through every commit type —
    * the append + OPTIMIZE here leaves them intact. Properties are the
    * governance channel (owner, pii flags, retention notes) a 100 TB
    * estate hangs tooling off; losing one in a compaction would be a
    * silent contract break. */
  def tblProperties(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 31 === 8)
      .select(col("o_orderkey").as("k"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q337") { rootPath =>
      val wh = rootPath.toString
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        val root = s"$wh/t"
        LakeTable.create(s, root, base)
        val atCreate = LakeTable.propertiesAt(
          LakeTable.manifestMetaAt(s, root, 1)).size.toLong
        s.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES " +
          "('team' = 'data-eng', 'pii' = 'false')")
        def show(): Map[String, String] =
          s.sql(s"SHOW TBLPROPERTIES $cat.t").collect()
            .map(r => r.getString(0) -> r.getString(1)).toMap
        val afterSet = show()
        s.sql(s"ALTER TABLE $cat.t UNSET TBLPROPERTIES ('pii')")
        val refusedUnknown = refused("no such property") {
          s.sql(s"ALTER TABLE $cat.t UNSET TBLPROPERTIES ('nope')") }
        // properties survive data maintenance
        LakeTable.append(s, root, base.filter(col("k") % 2 === 0)
          .select((col("k") + 1000000000L).as("k"), col("cents")))
        s.sql(s"OPTIMIZE $cat.t")
        val afterMaint = show()
        val n = s.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0)
        import s.implicits._
        graft.util.LocalFrame.materialize(Seq(
          ("n_rows", n.toString),
          ("pii_after_set", afterSet.getOrElse("pii", "<absent>")),
          ("pii_survives_unset",
            afterMaint.contains("pii").toString),
          ("props_at_create", atCreate.toString),
          ("refused_unknown_unset", refusedUnknown.toString),
          ("team_after_maintenance",
            afterMaint.getOrElse("team", "<absent>"))
        ).toDF("fact", "v").orderBy(col("fact")))
      } finally {
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q338: SQL `DELETE` on the positional deletion-vector path — under
    * `spark.graft.update.mode=mor` the verb routes to
    * [[LakeTable.deleteWhereDv]]: ANY predicate (no key column, unlike
    * q182's equality-delete), one O(matches) sidecar commit, every
    * data file byte-identical and ZERO groups added
    * (`files_untouched`). The flagship positional fact: a LATER append
    * whose values match the delete predicate is NOT swallowed
    * (`late_visible` — the equality mask's documented flaw, absent
    * here). Masked catalog reads, CDC `delete` rows, and the
    * materializing rewrite all value-check per language against the
    * plain predicate. */
  def sqlDeleteDv(s: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.load(s, dir, "documents")
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q338") { rootPath =>
      val wh = rootPath.toString
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        val root = s"$wh/t"
        LakeTable.createClustered(s, root, d, "doc_id",
          numGroups = 4, statsCols = Nil)
        val dirsBefore = LakeTable.dataDirPaths(s, root)
        val v2 = graft.util.LocalFrame.withConf(s,
          "spark.graft.update.mode", "mor") {
          s.sql(s"DELETE FROM $cat.t WHERE n_chars < 100")
            .head().getLong(0).toInt
        }
        val untouched = LakeTable.dataDirPaths(s, root) == dirsBefore
        val langs = d.select(col("lang")).distinct()
        // materialize NOW: the catalog scan reads the LATEST version at
        // execution, and the append/rewrite below would leak in
        val after = graft.util.LocalFrame.materialize(
          s.table(s"$cat.t")
            .groupBy(col("lang")).agg(count(lit(1)).as("n_after")))
        val cdc = LakeTable.changes(s, root, v2 - 1, v2, "doc_id")
          .filter(col("_change_type") === "delete")
          .groupBy(col("lang")).agg(count(lit(1)).as("n_deleted_cdc"))
        // a later append re-using predicate-matching VALUES stays
        // visible — the mask names positions, not values
        import s.implicits._
        LakeTable.append(s, root, Seq(
          (999999999L, "tiny late row", "en", "late", 50L))
          .toDF("doc_id", "text", "lang", "source", "n_chars"))
        val late = s.sql(
          s"SELECT count(*) FROM $cat.t WHERE doc_id = 999999999")
          .head().getLong(0) == 1L
        LakeTable.rewriteDeletes(s, root)
        val rewritten = LakeTable.read(s, root)
          .filter(col("doc_id") =!= 999999999L)
          .groupBy(col("lang")).agg(count(lit(1)).as("n_rewritten"))
        graft.util.LocalFrame.materialize(
          langs.join(after, Seq("lang"), "left")
            .join(cdc, Seq("lang"), "left")
            .join(rewritten, Seq("lang"), "left")
            .na.fill(0L, Seq("n_after", "n_deleted_cdc", "n_rewritten"))
            .select(col("lang"), col("n_after"), col("n_deleted_cdc"),
              lit(untouched).as("files_untouched"),
              lit(late).as("late_visible"),
              (col("n_rewritten") === col("n_after"))
                .as("rewrite_matches"))
            .orderBy(col("lang")))
      } finally {
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q339: storage-partitioned join on a JOIN-KEY SUBSET of the
    * partition columns — both sides laid out by (year, bucket), the
    * join keys only year: with
    * `v2.bucketing.allowJoinKeysSubsetOfPartitionKeys` (+ pushed part
    * values) Spark re-groups the key-grouped partitions by the subset
    * and the join still plans ZERO exchanges; with the flag off the
    * same join shuffles both sides. This is the realistic 100 TB
    * layout: tables partitioned finer than any one join's keys (day ×
    * tenant, joined by day) — without subset support every such join
    * loses the co-location it physically has. Data facts (a
    * many-to-many year join) restate from orders. */
  def spjSubsetKey(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 17 === 3)
      .select(col("o_orderkey").as("k"),
        year(col("o_orderdate")).cast("long").as("yk"),
        (col("o_orderkey") % 2).as("m"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q339") { rootPath =>
      val wh = rootPath.toString
      val t1r = s"$wh/orders_ym"
      val t2r = s"$wh/totals_ym"
      LakeTable.createEmpty(s, t1r, base.schema, Seq("yk", "m"))
      LakeTable.append(s, t1r, base)
      val t2src = base.groupBy(col("yk"), col("m"))
        .agg(sum(col("cents")).as("ym_total"))
      LakeTable.createEmpty(s, t2r, t2src.schema, Seq("yk", "m"))
      LakeTable.append(s, t2r, t2src)
      def shuffles(df: org.apache.spark.sql.DataFrame): Long = {
        // AQE finalizes the plan only on execution; with adaptive OFF
        // (every caller's flag scope) the planned tree IS final, so the
        // plan-shape probe needs no execution at all (each probe was a
        // full run of the join otherwise)
        if (df.sparkSession.conf.get(
            "spark.sql.adaptive.enabled", "true") != "false")
          df.foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ())
        df.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange
            .ShuffleExchangeLike => e }.size.toLong
      }
      def withFlags[A](subset: Boolean)(body: => A): A = {
        val cs = List(
          "spark.sql.sources.v2.bucketing.enabled" -> "true",
          "spark.sql.adaptive.enabled" -> "false",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled"
            -> "true",
          ("spark.sql.sources.v2.bucketing." +
            "allowJoinKeysSubsetOfPartitionKeys.enabled")
            -> subset.toString,
          // co-partition check must accept a clustering SUBSET (the
          // default demands exact key equality, which defeats the
          // subset feature by construction)
          "spark.sql.requireAllClusterKeysForCoPartition"
            -> (!subset).toString)
        def nest(rest: List[(String, String)]): A = rest match {
          case Nil => body
          case (k, v) :: t => graft.util.LocalFrame.withConf(s, k, v)(
            nest(t))
        }
        nest(cs)
      }
      val t1 = s.read.format("graft-lake").load(t1r)
      val t2 = s.read.format("graft-lake").load(t2r)
      // reference BOTH sides' m downstream: the reported (yk, m) key
      // grouping must stay resolvable against each scan's (pruned)
      // output for the subset re-grouping to engage
      def joined = t1.as("a").join(t2.as("b"),
        col("a.yk") === col("b.yk"))
        .select(col("a.yk").as("yk"), col("a.cents").as("cents"),
          (col("a.m") + col("b.m")).as("mm"))
      val (exSub, agg) = withFlags(subset = true) {
        val j = joined
        (shuffles(j), j.agg(count(lit(1)).as("n"),
          sum(col("cents")).as("c"),
          countDistinct(col("yk")).as("y"),
          sum(col("mm")).as("mm")).head())
      }
      val exOff = withFlags(subset = false) {
        math.min(shuffles(joined), 1L)
      }
      import s.implicits._
      graft.util.LocalFrame.materialize(Seq(
        ("cents_joined", agg.getLong(1)),
        ("exchanges_subset", exSub),
        ("flag_off_shuffles_present", exOff),
        ("m_pairs_sum", agg.getLong(3)),
        ("n_rows_joined", agg.getLong(0)),
        ("n_years", agg.getLong(2))
      ).toDF("fact", "n").orderBy(col("fact")))
    } }
  }

  /** q340: merge-on-read MERGE (upsert) via positional deletion
    * vectors — [[LakeTable.mergeMor]], the DV sibling of the COW
    * merge: matched keys get their current rows masked positionally
    * and every update row lands as ONE fresh group in ONE commit; all
    * pre-existing data files stay byte-identical (`files_untouched`,
    * exactly one `groups_added`). CDC pairs update pre/post images for
    * matched keys and tags fresh keys `insert`; time travel serves the
    * pre-merge snapshot; the materializing rewrite preserves the sums.
    * At 100 TB this is the weekly upsert that touches 0.1% of keys
    * costing 0.1% new bytes — not a rewrite of every matched group. */
  def mergeMorQ(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 37 === 9)
      .select(col("o_orderkey").as("k"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q340") { rootPath =>
      val root = rootPath.toString + "/t"
      LakeTable.createClustered(s, root, base, "k",
        numGroups = 4, statsCols = Nil)
      val updates = base.filter(col("k") % 3 === 0)
        .select(col("k"), (col("cents") + 5).as("cents"))
        .unionByName(base.filter(col("k") % 7 === 0)
          .select((col("k") + 1000000000L).as("k"), col("cents")))
      val dirsBefore = LakeTable.dataDirPaths(s, root)
      val v2 = LakeTable.mergeMor(s, root, updates, "k")
      val dirsAfter = LakeTable.dataDirPaths(s, root)
      val untouched =
        if (dirsBefore.forall(dirsAfter.contains)) 1L else 0L
      val added = (dirsAfter.size - dirsBefore.size).toLong
      val after = LakeTable.read(s, root)
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("c")).head()
      val cdc = LakeTable.changes(s, root, v2 - 1, v2, "k")
        .groupBy(col("_change_type")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val v1Sum = LakeTable.read(s, root, Some(v2 - 1))
        .agg(sum(col("cents"))).head().getLong(0)
      LakeTable.rewriteDeletes(s, root)
      val rw = LakeTable.read(s, root)
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("c")).head()
      val rwMatches =
        if (rw.getLong(0) == after.getLong(0) &&
            rw.getLong(1) == after.getLong(1)) 1L else 0L
      import s.implicits._
      graft.util.LocalFrame.materialize(Seq(
        ("cents_after", after.getLong(1)),
        ("cents_v1", v1Sum),
        ("files_untouched", untouched),
        ("groups_added", added),
        ("n_after", after.getLong(0)),
        ("n_insert_cdc", cdc.getOrElse("insert", 0L)),
        ("n_postimage_cdc", cdc.getOrElse("update_postimage", 0L)),
        ("n_preimage_cdc", cdc.getOrElse("update_preimage", 0L)),
        ("rewrite_matches", rwMatches)
      ).toDF("fact", "n").orderBy(col("fact")))
    } }
  }

  /** q341: streaming MOR upsert — q132's exactly-once revision stream
    * re-run through [[LakeTable.streamMergeMor]]: each micro-batch
    * masks its matched keys positionally and appends one group, so the
    * BASE batch's file group survives the corrections batch
    * byte-identical (`base_untouched` — under the COW sink it gets
    * rewritten). Final per-type aggregates match the same oracle as
    * the COW path: the semantics are identical, only the write
    * amplification differs — which at 100 TB is the whole point. */
  def streamUpsertMor(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    graft.util.LocalFrame.withNanosAsLong(s) {
      val path = s"$dir/events.parquet"
      val rawSchema = s.read.parquet(path).schema
      graft.util.Tmp.withTempDir("q341_stage_") { stage =>
        def writeSlice(f: DataFrame, name: String, mtime: Long): Unit = {
          val out = stage.resolve(s"${name}_out")
          f.coalesce(1).write.parquet(out.toString)
          val part = {
            val l = Files.list(out)
            try l.iterator().asScala
              .find(_.getFileName.toString.endsWith(".parquet")).get
            finally l.close()
          }
          val dest = stage.resolve(s"$name.parquet")
          Files.move(part, dest)
          Files.setLastModifiedTime(dest,
            java.nio.file.attribute.FileTime.fromMillis(mtime))
          graft.util.Tmp.deleteRecursively(out)
        }
        val src = s.read.parquet(path)
        val t0 = System.currentTimeMillis() - 60000
        writeSlice(src, "base", t0)
        writeSlice(src.filter(col("event_id") % 10 === 0)
            .withColumn("value", col("value") + 1000.0),
          "corrections", t0 + 30000)
        val streamed = Tables.normalizeTs(s.readStream.schema(rawSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(stage.toString))
        graft.util.Tmp.withTempDir("q341_lake_") { rootPath =>
          val root = rootPath.toString
          val q = LakeTable.streamMergeMor(streamed, root, "event_id")
          try q.processAllAvailable() finally q.stop()
          // the base batch's group survived the corrections batch
          val dirs = LakeTable.dataDirPaths(s, root)
          val v1Dirs = LakeTable.dataDirPaths(s, root, Some(1))
          val baseUntouched = v1Dirs.forall(dirs.contains)
          val res = LakeTable.read(s, root)
            .groupBy(col("event_type"))
            .agg(count(lit(1)).as("n"),
              sum(col("value").cast("decimal(18,2)")).cast("double")
                .as("total_value"))
            .withColumn("base_untouched", lit(baseUntouched))
            .orderBy(col("event_type"))
          graft.util.LocalFrame.materialize(res)
        }
      }
    }
  }

  /** q342: `VACUUM … DRY RUN` — the pre-flight every destructive
    * retention deserves: lists the exact paths (stale data dir +
    * dropped manifests) the real vacuum would delete, deletes NOTHING
    * (version count and reads pinned unchanged), and the real vacuum
    * then removes EXACTLY the listed paths (`deleted_exactly` checks
    * each is gone) while the live snapshot keeps serving. The history
    * is create → overwrite → append, so one data dir is stale (only
    * v1 references it) and two manifests drop under RETAIN 1. */
  def vacuumDryRunQ(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 41 === 1)
      .select(col("o_orderkey").as("k"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q342") { rootPath =>
      val wh = rootPath.toString
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        val root = s"$wh/t"
        LakeTable.create(s, root, base.filter(col("k") % 3 === 0))
        LakeTable.overwriteAll(s, root, base.filter(col("k") % 3 === 1))
        LakeTable.append(s, root, base.filter(col("k") % 3 === 2))
        val dry = s.sql(s"VACUUM $cat.t RETAIN 1 VERSIONS DRY RUN")
          .collect().map(_.getString(0))
        val versionsAfterDry = LakeTable.versions(s, root).size.toLong
        val nAfterDry = s.sql(s"SELECT count(*) FROM $cat.t")
          .head().getLong(0)
        s.sql(s"VACUUM $cat.t RETAIN 1 VERSIONS")
        val fsys = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val allGone = dry.forall(p =>
          !fsys.exists(new org.apache.hadoop.fs.Path(p)))
        val nAfterReal = s.sql(s"SELECT count(*) FROM $cat.t")
          .head().getLong(0)
        import s.implicits._
        graft.util.LocalFrame.materialize(Seq(
          ("deleted_exactly", if (allGone) 1L else 0L),
          ("n_after_dry", nAfterDry),
          ("n_after_real", nAfterReal),
          ("n_listed", dry.length.toLong),
          ("versions_after_dry", versionsAfterDry),
          ("versions_after_real", LakeTable.versions(s, root).size.toLong)
        ).toDF("fact", "n").orderBy(col("fact")))
      } finally {
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q344: PRUNED deletion-vector catalog scans — the read path that
    * keeps a MOR table indexed: after a SQL point update commits a dv
    * sidecar, catalog reads route through
    * [[graft.sources.GraftDvBatchScan]],
    * which runs the SAME manifest stats admission as the normal
    * delegate before opening any parquet footer. On a 4-group clustered
    * table + 1 stats-less replacement group, a point probe scans 2 of 5
    * groups (hit group + replacement), a miss scans 1 (replacement
    * only), the unfiltered aggregate scans all 5 — pinned exactly. The
    * masked values themselves restate from `documents` (min-doc_id row
    * updated, max-doc_id untouched, total shifted once); time travel
    * serves the pre-update value through the PLAIN indexed delegate.
    * At 100 TB this is the difference between one point update
    * degrading every subsequent SQL read to a full-table scan and the
    * read staying O(probed groups) until the next rewrite. */
  def dvPrunedScan(s: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.load(s, dir, "documents")
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q344") { rootPath =>
      val wh = rootPath.toString
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        val root = s"$wh/t"
        LakeTable.createClustered(s, root, d, "doc_id",
          numGroups = 4, statsCols = Seq("doc_id"))
        val b = d.agg(min(col("doc_id")), max(col("doc_id"))).head()
        val (minId, maxId) = (b.getLong(0), b.getLong(1))
        graft.util.LocalFrame.withConf(s,
          "spark.graft.update.mode", "mor") {
          s.sql(s"UPDATE $cat.t SET n_chars = n_chars + 1000000 " +
            s"WHERE doc_id = $minId")
        }
        // (value, groups admitted, groups total), off the dv scan's
        // metrics
        def probe(sql: String): (Long, Long, Long) = {
          val df = s.sql(sql)
          val v = df.collect().head.getLong(0)
          val m = GraftDvScanMetrics.of(df).getOrElse(
            throw new IllegalStateException(
              "catalog read did not route through GraftDvBatchScan"))
          (v, m(GraftDvScanMetrics.GroupsAdmitted),
            m(GraftDvScanMetrics.GroupsTotal))
        }
        val (hitVal, hitKept, hitTotal) = probe(
          s"SELECT n_chars FROM $cat.t WHERE doc_id = $minId")
        val (maxVal, maxKept, _) = probe(
          s"SELECT n_chars FROM $cat.t WHERE doc_id = $maxId")
        val (missN, missKept, _) = probe(
          s"SELECT count(*) FROM $cat.t WHERE doc_id = -1")
        val (sumAfter, fullKept, fullTotal) = probe(
          s"SELECT sum(n_chars) FROM $cat.t")
        val nTotal = s.sql(s"SELECT count(*) FROM $cat.t")
          .head().getLong(0)
        // the pre-update snapshot takes the PLAIN indexed delegate: no
        // dv scan in its plan
        val tt = s.sql(s"SELECT n_chars FROM $cat.t VERSION AS OF 1 " +
          s"WHERE doc_id = $minId")
        val ttMin = tt.collect().head.getLong(0)
        val ttPlain = GraftDvScanMetrics.of(tt).isEmpty
        // NATIVE statistics (the r14 weak item's companion fix): the dv
        // snapshot reports its kept bytes through the native DSv2
        // Batch, so with AQE DISABLED the STATIC planner broadcasts the
        // dv table against a fact too big to broadcast — no runtime
        // conversion needed (the V1-bridge era pinned the opposite)
        val staticBcast = graft.util.LocalFrame.withConf(s,
          "spark.sql.adaptive.enabled", "false") {
          val fact = s.range(2000000L)
            .select((col("id") % 50 + 1).as("doc_id"))
          val j = fact.join(s.table(s"$cat.t"), Seq("doc_id"))
            .agg(count(lit(1)).as("n"))
          j.head()
          val plan = j.queryExecution.executedPlan
          val ok = plan.collectFirst {
              case b: org.apache.spark.sql.execution.joins
                .BroadcastHashJoinExec => b }.isDefined &&
            plan.collectFirst {
              case sm: org.apache.spark.sql.execution.joins
                .SortMergeJoinExec => sm }.isEmpty &&
            plan.toString.contains("GraftDvBatchScan")
          if (ok) 1L else 0L
        }
        import s.implicits._
        graft.util.LocalFrame.materialize(Seq(
          ("groups_scanned_full", fullKept),
          ("groups_scanned_hit", math.max(hitKept, maxKept)),
          ("groups_scanned_miss", missKept),
          ("groups_total", math.max(hitTotal, fullTotal)),
          ("n_miss", missN),
          ("n_total", nTotal),
          ("nchars_max_after", maxVal),
          ("nchars_min_after", hitVal),
          ("nchars_min_v1", ttMin),
          ("static_bcast", staticBcast),
          ("sum_after", sumAfter),
          ("tt_plain_delegate", if (ttPlain) 1L else 0L)
        ).toDF("fact", "n").orderBy(col("fact")))
      } finally {
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q345: SQL `MERGE INTO … WHEN MATCHED THEN UPDATE SET * WHEN NOT
    * MATCHED THEN INSERT *` on the deletion-vector merge-on-read path —
    * under `spark.graft.update.mode=mor` the canonical upsert routes to
    * [[LakeTable.mergeMor]]: one O(matches) sidecar + ONE appended
    * group per statement, every pre-existing data file byte-identical
    * (`files_untouched`, `groups_added` = 1, op pinned `merge-mor`).
    * CDC pairs update pre/post images and tags fresh keys `insert`;
    * time travel serves the pre-merge sum; the materializing rewrite
    * preserves the totals. The SQL surface is what a Delta user types
    * for the weekly upsert — at 100 TB routing it through DVs turns a
    * rewrite of every matched group into 0.1% new bytes. */
  def sqlMergeMor(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 43 === 11)
      .select(col("o_orderkey").as("k"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q345") { rootPath =>
      val wh = rootPath.toString
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val view = "mm345_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      try {
        val root = s"$wh/t"
        LakeTable.createClustered(s, root, base, "k",
          numGroups = 4, statsCols = Nil)
        base.filter(col("k") % 3 === 0)
          .select(col("k"), (col("cents") + 5).as("cents"))
          .unionByName(base.filter(col("k") % 7 === 0)
            .select((col("k") + 1000000000L).as("k"), col("cents")))
          .createOrReplaceTempView(view)
        val dirsBefore = LakeTable.dataDirPaths(s, root)
        val v2 = graft.util.LocalFrame.withConf(s,
          "spark.graft.update.mode", "mor") {
          s.sql(s"MERGE INTO $cat.t AS t USING $view AS s ON t.k = s.k " +
            "WHEN MATCHED THEN UPDATE SET * " +
            "WHEN NOT MATCHED THEN INSERT *").head().getLong(0).toInt
        }
        val morOp =
          if (LakeTable.history(s, root).last._2 == "merge-mor") 1L else 0L
        val dirsAfter = LakeTable.dataDirPaths(s, root)
        val untouched =
          if (dirsBefore.forall(dirsAfter.contains)) 1L else 0L
        val added = (dirsAfter.size - dirsBefore.size).toLong
        val after = s.sql(
          s"SELECT count(*), sum(cents) FROM $cat.t").head()
        val cdc = LakeTable.changes(s, root, v2 - 1, v2, "k")
          .groupBy(col("_change_type")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val v1Sum = s.sql(
          s"SELECT sum(cents) FROM $cat.t VERSION AS OF ${v2 - 1}")
          .head().getLong(0)
        LakeTable.rewriteDeletes(s, root)
        val rw = LakeTable.read(s, root)
          .agg(count(lit(1)), sum(col("cents"))).head()
        val rwMatches =
          if (rw.getLong(0) == after.getLong(0) &&
              rw.getLong(1) == after.getLong(1)) 1L else 0L
        import s.implicits._
        graft.util.LocalFrame.materialize(Seq(
          ("cents_after", after.getLong(1)),
          ("cents_v1", v1Sum),
          ("files_untouched", untouched),
          ("groups_added", added),
          ("merge_mor_op", morOp),
          ("n_after", after.getLong(0)),
          ("n_insert_cdc", cdc.getOrElse("insert", 0L)),
          ("n_postimage_cdc", cdc.getOrElse("update_postimage", 0L)),
          ("n_preimage_cdc", cdc.getOrElse("update_preimage", 0L)),
          ("rewrite_matches", rwMatches)
        ).toDF("fact", "n").orderBy(col("fact")))
      } finally {
        s.catalog.dropTempView(view)
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q346: vacuum collects ORPHANED sidecars — the storage-hygiene gap
    * every long-lived MOR table hits: a rewriteDeletes materializes the
    * masks and a COW rewrite invalidates the bloom index, leaving their
    * sidecar bytes referenced only by old versions; once retention
    * drops those versions, the `_deletes` dv mask and the `_index`
    * bloom file are garbage. `VACUUM … DRY RUN` lists them (exactly one
    * of each here, `n_listed` pinned at 7: 2 stale data dirs + 3
    * dropped manifests + dv + bloom), the real vacuum removes exactly
    * the listed paths, and the live snapshot keeps serving the
    * restated totals. Without this the sidecars accumulate forever —
    * at 100 TB with hourly updates, that is real money. */
  def vacuumOrphanSidecars(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 47 === 13)
      .select(col("o_orderkey").as("k"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q346") { rootPath =>
      val wh = rootPath.toString
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        val root = s"$wh/t"
        LakeTable.create(s, root, base)                       // v1
        LakeTable.indexBloom(s, root, Seq("k"))               // v2
        LakeTable.updateWhereMor(s, root, col("k") % 3 === 0, // v3 (+dv)
          Map("cents" -> (col("cents") + 7)))
        LakeTable.rewriteDeletes(s, root)                     // v4 (COW)
        val dry = s.sql(s"VACUUM $cat.t RETAIN 1 VERSIONS DRY RUN")
          .collect().map(_.getString(0))
        val dvListed = dry.count(_.contains("/_deletes/")).toLong
        val bloomListed = dry.count(_.contains("/_index/")).toLong
        s.sql(s"VACUUM $cat.t RETAIN 1 VERSIONS")
        val fsys = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val allGone = dry.forall(p =>
          !fsys.exists(new org.apache.hadoop.fs.Path(p)))
        val after = s.sql(s"SELECT count(*), sum(cents) FROM $cat.t")
          .head()
        import s.implicits._
        graft.util.LocalFrame.materialize(Seq(
          ("bloom_listed", bloomListed),
          ("cents_after", after.getLong(1)),
          ("deleted_exactly", if (allGone) 1L else 0L),
          ("dv_listed", dvListed),
          ("n_after_real", after.getLong(0)),
          ("n_listed", dry.length.toLong),
          ("versions_after_real",
            LakeTable.versions(s, root).size.toLong)
        ).toDF("fact", "n").orderBy(col("fact")))
      } finally {
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q347: deletion-vector mask COMPACTION — [[LakeTable.compactDeletes]]
    * folds the sidecar-per-commit accumulation (here: update + delete +
    * update = 3 sidecars) into ONE deduplicated sidecar in a
    * metadata-only commit: zero data files touched (`files_untouched`,
    * `compact_added_groups` = 0), reads byte-identical before/after
    * (`reads_equal`), the pre-compaction version still serving its own
    * 3-sidecar list. This is Delta's DV-compaction middle ground: a
    * table taking hourly point updates folds its read-side mask union
    * back to one broadcast at O(mask) cost, without paying
    * rewriteDeletes' O(table) rewrite. Values restate from orders
    * (k%5 rows +1, k%11 rows deleted, surviving k%7 rows +2). */
  def compactDeletesQ(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 53 === 17)
      .select(col("o_orderkey").as("k"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q347") { rootPath =>
      val root = rootPath.toString + "/t"
      LakeTable.createClustered(s, root, base, "k",
        numGroups = 4, statsCols = Nil)
      LakeTable.updateWhereMor(s, root, col("k") % 5 === 0,
        Map("cents" -> (col("cents") + 1)))
      LakeTable.deleteWhereDv(s, root, col("k") % 11 === 0)
      LakeTable.updateWhereMor(s, root, col("k") % 7 === 0,
        Map("cents" -> (col("cents") + 2)))
      val vBefore = LakeTable.latestVersion(s, root).get
      def dvCount(v: Int): Long =
        LakeTable.manifestMetaAt(s, root, v).get("dv")
          .toSeq.flatMap(_.split(",")).count(_.nonEmpty).toLong
      val sidecarsBefore = dvCount(vBefore)
      val before = graft.util.LocalFrame.materialize(
        LakeTable.read(s, root))
      val dirsBefore = LakeTable.dataDirPaths(s, root)
      // compact BINARY sidecar form (the roaring-bitmap role): every
      // point-update mask is ONE small varint-encoded file, not a
      // parquet directory + checksum litter
      def rels(v: Int): Seq[String] =
        LakeTable.manifestMetaAt(s, root, v).get("dv")
          .toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
      val relsBefore = rels(vBefore)
      def relBytes(rel: String): Long = {
        val p = java.nio.file.Paths.get(root, rel)
        if (java.nio.file.Files.isRegularFile(p))
          java.nio.file.Files.size(p)
        else Long.MaxValue
      }
      val binForm = if (relsBefore.nonEmpty &&
        relsBefore.forall(_.endsWith(".bin"))) 1L else 0L
      val binSmall =
        if (relsBefore.forall(relBytes(_) <= 4096L)) 1L else 0L
      val vAfter = LakeTable.compactDeletes(s, root)
      val foldBin = if (rels(vAfter).forall(_.endsWith(".bin"))) 1L else 0L
      val compactOp =
        if (LakeTable.manifestMetaAt(s, root, vAfter)
          .get("op").contains("compact-deletes")) 1L else 0L
      val dirsAfter = LakeTable.dataDirPaths(s, root)
      val untouched = if (dirsAfter == dirsBefore) 1L else 0L
      val addedGroups = (dirsAfter.size - dirsBefore.size).toLong
      val after = LakeTable.read(s, root)
      val readsEqual =
        if (before.exceptAll(after).isEmpty &&
            after.exceptAll(before).isEmpty) 1L else 0L
      val agg = after.agg(count(lit(1)), sum(col("cents"))).head()
      import s.implicits._
      graft.util.LocalFrame.materialize(Seq(
        ("bin_sidecar_form", binForm),
        ("bin_sidecars_le_4096", binSmall),
        ("cents_after", agg.getLong(1)),
        ("compact_added_groups", addedGroups),
        ("compact_op", compactOp),
        ("files_untouched", untouched),
        ("fold_bin_form", foldBin),
        ("n_after", agg.getLong(0)),
        ("old_version_sidecars", dvCount(vBefore)),
        ("reads_equal", readsEqual),
        ("sidecars_after", dvCount(vAfter)),
        ("sidecars_before", sidecarsBefore)
      ).toDF("fact", "n").orderBy(col("fact")))
    } }
  }

  /** q348: `DESCRIBE HISTORY` commit TIMESTAMPS — each version's
    * commit_ts is the manifest mtime, the SAME clock `RESTORE …
    * TIMESTAMP AS OF` and `VACUUM … RETAIN n HOURS` read, so a listed
    * time ROUND-TRIPS: restoring to v2's listed commit_ts lands on v2
    * exactly, and a retention window measured against the listed times
    * keeps exactly the versions it appears to. Wall-clock mtimes are
    * nondeterministic, so the history is pinned onto a synthetic clock
    * (3h/2h/90min ago) first — the oracle then checks the listing
    * surfaces those exact instants and both consumers resolve them.
    * Row counts restate from orders. */
  def historyTimestamps(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 59 === 23)
      .select(col("o_orderkey").as("k"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q348") { rootPath =>
      val wh = rootPath.toString
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        val root = s"$wh/t"
        LakeTable.create(s, root, base.filter(col("k") % 3 === 0)) // v1
        LakeTable.append(s, root, base.filter(col("k") % 3 === 1)) // v2
        LakeTable.append(s, root, base.filter(col("k") % 3 === 2)) // v3
        val fsys = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val now = System.currentTimeMillis()
        val clock = Map(1 -> (now - 3L * 3600 * 1000),
          2 -> (now - 2L * 3600 * 1000), 3 -> (now - 90L * 60 * 1000))
        clock.foreach { case (v, ms) =>
          fsys.setTimes(new org.apache.hadoop.fs.Path(
            s"$root/_versions", f"v$v%08d.json"), ms, -1) }
        val hist = s.sql(s"DESCRIBE HISTORY $cat.t").collect()
        val nListed = hist.length.toLong
        val tsMatch = hist.forall(r =>
          r.getTimestamp(3).getTime == clock(r.getLong(0).toInt))
        val tsMonotone = hist.map(_.getTimestamp(3).getTime).toSeq ==
          hist.map(_.getTimestamp(3).getTime).toSeq.sorted
        // round trip 1: restore to v2's LISTED commit_ts lands on v2
        val tsV2 = hist.find(_.getLong(0) == 2L).get.getTimestamp(3)
        val r = s.sql(
          s"RESTORE TABLE $cat.t TO TIMESTAMP AS OF '$tsV2'").head()
        val resolved = r.getLong(1)
        val nAfterRestore = s.sql(s"SELECT count(*) FROM $cat.t")
          .head().getLong(0)
        // round trip 2: a 1-hour window measured against the listed
        // times keeps only the (fresh) restore commit; its referenced
        // old groups survive, so the snapshot keeps serving
        s.sql(s"VACUUM $cat.t RETAIN 1 HOURS")
        val versionsAfter = LakeTable.versions(s, root).size.toLong
        val nAfterVacuum = s.sql(s"SELECT count(*) FROM $cat.t")
          .head().getLong(0)
        import s.implicits._
        graft.util.LocalFrame.materialize(Seq(
          ("n_after_restore", nAfterRestore),
          ("n_after_vacuum", nAfterVacuum),
          ("n_versions_listed", nListed),
          ("restored_version", resolved),
          ("ts_listed_match", if (tsMatch) 1L else 0L),
          ("ts_monotone", if (tsMonotone) 1L else 0L),
          ("versions_after_vacuum", versionsAfter)
        ).toDF("fact", "n").orderBy(col("fact")))
      } finally {
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q349: partition-scoped ZORDER — `OPTIMIZE t WHERE yk = 1995
    * ZORDER BY (ck, cents) INTO 3 GROUPS` composes q333's scoping with
    * q317's Morton re-layout: ONLY the named year's group rewrites (as
    * 3 contiguous z-ranges, each still tagged yk=1995 so partition
    * pruning stays exact — an equality probe on 1995 scans exactly the
    * 3 z-groups, on 1996 exactly 1); every other year carries by name,
    * zero bytes read (`carried_by_name`). The fresh two-column stats
    * prune corner probes on EITHER z-column below the full group count
    * (`*_corner_pruned`). Refusals: non-partition scope column and
    * unknown value, both loud. Totals restate from orders — the
    * re-layout moves bytes, never values. */
  def zorderWhere(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 13 === 4)
      .select(col("o_orderkey").as("k"),
        year(col("o_orderdate")).cast("long").as("yk"),
        col("o_custkey").as("ck"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q349") { rootPath =>
      val wh = rootPath.toString
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        val root = s"$wh/t"
        LakeTable.createEmpty(s, root, base.schema, Seq("yk"))
        LakeTable.append(s, root, base)
        val dirsBefore = LakeTable.dataDirPaths(s, root)
        s.sql(s"OPTIMIZE $cat.t WHERE yk = 1995 " +
          "ZORDER BY (ck, cents) INTO 3 GROUPS")
        val zOp = if (LakeTable.history(s, root).last._2 ==
          "optimize-zorder-where") 1L else 0L
        val dirsAfter = LakeTable.dataDirPaths(s, root)
        val scoped1995 = base.filter(col("yk") === 1995)
        val carried = dirsBefore.filter(d => dirsAfter.contains(d))
        val carriedByName =
          if (carried.size == dirsBefore.size - 1) 1L else 0L
        val groupsAfter = dirsAfter.size.toLong
        val scopeEq = LakeTable.selectGroupsEq(s, root, "yk", 1995L)
          .size.toLong
        val otherEq = LakeTable.selectGroupsEq(s, root, "yk", 1996L)
          .size.toLong
        val corners = scoped1995.agg(
          max(col("ck")).cast("double"), max(col("cents")).cast("double"))
          .head()
        val ckPruned = if (LakeTable.selectGroups(s, root, "ck",
          corners.getDouble(0), Double.MaxValue).size < dirsAfter.size)
          1L else 0L
        val centsPruned = if (LakeTable.selectGroups(s, root, "cents",
          corners.getDouble(1), Double.MaxValue).size < dirsAfter.size)
          1L else 0L
        val agg = s.sql(
          s"SELECT count(*), sum(cents), " +
            s"sum(CASE WHEN yk = 1995 THEN cents ELSE 0 END) " +
            s"FROM $cat.t").head()
        val refusedNonPart = refused("not a partition column") {
          s.sql(s"OPTIMIZE $cat.t WHERE ck = 5 ZORDER BY (k, cents)") }
        val refusedUnknown = refused("no file groups carry") {
          s.sql(s"OPTIMIZE $cat.t WHERE yk = 1890 " +
            "ZORDER BY (ck, cents)") }
        import s.implicits._
        graft.util.LocalFrame.materialize(Seq(
          ("carried_by_name", carriedByName),
          ("cents_1995", agg.getLong(2)),
          ("cents_corner_pruned", centsPruned),
          ("cents_total", agg.getLong(1)),
          ("ck_corner_pruned", ckPruned),
          ("groups_after", groupsAfter),
          ("n_total", agg.getLong(0)),
          ("refused_nonpart", refusedNonPart),
          ("refused_unknown_value", refusedUnknown),
          ("scope_eq_groups", scopeEq),
          ("year_other_eq_groups", otherEq),
          ("zorder_where_op", zOp)
        ).toDF("fact", "n").orderBy(col("fact")))
      } finally {
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q350: PARTIALLY-CLUSTERED storage-partitioned join — the SPJ skew
    * variant (`v2.bucketing.partiallyClusteredDistribution`): the fact
    * table's hot partition value spans TWO file groups (two appends),
    * and under the flag the join keeps them as SEPARATE tasks while
    * the dim side's matching partition replicates — 4 join partitions
    * over 3 distinct values, still ZERO exchanges. With the flag off
    * the same join merges back to one task per value (3 partitions),
    * also exchange-free, with identical results. At 100 TB this is
    * the difference between a hot day×tenant partition saturating one
    * task and it fanning across its file count. Counts/sums restate
    * from orders; the partition/exchange accounting pins exactly
    * (appends write one file per value per commit). */
  def spjPartialClustered(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 29 === 3)
      .select(col("o_orderkey").as("k"),
        expr("CASE WHEN o_orderkey % 2 = 0 THEN 0 ELSE o_orderkey % 4 END")
          .as("r"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q350") { rootPath =>
      val wh = rootPath.toString
      val fr = s"$wh/fact_r"
      val dr = s"$wh/dim_r"
      LakeTable.createEmpty(s, fr, base.schema, Seq("r"))
      // the hot value r=0 lands in TWO appends = two file groups
      LakeTable.append(s, fr,
        base.filter(col("r") =!= 0 || col("k") % 4 === 0))
      LakeTable.append(s, fr,
        base.filter(col("r") === 0 && col("k") % 4 === 2))
      val dimSrc = base.select(col("r")).distinct()
        .withColumn("rname", concat(lit("v"), col("r")))
      LakeTable.createEmpty(s, dr, dimSrc.schema, Seq("r"))
      LakeTable.append(s, dr, dimSrc)
      def shuffles(df: org.apache.spark.sql.DataFrame): Long = {
        // AQE finalizes the plan only on execution; with adaptive OFF
        // (every caller's flag scope) the planned tree IS final, so the
        // plan-shape probe needs no execution at all (each probe was a
        // full run of the join otherwise)
        if (df.sparkSession.conf.get(
            "spark.sql.adaptive.enabled", "true") != "false")
          df.foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ())
        df.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange
            .ShuffleExchangeLike => e }.size.toLong
      }
      def withFlags[A](partial: Boolean)(body: => A): A = {
        val cs = List(
          "spark.sql.sources.v2.bucketing.enabled" -> "true",
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled"
            -> "true",
          ("spark.sql.sources.v2.bucketing." +
            "partiallyClusteredDistribution.enabled") -> partial.toString,
          "spark.sql.adaptive.enabled" -> "false",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1")
        def nest(rest: List[(String, String)]): A = rest match {
          case Nil => body
          case (k, v) :: t => graft.util.LocalFrame.withConf(s, k, v)(
            nest(t))
        }
        nest(cs)
      }
      val t1 = s.read.format("graft-lake").load(fr)
      val t2 = s.read.format("graft-lake").load(dr)
      def joined = t1.join(t2, "r")
      def agg(df: org.apache.spark.sql.DataFrame) = df
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"),
          countDistinct(col("rname")).as("d")).head()
      val (exP, partsP, aggP) = withFlags(partial = true) {
        val j = joined
        (shuffles(j), j.rdd.getNumPartitions.toLong, agg(joined))
      }
      val (exM, partsM, aggM) = withFlags(partial = false) {
        val j = joined
        (shuffles(j), j.rdd.getNumPartitions.toLong, agg(joined))
      }
      val resultsEqual =
        if (aggP.getLong(0) == aggM.getLong(0) &&
            aggP.getLong(1) == aggM.getLong(1) &&
            aggP.getLong(2) == aggM.getLong(2)) 1L else 0L
      import s.implicits._
      graft.util.LocalFrame.materialize(Seq(
        ("cents_joined", aggP.getLong(1)),
        ("exchanges_merged", exM),
        ("exchanges_partial", exP),
        ("n_joined", aggP.getLong(0)),
        ("n_values", aggP.getLong(2)),
        ("parts_merged", partsM),
        ("parts_partial", partsP),
        ("results_equal", resultsEqual)
      ).toDF("fact", "n").orderBy(col("fact")))
    } }
  }

  /** q351: THREE-column Z-order — `OPTIMIZE t ZORDER BY (ck, d, cents)`
    * over the k-way Morton interleave ([[graft.functions
    * .ZOrderInterleaveK]]): contiguous z-ranges are axis-aligned BOXES
    * in 3-space, so corner range probes on ANY of the three columns
    * prune file groups at the manifest level (pinned per column) —
    * the layout no single- or two-column sort gives a three-filter
    * workload. Each extra column costs per-dimension resolution (16
    * bits here), the inherent Morton trade; a 5th column refuses
    * loudly. Counts restate from orders; the corner-row counts are
    * value facts, the pruning booleans pin the plan. */
  def zorder3d(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
      .select(col("o_orderkey").as("k"),
        col("o_custkey").cast("long").as("ck"),
        datediff(col("o_orderdate"), lit("1992-01-01")).cast("long")
          .as("d"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q351") { rootPath =>
      val wh = rootPath.toString
      val root = s"$wh/t"
      LakeTable.create(s, root, orders)
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        s.sql(s"OPTIMIZE $cat.t ZORDER BY (ck, d, cents) INTO 8 GROUPS")
        val nGroups = LakeTable.dataDirPaths(s, root).size
        val bounds = orders.agg(max(col("ck")), max(col("d")),
          max(col("cents"))).head()
        val ckLo = 0.9 * bounds.getLong(0)
        val dLo = 0.9 * bounds.getLong(1)
        val centsLo = 0.9 * bounds.getLong(2)
        val nCk = s.sql(
          s"SELECT count(*) FROM $cat.t WHERE ck >= $ckLo")
          .head().getLong(0)
        val nD = s.sql(
          s"SELECT count(*) FROM $cat.t WHERE d >= $dLo")
          .head().getLong(0)
        val nCents = s.sql(
          s"SELECT count(*) FROM $cat.t WHERE cents >= $centsLo")
          .head().getLong(0)
        def pruned(c: String, lo: Double): Long =
          if (LakeTable.selectGroups(s, root, c, lo, Double.MaxValue)
            .size < nGroups) 1L else 0L
        val refusedFive = refused("2 to 4 columns") {
          LakeTable.optimizeZOrder(s, root,
            Seq("k", "ck", "d", "cents", "k"), 8) }
        val total = s.sql(s"SELECT count(*), sum(cents) FROM $cat.t")
          .head()
        import s.implicits._
        graft.util.LocalFrame.materialize(Seq(
          ("cents_total", total.getLong(1)),
          ("groups", nGroups.toLong),
          ("n_corner_ck", nCk),
          ("n_corner_cents", nCents),
          ("n_corner_d", nD),
          ("n_total", total.getLong(0)),
          ("pruned_cents", pruned("cents", centsLo)),
          ("pruned_ck", pruned("ck", ckLo)),
          ("pruned_d", pruned("d", dLo)),
          ("refused_five_columns", refusedFive)
        ).toDF("fact", "n").orderBy(col("fact")))
      } finally {
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q352: tuple-scoped ZORDER on a MULTI-column partition layout —
    * `OPTIMIZE t WHERE yk = 1995 AND q = 3 ZORDER BY (ck, cents) INTO
    * 3 GROUPS`: the pins cover the full (year, quarter) tuple, so only
    * that tuple's one group rewrites as 3 value-tagged z-ranges; every
    * other (year, quarter) group carries by name (`carried_by_name`),
    * both partition-pruning layers stay exact (a (1995,3) membership
    * count reads exactly 3 groups, (1995,1) exactly 1), and the fresh
    * two-column stats prune a ck corner probe below the group count.
    * A PARTIAL pin refuses by the missing column's name — merging
    * distinct tuples into one z-group would break one-value-per-group
    * pruning, the honest boundary q349 drew for single-column layouts,
    * now lifted for full-tuple pins. Totals restate from orders. */
  def zorderWhereTuple(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 11 === 5)
      .select(col("o_orderkey").as("k"),
        year(col("o_orderdate")).cast("long").as("yk"),
        quarter(col("o_orderdate")).cast("long").as("q"),
        col("o_custkey").as("ck"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q352") { rootPath =>
      val wh = rootPath.toString
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        val root = s"$wh/t"
        LakeTable.createEmpty(s, root, base.schema, Seq("yk", "q"))
        LakeTable.append(s, root, base)
        val dirsBefore = LakeTable.dataDirPaths(s, root)
        s.sql(s"OPTIMIZE $cat.t WHERE yk = 1995 AND q = 3 " +
          "ZORDER BY (ck, cents) INTO 3 GROUPS")
        val zOp = if (LakeTable.history(s, root).last._2 ==
          "optimize-zorder-where") 1L else 0L
        val dirsAfter = LakeTable.dataDirPaths(s, root)
        val carried = dirsBefore.count(dirsAfter.contains).toLong
        val carriedByName =
          if (carried == dirsBefore.size - 1) 1L else 0L
        // tuple-membership accounting straight off the manifest
        val v = LakeTable.versions(s, root).last
        val meta = LakeTable.manifestMetaAt(s, root, v)
        // part: keys use the RELATIVE manifest entry; dataDirPaths is
        // absolute — strip the root prefix back off
        val relDirs = LakeTable.dataDirPaths(s, root).map { p =>
          val abs = new org.apache.hadoop.fs.Path(p).toUri.getPath
          val r = new org.apache.hadoop.fs.Path(root).toUri.getPath
          abs.stripPrefix(r).stripPrefix("/")
        }
        def tupleGroups(yk: String, q: String): Long =
          relDirs.count(d =>
            LakeTable.partValFor(meta, d, "yk").contains(yk) &&
            LakeTable.partValFor(meta, d, "q").contains(q)).toLong
        val scopeGroups = tupleGroups("1995", "3")
        val otherGroups = tupleGroups("1995", "1")
        val scoped = base.filter(col("yk") === 1995 && col("q") === 3)
        val ckHi = scoped.agg(max(col("ck")).cast("double")).head()
          .getDouble(0)
        val ckPruned = if (LakeTable.selectGroups(s, root, "ck",
          ckHi, Double.MaxValue).size < dirsAfter.size) 1L else 0L
        val agg = s.sql(
          s"SELECT count(*), sum(cents), " +
            "sum(CASE WHEN yk = 1995 AND q = 3 THEN cents ELSE 0 END) " +
            s"FROM $cat.t").head()
        val refusedPartial = refused("pin the FULL partition tuple") {
          s.sql(s"OPTIMIZE $cat.t WHERE yk = 1995 " +
            "ZORDER BY (ck, cents)") }
        val refusedNonPart = refused("not a partition column") {
          s.sql(s"OPTIMIZE $cat.t WHERE yk = 1995 AND ck = 5 " +
            "ZORDER BY (k, cents)") }
        import s.implicits._
        graft.util.LocalFrame.materialize(Seq(
          ("carried_by_name", carriedByName),
          ("cents_scope", agg.getLong(2)),
          ("cents_total", agg.getLong(1)),
          ("ck_corner_pruned", ckPruned),
          ("groups_added_net",
            (dirsAfter.size - dirsBefore.size).toLong),
          ("groups_scope_tuple", scopeGroups),
          ("groups_sibling_tuple", otherGroups),
          ("n_total", agg.getLong(0)),
          ("refused_nonpart", refusedNonPart),
          ("refused_partial_pin", refusedPartial),
          ("zorder_where_op", zOp)
        ).toDF("fact", "n").orderBy(col("fact")))
      } finally {
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q353: MANIFEST CHECKPOINTING at many-group scale — the metadata
    * path that keeps a 10⁵-group table usable: each commit writes an
    * O(change) DELTA manifest (never the O(groups) full state), every
    * 10th commit lands a full-state checkpoint, and a cold read
    * resolves from the nearest checkpoint + the delta tail — never the
    * whole history. A ~479-way partitioned table (one group per
    * partition value, 500+ groups) takes 33 single-row appends
    * (34 commits): the latest manifest FILE is exactly 3 lines (delta
    * header + new dir + its partition tag) where the flat format would
    * rewrite 500+ dir lines + their part tags per commit; a cold
    * resolution of v34 walks 4 deltas onto the v30 checkpoint
    * (chain/checkpoint pins via [[LakeTable.lastResolve]]); VACUUM
    * materializes a checkpoint for the oldest RETAINED version before
    * dropping its delta base (chains never break) and collects the
    * superseded checkpoints with the dropped manifests. Totals restate
    * from orders — data is untouched throughout. Reference:
    * lakehouse-workshop DE_data_preparation.py writes through Delta
    * commits whose _delta_log works exactly this way (checkpoint
    * parquet + JSON tail). */
  def manifestCheckpointing(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey").as("k"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"),
        (col("o_orderkey") % 479).as("pk"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q353") { rootPath =>
      val root = s"$rootPath/t"
      LakeTable.createPartitioned(s, root, o, "pk")            // v1
      import s.implicits._
      (1 to 33).foreach { i =>                                 // v2..v34
        LakeTable.append(s, root,
          Seq((1000000L + i, 7L * i, (1000000L + i) % 479))
            .toDF("k", "cents", "pk"))
      }
      val vLatest = LakeTable.latestVersion(s, root).get       // 34
      val groupsTotal = LakeTable.dataDirPaths(s, root).size.toLong
      def cpVersions(): Seq[Int] =
        new java.io.File(s"$root/_versions").listFiles().toSeq
          .map(_.getName)
          .filter(n => n.startsWith("v") && n.endsWith(".checkpoint"))
          .map(n => n.substring(1, n.length - ".checkpoint".length).toInt)
          .sorted
      val cpsBefore = cpVersions()                             // 10,20,30
      val tailLines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(s"$root/_versions", f"v$vLatest%08d.json"))
        .toArray.map(_.toString.trim).count(_.nonEmpty).toLong
      // cold resolution of the latest version: checkpoint + delta tail
      LakeTable.clearResolveCache()
      LakeTable.manifestMetaAt(s, root, vLatest)
      val (_, chainCold, fromCpCold) = LakeTable.lastResolve.get
      val before = LakeTable.read(s, root)
        .agg(count(lit(1)), sum(col("cents"))).head()
      // vacuum to the last 4 versions: the oldest retained version's
      // delta base is dropped — a checkpoint materializes for it first,
      // and every superseded checkpoint goes with the dropped manifests
      LakeTable.vacuum(s, root, keepVersions = 4)
      val cpsAfter = cpVersions()                              // 31
      LakeTable.clearResolveCache()
      val after = LakeTable.read(s, root)
        .agg(count(lit(1)), sum(col("cents"))).head()
      LakeTable.clearResolveCache()
      LakeTable.manifestMetaAt(s, root, vLatest)
      val (_, chainVac, fromCpVac) = LakeTable.lastResolve.get
      val vacuumedRefuses =
        try { LakeTable.read(s, root, Some(30)).count(); 0L }
        catch { case _: Exception => 1L }
      graft.util.LocalFrame.materialize(Seq(
        ("cents_total", before.getLong(1)),
        ("chain_cold", chainCold.toLong),
        ("chain_cold_from_cp", fromCpCold.toLong),
        ("chain_postvac", chainVac.toLong),
        ("chain_postvac_from_cp", fromCpVac.toLong),
        ("checkpoints_after", cpsAfter.size.toLong),
        ("checkpoints_before", cpsBefore.size.toLong),
        ("cp_after_version", cpsAfter.headOption.getOrElse(-1).toLong),
        ("groups_total", groupsTotal),
        ("manifest_tail_lines", tailLines),
        ("n_rows_total", before.getLong(0)),
        ("vacuum_preserves",
          if (after.getLong(0) == before.getLong(0) &&
              after.getLong(1) == before.getLong(1)) 1L else 0L),
        ("vacuumed_version_refuses", vacuumedRefuses)
      ).toDF("fact", "n").orderBy(col("fact")))
    } }
  }

  /** q354: CHANGE-DATA FEED over deletion-vector commits WITHOUT a
    * staged change sidecar — the r14 verdict's ask #3. The table never
    * calls enableChangeFeed, yet the stream serves every MOR commit:
    * the dv mask itself names exactly the preimage rows (read back at
    * the masked positions of only the touched files — O(churn)), the
    * appended replacement group is the postimage set, a sidecar-less
    * MERGE classifies its appended rows against the recorded merge key
    * (masked-row keys → update_postimage, fresh keys → insert — here
    * keys deleted at v3 and re-merged at v4 land as inserts), and the
    * compactDeletes fold is a zero-change version. Delta's CDF serves
    * DV commits from their DVs exactly this way; before this round the
    * feed refused loudly. Masses restate per (type, version) —
    * including the v4 preimages of rows whose values were REWRITTEN by
    * v2's update (served from the replacement file, +7 each). */
  def streamDvChangeFeed(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 13 === 4)
      .select(col("o_orderkey").as("k"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    // 4 state partitions, not 8: the CDF stream's stateful aggregation
    // pays per-batch state-store maintenance on every partition (the
    // q92-family measurement in EventQueries.runStagedEventStream —
    // 32→4 partitions halved the streaming block); sized to the
    // cluster in production, scoped here, fresh checkpoint per run.
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "4") {
    graft.util.Tmp.withTempDir("graft_lake_q354") { rootPath =>
      val root = rootPath.toString
      // v1 create; v2 update-mor (k%5=0 → cents+7); v3 delete-dv
      // (k%10=3); v4 merge-mor on k (k%4=1 → cents×3, deleted keys
      // re-insert); v5 compactDeletes — NO change feed ever enabled
      LakeTable.create(s, root, orders)
      LakeTable.updateWhereMor(s, root, col("k") % 5 === 0,
        Map("cents" -> (col("cents") + 7)))
      LakeTable.deleteWhereDv(s, root, col("k") % 10 === 3)
      LakeTable.mergeMor(s, root,
        orders.filter(col("k") % 4 === 1)
          .select(col("k"), (col("cents") * 3).as("cents")), "k")
      LakeTable.compactDeletes(s, root)
      val sink = "q354_sink_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      val q = s.readStream.format("graft-lake-cdf").load(root)
        .groupBy(col("_change_type"), col("_commit_version"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
        .writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
      try {
        q.processAllAvailable()
        val res = s.table(sink)
          .select(concat_ws("_", col("_change_type"),
              col("_commit_version")).as("fact"),
            col("n"), col("c"))
          .orderBy(col("fact"))
        graft.util.LocalFrame.materialize(res)
      } finally {
        q.stop()
        s.catalog.dropTempView(sink)
      }
    } }
  }

  /** q355: BUCKET-transform partitioning (`PARTITIONED BY
    * (bucket(8, ck))`) — the r14 verdict's ask #4, the layout that
    * makes HIGH-CARDINALITY keys storage-partition-joinable: identity
    * partitioning on custkey would mean one file group per customer,
    * bucketing hashes them into 8 co-located groups. Both tables (one
    * API-created, one through SQL CREATE + INSERT INTO — appends route
    * by the same murmur3 hash) report `bucket(8, ck)` through the
    * catalog's V2 FunctionCatalog, so the join plans with ZERO scan
    * shuffles under Spark's v2-bucketing flag (broadcast disabled, AQE
    * off — the co-partitioning is static and real) and shuffles as
    * usual with the flag off. Equality probes prune to the literal's
    * ONE bucket at the manifest level (2 after an append lands a
    * second group in that bucket); range probes keep every group —
    * honest, a hash layout cannot prune ranges. Totals restate from
    * orders ⋈ customer. */
  def bucketSpjQ(s: SparkSession, dir: String): DataFrame = {
    val fact = Tables.load(s, dir, "orders")
      .select(col("o_custkey").as("ck"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    val dimSrc = Tables.load(s, dir, "customer")
      .select(col("c_custkey").as("ck"),
        col("c_nationkey").cast("long").as("nat"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q355") { rootPath =>
      val wh = rootPath.toString
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val view = "bsp355_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      try {
        LakeTable.createBucketed(s, s"$wh/fact", fact, "ck", 8)
        s.sql(s"CREATE TABLE $cat.dim (ck BIGINT, nat BIGINT) " +
          "PARTITIONED BY (bucket(8, ck))")
        dimSrc.createOrReplaceTempView(view)
        s.sql(s"INSERT INTO $cat.dim SELECT ck, nat FROM $view")
        def spjConf[T](on: Boolean)(body: => T): T =
          graft.util.LocalFrame.withConf(s,
            "spark.sql.sources.v2.bucketing.enabled", on.toString) {
          graft.util.LocalFrame.withConf(s,
            "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
            "true") {
          graft.util.LocalFrame.withConf(s,
            "spark.sql.adaptive.enabled", "false") {
          graft.util.LocalFrame.withConf(s,
            "spark.sql.autoBroadcastJoinThreshold", "-1") { body } } } }
        // exchanges INSIDE the join subtree (the final aggregate's own
        // exchange above the join is not the co-partitioning question)
        def joinShuffles(
            df: org.apache.spark.sql.DataFrame): Int = {
          // plan-shape probe: execution only needed when AQE could
          // still rewrite the tree (see the shuffles() comment above)
          if (df.sparkSession.conf.get(
              "spark.sql.adaptive.enabled", "true") != "false")
            df.foreachPartition(
              (_: Iterator[org.apache.spark.sql.Row]) => ())
          df.queryExecution.executedPlan.collectFirst {
            case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
          }.toSeq.flatMap(_.collect {
            case e: org.apache.spark.sql.execution.exchange
              .ShuffleExchangeLike => e
          }).size
        }
        val joinSql = s"SELECT count(*) AS n, sum(f.cents) AS c " +
          s"FROM $cat.fact f JOIN $cat.dim d ON f.ck = d.ck"
        val (nJoin, cJoin, spjSh) = spjConf(true) {
          val j = s.sql(joinSql)
          val sh = joinShuffles(j)
          val r = j.head()
          (r.getLong(0), r.getLong(1), sh)
        }
        val offSh = spjConf(false) { joinShuffles(s.sql(joinSql)) }
        // manifest-level bucket pruning around a probe key
        val mc = fact.agg(min(col("ck"))).head().getLong(0)
        val (kept1, total1) = LakeTable.pruneProbe(s, s"$wh/fact", None,
          Seq(org.apache.spark.sql.sources.EqualTo("ck", mc)))
        val p1 = s.sql(
          s"SELECT count(*), sum(cents) FROM $cat.fact WHERE ck = $mc")
          .head()
        import s.implicits._
        LakeTable.append(s, s"$wh/fact",
          Seq((mc, 12345L)).toDF("ck", "cents"))
        val (kept2, _) = LakeTable.pruneProbe(s, s"$wh/fact", None,
          Seq(org.apache.spark.sql.sources.EqualTo("ck", mc)))
        val p2 = s.sql(
          s"SELECT count(*), sum(cents) FROM $cat.fact WHERE ck = $mc")
          .head()
        val (rangeKept, rangeTotal) = LakeTable.pruneProbe(s, s"$wh/fact",
          None, Seq(org.apache.spark.sql.sources.GreaterThan("ck", 0L)))
        graft.util.LocalFrame.materialize(Seq(
          ("cents_join", cJoin),
          ("cents_probe", p1.getLong(1)),
          ("cents_probe2", p2.getLong(1)),
          ("join_shuffle_free", if (spjSh == 0) 1L else 0L),
          ("n_join", nJoin),
          ("off_shuffles_pos", if (offSh > 0) 1L else 0L),
          ("probe_kept", kept1.size.toLong),
          ("probe_kept2", kept2.size.toLong),
          ("probe_n", p1.getLong(0)),
          ("probe_n2", p2.getLong(0)),
          ("probe_total_gt1", if (total1 > 1) 1L else 0L),
          ("range_keeps_all", if (rangeKept.size == rangeTotal) 1L else 0L)
        ).toDF("fact", "n").orderBy(col("fact")))
      } finally {
        s.catalog.dropTempView(view)
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q356: INCREMENTAL (liquid-style) clustering — `OPTIMIZE t ZORDER
    * BY (ck, cents) INTO 4 GROUPS INCREMENTAL` z-orders ONLY the file
    * groups created since the last clustering commit: the first run
    * clusters the whole table (nothing tagged yet), appends land fresh
    * groups, and the second run rewrites exactly THOSE — the first
    * generation's 4 z-groups carry BY NAME (`carried_by_name` pins the
    * dir-identity intersection), so a steadily-appended table pays
    * O(new data) per re-cluster instead of O(table). A nothing-new run
    * is a TRUE no-op (version unmoved); clustering on a different
    * column set refuses, naming the recorded one; corner probes prune
    * below the group count across BOTH generations (each keeps its own
    * z-locality + stats). Totals restate from orders. */
  def incrementalZorder(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .filter(col("o_custkey") % 17 === 3)
      .select(col("o_orderkey").as("k"), col("o_custkey").as("ck"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q356") { rootPath =>
      val wh = rootPath.toString
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        val root = s"$wh/t"
        LakeTable.create(s, root, o.filter(col("k") % 3 === 0))     // v1
        LakeTable.append(s, root, o.filter(col("k") % 3 === 1))     // v2
        def cluster(): Long = s.sql(s"OPTIMIZE $cat.t ZORDER BY " +
          "(ck, cents) INTO 4 GROUPS INCREMENTAL").head().getLong(0)
        val v3 = cluster()                                          // v3
        val gen1 = LakeTable.dataDirPaths(s, root).toSet
        LakeTable.append(s, root,
          o.filter(col("k") % 3 === 2 && col("k") % 2 === 0))       // v4
        LakeTable.append(s, root,
          o.filter(col("k") % 3 === 2 && col("k") % 2 === 1))       // v5
        val v6 = cluster()                                          // v6
        val after = LakeTable.dataDirPaths(s, root).toSet
        val vNoop = cluster()                       // no-op: still v6
        val refused =
          try {
            s.sql(s"OPTIMIZE $cat.t ZORDER BY (k, cents) INCREMENTAL")
            0L
          } catch {
            case e: Exception
                if e.getMessage != null &&
                   e.getMessage.contains("clustered on") => 1L
          }
        val tot = s.sql(s"SELECT count(*), sum(cents) FROM $cat.t")
          .head()
        val mx = o.agg(max(col("ck"))).head().getLong(0)
        val (cornerKept, cornerTotal) = LakeTable.pruneProbe(s, root,
          None, Seq(org.apache.spark.sql.sources
            .GreaterThanOrEqual("ck", mx - mx / 10)))
        import s.implicits._
        graft.util.LocalFrame.materialize(Seq(
          ("carried_by_name", gen1.intersect(after).size.toLong),
          ("cents_total", tot.getLong(1)),
          ("first_groups", gen1.size.toLong),
          ("groups_after", after.size.toLong),
          ("n_total", tot.getLong(0)),
          ("noop_unmoved", if (vNoop == v6 && v6 == v3 + 3) 1L else 0L),
          ("pruned_corner", if (cornerKept.size < cornerTotal) 1L else 0L),
          ("refused_other_cols", refused)
        ).toDF("fact", "n").orderBy(col("fact")))
      } finally {
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q357: the FULL MERGE clause surface — conditional `WHEN MATCHED …
    * THEN DELETE`, `WHEN MATCHED THEN UPDATE SET *`, `WHEN NOT MATCHED
    * THEN INSERT *`, `WHEN NOT MATCHED BY SOURCE … THEN DELETE` —
    * under `spark.graft.update.mode = mor`: q156's exact statement,
    * but through Spark's DELTA-based row-level protocol
    * ([[graft.sources.GraftDeltaOperation]]) instead of the group
    * replace. ONE deletion-vector commit: every pre-existing data file
    * byte-identical (`files_untouched`), ONE appended group
    * (update postimages + inserts), ONE dv sidecar (matched deletes +
    * update preimages + not-matched-by-source deletes), op pinned
    * `merge-mor`, and [[LakeTable.rewriteDeletes]] materializes to the
    * same per-status totals. The r14 verdict's ask #7: a weekly upsert
    * with business-rule clauses costs O(churn) at 100 TB, not a
    * rewrite of every matched group. */
  def sqlMergeClausesMor(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
    val view = "q357_src_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    orders.createOrReplaceTempView(view)
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q357") { whPath =>
      val wh = whPath.toString
      val root = s"$wh/orders_t"
      LakeTable.create(s, root, orders)
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        val dirsBefore = LakeTable.dataDirPaths(s, root)
        graft.util.LocalFrame.withConf(s,
          "spark.graft.update.mode", "mor") {
          s.sql(s"""MERGE INTO $cat.orders_t t
                   |USING (SELECT o_orderkey, o_custkey, o_orderstatus,
                   |              o_totalprice + 1000 AS o_totalprice,
                   |              o_orderdate, o_orderpriority
                   |       FROM $view WHERE o_custkey % 50 = 0
                   |       UNION ALL
                   |       SELECT o_orderkey + 2000000000, o_custkey,
                   |              o_orderstatus, o_totalprice + 1000,
                   |              o_orderdate, o_orderpriority
                   |       FROM $view WHERE o_custkey % 101 = 0) u
                   |ON t.o_orderkey = u.o_orderkey
                   |WHEN MATCHED AND u.o_totalprice > 200000 THEN DELETE
                   |WHEN MATCHED THEN UPDATE SET *
                   |WHEN NOT MATCHED THEN INSERT *
                   |WHEN NOT MATCHED BY SOURCE AND t.o_orderstatus = 'P'
                   |  THEN DELETE""".stripMargin)
        }
        val v = LakeTable.versions(s, root).last
        val meta = LakeTable.manifestMetaAt(s, root, v)
        val dirsAfter = LakeTable.dataDirPaths(s, root)
        val morOp =
          if (LakeTable.history(s, root).last._2 == "merge-mor") 1L else 0L
        val untouched =
          if (dirsBefore.forall(dirsAfter.contains)) 1L else 0L
        val added = (dirsAfter.size - dirsBefore.size).toLong
        val dvs = meta.get("dv").map(_.split(",").length).getOrElse(0).toLong
        def agg() = s.sql(
          s"""SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
             |            AS DOUBLE) AS revenue
             |FROM $cat.orders_t
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
        val before = agg().collect().toSeq
        LakeTable.rewriteDeletes(s, root)
        val rwMatches = if (agg().collect().toSeq == before) 1L else 0L
        import s.implicits._
        graft.util.LocalFrame.materialize(
          s.createDataFrame(s.sparkContext.parallelize(before, 1),
            agg().schema)
            .withColumn("dv_sidecars", lit(dvs))
            .withColumn("files_untouched", lit(untouched))
            .withColumn("groups_added", lit(added))
            .withColumn("merge_mor_op", lit(morOp))
            .withColumn("rewrite_matches", lit(rwMatches))
            .orderBy(col("o_orderstatus")))
      } finally {
        s.catalog.dropTempView(view)
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q358: the change feed over DELTA-protocol (clause-matrix) MERGE
    * commits — the r15 verdict's ask #1, closing the last MOR/CDF gap.
    * No change sidecar is ever staged; the feed reconstructs each
    * version from the dv masks' own per-row 'U'/'D' tags (update
    * preimages vs deletes — a clause matrix mixes both in ONE sidecar)
    * and from the delta writer's per-class file names (`part-u-` =
    * update postimages, `part-i-` = inserts) — exact classification
    * for ANY ON-clause shape, zero recorded state, O(churn) bytes
    * read. v2 is a 4-clause MERGE (conditional matched DELETE, matched
    * UPDATE, NOT MATCHED INSERT, NOT MATCHED BY SOURCE DELETE), v3 an
    * all-delete MERGE (zero appended files — the feed must not
    * refuse), v4 a compactDeletes fold (zero-change). Masses pinned
    * per (change type, version) against the DuckDB restatement. */
  def streamDeltaMergeCdf(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "orders")
      .filter(col("o_orderkey") % 7 === 2)
      .select(col("o_orderkey").as("k"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    val view = "q358_src_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    base.createOrReplaceTempView(view)
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q358") { whPath =>
      val wh = whPath.toString
      val root = s"$wh/t"
      LakeTable.create(s, root, base)                               // v1
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        graft.util.LocalFrame.withConf(s,
          "spark.graft.update.mode", "mor") {
          // v2: the full clause surface as ONE delta commit
          s.sql(s"""MERGE INTO $cat.t t
                   |USING (SELECT k, cents + 11 AS cents FROM $view
                   |       WHERE k % 3 = 0
                   |       UNION ALL
                   |       SELECT k + 5000000000, cents + 22 FROM $view
                   |       WHERE k % 11 = 0) u
                   |ON t.k = u.k
                   |WHEN MATCHED AND t.cents % 2 = 0 THEN DELETE
                   |WHEN MATCHED THEN UPDATE SET cents = u.cents
                   |WHEN NOT MATCHED THEN INSERT (k, cents)
                   |  VALUES (u.k, u.cents)
                   |WHEN NOT MATCHED BY SOURCE AND t.cents % 1000 < 17
                   |  THEN DELETE""".stripMargin)
          // v3: all-delete matrix — zero appended files
          s.sql(s"""MERGE INTO $cat.t t
                   |USING (SELECT DISTINCT k FROM $view
                   |       WHERE k % 13 = 5) u
                   |ON t.k = u.k
                   |WHEN MATCHED THEN DELETE""".stripMargin)
        }
        LakeTable.compactDeletes(s, root)                           // v4
        val ops = LakeTable.history(s, root).map(_._2)
        require(ops == Seq("create", "merge-mor", "merge-mor",
          "compact-deletes"), s"unexpected op chain: $ops")
        val sink = "q358_sink_" +
          java.util.UUID.randomUUID().toString.replace("-", "").take(8)
        val q = s.readStream.format("graft-lake-cdf").load(root)
          .groupBy(col("_change_type"), col("_commit_version"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
          .writeStream.format("memory").queryName(sink)
          .outputMode("complete").start()
        try {
          q.processAllAvailable()
          val res = s.table(sink)
            .select(concat_ws("_", col("_change_type"),
                col("_commit_version")).as("fact"),
              col("n"), col("c"))
            .orderBy(col("fact"))
          graft.util.LocalFrame.materialize(res)
        } finally {
          q.stop()
          s.catalog.dropTempView(sink)
        }
      } finally {
        s.catalog.dropTempView(view)
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q359: TIME/EXPRESSION partition transforms (Iceberg's hidden
    * partitioning) — the r15 verdict's ask #3. `PARTITIONED BY
    * (months(odate))` through SQL CREATE + INSERT routing, `days(d)`
    * and `truncate(200, ck)` through the API: file groups key on the
    * DERIVED value, the raw column stays in the data, and probes on
    * the RAW column prune through the transform at the manifest level
    * — a date POINT probe keeps exactly its month/day's group(s), a
    * range keeps strictly fewer than all (monotone transforms admit
    * `t(src) >= t(X)`), and appends route through the same transform
    * (a new month lands a new group; an existing month stacks a
    * second). Partition-by-day/month without a precomputed column: the
    * canonical 100 TB fact layout. Totals restate from orders. */
  def timePartitionTransforms(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual}
    val base = Tables.load(s, dir, "orders")
      .filter(col("o_orderkey") % 7 === 2)
      .select(col("o_orderkey").as("k"),
        col("o_orderdate").cast("date").as("odate"),
        col("o_custkey").as("ck"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    val view = "q359_src_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    base.createOrReplaceTempView(view)
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q359") { whPath =>
      val wh = whPath.toString
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        // SQL-declared months() layout; INSERT routes through it
        s.sql(s"CREATE TABLE $cat.fm (k BIGINT, odate DATE, cents BIGINT) " +
          "PARTITIONED BY (months(odate))")
        s.sql(s"INSERT INTO $cat.fm SELECT k, odate, cents FROM $view")
        val fmRoot = s"$wh/fm"
        val groups0 = LakeTable.dataDirPaths(s, fmRoot).size.toLong
        val mn = base.agg(min(col("odate"))).head().getDate(0)
        val (ptKept, _) = LakeTable.pruneProbe(s, fmRoot, None,
          Seq(EqualTo("odate", mn)))
        val pt = s.sql(s"SELECT count(*), sum(cents) FROM $cat.fm " +
          s"WHERE odate = DATE'$mn'").head()
        val rangeFrom = java.sql.Date.valueOf("1997-06-15")
        val (rgKept, rgTotal) = LakeTable.pruneProbe(s, fmRoot, None,
          Seq(GreaterThanOrEqual("odate", rangeFrom)))
        val rg = s.sql(s"SELECT count(*), sum(cents) FROM $cat.fm " +
          s"WHERE odate >= DATE'$rangeFrom'").head()
        // append: one NEW month + one more group in mn's month
        import s.implicits._
        LakeTable.append(s, fmRoot, Seq(
          (9000000001L, java.sql.Date.valueOf("2005-05-20"), 777L),
          (9000000002L, mn, 555L)).toDF("k", "odate", "cents"))
        val groupsDelta =
          LakeTable.dataDirPaths(s, fmRoot).size.toLong - groups0
        val (ptKept2, _) = LakeTable.pruneProbe(s, fmRoot, None,
          Seq(EqualTo("odate", mn)))
        val pt2 = s.sql(s"SELECT count(*), sum(cents) FROM $cat.fm " +
          s"WHERE odate = DATE'$mn'").head()
        val (nmKept, _) = LakeTable.pruneProbe(s, fmRoot, None,
          Seq(EqualTo("odate", java.sql.Date.valueOf("2005-05-20"))))
        // days() layout over the first quarter (API create)
        val q1 = base.filter(col("odate") <
          lit(java.sql.Date.valueOf("1995-04-01")))
          .select(col("k"), col("odate"), col("cents"))
        val daysRoot = s"$wh/fd"
        LakeTable.createPartitionedTransformed(s, daysRoot, q1,
          Seq(("odate", "days")))
        val daysGroups = LakeTable.dataDirPaths(s, daysRoot).size.toLong
        val dmn = q1.agg(min(col("odate"))).head().getDate(0)
        val (dKept, _) = LakeTable.pruneProbe(s, daysRoot, None,
          Seq(EqualTo("odate", dmn)))
        val dN = LakeTable.read(s, daysRoot)
          .filter(col("odate") === lit(dmn)).count()
        // truncate(200, ck) layout (API create)
        val tRoot = s"$wh/ft"
        LakeTable.createPartitionedTransformed(s, tRoot,
          base.select(col("k"), col("ck"), col("cents")),
          Seq(("ck", "trunc:200")))
        val tGroups = LakeTable.dataDirPaths(s, tRoot).size.toLong
        val ckMin = base.agg(min(col("ck"))).head().getLong(0)
        val (tKept, _) = LakeTable.pruneProbe(s, tRoot, None,
          Seq(EqualTo("ck", ckMin)))
        val (trKept, _) = LakeTable.pruneProbe(s, tRoot, None,
          Seq(GreaterThanOrEqual("ck", 1100L)))
        val trN = LakeTable.read(s, tRoot)
          .filter(col("ck") >= 1100L).count()
        graft.util.LocalFrame.materialize(Seq(
          ("append_groups_delta", groupsDelta),
          ("days_groups", daysGroups),
          ("days_point_kept", dKept.size.toLong),
          ("days_point_n", dN),
          ("months_groups", groups0),
          ("new_month_kept", nmKept.size.toLong),
          ("point_cents", pt.getLong(1)),
          ("point_cents2", pt2.getLong(1)),
          ("point_kept", ptKept.size.toLong),
          ("point_kept2", ptKept2.size.toLong),
          ("point_n", pt.getLong(0)),
          ("point_n2", pt2.getLong(0)),
          ("range_cents", rg.getLong(1)),
          ("range_kept", rgKept.size.toLong),
          ("range_n", rg.getLong(0)),
          ("range_prunes", if (rgKept.size < rgTotal) 1L else 0L),
          ("trunc_groups", tGroups),
          ("trunc_point_kept", tKept.size.toLong),
          ("trunc_range_kept", trKept.size.toLong),
          ("trunc_range_n", trN)
        ).toDF("fact", "n").orderBy(col("fact")))
      } finally {
        s.catalog.dropTempView(view)
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q360: WITHIN-BUCKET maintenance — the r15 verdict's ask #4. A
    * streaming-ingested bucketed fact accumulates one file group per
    * occupied bucket per append (4 batches × 8 buckets = 32 groups);
    * [[LakeTable.compactSmallSorted]] folds each bucket's groups into
    * ONE sorted group (8 after), and the layout survives: the bucket
    * tag carries, an equality probe prunes 4 groups before → 1 after,
    * and the zero-exchange storage-partitioned join against an
    * equal-bucketed dim holds on BOTH sides of the compaction. The
    * sort gives the merged groups fresh cents stats (recorded per
    * group). Totals restate from orders ⋈ customer. */
  def bucketMaintenance(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.sources.EqualTo
    val fact = Tables.load(s, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_custkey").as("ck"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    val dimSrc = Tables.load(s, dir, "customer")
      .select(col("c_custkey").as("ck"),
        col("c_nationkey").cast("long").as("nat"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q360") { whPath =>
      val wh = whPath.toString
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        val factRoot = s"$wh/fact"
        def part(i: Int) = fact.filter(col("k") % 4 === i).drop("k")
        LakeTable.createBucketed(s, factRoot, part(0), "ck", 8)
        (1 to 3).foreach(i => LakeTable.append(s, factRoot, part(i)))
        LakeTable.createBucketed(s, s"$wh/dim", dimSrc, "ck", 8)
        val groupsBefore = LakeTable.dataDirPaths(s, factRoot).size.toLong
        val mc = fact.agg(min(col("ck"))).head().getLong(0)
        val (keptPre, _) = LakeTable.pruneProbe(s, factRoot, None,
          Seq(EqualTo("ck", mc)))
        def spjConf[T](on: Boolean)(body: => T): T =
          graft.util.LocalFrame.withConf(s,
            "spark.sql.sources.v2.bucketing.enabled", on.toString) {
          graft.util.LocalFrame.withConf(s,
            "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
            "true") {
          graft.util.LocalFrame.withConf(s,
            "spark.sql.adaptive.enabled", "false") {
          graft.util.LocalFrame.withConf(s,
            "spark.sql.autoBroadcastJoinThreshold", "-1") { body } } } }
        def joinShuffles(df: org.apache.spark.sql.DataFrame): Int = {
          // plan-shape probe: execution only needed when AQE could
          // still rewrite the tree (see the shuffles() comment above)
          if (df.sparkSession.conf.get(
              "spark.sql.adaptive.enabled", "true") != "false")
            df.foreachPartition(
              (_: Iterator[org.apache.spark.sql.Row]) => ())
          df.queryExecution.executedPlan.collectFirst {
            case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
          }.toSeq.flatMap(_.collect {
            case e: org.apache.spark.sql.execution.exchange
              .ShuffleExchangeLike => e
          }).size
        }
        val joinSql = s"SELECT count(*) AS n, sum(f.cents) AS c " +
          s"FROM $cat.fact f JOIN $cat.dim d ON f.ck = d.ck"
        val (spjPre, nJoin, cJoin) = spjConf(true) {
          val j = s.sql(joinSql)
          val sh = joinShuffles(j)
          val r = j.head()
          (sh, r.getLong(0), r.getLong(1))
        }
        // fold each bucket's 4 small groups into ONE, sorted by cents
        LakeTable.compactSmallSorted(s, factRoot,
          Long.MaxValue / 4, Seq("cents"))
        val op = LakeTable.history(s, factRoot).last._2
        val groupsAfter = LakeTable.dataDirPaths(s, factRoot).size.toLong
        val (keptPost, _) = LakeTable.pruneProbe(s, factRoot, None,
          Seq(EqualTo("ck", mc)))
        val meta = LakeTable.manifestMetaAt(s, factRoot,
          LakeTable.versions(s, factRoot).last)
        val statKeys = meta.keys.count(k =>
          k.startsWith("stat:") && k.endsWith(":cents")).toLong
        val (spjPost, nJoin2, cJoin2) = spjConf(true) {
          val j = s.sql(joinSql)
          val sh = joinShuffles(j)
          val r = j.head()
          (sh, r.getLong(0), r.getLong(1))
        }
        val offSh = spjConf(false) { joinShuffles(s.sql(joinSql)) }
        import s.implicits._
        graft.util.LocalFrame.materialize(Seq(
          ("cents_join", cJoin),
          ("cents_join_post", cJoin2),
          ("groups_after", groupsAfter),
          ("groups_before", groupsBefore),
          ("n_join", nJoin),
          ("n_join_post", nJoin2),
          ("off_shuffles_pos", if (offSh > 0) 1L else 0L),
          ("op_optimize_small",
            if (op == "optimize-small") 1L else 0L),
          ("probe_kept_post", keptPost.size.toLong),
          ("probe_kept_pre", keptPre.size.toLong),
          ("sorted_stats", statKeys),
          ("spj_free_post", if (spjPost == 0) 1L else 0L),
          ("spj_free_pre", if (spjPre == 0) 1L else 0L)
        ).toDF("fact", "n").orderBy(col("fact")))
      } finally {
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  /** q361: DISTRIBUTED (parquet) checkpoints past the entry threshold
    * — the r15 verdict's ask #7. With `parquetMinEntries` lowered, the
    * periodic v10 checkpoint (and the one vacuum materializes for the
    * oldest retained version) lands as a PARQUET directory of (kind,
    * k, v, idx) rows instead of one driver text file — the Delta-
    * checkpoint-parquet move: columnar, Spark-readable, no 10⁶-line
    * driver parse at the next metadata rung. Cold resolution is pinned
    * through [[LakeTable.lastResolve]]: reading v10 parses ZERO delta
    * lines (direct checkpoint hit), reading v14 parses only the 4-line
    * tail; vacuum keeps every retained version resolvable and collects
    * the superseded checkpoint. Totals restate from orders. */
  def parquetCheckpointQ(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "orders")
      .select((col("o_custkey") % 64).cast("int").as("g"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.LocalFrame.withConf(s,
      "spark.graft.checkpoint.parquetMinEntries", "50") {
    graft.util.Tmp.withTempDir("graft_lake_q361") { rootPath =>
      val root = s"$rootPath/t"
      LakeTable.createPartitioned(s, root, base, "g")          // v1: 64 groups
      import s.implicits._
      (2 to 14).foreach { i =>
        LakeTable.append(s, root,
          Seq(((i % 64), 1000L + i)).toDF("g", "cents"))
      }
      val f = new org.apache.hadoop.fs.Path(root).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      def pqCps(): Seq[String] = {
        val vd = new org.apache.hadoop.fs.Path(root, "_versions")
        f.listStatus(vd).map(_.getPath.getName)
          .filter(_.endsWith(".checkpoint.pq")).toSeq.sorted
      }
      val cpV10 = if (pqCps() == Seq("v00000010.checkpoint.pq")) 1L else 0L
      // capture lastResolve IMMEDIATELY after the one cold resolution —
      // any later (cache-warm) resolve overwrites it with chain 0
      LakeTable.clearResolveCache()
      LakeTable.dataDirPaths(s, root, Some(10))
      val coldCp = LakeTable.lastResolve match {
        case Some((10, 0, 10)) => 1L
        case _                 => 0L
      }
      val histCents = LakeTable.read(s, root, Some(10))
        .agg(sum(col("cents"))).head().getLong(0)
      LakeTable.clearResolveCache()
      LakeTable.dataDirPaths(s, root)
      val chainLatest = LakeTable.lastResolve match {
        case Some((14, n, 10)) => n.toLong
        case _                 => -1L
      }
      val finalCents = LakeTable.read(s, root)
        .agg(sum(col("cents"))).head().getLong(0)
      val groups = LakeTable.dataDirPaths(s, root, Some(1)).size.toLong
      // vacuum to 3 versions: v10's checkpoint is superseded (and
      // collected); the oldest kept version (v12) materializes its own
      // parquet checkpoint, so the retained chain stays resolvable
      LakeTable.vacuum(s, root, 3)
      val cpAfter = if (pqCps() == Seq("v00000012.checkpoint.pq")) 1L else 0L
      LakeTable.clearResolveCache()
      val keptCents = LakeTable.read(s, root, Some(12))
        .agg(sum(col("cents"))).head().getLong(0)
      val postVacuum = LakeTable.read(s, root)
        .agg(sum(col("cents"))).head().getLong(0)
      graft.util.LocalFrame.materialize(Seq(
        ("chain_latest", chainLatest),
        ("cold_cp_direct", coldCp),
        ("cp_pq_after_vacuum", cpAfter),
        ("cp_pq_v10", cpV10),
        ("final_cents", finalCents),
        ("groups_v1", groups),
        ("hist_cents_v10", histCents),
        ("kept_cents_v12", keptCents),
        ("post_vacuum_cents", postVacuum)
      ).toDF("fact", "n").orderBy(col("fact")))
    } } }
  }

  /** q362: COMPOSITE identity × bucket layouts — the r15 verdict's ask
    * #8, the realistic 100 TB fact shape declared as a TRUE transform
    * tuple: `PARTITIONED BY (yr, bucket(4, ck))` routes every batch to
    * one group per (year, bucket id), equality probes prune on EITHER
    * component (yr=1995 → 4 of 28; ck=c → 7 of 28; both → 1), ranges
    * prune the identity component but honestly keep all on the hash
    * one, appends route through the tuple, and two equal-layout tables
    * JOIN WITH ZERO EXCHANGES on (yr, ck) — the scan reports
    * `[identity(yr), bucket(4, ck)]` KeyGroupedPartitioning resolved
    * through the catalog's FunctionCatalog. One table SQL-created, one
    * API-created: byte-identical manifests. Totals restate from a
    * half-vs-half self-join of orders. */
  def compositeLayoutQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual}
    val orders = Tables.load(s, dir, "orders")
      .select(col("o_orderkey").as("k"),
        year(col("o_orderdate")).cast("int").as("yr"),
        col("o_custkey").as("ck"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    val h1 = orders.filter(col("k") % 2 === 0).drop("k")
    val h2 = orders.filter(col("k") % 2 === 1).drop("k")
    val view = "q362_src_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    h1.createOrReplaceTempView(view)
    graft.util.LocalFrame.withConf(s, "spark.sql.shuffle.partitions", "8") {
    graft.util.Tmp.withTempDir("graft_lake_q362") { whPath =>
      val wh = whPath.toString
      val cat = "lake_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        s.sql(s"CREATE TABLE $cat.f1 (yr INT, ck BIGINT, cents BIGINT) " +
          "PARTITIONED BY (yr, bucket(4, ck))")
        s.sql(s"INSERT INTO $cat.f1 SELECT yr, ck, cents FROM $view")
        LakeTable.createPartitionedTransformed(s, s"$wh/f2", h2,
          Seq(("yr", "id"), ("ck", "bucket:4")))
        val f1Root = s"$wh/f1"
        val groups = LakeTable.dataDirPaths(s, f1Root).size.toLong
        val mc = orders.agg(min(col("ck"))).head().getLong(0)
        def kept(fs: org.apache.spark.sql.sources.Filter*): Long =
          LakeTable.pruneProbe(s, f1Root, None, fs)._1.size.toLong
        val yrKept = kept(EqualTo("yr", 1995))
        val ckKept = kept(EqualTo("ck", mc))
        val bothKept = kept(EqualTo("yr", 1995), EqualTo("ck", mc))
        val yrRange = kept(GreaterThanOrEqual("yr", 1996))
        val ckRange = kept(GreaterThanOrEqual("ck", 0L))
        val probe = s.sql(s"SELECT count(*), sum(cents) FROM $cat.f1 " +
          "WHERE yr = 1995").head()
        def spjConf[T](on: Boolean)(body: => T): T =
          graft.util.LocalFrame.withConf(s,
            "spark.sql.sources.v2.bucketing.enabled", on.toString) {
          graft.util.LocalFrame.withConf(s,
            "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
            "true") {
          graft.util.LocalFrame.withConf(s,
            "spark.sql.adaptive.enabled", "false") {
          graft.util.LocalFrame.withConf(s,
            "spark.sql.autoBroadcastJoinThreshold", "-1") { body } } } }
        def joinShuffles(df: org.apache.spark.sql.DataFrame): Int = {
          // plan-shape probe: execution only needed when AQE could
          // still rewrite the tree (see the shuffles() comment above)
          if (df.sparkSession.conf.get(
              "spark.sql.adaptive.enabled", "true") != "false")
            df.foreachPartition(
              (_: Iterator[org.apache.spark.sql.Row]) => ())
          df.queryExecution.executedPlan.collectFirst {
            case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
          }.toSeq.flatMap(_.collect {
            case e: org.apache.spark.sql.execution.exchange
              .ShuffleExchangeLike => e
          }).size
        }
        val joinSql = "SELECT count(*) AS n, sum(a.cents) AS c FROM " +
          s"$cat.f1 a JOIN $cat.f2 b ON a.yr = b.yr AND a.ck = b.ck"
        val (spjSh, nJoin, cJoin) = spjConf(true) {
          val j = s.sql(joinSql)
          val sh = joinShuffles(j)
          val r = j.head()
          (sh, r.getLong(0), r.getLong(1))
        }
        val offSh = spjConf(false) { joinShuffles(s.sql(joinSql)) }
        // routed append: one more group lands in (1995, bucket(mc))
        import s.implicits._
        LakeTable.append(s, f1Root,
          Seq((1995, mc, 999L)).toDF("yr", "ck", "cents"))
        val bothKept2 = kept(EqualTo("yr", 1995), EqualTo("ck", mc))
        val probe2 = s.sql(s"SELECT count(*), sum(cents) FROM $cat.f1 " +
          "WHERE yr = 1995").head()
        graft.util.LocalFrame.materialize(Seq(
          ("both_kept", bothKept),
          ("both_kept2", bothKept2),
          ("cents_join", cJoin),
          ("ck_kept", ckKept),
          ("ck_range_keeps_all", if (ckRange == groups) 1L else 0L),
          ("groups", groups),
          ("n_join", nJoin),
          ("off_shuffles_pos", if (offSh > 0) 1L else 0L),
          ("spj_free", if (spjSh == 0) 1L else 0L),
          ("yr1995_cents", probe.getLong(1)),
          ("yr1995_cents2", probe2.getLong(1)),
          ("yr1995_n", probe.getLong(0)),
          ("yr1995_n2", probe2.getLong(0)),
          ("yr_kept", yrKept),
          ("yr_range_kept", yrRange)
        ).toDF("fact", "n").orderBy(col("fact")))
      } finally {
        s.catalog.dropTempView(view)
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } }
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q362_composite_layout"    -> (compositeLayoutQ _),
    "q361_parquet_checkpoint"  -> (parquetCheckpointQ _),
    "q360_bucket_maintenance"  -> (bucketMaintenance _),
    "q359_time_partitions"     -> (timePartitionTransforms _),
    "q358_delta_merge_cdf"     -> (streamDeltaMergeCdf _),
    "q357_merge_clauses_mor"   -> (sqlMergeClausesMor _),
    "q356_incremental_zorder"  -> (incrementalZorder _),
    "q355_bucket_spj"          -> (bucketSpjQ _),
    "q354_stream_dv_cdf"       -> (streamDvChangeFeed _),
    "q353_manifest_checkpoints" -> (manifestCheckpointing _),
    "q302_partitioned_lake"    -> (partitionedLifecycle _),
    "q303_kll_index_lake"      -> (kllIndexLifecycle _),
    "q304_sql_lake_ddl"        -> (sqlLakeDdl _),
    "q305_generated_column"    -> (generatedColumnLifecycle _),
    "q296_replace_where"       -> (replaceWhereLifecycle _),
    "q297_identity_column"     -> (identityLifecycle _),
    "q311_insert_overwrite"    -> (insertOverwriteLifecycle _),
    "q312_sql_declared_columns" -> (sqlDeclaredColumns _),
    "q313_multicol_partition"  -> (multiColPartitionLifecycle _),
    "q314_sql_maintenance"     -> (sqlMaintenance _),
    "q315_table_changes_tvf"   -> (tableChangesTvf _),
    "q316_sql_clone_detail"    -> (sqlCloneDetail _),
    "q317_sql_zorder"          -> (sqlZOrder _),
    "q318_stream_change_feed"  -> (streamChangeFeed _),
    "q319_ingest_dedup"        -> (ingestDedup _),
    "q322_copy_into"           -> (copyIntoLifecycle _),
    "q323_replace_table"       -> (replaceTableLifecycle _),
    "q324_truncate"            -> (truncateLifecycle _),
    "q326_spj_year_join"       -> (spjYearJoin _),
    "q327_mor_update"          -> (morUpdate _),
    "q328_time_retention"      -> (timeRetention _),
    "q329_string_skipping"     -> (stringSkipping _),
    "q330_merge_evolution"     -> (mergeEvolution _),
    "q331_spj_partial"         -> (spjPartial _),
    "q332_sql_update_mor"      -> (sqlUpdateMor _),
    "q333_optimize_where"      -> (optimizeWhere _),
    "q334_convert_to_lake"     -> (convertInPlaceQ _),
    "q337_tblproperties"       -> (tblProperties _),
    "q338_sql_delete_dv"       -> (sqlDeleteDv _),
    "q339_spj_subset_key"      -> (spjSubsetKey _),
    "q340_merge_mor"           -> (mergeMorQ _),
    "q341_stream_upsert_mor"   -> (streamUpsertMor _),
    "q342_vacuum_dry_run"      -> (vacuumDryRunQ _),
    "q344_dv_pruned_scan"      -> (dvPrunedScan _),
    "q345_sql_merge_mor"       -> (sqlMergeMor _),
    "q346_vacuum_orphan_sidecars" -> (vacuumOrphanSidecars _),
    "q347_compact_deletes"     -> (compactDeletesQ _),
    "q348_history_timestamps"  -> (historyTimestamps _),
    "q349_zorder_where"        -> (zorderWhere _),
    "q350_spj_partial_clustered" -> (spjPartialClustered _),
    "q351_zorder_3d"           -> (zorder3d _),
    "q352_zorder_where_tuple"  -> (zorderWhereTuple _),
    "q282_hll_index_lake"      -> (hllIndexLifecycle _),
    "q281_unique_constraint"   -> (uniqueLifecycle _),
    "q288_column_default"      -> (defaultLifecycle _),
    "q273_drop_column"         -> (dropLifecycle _),
    "q272_rename_column"       -> (renameLifecycle _),
    "q267_append_reconcile"    -> (appendReconcile _),
    "q246_ann_index_lake"      -> (annIndexLifecycle _),
    "q238_purge_erasure"       -> (purgeErasure _),
    "q235_check_constraints"   -> (checkConstraintGate _),
    "q233_shallow_clone"       -> (shallowCloneDiverge _),
    "q189_agg_pushdown"        -> (aggPushdown _),
    "q184_optimize_small"      -> (optimizeSmall _),
    "q182_mor_delete"          -> (morDelete _),
    "q181_bloom_skipping"      -> (bloomSkipping _),
    "q159_streaming_lake_read" -> (streamingLakeRead _),
    "q162_sql_schema_evolution" -> (sqlSchemaEvolution _),
    "q163_sql_create_ctas"     -> (sqlCreateCtas _),
    "q169_sql_stats_pruning"   -> (sqlStatsPruning _),
    "q176_sql_timestamp_as_of" -> (sqlTimestampAsOf _),
    "q141_lake_checkpoint" -> (checkpointReadCounts _),
    "q151_sql_delete_dsv2" -> (sqlDeleteDsv2 _),
    "q152_sql_insert_dsv2" -> (sqlInsertDsv2 _),
    "q155_sql_merge_dsv2"  -> (sqlMergeDsv2 _),
    "q156_sql_merge_clauses" -> (sqlMergeClauses _),
    "q133_zorder_pruning" -> (zorderPruning _),
    "q136_incremental_view" -> (incrementalView _),
    "q134_lake_restore"   -> (lakeRestoreHistory _),
    "q91_lake_versions" -> (lakeVersionCounts _),
    "q110_stream_sink"  -> (streamSinkCounts _),
    "q114_dsv2_format_read" -> (dsv2FormatRead _),
    "q117_catalog_sql_read" -> (catalogSqlRead _),
    "q118_lake_maintenance" -> (maintenanceChain _),
    "q131_lake_cdc"     -> (lakeCdc _),
    "q132_stream_upsert" -> (streamUpsertState _)
  )

  val oracles: Map[String, String] = Map(
    // q344: data facts restate from documents (min-doc row shifted by
    // 1e6, max-doc untouched, one-row sum shift); the group-accounting
    // facts follow from the clustered layout — 4 range groups with
    // stats + 1 stats-less replacement, so a point probe admits 2, a
    // miss admits 1 (the replacement), the full aggregate reads all 5
    "q344_dv_pruned_scan" ->
      """WITH d AS (SELECT doc_id, n_chars FROM documents),
        |b AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM d)
        |SELECT 'groups_scanned_full' AS fact, CAST(5 AS BIGINT) AS n
        |UNION ALL SELECT 'groups_scanned_hit', CAST(2 AS BIGINT)
        |UNION ALL SELECT 'groups_scanned_miss', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'groups_total', CAST(5 AS BIGINT)
        |UNION ALL SELECT 'n_miss', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'n_total', count(*) FROM d
        |UNION ALL SELECT 'nchars_max_after',
        |  (SELECT n_chars FROM d, b WHERE doc_id = mx)
        |UNION ALL SELECT 'nchars_min_after',
        |  (SELECT n_chars + 1000000 FROM d, b WHERE doc_id = mn)
        |UNION ALL SELECT 'nchars_min_v1',
        |  (SELECT n_chars FROM d, b WHERE doc_id = mn)
        |UNION ALL SELECT 'static_bcast', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'sum_after',
        |  CAST(sum(n_chars) + 1000000 AS BIGINT) FROM d
        |UNION ALL SELECT 'tt_plain_delegate', CAST(1 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q345: counts/sums restated from orders (matched keys shifted by
    // 5 cents, k%7 keys re-inserted under shifted ids); the protocol
    // facts (one group added, files untouched, op routed merge-mor,
    // rewrite equivalence) pin as integers
    "q345_sql_merge_mor" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_custkey % 43 = 11),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(cents) AS BIGINT) AS c,
        |             count(*) FILTER (k % 3 = 0) AS nm,
        |             count(*) FILTER (k % 7 = 0) AS ni
        |      FROM o)
        |SELECT 'cents_after' AS fact,
        |       CAST(c + 5 * nm + (SELECT CAST(sum(cents) AS BIGINT)
        |                          FROM o WHERE k % 7 = 0) AS BIGINT) AS n
        |FROM a
        |UNION ALL SELECT 'cents_v1', c FROM a
        |UNION ALL SELECT 'files_untouched', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'groups_added', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'merge_mor_op', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'n_after', n + ni FROM a
        |UNION ALL SELECT 'n_insert_cdc', CAST(ni AS BIGINT) FROM a
        |UNION ALL SELECT 'n_postimage_cdc', CAST(nm AS BIGINT) FROM a
        |UNION ALL SELECT 'n_preimage_cdc', CAST(nm AS BIGINT) FROM a
        |UNION ALL SELECT 'rewrite_matches', CAST(1 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q346: totals restated from orders (k%3 rows shifted by 7); the
    // listing facts follow from the four-commit history — RETAIN 1
    // drops 3 manifests + 2 stale data dirs and orphans exactly one dv
    // mask and one bloom sidecar
    "q346_vacuum_orphan_sidecars" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_custkey % 47 = 13)
        |SELECT 'bloom_listed' AS fact, CAST(1 AS BIGINT) AS n
        |UNION ALL SELECT 'cents_after',
        |  CAST(sum(cents) + 7 * count(*) FILTER (k % 3 = 0) AS BIGINT)
        |  FROM o
        |UNION ALL SELECT 'deleted_exactly', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'dv_listed', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'n_after_real', count(*) FROM o
        |UNION ALL SELECT 'n_listed', CAST(7 AS BIGINT)
        |UNION ALL SELECT 'versions_after_real', CAST(1 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q347: survivors' cents restated from orders (k%5 +1, k%11 gone,
    // surviving k%7 +2); the fold facts (3 sidecars → 1, zero groups
    // touched, reads equal) pin as integers
    "q347_compact_deletes" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_custkey % 53 = 17),
        |f AS (SELECT cents
        |             + (CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END)
        |             + (CASE WHEN k % 7 = 0 THEN 2 ELSE 0 END) AS cents
        |      FROM o WHERE k % 11 <> 0)
        |SELECT 'bin_sidecar_form' AS fact, CAST(1 AS BIGINT) AS n
        |UNION ALL SELECT 'bin_sidecars_le_4096', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'cents_after', CAST(sum(cents) AS BIGINT) FROM f
        |UNION ALL SELECT 'compact_added_groups', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'compact_op', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'files_untouched', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'fold_bin_form', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'n_after', count(*) FROM f
        |UNION ALL SELECT 'old_version_sidecars', CAST(3 AS BIGINT)
        |UNION ALL SELECT 'reads_equal', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'sidecars_after', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'sidecars_before', CAST(3 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q348: restore lands on v2 (k%3 in {0,1}); the vacuum keeps only
    // the restore commit, whose referenced groups keep serving the
    // same rows; clock facts pin as integers (the engine surfaces the
    // exact instants the query stamped)
    "q348_history_timestamps" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k FROM orders WHERE o_custkey % 59 = 23)
        |SELECT 'n_after_restore' AS fact,
        |       count(*) FILTER (k % 3 < 2) AS n FROM o
        |UNION ALL SELECT 'n_after_vacuum',
        |  count(*) FILTER (k % 3 < 2) FROM o
        |UNION ALL SELECT 'n_versions_listed', CAST(3 AS BIGINT)
        |UNION ALL SELECT 'restored_version', CAST(2 AS BIGINT)
        |UNION ALL SELECT 'ts_listed_match', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'ts_monotone', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'versions_after_vacuum', CAST(1 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q349: totals restated from orders; group accounting follows the
    // one-group-per-year layout (scoped zorder replaces one group with
    // 3 value-tagged z-groups → distinct_years + 2 total, equality
    // probes scan exactly 3 / 1); pruning and refusal facts pin
    "q349_zorder_where" ->
      """WITH o AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yk,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_custkey % 13 = 4)
        |SELECT 'carried_by_name' AS fact, CAST(1 AS BIGINT) AS n
        |UNION ALL SELECT 'cents_1995',
        |  CAST(sum(CASE WHEN yk = 1995 THEN cents ELSE 0 END) AS BIGINT)
        |  FROM o
        |UNION ALL SELECT 'cents_corner_pruned', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'cents_total', CAST(sum(cents) AS BIGINT) FROM o
        |UNION ALL SELECT 'ck_corner_pruned', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'groups_after',
        |  CAST(count(DISTINCT yk) + 2 AS BIGINT) FROM o
        |UNION ALL SELECT 'n_total', count(*) FROM o
        |UNION ALL SELECT 'refused_nonpart', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'refused_unknown_value', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'scope_eq_groups', CAST(3 AS BIGINT)
        |UNION ALL SELECT 'year_other_eq_groups', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'zorder_where_op', CAST(1 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q350: every fact row joins exactly one dim row, so n/cents
    // restate directly; the partition accounting follows from one file
    // per value per append — hot value r=0 spans 2 appends, so the
    // partially-clustered join runs 4 tasks over 3 values, the merged
    // one 3, both exchange-free
    "q350_spj_partial_clustered" ->
      """WITH o AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_custkey % 29 = 3)
        |SELECT 'cents_joined' AS fact, CAST(sum(cents) AS BIGINT) AS n
        |FROM o
        |UNION ALL SELECT 'exchanges_merged', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'exchanges_partial', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'n_joined', count(*) FROM o
        |UNION ALL SELECT 'n_values', CAST(3 AS BIGINT)
        |UNION ALL SELECT 'parts_merged', CAST(3 AS BIGINT)
        |UNION ALL SELECT 'parts_partial', CAST(4 AS BIGINT)
        |UNION ALL SELECT 'results_equal', CAST(1 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q351: corner-row counts and totals restate from orders (the 0.9×
    // max bounds recompute exactly); group count and per-column
    // pruning booleans pin the 3-D layout; the 5-column refusal pins
    "q351_zorder_3d" ->
      """WITH o AS (
        |  SELECT CAST(o_custkey AS BIGINT) AS ck,
        |         CAST(date_diff('day', DATE '1992-01-01',
        |                        CAST(o_orderdate AS DATE)) AS BIGINT)
        |           AS d,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders),
        |b AS (SELECT 0.9e0 * max(ck) AS cklo, 0.9e0 * max(d) AS dlo,
        |             0.9e0 * max(cents) AS clo FROM o)
        |SELECT 'cents_total' AS fact, CAST(sum(cents) AS BIGINT) AS n
        |FROM o
        |UNION ALL SELECT 'groups', CAST(8 AS BIGINT)
        |UNION ALL SELECT 'n_corner_ck',
        |  (SELECT count(*) FROM o, b WHERE ck >= cklo)
        |UNION ALL SELECT 'n_corner_cents',
        |  (SELECT count(*) FROM o, b WHERE cents >= clo)
        |UNION ALL SELECT 'n_corner_d',
        |  (SELECT count(*) FROM o, b WHERE d >= dlo)
        |UNION ALL SELECT 'n_total', count(*) FROM o
        |UNION ALL SELECT 'pruned_cents', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'pruned_ck', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'pruned_d', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'refused_five_columns', CAST(1 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q357: q156's CASE-pipeline restatement (identical clause
    // semantics, now merge-on-read) + the MOR protocol facts as
    // constant columns — one dv sidecar, one added group, every prior
    // file untouched, op merge-mor, rewrite equivalence
    "q357_merge_clauses_mor" ->
      """WITH survivors AS (
        |  SELECT o_orderstatus,
        |         CASE WHEN o_custkey % 50 = 0
        |              THEN o_totalprice + 1000 ELSE o_totalprice END AS price
        |  FROM orders
        |  WHERE NOT (o_custkey % 50 = 0 AND o_totalprice + 1000 > 200000)
        |    AND NOT (o_custkey % 50 <> 0 AND o_orderstatus = 'P')
        |),
        |inserted AS (
        |  SELECT o_orderstatus, o_totalprice + 1000 AS price FROM orders
        |  WHERE o_custkey % 101 = 0),
        |final AS (SELECT * FROM survivors
        |          UNION ALL SELECT * FROM inserted)
        |SELECT o_orderstatus, count(*) AS n,
        |       CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
        |         AS revenue,
        |       CAST(1 AS BIGINT) AS dv_sidecars,
        |       CAST(1 AS BIGINT) AS files_untouched,
        |       CAST(1 AS BIGINT) AS groups_added,
        |       CAST(1 AS BIGINT) AS merge_mor_op,
        |       CAST(1 AS BIGINT) AS rewrite_matches
        |FROM final GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // q356: totals restate from orders (the four slices cover the
    // filtered set exactly); the clustering-protocol facts pin as
    // integers — first run clusters everything into 4 z-groups, the
    // second rewrites only the 2 fresh appends into 4 more while all 4
    // first-generation groups carry by dir identity, a nothing-new run
    // leaves the version unmoved, a different column set refuses, and
    // a ck corner probe prunes below the total group count
    "q356_incremental_zorder" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_custkey % 17 = 3)
        |SELECT 'carried_by_name' AS fact, CAST(4 AS BIGINT) AS n
        |UNION ALL SELECT 'cents_total', CAST(sum(cents) AS BIGINT) FROM o
        |UNION ALL SELECT 'first_groups', CAST(4 AS BIGINT)
        |UNION ALL SELECT 'groups_after', CAST(8 AS BIGINT)
        |UNION ALL SELECT 'n_total', count(*) FROM o
        |UNION ALL SELECT 'noop_unmoved', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'pruned_corner', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'refused_other_cols', CAST(1 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q355: join totals restate from orders ⋈ customer (every orders
    // custkey exists in customer); the probe facts restate around the
    // min fact custkey (+1 row / +12345 cents after the routed
    // append); the plan/pruning facts pin as integers — zero scan
    // shuffles under SPJ, shuffles with the flag off, one bucket per
    // equality probe (two once the append lands a second group there),
    // ranges keep all
    // q360: layout constants are invariants of the 4-batch × 8-bucket
    // lifecycle (every batch occupies every bucket at this scale);
    // join/probe masses restate from orders ⋈ customer
    "q360_bucket_maintenance" ->
      """WITH f AS (
        |  SELECT o_custkey AS ck,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders),
        |j AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(cents) AS BIGINT) AS c
        |      FROM f JOIN customer ON ck = c_custkey)
        |SELECT 'cents_join' AS fact, (SELECT c FROM j) AS n
        |UNION ALL SELECT 'cents_join_post', (SELECT c FROM j)
        |UNION ALL SELECT 'groups_after', CAST(8 AS BIGINT)
        |UNION ALL SELECT 'groups_before', CAST(32 AS BIGINT)
        |UNION ALL SELECT 'n_join', (SELECT n FROM j)
        |UNION ALL SELECT 'n_join_post', (SELECT n FROM j)
        |UNION ALL SELECT 'off_shuffles_pos', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'op_optimize_small', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'probe_kept_post', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'probe_kept_pre', CAST(4 AS BIGINT)
        |UNION ALL SELECT 'sorted_stats', CAST(8 AS BIGINT)
        |UNION ALL SELECT 'spj_free_post', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'spj_free_pre', CAST(1 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q361: sums restate base + the deterministic appended cents
    // (appends i = 2..N each add 1000 + i); resolution-shape facts are
    // protocol constants (checkpoint at v10, 4-line tail at v14)
    "q361_parquet_checkpoint" ->
      """WITH base AS (
        |  SELECT CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS c,
        |    CAST(count(DISTINCT o_custkey % 64) AS BIGINT) AS g
        |  FROM orders)
        |SELECT 'chain_latest' AS fact, CAST(4 AS BIGINT) AS n
        |UNION ALL SELECT 'cold_cp_direct', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'cp_pq_after_vacuum', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'cp_pq_v10', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'final_cents', (SELECT c + 13104 FROM base)
        |UNION ALL SELECT 'groups_v1', (SELECT g FROM base)
        |UNION ALL SELECT 'hist_cents_v10', (SELECT c + 9054 FROM base)
        |UNION ALL SELECT 'kept_cents_v12', (SELECT c + 11077 FROM base)
        |UNION ALL SELECT 'post_vacuum_cents', (SELECT c + 13104 FROM base)
        |ORDER BY fact""".stripMargin,
    // q362: probe masses restate from the even-keyed half; the join is
    // the even ⋈ odd half self-join on (year, custkey); layout counts
    // are invariants of 7 years × 4 buckets
    "q362_composite_layout" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k, CAST(year(o_orderdate) AS INT) AS yr,
        |         o_custkey AS ck,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders),
        |h1 AS (SELECT yr, ck, cents FROM o WHERE k % 2 = 0),
        |h2 AS (SELECT yr, ck, cents FROM o WHERE k % 2 = 1),
        |j AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(a.cents) AS BIGINT) AS c
        |      FROM h1 a JOIN h2 b ON a.yr = b.yr AND a.ck = b.ck),
        |p AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(cents) AS BIGINT) AS c
        |      FROM h1 WHERE yr = 1995)
        |SELECT 'both_kept' AS fact, CAST(1 AS BIGINT) AS n
        |UNION ALL SELECT 'both_kept2', CAST(2 AS BIGINT)
        |UNION ALL SELECT 'cents_join', (SELECT c FROM j)
        |UNION ALL SELECT 'ck_kept',
        |  (SELECT CAST(count(DISTINCT yr) AS BIGINT) FROM h1)
        |UNION ALL SELECT 'ck_range_keeps_all', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'groups',
        |  (SELECT CAST(4 * count(DISTINCT yr) AS BIGINT) FROM h1)
        |UNION ALL SELECT 'n_join', (SELECT n FROM j)
        |UNION ALL SELECT 'off_shuffles_pos', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'spj_free', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'yr1995_cents', (SELECT c FROM p)
        |UNION ALL SELECT 'yr1995_cents2', (SELECT c + 999 FROM p)
        |UNION ALL SELECT 'yr1995_n', (SELECT n FROM p)
        |UNION ALL SELECT 'yr1995_n2', (SELECT n + 1 FROM p)
        |UNION ALL SELECT 'yr_kept', CAST(4 AS BIGINT)
        |UNION ALL SELECT 'yr_range_kept',
        |  (SELECT CAST(4 * count(DISTINCT yr) AS BIGINT) FROM h1
        |   WHERE yr >= 1996)
        |ORDER BY fact""".stripMargin,
    // q358: per-(type, version) masses of the delta-merge feed,
    // restated clause by clause — v2's 4-clause matrix classifies
    // matched-even → delete, matched-odd → update pre/post (+11),
    // new keys → insert, unmatched-by-source cents%1000<17 → delete;
    // v3 deletes the k%13=5 keys still alive in the v2 state; v4's
    // fold is zero-change (no rows)
    "q358_delta_merge_cdf" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_orderkey % 7 = 2),
        |mdel AS (SELECT k, cents FROM base
        |         WHERE k % 3 = 0 AND cents % 2 = 0),
        |mupd AS (SELECT k, cents FROM base
        |         WHERE k % 3 = 0 AND cents % 2 <> 0),
        |nmbs AS (SELECT k, cents FROM base
        |         WHERE k % 3 <> 0 AND cents % 1000 < 17),
        |ins2 AS (SELECT k + 5000000000 AS k, cents + 22 AS cents
        |         FROM base WHERE k % 11 = 0),
        |state1 AS (
        |  SELECT k, cents FROM base
        |  WHERE k % 3 <> 0 AND cents % 1000 >= 17
        |  UNION ALL SELECT k, cents + 11 FROM mupd
        |  UNION ALL SELECT k, cents FROM ins2),
        |del3 AS (SELECT k, cents FROM state1
        |         WHERE k % 13 = 5 AND k < 5000000000)
        |SELECT 'delete_2' AS fact, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(cents) AS BIGINT) AS c
        |FROM (SELECT * FROM mdel UNION ALL SELECT * FROM nmbs)
        |UNION ALL SELECT 'delete_3', CAST(count(*) AS BIGINT),
        |       CAST(sum(cents) AS BIGINT) FROM del3
        |UNION ALL SELECT 'insert_1', CAST(count(*) AS BIGINT),
        |       CAST(sum(cents) AS BIGINT) FROM base
        |UNION ALL SELECT 'insert_2', CAST(count(*) AS BIGINT),
        |       CAST(sum(cents) AS BIGINT) FROM ins2
        |UNION ALL SELECT 'update_postimage_2', CAST(count(*) AS BIGINT),
        |       CAST(sum(cents + 11) AS BIGINT) FROM mupd
        |UNION ALL SELECT 'update_preimage_2', CAST(count(*) AS BIGINT),
        |       CAST(sum(cents) AS BIGINT) FROM mupd
        |ORDER BY fact""".stripMargin,
    // q359: transform-partitioned facts — group counts are distinct
    // derived values, kept counts follow the monotone admit rule, row
    // sums restate from orders
    "q359_time_partitions" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS odate,
        |         o_custkey AS ck,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_orderkey % 7 = 2),
        |pt AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |              CAST(sum(cents) AS BIGINT) AS c
        |       FROM base, (SELECT min(odate) AS d FROM base) m
        |       WHERE odate = m.d),
        |rg AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |              CAST(sum(cents) AS BIGINT) AS c
        |       FROM base WHERE odate >= DATE '1997-06-15'),
        |q1 AS (SELECT * FROM base WHERE odate < DATE '1995-04-01')
        |SELECT 'append_groups_delta' AS fact, CAST(2 AS BIGINT) AS n
        |UNION ALL SELECT 'days_groups',
        |  (SELECT CAST(count(DISTINCT odate) AS BIGINT) FROM q1)
        |UNION ALL SELECT 'days_point_kept', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'days_point_n',
        |  (SELECT CAST(count(*) AS BIGINT) FROM q1,
        |     (SELECT min(odate) AS d FROM q1) m WHERE odate = m.d)
        |UNION ALL SELECT 'months_groups',
        |  (SELECT CAST(count(DISTINCT date_trunc('month', odate))
        |     AS BIGINT) FROM base)
        |UNION ALL SELECT 'new_month_kept', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'point_cents', (SELECT c FROM pt)
        |UNION ALL SELECT 'point_cents2', (SELECT c + 555 FROM pt)
        |UNION ALL SELECT 'point_kept', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'point_kept2', CAST(2 AS BIGINT)
        |UNION ALL SELECT 'point_n', (SELECT n FROM pt)
        |UNION ALL SELECT 'point_n2', (SELECT n + 1 FROM pt)
        |UNION ALL SELECT 'range_cents', (SELECT c FROM rg)
        |UNION ALL SELECT 'range_kept',
        |  (SELECT CAST(count(DISTINCT date_trunc('month', odate))
        |     AS BIGINT) FROM base
        |   WHERE date_trunc('month', odate) >= DATE '1997-06-01')
        |UNION ALL SELECT 'range_n', (SELECT n FROM rg)
        |UNION ALL SELECT 'range_prunes', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'trunc_groups',
        |  (SELECT CAST(count(DISTINCT ck - (ck % 200)) AS BIGINT)
        |   FROM base)
        |UNION ALL SELECT 'trunc_point_kept', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'trunc_range_kept',
        |  (SELECT CAST(count(DISTINCT ck - (ck % 200)) AS BIGINT)
        |   FROM base WHERE ck - (ck % 200) >= 1000)
        |UNION ALL SELECT 'trunc_range_n',
        |  (SELECT CAST(count(*) AS BIGINT) FROM base WHERE ck >= 1100)
        |ORDER BY fact""".stripMargin,
    "q355_bucket_spj" ->
      """WITH f AS (
        |  SELECT o_custkey AS ck,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders),
        |m AS (SELECT min(ck) AS mc FROM f),
        |p AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(cents) AS BIGINT) AS c
        |      FROM f, m WHERE ck = mc)
        |SELECT 'cents_join' AS fact,
        |       (SELECT CAST(sum(cents) AS BIGINT) FROM f
        |        JOIN customer ON ck = c_custkey) AS n
        |UNION ALL SELECT 'cents_probe', (SELECT c FROM p)
        |UNION ALL SELECT 'cents_probe2', (SELECT c + 12345 FROM p)
        |UNION ALL SELECT 'join_shuffle_free', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'n_join',
        |       (SELECT CAST(count(*) AS BIGINT) FROM f
        |        JOIN customer ON ck = c_custkey)
        |UNION ALL SELECT 'off_shuffles_pos', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'probe_kept', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'probe_kept2', CAST(2 AS BIGINT)
        |UNION ALL SELECT 'probe_n', (SELECT n FROM p)
        |UNION ALL SELECT 'probe_n2', (SELECT n + 1 FROM p)
        |UNION ALL SELECT 'probe_total_gt1', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'range_keeps_all', CAST(1 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q354: the sidecar-less dv feed restates per (type, version) from
    // orders — v1 inserts everything; v2 updates k%5=0 (+7 each); v3
    // deletes k%10=3 (disjoint from k%5=0, so plain masses); v4 merges
    // k%4=1 at ×3: still-present keys pair pre/post (preimages include
    // v2's +7 on k≡5 mod 20), keys deleted at v3 re-insert; v5's fold
    // emits nothing (absent from the feed entirely)
    "q354_stream_dv_cdf" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_custkey % 13 = 4)
        |SELECT 'delete_3' AS fact, count(*) AS n,
        |       CAST(sum(cents) AS BIGINT) AS c FROM o WHERE k % 10 = 3
        |UNION ALL SELECT 'insert_1', count(*),
        |       CAST(sum(cents) AS BIGINT) FROM o
        |UNION ALL SELECT 'insert_4', count(*),
        |       CAST(3 * sum(cents) AS BIGINT)
        |       FROM o WHERE k % 4 = 1 AND k % 10 = 3
        |UNION ALL SELECT 'update_postimage_2', count(*),
        |       CAST(sum(cents) + 7 * count(*) AS BIGINT)
        |       FROM o WHERE k % 5 = 0
        |UNION ALL SELECT 'update_postimage_4', count(*),
        |       CAST(3 * sum(cents) AS BIGINT)
        |       FROM o WHERE k % 4 = 1 AND k % 10 <> 3
        |UNION ALL SELECT 'update_preimage_2', count(*),
        |       CAST(sum(cents) AS BIGINT) FROM o WHERE k % 5 = 0
        |UNION ALL SELECT 'update_preimage_4', count(*),
        |       CAST(sum(cents)
        |            + 7 * (count(*) FILTER (k % 5 = 0)) AS BIGINT)
        |       FROM o WHERE k % 4 = 1 AND k % 10 <> 3
        |ORDER BY fact""".stripMargin,
    // q353: totals restated from orders (+33 single-row appends, cents
    // 7·(1+…+33)=3927); groups = one per distinct partition value + one
    // per append; the protocol facts pin the checkpoint design — a
    // 3-line delta manifest per append, checkpoints at v10/20/30, cold
    // chain of 4 deltas onto the v30 checkpoint, and post-vacuum(keep 4)
    // exactly one checkpoint at the oldest retained version v31 with a
    // 3-delta chain onto it
    "q353_manifest_checkpoints" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents,
        |         o_orderkey % 479 AS pk
        |  FROM orders)
        |SELECT 'cents_total' AS fact,
        |       CAST(sum(cents) + 3927 AS BIGINT) AS n FROM o
        |UNION ALL SELECT 'chain_cold', CAST(4 AS BIGINT)
        |UNION ALL SELECT 'chain_cold_from_cp', CAST(30 AS BIGINT)
        |UNION ALL SELECT 'chain_postvac', CAST(3 AS BIGINT)
        |UNION ALL SELECT 'chain_postvac_from_cp', CAST(31 AS BIGINT)
        |UNION ALL SELECT 'checkpoints_after', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'checkpoints_before', CAST(3 AS BIGINT)
        |UNION ALL SELECT 'cp_after_version', CAST(31 AS BIGINT)
        |UNION ALL SELECT 'groups_total',
        |       CAST(count(DISTINCT pk) + 33 AS BIGINT) FROM o
        |UNION ALL SELECT 'manifest_tail_lines', CAST(3 AS BIGINT)
        |UNION ALL SELECT 'n_rows_total', count(*) + 33 FROM o
        |UNION ALL SELECT 'vacuum_preserves', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'vacuumed_version_refuses', CAST(1 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q352: totals restated from orders; the scoped tuple's one group
    // becomes 3 value-tagged z-groups (net +2), every sibling tuple
    // carries by name (1 group each); refusals and pruning pin
    "q352_zorder_where_tuple" ->
      """WITH o AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yk,
        |         CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_custkey % 11 = 5)
        |SELECT 'carried_by_name' AS fact, CAST(1 AS BIGINT) AS n
        |UNION ALL SELECT 'cents_scope',
        |  CAST(sum(CASE WHEN yk = 1995 AND q = 3 THEN cents ELSE 0 END)
        |       AS BIGINT) FROM o
        |UNION ALL SELECT 'cents_total', CAST(sum(cents) AS BIGINT) FROM o
        |UNION ALL SELECT 'ck_corner_pruned', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'groups_added_net', CAST(2 AS BIGINT)
        |UNION ALL SELECT 'groups_scope_tuple', CAST(3 AS BIGINT)
        |UNION ALL SELECT 'groups_sibling_tuple', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'n_total', count(*) FROM o
        |UNION ALL SELECT 'refused_nonpart', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'refused_partial_pin', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'zorder_where_op', CAST(1 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q302: counts/sums restated from orders with the replaced year's
    // cents doubled; the group-accounting facts follow from the
    // one-group-per-value layout (groups = distinct years, an equality
    // probe scans exactly 1, a replace carries all but 1)
    "q302_partitioned_lake" ->
      """WITH o AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yk,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_custkey % 4 = 3),
        |y AS (SELECT CAST(count(DISTINCT yk) AS BIGINT) AS ny FROM o)
        |SELECT 'cents_total_after' AS fact,
        |       CAST(sum(cents) + sum(CASE WHEN yk = 1995 THEN cents
        |                                  ELSE 0 END) AS BIGINT) AS n
        |FROM o
        |UNION ALL SELECT 'cents_y1995_after',
        |  CAST(2 * sum(CASE WHEN yk = 1995 THEN cents ELSE 0 END)
        |       AS BIGINT) FROM o
        |UNION ALL SELECT 'groups', ny FROM y
        |UNION ALL SELECT 'groups_carried', ny - 1 FROM y
        |UNION ALL SELECT 'groups_scanned_eq', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'n_y1995',
        |  CAST(count(*) FILTER (yk = 1995) AS BIGINT) FROM o
        |ORDER BY fact""".stripMargin,
    // q305: the generation expression is exact integer arithmetic, so
    // the oracle recomputes every materialized fee; refusals pin
    "q305_generated_column" ->
      """WITH o AS (
        |  SELECT o_orderkey AS id,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_custkey % 5 = 4)
        |SELECT 'fee_total' AS fact,
        |       CAST(sum(cents // 50 + 7) AS BIGINT) AS n FROM o
        |UNION ALL SELECT 'n_invariant_ok', count(*) FROM o
        |UNION ALL SELECT 'n_total', count(*) FROM o
        |UNION ALL SELECT 'refused_mismatched_batch', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'refused_violated_declaration', CAST(1 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q304: counts/sums restated from orders plus the one manual row;
    // the two refusals and the default/null split follow from the DDL
    // contract (defaults fill omitting appends only; history reads NULL)
    "q304_sql_lake_ddl" ->
      """WITH o AS (
        |  SELECT o_orderkey AS id,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_custkey % 5 = 2)
        |SELECT 'cents_total' AS fact,
        |       CAST(sum(cents) + 123 AS BIGINT) AS n FROM o
        |UNION ALL SELECT 'n_bulk_default',
        |  count(*) FILTER (id % 3 = 0) FROM o
        |UNION ALL SELECT 'n_null_src',
        |  count(*) FILTER (id % 3 <> 0) FROM o
        |UNION ALL SELECT 'n_total', count(*) + 1 FROM o
        |UNION ALL SELECT 'refused_check_violation', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'refused_duplicate_key', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'unique_ids', count(*) + 1 FROM o
        |ORDER BY fact""".stripMargin,
    // q303: exact row/sum facts restated from orders; the coverage and
    // rank gates (KLL's own correctness terms, verified in-engine
    // against the exact data) pin as constants
    "q303_kll_index_lake" ->
      """WITH o AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders)
        |SELECT 'cents_total' AS fact, CAST(sum(cents) AS BIGINT) AS n FROM o
        |UNION ALL SELECT 'coverage_mid', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'coverage_post', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'n_all', count(*) FROM o
        |UNION ALL SELECT 'rank_committed_ok', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'rank_p50_ok', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'rank_p90_ok', CAST(1 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q296: counts/sums restated from orders with the July-1995 band
    // doubled (the replacement batch); protocol facts pin as integers
    "q296_replace_where" ->
      """WITH o AS (
        |  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate)
        |              AS BIGINT) AS mk,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_custkey % 4 = 1),
        |f AS (SELECT mk,
        |             CASE WHEN mk = 199507 THEN cents * 2 ELSE cents END
        |               AS cents
        |      FROM o)
        |SELECT 'cents_band' AS fact,
        |       CAST(sum(CASE WHEN mk = 199507 THEN cents ELSE 0 END)
        |            AS BIGINT) AS n FROM f
        |UNION ALL SELECT 'cents_total', CAST(sum(cents) AS BIGINT) FROM f
        |UNION ALL SELECT 'groups_carried_some', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'n_band',
        |  count(*) FILTER (mk = 199507) FROM f
        |UNION ALL SELECT 'n_total', count(*) FROM f
        |UNION ALL SELECT 'refused_out_of_band', CAST(1 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q311: every cents total restated from orders with the per-step
    // recomputations applied (1995 doubled, then 1996 at 5×, then the
    // truncating overwrite keeping only 1995 at 3× of ORIGINAL cents);
    // refusal and immutability facts pin as integers
    "q311_insert_overwrite" ->
      """WITH o AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yk,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_custkey % 5 = 1),
        |a AS (SELECT CAST(sum(cents) AS BIGINT) AS c_all,
        |             CAST(sum(CASE WHEN yk = 1995 THEN cents ELSE 0 END)
        |                  AS BIGINT) AS c95,
        |             CAST(sum(CASE WHEN yk = 1996 THEN cents ELSE 0 END)
        |                  AS BIGINT) AS c96,
        |             CAST(sum(CASE WHEN yk = 1997 THEN cents ELSE 0 END)
        |                  AS BIGINT) AS c97,
        |             count(*) FILTER (yk = 1995) AS n95
        |      FROM o)
        |SELECT 'cents_after_band' AS fact, c_all + c95 AS n FROM a
        |UNION ALL SELECT 'cents_after_partition',
        |  c_all + c95 + 4 * c96 FROM a
        |UNION ALL SELECT 'cents_after_replacewhere',
        |  c_all + c95 + 4 * c96 + 6 * c97 FROM a
        |UNION ALL SELECT 'cents_band_snapshot', c_all + c95 FROM a
        |UNION ALL SELECT 'cents_final', 3 * c95 FROM a
        |UNION ALL SELECT 'cents_v0', c_all FROM a
        |UNION ALL SELECT 'n_final', CAST(n95 AS BIGINT) FROM a
        |UNION ALL SELECT 'refused_identity_overwrite', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'refused_nonband_predicate', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'version_unchanged_after_refusal',
        |  CAST(1 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q312: fee recomputed exactly (integer arithmetic); the identity
    // series proven by sum/min/max/distinct over the full row count;
    // default-vs-manual split follows the k%2 batch keying
    "q312_sql_declared_columns" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_custkey % 7 = 3),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(cents // 50 + 7) AS BIGINT) AS f,
        |             count(*) FILTER (k % 2 = 0) AS n0,
        |             count(*) FILTER (k % 2 = 1) AS n1
        |      FROM o)
        |SELECT 'distinct_ids' AS fact, n FROM c
        |UNION ALL SELECT 'fee_total', f FROM c
        |UNION ALL SELECT 'max_id', CAST(10 + 5 * (n - 1) AS BIGINT) FROM c
        |UNION ALL SELECT 'min_id', CAST(10 AS BIGINT)
        |UNION ALL SELECT 'n_default_src', CAST(n0 AS BIGINT) FROM c
        |UNION ALL SELECT 'n_fee_ok', n FROM c
        |UNION ALL SELECT 'n_manual_src', CAST(n1 AS BIGINT) FROM c
        |UNION ALL SELECT 'n_total', n FROM c
        |UNION ALL SELECT 'refused_by_default_identity', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'refused_explicit_id', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'refused_mismatched_fee', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'sum_ids',
        |  CAST(10 * n + 5 * (n * (n - 1) // 2) AS BIGINT) FROM c
        |ORDER BY fact""".stripMargin,
    // q313: group accounting restated from the data's distinct
    // (yk, q) tuples; totals with 1995 doubled by the replace
    "q313_multicol_partition" ->
      """WITH o AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yk,
        |         CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_custkey % 7 = 5),
        |g AS (SELECT CAST(count(DISTINCT (yk, q)) AS BIGINT) AS ng,
        |             CAST(count(DISTINCT CASE WHEN yk = 1995 THEN q END)
        |                  AS BIGINT) AS n95,
        |             CAST(count(DISTINCT CASE WHEN q = 3 THEN yk END)
        |                  AS BIGINT) AS nq3,
        |             CAST(count(DISTINCT CASE WHEN yk = 1995 AND q = 3
        |                  THEN 1 END) AS BIGINT) AS nboth
        |      FROM o),
        |a AS (SELECT CAST(sum(cents) AS BIGINT) AS c_all,
        |             CAST(sum(CASE WHEN yk = 1995 THEN cents ELSE 0 END)
        |                  AS BIGINT) AS c95,
        |             CAST(sum(CASE WHEN yk = 1995 AND q = 3 THEN cents
        |                       ELSE 0 END) AS BIGINT) AS c953,
        |             count(*) FILTER (yk = 1995 AND q = 3) AS n953
        |      FROM o)
        |SELECT 'cents_total_after' AS fact, c_all + c95 AS n FROM a
        |UNION ALL SELECT 'cents_y1995_after', 2 * c95 FROM a
        |UNION ALL SELECT 'cents_y1995q3_before', c953 FROM a
        |UNION ALL SELECT 'groups', ng FROM g
        |UNION ALL SELECT 'groups_carried', ng - n95 FROM g
        |UNION ALL SELECT 'groups_scanned_both', nboth FROM g
        |UNION ALL SELECT 'groups_scanned_q', nq3 FROM g
        |UNION ALL SELECT 'groups_scanned_yk', n95 FROM g
        |UNION ALL SELECT 'n_y1995q3', CAST(n953 AS BIGINT) FROM a
        |ORDER BY fact""".stripMargin,
    // q314: row/cents totals restated from orders (k%3=0 for the
    // restored snapshot); the version/operation ledger facts follow
    // from the fixed statement sequence (create, 3 appends, optimize,
    // restore → 6 versions, optimize commits v5, RETAIN 3 keeps 3)
    "q314_sql_maintenance" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_custkey % 7 = 6)
        |SELECT 'cents_total_after_optimize' AS fact,
        |       CAST(sum(cents) AS BIGINT) AS n FROM o
        |UNION ALL SELECT 'groups_after_optimize', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'groups_before_optimize', CAST(3 AS BIGINT)
        |UNION ALL SELECT 'history_appends', CAST(3 AS BIGINT)
        |UNION ALL SELECT 'history_optimizes', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'history_restores', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'history_rows', CAST(6 AS BIGINT)
        |UNION ALL SELECT 'n_after_optimize', count(*) FROM o
        |UNION ALL SELECT 'n_after_restore',
        |  count(*) FILTER (k % 3 = 0) FROM o
        |UNION ALL SELECT 'n_final',
        |  count(*) FILTER (k % 3 = 0) FROM o
        |UNION ALL SELECT 'optimize_new_version', CAST(5 AS BIGINT)
        |UNION ALL SELECT 'refused_bare_vacuum', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'versions_after_vacuum', CAST(3 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q315: every change-feed mass restated from orders via the batch
    // keying (base k%3≠0, late k%3=0, update k%7=0 doubled, delete
    // k%5=0 of the updated snapshot)
    "q315_table_changes_tvf" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_custkey % 9 = 4),
        |a AS (SELECT
        |  count(*) FILTER (k % 3 = 0) AS n_late,
        |  CAST(sum(CASE WHEN k % 3 = 0 THEN cents ELSE 0 END)
        |     + sum(CASE WHEN k % 3 = 0 AND k % 7 = 0 THEN cents ELSE 0
        |           END) AS BIGINT) AS c_ins,
        |  count(*) FILTER (k % 3 <> 0 AND k % 7 = 0) AS n_upd,
        |  CAST(sum(CASE WHEN k % 3 <> 0 AND k % 7 = 0 THEN cents ELSE 0
        |           END) AS BIGINT) AS c_pre,
        |  count(*) FILTER (k % 5 = 0) AS n_del,
        |  CAST(sum(CASE WHEN k % 5 = 0 THEN cents ELSE 0 END)
        |     + sum(CASE WHEN k % 5 = 0 AND k % 7 = 0 THEN cents ELSE 0
        |           END) AS BIGINT) AS c_del
        | FROM o)
        |SELECT 'w1_cents_insert' AS fact, c_ins AS n FROM a
        |UNION ALL SELECT 'w1_cents_update_post', 2 * c_pre FROM a
        |UNION ALL SELECT 'w1_cents_update_pre', c_pre FROM a
        |UNION ALL SELECT 'w1_n_delete', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'w1_n_insert', CAST(n_late AS BIGINT) FROM a
        |UNION ALL SELECT 'w1_n_update_post', CAST(n_upd AS BIGINT) FROM a
        |UNION ALL SELECT 'w1_n_update_pre', CAST(n_upd AS BIGINT) FROM a
        |UNION ALL SELECT 'w2_cents_delete', c_del FROM a
        |UNION ALL SELECT 'w2_n_delete', CAST(n_del AS BIGINT) FROM a
        |UNION ALL SELECT 'w2_n_insert', CAST(0 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q316: counts/cents restated from orders (+ the one divergence
    // row on the clone); version/group protocol facts pin as integers
    // (2-group source, clone v1 references both, diverge adds one)
    "q316_sql_clone_detail" ->
      """WITH o AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_custkey % 11 = 3)
        |SELECT 'cents_t1' AS fact, CAST(sum(cents) AS BIGINT) AS n FROM o
        |UNION ALL SELECT 'cents_t2',
        |  CAST(sum(cents) + 123 AS BIGINT) FROM o
        |UNION ALL SELECT 'clone_version', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'n_t1', count(*) FROM o
        |UNION ALL SELECT 'n_t2', count(*) + 1 FROM o
        |UNION ALL SELECT 't1_groups', CAST(2 AS BIGINT)
        |UNION ALL SELECT 't1_version', CAST(2 AS BIGINT)
        |UNION ALL SELECT 't2_constraints', CAST(0 AS BIGINT)
        |UNION ALL SELECT 't2_groups_at_clone', CAST(2 AS BIGINT)
        |UNION ALL SELECT 't2_groups_diverged', CAST(3 AS BIGINT)
        |UNION ALL SELECT 't2_version_diverged', CAST(2 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q322: masses restated from orders (k%4 subsets of the
    // o_custkey%11=3 slice; the force pass re-loads everything with
    // f2 as doubled subset-2 rows at 3x cents); file/version protocol
    // facts pin as integers (create=1, copy1=2, copy3=3, force=4 —
    // the no-op/pattern/refused runs move NOTHING)
    "q322_copy_into" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_custkey % 11 = 3),
        |a AS (SELECT
        |  count(*) AS n_all,
        |  CAST(sum(cents) AS BIGINT) AS c_all,
        |  count(*) FILTER (k % 4 = 2) AS n2,
        |  CAST(sum(CASE WHEN k % 4 = 2 THEN cents ELSE 0 END) AS BIGINT)
        |    AS c2,
        |  count(*) FILTER (k % 4 = 3) AS n3
        | FROM o)
        |SELECT 'cents_final' AS fact,
        |       CAST(2 * c_all + 5 * c2 AS BIGINT) AS n FROM a
        |UNION ALL SELECT 'copy1_loaded', CAST(3 AS BIGINT)
        |UNION ALL SELECT 'copy1_rows', CAST(n_all - n3 AS BIGINT) FROM a
        |UNION ALL SELECT 'copy2_loaded', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'copy2_skipped', CAST(3 AS BIGINT)
        |UNION ALL SELECT 'copy2_version_moved', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'copy3_loaded', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'copy3_rows', CAST(n3 AS BIGINT) FROM a
        |UNION ALL SELECT 'force_loaded', CAST(4 AS BIGINT)
        |UNION ALL SELECT 'force_rows',
        |  CAST(n_all + n2 AS BIGINT) FROM a
        |UNION ALL SELECT 'n_final',
        |  CAST(2 * n_all + n2 AS BIGINT) FROM a
        |UNION ALL SELECT 'pattern_loaded', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'pattern_skipped', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'refused_mutated', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'version_after_force', CAST(4 AS BIGINT)
        |UNION ALL SELECT 'version_after_refusal', CAST(3 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q323: masses restated from orders (even/odd k splits of the
    // o_custkey%13=5 slice; the post-replace table is odd keys at
    // 2x cents plus the one negative probe row); version facts pin
    // (CTAS = create+append = v2, constraint v3, replace v4;
    // t2 CTAS v2, schema-only replace v3)
    "q323_replace_table" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_custkey % 13 = 5),
        |a AS (SELECT
        |  count(*) FILTER (k % 2 = 0) AS ne,
        |  CAST(sum(CASE WHEN k % 2 = 0 THEN cents ELSE 0 END) AS BIGINT)
        |    AS ce,
        |  count(*) FILTER (k % 2 = 1) AS nodd,
        |  CAST(sum(CASE WHEN k % 2 = 1 THEN cents ELSE 0 END) AS BIGINT)
        |    AS codd
        | FROM o)
        |SELECT 'cents2_after' AS fact,
        |       CAST(2 * codd - 5 AS BIGINT) AS n FROM a
        |UNION ALL SELECT 'cents_v_armed', ce FROM a
        |UNION ALL SELECT 'insert_negative_ok', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'n_after_insert', CAST(nodd + 1 AS BIGINT) FROM a
        |UNION ALL SELECT 'n_v_armed', CAST(ne AS BIGINT) FROM a
        |UNION ALL SELECT 'refused_missing', CAST(1 AS BIGINT)
        |UNION ALL SELECT 't2_n_after_schema_replace', CAST(0 AS BIGINT)
        |UNION ALL SELECT 't2_n_at_ctas', CAST(ne AS BIGINT) FROM a
        |UNION ALL SELECT 't2_replace_version', CAST(3 AS BIGINT)
        |UNION ALL SELECT 'v_armed', CAST(3 AS BIGINT)
        |UNION ALL SELECT 'v_replaced', CAST(4 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q342: row masses restated from orders (live snapshot = k%3 in
    // (1,2) of the o_custkey%41=1 slice); dry-run facts pin (3 paths:
    // the stale v1 dir + 2 dropped manifests; nothing moves until the
    // real vacuum, which removes exactly the listed paths).
    "q342_vacuum_dry_run" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k FROM orders WHERE o_custkey % 41 = 1)
        |SELECT 'deleted_exactly' AS fact, CAST(1 AS BIGINT) AS n
        |UNION ALL SELECT 'n_after_dry',
        |  (SELECT CAST(sum(CASE WHEN k % 3 > 0 THEN 1 ELSE 0 END)
        |          AS BIGINT) FROM o)
        |UNION ALL SELECT 'n_after_real',
        |  (SELECT CAST(sum(CASE WHEN k % 3 > 0 THEN 1 ELSE 0 END)
        |          AS BIGINT) FROM o)
        |UNION ALL SELECT 'n_listed', CAST(3 AS BIGINT)
        |UNION ALL SELECT 'versions_after_dry', CAST(3 AS BIGINT)
        |UNION ALL SELECT 'versions_after_real', CAST(1 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q341: same revision semantics as q132 (corrections win), plus
    // the no-rewrite churn fact the MOR sink adds.
    "q341_stream_upsert_mor" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(SUM(CAST(CASE WHEN event_id % 10 = 0 THEN value + 1000
        |                          ELSE value END AS DECIMAL(18,2)))
        |         AS DOUBLE) AS total_value,
        |       true AS base_untouched
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q340: the upsert outcome restated from orders (matched k%3=0
    // keys +5, inserts = k%7=0 under shifted keys); churn facts pin.
    "q340_merge_mor" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_custkey % 37 = 9)
        |SELECT 'cents_after' AS fact,
        |  CAST(sum(cents + CASE WHEN k % 3 = 0 THEN 5 ELSE 0 END)
        |       + sum(CASE WHEN k % 7 = 0 THEN cents ELSE 0 END)
        |       AS BIGINT) AS n FROM o
        |UNION ALL SELECT 'cents_v1', CAST(sum(cents) AS BIGINT) FROM o
        |UNION ALL SELECT 'files_untouched', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'groups_added', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'n_after',
        |  count(*) + CAST(sum(CASE WHEN k % 7 = 0 THEN 1 ELSE 0 END)
        |                  AS BIGINT) FROM o
        |UNION ALL SELECT 'n_insert_cdc',
        |  CAST(sum(CASE WHEN k % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM o
        |UNION ALL SELECT 'n_postimage_cdc',
        |  CAST(sum(CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM o
        |UNION ALL SELECT 'n_preimage_cdc',
        |  CAST(sum(CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM o
        |UNION ALL SELECT 'rewrite_matches', CAST(1 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q339: the many-to-many year join restated from orders (each
    // order row matches every (yk, m) total of its year — 2 m-buckets
    // per year when both residues exist); plan facts pin.
    "q339_spj_subset_key" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |         CAST(year(o_orderdate) AS BIGINT) AS yk,
        |         o_orderkey % 2 AS m,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_custkey % 17 = 3),
        |t AS (SELECT yk, m FROM o GROUP BY yk, m),
        |j AS (SELECT o.cents, o.yk, o.m + t.m AS mm
        |      FROM o JOIN t ON o.yk = t.yk)
        |SELECT 'cents_joined' AS fact, CAST(sum(cents) AS BIGINT) AS n
        |FROM j
        |UNION ALL SELECT 'exchanges_subset', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'flag_off_shuffles_present', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'm_pairs_sum', CAST(sum(mm) AS BIGINT) FROM j
        |UNION ALL SELECT 'n_rows_joined', count(*) FROM j
        |UNION ALL SELECT 'n_years',
        |  (SELECT count(DISTINCT yk) FROM o)
        |ORDER BY fact""".stripMargin,
    // q338: the positional delete's observable state restated as one
    // plain predicate (n_chars < 100); the no-churn, late-append-
    // visible, and rewrite-equality facts pin as booleans.
    "q338_sql_delete_dv" ->
      """SELECT lang,
        |  CAST(sum(CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_after,
        |  CAST(sum(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_deleted_cdc,
        |  true AS files_untouched,
        |  true AS late_visible,
        |  true AS rewrite_matches
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // q337: lifecycle constants pin (set→show→unset→refusal→carry);
    // the one data fact (row count after append) restates from orders.
    "q337_tblproperties" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k FROM orders WHERE o_custkey % 31 = 8)
        |SELECT 'n_rows' AS fact,
        |  CAST(count(*) + sum(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END)
        |       AS VARCHAR) AS v FROM o
        |UNION ALL SELECT 'pii_after_set', 'false'
        |UNION ALL SELECT 'pii_survives_unset', 'false'
        |UNION ALL SELECT 'props_at_create', '0'
        |UNION ALL SELECT 'refused_unknown_unset', '1'
        |UNION ALL SELECT 'team_after_maintenance', 'data-eng'
        |ORDER BY fact""".stripMargin,
    // q334: row masses restated from orders (o_custkey%29=7 slice;
    // append adds the even-key half under shifted keys); the zero-copy,
    // unchanged-listing, foreign-survival and exists-refusal facts pin.
    "q334_convert_to_lake" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_custkey % 29 = 7)
        |SELECT 'cents_total' AS fact, CAST(sum(cents) AS BIGINT) AS n
        |FROM o
        |UNION ALL SELECT 'foreign_survive', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'n_after_append',
        |  count(*) + CAST(sum(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END)
        |                  AS BIGINT) FROM o
        |UNION ALL SELECT 'n_rows', count(*) FROM o
        |UNION ALL SELECT 'n_v1', count(*) FROM o
        |UNION ALL SELECT 'plain_unchanged', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'refused_exists', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'zero_copy', CAST(1 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q333: row masses restated from orders (o_custkey%23=6 slice,
    // b = k%3); layout facts pin (3 appends × 3 values = 9 groups,
    // b=1 compacts 3→1 → 7 total, others byte-identical, non-partition
    // WHERE refused).
    "q333_optimize_where" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents,
        |         o_orderkey % 3 AS b
        |  FROM orders WHERE o_custkey % 23 = 6)
        |SELECT 'cents_total' AS fact, CAST(sum(cents) AS BIGINT) AS n
        |FROM o
        |UNION ALL SELECT 'groups_after', CAST(7 AS BIGINT)
        |UNION ALL SELECT 'groups_b1_after', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'groups_before', CAST(9 AS BIGINT)
        |UNION ALL SELECT 'n_b1',
        |  CAST(sum(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT) FROM o
        |UNION ALL SELECT 'n_rows', count(*) FROM o
        |UNION ALL SELECT 'refused_nonpart', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'untouched_others', CAST(1 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q332: cents masses restated from orders (o_custkey%19=5 slice;
    // MOR adds 7 to k%10=3, COW later adds 9 to k%10=4); layout facts
    // pin (files untouched + 1 group added by MOR, COW replaces its
    // group, COW refused while dv state pends).
    "q332_sql_update_mor" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_custkey % 19 = 5)
        |SELECT 'cents_after_mor' AS fact,
        |  CAST(sum(cents + CASE WHEN k % 10 = 3 THEN 7 ELSE 0 END)
        |       AS BIGINT) AS n FROM o
        |UNION ALL SELECT 'cents_final',
        |  CAST(sum(cents + CASE WHEN k % 10 = 3 THEN 7 ELSE 0 END
        |                 + CASE WHEN k % 10 = 4 THEN 9 ELSE 0 END)
        |       AS BIGINT) FROM o
        |UNION ALL SELECT 'cents_v1', CAST(sum(cents) AS BIGINT) FROM o
        |UNION ALL SELECT 'cow_rewrote_groups', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'mor_files_untouched', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'mor_groups_added', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'n_rows', count(*) FROM o
        |UNION ALL SELECT 'refused_cow_while_dv', CAST(1 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q331: data facts restated from orders (o_custkey%13=4 slice;
    // mismatched join keeps pre-1998 rows; one-side join keeps all,
    // big = cents*50 >= year total); plan facts pin (0 exchanges with
    // pushed part values, exactly 1 when only the dim side shuffles).
    "q331_spj_partial" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |         CAST(year(o_orderdate) AS BIGINT) AS yk,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_custkey % 13 = 4),
        |t AS (SELECT yk, CAST(sum(cents) AS BIGINT) AS yr_total
        |      FROM o GROUP BY 1),
        |j AS (SELECT o.cents, o.yk, t.yr_total FROM o JOIN t USING (yk))
        |SELECT 'cents_mismatched' AS fact,
        |       CAST(sum(CASE WHEN yk < 1998 THEN cents ELSE 0 END)
        |            AS BIGINT) AS n FROM o
        |UNION ALL SELECT 'exchanges_above_scan', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'exchanges_mismatched', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'exchanges_one_side', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'n_big_one_side',
        |  CAST(sum(CASE WHEN cents * 50 >= yr_total THEN 1 ELSE 0 END)
        |       AS BIGINT) FROM j
        |UNION ALL SELECT 'n_rows_mismatched',
        |  CAST(sum(CASE WHEN yk < 1998 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM o
        |UNION ALL SELECT 'n_rows_one_side', count(*) FROM j
        |ORDER BY fact""".stripMargin,
    // q330: the evolved-merge outcome restated as three plain slices
    // (untouched odd keys chan='none', matched even keys cents+5
    // chan='upd', inserts keyed +1e9 chan='new'); the no-keyword
    // refusal and the evolve-then-merge commit shape pin as constants.
    "q330_merge_evolution" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_custkey % 11 = 3),
        |fin AS (
        |  SELECT k, cents, 'none' AS chan FROM o WHERE k % 2 = 1
        |  UNION ALL SELECT k, cents + 5, 'upd' FROM o WHERE k % 2 = 0
        |  UNION ALL SELECT k + 1000000000, cents, 'new' FROM o
        |    WHERE k % 5 = 0)
        |SELECT chan, count(*) AS n, CAST(sum(cents) AS BIGINT) AS c,
        |       CAST(1 AS BIGINT) AS refused_plain,
        |       CAST(1 AS BIGINT) AS two_commit_shape
        |FROM fin GROUP BY chan ORDER BY chan""".stripMargin,
    // q329: row masses restated from documents by plain predicates;
    // layout facts pin (5 per-lang groups; equality keeps exactly 1;
    // range and prefix scans plan strictly fewer paths than the full
    // table — each kept-group set is a strict subset by construction).
    "q329_string_skipping" ->
      """SELECT 'chars_es' AS fact,
        |  CAST(sum(CASE WHEN lang = 'es' THEN n_chars ELSE 0 END)
        |       AS BIGINT) AS n FROM documents
        |UNION ALL SELECT 'kept_groups_eq', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'n_es',
        |  CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM documents
        |UNION ALL SELECT 'n_groups', CAST(5 AS BIGINT)
        |UNION ALL SELECT 'n_le_en',
        |  CAST(sum(CASE WHEN lang <= 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM documents
        |UNION ALL SELECT 'n_prefix_e',
        |  CAST(sum(CASE WHEN lang LIKE 'e%' THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM documents
        |UNION ALL SELECT 'pruned_le_en', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'pruned_prefix_e', CAST(1 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q328: row masses restated from orders (restore lands on v2 =
    // k%3 in (0,1)); version facts pin (create=1, +2 appends, restore=4;
    // RETAIN 1 HOURS keeps the two fresh commits, drops the two
    // backdated ones; reading a dropped version refuses).
    "q328_time_retention" ->
      """SELECT 'n_latest_after_vacuum' AS fact,
        |       count(*) AS n FROM orders WHERE o_orderkey % 3 < 2
        |UNION ALL SELECT 'n_restored',
        |       count(*) FROM orders WHERE o_orderkey % 3 < 2
        |UNION ALL SELECT 'refused_dropped_version', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'restored_version', CAST(2 AS BIGINT)
        |UNION ALL SELECT 'v_after_restore', CAST(4 AS BIGINT)
        |UNION ALL SELECT 'versions_after_vacuum', CAST(2 AS BIGINT)
        |UNION ALL SELECT 'versions_before_vacuum', CAST(4 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q327: the MOR update's observable state restated as one plain
    // predicate — post-update sums and CDC postimage counts both derive
    // from n_chars < 100; the no-file-churn, single-replacement-group,
    // and rewrite-equality facts pin as booleans/constants.
    "q327_mor_update" ->
      """SELECT lang, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN n_chars < 100 THEN n_chars + 1000000
        |                ELSE n_chars END) AS BIGINT) AS chars_after,
        |  CAST(sum(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_updated_cdc,
        |  true AS files_untouched,
        |  CAST(1 AS BIGINT) AS groups_added,
        |  true AS rewrite_matches
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // q326: data facts restated from orders (o_custkey%7=2 slice,
    // per-order join to its year total, big = cents*50 >= yr_total);
    // plan facts pin — 0 exchanges for the SPJ join and the
    // partition-key aggregate, shuffles present with the flag off
    "q326_spj_year_join" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |         CAST(year(o_orderdate) AS BIGINT) AS yk,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_custkey % 7 = 2),
        |t AS (SELECT yk, CAST(sum(cents) AS BIGINT) AS yr_total
        |      FROM o GROUP BY 1),
        |j AS (SELECT o.cents, o.yk, t.yr_total
        |      FROM o JOIN t USING (yk))
        |SELECT 'cents_joined' AS fact,
        |       CAST(sum(cents) AS BIGINT) AS n FROM j
        |UNION ALL SELECT 'exchanges_in_agg', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'exchanges_in_join', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'flag_off_shuffles_present', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'n_big_orders',
        |  CAST(sum(CASE WHEN cents * 50 >= yr_total THEN 1 ELSE 0 END)
        |       AS BIGINT) FROM j
        |UNION ALL SELECT 'n_rows_joined', count(*) FROM j
        |UNION ALL SELECT 'n_years', count(*) FROM t
        |ORDER BY fact""".stripMargin,
    // q324: masses restated from orders (the o_custkey%17=7 slice,
    // reinserted half = even k); version facts pin (create=1,
    // constraint=2, insert=3, truncate=4; the refused negative insert
    // moves nothing, the reinsert lands v5)
    "q324_truncate" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_custkey % 17 = 7)
        |SELECT 'cents_at_full' AS fact,
        |       CAST(sum(cents) AS BIGINT) AS n FROM o
        |UNION ALL SELECT 'cents_reinserted',
        |  CAST(sum(CASE WHEN k % 2 = 0 THEN cents ELSE 0 END) AS BIGINT)
        |  FROM o
        |UNION ALL SELECT 'n_after_truncate', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'n_at_full', count(*) FROM o
        |UNION ALL SELECT 'n_reinserted',
        |  count(*) FILTER (k % 2 = 0) FROM o
        |UNION ALL SELECT 'refused_negative', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'v_full', CAST(3 AS BIGINT)
        |UNION ALL SELECT 'v_truncate', CAST(4 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q317: corner counts restated with the same 0.9·max threshold
    // arithmetic (both engines compute it in IEEE doubles, so the >=
    // comparisons agree); layout/pruning/protocol facts pin
    "q317_sql_zorder" ->
      """WITH o AS (
        |  SELECT o_custkey AS ck,
        |         datediff('day', DATE '1992-01-01',
        |                  CAST(o_orderdate AS DATE)) AS d
        |  FROM orders),
        |b AS (SELECT 0.9 * max(ck) AS cklo, 0.9 * max(d) AS dlo FROM o)
        |SELECT 'groups' AS fact, CAST(8 AS BIGINT) AS n
        |UNION ALL SELECT 'history_zorder_ops', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'n_corner_ck',
        |  (SELECT count(*) FROM o, b WHERE ck >= cklo)
        |UNION ALL SELECT 'n_corner_d',
        |  (SELECT count(*) FROM o, b WHERE d >= dlo)
        |UNION ALL SELECT 'pruned_ck', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'pruned_d', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'version_after', CAST(2 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q318: every (change_type, commit_version) mass restated from
    // orders via the batch keying: v1/v3 appends are the k%3 splits;
    // the v4 delete removes k%5=0 of the v3 snapshot; the v5 merge
    // (keys k%4=1 at 3× cents) pairs survivors as updates and lands
    // deleted/fresh keys as inserts; the v6 delete removes k%7=0 of
    // the merged snapshot (original cents except the 3× merge rows)
    "q318_stream_change_feed" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_custkey % 11 = 7),
        |v5a AS (SELECT k, cents FROM o
        |        WHERE k % 3 IN (0, 1) AND k % 5 <> 0 AND k % 4 <> 1),
        |v5b AS (SELECT k, 3 * cents AS cents FROM o WHERE k % 4 = 1)
        |SELECT 'delete_4' AS fact, count(*) AS n,
        |       CAST(sum(cents) AS BIGINT) AS c
        |FROM o WHERE k % 3 IN (0, 1) AND k % 5 = 0
        |UNION ALL SELECT 'delete_6', count(*), CAST(sum(cents) AS BIGINT)
        |FROM (SELECT * FROM v5a UNION ALL SELECT * FROM v5b)
        |WHERE k % 7 = 0
        |UNION ALL SELECT 'insert_1', count(*), CAST(sum(cents) AS BIGINT)
        |FROM o WHERE k % 3 = 0
        |UNION ALL SELECT 'insert_3', count(*), CAST(sum(cents) AS BIGINT)
        |FROM o WHERE k % 3 = 1
        |UNION ALL SELECT 'insert_5', count(*),
        |  CAST(sum(3 * cents) AS BIGINT)
        |FROM o WHERE k % 4 = 1
        |  AND NOT (k % 3 IN (0, 1) AND k % 5 <> 0)
        |UNION ALL SELECT 'update_postimage_5', count(*),
        |  CAST(sum(3 * cents) AS BIGINT)
        |FROM o WHERE k % 4 = 1 AND k % 3 IN (0, 1) AND k % 5 <> 0
        |UNION ALL SELECT 'update_preimage_5', count(*),
        |  CAST(sum(cents) AS BIGINT)
        |FROM o WHERE k % 4 = 1 AND k % 3 IN (0, 1) AND k % 5 <> 0
        |ORDER BY fact""".stripMargin,
    // q319: the drop set recomputed by UNPRUNED all-pairs exact
    // word-bigram Jaccard batch×corpus (the q55 shingle definition);
    // the engine's LSH-pruned, exactly-verified answer must equal it
    "q319_ingest_dedup" ->
      """WITH w AS (SELECT doc_id,
        |  CASE WHEN len(ws) >= 2
        |   THEN list_distinct(list_transform(range(1, len(ws)),
        |                                     i -> ws[i] || ' ' || ws[i+1]))
        |   ELSE [array_to_string(ws, ' ')] END AS sh
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |        FROM documents)),
        |b AS (SELECT * FROM w WHERE doc_id % 3 = 0),
        |c AS (SELECT * FROM w WHERE doc_id % 3 <> 0),
        |drops AS (SELECT DISTINCT b.doc_id FROM b JOIN c ON
        |  CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE) /
        |    (len(b.sh) + len(c.sh) - len(list_intersect(b.sh, c.sh)))
        |    >= 0.3),
        |kept AS (SELECT doc_id, text FROM documents
        |         WHERE doc_id % 3 = 0
        |           AND doc_id NOT IN (SELECT doc_id FROM drops))
        |SELECT 'len_kept' AS fact,
        |       CAST(sum(length(text)) AS BIGINT) AS n FROM kept
        |UNION ALL SELECT 'n_batch',
        |  (SELECT count(*) FROM documents WHERE doc_id % 3 = 0)
        |UNION ALL SELECT 'n_dropped', (SELECT count(*) FROM drops)
        |UNION ALL SELECT 'n_kept', count(*) FROM kept
        |UNION ALL SELECT 'refused_stale_index', CAST(1 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q297: the identity-series facts are pure arithmetic on the
    // engine-assigned id block (start 10, step 5, n = the two stamped
    // batches' row count) — sum/min/max/distinct together prove the
    // ids are exactly the gap-free series
    "q297_identity_column" ->
      """WITH o AS (
        |  SELECT o_orderkey FROM orders WHERE o_custkey % 4 = 2),
        |c AS (SELECT count(*) FILTER (o_orderkey % 3 = 0) AS n0,
        |             count(*) FILTER (o_orderkey % 3 <> 0) AS nn
        |      FROM o)
        |SELECT 'distinct_ids' AS fact, CAST(nn AS BIGINT) AS n FROM c
        |UNION ALL SELECT 'max_id', CAST(10 + 5 * (nn - 1) AS BIGINT) FROM c
        |UNION ALL SELECT 'min_id', CAST(10 AS BIGINT)
        |UNION ALL SELECT 'n_ids', CAST(nn AS BIGINT) FROM c
        |UNION ALL SELECT 'n_pre_identity', CAST(n0 AS BIGINT) FROM c
        |UNION ALL SELECT 'refused_explicit_id', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'sum_ids',
        |  CAST(10 * nn + 5 * (nn * (nn - 1) // 2) AS BIGINT) FROM c
        |ORDER BY fact""".stripMargin,
    // q282: exact distinct counts restated from orders; estimate and
    // coverage gates pin as constants (deterministic sketches)
    "q282_hll_index_lake" ->
      """SELECT 'coverage_mid' AS fact, CAST(1 AS BIGINT) AS n
        |UNION ALL SELECT 'coverage_post', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'est_committed_ok', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'est_hybrid_ok', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'est_reindexed_ok', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'exact_distinct_all',
        |  (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders)
        |UNION ALL SELECT 'exact_distinct_part',
        |  (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders
        |   WHERE o_orderkey % 5 <> 4)
        |ORDER BY fact""".stripMargin,
    // q281: rows restated from orders (+1 for the single racing-append
    // winner); upsert and uniqueness invariants as equalities
    "q281_unique_constraint" ->
      """WITH s AS (SELECT o_orderkey FROM orders WHERE o_custkey % 4 = 0)
        |SELECT 'n_after_upsert' AS fact, CAST(count(*) AS BIGINT) AS n
        |  FROM s
        |UNION ALL SELECT 'n_distinct_keys', count(*) + 1 FROM s
        |UNION ALL SELECT 'n_final', count(*) + 1 FROM s
        |UNION ALL SELECT 'rejected_dup_append', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'rejected_racing_append', CAST(1 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q288: per-source counts and cents sums restated from orders via
    // the o_orderkey%4 batch keying; protocol facts pin as integers
    // (on_disk_backfill must equal the m=1 batch count exactly)
    "q288_column_default" ->
      """WITH s AS (
        |  SELECT o_orderkey,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents,
        |         CASE o_orderkey % 4 WHEN 1 THEN 'backfill'
        |              WHEN 2 THEN 'manual' ELSE '(none)' END AS src
        |  FROM orders WHERE o_custkey % 4 = 0)
        |SELECT 'cents_backfill' AS fact,
        |       CAST(sum(CASE WHEN src = 'backfill' THEN cents ELSE 0 END)
        |            AS BIGINT) AS n FROM s
        |UNION ALL SELECT 'cents_manual',
        |  CAST(sum(CASE WHEN src = 'manual' THEN cents ELSE 0 END)
        |       AS BIGINT) FROM s
        |UNION ALL SELECT 'cents_none',
        |  CAST(sum(CASE WHEN src = '(none)' THEN cents ELSE 0 END)
        |       AS BIGINT) FROM s
        |UNION ALL SELECT 'metadata_only_set_default', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'n_backfill',
        |  count(*) FILTER (src = 'backfill') FROM s
        |UNION ALL SELECT 'n_manual',
        |  count(*) FILTER (src = 'manual') FROM s
        |UNION ALL SELECT 'n_none',
        |  count(*) FILTER (src = '(none)') FROM s
        |UNION ALL SELECT 'on_disk_backfill',
        |  count(*) FILTER (src = 'backfill') FROM s
        |UNION ALL SELECT 'rename_refused_under_default', CAST(1 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q273: rows and the surviving-column sum restated from orders;
    // drop-protocol facts pin as integers
    "q273_drop_column" ->
      """WITH s AS (
        |  SELECT o_orderkey,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_custkey % 4 = 0)
        |SELECT 'metadata_only_drop' AS fact, CAST(1 AS BIGINT) AS n
        |UNION ALL SELECT 'n_rows', count(*) FROM s
        |UNION ALL SELECT 'old_col_at_v1', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'physical_narrowed_after_compact',
        |          CAST(1 AS BIGINT)
        |UNION ALL SELECT 'rejected_append_with_dropped', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'rejected_readd', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'sum_price_cents', CAST(sum(cents) AS BIGINT)
        |  FROM s
        |ORDER BY fact""".stripMargin,
    // q272: row and sum facts restated from orders (exact cents);
    // the rename-protocol facts pin as integers
    "q272_rename_column" ->
      """WITH s AS (
        |  SELECT o_orderkey,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders WHERE o_custkey % 4 = 0)
        |SELECT 'metadata_only_rename' AS fact, CAST(1 AS BIGINT) AS n
        |UNION ALL SELECT 'n_rows', count(*) FROM s
        |UNION ALL SELECT 'old_name_at_v1', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'physical_is_logical_after_compact',
        |          CAST(1 AS BIGINT)
        |UNION ALL SELECT 'rejected_collision', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'sum_price_cents', CAST(sum(cents) AS BIGINT)
        |  FROM s
        |ORDER BY fact""".stripMargin,
    // q267: merged rows restated as the plain union of the writer
    // slices (mod-3 covers all of orders, the refused slice never
    // lands); version-chain facts pin as integers — create + winnerA +
    // rebased-B = 3, + compact = 4, refused append adds none
    "q267_append_reconcile" ->
      """WITH s AS (SELECT * FROM orders WHERE o_custkey % 4 = 0)
        |SELECT 'n_rows_after_conflict' AS fact,
        |       CAST(count(*) AS BIGINT) AS n FROM s
        |UNION ALL SELECT 'n_rows_merged', count(*) FROM s
        |UNION ALL SELECT 'n_versions_after_rebase', CAST(3 AS BIGINT)
        |UNION ALL SELECT 'n_versions_final', CAST(4 AS BIGINT)
        |UNION ALL SELECT 'rebased_version', CAST(3 AS BIGINT)
        |UNION ALL SELECT 'rejected_conflict', CAST(1 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q246: the index structures are ours, so the oracle pins the
    // deterministic lifecycle/recall gates to constants and states the
    // SQL-knowable facts exactly (query set, exact-top-10 size) —
    // q171's promotion pattern.
    "q246_ann_index_lake" ->
      """SELECT vec_id AS query_id, CAST(10 AS BIGINT) AS n_exact,
        |       true AS coverage_ok, true AS recall_hybrid_ok,
        |       true AS recall_full_ok
        |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin,
    // q238: row facts restated from orders; the erasure facts pin as
    // integers (history truncated to one version, one data dir on disk)
    "q238_purge_erasure" ->
      """WITH s AS (SELECT * FROM orders WHERE o_custkey % 4 = 0)
        |SELECT 'n_after_purge' AS fact, CAST(count(*) AS BIGINT) AS n
        |  FROM s WHERE o_custkey % 40 <> 0
        |UNION ALL SELECT 'n_before_purge', count(*) FROM s
        |UNION ALL SELECT 'n_data_dirs_on_disk', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'n_versions_after', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'n_versions_before', CAST(3 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q235: surviving rows restated from orders; version count proves the
    // rejected writes committed nothing (create + constraint + append = 3)
    "q235_check_constraints" ->
      """WITH s AS (SELECT * FROM orders WHERE o_custkey % 4 = 0)
        |SELECT 'n_rows' AS fact, count(*) AS n FROM s
        |UNION ALL SELECT 'n_versions', CAST(3 AS BIGINT)
        |UNION ALL SELECT 'rejected_append', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'rejected_merge', CAST(1 AS BIGINT)
        |ORDER BY fact""".stripMargin,
    // q233: all four facts restated from orders; n_copied_files pinned 0
    // (the clone must be metadata-only)
    "q233_shallow_clone" ->
      """WITH s AS (SELECT * FROM orders WHERE o_custkey % 4 = 0)
        |SELECT 'clone_after_delete' AS fact, count(*) AS n FROM s
        |  WHERE o_orderstatus <> 'F'
        |UNION ALL SELECT 'clone_at_clone', count(*) FROM s
        |UNION ALL SELECT 'n_copied_files', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'source_after_clone_delete', count(*) FROM s
        |ORDER BY fact""".stripMargin,
    // q189: the same aggregates from the plain table; the pushdown
    // fact pins as a plan-derived gate
    "q189_agg_pushdown" ->
      """SELECT count(*) AS n_orders,
        |       min(o_orderkey) AS min_key,
        |       max(o_orderkey) AS max_key,
        |       true AS agg_pushed
        |FROM orders""".stripMargin,
    // q184: deterministic construction (1 create + 3 appends, merge all
    // but the largest) pins the group arithmetic; row counts from the
    // plain table.
    "q184_optimize_small" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       4 AS groups_before, 2 AS groups_after,
        |       true AS large_untouched
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // q182: the MOR delete's observable state restated as one plain
    // predicate — counts after masking, CDC delete rows, and the
    // materialized rewrite all derive from n_chars < 100; the
    // no-file-churn and rewrite-equality facts pin as booleans.
    "q182_mor_delete" ->
      """SELECT lang,
        |  CAST(sum(CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_after,
        |  CAST(sum(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_deleted_cdc,
        |  true AS files_untouched,
        |  true AS rewrite_matches
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // q181: same md5-ordered probe choice; payload rows from a plain
    // filter; pruned gates pinned true (see Scaladoc for the 1e-14
    // bound), absent probe pinned to zero rows.
    "q181_bloom_skipping" ->
      """WITH p AS (
        |  SELECT doc_id,
        |         CAST(row_number() OVER (
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT)
        |           AS rn
        |  FROM documents
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 5)
        |SELECT rn AS probe_rank, p.doc_id AS probe_id,
        |       CAST(1 AS BIGINT) AS n_rows, d.lang AS lang, true AS pruned
        |FROM p JOIN documents d ON d.doc_id = p.doc_id
        |UNION ALL
        |SELECT 6, (SELECT max(doc_id) + 999983 FROM documents),
        |       CAST(0 AS BIGINT), NULL, true
        |ORDER BY probe_rank""".stripMargin,
    // survivors = rows where the DELETE predicate is not true; v1 is
    // the full pre-delete snapshot (no nullable columns involved)
    "q151_sql_delete_dsv2" ->
      """SELECT o_orderstatus, count(*) AS n,
        |       (SELECT count(*) FROM orders) AS v1_rows
        |FROM orders
        |WHERE NOT (o_orderstatus = 'F' AND o_totalprice > 150000)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the DML chain replayed relationally: UPDATE doubles P-status
    // prices in the base rows; the MERGE inserts the key-shifted slice
    // (post-update, so its prices stay undoubled); row count is
    // version-invariant through the UPDATE
    "q155_sql_merge_dsv2" ->
      """WITH updated AS (
        |  SELECT o_orderstatus,
        |         CASE WHEN o_orderstatus = 'P' THEN o_totalprice * 2
        |              ELSE o_totalprice END AS price
        |  FROM orders),
        |inserted AS (
        |  SELECT o_orderstatus, o_totalprice AS price FROM orders
        |  WHERE o_custkey % 97 = 0),
        |final AS (SELECT * FROM updated
        |          UNION ALL SELECT * FROM inserted)
        |SELECT o_orderstatus, count(*) AS n,
        |       CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
        |         AS revenue,
        |       (SELECT count(*) FROM orders) AS v1_rows,
        |       (SELECT count(*) FROM orders) AS v2_rows
        |FROM final GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // between-commits sees the pre-1996 snapshot; far-future the whole
    "q176_sql_timestamp_as_of" ->
      """SELECT
        |  (SELECT count(*) FROM orders
        |   WHERE CAST(o_orderdate AS DATE) < DATE '1996-01-01') AS v1_rows,
        |  (SELECT count(*) FROM orders) AS latest_rows""".stripMargin,
    // the filtered aggregate restated; pruning pinned TRUE (8 key-range
    // groups, a 100-key slice cannot touch them all)
    "q169_sql_stats_pruning" ->
      """SELECT count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS revenue,
        |       true AS pruned
        |FROM orders WHERE o_custkey BETWEEN 0 AND 99""".stripMargin,
    // the created-inserted-derived chain, replayed from orders
    "q163_sql_create_ctas" ->
      """SELECT o_orderstatus, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS revenue
        |FROM orders WHERE o_custkey % 10 = 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // evolution replayed: base rows carry a null discount, the inserted
    // slice computes one; same decimal-sum determinism as every revenue
    "q162_sql_schema_evolution" ->
      """WITH ins AS (
        |  SELECT o_orderstatus, o_totalprice / 10 AS discount
        |  FROM orders WHERE o_custkey % 77 = 0),
        |base AS (
        |  SELECT o_orderstatus, CAST(NULL AS DOUBLE) AS discount
        |  FROM orders),
        |f AS (SELECT * FROM base UNION ALL SELECT * FROM ins)
        |SELECT o_orderstatus, count(*) AS n,
        |       count(discount) AS n_discounted,
        |       CAST(sum(CAST(coalesce(discount, 0) AS DECIMAL(18,3)))
        |            AS DOUBLE) AS disc_total
        |FROM f GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // streamed aggregate over all three commits == batch aggregate of
    // the whole table; 3 committed versions
    "q159_streaming_lake_read" ->
      """SELECT o_orderstatus, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS revenue,
        |       CAST(3 AS BIGINT) AS n_versions
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // every MERGE clause as a CASE: matched slice (custkey%50=0) is
    // deleted when its bumped price tops 200000 else price-bumped;
    // unmatched target rows lose their 'P'-status members; the
    // key-shifted slice (custkey%101=0) inserts price-bumped
    "q156_sql_merge_clauses" ->
      """WITH survivors AS (
        |  SELECT o_orderstatus,
        |         CASE WHEN o_custkey % 50 = 0
        |              THEN o_totalprice + 1000 ELSE o_totalprice END AS price
        |  FROM orders
        |  WHERE NOT (o_custkey % 50 = 0 AND o_totalprice + 1000 > 200000)
        |    AND NOT (o_custkey % 50 <> 0 AND o_orderstatus = 'P')
        |),
        |inserted AS (
        |  SELECT o_orderstatus, o_totalprice + 1000 AS price FROM orders
        |  WHERE o_custkey % 101 = 0),
        |final AS (SELECT * FROM survivors
        |          UNION ALL SELECT * FROM inserted)
        |SELECT o_orderstatus, count(*) AS n,
        |       CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
        |         AS revenue
        |FROM final GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // after the SQL append the table is the full orders set; v1 is the
    // pre-1996 snapshot
    "q152_sql_insert_dsv2" ->
      """SELECT o_orderstatus, count(*) AS n,
        |       (SELECT count(*) FROM orders
        |        WHERE year(CAST(o_orderdate AS DATE)) < 1996) AS v1_rows
        |FROM orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // staged-chain counts restated from nation: create(5 rows) + 10
    // two-row appends; delta v9 = manifest v10 = keys < 23
    "q141_lake_checkpoint" ->
      """SELECT CAST(11 AS BIGINT) AS n_versions,
        |       CAST(9 AS BIGINT) AS cp_version,
        |       count(CASE WHEN n_nationkey < 23 THEN 1 END) AS rows_at_cp,
        |       count(*) AS rows_latest, true AS pruned_ok
        |FROM nation""".stripMargin,
    // the incrementally-maintained view equals the direct aggregate of
    // the final snapshot (post-delete, post-merge), restated from orders
    "q136_incremental_view" ->
      """SELECT o_orderstatus, count(*) AS n,
        |       CAST(SUM(CAST(CASE WHEN o_custkey % 97 = 0
        |                          THEN o_totalprice * 2
        |                          ELSE o_totalprice END
        |                     AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders WHERE o_orderstatus <> 'F' AND o_custkey % 4 = 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // operation log pinned; every version's count restated from orders
    "q134_lake_restore" ->
      """SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS version_ord, 'create' AS op,
        |         (SELECT count(*) FROM orders WHERE o_custkey % 10 < 5)
        |           AS n_rows
        |  UNION ALL SELECT 2, 'append', (SELECT count(*) FROM orders)
        |  UNION ALL SELECT 3, 'delete',
        |         (SELECT count(*) FROM orders WHERE o_orderstatus <> 'F')
        |  UNION ALL SELECT 4, 'restore', (SELECT count(*) FROM orders)
        |) t ORDER BY version_ord""".stripMargin,
    // layout changes nothing about the answer: each corner count is a
    // plain predicate; pruning is pinned TRUE
    "q133_zorder_pruning" ->
      """WITH d AS (SELECT o_custkey,
        |    date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
        |      AS o_days FROM orders)
        |SELECT * FROM (
        |  SELECT 'custkey' AS dim,
        |         (SELECT count(*) FROM d
        |          WHERE o_custkey::DOUBLE
        |                BETWEEN 0.9 * (SELECT max(o_custkey::DOUBLE) FROM d)
        |                    AND (SELECT max(o_custkey::DOUBLE) FROM d))
        |           AS n_rows,
        |         TRUE AS pruned
        |  UNION ALL
        |  SELECT 'days',
        |         (SELECT count(*) FROM d
        |          WHERE o_days::DOUBLE
        |                BETWEEN 0.9 * (SELECT max(o_days::DOUBLE) FROM d)
        |                    AND (SELECT max(o_days::DOUBLE) FROM d)),
        |         TRUE
        |) t ORDER BY dim""".stripMargin,
    // each transition's CDC counts, restated from the source table
    "q131_lake_cdc" ->
      """WITH base AS (SELECT * FROM orders WHERE o_custkey % 4 = 0)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS step,
        |         (SELECT count(*) FROM base WHERE o_custkey % 10 >= 5)
        |           AS n_insert,
        |         CAST(0 AS BIGINT) AS n_update, CAST(0 AS BIGINT) AS n_delete
        |  UNION ALL SELECT 2, 0, 0,
        |         (SELECT count(*) FROM base WHERE o_orderstatus = 'F')
        |  UNION ALL SELECT 3, 0,
        |         (SELECT count(*) FROM base
        |          WHERE o_custkey % 97 = 0 AND o_orderstatus <> 'F'), 0
        |) t ORDER BY step""".stripMargin,
    // final upserted state: every event once, corrections applied
    "q132_stream_upsert" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(SUM(CAST(CASE WHEN event_id % 10 = 0 THEN value + 1000
        |                          ELSE value END AS DECIMAL(18,2)))
        |         AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // compaction preserves data; vacuum retains 2 versions; the kept
    // pre-compaction snapshot (all 5 appends = whole table) time-travels
    "q118_lake_maintenance" ->
      """SELECT o_orderstatus, count(*) AS n,
        |       CAST(2 AS BIGINT) AS n_versions,
        |       true AS files_reduced,
        |       (SELECT count(*) FROM orders) AS prev_version_rows
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // same derivations as q114, through the SQL catalog + VERSION AS OF
    "q117_catalog_sql_read" ->
      """SELECT o_orderpriority, count(*) AS n,
        |       (SELECT count(*) FROM orders
        |        WHERE o_orderdate < '2000-01-01') AS v1_rows
        |FROM orders WHERE o_orderstatus <> 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // latest snapshot = orders minus DELETEd 'F'; v1 = pre-2000 snapshot
    "q114_dsv2_format_read" ->
      """SELECT o_orderstatus, count(*) AS n,
        |       (SELECT count(*) FROM orders
        |        WHERE o_orderdate < '2000-01-01') AS v1_rows
        |FROM orders WHERE o_orderstatus <> 'F'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the four version counts, each restated from the source table
    "q91_lake_versions" ->
      """SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS version_ord,
        |         (SELECT count(*) FROM orders
        |          WHERE o_orderdate < '2000-01-01') AS n_rows
        |  UNION ALL SELECT 2, (SELECT count(*) FROM orders)
        |  UNION ALL SELECT 3, (SELECT count(*) FROM orders
        |                       WHERE o_orderstatus <> 'F')
        |  UNION ALL SELECT 4, (SELECT count(*) FROM orders
        |                       WHERE o_orderstatus <> 'F')
        |                    + (SELECT count(*) FROM orders
        |                       WHERE o_custkey % 97 = 0)
        |) t ORDER BY version_ord""".stripMargin,
    // the streamed table holds each event exactly once; one version
    // per micro-batch (two staged files at maxFilesPerTrigger=1)
    "q110_stream_sink" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |         AS total_value,
        |       CAST(2 AS BIGINT) AS n_versions
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  )
}
