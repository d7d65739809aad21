package graft

import graft.sources.LakeTable
import org.apache.spark.sql.functions._

/** SQL-catalog path of the DSv2 surface ([[graft.sources.GraftLakeCatalog]]):
  * name-based SQL reads, `VERSION AS OF` time travel, table listing, and
  * mutation rejection. Catalog instances are cached per name by Spark,
  * so each test registers its own catalog name against its own
  * warehouse. */
class GraftLakeCatalogSpec extends SparkSpec {

  private def withWarehouse(catalog: String)(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_lake_cat").toString
    spark.conf.set(s"spark.sql.catalog.$catalog",
      "graft.sources.GraftLakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalog.warehouse", dir)
    try f(dir)
    finally graft.util.Tmp.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("SQL reads resolve by name, latest and VERSION AS OF") {
    withWarehouse("lakeA") { wh =>
      val nation = Tables.load(spark, sf, "nation")
      LakeTable.create(spark, s"$wh/nation_t",
        nation.filter(col("n_nationkey") < 10))
      LakeTable.append(spark, s"$wh/nation_t",
        nation.filter(col("n_nationkey") >= 10))
      assert(spark.sql("SELECT count(*) AS n FROM lakeA.nation_t")
        .head().getLong(0) == 25)
      assert(spark.sql(
        "SELECT count(*) AS n FROM lakeA.nation_t VERSION AS OF 1")
        .head().getLong(0) == 10)
      // joins and aggregates through the catalog plan like any table
      val agg = spark.sql(
        """SELECT n_regionkey, count(*) AS n FROM lakeA.nation_t
          |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
      assert(agg.collect().map(_.getLong(1)).sum == 25)
    }
  }

  test("listTables sees exactly the committed tables") {
    withWarehouse("lakeB") { wh =>
      val nation = Tables.load(spark, sf, "nation")
      LakeTable.create(spark, s"$wh/t1", nation)
      LakeTable.create(spark, s"$wh/t2", nation.limit(5))
      // a plain directory without a manifest is not a table
      java.nio.file.Files.createDirectory(java.nio.file.Paths.get(wh, "junk"))
      val cat = spark.sessionState.catalogManager
        .catalog("lakeB").asInstanceOf[graft.sources.GraftLakeCatalog]
      assert(cat.listTables(Array.empty).map(_.name()).toSeq == Seq("t1", "t2"))
      assert(cat.tableExists(
        org.apache.spark.sql.connector.catalog.Identifier.of(
          Array.empty[String], "t1")))
      assert(!cat.tableExists(
        org.apache.spark.sql.connector.catalog.Identifier.of(
          Array.empty[String], "junk")))
    }
  }

  test("DDL and history-rewriting DML through the catalog are rejected") {
    withWarehouse("lakeC") { wh =>
      LakeTable.create(spark, s"$wh/t1", Tables.load(spark, sf, "nation"))
      // (INSERT OVERWRITE is no longer rejected — it commits a new
      // version through overwriteAll; see the dedicated overwrite test)
      intercept[Exception] { spark.sql("DROP TABLE lakeC.t1") }
      // time transforms take DATE sources only — a timestamp key's
      // value would be session-timezone-dependent (X292 refusal)
      intercept[Exception] {
        spark.sql("CREATE TABLE lakeC.t9 (x INT, ts TIMESTAMP) " +
          "PARTITIONED BY (years(ts))")
      }
      // bucket on a non-reproducible key type rejects too
      intercept[Exception] {
        spark.sql(
          "CREATE TABLE lakeC.t8 (x DOUBLE) PARTITIONED BY (bucket(4, x))")
      }
      // a bucket transform now COMPOSES with identity components
      // (X295 — the day × bucket layout); the create commits v1
      spark.sql("CREATE TABLE lakeC.t7 (x INT, y INT) " +
        "PARTITIONED BY (y, bucket(4, x))")
      assert(LakeTable.versions(spark, s"$wh/t7") == Seq(1))
      // nothing committed by the rejected statements
      assert(LakeTable.versions(spark, s"$wh/t1") == Seq(1))
    }
  }

  test("SQL CREATE TABLE PARTITIONED BY: inserts route per value, " +
    "partition filters prune directories") {
    withWarehouse("lakePart") { wh =>
      spark.sql("CREATE TABLE lakePart.pt (id BIGINT, region STRING) " +
        "PARTITIONED BY (region)")
      spark.sql(
        "INSERT INTO lakePart.pt VALUES (1, 'emea'), (2, 'apac'), (3, 'emea')")
      spark.sql("INSERT INTO lakePart.pt VALUES (4, 'amer')")
      // batch 1 split into emea+apac groups, batch 2 one amer group
      assert(LakeTable.dataDirPaths(spark, s"$wh/pt").size == 3)
      assert(LakeTable.selectGroupsEq(spark, s"$wh/pt", "region", "emea")
        .size == 1)
      val df = spark.sql("SELECT id FROM lakePart.pt WHERE region = 'emea'")
      assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
      assert(df.queryExecution.executedPlan.toString
        .contains("InMemoryFileIndex(1 paths)"),
        df.queryExecution.executedPlan.toString.take(500))
      // the declared partition column surfaces through DSv2 metadata
      val pt = spark.sessionState.catalogManager.catalog("lakePart")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
          Array.empty[String], "pt"))
      assert(pt.partitioning().flatMap(_.references()
        .flatMap(_.fieldNames())).toSeq == Seq("region"))
    }
  }

  test("SQL DDL: defaults, CHECK and UNIQUE constraints, rename/drop " +
    "column route to metadata-only commits") {
    withWarehouse("lakeDdl") { wh =>
      import spark.implicits._
      val root = s"$wh/t"
      LakeTable.create(spark, root,
        Seq((1L, 10L, "x", "a"), (2L, 20L, "y", "b"))
          .toDF("id", "cents", "note", "tag"))
      // SET DEFAULT via SQL; an append omitting the column materializes
      spark.sql("ALTER TABLE lakeDdl.t ALTER COLUMN note SET DEFAULT 'none'")
      LakeTable.append(spark, root,
        Seq((3L, 30L, "c")).toDF("id", "cents", "tag"))
      assert(LakeTable.read(spark, root).filter(col("id") === 3L)
        .head().getAs[String]("note") == "none")
      // ADD CONSTRAINT CHECK: violating SQL INSERT refused atomically
      spark.sql(
        "ALTER TABLE lakeDdl.t ADD CONSTRAINT cents_pos CHECK (cents > 0)")
      intercept[Exception] {
        spark.sql("INSERT INTO lakeDdl.t VALUES (5, -1, 'z', 'd')")
      }
      // ADD CONSTRAINT UNIQUE: duplicate key refused, fresh key lands
      spark.sql("ALTER TABLE lakeDdl.t ADD CONSTRAINT uid UNIQUE (id)")
      intercept[Exception] {
        spark.sql("INSERT INTO lakeDdl.t VALUES (1, 50, 'w', 'e')")
      }
      spark.sql("INSERT INTO lakeDdl.t VALUES (5, 50, 'w', 'e')")
      assert(LakeTable.read(spark, root).count() == 4)
      // the committed constraints surface through DSv2 Table metadata
      val tbl = spark.sessionState.catalogManager.catalog("lakeDdl")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
          Array.empty[String], "t"))
      assert(tbl.constraints().map(_.name).sorted.toSeq ==
        Seq("cents_pos", "uid"))
      // DROP CONSTRAINT refused (quality gates only tighten)
      intercept[Exception] {
        spark.sql("ALTER TABLE lakeDdl.t DROP CONSTRAINT cents_pos")
      }
      // RENAME COLUMN via SQL: metadata-only column mapping
      spark.sql("ALTER TABLE lakeDdl.t RENAME COLUMN tag TO label")
      val colsAfterRename = LakeTable.read(spark, root).columns.toSet
      assert(colsAfterRename == Set("id", "cents", "note", "label"),
        colsAfterRename.toString)
      // DROP COLUMN via SQL: metadata-only drop
      spark.sql("ALTER TABLE lakeDdl.t DROP COLUMN label")
      assert(LakeTable.read(spark, root).columns.toSet ==
        Set("id", "cents", "note"))
      // every DDL above was a metadata-only commit: v1 data groups plus
      // the two appends are the only file groups ever written
      assert(LakeTable.dataDirPaths(spark, root).size == 3)
    }
  }

  test("CREATE TABLE and CTAS through the catalog") {
    withWarehouse("lakeI") { wh =>
      spark.sql("CREATE TABLE lakeI.fresh (id BIGINT, name STRING)")
      // empty table reads as zero rows in the declared shape
      val empty = spark.sql("SELECT * FROM lakeI.fresh")
      assert(empty.columns.toSeq == Seq("id", "name") && empty.count() == 0)
      spark.sql("INSERT INTO lakeI.fresh VALUES (1, 'a'), (2, 'b')")
      assert(spark.sql("SELECT count(*) FROM lakeI.fresh").head.getLong(0) == 2)
      // CTAS: create + write in one statement
      spark.sql(
        """CREATE TABLE lakeI.doubled AS
          |SELECT id * 2 AS id2, upper(name) AS nm FROM lakeI.fresh""".stripMargin)
      val ctas = spark.sql("SELECT * FROM lakeI.doubled ORDER BY id2")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(ctas == Seq((2L, "A"), (4L, "B")))
      assert(LakeTable.versions(spark, s"$wh/doubled") == Seq(1, 2))
    }
  }

  test("SQL INSERT INTO appends as a new table version") {
    withWarehouse("lakeE") { wh =>
      val nation = Tables.load(spark, sf, "nation")
      LakeTable.create(spark, s"$wh/t1", nation.filter(col("n_nationkey") < 20))
      spark.sql(
        """INSERT INTO lakeE.t1
          |SELECT * FROM lakeE.t1 WHERE n_nationkey < 3""".stripMargin)
      assert(LakeTable.versions(spark, s"$wh/t1") == Seq(1, 2))
      assert(spark.sql("SELECT count(*) FROM lakeE.t1").head.getLong(0) == 23)
      assert(spark.sql("SELECT count(*) FROM lakeE.t1 VERSION AS OF 1")
        .head.getLong(0) == 20)
    }
  }

  test("SQL UPDATE and MERGE INTO rewrite copy-on-write with history") {
    withWarehouse("lakeF") { wh =>
      import spark.implicits._
      LakeTable.create(spark, s"$wh/t1",
        Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
          .toDF("id", "name", "v"))
      spark.sql("UPDATE lakeF.t1 SET v = v * 2 WHERE id >= 2")
      val afterUpdate = spark.sql("SELECT * FROM lakeF.t1 ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
      // the unmatched row MUST survive: the rewrite's condition is a
      // group filter, not a row filter (see GraftRowLevelOperation)
      assert(afterUpdate == Seq((1L, "a", 10.0), (2L, "b", 40.0), (3L, "c", 60.0)))
      assert(LakeTable.versions(spark, s"$wh/t1") == Seq(1, 2))

      Seq((2L, "b2", 99.0), (4L, "d", 7.0)).toDF("id", "name", "v")
        .createOrReplaceTempView("lakef_updates")
      spark.sql(
        """MERGE INTO lakeF.t1 t USING lakef_updates u ON t.id = u.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val afterMerge = spark.sql("SELECT * FROM lakeF.t1 ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
      assert(afterMerge == Seq((1L, "a", 10.0), (2L, "b2", 99.0),
        (3L, "c", 60.0), (4L, "d", 7.0)))
      // time travel reads the pre-merge snapshot
      assert(spark.sql("SELECT count(*) FROM lakeF.t1 VERSION AS OF 2")
        .head.getLong(0) == 3)
      // a non-pushable DELETE (subquery predicate) takes the rewrite
      // path instead of SupportsDelete's filter path — same answer
      spark.sql(
        """DELETE FROM lakeF.t1 WHERE id IN
          |  (SELECT id FROM lakef_updates WHERE v > 50)""".stripMargin)
      assert(spark.sql("SELECT count(*) FROM lakeF.t1").head.getLong(0) == 3)
      spark.catalog.dropTempView("lakef_updates")
    }
  }

  test("MERGE matched-DELETE and NOT MATCHED BY SOURCE clauses") {
    withWarehouse("lakeG") { wh =>
      import spark.implicits._
      LakeTable.create(spark, s"$wh/t1",
        Seq((1L, "keep", 10.0), (2L, "upd", 20.0), (3L, "del", 30.0),
            (4L, "stale", 40.0))
          .toDF("id", "name", "v"))
      Seq((2L, "upd2", 21.0), (3L, "x", 99.0), (5L, "new", 50.0))
        .toDF("id", "name", "v").createOrReplaceTempView("lakeg_src")
      // clause order: the conditional DELETE must win over the
      // unconditional UPDATE for id=3 (v=99 > 90)
      spark.sql(
        """MERGE INTO lakeG.t1 t USING lakeg_src u ON t.id = u.id
          |WHEN MATCHED AND u.v > 90 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *
          |WHEN NOT MATCHED BY SOURCE AND t.name = 'stale' THEN DELETE
          |""".stripMargin)
      val rows = spark.sql("SELECT * FROM lakeG.t1 ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
      // 1 untouched (unmatched, not 'stale'); 2 updated; 3 deleted by the
      // conditional clause; 4 deleted by NOT MATCHED BY SOURCE; 5 inserted
      assert(rows == Seq((1L, "keep", 10.0), (2L, "upd2", 21.0),
        (5L, "new", 50.0)))
      spark.catalog.dropTempView("lakeg_src")
    }
  }

  test("UPDATE rewrites only the file groups whose stats admit the condition") {
    withWarehouse("lakeJ") { wh =>
      import spark.implicits._
      val root = s"$wh/t1"
      // two groups with disjoint id ranges, stats recorded for pruning
      LakeTable.create(spark, root,
        Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"), statsCols = Seq("id"))
      LakeTable.append(spark, root,
        Seq((100L, 1.0), (200L, 2.0)).toDF("id", "v"), statsCols = Seq("id"))
      val before = LakeTable.dataDirPaths(spark, root).toSet
      assert(before.size == 2)
      spark.sql("UPDATE lakeJ.t1 SET v = v * 10 WHERE id >= 100")
      val after = LakeTable.dataDirPaths(spark, root).toSet
      // the low-id group was pruned by stats and SURVIVES BY NAME; the
      // high-id group was replaced by a fresh dir
      assert(after.size == 2)
      assert((before intersect after).size == 1)
      val rows = spark.sql("SELECT * FROM lakeJ.t1 ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(rows == Seq((1L, 10.0), (2L, 20.0), (100L, 10.0), (200L, 20.0)))
      // a condition stats can't bound (string col absent) reads all
      // groups — still correct, full rewrite
      spark.sql("UPDATE lakeJ.t1 SET v = v + 1 WHERE id % 2 = 0")
      val all = spark.sql("SELECT CAST(sum(v) AS DOUBLE) FROM lakeJ.t1")
        .head.getDouble(0)
      assert(all == 10.0 + 21.0 + 11.0 + 21.0)
    }
  }

  test("ALTER TABLE ADD COLUMNS evolves schema without rewriting data") {
    withWarehouse("lakeH") { wh =>
      import spark.implicits._
      LakeTable.create(spark, s"$wh/t1",
        Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
      spark.sql("ALTER TABLE lakeH.t1 ADD COLUMNS (score DOUBLE, tag STRING)")
      val evolved = spark.sql("SELECT * FROM lakeH.t1 ORDER BY id")
      assert(evolved.columns.toSeq == Seq("id", "name", "score", "tag"))
      assert(evolved.collect().forall(r => r.isNullAt(2) && r.isNullAt(3)))
      // metadata-only commit: one new version, no data rewritten
      assert(LakeTable.versions(spark, s"$wh/t1") == Seq(1, 2))
      // inserts accept the new columns; the evolved schema survives the
      // append commit (carry-forward), old rows stay null
      spark.sql("INSERT INTO lakeH.t1 VALUES (3, 'c', 1.5, 'x')")
      assert(spark.sql(
        "SELECT count(*) FROM lakeH.t1 WHERE score IS NOT NULL")
        .head.getLong(0) == 1)
      assert(spark.sql("SELECT * FROM lakeH.t1").columns.length == 4)
      // time travel below the evolution version keeps the old shape
      assert(spark.sql("SELECT * FROM lakeH.t1 VERSION AS OF 1")
        .columns.toSeq == Seq("id", "name"))
      // history-rewriting retypes still reject (rename/drop now route
      // to metadata-only commits — covered by the SQL DDL test)
      intercept[Exception] {
        spark.sql("ALTER TABLE lakeH.t1 ALTER COLUMN id TYPE STRING") }
    }
  }

  test("TIMESTAMP AS OF resolves to the version committed at or before it") {
    withWarehouse("lakeK") { wh =>
      import spark.implicits._
      LakeTable.create(spark, s"$wh/t1", Seq((1L, "a")).toDF("id", "tag"))
      Thread.sleep(30)
      val betweenMs = System.currentTimeMillis()
      Thread.sleep(30)
      LakeTable.append(spark, s"$wh/t1", Seq((2L, "b")).toDF("id", "tag"))
      val between = java.time.Instant.ofEpochMilli(betweenMs).toString
      assert(spark.sql(
        s"SELECT count(*) FROM lakeK.t1 TIMESTAMP AS OF '$between'")
        .head.getLong(0) == 1)
      // a far-future timestamp reads the latest snapshot
      assert(spark.sql(
        "SELECT count(*) FROM lakeK.t1 TIMESTAMP AS OF '2999-01-01'")
        .head.getLong(0) == 2)
      // a pre-creation timestamp fails fast, naming the first commit
      val ex = intercept[Exception] {
        spark.sql(
          "SELECT * FROM lakeK.t1 TIMESTAMP AS OF '1999-01-01'").collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else String.valueOf(t.getMessage) +: msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("predates")))
    }
  }

  test("CHECK constraints gate the DSv2 row-level write path (UPDATE/MERGE)") {
    withWarehouse("lakeM") { wh =>
      import spark.implicits._
      val root = s"$wh/t1"
      LakeTable.create(spark, root,
        Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "v"))
      LakeTable.addCheckConstraint(spark, root, "positive", "v > 0")
      val vBefore = LakeTable.versions(spark, root).last
      // an UPDATE that would write violating rows is rejected atomically:
      // no new version, no new data files, table content unchanged
      val ex = intercept[Exception] {
        spark.sql("UPDATE lakeM.t1 SET v = v - 100 WHERE id >= 2")
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else String.valueOf(t.getMessage) +: msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("CHECK constraint positive")))
      assert(LakeTable.versions(spark, root).last == vBefore)
      assert(spark.sql("SELECT sum(v) FROM lakeM.t1").head.getDouble(0) == 60.0)
      // MERGE INTO with violating inserts is rejected the same way
      Seq((4L, -5.0)).toDF("id", "v").createOrReplaceTempView("lakem_bad")
      val ex2 = intercept[Exception] {
        spark.sql(
          """MERGE INTO lakeM.t1 t USING lakem_bad u ON t.id = u.id
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
      assert(msgs(ex2).exists(_.contains("CHECK constraint positive")))
      assert(spark.sql("SELECT count(*) FROM lakeM.t1").head.getLong(0) == 3)
      // a conforming UPDATE still commits normally
      spark.sql("UPDATE lakeM.t1 SET v = v + 1 WHERE id >= 2")
      assert(spark.sql("SELECT sum(v) FROM lakeM.t1").head.getDouble(0) == 62.0)
      spark.catalog.dropTempView("lakem_bad")
    }
  }

  test("filtersToBand: refusals before bands — nothing non-band may " +
    "reach the full-overwrite arm") {
    import org.apache.spark.sql.sources._
    import graft.sources.GraftLakeTable.filtersToBand
    def refuses(fs: Filter*): Unit =
      intercept[UnsupportedOperationException] { filtersToBand(fs.toArray) }
    // every shape that must refuse (a fall-through would silently
    // truncate the table)
    refuses(Or(EqualTo("a", 1), EqualTo("a", 2)))
    refuses(Not(EqualTo("a", 1)))
    refuses(In("a", Array(1, 2)))
    refuses(IsNull("a"))
    refuses(IsNotNull("a"))
    refuses(EqualTo("a", 1), EqualTo("b", 1))            // two columns
    refuses(And(EqualTo("a", 1), LessThan("b", 9)))      // two columns
    refuses(EqualTo("a", "july"))                        // non-numeric
    refuses(EqualNullSafe("a", null))
    refuses(StringStartsWith("a", "x"))
    refuses(And(GreaterThan("a", 5), LessThan("a", 5)))  // empty band
    refuses(AlwaysFalse())
    // full-overwrite spellings: ONLY no-predicate / AlwaysTrue
    assert(filtersToBand(Array.empty).isEmpty)
    assert(filtersToBand(Array(AlwaysTrue())).isEmpty)
    // band spellings
    assert(filtersToBand(Array(EqualTo("mk", 199507L)))
      .contains(("mk", 199507.0, 199507.0)))
    // static PARTITION (c=v) specs arrive as EqualNullSafe
    assert(filtersToBand(Array(EqualNullSafe("mk", 199507L)))
      .contains(("mk", 199507.0, 199507.0)))
    assert(filtersToBand(Array(
      GreaterThanOrEqual("mk", 10), LessThanOrEqual("mk", 20)))
      .contains(("mk", 10.0, 20.0)))
    assert(filtersToBand(Array(And(
      GreaterThanOrEqual("mk", 10), LessThanOrEqual("mk", 20))))
      .contains(("mk", 10.0, 20.0)))
    // strict bounds nudge one ULP inward (stay inclusive downstream)
    val Some((_, lo, hi)) =
      filtersToBand(Array(GreaterThan("mk", 10), LessThan("mk", 20)))
    assert(lo > 10.0 && lo <= 10.0000001 && hi < 20.0 && hi >= 19.9999999)
    // intersecting conjunction keeps the tightest band
    assert(filtersToBand(Array(
      GreaterThanOrEqual("mk", 5), GreaterThanOrEqual("mk", 8),
      LessThanOrEqual("mk", 30), LessThanOrEqual("mk", 12)))
      .contains(("mk", 8.0, 12.0)))
  }

  test("INSERT OVERWRITE / writeTo.overwrite: banded replace, full " +
    "truncate, loud refusal, immutable history") {
    withWarehouse("lakeOw") { wh =>
      val nation = Tables.load(spark, sf, "nation")
        .select(col("n_nationkey").as("id"), col("n_regionkey").as("rk"))
      LakeTable.create(spark, s"$wh/t1", nation)
      // non-band predicate refuses BEFORE any write; version pinned
      intercept[Exception] {
        nation.limit(1).writeTo("lakeOw.t1")
          .overwrite(col("id") === 1 || col("rk") === 2)
      }
      assert(LakeTable.versions(spark, s"$wh/t1") == Seq(1))
      // banded overwrite: replace rk=2 rows with one sentinel row
      import spark.implicits._
      Seq((100L, 2L)).toDF("id", "rk").writeTo("lakeOw.t1")
        .overwrite(col("rk") === 2)
      assert(spark.sql(
        "SELECT count(*) FROM lakeOw.t1 WHERE rk = 2").head.getLong(0) == 1)
      val nAfterBand = spark.sql("SELECT count(*) FROM lakeOw.t1")
        .head.getLong(0)
      assert(nAfterBand == 25 - 5 + 1) // 5 nations per region
      // batch leaking outside the band refuses whole
      intercept[Exception] {
        Seq((101L, 2L), (102L, 3L)).toDF("id", "rk")
          .writeTo("lakeOw.t1").overwrite(col("rk") === 2)
      }
      // full truncating overwrite via SQL
      spark.sql("INSERT OVERWRITE lakeOw.t1 VALUES (7, 7), (8, 8)")
      assert(spark.sql("SELECT count(*) FROM lakeOw.t1").head.getLong(0) == 2)
      // history is immutable: both prior versions still serve
      assert(spark.sql("SELECT count(*) FROM lakeOw.t1 VERSION AS OF 1")
        .head.getLong(0) == 25)
      assert(spark.sql("SELECT count(*) FROM lakeOw.t1 VERSION AS OF 2")
        .head.getLong(0) == nAfterBand)
    }
  }

  test("SQL CREATE TABLE PARTITIONED BY (a, b): tuple routing, subset " +
    "pruning, plan-asserted one-directory scan") {
    withWarehouse("lakeMc") { wh =>
      spark.sql("CREATE TABLE lakeMc.pt (id BIGINT, region STRING, " +
        "bucket BIGINT) PARTITIONED BY (region, bucket)")
      spark.sql("INSERT INTO lakeMc.pt VALUES (1, 'emea', 1), " +
        "(2, 'emea', 2), (3, 'apac', 1), (4, 'apac', 1)")
      // one group per (region, bucket) tuple
      assert(LakeTable.dataDirPaths(spark, s"$wh/pt").size == 3)
      // subset pruning: either column alone prunes
      assert(LakeTable.selectGroupsEq(spark, s"$wh/pt", "region", "emea")
        .size == 2)
      assert(LakeTable.selectGroupsEq(spark, s"$wh/pt", "bucket", 1L)
        .size == 2)
      // both columns: the DSv2 scan must open exactly ONE directory
      val df = spark.sql(
        "SELECT id FROM lakeMc.pt WHERE region = 'apac' AND bucket = 1")
      assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))
      assert(df.queryExecution.executedPlan.toString
        .contains("InMemoryFileIndex(1 paths)"),
        df.queryExecution.executedPlan.toString.take(500))
      // declared transforms surface through DSv2 metadata, in order
      val pt = spark.sessionState.catalogManager.catalog("lakeMc")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
          Array.empty[String], "pt"))
      assert(pt.partitioning().flatMap(_.references()
        .flatMap(_.fieldNames())).toSeq == Seq("region", "bucket"))
      // compaction merges within one tuple only: append a second
      // batch (new groups per tuple), compact, and the invariant that
      // every group holds one tuple survives
      spark.sql("INSERT INTO lakeMc.pt VALUES (5, 'apac', 1), " +
        "(6, 'emea', 2)")
      LakeTable.compactSmall(spark, s"$wh/pt", Long.MaxValue)
      val dfAfter = spark.sql(
        "SELECT id FROM lakeMc.pt WHERE region = 'apac' AND bucket = 1")
      assert(dfAfter.collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(3L, 4L, 5L))
      assert(dfAfter.queryExecution.executedPlan.toString
        .contains("InMemoryFileIndex(1 paths)"),
        "post-compaction tuple group no longer prunes to one directory")
    }
  }

  test("maintenance SQL: OPTIMIZE / VACUUM / DESCRIBE HISTORY / RESTORE " +
    "and INSERT INTO … REPLACE WHERE through GraftSqlParser") {
    withWarehouse("lakeMx") { wh =>
      val nation = Tables.load(spark, sf, "nation")
        .select(col("n_nationkey").as("id"), col("n_regionkey").as("rk"))
      LakeTable.create(spark, s"$wh/t1", nation.filter(col("id") < 10))
      spark.sql("INSERT INTO lakeMx.t1 SELECT * FROM lakeMx.t1 WHERE id < 3")
      // REPLACE WHERE: banded overwrite through the parser; the band
      // condition routes to overwriteWhere via filtersToBand
      spark.sql("INSERT INTO lakeMx.t1 REPLACE WHERE rk = 2 " +
        "VALUES (100, 2), (101, 2)")
      assert(spark.sql("SELECT count(*) FROM lakeMx.t1 WHERE rk = 2")
        .head.getLong(0) == 2)
      // non-band REPLACE WHERE refuses, version pinned
      val vBefore = LakeTable.versions(spark, s"$wh/t1").last
      intercept[Exception] {
        spark.sql("INSERT INTO lakeMx.t1 REPLACE WHERE rk = 2 OR id = 1 " +
          "VALUES (102, 2)")
      }
      assert(LakeTable.versions(spark, s"$wh/t1").last == vBefore)
      // OPTIMIZE merges the small groups into one
      val vOpt = spark.sql("OPTIMIZE lakeMx.t1").head.getLong(0)
      assert(vOpt > vBefore)
      assert(LakeTable.dataDirPaths(spark, s"$wh/t1").size == 1)
      // DESCRIBE HISTORY lists every version with its operation
      val hist = spark.sql("DESCRIBE HISTORY lakeMx.t1").collect()
      assert(hist.map(_.getLong(0)).toSeq == (1L to vOpt))
      assert(hist.last.getString(1) == "optimize-small")
      // RESTORE re-references the pre-REPLACE snapshot as a NEW commit
      val vRest =
        spark.sql("RESTORE TABLE lakeMx.t1 TO VERSION AS OF 2").head.getLong(0)
      assert(vRest == vOpt + 1)
      assert(spark.sql("SELECT count(*) FROM lakeMx.t1 WHERE rk = 2")
        .head.getLong(0) > 2) // the original rk=2 nations are back
      // VACUUM requires an explicit retention
      intercept[Exception] { spark.sql("VACUUM lakeMx.t1") }
      spark.sql(s"VACUUM lakeMx.t1 RETAIN 2 VERSIONS")
      assert(LakeTable.versions(spark, s"$wh/t1").size == 2)
      // a non-graft catalog refuses maintenance verbs
      intercept[Exception] { spark.sql("OPTIMIZE spark_catalog.foo") }
      // and ordinary SQL still parses (pure-superset contract)
      assert(spark.sql("SELECT 1 AS optimize").head.getInt(0) == 1)
    }
  }

  test("streaming CDF refusals: pre-enablement rewrites and purge-" +
    "scrubbed sidecars fail loudly, never silently skip") {
    withWarehouse("lakeCdf") { wh =>
      import spark.implicits._
      val root = s"$wh/t1"
      LakeTable.create(spark, root,
        Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v"))
      // a delete BEFORE enablement has no sidecar: the feed must refuse
      // that version, not skip it
      LakeTable.deleteWhere(spark, root, col("id") === 2L)
      LakeTable.enableChangeFeed(spark, root)
      def drain(): Either[Throwable, Seq[(String, Long)]] = {
        val sink = "cdf_sink_" +
          java.util.UUID.randomUUID().toString.replace("-", "").take(8)
        val q = spark.readStream.format("graft-lake-cdf").load(root)
          .groupBy(col("_change_type")).agg(count(lit(1)).as("n"))
          .writeStream.format("memory").queryName(sink)
          .outputMode("complete").start()
        try { q.processAllAvailable()
          Right(spark.table(sink).collect()
            .map(r => (r.getString(0), r.getLong(1))).toSeq) }
        catch { case e: Throwable => Left(e) }
        finally { q.stop(); spark.catalog.dropTempView(sink) }
      }
      drain() match {
        case Left(e) =>
          assert(e.getMessage.contains("without a change sidecar"),
            s"wrong refusal: ${e.getMessage.take(200)}")
        case Right(rows) => fail(s"pre-enablement rewrite streamed: $rows")
      }
      // starting PAST the rewrite, the feed serves: v1 insert is
      // behind startingVersion too, so only post-enablement commits
      LakeTable.append(spark, root, Seq((4L, 40L)).toDF("id", "v"))
      LakeTable.deleteWhere(spark, root, col("id") === 1L)
      val sink2 = "cdf_sink_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      val q2 = spark.readStream.format("graft-lake-cdf")
        .option("startingVersion", 4).load(root)
        .groupBy(col("_change_type")).agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(sink2)
        .outputMode("complete").start()
      try {
        q2.processAllAvailable()
        val got = spark.table(sink2).collect()
          .map(r => (r.getString(0), r.getLong(1))).toMap
        assert(got == Map("insert" -> 1L, "delete" -> 1L), got.toString)
      } finally { q2.stop(); spark.catalog.dropTempView(sink2) }
    }
  }

  test("SQL DELETE commits copy-on-write; time travel keeps history") {
    withWarehouse("lakeD") { wh =>
      LakeTable.create(spark, s"$wh/t1", Tables.load(spark, sf, "nation"))
      spark.sql("DELETE FROM lakeD.t1 WHERE n_nationkey >= 20")
      assert(LakeTable.versions(spark, s"$wh/t1") == Seq(1, 2))
      assert(spark.sql("SELECT count(*) FROM lakeD.t1").head.getLong(0) == 20)
      assert(spark.sql("SELECT count(*) FROM lakeD.t1 VERSION AS OF 1")
        .head.getLong(0) == 25)
      // three-valued semantics match deleteWhere: NULL-predicate rows stay
      spark.sql("DELETE FROM lakeD.t1 WHERE n_name = 'NO_SUCH'")
      assert(spark.sql("SELECT count(*) FROM lakeD.t1").head.getLong(0) == 20)
    }
  }

  test("COPY INTO: idempotent ledger, no-op without commit, mutation " +
      "refusal, carry through OPTIMIZE, FORCE escape") {
    withWarehouse("lakeCP") { wh =>
      val fsys = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val landing = new org.apache.hadoop.fs.Path(wh, "landing")
      fsys.mkdirs(landing)
      def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
        val stage = new org.apache.hadoop.fs.Path(wh, s".st-$name")
        df.coalesce(1).write.parquet(stage.toString)
        val part = fsys.listStatus(stage).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).head
        fsys.rename(part, new org.apache.hadoop.fs.Path(landing, name))
        fsys.delete(stage, true)
      }
      val nation = Tables.load(spark, sf, "nation")
        .select(col("n_nationkey").as("k"), col("n_name").as("v"))
      land(nation.filter(col("k") < 10), "a.parquet")
      land(nation.filter(col("k") >= 10 && col("k") < 20), "b.parquet")
      spark.sql("CREATE TABLE lakeCP.t (k BIGINT, v STRING)")
      def copy(extra: String = ""): org.apache.spark.sql.Row =
        spark.sql(s"COPY INTO lakeCP.t FROM '$landing' " +
          s"FILEFORMAT = PARQUET$extra").head()
      // FILEFORMAT gate refuses at parse, before any table/FS touch
      val fmtEx = intercept[Exception](
        spark.sql(s"COPY INTO lakeCP.t FROM '$landing' FILEFORMAT = CSV"))
      assert(fmtEx.getMessage.contains("PARQUET only"))
      val c1 = copy()
      assert(c1.getLong(0) == 2 && c1.getLong(2) == 20)
      // re-run: nothing new, NO commit — the version must not move
      val c2 = copy()
      assert(c2.getLong(0) == 0 && c2.getLong(1) == 2)
      assert(c2.getLong(3) == c1.getLong(3))
      assert(LakeTable.versions(spark, s"$wh/t") == Seq(1, 2))
      // the ledger survives a compaction commit (copied: auto-carry):
      // after OPTIMIZE rewrites the file groups, a re-copy still skips
      land(nation.filter(col("k") >= 20), "c.parquet")
      assert(copy().getLong(0) == 1)
      spark.sql("OPTIMIZE lakeCP.t")
      val c3 = copy()
      assert(c3.getLong(0) == 0 && c3.getLong(1) == 3,
        "compaction must not re-open loaded files to double-loading")
      // a SAME-SIZE in-place rewrite is still a mutation: the ledger
      // records bytes:mtime, so a touched file refuses even when its
      // byte length is unchanged (size alone would silently skip it)
      val bPath = new org.apache.hadoop.fs.Path(landing, "b.parquet")
      val bMtime = fsys.getFileStatus(bPath).getModificationTime
      fsys.setTimes(bPath, bMtime + 60000L, -1L)
      val exM = intercept[IllegalStateException](copy())
      assert(exM.getMessage.contains("mutated after load"))
      fsys.setTimes(bPath, bMtime, -1L) // restore for the probes below
      // in-place mutation refuses without FORCE (version unmoved) ...
      fsys.delete(new org.apache.hadoop.fs.Path(landing, "a.parquet"), false)
      land(nation.filter(col("k") < 10).unionAll(
        nation.filter(col("k") < 10)), "a.parquet")
      val vBefore = LakeTable.latestVersion(spark, s"$wh/t").get
      val ex = intercept[IllegalStateException](copy())
      assert(ex.getMessage.contains("mutated after load"))
      assert(LakeTable.latestVersion(spark, s"$wh/t").get == vBefore)
      // ... and FORCE reloads every matched file, duplicates included
      // a-new 20 rows + b 10 + c 5 = 35 forced rows on top of the 25
      val cf = copy(" COPY_OPTIONS ('force' = 'true')")
      assert(cf.getLong(0) == 3 && cf.getLong(2) == 35)
      assert(spark.sql("SELECT count(*) FROM lakeCP.t").head.getLong(0)
        == 25 + 35)
      // PATTERN restricts the match set by file name
      val cp = copy(" PATTERN = 'b*.parquet'")
      assert(cp.getLong(0) == 0 && cp.getLong(1) == 1)
    }
  }

  test("CREATE OR REPLACE TABLE: staged atomic redefinition preserves " +
      "history, resets constraints and the COPY ledger") {
    withWarehouse("lakeRP") { wh =>
      val nation = Tables.load(spark, sf, "nation")
        .select(col("n_nationkey").as("k"), col("n_regionkey").as("r"))
      nation.createOrReplaceTempView("lakerp_src")
      spark.sql("CREATE TABLE lakeRP.t AS SELECT k, r FROM lakerp_src")
      spark.sql("ALTER TABLE lakeRP.t ADD CONSTRAINT pos CHECK (r >= 0)")
      assert(spark.sql("SELECT count(*) FROM lakeRP.t").head.getLong(0) == 25)
      // the old CHECK gates the old definition...
      intercept[Exception](
        spark.sql("INSERT INTO lakeRP.t VALUES (99, CAST(-1 AS BIGINT))"))
      // ...and a COPY ledger accumulates
      val landing = new org.apache.hadoop.fs.Path(wh, "landing")
      val fsys = landing.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fsys.mkdirs(landing)
      val stage = new org.apache.hadoop.fs.Path(wh, ".st")
      nation.limit(5).coalesce(1).write.parquet(stage.toString)
      fsys.rename(
        fsys.listStatus(stage).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).head,
        new org.apache.hadoop.fs.Path(landing, "x.parquet"))
      fsys.delete(stage, true)
      assert(spark.sql(s"COPY INTO lakeRP.t FROM '$landing' " +
        "FILEFORMAT = PARQUET").head.getLong(0) == 1)
      val vPre = LakeTable.latestVersion(spark, s"$wh/t").get
      // atomic replace: new schema, next version, history intact
      spark.sql("CREATE OR REPLACE TABLE lakeRP.t AS " +
        "SELECT k, r * 10 AS r10 FROM lakerp_src WHERE k < 5")
      assert(LakeTable.latestVersion(spark, s"$wh/t").get == vPre + 1)
      assert(spark.sql("SELECT count(*) FROM lakeRP.t").head.getLong(0) == 5)
      assert(spark.sql(s"SELECT count(*) FROM lakeRP.t VERSION AS OF $vPre")
        .head.getLong(0) == 30)
      // old CHECK does not bind to the new contract
      spark.sql("INSERT INTO lakeRP.t VALUES (98, CAST(-7 AS BIGINT))")
      // the COPY ledger reset with the contract: no copied: keys
      // survive the replace commit (a re-ingest of the same paths is
      // a fresh decision under the new definition)
      val metaPost = LakeTable.manifestMetaAt(spark, s"$wh/t",
        LakeTable.latestVersion(spark, s"$wh/t").get)
      assert(!metaPost.keys.exists(_.startsWith("copied:")),
        "replace must reset the ingest ledger")
      // REPLACE TABLE on a missing table refuses; OR REPLACE creates
      intercept[Exception](spark.sql(
        "REPLACE TABLE lakeRP.missing AS SELECT k FROM lakerp_src"))
      spark.sql("CREATE OR REPLACE TABLE lakeRP.fresh AS " +
        "SELECT k FROM lakerp_src WHERE k < 3")
      assert(spark.sql("SELECT count(*) FROM lakeRP.fresh")
        .head.getLong(0) == 3)
      // TRUNCATE TABLE keeps the contract the replace just declared:
      // zero rows, same schema, and the pre-truncate snapshot (with
      // the negative probe row) still time-travels
      val vPreTrunc = LakeTable.latestVersion(spark, s"$wh/t").get
      spark.sql("TRUNCATE TABLE lakeRP.t")
      assert(LakeTable.latestVersion(spark, s"$wh/t").get == vPreTrunc + 1)
      assert(spark.sql("SELECT count(*) FROM lakeRP.t").head.getLong(0) == 0)
      assert(spark.sql(
        s"SELECT count(*) FROM lakeRP.t VERSION AS OF $vPreTrunc")
        .head.getLong(0) == 6)
      spark.sql("INSERT INTO lakeRP.t VALUES (1, CAST(11 AS BIGINT))")
      assert(spark.sql("SELECT sum(r10) FROM lakeRP.t").head.getLong(0) == 11)
      // CDF tables feed truncate as delete-everything (stage-then-
      // reference, same rule as overwrite)
      LakeTable.create(spark, s"$wh/cdc_t",
        nation.filter(col("k") < 4))
      LakeTable.enableChangeFeed(spark, s"$wh/cdc_t")
      LakeTable.truncateTable(spark, s"$wh/cdc_t")
      val feed = LakeTable.changes(spark, s"$wh/cdc_t", 2, 3, "k")
      assert(feed.filter(col("_change_type") === "delete").count() == 4)
      assert(feed.count() == 4)
      assert(LakeTable.manifestMetaAt(spark, s"$wh/cdc_t", 3)
        .contains("cdc"), "truncate on a CDF table must stage a sidecar")
      // partitioned replace routes per tuple and prunes by manifest
      spark.sql("CREATE OR REPLACE TABLE lakeRP.t PARTITIONED BY (r) AS " +
        "SELECT k, r FROM lakerp_src")
      val meta = LakeTable.manifestMetaAt(spark, s"$wh/t",
        LakeTable.latestVersion(spark, s"$wh/t").get)
      assert(meta.get("partcol").contains("r"))
      assert(spark.sql("SELECT count(*) FROM lakeRP.t WHERE r = 2")
        .head.getLong(0) ==
        nation.filter(col("r") === 2).count())
      spark.catalog.dropTempView("lakerp_src")
    }
  }

  test("MERGE WITH SCHEMA EVOLUTION: a new source column evolves the " +
    "target mid-merge; without the keyword it refuses at analysis; " +
    "time travel keeps the old shape") {
    withWarehouse("lakeEv") { wh =>
      import spark.implicits._
      val root = s"$wh/t"
      LakeTable.create(spark, root,
        Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v"))
      Seq((2L, 22L, "upd"), (9L, 90L, "new"))
        .toDF("id", "v", "chan").createOrReplaceTempView("ev_src")
      try {
        // without the keyword an EXPLICIT assignment to the unknown
        // column refuses at analysis, nothing committed (a star merge
        // would silently DROP the extra source column — Spark/Delta
        // base semantics — which is why evolution must be opt-in)
        intercept[org.apache.spark.sql.AnalysisException] {
          spark.sql("""MERGE INTO lakeEv.t t USING ev_src u ON t.id = u.id
                      |WHEN MATCHED THEN UPDATE SET t.chan = u.chan"""
            .stripMargin)
        }
        assert(LakeTable.latestVersion(spark, root).contains(1))
        spark.sql(
          """MERGE WITH SCHEMA EVOLUTION INTO lakeEv.t t
            |USING ev_src u ON t.id = u.id
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        // two commits: the metadata-only evolve, then the merge
        assert(LakeTable.history(spark, root).map(_._2) ==
          Seq("create", "add-columns", "merge"))
        val rows = spark.sql(
          "SELECT id, v, chan FROM lakeEv.t ORDER BY id")
          .collect().map(r => (r.getLong(0), r.getLong(1),
            Option(r.getString(2)).getOrElse("-"))).toSeq
        assert(rows == Seq((1L, 10L, "-"), (2L, 22L, "upd"),
          (3L, 30L, "-"), (9L, 90L, "new")))
        // history is immutable: v1 still reads the two-column shape
        assert(spark.sql("SELECT * FROM lakeEv.t VERSION AS OF 1")
          .columns.toSeq == Seq("id", "v"))
      } finally spark.catalog.dropTempView("ev_src")
    }
  }

  test("SQL UPDATE in mor mode: deletion-vector commit, catalog reads " +
    "serve the masked frame, COW refuses until rewrite, default mode " +
    "untouched") {
    withWarehouse("lakeMu") { wh =>
      import spark.implicits._
      val root = s"$wh/t"
      LakeTable.create(spark, root,
        (1L to 100L).map(i => (i, i * 10L)).toDF("id", "v"))
      val dirsBefore = LakeTable.dataDirPaths(spark, root)
      // default mode: UPDATE delegates to Spark's COW row-level plan
      spark.sql("UPDATE lakeMu.t SET v = v + 1 WHERE id = 50")
      assert(LakeTable.history(spark, root).last._2 == "update")
      // mor mode: the parser routes to updateWhereMor
      spark.conf.set("spark.graft.update.mode", "mor")
      try {
        val v = spark.sql(
          "UPDATE lakeMu.t SET v = v * 2 WHERE id <= 3").head().getLong(0)
        assert(LakeTable.history(spark, root).last._2 == "update-mor")
        // COW rewrote its group in v2; the MOR commit only ADDED one
        val dirsAfter = LakeTable.dataDirPaths(spark, root)
        assert(LakeTable.dataDirPaths(spark, root, Some(v.toInt - 1))
          .forall(d => dirsAfter.contains(d)))
        // the catalog read serves the MASKED frame (GraftDvScan) …
        assert(spark.sql(
          "SELECT sum(v) FROM lakeMu.t WHERE id <= 3").head().getLong(0)
          == (10L + 20L + 30L) * 2)
        assert(spark.sql("SELECT count(*) FROM lakeMu.t")
          .head().getLong(0) == 100)
        // … and time travel serves each version's own state
        assert(spark.sql(
          s"SELECT sum(v) FROM lakeMu.t VERSION AS OF ${v - 1} " +
            "WHERE id <= 3").head().getLong(0) == 60L)
        // stacked mor updates compose (the second masks the first's
        // replacement rows)
        spark.sql("UPDATE lakeMu.t SET v = v + 5 WHERE id = 1")
        assert(spark.sql("SELECT v FROM lakeMu.t WHERE id = 1")
          .head().getLong(0) == 25L)
        // a non-graft UPDATE still parses through Spark (pure superset)
        intercept[Exception] {
          spark.sql("UPDATE spark_catalog.nope SET x = 1") }
      } finally spark.conf.unset("spark.graft.update.mode")
      // back in default mode a COW UPDATE on the dv table refuses
      // (no row-level ops on a dv snapshot until rewrite)
      val e = intercept[Exception] {
        spark.sql("UPDATE lakeMu.t SET v = 0 WHERE id = 2")
      }
      assert(e.getMessage != null && (
          e.getMessage.toLowerCase.contains("update") ||
          e.getMessage.toLowerCase.contains("row-level")),
        s"unexpected refusal: ${e.getClass.getName}: ${e.getMessage}")
      LakeTable.rewriteDeletes(spark, root)
      spark.sql("UPDATE lakeMu.t SET v = 0 WHERE id = 2")
      assert(spark.sql("SELECT v FROM lakeMu.t WHERE id = 2")
        .head().getLong(0) == 0L)
    }
  }

  test("mor UPDATE parser hardening: a backslash-escaped quote never " +
    "mis-splits the WHERE boundary and a backticked dotted column is " +
    "ONE literal target, not a qualifier") {
    withWarehouse("lakeEsc") { wh =>
      import spark.implicits._
      val root = s"$wh/t"
      LakeTable.create(spark, root,
        Seq((1L, "x", 0L), (2L, "y", 0L)).toDF("id", "s", "a.b"))
      spark.conf.set("spark.graft.update.mode", "mor")
      try {
        // the \' inside the literal must not close it — the embedded
        // WHERE belongs to the SET expression, the trailing one splits
        spark.sql(
          "UPDATE lakeEsc.t SET s = 'it\\'s a WHERE trap' WHERE id = 1")
        assert(LakeTable.history(spark, root).last._2 == "update-mor")
        assert(spark.sql("SELECT s FROM lakeEsc.t WHERE id = 1")
          .head().getString(0) == "it's a WHERE trap")
        assert(spark.sql("SELECT s FROM lakeEsc.t WHERE id = 2")
          .head().getString(0) == "y")
        // `a.b` is a column literally named a.b — not qualifier 'a'
        spark.sql("UPDATE lakeEsc.t SET `a.b` = 7 WHERE id = 2")
        val ab = LakeTable.read(spark, root)
          .select(col("id"), col("`a.b`").as("ab"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(ab == Map(1L -> 0L, 2L -> 7L), ab.toString)
        // a foreign qualifier still refuses by name
        val e = intercept[Exception] {
          spark.sql("UPDATE lakeEsc.t SET other.s = 'z' WHERE id = 1") }
        assert(e.getMessage.contains("qualifier"), e.getMessage)
      } finally spark.conf.unset("spark.graft.update.mode")
    }
  }

  test("CONVERT TO LAKE and OPTIMIZE WHERE refusals: empty dirs, " +
    "unpartitioned tables, and existing tables all fail loudly") {
    withWarehouse("lakeCv") { wh =>
      import spark.implicits._
      // converting an empty/parquet-less dir refuses
      val empty = java.nio.file.Files
        .createTempDirectory("graft_cv_empty").toString
      val e1 = intercept[IllegalArgumentException] {
        spark.sql(s"CONVERT TO LAKE lakeCv.t FROM '$empty'")
      }
      assert(e1.getMessage.contains("no parquet files"), e1.getMessage)
      assert(LakeTable.latestVersion(spark, s"$wh/t").isEmpty)
      // convert, then OPTIMIZE WHERE on the (unpartitioned) result
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(s"$empty/p")
      spark.sql(s"CONVERT TO LAKE lakeCv.t FROM '$empty/p'")
      assert(spark.sql("SELECT count(*) FROM lakeCv.t")
        .head().getLong(0) == 2)
      val e2 = intercept[IllegalArgumentException] {
        spark.sql("OPTIMIZE lakeCv.t WHERE id = 1")
      }
      assert(e2.getMessage.contains("not a partition column"),
        e2.getMessage)
      // second convert refuses, version pinned
      intercept[IllegalArgumentException] {
        spark.sql(s"CONVERT TO LAKE lakeCv.t FROM '$empty/p'")
      }
      assert(LakeTable.latestVersion(spark, s"$wh/t").contains(1))
      graft.util.Tmp.deleteRecursively(java.nio.file.Paths.get(empty))
    }
  }

  test("time-based maintenance SQL: RESTORE TIMESTAMP AS OF resolves " +
    "by commit time; VACUUM RETAIN n HOURS drops only stale versions " +
    "and never the latest") {
    withWarehouse("lakeTm") { wh =>
      import spark.implicits._
      val root = s"$wh/t"
      LakeTable.create(spark, root, Seq((1L, "a")).toDF("id", "s"))
      LakeTable.append(spark, root, Seq((2L, "b")).toDF("id", "s"))
      LakeTable.append(spark, root, Seq((3L, "c")).toDF("id", "s"))
      val fsys = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def manifest(v: Int) = new org.apache.hadoop.fs.Path(
        s"$root/_versions", f"v$v%08d.json")
      val now = System.currentTimeMillis()
      fsys.setTimes(manifest(1), now - 3L * 3600 * 1000, -1)
      fsys.setTimes(manifest(2), now - 2L * 3600 * 1000, -1)
      // timestamp between v2 and v3 resolves to v2
      val ts = new java.sql.Timestamp(now - 3600L * 1000).toString
      val r = spark.sql(
        s"RESTORE TABLE lakeTm.t TO TIMESTAMP AS OF '$ts'").head()
      assert(r.getLong(1) == 2L, "wrong restore target")
      assert(r.getLong(0) == 4L)
      assert(spark.sql("SELECT count(*) FROM lakeTm.t").head.getLong(0) == 2)
      // a timestamp predating the table refuses with the range
      val e = intercept[Exception] {
        spark.sql("RESTORE TABLE lakeTm.t TO TIMESTAMP AS OF '1999-01-01'")
      }
      assert(e.getMessage.contains("predates"), e.getMessage)
      // unparseable timestamp refuses loudly
      intercept[IllegalArgumentException] {
        spark.sql("RESTORE TABLE lakeTm.t TO TIMESTAMP AS OF 'not-a-time'")
      }
      // RETAIN 1 HOURS keeps v3 + the fresh restore commit only — but
      // v2's data groups survive because the restore references them
      spark.sql("VACUUM lakeTm.t RETAIN 1 HOURS")
      assert(LakeTable.versions(spark, root) == Seq(3, 4))
      assert(spark.sql("SELECT count(*) FROM lakeTm.t").head.getLong(0) == 2)
      // a fully-stale table still keeps its latest version
      fsys.setTimes(manifest(3), now - 3L * 3600 * 1000, -1)
      fsys.setTimes(manifest(4), now - 3L * 3600 * 1000, -1)
      spark.sql("VACUUM lakeTm.t RETAIN 1 HOURS")
      assert(LakeTable.versions(spark, root) == Seq(4))
      assert(spark.sql("SELECT count(*) FROM lakeTm.t").head.getLong(0) == 2)
    }
  }

  test("RETAIN n HOURS keeps a true version SUFFIX under non-monotone " +
    "mtimes (clock skew / restored backups)") {
    withWarehouse("lakeSk") { wh =>
      import spark.implicits._
      val root = s"$wh/t"
      LakeTable.create(spark, root, Seq((1L, "a")).toDF("id", "s"))
      LakeTable.append(spark, root, Seq((2L, "b")).toDF("id", "s"))
      LakeTable.append(spark, root, Seq((3L, "c")).toDF("id", "s"))
      val fsys = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def manifest(v: Int) = new org.apache.hadoop.fs.Path(
        s"$root/_versions", f"v$v%08d.json")
      val now = System.currentTimeMillis()
      // NON-monotone: v1 looks fresh (backup restored with a new
      // mtime), v2 is stale, v3 is fresh. Counting matches would keep
      // 2 versions — v2 (stale, inside the kept suffix) and v3 — while
      // believing it kept v1; the suffix scan stops at v2 and keeps
      // exactly v3.
      fsys.setTimes(manifest(1), now, -1)
      fsys.setTimes(manifest(2), now - 3L * 3600 * 1000, -1)
      fsys.setTimes(manifest(3), now, -1)
      spark.sql("VACUUM lakeSk.t RETAIN 1 HOURS")
      assert(LakeTable.versions(spark, root) == Seq(3))
      assert(spark.sql("SELECT count(*) FROM lakeSk.t").head.getLong(0) == 3)
    }
  }

  test("mor UPDATE parsing: WHERE inside a string literal or parens " +
    "is not the clause boundary; table-qualified SET targets resolve; " +
    "foreign qualifiers refuse") {
    withWarehouse("lakePq") { wh =>
      import spark.implicits._
      val root = s"$wh/t"
      LakeTable.create(spark, root,
        (1L to 10L).map(i => (i, i * 10L, "x")).toDF("id", "v", "s"))
      spark.conf.set("spark.graft.update.mode", "mor")
      try {
        // a ' WHERE ' inside the SET string literal must not split
        spark.sql(
          "UPDATE lakePq.t SET s = 'a WHERE b', v = v + 1 WHERE id = 1")
        assert(LakeTable.history(spark, root).last._2 == "update-mor")
        val r1 = spark.sql(
          "SELECT v, s FROM lakePq.t WHERE id = 1").head()
        assert(r1.getLong(0) == 11L && r1.getString(1) == "a WHERE b")
        assert(spark.sql(
          "SELECT count(*) FROM lakePq.t WHERE s = 'x'")
          .head().getLong(0) == 9)
        // WHERE inside a parenthesized subexpression stays in the SET
        spark.sql(
          "UPDATE lakePq.t SET s = (CASE WHEN id = 2 THEN 'two' " +
            "ELSE s END) WHERE id <= 3")
        assert(spark.sql("SELECT s FROM lakePq.t WHERE id = 2")
          .head().getString(0) == "two")
        assert(spark.sql("SELECT count(*) FROM lakePq.t WHERE s = 'x'")
          .head().getLong(0) == 8)
        // table-qualified assignment target (plain Spark accepts it)
        spark.sql("UPDATE lakePq.t SET t.v = 777 WHERE id = 4")
        assert(spark.sql("SELECT v FROM lakePq.t WHERE id = 4")
          .head().getLong(0) == 777L)
        // a qualifier that is NOT the target table refuses by name
        val e = intercept[IllegalArgumentException] {
          spark.sql("UPDATE lakePq.t SET other.v = 1 WHERE id = 5")
        }
        assert(e.getMessage.contains("does not name the target table"),
          e.getMessage)
        // bare UPDATE with no WHERE still parses (all rows)
        spark.sql("UPDATE lakePq.t SET v = v + 1000000")
        assert(spark.sql("SELECT count(*) FROM lakePq.t WHERE v > 1000000")
          .head().getLong(0) == 10)
      } finally spark.conf.unset("spark.graft.update.mode")
    }
  }

  test("SQL MERGE in mor mode: the canonical upsert routes to mergeMor " +
    "(one sidecar + one group, zero pre-existing groups rewritten); " +
    "other clause shapes take the DELTA row-level path and stack; " +
    "COW mode untouched") {
    withWarehouse("lakeMm") { wh =>
      import spark.implicits._
      val root = s"$wh/t"
      LakeTable.createClustered(spark, root,
        (1L to 100L).map(i => (i, i * 10L)).toDF("id", "v"),
        "id", numGroups = 4, statsCols = Seq("id"))
      Seq((5L, 555L), (200L, 2000L)).toDF("id", "v")
        .createOrReplaceTempView("mm_src")
      try {
        // default (COW) mode first: MERGE takes Spark's row-level plan
        spark.sql("MERGE INTO lakeMm.t AS t USING mm_src AS s " +
          "ON t.id = s.id WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *")
        assert(LakeTable.history(spark, root).last._2 == "merge")
        assert(spark.sql("SELECT v FROM lakeMm.t WHERE id = 5")
          .head().getLong(0) == 555L)
        assert(spark.sql("SELECT count(*) FROM lakeMm.t")
          .head().getLong(0) == 101)
        // mor mode: the SAME statement (values shifted) commits one
        // sidecar + one appended group; every pre-existing group
        // carries by name
        Seq((6L, 666L), (300L, 3000L)).toDF("id", "v")
          .createOrReplaceTempView("mm_src2")
        spark.conf.set("spark.graft.update.mode", "mor")
        try {
          val dirsBefore = LakeTable.dataDirPaths(spark, root)
          spark.sql("MERGE INTO lakeMm.t AS t USING mm_src2 AS s " +
            "ON t.id = s.id WHEN MATCHED THEN UPDATE SET * " +
            "WHEN NOT MATCHED THEN INSERT *")
          assert(LakeTable.history(spark, root).last._2 == "merge-mor")
          val dirsAfter = LakeTable.dataDirPaths(spark, root)
          assert(dirsBefore.forall(dirsAfter.contains) &&
            dirsAfter.size == dirsBefore.size + 1,
            s"expected exactly one appended group: $dirsBefore -> $dirsAfter")
          assert(spark.sql("SELECT v FROM lakeMm.t WHERE id = 6")
            .head().getLong(0) == 666L)
          assert(spark.sql("SELECT v FROM lakeMm.t WHERE id = 300")
            .head().getLong(0) == 3000L)
          assert(spark.sql("SELECT count(*) FROM lakeMm.t")
            .head().getLong(0) == 102)
          // a source missing target columns refuses loudly before any
          // byte lands
          Seq((1L, 1L, "x")).toDF("id", "v", "extra")
            .createOrReplaceTempView("mm_bad")
          val vBefore = LakeTable.versions(spark, root).last
          val e = intercept[Exception] {
            spark.sql("MERGE INTO lakeMm.t USING mm_bad ON id = id " +
              "WHEN MATCHED THEN UPDATE SET * " +
              "WHEN NOT MATCHED THEN INSERT *")
          }
          assert(e.getMessage != null &&
            e.getMessage.contains("exactly the target's columns"),
            s"${e.getClass.getName}: ${e.getMessage}")
          assert(LakeTable.versions(spark, root).last == vBefore)
          // a NON-canonical clause shape falls through to Spark's
          // row-level plan, which in mor mode is the DELTA operation —
          // it STACKS another dv commit on the snapshot (pre-r15 this
          // refused; GraftDeltaOperation serves it now)
          spark.sql("MERGE INTO lakeMm.t AS t USING mm_src2 AS s " +
            "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v + 1")
          assert(LakeTable.versions(spark, root).last == vBefore + 1)
          assert(LakeTable.history(spark, root).last._2 == "merge-mor")
          assert(spark.sql("SELECT v FROM lakeMm.t WHERE id = 6")
            .head().getLong(0) == 667L)
          assert(spark.sql("SELECT count(*) FROM lakeMm.t")
            .head().getLong(0) == 102)
        } finally spark.conf.unset("spark.graft.update.mode")
        // after rewrite, COW MERGE works again in default mode
        LakeTable.rewriteDeletes(spark, root)
        spark.sql("MERGE INTO lakeMm.t AS t USING mm_src AS s " +
          "ON t.id = s.id WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *")
        assert(LakeTable.history(spark, root).last._2 == "merge")
        assert(spark.sql("SELECT count(*) FROM lakeMm.t")
          .head().getLong(0) == 102)
      } finally {
        spark.catalog.dropTempView("mm_src")
        spark.catalog.dropTempView("mm_src2")
        spark.catalog.dropTempView("mm_bad")
      }
    }
  }

  test("OPTIMIZE WHERE with AND pins: only groups matching EVERY pin " +
    "compact; a pin on a non-partition column refuses") {
    withWarehouse("lakeMp") { wh =>
      import spark.implicits._
      val root = s"$wh/t"
      val mk = (tag: Long) => Seq((1995L, 3L, tag), (1995L, 1L, tag + 10),
        (1996L, 3L, tag + 20)).toDF("yk", "q", "v")
      LakeTable.createEmpty(spark, root, mk(0).schema, Seq("yk", "q"))
      LakeTable.append(spark, root, mk(1))  // 3 tuples × 1 group
      LakeTable.append(spark, root, mk(2))  // each tuple now 2 groups
      val before = LakeTable.dataDirPaths(spark, root)
      assert(before.size == 6)
      spark.sql("OPTIMIZE lakeMp.t WHERE yk = 1995 AND q = 3 " +
        "MIN BYTES 1000000000")
      val after = LakeTable.dataDirPaths(spark, root)
      // only (1995,3)'s two groups merged; the other four carried
      assert(after.size == 5, s"$before -> $after")
      assert(before.count(after.contains) == 4)
      assert(spark.sql("SELECT count(*) FROM lakeMp.t").head.getLong(0)
        == 6)
      assert(spark.sql(
        "SELECT sum(v) FROM lakeMp.t WHERE yk = 1995 AND q = 3")
        .head.getLong(0) == 3)
      val e = intercept[IllegalArgumentException] {
        spark.sql("OPTIMIZE lakeMp.t WHERE yk = 1995 AND v = 1 " +
          "MIN BYTES 1000000000")
      }
      assert(e.getMessage.contains("not a partition column"), e.getMessage)
    }
  }

  test("dv catalog scans PRUNE: a point probe on a deletion-vector " +
    "snapshot opens only stats-admitted groups, masked rows never " +
    "resurface, time travel and stacking intact") {
    withWarehouse("lakeDp") { wh =>
      import spark.implicits._
      val root = s"$wh/t"
      // 100 rows clustered into 4 groups by id, with min/max stats
      LakeTable.createClustered(spark, root,
        (1L to 100L).map(i => (i, i * 10L)).toDF("id", "v"),
        "id", numGroups = 4, statsCols = Seq("id"))
      spark.conf.set("spark.graft.update.mode", "mor")
      try spark.sql("UPDATE lakeDp.t SET v = v + 1 WHERE id = 5")
      finally spark.conf.unset("spark.graft.update.mode")
      assert(LakeTable.history(spark, root).last._2 == "update-mor")
      def prune(): (Int, Int) = {
        val p = graft.sources.GraftDvScan.lastPrune
        graft.sources.GraftDvScan.lastPrune = None
        p.getOrElse(fail("catalog read did not route through GraftDvScan"))
      }
      // point probe on an UNTOUCHED key: its clustered group + the
      // stats-less replacement group are admitted; the other 3 prune
      val r80 = spark.sql("SELECT v FROM lakeDp.t WHERE id = 80").head()
      assert(r80.getLong(0) == 800L)
      val (kept80, total80) = prune()
      assert(total80 == 5, s"expected 4 clustered + 1 replacement groups, got $total80")
      assert(kept80 == 2, s"point probe should scan 2 of 5 groups, got $kept80")
      // point probe on the UPDATED key: masked original never
      // resurfaces; the replacement row serves
      val r5 = spark.sql("SELECT v FROM lakeDp.t WHERE id = 5").collect()
      assert(r5.map(_.getLong(0)).toSeq == Seq(51L))
      assert(prune()._1 == 2)
      // unfiltered aggregate still reads everything, masked
      assert(spark.sql("SELECT count(*), sum(v) FROM lakeDp.t").head()
        .getLong(0) == 100)
      assert(prune() == ((5, 5)))
      // a probe outside every range keeps only the stats-less group
      assert(spark.sql("SELECT count(*) FROM lakeDp.t WHERE id = -1")
        .head().getLong(0) == 0)
      assert(prune()._1 == 1)
      // time travel: the pre-update snapshot has 4 groups, no dv — it
      // takes the NORMAL indexed delegate (no GraftDvScan involved)
      assert(spark.sql(
        "SELECT v FROM lakeDp.t VERSION AS OF 1 WHERE id = 5")
        .head().getLong(0) == 50L)
      assert(graft.sources.GraftDvScan.lastPrune.isEmpty)
      // stacked update: the second masks the first's replacement row
      spark.conf.set("spark.graft.update.mode", "mor")
      try spark.sql("UPDATE lakeDp.t SET v = v + 100 WHERE id = 5")
      finally spark.conf.unset("spark.graft.update.mode")
      assert(spark.sql("SELECT v FROM lakeDp.t WHERE id = 5").collect()
        .map(_.getLong(0)).toSeq == Seq(151L))
      assert(spark.sql("SELECT count(*) FROM lakeDp.t")
        .head().getLong(0) == 100)
    }
  }

  test("a small dimension that took a MOR update still BROADCASTS in " +
    "joins via AQE runtime conversion (no silent join-strategy " +
    "regression until rewrite)") {
    withWarehouse("lakeDb") { wh =>
      import spark.implicits._
      val dimRoot = s"$wh/dim"
      LakeTable.create(spark, dimRoot,
        (1L to 50L).map(i => (i, s"name$i")).toDF("id", "nm"))
      spark.conf.set("spark.graft.update.mode", "mor")
      try spark.sql("UPDATE lakeDb.dim SET nm = 'changed' WHERE id = 7")
      finally spark.conf.unset("spark.graft.update.mode")
      // a fact side too big to broadcast (Range size estimate ≫ the
      // 10 MB threshold), so the broadcast side must be the dv dim
      val fact = spark.range(2000000L)
        .select((col("id") % 50 + 1).as("id"), col("id").as("v"))
      fact.createOrReplaceTempView("db_fact")
      try {
        val j = spark.sql(
          "SELECT count(*) AS n, count(DISTINCT d.nm) AS d " +
            "FROM db_fact f JOIN lakeDb.dim d ON f.id = d.id")
        val row = j.collect().head // collect() drives THIS queryExecution
        assert(row.getLong(0) == 2000000L && row.getLong(1) == 50L)
        val inner = j.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        // descend into query stages (their plans are members, not
        // children, so a plain collect misses them)
        def hasBroadcast(p: org.apache.spark.sql.execution.SparkPlan)
            : Boolean = p match {
          case _: org.apache.spark.sql.execution.joins
            .BroadcastHashJoinExec => true
          case q: org.apache.spark.sql.execution.adaptive
            .QueryStageExec => hasBroadcast(q.plan)
          case other => other.children.exists(hasBroadcast)
        }
        def hasSmj(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
          p match {
            case _: org.apache.spark.sql.execution.joins
              .SortMergeJoinExec => true
            case q: org.apache.spark.sql.execution.adaptive
              .QueryStageExec => hasSmj(q.plan)
            case other => other.children.exists(hasSmj)
          }
        assert(hasBroadcast(inner) && !hasSmj(inner),
          s"expected AQE to broadcast the dv dim, plan:\n$inner")
        // the masked value serves through the join
        val probe = spark.sql(
          "SELECT d.nm FROM db_fact f JOIN lakeDb.dim d ON f.id = d.id " +
            "WHERE f.id = 7 LIMIT 1").head()
        assert(probe.getString(0) == "changed")
      } finally spark.catalog.dropTempView("db_fact")
    }
  }

  test("a dv dim reports NATIVE statistics: the STATIC planner " +
    "broadcasts it with AQE disabled (the V1-bridge era pinned the " +
    "opposite), and the masked row serves through the join") {
    withWarehouse("lakeSb") { wh =>
      import spark.implicits._
      val dimRoot = s"$wh/dim"
      LakeTable.create(spark, dimRoot,
        (1L to 50L).map(i => (i, s"name$i")).toDF("id", "nm"))
      spark.conf.set("spark.graft.update.mode", "mor")
      try spark.sql("UPDATE lakeSb.dim SET nm = 'changed' WHERE id = 7")
      finally spark.conf.unset("spark.graft.update.mode")
      val fact = spark.range(2000000L)
        .select((col("id") % 50 + 1).as("id"), col("id").as("v"))
      fact.createOrReplaceTempView("sb_fact")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val j = spark.sql(
          "SELECT count(*) AS n, count(DISTINCT d.nm) AS d " +
            "FROM sb_fact f JOIN lakeSb.dim d ON f.id = d.id")
        val row = j.collect().head
        assert(row.getLong(0) == 2000000L && row.getLong(1) == 50L)
        val plan = j.queryExecution.executedPlan
        // AQE off: the broadcast MUST be the static planner's choice
        assert(plan.collectFirst { case _: org.apache.spark.sql.execution
          .adaptive.AdaptiveSparkPlanExec => () }.isEmpty)
        assert(plan.collectFirst { case b: org.apache.spark.sql.execution
          .joins.BroadcastHashJoinExec => b }.isDefined &&
          plan.collectFirst { case s: org.apache.spark.sql.execution
            .joins.SortMergeJoinExec => s }.isEmpty,
          s"expected a STATIC BroadcastHashJoin on the dv dim:\n$plan")
        // the scan is the native Batch (statistics can only come from it)
        assert(plan.toString.contains("GraftDvBatchScan"), plan.toString)
        val probe = spark.sql(
          "SELECT d.nm FROM sb_fact f JOIN lakeSb.dim d ON f.id = d.id " +
            "WHERE f.id = 7 LIMIT 1").head()
        assert(probe.getString(0) == "changed")
      } finally {
        spark.conf.unset("spark.sql.adaptive.enabled")
        spark.catalog.dropTempView("sb_fact")
      }
      // an ALTER-declared schema reads through the native batch: the
      // added column is absent from every file and reads as typed nulls
      LakeTable.evolveSchema(spark, dimRoot,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("note",
            org.apache.spark.sql.types.StringType))))
      val again = spark.sql("SELECT count(*), count(note) FROM lakeSb.dim")
      val r2 = again.head()
      assert(r2.getLong(0) == 50L && r2.getLong(1) == 0L)
      assert(again.queryExecution.executedPlan.toString
        .contains("GraftDvBatchScan"),
        "declared-schema snapshots must take the native batch")
    }
  }

  test("delta row-level ops: the FULL MERGE clause surface lands as " +
    "ONE deletion-vector commit in mor mode, stacks on existing dv " +
    "state, and rewriteDeletes preserves the result") {
    withWarehouse("lakeDl") { wh =>
      import spark.implicits._
      val root = s"$wh/t"
      LakeTable.create(spark, root,
        (1L to 100L).map(i =>
          (i, i * 10L, if (i % 2 == 0) "P" else "F")).toDF("id", "v", "st"))
      spark.conf.set("spark.graft.update.mode", "mor")
      try {
        // seed dv state via the parser-level canonical path (v2)
        spark.sql("UPDATE lakeDl.t SET v = v + 1 WHERE id = 50")
        val dirsBefore = LakeTable.dataDirPaths(spark, root)
        val dvBefore = LakeTable.manifestMetaAt(spark, root,
          LakeTable.versions(spark, root).last)
          .get("dv").map(_.split(",").length).getOrElse(0)
        // non-canonical clause matrix: falls through the parser to
        // Spark's row-level MERGE plan → the DELTA operation
        ((1L to 80L) ++ (101L to 110L)).map(i => (i, i * 1000L))
          .toDF("id", "nv").createOrReplaceTempView("dl_src")
        spark.sql(
          """MERGE INTO lakeDl.t t USING dl_src s ON t.id = s.id
            |WHEN MATCHED AND t.id <= 10 THEN DELETE
            |WHEN MATCHED AND t.id <= 30 THEN UPDATE SET v = s.nv
            |WHEN NOT MATCHED THEN INSERT (id, v, st)
            |  VALUES (s.id, s.nv, 'N')
            |WHEN NOT MATCHED BY SOURCE AND t.st = 'P' THEN DELETE
            |""".stripMargin)
        val vAfter = LakeTable.versions(spark, root).last
        assert(LakeTable.history(spark, root).last._2 == "merge-mor")
        // every pre-existing file untouched, exactly one group added
        val dirsAfter = LakeTable.dataDirPaths(spark, root)
        assert(dirsBefore.forall(dirsAfter.contains) &&
          dirsAfter.size == dirsBefore.size + 1,
          s"expected one added group: $dirsBefore -> $dirsAfter")
        val dvAfter = LakeTable.manifestMetaAt(spark, root, vAfter)
          .get("dv").map(_.split(",").length).getOrElse(0)
        assert(dvAfter == dvBefore + 1, s"dv $dvBefore -> $dvAfter")
        // semantics: deletes 1..10, updates 11..30 to 1000·id, keeps
        // 31..100 (id 50 carries v2's +1) minus evens 82..100 (st='P'
        // not-matched-by-source deletes), inserts 101..110
        val got = spark.sql("SELECT id, v FROM lakeDl.t").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got.size == 90, s"rows ${got.size}")
        assert(!got.contains(1L) && !got.contains(10L))
        assert(got(11L) == 11000L && got(30L) == 30000L)
        assert(got(31L) == 310L && got(50L) == 501L)
        assert(!got.contains(82L) && !got.contains(100L) &&
          got.contains(81L) && got(81L) == 810L)
        assert(got(101L) == 101000L && got(110L) == 110000L)
        assert(spark.sql(
          "SELECT count(*) FROM lakeDl.t WHERE st = 'N'")
          .head().getLong(0) == 10L)
        // time travel serves the pre-merge snapshot
        assert(spark.sql(
          s"SELECT count(*) FROM lakeDl.t VERSION AS OF ${vAfter - 1}")
          .head().getLong(0) == 100L)
        // materialization preserves the result exactly
        LakeTable.rewriteDeletes(spark, root)
        val after = spark.sql("SELECT id, v FROM lakeDl.t").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(after == got)
      } finally {
        spark.conf.unset("spark.graft.update.mode")
        spark.catalog.dropTempView("dl_src")
      }
    }
  }

  test("a SQL-created (CREATE TABLE) dv table takes the NATIVE batch — " +
    "the creation-declared schema is not an ALTER override") {
    withWarehouse("lakeNs") { wh =>
      spark.sql("CREATE TABLE lakeNs.d (id BIGINT, nm STRING)")
      spark.sql("INSERT INTO lakeNs.d SELECT id + 1, concat('n', id) " +
        "FROM range(50)")
      spark.conf.set("spark.graft.update.mode", "mor")
      try spark.sql("UPDATE lakeNs.d SET nm = 'x' WHERE id = 7")
      finally spark.conf.unset("spark.graft.update.mode")
      val q = spark.sql("SELECT count(*), count(DISTINCT nm) FROM lakeNs.d")
      val r = q.head()
      assert(r.getLong(0) == 50L && r.getLong(1) == 50L)
      assert(q.queryExecution.executedPlan.toString
        .contains("GraftDvBatchScan"),
        "SQL-created dv tables must take the native batch, not the " +
          "V1 bridge:\n" + q.queryExecution.executedPlan)
      // an ALTER-extended schema reads through the native batch too
      LakeTable.evolveSchema(spark, s"$wh/d",
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("note",
            org.apache.spark.sql.types.StringType))))
      val q2 = spark.sql("SELECT count(note) FROM lakeNs.d")
      assert(q2.head().getLong(0) == 0L)
      assert(q2.queryExecution.executedPlan.toString
        .contains("GraftDvBatchScan"))
    }
  }

  test("delta writes are STAGED: published groups carry only per-class " +
    "part-u-/part-i- files, and no .staged litter survives the commit") {
    withWarehouse("lakeSt") { wh =>
      import spark.implicits._
      val root = s"$wh/t"
      LakeTable.create(spark, root,
        (1L to 60L).map(i => (i, i * 10L)).toDF("id", "v"))
      (1L to 40L).map(i => (i, i * 1000L)).toDF("id", "nv")
        .createOrReplaceTempView("st_src")
      spark.conf.set("spark.graft.update.mode", "mor")
      try spark.sql(
        """MERGE INTO lakeSt.t t USING st_src s ON t.id = s.id
          |WHEN MATCHED AND t.id <= 10 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET v = s.nv
          |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.nv)
          |""".stripMargin)
      finally {
        spark.conf.unset("spark.graft.update.mode")
        spark.catalog.dropTempView("st_src")
      }
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val all = fs.listFiles(new org.apache.hadoop.fs.Path(root), true)
      var staged = List.empty[String]
      var classes = Set.empty[String]
      while (all.hasNext) {
        val n = all.next().getPath.getName
        if (n.contains(".staged")) staged ::= n
        if (n.startsWith("part-u-")) classes += "u"
        if (n.startsWith("part-i-")) classes += "i"
      }
      assert(staged.isEmpty, s"staged litter survived: $staged")
      // the matrix updated 11..40 and inserted nothing new? ids 1..40
      // all exist, so inserts are empty — force both classes via the
      // assertion on updates only, inserts pinned in the q358 feed
      assert(classes.contains("u"), "no update-class data file")
      assert(spark.sql("SELECT count(*) FROM lakeSt.t").head().getLong(0)
        == 50L)
    }
  }

  test("a blind append RACES a delta MERGE: both sides commit (the " +
    "delta write rebases like X182 appends; appends commute with dv " +
    "state changes)") {
    withWarehouse("lakeRc") { wh =>
      import spark.implicits._
      val root = s"$wh/t"
      LakeTable.create(spark, root,
        (1L to 1000L).map(i => (i, i)).toDF("id", "v"))
      ((1L to 500L) ++ (2001L to 2100L)).map(i => (i, i * 7L))
        .toDF("id", "nv").createOrReplaceTempView("rc_src")
      spark.conf.set("spark.graft.update.mode", "mor")
      @volatile var appendErr: Option[Throwable] = None
      val appender = new Thread(() => {
        try (1 to 10).foreach { i =>
          LakeTable.append(spark, root,
            Seq((10000L + i, 1L)).toDF("id", "v"))
        } catch { case t: Throwable => appendErr = Some(t) }
      })
      try {
        appender.start()
        // conditional matched clause = non-canonical → delta protocol;
        // no NOT-MATCHED-BY-SOURCE clause, so concurrently appended
        // rows (unmatched) are untouched whatever the interleaving
        spark.sql(
          """MERGE INTO lakeRc.t t USING rc_src s ON t.id = s.id
            |WHEN MATCHED AND s.nv > 0 THEN UPDATE SET v = s.nv
            |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.nv)
            |""".stripMargin)
        appender.join(120000)
        assert(!appender.isAlive, "appender wedged")
        assert(appendErr.isEmpty, s"append failed: $appendErr")
        val ops = LakeTable.history(spark, root).map(_._2)
        assert(ops.count(_ == "append") == 10 &&
          ops.count(_ == "merge-mor") == 1, s"ops: $ops")
        val got = spark.sql("SELECT count(*), sum(v) FROM lakeRc.t").head()
        // 1000 base + 100 inserts + 10 appends
        assert(got.getLong(0) == 1110L, s"rows ${got.getLong(0)}")
        val expect =
          (1L to 500L).map(_ * 7L).sum + (501L to 1000L).sum +
            (2001L to 2100L).map(_ * 7L).sum + 10L
        assert(got.getLong(1) == expect, s"sum ${got.getLong(1)}")
      } finally {
        appender.join(120000)
        spark.conf.unset("spark.graft.update.mode")
        spark.catalog.dropTempView("rc_src")
      }
    }
  }

  test("SHOW TBLPROPERTIES keeps serving while deletion-vector state " +
    "pends, and time-travel loads read the snapshot's own properties") {
    withWarehouse("lakePp") { wh =>
      import spark.implicits._
      val root = s"$wh/t"
      LakeTable.create(spark, root,
        (1L to 10L).map(i => (i, i * 10L)).toDF("id", "v"))
      spark.sql(
        "ALTER TABLE lakePp.t SET TBLPROPERTIES ('team' = 'data-eng')")
      def props(sqlSuffix: String = ""): Map[String, String] =
        spark.sql(s"SHOW TBLPROPERTIES lakePp.t$sqlSuffix").collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(props().get("team").contains("data-eng"))
      spark.conf.set("spark.graft.update.mode", "mor")
      try spark.sql("UPDATE lakePp.t SET v = v + 1 WHERE id = 1")
      finally spark.conf.unset("spark.graft.update.mode")
      // dv state pends — the DV table must still surface the props
      assert(LakeTable.history(spark, root).last._2 == "update-mor")
      assert(props().get("team").contains("data-eng"))
      // the pre-properties snapshot reads ITS OWN (empty) state — the
      // DSv2 time-travel hook (SHOW TBLPROPERTIES has no AS OF syntax)
      val cat = spark.sessionState.catalogManager.catalog("lakePp")
        .asInstanceOf[graft.sources.GraftLakeCatalog]
      val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
        Array.empty[String], "t")
      assert(!cat.loadTable(ident, "1").properties().containsKey("team"))
      // … while the post-properties snapshot reads them, even as a
      // time-travel load
      val latest = LakeTable.versions(spark, root).last
      assert(cat.loadTable(ident, latest.toString).properties()
        .get("team") == "data-eng")
    }
  }
}
