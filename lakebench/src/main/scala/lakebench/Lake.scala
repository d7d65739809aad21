package lakebench

import scala.jdk.CollectionConverters._

import graft.sources.LakeTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One commit a lake workload sends: `run` calls the program, `model`
  * applies the same change to the model and returns the rows it matched
  * (for a mutation) or added (for an append). */
final case class Action(kind: String, cls: String, run: () => Any, model: () => Int)

/** Seeded commit generator for one LakeTable and its model. Appends are
  * 1 to 1000 rows (sizes cycle through [[LakeStream.AppendSizes]]),
  * mutations hit the orders of one existing
  * customer (update, delete) or a few dozen keys (merge), and each verb
  * goes through the Scala API or SQL through the `lake` catalog. */
final class LakeStream(ctx: Ctx, val root: String, val ident: String, val model: TableModel,
                       rnd: scala.util.Random, nCust: Long) {
  import LakeStream._
  private val spark = ctx.spark
  private val rec = ctx.rec
  private var nextKey = model.rows.lastKey + 1
  /** Deletion-vector sidecars the latest snapshot carries, per the model. */
  var dvLive = 0
  var mutations = 0
  var noops = 0
  var commits = 0

  private def newOrder(key: Long): Order = Order(key, (rnd.nextDouble() * nCust).toLong,
    Statuses(rnd.nextInt(3)), math.round(rnd.nextDouble() * 49900000.0 + 100000.0) / 100.0,
    Epoch1995Us + rnd.nextInt(2405) * DayUs, Priorities(rnd.nextInt(5)))

  private def frame(rows: Seq[Order]): DataFrame =
    spark.createDataFrame(rows.map(Order.toRow).asJava, Order.Schema)

  private def anyRow(): Order = {
    val k = (rnd.nextDouble() * nextKey).toLong
    model.rows.valuesIteratorFrom(k).nextOption().getOrElse(model.rows.head._2)
  }

  private def sql(text: String): Any = rec.call("sql.dml")(spark.sql(text).collect())

  private def viaSql(rows: Seq[Order], view: String)(stmt: String): Any = {
    frame(rows).createOrReplaceTempView(view)
    try sql(stmt) finally spark.catalog.dropTempView(view)
  }

  private var appends = 0

  def append(api: Boolean): Action = {
    val size = AppendSizes(appends % AppendSizes.size)
    appends += 1
    val rows = (0 until size).map(i => newOrder(nextKey + i))
    nextKey += rows.size
    val run: () => Any =
      if (api) () => rec.call("LakeTable.append")(LakeTable.append(spark, root, frame(rows)))
      else () => viaSql(rows, "lb_append")(s"INSERT INTO $ident SELECT * FROM lb_append")
    Action(s"append.${front(api)}", if (api) "primary" else "other", run, () => { rows.foreach(model.put); rows.size })
  }

  def update(api: Boolean): Action = {
    val c = anyRow().cust
    val run: () => Any =
      if (api) () => rec.call("LakeTable.updateWhereMor")(LakeTable.updateWhereMor(spark, root,
        col("o_custkey") === c, Map("o_totalprice" -> (col("o_totalprice") + 1.5), "o_orderstatus" -> lit("U"))))
      else () => sql(s"UPDATE $ident SET o_totalprice = o_totalprice + 1.5, o_orderstatus = 'U' WHERE o_custkey = $c")
    Action(s"update.${front(api)}", "other", run,
      () => model.update(_.cust == c, o => o.copy(price = o.price + 1.5, status = "U")))
  }

  def delete(api: Boolean): Action = {
    val c = anyRow().cust
    val run: () => Any =
      if (api) () => rec.call("LakeTable.deleteWhereDv")(LakeTable.deleteWhereDv(spark, root, col("o_custkey") === c))
      else () => sql(s"DELETE FROM $ident WHERE o_custkey = $c")
    Action(s"delete.${front(api)}", "other", run, () => model.delete(_.cust == c))
  }

  def merge(api: Boolean): Action = {
    val n = 1 + rnd.nextInt(40)
    val old = Seq.fill(n / 2)(anyRow().key).distinct.map(newOrder)
    val fresh = (0 until n - old.size).map(i => newOrder(nextKey + i))
    nextKey += fresh.size
    val rows = old ++ fresh
    val run: () => Any =
      if (api) () => rec.call("LakeTable.mergeMor")(LakeTable.mergeMor(spark, root, frame(rows), "o_orderkey"))
      else () => viaSql(rows, "lb_merge")(s"MERGE INTO $ident t USING lb_merge s " +
        "ON t.o_orderkey = s.o_orderkey WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    Action(s"merge.${front(api)}", "other", run, () => model.upsert(rows))
  }

  private var step = 0
  private var mutationStep = 0

  /** The next commit of the fixed schedule: a cycle of 32 with 29
    * appends (four in five through the Scala API, the rest through SQL
    * INSERT) and three mutations, the mutations rotating through update,
    * delete and merge on both fronts, so two cycles commit each of the
    * six once. A fixed schedule keeps every run's mix the same; the seed
    * varies the rows, keys and append sizes. */
  def next(): Action = {
    val i = step % 32
    step += 1
    if (MutationSteps(i)) {
      val m = MutationCycle(mutationStep % MutationCycle.size)
      mutationStep += 1
      m(this)
    } else append(api = i % 5 != 4)
  }

  /** Run `a` as one operation (of class `cls`, or its own when empty);
    * if it worked, apply it to the model and record the version. */
  def run(a: Action, cls: String): Unit =
    rec.op(if (cls.isEmpty) a.cls else cls, a.kind)(a.run())(_ => None).foreach { _ =>
      applied(a)
      model.commit(LakeTable.latestVersion(spark, root).get)
    }

  /** Apply a committed action to the model and the counters. */
  def applied(a: Action): Int = {
    val hit = a.model()
    val mutation = !a.kind.startsWith("append")
    if (mutation) { mutations += 1; if (hit == 0) noops += 1 }
    if (!mutation || hit > 0 || a.kind.startsWith("merge")) commits += 1
    if (mutation && hit > 0) dvLive += 1
    hit
  }

  /** Fold the deletion vectors into one sidecar (needs at least two). */
  def compactDeletes(): Option[Int] =
    if (dvLive < 2) None
    else {
      val v = rec.call("LakeTable.compactDeletes")(LakeTable.compactDeletes(spark, root))
      dvLive = 1
      commits += 1
      model.commit(v)
      Some(v)
    }

  def vacuum(keep: Int): Unit = rec.call("LakeTable.vacuum")(LakeTable.vacuum(spark, root, keep))

  /** Check the table's latest snapshot against the model, through the
    * Scala API and through SQL. */
  def checkFinal(): Unit = {
    val want = model.fingerprint
    def verdict(got: Fingerprint) = if (got == want) None else Some(s"snapshot $got, model $want")
    rec.op("check", "final.api")(Fingerprint.of(
      LakeTable.read(spark, root).selectExpr(Order.FingerprintExprs: _*).head()))(verdict)
    rec.op("check", "final.sql")(Fingerprint.of(
      spark.sql(s"SELECT ${Order.FingerprintSql} FROM $ident").head()))(verdict)
  }
}

object LakeStream {
  val Statuses: Seq[String] = Seq("F", "O", "P")
  val Priorities: Seq[String] = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val DayUs = 86400000000L
  val Epoch1995Us = 788918400000000L

  def front(api: Boolean): String = if (api) "api" else "sql"

  /** Append sizes, log-spaced from 1 to 1000 rows, used in turn. */
  val AppendSizes: Seq[Int] = Seq(1, 3, 10, 30, 100, 300, 1000, 2, 5, 20, 50, 200, 500)

  val MutationSteps: Set[Int] = Set(10, 21, 31)

  val MutationCycle: Seq[LakeStream => Action] = Seq(_.update(true), _.delete(false), _.merge(true),
    _.update(false), _.delete(true), _.merge(false))

  /** Read the generated orders; their o_orderdate is a wall-clock
    * timestamp in parquet and becomes TIMESTAMP in the UTC session. */
  def orders(ctx: Ctx): (DataFrame, Seq[Order]) = {
    val df = ctx.spark.read.parquet(s"${ctx.args("data")}/orders.parquet")
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
      .select(Order.Cols.map(col): _*)
    (df, df.collect().toSeq.map(Order.fromRow))
  }

  /** On-disk census of a table root, by kind of file. */
  def census(root: String): Map[String, Long] = {
    val base = java.nio.file.Paths.get(root)
    val files = java.nio.file.Files.walk(base).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc")).toSeq
    def rel(p: java.nio.file.Path) = base.relativize(p).toString
    def size(ps: Seq[java.nio.file.Path]) = ps.map(p => java.nio.file.Files.size(p)).sum
    val data = files.filter(p => rel(p).startsWith("data/") && p.toString.endsWith(".parquet"))
    val dv = files.filter(p => rel(p).startsWith("_deletes/"))
    val versions = files.filter(p => rel(p).startsWith("_versions/"))
    val cps = versions.filter(_.getFileName.toString.contains("checkpoint"))
    val log = files.filter(p => rel(p).startsWith("_delta_log/"))
    Map("data_files" -> data.size.toLong, "data_bytes" -> size(data), "dv_bytes" -> size(dv),
      "manifest_files" -> (versions.size - cps.size).toLong, "manifest_bytes" -> size(versions.diff(cps)),
      "checkpoint_files" -> cps.size.toLong, "delta_log_files" -> log.size.toLong,
      "delta_log_bytes" -> size(log), "total_bytes" -> size(files))
  }

  /** Per-layer metrics of the stream's table (traced runs). */
  def layerMetrics(ctx: Ctx, timed: Seq[Op], s: LakeStream): Unit = {
    val m = ctx.layers
    m ++= ctx.rec.layerMetrics(timed)
    val disk = census(s.root)
    Seq("data_files", "data_bytes", "dv_bytes", "manifest_files", "manifest_bytes", "checkpoint_files",
      "delta_log_files", "delta_log_bytes").foreach(k => m(s"disk.$k") = disk(k).toDouble)
    // live snapshot written once as plain parquet: the space floor
    val plain = s"${ctx.work}/plain-snapshot"
    LakeTable.read(ctx.spark, s.root).write.mode("overwrite").parquet(plain)
    m("disk.space_amp") = disk("total_bytes").toDouble / census(plain)("total_bytes")
    m("lake.metadata_bytes_per_commit") =
      (disk("manifest_bytes") + disk("delta_log_bytes")).toDouble / math.max(s.commits, 1)
    m("mutate.noop_ratio") = s.noops.toDouble / math.max(s.mutations, 1)
    m("commit.retry_ratio") = 0.0
  }
}

/** `lake`: a fixed number of seeded commits against one LakeTable, then
  * reads of the snapshots they committed until the window ends. The
  * commit count is fixed, so the table the reads see does not depend on
  * how fast the commits ran. */
object LakeWorkload {
  /** Set-up repetitions, each creating a table from orders on a fresh
    * root: the first becomes the warm-up table and the last the timed
    * one. Several, so that their median set-up time is steady. */
  val SetupRepeats = 7
  /** Commits of the write phase: two cycles of the 32-step schedule. */
  val Commits = 64
  val MaintenanceEvery = 32

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val (orders, rows) = LakeStream.orders(ctx)
    val nCust = rows.map(_.cust).max + 1
    val roots = (0 until SetupRepeats).map { i =>
      val root = s"${ctx.work}/lake/t$i"
      root -> ctx.timeSetup(LakeTable.create(spark, root, orders))
    }
    def stream(i: Int): LakeStream = {
      val (root, v) = roots(i)
      val s = new LakeStream(ctx, root, s"lake.t$i", new TableModel(rows),
        new scala.util.Random(ctx.rnd.nextLong()), nCust)
      s.model.commit(v)
      s
    }
    val warm = stream(0)
    val s = stream(SetupRepeats - 1)
    ctx.phase("warm-up")
    // warm-up on a table the timed loop does not touch: the first twelve
    // steps of the schedule (eleven appends, two through SQL, and an API
    // update), one SQL update, and reads of every kind
    ((0 until 12).map(_ => warm.next()) :+ warm.update(false)).foreach(a => warm.run(a, "warm"))
    new Reader(ctx, warm, "warm").warm()
    if (ctx.injectWrongRow) s.model.corruptOneRow()
    lazy val reader = new Reader(ctx, s, "secondary")
    val timed = ctx.timedLoop(
      first = () => (1 to Commits).foreach { n =>
        s.run(s.next(), "")
        if (n % MaintenanceEvery == 0) {
          if (s.dvLive >= 2) ctx.rec.op("other", "compactDeletes")(s.compactDeletes())(_ => None)
          ctx.rec.op("other", "vacuum")(s.vacuum(10))(_ => None)
        }
      },
      step = () => reader.cycle())
    s.checkFinal()
    if (ctx.rec.tracing) {
      LakeStream.layerMetrics(ctx, timed, s)
      val reads = timed.filter(_.cls == "secondary")
      ctx.layers("scan.rows_read_per_row_returned") =
        ctx.rec.taskSum(reads, "input_records") / math.max(reader.rowsReturned, 1L)
    }
  }
}

/** The read mix of the `lake` workload on one table. Latest reads (point
  * lookups, key-range scans, a status aggregate) hit the current snapshot;
  * history reads fingerprint a distinct older retained version each, so
  * each one resolves a version no earlier read has resolved. Reads are
  * recorded under `cls`. */
final class Reader(ctx: Ctx, s: LakeStream, cls: String) {
  private val spark = ctx.spark
  private val rec = ctx.rec
  private val rnd = ctx.rnd
  var rowsReturned = 0L
  private val totals = s.model.statusTotals
  /** Every retained version below the latest, in seeded random order. */
  private val history = {
    val kept = LakeTable.versions(spark, s.root).toSet
    rnd.shuffle(s.model.versions.keys.toSeq.sorted.filter(kept).dropRight(1))
  }
  private var nextHistory = 0

  private def collect(df: DataFrame): Array[org.apache.spark.sql.Row] = {
    val r = rec.call("scan.action")(df.collect())
    rowsReturned += r.length
    r
  }

  private def rowsEqual(got: Array[org.apache.spark.sql.Row], want: Seq[Order]): Option[String] = {
    val g = got.map(Order.fromRow).sortBy(_.key).toSeq
    if (g == want.sortBy(_.key)) None else Some(s"got ${g.size} rows, model ${want.size}")
  }

  def point(api: Boolean): Unit = {
    val k = (rnd.nextDouble() * (s.model.rows.lastKey + 100)).toLong
    rec.op(cls, s"point.${LakeStream.front(api)}") {
      if (api) collect(rec.call("LakeTable.readWhereEq")(LakeTable.readWhereEq(spark, s.root, "o_orderkey", k)))
      else collect(spark.sql(s"SELECT * FROM ${s.ident} WHERE o_orderkey = $k"))
    }(rowsEqual(_, s.model.rows.get(k).toSeq))
  }

  def range(api: Boolean): Unit = {
    val lo = (rnd.nextDouble() * s.model.rows.lastKey).toLong
    val hi = lo + 199
    rec.op(cls, s"range.${LakeStream.front(api)}") {
      if (api) collect(rec.call("LakeTable.read")(LakeTable.read(spark, s.root))
        .filter(col("o_orderkey").between(lo, hi)))
      else collect(spark.sql(s"SELECT * FROM ${s.ident} WHERE o_orderkey BETWEEN $lo AND $hi"))
    }(rowsEqual(_, s.model.range(lo, hi)))
  }

  def aggregate(api: Boolean): Unit =
    rec.op(cls, s"aggregate.${LakeStream.front(api)}") {
      if (api) collect(rec.call("LakeTable.read")(LakeTable.read(spark, s.root)).groupBy("o_orderstatus")
        .agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(18,2)"))))
      else collect(spark.sql(s"SELECT o_orderstatus, count(*), sum(CAST(o_totalprice AS DECIMAL(18,2))) " +
        s"FROM ${s.ident} GROUP BY o_orderstatus"))
    } { got =>
      val g = got.map(r => r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
      if (g == totals) None else Some(s"status totals $g, model $totals")
    }

  def historical(api: Boolean): Unit = {
    val v = history(nextHistory % history.size)
    nextHistory += 1
    rec.op(cls, s"history.${LakeStream.front(api)}") {
      val r = if (api) collect(rec.call("LakeTable.read")(LakeTable.read(spark, s.root, Some(v)))
        .selectExpr(Order.FingerprintExprs: _*))
      else collect(spark.sql(s"SELECT ${Order.FingerprintSql} FROM ${s.ident} VERSION AS OF $v"))
      Fingerprint.of(r.head)
    } { got =>
      val want = s.model.versions(v)
      if (got == want) None else Some(s"version $v: $got, model $want")
    }
  }

  /** One cycle of the fixed read mix, 10 reads: six latest reads (two
    * point lookups, two key ranges, two aggregates) and four history
    * reads, each kind half through the Scala API and half through SQL;
    * the seed picks the keys and versions. The read phase runs whole
    * cycles, so every run reads the same mix. */
  def cycle(): Unit = {
    point(true); range(false); historical(true); point(false); aggregate(true)
    historical(false); range(true); historical(true); aggregate(false); historical(false)
  }

  /** One read of each kind, the fronts alternating. */
  def warm(): Unit = { point(true); range(false); aggregate(true); historical(false) }
}
