package lakebench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** `query_suite`: passes over a fixed list of `SparkEntry` queries
  * from every pack except LakeQueries, none of which writes a table or
  * starts a stream. Each query's rows from the warm-up pass are written
  * for `run.py` to check against its DuckDB oracle; every timed run of it
  * must then return the same rows. */
object QuerySuite {
  type Query = (SparkSession, String) => DataFrame

  /** Packs by name, with their queries and oracle SQL. */
  val Packs: Seq[(String, Map[String, Query], Map[String, String])] = {
    import graft.queries._
    Seq(("RefQueries", RefQueries.all, RefQueries.oracles),
      ("JoinQueries", JoinQueries.all, JoinQueries.oracles),
      ("WindowQueries", WindowQueries.all, WindowQueries.oracles),
      ("EventQueries", EventQueries.all, EventQueries.oracles),
      ("ExtAggQueries", ExtAggQueries.all, ExtAggQueries.oracles),
      ("MiscQueries", MiscQueries.all, MiscQueries.oracles),
      ("SqlQueries", SqlQueries.all, SqlQueries.oracles),
      ("PipelineQueries", PipelineQueries.all, PipelineQueries.oracles),
      ("ClvQueries", ClvQueries.all, ClvQueries.oracles),
      ("TextQueries", TextQueries.all, TextQueries.oracles),
      ("VectorQueries", VectorQueries.all, VectorQueries.oracles),
      ("MultimodalQueries", MultimodalQueries.all, MultimodalQueries.oracles))
  }

  /** Packs whose queries are reported as the secondary class: the model
    * fitting, text, vector and multimodal kernels (the workshop's data
    * science part). The others are the dashboard SQL of its SQL part. */
  val KernelPacks = Set("ClvQueries", "TextQueries", "VectorQueries", "MultimodalQueries")

  /** The fixed list, in pass order: one of the quicker queries of each
    * pack whose DuckDB oracle is cheap to run, dashboard and kernel
    * queries interleaved. */
  val Selected: Seq[String] = Seq(
    "q13_corr_qty_price", "q53_dedup_cardinalities", "q24_left_supplier_count", "q165_trailing_range_window",
    "q86_clv_holdout", "q225_k_anonymity", "q343_hhi_concentration", "q178_embed_dedup",
    "q48_grouping_sets", "q150_sql_exec_immediate", "q73_media_kind_stats", "q129_stratified_sample")

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    val dir = ctx.args("data")
    val out = s"${ctx.work}/query-results"
    val byName = Packs.flatMap { case (p, qs, _) => qs.map { case (n, f) => n -> (p, f) } }.toMap
    val oracles = Packs.flatMap(_._3).toMap
    val throwing: Query = (_, _) => throw new IllegalStateException("injected failure")
    val list = Selected.map(n => (n, byName(n)._1, byName(n)._2)) ++
      (if (ctx.args.get("inject-failing-query").contains("1")) Seq(("smoke.throwing_query", "smoke", throwing))
       else Nil)
    ctx.phase("warm-up")
    // set-up: one pass of first runs (analysis, code generation and JIT
    // warm-up of each plan), each query's rows kept and written once as
    // parquet for the oracle check; set-up time is the sum of the first
    // runs
    val firstRuns = rec.ops.size
    val first = list.flatMap { case (name, _, fn) =>
      val rows = rec.op("warm", name) {
        val df = fn(spark, dir)
        (df.schema, df.collect())
      }(_ => None)
      spark.sharedState.cacheManager.clearCache()
      rows.map { case (schema, rs) =>
        spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema).write.parquet(s"$out/$name")
        name -> Digest.of(rs)
      }
    }.toMap
    val warm = rec.ops.drop(firstRuns)
    ctx.setup += ((warm.map(_.durNs).sum / 1e9, warm.map(_.cpuNs).sum / 1e9))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      list.flatMap { case (n, _, _) => oracles.get(n).map(q => s"${Json.str(n)}:${Json.str(q)}") }
        .mkString("{", ",\n", "}"))
    // closed loop of whole passes over the list until the window ends, so
    // that every query runs equally often; run.py reports each query by
    // the median of its runs
    val timed = ctx.timedLoop { () =>
      list.foreach { case (name, pack, fn) =>
        rec.op(if (KernelPacks(pack)) "secondary" else "primary", name) {
          rec.call(s"queries.$pack")(fn(spark, dir).collect())
        } { rs =>
          val d = Digest.of(rs)
          if (first.get(name).contains(d)) None else Some(s"rows $d differ from the checked first run ${first.get(name)}")
        }
        spark.sharedState.cacheManager.clearCache()
      }
    }
    if (rec.tracing) {
      ctx.layers ++= rec.layerMetrics(timed)
      Packs.foreach { case (p, _, _) =>
        val ops = timed.filter(o => byName.get(o.kind).exists(_._1 == p))
        val (jobs, planning) = rec.jobsAndPlanning(ops)
        ctx.layers(s"queries.$p.s") = ops.map(_.durNs).sum / 1e9
        ctx.layers(s"queries.$p.jobs") = jobs
        ctx.layers(s"queries.$p.planning_ms") = planning
      }
    }
  }
}

/** Row count plus an order-insensitive sum of row hashes; doubles count
  * to ten significant digits. */
final case class Digest(n: Int, h: Long)

object Digest {
  def of(rows: Array[Row]): Digest = Digest(rows.length, rows.iterator.map(r => norm(r).##.toLong).sum)

  private def norm(v: Any): Any = v match {
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.9e"
    case f: Float => norm(f.toDouble)
    case r: Row => r.toSeq.map(norm)
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => (norm(k), norm(x)) }.sortBy(_.toString)
    case s: scala.collection.Seq[_] => s.map(norm)
    case b: Array[Byte] => b.toSeq
    case o => o
  }
}
