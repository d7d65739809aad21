package graft.queries

import graft.Tables
import graft.Tables.isoDate
import graft.operators.{RangeJoin, SkewedAgg}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** [EXT] Relational-surface widening: unpivot/stack, date functions,
  * null handling, GROUPING SETS, array functions, analytic windows
  * (percent_rank/cume_dist, first/last/nth_value), conditional
  * aggregates, the bin-bucketed range join, and the salted skew-safe
  * aggregation — every query oracle-checked against DuckDB.
  */
object MiscQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** q252: association-rule mining over order baskets (Agrawal &
    * Srikant's Apriori, VLDB'94, restricted to 2-itemsets — the
    * market-basket staple every warehouse ships): which part pairs
    * co-occur in the same order more often than chance, scored by
    * support / confidence / lift. Emits BOTH rule directions for each
    * frequent pair (confidence is asymmetric; lift is shared).
    *
    * Scale shape — Apriori's pruning property is load-bearing, not
    * decorative: items below min-support can never appear in a frequent
    * pair, so the ITEM-level filter runs before pair generation and the
    * (small, vocab-bounded) frequent-item list broadcast-semi-joins the
    * basket table down first. Pair generation is a self-join keyed
    * on the ORDER (shuffle ∝ |baskets|, per-order fanout ≤ B²/2 with
    * basket size B ≤ 13 here — bounded by order semantics, never n²);
    * both the prune and the self-join live in the session-scoped
    * [[coPurchasePairs]] cache (min-supp 2, shared with q258/q283/
    * q284), and this query filters the replayed list to its own
    * min-supp 3 — identical counts by the Apriori subset property:
    * a pair at supp ≥ 3 has both items at supp ≥ 3, so the looser
    * prune changes no surviving support.
    * Item supports are a vocab-sized frame → both rule-side joins
    * broadcast. Basket count reaches the driver as one scalar (the
    * bounded-driver-state discipline of q236/q249).
    *
    * Determinism: support counts are exact integers; confidence and
    * lift are single IEEE divisions of exact integers (the q251 rule:
    * identical dividend/divisor → identical double on both engines),
    * rounded at 6 dp for display only. */
  def assocRules(s: SparkSession, dir: String): DataFrame = {
    val minSupp = 3L
    val items = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val nBaskets = items.select(countDistinct(col("ok"))).head().getLong(0)
    val itemSupp = items.groupBy(col("pk"))
      .agg(count(lit(1)).as("supp_item"))
    // pair supports replay from the shared min-supp-2 cache; filtering
    // to minSupp here equals pruning at minSupp before pairing (Apriori
    // subset property — see scaladoc)
    val pairs = coPurchasePairs(s, dir)
      .select(col("x").as("pa"), col("y").as("pb"),
        col("supp").as("supp_pair"))
      .filter(col("supp_pair") >= minSupp)
    val rules = pairs.select(col("pa").as("antecedent"),
        col("pb").as("consequent"), col("supp_pair"))
      .unionAll(pairs.select(col("pb").as("antecedent"),
        col("pa").as("consequent"), col("supp_pair")))
    rules
      .join(broadcast(itemSupp.withColumnRenamed("pk", "antecedent")
        .withColumnRenamed("supp_item", "supp_ante")), Seq("antecedent"))
      .join(broadcast(itemSupp.withColumnRenamed("pk", "consequent")
        .withColumnRenamed("supp_item", "supp_cons")), Seq("consequent"))
      .select(col("antecedent"), col("consequent"), col("supp_pair"),
        col("supp_ante"), col("supp_cons"),
        round(col("supp_pair").cast("double") / col("supp_ante"), 6)
          .as("confidence"),
        round(col("supp_pair").cast("double") * lit(nBaskets) /
          (col("supp_ante") * col("supp_cons")), 6).as("lift"))
      .orderBy(col("supp_pair").desc, col("antecedent"), col("consequent"))
  }

  /** q253: weighted PageRank over the nation-level trade graph (Page &
    * Brin 1998; the link-analysis companion of the connectivity ops in
    * dedup/Components.scala) — edges flow customer-nation → supplier-
    * nation per order line, weight = line count, damping 0.85, three
    * power iterations. The graph centrality every catalog/lineage/
    * entity-graph feature ends up needing.
    *
    * Determinism at a distance: ranks live as ×10¹² scaled BIGINTs and
    * every step is INTEGER arithmetic — contribution = (r·w) div wout,
    * damping = (85·Σ) div 100 — so Spark and the oracle's three
    * unrolled SQL rounds agree bit-for-bit (the established scaled-
    * BIGINT discipline; floats would drift under reordered partial
    * sums). Total mass is conserved up to per-edge floor loss, a
    * property the spec asserts.
    *
    * Scale shape: the rank frame is partitioned by node and NEVER
    * leaves the cluster — each iteration is one equi-join of the
    * (persisted, wout-annotated) edge table with the current ranks on
    * src plus one hash aggregate on dst: O(|E|) shuffle per round,
    * driver state = the loop counter and the node-count scalar. Each
    * iteration's ranks are persisted and the previous round's cache is
    * dropped only after the next materializes (q236's discipline), so
    * lineage stays one round deep instead of compounding. AQE
    * broadcasts the rank side here (25 nations); at billions of nodes
    * the same plan degrades gracefully to a shuffle join. The
    * iteration loop lives in [[graft.operators.PageRankIter]] (shared
    * with q257's TextRank, which runs it at vocabulary scale). */
  def pageRank(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.PageRankIter
    val edges = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
    val nodes = t(s, dir, "nation").select(col("n_nationkey").as("v"))
    val ranked = PageRankIter.run(s, nodes, edges, iters = 3)
    val res = ranked.ranks
      .join(broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("v"), col("n_name"))), Seq("v"))
      .select(col("n_name"), col("r").as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("n_name"))
    val local = graft.util.LocalFrame.materialize(res)
    ranked.release()
    local
  }

  /** q254: 2-D SKYLINE (pareto frontier) of parts — minimize price,
    * maximize size (Börzsönyi et al., "The Skyline Operator", ICDE'01):
    * a part is on the frontier iff no other part is both no-more-
    * expensive and no-smaller with at least one strict. The
    * multi-criteria shortlist op (cheapest-yet-biggest) that SQL can
    * only express as a quadratic NOT EXISTS — which is exactly what the
    * oracle runs, against this linear plan.
    *
    * Scale shape — the quadratic dominance test never runs: prices bin
    * into fixed-width buckets (bucket count = price-domain / width, a
    * SCHEMA constant independent of row count — the bounded-collect
    * argument of the dim-table allowlist entries), per-bucket max sizes
    * collect as that constant-sized frame, and the driver turns them
    * into an exclusive prefix-max broadcast. A row then survives iff
    * (a) its size beats the best size in all strictly-cheaper buckets
    * (broadcast lookup), (b) beats every strictly-cheaper row in its
    * OWN bucket (partitioned RANGE window on true price — never
    * global), and (c) ties the max at its exact price (equal-price
    * dominance). Three conditions ⇔ non-dominated, proved in
    * SkylineSpec by brute force; total cost one aggregate + one
    * partitioned window — O(n) shuffle, no self-join. */
  def skylineParts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = t(s, dir, "part")
      .select(col("p_partkey"),
        expr("CAST(round(p_retailprice * 100) AS BIGINT)").as("pc"),
        col("p_size").cast("int").as("size"))
      .withColumn("bucket", expr("pc div 500"))
      .persist()
    // bounded: ≤ (max price − min price) / $5 buckets — value-domain
    // bound, not data-size bound
    val bmax = p.groupBy(col("bucket")).agg(max(col("size")).as("m"))
      .orderBy(col("bucket")).collect()
    var run = Int.MinValue
    val pref = bmax.map { r =>
      val out = (r.getLong(0), run) // EXCLUSIVE prefix: cheaper buckets only
      run = math.max(run, r.getInt(1))
      out
    }.toSeq
    val wPrev = Window.partitionBy(col("bucket")).orderBy(col("pc"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val wSame = Window.partitionBy(col("bucket"), col("pc"))
    val out = p.join(broadcast(pref.toDF("bucket", "prefmax")), Seq("bucket"))
      .withColumn("mprev", max(col("size")).over(wPrev))
      .withColumn("msame", max(col("size")).over(wSame))
      .filter(col("size") > col("prefmax") &&
        col("size") > coalesce(col("mprev"), lit(Int.MinValue)) &&
        col("size") === col("msame"))
      .select(col("p_partkey"), col("pc").as("price_cents"), col("size"))
      .orderBy(col("price_cents"), col("size"), col("p_partkey"))
    val local = graft.util.LocalFrame.materialize(out)
    p.unpersist()
    local
  }

  /** q255: spend-concentration report — the Gini coefficient of
    * customer spend from the Lorenz identity
    * G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over spends sorted ascending.
    * The inequality statistic behind "top 1% of customers drive N% of
    * revenue" (and, in the pipeline world, "which source dominates the
    * token budget").
    *
    * The classic formulation needs a GLOBAL rank — `row_number() OVER
    * (ORDER BY spend)` — the exact single-partition shape PlanLint
    * bans. [[graft.operators.GlobalRank]]'s range-exchange two-pass
    * enumeration supplies (rank, n) scalably, and the Lorenz weighted
    * sum Σ i·xᵢ then collapses to ONE plain aggregate — no window at
    * all, no prefix scan, O(n) shuffle.
    *
    * Determinism: spends are exact cents; rank·cents sums ride
    * DECIMAL(38,0) (Σ i·xᵢ overflows BIGINT around 10⁹ customers);
    * the coefficient is published as gini_micro = ⌊2·S·10⁶/(n·T)⌋ −
    * ⌊(n+1)·10⁶/n⌋ — pure integer floors, bit-equal on both engines
    * (the scaled-BIGINT discipline; a double Gini would hang on
    * summation order). Rank ties are impossible: (spend, custkey) is a
    * total order. */
  def giniSpend(s: SparkSession, dir: String): DataFrame = {
    val spend = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(expr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 " +
        "AS BIGINT)").as("cents"))
    val ranked = graft.operators.GlobalRank.withGlobalRankAndCount(
      spend, Seq(col("cents"), col("o_custkey")), "rk", "n")
    ranked.agg(
        max(col("n")).as("n_customers"),
        sum(col("cents")).as("total_cents"),
        sum(expr("CAST(rk AS DECIMAL(38,0)) * cents")).as("s"))
      .select(col("n_customers"), col("total_cents"),
        (expr("CAST(2 * s * 1000000 div (CAST(n_customers AS DECIMAL(38,0))" +
          " * total_cents) AS BIGINT)") -
          expr("(n_customers + 1) * 1000000 div n_customers"))
          .as("gini_micro"))
  }

  /** q258: triangle counting on the co-purchase graph (parts sharing
    * ≥ 2 baskets, q252's edge set) — the clustering/community signal
    * ("bundles": three parts pairwise co-bought). The naive wedge count
    * is Σ deg² and dies on hub nodes; the scale shape is
    * Suri–Vassilvitskii's degree ordering ("Counting triangles and the
    * curse of the last reducer", WWW'11): orient every edge from its
    * (degree, id)-smaller endpoint, enumerate wedges only at the
    * ≺-SMALLEST vertex of each triangle — per-vertex fanout is then
    * out-degree ≤ O(√|E|) by the orientation argument, hubs included —
    * and close them with one more equi-join. Every triangle is counted
    * exactly once; here the ordering cuts candidate wedges to 2.4k on
    * a 3.4k-edge graph.
    *
    * The ≺ order rides a single BIGINT (deg·10⁹ + id, exact while ids
    * stay below 10⁹ — true for every TPC-H SF this engine targets;
    * struct comparison is the drop-in if ids outgrow it). Three
    * bounded scalars reach the driver; joins are all equi (the wedge
    * v₁ < v₂ predicate filters an equi-join on the shared low vertex,
    * never a theta join). */
  def triangleCount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // edge list from the session-scoped co-purchase pair cache (the
    // basket self-join is paid once per dataset, shared with
    // q252/q283/q284)
    val pairs = coPurchasePairs(s, dir).select(col("x"), col("y"))
    val deg = pairs.select(col("x").as("n"))
      .unionAll(pairs.select(col("y").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val oe = pairs
      .join(deg.select(col("n").as("x"), col("d").as("dx")), Seq("x"))
      .join(deg.select(col("n").as("y"), col("d").as("dy")), Seq("y"))
      .select(
        least(col("dx") * lit(1000000000L) + col("x"),
          col("dy") * lit(1000000000L) + col("y")).as("uord"),
        greatest(col("dx") * lit(1000000000L) + col("x"),
          col("dy") * lit(1000000000L) + col("y")).as("vord"))
      .persist()
    val wed = oe.as("e1").join(oe.as("e2"),
        col("e1.uord") === col("e2.uord") && col("e1.vord") < col("e2.vord"))
      .select(col("e1.vord").as("v1"), col("e2.vord").as("v2"))
      .persist()
    val nEdges = pairs.count()
    val nWedges = wed.count()
    val nTriangles = wed.join(oe,
      col("v1") === col("uord") && col("v2") === col("vord")).count()
    oe.unpersist(); wed.unpersist()
    Seq((nEdges, nWedges, nTriangles))
      .toDF("n_edges", "n_wedges", "n_triangles")
  }

  /** q263: per-nation next-month revenue forecast by simple
    * exponential smoothing (Brown 1956) with α = ½, run IN-ENGINE over
    * each nation's monthly series: s₁ = x₁, sₜ = (xₜ + sₜ₋₁) div 2 —
    * α = ½ makes the recurrence pure INTEGER halving, so the smoothed
    * level is bit-exact on both engines (a float α would drift in the
    * fold; the same trick as the scaled-BIGINT discipline, chosen at
    * the model level). The forecast for month T+1 is s_T — the
    * baseline every demand-planning dashboard starts from.
    *
    * An exponential recurrence is inherently sequential IN t, but t
    * ranges over CALENDAR MONTHS — so each nation's series is a
    * calendar-bounded array (≤ ~84 entries regardless of SF; the
    * PlanShapeLint allowlist argument) collected per key and folded by
    * one `aggregate` HOF in the projection. Group rows scale out; the
    * per-group fold is O(months). One shuffle to (nation, month), one
    * to nation; the nation dim broadcast. DuckDB replays the fold with
    * list_reduce — seeded by the first element exactly like the
    * slice-from-2 form here. */
  /** q278: time-series GAP FILLING by exact integer interpolation —
    * the data-prep step every monthly feature pipeline needs before a
    * fold (q263's smoothing or q279-style control charts assume a
    * dense series): build the complete nation × month spine, and fill
    * each hole by linear interpolation between the nearest non-missing
    * neighbors (nearest-value extension at the edges, 0 for an
    * all-empty series). The lerp is exact integer arithmetic —
    * (Δv·Δt) div span with the product through DECIMAL(38,0) and the
    * division on |Δv| with the sign reapplied (Spark div truncates
    * toward zero, DuckDB // floors; both directions of revenue trend
    * are live — q265's lesson). The URGENT-priority subset is sparse
    * at small SF, so holes genuinely exist and every filled cell is
    * recomputed by the oracle.
    *
    * Scale shape: one fact aggregate; the spine is nation × months
    * (bounded dims, broadcast); neighbor lookup is four window
    * functions PARTITIONED by nation — never global. */
  def gapFill(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val monthly = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .join(broadcast(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"),
        date_trunc("month", col("o_orderdate")).as("mo"))
      .agg(expr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 " +
        "AS BIGINT)").as("cents"))
    val bounds = t(s, dir, "orders")
      .agg(date_trunc("month", min(col("o_orderdate"))).as("lo"),
        date_trunc("month", max(col("o_orderdate"))).as("hi"))
    val months = bounds.select(explode(
      expr("sequence(lo, hi, interval 1 month)")).as("mo"))
    val grid = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("nk"), col("n_name")))
      .crossJoin(broadcast(months))
      .withColumn("mi", expr("year(mo) * 12 + month(mo)").cast("long"))
    val joined = grid.join(monthly, Seq("nk", "mo"), "left_outer")
    val wPrev = Window.partitionBy(col("nk")).orderBy(col("mi"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy(col("nk")).orderBy(col("mi"))
      .rowsBetween(0, Window.unboundedFollowing)
    joined
      .withColumn("pv", last(col("cents"), ignoreNulls = true).over(wPrev))
      .withColumn("pmi", last(when(col("cents").isNotNull, col("mi")),
        ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("cents"), ignoreNulls = true).over(wNext))
      .withColumn("nmi", first(when(col("cents").isNotNull, col("mi")),
        ignoreNulls = true).over(wNext))
      .select(col("n_name"),
        date_format(col("mo"), "yyyy-MM").as("month"),
        expr("""CAST(CASE
          |  WHEN cents IS NOT NULL THEN cents
          |  WHEN pmi IS NULL AND nmi IS NULL THEN 0
          |  WHEN pmi IS NULL THEN nv
          |  WHEN nmi IS NULL THEN pv
          |  ELSE pv + CAST(CASE WHEN nv >= pv
          |    THEN (CAST(nv AS DECIMAL(38,0)) - pv) * (mi - pmi)
          |         div (nmi - pmi)
          |    ELSE -((CAST(pv AS DECIMAL(38,0)) - nv) * (mi - pmi)
          |         div (nmi - pmi)) END AS BIGINT)
          |  END AS BIGINT)""".stripMargin).as("cents_filled"),
        col("cents").isNull.as("was_missing"))
      .orderBy(col("n_name"), col("month"))
  }

  /** q280: EQUI-DEPTH histogram construction (the ANALYZE TABLE
    * optimizer statistic — Spark's own CBO histograms and DuckDB's
    * stats use this shape): k = 16 buckets over o_totalprice cents,
    * bucket i covering ranks ((i−1)·N div k, i·N div k]. Ranks come
    * from GlobalRank's range-exchange enumeration over a TOTAL order
    * (cents, o_orderkey) — no global window — and every output cell
    * is exact: the per-bucket count is the rank-range width (an
    * integer identity the oracle restates), lo/hi are the values at
    * the boundary ranks, and ndv_bucket counts distinct cents inside.
    * Feeds the q226 estimation story: range-predicate selectivity
    * reads straight off these boundaries. Scale: one range exchange +
    * one hash aggregate on the bucket id (k-bounded). */
  def equiDepthHistogram(s: SparkSession, dir: String): DataFrame = {
    val k = 16
    val vals = t(s, dir, "orders").select(
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        .as("cents"), col("o_orderkey"))
    val ranked = graft.operators.GlobalRank
      .withGlobalRankAndCount(vals,
        Seq(col("cents"), col("o_orderkey")), "r", "n")
      // bucket of rank r in 1..k: ((r-1)·k) div n + 1 — exact integer
      // (r·k ≤ n·k, DECIMAL(38,0) against overflow at huge N)
      .withColumn("bucket",
        expr(s"CAST((CAST(r - 1 AS DECIMAL(38,0)) * $k) div n + 1 " +
          "AS BIGINT)"))
    ranked.groupBy(col("bucket"))
      .agg(count(lit(1)).as("depth"),
        min(col("cents")).as("lo_cents"),
        max(col("cents")).as("hi_cents"),
        countDistinct(col("cents")).as("ndv_bucket"))
      .orderBy(col("bucket"))
  }

  /** q279: one-sided CUSUM control chart (Page 1954) per nation over
    * the monthly revenue series — the sequential drift detector that
    * complements q227's two-sample distribution drift: Sₜ =
    * max(0, Sₜ₋₁ + xₜ − μ − k) with allowance k = μ/20 accumulates
    * only SUSTAINED upward excursions, and an alert fires when Sₜ
    * crosses h = μ/10. Everything is exact integer cents — μ = Σx div
    * n (the sum through DECIMAL(38,0)/HUGEINT), the fold state a
    * BIGINT struct — so the oracle's recursive-CTE replay is
    * bit-identical, including alert counts.
    *
    * Scale shape: q263's adjudicated pattern — the sequential-in-t
    * fold runs inside one `aggregate` HOF over each nation's
    * calendar-bounded monthly array (≤ ~84 entries at any SF); groups
    * scale out, driver holds nothing. */
  def cusumAlerts(s: SparkSession, dir: String): DataFrame = {
    val monthly = t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM")
          .as("m"))
      .agg(expr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 " +
        "AS BIGINT)").as("cents"))
    val series = monthly.groupBy(col("nk"))
      .agg(sort_array(collect_list(struct(col("m"), col("cents"))))
        .as("xs"),
        count(lit(1)).as("n_months"),
        expr("CAST(sum(CAST(cents AS DECIMAL(38,0))) div count(*) " +
          "AS BIGINT)").as("mu"))
    series
      .join(broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("nk"), col("n_name"))), Seq("nk"))
      .withColumn("st", expr(
        """aggregate(xs,
          |  named_struct('s', CAST(0 AS BIGINT), 'mx', CAST(0 AS BIGINT),
          |               'al', CAST(0 AS BIGINT)),
          |  (acc, x) -> named_struct(
          |    's',  greatest(CAST(0 AS BIGINT),
          |                   acc.s + x.cents - mu - mu div 20),
          |    'mx', greatest(acc.mx, greatest(CAST(0 AS BIGINT),
          |                   acc.s + x.cents - mu - mu div 20)),
          |    'al', acc.al + IF(greatest(CAST(0 AS BIGINT),
          |                   acc.s + x.cents - mu - mu div 20) > mu div 10,
          |                   CAST(1 AS BIGINT), CAST(0 AS BIGINT))))"""
          .stripMargin))
      .select(col("n_name"), col("n_months"), col("mu").as("mu_cents"),
        col("st.mx").as("max_cusum"), col("st.al").as("n_alerts"))
      .orderBy(col("n_name"))
  }

  def sesForecast(s: SparkSession, dir: String): DataFrame = {
    val monthly = t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM")
          .as("m"))
      .agg(expr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 " +
        "AS BIGINT)").as("cents"))
    val series = monthly.groupBy(col("nk"))
      .agg(sort_array(collect_list(struct(col("m"), col("cents"))))
        .as("xs"))
    series
      .join(broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("nk"), col("n_name"))), Seq("nk"))
      .select(col("n_name"),
        size(col("xs")).cast("long").as("n_months"),
        expr("element_at(xs, -1).cents").as("last_cents"),
        expr("aggregate(slice(xs, 2, size(xs) - 1), " +
          "element_at(xs, 1).cents, " +
          "(acc, x) -> (acc + x.cents) div 2)").as("forecast_cents"))
      .orderBy(col("n_name"))
  }

  /** q264: HITS hubs & authorities (Kleinberg, JACM'99) on the
    * directed nation trade graph — the bilateral complement of q253's
    * PageRank: a nation is a strong HUB when it buys from strong
    * suppliers, a strong AUTHORITY when strong buyers source from it;
    * the two scores are coupled fixed points and genuinely different
    * rankings (importers vs exporters), which one PageRank score
    * cannot express.
    *
    * Two full iterations = four half-steps, each ONE
    * edge-score equi-join + ONE hash aggregate (O(|E|)), with L∞
    * normalization (rescale by the max — an accepted HITS variant
    * whose fixed point is the same principal eigenvector direction)
    * done in INTEGER arithmetic: score·10⁶ div max, so the oracle's
    * four unrolled rounds replay bit-for-bit. Driver state: one max
    * scalar per half-step (bounded), loop counter, nothing node-sized.
    * The normalization product r·10⁶ rides DECIMAL(38,0) (HUGEINT in
    * the oracle): r is an UN-normalized sum that reaches 10⁶ × the
    * heaviest node's in-weight, so a BIGINT product overflows once any
    * nation receives more than ~9.2e6 lines (SF ≳ 40). The remaining
    * BIGINT product, score·w inside the half-step sum, is bounded by
    * 10⁶·w — safe until a single nation PAIR exceeds ~9.2e12 lines
    * (SF ≳ 4e7), documented here as the contract. */
  def hitsScores(s: SparkSession, dir: String): DataFrame = {
    val SCALE = 1000000L
    val edges = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
      .persist()
    // Optimization r16: the DATA-SIZED work is the edge aggregation
    // above (every lineitem row → one of ≤ 25×25 nation-pair weights);
    // the fixed-point iteration runs over a SCHEMA-BOUNDED frame (25
    // nodes, ≤ 625 edges — bounded at every SF, the q263/q83
    // fit-small discipline), where each DataFrame half-step cost ~1 s
    // of pure job overhead (4 half-steps × ~9 tiny-shuffle jobs on
    // 25-row frames). The collected edge list folds the four
    // half-steps in the identical integer arithmetic — Long sums
    // (same overflow contract as the doc above), BigInt for the
    // DECIMAL(38,0) product, truncating `div` — so every score is
    // bit-identical to the join form's, which q253/q257 keep
    // demonstrating at vocabulary scale.
    val edgeRows = edges.collect().map(r => (r.getAs[Number]("src").longValue,
      r.getAs[Number]("dst").longValue, r.getAs[Number]("w").longValue))
    edges.unpersist()
    val nodeRows = t(s, dir, "nation")
      .select(col("n_nationkey").cast("long").as("v"), col("n_name"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // one half-step: sum scores over the `from` end of every edge into
    // the `into` end, L∞-normalize to SCALE in integer arithmetic
    def halfStep(scores: Map[Long, Long], fromDst: Boolean): Map[Long, Long] = {
      val sums = new scala.collection.mutable.HashMap[Long, Long]()
      edgeRows.foreach { case (src, dst, w) =>
        val (from, into) = if (fromDst) (dst, src) else (src, dst)
        scores.get(from).foreach(sc =>
          sums.update(into, sums.getOrElse(into, 0L) + sc * w))
      }
      val raw = nodeRows.map { case (v, _) => v -> sums.getOrElse(v, 0L) }
      val mx = raw.map(_._2).max
      require(mx > 0, "HITS on an edgeless graph")
      raw.map { case (v, r) =>
        v -> (BigInt(r) * SCALE / BigInt(mx)).toLong }.toMap
    }
    var h: Map[Long, Long] = nodeRows.map { case (v, _) => v -> SCALE }.toMap
    var a: Map[Long, Long] = null
    for (_ <- 1 to 2) {
      a = halfStep(h, fromDst = false)
      h = halfStep(a, fromDst = true)
    }
    import s.implicits._
    graft.util.LocalFrame.materialize(
      nodeRows.toSeq.map { case (v, name) => (name, h(v), a(v)) }
        .toDF("n_name", "hub_scaled", "auth_scaled")
        .orderBy(col("auth_scaled").desc, col("hub_scaled").desc,
          col("n_name")))
  }

  /** q265: per-nation revenue TREND by closed-form OLS over the
    * monthly series — slope = (n·Σtx − Σt·Σx) / (n·Σt² − (Σt)²), the
    * descriptive companion of q263's forecast (q263 smooths, this
    * tests direction; q13's Pearson is the unitless cousin). Unlike
    * the smoothing recurrence, OLS needs NO fold: the five moments are
    * one partial-aggregated groupBy, fully parallel.
    *
    * Exactness with a SIGN trap: slope_micro rides DECIMAL(38,0)
    * moments and integer division — but Spark's `div` truncates toward
    * zero while DuckDB's `//` floors toward −∞, so a NEGATIVE
    * numerator would differ by one ulp between engines. The division
    * therefore runs on |num| with the sign reapplied — identical on
    * both engines, and the synthetic data exercises both branches
    * (both up- and down-trending nations exist at every SF). The month
    * index t is a per-nation row_number over a nation-PARTITIONED
    * window (never global). */
  def olsTrend(s: SparkSession, dir: String): DataFrame = {
    val monthly = t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM")
          .as("m"))
      .agg(expr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 " +
        "AS BIGINT)").as("x"))
    val w = Window.partitionBy(col("nk")).orderBy(col("m"))
    val fit = monthly
      .withColumn("t", row_number().over(w).cast("long"))
      .groupBy(col("nk"))
      .agg(count(lit(1)).as("n"),
        sum(col("t")).as("st"), sum(col("x")).as("sx"),
        sum(col("t") * col("t")).as("stt"),
        sum(expr("CAST(t AS DECIMAL(38,0)) * x")).as("stx"))
      .select(col("nk"), col("n"),
        expr("CAST(n AS DECIMAL(38,0)) * stx - " +
          "CAST(st AS DECIMAL(38,0)) * sx").as("num"),
        expr("CAST(n AS DECIMAL(38,0)) * stt - " +
          "CAST(st AS DECIMAL(38,0)) * st").as("den"))
    fit
      .join(broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("nk"), col("n_name"))), Seq("nk"))
      .select(col("n_name"), col("n").as("n_months"),
        expr("CAST(CASE WHEN num >= 0 THEN (num * 1000000) div den " +
          "ELSE -((-num * 1000000) div den) END AS BIGINT)")
          .as("slope_micro"),
        expr("CASE WHEN num > 0 THEN 'up' WHEN num < 0 THEN 'down' " +
          "ELSE 'flat' END").as("trend"))
      .orderBy(col("n_name"))
  }

  /** q266: Benford first-digit audit (Newcomb 1881 / Benford 1938) —
    * the fraud/forensics screen every financial warehouse runs: the
    * observed first-significant-digit distribution of order totals
    * against Benford's log₁₀(1 + 1/d) expectation, per-digit deviation
    * in ppm. TPC-H's uniform price synthesis is decidedly NON-Benford
    * — exactly what the audit exists to flag on fabricated data.
    *
    * Exactness: the first digit is STRING arithmetic on exact cents
    * (no float ever examined); the Benford expectation is ln on exact
    * rationals quantized once to ×10⁶ — at DECIMAL(18,6), i.e. the
    * FULL output scale, so the ×10⁶ product is integer-valued and the
    * BIGINT cast is exact on both engines (a scale-9 quantization left
    * a fraction behind, and Spark truncates where DuckDB rounds — the
    * verify gate caught the one-ppm divergence); obs_ppm is integer
    * floor-division by the one driver-scalar total. One digit-keyed
    * aggregate (9 groups, map-side partials absorb everything); the
    * digit spine is generated, so silent digits still report 0. */
  def benfordAudit(s: SparkSession, dir: String): DataFrame = {
    val cents = t(s, dir, "orders").select(
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        .as("v"))
    val total = cents.count()
    val obs = cents
      .select(expr("CAST(substr(CAST(v AS STRING), 1, 1) AS BIGINT)")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    s.range(1, 10).select(col("id").as("digit"))
      .join(obs, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        expr(s"coalesce(n_obs, 0L) * 1000000 div $total").as("obs_ppm"),
        expr("CAST(CAST(ln(1.0 + 1.0 / digit) / ln(10.0) " +
          "AS DECIMAL(18,6)) * CAST(1000000 AS DECIMAL(19,0)) " +
          "AS BIGINT)").as("benford_ppm"))
      .withColumn("dev_ppm", abs(col("obs_ppm") - col("benford_ppm")))
      .orderBy(col("digit"))
  }

  /** Unpivot via stack(): two part metrics into (metric, value) rows.
    * Decimal sums keep the oracle exact. */
  def unpivotMetrics(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(col("p_brand"),
        expr("""stack(2,
                'retailprice', CAST(p_retailprice AS DECIMAL(18,2)),
                'size',        CAST(p_size        AS DECIMAL(18,2)))
                AS (metric, value)"""))
      .groupBy(col("p_brand"), col("metric"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).cast("double").as("total"))
      .orderBy(col("p_brand"), col("metric"))

  /** Date-function surface: date_trunc to quarter, last_day,
    * add_months — all rendered as ISO strings for engine portability. */
  def quarterlyOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(
        date_format(date_trunc("quarter", col("o_orderdate")), "yyyy-MM-dd")
          .as("quarter_start"))
      .agg(
        count(lit(1)).as("n_orders"),
        max(isoDate(last_day(col("o_orderdate")))).as("max_month_end"),
        min(isoDate(add_months(col("o_orderdate"), 3))).as("min_plus3m"))
      .orderBy(col("quarter_start"))

  /** NULL-handling surface: NULLIF introduces nulls, COALESCE removes
    * them, and the aggregate counts both sides (nulls excluded from
    * count(col) but not count(*)). */
  def nullHandling(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("REDACTED"))
          .as("seg"),
        nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_nullable"))
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("seg_nullable")).as("n_nonnull"))
      .orderBy(col("seg"))

  /** GROUPING SETS: per-status, per-priority, and grand-total rows in
    * one pass (the general form behind rollup/cube). */
  def groupingSets(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders_gs")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST,
        |         o_orderpriority ASC NULLS FIRST""".stripMargin)
  }

  /** Array-function surface over document vocabularies: size, sort,
    * first/last element (binary string order in both engines). */
  def arrayFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        array_sort(array_distinct(graft.text.TextFunctions.tokens(col("text"))))
          .as("vocab"))
      .select(col("doc_id"),
        size(col("vocab")).as("n_vocab"),
        element_at(col("vocab"), 1).as("first_tok"),
        element_at(col("vocab"), -1).as("last_tok"))
      .orderBy(col("doc_id"))

  /** Analytic windows: percent_rank + cume_dist of account balance
    * within market segment (rank statistics are tie-invariant, so the
    * result is deterministic under any partitioning). */
  def spendAnalytics(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal"))
    t(s, dir, "customer")
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
      .orderBy(col("c_mktsegment"), col("c_acctbal"), col("c_custkey"))

  }

  /** First/last/second order date per customer (the oracle phrases it
    * as first_value/last_value/nth_value over an unbounded frame).
    *
    * One hash aggregate instead of window + distinct: the window form
    * shuffles on o_custkey, replays every order row through the frame,
    * then shuffles AGAIN for the distinct. A groupBy gets the same three
    * values in a single partial-aggregated exchange — first/last are
    * min/max, and the second row of the (date, orderkey) order is the
    * 2nd element of the sorted per-customer struct list (orders per
    * customer is a bounded constant, not data-proportional, so the
    * collect_list buffer is safe at any SF). */
  def orderBounds(s: SparkSession, dir: String): DataFrame = {
    val second = get(
      array_sort(collect_list(struct(col("o_orderdate"), col("o_orderkey")))),
      lit(1))
    t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(
        isoDate(min(col("o_orderdate"))).as("first_date"),
        isoDate(max(col("o_orderdate"))).as("last_date"),
        isoDate(second.getField("o_orderdate")).as("second_date"))
      .orderBy(col("o_custkey"))
  }

  /** Conditional aggregates: count_if / every / some (bool_and /
    * bool_or in DuckDB). */
  def conditionalAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        count_if(col("o_totalprice") > 100000).as("n_big"),
        some(col("o_totalprice") > 400000).as("any_huge"),
        every(col("o_totalprice") > 0).as("all_positive"))
      .orderBy(col("o_orderstatus"))

  /** Bin-bucketed range join ([[RangeJoin.binnedContainment]]): events
    * against synthetic 4-hour maintenance windows every 6 hours —
    * equi-join on the time bin instead of a nested-loop theta join. */
  def rangeJoinBinned(s: SparkSession, dir: String): DataFrame = {
    val windows = s.range(0, 120).select(
      col("id").as("win_id"),
      expr("TIMESTAMP'2024-01-01 00:00:00' + make_interval(0,0,0,0,CAST(id*6 AS INT),0,0)")
        .as("win_start"),
      expr("TIMESTAMP'2024-01-01 00:00:00' + make_interval(0,0,0,0,CAST(id*6+4 AS INT),0,0)")
        .as("win_end"))
    RangeJoin.binnedContainment(
        t(s, dir, "events"), "ts", windows, "win_start", "win_end",
        binSeconds = 6 * 3600)
      .groupBy(col("win_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("total_value"))
      .orderBy(col("win_id"))
  }

  /** Skew-safe salted aggregation ([[SkewedAgg.saltedSum]]): decimal
    * partials make the two-stage result exactly equal to the direct
    * group-by, so the oracle is the plain SQL aggregate. */
  def saltedSpend(s: SparkSession, dir: String): DataFrame =
    SkewedAgg.saltedSum(
        t(s, dir, "orders"), "o_custkey",
        col("o_totalprice").cast(DecimalType(18, 2)), "spend", salts = 16)
      .select(col("o_custkey"), col("spend").cast("double").as("spend"))
      .orderBy(col("o_custkey"))

  /** Map-function surface: per-priority status→count maps built with
    * map_from_entries, then map_filter / transform_values / map_values /
    * aggregate over them. The oracle states the equivalent flat
    * aggregates (map ops over grouped counts reduce to plain SQL). */
  def statusMaps(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("o_orderpriority"))
      .agg(map_from_entries(
        array_sort(collect_list(struct(col("o_orderstatus"), col("n")))))
        .as("m"))
      .select(
        col("o_orderpriority"),
        size(col("m")).as("n_statuses"),
        size(map_filter(col("m"), (_, v) => v > 100)).as("n_common"),
        aggregate(map_values(transform_values(col("m"), (_, v) => v * 2)),
          lit(0L), (acc, v) => acc + v).as("doubled_total"))
      .orderBy(col("o_orderpriority"))

  /** Sketch percentiles with a correctness bound (same pattern as q47):
    * exact interpolated quantile plus a boolean asserting the
    * percentile_approx estimate lands within 1%. */
  def approxPercentileBound(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 2).as("p50_exact"),
        (abs(expr("percentile_approx(o_totalprice, 0.5, 10000)") -
          expr("percentile(o_totalprice, 0.5)")) /
          expr("percentile(o_totalprice, 0.5)") <= 0.01)
          .as("approx_within_1pct"))
      .orderBy(col("o_orderstatus"))

  /** Partition-pruned scan round trip: write orders Hive-partitioned by
    * year ([[graft.ingest.Ingest.savePartitioned]]), read back filtered
    * to one year, aggregate. The filter on the partition column prunes
    * at planning time (`PartitionFilters` in the plan; asserted in
    * ScaleOpsSpec) — only `yr=1998/` files are ever opened. The result
    * must equal the same aggregation with an ordinary row filter, which
    * is exactly what the oracle runs on the unpartitioned table. */
  def partitionPrunedScan(s: SparkSession, dir: String): DataFrame =
    graft.util.Tmp.withTempDir("q108_part_") { tmp =>
      val orders = t(s, dir, "orders")
        .withColumn("yr", year(col("o_orderdate")))
      graft.ingest.Ingest.savePartitioned(orders, tmp.toString, "yr")
      val res = s.read.parquet(tmp.toString)
        .filter(col("yr") === 1998)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          Tables.sumMoney(col("o_totalprice")).as("revenue"))
        .orderBy(col("o_orderstatus"))
      // materialize before the temp dir is deleted
      graft.util.LocalFrame.materialize(res)
    }

  /** Dynamic partition pruning (q108's runtime sibling): the fact side
    * is Hive-partitioned by year, but the year set to scan is only
    * knowable at RUNTIME — it comes from a dimension table filtered on a
    * non-partition attribute. Catalyst's DPP rule turns the broadcast
    * join's build side into a pruning subquery on the fact scan
    * (`dynamicpruningexpression` in PartitionFilters; asserted in
    * ScaleOpsSpec), so only the qualifying year directories are opened.
    * At 100 TB this is THE fact⋈dim pattern: "revenue for the dim rows
    * matching X" touches the matching partitions' files, not the whole
    * fact table. The oracle restates the join as a plain row filter. */
  /** Shared q115 scaffold (also used by ScaleOpsSpec's DPP assertion,
    * so the test describes exactly the oracle-checked query): write the year-
    * partitioned fact + the year→era dim under `tmp`, return the
    * era-filtered join. */
  private[graft] def dppJoinedFrame(s: SparkSession, dir: String,
                                    tmp: String): DataFrame = {
    val orders = t(s, dir, "orders")
      .withColumn("yr", year(col("o_orderdate")))
    graft.ingest.Ingest.savePartitioned(orders, s"$tmp/fact", "yr")
    orders.select(col("yr")).distinct()
      .withColumn("era",
        when(col("yr") >= 1998, lit("late")).otherwise(lit("early")))
      .write.parquet(s"$tmp/dim")
    s.read.parquet(s"$tmp/fact")
      .join(s.read.parquet(s"$tmp/dim").filter(col("era") === "late"),
        Seq("yr"))
  }

  def dynamicPartitionPruned(s: SparkSession, dir: String): DataFrame =
    graft.util.Tmp.withTempDir("q115_dpp_") { tmp =>
      val res = dppJoinedFrame(s, dir, tmp.toString)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          Tables.sumMoney(col("o_totalprice")).as("revenue"))
        .orderBy(col("o_orderstatus"))
      graft.util.LocalFrame.materialize(res)
    }

  /** Pipeline observability (`Dataset.observe` + `Observation`): data-
    * quality metrics ride the SAME pass as the real computation — the
    * observe node aggregates its inputs as they stream through, so row
    * counts and totals cost zero extra scans (vs. a separate validation
    * query doubling the I/O — the difference between one and two reads
    * of a 100 TB table). The observed metrics and the downstream result
    * are both pinned by the oracle. */
  def observedMetrics(s: SparkSession, dir: String): DataFrame = {
    val obs = org.apache.spark.sql.Observation("q122_obs")
    val downstream = t(s, dir, "orders")
      .observe(obs, count(lit(1)).as("n_rows"),
        Tables.sumMoney(col("o_totalprice")).as("total_price"))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    val nStatuses = downstream.count() // one action: metrics + result
    val m = obs.get
    import s.implicits._
    Seq((m("n_rows").asInstanceOf[Long],
        m("total_price").asInstanceOf[Double], nStatuses))
      .toDF("n_rows", "total_price", "n_statuses")
  }

  /** q187: JSON-lines ingest round trip — the interchange format every
    * crawl/annotation pipeline ships (documents.jsonl): the corpus is
    * staged as JSONL (`write.json`, one object per line), read back
    * with an EXPLICIT schema (no inference pass — at 100 TB schema
    * inference is a full extra scan), and proven lossless against the
    * parquet original by per-lang counts + text-md5 checksums. The
    * oracle computes the same aggregates from the source table, so any
    * quoting/escaping/precision loss in the round trip breaks the
    * hash match. */
  def jsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    graft.util.Tmp.withTempDir("graft_q187_jsonl") { stage =>
      val path = new java.io.File(stage.toString, "docs.jsonl").toString
      d.write.json(path)
      val back = s.read.schema(d.schema).json(path)
      graft.util.LocalFrame.materialize(
        back.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(md5(col("text"))).as("distinct_text"),
            min(md5(col("text"))).as("min_md5"),
            sum(col("n_chars")).as("total_chars"))
          .orderBy(col("lang")))
    }
  }

  /** q232: ORC ingest round trip with partitioned layout — the third
    * interchange format next to parquet (everywhere) and JSONL (q187):
    * orders staged as ORC partitioned by o_orderstatus, read back, and
    * a status+price slice aggregated per order year. The status filter
    * resolves at the DIRECTORY level (partition pruning — non-F files
    * are never opened) and the price predicate pushes into the ORC
    * reader's stripe stats; OrcRoundtripSpec pins both plan facts. The
    * oracle restates the slice from the parquet original, so any
    * type/precision loss in the ORC writer/reader breaks the match. */
  def orcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    graft.util.Tmp.withTempDir("graft_q232_orc") { stage =>
      val path = new java.io.File(stage.toString, "orders_orc").toString
      o.write.partitionBy("o_orderstatus").orc(path)
      val back = s.read.orc(path)
        .filter(col("o_orderstatus") === "F" &&
          col("o_totalprice") > 100000.0)
      graft.util.LocalFrame.materialize(
        back.groupBy(year(col("o_orderdate")).cast("long").as("yr"))
          .agg(count(lit(1)).as("n_orders"),
            graft.Tables.sumMoney(col("o_totalprice")).as("revenue"),
            countDistinct(col("o_custkey")).as("n_custs"))
          .orderBy(col("yr")))
    }
  }

  /** Shared (table, columns) inventory for q243 — ONE list drives both
    * the Spark aggregation and the generated oracle SQL, so the two
    * sides cannot drift. */
  private val profileCols: Seq[(String, Seq[String])] = Seq(
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority"),
    "events" -> Seq("event_id", "ts", "user_id", "event_type", "value",
      "props"),
    "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"))

  /** q243: warehouse column profile — the ANALYZE-style completeness
    * report every ingest pipeline runs first: per column, row count,
    * null count, and EXACT distinct count, across three tables in one
    * wide aggregate per table (Spark plans the multi-distinct as one
    * Expand pass — one scan per table, not one per column). The 17-row
    * result is assembled driver-side from each table's single aggregate
    * row; the oracle SQL is GENERATED from the same (table, columns)
    * list the Spark side iterates, so coverage cannot silently
    * diverge. EXACT countDistinct is the declared ANALYZE semantic the
    * oracle can replay; the 100 TB profile swaps each `countDistinct`
    * for `approx_count_distinct` (HLL — the q47/q97/q112 exact+sketch
    * pairing), turning the Expand pass's per-distinct shuffle state
    * into fixed-size sketch buffers with everything else unchanged. */
  def columnProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // independent per-table profile aggregates — overlap them
    // (guide §2.6); each is one action, order preserved by Par.map
    val rows = graft.util.Par.map(profileCols) { case (t0, cols) =>
      val df = Tables.load(s, dir, t0)
      val aggs = Seq(count(lit(1)).as("n_rows")) ++ cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
        countDistinct(col(c)).as(s"nd_$c")))
      val one = df.agg(aggs.head, aggs.tail: _*).head()
      cols.zipWithIndex.map { case (c, i) =>
        (t0, c, one.getLong(0), one.getLong(1 + 2 * i),
          one.getLong(2 + 2 * i))
      }
    }.flatten
    rows.toDF("tbl", "col_name", "n_rows", "n_nulls", "n_distinct")
      .orderBy(col("tbl"), col("col_name"))
  }

  /** Generated oracle for q243 (see [[profileCols]]). */
  private def columnProfileOracle: String = {
    val ctes = profileCols.map { case (t0, cols) =>
      val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
        Seq(s"CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)" +
            s" AS nn_$i",
          s"count(DISTINCT $c) AS nd_$i")
      }.mkString(", ")
      s"agg_$t0 AS (SELECT count(*) AS n, $aggs FROM $t0)"
    }.mkString("WITH ", ", ", "")
    val arms = profileCols.flatMap { case (t0, cols) =>
      cols.zipWithIndex.map { case (c, i) =>
        s"SELECT '$t0' AS tbl, '$c' AS col_name, n AS n_rows, " +
          s"nn_$i AS n_nulls, nd_$i AS n_distinct FROM agg_$t0"
      }
    }.mkString(" UNION ALL ")
    s"$ctes SELECT * FROM ($arms) ORDER BY tbl, col_name"
  }

  /** Candidate functional dependencies for q245 — one shared list drives
    * the Spark checks and the generated oracle (q243's pattern). Mix of
    * dependencies that HOLD (keys, 1:1 codes) and ones that genuinely
    * FAIL on this data, so both verdict branches are exercised. */
  private val fdCandidates: Seq[(String, String, String)] = Seq(
    ("orders", "o_orderkey", "o_custkey"),       // PK → anything: holds
    ("nation", "n_nationkey", "n_name"),         // 1:1 code table: holds
    ("orders", "o_custkey", "o_orderstatus"),    // fails: many orders/cust
    ("lineitem", "l_orderkey", "l_suppkey"),     // fails: multi-line orders
    ("customer", "c_custkey", "c_mktsegment"))   // PK → attr: holds

  /** q245: functional-dependency discovery — the schema-inference probe
    * data catalogs run after q243's column profile: does column A
    * determine column B? Checked exactly as `max distinct B per A
    * group == 1`, one aggregate per candidate (groupBy A, countDistinct
    * B, then a 1-row rollup of group/violation counts — two exchanges
    * per candidate, partials absorb the scan). The candidate list mixes
    * dependencies that hold with ones that fail so both verdict branches
    * are live, and the oracle SQL is GENERATED from the same list. */
  def fdCheck(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the 5 candidate checks are independent single-row actions —
    // overlap them (guide §2.6) instead of idling the cluster on each
    // job's tail; result order is the candidate order either way
    val rows = graft.util.Par.map(fdCandidates) { case (t0, a, b) =>
      val per = Tables.load(s, dir, t0)
        .groupBy(col(a)).agg(countDistinct(col(b)).as("ndb"))
      val r = per.agg(count(lit(1)).as("n_groups"),
        sum(when(col("ndb") > 1, 1L).otherwise(0L)).as("n_violating"))
        .head()
      (t0, a, b, r.getLong(0), r.getLong(1), r.getLong(1) == 0L)
    }
    rows.toDF("tbl", "det", "dep", "n_groups", "n_violating", "holds")
      .orderBy(col("tbl"), col("det"), col("dep"))
  }

  /** Generated oracle for q245 (see [[fdCandidates]]). */
  private def fdCheckOracle: String = {
    val arms = fdCandidates.map { case (t0, a, b) =>
      s"""SELECT '$t0' AS tbl, '$a' AS det, '$b' AS dep,
         |       count(*) AS n_groups,
         |       CAST(sum(CASE WHEN ndb > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_violating,
         |       CAST(sum(CASE WHEN ndb > 1 THEN 1 ELSE 0 END) = 0
         |            AS BOOLEAN) AS holds
         |FROM (SELECT $a, count(DISTINCT $b) AS ndb FROM $t0
         |      GROUP BY $a)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"SELECT * FROM (\n$arms)\nORDER BY tbl, det, dep"
  }

  /** q188: malformed-record handling on the CSV ingest path (S1's
    * fault-tolerant form): a staged file carries one broken line (a
    * non-numeric key — a type failure; the CSV reader silently ignores
    * surplus tokens, so extra columns are NOT malformed) for every
    * nationkey divisible by 5. PERMISSIVE mode lands
    * them in `_corrupt` (count + clean rows both checked),
    * DROPMALFORMED silently drops them, FAILFAST throws — the three
    * contracts a production ingest chooses between. Counts derive from
    * nation, so the oracle restates them from the table; at scale this
    * is the quarantine pattern: corrupt rows routed to a dead-letter
    * column, never lost, never poisoning types. */
  def csvMalformed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = t(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
      .orderBy(col("n_nationkey"))
      .collect()
      .map(r => (r.get(0).toString.toLong, r.getString(1)))
    graft.util.Tmp.withTempDir("graft_q188_csv") { stage =>
      val f = new java.io.File(stage.toString, "nations.csv")
      val w = new java.io.PrintWriter(f, "UTF-8")
      try {
        w.println("key,name")
        rows.foreach { case (k, n) =>
          if (k % 5 == 0) w.println(s"NOT_A_NUMBER_$k,$n")
          else w.println(s"$k,$n")
        }
      } finally w.close()
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("key",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_corrupt",
          org.apache.spark.sql.types.StringType)))
      def readMode(m: String) = s.read
        .option("header", "true").option("mode", m)
        .option("columnNameOfCorruptRecord", "_corrupt")
        .schema(schema).csv(f.toString)
      // Spark disallows plans whose only referenced column is the
      // corrupt-record column; one aggregate that also touches `key`
      // satisfies the restriction and counts both sides in one pass
      val counts = readMode("PERMISSIVE").agg(
        count(col("key")).as("n_keys"),
        count(lit(1)).as("n_total"),
        sum(when(col("_corrupt").isNotNull, 1L).otherwise(0L))
          .as("n_corrupt")).head()
      val nCorrupt = counts.getLong(2)
      val nClean = counts.getLong(1) - nCorrupt
      // DROPMALFORMED/FAILFAST probe with the STRICT 2-column schema
      // (declaring the corrupt sink gives malformed rows a home and
      // defuses both modes) and must COUNT THE FAILING COLUMN — column
      // pruning means an unreferenced `key` never parses, so a bare
      // count(*) (or counting only `name`) sees no failure at all
      val strict = org.apache.spark.sql.types.StructType(
        schema.fields.filterNot(_.name == "_corrupt"))
      def strictRead(m: String) = s.read
        .option("header", "true").option("mode", m)
        .schema(strict).csv(f.toString)
      val nDropped = strictRead("DROPMALFORMED")
        .agg(count(col("key"))).head().getLong(0)
      // typed probe: FAILFAST's documented throw is a SparkException
      // whose cause chain names the malformed records — anything else
      // (an NPE, a misconfigured path) rethrows instead of counting
      val failfastThrows =
        try { strictRead("FAILFAST").agg(count(col("key"))).head(); false }
        catch { case e: org.apache.spark.SparkException =>
          val msgs = Iterator.iterate(e: Throwable)(_.getCause)
            .takeWhile(_ != null).take(10)
            .flatMap(t => Option(t.getMessage)).mkString(" | ")
          if (msgs.toLowerCase.contains("malformed")) true else throw e
        }
      Seq((rows.length.toLong, nClean, nCorrupt, nDropped, failfastThrows))
        .toDF("n_rows", "n_clean", "n_corrupt", "n_dropmalformed",
          "failfast_throws")
    }
  }

  /** q194: SCD Type-2 dimension build — the warehouse pattern for
    * tracking attribute history: every change becomes a dated row with
    * `valid_from`/`valid_to` and exactly one current row per key. The
    * change feed is derived deterministically (every 7th customer moves
    * to PROMO mid-1996; every 21st moves again to VIP in 1997, so some
    * keys carry three generations), and the SCD2 shape falls out of one
    * window pass: `valid_to` = next change minus a day, `is_current` =
    * no successor. This full-rebuild form is one shuffle per key-date
    * sort; the INCREMENTAL maintenance of the same table is the MERGE
    * surface (q155/q156 — match on key AND is_current, expire + insert).
    * Output restricted to the changed slice to stay bounded. */
  def scd2Dimension(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cust = Tables.load(s, dir, "customer")
    val base = cust.select(col("c_custkey"),
      col("c_mktsegment").as("segment"),
      to_date(lit("1995-01-01")).as("valid_from"))
    val upd1 = cust.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"), lit("PROMO").as("segment"),
        to_date(lit("1996-06-01")).as("valid_from"))
    val upd2 = cust.filter(col("c_custkey") % 21 === 0)
      .select(col("c_custkey"), lit("VIP").as("segment"),
        to_date(lit("1997-01-01")).as("valid_from"))
    val w = Window.partitionBy(col("c_custkey")).orderBy(col("valid_from"))
    base.union(upd1).union(upd2)
      .withColumn("valid_to",
        date_sub(lead(col("valid_from"), 1).over(w), 1))
      .withColumn("is_current", col("valid_to").isNull)
      .filter(col("c_custkey") % 7 === 0)
      .orderBy(col("c_custkey"), col("valid_from"))
  }

  /** q202: schema evolution on the parquet lake path — an early batch
    * written without `o_orderpriority` (the column arrives in a later
    * generation), read back as ONE table via `mergeSchema`, with the
    * union-by-name null semantics aggregated per status. This is the
    * contract every long-lived lake table relies on: old files stay
    * valid, new columns read as NULL from them, and footer-level schema
    * merging happens at planning time (per-file footers, no data pass).
    * At scale mergeSchema costs one footer read per file — bounded by
    * file count, not rows — and the batches stay separately prunable.
    * Split is deterministic (orderkey parity) so the oracle restates
    * the merged view straight from `orders`. */
  def schemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    graft.util.Tmp.withTempDir("graft_q202_evo") { stage =>
      val base = stage.toString
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .write.parquet(s"$base/batch=old")
      o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          col("o_orderpriority"))
        .write.parquet(s"$base/batch=new")
      val merged = s.read.option("mergeSchema", "true").parquet(base)
      graft.util.LocalFrame.materialize(
        merged.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_rows"),
            count(col("o_orderpriority")).as("n_with_prio"),
            countDistinct(col("o_orderpriority")).as("n_prios"),
            Tables.sumMoney(col("o_totalprice")).as("total_price"))
          .orderBy(col("o_orderstatus")))
    }
  }

  /** q206: join-key skew profile — the diagnostic you run BEFORE
    * choosing between q72's static salting and q139's AQE skew join:
    * per-key frequency distribution of orders.o_custkey summarized as
    * top-1/top-10 share and the Gini coefficient of key weights. Scale
    * shape: one groupBy(key) shrinks the data to distinct keys, but
    * keys still scale with the data — so the Gini rank comes from
    * [[graft.operators.GlobalRank]]'s range-exchange two-pass
    * enumeration (identical to `row_number()` for this total order),
    * not a single-partition window. All sums are exact integers; only
    * the final ratios divide. */
  /** q226: join-cardinality estimation report — the NDV formula a
    * cost-based optimizer trusts when sizing an equi-join:
    * |A ⋈ B| ≈ |A|·|B| / max(ndv_A(k), ndv_B(k)), exact under
    * per-key uniformity. Three probes: two FK joins where the
    * assumption holds (ratio ≈ 1) and the skewed `documents.lang`
    * self-join where it visibly under-estimates — the case that makes
    * a planner pick the wrong side to broadcast. Self-join actuals come
    * from Σ c² over per-key counts (the join size, no join executed).
    *
    * Scale: exact NDV aggregates here (HLL — q47 — is the sketch path);
    * the diagnostic itself is two scans per probe. */
  def joinCardEst(s: SparkSession, dir: String): DataFrame = {
    def fkProbe(label: String, a: DataFrame, ka: String,
                b: DataFrame, kb: String): DataFrame = {
      val sa = a.agg(count(lit(1)).as("na"),
        countDistinct(col(ka)).as("da"))
      val sb = b.agg(count(lit(1)).as("nb"),
        countDistinct(col(kb)).as("db"))
      val actual = a.join(b, col(ka) === col(kb))
        .agg(count(lit(1)).as("actual"))
      sa.crossJoin(sb).crossJoin(actual).select(
        lit(label).as("join_name"),
        expr("CAST(floor(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / greatest(da, db)) AS BIGINT)")
          .as("estimated"),
        col("actual"),
        round(expr("CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / greatest(da, db)") /
          col("actual"), 4).as("est_over_actual"))
    }
    def selfProbe(label: String, a: DataFrame, k: String): DataFrame = {
      val per = a.groupBy(col(k)).agg(count(lit(1)).as("c"))
      // c*c through DECIMAL: LongType multiply silently wraps past 2^63
      // (non-ANSI) where DuckDB promotes — a skewed key with ~3e9 rows
      // would diverge the engines. Same rule as every exact money sum.
      per.agg(sum(col("c")).as("na"), count(lit(1)).as("da"),
          sum(col("c").cast(DecimalType(20, 0)) * col("c"))
            .cast("long").as("actual"))
        .select(lit(label).as("join_name"),
          expr("CAST(floor(CAST(na AS DOUBLE) * CAST(na AS DOUBLE) / da) AS BIGINT)")
            .as("estimated"),
          col("actual"),
          round(expr("CAST(na AS DOUBLE) * CAST(na AS DOUBLE) / da") /
            col("actual"), 4).as("est_over_actual"))
    }
    fkProbe("lineitem_orders", t(s, dir, "lineitem"), "l_orderkey",
        t(s, dir, "orders"), "o_orderkey")
      .unionAll(fkProbe("orders_customer", t(s, dir, "orders"),
        "o_custkey", t(s, dir, "customer"), "c_custkey"))
      .unionAll(selfProbe("documents_lang_self",
        Tables.load(s, dir, "documents"), "lang"))
      .orderBy(col("join_name"))
  }

  def keySkewProfile(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "orders")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("c"))
    val ranked = graft.operators.GlobalRank.withGlobalRank(
      counts, Seq(col("c"), col("o_custkey")), "i")
    val topShares = counts.orderBy(col("c").desc, col("o_custkey"))
      .limit(10)
      .agg(max(col("c")).as("top1"), sum(col("c")).as("top10"))
    ranked.agg(
        count(lit(1)).as("n_keys"),
        sum(col("c")).as("n_rows"),
        sum(col("i") * col("c")).as("iwsum"))
      .crossJoin(broadcast(topShares))
      .select(col("n_keys"), col("n_rows"),
        round(col("top1").cast("double") / col("n_rows"), 6)
          .as("top1_share"),
        round(col("top10").cast("double") / col("n_rows"), 6)
          .as("top10_share"),
        round(lit(2.0) * col("iwsum") /
          (col("n_keys").cast("double") * col("n_rows")) -
          (col("n_keys") + 1).cast("double") / col("n_keys"), 6)
          .as("gini"))
  }

  /** q207: cross-engine reconciliation checksums — the replication /
    * migration validator: an order-insensitive content checksum per
    * table (SUM of a 32-bit md5 prefix over a canonical row rendering)
    * that any engine can recompute independently; equal checksums ⇔
    * equal content with overwhelming probability. The rendering pins
    * ints, DECIMAL(18,2) money, and ISO dates — formats both engines
    * print identically. Scale shape: embarrassingly parallel map +
    * one mergeable SUM per table; no shuffle at all (partial sums
    * combine associatively — this is how you checksum 100 TB). */
  def tableChecksums(s: SparkSession, dir: String): DataFrame = {
    def sig(c: Column): Column =
      sum(conv(substring(md5(c), 1, 8), 16, 10).cast("long"))
    def dec(c: Column): Column =
      c.cast(DecimalType(18, 2)).cast("string")
    val o = t(s, dir, "orders").agg(
      count(lit(1)).as("n_rows"),
      sig(concat_ws("|", col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), dec(col("o_totalprice")),
        date_format(col("o_orderdate"), "yyyy-MM-dd"),
        col("o_orderpriority"))).as("checksum"))
      .select(lit("orders").as("table_name"), col("n_rows"), col("checksum"))
    val c = t(s, dir, "customer").agg(
      count(lit(1)).as("n_rows"),
      sig(concat_ws("|", col("c_custkey"), col("c_name"),
        col("c_nationkey"), dec(col("c_acctbal")), col("c_mktsegment")))
        .as("checksum"))
      .select(lit("customer").as("table_name"), col("n_rows"),
        col("checksum"))
    val l = t(s, dir, "lineitem").agg(
      count(lit(1)).as("n_rows"),
      sig(concat_ws("|", col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag"), dec(col("l_extendedprice")),
        date_format(col("l_shipdate"), "yyyy-MM-dd"))).as("checksum"))
      .select(lit("lineitem").as("table_name"), col("n_rows"),
        col("checksum"))
    o.union(c).union(l).orderBy(col("table_name"))
  }

  /** q213: trend-break alerting — monthly revenue with a lag chain
    * flagging strict 3-month declines (this month < last < the one
    * before). The monitoring rule a pipeline runs after each load.
    * Monthly totals are exact decimal sums (order-insensitive), the
    * lag chain is one months-bounded window — scale-free after the
    * first aggregate. */
  def declineAlerts(s: SparkSession, dir: String): DataFrame = {
    val monthly = t(s, dir, "orders")
      .groupBy(date_format(date_trunc("month", col("o_orderdate")),
        "yyyy-MM-dd").as("month"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
    val w = Window.orderBy(col("month"))
    monthly
      .withColumn("rev_1", lag(col("rev"), 1).over(w))
      .withColumn("rev_2", lag(col("rev"), 2).over(w))
      .select(col("month"), col("rev").cast("double").as("revenue"),
        (col("rev_1").isNotNull && col("rev_2").isNotNull &&
          col("rev") < col("rev_1") && col("rev_1") < col("rev_2"))
          .as("decline_alert"))
      .orderBy(col("month"))
  }

  /** The co-purchase frequent-pair list shared by q252/q258/q283/q284:
    * part pairs sharing ≥ 2 order baskets, with their exact support.
    * The order-keyed basket self-join that builds it is the dominant
    * cost of all four graph queries, so it is a MATERIALIZED SHARED
    * ARTIFACT, exactly what a production pipeline does at 100 TB:
    *
    *  - the first toucher of a dataset builds the pair list once and
    *    commits it as a [[graft.sources.LakeTable]] (one versioned
    *    table per dataset fingerprint, under the JVM temp dir);
    *  - every later toucher — including later PROCESSES over the same
    *    dataset — reads the committed table instead of re-running the
    *    basket self-join (q313 oracle-checks the artifact itself);
    *  - within a process, a JVM-level replay cache short-circuits even
    *    the read: the support-thresholded list (3.6k rows at sf0.1 —
    *    orders of magnitude below the item-pair space, by the Apriori
    *    bound) replays as a LocalRelation, so consumers broadcast it
    *    for free and the BFS/LPA rounds re-scan it at zero cost. At a
    *    scale where the list outgrows a broadcast, consumers swap the
    *    replay for `LakeTable.read(root)` + a shuffle join — the
    *    artifact table is already the right shape for that.
    *
    * Apriori's pruning property is applied inside the build exactly as
    * q252 documents: items below the support floor can never appear in
    * a frequent pair, so the (vocab-bounded) frequent-item list
    * broadcast-semi-joins the basket table down BEFORE pairing.
    * The artifact key fingerprints the dataset (canonical path +
    * lineitem mtime/size), so a regenerated dataset gets a fresh
    * build, never a stale list. */
  private val coPairCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[org.apache.spark.sql.Row], org.apache.spark.sql.types.StructType)]()

  /** Root of the shared lake-table artifact for `dir`'s co-purchase
    * pairs; builds and commits the table if this dataset has none yet.
    * Concurrent first-touchers race on the commit; the loser reads the
    * winner's version (any committed version is the same list — the
    * build is deterministic). */
  private def coPairArtifactRoot(dir: String): String = {
    val canon = new java.io.File(dir).getCanonicalPath
    val li = new java.io.File(canon, "lineitem.parquet")
    val fp = java.lang.Long.toHexString(
      31L * li.lastModified() + li.length())
    val hash = java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_artifacts/copair_${hash}_$fp").getPath
  }

  private[queries] def coPurchaseArtifact(s: SparkSession, dir: String): String = {
    val root = coPairArtifactRoot(dir)
    if (graft.sources.LakeTable.latestVersion(s, root).isEmpty) {
      val items = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      // Apriori prune at the artifact's own floor (supp ≥ 2): an item
      // in fewer than 2 baskets cannot be in a pair sharing 2 baskets
      val frequent = items.groupBy(col("pk"))
        .agg(count(lit(1)).as("si")).filter(col("si") >= 2)
        .select(col("pk"))
      val pruned = items.join(broadcast(frequent), Seq("pk"), "left_semi")
      // pair generation as ONE shuffle of the basket items (groupBy
      // order, in-array ordered-pair explode) instead of the self-join
      // that shuffled the same item list TWICE by orderkey (guide §2.3
      // — shuffle fewer bytes); identical pair multiset: items are
      // distinct per order and the sorted array's (i < j) pairs are
      // exactly the a.pk < b.pk join pairs. Per-order fanout stays
      // ≤ B²/2 map-side, absorbed by the partial aggregate.
      val df = pruned.groupBy(col("ok"))
        .agg(sort_array(collect_list(col("pk"))).as("items"))
        .select(explode(expr(
          "flatten(transform(items, (x, i) -> " +
            "transform(slice(items, i + 2, size(items)), " +
            "y -> struct(x AS x, y AS y))))")).as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(count(lit(1)).as("supp")).filter(col("supp") >= 2)
      try graft.sources.LakeTable.create(s, root, df)
      catch { case e: Exception =>
        // lost the create race — any committed version serves
        if (graft.sources.LakeTable.latestVersion(s, root).isEmpty) throw e
      }
    }
    root
  }

  /** q251a: the co-purchase artifact BUILD, isolated on its own bench
    * line (the name sorts between q251 and q252, so in the
    * alphabetical bench order this query pays the basket self-join and
    * q252/q258/q283/q284 measure as pure consumers of the committed
    * table). It force-rebuilds — drop artifact, build, commit, read
    * back — so the line prices the build deterministically every
    * round, then oracle-checks the committed list itself: pair count,
    * support mass, max support, and the part vocabulary touched.
    * Scale: the build is the one shuffle-heavy step of the graph pack
    * (shuffle ∝ |baskets|, per-order fanout ≤ B²/2); everything
    * downstream reads the ~3.6k-row table. */
  def copairArtifactBuild(s: SparkSession, dir: String): DataFrame = {
    val key = new java.io.File(dir).getCanonicalPath
    coPairCache.remove(key)
    val probe = new java.io.File(coPairArtifactRoot(dir))
    if (probe.exists()) graft.util.Tmp.deleteRecursively(probe.toPath)
    val pairs = graft.sources.LakeTable.read(s, coPurchaseArtifact(s, dir))
    val parts = pairs.select(col("x").as("v"))
      .unionAll(pairs.select(col("y").as("v")))
    import s.implicits._
    val a = pairs.agg(count(lit(1)).as("n"), sum(col("supp")).as("sm"),
      max(col("supp")).as("mx")).head()
    val np = parts.distinct().count()
    graft.util.LocalFrame.materialize(Seq(
      ("max_supp", a.getLong(2)),
      ("n_pairs", a.getLong(0)),
      ("n_parts", np),
      ("sum_supp", a.getLong(1))
    ).toDF("fact", "n").orderBy(col("fact")))
  }

  private[graft] def coPurchasePairs(s: SparkSession, dir: String): DataFrame = {
    val key = new java.io.File(dir).getCanonicalPath
    val (rows, schema) = coPairCache.computeIfAbsent(key, _ => {
      val df = graft.sources.LakeTable.read(s, coPurchaseArtifact(s, dir))
      (df.collect(), df.schema)
    })
    graft.util.LocalFrame.of(s, rows, schema)
  }

  /** The symmetric (both-direction) edge view of [[coPurchasePairs]]. */
  private def coPurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    val pairs = coPurchasePairs(s, dir).select(col("x"), col("y"))
    pairs.select(col("x").as("u"), col("y").as("v"))
      .unionAll(pairs.select(col("y").as("u"), col("x").as("v")))
  }

  /** q283: community detection by synchronous label propagation
    * (Raghavan, Albert & Kumara 2007) on the co-purchase part graph
    * (q252/q258's edge set) — the cheap community signal ("product
    * families that sell together") every catalog clustering feature
    * starts from, and the LPA complement of the connectivity ops in
    * dedup/Components.scala (components answer "reachable?"; LPA
    * answers "densely together?").
    *
    * Determinism: the PAPER's asynchronous sweep is order-dependent by
    * construction, so this runs the synchronous variant with a total
    * tie order — each round every node adopts its neighbors' most
    * frequent label, ties broken toward the SMALLEST label — for a
    * fixed two rounds. Every step is integer (labels are part keys,
    * counts are exact), so Spark and the oracle's two unrolled SQL
    * rounds agree bit-for-bit on every assignment.
    *
    * Scale shape: one round = one equi-join of edges with the label
    * frame on the neighbor key + two hash aggregates (count per
    * (node,label), then argmax-with-min-tie as max(struct(c,-lbl)) —
    * never a window, never a collect). O(|E|) shuffle per round,
    * driver state zero. The edge subtree appears in both rounds and
    * the node init; within the single execution Spark's ReusedExchange
    * evaluates it once. */
  def labelPropagation(s: SparkSession, dir: String): DataFrame = {
    val e = coPurchaseEdges(s, dir)
    // the edge frame is the bounded local replay (coPurchasePairs —
    // the same guard class as bfsHops): under the BFS cutoff the two
    // synchronous LPA rounds fold on the driver in identical integer
    // arithmetic (count per (node, label), argmax with min-label tie =
    // max(struct(c, -lbl))) instead of 2 join+agg job rounds over a
    // LocalRelation; a data-sized edge list keeps the distributed loop.
    val eArr = e.select(col("u").cast("long"), col("v").cast("long"))
      .limit(BfsDistributedMinEdges.toInt + 1).collect()
    if (eArr.length <= BfsDistributedMinEdges) {
      val edges = eArr.map(r => (r.getLong(0), r.getLong(1)))
      var lbl: Map[Long, Long] =
        edges.iterator.map(_._1).toSeq.distinct.map(v => v -> v).toMap
      for (_ <- 1 to 2) {
        val counts = new scala.collection.mutable.HashMap[(Long, Long), Long]()
        edges.foreach { case (u, v) =>
          val k = (u, lbl(v))
          counts.update(k, counts.getOrElse(k, 0L) + 1L)
        }
        lbl = counts.toSeq
          .groupBy(_._1._1)
          .map { case (u, cs) =>
            u -> cs.map { case ((_, l), c) => (c, -l) }.max._2.unary_-
          }
      }
      import org.apache.spark.sql.types._
      return graft.util.LocalFrame.of(s,
        lbl.toSeq.sortBy(_._1)
          .map { case (v, l) => org.apache.spark.sql.Row(v, l) }.toArray,
        StructType(Seq(StructField("part_id", LongType, nullable = false),
          StructField("community", LongType, nullable = false))))
    }
    var labels = e.select(col("u").as("v")).distinct()
      .withColumn("lbl", col("v"))
    for (_ <- 1 to 2) {
      val cnt = e.join(labels, Seq("v"))
        .groupBy(col("u"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      labels = cnt.groupBy(col("u")).agg(
          max(struct(col("c").as("c"), (-col("lbl")).as("neg"))).as("m"))
        .select(col("u").as("v"), (-col("m.neg")).as("lbl"))
    }
    labels.select(col("v").as("part_id"), col("lbl").as("community"))
      .orderBy(col("part_id"))
  }

  /** q284: multi-source BFS hop distances (the "blast radius" /
    * lineage-reach query) on the co-purchase graph — minimum hops from
    * any Brand#4 part to every other part, frontier-expanded three
    * rounds, reported as the distance histogram plus the unreachable
    * remainder. The iterative-BFS shape under every recall/impact
    * analysis ("what does this recalled part sell with, transitively?").
    *
    * Scale shape — textbook frontier BFS, the Pregel iteration done
    * with relational ops: round k joins the previous frontier with the
    * edge list (one equi-join, O(frontier-degree) shuffle) and
    * anti-joins the visited-so-far set — never a data-sized window or
    * collect. The expensive part is the BASKET SELF-JOIN that builds
    * the edge table; it comes from the session-scoped
    * [[coPurchasePairs]] cache (paid once per dataset per JVM, shared
    * with q252/q258/q283), so this query costs only its own rounds.
    * Round-10 A/B at sf0.1 (PLANS.md): per-query persist+count priming
    * re-paid the self-join inside the query every run (12.4 s
    * in-suite, 15.8 s isolated min-of-2); the shared cache drops the
    * query to the cost of three joins over the 7k-row local edge frame.
    * BOTH visited-set postures are BUILT and selected by a size guard
    * ([[BfsDistributedMinEdges]], [[bfsHopsPath]]): small graphs run
    * the bounded-local-frame rounds (re-scans free), large graphs run
    * the persisted-distributed-frame loop over the lake artifact's
    * edges with ZERO driver rows (q236's discipline) — identical
    * results by construction, pinned equal in GraphOpsSpec. The final
    * left-outer histogram fold lands reach, per-hop counts, and the
    * unreachable remainder (coalesce → −1) in a single ≤ 5-row
    * aggregate. Distances are exact integers: both engines agree
    * bit-for-bit with the oracle's three unrolled frontier rounds. */
  /** Edge count above which [[bfsHops]] switches from the local-frame
    * rounds to the fully distributed loop: 2M edges ≈ tens of MB as a
    * LocalRelation — past broadcast comfort, and past the point where
    * re-scanning a local frame per round beats cluster-side state. */
  private[graft] val BfsDistributedMinEdges = 2000000L

  def bfsHops(s: SparkSession, dir: String): DataFrame = {
    // the pair list is already a bounded local replay (X236); its size
    // is the guard — no extra job
    val nEdges = 2L * coPurchasePairs(s, dir).count()
    bfsHopsPath(s, dir, distributed = nEdges >= BfsDistributedMinEdges)
  }

  /** Both BFS engines behind [[bfsHops]]'s size guard, identical
    * results by construction (GraphOpsSpec pins them equal and pins
    * the guard's selection):
    *  - LOCAL (small graphs): the visited set materializes as a
    *    bounded LocalRelation per round — re-scans are free, no
    *    cluster state;
    *  - DISTRIBUTED (the 100 TB path): edges come straight from the
    *    shared lake artifact table (never collected), the visited
    *    frame stays a persisted cluster-side DataFrame, and each round
    *    is one equi-join + one anti-join + a checkpoint-grade persist
    *    swap — driver traffic is ZERO rows (q236's discipline); the
    *    final histogram is the only thing that leaves the cluster. */
  private[graft] def bfsHopsPath(s: SparkSession, dir: String,
                                   distributed: Boolean): DataFrame = {
    val e =
      if (!distributed) coPurchaseEdges(s, dir)
      else {
        val pairs = graft.sources.LakeTable
          .read(s, coPurchaseArtifact(s, dir)).select(col("x"), col("y"))
        pairs.select(col("x").as("u"), col("y").as("v"))
          .unionAll(pairs.select(col("y").as("u"), col("x").as("v")))
      }
    val nodes = e.select(col("u").as("v")).distinct()
    val src = nodes.join(broadcast(t(s, dir, "part")
        .filter(col("p_brand") === "Brand#4")
        .select(col("p_partkey").as("v"))), Seq("v"))
    if (!distributed) {
      // fully driver-side BFS: the guard already established the edge
      // list is a bounded local replay, so the per-round Spark jobs of
      // the old LocalRelation loop (join + distinct + anti-join +
      // materialize, ×3 rounds) were pure overhead. One bounded collect
      // for the seed set (nodes ∩ Brand#4 parts — the only distributed
      // input), then 3 BFS layers over the local adjacency map;
      // identical layer semantics (min hop, unvisited = -1).
      val eArr = e.select(col("u").cast("long"), col("v").cast("long"))
        .collect()
      val adj = eArr.groupBy(_.getLong(0))
        .map { case (u, rs) => u -> rs.map(_.getLong(1)) }
      val nodeSet = eArr.iterator.map(_.getLong(0)).toSet
      val srcArr = src.select(col("v").cast("long")).collect()
        .map(_.getLong(0))
      val dist = scala.collection.mutable.HashMap[Long, Long]()
      srcArr.foreach(v => dist.update(v, 0L))
      var frontier: Seq[Long] = srcArr.toSeq
      for (k <- 1 to 3) {
        val next = frontier.flatMap(u => adj.getOrElse(u, Array.empty[Long]))
          .distinct.filterNot(dist.contains)
        next.foreach(v => dist.update(v, k.toLong))
        frontier = next
      }
      val hist = nodeSet.toSeq
        .groupBy(v => dist.getOrElse(v, -1L))
        .map { case (d, vs) => (d, vs.size.toLong) }
        .toSeq.sortBy(_._1)
      import org.apache.spark.sql.types._
      graft.util.LocalFrame.of(s,
        hist.map { case (d, n) => org.apache.spark.sql.Row(d, n) }.toArray,
        StructType(Seq(StructField("dist", LongType, nullable = false),
          StructField("n_parts", LongType, nullable = false))))
    } else {
      var visited = src.withColumn("dist", lit(0L)).persist()
      visited.count() // pin before the loop references it twice
      val retired = scala.collection.mutable.ListBuffer(visited)
      for (k <- 1 to 3) {
        val next = e.join(visited.filter(col("dist") === (k - 1))
            .select(col("v").as("u")), Seq("u"))
          .select(col("v")).distinct()
          .join(visited, Seq("v"), "left_anti")
          .withColumn("dist", lit(k.toLong))
        val nv = visited.unionAll(next).persist()
        nv.count() // cut lineage growth: each round reads ONE persist
        retired += nv
        visited = nv
      }
      val out = graft.util.LocalFrame.materialize(
        nodes.join(visited, Seq("v"), "left_outer")
          .groupBy(coalesce(col("dist"), lit(-1L)).as("dist"))
          .agg(count(lit(1)).as("n_parts"))
          .orderBy(col("dist")))
      retired.foreach(_.unpersist())
      out
    }
  }

  /** q290: single-source WEIGHTED shortest paths by Bellman–Ford
    * relaxation (Bellman 1958; the min-plus complement of q284's
    * unweighted BFS) on the directed nation trade graph: edge cost
    * = 10⁹ div w + 1 where w is the pair's line count — scarce trade
    * links cost more, so the answer is the cheapest ≤ 3-hop relay
    * route from nation 0 to every market. Costs are pure integers
    * (c ≤ 10⁹+1, ≤ 3 hops ⇒ path ≤ 3·10⁹+3, BIGINT-safe at any SF),
    * so both engines agree bit-for-bit with the oracle's three
    * unrolled relaxation rounds.
    *
    * Scale shape: one relaxation round = one edge equi-join with the
    * current distance frame + one min hash aggregate over the union
    * with the previous distances — O(|E|) shuffle per round, the
    * min-plus semiring exactly (distances never leave the cluster; the
    * ≤ |V|-row result materializes once at the end). The unreachable
    * stay absent (no ∞ sentinel to overflow). */
  def shortestPaths(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(expr("1000000000 div count(1) + 1").as("c"))
      .persist()
    // The relaxation frame is SCHEMA-bounded (≤ 25² nation-pair edges
    // at any SF — the q264 HITS precedent): the data-sized edge
    // aggregation above stays distributed; the 3 min-plus rounds fold
    // on the driver in the identical integer arithmetic (Long adds,
    // min per node) instead of paying a join + aggregate job per round.
    val eArr = e.select(col("src").cast("long"), col("dst").cast("long"),
      col("c").cast("long")).collect()
    var dist = Map[Long, Long](0L -> 0L)
    for (_ <- 1 to 3) {
      val relaxed = eArr.iterator.flatMap { r =>
        dist.get(r.getLong(0)).map(du => r.getLong(1) -> (du + r.getLong(2)))
      }
      dist = (dist.iterator ++ relaxed).toSeq
        .groupBy(_._1).map { case (v, ds) => v -> ds.map(_._2).min }
    }
    import org.apache.spark.sql.types._
    val distDf = graft.util.LocalFrame.of(s,
      dist.toSeq.sortBy(_._1)
        .map { case (v, d) => org.apache.spark.sql.Row(v, d) }.toArray,
      StructType(Seq(StructField("v", LongType, nullable = false),
        StructField("d", LongType, nullable = false))))
    val out = graft.util.LocalFrame.materialize(
      distDf.join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("v"), col("n_name"))), Seq("v"))
        .select(col("n_name"), col("d").as("cost"))
        .orderBy(col("n_name")))
    e.unpersist()
    out
  }

  /** q299: Kaplan–Meier survival curve over customer lifetimes (the
    * product-limit estimator, Kaplan & Meier JASA 1958 — churn
    * analysis' backbone): lifetime = months between a customer's first
    * and last order, an EVENT if the last order predates the churn
    * cutoff (churned), CENSORED otherwise (still active at the end of
    * observation — the whole point of KM is that censored customers
    * still count in every risk set they survived through). The cutoff
    * is DERIVED FROM THE DATA — the corpus' max order month minus 6 —
    * as exact month-index integer arithmetic on both engines (a
    * hard-coded calendar date broke at sf0.001, where no customer's
    * last order predated it and the curve was empty; deriving it
    * guarantees both churned and censored customers at every SF of
    * any corpus with ≥ 7 months of history).
    *
    * Exactness: Ŝ(t) = Π_{t'≤t} (n_{t'} − d_{t'}) / n_{t'} folds as a
    * ppm-scaled integer recurrence s ← s·(n−d) div n (s ≤ 10⁶,
    * n ≤ 10¹¹ — the product holds in BIGINT to 10¹² customers), the
    * same left fold in both engines, so every reported survival value
    * is bit-identical; risk sets are exact integer tail sums.
    *
    * Scale shape: ONE data-sized hash aggregate (per-customer
    * min/max order month), one more to the ≤ ~84-row per-duration
    * frame (calendar-bounded like q263/q279), and the KM fold runs in
    * a single aggregate HOF over that bounded array — no window, no
    * driver state beyond the bounded curve itself. */
  def kaplanMeier(s: SparkSession, dir: String): DataFrame = {
    val cutoff = t(s, dir, "orders")
      .agg((max(year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        - lit(6)).cast("long").as("cut_mi"))
    val life = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(min(col("o_orderdate")).as("first_o"),
        max(col("o_orderdate")).as("last_o"))
      .crossJoin(broadcast(cutoff))
      .select(
        ((year(col("last_o")) * 12 + month(col("last_o"))) -
          (year(col("first_o")) * 12 + month(col("first_o"))))
          .cast("long").as("dur"),
        ((year(col("last_o")) * 12 + month(col("last_o")))
          .cast("long") < col("cut_mi")).as("churned"))
    val byDur = life.groupBy(col("dur"))
      .agg(count(lit(1)).as("n_at"),
        sum(when(col("churned"), 1L).otherwise(0L)).as("d"))
    byDur.agg(sort_array(collect_list(
        struct(col("dur"), col("n_at"), col("d")))).as("xs"))
      .select(expr(
        """aggregate(xs,
          |  named_struct(
          |    'atrisk', aggregate(xs, CAST(0 AS BIGINT),
          |                        (a, x) -> a + x.n_at),
          |    's', CAST(1000000 AS BIGINT),
          |    'out', CAST(array() AS
          |      ARRAY<STRUCT<dur: BIGINT, n_risk: BIGINT,
          |                   d: BIGINT, s_ppm: BIGINT>>)),
          |  (acc, x) -> named_struct(
          |    'atrisk', acc.atrisk - x.n_at,
          |    's', IF(x.d > 0,
          |            acc.s * (acc.atrisk - x.d) div acc.atrisk, acc.s),
          |    'out', IF(x.d > 0,
          |      array_append(acc.out, named_struct(
          |        'dur', x.dur, 'n_risk', acc.atrisk, 'd', x.d,
          |        's_ppm', acc.s * (acc.atrisk - x.d) div acc.atrisk)),
          |      acc.out))).out""".stripMargin).as("curve"))
      .select(explode(col("curve")).as("p"))
      .select(col("p.dur").as("duration_months"),
        col("p.n_risk").as("n_risk"), col("p.d").as("n_events"),
        col("p.s_ppm").as("s_ppm"))
      .orderBy(col("duration_months"))
  }

  /** q300: autocorrelation function of daily revenue at lags 1..7 —
    * the seasonality probe (a weekly cycle shows as a lag-7 peak)
    * behind forecasting-model selection (Box–Jenkins identification
    * step). r_k = Σ(x_t−p)(x_{t+k}−p) / Σ(x_t−p)² with the q285
    * integer-pivot scheme: p = ⌊mean⌋ lands from pass 1, the lag
    * products and the denominator fold in DECIMAL(38,0) EXACTLY, and
    * the reported ratio is a sign-split ppm division — bit-identical
    * across engines; no float ever touches an accumulation.
    *
    * Scale shape: one data-sized hash aggregate to the calendar-
    * bounded daily frame; the lag pairing is a 7-way date-shift
    * equi-join of that bounded frame with itself (observed days only
    * — gap days pair with nothing, n_pairs reports the true count);
    * everything after is bounded. */
  def acfDaily(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec38 = DecimalType(38, 0)
    val daily = t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(expr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 " +
        "AS BIGINT)").as("cents"))
    val piv = daily.agg(count(lit(1)).as("n"),
      sum(col("cents").cast(dec38)).as("sx"))
      .select((col("sx") / col("n")).cast("long").as("p"))
    val c = daily.crossJoin(broadcast(piv))
      .select(col("day"), (col("cents") - col("p")).as("dx"))
    val den = c.agg(sum((col("dx").cast(dec38) * col("dx")).cast(dec38))
      .as("den"))
    val lags = (1 to 7).toDF("lag")
    val shifted = c.crossJoin(broadcast(lags))
      .select(expr("date_add(day, lag)").as("day"),
        col("lag"), col("dx").as("dx0"))
    shifted.join(c, Seq("day"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum((col("dx0").cast(dec38) * col("dx")).cast(dec38)).as("num"))
      .crossJoin(broadcast(den))
      .select(col("lag").cast("long").as("lag"), col("n_pairs"),
        expr("CAST(CASE WHEN num >= 0 THEN num * 1000000 div den " +
          "ELSE -((-num) * 1000000 div den) END AS BIGINT)").as("r_ppm"))
      .orderBy(col("lag"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q299_kaplan_meier"   -> (kaplanMeier _),
    "q300_acf_daily"      -> (acfDaily _),
    "q283_label_prop"      -> (labelPropagation _),
    "q284_bfs_hops"        -> (bfsHops _),
    "q290_shortest_paths"  -> (shortestPaths _),
    "q194_scd2_dimension"  -> (scd2Dimension _),
    "q202_schema_evolution" -> (schemaEvolution _),
    "q206_key_skew_profile" -> (keySkewProfile _),
    "q226_join_card_est"    -> (joinCardEst _),
    "q207_table_checksums" -> (tableChecksums _),
    "q213_decline_alerts"  -> (declineAlerts _),
    "q187_jsonl_roundtrip" -> (jsonlRoundtrip _),
    "q232_orc_roundtrip"   -> (orcRoundtrip _),
    "q243_column_profile"  -> (columnProfile _),
    "q245_fd_check"        -> (fdCheck _),
    "q188_csv_malformed"   -> (csvMalformed _),
    "q108_partition_pruned" -> (partitionPrunedScan _),
    "q115_dpp_join"         -> (dynamicPartitionPruned _),
    "q122_observed_metrics" -> (observedMetrics _),
    "q251a_copair_artifact" -> (copairArtifactBuild _),
    "q252_assoc_rules"    -> (assocRules _),
    "q253_pagerank"       -> (pageRank _),
    "q254_skyline"        -> (skylineParts _),
    "q255_gini_spend"     -> (giniSpend _),
    "q258_triangle_count" -> (triangleCount _),
    "q280_equidepth_hist" -> (equiDepthHistogram _),
    "q279_cusum_alerts"   -> (cusumAlerts _),
    "q278_gap_fill"       -> (gapFill _),
    "q263_ses_forecast"   -> (sesForecast _),
    "q264_hits_scores"    -> (hitsScores _),
    "q265_ols_trend"      -> (olsTrend _),
    "q266_benford_audit"  -> (benfordAudit _),
    "q37_unpivot_metrics" -> (unpivotMetrics _),
    "q38_quarterly_orders" -> (quarterlyOrders _),
    "q39_null_handling"   -> (nullHandling _),
    "q48_grouping_sets"   -> (groupingSets _),
    "q49_array_funcs"     -> (arrayFuncs _),
    "q68_spend_analytics" -> (spendAnalytics _),
    "q69_order_bounds"    -> (orderBounds _),
    "q70_conditional_agg" -> (conditionalAgg _),
    "q71_range_join_binned" -> (rangeJoinBinned _),
    "q72_salted_spend"    -> (saltedSpend _),
    "q78_status_maps"     -> (statusMaps _),
    "q79_approx_pct_bound" -> (approxPercentileBound _)
  )

  val oracles: Map[String, String] = Map(
    // q299: the same ppm-integer product-limit recurrence replayed as
    // a recursive CTE over the duration-ordered steps; n_risk is the
    // PRE-step risk set, s_ppm the post-step product; churn cutoff
    // derived from the data (max order month-index − 6) exactly as the
    // Spark side does
    "q299_kaplan_meier" ->
      """WITH RECURSIVE mx AS (
        |  SELECT CAST(max(year(o_orderdate) * 12 + month(o_orderdate))
        |              - 6 AS BIGINT) AS cut_mi FROM orders),
        |life AS (
        |  SELECT (year(max(o_orderdate)) * 12 + month(max(o_orderdate)))
        |       - (year(min(o_orderdate)) * 12 + month(min(o_orderdate)))
        |           AS dur,
        |         CAST(year(max(o_orderdate)) * 12 + month(max(o_orderdate))
        |              AS BIGINT) < (SELECT cut_mi FROM mx) AS churned
        |  FROM orders GROUP BY o_custkey),
        |bd AS (SELECT CAST(dur AS BIGINT) AS dur,
        |              CAST(count(*) AS BIGINT) AS n_at,
        |              CAST(count(*) FILTER (churned) AS BIGINT) AS d
        |       FROM life GROUP BY 1),
        |seq AS (SELECT *, CAST(row_number() OVER (ORDER BY dur) AS BIGINT)
        |                    AS i FROM bd),
        |km AS (
        |  SELECT CAST(0 AS BIGINT) AS i,
        |         (SELECT CAST(sum(n_at) AS BIGINT) FROM bd) AS atrisk,
        |         CAST(1000000 AS BIGINT) AS s
        |  UNION ALL
        |  SELECT seq.i, km.atrisk - seq.n_at,
        |         CASE WHEN seq.d > 0
        |              THEN km.s * (km.atrisk - seq.d) // km.atrisk
        |              ELSE km.s END
        |  FROM km JOIN seq ON seq.i = km.i + 1)
        |SELECT seq.dur AS duration_months, kp.atrisk AS n_risk,
        |       seq.d AS n_events, kc.s AS s_ppm
        |FROM seq
        |JOIN km kc ON kc.i = seq.i
        |JOIN km kp ON kp.i = seq.i - 1
        |WHERE seq.d > 0
        |ORDER BY duration_months""".stripMargin,
    // q300: identical integer-pivot centered products; lag pairing by
    // date arithmetic over observed days; sign-split ppm division
    // (HUGEINT internal only)
    "q300_acf_daily" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
        |              AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |piv AS (SELECT CAST(CAST(sum(cents) AS HUGEINT) // count(*)
        |                    AS BIGINT) AS p FROM daily),
        |c AS (SELECT day, cents - p AS dx FROM daily, piv),
        |den AS (SELECT sum(CAST(dx AS HUGEINT) * dx) AS den FROM c),
        |l AS (SELECT unnest(range(1, 8)) AS lag),
        |num AS (
        |  SELECT l.lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |         sum(CAST(a.dx AS HUGEINT) * b.dx) AS num
        |  FROM c a
        |  JOIN l ON true
        |  JOIN c b ON b.day = a.day + CAST(l.lag AS INTEGER)
        |  GROUP BY 1)
        |SELECT CAST(num.lag AS BIGINT) AS lag, num.n_pairs,
        |       CAST(CASE WHEN num.num >= 0
        |                 THEN num.num * 1000000 // den.den
        |                 ELSE -((-num.num) * 1000000 // den.den) END
        |            AS BIGINT) AS r_ppm
        |FROM num, den
        |ORDER BY lag""".stripMargin,
    // q283: two unrolled synchronous LPA rounds — per-round neighbor-
    // label counts, argmax with min-label tie (min over the max-count
    // rows ≡ Spark's max(struct(c, -lbl))), all exact integers
    "q283_label_prop" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |               FROM lineitem),
        |pairs AS (SELECT a.pk AS x, b.pk AS y
        |          FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        |          GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT x AS u, y AS v FROM pairs
        |      UNION ALL SELECT y, x FROM pairs),
        |l0 AS (SELECT DISTINCT u AS v, u AS lbl FROM e),
        |c1 AS (SELECT e.u, l0.lbl, count(*) AS c
        |       FROM e JOIN l0 ON e.v = l0.v GROUP BY 1, 2),
        |m1 AS (SELECT u, max(c) AS mc FROM c1 GROUP BY 1),
        |l1 AS (SELECT c1.u AS v, min(c1.lbl) AS lbl
        |       FROM c1 JOIN m1 ON c1.u = m1.u AND c1.c = m1.mc GROUP BY 1),
        |c2 AS (SELECT e.u, l1.lbl, count(*) AS c
        |       FROM e JOIN l1 ON e.v = l1.v GROUP BY 1, 2),
        |m2 AS (SELECT u, max(c) AS mc FROM c2 GROUP BY 1),
        |l2 AS (SELECT c2.u AS v, min(c2.lbl) AS lbl
        |       FROM c2 JOIN m2 ON c2.u = m2.u AND c2.c = m2.mc GROUP BY 1)
        |SELECT v AS part_id, lbl AS community FROM l2
        |ORDER BY part_id""".stripMargin,
    // q284: three unrolled BFS frontier rounds (join the previous
    // frontier, subtract everything seen), histogram + unreachable
    "q284_bfs_hops" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |               FROM lineitem),
        |pairs AS (SELECT a.pk AS x, b.pk AS y
        |          FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        |          GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT x AS u, y AS v FROM pairs
        |      UNION ALL SELECT y, x FROM pairs),
        |nodes AS (SELECT DISTINCT u AS v FROM e),
        |d0 AS (SELECT nodes.v FROM nodes
        |       JOIN part ON nodes.v = p_partkey
        |       WHERE p_brand = 'Brand#4'),
        |f1 AS (SELECT DISTINCT e.v FROM e JOIN d0 ON e.u = d0.v
        |       WHERE e.v NOT IN (SELECT v FROM d0)),
        |f2 AS (SELECT DISTINCT e.v FROM e JOIN f1 ON e.u = f1.v
        |       WHERE e.v NOT IN (SELECT v FROM d0
        |                         UNION ALL SELECT v FROM f1)),
        |f3 AS (SELECT DISTINCT e.v FROM e JOIN f2 ON e.u = f2.v
        |       WHERE e.v NOT IN (SELECT v FROM d0
        |                         UNION ALL SELECT v FROM f1
        |                         UNION ALL SELECT v FROM f2)),
        |hist AS (
        |  SELECT CAST(0 AS BIGINT) AS dist,
        |         CAST(count(*) AS BIGINT) AS n_parts FROM d0
        |  UNION ALL SELECT 1, count(*) FROM f1
        |  UNION ALL SELECT 2, count(*) FROM f2
        |  UNION ALL SELECT 3, count(*) FROM f3
        |  UNION ALL SELECT -1,
        |    (SELECT count(*) FROM nodes)
        |      - ((SELECT count(*) FROM d0) + (SELECT count(*) FROM f1)
        |         + (SELECT count(*) FROM f2) + (SELECT count(*) FROM f3)))
        |SELECT dist, n_parts FROM hist WHERE n_parts > 0
        |ORDER BY dist""".stripMargin,
    // q290: three unrolled min-plus relaxation rounds over the same
    // integer edge costs (10⁹ // w + 1); unreachable nodes stay absent
    "q290_shortest_paths" ->
      """WITH e AS (
        |  SELECT cst.c_nationkey AS src, sp.s_nationkey AS dst,
        |         CAST(1000000000 // count(*) + 1 AS BIGINT) AS c
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer cst ON o.o_custkey = cst.c_custkey
        |  JOIN supplier sp ON l.l_suppkey = sp.s_suppkey
        |  GROUP BY 1, 2),
        |d0 AS (SELECT CAST(0 AS BIGINT) AS v, CAST(0 AS BIGINT) AS d),
        |d1 AS (SELECT v, min(d) AS d FROM (
        |         SELECT v, d FROM d0
        |         UNION ALL
        |         SELECT e.dst, d0.d + e.c FROM e JOIN d0 ON e.src = d0.v)
        |       GROUP BY v),
        |d2 AS (SELECT v, min(d) AS d FROM (
        |         SELECT v, d FROM d1
        |         UNION ALL
        |         SELECT e.dst, d1.d + e.c FROM e JOIN d1 ON e.src = d1.v)
        |       GROUP BY v),
        |d3 AS (SELECT v, min(d) AS d FROM (
        |         SELECT v, d FROM d2
        |         UNION ALL
        |         SELECT e.dst, d2.d + e.c FROM e JOIN d2 ON e.src = d2.v)
        |       GROUP BY v)
        |SELECT n.n_name, d3.d AS cost
        |FROM d3 JOIN nation n ON d3.v = n.n_nationkey
        |ORDER BY n_name""".stripMargin,
    // q252: full Apriori replay — pair supports from the basket
    // self-join, both rule directions, exact-integer supports with
    // single-division confidence/lift (same dividend/divisor → same
    // IEEE double on both engines)
    // q251a: the committed artifact restated — DuckDB recomputes the
    // supp≥2 pair list from scratch (sum cast: DuckDB sums BIGINT to
    // HUGEINT, which the compare bans)
    "q251a_copair_artifact" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |freq AS (SELECT pk FROM items GROUP BY pk HAVING count(*) >= 2),
        |pruned AS (SELECT i.ok, i.pk FROM items i
        |           WHERE i.pk IN (SELECT pk FROM freq)),
        |pairs AS (
        |  SELECT a.pk AS x, b.pk AS y, CAST(count(*) AS BIGINT) AS supp
        |  FROM pruned a JOIN pruned b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT 'max_supp' AS fact, CAST(max(supp) AS BIGINT) AS n FROM pairs
        |UNION ALL SELECT 'n_pairs', CAST(count(*) AS BIGINT) FROM pairs
        |UNION ALL SELECT 'n_parts',
        |  (SELECT CAST(count(DISTINCT v) AS BIGINT) FROM
        |    (SELECT x AS v FROM pairs UNION ALL SELECT y FROM pairs))
        |UNION ALL SELECT 'sum_supp', CAST(sum(supp) AS BIGINT) FROM pairs
        |ORDER BY fact""".stripMargin,
    "q252_assoc_rules" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |               FROM lineitem),
        |n AS (SELECT count(DISTINCT ok) AS nb FROM items),
        |isupp AS (SELECT pk, count(*) AS supp_item FROM items GROUP BY pk),
        |pairs AS (
        |  SELECT a.pk AS pa, b.pk AS pb, count(*) AS supp_pair
        |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |rules AS (
        |  SELECT pa AS antecedent, pb AS consequent, supp_pair FROM pairs
        |  UNION ALL
        |  SELECT pb, pa, supp_pair FROM pairs)
        |SELECT antecedent, consequent, supp_pair,
        |  sa.supp_item AS supp_ante, sc.supp_item AS supp_cons,
        |  round(CAST(supp_pair AS DOUBLE) / sa.supp_item, 6) AS confidence,
        |  round(CAST(supp_pair AS DOUBLE) * (SELECT nb FROM n) /
        |        (sa.supp_item * sc.supp_item), 6) AS lift
        |FROM rules
        |JOIN isupp sa ON antecedent = sa.pk
        |JOIN isupp sc ON consequent = sc.pk
        |ORDER BY supp_pair DESC, antecedent, consequent""".stripMargin,
    // q266: first digit from exact-cents strings, Benford expectation
    // quantized once (the DECIMAL(19,0) widening form), integer ppm
    "q266_benford_audit" ->
      """WITH cents AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2))
        |                 * 100 AS BIGINT) AS v FROM orders),
        |fd AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS BIGINT)
        |         AS digit FROM cents),
        |obs AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
        |        FROM fd GROUP BY digit),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM fd),
        |d AS (SELECT UNNEST(range(1, 10)) AS digit),
        |exp AS (SELECT digit,
        |  CAST(CAST(ln(1.0 + 1.0 / digit) / ln(10.0) AS DECIMAL(18,6)) *
        |       CAST(1000000 AS DECIMAL(19,0)) AS BIGINT) AS benford_ppm
        |  FROM d)
        |SELECT d.digit, coalesce(n_obs, 0) AS n_obs,
        |  coalesce(n_obs, 0) * 1000000 // (SELECT total FROM n)
        |    AS obs_ppm,
        |  benford_ppm,
        |  abs(coalesce(n_obs, 0) * 1000000 // (SELECT total FROM n)
        |      - benford_ppm) AS dev_ppm
        |FROM d JOIN exp ON d.digit = exp.digit
        |LEFT JOIN obs ON d.digit = obs.digit
        |ORDER BY d.digit""".stripMargin,
    // q265: identical DECIMAL(38,0) moments; the division runs on
    // |num| with the sign reapplied because Spark's div truncates
    // toward zero while DuckDB's // floors — they differ on negatives.
    // The ×10⁶ ride runs on HUGEINT here: DECIMAL(38,0) × 10⁶ exceeds
    // DuckDB's precision cap and silently detours through DOUBLE,
    // which cost one ulp on the first negative slope (caught by the
    // verify gate); HUGEINT is intermediate-only, CAST back to BIGINT
    "q265_ols_trend" ->
      """WITH monthly AS (
        |  SELECT c.c_nationkey AS nk,
        |    strftime(date_trunc('month', o.o_orderdate), '%Y-%m') AS m,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
        |         AS BIGINT) AS x
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |idx AS (SELECT nk, x,
        |         CAST(row_number() OVER (PARTITION BY nk ORDER BY m)
        |              AS BIGINT) AS t
        |        FROM monthly),
        |s AS (SELECT nk, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(t) AS BIGINT) AS st,
        |        CAST(sum(x) AS BIGINT) AS sx,
        |        CAST(sum(t * t) AS BIGINT) AS stt,
        |        CAST(sum(CAST(t AS DECIMAL(38,0)) * x)
        |             AS DECIMAL(38,0)) AS stx
        |      FROM idx GROUP BY nk),
        |fit AS (SELECT nk, n,
        |         CAST(n AS DECIMAL(38,0)) * stx
        |           - CAST(st AS DECIMAL(38,0)) * sx AS num,
        |         CAST(n AS DECIMAL(38,0)) * stt
        |           - CAST(st AS DECIMAL(38,0)) * st AS den
        |        FROM s)
        |SELECT na.n_name, n AS n_months,
        |  CAST(CASE WHEN num >= 0
        |       THEN (CAST(num AS HUGEINT) * 1000000)
        |            // CAST(den AS HUGEINT)
        |       ELSE -((CAST(-num AS HUGEINT) * 1000000)
        |            // CAST(den AS HUGEINT)) END AS BIGINT)
        |    AS slope_micro,
        |  CASE WHEN num > 0 THEN 'up' WHEN num < 0 THEN 'down'
        |       ELSE 'flat' END AS trend
        |FROM fit JOIN nation na ON nk = na.n_nationkey
        |ORDER BY na.n_name""".stripMargin,
    // q264: four unrolled half-steps, identical integer L∞
    // normalization (score·10⁶ // max) — bit-exact replay
    "q264_hits_scores" ->
      """WITH e AS (
        |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
        |         CAST(count(*) AS BIGINT) AS w
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  GROUP BY 1, 2),
        |nodes AS (SELECT n_nationkey AS v FROM nation),
        |h0 AS (SELECT v, CAST(1000000 AS BIGINT) AS h FROM nodes),
        |a1r AS (SELECT nodes.v,
        |          CAST(coalesce(sum(h0.h * e.w), 0) AS BIGINT) AS r
        |        FROM nodes LEFT JOIN e ON nodes.v = e.dst
        |                   LEFT JOIN h0 ON e.src = h0.v GROUP BY nodes.v),
        |a1 AS (SELECT v, CAST(CAST(r AS HUGEINT) * 1000000 // (SELECT max(r) FROM a1r)
        |                      AS BIGINT) AS a FROM a1r),
        |h1r AS (SELECT nodes.v,
        |          CAST(coalesce(sum(a1.a * e.w), 0) AS BIGINT) AS r
        |        FROM nodes LEFT JOIN e ON nodes.v = e.src
        |                   LEFT JOIN a1 ON e.dst = a1.v GROUP BY nodes.v),
        |h1 AS (SELECT v, CAST(CAST(r AS HUGEINT) * 1000000 // (SELECT max(r) FROM h1r)
        |                      AS BIGINT) AS h FROM h1r),
        |a2r AS (SELECT nodes.v,
        |          CAST(coalesce(sum(h1.h * e.w), 0) AS BIGINT) AS r
        |        FROM nodes LEFT JOIN e ON nodes.v = e.dst
        |                   LEFT JOIN h1 ON e.src = h1.v GROUP BY nodes.v),
        |a2 AS (SELECT v, CAST(CAST(r AS HUGEINT) * 1000000 // (SELECT max(r) FROM a2r)
        |                      AS BIGINT) AS a FROM a2r),
        |h2r AS (SELECT nodes.v,
        |          CAST(coalesce(sum(a2.a * e.w), 0) AS BIGINT) AS r
        |        FROM nodes LEFT JOIN e ON nodes.v = e.src
        |                   LEFT JOIN a2 ON e.dst = a2.v GROUP BY nodes.v),
        |h2 AS (SELECT v, CAST(CAST(r AS HUGEINT) * 1000000 // (SELECT max(r) FROM h2r)
        |                      AS BIGINT) AS h FROM h2r)
        |SELECT n.n_name, h2.h AS hub_scaled, a2.a AS auth_scaled
        |FROM nodes JOIN h2 ON nodes.v = h2.v JOIN a2 ON nodes.v = a2.v
        |JOIN nation n ON nodes.v = n.n_nationkey
        |ORDER BY auth_scaled DESC, hub_scaled DESC, n_name""".stripMargin,
    // q263: list_reduce seeds with the first element — exactly the
    // slice-from-2 aggregate form Spark-side; integer halving keeps
    // the whole recurrence bit-exact
    // q280: same total order, same rank-to-bucket integer map
    "q280_equidepth_hist" ->
      """WITH v AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |              AS BIGINT) AS cents, o_orderkey
        |  FROM orders),
        |r AS (SELECT cents,
        |        CAST(row_number() OVER (ORDER BY cents, o_orderkey)
        |             AS BIGINT) AS r,
        |        CAST(count(*) OVER () AS BIGINT) AS n
        |      FROM v)
        |SELECT CAST((CAST(r - 1 AS HUGEINT) * 16) // n + 1 AS BIGINT)
        |         AS bucket,
        |       CAST(count(*) AS BIGINT) AS depth,
        |       min(cents) AS lo_cents, max(cents) AS hi_cents,
        |       CAST(count(DISTINCT cents) AS BIGINT) AS ndv_bucket
        |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin,
    // q279: the fold replayed as a recursive CTE over the month index,
    // identical integer state transitions (mu through HUGEINT)
    "q279_cusum_alerts" ->
      """WITH RECURSIVE mo AS (
        |  SELECT c.c_nationkey AS nk, strftime(date_trunc('month',
        |           o_orderdate), '%Y-%m') AS m,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
        |              AS BIGINT) AS cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |ser AS (SELECT nk, cents,
        |          CAST(row_number() OVER (PARTITION BY nk ORDER BY m)
        |               AS BIGINT) AS t
        |        FROM mo),
        |stats AS (SELECT nk, CAST(count(*) AS BIGINT) AS n,
        |            CAST(CAST(sum(cents) AS HUGEINT) // count(*)
        |                 AS BIGINT) AS mu
        |          FROM ser GROUP BY nk),
        |cu AS (
        |  SELECT nk, CAST(0 AS BIGINT) AS t, CAST(0 AS BIGINT) AS s_val,
        |         CAST(0 AS BIGINT) AS mx, CAST(0 AS BIGINT) AS al
        |  FROM stats
        |  UNION ALL
        |  SELECT cu.nk, cu.t + 1,
        |         greatest(0, cu.s_val + ser.cents - st.mu - st.mu // 20),
        |         greatest(cu.mx,
        |           greatest(0, cu.s_val + ser.cents - st.mu - st.mu // 20)),
        |         cu.al + CASE WHEN greatest(0, cu.s_val + ser.cents
        |             - st.mu - st.mu // 20) > st.mu // 10
        |           THEN 1 ELSE 0 END
        |  FROM cu
        |  JOIN ser ON ser.nk = cu.nk AND ser.t = cu.t + 1
        |  JOIN stats st ON st.nk = cu.nk)
        |SELECT n.n_name, st.n AS n_months, st.mu AS mu_cents,
        |       cu.mx AS max_cusum, cu.al AS n_alerts
        |FROM cu JOIN stats st ON cu.nk = st.nk AND cu.t = st.n
        |JOIN nation n ON n.n_nationkey = cu.nk
        |ORDER BY n.n_name""".stripMargin,
    // q278: the spine, neighbor search, and signed-|num| lerp replayed
    // with join-based prev/next (months-bounded self-joins)
    "q278_gap_fill" ->
      """WITH m AS (
        |  SELECT c.c_nationkey AS nk, date_trunc('month', o_orderdate) AS mo,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
        |              AS BIGINT) AS cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE o_orderpriority = '1-URGENT'
        |  GROUP BY 1, 2),
        |bounds AS (SELECT date_trunc('month', min(o_orderdate)) AS lo,
        |                  date_trunc('month', max(o_orderdate)) AS hi
        |           FROM orders),
        |months AS (SELECT UNNEST(generate_series(lo, hi,
        |                    INTERVAL 1 MONTH)) AS mo FROM bounds),
        |grid AS (SELECT n.n_nationkey AS nk, n.n_name, mm.mo,
        |                CAST(year(mm.mo) * 12 + month(mm.mo) AS BIGINT)
        |                  AS mi
        |         FROM nation n CROSS JOIN months mm),
        |a AS (SELECT g.nk, g.n_name, g.mo, g.mi, m.cents
        |      FROM grid g LEFT JOIN m ON g.nk = m.nk AND g.mo = m.mo),
        |pv AS (SELECT a1.nk, a1.mi, max(a2.mi) AS pmi
        |       FROM a a1 JOIN a a2 ON a1.nk = a2.nk AND a2.mi <= a1.mi
        |         AND a2.cents IS NOT NULL GROUP BY 1, 2),
        |nx AS (SELECT a1.nk, a1.mi, min(a2.mi) AS nmi
        |       FROM a a1 JOIN a a2 ON a1.nk = a2.nk AND a2.mi >= a1.mi
        |         AND a2.cents IS NOT NULL GROUP BY 1, 2),
        |j AS (SELECT a.*, pv.pmi, nx.nmi, ap.cents AS pvv, an.cents AS nvv
        |      FROM a
        |      LEFT JOIN pv ON a.nk = pv.nk AND a.mi = pv.mi
        |      LEFT JOIN nx ON a.nk = nx.nk AND a.mi = nx.mi
        |      LEFT JOIN a ap ON a.nk = ap.nk AND pv.pmi = ap.mi
        |      LEFT JOIN a an ON a.nk = an.nk AND nx.nmi = an.mi)
        |SELECT n_name, strftime(mo, '%Y-%m') AS month,
        |       CAST(CASE
        |         WHEN cents IS NOT NULL THEN cents
        |         WHEN pmi IS NULL AND nmi IS NULL THEN 0
        |         WHEN pmi IS NULL THEN nvv
        |         WHEN nmi IS NULL THEN pvv
        |         ELSE pvv + CAST(CASE WHEN nvv >= pvv
        |           THEN (CAST(nvv AS HUGEINT) - pvv) * (mi - pmi)
        |                // (nmi - pmi)
        |           ELSE -((CAST(pvv AS HUGEINT) - nvv) * (mi - pmi)
        |                // (nmi - pmi)) END AS BIGINT)
        |         END AS BIGINT) AS cents_filled,
        |       cents IS NULL AS was_missing
        |FROM j ORDER BY n_name, month""".stripMargin,
    "q263_ses_forecast" ->
      """WITH monthly AS (
        |  SELECT c.c_nationkey AS nk,
        |    strftime(date_trunc('month', o.o_orderdate), '%Y-%m') AS m,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
        |         AS BIGINT) AS cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |series AS (SELECT nk, list(cents ORDER BY m) AS xs
        |           FROM monthly GROUP BY nk)
        |SELECT n.n_name, CAST(len(xs) AS BIGINT) AS n_months,
        |  xs[-1] AS last_cents,
        |  CASE WHEN len(xs) = 1 THEN xs[1]
        |       ELSE list_reduce(xs, (a, b) -> (a + b) // 2)
        |  END AS forecast_cents
        |FROM series JOIN nation n ON nk = n.n_nationkey
        |ORDER BY n_name""".stripMargin,
    // q258: identical edge set, identical (deg·10⁹ + id) orientation
    // arithmetic, identical wedge/closing joins — integer-exact replay
    "q258_triangle_count" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |               FROM lineitem),
        |pairs AS (
        |  SELECT a.pk AS x, b.pk AS y
        |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
        |  SELECT x AS n FROM pairs UNION ALL SELECT y FROM pairs)
        |  GROUP BY n),
        |oe AS (
        |  SELECT least(dx.d * 1000000000 + x, dy.d * 1000000000 + y)
        |           AS uord,
        |         greatest(dx.d * 1000000000 + x, dy.d * 1000000000 + y)
        |           AS vord
        |  FROM pairs JOIN deg dx ON x = dx.n JOIN deg dy ON y = dy.n),
        |wed AS (SELECT e1.vord AS v1, e2.vord AS v2
        |        FROM oe e1 JOIN oe e2
        |        ON e1.uord = e2.uord AND e1.vord < e2.vord),
        |tri AS (SELECT count(*) AS n_triangles
        |        FROM wed JOIN oe e3
        |        ON e3.uord = wed.v1 AND e3.vord = wed.v2)
        |SELECT CAST((SELECT count(*) FROM pairs) AS BIGINT) AS n_edges,
        |  CAST((SELECT count(*) FROM wed) AS BIGINT) AS n_wedges,
        |  CAST((SELECT n_triangles FROM tri) AS BIGINT) AS n_triangles""".stripMargin,
    // q255: the classic row_number() formulation (fine in DuckDB, the
    // banned global-window shape in Spark — GlobalRank replaces it);
    // identical integer floors, HUGEINT intermediates cast back down
    "q255_gini_spend" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY o_custkey),
        |ranked AS (
        |  SELECT cents,
        |    row_number() OVER (ORDER BY cents, o_custkey) AS rk
        |  FROM spend)
        |SELECT CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(cents) AS BIGINT) AS total_cents,
        |  CAST(2 * sum(CAST(rk AS HUGEINT) * cents) * 1000000
        |       // (CAST(count(*) AS HUGEINT) * sum(cents))
        |     - ((count(*) + 1) * 1000000 // count(*)) AS BIGINT)
        |    AS gini_micro
        |FROM ranked""".stripMargin,
    // q254: the textbook quadratic NOT EXISTS dominance test — the
    // semantics the linear binned-prefix plan must reproduce exactly
    "q254_skyline" ->
      """WITH p AS (SELECT p_partkey,
        |    CAST(round(p_retailprice * 100) AS BIGINT) AS pc, p_size
        |  FROM part)
        |SELECT a.p_partkey, a.pc AS price_cents, a.p_size AS size
        |FROM p a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p b
        |  WHERE b.pc <= a.pc AND b.p_size >= a.p_size
        |    AND (b.pc < a.pc OR b.p_size > a.p_size))
        |ORDER BY price_cents, size, a.p_partkey""".stripMargin,
    // q253: the three power iterations unrolled — identical scaled-
    // BIGINT integer arithmetic ((r*w)//wout per edge, (85*Σ)//100
    // damping) so the replay is bit-exact; sums CAST back to BIGINT
    // immediately (DuckDB widens sum(BIGINT) to HUGEINT, which the
    // compare layer bans in outputs)
    "q253_pagerank" ->
      """WITH e AS (
        |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
        |         CAST(count(*) AS BIGINT) AS w
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  GROUP BY 1, 2),
        |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS wout
        |         FROM e GROUP BY src),
        |nodes AS (SELECT n_nationkey AS v FROM nation),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |r0 AS (SELECT v,
        |         CAST(1000000000000 // (SELECT n FROM nn) AS BIGINT) AS r
        |       FROM nodes),
        |r1 AS (SELECT nodes.v,
        |         CAST((1000000000000 * 15) // (100 * (SELECT n FROM nn))
        |              + (85 * coalesce(sc.c, 0)) // 100 AS BIGINT) AS r
        |       FROM nodes LEFT JOIN (
        |         SELECT e.dst AS v,
        |                CAST(sum((CAST(r0.r AS HUGEINT) * e.w) // o.wout) AS BIGINT) AS c
        |         FROM e JOIN r0 ON e.src = r0.v
        |         JOIN outw o ON e.src = o.src
        |         GROUP BY 1) sc ON nodes.v = sc.v),
        |r2 AS (SELECT nodes.v,
        |         CAST((1000000000000 * 15) // (100 * (SELECT n FROM nn))
        |              + (85 * coalesce(sc.c, 0)) // 100 AS BIGINT) AS r
        |       FROM nodes LEFT JOIN (
        |         SELECT e.dst AS v,
        |                CAST(sum((CAST(r1.r AS HUGEINT) * e.w) // o.wout) AS BIGINT) AS c
        |         FROM e JOIN r1 ON e.src = r1.v
        |         JOIN outw o ON e.src = o.src
        |         GROUP BY 1) sc ON nodes.v = sc.v),
        |r3 AS (SELECT nodes.v,
        |         CAST((1000000000000 * 15) // (100 * (SELECT n FROM nn))
        |              + (85 * coalesce(sc.c, 0)) // 100 AS BIGINT) AS r
        |       FROM nodes LEFT JOIN (
        |         SELECT e.dst AS v,
        |                CAST(sum((CAST(r2.r AS HUGEINT) * e.w) // o.wout) AS BIGINT) AS c
        |         FROM e JOIN r2 ON e.src = r2.v
        |         JOIN outw o ON e.src = o.src
        |         GROUP BY 1) sc ON nodes.v = sc.v)
        |SELECT n.n_name, r3.r AS rank_scaled
        |FROM r3 JOIN nation n ON r3.v = n.n_nationkey
        |ORDER BY rank_scaled DESC, n_name""".stripMargin,
    // q202: the merged view restated from orders — even keys read the
    // late column as NULL (their batch lacks it), odd keys carry it
    "q202_schema_evolution" ->
      """SELECT o_orderstatus, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_with_prio,
        |  count(DISTINCT CASE WHEN o_orderkey % 2 = 1
        |        THEN o_orderpriority END) AS n_prios,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // q213: identical monthly decimal sums and strict lag-chain rule
    "q213_decline_alerts" ->
      """WITH m AS (SELECT strftime(date_trunc('month', o_orderdate),
        |                  '%Y-%m-%d') AS month,
        |                  sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |           FROM orders GROUP BY 1)
        |SELECT month, CAST(rev AS DOUBLE) AS revenue,
        |       (lag(rev, 1) OVER (ORDER BY month) IS NOT NULL AND
        |        lag(rev, 2) OVER (ORDER BY month) IS NOT NULL AND
        |        rev < lag(rev, 1) OVER (ORDER BY month) AND
        |        lag(rev, 1) OVER (ORDER BY month) <
        |          lag(rev, 2) OVER (ORDER BY month)) AS decline_alert
        |FROM m ORDER BY month""".stripMargin,
    // q207: the same canonical rendering recomputed independently —
    // ('0x'||hex)::BIGINT ≡ Spark's conv(hex,16,10); SUM is
    // order-insensitive so any partitioning agrees
    "q207_table_checksums" ->
      """SELECT * FROM (
        |  SELECT 'orders' AS table_name, count(*) AS n_rows,
        |    CAST(sum(('0x' || substr(md5(concat_ws('|', o_orderkey,
        |      o_custkey, o_orderstatus,
        |      CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
        |      strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority)),
        |      1, 8))::BIGINT) AS BIGINT) AS checksum
        |  FROM orders
        |  UNION ALL
        |  SELECT 'customer', count(*),
        |    CAST(sum(('0x' || substr(md5(concat_ws('|', c_custkey,
        |      c_name, c_nationkey,
        |      CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR),
        |      c_mktsegment)), 1, 8))::BIGINT) AS BIGINT)
        |  FROM customer
        |  UNION ALL
        |  SELECT 'lineitem', count(*),
        |    CAST(sum(('0x' || substr(md5(concat_ws('|', l_orderkey,
        |      l_linenumber, l_returnflag,
        |      CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR),
        |      strftime(l_shipdate, '%Y-%m-%d'))), 1, 8))::BIGINT)
        |      AS BIGINT)
        |  FROM lineitem)
        |ORDER BY table_name""".stripMargin,
    // q206: identical rank pass; iwsum is Σ rank×count in exact BIGINTs
    // q226: same NDV formula, FK actuals from the real join, self-join
    // actuals from exact Σc² — identical arithmetic per probe
    "q226_join_card_est" ->
      """WITH sa1 AS (SELECT count(*) AS na,
        |              count(DISTINCT l_orderkey) AS da FROM lineitem),
        |sb1 AS (SELECT count(*) AS nb,
        |              count(DISTINCT o_orderkey) AS db FROM orders),
        |ja1 AS (SELECT count(*) AS actual FROM lineitem
        |        JOIN orders ON l_orderkey = o_orderkey),
        |sa2 AS (SELECT count(*) AS na,
        |              count(DISTINCT o_custkey) AS da FROM orders),
        |sb2 AS (SELECT count(*) AS nb,
        |              count(DISTINCT c_custkey) AS db FROM customer),
        |ja2 AS (SELECT count(*) AS actual FROM orders
        |        JOIN customer ON o_custkey = c_custkey),
        |pl AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
        |s3 AS (SELECT CAST(sum(c) AS BIGINT) AS na,
        |              count(*) AS da,
        |              CAST(sum(c * c) AS BIGINT) AS actual FROM pl),
        |r AS (
        |  SELECT 'lineitem_orders' AS join_name,
        |         CAST(floor(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
        |           / greatest(da, db)) AS BIGINT) AS estimated,
        |         CAST(actual AS BIGINT) AS actual,
        |         round(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
        |           / greatest(da, db) / actual, 4) AS est_over_actual
        |  FROM sa1, sb1, ja1
        |  UNION ALL
        |  SELECT 'orders_customer',
        |         CAST(floor(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
        |           / greatest(da, db)) AS BIGINT),
        |         CAST(actual AS BIGINT),
        |         round(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
        |           / greatest(da, db) / actual, 4)
        |  FROM sa2, sb2, ja2
        |  UNION ALL
        |  SELECT 'documents_lang_self',
        |         CAST(floor(CAST(na AS DOUBLE) * CAST(na AS DOUBLE) / da)
        |           AS BIGINT),
        |         actual,
        |         round(CAST(na AS DOUBLE) * CAST(na AS DOUBLE) / da
        |           / actual, 4)
        |  FROM s3)
        |SELECT * FROM r ORDER BY join_name""".stripMargin,
    "q206_key_skew_profile" ->
      """WITH c AS (SELECT o_custkey, count(*) AS c FROM orders
        |           GROUP BY o_custkey),
        |r AS (SELECT c, o_custkey,
        |             row_number() OVER (ORDER BY c, o_custkey) AS i
        |      FROM c),
        |t AS (SELECT CAST(max(c) AS BIGINT) AS top1,
        |             CAST(sum(c) AS BIGINT) AS top10
        |      FROM (SELECT c FROM c ORDER BY c DESC, o_custkey
        |            LIMIT 10)),
        |a AS (SELECT count(*) AS n_keys,
        |             CAST(sum(c) AS BIGINT) AS n_rows,
        |             CAST(sum(i * c) AS BIGINT) AS iwsum FROM r)
        |SELECT n_keys, n_rows,
        |       round(top1 / CAST(n_rows AS DOUBLE), 6) AS top1_share,
        |       round(top10 / CAST(n_rows AS DOUBLE), 6) AS top10_share,
        |       round(2.0 * iwsum / (CAST(n_keys AS DOUBLE) * n_rows) -
        |             CAST(n_keys + 1 AS DOUBLE) / n_keys, 6) AS gini
        |FROM a CROSS JOIN t""".stripMargin,
    // q194: identical change feed + window reconstruction
    "q194_scd2_dimension" ->
      """WITH hist AS (
        |  SELECT c_custkey, c_mktsegment AS segment,
        |         DATE '1995-01-01' AS valid_from FROM customer
        |  UNION ALL
        |  SELECT c_custkey, 'PROMO', DATE '1996-06-01' FROM customer
        |  WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey, 'VIP', DATE '1997-01-01' FROM customer
        |  WHERE c_custkey % 21 = 0)
        |SELECT c_custkey, segment, valid_from,
        |       lead(valid_from) OVER (PARTITION BY c_custkey
        |                              ORDER BY valid_from) - 1 AS valid_to,
        |       lead(valid_from) OVER (PARTITION BY c_custkey
        |                              ORDER BY valid_from) IS NULL
        |         AS is_current
        |FROM hist WHERE c_custkey % 7 = 0
        |ORDER BY c_custkey, valid_from""".stripMargin,
    // q187: the same aggregates from the parquet source — a lossy JSONL
    // round trip (quoting/escaping/width) breaks the md5 columns
    "q187_jsonl_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |       count(DISTINCT md5(text)) AS distinct_text,
        |       min(md5(text)) AS min_md5,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // q232: the ORC round trip must reproduce the parquet original's
    // slice exactly — any writer/reader type or precision loss breaks it
    "q243_column_profile" -> columnProfileOracle,
    "q245_fd_check"       -> fdCheckOracle,
    "q232_orc_roundtrip" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |       count(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS revenue,
        |       count(DISTINCT o_custkey) AS n_custs
        |FROM orders
        |WHERE o_orderstatus = 'F' AND o_totalprice > 100000
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q188: corrupt-row arithmetic restated from nation (every 5th key
    // is broken in the staged file); FAILFAST pinned to throw
    "q188_csv_malformed" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CASE WHEN n_nationkey % 5 <> 0 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_clean,
        |  CAST(sum(CASE WHEN n_nationkey % 5 = 0 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_corrupt,
        |  CAST(sum(CASE WHEN n_nationkey % 5 <> 0 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_dropmalformed,
        |  true AS failfast_throws
        |FROM nation""".stripMargin,
    "q37_unpivot_metrics" ->
      """SELECT p_brand, metric, count(*) AS n,
        |       CAST(SUM(value) AS DOUBLE) AS total
        |FROM (
        |  SELECT p_brand, 'retailprice' AS metric,
        |         CAST(p_retailprice AS DECIMAL(18,2)) AS value FROM part
        |  UNION ALL
        |  SELECT p_brand, 'size', CAST(p_size AS DECIMAL(18,2)) FROM part
        |) t GROUP BY p_brand, metric ORDER BY p_brand, metric""".stripMargin,
    "q38_quarterly_orders" ->
      """SELECT strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d')
        |         AS quarter_start,
        |       count(*) AS n_orders,
        |       strftime(max(last_day(CAST(o_orderdate AS DATE))), '%Y-%m-%d')
        |         AS max_month_end,
        |       strftime(min(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH),
        |                '%Y-%m-%d') AS min_plus3m
        |FROM orders GROUP BY quarter_start ORDER BY quarter_start""".stripMargin,
    "q39_null_handling" ->
      """SELECT coalesce(nullif(c_mktsegment, 'BUILDING'), 'REDACTED') AS seg,
        |       count(*) AS n_rows,
        |       count(nullif(c_mktsegment, 'BUILDING')) AS n_nonnull
        |FROM customer GROUP BY seg ORDER BY seg""".stripMargin,
    "q48_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST,
        |         o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q49_array_funcs" ->
      """SELECT doc_id, len(vocab) AS n_vocab,
        |       vocab[1] AS first_tok, vocab[-1] AS last_tok
        |FROM (SELECT doc_id,
        |             list_sort(list_distinct(
        |               string_split_regex(trim(text), '\s+'))) AS vocab
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin,
    "q68_spend_analytics" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal,
        |       round(percent_rank() OVER w, 6) AS pct_rank,
        |       round(cume_dist() OVER w, 6) AS cume
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal)
        |ORDER BY c_mktsegment, c_acctbal, c_custkey""".stripMargin,
    "q69_order_bounds" ->
      """SELECT DISTINCT o_custkey,
        |       strftime(first_value(o_orderdate) OVER w, '%Y-%m-%d') AS first_date,
        |       strftime(last_value(o_orderdate) OVER w, '%Y-%m-%d') AS last_date,
        |       strftime(nth_value(o_orderdate, 2) OVER w, '%Y-%m-%d') AS second_date
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey""".stripMargin,
    "q70_conditional_agg" ->
      """SELECT o_orderstatus,
        |       count(*) FILTER (o_totalprice > 100000) AS n_big,
        |       bool_or(o_totalprice > 400000) AS any_huge,
        |       bool_and(o_totalprice > 0) AS all_positive
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q71_range_join_binned" ->
      """SELECT win_id, count(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |JOIN (SELECT i AS win_id,
        |             TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 6 HOUR
        |               AS win_start,
        |             TIMESTAMP '2024-01-01 00:00:00' + (i*6+4) * INTERVAL 1 HOUR
        |               AS win_end
        |      FROM range(0, 120) t(i)) w
        |  ON ts >= win_start AND ts < win_end
        |GROUP BY win_id ORDER BY win_id""".stripMargin,
    "q72_salted_spend" ->
      """SELECT o_custkey,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q78_status_maps" ->
      """SELECT o_orderpriority,
        |       CAST(count(*) AS INT) AS n_statuses,
        |       CAST(count(*) FILTER (n > 100) AS INT) AS n_common,
        |       CAST(2 * sum(n) AS BIGINT) AS doubled_total
        |FROM (SELECT o_orderpriority, o_orderstatus, count(*) AS n
        |      FROM orders GROUP BY 1, 2) t
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q79_approx_pct_bound" ->
      """SELECT o_orderstatus,
        |       round(quantile_cont(o_totalprice, 0.5), 2) AS p50_exact,
        |       true AS approx_within_1pct
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // observed in-flight metrics == the table's own aggregates
    "q122_observed_metrics" ->
      """SELECT count(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS total_price,
        |       count(DISTINCT o_orderstatus) AS n_statuses
        |FROM orders""".stripMargin,
    // the DPP join equals a plain row filter over the fact table
    "q115_dpp_join" ->
      """SELECT o_orderstatus, count(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS revenue
        |FROM orders WHERE year(o_orderdate) >= 1998
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the pruned partitioned read must equal a plain row filter
    "q108_partition_pruned" ->
      """SELECT o_orderstatus, count(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS revenue
        |FROM orders WHERE year(o_orderdate) = 1998
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
  )
}
