package graft

import graft.clv._

class ClvSpec extends SparkSpec {

  // --- special functions -------------------------------------------------

  test("hyp2f1 golden values") {
    // 2F1(1,1;2;z) = -ln(1-z)/z
    for (z <- Seq(0.1, 0.3, 0.5, 0.8, 0.95)) {
      val expect = -math.log(1 - z) / z
      assert(math.abs(SpecialFunctions.hyp2f1(1, 1, 2, z) - expect) < 1e-10,
        s"z=$z")
    }
    // 2F1(a,b;c;0) = 1
    assert(SpecialFunctions.hyp2f1(2.3, 1.7, 4.1, 0.0) == 1.0)
    // 2F1(1,2;3;z) = (2/z²)(-ln(1-z) - z) → at z=0.5: 8(ln2 - 0.5) ≈ 1.545177
    assert(math.abs(
      SpecialFunctions.hyp2f1(1, 2, 3, 0.5) - 8 * (math.log(2) - 0.5)) < 1e-10)
  }

  test("published CDNOW worked example: E[Y(39)]=1.226 (Fader/Hardie/Lee 2005)") {
    // The external anchor available offline: Fader, Hardie & Lee (2005),
    // "'Counting Your Customers' the Easy Way", Marketing Science 24(2),
    // report the CDNOW-sample BG/NBD fit r=0.243, alpha=4.414, a=0.793,
    // b=2.426, and the companion spreadsheet note works the example
    // customer x=2, t_x=30.43, T=38.86: expected 1.226 transactions over
    // the following 39 weeks. Pins the full E[Y(t)] stack — Gaussian
    // hypergeometric included — to the published number.
    val p = BetaGeoParams(0.243, 4.414, 0.793, 2.426)
    val ey = p.conditionalExpectedPurchases(39.0, 2.0, 30.43, 38.86)
    assert(math.abs(ey - 1.226) < 5e-4, s"E[Y(39)] = $ey")
    // Same customer through the published P(alive) expression
    // (Fader/Hardie 2008 note, eq. 3): 0.7266 with these params.
    val pa = p.probAlive(2.0, 30.43, 38.86)
    assert(math.abs(pa - 0.7266) < 5e-4, s"P(alive) = $pa")
  }

  test("Nelder-Mead minimizes Rosenbrock deterministically") {
    def rosen(v: Array[Double]): Double = {
      val (x, y) = (v(0), v(1))
      (1 - x) * (1 - x) + 100 * (y - x * x) * (y - x * x)
    }
    val r1 = NelderMead.minimize(rosen, Array(-1.2, 1.0))
    val r2 = NelderMead.minimize(rosen, Array(-1.2, 1.0))
    assert(math.abs(r1.x(0) - 1.0) < 1e-4 && math.abs(r1.x(1) - 1.0) < 1e-4)
    assert(r1.x.sameElements(r2.x), "Nelder-Mead must be deterministic")
  }

  // --- BG/NBD on a synthetic ground-truth check --------------------------

  /** The reference notebook's own CSV, when it is present. */
  private lazy val referenceFixture
      : Option[IndexedSeq[(Double, Double, Double, Double)]] = try {
    // Replay the reference's shipped RFM fixture
    // (/root/reference/_data/Summary_2011.csv, header
    // CustomerID,T1,recency1,FREQUENCY,profit — FIXTURES.md §A1).
    val src = scala.io.Source.fromFile("/root/reference/_data/Summary_2011.csv")
    Some(rfmRows(src))
  } catch { case _: java.io.FileNotFoundException => None }

  /** (x=FREQUENCY, tx=recency1, T=T1, m=profit) rows of an RFM summary
    * CSV with header CustomerID,T1,recency1,FREQUENCY,profit
    * (FIXTURES.md §A1). */
  private def rfmRows(src: scala.io.Source)
      : IndexedSeq[(Double, Double, Double, Double)] =
    try src.getLines().drop(1).map { line =>
      val a = line.split(",")
      (a(3).toDouble, a(2).toDouble, a(1).toDouble, a(4).toDouble)
    }.toIndexedSeq
    finally src.close()

  /** The in-repo Summary_2011 fixture ([[Summary2011Fixture]]: the
    * reference CSV's shape and invariants, generated from a recorded
    * seed); checks the fit and the predictions behave per the model's
    * laws. */
  private lazy val summaryFixture: IndexedSeq[(Double, Double, Double, Double)] =
    rfmRows(scala.io.Source.fromFile(Summary2011Fixture.path))

  /** BG/NBD fit on `fixture`: positive params that beat a unit start. */
  private def checkBgNbdFit(
      fixture: IndexedSeq[(Double, Double, Double, Double)]): Unit = {
    val data = fixture.map(r => (r._1, r._2, r._3))
    val p = BetaGeoModel.fit(data)
    assert(p.r > 0 && p.alpha > 0 && p.a > 0 && p.b > 0, p.toString)
    // fitted params should beat a unit start on mean log-likelihood
    val fitLL  = data.map(d => p.logLikelihood(d._1, d._2, d._3)).sum
    val baseLL = data.map(d =>
      BetaGeoParams(1, 1, 1, 1).logLikelihood(d._1, d._2, d._3)).sum
    assert(fitLL > baseLL, s"fit $fitLL vs base $baseLL")
  }

  /** BG/NBD predictions on `fixture`: P(alive) in [0,1], E[Y(t)] >= 0
    * and monotone in t. */
  private def checkBgNbdPredictions(
      fixture: IndexedSeq[(Double, Double, Double, Double)]): Unit = {
    val data = fixture.map(r => (r._1, r._2, r._3))
    val p = BetaGeoModel.fit(data)
    for ((x, tx, t) <- data.take(200)) {
      val pa = p.probAlive(x, tx, t)
      assert(pa >= 0 && pa <= 1, s"probAlive $pa for ($x,$tx,$t)")
      val e10 = p.conditionalExpectedPurchases(10, x, tx, t)
      val e52 = p.conditionalExpectedPurchases(52, x, tx, t)
      assert(e10 >= -1e-9, s"E[Y(10)]=$e10")
      assert(e52 >= e10 - 1e-9, s"monotonicity $e10 -> $e52")
    }
  }

  /** Gamma-Gamma fit on `fixture`: conditional profit positive,
    * asymptote to m̄. */
  private def checkGammaGamma(
      fixture: IndexedSeq[(Double, Double, Double, Double)]): Unit = {
    val data = fixture
      .filter(r => r._1 > 1 && r._4 > 0).map(r => (r._1, r._4))
    val g = GammaGammaModel.fit(data)
    assert(g.p > 0 && g.q > 0 && g.v > 0)
    for ((x, m) <- data.take(200)) {
      val e = g.conditionalExpectedAverageProfit(x, m)
      assert(e > 0, s"condExp $e for ($x,$m)")
    }
    // with huge frequency the conditional mean approaches the observed m̄
    val e = g.conditionalExpectedAverageProfit(1e6, 100.0)
    assert(math.abs(e - 100.0) / 100.0 < 0.01, s"asymptote got $e")
  }

  /** CLV on `fixture`'s first customer: nonnegative, grows with horizon. */
  private def checkClvHorizon(
      fixture: IndexedSeq[(Double, Double, Double, Double)]): Unit = {
    val data = fixture.map(r => (r._1, r._2, r._3))
    val p = BetaGeoModel.fit(data)
    val (x, tx, t) = data.head
    val c6  = Clv.customerLifetimeValue(p, 50.0, x, tx, t, months = 6)
    val c12 = Clv.customerLifetimeValue(p, 50.0, x, tx, t, months = 12)
    assert(c6 >= 0 && c12 >= c6)
  }

  test("BG/NBD fit on Summary_2011 replay: params positive, finite NLL") {
    checkBgNbdFit(summaryFixture)
  }

  test("BG/NBD predictions: P(alive) in [0,1], E[Y(t)] >= 0 and monotone in t") {
    checkBgNbdPredictions(summaryFixture)
  }

  test("Gamma-Gamma fit: conditional profit positive, asymptote to m̄") {
    checkGammaGamma(summaryFixture)
  }

  test("CLV is nonnegative and increases with horizon") {
    checkClvHorizon(summaryFixture)
  }

  referenceFixture.foreach { reference =>
    test("BG/NBD fit on the reference's own Summary_2011 CSV") {
      checkBgNbdFit(reference)
    }
    test("BG/NBD predictions on the reference's own Summary_2011 CSV") {
      checkBgNbdPredictions(reference)
    }
    test("Gamma-Gamma fit on the reference's own Summary_2011 CSV") {
      checkGammaGamma(reference)
    }
    test("CLV horizon on the reference's own Summary_2011 CSV") {
      checkClvHorizon(reference)
    }
  }

  test("BG/NBD fit recovers generating parameters from simulated data") {
    // simulate the generative model with a deterministic LCG:
    // λ ~ Gamma(r, rate α) per customer, churn prob p ~ Beta(a, b);
    // exponential interpurchase waits, churn trial after each purchase
    val (rTrue, aTrue, aa, bb) = (1.2, 8.0, 0.8, 3.5)
    var seed = 42L
    def nextU(): Double = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      ((seed >>> 11).toDouble / (1L << 53).toDouble)
    }
    // Marsaglia-free gamma via sum of exponentials for integer part +
    // Johnk for fractional part (deterministic, adequate here)
    def gamma(shape: Double): Double = {
      val k = shape.floor.toInt
      var g = 0.0
      var i = 0
      while (i < k) { g += -math.log(1 - nextU()); i += 1 }
      val frac = shape - k
      if (frac > 1e-12) {
        var x = 0.0; var y = 0.0; var ok = false
        while (!ok) {
          val u = math.pow(nextU(), 1 / frac)
          val v = math.pow(nextU(), 1 / (1 - frac))
          if (u + v <= 1) { x = u / (u + v); y = -math.log(1 - nextU()); ok = true }
        }
        g += x * y
      }
      g
    }
    def beta(a: Double, b: Double): Double = {
      val x = gamma(a); val y = gamma(b)
      x / (x + y)
    }
    val bigT = 52.0
    val data = (1 to 4000).map { _ =>
      val lam = gamma(rTrue) / aTrue
      val p = beta(aa, bb)
      var t = 0.0; var x = 0; var tx = 0.0; var alive = true
      while (alive) {
        t += -math.log(1 - nextU()) / math.max(lam, 1e-12)
        if (t > bigT) alive = false
        else {
          x += 1; tx = t
          if (nextU() < p) alive = false
        }
      }
      (x.toDouble, tx, bigT)
    }
    val fit = BetaGeoModel.fit(data, penalizer = 0.0)
    assert(math.abs(fit.r - rTrue) / rTrue < 0.25, s"r: $fit")
    assert(math.abs(fit.alpha - aTrue) / aTrue < 0.25, s"alpha: $fit")
    // a, b are weakly identified individually; their implied mean churn
    // probability a/(a+b) is the stable quantity
    val churnTrue = aa / (aa + bb)
    val churnFit = fit.a / (fit.a + fit.b)
    assert(math.abs(churnFit - churnTrue) / churnTrue < 0.3,
      s"churn mean: $churnFit vs $churnTrue ($fit)")
  }

  test("Column-expression scoring matches the JVM pipeline math") {
    import org.apache.spark.sql.functions.col
    val rfmRows = ClvPipeline.rfm(spark, sf, nGroups = 1).collect()
      .toIndexedSeq.sortBy(_.custkey)
    val bg = BetaGeoModel.fit(rfmRows.map(r => (r.frequency, r.recency, r.t_weeks)))
    val gg = GammaGammaModel.fit(
      rfmRows.filter(r => r.frequency > 1 && r.avg_monetary > 0)
        .map(r => (r.frequency, r.avg_monetary)))
    val viaColumns = ClvColumns
      .scoreAll(ClvPipeline.rfm(spark, sf, nGroups = 1).toDF(), bg, gg)
      .orderBy(col("custkey")).collect()
    rfmRows.zip(viaColumns).foreach { case (r, row) =>
      val pv = bg.conditionalExpectedPurchases(
        ClvPipeline.HorizonWeeks, r.frequency, r.recency, r.t_weeks)
      val pa = if (r.frequency > 0)
        bg.probAlive(r.frequency, r.recency, r.t_weeks) else 1.0
      val cp = gg.conditionalExpectedAverageProfit(r.frequency, r.avg_monetary)
      val cl = Clv.customerLifetimeValue(bg, cp, r.frequency, r.recency,
        r.t_weeks)
      assert(math.abs(row.getAs[Double]("pred_visits") - pv) < 1e-9)
      assert(math.abs(row.getAs[Double]("prob_alive") - pa) < 1e-9)
      assert(math.abs(row.getAs[Double]("cond_exp_avg_profit") - cp) < 1e-9)
      assert(math.abs(row.getAs[Double]("pred_clv") - cl) < 1e-7,
        s"clv ${row.getAs[Double]("pred_clv")} vs $cl for cust ${r.custkey}")
    }
  }

  // --- pipeline ----------------------------------------------------------

  test("distributed fit covers every customer exactly once") {
    val res = ClvPipeline.run(spark, sf, nGroups = 4).collect()
    val nCust = Tables.load(spark, sf, "orders")
      .select("o_custkey").distinct().count()
    assert(res.length == nCust)
    assert(res.map(_.custkey).distinct.length == res.length)
    assert(res.forall(r => r.prob_alive >= 0 && r.prob_alive <= 1))
    // expected profit (and therefore CLV) can be legitimately negative
    // for customers outside the Gamma-Gamma fit population (x <= 1) when
    // the fitted q < 1 — the prior mean p·v/(q−1) flips sign; lifetimes
    // does the same. Positivity IS an invariant for repeat buyers, and
    // CLV's sign must follow expected profit's.
    assert(res.forall(r => r.frequency <= 1 || r.cond_exp_avg_profit > 0))
    assert(res.forall(r => r.pred_clv >= 0 || r.cond_exp_avg_profit < 0))
  }

  test("distributed fit is deterministic across runs") {
    val a = ClvPipeline.run(spark, sf, nGroups = 4).collect()
      .sortBy(_.custkey)
    val b = ClvPipeline.run(spark, sf, nGroups = 4).collect()
      .sortBy(_.custkey)
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) => assert(x == y) }
  }

  test("repartition-pinned run equals groupByKey.flatMapGroups form") {
    val a = ClvPipeline.run(spark, sf, nGroups = 4).collect().sortBy(_.custkey)
    val b = ClvPipeline.runGroupByKey(spark, sf, nGroups = 4).collect()
      .sortBy(_.custkey)
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) => assert(x == y) }
  }

  test("fit_bgnbd SQL aggregate matches the library fit per group") {
    import org.apache.spark.sql.functions.col
    val viaAgg = graft.queries.ClvQueries.groupModelParams(spark, sf)
      .collect().map(r => r.getAs[Long]("group_key") ->
        (r.getAs[Double]("r"), r.getAs[Double]("alpha"),
          r.getAs[Double]("a"), r.getAs[Double]("b"))).toMap
    val rfm = ClvPipeline.rfm(spark, sf, 20).collect()
    val viaLib = rfm.groupBy(_.group_key).map { case (k, rows) =>
      val sorted = rows.toIndexedSeq
        .map(r => (r.frequency, r.recency, r.t_weeks))
        .sortBy(identity)
      val p = BetaGeoModel.fit(sorted)
      k -> (round6(p.r), round6(p.alpha), round6(p.a), round6(p.b))
    }
    viaLib.foreach { case (k, expect) =>
      assert(viaAgg(k) == expect, s"group $k: ${viaAgg(k)} vs $expect")
    }
  }

  private def round6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("driver-local path matches distributed path with one group") {
    val d = ClvPipeline.runOnDriver(spark, sf).collect()
      .sortBy(_.custkey).map(r => r.copy(group_key = 0))
    val g = ClvPipeline.run(spark, sf, nGroups = 1).collect()
      .sortBy(_.custkey).map(r => r.copy(group_key = 0))
    assert(d.length == g.length)
    d.zip(g).foreach { case (x, y) => assert(x == y) }
  }

  test("holdout validation gate: all model-quality booleans hold") {
    val row = graft.queries.ClvQueries.clvHoldoutValidation(spark, sf).head()
    assert(row.getAs[Long]("n_custs") > 0)
    assert(row.getAs[Boolean]("calibration_ok"), "aggregate prediction off by >2x")
    assert(row.getAs[Boolean]("mae_ok"), "per-customer MAE above noise floor")
    assert(row.getAs[Boolean]("bounds_ok"), "prediction outside domain bounds")
  }
}
