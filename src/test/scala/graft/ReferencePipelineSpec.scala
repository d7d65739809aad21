package graft

import graft.clv._
import graft.ingest.Ingest
import org.apache.spark.sql.functions._

/** End-to-end replay of the reference's three-notebook chain
  * (SURVEY.md §5.4): DE (CSV → managed table) → DS (RFM → BG/NBD +
  * Gamma-Gamma fit → per-customer predictions) → SQL (segmentation
  * dashboard query), on the in-repo Summary_2011 fixture
  * ([[Summary2011Fixture]]) and, when present, the reference's own CSV. */
class ReferencePipelineSpec extends SparkSpec {

  private val csv = "/root/reference/_data/Summary_2011.csv"

  /** The chain over an RFM summary CSV shaped like Summary_2011. */
  private def dashboardChain(csv: String): Unit = {
    import spark.implicits._

    // --- DE: ingest into the catalog (ref DE_data_preparation.py:55-77)
    val table = Ingest.ingestSummaryCsv(spark, csv, "summary_2011_e2e")
    try {
      // --- DS: RFM columns (ref DS:164-168 renames) + fit + predict
      val rfm = table
        .filter(col("CustomerID").isNotNull && col("CustomerID") =!= "null")
        .select(
          col("CustomerID").cast("long").as("custkey"),
          col("FREQUENCY").cast("double").as("frequency"),
          col("recency1").cast("double").as("recency"),
          col("T1").cast("double").as("t_weeks"),
          col("profit").cast("double").as("avg_monetary"))
        .withColumn("group_key", col("custkey") % 4 + 1)
        .as[RfmRow]

      val results = rfm
        .repartition(4, col("group_key"))
        .mapPartitions(it =>
          it.toIndexedSeq.groupBy(_.group_key).toSeq.sortBy(_._1)
            .iterator.flatMap { case (_, rows) =>
              ClvPipeline.fitPredict(rows)
            })
        .cache()

      val n = results.count()
      assert(n == rfm.count(), "every customer scored")
      assert(results.filter(r =>
        r.prob_alive < 0 || r.prob_alive > 1 || r.pred_clv < 0).count() == 0)

      // --- SQL: the dashboard segmentation (ref DS:371-383 shape)
      results.toDF().createOrReplaceTempView("ltv_results_e2e")
      val seg = spark.sql(
        """SELECT CASE WHEN pred_visits >= 20 THEN '20+'
          |            WHEN pred_visits >= 10 THEN '10-19'
          |            WHEN pred_visits >= 5  THEN '5-9'
          |            ELSE '0-4' END AS visit_band,
          |       count(*) AS n, round(sum(pred_clv), 2) AS total_clv
          |FROM ltv_results_e2e
          |GROUP BY visit_band ORDER BY visit_band""".stripMargin)
        .collect()
      assert(seg.map(_.getAs[Long]("n")).sum == n)
      results.unpersist()
    } finally Ingest.dropTable(spark, "summary_2011_e2e")
  }

  test("DE -> DS -> SQL chain over Summary_2011 produces a sane dashboard") {
    dashboardChain(Summary2011Fixture.path)
  }

  if (new java.io.File(csv).exists())
    test("DE -> DS -> SQL chain over the reference's own Summary_2011 CSV") {
      dashboardChain(csv)
    }

  test("Gamma-Gamma fit recovers generating parameters from simulated data") {
    val (pT, qT, vT) = (3.0, 4.0, 15.0)
    var seed = 7L
    def nextU(): Double = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (seed >>> 11).toDouble / (1L << 53).toDouble
    }
    def gammaDraw(shape: Double): Double = {
      val k = shape.floor.toInt
      var g = 0.0
      var i = 0
      while (i < k) { g += -math.log(1 - nextU()); i += 1 }
      val frac = shape - k
      if (frac > 1e-12) {
        var done = false
        while (!done) {
          val u = math.pow(nextU(), 1 / frac)
          val v = math.pow(nextU(), 1 / (1 - frac))
          if (u + v <= 1) { g += u / (u + v) * -math.log(1 - nextU()); done = true }
        }
      }
      g
    }
    // per customer: ν ~ Gamma(q, rate v) → spend_i ~ Gamma(p, rate ν);
    // observed m̄x = mean of x draws
    val data = (1 to 3000).map { _ =>
      val nu = gammaDraw(qT) / vT
      val x = 1 + (nextU() * 6).toInt
      var total = 0.0
      var i = 0
      while (i < x) { total += gammaDraw(pT) / nu; i += 1 }
      (x.toDouble, total / x)
    }
    val fit = GammaGammaModel.fit(data, penalizer = 0.0)
    // p and q are correlated; the population mean spend pv/(q-1) is the
    // well-identified quantity
    val meanTrue = pT * vT / (qT - 1)
    val meanFit = fit.p * fit.v / (fit.q - 1)
    assert(math.abs(meanFit - meanTrue) / meanTrue < 0.15,
      s"population mean: $meanFit vs $meanTrue ($fit)")
    assert(math.abs(fit.p - pT) / pT < 0.5, s"p: $fit")
  }
}
