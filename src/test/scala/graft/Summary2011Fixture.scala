package graft

/** The in-repo stand-in for the reference notebook's `Summary_2011.csv`
  * (FIXTURES.md §A1): an RFM summary of 2,945 customers with header
  * `CustomerID,T1,recency1,FREQUENCY,profit`, generated deterministically
  * from [[Seed]] and committed as the test resource `Summary_2011.csv`.
  *
  * Each customer is drawn from the BG/NBD and Gamma-Gamma generative
  * models the CLV code fits: an observation window `T1` of 2–51 weeks,
  * purchase rate λ ~ Gamma(r, α), dropout probability p ~ Beta(a, b),
  * exponential waits between purchases and a dropout trial after each;
  * customers with no repeat purchase (or more than 50) are redrawn, so
  * `FREQUENCY` is 1–50 and `recency1` (the last repeat purchase, rounded
  * up to whole weeks) is 1–`T1`. `profit` is the mean of `FREQUENCY`
  * Gamma(p, ν) spends with ν ~ Gamma(q, v), rounded to cents, > 0.
  * Ids are unique and increasing; the id on line 1,278 is the literal
  * `null` token, as in the reference, so CSV schema inference reads
  * `CustomerID` as a string.
  *
  * Regenerate the resource with
  * `sbt "Test/runMain graft.Summary2011Fixture src/test/resources/Summary_2011.csv"`;
  * `Summary2011FixtureSpec` checks the committed file equals [[lines]].
  * Uniform and normal draws come from `java.util.Random`, whose
  * sequence is fixed by its specification, and every transcendental
  * function is `StrictMath`, so the output is the same on every JVM. */
object Summary2011Fixture {
  val Seed = 20110101L
  val Rows = 2945
  val Header = "CustomerID,T1,recency1,FREQUENCY,profit"
  /** 1-based line of the literal `null` id, header included. */
  val NullIdLine = 1278

  // BG/NBD (r, α, a, b) and Gamma-Gamma (p, q, v) generating parameters
  private val (r, alpha, a, b) = (0.9, 6.0, 0.7, 2.8)
  private val (p, q, v) = (2.0, 3.0, 400.0)

  /** Marsaglia–Tsang Gamma(shape, rate 1); shape < 1 boosts shape + 1. */
  private def gamma(rnd: java.util.Random, shape: Double): Double =
    if (shape < 1)
      gamma(rnd, shape + 1) * StrictMath.pow(rnd.nextDouble(), 1 / shape)
    else {
      val d = shape - 1.0 / 3
      val c = 1 / StrictMath.sqrt(9 * d)
      var out = -1.0
      while (out < 0) {
        val x = rnd.nextGaussian()
        val t = 1 + c * x
        if (t > 0) {
          val w = t * t * t
          val u = rnd.nextDouble()
          if (StrictMath.log(u) < 0.5 * x * x + d - d * w + d * StrictMath.log(w))
            out = d * w
        }
      }
      out
    }

  /** (T1, recency1, FREQUENCY) of one customer with 1–50 repeat purchases. */
  private def customer(rnd: java.util.Random): (Int, Int, Int) = {
    var row: Option[(Int, Int, Int)] = None
    while (row.isEmpty) {
      val t1 = 2 + rnd.nextInt(50)
      val lambda = gamma(rnd, r) / alpha
      val ga = gamma(rnd, a)
      val drop = ga / (ga + gamma(rnd, b))
      var t = 0.0
      var last = 0.0
      var x = 0
      var alive = true
      while (alive && x <= 50) {
        t += -StrictMath.log(1 - rnd.nextDouble()) / lambda
        if (t > t1) alive = false
        else {
          x += 1; last = t
          if (rnd.nextDouble() < drop) alive = false
        }
      }
      if (x >= 1 && x <= 50)
        row = Some((t1, math.max(1, math.ceil(last).toInt), x))
    }
    row.get
  }

  /** The fixture's lines, header first. */
  def lines(seed: Long = Seed): Seq[String] = {
    val rnd = new java.util.Random(seed)
    var id = 12346
    Header +: (0 until Rows).map { i =>
      val (t1, recency, freq) = customer(rnd)
      val nu = gamma(rnd, q) / v
      val spend = (0 until freq).map(_ => gamma(rnd, p) / nu).sum / freq
      val profit = math.max(0.01, math.round(spend * 100) / 100.0)
      val key = if (i + 2 == NullIdLine) "null" else id.toString
      id += 1 + rnd.nextInt(2)
      String.format(java.util.Locale.ROOT, "%s,%d,%d,%d,%.2f",
        key, Int.box(t1), Int.box(recency), Int.box(freq), Double.box(profit))
    }
  }

  /** Path of the committed fixture on the test classpath. */
  def path: String =
    new java.io.File(getClass.getResource("/Summary_2011.csv").toURI).getPath

  def main(args: Array[String]): Unit = {
    val out = java.nio.file.Paths.get(args.headOption.getOrElse(
      "src/test/resources/Summary_2011.csv"))
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out,
      lines().mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
