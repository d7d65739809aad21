package lakebench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run, started by `run.py`:
  * {{{
  *   lakebench.Main --workload <lake|query_suite> --seed <n>
  *     --seconds <s> --trace <0|1> --work <dir> --data <dir>
  *     --cpus <n> --out <result.json> [--spans <file>]
  * }}}
  * It creates the session, runs the workload's set-up, warm-up and timed
  * closed loop, and writes the raw results (set-up samples, every
  * operation with its latency and verdict, per-layer metrics when traced)
  * to `--out`. `run.py` turns them into the reported metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val tracing = a("trace") == "1"
    val cpus = a("cpus")
    val work = a("work")
    val b = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.catalog.lake", "graft.sources.GraftLakeCatalog")
      .config("spark.sql.catalog.lake.warehouse", s"$work/lake")
      // SQL UPDATE/DELETE/MERGE commit deletion vectors, like the Scala
      // merge-on-read verbs they are paired with
      .config("spark.graft.update.mode", "mor")
    if (tracing) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, new Recorder(spark, tracing), new scala.util.Random(a("seed").toLong),
      a("seconds").toDouble, work, a)
    ctx.phase("session up")
    workload match {
      case "lake" => LakeWorkload.run(ctx)
      case "query_suite" => QuerySuite.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    ctx.layers("jvm.peak_rss_mb") = Recorder.peakRssMb()
    a.get("spans").filter(_ => tracing).foreach(ctx.rec.writeSpans)
    ctx.writeResult(a("out"), workload)
    ctx.phase("stop")
    spark.stop()
  }
}

/** What a workload needs: the session, the recorder, its seeded random
  * source and the results it fills in. */
final class Ctx(val spark: SparkSession, val rec: Recorder, val rnd: scala.util.Random,
                val seconds: Double, val work: String, val args: Map[String, String]) {
  /** Set-up repetitions: wall and process CPU seconds of each. */
  val setup = mutable.ArrayBuffer.empty[(Double, Double)]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  var windowS = 0.0
  val injectWrongRow: Boolean = args.get("inject-wrong-row").contains("1")

  /** Run `first` once, then `step` in a closed loop until `seconds` have
    * passed since the window opened (at least once); returns the
    * operations recorded. */
  def timedLoop(step: () => Unit, first: () => Unit = () => ()): Seq[Op] = {
    val firstOp = rec.ops.size
    phase("timed loop")
    rec.startWindow()
    val t0 = System.nanoTime()
    first()
    step()
    while ((System.nanoTime() - t0) / 1e9 < seconds) step()
    windowS = (System.nanoTime() - t0) / 1e9
    rec.endWindow()
    phase("checks")
    rec.ops.drop(firstOp).toSeq
  }

  private val born = System.nanoTime()

  /** Log a phase boundary (to stderr, which run.py keeps in the JVM log). */
  def phase(name: String): Unit =
    System.err.println(f"lakebench phase $name at ${(System.nanoTime() - born) / 1e9}%.2f s")

  /** Time one set-up repetition. */
  def timeSetup[A](body: => A): A = {
    val c0 = Recorder.processCpuNs()
    val t0 = System.nanoTime()
    val r = body
    setup += (((System.nanoTime() - t0) / 1e9, (Recorder.processCpuNs() - c0) / 1e9))
    r
  }

  def writeResult(path: String, workload: String): Unit = {
    val ops = rec.ops.map(o => s"""{"cls":${Json.str(o.cls)},"kind":${Json.str(o.kind)},""" +
      f""""ms":${o.durNs / 1e6}%.4f,"cpu_ms":${o.cpuNs / 1e6}%.4f,"ok":${o.ok},"err":${Json.str(o.err)}}""")
    val info = Map(
      "spark" -> spark.version,
      "java" -> sys.props("java.version"),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "master" -> spark.sparkContext.master)
    val s = new StringBuilder
    s ++= s"""{"workload":${Json.str(workload)},"window_s":$windowS,"tracing":${rec.tracing},"""
    s ++= s""""setup_s":[${setup.map(_._1).mkString(",")}],"setup_cpu_s":[${setup.map(_._2).mkString(",")}],"""
    s ++= s""""info":{${info.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString(",")}},"""
    s ++= s""""layers":{${layers.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")}},"""
    s ++= s""""ops":[${ops.mkString(",\n")}]}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), s.toString)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
}

object Stats {
  /** Linear-interpolation quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
