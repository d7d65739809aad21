package lakebench

import java.lang.management.ManagementFactory
import java.util.Properties

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One operation of a workload's closed loop. `cls` is the latency class
  * it is reported under ("primary", "secondary" or "other"). */
final case class Op(cls: String, kind: String, id: Long, startNs: Long,
                    durNs: Long, cpuNs: Long, ok: Boolean, err: String)

/** A traced interval. `op` is the id of the operation it belongs to. */
final case class Span(id: Long, op: Long, parent: Long, name: String,
                      startNs: Long, endNs: Long)

/** Times every operation, and with tracing on also records a span around
  * each public call into a layer plus Spark jobs and Catalyst phases.
  * Everything stays in memory until [[layerMetrics]]/[[writeSpans]].
  * Operations run on one thread (closed loop, one client). */
final class Recorder(spark: SparkSession, val tracing: Boolean) {
  import Recorder._

  val ops = mutable.ArrayBuffer.empty[Op]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val calls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var nextId = 0L
  private var stack: List[Long] = Nil
  private var curOp = 0L
  /** Layer calls are counted only inside the timed window. */
  private var windowOpen = false
  private val sc = spark.sparkContext
  /** nanoTime of the epoch, so listener wall-clock stamps join spans. */
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  private def newId(): Long = { nextId += 1; nextId }

  /** Run one timed operation. `body` is the call into the program;
    * `check` runs after the clock stops and returns an error for a wrong
    * result. An exception or a wrong result marks the operation failed. */
  def op[R](cls: String, kind: String)(body: => R)(check: R => Option[String]): Option[R] = {
    val id = newId()
    curOp = id
    if (tracing) {
      sc.setLocalProperty(OpProp, id.toString)
      sc.setLocalProperty(SpanProp, id.toString)
      stack = List(id)
    }
    val c0 = processCpuNs()
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    val c1 = processCpuNs()
    if (tracing) {
      spans += Span(id, id, 0L, s"op.$kind", t0, t1)
      sc.setLocalProperty(OpProp, null)
      sc.setLocalProperty(SpanProp, null)
      stack = Nil
    }
    curOp = 0L
    val err = res match {
      case Left(e) => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      case Right(r) =>
        try check(r) catch { case NonFatal(e) => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    ops += Op(cls, kind, id, t0, t1 - t0, c1 - c0, err.isEmpty, err.getOrElse(""))
    res.toOption.filter(_ => err.isEmpty)
  }

  /** Time one public call into a layer (named `layer.function`). */
  def call[A](name: String)(body: => A): A =
    if (!tracing || curOp == 0L) body
    else {
      val id = newId()
      val parent = stack.head
      stack = id :: stack
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProp, parent.toString)
        spans += Span(id, curOp, parent, name, t0, t1)
        if (windowOpen) calls.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (t1 - t0) / 1e6
      }
    }

  // ---- listeners (tracing only) -------------------------------------

  private final case class JobRec(op: Long, span: Long, startMs: Long, endMs: Long)
  private final case class PhaseRec(phase: String, startMs: Long, endMs: Long)
  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[PhaseRec]()
  @volatile private var plans = 0L
  /** Task metric sums per operation id. */
  private val taskSums = new java.util.concurrent.ConcurrentHashMap[(Long, String), java.lang.Long]()
  @volatile private var markerSeen = false

  private def add(op: Long, k: String, v: Long): Unit = taskSums.merge((op, k), v, (a, b) => a + b)

  /** Sum of one task metric over the tasks of `ops`. */
  def taskSum(ops: Seq[Op], k: String): Double =
    ops.map(o => Option(taskSums.get((o.id, k))).map(_.doubleValue).getOrElse(0.0)).sum

  private object Listener extends SparkListener {
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]()
    private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    private def prop(p: Properties, k: String): Long =
      Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(0L)
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      if (prop(e.properties, MarkerProp) != 0L) return
      val op = prop(e.properties, OpProp)
      e.stageIds.foreach(s => stageOp.put(s, op))
      jobStart.put(e.jobId, (op, prop(e.properties, SpanProp), e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)) match {
        case Some((op, span, t0)) => if (op != 0L) jobs.add(JobRec(op, span, t0, e.time))
        case None => markerSeen = true
      }
    private def opOf(stage: Int): Long = Option(stageOp.get(stage)).map(_.longValue).getOrElse(0L)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val op = opOf(e.stageInfo.stageId)
      if (op != 0L) add(op, "stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = opOf(e.stageId)
      if (op != 0L && e.taskMetrics != null) {
        val m = e.taskMetrics
        add(op, "tasks", 1)
        add(op, "task_run_ms", m.executorRunTime)
        add(op, "task_cpu_ms", m.executorCpuTime / 1000000L)
        add(op, "task_gc_ms", m.jvmGCTime)
        add(op, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add(op, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add(op, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add(op, "input_records", m.inputMetrics.recordsRead)
        add(op, "output_bytes", m.outputMetrics.bytesWritten)
      }
    }
  }

  private object QeListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      plans += 1
      qe.tracker.phases.foreach { case (name, p) => phases.add(PhaseRec(name, p.startTimeMs, p.endTimeMs)) }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val fsBase = mutable.Map.empty[String, Long]
  private val jvmBase = mutable.Map.empty[String, Long]

  /** Start of the timed window: attach listeners, take counter bases. */
  def startWindow(): Unit = if (tracing) {
    sc.addSparkListener(Listener)
    spark.listenerManager.register(QeListener)
    fsBase ++= fsCounters()
    jvmBase ++= gcCounters()
    plans = 0L
    windowOpen = true
  }

  /** End of the timed window: wait until the listener queue has drained
    * past a marker job, then detach. */
  def endWindow(): Unit = if (tracing) {
    windowOpen = false
    fsBase.keys.foreach(k => fsBase(k) = fsCounters()(k) - fsBase(k))
    jvmBase.keys.foreach(k => jvmBase(k) = gcCounters()(k) - jvmBase(k))
    sc.setLocalProperty(MarkerProp, "1")
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(MarkerProp, null)
    val deadline = System.nanoTime() + 10000000000L
    while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200)
    sc.removeSparkListener(Listener)
    spark.listenerManager.unregister(QeListener)
  }

  private def epochToNs(ms: Long): Long = ms * 1000000L - epochNs

  /** Catalyst phases, each attributed to the operation whose interval
    * holds the phase start, and parented to the innermost span there. */
  private lazy val phaseSpans: Seq[Span] = {
    val opSpans = spans.filter(s => s.parent == 0L).sortBy(_.startNs)
    val starts = opSpans.map(_.startNs).toArray
    phases.asScala.toSeq.flatMap { p =>
      val t0 = epochToNs(p.startMs)
      val i = java.util.Arrays.binarySearch(starts, t0) match {
        case k if k >= 0 => k
        case k => -k - 2
      }
      if (i < 0 || opSpans(i).endNs < t0) None
      else {
        val op = opSpans(i).op
        val inner = spans.filter(s => s.op == op && s.startNs <= t0 && s.endNs >= t0)
          .maxBy(s => (s.startNs, -s.endNs))
        Some(Span(newId(), op, inner.id, s"catalyst.${p.phase}", t0, epochToNs(p.endMs)))
      }
    }
  }

  private lazy val jobSpans: Seq[Span] =
    jobs.asScala.toSeq.map(j => Span(newId(), j.op, j.span, "spark.job", epochToNs(j.startMs), epochToNs(j.endMs)))

  private def allSpans: Seq[Span] = spans.toSeq ++ jobSpans ++ phaseSpans

  /** Per-layer metrics of the operations in `timed` (tracing only). */
  def layerMetrics(timed: Seq[Op]): mutable.LinkedHashMap[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val ids = timed.map(_.id).toSet
    def stat(name: String, key: String): Unit = {
      val xs = calls.getOrElse(key, mutable.ArrayBuffer.empty[Double])
      m(s"$name.calls") = xs.size
      m(s"$name.total_ms") = xs.sum
      m(s"$name.p50_ms") = if (xs.isEmpty) 0.0 else Stats.quantile(xs.toSeq, 0.5)
    }
    LakeFns.foreach(f => stat(s"LakeTable.$f", s"LakeTable.$f"))
    stat("scan.action", "scan.action")
    stat("sql.dml", "sql.dml")
    val ph = phaseSpans.filter(s => ids(s.op))
    Seq("parsing", "analysis", "optimization", "planning").foreach { p =>
      m(s"catalyst.${p}_ms") = ph.filter(_.name == s"catalyst.$p").map(s => (s.endNs - s.startNs) / 1e6).sum
    }
    m("catalyst.plans") = plans.toDouble
    val js = jobSpans.filter(s => ids(s.op))
    m("spark.jobs") = js.size
    Seq("stages", "tasks", "task_run_ms", "task_cpu_ms", "task_gc_ms", "shuffle_read_bytes",
      "shuffle_write_bytes", "spill_bytes", "input_records", "output_bytes").foreach { k =>
      m(s"spark.$k") = taskSum(timed, k)
    }
    m("spark.job_wall_ms") = js.map(s => (s.endNs - s.startNs) / 1e6).sum
    m("spark.driver_only_ms") = timed.map { o =>
      val iv = js.filter(_.op == o.id).map(s => (s.startNs, s.endNs))
      (o.durNs - covered(o.startNs, o.startNs + o.durNs, iv)) / 1e6
    }.sum
    Seq("read_ops", "list_ops", "write_ops", "bytes_read", "bytes_written").foreach { k =>
      m(s"fs.$k") = fsBase.getOrElse(k, 0L).toDouble
    }
    m("jvm.gc_count") = jvmBase.getOrElse("gc_count", 0L).toDouble
    m("jvm.gc_ms") = jvmBase.getOrElse("gc_ms", 0L).toDouble
    m("jvm.heap_after_gc_mb") = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    m
  }

  /** Job count and planning time (analysis, optimization, physical
    * planning) of the operations in `timed`. */
  def jobsAndPlanning(timed: Seq[Op]): (Int, Double) = {
    val ids = timed.map(_.id).toSet
    (jobSpans.count(s => ids(s.op)),
      phaseSpans.filter(s => ids(s.op) && s.name != "catalyst.parsing")
        .map(s => (s.endNs - s.startNs) / 1e6).sum)
  }

  /** Write every span as one JSON line with its self time: its duration
    * minus the part of it that its child spans cover. */
  def writeSpans(path: String): Unit = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      val self = (s.endNs - s.startNs) -
        covered(s.startNs, s.endNs, kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))
      w.println(s"""{"id":${s.id},"op":${s.op},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        f""""start_ms":${s.startNs / 1e6}%.3f,"end_ms":${s.endNs / 1e6}%.3f,"self_ms":${self / 1e6}%.3f}""")
    } finally w.close()
  }
}

object Recorder {
  val OpProp = "lakebench.op"
  val SpanProp = "lakebench.span"
  val MarkerProp = "lakebench.marker"
  val LakeFns = Seq("append", "updateWhereMor", "deleteWhereDv", "mergeMor",
    "compactDeletes", "vacuum", "read", "readWhereEq")

  /** Length of [lo, hi] covered by the union of `iv`. */
  def covered(lo: Long, hi: Long, iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var reach = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._1 < x._2)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Operation counts kept by [[CountingLocalFileSystem]] plus the byte
    * counters Hadoop keeps per file system. */
  def fsCounters(): Map[String, Long] = {
    val st = FileSystem.getGlobalStorageStatistics.iterator().asScala.toSeq
    def sum(k: String) = st.map(s => Option(s.getLong(k)).map(_.longValue).getOrElse(0L)).sum
    Map("read_ops" -> CountingLocalFileSystem.reads.sum(),
      "list_ops" -> CountingLocalFileSystem.lists.sum(),
      "write_ops" -> CountingLocalFileSystem.writes.sum(),
      "bytes_read" -> sum("bytesRead"), "bytes_written" -> sum("bytesWritten"))
  }

  def gcCounters(): Map[String, Long] = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Map("gc_count" -> gcs.map(_.getCollectionCount.max(0L)).sum,
      "gc_ms" -> gcs.map(_.getCollectionTime.max(0L)).sum)
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this process, all threads. */
  def processCpuNs(): Long = os.getProcessCpuTime

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** The local file system with operation counters, installed for `file:`
  * paths in traced runs only (`spark.hadoop.fs.file.impl`). */
final class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._
  override def open(f: Path, bufferSize: Int) = { reads.increment(); super.open(f, bufferSize) }
  override def listStatus(f: Path) = { lists.increment(); super.listStatus(f) }
  override def create(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable) = {
    writes.increment()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path) = { writes.increment(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean) = { writes.increment(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission) = {
    writes.increment(); super.mkdirs(f, permission)
  }
}

object CountingLocalFileSystem {
  val reads = new java.util.concurrent.atomic.LongAdder
  val lists = new java.util.concurrent.atomic.LongAdder
  val writes = new java.util.concurrent.atomic.LongAdder
}
