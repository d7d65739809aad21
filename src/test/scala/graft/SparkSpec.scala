package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one local[4] JVM session, UTC, small
  * shuffle fan-out (matches the driver's Verify config). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf

  /** Spark jobs `body` launches, counted by a SparkListener. A marker
    * job run afterwards flushes the listener bus: events arrive in
    * order, so once the marker's start is seen every earlier job start
    * has been counted. */
  protected def jobsDuring[A](body: => A): (A, Int) = {
    val (out, jobs) = jobSitesDuring(body)
    (out, jobs.size)
  }

  /** The Spark jobs `body` launches, each as the names and call-site
    * details of its stages, one string per job. */
  protected def jobSitesDuring[A](body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val prop = "graft.sparkspec.phase"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(prop))) match {
          case Some("body") => jobs.add(e.stageInfos
            .map(s => s"${s.name}\n${s.details}").mkString("\n"))
          case Some("marker") => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(prop, "body")
      val out = try body finally sc.setLocalProperty(prop, "marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(prop, null)
      assert(marker.await(30, java.util.concurrent.TimeUnit.SECONDS))
      import scala.jdk.CollectionConverters._
      (out, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** The Spark schema the writer recorded in the footer of the first
    * (by name) parquet file directly under `dir`. */
  protected def footerSchema(dir: String): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toString), conf))
    try org.apache.spark.sql.types.DataType.fromJson(
        r.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
      .asInstanceOf[StructType]
    finally r.close()
  }
}
