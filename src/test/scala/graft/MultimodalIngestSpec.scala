package graft

import graft.ingest.Ingest
import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

class MultimodalIngestSpec extends SparkSpec {

  test("media table: every doc becomes a typed binary asset") {
    val media = Multimodal.syntheticMediaTable(spark, sf)
    val n = Tables.load(spark, sf, "documents").count()
    assert(media.count() == n)
    val kinds = media.toDF().select("kind").distinct()
      .collect().map(_.getString(0)).toSet
    assert(kinds == Set("image", "audio", "video"))
  }

  test("distributed decode emits one feature row per asset, deterministic") {
    val media = Multimodal.syntheticMediaTable(spark, sf)
    val f1 = Multimodal.decodeAll(media).collect().sortBy(_.media_id)
    val f2 = Multimodal.decodeAll(media.repartition(7)).collect()
      .sortBy(_.media_id)
    assert(f1.length == f2.length)
    f1.zip(f2).foreach { case (a, b) =>
      assert(a.media_id == b.media_id && a.width == b.width &&
        a.features.sameElements(b.features),
        s"decode not partition-invariant for ${a.media_id}")
    }
    assert(f1.forall(f => f.width >= 16 && f.height >= 16 &&
      f.features.length == 8))
  }

  test("real codec path: ImageIO decodes BMP and PNG payloads to exact dims") {
    import graft.multimodal.{MediaRow, Multimodal}
    // hand-rolled BMP: byte-length law + JDK BMP reader round trip
    val bmp = Multimodal.encodeBmp(33, 17, seed = 7L)
    assert(bmp.length == 54 + 17 * ((3 * 33 + 3) / 4 * 4),
      "BMP byte-length formula violated")
    val f = Multimodal.decode(MediaRow(1L, "image", bmp, 0))
    assert(f.width == 33 && f.height == 17 && f.n_frames == 1)
    assert(f.features.length == 8 && f.features.forall(v => !v.isNaN))
    // independent codec: a PNG (compressed — nothing byte-derived could
    // fake this) decodes to its true dimensions
    val img = new java.awt.image.BufferedImage(3, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff00ff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val g = Multimodal.decode(MediaRow(2L, "image", bos.toByteArray, 0))
    assert(g.width == 3 && g.height == 2)
    // undecodable payloads fall back to the deterministic stub
    val s = Multimodal.decode(MediaRow(3L, "audio",
      "plain text".getBytes("UTF-8"), 0))
    assert(s.width == 16 + 'p'.toInt % 240 && s.n_frames >= 1)
    // real WAV codec: javax.sound.sampled reports OUR layout back
    val wav = Multimodal.encodeWav(nSamples = 777, sampleRate = 8000, seed = 5L)
    assert(wav.length == 44 + 2 * 777, "WAV byte-length formula violated")
    val meta = Multimodal.audioMeta(wav)
    assert(meta.contains((8000, 1, 777L, 16)),
      s"JDK WAV parse disagrees: $meta")
    val a = Multimodal.decode(MediaRow(4L, "audio", wav, 0))
    assert(a.width == 8000 && a.height == 1 && a.n_frames == 777)
  }

  test("video frame sampling strides through payload chunks") {
    val media = Multimodal.syntheticMediaTable(spark, sf)
    val frames = Multimodal.sampleFrames(media, stride = 2)
    assert(frames.count() > 0)
    val bad = frames.filter(col("frame_idx") % 2 =!= 0).count()
    assert(bad == 0)
  }

  test("CSV ingest surface: Summary_2011 replay through the catalog") {
    summaryIngest(Summary2011Fixture.path)
  }

  {
    val path = "/root/reference/_data/Summary_2011.csv"
    if (new java.io.File(path).exists())
      test("CSV ingest surface: the reference's own Summary_2011 CSV") {
        summaryIngest(path)
      }
  }

  /** Ingest an RFM summary CSV shaped like the reference's
    * Summary_2011 (FIXTURES.md §A1) through the catalog. */
  private def summaryIngest(path: String): Unit = {
    val df = Ingest.ingestSummaryCsv(spark, path, "summary_2011")
    assert(df.count() == 2945)
    assert(df.columns.toSeq ==
      Seq("CustomerID", "T1", "recency1", "FREQUENCY", "profit"))
    // inferSchema: the fixture has a literal "null" CustomerID token
    // (line 1278), so that column infers as string — same behavior the
    // reference notebook saw on Databricks; weeks are ints, profit double
    val types = df.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(types("CustomerID") == "string")
    assert(types("T1") == "integer")
    assert(types("profit") == "double")
    // DESCRIBE works against the managed table
    assert(Ingest.describe(spark, "summary_2011").count() >= 5)
    Ingest.dropTable(spark, "summary_2011")
  }

  test("JSON and ORC source formats round-trip events") {
    val events = Tables.load(spark, sf, "events")
    val base = java.nio.file.Files.createTempDirectory("graft_fmt")
    try {
      events.write.json(s"$base/ev_json")
      events.write.orc(s"$base/ev_orc")
      val viaJson = Ingest.readJson(spark, s"$base/ev_json")
      val viaOrc = Ingest.readOrc(spark, s"$base/ev_orc")
      assert(viaJson.count() == events.count())
      assert(viaOrc.count() == events.count())
      // ORC preserves types exactly; JSON infers (ts becomes string)
      assert(viaOrc.schema("value").dataType.typeName == "double")
      assert(viaJson.columns.sorted.sameElements(events.columns.sorted))
      // ORC gets the same pushdown machinery: filtered count matches
      val n = events.filter(col("event_type") === "click").count()
      assert(viaOrc.filter(col("event_type") === "click").count() == n)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("CTAS materializes a query as a table") {
    Tables.load(spark, sf, "nation").createOrReplaceTempView("nation_v")
    val t = Ingest.ctas(spark, "nation_copy",
      "SELECT n_nationkey, n_name FROM nation_v WHERE n_nationkey < 10")
    assert(t.count() == 10)
    Ingest.dropTable(spark, "nation_copy")
  }
}
