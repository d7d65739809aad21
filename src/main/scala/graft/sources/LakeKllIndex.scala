package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Committed QUANTILE sketches as lake sidecars — "what's the p99 of
  * this 100 TB column?" answered from kilobytes of metadata instead of
  * a full scan. The [[LakeHllIndex]] pattern with the KLL sketch
  * (Karnin–Lang–Liberty, FOCS'16 — the mergeable-quantile surface
  * Spark ships as `kll_sketch_agg_double`): one sketch per (file
  * group, column) built at index time, stored as an immutable
  * `_index/` sidecar, referenced from the manifest as
  * `#kllsk:<dir>:<col>=<sidecar>`; a percentile estimate merges the
  * committed sketches (`kll_merge_agg_double` — mergeability is the
  * KLL design theorem, the merged sketch obeys the same rank-error
  * bound) and live-scans only UNCOVERED groups (appends since the last
  * index run). Invalidation mirrors the bloom/HLL contract: sidecars
  * are keyed by the COW-immutable data dir, so an entry can never
  * describe changed rows; rewrites drop entries with their dirs;
  * re-indexing is O(churn).
  *
  * Sketches cannot subtract, so a table with merge-on-read deletes
  * refuses to estimate (materialize first), as the HLL index does. k is fixed at 200 (~1.65%
  * rank error) so committed and live sketches always merge without
  * config drift; values are sketched as doubles (the widest numeric
  * the column casts to losslessly for rank purposes at this k).
  */
object LakeKllIndex {

  private val K = 200

  private def key(dir: String, col: String) = s"kllsk:$dir:$col"

  /** Build (or incrementally extend) committed KLL sketches for
    * `cols`: sketches ONLY (dir, col) pairs without an entry, publishes
    * one metadata-only commit (op=index-kll, same file groups). No-ops
    * (same version) when already complete. */
  def indexKll(spark: SparkSession, root: String,
               cols: Seq[String]): Int = {
    val v = LakeTable.latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    val meta = LakeTable.manifestMetaAt(spark, root, v)
    cols.foreach(c => LakeTable.requireNotRenamed(meta, c, "KLL indexing"))
    val dirs = LakeTable.dataDirsAt(spark, root, v)
    val f = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    f.mkdirs(new Path(root, "_index"))
    val added = for {
      dir <- dirs; c <- cols
      if !meta.contains(key(dir, c))
    } yield {
      val sk = spark.read.parquet(new Path(root, dir).toString)
        .agg(kll_sketch_agg_double(col(c).cast("double"), lit(K)).as("sk"))
        .head().getAs[Array[Byte]]("sk")
      val rel = s"_index/kll-${dir.replace('/', '_')}-$c.bin"
      val out = f.create(new Path(root, rel), true)
      try out.write(sk) finally out.close()
      key(dir, c) -> rel
    }
    if (added.isEmpty) return v
    LakeTable.commitVersion(spark, root, v + 1, dirs,
      LakeTable.carryMeta(meta) ++ added + ("op" -> "index-kll"))
  }

  /** (covered dirs, uncovered dirs) for `colName` at the latest
    * snapshot — exposed for tests/inspection. */
  def coverage(spark: SparkSession, root: String,
               colName: String): (Seq[String], Seq[String]) = {
    val v = LakeTable.latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    val meta = LakeTable.manifestMetaAt(spark, root, v)
    LakeTable.dataDirsAt(spark, root, v)
      .partition(d => meta.contains(key(d, colName)))
  }

  /** Approximate quantiles of `colName` at the given ranks (each in
    * (0,1]): covered groups cost one sidecar read each (KBs),
    * uncovered groups one live sketch pass; the merged estimate never
    * scans a covered byte. An all-null/empty column yields NaNs. */
  def approxQuantiles(spark: SparkSession, root: String, colName: String,
                      ranks: Seq[Double]): Seq[Double] = {
    import spark.implicits._
    require(ranks.nonEmpty && ranks.forall(r => r > 0.0 && r <= 1.0),
      s"ranks must be in (0,1]: $ranks")
    val v = LakeTable.latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    val meta = LakeTable.manifestMetaAt(spark, root, v)
    if (LakeTable.deleteState(meta).nonEmpty)
      throw new UnsupportedOperationException(
        s"table at $root has merge-on-read deletes; sketches cannot " +
          "subtract — materialize them first (rewriteDeletes/compact)")
    LakeTable.requireNotRenamed(meta, colName, "KLL estimation")
    val (covered, open) = coverage(spark, root, colName)
    val f = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val committed: Seq[Array[Byte]] = covered.map { d =>
      val in = f.open(new Path(root, meta(key(d, colName))))
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](8192)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        buf.toByteArray
      } finally in.close()
    }
    val sidecarSketches =
      if (committed.isEmpty) None
      else Some(committed.toDF("sk"))
    val liveSketch =
      if (open.isEmpty) None
      else Some(LakeTable.scanDirs(spark,
          open.map(d => new Path(root, d).toString))
        .agg(kll_sketch_agg_double(col(colName).cast("double"), lit(K))
          .as("sk")))
    val allSketches = (sidecarSketches, liveSketch) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => return ranks.map(_ => Double.NaN)
    }
    val merged = allSketches
      .agg(kll_merge_agg_double(col("sk"), K).as("m"))
    val row = merged.select(ranks.zipWithIndex.map { case (r, i) =>
      kll_sketch_get_quantile_double(col("m"), lit(r)).as(s"q$i")
    }: _*).head()
    ranks.indices.map(row.getDouble(_))
  }
}
