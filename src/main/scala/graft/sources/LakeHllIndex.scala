package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Committed DISTINCT-COUNT sketches as lake sidecars — "how many
  * unique users in this 100 TB table?" answered from kilobytes of
  * metadata instead of a full scan. One DataSketches HLL sketch per
  * (file group, column) is built at index time, stored as an immutable
  * `_index/` sidecar (the bloom/ANN commit pattern), and referenced
  * from the manifest as `#hllsk:<dir>:<col>=<sidecar>`; an estimate
  * merges the committed sketches (`hll_union_agg` — register content
  * is merge-order-invariant, so the answer is deterministic under any
  * partitioning) and live-scans only UNCOVERED groups (appends since
  * the last index run). Invalidation mirrors the bloom contract:
  * sidecars are keyed by the COW-immutable data dir, so entries can
  * never describe changed rows; rewrites drop entries with their dirs;
  * re-indexing is O(churn).
  *
  * Sketches cannot subtract, so a table with merge-on-read deletes
  * refuses to estimate (materialize first). lgK is fixed at 14 (~0.8% rse) so committed
  * and live sketches always union without config drift. */
object LakeHllIndex {

  private val LgK = 14

  private def key(dir: String, col: String) = s"hllsk:$dir:$col"

  /** Build (or incrementally extend) committed HLL sketches for
    * `cols`: encodes ONLY (dir, col) pairs without an entry, publishes
    * one metadata-only commit (op=index-hll, same file groups). No-ops
    * (same version) when already complete. */
  def indexHll(spark: SparkSession, root: String,
               cols: Seq[String]): Int = {
    val v = LakeTable.latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    val meta = LakeTable.manifestMetaAt(spark, root, v)
    cols.foreach(c => LakeTable.requireNotRenamed(meta, c, "HLL indexing"))
    val dirs = LakeTable.dataDirsAt(spark, root, v)
    val f = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    f.mkdirs(new Path(root, "_index"))
    val added = for {
      dir <- dirs; c <- cols
      if !meta.contains(key(dir, c))
    } yield {
      val sk = spark.read.parquet(new Path(root, dir).toString)
        .agg(hll_sketch_agg(col(c), lit(LgK)).as("sk"))
        .head().getAs[Array[Byte]]("sk")
      val rel = s"_index/hll-${dir.replace('/', '_')}-$c.bin"
      val out = f.create(new Path(root, rel), true)
      try out.write(sk) finally out.close()
      key(dir, c) -> rel
    }
    if (added.isEmpty) return v
    LakeTable.commitVersion(spark, root, v + 1, dirs,
      LakeTable.carryMeta(meta) ++ added + ("op" -> "index-hll"))
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

  /** Approximate COUNT(DISTINCT colName) from the committed sketches:
    * covered groups cost one sidecar read each (KBs), uncovered groups
    * one live sketch pass; the merged estimate never scans a covered
    * byte. */
  def approxDistinct(spark: SparkSession, root: String,
                     colName: String): Long = {
    import spark.implicits._
    val v = LakeTable.latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    val meta = LakeTable.manifestMetaAt(spark, root, v)
    if (LakeTable.deleteState(meta).nonEmpty)
      throw new UnsupportedOperationException(
        s"table at $root has merge-on-read deletes; sketches cannot " +
          "subtract — materialize them first (rewriteDeletes/compact)")
    LakeTable.requireNotRenamed(meta, colName, "HLL estimation")
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
        .agg(hll_sketch_agg(col(colName), lit(LgK)).as("sk")))
    val allSketches = (sidecarSketches, liveSketch) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => return 0L
    }
    allSketches
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
        .as("est"))
      .head().getLong(0)
  }
}
