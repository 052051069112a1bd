package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.FingerprintMemo

/**
 * Tier manifest shared by the batched stored artifacts (text index, dedup
 * index): a generation is either SELF-CONTAINED (all data in its own
 * dirs — what build and the full fold produce) or a TIER generation,
 * whose local dirs hold only the folded append tier (batch=1) plus newer
 * appends while a 1-row `tiermeta` parquet references the self-contained
 * BASE generation supplying the immutable `batch=0`. The batched twin of
 * the ANN index's shardDirs manifest (generations referencing
 * predecessors' dirs), and what makes compaction O(appended data) instead
 * of O(corpus): a daily fold at 100 TB must not rewrite the base.
 *
 * The reference is stored RELATIVE to the index path ("" = the flat root,
 * "versions/v000000001" = an installed generation) so a relocated
 * artifact keeps resolving. Chain depth is 1 by construction — a tier
 * fold over a tier generation copies the SAME base reference and folds
 * only local dirs.
 */
object TierManifest {

  // one definition of the "strip /versions/v%09d" rule for the whole
  // package — DiskannIndex.indexRootOf owns it
  private[graft] def indexPathOfRoot(root: String): String =
    DiskannIndex.indexRootOf(root)

  // fingerprint: the tiermeta dir's listing — an in-place rebuild in
  // ANOTHER process can recreate a root string with different content
  private val tierBases = new FingerprintMemo[Option[String]](
    "TierManifest.tierBases", 64, FingerprintMemo.Jvm)
  // fingerprint: the table dir's two-level listing (an append lands a new
  // batch=N dir, or files in an existing batch/tb dir) + the base path
  private val tableDfs = new FingerprintMemo[DataFrame](
    "TierManifest.tableDfs", 64, FingerprintMemo.Session)

  /** Drop every cached entry under `path` — REQUIRED after an in-place
    * rebuild: `build*Index` deletes `versions/`, version numbering restarts
    * at v000000001, and the recreated root STRING can equal a cached one
    * while meaning a different artifact. A stale None would silently drop
    * the base corpus from every union read; a stale Some could point GC at
    * the wrong retained set. */
  def invalidateUnder(path: String): Unit = {
    tierBases.invalidate(path)
    tableDfs.invalidate(path)
  }

  /** The self-contained base generation a TIER generation references;
    * None for self-contained generations. */
  def tierBase(spark: SparkSession, root: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/tiermeta")
    val fp = FingerprintMemo.listingFingerprint(
      p.getFileSystem(spark.sessionState.newHadoopConf()), p)
    tierBases.get(spark, root, fp) {
      if (fp == FingerprintMemo.Absent) None
      else {
        val rel = spark.read.parquet(p.toString).head().getString(0)
        val idx = indexPathOfRoot(root)
        Some(if (rel.isEmpty) idx else s"$idx/$rel")
      }
    }
  }

  /** One logical table of the generation at `root`: the local dir, plus —
    * for tier generations — the base generation's immutable `batch=0`
    * (basePath option keeps the partition column; only batch 0 is read
    * from the base BY CONSTRUCTION, its later batches having been folded
    * into this generation's tier). Every serve/stats/fold path reads
    * through here so tiering is invisible above this line. */
  def tableDfAt(spark: SparkSession, root: String,
      table: String): DataFrame = {
    val base = tierBase(spark, root)
    val local = new org.apache.hadoop.fs.Path(s"$root/$table")
    val localFp = FingerprintMemo.listingFingerprint(
      local.getFileSystem(spark.sessionState.newHadoopConf()), local, depth = 2)
    def resolve(): DataFrame = base match {
      case Some(b) =>
        spark.read.option("basePath", s"$b/$table")
          .parquet(s"$b/$table/batch=0")
          .unionByName(spark.read.parquet(s"$root/$table"))
      case None => spark.read.parquet(s"$root/$table")
    }
    // a missing local dir keeps the fresh-read error shape
    if (localFp == FingerprintMemo.Absent) resolve()
    // the base's batch=0 is IMMUTABLE once installed: its path suffices
    else tableDfs.get(spark, s"$root#$table",
      localFp + "||" + base.getOrElse("-"))(resolve())
  }

  /** Write the 1-row base reference into a generation under construction
    * (`tmp`), relative to the index path. */
  def writeTiermeta(spark: SparkSession, tmp: String, root: String,
      base: String): Unit = {
    val rel = base.stripPrefix(indexPathOfRoot(root)).stripPrefix("/")
    spark.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row(rel)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("base",
            org.apache.spark.sql.types.StringType, nullable = false))))
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$tmp/tiermeta")
  }
}
