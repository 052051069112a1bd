package graft.index

import org.apache.spark.sql.{Row, SparkSession}
import graft.FingerprintMemo

/**
 * The single-row build-constant tables the stored artifacts carry
 * (`idxmeta`: bucket counts, shingle/band geometry, positions flag), read on
 * every serving call — unmemoized, each read is a whole Spark job.
 */
object ParquetMetaCache {
  // fingerprint: the dir's listing (a rebuild renames new files in)
  private val rows = new FingerprintMemo[Row]("ParquetMetaCache.rows", 64, FingerprintMemo.Jvm)

  /** `spark.read.parquet(dir).head()`, memoized on `dir`'s listing. A
    * missing dir skips the memo and throws what the fresh read throws. */
  def headRow(spark: SparkSession, dir: String): Row = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fp = FingerprintMemo.listingFingerprint(
      p.getFileSystem(spark.sessionState.newHadoopConf()), p)
    if (fp == FingerprintMemo.Absent) spark.read.parquet(dir).head()
    else rows.get(spark, dir, fp)(spark.read.parquet(dir).head())
  }
}
