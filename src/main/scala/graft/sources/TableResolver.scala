package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.FingerprintMemo

/**
 * Memoized parquet-table RESOLUTION for the query layer's base tables: a
 * fresh `spark.read.parquet(dir)` re-lists the directory and runs a
 * schema-inference job (~40 ms job + ~60-100 ms driver work per table per
 * execution). Metadata only — every execution still scans parquet in full.
 */
object TableResolver {
  // fingerprint: the directory's listing (a regenerated fixture changes it)
  private val tables =
    new FingerprintMemo[DataFrame]("TableResolver.tables", 64, FingerprintMemo.Session)

  def parquet(spark: SparkSession, dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fp = FingerprintMemo.listingFingerprint(
      p.getFileSystem(spark.sessionState.newHadoopConf()), p)
    // missing path: the fresh read keeps its error shape
    if (fp == FingerprintMemo.Absent) spark.read.parquet(dir)
    else tables.get(spark, dir, fp)(spark.read.parquet(dir))
  }
}
