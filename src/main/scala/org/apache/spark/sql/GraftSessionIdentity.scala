package org.apache.spark.sql

/** A session's identity for graft's session-scoped memos. `sessionUUID`
  * (minted per session, never reused) is `private[sql]`, hence this
  * package. */
object GraftSessionIdentity {
  def of(spark: SparkSession): String = spark match {
    case c: classic.SparkSession => c.sessionUUID
    case other => throw new IllegalArgumentException(
      s"no session identity for ${other.getClass.getName}")
  }
}
