package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/**
 * The one memo for index and table STATE — never query results: a bounded,
 * access-ordered LRU that serves a stored value only while the caller's
 * current fingerprint (a [[FingerprintMemo.listingFingerprint]], a
 * generation buildId, or a constant for immutable values) equals the one it
 * was stored under. The analog of the reference keeping index state in
 * shared buffers behind one invalidation rule.
 *
 * Scope is fixed where a memo is declared:
 *  - [[FingerprintMemo.Session]]: the key includes the caller's session
 *    (`sessionUUID`). Required for DataFrames and the RDDs planned from
 *    them — both are bound to their session and its SQL conf, so another
 *    session must never be served them.
 *  - [[FingerprintMemo.Jvm]]: the key is the caller's key only. For decoded
 *    values (metas, rows, id sets, counts, shard graphs), shared by every
 *    session in the JVM.
 *
 * A load runs outside the lock, so loads of different keys never
 * serialize; a duplicate load of one key is benign and the first value
 * stored under the same fingerprint wins. A load that throws stores
 * nothing. Hits, misses (stale ones included) and evictions are counted;
 * [[FingerprintMemo.stats]] reads every memo's counters.
 */
final class FingerprintMemo[V](val name: String, maxEntries: => Int,
    val scope: FingerprintMemo.Scope) {
  private var hits, misses, stale, evicts = 0L
  private val map =
    new java.util.LinkedHashMap[(String, String), (String, V)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), (String, V)]): Boolean = {
        val over = super.size() > maxEntries
        if (over) evicts += 1
        over
      }
    }
  FingerprintMemo.all.add(this)

  /** The value stored for `key` (in `spark`'s session, under
    * [[FingerprintMemo.Session]] scope) under fingerprint `fp`, else
    * `load`'s value, stored. */
  def get(spark: SparkSession, key: String, fp: String)(load: => V): V =
    getAt((scope.id(spark), key), fp, load)

  /** [[get]] without a session, for a JVM-scoped memo (executors). */
  def get(key: String, fp: String)(load: => V): V = {
    require(scope == FingerprintMemo.Jvm, s"$name is session-scoped")
    getAt(("", key), fp, load)
  }

  private def getAt(k: (String, String), fp: String, load: => V): V = {
    val hit = map.synchronized {
      val e = map.get(k)
      if (e != null && e._1 == fp) { hits += 1; Some(e._2) }
      else { misses += 1; if (e != null) stale += 1; None }
    }
    hit.getOrElse {
      val v = load
      map.synchronized {
        val e = map.get(k)
        if (e != null && e._1 == fp) e._2 else { map.put(k, (fp, v)); v }
      }
    }
  }

  /** A JVM-scoped memo's value for `key` under any fingerprint, without
    * loading or counting. */
  def peek(key: String): Option[V] = {
    require(scope == FingerprintMemo.Jvm, s"$name is session-scoped")
    map.synchronized(Option(map.get(("", key))).map(_._2))
  }

  /** Drop every entry whose key starts with `prefix`, in every session. */
  def invalidate(prefix: String): Unit = map.synchronized {
    map.keySet().removeIf(_._2.startsWith(prefix))
  }

  def size: Int = map.synchronized(map.size())

  def counters: FingerprintMemo.Stats = map.synchronized(
    FingerprintMemo.Stats(hits, misses, stale, evicts, map.size()))
}

object FingerprintMemo {
  sealed trait Scope { private[graft] def id(spark: SparkSession): String }
  case object Session extends Scope {
    private[graft] def id(spark: SparkSession): String =
      org.apache.spark.sql.GraftSessionIdentity.of(spark)
  }
  case object Jvm extends Scope {
    private[graft] def id(spark: SparkSession): String = ""
  }

  /** `misses` includes `stale` (a stored entry under another fingerprint). */
  case class Stats(hits: Long, misses: Long, stale: Long, evicts: Long,
      size: Int)

  private val all = new java.util.concurrent.CopyOnWriteArrayList[FingerprintMemo[_]]

  /** Counters of every memo created so far in this JVM, by name. */
  def stats: Map[String, Stats] = {
    import scala.jdk.CollectionConverters._
    all.asScala.map(m => m.name -> m.counters).toMap
  }

  /** The fingerprint of a missing directory. */
  val Absent = "absent"

  /** Name, length and mtime of each listed entry, sorted: any file landing,
    * vanishing or being rewritten in the listing changes it. */
  def fingerprintOf(sts: Array[FileStatus]): String =
    sts.map(s => line(s.getPath.getName, s, ":")).sorted.mkString("|")

  /** [[fingerprintOf]] `path`'s children, and at `depth` 2 its
    * grandchildren too (tables partitioned two levels deep) — O(#dirs)
    * stats, not O(#files); [[Absent]] when `path` does not exist. */
  def listingFingerprint(fs: FileSystem, path: Path, depth: Int = 1,
      sep: String = ":"): String =
    try {
      val l1 = fs.listStatus(path)
      val l2 = if (depth < 2) Array.empty[String] else
        l1.filter(_.isDirectory).flatMap(d => fs.listStatus(d.getPath)
          .map(s => line(s"${d.getPath.getName}/${s.getPath.getName}", s, sep)))
      (l1.map(s => line(s.getPath.getName, s, sep)) ++ l2).sorted.mkString("|")
    } catch { case _: java.io.FileNotFoundException => Absent }

  private def line(rel: String, s: FileStatus, sep: String): String =
    s"$rel$sep${s.getLen}$sep${s.getModificationTime}"
}
