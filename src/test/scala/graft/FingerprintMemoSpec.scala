package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, date_format}
import org.scalatest.funsuite.AnyFunSuite
import graft.index.{DiskannIndex, DiskannParams, TierManifest}
import graft.sources.TableResolver
import graft.streaming.StreamingIngest

/** The memo primitive's contract (bound, fingerprint validation, counters,
  * prefix invalidation, scope, loads outside the lock), and the
  * session-scoping of every DataFrame-valued memo. */
class FingerprintMemoSpec extends AnyFunSuite {
  import FingerprintMemo.{Jvm, Session}

  test("seeded get sequence: size <= maxEntries, never a stale value, hits + misses == gets") {
    val rnd = new scala.util.Random(7)
    val memo = new FingerprintMemo[String]("spec.seeded", 5, Jvm)
    val fps = Array.fill(20)(0) // the current fingerprint generation per key
    var loads = 0
    val gets = 2000
    (1 to gets).foreach { _ =>
      val k = rnd.nextInt(20)
      if (rnd.nextInt(8) == 0) fps(k) += 1 // the key's source changed
      val want = s"$k@${fps(k)}"
      val got = memo.get(s"k$k", fps(k).toString) { loads += 1; want }
      assert(got == want)
      assert(memo.size <= 5)
    }
    val st = memo.counters
    assert(st.hits + st.misses == gets)
    assert(st.misses == loads)
    assert(st.hits > 0 && st.stale > 0 && st.evicts > 0, st)
    assert(st.size == memo.size)
  }

  test("a changed fingerprint reloads and counts as stale; LRU evicts the eldest access") {
    val memo = new FingerprintMemo[String]("spec.stale", 2, Jvm)
    assert(memo.get("a", "1")("a1") == "a1")
    assert(memo.get("a", "1")("never") == "a1")
    assert(memo.get("a", "2")("a2") == "a2")
    assert(memo.counters == FingerprintMemo.Stats(hits = 1, misses = 2, stale = 1,
      evicts = 0, size = 1))
    memo.get("b", "1")("b1")
    memo.get("a", "2")("never") // touch a: b becomes the eldest
    memo.get("c", "1")("c1")
    assert(memo.peek("b").isEmpty && memo.peek("a").contains("a2") &&
      memo.peek("c").contains("c1"))
    assert(memo.counters.evicts == 1)
    // a load that throws stores nothing
    intercept[IllegalStateException](memo.get("d", "1")(throw new IllegalStateException))
    assert(memo.peek("d").isEmpty)
  }

  test("invalidate(prefix) drops exactly the matching keys") {
    val memo = new FingerprintMemo[Int]("spec.invalidate", 16, Jvm)
    val keys = Seq("/x/idx", "/x/idx#0#b1", "/x/idx2", "/x/id", "/y/idx", "")
    keys.zipWithIndex.foreach { case (k, i) => memo.get(k, "fp")(i) }
    memo.invalidate("/x/idx")
    assert(keys.filter(k => memo.peek(k).isDefined) == Seq("/x/id", "/y/idx", ""))
    memo.invalidate("")
    assert(memo.size == 0)
  }

  test("session scope keys by session, JVM scope shares across sessions") {
    val a = TestSpark.spark
    val b = a.newSession()
    val perSession = new FingerprintMemo[String]("spec.session", 8, Session)
    assert(perSession.get(a, "k", "fp")("a") == "a")
    assert(perSession.get(b, "k", "fp")("b") == "b")
    assert(perSession.get(a, "k", "fp")("never") == "a")
    assert(perSession.size == 2)
    intercept[IllegalArgumentException](perSession.get("k", "fp")("x"))
    perSession.invalidate("k")
    assert(perSession.size == 0)
    val shared = new FingerprintMemo[String]("spec.jvm", 8, Jvm)
    assert(shared.get(a, "k", "fp")("a") == "a")
    assert(shared.get(b, "k", "fp")("never") == "a")
    assert(shared.get("k", "fp")("never") == "a")
    assert(FingerprintMemo.stats("spec.jvm").hits == 2)
  }

  test("a load runs outside the lock: another key is served while it blocks") {
    val memo = new FingerprintMemo[String]("spec.concurrent", 8, Jvm)
    val started = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val slow = new Thread(() => {
      memo.get("slow", "fp") { started.countDown(); release.await(); "slow" }
      ()
    })
    slow.start()
    try {
      assert(started.await(10, java.util.concurrent.TimeUnit.SECONDS))
      val f = java.util.concurrent.CompletableFuture.supplyAsync(
        () => memo.get("fast", "fp")("fast"))
      assert(f.get(10, java.util.concurrent.TimeUnit.SECONDS) == "fast")
    } finally release.countDown()
    slow.join(10000)
    assert(memo.peek("slow").contains("slow"))
  }

  test("every DataFrame memo returns the caller's session's DataFrame") {
    val a = TestSpark.spark
    import a.implicits._
    val b = a.newSession()
    b.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    val base = "/tmp/graft_test_memo/sessions"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    val ts = Seq(java.sql.Timestamp.from(java.time.Instant.parse("2024-01-15T12:00:00Z")))
      .toDF("ts")
    Seq(s"$base/table", s"$base/tier/t", s"$base/stream/delta")
      .foreach(p => ts.write.parquet(p))
    def hour(df: DataFrame): String =
      df.select(date_format(col("ts"), "HH")).head().getString(0)
    def check(what: String, read: SparkSession => DataFrame,
        hours: Boolean = true): Unit = {
      val (da, db) = (read(a), read(b))
      assert(da.sparkSession eq a, s"$what: session A served another session's DataFrame")
      assert(db.sparkSession eq b, s"$what: session B served another session's DataFrame")
      if (hours) {
        assert(hour(da) == "12", what)
        assert(hour(db) == "04", s"$what: session B read under another session's time zone")
      }
    }
    assert(hour(b.read.parquet(s"$base/table")) == "04")
    check("TableResolver.parquet", TableResolver.parquet(_, s"$base/table"))
    check("TierManifest.tableDfAt", TierManifest.tableDfAt(_, s"$base/tier", "t"))
    check("StreamingIngest delta snapshot",
      s => StreamingIngest.readDeltaSnapshot(s, s"$base/stream").get)

    val idx = s"$base/index"
    DiskannIndex.build((0L until 20L).map(i => (i, Array.fill(4)(i.toFloat)))
      .toDF("row_id", "vec"), "row_id", "vec", None, idx, DiskannParams())
    val meta = DiskannIndex.loadMeta(a, idx)
    check("DiskannIndex.nodesDf",
      DiskannIndex.nodesDf(_, idx, meta, 0 until meta.numShards), hours = false)
  }
}
