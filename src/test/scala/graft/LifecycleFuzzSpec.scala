package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.index.{DiskannIndex, DiskannParams, Metric}
import graft.streaming.StreamingIngest

/**
 * Seeded lifecycle fuzz: a randomized interleaving of the index's whole
 * mutation surface — micro-batch appends (uniform AND skewed-to-one-shard,
 * plus at-least-once duplicate re-appends), tombstone deletes (including
 * rows still pending in the delta), incremental compactions (which fold,
 * split hot shards, and wipe), and forced full rebuilds — with EXACT
 * top-k and radius verification against a driver-side model between steps.
 *
 * The directed suites pin each transition in isolation; this spec pins
 * their INTERACTIONS (e.g. split then delete-from-split-shard then fold,
 * delete of a row that only ever lived in the delta, compact landing on an
 * already-clean root), the class of bug a fixed scenario cannot enumerate.
 * Everything is seeded — a failure replays deterministically. The run also
 * proves the serving memos were warm: the meta, tombstone and delta-rows
 * memos must record hits, so the exact answers above came through
 * fingerprint-validated cache entries, not only fresh reads.
 */
class LifecycleFuzzSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("seeded lifecycle fuzz: 30 random mutate/compact steps stay exact on both scan shapes") {
    import spark.implicits._
    val path = "/tmp/graft_test_index/lifecycle_fuzz"
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    deleteRec(new java.io.File(path))
    val warmMemos =
      Seq("DiskannIndex.meta", "DiskannIndex.tombstones", "StreamingIngest.deltaRows")
    def hits(): Map[String, Long] = warmMemos.map(m =>
      m -> FingerprintMemo.stats.get(m).map(_.hits).getOrElse(0L)).toMap
    val hitsBefore = hits()

    // seed overridable for local sweeps (env; forked test JVMs inherit it):
    //   GRAFT_FUZZ_SEED=7 sbt 'testOnly graft.LifecycleFuzzSpec'
    val rnd = new scala.util.Random(
      sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong).getOrElse(42L))
    val dim = 8
    def vec(id: Long): Array[Float] = {
      val r = new scala.util.Random(id * 2654435761L + 1)
      Array.fill(dim)(r.nextFloat())
    }

    // the model: exactly the rows a reader must see (appended minus deleted)
    var live = Map.empty[Long, Array[Float]]
    var nextId = 0L
    val init = (0L until 64L).map(i => i -> vec(i))
    nextId = 64L
    live = init.toMap
    DiskannIndex.build(init.toDF("row_id", "vec"), "row_id", "vec", None,
      path, DiskannParams(metric = "cosine", partitioner = "ivf",
        shardTargetRows = 32, ivfSeed = Some("fuzz"),
        numNeighbors = 16, searchListSize = 32))

    val report = DiskannIndex.reportDistFn(Metric("cosine"))
    def verify(step: Int): Unit = if (live.nonEmpty) {
      val ids = live.keys.toSeq.sorted
      val qv = live(ids(rnd.nextInt(ids.length)))
      // top-k through the FRESH path: pending delta visible, deletes masked.
      // L covers the whole corpus (<= ~450 rows), so exactness is a
      // contract, not a recall roll of the dice.
      val got = StreamingIngest.searchFresh(spark, path,
          Seq((0L, qv)).toDF("qid", "qvec"), k = 10,
          searchListSize = 600, rescore = 600)
        .collect().map(_.getLong(1)).toSeq
      val brute = live.toSeq.map { case (id, v) => (id, report(v, qv)) }
        .sortBy { case (id, d) => (d, id) }.take(10).map(_._1)
      assert(got == brute, s"step $step: top-k diverged ($got vs $brute)")
      // radius through the FRESH path: exhaustiveness is the engine's own
      // escalate-until-stable contract, never an L the test tuned
      val r = 0.3 + rnd.nextDouble() * 0.3
      val (rh, confirmed) = StreamingIngest.rangeSearchFresh(spark, path,
        qv, radius = r, searchListSize = 100, maxResults = 100000)
      assert(confirmed, s"step $step: radius unconfirmed at corpus scale")
      val want = live.filter { case (_, v) => report(v, qv) <= r }.keySet
      assert(rh.map(_._1).toSet == want,
        s"step $step: radius r=$r diverged (${rh.size} vs ${want.size})")
    }

    (1 to 30).foreach { step =>
      rnd.nextInt(6) match {
        case 0 | 1 => // append a micro-batch; half the time a SKEWED one
          // (near-twins of one live row, routing to one frozen centroid —
          // the stream shape that grows a hot shard toward the split gate)
          val n = 8 + rnd.nextInt(17)
          val skewBase: Option[Array[Float]] =
            if (rnd.nextBoolean() && live.nonEmpty)
              Some(live(live.keys.min)) else None
          val rows = (0 until n).map { _ =>
            val id = nextId; nextId += 1
            val v = skewBase match {
              case Some(b) => b.map(x => x + rnd.nextFloat() * 0.01f)
              case None => vec(id)
            }
            live += id -> v
            (id, v)
          }
          val df = rows.toDF("row_id", "vec")
          df.write.mode("append").parquet(s"$path/delta")
          // at-least-once ingest: sometimes the "retry" lands the same
          // batch twice — readers and compactions must collapse it
          if (rnd.nextInt(4) == 0)
            df.write.mode("append").parquet(s"$path/delta")
        case 2 | 3 => // tombstone a random slice (can hit rows that only
          // exist in the pending delta, rows in split shards, anything)
          if (live.nonEmpty) {
            val ids = live.keys.toSeq.sorted
            val del = rnd.shuffle(ids)
              .take(1 + rnd.nextInt(math.max(1, ids.length / 8)))
            DiskannIndex.deleteRows(spark, path, del)
            live --= del
          }
        case 4 => // incremental compact (fold / split / wipe as it decides)
          StreamingIngest.compact(spark, path)
          val m = DiskannIndex.loadMeta(spark, path)
          assert(m.numRows == live.size,
            s"step $step: post-compact numRows ${m.numRows} != model ${live.size}")
          assert(m.shardRows.length == m.numShards &&
            m.shardRows.sum == m.numRows,
            s"step $step: shardRows broke conservation: ${m.shardRows.mkString(",")}")
        case 5 => // occasionally the REINDEX answer: forced full rebuild
          StreamingIngest.compact(spark, path,
            force = rnd.nextInt(3) == 0)
          val m = DiskannIndex.loadMeta(spark, path)
          assert(m.numRows == live.size,
            s"step $step: post-rebuild numRows ${m.numRows} != model ${live.size}")
      }
      if (step % 3 == 0) verify(step)
    }
    // final state: one more compact (clean root), then both shapes exact
    StreamingIngest.compact(spark, path)
    verify(9999)
    val hitsAfter = hits()
    warmMemos.foreach(m => assert(hitsAfter(m) > hitsBefore(m),
      s"$m recorded no hit: the sequence never ran against a warm memo"))
  }
}
