package perfbench

import scala.collection.mutable
import graft.index.{DiskannIndex, DiskannParams}
import graft.streaming.StreamingIngest

/**
 * ingest_fresh: writes beside reads on an L2 index over 4 hash shards.
 * Each round appends 250-row micro-batches to the delta
 * (`StreamingIngest.appendBatchToDelta`), deletes 25 live ids
 * (`DiskannIndex.deleteRows`), reads with `StreamingIngest.searchPointFresh`
 * — pool queries and read-your-writes probes of just-appended rows — and
 * calls `StreamingIngest.maybeCompact` with its defaults after every batch,
 * until that compacts. The window always ends on a finished round.
 */
object IngestFresh {
  val Rows = 4000
  val Shards = 4
  val Batch = 250
  val Deletes = 25
  val PoolReads = 10
  val OwnReads = 2
  val Pool = 256
  val K = 10

  def run(env: Env): Unit = {
    val base = env.gen.rows(1, 0, Rows)
    val queries = env.gen.queries(2, Pool)
    val idx = env.indexPath
    val params = DiskannParams(metric = "l2", shardTargetRows = Rows / Shards)
    env.setup(3, Map.empty, base) { src =>
      DiskannIndex.build(env.spark.read.parquet(src), "id", "embedding", None, idx, params)
    } { _ => StreamingIngest.searchPointFresh(env.spark, idx, queries(0), K) }
    Layers.indexLayer(env, idx, Rows)
    val spark = env.spark

    val live = mutable.LinkedHashMap.empty[Long, Gen.Row]
    base.foreach(r => live(r.id) = r)
    val deleted = mutable.Set.empty[Long]
    var nextId = Rows.toLong
    var batchNo = 0L
    var mainRows = Rows.toLong // rows of the index's last generation
    var pending = 0L // appended rows not yet compacted
    val rnd = env.gen.choices(9)
    val deltaRows = mutable.ArrayBuffer.empty[Double]
    val overheadMs = mutable.ArrayBuffer.empty[Double]
    val rebuilt = mutable.ArrayBuffer.empty[Double]
    val firstAfter = mutable.ArrayBuffer.empty[Double]
    var afterCompact = false

    def fresh(q: Array[Float], own: Option[Long], tag: String): Unit = {
      val wasAfter = afterCompact
      afterCompact = false
      deltaRows += pending
      val t0 = System.nanoTime()
      env.attempt("fresh" + tag) {
        val hits = env.trace.span("StreamingIngest.searchPointFresh") {
          StreamingIngest.searchPointFresh(spark, idx, q, K)
        }
        if (env.tracedRun && pending > 0) {
          val p0 = System.nanoTime()
          env.trace.span("DiskannIndex.searchPoint")(DiskannIndex.searchPoint(spark, idx, q, K))
          overheadMs += (p0 - t0 - (System.nanoTime() - p0)) / 1e6
        }
        hits
      } { hits =>
        Exact.orderProblem(hits, K)
          .orElse(if (hits.length != K) Some(s"${hits.length} rows") else None)
          .orElse(hits.collectFirst { case (id, _) if deleted(id) => s"deleted row $id returned" })
          .orElse(own match {
            case Some(id) =>
              if (hits.head != ((id, 0.0))) Some(s"appended row $id is not its own top-1: ${hits.head}")
              else None
            case None =>
              env.recall.add((hits.map(_._1), Exact.topK(live.values, q, K, "l2").map(_._1)))
              None
          })
      }.foreach(_ => if (wasAfter) firstAfter += (System.nanoTime() - t0) / 1e6)
    }

    def round(tag: String): Unit = {
      var compacted = false
      while (!compacted) {
        val rows = env.gen.rows(100 + batchNo, nextId, Batch)
        nextId += Batch
        val df = env.deltaBatch(rows.toSeq)
        env.attempt("append" + tag) {
          env.trace.span("StreamingIngest.appendBatchToDelta")(
            StreamingIngest.appendBatchToDelta(idx)(df, batchNo))
        }(_ => None).foreach { _ => rows.foreach(r => live(r.id) = r); pending += Batch }
        batchNo += 1

        val victims = Seq.fill(Deletes)(live.keys.drop(rnd.nextInt(live.size)).head).distinct
        env.attempt("delete" + tag) {
          env.trace.span("DiskannIndex.deleteRows")(DiskannIndex.deleteRows(spark, idx, victims))
        }(_ => None).foreach { _ => victims.foreach { v => live.remove(v); deleted += v } }

        (0 until PoolReads).foreach(_ => fresh(queries(rnd.nextInt(Pool)), None, tag))
        val own = rows.filter(r => live.contains(r.id))
        (0 until OwnReads).foreach { _ =>
          val r = own(rnd.nextInt(own.length))
          fresh(r.vec, Some(r.id), tag)
        }

        val due = pending.toDouble / mainRows >= 0.1
        val before = DiskannIndex.loadMeta(spark, idx).shardBuildIds
        env.attempt(if (due) "compact" + tag else "compact_check" + tag) {
          env.trace.span("StreamingIngest.maybeCompact")(StreamingIngest.maybeCompact(spark, idx))
        } { fired =>
          if (fired != due) Some(s"maybeCompact returned $fired with $pending of $mainRows rows pending")
          else if (!fired) None
          else {
            val meta = DiskannIndex.loadMeta(spark, idx)
            if (meta.numRows != live.size)
              Some(s"${meta.numRows} rows after compaction, expected ${live.size} " +
                s"(base + appended - deleted)")
            else None
          }
        }.foreach { fired =>
          if (fired) {
            val after = DiskannIndex.loadMeta(spark, idx).shardBuildIds
            rebuilt += after.indices.count(s => s >= before.length || before(s) != after(s))
          }
        }
        if (due) {
          compacted = true
          mainRows = live.size
          pending = 0
          // the first read of the new generation, before anything is appended
          afterCompact = true
          fresh(queries(rnd.nextInt(Pool)), None, tag)
        }
      }
    }

    def loop(seconds: Double, tag: String): Double = {
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < seconds * 1e9) round(tag)
      (System.nanoTime() - t0) / 1e9
    }

    if (env.tracedRun) {
      env.values("window_s") = env.alternate(loop)
      def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
      env.layer("streaming.delta_rows") = mean(deltaRows.toSeq)
      env.layer("streaming.fresh_overhead_ms") = mean(overheadMs.toSeq)
      env.layer("streaming.compact_shards_rebuilt") = mean(rebuilt.toSeq)
      env.layer("streaming.first_read_after_compact_ms") = mean(firstAfter.toSeq)
      val shards = Layers.searchers(env, idx)
      val acc = new Array[Long](5)
      queries.take(64).foreach(q => env.trace.op("graph")(Layers.graphSearch(env, shards, q, null, "l2", acc)))
      Layers.graphLayer(env, acc, new Array[Long](5))
      Layers.kernelsAndBuild(env, shards.head, "l2", queries(0))
      env.sparkLayer(Seq("append", "fresh", "compact"))
    } else {
      env.values("window_s") = loop(env.seconds, "")
    }
    env.values("heap_mb") = env.heapMb()
  }
}
