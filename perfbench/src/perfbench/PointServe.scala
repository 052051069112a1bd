package perfbench

import java.util.concurrent.ConcurrentHashMap
import graft.index.{DiskannIndex, DiskannParams}

/**
 * point_serve: a closed loop of client threads, each calling
 * `DiskannIndex.searchPoint` (k=10, L=100, rescore=50 — the reference's
 * query defaults) on a warm, labeled, single-shard cosine index. One call in
 * five carries a one-label filter selecting 3-15% of the rows. Every shard
 * is in the searcher cache, so calls stay on the driver: no Spark job, no
 * planner, no writes. After the window, [[SqlPhase]] runs the Spark path
 * (SQL and distributed batches) over the same index.
 */
object PointServe {
  val Rows = 3000
  val Pool = 256
  val K = 10

  def run(env: Env): Unit = {
    val rows = env.gen.rows(1, 0, Rows)
    val byId = rows.map(r => r.id -> r).toMap
    val queries = env.gen.queries(2, Pool)
    val fQueries = env.gen.queries(3, Pool)
    val share = rows.flatMap(_.labels).groupBy(identity).map { case (l, ls) => l -> ls.length.toDouble / Rows }
    val eligible = share.filter { case (_, s) => s >= 0.03 && s <= 0.15 }.keys.toArray.sorted
    val pick = env.gen.choices(4)
    val fLabels = Array.fill(Pool)(eligible(pick.nextInt(eligible.length)))
    val truth = queries.map(q => Exact.topK(rows, q, K, "cosine").map(_._1))
    val fTruth = fQueries.indices.map(i =>
      Exact.topK(rows, fQueries(i), K, "cosine", _.labels.contains(fLabels(i))).map(_._1))
    val idx = env.indexPath

    val src = env.setup(3, Map.empty, rows) { src =>
      DiskannIndex.build(env.spark.read.parquet(src), "id", "embedding", Some("labels"), idx,
        DiskannParams())
    } { _ => DiskannIndex.searchPoint(env.spark, idx, queries(0), K) }
    Layers.indexLayer(env, idx, Rows)
    val spark = env.spark
    val clients = math.min(4, env.cpus)
    val shards = Layers.searchers(env, idx)
    val first = new ConcurrentHashMap[(Boolean, Int), Seq[(Long, Double)]]()
    val acc = new Array[Long](5)
    val fAcc = new Array[Long](5)

    def check(filtered: Boolean, i: Int, hits: Seq[(Long, Double)]): Option[String] = {
      val want = if (filtered) fTruth(i) else truth(i)
      Exact.orderProblem(hits, K)
        .orElse(if (hits.length < want.length) Some(s"${hits.length} rows, ${want.length} exist") else None)
        .orElse(if (filtered) hits.collectFirst {
          case (id, _) if !byId(id).labels.contains(fLabels(i)) => s"row $id lacks label ${fLabels(i)}"
        } else None)
        .orElse {
          val prev = first.putIfAbsent((filtered, i), hits)
          if (prev == null) { env.recall.add((hits.map(_._1), want)); None }
          else if (prev != hits) Some(s"query $i answered differently on repeat")
          else None
        }
    }

    def loop(seconds: Double, record: Boolean, tag: String = ""): Double =
      env.closedLoop(clients, seconds) { (_, rnd) =>
        val filtered = rnd.nextDouble() < 0.2
        val i = rnd.nextInt(Pool)
        val q = if (filtered) fQueries(i) else queries(i)
        val labels = if (filtered) Array(fLabels(i)) else null
        def call(): Seq[(Long, Double)] = {
          val hits = env.trace.span("DiskannIndex.searchPoint") {
            DiskannIndex.searchPoint(spark, idx, q, K, qlabels = labels)
          }
          if (env.tracedRun) Layers.graphSearch(env, shards, q, labels, "cosine",
            if (filtered) fAcc else acc)
          hits
        }
        if (record) env.attempt((if (filtered) "filtered" else "point") + tag)(call())(check(filtered, i, _))
        else call()
      }

    // JIT warm-up at the measured concurrency, not recorded
    loop(math.min(2.0, env.seconds / 4), record = false)
    if (env.tracedRun) {
      env.values("window_s") = env.alternate((s, tag) => loop(s, record = true, tag))
      Layers.graphLayer(env, acc, fAcc)
      Layers.kernelsAndBuild(env, shards.head, "cosine", queries(0))
      env.sparkLayer(Seq("point", "filtered"))
    } else {
      env.values("window_s") = loop(env.seconds, record = true)
    }
    env.values("heap_mb") = env.heapMb()
    SqlPhase.run(env, idx, src, Some("labels"), queries, truth(_))
  }
}
