package perfbench

import graft.functions.VectorKernels
import graft.index.{DiskannIndex, GraphSearcher, LabelSets, Metric, SearchStats, VamanaBuilder}

/**
 * Per-layer probes of the traced run. Each calls one layer's public
 * function directly, on the workload's own warm index, so a layer's number
 * can be set against the end-to-end call that contains it.
 */
object Layers {

  /** The warm searchers of `path`'s shards, fetched through the documented
    * `path#shard#buildId` cache key; cold shards are left out. */
  def searchers(env: Env, path: String): Seq[GraphSearcher] = {
    val meta = DiskannIndex.loadMeta(env.spark, path)
    meta.shardBuildIds.indices.flatMap(s => GraphSearcher.peek(s"$path#$s#${meta.shardBuildIds(s)}"))
  }

  private def buildSpace(v: Array[Float], metric: String): Array[Float] =
    if (metric == "cosine") VectorKernels.normalize(v) else v

  /**
   * The per-shard searches behind one point query, each in its own
   * `GraphSearcher.search` span, with their work counts added to `acc`
   * (searches, nodes visited, quantized and exact comparisons, ns).
   */
  def graphSearch(env: Env, shards: Seq[GraphSearcher], q: Array[Float],
      labels: Array[Short], metric: String, acc: Array[Long]): Unit = {
    val report = Exact.dist(metric)
    val ql = Option(labels).map(LabelSets.normalize).orNull
    shards.foreach { s =>
      val st = new SearchStats
      val t0 = System.nanoTime()
      env.trace.span("GraphSearcher.search") {
        s.search(q, 10, 100, 50, ql, _ => false, report, st)
      }
      acc.synchronized {
        acc(0) += 1; acc(1) += st.nodesVisited; acc(2) += st.quantizedCmps
        acc(3) += st.exactCmps; acc(4) += System.nanoTime() - t0
      }
    }
  }

  def graphLayer(env: Env, acc: Array[Long], filteredAcc: Array[Long]): Unit = {
    val n = math.max(1L, acc(0)).toDouble
    env.layer("graph.nodes_visited") = acc(1) / n
    env.layer("graph.quantized_cmps") = acc(2) / n
    env.layer("graph.exact_cmps") = acc(3) / n
    env.layer("graph.ns_per_quantized_cmp") = acc(4).toDouble / math.max(1L, acc(2))
    env.layer("graph.search_us") = acc(4) / n / 1e3
    env.layer("graph.filtered_search_us") =
      if (filteredAcc(0) == 0) 0.0 else filteredAcc(4).toDouble / filteredAcc(0) / 1e3
  }

  /** ns per call of a kernel, over at least 50 ms of calls. */
  private def nsPerCall(n: Int)(f: Int => Unit): Double = {
    var i = 0
    while (i < n * 3) { f(i % n); i += 1 } // warm the call site
    var calls = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 50000000L) {
      var j = 0
      while (j < n) { f(j); j += 1 }
      calls += n
    }
    (System.nanoTime() - t0).toDouble / calls
  }

  /** functions.* on the workload's own codes and vectors, and
    * vamana.insert_us on the first rows of one shard. */
  def kernelsAndBuild(env: Env, s: GraphSearcher, metric: String, q: Array[Float]): Unit = {
    val n = math.min(s.n, 2000)
    val bq = buildSpace(q, metric)
    var sink = 0.0
    if (s.codes != null) {
      val qc = s.model.quantize(bq)
      env.layer("functions.hamming_ns") =
        nsPerCall(n)(i => sink += VectorKernels.hamming(qc, s.codes(i)))
      env.layer("functions.sbq_quantize_ns") =
        nsPerCall(n)(i => sink += s.model.quantize(buildSpace(s.vectors(i), metric))(0))
    }
    val d = Exact.dist(metric)
    env.layer("functions.exact_dist_ns") = nsPerCall(n)(i => sink += d(s.vectors(i), q))
    if (sink == 42.4242) println("") // keeps the loops from being optimized away

    val m = math.min(s.n, 1500)
    val vecs = Array.tabulate(m)(i => buildSpace(s.vectors(i), metric))
    val codes = if (s.codes == null) null else Array.tabulate(m)(s.codes(_))
    val labels = if (s.labels == null) null else Array.tabulate(m)(s.labels(_))
    val t0 = System.nanoTime()
    env.trace.op("vamana") {
      env.trace.span("VamanaBuilder.build") {
        new VamanaBuilder(vecs, labels, Metric(metric), 50, 100, 1.2, codes).build()
      }
    }
    env.layer("vamana.insert_us") = (System.nanoTime() - t0) / 1e3 / m
  }

  /** index.bytes_per_row and index.cache_entries. */
  def indexLayer(env: Env, path: String, rows: Long): Unit = {
    def du(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
      else if (f.getName.endsWith(".parquet")) f.length() else 0L
    env.layer("index.bytes_per_row") = du(new java.io.File(path)).toDouble / rows
    env.layer("index.cache_entries") = GraphSearcher.cachedCount.toDouble
  }
}
