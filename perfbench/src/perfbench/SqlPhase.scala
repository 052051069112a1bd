package perfbench

import graft.index.DiskannIndex
import graft.plans.{Graft, KnnCatalog}
import graft.streaming.StreamingIngest

/**
 * The Spark path over a workload's warm index, run after its window:
 * sequential SQL top-10 queries (`ORDER BY vec_cosine_dist(embedding, q)
 * LIMIT 10`, planned by `KnnStrategy` into `KnnIndexScanExec`) and 256-query
 * `DiskannIndex.searchDistributed` batches. Every answer is checked; the
 * timings feed only the per-layer metrics (`plans.*`, `spark.sql.*`,
 * `spark.batch.*`). A SQL query costs a few Spark jobs, and on a shared
 * host its latency moves by a fifth from run to run with the host's load,
 * which no end-to-end bound can hold.
 */
object SqlPhase {
  val Queries = 6
  val Batches = 2
  val K = 10

  def run(env: Env, idx: String, src: String, labelsCol: Option[String],
      queries: Array[Array[Float]], truth: Int => Seq[Long]): Unit = {
    val spark = env.spark
    import spark.implicits._
    KnnCatalog.register(src, KnnCatalog.Entry(idx, src, "id", "embedding", labelsCol, "cosine"))
    Graft.enable(spark)
    val pool = queries.length
    val rnd = env.gen.choices(8)

    def searchFresh(i: Int): Seq[Long] = env.trace.span("StreamingIngest.searchFresh") {
      StreamingIngest.searchFresh(spark, idx, Seq((0L, queries(i))).toDF("qid", "qvec"), K)
        .collect().map(r => (r.getDouble(2), r.getLong(1))).sorted.map(_._2).toSeq
    }

    def sql(i: Int): Unit = {
      val lit = s"CAST(array(${queries(i).mkString(", ")}) AS ARRAY<FLOAT>)"
      val text = s"SELECT id, vec_cosine_dist(embedding, $lit) AS dist FROM parquet.`$src` " +
        s"ORDER BY vec_cosine_dist(embedding, $lit) LIMIT $K"
      var plan = ""
      var viaIndex: Seq[Long] = Nil
      env.attempt("sql") {
        val df = env.trace.span("SparkSession.sql")(spark.sql(text))
        plan = env.trace.span("QueryExecution.executedPlan")(df.queryExecution.executedPlan.toString)
        val out = env.trace.span("Dataset.collect")(df.collect()).toSeq
          .map(r => (r.getLong(0), r.getDouble(1)))
        // the same search the scan runs, so the trace splits execution into
        // index search and heap fetch
        viaIndex = searchFresh(i)
        out
      } { hits =>
        Exact.orderProblem(hits, K)
          .orElse(if (hits.length != K) Some(s"${hits.length} rows") else None)
          .orElse(if (!plan.contains("KnnIndexScan")) Some("not planned as an index scan") else None)
          .orElse(if (viaIndex != hits.map(_._1))
            Some(s"SQL ids ${hits.map(_._1)} != searchFresh ids $viaIndex") else None)
          .orElse { env.recall.add((hits.map(_._1), truth(i))); None }
      }
    }

    def batch(): Unit = {
      val qs = queries.indices.map(i => (i.toLong, queries(i))).toDF("qid", "qvec")
      env.attempt("batch") {
        env.trace.span("DiskannIndex.searchDistributed") {
          DiskannIndex.searchDistributed(spark, idx, qs, K).collect()
        }.groupBy(_.getLong(0)).map { case (q, rs) =>
          q.toInt -> rs.map(r => (r.getLong(1), r.getDouble(2))).sortBy(h => (h._2, h._1)).toSeq
        }
      } { byQ =>
        val q = rnd.nextInt(pool)
        byQ.collectFirst { case (i, hits) if Exact.orderProblem(hits, K).nonEmpty || hits.length != K =>
            s"query $i: ${hits.length} rows, ${Exact.orderProblem(hits, K).getOrElse("ordered")}" }
          .orElse(if (byQ.size != pool) Some(s"${byQ.size} of $pool queries answered") else None)
          .orElse {
            val point = env.as("batch.check")(DiskannIndex.searchPoint(spark, idx, queries(q), K))
            if (point != byQ(q)) Some(s"batch answer for query $q != searchPoint") else None
          }
          .orElse { byQ.foreach { case (i, hits) => env.recall.add((hits.map(_._1), truth(i))) }; None }
      }
    }

    (0 until Queries).foreach(n => { sql(rnd.nextInt(pool)); if (n % 3 == 2 && n / 3 < Batches) batch() })
    if (env.tracedRun) {
      env.sparkLayer(Seq("sql", "batch"))
      val read = Seq("sql", "batch").map(k => env.listener.snapshot(k)(3)).sum
      val n = env.stats("sql").attempted.get() + pool * env.stats("batch").attempted.get()
      env.layer("index.cold_bytes_per_query") = read.toDouble / math.max(1L, n)
    }
  }
}
