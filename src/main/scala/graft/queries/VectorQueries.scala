package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.functions.VectorFunctions._

/**
 * Exact (brute-force) vector search queries — the M0 slice of SURVEY.md §7.1
 * and the permanent correctness oracle for the ANN path.
 *
 * Each query is a declarative DataFrame plan: the distance expression is a
 * codegen'd Catalyst Expression, top-k is Spark's native
 * `TakeOrderedAndProject` (partial per-partition top-k + final merge — the
 * scalable shape at any data size), and the query vector is broadcast via a
 * 1-row cross join (no collect on the hot path).
 *
 * Semantics mirror pgvectorscale's SQL surface (SURVEY.md §2.3):
 * `<=>` = vec_cosine_dist, `<->` = vec_l2, `<#>` = vec_neg_dot; label
 * filtering is `arrays_overlap` (SURVEY.md §2.2 P1). Distances are rounded to
 * 6 decimals *before* ordering so result sets are deterministic across
 * engines; ties break on vec_id (SURVEY.md §2.6 T4).
 */
object VectorQueries {

  private def emb(spark: SparkSession, dir: String): DataFrame =
    graft.sources.TableResolver.parquet(spark, s"$dir/embeddings.parquet")

  /** 1-row DataFrame holding the query vector (vec_id QID), for broadcast. */
  private val QID = 0

  private def withQuery(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e.filter(col("vec_id") === QID).select(col("embedding").as("qvec"))
    e.filter(col("vec_id") =!= QID).crossJoin(broadcast(q))
  }

  private def topK(spark: SparkSession, dir: String, distCol: String,
      dist: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
      k: Int = 10): DataFrame = {
    VectorFunctions.register(spark)
    withQuery(spark, dir)
      .select(col("vec_id"), round(dist(col("embedding"), col("qvec")), 6).as(distCol))
      .orderBy(col(distCol), col("vec_id"))
      .limit(k)
  }

  private def oracleQvec = s"(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = $QID)"

  /** Deterministic per-sf posting-index location, FINGERPRINTED on the
    * source table's file listing (name#len#mtime): a regenerated
    * embeddings.parquet lands on a fresh path instead of silently serving
    * the stale index (the failure mode the events table hit this round). */
  private def postingsPath(spark: SparkSession, dir: String): String = {
    val src = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    val listing = graft.FingerprintMemo.listingFingerprint(
      src.getFileSystem(spark.sessionState.newHadoopConf()), src, sep = "#")
    val fp = java.security.MessageDigest.getInstance("MD5")
      .digest(listing.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    s"/tmp/graft_index/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/postings15_$fp"
  }
  private val postingsLock = new Object

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "knn_exact_cosine" -> ((s, d) => topK(s, d, "dist", vec_cosine_dist)),
    "knn_exact_l2" -> ((s, d) => topK(s, d, "dist", vec_l2)),
    "knn_exact_l2sq" -> ((s, d) => topK(s, d, "dist", vec_l2sq)),
    "knn_exact_ip" -> ((s, d) => topK(s, d, "dist", vec_neg_dot)),
    // pgvector `<+>` (vector_l1_ops): same TakeOrderedAndProject plan
    "knn_exact_l1" -> ((s, d) => topK(s, d, "dist", vec_l1)),

    // pgvector ≥0.7 binary-quantized search: sign-quantize the corpus AND
    // the query to packed ARRAY<BIGINT> codes (64× smaller than the floats),
    // rank by Jaccard distance over the bit sets — the cheap first stage of
    // a quantize→rescore pipeline. Everything stays in whole-stage codegen;
    // top-k is the native partial-per-partition TakeOrderedAndProject.
    "binary_jaccard_topk" -> ((s, d) => {
      VectorFunctions.register(s)
      // quantize the query ONCE in the 1-row broadcast side — not per
      // corpus row on the other side of the cross join
      val e = emb(s, d)
      val q = e.filter(col("vec_id") === QID)
        .select(binary_quantize(col("embedding")).as("qcode"))
      e.filter(col("vec_id") =!= QID).crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(jaccard_dist(binary_quantize(col("embedding")),
            col("qcode")), 6).as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(20)
    }),

    // SPLADE-style sparse retrieval: activations > 0.15 become posting
    // lists (map-side posexplode, no shuffle), scoring is a broadcast join
    // on the query's active dims + one groupBy over rows sharing a dim —
    // the inverted-index plan, relationally (Similarity.sparseDotTopK).
    "sparse_topk" -> ((s, d) => {
      val e = emb(s, d)
      val qvec = e.filter(col("vec_id") === QID)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.operators.Similarity.sparseDotTopK(
          e.filter(col("vec_id") =!= QID), "vec_id", "embedding",
          qvec, threshold = 0.15, k = 10, roundDecimals = Some(6))
        .select(col("id").as("vec_id"), col("score"))
        .orderBy(col("score").desc, col("vec_id"))
    }),

    // Same retrieval served from the MATERIALIZED posting index: the scan
    // reads only the query's active-dim partitions (Catalyst partition
    // pruning, plan-asserted in RetrievalClusteringSpec) — the repeated-
    // query access path at corpus scale.
    "sparse_topk_indexed" -> ((s, d) => {
      val e = emb(s, d)
      val qvec = e.filter(col("vec_id") === QID)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val path = postingsPath(s, d)
      postingsLock.synchronized {
        if (!new java.io.File(s"$path/_SUCCESS").exists()) {
          graft.operators.Similarity.buildPostingIndex(
            e.filter(col("vec_id") =!= QID), "vec_id", "embedding",
            path, threshold = 0.15)
        }
      }
      graft.operators.Similarity.sparseSearchIndexed(
          s, path, qvec, threshold = 0.15, k = 10, roundDecimals = Some(6))
        .select(col("id").as("vec_id"), col("score"))
        .orderBy(col("score").desc, col("vec_id"))
    }),

    // Full retrieval-eval suite over an 8-query set: recall@10, MRR@10 and
    // binary-relevance nDCG@10 of the binary-quantized ranking against the
    // exact-cosine ranking (= graded ground truth). DCG folds its 1/log2
    // terms in rank order (array_sort + sequential aggregate) so the double
    // sum is engine-identical; a query with no overlap reports zeros.
    // The per-query rankings here use rank windows over the 8-query
    // candidate stream (bounded: the eval query set is small by
    // construction); a corpus-scale eval would swap in the partial top-k
    // aggregator exactly as knn_join_topk's Scaladoc describes.
    "retrieval_metrics" -> ((s, d) => {
      VectorFunctions.register(s)
      import org.apache.spark.sql.expressions.Window
      val e = emb(s, d)
      val qs = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          binary_quantize(col("embedding")).as("qcode"))
      val scored = e.filter(col("vec_id") >= 8).crossJoin(broadcast(qs))
      val exact = scored
        .select(col("qid"), col("vec_id"),
          round(vec_cosine_dist(col("embedding"), col("qvec")), 6).as("dist"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))))
        .filter(col("rnk") <= 10).select(col("qid"), col("vec_id"))
      val sys = scored
        .select(col("qid"), col("vec_id"),
          round(jaccard_dist(binary_quantize(col("embedding")), col("qcode")), 6)
            .as("dist"))
        .withColumn("srnk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))))
        .filter(col("srnk") <= 10)
        .select(col("qid"), col("vec_id"), col("srnk"))
      val dcgOf = (ranks: org.apache.spark.sql.Column) => aggregate(
        transform(ranks, r => lit(1.0) / log2(r + lit(1))), lit(0.0), _ + _)
      val idcg = dcgOf(sequence(lit(1), lit(10)))
      val g = exact.join(sys, Seq("qid", "vec_id"))
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("n_common"), min(col("srnk")).as("first_rel"),
          dcgOf(array_sort(collect_list(col("srnk")))).as("dcg"))
      qs.select(col("qid")).join(g, Seq("qid"), "left")
        .select(col("qid"),
          round(coalesce(col("n_common"), lit(0L)) / 10.0, 6).as("recall"),
          round(coalesce(lit(1.0) / col("first_rel"), lit(0.0)), 6).as("mrr"),
          round(coalesce(col("dcg"), lit(0.0)) / idcg, 6).as("ndcg"))
        .orderBy(col("qid"))
    }),

    // Hubness audit (Radovanović et al.): in-degree histogram of the k=5
    // NN graph over a deterministic 10%-of-ids query sample — the
    // high-dimensional health check (a few in-everyone's-top-k hubs =>
    // degraded retrieval). Broadcast sample × one corpus pass, partial
    // top-k aggregation; zero-degree count via a broadcastable left join.
    "hubness_audit" -> ((s, d) => {
      VectorFunctions.register(s)
      val e = emb(s, d)
      graft.operators.Similarity.hubnessAudit(
        e.select(col("vec_id").as("id"), col("embedding").as("vec")),
        e.filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        k = 5,
        (a, b) => round(vec_cosine_dist(a, b), 6))
        .orderBy(col("in_degree"))
    }),

    // Recall@10 audit of the binary-quantized stage against exact cosine —
    // the evaluation harness a quantize→rescore pipeline runs continuously.
    // One row: |approx∩exact| / k.
    "ann_recall_audit" -> ((s, d) => {
      VectorFunctions.register(s)
      val exact = topK(s, d, "dist", vec_cosine_dist).select(col("vec_id"))
      val e = emb(s, d)
      val q = e.filter(col("vec_id") === QID)
        .select(binary_quantize(col("embedding")).as("qcode"))
      val approx = e.filter(col("vec_id") =!= QID).crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(jaccard_dist(binary_quantize(col("embedding")),
            col("qcode")), 6).as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(10)
        .select(col("vec_id"))
      exact.join(approx, "vec_id")
        .agg(lit(10).as("k"), count(lit(1)).as("n_common"),
          round(count(lit(1)) / 10.0, 6).as("recall"))
    }),

    // Label-filtered exact KNN: the engine's label model is ARRAY<SHORT> with
    // `arrays_overlap` semantics (P1); the test table carries a scalar label,
    // wrapped here into a 1-element array.
    "knn_labeled" -> ((s, d) => {
      VectorFunctions.register(s)
      withQuery(s, d)
        .filter(arrays_overlap(array(col("label")), lit(Array(1, 3))))
        .select(col("vec_id"), round(vec_cosine_dist(col("embedding"), col("qvec")), 6).as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(10)
    }),

    // Range search: every vector within cosine distance 0.72 of the query —
    // pgvector's `WHERE embedding <=> $q < r` surface. A pure filter plan:
    // the distance expression evaluates inside the codegen'd scan stage, no
    // top-k, no shuffle beyond the output sort
    "knn_range" -> ((s, d) => {
      VectorFunctions.register(s)
      withQuery(s, d)
        .select(col("vec_id"),
          round(vec_cosine_dist(col("embedding"), col("qvec")), 6).as("dist"))
        .filter(col("dist") < 0.72)
        .orderBy(col("dist"), col("vec_id"))
    }),

    // KNN join: top-3 neighbors for each of 5 query vectors. Queries are
    // broadcast; ranking is a window over the (small) per-query candidate
    // stream. At scale the partial top-k would use Similarity.knnJoin's
    // aggregator; this form is the exact-oracle shape.
    "knn_join_topk" -> ((s, d) => {
      VectorFunctions.register(s)
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      import org.apache.spark.sql.expressions.Window
      e.filter(col("vec_id") >= 5)
        .crossJoin(broadcast(q))
        .select(col("qid"), col("vec_id"),
          round(vec_cosine_dist(col("embedding"), col("qvec")), 6).as("dist"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))))
        .filter(col("rnk") <= 3)
        .select(col("qid"), col("vec_id"), col("dist"), col("rnk"))
        .orderBy(col("qid"), col("rnk"))
    }),

    "vector_norms" -> ((s, d) => {
      VectorFunctions.register(s)
      emb(s, d).select(col("vec_id"), round(vec_norm(col("embedding")), 6).as("nrm"))
        .orderBy(col("vec_id"))
    }),

    // Matryoshka truncation (SURVEY.md §4.1): search on a 16-dim prefix slice.
    "matryoshka_prefix" -> ((s, d) => {
      VectorFunctions.register(s)
      withQuery(s, d)
        .select(col("vec_id"),
          round(vec_l2(slice(col("embedding"), 1, 16), slice(col("qvec"), 1, 16)), 6).as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(10)
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "knn_exact_cosine" ->
      s"""SELECT vec_id, round(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQvec), 6) AS dist
         |FROM embeddings WHERE vec_id <> $QID ORDER BY dist, vec_id LIMIT 10""".stripMargin,
    "knn_range" ->
      s"""SELECT vec_id, dist FROM (
         |  SELECT vec_id, round(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQvec), 6) AS dist
         |  FROM embeddings WHERE vec_id <> $QID)
         |WHERE dist < 0.72 ORDER BY dist, vec_id""".stripMargin,
    "knn_exact_l2" ->
      s"""SELECT vec_id, round(list_distance(CAST(embedding AS DOUBLE[]), $oracleQvec), 6) AS dist
         |FROM embeddings WHERE vec_id <> $QID ORDER BY dist, vec_id LIMIT 10""".stripMargin,
    "knn_exact_l2sq" ->
      s"""SELECT vec_id, round(list_distance(CAST(embedding AS DOUBLE[]), $oracleQvec) ^ 2, 6) AS dist
         |FROM embeddings WHERE vec_id <> $QID ORDER BY dist, vec_id LIMIT 10""".stripMargin,
    "knn_exact_ip" ->
      s"""SELECT vec_id, round(-list_dot_product(CAST(embedding AS DOUBLE[]), $oracleQvec), 6) AS dist
         |FROM embeddings WHERE vec_id <> $QID ORDER BY dist, vec_id LIMIT 10""".stripMargin,
    "knn_exact_l1" ->
      s"""SELECT vec_id, round(list_sum(list_transform(range(1, len(embedding)+1),
         |    i -> abs(CAST(embedding[i] AS DOUBLE) - q.qv[i]))), 6) AS dist
         |FROM embeddings, (SELECT $oracleQvec AS qv) q
         |WHERE vec_id <> $QID ORDER BY dist, vec_id LIMIT 10""".stripMargin,
    // membership (x > 0) is computed from the float arrays on the oracle
    // side — bit-for-bit the same sets the packed codes encode
    "binary_jaccard_topk" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QID)
         |SELECT vec_id,
         |  round(1.0 - coalesce(CAST(list_sum(list_transform(range(1, len(embedding)+1),
         |      i -> CASE WHEN embedding[i] > 0 AND q.qv[i] > 0 THEN 1 ELSE 0 END)) AS DOUBLE)
         |    / nullif(list_sum(list_transform(range(1, len(embedding)+1),
         |      i -> CASE WHEN embedding[i] > 0 OR q.qv[i] > 0 THEN 1 ELSE 0 END)), 0), 1.0), 6) AS dist
         |FROM embeddings, q WHERE vec_id <> $QID ORDER BY dist, vec_id LIMIT 20""".stripMargin,
    // inverted-index replay: active dims (> 0.15) joined on dimension index
    "sparse_topk" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QID),
         |p AS (SELECT vec_id, embedding, unnest(range(1, len(embedding)+1)) AS i
         |      FROM embeddings WHERE vec_id <> $QID)
         |SELECT vec_id, round(sum(CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)), 6) AS score
         |FROM p, q WHERE embedding[i] > 0.15 AND qv[i] > 0.15
         |GROUP BY vec_id ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,
    "sparse_topk_indexed" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QID),
         |p AS (SELECT vec_id, embedding, unnest(range(1, len(embedding)+1)) AS i
         |      FROM embeddings WHERE vec_id <> $QID)
         |SELECT vec_id, round(sum(CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)), 6) AS score
         |FROM p, q WHERE embedding[i] > 0.15 AND qv[i] > 0.15
         |GROUP BY vec_id ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,
    // DCG folds replayed as ordered list comprehensions + list_reduce
    // (0.0 + t1 == t1, so the left fold matches Spark's aggregate())
    "retrieval_metrics" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv, embedding AS qe
        |           FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id, embedding, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings WHERE vec_id >= 8),
        |ex AS (SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rnk
        |    FROM (SELECT q.qid, c.vec_id,
        |            round(1.0 - list_cosine_similarity(c.v, q.qv), 6) AS dist FROM c, q))
        |  WHERE rnk <= 10),
        |sy AS (SELECT qid, vec_id, srnk FROM (
        |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS srnk
        |    FROM (SELECT q.qid, c.vec_id,
        |        round(1.0 - coalesce(CAST(list_sum(list_transform(range(1, len(c.embedding)+1),
        |            i -> CASE WHEN c.embedding[i] > 0 AND q.qe[i] > 0 THEN 1 ELSE 0 END)) AS DOUBLE)
        |          / nullif(list_sum(list_transform(range(1, len(c.embedding)+1),
        |            i -> CASE WHEN c.embedding[i] > 0 OR q.qe[i] > 0 THEN 1 ELSE 0 END)), 0), 1.0), 6) AS dist
        |      FROM c, q))
        |  WHERE srnk <= 10),
        |m AS (SELECT ex.qid, sy.srnk FROM ex JOIN sy ON ex.qid = sy.qid AND ex.vec_id = sy.vec_id),
        |g AS (SELECT qid, count(*) AS n_common, min(srnk) AS first_rel,
        |        list(srnk ORDER BY srnk) AS rl
        |      FROM m GROUP BY qid),
        |g2 AS (SELECT qid, n_common, first_rel,
        |        list_reduce([1.0 / log2(CAST(x + 1 AS DOUBLE)) for x in rl], (a, b) -> a + b) AS dcg
        |      FROM g),
        |i AS (SELECT list_reduce([1.0 / log2(CAST(x + 1 AS DOUBLE)) for x in range(1, 11)], (a, b) -> a + b) AS idcg)
        |SELECT q.qid,
        |  round(coalesce(n_common, 0) / 10.0, 6) AS recall,
        |  round(coalesce(1.0 / first_rel, 0.0), 6) AS mrr,
        |  round(coalesce(dcg, 0.0) / (SELECT idcg FROM i), 6) AS ndcg
        |FROM (SELECT DISTINCT qid FROM q) q LEFT JOIN g2 USING (qid)
        |ORDER BY qid""".stripMargin,

    "hubness_audit" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id % 10 = 0),
        |c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |r AS (SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rnk
        |      FROM (SELECT q.qid, c.id,
        |              round(1.0 - list_cosine_similarity(c.v, q.qv), 6) AS dist
        |            FROM c, q WHERE c.id <> q.qid)),
        |ind AS (SELECT id, count(*) AS in_degree FROM r WHERE rnk <= 5 GROUP BY id),
        |alln AS (SELECT c.id, coalesce(in_degree, 0) AS in_degree
        |         FROM c LEFT JOIN ind USING (id))
        |SELECT in_degree, count(*) AS n_vectors FROM alln
        |GROUP BY in_degree ORDER BY in_degree""".stripMargin,

    "ann_recall_audit" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QID),
         |ex AS (SELECT vec_id FROM (
         |    SELECT vec_id, round(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQvec), 6) AS dist
         |    FROM embeddings WHERE vec_id <> $QID ORDER BY dist, vec_id LIMIT 10)),
         |ap AS (SELECT vec_id FROM (
         |    SELECT vec_id,
         |      round(1.0 - coalesce(CAST(list_sum(list_transform(range(1, len(embedding)+1),
         |          i -> CASE WHEN embedding[i] > 0 AND q.qv[i] > 0 THEN 1 ELSE 0 END)) AS DOUBLE)
         |        / nullif(list_sum(list_transform(range(1, len(embedding)+1),
         |          i -> CASE WHEN embedding[i] > 0 OR q.qv[i] > 0 THEN 1 ELSE 0 END)), 0), 1.0), 6) AS dist
         |    FROM embeddings, q WHERE vec_id <> $QID ORDER BY dist, vec_id LIMIT 10))
         |SELECT 10 AS k, count(*) AS n_common, round(count(*) / 10.0, 6) AS recall
         |FROM ex JOIN ap USING (vec_id)""".stripMargin,
    "knn_labeled" ->
      s"""SELECT vec_id, round(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQvec), 6) AS dist
         |FROM embeddings WHERE vec_id <> $QID AND label IN (1, 3) ORDER BY dist, vec_id LIMIT 10""".stripMargin,
    "knn_join_topk" ->
      s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT q.qid, e.vec_id,
         |        round(1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec), 6) AS dist
         |      FROM embeddings e CROSS JOIN q WHERE e.vec_id >= 5),
         |r AS (SELECT qid, vec_id, dist,
         |        row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rnk FROM c)
         |SELECT qid, vec_id, dist, rnk FROM r WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin,
    "vector_norms" ->
      """SELECT vec_id, round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 6) AS nrm
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "matryoshka_prefix" ->
      s"""SELECT vec_id, round(list_distance(CAST(embedding[1:16] AS DOUBLE[]), (SELECT CAST(embedding[1:16] AS DOUBLE[]) FROM embeddings WHERE vec_id = $QID)), 6) AS dist
         |FROM embeddings WHERE vec_id <> $QID ORDER BY dist, vec_id LIMIT 10""".stripMargin,
  )
}
