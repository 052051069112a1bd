package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, ShortType}
import graft.index.{DiskannIndex, DiskannParams}

/**
 * ANN search queries through the DiskANN index (SURVEY.md §2.5/§2.6/§2.8:
 * S2/S3/T1-T4, V1 tombstones, G9 delta append).
 *
 * At sf0.01 (500 vectors, R=50, L=200, rescore=150) the graph search is
 * effectively exhaustive, so these hash-match the *exact* DuckDB oracle —
 * the same two-gate approach as the reference's own tests (recall vs exact
 * ground truth). The recall-under-scale behavior is covered by VamanaSpec.
 */
object AnnQueries {

  private def emb(spark: SparkSession, dir: String): DataFrame =
    graft.sources.TableResolver.parquet(spark, s"$dir/embeddings.parquet")

  /** Deterministic per-sf index location; built once, reused across queries
    * and rounds (rebuilt only if the driver wipes /tmp). */
  private def indexPath(dir: String, name: String): String =
    s"/tmp/graft_index/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/$name"

  private val buildLock = new Object

  private def ensureIndex(spark: SparkSession, dir: String, name: String,
      df: => DataFrame, labeled: Boolean,
      params: DiskannParams = DiskannParams(metric = "cosine")): String =
    buildLock.synchronized {
      val path = indexPath(dir, name)
      val done = new java.io.File(s"$path/_meta/_SUCCESS")
      if (!done.exists()) {
        DiskannIndex.build(df, "vec_id", "embedding",
          if (labeled) Some("labels") else None, path, params)
      }
      path
    }

  private def withLabels(df: DataFrame): DataFrame =
    df.withColumn("labels", array(col("label").cast(ShortType)))

  /** CORRECTNESS-gate frontier width, scaled to the verification corpus:
    * the oracle demands the EXACT top-k, and on uniform-random fixtures
    * SBQ's Hamming signal weakens as the corpus grows — fixed widened
    * params that are exhaustive at sf0.01 (1000 vectors) drop deep-tail
    * rows at the sf0.1 spot-check (2000). Serving keeps the reference GUC
    * defaults (real clustered embeddings run at L=100, VamanaSpec); this
    * scaling is a property of the exact-match VERIFICATION fixture, capped
    * so the bench stays bounded. */
  // fingerprint: the embeddings listing (a regenerated sf dir recounts)
  private val corpusSizes =
    new graft.FingerprintMemo[Long]("AnnQueries.corpusSizes", 16, graft.FingerprintMemo.Jvm)
  private def oracleL(spark: SparkSession, dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    val n = corpusSizes.get(spark, dir, graft.FingerprintMemo.listingFingerprint(
      p.getFileSystem(spark.sessionState.newHadoopConf()), p))(emb(spark, dir).count())
    math.min(2048L, math.max(200L, n / 2)).toInt
  }

  private def queryDf(spark: SparkSession, dir: String,
      qlabels: Option[Seq[Short]]): DataFrame = {
    val base = emb(spark, dir).filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    qlabels match {
      case Some(ls) => base.withColumn("qlabels",
        lit(ls.toArray).cast(ArrayType(ShortType)))
      case None => base
    }
  }

  /** Round + deterministic order + k — the same shape as the exact queries
    * so results hash-match the oracle. */
  private def finish(res: DataFrame, k: Int, excludeSelf: Boolean): DataFrame = {
    val f = if (excludeSelf) res.filter(col("row_id") =!= 0) else res
    f.select(col("row_id").as("vec_id"), round(col("dist"), 6).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "knn_sql_topk" -> ((s, d) => sqlTopK(s, d)),
    // hybrid retrieval through the INDEX: BM25 top-50 fused (RRF) with the
    // graph-search top-50 instead of the brute-force scan — the RAG serving
    // shape. At sf0.01 the widened search is exhaustive, so the result
    // hash-matches the same exact oracle as the brute-force hybrid_rrf;
    // at scale only the index traversal cost changes, never the fusion.
    "hybrid_rrf_ann" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val path = ensureIndex(s, d, "cos", emb(s, d), labeled = false)
      val vtop = finish(DiskannIndex.search(s, path, queryDf(s, d, None),
          k = 51, searchListSize = 600, rescore = 600), 50, excludeSelf = true)
        .select(col("vec_id").as("id"), col("dist").as("vdist"))
        // global window is BOUNDED: the 50-row post-finish top list only
        .withColumn("ra",
          row_number().over(Window.orderBy(col("vdist"), col("id"))))
      val docs = graft.sources.TableResolver.parquet(s, s"$d/documents.parquet")
      graft.operators.Similarity.rrfFuse(vtop,
        graft.operators.TextAnalysis.bm25TopRanked(docs, "doc_id", "text",
          Seq("vector", "query", "dup"), n = 50))
    }),
    // Hybrid retrieval with BOTH legs served from STORED artifacts — the
    // full production shape: vector candidates through the DiskANN graph,
    // text candidates through the inverted text index's pruned postings
    // (TextIndex), fused with the same RRF combiner. Only the text scores'
    // summation discipline differs from hybrid_rrf_ann (per-term round +
    // decimal sum — see TextIndex), so this entry carries its own oracle.
    "hybrid_rrf_stored" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val path = ensureIndex(s, d, "cos", emb(s, d), labeled = false)
      val vtop = finish(DiskannIndex.search(s, path, queryDf(s, d, None),
          k = 51, searchListSize = 600, rescore = 600), 50, excludeSelf = true)
        .select(col("vec_id").as("id"), col("dist").as("vdist"))
        // global window is BOUNDED: the 50-row post-finish top list only
        .withColumn("ra",
          row_number().over(Window.orderBy(col("vdist"), col("id"))))
      val tpath = PipelineQueries.ensureTextIndex(s, d)
      val btop = graft.operators.TextIndex.bm25SearchIndexed(s, tpath,
          Seq("vector", "query", "dup"), n = 50)
        .select(col("id"), col("bm25").as("bscore"))
        // BOUNDED for the same reason: 50 rows post-limit
        .withColumn("rb",
          row_number().over(Window.orderBy(col("bscore").desc, col("id"))))
      graft.operators.Similarity.rrfFuse(vtop, btop)
    }),
    // late-interaction retrieval through the INDEX: each query-bag vector
    // retrieves candidates via graph search, candidate DOCS are re-scored
    // with the exact MaxSim kernel over ALL their vectors (a doc in the
    // candidate set gets its true score), and at verification scale the
    // widened search is exhaustive — so the result hash-matches the same
    // exact oracle as the brute-force maxsim_topk. The production shape:
    // ANN prunes the corpus to candidates, exact scoring is candidate-sized.
    "maxsim_topk_ann" -> ((s, d) => {
      val path = ensureIndex(s, d, "cos", emb(s, d), labeled = false)
      val e = emb(s, d)
      val qs = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val candDocs = DiskannIndex.searchDistributed(s, path, qs, k = 200,
          searchListSize = 600, rescore = 600)
        .filter(col("row_id") >= 8)
        .select(floor(col("row_id") / 8).cast("long").as("doc"))
        .distinct()
      val corpus = e.filter(col("vec_id") >= 8)
        .select(floor(col("vec_id") / 8).cast("long").as("doc"),
          col("embedding").as("vec"))
        .join(candDocs, Seq("doc")) // candidate semi-join (AQE-broadcast)
      graft.operators.Similarity.maxsimTopK(corpus,
        e.filter(col("vec_id") < 4)
          .select(col("vec_id").as("q_ix"), col("embedding").as("qvec")),
        topK = 10)
    }),

    // The >256-shard cogroup path of searchDistributed — at 100 TB an index
    // is thousands of shards, where the union-of-pruned-scans plan stops
    // composing and the cogroup fallback takes over (DiskannIndex:823-832).
    // shardTargetRows=1 forces ~500 single-row shards at sf0.01, and a
    // delta twin of the QUERY VECTOR (row 9000) checks freshness through
    // the distributed path: the oracle pins it at rank 1 (dist 0), so a
    // lost delta or a shard dropped by the cogroup merge hash-mismatches.
    "knn_ann_many_shards" -> ((s, d) => {
      // fixed 500-row slice at every sf: 500 single-row shards exercise the
      // >256 path without the plan growing with the sf (at sf0.1 a 2000-
      // branch union costs ~100 s of pure driver planning — the exact
      // failure mode the bucketed path below exists to avoid)
      val path = ensureIndex(s, d, "cos_shard1s",
        emb(s, d).filter(col("vec_id") < 500), labeled = false,
        DiskannParams(metric = "cosine", shardTargetRows = 1))
      // one-time delta (guarded; re-appends would collapse by row_id anyway
      // under the at-least-once contract)
      if (!graft.streaming.StreamingIngest.hasDelta(s, path))
        graft.streaming.StreamingIngest.appendBatchToDelta(path)(
          emb(s, d).filter(col("vec_id") === 0)
            .selectExpr("vec_id + 9000 AS row_id", "embedding AS vec"), 0L)
      // zipMaxShards=64 ⇒ buckets hold ~8 whole shards each: the bucketed
      // multi-shard-per-task scan (the thousands-of-shards production
      // shape) is what this query pins under the oracle
      val prev = s.conf.getOption("graft.search.zipMaxShards")
      s.conf.set("graft.search.zipMaxShards", "64")
      try finish(graft.streaming.StreamingIngest.searchFreshDistributed(s,
        path, queryDf(s, d, None), k = 11, searchListSize = 600,
        rescore = 600), 10, excludeSelf = true)
      finally prev match {
        case Some(v) => s.conf.set("graft.search.zipMaxShards", v)
        case None => s.conf.unset("graft.search.zipMaxShards")
      }
    }),

    // Distance-threshold retrieval (`WHERE embedding <=> q < r` — the
    // pgvector iterative-scan shape) through the SAME graph index: the
    // resumable frontier escalates top-k rounds until the deepest exact
    // distance clears the radius, so cost scales with the RESULT size, not
    // a guessed k. No LIMIT — the radius is the bound. Widened params make
    // it exhaustive at sf0.01, so it hash-matches the exact oracle; the
    // scan filters on the ROUNDED distance (engine determinism), with the
    // raw radius nudged up so raw-vs-rounded boundary rows can't differ.
    "knn_range_cosine" -> ((s, d) => {
      import s.implicits._
      val path = ensureIndex(s, d, "cos", emb(s, d), labeled = false)
      val q = emb(s, d).filter(col("vec_id") === 0)
        .head().getAs[scala.collection.mutable.ArraySeq[Float]]("embedding")
      // DEFAULT search params: exhaustiveness is the ALGORITHM's contract
      // now — rangeSearch widens L with kk until the in-radius set
      // stabilizes across a 4x widening, so no query-site L tuning is
      // needed at any sf (a RANGE result has no k to hide behind)
      DiskannIndex.rangeSearch(s, path, q.toArray, radius = 0.8000005)
        .toDF("vec_id", "dist")
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), round(col("dist"), 6).as("dist"))
        .filter(col("dist") <= 0.8)
        .orderBy(col("dist"), col("vec_id"))
    }),

    // the SAME radius shape through plain SQL: the planner rewrites
    // `WHERE vec_cosine_dist(col, q) <= r` (no LIMIT) onto the graph
    // index's rangeSearch (KnnRangeScanExec) with the full predicate
    // re-checked above — asserted index-planned in KnnStrategySpec
    "knn_range_sql" -> ((s, d) => sqlRange(s, d)),

    // the radius shape under PENDING freshness state (round-11 closure of
    // the last delta-blind scan shape): main graph covers vec_id < 400,
    // vec_id >= 400 pends un-compacted in the delta, vec_id % 9 == 0 rows
    // are persisted tombstones — the SQL-planned KnnRangeScan must merge
    // the delta exactly and mask the deletes with NO compact
    // (StreamingIngest.rangeSearchFresh), never bail to the O(corpus)
    // scan just because appends pend.
    "knn_range_sql_fresh" -> ((s, d) => sqlRangeFresh(s, d)),

    // radius over a MULTI-SHARD IVF index (round 11): the sound
    // triangle-inequality shard prune is active (stored per-shard radii,
    // 4+ shards at verify scale) and, being sound, must not change a
    // single row vs the exact oracle — the pruning-under-oracle pin the
    // single-shard radius rows cannot give.
    "knn_range_ivf" -> ((s, d) => {
      import s.implicits._
      val path = ensureIndex(s, d, "cos_ivf_det", emb(s, d), labeled = false,
        DiskannParams(metric = "cosine", partitioner = "ivf",
          shardTargetRows = 128, ivfSeed = Some("ivfidx")))
      val q = emb(s, d).filter(col("vec_id") === 0)
        .head().getAs[scala.collection.mutable.ArraySeq[Float]]("embedding")
      DiskannIndex.rangeSearch(s, path, q.toArray, radius = 0.8000005)
        .toDF("vec_id", "dist")
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), round(col("dist"), 6).as("dist"))
        .filter(col("dist") <= 0.8)
        .orderBy(col("dist"), col("vec_id"))
    }),

    // LABELED radius (round 11): Filtered-DiskANN semantics on the range
    // shape — the in-traversal label skip must not hide any in-radius
    // carrier (exhaustiveness escalates through the sparser label
    // subgraph until the set stabilizes).
    "knn_range_labeled" -> ((s, d) => {
      import s.implicits._
      val path = ensureIndex(s, d, "cos_lbl", withLabels(emb(s, d)),
        labeled = true)
      val q = emb(s, d).filter(col("vec_id") === 0)
        .head().getAs[scala.collection.mutable.ArraySeq[Float]]("embedding")
      DiskannIndex.rangeSearch(s, path, q.toArray, radius = 0.8000005,
          qlabels = Array[Short](1, 3))
        .toDF("vec_id", "dist")
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), round(col("dist"), 6).as("dist"))
        .filter(col("dist") <= 0.8)
        .orderBy(col("dist"), col("vec_id"))
    }),

    // BATCH radius (round 11): every query row's in-radius matches through
    // the distributed kernel — per (query, shard) the shard-LOCAL
    // escalate-until-stable loop owns exhaustiveness (a row lives in
    // exactly one shard, so per-shard confirmations compose), queries stay
    // distributed, the nodes table never shuffles. The offline
    // positive-pair-mining shape; same rounded-boundary discipline as the
    // point radius rows.
    "knn_range_batch" -> ((s, d) => {
      val path = ensureIndex(s, d, "cos", emb(s, d), labeled = false)
      val qs = emb(s, d).filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      DiskannIndex.rangeSearchDistributed(s, path, qs, radius = 0.8000005)
        .filter(col("row_id") =!= col("qid"))
        .select(col("qid"), col("row_id").as("vec_id"),
          round(col("dist"), 6).as("dist"))
        .filter(col("dist") <= 0.8)
        .orderBy(col("qid"), col("dist"), col("vec_id"))
    }),

    // LABELED batch radius (round 12): the distributed kernel honors a
    // per-query `qlabels` column — in-traversal overlap skip + per-label
    // start nodes per shard, same exhaustiveness contract as the unlabeled
    // batch (per-shard escalate-until-stable confirmations compose)
    "knn_range_batch_labeled" -> ((s, d) => {
      val path = ensureIndex(s, d, "cos_lbl", withLabels(emb(s, d)),
        labeled = true)
      val qs = emb(s, d).filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          array(lit(1.toShort), lit(3.toShort)).as("qlabels"))
      DiskannIndex.rangeSearchDistributed(s, path, qs, radius = 0.8000005)
        .filter(col("row_id") =!= col("qid"))
        .select(col("qid"), col("row_id").as("vec_id"),
          round(col("dist"), 6).as("dist"))
        .filter(col("dist") <= 0.8)
        .orderBy(col("qid"), col("dist"), col("vec_id"))
    }),

    // T1/S2/S3: ORDER BY embedding <=> q LIMIT k through the graph index
    "knn_ann_cosine" -> ((s, d) => {
      val path = ensureIndex(s, d, "cos", emb(s, d), labeled = false)
      // uniform random test vectors are the worst case for 2-bit SBQ (the
      // Hamming signal is weak when all points are near-equidistant), so the
      // query GUC analogs are widened vs the reference defaults; real
      // clustered embeddings run fine at L=100/rescore=50 (VamanaSpec).
      finish(DiskannIndex.search(s, path, queryDf(s, d, None), k = 11,
        searchListSize = oracleL(s, d), rescore = oracleL(s, d)), 10, excludeSelf = true)
    }),

    // label-filtered ANN (Filtered-DiskANN semantics: per-label start nodes,
    // in-traversal skip, residual recheck)
    "knn_ann_labeled" -> ((s, d) => {
      val path = ensureIndex(s, d, "cos_lbl", withLabels(emb(s, d)), labeled = true)
      // filtered traversal explores a sparser label subgraph: widen the
      // frontier + rescore pool (the reference's query GUCs, guc.rs:3-4)
      finish(DiskannIndex.search(s, path, queryDf(s, d, Some(Seq(1, 3))), k = 11,
        searchListSize = oracleL(s, d), rescore = oracleL(s, d)), 10, excludeSelf = true)
    }),

    // V1: tombstone deletes — deleted rows still route traversal but are
    // never emitted. vec_id 0 is itself deleted (0 % 7 == 0).
    "ann_delete" -> ((s, d) => {
      val path = ensureIndex(s, d, "cos", emb(s, d), labeled = false)
      val tomb = emb(s, d).filter(col("vec_id") % 7 === 0)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      // ~1/7 of rows are tombstoned: over-fetch so k survivors remain
      finish(DiskannIndex.search(s, path, queryDf(s, d, None), k = 10,
        searchListSize = oracleL(s, d), rescore = oracleL(s, d), tombstones = tomb), 10,
        excludeSelf = false)
    }),

    // D7/D2: inner-product metric through the SBQ index (ip requires SBQ in
    // the reference, build.rs:264-266 — same here by default)
    "knn_ann_ip" -> ((s, d) => {
      val path = ensureIndex(s, d, "ip", emb(s, d), labeled = false,
        DiskannParams(metric = "ip"))
      finish(DiskannIndex.search(s, path, queryDf(s, d, None), k = 11,
        searchListSize = oracleL(s, d), rescore = oracleL(s, d)), 10, excludeSelf = true)
    }),

    // D10: plain (uncompressed) storage — full-precision traversal, no codes
    "knn_ann_l2_plain" -> ((s, d) => {
      val path = ensureIndex(s, d, "l2_plain", emb(s, d), labeled = false,
        DiskannParams(metric = "l2", storage = "plain"))
      finish(DiskannIndex.search(s, path, queryDf(s, d, None), k = 11,
        searchListSize = oracleL(s, d), rescore = oracleL(s, d)), 10, excludeSelf = true)
    }),

    // §4.1 Matryoshka: graph + codes built on a 16-dim prefix slice, exact
    // rescoring on the full 64-dim vectors (resort forced, scan.rs:393-401).
    // A 16-of-64 prefix of *uniform random* vectors carries only 1/4 of the
    // distance signal, so the rescore pool is sized to the table here; on
    // real Matryoshka-trained embeddings the prefix is information-dense and
    // normal pools apply.
    "knn_ann_matryoshka" -> ((s, d) => {
      val path = ensureIndex(s, d, "cos_mat16", emb(s, d), labeled = false,
        DiskannParams(metric = "cosine", numDimsToIndex = Some(16)))
      // the 16-of-64 noise prefix carries ~no ranking signal, so the exact
      // oracle needs the rescore pool to cover the TABLE — scaled with the
      // verification corpus like the other exact-match ANN rows
      finish(DiskannIndex.search(s, path, queryDf(s, d, None), k = 11,
        searchListSize = 2 * oracleL(s, d), rescore = 2 * oracleL(s, d)),
        10, excludeSelf = true)
    }),

    // IVF-routed sharding (the 100 TB scale path): shard = nearest k-means
    // centroid at build; each query probes only its nProbe nearest shards,
    // making per-query cost O(nProbe) instead of O(numShards). On these
    // uniform random fixtures routing is deliberately exercised at small
    // nProbe — recall guarantees on *clustered* data are asserted in
    // DiskannIndexSpec; no exact oracle exists by construction (rows-only).
    // genuinely PRUNED routing even at verify scale (500 rows / 128 -> 4
    // shards, nProbe=2) with md5-deterministic centroids, so the DuckDB
    // oracle replays the full pipeline — normalize, centroid pick, shard
    // argmin, probe choice — and ranks exactly within the probed shards
    "ann_ivf_routed" -> ((s, d) => {
      val path = ensureIndex(s, d, "cos_ivf_det", emb(s, d), labeled = false,
        DiskannParams(metric = "cosine", partitioner = "ivf",
          shardTargetRows = 128, ivfSeed = Some("ivfidx")))
      finish(DiskannIndex.search(s, path, queryDf(s, d, None), k = 11,
        searchListSize = oracleL(s, d), rescore = oracleL(s, d), nProbe = 2), 10,
        excludeSelf = true)
    }),

    // Offline batch ANN (the "neighbors for every row" workload): queries
    // stay distributed end-to-end — shard routing via broadcast centroids,
    // cogroup on the shard key, no driver collect of the query table.
    "knn_ann_batch" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val path = ensureIndex(s, d, "cos", emb(s, d), labeled = false)
      val qs = emb(s, d).filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      // 8 distinct query points must ALL hit exact top-5: widen the frontier
      // + rescore pool for the uniform-random worst case (same rationale as
      // knn_ann_matryoshka above)
      DiskannIndex.searchDistributed(s, path, qs, k = 6,
        searchListSize = math.max(600, oracleL(s, d)),
        rescore = math.max(400, oracleL(s, d)))
        .filter(col("row_id") =!= col("qid"))
        .select(col("qid"), col("row_id").as("vec_id"),
          round(col("dist"), 6).as("dist"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))))
        .filter(col("rn") <= 5).drop("rn")
        .orderBy(col("qid"), col("dist"), col("vec_id"))
    }),

    // G9+V1 through PURE SQL (round-5 freshness parity): the main graph
    // covers vec_id < 400, vec_id >= 400 sits un-compacted in the delta,
    // and every vec_id % 9 == 0 (including the query row 0) is registered
    // deleted via the persistent tombstone registry. The SQL-planned
    // KnnIndexScan must surface the appends and mask the deletes with NO
    // compact in between — the reference's aminsert/vacuum visibility
    // (build.rs:464-535, scan.rs:229-235).
    "ann_sql_fresh" -> ((s, d) => sqlFresh(s, d)),

    // G9→V2 closure: micro-batch appends FOLDED INTO the graph by the
    // incremental LIVE-INSERT compaction (the reference's aminsert,
    // build.rs:464-557, per routed shard): twins of vec 0-2 land in the
    // delta, compact inserts each into exactly the shard its id routes to
    // (untouched shards carried as manifest references — O(appended) graph
    // work), and the post-fold search must rank base ∪ twins exactly.
    "ann_tier_fold" -> ((s, d) => {
      val path = buildLock.synchronized {
        val p = indexPath(d, "cos_tierfold")
        val baseN = emb(s, d).count()
        if (!new java.io.File(s"$p/_meta/_SUCCESS").exists())
          DiskannIndex.build(emb(s, d), "vec_id", "embedding", None, p,
            DiskannParams(metric = "cosine", shardTargetRows = 256))
        // one-time append + tiered compact, guarded by the folded row
        // count (idempotent across warm bench re-runs and cached indexes)
        if (DiskannIndex.loadMeta(s, p).numRows < baseN + 3) {
          if (!graft.streaming.StreamingIngest.hasDelta(s, p))
            graft.streaming.StreamingIngest.appendBatchToDelta(p)(
              emb(s, d).filter(col("vec_id") < 3)
                .select((col("vec_id") + 9000).as("row_id"),
                  col("embedding").as("vec")), 0L)
          graft.streaming.StreamingIngest.compact(s, p)
        }
        p
      }
      finish(DiskannIndex.search(s, path, queryDf(s, d, None), k = 11,
        searchListSize = oracleL(s, d), rescore = oracleL(s, d)), 10, excludeSelf = true)
    }),

    // G9: micro-batch append — main index over vec_id < 400, the rest is an
    // unindexed delta answered exactly and merged into the final top-k.
    "ann_insert_delta" -> ((s, d) => {
      val path = ensureIndex(s, d, "cos_main400",
        emb(s, d).filter(col("vec_id") < 400), labeled = false)
      val delta = emb(s, d).filter(col("vec_id") >= 400)
        .select(col("vec_id").as("row_id"), col("embedding").as("vec"))
      finish(DiskannIndex.searchWithDelta(s, path, queryDf(s, d, None), delta,
        k = 11, searchListSize = oracleL(s, d), rescore = oracleL(s, d)), 10, excludeSelf = true)
    }),

    // The graph IS the index (reference: the neighbor lists of
    // graph/mod.rs:212-266 are the whole structure): link analysis over the
    // Vamana out-edges the build already paid for — the 100 TB path for
    // GraphOps, replacing the broadcast-bounded Similarity.knnGraph with a
    // partition-pruned scan of the nodes table. Edge export is one explode
    // + one within-shard join; PageRank then runs its standard
    // one-join-one-agg iterations. The oracle replays the IDENTICAL edge
    // list from the dumped parquet (the Vamana build is deterministic but
    // not SQL-expressible), verifying the distributed kernel end-to-end on
    // an index-shaped (directed, pruned, variable-degree) graph.
    "graph_pagerank_index" -> ((s, d) => {
      val edges = indexEdges(s, d)
      graft.operators.GraphOps.pageRank(edges, nIter = 3, damping = 0.85)
        .select(col("id").as("vec_id"), round(col("r"), 9).as("pagerank"))
        .orderBy(col("pagerank").desc, col("vec_id"))
        .limit(25)
    }),

    // weak-labeling over the index graph: same seeds and vote rounds as
    // label_propagation, edges from the built Vamana graph instead of the
    // materialized kNN join — the at-scale shape of the auto-labeling pass.
    "label_propagation_index" -> ((s, d) => {
      val edges = indexEdges(s, d)
      val seeds = emb(s, d).filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("id"), col("label"))
      graft.operators.GraphOps.labelPropagate(edges, seeds, nIter = 2)
        .select(col("id").as("vec_id"), col("label"), col("src_kind"))
        .orderBy(col("vec_id"))
    }),

    // the full curation composition over the INDEX graph: PageRank
    // authority on the Vamana out-edges × the text quality score on the
    // parallel documents row — authority_curate's exact shape with the
    // at-scale edge source swapped in.
    "authority_curate_index" -> ((s, d) => {
      val edges = indexEdges(s, d)
      val pr = graft.operators.GraphOps.pageRank(edges, nIter = 3, damping = 0.85)
        .select(col("id").as("doc_id"), round(col("r"), 9).as("pagerank"))
      val q = graft.operators.TextAnalysis.quality(
          graft.sources.TableResolver.parquet(s, s"$d/documents.parquet"), "doc_id", "text")
        .select(col("doc_id"), round(col("quality_score"), 6).as("quality"))
      pr.join(q, "doc_id")
        .select(col("doc_id"), col("pagerank"), col("quality"),
          round(col("pagerank") * col("quality"), 9).as("weighted_score"))
        .orderBy(col("weighted_score").desc, col("doc_id"))
        .limit(20)
    }),

    // index-health audit (V6 class): the in-degree distribution of the
    // Vamana graph. RobustPrune bounds OUT-degree at R, but in-degree is
    // unbounded — a heavy-tailed histogram means hub nodes that every
    // traversal crosses (hot cache lines, skewed work). Two integer
    // aggregations over the edge list, no window.
    "index_in_degree" -> ((s, d) => {
      indexEdges(s, d)
        .groupBy(col("dst")).agg(count(lit(1)).as("in_deg"))
        .groupBy(col("in_deg")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("in_deg"))
    }),

    // near-dup candidates FROM THE GRAPH: the Vamana out-edges ARE a
    // curated candidate-pair set (RobustPrune keeps each node's closest
    // diverse neighbors), so embedding near-dup mining at scale is "rescore
    // the edge list exactly" — candidate volume is nodes×R by construction,
    // no LSH tuning, no pairwise blow-up, and the build cost was already
    // paid. Output: the 20 tightest pairs (exact cosine, src < dst).
    "neardup_index_pairs" -> ((s, d) => {
      graft.functions.VectorFunctions.register(s)
      val e = emb(s, d)
      indexEdges(s, d).filter(col("src") < col("dst"))
        .join(e.select(col("vec_id").as("src"), col("embedding").as("__va")),
          "src")
        .join(e.select(col("vec_id").as("dst"), col("embedding").as("__vb")),
          "dst")
        .select(col("src"), col("dst"),
          round(call_function("vec_cosine_dist", col("__va"), col("__vb")), 6)
            .as("dist"))
        .orderBy(col("dist"), col("src"), col("dst"))
        .limit(20)
    }),
  )

  /** Export the "cos" index's Vamana out-edges, dumping them to a
    * corpus-size-keyed parquet so the DuckDB oracle can replay link
    * analysis over the IDENTICAL graph. The `n_corpus` column + size-keyed
    * dir let one static oracle glob pick the dump matching its own corpus,
    * so concurrent dumps at other scale factors never collide. */
  private val edgeDumps = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def indexEdges(s: SparkSession, d: String): DataFrame = {
    val path = ensureIndex(s, d, "cos", emb(s, d), labeled = false)
    val edges = DiskannIndex.edges(s, path)
    // the dump is keyed by (row count, Σvec_id) — row count alone would let
    // a same-sized DIFFERENT corpus clobber the dir while the memo below
    // still skips the rewrite, and the static oracle glob (which can only
    // select on embeddings-table content) would replay the wrong graph
    val Array(n, sumIds) = emb(s, d)
      .agg(count(lit(1)), sum(col("vec_id"))).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    // dump once per (sf, corpus) per JVM: four queries × (warm-up + timed
    // runs) would otherwise rewrite the identical deterministic dump each
    // call; a fresh JVM (each Verify run) always rewrites
    if (edgeDumps.add(s"$d|$n|$sumIds"))
      edges.withColumn("n_corpus", lit(n)).withColumn("sum_ids", lit(sumIds))
        .write.mode("overwrite").parquet(s"/tmp/graft_edges/cos_n${n}_s$sumIds")
    edges
  }

  /** `edges(src, dst)` CTE over the [[indexEdges]] dump, selected by the
    * same (row count, Σvec_id) corpus key the dump is written under. */
  private val sqlIndexEdges =
    """edges AS (SELECT src, dst
      |  FROM read_parquet('/tmp/graft_edges/cos_n*/*.parquet', union_by_name=true)
      |  WHERE n_corpus = (SELECT count(*) FROM embeddings)
      |    AND sum_ids = (SELECT sum(vec_id) FROM embeddings))""".stripMargin

  private def oracleQvec = "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)"

  /** S1/§4.1: the ORDER BY-distance rewrite — plain SQL planned through the
    * index by KnnStrategy (asserted index-planned in KnnStrategySpec). */
  def sqlTopK(s: SparkSession, d: String): DataFrame = {
    val path = ensureIndex(s, d, "cos", emb(s, d), labeled = false)
    graft.plans.Graft.enable(s)
    val src = s"$d/embeddings.parquet"
    graft.plans.KnnCatalog.register(src, graft.plans.KnnCatalog.Entry(
      path, src, "vec_id", "embedding", None, "cosine"))
    s.conf.set("graft.knn.searchListSize", oracleL(s, d).toString)
    s.conf.set("graft.knn.rescore", oracleL(s, d).toString)
    val q = emb(s, d).filter(col("vec_id") === 0).head()
      .getAs[scala.collection.mutable.ArraySeq[Float]]("embedding")
    val qsql = s"CAST(array(${q.mkString(", ")}) AS ARRAY<FLOAT>)"
    s.sql(
      s"""SELECT vec_id, round(vec_cosine_dist(embedding, $qsql), 6) AS dist
         |FROM parquet.`$src`
         |ORDER BY vec_cosine_dist(embedding, $qsql) LIMIT 10""".stripMargin)
  }

  /** The radius shape via the SQL planner: WHERE dist <= r, no LIMIT —
    * KnnStrategy rewrites the Filter onto rangeSearch with the whole
    * predicate re-checked above the scan. Same rounded-distance boundary
    * discipline as knn_range_cosine (the raw radius is nudged past the
    * round(…,6) cut so raw-vs-rounded boundary rows cannot differ). */
  def sqlRange(s: SparkSession, d: String): DataFrame = {
    val path = ensureIndex(s, d, "cos", emb(s, d), labeled = false)
    graft.plans.Graft.enable(s)
    val src = s"$d/embeddings.parquet"
    graft.plans.KnnCatalog.register(src, graft.plans.KnnCatalog.Entry(
      path, src, "vec_id", "embedding", None, "cosine"))
    val q = emb(s, d).filter(col("vec_id") === 0).head()
      .getAs[scala.collection.mutable.ArraySeq[Float]]("embedding")
    val qsql = s"CAST(array(${q.mkString(", ")}) AS ARRAY<FLOAT>)"
    s.sql(
      s"""SELECT vec_id, round(vec_cosine_dist(embedding, $qsql), 6) AS dist
         |FROM parquet.`$src`
         |WHERE vec_cosine_dist(embedding, $qsql) <= 0.8000005
         |  AND vec_id <> 0
         |ORDER BY dist, vec_id""".stripMargin)
      .filter(col("dist") <= 0.8)
  }

  /** G9+V1 via the SQL planner: build main on vec_id < 400 once, install
    * the >= 400 rows as an un-compacted delta and the vec_id % 9 == 0 rows
    * as persisted tombstones (both guarded for re-runs), then run the same
    * ORDER BY-distance SQL as [[sqlTopK]] — the index plan must answer with
    * delta rows visible and deleted rows masked. */
  /** The shared pending-freshness fixture: main graph over vec_id < 400,
    * vec_id >= 400 un-compacted in the delta, vec_id % 9 == 0 persisted
    * tombstones — used by both the top-k ([[sqlFresh]]) and radius
    * ([[sqlRangeFresh]]) SQL freshness rows. */
  private def ensureFreshIndex(s: SparkSession, d: String): String =
    buildLock.synchronized {
      val p = indexPath(d, "cos_fresh")
      if (!new java.io.File(s"$p/_meta/_SUCCESS").exists())
        DiskannIndex.build(emb(s, d).filter(col("vec_id") < 400), "vec_id",
          "embedding", None, p, DiskannParams(metric = "cosine"))
      if (!new java.io.File(s"$p/delta").exists())
        emb(s, d).filter(col("vec_id") >= 400)
          .select(col("vec_id").as("row_id"), col("embedding").as("vec"))
          .write.mode("append").parquet(s"$p/delta")
      if (!new java.io.File(s"$p/tombstones").exists())
        DiskannIndex.deleteRows(s, p, emb(s, d)
          .filter(col("vec_id") % 9 === 0)
          .select("vec_id").collect().map(_.getLong(0)).toSeq)
      p
    }

  def sqlFresh(s: SparkSession, d: String): DataFrame = {
    val path = ensureFreshIndex(s, d)
    graft.plans.Graft.enable(s)
    val src = s"$d/embeddings.parquet"
    graft.plans.KnnCatalog.register(src, graft.plans.KnnCatalog.Entry(
      path, src, "vec_id", "embedding", None, "cosine"))
    s.conf.set("graft.knn.searchListSize", oracleL(s, d).toString)
    s.conf.set("graft.knn.rescore", oracleL(s, d).toString)
    val q = emb(s, d).filter(col("vec_id") === 0).head()
      .getAs[scala.collection.mutable.ArraySeq[Float]]("embedding")
    val qsql = s"CAST(array(${q.mkString(", ")}) AS ARRAY<FLOAT>)"
    s.sql(
      s"""SELECT vec_id, round(vec_cosine_dist(embedding, $qsql), 6) AS dist
         |FROM parquet.`$src`
         |ORDER BY vec_cosine_dist(embedding, $qsql) LIMIT 10""".stripMargin)
  }

  /** The radius shape via the SQL planner with PENDING freshness state
    * (delta + tombstones, no compact): the plan must stay KnnRangeScan —
    * the scan itself merges an exact pass over the delta files
    * ([[graft.streaming.StreamingIngest.rangeSearchFresh]]) and masks the
    * persisted tombstones, the reference's every-scan-sees-inserts
    * semantics (build.rs:464-535) on the radius shape. Same rounded-
    * distance boundary discipline as [[sqlRange]]. */
  def sqlRangeFresh(s: SparkSession, d: String): DataFrame = {
    val path = ensureFreshIndex(s, d)
    graft.plans.Graft.enable(s)
    val src = s"$d/embeddings.parquet"
    graft.plans.KnnCatalog.register(src, graft.plans.KnnCatalog.Entry(
      path, src, "vec_id", "embedding", None, "cosine"))
    val q = emb(s, d).filter(col("vec_id") === 0).head()
      .getAs[scala.collection.mutable.ArraySeq[Float]]("embedding")
    val qsql = s"CAST(array(${q.mkString(", ")}) AS ARRAY<FLOAT>)"
    s.sql(
      s"""SELECT vec_id, round(vec_cosine_dist(embedding, $qsql), 6) AS dist
         |FROM parquet.`$src`
         |WHERE vec_cosine_dist(embedding, $qsql) <= 0.8000005
         |  AND vec_id <> 0
         |ORDER BY dist, vec_id""".stripMargin)
      .filter(col("dist") <= 0.8)
  }

  val oracleSql: Map[String, String] = Map(
    // same exact-retrieval oracle as the brute-force hybrid (the index path
    // is exhaustive at verification scale) — shared, not copied
    "hybrid_rrf_ann" -> PipelineQueries.oracleSql("hybrid_rrf"),
    "maxsim_topk_ann" -> PipelineQueries.oracleSql("maxsim_topk"),
    "ann_sql_fresh" ->
      s"""SELECT vec_id, round(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQvec), 6) AS dist
         |FROM embeddings WHERE vec_id % 9 <> 0 ORDER BY dist, vec_id LIMIT 10""".stripMargin,
    "knn_sql_topk" ->
      s"""SELECT vec_id, round(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQvec), 6) AS dist
         |FROM embeddings ORDER BY dist, vec_id LIMIT 10""".stripMargin,
    // full replay of deterministic IVF routing: cosine build-space normalize
    // (double sum -> sqrt -> per-element REAL-rounded divide, mirroring
    // VectorKernels.normalize incl. the zero/unit-norm passthrough),
    // md5-ranked centroid pick with numShards = ceil(n/128), per-row shard
    // argmin (tie-break on centroid index), nProbe=2 probe choice, exact
    // cosine rank over RAW vectors within the probed shards only
    "ann_ivf_routed" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
        |nrm AS (SELECT vec_id, dv, sqrt(list_inner_product(dv, dv)) AS n FROM v),
        |nv AS (SELECT vec_id, dv,
        |         CASE WHEN n = 0 OR abs(n - 1) < 1.1920928955078125e-7 THEN dv
        |              ELSE [CAST(CAST(x / n AS REAL) AS DOUBLE) for x in dv] END AS bv
        |       FROM nrm),
        |ranked AS (SELECT vec_id, bv,
        |    ('0x' || substr(md5('ivfidx:' || CAST(vec_id AS VARCHAR)), 18, 15))::UBIGINT
        |      / 1152921504606846976.0 AS u FROM nv),
        |nc AS (SELECT CAST(ceil(count(*) / 128.0) AS BIGINT) AS k FROM embeddings),
        |cent AS (SELECT rn - 1 AS cid, bv AS cv FROM
        |          (SELECT row_number() OVER (ORDER BY u, vec_id) AS rn, bv FROM ranked), nc
        |         WHERE rn <= nc.k),
        |dists AS (SELECT t.vec_id, c.cid,
        |    list_inner_product([c.cv[i] - t.bv[i] for i in range(1, 65)],
        |                       [c.cv[i] - t.bv[i] for i in range(1, 65)]) AS d
        |  FROM nv t CROSS JOIN cent c),
        |asg AS (SELECT vec_id, cid AS cluster FROM
        |         (SELECT vec_id, cid,
        |            row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |          FROM dists) WHERE rn = 1),
        |q AS (SELECT bv AS qbv, dv AS qdv FROM nv WHERE vec_id = 0),
        |probes AS (SELECT cid FROM
        |  (SELECT c.cid,
        |     list_inner_product([c.cv[i] - q.qbv[i] for i in range(1, 65)],
        |                        [c.cv[i] - q.qbv[i] for i in range(1, 65)]) AS d
        |   FROM cent c CROSS JOIN q ORDER BY d, c.cid LIMIT 2)),
        |sc AS (SELECT t.vec_id, 1.0 - list_cosine_similarity(t.dv, q.qdv) AS dist
        |       FROM nv t JOIN asg USING (vec_id) CROSS JOIN q
        |       WHERE asg.cluster IN (SELECT cid FROM probes) AND t.vec_id <> 0)
        |SELECT vec_id, round(dist, 6) AS dist
        |FROM (SELECT vec_id, dist FROM sc ORDER BY dist, vec_id LIMIT 10)""".stripMargin,

    "knn_ann_cosine" ->
      s"""SELECT vec_id, round(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQvec), 6) AS dist
         |FROM embeddings WHERE vec_id <> 0 ORDER BY dist, vec_id LIMIT 10""".stripMargin,
    // radius scan: EVERY row within rounded distance 0.8, no LIMIT
    "knn_range_cosine" ->
      s"""SELECT vec_id, round(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQvec), 6) AS dist
         |FROM embeddings WHERE vec_id <> 0
         |  AND round(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQvec), 6) <= 0.8
         |ORDER BY dist, vec_id""".stripMargin,
    // base ∪ folded twins, ranked exactly: twin 9000 (same vector as the
    // query row) must sit at rank 1 with dist 0 — a fold that lost the
    // delta, double-inserted it, or corrupted a folded shard's graph
    // hash-mismatches here
    "ann_tier_fold" ->
      s"""WITH uni AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 9000 AS vec_id, embedding FROM embeddings WHERE vec_id < 3
         |)
         |SELECT vec_id, round(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQvec), 6) AS dist
         |FROM uni WHERE vec_id <> 0 ORDER BY dist, vec_id LIMIT 10""".stripMargin,
    // the radius contract under pending freshness: delta rows (>= 400)
    // visible, tombstoned rows (% 9 == 0, incl. the query row) masked —
    // a scan that bailed to stale graph-only results, lost delta rows, or
    // resurrected deletes hash-mismatches here
    "knn_range_sql_fresh" ->
      s"""SELECT vec_id, round(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQvec), 6) AS dist
         |FROM embeddings WHERE vec_id <> 0 AND vec_id % 9 <> 0
         |  AND round(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQvec), 6) <= 0.8
         |ORDER BY dist, vec_id""".stripMargin,
    // identical retrieval contract as knn_range_cosine, reached through the
    // SQL planner's Filter rewrite instead of the API
    "knn_range_sql" ->
      s"""SELECT vec_id, round(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQvec), 6) AS dist
         |FROM embeddings WHERE vec_id <> 0
         |  AND round(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQvec), 6) <= 0.8
         |ORDER BY dist, vec_id""".stripMargin,
    // union replays the delta twin of the query vector (row 9000, dist 0):
    // the fresh distributed path must surface it at rank 1
    "knn_ann_many_shards" ->
      s"""WITH uni AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500
         |  UNION ALL
         |  SELECT vec_id + 9000 AS vec_id, embedding FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, round(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQvec), 6) AS dist
         |FROM uni WHERE vec_id <> 0 ORDER BY dist, vec_id LIMIT 10""".stripMargin,
    "knn_ann_labeled" ->
      s"""SELECT vec_id, round(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQvec), 6) AS dist
         |FROM embeddings WHERE vec_id <> 0 AND label IN (1, 3) ORDER BY dist, vec_id LIMIT 10""".stripMargin,
    "knn_ann_ip" ->
      s"""SELECT vec_id, round(-list_dot_product(CAST(embedding AS DOUBLE[]), $oracleQvec), 6) AS dist
         |FROM embeddings WHERE vec_id <> 0 ORDER BY dist, vec_id LIMIT 10""".stripMargin,
    "knn_ann_l2_plain" ->
      s"""SELECT vec_id, round(list_distance(CAST(embedding AS DOUBLE[]), $oracleQvec), 6) AS dist
         |FROM embeddings WHERE vec_id <> 0 ORDER BY dist, vec_id LIMIT 10""".stripMargin,
    "knn_ann_matryoshka" ->
      s"""SELECT vec_id, round(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQvec), 6) AS dist
         |FROM embeddings WHERE vec_id <> 0 ORDER BY dist, vec_id LIMIT 10""".stripMargin,
    "ann_delete" ->
      s"""SELECT vec_id, round(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQvec), 6) AS dist
         |FROM embeddings WHERE vec_id % 7 <> 0 ORDER BY dist, vec_id LIMIT 10""".stripMargin,
    "ann_insert_delta" ->
      s"""SELECT vec_id, round(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQvec), 6) AS dist
         |FROM embeddings WHERE vec_id <> 0 ORDER BY dist, vec_id LIMIT 10""".stripMargin,
    // sound pruning means the multi-shard IVF radius answer is EXACTLY the
    // unpruned exact answer — the oracle needs no routing replay at all
    "knn_range_ivf" ->
      s"""SELECT vec_id, round(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQvec), 6) AS dist
         |FROM embeddings WHERE vec_id <> 0
         |  AND round(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQvec), 6) <= 0.8
         |ORDER BY dist, vec_id""".stripMargin,
    "knn_range_labeled" ->
      s"""SELECT vec_id, round(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQvec), 6) AS dist
         |FROM embeddings WHERE vec_id <> 0 AND label IN (1, 3)
         |  AND round(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQvec), 6) <= 0.8
         |ORDER BY dist, vec_id""".stripMargin,
    // every (query, in-radius row) pair, exactly — a shard whose local
    // escalation stopped early, a dropped query fan-out row, or a sharding
    // duplicate all hash-mismatch here
    "knn_range_batch" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 4)
        |SELECT q.qid, e.vec_id,
        |  round(1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS dist
        |FROM q CROSS JOIN embeddings e
        |WHERE e.vec_id <> q.qid
        |  AND round(1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) <= 0.8
        |ORDER BY qid, dist, vec_id""".stripMargin,
    // the labeled twin: the kernel's qlabels overlap filter against the
    // indexed label sets must equal a plain label IN (...) predicate
    "knn_range_batch_labeled" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 4)
        |SELECT q.qid, e.vec_id,
        |  round(1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS dist
        |FROM q CROSS JOIN embeddings e
        |WHERE e.vec_id <> q.qid
        |  AND e.label IN (1, 3)
        |  AND round(1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) <= 0.8
        |ORDER BY qid, dist, vec_id""".stripMargin,
    "knn_ann_batch" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 8),
        |d AS (SELECT q.qid, e.vec_id,
        |        round(1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS dist
        |      FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.qid),
        |r AS (SELECT qid, vec_id, dist,
        |        row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn FROM d)
        |SELECT qid, vec_id, dist FROM r WHERE rn <= 5
        |ORDER BY qid, dist, vec_id""".stripMargin,

    // shared PageRank / label-prop kernels (ONE definition each, in
    // PipelineQueries) over the dumped index edge list
    "graph_pagerank_index" ->
      s"""WITH RECURSIVE
         |${PipelineQueries.sqlPageRank(sqlIndexEdges)}
         |SELECT CAST(t.w.id AS BIGINT) AS vec_id, round(t.w.r, 9) AS pagerank
         |FROM (SELECT ranks FROM pr WHERE iter = 3) f, unnest(f.ranks) AS t(w)
         |ORDER BY pagerank DESC, vec_id LIMIT 25""".stripMargin,
    "label_propagation_index" ->
      PipelineQueries.sqlLabelPropQuery(sqlIndexEdges),
    "authority_curate_index" ->
      PipelineQueries.sqlAuthorityCurateQuery(sqlIndexEdges),
    "index_in_degree" ->
      s"""WITH $sqlIndexEdges,
         |deg AS (SELECT dst, count(*) AS in_deg FROM edges GROUP BY dst)
         |SELECT in_deg, count(*) AS n_nodes FROM deg
         |GROUP BY in_deg ORDER BY in_deg""".stripMargin,
    "neardup_index_pairs" ->
      s"""WITH $sqlIndexEdges,
         |p AS (SELECT src, dst FROM edges WHERE src < dst),
         |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings)
         |SELECT p.src, p.dst,
         |  round(1.0 - list_cosine_similarity(a.dv, b.dv), 6) AS dist
         |FROM p JOIN v a ON a.vec_id = p.src JOIN v b ON b.vec_id = p.dst
         |ORDER BY dist, src, dst LIMIT 20""".stripMargin,
  )
}
