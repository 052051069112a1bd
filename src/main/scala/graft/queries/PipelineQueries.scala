package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Curation, Dedup, GraphOps, Multimodal, Similarity, Sketches, TextAnalysis, TextIndex}
import graft.functions.VectorFunctions

/**
 * Training-data pipeline queries over the `documents` and `embeddings`
 * tables: deduplication (exact, MinHash-LSH, SimHash, n-gram Jaccard,
 * embedding cosine), text analysis (language ID, quality, token counts,
 * fingerprints), similarity search (exact pairs, IVF), and multimodal
 * metadata extraction.
 */
object PipelineQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    graft.sources.TableResolver.parquet(spark, s"$dir/documents.parquet")

  /** Deterministic messy-URL fixture for the url_normalize/url_dedup
    * oracles: six variant families keyed by doc_id%6 over forty page ids.
    * The page id is doc_id DIV 6 (mod 40) — COPRIME to the family key, so
    * consecutive doc_ids 6k..6k+5 all carry page id k%40 and the paired
    * families {0,1}, {2,3}, {4,5} genuinely share page ids: the dedup
    * oracle really does test two DIFFERENT raw variants collapsing to one
    * canonical key (a doc_id%40 page id preserves parity and the pairs
    * would never meet). The same construction runs in the DuckDB oracle;
    * the EXPECTED canonicals there are hand-derived per family. */
  private def syntheticUrls(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).selectExpr("doc_id",
      """CASE CAST(pmod(doc_id, 6) AS INT)
        |  WHEN 0 THEN concat('HTTP://Example.COM/page/', pmod(doc_id div 6, 40))
        |  WHEN 1 THEN concat('http://example.com:80/page/', pmod(doc_id div 6, 40), '#section2')
        |  WHEN 2 THEN concat('https://example.com/page/', pmod(doc_id div 6, 40), '?b=2&a=1&gclid=XYZ')
        |  WHEN 3 THEN concat('https://example.com/page/', pmod(doc_id div 6, 40), '?a=1&fbclid=J&b=2')
        |  WHEN 4 THEN concat('http://site', pmod(doc_id div 6, 40), '.Example.com/')
        |  ELSE concat('http://SITE', pmod(doc_id div 6, 40), '.example.COM')
        |END AS url""".stripMargin)
  private def emb(spark: SparkSession, dir: String): DataFrame =
    graft.sources.TableResolver.parquet(spark, s"$dir/embeddings.parquet")

  /** Deterministic per-sf text-index location, fingerprinted on the source
    * table's file listing — same staleness defense as
    * VectorQueries.postingsPath (a regenerated documents.parquet lands on a
    * fresh path instead of silently serving the stale index). */
  private def textIndexPath(spark: SparkSession, dir: String): String = {
    val src = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val listing = graft.FingerprintMemo.listingFingerprint(
      src.getFileSystem(spark.sessionState.newHadoopConf()), src, sep = "#")
    val fp = java.security.MessageDigest.getInstance("MD5")
      .digest(listing.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    // "textidx2": build params are part of the cache key (round 7 added
    // positions=true — a stale positionless artifact must not be served)
    s"/tmp/graft_index/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/textidx2_$fp"
  }
  private val textIndexLock = new Object

  /** One query's TextIndex-discipline BM25 replay (per-term round + decimal
    * sum) as a self-contained subquery, for arbitrary term-bag arity —
    * generated, so the bm25_batch oracle cannot drift from the kernel. */
  private def sqlBm25DecimalSub(qid: Long, terms: Seq[String],
      limit: Int): String = {
    val tfs = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(w, x -> x = '$t')) AS tf$i" }.mkString(",\n        ")
    val dfs = terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i")
      .mkString(",\n         ")
    val scores = terms.indices.map { i =>
      s"""CAST(round(ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5)) * CAST(tf$i AS DOUBLE) * (1.2 + 1.0)
         |      / (CAST(tf$i AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n))), 6) AS DECIMAL(20,6))"""
        .stripMargin
    }.mkString("\n  + ")
    s"""(WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
       |f AS (SELECT doc_id, len(w) AS dl,
       |        $tfs
       |      FROM t),
       |st AS (SELECT count(*) AS n, sum(dl) AS sumdl,
       |         $dfs
       |       FROM f),
       |sc AS (SELECT doc_id, $scores AS bm25d FROM f CROSS JOIN st)
       |SELECT $qid AS qid, doc_id AS id, CAST(bm25d AS DOUBLE) AS bm25
       |FROM sc WHERE bm25d > 0 ORDER BY bm25 DESC, doc_id LIMIT $limit)"""
      .stripMargin
  }

  /** The fixed query batch bm25_batch serves (Spark) and replays (oracle). */
  private[queries] val bm25BatchQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("vector", "query", "dup"),
    1L -> Seq("table", "hash", "join"),
    2L -> Seq("big", "data"))

  /** Oracle for hybrid_rrf_stored (query lives in AnnQueries, SQL here so
    * it can share `sqlTokens`): the bm25_indexed decimal-sum CTEs feed the
    * text leg, the exact-cosine top-50 feeds the vector leg (the widened
    * graph search is exhaustive at verification scale), fused with the
    * standard RRF combiner in the Spark side's operand order. */
  private[queries] lazy val sqlHybridStoredOracle: String =
    s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
       |f AS (SELECT doc_id, len(w) AS dl,
       |        len(list_filter(w, x -> x = 'vector')) AS tf0,
       |        len(list_filter(w, x -> x = 'query')) AS tf1,
       |        len(list_filter(w, x -> x = 'dup')) AS tf2
       |      FROM t),
       |st AS (SELECT count(*) AS n, sum(dl) AS sumdl,
       |         sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
       |         sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
       |         sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
       |       FROM f),
       |sc AS (SELECT doc_id,
       |    CAST(round(ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * CAST(tf0 AS DOUBLE) * (1.2 + 1.0)
       |      / (CAST(tf0 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n))), 6) AS DECIMAL(20,6))
       |  + CAST(round(ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * CAST(tf1 AS DOUBLE) * (1.2 + 1.0)
       |      / (CAST(tf1 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n))), 6) AS DECIMAL(20,6))
       |  + CAST(round(ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * CAST(tf2 AS DOUBLE) * (1.2 + 1.0)
       |      / (CAST(tf2 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n))), 6) AS DECIMAL(20,6))
       |  AS bm25d
       |  FROM f CROSS JOIN st),
       |btop AS (SELECT doc_id AS id, CAST(bm25d AS DOUBLE) AS bscore FROM sc
       |  WHERE bm25d > 0 ORDER BY bscore DESC, id LIMIT 50),
       |br AS (SELECT id, row_number() OVER (ORDER BY bscore DESC, id) AS rb FROM btop),
       |vtop AS (SELECT vec_id AS id,
       |    round(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]),
       |      (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS vdist
       |  FROM embeddings WHERE vec_id <> 0 ORDER BY vdist, id LIMIT 50),
       |vr AS (SELECT id, row_number() OVER (ORDER BY vdist, id) AS rv FROM vtop)
       |SELECT coalesce(vr.id, br.id) AS id,
       |  round(coalesce(1.0 / (60 + rv), 0) + coalesce(1.0 / (60 + rb), 0), 6) AS rrf
       |FROM vr FULL OUTER JOIN br ON vr.id = br.id
       |ORDER BY rrf DESC, id LIMIT 20""".stripMargin

  /** Build-once handle to the per-sf stored dedup index over the standing
    * corpus (the doc_id % 23 != 0 slice — dedup_incremental's split). */
  private[queries] def ensureDedupIndex(s: SparkSession, d: String): String = {
    val path = textIndexPath(s, d).replace("/textidx2_", "/dedupidx_")
    textIndexLock.synchronized {
      if (!new java.io.File(s"$path/idxmeta/_SUCCESS").exists()) {
        Dedup.buildDedupIndex(docs(s, d).filter(col("doc_id") % 23 =!= 0),
          "doc_id", "text", path)
        graft.CacheScope.releaseAll() // drop the build's signature persist
      }
    }
    path
  }

  /** Build-once handle to a TIER-FOLDED dedup index over the same standing
    * corpus as [[ensureDedupIndex]] (doc_id % 23 != 0): base build (evens),
    * two appended batches (odd halves), then the LSM-style tier fold —
    * probes must see the union view exactly. */
  private[queries] def ensureDedupTierIndex(s: SparkSession, d: String): String = {
    val path = textIndexPath(s, d).replace("/textidx2_", "/deduptieridx_")
    textIndexLock.synchronized {
      if (!new java.io.File(s"$path/versions").exists()) {
        val corpus = docs(s, d).filter(col("doc_id") % 23 =!= 0)
        if (!new java.io.File(s"$path/idxmeta/_SUCCESS").exists()) {
          Dedup.buildDedupIndex(corpus.filter(col("doc_id") % 2 === 0),
            "doc_id", "text", path)
          graft.CacheScope.releaseAll()
        }
        Dedup.appendDedupIndex(
          corpus.filter(col("doc_id") % 2 === 1 && col("doc_id") % 3 === 0),
          path, "doc_id", "text", 1L)
        graft.CacheScope.releaseAll()
        Dedup.appendDedupIndex(
          corpus.filter(col("doc_id") % 2 === 1 && col("doc_id") % 3 =!= 0),
          path, "doc_id", "text", 2L)
        graft.CacheScope.releaseAll()
        require(Dedup.compactDedupIndex(s, path, tiered = true),
          "dedup tier fold unexpectedly a no-op")
      }
    }
    path
  }

  /** Build-once handle to a text index with a PENDING delete set (doc_id %
    * 7 == 3 tombstoned, never compacted) — the serve-time-mask fixture for
    * bm25_after_delete: corpus stats still count the deleted docs, their
    * rows are masked. */
  private[queries] def ensureTextDelIndex(s: SparkSession, d: String): String = {
    val path = textIndexPath(s, d).replace("/textidx2_", "/textdelidx_")
    textIndexLock.synchronized {
      if (!new java.io.File(s"$path/corpusstats/_SUCCESS").exists())
        TextIndex.buildTextIndex(docs(s, d), "doc_id", "text", path)
      if (graft.index.DiskannIndex.loadTombstones(s, path).isEmpty)
        TextIndex.deleteDocs(s, path, docs(s, d)
          .filter(col("doc_id") % 7 === 3)
          .select(col("doc_id")).collect().map(_.getLong(0)))
    }
    path
  }

  /** Build-once handle to a text index whose delete set has been VACUUMed
    * (tombstone → compact): the folded artifact serves REDUCED corpus stats
    * — the bm25_after_vacuum fixture. */
  private[queries] def ensureTextVacIndex(s: SparkSession, d: String): String = {
    val path = textIndexPath(s, d).replace("/textidx2_", "/textvacidx_")
    textIndexLock.synchronized {
      if (!new java.io.File(s"$path/versions").exists()) {
        if (!new java.io.File(s"$path/corpusstats/_SUCCESS").exists())
          TextIndex.buildTextIndex(docs(s, d), "doc_id", "text", path)
        if (graft.index.DiskannIndex.loadTombstones(s, path).isEmpty)
          TextIndex.deleteDocs(s, path, docs(s, d)
            .filter(col("doc_id") % 7 === 3)
            .select(col("doc_id")).collect().map(_.getLong(0)))
        TextIndex.compactTextIndex(s, path)
      }
    }
    path
  }

  /** Build-once handle to a TIER-FOLDED text index over the full corpus:
    * base build (60%), two appends (20% each), then the LSM-style tiered
    * compaction — the generation REFERENCES the base through tiermeta and
    * holds only the folded tier locally. Serving must equal a full build. */
  private[queries] def ensureTextTierIndex(s: SparkSession, d: String): String = {
    val path = textIndexPath(s, d).replace("/textidx2_", "/texttieridx_")
    textIndexLock.synchronized {
      if (!new java.io.File(s"$path/versions").exists()) {
        if (!new java.io.File(s"$path/corpusstats/_SUCCESS").exists())
          TextIndex.buildTextIndex(docs(s, d).filter(col("doc_id") % 5 < 3),
            "doc_id", "text", path)
        TextIndex.appendTextIndex(docs(s, d).filter(col("doc_id") % 5 === 3),
          "doc_id", "text", path, batchId = 1L)
        TextIndex.appendTextIndex(docs(s, d).filter(col("doc_id") % 5 === 4),
          "doc_id", "text", path, batchId = 2L)
        require(TextIndex.compactTextIndex(s, path, tiered = true),
          "tier fold unexpectedly a no-op")
      }
    }
    path
  }

  /** Build-once handle to a dedup index with a PENDING delete set: the
    * standing corpus (doc_id % 23 != 0) minus takedowns (doc_id % 5 == 1,
    * tombstoned, never compacted) — probes must mask them. */
  private[queries] def ensureDedupDelIndex(s: SparkSession, d: String): String = {
    val path = textIndexPath(s, d).replace("/textidx2_", "/dedupdelidx_")
    textIndexLock.synchronized {
      if (!new java.io.File(s"$path/idxmeta/_SUCCESS").exists()) {
        Dedup.buildDedupIndex(docs(s, d).filter(col("doc_id") % 23 =!= 0),
          "doc_id", "text", path)
        graft.CacheScope.releaseAll()
      }
      if (graft.index.DiskannIndex.loadTombstones(s, path).isEmpty)
        Dedup.deleteFromDedupIndex(s, path, docs(s, d)
          .filter(col("doc_id") % 23 =!= 0 && col("doc_id") % 5 === 1)
          .select(col("doc_id")).collect().map(_.getLong(0)))
    }
    path
  }

  /** Build-once handle to the per-sf CHUNK-grained text index (the RAG
    * unit: sliding 200-char windows, stride 150 — the verified
    * chunk_sliding kernel feeding the verified TextIndex build). */
  private[queries] def ensureChunkIndex(s: SparkSession, d: String): String = {
    // Cache key bakes in the CHUNKING PARAMS + index layout generation, the
    // same discipline as textidx2_: a mid-round change to the chunk
    // definition (size/stride/id scheme) or the TextIndex layout lands on a
    // fresh path instead of silently serving a stale artifact to the
    // correctness gate (the round-8 rag_context_pack red row was this
    // staleness class — the fp covered only the SOURCE listing).
    val path = textIndexPath(s, d).replace("/textidx2_",
      s"/chunkidx_v2_cs${ChunkSize}_st${ChunkStride}_")
    textIndexLock.synchronized {
      if (!new java.io.File(s"$path/corpusstats/_SUCCESS").exists() ||
          !new java.io.File(s"$path/idxmeta/_SUCCESS").exists()) {
        TextIndex.buildTextIndex(ragChunks(s, d), "chunk_id", "chunk_text",
          path)
      }
    }
    path
  }

  // The RAG chunking unit — ONE definition feeds both the stored chunk
  // index build and the rag_context_pack text join, so they cannot drift.
  private[queries] val ChunkSize = 200
  private[queries] val ChunkStride = 150
  private[queries] def ragChunks(s: SparkSession, d: String): DataFrame =
    ragChunksOf(docs(s, d))

  /** The same chunk definition over an arbitrary (doc_id, text) frame —
    * rag_context_pack re-chunks just the top list's docs through this, so
    * the pruned recompute cannot drift from the index build's chunking. */
  private[queries] def ragChunksOf(df: DataFrame): DataFrame =
    TextAnalysis.slidingChunks(df, "doc_id", "text",
        chunkSize = ChunkSize, stride = ChunkStride)
      .select((col("id") * lit(100000L) + col("chunk_ix")).as("chunk_id"),
        col("chunk_text"))

  /** Build-once handle to the per-sf stored text index (shared by
    * bm25_indexed here and hybrid_rrf_stored in AnnQueries). */
  private[queries] def ensureTextIndex(s: SparkSession, d: String): String = {
    val path = textIndexPath(s, d)
    textIndexLock.synchronized {
      // idxmeta checked too: an artifact cached before the meta file
      // existed must rebuild, not serve a layout the readers half-know
      if (!new java.io.File(s"$path/corpusstats/_SUCCESS").exists() ||
          !new java.io.File(s"$path/idxmeta/_SUCCESS").exists()) {
        // positional build: one artifact serves both BM25 (never reads the
        // pos column) and phrase_search
        TextIndex.buildTextIndex(docs(s, d), "doc_id", "text", path,
          positions = true)
      }
    }
    path
  }

  /** Full-corpus indexed-BM25 replay (TextIndex summation discipline):
    * shared by bm25_indexed and bm25_tier_fold — the tier fold must be
    * semantically invisible, so both serve the same oracle. */
  private lazy val sqlBm25IndexedFullCorpus: String =
    s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
       |f AS (SELECT doc_id, len(w) AS dl,
       |        len(list_filter(w, x -> x = 'vector')) AS tf0,
       |        len(list_filter(w, x -> x = 'query')) AS tf1,
       |        len(list_filter(w, x -> x = 'dup')) AS tf2
       |      FROM t),
       |st AS (SELECT count(*) AS n, sum(dl) AS sumdl,
       |         sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
       |         sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
       |         sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
       |       FROM f),
       |sc AS (SELECT doc_id,
       |    CAST(round(ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * CAST(tf0 AS DOUBLE) * (1.2 + 1.0)
       |      / (CAST(tf0 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n))), 6) AS DECIMAL(20,6))
       |  + CAST(round(ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * CAST(tf1 AS DOUBLE) * (1.2 + 1.0)
       |      / (CAST(tf1 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n))), 6) AS DECIMAL(20,6))
       |  + CAST(round(ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * CAST(tf2 AS DOUBLE) * (1.2 + 1.0)
       |      / (CAST(tf2 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n))), 6) AS DECIMAL(20,6))
       |  AS bm25d
       |  FROM f CROSS JOIN st)
       |SELECT doc_id, CAST(bm25d AS DOUBLE) AS bm25 FROM sc WHERE bm25d > 0
       |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin

  /** Exact-Jaccard probe replay (batch %23==0 vs standing corpus %23!=0):
    * shared by dedup_incremental_index and dedup_tier_probe — the tier
    * fold must be semantically invisible. */
  private lazy val sqlDedupProbeOracle: String =
    s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
       |g AS (SELECT doc_id, ${sqlShingles("w")} AS sh FROM t),
       |b AS (SELECT doc_id, sh FROM g WHERE doc_id % 23 = 0),
       |c AS (SELECT doc_id, sh FROM g WHERE doc_id % 23 <> 0)
       |SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
       |       round(CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE) /
       |             len(list_distinct(list_concat(b.sh, c.sh))), 6) AS jaccard
       |FROM b JOIN c ON CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE) /
       |                 len(list_distinct(list_concat(b.sh, c.sh))) >= 0.8
       |ORDER BY batch_id, corpus_id""".stripMargin

  // DuckDB equivalents of TextAnalysis.tokens / Dedup.shingles — kept in one
  // place so the Spark and oracle definitions cannot drift apart.
  private val sqlTokens =
    """list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')"""
  private def sqlShingles(w: String) =
    s"""list_distinct(CASE WHEN len($w) >= 3
       |  THEN [$w[i] || ' ' || $w[i+1] || ' ' || $w[i+2] for i in range(1, len($w) - 1)]
       |  ELSE [array_to_string($w, ' ')] END)""".stripMargin

  // DuckDB replay of Similarity.knnGraph's exact 5-NN cosine edge list: per
  // src the 5 smallest (round(dist,6), dst) over all OTHERS — the knnGraph
  // kernel's exact definition. Ends in an `edges(src, dst)` CTE.
  private[queries] val sqlKnnEdges =
    """ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |pairs AS (SELECT a.vec_id AS src, b.vec_id AS dst,
      |    round(1.0 -
      |      list_reduce([a.v[i] * b.v[i] for i in range(1, 65)], (x, y) -> x + y) /
      |      sqrt(list_reduce([a.v[i] * a.v[i] for i in range(1, 65)], (x, y) -> x + y) *
      |           list_reduce([b.v[i] * b.v[i] for i in range(1, 65)], (x, y) -> x + y)), 6)
      |      AS dist
      |  FROM ev a CROSS JOIN ev b WHERE a.vec_id <> b.vec_id),
      |edges AS (SELECT src, dst FROM (
      |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rnk
      |    FROM pairs) WHERE rnk <= 5)""".stripMargin

  // ONE definition of the fixed-point PageRank recursion (GraphOps.pageRank's
  // exact arithmetic: floor(x*2^40+0.5) quantized contributions, dangling
  // mass redistributed uniformly) over whatever `edges(src, dst)` CTE chain
  // `edgesCtes` supplies. Shared by graph_pagerank / authority_curate /
  // graph_pagerank_index so the kernel cannot drift between oracles. The
  // caller's query must start `WITH RECURSIVE` and read the final rank list
  // from `pr WHERE iter = <nIter>`.
  private[queries] def sqlPageRank(edgesCtes: String, nIter: Int = 3): String =
    s"""$edgesCtes,
       |-- subquery union, NOT a top-level CTE UNION: under WITH RECURSIVE
       |-- DuckDB gives every top-level CTE set-op recursive (no-dedup)
       |-- semantics, which silently duplicated shared node ids
       |nodes AS (SELECT DISTINCT id FROM
       |    (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
       |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |pr AS (
       |  SELECT 0 AS iter,
       |    (SELECT list(struct_pack(id := id, r := 1.0 / (SELECT n FROM nn)) ORDER BY id)
       |     FROM nodes) AS ranks
       |  UNION ALL
       |  SELECT iter + 1, nl.ranks
       |  FROM pr, LATERAL (
       |    SELECT list(struct_pack(id := nd.id,
       |        r := (1.0 - 0.85) / nn.n
       |          + 0.85 * (CAST(coalesce(agg.s, 0) AS DOUBLE) / 1099511627776.0)
       |          + 0.85 * (CAST(dang.dq AS DOUBLE) / 1099511627776.0) / nn.n)
       |      ORDER BY nd.id) AS ranks
       |    FROM nodes nd CROSS JOIN nn
       |    LEFT JOIN (
       |      SELECT e.dst AS id,
       |        sum(CAST(floor(t.w.r * 1099511627776.0 / dg.outdeg + 0.5) AS BIGINT)) AS s
       |      FROM unnest(pr.ranks) AS t(w)
       |      JOIN edges e ON e.src = t.w.id
       |      JOIN deg dg ON dg.src = e.src
       |      GROUP BY e.dst) agg ON agg.id = nd.id
       |    CROSS JOIN (
       |      SELECT coalesce(sum(CAST(floor(t.w.r * 1099511627776.0 + 0.5) AS BIGINT)), 0) AS dq
       |      FROM unnest(pr.ranks) AS t(w)
       |      WHERE t.w.id NOT IN (SELECT src FROM deg)) dang) nl
       |  WHERE iter < $nIter)""".stripMargin

  // ONE definition of the 2-round majority-vote label propagation replay
  // (GraphOps.labelPropagate's exact semantics: seeds immutable, majority
  // over out-neighbors, ties to smallest label) over whatever
  // `edges(src, dst)` CTE chain is supplied — a COMPLETE query, shared by
  // label_propagation / label_propagation_index.
  private[queries] def sqlLabelPropQuery(edgesCtes: String): String =
    s"""WITH
       |$edgesCtes,
       |nodes AS (SELECT DISTINCT id FROM
       |    (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
       |seed AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS seed
       |         FROM embeddings WHERE vec_id % 10 = 0),
       |l0 AS (SELECT n.id, s.seed AS label FROM nodes n LEFT JOIN seed s USING (id)),
       |v1 AS (SELECT e.src, l.label AS nl, count(*) AS c
       |       FROM edges e JOIN l0 l ON l.id = e.dst
       |       WHERE l.label IS NOT NULL GROUP BY 1, 2),
       |b1 AS (SELECT src AS id, nl AS vote FROM (
       |         SELECT src, nl, row_number() OVER (PARTITION BY src ORDER BY c DESC, nl) AS rn
       |         FROM v1) WHERE rn = 1),
       |l1 AS (SELECT n.id, coalesce(s.seed, b.vote) AS label
       |       FROM nodes n LEFT JOIN seed s USING (id) LEFT JOIN b1 b USING (id)),
       |v2 AS (SELECT e.src, l.label AS nl, count(*) AS c
       |       FROM edges e JOIN l1 l ON l.id = e.dst
       |       WHERE l.label IS NOT NULL GROUP BY 1, 2),
       |b2 AS (SELECT src AS id, nl AS vote FROM (
       |         SELECT src, nl, row_number() OVER (PARTITION BY src ORDER BY c DESC, nl) AS rn
       |         FROM v2) WHERE rn = 1),
       |l2 AS (SELECT n.id, coalesce(s.seed, b.vote) AS label
       |       FROM nodes n LEFT JOIN seed s USING (id) LEFT JOIN b2 b USING (id))
       |SELECT l2.id AS vec_id, l2.label,
       |  CASE WHEN s.seed IS NOT NULL THEN 'seed'
       |       WHEN l2.label IS NOT NULL THEN 'propagated'
       |       ELSE 'unlabeled' END AS src_kind
       |FROM l2 LEFT JOIN seed s USING (id) ORDER BY vec_id""".stripMargin

  // ONE definition of the authority-curation replay — the PageRank
  // recursion (kept to ALL ranks) joined against the text_quality score
  // chain — a COMPLETE query over whatever `edges(src, dst)` CTE chain is
  // supplied, shared by authority_curate / authority_curate_index.
  private[queries] def sqlAuthorityCurateQuery(edgesCtes: String): String =
    s"""WITH RECURSIVE
       |${sqlPageRank(edgesCtes)},
       |prf AS (SELECT CAST(t.w.id AS BIGINT) AS doc_id, round(t.w.r, 9) AS pagerank
       |        FROM (SELECT ranks FROM pr WHERE iter = 3) f, unnest(f.ranks) AS t(w)),
       |tt AS (SELECT doc_id, text, $sqlTokens AS w FROM documents),
       |qq AS (SELECT doc_id,
       |  CASE WHEN len(w) > 0 THEN CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len(w) ELSE 0.0 END AS avg_token_len,
       |  CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS alpha_ratio,
       |  CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS digit_ratio,
       |  CASE WHEN len(w) > 0 THEN CAST(len(list_filter(w, x -> x IN ($enList))) AS DOUBLE) / len(w) ELSE 0.0 END AS stopword_ratio
       |  FROM tt),
       |sc AS (SELECT doc_id,
       |  round(alpha_ratio * 0.4 + least(stopword_ratio * 5.0, 1.0) * 0.3 +
       |        (CASE WHEN avg_token_len >= 3 AND avg_token_len <= 10 THEN 1.0 ELSE 0.0 END) * 0.2 +
       |        (1.0 - least(digit_ratio * 5.0, 1.0)) * 0.1, 6) AS quality
       |  FROM qq)
       |SELECT p.doc_id, p.pagerank, s.quality,
       |  round(p.pagerank * s.quality, 9) AS weighted_score
       |FROM prf p JOIN sc s USING (doc_id)
       |ORDER BY weighted_score DESC, doc_id LIMIT 20""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- dedup ----
    "dedup_exact" -> ((s, d) =>
      Dedup.exactDedup(docs(s, d), "doc_id", "text").orderBy(col("content_hash"))),

    // normalization-tolerant exact dedup (lowercase + whitespace collapse):
    // the C4-style pre-LSH stage, same one-shuffle shape as dedup_exact
    "dedup_normalized" -> ((s, d) =>
      Dedup.normalizedDedup(docs(s, d), "doc_id", "text")
        .orderBy(col("norm_hash"))),

    "dedup_minhash" -> ((s, d) =>
      Dedup.minhashNearDupPairs(docs(s, d), "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.8)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))),

    // per-source length percentiles (exact linear-interpolated — Spark's
    // `percentile` and DuckDB's `quantile_cont` share the definition): the
    // corpus-profiling pass a curation run starts from. One shuffle.
    "doc_len_percentiles" -> ((s, d) =>
      docs(s, d).groupBy(col("source"))
        .agg(
          round(expr("percentile(n_chars, 0.25)"), 4).as("p25"),
          round(expr("percentile(n_chars, 0.5)"), 4).as("p50"),
          round(expr("percentile(n_chars, 0.75)"), 4).as("p75"),
          round(expr("percentile(n_chars, 0.9)"), 4).as("p90"))
        .orderBy(col("source"))),

    // ROLLUP(source, lang) — subtotal rows materialize in ONE aggregation
    // pass (Catalyst Expand), not one query per level; NULL markers
    // coalesced so cross-engine ordering is total
    "corpus_rollup" -> ((s, d) =>
      docs(s, d).rollup(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .select(coalesce(col("source"), lit("ALL")).as("source"),
          coalesce(col("lang"), lit("ALL")).as("lang"),
          col("n_docs"), col("total_chars"))
        .orderBy(col("source"), col("lang"))),

    // RAG-ingestion sliding-window chunking: 200-char windows every 150
    // chars (50-char overlap), map-side generators only — the stage that
    // feeds embedding/BM25 indexing. Chunk text itself stays out of the
    // result (hash + offsets only) so the verified surface is compact.
    "chunk_sliding" -> ((s, d) =>
      TextAnalysis.slidingChunks(docs(s, d), "doc_id", "text",
          chunkSize = 200, stride = 150)
        .select(col("id").as("doc_id"), col("chunk_ix"), col("chunk_start"),
          col("chunk_len").cast("long").as("chunk_len"), col("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_start"))),

    // C4-style chunk ("paragraph") dedup: per doc, how much survives
    // global first-occurrence dedup of 15-token chunks
    "dedup_chunks" -> ((s, d) =>
      Dedup.chunkDedup(docs(s, d), "doc_id", "text", chunkTokens = 15)
        .select(col("id").as("doc_id"), col("n_chunks"), col("n_kept"),
          col("kept_tokens"))
        .orderBy(col("doc_id"))),

    // RefinedWeb-style occurrence-weighted duplicated-5-gram fraction
    "dup_ngram_coverage" -> ((s, d) =>
      Dedup.dupNgramCoverage(docs(s, d), "doc_id", "text", n = 5)
        .select(col("id").as("doc_id"), col("n_grams"), col("n_dup_grams"),
          col("dup_ngram_frac"))
        .orderBy(col("doc_id"))),

    // md5-based 60-bit simhash: bands are recall-lossless at maxHamming=3
    // (pigeonhole), so the result is exactly "every pair at distance <= 3"
    // and DuckDB can recompute it from md5() alone (hash-matched oracle).
    "dedup_simhash" -> ((s, d) =>
      Dedup.simhashNearDupPairs(docs(s, d), "doc_id", "text", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))),

    // exact n-gram Jaccard, top-20 most similar pairs. Candidates come from
    // the MinHash-LSH bucket join (the 100 TB-safe path — a brute-force pair
    // join is quadratic and already took minutes at sf0.1); the top-20 all
    // sit at jaccard >= 0.9 where 16x4-band LSH recall is ~1-1e-7, so the
    // result still matches the brute-force oracle exactly.
    "ngram_jaccard_top" -> ((s, d) =>
      Dedup.minhashNearDupPairs(docs(s, d), "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.0)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
        .limit(20)),

    // cross-source domain shift: every source's bigram stream scored under
    // every source's add-one bigram LM — off-diagonal minus diagonal is
    // the transfer/mixture-weighting distance. Count tables are per-source
    // type aggregates; the matrix joins types, never corpus tokens.
    "source_lm_matrix" -> ((s, d) =>
      TextAnalysis.crossSourceLmMatrix(docs(s, d), "text", "source")),

    // MinHash estimator calibration: exact Jaccard vs the 16-permutation
    // signature estimate on every verified near-dup pair — "how many
    // permutations does this corpus need", measured not assumed. The md5
    // permutation hashes make the estimate engine-replayable.
    "minhash_est_audit" -> ((s, d) =>
      Dedup.minhashEstimateAudit(docs(s, d), "doc_id", "text",
          numPerms = 16, threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))),

    // substring-level dedup signal: per doc, the fraction of its distinct
    // 8-token spans that occur in at least one other document (one shuffle
    // of span-hash partials — exact-dedup cost class, never pairwise)
    "dup_spans" -> ((s, d) =>
      Dedup.dupSpanStats(docs(s, d), "doc_id", "text", spanTokens = 8)
        .select(col("id").as("doc_id"), col("n_spans"), col("n_dup_spans"),
          col("dup_span_ratio"))
        .orderBy(col("doc_id"))),

    // asymmetric containment ranking (quote/inclusion detection): top-20
    // pairs by max-direction n-gram containment, LSH candidates + exact
    // verify — the signal Jaccard washes out when document sizes differ.
    // Oracle equivalence rests on the same property as ngram_jaccard_top:
    // this corpus's top-containment pairs are near-identical docs (jaccard
    // >= 0.8, LSH recall ~1-1e-7). A corpus with a tiny-quote-in-huge-doc
    // pair would rank it in the brute oracle but miss it in LSH — the
    // operator's own documented miss case; route such corpora through
    // dup_spans (exact by construction)
    "containment_top" -> ((s, d) =>
      Dedup.containmentTopPairs(docs(s, d), "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16, topK = 20)),

    // corpus forensics: which sources mirror each other — near-dup pairs
    // (verified jaccard >= 0.8) bucketed by unordered source pair
    "dup_source_matrix" -> ((s, d) =>
      Dedup.dupSourceMatrix(docs(s, d), "doc_id", "text", "source",
        threshold = 0.8)
        .orderBy(col("source_a"), col("source_b"))),

    // incremental dedup: the doc_id % 23 == 0 slice plays today's crawl
    // batch, the rest is the standing corpus; only batch x corpus pairs are
    // generated (broadcast batch bands probe the corpus band table)
    "dedup_incremental" -> ((s, d) => {
      val all = docs(s, d)
      Dedup.minhashNearDupAgainst(
        all.filter(col("doc_id") % 23 =!= 0),
        all.filter(col("doc_id") % 23 === 0),
        "doc_id", "text", shingleSize = 3, numHashes = 64, bands = 16,
        threshold = 0.8)
        .select(col("batch_id"), col("corpus_id"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("batch_id"), col("corpus_id"))
    }),

    // The same check served from the STORED dedup index: the corpus's band
    // and shingle tables are prebuilt (ensureDedupIndex), so the call
    // re-shingles only the batch — identical output to dedup_incremental
    // (same oracle), corpus never rescanned as text.
    "dedup_incremental_index" -> ((s, d) => {
      val all = docs(s, d)
      Dedup.nearDupAgainstDedupIndex(s, ensureDedupIndex(s, d),
          all.filter(col("doc_id") % 23 === 0), "doc_id", "text",
          threshold = 0.8)
        .select(col("batch_id"), col("corpus_id"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("batch_id"), col("corpus_id"))
    }),

    // The SAME probe against a TIER-FOLDED dedup index (base + two appended
    // batches collapsed into a tier referencing the base): tiering is a
    // storage-layout decision, so the pairs must be identical — shared
    // oracle with dedup_incremental_index by construction.
    "dedup_tier_probe" -> ((s, d) => {
      val all = docs(s, d)
      Dedup.nearDupAgainstDedupIndex(s, ensureDedupTierIndex(s, d),
          all.filter(col("doc_id") % 23 === 0), "doc_id", "text",
          threshold = 0.8)
        .select(col("batch_id"), col("corpus_id"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("batch_id"), col("corpus_id"))
    }),

    // ---- text analysis ----
    "lang_id" -> ((s, d) => {
      TextAnalysis.register(s)
      // one text_stats kernel scan per row feeds the shared argmax CASE —
      // the tokens + five interpreted stopword filters the staged form
      // paid are gone; the staged "__h" alias keeps the kernel at one run
      docs(s, d)
        .select(col("doc_id"),
          TextAnalysis.stopHitsFast(col("text")).as("__h"))
        .select(col("doc_id"), TextAnalysis.langIdFromCounts(
          TextAnalysis.langOrder.indices.map(i => col("__h").getItem(i))).as("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    // language-ID confusion matrix vs the stored lang column — the accuracy
    // report a pipeline watches when tuning the classifier; one map-side
    // prediction pass + one tiny (lang, pred) aggregation
    "lang_confusion" -> ((s, d) => {
      TextAnalysis.register(s)
      docs(s, d)
        // same kernel staging as lang_id (one text_stats scan per row)
        .select(col("lang"), TextAnalysis.stopHitsFast(col("text")).as("__h"))
        .select(col("lang"), TextAnalysis.langIdFromCounts(
          TextAnalysis.langOrder.indices.map(i => col("__h").getItem(i))).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("lang_pred"))
    }),

    // the 9-profile classifier pinned on in-code fixture texts — one per
    // profile (incl. the round-15 pt/it/nl/ru additions), an unknown, and
    // a deliberate es/pt TIE (earlier profile must win). The sf documents
    // table has no text in the new languages, so this is the row that
    // proves the added profiles classify, not just compile.
    "lang_id_multi" -> ((s, d) => {
      TextAnalysis.register(s)
      s.createDataFrame(langFixture).toDF("doc_id", "text")
        .select(col("doc_id"), TextAnalysis.stopHitsFast(col("text")).as("__h"))
        .select(col("doc_id"), TextAnalysis.langIdFromCounts(
          TextAnalysis.langOrder.indices.map(i => col("__h").getItem(i)))
          .as("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    "token_counts" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .orderBy(col("doc_id"))),

    // BPE-ish subword counts: whitespace tokens plus splits at lower→upper/
    // digit boundaries and before punctuation (lookaround regex in Spark;
    // the oracle simulates the split points char-by-char since RE2 has no
    // lookaround)
    "subword_counts" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        TextAnalysis.subwordCount(col("text")).as("n_subwords"))
        .orderBy(col("doc_id"))),

    // tokenizer fertility per language: subwords emitted per whitespace
    // word and chars per subword — the multilingual-tokenizer budget signal
    // (a high-fertility language pays more sequence length per word). Pure
    // map-side ratios into one tiny per-lang aggregation
    "tokenizer_fertility" -> ((s, d) =>
      docs(s, d).select(col("lang"),
          TextAnalysis.subwordCount(col("text")).cast("long").as("__sw"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("__w"),
          length(regexp_replace(col("text"), "\\s", "")).cast("long").as("__c"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__sw")).as("n_subwords"), sum(col("__w")).as("n_words"),
          round(sum(col("__sw")).cast("double") / sum(col("__w")), 6)
            .as("fertility"),
          round(sum(col("__c")).cast("double") / sum(col("__sw")), 6)
            .as("chars_per_subword"))
        .orderBy(col("lang"))),

    "text_quality" -> ((s, d) =>
      TextAnalysis.quality(docs(s, d), "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"),
          round(col("avg_token_len"), 6).as("avg_token_len"),
          round(col("alpha_ratio"), 6).as("alpha_ratio"),
          round(col("stopword_ratio"), 6).as("stopword_ratio"),
          round(col("quality_score"), 6).as("quality_score"))
        .orderBy(col("doc_id"))),

    // fasttext-style linear classifier: logistic keep-probability over the
    // one-pass feature vector (fixed interpretable weights standing in for
    // trained coefficients — the map-side plan is what a learned linear
    // gate runs)
    "quality_classifier" -> ((s, d) =>
      TextAnalysis.qualityClassifier(docs(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // PMI bigram collocations: the corpus-statistics ranking a vocab/merge
    // pipeline reads; unigram+bigram counts, minCount noise floor, top-30
    "pmi_bigrams" -> ((s, d) =>
      TextAnalysis.pmiBigrams(docs(s, d), "text", minCount = 5, topK = 30)),

    // count-min-sketch audit: exact top-20 5-grams vs their 4x16384-sketch
    // estimates (biased high, never low) — the bounded-state path for key
    // spaces that explode past Heaps' law (n-grams, URLs)
    "cms_heavy_ngrams" -> ((s, d) =>
      TextAnalysis.cmsNgramEstimates(docs(s, d), "text", n = 5,
        width = 1 << 14, depth = 4, topK = 20)),

    // per-source vocabulary Jaccard — which feeds share a lexicon (the
    // register/domain cousin of dup_source_matrix's verbatim copying):
    // distinct (source, token) pairs once, pairwise intersect via ONE
    // token self-join (blowup bounded by sources-per-token²), sizes joined
    // back — never a collect of any vocabulary
    "vocab_overlap" -> ((s, d) => {
      // per-doc array_distinct ahead of the global distinct(): the shuffle's
      // map side starts from the already-deduped within-doc token set (same
      // distinct (source, token) pairs, fewer exploded rows)
      val st = docs(s, d)
        .select(col("source"),
          explode_outer(array_distinct(TextAnalysis.tokens(col("text"))))
            .as("tok"))
        .filter(col("tok").isNotNull)
        .distinct()
        .transform(graft.CacheScope.persist)
      val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("__n"))
      // token-keyed self-join emits ≤ nSources²/2 rows per shared token —
      // fine at any corpus size with tens of sources; with THOUSANDS of
      // sources swap to collect_set(source) per token + within-row pair
      // expansion, which caps the blow-up at the same bound without the
      // join
      st.select(col("source").as("sa"), col("tok").as("tok_a"))
        .join(st.select(col("source").as("sb"), col("tok").as("tok_b")),
          col("tok_a") === col("tok_b") && col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("n_common"))
        .join(sizes.select(col("source").as("sa"), col("__n").as("__na")), "sa")
        .join(sizes.select(col("source").as("sb"), col("__n").as("__nb")), "sb")
        .select(col("sa").as("source_a"), col("sb").as("source_b"),
          col("n_common"),
          round(col("n_common").cast("double") /
            (col("__na") + col("__nb") - col("n_common")), 6).as("vocab_jaccard"))
        .orderBy(col("source_a"), col("source_b"))
    }),

    // KMV distinct-vocabulary sketch, audited against the exact count: the
    // 100 TB shape of per-source lexicon statistics — O(k)-state mergeable
    // aggregator, map-side partials, ONE tiny shuffle, no distinct() of the
    // vocabulary. The exact side here is the sf-scale audit harness (like
    // minhash_est_audit); at corpus scale only the sketch side runs. The
    // md5-low-60 hash makes the sketch — and so the ESTIMATE — replayable
    // bit-for-bit by the DuckDB oracle, which engine-native HLL cannot be.
    "kmv_vocab_distinct" -> ((s, d) => {
      // array_distinct BEFORE the explode: per-doc repeats never reach the
      // md5 or the aggregator — map-side, no extra shuffle, and the distinct
      // hash set per source (all KMV or countDistinct ever see) is unchanged
      val hashed = docs(s, d)
        .select(col("source"),
          explode_outer(array_distinct(TextAnalysis.tokens(col("text"))))
            .as("tok"))
        .filter(col("tok").isNotNull)
        .select(col("source"), Curation.md5Low60(col("tok")).as("h"))
      Sketches.kmvDistinctAudit(hashed, "source", "h", k = 256)
        .orderBy(col("source"))
    }),

    // pairwise source vocabulary overlap from KMV sketches — vocab_overlap
    // without the token self-join: after ONE corpus scan the work is
    // nPairs×2k sketch rows, independent of vocabulary size (the union
    // sketch's rank window runs over ≤2k rows per pair, never over data)
    "kmv_vocab_overlap" -> ((s, d) => {
      // same per-doc array_distinct as kmv_vocab_distinct: identical sketch,
      // fewer md5s and aggregator rows
      val hashed = docs(s, d)
        .select(col("source"),
          explode_outer(array_distinct(TextAnalysis.tokens(col("text"))))
            .as("tok"))
        .filter(col("tok").isNotNull)
        .select(col("source"), Curation.md5Low60(col("tok")).as("h"))
      val sk = Sketches.kmvSketches(hashed, "source", "h", k = 256)
      Sketches.kmvOverlap(sk, "source", k = 256)
        .select(col("ga").as("source_a"), col("gb").as("source_b"),
          col("jac_est"), col("union_est"), col("inter_est"))
        .orderBy(col("source_a"), col("source_b"))
    }),

    // per-doc keyword extraction: top-3 TF-IDF tokens per document (rounded
    // BEFORE ranking so the rank order is engine-replayable). Bounded
    // mergeable aggregation, NOT a window: map-side combine caps each
    // task's contribution at 3 pairs per doc before the shuffle, no global
    // sort of the (doc, token) table
    "doc_keywords" -> ((s, d) => {
      import s.implicits._
      val agg = new TextAnalysis.TopKeywordsAggregator(3)
      TextAnalysis.tfIdf(docs(s, d), "doc_id", "text")
        .select(col("doc_id"), col("token"), round(col("tfidf"), 6).as("tfidf"))
        .as[(Long, String, Double)]
        .groupByKey(_._1)
        .mapValues(t => (t._2, t._3))
        .agg(agg.toColumn.name("kw"))
        .toDF("doc_id", "kw")
        .select(col("doc_id"), posexplode(col("kw")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("rnk"),
          col("col._1").as("token"), col("col._2").as("tfidf"))
        .orderBy(col("doc_id"), col("rnk"))
    }),

    // Gopher-style within-document repetition: 1 - distinct/total bigrams.
    // Boilerplate and degenerate generated text score high; a curation
    // pipeline thresholds on it like any other quality column
    "repetition_ratio" -> ((s, d) => {
      TextAnalysis.register(s)
      docs(s, d)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__w"))
        .select(col("doc_id"),
          round(when(size(col("__w")) >= 2,
            lit(1.0) - size(call_function("shingle_set", col("__w"), lit(2)))
              .cast("double") / (size(col("__w")) - 1))
            .otherwise(lit(0.0)), 6).as("rep_ratio"))
        .orderBy(col("doc_id"))
    }),

    // the rewrite step of substring dedup (Lee et al.): first occurrence of
    // each duplicated 8-token span survives, every other occurrence's
    // positions are removed; emits the cleaned-text hash as the provenance
    // stamp. One hash-window shuffle + one per-doc aggregation, never
    // pairwise (Dedup.removeDupSpans)
    "dedup_span_removal" -> ((s, d) =>
      Dedup.removeDupSpans(docs(s, d), "doc_id", "text", spanTokens = 8)
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_removed"),
          col("cleaned_md5"))
        .orderBy(col("doc_id"))),

    // Gopher repetition suite (top-2-gram char fraction + duplicated-5-gram
    // char fraction) — map-side per-doc via the ngram_rep_stats expression:
    // no explode, no shuffle; see TextAnalysis.gopherRepetition
    "gopher_repetition" -> ((s, d) =>
      TextAnalysis.gopherRepetition(docs(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // DSIR importance weights: target = English slice vs the raw corpus,
    // hashed (4096-bucket) unigram LMs — the bucket-count table is constant
    // size regardless of corpus, the paper's own scaling lever
    "dsir_weights" -> ((s, d) =>
      Curation.dsirWeights(docs(s, d), "doc_id", "text",
          col("lang") === "en", buckets = 4096)
        .orderBy(col("doc_id"))),

    // per-source adaptive quality gate: each source keeps only docs above
    // its OWN 25th-percentile quality score — threshold table is one tiny
    // broadcast aggregation, verdicts map-side (Curation.adaptiveQualityGate)
    "quality_adaptive" -> ((s, d) => {
      val scored = docs(s, d).select(col("doc_id"), col("source"))
        .join(TextAnalysis.quality(docs(s, d), "doc_id", "text")
          .select(col("doc_id"), round(col("quality_score"), 6).as("qs")),
          Seq("doc_id"))
      val kept = Curation.adaptiveQualityGate(scored, "source", "qs", pctl = 0.25)
      kept.groupBy(col("source"))
        .agg(max(col("threshold")).as("threshold"), count(lit(1)).as("n_kept"))
        .join(scored.groupBy(col("source")).agg(count(lit(1)).as("n_total")),
          Seq("source"))
        .select(col("source"), col("threshold"), col("n_total"), col("n_kept"))
        .orderBy(col("source"))
    }),

    // epoch-factor resampling: src0 runs 2.5 epochs, src1 half an epoch,
    // src2 is dropped, everything else exactly once — one map-side generator
    // per row, md5-replayable fractional keeps (Curation.epochUpsample)
    "sample_epochs" -> ((s, d) =>
      Curation.epochUpsample(docs(s, d), "doc_id", "source",
          Map("src0" -> 2.5, "src1" -> 0.5, "src2" -> 0.0), defaultEpochs = 1.0)
        .select(col("doc_id"), col("copy_ix"))
        .orderBy(col("doc_id"), col("copy_ix"))),

    // DSIR selection: Gumbel top-100 over the importance weights (md5-derived
    // noise, engine-replayable) — the resampling stage that turns weights
    // into a selected subset
    "dsir_resample" -> ((s, d) =>
      Curation.dsirResample(docs(s, d), "doc_id", "text",
        col("lang") === "en", buckets = 4096, temperature = 1.0, k = 100)),

    // winnowing fingerprint over md5 gram hashes: every step (normalize,
    // char 8-grams, md5-low-60, window minima, xor combine) is plain SQL,
    // so the fingerprints hash-match an independent DuckDB recomputation
    "doc_fingerprints" -> ((s, d) => {
      TextAnalysis.register(s)
      docs(s, d).select(col("doc_id"),
        call_function("doc_fingerprint_md5", col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // MOSS-style plagiarism suspects: top-20 pairs by shared winnowing
    // fingerprints (the block-min SET behind doc_fingerprints); postings
    // wider than 100 docs are dropped as boilerplate — the measured hot
    // fingerprint would alone contribute 7M pairs at sf0.1
    "winnow_pairs" -> ((s, d) =>
      TextAnalysis.winnowPairs(docs(s, d), "doc_id", "text",
        maxPosting = 100, topN = 20)),

    // ---- embedding near-dup / similarity ----
    // exact brute-force all-pairs top-20: broadcast-corpus primitive kernel
    // (Similarity.bruteCosineTopPairs) emitting raw doubles bit-identical to
    // 1 - vec_cosine_dist(a, b); round + final order happen here in SQL.
    "neardup_embedding_exact" -> ((s, d) =>
      Similarity.bruteCosineTopPairs(emb(s, d), "vec_id", "embedding", topN = 20)
        .select(col("id_a"), col("id_b"), round(col("cos_raw"), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("id_a"), col("id_b"))
        .limit(20)),

    // sign-LSH + exact verification. The random test vectors contain no true
    // near-dups (max pairwise cosine ~0.51), so the scenario unions the table
    // with deterministically perturbed copies (vec_id + 100000) — the classic
    // "same item, re-encoded" duplicate — and detects the planted pairs.
    // Hyperplanes AND the perturbation are md5-derived, and multi-probe
    // candidacy is exactly "bucket signatures differ in <= 1 bit", so DuckDB
    // can recompute the full pipeline (hash-matched oracle).
    "neardup_embedding_lsh" -> ((s, d) => {
      val base = emb(s, d).select(col("vec_id").cast("long").as("vec_id"),
        col("embedding"))
      // two-stage select: the perturbation hash is keyed by the NEW id
      // (vec_id + 100000), stated unambiguously
      val perturbed = base
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
        .select(col("vec_id"), transform(col("embedding"),
          (x, i) => x +
            (conv(substring(md5(concat_ws(":", col("vec_id"), i)), 18, 15), 16, 10)
              .cast("long") % 7 - 3).cast("float") * lit(0.01f)).as("embedding"))
      Similarity.cosineNearDupPairs(base.unionByName(perturbed), "vec_id",
        "embedding", dim = 64, threshold = 0.9)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SemDeDup (cluster-scoped semantic dedup): original corpus has no true
    // near-dups (max pairwise cosine ~0.51), so plant perturbed copies
    // (vec_id + 100000, the same md5 perturbation as the LSH scenario) and
    // assert the cluster-scoped drop rule removes them; centroids are
    // md5-deterministic so the DuckDB oracle replays clustering + pairwise
    "semantic_dedup" -> ((s, d) => {
      val base = emb(s, d).select(col("vec_id").cast("long").as("vec_id"),
        col("embedding"))
      val perturbed = base
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
        .select(col("vec_id"), transform(col("embedding"),
          (x, i) => x +
            (conv(substring(md5(concat_ws(":", col("vec_id"), i)), 18, 15), 16, 10)
              .cast("long") % 7 - 3).cast("float") * lit(0.01f)).as("embedding"))
      Similarity.semanticDedup(base.unionByName(perturbed), "vec_id",
          "embedding", nClusters = 32, tau = 0.9, seed = "sem42")
        .select(col("id").as("vec_id"), col("cluster").cast("long").as("cluster"))
        .orderBy(col("vec_id"))
    }),

    // IVF with deterministic md5-picked centroids: the full pipeline
    // (centroid pick, assignment argmin, probe choice, in-cluster exact
    // rank) is recomputed independently by the DuckDB oracle — hash-matched
    // despite pruned (approximate) routing
    "simsearch_ivf" -> ((s, d) => {
      val e = emb(s, d)
      val model = Similarity.trainIvfDeterministic(e, "vec_id", "embedding",
        nCentroids = 8, seed = "ivf42")
      val clustered = Similarity.ivfAssign(e, "vec_id", "embedding", model)
      val q = e.filter(col("vec_id") === 0).head().getAs[scala.collection.mutable.ArraySeq[Float]]("embedding").toArray
      Similarity.ivfSearch(clustered, model, q, k = 10, nprobe = 4,
        (a, b) => VectorFunctions.vec_cosine_dist(a, b))
        .select(col("id").as("vec_id"), round(col("dist"), 6).as("dist"))
    }),

    // int8 embedding compression audit: symmetric per-vector scale and the
    // worst reconstruction error of the quantize->dequantize round trip
    "embed_quant_int8" -> ((s, d) =>
      Similarity.int8QuantStats(emb(s, d), "vec_id", "embedding")
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          round(col("max_err"), 6).as("max_err"))
        .orderBy(col("vec_id"))),

    // deterministic JL random projection 64-d -> 16-d (md5 hyperplanes, the
    // sign-LSH derivation): one row per (vector, output dim) so every
    // projected component is hash-verified
    "embed_project" -> ((s, d) =>
      Similarity.randomProject(emb(s, d), "vec_id", "embedding",
        dim = 64, outDim = 16)
        .select(col("id").as("vec_id"), posexplode(col("proj")))
        .select(col("vec_id"), col("pos").cast("long").as("dim_idx"),
          round(col("col"), 6).as("value"))
        .orderBy(col("vec_id"), col("dim_idx"))),

    // ---- curation ----
    // XLM-R/mT5 alpha-sampling over languages: token shares flattened by
    // p^0.3, rate table one tiny aggregate, keep decision map-side
    "sample_temperature" -> ((s, d) =>
      Curation.temperatureSample(
        docs(s, d).withColumn("__n", TextAnalysis.tokenCount(col("text"))),
        "doc_id", "lang", col("__n"), alpha = 0.3, seed = "temp42")
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))),

    // exact per-label embedding centroids (class prototypes): fixed-point
    // mergeable sums => engine-replayable means, one O(#labels·dim) shuffle
    "embed_centroids" -> ((s, d) =>
      Similarity.groupCentroids(emb(s, d), "label", "embedding", dim = 64)
        .select(col("label").cast("long").as("label"), posexplode(col("centroid")))
        .select(col("label"), col("pos").cast("long").as("dim_idx"),
          round(col("col"), 6).as("value"))
        .orderBy(col("label"), col("dim_idx"))),

    // covariance/correlation audit of the leading 8 embedding dims — the
    // PCA/whitening pre-pass, ONE map-side-combined O(dims²)-state
    // aggregation (fixed-point sums => engine-replayable), driver expands
    // the single result row to (i ≤ j) pairs
    "embed_covariance" -> ((s, d) =>
      Similarity.covarianceAudit(emb(s, d), "embedding", dims = 8)
        .orderBy(col("dim_i"), col("dim_j"))),

    // ColBERT-style MaxSim late-interaction retrieval: pseudo-docs of 8
    // chunk vectors each (vec_id div 8), a 4-vector query bag; score(doc) =
    // Σ_q max_chunk cos_sim — query bag broadcasts, sims map-side, the max
    // shuffles once on doc, the sum runs in exact DECIMAL(20,6)
    "maxsim_topk" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.maxsimTopK(
        e.filter(col("vec_id") >= 8)
          .select(floor(col("vec_id") / 8).cast("long").as("doc"),
            col("embedding").as("vec")),
        e.filter(col("vec_id") < 4)
          .select(col("vec_id").as("q_ix"), col("embedding").as("qvec")),
        topK = 10)
    }),

    // k-NN majority-vote classification (the eval / auto-labeling op):
    // every 100th vector is a held-out query; predicted label = majority of
    // its 10 exact-cosine neighbors, ties broken by closest-neighbor rank
    // then label. Neighbors via the partial top-k aggregator (k rows per
    // partition per query cross the shuffle; no window over the corpus)
    "knn_label_vote" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.knnClassify(
        e.filter(col("vec_id") % 100 =!= 0)
          .select(col("vec_id").as("id"), col("embedding").as("vec"),
            col("label")),
        e.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        k = 10,
        (a, b) => round(VectorFunctions.vec_cosine_dist(a, b), 6))
        .join(e.select(col("vec_id").as("qid"),
          col("label").as("true_label")), Seq("qid"))
        .select(col("qid"), col("predicted").cast("long").as("predicted"),
          col("votes"), col("true_label").cast("long").as("true_label"),
          (col("predicted") === col("true_label")).as("correct"))
        .orderBy(col("qid"))
    }),

    // MMR-diversified retrieval (Carbonell & Goldstein): top-15 cosine
    // candidates for query vec 0, greedily re-ranked to 10 by
    // λ·rel − (1−λ)·max-sim-to-selected at λ=0.7 — the quadratic term is
    // 15² per query, candidates for all queries re-rank in parallel
    "mmr_diversify" -> ((s, d) => {
      VectorFunctions.register(s)
      val e = emb(s, d)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      val cand = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .select(col("vec_id").as("id"), col("embedding").as("vec"),
          round(VectorFunctions.vec_cosine_dist(col("embedding"), col("qvec")), 6)
            .as("dist"))
        .orderBy(col("dist"), col("id")).limit(15)
        .select(lit(0L).as("qid"), col("id"),
          (lit(1.0) - col("dist")).as("rel"), col("vec"))
      Similarity.mmrRerank(cand, selectK = 10, lambda = 0.7)
        .select(col("rnk"), col("id"), round(col("rel"), 6).as("rel"))
        .orderBy(col("rnk"))
    }),

    // hard-negative mining for contrastive training: per held-out query,
    // the 5 nearest corpus vectors with a DIFFERENT label (the negatives a
    // triplet/InfoNCE sampler wants); label filter is map-side before the
    // partial top-k aggregation
    "hard_negatives" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.hardNegatives(
        e.filter(col("vec_id") % 100 =!= 0)
          .select(col("vec_id").as("id"), col("embedding").as("vec"),
            col("label")),
        e.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
            col("label").as("qlabel")),
        k = 5,
        (a, b) => round(VectorFunctions.vec_cosine_dist(a, b), 6))
        .orderBy(col("qid"), col("rnk"))
    }),

    // contrastive triplet mining: per anchor (every 100th vector), nearest
    // same-label positive + 2 nearest different-label hard negatives — the
    // (a, p, n) training-pair generator, both sides through the shared
    // broadcast-anchor partial-top-k kernel
    "contrastive_triplets" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.contrastiveTriplets(
        e.filter(col("vec_id") % 100 =!= 0)
          .select(col("vec_id").as("id"), col("embedding").as("vec"),
            col("label")),
        e.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
            col("label").as("qlabel")),
        kNeg = 2,
        (a, b) => round(VectorFunctions.vec_cosine_dist(a, b), 6))
        .orderBy(col("qid"), col("neg_rnk"))
    }),

    // embedding drift monitor: per-label centroid cosine distance between
    // the even- and odd-id cohorts (stand-ins for week-over-week corpora or
    // model v1/v2); fixed-point centroid sums => engine-replayable
    "centroid_shift" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.centroidShift(
        e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 =!= 0),
        "label", "embedding", dim = 64)
        .select(col("label").cast("long").as("label"), col("n_old"),
          col("n_new"), col("centroid_cos_dist"))
        .orderBy(col("label"))
    }),

    // Heaps'-law vocabulary growth at 50-doc checkpoints: cumulative tokens
    // vs cumulative distinct vocab — first-occurrence election in one
    // shuffle, cumulative window over checkpoints only
    "heaps_law" -> ((s, d) =>
      TextAnalysis.heapsLaw(docs(s, d), "doc_id", "text", bucketDocs = 50)),

    // same prototypes through the SQL surface: pgvector's avg(vector)
    // aggregate as the registered vec_avg UDAF (fixed-point buffer — long
    // adds commute, so the result is partitioning-independent and
    // engine-replayable); flattened for the oracle compare
    "vec_avg_by_label" -> ((s, d) => {
      VectorFunctions.register(s)
      emb(s, d).groupBy(col("label"))
        .agg(expr("vec_avg(embedding)").as("c"))
        .select(col("label"), posexplode(col("c")).as(Seq("dim", "v")))
        .select(col("label"), col("dim"), round(col("v"), 6).as("avg_val"))
        .orderBy(col("label"), col("dim"))
    }),

    // exact-k eval-set sampling: exactly 10 docs per source, the k
    // smallest md5(seed:id) — deterministic, backfill-stable, replayable
    "sample_exact_k" -> ((s, d) =>
      Curation.exactKPerStratum(docs(s, d), "doc_id", "source", k = 10,
          seed = "exk42")
        .select(col("doc_id"), col("source"))
        .orderBy(col("source"), col("doc_id"))),

    // deterministic stratified sampling: downsample over-represented 'en',
    // keep most of the rest. md5-derived uniform => reproducible in any
    // engine, no RNG/partition-order dependence, pure map-side at 100 TB
    "sample_stratified" -> ((s, d) =>
      Curation.stratifiedSample(docs(s, d), "doc_id", "lang",
        Map("en" -> 0.25), defaultRate = 0.75, seed = "strat42")
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))),

    // URL canonicalization (the crawl pipeline's pre-text dedup key):
    // deterministic messy-URL variants built from doc_id — case noise,
    // default ports, fragments, tracking params, param order, root-slash —
    // and the ORACLE derives every expected canonical BY HAND from the RFC
    // rules (a CASE per variant family), not by mirroring the regexes, so
    // it is an independent check of the normalization semantics
    "url_normalize" -> ((s, d) =>
      syntheticUrls(s, d)
        .select(col("doc_id"), col("url"),
          Curation.urlNormalize(col("url")).as("url_norm"))
        .orderBy(col("doc_id"))),

    // URL-level dedup over the canonical key: families {0,1}, {2,3} and
    // {4,5} collapse per page id — keeper = min doc_id, fetch count kept
    // for the crawl-frequency audit
    "url_dedup" -> ((s, d) =>
      syntheticUrls(s, d)
        .groupBy(Curation.urlNormalize(col("url")).as("url_norm"))
        .agg(min(col("doc_id")).as("keeper"),
          count(lit(1)).as("n_fetches"))
        .orderBy(col("url_norm"))),

    // deterministic 90/5/5 train/val/test split audit: assignment is
    // md5-uniform (map-side, stable under reruns/backfills, replayable by
    // any engine with md5); the audit is one tiny source×split aggregation
    "split_assign" -> ((s, d) =>
      Curation.hashSplit(docs(s, d), "doc_id",
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), seed = "split42")
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("source"), col("split"))),

    // top-30 vocabulary (wordcount with map-side combine; tie-break on token)
    "vocab_topk" -> ((s, d) => Curation.vocabTopK(docs(s, d), "text", 30)),

    // BPE merge training (the tokenizer-training op): corpus-scale work is
    // ONE wordcount to the bounded word-frequency table; the merge loop
    // iterates on that table alone (TextAnalysis.bpeTrain). The oracle
    // replays the full 10-round merge loop as a recursive CTE over the
    // same word table — tokenizer training verified end-to-end in SQL
    "bpe_merges" -> ((s, d) => {
      import s.implicits._
      val merges = TextAnalysis.bpeTrain(docs(s, d), "text", nMerges = 10)
      s.createDataset(merges).toDF("rank", "left", "right", "pair_count")
        .select(col("rank").cast("long").as("rank"), col("left"),
          col("right"), col("pair_count"))
        .orderBy(col("rank"))
    }),

    // fertility measured with the TRAINED tokenizer (closing the
    // train→apply→measure loop): the 10-merge BPE model is the only
    // driver-side state — segmentation runs executor-side per occurrence
    // (TextAnalysis.bpeFertility), so no vocabulary collect at any scale
    "bpe_fertility" -> ((s, d) => {
      val dd = docs(s, d)
      val merges = TextAnalysis.bpeTrain(dd, "text", nMerges = 10)
        .map(m => (m._2, m._3))
      TextAnalysis.bpeFertility(dd, "text", "lang", merges)
    }),

    // embedding QA / mislabel detection: each vector's cosine distance to
    // its OWN label centroid, flagged past the label's p90 — centroids are
    // fixed-point exact and broadcast, the per-row distance is an ordered
    // fold (engine-replayable), the threshold table is one row per label
    "embed_outliers" -> ((s, d) => {
      val e = emb(s, d)
      val cents = Similarity.groupCentroids(e, "label", "embedding", dim = 64)
        .select(col("label"), col("centroid"))
      def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)
      val v = col("embedding").cast("array<double>")
      val dists = e.join(broadcast(cents), Seq("label"))
        .select(col("label").cast("long").as("label"), col("vec_id"),
          round(lit(1.0) - dot(v, col("centroid")) /
            sqrt(dot(v, v) * dot(col("centroid"), col("centroid"))), 6)
            .as("dist"))
      val thr = dists.groupBy(col("label"))
        .agg(round(expr("percentile(dist, 0.9)"), 6).as("p90"))
      dists.join(broadcast(thr), Seq("label"))
        .filter(col("dist") > col("p90"))
        .select(col("label"), col("vec_id"), col("dist"), col("p90"))
        .orderBy(col("label"), col("vec_id"))
    }),

    // incremental-snapshot bookkeeping: diff two corpus snapshots by
    // content hash (added/removed/changed/unchanged) — one full-outer join
    // on the id, hashes map-side; the audit every periodic re-crawl /
    // re-ingest pipeline runs before reprocessing. Snapshot B is derived
    // deterministically (deletions %7, edits %5, additions %11) since the
    // fixture ships one snapshot.
    "corpus_diff" -> ((s, d) => {
      val base = docs(s, d)
      val a = base.select(col("doc_id"), md5(col("text")).as("h_old"))
      val b = base.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text"))).as("h_new"))
      val adds = base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), md5(col("text")).as("h_new"))
      a.join(b.unionByName(adds), Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("h_old").isNull, "added")
            .when(col("h_new").isNull, "removed")
            .when(col("h_old") === col("h_new"), "unchanged")
            .otherwise("changed").as("status"))
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
        .orderBy(col("status"))
    }),

    // per-doc character-level Shannon entropy (bits) — the compression-
    // adjacent quality signal (binary junk and repeated boilerplate sit at
    // the extremes); per-doc counts then an ordered fold, both bounded by
    // the doc's alphabet
    "char_entropy" -> ((s, d) =>
      docs(s, d)
        .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
        .filter(length(col("ch")) > 0)
        .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n"),
          array_sort(collect_list(struct(col("ch").as("ch"), col("c").as("c"))))
            .as("a"))
        .select(col("doc_id"),
          round((-aggregate(col("a"), lit(0.0), (acc, e) =>
              acc + (e.getField("c").cast("double") / col("n")) *
                log(e.getField("c").cast("double") / col("n")))) /
            log(lit(2.0)), 6).as("entropy_bits"))
        .orderBy(col("doc_id"))),

    // hashing-trick featurization (the classical-model featurizer): token →
    // md5 bucket mod 1024, per-doc nnz + L2 norm of the hashed-count
    // vector. Counts are integers, so Σc² is exact and the norm is
    // engine-replayable; two partial-combined shuffles, no vocabulary state
    "feature_hash" -> ((s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          explode_outer(TextAnalysis.tokens(col("text"))).as("tok"))
        .filter(col("tok").isNotNull)
        .select(col("doc_id"),
          (conv(substring(md5(col("tok")), 18, 15), 16, 10).cast("long") % 1024)
            .as("bucket"))
        .groupBy(col("doc_id"), col("bucket")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("nnz"), sum(col("c") * col("c")).as("__sq"))
        .select(col("doc_id"), col("nnz"),
          round(sqrt(col("__sq")), 6).as("l2_norm"))
        .orderBy(col("doc_id"))),

    // per-dimension robust stats (median + MAD — the robust-scaler prep
    // that complements embed_covariance): exact interpolated percentiles,
    // two passes with the tiny per-dim median table broadcast back
    "embed_dim_mad" -> ((s, d) => {
      val base = emb(s, d)
        .select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("dim"), col("v").cast("double").as("v"))
      val med = base.groupBy(col("dim"))
        .agg(expr("percentile(v, 0.5)").as("med"))
      base.join(broadcast(med), Seq("dim"))
        .select(col("dim"), col("med"), abs(col("v") - col("med")).as("dev"))
        .groupBy(col("dim"))
        .agg(round(max(col("med")), 6).as("median"),
          round(expr("percentile(dev, 0.5)"), 6).as("mad"))
        .select(col("dim").cast("long").as("dim"), col("median"), col("mad"))
        .orderBy(col("dim"))
    }),

    // per-source KL divergence from the corpus unigram distribution over
    // the top-50 corpus vocabulary (add-one smoothed) — which feeds drift/
    // mixture decisions; the vocab table is bounded and broadcast, counts
    // are exact integers, and the KL fold runs in vocab-rank order so the
    // double sum is engine-identical
    "source_kl" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = docs(s, d)
        .select(col("source"),
          explode_outer(TextAnalysis.tokens(col("text"))).as("tok"))
        .filter(col("tok").isNotNull)
        .transform(graft.CacheScope.persist)
      val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cc"))
        .orderBy(col("cc").desc, col("tok")).limit(50)
        // global window is BOUNDED: the post-limit(50) vocab rows only
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("cc").desc, col("tok"))))
      val sc = toks.join(broadcast(vocab), Seq("tok"))
        .groupBy(col("source"), col("rnk"), col("cc"))
        .agg(count(lit(1)).as("c"))
      // every source × every vocab rank (missing counts = 0)
      val grid = toks.select(col("source")).distinct()
        .crossJoin(broadcast(vocab.select(col("rnk"), col("cc"))))
        .join(sc, Seq("source", "rnk", "cc"), "left")
        .na.fill(0L, Seq("c"))
      val agged = grid.groupBy(col("source"))
        .agg(sum(col("c")).as("ns"), sum(col("cc")).as("nc"),
          array_sort(collect_list(struct(col("rnk").as("r"),
            col("c").as("c"), col("cc").as("q")))).as("a"))
      val kl = aggregate(col("a"), lit(0.0), (acc, e) => {
        val p = (e.getField("c") + lit(1L)).cast("double") / (col("ns") + lit(50L))
        val q = (e.getField("q") + lit(1L)).cast("double") / (col("nc") + lit(50L))
        acc + p * log(p / q)
      })
      agged.select(col("source"), col("ns").as("n_tokens"),
          round(kl, 6).as("kl_divergence"))
        .orderBy(col("source"))
    }),

    // Zipf's-law fit over the top-30 vocabulary: OLS slope of ln(count) vs
    // ln(rank) — the rank-frequency exponent (natural text ≈ 1). Wordcount
    // with map-side combine, TakeOrdered top-30, then ordered folds over
    // the 30-element list so every double sum is engine-identical
    "zipf_fit" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val counts = docs(s, d)
        .select(explode_outer(TextAnalysis.tokens(col("text"))).as("tok"))
        .filter(col("tok").isNotNull)
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok")).limit(30)
        // global window is BOUNDED: the post-limit(30) vocab rows only
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("cnt").desc, col("tok"))))
      val agged = counts.agg(count(lit(1)).as("n"),
        array_sort(collect_list(struct(col("rnk").as("r"), col("cnt").as("c"))))
          .as("a"))
      def fold(term: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        aggregate(col("a"), lit(0.0), (acc, e) => acc + term(e))
      val nd = col("n").cast("double")
      val sx = fold(e => log(e.getField("r")))
      val sy = fold(e => log(e.getField("c")))
      val sxy = fold(e => log(e.getField("r")) * log(e.getField("c")))
      val sxx = fold(e => log(e.getField("r")) * log(e.getField("r")))
      agged.select(col("n").as("n_tokens"),
        round(-((sxy - sx * sy / nd) / (sxx - sx * sx / nd)), 6)
          .as("zipf_exponent"))
    }),

    // PII scrub: the synthetic docs carry no PII, so plant deterministic
    // email/phone strings first (the planted-duplicate trick from the LSH
    // scenario), then count + redact and report the redacted length
    "pii_scrub" -> ((s, d) => {
      val injected = docs(s, d).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit(" call 555-0142")).otherwise(lit("")))
          .as("text"))
      Curation.scrubPii(injected, "text")
        .select(col("doc_id"), col("n_emails"), col("n_phones"),
          length(col("text")).as("clean_len"))
        .orderBy(col("doc_id"))
    }),

    // benchmark decontamination: training docs sharing >= 2 distinct
    // 3-token shingles with the (small, broadcast) eval split
    "decontam_overlap" -> ((s, d) => {
      val all = docs(s, d)
      Curation.contaminationPairs(
        all.filter(col("doc_id") % 23 =!= 0),
        all.filter(col("doc_id") % 23 === 0),
        "doc_id", "text", shingleSize = 3, minShared = 2)
        .orderBy(col("train_id"), col("eval_id"))
    }),

    // decontamination by coverage fraction: flag (train, eval) pairs whose
    // shared shingles cover >= 20% of the eval doc (the thresholding real
    // decontam passes use — absolute counts over-flag long docs)
    "decontam_frac" -> ((s, d) => {
      val all = docs(s, d)
      Curation.contaminationByFraction(
        all.filter(col("doc_id") % 23 =!= 0),
        all.filter(col("doc_id") % 23 === 0),
        "doc_id", "text", shingleSize = 3, minFrac = 0.2)
        .orderBy(col("train_id"), col("eval_id"))
    }),

    // corpus-order n-gram novelty: per doc, the fraction of its distinct
    // 8-token spans FIRST seen (min doc_id) in that doc — the freshness
    // signal for ingest-ordered mixing; dup_spans cost class, one shuffle
    "ngram_novelty" -> ((s, d) =>
      Dedup.ngramNovelty(docs(s, d), "doc_id", "text", spanTokens = 8)
        .select(col("id").as("doc_id"), col("n_spans"), col("n_novel"),
          col("novelty"))
        .orderBy(col("doc_id"))),

    // Zipf/vocab-truncation audit: top-100 tokens with cumulative corpus
    // coverage — "how much of the corpus do the k most frequent tokens
    // cover". The running-share window runs over the ALREADY-reduced 100
    // rows, never the vocabulary
    "vocab_coverage" -> ((s, d) => {
      val tok = docs(s, d)
        .select(explode_outer(TextAnalysis.tokens(col("text"))).as("token"))
        .filter(col("token").isNotNull)
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .transform(graft.CacheScope.persist)
      val total = tok.agg(sum(col("cnt")).cast("double").as("__tot"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("token"))
      tok.orderBy(col("cnt").desc, col("token")).limit(100)
        .crossJoin(broadcast(total))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .withColumn("cum_share", round(
          sum(col("cnt")).over(w.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow))
            .cast("double") / col("__tot"), 6))
        .select(col("rnk"), col("token"), col("cnt"), col("cum_share"))
        .orderBy(col("rnk"))
    }),

    // Bloom-filter decontamination: the eval split folds into ONE 2^20-bit
    // filter (4 md5 hash functions), the train side tests map-side against
    // the broadcast — constant memory regardless of eval size; positives
    // route to the exact decontam path
    "bloom_decontam" -> ((s, d) => {
      val all = docs(s, d)
      Curation.bloomDecontam(
        all.filter(col("doc_id") % 23 =!= 0),
        all.filter(col("doc_id") % 23 === 0),
        "doc_id", "text", shingleSize = 3, mBits = 1 << 20, kHashes = 4)
        .select(col("id").as("train_id"), col("n_shingles"),
          col("n_bloom_hits"), col("bloom_frac"))
        .orderBy(col("train_id"))
    }),

    // near-dup PAIRS -> duplicate CLUSTERS: connected components by min-label
    // propagation; cluster_id = min doc_id in the component (the canonical
    // survivor a curation pipeline would keep)
    "dedup_clusters" -> ((s, d) => {
      val pairs = Dedup.minhashNearDupPairs(docs(s, d), "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.8)
      Curation.connectedComponents(pairs.select(col("id_a"), col("id_b")))
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy(col("doc_id"))
    }),

    // same clusters via star-contraction (O(log n) rounds, the adversarial-
    // diameter scale path): cluster_id = component min either way, so the
    // recursive-CTE oracle verifies BOTH algorithms hash-identically
    "dedup_clusters_star" -> ((s, d) => {
      val pairs = Dedup.minhashNearDupPairs(docs(s, d), "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.8)
      Curation.connectedComponents(pairs.select(col("id_a"), col("id_b")),
        algorithm = "star")
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy(col("doc_id"))
    }),

    // ---- composed curation pipeline ----
    // the ops compose as ordinary DataFrame stages: quality + language gate,
    // then exact-dedup keeping the canonical (minimum) doc per content hash —
    // the standard pretraining-corpus curation shape, in one declarative plan
    "pipeline_curate" -> ((s, d) => {
      // dedup FIRST (identical text => identical score/lang, so the result is
      // unchanged but only canonical docs pay the scoring pass). The winner
      // set is computed from (hash, id) pairs only — the full text column
      // never crosses a shuffle: one tiny groupBy, then a semi-join that
      // Spark broadcasts while the id set fits (AQE decides at scale)
      val winners = docs(s, d)
        .select(md5(col("text")).as("__h"), col("doc_id"))
        .groupBy(col("__h")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val canonical = docs(s, d).join(broadcast(winners), Seq("doc_id"), "left_semi")
      // materialize the scored table before filtering: predicate pushdown
      // would otherwise re-inline the interpreted tokenizer HOFs into the
      // condition below the staged projections (no CSE — several extra full
      // tokenization passes). Persisting the tiny metrics table is the
      // in-session form of a pipeline writing its score table out.
      val scored = TextAnalysis.quality(canonical, "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("quality_score"))
        .transform(graft.CacheScope.persist)
      scored
        .filter(col("quality_score") >= 0.5 && col("lang") === "en")
        .select(col("doc_id"), col("lang"),
          round(col("quality_score"), 6).as("quality_score"))
        .orderBy(col("doc_id"))
    }),

    // ---- composed pretraining pipeline v2 ----
    // gopher gate -> token-budget mixture -> sequence packing, all three of
    // this round's curation stages composed in one declarative plan: the
    // gate is map-side, the mixture rates are one tiny broadcast aggregate,
    // packing is the single bucket shuffle. Tokens are counted ONCE and the
    // count column rides through every stage.
    "pipeline_pretrain" -> ((s, d) => {
      val base = docs(s, d)
      // the gate carries source + n_tokens through (keep=...), so the whole
      // pipeline tokenizes once and needs NO join back to the corpus
      // persist: mixtureSample reads kept twice (rates aggregate + output
      // join) and there is no CSE across consumers — without this the whole
      // gopher chain tokenizes the corpus once per consumer
      val kept = TextAnalysis.gopherQuality(base, "doc_id", "text",
        minTokens = 40, maxTokens = 150, keep = Seq("source"))
        .filter(col("passes"))
        .select(col("doc_id"), col("source"), col("n_tokens"))
        .transform(graft.CacheScope.persist)
      val sampled = Curation.mixtureSample(kept, "doc_id", "source",
        col("n_tokens"), budgets = Map("src0" -> 2000L), defaultBudget = 600L,
        seed = "pre42")
      Curation.packSequences(sampled, "doc_id", col("n_tokens"),
        budget = 256, nBuckets = 4, seed = "prepack42")
        .orderBy(col("doc_id"))
    }),

    // per-source curation dashboard: doc/token counts, mean quality (1e-6
    // fixed-point sums — order-free exact like lm_score), exact-dup rate
    // from content-hash multiplicities. The monitoring query a production
    // pipeline materializes after every curation run.
    "curation_report" -> ((s, d) => {
      val base = docs(s, d)
      val q = TextAnalysis.quality(base, "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"),
          floor(col("quality_score") * 1e6 + 0.5).cast("long").as("__qfp"))
      val hashes = base.select(col("doc_id"), col("source"), md5(col("text")).as("__h"))
      val counts = hashes.groupBy(col("__h")).agg(count(lit(1)).as("__c"))
      val flags = hashes.join(counts, "__h")
        .select(col("doc_id"), col("source"), (col("__c") > 1).cast("long").as("__dup"))
      flags.join(q, "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(col("__qfp")).as("__sq"),
          sum(col("__dup")).as("__nd"))
        .select(col("source"), col("n_docs"), col("total_tokens"),
          round(col("__sq").cast("double") / 1e6 / col("n_docs"), 6).as("avg_quality"),
          round(col("__nd").cast("double") / col("n_docs"), 6).as("dup_rate"))
        .orderBy(col("source"))
    }),

    // per-language corpus statistics with exact percentiles; tokens are
    // materialized ONCE (HOFs are interpreted — no CSE across lang + count)
    "corpus_stats" -> ((s, d) => {
      TextAnalysis.register(s)
      docs(s, d)
        // one text_stats scan: lang counts AND the token count together
        .select(call_function("text_stats", col("text")).as("__st"))
        .select(TextAnalysis.langIdFromCounts(TextAnalysis.langOrder.indices.map(i =>
            col("__st").getField("stops").getItem(i))).as("lang"),
          col("__st").getField("n_tok").as("n_tokens"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          round(avg(col("n_tokens")), 6).as("mean_tokens"),
          round(expr("percentile(n_tokens, 0.5)"), 6).as("median_tokens"))
        .orderBy(col("lang"))
    }),

    // CCNet-style bigram LM quality score: mean add-one-smoothed bigram log
    // probability per doc, fixed-point sums for order-free exact means
    "lm_score" -> ((s, d) =>
      TextAnalysis.lmScore(docs(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // CCNet-style perplexity buckets: per source, rank documents by LM score
    // and cut head/middle/tail thirds (ntile over the rounded score + id —
    // deterministic in any engine). The window rides the same per-source
    // partitioning any engine needs for this; everything upstream is the
    // lm_score pipeline unchanged.
    "lm_buckets" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val scored = TextAnalysis.lmScore(docs(s, d), "doc_id", "text")
      val w = Window.partitionBy(col("source"))
        .orderBy(col("avg_logp").desc, col("doc_id"))
      scored.join(docs(s, d).select(col("doc_id"), col("source")), Seq("doc_id"))
        .withColumn("__nt", ntile(3).over(w))
        .select(col("doc_id"), col("source"),
          when(col("__nt") === 1, "head").when(col("__nt") === 2, "middle")
            .otherwise("tail").as("bucket"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-rule quality gate: per-rule boolean flags + conjunction, one
    // tokenization pass, entirely map-side
    "gopher_quality" -> ((s, d) =>
      TextAnalysis.gopherQuality(docs(s, d), "doc_id", "text",
        minTokens = 40, maxTokens = 150)
        .orderBy(col("doc_id"))),

    // TF-IDF: top-50 (doc, token) scores. tf shuffles once with map-side
    // combine; df is vocabulary-sized and joined back per token; N is one
    // broadcast row
    "tfidf_topk" -> ((s, d) =>
      TextAnalysis.tfIdf(docs(s, d), "doc_id", "text")
        .orderBy(col("tfidf").desc, col("doc_id"), col("token"))
        .limit(50)
        .select(col("doc_id"), col("token"), round(col("tfidf"), 6).as("tfidf"))),

    // greedy first-fit sequence packing into 256-token training sequences,
    // md5-bucketed 8 ways (the parallelism unit); the DuckDB oracle replays
    // the sweep with a recursive CTE
    "pack_sequences" -> ((s, d) =>
      Curation.packSequences(docs(s, d), "doc_id",
        TextAnalysis.tokenCount(col("text")), budget = 256, nBuckets = 8,
        seed = "pack42")
        .orderBy(col("doc_id"))),

    // token-budget mixture sampling: cap src0 at 3000 expected tokens and
    // every other source at 800 — per-stratum totals are one tiny aggregate,
    // the keep decision is map-side md5-uniform (engine-reproducible)
    "sample_mixture" -> ((s, d) =>
      Curation.mixtureSample(docs(s, d), "doc_id", "source",
        TextAnalysis.tokenCount(col("text")),
        budgets = Map("src0" -> 3000L), defaultBudget = 800L, seed = "mix42")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))),

    // did the mixture hit its budgets? per-source achieved tokens vs target
    // — the report a data-mixing run is judged by. Composes mixtureSample;
    // one extra tiny aggregation
    "mixture_report" -> ((s, d) =>
      Curation.mixtureSample(docs(s, d), "doc_id", "source",
        TextAnalysis.tokenCount(col("text")),
        budgets = Map("src0" -> 3000L), defaultBudget = 800L, seed = "mix42")
        .withColumn("__n", TextAnalysis.tokenCount(col("text")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__n")).cast("long").as("achieved_tokens"))
        .withColumn("target_tokens",
          when(col("source") === "src0", 3000L).otherwise(800L))
        .orderBy(col("source"))),

    // greedy token-budget allocation across sources ("which sources fill a
    // fixed training budget, best quality first"): per-source totals come
    // off ONE corpus pass (map-side combined groupBy), then ordering and
    // the cumulative fill are windows over nSources rows ONLY — the corpus
    // never meets a global window, so the plan is budget-report-sized at
    // any corpus size. The allocation a data-mixing run is planned from.
    "source_budget_fill" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val budget = 10000L
      val per = docs(s, d)
        .select(col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("__n"),
          TextAnalysis.qualityScore(col("text")).as("__q"))
        .groupBy(col("source"))
        .agg(sum(col("__n")).as("total_tokens"),
          round(avg(col("__q")), 6).as("mean_quality"))
      // bounded: nSources rows (the per-source aggregate), not the corpus
      val w = Window.orderBy(col("mean_quality").desc, col("source"))
      per
        .withColumn("fill_order", row_number().over(w).cast("long"))
        .withColumn("__cum_before", coalesce(
          sum(col("total_tokens"))
            .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("allocated_tokens",
          greatest(lit(0L), least(col("total_tokens"),
            lit(budget) - col("__cum_before"))))
        .select(col("source"), col("mean_quality"), col("total_tokens"),
          col("fill_order"), col("allocated_tokens"))
        .orderBy(col("fill_order"))
    }),

    // token-count histogram per source (fixed width-20 buckets): the corpus
    // shape report; one map-side bucket + one small aggregation
    "doc_len_histogram" -> ((s, d) =>
      docs(s, d)
        .select(col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("__n"))
        .groupBy(col("source"),
          (floor(col("__n") / 20) * 20).cast("long").as("bucket_lo"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__n")).as("sum_tokens"))
        .orderBy(col("source"), col("bucket_lo"))),

    // per-source unigram entropy H = -Σ p ln p (nats): corpus diversity
    // signal. Same fixed-point discipline as lm_score — each term's ln is
    // quantized to 1e-9 BEFORE the weighted integer sum, so the result is
    // order-free and engine-exact. Shuffle cost: one (source, token) count
    // aggregation (map-side combined), then one tiny per-source sum.
    "corpus_entropy" -> ((s, d) => {
      val tok = docs(s, d)
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("t"))
      val counts = tok.groupBy(col("source"), col("t"))
        .agg(count(lit(1)).as("c"))
      val totals = counts.groupBy(col("source"))
        .agg(sum(col("c")).as("__tot"), count(lit(1)).as("vocab"))
      counts.join(totals, Seq("source"))
        .withColumn("__fp",
          floor(log(col("c").cast("double") / col("__tot").cast("double"))
            * 1000000000.0 + 0.5).cast("long") * col("c"))
        .groupBy(col("source"))
        // decimal(38) accumulator: per-row __fp reaches ~2e10 per occurrence,
        // so a LONG sum overflows near ~5e8 tokens/source — exactly the
        // corpora this engine targets; DuckDB's oracle sums in HUGEINT
        .agg(first(col("vocab")).as("vocab"), first(col("__tot")).as("n_tokens"),
          sum(col("__fp").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .as("__s"))
        .select(col("source"), col("vocab"), col("n_tokens").cast("long").as("n_tokens"),
          round(-col("__s").cast("double") / 1000000000.0 /
            col("n_tokens").cast("double"), 6).as("entropy"))
        .orderBy(col("source"))
    }),

    // ---- retrieval ----
    // BM25 over a fixed query-term bag ("dup" is rare → high idf): per-term
    // tf is map-side, corpus stats are one broadcast row, no token shuffle
    "bm25_search" -> ((s, d) =>
      TextAnalysis.bm25(docs(s, d), "doc_id", "text",
        Seq("vector", "query", "dup"))
        .filter(col("bm25") > 0)
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(20)
        .select(col("doc_id"), round(col("bm25"), 6).as("bm25"))),

    // The SAME retrieval served from the STORED inverted index
    // (TextIndex): postings/termstats scans pruned to the query terms'
    // md5 buckets at planning time (plan-asserted in TextIndexSpec), corpus
    // stats folded from per-batch rows — the repeated-query access path at
    // corpus scale. Scores differ from bm25_search only in the summation
    // discipline (per-term round + decimal sum; see TextIndex Scaladoc).
    "bm25_indexed" -> ((s, d) =>
      TextIndex.bm25SearchIndexed(s, ensureTextIndex(s, d),
          Seq("vector", "query", "dup"))
        .select(col("id").as("doc_id"), col("bm25"))),

    // The SAME retrieval after an LSM-style TIER FOLD (base 60% + two
    // appended batches collapsed into one tier, base generation only
    // REFERENCED through tiermeta — compaction cost O(appended data)):
    // tiering is a storage-layout decision, so the scores must be
    // BYTE-IDENTICAL to bm25_indexed over the same full corpus.
    "bm25_tier_fold" -> ((s, d) =>
      TextIndex.bm25SearchIndexed(s, ensureTextTierIndex(s, d),
          Seq("vector", "query", "dup"))
        .select(col("id").as("doc_id"), col("bm25"))),

    // Serving after DELETE, before VACUUM: tombstoned docs (doc_id % 7 == 3)
    // are masked out of the candidates, surviving docs keep their PRE-delete
    // scores (corpus stats still count the deleted docs until compaction) —
    // the ANN index's masked-rows semantics on the text artifact. The oracle
    // replays exactly that: full-corpus stats, deleted ids filtered.
    "bm25_after_delete" -> ((s, d) =>
      TextIndex.bm25SearchIndexed(s, ensureTextDelIndex(s, d),
          Seq("vector", "query", "dup"))
        .select(col("id").as("doc_id"), col("bm25"))),

    // Serving after the VACUUM folded the tombstones: stats recomputed over
    // the surviving corpus, so scores CHANGE (idf/avgdl shift) — the oracle
    // replays the whole formula over `documents WHERE doc_id % 7 <> 3`.
    "bm25_after_vacuum" -> ((s, d) =>
      TextIndex.bm25SearchIndexed(s, ensureTextVacIndex(s, d),
          Seq("vector", "query", "dup"))
        .select(col("id").as("doc_id"), col("bm25"))),

    // Dedup probe after corpus takedowns (doc_id % 5 == 1 tombstoned):
    // deleted corpus docs stop generating candidates immediately. The probe
    // batch is a SLICE OF THE INDEXED CORPUS itself (doc_id % 23 == 1), so
    // every live probe doc self-matches at jaccard 1.0 and every tombstoned
    // one visibly loses its self-pair — the oracle replays the exact-Jaccard
    // join minus the deleted ids (5 self-pairs masked at sf0.01, plus a
    // genuine near-dup pair that survives).
    "dedup_index_after_delete" -> ((s, d) => {
      val all = docs(s, d)
      Dedup.nearDupAgainstDedupIndex(s, ensureDedupDelIndex(s, d),
          all.filter(col("doc_id") % 23 === 1), "doc_id", "text",
          threshold = 0.8)
        .select(col("batch_id"), col("corpus_id"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("batch_id"), col("corpus_id"))
    }),

    // ---- data-quality gate (Deequ-class, one pass each) ----
    // Per-column profile: ONE partial-aggregated pass no matter how many
    // columns; exact distincts (single Expand), numeric min/max/mean.
    "data_profile" -> ((s, d) =>
      graft.operators.DataQuality.profile(docs(s, d),
        Seq("doc_id", "lang", "n_chars", "source"))),

    // Declarative expectations, one aggregate row for all checks; includes
    // two deliberately failing checks so verdicts are demonstrably not
    // vacuous (n_chars tops out above 500; en alone is under 90%).
    "dq_expectations" -> ((s, d) => {
      import graft.operators.DataQuality._
      runExpectations(docs(s, d), Seq(
        expectRowCountBetween(1L, 10000000L),
        expectMaxNullFrac("text", 0.0),
        expectUnique("doc_id"),
        expectAcceptedValues("lang", Seq("en", "de", "fr", "es"), 0.5),
        expectAcceptedValues("lang", Seq("en"), 0.9),
        expectValuesBetween("n_chars", 0.0, 500.0)))
        // hash gate wants a deterministic row order; check names are unique
        .orderBy(col("check"))
    }),

    // Batched multi-query BM25 through the index in ONE pass over the
    // union of the batch's posting lists (fleet serving; the per-query
    // top-n window partitions by qid over candidate rows only).
    "bm25_batch" -> ((s, d) => {
      val qdf = s.createDataFrame(bm25BatchQueries).toDF("qid", "terms")
      TextIndex.bm25SearchIndexedBatch(s, ensureTextIndex(s, d), qdf, n = 10)
        .select(col("qid"), col("id"), col("bm25"))
    }),

    // Artifact integrity: the stored text index's own totals must equal a
    // first-principles recompute from the corpus (docs, tokens, vocabulary,
    // posting rows) — the oracle never reads the artifact, so a build bug
    // that dropped or duplicated postings would hash-mismatch here.
    "text_index_stats" -> ((s, d) => {
      val replayable = Set("num_docs", "num_tokens", "vocabulary_size",
        "posting_rows")
      TextIndex.textIndexStats(s, ensureTextIndex(s, d))
        .filter(col("property").isin(replayable.toSeq: _*))
        .orderBy(col("property"))
    }),

    // Retrieval at the RAG unit: BM25 over SLIDING CHUNKS served from a
    // stored chunk-grained text index (chunk_id = doc_id*100000 + chunk_ix,
    // both sides). Passages rank, not whole documents — what a context
    // assembler actually consumes; corpus stats (N, avgdl, df) are the
    // CHUNK table's own.
    "bm25_chunks" -> ((s, d) =>
      TextIndex.bm25SearchIndexed(s, ensureChunkIndex(s, d),
          Seq("vector", "query", "dup"))
        .select(col("id").as("chunk_id"), col("bm25"))),

    // Context assembly at the RAG unit: the chunk-index top-20 greedily
    // packed under a 300-token budget in score order — what actually goes
    // into the prompt. The pack window runs over the 20-row top list only
    // (bounded by construction); chunk text joins back broadcast-sized.
    // At 100 TB the chunk text would come from the stored chunk table; the
    // recompute here keeps the oracle self-contained.
    "rag_context_pack" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // persisted: the 20-row top list feeds BOTH the doc-id prune below and
      // the text join — one index search, not two
      val top = graft.CacheScope.persist(
        TextIndex.bm25SearchIndexed(s, ensureChunkIndex(s, d),
            Seq("vector", "query", "dup"), n = 20)
          .select(col("id").as("chunk_id"), col("bm25")))
      // re-chunk ONLY the top list's own documents (chunk_id encodes the
      // doc id), not the whole corpus: an inner join on chunk_id can only
      // match chunks of those docs, so the result is unchanged while the
      // chunk-text recompute drops from O(corpus) to O(top-list docs).
      // The id set is collected (bounded by n=20 by construction — the
      // same bounded-collect class as the limit(3) probes) so the filter
      // is a LITERAL In that pushes down to the parquet scan, instead of a
      // semi-join exchange.
      val ids = top.select(floor(col("chunk_id") / lit(100000L))
          .cast("long").as("d")).distinct()
        .collect().map(_.getLong(0)).toSeq
      val chunks = ragChunksOf(docs(s, d).filter(col("doc_id").isin(ids: _*)))
      top.join(chunks, "chunk_id")
        .withColumn("n_tokens",
          size(TextAnalysis.tokens(col("chunk_text"))).cast("long"))
        // bounded global window: the 20-row post-limit top list only
        .withColumn("cum_tokens", sum(col("n_tokens")).over(
          Window.orderBy(col("bm25").desc, col("chunk_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("cum_tokens") <= 300)
        .select(col("chunk_id"), col("bm25"), col("n_tokens"),
          col("cum_tokens"))
        .orderBy(col("bm25").desc, col("chunk_id"))
    }),

    // Exact-phrase search through the positional postings: an
    // |phrase|-way pruned posting intersection on doc id + a per-row
    // adjacency check over the position arrays — sized by the phrase's
    // rarest term, never the corpus.
    "phrase_search" -> ((s, d) =>
      TextIndex.phraseSearchIndexed(s, ensureTextIndex(s, d),
          Seq("table", "hash"), n = 30)
        .select(col("id").as("doc_id"), col("n_occurrences"))),

    // Proximity retrieval through the same positional postings: docs where
    // all three terms co-occur within ±4 tokens of a 'table' anchor, anchor
    // count as the score — the unordered-window generalization of
    // phrase_search, same pruned |terms|-way intersection plan.
    "proximity_search" -> ((s, d) =>
      TextIndex.proximitySearchIndexed(s, ensureTextIndex(s, d),
          Seq("table", "join", "hash"), slop = 4, n = 30)
        .select(col("id").as("doc_id"), col("n_anchors"))),

    // Hybrid retrieval with reciprocal-rank fusion: fuse the BM25 top-50 and
    // the vector top-50 (same fixed query as knn_exact_cosine) by
    // RRF(d) = Σ 1/(60+rank_i), the standard hybrid-search combiner. Both
    // candidate sets arrive via TakeOrderedAndProject (partial per-partition
    // top-k), so the row_number windows — global-sort by nature — only ever
    // see 50 rows; at 100 TB the scan-side cost is the two retrievals, not
    // the fusion. Ranks are over ROUNDED scores (ties to id), the same
    // engine-determinism discipline as the knn_exact_* queries.
    "hybrid_rrf" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      VectorFunctions.register(s)
      val e = emb(s, d)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      val vtop = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .select(col("vec_id").as("id"),
          round(call_function("vec_cosine_dist", col("embedding"), col("qvec")), 6)
            .as("vdist"))
        .orderBy(col("vdist"), col("id")).limit(50)
        // global window is BOUNDED: the 50-row post-limit top list only
        .withColumn("ra", row_number().over(Window.orderBy(col("vdist"), col("id"))))
      Similarity.rrfFuse(vtop,
        TextAnalysis.bm25TopRanked(docs(s, d), "doc_id", "text",
          Seq("vector", "query", "dup"), n = 50))
    }),

    // ---- clustering ----
    // one deterministic Lloyd step over md5-picked centroids; fixed-point
    // centroid means make the whole step hash-matchable by the oracle
    "kmeans_refine" -> ((s, d) =>
      Similarity.kmeansRefineDeterministic(emb(s, d), "vec_id", "embedding",
        nCentroids = 8, seed = "km42")
        .select(col("cluster").cast("long").as("cluster"), col("n_members"),
          round(col("centroid_norm"), 6).as("centroid_norm"),
          round(col("shift"), 6).as("shift"))
        .orderBy(col("cluster"))),

    // near-dup clusters -> keep the best-quality member per cluster (ties to
    // the smallest doc_id): the decision step that turns dedup SIGNALS into
    // the actual survivor set a curation pipeline ships
    "dedup_keep_best" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_id"))
      val byQuality = w.orderBy(col("q6").desc, col("doc_id"))
      val pairs = Dedup.minhashNearDupPairs(docs(s, d), "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.8)
        .select(col("id_a"), col("id_b"))
      val clusters = Curation.connectedComponents(pairs)
      // score only cluster MEMBERS (the broadcast semi-join prunes the
      // corpus scan): quality is consumed solely inside clusters, and dup
      // clusters are a vanishing fraction of a 100 TB corpus
      val members = docs(s, d).join(
        broadcast(clusters.select(col("id").as("doc_id"))), Seq("doc_id"), "left_semi")
      val quality = TextAnalysis.quality(members, "doc_id", "text")
        .select(col("doc_id"), round(col("quality_score"), 6).as("q6"))
      clusters.join(quality, clusters("id") === quality("doc_id"))
        .select(col("cluster_id"), col("doc_id"), col("q6"))
        .withColumn("rn", row_number().over(byQuality))
        .withColumn("n_members", count(lit(1)).over(w))
        .filter(col("rn") === 1)
        .select(col("cluster_id"), col("doc_id").as("keep_id"),
          col("q6").as("quality_score"), col("n_members"))
        .orderBy(col("cluster_id"))
    }),

    // ---- graph / shard planning ----
    // PageRank centrality over the exact 5-NN cosine graph (every vector's
    // 5 nearest others, directed): the curation-side "authority" signal and
    // the hubness complement. Edges come from the partial-top-k kNN join
    // (k=6 including self, self dropped); at 100 TB the ANN index supplies
    // the edge list instead — that path is RUNNING CODE, see
    // graph_pagerank_index (DiskannIndex.edges) in AnnQueries. 3 fixed
    // iterations, each ONE join + ONE combined aggregation, contributions
    // fixed-point quantized so the ranks are partition-order independent
    // and the oracle replays all 3 iterations.
    "graph_pagerank" -> ((s, d) => {
      val edges = Similarity.knnGraph(emb(s, d), "vec_id", "embedding", k = 5)
        .select(col("src"), col("dst"))
      GraphOps.pageRank(edges, nIter = 3, damping = 0.85)
        .select(col("id").as("vec_id"), round(col("r"), 9).as("pagerank"))
        .orderBy(col("pagerank").desc, col("vec_id"))
        .limit(25)
    }),

    // cross-domain composition: PageRank authority over the embedding
    // graph × the text quality score on the parallel documents row — the
    // "importance-weighted quality" ranking a curation pass would sample
    // by. Reuses both verified pipelines end-to-end.
    "authority_curate" -> ((s, d) => {
      val edges = Similarity.knnGraph(emb(s, d), "vec_id", "embedding", k = 5)
        .select(col("src"), col("dst"))
      val pr = GraphOps.pageRank(edges, nIter = 3, damping = 0.85)
        .select(col("id").as("doc_id"), round(col("r"), 9).as("pagerank"))
      val q = TextAnalysis.quality(docs(s, d), "doc_id", "text")
        .select(col("doc_id"), round(col("quality_score"), 6).as("quality"))
      pr.join(q, "doc_id")
        .select(col("doc_id"), col("pagerank"), col("quality"),
          round(col("pagerank") * col("quality"), 9).as("weighted_score"))
        .orderBy(col("weighted_score").desc, col("doc_id"))
        .limit(20)
    }),

    // semi-supervised label propagation: every 10th vector keeps its true
    // label as a seed; two rounds of majority vote over the same 5-NN
    // graph spread labels to the rest (the weak-labeling pass). Each round
    // is one join + one counting aggregation; the arg-max is
    // max(struct(cnt, -label)) so no window sort touches the vote table.
    "label_propagation" -> ((s, d) => {
      val e = emb(s, d)
      val edges = Similarity.knnGraph(e, "vec_id", "embedding", k = 5)
        .select(col("src"), col("dst"))
      val seeds = e.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("id"), col("label"))
      GraphOps.labelPropagate(edges, seeds, nIter = 2)
        .select(col("id").as("vec_id"), col("label"), col("src_kind"))
        .orderBy(col("vec_id"))
    }),

    // clustering-eval purity: per IVF cluster, member count, majority
    // label, purity fraction, and distinct-label count — integer counts +
    // one division, argmax via max(struct(cnt, -label)), no window
    "cluster_purity" -> ((s, d) => {
      val e = emb(s, d)
      val model = Similarity.trainIvfDeterministic(e, "vec_id", "embedding",
        nCentroids = 8, seed = "topics42")
      Similarity.ivfAssign(e, "vec_id", "embedding", model)
        .join(e.select(col("vec_id").as("id"), col("label")), "id")
        .groupBy(col("cluster").cast("long").as("cluster"),
          col("label").cast("long").as("label"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("cluster"))
        .agg(sum(col("__c")).as("n_members"),
          max(struct(col("__c"), (-col("label")).as("__neg"))).as("__best"),
          countDistinct(col("label")).as("n_labels"))
        .select(col("cluster"), col("n_members"),
          (-col("__best.__neg")).as("majority_label"),
          round(col("__best.__c").cast("double") / col("n_members"), 6)
            .as("purity"),
          col("n_labels"))
        .orderBy(col("cluster"))
    }),

    // train/test LEAKAGE detector: verified near-dup pairs (exact jaccard
    // >= 0.8 through the LSH path) whose members landed in different
    // md5-hash splits — the contamination a random split always creates
    // and a near-dup-aware split must avoid. Pair table is small; two
    // broadcast-able split joins.
    "split_leakage" -> ((s, d) => {
      val pairs = Dedup.minhashNearDupPairs(docs(s, d), "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.8)
        .select(col("id_a"), col("id_b"))
      val splits = Curation.hashSplit(docs(s, d), "doc_id",
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), seed = "split42")
        .select(col("doc_id"), col("split"))
      pairs
        .join(splits.select(col("doc_id").as("id_a"), col("split").as("__sa")),
          "id_a")
        .join(splits.select(col("doc_id").as("id_b"), col("split").as("__sb")),
          "id_b")
        .groupBy(least(col("__sa"), col("__sb")).as("split_lo"),
          greatest(col("__sa"), col("__sb")).as("split_hi"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("split_lo"), col("split_hi"))
    }),

    // the FIX for split_leakage: split by near-dup CLUSTER representative
    // (min doc_id of the component; singletons key on themselves), so
    // every near-dup pair lands in ONE split by construction — the
    // leakage-zero property is asserted in OperatorsSpec. Output: per
    // split, docs + distinct groups routed there.
    "split_nodup" -> ((s, d) => {
      val pairs = Dedup.minhashNearDupPairs(docs(s, d), "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.8)
      val clusters = Curation.connectedComponents(
        pairs.select(col("id_a"), col("id_b")))
        .select(col("id").as("doc_id"), col("cluster_id"))
      val keyed = docs(s, d).select(col("doc_id"))
        .join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("rep"))
      Curation.hashSplit(keyed, "rep",
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), seed = "split42")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("rep")).as("n_groups"))
        .orderBy(col("split"))
    }),

    // winsorization audit: per-dim p01/p99 clip thresholds (exact linear-
    // interpolated percentiles — Spark `percentile` and DuckDB
    // `quantile_cont` share the definition, as doc_len_percentiles
    // establishes) plus how many values each clip would touch — the
    // embedding-QA pass before int8 quantization. Explode is map-side;
    // both aggregations group on the bounded dim key.
    "embed_winsorize" -> ((s, d) => {
      // persisted: ex feeds the percentile aggregation AND the join back
      val ex = graft.CacheScope.persist(emb(s, d)
        .select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("dim").cast("long").as("dim"), col("v").cast("double").as("v")))
      val st = ex.groupBy(col("dim"))
        .agg(expr("percentile(v, 0.01)").as("__p01"),
          expr("percentile(v, 0.99)").as("__p99"))
      ex.join(st, "dim").groupBy(col("dim"))
        .agg(round(max(col("__p01")), 6).as("p01"),
          round(max(col("__p99")), 6).as("p99"),
          sum(when(col("v") < col("__p01"), 1L).otherwise(0L)).as("n_below"),
          sum(when(col("v") > col("__p99"), 1L).otherwise(0L)).as("n_above"))
        .orderBy(col("dim"))
    }),

    // cluster topic labeling: IVF-assign every embedding to one of 8
    // md5-deterministic centroids, join the cluster id onto the parallel
    // documents row, and take each cluster's top-5 tokens by count — the
    // "what is this cluster about" browse pass. Assignment is a broadcast-
    // model map pass; the wordcount is one combined aggregation; only the
    // tiny (cluster, token) count table hits the rank window.
    "cluster_topics" -> ((s, d) => {
      val e = emb(s, d)
      val model = Similarity.trainIvfDeterministic(e, "vec_id", "embedding",
        nCentroids = 8, seed = "topics42")
      val toks = docs(s, d).select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      Similarity.ivfAssign(e, "vec_id", "embedding", model)
        .select(col("id").as("doc_id"), col("cluster").cast("long").as("cluster"))
        .join(toks, "doc_id")
        .groupBy(col("cluster"), col("token")).agg(count(lit(1)).as("cnt"))
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))
            .orderBy(col("cnt").desc, col("token"))).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("cluster"), col("rnk"), col("token"), col("cnt"))
        .orderBy(col("cluster"), col("rnk"))
    }),

    // top principal component by power iteration (anisotropy / rogue-dim
    // check): data pass = ONE O(dims²)-state fixed-point aggregation (the
    // embed_covariance kernel); the 64×64 power loop runs on the driver's
    // single aggregated row and the oracle replays it fold-for-fold
    "pca_top_component" -> ((s, d) =>
      Similarity.pcaTopComponent(emb(s, d), "embedding", dims = 64, nIter = 4)
        .orderBy(col("dim"))),

    // deterministic shard manifest for training-data export: md5-bucketed
    // shard assignment (pure function of doc_id — backfill-stable, engine-
    // replayable) + per-shard row/char totals; one md5 per row, one
    // combined aggregation
    "shard_plan" -> ((s, d) =>
      Curation.shardPlan(docs(s, d), "doc_id", col("n_chars"), nShards = 16,
          seed = "shard42")
        .orderBy(col("shard"))),

    // per-source quantile normalization of the quality score: percent_rank
    // within source makes scores comparable across sources with different
    // score distributions (the mixing-weight prerequisite). One window
    // shuffle on source; ranks, not raw scores, cross sources.
    "quality_quantile_norm" -> ((s, d) => {
      val q = TextAnalysis.quality(docs(s, d), "doc_id", "text")
        .select(col("doc_id"), round(col("quality_score"), 6).as("__q"))
        .join(docs(s, d).select(col("doc_id"), col("source")), Seq("doc_id"))
      q.withColumn("q_pct",
          round(percent_rank().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("source"))
            .orderBy(col("__q"), col("doc_id"))), 6))
        .select(col("doc_id"), col("source"), col("q_pct"))
        .orderBy(col("doc_id"))
    }),

    // ---- multimodal ----
    "multimodal_meta" -> ((s, d) =>
      Multimodal.decodeMeta(Multimodal.mediaFromDocuments(docs(s, d)))
        .orderBy(col("media_id"))),

    // media → stub features → frame sampling: rows-only plumbing checks
    "multimodal_frames" -> ((s, d) =>
      Multimodal.sampleFrames(Multimodal.mediaFromDocuments(docs(s, d)))
        .groupBy(col("media_id")).agg(count(lit(1)).as("n_frames"))
        .orderBy(col("media_id"))),

    // stub resize of image payloads to 64x48 (byte budget 768): the output
    // length is a closed form over input byte length, so oracle-checkable
    "multimodal_resize" -> ((s, d) =>
      Multimodal.resizeImages(Multimodal.mediaFromDocuments(docs(s, d)), 64, 48)
        .select(col("media_id"), col("width"), col("height"), col("n_bytes"))
        .orderBy(col("media_id"))),

    // cross-media duplicate-FRAME detection (the video near-dup primitive:
    // repeated intros/outros/stock footage): hash every sampled frame, one
    // occurrence-count shuffle on the 128-bit frame hash, per-media dup
    // fraction — exact-dedup cost class on the frame stream, never
    // pairwise. Frames are byte slices (stub sampler), so the oracle
    // replays them with character substrings (fixture is pure ASCII:
    // byte offsets == char offsets, same property multimodal_meta uses).
    "multimodal_frame_dedup" -> ((s, d) => {
      // persisted: frames feeds the occurrence count AND the join back
      val frames = graft.CacheScope.persist(Multimodal
        .sampleFrames(Multimodal.mediaFromDocuments(docs(s, d)))
        .select(col("media_id"), md5(col("frame")).as("fh")))
      val counts = frames.groupBy(col("fh")).agg(count(lit(1)).as("n_occ"))
      frames.join(counts, "fh")
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_dup_frames"))
        .orderBy(col("media_id"))
    }),
  )

  private val enList = TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(", ")
  // lang_id_multi's fixture texts: one per profile, an unknown, and an
  // es/pt tie (2 hits each — the EARLIER profile must win). Apostrophes
  // avoided: the same literals are spliced into the DuckDB VALUES oracle.
  private[queries] val langFixture: Seq[(Long, String)] = Seq(
    1L -> "the cat is in the garden and a dog is of note to all",
    2L -> "el perro y la casa grande de los vecinos que viven en madrid",
    3L -> "der hund und die katze das ist nicht ein spiel heute",
    4L -> "le chat et les chiens des rues une belle ville est grande",
    5L -> "的 了 是 我 不 在 有 人 大 小",
    6L -> "não vou para casa em uma hora com os amigos e depois das aulas",
    7L -> "il cane che corre di notte per la strada con i suoi amici sono anche qui",
    8L -> "het is een mooie dag van de week dat wij niet zijn voor het werk",
    9L -> "и в не на что это как всегда было и будет потом",
    10L -> "zzz qqq www rrr",
    11L -> "en los para com")

  // per-profile hit columns + the argmax CASE chain, generated from the
  // SAME TextAnalysis.langOrder the Column/kernel forms read — adding a
  // profile extends engine, kernel and oracle together (no drift)
  private def langHitsSql: String = TextAnalysis.langOrder
    .map(l => s"${hitsSql(l)} AS h_$l").mkString(",\n             ")

  private def langCaseSql: String = {
    val o = TextAnalysis.langOrder
    val whens = ((o.length - 1) to 1 by -1).map { i =>
      s"WHEN h_${o(i)} > greatest(${("0" +: o.take(i).map("h_" + _)).mkString(", ")}) THEN '${o(i)}'"
    }
    (s"CASE ${whens.head}" +: whens.tail.map("       " + _) :+
      s"       WHEN h_${o.head} > 0 THEN '${o.head}'" :+
      "       ELSE 'und' END").mkString("\n")
  }

  private def hitsSql(lang: String) = {
    val list = TextAnalysis.stopwords(lang).map(w => s"'$w'").mkString(", ")
    s"len(list_filter(w, x -> x IN ($list)))"
  }

  // shared CTE chain of the bigram-LM replay (lm_score + lm_buckets): ends
  // at `agg(doc_id, n_bigrams, s)`; `t` carries source for the bucket query
  private val sqlLmAgg =
    s"""WITH t AS (SELECT doc_id, source, $sqlTokens AS w FROM documents),
       |bg AS (SELECT doc_id, unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2 FROM t),
       |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
       |c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY 1),
       |vv AS (SELECT count(*) AS v FROM (SELECT w1 AS w FROM c2 UNION SELECT w2 FROM c2)),
       |sc AS (SELECT bg.doc_id,
       |        CAST(floor(ln((CAST(c2.c2 AS DOUBLE) + 1.0) / (CAST(c1.c1 AS DOUBLE) + CAST(v AS DOUBLE)))
       |             * 1000000000.0 + 0.5) AS BIGINT) AS fp
       |       FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vv),
       |agg AS (SELECT doc_id, count(*) AS n_bigrams, sum(fp) AS s FROM sc GROUP BY 1)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id, count(*) AS cnt
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,

    "dedup_normalized" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS norm_hash,
        |       min(doc_id) AS canonical_id, count(*) AS cnt
        |FROM documents GROUP BY 1 ORDER BY norm_hash""".stripMargin,

    // independent recomputation of the md5-simhash pipeline: per-token low-60
    // md5 bits, per-bit majority vote (votes > 0), then ALL pairs at Hamming
    // distance <= 3 (the banded candidate join is lossless at that radius)
    "dedup_simhash" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
         |tok AS (SELECT doc_id, unnest(w) AS tk FROM t WHERE len(w) > 0),
         |h AS (SELECT doc_id, ('0x' || substr(md5(tk), 18, 15))::UBIGINT AS h FROM tok),
         |bits AS (SELECT doc_id, r.range AS b,
         |           CASE WHEN 2 * sum(CASE WHEN (h >> CAST(r.range AS INT)) & 1 = 1
         |                                  THEN 1 ELSE 0 END) > count(*)
         |                THEN 1 ELSE 0 END AS bit
         |         FROM h CROSS JOIN range(60) r GROUP BY 1, 2),
         |sig AS (SELECT doc_id,
         |          sum(CASE WHEN bit = 1 THEN (1::UBIGINT << CAST(b AS INT))
         |              ELSE 0::UBIGINT END) AS sig
         |        FROM bits GROUP BY 1)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    "dedup_minhash" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
         |g AS (SELECT doc_id, ${sqlShingles("w")} AS sh FROM t)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |             len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
         |FROM g a JOIN g b ON a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |      len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,

    "ngram_jaccard_top" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
         |g AS (SELECT doc_id, ${sqlShingles("w")} AS sh FROM t)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |             len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
         |FROM g a JOIN g b ON a.doc_id < b.doc_id
         |ORDER BY jaccard DESC, id_a, id_b LIMIT 20""".stripMargin,

    "containment_top" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
         |g AS (SELECT doc_id, ${sqlShingles("w")} AS sh FROM t)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh), 6) AS contain_a_in_b,
         |       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(b.sh), 6) AS contain_b_in_a,
         |       greatest(round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh), 6),
         |                round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(b.sh), 6)) AS containment
         |FROM g a JOIN g b ON a.doc_id < b.doc_id
         |ORDER BY containment DESC, id_a, id_b LIMIT 20""".stripMargin,

    "dup_source_matrix" ->
      s"""WITH t AS (SELECT doc_id, source, $sqlTokens AS w FROM documents),
         |g AS (SELECT doc_id, source, ${sqlShingles("w")} AS sh FROM t),
         |p AS (SELECT a.source AS sa, b.source AS sb
         |      FROM g a JOIN g b ON a.doc_id < b.doc_id
         |      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |            len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8)
         |SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
         |       count(*) AS n_pairs
         |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "quality_classifier" ->
      s"""WITH t AS (SELECT doc_id, text, $sqlTokens AS w FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(w) AS DOUBLE) AS n_tok,
         |  CAST(length(text) AS DOUBLE) AS n_char,
         |  CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) AS strip,
         |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS digits,
         |  CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) AS alpha_words,
         |  CAST(len(list_filter(['the', 'a', 'of', 'and', 'to', 'in', 'is'],
         |       s -> list_contains(list_transform(w, x -> lower(x)), s))) AS DOUBLE) AS stop_distinct
         |  FROM t),
         |f AS (SELECT doc_id,
         |  ln(1.0 + n_tok) AS f_len,
         |  stop_distinct AS f_stop,
         |  CASE WHEN n_tok > 0 THEN alpha_words / n_tok ELSE 0.0 END AS f_alpha,
         |  CASE WHEN n_char > 0 THEN digits / n_char ELSE 0.0 END AS f_digit,
         |  CASE WHEN n_tok > 0 THEN strip / n_tok ELSE 0.0 END AS f_mean_len
         |  FROM m)
         |SELECT doc_id,
         |  round(1.0 / (1.0 + exp(-(-4.0 + f_len * 0.35 + f_stop * 0.45 +
         |    f_alpha * 2.0 - f_digit * 3.0 + f_mean_len * 0.15))), 6) AS quality_prob,
         |  round(1.0 / (1.0 + exp(-(-4.0 + f_len * 0.35 + f_stop * 0.45 +
         |    f_alpha * 2.0 - f_digit * 3.0 + f_mean_len * 0.15))), 6) >= 0.5 AS keep
         |FROM f ORDER BY doc_id""".stripMargin,

    "pmi_bigrams" ->
      s"""WITH t AS (SELECT $sqlTokens AS w FROM documents),
         |uni AS (SELECT unnest(w) AS tok FROM t),
         |uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY 1),
         |tot AS (SELECT CAST((SELECT count(*) FROM uni) AS DOUBLE) AS nt,
         |               CAST((SELECT sum(greatest(len(w) - 1, 0)) FROM t) AS DOUBLE) AS nb),
         |bi AS (SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bigram
         |       FROM t WHERE len(w) >= 2),
         |bc AS (SELECT bigram, count(*) AS n FROM bi GROUP BY 1 HAVING count(*) >= 5)
         |SELECT bigram, n,
         |  round(ln(CAST(n AS DOUBLE) * nt * nt / (nb * a.c * b.c)), 6) AS pmi
         |FROM bc, tot, uc a, uc b
         |WHERE a.tok = string_split(bigram, ' ')[1]
         |  AND b.tok = string_split(bigram, ' ')[2]
         |ORDER BY pmi DESC, bigram LIMIT 30""".stripMargin,

    "ngram_novelty" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
         |g AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= 8
         |    THEN [array_to_string(w[i:i+7], ' ') for i in range(1, len(w) - 6)]
         |    ELSE [array_to_string(w, ' ')] END) AS sh FROM t),
         |e AS (SELECT doc_id, unnest(sh) AS s FROM g),
         |f AS (SELECT s, min(doc_id) AS first_doc FROM e GROUP BY 1)
         |SELECT e.doc_id, count(*) AS n_spans,
         |  CAST(sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |  round(CAST(sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         |        / count(*), 6) AS novelty
         |FROM e JOIN f USING (s) GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "vocab_coverage" ->
      s"""WITH t AS (SELECT unnest($sqlTokens) AS token FROM documents),
         |c AS (SELECT token, count(*) AS cnt FROM t GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM c),
         |top AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token LIMIT 100)
         |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rnk,
         |       token, cnt,
         |       round(CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
         |                 ROWS UNBOUNDED PRECEDING) AS DOUBLE) / tot, 6) AS cum_share
         |FROM top CROSS JOIN tot ORDER BY rnk""".stripMargin,

    "cms_heavy_ngrams" ->
      s"""WITH t AS (SELECT $sqlTokens AS w FROM documents),
         |g AS (SELECT unnest([array_to_string(w[i:i+4], ' ') for i in range(1, len(w) - 3)]) AS g
         |      FROM t WHERE len(w) >= 5),
         |pos AS (SELECT g, j.range AS j,
         |        ('0x' || substr(md5(CAST(j.range AS VARCHAR) || ':' || g), 18, 15))::UBIGINT % 16384 AS p
         |        FROM g CROSS JOIN range(4) j),
         |sk AS (SELECT j, p, count(*) AS c FROM pos GROUP BY 1, 2),
         |top AS (SELECT g, count(*) AS n_true FROM g GROUP BY 1
         |        ORDER BY n_true DESC, g LIMIT 20),
         |cand AS (SELECT g, n_true, j.range AS j,
         |        ('0x' || substr(md5(CAST(j.range AS VARCHAR) || ':' || g), 18, 15))::UBIGINT % 16384 AS p
         |        FROM top CROSS JOIN range(4) j)
         |SELECT c.g AS ngram, c.n_true, min(sk.c) AS n_cms
         |FROM cand c JOIN sk USING (j, p) GROUP BY 1, 2
         |ORDER BY n_true DESC, ngram""".stripMargin,

    "vocab_overlap" ->
      s"""WITH tok AS (SELECT DISTINCT source, unnest($sqlTokens) AS tok FROM documents),
         |sz AS (SELECT source, count(*) AS n FROM tok GROUP BY 1),
         |i AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
         |      FROM tok a JOIN tok b ON a.tok = b.tok AND a.source < b.source
         |      GROUP BY 1, 2)
         |SELECT source_a, source_b, n_common,
         |  round(CAST(n_common AS DOUBLE) / (x.n + y.n - n_common), 6) AS vocab_jaccard
         |FROM i JOIN sz x ON x.source = i.source_a
         |       JOIN sz y ON y.source = i.source_b
         |ORDER BY source_a, source_b""".stripMargin,

    "kmv_vocab_distinct" ->
      s"""WITH tok AS (SELECT DISTINCT source, unnest($sqlTokens) AS tok FROM documents),
         |h AS (SELECT DISTINCT source,
         |        ('0x' || substr(md5(tok), 18, 15))::UBIGINT AS h FROM tok),
         |r AS (SELECT source, h,
         |        row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM h),
         |sk AS (SELECT source, count(*) AS n_sk,
         |         max(CASE WHEN rn = 256 THEN h END) AS hk
         |       FROM r WHERE rn <= 256 GROUP BY 1),
         |ex AS (SELECT source, count(*) AS n_exact FROM h GROUP BY 1),
         |est AS (SELECT ex.source, n_exact,
         |    round(CASE WHEN n_sk < 256 THEN CAST(n_sk AS DOUBLE)
         |          ELSE 255.0 * 1.152921504606846976e18 / CAST(hk AS DOUBLE)
         |          END, 3) AS n_est
         |  FROM ex JOIN sk USING (source))
         |SELECT source, n_exact, n_est,
         |  round(abs(n_est - n_exact) / n_exact, 4) AS rel_err
         |FROM est ORDER BY source""".stripMargin,

    "kmv_vocab_overlap" ->
      s"""WITH tok AS (SELECT DISTINCT source, unnest($sqlTokens) AS tok FROM documents),
         |hh AS (SELECT DISTINCT source,
         |        ('0x' || substr(md5(tok), 18, 15))::UBIGINT AS h FROM tok),
         |r AS (SELECT source, h,
         |        row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM hh),
         |sk AS (SELECT source, h FROM r WHERE rn <= 256),
         |srcs AS (SELECT DISTINCT source FROM sk),
         |pairs AS (SELECT a.source AS ga, b.source AS gb
         |          FROM srcs a JOIN srcs b ON a.source < b.source),
         |pe AS (SELECT ga, gb, h,
         |         max(CASE WHEN source = ga THEN 1 ELSE 0 END) AS in_a,
         |         max(CASE WHEN source = gb THEN 1 ELSE 0 END) AS in_b
         |       FROM pairs JOIN sk ON source = ga OR source = gb
         |       GROUP BY 1, 2, 3),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
         |       FROM pe),
         |ag AS (SELECT ga, gb, count(*) AS n_kept,
         |         sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS n_both,
         |         max(CASE WHEN rn = 256 THEN h END) AS hk
         |       FROM rk WHERE rn <= 256 GROUP BY 1, 2),
         |est AS (SELECT ga AS source_a, gb AS source_b,
         |    round(CAST(n_both AS DOUBLE) / n_kept, 6) AS jac_est,
         |    round(CASE WHEN n_kept < 256 THEN CAST(n_kept AS DOUBLE)
         |          ELSE 255.0 * 1.152921504606846976e18 / CAST(hk AS DOUBLE)
         |          END, 3) AS union_est
         |  FROM ag)
         |SELECT source_a, source_b, jac_est, union_est,
         |  round(jac_est * union_est, 3) AS inter_est
         |FROM est ORDER BY source_a, source_b""".stripMargin,

    "doc_keywords" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
         |tok AS (SELECT doc_id, unnest(w) AS token FROM t),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dfreq AS (SELECT token, count(*) AS df_t FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |r AS (SELECT doc_id, token,
         |    round(CAST(tf AS DOUBLE) * ln(1.0 + CAST(n_docs AS DOUBLE) / CAST(df_t AS DOUBLE)), 6) AS tfidf
         |  FROM tf JOIN dfreq USING (token) CROSS JOIN n),
         |k AS (SELECT doc_id, token, tfidf,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rnk
         |  FROM r)
         |SELECT doc_id, rnk, token, tfidf FROM k WHERE rnk <= 3
         |ORDER BY doc_id, rnk""".stripMargin,

    "lang_id" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
         |h AS (SELECT doc_id, $langHitsSql FROM t)
         |SELECT doc_id,
         |  $langCaseSql AS lang_pred
         |FROM h ORDER BY doc_id""".stripMargin,

    "token_counts" ->
      s"""SELECT doc_id, len($sqlTokens) AS n_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,

    // confusion matrix: the lang_id CASE chain grouped against stored lang
    "lang_confusion" ->
      s"""WITH t AS (SELECT doc_id, lang, $sqlTokens AS w FROM documents),
         |h AS (SELECT doc_id, lang, $langHitsSql FROM t),
         |p AS (SELECT lang,
         |  $langCaseSql AS lang_pred
         |  FROM h)
         |SELECT lang, lang_pred, count(*) AS n
         |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // same generated hits/CASE chain over the in-code fixture texts — the
    // VALUES are spliced from the SAME Scala literal the engine query reads
    "lang_id_multi" ->
      s"""WITH v(doc_id, text) AS (VALUES
         |  ${langFixture.map { case (i, t) => s"($i, '$t')" }.mkString(",\n  ")}),
         |t AS (SELECT doc_id, $sqlTokens AS w FROM v),
         |h AS (SELECT doc_id, $langHitsSql FROM t)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id, $langCaseSql AS lang_pred
         |FROM h ORDER BY doc_id""".stripMargin,

    // alpha-sampling replay: exact integer token totals, shares flattened by
    // pow(p, -0.7), rates rounded to 9 decimals (engine-replayable pow),
    // md5-uniform keep
    "sample_temperature" ->
      s"""WITH t AS (SELECT doc_id, lang, len($sqlTokens) AS n FROM documents),
         |s AS (SELECT lang, CAST(sum(n) AS BIGINT) AS toks FROM t GROUP BY 1),
         |p AS (SELECT lang, toks, CAST(toks AS DOUBLE) / CAST(sum(toks) OVER () AS DOUBLE) AS p FROM s),
         |wt AS (SELECT lang, toks, CASE WHEN toks > 0 THEN pow(p, 0.3 - 1) END AS w FROM p),
         |r AS (SELECT lang, CASE WHEN toks = 0 THEN 1.0
         |                        ELSE round(w / max(w) OVER (), 9) END AS rate FROM wt)
         |SELECT t.doc_id, t.lang FROM t JOIN r USING (lang)
         |WHERE ('0x' || substr(md5('temp42:' || CAST(doc_id AS VARCHAR)), 18, 15))::UBIGINT
         |      / 1152921504606846976.0 < rate
         |ORDER BY doc_id""".stripMargin,

    // fixed-point centroid replay (same quantization as kmeans_refine):
    // floor(v·2^20 + 0.5) longs summed exactly, divided back per dimension
    "embed_centroids" ->
      """WITH q AS (SELECT label,
        |    [CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)
        |     for i in range(1, 65)] AS qv
        |  FROM embeddings),
        |s AS (SELECT label, CAST(r.range AS BIGINT) - 1 AS dim_idx,
        |        sum(qv[CAST(r.range AS INT)]) AS sq, count(*) AS n
        |      FROM q CROSS JOIN range(1, 65) r GROUP BY 1, 2)
        |SELECT CAST(label AS BIGINT) AS label, dim_idx,
        |       round(CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0), 6) AS value
        |FROM s ORDER BY label, dim_idx""".stripMargin,

    // fixed-point second moments replayed in SQL: same floor(x·2^20 + .5) /
    // floor(x·y·2^30 + .5) quantization, same division order, so every
    // double op is identical to the Scala aggregator's
    "embed_covariance" ->
      """WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |p AS (SELECT i.range AS i, j.range AS j
        |      FROM range(0, 8) i, range(0, 8) j WHERE i.range <= j.range),
        |s AS (SELECT p.i, p.j, count(*) AS n,
        |    sum(CAST(floor(e[CAST(p.i + 1 AS INT)] * 1048576.0 + 0.5) AS BIGINT)) AS sx,
        |    sum(CAST(floor(e[CAST(p.j + 1 AS INT)] * 1048576.0 + 0.5) AS BIGINT)) AS sy,
        |    sum(CAST(floor(e[CAST(p.i + 1 AS INT)] * e[CAST(p.j + 1 AS INT)] * 1073741824.0 + 0.5) AS BIGINT)) AS sxy
        |  FROM v, p GROUP BY p.i, p.j),
        |c AS (SELECT i, j,
        |    CAST(sxy AS DOUBLE) / 1073741824.0 / n
        |      - (CAST(sx AS DOUBLE) / 1048576.0 / n) * (CAST(sy AS DOUBLE) / 1048576.0 / n) AS cov
        |  FROM s),
        |d AS (SELECT i AS k, cov AS var FROM c WHERE i = j)
        |SELECT CAST(c.i AS BIGINT) AS dim_i, CAST(c.j AS BIGINT) AS dim_j,
        |  round(c.cov, 6) AS cov,
        |  CASE WHEN sqrt(di.var * dj.var) > 0
        |       THEN round(c.cov / sqrt(di.var * dj.var), 6) ELSE 0.0 END AS corr
        |FROM c JOIN d di ON di.k = c.i JOIN d dj ON dj.k = c.j
        |ORDER BY dim_i, dim_j""".stripMargin,

    // sim = 1 − round(dist, 6) mirrors the Spark side exactly; the per-doc
    // sum runs in DECIMAL(20,6) in both engines (exact, order-independent)
    "maxsim_topk" ->
      """WITH q AS (SELECT vec_id AS q_ix, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 4),
        |c AS (SELECT vec_id // 8 AS doc, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings WHERE vec_id >= 8),
        |m AS (SELECT c.doc, q.q_ix,
        |    max(1.0 - round(1.0 - list_cosine_similarity(c.v, q.qv), 6)) AS msim
        |  FROM c, q GROUP BY c.doc, q.q_ix)
        |SELECT CAST(doc AS BIGINT) AS doc,
        |  CAST(sum(CAST(msim AS DECIMAL(20,6))) AS DOUBLE) AS maxsim
        |FROM m GROUP BY doc ORDER BY maxsim DESC, doc LIMIT 10""".stripMargin,

    "knn_label_vote" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id % 100 = 0),
        |c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v, label
        |      FROM embeddings WHERE vec_id % 100 <> 0),
        |d AS (SELECT q.qid, c.id, c.label,
        |    round(1.0 - list_cosine_similarity(c.v, q.qv), 6) AS dist FROM c, q),
        |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rnk FROM d),
        |v AS (SELECT qid, label, count(*) AS votes, min(rnk) AS best_rnk
        |      FROM r WHERE rnk <= 10 GROUP BY qid, label),
        |p AS (SELECT *, row_number() OVER (PARTITION BY qid
        |        ORDER BY votes DESC, best_rnk, label) AS rn FROM v)
        |SELECT p.qid, CAST(p.label AS BIGINT) AS predicted, votes,
        |  CAST(t.label AS BIGINT) AS true_label, p.label = t.label AS correct
        |FROM p JOIN embeddings t ON t.vec_id = p.qid
        |WHERE rn = 1 ORDER BY qid""".stripMargin,

    // the greedy MMR trace as a recursive CTE; (1.0 - 0.7), never a 0.3
    // literal — IEEE 1.0-0.7 ≠ 0.3, and the Scala kernel computes 1−λ
    "mmr_diversify" ->
      """WITH RECURSIVE
        |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0),
        |cand AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
        |    round(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), (SELECT v FROM qv)), 6) AS dist
        |  FROM embeddings WHERE vec_id <> 0 ORDER BY dist, id LIMIT 15),
        |rels AS (SELECT id, 1.0 - dist AS rel FROM cand),
        |sims AS (SELECT a.id AS ia, b.id AS ib,
        |    1.0 - round(1.0 - list_cosine_similarity(a.v, b.v), 6) AS sim
        |  FROM cand a JOIN cand b ON a.id <> b.id),
        |sel AS (
        |  SELECT 0 AS step, CAST([] AS BIGINT[]) AS picked
        |  UNION ALL
        |  SELECT step + 1, list_append(picked, (
        |      SELECT r.id FROM rels r WHERE NOT list_contains(sel.picked, r.id)
        |      ORDER BY 0.7 * r.rel - (1.0 - 0.7) * coalesce((SELECT max(s.sim) FROM sims s
        |          WHERE s.ia = r.id AND list_contains(sel.picked, s.ib)), 0.0) DESC, r.id
        |      LIMIT 1))
        |  FROM sel WHERE step < 10)
        |SELECT CAST(u.range AS BIGINT) AS rnk, picked[CAST(u.range AS INT)] AS id,
        |  round((SELECT rel FROM rels WHERE id = picked[CAST(u.range AS INT)]), 6) AS rel
        |FROM (SELECT picked FROM sel WHERE step = 10) t, range(1, 11) u
        |ORDER BY rnk""".stripMargin,

    "hard_negatives" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv, label AS qlabel
        |           FROM embeddings WHERE vec_id % 100 = 0),
        |c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v, label
        |      FROM embeddings WHERE vec_id % 100 <> 0),
        |d AS (SELECT q.qid, c.id,
        |    round(1.0 - list_cosine_similarity(c.v, q.qv), 6) AS dist
        |  FROM c, q WHERE c.label <> q.qlabel),
        |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rnk FROM d)
        |SELECT qid, id, dist, rnk FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    "contrastive_triplets" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv, label AS qlabel
        |           FROM embeddings WHERE vec_id % 100 = 0),
        |c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v, label
        |      FROM embeddings WHERE vec_id % 100 <> 0),
        |d AS (SELECT q.qid, c.id, c.label = q.qlabel AS same,
        |    round(1.0 - list_cosine_similarity(c.v, q.qv), 6) AS dist
        |  FROM c, q),
        |p AS (SELECT qid, id AS pos_id FROM (
        |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS r
        |    FROM d WHERE same) WHERE r = 1),
        |n AS (SELECT qid, id AS neg_id, r AS neg_rnk FROM (
        |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS r
        |    FROM d WHERE NOT same) WHERE r <= 2)
        |SELECT p.qid AS qid, pos_id, neg_id, neg_rnk
        |FROM p JOIN n ON p.qid = n.qid ORDER BY p.qid, neg_rnk""".stripMargin,

    // centroids replayed with the same floor(x·2^20 + .5) fixed point; the
    // dot/norm folds are ordered list_reduce (0.0 + p1 == p1, so the left
    // fold matches Spark's aggregate() double-for-double)
    "centroid_shift" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT label, vec_id % 2 = 0 AS old, d.range AS dim,
        |    CAST(floor(v[CAST(d.range + 1 AS INT)] * 1048576.0 + 0.5) AS BIGINT) AS qv
        |  FROM e CROSS JOIN range(0, 64) d),
        |s AS (SELECT label, old, dim, sum(qv) AS sq, count(*) AS n
        |      FROM q GROUP BY 1, 2, 3),
        |c AS (SELECT label, old,
        |    list(CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0) ORDER BY dim) AS cent,
        |    max(n) AS n_members
        |  FROM s GROUP BY 1, 2),
        |p AS (SELECT co.label, co.n_members AS n_old, cn.n_members AS n_new,
        |        co.cent AS a, cn.cent AS b
        |      FROM c co JOIN c cn ON co.label = cn.label AND co.old AND NOT cn.old)
        |SELECT CAST(label AS BIGINT) AS label, n_old, n_new,
        |  round(1.0 - list_reduce([a[i] * b[i] for i in range(1, 65)], (x, y) -> x + y) /
        |    sqrt(list_reduce([a[i] * a[i] for i in range(1, 65)], (x, y) -> x + y) *
        |         list_reduce([b[i] * b[i] for i in range(1, 65)], (x, y) -> x + y)), 6)
        |    AS centroid_cos_dist
        |FROM p ORDER BY label""".stripMargin,

    "heaps_law" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
         |dt AS (SELECT doc_id // 50 AS bucket, sum(len(w)) AS nt FROM t GROUP BY 1),
         |fx AS (SELECT tok, min(doc_id) AS first_id
         |       FROM (SELECT doc_id, unnest(w) AS tok FROM t) GROUP BY tok),
         |nv AS (SELECT first_id // 50 AS bucket, count(*) AS nvv FROM fx GROUP BY 1),
         |j AS (SELECT coalesce(dt.bucket, nv.bucket) AS bucket,
         |        coalesce(nt, 0) AS nt, coalesce(nvv, 0) AS nvv
         |      FROM dt FULL OUTER JOIN nv ON dt.bucket = nv.bucket)
         |SELECT bucket,
         |  CAST(sum(nt) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
         |  CAST(sum(nvv) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
         |FROM j ORDER BY bucket""".stripMargin,

    "vec_avg_by_label" ->
      """WITH f AS (SELECT label, unnest(range(1, len(embedding)+1)) AS i, embedding
        |           FROM embeddings)
        |SELECT label, CAST(i - 1 AS INT) AS dim,
        |  round(CAST(sum(CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |        / 1048576.0 / count(*), 6) AS avg_val
        |FROM f GROUP BY label, i ORDER BY label, dim""".stripMargin,

    // char-level simulation of the lookaround split: a subword STARTS at a
    // non-space char that is at position 1, after a space, after a
    // lower→upper/digit boundary, or is itself punctuation (non-\w)
    "subword_counts" ->
      """WITH t AS (SELECT doc_id, trim(text) AS s FROM documents)
        |SELECT doc_id, len([1 for i in range(1, length(s) + 1)
        |  if NOT regexp_matches(substr(s, CAST(i AS INT), 1), '\s')
        |     AND (i = 1 OR regexp_matches(substr(s, CAST(i AS INT) - 1, 1), '\s')
        |          OR (regexp_matches(substr(s, CAST(i AS INT) - 1, 1), '[a-z]')
        |              AND regexp_matches(substr(s, CAST(i AS INT), 1), '[A-Z0-9]'))
        |          OR regexp_matches(substr(s, CAST(i AS INT), 1), '[^A-Za-z0-9_\s]'))]) AS n_subwords
        |FROM t ORDER BY doc_id""".stripMargin,

    // images only (doc_id % 3 == 0); resized length =
    // ceil(len / ceil(len / 768)) capped at the 768-byte budget
    "multimodal_resize" ->
      """SELECT doc_id AS media_id, 64 AS width, 48 AS height,
        |  CAST(CASE WHEN octet_length(encode(text)) <= 768 THEN octet_length(encode(text))
        |       ELSE CAST(ceil(octet_length(encode(text)) /
        |            ceil(octet_length(encode(text)) / 768.0)) AS BIGINT) END AS BIGINT) AS n_bytes
        |FROM documents WHERE doc_id % 3 = 0 ORDER BY media_id""".stripMargin,

    "tokenizer_fertility" ->
      s"""WITH t AS (SELECT doc_id, lang, trim(text) AS s, $sqlTokens AS w FROM documents),
         |p AS (SELECT lang,
         |  len([1 for i in range(1, length(s) + 1)
         |    if NOT regexp_matches(substr(s, CAST(i AS INT), 1), '\\s')
         |       AND (i = 1 OR regexp_matches(substr(s, CAST(i AS INT) - 1, 1), '\\s')
         |            OR (regexp_matches(substr(s, CAST(i AS INT) - 1, 1), '[a-z]')
         |                AND regexp_matches(substr(s, CAST(i AS INT), 1), '[A-Z0-9]'))
         |            OR regexp_matches(substr(s, CAST(i AS INT), 1), '[^A-Za-z0-9_\\s]'))]) AS sw,
         |  len(w) AS nw,
         |  length(regexp_replace(s, '\\s', '', 'g')) AS nc
         |  FROM t)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(sw) AS BIGINT) AS n_subwords, CAST(sum(nw) AS BIGINT) AS n_words,
         |  round(CAST(sum(sw) AS DOUBLE) / sum(nw), 6) AS fertility,
         |  round(CAST(sum(nc) AS DOUBLE) / sum(sw), 6) AS chars_per_subword
         |FROM p GROUP BY lang ORDER BY lang""".stripMargin,

    "text_quality" ->
      s"""WITH t AS (SELECT doc_id, text, $sqlTokens AS w FROM documents),
         |q AS (SELECT doc_id,
         |  len(w) AS n_tokens,
         |  CASE WHEN len(w) > 0 THEN CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len(w) ELSE 0.0 END AS avg_token_len,
         |  CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS alpha_ratio,
         |  CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS digit_ratio,
         |  CASE WHEN len(w) > 0 THEN CAST(len(list_filter(w, x -> x IN ($enList))) AS DOUBLE) / len(w) ELSE 0.0 END AS stopword_ratio
         |  FROM t)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  round(avg_token_len, 6) AS avg_token_len,
         |  round(alpha_ratio, 6) AS alpha_ratio,
         |  round(stopword_ratio, 6) AS stopword_ratio,
         |  round(alpha_ratio * 0.4 + least(stopword_ratio * 5.0, 1.0) * 0.3 +
         |        (CASE WHEN avg_token_len >= 3 AND avg_token_len <= 10 THEN 1.0 ELSE 0.0 END) * 0.2 +
         |        (1.0 - least(digit_ratio * 5.0, 1.0)) * 0.1, 6) AS quality_score
         |FROM q ORDER BY doc_id""".stripMargin,

    // full recomputation of the sign-LSH pipeline: md5-derived hyperplanes
    // and perturbation (bit-identical REAL arithmetic via explicit casts),
    // multi-probe candidacy == "bucket xor has <= 1 bit", exact cosine verify
    "neardup_embedding_lsh" ->
      """WITH pl AS (SELECT CAST(i.range AS INT) AS i,
        |    [CAST(CAST(('0x' || substr(md5('plane:42:' || CAST(i.range AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 18, 15))::UBIGINT
        |          / 1152921504606846976.0 - 0.5 AS REAL) AS DOUBLE)
        |     for j in range(64)] AS p
        |  FROM range(12) i),
        |allv AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000 AS vec_id,
        |    [CAST(embedding[CAST(j AS INT)] +
        |          CAST(CAST(CAST(('0x' || substr(md5(CAST(vec_id + 100000 AS VARCHAR) || ':' || CAST(j - 1 AS VARCHAR)), 18, 15))::UBIGINT AS BIGINT)
        |               % 7 - 3 AS REAL) * CAST(0.01 AS REAL) AS REAL) AS REAL)
        |     for j in range(1, 65)] AS embedding
        |  FROM embeddings),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM allv),
        |bk AS (SELECT v.vec_id,
        |         sum(CASE WHEN list_inner_product(v.dv, pl.p) > 0
        |             THEN (1::UBIGINT << pl.i) ELSE 0::UBIGINT END) AS bucket
        |       FROM v CROSS JOIN pl GROUP BY 1),
        |cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |         FROM bk a JOIN bk b ON a.vec_id < b.vec_id
        |           AND bit_count(xor(a.bucket, b.bucket)) <= 1),
        |sc AS (SELECT id_a, id_b,
        |        1 - (1 - list_inner_product(va.dv, vb.dv) /
        |             sqrt(list_inner_product(va.dv, va.dv) * list_inner_product(vb.dv, vb.dv))) AS cosine
        |       FROM cand JOIN v va ON va.vec_id = cand.id_a
        |                 JOIN v vb ON vb.vec_id = cand.id_b)
        |SELECT id_a, id_b, round(cosine, 6) AS cosine
        |FROM sc WHERE cosine >= 0.9 ORDER BY id_a, id_b""".stripMargin,

    // full IVF replay: md5-ranked centroid pick, per-row argmin assignment
    // (tie-break on centroid index), nprobe=4 probe choice, exact cosine
    // rank within probed clusters — identical double arithmetic to the
    // Scala kernels (sequential sums over float-exact casts)
    "simsearch_ivf" ->
      """WITH ranked AS (
        |  SELECT vec_id, embedding,
        |    ('0x' || substr(md5('ivf42:' || CAST(vec_id AS VARCHAR)), 18, 15))::UBIGINT
        |      / 1152921504606846976.0 AS u
        |  FROM embeddings),
        |cent AS (
        |  SELECT row_number() OVER (ORDER BY u, vec_id) - 1 AS cid,
        |         CAST(embedding AS DOUBLE[]) AS cv
        |  FROM ranked ORDER BY u, vec_id LIMIT 8),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
        |dists AS (
        |  SELECT v.vec_id, c.cid,
        |    list_inner_product([c.cv[i] - v.dv[i] for i in range(1, 65)],
        |                       [c.cv[i] - v.dv[i] for i in range(1, 65)]) AS d
        |  FROM v CROSS JOIN cent c),
        |asg AS (
        |  SELECT vec_id, cid AS cluster FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |    FROM dists) WHERE rn = 1),
        |q AS (SELECT dv AS qv FROM v WHERE vec_id = 0),
        |probes AS (
        |  SELECT cid FROM (
        |    SELECT c.cid,
        |      list_inner_product([c.cv[i] - q.qv[i] for i in range(1, 65)],
        |                         [c.cv[i] - q.qv[i] for i in range(1, 65)]) AS d
        |    FROM cent c CROSS JOIN q ORDER BY d, c.cid LIMIT 4)),
        |sc AS (
        |  SELECT v.vec_id,
        |    1 - list_inner_product(v.dv, q.qv) /
        |        sqrt(list_inner_product(v.dv, v.dv) * list_inner_product(q.qv, q.qv)) AS dist
        |  FROM v JOIN asg USING (vec_id) CROSS JOIN q
        |  WHERE asg.cluster IN (SELECT cid FROM probes))
        |SELECT vec_id, round(dist, 6) AS dist
        |FROM (SELECT vec_id, dist FROM sc ORDER BY dist, vec_id LIMIT 10)""".stripMargin,

    "doc_len_percentiles" ->
      """SELECT source,
        |  round(quantile_cont(n_chars, 0.25), 4) AS p25,
        |  round(quantile_cont(n_chars, 0.5), 4) AS p50,
        |  round(quantile_cont(n_chars, 0.75), 4) AS p75,
        |  round(quantile_cont(n_chars, 0.9), 4) AS p90
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "corpus_rollup" ->
      """SELECT coalesce(source, 'ALL') AS source, coalesce(lang, 'ALL') AS lang,
        |       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY ROLLUP(source, lang) ORDER BY 1, 2""".stripMargin,

    // sliding-chunk replay: same 200/150 char windows; chunk_ix falls out of
    // the fixed stride (start // 150). substring + md5 are char/UTF-8-byte
    // identical across engines.
    "chunk_sliding" ->
      """WITH starts AS (
        |  SELECT doc_id, text,
        |         unnest(range(0, CAST(greatest(length(text), 1) AS BIGINT), 150)) AS chunk_start
        |  FROM documents),
        |c AS (SELECT doc_id, CAST(chunk_start // 150 AS INT) AS chunk_ix, chunk_start,
        |             substring(text, CAST(chunk_start AS INT) + 1, 200) AS chunk_text
        |      FROM starts)
        |SELECT doc_id, chunk_ix, chunk_start,
        |       length(chunk_text) AS chunk_len, md5(chunk_text) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_start""".stripMargin,

    // chunk dedup replay: same 15-token windows, first occurrence by
    // (doc_id, chunk_idx) wins; grouping is by the chunk STRING (the Spark
    // side groups by its 64-bit hash — collision-free at corpus scale)
    "dedup_chunks" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
         |ch0 AS (SELECT doc_id,
         |   [{'chunk_idx': CAST(i - 1 AS BIGINT),
         |      'chunk': array_to_string(w[(i-1)*15+1 : (i-1)*15+15], ' '),
         |      'n_toks': len(w[(i-1)*15+1 : (i-1)*15+15])}
         |    for i in range(1, CAST(ceil(len(w) / 15.0) AS INT) + 1)] AS cs
         |  FROM t),
         |ch AS (SELECT doc_id, u.chunk_idx AS chunk_idx, u.chunk AS chunk,
         |              u.n_toks AS n_toks
         |       FROM (SELECT doc_id, unnest(cs) AS u FROM ch0)
         |       WHERE u.n_toks > 0),
         |rk AS (SELECT doc_id, n_toks,
         |         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
         |       FROM ch)
         |SELECT doc_id, count(*) AS n_chunks,
         |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       CAST(sum(CASE WHEN rn = 1 THEN n_toks ELSE 0 END) AS BIGINT) AS kept_tokens
         |FROM rk GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // occurrence-weighted dup-5-gram fraction; df per gram from the
    // per-(doc, gram) count table, exactly like the Spark window
    "dup_ngram_coverage" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
         |gr AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 5
         |         THEN [array_to_string(w[i:i+4], ' ') for i in range(1, len(w) - 3)]
         |         ELSE [array_to_string(w, ' ')] END) AS g
         |       FROM t),
         |tf AS (SELECT doc_id, g, count(*) AS c FROM gr GROUP BY 1, 2),
         |wd AS (SELECT doc_id, c, count(*) OVER (PARTITION BY g) AS df FROM tf)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
         |       CAST(sum(CASE WHEN df >= 2 THEN c ELSE 0 END) AS BIGINT) AS n_dup_grams,
         |       round(CAST(sum(CASE WHEN df >= 2 THEN c ELSE 0 END) AS DOUBLE)
         |             / sum(c), 6) AS dup_ngram_frac
         |FROM wd GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // SemDeDup replay: md5-rank centroids over the planted-union corpus,
    // argmin assignment, within-cluster pairwise cosine, drop rule
    // "∃ lower id in cluster with sim > 0.9" — margins are wide (planted
    // pairs ~0.999, random pairs <= ~0.52) so the filter is fp-robust
    "semantic_dedup" ->
      """WITH allv AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000 AS vec_id,
        |    [CAST(embedding[CAST(j AS INT)] +
        |          CAST(CAST(CAST(('0x' || substr(md5(CAST(vec_id + 100000 AS VARCHAR) || ':' || CAST(j - 1 AS VARCHAR)), 18, 15))::UBIGINT AS BIGINT)
        |               % 7 - 3 AS REAL) * CAST(0.01 AS REAL) AS REAL) AS REAL)
        |     for j in range(1, 65)] AS embedding
        |  FROM embeddings),
        |ranked AS (SELECT vec_id, embedding,
        |    ('0x' || substr(md5('sem42:' || CAST(vec_id AS VARCHAR)), 18, 15))::UBIGINT
        |      / 1152921504606846976.0 AS u
        |  FROM allv),
        |cent AS (SELECT row_number() OVER (ORDER BY u, vec_id) - 1 AS cid,
        |                CAST(embedding AS DOUBLE[]) AS cv
        |  FROM ranked ORDER BY u, vec_id LIMIT 32),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM allv),
        |dists AS (SELECT v.vec_id, c.cid,
        |    list_inner_product([c.cv[i] - v.dv[i] for i in range(1, 65)],
        |                       [c.cv[i] - v.dv[i] for i in range(1, 65)]) AS d
        |  FROM v CROSS JOIN cent c),
        |asg AS (SELECT vec_id, cid AS cluster FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |    FROM dists) WHERE rn = 1),
        |dropped AS (SELECT DISTINCT b.vec_id
        |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  JOIN v va ON va.vec_id = a.vec_id
        |  JOIN v vb ON vb.vec_id = b.vec_id
        |  WHERE list_inner_product(va.dv, vb.dv) /
        |        sqrt(list_inner_product(va.dv, va.dv) * list_inner_product(vb.dv, vb.dv)) > 0.9)
        |SELECT asg.vec_id, CAST(asg.cluster AS BIGINT) AS cluster
        |FROM asg WHERE asg.vec_id NOT IN (SELECT vec_id FROM dropped)
        |ORDER BY vec_id""".stripMargin,

    "neardup_embedding_exact" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |             CAST(b.embedding AS DOUBLE[])), 6) AS cosine
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |ORDER BY cosine DESC, id_a, id_b LIMIT 20""".stripMargin,

    "repetition_ratio" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents)
         |SELECT doc_id, round(CASE WHEN len(w) >= 2
         |  THEN 1.0 - CAST(len(list_distinct(
         |         [w[i] || ' ' || w[i+1] for i in range(1, len(w))])) AS DOUBLE)
         |       / (len(w) - 1)
         |  ELSE 0.0 END, 6) AS rep_ratio
         |FROM t ORDER BY doc_id""".stripMargin,

    // full replay: span occurrences by position, first-occurrence election
    // per span content (the oracle keys on the gram STRING where Spark uses
    // xxhash64 — identical verdicts absent a 64-bit collision), per-doc
    // covered-position sets, then the same positional rewrite
    "dedup_span_removal" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
         |sp AS (SELECT doc_id, CAST(p0 AS BIGINT) AS p0,
         |         array_to_string(w[CAST(p0 AS INT) + 1 : CAST(p0 AS INT) + 8], ' ') AS g
         |       FROM (SELECT doc_id, w, unnest(range(len(w) - 7)) AS p0 FROM t)),
         |rn AS (SELECT doc_id, p0, g,
         |        row_number() OVER (PARTITION BY g ORDER BY doc_id, p0) AS rn,
         |        count(*) OVER (PARTITION BY g) AS n
         |       FROM sp),
         |cov AS (SELECT DISTINCT doc_id, p0 + o.range AS p
         |        FROM rn CROSS JOIN range(8) o
         |        WHERE n >= 2 AND rn >= 2),
         |covl AS (SELECT doc_id, list(p) AS cov FROM cov GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(len(cov), 0) AS BIGINT) AS n_removed,
         |  md5(coalesce(array_to_string(
         |    CASE WHEN cov IS NULL THEN w
         |    ELSE [w[CAST(i AS INT) + 1] for i in range(len(w)) if NOT list_contains(cov, i)]
         |    END, ' '), '')) AS cleaned_md5
         |FROM t LEFT JOIN covl USING (doc_id) ORDER BY t.doc_id""".stripMargin,

    "gopher_repetition" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
         |L AS (SELECT doc_id, length(array_to_string(w, ' ')) AS tot FROM t),
         |g2 AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 2
         |    THEN [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
         |    ELSE [] END) AS g FROM t),
         |c2 AS (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY doc_id, g),
         |top2 AS (SELECT doc_id, cnt, length(g) AS glen FROM c2
         |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g) = 1),
         |g5 AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 5
         |    THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
         |          for i in range(1, len(w) - 3)]
         |    ELSE [] END) AS g FROM t),
         |c5 AS (SELECT doc_id, g, count(*) AS cnt FROM g5 GROUP BY doc_id, g),
         |d5 AS (SELECT doc_id, sum(cnt * length(g)) AS dchars FROM c5
         |  WHERE cnt >= 2 GROUP BY doc_id)
         |SELECT L.doc_id,
         |  round(CASE WHEN tot > 0 THEN coalesce(top2.cnt * top2.glen, 0) / CAST(tot AS DOUBLE) ELSE 0.0 END, 6) AS top2gram_char_frac,
         |  round(CASE WHEN tot > 0 THEN coalesce(d5.dchars, 0) / CAST(tot AS DOUBLE) ELSE 0.0 END, 6) AS dup5gram_char_frac
         |FROM L LEFT JOIN top2 ON L.doc_id = top2.doc_id
         |  LEFT JOIN d5 ON L.doc_id = d5.doc_id
         |ORDER BY L.doc_id""".stripMargin,

    "dsir_weights" ->
      s"""WITH t AS (SELECT doc_id, lang = 'en' AS is_t, $sqlTokens AS w FROM documents),
         |tok AS (SELECT doc_id, is_t,
         |    CAST(('0x' || substr(md5(x), 1, 8))::UBIGINT % 4096 AS BIGINT) AS b
         |  FROM t, unnest(w) AS u(x)),
         |c AS (SELECT b, count(*) AS cr,
         |    sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct FROM tok GROUP BY b),
         |tot AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM c),
         |lr AS (SELECT b, CAST(floor((ln((ct + 1.0) / (tt + 4096))
         |                           - ln((cr + 1.0) / (tr + 4096))) * 1e9 + 0.5) AS BIGINT) AS lr
         |  FROM c CROSS JOIN tot)
         |SELECT doc_id, count(*) AS n_tokens,
         |  round(sum(lr) / 1e9, 6) AS dsir_weight
         |FROM tok JOIN lr USING (b) GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "quality_adaptive" ->
      s"""WITH t AS (SELECT doc_id, source, text, $sqlTokens AS w FROM documents),
         |q AS (SELECT doc_id, source,
         |  CASE WHEN len(w) > 0 THEN CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len(w) ELSE 0.0 END AS avg_token_len,
         |  CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS alpha_ratio,
         |  CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS digit_ratio,
         |  CASE WHEN len(w) > 0 THEN CAST(len(list_filter(w, x -> x IN ($enList))) AS DOUBLE) / len(w) ELSE 0.0 END AS stopword_ratio
         |  FROM t),
         |s AS (SELECT doc_id, source,
         |  round(alpha_ratio * 0.4 + least(stopword_ratio * 5.0, 1.0) * 0.3 +
         |        (CASE WHEN avg_token_len >= 3 AND avg_token_len <= 10 THEN 1.0 ELSE 0.0 END) * 0.2 +
         |        (1.0 - least(digit_ratio * 5.0, 1.0)) * 0.1, 6) AS qs
         |  FROM q),
         |th AS (SELECT source, round(quantile_cont(qs, 0.25), 6) AS threshold
         |  FROM s GROUP BY source),
         |k AS (SELECT s.source, count(*) AS n_kept FROM s JOIN th USING (source)
         |  WHERE qs > threshold GROUP BY s.source),
         |tot AS (SELECT source, count(*) AS n_total FROM s GROUP BY source)
         |SELECT source, threshold, n_total, n_kept
         |FROM th JOIN k USING (source) JOIN tot USING (source)
         |ORDER BY source""".stripMargin,

    "sample_epochs" ->
      """WITH p AS (SELECT doc_id,
        |    CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.5
        |                WHEN 'src2' THEN 0.0 ELSE 1.0 END AS e
        |  FROM documents),
        |n AS (SELECT doc_id, CAST(floor(e) AS BIGINT) +
        |    CASE WHEN ('0x' || substr(md5('epochs:' || CAST(doc_id AS VARCHAR)), 18, 15))::UBIGINT
        |              / 1152921504606846976.0 < e - floor(e) THEN 1 ELSE 0 END AS n
        |  FROM p)
        |SELECT doc_id, unnest(range(n)) AS copy_ix FROM n WHERE n > 0
        |ORDER BY doc_id, copy_ix""".stripMargin,

    "dsir_resample" ->
      s"""WITH t AS (SELECT doc_id, lang = 'en' AS is_t, $sqlTokens AS w FROM documents),
         |tok AS (SELECT doc_id, is_t,
         |    CAST(('0x' || substr(md5(x), 1, 8))::UBIGINT % 4096 AS BIGINT) AS b
         |  FROM t, unnest(w) AS u(x)),
         |c AS (SELECT b, count(*) AS cr,
         |    sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct FROM tok GROUP BY b),
         |tot AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM c),
         |lr AS (SELECT b, CAST(floor((ln((ct + 1.0) / (tt + 4096))
         |                           - ln((cr + 1.0) / (tr + 4096))) * 1e9 + 0.5) AS BIGINT) AS lr
         |  FROM c CROSS JOIN tot),
         |dw AS (SELECT doc_id, round(sum(lr) / 1e9, 6) AS dw
         |  FROM tok JOIN lr USING (b) GROUP BY doc_id),
         |g AS (SELECT doc_id, dw,
         |    ('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 18, 15))::UBIGINT
         |      / 1152921504606846976.0 AS u
         |  FROM dw)
         |SELECT doc_id, round(dw / 1.0 + (-ln(-ln(u))), 6) AS sel_score
         |FROM g ORDER BY sel_score DESC, doc_id LIMIT 100""".stripMargin,

    // independent recomputation of the md5-gram winnowing fingerprint:
    // normalize, char 8-grams, md5-low-60 per gram, min per 16-gram window
    // (stepping 16), xor of the minima
    "doc_fingerprints" ->
      s"""WITH norm AS (SELECT doc_id,
         |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s FROM documents),
         |g AS (SELECT doc_id, CASE WHEN length(s) < 8 THEN [s]
         |    ELSE [substr(s, CAST(i AS INT), 8) for i in range(1, length(s) - 6)] END AS grams
         |  FROM norm),
         |h AS (SELECT doc_id,
         |    [('0x' || substr(md5(x), 18, 15))::UBIGINT for x in grams] AS hs FROM g),
         |m AS (SELECT doc_id,
         |    [list_min(hs[CAST(st AS INT):CAST(st AS INT) + 15])
         |     for st in range(1, len(hs) + 1, 16)] AS mins FROM h)
         |SELECT doc_id, CAST(list_reduce(mins, (a, b) -> xor(a, b)) AS BIGINT) AS fp
         |FROM m ORDER BY doc_id""".stripMargin,

    // same normalize->8-gram->md5-low60->block-min chain as
    // doc_fingerprints, kept as the distinct SET; posting cap mirrored
    "winnow_pairs" ->
      s"""WITH norm AS (SELECT doc_id,
         |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s FROM documents),
         |g AS (SELECT doc_id, CASE WHEN length(s) < 8 THEN [s]
         |    ELSE [substr(s, CAST(i AS INT), 8) for i in range(1, length(s) - 6)] END AS grams
         |  FROM norm),
         |h AS (SELECT doc_id,
         |    [CAST(('0x' || substr(md5(x), 18, 15))::UBIGINT AS BIGINT) for x in grams] AS hs FROM g),
         |m AS (SELECT doc_id,
         |    list_distinct([list_min(hs[CAST(st AS INT):CAST(st AS INT) + 15])
         |     for st in range(1, len(hs) + 1, 16)]) AS mins FROM h),
         |e AS (SELECT doc_id, unnest(mins) AS fp FROM m),
         |wd AS (SELECT fp FROM e GROUP BY fp HAVING count(*) <= 100),
         |ec AS (SELECT e.doc_id, e.fp FROM e JOIN wd USING (fp))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
         |FROM ec a JOIN ec b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 ORDER BY n_shared DESC, id_a, id_b LIMIT 20""".stripMargin,

    // the stub frame sampler emits max(floor(bytes/256)-1, 0)+1 frames per
    // video payload (frameBytes=64 x stride=4) — closed form over byte length
    "multimodal_frames" ->
      """SELECT doc_id AS media_id,
        |  CAST(greatest(CAST(floor(octet_length(encode(text)) / 256.0) AS INT) - 1, 0) + 1
        |       AS BIGINT) AS n_frames
        |FROM documents WHERE doc_id % 3 = 2 ORDER BY media_id""".stripMargin,

    "sample_exact_k" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5('exk42:' || CAST(doc_id AS VARCHAR)), doc_id) AS r
        |  FROM documents) WHERE r <= 10
        |ORDER BY source, doc_id""".stripMargin,

    "sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substr(md5('strat42:' || CAST(doc_id AS VARCHAR)), 18, 15))::UBIGINT
        |      / 1152921504606846976.0
        |      < CASE WHEN lang = 'en' THEN 0.25 ELSE 0.75 END
        |ORDER BY doc_id""".stripMargin,

    // the messy inputs are rebuilt verbatim; the expected canonicals are
    // hand-derived per variant family from the RFC rules — an independent
    // statement of what normalization MUST produce, not a regex mirror
    "url_normalize" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 6 AS INT)
        |    WHEN 0 THEN 'HTTP://Example.COM/page/' || CAST((doc_id // 6) % 40 AS VARCHAR)
        |    WHEN 1 THEN 'http://example.com:80/page/' || CAST((doc_id // 6) % 40 AS VARCHAR) || '#section2'
        |    WHEN 2 THEN 'https://example.com/page/' || CAST((doc_id // 6) % 40 AS VARCHAR) || '?b=2&a=1&gclid=XYZ'
        |    WHEN 3 THEN 'https://example.com/page/' || CAST((doc_id // 6) % 40 AS VARCHAR) || '?a=1&fbclid=J&b=2'
        |    WHEN 4 THEN 'http://site' || CAST((doc_id // 6) % 40 AS VARCHAR) || '.Example.com/'
        |    ELSE 'http://SITE' || CAST((doc_id // 6) % 40 AS VARCHAR) || '.example.COM'
        |  END AS url,
        |  CASE WHEN doc_id % 6 IN (0, 1)
        |         THEN 'http://example.com/page/' || CAST((doc_id // 6) % 40 AS VARCHAR)
        |       WHEN doc_id % 6 IN (2, 3)
        |         THEN 'https://example.com/page/' || CAST((doc_id // 6) % 40 AS VARCHAR) || '?a=1&b=2'
        |       ELSE 'http://site' || CAST((doc_id // 6) % 40 AS VARCHAR) || '.example.com'
        |  END AS url_norm
        |FROM documents ORDER BY doc_id""".stripMargin,
    "url_dedup" ->
      """WITH c AS (SELECT doc_id,
        |  CASE WHEN doc_id % 6 IN (0, 1)
        |         THEN 'http://example.com/page/' || CAST((doc_id // 6) % 40 AS VARCHAR)
        |       WHEN doc_id % 6 IN (2, 3)
        |         THEN 'https://example.com/page/' || CAST((doc_id // 6) % 40 AS VARCHAR) || '?a=1&b=2'
        |       ELSE 'http://site' || CAST((doc_id // 6) % 40 AS VARCHAR) || '.example.com'
        |  END AS url_norm FROM documents)
        |SELECT url_norm, min(doc_id) AS keeper, count(*) AS n_fetches
        |FROM c GROUP BY url_norm ORDER BY url_norm""".stripMargin,

    // the merge loop replayed as a recursive CTE: word state = '~'-joined
    // symbol strings (no corpus char collides with '~'), one merge round =
    // argmax pair via unnested adjacent-pair counting (chr(1)-separated so
    // multi-char symbols split back losslessly) + a leftmost-non-overlap
    // replace — the same greedy pass as the Scala merge loop
    "bpe_merges" ->
      s"""WITH RECURSIVE
         |toks AS (SELECT unnest($sqlTokens) AS tok FROM documents),
         |wf AS (SELECT tok, count(*) AS cnt FROM toks WHERE tok IS NOT NULL
         |       GROUP BY tok ORDER BY cnt DESC, tok LIMIT 100000),
         |init AS (SELECT list(struct_pack(
         |    s := '~' || array_to_string([substr(tok, CAST(i AS INT), 1) for i in range(1, length(tok)+1)], '~') || '~</w>~',
         |    c := cnt) ORDER BY cnt DESC, tok) AS words FROM wf),
         |sel AS (
         |  SELECT 0 AS step, CAST(NULL AS VARCHAR) AS l, CAST(NULL AS VARCHAR) AS r,
         |         CAST(NULL AS BIGINT) AS cnt, (SELECT words FROM init) AS words
         |  UNION ALL
         |  SELECT step + 1, b.l, b.r, b.cnt,
         |         [struct_pack(s := replace(w.s, '~' || b.l || '~' || b.r || '~', '~' || b.l || b.r || '~'), c := w.c) for w in words]
         |  FROM sel, LATERAL (
         |    SELECT split_part(p, chr(1), 1) AS l, split_part(p, chr(1), 2) AS r, cnt FROM (
         |      SELECT u.p AS p, sum(t.w.c) AS cnt
         |      FROM unnest(sel.words) AS t(w),
         |           LATERAL (SELECT unnest(pl) AS p FROM (SELECT
         |             [sl[CAST(i AS INT)] || chr(1) || sl[CAST(i+1 AS INT)]
         |              for i in range(1, len(sl))] AS pl
         |             FROM (SELECT list_filter(string_split(t.w.s, '~'), x -> x <> '') AS sl))) u
         |      GROUP BY u.p)
         |    ORDER BY cnt DESC, l, r LIMIT 1) b
         |  WHERE step < 10)
         |SELECT CAST(step AS BIGINT) AS rank, l AS left, r AS right, cnt AS pair_count
         |FROM sel WHERE step >= 1 ORDER BY rank""".stripMargin,

    // the final recursive-CTE state (step 10) IS each word's segmentation:
    // n_sub = its segment count, the token string reconstructs by joining
    // segments and stripping the end marker
    "bpe_fertility" ->
      s"""WITH RECURSIVE
         |toks AS (SELECT unnest($sqlTokens) AS tok FROM documents),
         |wf AS (SELECT tok, count(*) AS cnt FROM toks WHERE tok IS NOT NULL
         |       GROUP BY tok ORDER BY cnt DESC, tok LIMIT 100000),
         |init AS (SELECT list(struct_pack(
         |    s := '~' || array_to_string([substr(tok, CAST(i AS INT), 1) for i in range(1, length(tok)+1)], '~') || '~</w>~',
         |    c := cnt) ORDER BY cnt DESC, tok) AS words FROM wf),
         |sel AS (
         |  SELECT 0 AS step, (SELECT words FROM init) AS words
         |  UNION ALL
         |  SELECT step + 1,
         |         [struct_pack(s := replace(w.s, '~' || b.l || '~' || b.r || '~', '~' || b.l || b.r || '~'), c := w.c) for w in words]
         |  FROM sel, LATERAL (
         |    SELECT split_part(p, chr(1), 1) AS l, split_part(p, chr(1), 2) AS r FROM (
         |      SELECT u.p AS p, sum(t.w.c) AS cnt
         |      FROM unnest(sel.words) AS t(w),
         |           LATERAL (SELECT unnest(pl) AS p FROM (SELECT
         |             [sl[CAST(i AS INT)] || chr(1) || sl[CAST(i+1 AS INT)]
         |              for i in range(1, len(sl))] AS pl
         |             FROM (SELECT list_filter(string_split(t.w.s, '~'), x -> x <> '') AS sl))) u
         |      GROUP BY u.p)
         |    ORDER BY cnt DESC, l, r LIMIT 1) b
         |  WHERE step < 10),
         |seg AS (SELECT replace(array_to_string(sl, ''), '</w>', '') AS tok,
         |               CAST(len(sl) AS BIGINT) AS n_sub
         |        FROM (SELECT list_filter(string_split(t.w.s, '~'), x -> x <> '') AS sl
         |              FROM (SELECT words FROM sel WHERE step = 10) f, unnest(f.words) AS t(w))),
         |dt AS (SELECT lang, unnest($sqlTokens) AS tok FROM documents)
         |SELECT lang, count(*) AS n_words, CAST(sum(n_sub) AS BIGINT) AS n_subwords,
         |  round(CAST(sum(n_sub) AS DOUBLE) / count(*), 6) AS fertility
         |FROM dt JOIN seg USING (tok)
         |GROUP BY lang ORDER BY lang""".stripMargin,

    // centroid arrays rebuilt with the fixed-point rule, per-row distance
    // via ordered list folds mirroring the Spark aggregate() expression
    "embed_outliers" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT label, d.range AS dim,
        |    CAST(floor(v[CAST(d.range + 1 AS INT)] * 1048576.0 + 0.5) AS BIGINT) AS qv
        |  FROM e CROSS JOIN range(0, 64) d),
        |s AS (SELECT label, dim, sum(qv) AS sq, count(*) AS n FROM q GROUP BY 1, 2),
        |c AS (SELECT label,
        |    list(CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0) ORDER BY dim) AS cent
        |  FROM s GROUP BY 1),
        |d AS (SELECT CAST(e.label AS BIGINT) AS label, e.vec_id,
        |    round(1.0 -
        |      list_reduce([v[i] * cent[i] for i in range(1, 65)], (x, y) -> x + y) /
        |      sqrt(list_reduce([v[i] * v[i] for i in range(1, 65)], (x, y) -> x + y) *
        |           list_reduce([cent[i] * cent[i] for i in range(1, 65)], (x, y) -> x + y)), 6)
        |      AS dist
        |  FROM e JOIN c USING (label)),
        |t AS (SELECT label, round(quantile_cont(dist, 0.9), 6) AS p90
        |      FROM d GROUP BY label)
        |SELECT d.label, d.vec_id, d.dist, t.p90
        |FROM d JOIN t USING (label) WHERE dist > p90
        |ORDER BY label, vec_id""".stripMargin,

    "corpus_diff" ->
      """WITH a AS (SELECT doc_id, md5(text) AS h_old FROM documents),
        |b AS (SELECT doc_id,
        |        md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS h_new
        |      FROM documents WHERE doc_id % 7 <> 0
        |      UNION ALL
        |      SELECT doc_id + 10000 AS doc_id, md5(text) AS h_new
        |      FROM documents WHERE doc_id % 11 = 0),
        |j AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id, h_old, h_new
        |      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT CASE WHEN h_old IS NULL THEN 'added'
        |            WHEN h_new IS NULL THEN 'removed'
        |            WHEN h_old = h_new THEN 'unchanged'
        |            ELSE 'changed' END AS status,
        |       count(*) AS n
        |FROM j GROUP BY 1 ORDER BY status""".stripMargin,

    "char_entropy" ->
      """WITH ch AS (SELECT doc_id,
        |    unnest([substr(text, CAST(i AS INT), 1) for i in range(1, length(text)+1)]) AS ch
        |  FROM documents),
        |c AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
        |g AS (SELECT doc_id, sum(c) AS n,
        |        list(struct_pack(ch := ch, c := c) ORDER BY ch) AS a
        |      FROM c GROUP BY doc_id)
        |SELECT doc_id,
        |  round((-(list_reduce([(CAST(e.c AS DOUBLE) / n) * ln(CAST(e.c AS DOUBLE) / n)
        |                        for e in a], (x, y) -> x + y))) / ln(2.0), 6) AS entropy_bits
        |FROM g ORDER BY doc_id""".stripMargin,

    "feature_hash" ->
      s"""WITH t AS (SELECT doc_id, unnest($sqlTokens) AS tok FROM documents),
         |b AS (SELECT doc_id,
         |        CAST(('0x' || substr(md5(tok), 18, 15))::UBIGINT % 1024 AS BIGINT) AS bucket
         |      FROM t WHERE tok IS NOT NULL),
         |c AS (SELECT doc_id, bucket, count(*) AS c FROM b GROUP BY 1, 2)
         |SELECT doc_id, count(*) AS nnz,
         |  round(sqrt(CAST(sum(c * c) AS DOUBLE)), 6) AS l2_norm
         |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // exact interpolated percentiles: Spark `percentile` and DuckDB
    // `quantile_cont` share the lower + (higher−lower)·frac definition
    "embed_dim_mad" ->
      """WITH f0 AS (SELECT unnest(range(1, len(embedding)+1)) AS i, embedding FROM embeddings),
        |f AS (SELECT CAST(i - 1 AS BIGINT) AS dim,
        |             CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS v FROM f0),
        |m AS (SELECT dim, quantile_cont(v, 0.5) AS med FROM f GROUP BY dim),
        |d AS (SELECT f.dim, m.med, abs(f.v - m.med) AS dev FROM f JOIN m USING (dim))
        |SELECT dim, round(max(med), 6) AS median,
        |  round(quantile_cont(dev, 0.5), 6) AS mad
        |FROM d GROUP BY dim ORDER BY dim""".stripMargin,

    // the KL fold replayed as an ordered comprehension over the rank-sorted
    // vocab list; smoothing and divisions keep the Spark expression shape
    "source_kl" ->
      s"""WITH t AS (SELECT source, unnest($sqlTokens) AS tok FROM documents),
         |tt AS (SELECT source, tok FROM t WHERE tok IS NOT NULL),
         |v AS (SELECT tok, cc, row_number() OVER (ORDER BY cc DESC, tok) AS rnk FROM (
         |      SELECT tok, count(*) AS cc FROM tt GROUP BY tok ORDER BY cc DESC, tok LIMIT 50)),
         |sc AS (SELECT tt.source, v.rnk, v.cc, count(*) AS c
         |       FROM tt JOIN v USING (tok) GROUP BY 1, 2, 3),
         |grid AS (SELECT s.source, v.rnk, v.cc, coalesce(sc.c, 0) AS c
         |         FROM (SELECT DISTINCT source FROM tt) s CROSS JOIN v
         |         LEFT JOIN sc ON sc.source = s.source AND sc.rnk = v.rnk),
         |g AS (SELECT source, sum(c) AS ns, sum(cc) AS nc,
         |        list(struct_pack(r := rnk, c := c, q := cc) ORDER BY rnk) AS a
         |      FROM grid GROUP BY source)
         |SELECT source, CAST(ns AS BIGINT) AS n_tokens,
         |  round(list_reduce(
         |    [CAST(e.c + 1 AS DOUBLE) / (ns + 50) *
         |     ln((CAST(e.c + 1 AS DOUBLE) / (ns + 50)) / (CAST(e.q + 1 AS DOUBLE) / (nc + 50)))
         |     for e in a], (x, y) -> x + y), 6) AS kl_divergence
         |FROM g ORDER BY source""".stripMargin,

    // ln-folds replayed as ordered comprehensions; rank i is its own index,
    // so x-terms regenerate from range(1, n+1)
    "zipf_fit" ->
      s"""WITH t AS (SELECT unnest($sqlTokens) AS tok FROM documents),
         |w AS (SELECT tok, count(*) AS cnt FROM t WHERE tok IS NOT NULL
         |      GROUP BY tok ORDER BY cnt DESC, tok LIMIT 30),
         |r AS (SELECT row_number() OVER (ORDER BY cnt DESC, tok) AS rnk, cnt FROM w),
         |l AS (SELECT count(*) AS n, list(cnt ORDER BY rnk) AS cl FROM r),
         |s AS (SELECT n, CAST(n AS DOUBLE) AS nd,
         |  list_reduce([ln(CAST(i AS DOUBLE)) for i in range(1, n + 1)], (x, y) -> x + y) AS sx,
         |  list_reduce([ln(CAST(cl[CAST(i AS INT)] AS DOUBLE)) for i in range(1, n + 1)], (x, y) -> x + y) AS sy,
         |  list_reduce([ln(CAST(i AS DOUBLE)) * ln(CAST(cl[CAST(i AS INT)] AS DOUBLE)) for i in range(1, n + 1)], (x, y) -> x + y) AS sxy,
         |  list_reduce([ln(CAST(i AS DOUBLE)) * ln(CAST(i AS DOUBLE)) for i in range(1, n + 1)], (x, y) -> x + y) AS sxx
         |  FROM l)
         |SELECT CAST(n AS BIGINT) AS n_tokens,
         |  round(-((sxy - sx * sy / nd) / (sxx - sx * sx / nd)), 6) AS zipf_exponent
         |FROM s""".stripMargin,

    // thresholds are the running double sums (0.9, 0.9 + 0.05), matching the
    // Scala scanLeft — an 0.95 literal is a DIFFERENT double than 0.9 + 0.05
    "split_assign" ->
      """WITH u AS (SELECT source, n_chars,
        |    ('0x' || substr(md5('split42:' || CAST(doc_id AS VARCHAR)), 18, 15))::UBIGINT
        |      / 1152921504606846976.0 AS r
        |  FROM documents)
        |SELECT source,
        |  CASE WHEN r < 0.9 THEN 'train'
        |       WHEN r < 0.9 + 0.05 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM u GROUP BY 1, 2 ORDER BY source, split""".stripMargin,

    "vocab_topk" ->
      s"""WITH t AS (SELECT $sqlTokens AS w FROM documents),
         |tok AS (SELECT unnest(w) AS token FROM t)
         |SELECT token, count(*) AS cnt FROM tok
         |GROUP BY 1 ORDER BY cnt DESC, token LIMIT 30""".stripMargin,

    "pii_scrub" ->
      """WITH inj AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 5 = 0
        |         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' call 555-0142' ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(text, '\d{3}-\d{4}')) AS n_phones,
        |  length(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\d{3}-\d{4}', '<PHONE>', 'g')) AS clean_len
        |FROM inj ORDER BY doc_id""".stripMargin,

    // span replay: distinct 8-token spans per doc (same whole-doc fallback
    // below 8 tokens as shingle_set), spans shared by >= 2 docs, per-doc
    // dup-span counts — the oracle joins on span STRINGS where Spark joins
    // 64-bit hashes (counts agree barring ~2^-32 collisions, as decontam)
    "dup_spans" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
         |g AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= 8
         |    THEN [array_to_string(w[i:i+7], ' ') for i in range(1, len(w) - 6)]
         |    ELSE [array_to_string(w, ' ')] END) AS sh FROM t),
         |e AS (SELECT doc_id, unnest(sh) AS s FROM g),
         |c AS (SELECT s FROM e GROUP BY s HAVING count(*) >= 2),
         |d AS (SELECT e.doc_id, count(*) AS n_dup FROM e JOIN c USING (s) GROUP BY 1),
         |n AS (SELECT doc_id, len(sh) AS n_spans FROM g)
         |SELECT n.doc_id, CAST(n.n_spans AS BIGINT) AS n_spans,
         |  CAST(coalesce(d.n_dup, 0) AS BIGINT) AS n_dup_spans,
         |  round(CAST(coalesce(d.n_dup, 0) AS DOUBLE) / n.n_spans, 6) AS dup_span_ratio
         |FROM n LEFT JOIN d USING (doc_id) ORDER BY doc_id""".stripMargin,

    // batch x corpus near-dup pairs at exact Jaccard >= 0.8 (the LSH
    // candidate stage is recall-lossless on this corpus — same 16x4-band
    // argument as dedup_minhash)
    "dedup_incremental" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
         |g AS (SELECT doc_id, ${sqlShingles("w")} AS sh FROM t),
         |b AS (SELECT doc_id, sh FROM g WHERE doc_id % 23 = 0),
         |c AS (SELECT doc_id, sh FROM g WHERE doc_id % 23 <> 0)
         |SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
         |       round(CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE) /
         |             len(list_distinct(list_concat(b.sh, c.sh))), 6) AS jaccard
         |FROM b JOIN c ON CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE) /
         |                 len(list_distinct(list_concat(b.sh, c.sh))) >= 0.8
         |ORDER BY batch_id, corpus_id""".stripMargin,

    // identical output contract to dedup_incremental — the stored index
    // must be invisible in the result
    "dedup_incremental_index" -> sqlDedupProbeOracle,
    // identical oracle ON PURPOSE: the tier fold is storage layout, not
    // semantics — any divergence (lost batch, double-folded row, broken
    // union view) hash-mismatches here
    "dedup_tier_probe" -> sqlDedupProbeOracle,

    // takedown replay: the same exact-Jaccard contract minus the
    // tombstoned corpus ids — a deleted doc generating a candidate (even
    // its own self-pair) would hash-mismatch here
    "dedup_index_after_delete" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
         |g AS (SELECT doc_id, ${sqlShingles("w")} AS sh FROM t),
         |b AS (SELECT doc_id, sh FROM g WHERE doc_id % 23 = 1),
         |c AS (SELECT doc_id, sh FROM g
         |      WHERE doc_id % 23 <> 0 AND doc_id % 5 <> 1)
         |SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
         |       round(CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE) /
         |             len(list_distinct(list_concat(b.sh, c.sh))), 6) AS jaccard
         |FROM b JOIN c ON CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE) /
         |                 len(list_distinct(list_concat(b.sh, c.sh))) >= 0.8
         |ORDER BY batch_id, corpus_id""".stripMargin,

    // int8 replay: double view of the float vector, list_max scale, same
    // round-half-away-from-zero code rule on both engines
    "embed_quant_int8" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
        |s AS (SELECT vec_id, dv,
        |        list_max([abs(x) for x in dv]) / 127.0 AS scale FROM v)
        |SELECT vec_id, round(scale, 6) AS scale,
        |  round(CASE WHEN scale = 0 THEN 0.0
        |        ELSE list_max([abs(x - round(x / scale) * scale) for x in dv])
        |        END, 6) AS max_err
        |FROM s ORDER BY vec_id""".stripMargin,

    // plane replay identical to neardup_embedding_lsh: REAL-cast md5-uniform
    // components widened to DOUBLE, sequential double inner product
    "embed_project" ->
      """WITH pl AS (SELECT CAST(i.range AS INT) AS i,
        |    [CAST(CAST(('0x' || substr(md5('plane:42:' || CAST(i.range AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 18, 15))::UBIGINT
        |          / 1152921504606846976.0 - 0.5 AS REAL) AS DOUBLE)
        |     for j in range(64)] AS p
        |  FROM range(16) i),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings)
        |SELECT v.vec_id, CAST(pl.i AS BIGINT) AS dim_idx,
        |       round(list_inner_product(v.dv, pl.p), 6) AS value
        |FROM v CROSS JOIN pl ORDER BY vec_id, dim_idx""".stripMargin,

    "decontam_overlap" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
         |g AS (SELECT doc_id, ${sqlShingles("w")} AS sh FROM t),
         |tr AS (SELECT doc_id AS train_id, unnest(sh) AS s FROM g WHERE doc_id % 23 <> 0),
         |ev AS (SELECT doc_id AS eval_id, unnest(sh) AS s FROM g WHERE doc_id % 23 = 0)
         |SELECT train_id, eval_id, count(*) AS n_shared
         |FROM tr JOIN ev USING (s) GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY train_id, eval_id""".stripMargin,

    // coverage-fraction replay: shared counts joined with eval shingle-set
    // sizes; round-then-threshold in the same order as the Spark side
    "decontam_frac" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
         |g AS (SELECT doc_id, ${sqlShingles("w")} AS sh FROM t),
         |tr AS (SELECT doc_id AS train_id, unnest(sh) AS s FROM g WHERE doc_id % 23 <> 0),
         |ev AS (SELECT doc_id AS eval_id, unnest(sh) AS s FROM g WHERE doc_id % 23 = 0),
         |sz AS (SELECT doc_id AS eval_id, len(sh) AS ev_n FROM g WHERE doc_id % 23 = 0),
         |j AS (SELECT train_id, eval_id, count(*) AS n_shared
         |      FROM tr JOIN ev USING (s) GROUP BY 1, 2)
         |SELECT train_id, eval_id, n_shared,
         |       round(CAST(n_shared AS DOUBLE) / ev_n, 6) AS frac
         |FROM j JOIN sz USING (eval_id)
         |WHERE CAST(n_shared AS DOUBLE) / ev_n >= 0.2
         |ORDER BY train_id, eval_id""".stripMargin,

    // Bloom replay: the filter's bit array IS the distinct position set, so
    // membership = "all 4 md5-derived positions present" — false positives
    // (cross-shingle position collisions) replay exactly too
    "bloom_decontam" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
         |g AS (SELECT doc_id, ${sqlShingles("w")} AS sh FROM t),
         |evs AS (SELECT DISTINCT unnest(sh) AS s FROM g WHERE doc_id % 23 = 0),
         |evpos AS (SELECT DISTINCT unnest([('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || s), 18, 15))::UBIGINT % 1048576 for j in range(0, 4)]) AS p FROM evs),
         |trs AS (SELECT doc_id AS train_id, unnest(sh) AS s FROM g WHERE doc_id % 23 <> 0),
         |trp AS (SELECT train_id, s, unnest([('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || s), 18, 15))::UBIGINT % 1048576 for j in range(0, 4)]) AS p FROM trs),
         |m AS (SELECT train_id, s, count(*) AS nm FROM trp JOIN evpos USING (p) GROUP BY 1, 2),
         |h AS (SELECT t.train_id, t.s, coalesce(m.nm, 0) = 4 AS hit
         |      FROM trs t LEFT JOIN m ON t.train_id = m.train_id AND t.s = m.s)
         |SELECT train_id, count(*) AS n_shingles,
         |       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits,
         |       round(CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS bloom_frac
         |FROM h GROUP BY 1 ORDER BY train_id""".stripMargin,

    // transitive closure of the exact-Jaccard near-dup pair graph via a
    // recursive CTE: min reachable id == the Spark side's propagated label
    "dedup_clusters" ->
      s"""WITH RECURSIVE
         |t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
         |g AS (SELECT doc_id, ${sqlShingles("w")} AS sh FROM t),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |      FROM g a JOIN g b ON a.doc_id < b.doc_id
         |      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |            len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
         |e AS (SELECT id_a AS src, id_b AS dst FROM p
         |      UNION SELECT id_b, id_a FROM p),
         |reach(v, l) AS (
         |  SELECT src, src FROM e
         |  UNION
         |  SELECT e.dst, reach.l FROM reach JOIN e ON e.src = reach.v)
         |SELECT v AS doc_id, min(l) AS cluster_id
         |FROM reach GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // star-contraction reaches the identical fixpoint (component min), so
    // the same transitive-closure oracle applies verbatim
    "dedup_clusters_star" ->
      s"""WITH RECURSIVE
         |t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
         |g AS (SELECT doc_id, ${sqlShingles("w")} AS sh FROM t),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |      FROM g a JOIN g b ON a.doc_id < b.doc_id
         |      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |            len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
         |e AS (SELECT id_a AS src, id_b AS dst FROM p
         |      UNION SELECT id_b, id_a FROM p),
         |reach(v, l) AS (
         |  SELECT src, src FROM e
         |  UNION
         |  SELECT e.dst, reach.l FROM reach JOIN e ON e.src = reach.v)
         |SELECT v AS doc_id, min(l) AS cluster_id
         |FROM reach GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "pipeline_curate" ->
      s"""WITH t AS (SELECT doc_id, text, $sqlTokens AS w FROM documents),
         |h AS (SELECT doc_id, text, w, $langHitsSql FROM t),
         |q AS (SELECT doc_id, text,
         |  $langCaseSql AS lang,
         |  len(w) AS n_tokens,
         |  CASE WHEN len(w) > 0 THEN CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len(w) ELSE 0.0 END AS avg_token_len,
         |  CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS alpha_ratio,
         |  CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS digit_ratio,
         |  CASE WHEN len(w) > 0 THEN CAST(len(list_filter(w, x -> x IN ($enList))) AS DOUBLE) / len(w) ELSE 0.0 END AS stopword_ratio
         |  FROM h),
         |sc AS (SELECT doc_id, text, lang,
         |  alpha_ratio * 0.4 + least(stopword_ratio * 5.0, 1.0) * 0.3 +
         |  (CASE WHEN avg_token_len >= 3 AND avg_token_len <= 10 THEN 1.0 ELSE 0.0 END) * 0.2 +
         |  (1.0 - least(digit_ratio * 5.0, 1.0)) * 0.1 AS quality_score
         |  FROM q),
         |f AS (SELECT doc_id, lang, quality_score,
         |        row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |      FROM sc WHERE quality_score >= 0.5 AND lang = 'en')
         |SELECT doc_id, lang, round(quality_score, 6) AS quality_score
         |FROM f WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // full pipeline replay: gopher rules -> per-source rates on the KEPT
    // set -> md5-uniform sample -> recursive-CTE packing sweep
    "pipeline_pretrain" ->
      s"""WITH RECURSIVE
         |t AS (SELECT doc_id, source, text, $sqlTokens AS w FROM documents),
         |q AS (SELECT doc_id, source, len(w) AS n,
         |  CASE WHEN len(w) > 0 THEN CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len(w) ELSE 0.0 END AS mean_len,
         |  len(list_filter(['the', 'a', 'of', 'and', 'to', 'in', 'is'],
         |                  s -> list_contains(list_transform(w, x -> lower(x)), s))) AS n_stop,
         |  len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha
         |  FROM t),
         |kept AS (SELECT doc_id, source, n FROM q
         |  WHERE n >= 40 AND n <= 150 AND mean_len >= 3.0 AND mean_len <= 10.0
         |    AND n_stop >= 2 AND n > 0 AND CAST(n_alpha AS DOUBLE) / n >= 0.8),
         |s AS (SELECT source, CAST(sum(n) AS DOUBLE) AS st FROM kept GROUP BY 1),
         |r AS (SELECT source,
         |        least(1.0, (CASE WHEN source = 'src0' THEN 2000.0 ELSE 600.0 END) / st) AS rate
         |      FROM s),
         |samp AS (SELECT kept.doc_id, kept.n FROM kept JOIN r USING (source)
         |  WHERE ('0x' || substr(md5('pre42:' || CAST(doc_id AS VARCHAR)), 18, 15))::UBIGINT
         |        / 1152921504606846976.0 < rate),
         |t0 AS (SELECT doc_id, n AS n_tokens,
         |         ('0x' || substr(md5('prepack42:' || CAST(doc_id AS VARCHAR)), 18, 15))::UBIGINT % 4 AS bucket
         |       FROM samp),
         |tb AS (SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
         |         CAST(n_tokens AS BIGINT) AS n_tokens,
         |         row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
         |       FROM t0),
         |rec AS (
         |  SELECT bucket, rn, doc_id, n_tokens,
         |         CAST(0 AS BIGINT) AS seq_id, n_tokens AS running
         |  FROM tb WHERE rn = 1
         |  UNION ALL
         |  SELECT tb.bucket, tb.rn, tb.doc_id, tb.n_tokens,
         |    CASE WHEN rec.running + tb.n_tokens > 256 THEN rec.seq_id + 1
         |         ELSE rec.seq_id END,
         |    CASE WHEN rec.running + tb.n_tokens > 256 THEN tb.n_tokens
         |         ELSE rec.running + tb.n_tokens END
         |  FROM rec JOIN tb ON tb.bucket = rec.bucket AND tb.rn = rec.rn + 1)
         |SELECT doc_id, bucket, n_tokens, seq_id FROM rec ORDER BY doc_id""".stripMargin,

    // report replay: the unrounded quality formula (as text_quality, rounded
    // only inside the 1e-6 fixed-point), md5 multiplicity for dup flags
    "curation_report" ->
      s"""WITH t AS (SELECT doc_id, source, text, $sqlTokens AS w FROM documents),
         |q AS (SELECT doc_id,
         |  len(w) AS n_tokens,
         |  CASE WHEN len(w) > 0 THEN CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len(w) ELSE 0.0 END AS avg_token_len,
         |  CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS alpha_ratio,
         |  CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS digit_ratio,
         |  CASE WHEN len(w) > 0 THEN CAST(len(list_filter(w, x -> x IN ($enList))) AS DOUBLE) / len(w) ELSE 0.0 END AS stopword_ratio
         |  FROM t),
         |fp AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(floor((alpha_ratio * 0.4 + least(stopword_ratio * 5.0, 1.0) * 0.3 +
         |       (CASE WHEN avg_token_len >= 3 AND avg_token_len <= 10 THEN 1.0 ELSE 0.0 END) * 0.2 +
         |       (1.0 - least(digit_ratio * 5.0, 1.0)) * 0.1) * 1000000.0 + 0.5) AS BIGINT) AS qfp
         |  FROM q),
         |h AS (SELECT doc_id, source, md5(text) AS ch FROM documents),
         |c AS (SELECT ch, count(*) AS c FROM h GROUP BY 1),
         |fl AS (SELECT h.doc_id, h.source,
         |         CASE WHEN c.c > 1 THEN 1 ELSE 0 END AS dup
         |       FROM h JOIN c USING (ch))
         |SELECT fl.source, count(*) AS n_docs,
         |  CAST(sum(fp.n_tokens) AS BIGINT) AS total_tokens,
         |  round(CAST(sum(fp.qfp) AS DOUBLE) / 1000000.0 / count(*), 6) AS avg_quality,
         |  round(CAST(sum(fl.dup) AS DOUBLE) / count(*), 6) AS dup_rate
         |FROM fl JOIN fp USING (doc_id)
         |GROUP BY 1 ORDER BY source""".stripMargin,

    "corpus_stats" ->
      s"""WITH t AS (SELECT doc_id, text, $sqlTokens AS w FROM documents),
         |h AS (SELECT doc_id, len(w) AS n_tokens, $langHitsSql FROM t),
         |l AS (SELECT
         |  $langCaseSql AS lang,
         |  CAST(n_tokens AS BIGINT) AS n_tokens FROM h)
         |SELECT lang, count(*) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |       round(avg(n_tokens), 6) AS mean_tokens,
         |       round(quantile_cont(n_tokens, 0.5), 6) AS median_tokens
         |FROM l GROUP BY 1 ORDER BY lang""".stripMargin,

    // LM replay: DuckDB's parallel unnest zips the two shifted token slices
    // into bigrams; same add-one smoothing, same 1e-9 fixed-point sum
    "lm_score" ->
      s"""$sqlLmAgg
         |SELECT t.doc_id, CAST(coalesce(agg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |  coalesce(round(CAST(agg.s AS DOUBLE) / 1000000000.0 / agg.n_bigrams, 6), 0.0) AS avg_logp
         |FROM t LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,

    // CCNet perplexity buckets: the SAME lm pipeline, then per-source ntile
    // thirds on (rounded score desc, doc_id) — standard-SQL ntile semantics
    // match between engines
    "lm_buckets" ->
      s"""$sqlLmAgg,
         |sc2 AS (SELECT t.doc_id, t.source,
         |          coalesce(round(CAST(agg.s AS DOUBLE) / 1000000000.0 / agg.n_bigrams, 6), 0.0) AS avg_logp
         |        FROM t LEFT JOIN agg USING (doc_id)),
         |b AS (SELECT doc_id, source,
         |        ntile(3) OVER (PARTITION BY source ORDER BY avg_logp DESC, doc_id) AS nt
         |      FROM sc2)
         |SELECT doc_id, source,
         |  CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM b ORDER BY doc_id""".stripMargin,

    // Gopher-rule replay: the stopword-distinct count filters the literal
    // stop list against the token array (same "distinct hits" semantics as
    // the Spark side, no reliance on engine intersect dedup behavior)
    "gopher_quality" ->
      s"""WITH t AS (SELECT doc_id, text, $sqlTokens AS w FROM documents),
         |m AS (SELECT doc_id,
         |  len(w) AS n_tokens,
         |  CASE WHEN len(w) > 0 THEN CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len(w) ELSE 0.0 END AS mean_len,
         |  len(list_filter(['the', 'a', 'of', 'and', 'to', 'in', 'is'],
         |                  s -> list_contains(list_transform(w, x -> lower(x)), s))) AS n_stop,
         |  len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha
         |  FROM t)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  n_tokens >= 40 AND n_tokens <= 150 AS word_count_ok,
         |  mean_len >= 3.0 AND mean_len <= 10.0 AS mean_len_ok,
         |  n_stop >= 2 AS stop_ok,
         |  n_tokens > 0 AND CAST(n_alpha AS DOUBLE) / n_tokens >= 0.8 AS alpha_ok,
         |  (n_tokens >= 40 AND n_tokens <= 150)
         |    AND (mean_len >= 3.0 AND mean_len <= 10.0)
         |    AND n_stop >= 2
         |    AND (n_tokens > 0 AND CAST(n_alpha AS DOUBLE) / n_tokens >= 0.8) AS passes
         |FROM m ORDER BY doc_id""".stripMargin,

    "tfidf_topk" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
         |tok AS (SELECT doc_id, unnest(w) AS token FROM t),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dfreq AS (SELECT token, count(*) AS df_t FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |sc AS (SELECT doc_id, token,
         |    CAST(tf AS DOUBLE) * ln(1.0 + CAST(n_docs AS DOUBLE) / CAST(df_t AS DOUBLE)) AS tfidf
         |  FROM tf JOIN dfreq USING (token) CROSS JOIN n)
         |SELECT doc_id, token, round(tfidf, 6) AS tfidf FROM sc
         |ORDER BY tfidf DESC, doc_id, token LIMIT 50""".stripMargin,

    // recursive-CTE replay of the greedy first-fit sweep: per md5 bucket,
    // rows ordered by doc_id, a doc opens a new sequence iff adding it would
    // overflow the 256-token budget
    "pack_sequences" ->
      s"""WITH RECURSIVE
         |t0 AS (SELECT doc_id, len($sqlTokens) AS n_tokens,
         |         ('0x' || substr(md5('pack42:' || CAST(doc_id AS VARCHAR)), 18, 15))::UBIGINT % 8 AS bucket
         |       FROM documents),
         |t AS (SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
         |        CAST(n_tokens AS BIGINT) AS n_tokens,
         |        row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
         |      FROM t0),
         |rec AS (
         |  SELECT bucket, rn, doc_id, n_tokens,
         |         CAST(0 AS BIGINT) AS seq_id, n_tokens AS running
         |  FROM t WHERE rn = 1
         |  UNION ALL
         |  SELECT t.bucket, t.rn, t.doc_id, t.n_tokens,
         |    CASE WHEN rec.running + t.n_tokens > 256 THEN rec.seq_id + 1
         |         ELSE rec.seq_id END,
         |    CASE WHEN rec.running + t.n_tokens > 256 THEN t.n_tokens
         |         ELSE rec.running + t.n_tokens END
         |  FROM rec JOIN t ON t.bucket = rec.bucket AND t.rn = rec.rn + 1)
         |SELECT doc_id, bucket, n_tokens, seq_id FROM rec ORDER BY doc_id""".stripMargin,

    // mixture-sampling replay: identical double arithmetic for the rate
    // (budget / per-source token total) and the md5-uniform keep rule
    "sample_mixture" ->
      s"""WITH t AS (SELECT doc_id, source, len($sqlTokens) AS n FROM documents),
         |s AS (SELECT source, CAST(sum(n) AS DOUBLE) AS st FROM t GROUP BY 1),
         |r AS (SELECT source,
         |        least(1.0, (CASE WHEN source = 'src0' THEN 3000.0 ELSE 800.0 END) / st) AS rate
         |      FROM s)
         |SELECT t.doc_id, t.source FROM t JOIN r USING (source)
         |WHERE ('0x' || substr(md5('mix42:' || CAST(doc_id AS VARCHAR)), 18, 15))::UBIGINT
         |      / 1152921504606846976.0 < rate
         |ORDER BY doc_id""".stripMargin,

    "mixture_report" ->
      s"""WITH t AS (SELECT doc_id, source, len($sqlTokens) AS n FROM documents),
         |s AS (SELECT source, CAST(sum(n) AS DOUBLE) AS st FROM t GROUP BY 1),
         |r AS (SELECT source,
         |        least(1.0, (CASE WHEN source = 'src0' THEN 3000.0 ELSE 800.0 END) / st) AS rate
         |      FROM s),
         |kept AS (SELECT t.doc_id, t.source, t.n FROM t JOIN r USING (source)
         |  WHERE ('0x' || substr(md5('mix42:' || CAST(doc_id AS VARCHAR)), 18, 15))::UBIGINT
         |        / 1152921504606846976.0 < rate)
         |SELECT source, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS achieved_tokens,
         |       CAST(CASE WHEN source = 'src0' THEN 3000 ELSE 800 END AS BIGINT) AS target_tokens
         |FROM kept GROUP BY source ORDER BY source""".stripMargin,

    // replays the per-doc quality formula (text_quality's q CTE), then the
    // greedy fill: windows run over the nSources-row aggregate only
    "source_budget_fill" ->
      s"""WITH t AS (SELECT source, text, $sqlTokens AS w FROM documents),
         |q AS (SELECT source, len(w) AS n,
         |  CASE WHEN len(w) > 0 THEN CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len(w) ELSE 0.0 END AS avg_token_len,
         |  CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS alpha_ratio,
         |  CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS digit_ratio,
         |  CASE WHEN len(w) > 0 THEN CAST(len(list_filter(w, x -> x IN ($enList))) AS DOUBLE) / len(w) ELSE 0.0 END AS stopword_ratio
         |  FROM t),
         |sc AS (SELECT source, n,
         |  alpha_ratio * 0.4 + least(stopword_ratio * 5.0, 1.0) * 0.3 +
         |  (CASE WHEN avg_token_len >= 3 AND avg_token_len <= 10 THEN 1.0 ELSE 0.0 END) * 0.2 +
         |  (1.0 - least(digit_ratio * 5.0, 1.0)) * 0.1 AS qs
         |  FROM q),
         |per AS (SELECT source, CAST(sum(n) AS BIGINT) AS total_tokens,
         |               round(avg(qs), 6) AS mean_quality
         |        FROM sc GROUP BY 1),
         |o AS (SELECT source, mean_quality, total_tokens,
         |        row_number() OVER (ORDER BY mean_quality DESC, source) AS fill_order,
         |        coalesce(sum(total_tokens) OVER (ORDER BY mean_quality DESC, source
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |      FROM per)
         |SELECT source, mean_quality, total_tokens,
         |       CAST(fill_order AS BIGINT) AS fill_order,
         |       CAST(greatest(0, least(total_tokens, 10000 - cum_before)) AS BIGINT) AS allocated_tokens
         |FROM o ORDER BY fill_order""".stripMargin,

    "doc_len_histogram" ->
      s"""WITH t AS (SELECT source, len($sqlTokens) AS n FROM documents)
         |SELECT source, CAST(n // 20 * 20 AS BIGINT) AS bucket_lo,
         |       count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS sum_tokens
         |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // entropy replay: identical 1e-9 fixed-point of each term's ln BEFORE
    // the weighted integer sum (order-free), same finishing division
    "corpus_entropy" ->
      s"""WITH tok AS (SELECT source, unnest($sqlTokens) AS t FROM documents),
         |c AS (SELECT source, t, count(*) AS c FROM tok GROUP BY 1, 2),
         |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot,
         |               count(*) AS vocab FROM c GROUP BY 1),
         |fp AS (SELECT c.source,
         |         CAST(floor(ln(CAST(c.c AS DOUBLE) / CAST(tot AS DOUBLE))
         |              * 1000000000.0 + 0.5) AS BIGINT) * c.c AS f
         |       FROM c JOIN tot USING (source)),
         |s AS (SELECT source, sum(f) AS s FROM fp GROUP BY 1)
         |SELECT s.source, tot.vocab, tot.tot AS n_tokens,
         |       round(-CAST(s.s AS DOUBLE) / 1000000000.0 / CAST(tot.tot AS DOUBLE), 6) AS entropy
         |FROM s JOIN tot USING (source) ORDER BY source""".stripMargin,

    // BM25 replay in the exact operation order of TextAnalysis.bm25:
    // lenNorm = k1*((1-b) + b*dl/avgdl), score_i = idf*tf*(k1+1)/(tf+lenNorm),
    // summed left-to-right over the 3 terms
    "bm25_search" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
         |f AS (SELECT doc_id, len(w) AS dl,
         |        len(list_filter(w, x -> x = 'vector')) AS tf0,
         |        len(list_filter(w, x -> x = 'query')) AS tf1,
         |        len(list_filter(w, x -> x = 'dup')) AS tf2
         |      FROM t),
         |st AS (SELECT count(*) AS n, sum(dl) AS sumdl,
         |         sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
         |         sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
         |         sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
         |       FROM f),
         |sc AS (SELECT doc_id,
         |    ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * CAST(tf0 AS DOUBLE) * (1.2 + 1.0)
         |      / (CAST(tf0 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n)))
         |  + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * CAST(tf1 AS DOUBLE) * (1.2 + 1.0)
         |      / (CAST(tf1 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n)))
         |  + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * CAST(tf2 AS DOUBLE) * (1.2 + 1.0)
         |      / (CAST(tf2 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n)))
         |  AS bm25
         |  FROM f CROSS JOIN st)
         |SELECT doc_id, round(bm25, 6) AS bm25 FROM sc WHERE bm25 > 0
         |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,

    // indexed replay: identical formula, but per-term scores are rounded to
    // 6 decimals and summed as DECIMAL(20,6) (TextIndex's shuffle-order-proof
    // summation; a tf=0 term scores exactly 0, so summing all three mirrors
    // the posting-rows-only sum)
    "bm25_indexed" -> sqlBm25IndexedFullCorpus,
    // same oracle on purpose: a tier fold must serve the IDENTICAL result
    // a full build over the same corpus would — tiering is a storage-layout
    // decision, never a semantic one
    "bm25_tier_fold" -> sqlBm25IndexedFullCorpus,

    // masked-serve replay: FULL-corpus stats (the index has not folded the
    // tombstones yet), deleted ids dropped from the candidate set only
    "bm25_after_delete" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
         |f AS (SELECT doc_id, len(w) AS dl,
         |        len(list_filter(w, x -> x = 'vector')) AS tf0,
         |        len(list_filter(w, x -> x = 'query')) AS tf1,
         |        len(list_filter(w, x -> x = 'dup')) AS tf2
         |      FROM t),
         |st AS (SELECT count(*) AS n, sum(dl) AS sumdl,
         |         sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
         |         sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
         |         sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
         |       FROM f),
         |sc AS (SELECT doc_id,
         |    CAST(round(ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * CAST(tf0 AS DOUBLE) * (1.2 + 1.0)
         |      / (CAST(tf0 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n))), 6) AS DECIMAL(20,6))
         |  + CAST(round(ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * CAST(tf1 AS DOUBLE) * (1.2 + 1.0)
         |      / (CAST(tf1 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n))), 6) AS DECIMAL(20,6))
         |  + CAST(round(ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * CAST(tf2 AS DOUBLE) * (1.2 + 1.0)
         |      / (CAST(tf2 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n))), 6) AS DECIMAL(20,6))
         |  AS bm25d
         |  FROM f CROSS JOIN st)
         |SELECT doc_id, CAST(bm25d AS DOUBLE) AS bm25 FROM sc
         |WHERE bm25d > 0 AND doc_id % 7 <> 3
         |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,

    // post-VACUUM replay: the whole formula over the SURVIVING corpus —
    // the fold physically removed the deleted docs from stats and postings
    "bm25_after_vacuum" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents
         |           WHERE doc_id % 7 <> 3),
         |f AS (SELECT doc_id, len(w) AS dl,
         |        len(list_filter(w, x -> x = 'vector')) AS tf0,
         |        len(list_filter(w, x -> x = 'query')) AS tf1,
         |        len(list_filter(w, x -> x = 'dup')) AS tf2
         |      FROM t),
         |st AS (SELECT count(*) AS n, sum(dl) AS sumdl,
         |         sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
         |         sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
         |         sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
         |       FROM f),
         |sc AS (SELECT doc_id,
         |    CAST(round(ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * CAST(tf0 AS DOUBLE) * (1.2 + 1.0)
         |      / (CAST(tf0 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n))), 6) AS DECIMAL(20,6))
         |  + CAST(round(ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * CAST(tf1 AS DOUBLE) * (1.2 + 1.0)
         |      / (CAST(tf1 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n))), 6) AS DECIMAL(20,6))
         |  + CAST(round(ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * CAST(tf2 AS DOUBLE) * (1.2 + 1.0)
         |      / (CAST(tf2 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n))), 6) AS DECIMAL(20,6))
         |  AS bm25d
         |  FROM f CROSS JOIN st)
         |SELECT doc_id, CAST(bm25d AS DOUBLE) AS bm25 FROM sc WHERE bm25d > 0
         |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,

    "hybrid_rrf_stored" -> sqlHybridStoredOracle,

    // per-column aggregate replay; "column" quoted (DuckDB keyword)
    "data_profile" ->
      """SELECT 'doc_id' AS "column", count(*) AS n_rows,
        |       count(CASE WHEN doc_id IS NULL THEN 1 END) AS n_nulls,
        |       round(CAST(count(CASE WHEN doc_id IS NULL THEN 1 END) AS DOUBLE) / count(*), 6) AS null_frac,
        |       count(DISTINCT doc_id) AS n_distinct,
        |       CAST(min(doc_id) AS DOUBLE) AS min, CAST(max(doc_id) AS DOUBLE) AS max,
        |       round(avg(CAST(doc_id AS DOUBLE)), 6) AS mean
        |FROM documents
        |UNION ALL
        |SELECT 'lang', count(*),
        |       count(CASE WHEN lang IS NULL THEN 1 END),
        |       round(CAST(count(CASE WHEN lang IS NULL THEN 1 END) AS DOUBLE) / count(*), 6),
        |       count(DISTINCT lang),
        |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        |FROM documents
        |UNION ALL
        |SELECT 'n_chars', count(*),
        |       count(CASE WHEN n_chars IS NULL THEN 1 END),
        |       round(CAST(count(CASE WHEN n_chars IS NULL THEN 1 END) AS DOUBLE) / count(*), 6),
        |       count(DISTINCT n_chars),
        |       CAST(min(n_chars) AS DOUBLE), CAST(max(n_chars) AS DOUBLE),
        |       round(avg(CAST(n_chars AS DOUBLE)), 6)
        |FROM documents
        |UNION ALL
        |SELECT 'source', count(*),
        |       count(CASE WHEN source IS NULL THEN 1 END),
        |       round(CAST(count(CASE WHEN source IS NULL THEN 1 END) AS DOUBLE) / count(*), 6),
        |       count(DISTINCT source),
        |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        |FROM documents
        |ORDER BY "column"""".stripMargin,

    // one aggregate row judged by every check; declaration order kept
    "dq_expectations" ->
      """WITH a AS (SELECT count(*) AS n,
        |    count(CASE WHEN text IS NULL THEN 1 END) AS text_nulls,
        |    count(DISTINCT doc_id) AS id_dist,
        |    count(CASE WHEN doc_id IS NULL THEN 1 END) AS id_nulls,
        |    count(CASE WHEN lang IS NOT NULL THEN 1 END) AS lang_nn,
        |    count(CASE WHEN lang IN ('en','de','fr','es') THEN 1 END) AS lang_ok4,
        |    count(CASE WHEN lang IN ('en') THEN 1 END) AS lang_ok1,
        |    count(CASE WHEN n_chars < 0 OR n_chars > 500 THEN 1 END) AS chars_bad
        |  FROM documents)
        |SELECT 'row_count_between_1_10000000' AS "check",
        |       round(CAST(n AS DOUBLE), 6) AS observed,
        |       n >= 1 AND n <= 10000000 AS passed FROM a
        |UNION ALL
        |SELECT 'null_frac_text_le_0.0',
        |       round(round(CAST(text_nulls AS DOUBLE) / n, 6), 6),
        |       round(CAST(text_nulls AS DOUBLE) / n, 6) <= 0.0 FROM a
        |UNION ALL
        |SELECT 'unique_doc_id', round(CAST(id_dist + id_nulls AS DOUBLE), 6),
        |       id_dist + id_nulls = n FROM a
        |UNION ALL
        |SELECT 'accepted_lang_ge_0.5',
        |       round(CAST(lang_ok4 AS DOUBLE) / (CASE WHEN lang_nn = 0 THEN 1 ELSE lang_nn END), 6),
        |       round(CAST(lang_ok4 AS DOUBLE) / (CASE WHEN lang_nn = 0 THEN 1 ELSE lang_nn END), 6) >= 0.5 FROM a
        |UNION ALL
        |SELECT 'accepted_lang_ge_0.9',
        |       round(CAST(lang_ok1 AS DOUBLE) / (CASE WHEN lang_nn = 0 THEN 1 ELSE lang_nn END), 6),
        |       round(CAST(lang_ok1 AS DOUBLE) / (CASE WHEN lang_nn = 0 THEN 1 ELSE lang_nn END), 6) >= 0.9 FROM a
        |UNION ALL
        |SELECT 'values_n_chars_in_0.0_500.0', round(CAST(chars_bad AS DOUBLE), 6),
        |       chars_bad = 0 FROM a
        |ORDER BY "check"""".stripMargin,

    // per-query replays of the same decimal kernel, unioned; outer order
    // matches the Spark side's (qid, best-first, id)
    "bm25_batch" -> {
      val subs = bm25BatchQueries
        .map { case (q, ts) => sqlBm25DecimalSub(q, ts, 10) }
        .mkString("\nUNION ALL\n")
      s"""SELECT qid, id, bm25 FROM (
         |$subs
         |) ORDER BY qid, bm25 DESC, id""".stripMargin
    },

    // first-principles recompute of the artifact's totals; string values
    // because the Spark side's DESCRIBE-style output is (property, value)
    "text_index_stats" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
         |p AS (SELECT doc_id, unnest(w) AS term FROM t),
         |m AS (SELECT
         |    (SELECT count(*) FROM t) AS num_docs,
         |    (SELECT coalesce(sum(len(w)), 0) FROM t) AS num_tokens,
         |    (SELECT count(DISTINCT term) FROM p) AS vocabulary_size,
         |    (SELECT count(*) FROM (SELECT DISTINCT doc_id, term FROM p)) AS posting_rows)
         |SELECT 'num_docs' AS property, CAST(num_docs AS VARCHAR) AS value FROM m
         |UNION ALL SELECT 'num_tokens', CAST(num_tokens AS VARCHAR) FROM m
         |UNION ALL SELECT 'posting_rows', CAST(posting_rows AS VARCHAR) FROM m
         |UNION ALL SELECT 'vocabulary_size', CAST(vocabulary_size AS VARCHAR) FROM m
         |ORDER BY property""".stripMargin,

    // chunking replayed exactly as chunk_sliding's oracle, then the
    // decimal BM25 kernel over the chunk table (chunk_text renamed to
    // `text` so the shared token definition applies verbatim)
    "bm25_chunks" ->
      s"""WITH starts AS (
         |  SELECT doc_id, text AS full_text,
         |         unnest(range(0, CAST(greatest(length(text), 1) AS BIGINT), 150)) AS chunk_start
         |  FROM documents),
         |ch AS (SELECT doc_id * 100000 + CAST(chunk_start // 150 AS BIGINT) AS chunk_id,
         |              substring(full_text, CAST(chunk_start AS INT) + 1, 200) AS text
         |       FROM starts),
         |t AS (SELECT chunk_id, $sqlTokens AS w FROM ch),
         |f AS (SELECT chunk_id, len(w) AS dl,
         |        len(list_filter(w, x -> x = 'vector')) AS tf0,
         |        len(list_filter(w, x -> x = 'query')) AS tf1,
         |        len(list_filter(w, x -> x = 'dup')) AS tf2
         |      FROM t),
         |st AS (SELECT count(*) AS n, sum(dl) AS sumdl,
         |         sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
         |         sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
         |         sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
         |       FROM f),
         |sc AS (SELECT chunk_id,
         |    CAST(round(ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * CAST(tf0 AS DOUBLE) * (1.2 + 1.0)
         |      / (CAST(tf0 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n))), 6) AS DECIMAL(20,6))
         |  + CAST(round(ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * CAST(tf1 AS DOUBLE) * (1.2 + 1.0)
         |      / (CAST(tf1 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n))), 6) AS DECIMAL(20,6))
         |  + CAST(round(ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * CAST(tf2 AS DOUBLE) * (1.2 + 1.0)
         |      / (CAST(tf2 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n))), 6) AS DECIMAL(20,6))
         |  AS bm25d
         |  FROM f CROSS JOIN st)
         |SELECT chunk_id, CAST(bm25d AS DOUBLE) AS bm25 FROM sc WHERE bm25d > 0
         |ORDER BY bm25 DESC, chunk_id LIMIT 20""".stripMargin,

    // context-pack replay: the bm25_chunks kernel verbatim, top-20, token
    // counts from the SAME chunk token lists, running sum in (score desc,
    // chunk_id) order, kept while the cumulative budget holds
    "rag_context_pack" ->
      s"""WITH starts AS (
         |  SELECT doc_id, text AS full_text,
         |         unnest(range(0, CAST(greatest(length(text), 1) AS BIGINT), 150)) AS chunk_start
         |  FROM documents),
         |ch AS (SELECT doc_id * 100000 + CAST(chunk_start // 150 AS BIGINT) AS chunk_id,
         |              substring(full_text, CAST(chunk_start AS INT) + 1, 200) AS text
         |       FROM starts),
         |t AS (SELECT chunk_id, $sqlTokens AS w FROM ch),
         |f AS (SELECT chunk_id, len(w) AS dl,
         |        len(list_filter(w, x -> x = 'vector')) AS tf0,
         |        len(list_filter(w, x -> x = 'query')) AS tf1,
         |        len(list_filter(w, x -> x = 'dup')) AS tf2
         |      FROM t),
         |st AS (SELECT count(*) AS n, sum(dl) AS sumdl,
         |         sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
         |         sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
         |         sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
         |       FROM f),
         |sc AS (SELECT chunk_id,
         |    CAST(round(ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * CAST(tf0 AS DOUBLE) * (1.2 + 1.0)
         |      / (CAST(tf0 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n))), 6) AS DECIMAL(20,6))
         |  + CAST(round(ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * CAST(tf1 AS DOUBLE) * (1.2 + 1.0)
         |      / (CAST(tf1 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n))), 6) AS DECIMAL(20,6))
         |  + CAST(round(ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * CAST(tf2 AS DOUBLE) * (1.2 + 1.0)
         |      / (CAST(tf2 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n))), 6) AS DECIMAL(20,6))
         |  AS bm25d
         |  FROM f CROSS JOIN st),
         |top AS (SELECT chunk_id, CAST(bm25d AS DOUBLE) AS bm25 FROM sc
         |        WHERE bm25d > 0 ORDER BY bm25 DESC, chunk_id LIMIT 20),
         |sel AS (SELECT top.chunk_id, top.bm25,
         |          CAST(len(t.w) AS BIGINT) AS n_tokens,
         |          CAST(sum(CAST(len(t.w) AS BIGINT)) OVER (
         |            ORDER BY top.bm25 DESC, top.chunk_id
         |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |        FROM top JOIN t USING (chunk_id))
         |SELECT chunk_id, bm25, n_tokens, cum_tokens FROM sel
         |WHERE cum_tokens <= 300 ORDER BY bm25 DESC, chunk_id""".stripMargin,

    // phrase replay straight off the token lists: count offsets i where
    // both phrase words match consecutively (1-based list indexing)
    "phrase_search" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
         |c AS (SELECT doc_id,
         |        CASE WHEN len(w) < 2 THEN 0
         |             ELSE len(list_filter(range(1, len(w)),
         |               i -> w[i] = 'table' AND w[i+1] = 'hash')) END AS n_occurrences
         |      FROM t)
         |SELECT doc_id, n_occurrences FROM c WHERE n_occurrences > 0
         |ORDER BY n_occurrences DESC, doc_id LIMIT 30""".stripMargin,

    // proximity replay from raw token lists: per-term 1-based position
    // lists, anchor = 'table' position with a 'join' AND a 'hash' within ±4
    "proximity_search" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
         |p AS (SELECT doc_id,
         |        [i for i in range(1, len(w)+1) if w[i] = 'table'] AS p0,
         |        [i for i in range(1, len(w)+1) if w[i] = 'join'] AS p1,
         |        [i for i in range(1, len(w)+1) if w[i] = 'hash'] AS p2
         |      FROM t),
         |c AS (SELECT doc_id,
         |        len(list_filter(p0, p ->
         |          len(list_filter(p1, q -> abs(q - p) <= 4)) > 0
         |          AND len(list_filter(p2, q -> abs(q - p) <= 4)) > 0))
         |          AS n_anchors
         |      FROM p)
         |SELECT doc_id, n_anchors FROM c WHERE n_anchors > 0
         |ORDER BY n_anchors DESC, doc_id LIMIT 30""".stripMargin,

    // hybrid retrieval: the bm25 CTEs verbatim + the exact-cosine top-50,
    // ranks over ROUNDED scores, RRF sum in the Spark side's operand order
    "hybrid_rrf" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
         |f AS (SELECT doc_id, len(w) AS dl,
         |        len(list_filter(w, x -> x = 'vector')) AS tf0,
         |        len(list_filter(w, x -> x = 'query')) AS tf1,
         |        len(list_filter(w, x -> x = 'dup')) AS tf2
         |      FROM t),
         |st AS (SELECT count(*) AS n, sum(dl) AS sumdl,
         |         sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
         |         sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
         |         sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
         |       FROM f),
         |sc AS (SELECT doc_id,
         |    ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * CAST(tf0 AS DOUBLE) * (1.2 + 1.0)
         |      / (CAST(tf0 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n)))
         |  + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * CAST(tf1 AS DOUBLE) * (1.2 + 1.0)
         |      / (CAST(tf1 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n)))
         |  + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * CAST(tf2 AS DOUBLE) * (1.2 + 1.0)
         |      / (CAST(tf2 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n)))
         |  AS bm25
         |  FROM f CROSS JOIN st),
         |btop AS (SELECT doc_id AS id, round(bm25, 6) AS bscore FROM sc
         |  WHERE round(bm25, 6) > 0 ORDER BY bscore DESC, id LIMIT 50),
         |br AS (SELECT id, row_number() OVER (ORDER BY bscore DESC, id) AS rb FROM btop),
         |vtop AS (SELECT vec_id AS id,
         |    round(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]),
         |      (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS vdist
         |  FROM embeddings WHERE vec_id <> 0 ORDER BY vdist, id LIMIT 50),
         |vr AS (SELECT id, row_number() OVER (ORDER BY vdist, id) AS rv FROM vtop)
         |SELECT coalesce(vr.id, br.id) AS id,
         |  round(coalesce(1.0 / (60 + rv), 0) + coalesce(1.0 / (60 + rb), 0), 6) AS rrf
         |FROM vr FULL OUTER JOIN br ON vr.id = br.id
         |ORDER BY rrf DESC, id LIMIT 20""".stripMargin,

    // full replay of the deterministic Lloyd step: md5-ranked centroid pick,
    // argmin assignment (tie on centroid index), fixed-point (2^-20) per-dim
    // sums -> exact rational means, then norm/shift in dim order
    "kmeans_refine" ->
      """WITH ranked AS (
        |  SELECT vec_id, embedding,
        |    ('0x' || substr(md5('km42:' || CAST(vec_id AS VARCHAR)), 18, 15))::UBIGINT
        |      / 1152921504606846976.0 AS u
        |  FROM embeddings),
        |cent AS (
        |  SELECT row_number() OVER (ORDER BY u, vec_id) - 1 AS cid,
        |         CAST(embedding AS DOUBLE[]) AS cv
        |  FROM ranked ORDER BY u, vec_id LIMIT 8),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
        |dists AS (
        |  SELECT v.vec_id, c.cid,
        |    list_inner_product([c.cv[i] - v.dv[i] for i in range(1, 65)],
        |                       [c.cv[i] - v.dv[i] for i in range(1, 65)]) AS d
        |  FROM v CROSS JOIN cent c),
        |asg AS (
        |  SELECT vec_id, cid AS cluster FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |    FROM dists) WHERE rn = 1),
        |qv AS (SELECT a.cluster, v.vec_id,
        |         [CAST(floor(v.dv[CAST(i AS INT)] * 1048576.0 + 0.5) AS BIGINT)
        |          for i in range(1, 65)] AS q
        |       FROM v JOIN asg a USING (vec_id)),
        |s AS (SELECT cluster, r.range AS j, sum(q[CAST(r.range AS INT)]) AS sq
        |      FROM qv CROSS JOIN range(1, 65) r GROUP BY 1, 2),
        |cl AS (SELECT cluster, list(CAST(sq AS DOUBLE) ORDER BY j) AS sums
        |       FROM s GROUP BY 1),
        |n AS (SELECT cluster, count(*) AS n_members FROM asg GROUP BY 1),
        |fin AS (SELECT n.cluster, n.n_members,
        |    [sums[CAST(j AS INT)] / (n.n_members * 1048576.0) for j in range(1, 65)] AS c,
        |    cent.cv AS cv
        |  FROM n JOIN cl USING (cluster) JOIN cent ON cent.cid = n.cluster)
        |SELECT CAST(cluster AS BIGINT) AS cluster, n_members,
        |  round(sqrt(list_inner_product(c, c)), 6) AS centroid_norm,
        |  round(sqrt(list_inner_product(
        |    [c[CAST(i AS INT)] - cv[CAST(i AS INT)] for i in range(1, 65)],
        |    [c[CAST(i AS INT)] - cv[CAST(i AS INT)] for i in range(1, 65)])), 6) AS shift
        |FROM fin ORDER BY cluster""".stripMargin,

    // clusters via the recursive-CTE transitive closure (as dedup_clusters),
    // quality via the text_quality chain, then keep the best-quality member
    // (rounded score, ties to smallest doc_id) per cluster
    "dedup_keep_best" ->
      s"""WITH RECURSIVE
         |t AS (SELECT doc_id, text, $sqlTokens AS w FROM documents),
         |g AS (SELECT doc_id, ${sqlShingles("w")} AS sh FROM t),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |      FROM g a JOIN g b ON a.doc_id < b.doc_id
         |      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |            len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
         |e AS (SELECT id_a AS src, id_b AS dst FROM p
         |      UNION SELECT id_b, id_a FROM p),
         |reach(v, l) AS (
         |  SELECT src, src FROM e
         |  UNION
         |  SELECT e.dst, reach.l FROM reach JOIN e ON e.src = reach.v),
         |cl AS (SELECT v AS doc_id, min(l) AS cluster_id FROM reach GROUP BY 1),
         |h AS (SELECT doc_id, text, w, ${hitsSql("en")} AS h_en FROM t),
         |q AS (SELECT doc_id,
         |  len(w) AS n_tokens,
         |  CASE WHEN len(w) > 0 THEN CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len(w) ELSE 0.0 END AS avg_token_len,
         |  CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS alpha_ratio,
         |  CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS digit_ratio,
         |  CASE WHEN len(w) > 0 THEN CAST(h_en AS DOUBLE) / len(w) ELSE 0.0 END AS stopword_ratio
         |  FROM h),
         |sc AS (SELECT doc_id,
         |  round(alpha_ratio * 0.4 + least(stopword_ratio * 5.0, 1.0) * 0.3 +
         |        (CASE WHEN avg_token_len >= 3 AND avg_token_len <= 10 THEN 1.0 ELSE 0.0 END) * 0.2 +
         |        (1.0 - least(digit_ratio * 5.0, 1.0)) * 0.1, 6) AS q6
         |  FROM q),
         |r AS (SELECT cl.cluster_id, cl.doc_id, sc.q6,
         |        row_number() OVER (PARTITION BY cl.cluster_id
         |                           ORDER BY sc.q6 DESC, cl.doc_id) AS rn,
         |        count(*) OVER (PARTITION BY cl.cluster_id) AS n_members
         |      FROM cl JOIN sc USING (doc_id))
         |SELECT cluster_id, doc_id AS keep_id, q6 AS quality_score, n_members
         |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin,

    "multimodal_meta" ->
      """SELECT doc_id AS media_id,
        |  (['image', 'audio', 'video'])[(doc_id % 3) + 1] AS modality,
        |  CASE (doc_id % 3) WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'mp4' END AS format,
        |  CASE (doc_id % 3) WHEN 0 THEN CAST(octet_length(encode(text)) % 640 + 32 AS INT)
        |       WHEN 1 THEN 0 ELSE CAST(octet_length(encode(text)) % 1280 + 64 AS INT) END AS width,
        |  CASE (doc_id % 3) WHEN 0 THEN CAST(octet_length(encode(text)) % 480 + 32 AS INT)
        |       WHEN 1 THEN 0 ELSE CAST(octet_length(encode(text)) % 720 + 64 AS INT) END AS height,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CASE (doc_id % 3) WHEN 0 THEN 0
        |       WHEN 1 THEN octet_length(encode(text)) * 8
        |       ELSE octet_length(encode(text)) * 40 END AS duration_ms
        |FROM documents ORDER BY media_id""".stripMargin,

    // full replay of the PageRank pipeline: exact 5-NN cosine edges (per
    // src the 5 smallest (round(dist,6), dst) over all OTHERS — the
    // knnGraph kernel's exact definition), then all 3 iterations re-run in
    // a recursive CTE carrying the rank list as state; per-edge
    // contributions quantized with the same floor(x*2^40+0.5) rule so the
    // long sums agree regardless of order
    "graph_pagerank" ->
      s"""WITH RECURSIVE
         |${sqlPageRank(sqlKnnEdges)}
         |SELECT CAST(t.w.id AS BIGINT) AS vec_id, round(t.w.r, 9) AS pagerank
         |FROM (SELECT ranks FROM pr WHERE iter = 3) f, unnest(f.ranks) AS t(w)
         |ORDER BY pagerank DESC, vec_id LIMIT 25""".stripMargin,

    "multimodal_frame_dedup" ->
      """WITH vid AS (SELECT doc_id AS media_id, text FROM documents
        |            WHERE doc_id % 3 = 2),
        |fr AS (SELECT media_id, unnest(
        |    [md5(substring(text, CAST(i AS INT) * 256 + 1, 64))
        |     for i in range(0, greatest(CAST(floor(length(text) / 256.0) AS INT) - 1, 0) + 1)]) AS fh
        |  FROM vid),
        |cnt AS (SELECT fh, count(*) AS n_occ FROM fr GROUP BY 1)
        |SELECT media_id, count(*) AS n_frames,
        |  CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_frames
        |FROM fr JOIN cnt USING (fh) GROUP BY 1 ORDER BY media_id""".stripMargin,

    // the graph_pagerank recursion (kept to ALL ranks) joined against the
    // text_quality score chain — both replay pipelines composed verbatim
    "authority_curate" -> sqlAuthorityCurateQuery(sqlKnnEdges),

    // the two vote rounds unrolled; arg-max replayed as row_number over
    // (votes DESC, label) — identical to max(struct(cnt, -label))
    "label_propagation" -> sqlLabelPropQuery(sqlKnnEdges),

    // same bigram/smoothing construction as the lm_score oracle, swapped
    // to per-source counts; 1e-9 fixed-point terms weighted by occurrence
    "source_lm_matrix" ->
      s"""WITH t AS (SELECT source, $sqlTokens AS w FROM documents),
         |bg AS (SELECT source, unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2
         |       FROM t WHERE len(w) >= 2),
         |c2 AS (SELECT source, w1, w2, count(*) AS cnt FROM bg GROUP BY 1, 2, 3),
         |c1 AS (SELECT source, w1, sum(cnt) AS c1 FROM c2 GROUP BY 1, 2),
         |vv AS (SELECT source, count(*) AS v FROM (
         |         SELECT source, w1 AS w FROM c2 UNION SELECT source, w2 FROM c2)
         |       GROUP BY source),
         |sources AS (SELECT DISTINCT source AS model_source FROM c2),
         |sc AS (SELECT m.model_source, e.source AS eval_source, e.cnt AS ce,
         |    CAST(floor(ln((CAST(coalesce(c2m.cnt, 0) AS DOUBLE) + 1.0) /
         |         (CAST(coalesce(c1m.c1, 0) AS DOUBLE) + CAST(vv.v AS DOUBLE)))
         |         * 1000000000.0 + 0.5) AS HUGEINT) * e.cnt AS fp
         |  FROM c2 e CROSS JOIN sources m
         |  LEFT JOIN c2 c2m ON c2m.source = m.model_source
         |    AND c2m.w1 = e.w1 AND c2m.w2 = e.w2
         |  LEFT JOIN c1 c1m ON c1m.source = m.model_source AND c1m.w1 = e.w1
         |  JOIN vv ON vv.source = m.model_source)
         |SELECT model_source, eval_source, CAST(sum(ce) AS BIGINT) AS n_bigrams,
         |  round(-(CAST(sum(fp) AS DOUBLE) / 1000000000.0) / sum(ce), 6) AS cross_entropy
         |FROM sc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // exact-jaccard pair set as in dedup_minhash (LSH recall ~1 at 0.8);
    // the estimate recomputed from the same md5(i:shingle) rule
    "minhash_est_audit" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
         |g AS (SELECT doc_id, ${sqlShingles("w")} AS sh FROM t),
         |sig AS (SELECT doc_id,
         |    [list_min([CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || s), 18, 15))::UBIGINT AS BIGINT)
         |      for s in sh]) for i in range(0, 16)] AS sg
         |  FROM g),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |        round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |              len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
         |      FROM g a JOIN g b ON a.doc_id < b.doc_id
         |      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |            len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8)
         |SELECT p.id_a, p.id_b, p.jaccard,
         |  round(CAST(len(list_filter(range(1, 17),
         |      i -> sa.sg[CAST(i AS INT)] = sb.sg[CAST(i AS INT)])) AS DOUBLE) / 16, 6)
         |    AS est_jaccard
         |FROM p JOIN sig sa ON sa.doc_id = p.id_a JOIN sig sb ON sb.doc_id = p.id_b
         |ORDER BY id_a, id_b""".stripMargin,

    // same topics42/8-centroid assignment replay as cluster_topics
    "cluster_purity" ->
      """WITH ranked AS (SELECT vec_id, embedding,
        |    ('0x' || substr(md5('topics42:' || CAST(vec_id AS VARCHAR)), 18, 15))::UBIGINT
        |      / 1152921504606846976.0 AS u
        |  FROM embeddings),
        |cent AS (SELECT row_number() OVER (ORDER BY u, vec_id) - 1 AS cid,
        |                CAST(embedding AS DOUBLE[]) AS cv
        |  FROM ranked ORDER BY u, vec_id LIMIT 8),
        |v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
        |dists AS (SELECT v.vec_id, v.label, c.cid,
        |    list_inner_product([c.cv[i] - v.dv[i] for i in range(1, 65)],
        |                       [c.cv[i] - v.dv[i] for i in range(1, 65)]) AS d
        |  FROM v CROSS JOIN cent c),
        |asg AS (SELECT vec_id, label, cid AS cluster FROM (
        |    SELECT vec_id, label, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |    FROM dists) WHERE rn = 1),
        |lc AS (SELECT cluster, CAST(label AS BIGINT) AS label, count(*) AS c
        |       FROM asg GROUP BY 1, 2),
        |tot AS (SELECT cluster, sum(c) AS n_members, count(*) AS n_labels
        |        FROM lc GROUP BY 1),
        |best AS (SELECT cluster, label AS majority_label, c FROM (
        |    SELECT cluster, label, c,
        |      row_number() OVER (PARTITION BY cluster ORDER BY c DESC, label) AS rn
        |    FROM lc) WHERE rn = 1)
        |SELECT CAST(t.cluster AS BIGINT) AS cluster,
        |  CAST(t.n_members AS BIGINT) AS n_members, b.majority_label,
        |  round(CAST(b.c AS DOUBLE) / t.n_members, 6) AS purity,
        |  CAST(t.n_labels AS BIGINT) AS n_labels
        |FROM tot t JOIN best b USING (cluster) ORDER BY cluster""".stripMargin,

    // transitive closure as in dedup_clusters, then the split42 rule on
    // the component representative
    "split_nodup" ->
      s"""WITH RECURSIVE
         |t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
         |g AS (SELECT doc_id, ${sqlShingles("w")} AS sh FROM t),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |      FROM g a JOIN g b ON a.doc_id < b.doc_id
         |      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |            len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
         |e AS (SELECT id_a AS src, id_b AS dst FROM p
         |      UNION SELECT id_b, id_a FROM p),
         |reach(v, l) AS (
         |  SELECT src, src FROM e
         |  UNION
         |  SELECT e.dst, reach.l FROM reach JOIN e ON e.src = reach.v),
         |cl AS (SELECT v AS doc_id, min(l) AS rep FROM reach GROUP BY 1),
         |k AS (SELECT d.doc_id, coalesce(cl.rep, d.doc_id) AS rep
         |      FROM documents d LEFT JOIN cl USING (doc_id)),
         |u AS (SELECT rep,
         |    ('0x' || substr(md5('split42:' || CAST(rep AS VARCHAR)), 18, 15))::UBIGINT
         |      / 1152921504606846976.0 AS r
         |  FROM k)
         |SELECT CASE WHEN r < 0.9 THEN 'train'
         |            WHEN r < 0.9 + 0.05 THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n_docs, count(DISTINCT rep) AS n_groups
         |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,

    // pair set as in dedup_minhash; split rule as in split_assign
    "split_leakage" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS w FROM documents),
         |g AS (SELECT doc_id, ${sqlShingles("w")} AS sh FROM t),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |      FROM g a JOIN g b ON a.doc_id < b.doc_id
         |      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |            len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
         |u AS (SELECT doc_id,
         |    ('0x' || substr(md5('split42:' || CAST(doc_id AS VARCHAR)), 18, 15))::UBIGINT
         |      / 1152921504606846976.0 AS r
         |  FROM documents),
         |sp AS (SELECT doc_id,
         |    CASE WHEN r < 0.9 THEN 'train'
         |         WHEN r < 0.9 + 0.05 THEN 'val' ELSE 'test' END AS split
         |  FROM u)
         |SELECT least(sa.split, sb.split) AS split_lo,
         |       greatest(sa.split, sb.split) AS split_hi,
         |       count(*) AS n_pairs
         |FROM p JOIN sp sa ON sa.doc_id = p.id_a JOIN sp sb ON sb.doc_id = p.id_b
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "embed_winsorize" ->
      """WITH ex AS (SELECT d.range AS dim,
        |    CAST(embedding[CAST(d.range + 1 AS INT)] AS DOUBLE) AS v
        |  FROM embeddings CROSS JOIN range(0, 64) d),
        |st AS (SELECT dim, quantile_cont(v, 0.01) AS p01,
        |               quantile_cont(v, 0.99) AS p99
        |       FROM ex GROUP BY 1)
        |SELECT CAST(ex.dim AS BIGINT) AS dim,
        |  round(max(st.p01), 6) AS p01, round(max(st.p99), 6) AS p99,
        |  CAST(sum(CASE WHEN ex.v < st.p01 THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
        |  CAST(sum(CASE WHEN ex.v > st.p99 THEN 1 ELSE 0 END) AS BIGINT) AS n_above
        |FROM ex JOIN st USING (dim) GROUP BY ex.dim ORDER BY dim""".stripMargin,

    // md5-rank centroid pick + min-L2 assignment replayed exactly as in
    // the semantic_dedup / simsearch_ivf oracles, then a plain wordcount
    // and per-cluster rank
    "cluster_topics" ->
      s"""WITH ranked AS (SELECT vec_id, embedding,
         |    ('0x' || substr(md5('topics42:' || CAST(vec_id AS VARCHAR)), 18, 15))::UBIGINT
         |      / 1152921504606846976.0 AS u
         |  FROM embeddings),
         |cent AS (SELECT row_number() OVER (ORDER BY u, vec_id) - 1 AS cid,
         |                CAST(embedding AS DOUBLE[]) AS cv
         |  FROM ranked ORDER BY u, vec_id LIMIT 8),
         |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
         |dists AS (SELECT v.vec_id, c.cid,
         |    list_inner_product([c.cv[i] - v.dv[i] for i in range(1, 65)],
         |                       [c.cv[i] - v.dv[i] for i in range(1, 65)]) AS d
         |  FROM v CROSS JOIN cent c),
         |asg AS (SELECT vec_id, cid AS cluster FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         |    FROM dists) WHERE rn = 1),
         |tok AS (SELECT doc_id, unnest($sqlTokens) AS token FROM documents),
         |cnts AS (SELECT a.cluster, t.token, count(*) AS cnt
         |  FROM asg a JOIN tok t ON t.doc_id = a.vec_id GROUP BY 1, 2)
         |SELECT CAST(cluster AS BIGINT) AS cluster, rnk, token, cnt
         |FROM (SELECT cluster, token, cnt,
         |        row_number() OVER (PARTITION BY cluster ORDER BY cnt DESC, token) AS rnk
         |      FROM cnts)
         |WHERE rnk <= 5 ORDER BY cluster, rnk""".stripMargin,

    // covariance from the same fixed-point sums as embed_covariance, then
    // the 4 power iterations replayed in a recursive CTE: matvec and norm
    // are ordered list_reduce folds — the exact arithmetic sequence of the
    // driver loop, so loadings agree to the last bit before rounding
    "pca_top_component" ->
      """WITH RECURSIVE
        |v AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |p AS (SELECT i.range AS i, j.range AS j
        |      FROM range(0, 64) i, range(0, 64) j WHERE i.range <= j.range),
        |s AS (SELECT p.i, p.j, count(*) AS n,
        |    sum(CAST(floor(e[CAST(p.i + 1 AS INT)] * 1048576.0 + 0.5) AS BIGINT)) AS sx,
        |    sum(CAST(floor(e[CAST(p.j + 1 AS INT)] * 1048576.0 + 0.5) AS BIGINT)) AS sy,
        |    sum(CAST(floor(e[CAST(p.i + 1 AS INT)] * e[CAST(p.j + 1 AS INT)] * 1073741824.0 + 0.5) AS BIGINT)) AS sxy
        |  FROM v, p GROUP BY p.i, p.j),
        |c AS (SELECT i, j,
        |    CAST(sxy AS DOUBLE) / 1073741824.0 / n
        |      - (CAST(sx AS DOUBLE) / 1048576.0 / n) * (CAST(sy AS DOUBLE) / 1048576.0 / n) AS cov
        |  FROM s),
        |cm AS (SELECT * FROM (
        |    SELECT i, j, cov FROM c
        |    UNION ALL
        |    SELECT j AS i, i AS j, cov FROM c WHERE i <> j)),
        |pw AS (
        |  -- anchor types become the recursion's types: without the DOUBLE
        |  -- casts the 1.0/0.0 literals make vv a DECIMAL(2,1)[] and every
        |  -- iteration silently rounds to one decimal place
        |  SELECT 0 AS iter,
        |    CAST([CASE WHEN i = 1 THEN 1.0 ELSE 0.0 END for i in range(1, 65)] AS DOUBLE[]) AS vv,
        |    CAST(0.0 AS DOUBLE) AS ev
        |  UNION ALL
        |  SELECT iter + 1, [y.w[CAST(i AS INT)] / x.nrm for i in range(1, 65)], x.nrm
        |  FROM pw,
        |    -- the recursive reference (pw.vv) may only cross ONE lateral
        |    -- boundary and not inside a list comprehension — index the
        |    -- vector with range() and fold with ORDER BY instead
        |    LATERAL (SELECT list(s ORDER BY i) AS w FROM (
        |        SELECT cm.i, list_reduce(list(cm.cov * u.v ORDER BY cm.j), (a, b) -> a + b) AS s
        |        FROM cm JOIN (SELECT pw.vv[CAST(g.range + 1 AS INT)] AS v, g.range AS j
        |                      FROM range(0, 64) g) u
        |          ON u.j = cm.j
        |        GROUP BY cm.i)) y,
        |    LATERAL (SELECT sqrt(list_reduce(
        |        list(y.w[CAST(g.range + 1 AS INT)] * y.w[CAST(g.range + 1 AS INT)] ORDER BY g.range),
        |        (a, b) -> a + b)) AS nrm
        |      FROM range(0, 64) g) x
        |  WHERE iter < 4)
        |SELECT CAST(g.range AS BIGINT) AS dim,
        |  round(f.vv[CAST(g.range + 1 AS INT)], 6) AS loading,
        |  round(f.ev, 6) AS eigval
        |FROM (SELECT vv, ev FROM pw WHERE iter = 4) f CROSS JOIN range(0, 64) g
        |ORDER BY dim""".stripMargin,

    "shard_plan" ->
      """SELECT CAST(('0x' || substr(md5('shard42:' || CAST(doc_id AS VARCHAR)), 18, 15))::UBIGINT
        |            % 16 AS BIGINT) AS shard,
        |       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_weight
        |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin,

    "quality_quantile_norm" ->
      s"""WITH t AS (SELECT doc_id, source, text, $sqlTokens AS w FROM documents),
         |q AS (SELECT doc_id, source,
         |  len(w) AS n_tokens,
         |  CASE WHEN len(w) > 0 THEN CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len(w) ELSE 0.0 END AS avg_token_len,
         |  CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS alpha_ratio,
         |  CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS digit_ratio,
         |  CASE WHEN len(w) > 0 THEN CAST(len(list_filter(w, x -> x IN ($enList))) AS DOUBLE) / len(w) ELSE 0.0 END AS stopword_ratio
         |  FROM t),
         |sc AS (SELECT doc_id, source,
         |  round(alpha_ratio * 0.4 + least(stopword_ratio * 5.0, 1.0) * 0.3 +
         |        (CASE WHEN avg_token_len >= 3 AND avg_token_len <= 10 THEN 1.0 ELSE 0.0 END) * 0.2 +
         |        (1.0 - least(digit_ratio * 5.0, 1.0)) * 0.1, 6) AS q6
         |  FROM q)
         |SELECT doc_id, source,
         |  round(percent_rank() OVER (PARTITION BY source ORDER BY q6, doc_id), 6) AS q_pct
         |FROM sc ORDER BY doc_id""".stripMargin,
  )
}
