package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Deduplication operators for training-data pipelines, built entirely from
 * codegen'd Catalyst built-ins so every stage scales as ordinary shuffles:
 *
 *  - exact: content-hash groupBy (one shuffle on the hash)
 *  - MinHash + LSH: shingle → signature → banded bucket join → exact-Jaccard
 *    verification. Candidate generation touches only same-bucket pairs, the
 *    100 TB-safe alternative to an O(n²) cross join; bucket join keys are
 *    (band index, band hash) so skew is bounded by real duplicate clusters.
 *  - SimHash: 64-bit signatures, near-dup candidates via rotated band keys.
 *  - n-gram Jaccard: exact verification primitive (array_intersect/union).
 *  - embedding cosine near-dup: sign-LSH bucketing + exact cosine verify.
 */
object Dedup {

  /** Word n-gram shingles from a *materialized* token column (distinct,
    * order-free). The token column must be a plain attribute: embedding the
    * tokenizer expression here would re-run it once per shingle index inside
    * the transform lambda (higher-order functions are interpreted — no CSE),
    * turning shingling O(tokens^2) in regex work. */
  def shinglesFromTokens(toks: Column, n: Int = 3): Column =
    array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
        .otherwise(array(concat_ws(" ", toks))))

  /** Two-phase tokenize→shingle over a text column, using the native
    * single-pass [[TextAnalysis ShingleSet]] expression (same output as
    * [[shinglesFromTokens]], ~30x cheaper per document). */
  def shingled(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    TextAnalysis.register(df.sparkSession)
    df.select(col(idCol).cast(LongType).as("id"),
      TextAnalysis.tokens(col(textCol)).as("__w"))
      .select(col("id"), call_function("shingle_set", col("__w"), lit(n)).as("sh"))
  }

  /** Exact dedup: every row keyed by content hash with the cluster's
    * canonical (minimum) id and multiplicity. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(md5(col(textCol)).as("content_hash"), col(idCol).cast(LongType).as("id"))
      .groupBy(col("content_hash"))
      .agg(min(col("id")).as("canonical_id"), count(lit(1)).as("cnt"))

  /** Exact dedup on NORMALIZED text (lowercase, trimmed, whitespace
    * collapsed) — the C4-style pre-LSH stage that catches re-encodings and
    * spacing variants byte-exact dedup misses, at the identical one-shuffle
    * cost. */
  def normalizedDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // collapse BEFORE trimming: trim() strips only spaces, so "foo\n" must
    // first become "foo " for the trim to normalize it to "foo"
    df.select(
      md5(trim(regexp_replace(lower(col(textCol)), "\\s+", " "))).as("norm_hash"),
      col(idCol).cast(LongType).as("id"))
      .groupBy(col("norm_hash"))
      .agg(min(col("id")).as("canonical_id"), count(lit(1)).as("cnt"))

  /** MinHash signature: numHashes permutations via the `minhash_sig`
    * expression (one string hash per shingle + cheap per-permutation mixes —
    * the interpreted transform/xxhash64 formulation re-hashed every string
    * numHashes times and dominated the whole pipeline). Caller must have
    * called `TextAnalysis.register`. */
  def minhashSignature(shingleCol: Column, numHashes: Int = 64): Column =
    call_function("minhash_sig", shingleCol, lit(numHashes))

  /** (id, sh, sig) table for a corpus: repartitioned (a handful of parquet
    * files would otherwise serialize the interpreted shingling into one
    * task), persisted (it feeds banding AND the verify join-back). */
  private def signatureTable(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int): DataFrame =
    shingled(df.repartition(df.sparkSession.sparkContext.defaultParallelism),
      idCol, textCol, shingleSize)
      .withColumn("sig", minhashSignature(col("sh"), numHashes))
      .transform(graft.CacheScope.persist)

  /** LSH band table: one (id, band, bucket) row per band, bucket = hash of
    * that band's signature slice. */
  private def bandTable(base: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val r = numHashes / bands
    base.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        j => xxhash64(j, slice(col("sig"), j * r + 1, lit(r))))))
      .select(col("id"), col("pos").as("band"), col("col").as("bucket"))
  }

  /**
   * Near-duplicate pairs with exact-verified word-n-gram Jaccard >= threshold.
   * LSH with `bands` bands of numHashes/bands rows generates candidates; a
   * join back to the shingle sets verifies exactly, so false positives are
   * impossible and false-negative probability is 1-(1-t^r)^b (~1e-7 at the
   * default 16x4 for t=0.9).
   */
  /** `maxBucketSize` caps LSH bucket width (0 = uncapped). Pair output is
    * inherently quadratic in bucket size, so one degenerate bucket (e.g.
    * boilerplate-heavy shingles at web scale) can dominate the whole job;
    * buckets past the cap are dropped. Any TRUE near-dup pair still has
    * b·(1-t^r) other chances to collide in the remaining bands, so the
    * standard LSH recall bound degrades gracefully rather than the job dying
    * — the classic web-dedup trade. Exactness-sensitive callers keep 0. */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, maxBucketSize: Long = 0): DataFrame = {
    require(bands * (numHashes / bands) == numHashes, "bands must divide numHashes")
    TextAnalysis.register(df.sparkSession)
    // The signature table feeds three consumers (banding, and both sides of
    // the verify join-back); signatureTable persists it — the in-session
    // form of the production shape, where signatures are written once to a
    // table and joined against.
    val base = signatureTable(df, idCol, textCol, shingleSize, numHashes)
    val candidates = lshCandidatePairs(base, numHashes, bands, maxBucketSize)
    val sets = base.select(col("id"), col("sh"))
    candidates
      .join(sets.as("sa"), col("id_a") === col("sa.id"))
      .join(sets.as("sb"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("sa.sh"), col("sb.sh")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /**
   * Estimator-calibration audit for MinHash: for every verified near-dup
   * pair (exact Jaccard >= threshold via the production LSH path), the
   * EXACT Jaccard next to the ESTIMATE a `numPerms`-permutation MinHash
   * signature would give (fraction of agreeing components — the unbiased
   * estimator the sketch literature analyzes). The audit answers "how many
   * permutations does OUR corpus need": est−exact spread vs the
   * 1/sqrt(numPerms) bound, measured on real pairs instead of assumed.
   *
   * Permutation hashes are md5-derived (low-60 bits of md5(i:shingle)), so
   * any engine replays the estimate bit-for-bit; the production signature
   * path keeps its faster FNV mixing ([[MinhashSig]]) — this audit is the
   * calibration harness, not the hot path. Cost: numPerms md5 per shingle
   * on the audited docs, one map-side pass + the pair joins.
   */
  def minhashEstimateAudit(df: DataFrame, idCol: String, textCol: String,
      numPerms: Int = 16, threshold: Double = 0.8): DataFrame = {
    val pairs = graft.CacheScope.persist(
      minhashNearDupPairs(df, idCol, textCol, threshold = threshold))
    // the md5 signatures are the expensive part (numPerms md5 per
    // shingle): semi-join to the docs that actually appear in a verified
    // pair so the cost scales with the AUDITED pairs, not the corpus, and
    // persist — the sig subtree feeds both join sides
    val pairIds = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id"))).distinct()
    val sig = graft.CacheScope.persist(
      shingled(df, idCol, textCol)
        .join(pairIds, Seq("id"), "left_semi")
        .select(col("id"),
          transform(sequence(lit(0), lit(numPerms - 1)), i =>
            array_min(transform(col("sh"), s =>
              Curation.md5Low60(concat(i.cast(StringType), lit(":"), s)))))
            .as("sg")))
    pairs
      .join(sig.select(col("id").as("id_a"), col("sg").as("__sa")), "id_a")
      .join(sig.select(col("id").as("id_b"), col("sg").as("__sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(col("jaccard"), 6).as("jaccard"),
        round(aggregate(zip_with(col("__sa"), col("__sb"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v).cast(DoubleType) / numPerms, 6)
          .as("est_jaccard"))
  }

  /** LSH candidate (id_a < id_b) pairs from a signature table: banding,
    * optional bucket-width skew cap, banded self-join, distinct — the ONE
    * candidate generator every LSH-verified pair operator shares. */
  private def lshCandidatePairs(base: DataFrame, numHashes: Int, bands: Int,
      maxBucketSize: Long): DataFrame = {
    val banded = cappedBands(bandTable(base, numHashes, bands), maxBucketSize)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** The bucket-width skew cap of [[lshCandidatePairs]], as its own stage. */
  private def cappedBands(banded: DataFrame, maxBucketSize: Long): DataFrame =
    if (maxBucketSize <= 0) banded
    else banded.withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("bucket"))))
      .filter(col("__n") <= maxBucketSize).drop("__n")

  /** Exact n-gram Jaccard similarity between two shingle-set columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast(DoubleType) / size(array_union(a, b))

  /** Asymmetric containment |A∩B|/|A| — the quote/inclusion signal Jaccard
    * washes out when sizes differ: a 50-token passage fully quoted inside a
    * 5,000-token document has containment 1.0 but Jaccard ~0.01. */
  def containment(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast(DoubleType) / size(a)

  /**
   * Top pairs by asymmetric n-gram CONTAINMENT (max of both directions),
   * with LSH-generated candidates and exact verification — the
   * quote/inclusion-detection ranking. Same cost shape as
   * [[minhashNearDupPairs]]: banded bucket join, never an all-pairs
   * product.
   *
   * Recall caveat (documented, inherent to MinHash): band collision
   * probability tracks JACCARD, so a tiny passage quoted inside a huge
   * document (containment 1.0, Jaccard ~0) is unlikely to surface as a
   * candidate. The ranking is exact for pairs whose Jaccard clears the
   * usual LSH recall bound — near-identical and subset-heavy pairs — which
   * is where this corpus's duplicates live. For guaranteed small-in-large
   * quote detection at scale, route through [[dupSpanStats]]-style span
   * hashing instead (shared-span inverted index), which is exact by
   * construction.
   */
  def containmentTopPairs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      topK: Int = 20, maxBucketSize: Long = 0): DataFrame = {
    require(bands * (numHashes / bands) == numHashes, "bands must divide numHashes")
    TextAnalysis.register(df.sparkSession)
    val base = signatureTable(df, idCol, textCol, shingleSize, numHashes)
    val candidates = lshCandidatePairs(base, numHashes, bands, maxBucketSize)
    val sets = base.select(col("id"), col("sh"))
    candidates
      .join(sets.as("sa"), col("id_a") === col("sa.id"))
      .join(sets.as("sb"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"),
        round(containment(col("sa.sh"), col("sb.sh")), 6).as("contain_a_in_b"),
        round(containment(col("sb.sh"), col("sa.sh")), 6).as("contain_b_in_a"))
      .withColumn("containment",
        greatest(col("contain_a_in_b"), col("contain_b_in_a")))
      .orderBy(col("containment").desc, col("id_a"), col("id_b"))
      .limit(topK)
  }

  /**
   * Corpus-order n-gram NOVELTY — the freshness signal a data-mixing
   * pipeline reads when corpora are ingested in order: per document, the
   * fraction of its distinct `spanTokens`-token spans whose FIRST corpus
   * occurrence (minimum doc id) is this document. Late crawl dumps full of
   * already-seen content score near 0; genuinely new material scores near
   * 1 — threshold or weight by it when composing mixtures.
   *
   * Shape at 100 TB: identical cost class to [[dupSpanStats]] — map-side
   * span hashing, ONE shuffle of (span_hash → min doc) partials
   * (min is map-side combined), one per-doc aggregation. Never pairwise.
   */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 8): DataFrame = {
    val spans = shingled(df, idCol, textCol, spanTokens)
      .select(col("id"), explode_outer(col("sh")).as("s"))
      .filter(col("s").isNotNull)
      .select(col("id"), xxhash64(col("s")).as("h"))
      .transform(graft.CacheScope.persist)
    val firstSeen = spans.groupBy(col("h")).agg(min(col("id")).as("__first"))
    spans.join(firstSeen, Seq("h"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__first") === col("id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast(DoubleType) / col("n_spans"), 6))
  }

  /**
   * Cross-source duplication matrix — corpus forensics: for every unordered
   * pair of sources, how many verified near-duplicate pairs cross it (and
   * how many stay inside one source). The report a curation team reads to
   * find which feeds mirror each other before deciding survivor policy.
   *
   * Shape at 100 TB: the pair table comes from [[minhashNearDupPairs]]
   * (banded LSH, never all-pairs); attaching sources is two joins of that
   * SMALL pair table against the (id → source) projection, then one tiny
   * (source, source) aggregation. The 100 TB text never moves twice.
   */
  def dupSourceMatrix(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, shingleSize: Int = 3, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.8,
      maxBucketSize: Long = 0): DataFrame = {
    val pairs = minhashNearDupPairs(df, idCol, textCol, shingleSize,
      numHashes, bands, threshold, maxBucketSize)
    val src = df.select(col(idCol).cast(LongType).as("id"),
      col(sourceCol).as("__src"))
    pairs
      .join(src.select(col("id").as("id_a"), col("__src").as("__sa")), Seq("id_a"))
      .join(src.select(col("id").as("id_b"), col("__src").as("__sb")), Seq("id_b"))
      .select(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /**
   * Duplicated-span statistics — the substring-level dedup signal (the
   * signal behind suffix-array substring dedup in "Deduplicating Training
   * Data Makes Language Models Better"-style pipelines, computed at span
   * granularity): for every document, how many of its distinct
   * `spanTokens`-token spans also occur in at least one OTHER document.
   * Pipelines threshold on `dup_span_ratio` to drop boilerplate-heavy
   * documents or route them to substring-level trimming.
   *
   * Shape at 100 TB: spans are generated map-side (one `shingle_set` pass),
   * hashed to 64 bits, and the only wide op is ONE shuffle of (span_hash)
   * partials for the distinct-doc count — the same cost class as exact
   * dedup, not a pairwise comparison.
   */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 8): DataFrame = {
    val spans = shingled(df, idCol, textCol, spanTokens)
      .select(col("id"), explode_outer(col("sh")).as("s"))
      .filter(col("s").isNotNull)
      .select(col("id"), xxhash64(col("s")).as("h"))
      .transform(graft.CacheScope.persist)
    // spans are distinct per doc, so count(*) per hash = distinct docs
    val shared = spans.groupBy(col("h"))
      .agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") >= 2)
      .select(col("h"), lit(1).as("__dup"))
    // one conditional aggregation produces both counts (count(__dup) skips
    // the nulls the left join leaves on unshared spans)
    spans.join(shared, Seq("h"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"), count(col("__dup")).as("n_dup_spans"))
      .withColumn("dup_span_ratio",
        round(col("n_dup_spans").cast(DoubleType) / col("n_spans"), 6))
  }

  /**
   * Duplicated-span REMOVAL — the step that actually rewrites documents
   * (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
   * Better": remove all but one occurrence of duplicated substrings).
   * Every `spanTokens`-token window is an occurrence; a window content
   * seen ≥2 times in the corpus (any doc, including re-occurrence within
   * one doc) is duplicated, its globally FIRST occurrence (by (doc, pos))
   * survives, and the token positions of every other occurrence are
   * removed. Fixed-length windows are the Spark-friendly banding of the
   * original's maximal-repeat suffix-array spans; overlapping duplicated
   * windows merge naturally because removal is per-position (so the kept
   * first occurrence may still lose tokens to a DIFFERENT span's removal —
   * the original has the same property at span boundaries).
   *
   * Output per document: `n_tokens`, `n_removed` (positions removed), and
   * `cleaned_md5` — md5 of the space-joined surviving tokens, the
   * provenance stamp a rewrite stage emits so downstream stages can verify
   * they read the deduplicated generation.
   *
   * Shape at 100 TB: span occurrences generate map-side; the duplicate
   * election is ONE window shuffle on the span hash (state per hash = one
   * row); covered positions aggregate per doc in one more shuffle; the
   * final rewrite is a map-side HOF filter. Never pairwise, never a
   * driver-side structure. The per-token `array_contains` over the doc's
   * covered set is O(tokens × covered) per doc — fine at document scale;
   * switch to a sorted-array binary search expression if docs reach
   * millions of tokens.
   */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).cast(LongType).as("id"),
        TextAnalysis.tokens(col(textCol)).as("__w"))
      .transform(graft.CacheScope.persist)
    // every span occurrence with its 0-based start position — map-side
    val spans = toks
      .select(col("id"), posexplode_outer(expr(
        s"""CASE WHEN size(__w) >= $spanTokens
           |  THEN transform(sequence(0, size(__w) - $spanTokens),
           |                 i -> array_join(slice(__w, i + 1, $spanTokens), ' '))
           |  ELSE array() END""".stripMargin)))
      .filter(col("col").isNotNull)
      .select(col("id"), col("pos").cast(LongType).as("p0"),
        xxhash64(col("col")).as("__h"))
    // duplicate election: first occurrence per content survives, the rest
    // mark their token ranges for removal
    val w = Window.partitionBy(col("__h")).orderBy(col("id"), col("p0"))
    val removable = spans
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("__h"))))
      .filter(col("__n") >= 2 && col("__rn") >= 2)
    val covered = removable
      .select(col("id"),
        explode(sequence(col("p0"), col("p0") + (spanTokens - 1))).as("p"))
      .groupBy(col("id")).agg(collect_set(col("p")).as("__cov"))
    toks.join(covered, Seq("id"), "left")
      .select(col("id"),
        size(col("__w")).cast(LongType).as("n_tokens"),
        coalesce(size(col("__cov")), lit(0)).cast(LongType).as("n_removed"),
        md5(array_join(expr(
          s"""CASE WHEN __cov IS NULL THEN __w
             |  ELSE transform(
             |    filter(sequence(0, size(__w) - 1),
             |           i -> NOT array_contains(__cov, CAST(i AS BIGINT))),
             |    i -> element_at(__w, CAST(i AS INT) + 1))
             |  END""".stripMargin), " ")).as("cleaned_md5"))
  }

  /**
   * Chunk-level exact dedup — the C4 paragraph/line-dedup analog. The
   * corpus here has no newline structure, so a "paragraph" is a
   * non-overlapping window of `chunkTokens` tokens; with newline-delimited
   * text, split on newlines instead — the plan shape is identical. A chunk
   * survives iff it is the globally FIRST occurrence of its content (order
   * by (doc, position)); the result reports, per document, how much of it
   * survives chunk dedup — the signal C4 thresholds to strip boilerplate.
   *
   * Shape at 100 TB: chunking is map-side; first-occurrence election is ONE
   * window shuffle on the chunk hash (state per hash = one row), then one
   * per-doc aggregation. Never pairwise. Skew equals true duplication skew:
   * a boilerplate chunk repeated 10⁹ times lands in one partition — cap it
   * by pre-aggregating counts per (hash, doc) if that ever bites.
   */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 15): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunks = df
      .select(col(idCol).cast(LongType).as("id"),
        TextAnalysis.tokens(col(textCol)).as("__w"))
      .select(col("id"), posexplode_outer(expr(
        s"""transform(sequence(0, greatest(cast(ceil(size(__w) / $chunkTokens.0d) as int) - 1, 0)),
           |          i -> slice(__w, i * $chunkTokens + 1, $chunkTokens))""".stripMargin)))
      .filter(col("col").isNotNull && size(col("col")) > 0)
      .select(col("id"), col("pos").as("chunk_idx"),
        size(col("col")).as("__n_toks"),
        xxhash64(array_join(col("col"), " ")).as("__h"))
    val w = Window.partitionBy(col("__h")).orderBy(col("id"), col("chunk_idx"))
    chunks.withColumn("__rn", row_number().over(w))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("__rn") === 1, col("__n_toks").cast(LongType))
          .otherwise(0L)).as("kept_tokens"))
  }

  /**
   * Occurrence-weighted duplicated-n-gram coverage — the RefinedWeb-style
   * "fraction of the document made of n-grams that also appear elsewhere"
   * quality signal (their rep/dup n-gram filters). Differs from
   * [[dupSpanStats]] (distinct spans) by counting every OCCURRENCE, so
   * within-document repetition of cross-document boilerplate weighs in.
   *
   * Shape at 100 TB: n-grams generate map-side; per-(doc, gram) counts are
   * one partial-aggregated shuffle; document frequency comes from a window
   * over those partials (never the raw token stream); the final per-doc
   * fraction is one more bounded aggregation. Three shuffles, all on
   * aggregated rows.
   */
  def dupNgramCoverage(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = df
      .select(col(idCol).cast(LongType).as("id"),
        TextAnalysis.tokens(col(textCol)).as("__w"))
      .select(col("id"), explode_outer(expr(
        s"""CASE WHEN size(__w) >= $n
           |  THEN transform(sequence(0, size(__w) - $n),
           |                 i -> array_join(slice(__w, i + 1, $n), ' '))
           |  ELSE array(array_join(__w, ' ')) END""".stripMargin)).as("g"))
      .filter(col("g").isNotNull)
      .select(col("id"), xxhash64(col("g")).as("__h"))
    val tf = grams.groupBy(col("id"), col("__h"))
      .agg(count(lit(1)).as("__c"))
    // tf is unique per (id, hash), so a plain count over the hash partition
    // IS the document frequency
    val withDf = tf.withColumn("__df",
      count(lit(1)).over(Window.partitionBy(col("__h"))))
    withDf.groupBy(col("id"))
      .agg(sum(col("__c")).as("n_grams"),
        sum(when(col("__df") >= 2, col("__c")).otherwise(0L)).as("n_dup_grams"))
      .withColumn("dup_ngram_frac",
        round(col("n_dup_grams").cast(DoubleType) / col("n_grams"), 6))
  }

  /**
   * Incremental near-dup: a (small) new batch vs an existing corpus — the
   * production "is today's crawl already in the corpus" check. Same
   * shingle→MinHash→banded-bucket pipeline as [[minhashNearDupPairs]], but
   * candidates come from joining the batch's band table against the corpus's,
   * so only batch×corpus pairs exist (never corpus×corpus), the batch side
   * broadcasts, and the corpus cost is ONE map-side signature scan per call —
   * in production the corpus band table is precomputed and this becomes a
   * pure broadcast probe of 100 TB with no shuffle at all. Verification is
   * exact Jaccard on the candidate pairs only.
   */
  def minhashNearDupAgainst(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 3, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.8): DataFrame = {
    require(bands * (numHashes / bands) == numHashes, "bands must divide numHashes")
    TextAnalysis.register(corpus.sparkSession)
    val corpusBase = signatureTable(corpus, idCol, textCol, shingleSize, numHashes)
    val batchBase = signatureTable(batch, idCol, textCol, shingleSize, numHashes)
    val candidates = bandTable(corpusBase, numHashes, bands).as("c")
      .join(broadcast(bandTable(batchBase, numHashes, bands)).as("b"),
        col("c.band") === col("b.band") && col("c.bucket") === col("b.bucket"))
      .select(col("b.id").as("batch_id"), col("c.id").as("corpus_id"))
      .distinct()
    candidates
      .join(batchBase.select(col("id"), col("sh")).as("sb"),
        col("batch_id") === col("sb.id"))
      .join(corpusBase.select(col("id"), col("sh")).as("sc"),
        col("corpus_id") === col("sc.id"))
      .select(col("batch_id"), col("corpus_id"),
        jaccard(col("sb.sh"), col("sc.sh")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /**
   * STORED near-dup index — [[minhashNearDupAgainst]]'s "in production the
   * corpus band table is precomputed" claim as running code, and the third
   * stored artifact next to the ANN and text indexes. Layout under `path/`:
   *
   *   bands/      batch=<b>/…  (band, bucket, id)   the LSH probe table
   *   signatures/ batch=<b>/…  (id, sh)             shingle sets for the
   *                            exact-verify join (the honest cost: same
   *                            order as the corpus text itself)
   *   idxmeta/                 (shingle_size, num_hashes, bands) — at the
   *                            INDEX path (build-time constants, never
   *                            change per generation)
   *   tombstones/              (row_id) deleted corpus doc ids — the SAME
   *                            registry as the ANN/text indexes
   *                            ([[graft.index.DiskannIndex.deleteRows]]);
   *                            probes mask them, compaction folds them
   *   versions/v%09d/          compacted generations (bands + signatures),
   *                            highest-wins atomic-rename install — the
   *                            shared lifecycle convention
   *
   * A daily-crawl check then costs: shingle+sign the BATCH (small),
   * broadcast its band table against the stored bands — one map-side probe
   * of the corpus-scale table, no corpus shuffle, no corpus re-shingling —
   * and exact-verify only the candidates against the stored shingle sets.
   * Appends follow the new-doc-ids batch contract shared with the other
   * stored artifacts (verify today's crawl, then append it as tomorrow's
   * corpus increment); append and compact writers serialize through the
   * shared [[graft.index.WriterLock]] lease, reads stay lock-free.
   */
  def buildDedupIndex(corpus: DataFrame, idCol: String, textCol: String,
      path: String, shingleSize: Int = 3, numHashes: Int = 64,
      bands: Int = 16): Unit = {
    require(bands * (numHashes / bands) == numHashes,
      "bands must divide numHashes")
    // a rebuild REPLACES the artifact (see TextIndex.buildTextIndex): old
    // generations, tombstones and stream markers must not survive it
    val fs0 = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(corpus.sparkSession.sessionState.newHadoopConf())
    Seq("versions", "tombstones", "_stream").foreach(d =>
      fs0.delete(new org.apache.hadoop.fs.Path(s"$path/$d"), true))
    // recreated root strings can collide with cached tier-manifest entries
    graft.index.TierManifest.invalidateUnder(path)
    writeDedupBatch(corpus, idCol, textCol, path, shingleSize, numHashes,
      bands, batchId = 0L, mode = SaveMode.Overwrite)
    corpus.sparkSession.createDataFrame(Seq((shingleSize, numHashes, bands)))
      .toDF("shingle_size", "num_hashes", "bands")
      .write.mode(SaveMode.Overwrite).parquet(s"$path/idxmeta")
  }

  /** Append NEW docs (typically the batch just verified) under the writer
    * lease — the generation root is resolved under it, so a concurrent
    * compaction cannot swap the root mid-write and lose the batch. */
  def appendDedupIndex(batch: DataFrame, path: String, idCol: String,
      textCol: String, batchId: Long): Unit = {
    require(batchId > 0L, "append batches start at 1 (0 is the build)")
    val spark = batch.sparkSession
    val m = graft.index.ParquetMetaCache.headRow(spark, s"$path/idxmeta")
    graft.index.WriterLock.withLease(spark, path) {
      val root = graft.index.DiskannIndex.resolveRoot(spark, path)
      // retry safety: scrub this batch id's partition dirs first (see
      // TextIndex.appendLocked — append is REPLACE-by-batch-id)
      val fsA = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      Seq("bands", "signatures").foreach(d =>
        fsA.delete(
          new org.apache.hadoop.fs.Path(s"$root/$d/batch=$batchId"), true))
      writeDedupBatch(batch, idCol, textCol, root,
        m.getAs[Int]("shingle_size"), m.getAs[Int]("num_hashes"),
        m.getAs[Int]("bands"), batchId, SaveMode.Append)
    }
  }

  private def writeDedupBatch(df: DataFrame, idCol: String, textCol: String,
      path: String, shingleSize: Int, numHashes: Int, bands: Int,
      batchId: Long, mode: SaveMode): Unit = {
    TextAnalysis.register(df.sparkSession)
    val base = signatureTable(df, idCol, textCol, shingleSize, numHashes)
    bandTable(base, numHashes, bands)
      .withColumn("batch", lit(batchId))
      .write.mode(mode).partitionBy("batch").parquet(s"$path/bands")
    base.select(col("id"), col("sh"))
      .withColumn("batch", lit(batchId))
      .write.mode(mode).partitionBy("batch").parquet(s"$path/signatures")
  }

  /**
   * Durably mark corpus doc ids deleted (takedowns/opt-outs): probes stop
   * emitting them as candidates immediately, [[compactDedupIndex]]
   * physically drops their band and signature rows and consumes the
   * registry — the ANN index's tombstone-then-VACUUM contract
   * (`vacuum.rs:24-136`) applied to the dedup artifact. Registry layout is
   * byte-compatible, so SQL `DELETE FROM INDEX` works here too.
   */
  def deleteFromDedupIndex(spark: SparkSession, path: String,
      docIds: Iterable[Long]): Unit =
    graft.index.DiskannIndex.deleteRows(spark, path, docIds)

  /** Anti-join against the tombstone registry (bounded by the compact
    * contract → broadcast-sized). */
  private def maskDedupDeleted(spark: SparkSession, path: String,
      df: DataFrame, idCol: String): DataFrame = {
    val dead = graft.index.DiskannIndex.loadTombstones(spark, path)
    if (dead.isEmpty) df
    else {
      import spark.implicits._
      df.join(broadcast(dead.toSeq.toDF("__dead_id")),
        df(idCol) === col("__dead_id"), "left_anti")
    }
  }

  /** [[minhashNearDupAgainst]] served from the stored index: identical
    * output (batch_id, corpus_id, jaccard ≥ threshold), but the corpus
    * side is never re-shingled — the batch's band table broadcasts against
    * the stored bands, and only candidates join the stored shingle sets.
    * Tombstoned corpus docs are masked BEFORE the candidate join, so a
    * taken-down doc stops generating candidates the moment it is deleted. */
  /** `excludeBatch >= 0` drops that PHYSICAL batch id from the corpus side
    * before probing — the replay-stability hook for
    * [[graft.streaming.CrawlIngest]]: a retried micro-batch whose previous
    * attempt already appended (torn, unmarked — folds skip unmarked
    * batches, so the id is stable) must not see its own rows as corpus
    * matches, or the replay would drop every document it is re-landing. */
  def nearDupAgainstDedupIndex(spark: SparkSession, path: String,
      batch: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, excludeBatch: Long = -1L): DataFrame = {
    TextAnalysis.register(spark)
    // listing-memoized: the probe path pays this on every call
    val m = graft.index.ParquetMetaCache.headRow(spark, s"$path/idxmeta")
    val (shingleSize, numHashes, nBands) = (m.getAs[Int]("shingle_size"),
      m.getAs[Int]("num_hashes"), m.getAs[Int]("bands"))
    val root = graft.index.DiskannIndex.resolveRoot(spark, path)
    val batchBase = signatureTable(batch, idCol, textCol, shingleSize,
      numHashes)
    val corpusBands = {
      val all = graft.index.TierManifest.tableDfAt(spark, root, "bands")
      if (excludeBatch >= 0) all.filter(col("batch") =!= excludeBatch) else all
    }
    val candidates = maskDedupDeleted(spark, path, corpusBands, "id").as("c")
      .join(broadcast(bandTable(batchBase, numHashes, nBands)).as("b"),
        col("c.band") === col("b.band") && col("c.bucket") === col("b.bucket"))
      .select(col("b.id").as("batch_id"), col("c.id").as("corpus_id"))
      .distinct()
    candidates
      .join(broadcast(batchBase.select(col("id"), col("sh")).as("sb")),
        col("batch_id") === col("sb.id"))
      .join(graft.index.TierManifest.tableDfAt(spark, root, "signatures").as("sc"),
        col("corpus_id") === col("sc.id"))
      .select(col("batch_id"), col("corpus_id"),
        jaccard(col("sb.sh"), col("sc.sh")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /**
   * Fold every batch into a single batch-0 generation under
   * `path/versions/v%09d` (atomic rename, highest-wins — the shared
   * install discipline), dropping tombstoned ids from both tables and
   * consuming the snapshotted registry files; generations older than the
   * immediate predecessor are pruned, the predecessor stays as the
   * in-flight-reader grace window. Returns false when there is nothing to
   * fold (single batch, no tombstones). Runs under the writer lease.
   */
  /** `tiered = true`: the O(appended-data) fold — local append batches
    * collapse into one tier batch and the base generation is REFERENCED
    * (tiermeta), never rewritten; degrades to the full fold when
    * tombstones are pending. See [[graft.index.TierManifest]] and
    * [[TextIndex.compactTextIndex]] (same design, same semantics). */
  def compactDedupIndex(spark: SparkSession, path: String,
      tiered: Boolean = false): Boolean =
    graft.index.WriterLock.withLeaseVerified(spark, path) { verify =>
      import graft.index.DiskannIndex
      val root = DiskannIndex.resolveRoot(spark, path)
      val batchIds = graft.index.TierManifest.tableDfAt(spark, root, "bands")
        .select(col("batch").cast(LongType)).distinct()
        .collect().map(_.getLong(0))
      // Same replay-protocol guard as compactTextIndex: an unmarked stream
      // batch (committed tables, missing _stream marker — a crashed
      // appender whose stale lease we may have just stolen) is carried
      // through the fold VERBATIM so the checkpoint replay still finds its
      // batch=<id> dirs to delete-and-rewrite; folding it would make the
      // replay re-append and duplicate ids.
      val conf0 = spark.sessionState.newHadoopConf()
      val fs0 = new org.apache.hadoop.fs.Path(path).getFileSystem(conf0)
      val unmarked = batchIds.filter(b => b >= STREAM_BATCH_BASE &&
        !fs0.exists(new org.apache.hadoop.fs.Path(s"$path/_stream/b$b")))
        .toSet
      val nFoldable = batchIds.length - unmarked.size
      val consumedTombs =
        if (unmarked.isEmpty) DiskannIndex.tombstoneFiles(spark, path)
        else Array.empty[org.apache.hadoop.fs.FileStatus]
      val dead =
        if (consumedTombs.isEmpty) Set.empty[Long]
        else DiskannIndex.loadTombstones(spark, path)
      def isUnmarked(c: org.apache.spark.sql.Column) =
        if (unmarked.isEmpty) lit(false)
        else c.cast(LongType).isin(unmarked.toSeq: _*)
      val conf = spark.sessionState.newHadoopConf()
      val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
      def installGen(write: org.apache.hadoop.fs.Path => Unit,
          alsoKeep: Set[String]): Unit = {
        val next = DiskannIndex.listVersions(spark, path)
          .lastOption.map(_.stripPrefix("v").toInt + 1).getOrElse(1)
        val vName = f"v$next%09d"
        val tmp = new org.apache.hadoop.fs.Path(s"$path/_compact_tmp_$vName")
        fs.delete(tmp, true)
        write(tmp)
        val vdir = new org.apache.hadoop.fs.Path(s"$path/versions")
        fs.mkdirs(vdir)
        // last-moment lease re-check before the irreversible generation
        // swap (see WriterLock.withLeaseVerified)
        verify()
        require(fs.rename(tmp, new org.apache.hadoop.fs.Path(vdir, vName)),
          s"failed to install generation $vName")
        val keep = Set(s"$path/versions/$vName", root) ++ alsoKeep ++
          graft.index.TierManifest.tierBase(spark, root) ++
          graft.index.TierManifest.tierBase(spark, s"$path/versions/$vName")
        DiskannIndex.listVersions(spark, path)
          .map(v => s"$path/versions/$v")
          .filterNot(keep)
          .foreach(g => fs.delete(new org.apache.hadoop.fs.Path(g), true))
        if (!keep(path)) {
          Seq("bands", "signatures").foreach { d =>
            val flat = new org.apache.hadoop.fs.Path(s"$path/$d")
            if (fs.exists(flat) && root != path) fs.delete(flat, true)
          }
        }
      }

      // TIER FOLD: collapse local append batches, reference the base
      // (pending tombstones force the full fold — VACUUM must rewrite)
      if (tiered && dead.isEmpty &&
          DiskannIndex.tombstoneFiles(spark, path).isEmpty) {
        val baseOpt = graft.index.TierManifest.tierBase(spark, root)
        val base = baseOpt.getOrElse(root)
        val localBatches = spark.read.parquet(s"$root/bands")
          .select(col("batch").cast(LongType)).distinct()
          .collect().map(_.getLong(0))
        val foldable = localBatches.filterNot(unmarked)
          .filterNot(b => baseOpt.isEmpty && b == 0L)
        // expression form, no non-local returns: a `return` from this
        // lambda rides on NonLocalReturnControl, which any future
        // catch-Throwable in the lease plumbing would swallow
        if (foldable.length < 2) false
        else {
        def isFoldable(c: org.apache.spark.sql.Column) =
          c.cast(LongType).isin(foldable.toSeq.map(Long.box): _*)
        installGen(tmp => {
          Seq("bands", "signatures").foreach { d =>
            val local = spark.read.parquet(s"$root/$d")
            local.filter(isFoldable(col("batch")))
              .drop("batch").withColumn("batch", lit(1L))
              .write.mode(SaveMode.Overwrite).partitionBy("batch")
              .parquet(s"$tmp/$d")
            if (unmarked.nonEmpty)
              local.filter(isUnmarked(col("batch")))
                .write.mode(SaveMode.Append).partitionBy("batch")
                .parquet(s"$tmp/$d")
          }
          graft.index.TierManifest.writeTiermeta(spark, tmp.toString, root,
            base)
        }, alsoKeep = Set(base))
        true
        }
      }
      else if (nFoldable <= 1L && dead.isEmpty &&
          graft.index.TierManifest.tierBase(spark, root).isEmpty) false
      else {
        installGen(tmp => {
          Seq("bands", "signatures").foreach { d =>
            val all = graft.index.TierManifest.tableDfAt(spark, root, d)
            maskDedupDeleted(spark, path,
                all.filter(!isUnmarked(col("batch"))), "id")
              .drop("batch").withColumn("batch", lit(0L))
              .write.mode(SaveMode.Overwrite).partitionBy("batch")
              .parquet(s"$tmp/$d")
            if (unmarked.nonEmpty)
              all.filter(isUnmarked(col("batch")))
                .write.mode(SaveMode.Append).partitionBy("batch")
                .parquet(s"$tmp/$d")
          }
        }, alsoKeep = Set.empty)
        consumedTombs.foreach(s => fs.delete(s.getPath, false))
        true
      }
    }

  /** Smallest batch id above every batch in the current generation (resets
    * to 1 after a compaction folds to batch 0). One tiny pruned read. */
  def nextDedupBatchId(spark: SparkSession, path: String): Long = {
    val root = graft.index.DiskannIndex.resolveRoot(spark, path)
    graft.index.TierManifest.tableDfAt(spark, root, "bands")
      .agg(max(col("batch")).cast(LongType)).head().getLong(0) + 1L
  }

  /** Stream-batch id base for [[appendDedupBatchIdempotent]]; manual
    * [[appendDedupIndex]] ids must stay below it (the TextIndex contract). */
  val STREAM_BATCH_BASE: Long = 1L << 20

  /**
   * Replay-safe foreachBatch sink for the dedup index — the daily-crawl
   * ingest as a stream: each micro-batch is verified territory (the caller
   * dedups it first if desired) appended as physical batch
   * `STREAM_BATCH_BASE + streamBatchId`. Same idempotence discipline as
   * [[TextIndex.appendBatchIdempotent]]: markers live at the INDEX path
   * (`$path/_stream/`) so a compaction cannot orphan them, the whole
   * check-append-mark sequence runs under the shared writer lease, and a
   * torn previous attempt's partition dirs are deleted before the rewrite.
   */
  def appendDedupBatchIdempotent(idCol: String, textCol: String,
      path: String)(batch: DataFrame, streamBatchId: Long): Unit = {
    val spark = batch.sparkSession
    val phys = STREAM_BATCH_BASE + streamBatchId
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    val marker = new org.apache.hadoop.fs.Path(s"$path/_stream/b$phys")
    if (fs.exists(marker)) return // fully committed on a previous attempt
    val m = spark.read.parquet(s"$path/idxmeta").head()
    graft.index.WriterLock.withLeaseVerified(spark, path) { verify =>
      if (!fs.exists(marker)) {
        val root = graft.index.DiskannIndex.resolveRoot(spark, path)
        Seq("bands", "signatures").foreach { d =>
          fs.delete(
            new org.apache.hadoop.fs.Path(s"$root/$d/batch=$phys"), true)
        }
        writeDedupBatch(batch, idCol, textCol, root,
          m.getAs[Int]("shingle_size"), m.getAs[Int]("num_hashes"),
          m.getAs[Int]("bands"), phys, SaveMode.Append)
        // re-verify before the marker commit (same rationale as
        // TextIndex.appendBatchIdempotent — fail the micro-batch so the
        // checkpoint replays against the unmarked-batch carry-through)
        verify()
        fs.mkdirs(marker.getParent)
        fs.create(marker, true).close()
      }
    }
  }

  /** Streaming ingest into the dedup index — the crawl-side twin of
    * [[TextIndex.startTextIngest]]. `autoCompact = true` runs the TIERED
    * fold when the local batch count exceeds
    * `graft.compact.dedupMaxBatches` (default 64) — O(appended data),
    * base referenced, ingest latency bounded by the tier size. */
  def startDedupIngest(stream: DataFrame, idCol: String, textCol: String,
      path: String, checkpoint: String, autoCompact: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendDedupBatchIdempotent(idCol, textCol, path)(batch, batchId)
        if (autoCompact) {
          val spark = batch.sparkSession
          val maxB =
            spark.conf.get("graft.compact.dedupMaxBatches", "64").toInt
          if (localBatchCount(spark, path) > maxB) {
            compactDedupIndex(spark, path, tiered = true); ()
          }
        }
      }
      .start()

  /** Batch count local to the ACTIVE generation (the tiered-fold trigger
    * input) — shared by [[startDedupIngest]] and
    * [[graft.streaming.CrawlIngest]] so the autovacuum gates cannot
    * drift apart. */
  def localBatchCount(spark: SparkSession, path: String): Long = {
    val root = graft.index.DiskannIndex.resolveRoot(spark, path)
    spark.read.parquet(s"$root/bands")
      .select(col("batch")).distinct().count()
  }

  /**
   * SimHash near-dup pairs with Hamming distance <= maxHamming over the
   * 60-bit md5-based signature ([[TextAnalysis.SimHashMd5]] — externally
   * recomputable, so the whole pipeline is oracle-checkable in plain SQL).
   * Band trick: 4 15-bit bands; any pair within Hamming distance 3 shares at
   * least one full band (pigeonhole), so candidate generation loses nothing
   * and the output is EXACTLY every pair at distance <= 3. Token-less
   * documents carry no signal and are excluded.
   */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val spark = df.sparkSession
    TextAnalysis.register(spark)
    val sigs = df.select(col(idCol).cast(LongType).as("id"),
      TextAnalysis.tokens(col(textCol)).as("__w"))
      .filter(size(col("__w")) > 0)
      .select(col("id"), call_function("simhash_md5", col("__w")).as("sig"))
    // both sides of the self-join read this tiny table (4 rows/doc, 3 longs
    // each): persist so tokenize+simhash runs once, not once per join side
    val banded = sigs.select(col("id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(3)),
        j => call_function("shiftright", col("sig"), j * 15).bitwiseAND(lit(0x7FFFL)))))
      .select(col("id"), col("sig"), col("pos").as("band"), col("col").as("bucket"))
      .transform(graft.CacheScope.persist)
    val cand = banded.as("a").join(banded.as("b"),
      col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
    cand.withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast(LongType))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /**
   * Blocked fuzzy record linkage (catalog / entity resolution): find pairs
   * of DISTINCT values of `nameCol` within edit distance `maxDist`, joining
   * only within blocks produced by `blockKey` — never all-pairs.
   *
   * Plan shape, scale-first:
   *  1. distinct names with a canonical representative id: ONE shuffle on
   *     the name (map-side combined — duplicate rows collapse before the
   *     exchange), output bounded by the DISTINCT name count, not rows;
   *  2. within-block self-join on the block key: pair volume is
   *     sum(|block|²), bounded by the caller's block design (a too-coarse
   *     key is visible as one skewed join key — AQE splits it, and the fix
   *     is a finer key such as (prefix, length bucket), not more memory);
   *  3. the codegen'd banded-DP `levenshtein(l, r, threshold)` built-in:
   *     O(maxDist·len) per pair instead of O(len²), returning -1 early when
   *     the distance exceeds the bound, so the filter is one integer
   *     comparison and no pair carries quadratic DP cost.
   *
   * Ids are min-per-name, so output is deterministic under any input
   * partitioning; `id_a < id_b` keeps each pair once.
   */
  def fuzzyLinkage(df: DataFrame, idCol: String, nameCol: String,
      blockKey: Column => Column, maxDist: Int): DataFrame = {
    val names = df
      .groupBy(col(nameCol).as("name"))
      .agg(min(col(idCol).cast(LongType)).as("rep_id"))
      .withColumn("blk", blockKey(col("name")))
      .transform(graft.CacheScope.persist) // both join sides read it
    val a = names.select(col("blk"), col("name").as("name_a"), col("rep_id").as("id_a"))
    val b = names.select(col("blk"), col("name").as("name_b"), col("rep_id").as("id_b"))
    a.join(b, Seq("blk"))
      .where(col("id_a") < col("id_b"))
      .withColumn("dist",
        levenshtein(col("name_a"), col("name_b"), maxDist).cast(LongType))
      .where(col("dist") >= 0) // threshold variant returns -1 when exceeded
      .select(col("name_a"), col("name_b"), col("dist"), col("id_a"), col("id_b"))
  }
}
