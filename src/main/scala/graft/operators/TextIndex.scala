package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.index.{DiskannIndex, WriterLock}
import graft.FingerprintMemo

/**
 * A STORED inverted text index — the text-retrieval twin of the ANN index's
 * "build once, serve many" lifecycle (SURVEY.md §2.1 S6/G9): BM25 serving at
 * corpus scale should read a prebuilt artifact pruned to the query's terms,
 * not re-tokenize 100 TB per query the way [[TextAnalysis.bm25]] (the
 * one-shot scoring pass) necessarily does.
 *
 * Layout under `path/` (all parquet, all Hadoop-FS paths):
 *
 *   postings/    batch=<b>/tb=<t>/…   (term, id, tf, dl)  one row per
 *                (doc, term) pair, doc length denormalized onto the row so
 *                scoring never joins a doc-lengths table
 *   termstats/   batch=<b>/tb=<t>/…   (term, df)          per-batch document
 *                frequency — query-time `sum(df)` folds batches
 *   corpusstats/ batch=<b>/…          (n, sumdl)          per-batch corpus
 *                totals — query-time `sum` folds batches (rows = #batches)
 *   tombstones/                       (row_id)            deleted doc ids —
 *                the SAME registry layout/machinery as the ANN index's
 *                ([[graft.index.DiskannIndex.deleteRows]]), so `DELETE FROM
 *                INDEX … WHERE ROW_ID IN` works against a text index path
 *                unchanged. Serve paths mask them; compaction folds them.
 *   _stream/                          b<batchId> commit markers for the
 *                streaming sink — at the INDEX path, not the generation
 *                root, so a compaction between append and checkpoint commit
 *                cannot orphan a marker and cause a duplicating replay.
 *
 * `tb` is the TERM BUCKET: `md5_low60(term) mod nBuckets` — the same
 * engine-independent md5 route every other stored artifact uses
 * ([[Curation.shardBucket]], the ANN index's IVF assignment), so any engine
 * can compute which bucket holds a term. A query for `q` terms prunes the
 * scan to ≤q of the nBuckets partitions at PLANNING time (Catalyst partition
 * pruning — asserted in TextIndexSpec), so repeated queries cost a few
 * pruned column-pruned scans instead of a corpus pass. Direct
 * `partitionBy(term)` would mint one directory per vocabulary type
 * (billions at corpus scale — a filesystem DoS); bucketing keeps the
 * directory count fixed while preserving pruning.
 *
 * Incremental appends mirror the ANN delta contract: an appended batch must
 * carry NEW doc ids (per-batch `df`/`n`/`sumdl` rows sum correctly only when
 * no doc spans batches — same row-identity rule as
 * [[graft.streaming.StreamingIngest.appendBatchToDelta]]). Batches
 * accumulate files; the query-time cost of un-compacted batches is extra
 * files in the SAME pruned buckets, never extra partitions scanned. Two
 * folds exist: the FULL fold (self-contained generation, the VACUUM that
 * physically drops tombstoned docs) and the TIERED fold
 * (`compactTextIndex(…, tiered = true)`) — LSM-style, O(appended data):
 * local batches collapse into one tier batch while the immutable base
 * generation is only REFERENCED through [[graft.index.TierManifest]],
 * which is what a daily fold at 100 TB must do (never rewrite the base).
 *
 * Writers (append, compact) are serialized by the shared
 * [[graft.index.WriterLock]] lease — an append can never land in a
 * generation root that a concurrent compaction is folding (it would vanish
 * at the version swap), and two compactors cannot race one version number.
 * Reads stay lock-free: installed generations are immutable.
 *
 * Reference: this is the relational re-expression of a text search index's
 * postings + collection statistics; scoring matches [[TextAnalysis.bm25]]'s
 * formula with one deliberate difference — per-term scores are rounded to 6
 * decimals and summed in DECIMAL(20,6) (the [[Similarity.maxsimTopK]]
 * discipline), because posting rows reach the per-doc sum in shuffle order,
 * not the fixed left-to-right term order the one-shot scorer guarantees.
 * Decimal addition is exact and commutative, so the indexed score is
 * byte-identical under any partitioning and SQL-oracle-replayable.
 */
object TextIndex {

  /** `md5_low60(term) mod nBuckets` — engine-independent term routing. */
  def termBucket(term: Column, nBuckets: Int): Column =
    pmod(Curation.md5Low60(term), lit(nBuckets.toLong))

  // Tier-manifest plumbing (LSM-style compaction) is shared with the dedup
  // index — see [[graft.index.TierManifest]] for the design notes.
  private[graft] def tierBase(spark: SparkSession,
      root: String): Option[String] =
    graft.index.TierManifest.tierBase(spark, root)

  private[graft] def tableDfAt(spark: SparkSession, root: String,
      table: String): DataFrame =
    graft.index.TierManifest.tableDfAt(spark, root, table)

  /** Generation root of the index — the SAME `versions/v%09d`, highest-
    * wins, atomic-rename convention the ANN index uses
    * ([[graft.index.DiskannIndex.resolveRoot]]), reused verbatim so both
    * stored artifacts share one lifecycle story (and one set of tools). */
  def resolveRoot(spark: SparkSession, path: String): String =
    DiskannIndex.resolveRoot(spark, path)

  /** Driver-side replica of [[termBucket]], for planning-time pruning:
    * the query needs LITERAL bucket values so Catalyst can prune the scan
    * before execution, not a runtime filter. One definition pair kept
    * adjacent so they cannot drift. */
  def termBucketOf(term: String, nBuckets: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(17, 32), 16) % nBuckets.toLong
  }

  /** Build the index from scratch (overwrites `path`) as batch 0.
    * `positions = true` stores each term's token offsets on the posting
    * row (the positional index that [[phraseSearchIndexed]] needs) — the
    * standard positional-postings cost: O(token count) ints instead of
    * O(type count) rows, so leave it off when only BM25 serving matters.
    * BM25 never reads the column either way (parquet column pruning). */
  def buildTextIndex(df: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int = 64, positions: Boolean = false): Unit = {
    // a rebuild REPLACES the artifact: stale generations (which win root
    // resolution over the flat dirs), pending tombstones and stream
    // markers from a previous life must not survive into the new one
    val fs0 = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(df.sparkSession.sessionState.newHadoopConf())
    Seq("versions", "tombstones", "_stream").foreach(d =>
      fs0.delete(new org.apache.hadoop.fs.Path(s"$path/$d"), true))
    // version numbering restarts after the versions/ delete, so recreated
    // root strings can collide with cached tier-manifest entries
    graft.index.TierManifest.invalidateUnder(path)
    writeBatch(df, idCol, textCol, path, nBuckets, batchId = 0L,
      mode = SaveMode.Overwrite, positions = positions)
    // build-time constants (bucket count, positions) — one tiny parquet at
    // the INDEX path (not the generation root: they never change per-gen)
    val spark = df.sparkSession
    spark.createDataFrame(Seq((nBuckets, positions)))
      .toDF("n_buckets", "positions")
      .write.mode(SaveMode.Overwrite).parquet(s"$path/idxmeta")
  }

  case class TextIndexMeta(nBuckets: Int, positions: Boolean)

  /** Corpus totals (N docs, Σdl) of the CURRENT generation — every
    * serving call needs them, and recomputing them was a per-query
    * broadcast-exchange materialization. DELETEs deliberately do NOT
    * invalidate: pre-vacuum scoring keeps counting tombstoned docs (the
    * documented staleness window). [[textIndexStats]] does not use this
    * memo: it is the integrity audit and must recompute from the stores. */
  // fingerprint: the corpusstats listing (an append lands a new batch=N dir
  // or files into one; a compact installs a new root)
  private val corpusTotalsMemo = new FingerprintMemo[(Long, Long)](
    "TextIndex.corpusTotals", 64, FingerprintMemo.Jvm)
  private def corpusTotals(spark: SparkSession, root: String): (Long, Long) = {
    val dir = new org.apache.hadoop.fs.Path(s"$root/corpusstats")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    corpusTotalsMemo.get(spark, root, FingerprintMemo.fingerprintOf(fs.listStatus(dir))) {
      val r = tableDfAt(spark, root, "corpusstats")
        .agg(sum(col("n")).as("n"), sum(col("sumdl")).as("sumdl")).head()
      // an empty-corpus build writes n=0 with a NULL sum — fold to 0
      (if (r.isNullAt(0)) 0L else r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1))
    }
  }

  def readMeta(spark: SparkSession, path: String): TextIndexMeta = {
    val r = graft.index.ParquetMetaCache.headRow(spark, s"$path/idxmeta")
    TextIndexMeta(r.getAs[Int]("n_buckets"), r.getAs[Boolean]("positions"))
  }

  /** The bucket count every read/append path MUST use: the recorded
    * build-time constant. `passed = 0` (the API default) means "from
    * idxmeta"; a nonzero override exists only for pre-idxmeta artifacts
    * and is validated against idxmeta when one exists — a silent mismatch
    * would prune the WRONG buckets and drop results, the worst failure
    * mode an index can have. Only a MISSING idxmeta falls back; any other
    * read failure (corruption, permissions, transient IO) PROPAGATES — a
    * default guessed past a broken meta would prune wrong buckets and
    * silently drop results. */
  private def effectiveBuckets(spark: SparkSession, path: String,
      passed: Int): Int = {
    val recorded =
      try Some(readMeta(spark, path).nBuckets)
      catch {
        // plan-time missing path only; everything else is a real failure
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "PATH_NOT_FOUND" => None
      }
    (passed, recorded) match {
      case (0, Some(m)) => m
      case (0, None) => 64
      case (p, Some(m)) =>
        require(p == m, s"nBuckets=$p contradicts the index's recorded " +
          s"bucket count $m at $path/idxmeta")
        p
      case (p, None) => p
    }
  }

  /** Append a batch of NEW docs (ids must not already be indexed) under the
    * writer lease. Positions on/off follows the existing index's schema — a
    * mixed index would silently break phrase search on the appended slice. */
  def appendTextIndex(df: DataFrame, idCol: String, textCol: String,
      path: String, batchId: Long, nBuckets: Int = 0): Unit =
    WriterLock.withLease(df.sparkSession, path) {
      appendLocked(df, idCol, textCol, path, batchId, nBuckets)
    }

  /** The append body; caller MUST hold the writer lease (the generation
    * root is resolved here, under the lease, so a concurrent compaction
    * cannot swap it mid-write). */
  private def appendLocked(df: DataFrame, idCol: String, textCol: String,
      path: String, batchId: Long, nBuckets: Int): Unit = {
    require(batchId > 0L, "append batches start at 1 (0 is the build)")
    val spark = df.sparkSession
    val root = resolveRoot(spark, path)
    // append REPLACES this batch id: scrubbing any partition dirs a torn
    // previous attempt left makes a failed append safely retryable (the
    // same delete-then-rewrite the stream replay protocol uses) — without
    // it, a retry after a partial failure doubles the committed tables'
    // rows. Batch ids are unique per generation by contract, so in the
    // non-failure case there is nothing to scrub.
    val fsA = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Seq("postings", "termstats", "corpusstats").foreach(d =>
      fsA.delete(
        new org.apache.hadoop.fs.Path(s"$root/$d/batch=$batchId"), true))
    val nB = effectiveBuckets(spark, path, nBuckets)
    val positions = tableDfAt(spark, root, "postings")
      .columns.contains("pos")
    writeBatch(df, idCol, textCol, root, nB, batchId, SaveMode.Append,
      positions)
  }

  /** Smallest batch id strictly above every batch in the current
    * generation (compaction folds everything into batch 0, so this resets
    * to 1 after a fold). One tiny corpusstats read. */
  def nextBatchId(spark: SparkSession, path: String): Long = {
    val root = resolveRoot(spark, path)
    // batch is a PARTITION column — inferred as int on read, hence the cast
    tableDfAt(spark, root, "corpusstats")
      .agg(max(col("batch")).cast(LongType)).head().getLong(0) + 1L
  }

  private def writeBatch(df: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int, batchId: Long, mode: SaveMode,
      positions: Boolean): Unit = {
    val spark = df.sparkSession
    val toks = df.select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("__w"))
      .select(col("id"), col("__w"),
        size(col("__w")).cast(LongType).as("dl"))
    // one shuffle (term,id): per-doc term frequencies, dl carried along;
    // positions sorted so the array is deterministic under any partitioning
    val exploded =
      if (positions)
        toks.select(col("id"), col("dl"),
            posexplode(col("__w")).as(Seq("p", "term")))
          .groupBy(col("term"), col("id"), col("dl"))
          .agg(count(lit(1)).as("tf"),
            sort_array(collect_list(col("p"))).as("pos"))
      else
        toks.select(col("id"), col("dl"), explode(col("__w")).as("term"))
          .groupBy(col("term"), col("id"), col("dl"))
          .agg(count(lit(1)).as("tf"))
    // range-repartition on (tb, term) before the partitionBy write: each
    // output task then covers a CONTIGUOUS bucket range (≤2 buckets at the
    // boundaries), so files per batch is ≈ nTasks + nBuckets — without it
    // every post-shuffle task can open a file in all nBuckets dirs
    // (nTasks×nBuckets small files per batch, the exact foot-gun
    // BucketedTables.scala documents). Range (not hash) also lands terms
    // sorted within each file, tightening parquet min/max stats on `term`.
    exploded
      .withColumn("batch", lit(batchId))
      .withColumn("tb", termBucket(col("term"), nBuckets))
      .repartitionByRange(col("tb"), col("term"))
      .write.mode(mode).partitionBy("batch", "tb")
      .parquet(s"$path/postings")
    // df derives from the postings JUST WRITTEN (read back the new batch's
    // term column only — column-pruned and batch-pruned) rather than
    // re-tokenizing the input: the expensive pass runs once per batch
    spark.read.parquet(s"$path/postings")
      .filter(col("batch") === batchId)
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .select(col("term"), col("df"), lit(batchId).as("batch"),
        termBucket(col("term"), nBuckets).as("tb"))
      .repartitionByRange(col("tb"), col("term"))
      .write.mode(mode).partitionBy("batch", "tb")
      .parquet(s"$path/termstats")
    toks.agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
      .select(col("n"), col("sumdl"), lit(batchId).as("batch"))
      .write.mode(mode).partitionBy("batch")
      .parquet(s"$path/corpusstats")
  }

  // ---- deletes (the V1/VACUUM analog for the text artifact) ----

  /**
   * Durably mark doc ids deleted: serve paths ([[bm25SearchIndexed]],
   * [[bm25SearchIndexedBatch]], [[phraseSearchIndexed]] and the TVFs built
   * on them) mask the ids immediately; the next [[compactTextIndex]]
   * physically folds them out (VACUUM) and consumes the registry — the
   * reference's tombstone-then-vacuum contract (`vacuum.rs:24-136`) applied
   * to the text artifact. The registry is byte-compatible with the ANN
   * index's, so SQL `DELETE FROM INDEX ON parquet.`…`` works on a text
   * index path unchanged.
   *
   * Until the fold, surviving docs keep their pre-delete scores (corpus
   * stats still count the deleted docs) — the same staleness window the
   * ANN index's masked-but-not-vacuumed rows have. One caveat the artifact
   * cannot avoid: a deleted doc with ZERO tokens has no posting rows to
   * recover `dl` from, so it keeps contributing +1 to N until a full
   * rebuild; token-bearing docs fold out exactly.
   */
  def deleteDocs(spark: SparkSession, path: String,
      docIds: Iterable[Long]): Unit =
    DiskannIndex.deleteRows(spark, path, docIds)

  /** Anti-join `df` against the tombstone registry on `idCol`. The
    * tombstone set is bounded by the compact contract (folded+consumed at
    * every compaction), so the broadcast is query-batch-sized. */
  private def maskDeleted(spark: SparkSession, path: String,
      df: DataFrame, idCol: String): DataFrame = {
    val dead = DiskannIndex.loadTombstones(spark, path)
    if (dead.isEmpty) df
    else {
      import spark.implicits._
      df.join(broadcast(dead.toSeq.toDF("__dead_id")),
        df(idCol) === col("__dead_id"), "left_anti")
    }
  }

  /**
   * BM25 top-n against the stored index. Same formula and operation order
   * as [[TextAnalysis.bm25]]; per-term scores rounded to 6 decimals then
   * summed in DECIMAL(20,6) (see object doc for why). The postings and
   * termstats scans are pruned to the query terms' buckets at planning
   * time; corpus stats fold from #batches rows. Docs containing none of the
   * terms never enter the plan (vs the one-shot scorer's `> 0` filter —
   * identical result sets, since idf > 0 always and tf > 0 on every
   * posting row). Tombstoned docs are masked before scoring.
   */
  def bm25SearchIndexed(spark: SparkSession, path: String, terms: Seq[String],
      nBuckets: Int = 0, k1: Double = 1.2, b: Double = 0.75,
      n: Int = 20): DataFrame = {
    require(terms.nonEmpty, "bm25SearchIndexed needs at least one query term")
    val root = resolveRoot(spark, path)
    val nB = effectiveBuckets(spark, path, nBuckets)
    val bks = terms.map(termBucketOf(_, nB)).distinct
      .map(java.lang.Long.valueOf)
    // corpus totals as LITERALS (memoized per generation): same longs the
    // broadcast-crossJoin form carried, minus one exchange per query
    val (nDocs, sumDl) = corpusTotals(spark, root)
    val tstats = tableDfAt(spark, root, "termstats")
      .filter(col("tb").isin(bks: _*) && col("term").isin(terms: _*))
      .groupBy(col("term")).agg(sum(col("df")).as("__df"))
    val post = maskDeleted(spark, path,
      tableDfAt(spark, root, "postings")
        .filter(col("tb").isin(bks: _*) && col("term").isin(terms: _*)),
      "id")
    val avgdl = lit(sumDl).cast(DoubleType) / lit(nDocs)
    val lenNorm = lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl)
    val idf = log(lit(1.0) +
      (lit(nDocs) - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)))
    val termScore = round(idf * col("tf").cast(DoubleType) * lit(k1 + 1.0) /
      (col("tf").cast(DoubleType) + lenNorm), 6)
    post.join(broadcast(tstats), "term")
      .select(col("id"), termScore.cast(DecimalType(20, 6)).as("__ts"))
      .groupBy(col("id")).agg(sum(col("__ts")).as("__s"))
      .select(col("id"), col("__s").cast(DoubleType).as("bm25"))
      .filter(col("bm25") > 0)
      .orderBy(col("bm25").desc, col("id"))
      .limit(n)
  }

  /**
   * Exact-phrase search against a positional index (`positions = true` at
   * build): docs where `phrase`'s terms appear at consecutive token
   * offsets, with the occurrence count. Returns `(id, n_occurrences)`,
   * most occurrences first, ties on id.
   *
   * Plan shape: each phrase slot reads the SAME bucket-pruned posting scan
   * filtered to its term, and the slots meet in an |phrase|-way equi-join
   * on doc id — the classic posting-list intersection, sized by the
   * phrase's rarest term (AQE broadcasts the small sides), never by the
   * corpus. Adjacency is then a per-row array check: position p of slot 0
   * survives iff slot i's array contains p+i for every i — `filter` +
   * `array_contains` over the row's own arrays, no further shuffle.
   *
   * Guard: when `spark.graft.text.phrase.maxDfFrac` is set below 1.0, a
   * phrase whose RAREST term appears in more than that fraction of docs is
   * refused — an all-stop-word phrase would otherwise join corpus-sized
   * posting lists (the plan is sized by the rarest term; the guard makes
   * that failure mode explicit instead of slow). Costs one pruned termstats
   * read when enabled; free at the default 1.0.
   */
  def phraseSearchIndexed(spark: SparkSession, path: String,
      phrase: Seq[String], nBuckets: Int = 0, n: Int = 20): DataFrame = {
    require(phrase.nonEmpty, "phraseSearchIndexed needs a non-empty phrase")
    val root = resolveRoot(spark, path)
    val nB = effectiveBuckets(spark, path, nBuckets)
    val post = tableDfAt(spark, root, "postings")
    require(post.columns.contains("pos"),
      s"index at $path was built without positions=true; phrase search " +
        "needs positional postings")
    val bks = phrase.map(termBucketOf(_, nB)).distinct
      .map(java.lang.Long.valueOf)
    val maxDfFrac =
      spark.conf.get("spark.graft.text.phrase.maxDfFrac", "1.0").toDouble
    if (maxDfFrac < 1.0) {
      val nDocs = tableDfAt(spark, root, "corpusstats")
        .agg(sum(col("n"))).head().getLong(0)
      val dfs = tableDfAt(spark, root, "termstats")
        .filter(col("tb").isin(bks: _*) &&
          col("term").isin(phrase.distinct: _*))
        .groupBy(col("term")).agg(sum(col("df")).as("df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val (rarestTerm, rarestDf) =
        phrase.distinct.map(t => t -> dfs.getOrElse(t, 0L)).minBy(_._2)
      if (nDocs > 0 && rarestDf.toDouble / nDocs > maxDfFrac)
        throw new IllegalArgumentException(
          s"phrase refused: its rarest term '$rarestTerm' appears in " +
            s"$rarestDf of $nDocs docs (> spark.graft.text.phrase." +
            s"maxDfFrac=$maxDfFrac); the posting intersection would be " +
            "corpus-sized — raise the knob to allow it")
    }
    val pruned = maskDeleted(spark, path,
      post.filter(col("tb").isin(bks: _*) &&
        col("term").isin(phrase.distinct: _*)),
      "id")
    val slots = phrase.zipWithIndex.map { case (t, i) =>
      pruned.filter(col("term") === t)
        .select(col("id"), col("pos").as(s"__p$i"))
    }
    val joined = slots.reduce((a, b) => a.join(b, "id"))
    val occ = size(filter(col("__p0"), p =>
      (1 until phrase.length)
        .map(i => array_contains(col(s"__p$i"), p + i))
        .reduceOption(_ && _).getOrElse(lit(true))))
    joined.select(col("id"), occ.cast(LongType).as("n_occurrences"))
      .filter(col("n_occurrences") > 0)
      .orderBy(col("n_occurrences").desc, col("id"))
      .limit(n)
  }

  /**
   * Proximity search: docs where ALL of `terms` co-occur within ±`slop`
   * tokens of an anchor occurrence of the FIRST term, with the anchor
   * count. Generalizes [[phraseSearchIndexed]] (a phrase is slop-0 with
   * ordered offsets); the retrieval shape is identical — a bucket-pruned
   * |terms|-way posting intersection on doc id sized by the rarest term,
   * then a per-row array check over the positional arrays (`filter` +
   * `exists`, no further shuffle). Returns `(id, n_anchors)`, most anchors
   * first, ties on id. The anchor-count semantic (number of positions p of
   * terms.head such that every other term has an occurrence q with
   * |q − p| ≤ slop) is deliberately simple enough that an external SQL
   * engine replays it exactly from the raw token lists — the
   * `proximity_search` CORRECTNESS entry does.
   */
  def proximitySearchIndexed(spark: SparkSession, path: String,
      terms: Seq[String], slop: Int, nBuckets: Int = 0,
      n: Int = 20): DataFrame = {
    require(terms.nonEmpty, "proximitySearchIndexed needs at least one term")
    require(slop >= 0, "slop must be >= 0")
    val root = resolveRoot(spark, path)
    val nB = effectiveBuckets(spark, path, nBuckets)
    val post = tableDfAt(spark, root, "postings")
    require(post.columns.contains("pos"),
      s"index at $path was built without positions=true; proximity search " +
        "needs positional postings")
    val bks = terms.map(termBucketOf(_, nB)).distinct
      .map(java.lang.Long.valueOf)
    val pruned = maskDeleted(spark, path,
      post.filter(col("tb").isin(bks: _*) &&
        col("term").isin(terms.distinct: _*)),
      "id")
    val slots = terms.zipWithIndex.map { case (t, i) =>
      pruned.filter(col("term") === t)
        .select(col("id"), col("pos").as(s"__p$i"))
    }
    val joined = slots.reduce((a, b) => a.join(b, "id"))
    val anchors = size(filter(col("__p0"), p =>
      (1 until terms.length)
        .map(i => exists(col(s"__p$i"),
          q => abs(q - p) <= lit(slop)))
        .reduceOption(_ && _).getOrElse(lit(true))))
    joined.select(col("id"), anchors.cast(LongType).as("n_anchors"))
      .filter(col("n_anchors") > 0)
      .orderBy(col("n_anchors").desc, col("id"))
      .limit(n)
  }

  /**
   * Batched BM25: many queries against the index in ONE pass over the
   * union of their terms' posting lists — the fleet-serving shape (the
   * text analog of the ANN side's `searchDistributed`). `queries` is
   * `(qid: Long, terms: array<string>)`; the batch's distinct terms are
   * collected to the driver (bounded by batch size × terms per query, a
   * legitimate bounded collect) so the posting scan still prunes to their
   * md5 buckets at planning time, then the batch broadcasts back and the
   * per-(qid, doc) score folds in one shuffle. The per-query top-n is a
   * BOUNDED top-k aggregator ([[Similarity.TopKAggregator]] on (-bm25, id))
   * — O(n) state per qid with map-side combine, so even a stop-word query
   * whose candidate set is corpus-sized never materializes a corpus-sized
   * sort partition (the rank-window shape this replaced would).
   *
   * Duplicate terms within one query's array count once (matching
   * [[bm25SearchIndexed]], whose term list is a set by construction).
   * Returns `(qid, id, bm25)`, per query ordered best-first, `n` rows max
   * per qid; same decimal summation discipline as the single-query path,
   * so results are byte-identical to per-query calls.
   */
  def bm25SearchIndexedBatch(spark: SparkSession, path: String,
      queries: DataFrame, nBuckets: Int = 0, k1: Double = 1.2,
      b: Double = 0.75, n: Int = 20): DataFrame = {
    val root = resolveRoot(spark, path)
    val nB = effectiveBuckets(spark, path, nBuckets)
    val qt = queries
      .select(col("qid"), explode(col("terms")).as("term")).distinct()
    val allTerms = qt.select(col("term")).distinct()
      .collect().map(_.getString(0)).toSeq
    require(allTerms.nonEmpty, "bm25SearchIndexedBatch: no query terms")
    val bks = allTerms.map(termBucketOf(_, nB)).distinct
      .map(java.lang.Long.valueOf)
    // literal corpus totals — see bm25SearchIndexed
    val (nDocs, sumDl) = corpusTotals(spark, root)
    val tstats = tableDfAt(spark, root, "termstats")
      .filter(col("tb").isin(bks: _*) && col("term").isin(allTerms: _*))
      .groupBy(col("term")).agg(sum(col("df")).as("__df"))
    val post = maskDeleted(spark, path,
      tableDfAt(spark, root, "postings")
        .filter(col("tb").isin(bks: _*) && col("term").isin(allTerms: _*)),
      "id")
    val avgdl = lit(sumDl).cast(DoubleType) / lit(nDocs)
    val lenNorm = lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl)
    val idf = log(lit(1.0) +
      (lit(nDocs) - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)))
    val termScore = round(idf * col("tf").cast(DoubleType) * lit(k1 + 1.0) /
      (col("tf").cast(DoubleType) + lenNorm), 6)
    val scored = post.join(broadcast(qt), "term")
      .join(broadcast(tstats), "term")
      .select(col("qid"), col("id"),
        termScore.cast(DecimalType(20, 6)).as("__ts"))
      .groupBy(col("qid"), col("id")).agg(sum(col("__ts")).as("__s"))
      .select(col("qid"), col("id"), col("__s").cast(DoubleType).as("bm25"))
      .filter(col("bm25") > 0)
    // bounded per-qid top-n: smallest-k by (-bm25, id) == (bm25 desc, id),
    // exactly the rank window's tie-break; negation is exact in IEEE754 so
    // results stay byte-identical to per-query calls
    import spark.implicits._
    val agg = new Similarity.TopKAggregator(n)
    scored.as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, -t._3))
      .agg(agg.toColumn.name("topk"))
      .toDF("qid", "topk")
      .select(col("qid"), explode(col("topk")).as("e"))
      .select(col("qid"), col("e._1").as("id"), (-col("e._2")).as("bm25"))
      .orderBy(col("qid"), col("bm25").desc, col("id"))
  }

  /**
   * Fold every batch of the current generation into a single batch-0
   * generation, installed under `path/versions/v%09d` by one atomic rename
   * (the ANN compactor's install discipline), under the shared
   * [[graft.index.WriterLock]] lease. Returns false (no-op) when only one
   * batch exists AND no tombstones are pending. Query-time cost of
   * un-compacted batches is extra FILES in the same pruned buckets, so
   * compaction is a file-count (open/list overhead) lever — plus the
   * VACUUM: pending tombstones snapshot under the lease, fold out of the
   * rewritten postings/termstats/corpusstats, and their registry files are
   * consumed after the install, exactly like the ANN compactor
   * (`vacuum.rs:24-136` semantics).
   *
   * Postings rows are copied verbatim (positions preserved); term df
   * recomputes from the surviving postings and corpus totals fold by
   * subtraction of the folded docs' own (count, Σdl) — exact under the
   * append contract (a doc id appears in exactly one batch; see
   * [[deleteDocs]] for the zero-token caveat). Generations older than the
   * immediate predecessor are pruned; the predecessor stays as the
   * in-flight-reader grace window, exactly like the ANN index.
   */
  /**
   * `tiered = true` requests the O(appended-data) fold: local append
   * batches collapse into one tier batch and the immutable base generation
   * is REFERENCED (tiermeta), never rewritten — run this per ingest window
   * at scale. It degrades to the full fold automatically when tombstones
   * are pending (VACUUM must rewrite the base to drop dead rows). The
   * default full fold produces a self-contained generation.
   */
  def compactTextIndex(spark: SparkSession, path: String,
      tiered: Boolean = false): Boolean =
    WriterLock.withLeaseVerified(spark, path) { verify =>
      val root = resolveRoot(spark, path)
      val batchIds = tableDfAt(spark, root, "corpusstats")
        .select(col("batch").cast(LongType)).collect().map(_.getLong(0))
      // REPLAY-PROTOCOL GUARD: a stream batch (id >= STREAM_BATCH_BASE)
      // whose _stream marker is ABSENT is a committed-but-unmarked append —
      // the writer died between its table writes and its marker, and the
      // checkpoint replay WILL re-run it (delete batch=<id> dirs, rewrite,
      // mark). Folding such a batch into batch 0 would strand the replay
      // with nothing to delete and a re-append would duplicate doc ids
      // (double df / corpus sums). So unmarked stream batches are carried
      // through the fold VERBATIM under their own batch ids; everything
      // else folds to batch 0 as before. Normally the lease serializes
      // append and compact, so this only triggers after a stale-lease steal
      // from a crashed appender — exactly the case the replay handles.
      val conf0 = spark.sessionState.newHadoopConf()
      val fs0 = new org.apache.hadoop.fs.Path(path).getFileSystem(conf0)
      val unmarked = batchIds.filter(b => b >= STREAM_BATCH_BASE &&
        !fs0.exists(new org.apache.hadoop.fs.Path(s"$path/_stream/b$b")))
        .toSet
      val nFoldable = batchIds.length - unmarked.size
      // tombstones snapshot UNDER the lease: files arriving after this are
      // left for the next compaction, never half-consumed. When unmarked
      // batches exist, tombstones stay PENDING too (their dead ids may live
      // in a batch we are not allowed to rewrite) — read-time masking keeps
      // covering them, and the next clean compaction folds + consumes.
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
        // last-moment lease re-check: if another writer stole our lease as
        // stale mid-fold, abort HERE — before the generation swap — so we
        // can never install over (or under) its work
        verify()
        require(fs.rename(tmp, new org.apache.hadoop.fs.Path(vdir, vName)),
          s"failed to install generation $vName")
        // prune everything except the new generation, the grace-window
        // predecessor (root), and any BASE generation either of them
        // references through tiermeta — deleting a referenced base would
        // break the generation that points at it
        val keep = Set(s"$path/versions/$vName", root) ++ alsoKeep ++
          tierBase(spark, root) ++
          tierBase(spark, s"$path/versions/$vName")
        DiskannIndex.listVersions(spark, path)
          .map(v => s"$path/versions/$v")
          .filterNot(keep)
          .foreach(g => fs.delete(new org.apache.hadoop.fs.Path(g), true))
        if (!keep(path)) {
          Seq("postings", "termstats", "corpusstats").foreach { d =>
            val flat = new org.apache.hadoop.fs.Path(s"$path/$d")
            if (fs.exists(flat) && root != path) fs.delete(flat, true)
          }
        }
      }

      // ---- TIER FOLD: collapse local append batches, reference the base.
      // Pending tombstones force the full fold below (VACUUM must rewrite
      // the base to physically drop dead rows). Structured as an expression
      // (no non-local returns): a `return` from this lambda rides on
      // NonLocalReturnControl, which any future catch-Throwable inside the
      // lease plumbing would swallow and corrupt the Boolean result.
      if (tiered && dead.isEmpty &&
          DiskannIndex.tombstoneFiles(spark, path).isEmpty) {
        val base = tierBase(spark, root).getOrElse(root)
        val localBatches = spark.read.parquet(s"$root/corpusstats")
          .select(col("batch").cast(LongType)).collect().map(_.getLong(0))
        val foldable = localBatches.filterNot(unmarked)
          .filterNot(b => tierBase(spark, root).isEmpty && b == 0L)
        if (foldable.length < 2) false
        else {
        val nB = readMeta(spark, path).nBuckets
        def isFoldable(c: org.apache.spark.sql.Column) =
          c.cast(LongType).isin(foldable.toSeq.map(Long.box): _*)
        installGen(tmp => {
          val localPost = spark.read.parquet(s"$root/postings")
          localPost.filter(isFoldable(col("batch")))
            .drop("batch", "tb")
            .withColumn("batch", lit(1L))
            .withColumn("tb", termBucket(col("term"), nB))
            .repartitionByRange(col("tb"), col("term"))
            .write.mode(SaveMode.Overwrite).partitionBy("batch", "tb")
            .parquet(s"$tmp/postings")
          if (unmarked.nonEmpty)
            localPost.filter(isUnmarked(col("batch")))
              .write.mode(SaveMode.Append).partitionBy("batch", "tb")
              .parquet(s"$tmp/postings")
          spark.read.parquet(s"$tmp/postings")
            .filter(col("batch") === 1L)
            .groupBy(col("term")).agg(count(lit(1)).as("df"))
            .withColumn("batch", lit(1L))
            .withColumn("tb", termBucket(col("term"), nB))
            .repartitionByRange(col("tb"), col("term"))
            .write.mode(SaveMode.Overwrite).partitionBy("batch", "tb")
            .parquet(s"$tmp/termstats")
          val localTs = spark.read.parquet(s"$root/termstats")
          if (unmarked.nonEmpty)
            localTs.filter(isUnmarked(col("batch")))
              .write.mode(SaveMode.Append).partitionBy("batch", "tb")
              .parquet(s"$tmp/termstats")
          val localCs = spark.read.parquet(s"$root/corpusstats")
          localCs.filter(isFoldable(col("batch")))
            .agg(sum(col("n")).as("n"), sum(col("sumdl")).as("sumdl"))
            .withColumn("batch", lit(1L))
            .write.mode(SaveMode.Overwrite).partitionBy("batch")
            .parquet(s"$tmp/corpusstats")
          if (unmarked.nonEmpty)
            localCs.filter(isUnmarked(col("batch")))
              .write.mode(SaveMode.Append).partitionBy("batch")
              .parquet(s"$tmp/corpusstats")
          // the base reference, relative to the index path (relocatable)
          graft.index.TierManifest.writeTiermeta(spark, tmp.toString, root,
            base)
        }, alsoKeep = Set(base))
        true
        }
      }
      else if (nFoldable <= 1L && dead.isEmpty && tierBase(spark, root).isEmpty)
        false
      else {
        // the bucket count is a build-time constant recorded in idxmeta —
        // re-deriving tb from the term through the SAME definition (rather
        // than trusting directory names) keeps one route definition
        val nB = readMeta(spark, path).nBuckets
        installGen(tmp => {
          val allPostings = tableDfAt(spark, root, "postings")
          // fold out ONLY the snapshotted-and-consumed tombstones (`dead`),
          // never the live registry: when unmarked stream batches force the
          // registry to stay PENDING, a registry-driven mask here would
          // physically drop the rows while deadPresent (keyed on `dead`)
          // subtracts nothing — corpusstats would over-count those docs
          // forever once the next clean fold consumes the registry against
          // already-missing postings
          val foldSrc = allPostings.filter(!isUnmarked(col("batch")))
          val live =
            if (dead.isEmpty) foldSrc
            else {
              import spark.implicits._
              foldSrc.join(broadcast(dead.toSeq.toDF("__dead_id")),
                foldSrc("id") === col("__dead_id"), "left_anti")
            }
          live
            .drop("batch", "tb")
            .withColumn("batch", lit(0L))
            .withColumn("tb", termBucket(col("term"), nB))
            .repartitionByRange(col("tb"), col("term"))
            .write.mode(SaveMode.Overwrite).partitionBy("batch", "tb")
            .parquet(s"$tmp/postings")
          // unmarked stream batches ride along VERBATIM (raw, unmasked —
          // the pending tombstones keep masking them at read time, and the
          // replay must find byte-equivalent state to delete-and-rewrite)
          if (unmarked.nonEmpty)
            allPostings.filter(isUnmarked(col("batch")))
              .write.mode(SaveMode.Append).partitionBy("batch", "tb")
              .parquet(s"$tmp/postings")
          // df recomputed from the FOLDED postings just installed (batch-0
          // pruned read of the artifact itself) — dead docs fall out
          spark.read.parquet(s"$tmp/postings")
            .filter(col("batch") === 0L)
            .groupBy(col("term")).agg(count(lit(1)).as("df"))
            .withColumn("batch", lit(0L))
            .withColumn("tb", termBucket(col("term"), nB))
            .repartitionByRange(col("tb"), col("term"))
            .write.mode(SaveMode.Overwrite).partitionBy("batch", "tb")
            .parquet(s"$tmp/termstats")
          if (unmarked.nonEmpty)
            tableDfAt(spark, root, "termstats")
              .filter(isUnmarked(col("batch")))
              .write.mode(SaveMode.Append).partitionBy("batch", "tb")
              .parquet(s"$tmp/termstats")
          // corpus totals: old SUM minus the folded docs' own (count, Σdl)
          // — derived from the pre-fold postings (one row per dead doc via
          // distinct (id, dl); dl is constant per doc by construction)
          val deadPresent =
            if (dead.isEmpty) (0L, 0L)
            else {
              import spark.implicits._
              // unmarked batches are excluded: their rows are carried
              // verbatim, so their corpusstats rows must stay exact too
              val r = allPostings.filter(!isUnmarked(col("batch")))
                .select(col("id"), col("dl"))
                .join(broadcast(dead.toSeq.toDF("__dead_id")),
                  col("id") === col("__dead_id"))
                .select(col("id"), col("dl")).distinct()
                .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head()
              (r.getLong(0), r.getLong(1))
            }
          val allCs = tableDfAt(spark, root, "corpusstats")
          allCs.filter(!isUnmarked(col("batch")))
            .agg((sum(col("n")) - lit(deadPresent._1)).as("n"),
              (sum(col("sumdl")) - lit(deadPresent._2)).as("sumdl"))
            .withColumn("batch", lit(0L))
            .write.mode(SaveMode.Overwrite).partitionBy("batch")
            .parquet(s"$tmp/corpusstats")
          if (unmarked.nonEmpty)
            allCs.filter(isUnmarked(col("batch")))
              .write.mode(SaveMode.Append).partitionBy("batch")
              .parquet(s"$tmp/corpusstats")
        }, alsoKeep = Set.empty)
        // the snapshotted tombstones are folded into this generation —
        // consume them (files that arrived mid-fold stay pending)
        consumedTombs.foreach(s => fs.delete(s.getPath, false))
        true
      }
    }

  /** DESCRIBE-style stats: one (property, value) row each for docs,
    * total tokens, vocabulary size, posting rows, batches, buckets,
    * positions flag, pending tombstones, and the current generation root.
    * Costs one pruned scan of each stats table plus a postings count. */
  def textIndexStats(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val root = resolveRoot(spark, path)
    val meta = readMeta(spark, path)
    val cs = tableDfAt(spark, root, "corpusstats")
      .agg(sum(col("n")), sum(col("sumdl")), count(lit(1))).head()
    val vocab = tableDfAt(spark, root, "termstats")
      .select(col("term")).distinct().count()
    val postings = tableDfAt(spark, root, "postings").count()
    val pendingDeletes = DiskannIndex.loadTombstones(spark, path).size
    Seq(
      "generation_root" -> root,
      "num_docs" -> cs.getLong(0).toString,
      "num_tokens" -> cs.getLong(1).toString,
      "vocabulary_size" -> vocab.toString,
      "posting_rows" -> postings.toString,
      "num_batches" -> cs.getLong(2).toString,
      "num_buckets" -> meta.nBuckets.toString,
      "positions" -> meta.positions.toString,
      "pending_tombstones" -> pendingDeletes.toString
    ).toDF("property", "value")
  }

  /**
   * Replay-safe foreachBatch sink: appends a micro-batch as physical batch
   * `STREAM_BATCH_BASE + streamBatchId`. foreachBatch is at-least-once, so
   * a marker commits AFTER the append; on replay, a marked batch is
   * skipped and an UNMARKED partial (crash between append and marker) is
   * deleted and rewritten — the same idempotence discipline as the ANN
   * monitors' batchId guard. Manual [[appendTextIndex]] ids must stay
   * below the base.
   *
   * Markers live at the INDEX path (`$path/_stream/b<id>`), NOT the
   * generation root: a compaction that installs a new generation between a
   * completed append and the checkpoint commit must not orphan the marker
   * (a replay finding no marker would re-append the batch, duplicating doc
   * ids and corrupting the summed stats). The whole check-append-mark
   * sequence runs under the writer lease, so a compaction can never fold a
   * committed-but-unmarked batch out from under the replay protocol.
   * Markers are tiny and survive compactions by design; they can be
   * cleared whenever the streaming checkpoint they protect is.
   */
  val STREAM_BATCH_BASE: Long = 1L << 20

  def appendBatchIdempotent(idCol: String, textCol: String, path: String,
      nBuckets: Int = 0)(batch: DataFrame, streamBatchId: Long): Unit = {
    val spark = batch.sparkSession
    val phys = STREAM_BATCH_BASE + streamBatchId
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    val marker = new org.apache.hadoop.fs.Path(s"$path/_stream/b$phys")
    if (fs.exists(marker)) return // fully committed on a previous attempt
    WriterLock.withLeaseVerified(spark, path) { verify =>
      // re-check under the lease (another writer may have committed it).
      // Torn previous attempts need no scrub here: appendLocked is
      // replace-by-batch-id and deletes this batch's partition dirs itself.
      if (!fs.exists(marker)) {
        appendLocked(batch, idCol, textCol, path, phys, nBuckets)
        // re-verify before the marker commit: if our lease was stolen as
        // stale mid-append, a compaction may be folding the generation we
        // just wrote into — fail the micro-batch so the checkpoint replays
        // it (the unmarked-batch carry-through in compactTextIndex keeps
        // the replay's delete-and-rewrite sound either way)
        verify()
        fs.mkdirs(marker.getParent)
        fs.create(marker, true).close()
      }
    }
  }

  /** Start a streaming query feeding `stream` (idCol, textCol columns)
    * into the index — the text twin of
    * [[graft.streaming.StreamingIngest.startDeltaIngest]].
    *
    * `autoCompact = true` is the autovacuum analog: after each committed
    * micro-batch, if the generation's LOCAL batch count exceeds
    * `graft.compact.textMaxBatches` (default 64), run a TIERED fold —
    * O(appended data), the base is referenced, so ingest latency stays
    * bounded by the tier size, never the corpus. Runs inside the batch
    * callback: one writer by construction, nothing to race. */
  def startTextIngest(stream: DataFrame, idCol: String, textCol: String,
      path: String, checkpoint: String, nBuckets: Int = 0,
      autoCompact: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatchIdempotent(idCol, textCol, path, nBuckets)(batch, batchId)
        if (autoCompact) {
          val spark = batch.sparkSession
          val maxB =
            spark.conf.get("graft.compact.textMaxBatches", "64").toInt
          if (localBatchCount(spark, path) > maxB) {
            compactTextIndex(spark, path, tiered = true); ()
          }
        }
      }
      .start()

  /** Batch count local to the ACTIVE generation (the tiered-fold trigger
    * input) — shared by [[startTextIngest]] and
    * [[graft.streaming.CrawlIngest]] so the autovacuum gates cannot
    * drift apart. */
  def localBatchCount(spark: SparkSession, path: String): Long =
    spark.read.parquet(s"${resolveRoot(spark, path)}/corpusstats").count()
}
