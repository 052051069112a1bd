package graft.index

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import graft.functions.{Sbq, VectorKernels}
import graft.functions.Sbq.SbqModel
import graft.FingerprintMemo

/** Build/search parameters (defaults = reference defaults, BASELINE.md). */
case class DiskannParams(
    metric: String = "cosine",
    numNeighbors: Int = 50, // R
    searchListSize: Int = 100, // L (build)
    maxAlpha: Double = 1.2,
    bitsPerDim: Option[Int] = None,
    storage: String = "sbq", // "sbq" | "plain"
    /** Matryoshka truncation (SURVEY.md §4.1): build the graph + codes on a
      * prefix slice of the vector; rescoring always uses full vectors. */
    numDimsToIndex: Option[Int] = None,
    /** target rows per shard; shard graphs must fit executor heap. At 100 TB
      * this yields thousands of independent shards built in parallel. */
    shardTargetRows: Long = 1L << 20,
    /** "hash": shards are random; every query searches every shard (recall ==
      * single-graph recall, cost O(numShards) per query). "ivf": shard =
      * nearest of numShards k-means centroids; queries may then probe only
      * the `nProbe` nearest shards — the scale path that keeps per-query cost
      * O(nProbe) when numShards is in the thousands. */
    partitioner: String = "hash",
    /** When set (with partitioner="ivf"), centroids are md5-rank-picked rows
      * ([[graft.operators.Similarity.trainIvfDeterministic]]) instead of
      * k-means: weaker coarse quantization, but the shard assignment and
      * probe choice become exactly recomputable by an external SQL engine,
      * so even PRUNED (approximate) routed results can be hash-verified. */
    ivfSeed: Option[String] = None)

/**
 * Sharded StreamingDiskANN-style index as Spark jobs (SURVEY.md §3.1 build
 * plan, §2.5 G8 replacement).
 *
 * Build dataflow: job 1 trains the SBQ quantizer (one-pass distributed
 * Welford); job 2 hash-shards rows by id and builds an independent Vamana
 * sub-graph per shard inside `mapPartitions` (no shared state — the
 * DSM/condvar coordination of the reference's parallel build is replaced by
 * Spark partitioning); the nodes table is written as Parquet partitioned by
 * shard, plus a 1-row `_meta` Parquet sidecar (replaces the versioned meta
 * page, meta_page.rs:179-210).
 *
 * Serving: each shard is searched independently (quantized traversal + exact
 * rescore) and per-shard top-k results are merged by one bounded top-k merge
 * — the classic partial/final top-k. Every search entry point runs on the
 * one search core below. Searching all shards and unioning is an
 * over-approximation of single-graph search, so recall is ≥ the per-shard
 * recall.
 */
object DiskannIndex {

  private val nodeSchema = StructType(Seq(
    StructField("shard", IntegerType, nullable = false),
    StructField("node", IntegerType, nullable = false),
    StructField("row_id", LongType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("code", ArrayType(LongType, containsNull = false), nullable = true),
    StructField("labels", ArrayType(ShortType, containsNull = false), nullable = true),
    StructField("neighbors", ArrayType(IntegerType, containsNull = false), nullable = false)))

  /** Build-time option validation — parity with the reference's hard errors
    * (build.rs:264-292, meta_page.rs:325-337): an invalid configuration must
    * fail the build up front, never silently produce a different-quality
    * index. */
  private[graft] def validateBuildOptions(params: DiskannParams, metric: Metric,
      hasLabels: Boolean, dimsToIndex: Int): Unit = {
    require(params.storage == "sbq" || params.storage == "plain",
      s"unknown storage type '${params.storage}' (expected sbq | plain)")
    if (metric == Metric.InnerProduct && params.storage == "plain")
      throw new IllegalArgumentException( // build.rs:264-266
        "Inner product distance type is not supported with plain storage")
    if (hasLabels && params.storage == "plain")
      throw new IllegalArgumentException( // build.rs:285-287
        "Labeled filtering is not supported with plain storage")
    if (dimsToIndex <= 0) // build.rs:272-274 (covers the empty-input build)
      throw new IllegalArgumentException("No dimensions to index")
    if (dimsToIndex > graft.sources.EmbeddingSources.MaxDims)
      throw new IllegalArgumentException( // build.rs:276-278
        s"Too many dimensions to index (max is ${graft.sources.EmbeddingSources.MaxDims})")
    if (params.storage == "plain" &&
        dimsToIndex > graft.sources.EmbeddingSources.MaxDimsPlain)
      throw new IllegalArgumentException( // build.rs:280-284
        "Too many dimensions to index with plain storage (max is " +
          s"${graft.sources.EmbeddingSources.MaxDimsPlain}); use storage=sbq instead")
    params.bitsPerDim.foreach { b =>
      require(b == 1 || b == 2, s"bitsPerDim must be 1 or 2, got $b")
      if (b > 1 && dimsToIndex > 930)
        throw new IllegalArgumentException( // meta_page.rs:325-328
          "SBQ with more than 1 bit per dimension is not supported for more than 930 dimensions")
      if (b > 1 && params.storage != "sbq")
        throw new IllegalArgumentException( // meta_page.rs:329-334
          "SBQ with more than 1 bit per dimension requires sbq storage")
    }
  }

  /** Build phases, mirroring `ambuildphasename` (build.rs:1154-1167). Each
    * Spark job launched by [[build]] runs inside a job group named
    * `"<PhasePrefix><phase> [<path>]"`, so progress is observable from any
    * SparkListener / the Spark UI — the AM progress-reporting analog (G10). */
  val PhasePrefix = "graft diskann build: "
  val PhaseTraining = "training quantizer"
  val PhaseBuilding = "building graph"
  val PhaseFinalizing = "finalizing graph"

  private def inPhase[T](spark: SparkSession, phase: String, path: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"$PhasePrefix$phase", s"$PhasePrefix$phase [$path]",
      interruptOnCancel = false)
    try f finally sc.clearJobGroup()
  }

  def build(df: DataFrame, idCol: String, vecCol: String, labelsCol: Option[String],
      path: String, params: DiskannParams = DiskannParams()): Unit =
    // the whole build holds the path's writer lease: an in-place rebuild
    // racing a concurrent append/compact on the same artifact would
    // otherwise interleave the scrub below with their generation installs
    // (build from compact targets a fresh tmp dir — its lease is trivially
    // uncontended, no deadlock with the compact's own lock)
    try WriterLock.withLease(spark = df.sparkSession, path = path) {
      buildLeased(df, idCol, vecCol, labelsCol, path, params)
    } catch {
      case e: Throwable =>
        // a rejected/failed FIRST build must not leave an empty artifact
        // dir behind (the lease file's parent-mkdir creates it) — "nothing
        // was written" stays literally true for validation rejections
        try {
          val p = new org.apache.hadoop.fs.Path(path)
          val fs = p.getFileSystem(
            df.sparkSession.sessionState.newHadoopConf())
          if (fs.exists(p) && fs.listStatus(p).isEmpty) fs.delete(p, false)
        } catch { case _: Throwable => () }
        throw e
    }

  private def buildLeased(df: DataFrame, idCol: String, vecCol: String,
      labelsCol: Option[String], path: String, params: DiskannParams): Unit = {
    val spark = df.sparkSession
    val metric = Metric(params.metric)

    // NULL vectors are never indexed (build.rs:493-498)
    val base0 = df.select(
      col(idCol).cast(LongType).as("row_id"),
      col(vecCol).as("vec"),
      labelsCol.map(c => col(c).cast(ArrayType(ShortType)))
        .getOrElse(lit(null).cast(ArrayType(ShortType))).as("labels"))
      .filter(col("vec").isNotNull)

    // validate options against the indexed width: the declared Matryoshka
    // slice, or (one cheap limit-1 job) the width of the first stored vector
    val checkedDims = params.numDimsToIndex.getOrElse(
      inPhase(spark, PhaseTraining, path) {
        base0.select(size(col("vec")).as("d")).head(1).headOption
          .map(_.getInt(0)).getOrElse(0)
      })
    validateBuildOptions(params, metric, labelsCol.isDefined, checkedDims)

    // a rebuild REPLACES the artifact (the TextIndex/Dedup builder rule):
    // stale `versions/` generations WIN root resolution over the flat
    // nodes/_meta this build writes, so leaving them would serve the OLD
    // index after a "successful" rebuild; stale tombstones/delta from the
    // previous life must not leak into the new one either. Compaction is
    // unaffected — it builds into a fresh tmp dir that has none of these.
    //
    // The scrub ORDER is the crash contract: an in-place rebuild is
    // deliberately NOT atomic (CREATE INDEX semantics — a failed CREATE
    // leaves no index; atomic replacement is what REINDEX/compact's
    // tmp+install path is for), so a mid-rebuild crash must fail LOUD, not
    // serve stale state. Deleting versions/ and then the flat `_meta`
    // FIRST makes every reader's loadMeta throw until the new `_meta`
    // lands at the very end of the build — the failure mode is "no index
    // here", never "old index serving without its tombstones" (silent
    // resurrection of deleted rows). The scrub itself runs only when any
    // of the stale state exists, so plain first builds skip the extra IO.
    {
      val p0 = new org.apache.hadoop.fs.Path(path)
      val fs0 = p0.getFileSystem(spark.sessionState.newHadoopConf())
      val stale = Seq("versions", "tombstones", "delta", "_meta", "labelstats")
        .map(d => new org.apache.hadoop.fs.Path(s"$path/$d"))
        .filter(fs0.exists)
      stale.foreach(d => fs0.delete(d, true))
      // version numbering restarts; cached per-root state (tier manifests,
      // label counts) keyed on recreated root strings must not survive
      TierManifest.invalidateUnder(path)
      labelCountsMemo.invalidate(path)
    }

    // cosine: the graph/quantizer operate on normalized vectors
    // (preprocess_cosine, pg_vector.rs:153-155) but the nodes table stores
    // the RAW vectors — rescoring and SQL-visible distances are computed on
    // the original data, exactly like the reference's heap fetch (S5).
    graft.functions.VectorFunctions.register(spark)
    val dimsToIndex = params.numDimsToIndex.getOrElse(0) // 0 = full width
    val slicedBase = if (dimsToIndex > 0)
      base0.withColumn("vec", slice(col("vec"), 1, dimsToIndex))
    else base0
    val trainBase = if (metric == Metric.Cosine)
      slicedBase.withColumn("vec", graft.functions.VectorFunctions.vec_normalize(col("vec")))
    else slicedBase
    val base = base0

    val useSbq = params.storage == "sbq"
    val model: SbqModel = if (useSbq)
      inPhase(spark, PhaseTraining, path) { Sbq.train(trainBase, "vec", params.bitsPerDim) }
    else null
    val modelBc = spark.sparkContext.broadcast(model)

    val n = model match {
      case null => inPhase(spark, PhaseTraining, path) { base.count() }
      case m => m.count
    }
    val numShards = math.max(1, math.ceil(n.toDouble / params.shardTargetRows).toInt)
    val hasLabels = labelsCol.isDefined
    val r = params.numNeighbors
    val l = params.searchListSize
    val alpha = params.maxAlpha

    def toBuildSpace(v: Array[Float]): Array[Float] =
      BuildSpace(v, dimsToIndex, metric)

    val ivfModel: graft.operators.Similarity.IvfModel =
      if (params.partitioner == "ivf") inPhase(spark, PhaseTraining, path) {
        params.ivfSeed match {
          case Some(seed) => graft.operators.Similarity.trainIvfDeterministic(
            trainBase, "row_id", "vec", numShards, seed)
          case None => graft.operators.Similarity.trainIvf(trainBase, "vec",
            numShards, sampleSize = math.min(numShards * 256, 1 << 16))
        }
      }
      else null
    val sharded = if (ivfModel != null) {
      val mBc = spark.sparkContext.broadcast(ivfModel)
      val assign = udf((v: mutable.Seq[Float]) =>
        mBc.value.nearest(toBuildSpace(v.toArray), 1)(0))
      base.withColumn("shard", assign(col("vec"))).repartition(numShards, col("shard"))
    } else base
      .withColumn("shard", pmod(xxhash64(col("row_id")), lit(numShards)).cast(IntegerType))
      .repartition(numShards, col("shard"))

    val nodes = buildShardNodes(sharded, metric, modelBc, hasLabels,
      dimsToIndex, r, l, alpha)

    inPhase(spark, PhaseBuilding, path) {
      nodes.write.mode("overwrite").partitionBy("shard").parquet(s"$path/nodes")
    }

    // per-label node counts (the reference's contsel selectivity input,
    // mod.rs:243-256): one tiny (label, cnt) parquet per generation. Readers
    // treat it as OPTIONAL (older generations lack it), so this is an
    // additive layout change — the residual over-fetch loop uses it to
    // bound a labeled query's reachable population. Counted from the nodes
    // table JUST WRITTEN (a labels-column-pruned scan of local parquet),
    // never by re-evaluating `base` — the caller's lineage can be an
    // arbitrary corpus-sized pipeline (compact passes a join+union over
    // everything), and re-running it for a count would double build IO.
    // explicit schema on every read of the just-written nodes dir: a full
    // rebuild to ZERO rows (vacuum-everything REINDEX) writes no part
    // files, and schema inference would abort the build here — leaving the
    // index permanently un-vacuumable
    if (hasLabels)
      spark.read.schema(nodeSchema).parquet(s"$path/nodes")
        .select(explode(col("labels")).as("label"))
        .groupBy(col("label")).agg(count(lit(1)).as("cnt"))
        .coalesce(1).write.mode("overwrite").parquet(s"$path/labelstats")

    // per-shard cluster radii (IVF only): max build-space Euclidean distance
    // from a member to its centroid, from ONE column-pruned pass over the
    // nodes table just written — the sound input to radius shard pruning
    // ([[radiusShardsFor]]). Hash shards are random, their "radius" covers
    // the space, so nothing is stored (empty = pruning off).
    val shardRadii: Array[Double] =
      if (ivfModel == null) Array.emptyDoubleArray
      else {
        val cBc = spark.sparkContext.broadcast(ivfModel.centroids)
        val radiiMap = spark.read.schema(nodeSchema).parquet(s"$path/nodes")
          .select(col("shard"), col("vec")).rdd.map { row =>
            val s = row.getInt(0)
            val bv = toBuildSpace(row.getAs[mutable.Seq[Float]](1).toArray)
            (s, math.sqrt(VectorKernels.l2sq(bv, cBc.value(s))))
          }.reduceByKey(math.max).collectAsMap()
        Array.tabulate(numShards)(s => radiiMap.getOrElse(s, 0.0))
      }

    // per-shard exact row counts (round 11): one tiny column-pruned
    // aggregate over the nodes table just written — makes shard emptiness
    // decidable from the meta alone (see IndexMeta.shardRows)
    val shardRowCounts: Array[Long] = {
      val m = spark.read.schema(nodeSchema).parquet(s"$path/nodes")
        .groupBy(col("shard")).agg(count(lit(1)).as("c")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      Array.tabulate(numShards)(s => m.getOrElse(s, 0L))
    }

    // meta sidecar as a 1-row parquet (no JSON dependency, schema-checked).
    // buildId is a fresh epoch per (re)build and shardBuildIds one epoch PER
    // SHARD: executor caches key on (index path, shard, shard epoch), so a
    // rebuild naturally misses every executor's cache for the rebuilt
    // shards — and incremental compaction, which copies untouched shards
    // verbatim, KEEPS their epochs, so their warm decoded graphs survive
    // the generation change (no driver-to-executor invalidation broadcast;
    // the analog of the reference bumping the meta page version).
    import spark.implicits._
    val genId = java.util.UUID.randomUUID().toString
    inPhase(spark, PhaseFinalizing, path) {
      Seq(IndexMeta(params.metric, params.storage, r, l, alpha, numShards, n,
        hasLabels,
        if (model != null) model.bitsPerDim else 0,
        if (model != null) model.count else 0L,
        if (model != null) model.mean else Array.emptyDoubleArray,
        if (model != null) model.m2 else Array.emptyDoubleArray, dimsToIndex,
        params.partitioner,
        if (ivfModel != null) ivfModel.centroids else Array.empty[Array[Float]],
        params.shardTargetRows, genId,
        Array.fill(numShards)(genId), Array.fill(numShards)(""), shardRadii,
        shardRowCounts, n))
        .toDF().coalesce(1).write.mode("overwrite").parquet(s"$path/_meta")
    }
    GraphSearcher.invalidate(path)
  }

  /** Per-shard Vamana graph build over a (row_id, vec, labels, shard)
    * DataFrame already repartitioned by shard — the compute kernel shared by
    * [[build]] and the incremental compaction's partial rebuild
    * ([[rebuildShardsInto]]). A task may receive >1 shard (hash collisions
    * across shard keys); shards group locally and build independently. */
  private def buildShardNodes(sharded: DataFrame, metric: Metric,
      modelBc: org.apache.spark.broadcast.Broadcast[SbqModel],
      hasLabels: Boolean, dimsToIndex: Int,
      r: Int, l: Int, alpha: Double): DataFrame =
    sharded.mapPartitions { it =>
      val byShard = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Array[Float], Array[Short])]]
      it.foreach { row =>
        val shard = row.getAs[Int]("shard")
        val vec = row.getAs[mutable.Seq[Float]]("vec").toArray
        val lbs = row.getAs[mutable.Seq[Short]]("labels") match {
          case null => null
          case s => LabelSets.normalize(s.toArray)
        }
        byShard.getOrElseUpdate(shard, new mutable.ArrayBuffer) +=
          ((row.getAs[Long]("row_id"), vec, lbs))
      }
      val m = modelBc.value
      byShard.iterator.flatMap { case (shard, rowsBuf) =>
        // deterministic insert order: ascending row_id (start-node election
        // and tie-breaks reproducible across runs — SURVEY.md §7.3)
        val rows = rowsBuf.sortInPlaceBy(_._1)
        val vecs = rows.map(_._2).toArray
        val sliced = if (dimsToIndex > 0) vecs.map(_.take(dimsToIndex)) else vecs
        val buildVecs =
          if (metric == Metric.Cosine) sliced.map(graft.functions.VectorKernels.normalize)
          else sliced
        val lbs = if (hasLabels) rows.map(t => Option(t._3).getOrElse(Array.emptyShortArray)).toArray else null
        // SBQ build runs in Hamming space over the codes (D8/D9 parity): the
        // graph must be navigable under the metric the serving traversal
        // actually uses, not the full-precision one.
        val shardCodes = if (m != null) buildVecs.map(m.quantize) else null
        val builder = new VamanaBuilder(buildVecs, lbs, metric, r, l, alpha,
          shardCodes).build()
        rows.indices.iterator.map { i =>
          Row(shard, i, rows(i)._1, vecs(i),
            if (shardCodes != null) shardCodes(i) else null,
            if (lbs != null) lbs(i) else null,
            builder.neighborsOf(i))
        }
      }
    }(org.apache.spark.sql.Encoders.row(nodeSchema))

  case class IndexMeta(metric: String, storage: String, numNeighbors: Int,
      searchListSize: Int, maxAlpha: Double, numShards: Int, numRows: Long,
      hasLabels: Boolean, bitsPerDim: Int, modelCount: Long,
      modelMean: Array[Double], modelM2: Array[Double], dimsToIndex: Int,
      partitioner: String, centroids: Array[Array[Float]],
      shardTargetRows: Long, buildId: String,
      /** per-shard cache epoch: fresh UUID when a shard's graph is
        * (re)built, PRESERVED when incremental compaction carries the shard
        * forward unchanged — executor caches stay warm across generations
        * for untouched shards */
      shardBuildIds: Array[String],
      /** per-shard data MANIFEST (the Iceberg-style metadata-only commit):
        * where shard s's parquet files physically live. "" = this
        * generation's own `nodes/shard=s`; "." = the flat (pre-versioning)
        * index root; "versions/v%09d" = the generation that last REBUILT the
        * shard, relative to the index path. Incremental compaction installs
        * a new generation by writing only the rebuilt shards and pointing
        * the rest here — no copy of the untouched 100 TB ever happens. */
      shardDirs: Array[String],
      /** per-shard cluster radius (IVF only; empty = unknown): max EUCLIDEAN
        * distance in BUILD SPACE from a member to its centroid. Upper bound
        * maintained across compactions (delta grows it, tombstones only
        * tighten the true value), which makes [[radiusShardsFor]]'s triangle
        * inequality SOUND: a shard with d(q, c_s) - radius_s > r cannot hold
        * any row within r of q. */
      shardRadii: Array[Double] = Array.emptyDoubleArray,
      /** per-shard EXACT row count (round 11; empty = unknown, pre-round-11
        * generations). Makes shard emptiness decidable from the meta alone
        * — a tombstone wipe can rebuild a shard to zero rows, whose missing
        * partition dir is otherwise indistinguishable from a GC'd one
        * (deciding "empty" from the filesystem under a racing GC can
        * silently truncate results). Maintained exactly across incremental
        * compactions from the fold arithmetic; unknown (legacy) metas are
        * backfilled at their first incremental compact. */
      shardRows: Array[Long] = Array.emptyLongArray,
      /** row count at the last FULL build (round 12; 0 = unknown, pre-
        * round-12 generations). A full build trains the SBQ quantizer and
        * elects the IVF centroids from exactly these rows; incremental
        * folds grow numRows but carry this (and the frozen models)
        * unchanged — so `(numRows - fullBuildRows) / fullBuildRows` is the
        * model-staleness fraction [[graft.streaming.StreamingIngest
        * .maybeCompact]] uses to escalate a fold into an automatic REINDEX.
        * The reference never retrains (aminsert freezes the quantizer
        * forever, build.rs:464-535); at 100 TB streaming that is a
        * measured recall leak (StreamingSpec endurance gate), hence the
        * trigger. */
      fullBuildRows: Long = 0L) {
    /** The params this index was built with (minus the SBQ auto-default
      * already resolved into bitsPerDim) — compaction/rebuild starts here so
      * storage type, quantization width and graph shape survive. */
    def toParams: DiskannParams = DiskannParams(
      metric = metric,
      numNeighbors = numNeighbors,
      searchListSize = searchListSize,
      maxAlpha = maxAlpha,
      bitsPerDim = if (storage == "sbq" && bitsPerDim > 0) Some(bitsPerDim) else None,
      storage = storage,
      numDimsToIndex = if (dimsToIndex > 0) Some(dimsToIndex) else None,
      shardTargetRows = shardTargetRows,
      partitioner = partitioner)
  }

  /**
   * Resolve the ACTIVE root of an index. Fresh builds use the flat layout
   * (`path/nodes` + `path/_meta`); compaction installs rebuilt generations as
   * `path/versions/v%09d` and the highest version wins. A version directory
   * only ever appears via one atomic `FileSystem.rename` of a fully-written
   * build (the object-store-safe replacement for the old local-only
   * backup-and-rename swap), so this listing can never observe a torn index,
   * and readers that resolved the previous version keep a complete directory
   * — compaction preserves one prior generation as a grace window.
   */
  def resolveRoot(spark: SparkSession, path: String): String = {
    val vdir = new org.apache.hadoop.fs.Path(path, "versions")
    val fs = vdir.getFileSystem(spark.sessionState.newHadoopConf())
    try {
      val vs = fs.listStatus(vdir).map(_.getPath.getName).filter(_.matches("v\\d{9}"))
      if (vs.isEmpty) path else s"$path/versions/${vs.max}"
    } catch { case _: java.io.FileNotFoundException => path }
  }

  /**
   * Installed generations of a versioned index, oldest first (empty for a
   * never-compacted flat index). Each entry is a full index root — pass
   * `s"$path/versions/$v"` to [[search]]/[[loadMeta]] to TIME-TRAVEL to
   * that generation: compaction keeps the superseded generation on disk as
   * the in-flight-reader grace window, so the previous snapshot stays
   * queryable until the next compaction prunes it.
   */
  def listVersions(spark: SparkSession, path: String): Seq[String] = {
    val vdir = new org.apache.hadoop.fs.Path(path, "versions")
    val fs = vdir.getFileSystem(spark.sessionState.newHadoopConf())
    try fs.listStatus(vdir).map(_.getPath.getName)
      .filter(_.matches("v\\d{9}")).sorted.toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  private val GenDirRe = "^(.*)/versions/v\\d{9}$".r

  /** The index path that owns generation root `genRoot` (identity for a
    * flat, never-compacted index). Manifest entries are relative to THIS, so
    * resolution works the same whether the caller passed the index path or
    * time-traveled directly to a `versions/v%09d` dir. */
  private[graft] def indexRootOf(genRoot: String): String = genRoot match {
    case GenDirRe(p) => p
    case _ => genRoot
  }

  /** `genRoot` as a manifest entry: "." for the flat index root, else the
    * "versions/v%09d" suffix. */
  private[graft] def relGenOf(genRoot: String): String = genRoot match {
    case GenDirRe(_) => genRoot.substring(indexRootOf(genRoot).length + 1)
    case _ => "."
  }

  /** Physical generation root holding shard `s`'s data per `meta`'s
    * manifest, for an index whose ACTIVE root is `root`. */
  private[graft] def shardGenRoot(root: String, meta: IndexMeta, s: Int): String =
    meta.shardDirs(s) match {
      case "" => root
      case "." => indexRootOf(root)
      case rel => s"${indexRootOf(root)}/$rel"
    }

  // the resolved per-generation nodes scan: reusing it reuses its file
  // index, so warm serves skip a full leaf-file listing per query (485 ms on
  // the 500-shard fixture). Fingerprint: the generation's buildId, minted
  // per (re)build — a same-second in-place rebuild still invalidates.
  private val nodesDfs =
    new FingerprintMemo[DataFrame]("DiskannIndex.nodesDfs", 64, FingerprintMemo.Session)
  private def nodesBaseDf(spark: SparkSession, base: String,
      genFp: String): DataFrame =
    nodesDfs.get(spark, s"$base/nodes", genFp)(
      spark.read.schema(nodeSchema).parquet(s"$base/nodes"))

  /**
   * Manifest-aware nodes scan: the rows of exactly `shards`, with the
   * `shard` partition column, wherever each shard's files physically live.
   * One pruned whole-dir scan per distinct REFERENCED generation (almost
   * always 1–2), unioned — never a file copy, and stale same-numbered shard
   * dirs in old generations (superseded by a later rebuild) are excluded by
   * the per-base pruning filter. Falls back to the plain single-dir read
   * when the manifest references nothing (fresh build / full rebuild).
   */
  private[graft] def nodesDf(spark: SparkSession, root: String,
      meta: IndexMeta, shards: Seq[Int]): DataFrame = {
    // empty shard list (e.g. an empty query batch routed nowhere): empty
    // result with the nodes schema — resolve through ALL shards so the
    // schema read works even when this generation's own nodes dir holds no
    // files (manifest-era generations materialize only rebuilt shards)
    if (shards.isEmpty)
      return nodesDf(spark, root, meta, 0 until meta.numShards)
        .filter(lit(false))
    val all = shards == (0 until meta.numShards)
    // EXPLICIT schema, not inference: a generation whose only affected
    // shard rebuilt to ZERO rows (a tombstone wipe of a whole shard) has a
    // nodes dir with no part files at all — inference throws
    // UNABLE_TO_INFER_SCHEMA and every read of the generation dies. With
    // the declared schema an empty dir is just an empty scan (and every
    // non-empty read skips the footer-sampling inference job too). The
    // `shard` field doubles as the partition-dir column; `code`/`labels`
    // are nullable, so files from generations that predate a column read
    // back as nulls.
    if (meta.shardDirs.forall(_.isEmpty)) {
      val df = nodesBaseDf(spark, root, meta.buildId)
      if (all) df
      else df.filter(col("shard").isin(shards.map(Integer.valueOf): _*))
    } else {
      shards.groupBy(s => shardGenRoot(root, meta, s)).toSeq.sortBy(_._1)
        .map { case (base, ss) =>
          // a referenced base generation's nodes are identified by ITS OWN
          // buildId (loadMetaAt is memoized on the _meta listing, so this
          // is one cheap LIST, not a Spark job) — meta.buildId would be the
          // CURRENT generation's id and miss an in-place rewrite of the base
          val baseFp =
            if (base == root) meta.buildId
            else loadMetaAt(spark, base).buildId
          nodesBaseDf(spark, base, baseFp)
            .filter(col("shard").isin(ss.map(Integer.valueOf): _*))
        }
        .reduce(_ unionByName _)
    }
  }

  /**
   * Incremental compaction — the LSM-style answer to "aminsert updates the
   * live graph in place": every delta row routes to exactly one shard
   * (nearest frozen centroid for ivf, pmod(xxhash64(row_id)) for hash), so
   * only shards that RECEIVE delta rows or LOSE tombstoned rows get graph
   * work. Writes a complete new index root at `dstPath`:
   *
   *  - DELTA-ONLY shards take the LIVE-INSERT fold ([[insertFoldNodes]]):
   *    the frozen shard graph is seeded verbatim and only the appended rows
   *    are inserted (the reference's aminsert / Graph::insert,
   *    build.rs:464-557, per shard) — O(inserted · search) graph work,
   *    never O(shard);
   *  - shards losing TOMBSTONED rows rebuild from (surviving ∪ delta) rows
   *    (removal shifts node indices, invalidating stored edges) — always
   *    with the FROZEN quantizer and centroids from `meta`, since
   *    retraining would silently invalidate the codes and routing of every
   *    untouched shard;
   *  - every untouched shard is carried as a MANIFEST reference (shardDirs)
   *    with its cache epoch preserved — a metadata-only commit, no copy of
   *    the untouched corpus;
   *  - a fresh `_meta` (updated numRows, new buildId) finalizes the root.
   *
   * Growth gate: an affected shard growing past
   * `graft.compact.maxShardGrowth` (default 2.0) × shardTargetRows would
   * eventually OOM its in-heap build (frozen centroids mean a hot-spot
   * centroid's shard grows without bound across compactions). An IVF index
   * answers that with a HOT-SHARD SPLIT (round 11): the one overgrown
   * shard re-clusters its own members into ceil(total/target) fresh
   * sub-centroids and rebuilds as that many sub-shards — O(hot shard)
   * work, so a persistently skewed append stream keeps compaction
   * O(ingest window) forever instead of paying an O(corpus) re-shard at
   * every fold (`graft.compact.shardSplit=false` restores the refusal).
   * A HASH index returns None REFUSING the partial rebuild — hash routing
   * bakes numShards into every row's placement, so one shard cannot split;
   * the caller answers the refusal with the FULL rebuild, which re-shards
   * (and, for ivf, re-trains centroids).
   *
   * Returns (new row count, shard ids needing cache invalidation) on
   * success.
   */
  private[graft] def rebuildShardsInto(spark: SparkSession, srcRoot: String,
      meta: IndexMeta, delta: DataFrame, tombstones: Set[Long],
      dstPath: String): Option[(Long, Seq[Int])] = {
    import org.apache.spark.sql.functions.broadcast
    val metric = Metric(meta.metric)
    val model =
      if (meta.storage == "sbq")
        SbqModel(meta.modelCount, meta.modelMean, meta.modelM2, meta.bitsPerDim)
      else null
    val modelBc = spark.sparkContext.broadcast(model)
    val dimsToIndex = meta.dimsToIndex
    // delta rows route to exactly one shard by the SAME rule the build
    // used: nearest frozen centroid (ivf) or pmod(xxhash64(row_id)) (hash)
    val routeCol: org.apache.spark.sql.Column =
      if (meta.partitioner == "ivf") {
        val ivfBc = spark.sparkContext.broadcast(
          graft.operators.Similarity.IvfModel(meta.centroids))
        val assign = udf((v: mutable.Seq[Float]) =>
          ivfBc.value.nearest(BuildSpace(v.toArray, dimsToIndex, metric), 1)(0))
        assign(col("vec"))
      } else
        pmod(xxhash64(col("row_id")), lit(meta.numShards)).cast(IntegerType)
    val tombDf = spark.createDataset(tombstones.toSeq)(
      org.apache.spark.sql.Encoders.scalaLong).toDF("row_id")
    // tombstones apply to the DELTA too: a row appended and then deleted
    // before compaction must not be resurrected into the new generation
    // (parity with the full-rebuild path and searchWithDelta)
    val deltaAssigned0 = delta
      .filter(col("vec").isNotNull)
      .select(col("row_id").cast(LongType), col("vec"),
        col("labels").cast(ArrayType(ShortType)).as("labels"))
      // at-least-once ingest: a retried micro-batch appends the same row
      // twice — collapse by row_id before any counting or graph work
      // (shuffles only the small delta), or the duplicate bakes into the
      // graph and can occupy multiple top-k slots
      .dropDuplicates("row_id")
      .transform(d => if (tombstones.isEmpty) d
        else d.join(broadcast(tombDf), Seq("row_id"), "left_anti"))
      .withColumn("shard", routeCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val existing = nodesDf(spark, srcRoot, meta, 0 until meta.numShards)
      // crash-window re-fold defense: a predecessor that INSTALLED its
      // generation but crashed before deleting the consumed delta files
      // leaves rows in BOTH main and delta. Keep the MAIN copy — its shard
      // then needs no graph work at all — and drop the delta copy. The
      // probe is a column-pruned (row_id-only) scan of the nodes table
      // against the broadcast delta ids; localCheckpoint materializes the
      // (≤ delta-sized) hit list so downstream replays never re-scan.
      val dupIds = existing.select(col("row_id"))
        .join(broadcast(deltaAssigned0.select(col("row_id"))), Seq("row_id"))
        .localCheckpoint(true)
      val deltaAssigned =
        if (dupIds.isEmpty) deltaAssigned0
        else deltaAssigned0.join(broadcast(dupIds), Seq("row_id"), "left_anti")
      // ONE small aggregate per input computes everything the bookkeeping
      // needs: per-shard delta counts, per-shard tombstone hits, per-shard
      // existing sizes of the affected shards
      def countsByShard(df: DataFrame): Map[Int, Long] =
        df.groupBy(col("shard")).agg(count(lit(1)).as("c"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val deltaByShard = countsByShard(deltaAssigned)
      val tombByShard: Map[Int, Long] =
        if (tombstones.isEmpty) Map.empty
        else countsByShard(existing.join(broadcast(tombDf), Seq("row_id")))
      val affected = (deltaByShard.keySet ++ tombByShard.keySet).toSeq.sorted
      val deltaCount = deltaByShard.valuesIterator.sum
      val tombCount = tombByShard.valuesIterator.sum
      val newRows = meta.numRows - tombCount + deltaCount

      val fs = new org.apache.hadoop.fs.Path(dstPath)
        .getFileSystem(spark.sessionState.newHadoopConf())
      // HOT-SHARD SPLIT plan (IVF only): a frozen-centroid hot spot that
      // would overgrow a shard past the heap-sizing invariant no longer
      // forces the O(corpus) full rebuild — the one hot shard SPLITS into
      // ceil(total/target) sub-shards (local k-means over its own members),
      // keeping the compaction O(ingest window) even under a persistently
      // skewed append stream. Hash routing bakes numShards into every
      // row's placement, so a hash index cannot split one shard — there
      // the refusal (→ full re-shard) remains the only sound answer; hash
      // shards grow uniformly anyway, so an overgrown hash shard means the
      // WHOLE index outgrew its shard count.
      var splitPlan: Seq[(Int, Array[Int], Array[Array[Float]])] = Seq.empty
      var splitSubCounts: Map[Int, Long] = Map.empty
      var numShardsOut = meta.numShards
      if (affected.nonEmpty) {
        val oldByShard = countsByShard(
          existing.filter(col("shard").isin(affected.map(Integer.valueOf): _*)))
        // growth gate: refuse (or split, ivf) before any graph work if a
        // frozen-centroid hot spot would push a shard past the heap-sizing
        // invariant
        val growthCap = (spark.conf.get("graft.compact.maxShardGrowth", "2.0")
          .toDouble * meta.shardTargetRows).toLong
        def postFoldRows(s: Int): Long =
          oldByShard.getOrElse(s, 0L) - tombByShard.getOrElse(s, 0L) +
            deltaByShard.getOrElse(s, 0L)
        val oversized = affected.filter(s => postFoldRows(s) > growthCap)
        val splitOn = meta.partitioner == "ivf" && meta.centroids.nonEmpty &&
          spark.conf.get("graft.compact.shardSplit", "true").toBoolean
        if (oversized.nonEmpty && !splitOn) return None
        val oversizedSet = oversized.toSet

        // LIVE-INSERT fold (the reference's aminsert / Graph::insert,
        // build.rs:464-557, applied per routed shard): a shard that only
        // RECEIVES delta rows keeps its frozen graph and has the new rows
        // inserted into it — O(inserted · search) graph work instead of an
        // O(shard) rebuild. A shard LOSING tombstoned rows must rebuild
        // (removal shifts the node indices its edges point at); an
        // OVERSIZED shard splits (below) instead of folding.
        val insertFoldOn =
          spark.conf.get("graft.compact.insertFold", "true").toBoolean
        val insertShards =
          if (insertFoldOn)
            affected.filter(s => !oversizedSet(s) &&
              tombByShard.getOrElse(s, 0L) == 0L &&
              deltaByShard.getOrElse(s, 0L) > 0L)
          else Seq.empty[Int]
        val insertSet = insertShards.toSet
        val rebuildShards =
          affected.filterNot(insertSet).filterNot(oversizedSet)

        // the split: per oversized shard, (surviving ∪ delta) members are
        // re-clustered into nSub fresh sub-centroids (sampled Lloyd,
        // [[graft.operators.Similarity.trainIvf]], over BUILD-SPACE
        // vectors — the space routing and radii live in); sub 0 keeps the
        // old shard id, the rest take fresh ids appended past numShards.
        // All sub-shards then rebuild through the normal shard-build
        // kernel — O(hot shard), bounded by the growth cap, never
        // O(corpus).
        val splitInput: Option[DataFrame] =
          if (oversized.isEmpty) None
          else {
            val oCol = oversized.map(Integer.valueOf)
            val old = existing.filter(col("shard").isin(oCol: _*))
              .select(col("row_id"), col("vec"), col("labels"), col("shard"))
            val survivors =
              if (tombstones.isEmpty) old
              else old.join(broadcast(tombDf), Seq("row_id"), "left_anti")
            Some(survivors
              .unionByName(deltaAssigned.filter(col("shard").isin(oCol: _*)))
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
          }
        try {
          if (oversized.nonEmpty) {
            val met = metric
            val dims = dimsToIndex
            val toBuild = udf((v: mutable.Seq[Float]) =>
              BuildSpace(v.toArray, dims, met))
            var nextId = meta.numShards
            splitPlan = oversized.map { s =>
              val nSub = math.max(2, math.ceil(
                postFoldRows(s).toDouble / meta.shardTargetRows).toInt)
              // sampleSize must cover nSub (trainIvf returns at most
              // sample.length centroids); size the plan arrays from the
              // RETURNED count, never the requested one — an extreme
              // one-compaction pile-up that outruns the capped sample
              // yields fewer, larger sub-shards (still gated for progress
              // below) instead of indexing past the centroid array
              val sub = graft.operators.Similarity.trainIvf(
                splitInput.get.filter(col("shard") === s)
                  .withColumn("bv", toBuild(col("vec"))), "bv", nSub,
                sampleSize = math.max(4096, math.min(nSub * 16, 1 << 17)))
              val cents = sub.centroids
              val ids = Array.tabulate(cents.length)(j =>
                if (j == 0) s else { val id = nextId; nextId += 1; id })
              (s, ids, cents)
            }
            numShardsOut = nextId
          }
          val splitNodes: Option[DataFrame] =
            if (splitPlan.isEmpty) None
            else {
              val splitBc = spark.sparkContext.broadcast(
                splitPlan.map { case (s, ids, cents) =>
                  s -> (ids, graft.operators.Similarity.IvfModel(cents))
                }.toMap)
              val met = metric
              val dims = dimsToIndex
              val reassign = udf((s: Int, v: mutable.Seq[Float]) => {
                val (ids, model) = splitBc.value(s)
                ids(model.nearest(BuildSpace(v.toArray, dims, met), 1)(0))
              })
              val nSubTotal = splitPlan.map(_._2.length).sum
              val rows = splitInput.get
                .withColumn("shard", reassign(col("shard"), col("vec")))
                .repartition(nSubTotal, col("shard"))
              // PROGRESS gate: a point-mass cluster (e.g. a shard of
              // identical vectors) cannot be subdivided by ANY centroid
              // router — every member ties to one sub-centroid, the
              // overgrown sub persists, and re-splitting each compaction
              // would mint empty shards forever. If the split leaves any
              // sub-shard still past the cap, refuse (None → the caller's
              // full rebuild) instead of spiraling. One small aggregate
              // over the (bounded, persisted) split input.
              val subCounts = countsByShard(rows)
              splitSubCounts = subCounts
              val worst = splitPlan.iterator.flatMap(_._2)
                .map(subCounts.getOrElse(_, 0L)).max
              if (worst > growthCap) return None
              Some(buildShardNodes(rows, metric, modelBc, meta.hasLabels,
                dimsToIndex, meta.numNeighbors, meta.searchListSize,
                meta.maxAlpha))
            }

          val rebuiltNodes: Option[DataFrame] =
            if (rebuildShards.isEmpty) None
            else {
              val rCol = rebuildShards.map(Integer.valueOf)
              val oldAffected = existing.filter(col("shard").isin(rCol: _*))
                .select(col("row_id"), col("vec"), col("labels"), col("shard"))
              val survivors =
                if (tombstones.isEmpty) oldAffected
                else oldAffected.join(broadcast(tombDf), Seq("row_id"), "left_anti")
              val rebuildRows = survivors
                .unionByName(deltaAssigned.filter(col("shard").isin(rCol: _*)))
                .repartition(rebuildShards.length, col("shard"))
              Some(buildShardNodes(rebuildRows, metric, modelBc,
                meta.hasLabels, dimsToIndex, meta.numNeighbors,
                meta.searchListSize, meta.maxAlpha))
            }
          val foldedNodes: Option[DataFrame] =
            if (insertShards.isEmpty) None
            else Some(insertFoldNodes(spark, srcRoot, meta, insertShards,
              deltaAssigned, metric, modelBc))
          val nodes = (rebuiltNodes.toSeq ++ foldedNodes.toSeq ++
            splitNodes.toSeq).reduce(_ unionByName _)
          inPhase(spark, PhaseBuilding, dstPath) {
            nodes.write.mode("overwrite").partitionBy("shard")
              .parquet(s"$dstPath/nodes")
          }
        } finally splitInput.foreach(_.unpersist(false))
      } else fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dstPath/nodes"))

      // Untouched shards: MANIFEST entries, not copies — the new generation
      // is a metadata-only commit for them (the Iceberg-style layout; the
      // GC in [[StreamingIngest.compact]] keeps every referenced generation
      // alive). Entries are chain-free: a shard untouched for many
      // compactions still points DIRECTLY at the generation that last built
      // it, never through intermediate manifests.
      // `graft.compact.manifest=false` is the ops escape hatch: raw file
      // copies into the new generation (self-contained dirs, old behavior).
      val splitNewIds: Seq[Int] = splitPlan.flatMap(_._2.drop(1))
      val splitIdsSet: Set[Int] = splitPlan.flatMap(_._2).toSet
      val affectedSet = affected.toSet ++ splitNewIds
      val untouched = (0 until meta.numShards).filterNot(affectedSet)
      val manifestMode =
        spark.conf.get("graft.compact.manifest", "true").toBoolean
      val newShardDirs: Array[String] =
        if (manifestMode)
          (0 until numShardsOut).map { s =>
            if (s >= meta.numShards || affectedSet(s)) ""
            else meta.shardDirs(s) match {
              case "" => relGenOf(srcRoot)
              case ref => ref
            }
          }.toArray
        else {
          val conf = spark.sessionState.newHadoopConf()
          untouched.foreach { s =>
            val src = new org.apache.hadoop.fs.Path(
              s"${shardGenRoot(srcRoot, meta, s)}/nodes/shard=$s")
            if (fs.exists(src))
              org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
                new org.apache.hadoop.fs.Path(s"$dstPath/nodes/shard=$s"),
                false, conf)
          }
          Array.fill(numShardsOut)("")
        }
      import spark.implicits._
      // per-shard cache epochs: fresh for rebuilt/split shards, PRESERVED
      // for carried-forward ones — executor caches of untouched shards
      // survive the generation change
      val freshEpoch = java.util.UUID.randomUUID().toString
      val newShardIds = Array.tabulate(numShardsOut) { s =>
        if (s >= meta.numShards || affectedSet(s)) freshEpoch
        else meta.shardBuildIds(s)
      }
      // split shards REPLACE their centroid with the sub-centroids trained
      // over their own members; everything else keeps its frozen centroid
      // (retraining would invalidate every untouched shard's routing)
      val newCentroids: Array[Array[Float]] =
        if (splitPlan.isEmpty) meta.centroids
        else {
          val out = java.util.Arrays.copyOf(meta.centroids, numShardsOut)
          splitPlan.foreach { case (_, ids, cents) =>
            ids.indices.foreach(j => out(ids(j)) = cents(j))
          }
          out
        }
      // cluster radii stay a SOUND upper bound across the fold: delta rows
      // can only grow an (un-split) shard's radius (max with their centroid
      // distances), tombstones only tighten the true value (the stored
      // bound stays valid), and SPLIT shards re-measure exactly against
      // their fresh centroids (the old bound is meaningless for a new
      // centroid). Unknown (pre-round-10) radii stay unknown — only a full
      // rebuild re-measures.
      val newShardRadii: Array[Double] =
        if (meta.partitioner != "ivf" ||
            meta.shardRadii.length != meta.numShards ||
            (deltaByShard.isEmpty && splitPlan.isEmpty)) meta.shardRadii
        else {
          val met = metric
          val dims = dimsToIndex
          val out = java.util.Arrays.copyOf(meta.shardRadii, numShardsOut)
          if (deltaByShard.nonEmpty) {
            val cBc = spark.sparkContext.broadcast(meta.centroids)
            val deltaMax = deltaAssigned
              .select(col("shard"), col("vec")).rdd.map { row =>
                val s = row.getInt(0)
                val bv = BuildSpace(
                  row.getAs[mutable.Seq[Float]](1).toArray, dims, met)
                (s, math.sqrt(VectorKernels.l2sq(bv, cBc.value(s))))
              }.reduceByKey(math.max).collectAsMap()
            (0 until meta.numShards).foreach { s =>
              if (!splitIdsSet(s))
                out(s) = math.max(out(s), deltaMax.getOrElse(s, 0.0))
            }
          }
          if (splitIdsSet.nonEmpty) {
            // one column-pruned pass over the just-written split shards
            // (bounded by the hot shard's size), exactly like the build's
            // radius measurement
            val ncBc = spark.sparkContext.broadcast(newCentroids)
            val measured = spark.read.schema(nodeSchema).parquet(s"$dstPath/nodes")
              .filter(col("shard").isin(splitIdsSet.toSeq
                .map(Integer.valueOf): _*))
              .select(col("shard"), col("vec")).rdd.map { row =>
                val s = row.getInt(0)
                val bv = BuildSpace(
                  row.getAs[mutable.Seq[Float]](1).toArray, dims, met)
                (s, math.sqrt(VectorKernels.l2sq(bv, ncBc.value(s))))
              }.reduceByKey(math.max).collectAsMap()
            splitIdsSet.foreach(s => out(s) = measured.getOrElse(s, 0.0))
          }
          out
        }
      // per-shard row counts from the fold arithmetic — EXACT, no extra
      // scan: an affected shard loses its tombstone hits and gains its
      // (deduped) delta rows; split shards take their measured sub-counts
      // (a sub-shard the assignment left empty is 0). A pre-round-11 meta
      // (counts unknown) is BACKFILLED here with one group-by-partition-
      // column count over the existing nodes — footer/metadata scale, paid
      // once per legacy index — so legacy indexes gain the exact counts
      // (and the empty-shard fast answer) at their first incremental
      // compact instead of staying unknown forever.
      val newShardRows: Array[Long] = {
        val base: Array[Long] =
          if (meta.shardRows.length == meta.numShards)
            java.util.Arrays.copyOf(meta.shardRows, numShardsOut)
          else {
            val m = countsByShard(existing)
            val out = new Array[Long](numShardsOut)
            (0 until meta.numShards).foreach(s => out(s) = m.getOrElse(s, 0L))
            out
          }
        (deltaByShard.keySet ++ tombByShard.keySet).foreach { s =>
          base(s) = base(s) - tombByShard.getOrElse(s, 0L) +
            deltaByShard.getOrElse(s, 0L)
        }
        splitPlan.foreach { case (_, ids, _) =>
          ids.foreach(id => base(id) = splitSubCounts.getOrElse(id, 0L))
        }
        base
      }
      inPhase(spark, PhaseFinalizing, dstPath) {
        Seq(meta.copy(numRows = newRows, buildId = freshEpoch,
          numShards = numShardsOut, centroids = newCentroids,
          shardBuildIds = newShardIds, shardDirs = newShardDirs,
          shardRadii = newShardRadii, shardRows = newShardRows))
          .toDF().coalesce(1).write.mode("overwrite").parquet(s"$dstPath/_meta")
      }
      Some((newRows, affected ++ splitNewIds))
    } finally deltaAssigned0.unpersist(false)
  }

  /**
   * Per-shard LIVE-INSERT fold: each task receives one shard's FROZEN node
   * rows plus the delta rows routed to it, seeds a [[VamanaBuilder]] with
   * the stored adjacency ([[VamanaBuilder.seedFrozen]]) and inserts only
   * the new rows through the normal build-insert path — the reference's
   * `aminsert` semantics (build.rs:464-557) re-expressed per shard. Old
   * nodes keep their indices (appended rows take the next ones), so stored
   * edges stay valid and only lists a back-edge actually touches are
   * rewritten with fresh distances. Graph work is O(inserted · search);
   * the shard is re-written (IO) but never re-BUILT (compute).
   */
  private def insertFoldNodes(spark: SparkSession, srcRoot: String,
      meta: IndexMeta, shards: Seq[Int], deltaAssigned: DataFrame,
      metric: Metric,
      modelBc: org.apache.spark.broadcast.Broadcast[SbqModel]): DataFrame = {
    val dimsToIndex = meta.dimsToIndex
    val hasLabels = meta.hasLabels
    val r = meta.numNeighbors
    val l = meta.searchListSize
    val alpha = meta.maxAlpha
    val sCol = shards.map(Integer.valueOf)
    val oldRowsDf = nodesDf(spark, srcRoot, meta, shards)
      .select(col("shard"), col("node"), col("row_id"), col("vec"),
        col("code"), col("labels").cast(ArrayType(ShortType)).as("labels"),
        col("neighbors"))
    // appended rows carry node = -1 until the task assigns the next indices
    val freshRowsDf = deltaAssigned.filter(col("shard").isin(sCol: _*))
      .select(col("shard"), lit(-1).as("node"), col("row_id"), col("vec"),
        lit(null).cast(ArrayType(LongType)).as("code"),
        col("labels").cast(ArrayType(ShortType)).as("labels"),
        lit(null).cast(ArrayType(IntegerType)).as("neighbors"))
    oldRowsDf.unionByName(freshRowsDf)
      .repartition(shards.length, col("shard"))
      .mapPartitions { it =>
        val m = modelBc.value
        val byShard = mutable.Map.empty[Int, mutable.ArrayBuffer[Row]]
        it.foreach { row =>
          byShard.getOrElseUpdate(row.getAs[Int]("shard"),
            new mutable.ArrayBuffer) += row
        }
        byShard.iterator.flatMap { case (shard, rows) =>
          val (oldRows, newRows0) = rows.partition(_.getAs[Int]("node") >= 0)
          val sortedOld = oldRows.sortBy(_.getAs[Int]("node")).toArray
          // deterministic append order: ascending row_id, like the build
          val sortedNew = newRows0.sortBy(_.getAs[Long]("row_id")).toArray
          val nOld = sortedOld.length
          val nAll = nOld + sortedNew.length
          val rowIds = new Array[Long](nAll)
          val rawVecs = new Array[Array[Float]](nAll)
          val codes = if (m != null) new Array[Array[Long]](nAll) else null
          val lbs = if (hasLabels) new Array[Array[Short]](nAll) else null
          val adj = new Array[Array[Int]](nOld)
          val buildVecs = new Array[Array[Float]](nAll)
          var i = 0
          while (i < nAll) {
            val row = if (i < nOld) sortedOld(i) else sortedNew(i - nOld)
            require(i >= nOld || row.getAs[Int]("node") == i,
              s"insert fold: shard $shard arrived with non-contiguous nodes")
            rowIds(i) = row.getAs[Long]("row_id")
            rawVecs(i) = row.getAs[mutable.Seq[Float]]("vec").toArray
            buildVecs(i) = BuildSpace(rawVecs(i), dimsToIndex, metric)
            if (codes != null)
              codes(i) =
                if (i < nOld) row.getAs[mutable.Seq[Long]]("code").toArray
                else m.quantize(buildVecs(i))
            if (lbs != null)
              lbs(i) = Option(row.getAs[mutable.Seq[Short]]("labels"))
                .map(s => LabelSets.normalize(s.toArray))
                .getOrElse(Array.emptyShortArray)
            if (i < nOld)
              adj(i) = row.getAs[mutable.Seq[Int]]("neighbors").toArray
            i += 1
          }
          val builder = new VamanaBuilder(buildVecs, lbs, metric, r, l,
            alpha, codes)
          builder.seedFrozen(adj).buildAppended()
          (0 until nAll).iterator.map { j =>
            Row(shard, j, rowIds(j), rawVecs(j),
              if (codes != null) codes(j) else null,
              if (lbs != null) lbs(j) else null,
              builder.neighborsOf(j))
          }
        }
      }(org.apache.spark.sql.Encoders.row(nodeSchema))
  }

  /**
   * Persistent per-index tombstone registry (V1 / the DELETE-visibility
   * analog): `deleteRows` durably marks row ids deleted by appending a tiny
   * parquet file under `$indexPath/tombstones/`; every index-served read
   * path that honors freshness ([[graft.streaming.StreamingIngest.searchFresh]],
   * the SQL-planned [[graft.plans.KnnIndexScanExec]]) loads the set and
   * skips those rows — the reference's scan likewise never emits rows the
   * visibility map says are dead (scan.rs:229-235). The next compaction
   * physically folds them (VACUUM) and consumes the files, so the live set
   * stays bounded by the append-then-compact contract exactly like the
   * delta.
   */
  def deleteRows(spark: SparkSession, indexPath: String,
      rowIds: Iterable[Long]): Unit = {
    if (rowIds.isEmpty) return
    import spark.implicits._
    rowIds.toSeq.toDF("row_id").coalesce(1)
      .write.mode("append").parquet(s"$indexPath/tombstones")
  }

  /** The registry's current data files (Hadoop FS — HDFS/S3 paths work the
    * same as local ones); empty when no deletes are pending. */
  private[graft] def tombstoneFiles(spark: SparkSession,
      indexPath: String): Array[org.apache.hadoop.fs.FileStatus] = {
    val d = new org.apache.hadoop.fs.Path(s"$indexPath/tombstones")
    val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
    try fs.listStatus(d)
      .filter(s => !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
    catch { case _: java.io.FileNotFoundException => Array.empty }
  }

  // fingerprint: the registry's listing, taken on EVERY call (a new delete
  // must be visible to the next scan); the read + collect job is paid only
  // when it changed
  private val tombstoneMemo =
    new FingerprintMemo[Set[Long]]("DiskannIndex.tombstones", 64, FingerprintMemo.Jvm)

  /** Load the persisted tombstone set. Bounded by the compaction contract
    * (folded + consumed at every compact), so the driver-side Set is the
    * same size class as a query batch. Tolerates the list-then-read race
    * with a concurrent compact consuming the files (re-lists, and a
    * post-compact empty dir correctly yields the empty set). */
  def loadTombstones(spark: SparkSession, indexPath: String): Set[Long] = {
    var attempt = 0
    var lastErr: Throwable = null
    while (attempt < 4) {
      attempt += 1
      val files = tombstoneFiles(spark, indexPath)
      if (files.isEmpty) return Set.empty
      try return tombstoneMemo.get(spark, indexPath,
          FingerprintMemo.fingerprintOf(files)) {
        spark.read.option("ignoreMissingFiles", "true")
          .parquet(files.map(_.getPath.toString).toIndexedSeq: _*)
          .select(col("row_id").cast(LongType))
          .collect().map(_.getLong(0)).toSet
      } catch {
        // plan-time path-not-exist from the race; re-list
        case e: org.apache.spark.sql.AnalysisException => lastErr = e
      }
    }
    throw lastErr
  }

  def loadMeta(spark: SparkSession, path0: String): IndexMeta =
    loadMetaAt(spark, resolveRoot(spark, path0))

  /** Per-label node counts recorded at build (`labelstats`) — None for
    * generations built before the table existed (incremental-compact
    * carry-forwards included): callers must treat the stats as an OPTIONAL
    * optimization input, never a correctness dependency. Cached per
    * generation root — the table is immutable once installed. */
  // fingerprint: the labelstats dir's listing — an in-place rebuild in
  // ANOTHER process can recreate the root string, and stale-small counts
  // would truncate results (they are a hard exhaustion bound)
  private val labelCountsMemo = new FingerprintMemo[Option[Map[Short, Long]]](
    "DiskannIndex.labelCounts", 64, FingerprintMemo.Jvm)

  def labelCounts(spark: SparkSession,
      path0: String): Option[Map[Short, Long]] = {
    val root = resolveRoot(spark, path0)
    val p = new org.apache.hadoop.fs.Path(s"$root/labelstats")
    val fp = FingerprintMemo.listingFingerprint(
      p.getFileSystem(spark.sessionState.newHadoopConf()), p)
    labelCountsMemo.get(spark, root, fp) {
      if (fp == FingerprintMemo.Absent) None
      else Some(spark.read.parquet(p.toString)
        .collect().map(r => r.getShort(0) -> r.getLong(1)).toMap)
    }
  }

  // fingerprint: the `_meta` dir's listing — a generation's meta is
  // immutable, but the flat root's can be rewritten in place. Unmemoized,
  // this read dominated warm single-query serving (~100 of ~140 ms).
  private val metaMemo =
    new FingerprintMemo[IndexMeta]("DiskannIndex.meta", 64, FingerprintMemo.Jvm)

  /** [[loadMeta]] for an ALREADY-RESOLVED generation root — the GC needs the
    * flat root's own meta even when a newer generation is active (plain
    * loadMeta would re-resolve right past it). A missing `_meta` skips the
    * memo and throws what the fresh read throws. */
  private[graft] def loadMetaAt(spark: SparkSession, path: String): IndexMeta = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_meta")
    val fp = FingerprintMemo.listingFingerprint(
      p.getFileSystem(spark.sessionState.newHadoopConf()), p)
    if (fp == FingerprintMemo.Absent) readMetaAt(spark, path)
    else metaMemo.get(spark, path, fp)(readMetaAt(spark, path))
  }

  private def readMetaAt(spark: SparkSession, path: String): IndexMeta = {
    import spark.implicits._
    // tolerate metas from earlier format generations (the analog of the
    // reference's V1/V2→V3 meta-page upgrade path, meta_page.rs:296-424):
    // fill every missing field with the default that generation implied
    var df = spark.read.parquet(s"$path/_meta")
    if (!df.columns.contains("partitioner"))
      df = df.withColumn("partitioner", lit("hash"))
    if (!df.columns.contains("centroids"))
      df = df.withColumn("centroids",
        lit(Array.empty[Array[Float]]).cast(ArrayType(ArrayType(FloatType))))
    if (!df.columns.contains("shardTargetRows"))
      df = df.withColumn("shardTargetRows", lit(1L << 20))
    if (!df.columns.contains("buildId"))
      df = df.withColumn("buildId", lit("legacy"))
    if (!df.columns.contains("shardBuildIds"))
      df = df.withColumn("shardBuildIds",
        array_repeat(col("buildId"), col("numShards")))
    if (!df.columns.contains("shardDirs"))
      // pre-manifest generations are self-contained: every shard lives in
      // the generation's own nodes dir
      df = df.withColumn("shardDirs", array_repeat(lit(""), col("numShards")))
    if (!df.columns.contains("shardRadii"))
      // pre-round-10 generations carry no cluster radii: empty = unknown,
      // which disables radius shard pruning but changes nothing else
      df = df.withColumn("shardRadii",
        lit(Array.emptyDoubleArray).cast(ArrayType(DoubleType)))
    if (!df.columns.contains("shardRows"))
      // pre-round-11 generations carry no per-shard row counts: empty =
      // unknown, which only disables the empty-shard fast answer
      df = df.withColumn("shardRows",
        lit(Array.emptyLongArray).cast(ArrayType(LongType)))
    if (!df.columns.contains("fullBuildRows"))
      // pre-round-12 generations don't record the last-full-build row
      // count: 0 = unknown, which disables the auto-REINDEX staleness
      // trigger until the index's first full rebuild stamps it
      df = df.withColumn("fullBuildRows", lit(0L))
    df.as[IndexMeta].head()
  }

  // ---------------------------------------------------------------------
  // The search core.
  //
  // Every public search entry point — search, searchPoint, servePointBatch,
  // searchWithDelta, rangeSearch(WithStatus), openResumableScan,
  // searchDistributed(Fresh), rangeSearchDistributed(Fresh) and the
  // StreamingIngest fresh wrappers — is a thin parameterization of ONE
  // pipeline, the analog of the reference answering every index scan
  // through one ambeginscan -> amrescan -> amgettuple path (scan.rs:209-242):
  //
  //  1. [[View]]: the resolved generation, read once per call;
  //  2. [[collectQueries]] / [[decodeQuery]]: one query decoder;
  //  3. [[View.route]]: one routing rule per query shape, applied on the
  //     driver and, over the broadcast view, on executors;
  //  4. [[ShardScan]] / [[onShard]]: the one per-shard op — the only caller
  //     of GraphSearcher.resumable and the only SearchMetrics sink, with
  //     the tombstone mask applied there (scan.rs:229-235);
  //  5. two ways to reach a shard: this JVM's warm searcher cache
  //     ([[warmSearcher]]) or one memoized shard-aligned nodes RDD
  //     ([[shardRdd]]);
  //  6. [[scoreDelta]]: the one delta scorer, over a capped snapshot
  //     ([[deltaSnapshot]]);
  //  7. one merge per place it runs: [[mergeLocal]] on the driver,
  //     [[mergeRdd]] on executors.
  // ---------------------------------------------------------------------

  /** A decoded query: (qid, qvec, normalized qlabels). A null qvec searches
    * the zero vector (labels/mod.rs:214-216); null qlabels = unfiltered. */
  private[graft] type Query = (Long, Array[Float], Array[Short])

  /** One pending delta row: (row_id, vec, normalized labels — empty when
    * the delta carries none). */
  private[graft] type DeltaRow = (Long, Array[Float], Array[Short])

  /** The query shape: the k nearest rows, or every row within a radius. */
  private[graft] sealed trait Shape extends Serializable {
    def nProbe: Int
    /** the report-distance radius of a radius query */
    def within: Option[Double]
  }

  private[graft] final case class TopK(k: Int, searchListSize: Int,
      rescore: Int, nProbe: Int) extends Shape {
    def within: Option[Double] = None
  }

  /** `maxResults` caps each (query, shard) escalation; `strict` fails an
    * escalation the cap cut short instead of keeping its partial rows. */
  private[graft] final case class Within(radius: Double, searchListSize: Int,
      rescore: Int, maxResults: Int, strict: Boolean) extends Shape {
    def nProbe: Int = 0
    def within: Option[Double] = Some(radius)
  }

  /** Stage 1: one resolved generation — root, meta, metric, SBQ model,
    * report distance and searcher cache keys. Resolved ONCE per call, so
    * meta and nodes come from the same version even if a compaction swap
    * lands mid-query. Serializable: executors route and decode over it. */
  private[graft] final case class View(path0: String, root: String,
      meta: IndexMeta) {
    val metric: Metric = Metric(meta.metric)
    val model: SbqModel =
      if (meta.storage == "sbq")
        SbqModel(meta.modelCount, meta.modelMean, meta.modelM2, meta.bitsPerDim)
      else null
    val report: (Array[Float], Array[Float]) => Double = reportDistFn(metric)
    def allShards: Seq[Int] = 0 until meta.numShards

    /** Searcher cache key: the CALLER's index path + the shard's build id.
      * The generation dir changes on every compaction, but an untouched
      * shard keeps its build id, so its decoded graph stays warm across
      * incremental compactions. */
    def key(shard: Int): String = s"$path0#$shard#${meta.shardBuildIds(shard)}"

    /** The shard's searcher from this JVM's cache; `rows` (the whole shard)
      * is read and decoded only on a miss. */
    def searcher(shard: Int, rows: => Array[Row]): GraphSearcher =
      GraphSearcher.getOrBuild(key(shard), () => buildShardSearcher(root,
        shard, rows, metric, model, meta.hasLabels, meta.dimsToIndex))

    /** Stage 3: the shards one query visits, None = every shard. nProbe
      * narrows it to the nearest IVF shards ([[probeShardsFor]]); a radius
      * also drops every shard whose cluster ball cannot reach the query
      * ([[radiusShardsFor]] — sound, so it never changes a result). */
    def route(qvec: Array[Float], nProbe: Int,
        radius: Option[Double]): Option[Array[Int]] = {
      val probed = probeShardsFor(meta, metric, qvec, nProbe)
      radius.flatMap(r => radiusShardsFor(meta, metric, qvec, r)) match {
        case Some(inBall) =>
          val keep = inBall.toSet
          Some(probed.getOrElse(allShards.toArray).filter(keep))
        case None => probed
      }
    }

    def route(qvec: Array[Float], shape: Shape): Option[Array[Int]] =
      route(qvec, shape.nProbe, shape.within)

    /** Whether [[route]] can narrow any query of `shape` at all. */
    def routes(shape: Shape): Boolean =
      probes(meta, shape.nProbe) ||
        (shape.within.isDefined && radiusPrunes(meta, metric))
  }

  private[graft] def view(spark: SparkSession, path0: String): View = {
    val root = resolveRoot(spark, path0)
    View(path0, root, loadMetaAt(spark, root))
  }

  private def probes(meta: IndexMeta, nProbe: Int): Boolean =
    meta.partitioner == "ivf" && nProbe > 0 && nProbe < meta.numShards &&
      meta.centroids.nonEmpty

  /** IVF probe routing for ONE query vector; None = unrouted, the query
    * searches every shard. */
  private def probeShardsFor(meta: IndexMeta, metric: Metric,
      qvec: Array[Float], nProbe: Int): Option[Array[Int]] =
    if (probes(meta, nProbe)) {
      val raw =
        if (qvec == null) new Array[Float](meta.centroids(0).length) else qvec
      val bv = BuildSpace(raw, meta.dimsToIndex, metric)
      Some(graft.operators.Similarity.IvfModel(meta.centroids).nearest(bv, nProbe))
    } else None

  private def radiusPrunes(meta: IndexMeta, metric: Metric): Boolean =
    meta.partitioner == "ivf" && meta.centroids.nonEmpty &&
      meta.shardRadii.length == meta.numShards &&
      metric != Metric.InnerProduct &&
      !(metric == Metric.Cosine && meta.dimsToIndex > 0)

  /**
   * SOUND shard pruning for RADIUS queries over IVF-partitioned indexes —
   * unlike nProbe (nearest-n heuristic, recall trade), this prune can never
   * drop an in-radius row: by the triangle inequality in build space,
   * every member m of shard s satisfies
   * |q - m| >= |q - c_s| - radius_s, so a shard with
   * |q - c_s| - radius_s > r holds nothing within Euclidean radius r.
   * Report radii convert to build-space Euclidean per metric:
   * cosine on unit vectors has cosineDist = |a-b|^2/2, so r -> sqrt(2r);
   * true L2 is Euclidean already, and a Matryoshka slice only SHRINKS L2
   * distances, so pruning with the full-vector radius stays a superset.
   * Returns None (no pruning) when radii are unknown (pre-round-10 metas,
   * hash partitioner), for inner product (not a metric space), for sliced
   * cosine (the slice breaks the unit-norm identity), or for a null query.
   */
  private[graft] def radiusShardsFor(meta: IndexMeta, metric: Metric,
      qvec: Array[Float], radius: Double): Option[Array[Int]] =
    if (radiusPrunes(meta, metric) && qvec != null) {
      val bv = BuildSpace(qvec, meta.dimsToIndex, metric)
      val eR = metric match {
        case Metric.Cosine => math.sqrt(2.0 * math.max(radius, 0.0))
        case _ => math.max(radius, 0.0)
      }
      Some((0 until meta.numShards).filter { s =>
        val dc = math.sqrt(VectorKernels.l2sq(bv, meta.centroids(s)))
        // RELATIVE slack: the stored radius and dc are both float-sourced
        // sums whose rounding grows with magnitude and dimension, so an
        // absolute epsilon would under-admit boundary shards and break
        // soundness. Over-admitting only costs time.
        val slack = 1e-3 * (dc + meta.shardRadii(s)) + 1e-6
        dc - meta.shardRadii(s) <= eR + slack
      }.toArray)
    } else None

  /** SQL-visible distance for projections (§4.3 note 1): true cosine / true
    * L2-with-sqrt / negative inner product. */
  private[graft] def reportDistFn(metric: Metric): (Array[Float], Array[Float]) => Double =
    metric match {
      case Metric.L2 => (a, b) => math.sqrt(VectorKernels.l2sq(a, b))
      case Metric.Cosine => (a, b) => VectorKernels.cosineDist(a, b)
      case Metric.InnerProduct => (a, b) => VectorKernels.negDot(a, b)
    }

  /** Stage 2: the query decoder. `queries` has columns (qid LONG,
    * qvec ARRAY<FLOAT>) and optionally qlabels ARRAY<SHORT>. */
  private def queryCols(queries: DataFrame): DataFrame =
    queries.select(col("qid"), col("qvec"),
      (if (queries.columns.contains("qlabels")) col("qlabels")
       else lit(null).cast(ArrayType(ShortType))).as("qlabels"))

  private def decodeQuery(r: Row): Query =
    (r.getLong(0),
      if (r.isNullAt(1)) null else r.getSeq[Float](1).toArray,
      if (r.isNullAt(2)) null else LabelSets.normalize(r.getSeq[Short](2).toArray))

  private[graft] def collectQueries(queries: DataFrame): Array[Query] =
    queryCols(queries).collect().map(decodeQuery)

  /** A caller-built query with its labels normalized. */
  private[graft] def query(qid: Long, qvec: Array[Float],
      qlabels: Array[Short]): Query =
    (qid, qvec, Option(qlabels).map(LabelSets.normalize).orNull)

  /** Executor-side scan telemetry sinks (V5): Spark `SQLMetric`s are
    * `AccumulatorV2`s, so adding to them inside a task surfaces the counts
    * in the SQL UI / `metrics` of [[graft.plans.KnnIndexScanExec]]. */
  case class SearchMetrics(
      nodesVisited: org.apache.spark.sql.execution.metric.SQLMetric,
      quantizedCmps: org.apache.spark.sql.execution.metric.SQLMetric,
      exactCmps: org.apache.spark.sql.execution.metric.SQLMetric)

  /** Stage 4: THE per-shard op — one query's traversal of one shard,
    * tombstones masked inside it. Every search runs through here: top-k and
    * radius answers call [[advance]] once or per escalation round, the
    * resumable scan keeps one per shard and extends it. The only caller of
    * [[GraphSearcher.resumable]] and the only place that adds to
    * [[SearchMetrics]] (each round reports only its new work). */
  private[graft] final class ShardScan(searcher: GraphSearcher, q: Query,
      report: (Array[Float], Array[Float]) => Double, tomb: Set[Long],
      metrics: Option[SearchMetrics]) {
    private val st = if (metrics.isDefined) new SearchStats else null
    private val rs = searcher.resumable(q._2, q._3, rid => tomb.contains(rid),
      report, st)

    def n: Int = searcher.n

    def advance(kk: Int, searchListSize: Int,
        rescore: Int): Array[(Long, Double)] = {
      val hits = rs.advance(kk, searchListSize, rescore)
      metrics.foreach { m =>
        m.nodesVisited.add(st.nodesVisited)
        m.quantizedCmps.add(st.quantizedCmps)
        m.exactCmps.add(st.exactCmps)
        st.nodesVisited = 0L; st.quantizedCmps = 0L; st.exactCmps = 0L
      }
      hits
    }
  }

  /** One query against one shard in `shape`: the top-k, or the shard-LOCAL
    * escalate-until-stable radius set. Because a row lives in exactly one
    * shard, per-shard radius exhaustiveness composes into the global one —
    * which lets the distributed radius search run with no cross-shard
    * coordination. An unconfirmed (cap-forced) radius answer fails loud
    * under `strict`. */
  private def onShard(v: View, s: GraphSearcher, shard: Int, q: Query,
      shape: Shape, tomb: Set[Long],
      metrics: Option[SearchMetrics]): Iterator[(Long, Long, Double)] = {
    val scan = new ShardScan(s, q, v.report, tomb, metrics)
    val hits: Seq[(Long, Double)] = shape match {
      case t: TopK =>
        scan.advance(t.k, t.searchListSize, t.rescore).take(t.k).toSeq
      case w: Within =>
        val (hits, confirmed) = escalateRadius(
          (kk, l) => scan.advance(kk, math.max(l, kk), math.max(w.rescore, l)).toSeq,
          w.radius, w.searchListSize, w.maxResults, scan.n)
        if (!confirmed && w.strict)
          throw new IllegalStateException(
            s"rangeSearchDistributed: query ${q._1} shard $shard hit the " +
              s"graft maxResults cap (${w.maxResults}) before its in-radius " +
              "set stabilized — raise maxResults, or pass strict=false to " +
              "keep possibly-partial rows")
        hits
    }
    hits.iterator.map { case (rid, d) => (q._1, rid, d) }
  }

  /** Decode one whole shard's rows into a serving [[GraphSearcher]] (CSR
    * adjacency + primitive arrays), failing fast on a partial shard —
    * neighbors are positions into the node-sorted array, so a subset would
    * silently corrupt adjacency. */
  private def buildShardSearcher(path: String, shard: Int, shardRows: Array[Row],
      metric: Metric, model: SbqModel, hasLabels: Boolean,
      dimsToIndex: Int): GraphSearcher = {
    val sorted = shardRows.sortBy(_.getAs[Int]("node"))
    val nn = sorted.length
    var chk = 0
    while (chk < nn) {
      if (sorted(chk).getAs[Int]("node") != chk)
        throw new IllegalStateException(
          s"index $path shard $shard arrived incomplete in one task " +
            s"(expected contiguous node ids 0..${nn - 1}); " +
            "the nodes scan must deliver whole shards")
      chk += 1
    }
    val rowIds = new Array[Long](nn)
    val vecs = new Array[Array[Float]](nn)
    val codes = if (model != null) new Array[Array[Long]](nn) else null
    val lbs = if (hasLabels) new Array[Array[Short]](nn) else null
    val adj = new Array[Array[Int]](nn)
    var i = 0
    sorted.foreach { r =>
      rowIds(i) = r.getAs[Long]("row_id")
      vecs(i) = r.getAs[mutable.Seq[Float]]("vec").toArray
      if (codes != null) codes(i) = r.getAs[mutable.Seq[Long]]("code").toArray
      if (lbs != null) lbs(i) = Option(r.getAs[mutable.Seq[Short]]("labels"))
        .map(_.toArray).getOrElse(Array.emptyShortArray)
      adj(i) = r.getAs[mutable.Seq[Int]]("neighbors").toArray
      i += 1
    }
    val off = new Array[Int](nn + 1)
    var s = 0
    var j = 0
    while (j < nn) { off(j) = s; s += adj(j).length; j += 1 }
    off(nn) = s
    val tgt = new Array[Int](s)
    j = 0
    var p = 0
    while (j < nn) {
      adj(j).foreach { t => tgt(p) = t; p += 1 }
      j += 1
    }
    new GraphSearcher(rowIds, vecs, codes, lbs, off, tgt, metric, model, dimsToIndex)
  }

  /** Stage 5a: a shard's searcher from THIS JVM's cache, with no scan — the
    * analog of a reference backend serving from shared buffers. An EMPTY
    * shard (a tombstone wipe rebuilt it to zero rows, or a degenerate split
    * sub-cluster) is synthesized: no scan ever builds its searcher, so it
    * would otherwise keep the whole index off the warm path forever.
    * Emptiness comes from the META's exact per-shard row counts, never the
    * filesystem — a GC racing this call can legitimately remove a
    * superseded shard dir, and an FS probe would call that "empty" and
    * silently truncate results. Unknown (pre-round-11) counts never
    * synthesize. */
  private def warmSearcher(v: View, shard: Int): Option[GraphSearcher] =
    GraphSearcher.peek(v.key(shard)).orElse {
      if (v.meta.shardRows.length == v.meta.numShards &&
          v.meta.shardRows(shard) == 0L)
        Some(v.searcher(shard, Array.empty))
      else None
    }

  // fingerprint: the generation root + per-shard build ids (a compaction
  // or an in-place rebuild changes them)
  private val shardRdds =
    new FingerprintMemo[RDD[Row]]("DiskannIndex.shardRdds", 16, FingerprintMemo.Session)

  /**
   * Stage 5b: the shard-aligned nodes RDD over `shards` — partition i holds
   * exactly the whole shards of bucket i — plus its buckets. Up to
   * `graft.search.zipMaxShards` (default 4096) shards each bucket is one
   * shard; past it buckets hold several whole shards, capping the number of
   * plan branches. Building it costs one pruned-scan QueryExecution per
   * bucket (~20 ms each), paid once per (generation, shard set, bucket
   * size) instead of once per query. The lineage is shuffle-free: the index
   * never crosses the wire, and a warm task never reads its (lazy) scan.
   */
  private def shardRdd(spark: SparkSession, v: View,
      shards: Seq[Int]): (RDD[Row], IndexedSeq[Seq[Int]]) = {
    val zipMaxShards = spark.conf.get("graft.search.zipMaxShards", "4096").toInt
    val bucketSize =
      math.max(1, math.ceil(shards.length.toDouble / zipMaxShards).toInt)
    val buckets = shards.grouped(bucketSize).toIndexedSeq
    val key = s"${v.path0}#${shards.mkString(",")}#$bucketSize"
    val fp = v.root + "#" + v.meta.shardBuildIds.mkString(",")
    val rdd = shardRdds.get(spark, key, fp) {
      val rdd = bucketedNodesRdd(spark, nodesDf(spark, v.root, v.meta, shards),
        buckets)
      // alignment rests on coalesce(1) yielding exactly ONE partition even
      // for an EMPTY shard directory (unused IVF centroid) — true on Spark
      // 4.x via CoalesceExec.EmptyRDDWithPartitions; fail with the
      // invariant's name if an upgrade ever changes that
      require(rdd.getNumPartitions == buckets.length,
        s"nodes RDD has ${rdd.getNumPartitions} partitions, expected " +
          s"${buckets.length} (one per shard bucket; empty-shard coalesce(1) " +
          "must still yield one partition)")
      rdd
    }
    (rdd, buckets)
  }

  /**
   * Shard-aligned, SHUFFLE-FREE nodes RDD: partition i holds exactly shard
   * `neededShards(i)` — [[bucketedNodesRdd]] with one shard per bucket.
   */
  private[graft] def shardAlignedNodesRdd(spark: SparkSession,
      nodes: DataFrame, neededShards: Seq[Int]): RDD[Row] =
    bucketedNodesRdd(spark, nodes, neededShards.map(Seq(_)))

  /**
   * Bucket-aligned nodes RDD: partition i holds ALL rows of the shards in
   * `buckets(i)`, built as an RDD-level union of one partition-pruned
   * `coalesce(1)` scan per bucket. Parquet files are splittable, so a plain
   * scan can hand a task a shard SUBSET (node ids would no longer equal
   * array positions and the adjacency would be corrupt); coalesce glues a
   * bucket's splits into ONE task with no shuffle. RDD union (unlike a
   * Catalyst union) never repacks tiny scans into fewer partitions — the
   * alignment depends on that — and its lineage contains NO
   * ShuffleDependency (asserted by DiskannIndexSpec), which keeps the
   * 100 TB index out of every shuffle regardless of shard count. Each
   * branch pays its own QueryExecution; branches are independent, so they
   * are planned on a parallel collection (Spark planning is thread-safe per
   * session), whose map preserves order.
   */
  private[graft] def bucketedNodesRdd(spark: SparkSession, nodes: DataFrame,
      buckets: Seq[Seq[Int]]): RDD[Row] = {
    import scala.collection.parallel.CollectionConverters._
    spark.sparkContext.union(
      buckets.par.map(ss => nodes
        .filter(col("shard").isin(ss.map(Integer.valueOf): _*))
        .coalesce(1).rdd).seq)
  }

  /** True iff `rdd`'s lineage reaches a shuffle — test/plan-audit hook. */
  private[graft] def hasShuffle(rdd: RDD[_]): Boolean = {
    val seen = mutable.Set.empty[Int]
    def walk(r: RDD[_]): Boolean =
      seen.add(r.id) && r.dependencies.exists {
        case _: org.apache.spark.ShuffleDependency[_, _, _] => true
        case d => walk(d.rdd)
      }
    walk(rdd)
  }

  /** Answer one partition of a [[shardRdd]]: `work` pairs each of the
    * bucket's shards with the queries routed to it. A searcher comes from
    * the executor cache; only a miss consumes `nodes` (the scan is lazy, so
    * a warm task reads zero bytes) and decodes the shard, after which that
    * executor holds it for the life of its LRU slot. */
  private def answerPartition(v: View, bucket: Seq[Int], nodes: Iterator[Row],
      work: Seq[(Int, Seq[Query])], shape: Shape, tomb: Set[Long],
      metrics: Option[SearchMetrics]): Iterator[(Long, Long, Double)] = {
    lazy val byShard: Map[Int, Array[Row]] = {
      val rows = nodes.toArray
      // alignment is by construction; fail fast if it ever breaks (an EMPTY
      // shard — unused IVF centroid — is legal and builds an empty searcher)
      require(rows.isEmpty || bucket.contains(rows(0).getAs[Int]("shard")),
        s"nodes partition misaligned with its shard bucket ${bucket.mkString(",")}")
      rows.groupBy(_.getAs[Int]("shard"))
    }
    work.iterator.flatMap { case (shard, qs) =>
      val s = v.searcher(shard, byShard.getOrElse(shard, Array.empty))
      qs.iterator.flatMap(onShard(v, s, shard, _, shape, tomb, metrics))
    }
  }

  private def routedTo(routed: Array[(Query, Option[Array[Int]])],
      shard: Int): Seq[Query] =
    routed.iterator.collect {
      case (q, r) if r.forall(_.contains(shard)) => q
    }.toSeq

  /** The most delta rows a session's fresh paths snapshot. */
  private[graft] def deltaCap(spark: SparkSession): Int =
    spark.conf.get("graft.delta.maxBroadcastRows", "2000000").toInt

  /** Stage 6a: the capped delta snapshot every fresh path scores. At most
    * `graft.delta.maxBroadcastRows` rows reach the driver — enforced, not
    * advisory: one extra row proves oversize, and the error names the real
    * fix (folding the delta). NULL vectors are never indexed
    * (build.rs:493-498), so they are dropped; foreachBatch ingest is
    * at-least-once, so a replayed micro-batch's copies collapse by row_id
    * (without that, both copies could take two top-k slots). */
  private[graft] def deltaSnapshot(spark: SparkSession,
      delta: DataFrame): Array[DeltaRow] = {
    val cap = deltaCap(spark)
    val rows = delta.select(col("row_id").cast(LongType), col("vec"),
        (if (delta.columns.contains("labels")) col("labels")
         else lit(null).cast(ArrayType(ShortType))).as("labels"))
      .filter(col("vec").isNotNull)
      .limit(cap + 1).collect()
    require(rows.length <= cap,
      s"pending delta exceeds graft.delta.maxBroadcastRows ($cap) — the " +
        "fresh search paths snapshot the delta, which the compaction " +
        "contract keeps small; fold it with StreamingIngest.compactNow (or " +
        "enable autoCompact), or raise the knob if the driver can hold it")
    rows.map { r =>
      (r.getLong(0), r.getSeq[Float](1).toArray,
        LabelSets.normalize(
          if (r.isNullAt(2)) null else r.getSeq[Short](2).toArray))
    }.sortBy(_._1).distinctBy(_._1)
  }

  /** Stage 6b: THE delta scorer — one query against a delta snapshot by
    * exact brute force: tombstones masked, label rules of the graph
    * traversal (a labeled query matches only a delta row sharing a label,
    * labels/mod.rs:188-204), and a bounded top-k heap or the radius match
    * set. Output rows are (qid, row_id, dist). */
  private[graft] def scoreDelta(report: (Array[Float], Array[Float]) => Double,
      delta: Array[DeltaRow], q: Query, shape: Shape,
      tomb: Set[Long]): Iterator[(Long, Long, Double)] = {
    val (qid, qv, ql) = q
    val scored = delta.iterator
      .filter { case (rid, _, lbs) =>
        !tomb.contains(rid) && (ql == null || LabelSets.overlaps(lbs, ql)) }
      .map { case (rid, v, _) =>
        (report(v, if (qv == null) new Array[Float](v.length) else qv), rid) }
    val kept: Iterator[(Double, Long)] = shape match {
      case w: Within => scored.filter(_._1 <= w.radius)
      case t: TopK =>
        val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
        val heap = mutable.PriorityQueue.empty[(Double, Long)](ord)
        scored.foreach { h =>
          if (heap.size < t.k) heap.enqueue(h)
          else if (ord.lt(h, heap.head)) { heap.dequeue(); heap.enqueue(h) }
        }
        heap.iterator
    }
    kept.map { case (d, rid) => (qid, rid, d) }
  }

  /** Stage 7 on the driver: collapse duplicate (qid, row_id) hits to their
    * minimum distance — a row can transiently exist in BOTH the main graph
    * and the delta (compaction folded it, its delta file not yet deleted) —
    * then keep each query's top `k` by (dist, row_id). Ordered by
    * (qid, dist, row_id). */
  private[graft] def mergeLocal(hits: Iterable[(Long, Long, Double)],
      k: Int): Seq[(Long, Long, Double)] =
    hits.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (_, hs) =>
      hs.groupMapReduce(_._2)(identity)((a, b) => if (b._3 < a._3) b else a)
        .values.toSeq.sortBy(h => (h._3, h._2)).take(k)
    }

  /** Stage 7 on executors: the same rule as [[mergeLocal]]. Top-k runs as
    * ONE mergeable bounded aggregation — map-side combine caps each task's
    * contribution at k rows per query before the shuffle, and the
    * distinct-id [[graft.operators.Similarity.TopKAggregator]] collapses
    * duplicates on the way — as an RDD `aggregateByKey`, which plans
    * nothing (the typed `groupByKey().agg()` form re-paid two Catalyst
    * QueryExecutions per query). A radius set has no k: only the collapse. */
  private def mergeRdd(hits: RDD[(Long, Long, Double)],
      shape: Shape): RDD[(Long, Long, Double)] = shape match {
    case t: TopK =>
      val agg = new graft.operators.Similarity.TopKAggregator(t.k,
        distinctIds = true)
      hits.map { case (qid, rid, d) => (qid, (rid, d)) }
        .aggregateByKey(agg.zero)(
          (st, v) => agg.reduce(st, v), (a, b) => agg.merge(a, b))
        .flatMap { case (qid, st) =>
          st.ids.indices.iterator.map(i => (qid, st.ids(i), st.dists(i))) }
    case _: Within =>
      hits.map { case (qid, rid, d) => ((qid, rid), d) }
        .reduceByKey((a, b) => math.min(a, b))
        .map { case ((qid, rid), d) => (qid, rid, d) }
  }

  private val resultSchema = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("row_id", LongType, nullable = false),
    StructField("dist", DoubleType, nullable = false)))

  /** Driver-local hits as a (qid, row_id, dist) LocalRelation. */
  private[graft] def hitsDf(spark: SparkSession,
      hits: Seq[(Long, Long, Double)]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      hits.map { case (q, r, d) => Row(q, r, d) }: _*), resultSchema)

  /**
   * The driver-collected search: a small query batch already on the driver.
   * Shards whose searcher is warm in THIS JVM are answered right here, with
   * no Spark job (gated to ≤128 queries — larger batches belong to
   * [[searchDistributed]]; off for the executor-resident pool); the rest
   * take ONE job over the memoized shard RDD that submits only their
   * partitions. The delta snapshot is scored driver-side and everything
   * merges driver-side over ≤ shards×k×|batch| rows. Returns
   * (qid, row_id, dist) ordered by (qid, dist, row_id).
   */
  private[graft] def searchCollected(spark: SparkSession, path0: String,
      queries: Seq[Query], shape: TopK, tombstones: Set[Long],
      metrics: Option[SearchMetrics], delta: Array[DeltaRow],
      driverWarm: Boolean): Seq[(Long, Long, Double)] = {
    if (queries.isEmpty) return Seq.empty
    val v = view(spark, path0)
    val routed = queries.map(q => (q, v.route(q._2, shape))).toArray
    // routing also prunes the SCAN: only shards some query visits are read
    val needed: Seq[Int] =
      if (routed.forall(_._2.isDefined)) routed.flatMap(_._2.get).distinct.sorted.toSeq
      else v.allShards
    val warm =
      if (driverWarm && queries.length <= 128)
        needed.flatMap(s => warmSearcher(v, s).map(s -> _))
      else Seq.empty
    val hits = mutable.ArrayBuffer.empty[(Long, Long, Double)]
    warm.foreach { case (shard, s) =>
      routedTo(routed, shard).foreach(q =>
        hits ++= onShard(v, s, shard, q, shape, tombstones, metrics))
    }
    val cold = needed.filterNot(warm.map(_._1).toSet)
    if (cold.nonEmpty) {
      // the pool serves from one memoized all-shard RDD (no per-call
      // planning at any probe set); a driver-side miss plans only its
      // cold shards, which then stay warm here
      val (nodes, buckets) =
        shardRdd(spark, v, if (driverWarm) cold else v.allShards)
      val coldSet = cold.toSet
      val bc = spark.sparkContext.broadcast((v, routed, tombstones))
      val served = nodes.mapPartitionsWithIndex { (b, it) =>
        val (v, routed, tomb) = bc.value
        val work = buckets(b).filter(coldSet)
          .map(s => s -> routedTo(routed, s)).filter(_._2.nonEmpty)
        answerPartition(v, buckets(b), it, work, shape, tomb, metrics)
      }
      spark.sparkContext.runJob(served,
          (it: Iterator[(Long, Long, Double)]) => it.toArray,
          buckets.indices.filter(b => buckets(b).exists(coldSet)))
        .foreach(hits ++= _)
    }
    queries.foreach(q => hits ++= scoreDelta(v.report, delta, q, shape, tombstones))
    mergeLocal(hits, shape.k)
  }

  /**
   * The distributed search, for query TABLES too large to collect: nothing
   * touches the driver but the view. Queries are decoded and routed
   * executor-side over the broadcast view, fanned to their shards, and
   * hash-partitioned to the partition index of the memoized bucketed nodes
   * RDD — the zip co-locates each shard with its queries while moving ONLY
   * query rows. The delta snapshot is broadcast and scored map-side per
   * query partition. Top-k merges through [[mergeRdd]]; a radius set only
   * collapses main∩delta duplicates (a row lives in exactly one shard).
   */
  private[graft] def searchTable(spark: SparkSession, path0: String,
      queries: DataFrame, shape: Shape, tombstones: Set[Long],
      delta: Array[DeltaRow]): DataFrame = {
    val v = view(spark, path0)
    val sc = spark.sparkContext
    val bc = sc.broadcast((v, tombstones, delta))
    val qs = queryCols(queries).rdd.map(decodeQuery)
    val fanned = qs.flatMap { q =>
      val v = bc.value._1
      v.route(q._2, shape).map(_.toSeq).getOrElse(v.allShards).map(_ -> q)
    }
    // only shards some query is routed to are read at all (numShards ints
    // at most reach the driver)
    val needed: Seq[Int] =
      if (v.routes(shape)) fanned.keys.distinct().collect().sorted.toSeq
      else v.allShards
    val main: RDD[(Long, Long, Double)] =
      if (needed.isEmpty) sc.emptyRDD
      else {
        val (nodes, buckets) = shardRdd(spark, v, needed)
        val bucketOf = buckets.zipWithIndex
          .flatMap { case (ss, b) => ss.map(_ -> b) }.toMap
        val byBucket = new org.apache.spark.Partitioner {
          override def numPartitions: Int = buckets.length
          override def getPartition(key: Any): Int = bucketOf(key.asInstanceOf[Int])
        }
        nodes.zipPartitions(fanned.partitionBy(byBucket)) { (nodeIt, qIt) =>
          val (v, tomb, _) = bc.value
          val work = qIt.toArray.groupBy(_._1).toSeq
            .map { case (s, sq) => s -> sq.map(_._2).toSeq }
          answerPartition(v, buckets(org.apache.spark.TaskContext.getPartitionId()),
            nodeIt, work, shape, tomb, None)
        }
      }
    val hits =
      if (delta.isEmpty) main
      else main.union(qs.mapPartitions { it =>
        val (v, tomb, d) = bc.value
        it.flatMap(scoreDelta(v.report, d, _, shape, tomb))
      })
    val merged = shape match {
      case _: Within if delta.isEmpty => hits
      case _ => mergeRdd(hits, shape)
    }
    spark.createDataFrame(merged.map { case (q, r, d) => Row(q, r, d) },
      resultSchema)
  }

  /**
   * ANN search: `queries` has columns (qid LONG, qvec ARRAY<FLOAT>) and
   * optionally qlabels ARRAY<SHORT> (null = unfiltered). Returns
   * (qid, row_id, dist) with per-query top-k rows, dist in SQL-visible form.
   * The query set is collected (it is the small side by definition) and
   * answered by [[searchCollected]]; the result is a LocalRelation.
   * `nProbe` > 0 on an IVF-partitioned index restricts each query to its
   * nProbe nearest shards (per-query cost O(nProbe) instead of
   * O(numShards)); 0 = search every shard (exact same recall as hash).
   */
  def search(spark: SparkSession, path0: String, queries: DataFrame, k: Int,
      searchListSize: Int = 100, rescore: Int = 50,
      tombstones: Set[Long] = Set.empty,
      metrics: Option[SearchMetrics] = None,
      nProbe: Int = 0): DataFrame =
    hitsDf(spark, searchCollected(spark, path0, collectQueries(queries),
      TopK(k, searchListSize, rescore, nProbe), tombstones, metrics,
      Array.empty, driverWarm = true))

  /**
   * Low-latency POINT query — the reference's primary operation (one
   * `ORDER BY embedding <=> q LIMIT k` per client call) as a driver API:
   * returns the k (row_id, dist) pairs ordered by (dist, row_id). When every
   * probed shard's searcher is warm in this JVM, the entire call is
   * driver-side — no Spark job, no DataFrame — which is what makes ms-scale
   * serving possible from a long-lived session; cold shards fall back to
   * one scan job transparently.
   */
  def searchPoint(spark: SparkSession, path0: String, qvec: Array[Float],
      k: Int, searchListSize: Int = 100, rescore: Int = 50, nProbe: Int = 0,
      qlabels: Array[Short] = null,
      tombstones: Set[Long] = Set.empty): Seq[(Long, Double)] =
    searchCollected(spark, path0, Seq(query(0L, qvec, qlabels)),
      TopK(k, searchListSize, rescore, nProbe), tombstones, None,
      Array.empty, driverWarm = true).map(h => (h._2, h._3))

  /**
   * CLUSTER-MODE serving: answer a small query batch from EXECUTOR-resident
   * warm searchers — the path that does not exist through [[searchPoint]]
   * when the driver is not colocated with the executor cache. The reference
   * serves from wherever the backend process holds its shared buffers; on
   * Spark, that place is the executor JVM, so the serving pool lives there.
   *
   * One task per probed shard over the memoized all-shard RDD (no per-call
   * planning, no shuffle); each task checks the executor-local searcher
   * cache FIRST and serves without reading its scan when warm (asserted via
   * task input metrics in DiskannIndexSpec). Scheduling affinity is
   * best-effort (Spark places tasks by scan locality, not cache residency):
   * a task on a cache-cold executor pays one scan+decode and warms THAT
   * executor. Deletes are honored: the persisted tombstone registry is
   * loaded (fingerprint-cached) and masked on every call.
   *
   * Returns (qid, row_id, dist) rows ordered by (qid, dist, row_id).
   */
  def servePointBatch(spark: SparkSession, path0: String,
      queries: Seq[(Long, Array[Float], Array[Short])], k: Int,
      searchListSize: Int = 100, rescore: Int = 50, nProbe: Int = 0,
      tombstones: Set[Long] = Set.empty): Seq[(Long, Long, Double)] =
    searchCollected(spark, path0,
      queries.map { case (qid, qv, ql) => query(qid, qv, ql) },
      TopK(k, searchListSize, rescore, nProbe),
      tombstones ++ loadTombstones(spark, path0), None, Array.empty,
      driverWarm = false)

  /**
   * Search main index + an unindexed delta (micro-batch appends, §3.3 / G9):
   * the delta side is answered by exact brute force and merged into the
   * final top-k. `delta` has columns (row_id, vec [, labels]). The delta is
   * snapshotted BEFORE the generation resolves (see
   * [[graft.streaming.StreamingIngest.searchFresh]]).
   */
  def searchWithDelta(spark: SparkSession, path: String, queries: DataFrame,
      delta: DataFrame, k: Int, searchListSize: Int = 100, rescore: Int = 50,
      tombstones: Set[Long] = Set.empty,
      metrics: Option[SearchMetrics] = None, nProbe: Int = 0): DataFrame = {
    val snap = deltaSnapshot(spark, delta)
    hitsDf(spark, searchCollected(spark, path, collectQueries(queries),
      TopK(k, searchListSize, rescore, nProbe), tombstones, metrics, snap,
      driverWarm = true))
  }

  /**
   * Driver-side resumable single-query scan over WARM shards — the
   * `amgettuple` / TSVResponseIterator analog (scan.rs:162-242,370-405) for
   * the residual-recheck over-fetch loop: each escalation round EXTENDS the
   * per-shard best-first frontiers instead of re-searching from scratch.
   *
   * Opens only when every needed shard's searcher is warm in THIS JVM
   * ([[warmSearcher]]). Cold or cluster-remote shards return None and the
   * caller keeps the per-round search — correctness is identical either
   * way (resume is exact; see [[GraphSearcher.ResumableSearch]]), only the
   * re-paid traversal differs.
   */
  final class ResumableScanHandle private[DiskannIndex] (scans: Seq[ShardScan]) {
    /** Top-kk merged hits at this budget, as (qid=0, row_id, dist) rows. */
    def topK(kk: Int, searchListSize: Int, rescore: Int): Array[Row] =
      scans.iterator
        .flatMap(_.advance(kk, math.max(searchListSize, kk), rescore).take(kk))
        .toArray
        .sortBy { case (rid, d) => (d, rid) }
        .take(kk)
        .map { case (rid, d) => Row(0L, rid, d) }
  }

  def openResumableScan(spark: SparkSession, path0: String,
      qvec: Array[Float], qlabels: Array[Short],
      tombstones: Set[Long] = Set.empty,
      metrics: Option[SearchMetrics] = None,
      nProbe: Int = 0,
      /** when set, apply SOUND radius shard pruning ([[radiusShardsFor]])
        * for this report-distance radius — computed from the SAME meta this
        * scan resolves, so routing and radii can never straddle a
        * generation swap; None = no pruning */
      radiusPrune: Option[Double] = None): Option[ResumableScanHandle] = {
    val v = view(spark, path0)
    val searchers = v.route(qvec, nProbe, radiusPrune).map(_.toSeq)
      .getOrElse(v.allShards).map(warmSearcher(v, _))
    if (searchers.exists(_.isEmpty)) None
    else {
      val q = query(0L, qvec, qlabels)
      Some(new ResumableScanHandle(
        searchers.map(s => new ShardScan(s.get, q, v.report, tombstones, metrics))))
    }
  }

  /**
   * Distance-threshold scan — the `WHERE embedding <=> q < r` shape
   * (pgvector 0.8's iterative index scans; pgvectorscale serves it through
   * the same streaming top-k machinery, scan.rs:162-242): pull from the
   * resumable frontier in escalating top-k rounds until the deepest exact
   * distance exceeds `radius`, then keep every hit within it. Same
   * approximation contract as top-k (greedy traversal may miss outliers;
   * exhaustive at widened L), exact under the verification parameters.
   * Warm shards resume one frontier across rounds; a cold index pays one
   * full search on round 1 (which warms it) and resumes from round 2 —
   * the residualExecute escalation discipline. `maxResults` bounds the
   * driver-side result (a radius covering the whole corpus is a scan, not
   * a point lookup — callers wanting that should read the table).
   */
  def rangeSearch(spark: SparkSession, path0: String, qvec: Array[Float],
      radius: Double, searchListSize: Int = 100, rescore: Int = 50,
      qlabels: Array[Short] = null, tombstones: Set[Long] = Set.empty,
      nProbe: Int = 0, maxResults: Int = 65536): Seq[(Long, Double)] =
    rangeSearchWithStatus(spark, path0, qvec, radius, searchListSize,
      rescore, qlabels, tombstones, nProbe, maxResults)._1

  /**
   * [[rangeSearch]] plus a CONFIRMED flag: `true` means the escalation's
   * stability contract held (the in-radius set was unchanged across a 4x
   * widening, or the traversal genuinely exhausted), `false` means the
   * `maxResults` cap cut escalation short and the set may be INCOMPLETE —
   * note the returned count can be far below maxResults in that case (only
   * a fraction of the capped top-k cleared the radius), so consumers
   * needing exactness must branch on this flag, not on the result size
   * (KnnRangeScanExec falls back to the exact distributed scan on false).
   */
  def rangeSearchWithStatus(spark: SparkSession, path0: String,
      qvec: Array[Float],
      radius: Double, searchListSize: Int = 100, rescore: Int = 50,
      qlabels: Array[Short] = null, tombstones: Set[Long] = Set.empty,
      nProbe: Int = 0, maxResults: Int = 65536): (Seq[(Long, Double)], Boolean) = {
    // SOUND radius shard pruning (triangle inequality over the stored IVF
    // cluster radii, [[radiusShardsFor]]): at thousands of shards a
    // selective radius visits only the shards whose cluster ball can
    // intersect it — unlike nProbe, it can never drop an in-radius row. The
    // prune is computed inside the open, from the same meta that routes
    // the scan; the cold first call still pays the full searchPoint once
    // (which warms the caches), every resumed round is pruned.
    var resumable = openResumableScan(spark, path0, qvec, qlabels,
      tombstones, nProbe = nProbe, radiusPrune = Some(radius))
    def round(kk: Int, l: Int): Seq[(Long, Double)] = resumable match {
      case Some(h) =>
        h.topK(kk, math.max(l, kk), math.max(rescore, l))
          .map(r => (r.getLong(1), r.getDouble(2))).toSeq
      case None =>
        val hits = searchPoint(spark, path0, qvec, kk,
          math.max(l, kk), math.max(rescore, l), nProbe, qlabels, tombstones)
        resumable = openResumableScan(spark, path0, qvec, qlabels,
          tombstones, nProbe = nProbe, radiusPrune = Some(radius))
        hits
    }
    // EXHAUSTIVENESS is owned here, not by caller-tuned parameters: the
    // greedy traversal at a given search-list size L can clear the radius
    // (deepest returned distance > radius) while un-returned in-radius rows
    // sit beyond its frontier — a top-k result hides that behind k, a range
    // result cannot. So the escalation widens L TOGETHER with kk and only
    // stops once the in-radius ID SET is UNCHANGED across a 4x widening
    // (or the maxResults cap is hit — the documented truncation bound for
    // radii that cover the corpus). L quadruples per round, so the confirm
    // round re-pays little: the resumable frontier extends instead of
    // re-searching, and a stable set is typically confirmed in one extra
    // round at 4x the L that found it.
    // for the cap-boundary confirmation (see escalateRadius): numRows is
    // the cover bound — kk >= numRows proves the exploration covered the
    // corpus (bound >= 3kk), the one condition under which a cap exit may
    // still confirm
    val indexedRows: Long =
      try loadMeta(spark, resolveRoot(spark, path0)).numRows
      catch { case _: Exception => Long.MaxValue }
    escalateRadius(round, radius, searchListSize, maxResults, indexedRows)
  }

  /** THE escalate-until-stable radius loop — ONE definition shared by the
    * point path ([[rangeSearchWithStatus]], multi-shard resumable scan) and
    * the distributed per-(query, shard) op ([[onShard]]) so the
    * exhaustiveness contract can never drift between them. `round(kk, l)`
    * returns the current top-kk by report distance under exploration bound
    * l; `coverRows` is the row count a drained round (hits < kk) must have
    * provably covered for a cap-boundary exit to stay confirmed. */
  private[graft] def escalateRadius(round: (Int, Int) => Seq[(Long, Double)],
      radius: Double, searchListSize: Int, maxResults: Int,
      coverRows: => Long): (Seq[(Long, Double)], Boolean) = {
    var kk = math.max(1, math.min(64, maxResults))
    var l = math.max(searchListSize, kk)
    var prevInRadius: Option[Set[Long]] = None
    var out: Seq[(Long, Double)] = null
    var confirmed = true
    while (out == null) {
      val hits = round(kk, l)
      val inRadius = hits.filter(_._2 <= radius)
      val cleared = hits.length < kk || hits.lastOption.forall(_._2 > radius)
      // stable-exit FIRST: a set confirmed at the cap boundary is still
      // confirmed; only an exit FORCED by the cap is unconfirmed
      if (cleared && prevInRadius.contains(inRadius.map(_._1).toSet))
        out = inRadius.take(maxResults)
      else if (kk >= maxResults) {
        // cap exit confirms iff the exploration bound provably covered the
        // corpus: with kk >= coverRows (and L >= kk), either the traversal
        // drained (hits < kk — frontier exhausted) or it returned kk >=
        // coverRows rows, i.e. every row there is; both are complete. A
        // drained look under a SMALLER kk stays unconfirmed — heavy
        // tombstone/label filtering can drain a truncated traversal whose
        // eligible survivors just happen to be few.
        confirmed = kk >= coverRows
        out = inRadius.take(maxResults)
      } else {
        prevInRadius =
          if (cleared) Some(inRadius.map(_._1).toSet) else None
        kk = math.min(maxResults, kk * 4)
        l = math.max(l * 4, kk)
      }
    }
    (out, confirmed)
  }

  /**
   * Fully distributed ANN search for LARGE query sets — the offline
   * "find neighbors for every row" workload where the query table itself
   * has millions of rows and collecting it (as [[search]] does for online
   * batches) would not scale. See [[searchTable]]: the nodes table never
   * shuffles, only the (routed) query fan-out and ~k rows per query do.
   */
  def searchDistributed(spark: SparkSession, path0: String, queries: DataFrame,
      k: Int, searchListSize: Int = 100, rescore: Int = 50,
      tombstones: Set[Long] = Set.empty, nProbe: Int = 0): DataFrame =
    searchTable(spark, path0, queries,
      TopK(k, searchListSize, rescore, nProbe), tombstones, Array.empty)

  /**
   * [[searchDistributed]] + delta freshness — the offline BATCH twin of
   * [[searchWithDelta]]: the query table is the big side and stays
   * distributed, the (compaction-bounded) delta is snapshotted once —
   * BEFORE the main search resolves its generation, so a compact landing in
   * between can only surface a row on both sides (collapsed), never on
   * neither — and broadcast. A delta too large to broadcast is the signal
   * to compact, not to distribute this differently.
   */
  def searchDistributedFresh(spark: SparkSession, path0: String,
      queries: DataFrame, delta: DataFrame, k: Int,
      searchListSize: Int = 100, rescore: Int = 50,
      tombstones: Set[Long] = Set.empty, nProbe: Int = 0): DataFrame = {
    val snap = deltaSnapshot(spark, delta)
    searchTable(spark, path0, queries,
      TopK(k, searchListSize, rescore, nProbe), tombstones, snap)
  }

  /**
   * Fully distributed RADIUS search for LARGE query sets — the offline
   * "every row's in-radius matches" workload (positive-pair mining,
   * duplicate sweeps at a distance threshold), the radius twin of
   * [[searchDistributed]]. Per (query, shard) the answer comes from the
   * shard-local escalate-until-stable loop ([[onShard]]); routing uses the
   * SOUND triangle-inequality prune when radii are stored.
   *
   * Truncation is LOUD, never silent: a (query, shard) pair whose
   * in-radius set could not be confirmed under `maxResults` (per shard)
   * fails the job with the cap's name unless `strict = false`, which
   * keeps the possibly-partial rows instead. Output: (qid, row_id, dist),
   * exactly one row per in-radius match.
   */
  def rangeSearchDistributed(spark: SparkSession, path0: String,
      queries: DataFrame, radius: Double, searchListSize: Int = 100,
      rescore: Int = 50, tombstones: Set[Long] = Set.empty,
      maxResults: Int = 65536, strict: Boolean = true): DataFrame =
    searchTable(spark, path0, queries,
      Within(radius, searchListSize, rescore, maxResults, strict), tombstones,
      Array.empty)

  /** [[rangeSearchDistributed]] + delta freshness — the radius twin of
    * [[searchDistributedFresh]], same snapshot-then-resolve order. */
  def rangeSearchDistributedFresh(spark: SparkSession, path0: String,
      queries: DataFrame, delta: DataFrame, radius: Double,
      searchListSize: Int = 100, rescore: Int = 50,
      tombstones: Set[Long] = Set.empty, maxResults: Int = 65536,
      strict: Boolean = true): DataFrame = {
    val snap = deltaSnapshot(spark, delta)
    searchTable(spark, path0, queries,
      Within(radius, searchListSize, rescore, maxResults, strict), tombstones,
      snap)
  }

  /** Index introspection (V2, vacuum.rs:138-157 page-count analog): size and
    * degree statistics computed with a single distributed aggregation. */
  case class IndexStats(numRows: Long, numShards: Int, numEdges: Long,
      avgDegree: Double, maxDegree: Int, metric: String, storage: String,
      bitsPerDim: Int)

  def stats(spark: SparkSession, path0: String): IndexStats = {
    val path = resolveRoot(spark, path0)
    val meta = loadMeta(spark, path)
    val row = nodesDf(spark, path, meta, 0 until meta.numShards)
      .agg(count(lit(1)).as("n"), sum(size(col("neighbors"))).as("edges"),
        max(size(col("neighbors"))).as("maxdeg"))
      .head()
    val n = row.getLong(0)
    val edges = row.getLong(1)
    IndexStats(n, meta.numShards, edges,
      if (n == 0) 0.0 else edges.toDouble / n, row.getInt(2),
      meta.metric, meta.storage, meta.bitsPerDim)
  }

  /** Debug graph dump in DOT format (V6, graph/mod.rs:535-635 /
    * debugging.rs:12-50): one shard, capped at `maxNodes` nodes. Dev-only. */
  def toDot(spark: SparkSession, path0: String, shard: Int = 0,
      maxNodes: Int = 200): String = {
    val path = resolveRoot(spark, path0)
    val rows = nodesDf(spark, path, loadMetaAt(spark, path), Seq(shard))
      .filter(col("node") < maxNodes)
      .select(col("node"), col("row_id"), col("neighbors"))
      .collect()
      .sortBy(_.getInt(0))
    val sb = new StringBuilder(s"digraph shard$shard {\n")
    rows.foreach { r =>
      val node = r.getInt(0)
      sb.append(s"""  n$node [label="${r.getLong(1)}"];\n""")
      r.getAs[mutable.Seq[Int]](2).foreach { t =>
        if (t < maxNodes) sb.append(s"  n$node -> n$t;\n")
      }
    }
    sb.append("}\n").toString
  }

  /** Graph-connectivity check (V6 / §4.3 gate 3a, build.rs:1717-1753): BFS
    * from each shard's start node over its adjacency, summed across shards.
    * Distributed: each shard's BFS runs inside its own task; only one count
    * per shard crosses the wire. A healthy index returns `numRows`. */
  def reachableCount(spark: SparkSession, path0: String): Long = {
    import spark.implicits._
    val path = resolveRoot(spark, path0)
    val meta = loadMetaAt(spark, path)
    nodesDf(spark, path, meta, 0 until meta.numShards)
      .select(col("shard"), col("node"), col("neighbors"))
      .groupByKey(_.getAs[Int]("shard"))
      .mapGroups { (_, it) =>
        val adj = mutable.Map.empty[Int, Array[Int]]
        it.foreach(r => adj(r.getAs[Int]("node")) = r.getAs[mutable.Seq[Int]]("neighbors").toArray)
        val seen = mutable.BitSet(0)
        val queue = mutable.Queue(0)
        while (queue.nonEmpty) {
          adj.getOrElse(queue.dequeue(), Array.emptyIntArray).foreach { t =>
            if (seen.add(t)) queue.enqueue(t)
          }
        }
        seen.size.toLong
      }
      .reduce(_ + _)
  }

  /**
   * The built Vamana graph as a row-id edge list `(src: long, dst: long)` —
   * "the graph IS the index" (reference: the neighbor lists of
   * graph/mod.rs:212-266 are the whole data structure). This is the 100 TB
   * input for the link-analysis operators ([[graft.operators.GraphOps]]):
   * instead of materializing a kNN graph with a quadratic join, reuse the
   * out-edges the index build already paid for.
   *
   * Shape: one explode + one equi-join on `(shard, node)` to translate
   * neighbor positions back to row ids — both sides are partition-pruned
   * scans of the same nodes table, no driver state, no broadcast of
   * anything corpus-sized. Edges are within-shard by construction (each
   * shard is an independent sub-graph), so the join never crosses shards.
   *
   * Reflects the COMPACTED graph: delta-appended rows (G9) have no
   * neighbor lists until compaction folds them in, and tombstoned rows
   * still carry their structural edges (they route traversal; callers
   * curating on rank should anti-join their own tombstone set).
   */
  def edges(spark: SparkSession, path0: String): DataFrame = {
    val path = resolveRoot(spark, path0)
    val meta = loadMetaAt(spark, path)
    val nodes = nodesDf(spark, path, meta, 0 until meta.numShards)
    val dstIds = nodes.select(col("shard"), col("node"),
      col("row_id").as("dst"))
    nodes.select(col("shard"), col("row_id").as("src"),
        explode(col("neighbors")).as("node"))
      .join(dstIds, Seq("shard", "node"))
      .select(col("src"), col("dst"))
  }
}
