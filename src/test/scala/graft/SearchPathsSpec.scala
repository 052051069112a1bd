package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.index.{DiskannIndex, DiskannParams}
import graft.plans.{Graft, KnnCatalog}
import graft.streaming.StreamingIngest

/** Every search entry point runs on one core, so on one index state they
  * must return the same answer: same (row_id, dist) list per query, ordered
  * by (dist, row_id), no row twice, tombstones masked and NULL-vector delta
  * rows skipped everywhere. */
class SearchPathsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dim = 16
  private val k = 7
  private val sl = 300
  private val rs = 300

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete()
  }

  private val deltaSchema = StructType(Seq(
    StructField("row_id", LongType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false)),
    StructField("labels", ArrayType(ShortType, containsNull = false))))

  private def deltaDf(rows: Seq[(Long, Array[Float], Array[Short])]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      rows.map { case (id, v, l) => Row(id, v, l) }: _*), deltaSchema)

  private def near(v: Array[Float], rnd: scala.util.Random): Array[Float] =
    v.map(x => x + 0.05f * rnd.nextGaussian().toFloat)

  /** A seeded, labeled, 4-shard cosine index over ids 0..599. */
  private def buildIndex(path: String,
      seed: Long): Map[Long, (Array[Float], Array[Short])] = {
    deleteRec(new java.io.File(path))
    val rnd = new scala.util.Random(seed)
    val main = (0L until 600L).map { id =>
      id -> (Array.fill(dim)(rnd.nextGaussian().toFloat),
        Array.fill(1 + rnd.nextInt(2))((1 + rnd.nextInt(4)).toShort).distinct.sorted)
    }.toMap
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("labels", ArrayType(ShortType, containsNull = false))))
    val df = spark.createDataFrame(java.util.Arrays.asList(
      main.toSeq.sortBy(_._1).map { case (id, (v, l)) => Row(id, v, l) }: _*), schema)
    DiskannIndex.build(df, "id", "embedding", Some("labels"), path,
      DiskannParams(metric = "cosine", shardTargetRows = 150))
    assert(DiskannIndex.loadMeta(spark, path).numShards == 4)
    main
  }

  private def assertRanked(hits: Seq[(Long, Double)], what: String): Unit = {
    assert(hits == hits.sortBy { case (rid, d) => (d, rid) },
      s"$what: not ordered by (dist, row_id): $hits")
    assert(hits.map(_._1).distinct.length == hits.length,
      s"$what: a row returned twice: $hits")
  }

  /** (qid, row_id, dist) rows as per-query (row_id, dist) lists. */
  private def byQuery(rows: Seq[(Long, Long, Double)]): Map[Long, Seq[(Long, Double)]] =
    rows.groupBy(_._1).map { case (qid, hs) =>
      qid -> hs.map(h => (h._2, h._3)).sortBy { case (rid, d) => (d, rid) } }

  private def rowsOf(df: DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  test("every top-k entry point returns the same ranked rows on one index state") {
    val path = "/tmp/graft_test_index/search_paths"
    val main = buildIndex(path, seed = 2026L)
    val rnd = new scala.util.Random(7L)
    // pending delta: batch A appended TWICE (an at-least-once replay) with a
    // NULL-vector row, a copy of main row 50 (a row transiently in both main
    // and delta), and batch B; some delta rows sit next to the queries
    val batchA: Seq[(Long, Array[Float], Array[Short])] =
      (0 until 12).map { i =>
        (1000L + i, near(main(10L * i)._1, rnd), Array[Short]((1 + i % 4).toShort))
      } ++ Seq((1020L, null, Array[Short](1)), (50L, main(50L)._1, main(50L)._2))
    val batchB = (0 until 6).map { i =>
      (1030L + i, near(main(10L * i + 5)._1, rnd), Array[Short]((1 + i % 3).toShort))
    }
    StreamingIngest.appendBatchToDelta(path)(deltaDf(batchA), 0L)
    StreamingIngest.appendBatchToDelta(path)(deltaDf(batchA), 0L)
    StreamingIngest.appendBatchToDelta(path)(deltaDf(batchB), 1L)
    // deletes hit main rows next to the queries and one delta row
    DiskannIndex.deleteRows(spark, path, Seq(0L, 20L, 40L, 1003L))
    val reg = DiskannIndex.loadTombstones(spark, path)

    val queries: Seq[(Long, Array[Float], Array[Short])] =
      (0 until 6).map(i => (i.toLong, near(main(10L * i)._1, rnd), null: Array[Short])) ++
        Seq((6L, near(main(30L)._1, rnd), Array[Short](1)),
          (7L, near(main(70L)._1, rnd), Array[Short](2, 3)))
    val qSchema = StructType(Seq(
      StructField("qid", LongType, nullable = false),
      StructField("qvec", ArrayType(FloatType, containsNull = false)),
      StructField("qlabels", ArrayType(ShortType, containsNull = false))))
    val qDf = spark.createDataFrame(java.util.Arrays.asList(
      queries.map { case (q, v, l) => Row(q, v, l) }: _*), qSchema)
    val delta = spark.read.parquet(s"$path/delta")

    // main index only (registry tombstones passed where the API takes them)
    val point = queries.map { case (q, v, l) =>
      q -> DiskannIndex.searchPoint(spark, path, v, k, sl, rs, qlabels = l,
        tombstones = reg) }.toMap
    val mainPaths = Map(
      "search" -> byQuery(rowsOf(DiskannIndex.search(spark, path, qDf, k, sl, rs,
        tombstones = reg))),
      "servePointBatch" -> byQuery(DiskannIndex.servePointBatch(spark, path,
        queries, k, sl, rs)),
      "searchDistributed" -> byQuery(rowsOf(DiskannIndex.searchDistributed(spark,
        path, qDf, k, sl, rs, tombstones = reg))))
    // main index + delta
    val pointFresh = queries.map { case (q, v, l) =>
      q -> StreamingIngest.searchPointFresh(spark, path, v, k, sl, rs,
        qlabels = l) }.toMap
    val freshPaths = Map(
      "searchFresh" -> byQuery(rowsOf(StreamingIngest.searchFresh(spark, path, qDf,
        k, sl, rs))),
      "servePointBatchFresh" -> byQuery(StreamingIngest.servePointBatchFresh(spark,
        path, queries, k, sl, rs)),
      "searchFreshDistributed" -> byQuery(rowsOf(StreamingIngest
        .searchFreshDistributed(spark, path, qDf, k, sl, rs))),
      "searchWithDelta" -> byQuery(rowsOf(DiskannIndex.searchWithDelta(spark, path,
        qDf, delta, k, sl, rs, tombstones = reg))),
      "searchDistributedFresh" -> byQuery(rowsOf(DiskannIndex
        .searchDistributedFresh(spark, path, qDf, delta, k, sl, rs,
          tombstones = reg))))

    val deltaIds = (batchA ++ batchB).map(_._1).toSet - 50L
    queries.foreach { case (q, v, l) =>
      assertRanked(point(q), s"searchPoint q=$q")
      assert(point(q).length == k)
      assert(!point(q).exists { case (rid, _) => reg(rid) || deltaIds(rid) })
      mainPaths.foreach { case (name, got) =>
        assert(got.getOrElse(q, Seq.empty) == point(q), s"$name != searchPoint, q=$q")
      }
      val fresh = pointFresh(q)
      assertRanked(fresh, s"searchPointFresh q=$q")
      assert(fresh.length == k)
      assert(!fresh.exists { case (rid, _) => reg(rid) || rid == 1020L })
      if (l != null) assert(fresh.forall { case (rid, _) =>
        val ls = main.get(rid).map(_._2).getOrElse(
          (batchA ++ batchB).find(_._1 == rid).get._3)
        ls.exists(l.contains) }, s"label filter broken q=$q: $fresh")
      freshPaths.foreach { case (name, got) =>
        assert(got.getOrElse(q, Seq.empty) == fresh, s"$name != searchPointFresh, q=$q")
      }
      // unfiltered and exhaustive at these parameters: the exact answer
      if (l == null) {
        val live = (main.map { case (id, (vec, _)) => id -> vec } ++
          (batchA ++ batchB).collect { case (id, vec, _) if vec != null => id -> vec })
          .filterNot { case (id, _) => reg(id) }
        val exact = live.toSeq
          .map { case (id, vec) => (id, graft.functions.VectorKernels.cosineDist(vec, v)) }
          .sortBy { case (id, d) => (d, id) }.take(k)
        assert(fresh == exact, s"q=$q fresh diverged from brute force")
      }
    }
    // the delta is visible: some query's nearest rows come from it
    assert(queries.exists { case (q, _, _) => pointFresh(q).exists(h => deltaIds(h._1)) })

    // SQL KnnIndexScan over a heap holding every live row once
    val src = "/tmp/graft_test_index/search_paths_src"
    deleteRec(new java.io.File(src))
    val heap = main.toSeq.map { case (id, (vec, _)) => (id, vec) } ++
      (batchA ++ batchB).collect { case (id, vec, _) if vec != null && id != 50L => (id, vec) }
    spark.createDataFrame(java.util.Arrays.asList(heap.map { case (id, vec) =>
        Row(id, vec) }: _*), StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = false)))))
      .write.parquet(src)
    Graft.enable(spark)
    KnnCatalog.register(src, KnnCatalog.Entry(path, src, "id", "embedding", None,
      "cosine"))
    spark.conf.set("graft.knn.searchListSize", sl.toString)
    spark.conf.set("graft.knn.rescore", rs.toString)
    try queries.filter(_._3 == null).foreach { case (q, v, _) =>
      val lit = s"CAST(array(${v.mkString(", ")}) AS ARRAY<FLOAT>)"
      val df = spark.sql(s"SELECT id, vec_cosine_dist(embedding, $lit) AS dist " +
        s"FROM parquet.`$src` ORDER BY vec_cosine_dist(embedding, $lit) LIMIT $k")
      assert(df.queryExecution.executedPlan.toString.contains("KnnIndexScan"))
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got.map(_._1) == pointFresh(q).map(_._1), s"SQL != searchPointFresh, q=$q")
      got.zip(pointFresh(q)).foreach { case ((_, a), (_, b)) =>
        assert(math.abs(a - b) < 1e-9, s"SQL dist $a != $b, q=$q") }
    } finally {
      KnnCatalog.unregister(src)
      spark.conf.unset("graft.knn.searchListSize")
      spark.conf.unset("graft.knn.rescore")
    }

    // radius: the point scan and the distributed batch agree
    val unlabeled = queries.filter(_._3 == null)
    val radius = unlabeled.map { case (q, _, _) => pointFresh(q)(4)._2 }.max
    val batch = byQuery(rowsOf(StreamingIngest.rangeSearchFreshDistributed(spark,
      path, qDf.filter("qlabels IS NULL"), radius, sl, rs)))
    unlabeled.foreach { case (q, v, _) =>
      val (hits, confirmed) = StreamingIngest.rangeSearchFresh(spark, path, v,
        radius, sl, rs)
      assert(confirmed)
      assertRanked(hits, s"rangeSearchFresh q=$q")
      assert(hits.length >= 5 && !hits.exists { case (rid, _) => reg(rid) })
      assert(batch.getOrElse(q, Seq.empty) == hits,
        s"rangeSearchFreshDistributed != rangeSearchFresh, q=$q")
    }
  }

  test("servePointBatchFresh: a replayed micro-batch never returns a row twice") {
    val path = "/tmp/graft_test_index/search_paths_replay"
    val main = buildIndex(path, seed = 11L)
    val rnd = new scala.util.Random(3L)
    val q = main(0L)._1
    // two rows right next to the query, appended twice (the documented
    // at-least-once replay state)
    val batch = Seq((2000L, near(q, rnd), Array[Short](1)),
      (2001L, near(q, rnd), Array[Short](2)))
    StreamingIngest.appendBatchToDelta(path)(deltaDf(batch), 0L)
    StreamingIngest.appendBatchToDelta(path)(deltaDf(batch), 0L)
    val pool = StreamingIngest.servePointBatchFresh(spark, path,
      Seq((0L, q, null)), k = 5)
    val ids = pool.map(_._2)
    assert(ids.distinct.length == 5, s"row served twice: $pool")
    assert(ids.contains(2000L) && ids.contains(2001L))
    assert(pool.map(h => (h._2, h._3)) ==
      StreamingIngest.searchPointFresh(spark, path, q, k = 5))
  }

  test("a NULL-vector delta row is skipped by every fresh path") {
    val path = "/tmp/graft_test_index/search_paths_nullvec"
    val main = buildIndex(path, seed = 5L)
    StreamingIngest.appendBatchToDelta(path)(
      deltaDf(Seq((3000L, null, Array[Short](1)))), 0L)
    val q = main(1L)._1
    val want = DiskannIndex.searchPoint(spark, path, q, k = 5)
    assert(StreamingIngest.searchPointFresh(spark, path, q, k = 5) == want)
    val qDf = spark.createDataFrame(java.util.Arrays.asList(Row(0L, q)),
      StructType(Seq(StructField("qid", LongType, nullable = false),
        StructField("qvec", ArrayType(FloatType, containsNull = false)))))
    assert(byQuery(rowsOf(StreamingIngest.searchFresh(spark, path, qDf, 5)))(0L) == want)
    assert(byQuery(rowsOf(StreamingIngest.searchFreshDistributed(spark, path, qDf,
      5)))(0L) == want)
    assert(StreamingIngest.servePointBatchFresh(spark, path, Seq((0L, q, null)),
      k = 5).map(h => (h._2, h._3)) == want)
    val (hits, _) = StreamingIngest.rangeSearchFresh(spark, path, q, 2.0)
    assert(hits.nonEmpty && !hits.exists(_._1 == 3000L))
    assert(!StreamingIngest.rangeSearchFreshDistributed(spark, path, qDf, 2.0)
      .collect().exists(_.getLong(1) == 3000L))
  }
}
