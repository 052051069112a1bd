package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import graft.operators.Similarity.{TopKAggregator, TopKState}

/** Property tests for the mergeable bounded top-k aggregator — it carries
  * the map-side combine of `knnJoin` AND `searchDistributed`'s final merge,
  * so reduce/merge must agree with a naive global sort for EVERY partition
  * split, and merge must be order-insensitive (Spark gives no combine-order
  * guarantee). */
object TopKAggregatorPropSpec extends Properties("TopKAggregator") {

  private val hits: Gen[List[(Long, Double)]] =
    Gen.listOf(Gen.zip(Gen.chooseNum(0L, 30L), Gen.chooseNum(0.0, 4.0)))

  private def naive(xs: List[(Long, Double)], k: Int): Seq[(Long, Double)] =
    xs.sortBy { case (id, d) => (d, id) }.take(k)

  private def reduceAll(agg: TopKAggregator, xs: List[(Long, Double)]): TopKState =
    xs.foldLeft(agg.zero)(agg.reduce)

  property("reduce-then-finish == naive (dist, id) sort") =
    forAll(hits, Gen.chooseNum(1, 8)) { (xs, k) =>
      val agg = new TopKAggregator(k)
      agg.finish(reduceAll(agg, xs)) == naive(xs, k)
    }

  property("any partition split + merge == global result") =
    forAll(hits, Gen.chooseNum(1, 8), Gen.chooseNum(0, 100)) { (xs, k, cut0) =>
      val agg = new TopKAggregator(k)
      val cut = if (xs.isEmpty) 0 else cut0 % (xs.length + 1)
      val (l, r) = xs.splitAt(cut)
      val merged = agg.merge(reduceAll(agg, l), reduceAll(agg, r))
      agg.finish(merged) == naive(xs, k)
    }

  property("merge is commutative") =
    forAll(hits, hits, Gen.chooseNum(1, 8)) { (xs, ys, k) =>
      val agg = new TopKAggregator(k)
      val a = reduceAll(agg, xs)
      val b = reduceAll(agg, ys)
      agg.finish(agg.merge(a, b)) == agg.finish(agg.merge(b, a))
    }

  property("distinctIds: any split + merge == top-k of the (id -> min dist) collapse") =
    forAll(hits, Gen.chooseNum(1, 8), Gen.chooseNum(0, 100)) { (xs, k, cut0) =>
      val agg = new TopKAggregator(k, distinctIds = true)
      val want = naive(xs.groupMapReduce(_._1)(_._2)(math.min).toList, k)
      val cut = if (xs.isEmpty) 0 else cut0 % (xs.length + 1)
      val (l, r) = xs.splitAt(cut)
      agg.finish(reduceAll(agg, xs)) == want &&
        agg.finish(agg.merge(reduceAll(agg, l), reduceAll(agg, r))) == want
    }

  property("merge with zero is identity") =
    forAll(hits, Gen.chooseNum(1, 8)) { (xs, k) =>
      val agg = new TopKAggregator(k)
      val s = reduceAll(agg, xs)
      agg.finish(agg.merge(s, agg.zero)) == agg.finish(s) &&
        agg.finish(agg.merge(agg.zero, s)) == agg.finish(s)
    }
}
