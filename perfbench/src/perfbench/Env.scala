package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.chaining._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.VectorKernels

/** Latency samples and outcome counts of one operation kind. A failed
  * operation (an exception or a failed check) is counted, never timed. */
final class OpStats {
  val latMs = new ConcurrentLinkedQueue[Double]()
  val attempted = new AtomicLong()
  val failed = new AtomicLong()
}

/**
 * What one run shares: the session, the seeded generator, the recorder of
 * latencies, failures and recall pairs, the span recorder and the Spark
 * listener. Raw values go to the result file; every statistic is computed
 * from them by `perfbench/stats.py`.
 */
final class Env(val workload: String, val seed: Long, val seconds: Double,
    val trace: Trace, val dir: String) {
  /** A traced run: layer probes run in all of its window, spans only in the
    * traced quarters (see [[alternate]]) and after the window. */
  val tracedRun: Boolean = trace.enabled
  trace.enabled = false
  val gen = new Gen(seed)
  val cpus: Int = Runtime.getRuntime.availableProcessors()
  val ops = new java.util.concurrent.ConcurrentHashMap[String, OpStats]()
  val failures = new ConcurrentLinkedQueue[String]()
  /** (returned ids, exact top-k ids) of the reads recall is measured on. */
  val recall = new ConcurrentLinkedQueue[(Seq[Long], Seq[Long])]()
  /** Named raw values for the result file. */
  val values = mutable.LinkedHashMap.empty[String, Any]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  var spark: SparkSession = _
  var listener: OpListener = _

  def stats(kind: String): OpStats = ops.computeIfAbsent(kind, _ => new OpStats)

  def fail(kind: String, msg: String): Unit = {
    stats(kind).failed.incrementAndGet()
    if (failures.size < 20) failures.add(s"$kind: $msg")
  }

  /**
   * One attempted operation of `kind`: runs `f` as a request (a root span
   * named `kind` in the traced run) with Spark work attributed to `kind`,
   * then `check`s the result. Only an operation that returns and passes its
   * check adds a latency sample.
   */
  def attempt[T](kind: String)(f: => T)(check: T => Option[String]): Option[T] = {
    val st = stats(kind)
    st.attempted.incrementAndGet()
    val sc = spark.sparkContext
    val saved = sc.getLocalProperty(OpListener.OpKey)
    sc.setLocalProperty(OpListener.OpKey, kind)
    try {
      val t0 = System.nanoTime()
      val r = trace.op(kind)(f)
      val ms = (System.nanoTime() - t0) / 1e6
      check(r) match {
        case Some(msg) => fail(kind, msg); None
        case None => st.latMs.add(ms); Some(r)
      }
    } catch {
      case e: Exception => fail(kind, e.toString.take(300)); None
    } finally sc.setLocalProperty(OpListener.OpKey, saved)
  }

  /** Runs `f` with its Spark work attributed to `kind`, untimed. */
  def as[T](kind: String)(f: => T): T = {
    val sc = spark.sparkContext
    val saved = sc.getLocalProperty(OpListener.OpKey)
    sc.setLocalProperty(OpListener.OpKey, kind)
    try f finally sc.setLocalProperty(OpListener.OpKey, saved)
  }

  def newSession(conf: Map[String, String]): SparkSession = {
    if (spark != null) spark.stop()
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$dir/spark")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$dir/hadoop")
    conf.foreach { case (k, v) => b.config(k, v) }
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    listener = new OpListener
    spark.sparkContext.addSparkListener(listener)
    spark
  }

  def writeTable(rows: Array[Gen.Row], path: String): Unit = {
    val s = spark
    import s.implicits._
    rows.toSeq.map(r => (r.id, r.vec, r.labels)).toDF("id", "embedding", "labels")
      .write.parquet(path)
  }

  /** Rows as a delta micro-batch: (row_id, vec). */
  def deltaBatch(rows: Seq[Gen.Row]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.map(r => (r.id, r.vec)).toDF("row_id", "vec")
  }

  /**
   * Set-up, repeated `reps` times: a fresh session, the generated table
   * written as Parquet, and `open` (the index's cold open — the first query
   * after a restart). `build` runs once, after the first table is written;
   * its time is `build_s`, not set-up.
   */
  def setup(reps: Int, conf: Map[String, String], rows: Array[Gen.Row])(
      build: String => Unit)(open: String => Unit): String = {
    val times = mutable.ArrayBuffer.empty[Double]
    var src = ""
    for (rep <- 0 until reps) {
      val t0 = System.nanoTime()
      newSession(conf)
      src = s"$dir/table$rep"
      writeTable(rows, src)
      var built = 0L
      if (rep == 0) {
        val b0 = System.nanoTime()
        listener.resetPhases()
        build(src)
        built = System.nanoTime() - b0
        values("build_s") = built / 1e9
        Seq(graft.index.DiskannIndex.PhaseTraining, graft.index.DiskannIndex.PhaseBuilding,
          graft.index.DiskannIndex.PhaseFinalizing).zip(Seq("train", "graph", "finalize"))
          .foreach { case (p, n) =>
            org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
            layer(s"index.build_${n}_s") = listener.phaseSeconds(p)
          }
      }
      graft.index.GraphSearcher.invalidate(indexPath)
      open(src)
      times += (System.nanoTime() - t0 - built) / 1e9
    }
    values("setup_s") = times.toSeq
    gcAtSetup = gcMs()
    src
  }

  val indexPath: String = s"$dir/index"

  private var gcAtSetup = 0L

  def gcMs(): Long = {
    import java.lang.management.ManagementFactory
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  }

  /** GC time since set-up ended. */
  def gcSinceSetupMs(): Long = gcMs() - gcAtSetup

  /** Closed loop: `clients` threads each repeat `body(client, rnd)` until
    * the deadline. Returns the window's wall seconds. */
  def closedLoop(clients: Int, windowS: Double)(body: (Int, java.util.Random) => Unit): Double = {
    val t0 = System.nanoTime()
    val deadline = t0 + (windowS * 1e9).toLong
    val threads = (0 until clients).map { c =>
      val rnd = gen.choices(7000L + c)
      val t = new Thread(() => {
        while (System.nanoTime() < deadline) body(c, rnd)
      }, s"client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** The traced run's window in quarters: untraced, traced, traced,
    * untraced. The two halves sit at the same mean time into the run, so a
    * JIT or cache that is still warming favours neither, and they differ by
    * the tracing alone. `loop(seconds, tag)` returns its wall seconds;
    * untraced quarters record under `<kind>.untraced`. Leaves tracing on and
    * returns the traced half's seconds. */
  def alternate(loop: (Double, String) => Double): Double =
    (0 until 4).map { q =>
      trace.enabled = q == 1 || q == 2
      val s = loop(seconds / 4, if (trace.enabled) "" else ".untraced")
      if (trace.enabled) s else 0.0
    }.sum.tap(_ => trace.enabled = true)

  def heapMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc(); System.gc()
    (rt.totalMemory() - rt.freeMemory()) / 1e6
  }

  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)

  /** Per-op Spark counts for the traced run, per call of the op. */
  def sparkLayer(kinds: Seq[String]): Unit = {
    drain()
    kinds.foreach { k =>
      val calls = math.max(1L, stats(k).attempted.get())
      val snap = listener.snapshot(k)
      OpListener.Fields.zip(snap).foreach { case (f, v) =>
        layer(s"spark.$k.$f") = if (stats(k).attempted.get() == 0) 0.0 else v.toDouble / calls
      }
    }
  }

  def result(): Map[String, Any] = Map(
    "workload" -> workload,
    "seed" -> seed,
    "ops" -> ops.asScala.map { case (k, s) =>
      k -> Map("lat_ms" -> s.latMs.asScala.toSeq, "attempted" -> s.attempted.get(),
        "failed" -> s.failed.get())
    }.toMap,
    "failures" -> failures.asScala.toSeq,
    "recall" -> recall.asScala.toSeq.map { case (a, b) => Seq(a, b) },
    "values" -> values,
    "layer" -> layer,
    "spans" -> trace.all.map(s => Seq(s.op, s.id, s.parent, s.name, s.startNs, s.endNs)))
}

/** Exact top-k over explicit rows: the ground truth and the distances the
  * program reports (true cosine distance, true L2). */
object Exact {
  def dist(metric: String): (Array[Float], Array[Float]) => Double = metric match {
    case "cosine" => VectorKernels.cosineDist
    case "l2" => (a, b) => math.sqrt(VectorKernels.l2sq(a, b))
  }

  def topK(rows: Iterable[Gen.Row], q: Array[Float], k: Int, metric: String,
      keep: Gen.Row => Boolean = _ => true): Seq[(Long, Double)] = {
    val d = dist(metric)
    val heap = mutable.PriorityQueue.empty[(Double, Long)] // max-heap
    rows.foreach { r =>
      if (keep(r)) {
        val x = (d(r.vec, q), r.id)
        if (heap.size < k) heap.enqueue(x)
        else if (Ordering[(Double, Long)].lt(x, heap.head)) { heap.dequeue(); heap.enqueue(x) }
      }
    }
    heap.toSeq.sorted.map { case (dd, id) => (id, dd) }
  }

  /** Why a top-k answer is malformed, if it is: more than k rows, duplicate
    * ids, or an order other than ascending (dist, row_id). */
  def orderProblem(hits: Seq[(Long, Double)], k: Int): Option[String] =
    if (hits.length > k) Some(s"${hits.length} rows for k=$k")
    else if (hits.map(_._1).distinct.length != hits.length) Some("duplicate ids")
    else hits.sliding(2).collectFirst {
      case Seq((i1, d1), (i2, d2)) if d1 > d2 || (d1 == d2 && i1 >= i2) =>
        s"not ordered by (dist, row_id) at ($i1,$d1),($i2,$d2)"
    }
}
