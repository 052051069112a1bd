package perfbench

/**
 * Benchmark entry point: runs one workload and writes its raw measurements
 * (latency samples, outcome counts, recall pairs, layer values, spans) as
 * one JSON file. `perfbench/run.py` starts it and turns the file into the
 * reported metrics.
 *
 *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <out file>
 */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.length == 2 && args(0) == "digest") {
      // the generated inputs of one seed, as a digest (determinism test)
      val g = new Gen(args(1).toLong)
      println(Gen.digest(g.rows(1, 0, 2000), g.queries(2, 64)))
      return
    }
    val Array(workload, seed, seconds, trace, dir, out) = args
    val env = new Env(workload, seed.toLong, seconds.toDouble, new Trace(trace == "1"), dir)
    try {
      workload match {
        case "point_serve" => PointServe.run(env)
        case "ingest_fresh" => IngestFresh.run(env)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      if (env.tracedRun) env.layer("jvm.gc_ms") = env.gcSinceSetupMs().toDouble
      val w = new java.io.PrintWriter(out, "UTF-8")
      try w.write(Json.write(env.result())) finally w.close()
    } finally if (env.spark != null) env.spark.stop()
  }
}
