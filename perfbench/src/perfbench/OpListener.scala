package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._

/**
 * Attributes Spark work to the benchmark operation that issued it. The
 * calling thread names its operation in the local property [[OpKey]]
 * (Spark copies local properties into every job it submits); index builds
 * are further split by the program's own `DiskannIndex.PhasePrefix` job
 * groups.
 */
final class OpListener extends SparkListener {
  import OpListener._

  final class Counts {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var inputBytes = 0L
    var shuffleBytes = 0L
    var schedulerDelayMs = 0L
  }

  private val byOp = new ConcurrentHashMap[String, Counts]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val jobPhase = new ConcurrentHashMap[Int, String]()
  // phase -> (first job start, last job end), epoch ms
  private val phaseSpan = new ConcurrentHashMap[String, Array[Long]]()

  private def counts(op: String): Counts = byOp.computeIfAbsent(op, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(OpKey))).getOrElse("other")
    counts(op).synchronized {
      val c = counts(op)
      c.jobs += 1
      c.stages += e.stageIds.length
    }
    e.stageIds.foreach(s => stageOp.put(s, op))
    props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(graft.index.DiskannIndex.PhasePrefix))
      .foreach { g =>
        val phase = g.stripPrefix(graft.index.DiskannIndex.PhasePrefix)
        jobPhase.put(e.jobId, phase)
        phaseSpan.compute(phase, (_, old) =>
          if (old == null) Array(e.time, e.time) else { old(0) = old(0).min(e.time); old })
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobPhase.get(e.jobId)).foreach { phase =>
      phaseSpan.compute(phase, (_, old) =>
        if (old == null) Array(e.time, e.time) else { old(1) = old(1).max(e.time); old })
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = Option(stageOp.get(e.stageId)).getOrElse("other")
    val c = counts(op)
    val m = e.taskMetrics
    val info = e.taskInfo
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        // the Spark UI's definition of scheduler delay
        c.schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      }
    }
  }

  /** (jobs, stages, tasks, input bytes, shuffle bytes, scheduler delay ms)
    * attributed to `op` so far. */
  def snapshot(op: String): Array[Long] = {
    val c = counts(op)
    c.synchronized(Array(c.jobs, c.stages, c.tasks, c.inputBytes, c.shuffleBytes,
      c.schedulerDelayMs))
  }

  /** Wall seconds from the first job start to the last job end of a build
    * phase since the last [[resetPhases]]. */
  def phaseSeconds(phase: String): Double =
    Option(phaseSpan.get(phase)).map(a => (a(1) - a(0)) / 1000.0).getOrElse(0.0)

  def resetPhases(): Unit = { phaseSpan.clear(); jobPhase.clear() }
}

object OpListener {
  val OpKey = "perfbench.op"
  val Fields = Seq("jobs", "stages", "tasks", "input_bytes", "shuffle_bytes",
    "scheduler_delay_ms")
}
