package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Engine-level counters for one workload run, from a SparkListener the
  * benchmark registers: task CPU/run/GC time, shuffle and spill bytes,
  * job/stage/task counts, per-stage skew, and the wall interval of every
  * job (so time spent inside Spark jobs can be attributed to a window of
  * driver code). `reset()` clears all state between runs. */
final class Profile extends SparkListener {
  private var cpuNs, runMs, gcMs, shWrite, shRead, spill = 0L
  private var jobs, stages, tasks = 0L
  private var skew = 1.0
  private val stageTaskMs = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1; jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime; runMs += m.executorRunTime; gcMs += m.jvmGCTime
      shWrite += m.shuffleWriteMetrics.bytesWritten
      shRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      spill += m.diskBytesSpilled
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    stageTaskMs.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber())).foreach { ts =>
      // max/median task time; tiny stages say nothing about skew
      val s = ts.sorted
      val med = s(s.size / 2)
      if (s.size >= 4 && med >= 5) skew = math.max(skew, s.last.toDouble / med)
    }
  }

  def reset(): Unit = synchronized {
    cpuNs = 0; runMs = 0; gcMs = 0; shWrite = 0; shRead = 0; spill = 0
    jobs = 0; stages = 0; tasks = 0; skew = 1.0
    stageTaskMs.clear(); jobStart.clear(); jobSpans.clear()
  }

  /** Seconds of Spark-job wall inside [fromMs, toMs] (epoch ms), with
    * overlapping jobs counted once. */
  def jobSecondsWithin(fromMs: Long, toMs: Long): Double = synchronized {
    val clipped = jobSpans.map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total, curS, curE = 0L
    var open = false
    clipped.foreach { case (s, e) =>
      if (open && s <= curE) curE = math.max(curE, e)
      else { if (open) total += curE - curS; curS = s; curE = e; open = true }
    }
    if (open) total += curE - curS
    total / 1000.0
  }

  /** The `spark.*` metrics; `wallS` is the timed wall the tasks ran in,
    * `cores` the local parallelism. */
  def metrics(wallS: Double, cores: Int): Map[String, Double] = synchronized {
    Map(
      "spark.task_cpu_s" -> cpuNs / 1e9,
      "spark.task_run_s" -> runMs / 1e3,
      "spark.gc_s" -> gcMs / 1e3,
      "spark.shuffle_write_bytes" -> shWrite.toDouble,
      "spark.shuffle_read_bytes" -> shRead.toDouble,
      "spark.spill_bytes" -> spill.toDouble,
      "spark.jobs" -> jobs.toDouble,
      "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble,
      "spark.skew_max" -> skew,
      "spark.outside_tasks_s" -> (wallS - runMs / 1e3 / cores))
  }
}

object Profile {
  /** Registers a fresh profile; `drain` must run before reading it. */
  def register(sc: SparkContext): Profile = {
    val p = new Profile
    sc.addSparkListener(p)
    p
  }
  def drain(sc: SparkContext): Unit = org.apache.spark.BusDrain(sc)
}

/** Spans around the benchmark's calls into each layer: name, start, end,
  * parent and the id of the operation (job) they belong to. Kept in memory
  * and written once, at the end of a traced run. */
final class Spans(enabled: Boolean) {
  import Spans.Span
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1
  private var op = ""

  def forOp[T](opId: String)(body: => T): T = {
    val prev = op; op = opId
    try body finally op = prev
  }

  /** Runs `body` inside a span; the span is recorded only when tracing. */
  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def all: Seq[Span] = done.toSeq

  def toJson: String = done.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${Json.str(s.op)},"name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[", ",\n", "]")
}

object Spans {
  final case class Span(id: Int, parent: Int, op: String, name: String,
      startNs: Long, endNs: Long)
}
