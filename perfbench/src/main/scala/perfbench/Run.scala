package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run: the session, the listener profile,
  * the span recorder, operation counters, output-check failures and the
  * metrics each workload reports.
  *
  * Load model: a closed loop. The benchmark process is the only client; it
  * issues the next operation when the previous one has finished. */
final class Run(val spark: SparkSession, val inputs: String, val work: String,
    val seconds: Double, val trace: Boolean) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val profile: Profile = Profile.register(spark.sparkContext)
  val spans = new Spans(trace)
  val manifest: com.fasterxml.jackson.databind.JsonNode = Json.parseFile(s"$inputs/manifest.json")

  var attempted = 0L
  private val failedOps = mutable.Set.empty[String]
  def failed: Long = failedOps.size.toLong
  def failedIds: Seq[String] = failedOps.toSeq.sorted
  val problems = mutable.ArrayBuffer.empty[String]
  /** Metrics by name: end-to-end ones and, in traced runs, per-layer ones. */
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  /** The workload-level names of the end-to-end metrics (e.g.
    * rows_per_s), printed beside the generic ones: name -> (value, unit). */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]

  /** Progress line with seconds since JVM start, for the run's log. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1fs] $msg")

  /** Records an output check; a failed check fails the run. */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) problems += what
    ok
  }

  /** One operation: counted as attempted, and as failed when it throws or
    * its checks fail. */
  def op[T](id: String)(body: => T)(ok: T => Boolean): Option[T] = {
    attempted += 1
    val r = try Some(body) catch {
      case e: Throwable => problems += s"$id threw: $e"; None
    }
    if (!r.exists(ok)) failedOps += id
    r
  }

  /** Marks an operation failed by a check made after it ran. */
  def fail(id: String): Unit = failedOps += id

  /** Untimed warm-up: runs each code path of the workload once on small
    * inputs, so JIT compilation, code generation and lazy initialisation
    * land neither in set-up nor in the timed section. The paths run
    * concurrently, one driver thread each (at most `cores`), because cold
    * compilation is mostly single-threaded driver work. */
  def warmup(paths: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(paths.size, cores))
    val t = Run.seconds {
      val fs = paths.map(p => pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = p()
      }))
      try fs.foreach(_.get()) finally pool.shutdown()
    }._2
    releaseStorage()
    log(s"warm-up: $t s")
  }

  /** Set-up, measured: runs `rep` `n` times (each from fresh state) and
    * returns the median wall of one repetition. */
  def setupReps(n: Int)(rep: Int => Unit): Double = {
    val ts = (0 until n).map(i => Run.seconds(rep(i))._2)
    log(s"set-up repetitions: ${ts.mkString(", ")}")
    Run.median(ts)
  }

  /** Drops every cached block and persisted RDD the previous operations
    * left, so repetitions do not inherit each other's storage. */
  def releaseStorage(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** The timed section: runs operation i = 0, 1, ... until `seconds` have
    * passed (at least `minOps`, at most `maxOps`, stopping only after whole
    * groups of `unit` operations); `after(i)` runs between
    * operations, outside their walls (output checks). Reports the
    * end-to-end metrics every workload has; `items(i)` is the work in
    * operation i (input lines, documents). Traced runs also take the heap
    * after a full collection between operations, outside their walls. */
  def timed(minOps: Int, maxOps: Int = Int.MaxValue, unit: Int = 1,
      after: Int => Unit = _ => ())(
      opAt: Int => Unit)(items: Int => Double): IndexedSeq[Double] = {
    profile.reset()
    var heap, cpuNs = 0L
    val t0 = System.nanoTime()
    val walls = mutable.ArrayBuffer.empty[Double]
    var i = 0
    while (i < maxOps &&
        (i < minOps || i % unit != 0 || (System.nanoTime() - t0) / 1e9 < seconds)) {
      val cpu0 = Run.cpuNs()
      walls += spans.forOp(s"op$i")(Run.seconds(spans("op")(opAt(i)))._2)
      cpuNs += Run.cpuNs() - cpu0
      after(i)
      if (trace) heap = math.max(heap, Run.heapAfterGc())
      i += 1
    }
    log(s"timed section: $i operations in ${(System.nanoTime() - t0) / 1e9} s")
    val cpuS = cpuNs / 1e9
    Profile.drain(spark.sparkContext)
    val totalItems = (0 until i).map(items).sum
    metrics ++= Seq(
      "items_per_s" -> totalItems / walls.sum,
      "op_s_p50" -> Run.quantile(walls.toSeq, 0.5),
      "op_s_p75" -> Run.quantile(walls.toSeq, 0.75),
      "cpu_ms_per_item" -> cpuS * 1000 / totalItems)
    if (trace) {
      metrics ++= profile.metrics(walls.sum, cores)
      metrics("jvm.heap_after_gc_mb") = heap / (1024.0 * 1024.0)
    }
    walls.toIndexedSeq
  }
}

object Run {
  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Driver heap in use right after a full collection: the live set. */
  def heapAfterGc(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty)
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
