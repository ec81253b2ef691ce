package graft

/** dev: time one named query — args: sfDir name [reps]. Warmup + reps.
  * Storage is released between reps (same hygiene as [[Bench]]): queries
  * that cache/localCheckpoint internally otherwise accumulate blocks
  * across reps and later reps measure GC pressure, not the plan (rep-5
  * spikes of 3–5× were reproducible before the cleanup). */
object QueryBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = Sessions.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def release(): Unit = { Sessions.releaseStorage(spark); System.gc() }
    val fn = SparkEntry.queries(name)
    // toRdd.count(), matching Bench's timing exactly (df.count() lets
    // Catalyst prune unevaluated output columns — isolation minima would
    // undercut the toRdd-based budgets they are folded against)
    def runFully(): Unit = { fn(spark, sfDir).queryExecution.toRdd.count() }
    runFully()
    release()
    val times = (1 to reps).map { i =>
      val t0 = System.nanoTime()
      runFully()
      val t = (System.nanoTime() - t0) / 1e9
      println(f"QBENCH rep $i: $t%.2f s (uptime ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f)")
      release()
      t
    }
    println(f"QBENCH $name min=${times.min}%.2f times=${times.map(t => f"$t%.2f").mkString(",")}")
    spark.stop()
  }
}
