package perfbench

import graft.Sessions

/** One benchmark run inside one JVM:
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --inputs DIR --work DIR --out FILE
  *
  * Runs workload W on the inputs the generator wrote to DIR (from seed N),
  * with a closed loop of S seconds, checks the outputs and writes the
  * result (metrics, attempted/failed counts, failed checks, and spans when
  * tracing) as JSON to FILE. `run.py` is the entry point that builds,
  * generates, launches this and prints the final line. */
object Main {
  val cores = 4

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val work = opt("work")
    val spark = Sessions.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Sessions.quietWindowWarnings()
    val r = new Run(spark, opt("inputs"), work, opt("seconds").toDouble, opt("trace") == "1")
    r.log("session ready")
    try workload match {
      case "etl_bulk" => EtlBulk.run(r)
      case "etl_jobs" => EtlJobs.run(r)
      case "near_dup" => NearDup.run(r)
      case other => sys.error(s"unknown workload $other")
    } catch {
      case e: Throwable => r.problems += s"workload aborted: $e"; e.printStackTrace()
    }
    r.log("workload done")
    val json = Json.obj(Seq(
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "failed_ops" -> r.failedIds.map(Json.str).mkString("[", ",", "]"),
      "problems" -> r.problems.map(Json.str).mkString("[", ",", "]"),
      "metrics" -> Json.obj(r.metrics.map { case (k, v) => k -> Json.num(v) }),
      "named" -> Json.obj(r.named.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), json)
    if (r.trace) java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$work/spans.json"), r.spans.toJson)
    spark.stop()
  }
}
