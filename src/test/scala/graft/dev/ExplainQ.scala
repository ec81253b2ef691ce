package graft

/** Prints the formatted physical plan of each named query:
  * `Test/runMain graft.ExplainQ <sfDir> q101_triangles,q147_kcore`.
  *
  * Expression ids (`#123`), exchange ids (`plan_id=7`), RDD ids
  * (`MapPartitionsRDD[45]`) and the source line of an RDD's call site
  * (`Graph.scala:89`) are replaced by `N`, so two checkouts' dumps of the
  * same plan `diff` clean. */
object ExplainQ {
  def normalise(plan: String): String = plan
    .replaceAll("#\\d+", "#N")
    .replaceAll("plan_id=\\d+", "plan_id=N")
    .replaceAll("RDD\\[\\d+\\]", "RDD[N]")
    .replaceAll("(\\w+\\.scala):\\d+", "$1:N")

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(8)
    spark.sparkContext.setLogLevel("WARN")
    for (name <- args(1).split(",")) {
      val df = SparkEntry.queries(name)(spark, args(0))
      println(s"==== $name")
      println(normalise(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)))
    }
    spark.stop()
  }
}
