package graft

/** Prints the optimised logical plan and the formatted physical plan of each
  * named query or shop job:
  * `Test/runMain graft.ExplainQ <dir> q101_triangles,job:JUMBO`.
  *
  * A query name reads its tables from `<dir>` (a scale-factor directory). A
  * name `job:<SHOP>` plans that shop's job as `Jobs.runShopJob` writes it:
  * `Pipeline.process` over `readShopJsonLines` of `<dir>/<SHOP>.jsonl` (an
  * `etl_bulk` inputs directory), with the job's run counters.
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
      val df = if (name.startsWith("job:")) {
        val shop = name.stripPrefix("job:")
        val adapter = etl.Shops.forShop(shop)
        val (good, _) =
          etl.Pipeline.readShopJsonLines(spark, adapter, s"${args(0)}/$shop.jsonl")
        etl.Sinks.withRunCounters(etl.Pipeline.process(adapter, good))
      } else SparkEntry.queries(name)(spark, args(0))
      val qe = df.queryExecution
      println(s"==== $name")
      println("== Optimized Logical Plan ==")
      println(normalise(qe.optimizedPlan.treeString))
      println(normalise(qe.explainString(org.apache.spark.sql.execution.FormattedMode)))
    }
    spark.stop()
  }
}
