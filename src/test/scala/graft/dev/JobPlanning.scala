package graft.dev

import scala.collection.mutable.ArrayBuffer
import graft.Sessions
import graft.etl.{Pipeline, Shops, Sinks}

/** dev: driver-side planning time of one shop job, phase by phase — args:
  * inputsDir [reps]. `inputsDir` holds `<SHOP>.jsonl` files, e.g. the
  * inputs perfbench's etl_bulk run leaves in
  * `.bench_build/runs/etl_bulk-<seed>-0/inputs`. Per shop it prints the
  * median over `reps` warm builds (ms) of a first job, whose
  * `Pipeline.process` analyses the pipeline (a SQL conf value no template
  * has seen forces it), and of a repeat job, which rebinds that template.
  * Nothing runs: each build stops at the physical plan. */
object JobPlanning {
  private val phases = Seq("`readShopJsonLines`", "`Pipeline.process`", "run counters",
    "optimize", "physical plan")

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 8
    val spark = Sessions.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val shops = Seq("AH", "JUMBO", "ALDI", "PLUS")

    /** Phase times (ms) of one job's build. */
    def build(a: Shops.ShopAdapter, fresh: Boolean): Seq[Double] = {
      if (fresh) spark.conf.set("graft.dev.planKey", java.util.UUID.randomUUID.toString)
      val laps = ArrayBuffer.empty[Double]
      def lap[T](f: => T): T = {
        val t0 = System.nanoTime(); val r = f; laps += (System.nanoTime() - t0) / 1e6; r
      }
      val good = lap(Pipeline.readShopJsonLines(spark, a, s"$dir/${a.shopType}.jsonl")._1)
      val df = lap(Pipeline.process(a, good))
      val job = lap(Sinks.withRunCounters(df)).queryExecution
      lap(job.optimizedPlan)
      lap(job.executedPlan)
      laps.toSeq
    }
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)

    val adapters = shops.map(Shops.forShop)
    for (_ <- 1 to 3; a <- adapters; fresh <- Seq(true, false)) build(a, fresh)
    val got = adapters.map { a =>
      val runs = (1 to reps).map(_ => (build(a, fresh = true), build(a, fresh = false)))
      def med(f: ((Seq[Double], Seq[Double])) => Seq[Double]) =
        (phases.indices.map(i => median(runs.map(r => f(r)(i)))),
          median(runs.map(r => f(r).sum)))
      (med(_._1), med(_._2))
    }
    println(s"| phase | ${shops.map(s => s"$s first -> repeat").mkString(" | ")} |")
    println(s"|---|${shops.map(_ => "---").mkString("|")}|")
    phases.indices.foreach { i =>
      println(s"| ${phases(i)} | " + got.map { case ((f, _), (r, _)) =>
        f"${f(i)}%.0f -> ${r(i)}%.0f" }.mkString(" | ") + " |")
    }
    println("| total | " + got.map { case ((_, f), (_, r)) => f"$f%.0f -> $r%.0f" }
      .mkString(" | ") + " |")
    spark.stop()
  }
}
