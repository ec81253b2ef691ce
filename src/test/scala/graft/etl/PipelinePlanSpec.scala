package graft.etl

import java.time.LocalDate
import java.util.concurrent.{Executors, TimeUnit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, JsonToStructs, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import graft.SparkSpec

/** Plan-shape guard for one shop job: each pipeline stage adds a few
  * projections (one per UDF island layer), not one per column, and each raw
  * line is parsed once — the adapters' skip and validation filters must not
  * be pushed beneath the `from_json` projection, where every pushed copy
  * parses the line again. Driver-side planning of a job scales with both.
  * `Pipeline.process` analyses each pipeline once per session and rebinds
  * it to every job's input; the rebound plan must be the plan a fresh
  * analysis gives. */
class PipelinePlanSpec extends SparkSpec {

  private val lines = Map(
    "AH" -> """{"webshopId":2,"title":"AH Appels","salesUnitSize":"1 kg","mainCategory":"Groente","priceBeforeBonus":2.5,"currentPrice":2.5,"isBonus":true,"bonusMechanism":"2 voor 4.00","orderAvailabilityStatus":"IN_ASSORTMENT","discountLabels":[{"code":"DISCOUNT_X_FOR_Y","count":2,"price":4.0}]}""",
    "JUMBO" -> """{"product":{"id":"j2","title":"Jumbo Kipfilet","category":"vlees","subtitle":"500 g","prices":{"price":549},"promotions":[{"tags":[{"text":"25% korting"}]}],"inAssortment":true}}""",
    "ALDI" -> """{"articleNumber":"a1","title":"Chocolade","price":"1.49","oldPrice":"1.99","mainCategory":"snoep","salesUnit":"200 g"}""",
    "PLUS" -> """{"PLP_Str":{"SKU":"p2","Name":"Plus Gehakt","OriginalPrice":"4.50","NewPrice":"3.99","Product_Subtitle":"Per 500 g","PromotionLabel":"Fixed price €3.99","PromotionStartDate":"2026-08-01","PromotionEndDate":"2026-08-31","IsAvailable":true,"Categories":{"List":[{"Name":"vlees"}]}}}""")

  private val adapters = Seq(Shops.Ah, Shops.Jumbo, Shops.AldiAdapter(LocalDate.of(2026, 10, 12)),
    Shops.Plus)

  /** Ceiling on the ScalaUDF calls in each job's optimized plan: a layout
    * that inlines a UDF island into several columns calls it several times
    * per row. */
  private val udfCeiling = Map("AH" -> 8, "JUMBO" -> 9, "ALDI" -> 9, "PLUS" -> 10)

  private def exprCount(plan: LogicalPlan)(pf: PartialFunction[Any, Unit]): Int =
    plan.collect { case p => p.expressions.map(_.collect { case e if pf.isDefinedAt(e) => e }.size).sum }.sum

  private def jsonParses(plan: LogicalPlan): Int =
    exprCount(plan) { case _: JsonToStructs => }

  /** A one-product input file for `a`, plus one malformed line. */
  private def input(a: Shops.ShopAdapter): String = {
    val dir = java.nio.file.Files.createTempDirectory("plan-shape")
    java.nio.file.Files.writeString(dir.resolve("in.jsonl"), lines(a.shopType) + "\n{\"x\":")
    dir.resolve("in.jsonl").toString
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def projects(plan: LogicalPlan): Int = plan.collect { case p: Project => p }.size

  adapters.foreach { a =>
    test(s"${a.shopType}: few projections and one JSON parse per line") {
      val (good, bad) = Pipeline.readShopJsonLines(spark, a, input(a))
      val job = Sinks.withRunCounters(Pipeline.process(a, good)).queryExecution
      val projects = this.projects(job.analyzed)
      val udfs = exprCount(job.optimizedPlan) { case _: ScalaUDF => }
      assert(projects <= 12, s"$projects Project nodes in the analyzed job plan")
      assert(jsonParses(job.optimizedPlan) == 1, job.optimizedPlan.treeString)
      assert(jsonParses(good.queryExecution.optimizedPlan) == 1)
      assert(udfs <= udfCeiling(a.shopType), s"$udfs ScalaUDF calls in the job plan")
      // the single parse still splits good and malformed lines
      assert(good.count() == 1 && bad.count() == 1)
    }
  }

  adapters.foreach { a =>
    test(s"${a.shopType}: a repeat process rebinds the analysed pipeline, same rows and plan shape") {
      val path = input(a)
      def good = Pipeline.readShopJsonLines(spark, a, path)._1
      val first = Pipeline.process(a, good)
      val repeat = Pipeline.process(a, good)
      val fresh = Dedupe.keepBest(CalculateFields(a.unified(good)))
      // handed to Dataset.ofRows already analysed: the analyzer skips it
      assert(repeat.queryExecution.logical.analyzed)
      val want = Sinks.withRunCounters(fresh).queryExecution
      Seq(first, repeat).foreach { df =>
        assert(rows(df) == rows(fresh) && rows(df).size == 1)
        val job = Sinks.withRunCounters(df).queryExecution
        assert(projects(job.analyzed) == projects(want.analyzed), job.analyzed.treeString)
        assert(jsonParses(job.optimizedPlan) == 1)
        assert(exprCount(job.optimizedPlan) { case _: ScalaUDF => } ==
          exprCount(want.optimizedPlan) { case _: ScalaUDF => })
        // the placeholder the pipeline was analysed over is gone
        assert(job.analyzed.collect { case r: LocalRelation => r }.isEmpty, job.analyzed.treeString)
      }
    }
  }

  test("a SQL conf change re-analyses: the adapter's casts carry the current eval mode") {
    val path = input(Shops.Ah)
    val was = spark.conf.get("spark.sql.ansi.enabled")
    try Seq("false", "true", "false").foreach { ansi =>
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      val job = Pipeline.process(Shops.Ah, Pipeline.readShopJsonLines(spark, Shops.Ah, path)._1)
      val casts = job.queryExecution.analyzed.collect { case p => p.expressions }.flatten
        .flatMap(_.collect { case c: Cast => c })
      val mode = if (ansi.toBoolean) EvalMode.ANSI else EvalMode.LEGACY
      assert(casts.nonEmpty && casts.forall(_.evalMode == mode),
        s"ansi=$ansi: ${casts.map(_.evalMode).distinct}")
    } finally spark.conf.set("spark.sql.ansi.enabled", was)
  }

  test("four threads processing one adapter at once get identical rows") {
    val path = input(Shops.Jumbo)
    // a conf value no template has seen, so all four threads miss together
    val key = "graft.test.pipelineTemplate"
    spark.conf.set(key, java.util.UUID.randomUUID.toString)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val jobs = (1 to 4).map(_ => pool.submit(() =>
        rows(Pipeline.process(Shops.Jumbo, Pipeline.readShopJsonLines(spark, Shops.Jumbo, path)._1))))
      val got = jobs.map(_.get(120, TimeUnit.SECONDS))
      assert(got.distinct.size == 1 && got.head.size == 1, got)
    } finally { pool.shutdownNow(); spark.conf.unset(key) }
  }
}
