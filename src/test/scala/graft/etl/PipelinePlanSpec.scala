package graft.etl

import java.time.LocalDate
import org.apache.spark.sql.catalyst.expressions.{JsonToStructs, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import graft.SparkSpec

/** Plan-shape guard for one shop job: each pipeline stage adds a few
  * projections (one per UDF island layer), not one per column, and each raw
  * line is parsed once — the adapters' skip and validation filters must not
  * be pushed beneath the `from_json` projection, where every pushed copy
  * parses the line again. Driver-side planning of a job scales with both. */
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

  adapters.foreach { a =>
    test(s"${a.shopType}: few projections and one JSON parse per line") {
      val dir = java.nio.file.Files.createTempDirectory("plan-shape")
      java.nio.file.Files.writeString(dir.resolve("in.jsonl"), lines(a.shopType) + "\n{\"x\":")
      val (good, bad) = Pipeline.readShopJsonLines(spark, a, dir.resolve("in.jsonl").toString)
      val job = Sinks.withRunCounters(Pipeline.process(a, good)).queryExecution
      val projects = job.analyzed.collect { case p: Project => p }.size
      val udfs = exprCount(job.optimizedPlan) { case _: ScalaUDF => }
      assert(projects <= 12, s"$projects Project nodes in the analyzed job plan")
      assert(jsonParses(job.optimizedPlan) == 1, job.optimizedPlan.treeString)
      assert(jsonParses(good.queryExecution.optimizedPlan) == 1)
      assert(udfs <= udfCeiling(a.shopType), s"$udfs ScalaUDF calls in the job plan")
      // the single parse still splits good and malformed lines
      assert(good.count() == 1 && bad.count() == 1)
    }
  }
}
