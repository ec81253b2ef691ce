package perfbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.{Pipeline, Shops, Sinks}

/** The benchmark's timed ETL action must evaluate every output column. A
  * `df.count()` lets Catalyst prune the columns nobody reads, and with them
  * the CalculateFields UDFs; the JSON sink the benchmark times must not. */
class MaterializationSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = graft.Sessions.builder("local[2]", 2).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val lines = Seq(
    """{"product":{"id":"1","title":"Melk halfvol","category":"zuivel","subtitle":"1 l","prices":{"price":119},"inAssortment":true,"promotions":[{"tags":[{"text":"2 voor 2.00"}]}]}}""",
    """{"product":{"id":"2","title":"Kaas jong","category":"kaas","subtitle":"500 g","prices":{"price":459},"inAssortment":true}}""",
    """{"product":{"id":"3","title":"Koffie""")

  private def input(): String = {
    val dir = Files.createTempDirectory("perfbench-mat")
    Files.write(dir.resolve("JUMBO.jsonl"), java.util.Arrays.asList(lines: _*))
    dir.toString
  }

  test("the timed sink write keeps every CalculateFields UDF; count() would not") {
    val dir = input()
    val (good, _) = Pipeline.readShopJsonLines(spark, Shops.Jumbo, s"$dir/JUMBO.jsonl")
    val full = EtlBulk.udfCount(
      Sinks.withRunCounters(Pipeline.process(Shops.Jumbo, good)).queryExecution.executedPlan)
    val adapterOnly = EtlBulk.udfCount(Shops.Jumbo.unified(good).queryExecution.executedPlan)
    assert(full > adapterOnly, "CalculateFields adds UDF calls to the plan")

    val capture = new EtlBulk.PlanCapture
    spark.listenerManager.register(capture)
    val out = EtlBulk.job(spark, Shops.Jumbo, s"$dir/JUMBO.jsonl", s"$dir/sink", "t", new Spans(false))
    spark.listenerManager.unregister(capture)
    assert(out.result.status == "completed" && out.result.nRows == 2)
    assert(capture.plans.map(EtlBulk.udfCount).max >= full)

    // the pruning the benchmark avoids: count() plans no output column
    val counting = new EtlBulk.PlanCapture
    spark.listenerManager.register(counting)
    Pipeline.process(Shops.Jumbo, good).count()
    spark.listenerManager.unregister(counting)
    assert(counting.plans.map(EtlBulk.udfCount).max < full)
  }

  test("the sink gets the 32 contract columns; its rows keep contract order") {
    val dir = input()
    val contract = graft.model.UnifiedProduct.requiredFields
    val out = EtlBulk.job(spark, Shops.Jumbo, s"$dir/JUMBO.jsonl", s"$dir/sink", "t", new Spans(false))
    assert(out.columns == contract)
    // the JSON sink leaves null fields out, so a row is the contract's
    // non-null subset, still in contract order
    val keys = spark.read.text(s"$dir/sink/JUMBO")
      .selectExpr("json_object_keys(value)").collect().map(_.getSeq[String](0))
    assert(keys.length == 2)
    assert(keys.forall(k => k == contract.filter(k.contains) && k.contains("unified_id")))
    assert(spark.read.text(s"$dir/sink/JUMBO_errors").count() == 1)
  }
}
