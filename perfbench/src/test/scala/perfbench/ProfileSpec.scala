package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The listener profile and the span recorder on work whose job, stage,
  * task and shuffle counts are known. */
class ProfileSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "false") // fixed plan: no AQE re-planning jobs
    .config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("counts the jobs, stages, tasks and shuffle bytes of one aggregation") {
    val p = Profile.register(spark.sparkContext)
    // 4 input partitions -> one map stage of 4 tasks, a shuffle into 3
    // partitions -> one result stage of 3 tasks; one job
    spark.range(0, 1000, 1, 4).groupBy(col("id") % 10).count().collect()
    Profile.drain(spark.sparkContext)
    val m = p.metrics(wallS = 10.0, cores = 2)
    assert(m("spark.jobs") == 1)
    assert(m("spark.stages") == 2)
    assert(m("spark.tasks") == 7)
    assert(m("spark.shuffle_write_bytes") > 0)
    assert(m("spark.shuffle_read_bytes") == m("spark.shuffle_write_bytes"))
    assert(m("spark.spill_bytes") == 0)
    assert(m("spark.task_run_s") >= 0 && m("spark.outside_tasks_s") <= 10.0)

    p.reset()
    assert(p.metrics(1.0, 2)("spark.tasks") == 0)
    spark.sparkContext.removeSparkListener(p)
  }

  test("attributes Spark-job wall to a driver-side window") {
    val p = Profile.register(spark.sparkContext)
    val t0 = System.currentTimeMillis()
    spark.range(0, 100000, 1, 2).selectExpr("sum(id)").collect()
    val t1 = System.currentTimeMillis()
    Profile.drain(spark.sparkContext)
    val inside = p.jobSecondsWithin(t0, t1)
    assert(inside > 0 && inside <= (t1 - t0) / 1000.0)
    assert(p.jobSecondsWithin(t1 + 1000, t1 + 2000) == 0)
    spark.sparkContext.removeSparkListener(p)
  }

  test("spans record name, parent and operation, only when tracing") {
    val spans = new Spans(enabled = true)
    spans.forOp("op0")(spans("outer")(spans("inner")(())))
    val all = spans.all
    val outer = all.find(_.name == "outer").get
    val inner = all.find(_.name == "inner").get
    assert(inner.parent == outer.id && outer.parent == 0)
    assert(all.forall(_.op == "op0"))
    assert(inner.startNs >= outer.startNs && inner.endNs <= outer.endNs)
    assert(spans.toJson.contains("\"name\":\"inner\""))

    val off = new Spans(enabled = false)
    assert(off("x")(42) == 42 && off.all.isEmpty)
  }

  test("quantiles interpolate like numpy") {
    assert(Run.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.5) == 2.5)
    assert(Run.quantile(Seq(4.0, 1.0, 3.0, 2.0), 0.75) == 3.25)
    assert(Run.median(Seq(5.0)) == 5.0)
  }
}
