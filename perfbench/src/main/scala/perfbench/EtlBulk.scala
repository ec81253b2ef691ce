package perfbench

import java.time.LocalDate
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.etl.{CalculateFields, Dedupe, Jobs, Pipeline, Quality, Shops, Sinks}
import graft.model.UnifiedProduct

/** etl_bulk: one large job per shop. Each job reads the shop's JSON-lines
  * file (`readShopJsonLines`), runs `Pipeline.process` inside
  * `Jobs.runShopJob`, writes the K1 JSON sink and then the K4 error rows.
  * Of the workloads, this one has the most per-row work: JSON parse, adapter
  * kernels, CalculateFields UDFs and the dedup shuffle. One operation is one
  * shop job; the timed section runs whole rounds of the four shops. */
object EtlBulk {
  val shops: Seq[String] = Seq("AH", "JUMBO", "ALDI", "PLUS")

  def adapter(shop: String, aldiDate: LocalDate): Shops.ShopAdapter =
    if (shop == "ALDI") Shops.AldiAdapter(aldiDate) else Shops.forShop(shop)

  /** K4 rows for lines that did not parse, shaped like processing_errors. */
  def errorRows(bad: DataFrame, jobId: String): DataFrame =
    bad.select(lit(jobId).as("job_id"), col("raw_record"),
      lit("MALFORMED_JSON").as("error_type"), lit("error").as("severity"),
      current_timestamp().as("created_at"))

  /** A job's result, its wall, the wall of its sink write (the whole
    * pipeline, which the write evaluates) and the columns it wrote. */
  final case class JobOut(result: Jobs.JobResult, runS: Double, writeS: Double,
      columns: Seq[String])

  /** One shop job: parse → process → K1 JSON sink, then K4 error rows. */
  def job(spark: SparkSession, a: Shops.ShopAdapter, path: String, out: String,
      jobId: String, spans: Spans): JobOut = {
    val (good, bad) = Pipeline.readShopJsonLines(spark, a, path)
    var writeS = 0.0
    var columns = Seq.empty[String]
    val (res, runS) = Run.seconds(spans("jobs.runShopJob") {
      Jobs.runShopJob(spark, a, good, jobId) { df =>
        columns = df.columns.toSeq
        writeS = Run.seconds(spans("sinks.writeVersioned")(
          Sinks.writeVersioned(df, s"$out/${a.shopType}", "json")))._2
      }
    })
    spans("sinks.errors")(
      Sinks.writeVersioned(errorRows(bad, jobId), s"$out/${a.shopType}_errors", "json"))
    JobOut(res, runS, writeS, columns)
  }

  /** Number of Scala UDF calls in a physical plan, looking through AQE. */
  def udfCount(plan: SparkPlan): Int = UdfCounter.count(plan)

  private object UdfCounter extends AdaptiveSparkPlanHelper {
    def count(plan: SparkPlan): Int =
      collectWithSubqueries(plan) { case p => p }
        .map(_.expressions.map(_.collect { case u: ScalaUDF => u }.size).sum).sum
  }

  /** Captures the executed plans of actions while registered. */
  final class PlanCapture extends QueryExecutionListener {
    @volatile var plans: List[SparkPlan] = Nil
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      synchronized { plans = qe.executedPlan :: plans }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def run(r: Run): Unit = {
    val spark = r.spark
    val man = r.manifest
    val aldiDate = LocalDate.parse(man.get("aldi_date").asText)
    val adapters = shops.map(s => s -> adapter(s, aldiDate)).toMap
    val lines = shops.map(s => s -> man.get("shops").get(s).get("lines").asLong).toMap
    val out = s"${r.work}/sink"

    // Warm-up: a job per shop on the shop's first 2,000 lines.
    val slice = s"${r.work}/slice"
    r.warmup(shops.map { s => () =>
      val it = scala.io.Source.fromFile(s"${r.inputs}/$s.jsonl", "UTF-8")
      try {
        new java.io.File(s"$slice/$s").mkdirs()
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$slice/$s/part.jsonl"),
          it.getLines().take(2000).toSeq.asJava)
      } finally it.close()
      job(spark, adapters(s), s"$slice/$s", s"${r.work}/warm", s"warm-$s", new Spans(false))
      ()
    }: _*)
    // Set-up, repeated: an empty sink directory, then every shop's
    // pipeline (with its run counters) analysed, optimised and planned,
    // without running it.
    r.metrics("setup_s") = r.setupReps(3) { _ =>
      Files.delete(out)
      shops.foreach { s =>
        val (good, _) = Pipeline.readShopJsonLines(spark, adapters(s), s"${r.inputs}/$s.jsonl")
        Sinks.withRunCounters(Pipeline.process(adapters(s), good)).queryExecution.executedPlan
      }
    }

    val capture = new PlanCapture
    spark.listenerManager.register(capture)
    var jobs = Vector.empty[(String, JobOut)]
    val lastOp = scala.collection.mutable.Map.empty[String, String]
    r.timed(minOps = shops.size, unit = shops.size) { i =>
      val s = shops(i % shops.size)
      r.op(s"bulk-$i")(job(spark, adapters(s), s"${r.inputs}/$s.jsonl", out, s"bulk-$i-$s", r.spans)) { j =>
        jobs :+= (s -> j)
        lastOp(s) = s"bulk-$i"
        r.check(j.result.status == "completed", s"$s job status ${j.result.status}")
      }
      r.releaseStorage()
    }(i => lines(shops(i % shops.size)).toDouble)
    spark.listenerManager.unregister(capture)
    r.named("rows_per_s") = (r.metrics("items_per_s"), "1/s")
    r.named("job_s_p50") = (r.metrics("op_s_p50"), "s")

    checkOutputs(r, adapters, out, jobs, lastOp.toMap, capture.plans)
    r.log("output checks done")
    if (r.trace) {
      r.metrics("jobs.run_s") = jobs.map(_._2.runS).sum
      r.metrics("jobs.outside_write_s") = jobs.map(j => j._2.runS - j._2.writeS).sum
      prefixes(r, adapters)
      Kernels.measure(r)
    }
  }

  /** Output checks on the sinks the last job of each shop left; each
    * check is one Spark job over all shops. A failed check fails that
    * shop's last operation (`lastOp`). */
  private def checkOutputs(r: Run, adapters: Map[String, Shops.ShopAdapter], out: String,
      jobs: Seq[(String, JobOut)], lastOp: Map[String, String], plans: Seq[SparkPlan]): Unit = {
    val spark = r.spark
    val ran = shops.filter(s => jobs.exists(_._1 == s))
    def fact(s: String, k: String) = r.manifest.get("shops").get(s).get(k).asLong
    val bySink = input_file_name()
    // the shop a sink or error file belongs to, from its directory name
    def shopOf(c: org.apache.spark.sql.Column) = regexp_extract(c, "/sink/([A-Z]+)(_errors)?/", 1)

    // The pipeline hands the sink the 32 contract columns in order. The
    // JSON sink, with Spark's default ignoreNullFields, leaves a row's null
    // fields out; so a sink row carries a subset of the contract, in
    // contract order, and always its key.
    val contract = UnifiedProduct.requiredFields
    jobs.foreach { case (s, j) =>
      if (!r.check(j.columns == contract, s"$s: the pipeline wrote columns " +
          s"${j.columns.mkString(",")}, not the 32-field contract in order")) r.fail(lastOp(s))
    }
    // one pass over the sink text: field order, rows and distinct ids
    val sinkStats = spark.read.text(ran.map(s => s"$out/$s"): _*)
      .groupBy(shopOf(bySink).as("shop"))
      .agg(count(lit(1)), countDistinct(get_json_object(col("value"), "$.unified_id")),
        collect_set(json_object_keys(col("value"))))
      .collect().map(x => x.getString(0) -> x).toMap
    // one pass over the inputs and the K4 sink: parsed and error rows
    val counted = (ran.map { s =>
      Pipeline.readShopJsonLines(spark, adapters(s), s"${r.inputs}/$s.jsonl")._1
        .select(lit(s).as("shop"), lit("good").as("kind"))
    } :+ spark.read.text(ran.map(s => s"$out/${s}_errors"): _*)
      .select(shopOf(bySink).as("shop"), lit("k4").as("kind")))
      .reduce(_ union _).groupBy("shop", "kind").count()
      .collect().map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
    ran.foreach { s =>
      val st = sinkStats.get(s)
      val (n, ids) = st.map(x => (x.getLong(1), x.getLong(2))).getOrElse((0L, 0L))
      val orders = st.map(_.getSeq[scala.collection.Seq[String]](3).map(_.toSeq)).getOrElse(Nil)
      val (good, errs) = (counted.getOrElse((s, "good"), 0L), counted.getOrElse((s, "k4"), 0L))
      val offContract = orders.filter(o => o != contract.filter(o.contains) || !o.contains("unified_id"))
      val observed = jobs.filter(_._1 == s).last._2.result.nRows
      val ok = Seq(
        r.check(offContract.isEmpty, s"$s: sink rows whose fields are not in the 32-field " +
          "contract order: " + offContract.take(2).map(_.mkString(",")).mkString(" | ")),
        r.check(n == ids, s"$s: $n rows but $ids unified_ids after dedup"),
        r.check(n == fact(s, "expected_out"), s"$s: $n sink rows, expected ${fact(s, "expected_out")}"),
        r.check(errs == fact(s, "malformed"),
          s"$s: $errs K4 rows, planted ${fact(s, "malformed")} malformed lines"),
        r.check(good + errs == fact(s, "lines"),
          s"$s: $good good + $errs error rows != ${fact(s, "lines")} input lines"),
        r.check(observed == n, s"$s: job counted $observed rows, sink has $n")).forall(identity)
      if (!ok) r.fail(lastOp(s))
    }
    // The timed sink writes must evaluate every output column: their
    // plans carry as many UDF calls as the full pipeline's own plan, and
    // more than the adapter stage alone (the CalculateFields UDFs).
    val (good, _) = Pipeline.readShopJsonLines(spark, adapters("JUMBO"), s"${r.inputs}/JUMBO.jsonl")
    val full = udfCount(Sinks.withRunCounters(Pipeline.process(adapters("JUMBO"), good))
      .queryExecution.executedPlan)
    val unifiedOnly = udfCount(adapters("JUMBO").unified(good).queryExecution.executedPlan)
    val written = plans.map(udfCount)
    if (!r.check(full > unifiedOnly && written.nonEmpty && written.max >= full,
        s"timed sink plans carry ${written.maxOption.getOrElse(0)} UDF calls; the full " +
          s"pipeline has $full and the adapter stage alone $unifiedOnly"))
      lastOp.values.foreach(r.fail)
  }

  /** Largest disagreement the traced run accepts between the sum of the
    * stage self times and the job's own pipeline time. */
  val maxBreakdownGap = 0.25

  /** Traced run: cumulative prefixes of Pipeline.process plus the JSON
    * sink, per shop, each fully materialised (`toRdd`, the last one the real
    * sink with the job's run counters, as `Jobs.runShopJob` writes it). A
    * stage's self time is prefix k minus prefix k-1, summed over the shops.
    *
    * Every prefix plan first runs on the shop's warm-up slice, so its code
    * generation is not charged to the stage.
    *
    * The self times must add up to `pipeline.full_s`, which is measured
    * independently: the sink write of the timed job (`job`, whose write
    * evaluates `Pipeline.process`), summed over the shops. Per shop, that
    * job runs right after the prefixes, so both are equally warm. */
  private def prefixes(r: Run, adapters: Map[String, Shops.ShopAdapter]): Unit = {
    val spark = r.spark
    def full(df: DataFrame): Long = df.queryExecution.toRdd.count()
    def stages(s: String, path: String, sink: String): Seq[() => Long] = {
      val (good, _) = Pipeline.readShopJsonLines(spark, adapters(s), path)
      val unified = adapters(s).unified(good)
      val derived = CalculateFields(unified)
      val scored = Quality.withScore(derived)
      val deduped = Dedupe.keepBest(scored).drop("quality_score")
      Seq(() => full(good), () => full(unified), () => full(derived),
        () => full(scored), () => full(deduped),
        () => { Sinks.writeVersioned(Sinks.withRunCounters(deduped), sink, "json"); 0L })
    }
    val names = Seq("pipeline.parse_s", "shops.unified_s", "calculate_fields.s",
      "quality.s", "dedupe.keep_best_s", "sinks.json_s")
    val self = Array.fill(names.size)(0.0)
    val counts = Array.fill(names.size)(0L)
    var pipelineS = 0.0
    shops.foreach { s =>
      stages(s, s"${r.work}/slice/$s", s"${r.work}/prefix-warm/$s").foreach(_())
      val input = s"${r.inputs}/$s.jsonl"
      val cum = stages(s, input, s"${r.work}/prefix/$s").zipWithIndex.map { case (f, k) =>
        r.releaseStorage()
        val (n, t) = Run.seconds(r.spans(names(k))(f()))
        counts(k) += n
        t
      }
      cum.indices.foreach(k => self(k) += cum(k) - (if (k == 0) 0.0 else cum(k - 1)))
      r.releaseStorage()
      pipelineS += job(r.spark, adapters(s), input, s"${r.work}/prefix-job", s"prefix-$s", r.spans).writeS
    }
    // the comparison counts as one operation, so a gap shows in `failed`
    r.op("breakdown")(math.abs(self.sum - pipelineS) / pipelineS) { gap =>
      r.check(gap <= maxBreakdownGap, f"the stage self times add up to ${self.sum}%.3f s, " +
        f"the job's pipeline took $pipelineS%.3f s (gap ${gap * 100}%.0f %%)")
    }
    val parsed = shops.map(s => s -> Pipeline.readShopJsonLines(spark, adapters(s), s"${r.inputs}/$s.jsonl"))
    val rowsIn = shops.map(s => r.manifest.get("shops").get(s).get("lines").asLong).sum
    val rowsBad = parsed.map(p => full(p._2._2)).sum
    val skipped = parsed.map { case (s, (good, _)) => good.filter(adapters(s).skip).count() }.sum
    names.indices.foreach(k => r.metrics(names(k)) = self(k))
    r.metrics("pipeline.full_s") = pipelineS
    r.metrics("pipeline.rows_in") = rowsIn.toDouble
    r.metrics("pipeline.rows_bad") = rowsBad.toDouble
    r.metrics("shops.rows_skipped") = skipped.toDouble
    r.metrics("dedupe.rows_dropped") = (counts(3) - counts(4)).toDouble
    r.metrics("sinks.error_rows") = rowsBad.toDouble
    r.metrics("sinks.json_bytes") = shops.map(s => Files.size(s"${r.work}/sink/$s")).sum.toDouble
  }
}
