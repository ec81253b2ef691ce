package graft.etl

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Job execution model (SURVEY.md §2.13/§3.2): the reference's
  * `processing_jobs` row with per-batch counters becomes one job row +
  * `observe()` metrics bound to the job's own `Observation` — counters
  * come from the same pass as the data (no second scan), deterministic
  * under task retries (unlike accumulators), and never taken from another
  * job's query in the same session.
  */
object Jobs {

  final case class JobResult(
      jobId: String,
      shopType: String,
      status: String,
      nRows: Long,
      nPromotions: Long,
      nInactive: Long,
      nUncategorized: Long,
      startedAtMs: Long,
      finishedAtMs: Long) {
    def durationSec: Double = (finishedAtMs - startedAtMs) / 1000.0
    def rowsPerSec: Double = if (durationSec > 0) nRows / durationSec else 0.0
  }

  /** Run one shop job: process → observe counters → sink via `write`.
    * Returns the finalized job row (completeProcessingJob analog,
    * postgres-adapter.ts:389-425). The counters come from the first
    * action `write` runs over the observed frame; a `write` that runs no
    * such action fails the job after a 30 s wait. A non-fatal error ends
    * the job as `failed: …`; an interrupt or a fatal VM error propagates. */
  def runShopJob(spark: SparkSession, adapter: Shops.ShopAdapter, raw: DataFrame,
      jobId: String)(write: DataFrame => Unit): JobResult = {
    val started = System.currentTimeMillis()
    try {
      val observation = Observation("run_summary")
      write(Sinks.withRunCounters(Pipeline.process(adapter, raw), observation))
      // observed metrics are delivered asynchronously after the action
      val m = Await.result(observation.future, 30.seconds)
      JobResult(jobId, adapter.shopType, "completed",
        nRows = m.getAs[Long]("n_rows"),
        nPromotions = m.getAs[Long]("n_promotions"),
        nInactive = m.getAs[Long]("n_inactive"),
        nUncategorized = m.getAs[Long]("n_uncategorized"),
        startedAtMs = started, finishedAtMs = System.currentTimeMillis())
    } catch {
      case NonFatal(e) =>
        JobResult(jobId, adapter.shopType, s"failed: ${e.getMessage}",
          0, 0, 0, 0, started, System.currentTimeMillis())
    }
  }

  /** A10-shaped job stats over a jobs table. */
  def jobStats(jobs: DataFrame): DataFrame =
    jobs.groupBy(col("shopType"))
      .agg(count(lit(1)).as("n_jobs"),
        count(when(col("status") === "completed", 1)).as("n_completed"),
        sum(col("nRows")).as("total_rows"))
      .withColumn("success_rate",
        when(col("n_jobs") > 0,
          round(col("n_completed") * 100.0 / col("n_jobs"), 2)).otherwise(0.0))
      .orderBy(col("shopType"))
}
