package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.Dataset

/** A DataFrame over a plan the caller has already analysed: the plan is
  * marked analysed, so the analyzer hands it back as it is instead of
  * running its rules over it again. Lives in an `org.apache.spark.sql`
  * sub-package because `Dataset.ofRows` and `setAnalyzed` are
  * package-private there. The caller answers for the plan being resolved
  * and checked, e.g. a checked plan whose leaf was swapped for one with the
  * same output types. */
object AnalyzedFrames {
  def apply(spark: SparkSession, analyzed: LogicalPlan): DataFrame = {
    analyzed.setAnalyzed()
    Dataset.ofRows(castToImpl(spark), analyzed)
  }
}
