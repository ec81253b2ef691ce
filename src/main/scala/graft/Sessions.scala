package graft

import org.apache.spark.sql.SparkSession

/** One place for engine session defaults so Verify/Bench/tests agree.
  *
  * Scale notes: `shuffle.partitions` is sized to the local core count here;
  * on a real cluster this is AQE-coalesced anyway (`adaptive.enabled`). The
  * nanosAsLong flag is needed because the synthetic `events` table carries
  * ns-precision timestamps (see [[Tables.events]]).
  */
object Sessions {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // pinned, not defaulted: the production skew posture is AQE runtime
      // splitting (SkewAqeSpec proves it engages and agrees with the
      // manual Skew.saltedJoin fallback); a Spark default flip must not
      // silently change the engine's behavior
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")

  def local(cpus: Int = Runtime.getRuntime.availableProcessors): SparkSession = {
    val spark = builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop every storage block the finished query left behind. Persistent
    * RDDs cover both .cache() and localCheckpoint() (localCheckpoint
    * persists its RDD); unpersisting a checkpointed RDD is safe here
    * because the owning DataFrame reference is already out of scope. */
  def releaseStorage(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Silence the per-plan `WindowExec: No Partition Defined` WARN in the
    * long-running driver-contract mains (Bench/Verify). Every unpartitioned
    * window in the engine is an allowlisted bounded-input global window —
    * WindowLintSpec proves the boundedness mechanically — so the warning
    * carries no information there, but repeated hundreds of times it buries
    * the one JSON line the driver parses out of the run log (round-11
    * verdict item 6). Tests keep the default level: a NEW unbounded global
    * window should still be loud somewhere humans look.
    */
  def quietWindowWarnings(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
}
