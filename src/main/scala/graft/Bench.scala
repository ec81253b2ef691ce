package graft

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line.
  *
  * The printed line reports the total over ALL queries but per-query detail
  * only for a fixed headline set: the harness that consumes this output
  * keeps a bounded tail of the run log, and a 100+-entry JSON line gets
  * truncated past parseability (BENCH_r01/r02 both record "parsed": null
  * for exactly this reason). The full per-query map goes to
  * bench_full.json, REWRITTEN AFTER EVERY QUERY so a mid-run crash still
  * leaves a parseable artifact for the completed prefix.
  *
  * Storage hygiene: many operators cache()/localCheckpoint() internally
  * (iterative graph ops, LSH shingle tables, shop-adapter eval barriers).
  * Those blocks are scoped to one query, but in a single long-lived JVM
  * they are only reclaimed when the driver GCs the DataFrame references —
  * BENCH_r03 accumulated blocks across 123x2 runs until executors could no
  * longer heartbeat (rc=1 at 2,406 s). So after every run the loop drops
  * ALL persistent RDDs and cached relations eagerly, and periodically
  * nudges the JVM so the ContextCleaner can release checkpoint blocks
  * whose cleanup rides on reference GC. Safe because no query memoizes a
  * DataFrame across invocations (each `fn(spark, sfDir)` call builds a
  * fresh plan).
  *
  * Warmup policy: only the headline queries get an untimed warmup run
  * (JIT + codegen + parquet footer caching matter where the number is
  * individually reported); a second run of every sub-second query would
  * double the loop's storage churn for no reported benefit.
  *
  * Optional args: `Bench q26_ngram_jaccard,q27_minhash_lsh` runs a subset
  * (fallback chunk mode if a future surface outgrows one JVM again).
  */
object Bench {
  /** Representative, most-expensive queries — one per major subsystem. */
  val headline: Seq[String] = Seq(
    "q1_agg", "q3_join_agg", "q9_running_window", "q14_topk_per_group",
    "q26_ngram_jaccard", "q27_minhash_lsh", "q29_ann_topk",
    "q40_ah_adapter", "q42_aldi_adapter", "q44_calculate_fields",
    "q66_connected_components", "q83_column_profile",
    "q92_curation_funnel", "q98_corpus_pipeline",
  )

  /** Pinned box-speed controls, timed FIRST each full run (the
    * BENCH_BUDGET.json drift protocol, mechanized per the round-10
    * verdict): two stable queries whose code hasn't moved since round 7,
    * one sustained-regex/codegen-bound (q19) and one shuffle/agg-bound
    * (q199). `control_median` = median(time / committed floor) is the
    * run's box-speed factor; bench_diff divides every per-query ratio by
    * it before flagging, so a contended box can no longer manufacture
    * fleet-wide fake regressions (the forensic pattern rounds 8-10 each
    * re-derived by hand). Floors are the committed BENCH_BUDGET.json
    * values — BenchControlSpec fails the build if they drift apart.
    * NOTE these are the floors of the DEDICATED control pass (fresh-JVM
    * warmup + min-of-2, min-of-3 sessions; BENCH_BUDGET.json key
    * `control_floors`), a different measurement context from the same
    * queries' in-run `queries[]` floors — the control pass reads ~15%
    * faster than an in-run slot, so mixing the two would bias every
    * normalized ratio. */
  val controls: Seq[String] = Seq("q19_promo_parse", "q199_kmv")
  // q19's floor re-based in round 12 (min-of-3 dedicated control-pass
  // sessions, same protocol): the round's scalar-kernel + pre-sort-barrier
  // optimizations moved q19's own code, so the round-11 floor (1.447) no
  // longer measures box speed. q199 untouched by the round — floor kept.
  val controlFloors: Map[String, Double] =
    Map("q19_promo_parse" -> 1.208, "q199_kmv" -> 0.846)

  /** In-run auto-retry (round-11 verdict item 3). Single-shot in-run
    * timings have forensically-established 2-6x one-shot tails on this box
    * (q42 19.2 s in-run vs 7.56 s isolated, q427 17.2 vs 3.4 in adjacent
    * runs — three rounds of close-time flags were ALL such spikes). So a
    * query whose single shot would flag under dev/bench_diff.py's gate
    * (control-normalized ratio > FlagRatio AND absolute delta > AbsFloorSec
    * vs its committed BENCH_BUDGET.json floor) gets ONE immediate same-JVM
    * re-measure, and the artifact reports the MIN of the two shots — a
    * retry can only lower a reading ([[foldRetry]]), never mask a real
    * regression: a genuine slowdown reproduces on the immediate re-run and
    * still flags. Only flagged queries pay the extra wall. Both raw shots
    * are preserved in the artifact's `retries` map for audit. */
  val FlagRatio = 1.5
  val AbsFloorSec = 1.0

  def shouldRetry(elapsed: Double, floor: Double, boxFactor: Double): Boolean =
    elapsed >= 0 && floor > 0 && boxFactor > 0 &&
      (elapsed / floor) / boxFactor > FlagRatio &&
      (elapsed - floor) > AbsFloorSec

  /** min of the two shots; a failed (-1) retry never improves on — and a
    * failed first shot is never masked by — the other reading. */
  def foldRetry(first: Double, second: Double): Double =
    if (first < 0) first
    else if (second < 0) first
    else math.min(first, second)

  /** The committed per-query floors (BENCH_BUDGET.json `queries`), used
    * only to DECIDE retries — flagging itself stays in bench_diff.py.
    * Missing file (e.g. a bare checkout) degrades to no retries. */
  def loadBudgetFloors(path: String = "BENCH_BUDGET.json"): Map[String, Double] =
    try {
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(path))
      val qs = root.get("queries")
      if (qs == null) Map.empty
      else {
        val it = qs.fields()
        val b = Map.newBuilder[String, Double]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble() }
        b.result()
      }
    } catch { case _: Throwable => Map.empty }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Sessions.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Sessions.quietWindowWarnings()
    val subset = args.headOption.map(_.split(",").map(_.trim).toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => subset.forall(_.contains(n)) }

    def fmt(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    def jsonMap(rs: Seq[(String, Double)]) =
      rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    // "timing":"toRdd" marks the methodology switch (round 7, commit
    // aee88b8): numbers before it were df.count()-timed (Catalyst prunes
    // unevaluated output columns) and are NOT comparable — a regression
    // tool diffing across the switch would misread a ~1.8x "slowdown"
    // subset runs write bench_subset.json so isolation re-measures can
    // never clobber the committed full-run artifact (a round-8 hygiene
    // flag); SPARK_GRAFT_BENCH_OUT overrides either (the scale sweep
    // points it at per-factor files)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (subset.isDefined) "bench_subset.json" else "bench_full.json")

    // Box-speed control pass (full runs; SPARK_GRAFT_CONTROLS=1 forces it
    // on a subset run): per control one untimed warmup then min-of-2
    // timed, BEFORE the surface so the factor reflects this session's
    // box. Only meaningful against the committed sf0.1 floors — the
    // scale sweep's per-factor subset runs skip it (scale_diff has its
    // own 1x twin for normalization).
    val timeControls = subset.isEmpty ||
      sys.env.get("SPARK_GRAFT_CONTROLS").contains("1")
    val controlTimes: Seq[(String, Double)] =
      if (!timeControls) Seq.empty
      else controls.flatMap { name =>
        SparkEntry.queries.get(name).map { fn =>
          def once(): Double = {
            val t0 = System.nanoTime()
            fn(spark, sfDir).queryExecution.toRdd.count()
            (System.nanoTime() - t0) / 1e9
          }
          try { once(); () } catch { case _: Throwable => }
          Sessions.releaseStorage(spark)
          val t = try {
            val a = once(); Sessions.releaseStorage(spark); math.min(a, once())
          } catch { case _: Throwable => -1.0 }
          Sessions.releaseStorage(spark)
          name -> t
        }
      }
    val controlMedian: Option[Double] = {
      val rs = controlTimes.collect {
        case (n, t) if t > 0 => t / controlFloors(n)
      }.sorted
      if (rs.isEmpty) None
      else Some(if (rs.size % 2 == 1) rs(rs.size / 2)
                else (rs(rs.size / 2 - 1) + rs(rs.size / 2)) / 2)
    }
    val controlJson = controlMedian.map(m =>
      s""","controls":${jsonMap(controlTimes)},"control_median":${fmt(m)}""")
      .getOrElse("")

    // retry evidence: name -> (first shot, retry shot); queries[] holds the
    // min, so the artifact stays bench_diff-compatible while keeping both
    // raw readings auditable
    val retries = scala.collection.mutable.ArrayBuffer.empty[(String, (Double, Double))]
    def retriesJson: String =
      if (retries.isEmpty) ""
      else retries.map { case (k, (a, b)) =>
        "\"" + k + "\":[" + fmt(a) + "," + fmt(b) + "]"
      }.mkString(""","retries":{""", ",", "}")

    def writeFull(rs: Seq[(String, Double)]): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outPath),
        s"""{"total":${fmt(rs.map(_._2).sum)},"timing":"toRdd"$controlJson$retriesJson,"queries":${jsonMap(rs)}}""")

    // retries are decided against BENCH_BUDGET.json floors, which are
    // sf0.1/local[32] measurements — on any other dataset (the 10x/30x
    // scale-sweep dirs) the comparison is meaningless and every heavy
    // query would "flag", so retries only arm in the budget's own context
    val floors =
      if (sfDir.contains("sf0.1")) loadBudgetFloors() else Map.empty[String, Double]
    val boxFactor = controlMedian.getOrElse(1.0)
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var done = 0
    ordered.foreach { case (name, fn) =>
      // the first query of the run also gets a warmup: it would otherwise
      // absorb the whole JVM's first-job cost (codegen compiler init,
      // parquet footer caching) and report ~8x its steady state
      // toRdd.count(), NOT df.count(): count() lets Catalyst prune the
      // final aggregate/projection expressions (only output CARDINALITY
      // is needed), so a query ending in a small aggregate would be
      // timed with its actual compute optimized away — round 7 caught
      // q168's 10×-data overflow hiding behind exactly this (the probe
      // threw, the benched count() didn't). toRdd materializes every
      // output column, so the timing covers the full query.
      def runFully(): Unit = { fn(spark, sfDir).queryExecution.toRdd.count() }
      if (headline.contains(name) || results.isEmpty) {
        try runFully() catch { case _: Throwable => }
        Sessions.releaseStorage(spark)
      }
      def timedShot(): Double = {
        val t0 = System.nanoTime()
        // a failing query records -1, not its elapsed time — breakage must
        // be visible in the JSON, not masked as a fast success
        try { runFully(); (System.nanoTime() - t0) / 1e9 }
        catch { case _: Throwable => -1.0 }
      }
      val first = timedShot()
      val elapsed =
        if (floors.get(name).exists(shouldRetry(first, _, boxFactor))) {
          Sessions.releaseStorage(spark)
          val second = timedShot()
          retries += ((name, (first, second)))
          foldRetry(first, second)
        } else first
      results += name -> elapsed
      Sessions.releaseStorage(spark)
      done += 1
      if (done % 8 == 0) System.gc()
      writeFull(results.toSeq)
    }
    val total = results.map(_._2).sum
    val failed = results.count(_._2 < 0)
    val head = results.filter { case (k, _) => headline.contains(k) }
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","timing":"toRdd","n_queries":${results.size},"failed":$failed,"retried":${retries.size}$controlJson,"queries":${jsonMap(head.toSeq)},"sf":"$sfDir"}""")
    Console.out.flush()
    spark.stop()
  }
}
