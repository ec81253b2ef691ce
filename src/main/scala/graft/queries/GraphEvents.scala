package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.etl.{Analytics, Events, Graph}

/** Oracle-gated graph-motif, event-sequence, and dominance operators
  * (round 3 of the training-data-pipeline surface).
  *
  * Graph queries synthesize a deterministic pseudo-random graph from
  * `orders` keys: node count m scales with the data (m = (max key + 1)/50),
  * so density stays constant and triangle counts grow with SF instead of
  * saturating — the one driver-side scalar (max key) is a bounded lookup,
  * the same legitimacy class as the IVF centroid fetch
  * (Similarity.scala). Event queries run over the real `events` table with
  * interval lengths derived from event_id arithmetic; every timestamp
  * comparison rides integral microseconds so the DuckDB re-derivation is
  * bit-exact.
  */
object GraphEvents {

  /** Shared pseudo-random graph: a = k mod m, b = (13k + 7⌊k/m⌋ + 3) mod m.
    * Both components vary with k div m, so each residue class contributes
    * ~|orders|/m distinct neighbors — constant expected degree 2·50 as the
    * data scales. */
  private def triangleEdges(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    // m as an inline broadcast scalar (crossJoin with a one-row agg), not
    // a driver-side .head(): one Spark job instead of two. m appears only
    // in projections here, so no scan pushdown is lost (contrast q102,
    // where m bounds a FILTER and the driver scalar keeps it pushable)
    val m = broadcast(orders.agg(
      expr("(max(o_orderkey) + 1) div 50").as("_m")))
    orders.crossJoin(m).select(
      (col("o_orderkey") % col("_m")).as("src"),
      ((col("o_orderkey") * 13 + expr("o_orderkey div _m") * 7 + 3)
        % col("_m")).as("dst"))
  }

  // -------------------------------------------------------- q101 triangles

  def q101Triangles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = triangleEdges(spark, dir)
    Graph.triangleCounts(e, "src", "dst").orderBy($"node")
  }

  // -------------------------------------------------------- q285 k-truss

  /** 4-truss peel ([[Graph.kTruss]], 3 fixed rounds) over the q101
    * triangle graph: surviving edges each sit in ≥ 2 triangles of the
    * peeled subgraph — the community-core screen that, unlike q147's
    * k-core, a hub cannot pass on degree alone. */
  def q285Ktruss(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = triangleEdges(spark, dir)
    Graph.kTruss(e, "src", "dst", k = 4, rounds = 3)
      .orderBy($"a", $"b")
  }

  // ------------------------------------------------------- q102 k-hop BFS

  /** Ring + skip-13 lattice on m = (max key + 1)/5 nodes (edges from the
    * first 2m order keys: k < m the ring, m ≤ k < 2m the skips), two seeds,
    * distances within 6 hops. */
  def q102Khop(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, dir)
    val m = (orders.agg(max(col("o_orderkey"))).head().getLong(0) + 1) / 5
    val e = orders.filter(col("o_orderkey") < 2 * m).select(
      when(col("o_orderkey") < m, col("o_orderkey"))
        .otherwise(col("o_orderkey") - m).as("src"),
      when(col("o_orderkey") < m, (col("o_orderkey") + 1) % m)
        .otherwise((col("o_orderkey") - m + 13) % m).as("dst"))
    val seeds = Seq(0L, m / 2).toDF("node")
    Graph.khopDistances(seeds, e, "node", "src", "dst", maxHops = 6)
      .orderBy($"node")
  }

  // --------------------------------------- q320 stationary distribution

  /** Stationary distribution ([[Graph.stationaryInt]], 3 integer power
    * iterations) of the q103 event-type transition chain: where the
    * user process spends its time in steady state — the one-vector
    * summary q103's full matrix and q236's argmax accuracy both stop
    * short of. Enum-sized state space; every step an exact floor
    * division. */
  def q320Stationary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val pairs = Tables.events(spark, dir)
      .withColumn("prev", lag($"event_type", 1).over(w))
      .filter($"prev".isNotNull)
      .groupBy($"prev".as("src"), $"event_type".as("dst"))
      .agg(count(lit(1)).as("w"))
    Graph.stationaryInt(pairs, "src", "dst", "w", iterations = 3)
      .select($"node".as("state"), $"mass")
      .orderBy($"state")
  }

  // -------------------------------------------- q325 entropy rate

  /** Entropy rate of the event-type chain: per-state transition entropy
    * ([[graft.etl.Mining.flooredEntropy]] over next-type given current)
    * weighted by the q320 stationary mass —
    *   rate_cb = Σ_s mass(s)·H(s) div Σ_s mass(s)
    * — how unpredictable the process is per step ONCE MIXED, the
    * single number behind "is this traffic becoming more random".
    * States with no outgoing arcs contribute zero entropy (coalesce,
    * left join from the mass table). One `(rate)` summary row rides
    * along with the per-state table. */
  def q325EntropyRate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val pairs = Tables.events(spark, dir)
      .withColumn("prev", lag($"event_type", 1).over(w))
      .filter($"prev".isNotNull)
      .select($"prev", $"event_type")
    val trans = pairs.groupBy($"prev".as("src"), $"event_type".as("dst"))
      .agg(count(lit(1)).as("w"))
    val mass = Graph.stationaryInt(trans, "src", "dst", "w",
      iterations = 3)
    val ent = graft.etl.Mining.flooredEntropy(pairs, "prev", "event_type")
      .select($"prev", $"ent_bits_x100")
    val per = mass.join(ent, mass("node") === ent("prev"), "left")
      .select(mass("node").as("state"), $"mass",
        coalesce($"ent_bits_x100", lit(0L)).as("ent_cb"))
    val rate = per.agg(sum($"mass").as("mass"),
        expr("CAST(sum(mass * ent_cb) div NULLIF(sum(mass), 0) AS BIGINT)")
          .as("ent_cb"))
      .select(lit("(rate)").as("state"), $"mass", $"ent_cb")
    per.unionByName(rate).orderBy($"state")
  }

  // -------------------------------------------- q337 session funnel

  /** Session-grain ordered funnel: q35's 24h-gap island sessions, each
    * classified by FIRST-time ordering view → click → purchase
    * (first click at-or-after first view, first purchase at-or-after
    * that click — the standard first-times funnel, strict about step
    * order where q107's user-grain funnel aggregates a whole history).
    * Output: one row — session counts through each stage and the
    * end-to-end conversion in bp. Same one-shuffle island window as
    * sessionize, then two enum-sized folds. */
  def q337SessionFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val dayUs = 24L * 3600 * 1000000
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val x = Tables.events(spark, dir)
      .withColumn("_pus", unix_micros(lag($"ts", 1).over(w)))
      .withColumn("brk",
        when($"_pus".isNull || unix_micros($"ts") - $"_pus" > dayUs, 1L)
          .otherwise(0L))
      .withColumn("sid", sum($"brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val per = x.groupBy($"user_id", $"sid").agg(
      min(when($"event_type" === "view", unix_micros($"ts"))).as("tv"),
      min(when($"event_type" === "click", unix_micros($"ts"))).as("tc"),
      min(when($"event_type" === "purchase", unix_micros($"ts")))
        .as("tp"))
    per.agg(count(lit(1)).as("n_sessions"),
        sum(when($"tv".isNotNull, 1L).otherwise(0L)).as("reached_view"),
        sum(when($"tv".isNotNull && $"tc" >= $"tv", 1L).otherwise(0L))
          .as("reached_click"),
        sum(when($"tv".isNotNull && $"tc" >= $"tv" && $"tp" >= $"tc", 1L)
          .otherwise(0L)).as("reached_purchase"))
      .withColumn("conv_bp", expr(
        "CAST(reached_purchase * 10000 div NULLIF(n_sessions, 0) AS BIGINT)"))
  }

  // -------------------------------------------- q370 burst dedup

  /** Idempotency dedup ([[Events.burstDedup]], 30-min gap): per
    * (user, event type), retry storms and double-fires collapse to one
    * logical event carrying its burst size — the telemetry-side dedup
    * (duplicate SENDS differ in payload, so content hashing can't
    * catch them). */
  def q370BurstDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir).select($"user_id", $"event_type",
      expr("unix_micros(ts)").as("ts_us"), $"event_id")
    Events.burstDedup(e, Seq("user_id", "event_type"), "ts_us", "event_id",
        gapUs = 30L * 60 * 1000000)
      .orderBy($"user_id", $"event_type", $"burst_id")
  }

  // -------------------------------------------- q332 CDC apply

  /** CDC-log materialization ([[Events.cdcApply]]): events replayed as
    * a change log per user (error = delete tombstone, anything else an
    * upsert of the amount) — the current-state snapshot a MERGE-ing
    * sink implies, with per-key churn counts; q154 keeps every version,
    * this keeps only what a consumer queries. */
  def q332CdcApply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val log = Tables.events(spark, dir).select($"user_id", $"event_id",
      expr("unix_micros(ts)").as("us"),
      ($"event_type" === "error").as("del"),
      graft.etl.Series.cents($"value").as("cents"))
    Events.cdcApply(log, "user_id", Seq("us", "event_id"), $"del",
        Seq("cents"))
      .orderBy($"user_id")
  }

  // -------------------------------------------- q328 path anomaly

  /** Markov path-anomaly score: each user's event sequence scored under
    * the corpus transition LM — mean per-hop surprisal in floored-log₂
    * centibits, `surp_cb = Σ(bl(tot_prev) − bl(c_prev→curr))·100 div
    * n_hops` — and the 20 most improbable users reported. The
    * session-level anomaly screen (bot loops, scripted crawls, broken
    * clients walk transitions humans don't); the per-user readout the
    * corpus-level entropy rate (q325) aggregates away. Transition
    * counts are enum-sized and broadcast; the per-user fold is one
    * combiner-friendly aggregation over the lag pairs. */
  def q328PathAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val pairs = Tables.events(spark, dir)
      .withColumn("prev", lag($"event_type", 1).over(w))
      .filter($"prev".isNotNull)
      .select($"user_id", $"prev", $"event_type")
    val c = pairs.groupBy($"prev", $"event_type").agg(count(lit(1)).as("c"))
    val tot = c.groupBy($"prev").agg(sum($"c").as("tot"))
    val scored = pairs
      .join(broadcast(c), Seq("prev", "event_type"))
      .join(broadcast(tot), Seq("prev"))
      .withColumn("_s",
        length(expr("bin(tot)")).cast("long") -
          length(expr("bin(c)")).cast("long"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_hops"),
        expr("CAST(sum(_s) * 100 div count(1) AS BIGINT)").as("surp_cb"))
    // top-k via orderBy+limit (TakeOrderedAndProject — per-partition
    // heaps, never a single-partition window over every user); the rank
    // window then covers only the 20 survivors
    val top = scored.orderBy($"surp_cb".desc, $"user_id").limit(20)
    val wr = Window.orderBy($"surp_cb".desc, $"user_id")
    top.withColumn("rk", row_number().over(wr).cast("long"))
      .select($"rk", $"user_id", $"n_hops", $"surp_cb")
      .orderBy($"rk")
  }

  // -------------------------------------------- q326 macro/micro F1

  /** Multiclass F1 panel ([[graft.etl.Mining.multiclassF1]]) for the
    * q236 majority-next-event predictor: per-class one-vs-rest
    * precision/recall/F1 from the full confusion matrix plus the
    * `(macro)`/`(micro)` summaries — the readout that exposes the
    * minority classes q236's overall accuracy averages away. */
  def q326MacroF1(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val pairs = Tables.events(spark, dir)
      .withColumn("prev", lag($"event_type", 1).over(w))
      .filter($"prev".isNotNull)
      .select($"prev", $"event_type")
    val c = pairs.groupBy($"prev", $"event_type").agg(count(lit(1)).as("n"))
    val wp = Window.partitionBy($"prev")
      .orderBy($"n".desc, $"event_type")
    val pred = c.withColumn("rk", row_number().over(wp))
      .filter($"rk" === 1)
      .select($"prev", $"event_type".as("pred_cls"))
    val conf = pairs.join(broadcast(pred), Seq("prev"))
      .groupBy($"event_type".as("true_cls"), $"pred_cls")
      .agg(count(lit(1)).as("n"))
    graft.etl.Mining.multiclassF1(conf, "true_cls", "pred_cls", "n")
      .orderBy($"cls")
  }

  // ---------------------------------------------------- q103 transitions

  def q103Transitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Events.transitionCounts(Tables.events(spark, dir),
        "user_id", "event_type", "ts")
      .orderBy($"prev_type", $"curr_type")
  }

  // ---------------------------------------- q104/q106 shared intervals

  /** Half-open intervals per event: start = ts, length 60–959 s from
    * event_id arithmetic — exact integral microseconds. */
  private def intervals(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("event_type"),
      unix_micros(col("ts")).as("start_us"),
      (unix_micros(col("ts")) +
        ((col("event_id") % 900) + 60) * 1000000L).as("end_us"))

  def q104IntervalMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Events.mergeIntervals(intervals(spark, dir),
        "event_type", "start_us", "end_us")
      .orderBy($"event_type", $"island")
  }

  def q106MaxConcurrent(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Events.maxConcurrent(intervals(spark, dir),
        "event_type", "start_us", "end_us")
      .orderBy($"event_type")
  }

  // -------------------------------------------------------- q105 skyline

  def q105Skyline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = Tables.part(spark, dir).select(
      $"p_partkey",
      round($"p_retailprice" * 100).cast("long").as("cents"),
      $"p_size")
    Analytics.skyline2D(p, "cents", "p_size").orderBy($"p_partkey")
  }

  // --------------------------------------------------------- q107 funnel

  def q107Funnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Events.funnelFurthest(Tables.events(spark, dir),
        "user_id", "event_type", "ts",
        steps = Seq("view", "click", "purchase"),
        windowUs = 86400000000L) // 24 hours — spreads users across all three levels
      .groupBy($"furthest").agg(count(lit(1)).as("n"))
      .orderBy($"furthest")
  }

  // ------------------------------------------------------ q108 retention

  def q108Retention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Events.retentionCohorts(Tables.events(spark, dir), "user_id", "ts")
      .orderBy($"cohort_day", $"week_offset")
  }

  // ------------------------------------- q109 correlated-subquery rewrite

  /** Suppliers whose balance exceeds their nation's average, written as two
    * correlated scalar subqueries — exercises Catalyst's decorrelation
    * (RewriteCorrelatedScalarSubquery turns both into aggregated joins; the
    * plan has no per-row subquery execution). The comparison cross-
    * multiplies by the nation count so it stays in exact integer cents —
    * no average-division float crosses the engine boundary. */
  def q109Decorrelate(spark: SparkSession, dir: String): DataFrame = {
    Tables.supplier(spark, dir).createOrReplaceTempView("supplier_v")
    spark.sql("""
      SELECT s.s_suppkey, s.s_nationkey,
             CAST(round(s.s_acctbal * 100) AS BIGINT) AS bal_cents
      FROM supplier_v s
      WHERE CAST(round(s.s_acctbal * 100) AS BIGINT) *
            (SELECT count(*) FROM supplier_v t
             WHERE t.s_nationkey = s.s_nationkey)
          > (SELECT sum(CAST(round(t.s_acctbal * 100) AS BIGINT))
             FROM supplier_v t WHERE t.s_nationkey = s.s_nationkey)
      ORDER BY s.s_suppkey""")
  }

  // ---------------------------------------------------------- q147 k-core

  /** Bounded-round k-core screen ([[Graph.kCore]]) on a deterministic
    * hub-skewed graph (each order key connects its residue x = k mod m to
    * (7k+1) mod (1+x), so edges point toward low ids and node j's degree
    * falls off ~50·ln(m/j) — genuine spread, unlike the q101 graph's
    * tight band). k = half the average degree (2|E| div |V| div 2, two
    * driver-side scalars — the [[triangleEdges]] `m` precedent): the tail
    * peels and the cascade genuinely propagates (round 2 removes more)
    * at every SF. Output = surviving nodes with final degree. */
  def q147Kcore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, dir)
    val mdf = broadcast(orders.agg(
      expr("(max(o_orderkey) + 1) div 50").as("_m")))
    val e = orders.crossJoin(mdf).select(
      (col("o_orderkey") % col("_m")).as("src"),
      ((col("o_orderkey") * 7 + 1) % (col("o_orderkey") % col("_m") + 1))
        .as("dst"))
    val und = Graph.undirected(e, "src", "dst").localCheckpoint()
    val nEdges = und.count()
    val nNodes = und.select($"a".as("node"))
      .union(und.select($"b".as("node"))).distinct().count()
    Graph.kCore(und, "a", "b", k = (nEdges / nNodes).toInt, rounds = 3)
      .orderBy($"node")
  }

  // ------------------------------------------------------------ q154 scd2

  /** SCD-2 history build (the dimension-versioning ETL deliverable) over
    * the events table — see [[graft.etl.Events.scd2History]]. */
  def q154Scd2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"event_type",
        unix_micros($"ts").as("us"))
    graft.etl.Events.scd2History(e, "user_id", "event_id", "us")
      .select($"event_id", $"user_id", $"event_type",
        $"valid_from_us", $"valid_to_us", $"is_current")
      .orderBy($"event_id")
  }

  // ------------------------------------------------- q461 seq patterns

  /** Sequential-pattern support (PrefixSpan-style EXISTS semantics):
    * distinct-user support of every ordered event-type pair a→b and
    * triple a→b→c — SUBSEQUENCE occurrence (gaps allowed), not the
    * contiguous n-grams q224 counts. A user supports a→b iff
    * min_ts(a) < max_ts(b), and a→b→c iff SOME b-occurrence falls
    * strictly between min_ts(a) and max_ts(c) — so the whole search
    * runs on per-(user, type) min/max stats (≤|types| rows per user)
    * plus one events⋈stats⋈stats pass bounded by |types|² matches per
    * event: linear in events with a constant fan-out, never a
    * per-user sequence blow-up. */
  def q461SeqPatterns(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .filter($"user_id".isNotNull && $"user_id" >= 0)
      .select($"user_id", $"event_type".as("t"), $"ts")
    val stats = e.groupBy($"user_id", $"t")
      .agg(min($"ts").as("mn"), max($"ts").as("mx"))
    val sa = stats.select($"user_id", $"t".as("a"), $"mn".as("a_mn"))
    val sb = stats.select($"user_id", $"t".as("b"), $"mx".as("b_mx"))
    val pairs = sa.join(sb, Seq("user_id"))
      .filter($"a" =!= $"b" && $"a_mn" < $"b_mx")
      .groupBy($"a", $"b").agg(count(lit(1)).as("n_users"))
      .select(lit(2L).as("len"), concat_ws(">", $"a", $"b").as("pattern"),
        $"n_users")
    val sc = stats.select($"user_id", $"t".as("c"), $"mx".as("c_mx"))
    val triples = e.select($"user_id", $"t".as("b"), $"ts")
      .join(sa, Seq("user_id")).filter($"a" =!= $"b" && $"a_mn" < $"ts")
      .join(sc, Seq("user_id"))
      .filter($"c" =!= $"b" && $"c" =!= $"a" && $"c_mx" > $"ts")
      .select($"user_id", $"a", $"b", $"c").distinct()
      .groupBy($"a", $"b", $"c").agg(count(lit(1)).as("n_users"))
      .select(lit(3L).as("len"),
        concat_ws(">", $"a", $"b", $"c").as("pattern"), $"n_users")
    pairs.unionByName(triples).orderBy($"len", $"pattern")
  }

  // ------------------------------------------ q462 shapley attribution

  /** Exact Shapley-value channel attribution over the 3 acquisition
    * channels {click, signup, view}: each converter's coalition is the
    * set of channels they touched STRICTLY BEFORE their first purchase,
    * v(T) = converters whose set ⊆ T, and the Shapley value reduces —
    * because v is additive over converters and symmetric within each
    * one — to splitting each converter's credit evenly across their
    * |S| touched channels (the reduction the docline states rather than
    * hides; the sixths scale keeps |S| ∈ {1,2,3} exact). Reported per
    * channel: converters touched, φ in sixths, and credit share bp.
    * One panel shuffle; the mask roll-up is 7 rows. */
  def q462ShapleyAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .filter($"user_id".isNotNull && $"user_id" >= 0)
    val fp = e.filter($"event_type" === "purchase")
      .groupBy($"user_id").agg(min($"ts").as("fp"))
    val masks = e.join(fp, "user_id").filter($"ts" < $"fp")
      .groupBy($"user_id")
      .agg(max(when($"event_type" === "click", 1L).otherwise(0L)).as("h1"),
        max(when($"event_type" === "signup", 1L).otherwise(0L)).as("h2"),
        max(when($"event_type" === "view", 1L).otherwise(0L)).as("h3"))
      .withColumn("sz", $"h1" + $"h2" + $"h3")
      .filter($"sz" >= 1)
      .withColumn("credit_sixths", expr("6 div sz"))
    // one pass over the panel; the 1-row aggregate is checkpointed so
    // the three per-channel projections don't re-scan events
    val a = masks.agg(count(lit(1)).as("v_full"),
        sum($"h1").as("t1"), sum($"h2").as("t2"), sum($"h3").as("t3"),
        sum($"h1" * $"credit_sixths").as("p1"),
        sum($"h2" * $"credit_sixths").as("p2"),
        sum($"h3" * $"credit_sixths").as("p3"))
      .localCheckpoint()
    Seq(("click", "t1", "p1"), ("signup", "t2", "p2"), ("view", "t3", "p3"))
      .map { case (name, t, p) =>
        a.select(lit(name).as("channel"),
          col(t).as("converters_touched"), col(p).as("phi_sixths"),
          expr(s"$p * 10000 div (6 * v_full)").as("share_bp"))
      }.reduce(_ unionByName _)
      .orderBy($"channel")
  }

  // --------------------------------------------------- q464 churn labels

  /** Churn-label factory (the training-label side of the retention
    * readouts): per active user-week, label churn = no activity in the
    * NEXT 2 epoch-weeks, with the right-censored tail handled
    * explicitly — weeks within 2 of the data horizon are counted as
    * unlabelable instead of silently labeled churned (the leakage that
    * poisons a churn model at the exact rows nearest to serving time).
    * One distinct user-week panel, one user-keyed lead window, one
    * inline broadcast horizon scalar; reports per-week labelable /
    * churned counts and the churn rate bp. */
  def q464ChurnLabels(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val uw = Tables.events(spark, dir)
      .filter($"user_id".isNotNull && $"user_id" >= 0)
      .select($"user_id",
        expr("CAST(datediff(to_date(ts), DATE'1970-01-01') AS LONG) div 7")
          .as("w"))
      .distinct()
    val horizon = broadcast(uw.agg(max($"w").as("max_w")))
    val lw = Window.partitionBy($"user_id").orderBy($"w")
    uw.withColumn("next_w", lead($"w", 1).over(lw))
      .crossJoin(horizon)
      .withColumn("labelable", $"w" <= $"max_w" - 2)
      .withColumn("churn",
        $"labelable" && ($"next_w".isNull || $"next_w" - $"w" > 2))
      .groupBy($"w")
      .agg(count(lit(1)).as("n_users"),
        sum(when($"labelable", 1L).otherwise(0L)).as("n_labelable"),
        sum(when($"churn", 1L).otherwise(0L)).as("n_churned"))
      .withColumn("churn_bp",
        expr("n_churned * 10000 div NULLIF(n_labelable, 0)"))
      .orderBy($"w")
  }

  // ----------------------------------------------------- q155 attribution

  /** First-touch attribution: purchases credited to the entry event type
    * of their session (24 h inactivity gap — the q35 sessionization
    * contract) — see [[graft.etl.Events.firstTouchAttribution]]. */
  def q155Attribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"event_type",
        unix_micros($"ts").as("us"))
    graft.etl.Events.firstTouchAttribution(e, "user_id", "event_id",
        "event_type", "us", gapUs = 86400000000L, creditType = "purchase")
      .orderBy($"first_touch")
  }

  // ------------------------------------------------- q161 interval join

  /** Interval-overlap join ([[graft.etl.TimeJoins.intervalOverlapJoin]]):
    * per user, every (error-interval, click-interval) pair that overlaps
    * in time, rolled up to (user_id, n_overlaps, overlap_us). Both sides
    * ride the q104 interval derivation (length 60–959 s from event_id
    * arithmetic, exact integral micros); the join itself is the bucketed
    * equi-join — no per-key nested loop — with the greatest-start bucket
    * conjunct deduplicating multi-bucket matches arithmetically. Bucket
    * width 1000 s ≈ the max interval length (≤2 buckets per interval). */
  def q161IntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def side(t: String) = Tables.events(spark, dir)
      .filter($"event_type" === t)
      .select($"user_id",
        unix_micros($"ts").as("s_us"),
        (unix_micros($"ts") +
          (($"event_id" % 900) + 60) * 1000000L).as("e_us"))
    val joined = graft.etl.TimeJoins.intervalOverlapJoin(
      side("error"), side("click"), "user_id", "s_us", "e_us",
      bucketWidthUs = 1000000000L)
    joined.groupBy($"user_id")
      .agg(count(lit(1)).as("n_overlaps"),
        sum(least($"e_us", $"b_e_us") - greatest($"s_us", $"b_s_us"))
          .cast("long").as("overlap_us"))
      .orderBy($"user_id")
  }

  // ------------------------------------------------ q164 snapshot diff

  /** CDC snapshot diff ([[graft.etl.Events.snapshotDiff]]): per-user
    * activity state (last event type by (ts, id), event count) in two
    * trailing windows — one ending at 60% of the event span, one at the
    * end, window length 40% of the span — classified added / removed /
    * changed / unchanged. The span fractions ride the q139 (min,max)
    * broadcast recipe; the diff itself is one full-outer join on
    * user_id. */
  def q164SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type",
        unix_micros($"ts").as("us"))
    val bounds = e.agg(min($"us").as("lo"), max($"us").as("hi"))
      .select(($"lo" + expr("((hi - lo) * 6) div 10")).as("t1"),
        $"hi".as("t2"), expr("((hi - lo) * 4) div 10").as("win"))
    val eb = e.join(broadcast(bounds))
    def snap(tCol: Column) = eb
      .filter($"us" > tCol - $"win" && $"us" <= tCol)
      .groupBy($"user_id")
      .agg(max(struct($"us", $"event_id", $"event_type"))
          .getField("event_type").as("last_type"),
        count(lit(1)).as("n_ev"))
    graft.etl.Events.snapshotDiff(snap($"t1"), snap($"t2"), "user_id",
        Seq("last_type", "n_ev"))
      .select($"user_id", $"change_type", $"old_last_type",
        $"new_last_type", $"old_n_ev", $"new_n_ev")
      .orderBy($"user_id")
  }

  // --------------------------------------- q177 last-touch attribution

  /** Point-in-time (last-touch) attribution: each purchase credits the
    * campaign variant (event_id mod 5) of the user's most recent click at
    * purchase time — the as-of union+window join
    * ([[graft.etl.TimeJoins.asofJoin]]: one key shuffle, linear pass, no
    * range probe), complementing q155's first-touch. Purchases with no
    * preceding click land in the NULL variant row. */
  def q177PitAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
    val clicks = e.filter($"event_type" === "click")
      .select($"user_id", unix_micros($"ts").as("c_us"),
        ($"event_id" % 5).as("variant"))
    val purchases = e.filter($"event_type" === "purchase")
      .select($"user_id", unix_micros($"ts").as("p_us"))
    graft.etl.TimeJoins.asofJoin(purchases, clicks, "user_id",
        "p_us", "c_us", "variant")
      .groupBy($"asof_variant".as("variant"))
      .agg(count(lit(1)).as("n_purchases"))
      .orderBy($"variant")
  }

  // ---------------------------------------------- q180 life table

  /** Signup→purchase survival life table ([[Events.lifeTable]]): per
    * day-offset since signup, users at risk, conversions, and censored
    * exits — the exact Kaplan–Meier input table. */
  def q180LifeTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
    Events.lifeTable(e, "user_id", "event_type", "us",
        startType = "signup", eventType = "purchase")
      .orderBy($"day_k")
  }

  // ------------------------------- q275 Nelson-Aalen cumulative hazard

  /** Nelson–Aalen cumulative hazard ([[Events.cumulativeHazard]]) over
    * the q180 signup→purchase life table: per day offset the discrete
    * conversion hazard in floored micro-units and its running sum — the
    * survival estimator that stays exact as a SUM where Kaplan–Meier's
    * product would overflow exact arithmetic. */
  def q275CumHazard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
    Events.cumulativeHazard(
        Events.lifeTable(e, "user_id", "event_type", "us",
          startType = "signup", eventType = "purchase"))
      .orderBy($"day_k")
  }

  // ------------------------------- q286 trailing distinct actives

  /** Exact DAU + trailing-7-day WAU per day
    * ([[Events.trailingDistinct]]) — the rolling reach series computed
    * exactly (the q168/q190 HLL sketches are the approximate path; this
    * is the truth they are audited against). */
  def q286TrailingDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir).select($"user_id",
      datediff(to_date($"ts"), to_date(lit("1970-01-01"))).cast("long")
        .as("t"))
    Events.trailingDistinct(e, "user_id", "t", window = 7)
      .orderBy($"d")
  }

  // ----------------------------------------- q290 watermark audit

  /** Watermark-sizing report ([[Events.latenessAudit]]) over the q263
    * late-arrival model (tx lags valid time by an id-derived delay up to
    * ~17 min): per event type the exact P50/P95/max arrival delay and
    * the share of events a 60 s / 300 s / 900 s watermark would drop —
    * the report every `withWatermark` call in `graft.streaming` should
    * be read off from. */
  def q290WatermarkAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.events(spark, dir)
      .select($"event_type", (($"event_id" % 1000) * 1000000L)
        .as("delay_us"))
    Events.latenessAudit(d, "event_type", "delay_us", Seq(60L, 300L, 900L))
      .orderBy($"event_type")
  }

  // --------------------------------------- q292 decayed engagement

  /** Recency-decayed engagement per user ([[Events.decayedSum]]): cents
    * halve for every 7 days of age relative to the newest event — the
    * exact-integer exponential-decay ranking signal (bit-shift halving,
    * no float `exp`), top-100 users by decayed score. */
  def q292DecayedScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir).filter($"value".isNotNull)
      .select($"user_id",
        datediff(to_date($"ts"), to_date(lit("1970-01-01"))).cast("long")
          .as("d"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
    val mx = e.agg(max($"d").as("_mx"))
    Events.decayedSum(
        e.crossJoin(broadcast(mx)).withColumn("age", $"_mx" - $"d"),
        "user_id", "age", "c", halflifeDays = 7L)
      .orderBy($"decayed_c".desc, $"user_id").limit(100)
  }

  // ---------------------------------- q298 position attribution

  /** U-shaped multi-touch attribution ([[Events.positionAttribution]]):
    * purchase cents split 40/20/40 across the clicks of the preceding 7
    * days with exact largest-remainder cent conservation — the
    * position-based middle ground between q155's first-touch and q177's
    * last-touch credit. */
  def q298PositionAttribution(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    Events.positionAttribution(Tables.events(spark, dir),
        purchaseType = "purchase", touchType = "click",
        windowUs = 604800000000L, bucketWidthUs = 86400000000L)
      .orderBy($"pos")
  }

  // ------------------------------------------ q181 conversion lag

  /** Click→purchase conversion-lag percentiles: each purchase's lag to
    * the user's most recent click ([[graft.etl.TimeJoins.asofJoin]]
    * picking the click time itself), bucketed by the purchase's epoch
    * weekday, p25/p50/p75 in whole seconds via
    * [[Analytics.exactPercentiles]] — an as-of + order-statistics
    * composition, no new machinery. */
  def q181ConversionLag(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
    val clicks = e.filter($"event_type" === "click")
      .select($"user_id", unix_micros($"ts").as("c_us"))
    val purchases = e.filter($"event_type" === "purchase")
      .select($"user_id", unix_micros($"ts").as("p_us"))
    val lagged = graft.etl.TimeJoins.asofJoin(purchases, clicks, "user_id",
        "p_us", "c_us", "c_us")
      .filter($"asof_c_us".isNotNull)
      .select(expr("(p_us div 86400000000L) % 7").as("dow"),
        expr("(p_us - asof_c_us) div 1000000L").as("lag_s"))
    Analytics.exactPercentiles(lagged, "dow", "lag_s").orderBy($"dow")
  }

  // ------------------------------------------- q183 link prediction

  /** Common-neighbor link prediction ([[Graph.linkPrediction]]) on the
    * q102 ring+skip lattice: every non-adjacent pair with a shared
    * neighbor, scored by shared-neighbor count and neighborhood-Jaccard
    * bp — the "predict the next edge" primitive over a sparse graph
    * (the dense q101 graph would make the candidate set ~all pairs). */
  def q183LinkPred(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, dir)
    val m = (orders.agg(max(col("o_orderkey"))).head().getLong(0) + 1) / 5
    val e = orders.filter(col("o_orderkey") < 2 * m).select(
      when(col("o_orderkey") < m, col("o_orderkey"))
        .otherwise(col("o_orderkey") - m).as("src"),
      when(col("o_orderkey") < m, (col("o_orderkey") + 1) % m)
        .otherwise((col("o_orderkey") - m + 13) % m).as("dst"))
    Graph.linkPrediction(e, "src", "dst").orderBy($"a", $"b")
  }

  // ------------------------------------------ q192 audience overlap

  /** Audience-overlap matrix: for every pair of event types, distinct
    * users doing both and the Jaccard of the two audiences in bp — the
    * segment-overlap report. One distinct projection, a per-user
    * self-join whose fan-out is bounded by the type-count squared (not
    * by data), and two broadcast joins against the per-type totals. */
  def q192AudienceOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ut = Tables.events(spark, dir)
      .select($"user_id", $"event_type").distinct()
    val tot = ut.groupBy($"event_type").agg(count(lit(1)).as("n"))
    ut.as("a").join(ut.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
      .join(broadcast(tot.select($"event_type".as("type_a"),
        $"n".as("n_a"))), "type_a")
      .join(broadcast(tot.select($"event_type".as("type_b"),
        $"n".as("n_b"))), "type_b")
      .select($"type_a", $"type_b", $"n_a", $"n_b", $"n_both",
        expr("n_both * 10000L div (n_a + n_b - n_both)").as("jaccard_bp"))
      .orderBy($"type_a", $"type_b")
  }

  // --------------------------------------------- q193 join fanout

  /** Pre-join fan-out audit: before running a suspect many-to-many join
    * (events.user_id%1000 × customer.c_custkey%1000 — deliberately
    * colliding domains), estimate the blow-up per key from the two
    * per-key counts ALONE — two combiner-shrunk aggregations and a join
    * of distinct keys, never the exploded rows. Top-10 keys by predicted
    * output rows; the diagnostic that catches a 10^12-row join plan
    * while it is still two count tables. */
  def q193JoinFanout(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val a = Tables.events(spark, dir).select(($"user_id" % 1000).as("k"))
      .groupBy($"k").agg(count(lit(1)).as("n_events"))
    val b = Tables.customer(spark, dir)
      .select(($"c_custkey" % 1000).as("k"))
      .groupBy($"k").agg(count(lit(1)).as("n_cust"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("fanout").desc, col("k"))
    a.join(b, "k")
      .withColumn("fanout", $"n_events" * $"n_cust")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 10)
      .select($"rk", $"k", $"n_events", $"n_cust", $"fanout")
      .orderBy($"rk")
  }

  // ---------------------------------------------- q194 bounce rate

  /** Session bounce rate by weekday: 1-hour-gap sessions (q35's
    * `session_window` machinery), a session "bounces" when it contains
    * exactly one event; share in bp per session-start weekday. */
  def q194BounceRate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val s = graft.etl.TimeJoins.sessionize(
      Tables.events(spark, dir), "user_id", "ts", "1 hour")
    s.select(expr("(unix_micros(session_start) div 86400000000L) % 7")
        .as("dow"), $"n_events")
      .groupBy($"dow")
      .agg(count(lit(1)).as("n_sessions"),
        sum(when($"n_events" === 1, 1L).otherwise(0L)).as("bounces"))
      .withColumn("bounce_bp",
        expr("bounces * 10000L div n_sessions"))
      .orderBy($"dow")
  }

  // ------------------------------------------- q197 degree assortativity

  /** Degree assortativity ([[Graph.degreeAssortativityBp]]) of the shared
    * pseudo-random graph — one signed scaled-r² row; the hub-mixing screen
    * run before choosing a graph partitioning. */
  def q197Assortativity(spark: SparkSession, dir: String): DataFrame = {
    val e = triangleEdges(spark, dir)
    Graph.degreeAssortativityBp(e, "src", "dst")
  }

  // ------------------------------------------------- q198 cohort LTV

  /** Cohort LTV matrix ([[Events.cohortLtvMatrix]]) over orders: cohort =
    * first order month (year·12 + month — calendar arithmetic stays in the
    * query, the operator is calendar-agnostic), cells = active buyers +
    * revenue in integer cents. */
  def q198CohortLtv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir).select(
      $"o_custkey",
      (year($"o_orderdate") * 12 + month($"o_orderdate")).cast("long")
        .as("period"),
      round($"o_totalprice" * 100).cast("long").as("cents"))
    Events.cohortLtvMatrix(o, "o_custkey", "period", "cents")
      .orderBy($"cohort", $"age")
  }

  // --------------------------------------------- q203 growth accounting

  /** Growth accounting ([[Events.growthAccounting]]) over order months:
    * per period, new / retained / resurrected / churned buyer counts —
    * the MAU decomposition whose four columns telescope the active curve. */
  def q203GrowthAccounting(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir).select(
      $"o_custkey",
      (year($"o_orderdate") * 12 + month($"o_orderdate")).cast("long")
        .as("period"))
    Events.growthAccounting(o, "o_custkey", "period").orderBy($"period")
  }

  // ---------------------------------------- q204 clustering coefficient

  /** Per-node local clustering coefficient
    * ([[Graph.clusteringCoefficientBp]]) of the shared pseudo-random
    * graph — the per-node refinement of the q101 triangle count. */
  def q204ClusteringCoef(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = triangleEdges(spark, dir)
    Graph.clusteringCoefficientBp(e, "src", "dst").orderBy($"node")
  }

  // --------------------------------------------- q205 as-of + tolerance

  /** q177's last-touch attribution with a 1-hour staleness bound
    * ([[graft.etl.TimeJoins.asofJoinTolerance]]): purchases whose latest
    * click is older than the tolerance attribute to NULL instead of a
    * stale variant; the summed gap audits freshness per variant. */
  def q205AsofTolerance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
    val clicks = e.filter($"event_type" === "click")
      .select($"user_id", unix_micros($"ts").as("c_us"),
        ($"event_id" % 5).as("variant"))
    val purchases = e.filter($"event_type" === "purchase")
      .select($"user_id", unix_micros($"ts").as("p_us"))
    graft.etl.TimeJoins.asofJoinTolerance(purchases, clicks, "user_id",
        "p_us", "c_us", "variant", tolerance = 3600000000L)
      .groupBy($"asof_variant".as("variant"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(coalesce($"asof_gap", lit(0L))).cast("long").as("total_gap_us"))
      .orderBy($"variant")
  }

  // ------------------------------------------------- q208 dwell times

  /** Per-transition dwell-time percentiles: the time users actually sit
    * between consecutive events, p25/p50/p75 µs per (prev -> curr) pair —
    * q103's transition counts weighted by how long each hop takes; one
    * user-partitioned lag + the exact nearest-rank percentile fold. */
  def q208DwellTime(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val gaps = Tables.events(spark, dir)
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"),
        $"event_id")
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .withColumn("prev_us", lag($"us", 1).over(w))
      .filter($"prev_type".isNotNull)
      .select(concat($"prev_type", lit("->"), $"event_type").as("pair"),
        ($"us" - $"prev_us").as("gap_us"))
    Analytics.exactPercentiles(gaps, "pair", "gap_us").orderBy($"pair")
  }

  // --------------------------------------------- q212 trailing count

  /** Point-in-time feature ([[graft.etl.TimeJoins.trailingCount]]):
    * clicks in the 24 h before each purchase, as a count distribution —
    * computed as a difference of two running counts off one union+window
    * pass, no range join, right rows scanned once whatever the window. */
  def q212TrailingCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
    val clicks = e.filter($"event_type" === "click")
      .select($"user_id", unix_micros($"ts").as("c_us"))
    val purchases = e.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", unix_micros($"ts").as("p_us"))
    graft.etl.TimeJoins.trailingCount(purchases, clicks, "user_id",
        "event_id", "p_us", "c_us", window = 86400000000L)
      .groupBy($"trail_cnt")
      .agg(count(lit(1)).as("n_purchases"))
      .orderBy($"trail_cnt")
  }

  // --------------------------------------------- q213 activity streaks

  /** Longest consecutive-day streak + total active days per user
    * ([[Events.activeStreaks]]) — the engagement feature the islands
    * trick computes with two user-keyed folds. */
  def q213ActiveStreaks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Events.activeStreaks(Tables.events(spark, dir), "user_id", "ts")
      .orderBy($"user_id")
  }

  // ----------------------------------------- q214 rolling audience

  /** Week-over-week audience retention per event type
    * ([[Events.audienceOverlapByPeriod]]): exact Jaccard between each
    * 7-day bucket's user set and the next one's — q192's pairwise
    * overlap matrix turned into a churn time series (the events table
    * spans ~30 days, so weeks give a real consecutive-period series). */
  def q214RollingOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir).select($"event_type", $"user_id",
      expr("datediff(to_date(ts), DATE'1970-01-01') div 7")
        .cast("long").as("wk"))
    Events.audienceOverlapByPeriod(e, "event_type", "user_id", "wk")
      .orderBy($"event_type", $"period")
  }

  // ------------------------------------- q223 bipartite projection

  /** Customer×brand co-purchase graph ([[Graph.bipartiteProjection]]):
    * which brand pairs share buyers — the item-item neighborhood build of
    * collaborative filtering, with the degree cap (20) that keeps one
    * power buyer from emitting a quadratic pair fanout. Output is bounded
    * by the brand-pair domain regardless of SF. */
  def q223BrandCopurchase(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ub = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir), $"l_orderkey" === $"o_orderkey")
      .join(Tables.part(spark, dir), $"p_partkey" === $"l_partkey")
      .select($"o_custkey".as("u"), $"p_brand".as("b"))
    Graph.bipartiteProjection(ub, "u", "b", maxDegree = 20)
      .select($"r_a".as("brand_a"), $"r_b".as("brand_b"), $"n_co")
      .orderBy($"brand_a", $"brand_b")
  }

  // ------------------------------------------- q397 modularity

  /** Newman modularity ([[Graph.modularityPpm]]) of the BRAND partition
    * on the part co-purchase graph (parts sharing an order, degree cap
    * 10): does purchasing cluster by brand more than a degree-preserving
    * random graph predicts? Per-brand e_intra / degree mass / signed
    * floored-ppm contribution — the partition-quality score any upstream
    * clustering (label prop, components, or a plain attribute) can be
    * held against. */
  def q397Modularity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = Graph.bipartiteProjection(
      Tables.lineitem(spark, dir)
        .select($"l_orderkey".as("u"), $"l_partkey".as("p")),
      "u", "p", maxDegree = 10)
    val comm = Tables.part(spark, dir).select($"p_partkey", $"p_brand")
    Graph.modularityPpm(edges, "r_a", "r_b", comm, "p_partkey", "p_brand")
      .orderBy($"community")
  }

  // --------------------------------------- q288 item-CF neighbors

  /** Top-5 cosine²-normalized co-purchase neighbors per brand
    * ([[Graph.cfNeighbors]]): q223's raw co-counts popularity-normalized
    * into the item-item CF neighborhood a recommender actually serves —
    * squared cosine keeps the score exact-integer. */
  def q288CfNeighbors(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ub = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir), $"l_orderkey" === $"o_orderkey")
      .join(Tables.part(spark, dir), $"p_partkey" === $"l_partkey")
      .select($"o_custkey".as("u"), $"p_brand".as("b"))
    Graph.cfNeighbors(ub, "u", "b", maxDegree = 20, k = 5)
      .orderBy($"item", $"rk")
  }

  // ------------------------------------------ q224 trigram paths

  /** Global 3-step path counts ([[Events.pathTrigrams]]): the navigation-
    * flow trigrams that q103's bigram transitions can't distinguish
    * (view→click→purchase vs view→click→error tell different stories).
    * Output domain is |types|³ = 125 rows at any scale. */
  def q224PathTrigrams(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Events.pathTrigrams(Tables.events(spark, dir),
        "user_id", "event_type", "ts", "event_id")
      .orderBy($"t1", $"t2", $"t3")
  }

  // --------------------------------------- q229 hierarchy flatten

  /** Category-tree closure ([[Graph.flattenHierarchy]]): a 4-ary forest
    * with roots 0–3 synthesized over the order keys (parent = id div 4 −
    * 1), every node resolving (root, depth) in 6 pointer-doubling rounds
    * — covers depth 64, i.e. 4^64 nodes, so the round count is a
    * constant at any conceivable scale while the oracle walks the same
    * forest edge-by-edge with a recursive CTE. */
  def q229HierarchyFlatten(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, dir)
    val m = (orders.agg(max(col("o_orderkey"))).head().getLong(0) + 1) / 10
    val nodes = orders.filter($"o_orderkey" < m).select(
      $"o_orderkey".as("id"),
      expr("CASE WHEN o_orderkey < 4 THEN o_orderkey ELSE o_orderkey div 4 - 1 END").as("parent"))
    Graph.flattenHierarchy(nodes, "id", "parent").orderBy($"id")
  }

  // --------------------------------------- q230 weighted shortest path

  /** Weighted ≤8-hop shortest paths from node 0 over the q102 ring+skip
    * lattice with weight = src mod 5 + 1
    * ([[Graph.boundedShortestPaths]]): Bellman–Ford relaxation rounds,
    * exact within the hop budget; the oracle enumerates every ≤8-hop
    * path (out-degree 2 ⇒ ≤ 2⁸ paths) and takes the min. */
  def q230ShortestPath(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, dir)
    val m = (orders.agg(max(col("o_orderkey"))).head().getLong(0) + 1) / 5
    val e = orders.filter(col("o_orderkey") < 2 * m).select(
      when(col("o_orderkey") < m, col("o_orderkey"))
        .otherwise(col("o_orderkey") - m).as("src"),
      when(col("o_orderkey") < m, (col("o_orderkey") + 1) % m)
        .otherwise((col("o_orderkey") - m + 13) % m).as("dst"))
      .withColumn("w", col("src") % 5 + 1)
    val seeds = Seq(0L).toDF("node")
    Graph.boundedShortestPaths(seeds, e, "node", "src", "dst", "w",
        maxHops = 8)
      .orderBy($"node")
  }

  // ------------------------------------------- q263 bitemporal as-of

  /** Bitemporal snapshot ([[graft.etl.TimeJoins.bitemporalAsOf]]): per
    * user, the amount that was valid at 2024-01-20 AS KNOWN by
    * 2024-01-21 — each event records late (tx = valid + up to ~17 min of
    * id-derived delay), so the knowledge cutoff excludes rows a
    * valid-time-only as-of would wrongly include. */
  def q263Bitemporal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val validAt = 1705708800000000L // 2024-01-20T00:00:00Z in micros
    val knownAt = 1705795200000000L // 2024-01-21T00:00:00Z
    val v = Tables.events(spark, dir)
      .filter($"value".isNotNull)
      .select(($"user_id" % 100).as("key"),
        unix_micros($"ts").as("valid_us"),
        (unix_micros($"ts") + ($"event_id" % 1000) * 1000000L).as("tx_us"),
        $"event_id",
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    graft.etl.TimeJoins.bitemporalAsOf(v, "key", "valid_us", "tx_us",
        "event_id", validAt, knownAt)
      .select($"key", $"valid_us", $"tx_us", $"event_id", $"cents")
      .orderBy($"key")
  }

  // ------------------------------------- q270 temporal reachability

  /** Time-respecting earliest arrival within 3 hops from node 0
    * ([[Graph.temporalReachability]]) over an event-derived temporal
    * edge list — edges are usable only at-or-after arrival at their
    * source, the constraint a static BFS ignores. Seed arrival emits as
    * null. */
  def q270TemporalReach(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir).select(
      ($"user_id" % 40).as("src"),
      (($"user_id" % 40) + ($"event_id" % 7) + 1).as("_d"),
      unix_micros($"ts").as("ts"))
      .select($"src", ($"_d" % 40).as("dst"), $"ts")
    val seeds = Seq(0L).toDF("node")
    Graph.temporalReachability(seeds, e, "node", "src", "dst", "ts",
        maxHops = 3)
      .select($"node",
        when($"arrival" === Long.MinValue, lit(null).cast("long"))
          .otherwise($"arrival").as("arrival_us"))
      .orderBy($"node")
  }

  // -------------------------------------------- q268 skew report

  /** Partition-key skew report ([[Analytics.skewReport]]) over the event
    * stream's user key: top-5 heaviest users with share, key count, and
    * the table-level skew factor a naive hash partitioning would eat. */
  def q268SkewReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Analytics.skewReport(Tables.events(spark, dir), "user_id", k = 5)
      .orderBy($"rk")
  }

  // -------------------------------- q240 converged shortest paths

  /** UNBOUNDED weighted shortest paths from node 1 over the
    * increment/double lattice (edges k→k+1 and k→2k, unit weight) —
    * [[Graph.shortestPaths]] iterating to CONVERGENCE, no hop budget.
    * The lattice has exponentially many routes to each node (every
    * interleaving of +1 and ×2 steps), and the cheapest path to large
    * keys is 20+ hops, so q230's hop-8 budget would be wrong on most of
    * the graph — but the true distance has a closed form the oracle
    * computes without any recursion: building n from 1 by +1/×2 takes
    * exactly ⌊log₂n⌋ doublings and popcount(n)−1 increments (the binary
    * method, provably minimal: only ×2 grows the value, and only the −1
    * of the reverse walk clears a set bit), so
    * `dist(n) = ⌊log₂n⌋ + popcount(n) − 1` — floored log via binary
    * digit count, both engine-exact.
    *
    * The closed form needs every key 1..max present (true of the
    * driver's dense o_orderkey fixture, and only of the ORACLE — the
    * operator reads real edges, carries no density assumption, and is
    * spec-tested on sparse graphs). */
  def q240ConvergedPaths(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val keys = Tables.orders(spark, dir)
      .filter($"o_orderkey" >= 1).select($"o_orderkey".as("id"))
    val present = keys.select($"id".as("dst"))
    // edges only between PRESENT keys: derived arithmetically, then
    // semi-joined so nothing relies on a dense key space
    val e = keys.select($"id".as("src"), ($"id" + 1).as("dst"))
      .union(keys.select($"id".as("src"), ($"id" * 2).as("dst")))
      .join(present, Seq("dst"), "left_semi")
      .withColumn("w", lit(1L))
    val seeds = Seq(1L).toDF("node")
    Graph.shortestPaths(seeds, e, "node", "src", "dst", "w")
      .orderBy($"node")
  }

  // ----------------------------------------- q234 group-aware split

  /** Group-aware train/val/test split (GroupKFold semantics): every node
    * of the q229 forest inherits its ROOT's sha-bucket split, so no
    * connected group ever straddles train and eval — the leakage rule for
    * entity-linked training data (q139 purges by TIME, this purges by
    * RELATION). Root resolution = 6 pointer-doubling rounds
    * ([[Graph.flattenHierarchy]]); the split is q59's content-addressed
    * bucket applied to the root id, so group membership growth never
    * reassigns existing groups. Reports per-split node/group counts and
    * the deepest member as the integrity summary. */
  def q234GroupSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, dir)
    val m = (orders.agg(max(col("o_orderkey"))).head().getLong(0) + 1) / 10
    val nodes = orders.filter($"o_orderkey" < m).select(
      $"o_orderkey".as("id"),
      expr("CASE WHEN o_orderkey < 256 THEN o_orderkey ELSE o_orderkey div 4 END").as("parent"))
    Graph.flattenHierarchy(nodes, "id", "parent")
      .withColumn("split", TrainingData.splitColumn($"root"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_nodes"),
        countDistinct($"root").as("n_groups"),
        max($"depth").as("max_depth"))
      .orderBy($"split")
  }

  // ------------------------------------ q236 Markov accuracy

  /** First-order Markov next-step accuracy: predict each step's successor
    * as the globally most frequent successor of its type (deterministic
    * argmax, count-desc then name tiebreak) and score against the actual
    * next step — the self-consistency ceiling of q103's transition model
    * (how predictable is the clickstream at order 1?). Two enum-sized
    * aggregations + one broadcast-sized prediction join; acc in bp. */
  def q236MarkovAccuracy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val pairs = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id",
        lag($"event_type", 1).over(w).as("prev_type"),
        $"event_type".as("curr_type"))
      .filter($"prev_type".isNotNull)
      .select($"prev_type", $"curr_type")
    val counts = pairs.groupBy($"prev_type", $"curr_type")
      .agg(count(lit(1)).as("n"))
    val wp = Window.partitionBy($"prev_type")
      .orderBy($"n".desc, $"curr_type")
    val pred = counts.withColumn("rn", row_number().over(wp))
      .filter($"rn" === 1).select($"prev_type", $"curr_type".as("pred_type"))
    counts.join(broadcast(pred), Seq("prev_type"))
      .groupBy($"prev_type")
      .agg(sum($"n").as("n_pairs"),
        sum(when($"curr_type" === $"pred_type", $"n").otherwise(0L))
          .as("n_correct"),
        min($"pred_type").as("pred_type"))
      .select($"prev_type", $"pred_type", $"n_pairs", $"n_correct",
        expr("n_correct * 10000 div n_pairs").as("acc_bp"))
      .orderBy($"prev_type")
  }

  // ------------------------------------ q238 rolling correlation

  /** Trailing 7-day correlation between daily click and purchase volumes
    * ([[graft.etl.Series.rollingCorr]]): q144's exact sign + scaled-r²
    * contract swept along the calendar — the coupling monitor that spots
    * the week funnels decouple. Full windows only. */
  def q238RollingCorr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, dir)
      .select(datediff(to_date($"ts"), to_date(lit("1970-01-01")))
        .cast("long").as("d"), $"event_type")
      .groupBy($"d")
      .agg(count(when($"event_type" === "click", lit(1))).as("x"),
        count(when($"event_type" === "purchase", lit(1))).as("y"))
    graft.etl.Series.rollingCorr(daily, "d", "x", "y", window = 7)
      .orderBy($"d")
  }

  // ------------------------------------ q465 horizon dedup (batch twin)

  /** Horizon-bounded dedup ([[Events.horizonDedup]], 1 h horizon) over
    * per-(user, type) event streams — the hashable BATCH TWIN of the
    * streaming `dropDuplicatesWithinWatermark` contract: first arrival
    * kept, in-horizon repeats dropped, post-horizon repeats re-admitted
    * (anchored on the last KEPT row, not the previous row — the exact
    * semantics EventsStreamingSpec pins on the streaming side; this
    * oracle row makes the contract cross-engine-checkable where the
    * streaming op itself cannot cross the DuckDB gate). */
  def q465HorizonDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // event_type IS NOT NULL mirrors the user_id guard: a NULL type
    // would NULL the concat key, which Spark's groupBy folds into one
    // dedup group while the oracle's recursive join (n.k = a.k) never
    // matches NULL — a cross-engine divergence, so neither side sees it.
    val e = Tables.events(spark, dir)
      .filter($"user_id".isNotNull && $"event_type".isNotNull)
      .select(concat($"user_id".cast("string"), lit(":"), $"event_type")
        .as("k"), unix_micros($"ts").as("us"), $"event_id")
    Events.horizonDedup(e, "k", "us", "event_id", 3600000000L)
      .select($"k", $"event_id") // overflow_n side-output dropped: zero at
      .orderBy($"event_id")      // every SF (cap 2^20 >> any dup count)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q465_horizon_dedup" -> q465HorizonDedup _,
    "q461_seq_patterns" -> q461SeqPatterns _,
    "q462_shapley_attribution" -> q462ShapleyAttribution _,
    "q464_churn_labels" -> q464ChurnLabels _,
    "q238_rolling_corr" -> q238RollingCorr _,
    "q236_markov_accuracy" -> q236MarkovAccuracy _,
    "q234_group_split" -> q234GroupSplit _,
    "q229_hierarchy_flatten" -> q229HierarchyFlatten _,
    "q230_shortest_path" -> q230ShortestPath _,
    "q263_bitemporal" -> q263Bitemporal _,
    "q268_skew_report" -> q268SkewReport _,
    "q270_temporal_reach" -> q270TemporalReach _,
    "q240_converged_paths" -> q240ConvergedPaths _,
    "q223_brand_copurchase" -> q223BrandCopurchase _,
    "q397_modularity" -> q397Modularity _,
    "q224_path_trigrams" -> q224PathTrigrams _,
    "q213_active_streaks" -> q213ActiveStreaks _,
    "q214_rolling_overlap" -> q214RollingOverlap _,
    "q212_trailing_count" -> q212TrailingCount _,
    "q205_asof_tolerance" -> q205AsofTolerance _,
    "q208_dwell_time" -> q208DwellTime _,
    "q203_growth_accounting" -> q203GrowthAccounting _,
    "q204_clustering_coef" -> q204ClusteringCoef _,
    "q197_assortativity" -> q197Assortativity _,
    "q198_cohort_ltv" -> q198CohortLtv _,
    "q192_audience_overlap" -> q192AudienceOverlap _,
    "q193_join_fanout" -> q193JoinFanout _,
    "q194_bounce_rate" -> q194BounceRate _,
    "q183_link_pred" -> q183LinkPred _,
    "q180_life_table" -> q180LifeTable _,
    "q275_cum_hazard" -> q275CumHazard _,
    "q286_trailing_distinct" -> q286TrailingDistinct _,
    "q288_cf_neighbors" -> q288CfNeighbors _,
    "q290_watermark_audit" -> q290WatermarkAudit _,
    "q292_decayed_score" -> q292DecayedScore _,
    "q298_position_attribution" -> q298PositionAttribution _,
    "q181_conversion_lag" -> q181ConversionLag _,
    "q177_pit_attribution" -> q177PitAttribution _,
    "q164_snapshot_diff" -> q164SnapshotDiff _,
    "q161_interval_join" -> q161IntervalJoin _,
    "q155_attribution" -> q155Attribution _,
    "q154_scd2" -> q154Scd2 _,
    "q147_kcore" -> q147Kcore _,
    "q285_ktruss" -> q285Ktruss _,
    "q101_triangles" -> q101Triangles _,
    "q102_khop_bfs" -> q102Khop _,
    "q103_transitions" -> q103Transitions _,
    "q320_stationary" -> q320Stationary _,
    "q326_macro_f1" -> q326MacroF1 _,
    "q325_entropy_rate" -> q325EntropyRate _,
    "q328_path_anomaly" -> q328PathAnomaly _,
    "q332_cdc_apply" -> q332CdcApply _,
    "q370_burst_dedup" -> q370BurstDedup _,
    "q337_session_funnel" -> q337SessionFunnel _,
    "q104_interval_merge" -> q104IntervalMerge _,
    "q105_skyline" -> q105Skyline _,
    "q106_max_concurrent" -> q106MaxConcurrent _,
    "q107_funnel" -> q107Funnel _,
    "q108_retention" -> q108Retention _,
    "q109_decorrelate" -> q109Decorrelate _)

  val oracleSql: Map[String, String] = Map(
    "q465_horizon_dedup" -> """
      |WITH RECURSIVE e AS (
      |  SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS k,
      |    epoch_us(ts) AS us, event_id,
      |    row_number() OVER (
      |      PARTITION BY CAST(user_id AS VARCHAR) || ':' || event_type
      |      ORDER BY epoch_us(ts), event_id) AS rn
      |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
      |kept AS (
      |  SELECT k, us, event_id FROM e WHERE rn = 1
      |  UNION ALL
      |  SELECT n.k, n.us, n.event_id
      |  FROM kept a JOIN e n ON n.k = a.k AND n.us > a.us + 3600000000
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM e p WHERE p.k = a.k AND p.us > a.us + 3600000000
      |      AND (p.us < n.us OR (p.us = n.us AND p.event_id < n.event_id))))
      |SELECT k, event_id FROM kept ORDER BY event_id""".stripMargin,
    "q464_churn_labels" -> """
      |WITH uw AS (
      |  SELECT DISTINCT user_id,
      |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS w
      |  FROM events WHERE user_id IS NOT NULL AND user_id >= 0),
      |h AS (SELECT max(w) AS max_w FROM uw),
      |p AS (
      |  SELECT user_id, w,
      |    lead(w) OVER (PARTITION BY user_id ORDER BY w) AS next_w
      |  FROM uw),
      |l AS (
      |  SELECT p.w, (p.w <= h.max_w - 2) AS labelable,
      |    ((p.w <= h.max_w - 2) AND
      |     (next_w IS NULL OR next_w - p.w > 2)) AS churn
      |  FROM p, h)
      |SELECT CAST(w AS BIGINT) AS w, CAST(count(*) AS BIGINT) AS n_users,
      |  CAST(sum(CASE WHEN labelable THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_labelable,
      |  CAST(sum(CASE WHEN churn THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_churned,
      |  CAST(sum(CASE WHEN churn THEN 1 ELSE 0 END) * 10000
      |    // NULLIF(sum(CASE WHEN labelable THEN 1 ELSE 0 END), 0)
      |    AS BIGINT) AS churn_bp
      |FROM l GROUP BY w ORDER BY w""".stripMargin,
    "q461_seq_patterns" -> """
      |WITH e AS (
      |  SELECT user_id, event_type AS t, ts FROM events
      |  WHERE user_id IS NOT NULL AND user_id >= 0),
      |st AS (
      |  SELECT user_id, t, min(ts) AS mn, max(ts) AS mx
      |  FROM e GROUP BY 1, 2),
      |pairs AS (
      |  SELECT CAST(2 AS BIGINT) AS len,
      |    concat(a.t, '>', b.t) AS pattern,
      |    CAST(count(*) AS BIGINT) AS n_users
      |  FROM st a JOIN st b ON a.user_id = b.user_id
      |    AND a.t <> b.t AND a.mn < b.mx
      |  GROUP BY 1, 2),
      |trip AS (
      |  SELECT DISTINCT e.user_id, a.t AS ta, e.t AS tb, c.t AS tc
      |  FROM e
      |  JOIN st a ON a.user_id = e.user_id AND a.t <> e.t AND a.mn < e.ts
      |  JOIN st c ON c.user_id = e.user_id AND c.t <> e.t AND c.t <> a.t
      |    AND c.mx > e.ts),
      |triples AS (
      |  SELECT CAST(3 AS BIGINT) AS len,
      |    concat(ta, '>', tb, '>', tc) AS pattern,
      |    CAST(count(*) AS BIGINT) AS n_users
      |  FROM trip GROUP BY 1, 2)
      |SELECT * FROM (SELECT * FROM pairs UNION ALL SELECT * FROM triples)
      |ORDER BY len, pattern""".stripMargin,
    "q462_shapley_attribution" -> """
      |WITH e AS (
      |  SELECT user_id, event_type, ts FROM events
      |  WHERE user_id IS NOT NULL AND user_id >= 0),
      |fp AS (
      |  SELECT user_id, min(ts) AS fp FROM e
      |  WHERE event_type = 'purchase' GROUP BY 1),
      |masks AS (
      |  SELECT e.user_id,
      |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS h1,
      |    max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS h2,
      |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS h3
      |  FROM e JOIN fp ON fp.user_id = e.user_id AND e.ts < fp.fp
      |  GROUP BY 1),
      |m2 AS (
      |  SELECT *, h1 + h2 + h3 AS sz, 6 // (h1 + h2 + h3) AS credit
      |  FROM masks WHERE h1 + h2 + h3 >= 1),
      |a AS (
      |  SELECT count(*) AS v_full,
      |    sum(h1) AS t1, sum(h2) AS t2, sum(h3) AS t3,
      |    sum(h1 * credit) AS p1, sum(h2 * credit) AS p2,
      |    sum(h3 * credit) AS p3
      |  FROM m2),
      |u AS (
      |  SELECT 'click' AS channel, t1 AS tt, p1 AS pp, v_full FROM a
      |  UNION ALL
      |  SELECT 'signup', t2, p2, v_full FROM a
      |  UNION ALL
      |  SELECT 'view', t3, p3, v_full FROM a)
      |SELECT channel, CAST(tt AS BIGINT) AS converters_touched,
      |  CAST(pp AS BIGINT) AS phi_sixths,
      |  CAST(pp * 10000 // (6 * v_full) AS BIGINT) AS share_bp
      |FROM u ORDER BY channel""".stripMargin,
    "q337_session_funnel" -> """
      |WITH x AS (
      |  SELECT user_id, ts, event_type,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w > INTERVAL 24 HOUR
      |         THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts, event_type,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM x),
      |per AS (
      |  SELECT user_id, sid,
      |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS tv,
      |    min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS tc,
      |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
      |      AS tp
      |  FROM s GROUP BY 1, 2),
      |a AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_sessions,
      |    CAST(sum(CASE WHEN tv IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS reached_view,
      |    CAST(sum(CASE WHEN tv IS NOT NULL AND tc >= tv
      |      THEN 1 ELSE 0 END) AS BIGINT) AS reached_click,
      |    CAST(sum(CASE WHEN tv IS NOT NULL AND tc >= tv AND tp >= tc
      |      THEN 1 ELSE 0 END) AS BIGINT) AS reached_purchase
      |  FROM per)
      |SELECT n_sessions, reached_view, reached_click, reached_purchase,
      |  CAST(reached_purchase * 10000 // NULLIF(n_sessions, 0) AS BIGINT)
      |    AS conv_bp
      |FROM a""".stripMargin,
    "q370_burst_dedup" -> """
      |WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us,
      |             event_id FROM events),
      |s AS (SELECT *, lag(ts_us) OVER (PARTITION BY user_id, event_type
      |        ORDER BY ts_us, event_id) AS prev FROM e),
      |b AS (SELECT *, CAST(sum(CASE WHEN prev IS NULL
      |          OR ts_us - prev > 1800000000 THEN 1 ELSE 0 END)
      |        OVER (PARTITION BY user_id, event_type
      |          ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING)
      |        AS BIGINT) AS burst_id
      |      FROM s),
      |r AS (SELECT *, row_number() OVER (
      |        PARTITION BY user_id, event_type, burst_id
      |        ORDER BY ts_us, event_id) AS rn,
      |        CAST(count(*) OVER (
      |          PARTITION BY user_id, event_type, burst_id) AS BIGINT)
      |          AS burst_n
      |      FROM b)
      |SELECT user_id, event_type, burst_id, CAST(ts_us AS BIGINT) AS ts_us,
      |  event_id, burst_n
      |FROM r WHERE rn = 1
      |ORDER BY user_id, event_type, burst_id""".stripMargin,
    "q332_cdc_apply" -> """
      |WITH log AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    event_type = 'error' AS del,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |      ORDER BY us DESC, event_id DESC) AS rn,
      |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_ops
      |  FROM log)
      |SELECT user_id, cents, n_ops FROM r
      |WHERE rn = 1 AND NOT del ORDER BY user_id""".stripMargin,
    "q328_path_anomaly" -> """
      |WITH pairs AS MATERIALIZED (
      |  SELECT user_id, prev_type, event_type FROM (
      |    SELECT user_id, lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS prev_type, event_type
      |    FROM events)
      |  WHERE prev_type IS NOT NULL),
      |c AS (SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS c
      |      FROM pairs GROUP BY 1, 2),
      |tot AS (SELECT prev_type, CAST(sum(c) AS BIGINT) AS tot
      |        FROM c GROUP BY 1),
      |scored AS (
      |  SELECT p.user_id, CAST(count(*) AS BIGINT) AS n_hops,
      |    CAST(sum(length(bin(t.tot)) - length(bin(c.c))) * 100
      |      // count(*) AS BIGINT) AS surp_cb
      |  FROM pairs p
      |  JOIN c ON c.prev_type = p.prev_type
      |    AND c.event_type = p.event_type
      |  JOIN tot t ON t.prev_type = p.prev_type
      |  GROUP BY 1)
      |SELECT rk, user_id, n_hops, surp_cb FROM (
      |  SELECT *, CAST(row_number() OVER (ORDER BY surp_cb DESC, user_id)
      |    AS BIGINT) AS rk
      |  FROM scored)
      |WHERE rk <= 20 ORDER BY rk""".stripMargin,
    "q325_entropy_rate" -> """
      |WITH pairs AS MATERIALIZED (
      |  SELECT prev_type AS src, event_type AS dst FROM (
      |    SELECT lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS prev_type, event_type
      |    FROM events)
      |  WHERE prev_type IS NOT NULL),
      |c AS MATERIALIZED (
      |  SELECT src, dst, CAST(count(*) AS BIGINT) AS w
      |  FROM pairs GROUP BY 1, 2),
      |tot AS (SELECT src, CAST(sum(w) AS BIGINT) AS totw FROM c GROUP BY 1),
      |nodes AS (SELECT DISTINCT src AS node FROM c
      |          UNION SELECT DISTINCT dst FROM c),
      |r0 AS (SELECT node, CAST(1099511627776 AS BIGINT) AS m FROM nodes),
      |s1 AS (SELECT c.dst, CAST(sum(r0.m * c.w // t.totw) AS BIGINT) AS s
      |       FROM c JOIN tot t USING (src) JOIN r0 ON r0.node = c.src
      |       GROUP BY 1),
      |r1 AS (SELECT n.node, coalesce(s.s, 0) AS m
      |       FROM nodes n LEFT JOIN s1 s ON s.dst = n.node),
      |s2 AS (SELECT c.dst, CAST(sum(r1.m * c.w // t.totw) AS BIGINT) AS s
      |       FROM c JOIN tot t USING (src) JOIN r1 ON r1.node = c.src
      |       GROUP BY 1),
      |r2 AS (SELECT n.node, coalesce(s.s, 0) AS m
      |       FROM nodes n LEFT JOIN s2 s ON s.dst = n.node),
      |s3 AS (SELECT c.dst, CAST(sum(r2.m * c.w // t.totw) AS BIGINT) AS s
      |       FROM c JOIN tot t USING (src) JOIN r2 ON r2.node = c.src
      |       GROUP BY 1),
      |r3 AS MATERIALIZED (
      |  SELECT n.node, coalesce(s.s, 0) AS m
      |  FROM nodes n LEFT JOIN s3 s ON s.dst = n.node),
      |ent AS (
      |  SELECT src,
      |    CAST(sum(w * (length(bin(totw)) - length(bin(w)))) * 100
      |      // max(totw) AS BIGINT) AS ent_cb
      |  FROM c JOIN tot USING (src) GROUP BY src),
      |per AS MATERIALIZED (
      |  SELECT r3.node AS state, CAST(r3.m AS BIGINT) AS mass,
      |    CAST(coalesce(ent.ent_cb, 0) AS BIGINT) AS ent_cb
      |  FROM r3 LEFT JOIN ent ON ent.src = r3.node)
      |SELECT state, mass, ent_cb FROM per
      |UNION ALL
      |SELECT '(rate)', CAST(sum(mass) AS BIGINT),
      |  CAST(sum(mass * ent_cb) // NULLIF(sum(mass), 0) AS BIGINT)
      |FROM per
      |ORDER BY state""".stripMargin,
    "q326_macro_f1" -> """
      |WITH pairs AS (
      |  SELECT prev_type, event_type FROM (
      |    SELECT lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS prev_type, event_type
      |    FROM events)
      |  WHERE prev_type IS NOT NULL),
      |c AS (SELECT prev_type, event_type, count(*) AS n
      |      FROM pairs GROUP BY 1, 2),
      |pred AS (
      |  SELECT prev_type, event_type AS pred_cls FROM (
      |    SELECT prev_type, event_type, row_number() OVER (
      |      PARTITION BY prev_type ORDER BY n DESC, event_type) AS rn
      |    FROM c) WHERE rn = 1),
      |conf AS MATERIALIZED (
      |  SELECT p.event_type AS true_cls, pred.pred_cls,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM pairs p JOIN pred ON pred.prev_type = p.prev_type
      |  GROUP BY 1, 2),
      |classes AS (SELECT DISTINCT true_cls AS cls FROM conf
      |            UNION SELECT DISTINCT pred_cls FROM conf),
      |tp AS (SELECT true_cls AS cls, n AS tp FROM conf
      |       WHERE true_cls = pred_cls),
      |rt AS (SELECT true_cls AS cls, CAST(sum(n) AS BIGINT) AS n_true
      |       FROM conf GROUP BY 1),
      |ct AS (SELECT pred_cls AS cls, CAST(sum(n) AS BIGINT) AS n_pred
      |       FROM conf GROUP BY 1),
      |per AS (
      |  SELECT classes.cls, coalesce(tp.tp, 0) AS tp,
      |    coalesce(rt.n_true, 0) AS n_true,
      |    coalesce(ct.n_pred, 0) AS n_pred
      |  FROM classes
      |  LEFT JOIN tp USING (cls) LEFT JOIN rt USING (cls)
      |  LEFT JOIN ct USING (cls)),
      |scored AS (
      |  SELECT cls, tp, n_true, n_pred,
      |    CAST(tp * 10000 // NULLIF(n_pred, 0) AS BIGINT) AS prec_bp,
      |    CAST(tp * 10000 // NULLIF(n_true, 0) AS BIGINT) AS rec_bp,
      |    CAST(2 * tp * 10000 // NULLIF(n_true + n_pred, 0) AS BIGINT)
      |      AS f1_bp
      |  FROM per),
      |summary AS (
      |  SELECT CAST(sum(tp) AS BIGINT) AS tp,
      |    CAST(sum(n_true) AS BIGINT) AS n_true,
      |    CAST(sum(n_pred) AS BIGINT) AS n_pred,
      |    CAST(sum(coalesce(f1_bp, 0)) // count(*) AS BIGINT) AS macro_f1,
      |    CAST(sum(tp) * 10000 // NULLIF(sum(n_true), 0) AS BIGINT)
      |      AS micro_f1
      |  FROM scored)
      |SELECT cls, tp, n_true, n_pred, prec_bp, rec_bp, f1_bp FROM scored
      |UNION ALL
      |SELECT '(macro)', tp, n_true, n_pred, NULL, NULL, macro_f1
      |FROM summary
      |UNION ALL
      |SELECT '(micro)', tp, n_true, n_pred, NULL, NULL, micro_f1
      |FROM summary
      |ORDER BY cls""".stripMargin,
    "q320_stationary" -> """
      |WITH pairs AS (
      |  SELECT prev_type AS src, event_type AS dst FROM (
      |    SELECT lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS prev_type, event_type
      |    FROM events)
      |  WHERE prev_type IS NOT NULL),
      |c AS MATERIALIZED (
      |  SELECT src, dst, CAST(count(*) AS BIGINT) AS w
      |  FROM pairs GROUP BY 1, 2),
      |tot AS (SELECT src, CAST(sum(w) AS BIGINT) AS totw FROM c GROUP BY 1),
      |nodes AS (SELECT DISTINCT src AS node FROM c
      |          UNION SELECT DISTINCT dst FROM c),
      |r0 AS (SELECT node, CAST(1099511627776 AS BIGINT) AS m FROM nodes),
      |s1 AS (SELECT c.dst, CAST(sum(r0.m * c.w // t.totw) AS BIGINT) AS s
      |       FROM c JOIN tot t USING (src) JOIN r0 ON r0.node = c.src
      |       GROUP BY 1),
      |r1 AS (SELECT n.node, coalesce(s.s, 0) AS m
      |       FROM nodes n LEFT JOIN s1 s ON s.dst = n.node),
      |s2 AS (SELECT c.dst, CAST(sum(r1.m * c.w // t.totw) AS BIGINT) AS s
      |       FROM c JOIN tot t USING (src) JOIN r1 ON r1.node = c.src
      |       GROUP BY 1),
      |r2 AS (SELECT n.node, coalesce(s.s, 0) AS m
      |       FROM nodes n LEFT JOIN s2 s ON s.dst = n.node),
      |s3 AS (SELECT c.dst, CAST(sum(r2.m * c.w // t.totw) AS BIGINT) AS s
      |       FROM c JOIN tot t USING (src) JOIN r2 ON r2.node = c.src
      |       GROUP BY 1),
      |r3 AS (SELECT n.node, coalesce(s.s, 0) AS m
      |       FROM nodes n LEFT JOIN s3 s ON s.dst = n.node)
      |SELECT node AS state, CAST(m AS BIGINT) AS mass FROM r3
      |ORDER BY state""".stripMargin,
    "q238_rolling_corr" -> """
      |WITH daily AS (
      |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |      AS BIGINT) AS d,
      |    CAST(count(*) FILTER (WHERE event_type = 'click')
      |      AS HUGEINT) AS x,
      |    CAST(count(*) FILTER (WHERE event_type = 'purchase')
      |      AS HUGEINT) AS y
      |  FROM events GROUP BY 1),
      |roll AS (
      |  SELECT d,
      |    CAST(count(*) OVER w AS HUGEINT) AS n,
      |    sum(x) OVER w AS sx, sum(y) OVER w AS sy,
      |    sum(x * y) OVER w AS sxy, sum(x * x) OVER w AS sxx,
      |    sum(y * y) OVER w AS syy,
      |    row_number() OVER (ORDER BY d) AS rn
      |  FROM daily WINDOW w AS (ORDER BY d
      |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
      |SELECT d, CAST(n AS BIGINT) AS n,
      |  CAST(sign(n * sxy - sx * sy) AS BIGINT) AS corr_sign,
      |  CAST(((n * sxy - sx * sy) * (n * sxy - sx * sy) * 10000)
      |    // NULLIF((n * sxx - sx * sx) * (n * syy - sy * sy), 0)
      |    AS BIGINT) AS r2_scaled
      |FROM roll WHERE rn >= 7 ORDER BY d""".stripMargin,
    "q236_markov_accuracy" -> """
      |WITH pairs AS (
      |  SELECT prev_type, event_type AS curr_type FROM (
      |    SELECT lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS prev_type, event_type
      |    FROM events)
      |  WHERE prev_type IS NOT NULL),
      |c AS (SELECT prev_type, curr_type, count(*) AS n
      |      FROM pairs GROUP BY 1, 2),
      |pred AS (
      |  SELECT prev_type, curr_type AS pred_type FROM (
      |    SELECT prev_type, curr_type, row_number() OVER (
      |      PARTITION BY prev_type ORDER BY n DESC, curr_type) AS rn
      |    FROM c) WHERE rn = 1)
      |SELECT c.prev_type, min(pred_type) AS pred_type,
      |  CAST(sum(n) AS BIGINT) AS n_pairs,
      |  CAST(sum(CASE WHEN curr_type = pred_type THEN n ELSE 0 END)
      |    AS BIGINT) AS n_correct,
      |  CAST(sum(CASE WHEN curr_type = pred_type THEN n ELSE 0 END)
      |    * 10000 // sum(n) AS BIGINT) AS acc_bp
      |FROM c JOIN pred ON pred.prev_type = c.prev_type
      |GROUP BY c.prev_type ORDER BY c.prev_type""".stripMargin,
    "q234_group_split" -> """
      |WITH RECURSIVE mm AS (
      |  SELECT (max(o_orderkey) + 1) // 10 AS m FROM orders),
      |n AS (SELECT o_orderkey AS id FROM orders, mm WHERE o_orderkey < m),
      |up AS (
      |  SELECT id,
      |    CASE WHEN id < 256 THEN id ELSE id // 4 END AS cur,
      |    CASE WHEN id < 256 THEN 0 ELSE 1 END AS d
      |  FROM n
      |  UNION ALL
      |  SELECT id, cur // 4, d + 1 FROM up WHERE cur >= 256),
      |flat AS (
      |  SELECT id, min(CASE WHEN cur < 256 THEN cur END) AS root,
      |         max(d) AS depth
      |  FROM up GROUP BY id),
      |lab AS (
      |  SELECT id, root, depth,
      |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM (SELECT id, root, depth,
      |    ('0x' || substring(sha256(CAST(root AS VARCHAR)), 1, 4))::BIGINT
      |      % 100 AS b
      |    FROM flat))
      |SELECT split, count(*) AS n_nodes,
      |  CAST(count(DISTINCT root) AS BIGINT) AS n_groups,
      |  CAST(max(depth) AS BIGINT) AS max_depth
      |FROM lab GROUP BY split ORDER BY split""".stripMargin,
    "q229_hierarchy_flatten" -> """
      |WITH RECURSIVE mm AS (
      |  SELECT (max(o_orderkey) + 1) // 10 AS m FROM orders),
      |n AS (SELECT o_orderkey AS id FROM orders, mm WHERE o_orderkey < m),
      |up AS (
      |  SELECT id,
      |    CASE WHEN id < 4 THEN id ELSE id // 4 - 1 END AS cur,
      |    CASE WHEN id < 4 THEN 0 ELSE 1 END AS d
      |  FROM n
      |  UNION ALL
      |  SELECT id, cur // 4 - 1, d + 1 FROM up WHERE cur >= 4)
      |SELECT id,
      |  CAST(min(CASE WHEN cur < 4 THEN cur END) AS BIGINT) AS root,
      |  CAST(max(d) AS BIGINT) AS depth
      |FROM up GROUP BY id ORDER BY id""".stripMargin,
    // temporal reach unrolled: per round, min-arrival candidates from the
    // PREVIOUS round's improved set under the ts >= arrival guard, then
    // the improvement filter vs the merged table — Graph.temporalReachability
    // verbatim (seed arrival = -inf makes every seed edge usable)
    "q270_temporal_reach" -> """
      |WITH e AS (
      |  SELECT CAST(user_id % 40 AS BIGINT) AS src,
      |    CAST((user_id % 40 + event_id % 7 + 1) % 40 AS BIGINT) AS dst,
      |    epoch_us(ts) AS ts
      |  FROM events),
      |seed AS (SELECT CAST(0 AS BIGINT) AS node,
      |                CAST(-9223372036854775808 AS BIGINT) AS t),
      |c1 AS (
      |  SELECT e.dst AS node, min(e.ts) AS t
      |  FROM e JOIN seed ON e.src = seed.node AND e.ts >= seed.t
      |  GROUP BY e.dst),
      |i1 AS (
      |  SELECT c1.node, c1.t FROM c1 LEFT JOIN seed USING (node)
      |  WHERE seed.t IS NULL OR c1.t < seed.t),
      |arr1 AS (
      |  SELECT seed.node, coalesce(i1.t, seed.t) AS t
      |  FROM seed LEFT JOIN i1 USING (node)
      |  UNION ALL
      |  SELECT i1.node, i1.t FROM i1
      |  WHERE i1.node NOT IN (SELECT node FROM seed)),
      |c2 AS (
      |  SELECT e.dst AS node, min(e.ts) AS t
      |  FROM e JOIN i1 ON e.src = i1.node AND e.ts >= i1.t
      |  GROUP BY e.dst),
      |i2 AS (
      |  SELECT c2.node, c2.t FROM c2 LEFT JOIN arr1 USING (node)
      |  WHERE arr1.t IS NULL OR c2.t < arr1.t),
      |arr2 AS (
      |  SELECT arr1.node, coalesce(i2.t, arr1.t) AS t
      |  FROM arr1 LEFT JOIN i2 USING (node)
      |  UNION ALL
      |  SELECT i2.node, i2.t FROM i2
      |  WHERE i2.node NOT IN (SELECT node FROM arr1)),
      |c3 AS (
      |  SELECT e.dst AS node, min(e.ts) AS t
      |  FROM e JOIN i2 ON e.src = i2.node AND e.ts >= i2.t
      |  GROUP BY e.dst),
      |i3 AS (
      |  SELECT c3.node, c3.t FROM c3 LEFT JOIN arr2 USING (node)
      |  WHERE arr2.t IS NULL OR c3.t < arr2.t),
      |fin AS (
      |  SELECT arr2.node, coalesce(i3.t, arr2.t) AS t
      |  FROM arr2 LEFT JOIN i3 USING (node)
      |  UNION ALL
      |  SELECT i3.node, i3.t FROM i3
      |  WHERE i3.node NOT IN (SELECT node FROM arr2))
      |SELECT node,
      |  CASE WHEN t = -9223372036854775808 THEN NULL ELSE t END
      |    AS arrival_us
      |FROM fin ORDER BY node""".stripMargin,
    "q268_skew_report" -> """
      |WITH counts AS (
      |  SELECT user_id, count(*) AS n FROM events GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS n_keys,
      |         CAST(max(n) AS BIGINT) AS max_n
      |  FROM counts),
      |rk AS (
      |  SELECT user_id, n,
      |    row_number() OVER (ORDER BY n DESC, user_id) AS rk
      |  FROM counts)
      |SELECT CAST(rk AS BIGINT) AS rk, user_id, CAST(n AS BIGINT) AS n,
      |  CAST(n * 10000 // total AS BIGINT) AS share_bp,
      |  CAST(n_keys AS BIGINT) AS n_keys, max_n,
      |  CAST(max_n * n_keys * 10000 // total AS BIGINT) AS skew_bp
      |FROM rk CROSS JOIN tot WHERE rk <= 5 ORDER BY rk""".stripMargin,
    "q263_bitemporal" -> """
      |WITH v AS (
      |  SELECT CAST(user_id % 100 AS BIGINT) AS key,
      |    epoch_us(ts) AS valid_us,
      |    epoch_us(ts) + (event_id % 1000) * 1000000 AS tx_us,
      |    event_id, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE value IS NOT NULL),
      |f AS (
      |  SELECT *, row_number() OVER (PARTITION BY key
      |    ORDER BY valid_us DESC, tx_us DESC, event_id DESC) AS rk
      |  FROM v
      |  WHERE valid_us <= 1705708800000000 AND tx_us <= 1705795200000000)
      |SELECT key, valid_us, tx_us, event_id, cents
      |FROM f WHERE rk = 1 ORDER BY key""".stripMargin,
    "q230_shortest_path" -> """
      |WITH RECURSIVE mm AS (
      |  SELECT (max(o_orderkey) + 1) // 5 AS m FROM orders),
      |e AS (
      |  SELECT CASE WHEN o_orderkey < m THEN o_orderkey
      |              ELSE o_orderkey - m END AS src,
      |         CASE WHEN o_orderkey < m THEN (o_orderkey + 1) % m
      |              ELSE (o_orderkey - m + 13) % m END AS dst
      |  FROM orders, mm WHERE o_orderkey < 2 * m),
      |we AS (SELECT src, dst, src % 5 + 1 AS w FROM e),
      |p AS (
      |  SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist,
      |         0 AS hops
      |  UNION ALL
      |  SELECT we.dst, p.dist + we.w, p.hops + 1
      |  FROM p JOIN we ON we.src = p.node WHERE p.hops < 8)
      |SELECT node, CAST(min(dist) AS BIGINT) AS dist
      |FROM p GROUP BY node ORDER BY node""".stripMargin,
    "q240_converged_paths" -> """
      |SELECT o_orderkey AS node,
      |  CAST(length(bin(o_orderkey)) - 1 + bit_count(o_orderkey) - 1
      |    AS BIGINT) AS dist
      |FROM orders WHERE o_orderkey >= 1 ORDER BY node""".stripMargin,
    "q288_cf_neighbors" -> """
      |WITH ub AS MATERIALIZED (
      |  SELECT DISTINCT o_custkey AS u, p_brand AS b
      |  FROM orders
      |  JOIN lineitem ON l_orderkey = o_orderkey
      |  JOIN part ON p_partkey = l_partkey),
      |d AS MATERIALIZED (
      |  SELECT u FROM ub GROUP BY u HAVING count(*) <= 20),
      |kept AS MATERIALIZED (
      |  SELECT ub.u, ub.b FROM ub JOIN d ON d.u = ub.u),
      |co AS MATERIALIZED (
      |  SELECT a.b AS r_a, b2.b AS r_b, count(*) AS n_co
      |  FROM kept a JOIN kept b2 ON b2.u = a.u AND a.b < b2.b
      |  GROUP BY 1, 2),
      |deg AS (SELECT b, CAST(count(*) AS BIGINT) AS n
      |        FROM kept GROUP BY 1),
      |sym AS (
      |  SELECT r_a AS item, r_b AS nbr, n_co FROM co
      |  UNION ALL SELECT r_b, r_a, n_co FROM co),
      |sc AS (
      |  SELECT item, nbr, CAST(n_co AS BIGINT) AS n_co,
      |    di.n AS n_item, dn.n AS n_nbr,
      |    CAST(CAST(n_co AS HUGEINT) * n_co * 1000000
      |      // (CAST(di.n AS HUGEINT) * dn.n) AS BIGINT) AS cos2_ppm
      |  FROM sym
      |  JOIN deg di ON di.b = sym.item
      |  JOIN deg dn ON dn.b = sym.nbr)
      |SELECT item, nbr, n_co, n_item, n_nbr, cos2_ppm,
      |  CAST(rk AS BIGINT) AS rk
      |FROM (SELECT *, row_number() OVER (PARTITION BY item
      |        ORDER BY cos2_ppm DESC, n_co DESC, nbr) AS rk
      |      FROM sc)
      |WHERE rk <= 5 ORDER BY item, rk""".stripMargin,
    "q397_modularity" -> """
      |WITH e0 AS (SELECT DISTINCT l_orderkey AS l, l_partkey AS r
      |            FROM lineitem),
      |kept AS MATERIALIZED (
      |  SELECT l, r FROM e0 WHERE l IN (
      |    SELECT l FROM e0 GROUP BY l HAVING count(*) <= 10)),
      |und AS MATERIALIZED (
      |  SELECT DISTINCT a.r AS a, b.r AS b
      |  FROM kept a JOIN kept b ON a.l = b.l AND a.r < b.r),
      |cm AS (SELECT p_partkey AS n, p_brand AS c FROM part),
      |ue AS MATERIALIZED (
      |  SELECT ca.c AS ca, cb.c AS cb
      |  FROM und JOIN cm ca ON ca.n = und.a JOIN cm cb ON cb.n = und.b),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS m_edges FROM ue),
      |ei AS (SELECT ca AS community, CAST(count(*) AS BIGINT) AS e_intra
      |       FROM ue WHERE ca = cb GROUP BY 1),
      |dg AS (SELECT community, CAST(count(*) AS BIGINT) AS deg_sum FROM
      |       (SELECT ca AS community FROM ue UNION ALL SELECT cb FROM ue)
      |       GROUP BY 1)
      |SELECT dg.community,
      |  CAST(coalesce(ei.e_intra, 0) AS BIGINT) AS e_intra,
      |  dg.deg_sum, m.m_edges,
      |  CAST(CASE WHEN 4 * CAST(m_edges AS HUGEINT) * coalesce(e_intra, 0)
      |      - CAST(deg_sum AS HUGEINT) * deg_sum >= 0
      |    THEN ((4 * CAST(m_edges AS HUGEINT) * coalesce(e_intra, 0)
      |      - CAST(deg_sum AS HUGEINT) * deg_sum) * 1000000)
      |      // (4 * CAST(m_edges AS HUGEINT) * m_edges)
      |    ELSE -((-(4 * CAST(m_edges AS HUGEINT) * coalesce(e_intra, 0)
      |      - CAST(deg_sum AS HUGEINT) * deg_sum) * 1000000)
      |      // (4 * CAST(m_edges AS HUGEINT) * m_edges))
      |    END AS BIGINT) AS contrib_ppm
      |FROM dg LEFT JOIN ei USING (community), m
      |ORDER BY community""".stripMargin,
    "q223_brand_copurchase" -> """
      |WITH ub AS (
      |  SELECT DISTINCT o_custkey AS u, p_brand AS b
      |  FROM orders
      |  JOIN lineitem ON l_orderkey = o_orderkey
      |  JOIN part ON p_partkey = l_partkey),
      |d AS (SELECT u FROM ub GROUP BY u HAVING count(*) <= 20)
      |SELECT a.b AS brand_a, b2.b AS brand_b, count(*) AS n_co
      |FROM ub a
      |JOIN d ON d.u = a.u
      |JOIN ub b2 ON b2.u = a.u AND a.b < b2.b
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q224_path_trigrams" -> """
      |WITH s AS (
      |  SELECT
      |    lag(event_type, 2) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS t1,
      |    lag(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS t2,
      |    event_type AS t3
      |  FROM events)
      |SELECT t1, t2, t3, count(*) AS n FROM s
      |WHERE t1 IS NOT NULL GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q213_active_streaks" -> """
      |WITH days AS (SELECT DISTINCT user_id,
      |        date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
      |      FROM events),
      |isl AS (SELECT user_id, d,
      |          d - row_number() OVER (PARTITION BY user_id ORDER BY d)
      |            AS grp
      |        FROM days),
      |runs AS (SELECT user_id, grp, count(*) AS len
      |         FROM isl GROUP BY 1, 2)
      |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
      |  CAST(max(len) AS BIGINT) AS longest_streak
      |FROM runs GROUP BY 1 ORDER BY 1""".stripMargin,
    "q214_rolling_overlap" -> """
      |WITH d AS (SELECT DISTINCT event_type AS g,
      |        date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
      |          AS p, user_id AS u
      |      FROM events),
      |sz AS (SELECT g, p, CAST(count(*) AS BIGINT) AS n
      |       FROM d GROUP BY 1, 2),
      |iv AS (SELECT a.g, a.p, CAST(count(*) AS BIGINT) AS inter
      |       FROM d a JOIN d b ON a.g = b.g AND a.u = b.u
      |                        AND b.p = a.p + 1
      |       GROUP BY 1, 2)
      |SELECT sa.g AS event_type, sa.p AS period, sa.n AS n_curr,
      |  sb.n AS n_next, CAST(coalesce(iv.inter, 0) AS BIGINT) AS inter,
      |  CAST(coalesce(iv.inter, 0) AS BIGINT) * 10000
      |    // (sa.n + sb.n - CAST(coalesce(iv.inter, 0) AS BIGINT))
      |    AS jaccard_bp
      |FROM sz sa JOIN sz sb ON sa.g = sb.g AND sb.p = sa.p + 1
      |LEFT JOIN iv ON iv.g = sa.g AND iv.p = sa.p
      |ORDER BY 1, 2""".stripMargin,
    "q212_trailing_count" -> """
      |WITH c AS (SELECT user_id, epoch_us(ts) AS us
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT event_id, user_id, epoch_us(ts) AS us
      |      FROM events WHERE event_type = 'purchase'),
      |j AS (SELECT p.event_id,
      |        (SELECT count(*) FROM c
      |         WHERE c.user_id = p.user_id
      |           AND c.us >= p.us - 86400000000 AND c.us < p.us) AS tc
      |      FROM p)
      |SELECT CAST(tc AS BIGINT) AS trail_cnt,
      |  CAST(count(*) AS BIGINT) AS n_purchases
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q205_asof_tolerance" -> """
      |WITH c AS (SELECT user_id, epoch_us(ts) AS us, event_id % 5 AS v
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, epoch_us(ts) AS us
      |      FROM events WHERE event_type = 'purchase'),
      |j AS (SELECT p.user_id, p.us,
      |        (SELECT v FROM c
      |         WHERE c.user_id = p.user_id AND c.us <= p.us
      |           AND c.us >= p.us - 3600000000
      |         ORDER BY c.us DESC, v DESC LIMIT 1) AS variant,
      |        (SELECT p.us - max(c.us) FROM c
      |         WHERE c.user_id = p.user_id AND c.us <= p.us
      |           AND c.us >= p.us - 3600000000) AS gap
      |      FROM p)
      |SELECT variant, CAST(count(*) AS BIGINT) AS n_purchases,
      |  CAST(sum(coalesce(gap, 0)) AS BIGINT) AS total_gap_us
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q208_dwell_time" -> """
      |WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
      |           FROM events),
      |l AS (SELECT event_type, us,
      |        lag(event_type) OVER (PARTITION BY user_id
      |          ORDER BY us, event_id) AS pt,
      |        lag(us) OVER (PARTITION BY user_id
      |          ORDER BY us, event_id) AS pu
      |      FROM e),
      |g AS (SELECT pt || '->' || event_type AS pair, us - pu AS gap_us
      |      FROM l WHERE pt IS NOT NULL),
      |r AS (SELECT pair, gap_us,
      |        row_number() OVER (PARTITION BY pair ORDER BY gap_us) AS rn,
      |        count(*) OVER (PARTITION BY pair) AS nn
      |      FROM g)
      |SELECT pair, CAST(max(nn) AS BIGINT) AS n,
      |  CAST(max(CASE WHEN rn = (nn + 3) // 4 THEN gap_us END) AS BIGINT)
      |    AS p25,
      |  CAST(max(CASE WHEN rn = (nn + 1) // 2 THEN gap_us END) AS BIGINT)
      |    AS p50,
      |  CAST(max(CASE WHEN rn = (3 * nn + 3) // 4 THEN gap_us END)
      |    AS BIGINT) AS p75
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "q203_growth_accounting" -> """
      |WITH act AS (SELECT DISTINCT o_custkey AS u,
      |        year(o_orderdate) * 12 + month(o_orderdate) AS p
      |      FROM orders),
      |gm AS (SELECT max(p) AS gmax FROM act),
      |l AS (SELECT u, p, lag(p) OVER (PARTITION BY u ORDER BY p) AS prev
      |      FROM act),
      |ev AS (
      |  SELECT p, CASE WHEN prev IS NULL THEN 'new'
      |                 WHEN p - prev = 1 THEN 'retained'
      |                 ELSE 'resurrected' END AS state FROM l
      |  UNION ALL
      |  SELECT prev + 1, 'churned' FROM l WHERE p - prev > 1
      |  UNION ALL
      |  SELECT lastp + 1, 'churned'
      |  FROM (SELECT u, max(p) AS lastp FROM act GROUP BY 1), gm
      |  WHERE lastp < gmax)
      |SELECT p AS period,
      |  CAST(sum(CASE WHEN state = 'new' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_new,
      |  CAST(sum(CASE WHEN state = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_retained,
      |  CAST(sum(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_resurrected,
      |  CAST(sum(CASE WHEN state = 'churned' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_churned
      |FROM ev GROUP BY 1 ORDER BY 1""".stripMargin,
    "q204_clustering_coef" -> """
      |WITH mm AS (SELECT (max(o_orderkey) + 1) // 50 AS m FROM orders),
      |e0 AS (SELECT o_orderkey % m AS x,
      |              (o_orderkey * 13 + (o_orderkey // m) * 7 + 3) % m AS y
      |       FROM orders, mm),
      |e AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
      |      FROM e0 WHERE x <> y),
      |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
      |          SELECT a AS node FROM e UNION ALL SELECT b FROM e)
      |        GROUP BY 1),
      |tri AS (
      |  SELECT e1.a AS n1, e1.b AS n2, e2.b AS n3
      |  FROM e e1
      |  JOIN e e2 ON e2.a = e1.b
      |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |pn AS (SELECT node, count(*) AS t FROM (
      |         SELECT n1 AS node FROM tri
      |         UNION ALL SELECT n2 FROM tri
      |         UNION ALL SELECT n3 FROM tri) GROUP BY 1)
      |SELECT deg.node, CAST(coalesce(pn.t, 0) AS BIGINT) AS triangles,
      |  deg.deg,
      |  CASE WHEN deg.deg >= 2 THEN
      |    CAST(coalesce(pn.t, 0) AS BIGINT) * 20000
      |      // (deg.deg * (deg.deg - 1)) END AS cc_bp
      |FROM deg LEFT JOIN pn USING (node) ORDER BY deg.node""".stripMargin,
    "q197_assortativity" -> """
      |WITH mm AS (SELECT (max(o_orderkey) + 1) // 50 AS m FROM orders),
      |e0 AS (SELECT o_orderkey % m AS x,
      |              (o_orderkey * 13 + (o_orderkey // m) * 7 + 3) % m AS y
      |       FROM orders, mm),
      |und AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
      |        FROM e0 WHERE x <> y),
      |half AS (SELECT a AS u, b AS v FROM und
      |         UNION ALL SELECT b, a FROM und),
      |deg AS (SELECT u AS z, CAST(count(*) AS HUGEINT) AS deg
      |        FROM half GROUP BY 1),
      |xy AS (SELECT dx.deg AS x, dy.deg AS y
      |       FROM half JOIN deg dx ON dx.z = half.u
      |                 JOIN deg dy ON dy.z = half.v),
      |s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
      |        CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
      |        CAST(sum(x * y) AS HUGEINT) AS sxy,
      |        CAST(sum(x * x) AS HUGEINT) AS sxx,
      |        CAST(sum(y * y) AS HUGEINT) AS syy
      |      FROM xy)
      |SELECT CAST(n AS BIGINT) AS n_half_edges,
      |  CAST(sign(n * sxy - sx * sy) AS BIGINT) AS cov_sign,
      |  CAST(CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0
      |    THEN NULL ELSE
      |      ((n * sxy - sx * sy) * (n * sxy - sx * sy) * 10000)
      |        // ((n * sxx - sx * sx) * (n * syy - sy * sy))
      |    END AS BIGINT) AS r2_bp
      |FROM s""".stripMargin,
    "q198_cohort_ltv" -> """
      |WITH o AS (SELECT o_custkey AS cust,
      |    year(o_orderdate) * 12 + month(o_orderdate) AS period,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |f AS (SELECT cust, min(period) AS cohort FROM o GROUP BY 1)
      |SELECT cohort, period - cohort AS age,
      |  CAST(count(DISTINCT cust) AS BIGINT) AS active_users,
      |  CAST(sum(cents) AS BIGINT) AS revenue_cents
      |FROM o JOIN f USING (cust) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q192_audience_overlap" -> """
      |WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      |tot AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
      |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
      |        CAST(count(*) AS BIGINT) AS n_both
      |      FROM ut a JOIN ut b ON a.user_id = b.user_id
      |                        AND a.event_type < b.event_type
      |      GROUP BY 1, 2)
      |SELECT type_a, type_b, CAST(ta.n AS BIGINT) AS n_a,
      |  CAST(tb.n AS BIGINT) AS n_b, n_both,
      |  n_both * 10000 // (ta.n + tb.n - n_both) AS jaccard_bp
      |FROM p JOIN tot ta ON p.type_a = ta.event_type
      |JOIN tot tb ON p.type_b = tb.event_type
      |ORDER BY type_a, type_b""".stripMargin,
    "q193_join_fanout" -> """
      |WITH a AS (SELECT user_id % 1000 AS k, count(*) AS n_events
      |           FROM events GROUP BY 1),
      |b AS (SELECT c_custkey % 1000 AS k, count(*) AS n_cust
      |      FROM customer GROUP BY 1),
      |j AS (SELECT a.k AS k, CAST(n_events AS BIGINT) AS n_events,
      |        CAST(n_cust AS BIGINT) AS n_cust,
      |        CAST(n_events * n_cust AS BIGINT) AS fanout
      |      FROM a JOIN b ON a.k = b.k)
      |SELECT rk, k, n_events, n_cust, fanout FROM (
      |  SELECT *, row_number() OVER (ORDER BY fanout DESC, k) AS rk
      |  FROM j)
      |WHERE rk <= 10 ORDER BY rk""".stripMargin,
    "q194_bounce_rate" -> """
      |WITH x AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |              > INTERVAL 1 HOUR
      |         THEN 1 ELSE 0 END AS brk
      |  FROM events),
      |s AS (SELECT user_id, ts,
      |        sum(brk) OVER (PARTITION BY user_id ORDER BY ts
      |          ROWS UNBOUNDED PRECEDING) AS sid
      |      FROM x),
      |g AS (SELECT user_id, sid, epoch_us(min(ts)) AS start_us,
      |        count(*) AS n_events
      |      FROM s GROUP BY 1, 2),
      |d AS (SELECT (start_us // 86400000000) % 7 AS dow, n_events FROM g)
      |SELECT dow, CAST(count(*) AS BIGINT) AS n_sessions,
      |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS bounces,
      |  (CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    * 10000) // count(*) AS bounce_bp
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q183_link_pred" -> """
      |WITH mm AS (SELECT (max(o_orderkey) + 1) // 5 AS m FROM orders),
      |e0 AS (SELECT CASE WHEN o_orderkey < m THEN o_orderkey
      |                   ELSE o_orderkey - m END AS x,
      |              CASE WHEN o_orderkey < m THEN (o_orderkey + 1) % m
      |                   ELSE (o_orderkey - m + 13) % m END AS y
      |       FROM orders, mm WHERE o_orderkey < 2 * m),
      |e AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
      |      FROM e0 WHERE x <> y),
      |adj AS (SELECT a AS z, b AS n FROM e UNION ALL SELECT b, a FROM e),
      |deg AS (SELECT z, count(*) AS deg FROM adj GROUP BY 1),
      |cand AS (SELECT l.n AS a, r.n AS b, count(*) AS cn
      |  FROM adj l JOIN adj r ON l.z = r.z AND l.n < r.n GROUP BY 1, 2),
      |ne AS (SELECT cand.a, cand.b, cn FROM cand
      |       LEFT JOIN e USING (a, b) WHERE e.a IS NULL)
      |SELECT ne.a, ne.b, CAST(cn AS BIGINT) AS cn,
      |  CAST(cn * 10000 // (da.deg + db.deg - cn) AS BIGINT) AS jaccard_bp
      |FROM ne JOIN deg da ON ne.a = da.z JOIN deg db ON ne.b = db.z
      |ORDER BY ne.a, ne.b""".stripMargin,
    "q180_life_table" -> """
      |WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
      |           FROM events),
      |s AS (SELECT user_id, min(us) AS sus FROM e
      |      WHERE event_type = 'signup' GROUP BY 1),
      |p AS (SELECT user_id, min(us) AS pus FROM e
      |      WHERE event_type = 'purchase' GROUP BY 1),
      |h AS (SELECT max(us) AS cus FROM e),
      |u AS (SELECT s.user_id,
      |        CASE WHEN pus >= sus
      |             THEN (pus - sus) // 86400000000 END AS eday,
      |        (cus - sus) // 86400000000 AS cday
      |      FROM s LEFT JOIN p ON s.user_id = p.user_id CROSS JOIN h),
      |d AS (SELECT coalesce(eday, cday) AS day_k,
      |        CASE WHEN eday IS NOT NULL THEN 1 ELSE 0 END AS ev
      |      FROM u),
      |b AS (SELECT day_k, CAST(sum(ev) AS BIGINT) AS events,
      |        CAST(sum(1 - ev) AS BIGINT) AS censored
      |      FROM d GROUP BY 1)
      |SELECT day_k,
      |  CAST(sum(events + censored) OVER (ORDER BY day_k DESC
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS at_risk,
      |  events, censored
      |FROM b ORDER BY day_k""".stripMargin,
    "q298_position_attribution" -> """
      |WITH p AS (
      |  SELECT user_id, event_id AS pid, epoch_us(ts) AS pus,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
      |    AND CAST(round(value * 100) AS BIGINT) > 0),
      |t AS (
      |  SELECT user_id, event_id AS tid, epoch_us(ts) AS tus
      |  FROM events WHERE event_type = 'click'),
      |j AS MATERIALIZED (
      |  SELECT p.pid, p.cents, t.tid, t.tus
      |  FROM p JOIN t ON t.user_id = p.user_id
      |    AND t.tus >= p.pus - 604800000000 AND t.tus < p.pus),
      |r AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY pid ORDER BY tus, tid) AS rn,
      |    count(*) OVER (PARTITION BY pid) AS m
      |  FROM j),
      |wg AS (
      |  SELECT *,
      |    CASE WHEN m = 1 THEN 'solo' WHEN rn = 1 THEN 'first'
      |         WHEN rn = m THEN 'last' ELSE 'middle' END AS pos,
      |    CASE WHEN m <= 2 THEN 1
      |         WHEN rn = 1 OR rn = m THEN (m - 2) * 40
      |         ELSE 20 END AS w,
      |    CASE WHEN m = 1 THEN 1 WHEN m = 2 THEN 2
      |         ELSE (m - 2) * 100 END AS wt
      |  FROM r),
      |b AS (SELECT *, cents * w // wt AS base, cents * w % wt AS rem
      |      FROM wg),
      |c AS (
      |  SELECT *, cents - sum(base) OVER (PARTITION BY pid) AS leftover,
      |    row_number() OVER (PARTITION BY pid ORDER BY rem DESC, rn)
      |      AS rk
      |  FROM b),
      |cr AS (SELECT pos,
      |         base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
      |           AS credit
      |       FROM c),
      |bp AS (SELECT pos, CAST(count(*) AS BIGINT) AS n_touches,
      |         CAST(sum(credit) AS BIGINT) AS credit_c
      |       FROM cr GROUP BY 1),
      |un AS (SELECT 'unattributed' AS pos,
      |         CAST(count(*) AS BIGINT) AS n_touches,
      |         CAST(coalesce(sum(cents), 0) AS BIGINT) AS credit_c
      |       FROM p WHERE pid NOT IN (SELECT DISTINCT pid FROM j))
      |SELECT * FROM bp UNION ALL SELECT * FROM un
      |ORDER BY pos""".stripMargin,
    "q292_decayed_score" -> """
      |WITH e AS (
      |  SELECT user_id,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |      AS BIGINT) AS d,
      |    CAST(round(value * 100) AS BIGINT) AS c
      |  FROM events WHERE value IS NOT NULL),
      |mx AS (SELECT max(d) AS mxd FROM e),
      |s AS (
      |  SELECT user_id, count(*) AS n,
      |    CAST(sum(c // (1::BIGINT <<
      |      least((mxd - d) // 7, 40))) AS BIGINT) AS decayed_c,
      |    CAST(sum(c) AS BIGINT) AS raw_c
      |  FROM e CROSS JOIN mx GROUP BY user_id)
      |SELECT user_id, n, decayed_c, raw_c FROM s
      |ORDER BY decayed_c DESC, user_id LIMIT 100""".stripMargin,
    "q290_watermark_audit" -> """
      |WITH d AS (
      |  SELECT event_type, (event_id % 1000) * 1000000 AS delay_us
      |  FROM events),
      |r AS (
      |  SELECT event_type, delay_us,
      |    row_number() OVER (PARTITION BY event_type ORDER BY delay_us)
      |      AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM d)
      |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
      |  CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN delay_us END)
      |    AS BIGINT) AS p50_us,
      |  CAST(sum(CASE WHEN rn = (19 * n + 19) // 20 THEN delay_us END)
      |    AS BIGINT) AS p95_us,
      |  CAST(max(delay_us) AS BIGINT) AS max_us,
      |  CAST(sum(CASE WHEN delay_us > 60000000 THEN 1 ELSE 0 END)
      |    * 10000 // max(n) AS BIGINT) AS late_bp_60,
      |  CAST(sum(CASE WHEN delay_us > 300000000 THEN 1 ELSE 0 END)
      |    * 10000 // max(n) AS BIGINT) AS late_bp_300,
      |  CAST(sum(CASE WHEN delay_us > 900000000 THEN 1 ELSE 0 END)
      |    * 10000 // max(n) AS BIGINT) AS late_bp_900
      |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q286_trailing_distinct" -> """
      |WITH ud AS (
      |  SELECT DISTINCT user_id,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |      AS BIGINT) AS t
      |  FROM events),
      |mx AS (SELECT max(t) AS mt FROM ud),
      |cov AS (SELECT user_id, t + g.x AS d
      |        FROM ud, (SELECT unnest(generate_series(0, 6)) AS x) g),
      |w AS (SELECT d, count(DISTINCT user_id) AS wau
      |      FROM cov, mx WHERE d <= mt GROUP BY 1),
      |a AS (SELECT t AS d, count(*) AS dau FROM ud GROUP BY 1)
      |SELECT w.d, CAST(coalesce(dau, 0) AS BIGINT) AS dau,
      |  CAST(wau AS BIGINT) AS wau
      |FROM w LEFT JOIN a USING (d) ORDER BY d""".stripMargin,
    "q275_cum_hazard" -> """
      |WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
      |           FROM events),
      |s AS (SELECT user_id, min(us) AS sus FROM e
      |      WHERE event_type = 'signup' GROUP BY 1),
      |p AS (SELECT user_id, min(us) AS pus FROM e
      |      WHERE event_type = 'purchase' GROUP BY 1),
      |h AS (SELECT max(us) AS cus FROM e),
      |u AS (SELECT s.user_id,
      |        CASE WHEN pus >= sus
      |             THEN (pus - sus) // 86400000000 END AS eday,
      |        (cus - sus) // 86400000000 AS cday
      |      FROM s LEFT JOIN p ON s.user_id = p.user_id CROSS JOIN h),
      |d AS (SELECT coalesce(eday, cday) AS day_k,
      |        CASE WHEN eday IS NOT NULL THEN 1 ELSE 0 END AS ev
      |      FROM u),
      |b AS (SELECT day_k, CAST(sum(ev) AS BIGINT) AS events,
      |        CAST(sum(1 - ev) AS BIGINT) AS censored
      |      FROM d GROUP BY 1),
      |lt AS (SELECT day_k,
      |  CAST(sum(events + censored) OVER (ORDER BY day_k DESC
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS at_risk,
      |  events, censored FROM b),
      |hz AS (SELECT day_k, at_risk, events, censored,
      |  CAST(events * 1000000 // at_risk AS BIGINT) AS h_step_micro
      |  FROM lt)
      |SELECT day_k, at_risk, events, censored, h_step_micro,
      |  CAST(sum(h_step_micro) OVER (ORDER BY day_k
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS h_cum_micro
      |FROM hz ORDER BY day_k""".stripMargin,
    "q181_conversion_lag" -> """
      |WITH c AS (SELECT user_id, epoch_us(ts) AS us FROM events
      |           WHERE event_type = 'click'),
      |p AS (SELECT user_id, epoch_us(ts) AS us FROM events
      |      WHERE event_type = 'purchase'),
      |j AS (SELECT p.user_id, p.us,
      |        (SELECT max(c.us) FROM c
      |         WHERE c.user_id = p.user_id AND c.us <= p.us) AS cus
      |      FROM p),
      |f AS (SELECT (us // 86400000000) % 7 AS dow,
      |        (us - cus) // 1000000 AS lag_s
      |      FROM j WHERE cus IS NOT NULL),
      |r AS (SELECT dow, lag_s,
      |        row_number() OVER (PARTITION BY dow ORDER BY lag_s) AS rn,
      |        count(*) OVER (PARTITION BY dow) AS n
      |      FROM f)
      |SELECT dow, max(n) AS n,
      |  CAST(sum(CASE WHEN rn = (n + 3) // 4 THEN lag_s END) AS BIGINT)
      |    AS p25,
      |  CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN lag_s END) AS BIGINT)
      |    AS p50,
      |  CAST(sum(CASE WHEN rn = (3 * n + 3) // 4 THEN lag_s END)
      |    AS BIGINT) AS p75
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "q177_pit_attribution" -> """
      |WITH c AS (SELECT user_id, epoch_us(ts) AS us, event_id % 5 AS v
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, epoch_us(ts) AS us
      |      FROM events WHERE event_type = 'purchase'),
      |j AS (SELECT p.user_id, p.us,
      |        (SELECT v FROM c
      |         WHERE c.user_id = p.user_id AND c.us <= p.us
      |         ORDER BY c.us DESC, v DESC LIMIT 1) AS variant
      |      FROM p)
      |SELECT variant, count(*) AS n_purchases
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q164_snapshot_diff" -> """
      |WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
      |           FROM events),
      |b AS (SELECT min(us) + ((max(us) - min(us)) * 6) // 10 AS t1,
      |             max(us) AS t2,
      |             ((max(us) - min(us)) * 4) // 10 AS win FROM e),
      |r1 AS (SELECT user_id, event_type,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY us DESC, event_id DESC) AS rn,
      |         count(*) OVER (PARTITION BY user_id) AS n_ev
      |       FROM e CROSS JOIN b WHERE us > t1 - win AND us <= t1),
      |r2 AS (SELECT user_id, event_type,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY us DESC, event_id DESC) AS rn,
      |         count(*) OVER (PARTITION BY user_id) AS n_ev
      |       FROM e CROSS JOIN b WHERE us > t2 - win AND us <= t2),
      |s1 AS (SELECT user_id, event_type AS last_type, n_ev
      |       FROM r1 WHERE rn = 1),
      |s2 AS (SELECT user_id, event_type AS last_type, n_ev
      |       FROM r2 WHERE rn = 1)
      |SELECT coalesce(s1.user_id, s2.user_id) AS user_id,
      |  CASE WHEN s1.user_id IS NULL THEN 'added'
      |       WHEN s2.user_id IS NULL THEN 'removed'
      |       WHEN s1.last_type IS DISTINCT FROM s2.last_type
      |         OR s1.n_ev IS DISTINCT FROM s2.n_ev THEN 'changed'
      |       ELSE 'unchanged' END AS change_type,
      |  s1.last_type AS old_last_type, s2.last_type AS new_last_type,
      |  s1.n_ev AS old_n_ev, s2.n_ev AS new_n_ev
      |FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id
      |ORDER BY 1""".stripMargin,
    "q161_interval_join" -> """
      |WITH iv AS (
      |  SELECT event_type, user_id, epoch_us(ts) AS s,
      |         epoch_us(ts) + ((event_id % 900) + 60) * 1000000 AS e
      |  FROM events),
      |a AS (SELECT user_id, s, e FROM iv WHERE event_type = 'error'),
      |b AS (SELECT user_id, s, e FROM iv WHERE event_type = 'click')
      |SELECT a.user_id, CAST(count(*) AS BIGINT) AS n_overlaps,
      |  CAST(sum(least(a.e, b.e) - greatest(a.s, b.s)) AS BIGINT)
      |    AS overlap_us
      |FROM a JOIN b ON a.user_id = b.user_id AND a.s < b.e AND b.s < a.e
      |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q155_attribution" -> """
      |WITH b AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us
      |           FROM events),
      |x AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
      |          OR us - lag(us) OVER w > 86400000000 THEN 1 ELSE 0 END
      |          AS brk
      |      FROM b
      |      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
      |        ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid
      |      FROM x),
      |f AS (SELECT *, first_value(event_type) OVER (
      |        PARTITION BY user_id, sid ORDER BY us, event_id)
      |        AS first_touch
      |      FROM s)
      |SELECT first_touch, CAST(count(*) AS BIGINT) AS n_purchases
      |FROM f WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q154_scd2" -> """
      |SELECT event_id, user_id, event_type,
      |  epoch_us(ts) AS valid_from_us,
      |  lead(epoch_us(ts)) OVER (PARTITION BY user_id
      |    ORDER BY epoch_us(ts), event_id) AS valid_to_us,
      |  CASE WHEN lead(epoch_us(ts)) OVER (PARTITION BY user_id
      |    ORDER BY epoch_us(ts), event_id) IS NULL THEN 1 ELSE 0 END
      |    AS is_current
      |FROM events ORDER BY event_id""".stripMargin,
    "q285_ktruss" -> """
      |WITH mm AS (SELECT (max(o_orderkey) + 1) // 50 AS m FROM orders),
      |e0 AS (SELECT o_orderkey % m AS x,
      |              (o_orderkey * 13 + (o_orderkey // m) * 7 + 3) % m AS y
      |       FROM orders, mm),
      |e AS MATERIALIZED (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
      |      FROM e0 WHERE x <> y),
      |t1 AS MATERIALIZED (SELECT w1.a AS x, w1.b AS y, w2.b AS z FROM e w1
      |       JOIN e w2 ON w2.a = w1.b
      |       JOIN e w3 ON w3.a = w1.a AND w3.b = w2.b),
      |s1 AS MATERIALIZED (SELECT a, b, count(*) AS c FROM (
      |         SELECT x AS a, y AS b FROM t1
      |         UNION ALL SELECT y, z FROM t1
      |         UNION ALL SELECT x, z FROM t1) GROUP BY 1, 2),
      |r1 AS MATERIALIZED (SELECT e.a, e.b FROM e LEFT JOIN s1 USING (a, b)
      |       WHERE coalesce(c, 0) >= 2),
      |t2 AS MATERIALIZED (SELECT w1.a AS x, w1.b AS y, w2.b AS z FROM r1 w1
      |       JOIN r1 w2 ON w2.a = w1.b
      |       JOIN r1 w3 ON w3.a = w1.a AND w3.b = w2.b),
      |s2 AS MATERIALIZED (SELECT a, b, count(*) AS c FROM (
      |         SELECT x AS a, y AS b FROM t2
      |         UNION ALL SELECT y, z FROM t2
      |         UNION ALL SELECT x, z FROM t2) GROUP BY 1, 2),
      |r2 AS MATERIALIZED (SELECT r1.a, r1.b FROM r1 LEFT JOIN s2 USING (a, b)
      |       WHERE coalesce(c, 0) >= 2),
      |t3 AS MATERIALIZED (SELECT w1.a AS x, w1.b AS y, w2.b AS z FROM r2 w1
      |       JOIN r2 w2 ON w2.a = w1.b
      |       JOIN r2 w3 ON w3.a = w1.a AND w3.b = w2.b),
      |s3 AS MATERIALIZED (SELECT a, b, count(*) AS c FROM (
      |         SELECT x AS a, y AS b FROM t3
      |         UNION ALL SELECT y, z FROM t3
      |         UNION ALL SELECT x, z FROM t3) GROUP BY 1, 2),
      |r3 AS MATERIALIZED (SELECT r2.a, r2.b FROM r2 LEFT JOIN s3 USING (a, b)
      |       WHERE coalesce(c, 0) >= 2),
      |t4 AS MATERIALIZED (SELECT w1.a AS x, w1.b AS y, w2.b AS z FROM r3 w1
      |       JOIN r3 w2 ON w2.a = w1.b
      |       JOIN r3 w3 ON w3.a = w1.a AND w3.b = w2.b),
      |s4 AS MATERIALIZED (SELECT a, b, count(*) AS c FROM (
      |         SELECT x AS a, y AS b FROM t4
      |         UNION ALL SELECT y, z FROM t4
      |         UNION ALL SELECT x, z FROM t4) GROUP BY 1, 2)
      |SELECT r3.a, r3.b, CAST(coalesce(s4.c, 0) AS BIGINT) AS support
      |FROM r3 LEFT JOIN s4 USING (a, b) ORDER BY a, b""".stripMargin,
    "q147_kcore" -> """
      |WITH mm AS (SELECT (max(o_orderkey) + 1) // 50 AS m FROM orders),
      |e0 AS (SELECT o_orderkey % m AS x,
      |              (o_orderkey * 7 + 1) % (1 + (o_orderkey % m)) AS y
      |       FROM orders, mm),
      |e AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
      |      FROM e0 WHERE x <> y),
      |kk AS (SELECT (SELECT count(*) FROM e) //
      |         (SELECT count(*) FROM
      |           (SELECT a FROM e UNION SELECT b FROM e)) AS k),
      |d1 AS (SELECT node, count(*) AS deg FROM
      |         (SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
      |       GROUP BY 1),
      |e1 AS (SELECT a, b FROM e
      |       WHERE a IN (SELECT node FROM d1, kk WHERE deg >= k)
      |         AND b IN (SELECT node FROM d1, kk WHERE deg >= k)),
      |d2 AS (SELECT node, count(*) AS deg FROM
      |         (SELECT a AS node FROM e1 UNION ALL SELECT b AS node FROM e1)
      |       GROUP BY 1),
      |e2 AS (SELECT a, b FROM e1
      |       WHERE a IN (SELECT node FROM d2, kk WHERE deg >= k)
      |         AND b IN (SELECT node FROM d2, kk WHERE deg >= k)),
      |d3 AS (SELECT node, count(*) AS deg FROM
      |         (SELECT a AS node FROM e2 UNION ALL SELECT b AS node FROM e2)
      |       GROUP BY 1),
      |e3 AS (SELECT a, b FROM e2
      |       WHERE a IN (SELECT node FROM d3, kk WHERE deg >= k)
      |         AND b IN (SELECT node FROM d3, kk WHERE deg >= k))
      |SELECT node, CAST(count(*) AS BIGINT) AS deg FROM
      |  (SELECT a AS node FROM e3 UNION ALL SELECT b AS node FROM e3)
      |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q101_triangles" -> """
      |WITH mm AS (SELECT (max(o_orderkey) + 1) // 50 AS m FROM orders),
      |e0 AS (SELECT o_orderkey % m AS x,
      |              (o_orderkey * 13 + (o_orderkey // m) * 7 + 3) % m AS y
      |       FROM orders, mm),
      |e AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
      |      FROM e0 WHERE x <> y),
      |nodes AS (SELECT a AS node FROM e UNION SELECT b FROM e),
      |tri AS (
      |  SELECT e1.a AS n1, e1.b AS n2, e2.b AS n3
      |  FROM e e1
      |  JOIN e e2 ON e2.a = e1.b
      |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |pn AS (SELECT node, count(*) AS t FROM (
      |         SELECT n1 AS node FROM tri
      |         UNION ALL SELECT n2 FROM tri
      |         UNION ALL SELECT n3 FROM tri) GROUP BY 1)
      |SELECT n.node, CAST(coalesce(pn.t, 0) AS BIGINT) AS triangles
      |FROM nodes n LEFT JOIN pn USING (node) ORDER BY n.node""".stripMargin,
    "q102_khop_bfs" -> """
      |WITH RECURSIVE mm AS (SELECT (max(o_orderkey) + 1) // 5 AS m FROM orders),
      |e0 AS (SELECT CASE WHEN o_orderkey < m THEN o_orderkey
      |                   ELSE o_orderkey - m END AS src,
      |              CASE WHEN o_orderkey < m THEN (o_orderkey + 1) % m
      |                   ELSE (o_orderkey - m + 13) % m END AS dst
      |       FROM orders, mm WHERE o_orderkey < 2 * m),
      |sym AS (SELECT src AS a, dst AS b FROM e0 WHERE src <> dst
      |        UNION SELECT dst, src FROM e0 WHERE src <> dst),
      |seeds AS (SELECT CAST(0 AS BIGINT) AS node
      |          UNION SELECT m // 2 FROM mm),
      |r AS (SELECT node, 0 AS hops FROM seeds
      |      UNION
      |      SELECT sym.b, r.hops + 1 FROM r JOIN sym ON sym.a = r.node
      |      WHERE r.hops < 6)
      |SELECT node, CAST(min(hops) AS INT) AS hops
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "q103_transitions" -> """
      |WITH t AS (
      |  SELECT user_id,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev_type,
      |    event_type AS curr_type
      |  FROM events)
      |SELECT prev_type, curr_type, CAST(count(*) AS BIGINT) AS n
      |FROM t WHERE prev_type IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q104_interval_merge" -> """
      |WITH iv AS (
      |  SELECT event_type, epoch_us(ts) AS s,
      |         epoch_us(ts) + ((event_id % 900) + 60) * 1000000 AS e
      |  FROM events),
      |w1 AS (SELECT event_type, s, e,
      |         max(e) OVER (PARTITION BY event_type ORDER BY s, e
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      |       FROM iv),
      |w2 AS (SELECT event_type, s, e,
      |         CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS nw
      |       FROM w1),
      |w3 AS (SELECT event_type, s, e,
      |         sum(nw) OVER (PARTITION BY event_type ORDER BY s, e
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |       FROM w2)
      |SELECT event_type, CAST(island AS BIGINT) AS island,
      |       min(s) AS island_start, max(e) AS island_end,
      |       CAST(count(*) AS BIGINT) AS n_intervals
      |FROM w3 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q105_skyline" -> """
      |WITH p AS (SELECT p_partkey,
      |             CAST(round(p_retailprice * 100) AS BIGINT) AS cents,
      |             p_size
      |           FROM part)
      |SELECT p_partkey, cents, p_size FROM p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM p q
      |  WHERE q.cents <= p.cents AND q.p_size <= p.p_size
      |    AND (q.cents < p.cents OR q.p_size < p.p_size))
      |ORDER BY p_partkey""".stripMargin,
    "q106_max_concurrent" -> """
      |WITH iv AS (
      |  SELECT event_type, epoch_us(ts) AS s,
      |         epoch_us(ts) + ((event_id % 900) + 60) * 1000000 AS e
      |  FROM events),
      |d AS (SELECT event_type, s AS t, 1 AS d FROM iv
      |      UNION ALL SELECT event_type, e, -1 FROM iv),
      |r AS (SELECT event_type,
      |        sum(d) OVER (PARTITION BY event_type ORDER BY t, d) AS run
      |      FROM d)
      |SELECT event_type, CAST(max(run) AS BIGINT) AS max_concurrent
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "q107_funnel" -> """
      |WITH base AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |s0 AS (SELECT user_id,
      |         min(us) FILTER (WHERE event_type = 'view') AS u0
      |       FROM base GROUP BY 1),
      |s1 AS (SELECT b.user_id, any_value(u0) AS u0,
      |         min(us) FILTER (WHERE event_type = 'click' AND us > u0
      |                         AND us <= u0 + 86400000000) AS u1
      |       FROM base b JOIN s0 USING (user_id) GROUP BY 1),
      |s2 AS (SELECT b.user_id,
      |         min(us) FILTER (WHERE event_type = 'purchase' AND us > u1
      |                         AND us <= u0 + 86400000000) AS u2,
      |         any_value(u1) AS u1m, any_value(u0) AS u0m
      |       FROM base b JOIN s1 USING (user_id) GROUP BY 1),
      |f AS (SELECT user_id,
      |        CASE WHEN u2 IS NOT NULL THEN 3
      |             WHEN u1m IS NOT NULL THEN 2
      |             WHEN u0m IS NOT NULL THEN 1
      |             ELSE 0 END AS furthest
      |      FROM s2)
      |SELECT CAST(furthest AS INT) AS furthest, CAST(count(*) AS BIGINT) AS n
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    "q108_retention" -> """
      |WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |firsts AS (SELECT user_id, min(day) AS cohort_day FROM days GROUP BY 1),
      |x AS (SELECT DISTINCT cohort_day,
      |        CAST((day - cohort_day) // 7 AS INT) AS week_offset, user_id
      |      FROM days JOIN firsts USING (user_id))
      |SELECT cohort_day, week_offset, CAST(count(*) AS BIGINT) AS users
      |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q109_decorrelate" -> """
      |SELECT s.s_suppkey, s.s_nationkey,
      |       CAST(round(s.s_acctbal * 100) AS BIGINT) AS bal_cents
      |FROM supplier s
      |WHERE CAST(round(s.s_acctbal * 100) AS BIGINT) *
      |      (SELECT count(*) FROM supplier t
      |       WHERE t.s_nationkey = s.s_nationkey)
      |    > (SELECT sum(CAST(round(t.s_acctbal * 100) AS BIGINT))
      |       FROM supplier t WHERE t.s_nationkey = s.s_nationkey)
      |ORDER BY s.s_suppkey""".stripMargin)
}
