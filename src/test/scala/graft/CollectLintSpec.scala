package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.{CaseWhen, CurrentRow,
  Expression, Literal, RowFrame, SpecifiedWindowFrame, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Collect, Complete, Partial}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec,
  ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.window.{WindowExec,
  WindowGroupLimitExec}
import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec,
  LocalLimitExec, RangeExec, TakeOrderedAndProjectExec}

/** The round-9 verdict's last hand-audited scale class, mechanized: a
  * driver `.collect()`/`.head()` or a `collect_list`/`collect_set`
  * aggregate materializes data OUTSIDE the distributed dataflow (driver
  * heap / one task's buffer), so every site must carry a mechanical
  * bound. Two lints enforce it over the whole surface, the same
  * allowlist + anti-rot + negative-control pattern as WindowLintSpec:
  *
  *  1. SOURCE lint: every driver-action call site in `src/main/scala`
  *     (minus `graft/dev/` probes, which are measurement harnesses)
  *     must be in [[driverActionAllow]] with its bound stated
  *     — a new uncapped `.collect()` in a hot path fails this suite
  *     instead of shipping.
  *  2. PLAN lint: every `Collect*` aggregate in every
  *     [[SparkEntry.queries]] physical plan must be bounded — by a
  *     limit/top-k node below it, by the rank-cap contract
  *     (`collect_list(when(rn <= cap, x))`, the Events.horizonDedup
  *     spelling: a single-branch CaseWhen with no else IS the cap), by
  *     a literal-bounded ROWS window frame (rolling medians), or by an
  *     audited [[collectAggAllow]] entry naming the per-group
  *     cardinality argument.
  */
class CollectLintSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val srcRoot = Paths.get("src/main/scala")

  // ---------------------------------------------- 1. source-scan lint

  /** Driver actions that pull rows onto the driver. `.show()` and
    * `.count()` are excluded: show is debug-only (none in main) and
    * count returns one long. */
  private val actionRe =
    """\.(collect|head|first|collectAsList|toLocalIterator)\(\)""".r

  /** Files outside the lint's jurisdiction: measurement probes that
    * exist to print things on purpose. */
  private def exempt(rel: String): Boolean =
    rel.startsWith("graft/dev/")

  /** (relative path, trimmed line) -> (occurrences, why it is bounded).
    * Every entry is an audited driver materialization; the anti-rot test
    * fails if the line moves, changes, or multiplies. */
  private val driverActionAllow: Map[(String, String), (Int, String)] = Map(
    ("graft/queries/GraphEvents.scala",
      """val m = (orders.agg(max(col("o_orderkey"))).head().getLong(0) + 1) / 5""") ->
      (3, "1-row global-max aggregate (modulus scalar for synthetic graphs)"),
    ("graft/queries/GraphEvents.scala",
      """val m = (orders.agg(max(col("o_orderkey"))).head().getLong(0) + 1) / 10""") ->
      (2, "1-row global-max aggregate (modulus scalar)"),
    ("graft/queries/Curation.scala", """.orderBy($"round").collect()""") ->
      (1, "bpeTrain merge list: <= rounds rows (4 in q365), vocabulary-sized"),
    ("graft/queries/MiningQueries.scala",
      """.agg(max($"p_partkey")).head().getLong(0)""") ->
      (1, "1-row global-max aggregate (negative-sampling modulus)"),
    ("graft/etl/Vocab.scala", """.collect()""") ->
      (1, "bpeTrain per-round argmax: limit(1) on the preceding line"),
    ("graft/etl/Vocab.scala", """.head().getLong(0)""") ->
      (1, "1-row global-sum aggregate (corpus token count per BPE round)"),
    ("graft/etl/Sketches.scala",
      """.collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap""") ->
      (1, "bloom bitmap words: <= mBits/64 rows, mBits is a require-checked " +
        "constructor constant"),
    ("graft/etl/Similarity.scala",
      """.select(quantize(col(vecCol)).as("qv")).collect()""") ->
      (2, "PQ codebook seeds: limit(ks) above, require(ks <= 16)"),
    ("graft/etl/Similarity.scala",
      """.collect().map(r => (r.getAs[Long]("lab"), r.getAs[Long]("n"),""") ->
      (1, "per-class centroid sums: require(classes <= 64) right below"),
    ("graft/etl/Similarity.scala",
      """val first = q.orderBy(col("id")).limit(1).collect().head""") ->
      (2, "limit(1): deterministic seed row (kCenterGreedy / mmrTopK)"),
    ("graft/etl/Similarity.scala", """.collect().head.getStruct(0)""") ->
      (1, "1-row global-max-struct aggregate (k-center farthest point)"),
    ("graft/etl/Similarity.scala", """.collect()""") ->
      (1, "MMR candidate pool: orderBy+limit(poolSize) above, " +
        "require(poolSize <= 64)"),
    ("graft/etl/Similarity.scala", """.select(q.as("qv")).collect()""") ->
      (1, "IVF centroids: limit(nlist) above, literal-bounded"))

  /** Scan one file's content; returns offending (trimmedLine, count)
    * pairs not covered by the allowlist. Exposed as a function so the
    * negative control can feed synthetic content. */
  private def scanContent(rel: String, content: String): Seq[String] = {
    val hits = content.linesIterator.map(_.trim)
      .filter(l => actionRe.findFirstIn(l).isDefined && !l.startsWith("*") &&
        !l.startsWith("//"))
      .toSeq.groupBy(identity).view.mapValues(_.size).toSeq
    hits.flatMap { case (line, n) =>
      driverActionAllow.get((rel, line)) match {
        case Some((allowed, _)) if allowed == n => Nil
        case Some((allowed, _)) =>
          Seq(s"$rel: '$line' matched $n times, allowlist says $allowed")
        case None => Seq(s"$rel: unaudited driver action '$line'")
      }
    }
  }

  private def mainSources: Seq[(String, String)] = {
    val files = Files.walk(srcRoot).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    files.map { p =>
      val rel = srcRoot.relativize(p).toString.replace('\\', '/')
      rel -> new String(Files.readAllBytes(p), "UTF-8")
    }.filterNot { case (rel, _) => exempt(rel) }.sortBy(_._1)
  }

  test("every driver collect/head/first call site in main is audited") {
    val bad = mainSources.flatMap { case (rel, content) =>
      scanContent(rel, content)
    }
    assert(bad.isEmpty,
      "unaudited driver materializations (bound the input with " +
        "limit/top-k/1-row agg and add a driverActionAllow entry stating " +
        s"the bound):\n${bad.mkString("\n")}")
  }

  test("the driver-action allowlist carries no stale entries") {
    val byFile = mainSources.toMap
    val stale = driverActionAllow.toSeq.sortBy(_._1.toString).flatMap {
      case ((rel, line), (count, _)) =>
        byFile.get(rel) match {
          case None => Seq(s"$rel no longer exists (entry '$line')")
          case Some(content) =>
            val n = content.linesIterator.map(_.trim).count(_ == line)
            if (n != count)
              Seq(s"$rel: '$line' now matches $n times, entry says $count")
            else Nil
        }
    }
    assert(stale.isEmpty,
      s"stale driverActionAllow entries — re-audit:\n${stale.mkString("\n")}")
  }

  test("negative control: an unlisted .collect() flags") {
    assert(scanContent("graft/etl/Fake.scala",
      "val all = df.collect()\n").nonEmpty)
    // and a line-content drift on an allowlisted file flags too
    assert(scanContent("graft/etl/Vocab.scala",
      "  .collect()\n  .collect()\n").nonEmpty,
      "count drift must flag")
  }

  // ----------------------------------------------- 2. plan-walk lint

  private def bounding(p: SparkPlan): Boolean = p.exists {
    case _: GlobalLimitExec | _: LocalLimitExec | _: CollectLimitExec |
        _: TakeOrderedAndProjectExec | _: WindowGroupLimitExec => true
    case r: RangeExec if r.numElements <= BigInt(100000) => true
    case _ => false
  }

  /** The horizonDedup rank-cap contract, detected mechanically: the
    * Collect input is a single-branch CaseWhen with NO else (collect_*
    * skips the nulls, so the predicate IS the cap). */
  private def rankCapped(e: Expression): Boolean = e match {
    case CaseWhen(branches, None) if branches.size == 1 => true
    case _ => false
  }

  private def partialCollects(exprs: Seq[Expression]): Seq[Collect[_]] =
    exprs.flatMap(_.collect {
      case ae: AggregateExpression
          if ae.mode == Partial || ae.mode == Complete =>
        ae.aggregateFunction match {
          case c: Collect[_] => Seq(c)
          case _ => Nil
        }
    }.flatten)

  /** A window frame that mechanically bounds a collected array: ROWS
    * with literal (or current-row) endpoints — the rolling-median
    * shape. RANGE or unbounded-preceding frames don't bound the buffer. */
  private def boundedFrame(w: WindowExpression): Boolean =
    w.windowSpec.frameSpecification match {
      case SpecifiedWindowFrame(RowFrame, lo, hi) =>
        def fixed(b: Expression): Boolean = b match {
          case _: Literal | CurrentRow => true
          case _ => false
        }
        fixed(lo) && fixed(hi)
      case _ => false
    }

  /** Queries whose Collect* aggregate input is bounded for a reason the
    * mechanical rules can't see. Every entry must still HAVE a Collect*
    * in its plan (anti-rot test). Keep SHORT — the rank-cap spelling
    * exists precisely so new collect sites never need an entry. */
  private val shingleEngineBound =
    "shingle-bucket id lists are <= cap by the hot-set anti-join PRE-cap " +
      "(Similarity.intersectionPairsFromTokens: shingles with > cap " +
      "members never reach the collect)"

  private val collectAggAllow: Map[String, String] = Map(
    "q107_funnel" -> ("funnelFurthest collects one USER's events inside " +
      "the funnel window — per-user cardinality, the same contract as " +
      "the streaming twin's flatMapGroupsWithState buffer"),
    "q342_error_report" -> ("first-k example ids per error group: " +
      "sort_array(collect_list)[1..k] — A13's semantics need the " +
      "smallest k ids, group size = one error class's product count"),
    "q412_err" -> ("errAtK prefix fold: input filtered to rank <= k, " +
      "require(k <= 10)"),
    "q26_ngram_jaccard" -> shingleEngineBound,
    "q162_containment" -> shingleEngineBound,
    "q319_simhash_recall" -> shingleEngineBound,
    "q346_sampled_simhash_recall" -> shingleEngineBound,
    "q362_winnow_overlap" -> shingleEngineBound,
    "q469_split_leak" -> shingleEngineBound,
    "q482_backfill_lpt" -> ("LPT planner folds the per-bucket size " +
      "list: <= rankPartitions=32 rows by construction"),
    "q84_listagg" -> ("collect_set of o_orderstatus — 3-value enum " +
      "domain, the listagg semantics under test"))

  private def collectOffenders(plan: SparkPlan): Seq[String] = plan.collect {
    case a: ObjectHashAggregateExec
        if partialCollects(a.aggregateExpressions.map(identity)).nonEmpty =>
      partialCollects(a.aggregateExpressions.map(identity))
        .filterNot(c => rankCapped(c.child))
        .filter(_ => !bounding(a.child))
        .map(c => s"${c.prettyName} aggregate over an unbounded group")
    case a: SortAggregateExec
        if partialCollects(a.aggregateExpressions.map(identity)).nonEmpty =>
      partialCollects(a.aggregateExpressions.map(identity))
        .filterNot(c => rankCapped(c.child))
        .filter(_ => !bounding(a.child))
        .map(c => s"${c.prettyName} sort-aggregate over an unbounded group")
    case w: WindowExec =>
      w.windowExpression.flatMap(_.collect {
        case we: WindowExpression if !boundedFrame(we) =>
          partialCollects(Seq(we.windowFunction))
            .filterNot(c => rankCapped(c.child))
            .map(c => s"${c.prettyName} over an unbounded window frame")
      }.flatten).filter(_ => !bounding(w.child))
  }.flatten

  test("every collect_list/collect_set aggregate in every query plan " +
      "is capped, frame-bounded, or audited") {
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        if (collectAggAllow.contains(name)) Nil
        else collectOffenders(fn(spark, dir).queryExecution.sparkPlan)
          .map(r => s"$name: $r")
    }
    assert(bad.isEmpty,
      "unbounded collected arrays (cap with the " +
        "collect_list(when(rn <= cap, x)) rank-cap spelling, bound the " +
        "frame, or add an audited collectAggAllow entry):\n" +
        bad.mkString("\n"))
  }

  test("the collect-agg allowlist names only queries that really " +
      "collect") {
    val stale = collectAggAllow.keys.toSeq.sorted.filter { name =>
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.sparkPlan
      !plan.exists { p =>
        p.expressions.exists(_.exists {
          case ae: AggregateExpression =>
            ae.aggregateFunction.isInstanceOf[Collect[_]]
          case _ => false
        })
      }
    }
    assert(stale.isEmpty,
      s"collectAggAllow entries with no Collect* left — remove: " +
        s"${stale.mkString(", ")}")
  }

  // ------------------------------------- 3. streaming-buffer lint

  /** The flatMapGroupsWithState sibling of the collect lint: an
    * `Iterator.toSeq` inside a stateful streaming op materializes one
    * key's micro-batch rows in executor memory — the module's documented
    * contract (bounded by one key's events in one micro-batch; durable
    * state is never the buffer). Every site must be audited here; the
    * round-9 verdict's funnelStream watch item, generalized. */
  private val bufferRe = """rows\.(toSeq|toList|toArray)""".r

  /** (relative path, trimmed line) -> (occurrences, why it is bounded). */
  private val streamBufferAllow: Map[(String, String), (Int, String)] = {
    val contract = "per-(key, micro-batch) sort buffer — bounded by one " +
      "key's rows in one batch; durable state is O(1)/capped per key"
    Map(
      ("graft/streaming/EventsStreaming.scala",
        """val out = rows.toSeq.sortBy(_.seq).map { r =>""") -> (1, contract),
      ("graft/streaming/EventsStreaming.scala",
        """val out = rows.toSeq""") -> (1, contract),
      ("graft/streaming/EventsStreaming.scala",
        """rows.toSeq.sortBy(r => (r.us, r.event_id)).foreach { r =>""") ->
        (4, contract),
      ("graft/streaming/EventsStreaming.scala",
        """rows.toSeq.sortBy(_.d).foreach { r =>""") -> (1, contract),
      ("graft/streaming/EventsStreaming.scala",
        """rows.toSeq.sortBy(r => (r.us, r.is_probe, r.pick)).foreach { r =>""") ->
        (1, contract),
      ("graft/streaming/EventsStreaming.scala",
        """val out = rows.toSeq.sortBy(r => (r.us, r.id)).map { r =>""") ->
        (2, contract),
      ("graft/streaming/EventsStreaming.scala",
        """val out = rows.toSeq.sortBy(_.ts.getTime).flatMap { r =>""") ->
        (1, contract),
      ("graft/streaming/EventsStreaming.scala",
        """rows.toSeq.sortBy(_.id).foreach { r =>""") ->
        (1, contract + "; lshCandidateStream state additionally " +
          "pre-capped at maxBucket members per bucket"),
      ("graft/streaming/EventsStreaming.scala",
        """val out = rows.toSeq.sortBy(r => (r.us, r.event_id)).flatMap { r =>""") ->
        (1, contract))
  }

  private def scanBuffers(rel: String, content: String): Seq[String] = {
    if (!rel.startsWith("graft/streaming/")) Nil
    else {
      val hits = content.linesIterator.map(_.trim)
        .filter(l => bufferRe.findFirstIn(l).isDefined &&
          !l.startsWith("*") && !l.startsWith("//"))
        .toSeq.groupBy(identity).view.mapValues(_.size).toSeq
      hits.flatMap { case (line, n) =>
        streamBufferAllow.get((rel, line)) match {
          case Some((allowed, _)) if allowed == n => Nil
          case Some((allowed, _)) =>
            Seq(s"$rel: '$line' matched $n times, allowlist says $allowed")
          case None => Seq(s"$rel: unaudited stream buffer '$line'")
        }
      }
    }
  }

  test("every stateful-streaming iterator buffer is audited") {
    val bad = mainSources.flatMap { case (rel, content) =>
      scanBuffers(rel, content)
    }
    assert(bad.isEmpty,
      "unaudited per-key micro-batch buffers (state the bound and add a " +
        s"streamBufferAllow entry):\n${bad.mkString("\n")}")
  }

  test("the stream-buffer allowlist carries no stale entries") {
    val byFile = mainSources.toMap
    val stale = streamBufferAllow.toSeq.sortBy(_._1.toString).flatMap {
      case ((rel, line), (count, _)) =>
        byFile.get(rel) match {
          case None => Seq(s"$rel no longer exists (entry '$line')")
          case Some(content) =>
            val n = content.linesIterator.map(_.trim).count(_ == line)
            if (n != count)
              Seq(s"$rel: '$line' now matches $n times, entry says $count")
            else Nil
        }
    }
    assert(stale.isEmpty,
      s"stale streamBufferAllow entries — re-audit:\n${stale.mkString("\n")}")
  }

  test("negative control: an unlisted stream buffer flags") {
    assert(scanBuffers("graft/streaming/Fake.scala",
      "val all = rows.toList\n").nonEmpty)
    assert(scanBuffers("graft/etl/Fake.scala",
      "val all = rows.toList\n").isEmpty,
      "the buffer lint scopes to the streaming module only")
  }

  test("negative control: raw collect_list flags; the rank-cap and " +
      "rolling-frame spellings clear") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
    // uncapped per-user collect over raw rows: must flag
    val raw = e.groupBy(col("user_id"))
      .agg(collect_list(col("event_type")).as("evs"))
    assert(collectOffenders(raw.queryExecution.sparkPlan).nonEmpty,
      "uncapped collect_list must flag")
    // the horizonDedup rank-cap spelling: must clear
    val wk = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val capped = e.withColumn("_rn", row_number().over(wk))
      .groupBy(col("user_id"))
      .agg(collect_list(when(col("_rn") <= 100,
        col("event_type"))).as("evs"))
    assert(collectOffenders(capped.queryExecution.sparkPlan).isEmpty,
      "the rank-cap spelling is the sanctioned one and must clear")
    // a literal ROWS frame (rolling median shape): must clear
    val rolling = e.withColumn("fr", collect_list(col("value")).over(
      Window.partitionBy(col("user_id")).orderBy(col("ts"))
        .rowsBetween(-14, Window.currentRow)))
    assert(collectOffenders(rolling.queryExecution.sparkPlan).isEmpty,
      "literal ROWS frames bound the buffer and must clear")
    // an unbounded-preceding frame: must flag
    val unb = e.withColumn("fr", collect_list(col("value")).over(
      Window.partitionBy(col("user_id")).orderBy(col("ts"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    assert(collectOffenders(unb.queryExecution.sparkPlan).nonEmpty,
      "unbounded-preceding collect frames must flag")
  }
}
