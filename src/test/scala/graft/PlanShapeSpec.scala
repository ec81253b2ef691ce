package graft

import graft.SparkSpec

/** Plan-shape regression tests: the scale properties the engine promises
  * (filter/column pushdown into the scan, broadcast dims, top-k without a
  * full sort) must survive refactors. Asserted on the formatted physical
  * plan at sf0.001. */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  test("q2: predicates and projection pushed into the parquet scan") {
    val p = plan("q2_filter")
    assert(p.contains("PushedFilters:"))
    assert(p.contains("GreaterThan(l_quantity,45.0)"))
    assert(p.contains("EqualTo(l_returnflag,R)"))
    // pruned ReadSchema: only the 5 referenced columns, no l_extendedprice
    assert(!p.contains("l_extendedprice"))
  }

  test("q3: all three dims broadcast — the fact side never shuffles for joins") {
    val p = plan("q3_join_agg")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q4: global top-k plans as TakeOrderedAndProject, not a full sort") {
    val p = plan("q4_topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q1: partial aggregation before the shuffle (map-side combine)") {
    val p = plan("q1_agg")
    assert(p.contains("HashAggregate"))
    assert(p.contains("Exchange"))
    // partial_ functions indicate map-side combine in formatted plans
    assert(p.contains("partial_"))
  }

  test("q29: the ANN query broadcasts the query side") {
    val p = plan("q29_ann_topk")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"))
  }

  test("q26: the capped default never self-joins the shingle table") {
    // the scale guarantee: pair generation happens INSIDE the bucket
    // aggregate (explode over collect_list), so the only joins are the
    // small candidate/size joins — a shingle-on-shingle self-join would
    // be the c² skew bomb.
    val df = graft.etl.Similarity.ngramJaccardPairs(
      graft.Tables.documents(spark, dir), "doc_id", "text", 3)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("Generate"), "bucket-explode pair generation missing")
  }

  test("q50/q52: bucketed ANN joins are equi-joins, never cartesian") {
    Seq("q50_ann_lsh", "q52_cosine_dups").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans an NL join")
    }
  }

  test("qdot scoring runs inside whole-stage codegen (no CodegenFallback HOF)") {
    // scoring operates on already-quantized long arrays (the quantize prep
    // is a separate once-per-row projection); a codegen-able cast stands in
    // for the quantized column here
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, dir)
    val df = emb.select(col("embedding").cast("array<bigint>").as("q"))
      .select(call_function("qdot", col("q"), col("q")).as("d"))
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.linesIterator.exists(_.trim.startsWith("* ")), "no codegen span")
    assert(p.contains("qdot"))
  }

  test("joining two tables bucketed on the join key plans zero shuffles") {
    // the SCALE.md layout claim behind Sinks.writeProcessedTable: once both
    // sides are bucketed ×N on the key, a join on it is co-located — no
    // Exchange on either side (this is what replaces the reference's DB
    // index for repeated MERGE/join at 100 TB)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Seq("bleft", "bright").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(s"spark-warehouse/$t"))
      }
      (1L to 1000L).toDF("id").withColumn("a", col("id") * 2)
        .write.bucketBy(8, "id").sortBy("id").saveAsTable("bleft")
      (1L to 1000L).toDF("id").withColumn("b", col("id") * 3)
        .write.bucketBy(8, "id").sortBy("id").saveAsTable("bright")
      val joined = spark.table("bleft").join(spark.table("bright"), "id")
      val p = joined.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"))
      assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n$p")
      assert(joined.count() == 1000)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      Seq("bleft", "bright").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("corpus operators: split/chunk shuffle-free, packing exactly one Exchange") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir)
    def fplan(df: org.apache.spark.sql.DataFrame) = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)

    // split: pure row-local projection — no Exchange anywhere
    val splitDf = docs.select(col("doc_id"),
      graft.queries.TrainingData.splitColumn(col("doc_id")).as("split"))
    assert(!fplan(splitDf).contains("Exchange"), "train split must not shuffle")

    // chunking: partition-local Generate — no Exchange
    val chunks = graft.etl.Corpus.chunkText(docs, "doc_id", "text", 200, 150)
    val cp = fplan(chunks)
    assert(cp.contains("Generate"))
    assert(!cp.contains("Exchange"), "chunking must not shuffle")

    // packing: exactly the one hash Exchange on the shard key
    val toks = docs.select(col("doc_id"),
      size(split(col("text"), " ")).as("n_tokens"))
    val packed = graft.etl.Corpus.packSequences(toks, "doc_id", "n_tokens",
      2048, pmod(col("doc_id"), lit(8)))
    val pp = fplan(packed)
    // formatted mode prints each node twice (tree + detail) — count the
    // numbered detail headers
    assert("""\(\d+\) Exchange""".r.findAllIn(pp).size == 1,
      s"packing must shuffle exactly once:\n$pp")
  }

  test("q74: the bucketed range join is an equi-join, never a nested loop") {
    val p = plan("q74_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
      || p.contains("ShuffledHashJoin"), p)
  }

  test("q79/q81: quantization and z-order keys are scan-only projections") {
    import org.apache.spark.sql.functions._
    def fplan(df: org.apache.spark.sql.DataFrame) = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    // without the display orderBy, neither op has any reason to shuffle
    val quant = graft.etl.Similarity.int8QuantStats(
      Tables.embeddings(spark, dir), "vec_id", "embedding")
    assert(!fplan(quant).contains("Exchange"),
      "int8 quantization must not shuffle")
    val z = Tables.orders(spark, dir).select(col("o_orderkey"),
      graft.etl.Layout.zValue(col("o_orderkey"), col("o_custkey")).as("z"))
    val zp = fplan(z)
    assert(!zp.contains("Exchange"), "zValue must not shuffle")
    assert(!zp.contains("BatchEvalPython") && !zp.contains("Filter udf"),
      "zValue must stay a native expression")
  }

  test("q82: the percentile fence joins back as a broadcast") {
    val p = plan("q82_iqr_outliers")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q93: the global-bounds row joins back as a broadcast, not a shuffle") {
    val p = plan("q93_dyn_histogram")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q124: bloom membership filters the fact scan BEFORE the semi-join") {
    val p = plan("q124_bloom_join")
    // the bitmap probe is a Filter on the fact side, not inside the join
    assert(p.contains("LeftSemi"))
    assert(p.contains("xxhash64"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q127/q129: set-jaccard and kmeans never plan an unbounded cartesian") {
    val p127 = plan("q127_set_jaccard")
    assert(!p127.contains("CartesianProduct"))
    assert(!p127.contains("BroadcastNestedLoopJoin"))
    val p129 = plan("q129_kmeans")
    // the only product is the broadcast k-row centroid table
    assert(p129.contains("BroadcastNestedLoopJoin") ||
      p129.contains("BroadcastExchange"))
    assert(!p129.contains("CartesianProduct"))
    // argmin folds into an aggregate, not a per-vector window sort
    assert(p129.contains("partial_min"))
  }

  test("q140/q143: eval-family windows stay partitioned, aggs combine map-side") {
    // AUC: distinct-score collapse partial-aggregates before its shuffle;
    // the final groupBy reuses the window's hashpartitioning(g) — three
    // exchanges total (two hash + the output orderBy), nothing global
    val p140 = plan("q140_auc")
    assert(p140.contains("partial_sum"))
    assert("""\(\d+\) Exchange""".r.findAllIn(p140).size <= 3)
    // RRF: all three windows share one segment-key partitioning (one hash
    // exchange + the output orderBy), and the top-5 filter pushes into a
    // WindowGroupLimit instead of materializing every rank
    val p143 = plan("q143_rrf")
    assert("""\(\d+\) Exchange""".r.findAllIn(p143).size <= 2)
    assert(p143.contains("WindowGroupLimit"))
  }

  test("q146: basket lift plans top-k and scalar joins, never a cartesian") {
    val p = plan("q146_basket_lift")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("CartesianProduct"))
    // the only nested-loop product is the broadcast 1-row basket count
    assert("""\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).size <= 1)
  }

  test("q131: drift statistics partial-aggregate before the one shuffle") {
    val p = plan("q131_drift")
    assert(p.contains("partial_"))
    // one shuffle for the groupBy, one for the final orderBy — nothing
    // else (formatted mode lists each node twice: tree + detail section)
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size <= 2)
  }

  test("q134: incremental dedup joins new-vs-old, never old-vs-old") {
    val p = plan("q134_incremental_dedup")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q156-q158: series/semdedup screens plan bounded joins only") {
    // ACF: the lag pairs join the checkpointed day-bounded series — hash
    // or broadcast joins, never a sort-merge over the raw table; the only
    // nested-loop product is the broadcast maxLag-row table
    val p156 = plan("q156_acf")
    assert(!p156.contains("CartesianProduct"))
    assert(!p156.contains("SortMergeJoin"))
    // CUSUM: pure agg + windows — no join anywhere, partial agg map-side
    val p157 = plan("q157_cusum")
    assert(!p157.contains("Join"))
    assert(p157.contains("partial_"))
    // SemDeDup: same bounded-centroid product as q129, argmin as an agg
    val p158 = plan("q158_semdedup")
    assert(!p158.contains("CartesianProduct"))
    assert(p158.contains("partial_min"))
  }

  test("q206: the deterministic shuffle never plans a global single-partition sort") {
    // the two-phase range rank's windows are partitioned by bucket (and
    // the O(#buckets) offsets cumsum); a plain row_number() OVER (ORDER BY)
    // would appear as a partition-free window sort over the whole table
    val p = plan("q206_shuffle_shard")
    assert(!p.contains("Window [") ||
      !"Window \\[[^\\]]*\\], \\[\\]".r.findFirstIn(p).isDefined)
    // the parallel rank path is present: a range partitioning + bucketed window
    assert(p.contains("rangepartitioning") || p.contains("RangePartitioning")
      || p.contains("Exchange rangepartitioning"))
  }

  test("q205/q212: tolerance as-of and trailing count stay single-key-shuffle") {
    // both ride the union+window pass: no join between left/right event
    // streams beyond the final bounded id fold — never a range/nested-loop
    val p205 = plan("q205_asof_tolerance")
    assert(!p205.contains("CartesianProduct"))
    assert(!p205.contains("BroadcastNestedLoopJoin"))
    val p212 = plan("q212_trailing_count")
    assert(!p212.contains("CartesianProduct"))
    assert(!p212.contains("BroadcastNestedLoopJoin"))
    assert(!p212.contains("SortMergeJoin") || p212.contains("Exchange"),
      "the only joins are the bounded per-id fold merge")
  }

  test("q199/q210: KMV fold and reference percentile partial-aggregate map-side") {
    val p199 = plan("q199_kmv")
    // the TopKAgg bottom-k fold shows ObjectHashAggregate partials — the
    // bounded-buffer shape; no per-group window sort of the hash table
    assert(p199.contains("ObjectHashAggregate") || p199.contains("partial_"))
    val p210 = plan("q210_ref_percentile")
    // round 8: the <=-count reads a value-grain ref histogram joined
    // back by (group, value) — cumsum over distinct values, and the
    // per-group nref comes back as a broadcast
    assert(p210.contains("Window"))
    assert(p210.contains("BroadcastHashJoin"), p210)
    assert(!p210.contains("CartesianProduct"))
  }

  test("q218/q219: clamped balance and TWAP are window-only — no joins") {
    // the prefix-min identity and LOCF hold-to-next are pure stacked
    // windows over ONE key partitioning; a join or cartesian here would
    // mean the recurrence got reimplemented as a self-join
    val p218 = plan("q218_clamped_balance")
    assert(!p218.contains("Join"))
    assert(p218.contains("Window"))
    val p219 = plan("q219_twap")
    assert(!p219.contains("Join"))
    assert(p219.contains("Window"))
  }

  test("q228: FIFO matching is a keyed equi-join, never a cartesian") {
    // the range predicate rides ON TOP of the user_id equi-join — if the
    // equi key were lost the plan would degrade to BNLJ/cartesian and
    // evaluate |S|x|D| pairs globally instead of per key
    val p = plan("q228_fifo_match")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"))
  }

  test("q220/q226: rollup and cube plan one Expand, not a scan self-union") {
    val p220 = plan("q220_rollup_revenue")
    assert(p220.contains("Expand"))
    // formatted mode prints each node twice (tree + detail): 4 base
    // tables => 8 mentions; more would mean grouping sets re-scanned
    assert("Scan parquet".r.findAllIn(p220).size <= 8,
      "one scan per base table — grouping sets must not re-scan")
    val p226 = plan("q226_cube")
    assert(p226.contains("Expand"))
    assert("Scan parquet".r.findAllIn(p226).size <= 2)
  }

  test("q223: bipartite projection joins only on the capped left key") {
    val p = plan("q223_brand_copurchase")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("shop adapter transform keeps whole-stage codegen spans") {
    import spark.implicits._
    val row =
      """{"product":{"id":"1","title":"T","category":"zuivel","subtitle":"500 g",
        |"prices":{"price":199},"inAssortment":true}}""".stripMargin.replace("\n", "")
    val df = graft.etl.Shops.Jumbo.unified(
      spark.read.schema(graft.etl.Shops.Jumbo.schema).json(spark.createDataset(Seq(row))))
    // formatted mode marks codegen stages with a leading '*'
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.linesIterator.exists(_.trim.startsWith("* ")))
  }

  test("q243: category stats broadcast back — no sort-merge join, no window") {
    // the scale contract of LOO target encoding: the per-category table is
    // tiny, so it must come back as a broadcast join, never a window over
    // a (skewed) category partition or a shuffled join
    val p = plan("q243_target_encode")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("WindowExec") && !p.contains("RunningWindow"))
  }

  test("q250: mutual-NN joins stay keyed — no cartesian pair generation") {
    val p = plan("q250_mutual_nn")
    assert(!p.contains("CartesianProduct"))
    // candidate generation is the bucket-keyed self-join; the only
    // broadcast-nested-loop joins allowed are none at all here
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q251: hilbert is a native expression over a 2-column pruned scan") {
    val p = plan("q251_hilbert")
    assert(p.contains("hilbert("))
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint>"))
  }

  test("q261: nine sufficient statistics combine map-side in one pass") {
    val p = plan("q261_ols2")
    assert("partial_sum".r.findAllIn(p).size >= 8)
    assert("partial_count".r.findAllIn(p).nonEmpty)
  }
  test("q274: split candidates collapse to distinct values before the window") {
    val p = plan("q274_best_split")
    // the ordered window must consume the (cohort, value) aggregate,
    // not raw rows: partial (map-side) aggregation appears below it
    assert("partial_count".r.findAllIn(p).nonEmpty)
    assert(!p.contains("CartesianProduct"))
  }

  test("q281: dim profile scans only the embedding column") {
    val p = plan("q281_dim_profile")
    assert(p.contains("ReadSchema: struct<embedding:array<float>>"))
    assert(!p.contains("vec_id"))
  }

  test("q285: k-truss wedge joins stay keyed — never node-pair products") {
    val p = plan("q285_ktruss")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q287: NB classifier never forms a cartesian doc-class product") {
    val p = plan("q287_nb_classify")
    assert(!p.contains("CartesianProduct"))
  }

  test("q306/q316: rank windows stay partitioned, bin aggs combine map-side") {
    for (q <- Seq("q306_lift_curve", "q316_qini_curve")) {
      val p = plan(q)
      // the expensive sort is the per-group rank window, never global
      assert(!p.contains("CartesianProduct"), q)
      assert(p.contains("partial_count") || p.contains("HashAggregate"), q)
    }
  }

  test("q314: textrank joins stay keyed on the word graph — no pair products") {
    val p = plan("q314_textrank")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q314/q328: global top-k plans TakeOrderedAndProject, not a full sort") {
    for (q <- Seq("q314_textrank", "q328_path_anomaly")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), q)
    }
  }

  test("q315: both audit legs broadcast the sampled query side") {
    val p = plan("q315_ann_recall")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1)
    assert(!p.contains("CartesianProduct"))
  }

  test("q319: simhash audit pair joins stay keyed (scalar fold-in aside)") {
    val p = plan("q319_simhash_recall")
    // the only nested-loop joins are the 2 one-row summary crossJoins
    // (each named twice in FormattedMode: tree + detail section);
    // shingle/band pair generation must stay equi-keyed
    assert(!p.contains("CartesianProduct"))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 4)
  }

  test("q322: score matching is one union+window pass, no per-pair join") {
    val p = plan("q322_score_match")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin") || p.contains("Window"))
    assert(p.contains("Window"))
  }

  test("q343: markup density is scan-only — the lone Exchange is the output sort") {
    // the pre-sort barrier (SortBarrier.sortedOnce) plans as an opaque
    // LogicalRDD that hides the scan; assert the underlying shape with
    // the barrier off, then that the default plan still has no extra
    // shuffle above the barrier
    graft.queries.SortBarrier.disabled = true
    val p = try plan("q343_markup_density")
    finally graft.queries.SortBarrier.disabled = false
    // exactly one Exchange, and it is the rangepartitioning of the
    // query's deterministic orderBy, not an aggregation shuffle
    assert("Exchange".r.findAllIn(p).size <= 2, "operator must not shuffle")
    assert(p.contains("rangepartitioning"))
    assert(!p.contains("HashAggregate"))
    assert(p.contains("ReadSchema") && p.contains("text"))
  }

  test("q344: the band plan is data-free — a Range, no file scan") {
    val p = plan("q344_lsh_band_plan")
    assert(p.contains("Range"))
    assert(!p.contains("FileScan") && !p.contains("parquet"),
      "the S-curve must not read any table")
  }

  test("q345: temperature weights = one combine agg + one-row broadcast back") {
    val p = plan("q345_temperature_weights")
    assert(p.contains("partial_count"), "source counts must combine map-side")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), "the one-row denominator broadcasts")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q346: the sampled audit pushes the sample filter into the scan side") {
    val p = plan("q346_sampled_simhash_recall")
    // the sha-prefix sample is a deterministic row filter: it must sit in
    // a Filter directly over the scans, before any explode or join
    assert(p.contains("sha2"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q362/q363: banded pair generation never plans a cartesian product") {
    val pw = plan("q362_winnow_overlap")
    assert(!pw.contains("CartesianProduct") &&
      !pw.contains("BroadcastNestedLoopJoin"), pw)
    val pi = plan("q363_image_dup_classes")
    assert(!pi.contains("CartesianProduct") &&
      !pi.contains("BroadcastNestedLoopJoin"), pi)
    // the dhash class pairs join on (band, block), an equi-join
    assert(pi.contains("hamming") || pi.contains("bit_count"), pi)
  }

  test("q364: the leak scan joins train x test on the bucket, no self-join quadrants") {
    val p = plan("q364_embedding_leak")
    assert(!p.contains("CartesianProduct"), p)
    // both sides filtered BEFORE the join: the residue split reaches the scan
    assert(p.contains("PushedFilters"), p)
  }

  test("q369: the JL projection is scan-shaped — no Exchange at all") {
    val p = plan("q369_sign_projection")
    // the orderBy's range exchange is the only allowed one (formatted
    // mode prints each node once in the tree and once in the details,
    // so count detail entries)
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 1, p)
  }

  test("q53: winnow fingerprinting runs the native expression, not a UDF") {
    val p = plan("q53_winnow")
    assert(p.contains("winnow_fps"), p)
    assert(!p.toLowerCase.contains("batchevalpython") &&
      !p.contains("ScalaUDF"), p)
  }

  test("q48: the generic adapter parses the document once per side") {
    val p = plan("q48_generic_lineage")
    // a handful of from_json mentions (shared-subexpression copies across
    // projections), never the ~45 per-candidate get_json_object parses
    assert("from_json".r.findAllIn(p).size <= 8, p)
    assert(!p.contains("get_json_object"), p)
  }

  test("q322: the as-of windows are running frames, not UnboundedFollowing") {
    val p = plan("q322_score_match")
    assert(!p.contains("unboundedfollowing$()"), p)
  }

  test("q410: candidate periods broadcast, never a shuffled join") {
    val p = plan("q410_period_scan")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q413: every recall rung broadcasts the query side against the " +
    "corpus scan") {
    // 2 BNLJ per rung (truth + truncated approx) x 3 rungs; the remaining
    // joins are the recallOf audit joins over (queries x k) rows — tiny at
    // any corpus scale, so their strategy is immaterial
    val p = plan("q413_matryoshka_recall")
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size >= 6, p)
  }

  test("q415/q416: fairness and balance are agg+window only — no joins " +
    "beyond the arm assembly") {
    val pf = plan("q415_fairness_gaps")
    assert(!pf.contains("SortMergeJoin") && !pf.contains("CartesianProduct"),
      pf)
    val pb = plan("q416_smd_balance")
    assert(!pb.contains("CartesianProduct"), pb)
  }

  test("q422: the threshold sweep broadcasts the tau table over the " +
    "pair engine") {
    val p = plan("q422_dedup_sweep")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("q419: the top-50 plans as TakeOrderedAndProject, not a full sort") {
    val p = plan("q419_kn_continuation")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q461: the subsequence search is keyed equi-joins — never a " +
    "cartesian or nested-loop pass over event pairs") {
    val p = plan("q461_seq_patterns")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q458: the estimator audit partial-aggregates before both shuffles") {
    val p = plan("q458_join_card_audit")
    assert(p.contains("partial_"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q460: the DR cell-mean and target models broadcast onto the logs") {
    val p = plan("q460_doubly_robust")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q466: the 50-sample cap pushes into a WindowGroupLimit") {
    // rank <= 50 must become per-partition top-k heaps under the window,
    // not a full per-task sort followed by a filter
    val p = plan("q466_pass_at_k")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q483/q484: preference construction joins carry no cartesian") {
    for (q <- Seq("q483_dpo_pairs", "q484_pref_transitivity")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
    }
    // q484's tournament/triangle tables are broadcast-size after the
    // pair aggregate — nothing in the plan may sort-merge (the cross
    // combines of one-row aggregates plan as bounded BNLJ, allowed)
    assert(!plan("q484_pref_transitivity").contains("SortMergeJoin"))
  }

  test("q486/q488: single-pass aggregates, no joins at all") {
    for (q <- Seq("q486_format_bias", "q488_batch_packing")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
        q)
    }
  }

  test("q487: prefix-hit grid windows key on (prefix, bucket), never enum-only") {
    val p = plan("q487_kv_prefix_hits")
    assert(!p.contains("CartesianProduct"), p)
    // the previous-bucket completion joins are broadcast (bucket-grain)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q178: quotaStratifiedSample's literal conjunct fires WindowGroupLimit") {
    // Corpus.quotaStratifiedSample relies on InferWindowGroupLimit
    // extracting the `_rn <= lit(totalSlots)` branch out of the AND with
    // the column-quota bound (column-only bounds never fire the rewrite).
    // Pin the claim here so a Spark-version regression of the conjunct
    // extraction trips the gate, not a 100x-scale run.
    val p = plan("q178_quota_sample")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q468/q471: per-group scalars broadcast back, never a shuffled join") {
    for (q <- Seq("q468_conformal_coverage", "q471_grpo_advantage")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), q)
      assert(!p.contains("SortMergeJoin"), q)
    }
  }

  test("q477/q479: audits partial-aggregate before their shuffles") {
    for (q <- Seq("q477_power_table", "q479_canary_survival")) {
      val p = plan(q)
      assert(p.contains("partial_"), q)
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("q478: truncation loss is one aggregate over a broadcast L grid") {
    val p = plan("q478_truncation_loss")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_"), p)
  }

  test("q491/q494/q495/q496: totals broadcast back; no sort-merge, no sort") {
    // the training-ops family is keyed-aggregate + broadcast-scalar
    // algebra end to end: any SortMergeJoin or WindowExec appearing here
    // means a totals row stopped broadcasting or a rank crept in
    for (q <- Seq("q491_moe_balance", "q494_loo_influence",
        "q495_gns_estimate", "q496_straggler_tax")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), q)
      assert(!p.contains("CartesianProduct"), q)
      assert(!p.contains("Window"), q)
      assert(p.contains("partial_"), q)
    }
  }

  test("q492: cartography is two keyed aggregates + one broadcast means row") {
    val p = plan("q492_cartography")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"), p)
    // exactly the example-grain and region-grain exchanges plus the
    // broadcast of the means row — no third data shuffle
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
  }

  test("q498/q500: governance scans aggregate without any data-sized join") {
    // q498 joins only the broadcast "now" scalar; q500 is scan-only
    // detection + one aggregate — a SortMergeJoin in either means a
    // scalar stopped broadcasting
    for (q <- Seq("q498_retention_purge", "q500_pii_split_leak")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), q)
      assert(!p.contains("CartesianProduct"), q)
      assert(p.contains("partial_"), q)
    }
  }

  test("q497/q499: erasure/consent audits key their joins on the user") {
    // big-big joins on user_id are the intended shape (the request /
    // consent side is user-grain — broadcasting it would be wrong at
    // 100 TB); what must NOT appear is a cartesian or a window
    for (q <- Seq("q497_tombstone_audit", "q499_consent_coverage")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      assert(!p.contains("Window"), q)
    }
  }

  test("q508/q509/q510: retail/backtest joins stay keyed — no cartesian, " +
      "no window") {
    for (q <- Seq("q508_backtest_grid", "q509_omnibus_audit",
        "q510_assortment_churn")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      assert(!p.contains("Window"), q)
      assert(p.contains("partial_"), q)
    }
  }

  test("q493: replay index rides groupedGlobalRank, not an enum-key window") {
    // the 8-value shard key must never appear as a window partition spec
    // (the q268 one-task-per-group class); groupedGlobalRank's zipWithIndex
    // leaves no WindowExec over the doc rows at all
    val p = plan("q493_restart_replay")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q518: the sample-budget rank filter fires WindowGroupLimit") {
    // row_number() + filter(_rn <= 5) must plan per-partition top-k
    // heaps BEFORE the window sort — at 100 TB the difference between
    // sorting every prompt's full history and keeping 5 rows per prompt
    val p = plan("q518_self_consistency")
    assert(p.contains("WindowGroupLimit"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("q513/q515/q516: grids broadcast, strengths broadcast, nothing " +
      "cartesian") {
    for (q <- Seq("q513_bt_residuals", "q515_dp_accountant",
        "q516_rejection_yield")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      assert(p.contains("partial_"), q) // map-side combine everywhere
    }
    // the BT strength tables join broadcast onto the pair aggregate
    assert(plan("q513_bt_residuals").contains("BroadcastHashJoin"))
    // the literal grids cross as broadcast nested loops (bounded side)
    assert(plan("q515_dp_accountant").contains("BroadcastNestedLoopJoin"))
    assert(plan("q516_rejection_yield").contains("BroadcastNestedLoopJoin"))
  }

  test("q514: the LOO grid multiplies combiner input, never a window") {
    val p = plan("q514_krippendorff_loo")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("Window"), "alpha is pure keyed aggregation")
    assert(p.contains("BroadcastNestedLoopJoin")) // the 6-row excl grid
  }

  test("q26: the hot-shingle PRE-cap anti-join sits below the bucket " +
      "collect (the bounded-buffer guarantee as a plan property)") {
    // round-10 respell: shingles above the frequency cap must be
    // anti-joined away BEFORE collect_list, so no aggregation buffer can
    // hold an unbounded boilerplate bucket; a refactor back to the
    // post-hoc size filter would drop the LeftAnti and fail here
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    val sp = SparkEntry.queries("q26_ngram_jaccard")(spark, dir)
      .queryExecution.sparkPlan
    val collectAggsWithAntiBelow = sp.collect {
      case a: ObjectHashAggregateExec if a.aggregateExpressions.exists(
          _.aggregateFunction.isInstanceOf[
            org.apache.spark.sql.catalyst.expressions.aggregate.Collect[_]]) =>
        a.child.exists {
          case j: BroadcastHashJoinExec => j.joinType == LeftAnti
          case _ => false
        }
    }
    assert(collectAggsWithAntiBelow.nonEmpty &&
      collectAggsWithAntiBelow.forall(identity),
      "every bucket collect must sit above the hot-set LeftAnti join")
  }

  test("q521/q522: sample-quantile sketch folds in ONE bounded partial " +
      "aggregation — no window/sort over the population, merge path " +
      "re-aggregates through the same buffer") {
    val p1 = plan("q521_sample_quantiles")
    // the 100 TB property: the only per-row motion is the map-side
    // bottom-k partial; the population is never windowed or sorted
    assert(p1.contains("partial_bottomkrowsagg"))
    assert(!p1.contains("WindowExec") && !p1.contains("Window ("))
    assert(!p1.contains("SortMergeJoin"))
    val p2 = plan("q522_sketch_merge")
    // two-level: the per-shard pass is materialized behind the partials
    // localCheckpoint (it doesn't appear in the final plan), so what must
    // show here is the RE-AGG of exploded partials going through the same
    // bounded buffer — and never a sort-merge join anywhere
    assert(p2.contains("partial_bottomkrowsagg"))
    assert(p2.contains("explode(_top"), "re-agg explodes the partials")
    assert(!p2.contains("SortMergeJoin"))
  }

  test("q520: drift timeline folds per-dim sums in the aggregate — no " +
      "posexplode row inflation, baseline joined as a broadcast") {
    val p = plan("q520_drift_timeline")
    // the documented plan property vs the two-cohort op (q519): rows ×
    // dims never materializes — VecSumAgg's bounded buffer does the fold
    assert(!p.contains("Generate"), "no explode/posexplode in the timeline")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
      "baseline statistics must broadcast")
    assert(!p.contains("SortMergeJoin"))
    // and the fold is partial (map-side combine ships one vector per
    // (pane, group, partition))
    assert(p.contains("partial_"))
  }

}
