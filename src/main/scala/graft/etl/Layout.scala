package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout operators: Morton (Z-order) keys and the cluster-by-write
  * step. At 100 TB the scan you avoid is the cheapest scan there is —
  * writing parquet clustered on a space-filling curve over the two or
  * three most-filtered dimensions lets min/max page stats prune files for
  * BOTH dimensions at once, where a plain sort prunes only its leading
  * column. All pure integer bit arithmetic, codegen end to end.
  */
object Layout {

  /** Even-bit spread of a 16-bit value (Morton building block): the
    * classic 4-step mask-shift dance, closed form — no loop, no UDF. */
  private def spread16(c: Column): Column =
    Seq((8, 0x00FF00FFL), (4, 0x0F0F0F0FL), (2, 0x33333333L), (1, 0x55555555L))
      .foldLeft(pmod(c.cast("long"), lit(65536L))) { case (acc, (s, m)) =>
        acc.bitwiseOR(shiftleft(acc, s)).bitwiseAND(lit(m))
      }

  /** Morton key of two dimensions (each reduced mod 2^16): x takes the
    * even bits, y the odd — z-curve locality over (x, y). */
  def zValue(x: Column, y: Column): Column =
    spread16(x).bitwiseOR(shiftleft(spread16(y), 1))

  /** Cluster a frame along the z-curve of two dimensions before writing:
    * range-partition on the key (balanced output files via range
    * sampling), sort within each partition (tight per-file min/max stats
    * on every page). The `_zval` column is kept — downstream writes may
    * partition on its high bits. */
  def zorderBy(df: DataFrame, x: Column, y: Column,
      numFiles: Int = 32): DataFrame =
    df.withColumn("_zval", zValue(x, y))
      .repartitionByRange(numFiles, col("_zval"))
      .sortWithinPartitions(col("_zval"))

  /** Hilbert-curve key of two dimensions (each reduced mod 2^order) — the
    * native codegen `hilbert` expression ([[graft.plans.HilbertIndex]]).
    * Same use as [[zValue]] with strictly better locality: consecutive
    * curve cells are always edge-adjacent, so clustered files have
    * tighter min/max boxes per dimension than the z-curve's jump
    * points. */
  def hilbertValue(x: Column, y: Column, order: Int = 16): Column =
    call_function("hilbert", x, y, lit(order))

  /** [[zorderBy]]'s Hilbert twin: range-partition + in-partition sort on
    * the Hilbert key before a clustered write. */
  def hilbertBy(df: DataFrame, x: Column, y: Column, order: Int = 16,
      numFiles: Int = 32): DataFrame =
    df.withColumn("_hval", hilbertValue(x, y, order))
      .repartitionByRange(numFiles, col("_hval"))
      .sortWithinPartitions(col("_hval"))

  /** Contiguous compaction planning — the small-files maintenance step
    * every long-lived 100 TB table needs: within each partition, walk
    * the files in stable `idCol` order and assign each to output bin
    * ⌊prev_cumulative_size / targetBytes⌋, so every bin is a contiguous
    * id range holding ≥ targetBytes (except the partition's last) and
    * the summary row per bin IS the rewrite task list (first/last id,
    * file count, bytes). Start-offset binning, not bin packing: the
    * plan is a pure function of the file listing — deterministic,
    * re-runnable, no greedy sequential state — and contiguity preserves
    * any existing id-clustering ([[zorderBy]]'s `_zval` high bits make a
    * good idCol for exactly that reason).
    *
    * One per-partition prefix-sum window over the FILE LISTING (metadata
    * rows, ~10⁶ entries for a 100 TB table — trivially window-sized)
    * plus one combiner-friendly groupBy. */
  def compactionPlan(df: DataFrame, partCol: String, idCol: String,
      sizeCol: String, targetBytes: Long): DataFrame = {
    require(targetBytes > 0, "targetBytes must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(partCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("_prev", coalesce(sum(col(sizeCol)).over(w), lit(0L)))
      .withColumn("bin", expr(s"_prev div ${targetBytes}L"))
      .groupBy(col(partCol), col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col(sizeCol)).as("bytes"),
        min(col(idCol)).as("first_id"), max(col(idCol)).as("last_id"))
  }

  /** Distributed total-order rank — `row_number() OVER (ORDER BY sort)`
    * without the single-partition global window that form plans to (the
    * known 100 TB trap this repo pins against for top-k): range-partition
    * + sort within partitions, then `zipWithIndex` — Spark's one-extra-
    * job global indexer (a per-partition count pass, then offset + local
    * position on the SAME RDD instance).
    *
    * `sort` MUST be a total order (append a unique id as the last
    * column): rank is then the row's global position — independent of
    * where the range sampler put partition boundaries — and identical to
    * any other engine's ORDER BY, which is what lets the DuckDB oracle
    * check it.
    *
    * The declarative two-branch form (per-pid counts + prefix sum +
    * local position, joined back on the partition id) is only correct if
    * both branches read ONE physical partitioning: column pruning gives
    * re-derived range exchanges different child projections, reuse does
    * not fire, and each branch samples its own boundaries — the
    * pid→count map then describes the wrong partitioning and ranks walk
    * off the end (reproduced on sf0.01 lineitem, local[8], 2026-08-14:
    * clean permutation when the frame is only the sort columns, 65/64
    * shards in q355 where carry columns prune differently). The lazy
    * localCheckpoint below IS that pin — one materialized InternalRow
    * RDD that every branch reads — the same object-identity guarantee
    * the previous zipWithIndex spelling relied on, WITHOUT its price:
    * `.rdd` decoded every row to an external Row (per-field converters +
    * boxing) and `createDataFrame` re-encoded it back, a full codec
    * round-trip of the whole frame at this node (guide §1.4's df.rdd
    * trap). `monotonically_increasing_id` is (pid << 33) + local
    * position, so pid and local position are recoverable arithmetically
    * and the global rank is offset(pid) + local position + 1 — identical
    * to zipWithIndex's result on the same physical order. */
  def globalRank(df: DataFrame, sort: Seq[Column], rankCol: String = "rank",
      nParts: Int = 64): DataFrame = {
    require(sort.nonEmpty && nParts >= 1)
    val stamped = df.repartitionByRange(nParts, sort: _*)
      .sortWithinPartitions(sort: _*)
      .withColumn("_gr_mid", monotonically_increasing_id())
      .localCheckpoint(eager = false)
    val pid = shiftright(col("_gr_mid"), 33)
    val offs = stamped.groupBy(pid.as("_gr_pid"))
      .agg(count(lit(1)).as("_gr_n"), min(col("_gr_mid")).as("_gr_base"))
    // prefix offsets over <= nParts rows: bounded triangular self-join,
    // no global window
    val cum = offs.as("a").join(broadcast(offs.as("b")),
        col("b._gr_pid") < col("a._gr_pid"), "left")
      .groupBy(col("a._gr_pid").as("_gr_pid"))
      .agg(min(col("a._gr_base")).as("_gr_base"),
        coalesce(sum(col("b._gr_n")), lit(0L)).as("_gr_off"))
    stamped.join(broadcast(cum), pid === col("_gr_pid"))
      .withColumn(rankCol,
        col("_gr_off") + col("_gr_mid") - col("_gr_base") + 1L)
      .drop("_gr_mid", "_gr_pid", "_gr_base", "_gr_off")
  }

  /** Range-bucketed frame for the two-phase grouped running aggregates
    * ([[addRunningSums]] / [[addPrevMax]]) — the shared first phase of
    * the ppsSystematicSample/abcClasses recipe: range-partition the
    * (group ++ sort) order, stamp each row with its physical bucket, and
    * localCheckpoint so every downstream branch reads ONE pinned
    * partitioning (two branches re-deriving the range exchange each
    * sample their own boundaries and the bucket ids stop agreeing — the
    * [[globalRank]] failure class). The `_b` column is DATA after this:
    * later joins/windows key on it, whatever partitioning they run
    * under. */
  def bucketize(df: DataFrame, parts: Seq[Column],
      nParts: Int = 64): DataFrame = {
    require(parts.nonEmpty && nParts >= 1)
    df.repartitionByRange(nParts, parts: _*)
      .withColumn("_b", spark_partition_id())
      .localCheckpoint()
  }

  /** Two-phase grouped running SUMS — the scale-safe replacement for
    * `sum(x).over(partitionBy(lowCardGroup).orderBy(sort))`, which
    * streams every group through one task when the group key is an enum
    * (the q268 class): local running sums inside each range bucket, plus
    * broadcast per-(group, bucket) offsets (prefix of earlier buckets'
    * totals, computed at BUCKET grain — O(groups × nParts) rows). Pass
    * `lit(1L)` as an item to get the within-group RANK along the same
    * order. Input must carry [[bucketize]]'s `_b` (same group ++ sort).
    * Appends one column per (value, name); values must be non-null
    * integral. Ties in `sort` get frame-order-dependent prefixes (same
    * caveat as the single-window spelling) — aggregate to unique keys
    * first where tie order matters. */
  def addRunningSums(bucketed: DataFrame, groupCols: Seq[String],
      sort: Seq[Column], items: Seq[(Column, String)]): DataFrame = {
    require(items.nonEmpty)
    import org.apache.spark.sql.expressions.Window
    val gcols = groupCols.map(col)
    val wLoc = Window.partitionBy(gcols :+ col("_b"): _*)
      .orderBy(sort: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = items.zipWithIndex.foldLeft(bucketed) {
      case (d, ((c, _), i)) => d.withColumn(s"_ars_rs$i", sum(c).over(wLoc))
    }
    val btAggs = items.zipWithIndex.map { case ((c, _), i) =>
      sum(c).as(s"_ars_bt$i")
    }
    val bt = bucketed.groupBy(gcols :+ col("_b"): _*)
      .agg(btAggs.head, btAggs.tail: _*)
    val wOff = Window.partitionBy(gcols: _*).orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = items.indices.foldLeft(bt) { (d, i) =>
      d.withColumn(s"_ars_off$i",
        coalesce(sum(col(s"_ars_bt$i")).over(wOff), lit(0L)))
    }.select(gcols ++ Seq(col("_b")) ++
      items.indices.map(i => col(s"_ars_off$i")): _*)
    val joined = local.join(broadcast(off), groupCols :+ "_b")
    items.zipWithIndex.foldLeft(joined) { case (d, ((_, name), i)) =>
      d.withColumn(name, col(s"_ars_rs$i") + col(s"_ars_off$i"))
        .drop(s"_ars_rs$i", s"_ars_off$i")
    }
  }

  /** Two-phase grouped EXCLUSIVE running max (the value seen strictly
    * before this row in (group ++ sort) order — `max(x).over(...rows
    * (unboundedPreceding, -1))` without the one-task-per-enum-group
    * sort). NULL when nothing precedes, like the window form. Same
    * [[bucketize]] contract as [[addRunningSums]]. */
  def addPrevMax(bucketed: DataFrame, groupCols: Seq[String],
      sort: Seq[Column], value: Column, name: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gcols = groupCols.map(col)
    val wLoc = Window.partitionBy(gcols :+ col("_b"): _*)
      .orderBy(sort: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    // internal names carry the _apm_ prefix so a caller's output `name`
    // can never collide with them (and be dropped with them)
    val local = bucketed.withColumn("_apm_loc", max(value).over(wLoc))
    val bt = bucketed.groupBy(gcols :+ col("_b"): _*)
      .agg(max(value).as("_apm_bm"))
    val wOff = Window.partitionBy(gcols: _*).orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = bt.withColumn("_apm_off", max(col("_apm_bm")).over(wOff))
      .select(gcols ++ Seq(col("_b"), col("_apm_off")): _*)
    local.join(broadcast(off), groupCols :+ "_b")
      .withColumn(name, greatest(col("_apm_loc"), col("_apm_off")))
      .drop("_apm_loc", "_apm_off")
  }

  /** Within-group total-order rank — the scale-safe replacement for
    * `row_number().over(partitionBy(lowCardGroup).orderBy(sort))`, which
    * sorts each group in ONE task when the group key has few values
    * (event_type, source, lang — a global sort in disguise at 100 TB):
    * [[globalRank]] range-partitions the (group ++ sort) order across
    * the cluster, and the within-group rank is the global rank minus a
    * broadcast per-group offset. `sort` must make (group ++ sort) a
    * total order (append a unique id). */
  def groupedGlobalRank(df: DataFrame, groupCols: Seq[String],
      sort: Seq[Column], rankCol: String, nParts: Int = 64): DataFrame = {
    // NOT localCheckpointed, measured: the ranked frame feeds two
    // branches, but the range exchange's shuffle files are reused across
    // them (only the post-shuffle sort + encode re-runs), so pinning the
    // full frame COSTS more than it saves (min-of-3 at sf0.1:
    // q241 1.74 -> 1.90 s, q149 2.13 -> 2.16 s with a localCheckpoint
    // here). The zipWithIndex object identity already pins ONE
    // partitioner for both branches, which is the correctness-critical
    // part (see globalRank's docstring).
    val g = globalRank(df, groupCols.map(col) ++ sort, "_ggr", nParts)
    val off = g.groupBy(groupCols.map(col): _*)
      .agg(min(col("_ggr")).as("_ggoff"))
    g.join(broadcast(off), groupCols)
      .withColumn(rankCol, col("_ggr") - col("_ggoff") + 1L)
      .drop("_ggr", "_ggoff")
  }

  /** Spark-exact ntile(k) from a within-group rank and group size — the
    * companion to [[groupedGlobalRank]]: the first n%k buckets hold
    * n/k+1 rows, the rest n/k (identical to WindowExec's NTile). Pure
    * integer CASE over (rankCol, nCol); the n<k edge degenerates to
    * bin = rank through the first branch. */
  def ntileFromRank(rankCol: String, nCol: String, k: Int): Column =
    expr(
      s"""CASE WHEN $rankCol <= ($nCol % $k) * ($nCol div $k + 1)
         |  THEN ($rankCol - 1) div ($nCol div $k + 1) + 1
         |  ELSE ($nCol % $k) +
         |    ($rankCol - ($nCol % $k) * ($nCol div $k + 1) - 1)
         |      div ($nCol div $k) + 1 END""".stripMargin)

  /** Zone-map pruning audit — measures, per candidate physical layout,
    * how much of the table a range predicate on `filterCol` would
    * actually skip: rank the rows under the layout's sort order
    * ([[globalRank]]), cut the ranked order into `nShards` contiguous
    * equal shards (a stand-in for files written in that order), take
    * each shard's min/max of the filter column (the zone map parquet
    * footers would hold), and count, per predicate `[lo, hi]`, the
    * shards whose zone overlaps it — the files a reader must open.
    *
    * The planning complement of [[zorderBy]]/[[hilbertBy]]: run this
    * BEFORE rewriting 100 TB into a new order, on the candidate sort
    * keys, and commit to the one whose `scan_bp` is lowest for the real
    * workload's predicates. Each layout's sort list must end in a
    * unique id (total order — same contract as [[globalRank]]).
    *
    * Cost: one ranked pass per layout (layouts are enum-sized), then
    * zone/predicate work on nShards-row frames. `(rank−1)·nShards` is
    * long arithmetic: safe to ~1.4e17 rows at nShards=64.
    *
    * The row total is ONE driver-side `count()` on the input, shared by
    * all layouts — an inline `crossJoin(broadcast(agg))` would put the
    * total in a second plan branch under the rank, and because the rank
    * is an RDD (exchange reuse can't see through it) that branch would
    * re-run the whole range-sort-index pipeline per layout (measured 2×
    * on q355). The input is localCheckpointed to the union of every
    * layout's columns first: each layout's range-sort is unavoidable
    * (they ARE different physical orders — the thing being audited) but
    * the parquet scan + projection behind them runs once, not per
    * layout, and the shared count() reads the materialized table. */
  def zonemapAudit(df: DataFrame, layouts: Seq[(String, Seq[String])],
      filterCol: String, preds: Seq[(Long, Long)],
      nShards: Int = 64): DataFrame = {
    require(layouts.nonEmpty && preds.nonEmpty && nShards >= 1)
    val predRows = preds.map { case (lo, hi) => (lo, hi) }
    val allCols = (layouts.flatMap(_._2) :+ filterCol).distinct
    val shared = df.select(allCols.map(col): _*).localCheckpoint()
    val tot = shared.count()
    layouts.map { case (name, sortCols) =>
      val needed = (sortCols :+ filterCol).distinct
      val ranked = globalRank(shared.select(needed.map(col): _*),
        sortCols.map(col), "_rk")
      val zones = ranked
        .withColumn("_shard", expr(s"(_rk - 1) * $nShards div ${tot}L"))
        .groupBy(col("_shard"))
        .agg(min(col(filterCol)).as("_lo"), max(col(filterCol)).as("_hi"))
      val spark = df.sparkSession
      import spark.implicits._
      val pf = predRows.toDF("p_lo", "p_hi")
      pf.crossJoin(broadcast(zones))
        .groupBy(col("p_lo"), col("p_hi"))
        .agg(count(lit(1)).as("n_shards"),
          sum(when(col("_hi") >= col("p_lo") && col("_lo") <= col("p_hi"),
            1L).otherwise(0L)).as("shards_scanned"))
        .select(lit(name).as("layout"), col("p_lo"), col("p_hi"),
          col("n_shards"), col("shards_scanned"),
          expr("CAST(shards_scanned * 10000 div n_shards AS BIGINT)")
            .as("scan_bp"))
    }.reduce(_ unionByName _)
  }

  /** Rendezvous (highest-random-weight) placement of keys onto `nodes`
    * shards, plus the resharding report for one joining node: each key
    * lands on argmax over nodes of sha256(key:node) — deterministic,
    * coordination-free, and MINIMALLY disruptive: when node `nodes`
    * joins, the only keys that move are those whose new global argmax IS
    * the new node (mod-hashing would move (nodes)/(nodes+1) of all keys).
    * `gained` is therefore 0 on every old node by construction — the
    * oracle re-derives that invariant and the driver hash-checks it.
    *
    * Scale shape: explode factor nodes+1 (placement fan-out is the node
    * count, not data-dependent), one groupBy per key picking both argmaxes
    * via a packed `score·16 + node` long (56-bit sha score, 4-bit node —
    * score ties, impossible in practice for sha256, break toward the
    * higher node identically in both engines), then one enum-sized node
    * rollup. */
  def rendezvousReport(df: DataFrame, keyCol: String,
      nodes: Int): DataFrame = {
    require(nodes >= 1 && nodes < 16, "packed argmax holds 4 node bits")
    val scored = df.select(col(keyCol).cast("string").as("_k"))
      .withColumn("node", explode(sequence(lit(0), lit(nodes))))
      .withColumn("_pack", expr(
        "CAST(conv(substring(sha2(concat(_k, ':', CAST(node AS STRING))," +
          " 256), 1, 14), 16, 10) AS BIGINT) * 16 + node"))
    val per = scored.groupBy(col("_k"))
      .agg(max(when(col("node") < nodes, col("_pack"))).as("_b"),
        max(col("_pack")).as("_a"))
      .select((col("_b") % 16).as("before_node"),
        (col("_a") % 16).as("after_node"))
    val before = per.groupBy(col("before_node").as("node"))
      .agg(count(lit(1)).as("load_before"))
    val after = per.groupBy(col("after_node").as("node"))
      .agg(count(lit(1)).as("load_after"),
        sum(when(col("before_node") =!= col("after_node"), 1L)
          .otherwise(0L)).as("gained"))
    before.join(after, Seq("node"), "full_outer")
      .select(col("node").cast("long").as("node"),
        coalesce(col("load_before"), lit(0L)).as("load_before"),
        coalesce(col("load_after"), lit(0L)).as("load_after"),
        coalesce(col("gained"), lit(0L)).as("gained"))
  }

  /** Clustering factor of `keyCol` under the physical order `sort` (the
    * classic index/layout health metric): `n_runs` = maximal blocks of
    * adjacent equal keys in that order, `clustering_bp` = n_distinct·10⁴
    * div n_runs — 10000 means every key's rows are contiguous (zone maps
    * and page caches work), small means the key is interleaved (a scan
    * filtered on it touches everything). Run this against zonemapAudit's
    * candidate layouts before paying for a 100 TB rewrite.
    *
    * Adjacency is counted by joining [[globalRank]] against itself at
    * rank−1 — never a single-partition global window. The pruned
    * (key, rank) frame is localCheckpointed: both join sides read it,
    * and the rank is RDD-backed (exchange reuse cannot see through it —
    * same constraint zonemapAudit documents), so without the barrier the
    * whole range-sort-index pipeline would run twice. `sort` must be a
    * total order (same contract as globalRank). */
  def clusteringFactor(df: DataFrame, sort: Seq[Column], keyCol: String,
      nParts: Int = 64): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val pruned = df.select((col(keyCol).as("_k") +: sort): _*)
    val keyType = pruned.schema("_k").dataType
    // run counting needs ADJACENCY in the sorted order, not ranks: one
    // partition-local pass over the range-sorted key column (per
    // partition: first key, last key, internal change count) replaces
    // the former rank-stamp + checkpoint + whole-table self-join on
    // rank±1 — the join shuffled the frame twice more just to compare
    // each row with its neighbor. Boundary adjacency between CONSECUTIVE
    // NON-EMPTY partitions is stitched over the <= nParts summary rows.
    // Change semantics match the old `when(_k =!= _pk, 1)` exactly:
    // a comparison involving a NULL key never counts as a change.
    val sortedKeys = pruned.repartitionByRange(nParts, sort: _*)
      .sortWithinPartitions(sort: _*)
      .select(col("_k"))
    val statsSchema = StructType(Seq(
      StructField("_pid", LongType, nullable = false),
      StructField("_first", keyType),
      StructField("_last", keyType),
      StructField("_chg", LongType, nullable = false)))
    val partRows = sortedKeys.rdd.mapPartitionsWithIndex { (pid, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        var chg = 0L
        val first = it.next().get(0)
        var prev = first
        while (it.hasNext) {
          val cur = it.next().get(0)
          if (prev != null && cur != null && prev != cur) chg += 1
          prev = cur
        }
        Iterator(org.apache.spark.sql.Row(pid.toLong, first, prev, chg))
      }
    }
    val parts = df.sparkSession.createDataFrame(partRows, statsSchema)
      .localCheckpoint()
    // order the non-empty partitions contiguously (empty range buckets
    // leave pid gaps): triangular count over <= nParts rows, no window
    val seq = parts.as("a").join(broadcast(parts.select(col("_pid")
        .as("_bpid")).as("b")), col("_bpid") < col("_pid"), "left")
      .groupBy(col("_pid"), col("_first"), col("_last"), col("_chg"))
      .agg(count(col("_bpid")).as("_seq"))
    val boundary = seq.select((col("_seq") + 1).as("_seq"),
      col("_last").as("_pl"))
    val changes = seq.join(boundary, Seq("_seq"), "left")
      .agg(coalesce(sum(col("_chg")), lit(0L)).as("_internal"),
        coalesce(sum(when(col("_pl").isNotNull && col("_first").isNotNull &&
          col("_pl") =!= col("_first"), 1L).otherwise(0L)), lit(0L))
          .as("_cross"))
      .select((col("_internal") + col("_cross")).as("_chg"))
    val stats = df.agg(count(lit(1)).as("n_rows"),
      countDistinct(col(keyCol)).as("n_distinct"))
    stats.crossJoin(broadcast(changes))
      .select(lit(keyCol).as("key"), col("n_rows"), col("n_distinct"),
        when(col("n_rows") === 0, 0L).otherwise(col("_chg") + 1)
          .as("n_runs"))
      .withColumn("clustering_bp", expr(
        "CAST(n_distinct * 10000 div NULLIF(n_runs, 0) AS BIGINT)"))
  }

  /** Bloom-filter sizing plan per partition: the capacity table a
    * runtime filter build consults BEFORE materializing per-partition
    * blooms for a semi-join (the planning companion to the bloom-join
    * operator itself, q124) — for each partition, the exact distinct key
    * count, the bit-array size at the target false-positive rate, and
    * the 64-bit word footprint.
    *
    * `bitsPerKeyMilli` defaults to 9585 = ⌈1000·(−ln 0.01 / ln²2)⌉, the
    * optimal-bloom bits/key at 1% FPP, with `nHashes` = 7 ≈ 0.693·9.585
    * — constants precomputed so the plan is pure integer arithmetic
    * (`bits = ⌈n·9585/1000⌉`), no libm in either engine. One exact
    * distinct-count aggregate per partition; at 100 TB swap the exact
    * count for HLL (q168/q190) and keep the same sizing arithmetic. */
  def bloomPlan(df: DataFrame, partCol: String, keyCol: String,
      bitsPerKeyMilli: Long = 9585L, nHashes: Int = 7): DataFrame =
    df.groupBy(col(partCol))
      .agg(countDistinct(col(keyCol)).as("n_keys"))
      .withColumn("bits", expr(
        s"CAST((n_keys * $bitsPerKeyMilli + 999) div 1000 AS BIGINT)"))
      .withColumn("words64", expr("CAST((bits + 63) div 64 AS BIGINT)"))
      .withColumn("k_hashes", lit(nHashes))
}
