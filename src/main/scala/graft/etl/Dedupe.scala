package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A1–A3, F5 — dedup / grouping (`src/utils/dedupe.ts`).
  *
  * Scale note: the keep-best dedup is one shuffle on `unified_id` (window +
  * row_number) — hash-partitioned, no skew risk on product ids; at 100 TB it
  * is exactly the dedup shuffle you must pay and nothing more.
  */
object Dedupe {

  /** A1 (dedupe.ts:23-52): keep the highest quality score per unified_id.
    * The reference's Map keeps the FIRST product on ties/missing scores; a
    * distributed engine has no file order, so callers pass `tiebreak`
    * columns that make the choice deterministic (defaults to the natural
    * business key columns). Ranks by the [[Quality.score]] expression, so
    * the input need not carry a `quality_score` column (base.ts:133 strips
    * it from the output). */
  def keepBest(df: DataFrame, tiebreak: Seq[Column] = Seq(col("shop_type"), col("title")))
      : DataFrame = {
    val w = Window.partitionBy(col("unified_id"))
      .orderBy(Quality.score.desc_nulls_last +: tiebreak.map(_.asc): _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** F5 (dedupe.ts:83-93): keep rows with id/shop/title/current_price. */
  def filterIncomplete(df: DataFrame): DataFrame =
    df.filter(
      coalesce(col("unified_id"), lit("")) =!= "" &&
      coalesce(col("shop_type"), lit("")) =!= "" &&
      coalesce(col("title"), lit("")) =!= "" &&
      col("current_price").isNotNull)

  /** A3 (dedupe.ts:100-124): groups of >1 product sharing
    * (shop_type, lowercase-alnum title). */
  def similarProducts(df: DataFrame): DataFrame =
    df.withColumn("_simple", regexp_replace(lower(col("title")), "[^a-z0-9]", ""))
      .groupBy(col("shop_type"), col("_simple"))
      .agg(count(lit(1)).as("n"), collect_list(col("unified_id")).as("unified_ids"))
      .filter(col("n") > 1)
      .withColumnRenamed("_simple", "simple_title")

  /** A2 (dedupe.ts:59-76): per-shop counts. */
  def countByRetailer(df: DataFrame): DataFrame =
    df.groupBy(col("shop_type")).agg(count(lit(1)).as("n_products"))

  /** Fingerprint clustering (the OpenRefine key-collision method, the
    * order-insensitive sibling of [[similarProducts]]): the cluster key is
    * the SORTED DISTINCT token set of the text, so "blue lemon" and
    * "lemon blue lemon" collide. Returns clusters of ≥ 2 with span ids
    * for review. All codegen array ops (split/remove/distinct/sort/join),
    * one combiner-friendly shuffle on the key. */
  def fingerprintClusters(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol),
        array_join(array_sort(array_distinct(
          array_remove(split(lower(col(textCol)), " "), ""))), " ").as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n"),
        min(col(idCol)).as("min_id"), max(col(idCol)).as("max_id"))
      .filter(col("n") >= 2)

  /** Golden-record survivorship (master-data consolidation): per cluster,
    * pick each attribute's most frequent NON-NULL value, ties broken by
    * the smaller value — attributes survive independently, so the golden
    * record can mix sources (the standard MDM rule set's
    * most-frequent-wins policy). One (cluster, value) count + one
    * cluster-partitioned rank per attribute, outer-joined back so a
    * cluster whose attribute is entirely null still emits (null cell). */
  /** Cross-source duplication matrix — WHERE duplicate content comes
    * from: for every pair of sources sharing at least one byte-identical
    * document, the number of shared distinct texts. A heavy off-diagonal
    * cell is a mirror/syndication/re-crawl relationship — the provenance
    * question behind any dedup-by-source policy ("drop the aggregator,
    * keep the origin"). Content groups collapse FIRST (hash groupBy), so
    * the pair fan-out is bounded by sources-per-content
    * (≤ source-cardinality, an enum) — never document-pairwise.
    * Output: (source_a < source_b, n_shared). */
  def sourceOverlap(df: DataFrame, sourceCol: String,
      textCol: Column): DataFrame = {
    val bySrc = df.select(col(sourceCol).as("_src"),
        sha2(textCol, 256).as("_h"))
      .distinct()
    bySrc.as("a").join(bySrc.as("b"),
        col("a._h") === col("b._h") && col("a._src") < col("b._src"))
      .groupBy(col("a._src").as("source_a"), col("b._src").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Duplicate-cluster size distribution — the one-page answer to "how
    * duplicated is this corpus": group rows by an identity key (content
    * hash, fingerprint, resolved cluster id), then fold the cluster
    * sizes into a histogram with each size's document share in bp. The
    * long tail of this table (a 10k-copy cluster) is what dedup
    * recovers; `cluster_size = 1` is the unique mass. Two
    * combiner-friendly aggregations + one broadcast one-row total —
    * never pairwise anything. */
  def clusterSizeDist(df: DataFrame, keyCol: Column): DataFrame = {
    val sizes = df.groupBy(keyCol.as("_k")).agg(count(lit(1)).as("sz"))
    val tot = sizes.agg(sum(col("sz")).as("_tot"))
    sizes.groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .crossJoin(broadcast(tot))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        expr("CAST(cluster_size * n_clusters * 10000 div _tot AS BIGINT)")
          .as("share_bp"))
  }

  def goldenRecord(df: DataFrame, clusterCol: String,
      attrs: Seq[String]): DataFrame = {
    val members = df.groupBy(col(clusterCol)).agg(count(lit(1)).as("n_members"))
    attrs.foldLeft(members) { (acc, a) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(clusterCol)).orderBy(col("cnt").desc, col(a))
      val best = df.filter(col(a).isNotNull)
        .groupBy(col(clusterCol), col(a)).agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col(clusterCol), col(a))
      acc.join(best, Seq(clusterCol), "left")
    }
  }

  /** Capture–recapture estimate of the TRUE duplicate population from
    * two independent detectors — the "how many duplicates did we miss"
    * number a dedup pipeline cannot measure directly. With n1 docs
    * flagged by detector A, n2 by detector B, and m by both, the
    * Chapman estimator
    *   N̂ = ⌊(n1+1)·(n2+1)/(m+1)⌋ − 1
    * is exact integer arithmetic (and finite even at m = 0, unlike
    * Lincoln–Petersen). `est_missed` = N̂ − |A ∪ B| clamped at 0 — the
    * actionable gap. Independence of the detectors is the modeling
    * assumption; pair a content-hash detector with a structural one
    * (sorted-token fingerprint), not two hash variants. One pass:
    * both flags fold in a single map-side-combined aggregation. */
  def captureRecapture(flags: DataFrame, flagA: Column,
      flagB: Column): DataFrame =
    flags.agg(
        count(lit(1)).as("n_docs"),
        sum(when(flagA, 1L).otherwise(0L)).as("n1"),
        sum(when(flagB, 1L).otherwise(0L)).as("n2"),
        sum(when(flagA && flagB, 1L).otherwise(0L)).as("m"),
        sum(when(flagA || flagB, 1L).otherwise(0L)).as("n_union"))
      .withColumn("n_hat",
        expr("(n1 + 1) * (n2 + 1) div (m + 1) - 1"))
      .withColumn("est_missed",
        expr("greatest(n_hat - n_union, 0L)"))
}
