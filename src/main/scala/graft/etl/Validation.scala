package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Value-level validation (SURVEY.md §2.14 validators + §5 post-hoc
  * product-validator): the reference's 10 rules
  * (`src/utils/validation/product-validator.ts:51-189`) as Column
  * predicates producing a per-rule boolean map, a severity rollup, and a
  * summary aggregate — one pass, no UDFs, no driver collection.
  */
object Validation {

  final case class Rule(name: String, severity: String, passes: Column)

  /** The 10 rules. `passes` is true when the rule holds. */
  val rules: Seq[Rule] = Seq(
    Rule("required_id", "error",
      coalesce(trim(col("unified_id")), lit("")) =!= ""),
    Rule("required_title", "error",
      coalesce(trim(col("title")), lit("")) =!= ""),
    Rule("required_shoptype", "error",
      col("shop_type").isInCollection(Shops.all.map(_.shopType))),
    Rule("valid_price", "error", col("price_before_bonus") > 0),
    Rule("price_consistency", "warning",
      when(col("is_promotion"), col("current_price") =!= col("price_before_bonus"))
        .otherwise(col("current_price") === col("price_before_bonus"))),
    Rule("promotion_consistency", "warning",
      // after template completion, non-promo rows carry 'none'/null fields
      when(col("is_promotion"),
        col("promotion_type") =!= "none" && col("promotion_mechanism") =!= "none")
        .otherwise(
          (col("promotion_type") === "none" || col("promotion_type") === "") &&
          (col("promotion_mechanism") === "none" || col("promotion_mechanism") === "") &&
          col("promotion_start_date").isNull && col("promotion_end_date").isNull)),
    Rule("promotion_dates", "warning",
      when(col("is_promotion") && col("promotion_start_date").isNotNull &&
          col("promotion_end_date").isNotNull,
        to_date(col("promotion_start_date")) <= to_date(col("promotion_end_date")))
        .otherwise(lit(true))),
    Rule("valid_quantity", "error",
      col("quantity_amount") > 0 && coalesce(col("quantity_unit"), lit("")) =!= ""),
    Rule("valid_category", "warning",
      col("main_category").isNotNull && trim(col("main_category")) =!= ""),
    Rule("valid_image_url", "info",
      coalesce(col("image_url"), lit("")).startsWith("http")))

  /** Unit-price cross-check (±10% tolerance) — the reference's
    * `unit-price-consistency` rule: price/quantity re-derived per kg/l must
    * be within 10% of the reported unit price. */
  val unitPriceConsistency: Rule = {
    val toBase = // g/ml → 1, kg/l → 1000 (weight and volume share factors)
      when(col("quantity_unit").isInCollection(Seq("g", "ml")), 1.0)
        .when(col("quantity_unit").isInCollection(Seq("kg", "l")), 1000.0)
    val unitToBase =
      when(col("unit_price_unit").isInCollection(Seq("g", "ml")), 1.0)
        .when(col("unit_price_unit").isInCollection(Seq("kg", "l")), 1000.0)
    val ratio = (col("quantity_amount") * toBase) / unitToBase
    val calc = col("price_before_bonus") / ratio
    val passes =
      when(col("unit_price").isNull, lit(true))
        .when(col("quantity_unit") === "stuk" || col("unit_price_unit") === "stuk", lit(true))
        .when(col("quantity_amount").isNull || col("unit_price_unit").isNull ||
          toBase.isNull || unitToBase.isNull || ratio <= 0, lit(false))
        .otherwise(calc >= col("unit_price") * 0.9 && calc <= col("unit_price") * 1.1)
    Rule("unit_price_consistency", "info", passes)
  }

  val allRules: Seq[Rule] = rules :+ unitPriceConsistency

  /** Per-row validation: adds `failed_rules` (array of rule names) and
    * `worst_severity` (error > warning > info > null). */
  def validate(unified: DataFrame): DataFrame = {
    val failed = array_compact(array(allRules.map(r =>
      when(!coalesce(r.passes, lit(false)), lit(r.name))): _*))
    val sevOf = allRules.map(r => r.name -> r.severity).toMap
    val worst =
      when(exists(col("failed_rules"),
        n => n.isInCollection(sevOf.filter(_._2 == "error").keys.toSeq)), "error")
        .when(exists(col("failed_rules"),
          n => n.isInCollection(sevOf.filter(_._2 == "warning").keys.toSeq)), "warning")
        .when(size(col("failed_rules")) > 0, "info")
    unified.withColumn("failed_rules", failed)
      .withColumn("worst_severity", worst)
  }

  /** §5-style validation summary: per-rule failure counts + rates. */
  def summary(unified: DataFrame): DataFrame = {
    val aggs = allRules.map(r =>
      count(when(!coalesce(r.passes, lit(false)), 1)).as(r.name))
    val total = count(lit(1)).as("n_rows")
    unified.agg(total, aggs: _*)
  }

  /** Batch compliance gate (database-processor-adapter.ts:317-328): fail
    * the write when any row breaks an error-severity rule. */
  def complianceGate(unified: DataFrame): Unit = {
    val errRules = allRules.filter(_.severity == "error")
    val bad = unified.filter(errRules.map(r => !coalesce(r.passes, lit(false)))
      .reduce(_ || _)).limit(1).count()
    if (bad > 0) throw new IllegalStateException(
      "structure compliance gate: batch contains error-severity validation failures")
  }

  /** Referential-integrity audit for one FK relationship: total child
    * rows, distinct child keys, and orphan rows (child key absent from
    * the parent, NULLs excluded — a NULL FK is a completeness problem,
    * not a referential one). The orphan pass is a key-shuffled anti-join
    * against the DISTINCT parent keys (combiner-shrunk before the
    * shuffle); the result is one row, so auditing a whole schema is a
    * union of these. The warehouse-side generalization of the
    * reference's per-row FK null checks. */
  def refIntegrity(child: DataFrame, childKey: String, parent: DataFrame,
      parentKey: String, relName: String): DataFrame = {
    val keys = child.filter(col(childKey).isNotNull)
      .select(col(childKey).as("_fk"))
    val orphans = keys.join(
        parent.select(col(parentKey).as("_fk")).distinct(),
        Seq("_fk"), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
    val totals = keys.agg(count(lit(1)).as("n_child"),
      countDistinct(col("_fk")).as("n_child_keys"))
    totals.join(orphans)
      .select(lit(relName).as("relationship"), col("n_child"),
        col("n_child_keys"), col("n_orphans"))
  }

  /** Functional-dependency audit for one candidate FD `det → dep`: does
    * every determinant value map to exactly one dependent value? One
    * combiner-friendly groupBy on the (pre-projected) determinant column
    * counts rows and distinct dependents per group; a second tiny
    * aggregate folds that into one summary row — total groups, violating
    * groups (>1 distinct dependent), rows inside violating groups, and
    * the worst group's dependent cardinality. NULL determinants are
    * excluded (no group identity); NULL dependents don't count as a
    * value (count_distinct semantics). Like [[refIntegrity]], the
    * one-row shape makes a schema-wide audit a union of these. */
  def fdAudit(df: DataFrame, detCol: String, depCol: String,
      fdName: String): DataFrame = {
    val perDet = df.filter(col(detCol).isNotNull)
      .groupBy(col(detCol))
      .agg(count(lit(1)).as("_rows"),
        countDistinct(col(depCol)).as("_card"))
    perDet.agg(
        count(lit(1)).as("n_groups"),
        sum(when(col("_card") > 1, 1L).otherwise(0L)).as("violating_groups"),
        sum(when(col("_card") > 1, col("_rows")).otherwise(0L))
          .as("violating_rows"),
        max(col("_card")).as("max_card"))
      .select(lit(fdName).as("fd"), col("n_groups"),
        col("violating_groups"), col("violating_rows"), col("max_card"))
  }

  /** Candidate-key discovery audit: for each proposed column set, is it
    * a key? Reports per candidate the group count (distinct
    * combinations), total rows, duplicate rows (rows beyond the first
    * in each group — exactly what a dedup on that key would drop), the
    * worst group's size, and the verdict. The profiling step before any
    * MERGE/upsert or dedup design commits to a key (the reference keys
    * staging on `(shop_type, external_id)` — this operator is how such
    * a choice gets validated on real data instead of asserted).
    *
    * Each candidate costs one combiner-friendly groupBy folded to a
    * single row map-side, so auditing k candidates is k passes over the
    * (pre-projected) columns — at 100 TB, run it on a sampled or
    * column-pruned scan first; distinct-combination counting cannot
    * share one pass across candidates without sketches (the HLL-based
    * [[graft.etl.Sketches]] route trades exactness for that). NULLs
    * participate as ordinary group values (a null-keyed duplicate is
    * still a duplicate for upsert purposes). */
  def keyAudit(df: DataFrame, candidates: Seq[Seq[String]]): DataFrame = {
    require(candidates.nonEmpty, "need at least one candidate key")
    candidates.map { cols =>
      df.groupBy(cols.map(col): _*).agg(count(lit(1)).as("_c"))
        .agg(count(lit(1)).as("n_groups"), sum(col("_c")).as("n_rows"),
          sum(col("_c") - 1L).as("dup_rows"), max(col("_c")).as("max_group"))
        .select(lit(cols.mkString(",")).as("candidate"), col("n_rows"),
          col("n_groups"), col("dup_rows"), col("max_group"),
          (col("dup_rows") === 0L).as("is_key"))
    }.reduce(_.unionByName(_))
  }

  /** Missingness co-occurrence audit: for every column PAIR, how often the
    * two go null TOGETHER vs what independence predicts —
    *   lift_ppm = ⌊10⁶ · null_both · n / (null_a · null_b)⌋
    * (≫ 10⁶ says one upstream failure blanks both fields at once — a
    * feed-level outage; ≈ 10⁶ says unrelated field-level noise). The
    * per-column null screen is [[graft.etl.Analytics]]'s column profile;
    * this is the pairwise structure it cannot see.
    *
    * One full-scan aggregation computes every per-column and per-pair
    * counter map-side (the output is k + k·(k−1)/2 counters — enum-sized,
    * never row-sized), then a literal-array explode reshapes to one row
    * per pair. The lift cross-product rides decimal(38,0). */
  def nullPatternAudit(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns to correlate")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val flags = df.select(cols.map(c =>
      when(col(c).isNull, 1L).otherwise(0L).as(s"_f_$c")): _*)
    val aggs =
      cols.map(c => sum(col(s"_f_$c")).as(s"_n_$c")) ++
        pairs.map { case (a, b) =>
          sum(col(s"_f_$a") * col(s"_f_$b")).as(s"_b_${a}_$b") }
    val t = flags.agg(count(lit(1)).as("n"), aggs: _*)
    val rows = pairs.map { case (a, b) =>
      struct(lit(a).as("col_a"), lit(b).as("col_b"), col("n"),
        col(s"_n_$a").as("null_a"), col(s"_n_$b").as("null_b"),
        col(s"_b_${a}_$b").as("null_both"))
    }
    t.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
      .withColumn("lift_ppm", expr(
        """CAST(CAST(null_both AS DECIMAL(38,0)) * n * 1000000
           div NULLIF(CAST(null_a AS DECIMAL(38,0)) * null_b, 0)
           AS BIGINT)"""))
  }
}
