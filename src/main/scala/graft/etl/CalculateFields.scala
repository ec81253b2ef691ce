package graft.etl

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** T5 — the shared derive stage (`src/utils/calculate-fields.ts:20-123`),
  * applied after every shop transform. Sequential semantics:
  *
  *  1. promo parse — AH bypasses text parsing (STRUCTURED_DISCOUNT,
  *     calculate-fields.ts:30-48): effective price = current_price; all
  *     other shops run the pattern registry; missing detail fields default
  *     to required=1 / total=current_price / multi=false.
  *  2. standardize quantity → normalized_* + conversion_factor.
  *  3. price per standard unit (promo effective price feeds the current
  *     variant when truthy).
  *  4. discount metrics for promo rows.
  *
  * Pure per-row column work, no shuffle: three projections, so each UDF
  * island (`_pp`/`_std`, then `_dm` with the per-unit prices) is
  * evaluated once per row and the plan does not grow by one projection per
  * column.
  */
object CalculateFields {

  def apply(df: DataFrame): DataFrame = {
    val isPromo = col("is_promotion")
    val ahPromo = isPromo && col("shop_type") === "AH"
    val pp = col("_pp")
    val std = col("_std")

    val islands = df.select(col("*"),
      when(isPromo && col("shop_type") =!= "AH",
        Udfs.parsePromo(col("promotion_mechanism"),
          col("price_before_bonus"), col("current_price"))).as("_pp"),
      Udfs.standardizeQuantity(col("quantity_amount"), col("quantity_unit")).as("_std"))

    val effective = when(isPromo,
      when(ahPromo, col("current_price")).otherwise(pp("effective_unit_price")))
      .otherwise(col("parsed_promotion_effective_unit_price"))
    // JS truthiness: 0/undefined effective price falls back to current
    val effectiveOrCurrent = coalesce(nullif(effective, lit(0.0)), col("current_price"))
    val conversion = std("conversion_factor")
    val derived = ListMap(
      "parsed_promotion_effective_unit_price" -> effective,
      "parsed_promotion_required_quantity" ->
        when(ahPromo, lit(1.0))
          .when(isPromo, coalesce(pp("required_quantity"), lit(1.0)))
          .otherwise(col("parsed_promotion_required_quantity")),
      "parsed_promotion_total_price" ->
        when(ahPromo, col("current_price"))
          .when(isPromo, coalesce(pp("total_promotion_price"), col("current_price")))
          .otherwise(col("parsed_promotion_total_price")),
      "parsed_promotion_is_multi_purchase_required" ->
        when(ahPromo, lit(false))
          .when(isPromo, coalesce(pp("is_multi_purchase_required"), lit(false)))
          .otherwise(col("parsed_promotion_is_multi_purchase_required")),
      "normalized_quantity_amount" -> std("amount"),
      "normalized_quantity_unit" -> std("unit"),
      "conversion_factor" -> conversion,
      "price_per_standard_unit" -> Udfs.pricePerUnit(col("price_before_bonus"), conversion),
      "current_price_per_standard_unit" -> Udfs.pricePerUnit(effectiveOrCurrent, conversion))
    val withDiscount = islands.withColumns(derived + ("_dm" ->
      when(isPromo, Udfs.discountMetrics(col("price_before_bonus"), effectiveOrCurrent))))

    val discounts = ListMap(
      "discount_absolute" ->
        when(isPromo, col("_dm")("amount")).otherwise(col("discount_absolute")),
      "discount_percentage" ->
        when(isPromo, col("_dm")("percentage")).otherwise(col("discount_percentage")))
    // the input's columns in place, new ones appended in derive order
    val out = (df.columns.toSeq ++ derived.keys ++ discounts.keys).distinct
    withDiscount.select(out.map(c => discounts.get(c).fold(col(c))(_.as(c))): _*)
  }
}
