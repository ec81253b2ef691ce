package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** T7/J5 — the generic raw→unified fallback mapper
  * (`adapters/database-processor-adapter.ts:485-585`): schemaless raw JSONB
  * rows mapped into the 32-field contract by coalescing over candidate
  * field names (`title|name`, `price_before_bonus|originalPrice`, …), plus
  * the per-shop external-id extraction cascade.
  *
  * Input: a raw table shaped like `raw.products` — (id, shop_type,
  * raw_data: json string). The document is parsed ONCE per row
  * (`from_json` against the all-string candidate-field schema; string
  * fields take any scalar token's text, exactly like `get_json_object`,
  * and PERMISSIVE mode nulls every field of a malformed document just as
  * the per-path extraction did) — the previous one-`get_json_object`-per-
  * candidate form re-parsed the document ~45× per row, which was the
  * whole cost of the adapter at scale (q48: 18.5 s → 4.9 s at sf0.1).
  */
object GenericAdapter {

  /** Every candidate field the mapper or the id cascade may read, all as
    * strings (scalar tokens keep their literal text; subtrees serialize
    * back to JSON text, matching get_json_object). */
  private val rawSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val flat = Seq(
      "title", "name", "category", "brand", "image_url", "imageUrl",
      "sales_unit_size", "unitSize", "quantity_amount", "quantity",
      "quantity_unit", "unit", "default_quantity_amount",
      "default_quantity_unit", "price_before_bonus", "originalPrice",
      "current_price", "price", "unit_price", "unit_price_unit",
      "is_promotion", "promotion", "discount", "promotion_type",
      "promotionType", "promotion_mechanism", "promotionMechanism",
      "promotion_start_date", "promotion_end_date",
      "parsed_promotion_effective_unit_price",
      "parsed_promotion_required_quantity", "parsed_promotion_total_price",
      "parsed_promotion_is_multi_purchase_required",
      "normalized_quantity_amount", "normalized_quantity_unit",
      "conversion_factor", "price_per_standard_unit",
      "current_price_per_standard_unit", "discount_absolute",
      "discount_percentage", "is_active",
      "id", "productId", "sku", "articleNumber", "productNumber")
    StructType(flat.map(StructField(_, StringType)) :+
      StructField("product", StructType(Seq(StructField("id", StringType)))))
  }

  /** The candidate-field parse as a column — callers name it once
    * (`withColumn`) and pass it to [[externalId]] so the cascade rides a
    * single document scan. */
  def parsedRaw(rawData: Column): Column = from_json(rawData, rawSchema)

  private def j(path: String): Column = path match {
    case "product.id" => col("_p").getField("product").getField("id")
    case p => col("_p").getField(p)
  }

  /** JS `a || b` over extracted JSON strings (null or '' falls through). */
  private def js(paths: String*): Column = Shops.orElse(paths.map(j): _*)

  private def num(c: Column): Column =
    nullif(regexp_extract(regexp_replace(coalesce(c, lit("")), "[^0-9.-]", ""),
      "^-?[0-9]*\\.?[0-9]+", 0), lit("")).cast("double")

  /** Map a schemaless raw frame to the unified contract. `runId` replaces
    * the reference's `Date.now()` suffix so ids are deterministic per run. */
  def unified(raw: DataFrame, shopType: String, runId: String): DataFrame = {
    val mapped = raw
      .withColumn("_p", from_json(col("raw_data"), rawSchema))
      .select(
      concat_ws("_", lit(shopType), col("id"), lit(runId)).as("unified_id"),
      lit(shopType).as("shop_type"),
      coalesce(js("title", "name"), lit("Unknown Product")).as("title"),
      j("category").as("main_category"),
      coalesce(js("brand"), lit("Unknown")).as("brand"),
      coalesce(js("image_url", "imageUrl"), lit("")).as("image_url"),
      coalesce(js("sales_unit_size", "unitSize"), lit("")).as("sales_unit_size"),
      coalesce(nullif(num(js("quantity_amount", "quantity")), lit(0.0)), lit(1.0))
        .as("quantity_amount"),
      coalesce(js("quantity_unit", "unit"), lit("piece")).as("quantity_unit"),
      num(j("default_quantity_amount")).as("default_quantity_amount"),
      j("default_quantity_unit").as("default_quantity_unit"),
      coalesce(num(js("price_before_bonus", "originalPrice")), lit(0.0))
        .as("price_before_bonus"),
      coalesce(num(js("current_price", "price")), lit(0.0)).as("current_price"),
      num(j("unit_price")).as("unit_price"),
      j("unit_price_unit").as("unit_price_unit"),
      // JS Boolean(a || b || c): json false/0/'' are falsy, any other value truthy
      coalesce(Seq("is_promotion", "promotion", "discount").map { p =>
        when(j(p).isNull || j(p) === "" || j(p) === "false" || j(p) === "0",
          lit(null)).otherwise(lit(true))
      }: _*).as("is_promotion"),
      coalesce(js("promotion_type", "promotionType"), lit("none")).as("promotion_type"),
      coalesce(js("promotion_mechanism", "promotionMechanism"), lit("none"))
        .as("promotion_mechanism"),
      to_date(j("promotion_start_date")).cast("string").as("promotion_start_date"),
      to_date(j("promotion_end_date")).cast("string").as("promotion_end_date"),
      num(j("parsed_promotion_effective_unit_price"))
        .as("parsed_promotion_effective_unit_price"),
      num(j("parsed_promotion_required_quantity"))
        .as("parsed_promotion_required_quantity"),
      num(j("parsed_promotion_total_price")).as("parsed_promotion_total_price"),
      j("parsed_promotion_is_multi_purchase_required").cast("boolean")
        .as("parsed_promotion_is_multi_purchase_required"),
      num(j("normalized_quantity_amount")).as("normalized_quantity_amount"),
      j("normalized_quantity_unit").as("normalized_quantity_unit"),
      num(j("conversion_factor")).as("conversion_factor"),
      num(j("price_per_standard_unit")).as("price_per_standard_unit"),
      num(j("current_price_per_standard_unit")).as("current_price_per_standard_unit"),
      num(j("discount_absolute")).as("discount_absolute"),
      num(j("discount_percentage")).as("discount_percentage"),
      // is_active: true unless explicitly false
      (!(j("is_active") === "false")).as("is_active"))
    Shops.finalizeTemplate(mapped)
  }

  /** J5 — per-shop external-id candidate cascade
    * (database-processor-adapter.ts:543-585).
    *
    * Prefer the `parsed` overload with a NAMED struct column (one
    * `withColumn("_p", from_json(...))` in the caller): an inline
    * `from_json` here gets schema-pruned into one CLONE PER CANDIDATE by
    * OptimizeJsonExprs, and the `nullif` wrapper doubles each clone —
    * q48's lineage side was paying ~5 full document scans per row for a
    * three-field cascade. A named multi-use struct survives
    * CollapseProject as a single evaluation. */
  def externalId(shopType: String): Column =
    externalId(shopType, from_json(col("raw_data"), rawSchema))

  def externalId(shopType: String, parsed: Column): Column = {
    val p = parsed
    def f(path: String): Column = path match {
      case "product.id" => p.getField("product").getField("id")
      case name => p.getField(name)
    }
    val cands: Seq[Column] = shopType.toLowerCase match {
      case "ah" => Seq(f("id"), f("productId"), f("product.id"))
      case "jumbo" | "kruidvat" => Seq(f("id"), f("productId"), f("sku"))
      case "aldi" => Seq(f("id"), f("articleNumber"), f("productId"))
      case "plus" => Seq(f("id"), f("productId"), f("productNumber"))
      case _ => Seq(f("id"), f("productId"), f("sku"))
    }
    coalesce(cands.map(c => nullif(c, lit(""))) :+ col("unified_id"): _*)
  }
}
