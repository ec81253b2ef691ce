package graft.model

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types._

/** The unified 32-field product contract (SURVEY.md §1.2).
  *
  * Reference: `projects/processor/src/core/structure/unified-product-template.ts:11-115`
  * and `src/types/product.ts:6-56`. "No fields can be omitted — null is
  * allowed for optional fields" — in Spark the fixed schema makes structural
  * compliance free; the template defaults live in [[graft.etl.Shops.finalizeTemplate]].
  */
final case class UnifiedProduct(
    // Core identification
    unified_id: String,
    shop_type: String,
    title: String,
    main_category: Option[String],
    // Brand & media
    brand: String,
    image_url: String,
    // Physical
    sales_unit_size: String,
    // Quantity
    quantity_amount: Double,
    quantity_unit: String,
    default_quantity_amount: Option[Double],
    default_quantity_unit: Option[String],
    // Price
    price_before_bonus: Double,
    current_price: Double,
    unit_price: Option[Double],
    unit_price_unit: Option[String],
    // Promotion
    is_promotion: Boolean,
    promotion_type: String,
    promotion_mechanism: String,
    promotion_start_date: Option[String],
    promotion_end_date: Option[String],
    // Parsed promotion
    parsed_promotion_effective_unit_price: Option[Double],
    parsed_promotion_required_quantity: Option[Double],
    parsed_promotion_total_price: Option[Double],
    parsed_promotion_is_multi_purchase_required: Option[Boolean],
    // Normalized quantity
    normalized_quantity_amount: Option[Double],
    normalized_quantity_unit: Option[String],
    conversion_factor: Option[Double],
    // Standard-unit pricing
    price_per_standard_unit: Option[Double],
    current_price_per_standard_unit: Option[Double],
    // Discount
    discount_absolute: Option[Double],
    discount_percentage: Option[Double],
    // Availability
    is_active: Boolean)

object UnifiedProduct {

  val CurrentSchemaVersion = "1.0.0" // infrastructure/database/types.ts:310

  /** The contract's columns: names in contract order
    * (unified-product-template.ts:11-21) and Spark types, an `Option` field
    * nullable. */
  val schema: StructType = Encoders.product[UnifiedProduct].schema

  /** The 32 required field names, in contract order. */
  val requiredFields: Seq[String] = schema.fieldNames.toSeq
}

/** Per-shop raw input schemas (SURVEY.md §1.3) for `spark.read.schema(...)
  * .json` / `from_json` — schema-on-read, nested structs typed so Catalyst
  * prunes unreferenced branches at the scan. */
object RawSchemas {

  /** AH — src/processors/ah.ts:10-42. */
  val ah: StructType = StructType(Seq(
    StructField("webshopId", LongType),
    StructField("title", StringType),
    StructField("salesUnitSize", StringType),
    StructField("unitPriceDescription", StringType),
    StructField("images", ArrayType(StructType(Seq(
      StructField("url", StringType),
      StructField("width", LongType))))),
    StructField("mainCategory", StringType),
    StructField("brand", StringType),
    StructField("priceBeforeBonus", DoubleType),
    StructField("currentPrice", DoubleType),
    StructField("bonusStartDate", StringType),
    StructField("bonusEndDate", StringType),
    StructField("promotionType", StringType),
    StructField("bonusMechanism", StringType),
    StructField("isBonus", BooleanType),
    StructField("isVirtualBundle", BooleanType),
    StructField("orderAvailabilityStatus", StringType),
    StructField("discountLabels", ArrayType(StructType(Seq(
      StructField("code", StringType),
      StructField("count", LongType),
      StructField("freeCount", LongType),
      StructField("price", DoubleType),
      StructField("percentage", DoubleType),
      StructField("amount", DoubleType),
      StructField("unit", StringType)))))))

  /** Jumbo wrapper — src/processors/jumbo.ts:12-49 (prices in integer cents). */
  val jumbo: StructType = {
    val pricePerUnit = StructType(Seq(
      StructField("price", LongType),
      StructField("unit", StringType)))
    val prices = StructType(Seq(
      StructField("price", LongType),
      StructField("promoPrice", LongType),
      StructField("pricePerUnit", pricePerUnit)))
    val quantityDetails = StructType(Seq(
      StructField("maxAmount", LongType),
      StructField("minAmount", LongType),
      StructField("stepAmount", LongType),
      StructField("defaultAmount", LongType)))
    val tag = StructType(Seq(StructField("text", StringType)))
    val promotion = StructType(Seq(StructField("tags", ArrayType(tag))))
    val product = StructType(Seq(
      StructField("id", StringType),
      StructField("title", StringType),
      StructField("brand", StringType),
      StructField("category", StringType),
      StructField("subtitle", StringType),
      StructField("quantity", StringType),
      StructField("image", StringType),
      StructField("inAssortment", BooleanType),
      StructField("availability", StructType(Seq(
        StructField("isAvailable", BooleanType)))),
      StructField("prices", prices),
      StructField("quantityDetails", quantityDetails),
      StructField("promotions", ArrayType(promotion))))
    StructType(Seq(StructField("product", product)))
  }

  /** Aldi — src/processors/aldi.ts:9-37 (prices as strings). */
  val aldi: StructType = StructType(Seq(
    StructField("articleNumber", StringType),
    StructField("articleId", StringType),
    StructField("title", StringType),
    StructField("brandName", StringType),
    StructField("salesUnit", StringType),
    StructField("shortDescription", StringType),
    StructField("price", StringType),
    StructField("priceFormatted", StringType),
    StructField("oldPrice", StringType),
    StructField("basePriceValue", DoubleType),
    StructField("basePriceFormatted", StringType),
    StructField("priceReduction", StringType),
    StructField("priceInfo", StringType),
    StructField("mainCategory", StringType),
    StructField("isNotAvailable", BooleanType),
    StructField("isSoldOut", BooleanType),
    StructField("primaryImage", StructType(Seq(
      StructField("baseUrl", StringType)))),
    StructField("promotionDetails", StructType(Seq(
      StructField("promotionDate", StringType))))))

  /** Plus wrapper — src/processors/plus.ts:10-49 (string prices, `Packging`
    * typo is the shop's own field name, `'1900-01-01'` sentinel dates). */
  val plus: StructType = {
    val categories = StructType(Seq(
      StructField("List", ArrayType(StructType(Seq(
        StructField("Name", StringType)))))))
    val plpStr = StructType(Seq(
      StructField("SKU", StringType),
      StructField("Name", StringType),
      StructField("Brand", StringType),
      StructField("ImageURL", StringType),
      StructField("OriginalPrice", StringType),
      StructField("NewPrice", StringType),
      StructField("Product_Subtitle", StringType),
      StructField("Slug", StringType),
      StructField("Packging", StringType),
      StructField("IsAvailable", BooleanType),
      StructField("PromotionLabel", StringType),
      StructField("PromotionStartDate", StringType),
      StructField("PromotionEndDate", StringType),
      StructField("Categories", categories)))
    StructType(Seq(
      StructField("PLP_Str", plpStr),
      StructField("BadgeQuantity", StringType)))
  }
}
