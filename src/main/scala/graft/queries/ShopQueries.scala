package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.etl.Shops
import graft.queries.SortBarrier._

/** Oracle-gated end-to-end runs of the four REAL shop adapters (SURVEY.md
  * §2.3 F1–F4, §2.4 T1–T4, §2.5 T8) — the engine's heart.
  *
  * Technique (same as q19–q22): synthesize scraper-shaped raw JSON rows
  * deterministically from `orders` (each `o_orderkey % 8` class isolates one
  * skip rule or transform branch), parse them with the adapter's real
  * schema-on-read StructType, run the adapter's full
  * `read → skip → transform → template` path, and emit scalar columns whose
  * expected values the DuckDB oracle re-derives analytically from the same
  * key arithmetic — an independent derivation, not a port.
  *
  * Branch coverage per shop:
  *  - AH (ah.ts:672-695, 146-623): 4 skip rules, widest-image tie→last argmax,
  *    structured-discount first-match-break (percentage / X-for-Y /
  *    no-match→amount fallthrough), unit-price description parse, qty parse.
  *  - Jumbo (jumbo.ts:335-359, 117-273): 5 skip rules, cents→euros, promo tag
  *    concat → mechanism parse, promoPrice override, brand-from-title,
  *    quantityDetails defaults, pricePerUnit passthrough.
  *  - Aldi (aldi.ts:421-432, 77-226): 3 skip rules, string price parse
  *    (price vs priceFormatted fallback), oldPrice → "-NN%" mechanism
  *    synthesis, priceReduction/priceInfo/discount-category precedence,
  *    ISO promotionDate passthrough, basePrice unit extraction.
  *  - Plus (plus.ts:388-395, 86-267): skip + required-field errors, the
  *    subtitle→slug→Packging quantity cascade, unit-price per normalized
  *    unit (g→kg ×1000), NewPrice, promo label parse, '1900-01-01' sentinel.
  *
  * Money determinism: prices are synthesized as exact integer cents
  * (multiples of 20), so every derived price (×0.75, ×0.5, −0.50, ÷2) lands
  * on integer cents and `round(x*100)` is tie-free in both engines; raw
  * double outputs (disc_pct) replicate the exact FP expression tree on both
  * sides.
  */
object ShopQueries {

  /** Exact-cents decimal string "d.dd" for JSON embedding (cents ≤ ~46k so
    * the double round-trip is exact). */
  private[queries] def dec(c: Column): Column =
    format_string("%d.%02d", (c / 100).cast("long"), (c % 100).cast("long"))

  /** The adapter's unified output over the orders scan, with the
    * synthesized `json` parsed into the adapter's raw columns.
    *
    * The parse sits in a `Generate` (`inline(array(from_json(..)))`, the
    * spelling of [[graft.etl.Pipeline.readShopJsonLines]]): projection
    * collapse and filter pushdown cannot copy it across, so each row parses
    * once. A plain `select(from_json(..))` lets the optimizer collapse the
    * adapter's ~35 output expressions onto the from_json lineage and,
    * JsonToStructs being codegen-fallback (no subexpression elimination),
    * re-parse the JSON per output column — measured 8s vs 0.6s at sf0.1.
    *
    * [[graft.etl.Parallelism.spread]] runs on the raw scan BELOW the parse:
    * the sf-scale fixtures are single-row-group parquet, so un-spread the
    * whole parse+transform pipeline ran in ONE task regardless of core
    * count. */
  private def unified(spark: SparkSession, dir: String,
      adapter: Shops.ShopAdapter, json: Column): DataFrame =
    adapter.unified(graft.etl.Parallelism.spread(Tables.orders(spark, dir))
      .select(inline(array(from_json(json, adapter.schema)))))

  private def centsOut(c: Column): Column = round(c * 100).cast("long")

  private def kCol = (col("o_orderkey") % 8).cast("int")
  private def centsCol = ((col("o_orderkey") % 19) + 1) * 20

  // ---------------------------------------------------------------- AH (q40)

  def q40AhAdapter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = kCol
    val cents = centsCol
    val json = concat(
      lit("{\"webshopId\":"), $"o_orderkey".cast("string"),
      lit(",\"title\":\"Product "), $"o_orderkey".cast("string"), lit("\""),
      lit(",\"brand\":\"Merk\",\"salesUnitSize\":\"500 g\""),
      lit(",\"mainCategory\":\""),
      when(k === 2, lit("AH Voordeelshop")).otherwise(lit("Bakkerij")), lit("\""),
      lit(",\"orderAvailabilityStatus\":\""),
      when(k === 1, lit("UNAVAILABLE")).otherwise(lit("IN_ASSORTMENT")), lit("\""),
      when(k === 0, lit(",\"isVirtualBundle\":true")).otherwise(lit("")),
      when(k =!= 3, concat(lit(",\"priceBeforeBonus\":"), dec(cents))).otherwise(lit("")),
      when(k === 4, concat(lit(",\"currentPrice\":"), dec(cents))).otherwise(lit("")),
      lit(",\"images\":[{\"url\":\"a.jpg\",\"width\":100}," +
        "{\"url\":\"b.jpg\",\"width\":300},{\"url\":\"c.jpg\",\"width\":300}]"),
      when(k === 4, lit(",\"unitPriceDescription\":\"prijs per kg €3.98\""))
        .otherwise(lit("")),
      when(k === 5, lit(",\"isBonus\":true,\"promotionType\":\"BONUS\"," +
        "\"bonusMechanism\":\"25% korting\",\"bonusStartDate\":\"2024-05-01\"," +
        "\"bonusEndDate\":\"2024-05-07\",\"discountLabels\":[" +
        "{\"code\":\"DISCOUNT_PERCENTAGE\",\"percentage\":25}]")).otherwise(lit("")),
      when(k === 6, lit(",\"isBonus\":true," +
        "\"bonusMechanism\":\"2 voor 3.00\",\"bonusStartDate\":\"2024-05-01\"," +
        "\"bonusEndDate\":\"2024-05-07\",\"discountLabels\":[" +
        "{\"code\":\"DISCOUNT_X_FOR_Y\",\"count\":2,\"price\":3.0}]")).otherwise(lit("")),
      // first label matches no case arm → loop falls through to the second
      when(k === 7, lit(",\"isBonus\":true," +
        "\"bonusMechanism\":\"bundel\",\"bonusStartDate\":\"2024-05-01\"," +
        "\"bonusEndDate\":\"2024-05-07\",\"discountLabels\":[" +
        "{\"code\":\"DISCOUNT_MYSTERY\"}," +
        "{\"code\":\"DISCOUNT_AMOUNT\",\"amount\":0.5}]")).otherwise(lit("")),
      lit("}"))
    unified(spark, dir, Shops.Ah, json).select(
      $"unified_id", $"title", $"main_category", $"brand", $"image_url",
      $"sales_unit_size", $"quantity_amount", $"quantity_unit",
      centsOut($"price_before_bonus").as("pbb_cents"),
      centsOut($"current_price").as("cp_cents"),
      centsOut($"unit_price").as("up_cents"),
      $"unit_price_unit",
      $"is_promotion", $"promotion_type", $"promotion_mechanism",
      $"promotion_start_date", $"promotion_end_date",
      centsOut($"parsed_promotion_effective_unit_price").as("eff_cents"),
      $"parsed_promotion_required_quantity".as("req_qty"),
      centsOut($"parsed_promotion_total_price").as("total_cents"),
      $"parsed_promotion_is_multi_purchase_required".as("multi"),
      centsOut($"discount_absolute").as("disc_cents"),
      $"discount_percentage".as("disc_pct"),
      $"is_active")
      .sortedOnce($"unified_id")
  }

  // ------------------------------------------------------------- Jumbo (q41)

  def q41JumboAdapter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = kCol
    val cents = centsCol
    val json =
      when(k === 0, lit("{}")).otherwise(concat(
        lit("{\"product\":{\"id\":\"J"), $"o_orderkey".cast("string"), lit("\""),
        lit(",\"title\":\""),
        when(k === 1, lit("  "))
          .otherwise(concat(lit("Jumbo Product "), $"o_orderkey".cast("string"))),
        lit("\",\"category\":\"Bakkerij\",\"subtitle\":\"500 g\""),
        when(k === 6, lit(",\"brand\":\"Huismerk\"")).otherwise(lit("")),
        lit(",\"inAssortment\":"), when(k === 3, lit("false")).otherwise(lit("true")),
        when(k === 4, lit(",\"availability\":{\"isAvailable\":false}")).otherwise(lit("")),
        lit(",\"prices\":{\"price\":"),
        when(k === 2, lit("0")).otherwise(cents.cast("string")),
        when(k === 7, concat(lit(",\"promoPrice\":"),
          (cents / 2).cast("long").cast("string"))).otherwise(lit("")),
        when(k === 5, lit(",\"pricePerUnit\":{\"price\":998,\"unit\":\"kg\"}"))
          .otherwise(lit("")),
        lit("}"),
        when(k === 5, lit(",\"quantityDetails\":{\"defaultAmount\":2}")).otherwise(lit("")),
        when(k === 6, lit(",\"promotions\":[{\"tags\":[{\"text\":\"2 voor 3.00\"}]}]"))
          .otherwise(lit("")),
        when(k === 7, lit(",\"promotions\":[{\"tags\":[{\"text\":\"25% korting\"}]}]"))
          .otherwise(lit("")),
        lit("}}")))
    unified(spark, dir, Shops.Jumbo, json).select(
      $"unified_id", $"title", $"main_category", $"brand",
      $"sales_unit_size", $"quantity_amount", $"quantity_unit",
      $"default_quantity_amount", $"default_quantity_unit",
      centsOut($"price_before_bonus").as("pbb_cents"),
      centsOut($"current_price").as("cp_cents"),
      centsOut($"unit_price").as("up_cents"),
      $"unit_price_unit",
      $"is_promotion", $"promotion_type", $"promotion_mechanism",
      centsOut($"parsed_promotion_effective_unit_price").as("eff_cents"),
      $"parsed_promotion_required_quantity".as("req_qty"),
      centsOut($"parsed_promotion_total_price").as("total_cents"),
      $"parsed_promotion_is_multi_purchase_required".as("multi"),
      $"is_active")
      .sortedOnce($"unified_id")
  }

  // -------------------------------------------------------------- Aldi (q42)

  def q42AldiAdapter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = kCol
    val cents = centsCol
    val json = concat(
      lit("{\"articleNumber\":\"A"), $"o_orderkey".cast("string"), lit("\""),
      lit(",\"title\":\"Aldi Product "), $"o_orderkey".cast("string"), lit("\""),
      lit(",\"brandName\":\"Merk\""),
      lit(",\"salesUnit\":\""),
      when(k === 7, lit("750 ml")).otherwise(lit("500 g")), lit("\""),
      lit(",\"mainCategory\":\""),
      when(k === 2, lit("cadeaukaarten")).when(k === 6, lit("discount"))
        .otherwise(lit("Bakkerij")), lit("\""),
      when(k === 0, lit(",\"isNotAvailable\":true")).otherwise(lit("")),
      when(k === 1, lit(",\"isSoldOut\":true")).otherwise(lit("")),
      lit(",\"price\":\""), when(k === 7, lit("0")).otherwise(dec(cents)), lit("\""),
      // price "0" forces the priceFormatted fallback parse (aldi.ts:325-337)
      when(k === 7, concat(lit(",\"priceFormatted\":\"€"),
        regexp_replace(dec(cents), "\\.", ","), lit("\""))).otherwise(lit("")),
      // oldPrice = 2×price makes the synthesized mechanism exactly "-50%"
      when(k === 3, concat(lit(",\"oldPrice\":\""), dec(cents * 2), lit("\"")))
        .otherwise(lit("")),
      when(k === 4, lit(",\"priceReduction\":\"- €0.50\"")).otherwise(lit("")),
      when(k === 5, lit(",\"priceInfo\":\"actieprijs\"")).otherwise(lit("")),
      when(k === 7, lit(",\"basePriceValue\":3.32,\"basePriceFormatted\":\"€3.32/l\""))
        .otherwise(lit("")),
      when(k.isin(3, 4, 5, 6),
        lit(",\"promotionDetails\":{\"promotionDate\":\"2024-03-04\"}"))
        .otherwise(lit("")),
      lit(",\"primaryImage\":{\"baseUrl\":\"img.jpg\"}}"))
    // main_category is intentionally not emitted: the k=6 'discount' class
    // feeds the cascade an input whose result q22 does not pin by hand.
    unified(spark, dir, Shops.Aldi, json).select(
      $"unified_id", $"title", $"brand", $"image_url",
      $"sales_unit_size", $"quantity_amount", $"quantity_unit",
      centsOut($"price_before_bonus").as("pbb_cents"),
      centsOut($"current_price").as("cp_cents"),
      centsOut($"unit_price").as("up_cents"),
      $"unit_price_unit",
      $"is_promotion", $"promotion_type", $"promotion_mechanism",
      $"promotion_start_date", $"promotion_end_date",
      centsOut($"discount_absolute").as("disc_cents"),
      $"discount_percentage".as("disc_pct"),
      $"is_active")
      .sortedOnce($"unified_id")
  }

  // -------------------------------------------------------------- Plus (q43)

  def q43PlusAdapter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = kCol
    val cents = centsCol
    val json =
      when(k === 0, lit("{}")).otherwise(concat(
        lit("{\"PLP_Str\":{\"SKU\":\""),
        when(k === 2, lit("")).otherwise(concat(lit("P"), $"o_orderkey".cast("string"))),
        lit("\",\"Name\":\"Plus Product "), $"o_orderkey".cast("string"), lit("\""),
        when(k >= 4, lit(",\"Brand\":\"Merk\"")).otherwise(lit("")),
        lit(",\"ImageURL\":\"p.jpg\""),
        lit(",\"OriginalPrice\":\""), dec(cents), lit("\""),
        when(k === 4, concat(lit(",\"NewPrice\":\""),
          dec((cents / 2).cast("long")), lit("\""))).otherwise(lit("")),
        when(k === 3, lit(",\"Product_Subtitle\":\"Per 500 Gram\"")).otherwise(lit("")),
        when(k === 6, lit(",\"Product_Subtitle\":\"Per 2 Stuks\"")).otherwise(lit("")),
        when(k === 4, lit(",\"Slug\":\"artikel-6-stuks\"")).otherwise(lit("")),
        when(k === 5, lit(",\"Packging\":\"Kg\"")).otherwise(lit("")),
        lit(",\"IsAvailable\":"), when(k === 1, lit("false")).otherwise(lit("true")),
        when(k === 6, lit(",\"PromotionLabel\":\"2 voor 3.00\"," +
          "\"PromotionStartDate\":\"2024-01-01\",\"PromotionEndDate\":\"2024-01-07\""))
          .otherwise(lit("")),
        // '1900-01-01' start is the shop's no-promotion sentinel (plus.ts)
        when(k === 7, lit(",\"PromotionLabel\":\"Actie\"," +
          "\"PromotionStartDate\":\"1900-01-01\",\"PromotionEndDate\":\"2024-01-07\""))
          .otherwise(lit("")),
        lit(",\"Categories\":{\"List\":[{\"Name\":\"Bakkerij\"}]}}}")))
    unified(spark, dir, Shops.Plus, json).select(
      $"unified_id", $"title", $"main_category", $"brand", $"image_url",
      $"sales_unit_size", $"quantity_amount", $"quantity_unit",
      centsOut($"price_before_bonus").as("pbb_cents"),
      centsOut($"current_price").as("cp_cents"),
      centsOut($"unit_price").as("up_cents"),
      $"unit_price_unit",
      $"is_promotion", $"promotion_type", $"promotion_mechanism",
      $"promotion_start_date", $"promotion_end_date",
      centsOut($"parsed_promotion_effective_unit_price").as("eff_cents"),
      $"parsed_promotion_required_quantity".as("req_qty"),
      centsOut($"parsed_promotion_total_price").as("total_cents"),
      $"parsed_promotion_is_multi_purchase_required".as("multi"),
      centsOut($"discount_absolute").as("disc_cents"),
      $"is_active")
      .sortedOnce($"unified_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q40_ah_adapter" -> q40AhAdapter _,
    "q41_jumbo_adapter" -> q41JumboAdapter _,
    "q42_aldi_adapter" -> q42AldiAdapter _,
    "q43_plus_adapter" -> q43PlusAdapter _)

  /** Hand-derived analytic oracles. Shared arithmetic: k = o_orderkey % 8
    * selects the branch, cents = ((o_orderkey % 19) + 1) * 20 the price. */
  val oracleSql: Map[String, String] = Map(
    "q40_ah_adapter" -> """
      |WITH base AS (
      |  SELECT o_orderkey, CAST(o_orderkey % 8 AS INT) AS k,
      |         ((o_orderkey % 19) + 1) * 20 AS cents
      |  FROM orders WHERE o_orderkey % 8 >= 4),
      |s AS (SELECT *, cents/1e2 AS pbb FROM base),
      |c AS (
      |  SELECT *,
      |    CASE k
      |      WHEN 5 THEN pbb * (1 - 25/1e2)
      |      WHEN 6 THEN CAST(1.5 AS DOUBLE)
      |      WHEN 7 THEN CASE WHEN greatest(pbb - 0.5, 0) <= 0 THEN pbb
      |                       ELSE greatest(pbb - 0.5, 0) END
      |      ELSE pbb END AS cp
      |  FROM s)
      |SELECT CAST(o_orderkey AS VARCHAR) AS unified_id,
      |  'Product ' || o_orderkey AS title,
      |  'Bakkerij' AS main_category,
      |  'Merk' AS brand,
      |  'c.jpg' AS image_url,
      |  '500 g' AS sales_unit_size,
      |  CAST(500 AS DOUBLE) AS quantity_amount,
      |  'g' AS quantity_unit,
      |  CAST(cents AS BIGINT) AS pbb_cents,
      |  CAST(round(cp*1e2) AS BIGINT) AS cp_cents,
      |  CASE WHEN k = 4 THEN CAST(398 AS BIGINT) END AS up_cents,
      |  CASE WHEN k = 4 THEN 'kg' END AS unit_price_unit,
      |  k >= 5 AS is_promotion,
      |  CASE WHEN k = 4 THEN 'none' WHEN k = 5 THEN 'BONUS'
      |       ELSE 'DISCOUNT' END AS promotion_type,
      |  CASE k WHEN 4 THEN 'none' WHEN 5 THEN '25% korting'
      |       WHEN 6 THEN '2 voor 3.00' ELSE 'bundel' END AS promotion_mechanism,
      |  CASE WHEN k >= 5 THEN '2024-05-01' END AS promotion_start_date,
      |  CASE WHEN k >= 5 THEN '2024-05-07' END AS promotion_end_date,
      |  CASE WHEN k >= 5 THEN CAST(round(cp*1e2) AS BIGINT) END AS eff_cents,
      |  CASE WHEN k = 6 THEN CAST(2 AS DOUBLE) END AS req_qty,
      |  CASE WHEN k = 6 THEN CAST(300 AS BIGINT) END AS total_cents,
      |  k = 6 AS multi,
      |  CASE WHEN k >= 5 AND cp < pbb
      |       THEN CAST(round((pbb - cp)*1e2) AS BIGINT) END AS disc_cents,
      |  CASE WHEN k >= 5 AND cp < pbb THEN (pbb - cp)/pbb*100 END AS disc_pct,
      |  TRUE AS is_active
      |FROM c ORDER BY unified_id""".stripMargin,
    "q41_jumbo_adapter" -> """
      |WITH base AS (
      |  SELECT o_orderkey, CAST(o_orderkey % 8 AS INT) AS k,
      |         ((o_orderkey % 19) + 1) * 20 AS cents
      |  FROM orders WHERE o_orderkey % 8 >= 5),
      |s AS (SELECT *, cents/1e2 AS pbb FROM base),
      |c AS (
      |  SELECT *,
      |    CASE k
      |      WHEN 6 THEN CAST(1.5 AS DOUBLE)
      |      WHEN 7 THEN (cents//2)/1e2
      |      ELSE pbb END AS cp
      |  FROM s)
      |SELECT 'J' || o_orderkey AS unified_id,
      |  'Jumbo Product ' || o_orderkey AS title,
      |  'Bakkerij' AS main_category,
      |  CASE WHEN k = 6 THEN 'Huismerk' ELSE 'Jumbo' END AS brand,
      |  '500 g' AS sales_unit_size,
      |  CAST(500 AS DOUBLE) AS quantity_amount,
      |  'g' AS quantity_unit,
      |  CASE WHEN k = 5 THEN CAST(2 AS DOUBLE) ELSE CAST(1 AS DOUBLE) END
      |    AS default_quantity_amount,
      |  CASE WHEN k = 5 THEN 'stuk' ELSE 'g' END AS default_quantity_unit,
      |  CAST(cents AS BIGINT) AS pbb_cents,
      |  CAST(round(cp*1e2) AS BIGINT) AS cp_cents,
      |  CASE WHEN k = 5 THEN CAST(998 AS BIGINT) END AS up_cents,
      |  CASE WHEN k = 5 THEN 'kg' END AS unit_price_unit,
      |  k >= 6 AS is_promotion,
      |  CASE WHEN k = 6 THEN 'DISCOUNT_AMOUNT' WHEN k = 7 THEN 'DISCOUNT_PERCENTAGE'
      |       ELSE 'none' END AS promotion_type,
      |  CASE WHEN k = 6 THEN '2 voor 3.00' WHEN k = 7 THEN '25% korting'
      |       ELSE 'none' END AS promotion_mechanism,
      |  CASE WHEN cp < pbb THEN CAST(round(cp*1e2) AS BIGINT) END AS eff_cents,
      |  CASE WHEN k = 6 THEN CAST(2 AS DOUBLE) END AS req_qty,
      |  CASE WHEN k = 6 THEN CAST(300 AS BIGINT) END AS total_cents,
      |  k = 6 AS multi,
      |  TRUE AS is_active
      |FROM c ORDER BY unified_id""".stripMargin,
    "q42_aldi_adapter" -> """
      |WITH base AS (
      |  SELECT o_orderkey, CAST(o_orderkey % 8 AS INT) AS k,
      |         ((o_orderkey % 19) + 1) * 20 AS cents
      |  FROM orders WHERE o_orderkey % 8 >= 3),
      |s AS (
      |  SELECT *,
      |    CASE WHEN k = 3 THEN (cents*2)/1e2 ELSE cents/1e2 END AS pbb,
      |    cents/1e2 AS price
      |  FROM base),
      |c AS (
      |  -- parsePromotionMechanism 2dp-rounds effective prices (roundN), so
      |  -- the oracle rounds too: the raw disc_pct double is ulp-sensitive.
      |  SELECT *,
      |    CASE k
      |      WHEN 3 THEN round(pbb * (1 - 50/1e2), 2)
      |      WHEN 4 THEN CASE WHEN greatest(pbb - 0.5, 0) <= 0 THEN pbb
      |                       ELSE round(greatest(pbb - 0.5, 0), 2) END
      |      ELSE pbb END AS cp
      |  FROM s)
      |SELECT 'A' || o_orderkey AS unified_id,
      |  'Aldi Product ' || o_orderkey AS title,
      |  'Merk' AS brand,
      |  'img.jpg' AS image_url,
      |  CASE WHEN k = 7 THEN '750 ml' ELSE '500 g' END AS sales_unit_size,
      |  CASE WHEN k = 7 THEN CAST(750 AS DOUBLE) ELSE CAST(500 AS DOUBLE) END
      |    AS quantity_amount,
      |  CASE WHEN k = 7 THEN 'ml' ELSE 'g' END AS quantity_unit,
      |  CAST(CASE WHEN k = 3 THEN cents*2 ELSE cents END AS BIGINT) AS pbb_cents,
      |  CAST(round(cp*1e2) AS BIGINT) AS cp_cents,
      |  CASE WHEN k = 7 THEN CAST(332 AS BIGINT) END AS up_cents,
      |  CASE WHEN k = 7 THEN 'l' END AS unit_price_unit,
      |  k <= 6 AS is_promotion,
      |  CASE WHEN k IN (3, 4) THEN 'PRICE_REDUCTION' WHEN k = 5 THEN 'PRICE_INFO'
      |       WHEN k = 6 THEN 'WEEKLY_OFFER' ELSE 'none' END AS promotion_type,
      |  CASE WHEN k = 3 THEN '-50%' WHEN k = 4 THEN '- €0.50'
      |       WHEN k = 5 THEN 'actieprijs' WHEN k = 6 THEN 'Weekaanbieding'
      |       ELSE 'none' END AS promotion_mechanism,
      |  CASE WHEN k <= 6 THEN '2024-03-04' END AS promotion_start_date,
      |  CAST(NULL AS VARCHAR) AS promotion_end_date,
      |  CASE WHEN cp < pbb THEN CAST(round((pbb - cp)*1e2) AS BIGINT) END AS disc_cents,
      |  CASE WHEN cp < pbb THEN (pbb - cp)/pbb*100 END AS disc_pct,
      |  TRUE AS is_active
      |FROM c ORDER BY unified_id""".stripMargin,
    "q43_plus_adapter" -> """
      |WITH base AS (
      |  SELECT o_orderkey, CAST(o_orderkey % 8 AS INT) AS k,
      |         ((o_orderkey % 19) + 1) * 20 AS cents
      |  FROM orders WHERE o_orderkey % 8 >= 3),
      |s AS (SELECT *, cents/1e2 AS pbb FROM base),
      |c AS (
      |  SELECT *,
      |    CASE k
      |      WHEN 4 THEN (cents//2)/1e2
      |      WHEN 6 THEN CAST(1.5 AS DOUBLE)
      |      ELSE pbb END AS cp
      |  FROM s)
      |SELECT 'P' || o_orderkey AS unified_id,
      |  'Plus Product ' || o_orderkey AS title,
      |  'Bakkerij' AS main_category,
      |  CASE WHEN k = 3 THEN 'Plus' ELSE 'Merk' END AS brand,
      |  'p.jpg' AS image_url,
      |  CASE k WHEN 3 THEN '500 Gram' WHEN 4 THEN '6.0 stuk' WHEN 5 THEN '1.0 kg'
      |       WHEN 6 THEN '2 Stuks' ELSE '1.0 stuk' END AS sales_unit_size,
      |  CASE k WHEN 3 THEN CAST(500 AS DOUBLE) WHEN 4 THEN CAST(6 AS DOUBLE)
      |       WHEN 6 THEN CAST(2 AS DOUBLE) ELSE CAST(1 AS DOUBLE) END
      |    AS quantity_amount,
      |  CASE k WHEN 3 THEN 'g' WHEN 5 THEN 'kg' ELSE 'stuk' END AS quantity_unit,
      |  CAST(cents AS BIGINT) AS pbb_cents,
      |  CAST(round(cp*1e2) AS BIGINT) AS cp_cents,
      |  CASE k WHEN 3 THEN CAST(cents*2 AS BIGINT)
      |       WHEN 4 THEN CAST(round(round(pbb/6, 2)*1e2) AS BIGINT)
      |       WHEN 5 THEN CAST(cents AS BIGINT)
      |       WHEN 6 THEN CAST(cents//2 AS BIGINT) END AS up_cents,
      |  CASE k WHEN 3 THEN 'kg' WHEN 4 THEN 'stuk' WHEN 5 THEN 'kg'
      |       WHEN 6 THEN 'stuk' END AS unit_price_unit,
      |  k = 6 AS is_promotion,
      |  CASE WHEN k = 6 THEN 'DISCOUNT' ELSE 'none' END AS promotion_type,
      |  CASE WHEN k = 6 THEN '2 voor 3.00' ELSE 'none' END AS promotion_mechanism,
      |  CASE WHEN k = 6 THEN '2024-01-01' END AS promotion_start_date,
      |  CASE WHEN k = 6 THEN '2024-01-07' END AS promotion_end_date,
      |  CASE WHEN cp < pbb THEN CAST(round(cp*1e2) AS BIGINT) END AS eff_cents,
      |  CASE WHEN k = 6 THEN CAST(2 AS DOUBLE) END AS req_qty,
      |  CASE WHEN k = 6 THEN CAST(300 AS BIGINT) END AS total_cents,
      |  k = 6 AS multi,
      |  CASE WHEN cp < pbb THEN CAST(round((pbb - cp)*1e2) AS BIGINT) END AS disc_cents,
      |  TRUE AS is_active
      |FROM c ORDER BY unified_id""".stripMargin)
}
