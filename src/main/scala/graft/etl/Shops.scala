package graft.etl

import java.time.{DayOfWeek, LocalDate}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.{RawSchemas, UnifiedProduct}

/** Per-shop raw→unified adapters (SURVEY.md §2.3 F1–F4, §2.4 T1–T4, §2.6 U5–U6).
  *
  * Each adapter exposes `schema` (for `spark.read.schema(...).json`),
  * `skip` (the shop's skip rules as one pushdown-friendly predicate over the
  * raw columns — filter BEFORE transform, like base.ts:341-357),
  * `transformError` (rows the transform rejects) and `unified` (raw
  * columns → the 32 template-finalized unified columns). Everything is
  * column expressions inside whole-stage codegen except the UDF islands
  * (promo parse, unit normalize, category cascade, AH structured discount).
  *
  * Scale note: these are pure per-row map/filter stages — no shuffle, no
  * driver state; they run at scan parallelism on any cluster size.
  */
object Shops {

  /** JS `a || b` for string columns: empty string falls through. */
  private[etl] def orElse(cols: Column*): Column =
    coalesce(cols.map(c => nullif(c, lit(""))): _*)

  /** U5 shared quantity regex: first `(\d+[.,]?\d*)\s*(\w+)` match. */
  private val qtyRe = "(\\d+(?:[.,]\\d+)?)\\s*(\\w+)"

  private def qtyAmount(src: Column): Column = {
    val raw = regexp_extract(src, qtyRe, 1)
    when(raw =!= "", regexp_replace(raw, ",", ".").cast("double")).otherwise(lit(1.0))
  }
  private def qtyUnit(src: Column): Column = {
    val raw = regexp_extract(src, qtyRe, 2)
    when(raw =!= "", Udfs.normalizeUnit(raw)).otherwise(lit("stuk"))
  }

  /** Template finalization (T6, unified-product-template.ts:161-231): JS
    * `||` defaults per field group; fixes column order to the 32-field
    * contract. Input must already contain all 32 columns. */
  def finalizeTemplate(df: DataFrame): DataFrame = df.select(template(n => Some(col(n))): _*)

  /** The template's JS `||` defaults (unified-product-template.ts:161-219),
    * by field; a field not named here keeps its value, null included. */
  private val defaults: Map[String, Column => Column] = {
    val str = (c: Column) => coalesce(c, lit(""))
    val zero = (c: Column) => coalesce(c, lit(0.0))
    val none = (c: Column) => coalesce(nullif(c, lit("")), lit("none"))
    Map(
      "unified_id" -> str, "shop_type" -> str, "title" -> str,
      "main_category" -> ((c: Column) => nullif(str(c), lit(""))),
      "brand" -> str, "image_url" -> str, "sales_unit_size" -> str,
      "quantity_amount" -> zero, "quantity_unit" -> str,
      "price_before_bonus" -> zero, "current_price" -> zero,
      "is_promotion" -> ((c: Column) => coalesce(c, lit(false))),
      "promotion_type" -> none, "promotion_mechanism" -> none,
      "is_active" -> ((c: Column) => coalesce(c, lit(true))))
  }

  /** The contract's columns in [[UnifiedProduct.schema]] order over `field`,
    * which gives a unified field by name (a frame's column, or an adapter's
    * expression for it); a field it does not give is a typed null. */
  private def template(field: String => Option[Column]): Seq[Column] =
    UnifiedProduct.schema.map { f =>
      val c = field(f.name).getOrElse(lit(null).cast(f.dataType))
      defaults.get(f.name).fold(c)(_(c)).as(f.name)
    }

  trait ShopAdapter {
    def shopType: String
    def schema: org.apache.spark.sql.types.StructType
    /** Rows to DROP (skip rules; count them for job stats before filtering). */
    def skip: Column
    /** Rows the transform rejects (validation errors thrown per row in the
      * reference); none by default. */
    def transformError: Column = lit(false)
    /** The kept raw rows plus the helper columns `fields` reads: one
      * projection per UDF island layer (an island and the inputs it reads
      * never share one), so each island is evaluated once per row. */
    protected def prepare(df: DataFrame): DataFrame
    /** The unified fields this shop derives, by name, as expressions over
      * `prepare`'s output; `quantity_amount` and `quantity_unit` are
      * required. */
    protected def fields: Map[String, Column]
    /** read → skip/validation filter → transform → template: one filter,
      * `prepare`'s projections, one projection for the fields. Every shop
      * adds its type, conversion factor 1 and its quantity as the
      * normalized quantity; CalculateFields derives the rest. */
    def unified(df: DataFrame): DataFrame = {
      val f = fields
      val common = Map(
        "shop_type" -> lit(shopType),
        "conversion_factor" -> lit(1.0),
        "normalized_quantity_amount" -> f("quantity_amount"),
        "normalized_quantity_unit" -> f("quantity_unit"))
      prepare(df.filter(!skip && !transformError)).select(template((f ++ common).get): _*)
    }
  }

  /** `_parsed`, the promo parse of `_mech` (the mechanism text) against
    * the base price `pbb` and current price `cp`; null when `_mech` is
    * empty. */
  private def withParsedPromo(df: DataFrame, pbb: Column, cp: Column): DataFrame =
    df.select(col("*"),
      when(col("_mech") =!= "", Udfs.parsePromo(col("_mech"), pbb, cp)).as("_parsed"))

  /** The parsed promotion's effective unit price when it gives a non-zero
    * one, else `otherwise`. */
  private def parsedPriceOr(otherwise: Column): Column = {
    val price = col("_parsed")("effective_unit_price")
    when(col("_mech") =!= "" && coalesce(price, lit(0.0)) =!= 0.0, price).otherwise(otherwise)
  }

  /** The mechanism, the parsed promotion's fields and the discount of the
    * shops whose promotion is free text (Jumbo, Aldi, Plus), for current
    * price `cp` against base price `pbb`. */
  private def parsedPromoFields(cp: Column, pbb: Column): Map[String, Column] = {
    val mech = col("_mech")
    val parsed = col("_parsed")
    Map(
      "promotion_mechanism" -> mech,
      "parsed_promotion_effective_unit_price" -> when(cp < pbb, cp),
      "parsed_promotion_required_quantity" -> when(mech =!= "", parsed("required_quantity")),
      "parsed_promotion_total_price" -> when(mech =!= "", parsed("total_promotion_price")),
      "parsed_promotion_is_multi_purchase_required" -> coalesce(when(mech =!= "",
        coalesce(parsed("is_multi_purchase_required"), lit(false))), lit(false)),
      "discount_absolute" -> when(cp < pbb && pbb > 0, pbb - cp),
      "discount_percentage" -> when(cp < pbb && pbb > 0, (pbb - cp) / pbb * 100))
  }

  /** AH — F1 (ah.ts:672-695) + T1/T8 (ah.ts:146-623). */
  object Ah extends ShopAdapter {
    val shopType = "AH"
    val schema = RawSchemas.ah

    val skip: Column =
      coalesce(col("isVirtualBundle"), lit(false)) ||
      coalesce(col("orderAvailabilityStatus"), lit("")) =!= "IN_ASSORTMENT" ||
      col("mainCategory") <=> "AH Voordeelshop" ||
      // `!priceBeforeBonus && !currentPrice`: null or 0 both falsy in JS
      (coalesce(col("priceBeforeBonus"), lit(0.0)) === 0.0 &&
        coalesce(col("currentPrice"), lit(0.0)) === 0.0)

    /** Transform-stage validation errors (thrown per-row in the reference →
      * error side-output here, ah.ts:199-262). */
    override val transformError: Column = {
      val hasStructuredPricing =
        coalesce(col("isBonus"), lit(false)) &&
        exists(coalesce(col("discountLabels"), array()),
          l => l("price").isNotNull || l("percentage").isNotNull || l("amount").isNotNull)
      val promoMissingPrice =
        coalesce(col("isBonus"), lit(false)) && !hasStructuredPricing &&
          col("priceBeforeBonus").isNull
      val noValidPrice =
        !hasStructuredPricing &&
        coalesce(col("priceBeforeBonus"), lit(0.0)) <= 0 &&
        (col("currentPrice").isNull || col("currentPrice") <= 0)
      promoMissingPrice || noValidPrice
    }

    private val pbb = coalesce(col("priceBeforeBonus"), lit(0.0))
    private val isPromo = coalesce(col("isBonus"), lit(false))
    private val sus = coalesce(nullif(col("salesUnitSize"), lit("")), lit("per stuk"))
    private val disc = col("_disc")
    /** current price: `product.currentPrice || priceBeforeBonus`, or the
      * structured promo price; non-positive falls back to priceBeforeBonus. */
    private val cp = {
      val base = when(coalesce(col("currentPrice"), lit(0.0)) =!= 0.0,
        col("currentPrice")).otherwise(pbb)
      val structured = disc("has_structured") && disc("effective_price").isNotNull
      val cp0 = when(isPromo && structured, disc("effective_price")).otherwise(base)
      when(cp0 <= 0, pbb).otherwise(cp0)
    }

    protected def prepare(df: DataFrame): DataFrame =
      df.select(col("*"),
          Udfs.ahStructuredDiscount(coalesce(col("discountLabels"), array().cast(
            RawSchemas.ah("discountLabels").dataType)), pbb, col("currentPrice")).as("_disc"),
          Udfs.normalizeCategory(
            col("title"), coalesce(col("mainCategory"), lit("")), lit(shopType)).as("_cat"),
          qtyUnit(sus).as("_unit"))

    protected def fields: Map[String, Column] = {
      val unit = col("_unit")
      // widest image (ah.ts:176-179): JS reduce keeps prev only when
      // strictly wider, so on ties the LAST max wins — exactly aggregate().
      val widest = when(size(col("images")) > 0,
        expr("aggregate(slice(images, 2, size(images)), images[0], " +
          "(acc, x) -> if(acc.width > x.width, acc, x)).url")).otherwise(lit(""))
      val mech = when(isPromo, coalesce(col("bonusMechanism"), lit(""))).otherwise(lit(""))
      // U6 (ah.ts:651-668): 'prijs per kg €3.98'
      val unitPriceRe = "(?i)prijs per (\\w+) €(\\d+(?:[.,]\\d+)?)"
      val upd = col("unitPriceDescription")
      Map(
        "unified_id" -> coalesce(col("webshopId").cast("string"), lit("unknown")),
        "title" -> col("title"),
        "main_category" -> col("_cat")("category"),
        "brand" -> coalesce(col("brand"), lit("")),
        "image_url" -> widest,
        "sales_unit_size" -> sus,
        "quantity_amount" -> qtyAmount(sus),
        "quantity_unit" -> unit,
        "default_quantity_amount" -> lit(1.0),
        "default_quantity_unit" -> unit,
        "price_before_bonus" -> pbb,
        "current_price" -> cp,
        "unit_price" -> when(upd.isNotNull,
          coalesce(regexp_replace(regexp_extract(upd, unitPriceRe, 2), ",", ".")
            .cast("double"), lit(0.0))),
        "unit_price_unit" -> when(upd.isNotNull,
          when(regexp_extract(upd, unitPriceRe, 1) =!= "",
            Udfs.normalizeUnit(regexp_extract(upd, unitPriceRe, 1)))
            .otherwise(lit(""))),
        "is_promotion" -> isPromo,
        "promotion_type" ->
          when(isPromo, coalesce(nullif(col("promotionType"), lit("")), lit("DISCOUNT")))
            .otherwise(lit("")),
        "promotion_mechanism" -> mech,
        "promotion_start_date" -> when(isPromo, col("bonusStartDate")),
        "promotion_end_date" -> when(isPromo, col("bonusEndDate")),
        "parsed_promotion_effective_unit_price" -> when(isPromo, cp),
        "parsed_promotion_required_quantity" -> disc("required_quantity"),
        "parsed_promotion_total_price" -> disc("total_price"),
        "parsed_promotion_is_multi_purchase_required" ->
          coalesce(disc("is_multi_purchase_required"), lit(false)),
        "discount_absolute" -> when(isPromo && pbb > 0 && cp < pbb, pbb - cp),
        "discount_percentage" -> when(isPromo && pbb > 0 && cp < pbb, (pbb - cp) / pbb * 100),
        "is_active" -> (col("orderAvailabilityStatus") === "IN_ASSORTMENT"))
    }
  }

  /** Jumbo — F2 (jumbo.ts:335-359) + T2 (jumbo.ts:117-273). Prices are cents. */
  object Jumbo extends ShopAdapter {
    val shopType = "JUMBO"
    val schema = RawSchemas.jumbo

    private val p = col("product")

    val skip: Column =
      p.isNull ||
      coalesce(trim(p("title")), lit("")) === "" ||
      coalesce(p("prices")("price"), lit(0L)) <= 0 ||
      p("inAssortment") <=> false ||
      (p("availability").isNotNull && p("availability")("isAvailable") <=> false)

    private val pbb = coalesce(p("prices")("price"), lit(0L)) / 100.0
    private val qtySrc = orElse(p("quantity"), p("subtitle"))
    private val mech = col("_mech")
    private val cp = when(coalesce(p("prices")("promoPrice"), lit(0L)) > 0,
      p("prices")("promoPrice") / 100.0).otherwise(parsedPriceOr(pbb))

    protected def prepare(df: DataFrame): DataFrame = {
      val promoTags = when(p("promotions").isNotNull && size(p("promotions")) > 0,
        array_join(flatten(transform_(p("promotions"),
          pr => coalesce(transform_(coalesce(pr("tags"),
            array().cast(org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("text",
                  org.apache.spark.sql.types.StringType)))))),
            t => t("text")), array()))), "; ")).otherwise(lit(""))
      withParsedPromo(df.select(col("*"), promoTags.as("_mech"),
          Udfs.normalizeCategory(
            p("title"), coalesce(p("category"), lit("")), lit(shopType)).as("_cat"),
          when(qtySrc.isNotNull, qtyUnit(qtySrc)).otherwise(lit("stuk")).as("_unit")),
        pbb, pbb)
    }

    protected def fields: Map[String, Column] = {
      val qtyAmt = when(qtySrc.isNotNull, qtyAmount(qtySrc)).otherwise(lit(1.0))
      val qtyU = col("_unit")
      Map(
        "unified_id" -> coalesce(p("id"), lit("unknown")),
        "title" -> p("title"),
        "main_category" -> col("_cat")("category"),
        "brand" -> orElse(p("brand"), element_at(split(p("title"), " "), 1), lit("")),
        "image_url" -> coalesce(p("image"), lit("")),
        "sales_unit_size" -> coalesce(qtySrc, lit("per stuk")),
        "quantity_amount" -> qtyAmt,
        "quantity_unit" -> qtyU,
        "default_quantity_amount" ->
          coalesce(p("quantityDetails")("defaultAmount").cast("double"), lit(1.0)),
        "default_quantity_unit" ->
          when(p("quantityDetails").isNotNull, lit("stuk")).otherwise(qtyU),
        "price_before_bonus" -> pbb,
        "current_price" -> cp,
        "unit_price" -> when(p("prices")("pricePerUnit").isNotNull,
          p("prices")("pricePerUnit")("price") / 100.0),
        "unit_price_unit" -> when(p("prices")("pricePerUnit").isNotNull,
          Udfs.normalizeUnit(coalesce(p("prices")("pricePerUnit")("unit"), lit("")))),
        "is_promotion" -> (p("promotions").isNotNull && size(p("promotions")) > 0),
        "promotion_type" -> when(mech =!= "",
          when(mech.contains("%"), lit("DISCOUNT_PERCENTAGE"))
            .otherwise(lit("DISCOUNT_AMOUNT"))).otherwise(lit("")),
        "is_active" -> (!(p("availability")("isAvailable") === false) &&
          !(p("inAssortment") === false))) ++ parsedPromoFields(cp, pbb)
    }

    // avoid clash with this file's DataFrame import of functions.transform
    private def transform_(c: Column, f: Column => Column): Column =
      org.apache.spark.sql.functions.transform(c, f)
  }

  /** Aldi — F3 (aldi.ts:421-432) + T3 (aldi.ts:77-226). String prices; the
    * current-ISO-week promo window depends on the run date, so `now` is
    * injected (SURVEY.md §7.4 risk 6). */
  final case class AldiAdapter(now: LocalDate) extends ShopAdapter {
    val shopType = "ALDI"
    val schema = RawSchemas.aldi

    val skip: Column =
      coalesce(col("isNotAvailable"), lit(false)) ||
      coalesce(col("isSoldOut"), lit(false)) ||
      col("mainCategory") <=> "cadeaukaarten"

    private val pbb = col("_pbb")
    private val cp = parsedPriceOr(pbb)
    private val isPromo = col("_isPromo")
    private val start = col("_start")

    protected def prepare(df: DataFrame): DataFrame = {
      // parsePrice (aldi.ts:325-337): price → priceFormatted stripped → 0.01
      val priceParsed = coalesce(
        when(col("price").cast("double") > 0, col("price").cast("double")),
        when(regexp_replace(regexp_replace(col("priceFormatted"), "[^0-9.,]", ""),
          ",", ".").cast("double") > 0,
          regexp_replace(regexp_replace(col("priceFormatted"), "[^0-9.,]", ""),
            ",", ".").cast("double")),
        lit(0.01))
      val oldP = col("oldPrice").cast("double")

      // determinePromotions (aldi.ts:339-385)
      val pctOff = round((oldP - priceParsed) / oldP * 100).cast("int")
      val promo =
        when(col("oldPrice").isNotNull && col("oldPrice") =!= col("price"), lit(true))
        .when(coalesce(trim(col("priceReduction")), lit("")) =!= "", lit(true))
        .when(coalesce(trim(col("priceInfo")), lit("")) =!= "", lit(true))
        .when(col("mainCategory") === "discount", lit(true))
        .otherwise(lit(false))
      val promoMech =
        when(col("oldPrice").isNotNull && col("oldPrice") =!= col("price"),
          when(oldP > 0 && priceParsed > 0 && oldP > priceParsed,
            concat(lit("-"), pctOff.cast("string"), lit("%")))
            .otherwise(concat(lit("Was €"), format_string("%.2f", oldP))))
        .when(coalesce(trim(col("priceReduction")), lit("")) =!= "", col("priceReduction"))
        .when(coalesce(trim(col("priceInfo")), lit("")) =!= "", col("priceInfo"))
        .when(col("mainCategory") === "discount", lit("Weekaanbieding"))
        .otherwise(lit(""))

      // formatPromotionDate (aldi.ts:259-294): ISO passthrough or Unix ms
      val rawDate = col("promotionDetails")("promotionDate")
      val startParsed =
        when(rawDate.rlike("^\\d{4}-\\d{2}-\\d{2}$"), rawDate)
          .when(rawDate.cast("long") > 0,
            date_format(timestamp_millis(rawDate.cast("long")), "yyyy-MM-dd"))

      val initialCat = orElse(col("mainCategory"),
        when(col("articleId").isNotNull && size(split(col("articleId"), "/")) > 1,
          array_join(slice(split(col("articleId"), "/"), lit(1),
            size(split(col("articleId"), "/")) - 1), "/"))
          .otherwise(lit("Uncategorized")),
        lit("Uncategorized"))

      // quantity (aldi.ts:296-323)
      val suMatch = regexp_extract(col("salesUnit"), "(\\d+(?:[.,]\\d+)?)\\s*(\\w+\\.?)", 0)
      val sdValue = regexp_extract(col("shortDescription"),
        "(?i)(\\d+(?:[.,]\\d+)?\\s*(ml|g|kg|l))", 1)
      val sdParts = split(sdValue, " ")
      val qAmt =
        when(col("salesUnit").isNotNull && suMatch =!= "",
          regexp_replace(regexp_extract(col("salesUnit"),
            "(\\d+(?:[.,]\\d+)?)\\s*(\\w+\\.?)", 1), ",", ".").cast("double"))
        .when(sdValue =!= "" && size(sdParts) >= 2,
          regexp_replace(element_at(sdParts, 1), ",", ".").cast("double"))
        .otherwise(lit(1.0))
      val qUnitRaw =
        when(col("salesUnit").isNotNull && suMatch =!= "",
          regexp_extract(col("salesUnit"), "(\\d+(?:[.,]\\d+)?)\\s*(\\w+\\.?)", 2))
        .when(sdValue =!= "" && size(sdParts) >= 2, element_at(sdParts, 2))
      val qUnit = when(qUnitRaw.isNotNull, Udfs.normalizeUnit(qUnitRaw)).otherwise(lit("stuk"))

      withParsedPromo(df.select(col("*"), promoMech.as("_mech"),
          when(col("oldPrice").isNotNull, oldP).otherwise(priceParsed).as("_pbb"),
          promo.as("_isPromo"), startParsed.as("_start"),
          Udfs.normalizeCategory(col("title"), initialCat, lit(shopType)).as("_cat"),
          qAmt.as("_qty"), qUnit.as("_unit")),
        pbb, pbb)
    }

    protected def fields: Map[String, Column] = {
      val promoType =
        when(col("oldPrice").isNotNull && col("oldPrice") =!= col("price"),
          lit("PRICE_REDUCTION"))
        .when(coalesce(trim(col("priceReduction")), lit("")) =!= "", lit("PRICE_REDUCTION"))
        .when(coalesce(trim(col("priceInfo")), lit("")) =!= "", lit("PRICE_INFO"))
        .when(col("mainCategory") === "discount", lit("WEEKLY_OFFER"))
        .otherwise(lit(""))

      val monday = now.`with`(DayOfWeek.MONDAY)
      val weekStart = lit(monday.toString)
      val weekEnd = lit(monday.plusDays(6).toString)
      val qAmt = col("_qty")
      val qUnit = col("_unit")

      val hasBasePrice = col("basePriceValue").isNotNull && col("basePriceValue") =!= 0.0 &&
        coalesce(col("basePriceFormatted"), lit("")) =!= ""
      val weekly = isPromo || col("mainCategory") === "discount"
      Map(
        "unified_id" -> coalesce(col("articleNumber"), lit("unknown")),
        "title" -> col("title"),
        "main_category" -> col("_cat")("category"),
        "brand" -> coalesce(trim(col("brandName")), lit("")),
        "image_url" -> coalesce(col("primaryImage")("baseUrl"), lit("")),
        "sales_unit_size" -> coalesce(nullif(col("salesUnit"), lit("")),
          concat(qAmt.cast("string"), lit(" "), qUnit)),
        "quantity_amount" -> qAmt,
        "quantity_unit" -> qUnit,
        "default_quantity_amount" -> lit(1.0),
        "default_quantity_unit" -> qUnit,
        "price_before_bonus" -> pbb,
        "current_price" -> cp,
        "unit_price" -> when(hasBasePrice, col("basePriceValue")),
        "unit_price_unit" ->
          when(hasBasePrice && regexp_extract(col("basePriceFormatted"), "/([a-zA-Z]+)", 1) =!= "",
            Udfs.normalizeUnit(regexp_extract(col("basePriceFormatted"), "/([a-zA-Z]+)", 1))),
        "is_promotion" -> isPromo,
        "promotion_type" -> promoType,
        "promotion_start_date" -> coalesce(start, when(weekly, weekStart)),
        "promotion_end_date" -> when(start.isNull && weekly, weekEnd),
        "is_active" -> (!coalesce(col("isNotAvailable"), lit(false)) &&
          !coalesce(col("isSoldOut"), lit(false)))) ++ parsedPromoFields(cp, pbb)
    }
  }

  /** Fresh adapter per access: the ISO-week promotion window derives from
    * `now`, so a long-running driver must not pin the class-load date (the
    * reference computes the current week per run). Callers needing a fixed
    * clock construct `AldiAdapter(date)` directly (tests do); the
    * constructor takes no default, so wall-clock is opt-in via this
    * accessor only. */
  def Aldi: AldiAdapter = AldiAdapter(LocalDate.now)

  /** Plus — F4 (plus.ts:388-395) + T4 (plus.ts:86-267). String prices,
    * '1900-01-01' sentinel dates, Packging (sic) fallback. */
  object Plus extends ShopAdapter {
    val shopType = "PLUS"
    val schema = RawSchemas.plus

    private val p = col("PLP_Str")

    val skip: Column =
      p.isNull || !coalesce(p("IsAvailable"), lit(false))

    /** Required-field check (plus.ts:269-289) → error side-output. */
    override val transformError: Column =
      p("SKU").isNull || coalesce(p("SKU"), lit("")) === "" ||
      p("Name").isNull || coalesce(p("Name"), lit("")) === "" ||
      p("OriginalPrice").isNull || coalesce(p("OriginalPrice"), lit("")) === "" ||
      p("Categories").isNull

    private val rawPbb = coalesce(p("OriginalPrice").cast("double"), lit(0.0))
    private val isPromo = p("PromotionLabel").isNotNull &&
      (p("PromotionStartDate").isNull || p("PromotionStartDate") =!= "1900-01-01") &&
      (p("PromotionEndDate").isNull || p("PromotionEndDate") =!= "1900-01-01")
    private val pbb = col("_pbb")
    private val cp = parsedPriceOr(col("_icp"))

    protected def prepare(df: DataFrame): DataFrame = {
      val newP = p("NewPrice").cast("double")
      val initialCp0 =
        when(p("NewPrice").isNotNull && newP.isNotNull && newP > 0, newP).otherwise(rawPbb)
      val initialCp = when(initialCp0 === 0 && rawPbb > 0, rawPbb).otherwise(initialCp0)
      val initialCat = p("Categories")("List").getItem(0)("Name")
      // quantity cascade (plus.ts:291-340)
      val subAmtRaw = regexp_extract(p("Product_Subtitle"),
        "(?i)Per\\s+(\\d+(?:[.,]\\d+)?)\\s*(\\w+)", 1)
      val subUnitRaw = regexp_extract(p("Product_Subtitle"),
        "(?i)Per\\s+(\\d+(?:[.,]\\d+)?)\\s*(\\w+)", 2)
      val slugAmtRaw = regexp_extract(p("Slug"), "-(\\d+(?:[.,]\\d+)?)-([a-zA-Z]+)", 1)
      val slugUnitRaw = regexp_extract(p("Slug"), "-(\\d+(?:[.,]\\d+)?)-([a-zA-Z]+)", 2)
      val qAmt =
        when(p("Product_Subtitle").isNotNull && subAmtRaw =!= "",
          regexp_replace(subAmtRaw, ",", ".").cast("double"))
        .when(p("Slug").isNotNull && slugAmtRaw =!= "",
          regexp_replace(slugAmtRaw, ",", ".").cast("double"))
        .otherwise(lit(1.0))
      val qUnit =
        when(p("Product_Subtitle").isNotNull && subAmtRaw =!= "",
          Udfs.normalizeUnit(subUnitRaw))
        .when(p("Slug").isNotNull && slugAmtRaw =!= "", Udfs.normalizeUnit(slugUnitRaw))
        .when(p("Packging").isNotNull, Udfs.normalizeUnit(p("Packging")))
        .otherwise(lit("stuk"))

      withParsedPromo(df.select(col("*"),
          when(isPromo, coalesce(p("PromotionLabel"), lit(""))).otherwise(lit("")).as("_mech"),
          rawPbb.as("_pbb"), initialCp.as("_icp"),
          when(initialCat.isNotNull,
            Udfs.normalizeCategory(p("Name"), initialCat, lit(shopType))("category")).as("_cat"),
          qAmt.as("_qty"), qUnit.as("_unit")),
        pbb, col("_icp"))
    }

    protected def fields: Map[String, Column] = {
      val qAmt = col("_qty")
      val qUnit = col("_unit")
      // calculateUnitPrice (plus.ts:342-384) on the NORMALIZED unit
      val upRaw =
        when(qUnit === "g", rawPbb / qAmt * 1000)
        .when(qUnit === "ml", rawPbb / qAmt * 1000)
        .otherwise(rawPbb / qAmt)
      val upUnit =
        when(qUnit === "g", lit("kg")).when(qUnit === "ml", lit("l")).otherwise(qUnit)
      val upValid = rawPbb > 0 && qAmt > 0 && !(qAmt === 1 && qUnit === "stuk")

      Map(
        "unified_id" -> p("SKU"),
        "title" -> p("Name"),
        "main_category" -> col("_cat"),
        "brand" -> orElse(p("Brand"), element_at(split(p("Name"), " "), 1)),
        "image_url" -> coalesce(p("ImageURL"), lit("")),
        "sales_unit_size" -> when(coalesce(trim(p("Product_Subtitle")), lit("")) =!= "",
          regexp_replace(p("Product_Subtitle"), "(?i)^Per\\s+", ""))
          .otherwise(concat(qAmt.cast("string"), lit(" "), qUnit)),
        "quantity_amount" -> qAmt,
        "quantity_unit" -> qUnit,
        "default_quantity_amount" -> lit(1.0),
        "default_quantity_unit" -> qUnit,
        "price_before_bonus" -> pbb,
        "current_price" -> cp,
        "unit_price" -> when(upValid, round(upRaw, 2)),
        "unit_price_unit" -> when(upValid, upUnit),
        "is_promotion" -> isPromo,
        "promotion_type" -> when(isPromo, lit("DISCOUNT")).otherwise(lit("")),
        "promotion_start_date" -> when(isPromo, p("PromotionStartDate")),
        "promotion_end_date" -> when(isPromo, p("PromotionEndDate")),
        "is_active" -> p("IsAvailable")) ++ parsedPromoFields(cp, pbb)
    }
  }

  def all: Seq[ShopAdapter] = Seq(Ah, Jumbo, Aldi, Plus)

  /** Kruidvat: scraped upstream but intentionally unimplemented in the
    * reference (database-processor-adapter.ts:151-152) — same explicit error. */
  def forShop(shopType: String): ShopAdapter = shopType.toUpperCase match {
    case "AH" => Ah
    case "JUMBO" => Jumbo
    case "ALDI" => Aldi
    case "PLUS" => Plus
    case "KRUIDVAT" =>
      throw new UnsupportedOperationException("Kruidvat processor not implemented")
    case other => throw new IllegalArgumentException(s"Unknown shop type: $other")
  }
}
