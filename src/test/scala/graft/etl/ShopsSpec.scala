package graft.etl

import org.apache.spark.sql.{DataFrame, Row}
import graft.SparkSpec

/** Shop-adapter golden tests mirroring the reference's jest fixtures
  * (jumbo.test.ts / aldi.test.ts / plus.test.ts shapes; AH is pinned via the
  * structured-discount truth table since the reference has no ah.test.ts). */
class ShopsSpec extends SparkSpec {

  private def readJson(adapter: Shops.ShopAdapter, rows: String*): DataFrame = {
    import spark.implicits._
    spark.read.schema(adapter.schema).json(spark.createDataset(rows))
  }

  private def one(df: DataFrame): Row = { val r = df.collect(); assert(r.length == 1); r.head }
  private def get[T](r: Row, f: String): T = r.getAs[T](f)

  test("readShopJsonLines routes malformed records to the error side") {
    val dir = java.nio.file.Files.createTempDirectory("corrupt").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/in.json"),
      jumboBase + "\n" +
        """{"product":{"id":"7","title":"Half""" + "\n" +  // truncated JSON
        jumboBase.replace("\"123\"", "\"456\""))
    val (good, bad) = Pipeline.readShopJsonLines(spark, Shops.Jumbo, s"$dir/in.json")
    assert(good.count() == 2)
    assert(good.select("product.id").collect().map(_.getString(0)).sorted
      .toSeq == Seq("123", "456"))
    val badRows = bad.collect().map(_.getString(0))
    assert(badRows.length == 1 && badRows.head.contains("\"Half"))
    // the bad side feeds the K4 error sink shape
    val errs = Sinks.errorRows(
      bad.withColumn("unified_id", org.apache.spark.sql.functions.lit("unparsed")),
      org.apache.spark.sql.functions.lit(true), "PARSE_ERROR", "error", "job-1")
    assert(errs.count() == 1)
    assert(errs.collect().head.getAs[String]("error_type") == "PARSE_ERROR")
  }

  test("readShopJsonLines drops blank and space-only lines: neither a good nor a K4 row") {
    val dir = java.nio.file.Files.createTempDirectory("blank").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/in.json"),
      jumboBase + "\n   \n\n" + jumboBase.replace("\"123\"", "\"456\"") + "\n \n")
    val (good, bad) = Pipeline.readShopJsonLines(spark, Shops.Jumbo, s"$dir/in.json")
    assert(good.count() == 2)
    assert(bad.count() == 0)
  }

  test("readShopJson reads a multiLine JSON-array file through the adapter") {
    val dir = java.nio.file.Files.createTempDirectory("array").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/in.json"),
      "[\n  " + jumboBase + ",\n  " +
        jumboBase.replace("\"123\"", "\"456\"").replace("199", "249") + "\n]\n")
    val out = Pipeline.process(Shops.Jumbo,
      Pipeline.readShopJson(spark, Shops.Jumbo, s"$dir/in.json"))
    val rows = out.orderBy("unified_id").collect()
    assert(rows.map(get[String](_, "unified_id")).toSeq == Seq("123", "456"))
    assert(rows.map(get[Double](_, "current_price")).toSeq == Seq(1.99, 2.49))
    assert(out.columns.toSeq == graft.model.UnifiedProduct.requiredFields)
  }

  // ---- Jumbo ----

  private val jumboBase =
    """{"product":{"id":"123","title":"Test Product","brand":"Jumbo",
      |"category":"Groenten & Fruit","subtitle":"500 g",
      |"prices":{"price":199,"pricePerUnit":{"price":398,"unit":"kg"}},
      |"inAssortment":true,"availability":{"isAvailable":true}}}""".stripMargin.replace("\n", "")

  test("jumbo: cents → euros, unit price, quantity from subtitle") {
    val out = one(Pipeline.process(Shops.Jumbo, readJson(Shops.Jumbo, jumboBase)))
    assert(get[Double](out, "price_before_bonus") == 1.99)
    assert(get[Double](out, "current_price") == 1.99)
    assert(get[Double](out, "unit_price") == 3.98)
    assert(get[String](out, "unit_price_unit") == "kg")
    assert(get[Double](out, "quantity_amount") == 500.0)
    assert(get[String](out, "quantity_unit") == "g")
    // calculateFields: 500 g → 0.5 kg, price per kg = 1.99/0.5
    assert(get[Double](out, "conversion_factor") == 0.5)
    assert(get[Double](out, "price_per_standard_unit") == 3.98)
    assert(get[String](out, "shop_type") == "JUMBO")
    assert(!get[Boolean](out, "is_promotion"))
    assert(get[String](out, "promotion_mechanism") == "none")
  }

  test("jumbo: promo tags concatenated with '; ', promo parse drives price") {
    val promo =
      """{"product":{"id":"9","title":"Promo Product","category":"zuivel",
        |"prices":{"price":400},
        |"promotions":[{"tags":[{"text":"2 voor 3.00"}]}],
        |"inAssortment":true}}""".stripMargin.replace("\n", "")
    val out = one(Pipeline.process(Shops.Jumbo, readJson(Shops.Jumbo, promo)))
    assert(get[Boolean](out, "is_promotion"))
    assert(get[String](out, "promotion_mechanism") == "2 voor 3.00")
    assert(get[Double](out, "current_price") == 1.5)
    assert(get[Double](out, "parsed_promotion_required_quantity") == 2.0)
    assert(get[Double](out, "parsed_promotion_total_price") == 3.0)
    assert(get[Boolean](out, "parsed_promotion_is_multi_purchase_required"))
    assert(get[Double](out, "discount_absolute") == 2.5)
    assert(get[Double](out, "discount_percentage") == 62.5)
  }

  test("jumbo: promoPrice overrides parsed mechanism price") {
    val promo =
      """{"product":{"id":"9","title":"P","category":"zuivel",
        |"prices":{"price":400,"promoPrice":299},
        |"promotions":[{"tags":[{"text":"bonus"}]}],"inAssortment":true}}"""
        .stripMargin.replace("\n", "")
    val out = one(Pipeline.process(Shops.Jumbo, readJson(Shops.Jumbo, promo)))
    assert(get[Double](out, "current_price") == 2.99)
  }

  test("jumbo: brand fallback = first word of title") {
    val noBrand =
      """{"product":{"id":"5","title":"Becel light","category":"zuivel",
        |"prices":{"price":100},"inAssortment":true}}""".stripMargin.replace("\n", "")
    val out = one(Pipeline.process(Shops.Jumbo, readJson(Shops.Jumbo, noBrand)))
    assert(get[String](out, "brand") == "Becel")
  }

  test("jumbo skip rules") {
    val bad = Seq(
      """{"product":{"id":"1","title":"","prices":{"price":100},"inAssortment":true}}""",
      """{"product":{"id":"2","title":"T","prices":{"price":0},"inAssortment":true}}""",
      """{"product":{"id":"3","title":"T","prices":{"price":100},"inAssortment":false}}""",
      """{"product":{"id":"4","title":"T","prices":{"price":100},"availability":{"isAvailable":false}}}""")
    val df = readJson(Shops.Jumbo, (bad :+ jumboBase): _*)
    assert(Pipeline.process(Shops.Jumbo, df).count() == 1)
  }

  // ---- AH ----

  private val ahBase =
    """{"webshopId":123456,"title":"AH Halfvolle melk","salesUnitSize":"500 gram",
      |"unitPriceDescription":"prijs per kg €3.98",
      |"images":[{"url":"small.jpg","width":200},{"url":"large.jpg","width":800}],
      |"mainCategory":"Zuivel, eieren","brand":"AH","priceBeforeBonus":2.99,
      |"currentPrice":2.99,"orderAvailabilityStatus":"IN_ASSORTMENT"}"""
      .stripMargin.replace("\n", "")

  test("ah: widest image, unit price description, category normalization") {
    val out = one(Pipeline.process(Shops.Ah, readJson(Shops.Ah, ahBase)))
    assert(get[String](out, "image_url") == "large.jpg")
    assert(get[Double](out, "unit_price") == 3.98)
    assert(get[String](out, "unit_price_unit") == "kg")
    assert(get[String](out, "main_category") == "Zuivel, eieren, boter")
    assert(get[String](out, "unified_id") == "123456")
    assert(get[Double](out, "quantity_amount") == 500.0)
    assert(get[String](out, "quantity_unit") == "g")
    assert(get[Double](out, "current_price") == 2.99)
  }

  test("ah: structured X_FOR_Y discount drives current price; AH bypasses text parse") {
    val promo =
      """{"webshopId":7,"title":"Cola","salesUnitSize":"1.5 l","mainCategory":"Frisdrank",
        |"priceBeforeBonus":2.0,"currentPrice":2.0,"isBonus":true,
        |"bonusMechanism":"2 voor 4.00","orderAvailabilityStatus":"IN_ASSORTMENT",
        |"discountLabels":[{"code":"DISCOUNT_X_FOR_Y","count":2,"price":3.0}]}"""
        .stripMargin.replace("\n", "")
    val out = one(Pipeline.process(Shops.Ah, readJson(Shops.Ah, promo)))
    assert(get[Double](out, "current_price") == 1.5)
    // calculateFields AH branch: effective = current_price, required defaults
    // come from the structured label (count=2) in the transform
    assert(get[Double](out, "parsed_promotion_effective_unit_price") == 1.5)
    assert(get[Double](out, "parsed_promotion_required_quantity") == 1.0) // AH branch resets to 1
    assert(get[Double](out, "discount_absolute") == 0.5)
    assert(get[Double](out, "discount_percentage") == 25.0)
  }

  test("ah: percentage label") {
    val promo =
      """{"webshopId":8,"title":"Kaas","priceBeforeBonus":4.0,"currentPrice":4.0,
        |"isBonus":true,"orderAvailabilityStatus":"IN_ASSORTMENT",
        |"discountLabels":[{"code":"DISCOUNT_PERCENTAGE","percentage":25}]}"""
        .stripMargin.replace("\n", "")
    val out = one(Pipeline.process(Shops.Ah, readJson(Shops.Ah, promo)))
    assert(get[Double](out, "current_price") == 3.0)
  }

  test("ah skip rules: virtual bundle, assortment, Voordeelshop, no prices") {
    val rows = Seq(
      """{"webshopId":1,"title":"A","isVirtualBundle":true,"priceBeforeBonus":1.0,"orderAvailabilityStatus":"IN_ASSORTMENT"}""",
      """{"webshopId":2,"title":"B","priceBeforeBonus":1.0,"orderAvailabilityStatus":"OUT"}""",
      """{"webshopId":3,"title":"C","mainCategory":"AH Voordeelshop","priceBeforeBonus":1.0,"orderAvailabilityStatus":"IN_ASSORTMENT"}""",
      """{"webshopId":4,"title":"D","orderAvailabilityStatus":"IN_ASSORTMENT"}""",
      ahBase)
    assert(Pipeline.process(Shops.Ah, readJson(Shops.Ah, rows: _*)).count() == 1)
  }

  // ---- Aldi ----

  test("aldi: oldPrice promo → computed -N% mechanism, week window injected") {
    val now = java.time.LocalDate.of(2026, 8, 12) // a Wednesday
    val aldi = Shops.AldiAdapter(now)
    val row =
      """{"articleNumber":"A1","title":"Chocolade","price":"1.99","oldPrice":"2.99",
        |"mainCategory":"snoep","salesUnit":"200 g"}""".stripMargin.replace("\n", "")
    val out = one(Pipeline.process(aldi, readJson(aldi, row)))
    assert(get[Boolean](out, "is_promotion"))
    assert(get[String](out, "promotion_type") == "PRICE_REDUCTION")
    assert(get[String](out, "promotion_mechanism") == "-33%")
    assert(get[Double](out, "price_before_bonus") == 2.99)
    // '-33%' parses as PERCENTAGE_DISCOUNT: 2.99 * 0.67 = 2.0033 → 2.0
    assert(get[Double](out, "current_price") == 2.0)
    assert(get[String](out, "promotion_start_date") == "2026-08-10") // Monday
    assert(get[String](out, "promotion_end_date") == "2026-08-16")   // Sunday
  }

  test("aldi: price fallbacks and quantity from shortDescription") {
    val row =
      """{"articleNumber":"A2","title":"Sap","priceFormatted":"€ 1,49",
        |"shortDescription":"Fles 750 ml appelsap","mainCategory":"frisdrank"}"""
        .stripMargin.replace("\n", "")
    val out = one(Pipeline.process(Shops.Aldi, readJson(Shops.Aldi, row)))
    assert(get[Double](out, "price_before_bonus") == 1.49)
    assert(get[Double](out, "quantity_amount") == 750.0)
    assert(get[String](out, "quantity_unit") == "ml")
    assert(get[Double](out, "conversion_factor") == 0.75)
  }

  test("aldi: unix-ms promotion date") {
    val row =
      """{"articleNumber":"A3","title":"X","price":"1.00","oldPrice":"2.00",
        |"mainCategory":"discount",
        |"promotionDetails":{"promotionDate":"1757376000000"}}""".stripMargin.replace("\n", "")
    val out = one(Pipeline.process(Shops.Aldi, readJson(Shops.Aldi, row)))
    assert(get[String](out, "promotion_start_date") == "2025-09-09")
  }

  test("aldi skip: unavailable/sold out/gift cards") {
    val rows = Seq(
      """{"articleNumber":"B1","title":"X","price":"1.00","isNotAvailable":true}""",
      """{"articleNumber":"B2","title":"X","price":"1.00","isSoldOut":true}""",
      """{"articleNumber":"B3","title":"X","price":"1.00","mainCategory":"cadeaukaarten"}""",
      """{"articleNumber":"B4","title":"X","price":"1.00","mainCategory":"zuivel"}""")
    assert(Pipeline.process(Shops.Aldi, readJson(Shops.Aldi, rows: _*)).count() == 1)
  }

  // ---- Plus ----

  test("plus: subtitle quantity, computed unit price per kg") {
    val row =
      """{"PLP_Str":{"SKU":"P1","Name":"Plus Gehakt","OriginalPrice":"4.50",
        |"Product_Subtitle":"Per 500 g","IsAvailable":true,
        |"Categories":{"List":[{"Name":"vlees"}]}}}""".stripMargin.replace("\n", "")
    val out = one(Pipeline.process(Shops.Plus, readJson(Shops.Plus, row)))
    assert(get[Double](out, "price_before_bonus") == 4.5)
    assert(get[Double](out, "quantity_amount") == 500.0)
    assert(get[String](out, "quantity_unit") == "g")
    assert(get[Double](out, "unit_price") == 9.0) // 4.50/500*1000 per kg
    assert(get[String](out, "unit_price_unit") == "kg")
    assert(get[String](out, "sales_unit_size") == "500 g") // 'Per ' stripped
    assert(get[String](out, "main_category") == "Vlees, vis")
  }

  test("plus: 1900-01-01 sentinel suppresses promotion") {
    val promo =
      """{"PLP_Str":{"SKU":"P2","Name":"Koek","OriginalPrice":"2.00","NewPrice":"1.50",
        |"PromotionLabel":"25% korting","PromotionStartDate":"2026-08-01",
        |"PromotionEndDate":"2026-08-31","IsAvailable":true,
        |"Categories":{"List":[{"Name":"snoep"}]}}}""".stripMargin.replace("\n", "")
    val sentinel = promo.replace("2026-08-01", "1900-01-01")
    val outPromo = one(Pipeline.process(Shops.Plus, readJson(Shops.Plus, promo)))
    assert(get[Boolean](outPromo, "is_promotion"))
    assert(get[Double](outPromo, "current_price") == 1.5) // 25% korting on 2.00
    val outNone = one(Pipeline.process(Shops.Plus, readJson(Shops.Plus, sentinel)))
    assert(!get[Boolean](outNone, "is_promotion"))
    assert(get[Double](outNone, "current_price") == 1.5) // NewPrice kept
  }

  test("plus: slug quantity fallback") {
    val row =
      """{"PLP_Str":{"SKU":"P3","Name":"Melk","OriginalPrice":"1.00",
        |"Slug":"melk-1000-ml-fles","IsAvailable":true,
        |"Categories":{"List":[{"Name":"zuivel"}]}}}""".stripMargin.replace("\n", "")
    val out = one(Pipeline.process(Shops.Plus, readJson(Shops.Plus, row)))
    assert(get[Double](out, "quantity_amount") == 1000.0)
    assert(get[String](out, "quantity_unit") == "ml")
    assert(get[Double](out, "unit_price") == 1.0) // per liter
    assert(get[String](out, "unit_price_unit") == "l")
  }

  test("plus skip + required-field error rows") {
    val rows = Seq(
      """{"PLP_Str":{"SKU":"S1","Name":"X","OriginalPrice":"1.00","IsAvailable":false,"Categories":{"List":[{"Name":"c"}]}}}""",
      """{"BadgeQuantity":"2"}""",
      """{"PLP_Str":{"SKU":"S3","Name":"X","IsAvailable":true}}""", // missing price+categories
      """{"PLP_Str":{"SKU":"S4","Name":"X","OriginalPrice":"1.00","IsAvailable":true,"Categories":{"List":[{"Name":"c"}]}}}""")
    assert(Pipeline.process(Shops.Plus, readJson(Shops.Plus, rows: _*)).count() == 1)
  }

  // ---- cross-cutting ----

  test("unified output has exactly the 32 contract fields in order") {
    val out = Pipeline.process(Shops.Jumbo, readJson(Shops.Jumbo, jumboBase))
    assert(out.columns.toSeq == graft.model.UnifiedProduct.requiredFields)
  }

  test("dedupe keeps the highest quality score per unified_id") {
    import org.apache.spark.sql.functions._
    val a = readJson(Shops.Jumbo, jumboBase) // has image? no → lower score
    val richer = jumboBase.replace("\"subtitle\":\"500 g\"",
      "\"subtitle\":\"500 g\",\"image\":\"x.jpg\"")
    val b = readJson(Shops.Jumbo, richer)
    val both = Quality.withScore(CalculateFields(
      Shops.Jumbo.unified(a.union(b))))
    val kept = Dedupe.keepBest(both).collect()
    assert(kept.length == 1)
    assert(kept.head.getAs[String]("image_url") == "x.jpg")
  }
}
