package graft.etl

import graft.SparkSpec

class GenericAdapterSpec extends SparkSpec {

  private def raw(rows: (String, String)*) = {
    import spark.implicits._
    rows.toDF("id", "raw_data")
  }

  test("field-name coalescing maps arbitrary raw JSON into the 32-field contract") {
    val df = GenericAdapter.unified(raw(
      "r1" -> """{"name":"Fallback Naam","originalPrice":"2.49","price":1.99,
                 |"imageUrl":"http://x/i.jpg","quantity":"500","unit":"g",
                 |"promotion":"yes"}""".stripMargin.replace("\n", "")),
      "KRUIDVAT", "run1")
    import spark.implicits._
    import graft.model.UnifiedProduct
    assert(df.columns.toSeq == UnifiedProduct.requiredFields)
    assert(df.schema.map(f => (f.name, f.dataType)) ==
      UnifiedProduct.schema.map(f => (f.name, f.dataType)))
    // a null in a non-Option field fails the decode
    assert(df.as[UnifiedProduct].collect().length == 1)
    val r = df.collect().head
    assert(r.getAs[String]("unified_id") == "KRUIDVAT_r1_run1")
    assert(r.getAs[String]("title") == "Fallback Naam")
    assert(r.getAs[Double]("price_before_bonus") == 2.49)
    assert(r.getAs[Double]("current_price") == 1.99)
    assert(r.getAs[String]("image_url") == "http://x/i.jpg")
    assert(r.getAs[Double]("quantity_amount") == 500.0)
    assert(r.getAs[String]("quantity_unit") == "g")
    assert(r.getAs[Boolean]("is_promotion"))
    assert(r.getAs[Boolean]("is_active")) // default true
  }

  test("defaults and falsy handling match JS semantics") {
    val df = GenericAdapter.unified(raw(
      "r2" -> """{"is_active":false,"is_promotion":false,"discount":0}"""),
      "AH", "run1")
    val r = df.collect().head
    assert(r.getAs[String]("title") == "Unknown Product")
    assert(r.getAs[String]("brand") == "Unknown")
    assert(r.getAs[Double]("quantity_amount") == 1.0)
    assert(r.getAs[String]("quantity_unit") == "piece")
    assert(!r.getAs[Boolean]("is_promotion")) // false/0 are falsy
    assert(!r.getAs[Boolean]("is_active"))    // explicit false
    assert(r.getAs[String]("promotion_type") == "none")
  }

  test("external id cascade per shop") {
    import org.apache.spark.sql.functions._
    val df = raw("r3" -> """{"articleNumber":"A77"}""")
      .withColumn("unified_id", lit("fallback"))
    val aldi = df.select(GenericAdapter.externalId("aldi").as("e")).collect().head.getString(0)
    assert(aldi == "A77")
    val plus = df.select(GenericAdapter.externalId("plus").as("e")).collect().head.getString(0)
    assert(plus == "fallback")
  }
}
