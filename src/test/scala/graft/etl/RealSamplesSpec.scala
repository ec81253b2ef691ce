package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Integration run over the reference's REAL scraped product samples
  * (read-only at /root/reference; nothing is copied into this repo —
  * the spec cancels cleanly when the mount is absent). This is the
  * messy-real-world check the synthetic fixtures can't give: optional
  * fields missing, odd unit strings, promo text variety.
  */
class RealSamplesSpec extends SparkSpec {

  private val base = "/root/reference/infrastructure/shared-data/results"

  private def sample(prefix: String): Option[String] = {
    val dir = new java.io.File(base)
    if (!dir.isDirectory) None
    else dir.listFiles().map(_.getName).find(_.startsWith(prefix)).map(base + "/" + _)
  }

  private def checkUnified(out: DataFrame, minRows: Int): Unit = {
    val rows = out.cache()
    val n = rows.count()
    assert(n >= minRows, s"expected at least $minRows unified rows, got $n")
    assert(rows.columns.toSeq == graft.model.UnifiedProduct.requiredFields)
    // contract invariants over real data
    assert(rows.filter(col("unified_id").isNull || col("unified_id") === "").count() == 0)
    assert(rows.filter(col("current_price") < 0).count() == 0)
    assert(rows.filter(col("quantity_amount") <= 0).count() == 0)
    assert(rows.filter(col("conversion_factor") <= 0).count() == 0)
    // every resolved category is inside the 26-category space
    val cats = rows.select("main_category").distinct().collect()
      .flatMap(r => Option(r.getString(0)))
    assert(cats.forall(graft.functions.Categories.finalCategories.contains),
      s"unexpected categories: ${cats.filterNot(graft.functions.Categories.finalCategories.contains).mkString(", ")}")
    rows.unpersist()
  }

  test("AH adapter digests the real 1000-product scrape") {
    val path = sample("ah_scrape")
    assume(path.isDefined, "reference samples not mounted")
    val raw = Pipeline.readShopJson(spark, Shops.Ah, path.get)
    checkUnified(Pipeline.process(Shops.Ah, raw), minRows = 500)
  }

  test("Jumbo adapter digests the real scrape") {
    val path = sample("jumbo_scrape")
    assume(path.isDefined, "reference samples not mounted")
    val raw = Pipeline.readShopJson(spark, Shops.Jumbo, path.get)
    checkUnified(Pipeline.process(Shops.Jumbo, raw), minRows = 50)
  }

  test("Aldi adapter digests the real scrape") {
    val path = sample("aldi_scrape")
    assume(path.isDefined, "reference samples not mounted")
    val raw = Pipeline.readShopJson(spark, Shops.Aldi, path.get)
    checkUnified(Pipeline.process(Shops.Aldi, raw), minRows = 50)
  }

  test("cross-shop union + reporting stack over all real samples") {
    assume(new java.io.File(base).isDirectory, "reference samples not mounted")
    val envelope = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("product", Shops.Plus.schema)))
    val unified = Pipeline.processAll(spark, Map(
      "AH" -> Pipeline.readShopJson(spark, Shops.Ah, sample("ah_scrape").get),
      "JUMBO" -> Pipeline.readShopJson(spark, Shops.Jumbo,
        sample("jumbo_scrape").get),
      "ALDI" -> Pipeline.readShopJson(spark, Shops.Aldi,
        sample("aldi_scrape").get),
      "PLUS" -> spark.read.schema(envelope).option("multiLine", true)
        .json(sample("plus_scrape").get).select("product.*"))).cache()
    assert(unified.select("shop_type").distinct().count() == 4)
    // reporting stack runs end to end on real data
    val price = Analytics.priceComparison(unified).collect()
    assert(price.length == 4 && price.forall(_.getAs[Long]("n") > 0))
    val quality = Quality.report(unified).collect().head
    assert(quality.getAs[Double]("avg_score") >= 50.0)
    val vs = Validation.summary(unified).collect().head
    assert(vs.getAs[Long]("n_rows") == unified.count())
    assert(vs.getAs[Long]("required_id") == 0)    // no id failures on real data
    assert(vs.getAs[Long]("required_title") == 0)
    val dist = Analytics.categoryDistribution(unified).collect()
    assert(dist.length > 3) // real data spreads across categories
    unified.unpersist()
  }

  test("Plus adapter digests the real scrape (unwrapping the crawl envelope)") {
    val path = sample("plus_scrape")
    assume(path.isDefined, "reference samples not mounted")
    // crawl rows are {product: {PLP_Str, BadgeQuantity}, scraped_at, ...}
    val envelope = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("product", Shops.Plus.schema)))
    val raw = spark.read.schema(envelope).option("multiLine", true).json(path.get)
      .select("product.*")
    checkUnified(Pipeline.process(Shops.Plus, raw), minRows = 50)
  }
}
