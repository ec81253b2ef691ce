package graft.etl

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Specs for sinks, sources helpers, analytics, and the job controller. */
class SinksJobsSpec extends SparkSpec {

  private val jumboRow =
    """{"product":{"id":"123","title":"Test Product","brand":"Jumbo",
      |"category":"zuivel","subtitle":"500 g","image":"x.jpg",
      |"prices":{"price":199},"inAssortment":true}}""".stripMargin.replace("\n", "")

  private def jumboRaw = {
    import spark.implicits._
    spark.read.schema(Shops.Jumbo.schema).json(spark.createDataset(Seq(jumboRow)))
  }

  test("runShopJob captures observe() counters and timings") {
    val r = Jobs.runShopJob(spark, Shops.Jumbo, jumboRaw, "job-1")(_.count())
    assert(r.status == "completed")
    assert(r.nRows == 1)
    assert(r.nPromotions == 0)
    assert(r.nInactive == 0)
    assert(r.shopType == "JUMBO")
    assert(r.finishedAtMs >= r.startedAtMs)
  }

  test("runShopJob keeps its own counters when its write runs a nested job") {
    import spark.implicits._
    val twoRaw = spark.read.schema(Shops.Jumbo.schema).json(spark.createDataset(
      Seq(jumboRow, jumboRow.replace("\"123\"", "\"124\""))))
    var inner: Jobs.JobResult = null
    val outer = Jobs.runShopJob(spark, Shops.Jumbo, jumboRaw, "outer") { df =>
      df.count()
      inner = Jobs.runShopJob(spark, Shops.Jumbo, twoRaw, "inner")(_.count())
    }
    assert(inner.status == "completed" && inner.nRows == 2)
    assert(outer.status == "completed")
    assert(outer.nRows == 1)
  }

  test("runShopJob lets an interrupt propagate instead of recording a failed job") {
    intercept[InterruptedException] {
      Jobs.runShopJob(spark, Shops.Jumbo, jumboRaw, "interrupted")(_ =>
        throw new InterruptedException("stop"))
    }
    val failed = Jobs.runShopJob(spark, Shops.Jumbo, jumboRaw, "failed")(_ =>
      throw new IllegalStateException("sink down"))
    assert(failed.status == "failed: sink down")
  }

  test("mergeSql generates the reference-shaped MERGE") {
    val sql = Sinks.mergeSql("processed.products", "stage", Seq("shop_type", "external_id"),
      Seq("title", "current_price"))
    assert(sql.contains("MERGE INTO processed.products t USING stage s"))
    assert(sql.contains("t.\"shop_type\" = s.\"shop_type\" AND t.\"external_id\" = s.\"external_id\""))
    assert(sql.contains("WHEN MATCHED THEN UPDATE SET \"title\" = s.\"title\", \"current_price\" = s.\"current_price\""))
    assert(sql.contains("WHEN NOT MATCHED THEN INSERT"))
  }

  test("writeVersioned rotates backups") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sink").toString + "/out"
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    Sinks.writeVersioned(df, dir)
    Sinks.writeVersioned(df.withColumn("v", lit("c")), dir)
    assert(spark.read.parquet(dir).select("v").collect().map(_.getString(0)).toSet == Set("c"))
    val parent = new java.io.File(dir).getParentFile
    assert(parent.listFiles().count(_.getName.startsWith("out.bak-")) == 1)
  }

  test("writeVersioned JSON rows carry every contract field, nulls included") {
    val dir = java.nio.file.Files.createTempDirectory("sink").toString + "/json"
    Sinks.writeVersioned(Pipeline.process(Shops.Jumbo, jumboRaw), dir, "json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val lines = spark.read.textFile(dir).collect()
    assert(lines.nonEmpty)
    lines.foreach { line =>
      assert(mapper.readTree(line).fieldNames().asScala.toSeq ==
        graft.model.UnifiedProduct.requiredFields)
    }
  }

  test("fieldPresenceReport covers all 32 contract fields") {
    val unified = Pipeline.process(Shops.Jumbo, jumboRaw)
    val report = Sinks.fieldPresenceReport(unified)
    assert(report.columns.toSeq == graft.model.UnifiedProduct.requiredFields)
    val row = report.collect().head
    assert(row.getAs[Double]("title") == 100.0)
    assert(row.getAs[Double]("unit_price") == 0.0) // no pricePerUnit in fixture
  }

  test("withMlCategory drives the cascade through a broadcast prediction dim") {
    import spark.implicits._
    val products = Seq(("Magere melk 1L", "volstrekt onbekend 123"))
      .toDF("title", "main_category")
    val preds = Seq(("Magere melk 1L", "Zuivel, eieren", 0.95))
      .toDF("title", "category", "confidence")
    val out = Sources.withMlCategory(products, Sources.mlPredictionsFrom(preds), "JUMBO").collect().head
    assert(out.getAs[String]("main_category") == "Zuivel, eieren, boter")
    assert(out.getAs[String]("category_mapping_method") == "ml")
  }

  test("analytics: enricher score, price comparison, promo share") {
    val unified = Pipeline.process(Shops.Jumbo, jumboRaw)
    val scored = unified.withColumn("escore", Analytics.enricherScore).collect().head
    // complete product except unit_price-ish optionals: no deductions
    assert(scored.getAs[Double]("escore") == 100.0)
    val pc = Analytics.priceComparison(unified).collect().head
    assert(pc.getAs[Long]("n") == 1)
    assert(pc.getAs[Long]("b_lt_2") == 1)
    val pa = Analytics.promotionAnalysis(unified).collect().head
    assert(pa.getAs[Double]("promo_pct") == 0.0)
  }

  test("writeProcessedTable partitions by shop and buckets by id") {
    val unified = Pipeline.process(Shops.Jumbo, jumboRaw)
    spark.sql("DROP TABLE IF EXISTS processed_test")
    // a previously-aborted run can leave the managed location behind
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("spark-warehouse/processed_test"))
    Sinks.writeProcessedTable(unified, "processed_test", buckets = 4)
    val desc = spark.sql("DESCRIBE EXTENDED processed_test").collect()
      .map(r => r.getString(0) + " " + r.getString(1)).mkString("\n")
    assert(desc.contains("# Partition Information"))
    assert(desc.contains("Num Buckets 4"))
    assert(desc.contains("Bucket Columns [`unified_id`]"))
    assert(spark.table("processed_test").count() == 1)
    spark.sql("DROP TABLE processed_test")
  }

  test("compact rewrites a fragmented parquet dir to few files, data intact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/t"
    // 64 tiny part files
    (1L to 10000L).toDF("id").repartition(64).write.parquet(dir)
    def partFiles = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(partFiles == 64)
    val n = Sinks.compact(spark, dir, targetBytes = 128L << 20)
    assert(n == 1 && partFiles == 1)
    val back = spark.read.parquet(dir).as[Long].collect().sorted
    assert(back.toSeq == (1L to 10000L))
    assert(!new java.io.File(dir + ".compact-old").exists())
    assert(!new java.io.File(dir + ".compact-staging").exists())
  }

  test("gateInputs drops missing/tiny files") {
    val tmp = java.nio.file.Files.createTempDirectory("gate")
    val good = tmp.resolve("good.json")
    java.nio.file.Files.writeString(good, """[{"a":1}]""")
    val tiny = tmp.resolve("tiny.json")
    java.nio.file.Files.writeString(tiny, "[]")
    val gated = Sources.gateInputs(spark, Map(
      "AH" -> good.toString, "JUMBO" -> tiny.toString,
      "ALDI" -> tmp.resolve("missing.json").toString))
    assert(gated.keySet == Set("AH"))
  }

  test("jsonFieldProfile: key coverage, optional fields, malformed separated") {
    import spark.implicits._
    val raw = Seq(
      """{"a":1,"b":"x"}""", """{"a":2}""", """{"a":3,"c":true}""",
      "not json at all", "").toDF("raw_data")
    val out = Sources.jsonFieldProfile(raw, "raw_data")
      .collect().map(r => r.getAs[String]("key") ->
        (r.getAs[Long]("n_present"), r.getAs[Long]("n_docs"),
         r.getAs[Long]("n_malformed"), r.getAs[Long]("presence_bp"))).toMap
    assert(out.keySet == Set("a", "b", "c"))
    assert(out("a") == (3L, 3L, 2L, 10000L))
    assert(out("b") == (1L, 3L, 2L, 3333L))
    assert(out("c") == (1L, 3L, 2L, 3333L))
  }
}
