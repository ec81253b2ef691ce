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

  test("jobStats: per-shop job count, completions, rows and success rate") {
    import spark.implicits._
    val jobs = Seq(
      Jobs.JobResult("j1", "AH", "completed", 10, 0, 0, 0, 0, 1),
      Jobs.JobResult("j2", "AH", "failed: sink down", 0, 0, 0, 0, 0, 1),
      Jobs.JobResult("j3", "JUMBO", "completed", 3, 0, 0, 0, 0, 1),
      Jobs.JobResult("j4", "JUMBO", "completed", 4, 0, 0, 0, 0, 1)).toDF()
    val out = Jobs.jobStats(jobs).collect().map(r =>
      (r.getAs[String]("shopType"), r.getAs[Long]("n_jobs"),
        r.getAs[Long]("n_completed"), r.getAs[Long]("total_rows"),
        r.getAs[Double]("success_rate")))
    assert(out.toSeq == Seq(("AH", 2L, 1L, 10L, 50.0),
      ("JUMBO", 2L, 2L, 7L, 100.0)))
  }

  test("mappingMethodStats counts rows per category mapping method") {
    import spark.implicits._
    val rows = Seq("direct", "ml", "direct", "fuzzy", "ml", "direct")
      .toDF("category_mapping_method")
    val out = Analytics.mappingMethodStats(rows).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(out.toSeq == Seq("direct" -> 3L, "ml" -> 2L, "fuzzy" -> 1L))
  }

  test("mlPredictions reads the dimension from JSON and from parquet") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("preds")
    java.nio.file.Files.writeString(dir.resolve("preds.json"),
      """{"title":"Magere melk 1L","category":"Zuivel, eieren","confidence":1}""")
    Seq(("Magere melk 1L", "Zuivel, eieren", 0.95))
      .toDF("title", "category", "confidence")
      .write.parquet(dir.resolve("preds.parquet").toString)
    val products = Seq(("Magere melk 1L", "volstrekt onbekend 123"))
      .toDF("title", "main_category")
    for ((file, conf) <- Seq("preds.json" -> 1.0, "preds.parquet" -> 0.95)) {
      val preds = Sources.mlPredictions(spark, dir.resolve(file).toString)
      assert(preds.columns.toSeq == Seq("title", "ml_category", "ml_confidence"))
      assert(preds.collect().map(r => (r.getString(0), r.getString(1),
        r.getDouble(2))).toSeq == Seq(("Magere melk 1L", "Zuivel, eieren", conf)))
      val out = Sources.withMlCategory(products, preds, "JUMBO").collect().head
      assert(out.getAs[String]("category_mapping_method") == "ml", file)
    }
  }

  test("rawProducts pushes its predicates into the JDBC scan and splits it by partition column") {
    val url = "jdbc:derby:memory:rawdb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.execute("CREATE SCHEMA raw")
    st.execute("""CREATE TABLE raw.products ("id" INT NOT NULL PRIMARY KEY,
      "shop_type" VARCHAR(16), "job_id" VARCHAR(16), "scraped_at" TIMESTAMP)""")
    st.execute("""INSERT INTO raw.products VALUES
      (1, 'AH', 'j1', '2024-01-01 10:00:00'), (2, 'AH', 'j2', '2024-03-01 10:00:00'),
      (3, 'JUMBO', 'j1', '2024-03-01 10:00:00'), (4, 'AH', 'j1', '2024-03-05 10:00:00'),
      (5, 'ALDI', 'j3', '2024-03-06 10:00:00'), (6, 'AH', 'j1', '2024-02-01 10:00:00'),
      (7, 'AH', 'j1', '2024-04-01 10:00:00')""")
    st.close(); conn.close()

    def read(partitioning: Option[(String, Long, Long, Int)]) =
      Sources.rawProducts(spark, url, new java.util.Properties(),
        shopType = Some("AH"), jobId = Some("j1"),
        scrapedAfter = Some(java.sql.Timestamp.valueOf("2024-02-15 00:00:00")),
        partitioning = partitioning)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getInt(0)).sorted.toSeq

    val whole = read(None)
    assert(ids(whole) == Seq(4, 7))
    // the filters the JDBC source evaluates itself, in its WHERE clause
    val pushed = whole.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.RowDataSourceScanExec => s.handledFilters
    }.get
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual}
    assert(pushed.contains(EqualTo("shop_type", "AH")), pushed)
    assert(pushed.contains(EqualTo("job_id", "j1")), pushed)
    assert(pushed.exists {
      case GreaterThanOrEqual("scraped_at", _) => true
      case _ => false
    }, pushed)
    val split = read(Some(("id", 1L, 8L, 3)))
    assert(split.rdd.getNumPartitions == 3)
    assert(ids(split) == Seq(4, 7))
  }
}
