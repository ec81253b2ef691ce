package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.AnalyzedFrames
import org.apache.spark.sql.types.StructType

/** The end-to-end per-shop dataflow (SURVEY.md §3.1):
  * read → skip-filter → transform → calculateFields → quality → dedup →
  * strip internals → sink, with `observe()` metrics replacing the
  * reference's job counters (§2.13).
  */
object Pipeline {

  /** S1: whole-file JSON scan with the shop's schema (multiLine array files,
    * base.ts:98-100). */
  def readShopJson(spark: SparkSession, adapter: Shops.ShopAdapter, path: String): DataFrame =
    spark.read.schema(adapter.schema).option("multiLine", true).json(path)

  /** S1 + K4: line-delimited scan that ROUTES malformed records instead of
    * silently nulling them (the reference rejects per-product and keeps a
    * processing_errors row, base.ts error path / postgres-adapter
    * processing_errors): read lines as text, `from_json` with the shop
    * schema plus a corrupt-record column (PERMISSIVE partially parses a
    * malformed line, so struct-is-null is NOT a reliable signal; the
    * corrupt column is), split into (good, bad) — bad carries the raw
    * line for the K4 error sink. Stateless column expressions, so no
    * cache pinning, and the SPARK-38523 corrupt-column restriction
    * doesn't apply to expression-level from_json; materializing both
    * halves scans the (cheap, text) source twice.
    *
    * The parse sits in a `Generate` (`inline` over the one-struct array),
    * so each line is parsed once: filters on the parsed columns — the
    * corrupt check, the adapters' skip and validation rules — stay above
    * it. Over a plain projection the optimizer would push each filter
    * beneath it with its own `from_json` copy, one more parse per copy. */
  def readShopJsonLines(spark: SparkSession, adapter: Shops.ShopAdapter,
      path: String): (DataFrame, DataFrame) = {
    val corrupt = "_corrupt_record"
    val schema = adapter.schema.add(corrupt, org.apache.spark.sql.types.StringType)
    val opts = Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> corrupt)
    val parsed = spark.read.text(path)
      .filter(trim(col("value")) =!= "")
      .select(col("value").as("raw_record"),
        inline(array(from_json(col("value"), schema, opts))))
    val good = parsed.filter(col(corrupt).isNull).drop(corrupt, "raw_record")
    val bad = parsed.filter(col(corrupt).isNotNull).select(col("raw_record"))
    (good, bad)
  }

  /** The full transform DAG for one shop's raw DataFrame.
    *
    * Its analysis depends on the adapter, the input's schema and the
    * session's SQL conf, not on the job. So the DAG is analysed once per
    * session and key, over a placeholder relation of the input's schema
    * (a [[Template]]), and every call, the first one included, swaps the
    * placeholder for the job's own analysed input plan: the analyzer never
    * walks the pipeline's steps again. The result equals a fresh analysis
    * up to generated names and ids. Batch input only, as the dedup window
    * requires. */
  def process(adapter: Shops.ShopAdapter, raw: DataFrame): DataFrame = {
    require(!raw.isStreaming,
      "Pipeline.process needs a batch input: the keep-best dedup window does not run on a stream")
    val input = raw.queryExecution.analyzed
    AnalyzedFrames(raw.sparkSession, Templates(raw.sparkSession, adapter, input.schema).bind(input))
  }

  /** `process`'s DAG over `placeholder`, analysed. */
  private final case class Template(placeholder: LocalRelation, analyzed: LogicalPlan) {
    /** The analysed DAG over `input`, which has the placeholder's schema. No
      * node is added: the placeholder is replaced and the attributes above
      * it are renumbered to the input's. */
    def bind(input: LogicalPlan): LogicalPlan = analyzed.transformUpWithNewOutput {
      case r: LocalRelation if r.output.map(_.exprId) == placeholder.output.map(_.exprId) =>
        (input, r.output.zip(input.output))
    }
  }

  /** Templates per session (weakly held, so a stopped session is not kept
    * alive; a template holds no session), each session's an LRU of at most
    * `perSession` entries keyed by adapter, input schema and SQL conf, so a
    * conf change never meets a stale plan. Two threads missing the same key
    * at once both build it; the first one stored wins. */
  private object Templates {
    private val perSession = 32
    private type Key = (Shops.ShopAdapter, StructType, Map[String, String])
    private val sessions =
      new java.util.WeakHashMap[SparkSession, java.util.LinkedHashMap[Key, Template]]

    private def lru(spark: SparkSession) = sessions.computeIfAbsent(spark, _ =>
      new java.util.LinkedHashMap[Key, Template](16, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[Key, Template]): Boolean =
          size() > perSession
      })

    def apply(spark: SparkSession, adapter: Shops.ShopAdapter, schema: StructType): Template = {
      val key = (adapter, schema, spark.conf.getAll)
      Option(sessions.synchronized(lru(spark).get(key))).getOrElse {
        val placeholder = LocalRelation(DataTypeUtils.toAttributes(schema))
        val dag = Dedupe.keepBest(CalculateFields(adapter.unified(AnalyzedFrames(spark, placeholder))))
        val built = Template(placeholder, dag.queryExecution.analyzed)
        sessions.synchronized(Option(lru(spark).putIfAbsent(key, built)).getOrElse(built))
      }
    }
  }

  /** All shops → one unioned unified DataFrame (§2.12: unionByName). */
  def processAll(spark: SparkSession, inputs: Map[String, DataFrame]): DataFrame =
    inputs.map { case (shop, raw) => process(Shops.forShop(shop), raw) }
      .reduce(_ unionByName _)

  /** S4 — scraper-result ingestion (transform-products-for-db.js:22-52):
    * explode the products array, drop the session field, content-hash the
    * full canonical JSON (Spark's to_json canonicalizes struct field order;
    * only hash-equality semantics matter, X5). */
  def ingestScrape(results: DataFrame, productsCol: String = "products",
      sessionFields: Seq[String] = Seq("auctionId")): DataFrame = {
    val exploded = results.select(explode(col(productsCol)).as("product"))
    val cleaned = sessionFields.foldLeft(exploded) { (df, f) =>
      if (df.select(col("product.*")).columns.contains(f))
        df.withColumn("product", col("product").dropFields(f))
      else df
    }
    cleaned.withColumn("content_hash", sha2(to_json(col("product")), 256))
  }

  /** J3 — changed-row detection before MERGE (postgres-adapter.ts:177-185):
    * left-anti join the incoming batch against the target on
    * (shop_type, unified_id, content_hash); only rows whose hash changed
    * (or are new) flow to the upsert. At scale both sides hash-partition on
    * the same key — one shuffle each, no broadcast needed for the big side. */
  def changedRows(incoming: DataFrame, existing: DataFrame): DataFrame = {
    val keyed = incoming.withColumn("content_hash",
      sha2(concat_ws("|",
        col("title"), col("current_price"), col("brand"),
        col("quantity_amount"), col("quantity_unit")), 256))
    keyed.join(existing.select(col("shop_type"), col("unified_id"), col("content_hash")),
      Seq("shop_type", "unified_id", "content_hash"), "left_anti")
  }
}
