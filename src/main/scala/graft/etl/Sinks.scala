package graft.etl

import java.sql.Connection
import scala.util.Using

import org.apache.spark.sql.{DataFrame, Observation, SaveMode}
import org.apache.spark.sql.functions._

/** Sinks (SURVEY.md §2.2 K1–K5).
  *
  * K1 file sink: plain `write.json/parquet` with versioned backup dirs.
  * K2/K3 upserts: the reference's `INSERT … ON CONFLICT DO UPDATE`
  * (postgres-adapter.ts:172-251, 637-788) becomes stage-to-temp + MERGE
  * executed over JDBC — the scalable shape: executors write the batch in
  * parallel, one driver-side MERGE moves it atomically.
  * K4 error sink: append-mode side-output.
  * K5 reports: small aggregates collected and formatted driver-side.
  */
object Sinks {

  /** K1 — unified JSON/parquet sink with backup rotation: the current dir
    * is renamed to `<dir>.bak-<n>` before overwrite (output.ts:47-110's
    * backup behavior, directory-versioned instead of file-versioned). */
  def writeVersioned(df: DataFrame, dir: String, format: String = "parquet",
      keepBackups: Int = 2): Unit = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) {
      // zero-padded wall-clock stamp (nanoTime's origin is per-JVM-arbitrary
      // and would misorder across restarts); a same-millisecond collision
      // appends a disambiguator rather than silently failing the rename
      val base = dir + f".bak-${System.currentTimeMillis()}%016d"
      var stamped = new org.apache.hadoop.fs.Path(base)
      var i = 0
      while (fs.exists(stamped)) {
        i += 1; stamped = new org.apache.hadoop.fs.Path(s"$base-$i")
      }
      require(fs.rename(path, stamped), s"backup rename to $stamped failed")
      // prune old backups beyond keepBackups, oldest first by filesystem
      // mtime — robust against mixed naming schemes from older versions
      // (a name sort would order legacy unpadded stamps after new ones and
      // delete the freshest backup)
      val parent = path.getParent
      val backups = fs.listStatus(parent)
        .filter(_.getPath.getName.startsWith(path.getName + ".bak-"))
        .sortBy(_.getModificationTime)
      backups.dropRight(keepBackups).foreach(b => fs.delete(b.getPath, true))
    }
    // JSON keeps null fields, so every row carries the whole contract
    // (parquet ignores the option)
    df.write.format(format).mode(SaveMode.Overwrite)
      .option("ignoreNullFields", "false").save(dir)
  }

  /** K2/K3 — MERGE statement for the staging/processed upserts. Key columns
    * mirror the reference's conflict targets: staging (shop_type,
    * external_id); processed (shop_type, external_id, schema_version). */
  def mergeSql(target: String, staging: String, keyCols: Seq[String],
      updateCols: Seq[String], nowExpr: String = "now()"): String = {
    // identifiers quoted: Spark's JDBC writer creates the staging table with
    // quoted (case-exact) column names, so the MERGE must match them
    def q(id: String) = "\"" + id + "\""
    val on = keyCols.map(k => s"t.${q(k)} = s.${q(k)}").mkString(" AND ")
    val sets = (updateCols.map(c => s"${q(c)} = s.${q(c)}") :+
      s"${q("updated_at")} = $nowExpr").mkString(", ")
    val insertCols = (keyCols ++ updateCols).map(q).mkString(", ")
    val insertVals = (keyCols ++ updateCols).map(c => "s." + q(c)).mkString(", ")
    s"""MERGE INTO $target t USING $staging s ON ($on)
       |WHEN MATCHED THEN UPDATE SET $sets
       |WHEN NOT MATCHED THEN INSERT ($insertCols) VALUES ($insertVals)""".stripMargin
  }

  /** K2/K3 executed: stage the batch via parallel JDBC append, then run one
    * MERGE transactionally. `connect` is injected so tests can use an
    * embedded DB and prod can pool. `stagingSuffix` disambiguates the
    * staging table when several writers (a streaming sink's micro-batches,
    * a concurrent batch job) target the same table — without it a second
    * writer's Overwrite would clobber the first's staged rows mid-MERGE. */
  def jdbcUpsert(batch: DataFrame, jdbcUrl: String, props: java.util.Properties,
      target: String, keyCols: Seq[String], nowExpr: String = "now()",
      connect: String => Connection = java.sql.DriverManager.getConnection,
      stagingSuffix: String = ""): Unit = {
    val staging = target.replace('.', '_') + "_stage" + stagingSuffix
    batch.write.mode(SaveMode.Overwrite).jdbc(jdbcUrl, staging, props)
    val updateCols = batch.columns.filterNot(keyCols.contains).toSeq
    Using.resource(connect(jdbcUrl)) { conn =>
      conn.setAutoCommit(false)
      try {
        Using.resource(conn.createStatement())(
          _.execute(mergeSql(target, staging, keyCols, updateCols, nowExpr)))
        conn.commit()
      } catch {
        case e: Throwable =>
          // roll back before the close: closing a connection mid-transaction
          // throws, and that error would replace the MERGE's own
          try conn.rollback() catch { case r: Throwable => e.addSuppressed(r) }
          throw e
      }
    }
  }

  /** Storage layout for the processed table (SURVEY.md §4: the reference's
    * DB indexes become partitioning + bucketing): partition by shop_type
    * (partition pruning for per-shop queries) and bucket by unified_id so
    * repeated joins/merges on the natural key are co-located — no shuffle
    * on either side once both tables are bucketed. */
  def writeProcessedTable(unified: DataFrame, table: String,
      buckets: Int = 64): Unit =
    unified.write
      .mode(SaveMode.Overwrite)
      .partitionBy("shop_type")
      .bucketBy(buckets, "unified_id")
      .sortBy("unified_id")
      .format("parquet")
      .saveAsTable(table)

  /** Small-file compaction for a fragmented parquet dir (the 100 TB
    * operational chore incremental sinks leave behind: thousands of
    * KB-sized part files whose open/footer cost dominates later scans).
    * Rewrites the dir to ⌈bytes / targetBytes⌉ files via a staging dir +
    * two renames; the data is byte-identical (no ordering guarantee —
    * parquet dirs have none).
    *
    * Caller contract — this is a QUIESCED-dir operation:
    *   - Writers must be stopped for the dir being compacted. A file
    *     appended between the listing and the rename pair would be moved
    *     aside and deleted with the old generation (plain parquet dirs
    *     have no log to reconcile against; compacting under live writers
    *     needs a table format like Delta/Iceberg).
    *   - The swap is two renames, not one atomic operation: a reader that
    *     lists the dir in the instant between them sees a missing path
    *     and should retry. On failure the old generation is restored. */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
      targetBytes: Long = 128L << 20): Int = {
    // normalize via Path so a trailing slash can't nest the staging dir
    // inside the dir being renamed
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def sibling(suffix: String) =
      new org.apache.hadoop.fs.Path(path.getParent, path.getName + suffix)
    val bytes = fs.getContentSummary(path).getLength
    val parts = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val staging = sibling(".compact-staging")
    fs.delete(staging, true)
    spark.read.parquet(path.toString).repartition(parts)
      .write.mode(SaveMode.Overwrite).parquet(staging.toString)
    val old = sibling(".compact-old")
    fs.delete(old, true)
    if (!fs.rename(path, old))
      throw new java.io.IOException(s"compact: cannot move $path aside")
    if (!fs.rename(staging, path)) {
      fs.rename(old, path) // roll back
      throw new java.io.IOException(s"compact: cannot publish $staging")
    }
    fs.delete(old, true)
    parts
  }

  /** K4 — error side-output: shaped like processing_errors
    * (init-processor-schema.sql:69-82). */
  def errorRows(df: DataFrame, errorPredicate: org.apache.spark.sql.Column,
      errorType: String, severity: String, jobId: String): DataFrame =
    df.filter(errorPredicate).select(
      lit(jobId).as("job_id"),
      col("unified_id").as("product_id"),
      lit(errorType).as("error_type"),
      lit(severity).as("severity"),
      current_timestamp().as("created_at"))

  // ---------- K5 reports (driver-side formatting of small aggregates) ----------

  /** A13 — error grouping with k examples (base.ts:626-667). The
    * reference keeps the first k in arrival order; distributed
    * collect_list order is nondeterministic, so the engine's analog is
    * the k SMALLEST product_ids (sort_array then slice) — deterministic
    * across runs, partitionings, and engines, which is what makes the
    * report diffable between pipeline runs at all. */
  def errorReport(errors: DataFrame, k: Int = 5): DataFrame =
    errors.groupBy(col("error_type"))
      .agg(count(lit(1)).as("n"),
        slice(sort_array(collect_list(col("product_id"))), 1, k)
          .as("examples"))
      .orderBy(col("n").desc, col("error_type"))

  /** A12 — schema-version stats (postgres-adapter.ts:1004-1023). */
  def schemaVersionStats(processed: DataFrame): DataFrame =
    processed.withColumn("schema_version",
        coalesce(col("schema_version"), lit(graft.model.UnifiedProduct.CurrentSchemaVersion)))
      .groupBy(col("schema_version"), col("shop_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("schema_version"), col("shop_type"))

  /** A16 — structure drift: per-field presence rates over the 32-field
    * contract (structure-validator.ts:128-210). */
  def fieldPresenceReport(unified: DataFrame): DataFrame = {
    val presence = graft.model.UnifiedProduct.requiredFields.map(f =>
      round(avg(when(col(f).isNotNull, 1).otherwise(0)) * 100, 2).as(f))
    unified.agg(presence.head, presence.tail: _*)
  }

  /** A14 — run summary via observe(): counters collected without a second
    * pass over the data (replaces the reference's in-memory job counters).
    * Returns the observed DataFrame; read the metrics from `observation`
    * after an action over it. */
  def withRunCounters(unified: DataFrame,
      observation: Observation = Observation("run_summary")): DataFrame =
    unified.observe(observation,
      count(lit(1)).as("n_rows"),
      count(when(col("is_promotion"), 1)).as("n_promotions"),
      count(when(!col("is_active"), 1)).as("n_inactive"),
      count(when(col("main_category").isNull, 1)).as("n_uncategorized"))
}
