package perfbench

import java.sql.{DriverManager, Types}
import java.time.LocalDate
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects, JdbcType}
import org.apache.spark.sql.types._
import graft.etl.{Jobs, Pipeline, Sinks}

/** etl_jobs: the reference's job model, many small jobs. Each job goes
  * through `Jobs.runShopJob`; its write callback runs `Pipeline.changedRows`
  * against the processed table and `Sinks.jdbcUpsert` into in-memory Derby.
  * Fixed costs per job dominate: planning, scheduling, the observed-metrics
  * wait, JDBC staging and the MERGE. */
object EtlJobs {
  val table = "products"
  val stage = "products_stage"
  val keyCols = Seq("shop_type", "unified_id")

  /** Derby column type of each processed-table column. */
  private def sqlType(t: DataType): JdbcType = t match {
    case StringType => JdbcType("VARCHAR(512)", Types.VARCHAR)
    case DoubleType => JdbcType("DOUBLE", Types.DOUBLE)
    case BooleanType => JdbcType("BOOLEAN", Types.BOOLEAN)
    case other => sys.error(s"no Derby type for $other")
  }

  /** Spark's built-in Derby dialect maps strings to CLOB, both for the
    * staging table's columns and for the type of a bound NULL; CLOBs cannot
    * be compared in the MERGE's ON clause and a CLOB NULL cannot go into a
    * VARCHAR column. The processed table is VARCHAR, so strings are too. */
  object DerbyVarchar extends JdbcDialect {
    override def canHandle(url: String): Boolean = url.startsWith("jdbc:derby")
    override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
      case StringType => Some(sqlType(StringType))
      case _ => None
    }
  }

  final class Db(val url: String, schema: StructType) {
    val props = new java.util.Properties()

    def sql[T](f: java.sql.Statement => T): T = {
      val c = DriverManager.getConnection(url)
      try { val st = c.createStatement(); try f(st) finally st.close() } finally c.close()
    }
    def count(t: String): Long = sql { st =>
      val rs = st.executeQuery(s"SELECT COUNT(*) FROM $t"); rs.next(); rs.getLong(1)
    }
    def create(): Unit = sql { st =>
      val cols = schema.fields.map { f =>
        val q = "\"" + f.name + "\""
        if (keyCols.contains(f.name)) s"$q VARCHAR(64) NOT NULL"
        else s"$q ${sqlType(f.dataType).databaseTypeDefinition}"
      } :+ "\"updated_at\" TIMESTAMP"
      st.execute(s"CREATE TABLE $table (${cols.mkString(", ")}, PRIMARY KEY (" +
        keyCols.map("\"" + _ + "\"").mkString(", ") + "))")
    }
    /** Batch-inserts rows shaped like `schema` into the processed table. */
    def load(rows: Seq[org.apache.spark.sql.Row]): Unit = {
      val c = DriverManager.getConnection(url)
      try {
        val cols = schema.fields.map("\"" + _.name + "\"").mkString(", ")
        val ps = c.prepareStatement(s"INSERT INTO $table ($cols) VALUES (" +
          schema.fields.map(_ => "?").mkString(", ") + ")")
        rows.foreach { row =>
          schema.fields.indices.foreach { i =>
            if (row.isNullAt(i)) ps.setNull(i + 1, sqlType(schema.fields(i).dataType).jdbcNullType)
            else ps.setObject(i + 1, row.get(i))
          }
          ps.addBatch()
        }
        ps.executeBatch()
        ps.close()
      } finally c.close()
    }
    def drop(): Unit =
      try DriverManager.getConnection(url.replace(";create=true", ";drop=true")).close()
      catch { case _: java.sql.SQLException => () } // Derby reports a drop as an exception
  }

  def run(r: Run): Unit = {
    JdbcDialects.registerDialect(DerbyVarchar)
    val spark = r.spark
    val man = r.manifest
    val aldiDate = LocalDate.parse(man.get("aldi_date").asText)
    def adapter(s: String) = EtlBulk.adapter(s, aldiDate)
    def raw(s: String, file: String): DataFrame =
      Pipeline.readShopJsonLines(spark, adapter(s), s"${r.inputs}/$file")._1
    val specs = man.get("jobs").elements.asScala.toIndexedSeq
    // changedRows against an empty table: every row, with its content hash
    val noneExisting = spark.emptyDataFrame.select(lit("").as("shop_type"),
      lit("").as("unified_id"), lit("").as("content_hash"))
    val schema = Pipeline.changedRows(
      Pipeline.process(adapter("AH"), raw("AH", "base_AH.jsonl")), noneExisting).schema

    var db: Db = null
    var stageWindows = Vector.empty[(Long, Long)]
    var upsertS, writeS = 0.0
    def existing = spark.read.jdbc(db.url, table, db.props)
      .select("shop_type", "unified_id", "content_hash")
    /** One job: runShopJob whose write is changedRows + jdbcUpsert. */
    def job(shop: String, file: String, id: String): (Jobs.JobResult, Double) = {
      writeS = 0.0
      Run.seconds(r.spans("jobs.runShopJob") {
        Jobs.runShopJob(spark, adapter(shop), raw(shop, file), id) { df =>
          writeS = Run.seconds {
            val changed = r.spans("pipeline.changedRows")(Pipeline.changedRows(df, existing))
            val u0 = System.currentTimeMillis()
            upsertS += Run.seconds(r.spans("sinks.jdbcUpsert")(Sinks.jdbcUpsert(changed,
              db.url, db.props, table, keyCols, nowExpr = "CURRENT_TIMESTAMP")))._2
            stageWindows :+= ((u0, System.currentTimeMillis()))
          }._2
        }
      })
    }

    // Every shop's base catalog through the pipeline, with content hashes:
    // the processed table's starting state.
    val base = man.get("base_total").asLong
    lazy val baseRows = EtlBulk.shops.map(s => Pipeline.changedRows(
      Pipeline.process(adapter(s), raw(s, s"base_$s.jsonl")), noneExisting))
      .reduce(_ unionByName _).collect().toSeq
    def freshDb(name: String): Unit = {
      if (db != null) db.drop()
      db = new Db(s"jdbc:derby:memory:$name;create=true", schema)
      db.create()
      db.load(baseRows)
    }
    // Warm-up: a database, and per shop a job that restates its base
    // catalog (it changes nothing, but runs the whole changed-rows and MERGE
    // path with that shop's plan).
    r.warmup(() => {
      freshDb("perfbench_warm")
      EtlBulk.shops.foreach(s => job(s, s"base_$s.jsonl", s"warm-$s"))
    })
    // Set-up, repeated: a fresh database loaded with the starting state.
    r.metrics("setup_s") = r.setupReps(3) { i => freshDb(s"perfbench_$i") }
    r.check(db.count(table) == base, s"pre-loaded ${db.count(table)} rows, expected $base")
    stageWindows = Vector.empty; upsertS = 0.0

    var runS, outsideS = 0.0
    var changedRows, incoming = 0L
    // the Derby counts are checked between jobs, outside the timed walls
    def afterJob(i: Int): Unit = {
      val spec = specs(i)
      val (total, staged) = (db.count(table), db.count(stage))
      changedRows += staged; incoming += spec.get("lines").asLong
      val ok = r.check(staged == spec.get("expected_changed").asLong,
        s"job $i merged $staged changed rows, expected ${spec.get("expected_changed").asLong}") &
        r.check(total == spec.get("expected_total").asLong,
          s"after job $i the table holds $total rows, expected ${spec.get("expected_total").asLong}")
      if (!ok) r.fail(s"job-$i")
    }
    // whole rounds of the four shops, so every run times the same mix
    r.timed(minOps = EtlBulk.shops.size, maxOps = specs.size, unit = EtlBulk.shops.size,
        after = afterJob) { i =>
      val spec = specs(i)
      r.op(s"job-$i")(job(spec.get("shop").asText, spec.get("file").asText, s"job-$i")) {
        case (res, t) =>
          runS += t; outsideS += t - writeS
          r.check(res.status == "completed", s"job $i status ${res.status}")
      }
      r.releaseStorage()
    }(i => specs(i).get("lines").asDouble)
    val stageS = stageWindows.map { case (a, b) => r.profile.jobSecondsWithin(a, b) }.sum
    r.named("rows_per_s") = (r.metrics("items_per_s"), "1/s")
    r.named("job_s_p50") = (r.metrics("op_s_p50"), "s")
    r.named("job_s_p75") = (r.metrics("op_s_p75"), "s")
    r.named("upsert_rows_per_s") = (changedRows / upsertS, "1/s")
    if (r.trace) {
      r.metrics("jobs.run_s") = runS
      r.metrics("jobs.outside_write_s") = outsideS
      r.metrics("sinks.upsert_stage_s") = stageS
      r.metrics("sinks.upsert_merge_s") = upsertS - stageS
      r.metrics("sinks.upsert_rows") = changedRows.toDouble
      r.metrics("sinks.upsert_rows_per_s") = changedRows / upsertS
      r.metrics("pipeline.changed_ratio") = changedRows.toDouble / incoming
      // changedRows' own cost: prefix without and with it, one job per shop
      r.metrics("pipeline.changed_rows_s") = specs.take(EtlBulk.shops.size).map { spec =>
        val s = spec.get("shop").asText
        val unified = Pipeline.process(adapter(s), raw(s, spec.get("file").asText))
        val a = Run.seconds(unified.queryExecution.toRdd.count())._2
        val b = Run.seconds(Pipeline.changedRows(unified, existing).queryExecution.toRdd.count())._2
        b - a
      }.sum
      Kernels.measure(r)
    }
    db.drop()
    JdbcDialects.unregisterDialect(DerbyVarchar)
  }
}
