package graft.etl

import java.sql.DriverManager
import graft.SparkSpec

/** End-to-end K2/K3 upsert against embedded Derby (ships with Spark):
  * stage via parallel JDBC write, one transactional MERGE — updated rows
  * change in place, new rows insert. */
class JdbcUpsertSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:upsertdb;create=true"

  test("stage + MERGE updates matches and inserts new rows") {
    import spark.implicits._
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.execute("""CREATE TABLE products (
      "shop_type" VARCHAR(16) NOT NULL, "external_id" VARCHAR(32) NOT NULL,
      "title" VARCHAR(128), "current_price" DOUBLE,
      "updated_at" TIMESTAMP, PRIMARY KEY ("shop_type", "external_id"))""")
    st.execute("""INSERT INTO products VALUES
      ('AH', '1', 'Old Title', 1.00, CURRENT_TIMESTAMP)""")
    st.close(); conn.close()

    val batch = Seq(
      ("AH", "1", "New Title", 1.25),   // update
      ("AH", "2", "Brand New", 2.50))   // insert
      .toDF("shop_type", "external_id", "title", "current_price")

    // Derby maps StringType to CLOB by default, which can't be compared in
    // the MERGE ON clause — pin VARCHAR types for the staged string columns
    val props = new java.util.Properties()
    props.setProperty("createTableColumnTypes",
      "shop_type VARCHAR(16), external_id VARCHAR(32), title VARCHAR(128)")
    Sinks.jdbcUpsert(batch, url, props, "products",
      Seq("shop_type", "external_id"), nowExpr = "CURRENT_TIMESTAMP")

    val conn2 = DriverManager.getConnection(url)
    val rs = conn2.createStatement()
      .executeQuery("""SELECT "external_id", "title", "current_price"
        FROM products ORDER BY "external_id"""")
    val rows = Iterator.continually(rs)
      .takeWhile(_.next()).map(r => (r.getString(1), r.getString(2), r.getDouble(3))).toList
    conn2.close()
    assert(rows == List(("1", "New Title", 1.25), ("2", "Brand New", 2.5)))
  }

  test("a failed MERGE rolls back and surfaces its own error") {
    import spark.implicits._
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.execute("""CREATE TABLE narrow ("k" VARCHAR(8) NOT NULL PRIMARY KEY,
      "title" VARCHAR(4), "updated_at" TIMESTAMP)""")
    st.execute("""INSERT INTO narrow VALUES ('1', 'abc', CURRENT_TIMESTAMP)""")
    st.close(); conn.close()

    // the staged title fits its staging column but not the target's
    val props = new java.util.Properties()
    props.setProperty("createTableColumnTypes", "k VARCHAR(8), title VARCHAR(64)")
    val batch = Seq(("1", "far too long"), ("2", "new")).toDF("k", "title")
    val e = intercept[java.sql.SQLException](Sinks.jdbcUpsert(batch, url, props, "narrow",
      Seq("k"), nowExpr = "CURRENT_TIMESTAMP"))
    assert(e.getSQLState == "22001", e.toString) // string truncation, not a close error

    val conn2 = DriverManager.getConnection(url)
    val rs = conn2.createStatement()
      .executeQuery("""SELECT "k", "title" FROM narrow ORDER BY "k"""")
    val rows = Iterator.continually(rs)
      .takeWhile(_.next()).map(r => (r.getString(1), r.getString(2))).toList
    conn2.close()
    assert(rows == List(("1", "abc")))
  }
}
