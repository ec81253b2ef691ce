package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Optional third arg `q1,q2` restricts the dump (and the emitted oracle
  * json) to named queries — dev-loop convenience; the driver always runs
  * the full surface. A name that matches no query fails the run before
  * anything is written, so a misspelt subset cannot pass vacuously. */
object Verify {
  /** The query names of a `q1,q2` subset argument; fails listing every
    * name that matches no query. */
  def subsetOf(arg: String): Set[String] = {
    val names = arg.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = names -- SparkEntry.queries.keySet
    require(names.nonEmpty, s"empty query subset '$arg'")
    require(unknown.isEmpty, s"unknown query names: ${unknown.toSeq.sorted.mkString(", ")}")
    names
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, subset) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, q) => (s, o, Some(subsetOf(q)))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Sessions.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Sessions.quietWindowWarnings()
    new java.io.File(outDir).mkdirs()
    // Bounded fan-in (not coalesce(1)): a single-file dump would funnel the
    // whole result through one task at large SF; 8 part files keeps the
    // write parallel while staying cheap for the driver's pandas read.
    SparkEntry.queries
      .filter { case (name, _) => subset.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(8).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        // same storage hygiene as Bench: queries cache/localCheckpoint
        // internally (sort barriers, the pair engine's pinned token
        // arrays, iterative graph rounds); across 523 queries in one JVM
        // the blocks otherwise accumulate for the session's lifetime
        Sessions.releaseStorage(spark)
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => subset.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
