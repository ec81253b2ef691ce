package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.SaveMode
import graft.SparkEntry
import graft.etl.Similarity

/** near_dup: a product-text `documents` table with planted near-duplicate
  * clusters and a few hot (boilerplate) phrases. One operation, a cycle, runs the
  * exact pair engine (`ngramJaccardPairs`), MinHash+LSH
  * (`minhashDedupPairs`) and the query surface's graph query
  * `q66_connected_components` over the same table, collecting all three
  * results. Shuffles, the pair engine and the native expressions of
  * `graft.plans` dominate; the ETL stages do nothing here. */
object NearDup {
  val n = 3
  val numHashes = 32
  val bands = 8
  val threshold = 0.5
  /** Lowest LSH recall the check accepts: with these bands and rows per
    * band, a planted pair at Jaccard 0.6 collides with probability 0.66 and
    * one at 0.8 with probability 0.99. */
  val minRecall = 0.75
  /** The query-surface operation this workload also runs. */
  val query = "q66_connected_components"

  private def pairs(rows: Array[Row]): Map[(Long, Long), (Long, Long)] =
    rows.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
      (r.getAs[Long]("inter"), r.getAs[Long]("union_size"))).toMap

  def run(r: Run): Unit = {
    val spark = r.spark
    val man = r.manifest
    val docs = man.get("docs").asLong
    val planted = man.get("planted_pairs").elements.asScala
      .map(p => (p.get(0).asLong, p.get(1).asLong)).toSet
    def corpus(limit: Int = -1): DataFrame = {
      val df = graft.Tables.documents(spark, r.inputs).select("doc_id", "text")
      if (limit > 0) df.filter(col("doc_id") < limit) else df
    }
    def ngram(df: DataFrame) = Similarity.ngramJaccardPairs(df, "doc_id", "text", n)
    def minhash(df: DataFrame) =
      Similarity.minhashDedupPairs(df, "doc_id", "text", n, numHashes, bands, threshold)
    def q66() = SparkEntry.queries(query)(spark, r.inputs)

    // Warm-up: both engines on the first 300 documents, and the query.
    r.warmup(() => ngram(corpus(300)).collect(): Unit,
      () => minhash(corpus(300)).collect(): Unit, () => q66().collect(): Unit)
    // Set-up, repeated: both engines' plans analysed, optimised and
    // planned, without running them (the query plans eagerly: it iterates).
    r.metrics("setup_s") = r.setupReps(3) { _ =>
      ngram(corpus()).queryExecution.executedPlan
      minhash(corpus()).queryExecution.executedPlan
    }

    // One operation is one whole cycle: the exact pair engine, MinHash+LSH,
    // then the graph query, so every operation does the same work. The
    // pair checks run after the cycle, outside its wall.
    var ng, mh = Map.empty[(Long, Long), (Long, Long)]
    var queryRows: DataFrame = null
    var ngramS, minhashS, queryS, queryCpu = Vector.empty[Double]
    def afterCycle(i: Int): Unit = {
      val missed = planted.filterNot(ng.contains)
      val ok = r.check(missed.isEmpty,
        s"ngramJaccardPairs missed ${missed.size} planted pairs, e.g. ${missed.take(3)}") &
        r.check(mh.forall { case (k, v) => ng.get(k).contains(v) },
          "minhashDedupPairs reported a pair or count the exact engine does not")
      if (!ok) r.fail(s"cycle-$i")
    }
    r.timed(minOps = 1, after = afterCycle) { i =>
      r.op(s"cycle-$i") {
        val (p1, t1) = Run.seconds(r.spans("similarity.ngramJaccardPairs")(
          pairs(ngram(corpus()).collect())))
        r.releaseStorage()
        val (p2, t2) = Run.seconds(r.spans("similarity.minhashDedupPairs")(
          pairs(minhash(corpus()).collect())))
        r.releaseStorage()
        val c0 = Run.cpuNs()
        val ((rows, schema), t3) = Run.seconds {
          val q = q66()
          (r.spans(query)(q.collect()), q.schema)
        }
        queryCpu :+= (Run.cpuNs() - c0) / 1e9
        r.releaseStorage()
        ngramS :+= t1; minhashS :+= t2; queryS :+= t3
        ng = p1; mh = p2
        queryRows = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      }(_ => true)
    }(_ => docs.toDouble)

    // the query's last result, for the DuckDB oracle comparison after exit
    if (queryRows != null)
      queryRows.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"${r.work}/results/$query")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${r.work}/results/oracle_sql.json"),
      Json.obj(Seq(query -> Json.str(SparkEntry.oracleSql(query)))))

    val recall = planted.count(mh.contains).toDouble / planted.size
    r.check(recall >= minRecall, s"LSH recall $recall below $minRecall")
    r.named("docs_per_s") = (r.metrics("items_per_s"), "1/s")
    r.named("lsh_recall") = (recall, "ratio")
    if (r.trace) {
      r.metrics("similarity.lsh_recall") = recall
      r.metrics("similarity.ngram_pairs_s") = Run.median(ngramS)
      r.metrics("similarity.minhash_pairs_s") = Run.median(minhashS)
      r.metrics(s"queries.${query}_s") = Run.median(queryS)
      r.metrics(s"queries.${query}_cpu_s") = Run.median(queryCpu)
      prefixes(r, corpus(), mh.size)
    }
  }

  /** Traced run: cumulative prefixes of the MinHash path, each fully
    * materialised; reported as self times (prefix k minus prefix k-1). */
  private def prefixes(r: Run, corpus: DataFrame, verified: Int): Unit = {
    def full(df: DataFrame): Long = df.queryExecution.toRdd.count()
    val shingles = Similarity.explodeShingles(corpus, "doc_id", "text", n)
    val sigs = Similarity.minhashSignatures(shingles, numHashes)
    val cands = Similarity.lshCandidatePairs(sigs, bands, numHashes / bands)
    val steps = Seq(() => full(shingles), () => full(sigs), () => full(cands),
      () => full(Similarity.minhashDedupPairs(corpus, "doc_id", "text", n, numHashes,
        bands, threshold)))
    val names = Seq("similarity.shingles_s", "similarity.signatures_s",
      "similarity.candidates_s", "similarity.verify_s")
    val timed = steps.zip(names).map { case (f, name) =>
      r.releaseStorage()
      Run.seconds(r.spans(name)(f()))
    }
    timed.indices.foreach { k =>
      r.metrics(names(k)) = timed(k)._2 - (if (k == 0) 0.0 else timed(k - 1)._2)
    }
    val candidates = timed(2)._1
    r.metrics("similarity.candidates") = candidates.toDouble
    r.metrics("similarity.verified_pairs") = verified.toDouble
    r.metrics("similarity.candidate_precision") =
      if (candidates == 0) 0.0 else verified.toDouble / candidates
  }
}
