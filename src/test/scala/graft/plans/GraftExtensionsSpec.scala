package graft.plans

import graft.SparkSpec

/** The registration itself: every native function resolves from SQL to its
  * expression class, bad calls fail naming the function and the argument,
  * and the session's optimizer carries the four rewrite rules in order. */
class GraftExtensionsSpec extends SparkSpec {

  /** name → (expression class, a call that must resolve) */
  private val functions = Seq(
    "hamming" -> ("HammingDistance", "hamming('ab', 'ac')"),
    "qdot" -> ("QDot", "qdot(array(1L), array(2L))"),
    "longest_run" -> ("LongestRun", "longest_run(array('a', 'a'))"),
    "damerau_levenshtein" -> ("DamerauLevenshtein", "damerau_levenshtein('ab', 'ba')"),
    "jaro_winkler" -> ("JaroWinkler", "jaro_winkler('ab', 'ba')"),
    "simhash" -> ("Simhash", "simhash('a b c')"),
    "hilbert" -> ("HilbertIndex", "hilbert(1, 2, 4)"),
    "word_shingles" -> ("WordShingles", "word_shingles('a b c', 2)"),
    "word_ngrams" -> ("WordNgrams", "word_ngrams('a b c', 2)"),
    "sha_lanes" -> ("ShaLanes", "sha_lanes('a')"),
    "sp_tokens" -> ("SpTokens", "sp_tokens('a  b')"),
    "lang_hits" -> ("LangHits", "lang_hits('de het')"),
    "distinct_ngrams" -> ("DistinctNgrams", "distinct_ngrams('abc', 2)"),
    "winnow_fps" -> ("Winnow", "winnow_fps('abcdef', 2, 2)"),
    "ws_tokens" -> ("WsTokens", "ws_tokens('a b')"),
    "hll_regs" -> ("HllRegsAgg", "hll_regs(id, 4) FROM range(3)"),
    "bitlen" -> ("BitLen", "bitlen(5)"))

  /** The messages of the error `sql` raises, down its cause chain. */
  private def error(sql: String): String = {
    val e = intercept[Throwable](spark.sql(sql).queryExecution.analyzed)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
  }

  test("all 17 functions resolve from SQL to their expression class") {
    assert(functions.size == 17)
    functions.foreach { case (name, (cls, call)) =>
      val described = spark.sql(s"DESCRIBE FUNCTION $name").collect().map(_.getString(0))
      assert(described.contains(s"Class: graft.plans.$cls"), described.mkString("\n"))
      val analyzed = spark.sql(s"SELECT $call").queryExecution.analyzed
      val built = analyzed.expressions.flatMap(_.collect {
        case e if e.getClass.getName == s"graft.plans.$cls" => e })
      assert(built.size == 1, s"$call analyzed to $analyzed")
    }
  }

  test("a wrong argument count names the function and its signature") {
    assert(error("SELECT hamming('a')")
      .contains("hamming(a, b) takes exactly 2 arguments"))
    assert(error("SELECT simhash('a', 'b')")
      .contains("simhash(text) takes exactly 1 argument"))
    assert(error("SELECT winnow_fps('a')")
      .contains("winnow_fps(text, k, window) takes exactly 3 arguments"))
  }

  test("a non-literal integer parameter names the function and the argument") {
    val t = "FROM VALUES ('a b c', 2) AS t(s, i)"
    Seq(
      s"hilbert(i, i, i) $t" -> "hilbert order must be a literal",
      s"word_shingles(s, i) $t" -> "word_shingles n must be a literal",
      s"word_ngrams(s, i) $t" -> "word_ngrams n must be a literal",
      s"distinct_ngrams(s, i) $t" -> "distinct_ngrams n must be a literal",
      s"hll_regs(i, i) $t" -> "hll_regs p must be a literal",
      s"winnow_fps(s, i, 2) $t" -> "winnow_fps k must be a literal",
      s"winnow_fps(s, 2, i) $t" -> "winnow_fps window must be a literal",
      "word_shingles('a', 'x')" -> "word_shingles n must be an integer literal, got x"
    ).foreach { case (call, msg) =>
      val m = error(s"SELECT $call")
      assert(m.contains(msg), s"$call: $m")
    }
  }

  test("the optimizer carries the four rewrite rules, in order") {
    assert(spark.sessionState.optimizer.extendedOperatorOptimizationRules
      .map(_.ruleName) == Seq("graft.plans.QDotRewrite",
        "graft.plans.BitLenRewrite", "graft.plans.LevThresholdRewrite",
        "graft.plans.SpTokensRewrite"))
  }
}
