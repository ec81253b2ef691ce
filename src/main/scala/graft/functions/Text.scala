package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Text-analysis primitives for the large-scale training-data pipeline
  * operators (language-ID, quality scoring, token counting, fingerprinting,
  * SimHash). These go beyond the reference's own surface (BASELINE.json
  * north star) but reuse its design style: pure JVM functions wrapped in
  * narrow UDFs, with the heavy lifting done by built-in columns.
  */
object Text {

  private val hexDigits = "0123456789abcdef".toCharArray

  /** Lowercase hex of a byte array — table-driven, no per-byte
    * `String.format` (format parses its spec string and boxes every byte;
    * at one call per row × 16 bytes it dominated the digest itself). */
  def hexOf(d: Array[Byte]): String = {
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      val b = d(i) & 0xff
      out(i * 2) = hexDigits(b >>> 4)
      out(i * 2 + 1) = hexDigits(b & 0xf)
      i += 1
    }
    new String(out)
  }

  /** One MD5 instance per thread: `MessageDigest.getInstance` walks the
    * JCA provider registry per call — measurable at one call per token. */
  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Whitespace tokens, empties dropped (matches `split(text,' ')` + filter). */
  def tokens(text: String): Array[String] =
    if (text == null) Array.empty else text.split(" ").filter(_.nonEmpty)

  /** Maximal runs of non-whitespace over the class [ \t\n\r] — the single
    * corpus-wide tokenization contract ([[graft.etl.Corpus.tokensOf]] and
    * the DuckDB oracles' `string_split_regex(text,'[ \t\n\r]+')` + filter
    * compute exactly this). One pass, no regex. */
  def wsTokens(text: String): Array[String] = {
    if (text == null) return Array.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val len = text.length
    var i = 0
    while (i < len) {
      val c = text.charAt(i)
      if (c == ' ' || c == '\t' || c == '\n' || c == '\r') i += 1
      else {
        var j = i + 1
        while (j < len && {
          val d = text.charAt(j)
          d != ' ' && d != '\t' && d != '\n' && d != '\r'
        }) j += 1
        out += text.substring(i, j)
        i = j
      }
    }
    out.toArray
  }

  /** Word n-gram shingles (distinct), joined with a single space. */
  def shingles(text: String, n: Int): Array[String] = {
    val t = tokens(text)
    if (t.length < n) Array.empty
    else t.sliding(n).map(_.mkString(" ")).toArray.distinct
  }

  /** Word n-grams WITH multiplicity (same tokenization as [[shingles]],
    * no distinct) — for count-based overlap metrics (ROUGE) where
    * repeated grams must keep their term frequency. */
  def ngrams(text: String, n: Int): Array[String] = {
    val t = tokens(text)
    if (t.length < n) Array.empty
    else t.sliding(n).map(_.mkString(" ")).toArray
  }

  /** 64-bit SimHash over whitespace tokens (multiplicity kept), built from
    * the first 16 hex digits of each token's MD5 — chosen so a SQL oracle
    * can recompute it with `md5()` alone. Output: 64-char bit string, bit i
    * = nibble i/4 of the MD5, bit (3 - i%4); set when the weighted sum > 0.
    */
  def simhashBits(text: String): String = {
    val sums = new Array[Int](64)
    val md = md5Local.get()
    tokens(text).foreach { tok =>
      // bit i of the definition is bit i (MSB-first) of the digest's first
      // 8 bytes: nibble i/4 of the hex string is (hex char i/4) = the
      // (i/4)-th nibble of the digest, and (nibble >> (3 - i%4)) & 1 walks
      // that nibble MSB-first — identical to walking the raw bytes, which
      // skips the hex encode + re-parse entirely. The SQL oracle still
      // re-derives the same bits from md5()'s hex form.
      md.reset()
      val d = md.digest(tok.getBytes(StandardCharsets.UTF_8))
      var i = 0
      while (i < 64) {
        val bit = (d(i >> 3) >> (7 - (i & 7))) & 1
        sums(i) += ((bit << 1) - 1)
        i += 1
      }
    }
    val sb = new StringBuilder(64)
    var i = 0
    while (i < 64) { sb.append(if (sums(i) > 0) '1' else '0'); i += 1 }
    sb.toString
  }

  /** Hamming distance between two same-length bit strings. */
  def hamming(a: String, b: String): Int = {
    require(a.length == b.length)
    var d = 0; var i = 0
    while (i < a.length) { if (a(i) != b(i)) d += 1; i += 1 }
    d
  }

  /** Tiny per-language marker-token profiles for the heuristic language-ID
    * operator (n-gram/stopword profile scoring). */
  val langProfiles: Seq[(String, Set[String])] = Seq(
    "de" -> Set("der", "die", "das", "und", "ein", "nicht", "ist"),
    "en" -> Set("the", "and", "of", "to", "a", "in", "is"),
    "es" -> Set("el", "los", "las", "y", "un", "que", "es"),
    "fr" -> Set("le", "la", "les", "et", "un", "est", "que"),
    "nl" -> Set("de", "het", "een", "en", "van", "niet", "is"))

  /** Argmax language by marker hits; ties resolve to the alphabetically
    * first language (profiles are sorted), score = hit count. */
  def languageId(text: String): (String, Int) = {
    val t = tokens(text).map(_.toLowerCase)
    var best = "de"; var bestScore = -1
    langProfiles.foreach { case (lang, set) =>
      val s = t.count(set.contains)
      if (s > bestScore) { best = lang; bestScore = s }
    }
    (best, bestScore)
  }

  /** BPE-ish pre-tokenization count: letter runs, digit runs, single other
    * non-space chars — the standard shape of a byte-pair pre-split. */
  // explicit class, not \s: Java \s includes \x0B (vertical tab), RE2's
  // (the DuckDB oracle) does not — the explicit set is identical in both
  private val bpeishRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\f\\r]".r
  def bpeishTokenCount(text: String): Int =
    if (text == null) 0 else bpeishRe.findAllIn(text).size

  /** Rolling polynomial hash (base 257 mod 2^31-1) over the chars — the
    * document-fingerprinting primitive for winnowing-style selection.
    * h*257 + c < 2^40 so the accumulator never overflows a Long. */
  def rollingHash(s: String): Long = {
    val Mod = (1L << 31) - 1
    var h = 0L
    s.foreach { c => h = (h * 257 + c) % Mod }
    h
  }

  /** Winnowing fingerprints: min rolling hash per window of k-grams. */
  def winnow(text: String, k: Int = 5, window: Int = 4): Seq[Long] = {
    val grams = text.sliding(k).map(rollingHash).toArray
    if (grams.isEmpty) Nil
    else if (grams.length <= window) Seq(grams.min)
    else grams.sliding(window).map(_.min).toVector.distinct
  }
}
