package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.etl.{Multimodal, Similarity}
import graft.queries.SortBarrier._

/** Training-data pipeline operators over `documents` / `embeddings`
  * (dedup families, similarity search, text analysis, multimodal plumbing)
  * — the beyond-the-reference surface required for 100 TB corpora.
  *
  * Duplicate-detection queries run on a corpus with PLANTED duplicates
  * (every doc_id % 10 == 0 re-appears as doc_id + 1,000,000) so the
  * expected pair set is deterministic and oracle-checkable.
  */
object TrainingData {

  /** documents ∪ planted duplicates. */
  def corpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, dir).select($"doc_id", $"text")
    d.unionByName(
      d.filter($"doc_id" % 10 === 0).withColumn("doc_id", $"doc_id" + 1000000L))
  }

  private[queries] val corpusSql =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)"""
      .stripMargin

  /** Exact dedup: hash-groupBy on sha256(text); one combiner-friendly
    * shuffle regardless of corpus size. */
  def q25DedupExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.exactDupGroups(corpus(spark, dir), "doc_id", "text")
      .orderBy($"keep_id")
  }

  /** n-gram (3-word shingle) Jaccard near-dup pairs at J ≥ 0.5, integer
    * intersection/union only (no float compare). */
  def q26NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.ngramJaccardPairs(corpus(spark, dir), "doc_id", "text", 3)
      .filter($"inter" * 2 >= $"union_size")
      .select($"id_a", $"id_b", $"inter", $"union_size")
      .orderBy($"id_a", $"id_b")
  }

  /** MinHash (32 perms) + LSH (8 bands × 4) candidate generation, verified
    * at exact Jaccard = 1.0: identical signatures always collide, so the
    * result is exactly the identical-shingle-set pairs — deterministic. */
  def q27MinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.minhashDedupPairs(corpus(spark, dir), "doc_id", "text",
        n = 3, numHashes = 32, bands = 8, threshold = 1.0)
      .orderBy($"id_a", $"id_b")
  }

  /** 64-bit SimHash sketch per document (md5-nibble construction so the
    * oracle can recompute it in SQL). */
  def q28Simhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // docs with ≥1 token only: the engine emits an all-zeros simhash for a
    // token-less doc while the oracle's unnest drops it — align the domain
    // explicitly so an empty text in a future corpus can't skew row counts
    Similarity.withSimhash(
        Tables.documents(spark, dir)
          .filter(size(call_function("sp_tokens", $"text")) > 0), "text")
      .select($"doc_id", $"simhash")
      .sortedOnce($"doc_id")
  }

  /** Brute-force ANN top-10 by int-quantized dot product (embeddings are
    * unit-norm, so dot = cosine; integer dots are exact in both engines). */
  def q29AnnTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter($"vec_id" % 400 === 0 && $"vec_id" < 3200)
    Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
      .orderBy($"query_id", $"rank")
  }

  /** Heuristic language-ID: marker-token profile argmax (alphabetical
    * first-wins on ties). */
  def q30LangId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // one-pass native scorer (graft.plans.LangHits): the former
    // five-HOF spelling re-evaluated the split+lower token chain per
    // language because Catalyst inlines the shared alias
    val scored = Tables.documents(spark, dir)
      .select($"doc_id", call_function("lang_hits", $"text").as("_h"))
      .select($"doc_id" +:
        graft.functions.Text.langProfiles.zipWithIndex.map {
          case ((lang, _), i) => element_at($"_h", i + 1).as(s"s_$lang")
        }: _*)
    // first (alphabetical) strict argmax — mirrors Text.languageId
    val pred =
      when($"s_de" >= $"s_en" && $"s_de" >= $"s_es" && $"s_de" >= $"s_fr" && $"s_de" >= $"s_nl", "de")
        .when($"s_en" >= $"s_es" && $"s_en" >= $"s_fr" && $"s_en" >= $"s_nl", "en")
        .when($"s_es" >= $"s_fr" && $"s_es" >= $"s_nl", "es")
        .when($"s_fr" >= $"s_nl", "fr")
        .otherwise("nl")
    scored.select($"doc_id", pred.as("lang_pred"),
        greatest($"s_de", $"s_en", $"s_es", $"s_fr", $"s_nl").as("score"))
      .sortedOnce($"doc_id")
  }

  /** Text-quality stats: char/token/punct/digit counts, BPE-ish token
    * count, stopword hits — all integers, all codegen column expressions. */
  def q31TextQuality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = call_function("sp_tokens", $"text")
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    Tables.documents(spark, dir).select(
        $"doc_id",
        length($"text").as("n_chars"),
        size(toks).as("n_tokens"),
        length(regexp_replace($"text", " ", "")).as("sum_token_len"),
        length(regexp_replace($"text", "[A-Za-z0-9 \\t\\n\\f\\r]", "")).as("n_punct"),
        length(regexp_replace($"text", "[^0-9]", "")).as("n_digits"),
        size(regexp_extract_all($"text",
          lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\f\\r]"), lit(0))).as("bpeish_tokens"),
        size(filter(transform(toks, t => lower(t)),
          t => t.isInCollection(stop))).as("n_stopwords"))
      .sortedOnce($"doc_id")
  }

  /** Multimodal plumbing: opaque binary payloads + batch (mapPartitions)
    * feature extraction through the stub codec; byte counts and payload
    * hashes are oracle-checkable, stub features are spec-tested. */
  def q32Multimodal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Multimodal.mediaFromText(
      Tables.documents(spark, dir), "doc_id", "text")
    Multimodal.extractFeatures(media).toDF()
      .select($"media_id", $"media_type", $"n_bytes", $"payload_sha")
      .orderBy($"media_id")
  }

  /** Sign-LSH bucketed ANN (the scale path next to the q29 brute-force
    * oracle): each query probes only its own 8-sign-bit bucket. Recall < 1
    * by construction; the ORACLE replicates the bucketing, so the compare
    * pins the bucketed semantics themselves. */
  def q50AnnLsh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter($"vec_id" % 400 === 0 && $"vec_id" < 3200)
    Similarity.lshBucketTopK(emb, queries, "vec_id", "embedding", 10)
      .orderBy($"query_id", $"rank")
  }

  /** IVF-flat ANN: 16 deterministic centroids (first vectors by id), each
    * query probes its 4 closest inverted lists. The oracle re-derives the
    * assignment argmax and probe ranking in SQL. */
  def q51AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter($"vec_id" % 400 === 0 && $"vec_id" < 3200)
    Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 10,
        nlist = 16, nprobe = 4)
      .orderBy($"query_id", $"rank")
  }

  /** Embedding-cosine near-dup pairs: sign-LSH bucket candidates, exact
    * quantized-integer verification (cos = dot/√(n2a·n2b) — one
    * correctly-rounded sqrt+divide over exact longs, bit-stable
    * cross-engine). */
  def q52CosineDups(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.cosineDupPairs(Tables.embeddings(spark, dir),
        "vec_id", "embedding", minCosine = 0.3)
      .orderBy($"id_a", $"id_b")
  }

  /** MRR / hits@k of the sign-LSH ANN path against brute-force truth
    * ([[Similarity.retrievalMetrics]]): does each query's TRUE nearest
    * neighbor still come back, and does it still come back FIRST — the
    * ranking-quality line next to the q315 set-recall audit. */
  def q372RetrievalMrr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    val q = e.filter($"vec_id" % 400 === 0 && $"vec_id" < 3200)
    Similarity.retrievalMetrics(
      Similarity.lshBucketTopK(e, q, "vec_id", "embedding", k = 10),
      Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 10),
      k = 10)
  }

  /** Johnson–Lindenstrauss sign projection 64→16
    * ([[Similarity.signProject]]): integer-exact projected coordinates
    * plus input/output squared norms, the dimensionality-reduction pass
    * that would run before a 100 TB ANN build. The oracle replays the
    * identical sha-derived ±1 matrix, unrolled into SQL. */
  def q369SignProjection(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.signProject(Tables.embeddings(spark, dir), "vec_id",
        "embedding", inDim = 64, outDim = 16)
      .sortedOnce($"vec_id")
  }

  /** Train/test embedding contamination ([[Similarity.embeddingLeak]]):
    * residue-deterministic 80/20 split of the embeddings table, then all
    * (train, test) same-bucket pairs with cosine ≥ 0.3 — the semantic
    * leak scan that catches paraphrased eval items exact n-gram
    * decontamination (q119/q300) misses. */
  def q364EmbeddingLeak(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    Similarity.embeddingLeak(
        e.filter($"vec_id" % 10 < 8), e.filter($"vec_id" % 10 >= 8),
        "vec_id", "embedding", minCosine = 0.3)
      .orderBy($"test_id", $"train_id")
  }

  /** Embedding-distribution drift ([[Similarity.embeddingDrift]]): per
    * label class, the exact squared mean-vector distance between the
    * vec_id-parity cohorts (the deterministic early/late stand-in) plus
    * the dimension that moved most — the embedding-space shift monitor
    * scalar PSI/KL drift can't see. */
  def q519EmbeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .filter($"label".isNotNull)
      .select($"label".cast("long").as("label"), $"vec_id", $"embedding")
    Similarity.embeddingDrift(e, "label", "vec_id", "embedding",
        cohort = $"vec_id" % 2 === 0)
      .orderBy($"label")
  }

  /** Embedding-drift TIMELINE ([[Similarity.embeddingDriftAgainst]]): per
    * (ingest batch, label) the exact drift against the batch-0 baseline
    * cohort — WHEN the distribution shifted, where q519 answers whether.
    * Batch axis = vec_id DIV 128 (ingest order); the baseline arrives as
    * sufficient statistics ([[Similarity.embeddingCohortStats]]), the
    * same contract the streaming face consumes, and the arithmetic is
    * the SHARED `driftFromStats` — batch 0 vs itself reading drift 0 is
    * a built-in self-check the oracle re-derives. */
  def q520DriftTimeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .filter($"label".isNotNull)
      .select($"label".cast("long").as("label"),
        expr("vec_id DIV 128").as("batch"), $"embedding")
    val baseline = Similarity.embeddingCohortStats(
      e.filter($"batch" === 0), "label", "embedding")
    Similarity.embeddingDriftAgainst(e, "batch", "label", "embedding",
        baseline)
      .orderBy($"batch", $"label")
  }

  /** Winnowing document fingerprints (k=5 char-grams, window 4) via the
    * native codegen `winnow_fps` expression (spec-pinned to
    * `Text.winnow`); the oracle refolds the rolling polynomial hash and
    * the per-window min selection in SQL (list_reduce over chars).
    * Corpus is ASCII so UTF-16-unit (Scala) and code-point (SQL) folds
    * agree. */
  def q53Winnow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id",
        explode(call_function("winnow_fps", $"text", lit(5), lit(4)))
          .as("fp"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_fp"), min($"fp").as("min_fp"),
        max($"fp").as("max_fp"), sum($"fp").as("sum_fp"))
      .orderBy($"doc_id")
  }

  /** Local verbatim-overlap pairs via winnowing fingerprints
    * ([[graft.etl.Similarity.winnowOverlapPairs]], k=16, window=12,
    * minShared=3): doc pairs sharing ≥3 fingerprints, i.e. evidence of
    * copied spans ≥ 27 chars — the MOSS-style detector whole-doc Jaccard
    * dilutes away. k/window are sized to the corpus (k=5 fingerprints on
    * the small-vocabulary synthetic text are near-universal and would
    * pair everything); the oracle refolds the same rolling hash, window
    * minima, and the engine's ≥1-below-cap candidate convention. The cap
    * is 64, tighter than the dedup family's 256: a 16-char fingerprint
    * shared by >64 docs is boilerplate, and the cap bounds in-bucket pair
    * volume at 64²/2 per fingerprint — the 10× sweep showed the 256-cap
    * variant scaling with Σ bucket² instead (26× time for 10× docs). */
  def q362WinnowOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.winnowOverlapPairs(Tables.documents(spark, dir), "doc_id",
        "text", k = 16, window = 12, minShared = 3, maxFpFreq = Some(64))
      .orderBy($"id_a", $"id_b")
  }

  /** Video frame-sampling plumbing (the partition-preserving explode
    * generator — no shuffle): documents stand in as video rows with a
    * deterministic duration; the REAL `Multimodal.sampleFrames` emits one
    * stub frame per second. */
  def q54FrameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.documents(spark, dir).select(
      $"doc_id".cast("long").as("media_id"),
      lit("video").as("media_type"),
      encode($"text", "UTF-8").as("payload"),
      lit(null).cast("int").as("width"),
      lit(null).cast("int").as("height"),
      ($"n_chars" * 25).cast("long").as("duration_ms"))
    Multimodal.sampleFrames(media, everyMs = 1000)
      .select($"media_id", $"frame_ts_ms")
      .sortedOnce($"media_id", $"frame_ts_ms")
  }

  /** REAL image decode end-to-end ([[Multimodal.ImageCodec]]): every doc
    * id becomes a genuine encoded PNG (distributed UDF encode, dimensions
    * and flat-gray fill pure functions of the id), decoded back through
    * `javax.imageio` in the batch `mapPartitions` codec. The oracle cannot
    * decode PNG, but it doesn't need to — decoded width/height and the
    * mean of the 64-cell luma grid are analytically predictable from the
    * id, so the compare pins the ENTIRE encode→decode→feature path: any
    * codec drift (wrong dims, channel order, grid indexing) breaks it. */
  def q242ImageDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Multimodal.mediaFromSyntheticImages(
      Tables.documents(spark, dir), "doc_id")
    Multimodal.extractFeatures(media).toDF()
      .select($"media_id",
        $"decoded_width".cast("long").as("decoded_width"),
        $"decoded_height".cast("long").as("decoded_height"),
        size($"feature").cast("long").as("n_cells"),
        round($"feature"(0) * 255).cast("long").as("luma0"),
        round(aggregate($"feature", lit(0.0d), (acc, x) => acc + x)
          / 64 * 255).cast("long").as("luma_mean"))
      .sortedOnce($"media_id")
  }

  /** Image-resize plumbing: aspect-preserving fit-within-box target
    * dimensions (the metadata math of a thumbnailing stage; pixels go
    * through the stubbed batch codec) — pure integer column arithmetic,
    * re-derived analytically by the oracle. */
  def q55Resize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Multimodal.mediaFromText(
      Tables.documents(spark, dir), "doc_id", "text").toDF()
    Multimodal.resizeTo(media, 640, 480)
      .select($"media_id", $"width", $"height",
        $"target_width", $"target_height")
      .orderBy($"media_id")
  }

  /** Deterministic content-addressed train/val/test split: bucket = first
    * 16 bits of sha256(id) mod 100 → 80/10/10. A pure function of the id,
    * so it is stable across runs, engines, partitionings, and corpus
    * growth — adding documents never reassigns existing ones (the property
    * a training pipeline needs to keep eval sets uncontaminated). Pure
    * column expressions, codegen'd, no shuffle. */
  def splitColumn(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val b = conv(substring(sha2(id.cast("string"), 256), 1, 4), 16, 10)
      .cast("long") % 100
    when(b < 80, "train").when(b < 90, "val").otherwise("test")
  }

  def q59TrainSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", splitColumn($"doc_id").as("split"))
      .orderBy($"doc_id")
  }

  /** Sequence packing into ≤2048-token bins, sharded ×8 so bins never span
    * shards and packing parallelizes ([[graft.etl.Corpus.packSequences]]);
    * the shard key here is `doc_id % 8` so the oracle can re-derive it. */
  def q64PackSequences(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id",
      size(call_function("sp_tokens", $"text")).as("n_tokens"))
    graft.etl.Corpus.packSequences(docs, "doc_id", "n_tokens",
        budget = 2048, shardCol = ($"doc_id" % 8).cast("long"))
      .select($"doc_id", $"n_tokens", $"shard", $"seq_in_shard")
      .orderBy($"doc_id")
  }

  /** Overlapping 200-char context windows every 150 chars
    * ([[graft.etl.Corpus.chunkText]]): partition-local generator, chunk
    * content pinned by sha256. */
  def q65ChunkText(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.etl.Corpus.chunkText(
        Tables.documents(spark, dir), "doc_id", "text", size = 200, stride = 150)
      .sortedOnce($"doc_id", $"chunk_idx")
  }

  /** Connected components over a synthetic chain graph (edges doc→doc+1
    * within 5-doc blocks) — the dedup-cluster resolution step that turns
    * near-dup PAIRS into groups ([[Similarity.connectedComponents]]).
    * The chain construction forces real multi-hop propagation (diameter
    * 4); the oracle is the closed-form block label. */
  def q66ConnectedComponents(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id")
    val edges = docs.filter($"doc_id" % 5 < 4)
      .select($"doc_id".as("src"), ($"doc_id" + 1).as("dst"))
      .join(docs.select($"doc_id".as("dst")), Seq("dst"), "left_semi")
    Similarity.connectedComponents(docs, edges, "doc_id", "src", "dst")
      .select($"node".as("doc_id"), $"component")
      .orderBy($"doc_id")
  }

  /** The q66 chain fixture through [[Similarity.connectedComponentsStar]]
    * — the O(log d)-round large-star/small-star variant, gated by the
    * SAME closed-form oracle as propagation, so both algorithms are
    * independently proven against DuckDB, not just against each other. */
  def q347StarComponents(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id")
    val edges = docs.filter($"doc_id" % 5 < 4)
      .select($"doc_id".as("src"), ($"doc_id" + 1).as("dst"))
      .join(docs.select($"doc_id".as("dst")), Seq("dst"), "left_semi")
    Similarity.connectedComponentsStar(docs, edges, "doc_id", "src", "dst")
      .select($"node".as("doc_id"), $"component")
      .orderBy($"doc_id")
  }

  /** Per-shard dataset manifest ([[graft.etl.Corpus.shardManifest]]) over
    * the documents table, 8 shards: counts, token/char masses, and the
    * order-independent modular content digest — the artifact that makes
    * "same data as last run" checkable in one scan. */
  def q348ShardManifest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.etl.Corpus.shardManifest(Tables.documents(spark, dir),
        "doc_id", "text", nShards = 8)
      .orderBy($"shard")
  }

  /** Fuzzy match against a small dimension by edit distance (the C7
    * category-cascade shape, but with the built-in codegen `levenshtein`
    * and a broadcast dim instead of a UDF): argmin per row with a
    * deterministic (dist, name) tie-break via min-over-struct — no window
    * sort, one partial-aggregable shuffle. */
  def q67FuzzyMatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val regions = Tables.region(spark, dir).select($"r_name")
    Tables.part(spark, dir).select($"p_partkey", $"p_name")
      .filter($"p_partkey" <= 500)
      .crossJoin(broadcast(regions))
      .withColumn("dist", levenshtein($"p_name", $"r_name"))
      .groupBy($"p_partkey")
      .agg(min(struct($"dist", $"r_name")).as("best"))
      .select($"p_partkey", $"best.r_name".as("best_region"),
        $"best.dist".as("dist"))
      .orderBy($"p_partkey")
  }

  /** Vocabulary statistics: document frequency + term frequency per term,
    * top-k by df — the table a corpus pipeline uses to spot boilerplate
    * (high-df) and rare-noise (df=1) terms. One explode, one shuffle on
    * term with map-side partials; countDistinct(doc_id) is the only
    * grows-with-corpus state and is exact here (the sketch variant is
    * `Analytics.approxProfile`). */
  def q72VocabStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id",
        explode(call_function("sp_tokens", $"text")).as("term"))
      .groupBy($"term")
      .agg(countDistinct($"doc_id").as("doc_freq"),
        count(lit(1)).as("term_freq"))
      .orderBy($"doc_freq".desc, $"term")
      .limit(50)
  }

  /** Gopher repetition filters ([[graft.etl.Corpus.repetitionStats]]):
    * integer repetition metrics per doc — the most-repeated-bigram count
    * and duplicate-bigram occurrences that quality gates threshold on. */
  def q75Repetition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.etl.Corpus.repetitionStats(
        Tables.documents(spark, dir), "doc_id", "text")
      .orderBy($"doc_id")
  }

  /** Deterministic per-group sample ([[graft.etl.Corpus.hashSample]]):
    * the 5 docs per language with the smallest sha256(doc_id) — a
    * seedless sample that is stable across runs and file layouts. */
  def q76HashSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.etl.Corpus.hashSample(
        Tables.documents(spark, dir).select($"doc_id", $"lang"),
        "lang", "doc_id", k = 5)
      .orderBy($"lang", $"rk")
  }

  /** Per-doc 3-gram novelty ([[graft.etl.Vocab.ngramNovelty]]) over the
    * planted-dup corpus: recycled docs score 0, originals high — the
    * diffuse-repetition curation score pairwise dedup can't produce. */
  def q209Novelty(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.etl.Vocab.ngramNovelty(corpus(spark, dir), "doc_id", "text", 3)
      .orderBy($"doc_id")
  }

  /** Deterministic global shuffle + round-robin sharding
    * ([[graft.etl.Corpus.deterministicShuffle]]): every doc gets its
    * seedless permutation index (sha256 order, two-phase range rank — no
    * single-partition sort) and an interleaved shard in 0..7. */
  def q206ShuffleShard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.etl.Corpus.deterministicShuffle(
        Tables.documents(spark, dir).select($"doc_id"), "doc_id",
        shards = 8)
      .orderBy($"doc_id")
  }

  /** Corpus bigram collocations ([[graft.etl.Corpus.bigramCollocations]]):
    * top-50 repeated bigrams by total count with document frequency —
    * the boilerplate-detection companion to q72's unigram table. */
  def q77Collocations(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.etl.Corpus.bigramCollocations(
        Tables.documents(spark, dir), "doc_id", "text", minCount = 2)
      .orderBy($"n_total".desc, $"bigram")
      .limit(50)
  }

  /** int8 embedding quantization ([[Similarity.int8QuantStats]]): per-vec
    * integer stats of the 127/max|x| floor quantization — the compression
    * step before an ANN index ships to serving. */
  def q79Quantize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.int8QuantStats(
        Tables.embeddings(spark, dir), "vec_id", "embedding")
      .orderBy($"vec_id")
  }

  /** PII redaction ([[graft.etl.Privacy.redactPii]]) over synthesized
    * contact strings (the corpus tables carry no PII, so emails/phones are
    * planted deterministically from customer keys: every key gets an
    * email unless divisible by 3, a phone when even). The md5 of the
    * redacted text pins the full replacement output, not just counts. */
  def q80PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = $"c_custkey"
    val input = Tables.customer(spark, dir).select(k,
      concat(
        lit("contact "), lower(regexp_replace($"c_name", "[^A-Za-z0-9]", "")),
        when(k % 3 =!= 0, concat(lit(" at user"), k.cast("string"),
          lit("@shop"), (k % 7).cast("string"), lit(".nl"))).otherwise(lit("")),
        when(k % 2 === 0, concat(lit(" or 06-"),
          lpad((k * 7919 % 100000000).cast("string"), 8, "0")))
          .otherwise(lit(""))).as("text"))
    graft.etl.Privacy.redactPii(input, "text")
      .select(k, $"n_emails", $"n_phones", md5($"redacted").as("redacted_md5"))
      .sortedOnce(k)
  }

  /** Inverted-index postings for the 10 highest-df terms: (term, df,
    * rank, doc_id) rows, postings ranked by doc_id — the retrieval-side
    * artifact of the q72 vocabulary table. The term list joins back as a
    * broadcast semi-filter; the posting window shuffles once on term. */
  def q89Postings(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select($"doc_id",
        explode(call_function("sp_tokens", $"text")).as("term"))
      .distinct()
    val top = toks.groupBy($"term").agg(count(lit(1)).as("df"))
      .orderBy($"df".desc, $"term").limit(10)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"term").orderBy($"doc_id")
    toks.join(broadcast(top), Seq("term"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .select($"term", $"df", $"rk", $"doc_id")
      .orderBy($"term", $"rk")
  }

  /** The corpus-curation FUNNEL: language-ID (q30's scorer), stopword
    * signal (q31's counter) and repetition metrics (q75's operator)
    * composed into first-match keep/drop decisions, reported per
    * (source, language, decision) — the end-to-end shape of a
    * training-mix gate, with every threshold integer so the composition
    * is oracle-checkable exactly. */
  def q92CurationFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.etl.Corpus.curationDecisions(
        Tables.documents(spark, dir), "doc_id", "text", "source")
      .groupBy($"source", $"lang_pred", $"decision")
      .agg(count(lit(1)).as("n"))
      .orderBy($"source", $"lang_pred", $"decision")
  }

  /** TF-IDF-ranked top terms per source, integer-only: score =
    * (tf × N_docs) div df — the idf ratio cross-multiplied into the
    * ordering instead of materializing a float logarithm, so the rank is
    * bit-stable cross-engine (ties: tf desc, then term). The corpus size
    * joins in as a broadcast one-row bound, q93-style. */
  def q95TfidfTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val toks = docs.select($"doc_id", $"source",
      explode(call_function("sp_tokens", $"text")).as("term"))
    val dfreq = toks.select($"doc_id", $"term").distinct()
      .groupBy($"term").agg(count(lit(1)).as("df"))
    val tf = toks.groupBy($"source", $"term").agg(count(lit(1)).as("tf"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"source")
      .orderBy($"score".desc, $"tf".desc, $"term")
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(total))
      .withColumn("score", expr("tf * n_docs div df"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 3)
      .select($"source", $"rk", $"term", $"tf", $"df", $"score")
      .orderBy($"source", $"rk")
  }

  /** Balanced language mix ([[graft.etl.Corpus.balancedSample]]): every
    * language down-sampled to the smallest language's count, survivors
    * picked by the deterministic hash order (q76's sampler with a
    * data-derived cap). */
  def q96BalancedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.etl.Corpus.balancedSample(
        Tables.documents(spark, dir).select($"doc_id", $"lang"),
        "lang", "doc_id")
      .select($"lang", $"rk", $"doc_id")
      .orderBy($"lang", $"rk")
  }

  /** The corpus-pipeline CAPSTONE: exact dedup (keep smallest id per
    * identical text) → curation funnel survivors → sha256 train/val/test
    * split → counts per (split, language). Every stage is the REAL
    * operator (window dedup, [[graft.etl.Corpus.curationDecisions]],
    * [[splitColumn]]); the oracle re-derives the whole chain in one SQL
    * statement — the corpus twin of the q44 CalculateFields composition
    * proof. Runs on the planted-duplicate corpus so the dedup stage has
    * real work at every SF. */
  def q98CorpusPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text", $"source")
    val corpus = docs.unionByName(
      docs.filter($"doc_id" % 10 === 0)
        .withColumn("doc_id", $"doc_id" + 1000000L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"text").orderBy($"doc_id")
    val deduped = corpus.withColumn("_rk", row_number().over(w))
      .filter($"_rk" === 1).drop("_rk")
    graft.etl.Corpus.curationDecisions(deduped, "doc_id", "text", "source")
      .filter($"decision" === "keep")
      .withColumn("split", splitColumn($"doc_id"))
      .groupBy($"split", $"lang_pred").agg(count(lit(1)).as("n"))
      .orderBy($"split", $"lang_pred")
  }

  /** Directed n-gram containment ([[Similarity.containmentPairs]]): pairs
    * where ≥3/4 of one doc's 3-shingles appear in the other — asymmetric
    * subset-duplication detection over the same capped candidate plan as
    * q26 (the planted exact dups score containment 1.0 both ways). */
  def q162Containment(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.containmentPairs(corpus(spark, dir), "doc_id", "text", 3)
      .orderBy($"contained_id", $"container_id")
  }

  /** Systematic PPS sampling ([[graft.etl.Corpus.ppsSystematicSample]]):
    * exactly 10 docs per language, inclusion probability proportional to
    * n_chars — the exact-count weighted shard sampler (the rate-based
    * samplers are q76/q96/q137). No RNG: the evenly-spaced boundary test
    * is pure integer arithmetic over a per-language running sum. */
  def q167PpsSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.etl.Corpus.ppsSystematicSample(
        Tables.documents(spark, dir).select($"lang", $"doc_id", $"n_chars")
          .filter($"n_chars" > 0),
        "lang", "doc_id", "n_chars", nPerGroup = 10)
      .orderBy($"lang", $"doc_id")
  }

  /** Positional phrase search ([[graft.etl.Vocab.phraseMatches]]): exact
    * adjacency counts for the phrase "batch batch" — overlapping matches
    * count separately, so "batch batch batch" contributes 2. The
    * adjacency query q89's flat postings can't answer. */
  def q173PhraseSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.etl.Vocab.phraseMatches(Tables.documents(spark, dir),
        "doc_id", "text", Seq("batch", "batch"))
      .orderBy($"doc_id")
  }

  /** Exact-total stratified sample
    * ([[graft.etl.Corpus.quotaStratifiedSample]]): 200 docs overall,
    * per-language quotas by largest remainder, rows picked in sha256(id)
    * order — hard-budget sampling where q96 fixes per-stratum n and q76
    * fixes a rate. */
  def q178QuotaSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.etl.Corpus.quotaStratifiedSample(
        Tables.documents(spark, dir).select($"lang", $"doc_id"),
        "lang", "doc_id", totalSlots = 200L)
      .select($"lang", $"doc_id", $"pick_rank")
      .orderBy($"lang", $"pick_rank")
  }

  /** Quantized-BM25 retrieval ([[graft.etl.Corpus.bm25TopK]]): top-15
    * docs for the query {spark, merge, vector} — tf saturation, length
    * norm, and the rare-term idf boost in exact fixed-point integers.
    * q95's tf-idf ranks TERMS per source; this ranks DOCUMENTS for a
    * query, the retrieval half of an IR stack. */
  def q182Bm25(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.etl.Corpus.bm25TopK(Tables.documents(spark, dir),
        "doc_id", "text", Seq("spark", "merge", "vector"), k = 15)
      .orderBy($"rk")
  }

  /** Skip-gram context pairs ([[graft.etl.Corpus.skipgramPairs]]): the
    * word2vec/GloVe training-pair extraction — ordered token pairs at
    * distance ≤ 3, counted corpus-wide, top-20 by count. The windowed
    * generalization of q77's adjacent-only collocations. */
  def q185Skipgram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"n".desc, $"a", $"b")
    graft.etl.Corpus.skipgramPairs(Tables.documents(spark, dir), "text", 3)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 20)
      .select($"rk", $"a", $"b", $"n")
      .orderBy($"rk")
  }

  /** Bigram language-model table: for the 10 most frequent context
    * tokens, the top-3 next tokens with conditional probability in bp —
    * P(b|a) = c(a,b)·10000 div Σ_b c(a,b), denominators from the SAME
    * pair counts so the distribution sums to ≤10000 exactly.
    * [[graft.etl.Corpus.skipgramPairs]] at window 1 IS the bigram
    * counter; q103 estimates the same Markov table over event streams. */
  def q189BigramLm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = graft.etl.Corpus.skipgramPairs(
      Tables.documents(spark, dir), "text", 1)
    val topCtx = pairs.groupBy($"a").agg(sum($"n").as("n_a"))
      .orderBy($"n_a".desc, $"a").limit(10)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"a").orderBy($"n".desc, $"b")
    pairs.join(broadcast(topCtx), "a")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 3)
      .select($"a", $"rk", $"b", $"n", expr("n * 10000L div n_a").as("p_bp"))
      .orderBy($"a", $"rk")
  }

  /** Mixture-weight plan ([[graft.etl.Corpus.mixtureWeights]]): the
    * largest undersample-only corpus hitting an en 50% / de 15% /
    * fr 15% / es 10% / zh 10% language blend exactly — per language the
    * row budget and the rate (in bp) to feed q137's mixtureSample. The
    * planning half of the DoReMi-style reweighting pass. */
  def q313MixtureWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.etl.Corpus.mixtureWeights(Tables.documents(spark, dir), "lang",
        Seq("en" -> 500000L, "de" -> 150000L, "fr" -> 150000L,
          "es" -> 100000L, "zh" -> 100000L))
      .orderBy($"lang")
  }

  /** ANN recall audit ([[graft.etl.Similarity.annRecallAudit]]): per
    * sampled query, the fraction of the exact top-10 the 8-bit sign-LSH
    * index (q50) actually returns vs brute force (q29) — the measured
    * recall that justifies (or rejects) the bucketing parameters before
    * an index build commits to them. */
  def q315AnnRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter($"vec_id" % 400 === 0 && $"vec_id" < 3200)
    graft.etl.Similarity.annRecallAudit(emb, queries, "vec_id",
        "embedding", k = 10, bits = 8)
      .orderBy($"query_id")
  }

  /** Matryoshka truncation-recall ladder
    * ([[graft.etl.Similarity.matryoshkaRecall]]): micro-averaged recall
    * of the full-64-dim exact top-10 when the search runs over only the
    * first 8/16/32 coordinates — the dimension-vs-recall dial read
    * before serving truncated embeddings, orthogonal to q315's
    * LSH-bucketing recall on the same protocol. */
  def q413MatryoshkaRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter($"vec_id" % 400 === 0 && $"vec_id" < 3200)
    graft.etl.Similarity.matryoshkaRecall(emb, queries, "vec_id",
        "embedding", k = 10, dims = Seq(8, 16, 32))
      .orderBy($"dim")
  }

  /** Budgeted quality-first selection
    * ([[graft.etl.Corpus.budgetedSelect]]): fill a 300k-char global
    * budget with the best-scoring documents (deterministic
    * `length(text) mod 997` score) while no source spends more than
    * 40k chars — the per-source report of what the greedy
    * two-constraint plan admits, next to q313's exact-blend planner. */
  def q414BudgetSelect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"source", $"doc_id", $"n_chars",
        (length($"text") % 997).as("score"))
    graft.etl.Corpus.budgetedSelect(docs, "source", "doc_id",
        $"n_chars", $"score", budget = 300000L, perSourceCap = 40000L)
      .orderBy($"source")
  }

  /** Kneser–Ney continuation counts: for the top-50 tokens by context
    * diversity, the raw frequency next to N1+(·w) — the number of
    * DISTINCT left contexts — and the continuation probability
    * N1+(·w)/|bigram types| in ppm. The KN insight made countable: a
    * token that appears 10k times after one fixed word ("Francisco")
    * carries less open-vocabulary mass than a rarer token seen after
    * hundreds of contexts; this is the smoothing-side companion to the
    * MLE bigram LM (q189) and PMI (q118) on the same bigram explode. */
  def q419KnContinuation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select(graft.etl.Corpus.tokensOf($"text").as("t"))
    val big = toks.select(explode(graft.etl.Corpus.bigramsOf($"t")).as("bg"))
      .select(split($"bg", " ").getItem(0).as("w1"),
        split($"bg", " ").getItem(1).as("w2"))
    val uni = toks.select(explode($"t").as("term"))
      .groupBy($"term").agg(count(lit(1)).as("freq"))
    val ctx = big.groupBy($"w2".as("term"))
      .agg(countDistinct($"w1").as("n_contexts"))
    val totalTypes = big.select($"w1", $"w2").distinct()
      .agg(count(lit(1)).as("_b"))
    ctx.join(uni, Seq("term"))
      .crossJoin(broadcast(totalTypes))
      .select($"term", $"freq", $"n_contexts",
        expr("n_contexts * 1000000 div _b").as("pcont_ppm"))
      .orderBy($"n_contexts".desc, $"term")
      .limit(50)
  }

  /** Shuffle mixing audit ([[graft.etl.Corpus.shuffleMixAudit]]): after
    * the deterministic sha256 shuffle into 8 shards, do same-source runs
    * survive? Observed runs vs the exact expected run count of a random
    * permutation of each shard's composition, ratio ≈ 1000 = healthy. */
  def q421ShuffleMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.etl.Corpus.shuffleMixAudit(
        Tables.documents(spark, dir).select($"doc_id", $"source"),
        "doc_id", "source", shards = 8)
      .orderBy($"shard")
  }

  /** Dedup threshold sweep: the q26 candidate-pair engine swept over
    * Jaccard cutoffs 50–100% — pairs flagged and documents touched at
    * each τ, the tuning table that picks the dedup threshold BEFORE the
    * full run commits to one (the dial q330's cap audit measures from
    * the other side). */
  def q422DedupSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // checkpointed: the sweep reads the pair table twice (pair counts,
    // doc census) — un-pinned each leg re-ran the whole shingle engine
    val pairs = Similarity.ngramJaccardPairs(corpus(spark, dir),
        "doc_id", "text", 3)
      .filter($"inter" * 2 >= $"union_size")
      .select($"id_a", $"id_b",
        expr("inter * 10000 div union_size").as("jbp"))
      .localCheckpoint()
    // taus are thresholds, so a pair hits every tau <= its jbp and a doc
    // hits every tau <= its max incident jbp: 6 conditional sums in ONE
    // pass each replace the former tau crossJoin (x6 the pair volume
    // through the shuffle) + per-tau countDistinct — identical counts,
    // proven against the unchanged oracle
    val taus = Seq(5000, 6000, 7000, 8000, 9000, 10000)
    def hits(c: Column) = taus.map(t =>
      sum(when(c >= t, 1L).otherwise(0L)).as(s"_h$t"))
    val np = pairs.agg(hits($"jbp").head, hits($"jbp").tail: _*)
    val nd = pairs.select($"id_a".as("d"), $"jbp")
      .unionByName(pairs.select($"id_b".as("d"), $"jbp"))
      .groupBy($"d").agg(max($"jbp").as("_mj"))
      .agg(hits($"_mj").head, hits($"_mj").tail: _*)
    val stackArgs = taus.map(t => s"${t}L, _h$t").mkString(", ")
    def unstack(df: DataFrame, out: String) = df.select(
      expr(s"stack(${taus.size}, $stackArgs) AS (tau, $out)"))
    unstack(np, "n_pairs")
      .join(unstack(nd, "n_docs"), Seq("tau"))
      .select($"tau".cast("int").as("tau"), $"n_pairs", $"n_docs")
      .orderBy($"tau")
  }

  /** Empirical LSH S-curve: for the 8-band × 4-row MinHash banding
    * (q27's parameters), the MEASURED collision rate per exact-Jaccard
    * decile — the empirical answer the theoretical band plan (q344,
    * 1−(1−s^r)^b) predicts, on this corpus's actual pairs. No Jaccard
    * floor — the low deciles the banding SHOULD reject are measured too
    * (that rejection rate is the left half of the S) — but the pair set
    * enters through a 1-in-20 deterministic hash sample, and signatures
    * are computed only for docs the sample touches: an audit estimates a
    * RATE per decile, so sampling pairs is the honest scale lever (the
    * unsampled spelling measured 27 s at sf0.1 / 243 s at 10×). Since
    * round 8 the sample predicate rides
    * [[graft.etl.Similarity.ngramJaccardPairsSampled]], which applies it
    * INSIDE the pair engine — post-bucket-emission, pre-intersection-agg
    * — so the pair-count shuffle itself carries only 1/20 of the pairs
    * (a post-hoc filter on the finished pair table cannot be pushed by
    * Catalyst below the Generate that emits them). Same-box A/B
    * (sf0.1, local[32], 2026-08-15): identical 68227 output rows, pair
    * stage 2.64 -> 2.52 s — the pushdown is a scale guarantee more than a
    * local win, because the query's cost is the 32-perm sha2 signature
    * stage (~7 s of the budget; the columnar-stack alternative measured
    * only ~6% better the same day — the work IS the engine-neutral
    * sha2 hashing, not the row inflation). A pair collides when
    * ALL 4 rows of any band match.
    * Engine-neutral sha-LANE permutations ([[shaLaneSigs]]: 32 perms
    * from 4 digests, 8 independent 32-bit lanes each — sig stage
    * 7.8 → 5.2 s vs one-digest-per-perm, sf0.1, local[32], 2026-08-15),
    * long-format signatures (same recipe as q442/q472 — the audits
    * share one contract; a sigs-side localCheckpoint was tried and
    * REJECTED: AQE exchange reuse already shares the agg subtree
    * between the two banding joins, and the eager materialization
    * measured +5 s). */
  def q450ScurveEmpirical(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = corpus(spark, dir)
    val sample = (a: Column, b: Column) =>
      (conv(substring(sha2(concat(a.cast("string"), lit(":"),
        b.cast("string")), 256), 1, 4), 16, 10).cast("long") % 20) === 0
    val pairs = Similarity.ngramJaccardPairsSampled(docs, "doc_id", "text", 3,
        sample)
      .select($"id_a", $"id_b",
        expr("inter * 10000 div union_size").as("jbp"))
      .localCheckpoint()
    val touched = pairs.select($"id_a".as("doc_id"))
      .unionByName(pairs.select($"id_b".as("doc_id"))).distinct()
    val shingles = graft.etl.Parallelism
      .spread(docs.join(touched, Seq("doc_id"), "left_semi"))
      .select($"doc_id",
        explode(array_distinct(call_function("word_shingles", $"text",
          lit(3)))).as("s"))
    val sigs = shaLaneSigs(shingles)
    val banded = pairs
      .join(sigs.select($"doc_id".as("id_a"), $"i", $"mh".as("ha")),
        Seq("id_a"))
      .join(sigs.select($"doc_id".as("id_b"), $"i", $"mh".as("hb")),
        Seq("id_b", "i"))
      .groupBy($"id_a", $"id_b", $"jbp", expr("i div 4").as("band"))
      .agg(sum(when($"ha" === $"hb", 1L).otherwise(0L)).as("eq"))
      .groupBy($"id_a", $"id_b", $"jbp")
      .agg(max(when($"eq" === 4, 1L).otherwise(0L)).as("collided"))
    banded.groupBy(expr("least(jbp div 1000, 9)").as("decile"))
      .agg(count(lit(1)).as("n_pairs"), sum($"collided").as("n_collided"))
      .select($"decile", $"n_pairs", $"n_collided",
        expr("n_collided * 10000 div n_pairs").as("rate_bp"))
      .orderBy($"decile")
  }

  /** Cross-language vocabulary overlap: Jaccard (bp) of the top-100
    * token vocabularies per language pair — the shared-subword signal
    * that decides whether two languages can share a tokenizer budget
    * (and the confusability map under the q30 stopword classifier:
    * high-overlap pairs are exactly where it errs). Top-100 per lang is
    * a bounded set, so the pair join is trivially broadcastable. */
  def q454VocabOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(spark, dir)
      .select($"lang", explode(graft.etl.Corpus.tokensOf($"text")).as("term"))
      .groupBy($"lang", $"term").agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy($"lang").orderBy($"tf".desc, $"term")
    val top = tf.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 100).select($"lang", $"term")
    val a = top.select($"lang".as("lang_a"), $"term")
    val b = top.select($"lang".as("lang_b"), $"term")
    val inter = a.join(b, Seq("term")).filter($"lang_a" < $"lang_b")
      .groupBy($"lang_a", $"lang_b").agg(count(lit(1)).as("n_shared"))
    val sizes = top.groupBy($"lang").agg(count(lit(1)).as("n"))
    inter
      .join(sizes.select($"lang".as("lang_a"), $"n".as("na")), Seq("lang_a"))
      .join(sizes.select($"lang".as("lang_b"), $"n".as("nb")), Seq("lang_b"))
      .select($"lang_a", $"lang_b", $"n_shared",
        expr("n_shared * 10000 div (na + nb - n_shared)").as("jaccard_bp"))
      .orderBy($"lang_a", $"lang_b")
  }

  /** Whale-impact audit: per event type, the mean spend with and
    * without the top-10 largest events — `impact_bp` is how much of
    * the headline mean those whales carry. A metric whose mean moves
    * hundreds of bp when 10 rows leave is a metric the experiment
    * readouts (q377/q311) cannot trust without winsorization (q121) —
    * this is the table that says WHICH metrics those are. Exact milli
    * means. The trimmed side is computed as TOTALS MINUS THE TOP-10
    * (a rank<=10 filter plans WindowGroupLimit: per-input-partition
    * top-k heaps run BEFORE the type shuffle, so the window never
    * sorts a whole type in one task - the rk>10 spelling it replaces
    * did exactly that). */
  def q455WhaleImpact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
      .filter($"value".isNotNull && $"value" >= 0)
      .select($"event_type", $"event_id",
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
    val w = Window.partitionBy($"event_type").orderBy($"v".desc, $"event_id")
    val tot = e.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"v").as("_s"))
    val top = e.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 10)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("_n_top"), sum($"v").as("_s_top"))
    tot.join(broadcast(top), "event_type")
      .withColumn("_s_trim", $"_s" - $"_s_top")
      .withColumn("_n_trim", $"n" - $"_n_top")
      .filter($"_n_trim" > 0)
      .withColumn("mean_milli", expr(
        "CAST(CAST(_s AS DECIMAL(38,0)) * 1000 div n AS BIGINT)"))
      .withColumn("mean_trim_milli", expr(
        "CAST(CAST(_s_trim AS DECIMAL(38,0)) * 1000 div _n_trim AS BIGINT)"))
      .select($"event_type", $"n", $"mean_milli", $"mean_trim_milli",
        expr("CAST((CAST(mean_milli - mean_trim_milli AS DECIMAL(38,0))) " +
          "* 10000 div NULLIF(mean_milli, 0) AS BIGINT)").as("impact_bp"))
      .orderBy($"event_type")
  }

  /** Dedup-induced mixture drift: exact dedup removes more from the
    * sources that duplicate more, silently RESHAPING the training blend
    * — per source, the corpus share before and after the q25 keep-first
    * pass and the signed delta in bp. The q441 attribution says who
    * lost documents; this says what that did to the mixture the
    * (q313) blend planner was tuned against. One hash-group window +
    * one aggregate + two one-row broadcast totals. */
  def q449DedupMixShift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"text").orderBy($"doc_id")
    val marked = Tables.documents(spark, dir)
      .select($"source", $"doc_id", $"text")
      .withColumn("_keep", row_number().over(w) === 1)
    val per = marked.groupBy($"source")
      .agg(count(lit(1)).as("n_before"),
        sum(when($"_keep", 1L).otherwise(0L)).as("n_after"))
    val tot = per.agg(sum($"n_before").as("_tb"), sum($"n_after").as("_ta"))
    per.crossJoin(broadcast(tot))
      .select($"source", $"n_before", $"n_after",
        expr("n_before * 10000 div _tb").as("share_before_bp"),
        expr("n_after * 10000 div _ta").as("share_after_bp"),
        expr("n_after * 10000 div _ta - n_before * 10000 div _tb")
          .as("delta_bp"))
      .orderBy($"source")
  }

  /** Int8-quantization recall audit: exact top-10 (milli-quantized
    * dots, the corpus standard) vs top-10 scored on the SERVING int8
    * vectors (q79's 127/max|x| floor quantization) — the third rung of
    * the compression-dial trilogy next to dimension truncation (q413)
    * and LSH bucketing (q315): dims, bits, buckets each trade recall
    * for bytes, and each gets measured, not assumed. Micro-averaged
    * one-row readout; int8 scoring reuses the native qdot path. */
  def q447Int8Recall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter($"vec_id" % 400 === 0 && $"vec_id" < 3200)
    val truth = Similarity.bruteForceTopK(emb, queries, "vec_id",
      "embedding", 10)
    val int8 = emb.select($"vec_id",
      expr("transform(embedding, x -> CAST(floor(x * (CASE WHEN " +
        "array_max(transform(embedding, y -> abs(y))) = 0 THEN 0.0 ELSE " +
        "CAST(127.0 AS DOUBLE) / array_max(transform(embedding, " +
        "y -> abs(y))) END)) AS BIGINT))").as("q8"))
    val q8q = int8.join(queries.select($"vec_id"), Seq("vec_id"))
      .select($"vec_id".as("query_id"), $"q8".as("qq"))
    val w = Window.partitionBy($"query_id").orderBy($"dot".desc, $"nn_id")
    val approx = int8.join(broadcast(q8q), $"query_id" =!= $"vec_id")
      .select($"query_id", $"vec_id".as("nn_id"),
        Similarity.qdot($"qq", $"q8").as("dot"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 10)
      .select($"query_id", $"nn_id")
    truth.select($"query_id", $"nn_id")
      .join(approx.withColumn("_d", lit(1)), Seq("query_id", "nn_id"),
        "left")
      .agg(countDistinct($"query_id").as("n_queries"),
        count($"_d").as("hits"), count(lit(1)).as("n_exact"))
      .select($"n_queries", $"hits", $"n_exact",
        expr("hits * 10000 div n_exact").as("recall_bp"))
  }

  /** Hash-uniformity meta-audit: χ² of the repo-standard sha256-prefix
    * bucket recipe against uniform over 100 buckets, for the two key
    * populations every sampler/splitter in this engine hashes (doc_id,
    * distinct user_id) — the audit that EARNS the "deterministic hash ≈
    * uniform" assumption the train splits, samplers, and partition
    * forecasts all stand on. χ²(df=99) ≈ 99 ± 14, so chi2_milli far
    * above ~130000 means the recipe is biased for that key shape.
    * Exact: Σ(100·o − n)²·1000 div (100·n). */
  def q448HashUniformity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def audit(keys: DataFrame, name: String) = {
      val b = keys.select(expr(
        "CAST(conv(substring(sha2(CAST(k AS STRING), 256), 1, 4), 16, 10)" +
          " AS BIGINT) % 100").as("b"))
        .groupBy($"b").agg(count(lit(1)).as("o"))
      b.agg(count(lit(1)).as("n_buckets"), sum($"o").as("n"),
          sum(expr("CAST(100 * o AS DECIMAL(38,0)) * (100 * o)")).as("_so2"),
          sum(expr("CAST(o AS DECIMAL(38,0))")).as("_s1"))
        .select(lit(name).as("population"), $"n_buckets", $"n",
          // over ALL 100 cells (absent buckets contribute n² each):
          // Σ(100o − n)² = 10⁴Σo² − 200n·Σo + 100n², Σo = n
          expr("CAST((_so2 - 2 * 100 * CAST(n AS DECIMAL(38,0)) * n " +
            "+ 100 * CAST(n AS DECIMAL(38,0)) * n) * 1000 " +
            "div (100 * CAST(n AS DECIMAL(38,0))) AS BIGINT)")
            .as("chi2_milli"))
    }
    val docs = Tables.documents(spark, dir).select($"doc_id".as("k"))
    val users = Tables.events(spark, dir)
      .filter($"user_id".isNotNull && $"user_id" >= 0)
      .select($"user_id".as("k")).distinct()
    audit(docs, "doc_id").unionByName(audit(users, "user_id"))
      .orderBy($"population")
  }

  /** Per-source ranking AUC of the length score against the usefulness
    * label — AUC = U/(n₁n₀) through the exact Mann–Whitney rank-sum
    * identity (doubled mid-ranks, so ties stay integral and
    * auc_bp = (2R₁ − n₁(n₁+1))·10⁴ div (2n₁n₀) is engine-exact). The
    * global AUC (q140) says the ranker works; this per-source table
    * says FOR WHOM — the ranking companion to the q415 rate gaps. */
  def q445GroupAuc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, dir)
      .select($"source", $"n_chars".as("score"),
        (expr("conv(substring(sha2(CAST(doc_id AS STRING), 256), 1, 4), 16, 10)").cast("long") % 4 =!= 0).as("y"))
    // doubled mid-rank per VALUE: r_x2(v) = 2*(#smaller) + c_v + 1,
    // read off a per-(source, score) count histogram - the cumsum runs
    // over distinct score values (bounded domain), never a row-grain
    // rank partitioned by the ~20-value source key
    val wv = Window.partitionBy($"source").orderBy($"score")
      .rowsBetween(Window.unboundedPreceding, -1)
    val hist = d.groupBy($"source", $"score")
      .agg(count(lit(1)).as("_c"))
      .withColumn("_before", coalesce(sum($"_c").over(wv), lit(0L)))
      .withColumn("r_x2", $"_before" * 2L + $"_c" + 1L)
      .select($"source", $"score", $"r_x2")
    val ranked = d.join(hist, Seq("source", "score"))
    ranked.groupBy($"source")
      .agg(sum(when($"y", 1L).otherwise(0L)).as("n_pos"),
        sum(when(!$"y", 1L).otherwise(0L)).as("n_neg"),
        sum(when($"y", $"r_x2")).as("_r1"))
      .filter($"n_pos" > 0 && $"n_neg" > 0)
      .select($"source", $"n_pos", $"n_neg",
        expr("(_r1 - n_pos * (n_pos + 1)) * 10000 " +
          "div (2 * n_pos * n_neg)").as("auc_bp"))
      .orderBy($"source")
  }

  /** Embedding isotropy per label: ‖Σx‖²·10⁶ div (n·Σ‖x‖²) — the share
    * of total vector energy living in the mean direction. Isotropic
    * (healthy, spread-out) embeddings read near 0; a collapsed cluster
    * reads toward 10⁶ — the cheap rank-collapse tripwire read before
    * any cosine-based retrieval is trusted, exact over the quantized
    * vectors (both norms are integer dots). One posexplode aggregate
    * for Σx per dim, one scan for Σ‖x‖². */
  def q446Isotropy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.embeddings(spark, dir)
      .select($"label", Similarity.quantize($"embedding").as("q"))
    val norms = base.groupBy($"label")
      .agg(count(lit(1)).as("n"),
        sum(Similarity.qdot($"q", $"q")).as("_e"))
    val mean2 = base
      .select($"label", posexplode($"q").as(Seq("dim", "v")))
      .groupBy($"label", $"dim").agg(sum($"v").as("s"))
      .groupBy($"label")
      .agg(sum(expr("CAST(s AS DECIMAL(38,0)) * s")).as("_m2"))
    norms.join(mean2, Seq("label"))
      .select($"label", $"n", $"_e".as("energy"),
        expr("CAST(_m2 * 1000000 div (CAST(n AS DECIMAL(38,0)) * _e) " +
          "AS BIGINT)").as("isotropy_ppm"))
      .orderBy($"label")
  }

  /** Dead-dimension audit: the 5 LOWEST-variance embedding dimensions
    * per label, exact integer variance in micro over quantized values
    * (var_micro = (n·Σq² − (Σq)²) div n²) — the rank-collapse readout at
    * per-dimension granularity, next to q446's whole-vector isotropy: a
    * dimension whose variance pins near zero inside one class carries no
    * signal there and is a distillation/pruning candidate. posexplode →
    * one (label, dim) aggregation, top-k via per-label window on the
    * |labels|·dims aggregate (data-size-independent). */
  def q459DimVariance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val q = Tables.embeddings(spark, dir)
      .select($"label", posexplode(Similarity.quantize($"embedding")))
      .toDF("label", "dim", "v")
    val per = q.groupBy($"label", $"dim")
      .agg(count(lit(1)).as("n"), sum($"v").as("s"),
        sum($"v" * $"v").as("s2"))
      // decimal(38,0) cross-multiply: n·Σq² reaches long overflow near
      // n ≈ 3e6 rows/label at 1000-quantization — real at corpus scale
      .withColumn("var_micro",
        expr("CAST((CAST(n AS DECIMAL(38,0)) * s2 - " +
          "CAST(s AS DECIMAL(38,0)) * s) div " +
          "(CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"))
    val w = Window.partitionBy($"label").orderBy($"var_micro", $"dim")
    per.withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 5)
      .select($"label", $"rk", $"dim".cast("long").as("dim"), $"n",
        $"var_micro")
      .orderBy($"label", $"rk")
  }

  /** MinHash ESTIMATOR error audit: on the exact-verified q26 near-dup
    * pairs, compare the 32-perm MinHash Jaccard estimate
    * (matching-mins/32) against exact Jaccard, per pair — the audit
    * that separates "banding missed it" (q27's recall story) from "the
    * estimate itself is off at 32 perms" (this one; ±1/32 ≈ 312 bp
    * granularity is the theory floor). Permutation hashes use the
    * engine-neutral sha256-prefix recipe, long-format (doc, perm, min)
    * signatures so both engines join/aggregate identically; an audit
    * runs on candidates, never the full corpus. The pair plan is
    * materialized once (it feeds both the member-id filter and the
    * final join), and signatures are computed ONLY for pair members —
    * the 32-perm sha256 fan-out over non-candidate docs was pure waste
    * (measured 8.1 s → 5.9 s at sf0.1; the floor left is the exact
    * pair engine itself). */
  def q442MinhashEstError(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = corpus(spark, dir)
    val pairs = Similarity.ngramJaccardPairs(docs, "doc_id", "text", 3)
      .filter($"inter" * 2 >= $"union_size")
      .select($"id_a", $"id_b",
        expr("inter * 10000 div union_size").as("exact_bp"))
      .localCheckpoint()
    val members = pairs.select($"id_a".as("doc_id"))
      .unionByName(pairs.select($"id_b".as("doc_id"))).distinct()
    val shingles = graft.etl.Parallelism
      .spread(docs.join(broadcast(members), Seq("doc_id"), "left_semi"))
      .select($"doc_id",
        explode(array_distinct(call_function("word_shingles", $"text",
          lit(3)))).as("s"))
    val sigs = shaLaneSigs(shingles)
    val est = pairs
      .join(sigs.select($"doc_id".as("id_a"), $"i", $"mh".as("ha")), Seq("id_a"))
      .join(sigs.select($"doc_id".as("id_b"), $"i", $"mh".as("hb")),
        Seq("id_b", "i"))
      .groupBy($"id_a", $"id_b", $"exact_bp")
      .agg(sum(when($"ha" === $"hb", 1L).otherwise(0L)).as("matches"))
    est.select($"id_a", $"id_b", $"exact_bp",
        expr("matches * 10000 div 32").as("est_bp"),
        expr("abs(matches * 10000 div 32 - exact_bp)").as("abs_err_bp"))
      .orderBy($"id_a", $"id_b")
  }

  /** Split-document reassembly candidates: documents whose LAST 8 tokens
    * equal another document's FIRST 8 tokens — the seam signature of a
    * crawler or chunker that split one source document into consecutive
    * pieces. A keyed equi-join on the seam string (no hashing needed —
    * the string IS the key), ≥16-token docs only so head and tail can't
    * overlap inside one doc. */
  def q443SplitReassembly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val whole = Tables.documents(spark, dir)
      .select($"doc_id", graft.etl.Corpus.tokensOf($"text").as("tk"))
      .withColumn("n", size($"tk"))
    // synthetic split feed (the corpusSql-mirror trick): every ≥32-token
    // doc also arrives as two overlapping pieces — [1..20] and [13..n] —
    // whose 8-token seam the reassembly join must recover
    val base = whole.filter($"n" >= 32)
    val p1 = base.select(($"doc_id" + 2000000).as("doc_id"),
      slice($"tk", 1, 20).as("tk"))
    val p2 = base.select(($"doc_id" + 3000000).as("doc_id"),
      expr("slice(tk, 13, n - 12)").as("tk"))
    val t = whole.select($"doc_id", $"tk").unionByName(p1).unionByName(p2)
      .filter(size($"tk") >= 16)
    val heads = t.select($"doc_id".as("next_id"),
      array_join(slice($"tk", 1, 8), " ").as("seam"))
    val tails = t.select($"doc_id".as("prev_id"),
      array_join(slice($"tk", -8, 8), " ").as("seam"))
    tails.join(heads, Seq("seam"))
      .filter($"prev_id" =!= $"next_id")
      .select($"prev_id", $"next_id", $"seam")
      .sortedOnce($"prev_id", $"next_id")
  }

  /** Attribute-filtered ANN: exact top-5 nearest SAME-LABEL vectors per
    * sampled query — the filtered-vector-search shape every retrieval
    * stack needs (metadata predicate + similarity), where post-filtering
    * a global top-k silently under-fills. The label filter rides in the
    * join condition so pruning happens before scoring, queries
    * broadcast. */
  def q444FilteredAnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"label", Similarity.quantize($"embedding").as("q"))
    val queries = emb.filter($"vec_id" % 400 === 0 && $"vec_id" < 3200)
      .select($"vec_id".as("query_id"), $"label".as("qlabel"),
        $"q".as("qq"))
    val scored = emb.join(broadcast(queries),
        $"label" === $"qlabel" && $"query_id" =!= $"vec_id")
      .select($"query_id", $"vec_id".as("nn_id"), $"label",
        Similarity.qdot($"qq", $"q").as("dot"))
    val w = Window.partitionBy($"query_id").orderBy($"dot".desc, $"nn_id")
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .select($"query_id", $"rank", $"nn_id", $"label", $"dot")
      .orderBy($"query_id", $"rank")
  }

  /** Simpson diversity of the language mix per source:
    * λ_ppm = Σ n_i(n_i−1) · 10⁶ div (N(N−1)) — the probability two
    * random documents from the source share a language, integer-exact
    * with NO logarithms (the reason to read it next to the Shannon
    * readouts q145/q325, which quantize through log₂ floors). High λ =
    * a monoculture source; `richness` counts the languages present. */
  def q440SimpsonDiversity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .groupBy($"source", $"lang").agg(count(lit(1)).as("_n"))
      .groupBy($"source")
      .agg(count(lit(1)).as("richness"), sum($"_n").as("n_docs"),
        sum(expr("CAST(_n AS DECIMAL(38,0)) * (_n - 1)")).as("_same"))
      .filter($"n_docs" >= 2)
      .select($"source", $"richness", $"n_docs",
        expr("CAST(_same * 1000000 div (CAST(n_docs AS DECIMAL(38,0)) " +
          "* (n_docs - 1)) AS BIGINT)").as("lambda_ppm"))
      .orderBy($"source")
  }

  /** Duplicate-mass attribution: which SOURCES contribute the exact-dup
    * losses the q25 dedup removes? Per source: docs, survivors (first
    * doc_id per byte-identical text keeps), dropped count and share bp,
    * plus the chars the drop saves — the table that turns "dedup removed
    * 7%" into "feed X republishes feed Y". One hash-group window, one
    * aggregate. */
  def q441DupAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"text").orderBy($"doc_id")
    Tables.documents(spark, dir)
      .select($"source", $"doc_id", $"text", $"n_chars")
      .withColumn("_rk", row_number().over(w))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"_rk" === 1, 1L).otherwise(0L)).as("n_kept"),
        sum(when($"_rk" =!= 1, $"n_chars").otherwise(0L)).as("chars_dropped"))
      .select($"source", $"n_docs", $"n_kept",
        ($"n_docs" - $"n_kept").as("n_dropped"),
        expr("(n_docs - n_kept) * 10000 div n_docs").as("dropped_bp"),
        $"chars_dropped")
      .orderBy($"source")
  }

  /** Diagonal-Mahalanobis outlier screen
    * ([[graft.etl.Similarity.diagMahalanobisOutliers]]): the 20 vectors
    * farthest from their OWN label's per-dimension moments — the
    * mislabeled-row / encoder-stray shortlist a cleaning pass reviews
    * first, integer-exact milli z² per the helper contract. */
  def q438MahalanobisOutliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.diagMahalanobisOutliers(
      Tables.embeddings(spark, dir), "vec_id", "embedding", "label", k = 20)
  }

  /** Trending-term drift: χ² of each term's document frequency between
    * the even/odd document halves, top-50 movers — the corpus-monitoring
    * readout that names WHICH terms a distribution shift (q256/q273
    * measure only how much) is made of. Exact integer χ² cross-multiply
    * (same 2×2 construction as q130) over per-half df counts; terms
    * must appear in ≥ 5 docs so one-off tokens can't crowd the board. */
  def q436TermDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val df = Tables.documents(spark, dir)
      .select($"doc_id", ($"doc_id" % 2 === 0).as("even"),
        explode(array_distinct(graft.etl.Corpus.tokensOf($"text")))
          .as("term"))
    val halves = Tables.documents(spark, dir)
      .agg(sum(when($"doc_id" % 2 === 0, 1L).otherwise(0L)).as("n1"),
        sum(when($"doc_id" % 2 =!= 0, 1L).otherwise(0L)).as("n2"))
    df.groupBy($"term")
      .agg(sum(when($"even", 1L).otherwise(0L)).as("df1"),
        sum(when(!$"even", 1L).otherwise(0L)).as("df2"))
      .filter($"df1" + $"df2" >= 5)
      .crossJoin(broadcast(halves))
      // chi2 = N (ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)) on the 2x2
      // [df1, n1-df1; df2, n2-df2], milli-scaled
      .withColumn("_num", expr(
        "CAST(df1 AS DECIMAL(38,0)) * (n2 - df2) " +
          "- CAST(df2 AS DECIMAL(38,0)) * (n1 - df1)"))
      .withColumn("_den", expr(
        "CAST(df1 + df2 AS DECIMAL(38,0)) * (n1 + n2 - df1 - df2) " +
          "* n1 * n2"))
      .filter($"_den" > 0)
      .select($"term", $"df1", $"df2",
        expr("CAST(CAST(n1 + n2 AS DECIMAL(38,0)) * _num * _num * 1000 " +
          "div _den AS BIGINT)").as("chi2_milli"))
      .orderBy($"chi2_milli".desc, $"term")
      .limit(50)
  }

  /** CSV ingestion with quarantine — the PERMISSIVE-parse contract a
    * file-feed pipeline needs: rows round-trip through real CSV text
    * (synthesized in-memory, the q40–q43 JSON-adapter trick), every
    * 97th order's price field is corrupted to a non-numeric token, and
    * `from_csv` must park exactly those rows in the corrupt-record
    * column while parsing the rest — reported as a (status, rows,
    * example) quarantine summary. Scan-shaped; no UDFs, the parser is
    * Spark's native CSV reader. */
  def q437CsvQuarantine(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lines = Tables.orders(spark, dir)
      .select(concat_ws(",", $"o_orderkey", $"o_custkey",
        when($"o_orderkey" % 97 === 0, lit("xx"))
          .otherwise(expr("CAST(round(o_totalprice * 100) AS BIGINT)")
            .cast("string"))).as("line"))
    val parsed = lines.select(from_csv($"line",
      org.apache.spark.sql.types.StructType.fromDDL(
        "k BIGINT, c BIGINT, p BIGINT, _corrupt_record STRING"),
      Map("mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> "_corrupt_record")).as("r"))
    parsed.select($"r.k", $"r._corrupt_record".isNotNull.as("corrupt"))
      .groupBy($"corrupt")
      .agg(count(lit(1)).as("n_rows"), min($"k").as("min_key"))
      .orderBy($"corrupt")
  }

  /** Late-interaction MaxSim retrieval (the ColBERT scoring shape): each
    * 64-dim vector splits into 8 contiguous 8-dim sub-vectors ("token"
    * vectors); score(q, d) = Σ_i max_j ⟨q_i, d_j⟩ — every query
    * sub-vector finds its best document sub-vector, then the maxima sum.
    * Catches partial/aspect matches a single pooled dot flattens. Top-5
    * per sampled query; integer dots via the quantized vectors, queries
    * broadcast, corpus scanned once — the sub-vector max runs inside a
    * per-pair HOF fold, no explode of the corpus side. The query panel
    * is a FIXED COUNT (the literal id bound vec_id < 3200 keeps the first
    * 8 panel multiples), not a rate: rate-sampled queries grow with the
    * corpus and turn queries × corpus-scan quadratic — the round-9 10×
    * sweep caught exactly that here (9.2× wall growth at 10× data
    * before the cap, ~2.4× after). The same literal bound caps EVERY
    * ANN/retrieval query panel (q29/q50/q51/q315/q327/q372/q395/q400/
    * q403/q413/q444/q447) — pure pushdown filter, no sort job, oracle
    * mirrors it verbatim. */
  def q433Maxsim(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", Similarity.quantize($"embedding").as("q"))
    val queries = emb.filter($"vec_id" % 400 === 0 && $"vec_id" < 3200)
      .select($"vec_id".as("query_id"), $"q".as("qq"))
    // Σ_i max_j dot(slice(qq, i), slice(dq, j)) as one nested fold
    val score = expr(
      "aggregate(sequence(0, 7), CAST(0 AS BIGINT), (acc, i) -> acc + " +
        "aggregate(sequence(0, 7), CAST(-4611686018427387904 AS BIGINT), " +
        "(m, j) -> greatest(m, qdot(slice(qq, i * 8 + 1, 8), " +
        "slice(q, j * 8 + 1, 8)))))")
    val scored = emb.join(broadcast(queries), $"query_id" =!= $"vec_id")
      .select($"query_id", $"vec_id".as("nn_id"), score.as("maxsim"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"maxsim".desc, $"nn_id")
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .select($"query_id", $"rank", $"nn_id", $"maxsim")
      .orderBy($"query_id", $"rank")
  }

  /** Transitivity audit of the near-dup relation: at the q26 Jaccard-0.5
    * threshold, how often does a~b ∧ b~c come WITHOUT a~c? The open-
    * wedge rate is the honest measure of how much a threshold relation
    * deviates from the equivalence the dedup-cluster step (q66) then
    * imposes on it — high openness means cluster resolution is merging
    * documents no pairwise test ever matched. Wedge counting per center
    * node (Σ C(deg,2)) plus one pair-set self-join for closed wedges —
    * never an explicit triple enumeration. */
  def q434DedupTransitivity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // localCheckpoint: the pair plan feeds FOUR consumers (degree census,
    // the two triangle passes, the edge count) — without the barrier each
    // re-runs the whole shingle pipeline (measured 8.5 s -> the pair cost
    // once)
    val pairs = Similarity.ngramJaccardPairs(corpus(spark, dir),
        "doc_id", "text", 3)
      .filter($"inter" * 2 >= $"union_size")
      .select($"id_a", $"id_b")
      .localCheckpoint()
    // skew-safe per-node triangle counts (compact-forward orientation);
    // each triangle is counted once at each of its 3 nodes, so the sum
    // IS the closed-wedge count
    val closed = graft.etl.Graph.triangleCounts(pairs, "id_a", "id_b")
      .agg(coalesce(sum($"triangles"), lit(0L)).as("n_closed"))
    val deg = pairs.select($"id_a".as("u"))
      .unionByName(pairs.select($"id_b".as("u")))
      .groupBy($"u").agg(count(lit(1)).as("d"))
    val wedges = deg.agg(coalesce(
      sum(expr("CAST(d AS DECIMAL(38,0)) * (d - 1) div 2")), lit(0))
      .cast("long").as("n_wedges"))
    pairs.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(wedges)).crossJoin(broadcast(closed))
      .select($"n_edges", $"n_wedges", $"n_closed",
        expr("CASE WHEN n_wedges > 0 THEN " +
          "(n_wedges - n_closed) * 10000 div n_wedges END").as("open_bp"))
  }

  /** Uncertainty sampling for annotation: the 30 documents whose q30
    * language-ID margin (top score minus runner-up, via the native
    * `lang_hits` scorer) is smallest — the active-learning batch a
    * labeling budget buys first, where the classifier is least sure.
    * Ties break on doc_id; margin and top score emitted for the
    * annotator triage view. */
  def q435UncertainSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id",
        expr("sort_array(lang_hits(text), false)").as("_s"))
      .select($"doc_id", element_at($"_s", 1).as("top_score"),
        (element_at($"_s", 1) - element_at($"_s", 2)).as("margin"))
      .orderBy($"margin".asc, $"top_score".desc, $"doc_id")
      .limit(30)
  }

  /** Compressibility proxy: distinct-to-total character 4-gram ratio per
    * document — the cheap stand-in for "would gzip crush this?" that
    * screens template/boilerplate junk BEFORE paying for tokenization
    * (low ratio = highly repetitive). Complements the token-level
    * repetition stats (q75): char grams catch sub-token repetition
    * (AAAA…, markup runs) that whitespace tokens hide. Pure scan via the
    * native codegen expression [[graft.plans.DistinctNgrams]] (grams
    * pack exactly into longs — the HOF spelling it replaces was the
    * slowest per-row cost of the session at 4.0 s on sf0.1). */
  def q429CompressProxy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .filter(length($"text") >= 4)
      .select($"doc_id",
        (length($"text") - 3).cast("long").as("n_grams"),
        call_function("distinct_ngrams", $"text", lit(4)).as("n_distinct"))
      .select($"doc_id", $"n_grams", $"n_distinct",
        expr("n_distinct * 10000 div n_grams").as("distinct_bp"))
      .orderBy($"doc_id")
  }

  /** One Dawid–Skene half-step over the q408 annotator panel: resolve
    * each unit's label by majority vote (ties to the lexicographically
    * smallest candidate — deterministic), then score each annotator's
    * agreement with the consensus in bp. Where Krippendorff (q408)
    * MEASURES panel quality, this RESOLVES the labels and ranks the
    * raters — the step that decides whose labels to trust at weight > 0
    * in the next pass. */
  def q430LabelResolution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", $"source")
    val a = docs.select(lit("a").as("rater"), $"doc_id", $"lang".as("label"))
    val b = docs.filter($"doc_id" % 2 === 0)
      .select(lit("b").as("rater"), $"doc_id",
        when($"doc_id" % 5 === 0,
          concat(lit("l"), ($"doc_id" % 3).cast("string")))
          .otherwise($"lang").as("label"))
    val c = docs.filter($"doc_id" % 3 === 0)
      .select(lit("c").as("rater"), $"doc_id",
        when($"doc_id" % 11 === 0, lit("xx")).otherwise($"lang").as("label"))
    val ratings = a.unionByName(b).unionByName(c)
    val wv = Window.partitionBy($"doc_id")
      .orderBy($"cnt".desc, $"label".asc)
    val consensus = ratings.groupBy($"doc_id", $"label")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(wv))
      .filter($"rk" === 1)
      .select($"doc_id", $"label".as("consensus"))
    ratings.join(consensus, Seq("doc_id"))
      .groupBy($"rater")
      .agg(count(lit(1)).as("n_rated"),
        sum(when($"label" === $"consensus", 1L).otherwise(0L)).as("n_agree"))
      .select($"rater", $"n_rated", $"n_agree",
        expr("n_agree * 10000 div n_rated").as("agree_bp"))
      .orderBy($"rater")
  }

  /** Per-label embedding centroid shift between the even/odd vector
    * halves: ‖μ_even − μ_odd‖² as an exact integer cross-multiply over
    * the quantized vectors — Σ_d (s1_d·n2 − s2_d·n1)² with the (n1·n2)²
    * denominator reported alongside. The per-class twin of the global
    * MMD screen (q384): a label whose halves disagree is drifting or
    * mislabeled. One posexplode to (label, dim) partial sums — linear
    * in rows×dims, combiner-friendly, no vector ever collected. */
  def q431CentroidShift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.embeddings(spark, dir)
      .select($"label", ($"vec_id" % 2 === 0).as("even"),
        Similarity.quantize($"embedding").as("q"))
    val counts = base.groupBy($"label")
      .agg(sum(when($"even", 1L).otherwise(0L)).as("n1"),
        sum(when(!$"even", 1L).otherwise(0L)).as("n2"))
      .filter($"n1" > 0 && $"n2" > 0)
    val sums = base
      .select($"label", $"even", posexplode($"q").as(Seq("dim", "v")))
      .groupBy($"label", $"dim")
      .agg(coalesce(sum(when($"even", $"v")), lit(0L)).as("s1"),
        coalesce(sum(when(!$"even", $"v")), lit(0L)).as("s2"))
    sums.join(counts, Seq("label"))
      .withColumn("_t", expr(
        "CAST(s1 AS DECIMAL(38,0)) * n2 - CAST(s2 AS DECIMAL(38,0)) * n1"))
      .groupBy($"label", $"n1", $"n2")
      .agg(count(lit(1)).as("n_dims"), sum(expr("_t * _t")).as("_num"))
      .select($"label", $"n1", $"n2", $"n_dims",
        expr("CAST(_num * 1000 div (CAST(n1 AS DECIMAL(38,0)) * n2 " +
          "* n1 * n2) AS BIGINT)").as("shift_milli"))
      .orderBy($"label")
  }

  /** Shared-prefix mass: group documents by their first-8-token prefix
    * and report the biggest prefix families — count, member tokens, and
    * the token mass a prefix cache would serve from one entry
    * ((count−1)·prefix_len). The KV-cache-sharing forecast for prompt
    * corpora where many requests open identically. Top-20 by savings. */
  def q432PrefixSharing(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, dir)
      .select($"doc_id",
        size(graft.etl.Corpus.tokensOf($"text")).cast("long").as("n_toks"),
        array_join(slice(graft.etl.Corpus.tokensOf($"text"), 1, 8), " ")
          .as("prefix"))
      .filter($"n_toks" >= 8)
    d.groupBy($"prefix")
      .agg(count(lit(1)).as("n_docs"), sum($"n_toks").as("tokens"))
      .filter($"n_docs" >= 2)
      .select($"prefix", $"n_docs", $"tokens",
        (($"n_docs" - 1) * 8).as("cached_tokens"))
      .orderBy($"cached_tokens".desc, $"prefix")
      .limit(20)
  }

  /** Epoch-decorrelation audit: Spearman rank correlation (exact,
    * tie-free by construction) between two epochs' deterministic shuffle
    * orders, per source — adjacent training epochs must see the data in
    * UNCORRELATED orders or epoch-boundary gradients correlate; rho_ppm
    * ≈ 0 is healthy, high |rho| means the epoch salt isn't mixing. The
    * epoch order is the q206 sha256 recipe salted with the epoch tag
    * (`sha256('e0:'||id)`), ranks are two-phase globalRank passes
    * (range-partitioned, never a one-task-per-source window sort), and ρ = 1 − 6Σd²/(n(n²−1)) is emitted in ppm via one
    * decimal(38,0) cross-multiply. */
  def q427EpochDecorrelation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // within-source ranks via TWO globalRank passes minus broadcast
    // per-source offsets (the q467 pattern) - a row_number window
    // partitioned by the ~20-value source key would sort each source in
    // ONE task; globalRank range-partitions the (source, hash) order
    def h(tag: String) =
      sha2(concat(lit(tag), lit(":"), $"doc_id".cast("string")), 256)
    val d = Tables.documents(spark, dir).select($"doc_id", $"source")
    def rankIn(tag: String, out: String) = {
      val g = graft.etl.Layout.globalRank(
        d.withColumn("_h", h(tag)), Seq($"source", $"_h", $"doc_id"), "_g")
      val off = g.groupBy($"source").agg(min($"_g").as("_off"))
      g.join(broadcast(off), "source")
        .select($"doc_id", ($"_g" - $"_off" + 1L).as(out))
    }
    d.join(rankIn("e0", "r0"), "doc_id")
      .join(rankIn("e1", "r1"), "doc_id")
      .groupBy($"source")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(r0 - r1 AS DECIMAL(38,0)) * (r0 - r1)")).as("_d2"))
      .filter($"n" >= 2)
      .select($"source", $"n", $"_d2".cast("long").as("sum_d2"),
        expr("1000000 - CAST(6 * _d2 * 1000000 " +
          "div (CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) * n " +
          "- 1)) AS BIGINT)").as("rho_ppm"))
      .orderBy($"source")
  }

  /** Content-defined chunking profile: token-hash boundaries
    * (`sha256-prefix(token) mod 64 = 0` — boundaries follow CONTENT, so
    * an insertion only reshapes its local chunk, unlike fixed-length
    * chunking q65 where one shift re-chunks the whole tail; the rsync/
    * dedup-storage construction applied to text). Per doc: tokens,
    * chunks, mean chunk length in milli — pure scan (the hash runs
    * inside an array HOF, no explode, no shuffle but the output sort). */
  def q428CdcChunks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id",
        size(graft.etl.Corpus.tokensOf($"text")).cast("long").as("n_tokens"),
        expr("CAST(size(filter(transform(ws_tokens(text), " +
          "t -> CAST(conv(substring(sha2(t, 256), 1, 4), 16, 10) AS BIGINT)" +
          " % 64), h -> h = 0)) AS BIGINT)").as("n_boundaries"))
      .filter($"n_tokens" > 0)
      .select($"doc_id", $"n_tokens", $"n_boundaries",
        ($"n_boundaries" + 1).as("n_chunks"),
        expr("n_tokens * 1000 div (n_boundaries + 1)")
          .as("mean_chunk_milli"))
      .orderBy($"doc_id")
  }

  /** Context-length packing sweep: for max_len ∈ {128, 256, 512, 1024},
    * the window count and padding waste of greedy per-document chunking
    * (⌈tokens/L⌉ windows per doc) — the L-vs-waste tuning curve read
    * before committing a packing length, generalizing q391's single-L
    * waste audit to the sweep that actually picks L. Scan + one
    * broadcast fan-out aggregate. */
  def q424PackingSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lens = Tables.documents(spark, dir)
      .select(size(graft.etl.Corpus.tokensOf($"text")).cast("long").as("t"))
    val ls = Seq(128, 256, 512, 1024).toDF("max_len")
    lens.crossJoin(broadcast(ls))
      .groupBy($"max_len")
      .agg(count(lit(1)).as("n_docs"), sum($"t").as("tokens"),
        sum(expr("(t + max_len - 1) div max_len")).as("n_windows"))
      .select($"max_len", $"n_docs", $"tokens", $"n_windows",
        expr("n_windows * max_len - tokens").as("padding"),
        expr("(n_windows * max_len - tokens) * 10000 " +
          "div (n_windows * max_len)").as("waste_bp"))
      .orderBy($"max_len")
  }

  /** Hash-partition balance forecast: for P ∈ {32, 128, 512} reducers,
    * the per-partition load distribution the repo-standard sha256-prefix
    * key hash would produce on the user-event stream — max load, exact
    * mean in milli, and imbalance (max/mean in bp). The skew forecast
    * read before sizing `spark.sql.shuffle.partitions` for a keyed
    * stage; 4 hex chars = 65536 buckets divides every power-of-two P,
    * so the recipe itself adds zero modulo bias. */
  def q425PartitionBalance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val keys = Tables.events(spark, dir)
      .filter($"user_id".isNotNull && $"user_id" >= 0)
      .select(expr("conv(substring(sha2(CAST(user_id AS STRING), 256), " +
        "1, 4), 16, 10)").cast("long").as("h"))
    val ps = Seq(32, 128, 512).toDF("n_part")
    keys.crossJoin(broadcast(ps))
      .groupBy($"n_part", ($"h" % $"n_part").as("part"))
      .agg(count(lit(1)).as("load"))
      .groupBy($"n_part")
      .agg(count(lit(1)).as("parts_hit"), sum($"load").as("n_rows"),
        max($"load").as("max_load"))
      .select($"n_part", $"parts_hit", $"n_rows", $"max_load",
        expr("n_rows * 1000 div n_part").as("mean_load_milli"),
        expr("CAST(max_load AS DECIMAL(38,0)) * n_part * 10000 div n_rows")
          .cast("long").as("imbalance_bp"))
      .orderBy($"n_part")
  }

  /** Language-ID confusion matrix: the q30 stopword-profile classifier
    * scored against the labeled `lang` column — per (true, predicted)
    * cell the count and row share in bp. The eval that shows WHERE the
    * heuristic fails (zh has no profile and must land somewhere) rather
    * than a single accuracy number. */
  def q426LangidConfusion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val pred = q30LangId(spark, dir).select($"doc_id", $"lang_pred")
    val truth = Tables.documents(spark, dir).select($"doc_id", $"lang")
    val cells = truth.join(pred, Seq("doc_id"))
      .groupBy($"lang", $"lang_pred").agg(count(lit(1)).as("n"))
    val wl = Window.partitionBy($"lang")
    cells.withColumn("_tot", sum($"n").over(wl))
      .select($"lang", $"lang_pred", $"n",
        expr("n * 10000 div _tot").as("share_bp"))
      .orderBy($"lang", $"lang_pred")
  }

  /** Tokenizer fertility by language: characters per token and tokens
    * per document, milli-scaled — the multilingual cost table (a
    * language whose text yields 2× the tokens per character pays 2× the
    * context budget) read next to the vocab-coverage curve (q151) when
    * sizing a shared tokenizer. Whitespace tokens via the native
    * `ws_tokens` codegen expression; one scan, one aggregate. */
  def q417Fertility(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"lang", $"n_chars",
        size(graft.etl.Corpus.tokensOf($"text")).cast("long").as("toks"))
    docs.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chars"),
        sum($"toks").as("tokens"))
      .select($"lang", $"n_docs", $"chars", $"tokens",
        expr("chars * 1000 div NULLIF(tokens, 0)")
          .as("chars_per_token_milli"),
        expr("tokens * 1000 div n_docs").as("tokens_per_doc_milli"))
      .orderBy($"lang")
  }

  /** Cross-source duplication matrix ([[graft.etl.Dedupe.sourceOverlap]])
    * with a synthetic "mirror" feed republishing every 7th document:
    * which source pairs share byte-identical texts — the provenance map
    * behind any dedup-by-source policy. */
  def q331SourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, dir).select($"source", $"text")
    val mirrored = Tables.documents(spark, dir)
      .filter($"doc_id" % 7 === 0)
      .select(lit("mirror").as("source"), $"text")
    graft.etl.Dedupe.sourceOverlap(d.unionByName(mirrored), "source",
        $"text")
      .orderBy($"source_a", $"source_b")
  }

  /** Duplicate-cluster size distribution
    * ([[graft.etl.Dedupe.clusterSizeDist]]) keyed on sha256(text) over
    * the clone corpus: the "how duplicated is it" one-pager — unique
    * mass at size 1, the clone pairs at size 2, document shares in bp. */
  def q329DupClusterDist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.etl.Dedupe.clusterSizeDist(corpus(spark, dir),
        sha2($"text", 256))
      .orderBy($"cluster_size")
  }

  /** Shingle-cap honesty audit
    * ([[graft.etl.Similarity.shingleCapAudit]]) at cap 16 over the
    * clone corpus: the shingle-evidence share q26's boilerplate bar
    * would drop at that setting — the measured number that says
    * whether a cap is trimming chrome or eating real n-grams. */
  def q330CapAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.etl.Similarity.shingleCapAudit(corpus(spark, dir),
      "doc_id", "text", n = 3, cap = 16)
  }

  /** IVF recall audit ([[graft.etl.Similarity.ivfRecallAudit]]): the
    * q315 audit for the OTHER scale path — per sampled query, the
    * fraction of the exact top-10 the 16-list/4-probe IVF search (q51)
    * returns; the nprobe dial measured, completing the
    * brute-force / sign-LSH / IVF audit trio. */
  def q327IvfRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter($"vec_id" % 400 === 0 && $"vec_id" < 3200)
    graft.etl.Similarity.ivfRecallAudit(emb, queries, "vec_id",
        "embedding", k = 10, nlist = 16, nprobe = 4)
      .orderBy($"query_id")
  }

  /** SimHash detector audit ([[graft.etl.Similarity.simhashRecallAudit]])
    * on the q26 clone corpus: pair recall and precision of the banded
    * hamming-≤3 sketch against exact shingle-Jaccard ≥ ½ truth — the
    * measured case for (or against) replacing the shingle join with the
    * 64-bit sketch at scale; q315's text-side sibling. */
  def q319SimhashRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.etl.Similarity.simhashRecallAudit(corpus(spark, dir),
      "doc_id", "text", n = 3, maxDist = 3)
  }

  /** The q319 audit on its production setting: a deterministic 1-in-2
    * sha256 sample of the corpus (the `sampleOneIn` dial that keeps the
    * exact-truth side affordable past audit scale). The oracle replicates
    * the sample with the same hex-prefix recipe, proving the dial
    * end-to-end, not just in a spec. */
  def q346SampledSimhashRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.etl.Similarity.simhashRecallAudit(corpus(spark, dir),
      "doc_id", "text", n = 3, maxDist = 3, sampleOneIn = Some(2))
  }

  /** Markup/noise density ([[graft.etl.Corpus.markupDensity]]) over a
    * fixture that plants HTML-ish wrappers on every 3rd doc and URL
    * tails on every remaining 5th — the failed-extraction screen for
    * web-scraped corpora. */
  def q343MarkupDensity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id",
      when($"doc_id" % 3 === 0,
        concat(lit("<div class=\"x\">"), $"text",
          lit("</div> &amp; <br/>")))
        .when($"doc_id" % 5 === 0,
          concat($"text", lit(" see https://example.com/a?b=1 now")))
        .otherwise($"text").as("text"))
    graft.etl.Corpus.markupDensity(docs, "doc_id", "text")
      .sortedOnce($"doc_id")
  }

  /** LSH banding S-curve ([[graft.etl.Similarity.lshBandPlan]]) for the
    * engine's own q27 setting (8 bands × 4 rows): the collision
    * probability at each Jaccard level, the table that justifies the
    * banding before a 100 TB signature build. Data-free; the oracle
    * recomputes the identical IEEE multiplication chain. */
  def q344LshBandPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.etl.Similarity.lshBandPlan(spark, bands = 8, rowsPerBand = 4,
        stepBp = 250)
      .orderBy($"s_bp")
  }

  /** α = ½ temperature-sampling plan
    * ([[graft.etl.Corpus.temperatureWeights]]) over the documents table
    * by language: rates ∝ ⌊√n⌋ toward a 30k-row blend — the
    * small-source upweighting move, integer-exact end to end. */
  def q345TemperatureWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.etl.Corpus.temperatureWeights(Tables.documents(spark, dir),
        "lang", totalRows = 30000L)
      .orderBy($"lang")
  }

  /** Held-out cross-entropy ([[graft.etl.Vocab.heldoutXent]]): per
    * language, a Laplace unigram LM fit on the q59 train split and
    * scored on the test split (val excluded) in floored-log₂
    * centibits, OOV token mass alongside — the split-shift number
    * self-scored surprisal (q136) can't give and q299's unseen-mass
    * forecast predicts. */
  def q324HeldoutXent(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, dir)
      .withColumn("split", splitColumn($"doc_id"))
      .filter($"split" =!= "val")
    val toks = d.select($"lang", ($"split" === "train").as("tr"),
      explode(graft.etl.Corpus.tokensOf($"text")).as("tok"))
    graft.etl.Vocab.heldoutXent(toks, "lang", "tok", $"tr")
      .orderBy($"lang")
  }

  /** Token coverage curve ([[graft.etl.Corpus.coverageCurve]]): per
    * language, how many top documents (by token count) carry 25/50/90%
    * of the tokens — the concentration readout that decides whether
    * dedup/downsampling should target the head first. */
  def q323CoverageCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, dir).select($"lang", $"doc_id",
      size(graft.etl.Corpus.tokensOf($"text")).cast("long").as("w"))
    graft.etl.Corpus.coverageCurve(d, "lang", "doc_id", "w",
        Seq(2500, 5000, 9000))
      .orderBy($"lang")
  }

  /** Vocabulary-cutoff knee ([[graft.etl.Analytics.kneePoint]]): per
    * language, where the rank–frequency curve bends — the measured
    * vocab-size cutoff (the same decision q276's Zipf slope and q299's
    * unseen mass inform) via max chord distance with exact
    * cross-multiplied arithmetic, ties to the smaller rank. */
  def q321VocabKnee(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir).select($"lang",
      explode(graft.etl.Corpus.tokensOf($"text")).as("tok"))
    val f = toks.groupBy($"lang", $"tok").agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy($"lang").orderBy($"freq".desc, $"tok")
    val ranked = f.withColumn("rank", row_number().over(w).cast("long"))
    graft.etl.Analytics.kneePoint(ranked, "lang", "rank", "freq")
      .orderBy($"lang")
  }

  /** TextRank keyword extraction: integer PageRank
    * ([[graft.etl.Graph.pageRankInt]], 3 iterations) over the corpus
    * word-adjacency graph (distinct bigram pairs from
    * [[graft.etl.Corpus.skipgramPairs]] at window 1, symmetrized), top
    * 20 tokens by rank — the classic unsupervised keyword extractor,
    * here as a pure composition of two already-proven operators. The
    * graph is vocabulary-sized (not corpus-sized), so the final top-k
    * window runs over a bounded table; every iteration is the same
    * edge-join + aggregate shape q113 pins. */
  def q314Textrank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val pairs = graft.etl.Corpus.skipgramPairs(
      Tables.documents(spark, dir), "text", 1)
    val edges = pairs.select($"a".as("src"), $"b".as("dst"))
      .unionByName(pairs.select($"b".as("src"), $"a".as("dst")))
      .distinct()
    val nodes = edges.select($"src".as("tok")).distinct()
    val ranked = graft.etl.Graph.pageRankInt(nodes, edges, "tok",
      "src", "dst", iterations = 3)
    // top-k via orderBy+limit (TakeOrderedAndProject — per-partition
    // heaps, no single-partition sort of the full vocabulary); the rank
    // window then runs over the 20 survivors only
    val top = ranked.orderBy($"rank".desc, $"node").limit(20)
    val w = Window.orderBy($"rank".desc, $"node")
    top.withColumn("rk", row_number().over(w).cast("long"))
      .select($"rk", $"node".as("token"), $"rank")
      .orderBy($"rk")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q313_mixture_weights" -> q313MixtureWeights _,
    "q314_textrank" -> q314Textrank _,
    "q315_ann_recall" -> q315AnnRecall _,
    "q413_matryoshka_recall" -> q413MatryoshkaRecall _,
    "q414_budget_select" -> q414BudgetSelect _,
    "q417_fertility" -> q417Fertility _,
    "q419_kn_continuation" -> q419KnContinuation _,
    "q421_shuffle_mix" -> q421ShuffleMix _,
    "q422_dedup_sweep" -> q422DedupSweep _,
    "q424_packing_sweep" -> q424PackingSweep _,
    "q427_epoch_decorrelation" -> q427EpochDecorrelation _,
    "q428_cdc_chunks" -> q428CdcChunks _,
    "q429_compress_proxy" -> q429CompressProxy _,
    "q433_maxsim" -> q433Maxsim _,
    "q434_dedup_transitivity" -> q434DedupTransitivity _,
    "q435_uncertain_sample" -> q435UncertainSample _,
    "q436_term_drift" -> q436TermDrift _,
    "q437_csv_quarantine" -> q437CsvQuarantine _,
    "q438_mahalanobis_outliers" -> q438MahalanobisOutliers _,
    "q440_simpson_diversity" -> q440SimpsonDiversity _,
    "q441_dup_attribution" -> q441DupAttribution _,
    "q442_minhash_est_error" -> q442MinhashEstError _,
    "q459_dim_variance" -> q459DimVariance _,
    "q443_split_reassembly" -> q443SplitReassembly _,
    "q444_filtered_ann" -> q444FilteredAnn _,
    "q445_group_auc" -> q445GroupAuc _,
    "q446_isotropy" -> q446Isotropy _,
    "q447_int8_recall" -> q447Int8Recall _,
    "q448_hash_uniformity" -> q448HashUniformity _,
    "q449_dedup_mix_shift" -> q449DedupMixShift _,
    "q450_scurve_empirical" -> q450ScurveEmpirical _,
    "q454_vocab_overlap" -> q454VocabOverlap _,
    "q455_whale_impact" -> q455WhaleImpact _,
    "q430_label_resolution" -> q430LabelResolution _,
    "q431_centroid_shift" -> q431CentroidShift _,
    "q432_prefix_sharing" -> q432PrefixSharing _,
    "q425_partition_balance" -> q425PartitionBalance _,
    "q426_langid_confusion" -> q426LangidConfusion _,
    "q319_simhash_recall" -> q319SimhashRecall _,
    "q343_markup_density" -> q343MarkupDensity _,
    "q344_lsh_band_plan" -> q344LshBandPlan _,
    "q345_temperature_weights" -> q345TemperatureWeights _,
    "q346_sampled_simhash_recall" -> q346SampledSimhashRecall _,
    "q321_vocab_knee" -> q321VocabKnee _,
    "q327_ivf_recall" -> q327IvfRecall _,
    "q329_dup_cluster_dist" -> q329DupClusterDist _,
    "q331_source_overlap" -> q331SourceOverlap _,
    "q330_cap_audit" -> q330CapAudit _,
    "q323_coverage_curve" -> q323CoverageCurve _,
    "q324_heldout_xent" -> q324HeldoutXent _,
    "q189_bigram_lm" -> q189BigramLm _,
    "q182_bm25" -> q182Bm25 _,
    "q185_skipgram" -> q185Skipgram _,
    "q178_quota_sample" -> q178QuotaSample _,
    "q173_phrase_search" -> q173PhraseSearch _,
    "q167_pps_sample" -> q167PpsSample _,
    "q162_containment" -> q162Containment _,
    "q59_train_split" -> q59TrainSplit _,
    "q89_postings" -> q89Postings _,
    "q95_tfidf_topk" -> q95TfidfTopK _,
    "q96_balanced_sample" -> q96BalancedSample _,
    "q98_corpus_pipeline" -> q98CorpusPipeline _,
    "q92_curation_funnel" -> q92CurationFunnel _,
    "q79_quantize" -> q79Quantize _,
    "q80_pii_redact" -> q80PiiRedact _,
    "q75_repetition" -> q75Repetition _,
    "q76_hash_sample" -> q76HashSample _,
    "q206_shuffle_shard" -> q206ShuffleShard _,
    "q209_novelty" -> q209Novelty _,
    "q77_collocations" -> q77Collocations _,
    "q64_pack_sequences" -> q64PackSequences _,
    "q65_chunk_text" -> q65ChunkText _,
    "q66_connected_components" -> q66ConnectedComponents _,
    "q347_star_components" -> q347StarComponents _,
    "q348_shard_manifest" -> q348ShardManifest _,
    "q67_fuzzy_match" -> q67FuzzyMatch _,
    "q72_vocab_stats" -> q72VocabStats _,
    "q25_dedup_exact" -> q25DedupExact _,
    "q26_ngram_jaccard" -> q26NgramJaccard _,
    "q27_minhash_lsh" -> q27MinhashLsh _,
    "q28_simhash" -> q28Simhash _,
    "q29_ann_topk" -> q29AnnTopK _,
    "q30_langid" -> q30LangId _,
    "q31_text_quality" -> q31TextQuality _,
    "q32_multimodal" -> q32Multimodal _,
    "q50_ann_lsh" -> q50AnnLsh _,
    "q51_ann_ivf" -> q51AnnIvf _,
    "q52_cosine_dups" -> q52CosineDups _,
    "q364_embedding_leak" -> q364EmbeddingLeak _,
    "q519_embedding_drift" -> q519EmbeddingDrift _,
    "q520_drift_timeline" -> q520DriftTimeline _,
    "q369_sign_projection" -> q369SignProjection _,
    "q372_retrieval_mrr" -> q372RetrievalMrr _,
    "q53_winnow" -> q53Winnow _,
    "q362_winnow_overlap" -> q362WinnowOverlap _,
    "q54_frame_sample" -> q54FrameSample _,
    "q55_resize" -> q55Resize _,
    "q242_image_decode" -> q242ImageDecode _,
    "q249_readability" -> q249Readability _,
    "q250_mutual_nn" -> q250MutualNn _,
    "q253_bootstrap_ci" -> q253BootstrapCi _,
    "q255_image_dhash" -> q255ImageDhash _,
    "q363_image_dup_classes" -> q363ImageDupClasses _,
    "q271_datasheet" -> q271Datasheet _,
    "q276_zipf" -> q276Zipf _,
    "q277_rendezvous" -> q277Rendezvous _,
    "q281_dim_profile" -> q281DimProfile _,
    "q282_audio_decode" -> q282AudioDecode _,
    "q376_vad_segments" -> q376VadSegments _,
    "q379_ar_buckets" -> q379ArBuckets _,
    "q380_lang_mix" -> q380LangMix _,
    "q381_pq_encode" -> q381PqEncode _,
    "q382_pq_adc_recall" -> q382PqAdcRecall _,
    "q384_embedding_mmd" -> q384EmbeddingMmd _,
    "q385_kcenter" -> q385Kcenter _,
    "q386_label_noise" -> q386LabelNoise _,
    "q387_luhn_pii" -> q387LuhnPii _,
    "q392_knn_hubness" -> q392KnnHubness _,
    "q394_rouge2" -> q394Rouge2 _,
    "q395_rbo" -> q395Rbo _,
    "q396_priority_sample" -> q396PrioritySample _,
    "q388_audio_clip" -> q388AudioClip _,
    "q389_resize_decode" -> q389ResizeDecode _,
    "q398_audio_zcr" -> q398AudioZcr _,
    "q399_mmr_topk" -> q399MmrTopK _,
    "q400_hard_negatives" -> q400HardNegatives _,
    "q403_serving_diversity" -> q403ServingDiversity _,
    "q293_split_balance" -> q293SplitBalance _,
    "q294_capture_recapture" -> q294CaptureRecapture _,
    "q299_unseen_mass" -> q299UnseenMass _,
    "q300_split_leak" -> q300SplitLeak _,
    "q303_effective_n" -> q303EffectiveN _,
    "q305_charset_profile" -> q305CharsetProfile _)

  /** Character-class masses per source
    * ([[graft.etl.Corpus.charsetProfile]]): the encoding/mojibake screen
    * — a non-letter share spiking on one source flags double-encoded or
    * binary-contaminated text before it reaches a tokenizer. */
  def q305CharsetProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.etl.Corpus.charsetProfile(Tables.documents(spark, dir),
        "source", "text")
      .orderBy($"source")
  }

  /** Kish effective sample size per language
    * ([[graft.etl.Corpus.effectiveSampleSize]]) with token counts as
    * sampling weights: how many equal-weight documents the
    * token-weighted corpus slice actually trains like, and the design
    * effect the weighting costs. */
  def q303EffectiveN(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, dir).select($"lang",
      size(graft.etl.Corpus.tokensOf($"text")).cast("long").as("w"))
    graft.etl.Corpus.effectiveSampleSize(d, "lang", "w")
      .orderBy($"lang")
  }

  /** Good–Turing unseen-token mass per language
    * ([[graft.etl.Vocab.unseenMass]]): hapax share as the probability
    * the next token is out-of-vocabulary — the coverage forecast a
    * tokenizer freeze is sized against. */
  def q299UnseenMass(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.etl.Vocab.unseenMass(Tables.documents(spark, dir), "lang",
        "text")
      .orderBy($"lang")
  }

  /** Split-leakage gate: byte-identical documents landing in DIFFERENT
    * q59 splits (train text showing up verbatim in test) — count per
    * colliding hash group the splits touched, plus the leaked doc mass.
    * Exact-dup leakage is the eval-inflation failure the q119 n-gram
    * decontamination generalizes; this is the exact-match release
    * gate. */
  def q300SplitLeak(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, dir).select($"doc_id",
        sha2($"text", 256).as("h"))
      .withColumn("b", expr(
        "CAST(conv(substring(sha2(CAST(doc_id AS STRING), 256), 1, 4)," +
          " 16, 10) AS BIGINT) % 100"))
      .withColumn("split", when($"b" < 80, "train")
        .when($"b" < 90, "val").otherwise("test"))
    val g = d.groupBy($"h")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"split").as("n_splits"))
    g.agg(count(lit(1)).as("n_groups"),
        sum(when($"n_docs" > 1, 1L).otherwise(0L)).as("dup_groups"),
        sum(when($"n_splits" > 1, 1L).otherwise(0L)).as("leaking_groups"),
        coalesce(sum(when($"n_splits" > 1, $"n_docs")), lit(0L))
          .as("leaked_docs"))
  }

  /** Chapman capture–recapture ([[graft.etl.Dedupe.captureRecapture]])
    * over two structurally different dup detectors — byte-exact hash
    * (q25) vs order-insensitive token fingerprint (q225): estimate the
    * TRUE duplicate population and how many dup docs BOTH detectors are
    * still missing. */
  def q294CaptureRecapture(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, dir).select($"doc_id",
      sha2($"text", 256).as("h"),
      array_join(array_sort(array_distinct(
        array_remove(split(lower($"text"), " "), ""))), " ").as("fp"))
    val wH = Window.partitionBy($"h")
    val wF = Window.partitionBy($"fp")
    val flags = d
      .withColumn("a", count(lit(1)).over(wH) > 1)
      .withColumn("b", count(lit(1)).over(wF) > 1)
    graft.etl.Dedupe.captureRecapture(flags, $"a", $"b")
  }

  /** Split-balance audit over the q59 content-addressed split: per
    * (split, language) the within-split share vs the corpus share in
    * exact floored ppm and their gap — the stratification check run
    * before trusting a train/val/test cut (a language over-represented
    * in test silently skews every eval). Composition of enum-sized
    * aggregates; the sha-bucket split is q59's. */
  def q293SplitBalance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, dir).select($"doc_id", $"lang")
      .withColumn("b", expr(
        "CAST(conv(substring(sha2(CAST(doc_id AS STRING), 256), 1, 4)," +
          " 16, 10) AS BIGINT) % 100"))
      .withColumn("split", when($"b" < 80, "train")
        .when($"b" < 90, "val").otherwise("test"))
    val cell = d.groupBy($"split", $"lang").agg(count(lit(1)).as("n"))
    val bySplit = cell.groupBy($"split").agg(sum($"n").as("n_split"))
    val byLang = cell.groupBy($"lang").agg(sum($"n").as("n_lang"))
    val tot = cell.agg(sum($"n").as("n_tot"))
    cell.join(bySplit, "split").join(broadcast(byLang), "lang")
      .crossJoin(broadcast(tot))
      .select($"split", $"lang", $"n",
        expr("n * 1000000 div n_split").as("split_ppm"),
        expr("n_lang * 1000000 div n_tot").as("corpus_ppm"),
        abs(expr("n * 1000000 div n_split") -
          expr("n_lang * 1000000 div n_tot")).as("gap_ppm"))
      .orderBy($"split", $"lang")
  }

  /** Voice-activity segmentation over REAL WAV decode
    * ([[Multimodal.vadSegments]]): synthesize PCM16 WAVs whose eight
    * 1/8-blocks alternate square-wave voice and true silence by a
    * per-id bit pattern, decode distributed, threshold the RMS
    * envelope, and run-length the voiced buckets into segments — the
    * silence-trim/segment-count pass an ASR/TTS corpus runs before
    * training, with the oracle predicting every segment analytically
    * from the id's bit pattern. */
  def q376VadSegments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Multimodal.mediaFromSyntheticVadAudio(
      Tables.documents(spark, dir).filter($"doc_id" % 10 === 0), "doc_id")
    Multimodal.vadSegments(Multimodal.extractAudioFeatures(media).toDF())
      .orderBy($"media_id")
  }

  /** Product-quantization encode ([[Similarity.pqEncode]]): every
    * embedding compressed to a packed 8x4-bit code against the
    * deterministic 16-entry codebook, with exact integer distortion —
    * the IVF-PQ memory path; assignment is 128 native codegen dots per
    * row against literal subvectors, no join, no shuffle. */
  def q381PqEncode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.pqEncode(Tables.embeddings(spark, dir), "vec_id", "embedding",
        m = 8, ks = 16)
      .sortedOnce($"vec_id")
  }

  /** Greedy k-center coreset ([[Similarity.kCenterGreedy]]): 8 rounds of
    * farthest-point traversal over the embeddings with the per-round
    * coverage radius — the diversity-maximizing exemplar pick, integer
    * distances end to end; the oracle unrolls the same 8 rounds as
    * MATERIALIZED CTEs. */
  def q385Kcenter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.kCenterGreedy(Tables.embeddings(spark, dir), "vec_id",
        "embedding", k = 8)
      .orderBy($"round")
  }

  /** Unrolled DuckDB twin of the k-round farthest-point traversal: per
    * round, a min-distance fold over the current selected set and an
    * (md DESC, vec_id) argmax pick; CTEs MATERIALIZED so DuckDB's CTE
    * inlining cannot re-expand earlier rounds exponentially. */
  /** Unrolled greedy-MMR oracle: one MATERIALIZED (cand, pick, sel)
    * round per rank, mirroring [[Similarity.mmrTopK]]'s driver greedy
    * exactly (same pool cut, same integer score, same smaller-id ties).
    * Same construction as [[kCenterOracleSql]]. */
  private def mmrOracleSql(k: Int, pool: Int, lam: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH e AS (
      |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
      |    x -> CAST(round(x*1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |qv AS MATERIALIZED (SELECT vec_id, q FROM e ORDER BY vec_id LIMIT 1),
      |pool AS MATERIALIZED (
      |  SELECT e.vec_id, e.q,
      |    CAST(list_dot_product(e.q, (SELECT q FROM qv)) AS BIGINT) AS rel
      |  FROM e WHERE e.vec_id <> (SELECT vec_id FROM qv)
      |  ORDER BY rel DESC, e.vec_id LIMIT $pool),
      |pick1 AS MATERIALIZED (
      |  SELECT vec_id, q, rel, CAST(NULL AS BIGINT) AS max_sim,
      |    CAST($lam * rel AS BIGINT) AS score
      |  FROM pool ORDER BY rel DESC, vec_id LIMIT 1),
      |sel1 AS MATERIALIZED (SELECT vec_id, q FROM pick1)""".stripMargin
    for (r <- 2 to k) {
      sb ++= s""",
      |cand$r AS MATERIALIZED (
      |  SELECT p.vec_id, p.q, p.rel,
      |    max(CAST(list_dot_product(p.q, s.q) AS BIGINT)) AS max_sim
      |  FROM pool p, sel${r - 1} s
      |  WHERE p.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})
      |  GROUP BY 1, 2, 3),
      |pick$r AS MATERIALIZED (
      |  SELECT vec_id, q, rel, max_sim,
      |    CAST($lam * rel - ${100 - lam} * max_sim AS BIGINT) AS score
      |  FROM cand$r ORDER BY score DESC, vec_id LIMIT 1),
      |sel$r AS MATERIALIZED (
      |  SELECT vec_id, q FROM sel${r - 1} UNION ALL
      |  SELECT vec_id, q FROM pick$r)""".stripMargin
    }
    sb ++= "\n"
    sb ++= (1 to k).map(r =>
        s"SELECT CAST($r AS BIGINT) AS rank, vec_id, rel, max_sim, " +
          s"score FROM pick$r")
      .mkString("", " UNION ALL ", " ORDER BY rank")
    sb.toString
  }

  private def kCenterOracleSql(k: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH e AS (
      |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
      |    x -> CAST(round(x*1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |pick1 AS MATERIALIZED (SELECT vec_id, q FROM e ORDER BY vec_id LIMIT 1),
      |sel1 AS MATERIALIZED (SELECT * FROM pick1)""".stripMargin
    for (r <- 1 to k) {
      sb ++= s""",
      |d$r AS MATERIALIZED (
      |  SELECT e.vec_id, e.q,
      |    min(CAST(list_dot_product(e.q, e.q) AS BIGINT)
      |      - 2 * CAST(list_dot_product(e.q, s.q) AS BIGINT)
      |      + CAST(list_dot_product(s.q, s.q) AS BIGINT)) AS md
      |  FROM e, sel$r s GROUP BY 1, 2),
      |r$r AS MATERIALIZED (
      |  SELECT CAST($r AS BIGINT) AS round,
      |    (SELECT vec_id FROM pick$r) AS vec_id,
      |    CAST(max(md) AS BIGINT) AS radius
      |  FROM d$r)""".stripMargin
      if (r < k) {
        sb ++= s""",
      |pick${r + 1} AS MATERIALIZED (
      |  SELECT vec_id, q FROM d$r ORDER BY md DESC, vec_id LIMIT 1),
      |sel${r + 1} AS MATERIALIZED (
      |  SELECT * FROM sel$r UNION ALL SELECT * FROM pick${r + 1})""".stripMargin
      }
    }
    sb ++= "\n"
    sb ++= (1 to k).map(r => s"SELECT * FROM r$r")
      .mkString("", " UNION ALL ", " ORDER BY round")
    sb.toString
  }

  /** Waveform-integrity stats over REAL WAV decode
    * ([[Multimodal.audioClipStats]]): clipped-sample count against an
    * 8000 threshold, true peak, exact DC sum — all analytic functions of
    * the square-wave fixtures' (frames, period, amp), including the
    * partial-cycle DC remainder. */
  def q388AudioClip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Multimodal.mediaFromSyntheticAudio(
      Tables.documents(spark, dir).filter($"doc_id" % 5 === 0), "doc_id")
    Multimodal.audioClipStats(media, clipThreshold = 8000).toDF()
      .orderBy($"media_id")
  }

  /** REAL pixel resize with a pinned nearest-neighbor kernel
    * ([[Multimodal.resizeDecode]]): decode the gradient PNGs, resample
    * to 8x6, emit exact integer luma sums/corners the oracle predicts
    * from the closed-form pixel model — reproducible resize semantics as
    * a tested contract, not an AWT implementation detail. */
  def q389ResizeDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Multimodal.mediaFromSyntheticGradientImages(
      Tables.documents(spark, dir), "doc_id")
    Multimodal.resizeDecode(media, targetW = 8, targetH = 6).toDF()
      .orderBy($"media_id")
  }

  /** Maximal-marginal-relevance diversified top-k
    * ([[Similarity.mmrTopK]]): rerank the 16-strong relevance pool
    * against the smallest-id query vector at λ=70% — the serving-side
    * diversity knob audited exactly (integer scores, smaller-id ties);
    * pairs with q395's RBO as the rank-quality line for diversified
    * lists. */
  def q399MmrTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.mmrTopK(Tables.embeddings(spark, dir), "vec_id",
        "embedding", k = 6, poolSize = 16, lambdaPct = 70)
      .orderBy($"rank")
  }

  /** Hard-negative mining ([[Similarity.hardNegatives]]): for each
    * mining-batch query (vec_id % 400 = 0, capped at the first 8
    * panel ids — vec_id < 3200), the 10 most-similar
    * DIFFERENT-label corpus vectors — the contrastive-training batch
    * builder next to q163's random negative sampler. */
  def q400HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    Similarity.hardNegatives(emb, emb.filter($"vec_id" % 400 === 0 && $"vec_id" < 3200),
        "vec_id", "embedding", "label", k = 10)
      .orderBy($"query_id", $"rank")
  }

  /** Serving-diversity audit ([[Similarity.servingDiversity]]) over the
    * q29 retrieval lists at k=5: exact intra-list pairwise-dot mass per
    * list plus aggregate catalog coverage — the beyond-accuracy serving
    * metrics (a top-k of near-identical items scores high dot mass;
    * a popularity-collapsed index scores low coverage). */
  def q403ServingDiversity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val lists = Similarity.bruteForceTopK(emb,
      emb.filter($"vec_id" % 400 === 0 && $"vec_id" < 3200), "vec_id", "embedding", 5)
    Similarity.servingDiversity(lists, "query_id", "nn_id",
        emb, "vec_id", "embedding")
      .orderBy($"list_id")
  }

  /** Zero-crossing / periodicity stats over REAL WAV decode
    * ([[Multimodal.audioZcr]]): sign-change count, floored ppm rate,
    * longest same-sign run, and exact Σs² energy — all analytic
    * functions of the square-wave fixtures' (frames, period, amp). The
    * fixture slice (doc_id % 5 = 1) is disjoint from q388's so the two
    * audio screens gate different rows. */
  def q398AudioZcr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Multimodal.mediaFromSyntheticAudio(
      Tables.documents(spark, dir).filter($"doc_id" % 5 === 1), "doc_id")
    Multimodal.audioZcr(media).toDF().orderBy($"media_id")
  }

  /** Luhn-validated card-PII audit ([[graft.etl.Privacy.luhnAudit]]):
    * deterministic order-derived texts embed a 13-digit and a 16-digit
    * run each; only runs passing the mod-10 checksum count as card PII —
    * the precision layer q80's regex redaction lacks. */
  def q387LuhnPii(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.orders(spark, dir)
      .filter($"o_orderkey" % 10 === 0)
      .select($"o_orderkey",
        concat(lit("inv "),
          lpad(($"o_orderkey" % 10000000000000L).cast("string"), 13, "0"),
          lit(" ref "), $"o_custkey".cast("string"), lit(" card "),
          lpad((($"o_orderkey" * 7919) % 10000000000000000L).cast("string"),
            16, "0")).as("text"))
    graft.etl.Privacy.luhnAudit(docs, "o_orderkey", "text")
      .sortedOnce($"o_orderkey")
  }

  /** k-NN hubness audit ([[Similarity.knnHubness]]): in-degree histogram
    * of the bucket-local k-NN graph at k=5 — the embedding-space
    * pathology screen run before any neighbor-based signal (mutual-NN,
    * SemDeDup, retrieval eval) is trusted. in_degree = 0 counts the
    * antihubs unreachable under the bucketed serving path. */
  /** Rank-biased overlap ([[Similarity.rankBiasedOverlap]], p = 0.9,
    * k = 10) between the exact brute-force ranking and the sign-LSH
    * serving ranking for the SAME queries as q315 — the rank-aware
    * cutover audit next to q315's set-level recall (a miss at rank 1
    * costs more rbo mass than one at rank 10). */
  def q395Rbo(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter($"vec_id" % 400 === 0 && $"vec_id" < 3200)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id",
      "embedding", k = 10)
    val approx = Similarity.lshBucketTopK(emb, queries, "vec_id",
      "embedding", k = 10, bits = 8)
    Similarity.rankBiasedOverlap(exact, approx, k = 10)
      .orderBy($"query_id")
  }

  /** Priority sample ([[graft.etl.Corpus.prioritySample]], k = 200) of
    * parts weighted by retail-price cents — the weighted
    * without-replacement sample whose `est_w` column keeps
    * weight-totals unbiased for any downstream slice. */
  def q396PrioritySample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val parts = Tables.part(spark, dir).select($"p_partkey",
      expr("CAST(round(p_retailprice * 100) AS BIGINT)").as("w_cents"))
    graft.etl.Corpus.prioritySample(parts, "p_partkey", "w_cents", k = 200)
      .orderBy($"id")
  }

  def q392KnnHubness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.knnHubness(Tables.embeddings(spark, dir), "vec_id",
        "embedding", k = 5)
      .orderBy($"in_degree")
  }

  /** ROUGE-2 clipped bigram overlap ([[graft.etl.Corpus.rougeN]]) between
    * each document and its successor within the same source — the
    * multiplicity-aware overlap score next to q26's set-Jaccard; floored
    * bp precision/recall/F1 are exact integer rationals. Successor
    * pairing rides [[graft.etl.Layout.globalRank]] over (source, doc_id)
    * + a rank+1 self-join — NOT lead() over a window partitioned by the
    * ~20-value source key, which would sort each source in one task
    * (the sort groups sources contiguously, so the global successor IS
    * the within-source successor whenever the sources match). */
  def q394Rouge2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"source",
      $"text")
    // ids-only through the rank's RDD hop (row-encoding text there
    // measured +60%); text joins back by doc_id afterwards
    val ranked = graft.etl.Layout.globalRank(
      docs.select($"doc_id", $"source"), Seq($"source", $"doc_id"), "_grk")
    val seams = ranked.as("_ra")
      .join(ranked.select(($"_grk" - 1L).as("_grk"), $"source".as("_rs"),
          $"doc_id".as("_ref_id")).as("_rb"), Seq("_grk"))
      .filter($"source" === $"_rs")
      .select($"doc_id", $"_ref_id")
    val pairs = seams
      .join(docs.select($"doc_id", $"text"), Seq("doc_id"))
      .join(docs.select($"doc_id".as("_ref_id"), $"text".as("ref_text")),
        Seq("_ref_id"))
      .select($"doc_id", $"text", $"ref_text")
    graft.etl.Corpus.rougeN(pairs, "doc_id", "text", "ref_text", 2)
      .orderBy($"pair_id")
  }

  /** Label-noise confusion audit ([[Similarity.classMeanConfusion]]):
    * nearest-class-mean prediction vs given label, cross-tabulated —
    * heavy off-diagonal cells flag mislabeled or entangled classes
    * before the labels feed training; centroids never exist as float
    * means (integer sums + floored normalized distance). */
  def q386LabelNoise(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.classMeanConfusion(Tables.embeddings(spark, dir), "vec_id",
        "embedding", "label")
      .orderBy($"label", $"pred")
  }

  /** Embedding-space drift per label ([[Similarity.embeddingMmd]]):
    * linear-kernel MMD² = exact squared distance between each label's
    * mean embedding and the corpus mean, in quantized integer units —
    * the "did this cluster/source move" audit with no float mean ever
    * formed. */
  def q384EmbeddingMmd(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.embeddingMmd(Tables.embeddings(spark, dir), "label",
        "embedding")
      .orderBy($"label")
  }

  /** PQ asymmetric-distance serving audit ([[Similarity.pqAdcAudit]]):
    * per query, the nearest neighbor found by scanning only q381's
    * packed codes vs the exact-dot truth, with integer regret — the
    * recall measurement that gates PQ compression for serving. */
  def q382PqAdcRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.pqAdcAudit(Tables.embeddings(spark, dir), "vec_id",
        "embedding", $"vec_id" % 100 === 0, m = 8, ks = 16)
      .orderBy($"query_id")
  }

  /** Chunk-level code-switching screen ([[graft.etl.Corpus.langMixChunks]]):
    * 16-token windows language-ID'd with q30's marker profiles, scored
    * against the doc-level argmax — flags documents whose language tag
    * hides embedded foreign-language spans. */
  def q380LangMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.etl.Corpus.langMixChunks(Tables.documents(spark, dir),
        "doc_id", "text", chunkTokens = 16)
      .orderBy($"doc_id")
  }

  /** Aspect-ratio bucketing over REAL decoded dimensions
    * ([[Multimodal.arBuckets]]): every synthetic PNG is decoded
    * distributed (`ImageIO`), its true width x height assigned to the
    * nearest of five training buckets by exact cross-multiplied ratio
    * distance, with center-crop retention per bucket — the batch-shape
    * planning pass of a vision-training pipeline, oracle-predicted from
    * the id's analytic dims. */
  def q379ArBuckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Multimodal.mediaFromSyntheticImages(
      Tables.documents(spark, dir), "doc_id")
    Multimodal.arBuckets(Multimodal.extractFeatures(media).toDF())
      .orderBy($"bucket")
  }

  /** REAL WAV decode through the JDK codec
    * ([[Multimodal.AudioCodec]]): synthesize square-wave PCM16 WAVs
    * whose frame count and amplitude are pure functions of the id,
    * decode them back distributed (mapPartitions batch shape), and emit
    * container metadata + first/last RMS-envelope buckets — every field
    * analytically predictable by the oracle without a WAV parser. */
  def q282AudioDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Multimodal.mediaFromSyntheticAudio(
      Tables.documents(spark, dir).filter($"doc_id" % 20 === 0), "doc_id")
    Multimodal.extractAudioFeatures(media).toDF()
      .select($"media_id", $"n_bytes", $"sample_rate", $"channels",
        $"n_frames", $"duration_ms",
        round(element_at($"feature", 1) * 32768).cast("long").as("rms0_q"),
        round(element_at($"feature", 8) * 32768).cast("long").as("rms7_q"))
      .orderBy($"media_id")
  }

  /** Embedding geometry audit ([[Similarity.dimProfile]]): per-dimension
    * exact sufficient statistics, floored variance, and dead-dim flags
    * over the quantized corpus — the pre-flight before trusting the
    * vector column for ANN bucketing or clustering. */
  def q281DimProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.dimProfile(Tables.embeddings(spark, dir), "embedding")
      .orderBy($"dim")
  }

  /** Zipf rank–frequency decay per language ([[graft.etl.Vocab.zipfFit]]):
    * OLS of floored-log frequency on floored-log rank over the vocabulary
    * head — the corpus-health screen that flags boilerplate flooding
    * (flat decay) or truncated/synthetic vocabularies (cliff). */
  def q276Zipf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.etl.Vocab.zipfFit(Tables.documents(spark, dir), "lang", "text")
      .orderBy($"lang")
  }

  /** Rendezvous-hash shard placement of the corpus + the resharding
    * report for a ninth node joining ([[graft.etl.Layout
    * .rendezvousReport]]): per node the before/after document load and
    * how many documents moved in — zero for every old node, the HRW
    * minimal-disruption invariant the oracle re-derives. */
  def q277Rendezvous(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.etl.Layout.rendezvousReport(
        Tables.documents(spark, dir).select($"doc_id"), "doc_id", nodes = 8)
      .orderBy($"node")
  }

  /** Dataset datasheet — the per-(language, source) summary card a corpus
    * release ships with: document and token volume, char mass, the EXACT
    * lower-median token length (rank ⌈n/2⌉ in the deterministic
    * (tokens, doc_id) order — no approx percentile), and how many docs
    * are byte-exact duplicates of another doc in the same slice. Two
    * keyed aggs + one within-slice window; the dup check groups on the
    * text hash, never pairwise. */
  def q271Datasheet(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, dir).select($"lang", $"source",
      $"doc_id", size(graft.etl.Corpus.tokensOf($"text")).cast("long")
        .as("toks"),
      length($"text").cast("long").as("chars"), sha2($"text", 256).as("h"))
      .localCheckpoint() // tokensOf runs once; 3 branches read it
    // the median rank rides the two-phase range-bucketed rank — a window
    // over the enum (lang, source) slice key would one-task-sort each
    // slice (the q268 class; round-9 enum lint)
    val ranked = graft.etl.Layout.addRunningSums(
      graft.etl.Layout.bucketize(d.select($"lang", $"source", $"toks",
        $"doc_id", $"chars"), Seq($"lang", $"source", $"toks", $"doc_id")),
      Seq("lang", "source"), Seq($"toks", $"doc_id"), Seq(lit(1L) -> "rn"))
    val ns = d.groupBy($"lang", $"source").agg(count(lit(1)).as("n"))
    val dups = d.groupBy($"lang", $"source", $"h")
      .agg(count(lit(1)).as("_c"))
      .groupBy($"lang", $"source")
      .agg(sum(when($"_c" > 1, $"_c").otherwise(0L)).as("n_dup_docs"))
    ranked.join(broadcast(ns), Seq("lang", "source"))
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"), sum($"toks").as("n_tokens"),
        sum($"chars").as("n_chars"),
        max(when($"rn" === expr("(n + 1) div 2"), $"toks"))
          .as("p50_tokens"))
      .join(dups, Seq("lang", "source"))
      .orderBy($"lang", $"source")
  }

  /** Deterministic multinomial bootstrap of the mean purchase amount: 32
    * replicates, each row's weight in replicate r drawn as
    * sha256(id:r) mod 3 ∈ {0,1,2} (uniform, mean 1 — the seedless
    * re-runnable stand-in for Poisson(1) resampling). Each replicate's
    * mean is the exact fraction Σw·cents / Σw; readers take replicate
    * quantiles for the CI. The ×32 row amplification is the operator's
    * honest cost; the per-replicate agg is map-side combined so the
    * shuffle carries 32 rows. */
  def q253BootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .filter($"event_type" === "purchase" && $"value".isNotNull)
      .select($"event_id",
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    e.withColumn("rep", explode(sequence(lit(0L), lit(31L))))
      .withColumn("w", expr(
        "CAST(conv(substring(sha2(concat(CAST(event_id AS STRING), ':'," +
          " CAST(rep AS STRING)), 256), 1, 4), 16, 10) AS BIGINT) % 3"))
      .groupBy($"rep")
      .agg(sum($"w").as("n_eff"), sum($"w" * $"cents").as("mean_num"))
      .select($"rep", $"n_eff", $"mean_num", $"n_eff".as("mean_den"),
        expr("mean_num * 100 div n_eff").as("mean_c100"))
      .orderBy($"rep")
  }

  /** Perceptual difference-hash of REAL decoded gradient PNGs
    * ([[Multimodal.dhash]] over [[Multimodal.ImageCodec]]'s sampled 8×8
    * luma grid): the near-duplicate image signature, oracle-checked
    * because every sampled pixel of the synthetic gradient is
    * analytically predictable. */
  def q255ImageDhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Multimodal.mediaFromSyntheticGradientImages(
      Tables.documents(spark, dir), "doc_id")
    Multimodal.extractFeatures(media).toDF()
      .select($"media_id",
        $"decoded_width".cast("long").as("decoded_width"),
        $"decoded_height".cast("long").as("decoded_height"),
        Multimodal.dhash($"feature").as("dhash"))
      .sortedOnce($"media_id")
  }

  /** Near-duplicate image classes ([[Similarity.hammingDupPairs]] over
    * [[Multimodal.dhash]]): exact-dup collapse first (group by dhash,
    * min-id representative — the synthetic gradients collide heavily, as
    * real thumbnail corpora do), then banded hamming ≤ 3 pairs BETWEEN
    * classes, each pair carrying both class sizes. The two-stage shape is
    * the 100 TB design: near-dup candidate volume scales with distinct
    * hashes, not images. */
  def q363ImageDupClasses(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Multimodal.mediaFromSyntheticGradientImages(
      Tables.documents(spark, dir), "doc_id")
    val dh = Multimodal.extractFeatures(media).toDF()
      .select($"media_id", Multimodal.dhash($"feature").as("dhash"))
    val classes = dh.groupBy($"dhash")
      .agg(min($"media_id").as("rep_id"), count(lit(1)).as("n_members"))
    Similarity.hammingDupPairs(classes, "rep_id", "dhash",
        bits = 56, bands = 4, maxDist = 3)
      .join(classes.select($"rep_id".as("id_a"), $"n_members".as("n_a")), "id_a")
      .join(classes.select($"rep_id".as("id_b"), $"n_members".as("n_b")), "id_b")
      .select($"id_a", $"id_b", $"hamming", $"n_a", $"n_b")
      .orderBy($"id_a", $"id_b")
  }

  /** Flesch–Kincaid readability fractions per document
    * ([[graft.etl.Corpus.readabilityScores]]): words/syllables/sentences
    * by cross-engine-identical heuristics, the grade as one exact
    * fraction. */
  def q249Readability(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.etl.Corpus.readabilityScores(
        Tables.documents(spark, dir), "doc_id", "text")
      .sortedOnce($"doc_id")
  }

  /** Reciprocal nearest-neighbor embedding pairs
    * ([[Similarity.mutualNnPairs]]): sign-LSH bucketed candidates, exact
    * integer-dot ranking, pairs that are each other's best match. */
  def q250MutualNn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.mutualNnPairs(Tables.embeddings(spark, dir),
        "vec_id", "embedding")
      .orderBy($"id_a")
  }

  /** Quantized embeddings + 8-sign-bit LSH bucket, shared by the ANN and
    * cosine-dup oracles (twin of `Similarity.quantize`/`signBucket`). */
  private val qembSql =
    """e AS (
      |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
      |    x -> CAST(round(x*1000) AS BIGINT)) AS q,
      |    (CASE WHEN embedding[1] >= 0 THEN 128 ELSE 0 END)
      |    + (CASE WHEN embedding[2] >= 0 THEN 64 ELSE 0 END)
      |    + (CASE WHEN embedding[3] >= 0 THEN 32 ELSE 0 END)
      |    + (CASE WHEN embedding[4] >= 0 THEN 16 ELSE 0 END)
      |    + (CASE WHEN embedding[5] >= 0 THEN 8 ELSE 0 END)
      |    + (CASE WHEN embedding[6] >= 0 THEN 4 ELSE 0 END)
      |    + (CASE WHEN embedding[7] >= 0 THEN 2 ELSE 0 END)
      |    + (CASE WHEN embedding[8] >= 0 THEN 1 ELSE 0 END) AS bucket
      |  FROM embeddings)""".stripMargin

  /** Synthetic-gradient dHash derivation (twin of `Multimodal.dhash` over
    * the decoded 8×8 luma grid), shared by q255 and q363: per doc, the
    * analytic luma lattice, 7 horizontal comparisons per row, packed into
    * a 56-bit long. */
  private val imageDhashSql =
    """d AS (
      |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 5 AS h
      |  FROM documents),
      |cells AS (
      |  SELECT doc_id, ri.range AS i, rj.range AS j,
      |    ((rj.range * w // 8) * 7 + (ri.range * h // 8) * 3 + doc_id) % 251
      |      AS luma
      |  FROM d, range(0, 8) ri, range(0, 8) rj),
      |bits AS (
      |  SELECT a.doc_id, a.i, a.j,
      |    CASE WHEN b.luma > a.luma THEN 1 ELSE 0 END AS bit
      |  FROM cells a JOIN cells b
      |    ON a.doc_id = b.doc_id AND a.i = b.i AND b.j = a.j + 1
      |  WHERE a.j < 7),
      |dh AS (
      |  SELECT d.doc_id AS media_id, d.w, d.h,
      |    CAST(sum(bit * (CAST(1 AS BIGINT) << (i * 7 + j))) AS BIGINT)
      |      AS dhash
      |  FROM d JOIN bits ON bits.doc_id = d.doc_id
      |  GROUP BY d.doc_id, d.w, d.h)""".stripMargin

  private[queries] val shinglesSql =
    """sh AS (
      |  SELECT DISTINCT doc_id, tf[i] || ' ' || tf[i+1] || ' ' || tf[i+2] AS s
      |  FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS tf
      |        FROM corpus),
      |       LATERAL (SELECT unnest(generate_series(1, greatest(len(tf)-2, 0))) AS i) g)"""
      .stripMargin

  /** Engine-neutral 32-perm MinHash signatures from FOUR sha256 digests:
    * perm i is lane i%8 of sha256((i div 8) ++ ':' ++ shingle) — eight
    * independent 32-bit lanes per digest (cryptographic output bits are
    * independent, so splitting a digest into lanes is the standard
    * minwise trick for cutting digest cost; the statistical contract —
    * 32 independent permutation minima — is unchanged). 8× fewer sha256
    * evaluations than the round-7 one-digest-per-perm recipe, which was
    * the measured floor of the q442/q450/q472 audits (the production
    * q27 path uses xxhash64 and never pays this; sha is the price of a
    * DuckDB-replayable oracle). Digests materialize as 4 projected
    * columns (digest-once is explicit, not left to subexpression
    * elimination inside an aggregate); the 32 minima ride one
    * combiner-friendly groupBy, then stack() to the long (doc_id, i,
    * mh) format the banding/estimator joins consume.
    * Input columns: (doc_id, s). */
  private[graft] def shaLaneSigs(shingles: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    // one native digest pass per shingle ([[graft.plans.ShaLanes]]):
    // value-identical to the former inline sha2/conv/substring spelling
    // (the scaladoc there has the byte-level equivalence argument), minus
    // its per-row getInstance + hex encode + 32 radix parses. Measured at
    // sf0.1 (QueryBench min-of-3): q450 14.2 -> see OPTIMIZATION_r12.md.
    val lanes = shingles.select(col("doc_id"),
      call_function("sha_lanes", col("s")).as("_l"))
    val mins = (0 until 32).map { i =>
      min(element_at(col("_l"), i + 1)).as(s"_m$i")
    }
    val agged = lanes.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
    val stackArgs = (0 until 32).map(i => s"$i, _m$i").mkString(", ")
    agged.select(col("doc_id"), expr(s"stack(32, $stackArgs) AS (i, mh)"))
      .select(col("doc_id"), col("i").cast("int").as("i"), col("mh"))
  }

  /** The [[shaLaneSigs]] DuckDB twin: a `sigs` CTE over an existing `sh`
    * (doc_id, s) CTE — digests computed once per (shingle, d) in the
    * inner select, lanes substring'd per j. */
  private[queries] val laneSigsSql =
    """sigs AS (
      |  SELECT doc_id, d * 8 + j AS i,
      |    min(('0x' || substring(hx, 1 + 8 * j, 8))::BIGINT) AS mh
      |  FROM (SELECT doc_id, d,
      |          sha256(CAST(d AS VARCHAR) || ':' || s) AS hx
      |        FROM sh CROSS JOIN
      |          (SELECT unnest(generate_series(0, 3)) AS d) pd) t
      |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) pj
      |  GROUP BY 1, 2)""".stripMargin

  /** The q369 oracle: the SAME sha-derived ±1 matrix as
    * [[Similarity.signMatrix]], unrolled into literal SQL sums over the
    * quantized vectors — matrix entries are compile-time data, so the
    * twin cannot drift from the engine. */
  private def signProjOracleSql(inDim: Int, outDim: Int): String = {
    val m = Similarity.signMatrix(outDim, inDim)
    val pExprs = (0 until outDim).map { i =>
      val terms = (0 until inDim).map { j =>
        s"${if (m(i)(j) == 1) "+" else "-"} q[${j + 1}]"
      }.mkString(" ")
      s"CAST((0 $terms) AS BIGINT) AS p$i"
    }.mkString(",\n|        ")
    val n2Out = (0 until outDim).map(i => s"p$i*p$i").mkString(" + ")
    s"""
      |WITH $qembSql,
      |p AS (SELECT vec_id,
      |        CAST(list_dot_product(q, q) AS BIGINT) AS n2_in,
      |        $pExprs
      |      FROM e)
      |SELECT vec_id, n2_in, ${(0 until outDim).map(i => s"p$i").mkString(", ")},
      |  CAST($n2Out AS BIGINT) AS n2_out
      |FROM p ORDER BY vec_id""".stripMargin
  }

  /** The q319 simhash-audit oracle body, parameterized by the corpus
    * CTE so the sampled variant (q346) reuses it verbatim. */
  private def simhashAuditOracle(corpusCte: String): String = s"""
      |WITH $corpusCte,
      |$shinglesSql,
      |freq AS (SELECT s, count(*) AS c FROM sh GROUP BY 1),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |truth AS MATERIALIZED (
      |  SELECT id_a, id_b FROM (
      |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
      |      max(CASE WHEN f.c <= 256 THEN 1 ELSE 0 END) AS has_kept
      |    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |    JOIN freq f ON f.s = a.s
      |    GROUP BY 1, 2) p
      |  JOIN sizes sa ON sa.doc_id = p.id_a
      |  JOIN sizes sb ON sb.doc_id = p.id_b
      |  WHERE 2 * p.inter >= sa.n + sb.n - p.inter AND p.has_kept = 1),
      |toks AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      |  FROM corpus),
      |bits AS (
      |  SELECT doc_id, i,
      |    sum(CASE WHEN ((strpos('0123456789abcdef',
      |        substr(md5(tok), i//4 + 1, 1)) - 1 >> (3 - i%4)) & 1) = 1
      |      THEN 1 ELSE -1 END) AS s
      |  FROM toks, (SELECT unnest(generate_series(0, 63)) AS i)
      |  GROUP BY doc_id, i),
      |shh AS MATERIALIZED (
      |  SELECT doc_id,
      |    string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, ''
      |      ORDER BY i) AS h
      |  FROM bits GROUP BY doc_id),
      |banded AS (
      |  SELECT doc_id, h, b, substr(h, b * 16 + 1, 16) AS block
      |  FROM shh, (SELECT unnest(generate_series(0, 3)) AS b)),
      |det AS MATERIALIZED (
      |  SELECT id_a, id_b FROM (
      |    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      |      a.h AS ha, b.h AS hb
      |    FROM banded a JOIN banded b
      |      ON a.b = b.b AND a.block = b.block AND a.doc_id < b.doc_id)
      |  WHERE len(list_filter(generate_series(1, 64),
      |    i -> substr(ha, i, 1) <> substr(hb, i, 1))) <= 3),
      |sel AS (SELECT
      |  (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
      |  (SELECT CAST(count(*) AS BIGINT) FROM det) AS n_detected,
      |  (SELECT CAST(count(*) AS BIGINT)
      |   FROM truth JOIN det USING (id_a, id_b)) AS n_both)
      |SELECT n_truth, n_detected, n_both,
      |  CAST(n_both * 10000 // NULLIF(n_truth, 0) AS BIGINT) AS recall_bp,
      |  CAST(n_both * 10000 // NULLIF(n_detected, 0) AS BIGINT)
      |    AS precision_bp
      |FROM sel""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q331_source_overlap" -> """
      |WITH d AS (
      |  SELECT source, text FROM documents
      |  UNION ALL
      |  SELECT 'mirror', text FROM documents WHERE doc_id % 7 = 0),
      |s AS (SELECT DISTINCT source, sha256(text) AS h FROM d)
      |SELECT a.source AS source_a, b.source AS source_b,
      |  CAST(count(*) AS BIGINT) AS n_shared
      |FROM s a JOIN s b ON a.h = b.h AND a.source < b.source
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q329_dup_cluster_dist" -> s"""
      |WITH $corpusSql,
      |sizes AS (
      |  SELECT sha256(text) AS h, CAST(count(*) AS BIGINT) AS sz
      |  FROM corpus GROUP BY 1),
      |tot AS (SELECT CAST(sum(sz) AS BIGINT) AS t FROM sizes)
      |SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
      |  CAST(sz * count(*) AS BIGINT) AS n_docs,
      |  CAST(sz * count(*) * 10000 // max(tot.t) AS BIGINT) AS share_bp
      |FROM sizes CROSS JOIN tot
      |GROUP BY sz ORDER BY sz""".stripMargin,
    "q330_cap_audit" -> s"""
      |WITH $corpusSql,
      |$shinglesSql,
      |freq AS (SELECT s, CAST(count(*) AS BIGINT) AS c
      |         FROM sh GROUP BY 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_types,
      |  CAST(sum(c) AS BIGINT) AS n_rows,
      |  CAST(sum(CASE WHEN c > 16 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS capped_types,
      |  CAST(sum(CASE WHEN c > 16 THEN c ELSE 0 END) AS BIGINT)
      |    AS capped_rows,
      |  CAST(sum(CASE WHEN c > 16 THEN c ELSE 0 END) * 10000
      |    // NULLIF(sum(c), 0) AS BIGINT) AS dropped_bp
      |FROM freq""".stripMargin,
    "q327_ivf_recall" -> s"""
      |WITH $qembSql,
      |ex AS MATERIALIZED (
      |  SELECT query_id, nn_id FROM (
      |    SELECT qe.vec_id AS query_id, ce.vec_id AS nn_id,
      |      row_number() OVER (PARTITION BY qe.vec_id
      |        ORDER BY CAST(list_dot_product(qe.q, ce.q) AS BIGINT) DESC,
      |          ce.vec_id) AS rank
      |    FROM e qe JOIN e ce ON ce.vec_id <> qe.vec_id
      |    WHERE qe.vec_id % 400 = 0 AND qe.vec_id < 3200)
      |  WHERE rank <= 10),
      |cents AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, q AS cq
      |  FROM (SELECT vec_id, q FROM e ORDER BY vec_id LIMIT 16)),
      |cd AS (
      |  SELECT e.vec_id, c.cid,
      |    CAST(list_dot_product(e.q, c.cq) AS BIGINT) AS cdot
      |  FROM e, cents c),
      |assign AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY cdot DESC, cid DESC) AS rn FROM cd) WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, cid FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY cdot DESC, cid DESC) AS rn
      |    FROM cd WHERE vec_id % 400 = 0 AND vec_id < 3200) WHERE rn <= 4),
      |ap AS MATERIALIZED (
      |  SELECT query_id, nn_id FROM (
      |    SELECT p.query_id, a.vec_id AS nn_id,
      |      row_number() OVER (PARTITION BY p.query_id
      |        ORDER BY CAST(list_dot_product(qq.q, aq.q) AS BIGINT) DESC,
      |          a.vec_id) AS rank
      |    FROM probes p
      |    JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id
      |    JOIN e qq ON qq.vec_id = p.query_id
      |    JOIN e aq ON aq.vec_id = a.vec_id)
      |  WHERE rank <= 10)
      |SELECT ex.query_id, CAST(count(*) AS BIGINT) AS n_exact,
      |  CAST(sum(CASE WHEN ap.nn_id IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS hits,
      |  CAST(sum(CASE WHEN ap.nn_id IS NOT NULL THEN 1 ELSE 0 END)
      |    * 10000 // count(*) AS BIGINT) AS recall_bp
      |FROM ex LEFT JOIN ap
      |  ON ap.query_id = ex.query_id AND ap.nn_id = ex.nn_id
      |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q324_heldout_xent" -> """
      |WITH d AS (
      |  SELECT lang, text,
      |    CASE WHEN b < 80 THEN 1 WHEN b >= 90 THEN 0 END AS tr
      |  FROM (SELECT lang, text,
      |    ('0x' || substring(sha256(CAST(doc_id AS VARCHAR)), 1, 4))
      |      ::BIGINT % 100 AS b
      |    FROM documents)),
      |t AS (
      |  SELECT lang, tr,
      |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      |  FROM d WHERE tr IS NOT NULL),
      |tc AS MATERIALIZED (
      |  SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
      |  FROM t WHERE tr = 1 GROUP BY 1, 2),
      |tg AS (
      |  SELECT lang, CAST(sum(c) AS BIGINT) AS train_tokens,
      |    CAST(count(*) AS BIGINT) AS train_vocab,
      |    CAST(length(bin(CAST(sum(c) + count(*) + 1 AS BIGINT)))
      |      AS BIGINT) AS k
      |  FROM tc GROUP BY 1),
      |sc AS (
      |  SELECT lang, tok, CAST(count(*) AS BIGINT) AS n
      |  FROM t WHERE tr = 0 GROUP BY 1, 2),
      |j AS (
      |  SELECT sc.lang, sc.n, tc.c, tg.k
      |  FROM sc
      |  LEFT JOIN tc ON tc.lang = sc.lang AND tc.tok = sc.tok
      |  JOIN tg ON tg.lang = sc.lang),
      |a AS (
      |  SELECT lang, CAST(sum(n) AS BIGINT) AS n_test,
      |    CAST(sum(CASE WHEN c IS NULL THEN n ELSE 0 END) AS BIGINT)
      |      AS oov_tokens,
      |    CAST(sum(n * (k - length(bin(CAST(coalesce(c, 0) + 1
      |      AS BIGINT))))) AS BIGINT) AS x
      |  FROM j GROUP BY 1)
      |SELECT a.lang, tg.train_tokens, tg.train_vocab, a.n_test,
      |  a.oov_tokens,
      |  CAST(x * 100 // NULLIF(n_test, 0) AS BIGINT) AS xent_cb
      |FROM a JOIN tg USING (lang) ORDER BY a.lang""".stripMargin,
    "q323_coverage_curve" -> """
      |WITH d AS (
      |  SELECT lang, doc_id,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
      |      AS BIGINT) AS w
      |  FROM documents),
      |r AS (
      |  SELECT lang, w,
      |    CAST(row_number() OVER pw AS BIGINT) AS rk,
      |    CAST(sum(w) OVER (pw ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) AS BIGINT) AS cum,
      |    CAST(sum(w) OVER (PARTITION BY lang) AS BIGINT) AS tot
      |  FROM d
      |  WINDOW pw AS (PARTITION BY lang ORDER BY w DESC, doc_id))
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(max(tot) AS BIGINT) AS total_w,
      |  CAST(min(CASE WHEN cum * 10000 >= tot * 2500 THEN rk END)
      |    AS BIGINT) AS k_bp2500,
      |  CAST(min(CASE WHEN cum * 10000 >= tot * 5000 THEN rk END)
      |    AS BIGINT) AS k_bp5000,
      |  CAST(min(CASE WHEN cum * 10000 >= tot * 9000 THEN rk END)
      |    AS BIGINT) AS k_bp9000
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "q321_vocab_knee" -> """
      |WITH toks AS (
      |  SELECT lang,
      |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      |  FROM documents),
      |f AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
      |      FROM toks GROUP BY 1, 2),
      |r AS (SELECT lang,
      |        CAST(row_number() OVER (PARTITION BY lang
      |          ORDER BY c DESC, tok) AS BIGINT) AS x,
      |        c AS y
      |      FROM f),
      |e AS (SELECT lang, min(x) AS x1, max(x) AS x2 FROM r GROUP BY 1),
      |e2 AS (SELECT e.lang, e.x1, r1.y AS y1, e.x2, r2.y AS y2
      |       FROM e
      |       JOIN r r1 ON r1.lang = e.lang AND r1.x = e.x1
      |       JOIN r r2 ON r2.lang = e.lang AND r2.x = e.x2),
      |d AS (SELECT r.lang, r.x, r.y, e2.x1, e2.y1, e2.x2, e2.y2,
      |        abs((CAST(e2.y2 AS HUGEINT) - e2.y1) * r.x -
      |            (CAST(e2.x2 AS HUGEINT) - e2.x1) * r.y +
      |            CAST(e2.x2 AS HUGEINT) * e2.y1 -
      |            CAST(e2.y2 AS HUGEINT) * e2.x1) AS dn
      |      FROM r JOIN e2 ON e2.lang = r.lang),
      |k AS (SELECT lang, x1, y1, x2, y2, x AS knee_x, y AS knee_y,
      |        row_number() OVER (PARTITION BY lang
      |          ORDER BY dn DESC, x) AS rk
      |      FROM d)
      |SELECT lang, x1, y1, x2, y2, knee_x, knee_y FROM k
      |WHERE rk = 1 ORDER BY lang""".stripMargin,
    "q319_simhash_recall" -> simhashAuditOracle(corpusSql),
    "q346_sampled_simhash_recall" -> simhashAuditOracle(
      s"""sampled0 AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
         |corpus AS (
         |  SELECT doc_id, text FROM sampled0
         |  WHERE ('0x' || substring(sha256(CAST(doc_id AS VARCHAR)), 1, 4))
         |    ::BIGINT % 2 = 0)""".stripMargin),
    "q343_markup_density" -> """
      |WITH d AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0
      |      THEN '<div class="x">' || text || '</div> &amp; <br/>'
      |    WHEN doc_id % 5 = 0
      |      THEN text || ' see https://example.com/a?b=1 now'
      |    ELSE text END AS text
      |  FROM documents)
      |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
      |  CAST(len(regexp_extract_all(text, '<[a-zA-Z/][^<>]*>'))
      |    AS BIGINT) AS n_tags,
      |  CAST(len(regexp_extract_all(text, '&[a-zA-Z]+;|&#[0-9]+;'))
      |    AS BIGINT) AS n_entities,
      |  CAST(len(regexp_extract_all(text, 'https?://[^ ]+'))
      |    AS BIGINT) AS n_urls,
      |  CAST((length(text)
      |      - length(regexp_replace(text, '<[a-zA-Z/][^<>]*>', '', 'g')))
      |    + (length(text)
      |      - length(regexp_replace(text, '&[a-zA-Z]+;|&#[0-9]+;', '', 'g')))
      |    + (length(text)
      |      - length(regexp_replace(text, 'https?://[^ ]+', '', 'g')))
      |    AS BIGINT) AS markup_chars,
      |  CAST(((length(text)
      |      - length(regexp_replace(text, '<[a-zA-Z/][^<>]*>', '', 'g')))
      |    + (length(text)
      |      - length(regexp_replace(text, '&[a-zA-Z]+;|&#[0-9]+;', '', 'g')))
      |    + (length(text)
      |      - length(regexp_replace(text, 'https?://[^ ]+', '', 'g'))))
      |    * 10000 // NULLIF(length(text), 0) AS BIGINT) AS markup_bp
      |FROM d ORDER BY doc_id""".stripMargin,
    "q344_lsh_band_plan" -> """
      |WITH g AS (SELECT unnest(generate_series(0, 40)) AS i),
      |x AS (SELECT i, CAST(i * 250 AS DOUBLE) / 10000.0 AS x FROM g),
      |q AS (SELECT i, x, 1.0 - (x*x*x*x) AS q FROM x)
      |SELECT CAST(i * 250 AS BIGINT) AS s_bp,
      |  CAST(floor((1.0 - (q*q*q*q*q*q*q*q)) * 10000.0) AS BIGINT)
      |    AS collide_bp
      |FROM q ORDER BY s_bp""".stripMargin,
    "q345_temperature_weights" -> """
      |WITH c AS (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents
      |  GROUP BY 1),
      |s AS (SELECT lang, n,
      |    CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS isqrt_n
      |  FROM c),
      |d AS (SELECT CAST(sum(isqrt_n) AS BIGINT) AS den FROM s),
      |r AS (SELECT lang, n, isqrt_n,
      |    CAST(CAST(30000 AS HUGEINT) * isqrt_n // den AS BIGINT) AS raw
      |  FROM s, d)
      |SELECT lang, n, isqrt_n,
      |  least(n, raw) AS take_rows, raw > n AS capped,
      |  CAST(least(n, raw) * 10000 // n AS BIGINT) AS rate_bp
      |FROM r ORDER BY lang""".stripMargin,
    "q419_kn_continuation" -> """
      |WITH tk AS (
      |  SELECT list_filter(string_split_regex(text, '[ \t\n\r]+'),
      |    x -> x <> '') AS t
      |  FROM documents),
      |big AS (
      |  SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
      |  FROM (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
      |      i -> t[i] || ' ' || t[i + 1])) AS bg FROM tk)),
      |uf AS (
      |  SELECT term, count(*) AS freq
      |  FROM (SELECT unnest(t) AS term FROM tk) GROUP BY 1),
      |ctx AS (
      |  SELECT w2 AS term, count(DISTINCT w1) AS n_contexts
      |  FROM big GROUP BY 1),
      |tt AS (SELECT count(*) AS b FROM (SELECT DISTINCT w1, w2 FROM big))
      |SELECT c.term, CAST(freq AS BIGINT) AS freq,
      |  CAST(n_contexts AS BIGINT) AS n_contexts,
      |  CAST(n_contexts * 1000000 // b AS BIGINT) AS pcont_ppm
      |FROM ctx c JOIN uf USING (term) CROSS JOIN tt
      |ORDER BY n_contexts DESC, term LIMIT 50""".stripMargin,
    "q421_shuffle_mix" -> """
      |WITH r AS (
      |  SELECT doc_id, source,
      |    CAST(row_number() OVER (ORDER BY sha256(CAST(doc_id AS VARCHAR)),
      |      doc_id) AS BIGINT) AS idx
      |  FROM documents),
      |s AS (SELECT doc_id, source, idx, (idx - 1) % 8 AS shard FROM r),
      |l AS (
      |  SELECT shard, source,
      |    lag(source) OVER (PARTITION BY shard ORDER BY idx) AS prev
      |  FROM s),
      |runs AS (
      |  SELECT shard, count(*) AS n,
      |    sum(CASE WHEN prev IS NULL OR prev <> source THEN 1 ELSE 0 END)
      |      AS n_runs
      |  FROM l GROUP BY 1),
      |comp AS (
      |  SELECT shard, sum(CAST(ns AS HUGEINT) * (ns - 1)) AS same
      |  FROM (SELECT shard, source, count(*) AS ns FROM s GROUP BY 1, 2)
      |  GROUP BY 1),
      |e AS (
      |  SELECT runs.shard, n, n_runs,
      |    CAST((CAST(n AS HUGEINT) * n - same) * 1000 // n AS BIGINT)
      |      AS exp_runs_milli
      |  FROM runs JOIN comp USING (shard))
      |SELECT shard, CAST(n AS BIGINT) AS n, CAST(n_runs AS BIGINT) AS n_runs,
      |  exp_runs_milli,
      |  CAST(CAST(n_runs AS HUGEINT) * 1000000 // NULLIF(exp_runs_milli, 0)
      |    AS BIGINT) AS ratio_milli
      |FROM e ORDER BY shard""".stripMargin,
    "q422_dedup_sweep" -> s"""
      |WITH $corpusSql,
      |$shinglesSql,
      |freq AS (SELECT s, count(*) AS c FROM sh GROUP BY 1),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
      |    max(CASE WHEN f.c <= 256 THEN 1 ELSE 0 END) AS has_kept
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  JOIN freq f ON f.s = a.s
      |  GROUP BY 1, 2),
      |jp AS (
      |  SELECT id_a, id_b,
      |    inter * 10000 // (sa.n + sb.n - inter) AS jbp
      |  FROM pairs
      |  JOIN sizes sa ON sa.doc_id = id_a
      |  JOIN sizes sb ON sb.doc_id = id_b
      |  WHERE 2 * inter >= sa.n + sb.n - inter AND has_kept = 1),
      |taus AS (SELECT * FROM (VALUES (5000), (6000), (7000), (8000),
      |  (9000), (10000)) t(tau)),
      |hit AS (SELECT tau, id_a, id_b FROM taus JOIN jp ON jbp >= tau),
      |np AS (SELECT tau, count(*) AS n_pairs FROM hit GROUP BY 1),
      |nd AS (
      |  SELECT tau, count(DISTINCT d) AS n_docs
      |  FROM (SELECT tau, id_a AS d FROM hit
      |        UNION ALL SELECT tau, id_b FROM hit)
      |  GROUP BY 1)
      |SELECT t.tau, CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
      |  CAST(coalesce(n_docs, 0) AS BIGINT) AS n_docs
      |FROM taus t LEFT JOIN np USING (tau) LEFT JOIN nd USING (tau)
      |ORDER BY tau""".stripMargin,
    "q450_scurve_empirical" -> s"""
      |WITH $corpusSql,
      |$shinglesSql,
      |freq AS (SELECT s, count(*) AS c FROM sh GROUP BY 1),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |cand AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
      |    max(CASE WHEN f.c <= 256 THEN 1 ELSE 0 END) AS has_kept
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  JOIN freq f ON f.s = a.s
      |  GROUP BY 1, 2),
      |jp AS (
      |  SELECT id_a, id_b,
      |    inter * 10000 // (sa.n + sb.n - inter) AS jbp
      |  FROM cand
      |  JOIN sizes sa ON sa.doc_id = id_a
      |  JOIN sizes sb ON sb.doc_id = id_b
      |  WHERE has_kept = 1
      |    AND ('0x' || substring(sha256(CAST(id_a AS VARCHAR) || ':'
      |      || CAST(id_b AS VARCHAR)), 1, 4))::BIGINT % 20 = 0),
      |sigs AS (
      |  SELECT doc_id, d * 8 + j AS i,
      |    min(('0x' || substring(hx, 1 + 8 * j, 8))::BIGINT) AS mh
      |  FROM (SELECT doc_id, d,
      |          sha256(CAST(d AS VARCHAR) || ':' || s) AS hx
      |        FROM sh CROSS JOIN
      |          (SELECT unnest(generate_series(0, 3)) AS d) pd
      |        WHERE doc_id IN
      |          (SELECT id_a FROM jp UNION SELECT id_b FROM jp)) t
      |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) pj
      |  GROUP BY 1, 2),
      |bands AS (
      |  SELECT id_a, id_b, jbp, a.i // 4 AS band,
      |    sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS eq
      |  FROM jp
      |  JOIN sigs a ON a.doc_id = id_a
      |  JOIN sigs b ON b.doc_id = id_b AND b.i = a.i
      |  GROUP BY 1, 2, 3, 4),
      |coll AS (
      |  SELECT id_a, id_b, jbp,
      |    max(CASE WHEN eq = 4 THEN 1 ELSE 0 END) AS collided
      |  FROM bands GROUP BY 1, 2, 3)
      |SELECT least(jbp // 1000, 9) AS decile,
      |  CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(sum(collided) AS BIGINT) AS n_collided,
      |  CAST(sum(collided) * 10000 // count(*) AS BIGINT) AS rate_bp
      |FROM coll GROUP BY 1 ORDER BY decile""".stripMargin,
    "q454_vocab_overlap" -> """
      |WITH tf AS (
      |  SELECT lang, term, count(*) AS tf FROM (
      |    SELECT lang, unnest(list_filter(
      |      string_split_regex(text, '[ \t\n\r]+'), x -> x <> '')) AS term
      |    FROM documents)
      |  GROUP BY 1, 2),
      |top AS (
      |  SELECT lang, term FROM (
      |    SELECT lang, term, row_number() OVER (PARTITION BY lang
      |      ORDER BY tf DESC, term) AS rk
      |    FROM tf)
      |  WHERE rk <= 100),
      |inter AS (
      |  SELECT a.lang AS lang_a, b.lang AS lang_b, count(*) AS n_shared
      |  FROM top a JOIN top b ON a.term = b.term AND a.lang < b.lang
      |  GROUP BY 1, 2),
      |sizes AS (SELECT lang, count(*) AS n FROM top GROUP BY 1)
      |SELECT lang_a, lang_b, CAST(n_shared AS BIGINT) AS n_shared,
      |  CAST(n_shared * 10000 // (sa.n + sb.n - n_shared) AS BIGINT)
      |    AS jaccard_bp
      |FROM inter
      |JOIN sizes sa ON sa.lang = lang_a
      |JOIN sizes sb ON sb.lang = lang_b
      |ORDER BY lang_a, lang_b""".stripMargin,
    "q455_whale_impact" -> """
      |WITH e AS (
      |  SELECT event_type, event_id, CAST(round(value * 100) AS BIGINT) AS v
      |  FROM events WHERE value IS NOT NULL AND value >= 0),
      |r AS (
      |  SELECT event_type, v, row_number() OVER (PARTITION BY event_type
      |    ORDER BY v DESC, event_id) AS rk
      |  FROM e),
      |a AS (
      |  SELECT event_type, count(*) AS n, sum(v) AS s,
      |    sum(CASE WHEN rk > 10 THEN v ELSE 0 END) AS s_trim,
      |    sum(CASE WHEN rk > 10 THEN 1 ELSE 0 END) AS n_trim
      |  FROM r GROUP BY 1 HAVING sum(CASE WHEN rk > 10 THEN 1 ELSE 0 END) > 0),
      |m AS (
      |  SELECT event_type, n,
      |    CAST(CAST(s AS HUGEINT) * 1000 // n AS BIGINT) AS mean_milli,
      |    CAST(CAST(s_trim AS HUGEINT) * 1000 // n_trim AS BIGINT)
      |      AS mean_trim_milli
      |  FROM a)
      |SELECT event_type, CAST(n AS BIGINT) AS n, mean_milli,
      |  mean_trim_milli,
      |  CAST(CAST(mean_milli - mean_trim_milli AS HUGEINT) * 10000
      |    // NULLIF(mean_milli, 0) AS BIGINT) AS impact_bp
      |FROM m ORDER BY event_type""".stripMargin,
    "q449_dedup_mix_shift" -> """
      |WITH m AS (
      |  SELECT source,
      |    row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
      |      AS keep
      |  FROM documents),
      |per AS (
      |  SELECT source, count(*) AS n_before,
      |    sum(CASE WHEN keep THEN 1 ELSE 0 END) AS n_after
      |  FROM m GROUP BY 1),
      |t AS (SELECT sum(n_before) AS tb, sum(n_after) AS ta FROM per)
      |SELECT source, CAST(n_before AS BIGINT) AS n_before,
      |  CAST(n_after AS BIGINT) AS n_after,
      |  CAST(n_before * 10000 // tb AS BIGINT) AS share_before_bp,
      |  CAST(n_after * 10000 // ta AS BIGINT) AS share_after_bp,
      |  CAST(n_after * 10000 // ta - n_before * 10000 // tb AS BIGINT)
      |    AS delta_bp
      |FROM per CROSS JOIN t ORDER BY source""".stripMargin,
    "q447_int8_recall" -> """
      |WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |em AS (
      |  SELECT vec_id,
      |    list_transform(v, x -> CAST(round(x*1000) AS BIGINT)) AS q,
      |    list_transform(v, x -> CAST(floor(x * (CASE WHEN
      |      list_max(list_transform(v, y -> abs(y))) = 0 THEN 0.0 ELSE
      |      127.0 / list_max(list_transform(v, y -> abs(y))) END))
      |      AS BIGINT)) AS q8
      |  FROM e),
      |truth AS (
      |  SELECT query_id, nn_id FROM (
      |    SELECT qe.vec_id AS query_id, ce.vec_id AS nn_id,
      |      row_number() OVER (PARTITION BY qe.vec_id
      |        ORDER BY CAST(list_dot_product(qe.q, ce.q) AS BIGINT) DESC,
      |          ce.vec_id) AS rnk
      |    FROM em qe JOIN em ce ON ce.vec_id <> qe.vec_id
      |    WHERE qe.vec_id % 400 = 0 AND qe.vec_id < 3200)
      |  WHERE rnk <= 10),
      |approx AS (
      |  SELECT query_id, nn_id FROM (
      |    SELECT qe.vec_id AS query_id, ce.vec_id AS nn_id,
      |      row_number() OVER (PARTITION BY qe.vec_id
      |        ORDER BY CAST(list_dot_product(qe.q8, ce.q8) AS BIGINT) DESC,
      |          ce.vec_id) AS rnk
      |    FROM em qe JOIN em ce ON ce.vec_id <> qe.vec_id
      |    WHERE qe.vec_id % 400 = 0 AND qe.vec_id < 3200)
      |  WHERE rnk <= 10)
      |SELECT CAST(count(DISTINCT t.query_id) AS BIGINT) AS n_queries,
      |  CAST(count(a.nn_id) AS BIGINT) AS hits,
      |  CAST(count(*) AS BIGINT) AS n_exact,
      |  CAST(count(a.nn_id) * 10000 // count(*) AS BIGINT) AS recall_bp
      |FROM truth t
      |LEFT JOIN approx a ON a.query_id = t.query_id
      |  AND a.nn_id = t.nn_id""".stripMargin,
    "q448_hash_uniformity" -> """
      |WITH dk AS (SELECT doc_id AS k FROM documents),
      |uk AS (SELECT DISTINCT user_id AS k FROM events
      |       WHERE user_id IS NOT NULL AND user_id >= 0),
      |f AS (
      |  SELECT 'doc_id' AS population,
      |    ('0x' || substring(sha256(CAST(k AS VARCHAR)), 1, 4))::BIGINT
      |      % 100 AS b
      |  FROM dk
      |  UNION ALL
      |  SELECT 'user_id',
      |    ('0x' || substring(sha256(CAST(k AS VARCHAR)), 1, 4))::BIGINT
      |      % 100
      |  FROM uk),
      |o AS (SELECT population, b, count(*) AS o FROM f GROUP BY 1, 2),
      |a AS (
      |  SELECT population, count(*) AS n_buckets, sum(o) AS n,
      |    sum(CAST(100 * o AS HUGEINT) * (100 * o)) AS so2
      |  FROM o GROUP BY 1)
      |SELECT population, CAST(n_buckets AS BIGINT) AS n_buckets,
      |  CAST(n AS BIGINT) AS n,
      |  CAST((so2 - 2 * 100 * CAST(n AS HUGEINT) * n
      |    + 100 * CAST(n AS HUGEINT) * n) * 1000
      |    // (100 * CAST(n AS HUGEINT)) AS BIGINT) AS chi2_milli
      |FROM a ORDER BY population""".stripMargin,
    "q445_group_auc" -> """
      |WITH d AS (
      |  SELECT source, n_chars AS score,
      |    ('0x' || substring(sha256(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 4 <> 0 AS y
      |  FROM documents),
      |r AS (
      |  SELECT source, y,
      |    rank() OVER (PARTITION BY source ORDER BY score) * 2
      |      + count(*) OVER (PARTITION BY source, score) - 1 AS r_x2
      |  FROM d),
      |a AS (
      |  SELECT source,
      |    sum(CASE WHEN y THEN 1 ELSE 0 END) AS n_pos,
      |    sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS n_neg,
      |    sum(CASE WHEN y THEN r_x2 END) AS r1
      |  FROM r GROUP BY 1)
      |SELECT source, CAST(n_pos AS BIGINT) AS n_pos,
      |  CAST(n_neg AS BIGINT) AS n_neg,
      |  CAST((r1 - n_pos * (n_pos + 1)) * 10000
      |    // (2 * n_pos * n_neg) AS BIGINT) AS auc_bp
      |FROM a WHERE n_pos > 0 AND n_neg > 0
      |ORDER BY source""".stripMargin,
    "q446_isotropy" -> """
      |WITH e AS (
      |  SELECT label, list_transform(CAST(embedding AS DOUBLE[]),
      |    x -> CAST(round(x*1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |n AS (
      |  SELECT label, count(*) AS n,
      |    sum(CAST(list_dot_product(q, q) AS BIGINT)) AS energy
      |  FROM e GROUP BY 1),
      |m AS (
      |  SELECT label, sum(CAST(s AS HUGEINT) * s) AS m2
      |  FROM (
      |    SELECT label, i AS dim, sum(q[i]) AS s
      |    FROM e, unnest(generate_series(1, len(q))) AS t(i)
      |    GROUP BY 1, 2)
      |  GROUP BY 1)
      |SELECT n.label, CAST(n AS BIGINT) AS n,
      |  CAST(energy AS BIGINT) AS energy,
      |  CAST(m2 * 1000000 // (CAST(n AS HUGEINT) * energy) AS BIGINT)
      |    AS isotropy_ppm
      |FROM n JOIN m ON n.label = m.label
      |ORDER BY n.label""".stripMargin,
    "q459_dim_variance" -> """
      |WITH e AS (
      |  SELECT label,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> CAST(round(x*1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |x AS (
      |  SELECT label, i - 1 AS dim, q[i] AS v
      |  FROM e, unnest(generate_series(1, len(q))) AS t(i)),
      |per AS (
      |  SELECT label, dim, count(*) AS n, sum(v) AS s, sum(v * v) AS s2
      |  FROM x GROUP BY 1, 2),
      |v AS (SELECT label, dim, n,
      |        (CAST(n AS HUGEINT) * s2 - CAST(s AS HUGEINT) * s)
      |          // (CAST(n AS HUGEINT) * n) AS var_micro
      |      FROM per),
      |r AS (SELECT *, row_number() OVER (PARTITION BY label
      |        ORDER BY var_micro, dim) AS rk FROM v)
      |SELECT label, CAST(rk AS BIGINT) AS rk, CAST(dim AS BIGINT) AS dim,
      |  CAST(n AS BIGINT) AS n, CAST(var_micro AS BIGINT) AS var_micro
      |FROM r WHERE rk <= 5 ORDER BY label, rk""".stripMargin,
    "q442_minhash_est_error" -> s"""
      |WITH $corpusSql,
      |$shinglesSql,
      |freq AS (SELECT s, count(*) AS c FROM sh GROUP BY 1),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |cand AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
      |    max(CASE WHEN f.c <= 256 THEN 1 ELSE 0 END) AS has_kept
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  JOIN freq f ON f.s = a.s
      |  GROUP BY 1, 2),
      |jp AS (
      |  SELECT id_a, id_b,
      |    inter * 10000 // (sa.n + sb.n - inter) AS exact_bp
      |  FROM cand
      |  JOIN sizes sa ON sa.doc_id = id_a
      |  JOIN sizes sb ON sb.doc_id = id_b
      |  WHERE 2 * inter >= sa.n + sb.n - inter AND has_kept = 1),
      |sigs AS (
      |  SELECT doc_id, d * 8 + j AS i,
      |    min(('0x' || substring(hx, 1 + 8 * j, 8))::BIGINT) AS mh
      |  FROM (SELECT doc_id, d,
      |          sha256(CAST(d AS VARCHAR) || ':' || s) AS hx
      |        FROM sh CROSS JOIN
      |          (SELECT unnest(generate_series(0, 3)) AS d) pd) t
      |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) pj
      |  GROUP BY 1, 2),
      |est AS (
      |  SELECT id_a, id_b, exact_bp,
      |    sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS matches
      |  FROM jp
      |  JOIN sigs a ON a.doc_id = id_a
      |  JOIN sigs b ON b.doc_id = id_b AND b.i = a.i
      |  GROUP BY 1, 2, 3)
      |SELECT id_a, id_b, CAST(exact_bp AS BIGINT) AS exact_bp,
      |  CAST(matches * 10000 // 32 AS BIGINT) AS est_bp,
      |  CAST(abs(matches * 10000 // 32 - exact_bp) AS BIGINT) AS abs_err_bp
      |FROM est ORDER BY id_a, id_b""".stripMargin,
    "q443_split_reassembly" -> """
      |WITH w AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, '[ \t\n\r]+'),
      |      x -> x <> '') AS tk
      |  FROM documents),
      |t AS (
      |  SELECT doc_id, tk FROM w
      |  UNION ALL
      |  SELECT doc_id + 2000000, tk[1:20] FROM w WHERE len(tk) >= 32
      |  UNION ALL
      |  SELECT doc_id + 3000000, tk[13:] FROM w WHERE len(tk) >= 32),
      |f AS (SELECT doc_id, tk FROM t WHERE len(tk) >= 16),
      |heads AS (
      |  SELECT doc_id AS next_id, array_to_string(tk[1:8], ' ') AS seam
      |  FROM f),
      |tails AS (
      |  SELECT doc_id AS prev_id, array_to_string(tk[-8:], ' ') AS seam
      |  FROM f)
      |SELECT prev_id, next_id, seam
      |FROM tails JOIN heads USING (seam)
      |WHERE prev_id <> next_id ORDER BY prev_id, next_id""".stripMargin,
    "q444_filtered_ann" -> """
      |WITH e AS (
      |  SELECT vec_id, label, list_transform(CAST(embedding AS DOUBLE[]),
      |    x -> CAST(round(x*1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |qs AS (
      |  SELECT vec_id AS query_id, label AS qlabel, q AS qq FROM e
      |  WHERE vec_id % 400 = 0 AND vec_id < 3200),
      |scored AS (
      |  SELECT query_id, e.vec_id AS nn_id, e.label,
      |    CAST(list_dot_product(qq, e.q) AS BIGINT) AS dot
      |  FROM qs JOIN e ON e.label = qlabel AND e.vec_id <> query_id),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY dot DESC, nn_id) AS rank
      |  FROM scored)
      |SELECT query_id, rank, nn_id, label, dot FROM r
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q440_simpson_diversity" -> """
      |WITH c AS (
      |  SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2),
      |a AS (
      |  SELECT source, count(*) AS richness, sum(n) AS n_docs,
      |    sum(CAST(n AS HUGEINT) * (n - 1)) AS same
      |  FROM c GROUP BY 1 HAVING sum(n) >= 2)
      |SELECT source, CAST(richness AS BIGINT) AS richness,
      |  CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(same * 1000000 // (CAST(n_docs AS HUGEINT) * (n_docs - 1))
      |    AS BIGINT) AS lambda_ppm
      |FROM a ORDER BY source""".stripMargin,
    "q441_dup_attribution" -> """
      |WITH r AS (
      |  SELECT source, n_chars,
      |    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rk
      |  FROM documents),
      |a AS (
      |  SELECT source, count(*) AS n_docs,
      |    sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS n_kept,
      |    sum(CASE WHEN rk <> 1 THEN n_chars ELSE 0 END) AS chars_dropped
      |  FROM r GROUP BY 1)
      |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(n_kept AS BIGINT) AS n_kept,
      |  CAST(n_docs - n_kept AS BIGINT) AS n_dropped,
      |  CAST((n_docs - n_kept) * 10000 // n_docs AS BIGINT) AS dropped_bp,
      |  CAST(chars_dropped AS BIGINT) AS chars_dropped
      |FROM a ORDER BY source""".stripMargin,
    "q438_mahalanobis_outliers" -> """
      |WITH e AS (
      |  SELECT vec_id, label, list_transform(CAST(embedding AS DOUBLE[]),
      |    x -> CAST(round(x*1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |x AS (
      |  SELECT vec_id, label, i AS dim, q[i] AS v
      |  FROM e, unnest(generate_series(1, len(q))) AS t(i)),
      |st AS (
      |  SELECT label, dim, count(*) AS n, sum(v) AS s,
      |    sum(CAST(v AS HUGEINT) * v) AS qq
      |  FROM x GROUP BY 1, 2 HAVING count(*) >= 2),
      |mv AS (
      |  SELECT label, dim,
      |    CAST(CAST(s AS HUGEINT) * 1000 // n AS BIGINT) AS m_milli,
      |    CAST((qq * 1000 * n - CAST(s AS HUGEINT) * s * 1000)
      |      // (CAST(n AS HUGEINT) * (n - 1)) AS BIGINT) AS v_milli
      |  FROM st),
      |terms AS (
      |  SELECT x.vec_id, x.label,
      |    CAST((CAST(x.v * 1000 - m_milli AS HUGEINT)
      |      * (x.v * 1000 - m_milli)) // v_milli AS BIGINT) AS t
      |  FROM x JOIN mv ON x.label = mv.label AND x.dim = mv.dim
      |  WHERE v_milli > 0),
      |z AS (
      |  SELECT vec_id, label, count(*) AS n_dims, sum(t) AS z2_milli
      |  FROM terms GROUP BY 1, 2)
      |SELECT vec_id, label, CAST(n_dims AS BIGINT) AS n_dims,
      |  CAST(z2_milli AS BIGINT) AS z2_milli
      |FROM z ORDER BY z2_milli DESC, vec_id LIMIT 20""".stripMargin,
    "q436_term_drift" -> """
      |WITH h AS (
      |  SELECT sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS n1,
      |    sum(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END) AS n2
      |  FROM documents),
      |t AS (
      |  SELECT doc_id % 2 = 0 AS even,
      |    unnest(list_distinct(list_filter(
      |      string_split_regex(text, '[ \t\n\r]+'), x -> x <> ''))) AS term
      |  FROM documents),
      |d AS (
      |  SELECT term,
      |    sum(CASE WHEN even THEN 1 ELSE 0 END) AS df1,
      |    sum(CASE WHEN NOT even THEN 1 ELSE 0 END) AS df2
      |  FROM t GROUP BY 1 HAVING count(*) >= 5),
      |x AS (
      |  SELECT term, df1, df2, n1, n2,
      |    CAST(df1 AS HUGEINT) * (n2 - df2)
      |      - CAST(df2 AS HUGEINT) * (n1 - df1) AS num,
      |    CAST(df1 + df2 AS HUGEINT) * (n1 + n2 - df1 - df2) * n1 * n2
      |      AS den
      |  FROM d, h)
      |SELECT term, CAST(df1 AS BIGINT) AS df1, CAST(df2 AS BIGINT) AS df2,
      |  CAST(CAST(n1 + n2 AS HUGEINT) * num * num * 1000 // den AS BIGINT)
      |    AS chi2_milli
      |FROM x WHERE den > 0
      |ORDER BY chi2_milli DESC, term LIMIT 50""".stripMargin,
    "q437_csv_quarantine" -> """
      |WITH f AS (
      |  SELECT o_orderkey AS k, o_orderkey % 97 = 0 AS corrupt FROM orders)
      |SELECT corrupt, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(min(k) AS BIGINT) AS min_key
      |FROM f GROUP BY 1 ORDER BY corrupt""".stripMargin,
    "q433_maxsim" -> """
      |WITH e AS (
      |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
      |    x -> CAST(round(x*1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |qs AS (SELECT vec_id AS query_id, q AS qq FROM e
      |       WHERE vec_id % 400 = 0 AND vec_id < 3200),
      |pairs AS (
      |  SELECT query_id, qq, e.vec_id AS nn_id, e.q
      |  FROM qs JOIN e ON e.vec_id <> query_id),
      |ij AS (SELECT i, j FROM generate_series(0, 7) a(i),
      |       generate_series(0, 7) b(j)),
      |dots AS (
      |  SELECT query_id, nn_id, i,
      |    max(CAST(list_dot_product(
      |      list_slice(qq, i * 8 + 1, i * 8 + 8),
      |      list_slice(q, j * 8 + 1, j * 8 + 8)) AS BIGINT)) AS mx
      |  FROM pairs CROSS JOIN ij GROUP BY 1, 2, 3),
      |ms AS (
      |  SELECT query_id, nn_id, CAST(sum(mx) AS BIGINT) AS maxsim
      |  FROM dots GROUP BY 1, 2),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY maxsim DESC, nn_id) AS rank
      |  FROM ms)
      |SELECT query_id, rank, nn_id, maxsim FROM r
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q434_dedup_transitivity" -> s"""
      |WITH $corpusSql,
      |$shinglesSql,
      |freq AS (SELECT s, count(*) AS c FROM sh GROUP BY 1),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |cand AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
      |    max(CASE WHEN f.c <= 256 THEN 1 ELSE 0 END) AS has_kept
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  JOIN freq f ON f.s = a.s
      |  GROUP BY 1, 2),
      |und AS (
      |  SELECT id_a AS a, id_b AS b
      |  FROM cand
      |  JOIN sizes sa ON sa.doc_id = id_a
      |  JOIN sizes sb ON sb.doc_id = id_b
      |  WHERE 2 * inter >= sa.n + sb.n - inter AND has_kept = 1),
      |deg AS (
      |  SELECT u, count(*) AS d
      |  FROM (SELECT a AS u FROM und UNION ALL SELECT b FROM und)
      |  GROUP BY 1),
      |w AS (
      |  SELECT coalesce(sum(CAST(d AS HUGEINT) * (d - 1) // 2), 0)
      |    AS n_wedges FROM deg),
      |t AS (
      |  SELECT count(*) AS n_tri
      |  FROM und e1
      |  JOIN und e2 ON e2.a = e1.b
      |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
      |ec AS (SELECT count(*) AS n_edges FROM und)
      |SELECT CAST(n_edges AS BIGINT) AS n_edges,
      |  CAST(n_wedges AS BIGINT) AS n_wedges,
      |  CAST(n_tri * 3 AS BIGINT) AS n_closed,
      |  CASE WHEN n_wedges > 0 THEN
      |    CAST((n_wedges - n_tri * 3) * 10000 // n_wedges AS BIGINT)
      |  END AS open_bp
      |FROM ec, w, t""".stripMargin,
    "q435_uncertain_sample" -> """
      |WITH t AS (
      |  SELECT doc_id, list_transform(
      |    list_filter(string_split(text,' '), x -> x <> ''),
      |    x -> lower(x)) AS tk
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, list_reverse_sort([
      |    len(list_filter(tk, x -> x IN ('der','die','das','und','ein','nicht','ist'))),
      |    len(list_filter(tk, x -> x IN ('the','and','of','to','a','in','is'))),
      |    len(list_filter(tk, x -> x IN ('el','los','las','y','un','que','es'))),
      |    len(list_filter(tk, x -> x IN ('le','la','les','et','un','est','que'))),
      |    len(list_filter(tk, x -> x IN ('de','het','een','en','van','niet','is')))])
      |    AS sc
      |  FROM t)
      |SELECT doc_id, sc[1] AS top_score, sc[1] - sc[2] AS margin
      |FROM s ORDER BY margin, top_score DESC, doc_id LIMIT 30""".stripMargin,
    "q429_compress_proxy" -> """
      |WITH g AS (
      |  SELECT doc_id, CAST(length(text) - 3 AS BIGINT) AS n_grams,
      |    CAST(len(list_distinct(list_transform(
      |      generate_series(1, length(text) - 3),
      |      i -> substring(text, i, 4)))) AS BIGINT) AS n_distinct
      |  FROM documents WHERE length(text) >= 4)
      |SELECT doc_id, n_grams, n_distinct,
      |  n_distinct * 10000 // n_grams AS distinct_bp
      |FROM g ORDER BY doc_id""".stripMargin,
    "q430_label_resolution" -> """
      |WITH r AS (
      |  SELECT 'a' AS rater, doc_id, lang AS label FROM documents
      |  UNION ALL
      |  SELECT 'b', doc_id,
      |    CASE WHEN doc_id % 5 = 0 THEN 'l' || CAST(doc_id % 3 AS VARCHAR)
      |      ELSE lang END
      |  FROM documents WHERE doc_id % 2 = 0
      |  UNION ALL
      |  SELECT 'c', doc_id,
      |    CASE WHEN doc_id % 11 = 0 THEN 'xx' ELSE lang END
      |  FROM documents WHERE doc_id % 3 = 0),
      |cons AS (
      |  SELECT doc_id, label AS consensus FROM (
      |    SELECT doc_id, label, row_number() OVER (PARTITION BY doc_id
      |      ORDER BY count(*) DESC, label) AS rk
      |    FROM r GROUP BY doc_id, label)
      |  WHERE rk = 1),
      |j AS (
      |  SELECT rater, count(*) AS n_rated,
      |    sum(CASE WHEN label = consensus THEN 1 ELSE 0 END) AS n_agree
      |  FROM r JOIN cons USING (doc_id) GROUP BY 1)
      |SELECT rater, CAST(n_rated AS BIGINT) AS n_rated,
      |  CAST(n_agree AS BIGINT) AS n_agree,
      |  CAST(n_agree * 10000 // n_rated AS BIGINT) AS agree_bp
      |FROM j ORDER BY rater""".stripMargin,
    "q431_centroid_shift" -> """
      |WITH e AS (
      |  SELECT label, vec_id % 2 = 0 AS even,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> CAST(round(x*1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |counts AS (
      |  SELECT label,
      |    sum(CASE WHEN even THEN 1 ELSE 0 END) AS n1,
      |    sum(CASE WHEN NOT even THEN 1 ELSE 0 END) AS n2
      |  FROM e GROUP BY 1
      |  HAVING sum(CASE WHEN even THEN 1 ELSE 0 END) > 0
      |    AND sum(CASE WHEN NOT even THEN 1 ELSE 0 END) > 0),
      |sums AS (
      |  SELECT label, i AS dim,
      |    coalesce(sum(CASE WHEN even THEN q[i] END), 0) AS s1,
      |    coalesce(sum(CASE WHEN NOT even THEN q[i] END), 0) AS s2
      |  FROM e, unnest(generate_series(1, len(q))) AS t(i)
      |  GROUP BY 1, 2),
      |agg AS (
      |  SELECT s.label, n1, n2, count(*) AS n_dims,
      |    sum((CAST(s1 AS HUGEINT) * n2 - CAST(s2 AS HUGEINT) * n1)
      |      * (CAST(s1 AS HUGEINT) * n2 - CAST(s2 AS HUGEINT) * n1)) AS num
      |  FROM sums s JOIN counts c ON s.label = c.label
      |  GROUP BY 1, 2, 3)
      |SELECT label, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  CAST(n_dims AS BIGINT) AS n_dims,
      |  CAST(num * 1000 // (CAST(n1 AS HUGEINT) * n2 * n1 * n2) AS BIGINT)
      |    AS shift_milli
      |FROM agg ORDER BY label""".stripMargin,
    "q432_prefix_sharing" -> """
      |WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, '[ \t\n\r]+'),
      |      x -> x <> '') AS tk
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_toks,
      |    array_to_string(tk[1:8], ' ') AS prefix
      |  FROM t WHERE len(tk) >= 8),
      |g AS (
      |  SELECT prefix, count(*) AS n_docs, sum(n_toks) AS tokens
      |  FROM p GROUP BY 1 HAVING count(*) >= 2)
      |SELECT prefix, CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(tokens AS BIGINT) AS tokens,
      |  CAST((n_docs - 1) * 8 AS BIGINT) AS cached_tokens
      |FROM g ORDER BY cached_tokens DESC, prefix LIMIT 20""".stripMargin,
    "q427_epoch_decorrelation" -> """
      |WITH r AS (
      |  SELECT source,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY sha256('e0:' || CAST(doc_id AS VARCHAR)), doc_id)
      |      AS BIGINT) AS r0,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY sha256('e1:' || CAST(doc_id AS VARCHAR)), doc_id)
      |      AS BIGINT) AS r1
      |  FROM documents),
      |a AS (
      |  SELECT source, count(*) AS n,
      |    sum(CAST(r0 - r1 AS HUGEINT) * (r0 - r1)) AS d2
      |  FROM r GROUP BY 1 HAVING count(*) >= 2)
      |SELECT source, CAST(n AS BIGINT) AS n, CAST(d2 AS BIGINT) AS sum_d2,
      |  1000000 - CAST(6 * d2 * 1000000
      |    // (CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1)) AS BIGINT)
      |    AS rho_ppm
      |FROM a ORDER BY source""".stripMargin,
    "q428_cdc_chunks" -> """
      |WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split_regex(text, '[ \t\n\r]+'),
      |      x -> x <> '')) AS BIGINT) AS n_tokens,
      |    CAST(len(list_filter(
      |      list_transform(
      |        list_filter(string_split_regex(text, '[ \t\n\r]+'),
      |          x -> x <> ''),
      |        tk -> ('0x' || substring(sha256(tk), 1, 4))::BIGINT % 64),
      |      h -> h = 0)) AS BIGINT) AS n_boundaries
      |  FROM documents)
      |SELECT doc_id, n_tokens, n_boundaries,
      |  n_boundaries + 1 AS n_chunks,
      |  n_tokens * 1000 // (n_boundaries + 1) AS mean_chunk_milli
      |FROM t WHERE n_tokens > 0 ORDER BY doc_id""".stripMargin,
    "q424_packing_sweep" -> """
      |WITH lens AS (
      |  SELECT CAST(len(list_filter(string_split_regex(text, '[ \t\n\r]+'),
      |    x -> x <> '')) AS BIGINT) AS t
      |  FROM documents),
      |ls AS (SELECT * FROM (VALUES (128), (256), (512), (1024)) t(max_len)),
      |a AS (
      |  SELECT max_len, count(*) AS n_docs, sum(t) AS tokens,
      |    sum((t + max_len - 1) // max_len) AS n_windows
      |  FROM lens CROSS JOIN ls GROUP BY 1)
      |SELECT max_len, CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(tokens AS BIGINT) AS tokens,
      |  CAST(n_windows AS BIGINT) AS n_windows,
      |  CAST(n_windows * max_len - tokens AS BIGINT) AS padding,
      |  CAST((n_windows * max_len - tokens) * 10000
      |    // (n_windows * max_len) AS BIGINT) AS waste_bp
      |FROM a ORDER BY max_len""".stripMargin,
    "q425_partition_balance" -> """
      |WITH k AS (
      |  SELECT ('0x' || substring(sha256(CAST(user_id AS VARCHAR)), 1, 4))
      |    ::BIGINT AS h
      |  FROM events WHERE user_id IS NOT NULL AND user_id >= 0),
      |ps AS (SELECT * FROM (VALUES (32), (128), (512)) t(n_part)),
      |loads AS (
      |  SELECT n_part, h % n_part AS part, count(*) AS load
      |  FROM k CROSS JOIN ps GROUP BY 1, 2),
      |a AS (
      |  SELECT n_part, count(*) AS parts_hit, sum(load) AS n_rows,
      |    max(load) AS max_load
      |  FROM loads GROUP BY 1)
      |SELECT n_part, CAST(parts_hit AS BIGINT) AS parts_hit,
      |  CAST(n_rows AS BIGINT) AS n_rows,
      |  CAST(max_load AS BIGINT) AS max_load,
      |  CAST(n_rows * 1000 // n_part AS BIGINT) AS mean_load_milli,
      |  CAST(CAST(max_load AS HUGEINT) * n_part * 10000 // n_rows AS BIGINT)
      |    AS imbalance_bp
      |FROM a ORDER BY n_part""".stripMargin,
    "q426_langid_confusion" -> """
      |WITH t AS (
      |  SELECT doc_id, lang, list_transform(
      |    list_filter(string_split(text,' '), x -> x <> ''),
      |    x -> lower(x)) AS tk
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, lang,
      |    len(list_filter(tk, x -> x IN ('der','die','das','und','ein','nicht','ist'))) AS de,
      |    len(list_filter(tk, x -> x IN ('the','and','of','to','a','in','is'))) AS en,
      |    len(list_filter(tk, x -> x IN ('el','los','las','y','un','que','es'))) AS es,
      |    len(list_filter(tk, x -> x IN ('le','la','les','et','un','est','que'))) AS fr,
      |    len(list_filter(tk, x -> x IN ('de','het','een','en','van','niet','is'))) AS nl
      |  FROM t),
      |p AS (
      |  SELECT lang,
      |    CASE WHEN de >= en AND de >= es AND de >= fr AND de >= nl THEN 'de'
      |         WHEN en >= es AND en >= fr AND en >= nl THEN 'en'
      |         WHEN es >= fr AND es >= nl THEN 'es'
      |         WHEN fr >= nl THEN 'fr' ELSE 'nl' END AS lang_pred
      |  FROM s),
      |c AS (SELECT lang, lang_pred, count(*) AS n FROM p GROUP BY 1, 2),
      |w AS (SELECT *, sum(n) OVER (PARTITION BY lang) AS tot FROM c)
      |SELECT lang, lang_pred, CAST(n AS BIGINT) AS n,
      |  CAST(n * 10000 // tot AS BIGINT) AS share_bp
      |FROM w ORDER BY lang, lang_pred""".stripMargin,
    "q417_fertility" -> """
      |WITH t AS (
      |  SELECT lang, n_chars,
      |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS toks
      |  FROM documents)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS chars,
      |  CAST(sum(toks) AS BIGINT) AS tokens,
      |  CAST(sum(n_chars) * 1000 // NULLIF(sum(toks), 0) AS BIGINT)
      |    AS chars_per_token_milli,
      |  CAST(sum(toks) * 1000 // count(*) AS BIGINT)
      |    AS tokens_per_doc_milli
      |FROM t GROUP BY 1 ORDER BY lang""".stripMargin,
    "q413_matryoshka_recall" -> """
      |WITH e AS (
      |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
      |    x -> CAST(round(x*1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |dims AS (SELECT * FROM (VALUES (8), (16), (32)) t(dim)),
      |truth AS (
      |  SELECT query_id, nn_id FROM (
      |    SELECT qe.vec_id AS query_id, ce.vec_id AS nn_id,
      |      row_number() OVER (PARTITION BY qe.vec_id
      |        ORDER BY CAST(list_dot_product(qe.q, ce.q) AS BIGINT) DESC,
      |          ce.vec_id) AS rnk
      |    FROM e qe JOIN e ce ON ce.vec_id <> qe.vec_id
      |    WHERE qe.vec_id % 400 = 0 AND qe.vec_id < 3200)
      |  WHERE rnk <= 10),
      |a10 AS (
      |  SELECT dim, query_id, nn_id FROM (
      |    SELECT d.dim, qe.vec_id AS query_id, ce.vec_id AS nn_id,
      |      row_number() OVER (PARTITION BY d.dim, qe.vec_id
      |        ORDER BY CAST(list_dot_product(list_slice(qe.q, 1, d.dim),
      |          list_slice(ce.q, 1, d.dim)) AS BIGINT) DESC,
      |          ce.vec_id) AS rnk
      |    FROM dims d CROSS JOIN e qe JOIN e ce ON ce.vec_id <> qe.vec_id
      |    WHERE qe.vec_id % 400 = 0 AND qe.vec_id < 3200)
      |  WHERE rnk <= 10),
      |per AS (
      |  SELECT d.dim,
      |    count(*) AS n_pairs, count(a.nn_id) AS hits,
      |    count(DISTINCT t.query_id) AS n_queries
      |  FROM dims d CROSS JOIN truth t
      |  LEFT JOIN a10 a ON a.dim = d.dim AND a.query_id = t.query_id
      |    AND a.nn_id = t.nn_id
      |  GROUP BY 1)
      |SELECT dim, CAST(n_queries AS BIGINT) AS n_queries,
      |  CAST(hits AS BIGINT) AS hits, CAST(n_pairs AS BIGINT) AS n_exact,
      |  CAST(hits * 10000 // n_pairs AS BIGINT) AS recall_bp
      |FROM per ORDER BY dim""".stripMargin,
    "q414_budget_select" -> """
      |WITH d AS (
      |  SELECT source, doc_id, n_chars, length(text) % 997 AS score
      |  FROM documents),
      |capped AS (
      |  SELECT * FROM (
      |    SELECT source, doc_id, n_chars, score,
      |      sum(n_chars) OVER (PARTITION BY source
      |        ORDER BY score DESC, doc_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      |    FROM d)
      |  WHERE run <= 40000),
      |sel AS (
      |  SELECT * FROM (
      |    SELECT source, doc_id, n_chars,
      |      sum(n_chars) OVER (ORDER BY score DESC, doc_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grun
      |    FROM capped)
      |  WHERE grun <= 300000)
      |SELECT c.source, CAST(c.n AS BIGINT) AS n_candidates,
      |  CAST(c.tok AS BIGINT) AS cost_candidates,
      |  CAST(coalesce(s.n, 0) AS BIGINT) AS n_selected,
      |  CAST(coalesce(s.tok, 0) AS BIGINT) AS cost_selected
      |FROM (SELECT source, count(*) AS n, sum(n_chars) AS tok
      |      FROM capped GROUP BY 1) c
      |LEFT JOIN (SELECT source, count(*) AS n, sum(n_chars) AS tok
      |      FROM sel GROUP BY 1) s ON s.source = c.source
      |ORDER BY c.source""".stripMargin,
    "q315_ann_recall" -> s"""
      |WITH $qembSql,
      |ex AS MATERIALIZED (
      |  SELECT query_id, nn_id FROM (
      |    SELECT qe.vec_id AS query_id, ce.vec_id AS nn_id,
      |      row_number() OVER (PARTITION BY qe.vec_id
      |        ORDER BY CAST(list_dot_product(qe.q, ce.q) AS BIGINT) DESC,
      |          ce.vec_id) AS rank
      |    FROM e qe JOIN e ce ON ce.vec_id <> qe.vec_id
      |    WHERE qe.vec_id % 400 = 0 AND qe.vec_id < 3200)
      |  WHERE rank <= 10),
      |ap AS MATERIALIZED (
      |  SELECT query_id, nn_id FROM (
      |    SELECT qe.vec_id AS query_id, ce.vec_id AS nn_id,
      |      row_number() OVER (PARTITION BY qe.vec_id
      |        ORDER BY CAST(list_dot_product(qe.q, ce.q) AS BIGINT) DESC,
      |          ce.vec_id) AS rank
      |    FROM e qe JOIN e ce ON ce.bucket = qe.bucket
      |      AND ce.vec_id <> qe.vec_id
      |    WHERE qe.vec_id % 400 = 0 AND qe.vec_id < 3200)
      |  WHERE rank <= 10)
      |SELECT ex.query_id, CAST(count(*) AS BIGINT) AS n_exact,
      |  CAST(sum(CASE WHEN ap.nn_id IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS hits,
      |  CAST(sum(CASE WHEN ap.nn_id IS NOT NULL THEN 1 ELSE 0 END)
      |    * 10000 // count(*) AS BIGINT) AS recall_bp
      |FROM ex LEFT JOIN ap
      |  ON ap.query_id = ex.query_id AND ap.nn_id = ex.nn_id
      |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q314_textrank" -> """
      |WITH toks AS MATERIALIZED (
      |  SELECT list_filter(string_split_regex(text, '[ \t\n\r]+'),
      |                     x -> x <> '') AS t
      |  FROM documents),
      |u AS (
      |  SELECT unnest(CASE WHEN len(t) > 1
      |    THEN list_zip(t[1:len(t)-1], t[2:len(t)]) ELSE [] END) AS z
      |  FROM toks),
      |e AS MATERIALIZED (
      |  SELECT DISTINCT src, dst FROM (
      |    SELECT z[1] AS src, z[2] AS dst FROM u
      |    UNION ALL
      |    SELECT z[2], z[1] FROM u)),
      |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
      |d AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
      |r0 AS (SELECT node, CAST(1099511627776 AS BIGINT) AS r FROM nodes),
      |s1 AS MATERIALIZED (
      |  SELECT e.dst, sum(r0.r // d.outdeg) AS s
      |  FROM e JOIN d USING (src) JOIN r0 ON r0.node = e.src GROUP BY 1),
      |r1 AS MATERIALIZED (
      |  SELECT n.node,
      |    (15 * 1099511627776) // 100 + (coalesce(s.s, 0) * 85) // 100 AS r
      |  FROM nodes n LEFT JOIN s1 s ON s.dst = n.node),
      |s2 AS MATERIALIZED (
      |  SELECT e.dst, sum(r1.r // d.outdeg) AS s
      |  FROM e JOIN d USING (src) JOIN r1 ON r1.node = e.src GROUP BY 1),
      |r2 AS MATERIALIZED (
      |  SELECT n.node,
      |    (15 * 1099511627776) // 100 + (coalesce(s.s, 0) * 85) // 100 AS r
      |  FROM nodes n LEFT JOIN s2 s ON s.dst = n.node),
      |s3 AS MATERIALIZED (
      |  SELECT e.dst, sum(r2.r // d.outdeg) AS s
      |  FROM e JOIN d USING (src) JOIN r2 ON r2.node = e.src GROUP BY 1),
      |r3 AS MATERIALIZED (
      |  SELECT n.node,
      |    (15 * 1099511627776) // 100 + (coalesce(s.s, 0) * 85) // 100 AS r
      |  FROM nodes n LEFT JOIN s3 s ON s.dst = n.node)
      |SELECT rk, node AS token, CAST(rank AS BIGINT) AS rank FROM (
      |  SELECT node, r AS rank,
      |    CAST(row_number() OVER (ORDER BY r DESC, node) AS BIGINT) AS rk
      |  FROM r3)
      |WHERE rk <= 20 ORDER BY rk""".stripMargin,
    "q313_mixture_weights" -> """
      |WITH tgt(lang, target_ppm) AS (VALUES
      |  ('en', CAST(500000 AS BIGINT)), ('de', CAST(150000 AS BIGINT)),
      |  ('fr', CAST(150000 AS BIGINT)), ('es', CAST(100000 AS BIGINT)),
      |  ('zh', CAST(100000 AS BIGINT))),
      |c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents
      |      GROUP BY 1),
      |j AS (SELECT tgt.lang, tgt.target_ppm, coalesce(c.n, 0) AS n
      |      FROM tgt LEFT JOIN c USING (lang)),
      |f AS (SELECT CAST(min(n * 1000000 // target_ppm) AS BIGINT)
      |        AS t_max FROM j)
      |SELECT j.lang, j.n, j.target_ppm, f.t_max,
      |  CAST(f.t_max * j.target_ppm // 1000000 AS BIGINT) AS take_rows,
      |  CAST(f.t_max * j.target_ppm // 1000000 * 10000
      |    // NULLIF(j.n, 0) AS BIGINT) AS rate_bp
      |FROM j CROSS JOIN f ORDER BY j.lang""".stripMargin,
    "q189_bigram_lm" -> """
      |WITH toks AS (
      |  SELECT list_filter(string_split_regex(text, '[ \t\n\r]+'),
      |                     x -> x <> '') AS t
      |  FROM documents),
      |p AS (SELECT unnest(CASE WHEN len(t) > 1
      |        THEN list_zip(t[1:len(t)-1], t[2:len(t)]) ELSE [] END) AS z
      |      FROM toks),
      |agg AS (SELECT z[1] AS a, z[2] AS b, CAST(count(*) AS BIGINT) AS n
      |        FROM p GROUP BY 1, 2),
      |tot AS (SELECT a, CAST(sum(n) AS BIGINT) AS n_a FROM agg GROUP BY 1),
      |top AS (SELECT a, n_a FROM tot ORDER BY n_a DESC, a LIMIT 10),
      |r AS (SELECT agg.a AS a, b, n, n_a,
      |        row_number() OVER (PARTITION BY agg.a ORDER BY n DESC, b)
      |          AS rk
      |      FROM agg JOIN top ON agg.a = top.a)
      |SELECT a, rk, b, n, n * 10000 // n_a AS p_bp FROM r
      |WHERE rk <= 3 ORDER BY a, rk""".stripMargin,
    "q182_bm25" -> """
      |WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, '[ \t\n\r]+'),
      |                x -> x <> '') AS t
      |  FROM documents),
      |dl AS (SELECT doc_id, len(t) AS dl FROM toks),
      |stats AS (SELECT count(*) AS n_docs,
      |    (CAST(sum(dl) AS BIGINT) * 100) // count(*) AS avgdl_c FROM dl),
      |qt AS (SELECT doc_id, unnest(t) AS term FROM toks),
      |qf AS (SELECT doc_id, term FROM qt
      |       WHERE term IN ('spark', 'merge', 'vector')),
      |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df
      |          FROM qf GROUP BY 1),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM qf GROUP BY 1, 2),
      |sc AS (
      |  SELECT tf.doc_id,
      |    length(bin(n_docs // df)) *
      |      ((tf * 220 * 100) //
      |       (tf * 100 + (120 * (25 + (75 * dl.dl * 100) // avgdl_c)) // 100))
      |      AS s
      |  FROM tf JOIN dfreq USING (term)
      |  JOIN dl ON tf.doc_id = dl.doc_id, stats),
      |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
      |        CAST(sum(s) AS BIGINT) AS score_c FROM sc GROUP BY 1)
      |SELECT rk, doc_id, n_terms, score_c FROM (
      |  SELECT *, row_number() OVER (ORDER BY score_c DESC, doc_id) AS rk
      |  FROM agg)
      |WHERE rk <= 15 ORDER BY rk""".stripMargin,
    "q185_skipgram" -> """
      |WITH toks AS (
      |  SELECT list_filter(string_split_regex(text, '[ \t\n\r]+'),
      |                     x -> x <> '') AS t
      |  FROM documents),
      |p AS (
      |  SELECT (CASE WHEN len(t) > 1
      |            THEN list_zip(t[1:len(t)-1], t[2:len(t)]) ELSE [] END)
      |      || (CASE WHEN len(t) > 2
      |            THEN list_zip(t[1:len(t)-2], t[3:len(t)]) ELSE [] END)
      |      || (CASE WHEN len(t) > 3
      |            THEN list_zip(t[1:len(t)-3], t[4:len(t)]) ELSE [] END)
      |      AS ps
      |  FROM toks),
      |u AS (SELECT unnest(ps) AS z FROM p),
      |agg AS (SELECT z[1] AS a, z[2] AS b, CAST(count(*) AS BIGINT) AS n
      |        FROM u GROUP BY 1, 2)
      |SELECT rk, a, b, n FROM (
      |  SELECT *, row_number() OVER (ORDER BY n DESC, a, b) AS rk FROM agg)
      |WHERE rk <= 20 ORDER BY rk""".stripMargin,
    "q178_quota_sample" -> """
      |WITH w AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS tw FROM w),
      |b AS (SELECT lang, n, (n * 200) // tw AS fl, (n * 200) % tw AS rem
      |      FROM w CROSS JOIN t),
      |l AS (SELECT 200 - CAST(sum(fl) AS BIGINT) AS lv FROM b),
      |r AS (SELECT lang, fl,
      |        row_number() OVER (ORDER BY rem DESC, lang) AS rk
      |      FROM b),
      |q AS (SELECT lang,
      |        fl + CASE WHEN rk <= lv THEN 1 ELSE 0 END AS quota
      |      FROM r CROSS JOIN l),
      |ranked AS (SELECT lang, doc_id,
      |        row_number() OVER (PARTITION BY lang
      |          ORDER BY sha256(CAST(doc_id AS VARCHAR)), doc_id)
      |          AS pick_rank
      |      FROM documents)
      |SELECT ranked.lang AS lang, doc_id,
      |  CAST(pick_rank AS INTEGER) AS pick_rank
      |FROM ranked JOIN q ON q.lang = ranked.lang
      |WHERE pick_rank <= quota
      |ORDER BY ranked.lang, pick_rank""".stripMargin,
    "q173_phrase_search" -> """
      |WITH toks AS (SELECT doc_id,
      |    list_filter(string_split_regex(text, '[ \t\n\r]+'),
      |      x -> x <> '') AS t
      |  FROM documents),
      |p AS (SELECT doc_id, i, t[i] AS term
      |      FROM toks,
      |        LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) g),
      |a AS (SELECT doc_id, i FROM p WHERE term = 'batch'),
      |b AS (SELECT doc_id, i FROM p WHERE term = 'batch')
      |SELECT a.doc_id, count(*) AS n_matches
      |FROM a JOIN b ON b.doc_id = a.doc_id AND b.i = a.i + 1
      |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q167_pps_sample" -> """
      |WITH d AS (SELECT lang, doc_id, n_chars FROM documents
      |           WHERE n_chars > 0),
      |c AS (SELECT lang, doc_id, n_chars,
      |        CAST(sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
      |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
      |        CAST(sum(n_chars) OVER (PARTITION BY lang) AS BIGINT) AS tot
      |      FROM d)
      |SELECT lang, doc_id, n_chars,
      |  CAST(((cum - n_chars) * 10) // tot AS BIGINT) AS pick_idx
      |FROM c
      |WHERE (cum * 10) // tot > ((cum - n_chars) * 10) // tot
      |ORDER BY lang, doc_id""".stripMargin,
    // Same candidate set (and has_kept cap guard) as q26's oracle; the
    // containment filter is directed, so each undirected candidate pair
    // contributes 0, 1, or 2 output rows.
    "q162_containment" -> s"""
      |WITH $corpusSql,
      |$shinglesSql,
      |freq AS (SELECT s, count(*) AS c FROM sh GROUP BY 1),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
      |    max(CASE WHEN f.c <= 256 THEN 1 ELSE 0 END) AS has_kept
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  JOIN freq f ON f.s = a.s
      |  GROUP BY 1, 2)
      |SELECT contained_id, container_id, inter, contained_size FROM (
      |  SELECT id_a AS contained_id, id_b AS container_id,
      |    CAST(inter AS BIGINT) AS inter, sa.n AS contained_size
      |  FROM pairs JOIN sizes sa ON sa.doc_id = id_a
      |  WHERE inter * 4 >= sa.n * 3 AND has_kept = 1
      |  UNION ALL
      |  SELECT id_b, id_a, CAST(inter AS BIGINT), sb.n
      |  FROM pairs JOIN sizes sb ON sb.doc_id = id_b
      |  WHERE inter * 4 >= sb.n * 3 AND has_kept = 1)
      |ORDER BY contained_id, container_id""".stripMargin,
    // The funnel refolds q30's argmax, q31's stopword count and q75's
    // bigram metrics in one statement; decision CASE mirrors the Spark
    // first-match `when` chain exactly.
    "q92_curation_funnel" -> """
      |WITH toks AS (
      |  SELECT doc_id, source,
      |    list_filter(string_split_regex(text, '[ \t\n\r]+'),
      |                x -> x <> '') AS t,
      |    list_transform(list_filter(string_split_regex(text, '[ \t\n\r]+'),
      |                   x -> x <> ''), x -> lower(x)) AS tk
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, source, t,
      |    len(list_filter(tk, x -> x IN ('der','die','das','und','ein','nicht','ist'))) AS de,
      |    len(list_filter(tk, x -> x IN ('the','and','of','to','a','in','is'))) AS en,
      |    len(list_filter(tk, x -> x IN ('el','los','las','y','un','que','es'))) AS es,
      |    len(list_filter(tk, x -> x IN ('le','la','les','et','un','est','que'))) AS fr,
      |    len(list_filter(tk, x -> x IN ('de','het','een','en','van','niet','is'))) AS nl,
      |    len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is'))) AS n_stop
      |  FROM toks),
      |big AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i + 1])) AS bg
      |  FROM toks),
      |bc AS (SELECT doc_id, bg, count(*) AS c FROM big GROUP BY 1, 2),
      |ba AS (SELECT doc_id, max(c) AS top_bg FROM bc GROUP BY 1),
      |j AS (
      |  SELECT s.doc_id, s.source, len(s.t) AS n_tokens, s.n_stop,
      |    coalesce(ba.top_bg, 0) AS top_bg,
      |    CASE WHEN de >= en AND de >= es AND de >= fr AND de >= nl THEN 'de'
      |         WHEN en >= es AND en >= fr AND en >= nl THEN 'en'
      |         WHEN es >= fr AND es >= nl THEN 'es'
      |         WHEN fr >= nl THEN 'fr' ELSE 'nl' END AS lang_pred
      |  FROM s LEFT JOIN ba USING (doc_id))
      |SELECT source, lang_pred,
      |  CASE WHEN n_tokens < 20 THEN 'too_short'
      |       WHEN top_bg * 20 >= n_tokens THEN 'repetitive'
      |       WHEN n_stop = 0 THEN 'no_stopwords'
      |       ELSE 'keep' END AS decision,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM j GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // The full chain re-derived in one statement: planted corpus → text
    // dedup → q92's decision logic → q59's split buckets → counts.
    "q98_corpus_pipeline" -> """
      |WITH corpus AS (
      |  SELECT doc_id, text, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text, source FROM documents
      |  WHERE doc_id % 10 = 0),
      |d AS (
      |  SELECT doc_id, text, source FROM (
      |    SELECT doc_id, text, source,
      |      row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rk
      |    FROM corpus) WHERE rk = 1),
      |toks AS (
      |  SELECT doc_id, source,
      |    list_filter(string_split_regex(text, '[ \t\n\r]+'),
      |                x -> x <> '') AS t,
      |    list_transform(list_filter(string_split_regex(text, '[ \t\n\r]+'),
      |                   x -> x <> ''), x -> lower(x)) AS tk
      |  FROM d),
      |s AS (
      |  SELECT doc_id, source, t,
      |    len(list_filter(tk, x -> x IN ('der','die','das','und','ein','nicht','ist'))) AS de,
      |    len(list_filter(tk, x -> x IN ('the','and','of','to','a','in','is'))) AS en,
      |    len(list_filter(tk, x -> x IN ('el','los','las','y','un','que','es'))) AS es,
      |    len(list_filter(tk, x -> x IN ('le','la','les','et','un','est','que'))) AS fr,
      |    len(list_filter(tk, x -> x IN ('de','het','een','en','van','niet','is'))) AS nl,
      |    len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is'))) AS n_stop
      |  FROM toks),
      |big AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i + 1])) AS bg
      |  FROM toks),
      |bc AS (SELECT doc_id, bg, count(*) AS c FROM big GROUP BY 1, 2),
      |ba AS (SELECT doc_id, max(c) AS top_bg FROM bc GROUP BY 1),
      |j AS (
      |  SELECT s.doc_id, len(s.t) AS n_tokens, s.n_stop,
      |    coalesce(ba.top_bg, 0) AS top_bg,
      |    CASE WHEN de >= en AND de >= es AND de >= fr AND de >= nl THEN 'de'
      |         WHEN en >= es AND en >= fr AND en >= nl THEN 'en'
      |         WHEN es >= fr AND es >= nl THEN 'es'
      |         WHEN fr >= nl THEN 'fr' ELSE 'nl' END AS lang_pred
      |  FROM s LEFT JOIN ba USING (doc_id)),
      |kept AS (
      |  SELECT doc_id, lang_pred FROM j
      |  WHERE n_tokens >= 20 AND top_bg * 20 < n_tokens AND n_stop > 0)
      |SELECT
      |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END
      |    AS split,
      |  lang_pred, CAST(count(*) AS BIGINT) AS n
      |FROM (SELECT lang_pred,
      |        ('0x' || substring(sha256(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
      |          % 100 AS b
      |      FROM kept)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q96_balanced_sample" -> """
      |WITH cap AS (
      |  SELECT min(gn) AS cap FROM (
      |    SELECT lang, count(*) AS gn FROM documents GROUP BY 1)),
      |r AS (
      |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
      |    ORDER BY sha256(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents)
      |SELECT lang, rk, doc_id FROM r, cap WHERE rk <= cap
      |ORDER BY lang, rk""".stripMargin,
    "q95_tfidf_topk" -> """
      |WITH toks AS (
      |  SELECT doc_id, source,
      |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
      |  FROM documents),
      |dfreq AS (
      |  SELECT term, count(*) AS df
      |  FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY 1),
      |tf AS (SELECT source, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |s AS (
      |  SELECT tf.source, tf.term, CAST(tf.tf AS BIGINT) AS tf,
      |    CAST(dfreq.df AS BIGINT) AS df,
      |    CAST(tf.tf * n.n_docs // dfreq.df AS BIGINT) AS score
      |  FROM tf JOIN dfreq USING (term), n)
      |SELECT source, rk, term, tf, df, score FROM (
      |  SELECT *, row_number() OVER (PARTITION BY source
      |    ORDER BY score DESC, tf DESC, term) AS rk FROM s)
      |WHERE rk <= 3 ORDER BY source, rk""".stripMargin,
    "q89_postings" -> """
      |WITH toks AS (
      |  SELECT DISTINCT doc_id, term FROM (
      |    SELECT doc_id,
      |      unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
      |    FROM documents)),
      |top AS (
      |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM toks
      |  GROUP BY 1 ORDER BY df DESC, term LIMIT 10)
      |SELECT t.term, top.df,
      |  row_number() OVER (PARTITION BY t.term ORDER BY t.doc_id) AS rk,
      |  t.doc_id
      |FROM toks t JOIN top USING (term) ORDER BY t.term, rk""".stripMargin,
    // Tokens/bigrams refolded in DuckDB list ops; all-integer outputs so
    // no ratio ever crosses the engine boundary. generate_series(1,0) is
    // empty where Spark's sequence would throw — the Spark side guards.
    "q75_repetition" -> """
      |WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, '[ \t\n\r]+'),
      |                x -> x <> '') AS t
      |  FROM documents),
      |big AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i + 1])) AS bg
      |  FROM toks),
      |bc AS (SELECT doc_id, bg, count(*) AS c FROM big GROUP BY 1, 2),
      |ba AS (SELECT doc_id, max(c) AS top_bigram_n,
      |              CAST(sum(c - 1) AS BIGINT) AS dup_bigrams
      |       FROM bc GROUP BY 1)
      |SELECT u.doc_id, CAST(len(u.t) AS BIGINT) AS n_tokens,
      |  CAST(len(list_distinct(u.t)) AS BIGINT) AS n_distinct,
      |  coalesce(ba.top_bigram_n, 0) AS top_bigram_n,
      |  coalesce(ba.dup_bigrams, 0) AS dup_bigrams
      |FROM toks u LEFT JOIN ba USING (doc_id) ORDER BY u.doc_id""".stripMargin,
    // Scale is computed ONCE per vec then applied per element — the oracle
    // mirrors the exact operation order (127e0/ma, then x*scale, then
    // floor), because a refactor to (x*127)/ma is a DIFFERENT double.
    // 127e0 not 127.0: DuckDB decimal literals would divide decimally.
    "q79_quantize" -> """
      |WITH s AS (
      |  SELECT vec_id, embedding,
      |    CASE WHEN ma = 0 THEN 0e0 ELSE 127e0 / ma END AS scale,
      |    len(embedding) AS n_dims
      |  FROM (SELECT vec_id, embedding,
      |          list_max(list_transform(embedding, x -> abs(x))) AS ma
      |        FROM embeddings)),
      |u AS (
      |  SELECT vec_id, n_dims,
      |    CAST(floor(unnest(embedding) * scale) AS BIGINT) AS q
      |  FROM s)
      |SELECT vec_id, CAST(max(n_dims) AS BIGINT) AS n_dims,
      |  CAST(sum(q) AS BIGINT) AS sum_q, min(q) AS min_q, max(q) AS max_q,
      |  CAST(count(*) FILTER (WHERE abs(q) = 127) AS BIGINT) AS n_sat
      |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,
    "q80_pii_redact" -> """
      |WITH t AS (
      |  SELECT c_custkey,
      |    'contact ' || lower(regexp_replace(c_name, '[^A-Za-z0-9]', '', 'g'))
      |    || CASE WHEN c_custkey % 3 <> 0
      |         THEN ' at user' || c_custkey || '@shop' || (c_custkey % 7) || '.nl'
      |         ELSE '' END
      |    || CASE WHEN c_custkey % 2 = 0
      |         THEN ' or 06-' ||
      |           lpad(CAST(c_custkey * 7919 % 100000000 AS VARCHAR), 8, '0')
      |         ELSE '' END AS text
      |  FROM customer)
      |SELECT c_custkey,
      |  CAST(len(regexp_extract_all(text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
      |    AS n_emails,
      |  CAST(len(regexp_extract_all(text, '\b06-[0-9]{8}\b')) AS BIGINT)
      |    AS n_phones,
      |  md5(regexp_replace(regexp_replace(text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\b06-[0-9]{8}\b', '<PHONE>', 'g')) AS redacted_md5
      |FROM t ORDER BY c_custkey""".stripMargin,
    "q76_hash_sample" -> """
      |SELECT doc_id, lang, rk FROM (
      |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
      |    ORDER BY sha256(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents)
      |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin,
    "q206_shuffle_shard" -> """
      |WITH r AS (SELECT doc_id, CAST(row_number() OVER (
      |    ORDER BY sha256(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
      |    AS shuffle_idx
      |  FROM documents)
      |SELECT doc_id, shuffle_idx, (shuffle_idx - 1) % 8 AS shard
      |FROM r ORDER BY doc_id""".stripMargin,
    "q209_novelty" -> s"""
      |WITH $corpusSql,
      |$shinglesSql,
      |f AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY 1)
      |SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
      |  CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_novel,
      |  (CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
      |    AS BIGINT) * 10000) // CAST(count(*) AS BIGINT) AS novelty_bp
      |FROM sh JOIN f USING (s)
      |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q77_collocations" -> """
      |WITH big AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i + 1])) AS bigram
      |  FROM (SELECT doc_id,
      |          list_filter(string_split_regex(text, '[ \t\n\r]+'),
      |                      x -> x <> '') AS t
      |        FROM documents))
      |SELECT bigram, count(*) AS n_total, count(DISTINCT doc_id) AS n_docs
      |FROM big GROUP BY 1 HAVING count(*) >= 2
      |ORDER BY n_total DESC, bigram LIMIT 50""".stripMargin,
    "q59_train_split" -> """
      |SELECT doc_id,
      |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
      |FROM (SELECT doc_id,
      |  ('0x' || substring(sha256(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 AS b
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin,
    "q64_pack_sequences" -> """
      |SELECT doc_id, n_tokens, shard,
      |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS seq_in_shard
      |FROM (
      |  SELECT doc_id, n_tokens, doc_id % 8 AS shard,
      |    sum(n_tokens) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS cum
      |  FROM (SELECT doc_id,
      |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
      |    FROM documents))
      |ORDER BY doc_id""".stripMargin,
    "q65_chunk_text" -> """
      |SELECT doc_id, i // 150 AS chunk_idx, i AS start_pos,
      |  length(substring(text, i + 1, 200)) AS chunk_len,
      |  sha256(substring(text, i + 1, 200)) AS chunk_sha
      |FROM (SELECT doc_id, text,
      |  unnest(generate_series(0, length(text) - 1, 150)) AS i FROM documents)
      |ORDER BY doc_id, chunk_idx""".stripMargin,
    "q66_connected_components" -> """
      |SELECT doc_id, doc_id - doc_id % 5 AS component
      |FROM documents ORDER BY doc_id""".stripMargin,
    "q348_shard_manifest" -> """
      |WITH d AS (
      |  SELECT
      |    ('0x' || substring(sha256(CAST(doc_id AS VARCHAR)), 1, 4))
      |      ::BIGINT % 8 AS shard,
      |    CAST(length(text) AS BIGINT) AS c,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
      |      AS BIGINT) AS t,
      |    ('0x' || substring(sha256(text), 1, 8))::BIGINT AS h
      |  FROM documents)
      |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(c) AS BIGINT) AS n_chars,
      |  CAST(sum(t) AS BIGINT) AS n_tokens,
      |  CAST(CAST(sum(CAST(h AS HUGEINT)) AS HUGEINT)
      |    % 9223372036854775783 AS BIGINT) AS digest
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q347_star_components" -> """
      |SELECT doc_id, doc_id - doc_id % 5 AS component
      |FROM documents ORDER BY doc_id""".stripMargin,
    "q305_charset_profile" -> """
      |WITH d AS (
      |  SELECT source, CAST(length(text) AS BIGINT) AS c,
      |    CAST(length(text) - length(regexp_replace(text, '[a-z]', '',
      |      'g')) AS BIGINT) AS a,
      |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '',
      |      'g')) AS BIGINT) AS dg,
      |    CAST(length(text) - length(regexp_replace(text, '[ ]', '',
      |      'g')) AS BIGINT) AS sp
      |  FROM documents)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(c) AS BIGINT) AS chars, CAST(sum(a) AS BIGINT) AS alpha,
      |  CAST(sum(dg) AS BIGINT) AS digit, CAST(sum(sp) AS BIGINT)
      |    AS space,
      |  CAST(sum(c) - sum(a) - sum(dg) - sum(sp) AS BIGINT) AS other,
      |  CAST(sum(a) * 1000000 // NULLIF(sum(c), 0) AS BIGINT)
      |    AS alpha_ppm,
      |  CAST((sum(c) - sum(a) - sum(dg) - sum(sp)) * 1000000
      |    // NULLIF(sum(c), 0) AS BIGINT) AS other_ppm
      |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "q303_effective_n" -> """
      |WITH d AS (
      |  SELECT lang,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
      |      AS BIGINT) AS w
      |  FROM documents)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(w) AS BIGINT) AS sum_w,
      |  CAST(CAST(sum(w) AS HUGEINT) * sum(w)
      |    // NULLIF(sum(CAST(w AS HUGEINT) * w), 0) AS BIGINT) AS n_eff,
      |  CAST(CAST(count(*) AS HUGEINT) * sum(CAST(w AS HUGEINT) * w)
      |    * 100 // NULLIF(CAST(sum(w) AS HUGEINT) * sum(w), 0)
      |    AS BIGINT) AS deff_x100
      |FROM d GROUP BY lang ORDER BY lang""".stripMargin,
    "q299_unseen_mass" -> """
      |WITH tok AS (
      |  SELECT lang,
      |    unnest(list_filter(string_split(text, ' '), x -> x <> ''))
      |      AS token
      |  FROM documents),
      |c AS (SELECT lang, token, count(*) AS cnt FROM tok GROUP BY 1, 2)
      |SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_tokens,
      |  CAST(count(*) AS BIGINT) AS n_types,
      |  CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS hapax,
      |  CAST(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis,
      |  CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) * 1000000
      |    // sum(cnt) AS BIGINT) AS unseen_ppm,
      |  CAST(count(*) * 1000000 // sum(cnt) AS BIGINT) AS ttr_ppm
      |FROM c GROUP BY lang ORDER BY lang""".stripMargin,
    "q300_split_leak" -> """
      |WITH d AS (
      |  SELECT doc_id, sha256(text) AS h,
      |    ('0x' || substring(sha256(CAST(doc_id AS VARCHAR)), 1, 4))
      |      ::BIGINT % 100 AS b
      |  FROM documents),
      |s AS (
      |  SELECT h, CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
      |                 ELSE 'test' END AS split
      |  FROM d),
      |g AS (
      |  SELECT h, count(*) AS n_docs, count(DISTINCT split) AS n_splits
      |  FROM s GROUP BY 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_groups,
      |  CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS dup_groups,
      |  CAST(sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS leaking_groups,
      |  CAST(coalesce(sum(CASE WHEN n_splits > 1 THEN n_docs END), 0)
      |    AS BIGINT) AS leaked_docs
      |FROM g""".stripMargin,
    "q294_capture_recapture" -> """
      |WITH d AS (
      |  SELECT doc_id, sha256(text) AS h,
      |    array_to_string(list_sort(list_distinct(
      |      list_filter(string_split(lower(text), ' '), x -> x <> ''))),
      |      ' ') AS fp
      |  FROM documents),
      |f AS (
      |  SELECT doc_id,
      |    count(*) OVER (PARTITION BY h) > 1 AS a,
      |    count(*) OVER (PARTITION BY fp) > 1 AS b
      |  FROM d),
      |agg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |    CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS m,
      |    CAST(sum(CASE WHEN a OR b THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_union
      |  FROM f)
      |SELECT n_docs, n1, n2, m, n_union,
      |  CAST((n1 + 1) * (n2 + 1) // (m + 1) - 1 AS BIGINT) AS n_hat,
      |  CAST(greatest((n1 + 1) * (n2 + 1) // (m + 1) - 1 - n_union, 0)
      |    AS BIGINT) AS est_missed
      |FROM agg""".stripMargin,
    "q293_split_balance" -> """
      |WITH d AS (
      |  SELECT lang,
      |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM (SELECT lang,
      |          ('0x' || substring(sha256(CAST(doc_id AS VARCHAR)), 1, 4))
      |            ::BIGINT % 100 AS b
      |        FROM documents)),
      |cell AS (SELECT split, lang, CAST(count(*) AS BIGINT) AS n
      |         FROM d GROUP BY 1, 2),
      |bs AS (SELECT split, CAST(sum(n) AS BIGINT) AS n_split
      |       FROM cell GROUP BY 1),
      |bl AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang
      |       FROM cell GROUP BY 1),
      |tt AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot FROM cell)
      |SELECT cell.split, cell.lang, n,
      |  CAST(n * 1000000 // n_split AS BIGINT) AS split_ppm,
      |  CAST(n_lang * 1000000 // n_tot AS BIGINT) AS corpus_ppm,
      |  CAST(abs(n * 1000000 // n_split - n_lang * 1000000 // n_tot)
      |    AS BIGINT) AS gap_ppm
      |FROM cell
      |JOIN bs ON bs.split = cell.split
      |JOIN bl ON bl.lang = cell.lang
      |CROSS JOIN tt
      |ORDER BY cell.split, cell.lang""".stripMargin,
    "q385_kcenter" -> kCenterOracleSql(8),
    "q399_mmr_topk" -> mmrOracleSql(6, 16, 70),
    "q403_serving_diversity" -> """
      |WITH e AS (
      |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
      |    x -> CAST(round(x*1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |scored AS (
      |  SELECT qe.vec_id AS query_id, ce.vec_id AS nn_id,
      |    CAST(list_dot_product(qe.q, ce.q) AS BIGINT) AS dot
      |  FROM e qe JOIN e ce ON ce.vec_id <> qe.vec_id
      |  WHERE qe.vec_id % 400 = 0 AND qe.vec_id < 3200),
      |l AS (
      |  SELECT query_id, nn_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id
      |      ORDER BY dot DESC, nn_id) AS rank
      |    FROM scored) WHERE rank <= 5),
      |pairs AS (
      |  SELECT a.query_id,
      |    CAST(list_dot_product(ea.q, eb.q) AS BIGINT) AS dot
      |  FROM l a JOIN l b
      |    ON a.query_id = b.query_id AND a.nn_id < b.nn_id
      |  JOIN e ea ON ea.vec_id = a.nn_id
      |  JOIN e eb ON eb.vec_id = b.nn_id),
      |per AS (
      |  SELECT CAST(query_id AS VARCHAR) AS list_id,
      |    CAST(count(*) AS BIGINT) AS n_items
      |  FROM l GROUP BY 1),
      |pa AS (
      |  SELECT CAST(query_id AS VARCHAR) AS list_id,
      |    CAST(count(*) AS BIGINT) AS n_pairs,
      |    CAST(sum(dot) AS BIGINT) AS pair_dot_sum
      |  FROM pairs GROUP BY 1)
      |SELECT per.list_id, per.n_items, pa.n_pairs, pa.pair_dot_sum,
      |  CAST(NULL AS BIGINT) AS coverage_bp
      |FROM per LEFT JOIN pa USING (list_id)
      |UNION ALL
      |SELECT '(catalog)' AS list_id, CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(NULL AS BIGINT) AS n_pairs, CAST(NULL AS BIGINT) AS pair_dot_sum,
      |  CAST(count(DISTINCT nn_id) * 10000 // (SELECT count(*) FROM e)
      |    AS BIGINT) AS coverage_bp
      |FROM l
      |ORDER BY list_id""".stripMargin,
    "q400_hard_negatives" -> """
      |WITH e AS (
      |  SELECT vec_id, label, list_transform(CAST(embedding AS DOUBLE[]),
      |    x -> CAST(round(x*1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |scored AS (
      |  SELECT qe.vec_id AS query_id, ce.vec_id AS neg_id,
      |    CAST(list_dot_product(qe.q, ce.q) AS BIGINT) AS dot
      |  FROM e qe JOIN e ce ON ce.label <> qe.label
      |  WHERE qe.vec_id % 400 = 0 AND qe.vec_id < 3200),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY dot DESC, neg_id) AS rank
      |  FROM scored)
      |SELECT query_id, rank, neg_id, dot FROM ranked
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "q398_audio_zcr" -> """
      |WITH p AS (
      |  SELECT doc_id,
      |    CAST(800 + doc_id % 5 * 160 AS BIGINT) AS n,
      |    CAST(2 + doc_id % 6 AS BIGINT) AS p,
      |    CAST(1000 + doc_id % 20 * 500 AS BIGINT) AS amp,
      |    CAST((2 + doc_id % 6 + 1) // 2 AS BIGINT) AS h
      |  FROM documents WHERE doc_id % 5 = 1),
      |m AS (
      |  SELECT doc_id, n, p, amp, h,
      |    (n - 1) // p
      |      + CASE WHEN n - 1 >= h THEN (n - 1 - h) // p + 1
      |             ELSE 0 END AS chg
      |  FROM p)
      |SELECT doc_id AS media_id, n AS n_frames,
      |  CAST(chg AS BIGINT) AS n_sign_changes,
      |  CAST(chg * 1000000 // (n - 1) AS BIGINT) AS zcr_ppm,
      |  h AS longest_run,
      |  CAST(n * amp * amp AS BIGINT) AS energy_sum
      |FROM m ORDER BY media_id""".stripMargin,
    "q388_audio_clip" -> """
      |WITH p AS (
      |  SELECT doc_id,
      |    CAST(800 + doc_id % 5 * 160 AS BIGINT) AS n,
      |    CAST(2 + doc_id % 6 AS BIGINT) AS p,
      |    CAST(1000 + doc_id % 20 * 500 AS BIGINT) AS amp
      |  FROM documents WHERE doc_id % 5 = 0),
      |m AS (
      |  SELECT doc_id, n, p, amp,
      |    (n // p) * ((p + 1) // 2)
      |      + least(n % p, (p + 1) // 2) AS n_pos
      |  FROM p)
      |SELECT doc_id AS media_id, n AS n_frames,
      |  CAST(CASE WHEN amp >= 8000 THEN n ELSE 0 END AS BIGINT) AS n_clipped,
      |  amp AS peak,
      |  CAST(amp * (2 * n_pos - n) AS BIGINT) AS dc_sum
      |FROM m ORDER BY media_id""".stripMargin,
    "q389_resize_decode" -> """
      |WITH g AS (
      |  SELECT doc_id, CAST(8 + doc_id % 9 AS BIGINT) AS w,
      |    CAST(8 + doc_id % 5 AS BIGINT) AS h
      |  FROM documents),
      |cells AS (
      |  SELECT doc_id, w, h,
      |    (7 * ((j * w) // 8) + 3 * ((i * h) // 6) + doc_id) % 251 AS l
      |  FROM g, (SELECT unnest(generate_series(0, 5)) AS i),
      |       (SELECT unnest(generate_series(0, 7)) AS j))
      |SELECT doc_id AS media_id, w AS src_w, h AS src_h,
      |  CAST(8 AS BIGINT) AS out_w, CAST(6 AS BIGINT) AS out_h,
      |  CAST(sum(l) AS BIGINT) AS luma_sum,
      |  CAST(doc_id % 251 AS BIGINT) AS luma00,
      |  CAST((7 * ((7 * w) // 8) + 3 * ((5 * h) // 6) + doc_id) % 251
      |    AS BIGINT) AS luma_last
      |FROM cells GROUP BY doc_id, w, h ORDER BY media_id""".stripMargin,
    "q387_luhn_pii" -> """
      |WITH d AS (
      |  SELECT o_orderkey,
      |    'inv ' || lpad(CAST(o_orderkey % 10000000000000 AS VARCHAR), 13, '0')
      |    || ' ref ' || CAST(o_custkey AS VARCHAR)
      |    || ' card '
      |    || lpad(CAST((o_orderkey * 7919) % 10000000000000000 AS VARCHAR),
      |         16, '0') AS text
      |  FROM orders WHERE o_orderkey % 10 = 0),
      |r AS (
      |  SELECT o_orderkey,
      |    list_filter(regexp_extract_all(text, '[0-9]+'),
      |      x -> length(x) >= 13 AND length(x) <= 19) AS runs
      |  FROM d),
      |v AS (
      |  SELECT o_orderkey,
      |    CAST(len(runs) AS BIGINT) AS n_candidates,
      |    CAST(len(list_filter(runs, x ->
      |      list_sum(list_transform(generate_series(1, length(x)), i ->
      |        CASE WHEN i % 2 = 0 THEN
      |          CAST(substring(reverse(x), i, 1) AS BIGINT) * 2
      |            - CASE WHEN CAST(substring(reverse(x), i, 1) AS BIGINT) * 2 > 9
      |                   THEN 9 ELSE 0 END
      |        ELSE CAST(substring(reverse(x), i, 1) AS BIGINT) END))
      |      % 10 = 0)) AS BIGINT) AS n_luhn_valid
      |  FROM r)
      |SELECT o_orderkey, n_candidates, n_luhn_valid,
      |  CAST(CASE WHEN n_luhn_valid > 0 THEN 1 ELSE 0 END AS BIGINT) AS has_pii
      |FROM v ORDER BY o_orderkey""".stripMargin,
    "q386_label_noise" -> """
      |WITH e AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> CAST(round(x*1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |pd AS (
      |  SELECT label, pos AS dim, CAST(sum(q[pos]) AS BIGINT) AS s
      |  FROM (SELECT label, q, unnest(generate_series(1, len(q))) AS pos
      |        FROM e)
      |  GROUP BY 1, 2),
      |cent AS (SELECT label AS lab, list(s ORDER BY dim) AS sv
      |         FROM pd GROUP BY 1),
      |cnt AS (SELECT label AS lab, CAST(count(*) AS BIGINT) AS n
      |        FROM e GROUP BY 1),
      |sc AS (
      |  SELECT e.vec_id, e.label, c.lab AS pred,
      |    (cnt.n * cnt.n * CAST(list_dot_product(e.q, e.q) AS BIGINT)
      |     - 2 * cnt.n * CAST(list_dot_product(e.q, c.sv) AS BIGINT)
      |     + CAST(list_dot_product(c.sv, c.sv) AS BIGINT))
      |      // (cnt.n * cnt.n) AS score
      |  FROM e CROSS JOIN cent c JOIN cnt ON cnt.lab = c.lab),
      |pk AS (
      |  SELECT vec_id, label, pred FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY score, pred) AS rn FROM sc) WHERE rn = 1)
      |SELECT label, pred, CAST(count(*) AS BIGINT) AS n,
      |  CAST(CASE WHEN label = pred THEN 1 ELSE 0 END AS BIGINT) AS is_diag
      |FROM pk GROUP BY 1, 2 ORDER BY label, pred""".stripMargin,
    "q384_embedding_mmd" -> """
      |WITH e AS (
      |  SELECT vec_id, label, list_transform(CAST(embedding AS DOUBLE[]),
      |    x -> CAST(round(x*1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |pd AS (
      |  SELECT label, pos AS dim, CAST(sum(q[pos]) AS BIGINT) AS s_g,
      |    CAST(count(*) AS BIGINT) AS n_rows
      |  FROM (SELECT label, q, unnest(generate_series(1, len(q))) AS pos
      |        FROM e)
      |  GROUP BY 1, 2),
      |cnt AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1),
      |gl AS (SELECT dim, CAST(sum(s_g) AS BIGINT) AS s_all
      |        FROM pd GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM e),
      |terms AS (
      |  SELECT pd.label, cnt.n, tot.n_all,
      |    CAST(pd.s_g AS HUGEINT) * tot.n_all
      |      - CAST(gl.s_all AS HUGEINT) * cnt.n AS t
      |  FROM pd
      |  JOIN gl ON gl.dim = pd.dim
      |  JOIN cnt ON cnt.label = pd.label
      |  CROSS JOIN tot)
      |SELECT label, n,
      |  CAST(sum(t * t) // (CAST(n AS HUGEINT) * n * n_all * n_all)
      |    AS BIGINT) AS mmd2_q
      |FROM terms GROUP BY label, n, n_all ORDER BY label""".stripMargin,
    "q382_pq_adc_recall" -> """
      |WITH e AS (
      |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
      |    x -> CAST(round(x*1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |seeds AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS k, q
      |  FROM (SELECT vec_id, q FROM e ORDER BY vec_id LIMIT 16)),
      |sgrid AS (SELECT unnest(generate_series(0, 7)) AS s),
      |subs AS (SELECT vec_id, s, q[s*8+1 : s*8+8] AS x FROM e, sgrid),
      |csubs AS (SELECT k, s, q[s*8+1 : s*8+8] AS c FROM seeds, sgrid),
      |d AS (
      |  SELECT vec_id, subs.s, k,
      |    CAST(list_dot_product(x, x) AS BIGINT)
      |      - 2 * CAST(list_dot_product(x, c) AS BIGINT)
      |      + CAST(list_dot_product(c, c) AS BIGINT) AS dist
      |  FROM subs JOIN csubs ON csubs.s = subs.s),
      |asg AS (
      |  SELECT vec_id, s, k FROM (
      |    SELECT vec_id, s, k,
      |      row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, k) AS rn
      |    FROM d) WHERE rn = 1),
      |adc AS (
      |  SELECT qe.vec_id AS query_id, a.vec_id AS nn_id,
      |    CAST(sum(CAST(list_dot_product(cs.c, cs.c) AS BIGINT)
      |      - 2 * CAST(list_dot_product(qs.x, cs.c) AS BIGINT)) AS BIGINT)
      |      AS adc
      |  FROM (SELECT vec_id FROM e WHERE vec_id % 100 = 0) qe
      |  JOIN asg a ON a.vec_id <> qe.vec_id
      |  JOIN subs qs ON qs.vec_id = qe.vec_id AND qs.s = a.s
      |  JOIN csubs cs ON cs.s = a.s AND cs.k = a.k
      |  GROUP BY 1, 2),
      |dots AS (
      |  SELECT qe.vec_id AS query_id, ce.vec_id AS nn_id,
      |    CAST(list_dot_product(qe.q, ce.q) AS BIGINT) AS dot
      |  FROM e qe JOIN e ce ON ce.vec_id <> qe.vec_id
      |  WHERE qe.vec_id % 100 = 0),
      |pairs AS (
      |  SELECT adc.query_id, adc.nn_id, adc.adc, dots.dot
      |  FROM adc JOIN dots ON dots.query_id = adc.query_id
      |    AND dots.nn_id = adc.nn_id),
      |aw AS (
      |  SELECT query_id, nn_id AS adc_nn, dot AS adc_dot FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id
      |      ORDER BY adc, nn_id) AS rn FROM pairs) WHERE rn = 1),
      |tw AS (
      |  SELECT query_id, nn_id AS true_nn, dot AS true_dot FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id
      |      ORDER BY dot DESC, nn_id) AS rn FROM pairs) WHERE rn = 1)
      |SELECT tw.query_id, true_nn, true_dot, adc_nn, adc_dot,
      |  CAST(CASE WHEN adc_nn = true_nn THEN 1 ELSE 0 END AS BIGINT) AS hit,
      |  CAST(true_dot - adc_dot AS BIGINT) AS regret
      |FROM tw JOIN aw ON aw.query_id = tw.query_id
      |ORDER BY tw.query_id""".stripMargin,
    "q381_pq_encode" -> """
      |WITH e AS (
      |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
      |    x -> CAST(round(x*1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |seeds AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS k, q
      |  FROM (SELECT vec_id, q FROM e ORDER BY vec_id LIMIT 16)),
      |subs AS (
      |  SELECT vec_id, s, q[s*8+1 : s*8+8] AS x
      |  FROM e, (SELECT unnest(generate_series(0, 7)) AS s)),
      |csubs AS (
      |  SELECT k, s, q[s*8+1 : s*8+8] AS c
      |  FROM seeds, (SELECT unnest(generate_series(0, 7)) AS s)),
      |d AS (
      |  SELECT vec_id, subs.s, k,
      |    CAST(list_dot_product(x, x) AS BIGINT)
      |      - 2 * CAST(list_dot_product(x, c) AS BIGINT)
      |      + CAST(list_dot_product(c, c) AS BIGINT) AS dist
      |  FROM subs JOIN csubs ON csubs.s = subs.s),
      |b AS (
      |  SELECT vec_id, s, k, dist,
      |    row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, k) AS rn
      |  FROM d)
      |SELECT vec_id,
      |  CAST(sum(k * (CAST(1 AS BIGINT) << (4 * (7 - s)))) AS BIGINT)
      |    AS pq_code,
      |  CAST(sum(dist) AS BIGINT) AS distortion
      |FROM b WHERE rn = 1 GROUP BY 1 ORDER BY vec_id""".stripMargin,
    "q380_lang_mix" -> """
      |WITH tk AS (
      |  SELECT doc_id, list_transform(
      |    list_filter(string_split(text, ' '), x -> x <> ''),
      |    x -> lower(x)) AS t
      |  FROM documents),
      |pe AS (
      |  SELECT doc_id, t[pos] AS tok, CAST((pos - 1) // 16 AS BIGINT) AS chunk
      |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS pos
      |        FROM tk)),
      |pc AS (
      |  SELECT doc_id, chunk,
      |    count(*) FILTER (WHERE tok IN ('der','die','das','und','ein','nicht','ist')) AS de,
      |    count(*) FILTER (WHERE tok IN ('the','and','of','to','a','in','is')) AS en,
      |    count(*) FILTER (WHERE tok IN ('el','los','las','y','un','que','es')) AS es,
      |    count(*) FILTER (WHERE tok IN ('le','la','les','et','un','est','que')) AS fr,
      |    count(*) FILTER (WHERE tok IN ('de','het','een','en','van','niet','is')) AS nl
      |  FROM pe GROUP BY 1, 2),
      |cp AS (
      |  SELECT doc_id, chunk,
      |    CASE WHEN de >= en AND de >= es AND de >= fr AND de >= nl THEN 'de'
      |         WHEN en >= es AND en >= fr AND en >= nl THEN 'en'
      |         WHEN es >= fr AND es >= nl THEN 'es'
      |         WHEN fr >= nl THEN 'fr' ELSE 'nl' END AS chunk_pred
      |  FROM pc),
      |dp AS (
      |  SELECT doc_id,
      |    CASE WHEN de >= en AND de >= es AND de >= fr AND de >= nl THEN 'de'
      |         WHEN en >= es AND en >= fr AND en >= nl THEN 'en'
      |         WHEN es >= fr AND es >= nl THEN 'es'
      |         WHEN fr >= nl THEN 'fr' ELSE 'nl' END AS lang_pred
      |  FROM (SELECT doc_id, sum(de) AS de, sum(en) AS en, sum(es) AS es,
      |          sum(fr) AS fr, sum(nl) AS nl
      |        FROM pc GROUP BY 1)),
      |agg AS (
      |  SELECT c.doc_id, d.lang_pred,
      |    CAST(count(*) AS BIGINT) AS n_chunks,
      |    CAST(count(*) FILTER (WHERE c.chunk_pred <> d.lang_pred) AS BIGINT)
      |      AS n_switched
      |  FROM cp c JOIN dp d ON d.doc_id = c.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_id, lang_pred, n_chunks, n_switched,
      |  CAST(n_switched * 10000 // n_chunks AS BIGINT) AS mix_bp
      |FROM agg ORDER BY doc_id""".stripMargin,
    "q379_ar_buckets" -> """
      |WITH img AS (
      |  SELECT doc_id AS media_id,
      |    CAST(4 + doc_id % 13 AS BIGINT) AS w,
      |    CAST(3 + doc_id % 7 AS BIGINT) AS h
      |  FROM documents),
      |b(ord, bucket, wb, hb) AS (VALUES
      |  (0, '1:1', 1, 1), (1, '4:3', 4, 3), (2, '3:4', 3, 4),
      |  (3, '16:9', 16, 9), (4, '9:16', 9, 16)),
      |scored AS (
      |  SELECT media_id, w, h, bucket, wb, hb, ord,
      |    abs(w * hb - wb * h) * (144 // hb) AS score
      |  FROM img CROSS JOIN b),
      |best AS (
      |  SELECT *, row_number() OVER (PARTITION BY media_id
      |    ORDER BY score, ord) AS rn
      |  FROM scored),
      |k AS (
      |  SELECT media_id, bucket,
      |    CASE WHEN w * hb >= wb * h THEN wb * h * 10000 // (hb * w)
      |         ELSE w * hb * 10000 // (wb * h) END AS kept_bp
      |  FROM best WHERE rn = 1)
      |SELECT bucket, CAST(count(*) AS BIGINT) AS n_images,
      |  CAST(sum(kept_bp) AS BIGINT) AS sum_kept_bp,
      |  CAST(min(kept_bp) AS BIGINT) AS min_kept_bp
      |FROM k GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q376_vad_segments" -> """
      |WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
      |p AS (SELECT doc_id, 1 + doc_id % 255 AS pat FROM d),
      |bits AS (SELECT doc_id, b, (pat >> b) & 1 AS v
      |         FROM p CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS b)),
      |m AS (SELECT doc_id, b, v,
      |        CASE WHEN v = 1 AND coalesce(lag(v) OVER
      |            (PARTITION BY doc_id ORDER BY b), 0) = 0
      |          THEN 1 ELSE 0 END AS ns
      |      FROM bits),
      |s AS (SELECT doc_id, b, v,
      |        sum(ns) OVER (PARTITION BY doc_id ORDER BY b) AS seg
      |      FROM m),
      |runs AS (SELECT doc_id, seg, count(*) AS len, min(b) AS strt
      |         FROM s WHERE v = 1 GROUP BY 1, 2),
      |agg AS (SELECT doc_id, sum(len) AS n_voiced, count(*) AS n_segments,
      |          max(len) AS longest_run, min(strt) AS first_voiced
      |        FROM runs GROUP BY 1)
      |SELECT d.doc_id AS media_id,
      |  CAST(coalesce(a.n_voiced, 0) AS BIGINT) AS n_voiced,
      |  CAST(coalesce(a.n_segments, 0) AS BIGINT) AS n_segments,
      |  CAST(coalesce(a.longest_run, 0) AS BIGINT) AS longest_run,
      |  CAST(coalesce(a.first_voiced, -1) AS BIGINT) AS first_voiced
      |FROM d LEFT JOIN agg a USING (doc_id) ORDER BY media_id""".stripMargin,
    "q282_audio_decode" -> """
      |WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 20 = 0),
      |p AS (SELECT doc_id, 800 + (doc_id % 5) * 160 AS n_frames,
      |        1000 + (doc_id % 20) * 500 AS amp
      |      FROM d)
      |SELECT doc_id AS media_id,
      |  CAST(44 + 2 * n_frames AS BIGINT) AS n_bytes,
      |  CAST(8000 AS INTEGER) AS sample_rate,
      |  CAST(1 AS INTEGER) AS channels,
      |  CAST(n_frames AS BIGINT) AS n_frames,
      |  CAST(n_frames * 1000 // 8000 AS BIGINT) AS duration_ms,
      |  CAST(amp AS BIGINT) AS rms0_q,
      |  CAST(amp AS BIGINT) AS rms7_q
      |FROM p ORDER BY media_id""".stripMargin,
    "q281_dim_profile" -> """
      |WITH q AS (
      |  SELECT list_transform(embedding,
      |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |x AS (
      |  SELECT unnest(generate_series(1, len(qv))) - 1 AS dim,
      |         unnest(qv) AS qval
      |  FROM q),
      |s AS (
      |  SELECT dim, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(qval) AS BIGINT) AS sum_q,
      |    CAST(sum(CAST(qval AS HUGEINT) * qval) AS HUGEINT) AS sqq
      |  FROM x GROUP BY 1)
      |SELECT CAST(dim AS BIGINT) AS dim, n, sum_q,
      |  CAST((n * sqq - CAST(sum_q AS HUGEINT) * sum_q)
      |    // NULLIF(CAST(n AS HUGEINT) * (n - 1), 0) AS BIGINT) AS var_q2,
      |  (n * sqq - CAST(sum_q AS HUGEINT) * sum_q = 0) AS dead
      |FROM s ORDER BY dim""".stripMargin,
    "q276_zipf" -> """
      |WITH tok AS (
      |  SELECT lang,
      |    unnest(list_filter(string_split(text, ' '), x -> x <> ''))
      |      AS token
      |  FROM documents),
      |c AS (
      |  SELECT lang, token, count(*) AS cnt FROM tok
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |r AS (
      |  SELECT lang, cnt, row_number() OVER (PARTITION BY lang
      |    ORDER BY cnt DESC, token) AS r
      |  FROM c),
      |xy AS (
      |  SELECT lang,
      |    CAST(length(bin(CAST(r AS BIGINT))) - 1 AS BIGINT) AS x,
      |    CAST(length(bin(CAST(cnt AS BIGINT))) - 1 AS BIGINT) AS y
      |  FROM r WHERE r <= 4096),
      |s AS (
      |  SELECT lang, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |         sum(x * y) AS sxy, sum(x * x) AS sxx
      |  FROM xy GROUP BY 1)
      |SELECT lang, CAST(n AS BIGINT) AS n,
      |  CAST(n * sxy - sx * sy AS BIGINT) AS num,
      |  CAST(n * sxx - sx * sx AS BIGINT) AS den,
      |  CAST(greatest(-(n * sxy - sx * sy), 0) * 1000
      |    // NULLIF(n * sxx - sx * sx, 0) AS BIGINT) AS decay_milli
      |FROM s ORDER BY lang""".stripMargin,
    "q277_rendezvous" -> """
      |WITH keys AS (SELECT CAST(doc_id AS VARCHAR) AS k FROM documents),
      |sc AS (
      |  SELECT k, n.node,
      |    ('0x' || substring(sha256(k || ':' || CAST(n.node AS VARCHAR)),
      |       1, 14))::BIGINT * 16 + n.node AS pack
      |  FROM keys, (SELECT unnest(range(9)) AS node) n),
      |per AS (
      |  SELECT k,
      |    max(CASE WHEN node < 8 THEN pack END) % 16 AS before_node,
      |    max(pack) % 16 AS after_node
      |  FROM sc GROUP BY k),
      |b AS (SELECT before_node AS node, count(*) AS load_before
      |      FROM per GROUP BY 1),
      |a AS (SELECT after_node AS node, count(*) AS load_after,
      |        CAST(sum(CASE WHEN before_node <> after_node
      |                      THEN 1 ELSE 0 END) AS BIGINT) AS gained
      |      FROM per GROUP BY 1)
      |SELECT CAST(coalesce(b.node, a.node) AS BIGINT) AS node,
      |  CAST(coalesce(load_before, 0) AS BIGINT) AS load_before,
      |  CAST(coalesce(load_after, 0) AS BIGINT) AS load_after,
      |  coalesce(gained, 0) AS gained
      |FROM b FULL OUTER JOIN a ON b.node = a.node
      |ORDER BY node""".stripMargin,
    "q72_vocab_stats" -> """
      |SELECT term, count(DISTINCT doc_id) AS doc_freq, count(*) AS term_freq
      |FROM (SELECT doc_id,
      |  unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
      |  FROM documents)
      |GROUP BY term ORDER BY doc_freq DESC, term LIMIT 50""".stripMargin,
    "q67_fuzzy_match" -> """
      |SELECT p_partkey, r_name AS best_region, dist FROM (
      |  SELECT p_partkey, r_name, levenshtein(p_name, r_name) AS dist,
      |    row_number() OVER (PARTITION BY p_partkey
      |      ORDER BY levenshtein(p_name, r_name), r_name) AS rk
      |  FROM part, region WHERE p_partkey <= 500)
      |WHERE rk = 1 ORDER BY p_partkey""".stripMargin,
    "q25_dedup_exact" -> s"""
      |WITH $corpusSql
      |SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id,
      |       count(*) AS dup_count
      |FROM corpus GROUP BY 1 ORDER BY keep_id""".stripMargin,
    // has_kept replicates the engine's default skew cap (maxShingleFreq =
    // 256): a pair is a candidate only if it shares at least one shingle
    // with frequency <= 256 — intersections still count ALL shared
    // shingles. On the driver's corpora every shingle is far below the cap
    // (max freq 25 at sf0.1) so this equals the exact pair set, but the
    // oracle must not silently drift from the engine if a bigger corpus
    // ever pushes a boilerplate shingle past the cap.
    "q26_ngram_jaccard" -> s"""
      |WITH $corpusSql,
      |$shinglesSql,
      |freq AS (SELECT s, count(*) AS c FROM sh GROUP BY 1),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
      |    max(CASE WHEN f.c <= 256 THEN 1 ELSE 0 END) AS has_kept
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  JOIN freq f ON f.s = a.s
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b, inter, sa.n + sb.n - inter AS union_size
      |FROM pairs
      |JOIN sizes sa ON sa.doc_id = id_a
      |JOIN sizes sb ON sb.doc_id = id_b
      |WHERE 2*inter >= sa.n + sb.n - inter AND has_kept = 1
      |ORDER BY id_a, id_b""".stripMargin,
    "q27_minhash_lsh" -> s"""
      |WITH $corpusSql,
      |$shinglesSql,
      |sets AS (SELECT doc_id, list_sort(list(DISTINCT s)) AS ss,
      |                count(DISTINCT s) AS n
      |         FROM sh GROUP BY doc_id)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS inter, a.n AS union_size
      |FROM sets a JOIN sets b ON a.ss = b.ss AND a.doc_id < b.doc_id
      |ORDER BY id_a, id_b""".stripMargin,
    "q28_simhash" -> """
      |WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS tok
      |  FROM documents),
      |bits AS (
      |  SELECT doc_id, i,
      |    sum(CASE WHEN ((strpos('0123456789abcdef', substr(md5(tok), i//4 + 1, 1)) - 1
      |                    >> (3 - i%4)) & 1) = 1 THEN 1 ELSE -1 END) AS s
      |  FROM toks, (SELECT unnest(generate_series(0, 63)) AS i)
      |  GROUP BY doc_id, i)
      |SELECT doc_id,
      |  string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY i) AS simhash
      |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q29_ann_topk" -> """
      |WITH e AS (
      |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
      |    x -> CAST(round(x*1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |scored AS (
      |  SELECT qe.vec_id AS query_id, ce.vec_id AS nn_id,
      |    CAST(list_dot_product(qe.q, ce.q) AS BIGINT) AS dot
      |  FROM e qe JOIN e ce ON ce.vec_id <> qe.vec_id
      |  WHERE qe.vec_id % 400 = 0 AND qe.vec_id < 3200),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY dot DESC, nn_id) AS rank
      |  FROM scored)
      |SELECT query_id, rank, nn_id, dot FROM ranked
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "q30_langid" -> """
      |WITH t AS (
      |  SELECT doc_id, list_transform(
      |    list_filter(string_split(text,' '), x -> x <> ''), x -> lower(x)) AS tk
      |  FROM documents),
      |s AS (
      |  SELECT doc_id,
      |    len(list_filter(tk, x -> x IN ('der','die','das','und','ein','nicht','ist'))) AS de,
      |    len(list_filter(tk, x -> x IN ('the','and','of','to','a','in','is'))) AS en,
      |    len(list_filter(tk, x -> x IN ('el','los','las','y','un','que','es'))) AS es,
      |    len(list_filter(tk, x -> x IN ('le','la','les','et','un','est','que'))) AS fr,
      |    len(list_filter(tk, x -> x IN ('de','het','een','en','van','niet','is'))) AS nl
      |  FROM t)
      |SELECT doc_id,
      |  CASE WHEN de >= en AND de >= es AND de >= fr AND de >= nl THEN 'de'
      |       WHEN en >= es AND en >= fr AND en >= nl THEN 'en'
      |       WHEN es >= fr AND es >= nl THEN 'es'
      |       WHEN fr >= nl THEN 'fr' ELSE 'nl' END AS lang_pred,
      |  greatest(de, en, es, fr, nl) AS score
      |FROM s ORDER BY doc_id""".stripMargin,
    "q31_text_quality" -> """
      |SELECT doc_id,
      |  length(text) AS n_chars,
      |  len(list_filter(string_split(text,' '), x -> x <> '')) AS n_tokens,
      |  length(replace(text, ' ', '')) AS sum_token_len,
      |  length(regexp_replace(text, '[A-Za-z0-9 \t\n\f\r]', '', 'g')) AS n_punct,
      |  length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits,
      |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r]')) AS bpeish_tokens,
      |  len(list_filter(list_transform(list_filter(string_split(text,' '), x -> x <> ''),
      |    x -> lower(x)), x -> x IN ('the','a','of','and','to','in','is'))) AS n_stopwords
      |FROM documents ORDER BY doc_id""".stripMargin,
    "q32_multimodal" -> """
      |SELECT doc_id AS media_id, 'image' AS media_type,
      |  octet_length(encode(text)) AS n_bytes,
      |  sha256(text) AS payload_sha
      |FROM documents ORDER BY media_id""".stripMargin,
    "q242_image_decode" -> """
      |SELECT doc_id AS media_id,
      |  CAST(4 + doc_id % 13 AS BIGINT) AS decoded_width,
      |  CAST(3 + doc_id % 7 AS BIGINT) AS decoded_height,
      |  CAST(64 AS BIGINT) AS n_cells,
      |  CAST(doc_id % 251 AS BIGINT) AS luma0,
      |  CAST(doc_id % 251 AS BIGINT) AS luma_mean
      |FROM documents ORDER BY media_id""".stripMargin,
    "q50_ann_lsh" -> s"""
      |WITH $qembSql,
      |scored AS (
      |  SELECT qe.vec_id AS query_id, ce.vec_id AS nn_id,
      |    CAST(list_dot_product(qe.q, ce.q) AS BIGINT) AS dot
      |  FROM e qe JOIN e ce ON ce.bucket = qe.bucket AND ce.vec_id <> qe.vec_id
      |  WHERE qe.vec_id % 400 = 0 AND qe.vec_id < 3200),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY dot DESC, nn_id) AS rank
      |  FROM scored)
      |SELECT query_id, rank, nn_id, dot FROM ranked
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "q51_ann_ivf" -> s"""
      |WITH $qembSql,
      |cents AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, q AS cq
      |  FROM (SELECT vec_id, q FROM e ORDER BY vec_id LIMIT 16)),
      |cd AS (
      |  SELECT e.vec_id, c.cid,
      |    CAST(list_dot_product(e.q, c.cq) AS BIGINT) AS cdot
      |  FROM e, cents c),
      |assign AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY cdot DESC, cid DESC) AS rn FROM cd) WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, cid FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY cdot DESC, cid DESC) AS rn
      |    FROM cd WHERE vec_id % 400 = 0 AND vec_id < 3200) WHERE rn <= 4),
      |scored AS (
      |  SELECT p.query_id, a.vec_id AS nn_id,
      |    CAST(list_dot_product(qq.q, aq.q) AS BIGINT) AS dot
      |  FROM probes p
      |  JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id
      |  JOIN e qq ON qq.vec_id = p.query_id
      |  JOIN e aq ON aq.vec_id = a.vec_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY dot DESC, nn_id) AS rank
      |  FROM scored)
      |SELECT query_id, rank, nn_id, dot FROM ranked
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "q271_datasheet" -> """
      |WITH d AS (
      |  SELECT lang, source, doc_id,
      |    CAST(len(list_filter(string_split_regex(text, '[ \t\n\r]+'),
      |      x -> x <> '')) AS BIGINT) AS toks,
      |    CAST(length(text) AS BIGINT) AS chars,
      |    sha256(text) AS h
      |  FROM documents),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY lang, source
      |      ORDER BY toks, doc_id) AS rn,
      |    count(*) OVER (PARTITION BY lang, source) AS n
      |  FROM d),
      |base AS (
      |  SELECT lang, source, count(*) AS n_docs,
      |    CAST(sum(toks) AS BIGINT) AS n_tokens,
      |    CAST(sum(chars) AS BIGINT) AS n_chars,
      |    CAST(max(CASE WHEN rn = (n + 1) // 2 THEN toks END) AS BIGINT)
      |      AS p50_tokens
      |  FROM r GROUP BY 1, 2),
      |dup AS (
      |  SELECT lang, source,
      |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
      |      AS n_dup_docs
      |  FROM (SELECT lang, source, h, count(*) AS c
      |        FROM d GROUP BY 1, 2, 3)
      |  GROUP BY 1, 2)
      |SELECT lang, source, n_docs, n_tokens, n_chars, p50_tokens,
      |  n_dup_docs
      |FROM base JOIN dup USING (lang, source)
      |ORDER BY lang, source""".stripMargin,
    "q253_bootstrap_ci" -> """
      |WITH e AS (
      |  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
      |r AS (
      |  SELECT e.event_id, e.cents, rep.range AS rep,
      |    ('0x' || substring(sha256(CAST(event_id AS VARCHAR) || ':'
      |       || CAST(rep.range AS VARCHAR)), 1, 4))::BIGINT % 3 AS w
      |  FROM e, range(0, 32) rep)
      |SELECT rep, CAST(sum(w) AS BIGINT) AS n_eff,
      |  CAST(sum(w * cents) AS BIGINT) AS mean_num,
      |  CAST(sum(w) AS BIGINT) AS mean_den,
      |  CAST(sum(w * cents) * 100 // sum(w) AS BIGINT) AS mean_c100
      |FROM r GROUP BY rep ORDER BY rep""".stripMargin,
    // the gradient fixture makes every SAMPLED pixel analytic:
    // luma(i,j) = ((j*w//8)*7 + (i*h//8)*3 + id) mod 251 — so the dhash
    // bits (is the right neighbor brighter?) re-derive without a decoder
    "q255_image_dhash" -> s"""
      |WITH $imageDhashSql
      |SELECT media_id,
      |  CAST(w AS BIGINT) AS decoded_width,
      |  CAST(h AS BIGINT) AS decoded_height,
      |  dhash
      |FROM dh ORDER BY media_id""".stripMargin,
    // brute-force hamming join between exact-dup classes — legal as an
    // oracle because the engine's 4x14-bit banding has EXACT recall for
    // hamming <= 3 (pigeonhole); the engine never builds the all-pairs
    // product.
    "q363_image_dup_classes" -> s"""
      |WITH $imageDhashSql,
      |g AS (SELECT dhash, min(media_id) AS rep_id, count(*) AS n
      |      FROM dh GROUP BY 1)
      |SELECT a.rep_id AS id_a, b.rep_id AS id_b,
      |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming,
      |  CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b
      |FROM g a JOIN g b ON a.rep_id < b.rep_id
      |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
      |ORDER BY id_a, id_b""".stripMargin,
    "q249_readability" -> """
      |WITH x AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
      |      AS BIGINT) AS n_words,
      |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
      |      AS BIGINT) AS n_syllables,
      |    CAST(greatest(length(text)
      |      - length(regexp_replace(text, '[.!?]', '', 'g')), 1)
      |      AS BIGINT) AS n_sentences
      |  FROM documents)
      |SELECT doc_id, n_words, n_syllables, n_sentences,
      |  CAST(CASE WHEN n_words > 0 THEN
      |    39*n_words*n_words + 1180*n_syllables*n_sentences
      |      - 1559*n_sentences*n_words END AS BIGINT) AS fk_num,
      |  CAST(CASE WHEN n_words > 0 THEN 100*n_sentences*n_words END
      |    AS BIGINT) AS fk_den
      |FROM x ORDER BY doc_id""".stripMargin,
    "q250_mutual_nn" -> s"""
      |WITH $qembSql,
      |p AS (
      |  SELECT a.vec_id AS id, b.vec_id AS nn,
      |    CAST(list_dot_product(a.q, b.q) AS BIGINT) AS dot
      |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY dot DESC, nn)
      |    AS rk FROM p),
      |best AS (SELECT id, nn, dot FROM r WHERE rk = 1)
      |SELECT x.id AS id_a, x.nn AS id_b, x.dot AS dot
      |FROM best x JOIN best y
      |  ON x.id = y.nn AND x.nn = y.id AND x.id < y.id
      |ORDER BY id_a""".stripMargin,
    "q52_cosine_dups" -> s"""
      |WITH $qembSql,
      |p AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    CAST(list_dot_product(a.q, b.q) AS BIGINT) AS dot,
      |    CAST(list_dot_product(a.q, a.q) AS BIGINT) AS n2a,
      |    CAST(list_dot_product(b.q, b.q) AS BIGINT) AS n2b
      |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
      |SELECT id_a, id_b, dot,
      |  CAST(dot AS DOUBLE) / sqrt(CAST(n2a*n2b AS DOUBLE)) AS cosine
      |FROM p
      |WHERE CAST(dot AS DOUBLE) / sqrt(CAST(n2a*n2b AS DOUBLE)) >= 0.3
      |ORDER BY id_a, id_b""".stripMargin,
    "q369_sign_projection" -> signProjOracleSql(64, 16),
    "q395_rbo" -> s"""
      |WITH $qembSql,
      |ex AS MATERIALIZED (
      |  SELECT query_id, nn_id, rank FROM (
      |    SELECT qe.vec_id AS query_id, ce.vec_id AS nn_id,
      |      row_number() OVER (PARTITION BY qe.vec_id
      |        ORDER BY CAST(list_dot_product(qe.q, ce.q) AS BIGINT) DESC,
      |          ce.vec_id) AS rank
      |    FROM e qe JOIN e ce ON ce.vec_id <> qe.vec_id
      |    WHERE qe.vec_id % 400 = 0 AND qe.vec_id < 3200)
      |  WHERE rank <= 10),
      |ap AS MATERIALIZED (
      |  SELECT query_id, nn_id, rank FROM (
      |    SELECT qe.vec_id AS query_id, ce.vec_id AS nn_id,
      |      row_number() OVER (PARTITION BY qe.vec_id
      |        ORDER BY CAST(list_dot_product(qe.q, ce.q) AS BIGINT) DESC,
      |          ce.vec_id) AS rank
      |    FROM e qe JOIN e ce ON ce.bucket = qe.bucket
      |      AND ce.vec_id <> qe.vec_id
      |    WHERE qe.vec_id % 400 = 0 AND qe.vec_id < 3200)
      |  WHERE rank <= 10),
      |ag AS (
      |  SELECT ex.query_id, greatest(ex.rank, ap.rank) AS m
      |  FROM ex JOIN ap
      |    ON ap.query_id = ex.query_id AND ap.nn_id = ex.nn_id),
      |xd AS (
      |  SELECT query_id, gs.d, CAST(count(*) AS BIGINT) AS x
      |  FROM ag, LATERAL (SELECT unnest(generate_series(m, 10)) AS d) gs
      |  GROUP BY 1, 2),
      |t AS (
      |  SELECT query_id,
      |    CAST(sum((CASE d
      |      WHEN 1 THEN 100000000000 WHEN 2 THEN 90000000000
      |      WHEN 3 THEN 81000000000 WHEN 4 THEN 72900000000
      |      WHEN 5 THEN 65610000000 WHEN 6 THEN 59049000000
      |      WHEN 7 THEN 53144100000 WHEN 8 THEN 47829690000
      |      WHEN 9 THEN 43046721000 ELSE 38742048900 END) * x // d)
      |      AS BIGINT) AS rbo,
      |    max(CASE WHEN d = 10 THEN x END) AS ok
      |  FROM xd GROUP BY 1),
      |q AS (SELECT DISTINCT query_id FROM ex)
      |SELECT q.query_id,
      |  CAST(coalesce(ok, 0) AS BIGINT) AS overlap_at_k,
      |  CAST(coalesce(rbo, 0) AS BIGINT) AS rbo_p12
      |FROM q LEFT JOIN t USING (query_id) ORDER BY query_id""".stripMargin,
    "q396_priority_sample" -> """
      |WITH b AS (SELECT p_partkey AS id,
      |    CAST(round(p_retailprice * 100) AS BIGINT) AS w FROM part),
      |p AS (SELECT id, w,
      |    ('0x' || substring(sha256(CAST(id AS VARCHAR)), 1, 7))::BIGINT + 1
      |      AS h FROM b),
      |pr AS (SELECT id, w, CAST(w * 268435456 // h AS BIGINT) AS priority
      |       FROM p),
      |r AS (SELECT *, row_number() OVER (ORDER BY priority DESC, id) AS rn
      |      FROM pr),
      |tau AS (SELECT max(CASE WHEN rn = 201 THEN priority END) AS t FROM r)
      |SELECT id, w, priority,
      |  CAST(greatest(w, coalesce(t, 0)) AS BIGINT) AS est_w
      |FROM r, tau WHERE rn <= 200 ORDER BY id""".stripMargin,
    "q392_knn_hubness" -> s"""
      |WITH $qembSql,
      |p AS (
      |  SELECT a.vec_id AS id, b.vec_id AS nn,
      |    CAST(list_dot_product(a.q, b.q) AS BIGINT) AS dot
      |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
      |r AS (
      |  SELECT nn, row_number() OVER (PARTITION BY id
      |    ORDER BY dot DESC, nn) AS rn
      |  FROM p),
      |ind AS (
      |  SELECT nn AS vec_id, CAST(count(*) AS BIGINT) AS ind
      |  FROM r WHERE rn <= 5 GROUP BY 1),
      |d AS (
      |  SELECT coalesce(ind.ind, 0) AS in_degree
      |  FROM e LEFT JOIN ind USING (vec_id))
      |SELECT in_degree, CAST(count(*) AS BIGINT) AS n_vectors
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q394_rouge2" -> """
      |WITH pp AS (
      |  SELECT * FROM (
      |    SELECT doc_id AS pair_id, text AS c,
      |      lead(text) OVER (PARTITION BY source ORDER BY doc_id) AS r
      |    FROM documents)
      |  WHERE r IS NOT NULL),
      |cg AS (
      |  SELECT pair_id, tf[i] || ' ' || tf[i+1] AS g, 0 AS side
      |  FROM (SELECT pair_id,
      |          list_filter(string_split(c, ' '), x -> x <> '') AS tf
      |        FROM pp),
      |    LATERAL (SELECT unnest(generate_series(1,
      |      greatest(len(tf) - 1, 0))) AS i) gi
      |  UNION ALL
      |  SELECT pair_id, tf[i] || ' ' || tf[i+1] AS g, 1 AS side
      |  FROM (SELECT pair_id,
      |          list_filter(string_split(r, ' '), x -> x <> '') AS tf
      |        FROM pp),
      |    LATERAL (SELECT unnest(generate_series(1,
      |      greatest(len(tf) - 1, 0))) AS i) gi),
      |pg AS (
      |  SELECT pair_id, g,
      |    CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cc,
      |    CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS rc
      |  FROM cg GROUP BY 1, 2),
      |agg AS (
      |  SELECT pair_id, CAST(sum(least(cc, rc)) AS BIGINT) AS clipped,
      |    CAST(sum(cc) AS BIGINT) AS cand_grams,
      |    CAST(sum(rc) AS BIGINT) AS ref_grams
      |  FROM pg GROUP BY 1)
      |SELECT pp.pair_id,
      |  coalesce(clipped, 0) AS clipped,
      |  coalesce(cand_grams, 0) AS cand_grams,
      |  coalesce(ref_grams, 0) AS ref_grams,
      |  coalesce(clipped, 0) * 10000 // NULLIF(coalesce(cand_grams, 0), 0)
      |    AS p_bp,
      |  coalesce(clipped, 0) * 10000 // NULLIF(coalesce(ref_grams, 0), 0)
      |    AS r_bp,
      |  coalesce(clipped, 0) * 20000
      |    // NULLIF(coalesce(cand_grams, 0) + coalesce(ref_grams, 0), 0)
      |    AS f1_bp
      |FROM pp LEFT JOIN agg USING (pair_id)
      |ORDER BY pair_id""".stripMargin,
    "q372_retrieval_mrr" -> s"""
      |WITH $qembSql,
      |bt AS (
      |  SELECT query_id, nn_id FROM (
      |    SELECT qe.vec_id AS query_id, ce.vec_id AS nn_id,
      |      row_number() OVER (PARTITION BY qe.vec_id
      |        ORDER BY CAST(list_dot_product(qe.q, ce.q) AS BIGINT) DESC,
      |          ce.vec_id) AS r
      |    FROM e qe JOIN e ce ON ce.vec_id <> qe.vec_id
      |    WHERE qe.vec_id % 400 = 0 AND qe.vec_id < 3200)
      |  WHERE r = 1),
      |ap AS (
      |  SELECT query_id, nn_id, rank FROM (
      |    SELECT qe.vec_id AS query_id, ce.vec_id AS nn_id,
      |      row_number() OVER (PARTITION BY qe.vec_id
      |        ORDER BY CAST(list_dot_product(qe.q, ce.q) AS BIGINT) DESC,
      |          ce.vec_id) AS rank
      |    FROM e qe JOIN e ce
      |      ON ce.bucket = qe.bucket AND ce.vec_id <> qe.vec_id
      |    WHERE qe.vec_id % 400 = 0 AND qe.vec_id < 3200)
      |  WHERE rank <= 10),
      |pos AS (SELECT bt.query_id, ap.rank AS p
      |        FROM bt LEFT JOIN ap
      |          ON ap.query_id = bt.query_id AND ap.nn_id = bt.nn_id)
      |SELECT CAST(count(*) AS BIGINT) AS n_queries,
      |  CAST(sum(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS hits_at_1,
      |  CAST(sum(CASE WHEN p IS NOT NULL AND p <= 10 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS hits_at_k,
      |  CAST(sum(CASE WHEN p IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_missed,
      |  CAST(sum(CASE WHEN p IS NOT NULL THEN 1000000 // p ELSE 0 END)
      |    // count(*) AS BIGINT) AS mrr_ppm
      |FROM pos""".stripMargin,
    "q519_embedding_drift" -> """
      |WITH e AS (
      |  SELECT CAST(label AS BIGINT) AS label, vec_id,
      |    vec_id % 2 = 0 AS c,
      |    list_transform(embedding,
      |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      |  FROM embeddings WHERE label IS NOT NULL),
      |counts AS (
      |  SELECT label,
      |    sum(CASE WHEN c THEN 1 ELSE 0 END) AS n_a,
      |    sum(CASE WHEN c THEN 0 ELSE 1 END) AS n_b
      |  FROM e GROUP BY 1),
      |x AS (
      |  SELECT label, c,
      |    unnest(generate_series(1, len(qv))) - 1 AS dim,
      |    unnest(qv) AS v
      |  FROM e),
      |per_dim AS (
      |  SELECT label, dim,
      |    sum(CASE WHEN c THEN v ELSE 0 END) AS s_a,
      |    sum(CASE WHEN c THEN 0 ELSE v END) AS s_b
      |  FROM x GROUP BY 1, 2),
      |terms AS (
      |  SELECT p.label, p.dim, k.n_a, k.n_b,
      |    (CAST(p.s_a AS HUGEINT) * k.n_b - CAST(p.s_b AS HUGEINT) * k.n_a)
      |    * (CAST(p.s_a AS HUGEINT) * k.n_b - CAST(p.s_b AS HUGEINT) * k.n_a)
      |      AS t
      |  FROM per_dim p JOIN counts k USING (label)),
      |agg AS (
      |  SELECT label, n_a, n_b, count(*) AS dims, sum(t) AS num,
      |    min(CASE WHEN t = (SELECT max(t2.t) FROM terms t2
      |      WHERE t2.label = terms.label) THEN dim END) AS top_dim,
      |    max(t) AS top_t
      |  FROM terms GROUP BY 1, 2, 3)
      |SELECT label, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      |  CAST(dims AS BIGINT) AS dims,
      |  CAST(CASE WHEN n_a > 0 AND n_b > 0 THEN num
      |    // (CAST(n_a AS HUGEINT) * n_b * n_a * n_b) END AS BIGINT)
      |    AS drift_milli2,
      |  CAST(top_dim AS BIGINT) AS top_dim,
      |  CAST(CASE WHEN n_a > 0 AND n_b > 0 THEN top_t
      |    // (CAST(n_a AS HUGEINT) * n_b * n_a * n_b) END AS BIGINT)
      |    AS top_dim_milli2
      |FROM agg ORDER BY label""".stripMargin,
    "q520_drift_timeline" -> """
      |WITH e AS (
      |  SELECT CAST(label AS BIGINT) AS label, vec_id // 128 AS batch,
      |    list_transform(embedding,
      |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      |  FROM embeddings WHERE label IS NOT NULL),
      |x AS (
      |  SELECT label, batch,
      |    unnest(generate_series(1, len(qv))) - 1 AS dim,
      |    unnest(qv) AS v
      |  FROM e),
      |pane_dim AS (
      |  SELECT label, batch, dim, sum(v) AS s_a FROM x GROUP BY 1, 2, 3),
      |pane_n AS (
      |  SELECT label, batch, count(*) AS n_a FROM e GROUP BY 1, 2),
      |base_dim AS (
      |  SELECT label, dim, sum(v) AS s_b FROM x WHERE batch = 0
      |  GROUP BY 1, 2),
      |base_n AS (
      |  SELECT label, count(*) AS n_b FROM e WHERE batch = 0 GROUP BY 1),
      |terms AS (
      |  SELECT p.label, p.batch, p.dim, n.n_a, bn.n_b,
      |    (CAST(p.s_a AS HUGEINT) * bn.n_b - CAST(bd.s_b AS HUGEINT) * n.n_a)
      |    * (CAST(p.s_a AS HUGEINT) * bn.n_b - CAST(bd.s_b AS HUGEINT) * n.n_a)
      |      AS t
      |  FROM pane_dim p
      |  JOIN pane_n n USING (label, batch)
      |  LEFT JOIN base_dim bd ON bd.label = p.label AND bd.dim = p.dim
      |  LEFT JOIN base_n bn ON bn.label = p.label),
      |mx AS (
      |  SELECT *, max(t) OVER (PARTITION BY label, batch) AS mt FROM terms),
      |agg AS (
      |  SELECT label, batch, n_a, n_b, count(*) AS dims, sum(t) AS num,
      |    min(CASE WHEN t = mt THEN dim END) AS top_dim, max(t) AS top_t
      |  FROM mx GROUP BY 1, 2, 3, 4)
      |SELECT batch, label, CAST(n_a AS BIGINT) AS n_a,
      |  CAST(n_b AS BIGINT) AS n_b, CAST(dims AS BIGINT) AS dims,
      |  CAST(CASE WHEN n_a > 0 AND n_b > 0 THEN num
      |    // (CAST(n_a AS HUGEINT) * n_b * n_a * n_b) END AS BIGINT)
      |    AS drift_milli2,
      |  CAST(CASE WHEN num IS NOT NULL THEN top_dim END AS BIGINT)
      |    AS top_dim,
      |  CAST(CASE WHEN n_a > 0 AND n_b > 0 AND num IS NOT NULL THEN top_t
      |    // (CAST(n_a AS HUGEINT) * n_b * n_a * n_b) END AS BIGINT)
      |    AS top_dim_milli2
      |FROM agg ORDER BY batch, label""".stripMargin,
    "q364_embedding_leak" -> s"""
      |WITH $qembSql,
      |p AS (
      |  SELECT a.vec_id AS test_id, b.vec_id AS train_id,
      |    CAST(list_dot_product(a.q, b.q) AS BIGINT) AS dot,
      |    CAST(list_dot_product(a.q, a.q) AS BIGINT) AS n2a,
      |    CAST(list_dot_product(b.q, b.q) AS BIGINT) AS n2b
      |  FROM e a JOIN e b ON a.bucket = b.bucket
      |  WHERE a.vec_id % 10 >= 8 AND b.vec_id % 10 < 8)
      |SELECT test_id, train_id, dot,
      |  CAST(dot AS DOUBLE) / sqrt(CAST(n2a*n2b AS DOUBLE)) AS cosine
      |FROM p
      |WHERE CAST(dot AS DOUBLE) / sqrt(CAST(n2a*n2b AS DOUBLE)) >= 0.3
      |ORDER BY test_id, train_id""".stripMargin,
    // Winnowing refolded in SQL: rolling hash h = (h*257 + char) mod 2^31-1
    // via list_reduce; k=5 grams (a short text is its own single gram, like
    // String.sliding); window-4 minima, distinct. Sums CAST to BIGINT
    // (DuckDB list_sum widens).
    "q53_winnow" -> """
      |WITH g AS (
      |  SELECT doc_id,
      |    CASE WHEN length(text) <= 4 THEN [text]
      |         ELSE list_transform(range(1, length(text) - 3),
      |                i -> substr(text, CAST(i AS INT), 5)) END AS grams
      |  FROM documents WHERE length(text) > 0),
      |h AS (
      |  SELECT doc_id, list_transform(grams, s -> list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(split(s, ''), c -> CAST(unicode(c) AS BIGINT))),
      |    (a, c) -> (a*257 + c) % 2147483647)) AS hs
      |  FROM g),
      |w AS (
      |  SELECT doc_id,
      |    CASE WHEN len(hs) <= 4 THEN [list_min(hs)]
      |         ELSE list_distinct(list_transform(range(1, len(hs) - 2),
      |                j -> list_min(hs[j:j+3]))) END AS fps
      |  FROM h)
      |SELECT doc_id,
      |  CAST(len(fps) AS BIGINT) AS n_fp,
      |  list_min(fps) AS min_fp,
      |  list_max(fps) AS max_fp,
      |  CAST(list_sum(fps) AS BIGINT) AS sum_fp
      |FROM w ORDER BY doc_id""".stripMargin,
    // Same winnow refold as q53 at k=16/window=12, then the pair engine's
    // conventions: set intersection over distinct fingerprints, the
    // >=1-below-cap candidate rule (has_kept at the query's cap of 64 —
    // every bucket is far below it on the driver corpora, so this equals
    // the exact pair set), and floored overlap_bp against the smaller
    // fingerprint set.
    "q362_winnow_overlap" -> """
      |WITH g AS (
      |  SELECT doc_id,
      |    CASE WHEN length(text) <= 15 THEN [text]
      |         ELSE list_transform(range(1, length(text) - 14),
      |                i -> substr(text, CAST(i AS INT), 16)) END AS grams
      |  FROM documents WHERE length(text) > 0),
      |h AS (
      |  SELECT doc_id, list_transform(grams, s -> list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(split(s, ''), c -> CAST(unicode(c) AS BIGINT))),
      |    (a, c) -> (a*257 + c) % 2147483647)) AS hs
      |  FROM g),
      |w AS (
      |  SELECT doc_id,
      |    CASE WHEN len(hs) <= 12 THEN [list_min(hs)]
      |         ELSE list_distinct(list_transform(range(1, len(hs) - 10),
      |                j -> list_min(hs[j:j+11]))) END AS fps
      |  FROM h),
      |e AS (SELECT doc_id, unnest(fps) AS fp FROM w),
      |s AS (SELECT doc_id, len(fps) AS n FROM w),
      |f AS (SELECT fp, count(*) AS c FROM e GROUP BY 1),
      |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |        count(*) AS shared,
      |        max(CASE WHEN f.c <= 64 THEN 1 ELSE 0 END) AS has_kept
      |      FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |      JOIN f ON f.fp = a.fp
      |      GROUP BY 1, 2)
      |SELECT id_a, id_b, CAST(shared AS BIGINT) AS shared,
      |  CAST(sa.n AS BIGINT) AS n_fp_a, CAST(sb.n AS BIGINT) AS n_fp_b,
      |  CAST(shared * 10000 // least(sa.n, sb.n) AS BIGINT) AS overlap_bp
      |FROM p JOIN s sa ON sa.doc_id = id_a JOIN s sb ON sb.doc_id = id_b
      |WHERE shared >= 3 AND has_kept = 1
      |ORDER BY id_a, id_b""".stripMargin,
    // sequence(0, dur, step) is inclusive of dur when divisible; DuckDB
    // range() excludes the stop, so stop = dur + 1.
    "q54_frame_sample" -> """
      |SELECT doc_id AS media_id,
      |  unnest(range(0, n_chars*25 + 1, 1000)) AS frame_ts_ms
      |FROM documents ORDER BY media_id, frame_ts_ms""".stripMargin,
    // fit-within-box: scale = min(maxW/w, maxH/h), floor, never upscale;
    // all-integer arithmetic so the compare is exact. Zero dims → null.
    "q55_resize" -> """
      |WITH m AS (
      |  SELECT doc_id AS media_id, CAST(doc_id % 1920 AS INT) AS width,
      |    CAST(doc_id % 1080 AS INT) AS height
      |  FROM documents)
      |SELECT media_id, width, height,
      |  CASE WHEN width > 0 AND height > 0 THEN
      |    CASE WHEN width <= 640 AND height <= 480 THEN width
      |      ELSE CAST(least(640*height, 480*width) // height AS INT) END
      |  END AS target_width,
      |  CASE WHEN width > 0 AND height > 0 THEN
      |    CASE WHEN width <= 640 AND height <= 480 THEN height
      |      ELSE CAST(least(640*height, 480*width) // width AS INT) END
      |  END AS target_height
      |FROM m ORDER BY media_id""".stripMargin)
}
