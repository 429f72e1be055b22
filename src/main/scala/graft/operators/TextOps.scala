package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftQuery, QueryModule}
import graft.sources.Tables

/** Text analysis for LLM training-data pipelines (SURVEY.md §2.12; driver
  * north star BASELINE.json:6) over `documents`: tokenization/word-count
  * (the reference's flagship dataflow, flink/README.md:69-77, batch form),
  * language stats/ID, quality scoring, token counting, fingerprinting.
  *
  * Scale posture: everything is per-row higher-order-function work (map
  * side, whole-stage codegen'd, no UDFs) followed by a single keyed
  * aggregate — at 100 TB this is scan-bound with no extra shuffles beyond
  * the final group-by.
  */
object TextOps extends QueryModule {

  private def toks = split(col("text"), " ")

  /** Occurrences of any marker word as a whitespace-delimited token,
    * counted with one codegen'd regex pass over the raw text. Exactly
    * equivalent to `size(filter(split(text,' '), t -> t IN (words)))` —
    * the lookarounds anchor each match to a full space-delimited token
    * without consuming the delimiters — but `filter` is an interpreted
    * higher-order function AND re-inlines the split per score column,
    * while this stays inside whole-stage codegen and never materializes
    * the token array. The hot per-row kernel of q63/q64 at corpus scale. */
  private def markerCount(words: Seq[String]): Column =
    markerCountIn(col("text"), words)

  /** [[markerCount]] over an arbitrary text column — q221 runs the q64
    * kernel on the paragraph-deduped `clean_text`, not the raw text. */
  private[operators] def markerCountIn(c: Column, words: Seq[String]): Column = {
    val alts = words.map(java.util.regex.Pattern.quote).mkString("|")
    // \z (true end-of-input), not $: without MULTILINE, $ also matches
    // before a final line terminator, which would count a marker followed
    // by a trailing '\n' that the split-token form would not
    regexp_count(c, lit("(?<=^| )(" + alts + ")(?= |\\z)"))
  }

  /** Word count — the canonical pipeline (flink/README.md:69-77):
    * flatMap(split) → keyBy(word) → sum. Top 50 by count. */
  def wordCount(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(explode(toks).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(50)
  }

  private val wordCountSql =
    """SELECT word, COUNT(*) AS cnt
      |FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS word FROM documents) t
      |GROUP BY word
      |ORDER BY cnt DESC NULLS LAST, word NULLS FIRST
      |LIMIT 50""".stripMargin

  /** Per-language corpus stats (language filtering is the first gate of a
    * training-data pipeline). */
  def langStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_chars")).cast(DoubleType) / count(lit(1))).as("avg_chars"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("lang"))
  }

  private val langStatsSql =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
      |  COUNT(DISTINCT source) AS n_sources
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang NULLS FIRST""".stripMargin

  /** Token counting, whitespace + BPE-ish regex (word pieces of ≤4 chars):
    * the cost model of LLM data curation. */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(
        col("doc_id"),
        size(toks).as("ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]{1,4}', 0)")).as("bpe_ish_tokens"),
        length(col("text")).as("n_chars_measured"))
      .orderBy(col("doc_id"))
  }

  private val tokenCountsSql =
    """SELECT doc_id,
      |  CAST(LEN(STRING_SPLIT(text, ' ')) AS INT) AS ws_tokens,
      |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-z]{1,4}')) AS INT) AS bpe_ish_tokens,
      |  CAST(LENGTH(text) AS INT) AS n_chars_measured
      |FROM documents
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  /** Quality scoring: length / lexical-diversity / stopword signals
    * composed into one double score. All components are integer-derived
    * ratios, so the score is bit-exact across engines. */
  def qualityScores(spark: SparkSession, dir: String): DataFrame =
    qualityScoresOf(Tables.documents(spark, dir))

  /** DataFrame-level core (probe/test surface over constructed corpora). */
  def qualityScoresOf(d: DataFrame): DataFrame = {
    val stop = Array("the", "a", "of", "and", "to")
    d.select(col("doc_id"), col("lang"), toks.as("toks"),
        markerCount(stop.toSeq).as("n_stopwords"), col("n_chars"))
      .select(
        col("doc_id"), col("lang"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        col("n_stopwords"),
        col("n_chars"))
      .select(
        col("doc_id"), col("lang"), col("n_tokens"), col("n_distinct"), col("n_stopwords"),
        (col("n_distinct").cast(DoubleType) / col("n_tokens")).as("diversity"),
        (col("n_stopwords").cast(DoubleType) / col("n_tokens")).as("stopword_ratio"),
        (col("n_chars").cast(DoubleType) / col("n_tokens")).as("avg_token_len"))
      .withColumn("quality",
        col("diversity") * lit(0.5) +
          when(col("stopword_ratio") > 0.02, lit(0.25)).otherwise(lit(0.0)) +
          when(col("n_tokens") >= 30, lit(0.25)).otherwise(lit(0.0)))
      .orderBy(col("doc_id"))
  }

  /** The q63 quality computation WITHOUT the presentation sort, over an
    * arbitrary docs table — quality is per-doc intrinsic (no corpus
    * state), so subsetting commutes with scoring; q204 runs it over the
    * val split alone. */
  private[operators] def qualityCoreSqlOver(docsTable: String): String =
    s"""SELECT doc_id, lang, n_tokens, n_distinct, n_stopwords,
      |  diversity, stopword_ratio, avg_token_len,
      |  diversity * 0.5
      |    + CASE WHEN stopword_ratio > 0.02 THEN 0.25 ELSE 0.0 END
      |    + CASE WHEN n_tokens >= 30 THEN 0.25 ELSE 0.0 END AS quality
      |FROM (
      |  SELECT doc_id, lang, n_tokens, n_distinct, n_stopwords,
      |    CAST(n_distinct AS DOUBLE) / n_tokens AS diversity,
      |    CAST(n_stopwords AS DOUBLE) / n_tokens AS stopword_ratio,
      |    CAST(n_chars AS DOUBLE) / n_tokens AS avg_token_len
      |  FROM (
      |    SELECT doc_id, lang, n_chars,
      |      CAST(LEN(toks) AS INT) AS n_tokens,
      |      CAST(LEN(LIST_DISTINCT(toks)) AS INT) AS n_distinct,
      |      CAST(LEN(LIST_FILTER(toks, t -> t IN ('the','a','of','and','to'))) AS INT) AS n_stopwords
      |    FROM (SELECT doc_id, lang, n_chars, STRING_SPLIT(text, ' ') AS toks
      |          FROM $docsTable) a) b) c""".stripMargin

  /** The q63 quality computation WITHOUT the presentation sort — shared
    * with the q155 canonical-selection oracle so the score the canonical
    * pick maximizes cannot drift from the score q63 certifies. */
  private[operators] val qualityCoreSql = qualityCoreSqlOver("documents")

  private val qualityScoresSql =
    s"""$qualityCoreSql
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  /** THE per-language marker sets — q64's kernel, shared with q221's
    * langid gate so the composed pipeline cannot score against a
    * different model than the standalone instrument. */
  private[operators] val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "fast", "small"),
    "de" -> Seq("merge", "window", "batch"),
    "es" -> Seq("data", "vector", "part"))

  /** The q64 argmax over already-computed score columns (deterministic
    * tie-break: en > de > es — the marker-list order). */
  private[operators] def langGuessFromScores: Column =
    when(col("score_en") >= col("score_de") && col("score_en") >= col("score_es"), "en")
      .when(col("score_de") >= col("score_es"), "de")
      .otherwise("es")

  /** Score columns for [[LangMarkers]] over an arbitrary text column. */
  private[operators] def langScoreCols(c: Column): Seq[Column] =
    LangMarkers.map { case (lang, ws) => markerCountIn(c, ws).as(s"score_$lang") }

  /** Oracle twins: token-membership scores (exactly equivalent to the
    * regex kernel — see [[markerCountIn]]) and the argmax CASE, over an
    * arbitrary text expression. */
  private[operators] def langScoreSqlCols(textExpr: String): String =
    LangMarkers.map { case (lang, ws) =>
      val set = ws.map(w => s"'$w'").mkString(",")
      s"CAST(LEN(LIST_FILTER(STRING_SPLIT($textExpr, ' '), t -> t IN ($set))) AS INT) AS score_$lang"
    }.mkString(",\n    ")

  private[operators] val langGuessCaseSql =
    """CASE WHEN score_en >= score_de AND score_en >= score_es THEN 'en'
      |       WHEN score_de >= score_es THEN 'de'
      |       ELSE 'es' END""".stripMargin

  /** Heuristic language ID (n-gram/marker-token overlap): score each doc
    * against per-language marker sets, argmax with deterministic
    * tie-break. Marker lists are illustrative (the fixture text is a
    * synthetic shared vocabulary); the *operator shape* — k scores + argmax
    * per row, no shuffle — is the production one. */
  def langIdHeuristic(spark: SparkSession, dir: String): DataFrame =
    langIdOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable, and the q221 invisibility-law
    * surface: the composed gate's guesses ≡ this over the deduped
    * corpus). Expects (doc_id, lang, text). */
  def langIdOf(d: DataFrame): DataFrame =
    d.select(Seq(col("doc_id"), col("lang").as("labeled_lang")) ++
        langScoreCols(col("text")): _*)
      .withColumn("guess", langGuessFromScores)
      .orderBy(col("doc_id"))

  private val langIdHeuristicSql =
    s"""SELECT doc_id, labeled_lang, score_en, score_de, score_es,
      |  $langGuessCaseSql AS guess
      |FROM (
      |  SELECT doc_id, lang AS labeled_lang,
      |    ${langScoreSqlCols("text")}
      |  FROM documents) b
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  /** Content fingerprinting: full-text SHA-256 plus a coarse structural
    * fingerprint (first/last token + length bucket) for blocking. */
  def fingerprints(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(
        col("doc_id"),
        sha2(col("text"), 256).as("content_sha256"),
        concat_ws("|",
          element_at(toks, 1),
          element_at(toks, -1),
          floor(length(col("text")) / 100).cast(IntegerType).cast(StringType))
          .as("structural_fp"))
      .orderBy(col("doc_id"))
  }

  private val fingerprintsSql =
    """SELECT doc_id,
      |  SHA256(text) AS content_sha256,
      |  CONCAT_WS('|', toks[1], toks[-1],
      |            CAST(CAST(FLOOR(LENGTH(text) / 100.0) AS INT) AS VARCHAR)) AS structural_fp
      |FROM (SELECT doc_id, text, STRING_SPLIT(text, ' ') AS toks FROM documents) t
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  /** Composed training-data cleaning pipeline (the end-to-end flow a
    * 100 TB corpus job runs): language gate → quality gate (diversity +
    * length) → exact dedup keep-first → per-doc token accounting. Each
    * stage is a narrow transform over the previous; the only shuffles are
    * the dedup group and the final order. */
  def cleanCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val scored = d
      .filter(col("lang").isin("en", "de", "es"))
      .withColumn("toks", toks)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("diversity",
        size(array_distinct(col("toks"))).cast(DoubleType) / col("n_tokens"))
      .filter(col("n_tokens") >= 20 && col("diversity") >= 0.3)
    // min_by hash-aggregate for the dedup stage (same rationale as
    // Dedup.dedupKeepFirst: map-side collapse, no sort keyed by full text,
    // and the shuffle key is the 32-byte content key — text is not emitted,
    // so no document body crosses the exchange)
    scored
      .groupBy(Dedup.contentKey(col("text")).as("tkey"))
      .agg(min_by(struct(col("doc_id"), col("lang"), col("n_tokens"),
        col("diversity")), col("doc_id")).as("keep"))
      .select(col("keep.doc_id").as("doc_id"), col("keep.lang").as("lang"),
        col("keep.n_tokens").as("n_tokens"),
        round(col("keep.diversity"), 6).as("diversity"))
      .orderBy(col("doc_id"))
  }

  private val cleanCorpusSql =
    """SELECT doc_id, lang, n_tokens, ROUND(diversity, 6) AS diversity FROM (
      |  SELECT doc_id, lang, text, n_tokens, diversity,
      |    ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id NULLS FIRST) AS rn
      |  FROM (
      |    SELECT doc_id, lang, text,
      |      CAST(LEN(toks) AS INT) AS n_tokens,
      |      CAST(LEN(LIST_DISTINCT(toks)) AS DOUBLE) / LEN(toks) AS diversity
      |    FROM (SELECT doc_id, lang, text, STRING_SPLIT(text, ' ') AS toks
      |          FROM documents WHERE lang IN ('en', 'de', 'es')) a) b
      |  WHERE n_tokens >= 20 AND diversity >= 0.3) c
      |WHERE rn = 1
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  /** Deterministic train/val/test assignment (the reproducible-split
    * contract every training-data pipeline needs): bucket = doc_id mod 10,
    * 8/1/1 split, summarized per (source, split). The assignment is a pure
    * narrow map — no shuffle until the summary aggregate — and the
    * modulus (not an engine hash) makes it reproducible across engines
    * and runs, which is what makes held-out sets auditable. */
  /** THE split assignment, shared with q125's leakage audit (Profiling) so
    * the audit can never drift from the split it audits: change the cut
    * here and both the summary and the audit follow, plan AND oracle. */
  private[graft] def splitAssign: Column = {
    val bucket = pmod(col("doc_id"), lit(10L))
    when(bucket < 8, "train").when(bucket === 8, "val").otherwise("test")
  }

  // ((x % 10) + 10) % 10 mirrors Spark's pmod: DuckDB's % keeps the
  // dividend's sign, which would route negative doc_ids differently
  private[operators] val splitAssignSqlCase: String =
    """CASE WHEN ((doc_id % 10) + 10) % 10 < 8 THEN 'train'
      |       WHEN ((doc_id % 10) + 10) % 10 = 8 THEN 'val' ELSE 'test' END"""
      .stripMargin

  def trainSplit(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.withColumn("split", splitAssign)
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
           sum(size(toks).cast(LongType)).as("total_tokens"))
      .orderBy(col("source"), col("split"))
  }

  private val trainSplitSql =
    s"""SELECT source,
      |  $splitAssignSqlCase AS split,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS total_tokens
      |FROM documents
      |GROUP BY 1, 2
      |ORDER BY source NULLS FIRST, split NULLS FIRST""".stripMargin

  /** Token budget per packed chunk, interpolated into the oracle SQL and
    * the spec guards so plan/oracle/test cannot drift; shard count for
    * the bounded-window variant (q69). */
  val PackBudget = 2048L
  val PackShards = 16

  /** Greedy sequence packing (sample packing for LLM training): docs are
    * laid end-to-end in doc_id order within each source and cut into
    * fixed token-budget chunks; a doc lands in the chunk where its prefix
    * sum starts. The window is a per-source ROWS running sum — parallel
    * across sources, sequential within one (q69 is the shard-bounded
    * variant that parallelizes inside a source). Integer `div` end to
    * end, so the oracle compare is exact. */
  def packSequences(spark: SparkSession, dir: String): DataFrame =
    packSequencesOf(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), size(toks).cast(LongType).as("n_tokens")),
      budget = PackBudget)

  /** DataFrame-level core (property-tested on generated token tables):
    * expects (doc_id, source, n_tokens). */
  def packSequencesOf(d: DataFrame, budget: Long): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("chunk_id", expr(s"(cum - n_tokens) div $budget"))
      .groupBy(col("source"), col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("chunk_tokens"),
           min(col("doc_id")).as("first_doc"),
           max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("chunk_id"))
  }

  /** The q68 pack as a self-contained SELECT over an arbitrary docs
    * table/text column — q127 audits the `documents` instance; q227
    * packs the CCNet-kept corpus on its `clean_text`. The inner CTE
    * names live in this nested scope only (they shadow nothing
    * outside). */
  private[operators] def packSequencesSqlOver(docsTable: String,
      textCol: String): String =
    s"""WITH d AS (SELECT doc_id, source,
      |    CAST(LEN(STRING_SPLIT($textCol, ' ')) AS BIGINT) AS n_tokens
      |  FROM $docsTable),
      |c AS (SELECT doc_id, source, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id NULLS FIRST
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM d)
      |SELECT source, CAST((cum - n_tokens) // $PackBudget AS BIGINT) AS chunk_id,
      |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS chunk_tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM c
      |GROUP BY 1, 2
      |ORDER BY source NULLS FIRST, chunk_id NULLS FIRST""".stripMargin

  // private[operators]: q127's efficiency report aggregates over THIS
  // exact packing (shared CTE = audit cannot drift from the packer)
  private[operators] val packSequencesSql =
    packSequencesSqlOver("documents", "text")

  /** Shard-bounded sequence packing (q69): the 100 TB form of q68. One
    * ROWS window per source serializes a 10 TB source through a single
    * task, so the window partitions by (source, shard = doc_id mod
    * [[PackShards]]) — each shard packs its own doc_id-ordered stream
    * independently (still deterministic: the modulus is engine-portable,
    * not an engine hash) and local chunk ids interleave as
    * `local * shards + shard`, which keeps ids disjoint across shards
    * without any cross-shard coordination. The price is up to
    * [[PackShards]] partially-filled trailing chunks per source instead
    * of one — at training scale (millions of chunks/source) that padding
    * waste is O(shards/chunks) ≈ 0. Same conservation laws as q68
    * (property-tested); integer-exact, so oracle-compared. */
  def packSequencesSharded(spark: SparkSession, dir: String): DataFrame =
    packSequencesShardedOf(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), size(toks).cast(LongType).as("n_tokens")),
      budget = PackBudget, shards = PackShards)

  /** DataFrame-level core (property-tested): expects (doc_id, source,
    * n_tokens). Equivalent to running [[packSequencesOf]] independently
    * on each doc_id-mod-shard slice and interleaving the chunk ids. */
  def packSequencesShardedOf(d: DataFrame, budget: Long, shards: Int): DataFrame = {
    val w = Window.partitionBy(col("source"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("shard", pmod(col("doc_id"), lit(shards.toLong)))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("chunk_id", expr(s"((cum - n_tokens) div $budget) * $shards + shard"))
      .groupBy(col("source"), col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("chunk_tokens"),
           min(col("doc_id")).as("first_doc"),
           max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("chunk_id"))
  }

  // ((x % S) + S) % S mirrors Spark's pmod (same trap as q67)
  private val packSequencesShardedSql =
    s"""WITH d AS (SELECT doc_id, source,
      |    ((doc_id % $PackShards) + $PackShards) % $PackShards AS shard,
      |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (SELECT doc_id, source, shard, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id NULLS FIRST
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM d)
      |SELECT source,
      |  CAST(((cum - n_tokens) // $PackBudget) * $PackShards + shard AS BIGINT) AS chunk_id,
      |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS chunk_tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM c
      |GROUP BY 1, 2
      |ORDER BY source NULLS FIRST, chunk_id NULLS FIRST""".stripMargin

  /** Constants for the round-6 operators, interpolated into both the plan
    * and the oracle SQL so they cannot drift. [[BoilerplateDfPct]] is an
    * integer percent compared as `df * 100 > n_docs * pct` — a double
    * threshold (0.77 * n_docs) is NOT representable in binary and rounds
    * differently across engines exactly at the boundary. The sample key is
    * a bounded multiplicative hash: the inner mod keeps the product under
    * 2^63 for any doc_id, so ANSI mode cannot overflow at corpus scale. */
  val BoilerplateDfPct = 77
  val SampleMod = 1000L
  val SampleModPrime = 1000003L
  val SampleMult = 2654435761L
  val SampleRates: Seq[(String, Long)] =
    Seq("en" -> 500L, "de" -> 900L, "es" -> 800L, "fr" -> 700L, "zh" -> 600L)
  val SampleDefaultRate = 250L

  /** q97 context-window defaults: 64-token chunks advancing 48 tokens per
    * step (16-token overlap) — the sliding-window pretokenization shape
    * used to cut long documents into model-context-sized training rows. */
  val ChunkTokens = 64
  val ChunkStride = 48

  /** q86: repetition signals (the Gopher-style quality heuristics used to
    * drop degenerate/boilerplate docs before training): per doc, the mass
    * of the most-frequent token, the mass of all repeated tokens, and the
    * mass of repeated 2-grams. Two-level aggregate — counts per (doc,
    * token) collapse map-side, then one keyed aggregate per doc — so the
    * shuffle carries distinct (doc, token) rows, not the raw token stream,
    * and a doc of any size streams through (no per-row token map). */
  def repetitionSignals(spark: SparkSession, dir: String): DataFrame =
    repetitionSignalsOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). Docs with a
    * single token have no 2-grams; their dup_bigram_frac is 0.0. */
  def repetitionSignalsOf(d: DataFrame): DataFrame = {
    val uni = d.select(col("doc_id"), explode(toks).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"),
           max(col("cnt")).as("top_cnt"),
           sum(when(col("cnt") >= 2, col("cnt")).otherwise(lit(0L))).as("dup_cnt"))
    // size >= 2 guard: Spark's sequence(1, 0) is the DESCENDING [1, 0],
    // not empty (DuckDB's GENERATE_SERIES(1, 0) IS empty — divergence trap)
    val bi = d.select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 1), i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))")).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bg"),
           sum(when(col("cnt") >= 2, col("cnt")).otherwise(lit(0L))).as("dup_bg"))
    uni.join(bi, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        round(col("top_cnt").cast(DoubleType) / col("n_tokens"), 6).as("top_unigram_frac"),
        round(col("dup_cnt").cast(DoubleType) / col("n_tokens"), 6).as("dup_unigram_frac"),
        coalesce(round(col("dup_bg").cast(DoubleType) / col("n_bg"), 6), lit(0.0))
          .as("dup_bigram_frac"))
      .orderBy(col("doc_id"))
  }

  private val repetitionSignalsSql =
    """WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
      |uc AS (SELECT doc_id, tok, COUNT(*) AS cnt
      |       FROM (SELECT doc_id, UNNEST(t) AS tok FROM toks) x GROUP BY 1, 2),
      |u AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens, MAX(cnt) AS top_cnt,
      |        CAST(SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS dup_cnt
      |      FROM uc GROUP BY 1),
      |bg0 AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t) - 1),
      |          i -> t[i] || ' ' || t[i+1])) AS bg
      |        FROM toks WHERE LEN(t) >= 2),
      |bc AS (SELECT doc_id, bg, COUNT(*) AS cnt FROM bg0 GROUP BY 1, 2),
      |b AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bg,
      |        CAST(SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS dup_bg
      |      FROM bc GROUP BY 1)
      |SELECT u.doc_id, n_tokens,
      |  ROUND(CAST(top_cnt AS DOUBLE) / n_tokens, 6) AS top_unigram_frac,
      |  ROUND(CAST(dup_cnt AS DOUBLE) / n_tokens, 6) AS dup_unigram_frac,
      |  COALESCE(ROUND(CAST(dup_bg AS DOUBLE) / n_bg, 6), 0.0) AS dup_bigram_frac
      |FROM u LEFT JOIN b ON u.doc_id = b.doc_id
      |ORDER BY u.doc_id NULLS FIRST""".stripMargin

  /** q87: deterministic stratified downsampling (mixture rebalancing —
    * e.g. capping an over-represented language before training). Keep a
    * doc iff its multiplicative-hash sample key falls under its language's
    * per-mille rate. A pure narrow map until the presentation sort: no
    * window, no shuffle, and the key is engine-portable arithmetic (not an
    * engine hash), so the SAME docs are kept across engines, runs, and
    * cluster sizes — what makes a sampled corpus auditable. */
  /** The engine-portable multiplicative-hash sample key shared by the
    * three samplers (q87 fixed rates, q98 uniform, q104 temperature) —
    * ONE definition plus the SQL twin below, so the kept sets stay
    * mutually auditable across the family. */
  private def sampleKey: Column =
    pmod(pmod(col("doc_id"), lit(SampleModPrime)) * lit(SampleMult), lit(SampleMod))

  // ((x % m) + m) % m mirrors Spark's pmod (q67's trap)
  private val sampleKeySqlExpr =
    s"CAST(((((doc_id % $SampleModPrime) + $SampleModPrime) % $SampleModPrime" +
      s" * $SampleMult) % $SampleMod + $SampleMod) % $SampleMod AS BIGINT)"

  /** Shared corpus pass of q98/q104: deterministic keep-filter against a
    * per-lang integer threshold table. Pinned broadcast is justified:
    * rows = distinct languages, a naturally bounded set. NULL-lang docs
    * have no mixture bucket and drop out of the inner join — same
    * semantics as the oracles' JOIN USING. */
  private def mixByThreshold(d: DataFrame, thr: DataFrame): DataFrame =
    d.withColumn("sample_key", sampleKey)
      .join(broadcast(thr), Seq("lang"))
      .filter(col("sample_key") < col("thr"))
      .select(col("doc_id"), col("lang"), col("sample_key"), col("thr"))
      .orderBy(col("doc_id"))

  /** q87's per-lang fixed keep rate as ONE shared expression (with the
    * SQL twin below) — used by the standalone sampler and q228's card so
    * the 'fixed' scheme cannot drift between them. */
  private def fixedRateCol: Column =
    SampleRates.foldRight(lit(SampleDefaultRate): Column) {
      case ((l, r), acc) => when(col("lang") === l, lit(r)).otherwise(acc)
    }

  // the CASE arms are generated from SampleRates so plan and oracle
  // share one rate table
  private val fixedRateCaseSql = {
    val arms = SampleRates.map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ")
    s"CASE lang $arms ELSE $SampleDefaultRate END"
  }

  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    stratifiedSampleOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def stratifiedSampleOf(d: DataFrame): DataFrame =
    d.withColumn("sample_key", sampleKey)
      .filter(col("sample_key") < fixedRateCol)
      .select(col("doc_id"), col("lang"), col("source"), col("sample_key"))
      .orderBy(col("doc_id"))

  // the key comes from the shared SQL twin
  private val stratifiedSampleSql =
    s"""SELECT doc_id, lang, source, sample_key FROM (
      |  SELECT doc_id, lang, source,
      |    $sampleKeySqlExpr AS sample_key
      |  FROM documents) t
      |WHERE sample_key < $fixedRateCaseSql
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  /** q88: corpus-adaptive boilerplate stripping — tokens present in more
    * than [[BoilerplateDfPct]]% of documents are corpus boilerplate
    * (data-driven stopwords); strip them from every doc, preserving the
    * order of what remains. The document-frequency table is computed from
    * distinct (doc, token) pairs (map-side collapse of within-doc
    * repeats); the stop list is corpus-vocabulary-sized, so the anti-join
    * gate carries no broadcast hint (AQE broadcasts when it is actually
    * small). Re-assembly sorts each doc's kept (pos, token) pairs — per-doc
    * memory is bounded by the doc itself, as any text transform is. */
  def stripBoilerplate(spark: SparkSession, dir: String): DataFrame =
    stripBoilerplateOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). Docs whose
    * every token is boilerplate survive with clean_text = ''. */
  def stripBoilerplateOf(d: DataFrame): DataFrame = {
    val tokd = d.select(col("doc_id"), posexplode(toks).as(Seq("pos", "tok")))
    val total = d.agg(count(lit(1)).as("n_docs"))
    val dfTab = tokd.select(col("doc_id"), col("tok")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // broadcast scalar idiom: the 1-row total joins under every df row
    val stop = dfTab.crossJoin(broadcast(total))
      .filter(col("df") * 100 > col("n_docs") * BoilerplateDfPct)
      .select(col("tok"))
    val rebuilt = tokd.join(stop, Seq("tok"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
           sort_array(collect_list(struct(col("pos"), col("tok")))).as("ps"))
      .select(col("doc_id"), col("n_kept"),
        concat_ws(" ", expr("transform(ps, s -> s.tok)")).as("clean_text"))
    d.select(col("doc_id"), size(toks).as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  private val stripBoilerplateSql =
    s"""WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
      |tok0 AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t)),
      |           i -> struct_pack(pos := i, tok := t[i]))) AS u
      |         FROM toks),
      |tok AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM tok0),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |dfq AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
      |stop AS (SELECT tok FROM dfq, n WHERE df * 100 > n_docs * $BoilerplateDfPct),
      |rb AS (SELECT doc_id, COUNT(*) AS n_kept,
      |         ARRAY_TO_STRING(LIST(tok ORDER BY pos), ' ') AS clean_text
      |       FROM tok WHERE tok NOT IN (SELECT tok FROM stop) GROUP BY doc_id)
      |SELECT d.doc_id, CAST(LEN(STRING_SPLIT(d.text, ' ')) AS INT) AS n_tokens,
      |  CAST(COALESCE(rb.n_kept, 0) AS BIGINT) AS n_kept,
      |  COALESCE(rb.clean_text, '') AS clean_text
      |FROM documents d LEFT JOIN rb ON d.doc_id = rb.doc_id
      |ORDER BY d.doc_id NULLS FIRST""".stripMargin

  /** PII redaction pattern table (q89): applied IN ORDER, counting each
    * family's matches on the text as redacted so far (emails before
    * generic digit runs, or every email's digits would double-count).
    * Patterns stay in the RE2 ∩ java.util.regex common subset — character
    * classes, bounded quantifiers, non-capturing groups, \\b — so the
    * Spark plan and the DuckDB oracle compile the same language. */
  val RedactPatterns: Seq[(String, String, String)] = Seq(
    ("n_emails", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("n_ips", "\\b(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\\.){3}" +
      "(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\\b", "<IP>"),
    ("n_phones", "\\+?[0-9][0-9()\\- ]{5,}[0-9]", "<PHONE>"),
    ("n_nums", "[0-9]{2,}", "<NUM>"))

  /** q89: PII/identifier scrubbing — the redaction gate a training corpus
    * passes before anything else sees it. Emails, IPv4s, phone-shaped
    * spans, then residual multi-digit runs are replaced with typed
    * placeholder tokens, with per-family match counts kept for audit.
    * Pure per-row codegen'd regex work (regexp_count/regexp_replace) —
    * zero shuffle until the presentation sort. Registered over
    * events.props (the fixture's only PII-bearing-shaped column — its
    * numeric ids redact as <NUM>); the suite drives the full pattern
    * family on a constructed corpus with real emails/IPs/phones. */
  def redactPii(spark: SparkSession, dir: String): DataFrame =
    redactPiiOf(Tables.events(spark, dir), "event_id", "props")

  /** DataFrame-level core (testable on constructed corpora): redacts
    * `textCol`, ordering the result by `idCol`. */
  def redactPiiOf(df: DataFrame, idCol: String, textCol: String): DataFrame =
    redactPiiUnsorted(df, idCol, textCol).orderBy(col(idCol))

  /** Unsorted redaction stages — a narrow map with no sort, so it also
    * composes into streaming ingest (`readStream → redact → sink`, the
    * gate position a production corpus runs this in; StreamingSpec
    * drives it on a MemoryStream). */
  def redactPiiUnsorted(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val start = df.select(col(idCol), col(textCol).as("s"))
    val staged = RedactPatterns.foldLeft(start) { case (acc, (cnt, pat, rep)) =>
      acc.withColumn(cnt, regexp_count(col("s"), lit(pat)))
        .withColumn("s", regexp_replace(col("s"), pat, rep))
    }
    staged.select(col(idCol) +: RedactPatterns.map(p => col(p._1))
        :+ col("s").as("redacted"): _*)
  }

  // staged CTEs generated from RedactPatterns: one stage per family, each
  // counting on the previous stage's redacted text, exactly like the plan
  private val redactPiiSql = {
    val stages = RedactPatterns.zipWithIndex.map { case ((cnt, pat, rep), i) =>
      val prevCols = RedactPatterns.take(i).map(_._1) match {
        case Nil => ""; case cs => cs.mkString("", ", ", ", ")
      }
      s"""s${i + 1} AS (SELECT event_id, $prevCols
        |  CAST(LEN(REGEXP_EXTRACT_ALL(s, '$pat')) AS INT) AS $cnt,
        |  REGEXP_REPLACE(s, '$pat', '$rep', 'g') AS s FROM s$i)""".stripMargin
    }
    val allCounts = RedactPatterns.map(_._1).mkString(", ")
    s"""WITH s0 AS (SELECT event_id, props AS s FROM events),
      |${stages.mkString(",\n")}
      |SELECT event_id, $allCounts, s AS redacted
      |FROM s${RedactPatterns.size}
      |ORDER BY event_id NULLS FIRST""".stripMargin
  }

  /** q93: unigram-LM surprisal scoring — the perplexity-style quality
    * filter of a training pipeline (score each doc by how surprising its
    * tokens are under the corpus's own unigram distribution; degenerate
    * and out-of-distribution docs land in the tails). Two shuffles at
    * corpus scale: distinct (doc, token) counts, then the per-doc
    * aggregate; the vocabulary-sized probability table rides an
    * AQE-decided broadcast back onto the counts.
    *
    * Cross-engine determinism: each token's `cnt * ln(p)` term is cast to
    * DECIMAL(38,12) BEFORE summing, so the per-doc sum is exact and
    * order-independent — a plain double sum would vary with aggregation
    * order across engines (and ln() may differ in the last ulp between
    * the JVM and DuckDB's libm; the 12-decimal cast absorbs that too). */
  def lmSurprisal(spark: SparkSession, dir: String): DataFrame =
    lmSurprisalOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def lmSurprisalOf(d: DataFrame): DataFrame = {
    val tokCnt = d.select(col("doc_id"), explode(toks).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
    val uni = tokCnt.groupBy(col("tok")).agg(sum(col("cnt")).as("tok_cnt"))
    val total = uni.agg(sum(col("tok_cnt")).as("n_total"))
    // broadcast scalar idiom: the 1-row corpus total under every vocab row
    val probs = uni.crossJoin(broadcast(total))
      .select(col("tok"),
        (col("tok_cnt").cast(DoubleType) / col("n_total")).as("p"))
    // DECIMAL(38,12): 26 integer digits. A degenerate doc can repeat a
    // rare token ~1e7+ times (cnt * ln p ≈ -1e8+), which overflows a
    // 20-digit cast — and degenerate docs are exactly what this filter
    // exists to score (ANSI mode would kill the whole query on one doc)
    val term = (col("cnt").cast(DoubleType) * log(col("p")))
      .cast(DecimalType(38, 12))
    tokCnt.join(probs, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"), sum(term).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        round(-col("s").cast(DoubleType) / col("n_tokens"), 6)
          .as("avg_surprisal_nats"))
      .orderBy(col("doc_id"))
  }

  // package-visible: q119's curriculum oracle embeds this as its CTE so
  // the surprisal definition cannot drift between the two queries
  private[operators] val lmSurprisalSql =
    """WITH tc AS (SELECT doc_id, tok, COUNT(*) AS cnt
      |            FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok
      |                  FROM documents) x GROUP BY 1, 2),
      |uni AS (SELECT tok, CAST(SUM(cnt) AS BIGINT) AS tok_cnt FROM tc GROUP BY 1),
      |tot AS (SELECT CAST(SUM(tok_cnt) AS BIGINT) AS n_total FROM uni),
      |p AS (SELECT tok, CAST(tok_cnt AS DOUBLE) / n_total AS p FROM uni, tot)
      |SELECT tc.doc_id, CAST(SUM(tc.cnt) AS BIGINT) AS n_tokens,
      |  ROUND(-CAST(SUM(CAST(tc.cnt * LN(p.p) AS DECIMAL(38,12))) AS DOUBLE)
      |        / SUM(tc.cnt), 6) AS avg_surprisal_nats
      |FROM tc JOIN p ON tc.tok = p.tok
      |GROUP BY tc.doc_id
      |ORDER BY tc.doc_id NULLS FIRST""".stripMargin

  /** q94: TF-IDF top terms per document — the standard salient-term
    * extraction over a corpus (tf = within-doc count, idf = ln(N/df)).
    * Same two-shuffle shape as q93; ranking happens on the ROUNDED score
    * with the token as tiebreak, so the emitted top-3 is deterministic
    * across engines even where scores tie or differ by an ulp. */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame =
    tfidfTopTermsOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def tfidfTopTermsOf(d: DataFrame): DataFrame = {
    val tokCnt = d.select(col("doc_id"), explode(toks).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    val dfTab = tokCnt.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val idf = dfTab.crossJoin(broadcast(nDocs))
      .select(col("tok"),
        log(col("n_docs").cast(DoubleType) / col("df")).as("idf"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("tok"))
    tokCnt.join(idf, Seq("tok"))
      .select(col("doc_id"), col("tok"),
        round(col("cnt") * col("idf"), 6).as("tfidf"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("tok"), col("tfidf"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  private val tfidfTopTermsSql =
    """WITH tc AS (SELECT doc_id, tok, COUNT(*) AS cnt
      |            FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok
      |                  FROM documents) x GROUP BY 1, 2),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |idf AS (SELECT tok, LN(CAST(n_docs AS DOUBLE) / COUNT(*)) AS idf
      |        FROM tc, n GROUP BY tok, n_docs),
      |scored AS (SELECT tc.doc_id, tc.tok,
      |             ROUND(tc.cnt * idf.idf, 6) AS tfidf,
      |             CAST(ROW_NUMBER() OVER (PARTITION BY tc.doc_id
      |               ORDER BY ROUND(tc.cnt * idf.idf, 6) DESC, tc.tok) AS INT) AS rnk
      |           FROM tc JOIN idf ON tc.tok = idf.tok)
      |SELECT doc_id, rnk, tok, tfidf FROM scored
      |WHERE rnk <= 3
      |ORDER BY doc_id NULLS FIRST, rnk""".stripMargin

  // ---------------------------------------------------------------------
  // q183: BM25 ranked retrieval
  // ---------------------------------------------------------------------

  /** BM25 free parameters (Robertson et al., TREC-3 defaults). */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** q183 fixed query — terms a curation analyst actually greps a data
    * corpus for; all three occur broadly in the fixture vocabulary
    * (df ≈ 380-415 of 500 docs at sf0.01), so idf stays small-positive
    * and the ranking exercises the tf/length saturation term, not a
    * degenerate rare-term shortcut. */
  val Bm25QueryTerms = Seq("join", "query", "window")

  /** q183: BM25 ranked retrieval — the keyword-search complement to
    * q151's embedding RAG retrieval (hybrid search runs both and fuses).
    * Standard Okapi BM25: idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1),
    * tf saturation k1 = [[Bm25K1]], length normalization b = [[Bm25B]]
    * against the corpus mean document length. Top-20 by score with
    * doc_id as the deterministic tiebreak; per-term contributions are
    * rounded to 6 dp and summed as DECIMAL so aggregation order cannot
    * move a score across the rank boundary.
    *
    * Scale posture: the corpus is scanned twice, both passes narrow —
    * once for (n_docs, avgdl), once tokenizing with the query-term
    * filter applied INSIDE the explode pass, so only matching (doc,
    * term) rows survive to the shuffle (|terms| ≤ a handful → the
    * shuffled table is bounded by docs×terms hits, never tokens). Both
    * model tables (per-term df, corpus stats) are broadcast; the final
    * top-20 is TakeOrderedAndProject, never a global sort. At 100 TB a
    * standing search service would persist the (doc, term, tf) posting
    * table once (the ArtifactStore pattern) and pay only the
    * score-and-rank tail per query. */
  def bm25Rank(spark: SparkSession, dir: String): DataFrame =
    bm25RankOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable terms/corpus). */
  def bm25RankOf(d: DataFrame, terms: Seq[String] = Bm25QueryTerms,
      topK: Int = 20): DataFrame = {
    val base = d.select(col("doc_id"), toks.as("tk"))
    val stats = base.agg(count(lit(1)).as("n_docs"),
      avg(size(col("tk"))).as("avgdl"))
    val tf = base
      .select(col("doc_id"), size(col("tk")).as("dl"), explode(col("tk")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    bm25ScoreTail(tf, dfq, stats, topK)
  }

  /** The scoring tail from a (doc_id, dl, tok, tf) posting set, its
    * per-term df, and the (n_docs, avgdl) corpus stats — ONE definition
    * shared by q183 (postings derived in-plan) and q186 (postings read
    * from the persisted artifact), so the two forms cannot drift by a
    * rounding grammar. */
  private def bm25ScoreTail(tf: DataFrame, dfq: DataFrame, stats: DataFrame,
      topK: Int): DataFrame =
    tf.join(broadcast(dfq), Seq("tok"))
      .crossJoin(broadcast(stats))
      .withColumn("contrib", round(
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * (lit(Bm25K1) + 1)) /
          (col("tf") + lit(Bm25K1) *
            (lit(1) - lit(Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))), 6))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"),
        round(sum(col("contrib").cast(DecimalType(38, 6))).cast(DoubleType), 6)
          .as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
      .select(col("doc_id"), col("n_terms_hit"), col("score"))

  /** Tables of the persisted BM25 posting artifact: the full
    * (doc_id, dl, tok, tf) posting table, the per-term document
    * frequency, and the (n_docs, avgdl) corpus stats. */
  private val Bm25Tables = Seq("postings", "term_df", "stats")

  /** Build-once half of q186: persist the posting artifact for `dir`
    * unless a signature-valid one exists (ArtifactStore's rule). The
    * posting table is the corpus pass every BM25 query otherwise re-pays:
    * one tokenize + explode + (doc, term) count over ALL terms (the
    * artifact serves ANY query, not just q183's fixed one). */
  def ensureBm25Index(spark: SparkSession, dir: String): String =
    graft.sources.ArtifactStore.ensure("bm25", dir, Bm25Tables) { b =>
      val base = Tables.documents(spark, dir).select(col("doc_id"), toks.as("tk"))
      base.select(col("doc_id"), size(col("tk")).as("dl"),
          explode(col("tk")).as("tok"))
        .groupBy(col("doc_id"), col("dl"), col("tok"))
        .agg(count(lit(1)).as("tf"))
        .write.mode("overwrite").parquet(s"$b/postings")
      spark.read.parquet(s"$b/postings")
        .groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(s"$b/term_df")
      base.agg(count(lit(1)).as("n_docs"), avg(size(col("tk"))).as("avgdl"))
        .write.mode("overwrite").parquet(s"$b/stats")
    }

  /** q186: BM25 ranked retrieval against the PERSISTED posting artifact —
    * the standing-search-service shape q183's own scale note promises:
    * the corpus-sized tokenize/explode is paid ONCE by the artifact
    * build; the per-query tail is a term-predicate-pushed posting scan
    * (the `tok IN (...)` filter reaches the parquet reader), a broadcast
    * join against the (tiny) term-df rows, the broadcast corpus stats,
    * and the TakeOrdered top-20 — bit-equal to q183 by the shared
    * [[bm25ScoreTail]], which is why the oracle is q183's SQL VERBATIM
    * (the q153≡q138 / q180≡q136 invisibility precedent: a posting index
    * must be invisible to searchers). */
  def bm25IndexedRank(spark: SparkSession, dir: String): DataFrame = {
    val b = ensureBm25Index(spark, dir)
    val terms = Bm25QueryTerms
    val tf = spark.read.parquet(s"$b/postings").filter(col("tok").isin(terms: _*))
    val dfq = spark.read.parquet(s"$b/term_df").filter(col("tok").isin(terms: _*))
    val stats = spark.read.parquet(s"$b/stats")
    bm25ScoreTail(tf, dfq, stats, topK = 20)
  }

  /** Which documents arrive AFTER the base posting index was built:
    * doc_id ≡ 0 (mod 5) — the q135/q176 split convention (a fixed
    * modulus keeps the split engine-portable for the oracle). */
  val Bm25DeltaMod = 5L

  /** Build-once half of q190: the posting artifact over the mod-split
    * BASE corpus. Unlike q186's full-corpus artifact, the stats table
    * stores EXACT integers (n_docs, sum_dl) instead of a pre-divided
    * avgdl, so an append can recombine corpus statistics by integer
    * addition and pay exactly ONE double division — bit-identical to an
    * independent engine's AVG over the union corpus (token sums stay
    * below 2⁵³, so the arithmetic is exact at any realistic scale). */
  def ensureBm25Base(spark: SparkSession, dir: String): String =
    graft.sources.ArtifactStore.ensure("bm25base", dir, Bm25Tables) { b =>
      val base = Tables.documents(spark, dir)
        .filter(pmod(col("doc_id"), lit(Bm25DeltaMod)) =!= 0)
        .select(col("doc_id"), toks.as("tk"))
      base.select(col("doc_id"), size(col("tk")).as("dl"),
          explode(col("tk")).as("tok"))
        .groupBy(col("doc_id"), col("dl"), col("tok"))
        .agg(count(lit(1)).as("tf"))
        .write.mode("overwrite").parquet(s"$b/postings")
      spark.read.parquet(s"$b/postings")
        .groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(s"$b/term_df")
      base.agg(count(lit(1)).as("n_docs"),
          sum(size(col("tk")).cast(LongType)).as("sum_dl"))
        .write.mode("overwrite").parquet(s"$b/stats")
    }

  /** q190: BM25 over base index ∪ delta batch — the append half of the
    * posting-artifact lifecycle (q186 built it; this is what a standing
    * search service does when documents KEEP ARRIVING: serve fresh
    * results without rebuilding the corpus-sized posting table). The
    * base side is q186's term-pushed posting scan; the delta batch pays
    * its own tokenize (batch-bounded, term-filtered inside the explode);
    * per-term df merges by integer addition; corpus stats recombine from
    * the base's exact (n_docs, sum_dl) plus the delta's — one double
    * division at the end, so the merged avgdl is bit-equal to a fresh
    * full-corpus computation and the oracle is q183's SQL VERBATIM on
    * the whole corpus (the q153≡q138 / q180≡q136 / q186≡q183
    * invisibility law, now for APPENDS: fresh documents must be
    * scoreable, and scored identically to a full rebuild).
    *
    * Scale posture: nothing corpus-sized moves — the base appears only
    * as the pushed-predicate posting scan and two broadcast-sized stat
    * tables; everything else is ∝ the delta batch. Disjointness of the
    * mod split means the posting union never needs a merge-dedup. */
  def bm25AppendedRank(spark: SparkSession, dir: String): DataFrame = {
    val b = ensureBm25Base(spark, dir)
    bm25AppendedRankAgainst(
      spark.read.parquet(s"$b/postings"),
      spark.read.parquet(s"$b/term_df"),
      spark.read.parquet(s"$b/stats"),
      Tables.documents(spark, dir)
        .filter(pmod(col("doc_id"), lit(Bm25DeltaMod)) === 0)
        .select(col("doc_id"), col("text")))
  }

  /** The append-rank kernel against a frozen base index — `basePostings`
    * = (doc_id, dl, tok, tf), `baseTermDf` = (tok, df), `baseStats` =
    * exact (n_docs, sum_dl), `delta` = (doc_id, text) of docs the index
    * has not seen. private[graft]: the streaming live twin drives it
    * with the arrived-doc set GROWING between micro-batches. */
  private[graft] def bm25AppendedRankAgainst(basePostings: DataFrame,
      baseTermDf: DataFrame, baseStats: DataFrame, delta: DataFrame): DataFrame = {
    val terms = Bm25QueryTerms
    val dtk = delta.select(col("doc_id"), toks.as("tk"))
    val dtf = dtk
      .select(col("doc_id"), size(col("tk")).as("dl"), explode(col("tk")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val tf = basePostings
      .filter(col("tok").isin(terms: _*))
      .unionByName(dtf)
    val dfq = baseTermDf
      .filter(col("tok").isin(terms: _*))
      .unionByName(dtf.groupBy(col("tok")).agg(count(lit(1)).as("df")))
      .groupBy(col("tok")).agg(sum(col("df")).as("df"))
    val dstat = dtk.agg(count(lit(1)).as("dn"),
      sum(size(col("tk")).cast(LongType)).as("dsum"))
    val stats = baseStats
      .select(col("n_docs").as("bn"), col("sum_dl").as("bsum"))
      .crossJoin(broadcast(dstat))
      .select((col("bn") + col("dn")).as("n_docs"),
        ((col("bsum") + coalesce(col("dsum"), lit(0L))).cast(DoubleType)
          / (col("bn") + col("dn"))).as("avgdl"))
    bm25ScoreTail(tf, dfq, stats, topK = 20)
  }

  // ---------------------------------------------------------------------
  // q194: per-doc TF-IDF keywords served from the posting artifact
  // ---------------------------------------------------------------------

  /** q194: q94's per-doc TF-IDF top-3 keywords, served from the
    * PERSISTED posting artifact instead of an in-plan tokenize — the
    * keyword-extraction member of the invisibility-law family
    * (q186≡q183, q153≡q138, q180≡q136): it answers q94's oracle
    * VERBATIM, because an index must be invisible to consumers. The
    * artifact enables two plan upgrades over q94's direct form. (1) The
    * corpus-sized tokenize/explode/(doc,term) count is the build's,
    * paid once per fixture; this query starts from a column-pruned
    * (doc_id, tok, tf) parquet scan. (2) The per-doc top-3 runs through
    * the GroupTopK whole-operator (partial per-group heaps BEFORE the
    * exchange — q143/q147's exec pair) instead of a full window sort,
    * so at most 3 rows per doc cross the shuffle; the rank column is
    * re-derived afterwards by a window over those ≤3-row groups,
    * bounded by k, never by document length.
    *
    * Scale posture: posting scan + one vocab-keyed equi-join for idf
    * (no broadcast hint — the vocab is fixture-tiny here but ~1e7 rows
    * at 100 TB, AQE decides) + map-combined GroupTopK. */
  def tfidfFromArtifact(spark: SparkSession, dir: String): DataFrame = {
    val b = ensureBm25Index(spark, dir)
    tfidfTailProbe(spark.read.parquet(s"$b/postings"),
      spark.read.parquet(s"$b/term_df"),
      spark.read.parquet(s"$b/stats"))
  }

  /** The keyword tail over (doc_id, dl, tok, tf) postings, their
    * per-term df and the (n_docs, avgdl) corpus stats: q194 passes the
    * persisted BM25 artifact's three tables. */
  private[graft] def tfidfTailProbe(rawPostings: DataFrame,
      termDf: DataFrame, stats: DataFrame): DataFrame = {
    val postings = rawPostings
      .select(col("doc_id"), col("tok"), col("tf").as("cnt"))
    val idf = termDf
      .crossJoin(broadcast(stats.select(col("n_docs"))))
      .select(col("tok"),
        log(col("n_docs").cast(DoubleType) / col("df")).as("idf"))
    val scored = postings.join(idf, Seq("tok"))
      .select(col("doc_id"), col("tok"),
        round(col("cnt") * col("idf"), 6).as("tfidf"))
    val top = graft.plans.GroupTopK.topKPerKey(scored, Seq("doc_id"),
      Seq(graft.plans.GroupTopK.Key("tfidf", desc = true),
        graft.plans.GroupTopK.Key("tok")), 3)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("tok"))
    top.withColumn("rnk", row_number().over(w))
      .select(col("doc_id"), col("rnk"), col("tok"), col("tfidf"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  // ---------------------------------------------------------------------
  // q195: PMI collocations (skip-window co-occurrence)
  // ---------------------------------------------------------------------

  /** Forward co-occurrence window: pairs at token distances 1..W — the
    * word2vec/GloVe preprocessing statistic. */
  val PmiWindow = 2
  /** Pair-count floor: PMI of rare pairs is dominated by noise (Church &
    * Hanks' original caveat), and the floor keeps the ranked tail
    * stable. */
  val PmiMinCount = 5L
  val PmiTopPairs = 100

  /** q195: top collocations by pointwise mutual information — for each
    * ordered token pair co-occurring within [[PmiWindow]] forward
    * positions, PMI = ln(p(w1,w2) / (p(w1)·p(w2))) with pair probability
    * over the total co-occurrence count and unigram probabilities over
    * the total token count; pairs below [[PmiMinCount]] dropped; top
    * [[PmiTopPairs]] emitted. This is the corpus-statistics pass an
    * embedding-training pipeline runs to build co-occurrence tables and
    * a curation pipeline runs to spot boilerplate collocations; distinct
    * from q103's bigram surprisal (conditional −ln p(w2|w1), adjacent
    * only) — PMI is symmetric-normalized and skip-windowed.
    *
    * Scale posture: pair generation is slice+zip_with on the token
    * array — per-row, codegen'd, NO window and NO per-doc shuffle (a
    * lead(k) formulation would shuffle the exploded corpus by doc_id);
    * the only shuffles are the (w1,w2) and unigram aggregates and two
    * vocab-keyed joins (AQE decides broadcast; at 100 TB a vocab is
    * ~1e7 rows). The pair explode feeds straight into a partial-agg
    * groupBy, so the unaggregated pair stream never materializes. */
  def pmiCollocations(spark: SparkSession, dir: String): DataFrame =
    pmiCollocationsOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def pmiCollocationsOf(d: DataFrame): DataFrame = {
    def pairsAt(k: Int): Column = {
      val len = greatest(size(col("t")) - k, lit(0))
      zip_with(slice(col("t"), lit(1), len), slice(col("t"), lit(k + 1), len),
        (a, b) => struct(a.as("w1"), b.as("w2")))
    }
    val pr = d.select(toks.as("t"))
      .select(explode(flatten(array((1 to PmiWindow).map(pairsAt): _*))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val pc0 = pr.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
    val uni = d.select(explode(toks).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
    val tt = uni.agg(sum(col("n")).as("tt"))
    val tp = pc0.agg(sum(col("n_pair")).as("tp"))
    pc0.filter(col("n_pair") >= PmiMinCount)
      .join(uni.select(col("tok").as("w1"), col("n").as("n1")), Seq("w1"))
      .join(uni.select(col("tok").as("w2"), col("n").as("n2")), Seq("w2"))
      .crossJoin(broadcast(tt)).crossJoin(broadcast(tp))
      .select(col("w1"), col("w2"), col("n_pair"),
        round(log(col("n_pair").cast(DoubleType) * col("tt") * col("tt")
          / (col("tp").cast(DoubleType) * col("n1") * col("n2"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(PmiTopPairs)
  }

  /** Oracle: the identical statistic with pair generation via lateral
    * GENERATE_SERIES indexing (GENERATE_SERIES(1, n) is EMPTY for n < 1
    * in DuckDB, so short docs contribute nothing — matching the
    * zero-length slice on the Spark side). */
  private val pmiCollocationsSql =
    s"""WITH tarr AS (SELECT STRING_SPLIT(text, ' ') AS t FROM documents),
      |pr AS (SELECT t[u.i] AS w1, t[u.i + k.k] AS w2
      |       FROM tarr,
      |            UNNEST(GENERATE_SERIES(1, $PmiWindow)) AS k(k),
      |            UNNEST(GENERATE_SERIES(1, LEN(t) - k.k)) AS u(i)),
      |pc0 AS (SELECT w1, w2, COUNT(*) AS n_pair FROM pr GROUP BY 1, 2),
      |uni AS (SELECT tok, COUNT(*) AS n
      |        FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tok
      |              FROM documents) x GROUP BY 1),
      |tot AS (SELECT (SELECT CAST(SUM(n) AS BIGINT) FROM uni) AS tt,
      |               (SELECT CAST(SUM(n_pair) AS BIGINT) FROM pc0) AS tp)
      |SELECT p.w1, p.w2, p.n_pair,
      |  ROUND(LN(CAST(p.n_pair AS DOUBLE) * tt * tt
      |    / (CAST(tp AS DOUBLE) * u1.n * u2.n)), 6) AS pmi
      |FROM pc0 p
      |JOIN uni u1 ON p.w1 = u1.tok
      |JOIN uni u2 ON p.w2 = u2.tok, tot
      |WHERE p.n_pair >= $PmiMinCount
      |ORDER BY pmi DESC, w1 NULLS FIRST, w2 NULLS FIRST
      |LIMIT $PmiTopPairs""".stripMargin

  /** The BM25 scoring CTE chain (tf → st → dfq → sc, per-(doc, term)
    * contributions over `documents`) — shared VERBATIM between the q183
    * oracle and q184's hybrid-fusion oracle so the sparse side of the
    * fused ranking replays the exact q183 definition. */
  // lazy (as is bm25RankSql below): the literal-safety require must not
  // run during TextOps object init, where it would surface as an opaque
  // ExceptionInInitializerError taking down every TextOps query (ADVICE
  // r12). Laziness only DEFERS the failure to the first SQL consumer
  // (Similarity's fusion oracles force it on their own object init);
  // the guaranteed clear-message gate is SemanticsSpec's dedicated
  // term-validation test, which forces this val directly.
  private[graft] lazy val bm25Ctes = {
    // the terms are interpolated into SQL string literals: refuse any
    // term that could escape the literal (quote, backslash, whitespace)
    // rather than silently diverging the oracle twin (ADVICE r11)
    val terms = Bm25QueryTerms.map { t =>
      require(t.matches("[a-z0-9_]+"), s"BM25 term not SQL-literal-safe: '$t'")
      s"'$t'"
    }.mkString(", ")
    s"""tf AS (SELECT doc_id, dl, tok, COUNT(*) AS tf
      |            FROM (SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS dl,
      |                    UNNEST(STRING_SPLIT(text, ' ')) AS tok
      |                  FROM documents) x
      |            WHERE tok IN ($terms) GROUP BY 1, 2, 3),
      |st AS (SELECT COUNT(*) AS n_docs,
      |         AVG(LEN(STRING_SPLIT(text, ' '))) AS avgdl FROM documents),
      |dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
      |sc AS (SELECT tf.doc_id,
      |         -- CASTs force double arithmetic: DuckDB would otherwise run
      |         -- (n_docs-df+0.5)/(df+0.5) as a DECIMAL division and tf*2.2
      |         -- as exact decimal, both off the engine's double grammar
      |         ROUND(LN((CAST(n_docs - df AS DOUBLE) + 0.5) / (df + 0.5) + 1.0) *
      |           (CAST(tf AS DOUBLE) * ($Bm25K1 + 1)) /
      |           (tf + $Bm25K1 * (1 - $Bm25B + $Bm25B * dl / avgdl)), 6) AS contrib
      |       FROM tf JOIN dfq USING (tok), st)""".stripMargin
  }

  private lazy val bm25RankSql =
    s"""WITH $bm25Ctes
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
      |  ROUND(CAST(SUM(CAST(contrib AS DECIMAL(38, 6))) AS DOUBLE), 6) AS score
      |FROM sc GROUP BY doc_id
      |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** q97: sliding-window document chunking — cut each document's token
    * stream into [[ChunkTokens]]-token windows advancing [[ChunkStride]]
    * tokens per step (the context-length preparation step between
    * cleaning and packing in a pretraining pipeline; q68 packs SHORT docs
    * up to a budget, this splits LONG docs down to one). A pure narrow
    * map + explode until the presentation sort: chunk starts come from a
    * per-row `sequence`, the window itself is an array `slice` — no
    * shuffle, no join, no aggregate, so at 100 TB this is scan-bound and
    * embarrassingly parallel. Chunk ids are derived from the start offset
    * (integer arithmetic, engine-portable), and the trailing chunk is
    * kept short rather than padded — conservation (every token appears in
    * ≥1 chunk; stride < chunk ⇒ overlap is exactly chunk − stride except
    * at the tail) is property-tested in SemanticsSpec. */
  def chunkDocuments(spark: SparkSession, dir: String): DataFrame =
    chunkDocumentsOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable chunk/stride). `sequence(1, n, step)`
    * is never empty for n ≥ 1, and `split` yields at least [""] — so every
    * doc emits ≥1 chunk in both engines (no empty-list divergence). */
  def chunkDocumentsOf(d: DataFrame, chunk: Int = ChunkTokens,
      stride: Int = ChunkStride): DataFrame = {
    // stride > chunk would skip tokens between windows, violating the
    // documented conservation invariant — refuse instead of silently drop
    require(chunk >= 1 && stride >= 1 && stride <= chunk,
      s"bad chunk/stride: $chunk/$stride (need 1 <= stride <= chunk)")
    d.select(col("doc_id"), toks.as("t"))
      .withColumn("n", size(col("t")))
      .select(col("doc_id"), col("t"), col("n"),
        explode(expr(s"sequence(1, n, $stride)")).as("start"))
      .select(
        col("doc_id"),
        expr(s"(start - 1) div $stride").cast(LongType).as("chunk_id"),
        least(lit(chunk), col("n") - col("start") + 1).cast(LongType)
          .as("chunk_len"),
        array_join(slice(col("t"), col("start"), lit(chunk)), " ")
          .as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  // DuckDB list slices are 1-based inclusive like Spark's slice(start,
  // length) window; both clamp past the end, so the tail chunk agrees
  private val chunkDocumentsSql =
    s"""WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
      |s AS (SELECT doc_id, t, LEN(t) AS n FROM toks),
      |c AS (SELECT doc_id, t, n,
      |        UNNEST(GENERATE_SERIES(1, n, $ChunkStride)) AS start
      |      FROM s)
      |SELECT doc_id,
      |  CAST((start - 1) // $ChunkStride AS BIGINT) AS chunk_id,
      |  CAST(LEAST($ChunkTokens, n - start + 1) AS BIGINT) AS chunk_len,
      |  ARRAY_TO_STRING(t[start : start + ${ChunkTokens - 1}], ' ') AS chunk_text
      |FROM c
      |ORDER BY doc_id NULLS FIRST, chunk_id""".stripMargin

  /** q98: data-driven mixture rebalancing — downsample every language to
    * the size of the SMALLEST one (uniform target mixture), with the
    * keep-rate COMPUTED from the corpus rather than fixed up front (q87
    * is the fixed-rate form). The per-lang keep threshold is integer
    * arithmetic — `(SampleMod * min_cnt) div cnt` — so plan and oracle
    * agree exactly at every boundary, and the same multiplicative-hash
    * sample key as q87 makes the kept set auditable across engines, runs,
    * and cluster sizes. Shape at 100 TB: one map-side-collapsible count
    * per lang (output rows = #languages, inherently bounded), a broadcast
    * scalar for the min, then the corpus passes ONCE through a broadcast
    * join + narrow filter — no shuffle of the data itself. */
  def mixToUniform(spark: SparkSession, dir: String): DataFrame =
    mixToUniformOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). NULL-lang
    * docs have no mixture bucket and are dropped by the inner join —
    * same semantics in the oracle's JOIN USING. */
  def mixToUniformOf(d: DataFrame): DataFrame = {
    val counts = langCounts(d)
    mixByThreshold(d, uniformThrOf(counts))
  }

  /** Per-lang census, shared by the q98/q104 threshold builders and
    * q228's card (one definition so the mixture family shares one
    * population notion; the NULL-lang group is a row like any other). */
  private def langCounts(d: DataFrame): DataFrame =
    d.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))

  /** q98's flattening threshold table (lang, cnt, thr) — and its q104
    * temperature twin below — factored so the standalone samplers and
    * q228's card derive thresholds from ONE expression each (with the
    * SQL fragments as oracle twins). Broadcast scalar idiom: the 1-row
    * min joins under every lang row. */
  private def uniformThrOf(counts: DataFrame): DataFrame =
    counts.crossJoin(broadcast(counts.agg(min(col("cnt")).as("min_cnt"))))
      .select(col("lang"), col("cnt"),
        expr(uniformThrExpr).cast(LongType).as("thr"))

  private def temperatureThrOf(counts: DataFrame): DataFrame =
    counts.crossJoin(broadcast(counts.agg(min(col("cnt")).as("min_cnt"))))
      .select(col("lang"), col("cnt"),
        expr(temperatureThrExpr).cast(LongType).as("thr"))

  // Spark-side formulas (interpolated constants match the SQL twins)
  private val uniformThrExpr = s"($SampleMod * min_cnt) div cnt"
  private val temperatureThrExpr =
    s"CAST(floor($SampleMod * sqrt(CAST(min_cnt AS DOUBLE) / cnt)) AS BIGINT)"
  // DuckDB twins (// is DuckDB's integer division)
  private val uniformThrSqlExpr =
    s"CAST(($SampleMod * min_cnt) // cnt AS BIGINT)"
  private val temperatureThrSqlExpr =
    s"CAST(FLOOR($SampleMod * SQRT(CAST(min_cnt AS DOUBLE) / cnt)) AS BIGINT)"

  private val mixToUniformSql =
    s"""WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY 1),
      |m AS (SELECT MIN(cnt) AS min_cnt FROM c),
      |t AS (SELECT lang, $uniformThrSqlExpr AS thr
      |      FROM c, m),
      |k AS (SELECT doc_id, lang, $sampleKeySqlExpr AS sample_key
      |      FROM documents)
      |SELECT k.doc_id, k.lang, k.sample_key, t.thr
      |FROM k JOIN t USING (lang)
      |WHERE k.sample_key < t.thr
      |ORDER BY k.doc_id NULLS FIRST""".stripMargin

  /** The ONE adjacent-pair construction over a token array column `t`,
    * shared by q102/q103/q110/q207's raw-split pairs AND q205's
    * mid-training recount — a single definition so the pair stream
    * cannot drift between the candidate counters and the trainer. */
  private val adjacentPairExpr =
    "transform(sequence(1, size(t) - 1), " +
      "i -> struct(element_at(t, i) AS l, element_at(t, i + 1) AS r))"

  /** Adjacent-token pairs per row, exploded to struct(l, r). Every
    * caller MUST keep the size >= 2 guard below: Spark's sequence(1, 0)
    * is the DESCENDING [1, 0], not empty (DuckDB's GENERATE_SERIES(1, 0)
    * IS empty — q86's divergence trap). */
  private def adjacentPairs(d: DataFrame, carryDocId: Boolean): DataFrame = {
    val base =
      if (carryDocId) d.select(col("doc_id"), toks.as("t"))
      else d.select(toks.as("t"))
    val exploded = base.filter(size(col("t")) >= 2)
      .withColumn("p", explode(expr(adjacentPairExpr)))
    val cols = (if (carryDocId) Seq(col("doc_id")) else Nil) ++
      Seq(col("p.l").as("l"), col("p.r").as("r"))
    exploded.select(cols: _*)
  }

  /** q102: BPE-style merge candidates — corpus-wide adjacent-token-pair
    * frequencies, top 20 (the pair-selection step of one
    * byte-pair-encoding merge round: the highest-count adjacent pair
    * becomes the next vocabulary merge). q86 measures WITHIN-doc bigram
    * repetition per doc; this aggregates the pair distribution ACROSS
    * the corpus — the tokenizer-training view of the same stream. Rank
    * ties break on the pair text so the emitted top-k is deterministic.
    *
    * Scale posture: per-row pair explode (narrow, codegen'd) → one keyed
    * count whose partials collapse map-side to the pair vocabulary →
    * TakeOrderedAndProject for the top-k (no global sort). */
  def bpeMergeCandidates(spark: SparkSession, dir: String): DataFrame =
    bpeMergeCandidatesOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def bpeMergeCandidatesOf(d: DataFrame): DataFrame =
    adjacentPairs(d, carryDocId = false)
      .groupBy(col("l").as("left_tok"), col("r").as("right_tok"))
      .agg(count(lit(1)).as("pair_cnt"))
      .orderBy(col("pair_cnt").desc, col("left_tok"), col("right_tok"))
      .limit(20)

  private val bpeMergeCandidatesSql =
    """WITH toks AS (SELECT STRING_SPLIT(text, ' ') AS t FROM documents),
      |p AS (SELECT UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t) - 1),
      |        i -> {'l': t[i], 'r': t[i+1]})) AS p
      |      FROM toks WHERE LEN(t) >= 2)
      |SELECT p.l AS left_tok, p.r AS right_tok, COUNT(*) AS pair_cnt
      |FROM p
      |GROUP BY 1, 2
      |ORDER BY pair_cnt DESC NULLS LAST, left_tok NULLS FIRST,
      |  right_tok NULLS FIRST
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // q205/q209: iterative BPE tokenizer training (merge table + vocab)
  // ---------------------------------------------------------------------

  /** Unrolled merge rounds for q205/q209. Fixed and interpolated into
    * the oracle (one CTE block per round — the q202 unrolled-iteration
    * discipline); 6 rounds is enough to exercise every regime the
    * trainer has (argmax re-selection, merged symbols re-entering later
    * pairs, vocabulary growth then shrink) while keeping the per-round
    * corpus passes bounded. */
  val BpeMergeRounds = 6

  /** Adjacent-pair counts over an explicit (doc_id, t) sequence table —
    * q102's pair explode re-aimed at mid-training sequences (round 1 on
    * the raw split IS q102's count table). Map-side-combining keyed
    * aggregate; no window anywhere in the recount. */
  private def bpePairCounts(seq: DataFrame): DataFrame =
    seq.filter(size(col("t")) >= 2)
      .withColumn("p", explode(expr(adjacentPairExpr)))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(count(lit(1)).as("pair_cnt"))

  /** The iterative BPE trainer (Sennrich et al., ACL 2016, over graft's
    * whitespace-token stream): for each of `rounds` rounds, count
    * adjacent pairs, take the argmax (count desc, then pair text — a
    * full total order, so the learned table is deterministic), apply it
    * greedily left-to-right with [[graft.functions.BpeMerge]], and
    * recount. Returns the ordered merge rows
    * (round, l, r, merged, pair_cnt, vocab_size-after) plus the final
    * sequence table; stops early only when no adjacent pair exists at
    * all (every doc below 2 tokens).
    *
    * Dataflow per round — the q202 training-loop contract: one pair
    * explode into a map-side-combined vocabulary-sized aggregate, a
    * TakeOrderedAndProject argmax of which ONE ROW reaches the driver
    * (the model — the only driver state, 3 strings + 2 longs per
    * round), one pure-map merge application (the codegen'd
    * `graft_bpe_merge` kernel — no explode, no shuffle, no window), and
    * one distinct-token count. [[graft.functions.ScopedCache.iterate]]
    * truncates lineage each round (the q77/q100 iterative-state pattern)
    * so round R's plan never re-derives rounds 1..R−1; a superseded
    * generation releases its blocks eagerly, and a failed round releases
    * the live one. At 100 TB each round is two corpus scans
    * (recount + re-apply) — embarrassingly scalable; a production run
    * would also write each round's sequences to the artifact store, and
    * the serving path ([[bpeEncode]]) replays the R merges as R chained
    * per-row maps in ONE scan with no shuffle at all. */
  private[graft] def bpeTrainState(d: DataFrame, rounds: Int = BpeMergeRounds)
      : (Seq[(Int, String, String, String, Long, Long)], DataFrame) = {
    val spark = d.sparkSession
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val session = spark
    import session.implicits._
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long, Long)]
    var learned: (String, String, Long) = null
    val (fin, _) = graft.functions.ScopedCache.iterate("textops.bpe",
      graft.functions.ScopedCache.truncate(
        d.select(col("doc_id"), toks.as("t")), eager = true), rounds)({ seq =>
      bpePairCounts(seq).orderBy(col("pair_cnt").desc, col("l"), col("r"))
        .limit(1).collect().headOption.map { top =>
          learned = (top.getString(0), top.getString(1), top.getLong(2))
          // the learned pair rides back in as a broadcast 1-row literal
          // (not a string-interpolated expression: token text needs no
          // escaping this way), coalesce unused here because the row is
          // known non-empty
          seq.crossJoin(broadcast(Seq((learned._1, learned._2)).toDF("l", "r")))
            .select(col("doc_id"), expr("graft_bpe_merge(t, l, r)").as("t"))
        }
    }, { seq =>
      val (l, r, cnt) = learned
      val vocab = seq.select(explode(col("t")).as("tok")).distinct().count()
      out += ((out.size + 1, l, r, l + " " + r, cnt, vocab))
      false
    })
    (out.toSeq, fin)
  }

  /** Serving-side tokenizer: replay a trained merge table (in round
    * order) over a corpus — R chained per-row `graft_bpe_merge` maps,
    * ONE scan, no shuffle. The SemanticsSpec re-tokenization law pins
    * this path bit-equal to the trainer's final state, so a model
    * trained once can tokenize any future shard identically (the
    * q161/q188/q198 frozen-model convention applied to the tokenizer). */
  def bpeEncode(d: DataFrame, merges: Seq[(String, String)]): DataFrame =
    bpeFold(d.select(col("doc_id"), toks.as("t")), merges)

  /** The R-merge replay over an explicit sequence table, preserving any
    * carried columns — each learned pair rides in as a broadcast 1-row
    * literal and the kernel is a per-row codegen'd call, so the whole
    * fold is a single shuffle-free scan however many merges ship. */
  private def bpeFold(seq: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = seq.sparkSession
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val session = spark
    import session.implicits._
    merges.foldLeft(seq) { case (s, (l, r)) =>
      val carried = s.columns.filter(_ != "t").map(col)
      s.crossJoin(broadcast(Seq((l, r)).toDF("l", "r")))
        .select(carried :+ expr("graft_bpe_merge(t, l, r)").as("t"): _*)
    }
  }

  /** q210 model artifact: the q205 merge table persisted once per
    * fixture (ArtifactStore's ensure rule — train-once/encode-many, the
    * q202/q203 lifecycle applied to the tokenizer). */
  def ensureBpeMerges(spark: SparkSession, dir: String): String =
    graft.sources.ArtifactStore.ensure("bpemerges", dir, Seq("merges")) { b =>
      bpeTrainOf(Tables.documents(spark, dir))
        .write.mode("overwrite").parquet(s"$b/merges")
    }

  /** The ONE artifact-load path (ensure + round-ordered collect) shared
    * by every serving query (q209/q210/q212) — a layout or ordering
    * change lands in one place or nowhere. Model-sized: R rows. */
  private def loadBpeMerges(spark: SparkSession, dir: String): Seq[(String, String)] = {
    val base = ensureBpeMerges(spark, dir)
    spark.read.parquet(s"$base/merges").orderBy(col("round"))
      .select(col("left_tok"), col("right_tok")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
  }

  /** q210: tokenize the corpus with the PERSISTED merge table and report
    * the per-doc compression card — raw token count, BPE symbol count,
    * merges applied, and the symbols-per-token ratio. This is the apply
    * half of q205 (at 100 TB the ENCODER is what runs over every new
    * shard): the merge table collects to the driver (model-sized — R
    * rows), replays as R chained per-row maps in ONE scan with no
    * shuffle before the presentation sort, and the per-doc stats are
    * per-row arithmetic (`size(t)`), not aggregates. The oracle replays
    * the ENTIRE train+encode chain from the raw corpus (the q203
    * admission precedent: a green row certifies the persisted merge
    * table), and the re-tokenization law makes served-encode ≡
    * training's final state bit-for-bit. */
  def bpeEncodeStats(spark: SparkSession, dir: String): DataFrame =
    bpeEncodeStatsOf(Tables.documents(spark, dir), loadBpeMerges(spark, dir))

  /** DataFrame-level core against an explicit merge table (testable on
    * constructed corpora; shares [[bpeFold]] with [[bpeEncode]] so the
    * stats price exactly the serving tokenizer's output). */
  def bpeEncodeStatsOf(d: DataFrame, merges: Seq[(String, String)]): DataFrame =
    // NULL-text docs have no token stream to price: excluded here exactly
    // as the oracle's inner rawc/encc joins exclude them (they produce
    // zero s0 rows) — without the filter Spark would retain the row with
    // NULL masses and the two engines would count different populations
    bpeFold(d.filter(col("text").isNotNull)
        .select(col("doc_id"), toks.as("t"))
        .withColumn("n_raw", size(col("t")).cast(LongType)), merges)
      .select(col("doc_id"), col("n_raw"),
        size(col("t")).cast(LongType).as("n_bpe"))
      .select(col("doc_id"), col("n_raw"), col("n_bpe"),
        (col("n_raw") - col("n_bpe")).as("n_merged"),
        round(col("n_bpe").cast(DoubleType) / col("n_raw"), 6).as("ratio"))
      .orderBy(col("doc_id"))

  /** q216: per-LANGUAGE tokenizer fertility card — the number tokenizer
    * evaluations actually publish (symbols per raw token BY LANGUAGE,
    * e.g. the fertility tables of multilingual-tokenizer papers): a
    * tokenizer trained on a mixed corpus compresses its dominant
    * language best, and per-language fertility is how that bias is
    * measured and priced before training. Rolls q210's per-doc
    * compression card up by `lang`: doc count, raw-token and BPE-symbol
    * mass, fertility = Σsymbols/Σtokens (the aggregate ratio, NOT the
    * mean of per-doc ratios — short docs must not dominate), symbols
    * per doc, and each language's share of the total symbol budget (what
    * the language costs of the training token budget).
    *
    * Invisibility contract (SemanticsSpec law): this card is EXACTLY an
    * aggregate of q210's served rows joined to `lang` — same
    * [[bpeFold]] under the same persisted merge table, so the rollup
    * can never disagree with the per-doc card it summarizes.
    *
    * Scale shape: the served encode's ONE shuffle-free scan (R chained
    * per-row merge maps), then one map-side-combined ≤|langs|-row
    * aggregate and a broadcast 1-row total — nothing corpus-sized
    * shuffles; at 100 TB this is q210's cost plus ε. The oracle replays
    * the ENTIRE train+encode chain (the q203/q210 admission precedent:
    * a green row certifies the persisted merge table). */
  def bpeFertilityCard(spark: SparkSession, dir: String): DataFrame =
    bpeFertilityCardOf(Tables.documents(spark, dir), loadBpeMerges(spark, dir))

  /** DataFrame-level core against an explicit merge table (shares
    * [[bpeFold]] with q210 so the rollup prices exactly the serving
    * tokenizer's output). */
  def bpeFertilityCardOf(d: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    // NULL-text docs excluded — q210's population rule (the oracle's
    // inner joins drop them; counting them in n_docs would skew
    // symbols_per_doc against the replay)
    val perDoc = bpeFold(d.filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"), toks.as("t"))
        .withColumn("n_raw", size(col("t")).cast(LongType)), merges)
      .select(col("lang"), col("n_raw"), size(col("t")).cast(LongType).as("n_bpe"))
    val byLang = perDoc.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_raw")).as("n_raw"),
        sum(col("n_bpe")).as("n_bpe"))
    val tot = byLang.agg(sum(col("n_bpe")).as("tot_bpe"))
    byLang.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("n_raw"), col("n_bpe"),
        round(col("n_bpe").cast(DoubleType) / col("n_raw"), 6).as("fertility"),
        round(col("n_bpe").cast(DoubleType) / col("n_docs"), 6)
          .as("symbols_per_doc"),
        round(col("n_bpe").cast(DoubleType) / col("tot_bpe"), 6)
          .as("symbol_share"))
      .orderBy(col("lang"))
  }

  private lazy val bpeFertilityCardSql =
    s"""WITH $bpeBaseCte,
      |$bpeAllRoundCtes,
      |rawc AS (SELECT doc_id, COUNT(*) AS n_raw FROM s0 GROUP BY 1),
      |encc AS (SELECT doc_id, COUNT(*) AS n_bpe FROM s$BpeMergeRounds GROUP BY 1),
      |pl AS (SELECT d.lang, rawc.n_raw, encc.n_bpe
      |       FROM documents d
      |       JOIN rawc ON rawc.doc_id = d.doc_id
      |       JOIN encc ON encc.doc_id = d.doc_id),
      |bl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |         CAST(SUM(n_raw) AS BIGINT) AS n_raw,
      |         CAST(SUM(n_bpe) AS BIGINT) AS n_bpe
      |       FROM pl GROUP BY 1),
      |tt AS (SELECT CAST(SUM(n_bpe) AS BIGINT) AS tot_bpe FROM bl)
      |SELECT lang, n_docs, n_raw, n_bpe,
      |  ROUND(CAST(n_bpe AS DOUBLE) / n_raw, 6) AS fertility,
      |  ROUND(CAST(n_bpe AS DOUBLE) / n_docs, 6) AS symbols_per_doc,
      |  ROUND(CAST(n_bpe AS DOUBLE) / tot_bpe, 6) AS symbol_share
      |FROM bl CROSS JOIN tt
      |ORDER BY lang NULLS FIRST""".stripMargin

  /** The merge depths the q218 sweep prices (0 = raw whitespace tokens,
    * then even prefixes of the trained [[BpeMergeRounds]]-merge table). */
  private[graft] val BpeDepths = Seq(0, 2, 4, 6)

  /** q218: BPE vocabulary-size sweep — q124's Heaps-law curve analog for
    * the TOKENIZER: how vocabulary size and fertility move with merge
    * depth. One training run's persisted merge table already contains
    * every round's prefix (rows are round-ordered), so depth R is served
    * by replaying just the FIRST R merges — no retraining, one artifact
    * read. For each depth: total symbol mass, distinct-symbol vocabulary
    * size, and fertility (symbols per raw token) — the curve a tokenizer
    * designer reads to pick R: symbol mass (≈ training cost) falls with
    * depth while the vocabulary (≈ embedding-table cost) grows.
    *
    * The vocab trajectory is pinned to the trainer's own accounting: at
    * each trained depth, `vocab_size` equals q205's `vocab_size` column
    * for that round (the re-tokenization law applied per prefix —
    * SemanticsSpec).
    *
    * Scale shape: the ScopedCache'd token table feeds one shuffle-free
    * encode scan per depth (R chained per-row maps), each collapsing
    * into a symbol-keyed aggregate (vocabulary-sized) and then one row;
    * the raw total rides back as a broadcast 1-row literal for the
    * fertility division. |depths| rows however big the corpus. */
  def bpeDepthSweep(spark: SparkSession, dir: String): DataFrame =
    bpeDepthSweepOf(Tables.documents(spark, dir), loadBpeMerges(spark, dir))

  /** DataFrame-level core against an explicit merge table. */
  def bpeDepthSweepOf(d: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val seq = graft.functions.ScopedCache.persist("q218.seq",
      d.select(col("doc_id"), toks.as("t")))
    def oneDepth(depth: Int): DataFrame =
      bpeFold(seq, merges.take(depth))
        .select(explode(col("t")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .agg(sum(col("cnt")).as("n_symbols"), count(lit(1)).as("vocab_size"))
        .select(lit(depth).as("merge_depth"), col("n_symbols"),
          col("vocab_size"))
    // the depth-0 aggregate serves twice (the sweep's first row and the
    // fertility denominator); the two references are sameResult, so
    // exchange reuse computes it once — bound to one val to keep that
    // visible
    val depth0 = oneDepth(0)
    val rawTot = depth0.select(col("n_symbols").as("n_raw"))
    (depth0 +: BpeDepths.filter(_ != 0).map(oneDepth)).reduce(_ unionByName _)
      .crossJoin(broadcast(rawTot))
      .select(col("merge_depth"), col("n_symbols"), col("vocab_size"),
        round(col("n_symbols").cast(DoubleType) / col("n_raw"), 6)
          .as("fertility"))
      .orderBy(col("merge_depth"))
  }

  private lazy val bpeDepthSweepSql = {
    val rows = BpeDepths.map { k =>
      s"""SELECT $k AS merge_depth,
        |  CAST(COUNT(*) AS BIGINT) AS n_symbols,
        |  CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab_size
        |FROM s$k""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $bpeBaseCte,
      |$bpeAllRoundCtes,
      |sw AS ($rows),
      |rawt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_raw FROM s0)
      |SELECT merge_depth, n_symbols, vocab_size,
      |  ROUND(CAST(n_symbols AS DOUBLE) / n_raw, 6) AS fertility
      |FROM sw CROSS JOIN rawt
      |ORDER BY merge_depth""".stripMargin
  }

  /** PlanSpec hook: one round's pair-recount dataflow over the raw
    * split (the registered query returns the collected merge table, so
    * the per-round plan is guarded through this). */
  private[graft] def bpeStepProbe(spark: SparkSession, dir: String): DataFrame =
    bpePairCounts(Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("t")))

  /** q205: iterative BPE tokenizer TRAINING — the merge table q102's
    * single-round candidate list stops short of: [[BpeMergeRounds]]
    * unrolled rounds of select-argmax / apply / recount, emitting one
    * row per learned merge (its pair count at selection time and the
    * vocabulary size after applying it). This is the tokenizer-training
    * stage of an LLM data pipeline made an engine operator: the output
    * IS the model a tokenizer ships (replayed by [[bpeEncode]]), and
    * the argmax counts are monotone non-increasing across rounds (a new
    * pair's count is bounded by the merged symbol's occurrence count,
    * itself bounded by the selected pair's; the one theoretical escape —
    * two merge trees yielding the SAME surface string, pooling their
    * counts — needs a colliding span like «a b»+«c» vs «a»+«b c» and
    * does not occur on whitespace corpora without repeated-span nesting.
    * The SemanticsSpec law pins monotonicity on the fixture). */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeTrainOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def bpeTrainOf(d: DataFrame): DataFrame = {
    val spark = d.sparkSession
    val session = spark
    import session.implicits._
    val (rows, fin) = bpeTrainState(d)
    // the merge table never reads the final sequences — release them
    graft.functions.ScopedCache.releaseCheckpoint(fin)
    rows.toDF("round", "left_tok", "right_tok", "merged_tok",
        "pair_cnt", "vocab_size")
      .orderBy(col("round"))
  }

  /** q209: the RESULTING vocabulary — every distinct symbol of the
    * final (round-[[BpeMergeRounds]]) sequences with its corpus count:
    * merged multi-word symbols and untouched single tokens side by
    * side, ranked by count. Together with q205 this is the complete
    * tokenizer artifact (merge table + vocab); vocabulary-sized output,
    * never corpus-sized.
    *
    * SERVED from the persisted merge table (ensure — the q203/q210
    * rule): replaying the frozen merges over the corpus IS the training
    * final state (the re-tokenization law), so the vocab derives from
    * one shuffle-free encode scan + one keyed count instead of
    * re-running the six-round trainer; the oracle still replays the
    * ENTIRE train chain, so a green row certifies the artifact (the
    * q203 admission precedent). */
  def bpeVocab(spark: SparkSession, dir: String): DataFrame =
    vocabFromSeq(bpeEncode(Tables.documents(spark, dir),
      loadBpeMerges(spark, dir)))

  /** DataFrame-level core (testable on constructed corpora): trains
    * in-plan and counts the final state directly. The vocab is
    * vocabulary-sized, so it is materialized EAGERLY here and the
    * trainer's corpus-sized final checkpoint released before returning
    * (the "terminal model is not released" exemption is for k-row
    * models, not corpus-sized sequence tables). */
  def bpeVocabOf(d: DataFrame): DataFrame = {
    val spark = d.sparkSession
    val session = spark
    import session.implicits._
    val (_, fin) = bpeTrainState(d)
    // finally: the corpus-sized checkpoint is released even when the
    // collect itself fails
    val collected =
      try vocabFromSeq(fin).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      finally graft.functions.ScopedCache.releaseCheckpoint(fin)
    collected.toDF("tok", "cnt").orderBy(col("cnt").desc, col("tok"))
  }

  private def vocabFromSeq(seq: DataFrame): DataFrame =
    seq.select(explode(col("t")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))

  /** q212: sequence packing in TOKENIZER symbols — the budget training
    * actually packs against: q68 lays docs into [[PackBudget]]-token
    * chunks by WHITESPACE count, but a trained model consumes BPE
    * symbols, so the real chunk boundary is the symbol count q210
    * serves. Composition of two certified pieces, both VERBATIM: the
    * artifact-served encode ([[bpeFold]] under the persisted merge
    * table — one shuffle-free scan) feeding [[packSequencesOf]] (the
    * q68 greedy packer, unchanged). Inherits q68's per-source window
    * shape and therefore q68's documented 100 TB caveat — the sharded
    * q69 form composes identically when one source outgrows a task.
    * The oracle replays train chain + counts + q68's packing CTEs, so
    * a green row certifies the whole composition. */
  def packBpeSequences(spark: SparkSession, dir: String): DataFrame =
    packBpeSequencesOf(Tables.documents(spark, dir), loadBpeMerges(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def packBpeSequencesOf(d: DataFrame, merges: Seq[(String, String)]): DataFrame =
    packSequencesOf(
      bpeFold(d.select(col("doc_id"), col("source"), toks.as("t")), merges)
        .select(col("doc_id"), col("source"),
          size(col("t")).cast(LongType).as("n_tokens")),
      budget = PackBudget)

  private lazy val packBpeSequencesSql =
    s"""WITH $bpeBaseCte,
      |$bpeAllRoundCtes,
      |d2 AS (SELECT s.doc_id, doc.source, COUNT(*) AS n_tokens
      |       FROM s$BpeMergeRounds s JOIN documents doc USING (doc_id)
      |       GROUP BY 1, 2),
      |c2 AS (SELECT doc_id, source, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id NULLS FIRST
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM d2)
      |SELECT source, CAST((cum - n_tokens) // $PackBudget AS BIGINT) AS chunk_id,
      |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS chunk_tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM c2
      |GROUP BY 1, 2
      |ORDER BY source NULLS FIRST, chunk_id NULLS FIRST""".stripMargin

  /** The oracle's position-table base: (doc_id, pos, tok), pos dense
    * 1-based (DuckDB's parallel UNNESTs zip positionally). */
  private val bpeBaseCte =
    """s0 AS MATERIALIZED (SELECT doc_id,
      |    UNNEST(GENERATE_SERIES(1, LEN(t))) AS pos, UNNEST(t) AS tok
      |  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents) b)""".stripMargin

  /** One unrolled training round for the oracle, s{k-1} → s{k}. The
    * relational replay of [[graft.functions.BpeMerge]]'s greedy
    * left-to-right scan: mark matching positions, group CONSECUTIVE
    * matches into islands (runs longer than one position require
    * l = r), keep the even offsets within each island (exactly the
    * occurrences greedy scanning takes), then merge at kept starts and
    * drop the consumed right halves. Every CTE is MATERIALIZED — step k
    * references step k−1 several times, the q202 exponential-re-eval
    * fix. All windows are PARTITIONED BY doc_id (bounded state). */
  private def bpeRoundCtes(k: Int): String =
    s"""pc$k AS MATERIALIZED (SELECT l, r, COUNT(*) AS cnt
      |  FROM (SELECT doc_id, tok AS l,
      |          LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS r
      |        FROM s${k - 1}) x
      |  WHERE r IS NOT NULL GROUP BY 1, 2),
      |top$k AS MATERIALIZED (SELECT l, r, cnt FROM pc$k
      |  ORDER BY cnt DESC NULLS LAST, l NULLS FIRST, r NULLS FIRST LIMIT 1),
      |m$k AS MATERIALIZED (SELECT s.doc_id, s.pos, s.tok,
      |    COALESCE(s.tok = t.l AND LEAD(s.tok) OVER
      |      (PARTITION BY s.doc_id ORDER BY s.pos) = t.r, FALSE) AS m
      |  FROM s${k - 1} s LEFT JOIN top$k t ON TRUE),
      |i$k AS MATERIALIZED (SELECT doc_id, pos, tok, m,
      |    SUM(CASE WHEN m THEN 0 ELSE 1 END) OVER
      |      (PARTITION BY doc_id ORDER BY pos) AS isl
      |  FROM m$k),
      |g$k AS MATERIALIZED (SELECT doc_id, pos, tok,
      |    CASE WHEN m THEN ROW_NUMBER() OVER
      |        (PARTITION BY doc_id, isl, m ORDER BY pos) % 2 = 1
      |      ELSE FALSE END AS strt
      |  FROM i$k),
      |s$k AS MATERIALIZED (SELECT doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS pos,
      |    CASE WHEN strt THEN tok || ' ' || nxt ELSE tok END AS tok
      |  FROM (SELECT doc_id, pos, tok, strt,
      |          LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt,
      |          LAG(strt) OVER (PARTITION BY doc_id ORDER BY pos) AS pstrt
      |        FROM g$k) z
      |  WHERE NOT COALESCE(pstrt, FALSE)),
      |v$k AS MATERIALIZED (SELECT COUNT(DISTINCT tok) AS vocab_size FROM s$k)""".stripMargin

  private lazy val bpeAllRoundCtes: String =
    (1 to BpeMergeRounds).map(bpeRoundCtes).mkString(",\n")

  private lazy val bpeTrainSql = {
    val sel = (1 to BpeMergeRounds).map { k =>
      s"""SELECT $k AS round, t.l AS left_tok, t.r AS right_tok,
        |  t.l || ' ' || t.r AS merged_tok, t.cnt AS pair_cnt, v.vocab_size
        |FROM top$k t CROSS JOIN v$k v""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $bpeBaseCte,
      |$bpeAllRoundCtes
      |$sel
      |ORDER BY round""".stripMargin
  }

  private lazy val bpeVocabSql =
    s"""WITH $bpeBaseCte,
      |$bpeAllRoundCtes
      |SELECT tok, COUNT(*) AS cnt FROM s$BpeMergeRounds
      |GROUP BY tok
      |ORDER BY cnt DESC NULLS LAST, tok NULLS FIRST""".stripMargin

  // served encode ≡ training's final state (the re-tokenization law), so
  // the oracle reads the raw and final position tables of the SAME chain
  private lazy val bpeEncodeStatsSql =
    s"""WITH $bpeBaseCte,
      |$bpeAllRoundCtes,
      |rawc AS (SELECT doc_id, COUNT(*) AS n_raw FROM s0 GROUP BY 1),
      |encc AS (SELECT doc_id, COUNT(*) AS n_bpe FROM s$BpeMergeRounds GROUP BY 1)
      |SELECT doc_id, rawc.n_raw, encc.n_bpe,
      |  rawc.n_raw - encc.n_bpe AS n_merged,
      |  ROUND(CAST(encc.n_bpe AS DOUBLE) / rawc.n_raw, 6) AS ratio
      |FROM rawc JOIN encc USING (doc_id)
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  /** q103: bigram-LM surprisal — q93's quality filter upgraded to a
    * first-order model: per-doc average of −ln p(w_{i+1} | w_i) under the
    * corpus's own bigram conditional (pair count / left-token count).
    * Catches degenerate text a unigram model scores as normal (shuffled
    * word salad has normal unigram mass but improbable transitions).
    * Docs with <2 tokens have no transitions and are excluded — same
    * filter in the oracle. Same DECIMAL(38,12) term casts as q93 so the
    * per-doc sum is order-independent across engines.
    *
    * Scale posture: the shuffles carry distinct (doc, bigram) count rows
    * and the bigram-vocabulary-sized probability table (joins
    * AQE-decided — vocabulary is corpus-dependent, so no pinned
    * broadcast); one keyed aggregate per doc at the end. */
  def bigramSurprisal(spark: SparkSession, dir: String): DataFrame =
    bigramSurprisalOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). The per-doc
    * bigram count table is referenced three times through the plan (pair
    * stats twice, final join once) and deliberately NOT cached: an A/B at
    * sf0.1 measured scope-caching it a wash (2.51 s vs 2.52 s median —
    * the recompute is scan-dominated and cache materialization costs what
    * the two saved passes save), the same result as r4's probe on q72's
    * raw shingle explode. Matches q93's uncached token counts. */
  def bigramSurprisalOf(d: DataFrame): DataFrame = {
    val bg = adjacentPairs(d, carryDocId = true)
      .groupBy(col("doc_id"), col("l"), col("r"))
      .agg(count(lit(1)).as("cnt"))
    val pair = bg.groupBy(col("l"), col("r")).agg(sum(col("cnt")).as("pair_cnt"))
    val left = pair.groupBy(col("l")).agg(sum(col("pair_cnt")).as("left_cnt"))
    val probs = pair.join(left, Seq("l"))
      .select(col("l"), col("r"),
        (col("pair_cnt").cast(DoubleType) / col("left_cnt")).as("p"))
    val term = (col("cnt").cast(DoubleType) * log(col("p")))
      .cast(DecimalType(38, 12))
    bg.join(probs, Seq("l", "r"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"), sum(term).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-col("s").cast(DoubleType) / col("n_bigrams"), 6)
          .as("avg_bigram_surprisal_nats"))
      .orderBy(col("doc_id"))
  }

  /** The q103 chain as CTEs ending in `bsv` = (doc_id, n_bigrams,
    * avg_bigram_surprisal_nats) — shared VERBATIM by the q103 and q223
    * oracles so the DoReMi proxy loss can only aggregate exactly the
    * scores q103 certifies. */
  private[operators] val bigramSurprisalCtes =
    """toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
      |bg0 AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t) - 1),
      |          i -> {'l': t[i], 'r': t[i+1]})) AS p
      |        FROM toks WHERE LEN(t) >= 2),
      |bc AS (SELECT doc_id, p.l AS l, p.r AS r, COUNT(*) AS cnt
      |       FROM bg0 GROUP BY 1, 2, 3),
      |pair AS (SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS pair_cnt
      |         FROM bc GROUP BY 1, 2),
      |lft AS (SELECT l, CAST(SUM(pair_cnt) AS BIGINT) AS left_cnt
      |        FROM pair GROUP BY 1),
      |pr AS (SELECT pair.l, pair.r, CAST(pair_cnt AS DOUBLE) / left_cnt AS p
      |       FROM pair JOIN lft USING (l)),
      |bsv AS (SELECT bc.doc_id, CAST(SUM(bc.cnt) AS BIGINT) AS n_bigrams,
      |  ROUND(-CAST(SUM(CAST(bc.cnt * LN(pr.p) AS DECIMAL(38,12))) AS DOUBLE)
      |        / SUM(bc.cnt), 6) AS avg_bigram_surprisal_nats
      |FROM bc JOIN pr ON bc.l = pr.l AND bc.r = pr.r
      |GROUP BY bc.doc_id)""".stripMargin

  private val bigramSurprisalSql =
    s"""WITH $bigramSurprisalCtes
      |SELECT doc_id, n_bigrams, avg_bigram_surprisal_nats FROM bsv
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  /** q110 pair-count floor — interpolated into plan and oracle so the
    * pruning rule cannot drift. 2 is the smallest floor that prunes (it
    * drops exactly the hapax pairs — by Zipf the bulk of the pair
    * vocabulary). */
  val BigramFloorMinCount = 2L

  /** q110: bigram surprisal with a min-pair-count floor — q103's scale
    * fix (both sides of q103's probability join grow with the corpus
    * pair vocabulary). Pairs seen fewer than
    * [[BigramFloorMinCount]] times are dropped from the probability
    * table, and the matching per-doc transitions are excluded from
    * scoring symmetrically (inner join) — so each doc is scored only on
    * transitions the corpus actually attests, over `n_scored_bigrams` of
    * them. Left-token totals are taken BEFORE the floor, so p(r|l) stays
    * the true conditional, not one renormalized over survivors. Docs
    * whose every transition is rare drop out (same rule in the oracle).
    *
    * Scale posture: counting still passes over the full pair stream —
    * unavoidable, but those are map-side-collapsing aggregates. What the
    * floor bounds is both JOIN sides: the probability table keeps only
    * attested-≥m pairs (the Zipf head), and the per-doc rows joining it
    * shrink identically — the q103 row whose 10× enlargement measured
    * 6.7× becomes a join against a vocabulary that grows sublinearly. */
  def bigramSurprisalFloored(spark: SparkSession, dir: String): DataFrame =
    bigramSurprisalFlooredOf(Tables.documents(spark, dir))

  /** DataFrame-level core; `minPairCount` defaults to the oracle
    * constant. */
  def bigramSurprisalFlooredOf(d: DataFrame,
      minPairCount: Long = BigramFloorMinCount): DataFrame = {
    val bg = adjacentPairs(d, carryDocId = true)
      .groupBy(col("doc_id"), col("l"), col("r"))
      .agg(count(lit(1)).as("cnt"))
    val pair = bg.groupBy(col("l"), col("r")).agg(sum(col("cnt")).as("pair_cnt"))
    val left = pair.groupBy(col("l")).agg(sum(col("pair_cnt")).as("left_cnt"))
    val probs = pair.filter(col("pair_cnt") >= minPairCount)
      .join(left, Seq("l"))
      .select(col("l"), col("r"),
        (col("pair_cnt").cast(DoubleType) / col("left_cnt")).as("p"))
    val term = (col("cnt").cast(DoubleType) * log(col("p")))
      .cast(DecimalType(38, 12))
    bg.join(probs, Seq("l", "r"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_scored_bigrams"), sum(term).as("s"))
      .select(col("doc_id"), col("n_scored_bigrams"),
        round(-col("s").cast(DoubleType) / col("n_scored_bigrams"), 6)
          .as("avg_bigram_surprisal_nats"))
      .orderBy(col("doc_id"))
  }

  private val bigramSurprisalFlooredSql =
    s"""WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
      |bg0 AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t) - 1),
      |          i -> {'l': t[i], 'r': t[i+1]})) AS p
      |        FROM toks WHERE LEN(t) >= 2),
      |bc AS (SELECT doc_id, p.l AS l, p.r AS r, COUNT(*) AS cnt
      |       FROM bg0 GROUP BY 1, 2, 3),
      |pair AS (SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS pair_cnt
      |         FROM bc GROUP BY 1, 2),
      |lft AS (SELECT l, CAST(SUM(pair_cnt) AS BIGINT) AS left_cnt
      |        FROM pair GROUP BY 1),
      |pr AS (SELECT pair.l, pair.r, CAST(pair_cnt AS DOUBLE) / left_cnt AS p
      |       FROM pair JOIN lft USING (l)
      |       WHERE pair_cnt >= $BigramFloorMinCount)
      |SELECT bc.doc_id, CAST(SUM(bc.cnt) AS BIGINT) AS n_scored_bigrams,
      |  ROUND(-CAST(SUM(CAST(bc.cnt * LN(pr.p) AS DECIMAL(38,12))) AS DOUBLE)
      |        / SUM(bc.cnt), 6) AS avg_bigram_surprisal_nats
      |FROM bc JOIN pr ON bc.l = pr.l AND bc.r = pr.r
      |GROUP BY bc.doc_id
      |ORDER BY bc.doc_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q207: smoothed bigram-LM surprisal (absolute discount + continuation)
  // ---------------------------------------------------------------------

  /** The absolute-discount constant (Kneser-Ney's canonical D — Chen &
    * Goodman 1998 report 0.75 near-optimal across corpora). Interpolated
    * into plan and oracle so the smoothing cannot drift. */
  val KnDiscount = 0.75

  /** q207: bigram surprisal under INTERPOLATED ABSOLUTE DISCOUNTING with
    * Kneser-Ney continuation weights — the smoothing the raw conditional
    * of q103 (and q110's floored variant) lacks: an unsmoothed bigram LM
    * over-penalizes rare-but-fine transitions, exactly the failure mode
    * CCNet-style quality filtering (Wenzek et al., LREC 2020) smooths
    * its LM for. Per attested pair,
    *
    *   p(r|l) = max(c(l,r) − D, 0)/c(l·) + λ(l)·p_cont(r)
    *   λ(l)   = D·N1+(l·)/c(l·)         (the discounted mass, re-spent)
    *   p_cont(r) = N1+(·r)/N_types      (how many contexts attest r)
    *
    * which sums to exactly 1 over the full vocabulary (the SemanticsSpec
    * proper-distribution law): the discount D withheld from each of the
    * N1+(l·) attested continuations is exactly the λ(l) mass the
    * continuation distribution redistributes. Scoring, population, term
    * casts and rounding are q103's verbatim (per-term DECIMAL(38,12),
    * round 6; docs under 2 tokens excluded) — one knob changed, so the
    * q103 → q207 delta in any doc's score is attributable to smoothing
    * alone. Every float step is written in the same order in both
    * engines; the 1-ulp LN difference dies at the decimal term cast.
    *
    * Scale shape: q103's exactly — the pair/left/continuation tables are
    * all pair-vocabulary-sized keyed aggregates (map-side combined), the
    * N_types total is the broadcast-scalar idiom, and the per-doc score
    * is one keyed aggregate. The continuation/type statistics add two
    * aggregates over the ALREADY-collapsed pair table, not corpus
    * passes. */
  def smoothedBigramSurprisal(spark: SparkSession, dir: String): DataFrame =
    smoothedBigramSurprisalOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def smoothedBigramSurprisalOf(d: DataFrame): DataFrame =
    smoothedBigramSurprisalUnsorted(d).orderBy(col("doc_id"))

  /** The q207 chain WITHOUT the presentation sort — q211/q221 cache this
    * table and then aggregate/join it by doc_id, so sorting before the
    * cache was a wasted corpus-sized range exchange + sort per run (r18;
    * guide §2.4 — the consumers' own ORDER BYs are unchanged). */
  private[graft] def smoothedBigramSurprisalUnsorted(d: DataFrame): DataFrame = {
    val probs = knProbsOf(d)
    val bg = adjacentPairs(d, carryDocId = true)
      .groupBy(col("doc_id"), col("l"), col("r"))
      .agg(count(lit(1)).as("cnt"))
    val term = (col("cnt").cast(DoubleType) * log(col("p")))
      .cast(DecimalType(38, 12))
    bg.join(probs, Seq("l", "r"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"), sum(term).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-col("s").cast(DoubleType) / col("n_bigrams"), 6)
          .as("avg_smoothed_surprisal_nats"))
  }

  /** The smoothed conditional table (l, r, p) over attested pairs — the
    * SemanticsSpec proper-distribution law recomputes total mass from
    * this hook. Kept term-for-term parallel to the oracle's `pr` CTE
    * (same arithmetic in the same order; only HOW the per-l / per-r
    * statistics are attached differs — see below).
    *
    * r18 (VERDICT r17 #1): the lft/cont statistics used to be separate
    * aggregates of `pair` joined back on — column pruning specialized
    * each branch, so the tokenize+explode+aggregate chain EXECUTED once
    * per branch (the r17 plan audit's 4×; every cache placement
    * measured worse at sf0.1). Windows over the collapsed pair table
    * (partition by l, by r — vocabulary-keyed, always above the pair
    * aggregate, never the corpus) compute the same exact integer
    * statistics in the SAME pass that produces `pair`, removing the
    * re-executed scans AND two vocabulary joins. Only the 1-row type
    * total keeps its own (narrow) aggregate branch + broadcast — a
    * partition-less window over the pair table would be the corpus-
    * window smell the q211 grammar forbids. Paired A/B (surp/surp10
    * probe, min-of-passes, alternating in one session): wash at sf0.1
    * (2.49 vs 2.50 s — the re-scans are cheap there), 8.2→6.9 s and
    * 14.6→7.3 s in two windows at 10×, where the re-executed corpus
    * scans are real; rows bit-identical (probe-asserted). */
  private[graft] def knProbsOf(d: DataFrame): DataFrame = {
    val bg = adjacentPairs(d, carryDocId = true)
      .groupBy(col("doc_id"), col("l"), col("r"))
      .agg(count(lit(1)).as("cnt"))
    val pair = bg.groupBy(col("l"), col("r")).agg(sum(col("cnt")).as("pair_cnt"))
    val tot = pair.agg(count(lit(1)).as("n_types"))
    val wl = Window.partitionBy(col("l"))
    val wr = Window.partitionBy(col("r"))
    // broadcast scalar idiom: the 1-row type count under every pair row
    pair
      .withColumn("left_cnt", sum(col("pair_cnt")).over(wl))
      .withColumn("n1_left", count(lit(1)).over(wl))
      .withColumn("n1_right", count(lit(1)).over(wr))
      .crossJoin(broadcast(tot))
      .select(col("l"), col("r"),
        (greatest(col("pair_cnt").cast(DoubleType) - lit(KnDiscount), lit(0.0))
            / col("left_cnt")
          + (lit(KnDiscount) * col("n1_left") / col("left_cnt"))
            * (col("n1_right").cast(DoubleType) / col("n_types"))).as("p"))
  }

  /** Score a batch against a FROZEN smoothed-conditional table (l, r, p)
    * — the serving half of q207 for streaming twins (the q203/q210
    * frozen-model convention): transitions the frozen model does not
    * attest are excluded symmetrically (the q110 floor discipline), and
    * a doc with no attested transition is unscored. On a doc whose
    * every transition the model attests, the score is bit-identical to
    * [[smoothedBigramSurprisalOf]]'s (same per-doc counts, same
    * decimal-cast fold). */
  private[graft] def surprisalAgainst(b: DataFrame, probs: DataFrame): DataFrame = {
    val bg = adjacentPairs(b, carryDocId = true)
      .groupBy(col("doc_id"), col("l"), col("r"))
      .agg(count(lit(1)).as("cnt"))
    bg.join(probs, Seq("l", "r"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        round(-sum((col("cnt") * log(col("p"))).cast(DecimalType(38, 12)))
          .cast(DoubleType) / sum(col("cnt")), 6).as("surprisal"))
  }

  /** The q207 chain as CTEs ending in `sbs` = (doc_id, n_bigrams,
    * avg_smoothed_surprisal_nats) — shared VERBATIM by the q207 and
    * q211 oracles so the perplexity buckets can only bucket exactly the
    * scores q207 certifies; parameterized on the docs table so q221 can
    * run the SAME chain over the dedup+langid survivors. */
  private[operators] def smoothedSurprisalCtesOver(docsTable: String): String =
    s"""toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM $docsTable),
      |bg0 AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t) - 1),
      |          i -> {'l': t[i], 'r': t[i+1]})) AS p
      |        FROM toks WHERE LEN(t) >= 2),
      |bc AS (SELECT doc_id, p.l AS l, p.r AS r, COUNT(*) AS cnt
      |       FROM bg0 GROUP BY 1, 2, 3),
      |pair AS (SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS pair_cnt
      |         FROM bc GROUP BY 1, 2),
      |lft AS (SELECT l, CAST(SUM(pair_cnt) AS BIGINT) AS left_cnt,
      |          COUNT(*) AS n1_left
      |        FROM pair GROUP BY 1),
      |cont AS (SELECT r, COUNT(*) AS n1_right FROM pair GROUP BY 1),
      |tot AS (SELECT COUNT(*) AS n_types FROM pair),
      |pr AS (SELECT pair.l, pair.r,
      |         GREATEST(CAST(pair_cnt AS DOUBLE) - CAST($KnDiscount AS DOUBLE), 0.0)
      |             / left_cnt
      |           + (CAST($KnDiscount AS DOUBLE) * n1_left / left_cnt)
      |             * (CAST(n1_right AS DOUBLE) / n_types) AS p
      |       FROM pair JOIN lft USING (l) JOIN cont USING (r) CROSS JOIN tot),
      |sbs AS (SELECT bc.doc_id, CAST(SUM(bc.cnt) AS BIGINT) AS n_bigrams,
      |  ROUND(-CAST(SUM(CAST(bc.cnt * LN(pr.p) AS DECIMAL(38,12))) AS DOUBLE)
      |        / SUM(bc.cnt), 6) AS avg_smoothed_surprisal_nats
      |FROM bc JOIN pr ON bc.l = pr.l AND bc.r = pr.r
      |GROUP BY bc.doc_id)""".stripMargin

  private val smoothedSurprisalCtes = smoothedSurprisalCtesOver("documents")

  private val smoothedBigramSurprisalSql =
    s"""WITH $smoothedSurprisalCtes
      |SELECT doc_id, n_bigrams, avg_smoothed_surprisal_nats FROM sbs
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q211: CCNet-style perplexity buckets (head / middle / tail tertiles)
  // ---------------------------------------------------------------------

  /** Milli-nat grid for the q211 tertile cuts — interpolated into plan
    * and oracle. The grid bounds the tertile machinery's state by a
    * DESIGN constant (surprisal lives in single-digit nats; even a
    * pathological corpus stays under ~10⁵ grid rows), the q167
    * count-of-counts trick applied to a score distribution. */
  val PplGridPerNat = 1000L

  /** The milli-nat grid cell of a `surprisal` column. DECIMAL(12,6),
    * not (10,6): on a score above 9999.999999 Spark's non-ANSI cast
    * would yield NULL (silently bucketed as tail) while DuckDB's CAST
    * throws — (12,6) keeps both engines loud and exact far outside the
    * single-digit-nat regime surprisal lives in (ADVICE r15). */
  private def pplGridExpr: Column =
    floor(col("surprisal").cast(DecimalType(12, 6)) * PplGridPerNat)
      .cast(LongType)

  /** The 1-row tertile cuts (g1, g2) over a (surprisal) table — q211's
    * grid-histogram cut derivation, factored so the streaming twin can
    * FREEZE the nightly cuts (a 2-long artifact) and the batch operator
    * broadcasts the same derivation in-plan. */
  private[graft] def tertileCutsDf(scored: DataFrame): DataFrame = {
    val hist = scored.select(pplGridExpr.as("g")).groupBy(col("g"))
      .agg(count(lit(1)).as("cnt"))
    val nTot = hist.agg(sum(col("cnt")).as("n"))
    val cum = hist.withColumn("cum",
      sum(col("cnt")).over(Window.orderBy(col("g"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    cum.crossJoin(broadcast(nTot)).agg(
      min(when(col("cum") * 3 >= col("n"), col("g"))).as("g1"),
      min(when(col("cum") * 3 >= col("n") * 2, col("g"))).as("g2"))
  }

  /** Frozen-artifact bucketing: assign `ppl_bucket` to a (doc_id,
    * surprisal) batch under EXPLICIT grid cuts — the serving half of
    * q211 (a pure map once the 2-long cut pair freezes). */
  private[graft] def bucketizeAgainst(scored: DataFrame,
      g1: Long, g2: Long): DataFrame =
    scored.withColumn("g", pplGridExpr)
      .select(col("doc_id"), col("surprisal"),
        when(col("g") <= g1, lit("head"))
          .when(col("g") <= g2, lit("middle"))
          .otherwise(lit("tail")).as("ppl_bucket"))

  /** q211: perplexity-tertile bucketing — the CCNet stage (Wenzek et
    * al., LREC 2020) that follows LM scoring: split the corpus into
    * `head` / `middle` / `tail` thirds by language-model score (lowest
    * surprisal = head, the most target-like text; CCNet trains on head
    * +middle and drops or down-weights tail). Scores are q207's smoothed
    * surprisal VERBATIM (shared core), so the buckets partition exactly
    * the population q207 certifies (docs with ≥2 tokens).
    *
    * Tertiles without a corpus-wide sort: scores land on a fixed
    * milli-nat GRID (floor(surprisal × [[PplGridPerNat]]) in exact
    * decimal arithmetic — binary-double ×1000 would misbucket), the
    * grid histogram cumulates through a window over ≤ grid-constant
    * rows (the q167 count-of-counts idiom — never the corpus, never a
    * single-task corpus window), and the two cuts are the smallest grid
    * values whose running count reaches ⌈n/3⌉ and ⌈2n/3⌉ (integer-exact
    * 3·cum ≥ n tests). Same-bucket ties stay together by construction —
    * the deterministic, engine-portable analog of percentile cuts, and
    * the reason the assignment replays bit-for-bit in DuckDB.
    *
    * Scale shape: ONE corpus pass (q207's aggregates) → grid-sized
    * histogram (map-side combined) → bounded window → two broadcast cut
    * scalars → a per-row CASE over the scored table. */
  def perplexityBuckets(spark: SparkSession, dir: String): DataFrame =
    perplexityBucketsOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). The cache
    * VARIANT keeps q221's composed run (a different corpus — the dedup+
    * langid survivors) from thrashing q211's own generation in a sweep
    * that alternates the two. */
  def perplexityBucketsOf(d: DataFrame, cacheVariant: String = ""): DataFrame = {
    // the scored table fronts q207's whole aggregate chain and is
    // referenced twice (grid histogram + final assignment) — ScopedCache
    // it so the corpus scores once (the doubly-referenced-subtree rule;
    // the 10× probe measured 17.0 → 11.7 s and scaling 5.7× → 3.3×, for
    // ~0.5 s of materialization at 1× — the documented trade)
    val scored = graft.functions.ScopedCache.persist("q211.scored", cacheVariant,
      smoothedBigramSurprisalUnsorted(d)
        .select(col("doc_id"), col("avg_smoothed_surprisal_nats").as("surprisal")))
    val cuts = tertileCutsDf(scored)
    scored.withColumn("g", pplGridExpr)
      .crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("surprisal"),
        when(col("g") <= col("g1"), lit("head"))
          .when(col("g") <= col("g2"), lit("middle"))
          .otherwise(lit("tail")).as("ppl_bucket"))
      .orderBy(col("doc_id"))
  }

  /** The q211 tertile machinery as CTEs reading `sbs` — grid scores
    * (`gg`), grid histogram + cumulative, and the two cuts (`cts`) —
    * shared VERBATIM by the q211 and q221 oracles so the composed
    * pipeline's buckets cannot drift from the standalone instrument. */
  private[operators] val pplTertileCtes =
    s"""gg AS (SELECT doc_id, avg_smoothed_surprisal_nats AS surprisal,
      |         CAST(FLOOR(CAST(avg_smoothed_surprisal_nats AS DECIMAL(12,6))
      |           * $PplGridPerNat) AS BIGINT) AS g
      |       FROM sbs),
      |gh AS (SELECT g, COUNT(*) AS cnt FROM gg GROUP BY 1),
      |gc AS (SELECT g, SUM(cnt) OVER (ORDER BY g ROWS UNBOUNDED PRECEDING) AS cum
      |       FROM gh),
      |gn AS (SELECT COUNT(*) AS n FROM gg),
      |cts AS (SELECT MIN(CASE WHEN cum * 3 >= n THEN g END) AS g1,
      |               MIN(CASE WHEN cum * 3 >= 2 * n THEN g END) AS g2
      |        FROM gc CROSS JOIN gn)""".stripMargin

  private val perplexityBucketsSql =
    s"""WITH $smoothedSurprisalCtes,
      |$pplTertileCtes
      |SELECT gg.doc_id, gg.surprisal,
      |  CASE WHEN gg.g <= c.g1 THEN 'head'
      |       WHEN gg.g <= c.g2 THEN 'middle'
      |       ELSE 'tail' END AS ppl_bucket
      |FROM gg CROSS JOIN cts c
      |ORDER BY gg.doc_id NULLS FIRST""".stripMargin

  /** q104: temperature-scaled mixture rebalancing (T = 2) — the standard
    * softening between q87's fixed rates and q98's full flattening: the
    * keep rate for language l is √(min_cnt / cnt_l), so over-represented
    * languages are damped by the square root of their excess rather than
    * flattened to uniform (the multilingual-pretraining temperature trick
    * with no upsampling — the smallest language's rate is exactly 1).
    * Same engine-portable sample key as q87/q98. Threshold determinism:
    * IEEE 754 sqrt and division are correctly rounded in both engines,
    * so floor(1000·√(min/cnt)) agrees exactly unless the true value is an
    * integer within one ulp — impossible here because 1000·√(min/cnt) is
    * irrational unless min/cnt is a perfect square of a rational with
    * thousandth precision, and the only such fixture case (min=cnt → 1000
    * exactly) is boundary-safe. Same shape as q98 at 100 TB. */
  def mixTemperature(spark: SparkSession, dir: String): DataFrame =
    mixTemperatureOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def mixTemperatureOf(d: DataFrame): DataFrame =
    mixByThreshold(d, temperatureThrOf(langCounts(d)))

  private val mixTemperatureSql =
    s"""WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY 1),
      |m AS (SELECT MIN(cnt) AS min_cnt FROM c),
      |t AS (SELECT lang, $temperatureThrSqlExpr AS thr
      |      FROM c, m),
      |k AS (SELECT doc_id, lang, $sampleKeySqlExpr AS sample_key
      |      FROM documents)
      |SELECT k.doc_id, k.lang, k.sample_key, t.thr
      |FROM k JOIN t USING (lang)
      |WHERE k.sample_key < t.thr
      |ORDER BY k.doc_id NULLS FIRST""".stripMargin

  /** q228: mixture method card — the q201/q208/q217 method-card grammar
    * applied to the lang-keyed sampling family: ONE row per
    * (scheme, lang) for the three certified mixture schemes (q87 fixed
    * per-lang rates, q98 flatten-to-uniform, q104 T=2 temperature)
    * reporting the scheme's integer per-mille threshold next to what it
    * actually keeps on this corpus — docs, whitespace tokens (the q62
    * census unit), and the kept fraction — so the "how should we mix?"
    * decision is priced by measurement rather than folklore (the
    * multilingual-sampling trade surveyed in Conneau & Lample NeurIPS'19
    * §3: fixed editorial rates vs flattening vs temperature damping).
    *
    * Every threshold comes from the SAME expression the standalone
    * sampler executes ([[fixedRateCol]]/[[uniformThrOf]]/
    * [[temperatureThrOf]], with the shared SQL twins in the oracle), and
    * the kept sets replay the samplers' exact join semantics, so each
    * card row is the standalone query in miniature and cannot drift
    * (invisibility law in SemanticsSpec). NULL-lang docs make the
    * family's population asymmetry VISIBLE: q87's CASE keeps them under
    * the default rate (the fixed row can have n_kept > 0), while
    * q98/q104's inner join has no NULL bucket — their card rows pin
    * n_kept = 0 even where thr > 0 (the q98 contract, surfaced instead
    * of implied).
    *
    * Scale shape at 100 TB: one per-lang census (map-side collapsible,
    * #langs rows), then the corpus passes ONCE through a broadcast join
    * against the 3·|langs|-row threshold table (null-safe, so the scan
    * stays single-pass for all three schemes; the per-doc fan-out of 3
    * is codegen'd narrow work), into a ≤3·|langs|-row aggregate — no
    * shuffle of the data itself, same posture as q98. */
  def mixtureMethodCard(spark: SparkSession, dir: String): DataFrame =
    mixtureMethodCardOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def mixtureMethodCardOf(d: DataFrame): DataFrame = {
    val counts = langCounts(d)
    val thrAll =
      counts.select(lit("fixed").as("scheme"), col("lang"), col("cnt"),
          fixedRateCol.cast(LongType).as("thr"))
        .unionByName(uniformThrOf(counts)
          .select(lit("uniform").as("scheme"), col("lang"), col("cnt"), col("thr")))
        .unionByName(temperatureThrOf(counts)
          .select(lit("temperature").as("scheme"), col("lang"), col("cnt"), col("thr")))
    val keys = d.select(col("doc_id"), col("lang"),
      sampleKey.as("sample_key"), size(toks).cast(LongType).as("n_tokens"))
    // ONE corpus pass for all three kept sets: null-safe join so q87's
    // NULL-lang default bucket exists, then the post-join filter removes
    // exactly what q98/q104's non-null-safe inner join never matched
    val kept = keys.join(
        broadcast(thrAll.select(col("scheme"), col("lang").as("tlang"), col("thr"))),
        col("lang") <=> col("tlang"))
      .filter(col("sample_key") < col("thr"))
      .filter(!(col("scheme").isin("uniform", "temperature") && col("lang").isNull))
      .groupBy(col("scheme").as("kscheme"), col("lang").as("klang"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_tokens")).cast(LongType).as("kept_tokens"))
    // pinned broadcast justified: kept is a post-aggregate table of at
    // most 3·|langs| rows (as is thrAll — either side would do)
    thrAll.join(broadcast(kept),
        col("scheme") === col("kscheme") && col("lang") <=> col("klang"), "left")
      .select(col("scheme"), col("lang"), col("cnt"), col("thr"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        round(coalesce(col("n_kept"), lit(0L)).cast(DoubleType) / col("cnt"), 6)
          .as("kept_frac"))
      .orderBy(col("scheme"), col("lang"))
  }

  private val mixtureMethodCardSql =
    s"""WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY 1),
      |m AS (SELECT MIN(cnt) AS min_cnt FROM c),
      |thr AS (
      |  SELECT 'fixed' AS scheme, lang, cnt,
      |         CAST($fixedRateCaseSql AS BIGINT) AS thr FROM c
      |  UNION ALL
      |  SELECT 'uniform', lang, cnt, $uniformThrSqlExpr FROM c, m
      |  UNION ALL
      |  SELECT 'temperature', lang, cnt, $temperatureThrSqlExpr FROM c, m),
      |k AS (SELECT doc_id, lang, $sampleKeySqlExpr AS sample_key,
      |        CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
      |      FROM documents),
      |kept AS (
      |  SELECT t.scheme, t.lang, COUNT(*) AS n_kept,
      |         CAST(SUM(k.n_tokens) AS BIGINT) AS kept_tokens
      |  FROM k JOIN thr t ON k.lang IS NOT DISTINCT FROM t.lang
      |  WHERE k.sample_key < t.thr
      |    AND NOT (t.scheme IN ('uniform', 'temperature') AND t.lang IS NULL)
      |  GROUP BY 1, 2)
      |SELECT t.scheme, t.lang, t.cnt, t.thr,
      |  COALESCE(x.n_kept, 0) AS n_kept,
      |  COALESCE(x.kept_tokens, 0) AS kept_tokens,
      |  ROUND(CAST(COALESCE(x.n_kept, 0) AS DOUBLE) / t.cnt, 6) AS kept_frac
      |FROM thr t LEFT JOIN kept x
      |  ON t.scheme = x.scheme AND t.lang IS NOT DISTINCT FROM x.lang
      |ORDER BY t.scheme NULLS FIRST, t.lang NULLS FIRST""".stripMargin

  override def queries: Seq[GraftQuery] = Seq(
    GraftQuery("q60_word_count", wordCount, Some(wordCountSql)),
    GraftQuery("q61_lang_stats", langStats, Some(langStatsSql)),
    GraftQuery("q62_token_counts", tokenCounts, Some(tokenCountsSql)),
    GraftQuery("q63_quality_scores", qualityScores, Some(qualityScoresSql)),
    GraftQuery("q64_langid_heuristic", langIdHeuristic, Some(langIdHeuristicSql)),
    GraftQuery("q65_fingerprints", fingerprints, Some(fingerprintsSql)),
    GraftQuery("q66_clean_corpus", cleanCorpus, Some(cleanCorpusSql)),
    GraftQuery("q67_train_split", trainSplit, Some(trainSplitSql)),
    GraftQuery("q68_pack_sequences", packSequences, Some(packSequencesSql)),
    GraftQuery("q69_pack_sequences_sharded", packSequencesSharded,
      Some(packSequencesShardedSql)),
    GraftQuery("q86_repetition_signals", repetitionSignals, Some(repetitionSignalsSql)),
    GraftQuery("q87_stratified_sample", stratifiedSample, Some(stratifiedSampleSql)),
    GraftQuery("q88_strip_boilerplate", stripBoilerplate, Some(stripBoilerplateSql)),
    GraftQuery("q89_redact_pii", redactPii, Some(redactPiiSql)),
    GraftQuery("q93_lm_surprisal", lmSurprisal, Some(lmSurprisalSql)),
    GraftQuery("q94_tfidf_terms", tfidfTopTerms, Some(tfidfTopTermsSql)),
    // the posting artifact must be invisible to keyword extraction too:
    // q194 answers to q94's oracle verbatim (the q186≡q183 precedent)
    GraftQuery("q194_tfidf_from_artifact", tfidfFromArtifact,
      Some(tfidfTopTermsSql)),
    GraftQuery("q195_pmi_collocations", pmiCollocations,
      Some(pmiCollocationsSql)),
    GraftQuery("q183_bm25_rank", bm25Rank, Some(bm25RankSql)),
    // the posting artifact must be invisible to searchers: q186 answers
    // to q183's oracle verbatim (the q180≡q136 precedent)
    GraftQuery("q186_bm25_indexed_rank", bm25IndexedRank, Some(bm25RankSql)),
    // the append, like the index, must be invisible: q190 answers to
    // q183's full-corpus definition with the base read from the artifact
    GraftQuery("q190_bm25_posting_append", bm25AppendedRank, Some(bm25RankSql)),
    GraftQuery("q97_chunk_documents", chunkDocuments, Some(chunkDocumentsSql)),
    GraftQuery("q98_mix_to_uniform", mixToUniform, Some(mixToUniformSql)),
    GraftQuery("q102_bpe_merges", bpeMergeCandidates, Some(bpeMergeCandidatesSql)),
    GraftQuery("q205_bpe_train", bpeTrain, Some(bpeTrainSql)),
    GraftQuery("q209_bpe_vocab", bpeVocab, Some(bpeVocabSql)),
    // the persisted merge table must be invisible: q210's served encode
    // answers to the oracle that replays the full train+encode chain
    GraftQuery("q210_bpe_encode_stats", bpeEncodeStats, Some(bpeEncodeStatsSql)),
    GraftQuery("q216_bpe_fertility_card", bpeFertilityCard,
      Some(bpeFertilityCardSql)),
    GraftQuery("q218_bpe_depth_sweep", bpeDepthSweep, Some(bpeDepthSweepSql)),
    GraftQuery("q212_pack_bpe_sequences", packBpeSequences,
      Some(packBpeSequencesSql)),
    GraftQuery("q103_bigram_surprisal", bigramSurprisal, Some(bigramSurprisalSql)),
    GraftQuery("q104_mix_temperature", mixTemperature, Some(mixTemperatureSql)),
    GraftQuery("q110_bigram_surprisal_floored", bigramSurprisalFloored,
      Some(bigramSurprisalFlooredSql)),
    GraftQuery("q207_bigram_surprisal_smoothed", smoothedBigramSurprisal,
      Some(smoothedBigramSurprisalSql)),
    GraftQuery("q211_perplexity_buckets", perplexityBuckets,
      Some(perplexityBucketsSql)),
    GraftQuery("q168_span_corruption", spanCorruption, Some(spanCorruptionSql)),
    GraftQuery("q198_hashed_doc_vectors", hashedDocVectors,
      Some(hashedDocVectorsSql)),
    GraftQuery("q199_source_similarity", sourceSimilarity,
      Some(sourceSimilaritySql)),
    GraftQuery("q228_mixture_method_card", mixtureMethodCard,
      Some(mixtureMethodCardSql)),
  )

  // ---------------------------------------------------------------------
  // q168: span-corruption pretraining examples (T5-style)
  // ---------------------------------------------------------------------

  /** Per-token mask rate as a fraction of 2²⁰ (≈15%, T5's default). */
  val CorruptRate = 157286L // floor(0.15 * 2^20)
  // a fifth multiplicative-hash family (offset +83), independent of
  // q87's rate key (+0), q148's cap (+41), and q162's Gumbel grid (+59)
  private val CorruptOffset = 83L
  private val CorruptModPrime = 1000003L
  private val CorruptMult = 2654435761L
  private val CorruptMod = 1048576L // 2^20

  /** q168: span-corruption EXAMPLE EMISSION (Raffel et al., JMLR 2020 —
    * the T5 denoising objective): mask ~15% of each document's tokens
    * on a deterministic per-(doc, position) hash grid, merge adjacent
    * masked tokens into spans, and emit the (input, target) pair —
    * input replaces each span with `<extra_id_k>`, target lists each
    * sentinel followed by the tokens it hides. This is the operator
    * that turns a curated corpus into actual pretraining examples; the
    * hash grid makes the corruption reproducible across engines, runs,
    * and cluster sizes (q87's auditability contract — re-running the
    * pipeline regenerates bit-identical examples).
    *
    * Scale shape: one explode pass, two windows PARTITIONED BY doc_id
    * (span-start detection and span numbering — state bounded by one
    * document's tokens, every doc an independent partition), and one
    * keyed aggregate that assembles both strings via sorted
    * collect_list. No corpus-global window, no joins at all. */
  def spanCorruption(spark: SparkSession, dir: String): DataFrame =
    spanCorruptionOf(Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  /** DataFrame-level core (testable on any corpus). */
  def spanCorruptionOf(d: DataFrame): DataFrame = {
    val toks = d
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), (col("pos") + 1).cast(LongType).as("idx"),
        col("col").as("tok"))
    val key = pmod(
      pmod(col("doc_id") * lit(131L) + col("idx") + lit(CorruptOffset),
        lit(CorruptModPrime)) * lit(CorruptMult), lit(CorruptMod))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("idx"))
    val sp = toks
      .withColumn("masked", key < CorruptRate)
      .withColumn("startf",
        col("masked") && !coalesce(lag(col("masked"), 1).over(w), lit(false)))
      .withColumn("span_no",
        sum(when(col("startf"), 1L).otherwise(0L)).over(w))
    val sentinel =
      concat(lit("<extra_id_"), (col("span_no") - 1).cast(StringType), lit(">"))
    sp.select(col("doc_id"), col("idx"), col("masked"), col("span_no"),
        when(!col("masked"), col("tok"))
          .when(col("startf"), sentinel).as("ip"),
        when(col("masked") && col("startf"),
            concat(sentinel, lit(" "), col("tok")))
          .when(col("masked"), col("tok")).as("tp"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("masked"), 1L).otherwise(0L)).as("n_masked"),
        max(col("span_no")).as("n_spans"),
        expr("array_join(transform(filter(array_sort(collect_list(struct(idx, ip))), " +
          "s -> s.ip IS NOT NULL), s -> s.ip), ' ')").as("input_text"),
        expr("array_join(transform(filter(array_sort(collect_list(struct(idx, tp))), " +
          "s -> s.tp IS NOT NULL), s -> s.tp), ' ')").as("target_text"))
      .orderBy(col("doc_id"))
  }

  private val spanCorruptionSql =
    s"""WITH toks AS (
      |  SELECT doc_id,
      |    UNNEST(GENERATE_SERIES(1, LEN(STRING_SPLIT(text, ' ')))) AS idx,
      |    UNNEST(STRING_SPLIT(text, ' ')) AS tok
      |  FROM documents),
      |m AS (
      |  SELECT doc_id, idx, tok,
      |    ((((doc_id * 131 + idx + $CorruptOffset) % $CorruptModPrime)
      |      + $CorruptModPrime) % $CorruptModPrime * $CorruptMult)
      |      % $CorruptMod < $CorruptRate AS masked
      |  FROM toks),
      |st AS (
      |  SELECT *, masked AND NOT COALESCE(
      |      LAG(masked) OVER (PARTITION BY doc_id ORDER BY idx), FALSE) AS startf
      |  FROM m),
      |sp AS (
      |  SELECT *, SUM(CASE WHEN startf THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY doc_id ORDER BY idx) AS span_no
      |  FROM st),
      |pieces AS (
      |  SELECT doc_id, idx, masked, span_no,
      |    CASE WHEN NOT masked THEN tok
      |         WHEN startf THEN '<extra_id_' || CAST(span_no - 1 AS VARCHAR) || '>'
      |    END AS ip,
      |    CASE WHEN masked AND startf
      |           THEN '<extra_id_' || CAST(span_no - 1 AS VARCHAR) || '> ' || tok
      |         WHEN masked THEN tok
      |    END AS tp
      |  FROM sp)
      |SELECT doc_id,
      |  COUNT(*) AS n_tokens,
      |  CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
      |  CAST(MAX(span_no) AS BIGINT) AS n_spans,
      |  COALESCE(STRING_AGG(ip, ' ' ORDER BY idx) FILTER (WHERE ip IS NOT NULL),
      |    '') AS input_text,
      |  COALESCE(STRING_AGG(tp, ' ' ORDER BY idx) FILTER (WHERE tp IS NOT NULL),
      |    '') AS target_text
      |FROM pieces
      |GROUP BY doc_id
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q198: hashed TF-IDF doc vectors (feature hashing)
  // ---------------------------------------------------------------------

  /** Feature-hashing width for q198/q199: 32 signed buckets. */
  val HashedVecDims = 32

  /** q198: dense document vectors via the hashing trick (Weinberger et
    * al., "Feature Hashing for Large Scale Multitask Learning", ICML
    * 2009) — each token's TF-IDF weight lands in bucket `tokhash % D`
    * with its sign drawn from the hash's next bit, and the per-doc
    * bucket sums are L2-normalized. This bridges raw text into the
    * vector operators (q80-q84/q96/q182 run on the synthetic
    * `embeddings` table; this derives vectors from `documents` itself)
    * with NO model artifact: the featurizer is a hash function, so it is
    * stateless, embarrassingly parallel, and bit-reproducible on any
    * engine — the DuckDB oracle replays the hash character by character
    * via the shared [[Dedup.polyFoldSql]] fragment.
    *
    * Scale shape: the q94 TF-IDF front (two keyed aggregates over the
    * token universe), then one (doc_id, dim)-keyed sum — output ≤ N·D
    * rows, no corpus-global state, no windows. The long (doc_id, dim, w)
    * form IS the scale form: 100 TB of text streams through the same
    * keyed aggregates without ever materializing a wide row per doc.
    *
    * Determinism: each bucket term is DECIMAL(38,12)-cast BEFORE summing
    * (q93's exact-sum discipline — aggregation order cannot move the
    * result), as is each squared component under the norm; the final
    * divide + ROUND(...,6) then run on identical doubles in both
    * engines. `pmod` here equals `%`: graft_tokhash is already in
    * [0, P), never negative (the q188 ADVICE precedent, documented). */
  def hashedDocVectors(spark: SparkSession, dir: String): DataFrame =
    hashedDocVectorsOf(Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  /** Distinct (doc_id, tok, cnt) counts — the shared front of both
    * featurizer halves. */
  private def tokCntOf(d: DataFrame): DataFrame =
    d.select(col("doc_id"), explode(toks).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))

  /** DataFrame-level core (testable on constructed corpora). The ONE
    * tokCnt subtree feeds both the idf aggregate and the bucket sums —
    * the same two-reference shape q94 runs. */
  def hashedDocVectorsOf(d: DataFrame): DataFrame = {
    val tc = tokCntOf(d)
    vectorsFromCounts(tc, idfFromCounts(tc, d))
  }

  /** The corpus-trained half of q198: the (tok, idf) table — the only
    * corpus-global state the featurizer has. A real pipeline freezes
    * this (like q161's weight table and q188's rate table) and ships it
    * to ingest; StreamingSpec's live twin scores arriving docs through
    * [[hashedVectorsBatch]] against it. */
  def hashedIdfOf(d: DataFrame): DataFrame =
    idfFromCounts(tokCntOf(d), d)

  private def idfFromCounts(tokCnt: DataFrame, d: DataFrame): DataFrame = {
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    // broadcast scalar idiom: the 1-row corpus size under every vocab row
    tokCnt.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .select(col("tok"),
        log(col("n_docs").cast(DoubleType) / col("df")).as("idf"))
  }

  /** The per-doc half: featurize `d` against a FROZEN idf table. Every
    * term is doc-local (tf, bucket, sign, the L2 norm), so a doc's
    * vector depends only on its own tokens + the table — the property
    * that makes stream and batch featurization bit-identical (the
    * StreamingSpec law). Tokens absent from the table contribute
    * nothing (inner join): a frozen vocabulary scores unseen tokens as
    * zero-weight, the standard convention. */
  def hashedVectorsBatch(d: DataFrame, idf: DataFrame): DataFrame =
    vectorsFromCounts(tokCntOf(d), idf)

  private def vectorsFromCounts(tokCnt: DataFrame, idf: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(tokCnt.sparkSession)
    val D = HashedVecDims
    val comp = tokCnt.join(idf, Seq("tok"))
      .withColumn("th", expr("graft_tokhash(tok)"))
      .select(col("doc_id"),
        pmod(col("th"), lit(D.toLong)).cast(IntegerType).as("dim"),
        (when(pmod(expr(s"th div $D"), lit(2L)) === 0L, lit(1)).otherwise(lit(-1))
          * col("cnt") * col("idf")).cast(DecimalType(38, 12)).as("term"))
      .groupBy(col("doc_id"), col("dim"))
      .agg(sum(col("term")).as("w"))
    val wd = col("w").cast(DoubleType)
    val nrm = comp
      .select(col("doc_id"), (wd * wd).cast(DecimalType(38, 12)).as("w2"))
      .groupBy(col("doc_id"))
      .agg(sqrt(sum(col("w2")).cast(DoubleType)).as("nrm"))
    // nrm > 0 guards the divide; a doc with no tokens emits no rows at
    // all (no groupBy domain), and a doc whose terms all cancel exactly
    // is excluded in BOTH engines by the same predicate
    comp.join(nrm, Seq("doc_id"))
      .filter(col("nrm") > 0)
      .select(col("doc_id"), col("dim"), round(wd / col("nrm"), 6).as("w"))
      .orderBy(col("doc_id"), col("dim"))
  }

  /** Oracle CTE `${p}tc` alone — per-doc distinct token counts over
    * `docsTable`, WITHOUT the idf fit. The apply-side half for oracles
    * that featurize one split against a model fit on ANOTHER (q204's
    * val side): emitting only what the query references keeps the
    * oracle text an exact statement of the frozen-idf contract — no
    * unused val-fit idf CTEs that read as if they participate
    * (ADVICE r14). */
  private[operators] def hashedTokCntCte(p: String, docsTable: String): String =
    s"""${p}tc AS MATERIALIZED (SELECT doc_id, tok, COUNT(*) AS cnt
      |        FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok
      |              FROM $docsTable) x GROUP BY 1, 2)""".stripMargin

  /** Oracle CTEs `${p}tc`/`${p}nn`/`${p}idf` — distinct token counts and
    * the idf table over `docsTable`. Split from the vector tail so q204
    * can fit the idf on the TRAIN split and apply it to the val split;
    * composed from [[hashedTokCntCte]] so the token-count definition
    * cannot drift between the fit and apply halves. */
  private[operators] def hashedIdfCtes(p: String, docsTable: String): String =
    s"""${hashedTokCntCte(p, docsTable)},
      |${p}nn AS MATERIALIZED (SELECT COUNT(*) AS n_docs FROM $docsTable),
      |${p}idf AS MATERIALIZED (SELECT tok, LN(CAST(n_docs AS DOUBLE) / COUNT(*)) AS idf
      |        FROM ${p}tc, ${p}nn GROUP BY tok, n_docs)""".stripMargin

  /** Oracle CTEs `${p}th`/`${p}comp`/`${p}nrm`/`${p}vec` — the vector
    * tail: featurize the token counts in `tokCntCte` against the idf
    * table in `idfCte` (inner join: tokens absent from the table
    * contribute nothing — the frozen-vocabulary convention the
    * [[hashedVectorsBatch]] Spark core and the streaming twin follow). */
  private[operators] def hashedVecTailCtes(p: String, tokCntCte: String,
      idfCte: String): String = {
    val D = HashedVecDims
    s"""${p}th AS MATERIALIZED (SELECT doc_id, cnt, idf,
      |         ${Dedup.polyFoldSql("tok", graft.functions.PolyHash.M1)} AS th
      |       FROM $tokCntCte JOIN $idfCte USING (tok)),
      |${p}comp AS MATERIALIZED (SELECT doc_id, CAST(th % $D AS INT) AS dim,
      |    SUM(CAST((CASE WHEN (th // $D) % 2 = 0 THEN 1 ELSE -1 END)
      |        * cnt * idf AS DECIMAL(38,12))) AS w
      |  FROM ${p}th GROUP BY 1, 2),
      |${p}nrm AS MATERIALIZED (SELECT doc_id,
      |    SQRT(CAST(SUM(CAST(CAST(w AS DOUBLE) * CAST(w AS DOUBLE)
      |      AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
      |  FROM ${p}comp GROUP BY 1),
      |${p}vec AS MATERIALIZED (SELECT c.doc_id, c.dim,
      |    ROUND(CAST(c.w AS DOUBLE) / nrm, 6) AS w
      |  FROM ${p}comp c JOIN ${p}nrm USING (doc_id) WHERE nrm > 0)""".stripMargin
  }

  /** Oracle CTEs ending in `vec` = (doc_id, dim, w) unit vectors over
    * `documents` — shared VERBATIM by the q198/q199/q202/q203 oracles so
    * the featurizer definition cannot drift between them; composed from
    * the two halves above so q204's split-fit variant cannot drift
    * either. */
  private[operators] val hashedDocVectorsCtes: String =
    hashedIdfCtes("", "documents") + ",\n" + hashedVecTailCtes("", "tc", "idf")

  private val hashedDocVectorsSql =
    s"""WITH $hashedDocVectorsCtes
      |SELECT doc_id, dim, w FROM vec
      |ORDER BY doc_id NULLS FIRST, dim""".stripMargin

  // ---------------------------------------------------------------------
  // q199: source semantic-similarity matrix
  // ---------------------------------------------------------------------

  /** q199: the source×source semantic-similarity matrix — cosine between
    * per-source centroid DIRECTIONS of the q198 unit vectors. What a
    * mixture designer (q98/q104/q188) reads next to the q123 datacard:
    * two sources whose centroids nearly coincide are interchangeable
    * supply; a low-similarity source adds coverage the others lack.
    * Centroids are plain SUMS of member unit vectors — cosine is
    * scale-invariant, so dividing by the member count would cancel and
    * the sum needs no second doc-count aggregate.
    *
    * Scale shape: q198's keyed aggregates, one (source, dim) sum
    * (≤ #sources × D rows — model-sized), then a dim-keyed self-join
    * over that tiny table: O(#sources² · D) pair terms, never
    * corpus-sized. NULL-source docs contribute a centroid row but the
    * strict `source_a < source_b` inequality excludes them from the
    * matrix in BOTH engines (NULL comparisons are NULL); sources whose
    * vectors share no bucket get no row — their cosine is exactly 0. */
  def sourceSimilarity(spark: SparkSession, dir: String): DataFrame =
    sourceSimilarityOf(Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("source")))

  /** DataFrame-level core (testable on constructed corpora). */
  def sourceSimilarityOf(d: DataFrame): DataFrame = {
    val vec = hashedDocVectorsOf(d.select(col("doc_id"), col("text")))
    // unit components re-enter exact summation as DECIMAL(38,12): the
    // rounded doubles are ≤ 6 decimal digits, so the cast is exact and
    // the per-(source, dim) sum is aggregation-order-independent
    // the centroid table (≤ #sources × D rows — model-sized) fronts the
    // corpus-sized featurizer and is referenced three times below (both
    // sides of the dim-keyed self-join + the norm branch): ScopedCache
    // it so the featurizer runs once even when exchange reuse doesn't
    // cover a branch (ADVICE r14; repo doubly-referenced-subtree rule)
    val cen = graft.functions.ScopedCache.persist("textops.srcsim.cen",
      vec.join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"), col("dim"))
        .agg(sum(col("w").cast(DecimalType(38, 12))).as("sw"))
        .select(col("source"), col("dim"), col("sw").cast(DoubleType).as("swd")))
    val nrm = cen
      .select(col("source"),
        (col("swd") * col("swd")).cast(DecimalType(38, 12)).as("s2"))
      .groupBy(col("source")).agg(sqrt(sum(col("s2")).cast(DoubleType)).as("nrm"))
    val dots = cen.as("a").join(cen.as("b"), Seq("dim"))
      .filter(col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        (col("a.swd") * col("b.swd")).cast(DecimalType(38, 12)).as("p"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(col("p")).as("dot"))
    dots
      .join(nrm.select(col("source").as("source_a"), col("nrm").as("nrm_a")),
        Seq("source_a"))
      .join(nrm.select(col("source").as("source_b"), col("nrm").as("nrm_b")),
        Seq("source_b"))
      .filter(col("nrm_a") > 0 && col("nrm_b") > 0)
      .select(col("source_a"), col("source_b"),
        round(col("dot").cast(DoubleType) / (col("nrm_a") * col("nrm_b")), 6)
          .as("cos_sim"))
      .orderBy(col("source_a"), col("source_b"))
  }

  private val sourceSimilaritySql =
    s"""WITH $hashedDocVectorsCtes,
      |cen AS (SELECT d.source, v.dim, SUM(CAST(v.w AS DECIMAL(38,12))) AS sw
      |        FROM vec v JOIN documents d USING (doc_id)
      |        GROUP BY 1, 2),
      |cend AS (SELECT source, dim, CAST(sw AS DOUBLE) AS swd FROM cen),
      |snrm AS (SELECT source,
      |    SQRT(CAST(SUM(CAST(swd * swd AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
      |  FROM cend GROUP BY 1),
      |dots AS (SELECT a.source AS source_a, b.source AS source_b,
      |    SUM(CAST(a.swd * b.swd AS DECIMAL(38,12))) AS dot
      |  FROM cend a JOIN cend b ON a.dim = b.dim AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT source_a, source_b,
      |  ROUND(CAST(dot AS DOUBLE) / (x.nrm * y.nrm), 6) AS cos_sim
      |FROM dots
      |JOIN snrm x ON source_a = x.source
      |JOIN snrm y ON source_b = y.source
      |WHERE x.nrm > 0 AND y.nrm > 0
      |ORDER BY source_a NULLS FIRST, source_b NULLS FIRST""".stripMargin
}
