package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftQuery, QueryModule}
import graft.functions.PolyHash
import graft.sources.Tables

/** Corpus-curation operators for LLM training-data pipelines (SURVEY.md
  * §2.12 widening, round 7): within-doc repetition trimming, hashed-feature
  * linear quality classification, per-language quantile gating, Zipf
  * rank-frequency diagnostics, and deterministic random-projection
  * dimensionality reduction over the `documents`/`embeddings` fixtures.
  *
  * Scale posture: q113/q116 are per-doc windows (partitioned by doc or
  * lang — no global sort); q114 is a pure narrow map + one map-side-
  * collapsed aggregate; q115 is a narrow map over embeddings; q117's only
  * global structure is a top-1000 TakeOrderedAndProject over the (already
  * corpus-bounded) vocabulary table. Nothing here joins the corpus to
  * itself.
  *
  * Determinism posture (what makes these oracle-green): every floating
  * value is either a single division of exact integers, a literal-parsed
  * constant, or a DECIMAL(38,12)-summed series (q93's pattern — decimal
  * addition is associative, so partial-aggregation order cannot change
  * the result), and every rank orders on a full tiebreak.
  */
object Curation extends QueryModule {

  private def toks = split(col("text"), " ")

  // ---------------------------------------------------------------------
  // q113: within-doc run collapse
  // ---------------------------------------------------------------------

  /** Maximum surviving occurrences of a token within one consecutive run
    * ("ha ha ha ha" → "ha ha"). 2 keeps legitimate doubling ("had had",
    * "very very") while trimming elongated repetition spam. */
  val MaxRunLen = 2

  /** q113: within-document repetition trimming — collapse every run of
    * consecutive identical tokens to at most [[MaxRunLen]] occurrences and
    * rebuild the document in order. The standard cleaning step for
    * elongated-repetition spam (the *signal* version is q86; this is the
    * transform). Runs are identified with two per-doc windows (change-flag
    * → prefix-sum run id → rank within run); all windows partition by
    * doc_id, so per-task memory is bounded by the largest single document
    * and the operator scales horizontally with the corpus. */
  def collapseRepeats(spark: SparkSession, dir: String): DataFrame =
    collapseRepeatsOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def collapseRepeatsOf(d: DataFrame): DataFrame = {
    val tok = d.select(col("doc_id"), posexplode(toks).as(Seq("pos", "tok")))
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // change flag via null-safe compare: the first token of a doc has no
    // predecessor (lag = NULL) and must start a new run
    val runs = tok
      .withColumn("chg",
        when(lag(col("tok"), 1).over(byPos) <=> col("tok"), lit(0)).otherwise(lit(1)))
      .withColumn("run_id",
        sum(col("chg")).over(byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val inRun = Window.partitionBy(col("doc_id"), col("run_id")).orderBy(col("pos"))
    val kept = runs
      .withColumn("rk", row_number().over(inRun))
      .filter(col("rk") <= lit(MaxRunLen))
    // order-preserving rebuild (q88's idiom): per-doc memory = the doc
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")),
          " ").as("clean_text"))
    d.select(col("doc_id"), size(toks).as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  private val collapseRepeatsSql =
    s"""WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
      |tok AS (SELECT doc_id, u.pos AS pos, u.tok AS tok
      |        FROM (SELECT doc_id, UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t)),
      |                i -> struct_pack(pos := i, tok := t[i]))) AS u
      |              FROM toks) x),
      |chg AS (SELECT doc_id, pos, tok,
      |          CASE WHEN tok IS NOT DISTINCT FROM
      |                 LAG(tok) OVER (PARTITION BY doc_id ORDER BY pos)
      |               THEN 0 ELSE 1 END AS chg
      |        FROM tok),
      |runs AS (SELECT doc_id, pos, tok,
      |           SUM(chg) OVER (PARTITION BY doc_id ORDER BY pos
      |                          ROWS UNBOUNDED PRECEDING) AS run_id
      |         FROM chg),
      |kept AS (SELECT doc_id, pos, tok,
      |           ROW_NUMBER() OVER (PARTITION BY doc_id, run_id ORDER BY pos) AS rk
      |         FROM runs),
      |rb AS (SELECT doc_id, COUNT(*) AS n_kept,
      |         ARRAY_TO_STRING(LIST(tok ORDER BY pos), ' ') AS clean_text
      |       FROM kept WHERE rk <= $MaxRunLen GROUP BY doc_id)
      |SELECT d.doc_id, CAST(LEN(STRING_SPLIT(d.text, ' ')) AS INT) AS n_tokens,
      |  CAST(COALESCE(rb.n_kept, 0) AS BIGINT) AS n_kept,
      |  COALESCE(rb.clean_text, '') AS clean_text
      |FROM documents d LEFT JOIN rb ON d.doc_id = rb.doc_id
      |ORDER BY d.doc_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q114: hashed-feature linear quality classifier
  // ---------------------------------------------------------------------

  /** Feature-hashing parameters for the linear scorer. The polynomial
    * base/prefix bound the per-token hash to < 31^8 ≈ 8.5e11 (no 64-bit
    * overflow); the LCG constants map a feature id to a deterministic
    * weight in [-1000, 1000]. A trained model would replace the LCG with
    * a learned weight table — the *dataflow* (hash → weight → sum) is the
    * production shape either way. All operands stay non-negative, so `%`
    * agrees between engines without the pmod dance (q67's trap). */
  val FeatHashChars = 8
  val FeatHashBase = 31L
  val FeatSpace = 1048576L // 2^20 hashed-feature buckets
  val FeatLcgMult = 1103515245L
  val FeatLcgAdd = 12345L
  val FeatLcgMod = 2147483647L
  val FeatWeightRange = 2001L // weights in [-1000, 1000]

  /** The per-token weight as a Column: polynomial hash over the first
    * [[FeatHashChars]] characters → feature bucket → LCG-derived integer
    * weight. Pure codegen'd arithmetic (ascii/substring/CASE) — no UDF,
    * no lookup join, no shuffle. */
  private def tokenWeight(tok: Column): Column = {
    val poly = (0 until FeatHashChars).foldLeft(lit(0L)) { (acc, i) =>
      val c = when(length(tok) > lit(i), ascii(substring(tok, i + 1, 1)).cast(LongType))
        .otherwise(lit(0L))
      acc + c * lit(powL(FeatHashBase, i))
    }
    val feat = poly % lit(FeatSpace)
    (feat * lit(FeatLcgMult) + lit(FeatLcgAdd)) % lit(FeatLcgMod) % lit(FeatWeightRange) - lit(1000L)
  }

  private def powL(b: Long, e: Int): Long = (0 until e).foldLeft(1L)((a, _) => a * b)

  /** The same weight formula as a SQL expression over a token column
    * reference — generated from the SAME constants so plan and oracle
    * cannot drift. */
  private def tokenWeightSqlExpr(tok: String): String = {
    val poly = (0 until FeatHashChars).map { i =>
      s"(CASE WHEN LEN($tok) > $i THEN CAST(ASCII(SUBSTR($tok, ${i + 1}, 1)) AS BIGINT)" +
        s" ELSE 0 END) * ${powL(FeatHashBase, i)}"
    }.mkString("(", " + ", ")")
    s"(($poly % $FeatSpace) * $FeatLcgMult + $FeatLcgAdd) % $FeatLcgMod % $FeatWeightRange - 1000"
  }

  /** q114: model-based quality filtering with hashed features — the
    * fasttext-style linear classifier shape: token → hashed feature
    * bucket → weight, document score = mean weight, keep iff positive.
    * The whole scorer is narrow per-row arithmetic (explode + codegen'd
    * ascii/CASE terms) followed by ONE map-side-collapsed per-doc sum:
    * at 100 TB it is scan-bound, and swapping the arithmetic weights for
    * a learned table turns the explode into the same plan q93 uses
    * (AQE-broadcast vocab join) with nothing else changing. */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame =
    qualityClassifierOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def qualityClassifierOf(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("lang"), explode(toks).as("tok"))
      .select(col("doc_id"), col("lang"), tokenWeight(col("tok")).as("w"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("w_sum"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("w_sum"),
        // one division of exact integers → bit-identical across engines
        (col("w_sum").cast(DoubleType) / col("n_tokens")).as("score"),
        (col("w_sum") > 0).as("keep"))
      .orderBy(col("doc_id"))

  /** q114's CTE chain ending in `s(doc_id, lang, n_tokens, w_sum)` —
    * shared VERBATIM by the q114 and q169 oracles so the classifier
    * definition cannot drift between the scores and the lift audit. */
  private val classifierCtes =
    s"""tok AS (SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok
      |             FROM documents),
      |w AS (SELECT doc_id, lang, ${tokenWeightSqlExpr("tok")} AS w FROM tok),
      |s AS (SELECT doc_id, lang, COUNT(*) AS n_tokens, CAST(SUM(w) AS BIGINT) AS w_sum
      |      FROM w GROUP BY 1, 2)""".stripMargin

  private val qualityClassifierSql =
    s"""WITH $classifierCtes
      |SELECT doc_id, lang, n_tokens, w_sum,
      |  CAST(w_sum AS DOUBLE) / n_tokens AS score,
      |  w_sum > 0 AS keep
      |FROM s
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q116: per-language quality-quantile gate
  // ---------------------------------------------------------------------

  /** Keep documents at or above this percent_rank of lexical diversity
    * within their own language. */
  val QualityKeepFrac = 0.5

  /** q116: per-language quantile gating — rank each document's lexical
    * diversity (q63's core signal) WITHIN its language and keep the top
    * half. Quantile-per-stratum is how real pipelines apply a quality
    * model without letting high-resource languages starve low-resource
    * ones (an absolute threshold would).
    *
    * A naive `percent_rank() OVER (PARTITION BY lang ...)` puts a whole
    * language in ONE window partition — a handful of giant tasks at
    * 100 TB. This computes the IDENTICAL rank with bounded state
    * instead: rank = (#docs with strictly smaller diversity, from a
    * per-(lang, value) count table whose cardinality is value-bounded,
    * not corpus-bounded) + (row_number within the tie group, a window
    * partitioned by (lang, diversity) whose partitions are tie groups).
    * percent_rank = (rank − 1)/(n_lang − 1) then matches the oracle's
    * window form bit-for-bit (one division of exact integers). */
  def qualityFilterPerLang(spark: SparkSession, dir: String): DataFrame =
    qualityFilterPerLangOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def qualityFilterPerLangOf(d: DataFrame): DataFrame = {
    val scored = d.select(
      col("doc_id"), col("lang"),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_distinct"))
      .withColumn("diversity",
        col("n_distinct").cast(DoubleType) / col("n_tokens"))
    val nLang = scored.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    // distinct (lang, diversity) counts: diversity is n_distinct/n_tokens,
    // so cardinality is bounded by (doc length)² pairs, not by the corpus
    val vals = scored.groupBy(col("lang"), col("diversity"))
      .agg(count(lit(1)).as("c"))
    val byVal = Window.partitionBy(col("lang")).orderBy(col("diversity"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val below = vals
      .withColumn("cum", sum(col("c")).over(byVal))
      .select(col("lang"), col("diversity"), (col("cum") - col("c")).as("below"))
    val tieW = Window.partitionBy(col("lang"), col("diversity")).orderBy(col("doc_id"))
    scored
      .withColumn("tie_rk", row_number().over(tieW))
      .join(below, Seq("lang", "diversity"))
      .join(broadcast(nLang), Seq("lang"))
      .withColumn("pr",
        when(col("n_lang") > 1,
          (col("below") + col("tie_rk") - lit(1L)).cast(DoubleType) /
            (col("n_lang") - lit(1L)))
          .otherwise(lit(0.0)))
      .filter(col("pr") >= lit(QualityKeepFrac))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_distinct"),
        col("diversity"), col("pr"))
      .orderBy(col("doc_id"))
  }

  private val qualityFilterPerLangSql =
    s"""WITH s AS (
      |  SELECT doc_id, lang,
      |    CAST(LEN(toks) AS INT) AS n_tokens,
      |    CAST(LEN(LIST_DISTINCT(toks)) AS INT) AS n_distinct
      |  FROM (SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS toks FROM documents) a),
      |r AS (
      |  SELECT doc_id, lang, n_tokens, n_distinct,
      |    CAST(n_distinct AS DOUBLE) / n_tokens AS diversity
      |  FROM s),
      |p AS (
      |  SELECT doc_id, lang, n_tokens, n_distinct, diversity,
      |    PERCENT_RANK() OVER (PARTITION BY lang ORDER BY diversity, doc_id) AS pr
      |  FROM r)
      |SELECT doc_id, lang, n_tokens, n_distinct, diversity, pr
      |FROM p WHERE pr >= $QualityKeepFrac
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q117: Zipf rank-frequency diagnostics
  // ---------------------------------------------------------------------

  /** Regression head: the slope is fit over the top-N vocabulary ranks
    * (Zipf's law is a statement about the head; the tail is hapax noise).
    * Also what bounds the cost: the only global structure in the query is
    * a top-1000 TakeOrderedAndProject over the vocabulary table. */
  val ZipfHead = 1000

  /** Ranks counted as "head coverage" in the summary row. */
  val ZipfCoverTop = 100

  /** q117: corpus token-distribution diagnostics — vocabulary size, total
    * tokens, top-[[ZipfCoverTop]] mass fraction, and the Zipf slope (the
    * least-squares slope of ln(freq) on ln(rank) over the top-
    * [[ZipfHead]] ranks; healthy natural-language corpora sit near −1,
    * and a big departure flags synthetic/spam admixture). The regression
    * sums are DECIMAL(38,12)-cast per-row doubles (q93's pattern), so
    * partial-aggregation order cannot perturb the slope; ranks tiebreak
    * on the token itself. Emits ONE row — the shape of a corpus health
    * dashboard feed. */
  def zipfStats(spark: SparkSession, dir: String): DataFrame =
    zipfStatsOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def zipfStatsOf(d: DataFrame): DataFrame = {
    val uni = d.select(explode(toks).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val totals = uni.agg(
      count(lit(1)).as("vocab_size"),
      sum(col("cnt")).as("total_tokens"))
    // top-N head with deterministic ranks; limit-then-window keeps the
    // global sort a TakeOrderedAndProject instead of a full exchange
    val head = uni.orderBy(col("cnt").desc, col("tok")).limit(ZipfHead)
      .withColumn("r",
        row_number().over(Window.orderBy(col("cnt").desc, col("tok"))))
    val dec = DecimalType(38, 12)
    val lx = log(col("r").cast(DoubleType))
    val ly = log(col("cnt").cast(DoubleType))
    val fit = head.select(
      col("r"), col("cnt"),
      lx.cast(dec).as("x"), ly.cast(dec).as("y"),
      (lx * lx).cast(dec).as("xx"), (lx * ly).cast(dec).as("xy"),
      when(col("r") <= ZipfCoverTop, col("cnt")).otherwise(lit(0L)).as("top_cnt"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).cast(DoubleType).as("sx"),
        sum(col("y")).cast(DoubleType).as("sy"),
        sum(col("xx")).cast(DoubleType).as("sxx"),
        sum(col("xy")).cast(DoubleType).as("sxy"),
        sum(col("top_cnt")).as("top_mass"))
    fit.crossJoin(broadcast(totals))
      .select(
        col("vocab_size"), col("total_tokens"), col("n").as("head_n"),
        round((col("n").cast(DoubleType) * col("sxy") - col("sx") * col("sy")) /
          (col("n").cast(DoubleType) * col("sxx") - col("sx") * col("sx")), 6)
          .as("zipf_slope"),
        round(col("top_mass").cast(DoubleType) / col("total_tokens"), 6)
          .as("top100_frac"))
  }

  private val zipfStatsSql =
    s"""WITH uni AS (SELECT tok, COUNT(*) AS cnt
      |             FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tok
      |                   FROM documents) x GROUP BY 1),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
      |               CAST(SUM(cnt) AS BIGINT) AS total_tokens FROM uni),
      |head AS (SELECT tok, cnt,
      |           ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS r
      |         FROM uni ORDER BY cnt DESC, tok LIMIT $ZipfHead),
      |fit AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |          CAST(SUM(CAST(LN(CAST(r AS DOUBLE)) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
      |          CAST(SUM(CAST(LN(CAST(cnt AS DOUBLE)) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
      |          CAST(SUM(CAST(LN(CAST(r AS DOUBLE)) * LN(CAST(r AS DOUBLE))
      |                 AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
      |          CAST(SUM(CAST(LN(CAST(r AS DOUBLE)) * LN(CAST(cnt AS DOUBLE))
      |                 AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
      |          CAST(SUM(CASE WHEN r <= $ZipfCoverTop THEN cnt ELSE 0 END) AS BIGINT)
      |            AS top_mass
      |        FROM head)
      |SELECT vocab_size, total_tokens, n AS head_n,
      |  ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
      |        / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS zipf_slope,
      |  ROUND(CAST(top_mass AS DOUBLE) / total_tokens, 6) AS top100_frac
      |FROM fit, tot""".stripMargin

  // ---------------------------------------------------------------------
  // q115: deterministic random-projection dimensionality reduction
  // ---------------------------------------------------------------------

  /** Projection geometry + LCG matrix constants: aliased from the native
    * kernel ([[graft.functions.RandomProjectKernel]]) so the kernel, this
    * plan, and the oracle SQL generated below share ONE definition. The
    * matrix entry for flat index k = j*[[RpInDim]]+i is
    * (k*Mult + Add) % Mod % Range − 1000, scaled to [−1, 1] — pure
    * integer arithmetic, no literal table to ship. A learned/Gaussian
    * matrix would arrive as a broadcast k×d table instead; the dataflow
    * is unchanged. */
  val RpInDim: Int = graft.functions.RandomProjectKernel.InDim
  val RpOutDim: Int = graft.functions.RandomProjectKernel.OutDim
  val RpMult: Long = graft.functions.RandomProjectKernel.Mult
  val RpAdd: Long = graft.functions.RandomProjectKernel.Add
  val RpMod: Long = graft.functions.RandomProjectKernel.Mod
  val RpRange: Long = graft.functions.RandomProjectKernel.Range

  /** Output column j: the native [[graft.functions.RandomProjectCol]]
    * kernel — per-element products quantized to scale-12 decimals
    * (exactly Spark's double→DECIMAL(_,12) cast) and summed exactly,
    * then cast double and rounded to 6. Semantically identical to a
    * `aggregate(...)` DECIMAL fold in SQL, but hand-evaluated: the
    * 16-fold interpreted-HOF formulation this replaced measured 4.8 s at
    * sf0.1; the kernel is sub-second. */
  private def rpProjExpr(j: Int): String =
    s"graft_random_project(embedding, $j)"

  /** q115: random-projection dimensionality reduction (Johnson-
    * Lindenstrauss-style, deterministic) — 64-d embeddings to 16-d with a
    * pseudo-random ±sign-magnitude matrix derived from integer
    * arithmetic. THE preprocessing step that makes downstream ANN/dedup
    * cheaper: 4× fewer dimensions in every subsequent distance. A pure
    * narrow map (one projected row per input row, no shuffle, no model
    * state); emits 16 scalar double columns (driver-sortable, SmokeSpec
    * guard). */
  def randomProjection(spark: SparkSession, dir: String): DataFrame =
    randomProjectionOf(Tables.embeddings(spark, dir))

  /** DataFrame-level core (testable on constructed vectors). Projection
    * columns are computed ABOVE the presentation sort's range exchange
    * (sort first, then project): a small input can arrive as one file
    * split, and projecting before the exchange would run all 16 kernels
    * in a single task; after it, they spread across the post-shuffle
    * partitions (measured 2.8 s → 0.3 s at sf0.1). At scale the input's
    * own splits parallelize either way. */
  def randomProjectionOf(e: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(e.sparkSession)
    e.select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id"))
      .select(col("vec_id") +:
        (0 until RpOutDim).map(j => expr(rpProjExpr(j)).as(f"p$j%02d")): _*)
  }

  private val randomProjectionSql = {
    val cols = (0 until RpOutDim).map { j =>
      s"ROUND(MAX(CASE WHEN j = $j THEN v END), 6) AS p${"%02d".format(j)}"
    }.mkString(",\n|  ")
    s"""WITH ji AS (SELECT j, i
      |            FROM generate_series(0, ${RpOutDim - 1}) s1(j),
      |                 generate_series(0, ${RpInDim - 1}) s2(i)),
      |prod AS (SELECT e.vec_id, ji.j,
      |    CAST(CAST(e.embedding[ji.i + 1] AS DOUBLE) *
      |      (CAST(((ji.j * $RpInDim + ji.i) * $RpMult + $RpAdd)
      |            % $RpMod % $RpRange - 1000 AS DOUBLE) / 1000.0)
      |    AS DECIMAL(30,12)) AS p
      |  FROM embeddings e, ji),
      |s AS (SELECT vec_id, j, CAST(SUM(p) AS DOUBLE) AS v FROM prod GROUP BY 1, 2)
      |SELECT vec_id,
      |  $cols
      |FROM s GROUP BY vec_id
      |ORDER BY vec_id NULLS FIRST""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q118: heavy hitters (sketch candidates + exact recount)
  // ---------------------------------------------------------------------

  /** Heavy = frequency strictly above 1/[[HhThresholdDen]] of all tokens.
    * Must stay under (capacity+1)⁻¹ = 1/201 for the sketch guarantee;
    * 1/100 leaves a 2× margin. */
  val HhThresholdDen = 100

  /** q118: corpus heavy-hitter report — every token above 1% of total
    * token mass, with exact counts. Two-pass sketch-then-verify shape:
    * a Misra-Gries [[graft.functions.HeavyHittersAgg]] (bounded state:
    * ≤200 counters per partial buffer, any merge order) produces a
    * guaranteed candidate SUPERSET in one pass; a second pass recounts
    * ONLY the ≤200 candidates exactly (broadcast semi-filter, map-side
    * collapse) and applies the threshold. The final output is therefore
    * deterministic and oracle-exact even though the intermediate
    * candidate set is merge-order-dependent — which is exactly why this
    * is the 100 TB form: the alternative (full vocabulary groupBy +
    * having) shuffles the whole vocabulary to answer a ≤200-row
    * question. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    heavyHittersOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def heavyHittersOf(d: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(d.sparkSession)
    val tok = d.select(explode(toks).as("tok"))
    // ONE sketch pass carries the total too — a separate total aggregate
    // was a third full corpus scan+explode for one BIGINT
    val sketch = graft.functions.ScopedCache.persist("q118.sketch",
      tok.agg(expr("graft_heavy_hitters(tok)").as("cands"),
        count(lit(1)).as("n_total")))
    val cands = sketch.select(explode(col("cands")).as("tok"))
    val total = sketch.select(col("n_total"))
    tok.join(broadcast(cands), Seq("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * lit(HhThresholdDen.toLong) > col("n_total"))
      .select(col("tok"), col("cnt"),
        round(col("cnt").cast(DoubleType) / col("n_total"), 6).as("frac"))
      .orderBy(col("cnt").desc, col("tok"))
  }

  private val heavyHittersSql =
    s"""WITH tok AS (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents),
      |uni AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM uni)
      |SELECT tok, CAST(cnt AS BIGINT) AS cnt,
      |  ROUND(CAST(cnt AS DOUBLE) / n_total, 6) AS frac
      |FROM uni, tot
      |WHERE cnt * $HhThresholdDen > n_total
      |ORDER BY cnt DESC NULLS LAST, tok NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q119: curriculum ordering by difficulty decile
  // ---------------------------------------------------------------------

  /** Number of curriculum stages (difficulty deciles). */
  val CurriculumTiles = 10

  /** q119: difficulty-ordered training curriculum — rank every document
    * by its unigram surprisal (q93's score: low = predictable/easy) and
    * assign NTILE-style difficulty deciles, the order a curriculum
    * schedule feeds batches in.
    *
    * The interesting part is HOW the global rank is computed: a plain
    * `ntile() OVER (ORDER BY ...)` is a single-task window over the whole
    * corpus. This builds the identical total rank with bounded state:
    * range-repartition on the sort key, count rows per range partition
    * (one tiny row per partition), prefix-sum those counts into per-
    * partition offsets (a window over #partitions rows), then
    * rank = offset + row_number within the partition. Every task touches
    * only its shuffle-partition's rows; the result is invariant to the
    * (sampled, nondeterministic) range boundaries because the rank is a
    * total order on (surprisal, doc_id). Deciles then come from the
    * standard NTILE closed form on (rank, n). */
  def curriculumOrder(spark: SparkSession, dir: String): DataFrame =
    curriculumOrderOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def curriculumOrderOf(d: DataFrame): DataFrame = {
    val s = TextOps.lmSurprisalOf(d)
      .select(col("doc_id"), col("n_tokens"), col("avg_surprisal_nats"))
    val parts = s.sparkSession.sessionState.conf.numShufflePartitions
    // persist: BOTH consumers (the offsets aggregate and the local-rank
    // branch) must observe the SAME sampled range boundaries. Exchange
    // reuse usually guarantees that, but it is an optimizer courtesy —
    // with it disabled or defeated by a plan change, two independent
    // range exchanges sample different boundaries and offset+lrk would
    // assign wrong ranks silently. Materializing pins one partitioning.
    val ranged = graft.functions.ScopedCache.persist("q119.ranged", s
      .repartitionByRange(parts, col("avg_surprisal_nats"), col("doc_id"))
      .withColumn("pid", spark_partition_id()))
    // per-partition counts -> exclusive prefix sum = rank offsets. The
    // window is over #partitions rows, not corpus rows.
    val offsets = ranged.groupBy(col("pid")).agg(count(lit(1)).as("pc"))
      .withColumn("offset",
        coalesce(
          sum(col("pc")).over(Window.orderBy(col("pid"))
            .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("pid"), col("offset"))
    val n = s.agg(count(lit(1)).as("n_docs"))
    val local = Window.partitionBy(col("pid"))
      .orderBy(col("avg_surprisal_nats"), col("doc_id"))
    // NTILE closed form: with q = n div k, r = n mod k, the first r
    // buckets hold q+1 rows. ceil(a/b) spelled (a+b-1) div b; the q=0
    // case (n < k) never reaches the ELSE branch because (q+1)*r = n.
    val tileExpr =
      s"""CAST(CASE
         |  WHEN rank <= (n_docs DIV $CurriculumTiles + 1) * (n_docs % $CurriculumTiles)
         |    THEN (rank + n_docs DIV $CurriculumTiles)
         |         DIV (n_docs DIV $CurriculumTiles + 1)
         |  ELSE (n_docs % $CurriculumTiles)
         |       + (rank - (n_docs DIV $CurriculumTiles + 1) * (n_docs % $CurriculumTiles)
         |          + n_docs DIV $CurriculumTiles - 1)
         |         DIV (n_docs DIV $CurriculumTiles)
         |END AS BIGINT)""".stripMargin
    ranged
      .withColumn("lrk", row_number().over(local))
      .join(broadcast(offsets), Seq("pid"))
      .crossJoin(broadcast(n))
      .withColumn("rank", col("offset") + col("lrk"))
      .withColumn("decile", expr(tileExpr))
      .select(col("doc_id"), col("n_tokens"), col("avg_surprisal_nats"),
        col("rank"), col("decile"))
      .orderBy(col("rank"))
  }

  private val curriculumOrderSql =
    s"""WITH srp AS (${TextOps.lmSurprisalSql})
      |SELECT doc_id, n_tokens, avg_surprisal_nats,
      |  ROW_NUMBER() OVER (ORDER BY avg_surprisal_nats, doc_id) AS rank,
      |  NTILE($CurriculumTiles) OVER (ORDER BY avg_surprisal_nats, doc_id) AS decile
      |FROM srp
      |ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------------
  // q120: per-source epoch/repetition plan
  // ---------------------------------------------------------------------

  /** Epoch-plan knobs: temperature-2 source weights (∝ √tokens) against a
    * budget of one corpus-size worth of tokens, with per-source
    * repetition capped at 4 epochs (the standard guard against
    * overfitting a tiny source). */
  val EpochCap = 4.0

  /** q120: mixture epoch planning — the table a training run is
    * provisioned from: for each source, its measured size, its
    * temperature-smoothed target share of the token budget, and the
    * resulting repetition factor (epochs), capped at [[EpochCap]].
    * q98/q104 DOWN-sample documents to hit a mixture; this emits the
    * budget-level plan that decides how many times each source is
    * repeated. One narrow map + a #sources-row aggregate — the whole
    * plan is scan-bound with a scalar broadcast, at any corpus size. */
  def epochPlan(spark: SparkSession, dir: String): DataFrame =
    epochPlanOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def epochPlanOf(d: DataFrame): DataFrame = {
    val per = d.select(col("source"), size(toks).as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    // √tokens summed as DECIMAL so the normalizer is order-independent
    val tot = per.agg(
      sum(col("n_tokens")).as("total_tokens"),
      sum(sqrt(col("n_tokens").cast(DoubleType)).cast(DecimalType(38, 12)))
        .cast(DoubleType).as("sw"))
    val w = sqrt(col("n_tokens").cast(DoubleType)) / col("sw")
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(w, 6).as("weight"),
        round(w * col("total_tokens"), 6).as("planned_tokens"),
        round(least(lit(EpochCap), w * col("total_tokens") / col("n_tokens")), 6)
          .as("epochs"))
      .orderBy(col("source"))
  }

  private val epochPlanSql =
    s"""WITH per AS (SELECT source, COUNT(*) AS n_docs,
      |        CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens
      |      FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      |          CAST(SUM(CAST(SQRT(CAST(n_tokens AS DOUBLE)) AS DECIMAL(38,12)))
      |            AS DOUBLE) AS sw
      |        FROM per)
      |SELECT source, n_docs, n_tokens,
      |  ROUND(SQRT(CAST(n_tokens AS DOUBLE)) / sw, 6) AS weight,
      |  ROUND(SQRT(CAST(n_tokens AS DOUBLE)) / sw * total_tokens, 6)
      |    AS planned_tokens,
      |  ROUND(LEAST($EpochCap, SQRT(CAST(n_tokens AS DOUBLE)) / sw * total_tokens
      |              / n_tokens), 6) AS epochs
      |FROM per, tot
      |ORDER BY source NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q188: deterministic domain-mixture sampling
  // ---------------------------------------------------------------------

  /** Target sample size as a fraction of the corpus. */
  val MixtureBudget = 0.5

  /** Fibonacci multiplier (Knuth's 32-bit multiplicative-hash prime near
    * ⌊2³²/φ⌋ = 2654435769, Knuth §6.4) for the engine-portable uniform
    * hash below. */
  val MixMult = 2654435761L

  /** Per-doc uniform draw in [0, 1e6) — `(doc_id · [[MixMult]]) mod 1e6`,
    * exact int64 arithmetic any engine replays bit-for-bit (the oracle
    * twin of a production xxhash64 draw; same plan shape, swap the
    * expression). Multiplicative hashing disperses sequential ids well
    * and the mod-1e6 bucket is compared against an INTEGER ppm
    * threshold, so the Bernoulli test never touches a float.
    *
    * Both factors reduce mod 1e6 BEFORE the multiply — (a·b) mod m =
    * ((a mod m)·(b mod m)) mod m, and the reduced product is < 1e12, so
    * the draw never overflows int64 for ANY doc_id (the naive product
    * wraps past doc_id ≈ 3.5e9, where a wrapped-negative Spark result
    * and a strict engine's overflow error would silently diverge).
    * Spark's pmod is always non-negative while SQL `%` is
    * sign-preserving, so the oracle twin adds +1e6 before its outer mod
    * — pmod-equivalent, keeping the engines aligned for negative
    * doc_ids too (ADVICE r13). */
  private def mixDraw(id: Column): Column =
    pmod(pmod(id, lit(1000000L)) * lit(MixMult % 1000000L), lit(1000000L))

  /** q188: materialized domain-mixture sample — the per-doc draw that
    * EXECUTES a √-temperature mixture plan (q120 computes the plan; this
    * emits the actual training subset). Per-source rate = min(1,
    * budget·N·w_s/n_s) with w_s = √n_s / Σ√n_t — small sources are
    * upweighted toward uniform, big sources capped, the multilingual-
    * training resampling rule. The rate quantizes to integer PPM and each
    * doc keeps iff its [[mixDraw]] < ppm: sampling is deterministic
    * (reproducible training sets, stable A/Bs) and engine-exact.
    *
    * Scale posture: the rate table is one row per source — a broadcast
    * join onto a narrow (doc_id, source) scan; the draw is per-row
    * integer arithmetic inside codegen; no shuffle beyond the 20-row
    * aggregate. The √-weight normalizer sums as DECIMAL (order-
    * independent) exactly like q120. */
  def mixtureSample(spark: SparkSession, dir: String): DataFrame =
    mixtureSampleOf(Tables.documents(spark, dir))

  /** Frozen half of q188: the per-source PPM rate table — the artifact
    * a real pipeline trains on the corpus census and ships to ingest. */
  def mixtureRateTable(d: DataFrame): DataFrame = {
    val per = d.select(col("source")).groupBy(col("source"))
      .agg(count(lit(1)).as("n"))
    val tot = per.agg(sum(col("n")).as("n_total"),
      sum(sqrt(col("n").cast(DoubleType)).cast(DecimalType(38, 12)))
        .cast(DoubleType).as("sw"))
    val rate = least(lit(1.0),
      lit(MixtureBudget) * col("n_total") * (sqrt(col("n").cast(DoubleType)) / col("sw"))
        / col("n"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), round(rate * 1e6).cast(LongType).as("rate_ppm"))
  }

  /** Gate a (doc_id, source) batch through a FROZEN rate table — ONE
    * kernel shared by the batch sampler and the streaming ingest twin,
    * so a doc's keep decision cannot depend on whether it arrived in
    * batch or in the stream. Null-safe on source (`<=>`, like q189's
    * shard packing): [[mixtureRateTable]]'s census groups NULL sources
    * into their own row with their own rate, so an inner equi-join
    * (which never matches NULL = NULL) would silently drop those docs
    * while still counting them in n_total and sw — inflating every
    * other source's effective rate past the stated budget (ADVICE r13). */
  def mixtureGate(batch: DataFrame, rates: DataFrame): DataFrame =
    batch.select(col("doc_id"), col("source"))
      .join(broadcast(rates.withColumnRenamed("source", "rsrc")),
        col("source") <=> col("rsrc"))
      .filter(mixDraw(col("doc_id")) < col("rate_ppm"))
      .select(col("doc_id"), col("source"), col("rate_ppm"))

  /** DataFrame-level core (testable on constructed corpora). */
  def mixtureSampleOf(d: DataFrame): DataFrame =
    mixtureGate(d.select(col("doc_id"), col("source")), mixtureRateTable(d))
      .orderBy(col("doc_id"))

  private val mixtureSampleSql =
    s"""WITH per AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total,
      |          CAST(SUM(CAST(SQRT(CAST(n AS DOUBLE)) AS DECIMAL(38,12)))
      |            AS DOUBLE) AS sw
      |        FROM per),
      |rates AS (SELECT source,
      |            CAST(ROUND(LEAST(CAST(1.0 AS DOUBLE),
      |              $MixtureBudget * n_total * (SQRT(CAST(n AS DOUBLE)) / sw) / n)
      |              * 1e6) AS BIGINT) AS rate_ppm
      |          FROM per, tot)
      |SELECT d.doc_id, d.source, r.rate_ppm
      |FROM documents d
      |JOIN rates r ON d.source IS NOT DISTINCT FROM r.source
      |WHERE (((d.doc_id % 1000000 + 1000000) % 1000000)
      |       * ${MixMult % 1000000L}) % 1000000 < r.rate_ppm
      |ORDER BY d.doc_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q189: token-budget shard packing
  // ---------------------------------------------------------------------

  /** Tokens per training shard — fixture-scaled so even the sf0.01
    * correctness gate exercises shard boundaries (production uses
    * whatever its file-size target dictates; the plan is budget-
    * independent). */
  val ShardTokenBudget = 4000L

  /** q189: pack the corpus into contiguous fixed-token-budget training
    * shards — the step that turns a curated document set into the
    * equal-sized files a distributed trainer actually reads. Docs are
    * packed in (source, doc_id) order; a doc lands in the shard its
    * FIRST token falls in (start-offset assignment), so shard spans are
    * contiguous and every shard except the last carries ≥ budget −
    * (maxdoc − 1) tokens. All arithmetic is exact integer division —
    * nothing to round.
    *
    * Scale posture: the global running sum is TWO-LEVEL, never a
    * single-partition window over the corpus — a per-source cumulative
    * sum (window partitioned by source; at 100 TB the same plan
    * partitions by file/split id) plus a per-source token-total offset
    * computed on the |sources|-row aggregate and broadcast back. The
    * one tiny window over the aggregate is bounded by the source count,
    * not the corpus. */
  def shardPack(spark: SparkSession, dir: String): DataFrame =
    shardPackOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def shardPackOf(d: DataFrame, budget: Long = ShardTokenBudget): DataFrame = {
    val t = d.select(col("doc_id"), col("source"),
      size(toks).cast(LongType).as("n_tokens"))
    // within-source running total (ends AT each doc, inclusive)
    val sw = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // per-source offsets: a window over the |sources|-row aggregate
    val ow = Window.orderBy(col("source"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = t.groupBy(col("source")).agg(sum(col("n_tokens")).as("stot"))
      .select(col("source"),
        coalesce(sum(col("stot")).over(ow), lit(0L)).as("off"))
    t.withColumn("cum", sum(col("n_tokens")).over(sw))
      // null-safe (<=>) so a NULL source neither drops its docs (an
      // inner equi-join never matches NULL=NULL) nor diverges from the
      // oracle's join-free global cumsum, which keeps every row
      .join(broadcast(offs.withColumnRenamed("source", "osrc")),
        col("source") <=> col("osrc"))
      .drop("osrc")
      // start offset of this doc's first token, then exact int division
      // (SQL `div`, not `/`: Spark's `/` on longs is DOUBLE division)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        expr(s"(off + cum - n_tokens) div ${budget}L").as("shard_id"))
      .orderBy(col("doc_id"))
  }

  /** q191: the shard MANIFEST — per-shard document count, token sum, and
    * contributing-source count, the accounting table a distributed
    * trainer's data loader actually reads (and the balance audit for
    * q189: every shard except the last must carry ≈ the budget).
    *
    * Scale posture: one aggregation over q189's packing output. The
    * source-distinct count is TWO-LEVEL — groupBy (shard, source) then
    * roll up — never a COUNT(DISTINCT) beside non-distinct aggregates,
    * which would plan an Expand that doubles the corpus-sized input
    * before the shuffle (the q134 discipline). Both levels map-side
    * combine. */
  def shardManifest(spark: SparkSession, dir: String): DataFrame =
    shardManifestOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def shardManifestOf(d: DataFrame, budget: Long = ShardTokenBudget): DataFrame =
    shardPackOf(d, budget)
      .groupBy(col("shard_id"), col("source"))
      .agg(count(lit(1)).as("nd"), sum(col("n_tokens")).as("nt"))
      .groupBy(col("shard_id"))
      .agg(sum(col("nd")).as("n_docs"), sum(col("nt")).as("n_tokens"),
        count(lit(1)).as("n_sources"))
      .orderBy(col("shard_id"))

  private val shardManifestSql =
    s"""WITH t AS (SELECT doc_id, source,
      |        CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
      |      FROM documents),
      |c AS (SELECT doc_id, source, n_tokens,
      |        SUM(n_tokens) OVER (ORDER BY source NULLS FIRST, doc_id
      |          ROWS UNBOUNDED PRECEDING) AS cum
      |      FROM t),
      |p AS (SELECT source, n_tokens,
      |        CAST((cum - n_tokens) // $ShardTokenBudget AS BIGINT) AS shard_id
      |      FROM c),
      |s AS (SELECT shard_id, source, COUNT(*) AS nd,
      |        CAST(SUM(n_tokens) AS BIGINT) AS nt
      |      FROM p GROUP BY 1, 2)
      |SELECT shard_id, CAST(SUM(nd) AS BIGINT) AS n_docs,
      |  CAST(SUM(nt) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS n_sources
      |FROM s GROUP BY 1
      |ORDER BY shard_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q197: end-to-end training export (mixture ∩ split → shards)
  // ---------------------------------------------------------------------

  /** q197: the composed training-set export a user of this library
    * actually runs — three individually-certified operators chained as
    * one dataflow: the census-calibrated √-temperature mixture gate
    * (q188) picks the training MIX, the leakage-safe cluster-aware
    * split (q192) keeps near-duplicates of holdout docs out of train,
    * and the survivors pack into fixed-token-budget contiguous shards
    * (q189's arithmetic over the SELECTED subset). Output = the
    * (doc_id, source, n_tokens, shard_id) table a trainer's loader
    * reads. The point of the query is the COMPOSITION: every stage
    * replays in an independent engine, so the end-to-end export is
    * bit-reproducible — the property that makes training runs and
    * ablations comparable.
    *
    * Scale posture: each stage keeps its own certified shape — the
    * mixture gate is a broadcast rate join + codegen draw, the split is
    * a doc_id equi-join against the persisted label artifact + codegen
    * draw, and the selection funnels through two doc_id LEFT-SEMI joins
    * before the pack's per-source windows, so the corpus crosses the
    * pipeline once and nothing widens. */
  def trainingExport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val sampled = mixtureGate(docs.select(col("doc_id"), col("source")),
      mixtureRateTable(docs)).select(col("doc_id"))
    val train = Dedup.clusterSplitAssign(spark, dir)
      .filter(col("split") === "train").select(col("doc_id"))
    shardPackOf(docs.select(col("doc_id"), col("source"), col("text"))
      .join(sampled, Seq("doc_id"), "left_semi")
      .join(train, Seq("doc_id"), "left_semi"))
  }

  /** Oracle: the three stages' own oracle fragments composed in one
    * WITH — q192's recursive label/split chain, q188's census/rates/
    * draw, q189's global cumsum over the selected rows. */
  private val trainingExportSql =
    s"""WITH RECURSIVE ${Dedup.gatedShinglesCtes("documents")},
      |${Dedup.jaccardPairsCtes},
      |${Dedup.clusterCtes},
      |gk AS (SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS group_key
      |       FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id),
      |tr AS (SELECT doc_id FROM gk
      |       WHERE (((group_key % 1000000 + 1000000) % 1000000)
      |              * ${Dedup.SplitMult % 1000000L}) % 1000000
      |             < ${Dedup.SplitTrainPpm}),
      |per AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total,
      |          CAST(SUM(CAST(SQRT(CAST(n AS DOUBLE)) AS DECIMAL(38,12)))
      |            AS DOUBLE) AS sw
      |        FROM per),
      |rates AS (SELECT source,
      |            CAST(ROUND(LEAST(CAST(1.0 AS DOUBLE),
      |              $MixtureBudget * n_total * (SQRT(CAST(n AS DOUBLE)) / sw) / n)
      |              * 1e6) AS BIGINT) AS rate_ppm
      |          FROM per, tot),
      |sel AS (SELECT d.doc_id, d.source, d.text
      |        FROM documents d
      |        JOIN rates r ON d.source IS NOT DISTINCT FROM r.source
      |        JOIN tr ON d.doc_id = tr.doc_id
      |        WHERE (((d.doc_id % 1000000 + 1000000) % 1000000)
      |               * ${MixMult % 1000000L}) % 1000000 < r.rate_ppm),
      |st AS (SELECT doc_id, source,
      |         CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
      |       FROM sel),
      |sc AS (SELECT doc_id, source, n_tokens,
      |         SUM(n_tokens) OVER (ORDER BY source NULLS FIRST, doc_id
      |           ROWS UNBOUNDED PRECEDING) AS cum
      |       FROM st)
      |SELECT doc_id, source, n_tokens,
      |  CAST((cum - n_tokens) // $ShardTokenBudget AS BIGINT) AS shard_id
      |FROM sc
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  private val shardPackSql =
    s"""WITH t AS (SELECT doc_id, source,
      |        CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
      |      FROM documents),
      |c AS (SELECT doc_id, source, n_tokens,
      |        SUM(n_tokens) OVER (ORDER BY source NULLS FIRST, doc_id
      |          ROWS UNBOUNDED PRECEDING) AS cum
      |      FROM t)
      |SELECT doc_id, source, n_tokens,
      |  CAST((cum - n_tokens) // $ShardTokenBudget AS BIGINT) AS shard_id
      |FROM c
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q121: per-source distribution drift (KL divergence)
  // ---------------------------------------------------------------------

  /** q121: per-source token-distribution drift — KL(source ‖ corpus) in
    * nats over unigram distributions. The monitoring signal that flags a
    * source whose language shifted (scraper broke, spam flood, template
    * change) relative to the corpus at large. KL terms are per-row
    * double arithmetic cast DECIMAL(38,12) before the per-source sum
    * (q93's order-independence pattern); every source token exists in
    * the corpus distribution, so no zero-probability guard is needed.
    * Dataflow is q93's: one (source, tok) shuffle, a vocab-sized join
    * AQE decides, and scalar broadcasts. */
  def sourceDriftKl(spark: SparkSession, dir: String): DataFrame =
    sourceDriftKlOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def sourceDriftKlOf(d: DataFrame): DataFrame = {
    val st = d.select(col("source"), explode(toks).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c_st"))
    val ts = st.groupBy(col("source")).agg(sum(col("c_st")).as("t_s"))
    val ct = st.groupBy(col("tok")).agg(sum(col("c_st")).as("c_t"))
    val tot = ct.agg(sum(col("c_t")).as("t_all"))
    val p = col("c_st").cast(DoubleType) / col("t_s")
    val q = col("c_t").cast(DoubleType) / col("t_all")
    val term = (p * log(p / q)).cast(DecimalType(38, 12))
    st.join(broadcast(ts), Seq("source"))
      .join(ct, Seq("tok"))
      .crossJoin(broadcast(tot))
      .groupBy(col("source"))
      .agg(max(col("t_s")).as("n_tokens"), sum(term).as("s"))
      .select(col("source"), col("n_tokens"),
        round(col("s").cast(DoubleType), 6).as("kl_nats"))
      .orderBy(col("source"))
  }

  private val sourceDriftKlSql =
    """WITH st AS (SELECT source, tok, COUNT(*) AS c_st
      |            FROM (SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS tok
      |                  FROM documents) x GROUP BY 1, 2),
      |ts AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS t_s FROM st GROUP BY 1),
      |ct AS (SELECT tok, CAST(SUM(c_st) AS BIGINT) AS c_t FROM st GROUP BY 1),
      |tot AS (SELECT CAST(SUM(c_t) AS BIGINT) AS t_all FROM ct)
      |SELECT st.source, MAX(ts.t_s) AS n_tokens,
      |  ROUND(CAST(SUM(CAST(
      |      (CAST(c_st AS DOUBLE) / t_s)
      |      * LN((CAST(c_st AS DOUBLE) / t_s) / (CAST(c_t AS DOUBLE) / t_all))
      |    AS DECIMAL(38,12))) AS DOUBLE), 6) AS kl_nats
      |FROM st
      |JOIN ts ON st.source = ts.source
      |JOIN ct ON st.tok = ct.tok
      |CROSS JOIN tot
      |GROUP BY st.source
      |ORDER BY st.source NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q160: the curation funnel
  // ---------------------------------------------------------------------

  /** Minimum q63 quality score a document must reach to enter the
    * corpus — the funnel's first gate. */
  val FunnelQualityMin = 0.5

  /** The funnel's stage tables, shared by q160 (counts) and q163
    * (per-doc provenance) — ONE set of ScopedCache slots, so running
    * both in a session materializes the quality pass, the gate, and the
    * keep-first aggregate once. Returns (quality scores for every raw
    * doc, quality-gated docs with text, exact-dedup survivors,
    * near-dup cluster labels (node, label) over the survivors). */
  private def funnelParts(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    funnelPartsOf(Tables.documents(spark, dir))

  private[graft] def funnelPartsOf(docs: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // registry checkpoints: q160 references these tables from 4 stage
    // aggregates and q163 from 5 more branches, so truncation spares every
    // reference a re-analysis of the full quality/gate/keep-first chains.
    // Each stage materializes exactly once per session (each checkpoint
    // reads the previous one; q160 and q163 share the generations), and
    // every downstream reference is a narrow leaf.
    val quality = graft.functions.ScopedCache.checkpoint("q160.quality",
      TextOps.qualityScoresOf(docs)
        .select(col("doc_id"), col("quality"), col("n_tokens")))
    // tkey = 32-byte content key: the keep-first aggregate and the q163
    // keeper join both key on it, so no join/shuffle is keyed by raw text
    val gatedq = graft.functions.ScopedCache.checkpoint("q160.gatedq",
      docs.select(col("doc_id"), col("text"),
          Dedup.contentKey(col("text")).as("tkey"))
        .join(quality.filter(col("quality") >= FunnelQualityMin)
          .select(col("doc_id"), col("n_tokens")), Seq("doc_id")))
    val sv = graft.functions.ScopedCache.checkpoint("q160.sv",
      gatedq.groupBy(col("tkey"))
        .agg(min_by(struct(col("doc_id"), col("n_tokens"), col("text")),
          col("doc_id")).as("keep"))
        .select(col("keep.doc_id").as("doc_id"), col("keep.n_tokens").as("n_tokens"),
          col("keep.text").as("text"), col("tkey")))
    val pairs = Dedup.jaccardPairsUnsorted(
        sv.select(col("doc_id"), col("text")),
        scope = "curation.funnel.shingles")
      .select(col("doc_a"), col("doc_b"))
    val (labels, _) = Dedup.clusterLabels(pairs)
    (quality, gatedq, sv, labels)
  }

  /** q160: per-stage accounting of the standard corpus-build recipe —
    * the first dashboard every pipeline team builds: how many documents
    * and tokens survive each curation stage.
    *
    *   0 raw            → the ingested corpus
    *   1 quality_gate   → q63 score ≥ [[FunnelQualityMin]]
    *   2 exact_dedup    → keep-first per identical text (q71's rule)
    *   3 neardup_purge  → near-dup clusters over the exact survivors,
    *                      min-id representative kept (q78's rule)
    *
    * Every stage reuses the exact operator core it names (the shared
    * quality SQL, the gated-shingle pair pipeline, the label
    * propagation), so the funnel can never drift from the operators it
    * accounts for. Scale shape: stages 0-2 are one narrow pass + keyed
    * aggregates; stage 3 is the q72/q77 DF-gated pair pipeline over the
    * (already reduced) gated survivors — the funnel costs what its most
    * expensive member stage costs, nothing is recomputed across stages
    * (ScopedCache), and each emitted row is a full-corpus aggregate. */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val (quality, gatedq, sv, labels) = funnelParts(spark, dir)
    val kept3 = sv.join(Dedup.ndDropsOf(labels), Seq("doc_id"), "left_anti")
    def stage(n: Int, name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .select(lit(n).as("stage"), lit(name).as("stage_name"),
          col("n_docs"), col("n_tokens"))
    stage(0, "raw", quality)
      .unionByName(stage(1, "quality_gate", gatedq))
      .unionByName(stage(2, "exact_dedup", sv))
      .unionByName(stage(3, "neardup_purge", kept3))
      .orderBy(col("stage"))
  }

  /** Oracle CTE chain of the funnel's stage tables (quality → gatedq →
    * keep/sv → gated shingles → pairs → cc), shared VERBATIM by the q160
    * and q163 oracles so the stage definitions cannot drift between the
    * counts and the per-doc provenance. Prepend `WITH RECURSIVE`. */
  private val funnelCtes =
    s"""quality AS (${TextOps.qualityCoreSql}),
      |gatedq AS (
      |  SELECT q.doc_id, q.n_tokens, d.text
      |  FROM quality q JOIN documents d USING (doc_id)
      |  WHERE q.quality >= ${Curation.FunnelQualityMin}),
      |keep AS (
      |  SELECT doc_id, n_tokens, text,
      |    ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id NULLS FIRST) AS krn
      |  FROM gatedq),
      |sv AS (SELECT doc_id, n_tokens, text FROM keep WHERE krn = 1),
      |${Dedup.gatedShinglesCtes("sv")},
      |${Dedup.jaccardPairsCtes},
      |${Dedup.clusterCtes}""".stripMargin

  private val curationFunnelSql =
    s"""WITH RECURSIVE $funnelCtes,
      |kept3 AS (
      |  SELECT s.doc_id, s.n_tokens FROM sv s
      |  WHERE NOT EXISTS (SELECT 1 FROM cc
      |                    WHERE cc.doc_id = s.doc_id AND cc.doc_id <> cc.cluster_id))
      |SELECT * FROM (
      |  SELECT 0 AS stage, 'raw' AS stage_name,
      |    COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens FROM quality
      |  UNION ALL SELECT 1, 'quality_gate', COUNT(*), CAST(SUM(n_tokens) AS BIGINT) FROM gatedq
      |  UNION ALL SELECT 2, 'exact_dedup', COUNT(*), CAST(SUM(n_tokens) AS BIGINT) FROM sv
      |  UNION ALL SELECT 3, 'neardup_purge', COUNT(*), CAST(SUM(n_tokens) AS BIGINT) FROM kept3) t
      |ORDER BY stage NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q163: per-document rejection audit (funnel provenance)
  // ---------------------------------------------------------------------

  /** q163: the q160 funnel at DOCUMENT granularity — for every raw doc,
    * the FIRST stage that dropped it and the doc it lost to:
    *
    *   - `dropped_quality`   — q63 score under [[FunnelQualityMin]]
    *   - `dropped_exact_dup` — identical text to an earlier doc;
    *                           `kept_by` = the keep-first winner
    *   - `dropped_near_dup`  — purged from a near-dup cluster;
    *                           `kept_by` = the cluster representative
    *   - `kept`              — survives the whole funnel
    *
    * This is the lineage answer to "why is my document not in the
    * corpus" — the first thing a data owner asks of a pipeline team,
    * and the record an audit/appeal workflow needs. `kept_by` names the
    * winner AT THAT STAGE (an exact-dup's keeper can itself later fall
    * to the near-dup purge — the audit reports stage-local provenance,
    * not the transitive survivor).
    *
    * Reuses the funnel's ScopedCache'd stage tables; the only additions
    * are a text-keyed join of the gated docs to the survivor table
    * (keeper lookup — same key and cost class as the keep-first
    * aggregate itself) and two doc_id equi-joins, so the audit costs
    * what the funnel costs plus narrow joins. Per-doc output is a scan-
    * sized result, fine at any scale (it IS the lineage table a real
    * pipeline persists next to the corpus). */
  def rejectionAudit(spark: SparkSession, dir: String): DataFrame =
    rejectionAuditOf(Tables.documents(spark, dir))

  /** DataFrame-level core: any `documents`-shaped frame. */
  private[graft] def rejectionAuditOf(docs: DataFrame): DataFrame = {
    val (quality, gatedq, sv, labels) = funnelPartsOf(docs)
    // keeper lookup keyed on the 32-byte content key with (id, key)
    // projections — the payload is two longs, so no document body crosses
    // this exchange (the r10 verdict's one perf-weak item)
    val keepers = gatedq.select(col("doc_id"), col("tkey"))
      .join(sv.select(col("tkey"), col("doc_id").as("keeper")), Seq("tkey"))
      .select(col("doc_id"), col("keeper"))
    val clusters = labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
    quality.select(col("doc_id"), col("quality"))
      .join(keepers, Seq("doc_id"), "left")
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        // null quality (out-of-contract text) fails the gate exactly like
        // the funnel's `quality >= min` filter does — else the audit would
        // report 'kept' for a doc the stage counts as dropped
        when(col("quality").isNull || col("quality") < FunnelQualityMin,
            lit("dropped_quality"))
          .when(col("keeper") =!= col("doc_id"), lit("dropped_exact_dup"))
          .when(col("cluster_id").isNotNull && col("cluster_id") =!= col("doc_id"),
            lit("dropped_near_dup"))
          .otherwise(lit("kept")).as("status"),
        when(col("quality").isNull || col("quality") < FunnelQualityMin,
            lit(null).cast(LongType))
          .when(col("keeper") =!= col("doc_id"), col("keeper"))
          .when(col("cluster_id") =!= col("doc_id"), col("cluster_id"))
          .otherwise(lit(null).cast(LongType)).as("kept_by"))
      .orderBy(col("doc_id"))
  }

  private val rejectionAuditSql =
    s"""WITH RECURSIVE $funnelCtes,
      |ek AS (SELECT g.doc_id, s.doc_id AS keeper
      |       FROM gatedq g JOIN sv s ON g.text = s.text)
      |SELECT q.doc_id,
      |  CASE WHEN q.quality IS NULL OR q.quality < ${Curation.FunnelQualityMin}
      |         THEN 'dropped_quality'
      |       WHEN ek.keeper <> q.doc_id THEN 'dropped_exact_dup'
      |       WHEN cc.cluster_id IS NOT NULL AND cc.cluster_id <> q.doc_id
      |         THEN 'dropped_near_dup'
      |       ELSE 'kept' END AS status,
      |  CASE WHEN q.quality IS NULL OR q.quality < ${Curation.FunnelQualityMin}
      |         THEN NULL
      |       WHEN ek.keeper <> q.doc_id THEN ek.keeper
      |       WHEN cc.cluster_id <> q.doc_id THEN cc.cluster_id
      |       ELSE NULL END AS kept_by
      |FROM quality q
      |LEFT JOIN ek ON ek.doc_id = q.doc_id
      |LEFT JOIN cc ON cc.doc_id = q.doc_id
      |ORDER BY q.doc_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q173/q174: steady-state funnel — admit against the q129 artifact
  // ---------------------------------------------------------------------

  /** q173: the curation funnel in its STEADY-STATE form — dedup first,
    * against the q129 persisted near-dup artifact, then the quality gate.
    * q160 is the cold-start form (gate → dedup in-plan, paying the pair
    * pipeline every run); a production pipeline builds the artifact once
    * (q129) and every subsequent curation pass admits against it: this
    * query's plan contains NO shingling and no pair self-join — just two
    * artifact parquet scans, a doc_id semi/anti join pair, and the
    * quality pass (PlanSpec-guarded). Stage order differs from q160 BY
    * DESIGN (dedup is corpus-level and precomputed; curation gates on
    * top), so stage counts are stage-order-local, like q160's are.
    *
    * The oracle replays the artifact's definition in SQL (keep-first →
    * gated pairs → components — the same CTEs as q129's build oracle),
    * which is valid because the artifact is a deterministic function of
    * the corpus (the q109/q153 precedent). */
  def funnelFromArtifact(spark: SparkSession, dir: String): DataFrame = {
    val base = Dedup.ensureNeardupArtifact(spark, dir)
    steadyFunnelFrom(
      TextOps.qualityScores(spark, dir).select(col("doc_id"), col("quality"), col("n_tokens")),
      spark.read.parquet(s"$base/survivors").select(col("doc_id")),
      spark.read.parquet(s"$base/surv_labels"))
  }

  /** Shared stage tail (artifact query + constructed-corpus tests):
    * quality = (doc_id, quality, n_tokens) for EVERY raw doc;
    * survivorIds = exact keep-first winners; svLabels = (node, label)
    * near-dup components over the survivor corpus. */
  private[graft] def steadyFunnelFrom(quality: DataFrame, survivorIds: DataFrame,
      svLabels: DataFrame): DataFrame = {
    val q = graft.functions.ScopedCache.persist("curation.steady.quality", quality)
    val s1 = graft.functions.ScopedCache.persist("curation.steady.s1",
      q.join(survivorIds, Seq("doc_id")))
    val s2 = graft.functions.ScopedCache.persist("curation.steady.s2",
      s1.join(Dedup.ndDropsOf(svLabels), Seq("doc_id"), "left_anti"))
    val s3 = s2.filter(col("quality") >= FunnelQualityMin)
    def stage(n: Int, name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .select(lit(n).as("stage"), lit(name).as("stage_name"),
          col("n_docs"), col("n_tokens"))
    stage(0, "raw", q)
      .unionByName(stage(1, "exact_dedup", s1))
      .unionByName(stage(2, "neardup_purge", s2))
      .unionByName(stage(3, "quality_gate", s3))
      .orderBy(col("stage"))
  }

  /** Steady-state CTE chain: survivors + components over the RAW corpus
    * (no quality pre-gate — the artifact's universe), shared verbatim by
    * the q173 and q174 oracles. Prepend `WITH RECURSIVE`. */
  private val steadyCtes =
    s"""quality AS (${TextOps.qualityCoreSql}),
      |keep AS (
      |  SELECT doc_id, text,
      |    ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id NULLS FIRST) AS krn
      |  FROM documents),
      |sv AS (SELECT doc_id, text FROM keep WHERE krn = 1),
      |${Dedup.gatedShinglesCtes("sv")},
      |${Dedup.jaccardPairsCtes},
      |${Dedup.clusterCtes}""".stripMargin

  private val funnelFromArtifactSql =
    s"""WITH RECURSIVE $steadyCtes,
      |s1 AS (SELECT q.doc_id, q.n_tokens, q.quality
      |       FROM quality q JOIN sv USING (doc_id)),
      |s2 AS (SELECT s1.* FROM s1
      |       WHERE NOT EXISTS (SELECT 1 FROM cc
      |                         WHERE cc.doc_id = s1.doc_id AND cc.doc_id <> cc.cluster_id)),
      |s3 AS (SELECT * FROM s2 WHERE quality >= ${Curation.FunnelQualityMin})
      |SELECT * FROM (
      |  SELECT 0 AS stage, 'raw' AS stage_name,
      |    COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens FROM quality
      |  UNION ALL SELECT 1, 'exact_dedup', COUNT(*), CAST(SUM(n_tokens) AS BIGINT) FROM s1
      |  UNION ALL SELECT 2, 'neardup_purge', COUNT(*), CAST(SUM(n_tokens) AS BIGINT) FROM s2
      |  UNION ALL SELECT 3, 'quality_gate', COUNT(*), CAST(SUM(n_tokens) AS BIGINT) FROM s3) t
      |ORDER BY stage NULLS FIRST""".stripMargin

  /** q174: the q163 rejection audit in the steady-state (artifact-backed)
    * ordering — for every raw doc, the first stage that dropped it:
    * `dropped_exact_dup` (not a keep-first survivor; kept_by = the
    * artifact's winner for its text), `dropped_near_dup` (purged from a
    * survivor-corpus cluster; kept_by = the representative),
    * `dropped_quality` (survived dedup, failed the gate), or `kept`.
    * The keeper lookup runs on the 32-byte content key: the artifact's
    * survivors table stores no text, so survivor keys come from one
    * doc_id equi-join back to the corpus — still no text-keyed shuffle
    * and, unlike q163, no in-plan pair pipeline. */
  def rejectionAuditFromArtifact(spark: SparkSession, dir: String): DataFrame = {
    val base = Dedup.ensureNeardupArtifact(spark, dir)
    val docs = Tables.documents(spark, dir)
    steadyAuditFrom(
      TextOps.qualityScores(spark, dir).select(col("doc_id"), col("quality")),
      // null-text rows form ONE keep-first group under groupBy(tkey), so
      // the keeper join must be null-safe too — else null-text exact-dup
      // losers would silently audit as kept while the funnel counts them
      // dropped
      docs.select(col("doc_id"), Dedup.contentKeyNullSafe(col("text")).as("tkey")),
      spark.read.parquet(s"$base/survivors").select(col("doc_id")),
      spark.read.parquet(s"$base/surv_labels"))
  }

  /** Shared audit tail: `keys` = (doc_id, tkey) for every raw doc. */
  private[graft] def steadyAuditFrom(quality: DataFrame, keys: DataFrame,
      survivorIds: DataFrame, svLabels: DataFrame): DataFrame = {
    val k = graft.functions.ScopedCache.persist("curation.steady.keys", keys)
    val svKeys = k.join(survivorIds, Seq("doc_id"))
      .select(col("tkey"), col("doc_id").as("keeper"))
    val keepers = k.join(svKeys, Seq("tkey"))
      .select(col("doc_id"), col("keeper"))
    val clusters = svLabels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
    quality.join(keepers, Seq("doc_id"), "left")
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("keeper") =!= col("doc_id"), lit("dropped_exact_dup"))
          .when(col("cluster_id").isNotNull && col("cluster_id") =!= col("doc_id"),
            lit("dropped_near_dup"))
          // null quality fails the gate, matching the funnel's s3 filter
          .when(col("quality").isNull || col("quality") < FunnelQualityMin,
            lit("dropped_quality"))
          .otherwise(lit("kept")).as("status"),
        when(col("keeper") =!= col("doc_id"), col("keeper"))
          .when(col("cluster_id") =!= col("doc_id"), col("cluster_id"))
          .otherwise(lit(null).cast(LongType)).as("kept_by"))
      .orderBy(col("doc_id"))
  }

  private val rejectionAuditFromArtifactSql =
    s"""WITH RECURSIVE $steadyCtes,
      |ek AS (SELECT d.doc_id, s.doc_id AS keeper
      |       FROM documents d JOIN sv s ON d.text IS NOT DISTINCT FROM s.text)
      |SELECT q.doc_id,
      |  CASE WHEN ek.keeper <> q.doc_id THEN 'dropped_exact_dup'
      |       WHEN cc.cluster_id IS NOT NULL AND cc.cluster_id <> q.doc_id
      |         THEN 'dropped_near_dup'
      |       WHEN q.quality IS NULL OR q.quality < ${Curation.FunnelQualityMin}
      |         THEN 'dropped_quality'
      |       ELSE 'kept' END AS status,
      |  CASE WHEN ek.keeper <> q.doc_id THEN ek.keeper
      |       WHEN cc.cluster_id <> q.doc_id THEN cc.cluster_id
      |       ELSE NULL END AS kept_by
      |FROM quality q
      |LEFT JOIN ek ON ek.doc_id = q.doc_id
      |LEFT JOIN cc ON cc.doc_id = q.doc_id
      |ORDER BY q.doc_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q161/q162: data selection via importance resampling (DSIR)
  // ---------------------------------------------------------------------

  /** Hashed-bigram feature space for the DSIR weights: each consecutive
    * token pair folds through the portable polynomial family and lands
    * in one of this many buckets. Fixed and small by design — the
    * bucket-weight table stays broadcastable at ANY corpus size (the
    * production setting just raises it to 2²⁰; the shape is unchanged). */
  val DsirBuckets = 512L

  /** Documents kept by the q162 importance-resampled selection. */
  val DsirSelectK = 100

  // a fourth multiplicative-hash family (offset +59) so the Gumbel grid
  // is independent of q87's rate key (+0), q126's rank, q148's cap (+41)
  private val GumbelOffset = 59L
  private val GumbelModPrime = 1000003L
  private val GumbelMult = 2654435761L
  private val GumbelMod = 1048576L // 2^20: (uk + 0.5) / 2^20 is dyadic-exact

  /** Per-doc DSIR core shared by q161/q162: hashed-bigram bucket counts,
    * smoothed target/raw bucket log-ratios, and the per-doc sum
    *
    *   s(doc) = Σ_b n_b(doc) · ln( p̂_target(b) / p̂_raw(b) )
    *
    * with Laplace-smoothed p̂(b) = (count(b)+1)/(N+B) on each side (Xie
    * et al., "Data Selection for Language Models via Importance
    * Resampling", NeurIPS 2023 — the hashed-n-gram importance estimator).
    * Returns every doc of `d` with (doc_id, n_feats, s), s as the
    * DECIMAL(38,12) term sum (q93's order-independence pattern: the
    * per-bucket double log-ratio is computed ONCE in the B-row weight
    * table, each doc term casts to decimal before summing, so partial-
    * aggregation order cannot move the result and the oracle replays it
    * bit-for-bit). Docs with <2 tokens carry no features and weight 0.
    *
    * Scale shape: one narrow token-hash pass + explode, a map-side-
    * combined (doc, bucket) count, two bucket aggregates of ≤B rows, a
    * PINNED broadcast of the B-row weight table back onto the counts
    * (B is a design constant, never corpus-sized), and one doc_id
    * left join. No self-joins, no windows. */
  /** Hashed-bigram features `(doc_id, b)` of a corpus — shared by the
    * batch estimator and the streaming gate so featurization cannot
    * drift between them. */
  private def dsirFeatures(d: DataFrame): DataFrame = {
    val th = d.select(col("doc_id"),
      expr("transform(split(text, ' ', -1), w -> graft_tokhash(w))").as("th"))
    th.select(col("doc_id"), explode(expr(
      s"""CASE WHEN size(th) >= 2 THEN transform(sequence(1, size(th) - 1),
         |  i -> (element_at(th, i) * ${PolyHash.M1} + element_at(th, i + 1))
         |       % ${PolyHash.P} % $DsirBuckets)
         |ELSE cast(array() as array<bigint>) END""".stripMargin)).as("b"))
  }

  private def dsirPerDoc(d: DataFrame, targetIds: DataFrame): DataFrame = {
    // referenced by the raw counts, the target counts, and the per-doc
    // weight join; variant-keyed on the input plan like gatedShingles
    val dc = graft.functions.ScopedCache.persist("curation.dsir.counts",
      s"${d.queryExecution.analyzed.semanticHash()}",
      dsirFeatures(d).groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("n")))
    dsirScoredAgainst(d, dc, dsirWeightsFrom(dc, targetIds))
  }

  /** The ≤[[DsirBuckets]]-row Laplace-smoothed log-ratio weight table
    * `(b, lr)` — the MODEL the batch estimator scores with and the
    * streaming gate broadcasts (one definition, no drift). */
  private def dsirWeightsFrom(dc: DataFrame, targetIds: DataFrame): DataFrame = {
    val cr = dc.groupBy(col("b")).agg(sum(col("n")).as("cn"))
    val ct = dc.join(targetIds, Seq("doc_id"))
      .groupBy(col("b")).agg(sum(col("n")).as("tn"))
    val tot = cr.agg(sum(col("cn")).as("nr"))
      .crossJoin(ct.agg(coalesce(sum(col("tn")), lit(0L)).as("nt")))
    cr.join(ct, Seq("b"), "left")
      .na.fill(0L, Seq("tn"))
      .crossJoin(broadcast(tot))
      .select(col("b"),
        log(((col("tn") + 1).cast(DoubleType) * (col("nr") + lit(DsirBuckets)))
          / ((col("cn") + 1) * (col("nt") + lit(DsirBuckets)))).as("lr"))
  }

  /** The corpus-trained weight table as a standalone artifact (what a
    * real pipeline persists once and ships to the ingest stream). */
  def dsirWeightTable(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val dc = graft.functions.ScopedCache.persist("curation.dsir.counts",
      s"${d.queryExecution.analyzed.semanticHash()}",
      dsirFeatures(d).groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("n")))
    dsirWeightsFrom(dc, dsirTarget(spark, dir))
  }

  /** Batch kernel of the live DSIR gate (StreamingSpec): score arriving
    * `(doc_id, text)` docs against a FROZEN weight table — the same
    * featurization ([[dsirFeatures]]) and decimal term-sum as q161, so
    * a doc scores identically in the stream and in the batch
    * estimator. Narrow map + broadcast join per micro-batch; no
    * corpus-side recompute. */
  def dsirScoreBatch(batch: DataFrame, weights: DataFrame): DataFrame =
    dsirScoredAgainst(batch,
        dsirFeatures(batch).groupBy(col("doc_id"), col("b"))
          .agg(count(lit(1)).as("n")),
        weights)
      .select(col("doc_id"), col("n_feats"),
        round(col("s").cast(DoubleType), 6).as("log_w"))

  /** Score the `dc(doc_id, b, n)` counts against a fixed `(b, lr)`
    * weight table (q93's decimal order-independence pattern); every doc
    * of `d` comes back, featureless ones at weight 0. */
  private def dsirScoredAgainst(d: DataFrame, dc: DataFrame,
      wt: DataFrame): DataFrame = {
    val perDoc = dc.join(broadcast(wt), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_feats"),
        sum((col("n") * col("lr")).cast(DecimalType(38, 12))).as("s"))
    d.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("s"), lit(0).cast(DecimalType(38, 12))).as("s"))
  }

  /** q161: per-doc DSIR log importance weight, target = the corpus's own
    * quality-gated subset (q63 score ≥ [[FunnelQualityMin]], the same
    * gate the funnel applies) — "how much does this doc look like the
    * data we actually want". Positive = target-like, negative =
    * raw-like; the score a selection policy (q162) or a mixture
    * re-weighter thresholds on. */
  def dsirLogWeights(spark: SparkSession, dir: String): DataFrame =
    dsirLogWeightsOf(Tables.documents(spark, dir), dsirTarget(spark, dir))

  /** DataFrame-level core (testable: any corpus, any target id set). */
  def dsirLogWeightsOf(d: DataFrame, targetIds: DataFrame): DataFrame =
    dsirPerDoc(d, targetIds)
      .select(col("doc_id"), col("n_feats"),
        round(col("s").cast(DoubleType), 6).as("log_w"))
      .orderBy(col("doc_id"))

  private def dsirTarget(spark: SparkSession, dir: String): DataFrame =
    graft.functions.ScopedCache.persist("curation.funnel.quality",
        TextOps.qualityScores(spark, dir).select(col("doc_id"), col("quality"), col("n_tokens")))
      .filter(col("quality") >= FunnelQualityMin).select(col("doc_id"))

  /** DuckDB mirror of [[dsirPerDoc]] ending in `dall(doc_id, n_feats,
    * s)`; expects a `dtgt(doc_id)` CTE (the target set) to be defined. */
  private def dsirCtes(docsTable: String): String =
    s"""dtht AS (SELECT doc_id, LIST_TRANSFORM(STRING_SPLIT(text, ' '),
      |    w -> ${Dedup.polyFoldSql("w", PolyHash.M1)}) AS th
      |  FROM $docsTable),
      |dft AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(th) - 1),
      |    i -> (th[i] * ${PolyHash.M1} + th[i + 1]) % ${PolyHash.P} % $DsirBuckets)) AS b
      |  FROM dtht WHERE LEN(th) >= 2),
      |dcnt AS (SELECT doc_id, b, COUNT(*) AS n FROM dft GROUP BY 1, 2),
      |dcr AS (SELECT b, CAST(SUM(n) AS BIGINT) AS cn FROM dcnt GROUP BY 1),
      |dct AS (SELECT b, CAST(SUM(n) AS BIGINT) AS tn
      |        FROM dcnt JOIN dtgt USING (doc_id) GROUP BY 1),
      |dtot AS (SELECT (SELECT CAST(SUM(cn) AS BIGINT) FROM dcr) AS nr,
      |                (SELECT CAST(COALESCE(SUM(tn), 0) AS BIGINT) FROM dct) AS nt),
      |dwt AS (SELECT dcr.b,
      |          LN((CAST(COALESCE(dct.tn, 0) + 1 AS DOUBLE) * (dtot.nr + $DsirBuckets))
      |             / ((dcr.cn + 1) * (dtot.nt + $DsirBuckets))) AS lr
      |        FROM dcr LEFT JOIN dct USING (b) CROSS JOIN dtot),
      |dw AS (SELECT dcnt.doc_id, CAST(SUM(dcnt.n) AS BIGINT) AS n_feats,
      |         SUM(CAST(dcnt.n * dwt.lr AS DECIMAL(38, 12))) AS s
      |       FROM dcnt JOIN dwt USING (b) GROUP BY 1),
      |dall AS (SELECT d.doc_id, COALESCE(dw.n_feats, 0) AS n_feats,
      |           COALESCE(dw.s, 0) AS s
      |         FROM $docsTable d LEFT JOIN dw USING (doc_id))""".stripMargin

  private val dsirLogWeightsSql =
    s"""WITH quality AS (${TextOps.qualityCoreSql}),
      |dtgt AS (SELECT doc_id FROM quality
      |         WHERE quality >= ${Curation.FunnelQualityMin}),
      |${dsirCtes("documents")}
      |SELECT doc_id, n_feats, ROUND(CAST(s AS DOUBLE), 6) AS log_w
      |FROM dall
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  /** q162: importance RESAMPLING — DSIR's selection step. Sample
    * [[DsirSelectK]] docs without replacement, proportionally to their
    * importance weight, via the Gumbel-top-k identity: rank by
    * log w(doc) + Gumbel(doc) and take the top k. The Gumbel draw is a
    * deterministic engine-portable grid — u = (h(doc_id)+½)/2²⁰ on a
    * fourth multiplicative-hash family, g = −ln(−ln u) — so the sampled
    * corpus is reproducible across engines, runs, and cluster sizes
    * (the same auditability contract as q87/q126). The global top-k is
    * a TakeOrderedAndProject: k rows per partition then k at the
    * driver, never a full sort. */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame =
    dsirSelectOf(Tables.documents(spark, dir), dsirTarget(spark, dir))

  /** DataFrame-level core (testable: any corpus, target, and k). */
  def dsirSelectOf(d: DataFrame, targetIds: DataFrame,
      k: Int = DsirSelectK): DataFrame = {
    val uk = pmod(pmod(col("doc_id") + lit(GumbelOffset), lit(GumbelModPrime))
      * lit(GumbelMult), lit(GumbelMod))
    val u = (uk.cast(DoubleType) + lit(0.5)) / lit(GumbelMod.toDouble)
    val g = -log(-log(u))
    dsirPerDoc(d, targetIds)
      .select(col("doc_id"), col("n_feats"),
        round(col("s").cast(DoubleType), 6).as("log_w"),
        round(col("s").cast(DoubleType) + g, 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  private val dsirSelectSql = {
    val uk = s"(((((doc_id + $GumbelOffset) % $GumbelModPrime) + $GumbelModPrime)" +
      s" % $GumbelModPrime * $GumbelMult) % $GumbelMod + $GumbelMod) % $GumbelMod"
    s"""WITH quality AS (${TextOps.qualityCoreSql}),
      |dtgt AS (SELECT doc_id FROM quality
      |         WHERE quality >= ${Curation.FunnelQualityMin}),
      |${dsirCtes("documents")}
      |SELECT doc_id, n_feats, ROUND(CAST(s AS DOUBLE), 6) AS log_w,
      |  ROUND(CAST(s AS DOUBLE)
      |        + -LN(-LN((($uk) + 0.5) / $GumbelMod.0)), 6) AS score
      |FROM dall
      |ORDER BY score DESC NULLS LAST, doc_id NULLS FIRST
      |LIMIT $DsirSelectK""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q170: source-interleaved training order (anti-clumping)
  // ---------------------------------------------------------------------

  /** q170: the SOURCE-INTERLEAVED epoch order — a gradient step should
    * not see a long run of one source, so the data loader wants the
    * corpus round-robined across sources: doc k of every source comes
    * before doc k+1 of any source. Emitted as (epoch_rank, source,
    * doc_id) sorted by (epoch_rank, source): while every source still
    * has documents left the order cycles through all of them; as small
    * sources exhaust, the remaining ones keep cycling (the tail
    * degrades gracefully instead of starving). Within a source, docs
    * enter in the q126/q87 deterministic-permutation spirit — here by
    * doc_id, so the order is reproducible and composes with any
    * upstream shuffle/sample that re-keys doc_id.
    *
    * Scale shape: ONE window partitioned by source (rank within source
    * — state bounded by the largest source, the q148 shape, parallel
    * across sources), then a presentation sort. No global window, no
    * joins. */
  def interleavedOrder(spark: SparkSession, dir: String): DataFrame =
    interleavedOrderOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def interleavedOrderOf(d: DataFrame): DataFrame = {
    val bySource = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
    d.select(col("source"), col("doc_id"))
      .withColumn("epoch_rank", row_number().over(bySource).cast(LongType))
      .select(col("epoch_rank"), col("source"), col("doc_id"))
      .orderBy(col("epoch_rank"), col("source"))
  }

  private val interleavedOrderSql =
    """SELECT CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
      |    AS BIGINT) AS epoch_rank,
      |  source, doc_id
      |FROM documents
      |ORDER BY epoch_rank NULLS FIRST, source NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q169: classifier lift audit (cheap model vs the richer gate)
  // ---------------------------------------------------------------------

  /** Equal-width score bins for the q169 lift audit. */
  val LiftBins = 10

  /** q169: LIFT audit of the q114 hashed-feature classifier against the
    * q63 quality gate — per equal-width classifier-score bin, how often
    * does the richer heuristic actually gate the doc in? The check every
    * pipeline runs before letting a cheap model pre-filter for an
    * expensive one: a classifier that ranks documents the way the gate
    * decides shows a monotone-climbing good-rate across bins; a flat
    * curve means the cheap score carries no signal and the pre-filter
    * would just subsample.
    *
    * Bin edges come from the global score min/max (two scalar aggregates
    * broadcast back — the q93 idiom); both engines evaluate the
    * identical (score − lo)/(hi − lo)·10 double expression, so binning
    * is bit-identical. Counts and the good-rate are exact-integer
    * arithmetic with one final division. No windows; the corpus is
    * scanned once for each of the two scores (both narrow explode +
    * keyed-agg passes), joined on doc_id. */
  def classifierLift(spark: SparkSession, dir: String): DataFrame =
    classifierLiftOf(Tables.documents(spark, dir))

  /** DataFrame-level core: any `documents`-shaped frame. */
  private[graft] def classifierLiftOf(docs: DataFrame): DataFrame = {
    val cls = qualityClassifierOf(docs)
      .select(col("doc_id"), col("score"))
    val q = graft.functions.ScopedCache.persist("curation.funnel.quality",
      TextOps.qualityScoresOf(docs)
        .select(col("doc_id"), col("quality"), col("n_tokens")))
      .select(col("doc_id"), col("quality"))
    val ext = cls.agg(min(col("score")).as("lo"), max(col("score")).as("hi"))
    cls.join(q, Seq("doc_id"))
      .crossJoin(broadcast(ext))
      .select(
        when(col("hi") === col("lo"), lit(0L)).otherwise(
          least(lit((LiftBins - 1).toLong),
            floor((col("score") - col("lo")) / (col("hi") - col("lo"))
              * LiftBins)).cast(LongType)).as("bin"),
        col("quality"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("quality") >= FunnelQualityMin, 1L).otherwise(0L))
          .as("n_good"))
      .select(col("bin"), col("n_docs"), col("n_good"),
        round(col("n_good").cast(DoubleType) / col("n_docs"), 6).as("good_rate"))
      .orderBy(col("bin"))
  }

  private val classifierLiftSql =
    s"""WITH $classifierCtes,
      |cls AS (SELECT doc_id, CAST(w_sum AS DOUBLE) / n_tokens AS score FROM s),
      |quality AS (${TextOps.qualityCoreSql}),
      |ext AS (SELECT MIN(score) AS lo, MAX(score) AS hi FROM cls),
      |b AS (
      |  SELECT CASE WHEN ext.hi = ext.lo THEN CAST(0 AS BIGINT)
      |           ELSE LEAST(CAST(${LiftBins - 1} AS BIGINT), CAST(FLOOR(
      |             (cls.score - ext.lo) / (ext.hi - ext.lo) * $LiftBins)
      |             AS BIGINT)) END AS bin,
      |         q.quality
      |  FROM cls JOIN quality q USING (doc_id) CROSS JOIN ext)
      |SELECT bin, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN quality >= ${Curation.FunnelQualityMin}
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
      |  ROUND(CAST(SUM(CASE WHEN quality >= ${Curation.FunnelQualityMin}
      |    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS good_rate
      |FROM b
      |GROUP BY bin
      |ORDER BY bin NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q202: in-engine quality-classifier training (logistic regression)
  // ---------------------------------------------------------------------

  /** Gradient steps / learning rate for q202. lr = 1 is safely inside
    * the guaranteed-monotone regime: logistic loss is L-smooth with
    * L ≤ max‖x‖²/4 = (unit vector + bias = 2)/4 = 0.5, so any lr ≤ 1/L
    * = 2 strictly decreases the mean log-loss every step — the
    * SemanticsSpec law (final loss < ln 2, the all-zero-weights loss)
    * holds by construction, not by luck. */
  val LrSteps = 5
  val LrBiasDim: Int = TextOps.HashedVecDims

  /** q202: TRAIN the quality classifier inside the engine — batch
    * logistic regression on q198's hashed unit vectors (plus a bias
    * dim), labels = the corpus's own q63 gate (quality ≥
    * [[FunnelQualityMin]], the q161 target convention). This closes the
    * loop q114's scaladoc promises ("a trained model would replace the
    * LCG with a learned weight table"): the output IS that weight table,
    * derived end-to-end in the engine and bit-reproducible in DuckDB —
    * the fasttext-style linear quality filter pipelines actually train,
    * minus nothing but the tokenizer choice.
    *
    * Dataflow per step (the production LR-GD shape on DENSE rows): the
    * dot product and the residual y − σ(z) are per-ROW arithmetic over
    * the cached (doc_id, xs[33], y) table — no join, no per-doc
    * shuffle — and the only exchange is the 33-row gradient aggregate,
    * whose output is the MODEL, the only thing that ever reaches the
    * driver. 5 unrolled steps; z and the weights round to 6dp each step
    * (q100's per-step kernel/model rounding, so cross-engine float
    * drift cannot compound — both engines fold the same 33 doubles in
    * index order), and the doc-order gradient sum is DECIMAL(38,12)-
    * cast per term (the 1-ulp engine difference in EXP(-z) enters each
    * term at ~1e-16 and dies at the cast's 1e-12).
    *
    * At 100 TB: each step is one scan of the dense feature table + one
    * 33-row shuffle — embarrassingly scalable, no window, no driver
    * state beyond the 33-double model. */
  def lrQualityTrain(spark: SparkSession, dir: String): DataFrame =
    lrQualityTrainOf(Tables.documents(spark, dir))

  /** The cached training table: one DENSE row per doc — (doc_id,
    * xs[33], y), the 32 unit-vector slots scattered by position plus the
    * bias slot at index 32, labeled by the q63 gate. Dense rows are what
    * make each training step join-free: the dot product is a per-ROW
    * ordered fold (the q100 distance-kernel pattern), never a per-doc
    * aggregate over long-form rows. */
  private[graft] def lrFeats(d: DataFrame): DataFrame =
    lrFeatsFrom(d, lrDense(d))

  /** Same labeled-feature cache, against an EXPLICIT dense table — the
    * q204 path threads a shared idf(train) through here so the trainer
    * and the val-side featurizer read one idf derivation (VERDICT r17
    * #3); [[lrFeats]] keeps the self-fit shape for q202/q203. */
  private def lrFeatsFrom(d: DataFrame, dense: DataFrame): DataFrame = {
    val lab = TextOps.qualityScoresOf(d).select(col("doc_id"),
      when(col("quality") >= FunnelQualityMin, lit(1.0)).otherwise(lit(0.0)).as("y"))
    graft.functions.ScopedCache.persist("q202.feats",
      dense.join(lab, Seq("doc_id")))
  }

  /** One step's gradient table against the model `w`: (dim, g) with
    * g = Σ_docs xs[dim]·(y − σ(w·xs)), the doc sum decimal-exact. The
    * model rides in as a 33-literal array; the dot product is an
    * ORDERED per-row fold rounded to 6dp (both engines sum the same 33
    * doubles in index order — the q100 kernel discipline), so the step
    * is join-free and shuffle-free until the 33-row gradient aggregate.
    * Shared by the training loop and the plan probe (the registered
    * query returns the literal model, so the step dataflow is guarded
    * through this hook). */
  private[graft] def lrGradOf(feats: DataFrame, w: Array[Double]): DataFrame = {
    val wArr = array(w.toSeq.map(lit): _*)
    val z = round(aggregate(zip_with(col("xs"), wArr, (x, v) => x * v),
      lit(0.0), (a, b) => a + b), 6)
    feats
      .select(col("xs"),
        (col("y") - lit(1.0) / (lit(1.0) + exp(-z))).as("err"))
      .select(col("err"), posexplode(col("xs")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(sum((col("x") * col("err")).cast(DecimalType(38, 12))).as("g"))
  }

  /** Plan probe: one step's full dataflow on the fixture corpus. */
  private[graft] def lrStepProbe(spark: SparkSession, dir: String): DataFrame =
    lrGradOf(lrFeats(Tables.documents(spark, dir)),
      Array.fill(LrBiasDim + 1)(0.0))

  /** Scatter long-form (doc_id, dim, w) vectors into one dense xs[33]
    * row per doc (bias slot last) — the Spark twin of [[lrDenseCtes]]. */
  private[graft] def denseFromVec(vec: DataFrame): DataFrame = {
    val D = TextOps.HashedVecDims
    vec.groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("dim"), col("w")))).as("m"))
      .select(col("doc_id"),
        expr(s"concat(transform(sequence(0, ${D - 1}), " +
          "j -> coalesce(element_at(m, j), 0D)), array(1D))").as("xs"))
  }

  /** The dense feature rows WITHOUT labels — shared by training (which
    * joins the q63 gate on) and scoring (which must not need labels). */
  private[graft] def lrDense(d: DataFrame): DataFrame =
    denseFromVec(TextOps.hashedDocVectorsOf(d.select(col("doc_id"), col("text"))))

  /** q203 model artifact: the q202 weight table persisted once per
    * fixture (ArtifactStore's ensure rule — build-once/score-many, the
    * q108/q109 split applied to the classifier). */
  def ensureLrModel(spark: SparkSession, dir: String): String =
    graft.sources.ArtifactStore.ensure("lrmodel", dir, Seq("weights")) { b =>
      lrQualityTrainOf(Tables.documents(spark, dir))
        .write.mode("overwrite").parquet(s"$b/weights")
    }

  /** The ONE artifact-load path for the trained weights (ensure +
    * dim-ordered collect) shared by every serving query (q203/q206/
    * q213) — a layout or ordering change lands in one place or
    * nowhere. Model-sized: 33 rows. */
  private def loadLrWeights(spark: SparkSession, dir: String): Array[Double] = {
    val base = ensureLrModel(spark, dir)
    spark.read.parquet(s"$base/weights")
      .orderBy(col("dim")).collect().map(_.getDouble(1))
  }

  /** q203: score every document with the TRAINED classifier — the apply
    * half of q202 (train once, score the corpus; at 100 TB the scorer is
    * what actually runs, nightly, over everything). The model rides in
    * as 33 literals, so scoring is a PURE MAP: scan → dense features →
    * per-row ordered fold → sigmoid — no join, no shuffle after the
    * feature aggregation, trivially parallel at any scale. The oracle
    * replays the ENTIRE train+score chain from the raw corpus, so a
    * green row certifies the persisted model too (the q109/q153
    * admission precedent). `keep` decides at z ≥ 0 ⇔ σ(z) ≥ 0.5 —
    * decided on z, exactly as both engines computed it, so the 6dp
    * rounding of the REPORTED score cannot flip a boundary decision. */
  def lrQualityScore(spark: SparkSession, dir: String): DataFrame =
    lrScoreOf(Tables.documents(spark, dir), loadLrWeights(spark, dir))

  /** DataFrame-level scoring core against an explicit model. */
  def lrScoreOf(d: DataFrame, w: Array[Double]): DataFrame =
    lrScoreFromDense(lrDense(d), w)

  /** Streaming-twin scoring entry: score a micro-batch with BOTH trained
    * artifacts frozen — the weight table AND the train-corpus idf the
    * featurizer needs (batch scoring fits the idf on its own corpus; at
    * ingest the corpus-fit idf ships as literal rows, the q198
    * convention, so an arriving doc featurizes and scores exactly as
    * the nightly batch would score it — the StreamingSpec bit-identity
    * law). */
  def lrScoreBatch(b: DataFrame, w: Array[Double], idf: DataFrame): DataFrame =
    lrScoreFromDense(denseFromVec(TextOps.hashedVectorsBatch(
      b.select(col("doc_id"), col("text")), idf)), w)

  /** The margin half of the scoring kernel: the 6dp-rounded ordered
    * 33-slot fold z = w·xs per doc — exposed separately because q215's
    * Platt recalibration fits ON the margin, not the sigmoid'd score. */
  private def lrZFromDense(dense: DataFrame, w: Array[Double]): DataFrame = {
    val wArr = array(w.toSeq.map(lit): _*)
    val z = round(aggregate(zip_with(col("xs"), wArr, (x, v) => x * v),
      lit(0.0), (a, b) => a + b), 6)
    dense.select(col("doc_id"), z.as("z"))
  }

  /** The one scoring kernel (z-fold, 6dp round, sigmoid, keep-at-z≥0)
    * shared by the batch scorer and the streaming twin so the two can
    * never drift. */
  private def lrScoreFromDense(dense: DataFrame, w: Array[Double]): DataFrame =
    lrZFromDense(dense, w)
      .select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6).as("score"),
        when(col("z") >= 0, lit(1)).otherwise(lit(0)).as("keep"))
      .orderBy(col("doc_id"))

  private lazy val lrQualityScoreSql =
    // the full training chain SHARED VERBATIM (lrTrainCtes — one model
    // definition across q202/q203), then one scoring SELECT
    s"""WITH $lrTrainCtes,
      |sc AS (SELECT f.doc_id, ${lrFoldSql("f.xs", "w.w")} AS z
      |  FROM f CROSS JOIN w$LrSteps w)
      |SELECT doc_id, ROUND(1.0 / (1.0 + EXP(-z)), 6) AS score,
      |  CASE WHEN z >= 0 THEN 1 ELSE 0 END AS keep
      |FROM sc
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  /** q204: HELD-OUT evaluation of the trained classifier — the eval
    * discipline a real pipeline requires before trusting a filter: fit
    * the featurizer idf AND the model on the q67 TRAIN split only
    * (bucket = pmod(doc_id, 10) < 8 — the split definition shared with
    * q67/q125, so the eval can never leak what the split holds out),
    * score the VAL split (bucket 8) with both frozen, and report the
    * confusion table against the val split's own q63 labels. Quality is
    * per-doc intrinsic, so val labels need no corpus state; the
    * FEATURIZER does carry corpus state (idf), and applying the
    * train-fit idf to val docs — unseen tokens contributing zero, the
    * frozen-vocabulary convention — is exactly the deployment
    * semantics q198's streaming twin certifies. A val doc with NO
    * trained-vocabulary token has no vector and is reported in
    * n_val − n_scored rather than silently dropped.
    *
    * This is the q171/q175/q179/q196 audit-instrument pattern applied
    * to the classifier family: q202 trains, q203 serves, q204 MEASURES.
    * The oracle replays the entire fit-on-train/score-val chain from
    * the raw corpus via the SAME prefixed CTE builders q202/q203 use
    * (one featurizer, one kernel, one trainer — three queries). */
  def classifierEval(spark: SparkSession, dir: String): DataFrame =
    classifierEvalOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def classifierEvalOf(d: DataFrame): DataFrame = {
    val bucket = pmod(col("doc_id"), lit(10L))
    val train = d.filter(bucket < 8)
    val valDocs = d.filter(bucket === 8)
    // ONE idf(train) derivation (VERDICT r17 #3): the trainer's
    // featurizer and the val-side frozen featurizer used to each derive
    // idf(train) from scratch (different subtrees — ReuseExchange cannot
    // unify them); pin it and thread it through both sides, exactly the
    // oracle's shape (its `tidf` CTE is computed once). At corpus scale
    // this removes a full train-split pass.
    val idf = graft.functions.ScopedCache.persist("q204.idf",
      TextOps.hashedIdfOf(train.select(col("doc_id"), col("text"))))
    val w = lrQualityTrainWith(train, idf)
      .orderBy(col("dim")).collect().map(_.getDouble(1))
    val dense = denseFromVec(TextOps.hashedVectorsBatch(
      valDocs.select(col("doc_id"), col("text")), idf))
    val wArr = array(w.toSeq.map(lit): _*)
    val z = round(aggregate(zip_with(col("xs"), wArr, (x, v) => x * v),
      lit(0.0), (a, b) => a + b), 6)
    val lab = TextOps.qualityScoresOf(valDocs).select(col("doc_id"),
      when(col("quality") >= FunnelQualityMin, lit(1.0)).otherwise(lit(0.0)).as("y"))
    val conf = dense
      .select(col("doc_id"), when(z >= 0, lit(1)).otherwise(lit(0)).as("keep"))
      .join(lab, Seq("doc_id"))
      .agg(count(lit(1)).as("n_scored"),
        coalesce(sum(when(col("keep") === 1 && col("y") === 1.0, 1L)
          .otherwise(0L)), lit(0L)).as("tp"),
        coalesce(sum(when(col("keep") === 1 && col("y") === 0.0, 1L)
          .otherwise(0L)), lit(0L)).as("fp"),
        coalesce(sum(when(col("keep") === 0 && col("y") === 1.0, 1L)
          .otherwise(0L)), lit(0L)).as("fn"),
        coalesce(sum(when(col("keep") === 0 && col("y") === 0.0, 1L)
          .otherwise(0L)), lit(0L)).as("tn"))
    conf.crossJoin(broadcast(valDocs.agg(count(lit(1)).as("n_val"))))
      .select(col("n_val"), col("n_scored"), col("tp"), col("fp"),
        col("fn"), col("tn"),
        when(col("n_scored") > 0,
          round((col("tp") + col("tn")).cast(DoubleType) / col("n_scored"), 6))
          .as("accuracy"))
  }

  private lazy val classifierEvalSql = {
    val splitExpr = "((doc_id % 10) + 10) % 10"
    s"""WITH tr AS (SELECT * FROM documents WHERE $splitExpr < 8),
      |vl AS (SELECT * FROM documents WHERE $splitExpr = 8),
      |${lrTrainCtesOver("t", "tr")},
      |${TextOps.hashedTokCntCte("v", "vl")},
      |${TextOps.hashedVecTailCtes("v", "vtc", "tidf")},
      |${lrDenseCtes("s", "vvec")},
      |vq AS (${TextOps.qualityCoreSqlOver("vl")}),
      |vlab AS (SELECT doc_id,
      |    CASE WHEN quality >= $FunnelQualityMin THEN 1.0 ELSE 0.0 END AS y
      |  FROM vq),
      |sc AS (SELECT f.doc_id, ${lrFoldSql("f.xs", "w.w")} AS z
      |  FROM sfx f CROSS JOIN tw$LrSteps w),
      |pr AS (SELECT s.doc_id, CASE WHEN s.z >= 0 THEN 1 ELSE 0 END AS keep, l.y
      |       FROM sc s JOIN vlab l USING (doc_id)),
      |nv AS (SELECT COUNT(*) AS n_val FROM vl),
      |cf AS (SELECT COUNT(*) AS n_scored,
      |  CAST(COALESCE(SUM(CASE WHEN keep = 1 AND y = 1.0 THEN 1 ELSE 0 END), 0)
      |    AS BIGINT) AS tp,
      |  CAST(COALESCE(SUM(CASE WHEN keep = 1 AND y = 0.0 THEN 1 ELSE 0 END), 0)
      |    AS BIGINT) AS fp,
      |  CAST(COALESCE(SUM(CASE WHEN keep = 0 AND y = 1.0 THEN 1 ELSE 0 END), 0)
      |    AS BIGINT) AS fn,
      |  CAST(COALESCE(SUM(CASE WHEN keep = 0 AND y = 0.0 THEN 1 ELSE 0 END), 0)
      |    AS BIGINT) AS tn
      |  FROM pr)
      |SELECT nv.n_val, cf.n_scored, cf.tp, cf.fp, cf.fn, cf.tn,
      |  CASE WHEN cf.n_scored > 0
      |    THEN ROUND(CAST(cf.tp + cf.tn AS DOUBLE) / cf.n_scored, 6) END
      |    AS accuracy
      |FROM cf CROSS JOIN nv""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q206: classifier operating-point sweep (precision/recall per decile)
  // ---------------------------------------------------------------------

  /** q206: the operating-point sweep q204's single-point confusion table
    * leaves open — which threshold to DEPLOY. For each decile threshold
    * t = 0.0 … 0.9, the confusion counts and precision/recall/F1 of
    * "keep iff σ(z) ≥ t" over the full corpus's served scores (q203's
    * persisted model — the ensure rule) against the q63 gate labels.
    * The population is the scored population (docs with ≥1 trained-
    * vocabulary token — q204's n_scored convention).
    *
    * Scale shape: ONE corpus pass (the q203 pure-map scorer + the
    * per-doc-intrinsic label kernel, sharing the scan), collapsing
    * map-side into a ≤22-row (decile-bucket × label) histogram; the ten
    * thresholds then read CUMULATIVE sums off that histogram via a tiny
    * non-equi broadcast join — the corpus is never re-scanned per
    * threshold and never inflated tenfold. Deciles bucket on the
    * DECIMAL-cast 6dp score (floor(score × 10) in exact decimal
    * arithmetic — binary-double × 10 would misbucket 0.3), so both
    * engines assign boundary scores identically. F1 folds to the
    * single-division 2·tp / (2·tp + fp + fn) — integer-exact operands,
    * one IEEE division, cross-engine deterministic. */
  def lrThresholdSweep(spark: SparkSession, dir: String): DataFrame =
    lrThresholdSweepOf(Tables.documents(spark, dir), loadLrWeights(spark, dir))

  /** DataFrame-level core against an explicit model (testable on
    * constructed corpora; shares [[lrScoreOf]]'s kernel verbatim so the
    * sweep prices exactly the scores q203 serves). */
  def lrThresholdSweepOf(d: DataFrame, w: Array[Double]): DataFrame = {
    val spark = d.sparkSession
    val lab = TextOps.qualityScoresOf(d).select(col("doc_id"),
      when(col("quality") >= FunnelQualityMin, lit(1.0)).otherwise(lit(0.0)).as("y"))
    val scored = lrScoreOf(d, w).select(col("doc_id"), col("score"))
      .join(lab, Seq("doc_id"))
    // <=22 rows, but it FRONTS the corpus-sized scorer+label pass and is
    // referenced twice below (totals + the threshold join): ScopedCache
    // it so the corpus scores once even when exchange reuse doesn't
    // unify the two branches (the doubly-referenced-subtree rule)
    val hist = graft.functions.ScopedCache.persist("q206.hist", scored
      .select(floor(col("score").cast(DecimalType(7, 6)) * 10)
          .cast(IntegerType).as("b"), col("y"))
      .groupBy(col("b"), col("y")).agg(count(lit(1)).as("c")))
    val tot = hist.agg(
      coalesce(sum(when(col("y") === 1.0, col("c"))), lit(0L)).as("pos"),
      coalesce(sum(when(col("y") === 0.0, col("c"))), lit(0L)).as("neg"))
    val th = spark.range(0, 10).select(col("id").cast(IntegerType).as("k"))
    val ag = th.join(hist, col("b") >= col("k"), "left")
      .groupBy(col("k"))
      .agg(coalesce(sum(when(col("y") === 1.0, col("c"))), lit(0L)).as("tp"),
        coalesce(sum(when(col("y") === 0.0, col("c"))), lit(0L)).as("fp"))
    ag.crossJoin(broadcast(tot))
      .select((col("k").cast(DoubleType) / 10).as("thr"),
        col("tp"), col("fp"),
        (col("pos") - col("tp")).as("fn"),
        (col("neg") - col("fp")).as("tn"),
        when(col("tp") + col("fp") > 0,
          round(col("tp").cast(DoubleType) / (col("tp") + col("fp")), 6))
          .as("precision"),
        when(col("pos") > 0,
          round(col("tp").cast(DoubleType) / col("pos"), 6)).as("recall"),
        when(lit(2) * col("tp") + col("fp") + (col("pos") - col("tp")) > 0,
          round((lit(2) * col("tp")).cast(DoubleType) /
            (lit(2) * col("tp") + col("fp") + (col("pos") - col("tp"))), 6))
          .as("f1"))
      .orderBy(col("thr"))
  }

  private lazy val lrThresholdSweepSql =
    // the full training chain SHARED VERBATIM (lrTrainCtes, which also
    // carries the label CTE `lab`), one scoring pass, then the decile
    // histogram + cumulative threshold join
    s"""WITH $lrTrainCtes,
      |sc AS (SELECT f.doc_id, ${lrFoldSql("f.xs", "w.w")} AS z, f.y
      |  FROM f CROSS JOIN w$LrSteps w),
      |sp AS (SELECT doc_id, ROUND(1.0 / (1.0 + EXP(-z)), 6) AS score, y
      |       FROM sc),
      |h AS (SELECT CAST(FLOOR(CAST(score AS DECIMAL(7,6)) * 10) AS INT) AS b,
      |        y, COUNT(*) AS c
      |      FROM sp GROUP BY 1, 2),
      |tt AS (SELECT
      |    CAST(COALESCE(SUM(CASE WHEN y = 1.0 THEN c END), 0) AS BIGINT) AS pos,
      |    CAST(COALESCE(SUM(CASE WHEN y = 0.0 THEN c END), 0) AS BIGINT) AS neg
      |  FROM h),
      |dk AS (SELECT UNNEST(GENERATE_SERIES(0, 9)) AS k),
      |ag AS (SELECT dk.k,
      |    CAST(COALESCE(SUM(CASE WHEN h.y = 1.0 THEN h.c END), 0) AS BIGINT) AS tp,
      |    CAST(COALESCE(SUM(CASE WHEN h.y = 0.0 THEN h.c END), 0) AS BIGINT) AS fp
      |  FROM dk LEFT JOIN h ON h.b >= dk.k GROUP BY dk.k)
      |SELECT CAST(k AS DOUBLE) / 10 AS thr, ag.tp, ag.fp,
      |  tt.pos - ag.tp AS fn, tt.neg - ag.fp AS tn,
      |  CASE WHEN ag.tp + ag.fp > 0
      |    THEN ROUND(CAST(ag.tp AS DOUBLE) / (ag.tp + ag.fp), 6) END AS "precision",
      |  CASE WHEN tt.pos > 0
      |    THEN ROUND(CAST(ag.tp AS DOUBLE) / tt.pos, 6) END AS recall,
      |  CASE WHEN 2 * ag.tp + ag.fp + (tt.pos - ag.tp) > 0
      |    THEN ROUND(CAST(2 * ag.tp AS DOUBLE)
      |      / (2 * ag.tp + ag.fp + (tt.pos - ag.tp)), 6) END AS f1
      |FROM ag CROSS JOIN tt
      |ORDER BY thr""".stripMargin

  // ---------------------------------------------------------------------
  // q213: classifier calibration card (reliability diagram)
  // ---------------------------------------------------------------------

  /** q213: the CALIBRATION card — per score-decile bin, the mean served
    * score next to the empirical positive rate. q206 answers "where do I
    * threshold?"; this answers the OTHER deployment question: "can I use
    * the score as a probability?" — the question any score-weighted use
    * (sampling ∝ score, the q188-style mixing move; expected-quality
    * accounting) rides on. A well-calibrated bin has mean_score ≈
    * frac_pos; `calib_gap` prints the signed miss per bin.
    *
    * Same population and binning as q206 (the served q203 scores,
    * decimal-exact decile buckets, scored docs only), so the two cards
    * read side by side. Scale shape: ONE corpus pass collapsing
    * map-side into ≤10 bins; mean scores sum the 6dp-rounded doubles as
    * DECIMAL(38,12) (exact, order-free), one IEEE division each, round
    * 6; frac_pos and the gap are arithmetic over exact counts and the
    * two already-rounded 6dp values — cross-engine deterministic. */
  def lrCalibrationCard(spark: SparkSession, dir: String): DataFrame =
    lrCalibrationCardOf(Tables.documents(spark, dir), loadLrWeights(spark, dir))

  /** DataFrame-level core against an explicit model (shares
    * [[lrScoreOf]]'s kernel and q206's bucketing verbatim). */
  def lrCalibrationCardOf(d: DataFrame, w: Array[Double]): DataFrame = {
    val lab = TextOps.qualityScoresOf(d).select(col("doc_id"),
      when(col("quality") >= FunnelQualityMin, lit(1.0)).otherwise(lit(0.0)).as("y"))
    reliabilityCardFrom(lrScoreOf(d, w).select(col("doc_id"), col("score"))
      .join(lab, Seq("doc_id")).select(col("score"), col("y")))
  }

  /** The reliability-diagram aggregate over (score, y) rows — ONE kernel
    * shared by q213 (raw served scores) and q215 (Platt-recalibrated
    * scores), so the before/after cards bin and round identically and a
    * reader can compare them line by line. */
  private def reliabilityCardFrom(scored: DataFrame): DataFrame =
    scored
      .select(floor(col("score").cast(DecimalType(7, 6)) * 10)
          .cast(IntegerType).as("bin"), col("score"), col("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(when(col("y") === 1.0, 1L).otherwise(0L)), lit(0L))
          .as("n_pos"),
        round(sum(col("score").cast(DecimalType(38, 12))).cast(DoubleType)
          / count(lit(1)), 6).as("mean_score"))
      .select(col("bin"), (col("bin").cast(DoubleType) / 10).as("bin_lo"),
        col("n_docs"), col("n_pos"), col("mean_score"),
        round(col("n_pos").cast(DoubleType) / col("n_docs"), 6).as("frac_pos"))
      // the gap is derived from the two PRINTED 6dp columns, so the card
      // is self-consistent: calib_gap == mean_score - frac_pos exactly
      // as a reader recomputes it off the card
      .withColumn("calib_gap", round(col("mean_score") - col("frac_pos"), 6))
      .orderBy(col("bin"))

  private lazy val lrCalibrationCardSql =
    // the train chain + one scoring pass SHARED VERBATIM with q203/q206,
    // then the per-bin reliability aggregate
    s"""WITH $lrTrainCtes,
      |sc AS (SELECT f.doc_id, ${lrFoldSql("f.xs", "w.w")} AS z, f.y
      |  FROM f CROSS JOIN w$LrSteps w),
      |sp AS (SELECT doc_id, ROUND(1.0 / (1.0 + EXP(-z)), 6) AS score, y
      |       FROM sc)
      |${reliabilityCardSqlOver("sp")}
      |ORDER BY bin""".stripMargin

  // ---------------------------------------------------------------------
  // q215: Platt-scaling recalibration
  // ---------------------------------------------------------------------

  /** Platt GD steps — enough to flatten the fixture's global bias while
    * keeping the unrolled oracle chain cheap (each step is one pass over
    * a 2-column table; the model is 2 doubles). */
  val PlattSteps = 12

  /** Fit Platt scaling (Platt, "Probabilistic Outputs for Support Vector
    * Machines", 1999): the 2-parameter logistic σ(a·z + b) over the
    * classifier's served margins z against the q63 labels, by gradient
    * ascent on the log-likelihood — the q202 training-loop discipline
    * applied to a 2-parameter model. Per step: ONE map-side-combined
    * 1-row aggregate (Σ z·err, Σ err — each term decimal-exact before
    * summing) reaches the driver; the model (a, b) is the only driver
    * state, re-rounded to 6dp each step and folded back into the next
    * step's kernel as literals, so the oracle's unrolled CTE replay
    * cannot drift (the q100/q202 iterative-model convention). Init
    * (a, b) = (1, 0) — the identity transform, so step 0 IS the raw
    * calibration and training strictly refines it. Plain labels, not
    * Platt's (N₊+1)/(N₊+2) target smoothing: the q63 gate is a
    * deterministic rule, not a noisy annotator, so the smoothing prior
    * has nothing to regularize against and would shift every target by
    * a corpus-dependent constant the card reader can't see. */
  /** The truncated (z, y) table every Platt piece loops and aggregates
    * over: the cached table still carries the ~200-node featurizer plan,
    * which each GD step's fresh literals would otherwise re-analyse.
    * Registered, so q215's card and q224's three reliability branches
    * read the SAME truncated table the fit looped over. */
  private def zyCheckpoint(zy: DataFrame): DataFrame =
    graft.functions.ScopedCache.checkpoint("q215.zyt", zy)

  private[graft] def plattFit(zy: DataFrame): (Double, Double) = {
    val t = zyCheckpoint(zy)
    val n = t.count()
    // empty margin table: nothing to fit — return the identity transform
    // (the init state) instead of NPE-ing on the NULL gradient decimals;
    // the card over zero rows is then empty in BOTH engines
    if (n == 0) return (1.0, 0.0)
    var a = 1.0
    var b = 0.0
    def r6(x: Double) = new java.math.BigDecimal(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    for (_ <- 1 to PlattSteps) {
      val lin = round(lit(a) * col("z") + lit(b), 6)
      val g = t
        .select(col("z"),
          (col("y") - lit(1.0) / (lit(1.0) + exp(-lin))).as("err"))
        .agg(sum((col("z") * col("err")).cast(DecimalType(38, 12))).as("ga"),
          sum(col("err").cast(DecimalType(38, 12))).as("gb"))
        .collect()(0)
      a = r6(a + g.getDecimal(0).doubleValue() / n)
      b = r6(b + g.getDecimal(1).doubleValue() / n)
    }
    (a, b)
  }

  /** The recalibrated-score kernel over a margin column `z`: 6dp round
    * of the linear map, sigmoid, 6dp round of the report — the same
    * rounding discipline as [[lrScoreFromDense]], so the recalibrated
    * score is exactly what an independent engine recomputes. */
  private def plattScoreExpr(a: Double, b: Double) =
    round(lit(1.0) / (lit(1.0) + exp(-round(lit(a) * col("z") + lit(b), 6))), 6)

  /** The (margin, label) table every Platt piece reads: the artifact
    * model's 6dp fold per doc joined once to the q63 gate. */
  private[graft] def lrMarginLabels(d: DataFrame, w: Array[Double]): DataFrame = {
    val lab = TextOps.qualityScoresOf(d).select(col("doc_id"),
      when(col("quality") >= FunnelQualityMin, lit(1.0)).otherwise(lit(0.0)).as("y"))
    lrZFromDense(lrDense(d), w).join(lab, Seq("doc_id"))
  }

  /** Per-doc recalibrated scores against an explicit model — the serving
    * shape (a pure map over the q203 margin) exposed for the
    * SemanticsSpec rank-preservation and score laws. */
  private[graft] def plattScoresOf(d: DataFrame, w: Array[Double],
      a: Double, b: Double): DataFrame =
    lrZFromDense(lrDense(d), w)
      .select(col("doc_id"), col("z"),
        round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6).as("score_raw"),
        plattScoreExpr(a, b).as("score_cal"))
      .orderBy(col("doc_id"))

  /** Streaming-twin recalibrated scoring: a micro-batch scored with ALL
    * trained artifacts frozen — the 33 weights, the train-corpus idf the
    * featurizer needs, AND the fitted Platt (a, b). Recalibrated scoring
    * is a pure per-doc map once the three freeze (z-fold → literal
    * linear map → sigmoid), so an arriving doc's (score_raw, score_cal)
    * is bit-identical to the nightly batch scorer's (the StreamingSpec
    * law — q203's twin extended by the recalibration layer). */
  def plattScoreBatch(b: DataFrame, w: Array[Double], idf: DataFrame,
      a: Double, pb: Double): DataFrame =
    lrZFromDense(denseFromVec(TextOps.hashedVectorsBatch(
      b.select(col("doc_id"), col("text")), idf)), w)
      .select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6).as("score_raw"),
        plattScoreExpr(a, pb).as("score_cal"))
      .orderBy(col("doc_id"))

  /** q215: Platt-scaling recalibration — CLOSES THE LOOP q213 opened.
    * q213 measures that the served score is not a trustworthy
    * probability (the fixture's bin 0.7 runs +0.225 over-confident);
    * this operator FIXES it the standard way: fit σ(a·z + b) on the
    * served margins against the q63 labels ([[plattFit]]), re-score,
    * and emit the SAME reliability card over the recalibrated scores —
    * the before (q213) and after (q215) cards share one aggregate
    * kernel ([[reliabilityCardFrom]]), so the gap shrink is read
    * bin-for-bin. Any score-weighted consumer (sampling ∝ score,
    * expected-quality accounting) should ride the recalibrated score;
    * rank consumers (q206's thresholds) are untouched because a > 0
    * makes the transform strictly monotone in z (SemanticsSpec law).
    *
    * Scale shape: the corpus-sized work is q213's exactly — the scorer
    * front (pure map) joined once to the label kernel — materialized
    * ONCE into a ScopedCache'd 2-column (z, y) table; each of the
    * [[PlattSteps]] GD steps is then one map-side-combined 1-row
    * aggregate over that cached table (at 100 TB: fit on a sample or a
    * cached projection — the steps never re-run the featurizer), and
    * the final card is one ≤10-bin aggregate over the same cache. The
    * oracle replays train chain + margins + every unrolled GD step +
    * the card from the raw corpus, so a green row certifies the fitted
    * (a, b) too (the q109/q203 admission precedent). */
  def plattRecalibration(spark: SparkSession, dir: String): DataFrame =
    plattRecalibrationOf(Tables.documents(spark, dir),
      loadLrWeights(spark, dir))

  /** DataFrame-level core against an explicit model. The card reads the
    * SAME truncated (z, y) table the fit looped over (registry slot —
    * the featurizer chain materializes once and is never re-planned). */
  def plattRecalibrationOf(d: DataFrame, w: Array[Double]): DataFrame = {
    val zy = lrMarginLabels(d, w).select(col("z"), col("y"))
    val (a, b) = plattFit(zy)
    val t = zyCheckpoint(zy)
    reliabilityCardFrom(t.select(plattScoreExpr(a, b).as("score"), col("y")))
  }

  /** The unrolled Platt GD step chain pe$i/pg$i/pw$i (over the `sz`
    * margin table, `pn` count, and `pw0` init) — ONE builder shared by
    * q215's fit replay and q219's served-score replay (and q224's
    * method card), so an edit to the step kernel cannot desync the
    * certified fit chain from its consumers (ADVICE r16). */
  private def plattStepCtes(steps: Int): String =
    (1 to steps).map { i =>
      s"""pe$i AS MATERIALIZED (SELECT s.z, s.y,
        |    s.y - 1.0 / (1.0 + EXP(-ROUND(p.a * s.z + p.b, 6))) AS err
        |  FROM sz s CROSS JOIN pw${i - 1} p),
        |pg$i AS MATERIALIZED (SELECT
        |    CAST(SUM(CAST(z * err AS DECIMAL(38,12))) AS DOUBLE) AS ga,
        |    CAST(SUM(CAST(err AS DECIMAL(38,12))) AS DOUBLE) AS gb
        |  FROM pe$i),
        |pw$i AS MATERIALIZED (SELECT ROUND(p.a + g.ga / n.n, 6) AS a,
        |    ROUND(p.b + g.gb / n.n, 6) AS b
        |  FROM pw${i - 1} p CROSS JOIN pg$i g CROSS JOIN pn n)""".stripMargin
    }.mkString(",\n")

  /** Train chain + margin table + the full unrolled Platt chain, ending
    * with the fitted model in `pw$PlattSteps` — the shared prefix of the
    * q215 / q219 / q224 oracles. */
  private lazy val plattChainCtes: String =
    s"""$lrTrainCtes,
      |sz AS MATERIALIZED (SELECT f.doc_id, ${lrFoldSql("f.xs", "w.w")} AS z,
      |    f.y
      |  FROM f CROSS JOIN w$LrSteps w),
      |pn AS (SELECT COUNT(*) AS n FROM sz),
      |pw0 AS (SELECT CAST(1.0 AS DOUBLE) AS a, CAST(0.0 AS DOUBLE) AS b),
      |${plattStepCtes(PlattSteps)}""".stripMargin

  private lazy val plattRecalibrationSql = {
    val cal = s"ROUND(1.0 / (1.0 + EXP(-ROUND(p.a * s.z + p.b, 6))), 6)"
    s"""WITH $plattChainCtes,
      |cb0 AS (SELECT $cal AS score, s.y
      |        FROM sz s CROSS JOIN pw$PlattSteps p)
      |${reliabilityCardSqlOver("cb0")}
      |ORDER BY bin""".stripMargin
  }

  /** q219 model artifact: the fitted Platt (a, b) persisted once per
    * fixture (ArtifactStore's ensure rule — fit-once/serve-many, the
    * lrmodel lifecycle applied to the recalibrator; building it also
    * ensures the lrmodel the margins need). */
  def ensurePlattModel(spark: SparkSession, dir: String): String =
    graft.sources.ArtifactStore.ensure("plattmodel", dir, Seq("params")) { base =>
      val w = loadLrWeights(spark, dir)
      val zy = lrMarginLabels(Tables.documents(spark, dir), w)
        .select(col("z"), col("y"))
      val (a, b) = plattFit(zy)
      val session = spark
      import session.implicits._
      Seq((a, b)).toDF("a", "b")
        .write.mode("overwrite").parquet(s"$base/params")
    }

  /** The ONE artifact-load path for the Platt parameters (ensure + 1-row
    * collect) — model-sized: 2 doubles. */
  private def loadPlattParams(spark: SparkSession, dir: String): (Double, Double) = {
    val base = ensurePlattModel(spark, dir)
    val r = spark.read.parquet(s"$base/params").collect()(0)
    (r.getAs[Double]("a"), r.getAs[Double]("b"))
  }

  /** q219: per-doc recalibrated scores SERVED from the persisted Platt
    * artifact — the apply half of q215, the q108/q109 build/serve split
    * applied to the recalibrator: q215 is the instrument (it fits NOW by
    * contract and emits the before/after card), q219 is what a
    * score-weighted consumer actually reads nightly — (doc_id, margin,
    * raw score, recalibrated score), a PURE MAP over the q203 margin
    * once the (weights, a, b) triple is frozen. The oracle replays the
    * ENTIRE train + margin + 12-step Platt chain from the raw corpus,
    * so a green row certifies the persisted (a, b) too (the q109/q203
    * admission precedent); the SemanticsSpec invisibility law pins
    * served ≡ freshly fit, and the q215 card is exactly the reliability
    * aggregate of these rows. */
  def plattScoresServed(spark: SparkSession, dir: String): DataFrame = {
    val w = loadLrWeights(spark, dir)
    val (a, b) = loadPlattParams(spark, dir)
    plattScoresOf(Tables.documents(spark, dir), w, a, b)
  }

  private lazy val plattScoresServedSql = {
    s"""WITH $plattChainCtes
      |SELECT s.doc_id, s.z,
      |  ROUND(1.0 / (1.0 + EXP(-s.z)), 6) AS score_raw,
      |  ROUND(1.0 / (1.0 + EXP(-ROUND(p.a * s.z + p.b, 6))), 6) AS score_cal
      |FROM sz s CROSS JOIN pw$PlattSteps p
      |ORDER BY s.doc_id NULLS FIRST""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q224: binned isotonic recalibration + calibration-method card
  // ---------------------------------------------------------------------

  /** Binned isotonic regression over a (score, y) population: decile-bin
    * the raw scores (q213's binning), then fit the least-squares
    * MONOTONE probability per bin via the closed-form minimax solution
    * of isotonic regression (Barlow et al. 1972; Zadrozny & Elkan KDD'02
    * is the calibration application):
    *
    *   iso_i = max_{j≤i} min_{k≥i} (Σ_{j..k} n_pos / Σ_{j..k} n_docs)
    *
    * — exactly what pool-adjacent-violators converges to, but expressed
    * as bounded joins over the ≤11-bin card instead of an iterative
    * pooling loop, so BOTH engines compute it in one breath and the
    * oracle needs no unrolled fixpoint. Every interval average is a
    * single division of exact integers (bit-identical cross-engine),
    * and min/max over identical doubles are exact — the only rounding
    * is the final 6dp print. */
  private[graft] def isotonicCardFrom(scored: DataFrame): DataFrame = {
    val b = scored
      .select(floor(col("score").cast(DecimalType(7, 6)) * 10)
        .cast(IntegerType).as("bin"), col("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(when(col("y") === 1.0, 1L).otherwise(0L)), lit(0L))
          .as("n_pos"))
    // the three non-equi joins below run over the ≤11-row bin card —
    // model-sized by the decile-grid DESIGN constant, never the corpus.
    // r18: EXPLICIT broadcasts — the (z, y) table behind `b` is now a
    // registered checkpoint whose RDD leaf carries no size statistics,
    // so without the hints the planner degraded these bounded non-equi
    // joins to CartesianProduct; the DESIGN constant (not a size
    // estimate) is what bounds the build sides, so the hint is the
    // broadcast-literal idiom, not a tuning guess
    val m = b.select(col("bin").as("mb"), col("n_docs").as("mn"),
      col("n_pos").as("mp"))
    val intervals = b.select(col("bin").as("jb"))
      .join(broadcast(b.select(col("bin").as("kb"))), col("jb") <= col("kb"))
      .join(broadcast(m), col("mb") >= col("jb") && col("mb") <= col("kb"))
      .groupBy(col("jb"), col("kb"))
      .agg((sum(col("mp")).cast(DoubleType) / sum(col("mn"))).as("av"))
    val iso = b.select(col("bin"))
      .join(broadcast(intervals),
        col("jb") <= col("bin") && col("kb") >= col("bin"))
      .groupBy(col("bin"), col("jb")).agg(min(col("av")).as("mn_av"))
      .groupBy(col("bin")).agg(max(col("mn_av")).as("iso"))
    b.join(iso, Seq("bin"))
      .select(col("bin"), (col("bin").cast(DoubleType) / 10).as("bin_lo"),
        col("n_docs"), col("n_pos"),
        round(col("iso"), 6).as("mean_score"),
        round(col("n_pos").cast(DoubleType) / col("n_docs"), 6).as("frac_pos"))
      .withColumn("calib_gap", round(col("mean_score") - col("frac_pos"), 6))
  }

  /** q224: the calibration-method card — the q217 method-card treatment
    * for the recalibration family: the q213-grammar reliability card for
    * all three calibrators a curator can buy, side by side on the SAME
    * scored population:
    *
    *   - `raw`      — the served sigmoid scores as-is (≡ q213's card);
    *   - `platt`    — σ(a·z + b) after the q215 fit (≡ q215's card);
    *   - `isotonic` — the binned-isotonic fit ([[isotonicCardFrom]]):
    *     `mean_score` is the monotone fitted probability for the bin.
    *
    * Platt assumes the miscalibration is sigmoid-shaped; isotonic only
    * assumes monotonicity — this card is how the choice becomes
    * MEASURED (per-bin gaps read line by line; SemanticsSpec pins the
    * isotonic rows monotone and its weighted gap ≤ raw's, and the raw/
    * platt rows invisible vs q213/q215). Scale shape: the corpus work
    * is exactly q215's — the ScopedCache'd 2-column (z, y) table — and
    * everything after the ≤11-bin aggregates is model-sized arithmetic;
    * the isotonic fit adds three joins over an 11-row card. */
  def calibrationMethodCard(spark: SparkSession, dir: String): DataFrame =
    calibrationMethodCardOf(Tables.documents(spark, dir),
      loadLrWeights(spark, dir))

  /** DataFrame-level core against an explicit model. All three method
    * branches (raw / platt / isotonic) read the ONE truncated (z, y)
    * table the fit looped over (VERDICT r17 #5) — the featurizer chain
    * materializes once and none of the branches re-plans it. */
  def calibrationMethodCardOf(d: DataFrame, w: Array[Double]): DataFrame = {
    val zy = lrMarginLabels(d, w).select(col("z"), col("y"))
    val (a, b) = plattFit(zy)
    val t = zyCheckpoint(zy)
    val rawScored = t.select(
      round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6).as("score"), col("y"))
    val platt = reliabilityCardFrom(
      t.select(plattScoreExpr(a, b).as("score"), col("y")))
    reliabilityCardFrom(rawScored).withColumn("method", lit("raw"))
      .unionByName(platt.withColumn("method", lit("platt")))
      .unionByName(isotonicCardFrom(rawScored).withColumn("method", lit("isotonic")))
      .select(col("method"), col("bin"), col("bin_lo"), col("n_docs"),
        col("n_pos"), col("mean_score"), col("frac_pos"), col("calib_gap"))
      .orderBy(col("method"), col("bin"))
  }

  /** The q213-grammar reliability-card SELECT over a (score, y) CTE —
    * ONE builder shared by the q213 / q215 / q224 oracles (the card
    * aggregate's SQL twin of [[reliabilityCardFrom]]). */
  private def reliabilityCardSqlOver(src: String): String =
    s"""SELECT bin, CAST(bin AS DOUBLE) / 10 AS bin_lo,
      |  COUNT(*) AS n_docs,
      |  CAST(COALESCE(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END), 0) AS BIGINT)
      |    AS n_pos,
      |  ROUND(CAST(SUM(CAST(score AS DECIMAL(38,12))) AS DOUBLE)
      |    / COUNT(*), 6) AS mean_score,
      |  ROUND(CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 6) AS frac_pos,
      |  ROUND(ROUND(CAST(SUM(CAST(score AS DECIMAL(38,12))) AS DOUBLE)
      |      / COUNT(*), 6)
      |    - ROUND(CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS DOUBLE)
      |      / COUNT(*), 6), 6) AS calib_gap
      |FROM (SELECT CAST(FLOOR(CAST(score AS DECIMAL(7,6)) * 10) AS INT)
      |        AS bin, score, y FROM $src) cbx
      |GROUP BY bin""".stripMargin

  private lazy val calibrationMethodCardSql = {
    val cal = "ROUND(1.0 / (1.0 + EXP(-ROUND(p.a * s.z + p.b, 6))), 6)"
    s"""WITH $plattChainCtes,
      |rawsc AS (SELECT ROUND(1.0 / (1.0 + EXP(-z)), 6) AS score, y FROM sz),
      |calsc AS (SELECT $cal AS score, s.y
      |          FROM sz s CROSS JOIN pw$PlattSteps p),
      |rawcd AS (${reliabilityCardSqlOver("rawsc")}),
      |calcd AS (${reliabilityCardSqlOver("calsc")}),
      |ib AS (SELECT CAST(FLOOR(CAST(score AS DECIMAL(7,6)) * 10) AS INT)
      |         AS bin, COUNT(*) AS n_docs,
      |         CAST(COALESCE(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END), 0)
      |           AS BIGINT) AS n_pos
      |       FROM rawsc GROUP BY 1),
      |iv AS (SELECT j.bin AS jb, k.bin AS kb,
      |         CAST(SUM(m.n_pos) AS DOUBLE) / SUM(m.n_docs) AS av
      |       FROM ib j JOIN ib k ON j.bin <= k.bin
      |       JOIN ib m ON m.bin BETWEEN j.bin AND k.bin
      |       GROUP BY 1, 2),
      |mnv AS (SELECT i.bin, v.jb, MIN(v.av) AS mn
      |        FROM ib i JOIN iv v ON v.jb <= i.bin AND v.kb >= i.bin
      |        GROUP BY 1, 2),
      |iso AS (SELECT bin, MAX(mn) AS iso FROM mnv GROUP BY 1),
      |isocd AS (SELECT b.bin, CAST(b.bin AS DOUBLE) / 10 AS bin_lo,
      |    b.n_docs, b.n_pos,
      |    ROUND(i.iso, 6) AS mean_score,
      |    ROUND(CAST(b.n_pos AS DOUBLE) / b.n_docs, 6) AS frac_pos,
      |    ROUND(ROUND(i.iso, 6)
      |      - ROUND(CAST(b.n_pos AS DOUBLE) / b.n_docs, 6), 6) AS calib_gap
      |  FROM ib b JOIN iso i USING (bin))
      |SELECT 'raw' AS method, * FROM rawcd
      |UNION ALL SELECT 'platt', * FROM calcd
      |UNION ALL SELECT 'isotonic', * FROM isocd
      |ORDER BY method, bin""".stripMargin
  }

  /** DataFrame-level core (testable on constructed corpora). */
  def lrQualityTrainOf(d: DataFrame): DataFrame =
    lrQualityTrainFrom(d, lrFeats(d))

  /** Train against an EXPLICIT shared idf table (the q204 split-eval
    * path): identical arithmetic to [[lrQualityTrainOf]] —
    * [[TextOps.hashedVectorsBatch]] over the idf's own fit corpus is
    * row-identical to [[lrDense]]'s self-fit (same tokCnt front, same
    * inner join against the same idf rows) — so the weights are
    * bit-identical; the saving is the SECOND idf(train) derivation the
    * val featurizer used to pay (guide §2.4). */
  private[graft] def lrQualityTrainWith(d: DataFrame, idf: DataFrame): DataFrame =
    lrQualityTrainFrom(d, lrFeatsFrom(d, denseFromVec(
      TextOps.hashedVectorsBatch(d.select(col("doc_id"), col("text")), idf))))

  private def lrQualityTrainFrom(d: DataFrame, feats: DataFrame): DataFrame = {
    val spark = d.sparkSession
    val nDocs = feats.count()
    // lineage-truncated loop table: the cached feats still carry the
    // whole featurizer plan, which each step's fresh 33-literal model
    // would re-analyse per collect; truncation makes the 5 step plans
    // near-constant cost. Released before returning, failed or not.
    val t = graft.functions.ScopedCache.truncate(feats, eager = true)
    try {
      val w = Array.fill(LrBiasDim + 1)(0.0)
      for (_ <- 1 to LrSteps) {
        lrGradOf(t, w).collect().foreach { r =>
          val dim = r.getInt(0)
          val g = r.getDecimal(1).doubleValue()
          w(dim) = new java.math.BigDecimal(w(dim) + g / nDocs)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        }
      }
      val session = spark
      import session.implicits._
      w.toSeq.zipWithIndex.map { case (wt, i) => (i, wt) }
        .toDF("dim", "weight").orderBy(col("dim"))
    } finally graft.functions.ScopedCache.releaseCheckpoint(t)
  }

  /** The full training chain as CTEs ending in the final model
    * `w$LrSteps` — shared VERBATIM by q202 (which projects the weight
    * table) and q203 (which appends one scoring SELECT), so the two
    * queries cannot train different models. */
  /** Oracle CTEs `${p}bias`/`${p}grid`/`${p}cell`/`${p}fx` — scatter the
    * long-form vectors in `vecCte` into one dense xs[33] row per doc
    * (bias slot last). Shared by the train chain and q204's val side. */
  private def lrDenseCtes(p: String, vecCte: String): String = {
    val D = TextOps.HashedVecDims
    s"""${p}bias AS MATERIALIZED (SELECT DISTINCT doc_id FROM $vecCte),
      |${p}grid AS MATERIALIZED (SELECT b.doc_id, j
      |         FROM ${p}bias b, UNNEST(GENERATE_SERIES(0, ${D - 1})) t(j)),
      |${p}cell AS MATERIALIZED (SELECT g.doc_id, g.j, COALESCE(v.w, 0.0) AS x
      |         FROM ${p}grid g LEFT JOIN $vecCte v
      |           ON v.doc_id = g.doc_id AND v.dim = g.j),
      |${p}fx AS MATERIALIZED (SELECT doc_id, LIST(x ORDER BY j) || [CAST(1.0 AS DOUBLE)] AS xs
      |       FROM ${p}cell GROUP BY doc_id)""".stripMargin
  }

  /** The scoring fold: ROUND 6dp of the ordered 33-slot dot product of
    * `$xs` against the model list `$w` — ONE string for the train steps,
    * the q203 scorer, and q204's val scorer, so the kernel cannot
    * drift. */
  private def lrFoldSql(xs: String, w: String): String = {
    val D = TextOps.HashedVecDims
    s"ROUND(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, ${D + 1}), " +
      s"j -> $xs[j] * $w[j])), 6)"
  }

  /** The full training chain over `docsTable`, every CTE name prefixed
    * with `p`, ending in the final model `${p}w$LrSteps` — shared
    * VERBATIM by q202 (projects the weight table), q203 (appends one
    * scoring SELECT), and q204 (fits on the TRAIN split: p = "t"),
    * so no two queries can train different models from the same data. */
  private def lrTrainCtesOver(p: String, docsTable: String): String = {
    val D = TextOps.HashedVecDims
    val steps = (1 to LrSteps).map { i =>
      s"""${p}e$i AS MATERIALIZED (SELECT f.doc_id, f.xs, f.y - 1.0 / (1.0 + EXP(
        |    -${lrFoldSql("f.xs", "w.w")})) AS err
        |  FROM ${p}f f CROSS JOIN ${p}w${i - 1} w),
        |${p}g$i AS MATERIALIZED (SELECT j - 1 AS dim,
        |    CAST(SUM(CAST(e.xs[j] * e.err AS DECIMAL(38,12))) AS DOUBLE) AS g
        |  FROM ${p}e$i e, UNNEST(GENERATE_SERIES(1, ${D + 1})) t(j) GROUP BY j),
        |${p}w$i AS MATERIALIZED (SELECT (SELECT LIST(ROUND(w.w[j + 1] + COALESCE(g.g, 0.0) / n.n, 6)
        |                            ORDER BY j)
        |  FROM UNNEST(GENERATE_SERIES(0, $D)) t(j)
        |  LEFT JOIN ${p}g$i g ON g.dim = j
        |  CROSS JOIN ${p}w${i - 1} w CROSS JOIN ${p}n n) AS w)""".stripMargin
    }.mkString(",\n")
    s"""${TextOps.hashedIdfCtes(p, docsTable)},
      |${TextOps.hashedVecTailCtes(p, s"${p}tc", s"${p}idf")},
      |${p}q AS MATERIALIZED (${TextOps.qualityCoreSqlOver(docsTable)}),
      |${p}lab AS MATERIALIZED (SELECT doc_id,
      |    CASE WHEN quality >= $FunnelQualityMin THEN 1.0 ELSE 0.0 END AS y
      |  FROM ${p}q),
      |${lrDenseCtes(p, s"${p}vec")},
      |${p}f AS MATERIALIZED (SELECT fx.doc_id, fx.xs, l.y
      |          FROM ${p}fx fx JOIN ${p}lab l USING (doc_id)),
      |${p}n AS MATERIALIZED (SELECT COUNT(*) AS n FROM ${p}bias),
      |${p}w0 AS MATERIALIZED (SELECT LIST_TRANSFORM(GENERATE_SERIES(0, $D),
      |       x -> CAST(0.0 AS DOUBLE)) AS w),
      |$steps""".stripMargin
  }

  // lazy: lrQualityScoreSql sits ABOVE this definition in the file and
  // reads it during object init — a plain val would interpolate null
  private lazy val lrTrainCtes: String = lrTrainCtesOver("", "documents")

  private val lrQualityTrainSql = {
    val D = TextOps.HashedVecDims
    s"""WITH $lrTrainCtes
      |SELECT CAST(j AS INT) AS dim, w.w[j + 1] AS weight
      |FROM w$LrSteps w, UNNEST(GENERATE_SERIES(0, $D)) t(j)
      |ORDER BY j""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q222: seeded deterministic epoch shuffle (Feistel + cycle walking)
  // ---------------------------------------------------------------------

  /** Epochs emitted by q222 (each epoch seeds its own permutation). */
  val EpochShuffleEpochs = 2

  /** Cycle-walk unroll bound and hash constants — defined ONCE in
    * [[graft.functions.FeistelWalkKernel]] (the codegen'd kernel) and
    * interpolated into the oracle's unrolled CTE chain below, so the
    * two sides cannot drift. */
  private[graft] val ShuffleWalkSteps = graft.functions.FeistelWalkKernel.Steps
  private val ShufP = graft.functions.FeistelWalkKernel.P
  private val ShufMult = graft.functions.FeistelWalkKernel.Mult
  private val ShufMod = graft.functions.FeistelWalkKernel.Mod

  /** One unbalanced-Feistel round over [0, 2^m) as a DuckDB SQL
    * expression — the oracle's replay of the codegen'd kernel
    * ([[graft.functions.FeistelWalkKernel]], same constants): split x
    * into hb = m/2 low bits (R) and m−hb high bits (L), then
    * x' = R·pl + (L ⊕ f_r(R)) with f_r a multiplicative hash of
    * (R, epoch, round) masked to the L width. Each round is a bijection
    * on [0, 2^m) (R recovers from the high bits, L from the XOR), so
    * the 4-round composition is a keyed permutation (Luby–Rackoff;
    * Black & Rogaway CT-RSA'02 is the cycle-walking construction). */
  private def feistelRoundExpr(x: String, r: Int): String = {
    val rr = s"($x % ph)"
    val ll = s"($x // ph)"
    val f = s"(((($rr + epoch * 1009 + ${r.toLong * 7919}) % $ShufP)" +
      s" * $ShufMult % $ShufMod) % pl)"
    s"($rr * pl + xor($ll, $f))"
  }

  /** The four-round Feistel application + walk step as a lateral-alias
    * column list. The FIRST application is unconditional
    * (`guarded = false`): cycle walking is y = F(x), then re-apply
    * while y lands in the padding — the input index is always < N, so
    * a guarded first step would freeze the identity permutation
    * (caught by the decorrelation law). The intermediate aliases are
    * STEP-UNIQUE (v1_$i …): DuckDB resolves a lateral alias only when
    * no base column of that name exists, so reusing `v1` across the
    * chained CTEs would silently read the PREVIOUS step's column and
    * turn the 48-application walk into a 4-step-latency pipeline
    * delivering ~12 (caught by the r17 self-review; the step-unique
    * names are never selected by the next CTE, so resolution is
    * lateral by construction). */
  private def walkStepExprs(i: Int, guarded: Boolean): Seq[String] = Seq(
    s"${feistelRoundExpr("c", 1)} AS v1_$i",
    s"${feistelRoundExpr(s"v1_$i", 2)} AS v2_$i",
    s"${feistelRoundExpr(s"v2_$i", 3)} AS v3_$i",
    if (guarded)
      s"CASE WHEN c < n THEN c ELSE ${feistelRoundExpr(s"v3_$i", 4)} END AS c"
    else s"${feistelRoundExpr(s"v3_$i", 4)} AS c")

  /** q222: the seeded deterministic epoch shuffle — the data-loader
    * operator the training-order family (q68 pack → q119/q170 order →
    * q189 shard) was missing: for each epoch seed, a BIJECTIVE
    * permutation pos = F_seed(idx) of the packed-chunk index [0, N),
    * bit-identical on any engine, any cluster size, any run — so a
    * loader replays "epoch 3's order" exactly, and different epochs
    * decorrelate (Luby–Rackoff Feistel over the next power of two,
    * cycle-walked back into [0, N); Black & Rogaway CT-RSA'02).
    *
    * The permutation itself is a PURE NARROW MAP — one native codegen
    * expression ([[graft.functions.FeistelWalk]], a per-row Java loop
    * with O(1) plan size), no shuffle, no state; rand() cannot do this
    * (not a permutation, not replayable) and a sort over hash(idx) pays
    * a corpus sort per epoch. The dense index costs one per-source rank
    * (the q68/q69 window posture — parallel across sources, bounded by
    * the largest source) plus a #sources-row offset cumulative, and the
    * presentation sort orders the emitted epochs.
    *
    * Determinism: all arithmetic is non-negative BIGINT mod/div/xor
    * ([[graft.functions.FeistelWalkKernel]]); the oracle unrolls the
    * SAME arithmetic (shared constants) as 48 lateral-alias CTEs, so a
    * green row certifies kernel ≡ unroll end to end. The 1-row chunk
    * count (and the derived power-of-two masks) is the only driver
    * state — model-sized, the q205-argmax class of collect. */
  def epochShuffle(spark: SparkSession, dir: String): DataFrame =
    epochShuffleOf(TextOps.packSequences(spark, dir)
      .select(col("source"), col("chunk_id"), col("chunk_tokens")))

  /** DataFrame-level core over an explicit (source, chunk_id,
    * chunk_tokens) chunk table (testable on constructed chunk sets —
    * the permutation/decorrelation laws sweep N across power-of-two
    * boundaries). */
  def epochShuffleOf(chunks: DataFrame,
      epochs: Int = EpochShuffleEpochs, cacheVariant: String = ""): DataFrame = {
    val spark = chunks.sparkSession
    // the chunk table is referenced THREE times (the count, the rank
    // side, the offsets side) and is a whole pack chain in production —
    // truncated ONCE, so the corpus packs once and the count and the
    // final assembly plan over a 3-column leaf instead of re-analysing
    // the whole upstream chain per reference (for q227 that chain is the
    // entire CCNet pipeline + packer). cacheVariant keeps q222's and
    // q227's generations on separate registry slots.
    val cached = graft.functions.ScopedCache.checkpoint("q222.chunks", cacheVariant,
      chunks.select(col("source"), col("chunk_id"), col("chunk_tokens")))
    // dense global index without a global sort: per-source dense rank
    // (q68's chunk_id can gap when a doc overflows the budget) + a
    // #sources-row offset cumulative broadcast back
    val bySrc = Window.partitionBy(col("source")).orderBy(col("chunk_id"))
    val ranked = cached
      .withColumn("rk", row_number().over(bySrc).cast(LongType) - 1)
    val offsets = cached.groupBy(col("source")).agg(count(lit(1)).as("nc"))
      .withColumn("off", coalesce(sum(col("nc")).over(
        Window.orderBy(col("source"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("source").as("osource"), col("off"))
    // the domain size: ONE model-sized collect (the only driver state)
    val n = cached.count()
    val m =
      if (n <= 1L) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
    require(m <= 40, s"epoch shuffle supports up to 2^40 chunks, got $n")
    // the walk runs as ONE native codegen expression — a per-row Java
    // loop, O(1) plan size. Unrolling it in-plan was A/B-measured: 48
    // lateral-alias selectExpr steps cost ~4.6 s of pure Catalyst
    // analysis per pass for microseconds of data work, and a naive
    // Column-composition build exploded CollapseProject into a 6.9 MiB
    // task binary (31 s). The kernel throws on walk exhaustion (loud
    // failure, never a silent non-position); the oracle unrolls the
    // same arithmetic, so the green hash certifies kernel ≡ unroll.
    // NULL-SAFE source join: a NULL-source chunk group is counted into
    // the domain size, so dropping it here would break the bijection
    // [0, N) (r17 self-review; oracle joins IS NOT DISTINCT FROM).
    graft.functions.GraftFunctions.ensureRegistered(spark)
    ranked.join(broadcast(offsets), col("source") <=> col("osource"))
      .crossJoin(broadcast(
        spark.range(epochs).select(col("id").as("epoch"))))
      .select(col("epoch"),
        expr(s"graft_feistel_walk(off + rk, epoch, ${n}L, $m)").as("pos"),
        col("source"), col("chunk_id"), col("chunk_tokens"))
      .orderBy(col("epoch"), col("pos"))
  }

  /** The q222 oracle from the `pack` CTE down — dense index, domain
    * derivation, the 48 unrolled walk CTEs, and the final projection —
    * shared VERBATIM by q222 (pack over `documents`) and q227 (pack
    * over the CCNet-kept corpus), so the composed shuffle cannot drift
    * from the standalone one. */
  private[operators] lazy val epochShuffleTailSql = {
    val walk = (1 to ShuffleWalkSteps).map { i =>
      s"""s$i AS (SELECT epoch, source, chunk_id, chunk_tokens, n, ph, pl,
        |  ${walkStepExprs(i, guarded = i > 1).mkString(",\n  ")}
        |FROM s${i - 1})""".stripMargin
    }.mkString(",\n")
    s"""pk AS (SELECT source, chunk_id, chunk_tokens,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY source
      |           ORDER BY chunk_id NULLS FIRST) - 1 AS BIGINT) AS rk
      |       FROM pack),
      |oc AS (SELECT source, COUNT(*) AS nc FROM pack GROUP BY 1),
      |ofs AS (SELECT source, CAST(COALESCE(SUM(nc) OVER (
      |          ORDER BY source NULLS FIRST
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |          AS BIGINT) AS off
      |        FROM oc),
      |nn AS (SELECT COUNT(*) AS n FROM pack),
      |mm AS (SELECT CASE WHEN n <= 1 THEN 0 ELSE (
      |          SELECT MIN(k) FROM UNNEST(GENERATE_SERIES(1, 40)) t(k)
      |          WHERE (CAST(1 AS BIGINT) << k) >= n) END AS m
      |       FROM nn),
      |pp AS (SELECT CAST(1 AS BIGINT) << (m // 2) AS ph,
      |         CAST(1 AS BIGINT) << (m - m // 2) AS pl
      |       FROM mm),
      |ep AS (SELECT CAST(UNNEST(GENERATE_SERIES(0, ${EpochShuffleEpochs - 1}))
      |         AS BIGINT) AS epoch),
      |s0 AS (SELECT e.epoch, p.source, p.chunk_id, p.chunk_tokens,
      |         CAST(o.off + p.rk AS BIGINT) AS c, nn.n, pp.ph, pp.pl
      |       FROM pk p JOIN ofs o ON p.source IS NOT DISTINCT FROM o.source
      |       CROSS JOIN nn CROSS JOIN pp CROSS JOIN ep e),
      |$walk
      |SELECT epoch,
      |  CASE WHEN c < n THEN c
      |       ELSE CAST(ERROR('epoch shuffle: cycle walk exceeded') AS BIGINT)
      |  END AS pos,
      |  source, chunk_id, chunk_tokens
      |FROM s$ShuffleWalkSteps
      |ORDER BY epoch, pos""".stripMargin
  }

  private lazy val epochShuffleSql =
    s"""WITH pack AS (${TextOps.packSequencesSql}),
      |$epochShuffleTailSql""".stripMargin

  // ---------------------------------------------------------------------
  // q223: DoReMi-style domain reweighting (multiplicative weights)
  // ---------------------------------------------------------------------

  /** Multiplicative-weight rounds / step size / uniform-smoothing mass
    * for q223 — interpolated into plan and oracle. Ten rounds of η = 1
    * move a 0.3-nat excess by e³ ≈ 20× before normalization (plenty on
    * the fixture's spread); the 1 % smoothing is Xie et al.'s uniform
    * mixing, keeping every domain's weight strictly positive. */
  val DoremiRounds = 10
  val DoremiEta = 1.0
  val DoremiSmoothing = 0.01

  /** q223: DoReMi-style domain reweighting (Xie et al., NeurIPS 2023 —
    * the DSIR citation family): mixture weights from iterated
    * multiplicative-weight updates over per-source EXCESS proxy loss.
    * The proxy loss is q103's bigram surprisal (shared chain — the
    * certified instrument), token-weighted per source; per round t:
    *
    *   ref_t   = Σ_s α_s·L_s          (the current mixture's loss)
    *   α'_s    = α_s · exp(η · max(L_s − ref_t, 0))
    *   α_(t+1) = (1−c) · α'/Σα'  +  c/S      (uniform smoothing)
    *
    * — sources losing worse than the mixture average gain weight, the
    * classic hard-domain up-weighting, with every quantity re-rounded
    * to 6 dp per stage (the q100/q202/q215 iterative-model discipline)
    * so the oracle's unrolled replay is bit-exact. This is the
    * INSTRUMENT form of DoReMi: the per-domain losses are the static
    * q103 scores (no proxy-model retraining between rounds), and the
    * reference loss is the mixture average — the Algorithm-1 update
    * grammar a q119/q189 sampler consumes as its mixture-weight table.
    *
    * Scale shape: ONE corpus pass (q103's aggregates) into a
    * #sources-row loss table (ScopedCache'd — the output join re-reads
    * it); the iteration is driver-held over the collected S rows (the
    * q202 driver-holds-the-model contract; the collect is model-sized
    * by |sources|), and the final table is S rows. Docs with <2 tokens
    * have no bigrams and sit outside the proxy population (q103's
    * rule). */
  def doremiWeights(spark: SparkSession, dir: String): DataFrame =
    doremiWeightsOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora; `rounds`
    * exposed so the monotone-gain law can replay the trajectory). */
  def doremiWeightsOf(d: DataFrame, rounds: Int = DoremiRounds): DataFrame = {
    val spark = d.sparkSession
    val loss = graft.functions.ScopedCache.persist("q223.loss",
      TextOps.bigramSurprisalOf(d)
        .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bigrams")).as("n_bigrams"),
          round(sum((col("n_bigrams") * col("avg_bigram_surprisal_nats"))
            .cast(DecimalType(38, 12))).cast(DoubleType)
            / sum(col("n_bigrams")), 6).as("proxy_loss")))
    // model-sized collect: one (source, loss) row per domain
    val rows = loss.select(col("source"), col("proxy_loss")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1).toSeq
    val s = rows.size
    def r6(x: Double) = new java.math.BigDecimal(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    def d12(x: Double) = BigDecimal(x)
      .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    var w: Map[String, Double] =
      rows.map { case (src, _) => src -> r6(1.0 / s) }.toMap
    for (_ <- 1 to rounds if s > 0) {
      val ref = r6(rows.map { case (src, l) => d12(w(src) * l) }.sum.toDouble)
      val u = rows.map { case (src, l) =>
        src -> r6(w(src) * math.exp(DoremiEta * math.max(l - ref, 0.0)))
      }
      val z = r6(u.map(x => d12(x._2)).sum.toDouble)
      w = u.map { case (src, uv) =>
        src -> r6((1.0 - DoremiSmoothing) * (uv / z) + DoremiSmoothing / s)
      }.toMap
    }
    val session = spark
    import session.implicits._
    val wDf = rows.map { case (src, _) => (src, w(src)) }.toDF("source", "weight")
    loss.join(broadcast(wDf), Seq("source"))
      .select(col("source"), col("n_docs"), col("n_bigrams"),
        col("proxy_loss"), col("weight"))
      .orderBy(col("source"))
  }

  /** The q223 chain — q103's per-doc CTEs, the per-source loss table,
    * and the unrolled multiplicative-weight rounds ending in the final
    * weights `da$DoremiRounds` — ONE builder shared by the q223 and
    * q226 oracles (the plattChainCtes precedent), so the sampler's
    * replay cannot desync from the certified weight fit. */
  private lazy val doremiChainCtes: String = {
    val steps = (1 to DoremiRounds).map { t =>
      s"""dr$t AS MATERIALIZED (SELECT ROUND(CAST(SUM(CAST(a.w * l.proxy_loss
        |      AS DECIMAL(38,12))) AS DOUBLE), 6) AS ref
        |  FROM da${t - 1} a JOIN dl l USING (source)),
        |du$t AS MATERIALIZED (SELECT a.source,
        |    ROUND(a.w * EXP($DoremiEta * GREATEST(l.proxy_loss - r.ref, 0.0)), 6)
        |      AS u
        |  FROM da${t - 1} a JOIN dl l USING (source) CROSS JOIN dr$t r),
        |dz$t AS MATERIALIZED (SELECT ROUND(CAST(SUM(CAST(u AS DECIMAL(38,12)))
        |      AS DOUBLE), 6) AS z
        |  FROM du$t),
        |da$t AS MATERIALIZED (SELECT u.source,
        |    ROUND((1.0 - $DoremiSmoothing) * (u.u / z.z)
        |      + $DoremiSmoothing / sn.s, 6) AS w
        |  FROM du$t u CROSS JOIN dz$t z CROSS JOIN sn)""".stripMargin
    }.mkString(",\n")
    s"""${TextOps.bigramSurprisalCtes},
      |dl AS MATERIALIZED (SELECT d.source, COUNT(*) AS n_docs,
      |    CAST(SUM(b.n_bigrams) AS BIGINT) AS n_bigrams,
      |    ROUND(CAST(SUM(CAST(b.n_bigrams * b.avg_bigram_surprisal_nats
      |      AS DECIMAL(38,12))) AS DOUBLE) / SUM(b.n_bigrams), 6) AS proxy_loss
      |  FROM bsv b JOIN documents d USING (doc_id)
      |  GROUP BY 1),
      |sn AS (SELECT COUNT(*) AS s FROM dl),
      |da0 AS (SELECT source, ROUND(1.0 / s, 6) AS w FROM dl CROSS JOIN sn),
      |$steps""".stripMargin
  }

  private lazy val doremiWeightsSql =
    s"""WITH $doremiChainCtes
      |SELECT l.source, l.n_docs, l.n_bigrams, l.proxy_loss, a.w AS weight
      |FROM dl l JOIN da$DoremiRounds a USING (source)
      |ORDER BY l.source NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q226: DoReMi-weighted corpus resampler
  // ---------------------------------------------------------------------

  /** The q223 weights turned into q188's per-source PPM rate table:
    * rate_s = min(1, budget·N·w_s/n_s) — the exact q188 formula with
    * the LEARNED DoReMi weight where q188 uses the √-temperature
    * census weight, so executing the learned mixture reuses the whole
    * certified sampling kernel. A source outside the proxy population
    * (every doc <2 tokens — no bigram, q103's rule) has no learned
    * weight and rates to 0 EXPLICITLY (left join + coalesce) rather
    * than being dropped silently; NULL sources are their own row
    * (null-safe joins, the q188/q189 convention). */
  def doremiRateTable(d: DataFrame): DataFrame = {
    val w = doremiWeightsOf(d).select(col("source").as("wsrc"), col("weight"))
    val per = d.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val tot = per.agg(sum(col("n")).as("n_total"))
    per.join(broadcast(w), col("source") <=> col("wsrc"), "left")
      .crossJoin(broadcast(tot))
      .select(col("source"),
        round(least(lit(1.0),
          lit(MixtureBudget) * col("n_total") * coalesce(col("weight"), lit(0.0))
            / col("n")) * 1e6).cast(LongType).as("rate_ppm"))
  }

  /** q226: the DoReMi-weighted corpus resampler — CLOSES THE LOOP q223
    * opened: q223 learns the mixture weights, this emits the training
    * subset that REALIZES them (Xie et al.'s step 3: train the big
    * model on the reweighted mixture). Per-source keep rate
    * min(1, budget·N·w_s/n_s) quantized to integer PPM, gated through
    * the SHARED [[mixtureGate]] kernel — the same deterministic
    * multiplicative-hash draw as q188, so a doc's keep decision is
    * engine-exact, reproducible, and identical in batch and ingest.
    *
    * Scale shape: q223's one corpus pass + driver-held rounds build the
    * #sources weight table; the rate table is #sources rows broadcast
    * onto a narrow (doc_id, source) scan with the draw in codegen — no
    * shuffle beyond the census aggregate (q188's posture exactly). */
  def doremiSample(spark: SparkSession, dir: String): DataFrame =
    doremiSampleOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def doremiSampleOf(d: DataFrame): DataFrame =
    mixtureGate(d.select(col("doc_id"), col("source")), doremiRateTable(d))
      .orderBy(col("doc_id"))

  private lazy val doremiSampleSql = {
    // the shared q223 chain through the final weight table, then q188's
    // census/rate/gate grammar with the learned weight swapped in
    s"""WITH $doremiChainCtes,
      |per AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
      |ptot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM per),
      |prates AS (SELECT p.source,
      |    CAST(ROUND(LEAST(CAST(1.0 AS DOUBLE),
      |      $MixtureBudget * n_total * COALESCE(a.w, 0.0) / p.n) * 1e6)
      |      AS BIGINT) AS rate_ppm
      |  FROM per p
      |  LEFT JOIN da$DoremiRounds a ON p.source IS NOT DISTINCT FROM a.source
      |  CROSS JOIN ptot)
      |SELECT d.doc_id, d.source, r.rate_ppm
      |FROM documents d
      |JOIN prates r ON d.source IS NOT DISTINCT FROM r.source
      |WHERE (((d.doc_id % 1000000 + 1000000) % 1000000)
      |       * ${MixMult % 1000000L}) % 1000000 < r.rate_ppm
      |ORDER BY d.doc_id NULLS FIRST""".stripMargin
  }

  override def queries: Seq[GraftQuery] = Seq(
    GraftQuery("q222_epoch_shuffle", epochShuffle, Some(epochShuffleSql)),
    GraftQuery("q223_doremi_weights", doremiWeights, Some(doremiWeightsSql)),
    GraftQuery("q226_doremi_sample", doremiSample, Some(doremiSampleSql)),
    GraftQuery("q202_lr_quality_train", lrQualityTrain, Some(lrQualityTrainSql)),
    GraftQuery("q203_lr_quality_score", lrQualityScore, Some(lrQualityScoreSql)),
    GraftQuery("q204_classifier_eval", classifierEval, Some(classifierEvalSql)),
    GraftQuery("q206_threshold_sweep", lrThresholdSweep, Some(lrThresholdSweepSql)),
    GraftQuery("q213_calibration_card", lrCalibrationCard,
      Some(lrCalibrationCardSql)),
    GraftQuery("q215_platt_recalibration", plattRecalibration,
      Some(plattRecalibrationSql)),
    GraftQuery("q219_platt_scores_served", plattScoresServed,
      Some(plattScoresServedSql)),
    GraftQuery("q224_calibration_method_card", calibrationMethodCard,
      Some(calibrationMethodCardSql)),
    GraftQuery("q113_collapse_repeats", collapseRepeats, Some(collapseRepeatsSql)),
    GraftQuery("q169_classifier_lift", classifierLift, Some(classifierLiftSql)),
    GraftQuery("q170_interleaved_order", interleavedOrder, Some(interleavedOrderSql)),
    GraftQuery("q114_quality_classifier", qualityClassifier, Some(qualityClassifierSql)),
    GraftQuery("q115_random_projection", randomProjection,
      Some(randomProjectionSql)),
    GraftQuery("q116_quality_filter_per_lang", qualityFilterPerLang,
      Some(qualityFilterPerLangSql)),
    GraftQuery("q117_zipf_stats", zipfStats, Some(zipfStatsSql)),
    GraftQuery("q118_heavy_hitters", heavyHitters, Some(heavyHittersSql)),
    GraftQuery("q119_curriculum_order", curriculumOrder, Some(curriculumOrderSql)),
    GraftQuery("q120_epoch_plan", epochPlan, Some(epochPlanSql)),
    GraftQuery("q188_mixture_sample", mixtureSample, Some(mixtureSampleSql)),
    GraftQuery("q189_shard_pack", shardPack, Some(shardPackSql)),
    GraftQuery("q197_training_export", trainingExport, Some(trainingExportSql)),
    GraftQuery("q191_shard_manifest", shardManifest, Some(shardManifestSql)),
    GraftQuery("q121_source_drift_kl", sourceDriftKl, Some(sourceDriftKlSql)),
    GraftQuery("q160_curation_funnel", curationFunnel, Some(curationFunnelSql)),
    GraftQuery("q161_dsir_logweights", dsirLogWeights, Some(dsirLogWeightsSql)),
    GraftQuery("q162_dsir_select", dsirSelect, Some(dsirSelectSql)),
    GraftQuery("q163_rejection_audit", rejectionAudit, Some(rejectionAuditSql)),
    GraftQuery("q173_funnel_from_artifact", funnelFromArtifact,
      Some(funnelFromArtifactSql)),
    GraftQuery("q174_rejection_audit_from_artifact", rejectionAuditFromArtifact,
      Some(rejectionAuditFromArtifactSql)),
  )
}
