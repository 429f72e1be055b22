package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.{GraftQuery, QueryModule}
import graft.sources.Tables

/** Corpus profiling / audit operators (SURVEY.md §2.12 widening, round 7
  * part 2): Unicode text normalization, per-source data cards, vocabulary
  * growth (Heaps-law) curves, train/val/test leakage auditing, and
  * deterministic fixed-size per-source sampling. These are the governance
  * half of a training-data pipeline — the reports a data curator reads
  * before shipping a corpus, alongside the transforms in TextOps/Curation.
  *
  * Scale posture: q122 is a pure narrow map (the NFC kernel is a native
  * codegen expression — see [[graft.functions.NormalizeNfc]]); q123/q124/
  * q125 each make one pass over the corpus into per-source / per-bucket /
  * per-hash aggregates whose results are naturally bounded (#sources,
  * 10 buckets, #distinct texts), with every post-aggregate join broadcast;
  * q126's only corpus structure is a per-source sort (distributed
  * sort-based window, state bounded by the largest source). Nothing here
  * joins the corpus to itself.
  *
  * Determinism posture: floats are single divisions of exact integers
  * (rounded identically on both sides); sample/rank keys are engine-
  * portable multiplicative-hash arithmetic (q87's pattern), never engine
  * hash functions — except MD5 in q125, which is a published algorithm
  * with identical hex output in every engine; ranks order with full
  * tiebreaks.
  */
object Profiling extends QueryModule {

  private def toks = split(col("text"), " ")

  // ---------------------------------------------------------------------
  // q122: Unicode normalization pass
  // ---------------------------------------------------------------------

  /** q122: canonical text normalization — NFC composition + lowercase in
    * one native codegen expression (graft_nfc_lower; Spark has no Unicode
    * normalizer, and Spark's own `lower()` is default-LOCALE-dependent on
    * non-ASCII input — see [[graft.functions.NfcLowerSimple]]), then trim
    * and inner whitespace collapse. The first transform of any
    * multilingual corpus pipeline: NFC makes byte-level dedup (q70/q71)
    * and hash-based near-dup (q72–q74) see "é" and "e+combining-acute" as
    * the same document. Pure narrow map — no shuffle until the
    * presentation sort. */
  def normalizeText(spark: SparkSession, dir: String): DataFrame =
    normalizeTextOf(Tables.documents(spark, dir))

  /** The canonical-form kernel shared by q122, q200, and q214: NFC +
    * lowercase (one native codegen expression), trim, inner-whitespace
    * collapse — parameterized on the input column so the document form
    * (q122/q200) and the paragraph form (q214) are ONE kernel that
    * cannot drift. Oracle mirror below, interpolated into all three
    * oracles for the same reason. */
  private[graft] def normColExpr(c: String) =
    regexp_replace(trim(expr(s"graft_nfc_lower($c)")), " +", " ")

  private def normExpr = normColExpr("text")

  private[graft] def normColSql(c: String): String =
    s"REGEXP_REPLACE(TRIM(LOWER(NFC_NORMALIZE($c))), ' +', ' ', 'g')"

  private val normExprSql = normColSql("text")

  /** DataFrame-level core (testable on constructed corpora). */
  def normalizeTextOf(d: DataFrame): DataFrame = {
    // self-heal registration (randomProjectionOf's pattern): the core must
    // work on driver-owned sessions not built via GraftSession
    graft.functions.GraftFunctions.ensureRegistered(d.sparkSession)
    val norm = normExpr
    d.select(col("doc_id"), col("lang"), norm.as("norm_text"), col("text"))
      .select(col("doc_id"), col("lang"), col("norm_text"),
        // LongType: DuckDB's LENGTH is BIGINT and the driver compares schemas
        length(col("norm_text")).cast(LongType).as("n_chars_norm"),
        when(col("norm_text") =!= col("text"), lit(1)).otherwise(lit(0))
          .as("changed"))
      .orderBy(col("doc_id"))
  }

  private val normalizeTextSql =
    s"""WITH n AS (
      |  SELECT doc_id, lang, text,
      |    $normExprSql
      |      AS norm_text
      |  FROM documents)
      |SELECT doc_id, lang, norm_text,
      |  LENGTH(norm_text) AS n_chars_norm,
      |  CASE WHEN norm_text <> text THEN 1 ELSE 0 END AS changed
      |FROM n ORDER BY doc_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q200: normalization-aware exact dedup accounting
  // ---------------------------------------------------------------------

  /** q200: exact dedup on the CANONICAL form — group documents by the
    * q122 normalized text (NFC + casefold + whitespace collapse), keep
    * the minimum doc_id per group, and account the purge per source.
    * This is CCNet's normalize-then-hash dedup step (Wenzek et al.,
    * LREC 2020): raw exact dedup (q70/q71) misses "É " vs "é" vs
    * "e+combining acute" copies; running the same keep-first rule on the
    * canonical form catches them. The fixture corpus is duplicate-free
    * (all n_purged = 0, like q70's empty output); ProfilingSpec's
    * constructed corpora exercise the collapse, including variants that
    * differ ONLY by normalization.
    *
    * Scale shape: shuffles key on sha2(canonical) — 32 bytes, never the
    * full text (the q163 precedent) — into a (key, source) aggregate,
    * then a key-level min to pick the global keeper, then a #source-row
    * roll-up. Two corpus-keyed exchanges, no window over the corpus, no
    * Expand (distinct-group counts fall out of the (key, source)
    * pre-aggregate's own cardinality instead of a COUNT(DISTINCT)). The
    * oracle groups by the canonical TEXT itself — equality of the two
    * partitions is the standard collision-free sha2 assumption.
    *
    * `n_norm_groups` counts groups INTERSECTING the source; `n_kept`
    * counts groups whose GLOBAL keeper lives in the source — the two
    * differ exactly when a duplicate group spans sources. */
  def normalizedDedup(spark: SparkSession, dir: String): DataFrame =
    normalizedDedupOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def normalizedDedupOf(d: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(d.sparkSession)
    val keyed = d.select(col("doc_id"), col("source"),
      sha2(normExpr, 256).as("k"))
    val byKeySrc = keyed.groupBy(col("k"), col("source"))
      .agg(count(lit(1)).as("c"), min(col("doc_id")).as("min_src"))
    val keeper = byKeySrc.groupBy(col("k"))
      .agg(min(col("min_src")).as("keeper"))
    byKeySrc.join(keeper, Seq("k"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_norm_groups"),
        sum(when(col("min_src") === col("keeper"), 1L).otherwise(0L))
          .as("n_kept"))
      .withColumn("n_purged", col("n_docs") - col("n_kept"))
      .orderBy(col("source"))
  }

  private val normalizedDedupSql =
    s"""WITH n AS (SELECT doc_id, source, $normExprSql AS nt FROM documents),
      |bk AS (SELECT nt, source, COUNT(*) AS c, MIN(doc_id) AS min_src
      |       FROM n GROUP BY 1, 2),
      |g AS (SELECT nt, MIN(min_src) AS keeper FROM bk GROUP BY 1)
      |SELECT source,
      |  CAST(SUM(c) AS BIGINT) AS n_docs,
      |  COUNT(*) AS n_norm_groups,
      |  CAST(SUM(CASE WHEN min_src = keeper THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept,
      |  CAST(SUM(c) - SUM(CASE WHEN min_src = keeper THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_purged
      |FROM bk JOIN g USING (nt)
      |GROUP BY source
      |ORDER BY source NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q214: paragraph-level exact dedup (CCNet stage 1)
  // ---------------------------------------------------------------------

  /** q214: paragraph-level exact dedup — CCNet's FIRST pipeline stage
    * (Wenzek et al., LREC 2020): split each document on newline
    * boundaries, canonicalize every paragraph with the q122 kernel
    * (shared [[normColExpr]] — the canonical form cannot drift between
    * the document and paragraph dedups), hash-group corpus-wide, keep
    * only the FIRST occurrence of each paragraph (global (doc_id, pos)
    * order), and rebuild every document order-preserving from its kept
    * paragraphs (q133's rebuild idiom). This is the production dedup
    * stage document-level dedup (q70/q200) and 5-gram span coverage
    * (q132/q133) both miss: the boilerplate header/footer/nav paragraph
    * stamped across thousands of pages drops everywhere but its first
    * sighting while each page's unique body survives intact.
    *
    * Unit contract: paragraphs are `\r?\n`-split segments (LF and CRLF
    * corpora paragraph identically — see [[paragraphRows]]); a paragraph
    * whose CANONICAL form is empty (blank line, whitespace-only) is
    * document structure, not content — excluded from hashing and from
    * the rebuild, counted in `n_empty`. Kept paragraphs rebuild with
    * their ORIGINAL bytes (the hash sees the canonical form; the corpus
    * keeps its own text — CCNet's contract). A document whose every
    * paragraph drops survives as `clean_text = ''` (q133's rule) so
    * downstream length filters see it. The fixture corpus is
    * single-paragraph and duplicate-free (q70/q200 precedent — every
    * row keeps its one paragraph); SemanticsSpec's constructed corpora
    * exercise the collapse, the footer law, and the rebuild order.
    *
    * Scale shape: one posexplode (corpus token mass ≈ input size), a
    * narrow canonicalize+sha2 map, then every exchange keys on the
    * 32-byte sha2(canonical) or on doc_id — never raw paragraph text
    * (the q163/q200 convention). The keeper is a groupBy-min of a
    * (doc_id, pos) struct (no corpus-wide window, no Expand), joined
    * back on the hash key; the rebuild is the q133 per-document
    * collect_list sort (per-group memory = one document). At 100 TB the
    * paragraph table shards like the corpus, the keeper aggregate is
    * map-side combined on the hash key, and nothing materializes
    * centrally. The oracle groups by the canonical text itself —
    * equality of the two partitions is the standard collision-free sha2
    * assumption (q200's note). */
  def paragraphDedup(spark: SparkSession, dir: String): DataFrame =
    paragraphDedupOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def paragraphDedupOf(d: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(d.sparkSession)
    val paras = paragraphRows(d)
    paragraphCard(d, paras, keepFirst(paragraphContent(paras)))
  }

  /** The paragraph explode + canonical form — (doc_id, pos, para, np).
    * The boundary is `\r?\n` (ADVICE r16): a CRLF corpus paragraphs
    * identically to its LF twin — the `\r` is boundary byte, never part
    * of the paragraph, so "a\r\nb" and "a\nb" carry the same canonical
    * forms and dedup against each other (SemanticsSpec law). A lone
    * mid-text `\r` is NOT a boundary (old-Mac line endings are extinct
    * in web corpora; treating stray `\r` as content keeps the unit
    * contract simple). Oracle mirror: regexp_split_to_array. */
  private def paragraphRows(d: DataFrame) = d
    .select(col("doc_id"),
      posexplode(split(col("text"), "\r?\n")).as(Seq("pos", "para")))
    .withColumn("np", normColExpr("para"))

  /** The dedup-eligible rows + their 32-byte canonical key — ONE
    * definition shared by the batch operator and the ingest kernel so
    * the hash identity cannot drift between them. NULL-doc_id rows are
    * excluded: a paragraph that cannot be attributed to a document
    * cannot serve as (or contend for) a keeper — in Spark a null inside
    * the keeper's min(struct) would otherwise poison its group's
    * join-back (every comparison evaluates NULL and the whole group
    * silently drops) while DuckDB's MIN skips nulls, a latent
    * cross-engine divergence; the oracle filters identically. */
  private def paragraphContent(paras: DataFrame): DataFrame =
    paras.filter(col("np") =!= "" && col("doc_id").isNotNull)
      .select(col("doc_id"), col("pos"), col("para"),
        sha2(col("np"), 256).as("k"))

  /** Global first occurrence per canonical hash: lexicographic min of
    * (doc_id, pos) — a full total order, so the survivor set is
    * deterministic. */
  private def keepFirst(content: DataFrame): DataFrame = {
    val keeper = content.groupBy(col("k"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    content.join(keeper, Seq("k"))
      .filter(col("doc_id") === col("first").getField("doc_id") &&
        col("pos") === col("first").getField("pos"))
  }

  /** The per-doc accounting + order-preserving rebuild shared by the
    * batch operator (q214) and the ingest kernel
    * ([[paragraphDedupAgainst]]) so the two cannot drift. */
  private def paragraphCard(d: DataFrame, paras: DataFrame,
      kept: DataFrame): DataFrame =
    paragraphCardRows(d, paras, kept).orderBy(col("doc_id"))

  /** [[paragraphCard]] without the presentation sort — q220's rollup and
    * q221's composition consume the card mid-plan, where a global sort
    * is wasted work at scale. */
  private def paragraphCardRows(d: DataFrame, paras: DataFrame,
      kept: DataFrame): DataFrame = {
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("para")))),
            x => x.getField("para")),
          "\n").as("clean_text"))
    val perDoc = paras.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("np") === "", 1L).otherwise(0L)).as("n_empty"))
    // left joins from the corpus so a NULL-text document still surfaces
    // (split(NULL) explodes to zero rows)
    d.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_paras"), lit(0L)).as("n_paras"),
        coalesce(col("n_empty"), lit(0L)).as("n_empty"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (coalesce(col("n_paras"), lit(0L)) - coalesce(col("n_empty"), lit(0L))
          - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** q214's INGEST shape — the steady-state kernel a streaming pipeline
    * runs per micro-batch: strip from the batch every paragraph whose
    * canonical hash is already in the persisted store (`seenKeys`, one
    * 32-byte `k` per kept paragraph — at 100 TB a hash-keyed LEFT ANTI
    * join against a parquet index, the q176 admission pattern), apply
    * the SAME batch-local keep-first rule to the remainder, and return
    * the q214-shaped card plus the batch's newly kept keys for the
    * caller to fold into the store. The StreamingSpec law pins the fold
    * to the batch operator: incrementally processed batches against a
    * growing store ≡ one-shot [[paragraphDedupOf]] over everything,
    * restricted to the batch docs. */
  private[graft] def paragraphDedupAgainst(b: DataFrame, seenKeys: DataFrame)
      : (DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.ensureRegistered(b.sparkSession)
    val paras = paragraphRows(b)
    val kept = keepFirst(
      paragraphContent(paras).join(seenKeys, Seq("k"), "left_anti"))
    (paragraphCard(b, paras, kept), kept.select(col("k")))
  }

  /** Oracle CTE chain through the per-doc paragraph card (`pcard` —
    * doc_id, n_paras, n_empty, n_kept, n_dropped, clean_text) — shared
    * VERBATIM by q214 (which orders and projects it) and q220 (which
    * rolls it up per source), so the two oracles cannot diverge on the
    * dedup itself. */
  private val paragraphCardCtes: String = {
    val npSql = normColSql("ps[u.i]")
    s"""p0 AS (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\\r?\\n') AS ps
      |            FROM documents),
      |p AS (SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos, ps[u.i] AS para,
      |        $npSql AS np
      |      FROM p0, UNNEST(GENERATE_SERIES(1, LEN(ps))) AS u(i)),
      |c AS (SELECT doc_id, pos, para, np FROM p
      |      WHERE np <> '' AND doc_id IS NOT NULL),
      |k1 AS (SELECT np, MIN(doc_id) AS kd FROM c GROUP BY 1),
      |k2 AS (SELECT c.np, c.doc_id AS kd, MIN(c.pos) AS kpos
      |       FROM c JOIN k1 ON c.np = k1.np AND c.doc_id = k1.kd
      |       GROUP BY 1, 2),
      |kept AS (SELECT c.doc_id, c.pos, c.para
      |         FROM c JOIN k2 ON c.np = k2.np AND c.doc_id = k2.kd
      |           AND c.pos = k2.kpos),
      |reb AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
      |          STRING_AGG(para, CHR(10) ORDER BY pos) AS clean_text
      |        FROM kept GROUP BY 1),
      |pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras,
      |         CAST(SUM(CASE WHEN np = '' THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_empty
      |       FROM p GROUP BY 1),
      |pcard AS (SELECT d.doc_id,
      |    COALESCE(pd.n_paras, 0) AS n_paras,
      |    COALESCE(pd.n_empty, 0) AS n_empty,
      |    COALESCE(reb.n_kept, 0) AS n_kept,
      |    COALESCE(pd.n_paras, 0) - COALESCE(pd.n_empty, 0)
      |      - COALESCE(reb.n_kept, 0) AS n_dropped,
      |    COALESCE(reb.clean_text, '') AS clean_text
      |  FROM documents d
      |  LEFT JOIN pd ON pd.doc_id = d.doc_id
      |  LEFT JOIN reb ON reb.doc_id = d.doc_id)""".stripMargin
  }

  private val paragraphDedupSql: String =
    s"""WITH $paragraphCardCtes
      |SELECT doc_id, n_paras, n_empty, n_kept, n_dropped, clean_text
      |FROM pcard
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q220: per-source paragraph-dedup profile
  // ---------------------------------------------------------------------

  /** q220: WHICH ingest feeds carry the boilerplate — the q134 per-source
    * profile grammar applied to paragraph dedup (the number CCNet-style
    * pipelines report per snapshot/feed): q214's per-doc card rolled up
    * by `source` into doc count, paragraph/empty/kept/dropped mass, and
    * the drop ratio over content paragraphs. A templated source
    * (headers, footers, nav stamped across its pages) shows a hot
    * drop_ratio; a clean feed reads ~0. The fixture is single-paragraph
    * duplicate-free (all ratios 0 — q70/q200/q214 precedent);
    * SemanticsSpec's constructed corpus shows a boilerplate-stamped
    * source separating from a clean one, and the invisibility law pins
    * the rollup to q214's rows.
    *
    * Scale shape: q214's chain verbatim plus one doc_id equi-join to the
    * (doc_id, source) projection and a #source-row aggregate — the
    * rollup adds ε over the dedup it summarizes. */
  def paragraphDedupBySource(spark: SparkSession, dir: String): DataFrame =
    paragraphDedupBySourceOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def paragraphDedupBySourceOf(d: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(d.sparkSession)
    val paras = paragraphRows(d)
    // the UNORDERED card: the rollup aggregates it, so q214's
    // presentation sort would be a wasted corpus sort mid-plan
    val card = paragraphCardRows(d, paras, keepFirst(paragraphContent(paras)))
    card.join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_paras")).as("n_paras"),
        sum(col("n_empty")).as("n_empty"),
        sum(col("n_kept")).as("n_kept"),
        sum(col("n_dropped")).as("n_dropped"))
      .withColumn("drop_ratio",
        when(col("n_kept") + col("n_dropped") > 0,
          round(col("n_dropped").cast(DoubleType)
            / (col("n_kept") + col("n_dropped")), 6)))
      .orderBy(col("source"))
  }

  private val paragraphDedupBySourceSql: String =
    s"""WITH $paragraphCardCtes
      |SELECT d.source,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(pc.n_paras) AS BIGINT) AS n_paras,
      |  CAST(SUM(pc.n_empty) AS BIGINT) AS n_empty,
      |  CAST(SUM(pc.n_kept) AS BIGINT) AS n_kept,
      |  CAST(SUM(pc.n_dropped) AS BIGINT) AS n_dropped,
      |  CASE WHEN SUM(pc.n_kept) + SUM(pc.n_dropped) > 0 THEN
      |    ROUND(CAST(SUM(pc.n_dropped) AS DOUBLE)
      |      / (SUM(pc.n_kept) + SUM(pc.n_dropped)), 6) END AS drop_ratio
      |FROM pcard pc JOIN documents d ON d.doc_id = pc.doc_id
      |GROUP BY d.source
      |ORDER BY d.source NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q221/q225: CCNet end-to-end corpus emitter + per-stage funnel
  // ---------------------------------------------------------------------

  /** The per-doc CCNet stage table shared by q221 (which emits the kept
    * corpus) and q225 (which rolls the accounting up per source) — ONE
    * core, so the emitted corpus and its funnel cannot drift. Pipeline
    * (Wenzek et al., LREC 2020, Fig. 1), each stage the CERTIFIED
    * standalone instrument applied to the previous stage's survivors:
    *
    *   1 paragraph dedup  → q214's kernel; a doc whose every paragraph
    *     drops (`clean_text = ''`, incl. NULL-text docs) exits here
    *   2 langid gate      → q64's marker kernel over `clean_text`; docs
    *     whose content-based guess contradicts the filed `lang` label
    *     (or whose label is NULL) exit — CCNet's "fastText must confirm
    *     the shard's language" gate
    *   3 LM tertile cut   → q211's smoothed-surprisal tertiles computed
    *     over the SURVIVING corpus; CCNet trains on head+middle, so
    *     `tail` exits, as do docs too short to score (<2 tokens — no
    *     bigram, the q207 population rule)
    *
    * Invisibility laws (SemanticsSpec): stage 1's `clean_text` ≡ q214's;
    * stage 2's guesses ≡ [[TextOps.langIdOf]] over the deduped docs;
    * stage 3's buckets ≡ [[TextOps.perplexityBucketsOf]] over the
    * stage-2 survivors; and the stage labels conserve (every doc gets
    * exactly one). NULL-doc_id docs are unattributable and excluded by
    * the doc_id equi-join on BOTH engines (q214's exclusion rule).
    *
    * Scale shape: q214's chain (sha2/doc_id-keyed exchanges) + a narrow
    * langid map + q211's chain over the survivors (grid histogram, never
    * a corpus window) + one doc_id-keyed left join of the bucket column
    * back onto the stage table. The stage-1+2 table is ScopedCache'd —
    * it feeds BOTH the surprisal chain and the final assembly, and
    * without the pin the paragraph dedup would run twice. */
  /** Stages 1+2 assembled onto a doc set: the (doc_id, source, lang,
    * clean_text, guess) table — ONE kernel shared by the batch operator
    * and the ingest twin so the langid gate cannot drift. */
  private def ccnetLangidStage(d: DataFrame, clean: DataFrame): DataFrame =
    d.select(col("doc_id"), col("source"), col("lang"))
      .join(clean, Seq("doc_id"))
      .select(Seq(col("doc_id"), col("source"), col("lang"),
        col("clean_text")) ++ TextOps.langScoreCols(col("clean_text")): _*)
      .withColumn("guess", TextOps.langGuessFromScores)
      .drop("score_en", "score_de", "score_es")

  /** The stage-2 survival predicate and the per-doc stage label — shared
    * by batch and ingest. */
  private def ccnetSurvives2: Column =
    col("clean_text") =!= "" && col("lang").isNotNull &&
      col("guess") === col("lang")

  private def ccnetStageCol: Column =
    when(col("clean_text") === "", "drop_empty")
      .when(col("lang").isNull || col("guess") =!= col("lang"), "drop_langid")
      .when(col("ppl_bucket").isNull, "drop_unscored")
      .when(col("ppl_bucket") === "tail", "drop_tail")
      .otherwise("kept")

  private[graft] def ccnetStagesOf(d: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(d.sparkSession)
    val paras = paragraphRows(d)
    val card = paragraphCardRows(d, paras, keepFirst(paragraphContent(paras)))
    val st1 = graft.functions.ScopedCache.persist("q221.stage12",
      ccnetLangidStage(d, card.select(col("doc_id"), col("clean_text"))))
    val s2 = st1.filter(ccnetSurvives2)
    val buckets = TextOps.perplexityBucketsOf(
      s2.select(col("doc_id"), col("clean_text").as("text")),
      cacheVariant = "q221")
    st1.join(buckets.select(col("doc_id"), col("surprisal"),
        col("ppl_bucket")), Seq("doc_id"), "left")
      .withColumn("stage", ccnetStageCol)
  }

  /** q221's INGEST shape — the steady-state CCNet kernel a streaming
    * pipeline runs per micro-batch once the nightly artifacts freeze:
    * the paragraph-hash store (q214's growing-store twin), the langid
    * map (stateless), and the frozen LM conditional table
    * ([[TextOps.knProbsOf]]) + tertile grid cuts (2 longs, from
    * [[TextOps.tertileCutsDf]]) — every trained quantity ships as an
    * artifact, so scoring an arrival is pure per-doc work plus the
    * hash-keyed store anti-join (the q176/q214 admission pattern).
    * Returns the batch's q221-shaped stage table plus the newly kept
    * paragraph keys for the caller to fold into the store.
    * StreamingSpec pins the fold law (incremental micro-batches against
    * the growing store ≡ one-shot ingest of the concatenated arrivals)
    * and store admission (a re-arriving nightly paragraph dedups
    * away). */
  private[graft] def ccnetIngest(b: DataFrame, seenKeys: DataFrame,
      probs: DataFrame, cuts: (Long, Long)): (DataFrame, DataFrame) = {
    val (card, newKeys) = paragraphDedupAgainst(b, seenKeys)
    val st1 = ccnetLangidStage(b, card.select(col("doc_id"), col("clean_text")))
    val scored = TextOps.bucketizeAgainst(
      TextOps.surprisalAgainst(
        st1.filter(ccnetSurvives2)
          .select(col("doc_id"), col("clean_text").as("text")), probs)
        .select(col("doc_id"), col("surprisal")),
      cuts._1, cuts._2)
    val stages = st1.join(scored, Seq("doc_id"), "left")
      .withColumn("stage", ccnetStageCol)
    (stages, newKeys)
  }

  /** q221: the CCNet end-to-end corpus emitter — the ACTION query a
    * pipeline user trains on, composing the three certified instruments
    * (q214 paragraph dedup → q64 langid gate → q211 perplexity tertiles,
    * head+middle kept) into the emitted corpus. Every stage kernel is
    * shared VERBATIM with its standalone query (see [[ccnetStagesOf]]),
    * so a green hash here certifies the composition, and the per-stage
    * drops are read from q225's funnel over the same stage table. */
  def ccnetCorpus(spark: SparkSession, dir: String): DataFrame =
    ccnetCorpusOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def ccnetCorpusOf(d: DataFrame): DataFrame =
    ccnetStagesOf(d).filter(col("stage") === "kept")
      .select(col("doc_id"), col("source"), col("lang"), col("surprisal"),
        col("ppl_bucket"), col("clean_text"))
      .orderBy(col("doc_id"))

  /** q225: the CCNet funnel — q221's per-stage accounting rolled up per
    * source (the q160 curation-funnel grammar over the CCNet stages):
    * input docs, exits per stage, survivors, and the kept ratio. The
    * conservation law is structural: the five stage columns partition
    * `n_in` because every doc carries exactly one stage label. */
  def ccnetFunnel(spark: SparkSession, dir: String): DataFrame =
    ccnetFunnelOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def ccnetFunnelOf(d: DataFrame): DataFrame = {
    def stageCount(s: String) =
      sum(when(col("stage") === s, 1L).otherwise(0L))
    ccnetStagesOf(d).groupBy(col("source"))
      .agg(count(lit(1)).as("n_in"),
        stageCount("drop_empty").as("drop_empty"),
        stageCount("drop_langid").as("drop_langid"),
        stageCount("drop_unscored").as("drop_unscored"),
        stageCount("drop_tail").as("drop_tail"),
        stageCount("kept").as("n_kept"))
      .withColumn("kept_ratio",
        round(col("n_kept").cast(DoubleType) / col("n_in"), 6))
      .orderBy(col("source"))
  }

  /** Oracle CTE chain ending in the per-doc `cstage` table — shared
    * VERBATIM by the q221 and q225 oracles (the q214/q220 pairing), and
    * composed from the SAME fragments the standalone oracles interpolate
    * ([[paragraphCardCtes]], [[TextOps.langScoreSqlCols]]/
    * [[TextOps.langGuessCaseSql]], [[TextOps.smoothedSurprisalCtesOver]],
    * [[TextOps.pplTertileCtes]]) so no stage can drift from its
    * certified instrument. */
  private lazy val ccnetStageCtes: String =
    s"""$paragraphCardCtes,
      |cbase AS (SELECT d.doc_id, d.source, d.lang, pc.clean_text
      |          FROM pcard pc JOIN documents d ON d.doc_id = pc.doc_id),
      |csc AS (SELECT doc_id, source, lang, clean_text,
      |    ${TextOps.langScoreSqlCols("clean_text")}
      |  FROM cbase),
      |cst1 AS (SELECT doc_id, source, lang, clean_text,
      |    ${TextOps.langGuessCaseSql} AS guess
      |  FROM csc),
      |cs2 AS (SELECT doc_id, clean_text AS text FROM cst1
      |        WHERE clean_text <> '' AND lang IS NOT NULL AND guess = lang),
      |${TextOps.smoothedSurprisalCtesOver("cs2")},
      |${TextOps.pplTertileCtes},
      |cstage AS (SELECT t.doc_id, t.source, t.lang, t.clean_text, t.guess,
      |    gg.surprisal,
      |    CASE WHEN gg.doc_id IS NULL THEN NULL
      |         WHEN gg.g <= c2.g1 THEN 'head'
      |         WHEN gg.g <= c2.g2 THEN 'middle' ELSE 'tail' END AS ppl_bucket,
      |    CASE WHEN t.clean_text = '' THEN 'drop_empty'
      |         WHEN t.lang IS NULL OR t.guess <> t.lang THEN 'drop_langid'
      |         WHEN gg.doc_id IS NULL THEN 'drop_unscored'
      |         WHEN gg.g > c2.g2 THEN 'drop_tail'
      |         ELSE 'kept' END AS stage
      |  FROM cst1 t
      |  LEFT JOIN gg ON gg.doc_id = t.doc_id
      |  CROSS JOIN cts c2)""".stripMargin

  private lazy val ccnetCorpusSql =
    s"""WITH $ccnetStageCtes
      |SELECT doc_id, source, lang, surprisal, ppl_bucket, clean_text
      |FROM cstage WHERE stage = 'kept'
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  /** q227: the training-ready chunk stream — the WHOLE loop, composed
    * from certified instruments end to end: q221's kept corpus (dedup →
    * langid → tertile cut) packed into [[TextOps.PackBudget]]-token
    * chunks by q68's packer (over `clean_text` — the bytes a trainer
    * actually consumes) and presented in q222's seeded epoch order.
    * This is the table a data loader reads: (epoch, pos, source,
    * chunk_id, chunk_tokens), deterministic from the raw corpus to the
    * batch order — the composition of the r16 verdict's #1 ask with
    * this round's #2.
    *
    * Every stage is the shared kernel, plan AND oracle ([[ccnetStagesOf]]
    * / `ccnetStageCtes`; [[TextOps.packSequencesOf]] /
    * `packSequencesSqlOver`; [[graft.operators.Curation.epochShuffleOf]]
    * / `epochShuffleTailSql`), so nothing here can drift from the
    * standalone operators, and the SemanticsSpec law re-derives the
    * composition stepwise. Scale shape: the sum of its parts — q221's
    * chain, one per-source pack window, the codegen'd walk — with the
    * composed chunk table ScopedCache'd under its own variant. */
  def ccnetTrainingChunks(spark: SparkSession, dir: String): DataFrame =
    ccnetTrainingChunksOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def ccnetTrainingChunksOf(d: DataFrame): DataFrame = {
    val kept = ccnetStagesOf(d).filter(col("stage") === "kept")
      .select(col("doc_id"), col("source"),
        size(split(col("clean_text"), " ")).cast(LongType).as("n_tokens"))
    Curation.epochShuffleOf(
      TextOps.packSequencesOf(kept, TextOps.PackBudget)
        .select(col("source"), col("chunk_id"), col("chunk_tokens")),
      cacheVariant = "q227")
  }

  private lazy val ccnetTrainingChunksSql =
    s"""WITH $ccnetStageCtes,
      |ckept AS (SELECT doc_id, source, clean_text FROM cstage
      |          WHERE stage = 'kept'),
      |pack AS (${TextOps.packSequencesSqlOver("ckept", "clean_text")}),
      |${Curation.epochShuffleTailSql}""".stripMargin

  private lazy val ccnetFunnelSql = {
    def stageCount(s: String) =
      s"CAST(SUM(CASE WHEN stage = '$s' THEN 1 ELSE 0 END) AS BIGINT)"
    s"""WITH $ccnetStageCtes
      |SELECT source, COUNT(*) AS n_in,
      |  ${stageCount("drop_empty")} AS drop_empty,
      |  ${stageCount("drop_langid")} AS drop_langid,
      |  ${stageCount("drop_unscored")} AS drop_unscored,
      |  ${stageCount("drop_tail")} AS drop_tail,
      |  ${stageCount("kept")} AS n_kept,
      |  ROUND(CAST(SUM(CASE WHEN stage = 'kept' THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 6) AS kept_ratio
      |FROM cstage
      |GROUP BY source
      |ORDER BY source NULLS FIRST""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q201: dedup-method comparison card
  // ---------------------------------------------------------------------

  /** q201: the dedup-method comparison card — for each dedup tier a
    * curator can buy (exact bytes, normalized exact, thresholded-Jaccard
    * near-dup), the duplicate-group count, the documents they cover, and
    * the removable surplus (members − keepers), side by side on the SAME
    * corpus. This is the report read before choosing a tier: each row
    * prices the next tier's incremental catch, composed from the
    * already-certified chains (q70's raw groups, q200's canonical
    * groups, q77's raw-corpus clusters via the persisted artifact).
    *
    * Methods are ordered tiers but NOT strict subsets: normalized ⊇
    * exact always (canonical equality is coarser than byte equality —
    * the SemanticsSpec law), while near_jaccard covers exact-dup groups
    * only when the group shares ≥1 DF-gated shingle (a group whose
    * every shingle is boilerplate-gated appears in no cluster — q129's
    * documented domain).
    *
    * Scale shape: two sha2-keyed aggregates over the corpus (32-byte
    * keys, the q163/q200 convention), one label-keyed aggregate over the
    * artifact's label table, each collapsing to ONE row map-side — the
    * union is 3 rows. No window, no join of the corpus to anything. */
  def dedupMethodCard(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.operators.Dedup.ensureNeardupArtifact(spark, dir)
    dedupMethodCardOf(Tables.documents(spark, dir),
      spark.read.parquet(s"$base/doc_labels"))
  }

  /** DataFrame-level core (testable on constructed corpora): `rawLabels`
    * = the (node, label) raw-corpus near-dup label table (the artifact's
    * `doc_labels`, or a freshly derived one in tests).
    *
    * r17 extension (per the r16 verdict): every tier also prices its
    * `n_removable_bytes` — the raw UTF-8 bytes of the non-keeper
    * members (group byte mass minus the keeper's, keeper = min doc_id /
    * min (doc_id, pos) — the tiers' own keep-first rules) — so document-
    * and paragraph-granularity tiers compare in ONE unit; and the
    * `paragraph` tier (q214's granularity) joins the card: its group
    * unit is the canonical PARAGRAPH, so `n_docs_in_groups`/`n_removable`
    * count paragraph instances there (documented asymmetry — the bytes
    * column is what compares across tiers). */
  def dedupMethodCardOf(d: DataFrame, rawLabels: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(d.sparkSession)
    def card(groups: DataFrame, method: String): DataFrame =
      groups.filter(col("c") >= 2).agg(
        count(lit(1)).as("n_dup_groups"),
        coalesce(sum(col("c")), lit(0L)).as("n_docs_in_groups"),
        coalesce(sum(col("c") - 1), lit(0L)).as("n_removable"),
        coalesce(sum(col("tot_bytes") - col("keep_bytes")), lit(0L))
          .as("n_removable_bytes"))
        .select(lit(method).as("method"), col("n_dup_groups"),
          col("n_docs_in_groups"), col("n_removable"),
          col("n_removable_bytes"))
    val dlen = octet_length(col("text")).cast(LongType)
    val exact = d.groupBy(sha2(col("text"), 256).as("k"))
      .agg(count(lit(1)).as("c"), sum(dlen).as("tot_bytes"),
        min_by(dlen, col("doc_id")).as("keep_bytes"))
    val norm = d.groupBy(sha2(normExpr, 256).as("k"))
      .agg(count(lit(1)).as("c"), sum(dlen).as("tot_bytes"),
        min_by(dlen, col("doc_id")).as("keep_bytes"))
    val near = rawLabels
      .join(d.select(col("doc_id").as("node"), dlen.as("len")), Seq("node"))
      .groupBy(col("label")).agg(count(lit(1)).as("c"),
        sum(col("len")).as("tot_bytes"),
        min_by(col("len"), col("node")).as("keep_bytes"))
    // the paragraph tier rides q214's OWN content/keeper definitions
    // (paragraphContent / the (doc_id, pos) struct-min) so the card's
    // paragraph row cannot drift from the dedup it prices
    val plen = octet_length(col("para")).cast(LongType)
    val para = paragraphContent(paragraphRows(d))
      .groupBy(col("k")).agg(count(lit(1)).as("c"),
        sum(plen).as("tot_bytes"),
        min_by(plen, struct(col("doc_id"), col("pos"))).as("keep_bytes"))
    card(exact, "exact")
      .unionByName(card(norm, "normalized"))
      .unionByName(card(near, "near_jaccard"))
      .unionByName(card(para, "paragraph"))
      .orderBy(col("method"))
  }

  private val dedupMethodCardSql =
    s"""WITH RECURSIVE ${graft.operators.Dedup.gatedShinglesCtes("documents")},
      |${graft.operators.Dedup.jaccardPairsCtes},
      |${graft.operators.Dedup.clusterCtes},
      |$paragraphCardCtes,
      |ex AS (SELECT text AS k, COUNT(*) AS c,
      |         CAST(SUM(STRLEN(text)) AS BIGINT) AS tot_bytes,
      |         CAST(ARG_MIN(STRLEN(text), doc_id) AS BIGINT) AS keep_bytes
      |       FROM documents
      |       GROUP BY text HAVING COUNT(*) >= 2),
      |nx AS (SELECT nt AS k, COUNT(*) AS c,
      |         CAST(SUM(len) AS BIGINT) AS tot_bytes,
      |         CAST(ARG_MIN(len, doc_id) AS BIGINT) AS keep_bytes
      |       FROM (SELECT doc_id, STRLEN(text) AS len, $normExprSql AS nt
      |             FROM documents) x
      |       GROUP BY nt HAVING COUNT(*) >= 2),
      |nr AS (SELECT cluster_id, COUNT(*) AS c,
      |         CAST(SUM(STRLEN(d.text)) AS BIGINT) AS tot_bytes,
      |         CAST(ARG_MIN(STRLEN(d.text), cc.doc_id) AS BIGINT) AS keep_bytes
      |       FROM cc JOIN documents d ON d.doc_id = cc.doc_id
      |       GROUP BY cluster_id HAVING COUNT(*) >= 2),
      |pgk AS (SELECT c.np, CAST(STRLEN(c.para) AS BIGINT) AS keep_bytes
      |        FROM c JOIN k2 ON c.np = k2.np AND c.doc_id = k2.kd
      |          AND c.pos = k2.kpos),
      |pg AS (SELECT g.np, g.c, g.tot_bytes, kk.keep_bytes
      |       FROM (SELECT np, COUNT(*) AS c,
      |               CAST(SUM(STRLEN(para)) AS BIGINT) AS tot_bytes
      |             FROM c GROUP BY np HAVING COUNT(*) >= 2) g
      |       JOIN pgk kk ON g.np = kk.np)
      |SELECT 'exact' AS method,
      |  COUNT(*) AS n_dup_groups,
      |  CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_docs_in_groups,
      |  CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS n_removable,
      |  CAST(COALESCE(SUM(tot_bytes - keep_bytes), 0) AS BIGINT)
      |    AS n_removable_bytes
      |FROM ex
      |UNION ALL
      |SELECT 'normalized', COUNT(*),
      |  CAST(COALESCE(SUM(c), 0) AS BIGINT),
      |  CAST(COALESCE(SUM(c - 1), 0) AS BIGINT),
      |  CAST(COALESCE(SUM(tot_bytes - keep_bytes), 0) AS BIGINT) FROM nx
      |UNION ALL
      |SELECT 'near_jaccard', COUNT(*),
      |  CAST(COALESCE(SUM(c), 0) AS BIGINT),
      |  CAST(COALESCE(SUM(c - 1), 0) AS BIGINT),
      |  CAST(COALESCE(SUM(tot_bytes - keep_bytes), 0) AS BIGINT) FROM nr
      |UNION ALL
      |SELECT 'paragraph', COUNT(*),
      |  CAST(COALESCE(SUM(c), 0) AS BIGINT),
      |  CAST(COALESCE(SUM(c - 1), 0) AS BIGINT),
      |  CAST(COALESCE(SUM(tot_bytes - keep_bytes), 0) AS BIGINT) FROM pg
      |ORDER BY method""".stripMargin

  // ---------------------------------------------------------------------
  // q123: per-source data card
  // ---------------------------------------------------------------------

  /** q123: the per-source data card — document/language/token/byte
    * accounting plus each source's share of the corpus token budget and
    * its dominant language. What a mixture designer (q98/q104/q120) reads
    * before setting weights. One corpus pass into a #sources-row
    * aggregate; the dominant language comes from a (source, lang) count
    * table (bounded by #sources × #langs) ranked with a full tiebreak,
    * and every post-aggregate join is broadcast. */
  def sourceDatacard(spark: SparkSession, dir: String): DataFrame =
    sourceDatacardOf(Tables.documents(spark, dir))

  def sourceDatacardOf(d: DataFrame): DataFrame = {
    // ONE corpus pass: everything downstream — per-source card, corpus
    // total, dominant language — re-aggregates the (source, lang)
    // pre-aggregate, whose cardinality is #sources × #langs (bounded),
    // not the corpus. The pre-agg collapses map-side; the scope cache
    // pins the tiny result so the three consumers cannot re-scan the
    // corpus even when exchange reuse does not fire.
    val pre = graft.functions.ScopedCache.persist("q123.pre",
      d.groupBy(col("source"), col("lang")).agg(
        count(lit(1)).as("c"),
        sum(size(toks).cast(LongType)).as("tok_sum"),
        sum(length(col("text")).cast(LongType)).as("chr_sum")))
    val bySrc = pre.groupBy(col("source")).agg(
      sum(col("c")).as("n_docs"),
      // each pre row is one distinct (source, lang): counting non-null
      // lang rows IS the distinct-language count
      count(col("lang")).as("n_langs"),
      sum(col("tok_sum")).cast(LongType).as("total_tokens"),
      sum(col("chr_sum")).cast(LongType).as("total_chars"))
    val corpusTokens = pre.agg(sum(col("tok_sum")).cast(LongType).as("corpus_tokens"))
    // deterministic argmax: count desc, then lang asc (Spark asc = NULLS
    // FIRST; the oracle window says so explicitly — q67's class of trap)
    val bySrcLang = Window.partitionBy(col("source"))
      .orderBy(col("c").desc, col("lang").asc)
    val topLang = pre
      .withColumn("rk", row_number().over(bySrcLang))
      .filter(col("rk") === 1)
      .select(col("source"), col("lang").as("top_lang"), col("c").as("top_lang_docs"))
    bySrc
      .join(broadcast(topLang), Seq("source"))
      .crossJoin(broadcast(corpusTokens))
      .select(col("source"), col("n_docs"), col("n_langs"),
        col("total_tokens"), col("total_chars"),
        // single divisions of exact integers: bit-identical across
        // engines, so the ROUND sees the same double on both sides
        round(col("total_tokens").cast("double") / col("n_docs"), 6)
          .as("avg_tokens_per_doc"),
        round(col("total_tokens").cast("double") / col("corpus_tokens"), 6)
          .as("corpus_token_share"),
        col("top_lang"), col("top_lang_docs"))
      .orderBy(col("source"))
  }

  private val sourceDatacardSql =
    """WITH t AS (
      |  SELECT source, lang, LEN(STRING_SPLIT(text, ' ')) AS n_toks,
      |         LENGTH(text) AS n_chars
      |  FROM documents),
      |s AS (
      |  SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT lang) AS n_langs,
      |         CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
      |         CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |  FROM t GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n_toks) AS BIGINT) AS corpus_tokens FROM t),
      |lc AS (SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY 1, 2),
      |tl AS (
      |  SELECT source, lang AS top_lang, c AS top_lang_docs,
      |         ROW_NUMBER() OVER (PARTITION BY source
      |                            ORDER BY c DESC, lang ASC NULLS FIRST) AS rk
      |  FROM lc)
      |SELECT s.source, n_docs, n_langs, total_tokens, total_chars,
      |  ROUND(CAST(total_tokens AS DOUBLE) / n_docs, 6) AS avg_tokens_per_doc,
      |  ROUND(CAST(total_tokens AS DOUBLE) / corpus_tokens, 6)
      |    AS corpus_token_share,
      |  top_lang, top_lang_docs
      |FROM s JOIN tl ON s.source = tl.source AND tl.rk = 1
      |CROSS JOIN tot
      |ORDER BY s.source NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q124: vocabulary growth (Heaps-law) curve
  // ---------------------------------------------------------------------

  /** Number of equal-width doc_id buckets the corpus is cut into for the
    * growth curve (also the row count of the result). */
  val GrowthBuckets = 10L

  /** q124: vocabulary growth curve — cut the corpus into [[GrowthBuckets]]
    * equal doc_id ranges and report, per bucket, the token volume and the
    * number of NEW token types first seen there, plus both as cumulative
    * series. The classic Heaps-law diagnostic: a corpus whose cum_types
    * curve flattens is re-treading vocabulary (near-duplicate-heavy); one
    * that keeps climbing linearly is still surfacing novel content.
    *
    * The trick that keeps it one pass: a type's contribution to every
    * cumulative point is determined by its FIRST bucket alone, so
    * `min(bucket) per token` (a map-side-collapsible agg over the corpus)
    * followed by a 10-row cumulative window replaces 10 cumulative
    * distinct-counts. The only windows run over ≤[[GrowthBuckets]] rows. */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame =
    vocabGrowthOf(Tables.documents(spark, dir))

  def vocabGrowthOf(d: DataFrame): DataFrame = {
    val nDocs = d.agg((max(col("doc_id")) + 1).as("n_docs"))
    val tk = d
      // loud non-negativity gate (Similarity.requireDim's idiom): Spark's `div`
      // TRUNCATES while DuckDB's `//` FLOORS — identical for doc_id >= 0,
      // divergent below it, so a negative id must fail, not drift
      .withColumn("doc_id",
        when(col("doc_id") >= 0, col("doc_id")).otherwise(raise_error(
          concat(lit("vocabGrowth requires non-negative doc_id, got "),
            col("doc_id").cast("string")))))
      .crossJoin(broadcast(nDocs))
      // exact-BIGINT division on both sides (Spark `div` / DuckDB `//`):
      // bucket boundaries cannot drift for the gated non-negative domain
      .select(
        (expr(s"(doc_id * $GrowthBuckets) div n_docs") + 1).cast("int")
          .as("bucket"),
        explode(toks).as("tok"))
    // ONE explode pass: both series re-aggregate the (tok, bucket) count
    // table (cardinality ≤ vocabulary × GrowthBuckets, corpus-bounded),
    // so the corpus is scanned and exploded exactly once
    val pre = graft.functions.ScopedCache.persist("q124.pre",
      tk.groupBy(col("tok"), col("bucket")).agg(count(lit(1)).as("c")))
    val cb = pre.groupBy(col("bucket")).agg(sum(col("c")).as("bucket_tokens"))
    val vb = pre.groupBy(col("tok")).agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("new_types"))
    val byBucket = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cb.join(vb, Seq("bucket"), "left")
      .select(col("bucket"), col("bucket_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("cum_tokens", sum(col("bucket_tokens")).over(byBucket))
      .withColumn("cum_types", sum(col("new_types")).over(byBucket))
      .orderBy(col("bucket"))
  }

  private val vocabGrowthSql =
    s"""WITH nd AS (SELECT MAX(doc_id) + 1 AS n_docs FROM documents),
      |tk AS (
      |  SELECT CAST((doc_id * $GrowthBuckets) // n_docs AS INT) + 1 AS bucket,
      |         UNNEST(STRING_SPLIT(text, ' ')) AS tok
      |  FROM documents CROSS JOIN nd),
      |cb AS (SELECT bucket, COUNT(*) AS bucket_tokens FROM tk GROUP BY 1),
      |fb AS (SELECT tok, MIN(bucket) AS bucket FROM tk GROUP BY 1),
      |vb AS (SELECT bucket, COUNT(*) AS new_types FROM fb GROUP BY 1)
      |SELECT cb.bucket, bucket_tokens,
      |  COALESCE(new_types, 0) AS new_types,
      |  CAST(SUM(bucket_tokens) OVER (ORDER BY cb.bucket NULLS FIRST)
      |    AS BIGINT) AS cum_tokens,
      |  CAST(SUM(COALESCE(new_types, 0)) OVER (ORDER BY cb.bucket NULLS FIRST)
      |    AS BIGINT) AS cum_types
      |FROM cb LEFT JOIN vb ON cb.bucket = vb.bucket
      |ORDER BY cb.bucket NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q125: train/val/test leakage audit
  // ---------------------------------------------------------------------

  /** q125: split-leakage audit — verify that q67's train/val/test cut is
    * safe to evaluate against by content, not just by doc_id. Exact-
    * duplicate texts that land in different splits leak evaluation data
    * into training (the split is disjoint on doc_id by construction, but
    * NOT on content when the corpus has duplicates — which real corpora
    * always do; that is what q70–q79 exist to measure). One corpus pass
    * into a per-distinct-text aggregate, then a single summary row:
    * documents, distinct texts, texts (and docs) appearing in >1 split,
    * and within-split duplicate texts (wasted tokens, not leakage).
    * MD5 here is content identity, not a sampling key — identical hex on
    * every engine, and collision-safe at corpus scale for exact-dup
    * accounting (2^64 birthday bound). */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame =
    splitLeakageOf(Tables.documents(spark, dir))

  def splitLeakageOf(d: DataFrame): DataFrame = {
    // THE q67 assignment, shared — the audit cannot drift from the split
    // it audits (change the cut in TextOps and both follow)
    val s = d.select(md5(col("text")).as("h"), TextOps.splitAssign.as("split"))
    val perText = s.groupBy(col("h")).agg(
      countDistinct(col("split")).as("n_splits"), count(lit(1)).as("nd"))
    perText.agg(
      count(lit(1)).as("n_texts"),
      sum(col("nd")).cast(LongType).as("n_docs"),
      sum(when(col("n_splits") > 1, lit(1L)).otherwise(lit(0L)))
        .cast(LongType).as("leaked_texts"),
      sum(when(col("n_splits") > 1, col("nd")).otherwise(lit(0L)))
        .cast(LongType).as("leaked_docs"),
      sum(when(col("n_splits") === 1 && col("nd") > 1, lit(1L)).otherwise(lit(0L)))
        .cast(LongType).as("dup_texts_within"))
  }

  private val splitLeakageSql =
    s"""WITH s AS (
      |  SELECT MD5(text) AS h,
      |    ${TextOps.splitAssignSqlCase} AS split
      |  FROM documents),
      |p AS (SELECT h, COUNT(DISTINCT split) AS n_splits, COUNT(*) AS nd
      |      FROM s GROUP BY 1)
      |SELECT COUNT(*) AS n_texts,
      |  CAST(SUM(nd) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS leaked_texts,
      |  CAST(SUM(CASE WHEN n_splits > 1 THEN nd ELSE 0 END) AS BIGINT)
      |    AS leaked_docs,
      |  CAST(SUM(CASE WHEN n_splits = 1 AND nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS dup_texts_within
      |FROM p""".stripMargin

  // ---------------------------------------------------------------------
  // q126: deterministic fixed-k per-source sample
  // ---------------------------------------------------------------------

  /** Sample size per source (the audit-sample / eyeballing use case). */
  val FixedSampleK = 5

  // A second multiplicative-hash family (offset +17, wider modulus than
  // q87's per-mille key so ranks behave like a random permutation):
  // engine-portable arithmetic, mirrored by the SQL twin below.
  private val RankModPrime = 1000003L
  private val RankMult = 2654435761L
  private val RankMod = 1048573L

  private def rankKey = pmod(
    pmod(col("doc_id") + lit(17L), lit(RankModPrime)) * lit(RankMult),
    lit(RankMod))

  private val rankKeySqlExpr =
    s"CAST((((((doc_id + 17) % $RankModPrime) + $RankModPrime) % $RankModPrime" +
      s" * $RankMult) % $RankMod + $RankMod) % $RankMod AS BIGINT)"

  /** q126: deterministic fixed-size per-source sample — exactly
    * [[FixedSampleK]] documents from every source (fewer only when the
    * source is smaller), chosen by ranking an engine-portable
    * multiplicative-hash key with a full (key, doc_id) tiebreak. The
    * reservoir-sampling use case (audit samples, eval seeds, labeling
    * batches) made reproducible: the same docs come back on every engine,
    * run, and cluster size, unlike rand()-based sampling. q87/q98/q104
    * sample by RATE (narrow map, no shuffle); fixed-COUNT semantics
    * genuinely need a per-source rank, which is a distributed sort-based
    * window — state bounded by the largest source, nothing global. */
  def fixedSample(spark: SparkSession, dir: String): DataFrame =
    fixedSampleOf(Tables.documents(spark, dir))

  def fixedSampleOf(d: DataFrame): DataFrame = {
    val bySrc = Window.partitionBy(col("source"))
      .orderBy(col("rank_key").asc, col("doc_id").asc)
    d.withColumn("rank_key", rankKey)
      // LongType: DuckDB's ROW_NUMBER is BIGINT and the driver compares schemas
      .withColumn("rk", row_number().over(bySrc).cast(LongType))
      .filter(col("rk") <= FixedSampleK)
      .select(col("source"), col("rk"), col("doc_id"), col("lang"),
        col("rank_key"))
      .orderBy(col("source"), col("rk"))
  }

  private val fixedSampleSql =
    s"""WITH t AS (
      |  SELECT source, doc_id, lang, $rankKeySqlExpr AS rank_key
      |  FROM documents),
      |r AS (
      |  SELECT source, doc_id, lang, rank_key,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |                       ORDER BY rank_key NULLS FIRST, doc_id NULLS FIRST)
      |      AS rk
      |  FROM t)
      |SELECT source, rk, doc_id, lang, rank_key
      |FROM r WHERE rk <= $FixedSampleK
      |ORDER BY source NULLS FIRST, rk""".stripMargin

  // ---------------------------------------------------------------------
  // q127: packing-efficiency report
  // ---------------------------------------------------------------------

  /** q127: packing efficiency — per source, how well q68's greedy packing
    * fills the [[TextOps.PackBudget]]-token chunks a trainer consumes:
    * chunk/doc/token counts, chunks that overflow the budget (a doc's
    * tail spills past it by design), padding tokens (budget minus fill,
    * over underfull chunks), and the fill ratio as a single division of
    * exact integers. The report a pipeline owner reads before choosing
    * budget or shard count. Aggregates q68's own chunk table (shared
    * plan AND shared oracle CTE, so the report cannot drift from the
    * packer); cardinality in = #chunks, out = #sources. */
  def packEfficiency(spark: SparkSession, dir: String): DataFrame =
    packEfficiencyOf(TextOps.packSequences(spark, dir))

  /** Expects q68's output: (source, chunk_id, n_docs, chunk_tokens, ...). */
  def packEfficiencyOf(chunks: DataFrame): DataFrame = {
    val budget = TextOps.PackBudget
    chunks.groupBy(col("source")).agg(
      count(lit(1)).as("n_chunks"),
      sum(col("n_docs")).cast(LongType).as("n_docs"),
      sum(col("chunk_tokens")).cast(LongType).as("total_tokens"),
      sum(when(col("chunk_tokens") > budget, lit(1L)).otherwise(lit(0L)))
        .cast(LongType).as("overfull_chunks"),
      sum(greatest(lit(budget) - col("chunk_tokens"), lit(0L)))
        .cast(LongType).as("padding_tokens"))
      .withColumn("fill_ratio",
        round(col("total_tokens").cast("double") / (col("n_chunks") * budget), 6))
      .orderBy(col("source"))
  }

  private val packEfficiencySql = {
    val budget = TextOps.PackBudget
    s"""WITH pack AS (${TextOps.packSequencesSql})
      |SELECT source, COUNT(*) AS n_chunks,
      |  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
      |  CAST(SUM(chunk_tokens) AS BIGINT) AS total_tokens,
      |  CAST(SUM(CASE WHEN chunk_tokens > $budget THEN 1 ELSE 0 END) AS BIGINT)
      |    AS overfull_chunks,
      |  CAST(SUM(GREATEST($budget - chunk_tokens, 0)) AS BIGINT)
      |    AS padding_tokens,
      |  ROUND(CAST(SUM(chunk_tokens) AS DOUBLE) / (COUNT(*) * $budget), 6)
      |    AS fill_ratio
      |FROM pack
      |GROUP BY source
      |ORDER BY source NULLS FIRST""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q128: compression-ratio quality signal
  // ---------------------------------------------------------------------

  /** q128: compression-ratio scoring — DEFLATE length over raw UTF-8
    * length per document (the published curation signal: repetitive or
    * templated text compresses hard; near-random text doesn't compress at
    * all). Rides the native [[graft.functions.DeflateLen]] expression, so
    * the pass stays a codegen'd narrow map. Engine-specific bytes (zlib)
    * → rows-only by design, semantics pinned in ProfilingSpec: see the
    * SmokeSpec rows-only ledger. */
  def compressionSignal(spark: SparkSession, dir: String): DataFrame =
    compressionSignalOf(Tables.documents(spark, dir))

  def compressionSignalOf(d: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(d.sparkSession)
    d.select(col("doc_id"),
        octet_length(col("text")).cast(LongType).as("n_bytes"),
        expr("graft_deflate_len(text)").as("deflate_len"))
      .withColumn("compression_ratio",
        when(col("n_bytes") > 0,
          round(col("deflate_len").cast("double") / col("n_bytes"), 6)))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------------
  // q130: cross-source vocabulary overlap from KMV sketch algebra
  // ---------------------------------------------------------------------

  /** q130: cross-source vocabulary overlap — estimated distinct-token
    * union, intersection, and Jaccard for every source pair, computed
    * entirely from per-source KMV sketches ([[graft.functions.KmvSetAgg]];
    * Beyer et al., SIGMOD 2007). ONE corpus pass builds a k-longs sketch
    * per source (map-side combined, constant state); the pairwise algebra
    * then runs on #sources² sketch rows: the k smallest hashes of A∪B are
    * all present in sketch(A) ∪ sketch(B), so
    * `uk = first k of sort(union(sk_a, sk_b))` is a valid union sketch
    * (n̂ = (k−1)·P / h₍ₖ₎), and the fraction of `uk` present in BOTH input
    * sketches estimates the intersection (n̂∩ = |uk ∩ A ∩ B| · n̂∪ / k).
    * Under k distinct hashes the sketches ARE the vocabulary sets and
    * every figure is exact — both engines take the same branch.
    *
    * This is the 100 TB comparison shape: comparing vocabularies across
    * N sources pairwise on raw tokens is N² corpus joins; with sketches
    * it is one scan plus arithmetic on N·k longs. All estimator math is
    * integer (products < 2⁴¹), replayed bit-for-bit by the DuckDB oracle
    * via per-source `ROW_NUMBER() ... <= k`; the only float is a single
    * ROUND(6)-ed division of exact integers (q123/q127's parity rule).
    */
  def vocabOverlapSketch(spark: SparkSession, dir: String): DataFrame =
    vocabOverlapSketchOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def vocabOverlapSketchOf(d: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(d.sparkSession)
    val k = graft.functions.Kmv.K
    val p = graft.functions.PolyHash.P
    // scope-cached: both sides of the pair join derive from this plan,
    // and without the pin the corpus scan + sketch pass would run twice
    // (exchange reuse is not guaranteed across the crossJoin's sides)
    val sk = graft.functions.ScopedCache.persist("q130.sketches",
      d.select(col("source"), explode(toks).as("tok"))
        .select(col("source"), expr("graft_tokhash(tok)").as("h"))
        .groupBy(col("source")).agg(expr("graft_kmv_set(h)").as("sk")))
    // #sources rows of k longs each — broadcast by construction; the
    // non-equi pair condition would otherwise force a BNLJ of the
    // same tiny table against itself
    val a = sk.select(col("source").as("src_a"), col("sk").as("sk_a"))
    val b = sk.select(col("source").as("src_b"), col("sk").as("sk_b"))
    a.crossJoin(broadcast(b)).filter(col("src_a") < col("src_b"))
      .withColumn("uk", slice(array_sort(array_union(col("sk_a"), col("sk_b"))), 1, k))
      .withColumn("nk", size(col("uk")).cast(LongType))
      .withColumn("hk", element_at(col("uk"), size(col("uk"))))
      .withColumn("in_both",
        size(array_intersect(array_intersect(col("uk"), col("sk_a")), col("sk_b")))
          .cast(LongType))
      .withColumn("est_union",
        when(col("nk") < k, col("nk"))
          .otherwise(expr(s"${(k - 1).toLong * p}L div hk")))
      .withColumn("est_inter",
        when(col("nk") < k, col("in_both"))
          .otherwise(expr(s"(in_both * est_union) div ${k}L")))
      .withColumn("est_jaccard",
        when(col("est_union") > 0,
          round(col("est_inter").cast("double") / col("est_union"), 6)))
      .select(col("src_a"), col("src_b"), col("est_union"), col("est_inter"),
        col("est_jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  private val vocabOverlapSketchSql = {
    val k = graft.functions.Kmv.K
    val p = graft.functions.PolyHash.P
    val fold = Dedup.polyFoldSql("w", graft.functions.PolyHash.M1)
    s"""WITH toks AS (SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS w
      |              FROM documents),
      |th AS (SELECT DISTINCT source, $fold AS h FROM toks),
      |rk AS (SELECT source, h,
      |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
      |       FROM th),
      |sk AS (SELECT source, h FROM rk WHERE rn <= $k),
      |srcs AS (SELECT DISTINCT source FROM documents),
      |prs AS (SELECT a.source AS src_a, b.source AS src_b
      |        FROM srcs a JOIN srcs b ON a.source < b.source),
      |u AS (SELECT p.src_a, p.src_b, s.h FROM prs p JOIN sk s ON s.source = p.src_a
      |      UNION
      |      SELECT p.src_a, p.src_b, s.h FROM prs p JOIN sk s ON s.source = p.src_b),
      |urk AS (SELECT src_a, src_b, h,
      |          ROW_NUMBER() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rn
      |        FROM u),
      |uk AS (SELECT src_a, src_b, h FROM urk WHERE rn <= $k),
      |mem AS (SELECT u.src_a, u.src_b, u.h,
      |          CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL THEN 1 ELSE 0 END
      |            AS inb
      |        FROM uk u
      |        LEFT JOIN sk a ON a.source = u.src_a AND a.h = u.h
      |        LEFT JOIN sk b ON b.source = u.src_b AND b.h = u.h),
      |agg AS (SELECT src_a, src_b, COUNT(*) AS nk, MAX(h) AS hk,
      |          CAST(SUM(inb) AS BIGINT) AS in_both
      |        FROM mem GROUP BY 1, 2),
      |est AS (SELECT src_a, src_b,
      |          CASE WHEN nk < $k THEN nk
      |               ELSE ${(k - 1).toLong * p} // hk END AS est_union, in_both, nk
      |        FROM agg)
      |SELECT src_a, src_b, est_union,
      |  CASE WHEN nk < $k THEN in_both
      |       ELSE (in_both * est_union) // $k END AS est_inter,
      |  CASE WHEN est_union > 0 THEN
      |    ROUND(CAST(CASE WHEN nk < $k THEN in_both
      |               ELSE (in_both * est_union) // $k END AS DOUBLE) / est_union, 6)
      |  END AS est_jaccard
      |FROM est
      |ORDER BY src_a NULLS FIRST, src_b NULLS FIRST""".stripMargin
  }

  /** q148 token budget per source (the source-capping curation move:
    * "cap the over-represented crawl at N tokens, unbiased"). */
  val BudgetTokens = 800L

  // a third multiplicative-hash family (offset +41) so the cap's
  // permutation is independent of q126's rank and q87's rate key
  private def capKey = pmod(
    pmod(col("doc_id") + lit(41L), lit(RankModPrime)) * lit(RankMult),
    lit(RankMod))

  private val capKeySqlExpr =
    s"CAST((((((doc_id + 41) % $RankModPrime) + $RankModPrime) % $RankModPrime" +
      s" * $RankMult) % $RankMod + $RankMod) % $RankMod AS BIGINT)"

  /** Greedy token-budget fill per source: docs enter in engine-portable
    * hash order (an unbiased deterministic permutation) until the
    * source's cumulative token count reaches [[BudgetTokens]]; the doc
    * that crosses the boundary is kept (greedy-fill convention, q68's
    * packer). Fixed-COUNT sampling (q126) caps documents; this caps
    * TOKENS — what a mixture spec actually budgets. The running sum is a
    * per-source ROWS window: parallel across sources, sequential within
    * one, state bounded by the largest source — same posture as the
    * packer, nothing global. */
  def tokenBudgetCap(spark: SparkSession, dir: String): DataFrame =
    tokenBudgetCapOf(Tables.documents(spark, dir))

  def tokenBudgetCapOf(d: DataFrame): DataFrame = {
    val bySrc = Window.partitionBy(col("source"))
      .orderBy(col("cap_key").asc, col("doc_id").asc)
    d.withColumn("cap_key", capKey)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast(LongType))
      .withColumn("cum_before",
        coalesce(sum(col("n_tokens")).over(
          bySrc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("cum_before") < lit(BudgetTokens))
      .select(col("source"), col("doc_id"), col("cap_key"),
        col("n_tokens"), col("cum_before"))
      .orderBy(col("source"), col("cap_key"), col("doc_id"))
  }

  private val tokenBudgetCapSql =
    s"""WITH t AS (
      |  SELECT source, doc_id,
      |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
      |    $capKeySqlExpr AS cap_key
      |  FROM documents),
      |c AS (
      |  SELECT source, doc_id, cap_key, n_tokens,
      |    COALESCE(CAST(SUM(n_tokens) OVER (PARTITION BY source
      |      ORDER BY cap_key NULLS FIRST, doc_id NULLS FIRST
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_before
      |  FROM t)
      |SELECT source, doc_id, cap_key, n_tokens, cum_before
      |FROM c WHERE cum_before < $BudgetTokens
      |ORDER BY source NULLS FIRST, cap_key NULLS FIRST, doc_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q167: OOV rate vs vocabulary size (the tokenizer-design curve)
  // ---------------------------------------------------------------------

  /** Candidate vocabulary sizes for the OOV curve. */
  val OovVocabSizes: Seq[Long] = Seq(1000L, 2000L, 4000L, 8000L, 16000L, 32000L)

  /** q167: out-of-vocabulary rate as a function of vocabulary size — for
    * each candidate k, the fraction of corpus TOKENS not covered by the
    * k most frequent types. The first curve a tokenizer/vocab design
    * reads: where it flattens is where a bigger word-level vocab stops
    * paying and subword units take over.
    *
    * The scale trick: top-k COVERAGE is tie-invariant — every type in
    * the frequency class straddling the cut contributes exactly its
    * class frequency, so WHICH ties enter the top-k cannot change the
    * covered-token sum. That means the curve needs no vocabulary
    * ranking at all: collapse the corpus to type counts (map-side
    * combined), collapse counts to the COUNT-OF-COUNTS table (one row
    * per distinct frequency — O(√corpus) rows by Zipf, thousands at any
    * scale), take cumulative sums over that tiny table, and each k
    * reads its straddling class: covered(k) = cum_tokens(above) +
    * (k − cum_types(above))·f*. The only window runs over the
    * count-of-counts table; the corpus sees one narrow explode pass.
    * A k past the whole vocabulary covers everything (oov = 0). */
  def oovRateCurve(spark: SparkSession, dir: String): DataFrame =
    oovRateCurveOf(Tables.documents(spark, dir))

  def oovRateCurveOf(d: DataFrame,
      vocabSizes: Seq[Long] = OovVocabSizes): DataFrame = {
    val session = d.sparkSession
    import session.implicits._
    val vocab = d.select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
    val cc = vocab.groupBy(col("n")).agg(count(lit(1)).as("types"))
    val byFreqDesc = Window.orderBy(col("n").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = cc
      .withColumn("cum_types", coalesce(sum(col("types")).over(byFreqDesc), lit(0L)))
      .withColumn("cum_tokens",
        coalesce(sum(col("types") * col("n")).over(byFreqDesc), lit(0L)))
    val tot = cc.agg(
      sum(col("types") * col("n")).as("total_tokens"),
      sum(col("types")).as("vocab_total"))
    val ks = vocabSizes.toDF("vocab_k")
    // straddling class per k: cum_types < k <= cum_types + types; a k
    // past the vocabulary matches no row and falls back to full coverage
    val straddle = ks.join(cum,
        col("cum_types") < col("vocab_k") &&
          col("vocab_k") <= col("cum_types") + col("types"), "left")
      .select(col("vocab_k"),
        (col("cum_tokens") + (col("vocab_k") - col("cum_types")) * col("n"))
          .as("covered_raw"))
    straddle.crossJoin(broadcast(tot))
      .select(col("vocab_k"),
        coalesce(col("covered_raw"), col("total_tokens")).as("covered_tokens"),
        col("total_tokens"),
        round(lit(1.0) - coalesce(col("covered_raw"), col("total_tokens"))
          .cast("double") / col("total_tokens"), 6).as("oov_rate"))
      .orderBy(col("vocab_k"))
  }

  private val oovRateCurveSql = {
    // CAST pins vocab_k to BIGINT (DuckDB VALUES would infer INT32 and
    // the driver's schema compare is type-sensitive; Spark side is Long)
    val ksValues = OovVocabSizes.map(k => s"(CAST($k AS BIGINT))").mkString(", ")
    s"""WITH vocab AS (
      |  SELECT tok, COUNT(*) AS n
      |  FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents) t
      |  GROUP BY 1),
      |cc AS (SELECT n, COUNT(*) AS types FROM vocab GROUP BY 1),
      |cum AS (
      |  SELECT n, types,
      |    CAST(COALESCE(SUM(types) OVER w, 0) AS BIGINT) AS cum_types,
      |    CAST(COALESCE(SUM(types * n) OVER w, 0) AS BIGINT) AS cum_tokens
      |  FROM cc
      |  WINDOW w AS (ORDER BY n DESC ROWS BETWEEN UNBOUNDED PRECEDING
      |               AND 1 PRECEDING)),
      |tot AS (
      |  SELECT CAST(SUM(types * n) AS BIGINT) AS total_tokens FROM cc),
      |ks(vocab_k) AS (VALUES $ksValues)
      |SELECT ks.vocab_k,
      |  COALESCE(cum.cum_tokens + (ks.vocab_k - cum.cum_types) * cum.n,
      |           tot.total_tokens) AS covered_tokens,
      |  tot.total_tokens,
      |  ROUND(1 - CAST(COALESCE(cum.cum_tokens + (ks.vocab_k - cum.cum_types)
      |        * cum.n, tot.total_tokens) AS DOUBLE) / tot.total_tokens, 6)
      |    AS oov_rate
      |FROM ks
      |LEFT JOIN cum ON cum.cum_types < ks.vocab_k
      |  AND ks.vocab_k <= cum.cum_types + cum.types
      |CROSS JOIN tot
      |ORDER BY vocab_k NULLS FIRST""".stripMargin
  }

  override def queries: Seq[GraftQuery] = Seq(
    GraftQuery("q122_normalize_text", normalizeText, Some(normalizeTextSql)),
    GraftQuery("q167_oov_rate_curve", oovRateCurve, Some(oovRateCurveSql)),
    GraftQuery("q123_source_datacard", sourceDatacard, Some(sourceDatacardSql)),
    GraftQuery("q124_vocab_growth", vocabGrowth, Some(vocabGrowthSql)),
    GraftQuery("q125_split_leakage", splitLeakage, Some(splitLeakageSql)),
    GraftQuery("q126_fixed_sample", fixedSample, Some(fixedSampleSql)),
    GraftQuery("q127_pack_efficiency", packEfficiency, Some(packEfficiencySql)),
    GraftQuery("q128_compression_signal", compressionSignal, None),
    GraftQuery("q130_vocab_overlap_sketch", vocabOverlapSketch,
      Some(vocabOverlapSketchSql)),
    GraftQuery("q148_token_budget_cap", tokenBudgetCap, Some(tokenBudgetCapSql)),
    GraftQuery("q200_normalized_dedup", normalizedDedup, Some(normalizedDedupSql)),
    GraftQuery("q201_dedup_method_card", dedupMethodCard, Some(dedupMethodCardSql)),
    GraftQuery("q214_paragraph_dedup", paragraphDedup, Some(paragraphDedupSql)),
    GraftQuery("q220_paragraph_dedup_by_source", paragraphDedupBySource,
      Some(paragraphDedupBySourceSql)),
    GraftQuery("q221_ccnet_corpus", ccnetCorpus, Some(ccnetCorpusSql)),
    GraftQuery("q225_ccnet_funnel", ccnetFunnel, Some(ccnetFunnelSql)),
    GraftQuery("q227_ccnet_training_chunks", ccnetTrainingChunks,
      Some(ccnetTrainingChunksSql)),
  )
}
