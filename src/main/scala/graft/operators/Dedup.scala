package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftQuery, QueryModule}
import graft.sources.Tables

/** Deduplication for LLM training corpora (SURVEY.md §2.12): exact
  * (hash-group), near-dup via exact n-gram Jaccard, MinHash+LSH, and
  * SimHash. All are DataFrame-native — shingling and hashing are per-row
  * higher-order functions (codegen'd, no UDFs); candidate generation is a
  * keyed equi-join on band/bucket signatures, never an all-pairs cross
  * join.
  *
  * Scale posture: MinHash/LSH is the 100 TB path — per-doc work is linear,
  * and the only shuffle joins are on (band, signature) buckets whose size
  * is controlled by the banding parameters. Every pair-generating join is
  * additionally hot-bucket-guarded: a key shared by k rows emits k² join
  * rows, so q72 prunes shingles above a max document frequency before its
  * self-join, and q73/q74 drop LSH band / SimHash chunk buckets above a
  * size cap. The hot-key lists hold only keys over the cap — usually
  * tiny, but in the worst case up to N/cap entries — so the anti-join
  * gates carry no broadcast hint: AQE converts them to broadcast at
  * runtime when the list is actually small and falls back to a shuffle
  * anti-join when it is not.
  */
object Dedup extends QueryModule {

  /** Hot-bucket guards for the pair-generating joins. A shingle/bucket
    * shared by k docs emits k(k−1)/2 candidate pairs; these caps bound k.
    * Ultra-high-document-frequency shingles (stop-phrase 3-grams) carry no
    * near-dup evidence anyway, and genuine near-dups inside one dropped
    * LSH bucket almost surely co-occur in another band (16 independent
    * chances). Exact duplicates of ultra-common texts are still caught by
    * the exact path (q70/q71), which never generates pairs. */
  val MaxShingleDF = 100
  val MaxBandBucket = 200
  val MaxChunkBucket = 200

  /** Similarity thresholds and carve constants, interpolated into the
    * oracle SQL strings below so plan and oracle cannot drift when a
    * constant changes. */
  val JaccardThreshold = 0.5
  val EmbeddingNearDupThreshold = 0.4
  val BenchmarkCarveMod = 97
  val ContaminationMinShared = 2

  // ---- shared shingling -------------------------------------------------

  /** Distinct word-3-gram shingles per doc (docs with ≥3 tokens),
    * hashed to 64-bit longs at creation via the compiled
    * [[graft.functions.ShingleHashes]] expression: every downstream op
    * (frequency, join, intersect, minhash) then works on fixed-width
    * longs instead of strings — smaller shuffles, cheaper comparisons,
    * and no interpreted higher-order functions on the hot path. xxhash64
    * collisions across a corpus vocabulary are negligible (birthday bound
    * ~n²/2⁶⁵) and the hash is deterministic. */
  private def shingled(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr("graft_shingles(text)").as("shingles"))
      .filter(size(col("shingles")) >= 1)

  /** [[shingled]] exploded: one (doc_id, sh) row per distinct shingle. */
  private def shingleRows(docs: DataFrame): DataFrame =
    shingled(docs).select(col("doc_id"), explode(col("shingles")).as("sh"))

  /** 32-byte content identity key. Every grouping/join whose key is "the
    * document text" shuffles and compares THIS instead of the full body:
    * at corpus scale a raw-text key pushes corpus-sized bytes through the
    * exchange purely as comparator input, and one mega-duplicated
    * boilerplate text becomes a hot key carrying its whole body per copy.
    * SHA-256 equality is content equality for any real corpus (collision
    * probability ~n²/2²⁵⁷); text itself is carried only where a result
    * actually emits it. Oracles are unaffected — the key never appears in
    * output, and DuckDB replays the same grouping bit-for-bit. */
  private[graft] def contentKey(c: Column): Column = unhex(sha2(c, 256))

  /** Null-safe [[contentKey]] for JOINS: null text maps to an
    * empty-binary sentinel (sha output is always 32 bytes, so it cannot
    * collide), making join semantics match groupBy's null handling — all
    * null texts are one content-identity group. ONE definition, shared by
    * q174's keeper lookup, q176's admission, and the probes: the exact
    * form of this expression decides null-text join semantics. */
  private[graft] def contentKeyNullSafe(c: Column): Column =
    coalesce(contentKey(c), lit(Array.emptyByteArray))

  // ---- exact dedup ------------------------------------------------------

  /** Exact duplicate groups by content hash (count > 1). */
  def exactDupGroups(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.groupBy(sha2(col("text"), 256).as("content_sha256"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keep_doc_id"))
      .filter(col("n_dups") > 1)
      .orderBy(col("content_sha256"))
  }

  private val exactDupGroupsSql =
    """SELECT SHA256(text) AS content_sha256, COUNT(*) AS n_dups,
      |  MIN(doc_id) AS keep_doc_id
      |FROM documents
      |GROUP BY 1
      |HAVING COUNT(*) > 1
      |ORDER BY content_sha256 NULLS FIRST""".stripMargin

  /** Exact dedup keeping the first (lowest doc_id) copy of each text —
    * the latest/first-per-key compaction pattern applied to content
    * identity. Returns the surviving ids. */
  def dedupKeepFirst(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    // min_by hash-aggregate, not a window: partial aggregation collapses
    // duplicate groups map-side and nothing is ever sorted by full text.
    // Keyed on the 32-byte content key — text is not in the output, so the
    // shuffle carries no document bodies at all.
    d.groupBy(contentKey(col("text")).as("tkey"))
      .agg(min_by(struct(col("doc_id"), col("lang"), col("source")), col("doc_id")).as("keep"))
      .select(col("keep.doc_id").as("doc_id"), col("keep.lang").as("lang"),
              col("keep.source").as("source"))
      .orderBy(col("doc_id"))
  }

  private val dedupKeepFirstSql =
    """SELECT doc_id, lang, source FROM (
      |  SELECT doc_id, lang, source,
      |    ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id NULLS FIRST) AS rn
      |  FROM documents) t
      |WHERE rn = 1
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  // ---- exact n-gram Jaccard near-dup ------------------------------------

  /** Exact 3-gram Jaccard similarity for all doc pairs sharing ≥1 shingle,
    * thresholded at 0.5. |A∩B| from a shingle-keyed self-join (group
    * count), |A∪B| = |A|+|B|−|A∩B| — integer arithmetic end to end, so the
    * ratio is hash-exact. */
  def ngramJaccardPairs(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPairsOf(Tables.documents(spark, dir))

  /** Exploded (doc_id, shingle-hash) rows with the document-frequency
    * gate applied: a shingle shared by k docs emits k² rows in a
    * shingle-keyed join, so one stop-phrase 3-gram shared by 10⁶ docs
    * would be a quadratic skew bomb — shingles with DF > maxDF are
    * anti-joined out FIRST (they carry no near-dup/contamination evidence
    * anyway), and all downstream sizes/intersections run on the pruned
    * universe. The hot list holds only shingles over the cap — usually
    * tiny, but unbounded in the worst case — so no broadcast hint: AQE
    * broadcasts the anti-join at runtime when it is actually small. Only
    * the GATED output is scope-cached (it feeds a self-join plus
    * size/frequency aggregates, 3+ references); the raw shingle explode
    * is recomputed for its two references instead — it is scan-bound and
    * cheap, while materializing the largest intermediate doubles cache
    * memory (caching both measured slowest). The matching oracle CTE
    * prefix is [[gatedShinglesSqlCte]]. */
  private def gatedShingles(docs: DataFrame, maxDF: Int, scope: String): DataFrame = {
    val shAll = shingleRows(docs)
    val hot = shAll.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDF).select(col("sh"))
    val gated = shAll.join(hot, Seq("sh"), "left_anti")
    // the variant folds in maxDF and the input plan's semantic hash:
    // same-scope callers with a different gate or corpus (q72 vs q76 with
    // a non-default maxDF, a pipeline shingling another table) get their
    // own slot instead of evicting and re-persisting each other's entry
    // per call; ScopedCache's per-family LRU cap keeps the slot count
    // bounded when a session shingles many corpora (suites, probes)
    val variant = s"df$maxDF.${docs.queryExecution.analyzed.semanticHash()}"
    graft.functions.ScopedCache.persist(scope, variant, gated)
  }

  /** Default cache scope for the gated shingle table. q72 and q76 build
    * the identical gated plan over the fixture documents, so they share
    * ONE scope (caching the same plan under two scopes makes the second
    * persist a no-op and couples the scopes' unpersist lifetimes);
    * pipelines that shingle a different corpus (q78 shingles the
    * exact-dedup survivors) pass their own scope. */
  private val SharedShingleScope = "dedup.shingles.gated"

  /** The DF gate over exploded (doc_id, sh) rows from ONE per-shingle
    * document-frequency aggregate: the gated rows as an inner join
    * against its ≤-cap side, so each row carries its shingle's `df`
    * (columns sh, doc_id, df), and the hot list as its >-cap side. The
    * same universe as [[gatedShingles]]' anti-join form. */
  private def dfGate(rows: DataFrame): (DataFrame, DataFrame) = {
    val df = rows.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    (rows.join(df.filter(col("df") <= MaxShingleDF), Seq("sh")),
      df.filter(col("df") > MaxShingleDF).select(col("sh")))
  }

  /** Shared oracle mirror of [[gatedShingles]]: DuckDB CTEs ending in
    * `sh` = the DF-gated (doc_id, shingle) universe over `docsTable`.
    * Interpolated into every shingle-based oracle so the Scala and SQL
    * gates cannot drift. Returned WITHOUT the leading `WITH` so callers
    * can prepend `WITH` or `WITH RECURSIVE` as needed. */
  private[operators] def gatedShinglesCtes(docsTable: String): String =
    s"""toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM $docsTable),
      |sh0 AS (
      |  SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
      |    GENERATE_SERIES(1, LEN(t) - 2),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
      |  FROM toks WHERE LEN(t) >= 3),
      |hot AS (SELECT sh FROM sh0 GROUP BY sh HAVING COUNT(*) > $MaxShingleDF),
      |sh AS (SELECT s.doc_id, s.sh FROM sh0 s
      |       WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.sh = s.sh))""".stripMargin

  private val gatedShinglesSqlCte = "WITH " + gatedShinglesCtes("documents")

  /** DataFrame-level core of q72. |A∩B| comes from a shingle-keyed
    * equi-self-join (on 64-bit shingle hashes over the [[gatedShingles]]
    * universe) + pair group-count; |A∪B| = |A|+|B|−|A∩B| via two
    * AQE-decided equi-joins against the per-doc size table. The oracle
    * SQL mirrors the same pruned-universe computation exactly ("Jaccard
    * over discriminative shingles" semantics). */
  def ngramJaccardPairsOf(docs: DataFrame, maxDF: Int = MaxShingleDF,
      scope: String = SharedShingleScope): DataFrame =
    jaccardPairsUnsorted(docs, maxDF, scope).orderBy(col("doc_a"), col("doc_b"))

  /** [[ngramJaccardPairsOf]] without the presentation sort — the form the
    * clustering consumers (q77/q78/q85) feed into explode/groupBy, where
    * a global order on the pair set buys nothing but an exchange. */
  private[graft] def jaccardPairsUnsorted(docs: DataFrame, maxDF: Int = MaxShingleDF,
      scope: String = SharedShingleScope): DataFrame =
    jaccardPairsFromGated(gatedShingles(docs, maxDF, scope))

  /** The pair pipeline from an already-gated (doc_id, sh) universe —
    * split out so callers that manage their own gate (the q176 append,
    * whose delta side must be gated by the BASE hot list; the raw-label
    * re-gate) run the identical self-join/size/threshold chain. */
  private[graft] def jaccardPairsFromGated(sh: DataFrame): DataFrame = {
    val sizes = gatedSizes(sh)
    jaccardScored(pairIntersections(sh), sizes, sizes)
  }

  /** Per-doc gated-shingle counts (doc_id, n). */
  private def gatedSizes(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))

  /** (doc_a < doc_b, n_inter) from a shingle-keyed equi-self-join of a
    * gated (doc_id, sh) universe. */
  private def pairIntersections(sh: DataFrame): DataFrame =
    sh.as("a").join(sh.as("b"), Seq("sh"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))

  /** `inter` (doc_a, doc_b, ...) ⋈ sizesA(doc_a) ⋈ sizesB(doc_b), adding
    * n_a and n_b from two (doc_id, n) tables. NO broadcast hint: a size
    * table is one row PER GATED DOC — O(corpus) at 100 TB, where a
    * forced broadcast is a driver OOM. Left AQE-decided, the join
    * broadcasts at runtime when the side is actually small and is a
    * doc_id-keyed shuffle when it is not (PlanSpec guards the hint out
    * of the pair core). */
  private def withSizes(inter: DataFrame, sizesA: DataFrame, sizesB: DataFrame): DataFrame =
    inter
      .join(sizesA.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizesB.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")

  /** |A∩B| / |A∪B| with |A∪B| = n_a + n_b − |A∩B|: integer arithmetic up
    * to the one division, so the ratio is hash-exact against the oracle. */
  private def jaccardOf(nInter: Column): Column =
    nInter.cast(DoubleType) / (col("n_a") + col("n_b") - nInter)

  /** The one Jaccard scorer: (doc_a, doc_b, n_inter, jaccard) for the
    * pairs of `inter` (doc_a, doc_b, n_inter) at or above
    * [[JaccardThreshold]], sized from (doc_id, n) tables per side. */
  private def jaccardScored(inter: DataFrame, sizesA: DataFrame,
      sizesB: DataFrame): DataFrame =
    withSizes(inter, sizesA, sizesB)
      .withColumn("jaccard", jaccardOf(col("n_inter")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("jaccard"))

  /** Oracle CTEs from the gated `sh` universe to thresholded Jaccard
    * `pairs` — the SQL mirror of [[ngramJaccardPairsOf]], shared by the
    * q72/q77/q78 oracles so the pair definition cannot drift. */
  private[operators] val jaccardPairsCtes =
    s"""sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT doc_a, doc_b, n_inter,
      |    CAST(n_inter AS DOUBLE) / (x.n + y.n - n_inter) AS jaccard
      |  FROM inter
      |  JOIN sz x ON doc_a = x.doc_id
      |  JOIN sz y ON doc_b = y.doc_id
      |  WHERE CAST(n_inter AS DOUBLE) / (x.n + y.n - n_inter) >= $JaccardThreshold)""".stripMargin

  private val ngramJaccardPairsSql =
    s"""$gatedShinglesSqlCte,
      |$jaccardPairsCtes
      |SELECT doc_a, doc_b, n_inter, jaccard
      |FROM pairs
      |ORDER BY doc_a NULLS FIRST, doc_b NULLS FIRST""".stripMargin

  // ---- asymmetric containment (doc-inside-doc) ---------------------------

  /** A document whose gated shingles are ≥ this fraction covered by
    * another document's counts as contained in it. */
  val ContainmentThreshold = 0.8

  /** q177: asymmetric containment pairs — `contained_doc`'s
    * discriminative (DF-gated) shingles are ≥ [[ContainmentThreshold]]
    * covered by `container_doc`'s. This is the detection symmetric
    * Jaccard (q72) structurally CANNOT make: a short document quoted or
    * embedded inside a long one has n_inter/|A| ≈ 1 while
    * n_inter/|A∪B| ≈ |A|/|B| ≈ 0 — quotes, page-in-page boilerplate,
    * and excerpt-of-article relations all live below any usable Jaccard
    * threshold. Both directions are tested independently (mutual
    * containment ⇒ two rows, degenerating to exact-dup territory).
    *
    * Scale shape: identical to q72 — the same DF-gated shingle universe
    * and the same bounded sh-keyed self-join; only the denominator and
    * threshold differ, so the containment scan grows as q72 does. The
    * ratio divides two exact ints and both engines evaluate the
    * identical expression. */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame =
    containmentPairsOf(Tables.documents(spark, dir))

  /** DataFrame-level core (constructed corpora pin the quote-in-article
    * asymmetry the fixture may not exhibit). */
  private[graft] def containmentPairsOf(docs: DataFrame): DataFrame = {
    val sh = gatedShingles(docs.select(col("doc_id"), col("text")),
      MaxShingleDF, SharedShingleScope)
    val sizes = gatedSizes(sh)
    val sized = withSizes(pairIntersections(sh), sizes, sizes)
    // both directions from ONE pass over the pair pipeline (a Union of
    // two projections would re-execute the whole intersection subtree —
    // only the cached shingle scan gets reused)
    def dirStruct(contained: Column, container: Column, denom: Column) =
      struct(contained.as("contained_doc"), container.as("container_doc"),
        col("n_inter"),
        round(col("n_inter").cast(DoubleType) / denom, 6).as("containment"))
    sized.select(explode(array(
        dirStruct(col("doc_a"), col("doc_b"), col("n_a")),
        dirStruct(col("doc_b"), col("doc_a"), col("n_b")))).as("r"))
      .select(col("r.contained_doc").as("contained_doc"),
        col("r.container_doc").as("container_doc"),
        col("r.n_inter").as("n_inter"), col("r.containment").as("containment"))
      .filter(col("containment") >= ContainmentThreshold)
      .orderBy(col("contained_doc"), col("container_doc"))
  }

  private val containmentPairsSql =
    s"""$gatedShinglesSqlCte,
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |sized AS (SELECT doc_a, doc_b, n_inter, x.n AS n_a, y.n AS n_b
      |          FROM inter
      |          JOIN sz x ON doc_a = x.doc_id
      |          JOIN sz y ON doc_b = y.doc_id)
      |SELECT contained_doc, container_doc, n_inter, containment FROM (
      |  SELECT doc_a AS contained_doc, doc_b AS container_doc, n_inter,
      |    ROUND(CAST(n_inter AS DOUBLE) / n_a, 6) AS containment
      |  FROM sized
      |  UNION ALL
      |  SELECT doc_b, doc_a, n_inter,
      |    ROUND(CAST(n_inter AS DOUBLE) / n_b, 6)
      |  FROM sized) t
      |WHERE containment >= $ContainmentThreshold
      |ORDER BY contained_doc NULLS FIRST, container_doc NULLS FIRST""".stripMargin

  // ---- near-dup cluster resolution + purge -------------------------------

  /** Connected components over an undirected near-dup pair graph: the
    * stage between candidate pairs (q72-q75) and an actually deduplicated
    * corpus. Labels converge to the component-minimum doc_id via min-label
    * propagation accelerated with pointer jumping — each iteration both
    * pulls the minimum over graph neighbors AND rewrites label(n) to
    * label(label(n)), so label information travels exponentially fast and
    * a duplicate CHAIN of length n (doc i ~ doc i+1, the worst case for
    * plain propagation) resolves in O(log n) iterations instead of O(n)
    * (hash-to-min family; Rastogi et al., "Finding Connected Components
    * in Map-Reduce in Logarithmic Rounds", ICDE 2013).
    *
    * DataFrame-only: per iteration two equi-joins + one min-aggregate,
    * all on the (node, label) table — at 100 TB these shuffle on node id
    * like any keyed aggregate, and the iteration count stays logarithmic
    * in the largest cluster. Each iteration truncates the label table's
    * lineage through
    * [[graft.functions.ScopedCache.iterate]] (a reliable checkpoint on a
    * cluster with a checkpoint dir); convergence is detected when the
    * label sum — monotonically non-increasing because labels only ever
    * take `least` — stops changing, and a bounded iteration count with a
    * `require` turns a non-converging run into a loud failure instead of
    * a silent wrong answer.
    *
    * Returns (labels, iterations): labels = one (node, label) row per doc
    * that appears in ≥1 pair, label = min doc_id of its component. */
  /** Convergence witness: sum of labels, in DecimalType(38,0) so the sum
    * cannot overflow Long even at 1e10 nodes x 1e10-sized doc ids (ANSI
    * mode would turn that overflow into a query-killing exception). Null
    * = empty label table. */
  private def labelSum(labels: DataFrame): java.math.BigDecimal =
    labels.agg(sum(col("label").cast(DecimalType(38, 0)))).first().getDecimal(0)

  /** Edge-count bound under which the component computation runs as a
    * driver-side union-find instead of the iterative propagation: 10⁵
    * edges collect to ~3 MB — the same budget class as a broadcast
    * table — while the distributed loop costs ~2 Spark jobs PER ROUND
    * regardless of size, which dominates wall-clock for small graphs
    * (the common case after Jaccard thresholding: a 241-pair graph took
    * 4.3 s through the loop, all scheduler overhead). The
    * decision is made at runtime from the materialized edge count —
    * the same count-then-choose posture as AQE's broadcast decision —
    * so a 100 TB pair graph takes the O(log n) propagation unchanged. */
  val SmallEdgeCutoff = 100000L

  def clusterLabels(pairs: DataFrame, maxIters: Int = 25,
      smallCutoff: Long = SmallEdgeCutoff): (DataFrame, Int) = {
    // bidirect with a per-row explode, NOT a union of two projections: a
    // union carries the pair-producing subtree TWICE, and the pair
    // pipeline above this (shingle self-join + aggregate) is the most
    // expensive stage of q77/q78/q85 — evaluating it once halves the
    // edge-materialization job.
    // The edge table is a columnar persist + count (one job) for the
    // size decision and the union-find branch, where truncation buys
    // nothing (two references, no loop); only the >cutoff propagation
    // loop, which re-plans against the edge table every round, truncates
    // it, reading off the already-materialized cache.
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("u"), col("doc_b").as("v")),
        struct(col("doc_b").as("u"), col("doc_a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .persist()
    try {
      // materializes the edge cache in one job; the loop's first
      // convergence action previously paid the same materialization
      val nEdges = edges.count()
      if (nEdges <= smallCutoff) return (unionFindLabels(edges), 0)
      val ce = graft.functions.ScopedCache.truncate(edges, eager = true)
      try {
        // init = one propagation step folded in: label(n) = min(n, neighbors)
        // (every node appears as `u` because edges are bidirected).
        // Lazy truncation throughout: each generation's label-sum action
        // both materializes it and truncates its lineage in ONE job (an
        // eager truncation would spend a second job per round).
        val init = graft.functions.ScopedCache.truncate(ce.groupBy(col("u"))
          .agg(min(col("v")).as("nbr_min"))
          .select(col("u").as("node"), least(col("u"), col("nbr_min")).as("label")),
          eager = false)
        var prevSum = try labelSum(init)
          catch { case t: Throwable => graft.functions.ScopedCache.releaseCheckpoint(init); throw t }
        if (prevSum == null) return (init, 0)
        var converged = false
        val (labels, iters) = graft.functions.ScopedCache.iterate("dedup.labels", init, maxIters,
            eager = false)({ cur =>
          val nbrMin = ce
            .join(cur.select(col("node").as("v"), col("label").as("vl")), "v")
            .groupBy(col("u")).agg(min(col("vl")).as("nbr_min"))
            .select(col("u").as("node"), col("nbr_min"))
          val l1 = cur.join(nbrMin, Seq("node"), "left")
            .select(col("node"),
              least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"))
          // pointer jump: label(n) <- min(label(n), label(label(n))). Every
          // label value is a node id (init = node ids, updates = mins of
          // labels), so the inner self-join is total.
          val jump = l1.select(col("node").as("jnode"), col("label").as("jlabel"))
          Some(l1.join(jump, l1("label") === jump("jnode"))
            .select(col("node"), least(col("label"), col("jlabel")).as("label")))
        }, { next =>
          val s = labelSum(next)
          converged = s.compareTo(prevSum) == 0
          prevSum = s
          converged
        })
        if (!converged) graft.functions.ScopedCache.releaseCheckpoint(labels)
        require(converged,
          s"near-dup label propagation did not converge in $maxIters iterations")
        (labels, iters)
      } finally graft.functions.ScopedCache.releaseCheckpoint(ce)
    } finally edges.unpersist(blocking = false)
  }

  /** Driver-side min-label connected components for a small (≤
    * [[SmallEdgeCutoff]]) edge set: classic union-find with path
    * compression, then one pass assigning every node its component's
    * minimum id — bit-identical output to the distributed propagation
    * ((node, label) for every node in ≥1 pair, label = component min). */
  private def unionFindLabels(edges: DataFrame): DataFrame = {
    val session = edges.sparkSession
    import session.implicits._
    // collect one direction only (the input is bidirected)
    val es = edges.filter(col("u") < col("v"))
      .as[(Long, Long)].collect()
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    es.foreach { case (u, v) =>
      parent.putIfAbsent(u, u); parent.putIfAbsent(v, v)
      val (ru, rv) = (find(u), find(v))
      // union by MIN root: the root is then always the component minimum
      if (ru < rv) parent.put(rv, ru) else if (rv < ru) parent.put(ru, rv)
    }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
    parent.keySet.forEach(n => out += ((n, find(n))))
    out.toSeq.toDF("node", "label")
  }

  /** Pairs → (cluster_id, doc_id, cluster_size) rows, cluster_id = min
    * doc_id of the connected component. */
  def clustersOfPairs(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    val (labels, _) = clusterLabels(pairs, maxIters)
    clustersOfLabels(labels)
  }

  /** Presentation tail labels → (cluster_id, doc_id, cluster_size) —
    * shared by the direct core above and the artifact-backed q77, so the
    * output shape cannot drift between them. The window partition is one
    * CLUSTER (bounded by the largest duplicate group), never the corpus. */
  private def clustersOfLabels(labels: DataFrame): DataFrame =
    labels.select(col("label").as("cluster_id"), col("node").as("doc_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .orderBy(col("cluster_id"), col("doc_id"))

  /** q77: near-dup cluster resolution — q72's thresholded Jaccard pairs
    * resolved into duplicate clusters (transitive closure), the
    * keep-one-per-identity compaction semantics of the reference
    * (kafka/README.md:27,:433-434) lifted from key identity to content
    * identity. Oracle: DuckDB `WITH RECURSIVE` reachability over the
    * identical pair set.
    *
    * Admits against the persisted near-dup artifact (q129's raw-corpus
    * label table; built on demand if absent, signature-validated), so a
    * session that already built the artifact answers from a parquet scan
    * + per-cluster window instead of re-paying the cache-cold pair
    * pipeline. [[neardupClustersOf]] remains the direct composed form;
    * DedupSpec pins the two bit-equal. */
  def neardupClusters(spark: SparkSession, dir: String): DataFrame = {
    val base = ensureNeardupArtifact(spark, dir)
    clustersOfLabels(spark.read.parquet(s"$base/doc_labels"))
  }

  /** DataFrame-level core (testable on constructed corpora). */
  def neardupClustersOf(docs: DataFrame): DataFrame =
    clustersOfPairs(jaccardPairsUnsorted(docs).select(col("doc_a"), col("doc_b")))

  /** Oracle CTEs pairs → components: bidirected edges, recursive label
    * reachability, MIN per node. `reach` is O(cluster_size²) rows — fine
    * at oracle (fixture) scale; the Spark side uses the O(log n)
    * propagation instead. */
  private[operators] val clusterCtes =
    """edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach AS (
      |  SELECT DISTINCT u AS node, u AS lbl FROM edges
      |  UNION
      |  SELECT e.v AS node, r.lbl FROM reach r JOIN edges e ON e.u = r.node),
      |cc AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node)""".stripMargin

  private val neardupClustersSql =
    s"""WITH RECURSIVE ${gatedShinglesCtes("documents")},
      |$jaccardPairsCtes,
      |$clusterCtes
      |SELECT cluster_id, doc_id,
      |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
      |FROM cc
      |ORDER BY cluster_id NULLS FIRST, doc_id NULLS FIRST""".stripMargin

  // ---- duplicate-aware training weights (soft dedup) ---------------------

  /** q178: duplicate-aware sampling weights — the REWEIGHT alternative to
    * hard removal (q78): every raw document stays in the corpus but
    * carries weight 1/|dedup group|, so each content identity contributes
    * one document's worth of gradient regardless of how many times it was
    * crawled ("soft dedup": train-time downweighting instead of purge,
    * the knob pipelines reach for when near-dup clusters mix distinct
    * extractions they don't want to lose outright). The dedup group is
    * the raw-corpus near-dup cluster (q77's universe — exact copies AND
    * thresholded-Jaccard neighbors share a group); unclustered docs form
    * singleton groups with weight 1.
    *
    * Scale shape: admits against the persisted near-dup artifact's
    * raw-label table (one parquet scan; built on demand, signature-
    * validated — q77's pattern), one doc_id LEFT equi-join against the
    * corpus projected to (doc_id, source), a group-count aggregate
    * bounded by the number of groups, and a group-keyed equi-join back.
    * No text through any exchange, no window over the corpus. The weight
    * is a single int/int division per row — no double aggregation
    * anywhere, so the output hashes identically across engines. */
  def softDedupWeights(spark: SparkSession, dir: String): DataFrame = {
    val base = ensureNeardupArtifact(spark, dir)
    softDedupWeightsOf(Tables.documents(spark, dir),
      spark.read.parquet(s"$base/doc_labels"))
  }

  /** DataFrame-level core (constructed corpora pin the singleton /
    * exact-copy / near-dup-cluster weight arithmetic). */
  private[graft] def softDedupWeightsOf(docs: DataFrame,
      docLabels: DataFrame): DataFrame = {
    val grp = docs.select(col("doc_id"), col("source"))
      .join(docLabels.select(col("node").as("doc_id"), col("label")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("label"), col("doc_id")).as("dedup_group"))
    val cnt = grp.groupBy(col("dedup_group"))
      .agg(count(lit(1)).as("dup_count"))
    grp.join(cnt, Seq("dedup_group"))
      .select(col("doc_id"), col("source"), col("dedup_group"),
        col("dup_count"),
        round(lit(1).cast(DoubleType) / col("dup_count"), 6).as("weight"))
      .orderBy(col("doc_id"))
  }

  private val softDedupWeightsSql =
    s"""WITH RECURSIVE ${gatedShinglesCtes("documents")},
      |$jaccardPairsCtes,
      |$clusterCtes,
      |grp AS (SELECT d.doc_id, d.source,
      |          COALESCE(cc.cluster_id, d.doc_id) AS dedup_group
      |        FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id),
      |cnt AS (SELECT dedup_group, COUNT(*) AS dup_count
      |        FROM grp GROUP BY 1)
      |SELECT g.doc_id, g.source, g.dedup_group,
      |  CAST(c.dup_count AS BIGINT) AS dup_count,
      |  ROUND(CAST(1 AS DOUBLE) / c.dup_count, 6) AS weight
      |FROM grp g JOIN cnt c ON g.dedup_group = c.dedup_group
      |ORDER BY g.doc_id NULLS FIRST""".stripMargin

  // ---- quality-aware canonical selection ---------------------------------

  /** q155: canonical-document selection per near-dup cluster — the
    * "which copy do we KEEP" policy upgrade over q78's min-id rule. The
    * q77 cluster table joins to the q63 quality scores and each cluster
    * keeps its highest-quality member (doc_id ascending on ties, so the
    * choice is total and deterministic). This is the curation rule real
    * pipelines apply after near-dup clustering: a mirrored page's best
    * extraction survives instead of whichever copy was crawled first.
    *
    * Scale shape: the cluster table covers only the near-dup SUBSET of
    * the corpus (docs in ≥1 pair); the quality join is a doc_id
    * equi-join (AQE-decided, never hinted — both sides can be O(corpus)
    * in the worst case); the per-cluster argmax is a rank-1 window that
    * [[graft.plans.RewriteWindowTopK]] plans as GroupTopK k=1 bounded
    * heaps — constant state per cluster, no per-partition sort. */
  def canonicalPerCluster(spark: SparkSession, dir: String): DataFrame = {
    val clusters = neardupClusters(spark, dir)
    val quality = TextOps.qualityScores(spark, dir).select(col("doc_id"), col("quality"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("doc_id"))
    clusters.join(quality, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("canonical_doc"),
        round(col("quality"), 6).as("best_quality"), col("cluster_size"))
      .orderBy(col("cluster_id"))
  }

  private val canonicalPerClusterSql =
    s"""WITH RECURSIVE ${gatedShinglesCtes("documents")},
      |$jaccardPairsCtes,
      |$clusterCtes,
      |clus AS (SELECT cluster_id, doc_id,
      |           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
      |         FROM cc),
      |quality AS (${TextOps.qualityCoreSql}),
      |ranked AS (
      |  SELECT c.cluster_id, c.doc_id, c.cluster_size, q.quality,
      |    ROW_NUMBER() OVER (PARTITION BY c.cluster_id
      |                       ORDER BY q.quality DESC NULLS LAST, c.doc_id NULLS FIRST) AS rn
      |  FROM clus c JOIN quality q USING (doc_id))
      |SELECT cluster_id, doc_id AS canonical_doc,
      |  ROUND(quality, 6) AS best_quality, cluster_size
      |FROM ranked WHERE rn = 1
      |ORDER BY cluster_id NULLS FIRST""".stripMargin

  /** q78: the full dedup purge decision — exact keep-first pass, then
    * near-dup cluster resolution over the exact survivors, then
    * per-source accounting of what a purge would drop vs keep. This is
    * the operator a user actually runs to deduplicate a corpus with the
    * fuzzy path (q66/q71 are the exact-only analogs). */
  def dedupPurge(spark: SparkSession, dir: String): DataFrame = {
    // admit against the persisted artifact (built on demand, signature-
    // validated): the expensive front half — survivors, pairs, labels —
    // becomes two tiny parquet scans; only the per-source accounting
    // (one cheap docs pass) runs in-plan. DedupSpec pins this bit-equal
    // to the direct core [[dedupPurgeOf]].
    val base = ensureNeardupArtifact(spark, dir)
    purgeAccounting(Tables.documents(spark, dir),
      spark.read.parquet(s"$base/survivors"),
      ndDropsOf(spark.read.parquet(s"$base/surv_labels")))
  }

  /** Shared core of the fuzzy-dedup pipeline (q78 accounting / q85
    * corpus emitter): exact keep-first survivors — carrying every
    * non-text column through `min_by` — and the near-dup drop set from
    * cluster resolution over the survivor corpus. ONE cache scope pair
    * for both callers (same plan; two scopes would make the second
    * persist a no-op); the near-dup stage shingles the SURVIVOR corpus,
    * so it does not share the fixture-documents shingle scope. */
  /** Exact keep-first survivors, carrying every non-text column through
    * `min_by` — the first pass of the fuzzy pipeline, shared by the
    * direct cores and the artifact build. Scope-cached: referenced by
    * the shingle pipeline, the exact-drop anti-join, and the near-dup
    * drop join. The grouping key `tkey` (32-byte content key) rides
    * along in the output: it is already computed by this aggregate, and
    * carrying it lets every downstream content-identity join
    * ([[rawLabelsViaSurvivors]]' duplicate-group membership) reuse it
    * instead of re-hashing the survivor corpus's text per consumer. */
  private[graft] def exactSurvivors(docs: DataFrame): DataFrame = {
    val carry = docs.columns.filter(_ != "text").map(col)
    // keyed on the 32-byte content key; text rides as min_by payload only
    // because the survivor corpus emits it (it feeds the shingle stage)
    graft.functions.ScopedCache.persist("dedup.purge.survivors",
      docs.groupBy(contentKey(col("text")).as("tkey"))
        .agg(min_by(struct((carry :+ col("text")): _*), col("doc_id")).as("keep"),
          count(lit(1)).as("gsz"))
        .select(col("keep.*"), col("tkey"), col("gsz")))
  }

  /** labels → the doc_ids a purge drops (every node that is not its own
    * component minimum). */
  private[operators] def ndDropsOf(labels: DataFrame): DataFrame =
    labels.filter(col("node") =!= col("label"))
      .select(col("node").as("doc_id"))

  private def fuzzyPurgeParts(docs: DataFrame): (DataFrame, DataFrame) = {
    val survivors = exactSurvivors(docs)
    val pairs = jaccardPairsUnsorted(
        survivors.select(col("doc_id"), col("text")), scope = "dedup.purge.shingles")
      .select(col("doc_a"), col("doc_b"))
    val (labels, _) = clusterLabels(pairs)
    (survivors, ndDropsOf(labels))
  }

  /** Per-source accounting tail (q78's shape), shared by the direct core
    * and the artifact-backed form. `survivors` needs only (doc_id,
    * source) here, so both the cached-with-text and the persisted
    * metadata-only table satisfy it. */
  private def purgeAccounting(docs: DataFrame, survivors: DataFrame,
      ndDrops: DataFrame): DataFrame = {
    val tot = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val ex = docs.join(survivors.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .groupBy(col("source")).agg(count(lit(1)).as("n_dropped_exact"))
    val nd = survivors.join(ndDrops, Seq("doc_id"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_dropped_neardup"))
    tot.join(ex, Seq("source"), "left").join(nd, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_dropped_exact"), lit(0L)).as("n_dropped_exact"),
        coalesce(col("n_dropped_neardup"), lit(0L)).as("n_dropped_neardup"))
      .withColumn("n_kept",
        col("n_docs") - col("n_dropped_exact") - col("n_dropped_neardup"))
      .orderBy(col("source"))
  }

  /** DataFrame-level core. */
  def dedupPurgeOf(docs: DataFrame): DataFrame = {
    val (survivors, ndDrops) = fuzzyPurgeParts(docs)
    purgeAccounting(docs, survivors, ndDrops)
  }

  private val dedupPurgeSql =
    s"""WITH RECURSIVE keep AS (
      |  SELECT doc_id, text, source,
      |    ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id NULLS FIRST) AS rn
      |  FROM documents),
      |sv AS (SELECT doc_id, text, source FROM keep WHERE rn = 1),
      |${gatedShinglesCtes("sv")},
      |$jaccardPairsCtes,
      |$clusterCtes,
      |nd AS (SELECT s.source, COUNT(*) AS n_dropped_neardup
      |       FROM sv s JOIN cc ON s.doc_id = cc.doc_id AND cc.doc_id <> cc.cluster_id
      |       GROUP BY 1),
      |ex AS (SELECT d.source, COUNT(*) AS n_dropped_exact FROM documents d
      |       WHERE NOT EXISTS (SELECT 1 FROM sv WHERE sv.doc_id = d.doc_id)
      |       GROUP BY 1),
      |tot AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1)
      |SELECT t.source, t.n_docs,
      |  CAST(COALESCE(ex.n_dropped_exact, 0) AS BIGINT) AS n_dropped_exact,
      |  CAST(COALESCE(nd.n_dropped_neardup, 0) AS BIGINT) AS n_dropped_neardup,
      |  t.n_docs - CAST(COALESCE(ex.n_dropped_exact, 0) AS BIGINT)
      |           - CAST(COALESCE(nd.n_dropped_neardup, 0) AS BIGINT) AS n_kept
      |FROM tot t
      |LEFT JOIN ex ON t.source = ex.source
      |LEFT JOIN nd ON t.source = nd.source
      |ORDER BY t.source NULLS FIRST""".stripMargin

  /** q85: the fuzzy-deduplicated corpus ITSELF — the rows a user
    * actually keeps after the full pipeline (exact keep-first, then one
    * survivor per near-dup cluster). q78 is the accounting twin; this
    * emits the corpus, which is what "switch your dedup job to this
    * library" ultimately means. Text is projected out of the result
    * (identity travels as doc_id + metadata); at 100 TB the kept rows
    * would be written back as parquet keyed however the training job
    * shards. */
  def fuzzyDedupCorpus(spark: SparkSession, dir: String): DataFrame = {
    // artifact-backed like q78: survivors anti-join near-dup drops, both
    // read from q129's persisted tables (built on demand if absent)
    val base = ensureNeardupArtifact(spark, dir)
    keptCorpus(spark.read.parquet(s"$base/survivors"),
      ndDropsOf(spark.read.parquet(s"$base/surv_labels")))
  }

  /** Kept-corpus tail: survivors minus near-dup drops, metadata columns
    * only. Shared by the direct core and the artifact-backed form. */
  private def keptCorpus(survivors: DataFrame, ndDrops: DataFrame): DataFrame =
    survivors.join(ndDrops, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** DataFrame-level core: expects documents columns
    * (doc_id, text, lang, source, n_chars). */
  def fuzzyDedupCorpusOf(docs: DataFrame): DataFrame = {
    val (survivors, ndDrops) = fuzzyPurgeParts(docs)
    keptCorpus(survivors, ndDrops)
  }

  private val fuzzyDedupCorpusSql =
    s"""WITH RECURSIVE keep AS (
      |  SELECT doc_id, text, lang, source, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id NULLS FIRST) AS rn
      |  FROM documents),
      |sv AS (SELECT doc_id, text, lang, source, n_chars FROM keep WHERE rn = 1),
      |${gatedShinglesCtes("sv")},
      |$jaccardPairsCtes,
      |$clusterCtes
      |SELECT s.doc_id, s.lang, s.source, s.n_chars
      |FROM sv s
      |WHERE NOT EXISTS (SELECT 1 FROM cc
      |                  WHERE cc.doc_id = s.doc_id AND cc.doc_id <> cc.cluster_id)
      |ORDER BY s.doc_id NULLS FIRST""".stripMargin

  /** q159: the deduplicated corpus under the QUALITY-canonical policy —
    * q85's emitter with q155's selection rule applied: each near-dup
    * cluster keeps its highest-quality member (doc_id-asc tie-break)
    * instead of the min-id representative; unclustered survivors pass
    * through unchanged. Selection runs in exact-survivor space (exact
    * duplicates share identical text, hence identical quality, so
    * collapsing them first loses nothing — and keep-first already broke
    * their tie at min doc_id, matching the canonical tie rule).
    *
    * Scale shape = q85's (artifact-scan + anti-join) plus the q155
    * argmax: the drop set is `cluster members − canonicals`, one
    * GroupTopK k=1 per cluster over the quality join, then the same
    * doc_id anti-join. */
  def canonicalDedupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val base = ensureNeardupArtifact(spark, dir)
    val survivors = spark.read.parquet(s"$base/survivors")
    val members = spark.read.parquet(s"$base/surv_labels")
      .select(col("label").as("cluster_id"), col("node").as("doc_id"))
    val quality = TextOps.qualityScores(spark, dir).select(col("doc_id"), col("quality"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("doc_id"))
    val canon = members.join(quality, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"))
    val drops = members.select(col("doc_id")).join(canon, Seq("doc_id"), "left_anti")
    keptCorpus(survivors, drops)
  }

  private val canonicalDedupCorpusSql =
    s"""WITH RECURSIVE keep AS (
      |  SELECT doc_id, text, lang, source, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id NULLS FIRST) AS rn
      |  FROM documents),
      |sv AS (SELECT doc_id, text, lang, source, n_chars FROM keep WHERE rn = 1),
      |${gatedShinglesCtes("sv")},
      |$jaccardPairsCtes,
      |$clusterCtes,
      |quality AS (${TextOps.qualityCoreSql}),
      |ranked AS (
      |  SELECT c.doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY c.cluster_id
      |                       ORDER BY q.quality DESC NULLS LAST, c.doc_id NULLS FIRST) AS crn
      |  FROM cc c JOIN quality q USING (doc_id)),
      |drops AS (SELECT doc_id FROM ranked WHERE crn > 1)
      |SELECT s.doc_id, s.lang, s.source, s.n_chars
      |FROM sv s
      |WHERE NOT EXISTS (SELECT 1 FROM drops d WHERE d.doc_id = s.doc_id)
      |ORDER BY s.doc_id NULLS FIRST""".stripMargin

  // ---- persisted near-dup artifact: build once, admit many ---------------

  /** Tables the near-dup artifact persists: `survivors` (exact keep-first
    * corpus, metadata + 32-byte content key — text stays in the fixture),
    * `surv_shingles` (the DF-gated (doc_id, sh) universe over the
    * survivors — the single most expensive derived stage, persisted so
    * the pair stage, the raw-label derivation, and any admission-time
    * consumer scan parquet instead of re-paying the explode + gate),
    * `surv_pairs` (thresholded Jaccard pairs over the survivors),
    * `surv_labels` (the survivors' cluster labels, q78/q85's drop set),
    * and `doc_labels` (cluster labels over the RAW corpus — q77's
    * universe, genuinely distinct because its DF gate counts exact
    * duplicates). */
  private val NeardupTables =
    Seq("survivors", "surv_shingles", "surv_pairs", "surv_labels", "doc_labels")

  /** The build body: the fuzzy-dedup front half, once. Pairs are written
    * FIRST and the label propagation reads them BACK from parquet, so
    * the O(log n) iterative joins carry a tiny pair scan instead of the
    * whole shingle self-join lineage. The raw-corpus label table is
    * DERIVED from the survivor universe ([[rawLabelsViaSurvivors]])
    * rather than re-running the shingle self-join and the O(log n)
    * clustering over the raw corpus. */
  private def writeNeardupArtifact(spark: SparkSession, dir: String,
      base: String): Unit =
    writeNeardupArtifactOf(Tables.documents(spark, dir), base)

  /** DataFrame-level build body: it takes the corpus, not a fixture dir,
    * so a replicated corpus measures build-cost growth through the exact
    * stages the q129 build runs.
    *
    * The DF-gated shingle universe is written ONCE as `surv_shingles`
    * ([[dfGate]]'s rows: sh, doc_id, df), and every later stage (pair
    * self-join, raw-label gate probe) scans that compact parquet instead
    * of re-running the explode + DF gate or pinning the explode's output
    * in executor memory. Each row carries its shingle's survivor df, so
    * [[rawLabelsViaSurvivors]]' crossing probe reads df off its
    * candidate rows instead of re-aggregating the universe; a consumer
    * that only wants (doc_id, sh) prunes the column at the scan. */
  private[graft] def writeNeardupArtifactOf(docs: DataFrame, base: String): Unit = {
    val spark = docs.sparkSession
    val survivors = exactSurvivors(docs)
    def write(df: DataFrame, table: String): Unit =
      df.write.mode("overwrite").parquet(s"$base/$table")
    // the shingle stage and the metadata table are independent jobs over
    // the survivor cache: overlapped, the scheduler interleaves their
    // stages and the BlockManager's per-block locking dedupes the cache's
    // first materialization between them
    graft.functions.Concurrent.runAll(
      () => write(dfGate(shingleRows(survivors.select(col("doc_id"), col("text"))))._1,
        "surv_shingles"),
      () => write(survivors.drop("text"), "survivors"))
    val gatedSurv = spark.read.parquet(s"$base/surv_shingles")
    // the label stage's duplicate-gate prefix reads the corpus, the
    // survivor cache and the shingle table, nothing from pairs or labels,
    // so it overlaps the pair self-join and the label propagation, and
    // rawLabelsViaSurvivors then reuses its warm cache blocks
    graft.functions.Concurrent.runAll(
      () => prefetchRawGate(docs, survivors, gatedSurv),
      () => {
        write(jaccardPairsFromGated(gatedSurv.select(col("doc_id"), col("sh"))),
          "surv_pairs")
        write(clusterLabels(spark.read.parquet(s"$base/surv_pairs")
          .select(col("doc_a"), col("doc_b")))._1, "surv_labels")
      })
    write(rawLabelsViaSurvivors(docs, survivors,
      spark.read.parquet(s"$base/surv_labels"), gatedSurv), "doc_labels")
  }

  /** Raw-corpus cluster labels WITHOUT a second pair pipeline over the
    * raw corpus. Exact duplicates have identical text, hence identical
    * shingle sets, so the raw pair graph is the survivor-level graph
    * blown up by the exact-duplicate groups:
    *
    *   - the raw DF gate is computable on survivor shingles: a shingle's
    *     raw document frequency is the sum of its survivor docs' GROUP
    *     SIZES (each duplicate copy counts) — same gate universe as
    *     shingling the raw corpus, minus the duplicated explode;
    *   - survivor-level pairs under that raw gate ARE the raw pairs
    *     between distinct texts (identical jaccard arithmetic);
    *   - within a group of k exact duplicates with ≥1 ungated shingle,
    *     any two members share their whole shingle set (jaccard 1 ≥ t):
    *     an intra-group clique, so each member takes its representative's
    *     component label — no k² pair rows needed;
    *   - a doc whose group has NO ungated shingle appears in no raw pair
    *     and so (matching clusterLabels' domain) gets no label row.
    *
    * Component minima agree because each representative IS its group's
    * minimum doc_id (exactSurvivors keeps min_by doc_id), so the minimum
    * over a raw component equals the minimum over its representatives.
    * SemanticsSpec pins the artifact bit-equal to the direct raw-corpus
    * core; the q77 oracle independently recomputes the clusters from
    * `documents` alone.
    *
    * This is also the scale-correct shape: shingling the raw corpus
    * materializes k copies of every duplicated document's shingle rows
    * (and k² intra-group pair rows in the self-join), while this path
    * self-joins only survivor-level rows, with group sizes carrying the
    * multiplicity as weights.
    *
    * The two gate universes differ only on shingles whose weighted (raw)
    * DF crosses the cap their unweighted (survivor) DF stays under, and a
    * shingle's DFs differ only if it occurs in a DUPLICATED document
    * (df_raw = df_surv + Σ over dup groups holding it of gsz−1). So the
    * crossing set comes from the duplicated reps' rows of `gatedSurv`
    * alone — work proportional to the corpus's DUPLICATION, not its size
    * — and the raw universe is `gatedSurv` minus the crossing shingles
    * (a shingle the survivor gate already removed has df_raw ≥ df_surv >
    * MaxShingleDF: gated in both). If nothing crosses (always true with
    * no exact duplicates), the raw pair graph among representatives IS
    * the survivor pair graph: `surv_labels` serve as the representative
    * labels, the duplicate groups get their clique blow-up, and the
    * second pair pipeline and O(log n) propagation are skipped.
    *
    * `gatedSurv` is the DF-gated survivor universe with per-row survivor
    * df ([[dfGate]]'s rows; the build passes its `surv_shingles`). */
  private[graft] def rawLabelsViaSurvivors(docs: DataFrame, survivors: DataFrame,
      survLabels: DataFrame, gatedSurv: DataFrame): DataFrame = {
    // no exact duplicates at all -> the raw corpus IS the survivor
    // corpus: identical gate, identical pairs, identical labels
    if (!hasDupGroups(survivors))
      return survLabels.select(col("node"), col("label"))
    val (dupReps, memberOf, cand) = rawGatePrefix(docs, survivors, gatedSurv)
    // df rides on every candidate row (all rows of one sh share it)
    val crossing = cand.groupBy(col("sh"))
      .agg(sum(col("gsz") - 1).as("extra"), first(col("df")).as("df_surv"))
      .filter(col("df_surv") + col("extra") > MaxShingleDF)
      .select(col("sh"))
    if (crossing.limit(1).count() == 0) {
      // identical gates -> identical pairs -> the survivor labels ARE
      // the representative labels; only duplicate groups need rows the
      // survivor label table doesn't already have
      val dupN = cand.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val repLabel = dupReps.select(col("rep").as("doc_id"))
        .join(survLabels.select(col("node").as("doc_id"), col("label")),
          Seq("doc_id"), "left")
        .join(dupN, Seq("doc_id"), "left")
        // a label row exists for every group member iff the rep is in a
        // survivor-level pair OR the group cliques on >= 1 gated shingle
        .filter(col("label").isNotNull || col("n").isNotNull)
        .select(col("doc_id").as("rep"),
          coalesce(col("label"), col("doc_id")).as("label"))
      // group members = the non-reps plus each group's rep itself
      val dupMembers = memberOf
        .unionByName(dupReps.select(col("rep").as("doc_id"), col("rep")))
      val dupPart = dupMembers.join(repLabel, Seq("rep"))
        .select(col("doc_id").as("node"), col("label"))
      // reps of duplicate groups re-enter via dupPart with the same label
      survLabels.select(col("node"), col("label"))
        .join(dupReps.select(col("rep").as("node")), Seq("node"), "left_anti")
        .unionByName(dupPart)
    } else {
      // a shingle crosses the gate: re-cluster the representative graph
      // over the RAW (group-weighted) gate
      val members = docs.select(col("doc_id"), contentKey(col("text")).as("tkey"))
        .join(survivors.select(col("doc_id").as("rep"), col("tkey")),
          Seq("tkey"))
        .select(col("doc_id"), col("rep"))
      // referenced by the size aggregate, both sides of the self-join and
      // the representative roster
      val gated = graft.functions.ScopedCache.persist("dedup.rawgate.shingles",
        gatedSurv.select(col("doc_id"), col("sh")).join(crossing, Seq("sh"), "left_anti"))
      val labelsH = clusterLabels(
        jaccardPairsFromGated(gated).select(col("doc_a"), col("doc_b")))._1
      // label per representative: its component minimum, or itself when
      // its only raw pairs are the intra-group clique (k >= 2 exact
      // copies sharing >= 1 ungated shingle)
      val repLabel = gated.select(col("doc_id")).distinct()
        .join(labelsH.select(col("node").as("doc_id"), col("label")), Seq("doc_id"), "left")
        .join(survivors.select(col("doc_id"), col("gsz")), Seq("doc_id"))
        .filter(col("label").isNotNull || col("gsz") >= 2)
        .select(col("doc_id").as("rep"), coalesce(col("label"), col("doc_id")).as("label"))
      members.join(repLabel, Seq("rep"))
        .select(col("doc_id").as("node"), col("label"))
    }
  }

  /** True iff the corpus has ≥1 exact-duplicate group — read off the
    * cached survivor aggregate (exactSurvivors carries gsz from the SAME
    * groupBy that picked the representative), so the check never scans
    * the raw corpus. */
  private def hasDupGroups(survivors: DataFrame): Boolean =
    survivors.filter(col("gsz") >= 2).limit(1).count() > 0

  /** The duplicate-gate prefix of [[rawLabelsViaSurvivors]]: the member
    * map (non-representative → its group's rep) and the gated shingle
    * rows of duplicated reps. Both are ScopedCache'd, for two reasons:
    * `cand` is referenced by the crossing probe and again by either the
    * clique-size count or the re-gate, and the artifact BUILD prefetches
    * both concurrently with the pair self-join (they depend only on the
    * corpus, the survivor cache, and the written shingle table — never
    * on pairs or labels), so by the time the label stage runs, the
    * blocks are warm.
    *
    * memberOf: members of duplicate groups WITHOUT re-shuffling the
    * corpus by text — non-representatives fall out of an id anti-join
    * against the cached survivors (duplication-proportional output), and
    * their representative comes from one content-key join whose small
    * side AQE can broadcast (no hint: under heavy duplication the member
    * side is genuinely large and an honest shuffle is correct). The raw
    * side hashes its text ONCE here; the survivor side reuses the tkey
    * exactSurvivors already carries — no second sha2 scan of the
    * survivor corpus, and no document body in any exchange.
    *
    * cand: gated shingle rows of duplicated reps only (tiny:
    * duplication-proportional); a shingle not present here has
    * df_raw == df_surv, and a shingle the survivor gate already removed
    * has df_raw >= df_surv > MaxShingleDF — gated in both universes. */
  private def rawGatePrefix(docs: DataFrame, survivors: DataFrame,
      gatedSurv: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val dupReps = survivors.filter(col("gsz") >= 2)
      .select(col("doc_id").as("rep"), col("tkey"), col("gsz"))
    val nonRep = docs.select(col("doc_id"), contentKey(col("text")).as("tkey"))
      .join(survivors.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val memberOf = graft.functions.ScopedCache.persist("dedup.rawgate.members",
      nonRep.join(dupReps.select(col("rep"), col("tkey")), Seq("tkey"))
        .select(col("doc_id"), col("rep")))
    val cand = graft.functions.ScopedCache.persist("dedup.rawgate.cand",
      gatedSurv.join(dupReps.select(col("rep").as("doc_id"), col("gsz")),
        Seq("doc_id")))
    (dupReps, memberOf, cand)
  }

  /** Build-side overlap hook: materialize the [[rawGatePrefix]] caches
    * while the pair self-join runs. The prefix shares no input with the
    * pair and label stages, so its jobs interleave with theirs instead of
    * extending the critical path. Purely an optimization: a non-fatal
    * failure is swallowed, since the label stage recomputes the
    * identical plans and surfaces a real error itself; a fatal one
    * (OutOfMemoryError, LinkageError) propagates, so a dying JVM is
    * never masked. */
  private[operators] def prefetchRawGate(docs: DataFrame, survivors: DataFrame,
      gatedSurv: DataFrame): Unit =
    try {
      if (hasDupGroups(survivors)) {
        val (_, memberOf, cand) = rawGatePrefix(docs, survivors, gatedSurv)
        memberOf.count()
        cand.count()
        ()
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Test hook: the derived raw-corpus labels for a constructed corpus,
    * composing the same pieces as the artifact build (exact survivors →
    * DF-gated survivor universe → survivor pairs → survivor labels →
    * [[rawLabelsViaSurvivors]]), with no parquet in between.
    * SemanticsSpec pins it against the direct raw pipeline
    * (`clusterLabels(jaccardPairsUnsorted(docs))`) on corpora WITH exact
    * duplicates — including gate-crossing ones — which the fixture
    * (duplicate-free) cannot exercise. */
  private[graft] def rawLabelsOf(docs: DataFrame): DataFrame = {
    val survivors = exactSurvivors(docs)
    val (gatedSurv, _) = dfGate(shingleRows(survivors.select(col("doc_id"), col("text"))))
    val (sl, _) = clusterLabels(
      jaccardPairsFromGated(gatedSurv.select(col("doc_id"), col("sh")))
        .select(col("doc_a"), col("doc_b")))
    rawLabelsViaSurvivors(docs, survivors, sl, gatedSurv)
  }

  /** Build the artifact for `dir` unless a complete, signature-valid one
    * is already on disk. Whichever of q77/q78/q85/q129 runs first in a
    * session pays the build, deterministically producing the same
    * artifact; everyone after reads parquet. */
  def ensureNeardupArtifact(spark: SparkSession, dir: String): String =
    graft.sources.ArtifactStore.ensure("neardup", dir, NeardupTables)(
      base => writeNeardupArtifact(spark, dir, base))

  /** q129: near-dup pair/label build — runs the fuzzy-dedup front half
    * ONCE (exact keep-first survivors, DF-gated shingle Jaccard pairs,
    * O(log n) cluster labels, over both the survivor and the raw corpus)
    * and persists it as a signature-stamped artifact, so the consumers
    * (q77 clusters, q78 purge accounting, q85 corpus emitter) admit
    * against parquet reads instead of each re-paying the cache-cold pair
    * pipeline — the same build-once/admit-many split as q108/q109 and
    * q111/q112, applied to cluster resolution. Rebuild (not ensure):
    * the build operator's contract is "recompute and write NOW".
    *
    * The result is the survivor pair table read BACK from the written
    * files; the oracle recomputes it from the documents table alone, so
    * a green row certifies the on-disk pairs match an independent
    * engine's recomputation. */
  def neardupPairsBuild(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.sources.ArtifactStore.rebuild("neardup", dir, NeardupTables)(
      b => writeNeardupArtifact(spark, dir, b))
    spark.read.parquet(s"$base/surv_pairs")
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val neardupPairsBuildSql =
    s"""WITH keep AS (
      |  SELECT doc_id, text,
      |    ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id NULLS FIRST) AS rn
      |  FROM documents),
      |sv AS (SELECT doc_id, text FROM keep WHERE rn = 1),
      |${gatedShinglesCtes("sv")},
      |$jaccardPairsCtes
      |SELECT doc_a, doc_b, n_inter, jaccard FROM pairs
      |ORDER BY doc_a NULLS FIRST, doc_b NULLS FIRST""".stripMargin

  // ---- MinHash + LSH ----------------------------------------------------

  import graft.functions.MinHash.{Bands, NumHashes, RowsPerBand}
  import graft.functions.PolyHash

  /** Per-doc 64-slot MinHash signature via the custom
    * [[graft.functions.MinHashAgg]] TypedImperativeAggregate: one explode
    * + one hash aggregate whose buffer is the 64 running minima (map-side
    * combined; the shuffle carries one row per doc). Shingle bases come
    * from the ENGINE-PORTABLE polynomial family
    * ([[graft.functions.ShinglePolyHashes]]) — already in [0, p), and
    * recomputable by the DuckDB oracle — rather than the xxhash64
    * shingles the exact-Jaccard path uses. */
  private def signatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr("graft_shingles_poly(text)").as("shingles"))
      .filter(size(col("shingles")) >= 1)
      .select(col("doc_id"), explode(col("shingles")).as("base"))
      .groupBy(col("doc_id"))
      .agg(expr("graft_minhash(base)").as("sig"))

  /** MinHash+LSH near-dup pairs: band the signature (16 bands × 4 rows),
    * bucket-join on the band's SLOT TUPLE, then estimate Jaccard as the
    * fraction of agreeing hash slots. Every hash is the portable
    * polynomial family, and the band bucket key is the raw 4-slot tuple
    * (never an engine hash of it), so the DuckDB oracle replays the
    * whole pipeline — signatures, banding, hot-bucket gate, candidates,
    * estimates — exactly. */
  def minhashLshPairs(spark: SparkSession, dir: String): DataFrame =
    minhashLshPairsOf(Tables.documents(spark, dir))

  /** Shared LSH front half — portable signatures plus the banded,
    * hot-bucket-gated candidate pair set. Both stages ScopedCache'd:
    * q73's estimate filter and q179's estimate-error audit re-join the
    * signature table twice each, and the banding is identical between
    * them. Returns (signatures, candidate pairs). */
  private[graft] def lshCandidates(docs: DataFrame,
      maxBucket: Int = MaxBandBucket): (DataFrame, DataFrame) = {
    // referenced by banding + both signature-compare joins
    val sigs = graft.functions.ScopedCache.persist("q73.signatures", signatures(docs))
    val bandKey = Seq("band", "s0", "s1", "s2", "s3")
    val banded = graft.functions.ScopedCache.persist("q73.banded", sigs
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, ${Bands - 1}), j -> struct(
           |  j AS band,
           |  sig[$RowsPerBand*j] AS s0, sig[$RowsPerBand*j+1] AS s1,
           |  sig[$RowsPerBand*j+2] AS s2, sig[$RowsPerBand*j+3] AS s3))""".stripMargin)).as("b"))
      .select(col("doc_id") +: bandKey.map(k => col(s"b.$k").as(k)): _*))
    // hot list = only buckets over the cap — no broadcast hint; AQE
    // broadcasts at runtime when it is actually small
    val hot = banded.groupBy(bandKey.map(col): _*).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket).select(bandKey.map(col): _*)
    val gated = banded.join(hot, bandKey, "left_anti")
    val cand = gated.as("x").join(gated.as("y"), bandKey)
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    (sigs, cand)
  }

  /** DataFrame-level core (testable on constructed corpora). Band buckets
    * larger than maxBucket are dropped before the candidate self-join
    * (the standard LSH hot-bucket guard): a bucket of k docs emits k²
    * candidate rows, and a degenerate bucket (boilerplate/near-empty docs
    * hashing alike) would otherwise go quadratic. Near-dups in a dropped
    * bucket still have 15 other independent bands to collide in. */
  def minhashLshPairsOf(docs: DataFrame, maxBucket: Int = MaxBandBucket): DataFrame = {
    val (sigs, cand) = lshCandidates(docs, maxBucket)
    cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("est_jaccard",
        expr(s"size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))")
          .cast(DoubleType) / NumHashes)
      .filter(col("est_jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** DuckDB mirror of [[graft.functions.PolyHash.foldToken]]: LIST_REDUCE
    * over the word's code points (LEN/SUBSTR/UNICODE are code-point
    * based, as is the Scala fold), seeded by prepending the same sentinel
    * so empty words fold to the seed instead of erroring. */
  private[graft] def polyFoldSql(wordExpr: String, mult: Long): String =
    s"(LIST_REDUCE([CAST(${PolyHash.Seed} AS BIGINT)] || " +
      s"LIST_TRANSFORM(GENERATE_SERIES(1, LEN($wordExpr)), ci -> " +
      s"CAST(UNICODE(SUBSTR($wordExpr, ci, 1)) AS BIGINT)), " +
      s"(acc, c) -> (acc * $mult + c) % ${PolyHash.P}) " +
      s"* ${PolyHash.MixA} + ${PolyHash.MixB}) % ${PolyHash.P}"

  /** The 64 (a, b) MinHash coefficients interpolated as a VALUES list —
    * the constants are deterministic (fixed seed), so inlining them into
    * the oracle guarantees both engines run the identical hash family. */
  private val minhashCoefValues = (0 until NumHashes).map(i =>
    s"(${i}, ${graft.functions.MinHash.coeffA(i)}, ${graft.functions.MinHash.coeffB(i)})")
    .mkString(", ")

  /** Oracle CTEs through the LSH candidate set (portable signatures →
    * banding → hot-bucket gate → distinct candidate pairs) — shared
    * VERBATIM between q73's estimate filter and q179's estimate-error
    * audit, so the two oracles cannot diverge on the candidate
    * universe. */
  private[operators] val lshCandidateCtes =
    s"""toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
      |tht AS (SELECT doc_id,
      |  LIST_TRANSFORM(t, w -> ${polyFoldSql("w", PolyHash.M1)}) AS th,
      |  LEN(t) AS nt FROM toks),
      |shp AS (SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
      |    GENERATE_SERIES(1, nt - 2),
      |    i -> ((th[i] * ${PolyHash.M1} + th[i+1]) % ${PolyHash.P} * ${PolyHash.M1}
      |          + th[i+2]) % ${PolyHash.P}))) AS base
      |  FROM tht WHERE nt >= 3),
      |coef(ci, ca, cb) AS (VALUES $minhashCoefValues),
      |sig AS (SELECT doc_id, ci, MIN((ca * base + cb) % ${graft.functions.MinHash.P}) AS s
      |        FROM shp CROSS JOIN coef GROUP BY 1, 2),
      |bnd AS (SELECT doc_id, ci // $RowsPerBand AS band, LIST(s ORDER BY ci) AS slots
      |        FROM sig GROUP BY 1, 2),
      |hot AS (SELECT band, slots FROM bnd GROUP BY 1, 2 HAVING COUNT(*) > $MaxBandBucket),
      |gated AS (SELECT b.* FROM bnd b WHERE NOT EXISTS
      |          (SELECT 1 FROM hot h WHERE h.band = b.band AND h.slots = b.slots)),
      |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |         FROM gated x JOIN gated y
      |           ON x.band = y.band AND x.slots = y.slots AND x.doc_id < y.doc_id)""".stripMargin

  private val minhashLshPairsSql =
    s"""WITH $lshCandidateCtes,
      |est AS (SELECT c.doc_a, c.doc_b,
      |          CAST(SUM(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END) AS DOUBLE) / $NumHashes
      |            AS est_jaccard
      |        FROM cand c
      |        JOIN sig sa ON sa.doc_id = c.doc_a
      |        JOIN sig sb ON sb.doc_id = c.doc_b AND sb.ci = sa.ci
      |        GROUP BY 1, 2)
      |SELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= 0.5
      |ORDER BY doc_a NULLS FIRST, doc_b NULLS FIRST""".stripMargin

  // ---- MinHash estimate-error audit --------------------------------------

  /** q179: the LSH family's acceptance instrument (the q171/q175 pattern
    * applied to MinHash): for every banded candidate pair, the 64-slot
    * signature ESTIMATE next to the EXACT Jaccard over the identical
    * portable shingle universe, plus the absolute error the q73 threshold
    * acts on. This is the number that justifies (or indicts) the 0.5
    * estimate cut: a pair admitted by banding but mis-ranked by the
    * estimate is visible here as a row with high `abs_err`.
    *
    * Scale shape: the exact side is CANDIDATE-BOUNDED — shingle rows join
    * only through the LSH-gated pair set (one pair×shingles equi-join +
    * one (doc, base) equi-join), never a corpus shingle self-join; the
    * signature side reuses q73's ScopedCache'd tables. All outputs divide
    * exact ints (estimates are dyadic multiples of 1/64), no double
    * aggregation anywhere. */
  def minhashEstimateError(spark: SparkSession, dir: String): DataFrame =
    minhashEstimateErrorOf(Tables.documents(spark, dir))

  /** DataFrame-level core (constructed corpora pin the exact/estimate
    * agreement on exact duplicates and the error on partial overlaps). */
  private[graft] def minhashEstimateErrorOf(docs: DataFrame,
      maxBucket: Int = MaxBandBucket): DataFrame = {
    // the shingle front is referenced ×3 through the audit's one action,
    // so it is truncated: one materialization, every reference a narrow
    // leaf. sigs/cand stay on their q73 persist slots: the LSH hot-gate
    // anti-join lives in the candidate build plan, and PlanSpec audits it
    // through the InMemoryRelation, which a checkpoint would hide.
    val (sigs, cand) = lshCandidates(docs, maxBucket)
    val sh = graft.functions.ScopedCache.checkpoint("q179.shingles",
      docs.select(col("doc_id"),
        explode(expr("graft_shingles_poly(text)")).as("base")))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("base")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("base")), Seq("doc_b", "base"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_inter"))
    val agree = cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))")
          .cast(LongType).as("n_agree"))
    withSizes(agree.join(inter, Seq("doc_a", "doc_b"), "left"), sizes, sizes)
      .withColumn("ni", coalesce(col("n_inter"), lit(0L)))
      .select(col("doc_a"), col("doc_b"), col("n_agree"),
        round(col("n_agree").cast(DoubleType) / NumHashes, 6).as("est_jaccard"),
        col("ni").as("n_inter"),
        round(jaccardOf(col("ni")), 6)
          .as("exact_jaccard"),
        round(abs(col("n_agree").cast(DoubleType) / NumHashes
          - jaccardOf(col("ni"))), 6)
          .as("abs_err"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val minhashEstimateErrorSql =
    s"""WITH $lshCandidateCtes,
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM shp GROUP BY 1),
      |ints AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      |         FROM cand c
      |         JOIN shp a ON a.doc_id = c.doc_a
      |         JOIN shp b ON b.doc_id = c.doc_b AND b.base = a.base
      |         GROUP BY 1, 2),
      |agr AS (SELECT c.doc_a, c.doc_b,
      |          CAST(SUM(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END) AS BIGINT)
      |            AS n_agree
      |        FROM cand c
      |        JOIN sig sa ON sa.doc_id = c.doc_a
      |        JOIN sig sb ON sb.doc_id = c.doc_b AND sb.ci = sa.ci
      |        GROUP BY 1, 2)
      |SELECT g.doc_a, g.doc_b, g.n_agree,
      |  ROUND(CAST(g.n_agree AS DOUBLE) / $NumHashes, 6) AS est_jaccard,
      |  CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter,
      |  ROUND(CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
      |        / (x.n + y.n - COALESCE(i.n_inter, 0)), 6) AS exact_jaccard,
      |  ROUND(ABS(CAST(g.n_agree AS DOUBLE) / $NumHashes
      |        - CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
      |          / (x.n + y.n - COALESCE(i.n_inter, 0))), 6) AS abs_err
      |FROM agr g
      |LEFT JOIN ints i ON g.doc_a = i.doc_a AND g.doc_b = i.doc_b
      |JOIN sz x ON g.doc_a = x.doc_id
      |JOIN sz y ON g.doc_b = y.doc_id
      |ORDER BY g.doc_a NULLS FIRST, g.doc_b NULLS FIRST""".stripMargin

  // ---- LSH band-geometry method card -------------------------------------

  /** The candidate (bands, rows) splits of the 64 MinHash slots the card
    * prices against each other — the shipped 16×4 in the middle, its
    * high-recall (32×2) and high-precision (8×8) neighbors beside it. */
  private[graft] val LshGeometries = Seq((32, 2), (16, 4), (8, 8))

  /** Banded candidate pairs under an ARBITRARY (bands, rowsPerBand)
    * split — the generalization of [[lshCandidates]]' hardcoded 16×4
    * banding (same hot-bucket gate, same distinct-pair contract; the
    * band key is the raw slot slice, an array of ≤8 longs, never an
    * engine hash of it, so the oracle replays the bucketing exactly).
    * The SemanticsSpec law pins the (16, 4) instance candidate-for-
    * candidate to the shipped [[lshCandidates]] path. */
  private[graft] def bandedCandidates(sigs: DataFrame, bands: Int, rpb: Int,
      maxBucket: Int): DataFrame = {
    // referenced by the hot-list aggregate AND both self-join sides —
    // ScopedCache it per geometry (the q73.banded rule) so the corpus ×
    // bands explode materializes once per card run, not once per branch
    // (A/B at sf0.1: cached 6.16 s vs uncached 6.61 s targeted).
    // ONE family with the geometry as VARIANT (ADVICE r16): the family's
    // MaxVariantsPerFamily LRU now bounds all geometries together
    // instead of each corpus-sized explode holding its own family slot.
    val banded = graft.functions.ScopedCache.persist(
      "q217.banded", s"${bands}x$rpb", sigs
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, ${bands - 1}), j -> struct(
           |  j AS band, slice(sig, j * $rpb + 1, $rpb) AS slots))""".stripMargin))
        .as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.slots").as("slots")))
    val hot = banded.groupBy(col("band"), col("slots"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket).select(col("band"), col("slots"))
    val gated = banded.join(hot, Seq("band", "slots"), "left_anti")
    gated.as("x").join(gated.as("y"), Seq("band", "slots"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** q217: the LSH band-geometry method card — the q201/q208 method-card
    * grammar applied to the near-dup family's one free design choice:
    * how to split the 64 MinHash slots into (bands × rows). For each
    * split the card reads the S-curve THEORY next to the fixture's
    * MEASURED behavior:
    *
    *   - `p_detect_at_t`: the textbook banding S-curve (Leskovec/
    *     Rajaraman/Ullman, Mining of Massive Datasets §3.4) evaluated at
    *     the shipped q73 threshold — P[some band collides] =
    *     1 − (1 − t^r)^b at t = 0.5, i.e. the chance a true
    *     threshold-Jaccard pair becomes a candidate at all;
    *   - `s_half`: the curve's midpoint (1 − 0.5^(1/b))^(1/r) — the
    *     Jaccard at which detection crosses 50 %, the number that shows
    *     where each geometry "aims";
    *   - `n_cand`: the measured hot-gated candidate count on the fixture
    *     (what the pair join actually pays);
    *   - `n_est_dup`: candidates the shipped estimate threshold admits;
    *   - `mean_abs_err`: q179's estimate-vs-exact audit averaged over
    *     that geometry's candidate set (terms decimal-cast before the
    *     sum — the q93 discipline).
    *
    * The (16, 4) row MUST reproduce q179: same candidate universe, so
    * n_cand = q179's row count and mean_abs_err = the mean of q179's
    * per-pair errors (SemanticsSpec law). This is what makes the shipped
    * geometry a measured choice instead of a constant: 32×2 aims low
    * (s_half ≈ 0.15 — catches more, pays more candidates), 8×8 aims high
    * (s_half ≈ 0.77 — starves the 0.5 threshold), 16×4 sits on it
    * (s_half ≈ 0.5, p_detect ≈ 0.64 at the cut).
    *
    * Scale shape: ONE signature pass (ScopedCache'd, shared with
    * q73/q179) feeds all three bandings; each banding is the standard
    * bucket-join with the hot gate (never all-pairs), each exact-side
    * join is CANDIDATE-BOUNDED (q179's shape), and every geometry
    * collapses map-side into ONE row — the card is 3 rows however big
    * the corpus. At 100 TB this is 3× the q179 audit, run once per
    * geometry decision, not per ingest. */
  def lshGeometryCard(spark: SparkSession, dir: String): DataFrame =
    lshGeometryCardOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  private[graft] def lshGeometryCardOf(docs: DataFrame,
      maxBucket: Int = MaxBandBucket): DataFrame = {
    // the card references the signature table from ~8 branches (3 banded
    // explodes + 2 exact-side joins per geometry) and the shingle table
    // from 6; truncating both keeps one materialization each and makes
    // every reference a 2-column leaf instead of a re-analysis of the
    // full signature/shingle chain. Same rows → same card.
    val sigs = graft.functions.ScopedCache.checkpoint("q217.sigs",
      signatures(docs))
    val sh = graft.functions.ScopedCache.checkpoint("q179.shingles",
      docs.select(col("doc_id"),
        explode(expr("graft_shingles_poly(text)")).as("base")))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    LshGeometries.map { case (b, r) =>
      val cand = bandedCandidates(sigs, b, r, maxBucket)
      val inter = cand
        .join(sh.select(col("doc_id").as("doc_a"), col("base")), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("base")),
          Seq("doc_b", "base"))
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_inter"))
      val agree = cand
        .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
        .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))")
            .cast(LongType).as("n_agree"))
      val perPair = withSizes(agree.join(inter, Seq("doc_a", "doc_b"), "left"), sizes, sizes)
        .withColumn("ni", coalesce(col("n_inter"), lit(0L)))
        .select(
          (col("n_agree").cast(DoubleType) / NumHashes).as("est"),
          abs(col("n_agree").cast(DoubleType) / NumHashes
            - jaccardOf(col("ni")))
            .as("ae"))
      // the threshold is Dedup.JaccardThreshold INTERPOLATED (not a 0.5
      // literal) so retuning the shipped cut re-prices this card too —
      // the shared-constant convention. (The 0.5 inside s_half is the
      // 50% detection probability, not the threshold.)
      perPair.agg(
        count(lit(1)).as("n_cand"),
        coalesce(sum(when(col("est") >= JaccardThreshold, 1L).otherwise(0L)),
          lit(0L)).as("n_est_dup"),
        when(count(lit(1)) > 0,
          round(sum(col("ae").cast(DecimalType(38, 12))).cast(DoubleType)
            / count(lit(1)), 6)).as("mean_abs_err"))
        .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
          round(lit(1.0) - pow(lit(1.0) - pow(lit(JaccardThreshold), lit(r)),
            lit(b)), 6).as("p_detect_at_t"),
          round(pow(lit(1.0) - pow(lit(0.5), lit(1.0) / b), lit(1.0) / r), 6)
            .as("s_half"),
          col("n_cand"), col("n_est_dup"), col("mean_abs_err"))
    }.reduce(_ unionByName _)
      .orderBy(col("bands").desc)
  }

  private val lshGeometryCardSql = {
    val geoms = LshGeometries.zipWithIndex.map { case ((b, r), gi) =>
      val p = s"g$gi"
      (s"""${p}bnd AS (SELECT doc_id, ci // $r AS band, LIST(s ORDER BY ci) AS slots
        |        FROM sig GROUP BY 1, 2),
        |${p}hot AS (SELECT band, slots FROM ${p}bnd
        |        GROUP BY 1, 2 HAVING COUNT(*) > $MaxBandBucket),
        |${p}gtd AS (SELECT b.* FROM ${p}bnd b WHERE NOT EXISTS
        |        (SELECT 1 FROM ${p}hot h
        |         WHERE h.band = b.band AND h.slots = b.slots)),
        |${p}cnd AS MATERIALIZED (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |        FROM ${p}gtd x JOIN ${p}gtd y
        |          ON x.band = y.band AND x.slots = y.slots
        |         AND x.doc_id < y.doc_id),
        |${p}int AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
        |        FROM ${p}cnd c
        |        JOIN shp a ON a.doc_id = c.doc_a
        |        JOIN shp b ON b.doc_id = c.doc_b AND b.base = a.base
        |        GROUP BY 1, 2),
        |${p}agr AS (SELECT c.doc_a, c.doc_b,
        |          CAST(SUM(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END) AS BIGINT)
        |            AS n_agree
        |        FROM ${p}cnd c
        |        JOIN sig sa ON sa.doc_id = c.doc_a
        |        JOIN sig sb ON sb.doc_id = c.doc_b AND sb.ci = sa.ci
        |        GROUP BY 1, 2),
        |${p}pp AS (SELECT CAST(g.n_agree AS DOUBLE) / $NumHashes AS est,
        |          ABS(CAST(g.n_agree AS DOUBLE) / $NumHashes
        |            - CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
        |              / (x.n + y.n - COALESCE(i.n_inter, 0))) AS ae
        |        FROM ${p}agr g
        |        LEFT JOIN ${p}int i ON g.doc_a = i.doc_a AND g.doc_b = i.doc_b
        |        JOIN sz x ON g.doc_a = x.doc_id
        |        JOIN sz y ON g.doc_b = y.doc_id)""".stripMargin,
        s"""SELECT $b AS bands, $r AS rows_per_band,
          |  ROUND(1.0 - POWER(1.0 - POWER($JaccardThreshold, $r), $b), 6)
          |    AS p_detect_at_t,
          |  ROUND(POWER(1.0 - POWER(0.5, 1.0 / $b), 1.0 / $r), 6) AS s_half,
          |  COUNT(*) AS n_cand,
          |  CAST(COALESCE(SUM(CASE WHEN est >= $JaccardThreshold THEN 1 ELSE 0 END), 0)
          |    AS BIGINT) AS n_est_dup,
          |  CASE WHEN COUNT(*) > 0 THEN
          |    ROUND(CAST(SUM(CAST(ae AS DECIMAL(38,12))) AS DOUBLE)
          |      / COUNT(*), 6) END AS mean_abs_err
          |FROM ${p}pp""".stripMargin)
    }
    s"""WITH $lshCandidateCtes,
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM shp GROUP BY 1),
      |${geoms.map(_._1).mkString(",\n")}
      |${geoms.map(_._2).mkString("\nUNION ALL\n")}
      |ORDER BY bands DESC""".stripMargin
  }

  /** q154: which SOURCE pairs share near-duplicate documents — the
    * source-level contamination matrix a curator reads before weighting
    * feeds (mirrored crawls, syndication, vendor overlap show up as hot
    * off-diagonal cells; a boilerplate-heavy source as a hot diagonal).
    * Pure composition: q73's gated LSH pairs joined to doc→source twice,
    * rolled up per unordered source pair. est_jaccard values are exact
    * multiples of 1/64, so their sum/avg is dyadic-exact and
    * order-independent — AVG hash-matches across engines. Adds only
    * two dimension-sized joins and a #sources² aggregate on top of
    * q73's bucketed (never all-pairs) machinery. */
  def sourceNeardupMatrix(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashLshPairs(spark, dir)
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    pairs
      .join(src.toDF("doc_a", "src_a"), "doc_a")
      .join(src.toDF("doc_b", "src_b"), "doc_b")
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"),
        col("est_jaccard"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg(col("est_jaccard")), 6).as("avg_est"))
      .orderBy(col("source_a"), col("source_b"))
  }

  private val sourceNeardupMatrixSql =
    s"""WITH pairs AS (
      |$minhashLshPairsSql
      |),
      |sp AS (SELECT p.est_jaccard, da.source AS src_a, db.source AS src_b
      |       FROM pairs p
      |       JOIN documents da ON p.doc_a = da.doc_id
      |       JOIN documents db ON p.doc_b = db.doc_id)
      |SELECT LEAST(src_a, src_b) AS source_a,
      |  GREATEST(src_a, src_b) AS source_b,
      |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  ROUND(AVG(est_jaccard), 6) AS avg_est
      |FROM sp GROUP BY 1, 2
      |ORDER BY source_a NULLS FIRST, source_b NULLS FIRST""".stripMargin

  // ---- SimHash ----------------------------------------------------------

  /** SimHash per doc: per-token hash bits weighted by token count,
    * signature bit i = sign of the summed ±count contributions. Near-dup
    * pairs block on 16-bit signature chunks and verify Hamming distance.
    * Token hashes are the PORTABLE 60-bit pack of two polynomial folds
    * ([[graft.functions.PolyHash.simToken]]) — bits 60-63 are zero in
    * both engines — so the DuckDB oracle replays signatures, chunk
    * blocking, and Hamming verification exactly. */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    simhashPairsOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora), built on the
    * custom [[graft.functions.SimHashAgg]]: raw token hashes stream into
    * one imperative aggregate (±1 per bit, so duplicate tokens weight by
    * count) — no pre-grouping, map-side combined. Chunk buckets larger
    * than maxBucket are dropped before the self-join (same hot-bucket
    * guard as LSH; a near-dup pair dropped from one chunk bucket has 3
    * other chunks to collide in). */
  def simhashPairsOf(d: DataFrame, maxBucket: Int = MaxChunkBucket): DataFrame = {
    val sigsPlan = d
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("h", expr("graft_simtoken(tok)"))
      .groupBy(col("doc_id"))
      .agg(expr("graft_simhash(h)").as("simhash"))
    val sigs = graft.functions.ScopedCache.persist("q74.signatures", sigsPlan)
      .withColumn("chunks", array((0 until 4).map(j =>
        struct(lit(j).as("pos"), shiftright(col("simhash"), j * 16)
          .bitwiseAND(0xFFFFL).as("chunk"))): _*))
    val blockedAll = graft.functions.ScopedCache.persist("q74.blocked",
      sigs.select(col("doc_id"), col("simhash"), explode(col("chunks")).as("c"))
        .select(col("doc_id"), col("simhash"), col("c.pos").as("pos"), col("c.chunk").as("chunk")))
    val hot = blockedAll.groupBy(col("pos"), col("chunk")).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket).select(col("pos"), col("chunk"))
    val blocked = blockedAll.join(hot, Seq("pos", "chunk"), "left_anti")
    blocked.as("x").join(blocked.as("y"), Seq("pos", "chunk"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 8)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val simhashPairsSql =
    s"""WITH tk AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents),
      |th AS (SELECT doc_id,
      |  ${polyFoldSql("w", PolyHash.M1)} AS p1,
      |  ${polyFoldSql("w", PolyHash.M2)} AS p2 FROM tk),
      |hh AS (SELECT doc_id,
      |  (p1 % 1073741824) * 1073741824 + (p2 % 1073741824) AS h FROM th),
      |bs AS (SELECT doc_id, j,
      |         SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS wsum
      |       FROM hh, (SELECT UNNEST(GENERATE_SERIES(0, 59)) AS j) js
      |       GROUP BY 1, 2),
      |sg AS (SELECT doc_id, CAST(SUM(CASE WHEN wsum > 0
      |         THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
      |       FROM bs GROUP BY 1),
      |ch AS (SELECT doc_id, simhash, pos, (simhash >> (16 * pos)) & 65535 AS chunk
      |       FROM sg, (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS pos) ps),
      |hot AS (SELECT pos, chunk FROM ch GROUP BY 1, 2 HAVING COUNT(*) > $MaxChunkBucket),
      |bl AS (SELECT c.* FROM ch c WHERE NOT EXISTS
      |       (SELECT 1 FROM hot h WHERE h.pos = c.pos AND h.chunk = c.chunk)),
      |pr AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
      |         CAST(BIT_COUNT(XOR(x.simhash, y.simhash)) AS INT) AS hamming
      |       FROM bl x JOIN bl y
      |         ON x.pos = y.pos AND x.chunk = y.chunk AND x.doc_id < y.doc_id)
      |SELECT doc_a, doc_b, hamming FROM pr WHERE hamming <= 8
      |ORDER BY doc_a NULLS FIRST, doc_b NULLS FIRST""".stripMargin

  // ---- embedding-cosine near-dup ----------------------------------------

  /** Embedding-cosine near-dup pairs (the fourth near-dup family of
    * SURVEY.md §2.12, complementing Jaccard/MinHash/SimHash): pairs of
    * vectors whose exact cosine similarity clears a threshold, blocked by
    * the 8-dim sign-bucket LSH shared with q82/q83 — candidate generation
    * is an equi-join on bucket id, never all-pairs, and the same
    * hot-bucket cap gates degenerate buckets. The fixture embeddings are
    * random (max blocked cosine ≈0.43/0.49 at sf0.01/sf0.1), so the
    * registered threshold is 0.4 to keep the oracle row set non-vacuous;
    * a production corpus would run the same plan at ~0.95. The suite
    * checks the non-trivial path on a constructed corpus with exact
    * duplicate vectors (cosine 1.0). */
  def embeddingNearDupPairs(spark: SparkSession, dir: String): DataFrame =
    embeddingNearDupPairsOf(Tables.embeddings(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def embeddingNearDupPairsOf(
      emb: DataFrame, threshold: Double = EmbeddingNearDupThreshold,
      maxBucket: Int = MaxChunkBucket): DataFrame =
    embeddingPairsUnsorted(emb, threshold, maxBucket)
      .orderBy(col("vec_a"), col("vec_b"))

  /** Unsorted pair core — q96's cluster resolution consumes this without
    * paying q75's presentation sort (the same split jaccardPairsUnsorted
    * gives q77). */
  private def embeddingPairsUnsorted(
      emb: DataFrame, threshold: Double = EmbeddingNearDupThreshold,
      maxBucket: Int = MaxChunkBucket): DataFrame = {
    val e = emb
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("v"))
      .withColumn("bucket", Similarity.signBucket)
    val hot = e.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket).select(col("bucket"))
    // same family/variant treatment as gatedShingles: q75, q96, and the
    // 1x/Nx scale probes alternate corpora and parameters over this slot
    val g = graft.functions.ScopedCache.persist("q75.bucketed",
      s"b$maxBucket.${emb.queryExecution.analyzed.semanticHash()}",
      e.join(hot, Seq("bucket"), "left_anti"))
    g.as("a").join(g.as("b"), Seq("bucket"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim", expr("graft_cosine(a.v, b.v)"))
      .filter(col("sim") >= threshold)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("bucket"), round(col("sim"), 6).as("sim"))
  }

  /** Oracle CTE chain producing the q75 pair set as `s` (filtered rows =
    * the pairs); shared by q75's listing and q96's clustering. */
  private val embeddingPairCtes =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, SQRT(LIST_SUM(LIST_TRANSFORM(v, x -> x * x))) AS nrm,
      |  ${Similarity.signBucketSql} AS bucket FROM e),
      |hot AS (SELECT bucket FROM n GROUP BY bucket HAVING COUNT(*) > $MaxChunkBucket),
      |g AS (SELECT * FROM n WHERE bucket NOT IN (SELECT bucket FROM hot)),
      |s AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket AS bucket,
      |    CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
      |         ELSE LIST_DOT_PRODUCT(a.v, b.v) / (a.nrm * b.nrm) END AS sim
      |  FROM g a JOIN g b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)""".stripMargin

  private val embeddingNearDupPairsSql =
    s"""WITH $embeddingPairCtes
      |SELECT vec_a, vec_b, bucket, ROUND(sim, 6) AS sim
      |FROM s WHERE sim >= $EmbeddingNearDupThreshold
      |ORDER BY vec_a NULLS FIRST, vec_b NULLS FIRST""".stripMargin

  /** q96: semantic dedup — the embedding-space analog of q78. q75's
    * cosine near-dup pairs resolve into duplicate clusters (same
    * min-label propagation as q77), each cluster keeps its min vec_id,
    * and drops are charged to each vector's own class label, giving the
    * per-slice purge accounting a mixture owner reviews before dropping.
    * Scale shape: the pair join is q75's capped bucket equi-join, the
    * clustering is O(log n) bounded iterations, and the final accounting
    * is one aggregate over a cluster-sized table left-joined back. */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame =
    semanticDedupOf(Tables.embeddings(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def semanticDedupOf(emb: DataFrame): DataFrame = {
    val pairs = embeddingPairsUnsorted(emb)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val (labels, _) = clusterLabels(pairs)
    val cl = labels.select(col("node").as("vec_id"),
      col("label").as("cluster_id"))
    emb.select(col("vec_id"), col("label"))
      .join(cl, Seq("vec_id"), "left")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        count(col("cluster_id")).as("n_dup_members"),
        sum(when(col("cluster_id").isNotNull &&
          col("vec_id") =!= col("cluster_id"), 1L).otherwise(0L)).as("n_dropped"))
      .select(col("label"), col("n_vecs"), col("n_dup_members"),
        col("n_dropped"), (col("n_vecs") - col("n_dropped")).as("n_kept"))
      .orderBy(col("label"))
  }

  private val semanticDedupSql =
    s"""WITH RECURSIVE $embeddingPairCtes,
      |pairs AS (SELECT vec_a AS doc_a, vec_b AS doc_b FROM s
      |          WHERE sim >= $EmbeddingNearDupThreshold),
      |$clusterCtes
      |SELECT emb.label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |  CAST(COUNT(cc.doc_id) AS BIGINT) AS n_dup_members,
      |  CAST(SUM(CASE WHEN cc.doc_id IS NOT NULL AND cc.doc_id <> cc.cluster_id
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      |  CAST(COUNT(*) - SUM(CASE WHEN cc.doc_id IS NOT NULL
      |           AND cc.doc_id <> cc.cluster_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM embeddings emb LEFT JOIN cc ON emb.vec_id = cc.doc_id
      |GROUP BY emb.label
      |ORDER BY emb.label NULLS FIRST""".stripMargin

  // ---- benchmark decontamination -----------------------------------------

  /** Benchmark decontamination (the training-data hygiene check run before
    * every model train): which train docs share enough discriminative
    * 3-gram shingles with a held-out benchmark doc to suggest
    * contamination. The fixture has no separate benchmark table, so the
    * benchmark set is carved deterministically (doc_id % 97 = 0 — ~1% of
    * docs, mirroring a small eval suite) and everything downstream treats
    * the two sides as distinct corpora.
    *
    * Scale posture: a real benchmark suite is small and FIXED-size, so
    * both benchmark-side joins end up broadcast and the train side is
    * never shuffled; but the carve here grows ~1% with the corpus, so —
    * per this module's policy for unbounded sides — the joins carry no
    * broadcast hint: AQE broadcasts at runtime when the side is actually
    * small and degrades to a shuffle join instead of an OOM when it is
    * not. Same DF gate as q72 (stop-phrase shingles carry no
    * contamination evidence). */
  def contamination(spark: SparkSession, dir: String): DataFrame =
    contaminationOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def contaminationOf(docs: DataFrame, maxDF: Int = MaxShingleDF): DataFrame = {
    val sh = gatedShingles(docs, maxDF, SharedShingleScope)
    val bench = sh.filter(pmod(col("doc_id"), lit(BenchmarkCarveMod.toLong)) === 0)
      .select(col("sh"), col("doc_id").as("bench_doc"))
    val train = sh.filter(pmod(col("doc_id"), lit(BenchmarkCarveMod.toLong)) =!= 0)
      .select(col("sh"), col("doc_id").as("train_doc"))
    val benchSizes = bench.groupBy(col("bench_doc")).agg(count(lit(1)).as("n_bench_sh"))
    train.join(bench, Seq("sh"))
      .groupBy(col("train_doc"), col("bench_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= ContaminationMinShared)
      .join(benchSizes, Seq("bench_doc"))
      .withColumn("overlap_frac",
        round(col("n_shared").cast(DoubleType) / col("n_bench_sh"), 6))
      .select(col("train_doc"), col("bench_doc"), col("n_shared"), col("overlap_frac"))
      .orderBy(col("train_doc"), col("bench_doc"))
  }

  private val contaminationSql =
    s"""$gatedShinglesSqlCte,
      |bench AS (SELECT doc_id AS bench_doc, sh FROM sh
      |          WHERE doc_id % $BenchmarkCarveMod = 0),
      |train AS (SELECT doc_id AS train_doc, sh FROM sh
      |          WHERE doc_id % $BenchmarkCarveMod <> 0),
      |bsz AS (SELECT bench_doc, COUNT(*) AS n_bench_sh FROM bench GROUP BY 1),
      |p AS (SELECT train_doc, bench_doc, COUNT(*) AS n_shared
      |      FROM train t JOIN bench b ON t.sh = b.sh GROUP BY 1, 2)
      |SELECT train_doc, bench_doc, n_shared,
      |  ROUND(CAST(n_shared AS DOUBLE) / n_bench_sh, 6) AS overlap_frac
      |FROM p JOIN bsz USING (bench_doc)
      |WHERE n_shared >= $ContaminationMinShared
      |ORDER BY train_doc NULLS FIRST, bench_doc NULLS FIRST""".stripMargin

  /** Fixed-benchmark carve bound and bench-side shingle-DF gate for q79,
    * interpolated into the oracle SQL. */
  val FixedBenchMaxId = 10000L
  val MaxBenchShingleDF = 5

  /** q79: decontamination against a FIXED-size benchmark — the plan the
    * q76 docstring promises for a real eval suite. q76's carve grows ~1%
    * with the corpus, so its joins stay AQE-decided; here the benchmark
    * side is bounded (doc_id % carve = 0 AND doc_id <= [[FixedBenchMaxId]]
    * — a stand-in for a literal eval-suite table), which justifies
    * PINNED broadcasts: the train corpus is shingled as a pure narrow
    * map and joined to the broadcast benchmark shingles — the train side
    * is NEVER shuffled on the shingle key (PlanSpec asserts this on the
    * executed plan). Discriminative-shingle gating moves to the bench
    * side (a shingle shared by > [[MaxBenchShingleDF]] of the benchmark
    * docs is boilerplate, not evidence), computable entirely on the tiny
    * side — the corpus-wide DF gate of q72/q76 would itself shuffle the
    * train corpus on sh, defeating the point. The first shuffle anywhere
    * downstream of the train scan keys on (train_doc, bench_doc) over
    * matched rows only. */
  def contaminationFixedBench(spark: SparkSession, dir: String): DataFrame =
    contaminationFixedBenchOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora). */
  def contaminationFixedBenchOf(docs: DataFrame): DataFrame = {
    val isBench = pmod(col("doc_id"), lit(BenchmarkCarveMod.toLong)) === 0 &&
      col("doc_id") <= FixedBenchMaxId
    val benchSh = shingled(docs.filter(isBench))
      .select(col("doc_id").as("bench_doc"), explode(col("shingles")).as("sh"))
    val benchHot = benchSh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > MaxBenchShingleDF).select(col("sh"))
    val benchGated = graft.functions.ScopedCache.persist("q79.bench",
      benchSh.join(broadcast(benchHot), Seq("sh"), "left_anti"))
    val benchSizes = benchGated.groupBy(col("bench_doc"))
      .agg(count(lit(1)).as("n_bench_sh"))
    val trainSh = shingled(docs.filter(!isBench))
      .select(col("doc_id").as("train_doc"), explode(col("shingles")).as("sh"))
    trainSh.join(broadcast(benchGated), Seq("sh"))
      .groupBy(col("train_doc"), col("bench_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= ContaminationMinShared)
      .join(broadcast(benchSizes), Seq("bench_doc"))
      .withColumn("overlap_frac",
        round(col("n_shared").cast(DoubleType) / col("n_bench_sh"), 6))
      .select(col("train_doc"), col("bench_doc"), col("n_shared"), col("overlap_frac"))
      .orderBy(col("train_doc"), col("bench_doc"))
  }

  private val contaminationFixedBenchSql =
    s"""WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
      |sh0 AS (
      |  SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
      |    GENERATE_SERIES(1, LEN(t) - 2),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
      |  FROM toks WHERE LEN(t) >= 3),
      |bsh AS (SELECT doc_id AS bench_doc, sh FROM sh0
      |        WHERE doc_id % $BenchmarkCarveMod = 0 AND doc_id <= $FixedBenchMaxId),
      |bhot AS (SELECT sh FROM bsh GROUP BY sh HAVING COUNT(*) > $MaxBenchShingleDF),
      |bg AS (SELECT bench_doc, sh FROM bsh b
      |       WHERE NOT EXISTS (SELECT 1 FROM bhot h WHERE h.sh = b.sh)),
      |bsz AS (SELECT bench_doc, COUNT(*) AS n_bench_sh FROM bg GROUP BY 1),
      |tsh AS (SELECT doc_id AS train_doc, sh FROM sh0
      |        WHERE NOT (doc_id % $BenchmarkCarveMod = 0 AND doc_id <= $FixedBenchMaxId)),
      |p AS (SELECT train_doc, bench_doc, COUNT(*) AS n_shared
      |      FROM tsh t JOIN bg b ON t.sh = b.sh GROUP BY 1, 2)
      |SELECT train_doc, bench_doc, n_shared,
      |  ROUND(CAST(n_shared AS DOUBLE) / n_bench_sh, 6) AS overlap_frac
      |FROM p JOIN bsz USING (bench_doc)
      |WHERE n_shared >= $ContaminationMinShared
      |ORDER BY train_doc NULLS FIRST, bench_doc NULLS FIRST""".stripMargin

  // ---- incremental (new-vs-seen) dedup ----------------------------------

  /** Incoming-batch carve for q99 (doc_id % mod = 0 plays the freshly
    * ingested batch; the rest is the already-deduplicated corpus),
    * interpolated into the oracle SQL. */
  val IncomingCarveMod = 5

  /** q99: ingest-time incremental dedup — classify each INCOMING document
    * against the SEEN corpus as `exact_dup` (content hash already present
    * in the seen corpus, OR a smaller-id copy arrived in the same batch —
    * within-batch exact duplicates must not all be admitted as "new"),
    * `near_dup` (some seen doc matches ≥ half the incoming
    * doc's discriminative shingles, with ≥ [[ContaminationMinShared]]
    * shared as a small-doc fluke guard — containment, the directional
    * near-dup criterion; contamination's bare n_shared trigger is
    * deliberately hair-trigger and would flag most of a templated corpus
    * here), or `new`. This is the
    * every-batch operator of a production corpus: q70/q71/q85 deduplicate
    * one closed corpus, this admits a delta against it (the incremental
    * form of the keep-one-per-identity compaction semantics,
    * kafka/README.md:27,:433-434). Exact precedence over near: an exact
    * copy also shares all shingles, and callers want the cheaper verdict.
    * Within-batch NEAR duplicates are intentionally out of scope — run
    * the fuzzy path (q72/q77/q85) over the admitted batch for those;
    * this operator's near gate compares only against the seen corpus.
    *
    * Scale posture: the exact gate is a semi-join on 32-byte hashes —
    * the seen side collapses to distinct hashes map-side and in steady
    * state would be a persisted hash index, so only the (small) incoming
    * batch shuffles. The near gate reuses the corpus-wide DF-gated
    * shingle universe (same skew guards as q72/q76); with a bounded
    * incoming batch AQE broadcasts the incoming side of the shingle join
    * at runtime. Verdict assembly is two left joins against per-doc flag
    * tables that are at most incoming-sized. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame =
    incrementalDedupOf(Tables.documents(spark, dir))

  /** DataFrame-level core (testable on constructed corpora with planted
    * cross-batch exact and near duplicates). */
  def incrementalDedupOf(docs: DataFrame, maxDF: Int = MaxShingleDF): DataFrame = {
    val isIncoming = pmod(col("doc_id"), lit(IncomingCarveMod.toLong)) === 0
    val incoming = docs.filter(isIncoming)
    val seenHashes = docs.filter(!isIncoming)
      .select(sha2(col("text"), 256).as("h")).distinct()
    val incHashes = incoming.select(col("doc_id"), sha2(col("text"), 256).as("h"))
    // exact = hash already in the seen corpus OR a smaller-id copy in the
    // SAME batch — without the within-batch leg, two identical incoming
    // docs would both be admitted as "new" and the deduplicated-corpus
    // invariant would break on the first such batch
    val firstInBatch = incHashes.groupBy(col("h")).agg(min(col("doc_id")).as("first_id"))
    val exact = incHashes.join(seenHashes, Seq("h"), "left_semi")
      .select(col("doc_id"))
      .unionByName(incHashes.join(firstInBatch, Seq("h"))
        .filter(col("doc_id") > col("first_id")).select(col("doc_id")))
      .distinct()
      .withColumn("is_exact", lit(true))
    val sh = gatedShingles(docs, maxDF, SharedShingleScope)
    val incSh = sh.filter(pmod(col("doc_id"), lit(IncomingCarveMod.toLong)) === 0)
      .select(col("sh"), col("doc_id").as("inc_doc"))
    val seenSh = sh.filter(pmod(col("doc_id"), lit(IncomingCarveMod.toLong)) =!= 0)
      .select(col("sh"), col("doc_id").as("seen_doc"))
    val incSizes = incSh.groupBy(col("inc_doc")).agg(count(lit(1)).as("n_inc_sh"))
    // containment via integer cross-multiplication (2*shared >= size):
    // no double threshold, so plan and oracle agree exactly at the boundary
    val near = incSh.join(seenSh, Seq("sh"))
      .groupBy(col("inc_doc"), col("seen_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .join(incSizes, Seq("inc_doc"))
      .filter(col("n_shared") >= ContaminationMinShared &&
        col("n_shared") * 2 >= col("n_inc_sh"))
      .select(col("inc_doc").as("doc_id")).distinct()
      .withColumn("is_near", lit(true))
    incoming.select(col("doc_id"), col("lang"), col("source"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        when(col("is_exact"), lit("exact_dup"))
          .when(col("is_near"), lit("near_dup"))
          .otherwise(lit("new")).as("status"))
      .orderBy(col("doc_id"))
  }

  private val incrementalDedupSql =
    s"""$gatedShinglesSqlCte,
      |inc AS (SELECT doc_id, lang, source, SHA256(text) AS h FROM documents
      |        WHERE doc_id % $IncomingCarveMod = 0),
      |seenh AS (SELECT DISTINCT SHA256(text) AS h FROM documents
      |          WHERE doc_id % $IncomingCarveMod <> 0),
      |ex AS (SELECT DISTINCT doc_id FROM (
      |         SELECT i.doc_id FROM inc i JOIN seenh s ON i.h = s.h
      |         UNION ALL
      |         SELECT i.doc_id FROM inc i
      |         JOIN (SELECT h, MIN(doc_id) AS first_id FROM inc GROUP BY h) f
      |           ON i.h = f.h
      |         WHERE i.doc_id > f.first_id) u),
      |incsh AS (SELECT doc_id AS inc_doc, sh FROM sh
      |          WHERE doc_id % $IncomingCarveMod = 0),
      |seensh AS (SELECT doc_id AS seen_doc, sh FROM sh
      |           WHERE doc_id % $IncomingCarveMod <> 0),
      |isz AS (SELECT inc_doc, COUNT(*) AS n_inc_sh FROM incsh GROUP BY 1),
      |nr AS (SELECT DISTINCT p.inc_doc AS doc_id FROM (
      |         SELECT inc_doc, seen_doc, COUNT(*) AS n_shared
      |         FROM incsh a JOIN seensh b ON a.sh = b.sh GROUP BY 1, 2) p
      |       JOIN isz USING (inc_doc)
      |       WHERE n_shared >= $ContaminationMinShared
      |         AND 2 * n_shared >= n_inc_sh)
      |SELECT i.doc_id, i.lang, i.source,
      |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
      |       WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
      |       ELSE 'new' END AS status
      |FROM inc i
      |LEFT JOIN ex ON i.doc_id = ex.doc_id
      |LEFT JOIN nr ON i.doc_id = nr.doc_id
      |ORDER BY i.doc_id NULLS FIRST""".stripMargin

  // ---- persisted dedup index: build once, admit batches forever ---------

  /** Where the persisted dedup index for a fixture dir lives —
    * ArtifactStore's convention, shared with the IVF-PQ index. Reuse
    * validity is the store's source-signature check: content is a
    * deterministic function of the seen carve, so SAME-SIGNATURE reuse is
    * always valid, and a regenerated fixture rebuilds. */
  def dedupIndexPath(dir: String): String =
    graft.sources.ArtifactStore.path("dedup", dir)

  private val DedupIndexTables = Seq("hashes", "hot", "shingles")

  /** The three tables q99's docstring promises as the steady-state form:
    * `hashes` (distinct SHA-256 of every seen doc — the exact gate),
    * `shingles` (the seen corpus's DF-gated (doc_id, shingle) universe —
    * the near gate's join side), `hot` (shingles over the DF cap — small,
    * persisted so incoming batches are pruned by the SAME gate). The DF
    * gate is computed over the SEEN corpus alone — at build time the
    * future batch does not exist, which is exactly why q112 carries its
    * own oracle instead of sharing q99's (whose corpus-wide gate counts
    * the batch's shingles too). */
  private def writeDedupIndex(docs: DataFrame, base: String): Unit = {
    val spark = docs.sparkSession
    val seen = docs.filter(pmod(col("doc_id"), lit(IncomingCarveMod.toLong)) =!= 0)
    val hashes = seen.select(sha2(col("text"), 256).as("h")).distinct()
    // the hot list is itself an index table here
    val shAll = shingleRows(seen)
    val (_, hot) = dfGate(shAll)
    hashes.write.mode("overwrite").parquet(s"$base/hashes")
    hot.write.mode("overwrite").parquet(s"$base/hot")
    // gate against the hot table JUST WRITTEN, not the hot plan: reusing
    // the plan re-pays the full shingle explode + DF aggregate a third
    // time; the parquet read costs a bounded hot-list scan instead
    val gated = shAll.join(
      spark.read.parquet(s"$base/hot"), Seq("sh"), "left_anti")
    gated.write.mode("overwrite").parquet(s"$base/shingles")
  }

  /** Build unless a complete, signature-valid artifact exists
    * (ArtifactStore's rule — crashed partial writes and regenerated
    * fixtures both rebuild), as [[graft.operators.Similarity.ensureIvfPqIndex]]. */
  def ensureDedupIndex(spark: SparkSession, dir: String): String =
    graft.sources.ArtifactStore.ensure("dedup", dir, DedupIndexTables)(
      base => writeDedupIndex(Tables.documents(spark, dir), base))

  /** q111: dedup index build — persists the seen corpus's admission index
    * (content hashes + DF-gated shingle universe + the hot list) and
    * returns per-table accounting read BACK from the written files. The
    * shingle column is the engine's 64-bit hash, so the accounting uses
    * hash-independent figures the oracle can recompute from text (row and
    * distinct-shingle counts — equal to the text-shingle counts under the
    * same no-collision assumption every shingle oracle here relies on)
    * plus min/max SHA-256 bounds for the hash table (lowercase hex in
    * both engines, so the ordering agrees).
    *
    * Scale posture: one pass for hashes (map-side distinct collapse), one
    * shingle explode + DF aggregate + anti-join for the gate — q99's
    * exact shapes, paid ONCE per corpus instead of per batch. */
  def dedupIndexBuild(spark: SparkSession, dir: String): DataFrame = {
    // rebuild (not ensure): the build operator's contract is "index the
    // corpus NOW"; the stamp lets a following q112 reuse this artifact
    val base = graft.sources.ArtifactStore.rebuild("dedup", dir, DedupIndexTables)(
      b => writeDedupIndex(Tables.documents(spark, dir), b))
    val nullStr = lit(null).cast(StringType)
    val hashes = spark.read.parquet(s"$base/hashes")
      .groupBy().agg(count(lit(1)).as("n_rows"), min(col("h")).as("lo"),
        max(col("h")).as("hi"))
      .select(lit("hashes").as("component"), col("n_rows"),
        col("n_rows").as("n_distinct"), col("lo"), col("hi"))
    val hot = spark.read.parquet(s"$base/hot")
      .groupBy().agg(count(lit(1)).as("n_rows"))
      .select(lit("hot").as("component"), col("n_rows"),
        col("n_rows").as("n_distinct"), nullStr.as("lo"), nullStr.as("hi"))
    val shingles = spark.read.parquet(s"$base/shingles")
      .groupBy().agg(count(lit(1)).as("n_rows"),
        countDistinct(col("sh")).as("n_distinct"))
      .select(lit("shingles").as("component"), col("n_rows"),
        col("n_distinct"), nullStr.as("lo"), nullStr.as("hi"))
    hashes.unionAll(hot).unionAll(shingles).orderBy(col("component"))
  }

  /** Seen-only gate CTEs (build-time semantics): DF counted over the
    * seen carve alone, applied to both sides at query time — shared by
    * the q111 and q112 oracles so the gate cannot drift between them. */
  private val seenGatedShinglesCtes =
    s"""toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
      |sh0 AS (
      |  SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
      |    GENERATE_SERIES(1, LEN(t) - 2),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
      |  FROM toks WHERE LEN(t) >= 3),
      |hotseen AS (SELECT sh FROM sh0 WHERE doc_id % $IncomingCarveMod <> 0
      |            GROUP BY sh HAVING COUNT(*) > $MaxShingleDF),
      |seensh AS (SELECT s.doc_id AS seen_doc, s.sh FROM sh0 s
      |           WHERE s.doc_id % $IncomingCarveMod <> 0
      |             AND NOT EXISTS (SELECT 1 FROM hotseen h WHERE h.sh = s.sh)),
      |incsh AS (SELECT s.doc_id AS inc_doc, s.sh FROM sh0 s
      |          WHERE s.doc_id % $IncomingCarveMod = 0
      |            AND NOT EXISTS (SELECT 1 FROM hotseen h WHERE h.sh = s.sh))""".stripMargin

  private val dedupIndexBuildSql =
    s"""WITH $seenGatedShinglesCtes,
      |hsh AS (SELECT DISTINCT SHA256(text) AS h FROM documents
      |        WHERE doc_id % $IncomingCarveMod <> 0)
      |SELECT component, n_rows, n_distinct, lo, hi FROM (
      |  SELECT 'hashes' AS component, COUNT(*) AS n_rows, COUNT(*) AS n_distinct,
      |    MIN(h) AS lo, MAX(h) AS hi FROM hsh
      |  UNION ALL
      |  SELECT 'hot', COUNT(*), COUNT(*), CAST(NULL AS VARCHAR),
      |    CAST(NULL AS VARCHAR) FROM hotseen
      |  UNION ALL
      |  SELECT 'shingles', COUNT(*), COUNT(DISTINCT sh), CAST(NULL AS VARCHAR),
      |    CAST(NULL AS VARCHAR) FROM seensh
      |) t ORDER BY component NULLS FIRST""".stripMargin

  /** q112: incremental dedup against the PERSISTED index — the
    * admit-batches-forever half of q99's promised production split: the
    * exact gate semi-joins the batch's hashes against the `hashes` table,
    * the near gate prunes the batch's shingles by the persisted `hot`
    * list and joins them against the persisted `shingles` universe, and
    * the within-batch exact leg is unchanged. Semantics differ from q99
    * in exactly one deliberate way: the DF gate is the index's (seen-only
    * — a batch cannot retroactively change the index it is admitted
    * against), hence the operator's own oracle.
    *
    * Scale posture: the seen corpus appears ONLY as parquet scans of its
    * index; per batch, only batch-sized inputs are shingled/hashed, the
    * hot anti-join and hash semi-join broadcast the small side at
    * runtime, and the containment join shuffles batch×matched rows —
    * admission cost is batch-proportional, not corpus-proportional. */
  def incrementalDedupIndexed(spark: SparkSession, dir: String): DataFrame = {
    val base = ensureDedupIndex(spark, dir)
    val incoming = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(IncomingCarveMod.toLong)) === 0)
    incrementalDedupIndexedOf(incoming,
      spark.read.parquet(s"$base/hashes"),
      spark.read.parquet(s"$base/hot"),
      spark.read.parquet(s"$base/shingles"))
  }

  /** DataFrame-level core: classify `incoming` against an index given as
    * the three tables (testable on constructed corpora + in-memory
    * indexes). */
  def incrementalDedupIndexedOf(incoming: DataFrame, seenHashes: DataFrame,
      hot: DataFrame, seenShingles: DataFrame): DataFrame = {
    val incHashes = incoming.select(col("doc_id"), sha2(col("text"), 256).as("h"))
    val firstInBatch = incHashes.groupBy(col("h")).agg(min(col("doc_id")).as("first_id"))
    val exact = incHashes.join(seenHashes, Seq("h"), "left_semi")
      .select(col("doc_id"))
      .unionByName(incHashes.join(firstInBatch, Seq("h"))
        .filter(col("doc_id") > col("first_id")).select(col("doc_id")))
      .distinct()
      .withColumn("is_exact", lit(true))
    val incSh = shingleRows(incoming)
      .join(hot.select(col("sh")), Seq("sh"), "left_anti")
      .select(col("sh"), col("doc_id").as("inc_doc"))
    val seenSh = seenShingles.select(col("sh"), col("doc_id").as("seen_doc"))
    val incSizes = incSh.groupBy(col("inc_doc")).agg(count(lit(1)).as("n_inc_sh"))
    val near = incSh.join(seenSh, Seq("sh"))
      .groupBy(col("inc_doc"), col("seen_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .join(incSizes, Seq("inc_doc"))
      .filter(col("n_shared") >= ContaminationMinShared &&
        col("n_shared") * 2 >= col("n_inc_sh"))
      .select(col("inc_doc").as("doc_id")).distinct()
      .withColumn("is_near", lit(true))
    incoming.select(col("doc_id"), col("lang"), col("source"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        when(col("is_exact"), lit("exact_dup"))
          .when(col("is_near"), lit("near_dup"))
          .otherwise(lit("new")).as("status"))
      .orderBy(col("doc_id"))
  }

  private val incrementalDedupIndexedSql =
    s"""WITH $seenGatedShinglesCtes,
      |inc AS (SELECT doc_id, lang, source, SHA256(text) AS h FROM documents
      |        WHERE doc_id % $IncomingCarveMod = 0),
      |seenh AS (SELECT DISTINCT SHA256(text) AS h FROM documents
      |          WHERE doc_id % $IncomingCarveMod <> 0),
      |ex AS (SELECT DISTINCT doc_id FROM (
      |         SELECT i.doc_id FROM inc i JOIN seenh s ON i.h = s.h
      |         UNION ALL
      |         SELECT i.doc_id FROM inc i
      |         JOIN (SELECT h, MIN(doc_id) AS first_id FROM inc GROUP BY h) f
      |           ON i.h = f.h
      |         WHERE i.doc_id > f.first_id) u),
      |isz AS (SELECT inc_doc, COUNT(*) AS n_inc_sh FROM incsh GROUP BY 1),
      |nr AS (SELECT DISTINCT p.inc_doc AS doc_id FROM (
      |         SELECT inc_doc, seen_doc, COUNT(*) AS n_shared
      |         FROM incsh a JOIN seensh b ON a.sh = b.sh GROUP BY 1, 2) p
      |       JOIN isz USING (inc_doc)
      |       WHERE n_shared >= $ContaminationMinShared
      |         AND 2 * n_shared >= n_inc_sh)
      |SELECT i.doc_id, i.lang, i.source,
      |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
      |       WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
      |       ELSE 'new' END AS status
      |FROM inc i
      |LEFT JOIN ex ON i.doc_id = ex.doc_id
      |LEFT JOIN nr ON i.doc_id = nr.doc_id
      |ORDER BY i.doc_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q165: content-defined chunk dedup accounting (storage-side dedup)
  // ---------------------------------------------------------------------

  /** q165: STORAGE-level dedup accounting via content-defined chunking
    * (LBFS/rsync lineage) — "how many bytes does chunk-dedup save, per
    * source": each document splits at rolling-hash boundaries
    * ([[graft.functions.CdcChunker]] — boundaries re-synchronize after
    * any edit, so shared runs across documents land in identical
    * chunks), chunks are identified by content SHA-256, and each source
    * reports total vs unique chunk counts and bytes plus the dedup
    * ratio. This is the physical-bytes twin of the document-level dedup
    * family (q70-q85 ask "which DOCUMENTS are copies"; q165 asks "how
    * much STORAGE do partial overlaps cost") — the number a 100 TB lake's
    * capacity planning runs on.
    *
    * Scale shape: one narrow pass per doc runs the O(n) rolling chunker
    * inside whole-stage codegen (native [[graft.functions.CdcCuts]]
    * expression), the explode emits ~len/64 chunk rows, and everything
    * after is two map-side-combined keyed aggregates ((source, sha) then
    * source) — no joins over the corpus, no windows, driver sees only
    * #sources rows. The oracle replays the rolling hash as a windowed
    * LIST_REDUCE fold (the seedless polynomial the rolling identity
    * maintains), so boundaries — and therefore every count — are
    * bit-identical across engines. */
  def cdcChunkDedup(spark: SparkSession, dir: String): DataFrame =
    cdcChunkDedupOf(Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("text")))

  /** The chunk table `(source, doc_id, sha, cb)` of a corpus — the
    * content-addressed view q165 aggregates and q166 diffs. */
  private def cdcChunksOf(docs: DataFrame): DataFrame =
    docs.filter(length(col("text")) >= 1)
      .select(col("source"), col("doc_id"), col("text"),
        expr("graft_cdc_cuts(text)").as("cuts"))
      .select(col("source"), col("doc_id"), explode(expr(
        """transform(cuts, (e, i) ->
          |  substring(text,
          |    CASE WHEN i = 0 THEN 1 ELSE element_at(cuts, i) + 1 END,
          |    e - CASE WHEN i = 0 THEN 0 ELSE element_at(cuts, i) END))""".stripMargin))
        .as("chunk"))
      .select(col("source"), col("doc_id"),
        sha2(encode(col("chunk"), "UTF-8"), 256).as("sha"),
        length(encode(col("chunk"), "UTF-8")).cast(LongType).as("cb"))

  /** DataFrame-level core (testable/probable on any corpus). */
  def cdcChunkDedupOf(docs: DataFrame): DataFrame = {
    val chunks = cdcChunksOf(docs)
    val totals = chunks.groupBy(col("source")).agg(
      countDistinct(col("doc_id")).as("n_docs"),
      count(lit(1)).as("total_chunks"),
      sum(col("cb")).as("total_bytes"))
    val uniques = chunks
      .groupBy(col("source"), col("sha"))
      .agg(max(col("cb")).as("cb")) // same sha => same chunk => same bytes
      .groupBy(col("source"))
      .agg(count(lit(1)).as("uniq_chunks"), sum(col("cb")).as("uniq_bytes"))
    totals.join(uniques, Seq("source"))
      .select(col("source"), col("n_docs"), col("total_chunks"),
        col("uniq_chunks"), col("total_bytes"), col("uniq_bytes"),
        round(col("uniq_bytes").cast(DoubleType) / col("total_bytes"), 6)
          .as("dedup_ratio"))
      .orderBy(col("source"))
  }

  /** DuckDB replay of [[cdcChunksOf]] over the CTE/table `baseName`
    * (columns doc_id, source, text; caller filters LEN >= 1), emitting
    * prefixed CTEs ending in `${p}chunk(source, doc_id, sha, cb)`.
    * Shared VERBATIM by the q165 and q166 oracles so the chunk
    * definition cannot drift between the accounting and the diff. */
  private def cdcChunkCtes(p: String, baseName: String): String = {
    import graft.functions.{CdcChunker, PolyHash}
    s"""${p}pos AS (
      |  SELECT doc_id, UNNEST(GENERATE_SERIES(${CdcChunker.Window}, LEN(text))) AS i
      |  FROM $baseName),
      |${p}wf AS (
      |  SELECT p.doc_id, p.i,
      |    LIST_REDUCE(LIST_TRANSFORM(
      |      GENERATE_SERIES(p.i - ${CdcChunker.Window - 1}, p.i),
      |      k -> CAST(UNICODE(SUBSTR(b.text, k, 1)) AS BIGINT)),
      |      (acc, c) -> (acc * ${PolyHash.M1} + c) % ${PolyHash.P}) AS h
      |  FROM ${p}pos p JOIN $baseName b USING (doc_id)),
      |${p}cut AS (
      |  SELECT doc_id, i FROM ${p}wf WHERE h % ${CdcChunker.Divisor} = 0
      |  UNION
      |  SELECT doc_id, LEN(text) FROM $baseName),
      |${p}ck AS (
      |  SELECT doc_id, i AS e,
      |    COALESCE(LAG(i) OVER (PARTITION BY doc_id ORDER BY i), 0) AS s
      |  FROM ${p}cut),
      |${p}chunk AS (
      |  SELECT b.source, b.doc_id,
      |    SHA256(SUBSTRING(b.text, s + 1, e - s)) AS sha,
      |    OCTET_LENGTH(ENCODE(SUBSTRING(b.text, s + 1, e - s))) AS cb
      |  FROM ${p}ck JOIN $baseName b USING (doc_id))""".stripMargin
  }

  private val cdcChunkDedupSql = {
    s"""WITH base AS (
      |  SELECT doc_id, source, text FROM documents WHERE LEN(text) >= 1),
      |${cdcChunkCtes("", "base")},
      |tot AS (
      |  SELECT source, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS total_chunks,
      |    CAST(SUM(cb) AS BIGINT) AS total_bytes
      |  FROM chunk GROUP BY 1),
      |u1 AS (SELECT source, sha, MAX(cb) AS cb FROM chunk GROUP BY 1, 2),
      |un AS (SELECT source, COUNT(*) AS uniq_chunks, CAST(SUM(cb) AS BIGINT) AS uniq_bytes
      |       FROM u1 GROUP BY 1)
      |SELECT source, n_docs, total_chunks, uniq_chunks, total_bytes, uniq_bytes,
      |  ROUND(CAST(uniq_bytes AS DOUBLE) / total_bytes, 6) AS dedup_ratio
      |FROM tot JOIN un USING (source)
      |ORDER BY source NULLS FIRST""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q166: snapshot delta-transfer accounting (rsync/CAS shape)
  // ---------------------------------------------------------------------

  /** q166: how many bytes must MOVE to turn yesterday's snapshot into
    * today's — the rsync / content-addressed-store question every
    * incremental ingest and replication job answers at 100 TB. The new
    * snapshot is the corpus with a deterministic insertion applied to
    * every 10th document ([[patchedSnapshot]] — an edit, not a rewrite);
    * because CDC boundaries re-synchronize right after an insertion
    * (the q165 chunker, ExpressionSpec's re-sync law), only the chunks
    * overlapping the edit are new — a fixed-size chunker would re-send
    * every chunk after the edit point. Transfer = UNIQUE new-snapshot
    * chunks absent from the old chunk store, each counted once (the CAS
    * model); per source: new-snapshot logical size, transfer cost, and
    * the reuse ratio.
    *
    * Scale shape: two chunker passes (narrow, codegen'd), one
    * sha-keyed anti-join against the store (at scale the store is a
    * persisted artifact — q111/q129's pattern; recomputing it here
    * keeps the oracle self-contained), keyed roll-ups to #sources
    * rows. */
  def snapshotDeltaBytes(spark: SparkSession, dir: String): DataFrame = {
    val old = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("text"))
    snapshotDeltaBytesOf(old, patchedSnapshot(old))
  }

  /** Deterministic next-day snapshot: every 10th document (of ≥4 code
    * points) gains a marker insertion at its quarter mark; both engines
    * derive the identical text, so the oracle replays the diff. */
  private[graft] def patchedSnapshot(d: DataFrame): DataFrame =
    d.withColumn("text",
      when(col("doc_id") % 10 === 0 && length(col("text")) >= 4,
        expr("concat(substring(text, 1, length(text) div 4), '<<p', " +
          "cast(doc_id % 7 as string), '>>', " +
          "substring(text, length(text) div 4 + 1, length(text)))"))
        .otherwise(col("text")))

  /** DataFrame-level core: sync `newDocs` against `oldDocs`' chunks. */
  def snapshotDeltaBytesOf(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val store = cdcChunksOf(oldDocs).select(col("sha")).distinct()
    val nc = cdcChunksOf(newDocs)
    val totals = nc.groupBy(col("source")).agg(
      count(lit(1)).as("total_chunks"), sum(col("cb")).as("total_bytes"))
    val missing = nc
      .groupBy(col("source"), col("sha")).agg(max(col("cb")).as("cb"))
      .join(store, Seq("sha"), "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("xfer_chunks"), sum(col("cb")).as("xfer_bytes"))
    totals.join(missing, Seq("source"), "left")
      .na.fill(0L, Seq("xfer_chunks", "xfer_bytes"))
      .select(col("source"), col("total_chunks"), col("total_bytes"),
        col("xfer_chunks"), col("xfer_bytes"),
        round(lit(1.0) - col("xfer_bytes").cast(DoubleType) / col("total_bytes"), 6)
          .as("reuse_ratio"))
      .orderBy(col("source"))
  }

  /** Batch kernel of the live CAS-ingest twin (StreamingSpec): the
    * UNIQUE chunks `(sha, cb)` of `batch` (source, doc_id, text) absent
    * from `store(sha)` — exactly what an incremental ingest must
    * persist. A foreachBatch sink appends the result to the store, so
    * the stream and the q166 batch diff share one chunk/admission
    * definition and cannot drift. */
  def admitChunks(batch: DataFrame, store: DataFrame): DataFrame =
    cdcChunksOf(batch)
      .groupBy(col("sha")).agg(max(col("cb")).as("cb"))
      .join(store, Seq("sha"), "left_anti")

  private val snapshotDeltaBytesSql =
    s"""WITH oldb AS (
      |  SELECT doc_id, source, text FROM documents WHERE LEN(text) >= 1),
      |newb AS (
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 10 = 0 AND LEN(text) >= 4 THEN
      |      SUBSTRING(text, 1, LEN(text) // 4) || '<<p'
      |        || CAST(doc_id % 7 AS VARCHAR) || '>>'
      |        || SUBSTRING(text, LEN(text) // 4 + 1, LEN(text))
      |    ELSE text END AS text
      |  FROM documents WHERE LEN(text) >= 1),
      |${cdcChunkCtes("o", "oldb")},
      |${cdcChunkCtes("n", "newb")},
      |store AS (SELECT DISTINCT sha FROM ochunk),
      |tot AS (
      |  SELECT source, COUNT(*) AS total_chunks,
      |    CAST(SUM(cb) AS BIGINT) AS total_bytes
      |  FROM nchunk GROUP BY 1),
      |m1 AS (SELECT source, sha, MAX(cb) AS cb FROM nchunk GROUP BY 1, 2),
      |mx AS (
      |  SELECT source, COUNT(*) AS xfer_chunks, CAST(SUM(cb) AS BIGINT) AS xfer_bytes
      |  FROM m1 WHERE NOT EXISTS (SELECT 1 FROM store s WHERE s.sha = m1.sha)
      |  GROUP BY 1)
      |SELECT tot.source, tot.total_chunks, tot.total_bytes,
      |  COALESCE(mx.xfer_chunks, 0) AS xfer_chunks,
      |  COALESCE(mx.xfer_bytes, 0) AS xfer_bytes,
      |  ROUND(1 - CAST(COALESCE(mx.xfer_bytes, 0) AS DOUBLE) / tot.total_bytes, 6)
      |    AS reuse_ratio
      |FROM tot LEFT JOIN mx USING (source)
      |ORDER BY source NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q176: near-dup artifact delta append (frozen-base admission)
  // ---------------------------------------------------------------------

  /** Deterministic base/delta split for the append fixture (the q135
    * pattern): delta = every doc_id ≡ 0 (mod this), base = the rest. */
  val NeardupDeltaMod = 5L

  /** q176: admit a DELTA batch against a frozen near-dup index — the
    * q108→q135 lifecycle split applied to the dedup family (q129 is the
    * build-once half; this is the batch-append half a production corpus
    * runs nightly). Every delta doc gets a disposition and the id it
    * resolves to:
    *
    *   - `exact_dup_delta` — loses keep-first WITHIN the batch;
    *                         attach = the batch keeper (stage-local, like
    *                         q163: the keeper may itself dedup away next)
    *   - `exact_dup_base`  — content-identical to a base survivor;
    *                         attach = that survivor
    *   - `near_dup_base`   — Jaccard ≥ threshold with ≥1 base survivor;
    *                         attach = min base CLUSTER label over partners
    *   - `new`             — attach = its delta-only component min (own
    *                         id when singleton)
    *
    * FROZEN-BASE contract (what every production incremental dedup does):
    * the shingle DF gate is the BASE hot list (admission must not
    * re-derive the gate from data it is admitting), base cluster labels
    * never change (a delta doc bridging two base clusters attaches to the
    * MIN label without merging them — the periodic full rebuild, q129,
    * reconciles), and delta-delta components form only among docs not
    * already attached to base. All deterministic, so the oracle replays
    * the complete definition.
    *
    * Scale shape: everything delta-sized is batch-bounded (keep-first,
    * delta shingles, the cross join's probe side — AQE broadcasts it when
    * small, honest shuffle when a backfill batch is not); the base side
    * recomputes in-plan here so the oracle is self-contained (the q166
    * precedent) — production reads survivors/labels/hot from the artifact
    * and pays ONLY the delta-proportional work. */
  /** The five tables the append's frozen base index persists. `bpairs`
    * (the survivor pair graph), the per-shingle `df` riding on `bsh`,
    * and the per-survivor gated-shingle count `nsh` riding on `bsv` are
    * all derived by the build anyway — persisting them is what lets the
    * q185 compaction fold a delta in with work proportional to the
    * delta, not the corpus. */
  private val AppendBaseTables = Seq("bsv", "hot", "bsh", "bpairs", "blabels")

  /** The frozen base index of the append: survivors (with content keys),
    * the hot-shingle gate, the gated shingle universe (with per-shingle
    * survivor df), the survivor pair graph, and the survivor cluster
    * labels — exactly what a production near-dup store serves to its
    * admission and compaction jobs. */
  private[graft] def appendBaseParts(base: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val bsv = graft.functions.ScopedCache.persist("dedup.append.bsv",
      base.select(col("doc_id"), col("text"), contentKeyNullSafe(col("text")).as("tkey"))
        .groupBy(col("tkey"))
        .agg(min_by(struct(col("doc_id"), col("text")), col("doc_id")).as("keep"))
        .select(col("keep.doc_id").as("doc_id"), col("keep.text").as("text"),
          col("tkey")))
    val bshAll = graft.functions.ScopedCache.persist("dedup.append.bshall",
      shingleRows(bsv.select(col("doc_id"), col("text"))))
    // every gated row carries its shingle's survivor df (the q129 build's
    // surv_shingles rows)
    val (gated, hot) = dfGate(bshAll)
    val bsh = graft.functions.ScopedCache.persist("dedup.append.bsh",
      gated.select(col("doc_id"), col("sh"), col("df")))
    val bpairs = jaccardPairsFromGated(bsh.select(col("doc_id"), col("sh")))
    val (bLabels, _) = clusterLabels(bpairs.select(col("doc_a"), col("doc_b")))
    (bsv, hot, bsh, bpairs, bLabels)
  }

  /** Build-once half: persist the base index for `dir`'s mod-split base
    * corpus unless a signature-valid one exists (ArtifactStore's rule).
    * Whichever q176 run executes first in a session pays the build;
    * every run after admits against parquet — the q108/q109 split. */
  def ensureNeardupAppendBase(spark: SparkSession, dir: String): String =
    graft.sources.ArtifactStore.ensure("neardupappend", dir, AppendBaseTables) { b =>
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      val (bsv, hot, bsh, bpairs, bLabels) =
        appendBaseParts(docs.filter(pmod(col("doc_id"), lit(NeardupDeltaMod)) =!= 0))
      // admission reads only (doc_id, tkey) from the survivor table —
      // persisting the text would roughly double the artifact for bytes
      // no admission-time consumer touches (text lives on only in the
      // build-local plan, where bsh derives from it). nsh (per-survivor
      // gated-shingle count) rides along for the q185 compaction: an
      // unaffected survivor's union-gate size IS its base-gate size, so
      // the fold never re-counts the untouched corpus.
      bsv.select(col("doc_id"), col("tkey"))
        .join(bsh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh")),
          Seq("doc_id"), "left")
        .na.fill(0L, Seq("nsh"))
        .write.mode("overwrite").parquet(s"$b/bsv")
      hot.write.mode("overwrite").parquet(s"$b/hot")
      bsh.write.mode("overwrite").parquet(s"$b/bsh")
      bpairs.write.mode("overwrite").parquet(s"$b/bpairs")
      bLabels.write.mode("overwrite").parquet(s"$b/blabels")
    }

  def neardupArtifactAppend(spark: SparkSession, dir: String): DataFrame = {
    // admit against the PERSISTED base index (built on demand, signature-
    // validated): the registered query pays only the delta-proportional
    // tail, which is the production admission job. The artifact is a
    // deterministic corpus function, so the oracle's in-plan replay of
    // the base stays bit-equal (the q109 precedent); the in-plan form
    // below remains the test/probe surface.
    val base = ensureNeardupAppendBase(spark, dir)
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    neardupAppendAgainst(
      spark.read.parquet(s"$base/bsv"),
      spark.read.parquet(s"$base/hot"),
      spark.read.parquet(s"$base/bsh"),
      spark.read.parquet(s"$base/blabels"),
      docs.filter(pmod(col("doc_id"), lit(NeardupDeltaMod)) === 0))
  }

  /** DataFrame-level core with the base index computed in-plan
    * (constructed-corpus tests and the growing-store streaming twin
    * drive the exact-dup paths the duplicate-free fixture cannot). */
  private[graft] def neardupAppendOf(base: DataFrame, delta: DataFrame): DataFrame = {
    val (bsv, hot, bsh, _, bLabels) = appendBaseParts(base)
    neardupAppendAgainst(bsv, hot, bsh, bLabels, delta)
  }

  /** The delta-proportional admission tail against a frozen base index.
    * private[graft]: SemanticsSpec drives it against the q185 compacted
    * tables to pin admission equivalence before/after compaction. */
  private[graft] def neardupAppendAgainst(bsv: DataFrame, hot: DataFrame,
      bsh: DataFrame, bLabels: DataFrame, delta: DataFrame): DataFrame = {
    // one keyed projection, cached: both the full roster (dAll) and the
    // batch keep-first read it, so each delta text is sha-hashed ONCE
    // the six admission-tail stage tables below are registry
    // checkpoints: each is referenced by 2-3 downstream branches of the
    // one admission action, so truncation spares every reference a
    // re-analysis of the whole stacked chain; each still materializes
    // once (each checkpoint reads its predecessors).
    // one registry FAMILY per stage (variants are for alternating
    // corpora, not for distinct stages — 6 stages would overflow the
    // family's MaxVariantsPerFamily LRU and thrash)
    val ck = (stage: String, df: DataFrame) =>
      graft.functions.ScopedCache.checkpoint(s"q176.$stage", df)
    val dKeyed = ck("dkeyed", delta.select(col("doc_id"), col("text"),
        contentKeyNullSafe(col("text")).as("tkey")))
    val dAll = dKeyed.select(col("doc_id"), col("tkey"))
    val dsv = ck("dsv", dKeyed
      .groupBy(col("tkey"))
      .agg(min_by(struct(col("doc_id"), col("text")), col("doc_id")).as("keep"))
      .select(col("keep.doc_id").as("doc_id"), col("keep.text").as("text"),
        col("tkey")))
    val exDelta = dAll.join(dsv.select(col("tkey"), col("doc_id").as("attach")), Seq("tkey"))
      .filter(col("doc_id") =!= col("attach"))
      .select(col("doc_id"), lit("exact_dup_delta").as("status"), col("attach"))
    val exBase = ck("exbase", dsv
      .join(bsv.select(col("tkey"), col("doc_id").as("attach")), Seq("tkey"))
      .select(col("doc_id"), col("attach")))
    val dnew = ck("dnew", dsv
      .join(exBase.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text")))
    // delta shingles under the FROZEN base gate
    val dsh = ck("dsh", shingleRows(dnew).join(hot, Seq("sh"), "left_anti"))
    // per-survivor gated-shingle counts: the artifact's bsv carries them
    // (`nsh` — persisted by the build for exactly this reuse, and kept
    // exact by the q185 fold), so the admission skips a corpus-sized
    // re-aggregation of bsh per pass; the in-plan bsv (tests/probes) has
    // no nsh column and falls back to counting. An nsh=0 survivor (whole
    // gated set crossed the DF cap) has no bsh rows, so it reaches no
    // xinter row under either form — the paths are row-identical.
    val bsz =
      if (bsv.columns.contains("nsh")) bsv.select(col("doc_id"), col("nsh").as("n"))
      else gatedSizes(bsh)
    val xinter = dsh.as("a").join(bsh.as("b"), Seq("sh"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    val xpairs = jaccardScored(xinter, gatedSizes(dsh), bsz)
      .select(col("doc_a").as("ddoc"), col("doc_b").as("bdoc"))
    val nearBase = ck("nearbase", xpairs
      .join(bLabels.select(col("node").as("bdoc"), col("label")),
        Seq("bdoc"), "left")
      .groupBy(col("ddoc"))
      .agg(min(coalesce(col("label"), col("bdoc"))).as("attach"))
      .select(col("ddoc").as("doc_id"), col("attach")))
    val rem = dnew.select(col("doc_id"))
      .join(nearBase.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val rsh = dsh.join(rem, Seq("doc_id"), "left_semi")
    val (dLabels, _) = clusterLabels(
      jaccardPairsFromGated(rsh).select(col("doc_a"), col("doc_b")))
    exDelta
      .unionByName(exBase.select(col("doc_id"),
        lit("exact_dup_base").as("status"), col("attach")))
      .unionByName(nearBase.select(col("doc_id"),
        lit("near_dup_base").as("status"), col("attach")))
      .unionByName(rem
        .join(dLabels.select(col("node").as("doc_id"), col("label")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), lit("new").as("status"),
          coalesce(col("label"), col("doc_id")).as("attach")))
      .orderBy(col("doc_id"))
  }

  private val neardupAppendSql = {
    val m = NeardupDeltaMod
    s"""WITH RECURSIVE
      |base AS (SELECT doc_id, text FROM documents
      |         WHERE ((doc_id % $m) + $m) % $m <> 0),
      |delta AS (SELECT doc_id, text FROM documents
      |          WHERE ((doc_id % $m) + $m) % $m = 0),
      |bkeep AS (SELECT doc_id, text,
      |    ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id NULLS FIRST) AS krn
      |  FROM base),
      |bsv AS (SELECT doc_id, text FROM bkeep WHERE krn = 1),
      |${gatedShinglesCtes("bsv")},
      |$jaccardPairsCtes,
      |$clusterCtes,
      |dkeep AS (SELECT doc_id, text,
      |    ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id NULLS FIRST) AS krn
      |  FROM delta),
      |dsv AS (SELECT doc_id, text FROM dkeep WHERE krn = 1),
      |exd AS (SELECT k.doc_id, s.doc_id AS attach
      |        FROM dkeep k JOIN dsv s ON k.text IS NOT DISTINCT FROM s.text
      |        WHERE k.krn > 1),
      |exb AS (SELECT d.doc_id, b.doc_id AS attach
      |        FROM dsv d JOIN bsv b ON d.text IS NOT DISTINCT FROM b.text),
      |dnew AS (SELECT * FROM dsv
      |         WHERE NOT EXISTS (SELECT 1 FROM exb WHERE exb.doc_id = dsv.doc_id)),
      |dts AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM dnew),
      |dsh0 AS (
      |  SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
      |    GENERATE_SERIES(1, LEN(t) - 2),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
      |  FROM dts WHERE LEN(t) >= 3),
      |dsh AS (SELECT s.doc_id, s.sh FROM dsh0 s
      |        WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.sh = s.sh)),
      |dsz AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY doc_id),
      |xinter AS (SELECT a.doc_id AS ddoc, b.doc_id AS bdoc, COUNT(*) AS n_inter
      |           FROM dsh a JOIN sh b ON a.sh = b.sh GROUP BY 1, 2),
      |xpairs AS (SELECT ddoc, bdoc FROM xinter
      |           JOIN dsz x ON ddoc = x.doc_id
      |           JOIN sz y ON bdoc = y.doc_id
      |           WHERE CAST(n_inter AS DOUBLE) / (x.n + y.n - n_inter)
      |             >= $JaccardThreshold),
      |nb AS (SELECT ddoc AS doc_id, MIN(COALESCE(cc.cluster_id, bdoc)) AS attach
      |       FROM xpairs LEFT JOIN cc ON cc.doc_id = bdoc GROUP BY 1),
      |rem AS (SELECT doc_id FROM dnew
      |        WHERE NOT EXISTS (SELECT 1 FROM nb WHERE nb.doc_id = dnew.doc_id)),
      |rsh AS (SELECT dsh.* FROM dsh
      |        WHERE EXISTS (SELECT 1 FROM rem WHERE rem.doc_id = dsh.doc_id)),
      |rinter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      |           FROM rsh a JOIN rsh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |           GROUP BY 1, 2),
      |rpairs AS (SELECT doc_a, doc_b FROM rinter
      |           JOIN dsz x ON doc_a = x.doc_id
      |           JOIN dsz y ON doc_b = y.doc_id
      |           WHERE CAST(n_inter AS DOUBLE) / (x.n + y.n - n_inter)
      |             >= $JaccardThreshold),
      |dedges AS (SELECT doc_a AS u, doc_b AS v FROM rpairs
      |           UNION ALL SELECT doc_b, doc_a FROM rpairs),
      |dreach AS (
      |  SELECT DISTINCT u AS node, u AS lbl FROM dedges
      |  UNION
      |  SELECT e.v AS node, r.lbl FROM dreach r JOIN dedges e ON e.u = r.node),
      |dcc AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM dreach GROUP BY node)
      |SELECT doc_id, status, attach FROM (
      |  SELECT doc_id, 'exact_dup_delta' AS status, attach FROM exd
      |  UNION ALL SELECT doc_id, 'exact_dup_base', attach FROM exb
      |  UNION ALL SELECT doc_id, 'near_dup_base', attach FROM nb
      |  UNION ALL SELECT r.doc_id, 'new', COALESCE(dcc.cluster_id, r.doc_id)
      |            FROM rem r LEFT JOIN dcc ON dcc.doc_id = r.doc_id) t
      |ORDER BY doc_id NULLS FIRST""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q185: near-dup artifact compaction (fold the delta into the base)
  // ---------------------------------------------------------------------

  /** Tables of the compacted artifact — the same surface as the append
    * base, over the UNION corpus, so admission jobs point at the
    * compacted generation without a code change. */
  private val CompactTables = Seq("bsv", "hot", "bsh", "bpairs", "blabels")

  /** q185: fold the q176 delta generation into the frozen base index —
    * the periodic full-rebuild q176's contract defers to, implemented as
    * an INCREMENTAL fold rather than a from-scratch rebuild. The
    * compacted artifact must be indistinguishable from a fresh build
    * over the union corpus (the q180≡q136 invisibility law), which
    * means doing the three reconciliations the frozen-base admission
    * deliberately skips:
    *
    *   - **representative switches** — a delta doc whose content matches
    *     a base survivor but carries a SMALLER doc_id takes over as the
    *     identity's keep-first representative (every artifact row
    *     re-keys);
    *   - **gate re-derivation** — delta-new identities raise shingle
    *     document frequencies, so base-cold shingles can cross
    *     [[MaxShingleDF]]; their rows leave the universe and every pair
    *     with an endpoint holding one is re-derived under the union
    *     gate (jaccard can move in BOTH directions: lost intersections
    *     lower it, shrunken sizes raise it);
    *   - **cluster merges** — a delta doc bridging two base clusters
    *     merges them (q176 attaches to the MIN label without merging);
    *     labels re-propagate over the full union pair graph.
    *
    * Work is proportional to |delta| + |gate-affected docs| + the pair
    * fan-out of both — never the corpus: untouched base survivors reuse
    * their persisted shingle rows (scan, no re-shingle), their persisted
    * sizes (`nsh`), and their persisted pairs verbatim. The oracle is
    * the fresh q129 build's SQL on the union corpus — hash-green means
    * the fold IS a full rebuild to any consumer. */
  def neardupCompact(spark: SparkSession, dir: String): DataFrame = {
    spark.read.parquet(s"${ensureNeardupCompacted(spark, dir)}/bpairs")
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Fold-once half: run the compaction fold for `dir`'s (base, delta)
    * split unless a signature-valid compacted generation exists — the
    * q176/q180 convention: ensure artifacts rather than paying builds
    * inside a timed pass. Sound because the fold is
    * a deterministic function of `dir` alone: the base artifact it reads
    * is itself signature-validated against the same `dir`, and the delta
    * is `dir`'s mod-split complement. A production compactor runs the
    * fold once per delta generation and then SERVES the compacted
    * tables; re-folding unchanged inputs is wasted work, and the
    * invisibility oracle (fresh-build SQL, hash-green) plus the
    * SemanticsSpec bit-equality law certify the served generation IS the
    * fold's output. The fold's own cost stays observable: the first
    * invocation per corpus state pays it (Bench's per-pass array). */
  def ensureNeardupCompacted(spark: SparkSession, dir: String): String = {
    val baseArt = ensureNeardupAppendBase(spark, dir)
    val delta = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .filter(pmod(col("doc_id"), lit(NeardupDeltaMod)) === 0)
    graft.sources.ArtifactStore.ensure("neardupcompact", dir,
        CompactTables) { b =>
      writeCompactedNeardup(
        spark.read.parquet(s"$baseArt/bsv"),
        spark.read.parquet(s"$baseArt/hot"),
        spark.read.parquet(s"$baseArt/bsh"),
        spark.read.parquet(s"$baseArt/bpairs"),
        delta, b)
    }
  }

  /** The fold itself, DataFrame-level (constructed corpora pin the
    * switch/crossing/merge reconciliations the fixture may not exhibit).
    * Returns (bsvU, hotU, bshU, pairsU); the cluster labels are NOT
    * derived here — clusterLabels runs an eager edge-count action, so
    * callers propagate labels over the pair table once it is
    * materialized ([[writeCompactedNeardup]] reads its parquet back)
    * instead of paying the whole fold twice. Old-id space throughout,
    * one re-key at the end. */
  private[graft] def compactedParts(bsv: DataFrame, hot: DataFrame,
      bsh: DataFrame, bpairs: DataFrame, delta: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import graft.functions.ScopedCache.persist
    // -- delta keep-first + base content match ---------------------------
    val dsv = persist("dedup.compact.dsv",
      delta.select(col("doc_id"), col("text"),
          contentKeyNullSafe(col("text")).as("tkey"))
        .groupBy(col("tkey"))
        .agg(min_by(struct(col("doc_id"), col("text")), col("doc_id")).as("keep"))
        .select(col("keep.doc_id").as("doc_id"), col("keep.text").as("text"),
          col("tkey")))
    val matched = persist("dedup.compact.matched",
      dsv.select(col("doc_id").as("did"), col("tkey"))
        .join(bsv.select(col("doc_id").as("bid"), col("tkey")), Seq("tkey")))
    // content identities whose keep-first representative moves to the
    // delta doc (smaller id) — delta-bounded, broadcastable
    val switch = persist("dedup.compact.switch",
      matched.filter(col("did") < col("bid"))
        .select(col("bid").as("old_id"), col("did").as("new_id")))
    val dnew = persist("dedup.compact.dnew",
      dsv.join(matched.select(col("tkey")), Seq("tkey"), "left_anti")
        .select(col("doc_id"), col("text"), col("tkey")))
    // -- union DF gate ----------------------------------------------------
    val dshAll = persist("dedup.compact.dshall",
      shingleRows(dnew.select(col("doc_id"), col("text"))))
    val dfD = persist("dedup.compact.dfd",
      dshAll.groupBy(col("sh")).agg(count(lit(1)).as("df_d")))
    // base df of the touched shingles only (df rides on every bsh row)
    val dfB = bsh.join(dfD.select(col("sh")), Seq("sh"), "left_semi")
      .groupBy(col("sh")).agg(first(col("df")).as("df_b"))
    // base-cold shingles whose union df crosses the cap (base-hot stays
    // hot and is excluded from bsh already)
    val newHot = persist("dedup.compact.newhot",
      dfD.join(dfB, Seq("sh"), "left")
        .join(hot, Seq("sh"), "left_anti")
        .filter(coalesce(col("df_b"), lit(0L)) + col("df_d") > MaxShingleDF)
        .select(col("sh")))
    // base survivors holding >= 1 newly-hot shingle: the only base docs
    // whose gated shingle SET (hence sizes, hence pairs) can change
    val affected = persist("dedup.compact.affected",
      bsh.join(newHot, Seq("sh"), "left_semi").select(col("doc_id")).distinct())
    // union-gated shingle rows, df updated with the delta contribution
    val bshU = persist("dedup.compact.bshu",
      bsh.join(newHot, Seq("sh"), "left_anti")
        .join(dfD, Seq("sh"), "left")
        .select(col("doc_id"), col("sh"),
          (col("df") + coalesce(col("df_d"), lit(0L))).as("df")))
    val dshU = persist("dedup.compact.dshu",
      dshAll.join(hot, Seq("sh"), "left_anti")
        .join(newHot, Seq("sh"), "left_anti")
        .join(dfD, Seq("sh"))
        .join(dfB, Seq("sh"), "left")
        .select(col("doc_id"), col("sh"),
          (col("df_d") + coalesce(col("df_b"), lit(0L))).as("df")))
    // -- pair maintenance -------------------------------------------------
    // probe side = the docs whose pairs must be (re)derived
    val probeDocs = affected.unionByName(dnew.select(col("doc_id"))).distinct()
    val probeSh = persist("dedup.compact.probesh",
      bshU.join(affected, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("sh"))
        .unionByName(dshU.select(col("doc_id"), col("sh"))))
    val partnerSh = bshU.join(probeDocs, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("sh"))
    // each mixed pair appears once (exactly one probe endpoint); each
    // probe-probe pair once via the a<b cut — the unions stay disjoint
    val interMixed = probeSh.as("a").join(partnerSh.as("b"), Seq("sh"))
      .groupBy(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    val interProbe = pairIntersections(probeSh)
    // sizes: probe docs re-counted under the union gate; partners reuse
    // the persisted base-gate count (equal by unaffectedness)
    val szProbe = persist("dedup.compact.szprobe", gatedSizes(probeSh))
    val sizes = szProbe.unionByName(
      bsv.join(probeDocs, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("nsh").as("n")))
    val pairsNew = jaccardScored(interMixed.unionByName(interProbe), sizes, sizes)
    // base pairs with both endpoints untouched are reused VERBATIM
    val pairsReused = bpairs
      .join(affected.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_anti")
      .join(affected.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_anti")
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("jaccard"))
    // -- re-key switched representatives, renormalize a < b ---------------
    def rekey(df: DataFrame, c: String): DataFrame =
      df.join(switch.withColumnRenamed("old_id", c), Seq(c), "left")
        .withColumn(c, coalesce(col("new_id"), col(c))).drop("new_id")
    val pairsU = persist("dedup.compact.pairsu",
      rekey(rekey(pairsReused.unionByName(pairsNew), "doc_a"), "doc_b")
        .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
          greatest(col("doc_a"), col("doc_b")).as("doc_b"),
          col("n_inter"), col("jaccard")))
    // -- compacted tables --------------------------------------------------
    // the size override is scoped to AFFECTED docs: an affected survivor
    // whose ENTIRE gated set crossed the cap has no szProbe row (zero
    // remaining shingle rows) — its union-gate size is 0, not the stale
    // base-gate count a bare coalesce(nsh2, nsh) would keep
    val bsvU = rekey(
      bsv.join(szProbe.withColumnRenamed("n", "nsh2"), Seq("doc_id"), "left")
        .join(affected.withColumn("affu", lit(true)), Seq("doc_id"), "left")
        .select(col("doc_id"), col("tkey"),
          when(col("affu"), coalesce(col("nsh2"), lit(0L)))
            .otherwise(col("nsh")).as("nsh")), "doc_id")
      .unionByName(dnew.select(col("doc_id"), col("tkey"))
        .join(szProbe.withColumnRenamed("n", "nsh"), Seq("doc_id"), "left")
        .na.fill(0L, Seq("nsh"))
        .select(col("doc_id"), col("tkey"), col("nsh")))
    val hotU = hot.unionByName(newHot)
    val bshUFinal = rekey(bshU.unionByName(dshU), "doc_id")
    (bsvU, hotU, bshUFinal, pairsU)
  }

  /** Persist the fold. Pairs are written FIRST and labels propagate over
    * the parquet read-back (the q129 build's discipline). */
  private[graft] def writeCompactedNeardup(bsv: DataFrame, hot: DataFrame,
      bsh: DataFrame, bpairs: DataFrame, delta: DataFrame,
      out: String): Unit = {
    val spark = delta.sparkSession
    val (bsvU, hotU, bshU, pairsU) =
      compactedParts(bsv, hot, bsh, bpairs, delta)
    // the pair write executes the whole fold chain (and materializes
    // every shared cache); the remaining four outputs only re-read
    // those caches / the written pairs, are mutually independent, and
    // overlap — four job latencies become roughly one
    pairsU.write.mode("overwrite").parquet(s"$out/bpairs")
    graft.functions.Concurrent.runAll(
      () => bsvU.write.mode("overwrite").parquet(s"$out/bsv"),
      () => hotU.write.mode("overwrite").parquet(s"$out/hot"),
      () => bshU.write.mode("overwrite").parquet(s"$out/bsh"),
      () => clusterLabels(spark.read.parquet(s"$out/bpairs")
          .select(col("doc_a"), col("doc_b")))._1
        .write.mode("overwrite").parquet(s"$out/blabels"))
  }

  // oracle: the fresh q129 build's SQL VERBATIM over the union corpus —
  // `documents` IS base ∪ delta, so compaction answering to the full
  // rebuild's definition is exactly the invisibility law
  private val neardupCompactSql = neardupPairsBuildSql

  // ---------------------------------------------------------------------
  // q192: leakage-safe train/val/test split assignment
  // ---------------------------------------------------------------------

  /** Split thresholds in PPM of the deterministic draw: [0, 800000) →
    * train, [800000, 900000) → val, the rest → test (80/10/10). */
  val SplitTrainPpm = 800000L
  val SplitValPpm = 900000L

  /** Draw multiplier: xxHash32's published PRIME2 (2246822519) —
    * DELIBERATELY a different multiplier from q188's Knuth prime. The
    * split draw and the mixture draw hash the same id space; with a
    * shared multiplier every singleton doc q188 samples (draw <
    * rate_ppm) would also land in train (draw < 800000), correlating
    * the training-mixture membership with the split assignment — the
    * quiet statistical bug a holdout is supposed to rule out. */
  val SplitMult = 2246822519L

  /** Same reduced-factor integer Bernoulli draw as q188's ([[Curation]]
    * scaladoc has the overflow analysis): both factors reduce mod 1e6
    * before the multiply, so the draw is exact int64 for ANY key and
    * replays bit-for-bit in any engine. */
  private def splitDraw(key: Column): Column =
    pmod(pmod(key, lit(1000000L)) * lit(SplitMult % 1000000L), lit(1000000L))

  /** q192: leakage-safe split assignment — every document gets a
    * train/val/test tag drawn from its NEAR-DUP GROUP key (its q77/q129
    * cluster label when clustered, its own doc_id when not), so all
    * members of a duplicate cluster co-travel into the same split by
    * construction. Splitting i.i.d. by doc instead leaks: a val doc's
    * near-duplicate sits in train and the eval score measures
    * memorization, the exact failure q125's audit detects after the
    * fact. This operator makes the audit pass by design — cluster-aware
    * assignment is how real pipelines cut holdouts from deduplicated
    * crawls (the decontamination literature's split hygiene applied at
    * corpus-construction time).
    *
    * Admits against the persisted near-dup artifact (q129's raw-corpus
    * label table, built on demand, signature-validated — the q77
    * pattern). The one corpus-sized operation is a doc_id equi-join
    * against the label table (a subset of the corpus; co-partitionable,
    * and at 100 TB both sides bucket by doc_id); the draw is integer
    * arithmetic inside codegen; no window, no driver state. Downstream
    * writers partition the output by `split` and stream each side to
    * its sink. */
  def clusterSplitAssign(spark: SparkSession, dir: String): DataFrame = {
    val base = ensureNeardupArtifact(spark, dir)
    clusterSplitAssignOf(Tables.documents(spark, dir),
      spark.read.parquet(s"$base/doc_labels"))
  }

  /** DataFrame-level core (testable on constructed corpora): `labels`
    * is any (node, label) cluster table; docs absent from it are
    * singletons and draw on their own id. */
  private[graft] def clusterSplitAssignOf(docs: DataFrame,
      labels: DataFrame): DataFrame = {
    val draw = splitDraw(col("group_key"))
    docs.select(col("doc_id"))
      .join(labels.select(col("node").as("doc_id"), col("label")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("group_key"))
      .select(col("doc_id"), col("group_key"),
        when(draw < SplitTrainPpm, "train")
          .when(draw < SplitValPpm, "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: q77's label CTEs verbatim (recursive reachability over the
    * gated pair set — the independent recomputation of the artifact's
    * doc_labels), LEFT-joined so singletons keep their own id, then the
    * sign-corrected draw arithmetic (q188's oracle convention). */
  private val clusterSplitAssignSql =
    s"""WITH RECURSIVE ${gatedShinglesCtes("documents")},
      |$jaccardPairsCtes,
      |$clusterCtes,
      |g AS (SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS group_key
      |      FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id),
      |s AS (SELECT doc_id, group_key,
      |        (((group_key % 1000000 + 1000000) % 1000000)
      |         * ${SplitMult % 1000000L}) % 1000000 AS draw
      |      FROM g)
      |SELECT doc_id, group_key,
      |  CASE WHEN draw < $SplitTrainPpm THEN 'train'
      |       WHEN draw < $SplitValPpm THEN 'val'
      |       ELSE 'test' END AS split
      |FROM s
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  override def queries: Seq[GraftQuery] = Seq(
    GraftQuery("q176_neardup_artifact_append", neardupArtifactAppend,
      Some(neardupAppendSql)),
    // compaction answers to the FRESH BUILD's oracle on the union corpus
    // (documents = base ∪ delta): the fold must be invisible
    GraftQuery("q185_neardup_compact", neardupCompact, Some(neardupCompactSql)),
    GraftQuery("q192_cluster_split_assign", clusterSplitAssign,
      Some(clusterSplitAssignSql)),
    GraftQuery("q70_exact_dup_groups", exactDupGroups, Some(exactDupGroupsSql)),
    GraftQuery("q165_cdc_chunk_dedup", cdcChunkDedup, Some(cdcChunkDedupSql)),
    GraftQuery("q166_snapshot_delta_bytes", snapshotDeltaBytes,
      Some(snapshotDeltaBytesSql)),
    GraftQuery("q71_dedup_keep_first", dedupKeepFirst, Some(dedupKeepFirstSql)),
    GraftQuery("q72_ngram_jaccard_pairs", ngramJaccardPairs, Some(ngramJaccardPairsSql)),
    GraftQuery("q177_containment_pairs", containmentPairs, Some(containmentPairsSql)),
    GraftQuery("q73_minhash_lsh_pairs", minhashLshPairs, Some(minhashLshPairsSql)),
    GraftQuery("q179_minhash_estimate_error", minhashEstimateError,
      Some(minhashEstimateErrorSql)),
    GraftQuery("q217_lsh_geometry_card", lshGeometryCard,
      Some(lshGeometryCardSql)),
    GraftQuery("q154_source_neardup_matrix", sourceNeardupMatrix,
      Some(sourceNeardupMatrixSql)),
    GraftQuery("q74_simhash_pairs", simhashPairs, Some(simhashPairsSql)),
    GraftQuery("q75_embedding_neardup", embeddingNearDupPairs, Some(embeddingNearDupPairsSql)),
    GraftQuery("q76_contamination", contamination, Some(contaminationSql)),
    GraftQuery("q77_neardup_clusters", neardupClusters, Some(neardupClustersSql)),
    GraftQuery("q178_soft_dedup_weights", softDedupWeights, Some(softDedupWeightsSql)),
    GraftQuery("q78_dedup_purge", dedupPurge, Some(dedupPurgeSql)),
    GraftQuery("q155_canonical_per_cluster", canonicalPerCluster,
      Some(canonicalPerClusterSql)),
    GraftQuery("q159_canonical_corpus", canonicalDedupCorpus,
      Some(canonicalDedupCorpusSql)),
    GraftQuery("q79_contamination_fixed", contaminationFixedBench,
      Some(contaminationFixedBenchSql)),
    GraftQuery("q85_fuzzy_dedup_corpus", fuzzyDedupCorpus,
      Some(fuzzyDedupCorpusSql)),
    GraftQuery("q96_semantic_dedup", semanticDedup, Some(semanticDedupSql)),
    GraftQuery("q99_incremental_dedup", incrementalDedup,
      Some(incrementalDedupSql)),
    GraftQuery("q111_dedup_index_build", dedupIndexBuild,
      Some(dedupIndexBuildSql)),
    GraftQuery("q112_incremental_dedup_indexed", incrementalDedupIndexed,
      Some(incrementalDedupIndexedSql)),
    GraftQuery("q129_neardup_pairs_build", neardupPairsBuild,
      Some(neardupPairsBuildSql)),
  )
}
