package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Dev probe for the two BUILD operators (q129 near-dup artifact, q108
  * IVF-PQ index) — the jobs that dominate a 100 TB deployment, which the
  * query-shape ScaleProbe does not cover. Times the end-to-end build on
  * N shifted copies of the sf corpus (doc/vec ids shifted per copy so
  * distinct-entity cardinality grows with the data, like a real larger
  * corpus). Where one build's seconds go, stage by stage, is
  * [[graft.tools.Profile]]'s job (q108, q129). Not part of the library
  * surface.
  *
  * Usage: runMain graft.tools.BuildProbe [sfDir] [copies] [probe...]
  */
object BuildProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.lift(1).map(_.toInt).getOrElse(1)
    val only = args.drop(2).toSeq
    val spark = graft.GraftSession.get("graft-build-probe")
    spark.range(1000000).selectExpr("sum(id)").collect()

    def docsN: DataFrame = {
      val d = Tables.documents(spark, dir)
      if (copies == 1) d
      else (1 to copies).map(i =>
        // shift ids AND make each copy's text distinct (a suffix token):
        // an unshifted-text replica would be one giant exact-dup group
        // per source doc, which is a DIFFERENT corpus shape than "N×
        // more documents" (kept as its own probe below)
        d.withColumn("doc_id", col("doc_id") + lit(i.toLong * 10000000L))
          .withColumn("text", concat(col("text"), lit(s" probecopy$i")))
      ).reduce(_ unionByName _)
    }

    def embN: DataFrame = {
      val e = Tables.embeddings(spark, dir)
      if (copies == 1) e
      else (1 to copies).map(i =>
        e.withColumn("vec_id", col("vec_id") + lit(i.toLong * 10000000L))
      ).reduce(_ unionByName _)
    }

    def clearCaches(): Unit = {
      graft.functions.ScopedCache.clear(blocking = true)
      spark.catalog.clearCache()
      System.gc()
    }

    def rmrf(path: String): Unit = {
      def rec(f: java.io.File): Unit = {
        Option(f.listFiles()).toSeq.flatten.foreach(rec); f.delete(); ()
      }
      rec(new java.io.File(path))
    }

    def time(name: String)(f: => Long): Unit =
      if (only.isEmpty || only.exists(name.startsWith)) {
        clearCaches()
        val t0 = System.nanoTime()
        val n = f
        println(f"[build] $name%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
      }

    // ---- near-dup artifact build (q129 shape), end to end -------------
    time(s"neardup_build_${copies}x") {
      val base = "/tmp/graft_probe_neardup"
      rmrf(base)
      graft.operators.Dedup.writeNeardupArtifactOf(docsN, base)
      spark.read.parquet(s"$base/doc_labels").count()
    }
    // same build again, caches cleared but JIT/codegen warm — the cost a
    // bench pass (median of 3, passes 2-3) actually measures; the delta
    // vs the row above is JVM warmup, not dataflow
    time(s"neardup_build_${copies}x_warm") {
      val base = "/tmp/graft_probe_neardup"
      rmrf(base)
      graft.operators.Dedup.writeNeardupArtifactOf(docsN, base)
      spark.read.parquet(s"$base/doc_labels").count()
    }

    // exact-dup-heavy variant: N verbatim copies (every doc becomes a
    // group of N exact duplicates) — exercises the weighted-gate path
    // and the derived blow-up under real duplication
    if (copies > 1) time(s"neardup_build_dups_${copies}x") {
      val d = Tables.documents(spark, dir)
      val dup = (1 to copies).map(i =>
        d.withColumn("doc_id", col("doc_id") + lit(i.toLong * 10000000L))
      ).reduce(_ unionByName _)
      val base = "/tmp/graft_probe_neardup_dups"
      rmrf(base)
      graft.operators.Dedup.writeNeardupArtifactOf(dup, base)
      spark.read.parquet(s"$base/doc_labels").count()
    }

    // ---- IVF-PQ index build (q108 shape), end to end ------------------
    time(s"ivfpq_build_${copies}x") {
      val base = "/tmp/graft_probe_ivfpq"
      rmrf(base)
      graft.operators.Similarity.writeIvfPqIndex(embN, base)
      spark.read.parquet(s"$base/codes").count()
    }

    // ---- delta index (q135 shape): full build, then the MARGINAL append
    // job — encode-only against the persisted models. The append number
    // must scale with the BATCH (20% of the corpus here), never pay the
    // training loops; at a fixed batch size it would be flat in corpus
    // size, since the corpus appears nowhere in its plan.
    val deltaBase = "/tmp/graft_probe_ivfpq_delta"
    time(s"ivfpq_delta_build_${copies}x") {
      rmrf(deltaBase)
      graft.operators.Similarity.writeIvfPqDeltaIndex(embN, deltaBase)
      spark.read.parquet(s"$deltaBase/codes_delta").count()
    }
    // depends on the delta build's artifact directly above
    time(s"ivfpq_append_encode_${copies}x") {
      val batch = embN.filter(
        pmod(col("vec_id"), lit(graft.operators.Similarity.DeltaSplitMod)) === 0L)
      graft.operators.Similarity.appendSegment(batch, deltaBase, "delta2")
      spark.read.parquet(s"$deltaBase/codes_delta2").count()
    }

    // r10 span-index lifecycle: the build pays the train-side explode
    // once; the screen pays only the eval/batch side against the stored
    // hashes. The contrast row is inline q138 (train re-derived every
    // run) vs q153-style screen-only on the same corpus.
    import java.nio.file.{Files, Paths}
    val spanBase = graft.sources.ArtifactStore.path("spanprobe", dir) + s"-$copies"
    time(s"span_index_build_${copies}x") {
      val d = docsN
      val train = d.filter(pmod(col("doc_id"), lit(10L)) < 8)
      graft.functions.GraftFunctions.ensureRegistered(spark)
      Files.createDirectories(Paths.get(spanBase))
      train.select(col("doc_id"),
          explode(array_distinct(expr("graft_spans_poly(text)"))).as("span"))
        .select(col("span")).distinct()
        .write.mode("overwrite").parquet(s"$spanBase/train_spans")
      spark.read.parquet(s"$spanBase/train_spans").count()
    }
    time(s"span_screen_only_${copies}x") {
      val evalBatch = docsN.filter(pmod(col("doc_id"), lit(10L)) >= 8)
      graft.operators.SpanDedup.screenBatch(evalBatch, spanBase).count()
    }
    time(s"span_inline_audit_${copies}x") {
      graft.operators.SpanDedup.decontaminateOf(docsN).count()
    }

    // r12 BM25 posting lifecycle: the build pays the full tokenize +
    // explode + (doc, term) count over ALL terms once; the steady pass
    // is the term-pushed posting scan + broadcast score/rank tail. The
    // contrast row is inline q183 (corpus re-tokenized per query).
    val bm25Base = "/tmp/graft_probe_bm25"
    time(s"bm25_posting_build_${copies}x") {
      rmrf(bm25Base)
      val base = docsN.select(col("doc_id"), split(col("text"), " ").as("tk"))
      base.select(col("doc_id"), size(col("tk")).as("dl"),
          explode(col("tk")).as("tok"))
        .groupBy(col("doc_id"), col("dl"), col("tok"))
        .agg(count(lit(1)).as("tf"))
        .write.mode("overwrite").parquet(s"$bm25Base/postings")
      spark.read.parquet(s"$bm25Base/postings")
        .groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(s"$bm25Base/term_df")
      base.agg(count(lit(1)).as("n_docs"), avg(size(col("tk"))).as("avgdl"))
        .write.mode("overwrite").parquet(s"$bm25Base/stats")
      spark.read.parquet(s"$bm25Base/postings").count()
    }
    time(s"bm25_steady_rank_${copies}x") {
      val terms = graft.operators.TextOps.Bm25QueryTerms
      graft.operators.TextOps.bm25ScoreTailProbe(
        spark.read.parquet(s"$bm25Base/postings")
          .filter(col("tok").isin(terms: _*)),
        spark.read.parquet(s"$bm25Base/term_df")
          .filter(col("tok").isin(terms: _*)),
        spark.read.parquet(s"$bm25Base/stats")).count()
    }
    time(s"bm25_inline_rank_${copies}x") {
      graft.operators.TextOps.bm25RankOf(
        docsN.select(col("doc_id"), col("text"))).count()
    }

    spark.stop()
  }
}
