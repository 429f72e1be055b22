package graft.tools

import org.apache.spark.sql.DataFrame

import graft.operators.{Curation, TextOps}
import graft.sources.Tables

/** Dev probe for the r17 optimization round: times the SUB-STAGES of the
  * expensive query families (noop sink, cache-cleared between passes,
  * alternating so ambient load hits every stage evenly) so optimization
  * effort lands where the seconds actually are (guide §1.1 — empirical
  * loop). Usage: runMain graft.tools.OptProbe [sfDir] [probe] [reps]
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val probe = args.lift(1).getOrElse("cal")
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = graft.GraftSession.get("graft-opt-probe")
    spark.range(1000000).selectExpr("sum(id)").collect()

    def settle(): Unit = {
      graft.functions.ScopedCache.clear(blocking = true)
      spark.catalog.clearCache()
      System.gc()
      Thread.sleep(100)
    }

    val docs = Tables.documents(spark, dir)

    def timeStage(name: String)(f: => DataFrame): Double = {
      settle()
      val t0 = System.nanoTime()
      f.write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[opt] $name%-28s $s%7.3f s")
      s
    }

    val stages: Seq[(String, () => DataFrame)] = probe match {
      case "cal" =>
        // plain val, forced HERE: a lazy val would defer ensureLrModel +
        // the weight load into the first timed stage that references it
        // (ADVICE r17)
        val w = {
          // model-sized artifact load, outside the timed stages
          val base = Curation.ensureLrModel(spark, dir)
          spark.read.parquet(s"$base/weights")
            .orderBy(org.apache.spark.sql.functions.col("dim"))
            .collect().map(_.getDouble(1))
        }
        Seq(
          "idf-only" -> (() => TextOps.hashedIdfOf(
            docs.selectExpr("doc_id", "text"))),
          "vectors-long" -> (() => TextOps.hashedDocVectorsOf(
            docs.selectExpr("doc_id", "text"))),
          "lrDense" -> (() => Curation.lrDense(docs)),
          "quality-labels" -> (() => TextOps.qualityScoresOf(docs)),
          "marginLabels" -> (() => Curation.lrMarginLabels(docs, w)),
          "q213-card" -> (() => Curation.lrCalibrationCard(spark, dir)),
          "q215-full" -> (() => Curation.plattRecalibration(spark, dir)),
          "q224-full" -> (() => Curation.calibrationMethodCard(spark, dir)),
        )
      case "platt" =>
        // isolate the GD loop: zy cached + counted OUTSIDE the timed
        // region, then time the 12 sequential 1-row collect steps alone
        val w = {
          val base = Curation.ensureLrModel(spark, dir)
          spark.read.parquet(s"$base/weights")
            .orderBy(org.apache.spark.sql.functions.col("dim"))
            .collect().map(_.getDouble(1))
        }
        import org.apache.spark.sql.functions.col
        for (i <- 1 to reps) {
          settle()
          val zy = graft.functions.ScopedCache.persist("q215.zy",
            Curation.lrMarginLabels(docs, w).select(col("z"), col("y")))
          zy.count()
          var t0 = System.nanoTime()
          val ab = Curation.plattFit(zy)
          println(f"[opt] plattFit-loop #$i            ${(System.nanoTime() - t0) / 1e9}%7.3f s  -> $ab")
          // lineage-truncated twin: plan per step over a 5-node tree
          t0 = System.nanoTime()
          val zyC = graft.functions.ScopedCache.truncate(zy, eager = true)
          val ab2 = Curation.plattFit(zyC)
          println(f"[opt] plattFit-ckpt #$i            ${(System.nanoTime() - t0) / 1e9}%7.3f s  -> $ab2 equal=${ab == ab2}")
          graft.functions.ScopedCache.releaseCheckpoint(zyC)
        }
        Seq.empty
      case "jobcost" =>
        // decompose the per-step cost: reused plan vs fresh plan with
        // changed literals, over the same cached 2-column table
        import org.apache.spark.sql.functions._
        val w = {
          val base = Curation.ensureLrModel(spark, dir)
          spark.read.parquet(s"$base/weights")
            .orderBy(col("dim")).collect().map(_.getDouble(1))
        }
        val zy = graft.functions.ScopedCache.persist("q215.zy",
          Curation.lrMarginLabels(docs, w).select(col("z"), col("y")))
        zy.count()
        println(s"[opt] zy partitions: ${zy.rdd.getNumPartitions}, rows: ${zy.count()}")
        for (r <- 1 to reps) {
          val fixed = zy.select(col("z"),
            (col("y") - lit(1.0) / (lit(1.0) + exp(-round(lit(1.0) * col("z") + lit(0.0), 6)))).as("err"))
            .agg(sum((col("z") * col("err")).cast(org.apache.spark.sql.types.DecimalType(38, 12))).as("ga"),
              sum(col("err").cast(org.apache.spark.sql.types.DecimalType(38, 12))).as("gb"))
          var t0 = System.nanoTime()
          for (_ <- 1 to 12) fixed.collect()
          println(f"[opt] reused-plan 12x #$r         ${(System.nanoTime() - t0) / 1e9}%7.3f s")
          t0 = System.nanoTime()
          var a = 1.0; var b = 0.0
          for (i <- 1 to 12) {
            a += 1e-9 // force literal change
            zy.select(col("z"),
              (col("y") - lit(1.0) / (lit(1.0) + exp(-round(lit(a) * col("z") + lit(b), 6)))).as("err"))
              .agg(sum((col("z") * col("err")).cast(org.apache.spark.sql.types.DecimalType(38, 12))).as("ga"),
                sum(col("err").cast(org.apache.spark.sql.types.DecimalType(38, 12))).as("gb"))
              .collect()
          }
          println(f"[opt] fresh-plan 12x #$r          ${(System.nanoTime() - t0) / 1e9}%7.3f s")
          spark.conf.set("spark.sql.adaptive.enabled", "false")
          t0 = System.nanoTime()
          a = 1.0; b = 0.0
          for (i <- 1 to 12) {
            a += 1e-9
            zy.select(col("z"),
              (col("y") - lit(1.0) / (lit(1.0) + exp(-round(lit(a) * col("z") + lit(b), 6)))).as("err"))
              .agg(sum((col("z") * col("err")).cast(org.apache.spark.sql.types.DecimalType(38, 12))).as("ga"),
                sum(col("err").cast(org.apache.spark.sql.types.DecimalType(38, 12))).as("gb"))
              .collect()
          }
          println(f"[opt] fresh-noAQE 12x #$r         ${(System.nanoTime() - t0) / 1e9}%7.3f s")
          spark.conf.set("spark.sql.adaptive.enabled", "true")
        }
        Seq.empty
      case "fused" =>
        // ONE linear plan for the 12 GD steps: params (a, b, n) carried
        // through each aggregate as group keys, each step referencing the
        // previous exactly once. Compare (a, b) bit-for-bit vs the
        // driver loop, then time.
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.types.{DecimalType, DoubleType}
        val w = {
          val base = Curation.ensureLrModel(spark, dir)
          spark.read.parquet(s"$base/weights")
            .orderBy(col("dim")).collect().map(_.getDouble(1))
        }
        val zy = graft.functions.ScopedCache.persist("q215.zy",
          Curation.lrMarginLabels(docs, w).select(col("z"), col("y")))
        zy.count()
        def fusedParams(steps: Int): DataFrame = {
          var p = zy.agg(count(lit(1)).cast(DoubleType).as("n"))
            .select(lit(1.0).as("a"), lit(0.0).as("b"), col("n"))
          for (_ <- 1 to steps) {
            val lin = round(col("a") * col("z") + col("b"), 6)
            p = zy.crossJoin(broadcast(p))
              .select(col("a"), col("b"), col("n"), col("z"),
                (col("y") - lit(1.0) / (lit(1.0) + exp(-lin))).as("err"))
              .groupBy(col("a"), col("b"), col("n"))
              .agg(sum((col("z") * col("err")).cast(DecimalType(38, 12))).as("ga"),
                sum(col("err").cast(DecimalType(38, 12))).as("gb"))
              .select(round(col("a") + col("ga").cast(DoubleType) / col("n"), 6).as("a"),
                round(col("b") + col("gb").cast(DoubleType) / col("n"), 6).as("b"),
                col("n"))
          }
          p
        }
        val drv = Curation.plattFit(zy)
        val fr = fusedParams(12).collect()(0)
        val fused = (fr.getDouble(0), fr.getDouble(1))
        println(s"[opt] driver=(${drv._1},${drv._2}) fused=(${fused._1},${fused._2}) equal=${drv == fused}")
        for (r <- 1 to reps) {
          var t0 = System.nanoTime()
          Curation.plattFit(zy)
          println(f"[opt] driver-loop #$r             ${(System.nanoTime() - t0) / 1e9}%7.3f s")
          t0 = System.nanoTime()
          fusedParams(12).collect()
          println(f"[opt] fused-chain #$r             ${(System.nanoTime() - t0) / 1e9}%7.3f s")
          spark.conf.set("spark.sql.adaptive.enabled", "false")
          t0 = System.nanoTime()
          fusedParams(12).collect()
          println(f"[opt] fused-noAQE #$r             ${(System.nanoTime() - t0) / 1e9}%7.3f s")
          t0 = System.nanoTime()
          Curation.plattFit(zy)
          println(f"[opt] driver-noAQE #$r            ${(System.nanoTime() - t0) / 1e9}%7.3f s")
          spark.conf.set("spark.sql.adaptive.enabled", "true")
        }
        Seq.empty
      case "dense" =>
        // fuse vectorsFromCounts+denseFromVec: ONE groupBy(doc_id) with 32
        // per-dim decimal sums, norm + rounding computed per row.
        // Verify exact equality vs Curation.lrDense, then time.
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.types.{DecimalType, DoubleType}
        graft.functions.GraftFunctions.ensureRegistered(spark)
        val D = TextOps.HashedVecDims
        def denseFused(d: DataFrame): DataFrame = {
          val idf = TextOps.hashedIdfOf(d.select(col("doc_id"), col("text")))
          val tc = d.select(col("doc_id"),
              explode(split(col("text"), " ")).as("tok"))
            .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
          val comp = tc.join(idf, Seq("tok"))
            .withColumn("th", expr("graft_tokhash(tok)"))
            .select(col("doc_id"),
              pmod(col("th"), lit(D.toLong)).cast(org.apache.spark.sql.types.IntegerType).as("dim"),
              (when(pmod(expr(s"th div $D"), lit(2L)) === 0L, lit(1)).otherwise(lit(-1))
                * col("cnt") * col("idf")).cast(DecimalType(38, 12)).as("term"))
          val aggCols = (0 until D).map(j =>
            sum(when(col("dim") === j, col("term"))).as(s"w$j"))
          val sums = comp.groupBy(col("doc_id"))
            .agg(aggCols.head, aggCols.tail: _*)
          val w2 = (0 until D).map { j =>
            val wd = coalesce(col(s"w$j").cast(DoubleType), lit(0.0))
            (wd * wd).cast(DecimalType(38, 12))
          }.reduce(_ + _)
          val nrm = sqrt(coalesce(w2.cast(DoubleType), lit(0.0)))
          val xs = array((0 until D).map(j =>
            coalesce(round(col(s"w$j").cast(DoubleType) / col("nrm"), 6), lit(0.0))) :+ lit(1.0): _*)
          sums.withColumn("nrm", nrm)
            .filter(col("nrm") > 0)
            .select(col("doc_id"), xs.as("xs"))
        }
        val a = Curation.lrDense(docs).collect()
          .map(r => Option(r.get(0)) -> r.getSeq[Double](1)).toMap
        val b = denseFused(docs).collect()
          .map(r => Option(r.get(0)) -> r.getSeq[Double](1)).toMap
        println(s"[opt] dense equal=${a == b} (n=${a.size} vs ${b.size})")
        if (a != b) {
          val bad = a.keys.filter(k => b.get(k) != a.get(k)).take(3)
          bad.foreach(k => println(s"[opt]   doc $k\n  old=${a(k)}\n  new=${b.get(k)}"))
        }
        for (r <- 1 to reps) {
          settle()
          var t0 = System.nanoTime()
          Curation.lrDense(docs).write.format("noop").mode("overwrite").save()
          println(f"[opt] lrDense-old #$r             ${(System.nanoTime() - t0) / 1e9}%7.3f s")
          settle()
          t0 = System.nanoTime()
          denseFused(docs).write.format("noop").mode("overwrite").save()
          println(f"[opt] lrDense-fused #$r           ${(System.nanoTime() - t0) / 1e9}%7.3f s")
        }
        Seq.empty
      case "surp" | "surp10" =>
        // r18 VERDICT #1: the q207/q103 stat branches re-execute the
        // tokenize+explode chain per reference. Window-based single-pass
        // stats vs the shipped aggregate-join stats, alternating in one
        // session; exact row equality asserted before timing.
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.types.{DecimalType, DoubleType}
        import org.apache.spark.sql.expressions.Window
        val KnD = TextOps.KnDiscount
        def bgOf(d: DataFrame) = d
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .filter(size(col("t")) >= 2)
          .withColumn("p", explode(expr(
            "transform(sequence(1, size(t) - 1), " +
              "i -> struct(element_at(t, i) AS l, element_at(t, i + 1) AS r))")))
          .select(col("doc_id"), col("p.l").as("l"), col("p.r").as("r"))
          .groupBy(col("doc_id"), col("l"), col("r")).agg(count(lit(1)).as("cnt"))
        def scoreTail(bg: DataFrame, probs: DataFrame, outCol: String): DataFrame = {
          val term = (col("cnt").cast(DoubleType) * log(col("p")))
            .cast(DecimalType(38, 12))
          bg.join(probs, Seq("l", "r"))
            .groupBy(col("doc_id"))
            .agg(sum(col("cnt")).as("n_bigrams"), sum(term).as("s"))
            .select(col("doc_id"), col("n_bigrams"),
              round(-col("s").cast(DoubleType) / col("n_bigrams"), 6).as(outCol))
            .orderBy(col("doc_id"))
        }
        def rows(df: DataFrame) = df.collect().map(r =>
          (Option(r.get(0)), r.getLong(1), r.getDouble(2))).toSeq
        // surp = 1x fixture; surp10 = 10 doc_id-shifted copies (the
        // ScaleProbe enlargement: distinct docs scale, pair vocabulary
        // stays Zipf-shaped) — where the re-executed corpus scans are
        // expected to separate the variants
        val dd =
          if (probe == "surp") docs.select(col("doc_id"), col("text"))
          else (1 to 10).map(i => docs.select(
              (col("doc_id") + lit(i.toLong * 1000000000000L)).as("doc_id"),
              col("text")))
            .reduce(_ unionByName _)
        // r18 SHIPPED the window forms in TextOps, so "old" is now the
        // inline copy of the former aggregate-join shape and "new" is the
        // shipped code — the probe stays a true old-vs-new paired A/B.
        def rawOld(d: DataFrame): DataFrame = {
          val bg = bgOf(d)
          val pair = bg.groupBy(col("l"), col("r")).agg(sum(col("cnt")).as("pair_cnt"))
          val left = pair.groupBy(col("l")).agg(sum(col("pair_cnt")).as("left_cnt"))
          val probs = pair.join(left, Seq("l"))
            .select(col("l"), col("r"),
              (col("pair_cnt").cast(DoubleType) / col("left_cnt")).as("p"))
          scoreTail(bg, probs, "avg_bigram_surprisal_nats")
        }
        def knOld(d: DataFrame): DataFrame = {
          val bg = bgOf(d)
          val pair = bg.groupBy(col("l"), col("r")).agg(sum(col("cnt")).as("pair_cnt"))
          val left = pair.groupBy(col("l")).agg(sum(col("pair_cnt")).as("left_cnt"),
            count(lit(1)).as("n1_left"))
          val cont = pair.groupBy(col("r")).agg(count(lit(1)).as("n1_right"))
          val tot = pair.agg(count(lit(1)).as("n_types"))
          val probs = pair.join(left, Seq("l")).join(cont, Seq("r"))
            .crossJoin(broadcast(tot))
            .select(col("l"), col("r"),
              (greatest(col("pair_cnt").cast(DoubleType) - lit(KnD), lit(0.0))
                  / col("left_cnt")
                + (lit(KnD) * col("n1_left") / col("left_cnt"))
                  * (col("n1_right").cast(DoubleType) / col("n_types"))).as("p"))
          scoreTail(bg, probs, "avg_smoothed_surprisal_nats")
        }
        println(s"[opt] q207 equal=${rows(TextOps.smoothedBigramSurprisalOf(dd)) == rows(knOld(dd))}")
        println(s"[opt] q103 equal=${rows(TextOps.bigramSurprisalOf(dd)) == rows(rawOld(dd))}")
        val accS = scala.collection.mutable.LinkedHashMap.empty[String, List[Double]]
        for (r <- 1 to reps) {
          for ((nm, f) <- Seq[(String, () => DataFrame)](
            "q207-old" -> (() => knOld(dd)),
            "q207-new" -> (() => TextOps.smoothedBigramSurprisalOf(dd)),
            "q103-old" -> (() => rawOld(dd)),
            "q103-new" -> (() => TextOps.bigramSurprisalOf(dd)))) {
            settle()
            val t0 = System.nanoTime()
            f().write.format("noop").mode("overwrite").save()
            val s = (System.nanoTime() - t0) / 1e9
            println(f"[opt] $nm%-12s #$r   $s%7.3f s")
            accS(nm) = s :: accS.getOrElse(nm, Nil)
          }
        }
        accS.foreach { case (n, ts) => println(f"[opt] $n%-14s min ${ts.min}%7.3f") }
        Seq.empty
      case "bgpair" =>
        // side-by-side q207-shaped chain: uncached (current) vs with the
        // vocab-level pair rollup pinned, alternating passes in one
        // session so ambient load hits both evenly
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.types.{DecimalType, DoubleType}
        val KnDiscount = 0.75
        def bg0 = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
          .filter(size(col("t")) >= 2)
          .withColumn("p", explode(expr(
            "transform(sequence(1, size(t) - 1), " +
              "i -> struct(element_at(t, i) AS l, element_at(t, i + 1) AS r))")))
          .select(col("doc_id"), col("p.l").as("l"), col("p.r").as("r"))
          .groupBy(col("doc_id"), col("l"), col("r"))
          .agg(count(lit(1)).as("cnt"))
        def chain(pinPair: Boolean): DataFrame = {
          val bg = bg0
          val pair0 = bg.groupBy(col("l"), col("r")).agg(sum(col("cnt")).as("pair_cnt"))
          val pair = if (pinPair)
            graft.functions.ScopedCache.persist("probe.bgpair", pair0) else pair0
          val left = pair.groupBy(col("l")).agg(sum(col("pair_cnt")).as("left_cnt"),
            count(lit(1)).as("n1_left"))
          val cont = pair.groupBy(col("r")).agg(count(lit(1)).as("n1_right"))
          val tot = pair.agg(count(lit(1)).as("n_types"))
          val probs = pair.join(left, Seq("l")).join(cont, Seq("r"))
            .crossJoin(broadcast(tot))
            .select(col("l"), col("r"),
              (greatest(col("pair_cnt").cast(DoubleType) - lit(KnDiscount), lit(0.0))
                  / col("left_cnt")
                + (lit(KnDiscount) * col("n1_left") / col("left_cnt"))
                  * (col("n1_right").cast(DoubleType) / col("n_types"))).as("p"))
          val term = (col("cnt").cast(DoubleType) * log(col("p")))
            .cast(DecimalType(38, 12))
          bg.join(probs, Seq("l", "r"))
            .groupBy(col("doc_id"))
            .agg(sum(col("cnt")).as("n_bigrams"), sum(term).as("s"))
            .select(col("doc_id"), col("n_bigrams"),
              round(-col("s").cast(DoubleType) / col("n_bigrams"), 6)
                .as("x"))
            .orderBy(col("doc_id"))
        }
        val accP = scala.collection.mutable.Map.empty[String, List[Double]]
        for (r <- 1 to reps) {
          for ((nm, pin) <- Seq("uncached" -> false, "pinned-pair" -> true)) {
            settle()
            val t0 = System.nanoTime()
            chain(pin).write.format("noop").mode("overwrite").save()
            val s = (System.nanoTime() - t0) / 1e9
            println(f"[opt] q207-chain $nm%-12s #$r   $s%7.3f s")
            accP(nm) = s :: accP.getOrElse(nm, Nil)
          }
        }
        accP.foreach { case (n, ts) => println(f"[opt] $n%-14s min ${ts.min}%7.3f") }
        Seq.empty
      case "normwin" =>
        // q198 kernel alternative: per-doc L2 norm via a window over comp
        // instead of groupBy+join — one comp execution, one exchange
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType}
        import org.apache.spark.sql.expressions.Window
        graft.functions.GraftFunctions.ensureRegistered(spark)
        val D = TextOps.HashedVecDims
        def vectorsWin(d: DataFrame): DataFrame = {
          val idf = TextOps.hashedIdfOf(d)
          val tc = d.select(col("doc_id"),
              explode(split(col("text"), " ")).as("tok"))
            .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
          val comp = tc.join(idf, Seq("tok"))
            .withColumn("th", expr("graft_tokhash(tok)"))
            .select(col("doc_id"),
              pmod(col("th"), lit(D.toLong)).cast(IntegerType).as("dim"),
              (when(pmod(expr(s"th div $D"), lit(2L)) === 0L, lit(1)).otherwise(lit(-1))
                * col("cnt") * col("idf")).cast(DecimalType(38, 12)).as("term"))
            .groupBy(col("doc_id"), col("dim"))
            .agg(sum(col("term")).as("w"))
          val wd = col("w").cast(DoubleType)
          comp
            .withColumn("nrm", sqrt(sum((wd * wd).cast(DecimalType(38, 12)))
              .over(Window.partitionBy(col("doc_id"))).cast(DoubleType)))
            .filter(col("nrm") > 0)
            .select(col("doc_id"), col("dim"), round(wd / col("nrm"), 6).as("w"))
            .orderBy(col("doc_id"), col("dim"))
        }
        val dd = docs.select(col("doc_id"), col("text"))
        val a = TextOps.hashedDocVectorsOf(dd).collect()
          .map(r => (Option(r.get(0)), r.getInt(1)) -> r.getDouble(2)).toMap
        val b = vectorsWin(dd).collect()
          .map(r => (Option(r.get(0)), r.getInt(1)) -> r.getDouble(2)).toMap
        println(s"[opt] vectors equal=${a == b} (n=${a.size} vs ${b.size})")
        for (r <- 1 to reps) {
          settle()
          var t0 = System.nanoTime()
          TextOps.hashedDocVectorsOf(dd).write.format("noop").mode("overwrite").save()
          println(f"[opt] vectors-old #$r             ${(System.nanoTime() - t0) / 1e9}%7.3f s")
          settle()
          t0 = System.nanoTime()
          vectorsWin(dd).write.format("noop").mode("overwrite").save()
          println(f"[opt] vectors-win #$r             ${(System.nanoTime() - t0) / 1e9}%7.3f s")
        }
        Seq.empty
      case "plantime" =>
        // pure planning cost (analysis+optimization+physical) per query,
        // no execution — where the Catalyst tax is
        val qs = graft.SparkEntry.queries
        val names = Seq("q217_lsh_geometry_card", "q224_calibration_method_card",
          "q225_ccnet_funnel", "q221_ccnet_corpus", "q227_ccnet_training_chunks",
          "q204_classifier_eval", "q208_ann_method_card", "q229_decontam_method_card",
          "q160_curation_funnel", "q163_rejection_audit", "q176_neardup_artifact_append",
          "q129_neardup_pairs_build", "q182_semdedup_prune", "q205_bpe_train",
          "q108_ivfpq_index_build", "q211_perplexity_buckets", "q206_threshold_sweep")
        for (n <- names) {
          settle()
          val t0 = System.nanoTime()
          // NOTE: building the DataFrame itself may run driver loops
          // (training collects) — that cost shows here too, split out by
          // the build timestamp
          val df = qs(n)(spark, dir)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan
          val t2 = System.nanoTime()
          println(f"[opt] $n%-32s build ${(t1 - t0) / 1e9}%6.2f s  plan ${(t2 - t1) / 1e9}%6.2f s")
        }
        Seq.empty
      case "q204" =>
        import org.apache.spark.sql.functions._
        val bucket = pmod(col("doc_id"), lit(10L))
        val train = docs.filter(bucket < 8)
        Seq(
          "train-lrQualityTrainOf" -> (() => Curation.lrQualityTrainOf(train)),
          "q204-full" -> (() => Curation.classifierEval(spark, dir)),
        )
      case "cards" =>
        Seq(
          "q208-ann-card" -> (() => graft.operators.Similarity.annMethodCard(spark, dir)),
          "q229-decontam-card" -> (() => graft.operators.SpanDedup.decontamMethodCard(spark, dir)),
          "q160-funnel" -> (() => Curation.curationFunnel(spark, dir)),
          "q163-audit" -> (() => Curation.rejectionAudit(spark, dir)),
          "q217-geometry" -> (() => graft.operators.Dedup.lshGeometryCard(spark, dir)),
          "q226-doremi-sample" -> (() => Curation.doremiSample(spark, dir)),
        )
      case "ivfpq" =>
        // r18 VERDICT #7: q108's cost is all eager-build execution
        // (plantime: build 6.5 s, plan 0.02 s). A/B the shipped
        // overlapped writeIvfPqIndex (two driver threads, guide §2.6)
        // against an inline copy of the old sequential build, writing to
        // scratch dirs; table equality asserted once up front.
        val emb = Tables.embeddings(spark, dir)
        val sim = graft.operators.Similarity
        def seqBuild(base: String): Unit = {
          val cellModel = sim.kmeansModelOf(emb)
          val pqModel = sim.pqModelOf(emb)
          Seq("centroids" -> cellModel, "pq_codebook" -> pqModel,
            "cells" -> sim.segmentCells(emb, cellModel),
            "codes" -> sim.segmentCodes(emb, pqModel)).foreach { case (n, df) =>
            df.write.mode("overwrite").parquet(s"$base/$n")
          }
        }
        def eq(a: String, b: String, t: String): Boolean = {
          val l = spark.read.parquet(s"$a/$t")
          val r = spark.read.parquet(s"$b/$t")
          l.exceptAll(r).isEmpty && r.exceptAll(l).isEmpty
        }
        settle()
        seqBuild("/tmp/ivfpq_probe_seq")
        sim.writeIvfPqIndex(emb, "/tmp/ivfpq_probe_par")
        val allEq = Seq("centroids", "pq_codebook", "cells", "codes")
          .forall(t => eq("/tmp/ivfpq_probe_seq", "/tmp/ivfpq_probe_par", t))
        println(s"[opt] ivfpq tables equal=$allEq")
        for (r <- 1 to reps) {
          settle()
          var t0 = System.nanoTime()
          seqBuild("/tmp/ivfpq_probe_seq")
          println(f"[opt] ivfpq-seq #$r               ${(System.nanoTime() - t0) / 1e9}%7.3f s")
          settle()
          t0 = System.nanoTime()
          sim.writeIvfPqIndex(emb, "/tmp/ivfpq_probe_par")
          println(f"[opt] ivfpq-par #$r               ${(System.nanoTime() - t0) / 1e9}%7.3f s")
        }
        Seq.empty
      case "ccnet" =>
        Seq(
          "q214-paragraph-dedup" -> (() =>
            graft.operators.Profiling.paragraphDedup(spark, dir)),
          "q211-ppl-buckets" -> (() => TextOps.perplexityBuckets(spark, dir)),
          "q221-full" -> (() => graft.operators.Profiling.ccnetCorpus(spark, dir)),
          "q225-full" -> (() => graft.operators.Profiling.ccnetFunnel(spark, dir)),
          "q227-full" -> (() =>
            graft.operators.Profiling.ccnetTrainingChunks(spark, dir)),
        )
      case other => sys.error(s"unknown probe $other")
    }

    val acc = scala.collection.mutable.LinkedHashMap.empty[String, List[Double]]
    for (i <- 1 to reps; (name, f) <- stages) {
      val s = timeStage(s"$name #$i")(f())
      acc(name) = s :: acc.getOrElse(name, Nil)
    }
    println("[opt] === min over passes ===")
    acc.foreach { case (n, ts) =>
      println(f"[opt] $n%-28s min ${ts.min}%7.3f s  (all ${ts.reverse.map(t => f"$t%.2f").mkString(", ")})")
    }
    spark.stop()
  }
}
