package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev probe for skewed-key behavior (SURVEY.md §2.9 T9 + §2.3 K4): a
  * hot-key distribution (90% of fact rows on one key) drives
  * (a) a fact⋈dim-shaped shuffle join with AQE skew-join splitting ON vs
  *     OFF — the runtime re-plan path a 100 TB straggler depends on, and
  * (b) [[graft.operators.Partitioning.saltedSum]] vs a direct
  *     groupBy().sum() — recording the HONEST result: for associative
  *     aggregates Spark's map-side partial aggregation already collapses a
  *     hot key to one row per map partition, so salting adds a shuffle for
  *     nothing; its value is reserved for aggregation states that do NOT
  *     collapse map-side (wide buffers, exact-distinct, per-key ordered
  *     processing).
  * Results are recorded in BASELINE.md. Not part of the library surface.
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(5000000L)
    val spark = graft.GraftSession.get("graft-skew-probe")
    import spark.implicits._
    spark.range(1000000).selectExpr("sum(id)").collect() // JIT warmup

    // 90% of fact rows carry key 0; the rest spread over 100k keys.
    // Deterministic (id-derived), skew survives retries/recomputation.
    val fact = spark.range(rows)
      .withColumn("key", when(pmod($"id", lit(10)) < 9, 0L)
        .otherwise(pmod($"id", lit(100000L))))
      .withColumn("v", pmod($"id", lit(1000L)))
    val dim = spark.range(100000).select($"id".as("key"),
      ($"id" * 3L).as("weight"))

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[skew] $name%-42s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
    }

    // (a) skewed shuffle join: force SMJ (no broadcast) so the hot key's
    // partition is a genuine straggler, then let AQE split it. The
    // downstream is a GLOBAL aggregate on purpose: a keyed aggregate on
    // the join key would reuse the join's hash partitioning, and AQE
    // refuses to split skewed partitions when a downstream operator
    // requires that distribution — the probe would silently measure the
    // unsplit plan (a real tuning lesson for 100 TB job authors).
    def skewJoinDf(): DataFrame =
      fact.hint("merge").join(dim.hint("merge"), "key")
        .agg(sum($"v" * $"weight").as("s"))
    def skewJoin(): Long = skewJoinDf().count()

    def withConf(k: String, v: String)(body: => Unit): Unit = {
      val prev = spark.conf.getOption(k)
      spark.conf.set(k, v)
      try body finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }

    withConf("spark.sql.adaptive.skewJoin.enabled", "false") {
      time("join 90%-hot key, AQE skew-split OFF")(skewJoin())
      time("join 90%-hot key, AQE skew-split OFF (2)")(skewJoin())
    }
    withConf("spark.sql.adaptive.skewJoin.enabled", "true") {
      // default thresholds hide mid-size skew on local fixtures; probe at
      // the aggressive setting a cluster job would tune toward
      withConf("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m") {
        withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m") {
          time("join 90%-hot key, AQE skew-split ON")(skewJoin())
          time("join 90%-hot key, AQE skew-split ON (2)")(skewJoin())
          val df = skewJoinDf()
          df.collect() // finalize AQE on THIS df (count() would plan a new query)
          val plan = df.queryExecution.executedPlan.toString
          require(plan.contains("SortMergeJoin(skew=true)"),
            "AQE skew split did not trigger — probe shape regressed")
          println("[skew] AQE split confirmed: SortMergeJoin(skew=true) + " +
            "AQEShuffleRead 'coalesced and skewed' in the executed plan")
        }
      }
    }

    // (b) salted vs direct aggregation on the same skewed keys
    def direct(df: DataFrame): Long =
      df.groupBy($"key").agg(sum($"v").as("total")).count()
    def salted(df: DataFrame): Long =
      graft.operators.Partitioning.saltedSum(df, $"key", $"v").count()

    time("groupBy.sum direct, 90%-hot key")(direct(fact))
    time("groupBy.sum direct, 90%-hot key (2)")(direct(fact))
    time("saltedSum two-phase, 90%-hot key")(salted(fact))
    time("saltedSum two-phase, 90%-hot key (2)")(salted(fact))

    // correctness: the two formulations agree exactly
    val a = fact.groupBy($"key").agg(sum($"v").as("total"))
      .orderBy($"key").limit(5).as[(Long, Long)].collect().toSeq
    val b = graft.operators.Partitioning.saltedSum(fact, $"key", $"v")
      .orderBy($"key").limit(5).as[(Long, Long)].collect().toSeq
    require(a == b, s"salted != direct: $a vs $b")
    println("[skew] salted == direct on hot keys: OK")

    // (c) mega-cluster label propagation (r6 verdict stretch): one huge
    // near-dup cluster makes a single label hot in every round-join of
    // Dedup.clusterLabels (edges⋈labels on v; pointer-jump on label).
    // Finding 1: end-to-end, a star resolves in O(1) rounds and at probe
    // scale AQE BROADCASTS the label/nbr-min tables — the hot key never
    // shuffles, so no straggler exists to split.
    for (leaves <- Seq(100000L, 1000000L)) {
      val star = spark.range(2L, leaves + 2L)
        .select(lit(1L).as("doc_a"), $"id".as("doc_b"))
      val t0 = System.nanoTime()
      // smallCutoff = 0: probe the distributed propagation itself
      val (labels, iters) = graft.operators.Dedup.clusterLabels(star, smallCutoff = 0)
      val resolved = labels.filter($"label" === 1L).count()
      require(resolved == leaves + 1,
        s"star of $leaves leaves resolved $resolved nodes to the hub label")
      println(f"[skew] q77 star leaves=$leaves%-8d iters=$iters ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }
    // Finding 2: force the 100 TB shape — both sides too big to
    // broadcast → SMJ — on the round-1 propagation join and confirm
    // AQE's skew split engages on the hot-label edge partition (the
    // same runtime re-plan a billion-node label table depends on; the
    // downstream aggregate keys on u, not the join key v, so AQE is
    // free to split).
    val starLeaves = 1000000L
    val star = spark.range(2L, starLeaves + 2L)
      .select(lit(1L).as("doc_a"), $"id".as("doc_b"))
    val edges = star.select($"doc_a".as("u"), $"doc_b".as("v"))
      .unionByName(star.select($"doc_b".as("u"), $"doc_a".as("v")))
    // checkpointed like the real loop's label table (an ExistingRDD scan
    // that shuffles freshly on v) — without this the aggregate's hash(u)
    // output partitioning satisfies the join's hash(v) requirement after
    // the rename, the shuffle-sort-join pattern never forms, and AQE has
    // no skewed shuffle stage to split
    val labels0 = graft.functions.ScopedCache.truncate(
      edges.groupBy($"u").agg(min($"v").as("nbr_min"))
        .select($"u".as("node"), least($"u", $"nbr_min").as("label")),
      eager = true)
    def starRoundDf(): DataFrame =
      edges.hint("merge")
        .join(labels0.select($"node".as("v"), $"label".as("vl")).hint("merge"), "v")
        .groupBy($"u").agg(min($"vl").as("nbr_min"))
    withConf("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m") {
      withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m") {
        time("star round-1 join, forced SMJ")(starRoundDf().count())
        time("star round-1 join, forced SMJ (2)")(starRoundDf().count())
        val df = starRoundDf()
        df.collect() // finalize AQE on THIS df
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("SortMergeJoin(skew=true)"),
          s"AQE skew split did not engage on the star round-1 join:\n$plan")
        println("[skew] mega-cluster: AQE broadcasts at probe scale; " +
          "forced-SMJ round join splits the hot partition (skew=true)")
      }
    }

    spark.stop()
  }
}
