package graft

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Replicate

/** `graft.tools.Replicate` on sf0.001 ×3: row counts, copy 1 unchanged,
  * dense shifted keys, foreign keys that still join, permuted document
  * texts, q01 scaling exactly, and loop/artifact queries running on the
  * replica. */
class ReplicateSpec extends AnyFunSuite with SparkSpec {

  private val copies = 3
  private lazy val out = {
    val d = Paths.get(sys.props("java.io.tmpdir"), "graft-replicate-spec").toString
    Replicate.run(spark, sf0001, copies, d)
    d
  }

  private def load(dir: String, t: String): DataFrame = sources.Tables.byName(spark, dir, t)

  /** Each owning (table, key column) -> its source max + 1. */
  private lazy val strides: Map[(String, String), Long] = Seq(
    "customer" -> "c_custkey", "orders" -> "o_orderkey", "part" -> "p_partkey",
    "supplier" -> "s_suppkey", "documents" -> "doc_id", "embeddings" -> "vec_id",
    "events" -> "event_id", "events" -> "user_id"
  ).map(k => k -> (load(sf0001, k._1).agg(max(col(k._2))).head().getLong(0) + 1)).toMap

  test("row counts: replicated tables x3, nation and region x1") {
    for (t <- Replicate.Replicated ++ Replicate.Fixed) {
      val k = if (Replicate.Fixed.contains(t)) 1 else copies
      assert(load(out, t).count() === k * load(sf0001, t).count(), t)
    }
  }

  test("copy 1 is the source table, row for row") {
    // table -> a key column of it and the owning key whose stride it takes
    val copy1Key = Map("customer" -> "c_custkey", "orders" -> "o_orderkey",
      "part" -> "p_partkey", "supplier" -> "s_suppkey", "documents" -> "doc_id",
      "embeddings" -> "vec_id", "events" -> "event_id")
      .map { case (t, c) => t -> (c, (t, c)) }
      .updated("lineitem", ("l_orderkey", ("orders", "o_orderkey")))
    for (t <- Replicate.Replicated ++ Replicate.Fixed) {
      val src = load(sf0001, t)
      val rep = copy1Key.get(t).fold(load(out, t)) { case (c, owner) =>
        load(out, t).filter(col(c) < strides(owner))
      }
      assert(rep.exceptAll(src).isEmpty && src.exceptAll(rep).isEmpty, t)
    }
  }

  test("every shifted key domain is exactly 0 .. 3n-1") {
    for (((t, c), n) <- strides) {
      val r = load(out, t).agg(min(col(c)), max(col(c)), countDistinct(col(c))).head()
      assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((0L, copies * n - 1, copies * n)),
        s"$t.$c")
    }
  }

  test("foreign keys join: each fact-dimension join matches 3x the source rows") {
    val joins = Seq(
      ("lineitem", "orders", "l_orderkey", "o_orderkey"),
      ("orders", "customer", "o_custkey", "c_custkey"),
      ("lineitem", "part", "l_partkey", "p_partkey"),
      ("lineitem", "supplier", "l_suppkey", "s_suppkey"))
    for ((a, b, ka, kb) <- joins) {
      def matched(dir: String) =
        load(dir, a).join(load(dir, b), col(ka) === col(kb)).count()
      assert(matched(out) === copies * matched(sf0001), s"$a ⋈ $b")
    }
  }

  test("documents: each copy keeps its copy-1 tokens, n_chars, lang and source") {
    val n = strides(("documents", "doc_id"))
    val src = load(sf0001, "documents")
      .select(col("doc_id").as("base"), array_sort(split(col("text"), " ")).as("toks0"),
        col("text").as("text0"), col("n_chars").as("n0"), col("lang").as("lang0"),
        col("source").as("source0"))
    val rep = load(out, "documents")
      .withColumn("base", col("doc_id") % n)
      .join(src, "base")
    assert(rep.count() === copies * n)
    val kept = array_sort(split(col("text"), " ")) === col("toks0") &&
      col("n_chars") === col("n0") && length(col("text")) === length(col("text0")) &&
      col("lang") === col("lang0") && col("source") === col("source0")
    assert(rep.filter(!kept).isEmpty)
    // the permutation moves tokens: most multi-token copies read differently
    val moved = rep.filter(col("doc_id") >= n && col("text") =!= col("text0")).count()
    assert(moved > (copies - 1) * n / 2, s"only $moved of ${(copies - 1) * n} texts moved")
  }

  test("q01 scales exactly: count_order and sums x3, averages equal") {
    val q01 = SparkEntry.queries("q01_pricing_summary")
    val src = q01(spark, sf0001).collect()
    val rep = q01(spark, out).collect()
    assert(src.length === rep.length && src.nonEmpty)
    for ((s, r) <- src.zip(rep)) {
      assert(r.getAs[String]("l_returnflag") === s.getAs[String]("l_returnflag"))
      assert(r.getAs[Long]("count_order") === copies * s.getAs[Long]("count_order"))
      // the sums are exact decimals cast to double: compare at their scales
      for ((c, scale) <- Seq("sum_qty" -> 2, "sum_base_price" -> 2,
          "sum_disc_price" -> 4, "sum_charge" -> 6)) {
        def dec(v: Double) = BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP)
        assert(dec(r.getAs[Double](c)) === dec(s.getAs[Double](c)) * copies, c)
      }
      // double(3·sum) / 3n and double(sum) / n: equal up to the division's rounding
      for (c <- Seq("avg_qty", "avg_price")) {
        val (a, b) = (r.getAs[Double](c), s.getAs[Double](c))
        assert(math.abs(a - b) <= 2 * math.ulp(b), s"$c: $a vs $b")
      }
    }
  }

  test("loop and artifact queries run on the replica (q100, q129)") {
    for (q <- Seq("q100_kmeans_train", "q129_neardup_pairs_build"))
      assert(SparkEntry.queries(q)(spark, out).collect().nonEmpty, q)
  }

  test("copies outside 1..64 and a key domain with a gap are refused") {
    for (k <- Seq(0, 65)) intercept[IllegalArgumentException] {
      Replicate.run(spark, sf0001, k, s"$out-refused")
    }
    val gap = s"$out-gap"
    load(sf0001, "customer").filter(col("c_custkey") =!= 3)
      .write.mode("overwrite").parquet(s"$gap/customer.parquet")
    val e = intercept[IllegalArgumentException](Replicate.run(spark, gap, 2, s"$out-refused"))
    assert(e.getMessage.contains("c_custkey must be dense"))
  }
}
