package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Writes an N× replica of a fixture directory, so every registry query
  * can be measured at N× scale with the tools that already exist:
  * `SPARK_GRAFT_SF_DIR=<outDir> runMain graft.Bench [qid-prefix...]` or
  * `runMain graft.tools.Profile <outDir> <out.json> [qid-prefix...]`.
  * Artifacts are keyed by source dir, so a replica builds its own.
  *
  * Every table but `nation` and `region` becomes the union of `copies`
  * copies, written without repartitioning. Copy 1 is the source rows
  * unchanged, so 1× results and fixed probe sets (`vec_id < 20`) survive.
  * In copy i ≥ 2:
  *  - each key column is shifted by (i−1)·(max+1), max being the largest
  *    key of the table that owns the key, so foreign keys still join and
  *    every key domain stays dense over 0…copies·n−1;
  *  - each document's space-separated tokens are permuted by one fixed
  *    permutation per (copy, token count): positions sorted by
  *    `xxhash64(i, position, n_tokens)`, ties by position. The token
  *    multiset, `n_chars`, `lang` and `source` are kept, equal texts stay
  *    equal within a copy, and texts of different copies line up only by
  *    chance (verbatim copies would grow duplicate pairs quadratically);
  *  - each embedding is rotated left by i−1 dims (the cosine of a vector
  *    with its rotation is near 0, so copies add no near-duplicates);
  *  - timestamps and `*_nationkey` columns are unchanged, so event and
  *    order density grow N×, as with a larger TPC-H scale factor.
  *
  * Usage: runMain graft.tools.Replicate <sfDir> <copies> <outDir>
  */
object Replicate {

  /** Owning (table, key column) -> the (table, column) foreign keys that
    * reference it. */
  private val KeyDomains: Seq[((String, String), Seq[(String, String)])] = Seq(
    ("customer", "c_custkey") -> Seq("orders" -> "o_custkey"),
    ("orders", "o_orderkey") -> Seq("lineitem" -> "l_orderkey"),
    ("part", "p_partkey") -> Seq("lineitem" -> "l_partkey"),
    ("supplier", "s_suppkey") -> Seq("lineitem" -> "l_suppkey"),
    ("documents", "doc_id") -> Nil,
    ("embeddings", "vec_id") -> Nil,
    ("events", "event_id") -> Nil,
    ("events", "user_id") -> Nil)

  val Replicated: Seq[String] = Seq("customer", "supplier", "part", "orders", "lineitem",
    "documents", "embeddings", "events")
  val Fixed: Seq[String] = Seq("nation", "region")

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: Replicate <sfDir> <copies> <outDir>")
    val spark = graft.GraftSession.get("graft-replicate")
    val t0 = System.nanoTime()
    run(spark, args(0), args(1).toInt, args(2))
    println(f"[replicate] ${args(1)}x ${args(0)} -> ${args(2)} in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }

  def run(spark: SparkSession, dir: String, copies: Int, outDir: String): Unit = {
    require(1 <= copies && copies <= 64, s"copies must be in 1..64, got $copies")
    def load(t: String): DataFrame = Tables.byName(spark, dir, t)
    def range(t: String, c: String) =
      load(t).agg(min(col(c)).cast("long"), max(col(c)).cast("long"), countDistinct(col(c)))
        .head()
    // a key outside its domain would, once shifted, collide with another copy's
    val strides: Map[String, Long] = KeyDomains.flatMap { case ((t, c), fks) =>
      val r = range(t, c)
      val (lo, hi, n) = (r.getLong(0), r.getLong(1), r.getLong(2))
      require(lo == 0 && hi == n - 1,
        s"$t.$c must be dense from 0 to be shifted: min $lo, max $hi, $n distinct")
      fks.foreach { case (ft, fc) =>
        val f = range(ft, fc)
        require(f.isNullAt(0) || (f.getLong(0) >= 0 && f.getLong(1) <= hi),
          s"$ft.$fc must lie in $t.$c's 0..$hi: min ${f.get(0)}, max ${f.get(1)}")
      }
      (c +: fks.map(_._2)).map(_ -> (hi + 1))
    }.toMap

    def copy(t: String, df: DataFrame, i: Int): DataFrame = {
      val shifted = df.columns.filter(strides.contains).foldLeft(df) { (d, c) =>
        d.withColumn(c, (col(c) + lit((i - 1) * strides(c))).cast(d.schema(c).dataType))
      }
      t match {
        case "documents" => shifted.withColumn("text", permuteTokens(col("text"), i))
        case "embeddings" => shifted.withColumn("embedding", expr(
          s"concat(slice(embedding, $i, size(embedding) - ${i - 1}), slice(embedding, 1, ${i - 1}))"))
        case _ => shifted
      }
    }

    (Replicated ++ Fixed).foreach { t =>
      val src = load(t)
      val n = if (Fixed.contains(t)) 1 else copies
      (1 to n).map(i => if (i == 1) src else copy(t, src, i)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  /** `text`'s space-separated tokens in copy `i`'s fixed order for their
    * count. */
  private def permuteTokens(text: Column, i: Int): Column = {
    val toks = split(text, " ")
    val n = size(toks)
    val order = array_sort(transform(sequence(lit(0), n - 1),
      p => struct(xxhash64(lit(i), p, n).as("h"), p.as("p"))))
    array_join(transform(order, s => element_at(toks, s.getField("p") + 1)), " ")
  }
}
