package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions.{lit, raise_error}
import org.apache.spark.sql.graft.ListenerProbe
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Profile

/** `graft.tools.Profile` on three registry queries at sf0.001 (a plain
  * aggregate, a k-means loop, build-time checkpoints) plus one that
  * throws. */
class ProfileSpec extends AnyFunSuite with SparkSpec {

  test("Profile: one record per query under per_layer names, errors recorded, listeners removed") {
    val names = Seq("q01_pricing_summary", "q100_kmeans_train", "q160_curation_funnel")
    val boom: Profile.Query = (s, _) => s.range(3).select(raise_error(lit("boom profile")))
    val queries = names.take(1).map(n => n -> SparkEntry.queries(n)) ++
      Seq("q_boom" -> boom) ++ names.drop(1).map(n => n -> SparkEntry.queries(n))
    val plans = Files.createTempDirectory("profile-spec")
    val records = Profile.run(spark, sf0001, queries, Some(plans))

    assert(records.map(_._1) === queries.map(_._1))
    val json = new ObjectMapper().readTree(Profile.toJson(records))
    assert(json.fieldNames.asScala.toSeq === queries.map(_._1))

    val perLayer = new ObjectMapper()
      .readTree(Files.readString(Paths.get(sys.props("user.dir"), "BENCHMARK.json")))
      .get("per_layer").elements.asScala.map(_.get("name").asText).toSet
    val byName = records.toMap
    for ((name, r) <- records if name != "q_boom") {
      assert(!r.contains("error"), s"$name: ${r.get("error")}")
      val numeric = r.collect { case (k, _: Double) => k }
      assert(numeric.nonEmpty)
      numeric.foreach(k => assert(perLayer(k) || k.matches("""loops\.[a-z.]+\.rounds"""), k))
      assert(byName(name)("execution.jobs").asInstanceOf[Double] > 0, name)
    }
    assert(byName("q160_curation_funnel")("operators.build_jobs").asInstanceOf[Double] > 0)
    assert(byName("q100_kmeans_train")("loops.similarity.kmeans.rounds").asInstanceOf[Double] > 0)
    assert(byName("q_boom").keySet === Set("error"))
    assert(byName("q_boom")("error").toString.contains("boom profile"))
    assert(Files.readString(plans.resolve("q160.txt")).contains("checkpoint source of RDD"))

    assert(!ListenerProbe.listenerClasses(spark).exists(_.startsWith("graft.tools.Profile")))
  }
}
