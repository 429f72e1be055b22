package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Concurrent

/** `Concurrent.runAll`: a failure reaches the caller only after every
  * sibling chain has finished, with the other failures suppressed on it. */
class ConcurrentSpec extends AnyFunSuite with SparkSpec {

  /** A short Spark job: four tasks of 400 ms each. */
  private def shortJob(): Long =
    spark.sparkContext.parallelize(1 to 4, 4).map { i => Thread.sleep(400); i }.count()

  test("runAll: a failing thunk escapes only after its sibling's job has finished") {
    val siblingDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Concurrent.runAll(
        () => throw new IllegalStateException("fails at once"),
        () => { shortJob(); siblingDone.set(true) })
    }
    assert(e.getMessage === "fails at once" && e.getSuppressed.isEmpty)
    assert(siblingDone.get, "the failure escaped while a sibling was still running")
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
  }

  test("runAll: when both fail, the first carries the sibling's failure as suppressed") {
    val e = intercept[IllegalStateException] {
      Concurrent.runAll(
        () => throw new IllegalStateException("first"),
        () => { shortJob(); throw new IllegalArgumentException("sibling") })
    }
    assert(e.getMessage === "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq === Seq("sibling"))
  }

  test("runAll: returns once every thunk has run") {
    val done = Seq.fill(3)(new AtomicBoolean(false))
    Concurrent.runAll(done.map(d => () => { shortJob(); d.set(true) }): _*)
    assert(done.forall(_.get))
  }
}
