package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Concurrent

/** `Concurrent.runAll`: a failure reaches the caller only after every
  * sibling chain has finished, with the other failures suppressed on it;
  * a fatal error in a thunk escapes too instead of blocking the caller.
  * A source guard keeps every driver-side thread and job group in
  * `Concurrent.scala`. */
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

  test("runAll: a fatal error in a thunk escapes after its sibling's job has finished") {
    val siblingDone = new AtomicBoolean(false)
    val caught = new AtomicReference[Throwable]()
    // a separate, daemon caller: a runAll that never returns fails the
    // join below instead of hanging the suite
    val caller = new Thread(() =>
      try Concurrent.runAll(
        () => throw new LinkageError("fatal"),
        () => { shortJob(); siblingDone.set(true) })
      catch { case t: Throwable => caught.set(t) })
    caller.setDaemon(true)
    caller.start()
    caller.join(60000)
    assert(!caller.isAlive, "runAll still blocked 60 s after a thunk threw a fatal error")
    assert(caught.get.isInstanceOf[LinkageError] && caught.get.getMessage === "fatal")
    assert(siblingDone.get, "the fatal error escaped while a sibling was still running")
  }

  test("guard: no Future, Await, ExecutionContext or job group in src/main outside Concurrent") {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(root), s"$root not found")
    val owner = Paths.get("graft", "functions", "Concurrent.scala")
    // comments are scanned too, so a comment describes concurrency
    // without naming these APIs
    val api = """scala\.concurrent|\b(Future|Await|ExecutionContext|setJobGroup|cancelJobGroup|clearJobGroup)\b""".r
    val files = Files.walk(root).iterator.asScala
      .filter(f => f.toString.endsWith(".scala") && !root.relativize(f).equals(owner)).toList
    assert(files.exists(_.endsWith(Paths.get("graft", "operators", "Dedup.scala"))))
    val offenders = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      m <- api.findAllMatchIn(line)
    } yield s"${root.relativize(f)}:${i + 1}: ${m.matched}"
    assert(offenders.isEmpty,
      "run concurrent job chains through Concurrent.runAll:\n" + offenders.mkString("\n"))
  }
}
