package graft.functions

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Independent Spark job chains submitted from concurrent driver threads.
  * The only place in `src/main` that starts a driver-side thread or
  * touches a job group (ConcurrentSpec's source guard). */
object Concurrent {

  /** Run every thunk on its own thread and return once ALL of them have
    * finished. A failure is rethrown only then: the first in thunk order,
    * with the others attached as suppressed. The callers write into an
    * `ArtifactStore` staging dir that is deleted on any exception, so no
    * sibling may still be writing when one escapes.
    *
    * Each thunk's body catches every Throwable, fatal ones included, so
    * its future always completes: `Future.apply` completes only on
    * NonFatal errors and interrupts, and a `StackOverflowError` or
    * `LinkageError` thrown in it would leave the await below blocked
    * forever. The await catches every Throwable too, so an interrupt of
    * the caller is recorded, not thrown before the later siblings are
    * awaited. */
  def runAll(thunks: (() => Unit)*): Unit = {
    val running = thunks.map { t =>
      Future {
        try { t(); None }
        catch { case e: Throwable => Some(e) }
      }(ExecutionContext.global)
    }
    val failures = running.flatMap { f =>
      try Await.result(f, Duration.Inf)
      catch { case t: Throwable => Some(t) }
    }
    failures.headOption.foreach { t =>
      failures.drop(1).foreach(t.addSuppressed)
      throw t
    }
  }
}
