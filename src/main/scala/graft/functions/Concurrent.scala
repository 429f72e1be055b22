package graft.functions

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Independent Spark job chains submitted from concurrent driver threads. */
object Concurrent {

  /** Run every thunk on its own thread and return once ALL of them have
    * finished. A failure is rethrown only then: the first in thunk order,
    * with the others attached as suppressed. The callers write into an
    * `ArtifactStore` staging dir that is deleted on any exception, so no
    * sibling may still be writing when one escapes. Explicit catch
    * Throwable: `Try`'s NonFatal would let an InterruptedException escape
    * before every sibling is awaited. */
  def runAll(thunks: (() => Unit)*): Unit = {
    val running = thunks.map(t => Future(t())(ExecutionContext.global))
    val failures = running.flatMap { f =>
      try { Await.result(f, Duration.Inf); None }
      catch { case t: Throwable => Some(t) }
    }
    failures.headOption.foreach { t =>
      failures.drop(1).foreach(t.addSuppressed)
      throw t
    }
  }
}
