package graft.functions

import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one cache and lineage-truncation policy of the engine.
  *
  * Scoped generations: query functions that cache a doubly-referenced
  * subtree ([[persist]]) or truncate a stage table many branches of one
  * action reference ([[checkpoint]]) register it under a family#variant
  * key. Re-invoking the same query (Verify, repeated tests in one
  * session) reuses the live generation when the new plan is semantically
  * identical (`sameResult`); a new plan replaces it, and a family keeps
  * at most [[MaxVariantsPerFamily]] variants (least recently used goes
  * first).
  *
  * Lineage truncation ([[truncate]]) is for loop tables re-planned every
  * round ([[iterate]]) and for stage tables whose full chain would
  * otherwise be re-analysed per reference. The deployment decides how:
  * `localCheckpoint` on local[N] (one JVM, no executor loss); a reliable
  * `checkpoint` on a cluster with a checkpoint dir, so an executor loss
  * does not fail the query; a columnar persist otherwise (lineage and
  * planning cost stay, fault tolerance does not leave). This object is
  * the only place in the engine that truncates lineage. Reliable
  * checkpoint files are not deleted here: Spark's ContextCleaner removes
  * them once the handle is collected, if
  * `spark.cleaner.referenceTracking.cleanCheckpoints` is on.
  */
object ScopedCache {

  /** One registered generation: `src` is the plan the caller handed in,
    * `handle` what it got back. A persisted plan is its own handle and
    * keeps its lineage; a truncation's handle is a new DataFrame whose
    * blocks cannot be recomputed. */
  private final case class Entry(src: DataFrame, handle: DataFrame) {
    def truncated: Boolean = !(handle eq src)
  }

  // insertion order = recency: a hit re-inserts its key
  private val entries = scala.collection.mutable.LinkedHashMap.empty[String, Entry]

  /** Max live generations per scope family. >1 so alternating
    * mixed-parameter callers (q72 vs q76 with a non-default maxDF, or a
    * 1x/10x probe loop) each keep their own generation; bounded so a
    * session that shingles many corpora (test suites, probes) cannot
    * accumulate pinned executor blocks without limit. */
  val MaxVariantsPerFamily = 4

  private def isLive(df: DataFrame): Boolean =
    Try(!df.sparkSession.sparkContext.isStopped).getOrElse(false)

  def persist(scope: String, df: DataFrame): DataFrame =
    persist(scope, "", df)

  /** Cache `df` under (family, variant). */
  def persist(family: String, variant: String, df: DataFrame): DataFrame =
    register(family, variant, df)(df.persist())

  def checkpoint(family: String, df: DataFrame): DataFrame =
    checkpoint(family, "", df)

  /** Eagerly [[truncate]] `df` under (family, variant). A superseded or
    * evicted truncation is dropped from the registry but NOT released: its
    * blocks cannot be recomputed, so releasing them would break any live
    * consumer plan built on it. ContextCleaner reclaims them once the last
    * reference is collected; [[clear]] releases them outright. */
  def checkpoint(family: String, variant: String, df: DataFrame): DataFrame =
    register(family, variant, df)(truncate(df, eager = true))

  private def register(family: String, variant: String, df: DataFrame)(
      make: => DataFrame): DataFrame = synchronized {
    val key = if (variant.isEmpty) family else s"$family#$variant"
    entries.remove(key) match {
      case Some(e) if isLive(e.handle) && (e.src.sparkSession eq df.sparkSession) &&
          e.src.queryExecution.analyzed.sameResult(df.queryExecution.analyzed) =>
        entries.put(key, e)
        e.handle
      case old =>
        old.foreach(evict)
        val e = Entry(df, make)
        entries.put(key, e)
        entries.keys.filter(k => k == family || k.startsWith(family + "#")).toSeq
          .dropRight(MaxVariantsPerFamily).foreach(k => entries.remove(k).foreach(evict))
        e.handle
    }
  }

  /** A persisted plan is unpersisted; a truncation is only dropped (see
    * [[checkpoint]]). */
  private def evict(e: Entry): Unit =
    if (!e.truncated) release(e.handle, blocking = false)

  /** Cut `df`'s lineage under the deployment policy above. `eager`
    * materializes it now; otherwise the first action on the result does.
    * A local truncation or a persist is marked lazily and materialized by
    * one action on the handle's root (as many jobs as
    * `Dataset.localCheckpoint(eager = true)` runs), and released if that
    * action throws: a failed truncation leaves no marked RDD behind. A
    * reliable checkpoint persists nothing, so Spark's own eager write (one
    * job; an action before it would compute the plan twice) has nothing
    * to leave behind. */
  def truncate(df: DataFrame, eager: Boolean): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (!sc.isLocal && sc.getCheckpointDir.isDefined) df.checkpoint(eager)
    else {
      val t = if (sc.isLocal) df.localCheckpoint(eager = false) else df.persist()
      if (eager) try t.queryExecution.analyzed match {
        case r: LogicalRDD if sc.isLocal => r.rdd.count()
        case _ => t.count()
      } catch { case e: Throwable =>
        release(t, blocking = true)
        throw e
      }
      t
    }
  }

  // family -> rounds of the last loop of that family that finished
  private val lastRounds = scala.collection.mutable.LinkedHashMap.empty[String, Int]

  /** The rounds of the last [[iterate]] run per loop family since the
    * previous call, then forgets them (a profiler reads one query's). */
  def takeLoopRounds(): Map[String, Int] = lastRounds.synchronized {
    val out = lastRounds.toMap
    lastRounds.clear()
    out
  }

  /** Truncated fixed-point loop. Generation 0 is `init`, a truncation or
    * a plain plan the loop owns (it is released like every generation
    * once superseded); each round `step` derives the next generation from
    * the live one, or returns None when there is nothing left to do.
    * The derived plan is [[truncate]]d (`eager` as given) and handed to
    * `settled`, the round's action and stop test. The superseded
    * generation is released once its successor is materialized: right
    * after an eager truncation, after `settled` for a lazy one (so a lazy
    * loop's `settled` must run an action on the generation). If a step,
    * a truncation or `settled` throws, the live generation is released
    * before the exception propagates. Stops after `maxIters` rounds, on
    * None, or when `settled` returns true; returns the live generation
    * (the caller owns it) and the number of rounds run, which is also
    * kept as the last run of `family` ([[takeLoopRounds]]). */
  def iterate(family: String, init: DataFrame, maxIters: Int, eager: Boolean = true)(
      step: DataFrame => Option[DataFrame],
      settled: DataFrame => Boolean = _ => false): (DataFrame, Int) = {
    var live = init
    var rounds = 0
    var done = false
    try {
      while (!done && rounds < maxIters) step(live) match {
        case None => done = true
        case Some(next) =>
          val prev = live
          live = truncate(next, eager)
          if (eager) releaseCheckpoint(prev)
          try done = settled(live)
          finally if (!eager) releaseCheckpoint(prev)
          rounds += 1
      }
    } catch { case t: Throwable =>
      releaseCheckpoint(live)
      throw t
    }
    lastRounds.synchronized(lastRounds(family) = rounds)
    (live, rounds)
  }

  /** The registered source plan behind a checkpoint's RDD-scan leaf, by
    * the leaf's RDD id — how plan audits (PlanSpec) descend into the
    * pre-truncation stages. */
  def checkpointSourceOf(rddId: Int): Option[DataFrame] = synchronized {
    entries.values.collectFirst {
      case e if e.truncated && isLive(e.handle) &&
          (e.handle.queryExecution.analyzed match {
            case r: LogicalRDD => r.rdd.id == rddId
            case _ => false
          }) => e.src
    }
  }

  /** Release a [[truncate]]d DataFrame's blocks once nothing reads it any
    * more: a loop generation whose successor is materialized, or a
    * one-shot stage table after its last action. Only the handle's own
    * root is released — the truncated RDD, or the persisted plan under
    * the fallback — never an upstream checkpoint its plan reads.
    *
    * Blocking, so the eviction finishes inside the releasing query's own
    * pass instead of draining into whatever a benchmark times next.
    *
    * A training loop's TERMINAL model (a few KB) is deliberately not
    * released by its consumers: the returned DataFrame is lazy, so they
    * cannot know when the caller's last downstream use has run, and the
    * truncated blocks cannot be recomputed. ContextCleaner reclaims it
    * once the reference drops. */
  def releaseCheckpoint(df: DataFrame): Unit = release(df, blocking = true)

  /** The one release path (loops, one-shot sites, eviction, [[clear]]):
    * a truncation's blocks live on its RDD-scan root's RDD; a persisted
    * plan goes through the cache manager (a no-op for a plan nobody
    * persisted, such as a loop's untruncated generation 0). */
  private def release(df: DataFrame, blocking: Boolean): Unit =
    if (isLive(df)) Try(df.queryExecution.analyzed match {
      case r: LogicalRDD => r.rdd.unpersist(blocking)
      case _ => df.unpersist(blocking)
    })

  /** Release every registered generation, truncations included: the
    * callers (benchmarks and probes, between passes) rebuild every plan
    * afterwards. `blocking = true` waits for the eviction to finish, so
    * one query's blocks and the GC pressure of evicting them do not bleed
    * into the next query's timed pass. */
  def clear(blocking: Boolean = false): Unit = synchronized {
    entries.values.foreach(e => release(e.handle, blocking))
    entries.clear()
  }
}
