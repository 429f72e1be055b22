package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ScopedCache

/** The one cache and lineage-truncation policy (functions/ScopedCache):
  * registry reuse, replacement and LRU eviction, the `iterate` loop's
  * release bookkeeping on success and failure and its round counts, an
  * eager truncation's release on failure and its job count, root-only
  * release, and a source guard that keeps every truncation inside
  * ScopedCache. Small constructed frames only. */
class ScopedCacheSpec extends AnyFunSuite with SparkSpec {

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rddId(df: DataFrame): Int = df.queryExecution.analyzed match {
    case r: LogicalRDD => r.rdd.id
    case p => fail(s"not a truncation handle: ${p.nodeName}")
  }

  private def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  private def xs(df: DataFrame): Seq[Long] =
    df.select(col("x")).collect().map(_.getLong(0)).toSeq.sorted

  /** A fresh plan per call, semantically identical for equal `n`. */
  private def frame(n: Long): DataFrame = spark.range(n).select(col("id").as("x"))

  test("registry: sameResult reuse, replacement on a new plan, LRU eviction per family") {
    val fam = "spec.persist"
    val p1 = ScopedCache.persist(fam, frame(10))
    p1.count()
    assert(ScopedCache.persist(fam, frame(10)) eq p1)
    val p2 = ScopedCache.persist(fam, frame(11))
    assert(!(p2 eq p1) && !cached(p1) && cached(p2))

    val ck = "spec.ckpt"
    val c1 = ScopedCache.checkpoint(ck, frame(20))
    assert(ScopedCache.checkpoint(ck, frame(20)) eq c1)
    val c2 = ScopedCache.checkpoint(ck, frame(21))
    assert(!(c2 eq c1))
    // a replaced checkpoint is dropped, not released: a consumer built
    // on it still reads its rows
    assert(ScopedCache.checkpointSourceOf(rddId(c1)).isEmpty)
    assert(ScopedCache.checkpointSourceOf(rddId(c2)).isDefined)
    assert(xs(c1) === (0L until 20L))

    val n = ScopedCache.MaxVariantsPerFamily + 1
    val ps = (1 to n).map(v => ScopedCache.persist("spec.lru.p", s"v$v", frame(30 + v)))
    ps.foreach(_.count())
    val cs = (1 to n).map(v => ScopedCache.checkpoint("spec.lru.c", s"v$v", frame(30 + v)))
    // the oldest variant goes first: a persisted plan is unpersisted, a
    // truncation leaves the registry with its rows still readable
    assert(!cached(ps.head) && ps.tail.forall(cached))
    assert(ScopedCache.checkpointSourceOf(rddId(cs.head)).isEmpty)
    assert(cs.tail.forall(c => ScopedCache.checkpointSourceOf(rddId(c)).isDefined))
    assert(xs(cs.head) === (0L until 31L))
    // a hit refreshes recency: v2 survives the next variant, v3 does not
    assert(ScopedCache.persist("spec.lru.p", "v2", frame(32)) eq ps(1))
    ScopedCache.persist("spec.lru.p", "v9", frame(39))
    assert(cached(ps(1)) && !cached(ps(2)))
  }

  test("iterate: 5 rounds leave one generation pinned and return 5") {
    for (eager <- Seq(true, false)) {
      val before = persistentIds
      val init = ScopedCache.truncate(frame(100), eager = true)
      val (live, rounds) = ScopedCache.iterate("spec.loop", init, 5, eager)(
        g => Some(g.select((col("x") + 1).as("x"))),
        g => { g.count(); false })
      assert(rounds === 5)
      assert(persistentIds -- before === Set(rddId(live)), s"eager=$eager")
      assert(xs(live) === (5L until 105L))
      ScopedCache.releaseCheckpoint(live)
      assert((persistentIds -- before).isEmpty)
    }
    // stop test and step exhaustion end the loop early
    val (settled, settledAt) = ScopedCache.iterate("spec.loop", frame(3), 10)(
      g => Some(g.select((col("x") + 1).as("x"))), g => xs(g).head == 2)
    assert(settledAt === 2)
    ScopedCache.releaseCheckpoint(settled)
    val (exhausted, exhaustedAt) = ScopedCache.iterate("spec.loop", frame(3), 10)(
      g => if (xs(g).head < 4) Some(g.select((col("x") + 1).as("x"))) else None)
    assert(exhaustedAt === 4 && xs(exhausted) === Seq(4L, 5L, 6L))
    ScopedCache.releaseCheckpoint(exhausted)
    // the last run of the family is kept until read, then forgotten
    assert(ScopedCache.takeLoopRounds().get("spec.loop") === Some(4))
    assert(ScopedCache.takeLoopRounds().get("spec.loop").isEmpty)
  }

  test("truncate: a failed eager truncation leaves no new persistent RDD") {
    val before = persistentIds
    val bad = frame(4).select(when(col("x") === 2, raise_error(lit("boom truncate")))
      .otherwise(col("x")).as("x"))
    val e = intercept[Exception](ScopedCache.truncate(bad, eager = true))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("boom truncate")))
    assert((persistentIds -- before).isEmpty)
  }

  test("truncate: eager runs as many jobs as Dataset.localCheckpoint(eager = true)") {
    val sc = spark.sparkContext
    def jobsOf(truncation: => DataFrame): (Int, Seq[Long]) = {
      val started = new java.util.concurrent.atomic.AtomicInteger
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
      }
      GraftSqlBridge.drainListenerBus(sc)
      sc.addSparkListener(l)
      val t = try truncation finally {
        GraftSqlBridge.drainListenerBus(sc)
        sc.removeSparkListener(l)
      }
      try (started.get, xs(t)) finally ScopedCache.releaseCheckpoint(t)
    }
    val plans = Seq[() => DataFrame](
      () => frame(100).select((col("x") * 2).as("x")),
      () => frame(100).groupBy((col("x") % 7).as("x")).agg(count(lit(1)).as("n")))
    for ((plan, shuffles) <- plans.zip(Seq(false, true))) {
      val (ours, rows) = jobsOf(ScopedCache.truncate(plan(), eager = true))
      val (theirs, theirRows) = jobsOf(plan().localCheckpoint(eager = true))
      assert(ours > 0 && ours === theirs, s"shuffle=$shuffles")
      assert(rows === theirRows)
    }
  }

  test("iterate: a round that throws leaves no generation pinned") {
    def boom(g: DataFrame): DataFrame =
      g.select(when(col("x") >= 2, raise_error(lit("boom round 2")))
        .otherwise(col("x") + 1).as("x"))
    // eager: round 2's step runs an action that raises (the BPE argmax
    // collect shape); lazy: round 2's plan raises in the settling action
    // (the label-propagation shape)
    for (eager <- Seq(true, false)) {
      val before = persistentIds
      val init = ScopedCache.truncate(frame(2), eager = true)
      val e = intercept[Exception] {
        ScopedCache.iterate("spec.loop", init, 5, eager)(
          g =>
            if (eager) { boom(g).collect(); Some(g.select((col("x") + 1).as("x"))) }
            else Some(boom(g)),
          g => { g.count(); false })
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("boom round 2")))
      assert((persistentIds -- before).isEmpty, s"eager=$eager")
    }
  }

  test("release: dropping local checkpoints logs no lineage WARN and frees their RDDs") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val logged = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("scoped-cache-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = logged.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    root.addAppender(appender)
    // every generation a round hands to `step` is released once its
    // successor is materialized: the truncated init and rounds 1-2
    val released = scala.collection.mutable.Buffer.empty[Int]
    val (live, rounds) = try {
      ScopedCache.iterate("spec.quiet", ScopedCache.truncate(frame(10), eager = true), 3)(
        g => { released += rddId(g); Some(g.select((col("x") + 1).as("x"))) })
    } finally {
      root.removeAppender(appender)
      appender.stop()
    }
    assert(rounds === 3 && released.size === 3)
    assert(released.toSet.intersect(persistentIds).isEmpty)
    assert(persistentIds.contains(rddId(live)) && xs(live) === (3L until 13L))
    ScopedCache.releaseCheckpoint(live)
    assert(!persistentIds.contains(rddId(live)))
    val warned = logged.asScala.filter(_.contains("was locally checkpointed"))
    assert(warned.isEmpty, warned.mkString("\n"))
  }

  test("releaseCheckpoint frees only the handle's own blocks") {
    val a = ScopedCache.truncate(frame(10), eager = true)
    val b = ScopedCache.truncate(a.select((col("x") * 2).as("x")), eager = true)
    ScopedCache.releaseCheckpoint(b)
    assert(!persistentIds.contains(rddId(b)) && persistentIds.contains(rddId(a)))
    // the persist fallback's handle is a plan over the upstream
    // checkpoint leaf: releasing it must not free that leaf
    val p = a.select((col("x") * 3).as("x")).persist()
    p.count()
    ScopedCache.releaseCheckpoint(p)
    assert(!cached(p) && persistentIds.contains(rddId(a)))
    assert(xs(a) === (0L until 10L))
    ScopedCache.releaseCheckpoint(a)
    assert(!persistentIds.contains(rddId(a)))
  }

  test("clear(blocking = true) releases persisted and truncated generations") {
    val p = ScopedCache.persist("spec.clear.p", frame(7))
    p.count()
    val c = ScopedCache.checkpoint("spec.clear.c", frame(8))
    assert(cached(p) && persistentIds.contains(rddId(c)))
    ScopedCache.clear(blocking = true)
    assert(!cached(p) && !persistentIds.contains(rddId(c)))
    assert(ScopedCache.checkpointSourceOf(rddId(c)).isEmpty)
    assert(!(ScopedCache.persist("spec.clear.p", frame(7)) eq p))
  }

  test("guard: no Dataset checkpoint call in src/main outside ScopedCache") {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(root), s"$root not found")
    val owner = Paths.get("graft", "functions", "ScopedCache.scala")
    // receiver token (if any), then `.localCheckpoint(` / `.checkpoint(`,
    // whitespace and line breaks allowed around the dot; comments are
    // scanned too, so a comment names such a call without the dot
    val call = """(\w*)\s*\.\s*(localCheckpoint|checkpoint)\s*\(""".r
    val files = Files.walk(root).iterator.asScala
      .filter(f => f.toString.endsWith(".scala") && !root.relativize(f).equals(owner)).toList
    assert(files.exists(_.endsWith(Paths.get("graft", "operators", "Dedup.scala"))))
    val offenders = for {
      f <- files
      m <- call.findAllMatchIn(Files.readString(f))
      if !(m.group(1) == "ScopedCache" && m.group(2) == "checkpoint")
    } yield s"${root.relativize(f)}: ${m.matched.trim}"
    assert(offenders.isEmpty,
      "truncate lineage through ScopedCache.truncate / iterate / checkpoint:\n" +
        offenders.mkString("\n"))
  }
}
