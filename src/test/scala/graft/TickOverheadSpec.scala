package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.graftbridge.Bridge

import graft.model.Fixtures
import graft.pipeline.{CrawlTick, RefSimulator}
import graft.store.FrontierStore

/** FrontierMain's tick under its own session settings: a fixture tick plus
  * commit at the default 200 shuffle partitions must size every stage to
  * the data (no stage runs 200 tasks), stay exact against the simulator,
  * and an idle tick must still commit a manifest with no data paths. The
  * shared test session is built with FrontierMain.BuildConf, so a repeated
  * tick finds its generated classes in the codegen cache.
  */
class TickOverheadSpec extends SparkTestBase {

  private val nSources = 12
  private val itemsPerSource = 24
  private val storeDir = "target/test-store-overhead"

  /** Runs `body` at 200 shuffle partitions with FrontierMain.SessionConf
    * applied, then restores every key it touched. */
  private def withTickSession[T](body: => T): T = {
    val keys = "spark.sql.shuffle.partitions" +: FrontierMain.SessionConf.keys.toSeq
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    FrontierMain.SessionConf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `body`'s result plus the task count of every stage it completed. */
  private def stageTasks[T](body: => T): (T, Seq[Int]) = {
    val tasks = new ConcurrentLinkedQueue[Integer]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        tasks.add(e.stageInfo.numTasks)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      Bridge.drainListeners(sc)
      (out, tasks.asScala.map(_.toInt).toSeq)
    } finally sc.removeSparkListener(listener)
  }

  private lazy val fx = {
    import spark.implicits._
    (Fixtures.listItemsAt(spark, nSources, itemsPerSource, 0),
      Fixtures.sourceSpecs(nSources),
      Fixtures.robots(nSources),
      Fixtures.pageStore(spark, nSources, maxTick = 0),
      Fixtures.urlSeenSeed(spark, nSources, Fixtures.DefaultPreSeen))
  }

  private def freshStore(): FrontierStore = {
    import spark.implicits._
    new FrontierStore(storeDir).delete()
    val store = new FrontierStore(storeDir).init()
    store.initSeen(spark, fx._5.toDF().select("canonical_url"))
    store
  }

  /** One FrontierMain tick body: store probe, tick, commit, cleanup. */
  private def tickAndCommit(store: FrontierStore,
      listings: org.apache.spark.sql.DataFrame, tick: Int): FrontierStore.Manifest = {
    import spark.implicits._
    val (_, sources, robots, pages, _) = fx
    val t = CrawlTick.runTick(spark, listings, sources.toDF(),
      store.bloomProbe(spark), robots.toDF(), pages.toDF(), salted = false)
    val m = store.commit(spark, t.emitted, t.stats, fetchEpoch = tick.toLong,
      errors = Some(t.errors))
    t.cleanup()
    m
  }

  /** Upper bound on the classes a repeated fixture tick + commit may
    * compile. Measured: 0 with the cache at FrontierMain.BuildConf's size,
    * 138 (all of them again) at Spark's default of 100 entries. */
  private val WarmTickCompiles = 10L

  test("a fixture tick + commit at 200 shuffle partitions matches " +
      "RefSimulator and runs no 200-task stage") {
    val store = freshStore()
    val (m, tasks) = withTickSession {
      stageTasks(tickAndCommit(store, fx._1.toDF(), 0))
    }
    assert(tasks.nonEmpty)
    assert(tasks.max < 200,
      s"a stage ran ${tasks.max} tasks; per-stage tasks: ${tasks.mkString(",")}")
    assertMatchesSimulator(store, m)
  }

  test("a repeated fixture tick + commit over a fresh store compiles " +
      "(almost) nothing: its classes stay in the codegen cache") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      FrontierMain.BuildConf("spark.sql.codegen.cache.maxEntries"))
    val compiles = (1 to 2).map { _ =>
      val store = freshStore()
      val c0 = FrontierMain.codegenCompiles()
      val m = withTickSession(tickAndCommit(store, fx._1.toDF(), 0))
      val n = FrontierMain.codegenCompiles() - c0
      assertMatchesSimulator(store, m)
      n
    }
    info(s"classes compiled: first run ${compiles(0)}, second ${compiles(1)}")
    assert(compiles(1) <= WarmTickCompiles,
      s"the second tick compiled ${compiles(1)} classes (first: ${compiles(0)})")
  }

  /** Emits, totals, errors and the seen set of snapshot `m` equal the
    * simulator's over the same fixture tick. */
  private def assertMatchesSimulator(store: FrontierStore,
      m: FrontierStore.Manifest): Unit = {
    import spark.implicits._
    val (listings, sources, robots, pages, seed) = fx
    val sim = RefSimulator.run(listings.collect().toSeq, sources,
      seed.collect().map(_.canonical_url).toSet, robots,
      pages.collect().map(p => p.canonical_url -> p).toMap)
    val got = store.articles(spark, Some(m.snapshotId))
      .select("canonical_url", "source", "title", "host", "fetch_epoch",
        "emit_idx", "metadata")
      .as[(String, String, String, String, Long, Long, String)]
      .collect().sortBy(_._6).toVector
    assert(got.nonEmpty, "tick emitted nothing — fixture degenerate")
    assert(got === sim.emits.map(e => (e.canonicalUrl, e.source, e.title,
      e.host, e.fetchEpoch, e.emitIdx, e.metadata)))
    assert((m.newArticles, m.skipped, m.errors) === ((
      sim.stats.values.map(_.newArticles).sum,
      sim.stats.values.map(_.skipped).sum,
      sim.stats.values.map(_.errors).sum)))
    assert(m.errors > 0, "fixture plants fetch failures — none counted")
    assert(store.errors(spark, Some(m.snapshotId)).count() === m.errors)
    assert(store.seen(spark).as[String].collect().toSet === sim.seenAfter)
  }

  test("an idle tick (zero emits, zero errors) commits a manifest with no " +
      "article, seen or error paths and leaves no data directory") {
    import spark.implicits._
    val store = freshStore()
    val seenBefore = store.seen(spark).as[String].collect().toSet
    val m = withTickSession(tickAndCommit(store, fx._1.toDF().limit(0), 0))
    assert((m.newArticles, m.skipped, m.errors) === ((0L, 0L, 0L)))
    assert(m.articlesPath.isEmpty && m.seenDeltaPath.isEmpty &&
      m.bloomPath.isEmpty && m.errorsPath.isEmpty)
    assert(m.segmentCounts.isEmpty)
    val dataDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(storeDir, "data"))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(s"snap-${m.snapshotId}-")).toSeq
    assert(dataDirs.isEmpty, s"idle commit left $dataDirs")
    assert(store.seen(spark).as[String].collect().toSet === seenBefore)
    assert(store.bloomProbe(spark).segmentBytes.exists(_ > 0L))
  }
}
