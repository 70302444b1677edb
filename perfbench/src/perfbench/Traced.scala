package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}

import graft.functions.UrlFunctions.{canonicalize_url, url_host, url_path}
import graft.model.Fixtures
import graft.pipeline.CrawlTick
import graft.politeness.Scheduler
import graft.seen.{SeenProbe, UrlSeen}
import graft.store.FrontierStore

/** The traced run: FrontierMain's call sequence replayed in process, with
  * one span around every public call, plus Spark listener counters, so each
  * module gets its own numbers.
  *
  * Per tick it does what FrontierMain does (read listings, open the store's
  * Bloom segments and seen set, build the tick, commit, release caches).
  * After each commit, and outside the tick span, it re-runs the tick's
  * kernels on that tick's inputs: canonicalize, the seen probe (broadcast
  * and co-partitioned), the robots gate, the salted host rank and forced
  * store reads. After the last tick it runs one maintenance cycle (retract,
  * compact, compact articles, expire, orphan sweep) and then one warm and
  * one timed pass of the operators subset from [[Suite]].
  *
  *   perfbench.Traced <inputsDir> <workDir> <nSources> <nTicks> <sfDir>
  *     <oracleRows.json> <out.json> <spans.json>
  */
object Traced {

  def main(args: Array[String]): Unit = {
    val Array(inputsS, workS, nSourcesS, nTicksS, sfDir, oracleS, outS, spansS) =
      args
    val inputs = Paths.get(inputsS)
    val nTicks = nTicksS.toInt
    val tracer = new Tracer
    val problems = mutable.ArrayBuffer[String]()
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)

    val spark = tracer.span("setup.session")(Suite.session("graft-frontier"))
    import spark.implicits._
    val sc = spark.sparkContext
    val counters = new SparkCounters
    sc.addSparkListener(counters)

    val storeDir = Paths.get(workS).resolve("store")
    val store = tracer.span("store.open") {
      val s = new FrontierStore(storeDir.toString).init()
      s.latest()
      s
    }
    tracer.span("store.seed") {
      store.initSeen(spark, Fixtures.urlSeenSeed(spark, nSourcesS.toInt,
        Fixtures.DefaultPreSeen).toDF().select("canonical_url"))
    }
    val sources = spark.read.parquet(inputs.resolve("sources.parquet").toString)
    val robots = spark.read.parquet(inputs.resolve("robots.parquet").toString)

    final case class TickRow(tick: Int, sec: Double, counters: Map[String, Long],
        bytesWritten: Long, post: Map[String, Double])
    val tickRows = mutable.ArrayBuffer[TickRow]()
    val counts = mutable.LinkedHashMap[Int, Gate.TickCounts]()

    for (tick <- 0 until nTicks) {
      val bytes0 = Proc.treeBytes(storeDir)
      val c0 = counters.snapshot(sc)
      val ts = System.nanoTime()
      val (t, m, listings) = tracer.span("tick", Some(tick)) {
        val listings = tracer.span("pipeline.listings_read", Some(tick)) {
          val df = spark.read.parquet(inputs.resolve("listings.parquet").toString)
          df.filter(col("tick") === tick).drop("tick")
        }
        val pages = spark.read.parquet(inputs.resolve("pages.parquet").toString)
        val segs = tracer.span("store.segments_call", Some(tick))(store.segments(spark))
        val seen = tracer.span("store.seen_call", Some(tick))(store.seen(spark))
        val probe = SeenProbe.BloomConfirm(segs, seen, store.nSegments)
        val t = tracer.span("pipeline.run_tick_call", Some(tick)) {
          CrawlTick.runTick(spark, listings, sources, probe, robots, pages,
            salted = false)
        }
        val m = tracer.span("store.commit", Some(tick)) {
          store.commit(spark, t.emitted, t.stats, fetchEpoch = tick.toLong,
            errors = Some(t.errors))
        }
        (t, m, listings)
      }
      val tickSec = (System.nanoTime() - ts) / 1e9
      val c1 = counters.snapshot(sc)
      counts(tick) = Gate.TickCounts(m.newArticles, m.skipped, m.errors)

      // kernels re-run on this tick's inputs, outside the tick span
      val post = mutable.LinkedHashMap[String, Double]()
      def timed(name: String)(f: => Any): Unit = {
        val t0 = System.nanoTime()
        tracer.span(name, Some(tick))(f)
        post(name) = (System.nanoTime() - t0) / 1e9
      }
      def kernels(): Unit = {
        timed("functions.canonicalize") {
          Force.noop(listings.select(canonicalize_url(col("url")).as("c"))
            .select(col("c"), url_host(col("c")), url_path(col("c"))))
        }
        val pre = Some(m.snapshotId - 1)
        val cand = listings
          .join(broadcast(sources.select("source", "list_cap")), Seq("source"))
          .filter(col("item_idx") < col("list_cap"))
          .select(canonicalize_url(col("url")).as("canonical_url"))
          .withColumn("host", url_host(col("canonical_url")))
          .withColumn("path", url_path(col("canonical_url")))
        def probeWith(maxBytes: Long): Unit = {
          val (flagged, release) = UrlSeen.flagSeenManaged(cand,
            SeenProbe.BloomConfirm(store.segments(spark, pre),
              store.seen(spark, pre), store.nSegments, maxBytes),
            "canonical_url", "is_seen")
          Force.noop(flagged)
          release()
        }
        timed("seen.probe")(probeWith(UrlSeen.DefaultMaxBroadcastSegmentBytes))
        timed("seen.probe_copart")(probeWith(0L))
        // Bloom verdicts against exact membership, row by row
        val segArr = new Array[Array[Byte]](store.nSegments)
        store.segments(spark, pre).collect().foreach { r =>
          segArr(r.getLong(0).toInt) = r.getAs[Array[Byte]]("bloom")
        }
        val preSeen = store.seen(spark, pre).as[String].collect().toSet
        val hashed = cand.select(col("canonical_url"),
          UrlSeen.urlHash(col("canonical_url"))).as[(String, Long)].collect()
        val maybe = hashed.map { case (_, h) => UrlSeen.probeSegments(segArr, h) }
        val isSeen = hashed.map { case (u, _) => preSeen.contains(u) }
        val unseen = isSeen.count(!_)
        post("seen.probes") = hashed.length.toDouble
        post("seen.bloom_positive") = maybe.count(identity).toDouble
        post("seen.confirmed_seen") =
          maybe.zip(isSeen).count { case (a, b) => a && b }.toDouble
        post("seen.fpp_measured") =
          if (unseen == 0) 0.0
          else maybe.zip(isSeen).count { case (a, b) => a && !b }.toDouble / unseen
        if (maybe.zip(isSeen).exists { case (a, b) => b && !a })
          problems += s"tick $tick: Bloom false negative"
        timed("politeness.robots") {
          Force.noop(Scheduler.applyRobots(cand, robots, "host", "path"))
        }
        val emittedTick = store.articlesWithTick(spark)
          .filter(col("crawl_tick") === tick)
        timed("politeness.host_rank") {
          Force.noop(Scheduler.saltedHostRank(emittedTick, "host",
            bucketCol = col("source_idx"),
            orderCols = Seq(col("source_idx").asc, col("item_idx").asc)))
        }
        val perHost = emittedTick.groupBy("host").count().as[(String, Long)]
          .collect().map(_._2.toDouble)
        post("politeness.host_skew") =
          if (perHost.isEmpty) 0.0 else perHost.max / Runner.median(perHost.toSeq)
        timed("store.segments_read")(Force.noop(store.segments(spark, pre)))
        timed("store.seen_read")(Force.noop(store.seen(spark, pre)))
        post("store.chain_len") = store.seenChain(m.snapshotId).size.toDouble
      }
      tracer.span("post_commit", Some(tick)) {
        if (tick > 0) timed("pipeline.emit")(Force.noop(t.emitted))
        tracer.span("pipeline.cleanup", Some(tick))(t.cleanup())
        if (tick > 0) kernels()
      }
      tickRows += TickRow(tick, tickSec, SparkCounters.delta(c0, c1),
        Proc.treeBytes(storeDir) - bytes0, post.toMap)
    }

    val gate = tracer.span("gate")(Gate.check(spark, inputs, store, counts.toMap))
    problems ++= gate.problems
    val storeBytes = Proc.treeBytes(storeDir)

    // one maintenance cycle, the FrontierMain flag code paths in order
    val lastTick = nTicks - 1
    val due = store.articlesWithTick(spark)
      .select(col("canonical_url"), col("source"), col("crawl_tick").as("fetch_epoch"))
    val dueUrls = Scheduler.recrawlDue(due,
      due.select("source").distinct().withColumn("refresh_interval", lit(1L)),
      nowEpoch = lastTick.toLong)
    val dueSet = dueUrls.select("canonical_url").as[String].collect().toSet
    val seenBefore = store.seen(spark).as[String].collect().toSet
    tracer.span("store.retract")(store.retract(spark, dueUrls))
    tracer.span("store.compact")(store.compact(spark))
    tracer.span("store.compact_articles")(store.compactArticles(spark))
    tracer.span("store.expire") {
      val retainFrom = store.snapshotIds().takeRight(2).head
      if (retainFrom > store.gcHorizon()) store.expireSnapshots(retainFrom)
    }
    tracer.span("store.orphan_sweep")(store.removeOrphanFiles(olderThanMs = 0L))
    if (store.seen(spark).as[String].collect().toSet != (seenBefore -- dueSet))
      problems += "after maintenance the seen set is not the pre-retract set " +
        "minus the retracted URLs"

    // operators: one warm pass, then one timed pass with a span per query
    val oracle = Suite.oracleRows(Paths.get(oracleS))
    tracer.span("operators.warmup")(Suite.pass(spark, sfDir))
    val moduleStages = mutable.Map[String, Long]().withDefaultValue(0L)
    val passT0 = System.nanoTime()
    val runs = tracer.span("operators.pass") {
      Suite.pass(spark, sfDir, (module, name, f) => {
        val s0 = counters.snapshot(sc)
        val s = tracer.span(s"operators.$module")(tracer.span(s"query.$name")(f()))
        moduleStages(module) += counters.snapshot(sc)("stages") - s0("stages")
        s
      })
    }
    val passSec = (System.nanoTime() - passT0) / 1e9
    problems ++= Suite.rowProblems(runs, oracle)

    // ---- metrics: steady ticks (all but the first), medians
    val steady = if (tickRows.size > 1) tickRows.drop(1).toSeq else tickRows.toSeq
    def med(f: TickRow => Double): Double = Runner.median(steady.map(f))
    put("pipeline.tick_traced_s", med(_.sec), "s")
    put("pipeline.run_tick_call_s",
      Runner.median(tracer.byName("pipeline.run_tick_call").filter(_.tick.exists(_ > 0))
        .map(_.sec)), "s")
    put("pipeline.emit_s", med(_.post("pipeline.emit")), "s")
    put("functions.canonicalize_s", med(_.post("functions.canonicalize")), "s")
    put("seen.probe_s", med(_.post("seen.probe")), "s")
    put("seen.probe_copart_s", med(_.post("seen.probe_copart")), "s")
    put("seen.bloom_positive", steady.map(_.post("seen.bloom_positive")).sum, "count")
    put("seen.confirmed_seen", steady.map(_.post("seen.confirmed_seen")).sum, "count")
    put("seen.fpp_measured", med(_.post("seen.fpp_measured")), "fraction")
    put("politeness.robots_s", med(_.post("politeness.robots")), "s")
    put("politeness.host_rank_s", med(_.post("politeness.host_rank")), "s")
    put("politeness.host_skew", med(_.post("politeness.host_skew")), "ratio")
    put("store.open_s", tracer.total("store.open"), "s")
    put("store.segments_read_s", med(_.post("store.segments_read")), "s")
    put("store.seen_read_s", med(_.post("store.seen_read")), "s")
    put("store.chain_len", tickRows.last.post("store.chain_len"), "count")
    put("store.commit_s", Runner.median(tracer.byName("store.commit")
      .filter(_.tick.exists(_ > 0)).map(_.sec)), "s")
    put("store.bytes_written", med(_.bytesWritten.toDouble), "B")
    put("store.bytes_per_article", storeBytes.toDouble / math.max(1L, gate.liveArticles), "B")
    for (n <- Seq("retract", "compact", "compact_articles", "expire", "orphan_sweep"))
      put(s"store.${n}_s", tracer.total(s"store.$n"), "s")
    for (mod <- Suite.Modules) {
      put(s"operators.${mod}_s",
        runs.filter(_.module == mod).flatMap(_.sample.sec).sum, "s")
      put(s"operators.${mod}_stages", moduleStages(mod).toDouble, "count")
    }
    put("operators.pass_traced_s", passSec, "s")
    put("spark.jobs", med(_.counters("jobs").toDouble), "count")
    put("spark.stages", med(_.counters("stages").toDouble), "count")
    put("spark.tasks", med(_.counters("tasks").toDouble), "count")
    put("spark.shuffle_write_bytes", med(_.counters("shuffle_write_bytes").toDouble), "B")
    put("spark.shuffle_read_bytes", med(_.counters("shuffle_read_bytes").toDouble), "B")
    put("spark.spill_bytes", med(_.counters("spill_bytes").toDouble), "B")
    put("spark.executor_run_s", med(_.counters("executor_run_ms") / 1000.0), "s")
    put("spark.gc_s", med(_.counters("gc_ms") / 1000.0), "s")

    val attempted = nTicks + runs.size
    val failed = runs.count(!_.sample.ok)
    Json.writeFile(Paths.get(spansS), Map(
      "spans" -> tracer.spans.map(_.fields)))
    Json.writeFile(Paths.get(outS), Map(
      "correct" -> problems.isEmpty,
      "problems" -> problems.toSeq,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "settings" -> Suite.settings(spark),
      "ticks" -> tickRows.map(r => Map("tick" -> r.tick, "sec" -> r.sec,
        "spark" -> r.counters, "bytes_written" -> r.bytesWritten,
        "post_commit" -> r.post, "counts" -> Map(
          "new_articles" -> counts(r.tick).newArticles,
          "skipped" -> counts(r.tick).skipped,
          "errors" -> counts(r.tick).errors))),
      "queries" -> runs.map(_.fields),
      "sizes" -> Map("listing_rows_per_tick" -> gate.listingRowsPerTick,
        "seen_rows" -> gate.seenRows,
        "live_articles" -> gate.liveArticles, "store_bytes" -> storeBytes),
      "notes" -> Seq(
        "seen.probe_copart_s forces maxBroadcastBytes = 0; no workload reaches " +
          "the co-partitioned path on its own, because it dispatches above " +
          "1 GiB of Bloom segments.",
        "post-commit kernels run on ticks after the first and outside the " +
          "tick span; pipeline.emit_s re-forces the emitted frame over the " +
          "tick's cached intermediates.")))
    spark.stop()
  }
}
