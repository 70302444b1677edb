package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.store.FrontierStore

/** One benchmark run: launches the program as a child process, measures it
  * from outside, checks its outputs, writes a record and prints the result
  * line (`correct`, `attempted`, `failed`, `metrics`). Exits 1 when a
  * correctness gate fails.
  *
  *   perfbench.Runner <workload> <seed> <seconds> <trace 0|1> <checkoutRoot>
  *     <classpath> <workDir>
  */
object Runner {

  val Cores = 4
  val Heap = "2g"
  val RegistrySources = 107
  /** FrontierMain ticks per untraced run: the first (cold) tick plus the
    * steady ones whose gaps give op_p50_s. */
  val UntracedTicks = 3
  val TracedTicks = 2

  final case class Result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)], record: Map[String, Any])

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def ownCpuNanos: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  final case class Ctx(workload: String, seed: Long, seconds: Int, root: Path,
      classpath: String, work: Path) {
    val inputs: Path = work.resolve("inputs")
    val tmp: Path = work.resolve("tmp")
    val env: Map[String, String] = Map("SPARK_LOCAL_DIRS" -> tmp.toString)
    val sfDir: Path = root.resolve("perfbench/data/sf0.01")
    val oracle: Path = root.resolve("perfbench/data/oracle_rows.json")
    val gcLog: Path = work.resolve("gc.log")
    def java(main: String, args: Seq[String]): Seq[String] =
      Proc.javaCmd(root.resolve("perfbench/jvm.args"), classpath, tmp, gcLog,
        Heap, Cores, main, args)
  }

  def frontierArgs(c: Ctx, store: Path, nTicks: Int): Seq[String] =
    Seq(store.toString, RegistrySources.toString, nTicks.toString,
      s"--listings=${c.inputs.resolve("listings.parquet")}",
      s"--pages=${c.inputs.resolve("pages.parquet")}",
      s"--sources=${c.inputs.resolve("sources.parquet")}",
      s"--robots=${c.inputs.resolve("robots.parquet")}")

  private def gateSession(c: Ctx): SparkSession = {
    val spark = SparkSession.builder().appName("perfbench-gate")
      .master(s"local[$Cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.registerAll(spark)
    spark
  }

  /** Writes the seeded parquet inputs for `ticks` ticks with gen.py. */
  def generate(c: Ctx, ticks: Int): Unit = {
    val out = Proc.run(Seq("python3", c.root.resolve("perfbench/gen.py").toString,
      "--seed", c.seed.toString, "--ticks", ticks.toString, "--out", c.inputs.toString),
      c.work, Map.empty, c.work.resolve("gen.stderr"), 60)
    require(out.exitCode == 0, s"gen.py exit code ${out.exitCode}")
  }

  /** tick_registry: one long-running FrontierMain over a fresh store. */
  def tickRun(c: Ctx): Result = {
    generate(c, UntracedTicks)
    val store = c.work.resolve("store")
    val cmd = c.java("graft.FrontierMain", frontierArgs(c, store, UntracedTicks))
    val out = Proc.run(cmd, c.work, c.env, c.work.resolve("frontier.stderr"), 140)
    val ticks = out.lines.flatMap(l => Json.parseObject(l.text)
      .filter(_.has("tick")).map(n => (l.atNs, n)))
    val problems = scala.collection.mutable.ArrayBuffer[String]()
    if (out.exitCode != 0) problems += s"FrontierMain exit code ${out.exitCode}"
    val failed = UntracedTicks - ticks.size
    val setup = ticks.headOption.map { case (at, n) =>
      (at - out.startNs) / 1e9 - n.get("sec").asDouble }
    val gaps = ticks.sliding(2).collect { case Seq((a, _), (b, _)) => (b - a) / 1e9 }
      .toSeq
    val counts = ticks.map { case (_, n) => n.get("tick").asInt ->
      Gate.TickCounts(n.get("new_articles").asLong, n.get("skipped").asLong,
        n.get("errors").asLong) }.toMap
    val gateT0 = System.nanoTime()
    val gate =
      if (ticks.isEmpty) None
      else {
        val spark = gateSession(c)
        try Some(Gate.check(spark, c.inputs, new FrontierStore(store.toString), counts))
        finally spark.stop()
      }
    val gateSec = (System.nanoTime() - gateT0) / 1e9
    gate.foreach(g => problems ++= g.problems)
    if (ticks.isEmpty) problems += "no tick completed"
    val storeBytes = Proc.treeBytes(store)
    val metrics = Seq(
      setup.map(("setup_s", _, "s")),
      if (gaps.isEmpty) None else Some(("op_p50_s", median(gaps), "s"))).flatten
    Result(problems.isEmpty, UntracedTicks, failed, metrics, Map(
      "command" -> cmd,
      "exit_code" -> out.exitCode,
      "wall_s" -> out.wallSec,
      "child_cpu_s" -> out.cpuSec,
      "peak_rss_mb" -> out.peakRssKb / 1024.0,
      "peak_heap_after_gc_mb" -> Proc.peakHeapAfterGcMb(c.gcLog),
      "tick_lines" -> ticks.map { case (at, n) =>
        Map("arrival_s" -> (at - out.startNs) / 1e9, "line" -> n) },
      "op_samples_s" -> gaps,
      "setup_samples_s" -> setup.toSeq,
      "gate_s" -> gateSec,
      "problems" -> problems.toSeq,
      "sizes" -> Map("store_bytes" -> storeBytes,
        "seen_rows" -> gate.map(_.seenRows),
        "live_articles" -> gate.map(_.liveArticles),
        "listing_rows_per_tick" -> gate.map(_.listingRowsPerTick),
        "store_bytes_per_article" -> gate.map(g =>
          storeBytes.toDouble / math.max(1L, g.liveArticles)))))
  }

  /** query_suite: the Suite child; setup is launch to its ready line. */
  def suiteRun(c: Ctx): Result = {
    val cmd = c.java("perfbench.Suite", Seq(c.sfDir.toString, c.seconds.toString))
    val out = Proc.run(cmd, c.work, c.env, c.work.resolve("suite.stderr"), 110)
    val events = out.lines.flatMap(l => Json.parseObject(l.text)
      .filter(_.has("event")).map(n => (l.atNs, n)))
    val ready = events.find(_._2.get("event").asText == "ready")
    val passes = events.filter(_._2.get("event").asText == "pass")
    val oracle = Suite.oracleRows(c.oracle)
    val runs = passes.map { case (_, n) =>
      n.get("queries").elements().asScala.map { q =>
        Suite.QueryRun(q.get("module").asText, q.get("name").asText,
          Force.Sample(q.get("ok").asBoolean,
            Option(q.get("sec")).filterNot(_.isNull).map(_.asDouble),
            Option(q.get("rows")).filterNot(_.isNull).map(_.asLong),
            Option(q.get("error")).filterNot(_.isNull).map(_.asText)))
      }.toSeq
    }
    val problems = scala.collection.mutable.ArrayBuffer[String]()
    if (out.exitCode != 0) problems += s"Suite exit code ${out.exitCode}"
    if (passes.size < Suite.MinPasses) problems += s"only ${passes.size} passes completed"
    runs.foreach(r => problems ++= Suite.rowProblems(r, oracle))
    val allPasses = (ready.toSeq ++ passes).map(_._1)
    val gaps = allPasses.sliding(2).map { case Seq(a, b) => (b - a) / 1e9 }
      .toSeq.drop(1) // the first gap is the warm-up pass
    // suite time = sum over queries of each query's median over the timed
    // passes: a burst of outside load that hits one pass drops out
    val perQuery = Suite.Queries.indices.map(i =>
      runs.drop(1).flatMap(_.lift(i)).flatMap(_.sample.sec))
    val suiteSec =
      if (runs.size < 2 || perQuery.exists(_.isEmpty)) None
      else Some(perQuery.map(median).sum)
    val metrics = Seq(
      ready.map { case (at, _) => ("setup_s", (at - out.startNs) / 1e9, "s") },
      suiteSec.map(("op_p50_s", _, "s"))).flatten
    Result(problems.isEmpty, runs.map(_.size).sum.max(1),
      runs.flatten.count(!_.sample.ok), metrics, Map(
        "command" -> cmd,
        "exit_code" -> out.exitCode,
        "wall_s" -> out.wallSec,
        "child_cpu_s" -> out.cpuSec,
        "peak_rss_mb" -> out.peakRssKb / 1024.0,
        "peak_heap_after_gc_mb" -> Proc.peakHeapAfterGcMb(c.gcLog),
        "settings" -> ready.map(_._2.get("settings")),
        "pass_gaps_s" -> gaps,
        "per_query_median_s" -> Suite.Queries.map(_._2).zip(perQuery.map(median)).toMap,
        "passes" -> runs.map(_.map(_.fields)),
        "problems" -> problems.toSeq,
        "input" -> "fixed sf0.01 test tables; the seed does not apply"))
  }

  /** --trace 1: the in-process replay with spans, in its own child JVM. */
  def tracedRun(c: Ctx): Result = {
    generate(c, TracedTicks)
    val outFile = c.work.resolve("traced.json")
    val spansFile = c.work.resolve("spans.json")
    val cmd = c.java("perfbench.Traced", Seq(c.inputs.toString, c.work.toString,
      RegistrySources.toString, TracedTicks.toString, c.sfDir.toString,
      c.oracle.toString, outFile.toString, spansFile.toString))
    val out = Proc.run(cmd, c.work, c.env, c.work.resolve("traced.stderr"), 160)
    if (out.exitCode != 0 || !Files.exists(outFile))
      return Result(correct = false, 1, 1, Nil, Map("command" -> cmd,
        "exit_code" -> out.exitCode, "problems" -> Seq("traced replay failed")))
    val node = Json.parseFile(outFile)
    val metrics = node.get("metrics").fields().asScala.map { e =>
      (e.getKey, e.getValue.get("value").asDouble, e.getValue.get("unit").asText)
    }.toSeq ++ Seq(("memory.peak_rss_mb", out.peakRssKb / 1024.0, "MB")) ++
      Proc.peakHeapAfterGcMb(c.gcLog).map(("memory.peak_heap_mb", _, "MB"))
    Result(node.get("correct").asBoolean, node.get("attempted").asInt,
      node.get("failed").asInt, metrics, Map(
        "tracing_overhead" -> tracingOverhead(c, metrics),
        "command" -> cmd, "exit_code" -> out.exitCode, "wall_s" -> out.wallSec,
        "child_cpu_s" -> out.cpuSec,
        "traced" -> node, "spans_file" -> c.root.relativize(spansFile).toString))
  }

  /** Traced against untraced time of the workload's operation, when an
    * untraced record of the same workload and seed is in this checkout. */
  def tracingOverhead(c: Ctx, traced: Seq[(String, Double, String)])
      : Option[Map[String, Any]] = {
    val untraced = recordFile(c.root, c.workload, c.seed, trace = false)
    val tracedName =
      if (c.workload == "query_suite") "operators.pass_traced_s"
      else "pipeline.tick_traced_s"
    for {
      t <- traced.find(_._1 == tracedName).map(_._2)
      if Files.exists(untraced)
      u = Json.parseFile(untraced).path("metrics").path("op_p50_s").path("value")
      if u.isNumber
    } yield Map("traced_metric" -> tracedName, "traced_s" -> t,
      "untraced_op_p50_s" -> u.asDouble, "ratio" -> t / u.asDouble)
  }

  def recordFile(root: Path, workload: String, seed: Long, trace: Boolean): Path =
    root.resolve(".bench_build/records")
      .resolve(s"$workload-seed$seed-trace${if (trace) 1 else 0}.json")

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, rootS, classpath, workS) = args
    val root = Paths.get(rootS).toAbsolutePath
    val c = Ctx(workload, seedS.toLong, secondsS.toInt, root, classpath,
      Paths.get(workS))
    Files.createDirectories(c.tmp)
    val trace = traceS == "1"

    val jiffies0 = graft.Bench.readCpuJiffies()
    val own0 = ownCpuNanos
    val t0 = System.nanoTime()
    val r =
      if (trace) tracedRun(c)
      else workload match {
        case "tick_registry" => tickRun(c)
        case "query_suite" => suiteRun(c)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    val wall = (System.nanoTime() - t0) / 1e9
    val childCpuNs = (r.record.get("child_cpu_s") match {
      case Some(d: Double) => d
      case _ => 0.0
    }) * 1e9
    val noise = graft.Bench.benchNoise(jiffies0, graft.Bench.readCpuJiffies(),
      own0, ownCpuNanos + childCpuNs.toLong, wall)

    val record = Map(
      "workload" -> workload, "seed" -> c.seed, "trace" -> trace,
      "seconds" -> c.seconds, "correct" -> r.correct, "attempted" -> r.attempted,
      "failed" -> r.failed,
      "metrics" -> r.metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "noise" -> Map("wall_s" -> noise.wallSec, "steal_frac" -> noise.stealFrac,
        "busy_frac" -> noise.busyFrac, "own_cpu_frac" -> noise.ownCpuFrac,
        "external_busy_frac" -> noise.externalBusyFrac),
      "launch" -> Map("master" -> s"local[$Cores]", "driver_heap" -> Heap,
        "spark_settings_passed" -> Seq(s"spark.master=local[$Cores]")),
      "run" -> r.record)
    Json.writeFile(recordFile(root, workload, c.seed, trace), record)
    println(Json.write(Map("correct" -> r.correct, "attempted" -> r.attempted,
      "failed" -> r.failed, "metrics" -> r.metrics.map { case (n, v, u) =>
        n -> Map("value" -> v, "unit" -> u) }.toMap)))
    System.out.flush()
    sys.exit(if (r.correct) 0 else 1)
  }
}
