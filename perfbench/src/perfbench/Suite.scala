package perfbench

import org.apache.spark.sql.SparkSession

/** The query-suite workload: a fixed subset of `SparkEntry.queries`, a few
  * per operators module, over the bundled sf0.01 test tables. Every
  * query is forced through the noop sink; a query that throws is a failed
  * sample with no time.
  *
  * As a child process it prints one JSON line when the session is ready
  * and one per pass over the subset: pass 0 warms the JIT and the plan
  * caches, later passes are timed until `seconds` have elapsed.
  *
  *   perfbench.Suite <sfDir> <seconds>
  */
object Suite {

  /** (operators module, query name): cheap entries of each module whose
    * first run costs little JIT warm-up, plus the residual IVF-PQ scorer,
    * whose per-variant PQ code is due to be folded into one ADC kernel. */
  val Queries: Seq[(String, String)] = Seq(
    "CrawlOps" -> "q_unseen_filter_bloom",
    "CrawlOps" -> "q_salted_host_rank",
    "CrawlOps" -> "q_robots_gate",
    "ScanOps" -> "q_warc_parse",
    "ScanOps" -> "q_json_payload",
    "ScanOps" -> "q_section_assign",
    "ScanOps" -> "q_html_main_content",
    "CleanOps" -> "q_doc_pii",
    "SearchOps" -> "q_doc_postings",
    "TrainingOps" -> "q_doc_tokens",
    "TrainingOps" -> "q_doc_simhash",
    "TrainingOps" -> "q_emb_ivfpq_res_topk")

  /** The warm-up pass plus at least three timed passes, and a cap. */
  val MinPasses = 4
  val MaxPasses = 12

  val Modules: Seq[String] =
    Seq("CrawlOps", "ScanOps", "CleanOps", "SearchOps", "TrainingOps")

  /** The session exactly as FrontierMain builds it: master and driver
    * memory come from the launch, nothing else is set. */
  def session(appName: String): SparkSession = {
    val b = SparkSession.builder().appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
    val spark = (if (sys.props.get("spark.master").isEmpty)
      b.master("local[*]") else b).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.registerAll(spark)
    spark
  }

  /** Effective settings a later change to the session would move. */
  def settings(spark: SparkSession): Map[String, Any] = {
    val keys = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled", "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold", "spark.default.parallelism",
      "spark.sql.session.timeZone", "spark.serializer")
    keys.map(k => k -> spark.conf.getOption(k).getOrElse("<default>")).toMap ++
      Map("jvm_max_heap_bytes" -> Runtime.getRuntime.maxMemory,
        "default_parallelism" -> spark.sparkContext.defaultParallelism)
  }

  final case class QueryRun(module: String, name: String, sample: Force.Sample) {
    def fields: Map[String, Any] =
      Map("module" -> module, "name" -> name) ++ sample.fields
  }

  /** One pass over the subset; `around` wraps each query (tracing hook). */
  def pass(spark: SparkSession, sfDir: String,
      around: (String, String, () => Force.Sample) => Force.Sample =
        (_, _, f) => f()): Seq[QueryRun] = {
    val all = graft.SparkEntry.queries
    Queries.map { case (module, name) =>
      val s = around(module, name, () => all.get(name) match {
        case Some(fn) => Force.timed(fn(spark, sfDir))
        case None => Force.Sample(ok = false, None, None,
          Some(s"query $name is not in SparkEntry.queries"))
      })
      QueryRun(module, name, s)
    }
  }

  /** Problems with a pass: failed queries and row counts off the oracle. */
  def rowProblems(runs: Seq[QueryRun], oracle: Map[String, Long]): Seq[String] =
    runs.flatMap { r =>
      if (!r.sample.ok) Some(s"${r.name} failed: ${r.sample.error.getOrElse("")}")
      else oracle.get(r.name) match {
        case None => Some(s"${r.name}: no oracle row count")
        case Some(want) if r.sample.rows.contains(want) => None
        case Some(want) => Some(s"${r.name}: ${r.sample.rows.getOrElse(-1L)} rows, oracle $want")
      }
    }

  def oracleRows(path: java.nio.file.Path): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val node = Json.parseFile(path).get("oracle_rows")
    node.fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, seconds) = args
    val spark = session("perfbench-suite")
    println(Json.write(Map("event" -> "ready", "settings" -> settings(spark))))
    val t0 = System.nanoTime()
    var n = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (n < MaxPasses && (n < MinPasses || elapsed < seconds.toDouble)) {
      val runs = pass(spark, sfDir)
      println(Json.write(Map("event" -> "pass", "pass" -> n,
        "queries" -> runs.map(_.fields))))
      n += 1
    }
    spark.stop()
  }
}
