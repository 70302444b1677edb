package perfbench

import org.apache.spark.sql.functions.{col, lit, raise_error, udf}

/** The benchmark's own checks of its timing rules:
  *  1. `count()` lets Catalyst drop a projection, so it would time less
  *     work than the query; `Force.noop` evaluates every projected row.
  *  2. A plan that throws, while building or while running, is a failed
  *     sample with no time, and the row check reports it.
  *
  *   python3 perfbench/run.py --selftest
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = Suite.session("perfbench-selftest")
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    def check(ok: Boolean, what: String): Unit =
      if (!ok) failures += what

    val n = 5000L
    val evaluated = spark.sparkContext.longAccumulator("evaluated")
    val work = udf((x: Long) => { evaluated.add(1); x * 31 })
    val plan = spark.range(n).select(work(col("id")).as("w"))
    check(plan.count() == n, "count() returns the row count")
    check(evaluated.sum == 0L,
      s"count() skipped the projection (evaluated ${evaluated.sum} rows)")
    evaluated.reset()
    check(Force.noop(plan) == n, "Force.noop returns the row count")
    check(evaluated.sum == n,
      s"Force.noop evaluated every row (evaluated ${evaluated.sum} of $n)")

    val atRun = Force.timed(spark.range(10).select(raise_error(lit("boom"))))
    check(!atRun.ok && atRun.sec.isEmpty && atRun.error.nonEmpty,
      s"a plan that throws while running is failed with no time: $atRun")
    val atBuild = Force.timed(throw new IllegalStateException("no such table"))
    check(!atBuild.ok && atBuild.sec.isEmpty,
      s"a plan that throws while building is failed with no time: $atBuild")
    val ok = Force.timed(spark.range(7).toDF())
    check(ok.ok && ok.sec.exists(_ >= 0) && ok.rows.contains(7L),
      s"a plan that runs has a time and its row count: $ok")
    val problems = Suite.rowProblems(Seq(
      Suite.QueryRun("CrawlOps", "q_a", atRun),
      Suite.QueryRun("CrawlOps", "q_b", ok)), Map("q_a" -> 1L, "q_b" -> 8L))
    check(problems.size == 2 && problems.head.contains("failed") &&
      problems(1).contains("7 rows, oracle 8"),
      s"row check reports the failure and the wrong count: $problems")
    spark.stop()

    if (failures.isEmpty) println("selftest ok")
    else {
      failures.foreach(f => println(s"FAILED: $f"))
      sys.exit(1)
    }
  }
}
