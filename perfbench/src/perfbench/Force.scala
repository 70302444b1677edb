package perfbench

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** Timed execution of a Spark plan. Every plan is forced through the noop
  * sink with an Observation row count, so Catalyst cannot prune the
  * projection the way it does under `count()`. A plan that throws is a
  * failed sample: it carries the error and no time.
  */
object Force {

  final case class Sample(ok: Boolean, sec: Option[Double], rows: Option[Long],
      error: Option[String]) {
    def fields: Map[String, Any] =
      Map("ok" -> ok, "sec" -> sec, "rows" -> rows, "error" -> error)
  }

  def noop(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }

  /** Builds and forces the plan; building counts as part of the sample. */
  def timed(build: => DataFrame): Sample = {
    val t0 = System.nanoTime()
    try {
      val rows = noop(build)
      Sample(ok = true, Some((System.nanoTime() - t0) / 1e9), Some(rows), None)
    } catch {
      case e: Exception =>
        Sample(ok = false, None, None,
          Some(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
            .take(400)))
    }
  }
}
