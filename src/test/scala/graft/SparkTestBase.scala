package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (getOrCreate reuses the
  * first), UTC-pinned, AQE on — mirrors the driver's Verify/Bench configs —
  * and built with FrontierMain's build-time settings (the codegen cache
  * size), which cannot be set once the session exists.
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config(FrontierMain.BuildConf)
    .getOrCreate()

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}
