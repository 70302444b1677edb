package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SQL surface active on the driver path too (spark-submit jobs get it
    // via --conf spark.sql.extensions=graft.plans.GraftExtensions)
    graft.functions.GraftFunctions.registerAll(spark)
    new java.io.File(outDir).mkdirs()

    // Fixture dump for the fixture-backed oracles (q_crawl_tick,
    // q_image_meta): the SAME deterministic tables the queries generate
    // in-memory, written where the oracle SQL reads them
    // (SparkEntry.FixtureDumpDir). canonical/host/path are data columns
    // here — their derivation is oracled separately (q_canonicalize_urls)
    // and property-tested (UrlCanonicalizerSpec).
    locally {
      import graft.model.Fixtures
      import graft.functions.UrlFunctions._
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val F = SparkEntry.FixtureDumpDir
      val nSources = 30
      def dump(df: org.apache.spark.sql.DataFrame, name: String): Unit =
        df.coalesce(1).write.mode("overwrite").parquet(s"$F/$name")
      dump(Fixtures.listItemsAt(spark, nSources, 30, tick = 0).toDF()
        .withColumn("canonical_url", canonicalize_url(col("url")))
        .withColumn("host", url_host(col("canonical_url")))
        .withColumn("path", url_path(col("canonical_url"))), "tick_listings")
      dump(Fixtures.sourceSpecs(nSources).toDF(), "tick_specs")
      dump(Fixtures.urlSeenSeed(spark, nSources, 6).toDF()
        .select("canonical_url"), "tick_seen")
      dump(Fixtures.robots(nSources).toDF(), "tick_robots")
      dump(Fixtures.pageStore(spark, nSources, maxTick = 0).toDF()
        .select("canonical_url", "image_id", "caption", "status"), "tick_pages")
      dump(Fixtures.images(spark, 2000L).toDF(), "images")
      dump(Fixtures.audios(spark, 2000L).toDF(), "audios")
      dump(Fixtures.videos(spark, 500L).toDF(), "videos")
    }

    // SPARK_GRAFT_ONLY=<comma list>: builder-side fast loop over a query
    // subset (dump + oracle json filtered together so compare_oracle.py
    // sees a consistent pair). Unset on the driver path → full surface.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))

    SparkEntry.queries.filter(e => selected(e._1)).foreach {
      case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    val json = SparkEntry.oracleSql.filter(e => selected(e._1))
      .map { case (k, v) => s"${JsonString.quote(k)}: ${JsonString.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
