package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.model.{ListItem, PageRow, RobotsRule, SourceSpec}
import graft.pipeline.RefSimulator
import graft.store.FrontierStore

/** Correctness gate for a tick store: every committed tick's emitted rows
  * (crawl order included, through emit_idx and fetch_epoch), its per-tick
  * counters and the final URL-seen set must equal the sequential
  * reference simulator replayed over the same generated inputs, starting
  * from the store's seed snapshot.
  */
object Gate {

  final case class TickCounts(newArticles: Long, skipped: Long, errors: Long)

  final case class Result(problems: Seq[String], seenRows: Long,
      liveArticles: Long, listingRowsPerTick: Map[Int, Int])

  private type EmitKey =
    (String, String, String, String, String, String, Long, Long, String)

  def check(spark: SparkSession, inputs: Path, store: FrontierStore,
      counts: Map[Int, TickCounts]): Result = {
    import spark.implicits._
    val listingsByTick = spark.read.parquet(inputs.resolve("listings.parquet").toString)
      .select(col("tick"), col("source"), col("page_idx"), col("item_idx"),
        col("url"), col("title"), col("ts_text"), col("category"))
      .as[(Int, String, Int, Int, String, String, String, String)].collect()
      .groupBy(_._1).map { case (t, rows) =>
        t -> rows.map(r => ListItem(r._2, r._3, r._4, r._5, r._6, r._7, r._8)).toSeq }
    val sources = spark.read.parquet(inputs.resolve("sources.parquet").toString)
      .as[SourceSpec].collect().toSeq
    val robots = spark.read.parquet(inputs.resolve("robots.parquet").toString)
      .as[RobotsRule].collect().toSeq
    val pages = spark.read.parquet(inputs.resolve("pages.parquet").toString)
      .as[PageRow].collect().map(p => p.canonical_url -> p).toMap
    val problems = scala.collection.mutable.ArrayBuffer[String]()

    var seen: Set[String] =
      store.seen(spark, Some(0)).as[String].collect().toSet
    val stored = store.articlesWithTick(spark)
      .select(col("canonical_url"), col("source"), col("title"), col("caption"),
        col("image_id"), col("host"), col("fetch_epoch"), col("emit_idx"),
        col("metadata"), col("crawl_tick"))
      .as[(String, String, String, String, String, String, Long, Long, String,
        Long)]
      .collect().groupBy(_._10)

    for (tick <- counts.keys.toSeq.sorted) {
      val items = listingsByTick.getOrElse(tick, Nil)
      val ref = RefSimulator.run(items, sources, seen, robots, pages)
      val want: Set[EmitKey] = ref.emits.map(e => (e.canonicalUrl, e.source,
        e.title, e.caption, e.imageId, e.host, e.fetchEpoch, e.emitIdx,
        e.metadata)).toSet
      val got: Set[EmitKey] = stored.getOrElse(tick.toLong, Array.empty)
        .map(r => (r._1, r._2, r._3, r._4, r._5, r._6, r._7, r._8, r._9)).toSet
      if (got != want)
        problems += s"tick $tick: emitted ${got.size} rows, reference " +
          s"${want.size}; ${(got diff want).size} unexpected, " +
          s"${(want diff got).size} missing"
      val c = counts(tick)
      val st = ref.stats.values
      val refCounts = TickCounts(st.map(_.newArticles).sum,
        st.map(_.skipped).sum, st.map(_.errors).sum)
      if (c != refCounts)
        problems += s"tick $tick: counters $c, reference $refCounts"
      seen = ref.seenAfter
    }
    val finalSeen = store.seen(spark).as[String].collect()
    if (finalSeen.length != finalSeen.distinct.length)
      problems += "seen set holds duplicate URLs"
    if (finalSeen.toSet != seen)
      problems += s"seen set: ${finalSeen.length} URLs, reference ${seen.size}"
    // no retraction or article compaction has run: every stored row is live
    Result(problems.toSeq, finalSeen.length,
      stored.values.map(_.length.toLong).sum,
      listingsByTick.map { case (t, rows) => t -> rows.size })
  }
}
