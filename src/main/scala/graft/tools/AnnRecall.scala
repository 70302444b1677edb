package graft.tools

import org.apache.spark.sql.SparkSession

import graft.operators.TrainingOps

/** Standalone ANN recall measurement: the banded-LSH multi-probe curve, the
  * IVF-Flat recalls and the PQ family at a given sf dir — the same numbers
  * Bench reports (PQ lines carry Bench's `ann_*` keys),
  * runnable without the full bench (used to tune the recall dials).
  *
  * Usage: runMain graft.tools.AnnRecall [sfDir]
  */
object AnnRecall {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val curve = TrainingOps.lshRecallCurve(spark, sfDir)
    curve.foreach { case (p, r, c) =>
      println(f"lsh probes=$p recall@10=$r%.3f candidates=$c")
    }
    val ivf = TrainingOps.ivfRecallAtK(spark, sfDir)
    println(f"ivf recall@10=$ivf%.3f (uniform-random corpus)")
    val ivfC = TrainingOps.ivfRecallClustered(spark, sfDir)
    println(f"ivf recall@10=$ivfC%.3f (planted-cluster corpus, same coverage)")
    val km = TrainingOps.ivfKmeansRecallAtK(spark, sfDir)
    println(f"ivf-kmeans recall@10=$km%.3f (uniform-random corpus)")
    val kmC = TrainingOps.ivfKmeansRecallClustered(spark, sfDir)
    println(f"ivf-kmeans recall@10=$kmC%.3f (planted-cluster corpus)")
    // the PQ family table: oracled queries, then the attribution controls
    TrainingOps.pqRecalls(spark, sfDir).foreach { case (key, r) =>
      println(f"$key=$r%.3f")
    }
    spark.stop()
  }
}
