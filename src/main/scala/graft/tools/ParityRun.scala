package graft.tools

import org.apache.spark.sql.SparkSession
import graft.model.Experiments
import graft.pipeline.StrokePipeline

/** One-shot reproduction of the reference's full 20-block experiment
  * matrix (BASELINE.md). Not part of the driver contract — run manually:
  *   sbt "runMain graft.tools.ParityRun"
  * Prints classifier/dataset/mode/AUC/accuracy lines for comparison
  * against the golden table.
  */
object ParityRun {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val datasets = Seq(StrokePipeline.RawCsv, StrokePipeline.BalancedCsv)
    for {
      cv <- Seq(false, true)
      ds <- datasets
      c  <- graft.model.Classifiers.Names
    } {
      val t0 = System.nanoTime()
      val r = Experiments.run(spark, c, ds, cv)
      println(f"PARITY ${r.classifier}%-4s ${r.dataset}%-10s ${r.mode}%-11s " +
        f"auc=${r.auc}%.4f acc=${r.accuracy}%.4f (${(System.nanoTime() - t0) / 1e9}%.1f s)")
    }
    spark.stop()
  }
}
