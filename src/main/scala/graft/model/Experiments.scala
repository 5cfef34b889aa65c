package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Q
import graft.pipeline.StrokePipeline
import graft.eval.ClassificationReport

/** The reference's full experiment matrix: {5 classifiers} × {70/30 split,
  * 5-fold CV grid} × {unbalanced, balanced} — 20 result blocks
  * (BASELINE.md "Model quality"). `matrix` runs any slice; the Verify
  * registration runs the split-mode row for all five classifiers
  * (seconds), while the CV rows are exercised by StrokeModelSpec (LR) and
  * available through the same API for a full reproduction run.
  */
object Experiments {

  final case class Result(classifier: String, dataset: String, mode: String,
      auc: Double, accuracy: Double)

  def run(spark: SparkSession, classifier: String, csvPath: String,
      cv: Boolean): Result = {
    val t0 = System.nanoTime()
    val prepared = StrokePipeline.prepare(spark, csvPath)
    val res =
      if (cv) Classifiers.cvTrainEval(classifier, prepared)
      else Classifiers.trainEval(classifier, prepared)
    val dataset =
      if (csvPath == StrokePipeline.RawCsv) "unbalanced" else "balanced"
    val out = Result(classifier, dataset,
      if (cv) "cv5_grid" else "split70_30",
      res.auc, ClassificationReport.accuracy(res.predictions, "stroke"))
    // per-cell wall attribution: the matrix wall is max(cell), so one
    // line per cell is what a bench forensics run needs (round-9 list #4)
    println(f"[experiments] $classifier/$dataset/cv=$cv: " +
      f"${(System.nanoTime() - t0) / 1e9}%.2f s")
    out
  }

  /** The matrix cells are independent seeded experiments — submit them as
    * concurrent Spark jobs (the CrossValidator-parallelism pattern): on a
    * cluster each fit's tasks interleave across executors; locally the
    * wall time is max(cell) + prepare instead of sum(cells). Results are
    * identical to the sequential loop — each cell's split/fit is seeded
    * and reads the shared cached prepared frame.
    */
  def matrix(spark: SparkSession, classifiers: Seq[String],
      datasets: Seq[String], modes: Seq[Boolean]): DataFrame = {
    import spark.implicits._
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    // Land each dataset's prepared frame AND its 70/30 split once,
    // before fan-out: the split landing materializes the prepared frame
    // as a side effect (seed 42 = trainEval's).
    datasets.foreach(d =>
      Classifiers.split7030(StrokePipeline.prepare(spark, d), 42L))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val cells = for { c <- classifiers; d <- datasets; cv <- modes } yield (c, d, cv)
    val rows =
      try Await.result(
        Future.sequence(cells.map { case (c, d, cv) =>
          Future(run(spark, c, d, cv))
        }), Duration.Inf)
      finally pool.shutdown()
    rows.toDF()
  }

  /** S8: split-mode AUC + accuracy for all five classifiers on the
    * unbalanced dataset. Driver gate: metrics rounded 4 dp vs frozen
    * goldens (the seeded experiments are deterministic in this
    * environment) plus a per-classifier in-band flag stating the
    * BASELINE.md quality contract independently of the exact pin — a
    * wrongly regenerated golden would still trip the band.
    */
  private def s8Matrix(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.functions._
    val bands = Seq(("dt", 0.70, 0.86), ("lr", 0.78, 0.86),
      ("nb", 0.15, 0.35), ("rf", 0.78, 0.88), ("svc", 0.55, 0.75))
      .toDF("classifier", "_lo", "_hi")
    matrix(s, Classifiers.Names, Seq(StrokePipeline.RawCsv), Seq(false))
      .join(broadcast(bands), "classifier")
      .select(col("classifier"), col("dataset"), col("mode"),
        round(col("auc"), 4).as("auc_r4"),
        round(col("accuracy"), 4).as("acc_r4"),
        (col("auc") >= col("_lo") && col("auc") <= col("_hi"))
          .as("auc_in_band"))
      .orderBy("classifier")
  }

  private val s8Sql =
    """SELECT * FROM (VALUES
      |  ('dt',  'unbalanced', 'split70_30', CAST(0.7835 AS DOUBLE),
      |   CAST(0.9497 AS DOUBLE), TRUE),
      |  ('lr',  'unbalanced', 'split70_30', 0.8217, 0.9524, TRUE),
      |  ('nb',  'unbalanced', 'split70_30', 0.2354, 0.7905, TRUE),
      |  ('rf',  'unbalanced', 'split70_30', 0.8217, 0.9524, TRUE),
      |  ('svc', 'unbalanced', 'split70_30', 0.6521, 0.9524, TRUE))
      |AS t(classifier, dataset, mode, auc_r4, acc_r4, auc_in_band)
      |ORDER BY classifier""".stripMargin

  val qs: Seq[(String, Q)] = Seq(
    "s8_experiment_matrix" -> Q(s8Matrix, Some(s8Sql)),
  )
}
