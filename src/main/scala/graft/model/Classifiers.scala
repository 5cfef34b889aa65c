package graft.model

import org.apache.spark.ml.classification._
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.sql.DataFrame
import graft.util.Artifacts

/** The reference's five binary classifiers + CV grid search
  * (stroke_predict.py:136-218, both notebooks cells 9-12).
  *
  * Grids transcribed exactly from stroke_predict.py:177-214:
  *   LR / LinearSVC: regParam {0.01, 0.1, 1}, maxIter {10, 20, 30}
  *   NaiveBayes:     smoothing {0.1, 0.5, 1}
  *   DecisionTree:   maxDepth {2, 5, 10}, maxBins {10, 20, 30}
  *   RandomForest:   numTrees {50, 100, 150}, maxDepth {2, 5, 10}
  * CV: 5 folds, BinaryClassificationEvaluator (areaUnderROC), and the
  * reference's *resubstitution* evaluation — bestModel scored on the full
  * training frame (stroke_predict.py:216-218). That choice is what the
  * golden AUCs measure, so it is reproduced, not "fixed".
  */
object Classifiers {

  val Names: Seq[String] = Seq("lr", "nb", "svc", "dt", "rf")

  def estimator(name: String, labelCol: String = "stroke")
      : Estimator[_ <: Model[_]] = name match {
    case "lr"  => new LogisticRegression().setLabelCol(labelCol)
    case "nb"  => new NaiveBayes().setLabelCol(labelCol)
    case "svc" => new LinearSVC().setLabelCol(labelCol)
    case "dt"  => new DecisionTreeClassifier().setLabelCol(labelCol)
    case "rf"  => new RandomForestClassifier().setLabelCol(labelCol)
    // beyond the reference's five: the sklearn world's
    // GradientBoostingClassifier analogue, seeded like the rest (s17).
    // Not in Names — the s8 experiment matrix stays the reference's.
    case "gbt" => new GBTClassifier().setLabelCol(labelCol).setSeed(42L)
  }

  def grid(name: String, labelCol: String = "stroke"): Array[ParamMap] =
    name match {
      case "lr" =>
        val e = new LogisticRegression().setLabelCol(labelCol)
        new ParamGridBuilder()
          .addGrid(e.regParam, Array(0.01, 0.1, 1.0))
          .addGrid(e.maxIter, Array(10, 20, 30)).build()
      case "nb" =>
        val e = new NaiveBayes().setLabelCol(labelCol)
        new ParamGridBuilder()
          .addGrid(e.smoothing, Array(0.1, 0.5, 1.0)).build()
      case "svc" =>
        val e = new LinearSVC().setLabelCol(labelCol)
        new ParamGridBuilder()
          .addGrid(e.regParam, Array(0.01, 0.1, 1.0))
          .addGrid(e.maxIter, Array(10, 20, 30)).build()
      case "dt" =>
        val e = new DecisionTreeClassifier().setLabelCol(labelCol)
        new ParamGridBuilder()
          .addGrid(e.maxDepth, Array(2, 5, 10))
          .addGrid(e.maxBins, Array(10, 20, 30)).build()
      case "rf" =>
        val e = new RandomForestClassifier().setLabelCol(labelCol)
        new ParamGridBuilder()
          .addGrid(e.numTrees, Array(50, 100, 150))
          .addGrid(e.maxDepth, Array(2, 5, 10)).build()
    }

  def evaluator(labelCol: String = "stroke"): BinaryClassificationEvaluator =
    new BinaryClassificationEvaluator()
      .setLabelCol(labelCol).setMetricName("areaUnderROC")

  final case class TrainResult(predictions: DataFrame, auc: Double)

  /** The seeded 70/30 split halves, LANDED once per (session,
    * prepared-plan version, seed) — keyed on the prepared frame's source
    * stamps and semantic hash, so s4, s5, and all five s8 cells (which fit on
    * the SAME dataset + seed) share one materialized split instead of
    * each re-splitting + re-checkpointing. History of this spot: plain
    * cache()+finally-unpersist raced under Experiments.matrix's
    * concurrent cells (identical cells share ONE CacheManager entry, the
    * first finisher's unpersist evicted it under the other fits); a
    * per-call localCheckpoint fixed the race but paid the split +
    * materialization per cell. The landing keeps the checkpoint's
    * own-storage-identity fix AND amortizes it: concurrent callers of
    * one key share a single build, and nothing ever unpersists.
    *
    * Each half is coalesced BEFORE it is checkpointed to
    * `max(1, ceil(bytes / FitPartitionBytes))` partitions, bytes being its
    * weight's share of `prepared`'s stored checkpoint bytes, read inside
    * the build ([[fitPartitions]]). Every loss evaluation of
    * LogisticRegression and LinearSVC is a `treeAggregate` whose final
    * merge runs on an executor, so on a multi-partition input each
    * optimizer iteration is a map stage plus a reduce stage; on one
    * partition it is one single-task stage. Partitions stay at 64 MB, so
    * a large input still fits in parallel. Membership of the seeded split
    * is decided before the coalesce, so the rows are exactly the
    * destructured split's; the coalesce does reorder the optimizer's loss
    * sums, so on ill-conditioned data a fit can move by about 1e-6 in its
    * coefficients (FitLayoutSpec pins 1e-9 on well-conditioned data). The two
    * halves come from two randomSplit calls with the same seed over the
    * same frame — per-partition seeded sampling makes them exact
    * complements, same as destructuring one call.
    */
  def split7030(prepared: DataFrame, seed: Long): (DataFrame, DataFrame) = {
    val weights = Array(0.7, 0.3)
    // an in-place CSV rewrite changes the key's version and re-lands the
    // split instead of serving stale halves
    def half(i: Int) = Artifacts.frame(prepared.sparkSession,
        Artifacts.key("split7030", prepared, seed, i)) {
      val raw = prepared.randomSplit(weights, seed)(i)
      val bytes = (Artifacts.bytesOf(prepared) * weights(i)).toLong
      fitPartitions(bytes, prepared.rdd.getNumPartitions)
        .fold(raw)(raw.coalesce)
    }
    (half(0), half(1))
  }

  /** Target stored bytes per partition of a spark.ml fit input. */
  private[graft] val FitPartitionBytes: Long = 64L << 20

  /** Partition count for a fit input of `bytes` stored bytes now laid out
    * in `partitions` partitions: one per [[FitPartitionBytes]], at least
    * 1. Some only when that is fewer than `partitions`: the rule only
    * coalesces, and an input with no stored bytes (not a checkpoint) keeps
    * its layout.
    */
  private[graft] def fitPartitions(bytes: Long, partitions: Int): Option[Int] = {
    val n = math.max(1L, math.ceil(bytes.toDouble / FitPartitionBytes).toLong)
    if (bytes > 0 && n < partitions) Some(n.toInt) else None
  }

  /** 70/30 split path (stroke_predict.py:148-173): fit on train, score
    * test, AUC from rawPrediction. Every call fits; the split is the
    * shared landing.
    */
  def trainEval(name: String, prepared: DataFrame,
      labelCol: String = "stroke", seed: Long = 42L): TrainResult = {
    val (train, test) = split7030(prepared, seed)
    val model = estimator(name, labelCol).fit(train)
    val pred = model.asInstanceOf[Model[_]].transform(test)
      .localCheckpoint(true)
    TrainResult(pred, evaluator(labelCol).evaluate(pred))
  }

  /** 5-fold CV grid path with resubstitution evaluation
    * (stroke_predict.py:177-218).
    */
  def cvTrainEval(name: String, prepared: DataFrame,
      labelCol: String = "stroke", seed: Long = 42L,
      parallelism: Int = 4): TrainResult = {
    val cv = new CrossValidator()
      .setEstimator(estimator(name, labelCol))
      .setEstimatorParamMaps(grid(name, labelCol))
      .setEvaluator(evaluator(labelCol))
      .setNumFolds(5)
      .setParallelism(parallelism)
      .setSeed(seed)
    val model = cv.fit(prepared)
    // Resubstitution: score the FULL frame, as the reference does.
    val pred = model.bestModel.transform(prepared)
    TrainResult(pred, evaluator(labelCol).evaluate(pred))
  }
}
