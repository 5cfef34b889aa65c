package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.ml.classification.{LinearSVCModel, LogisticRegressionModel}
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.balance.Smote
import graft.model.Classifiers
import graft.pipeline.StrokePipeline
import graft.util.Artifacts

/** Pins the layout of spark.ml fit inputs: `Classifiers.split7030` lays
  * each half out at one partition per `FitPartitionBytes` of stored
  * bytes, which makes every LR/LinearSVC optimizer iteration one
  * single-task stage, and leaves the reference CSV path's one-partition
  * layout as it was. Coalescing reorders the optimizer's loss sums, so
  * fits on ill-conditioned data can differ by about 1e-6; the 1e-9
  * equality below holds on the well-conditioned [[StrokeCsv]] data only.
  */
class FitLayoutSpec extends SparkSpec {

  /** The paper's pipeline up to the fit input: prepare, then in-engine
    * SMOTE (k = 5, 200 %) on the minority class, checkpointed. */
  private lazy val balanced: DataFrame = {
    val csv = StrokeCsv.write(Artifacts.scratchDir("graft_fit_layout"), 10220)
    val prepared = StrokePipeline.prepare(spark, csv)
      .withColumn("rid", monotonically_increasing_id())
    Smote.balance(spark,
        prepared.select(col("rid"), vector_to_array(col("features")).as("farr"),
          col("stroke")),
        "rid", "farr", "stroke", lit(1),
        Smote.Params(k = 5, percentOver = 200, percentUnder = 100, seed = 42L))
      .select(col("rid"), array_to_vector(col("farr")).as("features"),
        col("stroke"))
      .localCheckpoint(true)
  }

  private def partitionRows(df: DataFrame): Seq[Int] =
    df.rdd.mapPartitions(it => Iterator(it.size)).collect().toSeq

  /** Runs `f` in a fresh job group and returns, for each job it started,
    * that job's stage count. */
  private def stagesPerJob[A](f: => A): (A, Seq[Int]) = {
    val sc = spark.sparkContext
    val group = s"fit-layout-${System.nanoTime}"
    val stages = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          stages.add(e.stageInfos.size)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "fit layout probe")
    try {
      val out = f
      // waitUntilEmpty is private[spark] in Scala, public in bytecode
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      (out, stages.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def maxAbsDiff(a: Vector, b: Vector): Double =
    a.toArray.zip(b.toArray).map { case (x, y) => math.abs(x - y) }.max

  test("split7030 lays out both halves at one partition at bench size") {
    val raw = balanced.rdd.getNumPartitions
    assert(raw >= 2, s"the balanced input has $raw partition(s): nothing to coalesce")
    val ((train, test), jobs) = stagesPerJob(Classifiers.split7030(balanced, 42L))
    assert(train.rdd.getNumPartitions === 1)
    assert(test.rdd.getNumPartitions === 1)
    // per half: the checkpoint job plus the row-cap probe (one job on one
    // partition). The unsized 3-partition halves took 6 jobs in all, so
    // sizing adds none.
    info(s"building the split ran ${jobs.size} jobs")
    assert(jobs.size <= 6, s"building the split ran ${jobs.size} jobs")
    val (again, _) = Classifiers.split7030(balanced, 42L)
    assert(again eq train, "a second call must hit the landed half")
  }

  test("fitPartitions gives one partition per FitPartitionBytes and only " +
      "ever coalesces") {
    import Classifiers.{FitPartitionBytes => mb64, fitPartitions}
    assert(fitPartitions(0L, 3) === None, "no stored bytes: layout kept")
    assert(fitPartitions(2400000L, 3) === Some(1))
    assert(fitPartitions(5 * mb64 + 1, 8) === Some(6))
    assert(fitPartitions(6 * mb64, 6) === None, "never increases the count")
    assert(fitPartitions(10 * mb64, 3) === None)
    // 100 TB at 64 MB a partition
    assert(fitPartitions(100L << 40, Int.MaxValue) === Some(1638400))
  }

  test("fits on the sized train half equal fits on the raw split half, and " +
      "every LinearSVC job is a single stage") {
    val (train, _) = Classifiers.split7030(balanced, 42L)
    val raw = balanced.randomSplit(Array(0.7, 0.3), 42L)(0)
    assert(raw.rdd.getNumPartitions > 1)
    assert(partitionRows(train).sum === partitionRows(raw).sum)

    def lr(df: DataFrame) = Classifiers.estimator("lr").fit(df)
      .asInstanceOf[LogisticRegressionModel]
    val (lrSized, lrRaw) = (lr(train), lr(raw))
    assert(lrSized.summary.totalIterations === lrRaw.summary.totalIterations)
    assert(maxAbsDiff(lrSized.coefficients, lrRaw.coefficients) < 1e-9)
    assert(math.abs(lrSized.intercept - lrRaw.intercept) < 1e-9)

    def svc(df: DataFrame) = Classifiers.estimator("svc").fit(df)
      .asInstanceOf[LinearSVCModel]
    val (svcSized, stages) = stagesPerJob(svc(train))
    val svcRaw = svc(raw)
    assert(svcSized.summary.totalIterations === svcRaw.summary.totalIterations)
    assert(maxAbsDiff(svcSized.coefficients, svcRaw.coefficients) < 1e-9)
    assert(math.abs(svcSized.intercept - svcRaw.intercept) < 1e-9)
    assert(stages.nonEmpty)
    assert(stages.forall(_ == 1),
      s"LinearSVC jobs with more than one stage: ${stages.filter(_ != 1)}")
  }

  test("trainEval's AUC on the balanced frame is bit-identical across calls") {
    val a = Classifiers.trainEval("lr", balanced).auc
    val b = Classifiers.trainEval("lr", balanced).auc
    assert(a > 0.5 && a <= 1.0)
    assert(java.lang.Double.compare(a, b) === 0, s"AUC $a then $b")
  }

  test("the reference CSV path keeps its one-partition layout") {
    val csv = StrokeCsv.write(Artifacts.scratchDir("graft_fit_ref"), 5110)
    val prepared = StrokePipeline.prepare(spark, csv)
    assert(prepared.rdd.getNumPartitions === 1)
    val (train, _) = Classifiers.split7030(prepared, 42L)
    assert(partitionRows(train) ===
      partitionRows(prepared.randomSplit(Array(0.7, 0.3), 42L)(0)))
  }
}
