package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.feature.{OneHotEncoder, StringIndexer, StringIndexerModel, VectorAssembler}
import graft.util.Artifacts

/** The reference's end-to-end ETL + encoding pipeline, Spark-native.
  *
  * Reproduces, distributed and in one JVM:
  *  - CSV ingest with header + schema inference (stroke_predict.py:22-23)
  *  - mean imputation of the "N/A" sentinel in `bmi`, computed over the
  *    string column via numeric coercion — i.e. mean of non-sentinel values
  *    (stroke_predict.py:46-53, SURVEY.md §2.7d)
  *  - drop `id` (stroke_predict.py:44)
  *  - StringIndexer(handleInvalid=keep) + OneHotEncoder per string column,
  *    swapped in place (stroke_predict.py:58-87)
  *  - VectorAssembler over the fixed feature list (stroke_predict.py:127-133)
  */
object StrokePipeline {

  val RawCsv      = "/root/reference/healthcare-dataset-stroke-data.csv"
  val BalancedCsv = "/root/reference/hes_a_SMOTE_operator.csv"

  /** Assembly order fixed by the reference (stroke_predict.py:127-129). */
  val FeatureCols: Seq[String] = Seq(
    "gender", "age", "hypertension", "heart_disease", "ever_married",
    "work_type", "Residence_type", "avg_glucose_level", "bmi",
    "smoking_status")

  /** S1: CSV scan with header + schema inference (parity mode —
    * CsvSource.withSchema is the single-pass production path).
    */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    graft.ingest.CsvSource.inferred(spark, path)

  /** A2 + P3 + P4: impute "N/A" bmi with the mean of non-sentinel values
    * (string-coercion semantics), then cast to double; drop id.
    */
  def clean(df: DataFrame): DataFrame =
    graft.clean.Cleaning.castColumns(
      graft.clean.Cleaning.imputeSentinelWithMean(df.drop("id"), "bmi", "N/A"),
      "hypertension" -> org.apache.spark.sql.types.IntegerType,
      "heart_disease" -> org.apache.spark.sql.types.IntegerType)

  /** The imputation statistic alone (golden: 28.893236911794673 raw /
    * 29.656603525388007 balanced). SURVEY.md §2.7d semantics.
    */
  def bmiMean(df: DataFrame): Double =
    graft.clean.Cleaning.coercedMean(df, "bmi")

  def stringCols(df: DataFrame): Seq[String] =
    df.dtypes.collect { case (c, "StringType") => c }.toSeq

  final case class Encoded(df: DataFrame, mappings: Map[String, Map[String, Double]])

  /** ML1–ML4: per string column StringIndexer(keep) + OneHotEncoder
    * (dropLast default), then swap the encoded vector in place of the
    * original column. Mappings come from StringIndexerModel.labelsArray —
    * not distinct().collect() (SURVEY.md §2.7e).
    */
  def encode(df: DataFrame): Encoded = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val cols = stringCols(df)
    // Every per-column fit is an independent tiny job; run each layer's
    // fits as concurrent job submissions (the CrossValidator-parallelism
    // pattern) instead of Pipeline.fit's sequential stage loop — identical
    // models, wall time ≈ max(fit) per layer. df is cached for the fits so
    // ingestion+cleaning run once.
    df.cache()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val (indexers, ohes) =
      try {
        val idx = Await.result(Future.sequence(cols.map { c =>
          Future(new StringIndexer().setInputCol(c).setOutputCol(c + "_index")
            .setHandleInvalid("keep").fit(df))
        }), Duration.Inf)
        val indexed = idx.foldLeft(df)((acc, m) => m.transform(acc))
        val oh = Await.result(Future.sequence(cols.map { c =>
          Future(new OneHotEncoder().setInputCol(c + "_index")
            .setOutputCol(c + "_encoded").fit(indexed))
        }), Duration.Inf)
        (idx, oh)
      } finally { pool.shutdown(); df.unpersist() }
    // ML3: the user-facing artifact is still a PipelineModel — fitting a
    // Pipeline of already-fitted transformers wires them up without jobs.
    val model = new Pipeline()
      .setStages((indexers ++ ohes).toArray[org.apache.spark.ml.PipelineStage])
      .fit(df)
    val transformed = model.transform(df)
    val mappings = model.stages.collect {
      case m: StringIndexerModel =>
        m.getInputCol -> m.labelsArray.head.zipWithIndex
          .map { case (l, i) => l -> i.toDouble }.toMap
    }.toMap
    val swapped = cols.foldLeft(transformed) { (acc, c) =>
      acc.drop(c, c + "_index").withColumnRenamed(c + "_encoded", c)
    }
    Encoded(swapped, mappings)
  }

  /** ML5: assemble the 21-slot feature vector. */
  def assemble(df: DataFrame, features: Seq[String] = FeatureCols): DataFrame =
    new VectorAssembler().setInputCols(features.toArray).setOutputCol("features")
      .transform(df)

  /** Full prep: read → clean → encode → assemble, landed once per
    * (session, CSV version) so the several model queries sharing a
    * prepared frame don't re-run ingestion + indexer fits. The reference
    * re-read the CSV per action.
    */
  def prepare(spark: SparkSession, path: String): DataFrame =
    Artifacts.frame(spark,
        Artifacts.key("stroke_prepared", path)) {
      val Encoded(enc, _) = encode(clean(readCsv(spark, path)))
      assemble(enc)
    }
}
