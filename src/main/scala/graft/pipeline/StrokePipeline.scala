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
  *  - StringIndexer(handleInvalid=keep) + OneHotEncoder over the string
  *    columns, swapped in place (stroke_predict.py:58-87)
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

  /** ML1–ML4: StringIndexer(keep) + OneHotEncoder (dropLast default) over
    * every string column, then swap each encoded vector in place of the
    * original column. One multi-column indexer counts every column's
    * labels in one pass, and the encoder sizes its vectors from the
    * indexer's ML attributes, so the fit runs one job whatever the column
    * count. Mappings come from StringIndexerModel.labelsArray — not
    * distinct().collect() (SURVEY.md §2.7e).
    */
  def encode(df: DataFrame): Encoded = {
    val cols = stringCols(df)
    val model = new Pipeline().setStages(Array(
      new StringIndexer().setInputCols(cols.toArray)
        .setOutputCols(cols.map(_ + "_index").toArray)
        .setHandleInvalid("keep"),
      new OneHotEncoder().setInputCols(cols.map(_ + "_index").toArray)
        .setOutputCols(cols.map(_ + "_encoded").toArray)))
      .fit(df)
    val indexer = model.stages.collectFirst { case m: StringIndexerModel => m }.get
    val mappings = indexer.getInputCols.zip(indexer.labelsArray).map {
      case (c, labels) =>
        c -> labels.zipWithIndex.map { case (l, i) => l -> i.toDouble }.toMap
    }.toMap
    val swapped = cols.foldLeft(model.transform(df)) { (acc, c) =>
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
