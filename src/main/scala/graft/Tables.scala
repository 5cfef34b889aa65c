package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.util.Artifacts

/** Loaders for the driver's TPC-H-ish parquet testdata (TESTDATA.md).
  *
  * Schemas are fixed by the driver (FIXTURES.md §B); we read them as-is and
  * let the vectorized parquet reader + Catalyst handle pruning/pushdown.
  * At 100 TB these would be partitioned tables behind a catalog; the loader
  * is the single seam where that swap happens.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  // A DataFrame is an immutable plan, so handing the same one back is
  // pure plan reuse. Opening a read costs a file-index build plus schema
  // inference; on 4 cores and a single-file table that is 9-15 ms for the
  // index and, for `spark.read.parquet`, a one-task Spark job of 70-90 ms,
  // which `Artifacts.read` replaces by one footer read on the driver.
  // Either way it is paid once per table version, not per query. Every
  // action still scans the parquet; nothing is cached.
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Artifacts.read(spark, path(dir, name))

  def region(s: SparkSession, d: String): DataFrame   = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  /** The driver has shipped events.parquet with two `ts` encodings across
    * rounds: TIMESTAMP(NANOS) — which Spark's TimestampType (µs) rejects
    * outright, so it is read as long via the legacy runtime SQLConf and
    * truncated to µs with exact integer arithmetic (lossless: the testdata
    * has no sub-µs components) — and plain TIMESTAMP(MICROS) with
    * isAdjustedToUTC=false, which Spark reads as TIMESTAMP_NTZ. Both are
    * normalized to TimestampType here (session tz is UTC everywhere, so the
    * NTZ→LTZ cast is value-identical), keeping every downstream operator
    * encoding-agnostic.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(t(s, d, "events"))
  }

  /** Normalize an events frame's `ts` to TimestampType whatever the parquet
    * encoding produced (see [[events]]). */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema("ts").dataType match {
      case LongType         =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _                => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
