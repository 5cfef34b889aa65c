package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.util.Artifacts
import graft.util.Det.{dsum, sqlDsum}

/** Small-file compaction (s13): the lakehouse maintenance job every
  * streaming/incremental landing eventually needs. Micro-batch sinks
  * (e16's upsert log, dedupToFileSink) and per-partition writers land
  * many small files; scans then pay one task + one footer-read per
  * file, and at 100 TB the NameNode/listing cost alone dominates.
  * Compaction reads the fragmented landing and rewrites it at a target
  * file size, content-identical.
  *
  * Mechanics: the target file count is derived from the landing's
  * ACTUAL on-disk bytes (sum of file sizes / target), never a guessed
  * row count — parquet compression decides bytes-per-row, so bytes are
  * the only honest unit. The rewrite is one `repartition(n)` round-robin
  * exchange — full shuffle of the data ONCE, which is the price of
  * perfect output sizing; at scale, compact per PARTITION DIRECTORY
  * (date=…) independently so each job's shuffle is one partition's
  * bytes and partition pruning is preserved. Trade-off vs `coalesce`:
  * coalesce avoids the shuffle but inherits input skew (it can only
  * merge, and merges adjacent input splits); a maintenance job whose
  * whole purpose is uniform output uses the shuffle.
  *
  * The registered query is a bounded gate (a7/a10 pattern): exact
  * engine-neutral payload (row count + decimal value sum recomputed
  * from the COMPACTED files) plus flags — fragmented landing really was
  * fragmented (64 files), compacted output really is fewer files, and
  * nothing was invented or lost (the oracle recomputes the payload from
  * the raw events table; equality IS the no-loss proof).
  */
object Compaction {

  private val FragmentFiles = 64

  private def parquetFiles(dir: String): Array[java.io.File] =
    new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))

  // the fragmented input is staged once per events version
  private def fragmentedLanding(s: SparkSession, d: String): String =
    Artifacts.dir(Artifacts.key("s13frag", Tables.path(d, "events")),
        "graft_fragmented") { out =>
      Tables.events(s, d)
        .repartition(FragmentFiles)
        .write.mode("overwrite").parquet(out)
    }

  /** Compact `inDir` to ~`targetBytes`-sized files; returns the output
    * dir. File count = ceil(actual bytes / target), floor 1. The input
    * is read as its parquet files in NAME order (the writing job's task
    * order), not as a directory: Spark packs equal-length splits in
    * listing order, and a directory's listing order changes with each
    * write's random part-file names — so a directory read made the
    * output's row order, and with it the compressed bytes, differ
    * between two landings of the same table.
    */
  def compact(s: SparkSession, inDir: String, outDir: String,
      targetBytes: Long): Unit = {
    require(targetBytes > 0, "targetBytes must be positive")
    val files = parquetFiles(inDir)
    val bytes = files.map(_.length()).sum
    val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    // Past Spark's parallel-listing threshold (32 paths) each explicit-
    // path read would run a listing JOB per file index; these paths are
    // already listed, so they are indexed serially, as the one directory
    // path they replace was.
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val threshold = s.conf.get(key)
    s.conf.set(key, math.max(files.length, 1).toString)
    val in =
      try Artifacts.parquet(s, files.map(_.getPath).sorted.toSeq: _*)
      finally s.conf.set(key, threshold)
    in.repartition(n).write.mode("overwrite").parquet(outDir)
  }

  private def s13Compaction(s: SparkSession, d: String): DataFrame = {
    val frag = fragmentedLanding(s, d)
    val out = Artifacts.scratchDir("graft_compacted").toString
    try {
      compact(s, frag, out, targetBytes = 8L << 20)
      val before = parquetFiles(frag).length
      val after = parquetFiles(out).length
      // payload recomputed from the COMPACTED files: count + exact sum —
      // if compaction dropped or duplicated anything, these diverge from
      // the oracle's recompute over the raw table. The one result row is
      // fetched here so the compacted copy can be deleted before return.
      val res = Artifacts.parquet(s, out)
        .agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("sum_value"))
        .select(col("n_rows"), col("sum_value"),
          lit(before == FragmentFiles).as("was_fragmented"),
          lit(after < before).as("fewer_files"))
      s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema)
    } finally Artifacts.delete(out)
  }

  private val s13Sql =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  ${sqlDsum("value")} AS sum_value,
       |  TRUE AS was_fragmented, TRUE AS fewer_files
       |FROM events""".stripMargin

  val qs: Seq[(String, Q)] = Seq(
    "s13_compaction" -> Q(s13Compaction, Some(s13Sql)),
  )
}
