package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.util.Artifacts

/** S26: PARTITION-SPEC EVOLUTION — the table-format primitive that lets
  * a table CHANGE its partitioning without rewriting history (Iceberg's
  * headline feature; hidden partitioning makes it reader-transparent):
  * the table starts YEAR-partitioned (spec 1); as it grows, new data
  * lands MONTH-partitioned (spec 2) for tighter pruning; old files stay
  * exactly where they are. The manifest records each file's spec
  * (`spec|path` lines), and a time-range read plans PER SPEC: spec-1
  * files prune at year granularity, spec-2 files at month granularity —
  * driver-side interval intersection over the dir-encoded periods, no
  * I/O for skipped files — then one scan over the union of kept files
  * (both specs share the data-column schema; partition values live in
  * dir names only, so the s20 leaf-file-read rule holds: the date rides
  * as a DATA column and the residual filter runs on it).
  *
  * At 100 TB this is how real tables age: re-partitioning a year of
  * history to adopt a finer spec costs a full rewrite NOBODY schedules;
  * spec evolution costs nothing at commit time, old queries keep their
  * old pruning, and new data immediately gets the finer pruning. The
  * alternative — one spec forever — either over-partitions early data
  * (small files) or under-partitions late data (fat scans).
  */
object PartitionEvolution {

  // testdata orders span 1995-01..2001-08: spec 1 covers 1995–1998
  // (4 year dirs), spec 2 the ~32 months from 1999 on
  private val Cut = "1999-01-01"

  /** Lands the evolved table once per orders version: spec-1 files
    * (year dirs, pre-cut), spec-2 files (year/month dirs, post-cut),
    * manifest_1 (pre-evolution: spec-1 only) and manifest_2 (the
    * evolved table: every spec-1 file unchanged + the spec-2 files).
    */
  private[graft] def s26Dir(s: SparkSession, d: String): String =
    Artifacts.dir(Artifacts.key("pspecevo", Tables.path(d, "orders")),
      "graft_pevo") { dir =>
      val o = Tables.orders(s, d).select(
        col("o_orderkey").as("ok"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"))
      o.filter(col("od") < Cut).select(col("ok"), col("od"),
          col("cents"), col("y"))
        .repartition(col("y"))
        .write.mode("overwrite").partitionBy("y").parquet(s"$dir/spec1")
      o.filter(col("od") >= Cut)
        .repartition(col("y"), col("m"))
        .write.mode("overwrite").partitionBy("y", "m")
        .parquet(s"$dir/spec2")
      val m1 = Store.walkLeafFiles(dir, "spec1").map(p => s"1|$p")
      Store.writeManifest(dir, 1, m1)
      Store.writeManifest(dir, 2,
        m1 ++ Store.walkLeafFiles(dir, "spec2").map(p => s"2|$p"))
    }

  private[graft] def specManifest(dir: String, v: Int)
      : Seq[(Int, String)] =
    Snapshots.manifestLines(dir, v).map { l =>
      val i = l.indexOf('|')
      (l.substring(0, i).toInt, l.substring(i + 1))
    }

  /** The dir-encoded time period of a file under its spec: spec 1 =
    * [y-01-01, (y+1)-01-01), spec 2 = [y-m-01, next month). ISO-string
    * bounds, lexicographic-chronological.
    */
  private[graft] def filePeriod(spec: Int, path: String)
      : (String, String) = {
    val y = raw"y=(\d+)".r.findFirstMatchIn(path).get.group(1).toInt
    if (spec == 1) (f"$y%04d-01-01", f"${y + 1}%04d-01-01")
    else {
      val m = raw"m=(\d+)".r.findFirstMatchIn(path).get.group(1).toInt
      val (ny, nm) = if (m == 12) (y + 1, 1) else (y, m + 1)
      (f"$y%04d-$m%02d-01", f"$ny%04d-$nm%02d-01")
    }
  }

  /** Spec-aware pruned read of [loIncl, hiExcl): keep exactly the files
    * whose period intersects the window — year-grain for spec-1 files,
    * month-grain for spec-2. Returns the frame plus per-spec
    * (kept, total) counts.
    */
  private[graft] def prunedRead(s: SparkSession, dir: String,
      loIncl: String, hiExcl: String)
      : (DataFrame, Map[Int, (Int, Int)]) = {
    val files = specManifest(dir, 2)
    val kept = files.filter { case (spec, p) =>
      val (ps, pe) = filePeriod(spec, p)
      ps < hiExcl && pe > loIncl
    }
    val counts = files.groupBy(_._1).map { case (spec, fs) =>
      spec -> (kept.count(_._1 == spec), fs.size)
    }
    // empty-intersection guard (round-15 advice): keep the table schema
    // via one known file behind a constant-false filter
    val df =
      if (kept.nonEmpty) Artifacts.parquet(s, kept.map(_._2): _*)
      else Artifacts.parquet(s, files.head._2).filter(lit(false))
    (df, counts)
  }

  /** S26: the registered evolved read — an exact aggregate over a
    * window STRADDLING the evolution boundary, served through per-spec
    * pruning, with the evolution contract as gate columns: both specs
    * contributed files (`mixed_specs`), and BOTH pruned at their own
    * granularity (`skipped_spec1`/`skipped_spec2`). The oracle
    * recomputes the aggregate from the raw table and expects TRUE.
    */
  private def s26PartitionEvolution(s: SparkSession, d: String)
      : DataFrame = {
    val dir = s26Dir(s, d)
    val (lo, hi) = ("1998-06-01", "1999-07-01")
    val (df, counts) = prunedRead(s, dir, lo, hi)
    val (k1, n1) = counts.getOrElse(1, (0, 0))
    val (k2, n2) = counts.getOrElse(2, (0, 0))
    df.filter(col("od") >= lo && col("od") < hi)
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .select(col("n_rows"), col("sum_cents"),
        lit(k1 > 0 && k2 > 0).as("mixed_specs"),
        lit(k1 < n1).as("skipped_spec1"),
        lit(k2 < n2).as("skipped_spec2"))
  }

  private val s26Sql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS sum_cents,
      |  TRUE AS mixed_specs, TRUE AS skipped_spec1, TRUE AS skipped_spec2
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1998-06-01'
      |  AND o_orderdate <  TIMESTAMP '1999-07-01'""".stripMargin

  val qs: Seq[(String, Q)] = Seq(
    "s26_partition_evolution" -> Q(s26PartitionEvolution, Some(s26Sql)),
  )
}
