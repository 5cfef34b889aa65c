package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.util.Artifacts

/** S37: AS-OF reads — time travel resolved by COMMIT WATERMARKS rather
  * than version numbers (the user-facing half of s16: `SELECT ... AS OF
  * <point>`; Iceberg/Delta resolve wall-clock commit times, which no
  * cross-engine oracle can pin, so this store records the EVENT-TIME
  * watermark each commit completes — "all data with od ≤ w is present" —
  * the pattern a watermark-driven ingest pipeline gives for free). Each
  * commit publishes `watermark_<v>.txt` beside its manifest (durable
  * BEFORE the manifest's atomic rename, so a visible version never
  * lacks its watermark); `asOfVersion(D)` is a driver-side scan of ≤
  * |versions| tiny files picking the LARGEST version whose watermark ≤
  * D — the latest snapshot fully contained in the asked-for horizon.
  *
  * The demo store commits one year-slice of orders per version
  * (append-only through [[Snapshots.occCommit]], 1995..2001); the
  * registered read resolves AS OF 1998-07-01 → the 1997 watermark's
  * version, and the oracle recomputes the same horizon from raw orders
  * — the hash gate fails if resolution picks a version too early
  * (missing rows) or too late (rows past the horizon).
  *
  * At 100 TB: resolution cost is a metadata scan, the read costs the
  * resolved snapshot's files; an ingest pipeline that stamps commit
  * watermarks gets reproducible "as of business date D" reads — the
  * basis of backtest/repro workflows — without any data-path support.
  */
object TimeTravel {

  private[graft] def watermark(dir: String, v: Int): String =
    Store.readLines(s"$dir/watermark_$v.txt").head

  /** Largest committed version whose watermark ≤ `date` (ISO string;
    * lexicographic = chronological). Throws if no snapshot is old
    * enough — asking for a point before the table existed is an error,
    * not an empty read.
    */
  private[graft] def asOfVersion(dir: String, date: String): Int = {
    val vs = (1 to Snapshots.head(dir))
      .filter(v => watermark(dir, v) <= date)
    require(vs.nonEmpty, s"no snapshot at or before $date")
    vs.max
  }

  private[graft] def readAsOf(s: SparkSession, dir: String,
      date: String): (DataFrame, Int) = {
    val v = asOfVersion(dir, date)
    (Snapshots.readVersion(s, dir, v), v)
  }

  /** Lands the year-sliced store once per orders version: one
    * append-only commit per year present in the data (probed, not
    * assumed — the s26 lesson: this corpus spans 1995..2001, not
    * classic TPC-H 1992..98), each publishing its event-time watermark
    * before the manifest.
    */
  private[graft] def s37Dir(s: SparkSession, d: String): String =
    Artifacts.dir(Artifacts.key("asof", Tables.path(d, "orders")),
      "graft_asof") { dir =>
      val slim = Tables.orders(s, d)
        .select(col("o_orderkey").as("ok"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val years = slim.select(substring(col("od"), 1, 4).as("y"))
        .distinct().collect().map(_.getString(0)).sorted
      // the empty base every append rebases onto
      Store.writeManifest(dir, 0, Nil)
      Store.writeLines(s"$dir/watermark_0.txt", Seq("0000-00-00"))
      years.zipWithIndex.foreach { case (y, i) =>
        val sub = s"y$y"
        val slice = slim.filter(substring(col("od"), 1, 4) === y)
        slice.coalesce(1).write.mode("overwrite").parquet(s"$dir/$sub")
        val wm = slice.agg(max(col("od"))).first().getString(0)
        // watermark durable BEFORE the version publishes (the occCommit
        // replaced-metadata ordering discipline)
        Store.writeLines(s"$dir/watermark_${i + 1}.txt", Seq(wm))
        val (v, _) = Snapshots.occCommit(dir, i, Set.empty,
          Store.flatLeafFiles(dir, sub))
        require(v == i + 1, s"year $y expected v${i + 1}, got v$v")
      }
    }

  /** S37: the registered AS-OF read — the snapshot resolved for
    * 1998-07-01 (→ the 1997 year-slice's version: the largest watermark
    * at or before the horizon) with the resolution pinned structurally:
    * `resolved_version` (= |years ≤ 1997|) and `n_versions` (= |years|),
    * both recomputed by the oracle from the raw dates.
    */
  private def s37AsOfRead(s: SparkSession, d: String): DataFrame = {
    val dir = s37Dir(s, d)
    val (df, v) = readAsOf(s, dir, "1998-07-01")
    df.agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .select(lit(v.toLong).as("resolved_version"), col("n_rows"),
        col("sum_cents"),
        lit(Snapshots.head(dir).toLong).as("n_versions"))
  }

  /** AS-OF ON A REF (round-16 verdict #8, completing the time-travel
    * surface): resolve `<ref>@<date>` — the ref (tag/branch, s33/s35
    * machinery) pins a version CHAIN, and the watermark scan resolves
    * within it: the largest version ≤ the ref's whose watermark ≤ the
    * horizon. A horizon PAST the ref's own watermark clamps to the ref
    * (asking a Q3-close tag for "as of today" answers at the close —
    * the tag's history simply ends there), which is exactly why
    * ref-scoped AS-OF exists: reproducible reads against a named,
    * vacuum-protected chain, immune to commits after the pin.
    */
  private[graft] def asOfRefVersion(dir: String, ref: String,
      date: String): Int = {
    val refV = Snapshots.tags(dir)(ref)
    val vs = (1 to refV).filter(v => watermark(dir, v) <= date)
    require(vs.nonEmpty, s"no snapshot on ref $ref at or before $date")
    vs.max
  }

  /** S42: the registered ref-scoped AS-OF read — the tag `q1999` pins
    * the 1999 year-slice; resolving `q1999@2001-06-30` CLAMPS to the
    * tag's version even though the table has later snapshots whose
    * watermarks fit the horizon (the unclamped resolution differs —
    * pinned as the `clamped` gate column). The tag is planted
    * idempotently on the landed s37 store: refs are additive metadata,
    * invisible to every version/watermark read s37 performs.
    */
  private def s42AsOfRef(s: SparkSession, d: String): DataFrame = {
    val dir = s37Dir(s, d)
    // idempotent: the tag pins the version whose watermark covers 1999
    Snapshots.writeTag(dir, "q1999", asOfVersion(dir, "1999-12-31"))
    // horizon past the 2000 slice's watermark (a year slice's watermark
    // is its max order date, late in the year) so the unclamped
    // resolution demonstrably passes the tag
    val horizon = "2001-06-30"
    val v = asOfRefVersion(dir, "q1999", horizon)
    val unclamped = asOfVersion(dir, horizon)
    Snapshots.readVersion(s, dir, v)
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .select(lit(v.toLong).as("resolved_version"), col("n_rows"),
        col("sum_cents"), lit(unclamped > v).as("clamped"))
  }

  private val s42Sql =
    """SELECT
      |  (SELECT CAST(COUNT(DISTINCT EXTRACT(YEAR FROM o_orderdate))
      |     AS BIGINT) FROM orders
      |   WHERE EXTRACT(YEAR FROM o_orderdate) <= 1999)
      |    AS resolved_version,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS sum_cents,
      |  TRUE AS clamped
      |FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'""".stripMargin

  private val s37Sql =
    """SELECT
      |  (SELECT CAST(COUNT(DISTINCT EXTRACT(YEAR FROM o_orderdate))
      |     AS BIGINT) FROM orders
      |   WHERE EXTRACT(YEAR FROM o_orderdate) <= 1997)
      |    AS resolved_version,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS sum_cents,
      |  (SELECT CAST(COUNT(DISTINCT EXTRACT(YEAR FROM o_orderdate))
      |     AS BIGINT) FROM orders) AS n_versions
      |FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'""".stripMargin

  val qs: Seq[(String, Q)] = Seq(
    "s37_as_of_read" -> Q(s37AsOfRead, Some(s37Sql)),
    "s42_as_of_ref" -> Q(s42AsOfRef, Some(s42Sql)),
  )
}
