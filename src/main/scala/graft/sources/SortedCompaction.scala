package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.util.Artifacts

/** S41: SORT-ON-COMPACT — clustering the transactional store (round-16
  * verdict #7): [[Snapshots.compactBucket]] coalesces a bucket's small
  * files without ordering, so the rewritten file's value stats span the
  * whole bucket and s30-style `bal` pruning can never skip INSIDE a
  * bucket. The OPTIMIZE-with-sort-order variant rewrites the bucket as
  * N RANGE-partitioned, internally sorted files (the s11/s12 sorted-
  * landing discipline applied at compaction time): each file covers a
  * disjoint value range, its commit-written min/max are tight by
  * construction, and a selective read's kept-file set strictly tightens
  * — the stats machinery is unchanged, only the layout got smarter.
  *
  * At 100 TB this is the background clustering job every warehouse
  * runs: ingest lands value-unsorted small files; compaction repays
  * both debts at once (file count AND stat selectivity) for one
  * bucket-scan + one OCC metadata publish, racing live writers under
  * the same conflict rules as any maintenance rewrite.
  */
object SortedCompaction {

  /** Compact one bucket into `nFiles` bal-range files (sorted within
    * each) through the standard OCC publish — [[Snapshots.compactBucket]]
    * with a sort order, both [[Snapshots.rewriteBucket]]. Returns
    * (committedVersion, attempts).
    */
  private[graft] def sortedCompactBucket(s: SparkSession, dir: String,
      nk: Int, tag: String, nFiles: Int): (Int, Int) =
    Snapshots.rewriteBucket(s, dir, nk, (h, a) => s"$tag${h}a$a")(df =>
      Snapshots.asBuckets(df.repartitionByRange(nFiles, col("bal"))
        .sortWithinPartitions(col("bal"))))

  private[graft] val BalMin = 500000L // the selective read's floor
  // nk=11: the bucket with the most rows at the 2026-08-19-regen
  // sf0.001 (11 rows, 5 above BalMin) — nk=9 shrank to 5 rows / 1 high
  // there, where every layout prunes to the same single file and
  // `kept_tightened` is unmeasurable.
  private[graft] val CompactedNk = 11
  private[graft] val RangeFiles = 3

  /** Lands the clustering demo once per customer version: v1 = the
    * ingest shape (each bucket split across up to 6 value-UNSORTED
    * small files — every file's bal stats span the domain, value
    * pruning is useless inside a bucket), then [[sortedCompactBucket]]
    * on bucket 9 → v2.
    */
  private[graft] def s41Dir(s: SparkSession, d: String): String =
    Artifacts.dir(Artifacts.key("sortcompact2", Tables.path(d, "customer")),
      "graft_sortcompact") { dir =>
      val base = Snapshots.customerBase(s, d, "nkd")
      Store.writeManifest(dir, 1, Snapshots.statsEntries(s,
        Store.stageBuckets(base.withColumn("nk", col("nkd"))
          .repartition(6, col("k")), dir, "v1"))) // value-unsorted splits
      require(sortedCompactBucket(s, dir, CompactedNk, "sc",
        RangeFiles)._1 == 2)
    }

  /** S41: the registered read — a high-balance aggregate over the
    * compacted bucket, served stats-pruned at the head; the gate column
    * `kept_tightened` pins the clustering claim (the same pruned read
    * against v1 keeps strictly more files — sorting made the stats
    * selective), and the aggregate is exact against the raw-table
    * oracle, so a range boundary that drops a row fails the hash.
    */
  private def s41SortedCompaction(s: SparkSession, d: String): DataFrame = {
    val dir = s41Dir(s, d)
    val (_, keptBefore, _) = Snapshots.readVersionPruned(s, dir, 1,
      CompactedNk, CompactedNk, Some(BalMin))
    val (df, keptAfter, _) = Snapshots.readVersionPruned(s, dir, 2,
      CompactedNk, CompactedNk, Some(BalMin))
    df.filter(col("nkd") === CompactedNk && col("bal") >= BalMin)
      .agg(count(lit(1)).as("n_rows"), sum(col("bal")).as("bal_cents"))
      .select(col("n_rows"), col("bal_cents"),
        lit(keptAfter < keptBefore).as("kept_tightened"),
        lit(keptAfter > 0).as("read_some"))
  }

  private val s41Sql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
      |    AS bal_cents,
      |  TRUE AS kept_tightened, TRUE AS read_some
      |FROM customer
      |WHERE c_nationkey = 11
      |  AND CAST(ROUND(c_acctbal * 100) AS BIGINT) >= 500000""".stripMargin

  val qs: Seq[(String, Q)] = Seq(
    "s41_sorted_compaction" -> Q(s41SortedCompaction, Some(s41Sql)),
  )
}
