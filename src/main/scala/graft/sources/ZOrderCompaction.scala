package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.util.Artifacts

/** S44: Z-ORDER COMPACTION — multi-dimensional clustering OPTIMIZE
  * (Delta `OPTIMIZE ZORDER BY`, Iceberg's z-order rewrite strategy).
  * s41's sort-on-compact clusters ONE column: a `bal` sort makes `bal`
  * stats disjoint but leaves a `k`-range query scanning every file.
  * Z-ordering rewrites the files ordered by the bit-interleaved value
  * of BOTH columns' normalized coordinates, so each range-partitioned
  * output file covers a compact region of the (k, bal) plane and its
  * commit-written min/max are selective on EITHER dimension — the
  * multi-dimensional trade: neither column prunes as tightly as its
  * own dedicated sort order, both prune far better than under the
  * other's.
  *
  * Mechanics kept Spark-first: the z-value is a pure codegen column
  * expression ([[ZOrderLanding.zValue]] of 8-bit grid coordinates), the
  * layout is `repartitionByRange(n, z)` + `sortWithinPartitions`, the
  * publish is the standard [[Snapshots.occCommit]] with
  * [[SchemaStats.entries]]' NAMED stats (schema-driven, so `k` bounds
  * ride the manifest without bespoke code), and reads prune
  * driver-side over [[ManifestEntry]] bounds per queried column.
  *
  * At 100 TB: the rewrite is O(bucket) per maintenance pass like any
  * compaction (the domain probe rides the same scan budget; production
  * z-orders run bucket-by-bucket exactly like [[SortedCompaction]]),
  * and it buys bounded file-skipping for EVERY selective dimension of
  * the workload — the reason warehouses z-order their two or three
  * hottest filter columns instead of sorting by one.
  */
object ZOrderCompaction {

  private val Bits = 8 // 256×256 z-grid: plenty below per-file row counts

  // Column./ is DOUBLE division (CLAUDE.md int-div gotcha) — floor it
  // back to the grid; operands stay ≤ 2^28, far inside double-exactness.
  private def gridCoord(c: Column, lo: Long, hi: Long): Column =
    floor(((c - lit(lo)) * lit(1L << Bits)) / lit(hi - lo + 1))
      .cast("long")

  /** `df` laid out z-ordered on (k, bal) into `nFiles` z-range
    * partitions, each sorted — the z-value ([[ZOrderLanding.zValue]]
    * over the grid coordinates of the frame's own (k, bal) domain)
    * rides as `_z` for the caller to project away.
    */
  private def zOrdered(df: DataFrame, nFiles: Int): DataFrame = {
    val r = df.agg(min(col("k")), max(col("k")),
      min(col("bal")), max(col("bal"))).head() // domain probe: 1 row
    df.withColumn("_z", ZOrderLanding.zValue(
        gridCoord(col("k"), r.getLong(0), r.getLong(1)),
        gridCoord(col("bal"), r.getLong(2), r.getLong(3))))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions(col("_z"), col("k"))
  }

  /** Rewrite the head's files z-ordered on (k, bal) into `nFiles`
    * z-range files (a flat layout), published through OCC with
    * schema-driven named stats. Returns (committedVersion, attempts).
    */
  private[graft] def zOrderCompact(s: SparkSession, dir: String,
      tag: String, nFiles: Int): (Int, Int) =
    Snapshots.retryOnConflict(Snapshots.head(dir)) { (h, attempt) =>
      val files = Snapshots.manifest(dir, h)
      val sub = s"$tag${h}a$attempt"
      zOrdered(Artifacts.parquet(s, files.sorted: _*), nFiles)
        .select(col("k"), col("nkd"), col("bal"))
        .write.mode("overwrite").parquet(s"$dir/$sub")
      Snapshots.occCommit(dir, h, files.toSet,
        SchemaStats.entries(s, Store.walkLeafFiles(dir, sub)))._1
    }

  /** BUCKET-SCOPED z-order rewrite — OPTIMIZE ZORDER BY racing live
    * writers, the production shape of s44's one-shot demo: each attempt
    * reads the CURRENT head's files for bucket `nk` (the nkd-bucketed
    * store layout s22/s38/e28 share), rewrites them as `nFiles` z-range
    * files over the BUCKET's own (k, bal) domain, and publishes through
    * [[Snapshots.rewriteBucket]] with replaced = exactly those files —
    * the [[Snapshots.compactBucket]] race discipline: a concurrent
    * commit over the same bucket raises the conflict and the rewrite
    * RETRIES from the new head (derived state, always safe to redo — it
    * can lose only its own work, never an update); commits over
    * disjoint buckets rebase past it untouched. Added entries are
    * schema-driven NAMED stats, so k and bal bounds ride the manifest
    * and selective in-bucket reads prune per column. Returns (version,
    * attempts).
    *
    * At 100 TB this is how z-ordering actually runs: bucket-by-bucket
    * maintenance passes against live ingest, each pass O(bucket), the
    * OCC file-granularity conflict set making "maintenance never blocks
    * ingest, ingest never corrupts maintenance" structural.
    */
  private[graft] def zOrderCompactBucket(s: SparkSession, dir: String,
      nk: Int, tag: String, nFiles: Int): (Int, Int) =
    Snapshots.rewriteBucket(s, dir, nk, (h, a) => s"$tag${h}a$a",
      stats = SchemaStats.entries)(df =>
      Snapshots.asBuckets(zOrdered(df, nFiles)))

  /** Paths of version `v` whose named bounds intersect EVERY queried
    * column's range — the multi-column prune (per-column logic exactly
    * [[SchemaStats.prunedBy]]'s: absence on a named entry = prunable,
    * bare entries kept conservatively).
    */
  private[graft] def keptFor(dir: String, v: Int,
      ranges: Seq[(String, Long, Long)]): Seq[String] =
    Snapshots.manifestLines(dir, v).map(ManifestEntry.parse).filter { e =>
      ranges.forall { case (c, lo, hi) =>
        e.stats.get(c) match {
          case Some(bounds) => // typed range test: date-safe, numeric-safe
            ManifestEntry.boundsIntersect(bounds, lo.toString, hi.toString)
          case None => !e.named
        }
      }
    }.map(_.path)

  // k ∈ [40, 70]: inside every SF's key domain — the 2026-08-19 regen
  // shrank sf0.001's customer to 150 rows (keys 0–149), where the old
  // (400, 700) box selected nothing and `read_some` was unprovable.
  private[graft] val KRange = (40L, 70L)
  private[graft] val BalRange = (500000L, 999999L)
  private[graft] val NFiles = 16
  private val KBox = ("k", KRange._1, KRange._2)
  private val BalBox = ("bal", BalRange._1, BalRange._2)

  /** Lands v1 of a z-order demo store: the customer base (k, nkd, bal)
    * hash-partitioned into [[NFiles]] files with named stats. Returns
    * the base frame.
    */
  private def landIngest(s: SparkSession, d: String,
      dir: String): DataFrame = {
    val base = Snapshots.customerBase(s, d, "nkd")
    base.repartition(NFiles, col("k"))
      .write.mode("overwrite").parquet(s"$dir/v1")
    Store.writeManifest(dir, 1,
      SchemaStats.entries(s, Store.walkLeafFiles(dir, "v1")))
    base
  }

  /** The 2-D box read of version `v`: the kept files' rows inside the
    * (k, bal) box (a schema-carrying empty frame when no file is kept),
    * whether k alone and bal alone prune files, and whether any file
    * was kept.
    */
  private def boxRead(s: SparkSession, dir: String, v: Int)
      : (DataFrame, Boolean, Boolean, Boolean) = {
    val files = Snapshots.manifest(dir, v)
    val box = keptFor(dir, v, Seq(KBox, BalBox))
    val df = Snapshots.readOrEmpty(s, box, files.head)
        .filter(col("k").between(KRange._1, KRange._2) &&
          col("bal").between(BalRange._1, BalRange._2))
    (df, keptFor(dir, v, Seq(KBox)).size < files.size,
      keptFor(dir, v, Seq(BalBox)).size < files.size, box.nonEmpty)
  }

  /** Lands the demo once per customer version: v1 = hash-partitioned
    * ingest (16 files, each spanning essentially the full k AND bal
    * domains — value pruning keeps everything on either column), then
    * [[zOrderCompact]] → v2.
    */
  private[graft] def s44Dir(s: SparkSession, d: String): String =
    Artifacts.dir(Artifacts.key("zorder", Tables.path(d, "customer")),
      "graft_zorder") { dir =>
      landIngest(s, d, dir)
      require(zOrderCompact(s, dir, "zo", NFiles)._1 == 2)
    }

  /** S44: the registered read — a 2-D selective box (k range AND bal
    * range) over the z-ordered head, served by the multi-column prune.
    * Gates pin the clustering claim from both sides: at v1 NEITHER
    * column prunes a single file (`ingest_unprunable`), at v2 EACH
    * column alone skips files (`zorder_prunes_k` / `zorder_prunes_bal`)
    * — the property a single-column sort cannot deliver. The aggregate
    * is exact against the raw-table oracle, so a z-boundary that drops
    * or duplicates a row fails the hash.
    */
  private def s44ZorderCompaction(s: SparkSession, d: String): DataFrame = {
    val dir = s44Dir(s, d)
    val totV1 = Snapshots.manifest(dir, 1).size
    val ingestUnprunable = keptFor(dir, 1, Seq(KBox)).size == totV1 &&
      keptFor(dir, 1, Seq(BalBox)).size == totV1
    val (box, prunesK, prunesBal, readSome) = boxRead(s, dir, 2)
    box.agg(count(lit(1)).as("n_rows"), sum(col("bal")).as("bal_cents"))
      .select(col("n_rows"), col("bal_cents"),
        lit(ingestUnprunable).as("ingest_unprunable"),
        lit(prunesK).as("zorder_prunes_k"),
        lit(prunesBal).as("zorder_prunes_bal"),
        lit(readSome).as("read_some"))
  }

  /** Lands the z-order + MoR composition store once per customer
    * version:
    *  v1 = hash-partitioned ingest (16 files, unprunable on either
    *       column) — named stats;
    *  v2 = equality DELETE (nk%7==5 & k%19==0) — metadata-only, the
    *       sidecar masks at read time;
    *  v3 = [[zOrderCompact]] — the rewrite is DELETE-AGNOSTIC: data
    *       files are rewritten as-is (deleted rows ride through
    *       physically, still masked), the sidecar resolves across the
    *       compaction untouched (nearest-at-or-below).
    */
  private[graft] def s45Dir(s: SparkSession, d: String): String =
    Artifacts.dir(Artifacts.key("zordermor", Tables.path(d, "customer")),
      "graft_zordermor") { dir =>
      val doomed = landIngest(s, d, dir)
        .filter(col("nkd") % 7 === 5 && col("k") % 19 === 0)
        .select(col("k"), col("nkd").as("nk"))
      require(TxnDeletes.commitEqualityDelete(s, dir, doomed, "d") == 2)
      require(zOrderCompact(s, dir, "zo", NFiles)._1 == 3)
    }

  /** S45: Z-ORDER + MERGE-ON-READ composed — the round-17 verdict's
    * arc #7: s43 composed stats pruning with the sidecar anti-join on a
    * BUCKETED store (one prunable dimension); s44 proved 2-D z-order
    * pruning on a delete-free store. A real warehouse table is both
    * z-ordered AND delete-active, and the two reader mechanisms must
    * compose: [[keptFor]]'s multi-column prune stays sound under
    * deletes (stats bounds are conservative over a file's PHYSICAL
    * rows, a superset of its logical ones), and the sidecar anti-join
    * runs inside the kept files only. Gates pin both families at once:
    * each z-dimension alone prunes files (`zorder_prunes_k` /
    * `zorder_prunes_bal`), the sidecar is ACTIVE across the compaction
    * (`deletes_applied` — the rewrite must not drop or apply it), and
    * the box aggregate is exact against the raw-customer oracle, which
    * excludes the deleted keys — pruning that leaks a deleted row or a
    * compaction that loses the sidecar fails the hash.
    */
  private def s45ZorderMorRead(s: SparkSession, d: String): DataFrame = {
    val dir = s45Dir(s, d)
    val (kept, prunesK, prunesBal, readSome) = boxRead(s, dir, 3)
    val dvs = TxnDeletes.resolveDeletes(dir, 3)
    TxnDeletes.withoutDeleted(s, kept, dvs)
      .agg(count(lit(1)).as("n_rows"), sum(col("bal")).as("bal_cents"))
      .select(col("n_rows"), col("bal_cents"),
        lit(prunesK).as("zorder_prunes_k"),
        lit(prunesBal).as("zorder_prunes_bal"),
        lit(dvs.nonEmpty).as("deletes_applied"),
        lit(readSome).as("read_some"))
  }

  private val s45Sql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
      |    AS bal_cents,
      |  TRUE AS zorder_prunes_k, TRUE AS zorder_prunes_bal,
      |  TRUE AS deletes_applied, TRUE AS read_some
      |FROM customer
      |WHERE c_custkey BETWEEN 40 AND 70
      |  AND CAST(ROUND(c_acctbal * 100) AS BIGINT)
      |    BETWEEN 500000 AND 999999
      |  AND NOT (c_nationkey % 7 = 5 AND c_custkey % 19 = 0)""".stripMargin

  private val s44Sql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
      |    AS bal_cents,
      |  TRUE AS ingest_unprunable, TRUE AS zorder_prunes_k,
      |  TRUE AS zorder_prunes_bal, TRUE AS read_some
      |FROM customer
      |WHERE c_custkey BETWEEN 40 AND 70
      |  AND CAST(ROUND(c_acctbal * 100) AS BIGINT)
      |    BETWEEN 500000 AND 999999""".stripMargin

  val qs: Seq[(String, Q)] = Seq(
    "s44_zorder_compaction" -> Q(s44ZorderCompaction, Some(s44Sql)),
    "s45_zorder_mor_read" -> Q(s45ZorderMorRead, Some(s45Sql)),
  )
}
