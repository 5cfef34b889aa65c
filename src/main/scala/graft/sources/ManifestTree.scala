package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.util.Artifacts

/** S32: TWO-LEVEL MANIFEST TREE — the metadata layer a million-file
  * table needs (round-15 verdict #6): every other store here reads ONE
  * flat manifest driver-side, fine at ≤ dozens of files but O(|table
  * files|) per read on a 100 TB table. Iceberg's answer is a tree: a
  * snapshot points at a MANIFEST LIST (one line per bucket/partition
  * range, carrying bucket-level stats), and each line points at a
  * PER-BUCKET MANIFEST enumerating that bucket's data files with their
  * file-level stats. A selective read parses the list (O(|buckets|)),
  * fetches ONLY the bucket manifests the predicate intersects, and
  * scans only their files; a merge resolves its touched buckets the
  * same way and REUSES every untouched bucket's manifest file verbatim
  * in the next version's list — commit metadata cost is O(touched
  * buckets), not O(table).
  *
  * Layout on disk (all driver-readable text, every publish a distinct
  * file — the s16 immutability discipline):
  *   mlist_<V>.txt            one `nk|bmPath|rows|bal_lo|bal_hi` line
  *                            per bucket (value stats roll up from the
  *                            bucket's file entries, so a value
  *                            predicate prunes bucket-manifest FETCHES)
  *   bm_nk<k>_v<V>.txt        stats entries (Snapshots format) for the
  *                            files bucket k holds AS OF version V —
  *                            written only when V changed bucket k
  *   v1/, m2/                 the data files themselves
  *
  * The demo: customer bucketed by nation; the v2 commit credits every
  * nk%5==2 customer +777 cents — a pure bucket rewrite resolved
  * through the tree (the build records how many bucket manifests the
  * MERGE fetched; the spec pins it to |touched|, not |buckets|).
  */
object ManifestTree {

  final case class BucketRef(nk: Int, bm: String, rows: Long,
      balLo: Long, balHi: Long)

  private[graft] val CreditCents = 777L

  private[graft] def mlist(dir: String, v: Int): Seq[BucketRef] =
    Store.readLines(s"$dir/mlist_$v.txt").map { l =>
      val p = l.split('|')
      BucketRef(p(0).toInt, p(1), p(2).toLong, p(3).toLong, p(4).toLong)
    }

  /** The manifest-list line of a bucket ref. */
  private def listLine(r: BucketRef): String =
    s"${r.nk}|${r.bm}|${r.rows}|${r.balLo}|${r.balHi}"

  /** One bucket manifest's file list (entry paths, stats stripped). */
  private[graft] def bucketFiles(bm: String): Seq[String] =
    Store.readLines(bm).map(Snapshots.pathOf)

  /** The tree's version family: `mlist_<V>.txt` lists, conflict
    * metadata `treplaced_<V>.txt` keyed by BUCKET — one granularity
    * coarser than the flat manifests' file sets (a tree commit swaps
    * whole bucket manifests, so bucket identity IS the conflict unit).
    * A bucket rewrite commits by writing the bucket's new manifest
    * `bm_nk<k>_<sub>.txt` and swapping its ref into the list.
    */
  private[graft] object Tree
      extends Snapshots.Family("mlist", "treplaced_", "bucket") {
    def bucketFiles(dir: String, v: Int, nk: Int): Seq[String] =
      mlist(dir, v).find(_.nk == nk).toSeq
        .flatMap(r => ManifestTree.bucketFiles(r.bm))

    def commitBucket(dir: String, h: Int, nk: Int, files: Seq[String],
        entries: Seq[String], sub: String): Int = {
      val bm = s"$dir/bm_nk${nk}_$sub.txt"
      Store.writeLines(bm, entries)
      treeOccCommit(dir, h, Seq(bucketRef(nk, bm, entries)))._1
    }
  }

  /** Highest committed tree version: max N with a published mlist_N. */
  private[graft] def treeHead(dir: String): Int = Tree.head(dir)

  /** BUCKETS tree version `v` replaced relative to its parent — the
    * tree's conflict-detection metadata.
    */
  private[graft] def treeReplacedOf(dir: String, v: Int): Set[Int] =
    Tree.replacedOf(dir, v).map(_.toInt)

  /** OCC commit on the manifest TREE (round-16 verdict #4: the list
    * publish previously bypassed the claim discipline — single-writer
    * only): [[Snapshots.publish]] on the [[Tree]] family. Disjoint
    * buckets REBASE — the new list is the CURRENT head's with our
    * touched refs swapped in, every untouched bucket's manifest file
    * reused verbatim (line-identical, the O(touched) commit-metadata
    * contract); new buckets (nk absent from the head's list) append.
    * Returns (committedVersion, claimRetries).
    */
  private[graft] def treeOccCommit(dir: String, readV: Int,
      newRefs: Seq[BucketRef], claimWaitMs: Long = 10000L): (Int, Int) = {
    val touched = newRefs.map(_.nk).toSet
    Snapshots.publish(Tree, dir, readV, touched.toSeq.sorted.map(_.toString),
      claimWaitMs, _ => ())(h =>
      (mlist(dir, h).filterNot(r => touched(r.nk)) ++ newRefs)
        .sortBy(_.nk).map(listLine))
  }

  /** Tree-resolved bucket rewrite (the tree-level cowMerge): credit one
    * bucket's rows through [[Snapshots.rewriteBucket]] on the [[Tree]]
    * family. Returns (version, attempts).
    */
  private[graft] def treeCredit(s: SparkSession, dir: String, nk: Int,
      cents: Long, tag: String): (Int, Int) =
    Snapshots.rewriteBucket(s, dir, nk, (h, a) => s"$tag${h}a$a", Tree)(df =>
      Snapshots.asBuckets(df.withColumn("bal", col("bal") + lit(cents)))
        .repartition(col("nk")))

  /** Tree-resolved bucket compaction (the tree-level compactBucket):
    * rewrite the bucket's files as one, content unchanged.
    */
  private[graft] def treeCompactBucket(s: SparkSession, dir: String,
      nk: Int, tag: String): (Int, Int) =
    Snapshots.rewriteBucket(s, dir, nk, (h, a) => s"$tag${h}a$a", Tree)(
      Snapshots.asBuckets(_).coalesce(1))

  /** Bucket-level stats roll up from the bucket's file entries: row
    * count plus the value column's [lo, hi] — so a VALUE predicate can
    * prune bucket-manifest FETCHES at the list level, one level above
    * the per-file pruning inside each bucket manifest.
    */
  private def bucketRef(nk: Int, bm: String,
      entries: Seq[String]): BucketRef = {
    val parsed = entries.map(ManifestEntry.parse)
    BucketRef(nk, bm, parsed.flatMap(_.rows).sum,
      parsed.flatMap(_.stats.get("bal")).map(_._1.toLong).min,
      parsed.flatMap(_.stats.get("bal")).map(_._2.toLong).max)
  }

  /** Group stats entries by the bucket their path's `nk=` dir names. */
  private def byBucket(entries: Seq[String]): Map[Int, Seq[String]] = {
    val nkRe = raw"nk=(\d+)".r
    entries.groupBy(e => nkRe.findFirstMatchIn(
      ManifestEntry.parse(e).path).get.group(1).toInt)
  }

  /** Lands the tree store once per customer version: v1 (one bucket
    * manifest per nation + the list), then the v2 bucket-rewrite commit
    * resolved THROUGH the tree. Sidecar `_merge_bm_fetched` records how
    * many bucket manifests the merge actually opened.
    */
  private[graft] def s32Dir(s: SparkSession, d: String): String =
    Artifacts.dir(Artifacts.key("mtree2", Tables.path(d, "customer")),
      "graft_mtree") { dir =>
      val v1ByBucket = byBucket(Snapshots.statsEntries(s,
        Snapshots.stageNkdBase(Snapshots.customerBase(s, d), dir)))
      val refs1 = v1ByBucket.toSeq.sortBy(_._1).map { case (nk, entries) =>
        val bm = s"$dir/bm_nk${nk}_v1.txt"
        Store.writeLines(bm, entries)
        bucketRef(nk, bm, entries)
      }
      // the list is the commit point; bucket manifests are inert until
      // a list names them, so plain writes suffice for those
      Store.writeLinesAtomic(s"$dir/mlist_1.txt", refs1.map(listLine))
      // ---- the v2 commit, resolved through the TREE -------------------
      val touched = refs1.map(_.nk).filter(_ % 5 == 2).toSet
      // merge-side metadata fetch: ONLY the touched buckets' manifests
      val touchedRefs = mlist(dir, 1).filter(r => touched(r.nk))
      val inputFiles = touchedRefs.flatMap(r => bucketFiles(r.bm))
      Store.writeLines(s"$dir/_merge_bm_fetched",
        Seq(touchedRefs.size.toString))
      val v2ByBucket = byBucket(Snapshots.statsEntries(s, Store.stageBuckets(
        Snapshots.asBuckets(Artifacts.parquet(s, inputFiles.sorted: _*)
          .withColumn("bal", col("bal") + lit(CreditCents)))
          .repartition(col("nk")), dir, "m2")))
      // the v2 publish goes through the tree's OCC claim discipline
      // (round-16 verdict #4): only the TOUCHED buckets' refs ride the
      // commit; untouched refs rebase verbatim inside treeOccCommit
      val refs2touched = v2ByBucket.toSeq.sortBy(_._1)
        .map { case (nk, entries) =>
          val bm = s"$dir/bm_nk${nk}_v2.txt"
          Store.writeLines(bm, entries)
          bucketRef(nk, bm, entries)
        }
      require(treeOccCommit(dir, 1, refs2touched)._1 == 2,
        "the tree demo's merge must land as v2")
    }

  /** The tree-pruned read: parse the list (O(|buckets|) driver lines),
    * fetch ONLY the bucket manifests inside [nkLo, nkHi], read their
    * files. Returns (frame, bucketManifestsParsed, bucketManifestsTotal).
    */
  private[graft] def treePrunedRead(s: SparkSession, dir: String, v: Int,
      nkLo: Int, nkHi: Int, balMin: Option[Long] = None)
      : (DataFrame, Int, Int) = {
    val refs = mlist(dir, v)
    require(refs.nonEmpty,
      s"empty manifest list mlist_$v.txt in $dir — no schema source " +
        "for an all-pruned read")
    val kept = refs.filter(r => r.nk >= nkLo && r.nk <= nkHi &&
      balMin.forall(m => r.balHi >= m))
    val files = kept.flatMap(r => bucketFiles(r.bm))
    val df =
      if (files.nonEmpty) Artifacts.parquet(s, files.sorted: _*)
      else Artifacts.parquet(s, bucketFiles(refs.head.bm).head)
        .filter(lit(false))
    (df, kept.size, refs.size)
  }

  /** S32: the registered tree read — a selective nation-range aggregate
    * over the post-commit head, served by parsing the manifest LIST plus
    * only the matching per-bucket manifests (gate: strictly fewer bucket
    * manifests than buckets). The oracle recomputes the credited table
    * and the same range from raw customer, so the hash gate fails if the
    * tree loses a file, double-lists one, or serves a stale bucket.
    *
    * At 100 TB with a million files over 10k buckets: the flat-manifest
    * read costs a million driver lines per query; the tree costs 10k
    * list lines + the matched buckets' manifests — and commit metadata
    * is O(touched buckets) because untouched bucket manifests are reused
    * byte-identical (spec-pinned by path equality across versions).
    */
  private def s32ManifestTree(s: SparkSession, d: String): DataFrame = {
    val dir = s32Dir(s, d)
    val (df, kept, total) = treePrunedRead(s, dir, 2, 10, 14)
    df.groupBy(col("nkd").cast("int").as("nk"))
      .agg(count(lit(1)).as("n_rows"), sum(col("bal")).as("bal_cents"))
      .select(col("nk"), col("n_rows"), col("bal_cents"),
        lit(kept < total).as("skipped_buckets"),
        lit(kept > 0).as("read_some"))
      .orderBy(col("nk"))
  }

  private val s32Sql =
    """SELECT CAST(c_nationkey AS INTEGER) AS nk,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)
      |    + CASE WHEN c_nationkey % 5 = 2 THEN 777 ELSE 0 END) AS BIGINT)
      |    AS bal_cents,
      |  TRUE AS skipped_buckets, TRUE AS read_some
      |FROM customer WHERE c_nationkey BETWEEN 10 AND 14
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val qs: Seq[(String, Q)] = Seq(
    "s32_manifest_tree" -> Q(s32ManifestTree, Some(s32Sql)),
  )
}
