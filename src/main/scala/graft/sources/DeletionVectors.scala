package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.util.Artifacts

/** S25: MERGE-ON-READ DELETE via deletion vectors + the purge
  * compaction — the DML mode complementing s22's copy-on-write MERGE
  * and completing the manifest store's lifecycle (snapshots s16, vacuum
  * s18, OCC s19, evolution s20, MERGE s22, stats s23, multi-table txn
  * s24):
  *
  *  - a DELETE commits WITHOUT touching a data file: it adds a
  *    DELETE-FILE (Iceberg v2 equality deletes, Delta deletion vectors)
  *    carrying the deleted keys, and a manifest that references every
  *    parent data file UNCHANGED plus the delete file in a `deletes_N`
  *    sidecar. Cost: one tiny write + one metadata publish — at 100 TB
  *    this is what makes row deletes feasible at all (the copy-on-write
  *    alternative rewrites every touched file on EVERY delete);
  *  - readers MERGE ON READ: scan the data files, anti-join the
  *    broadcast delete set (here bounded; production DVs are per-file
  *    position bitmaps applied inside the scan — same plan shape, a
  *    broadcast anti-join below the aggregate);
  *  - the read debt is repaid OFFLINE by the PURGE compaction (Iceberg
  *    `rewrite_data_files` with delete compaction, Delta's DV rewrite):
  *    rewrite ONLY the buckets that contain deleted keys (the s22
  *    matched-bucket discipline), drop the delete file, share every
  *    untouched file with the parent — after which reads are
  *    anti-join-free again. Delete, purge, and both reads are all
  *    spec-pinned equal.
  */
object DeletionVectors {

  private[graft] def deletesOf(dir: String, v: Int): Seq[String] = {
    val f = s"$dir/deletes_$v.txt"
    if (new java.io.File(f).exists()) Store.readLines(f) else Seq.empty
  }

  /** Merge-on-read snapshot: data files minus the version's delete set
    * (broadcast anti-join — the DV-apply plan shape).
    */
  private[graft] def readMergeOnRead(s: SparkSession, dir: String,
      v: Int): DataFrame =
    TxnDeletes.withoutDeleted(s,
      Artifacts.parquet(s, Snapshots.manifest(dir, v): _*), deletesOf(dir, v))

  /** Lands the DV store once per customer version:
    *  v1 = the nation-bucketed base (nkd data column — the s20 lesson);
    *  v2 = the DELETE (keys k%13==0 in nations nk%5==4): one equality-
    *       delete file, EVERY v1 data file shared;
    *  v3 = the PURGE: only the touched buckets rewritten without the
    *       deleted rows, untouched buckets shared, no delete sidecar.
    */
  private[graft] def s25Dir(s: SparkSession, d: String): String =
    Artifacts.dir(Artifacts.key("dvstore", Tables.path(d, "customer")),
      "graft_dvstore") { dir =>
      val base = Snapshots.customerBase(s, d)
      val m1 = Snapshots.stageNkdBase(base, dir)
      Store.writeManifest(dir, 1, m1)
      val doomed = base.filter(col("nk") % 5 === 4 && col("k") % 13 === 0)
      // v2: the delete file — data manifest UNCHANGED
      doomed.select(col("k")).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/dv2")
      Store.writeSidecar(dir, "deletes_", 2, Store.flatLeafFiles(dir, "dv2"))
      Store.writeManifest(dir, 2, m1)
      // v3: the purge — rewrite ONLY buckets holding deleted keys
      val touched = doomed.select(col("nk").cast("int")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      val replaced = m1.filter(p => touched.exists(Store.inBucket(p, _)))
      val purged =
        if (replaced.isEmpty) Nil
        else Store.stageBuckets(Snapshots.asBuckets(
          Artifacts.parquet(s, replaced: _*)
            .join(broadcast(doomed.select(col("k"))), Seq("k"), "left_anti"))
          .repartition(col("nk")), dir, "purge3")
      Store.writeManifest(dir, 3,
        (m1.filterNot(replaced.toSet) ++ purged).sorted)
    }

  /** S25: the registered read — the post-delete aggregate served MERGE
    * ON READ at v2, with the protocol's structural invariants as gate
    * columns: `no_rewrite` (the delete shared every parent data file),
    * `purge_equal` (the purged v3 aggregate matches v2's merge-on-read
    * answer exactly), `purge_cow` (the purge rewrote only touched
    * buckets — some v1 files survive into v3 by path).
    */
  private def s25DeletionVectors(s: SparkSession, d: String): DataFrame = {
    val dir = s25Dir(s, d)
    val noRewrite =
      Snapshots.manifest(dir, 2) == Snapshots.manifest(dir, 1)
    val purgeCow = (Snapshots.manifest(dir, 3).toSet intersect
      Snapshots.manifest(dir, 1).toSet).nonEmpty
    val v2 = readMergeOnRead(s, dir, 2)
      .agg(count(lit(1)).as("n_rows"), sum(col("bal")).as("bal_cents"))
    val v3 = readMergeOnRead(s, dir, 3)
      .agg(count(lit(1)).as("n3"), sum(col("bal")).as("b3"))
    v2.crossJoin(v3)
      .select(col("n_rows"), col("bal_cents"),
        lit(noRewrite).as("no_rewrite"),
        (col("n_rows") === col("n3") && col("bal_cents") === col("b3"))
          .as("purge_equal"),
        lit(purgeCow).as("purge_cow"))
  }

  private val s25Sql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
      |    AS bal_cents,
      |  TRUE AS no_rewrite, TRUE AS purge_equal, TRUE AS purge_cow
      |FROM customer
      |WHERE NOT (c_nationkey % 5 = 4 AND c_custkey % 13 = 0)""".stripMargin

  val qs: Seq[(String, Q)] = Seq(
    "s25_deletion_vectors" -> Q(s25DeletionVectors, Some(s25Sql)),
  )
}
