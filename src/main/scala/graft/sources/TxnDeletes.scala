package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.util.Artifacts

/** S38: ROW-LEVEL DELETES through the TRANSACTIONAL merge path — the
  * round-16 verdict's composition arc #2: s25 proved deletion-vector
  * semantics on a standalone, hand-built store; the s22/e28 OCC store
  * supported only U/D/I via copy-on-write bucket rewrites. Here the two
  * compose: equality-delete commits, merge-on-read snapshots, OCC
  * increments, and a purge compaction all flow through ONE store's
  * [[Snapshots.occCommit]] protocol.
  *
  * Sidecar protocol (the piece s25 didn't need):
  *  - a DELETE commit publishes `deletes_<n>.txt` (the version's
  *    equality-delete file list) through [[Snapshots.occCommit]]'s
  *    `beforePublish` hook — durable while holding the slot claim, so a
  *    visible version NEVER lacks its delete set; the data manifest is
  *    rebased verbatim (replaced = ∅: a delete commits without touching
  *    a data file, and always rebases cleanly past concurrent writers);
  *  - commits that DON'T touch deletes (cowMerge increments) write no
  *    sidecar: readers resolve the NEAREST `deletes_m` with m ≤ v
  *    (Iceberg's sequence-number rule: a delete applies to every later
  *    snapshot until compacted away). Retention must keep the latest
  *    sidecar at or below each retained version — the `_batches.txt`
  *    ledger rule, applied to delete metadata;
  *  - delete files carry (k, nk) so the PURGE can drop exactly the keys
  *    whose buckets it rewrote; it rewrites ONLY those buckets
  *    (merge-on-read applied once, offline), publishes the slimmed —
  *    here empty — sidecar through the same hook, and retries from the
  *    new head on [[Snapshots.CommitConflictException]] like any
  *    maintenance writer (derived state: always safe to redo).
  *
  * Interleaving semantics are COMMIT-ORDER (spec-pinned): an increment
  * rewriting a deleted key's bucket re-materializes the row in the data
  * files, but the sidecar still masks it at read time; the purge then
  * physically drops it. "Delete wins until a later commit re-inserts."
  *
  * At 100 TB this is why row deletes are feasible at all: a GDPR-style
  * delete costs one tiny parquet write + one metadata publish (COW
  * would rewrite every touched file per delete); readers pay one
  * broadcast anti-join until the NEXT compaction cycle repays the debt
  * bucket-by-bucket, racing live ingest safely under OCC.
  */
object TxnDeletes {

  /** Nearest delete sidecar at or below `v` — the version's effective
    * equality-delete file list. No sidecar below v = no deletes yet.
    */
  private[graft] def resolveDeletes(dir: String, v: Int): Seq[String] =
    Store.readSidecar(dir, "deletes_", v).getOrElse(Seq.empty)

  private def writeSidecar(dir: String, n: Int,
      files: Seq[String]): Unit =
    Store.writeSidecar(dir, "deletes_", n, files.sorted)

  /** `df` without the rows whose key a delete file in `dvs` lists — the
    * merge-on-read anti-join (broadcast: delete sets are tiny relative
    * to the table; production DVs apply inside the scan, same shape).
    */
  private[graft] def withoutDeleted(s: SparkSession, df: DataFrame,
      dvs: Seq[String]): DataFrame =
    if (dvs.isEmpty) df
    else df.join(broadcast(Artifacts.parquet(s, dvs: _*).select(col("k"))),
      Seq("k"), "left_anti")

  /** Merge-on-read snapshot: the version's data files anti-joined with
    * its resolved delete keys.
    */
  private[graft] def readMoR(s: SparkSession, dir: String,
      v: Int): DataFrame =
    withoutDeleted(s, Artifacts.parquet(s, Snapshots.manifest(dir, v): _*),
      resolveDeletes(dir, v))

  /** Commit an equality delete: one tiny (k, nk) parquet write + one
    * metadata publish. Replaces NO data file (always rebases cleanly);
    * the new sidecar = parent's delete files + this one, durable via
    * `beforePublish` while holding the slot claim. Returns the version.
    */
  private[graft] def commitEqualityDelete(s: SparkSession, dir: String,
      doomed: DataFrame, tag: String): Int = {
    val sub = s"${tag}dv${Snapshots.head(dir)}"
    doomed.select(col("k"), col("nk").cast("int").as("nk"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/$sub")
    val dvFile = Store.flatLeafFiles(dir, sub)
    // The sidecar MERGES against the version's ACTUAL parent, resolved
    // INSIDE beforePublish (round-17 advice): a delete's replaced set is
    // empty, so OCC cannot detect a concurrent delete (or purge) landing
    // between the head read and the claim — a sidecar built from a
    // pre-captured head would drop that commit's delete files (or
    // resurrect a purged set). While the slot-n claim is held, n-1 is
    // the published parent, so resolveDeletes(dir, n-1) is exact.
    Snapshots.occCommit(dir, Snapshots.head(dir), Set.empty, Seq.empty,
      beforePublish = n =>
        writeSidecar(dir, n, resolveDeletes(dir, n - 1) ++ dvFile))._1
  }

  /** The purge compaction: rewrite ONLY the buckets containing deleted
    * keys with the deletes applied, drop those keys from the sidecar
    * (here: all of them — the purge empties it), publish through OCC.
    * A concurrent commit over the same buckets conflicts and the purge
    * retries from the new head (re-reading the CURRENT delete set —
    * derived state, safe to redo). Returns (version, attempts).
    */
  private[graft] def purgeDeletes(s: SparkSession, dir: String,
      tag: String): (Int, Int) =
    Snapshots.retryOnConflict(Snapshots.head(dir)) { (h, attempt) =>
      val dvs = resolveDeletes(dir, h)
      require(dvs.nonEmpty, s"nothing to purge at v$h")
      val doomed = Artifacts.parquet(s, dvs: _*)
      val touched = doomed.select(col("nk")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted // bounded: ≤ |buckets|
      val replaced = Snapshots.manifest(dir, h)
        .filter(p => touched.exists(Store.inBucket(p, _))).toSet
      val added = Snapshots.statsEntries(s, Store.stageBuckets(
        Snapshots.asBuckets(Artifacts.parquet(s, replaced.toSeq.sorted: _*)
          .join(broadcast(doomed.select(col("k"))), Seq("k"), "left_anti"))
          .repartition(col("nk")), dir, s"${tag}purge${h}a$attempt"))
      // Same publish-time discipline as commitEqualityDelete: the purge
      // drops exactly the delete files it APPLIED — a concurrent delete
      // landing between head read and claim (replaced = ∅, invisible to
      // OCC) keeps its files in the sidecar instead of being silently
      // emptied away; its keys stay masked until the next purge.
      val purged = dvs.toSet
      Snapshots.occCommit(dir, h, replaced, added,
        beforePublish = n => writeSidecar(dir, n,
          resolveDeletes(dir, n - 1).filterNot(purged)))._1
    }

  /** Stats-pruned MERGE-ON-READ snapshot: [[Snapshots.readVersionPruned]]
    * composed with the sidecar anti-join — the two reader-side
    * mechanisms a selective query on a delete store needs TOGETHER
    * (pruning alone would leak deleted rows; MoR alone opens every
    * file). Pruning stays sound under deletes because stats bounds are
    * conservative over the file's physical rows, a superset of its
    * logical ones. Returns (frame, keptFiles, totalFiles).
    */
  private[graft] def readMoRPruned(s: SparkSession, dir: String, v: Int,
      nkLo: Long, nkHi: Long): (DataFrame, Int, Int) = {
    val (df, kept, total) =
      Snapshots.readVersionPruned(s, dir, v, nkLo, nkHi)
    (withoutDeleted(s, df, resolveDeletes(dir, v)), kept, total)
  }

  /** Per-nation rollup of `files` with delete set `dvs` MoR-applied —
    * the aggregation unit of the MoR-aware differential below.
    */
  private[graft] def morAgg(s: SparkSession, files: Seq[String],
      dvs: Seq[String], schemaFile: String): DataFrame =
    withoutDeleted(s, Snapshots.readOrEmpty(s, files, schemaFile), dvs)
      .groupBy(col("nkd").cast("int").as("nk"))
      .agg(count(lit(1)).as("n"), sum(col("bal")).as("cents"))

  /** Rows of manifest `m` whose key is in delete-file set `dvs`,
    * rolled up per nation — the `del(m, D)` correction term. Cost is
    * O(deleted buckets), never O(table): the delete files carry nk, so
    * only their buckets' files are opened.
    */
  private def delTerm(s: SparkSession, m: Seq[String],
      dvs: Seq[String], schemaFile: String): DataFrame = {
    if (dvs.isEmpty) return morAgg(s, Nil, Nil, schemaFile)
    val doomed = Artifacts.parquet(s, dvs: _*)
    val buckets = doomed.select(col("nk")).distinct()
      .collect().map(_.getInt(0)) // bounded: ≤ |buckets|
    val files = m.filter(p => buckets.exists(Store.inBucket(p, _)))
    Snapshots.readOrEmpty(s, files, schemaFile)
      .join(broadcast(doomed.select(col("k"))), Seq("k"), "left_semi")
      .groupBy(col("nkd").cast("int").as("nk"))
      .agg(count(lit(1)).as("n"), sum(col("bal")).as("cents"))
  }

  /** CDC5: the MoR-AWARE row-level CHANGE FEED — [[Snapshots.changeFeed]]
    * is file-level, so on a merge-on-read store it is blind exactly
    * where mv3's algebra was: a delete commit changes ZERO files (the
    * file-level feed over that range is EMPTY, yet rows logically
    * vanished) and the purge's file delta re-reports deletions the feed
    * already owed at the delete version. The logical row set at v is
    * L_v = rows(m_v) ∖ keys(D_v), so the net feed over (vFrom, vTo] is
    * the full-outer value diff of L_vFrom and L_vTo — computed WITHOUT
    * an O(table) scan: a row can only differ if its file is in the
    * manifest delta OR its bucket holds a key of either endpoint's
    * delete set (delete files carry nk), so both sides read
    * file-delta ∪ delete-bucket files only, anti-join their own
    * endpoint's delete keys, and unchanged riders are suppressed by the
    * value filter. Cost: O(changed files + delete buckets). On a store
    * whose endpoints carry no deletes it reduces file-for-file to the
    * plain [[Snapshots.changeFeed]] (spec-pinned: net (1,4] ≡ (1,5] ≡
    * file-level (1,5] — the purge version is a logical no-op).
    */
  private[graft] def morChangeFeed(s: SparkSession, dir: String,
      vFrom: Int, vTo: Int): DataFrame = {
    require(vFrom < vTo, s"need vFrom < vTo, got $vFrom >= $vTo")
    val mF = Snapshots.manifest(dir, vFrom)
    val mT = Snapshots.manifest(dir, vTo)
    val dF = resolveDeletes(dir, vFrom)
    val dT = resolveDeletes(dir, vTo)
    val preDelta = mF.filterNot(mT.toSet)
    val postDelta = mT.filterNot(mF.toSet)
    val schemaFile = (mF ++ mT).head
    val dvAll = (dF ++ dT).distinct
    val buckets: Seq[Int] =
      if (dvAll.isEmpty) Seq.empty
      else Artifacts.parquet(s, dvAll.sorted: _*).select(col("nk")).distinct()
        .collect().map(_.getInt(0)).toSeq // bounded: ≤ |buckets|
    def bucketFiles(m: Seq[String]): Seq[String] =
      m.filter(p => buckets.exists(Store.inBucket(p, _)))
    def side(files: Seq[String], dvs: Seq[String],
        alias: String): DataFrame =
      withoutDeleted(s, Snapshots.readOrEmpty(s, files, schemaFile), dvs)
        .select(col("k"), col("bal").as(alias))
    val pre = side((preDelta ++ bucketFiles(mF)).distinct, dF, "bal_before")
    val post = side((postDelta ++ bucketFiles(mT)).distinct, dT, "bal_after")
    Snapshots.netChanges(pre.join(post, Seq("k"), "full_outer"))
  }

  /** CDC5 registered: the net MoR feed over (1, 4] of the s38 store —
    * the range ENDS at a delete-active version, so the feed must emit
    * both the increments (+1200 per nk%7==3 customer across two merge
    * commits, folded to ONE update each) and the delete commit's rows
    * as `delete` events despite their empty file delta. The oracle
    * recomputes the full row-level change set from raw customer; a
    * feed blind to the sidecar misses every delete row and fails the
    * hash.
    */
  private def cdc5MorChangeFeed(s: SparkSession, d: String): DataFrame =
    morChangeFeed(s, s38Dir(s, d), 1, 4).orderBy(col("k"))

  private[graft] val cdc5Sql =
    """WITH base AS (
      |  SELECT c_custkey AS k, CAST(c_nationkey AS INTEGER) AS nk,
      |    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal
      |  FROM customer)
      |SELECT k, change_type, bal_before, bal_after FROM (
      |  SELECT k, 'update' AS change_type, bal AS bal_before,
      |    bal + 1200 AS bal_after
      |  FROM base WHERE nk % 7 = 3
      |  UNION ALL
      |  SELECT k, 'delete' AS change_type, bal AS bal_before,
      |    CAST(NULL AS BIGINT) AS bal_after
      |  FROM base WHERE nk % 7 = 5 AND k % 19 = 0)
      |ORDER BY k""".stripMargin

  /** MV5: MoR-AWARE DIFFERENTIAL MV REFRESH — mv3's manifest-delta
    * algebra breaks on a merge-on-read store: an equality-delete commit
    * changes ZERO files (the manifest delta is empty, yet logical rows
    * vanished), and a purge's file delta double-subtracts rows the
    * delete version already removed. The correct differential, from
    * MV_v = Σ(m_v) − Σ(m_v ∩ D_v):
    *
    *   MV_v − MV_{v-1} = agg(post) − agg(pre)
    *                     − del(m_v, D_v) + del(m_{v-1}, D_{v-1})
    *
    * (pre/post = the RAW manifest-delta sums — the del(m, D) terms over
    * the full manifests carry ALL delete corrections, so applying MoR
    * to pre/post too would double-count a deleted row riding a bucket
    * rewrite; del(m, D) = the delete set's current rows, scanned from
    * only its buckets). The delete commit reduces to
    * −del(m, D_new); the purge's correction cancels its file delta to
    * exactly zero; plain increments cancel their del terms. Cost per
    * refresh: O(changed files + deleted buckets), never O(table).
    */
  private[graft] def mv5Delta(s: SparkSession, store: String,
      v: Int): DataFrame = {
    val mPrev = Snapshots.manifest(store, v - 1)
    val mCur = Snapshots.manifest(store, v)
    val (prevSet, curSet) = (mPrev.toSet, mCur.toSet)
    val preF = mPrev.filterNot(curSet)
    val postF = mCur.filterNot(prevSet)
    val dPrev = resolveDeletes(store, v - 1)
    val dCur = resolveDeletes(store, v)
    val schemaFile = mCur.headOption.getOrElse(mPrev.head)
    def sgn(df: DataFrame, s: Int): DataFrame =
      df.select(col("nk"), (col("n") * s).as("n"),
        (col("cents") * s).as("cents"))
    sgn(morAgg(s, postF, Nil, schemaFile), 1)
      .unionByName(sgn(morAgg(s, preF, Nil, schemaFile), -1))
      .unionByName(sgn(delTerm(s, mCur, dCur, schemaFile), -1))
      .unionByName(sgn(delTerm(s, mPrev, dPrev, schemaFile), 1))
      .groupBy(col("nk"))
      .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"))
  }

  /** The refreshed MV at `v`: the v1 materialization (landed once per
    * store version) plus every version's [[mv5Delta]] folded in.
    */
  private[graft] def mv5Refreshed(s: SparkSession, store: String,
      v: Int): DataFrame = {
    val m1 = Snapshots.manifest(store, 1)
    var mv = Artifacts.frame(s, Artifacts.key("mv5base", store))(
      morAgg(s, m1, resolveDeletes(store, 1), m1.head))
    (2 to v).foreach { i =>
      val d = mv5Delta(s, store, i)
      mv = mv.select(col("nk"), col("n"), col("cents"))
        .unionByName(d)
        .groupBy(col("nk"))
        .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"))
    }
    mv.filter(col("n") > 0).orderBy(col("nk"))
  }

  /** S43: the registered stats-pruned MoR read — a selective nation-
    * range aggregate at v4 (sidecar ACTIVE: post-increments, pre-purge)
    * served by the composed reader: manifest stats prune to the range's
    * buckets, the sidecar anti-join hides deleted rows inside kept
    * files. The oracle recomputes the range with deletes and both
    * credits applied, so the hash fails if pruning leaks a deleted row
    * or drops a live one.
    */
  private def s43PrunedMorRead(s: SparkSession, d: String): DataFrame = {
    val dir = s38Dir(s, d)
    val (df, kept, total) = readMoRPruned(s, dir, 4, 3L, 7L)
    df.filter(col("nkd").cast("int").between(3, 7))
      .groupBy(col("nkd").cast("int").as("nk"))
      .agg(count(lit(1)).as("n_rows"), sum(col("bal")).as("bal_cents"))
      .select(col("nk"), col("n_rows"), col("bal_cents"),
        lit(kept < total).as("skipped_files"),
        lit(resolveDeletes(dir, 4).nonEmpty).as("deletes_applied"))
      .orderBy(col("nk"))
  }

  private val s43Sql =
    """SELECT CAST(c_nationkey AS INTEGER) AS nk,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)
      |    + CASE WHEN c_nationkey % 7 = 3 THEN 1200 ELSE 0 END)
      |    AS BIGINT) AS bal_cents,
      |  TRUE AS skipped_files, TRUE AS deletes_applied
      |FROM customer
      |WHERE c_nationkey BETWEEN 3 AND 7
      |  AND NOT (c_nationkey % 7 = 5 AND c_custkey % 19 = 0)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** MV5 registered: the MV folded differentially across the store's
    * FULL lifecycle — increment, metadata-only delete, increment, purge
    * — hash-gated against the raw-table recompute; a differential that
    * misses the delete version or double-subtracts at the purge fails
    * the gate. The spec pins the stronger invariant (refresh ≡ full MoR
    * recompute at EVERY version).
    */
  private def mv5IncrementalMvMor(s: SparkSession, d: String): DataFrame = {
    val dir = s38Dir(s, d)
    mv5Refreshed(s, dir, Snapshots.head(dir))
      .select(col("nk"), col("n").as("n_rows"),
        col("cents").as("total_cents"))
      .orderBy(col("nk"))
  }

  private val mv5Sql =
    """SELECT CAST(c_nationkey AS INTEGER) AS nk,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)
      |    + CASE WHEN c_nationkey % 7 = 3 THEN 1200 ELSE 0 END)
      |    AS BIGINT) AS total_cents
      |FROM customer
      |WHERE NOT (c_nationkey % 7 = 5 AND c_custkey % 19 = 0)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Lands the demo store once per customer version — the full DML
    * lifecycle in commit order, every step through [[Snapshots.occCommit]]:
    *  v1 base (stats-carrying bootstrap);
    *  v2 cowMerge increment (+500 to every nk%7==3 customer, op A);
    *  v3 equality DELETE (nk%7==5 & k%19==0) — zero data writes;
    *  v4 second cowMerge increment (+700, same nations) — the sidecar
    *     resolves across it untouched;
    *  v5 the PURGE — deleted buckets rewritten, sidecar emptied.
    */
  private[graft] def s38Dir(s: SparkSession, d: String): String =
    Artifacts.dir(Artifacts.key("txndel", Tables.path(d, "customer")),
      "graft_txndel") { dir =>
      val base = Snapshots.customerBase(s, d)
      Store.writeManifest(dir, 1,
        Snapshots.statsEntries(s, Snapshots.stageNkdBase(base, dir)))
      def credit(cents: Long): DataFrame =
        base.filter(col("nk") % 7 === 3)
          .select(col("nk").cast("int").as("nk"), col("k"),
            lit("A").as("op"), lit(cents).as("val"))
      require(Snapshots.cowMerge(s, dir, credit(500L), "i2")._1 == 2)
      val doomed = base.filter(col("nk") % 7 === 5 && col("k") % 19 === 0)
      require(commitEqualityDelete(s, dir, doomed, "d3") == 3)
      require(Snapshots.cowMerge(s, dir, credit(700L), "i4")._1 == 4)
      require(purgeDeletes(s, dir, "p5")._1 == 5)
    }

  /** S38: the registered read — the head snapshot after
    * increment→delete→increment→purge, with the lifecycle's structural
    * invariants as gate columns: `delete_metadata_only` (v3's manifest
    * equals v2's by path — the delete wrote no data), `purge_kept_shared`
    * (the purge rewrote only deleted buckets; untouched files shared by
    * path with v4), `sidecar_cleared` (post-purge resolved delete set is
    * empty — head reads are anti-join-free), and `mor_equals_purged`
    * (v4's merge-on-read answer equals v5's plain read: the purge only
    * repaid the read debt). The oracle recomputes the final table from
    * raw customer with the same action algebra.
    */
  private def s38TxnRowDeletes(s: SparkSession, d: String): DataFrame = {
    val dir = s38Dir(s, d)
    val deleteMetadataOnly =
      Snapshots.manifest(dir, 3) == Snapshots.manifest(dir, 2)
    val purgeKeptShared = (Snapshots.manifest(dir, 5).toSet intersect
      Snapshots.manifest(dir, 4).toSet).nonEmpty
    val sidecarCleared = resolveDeletes(dir, 5).isEmpty
    val v4 = readMoR(s, dir, 4)
      .agg(count(lit(1)).as("n4"), sum(col("bal")).as("b4"))
    val v5 = readMoR(s, dir, 5)
      .agg(count(lit(1)).as("n_rows"), sum(col("bal")).as("bal_cents"))
    v5.crossJoin(broadcast(v4))
      .select(col("n_rows"), col("bal_cents"),
        lit(deleteMetadataOnly).as("delete_metadata_only"),
        lit(purgeKeptShared).as("purge_kept_shared"),
        lit(sidecarCleared).as("sidecar_cleared"),
        (col("n_rows") === col("n4") && col("bal_cents") === col("b4"))
          .as("mor_equals_purged"))
  }

  private val s38Sql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)
      |    + CASE WHEN c_nationkey % 7 = 3 THEN 1200 ELSE 0 END)
      |    AS BIGINT) AS bal_cents,
      |  TRUE AS delete_metadata_only, TRUE AS purge_kept_shared,
      |  TRUE AS sidecar_cleared, TRUE AS mor_equals_purged
      |FROM customer
      |WHERE NOT (c_nationkey % 7 = 5 AND c_custkey % 19 = 0)""".stripMargin

  val qs: Seq[(String, Q)] = Seq(
    "s38_txn_row_deletes" -> Q(s38TxnRowDeletes, Some(s38Sql)),
    "s43_pruned_mor_read" -> Q(s43PrunedMorRead, Some(s43Sql)),
    "cdc5_mor_change_feed" -> Q(cdc5MorChangeFeed, Some(cdc5Sql)),
    "mv5_incremental_mv_mor" -> Q(mv5IncrementalMvMor, Some(mv5Sql)),
  )
}
