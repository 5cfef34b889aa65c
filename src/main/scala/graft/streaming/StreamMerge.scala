package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.{Q, Tables}
import graft.sources.{Snapshots, Store}
import graft.util.{Artifacts, CodegenCache}

/** E28: STREAMING CDC MERGE — the change-capture stream applied to the
  * lakehouse table transactionally, composing the round's pieces into
  * the production pipeline they exist for: per micro-batch, the change
  * batch (per-customer order totals, op `A` = increment) commits
  * through [[Snapshots.cowMerge]] — copy-on-write at bucket
  * granularity, OCC-published, conflict-retried — so readers pinning
  * any manifest see a transactionally consistent table at every point
  * of the stream.
  *
  * EXACTLY-ONCE matters here more than for e27's appends: increments
  * are NOT idempotent, so a replayed foreachBatch would double-apply.
  * Containment is structural, like e27's but across ALL committed
  * versions (a later merge may rewrite an earlier batch's files out of
  * the HEAD manifest, so the head alone is not evidence): the batch's
  * merge subdirs carry the deterministic `mb<id>x` prefix, and a replay
  * whose prefix appears in ANY committed manifest returns before any
  * work. A crash before the atomic manifest publish leaves no
  * reference → the replay re-stages and commits once; after it, the
  * replay is a no-op. (Versions are immutable and retained; a vacuum
  * that expires old manifests must keep the batch ledger — the same
  * rule Delta applies to its txn actions.) Single writer per query
  * assumed, as documented on [[EventStream.txnCommitBatch]].
  *
  * At 100 TB this is the streaming MERGE INTO cost model: per batch,
  * one scan+shuffle of ONLY the touched buckets joined with the batch's
  * changes, one partitioned write of those buckets, one metadata
  * publish; replay costs a manifest scan. The dimension lookup that
  * routes changes to buckets reads the base mapping (k → bucket),
  * which is version-invariant for increments.
  */
object StreamMerge {

  /** Orders staged as 4 chunk files (o_orderkey mod 4 — the events
    * splitStageDir discipline), once per source version.
    */
  private def stageOrders(spark: SparkSession, dir: String)
      : java.nio.file.Path =
    java.nio.file.Paths.get(Artifacts.dir(
        Artifacts.key("orderstage", Tables.path(dir, "orders")),
        "graft_orders_split") { out =>
      import java.nio.file.Files
      val staged = java.nio.file.Paths.get(out)
      val raw = Artifacts.parquet(spark, s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      for (k <- 0 until 4) Artifacts.withScratchDir("graft_orders_chunk") {
        tmpOut =>
          raw.filter(pmod(col("o_orderkey"), lit(4)) === k)
            .coalesce(1).write.mode("overwrite").parquet(tmpOut.toString)
          import scala.jdk.CollectionConverters._
          val part = Files.list(tmpOut).iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get
          Files.move(part, staged.resolve(f"chunk_$k%02d.parquet"))
      }
    })

  /** Batch markers embedded in merge-commit file paths (`mb<id>x`,
    * staged first in the subdir name so containment checks survive any
    * staging suffix).
    */
  private[graft] val MarkerRe = raw"mb\d+x".r

  /** The compacted replay ledger (`_batches.txt`): batch markers whose
    * commits are PROVEN even after retention expired the manifests that
    * carried them — the rule e28's scaladoc demanded of any vacuum
    * (Delta keeps txn actions alive the same way). Absent file = empty.
    */
  private[graft] def ledger(store: String): Set[String] = {
    val f = s"$store/_batches.txt"
    if (new java.io.File(f).exists()) Store.readLines(f).toSet else Set.empty
  }

  /** Every batch marker with commit evidence: the ledger plus all
    * SURVIVING manifests' paths (retention may have expired early
    * manifests — their markers must already be in the ledger).
    */
  private[graft] def committedBatches(store: String): Set[String] = {
    val h = Snapshots.head(store)
    val fromManifests = (1 to h).iterator
      .filter(v => new java.io.File(store, s"manifest_$v.txt").exists())
      .flatMap(v => Snapshots.manifest(store, v))
      .flatMap(p => MarkerRe.findAllIn(p))
      .toSet
    fromManifests ++ ledger(store)
  }

  /** One micro-batch's transactional increment-MERGE, replay-safe via
    * batch containment across the ledger + all surviving manifests.
    * The k→bucket routing dimension reads the HEAD manifest (the
    * mapping is version-invariant under increments, and the head is the
    * one version retention always keeps).
    */
  private[graft] def mergeBatch(s: SparkSession, store: String,
      batch: DataFrame, id: Long): Unit = {
    val marker = s"mb${id}x"
    if (committedBatches(store).contains(marker))
      return // replay: this batch already committed in some version
    if (batch.isEmpty) return
    val dim = Artifacts.parquet(s,
        Snapshots.manifest(store, Snapshots.head(store)): _*)
      .select(col("k"), col("nkd").cast("int").as("nk"))
    val chg = batch.groupBy(col("o_custkey").as("k"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("val"))
      .join(dim, "k")
      .select(col("nk"), col("k"), lit("A").as("op"), col("val"))
    Snapshots.cowMerge(s, store, chg, marker)
    ()
  }

  /** S31's retention job: expire every version below the head through
    * [[Snapshots.expireVersions]] (the files only they reference, their
    * manifests, the sidecars only the head no longer resolves to) — but
    * FIRST compact every committed batch marker into `_batches.txt`
    * (temp + atomic rename, durable before any delete), so the
    * exactly-once replay check stays sound after the manifests that
    * carried the evidence are gone. Crash anywhere mid-delete leaves
    * extra files and a complete ledger — replays stay no-ops, and
    * re-running the vacuum converges (versions already expired are
    * skipped). Returns (manifestsExpired, filesDeleted) for this run.
    */
  private[graft] def ledgerVacuum(store: String): (Int, Int) = {
    Store.writeLinesAtomic(s"$store/_batches.txt",
      committedBatches(store).toSeq.sorted)
    val (expired, deleted) =
      Snapshots.expireVersions(store, Set(Snapshots.head(store)))
    (expired.size, deleted)
  }

  /** The landed streaming-MERGE store, once per source version: v1 =
    * the customer base (nation-bucketed, nkd data column), then the
    * 4-chunk staged order stream merged batch-by-batch — head lands at
    * 5 versions (base + one transactional merge per non-empty batch).
    */
  private[graft] def e28Dir(spark: SparkSession, dir: String): String =
    Artifacts.dir(Artifacts.key("streammerge",
        Seq("customer", "orders").map(Tables.path(dir, _))),
      "graft_smerge")(out => buildMergeStore(spark, dir, out))

  /** Builds the streaming-merge store into `out` (shared by e28's read
    * layout and s31's vacuumed copy — the s18-vs-s16 discipline: a
    * retention demo never mutates the store another query reads).
    */
  private[graft] def buildMergeStore(spark: SparkSession, dir: String,
      out: String): Unit = {
      Store.writeManifest(out, 1,
        Snapshots.stageNkdBase(Snapshots.customerBase(spark, dir), out))
      val staged = stageOrders(spark, dir).toString
      val ckp = Artifacts.scratchDir("graft_smerge_ckp").toString
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val src = spark.readStream
          .schema(Artifacts.parquetSchema(spark, staged))
          .option("maxFilesPerTrigger", 1)
          .parquet(staged)
        val q = CodegenCache.startStream(spark)(
          src.writeStream.outputMode("append")
            .foreachBatch((b: DataFrame, id: Long) =>
              mergeBatch(spark, out, b, id))
            .option("checkpointLocation", ckp)
            .trigger(Trigger.AvailableNow())
            .start())
        q.awaitTermination()
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        Artifacts.delete(ckp)
      }
    }

  /** E28: the registered read — the converged head snapshot (every
    * order's cents incremented onto its customer exactly once, across
    * 4 transactional micro-batch merges) plus `n_versions` as the
    * structural exactly-once pin (base + exactly one commit per chunk).
    */
  private def e28StreamMerge(s: SparkSession, d: String): DataFrame = {
    val dir = e28Dir(s, d)
    val h = Snapshots.head(dir).toLong
    Snapshots.readVersion(s, dir, h.toInt)
      .agg(count(lit(1)).as("n_rows"), sum(col("bal")).as("bal_cents"))
      .select(col("n_rows"), col("bal_cents"),
        lit(h).as("n_versions"))
  }

  private val e28Sql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)
      |    + COALESCE(tot, 0)) AS BIGINT) AS bal_cents,
      |  CAST(5 AS BIGINT) AS n_versions
      |FROM customer
      |LEFT JOIN (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS tot
      |  FROM orders GROUP BY o_custkey) o ON c_custkey = o.o_custkey""".stripMargin

  /** Lands the vacuumed merge store once per source version: the same
    * streaming build as e28 into its OWN layout (never mutating e28's),
    * then [[ledgerVacuum]] — expire versions 1..4, delete the data files
    * only they referenced, compact the 4 batch markers into
    * `_batches.txt` BEFORE the manifests carrying them are dropped.
    */
  private[graft] def s31Dir(spark: SparkSession, dir: String): String =
    Artifacts.dir(Artifacts.key("smergevac",
        Seq("customer", "orders").map(Tables.path(dir, _))),
      "graft_smergevac") { out =>
      buildMergeStore(spark, dir, out)
      val (nExp, nDel) = ledgerVacuum(out)
      Store.writeLines(s"$out/_vacuum_stats", Seq(s"$nExp|$nDel"))
    }

  /** S31: LEDGER-PRESERVING VACUUM on the merge store (round-15 verdict
    * #3): s18's vacuum deletes expired manifests — but e28's exactly-once
    * replay check is BATCH CONTAINMENT ACROSS MANIFESTS, so naive expiry
    * would re-open the double-apply window for every batch whose files a
    * later merge rewrote out of the head (their markers survive nowhere
    * else). s31's retention compacts every committed batch marker into
    * `_batches.txt` (durable before any delete), then expires versions
    * 1..head-1 and deletes exactly the data files only they referenced.
    * The registered read proves the converged totals survived retention
    * (oracle recomputes base + all order cents), plus the structural
    * columns: 4 manifests expired, orphan files actually deleted, and
    * the ledger carrying exactly the 4 committed batches.
    *
    * At 100 TB: retention cost is |expired manifests| driver-side list
    * work + one delete per orphan — never a data scan; the ledger is
    * O(batches) tiny metadata that makes retention and exactly-once
    * COMPOSABLE instead of mutually exclusive (the same reason Delta
    * retains txn actions past log compaction).
    */
  private def s31LedgerVacuum(s: SparkSession, d: String): DataFrame = {
    val dir = s31Dir(s, d)
    val h = Snapshots.head(dir)
    val Array(nExp, nDel) =
      Store.readLines(s"$dir/_vacuum_stats").head.split('|').map(_.toLong)
    Snapshots.readVersion(s, dir, h)
      .agg(count(lit(1)).as("n_rows"), sum(col("bal")).as("bal_cents"))
      .select(col("n_rows"), col("bal_cents"),
        lit(nExp).as("n_manifests_expired"),
        lit(nDel > 0).as("files_deleted"),
        lit(ledger(dir).size.toLong).as("ledger_batches"))
  }

  private val s31Sql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)
      |    + COALESCE(tot, 0)) AS BIGINT) AS bal_cents,
      |  CAST(4 AS BIGINT) AS n_manifests_expired,
      |  TRUE AS files_deleted,
      |  CAST(4 AS BIGINT) AS ledger_batches
      |FROM customer
      |LEFT JOIN (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS tot
      |  FROM orders GROUP BY o_custkey) o ON c_custkey = o.o_custkey""".stripMargin

  /** CDC4: the ARBITRARY-RANGE change feed over the streaming-merge
    * store — [[Snapshots.changeFeed]] exercised where it matters: the
    * e28 store holds FIVE versions (base + four increment-merge
    * commits), and an incremental consumer that was last caught up at
    * v1 needs the NET feed to the head, not four pairwise feeds — a
    * customer whose orders span several micro-batches was rewritten
    * several times, and must surface ONCE with its v1 pre-image and its
    * head post-image (intermediate states cancel in the manifest set
    * algebra; the spec pins a multi-batch key). Every fed row here is
    * an `update` (increments on existing keys), and the oracle
    * recomputes the whole net change set from raw customer+orders: a
    * customer appears iff it has orders, before = base balance, after =
    * base + ALL its order cents — so the hash gate fails if a batch
    * applied twice (double increment), was lost, or a rider row leaked.
    *
    * At 100 TB: catch-up cost for a consumer v_from→head is O(files
    * changed across the range) — reading four pairwise feeds would pay
    * the intermediate rewrites; the net feed never opens them.
    */
  private def cdc4ChangeFeedRange(s: SparkSession, d: String): DataFrame = {
    val dir = e28Dir(s, d)
    Snapshots.changeFeed(s, dir, 1, Snapshots.head(dir))
      .orderBy(col("k"))
  }

  private val cdc4Sql =
    """SELECT c_custkey AS k, 'update' AS change_type,
      |  CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_before,
      |  CAST(ROUND(c_acctbal * 100) AS BIGINT) + tot AS bal_after
      |FROM customer
      |JOIN (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS tot
      |  FROM orders GROUP BY o_custkey) o ON c_custkey = o.o_custkey
      |ORDER BY k""".stripMargin

  /** MV3: INCREMENTAL MV REFRESH off the manifest delta — the change
    * feed's actual downstream consumer (the round-15 verdict's rationale
    * for cdc4: "MV refresh, index maintenance, replication"). The MV is
    * the per-nation balance rollup; a consumer that materialized it at
    * v1 refreshes to the head WITHOUT rescanning the table:
    *
    *   MV_head(nk) = MV_v1(nk) − Σ pre-images(nk) + Σ post-images(nk)
    *
    * where pre/post are exactly cdc4's manifest-delta file sets —
    * differential aggregation, O(changed files). Riders (rows rewritten
    * with unchanged values) cancel between the two sums structurally;
    * inserts/deletes fall out of the count terms. The registered output
    * is the REFRESHED MV per nation, and the oracle recomputes it from
    * raw customer+orders directly — the hash gate fails if the
    * differential update loses a row, double-counts a rewrite, or
    * misses a bucket.
    *
    * At 100 TB this is why lakehouse MVs are viable: refresh cost is
    * proportional to what CHANGED since the last refresh, never to the
    * table; the spec pins the scan-side claim (the delta frames' input
    * files are exactly the manifest delta — the shared bootstrap files
    * are never reopened).
    */
  private[graft] def mv3Refreshed(s: SparkSession, dir: String)
      : DataFrame = {
    val h = Snapshots.head(dir)
    val m1 = Snapshots.manifest(dir, 1)
    val mh = Snapshots.manifest(dir, h)
    val (fromSet, toSet) = (m1.toSet, mh.toSet)
    def aggOf(files: Seq[String]): DataFrame =
      Snapshots.readOrEmpty(s, files, m1.head)
        .groupBy(col("nkd").cast("int").as("nk"))
        .agg(count(lit(1)).as("n"), sum(col("bal")).as("cents"))
    // the consumer's materialization at v1: landed once per store
    // version (≤ |nations| rows — the historical full scan happened at
    // materialization time, never per refresh; a deleted store drops it)
    val mv1 = Artifacts.frame(s, Artifacts.key("mv3base", dir))(aggOf(m1))
    val pre = aggOf(m1.filterNot(toSet))
      .select(col("nk"), col("n").as("pn"), col("cents").as("pc"))
    val post = aggOf(mh.filterNot(fromSet))
      .select(col("nk"), col("n").as("qn"), col("cents").as("qc"))
    mv1.join(pre, Seq("nk"), "full_outer")
      .join(post, Seq("nk"), "full_outer")
      .select(col("nk"),
        (coalesce(col("n"), lit(0L)) - coalesce(col("pn"), lit(0L))
          + coalesce(col("qn"), lit(0L))).as("n_rows"),
        (coalesce(col("cents"), lit(0L)) - coalesce(col("pc"), lit(0L))
          + coalesce(col("qc"), lit(0L))).as("total_cents"))
      .filter(col("n_rows") > 0)
      .orderBy(col("nk"))
  }

  private def mv3IncrementalMv(s: SparkSession, d: String): DataFrame =
    mv3Refreshed(s, e28Dir(s, d))

  private val mv3Sql =
    """SELECT CAST(c_nationkey AS INTEGER) AS nk,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)
      |    + COALESCE(tot, 0)) AS BIGINT) AS total_cents
      |FROM customer
      |LEFT JOIN (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS tot
      |  FROM orders GROUP BY o_custkey) o ON c_custkey = o.o_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val qs: Seq[(String, Q)] = Seq(
    "e28_stream_merge" -> Q(e28StreamMerge, Some(e28Sql)),
    "cdc4_change_feed_range" -> Q(cdc4ChangeFeedRange, Some(cdc4Sql)),
    "s31_ledger_vacuum" -> Q(s31LedgerVacuum, Some(s31Sql)),
    "mv3_incremental_mv" -> Q(mv3IncrementalMv, Some(mv3Sql)),
  )
}
