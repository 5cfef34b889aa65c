package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.util.Artifacts

/** S27: WRITE-AUDIT-PUBLISH — the staged-commit pattern every serious
  * lakehouse pipeline runs (Iceberg's WAP / branch-audit-publish,
  * popularized by Netflix): a writer lands its files and a CANDIDATE
  * manifest under a stage name readers never resolve (readers key on
  * `manifest_N.txt`; the stage is `manifest_N.txt.audit`), a data-quality
  * audit runs against the STAGED snapshot exactly as a reader would see
  * it, and only a green audit publishes — one atomic rename. A red
  * audit publishes NOTHING: the head never moves, the bad data is
  * structurally invisible (not rolled back — never visible at all), and
  * the orphaned stage files are ordinary vacuum fodder.
  *
  * The audit here is the dq-family contract applied at the gate: key
  * uniqueness, value domain (balances above [[BalFloor]] — the TPC-H
  * domain legitimately includes negatives, so the rule audits the
  * DOMAIN, not a naive non-negativity), and row-count conservation
  * against the parent snapshot. At 100 TB this pattern is why bad loads don't
  * page anyone at 3am: the audit costs one scan of the CANDIDATE (not
  * the table — COW means the candidate shares unchanged files, and the
  * audit can scan only the changed buckets plus metadata), and
  * publish/reject are both metadata-only.
  */
object WriteAuditPublish {

  /** Domain floor for the range audit: TPC-H balances are legitimately
    * negative down to -99999 cents, so the rule is "within the domain",
    * not "non-negative" — an audit stricter than the domain would
    * reject clean loads.
    */
  private[graft] val BalFloor = -100000L

  /** Audit a staged manifest's table as a reader would see it. Returns
    * (dupKeys, outOfDomain, rowDelta) — all must be zero to publish.
    */
  private[graft] def audit(s: SparkSession, dir: String,
      stagedManifest: Seq[String], parentRows: Long)
      : (Long, Long, Long) = {
    val t = Artifacts.parquet(s, stagedManifest: _*)
    val r = t.agg(
      (count(lit(1)) - countDistinct(col("k"))).as("dups"),
      sum(when(col("bal") < BalFloor, 1L).otherwise(0L)).as("oob"),
      count(lit(1)).as("n")).first()
    (r.getLong(0), r.getLong(1), r.getLong(2) - parentRows)
  }

  /** Unique suffix per staged candidate — two concurrent publishers at
    * the same head must not clobber each other's stage file.
    */
  private val stageSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Stage → audit → publish-or-reject. The staged manifest lives at
    * `manifest_<n>.txt.audit.<tok>` (invisible: [[Snapshots.head]]
    * matches only `.txt`); publish takes the version slot with the
    * [[Store.claimSlot]] O_EXCL claim FIRST (round-15 advice: a bare
    * atomic rename onto `manifest_N.txt` is a silent POSIX replace — two
    * concurrent publishers picking the same N would lose one audited-
    * green commit), then publishes the audited lines by atomic rename.
    * The stage is deleted when the attempt ends. A publisher that loses
    * the claim race waits for the winner's manifest and re-runs the
    * WHOLE stage+audit from the new head — the audit's row-conservation
    * premise is against the parent snapshot, so a moved head invalidates
    * it. A red audit never claims a slot at all: rejects consume
    * nothing. Returns true iff published.
    */
  private[graft] def auditedPublish(s: SparkSession, dir: String,
      files: Seq[String], auditLog: StringBuilder,
      claimWaitMs: Long = 10000L): Boolean = {
    while (true) {
      val h = Snapshots.head(dir)
      val parentRows = Artifacts.parquet(s, Snapshots.manifest(dir, h): _*).count()
      val n = h + 1
      val candidate = files.sorted
      val stage = s"$dir/manifest_$n.txt.audit.${stageSeq.incrementAndGet()}"
      Store.writeLines(stage, candidate)
      // the stage is garbage once this attempt ends, whatever the outcome
      // (round-16 advice: metadata orphans accumulated unbounded in
      // long-lived stores); a retry stages afresh
      try {
        val (dups, oob, delta) = audit(s, dir, files, parentRows)
        val ok = dups == 0 && oob == 0 && delta == 0
        auditLog.append(s"candidate $n: dups=$dups outOfDomain=$oob " +
          s"rowDelta=$delta -> ${if (ok) "PUBLISH" else "REJECT"}\n")
        if (!ok) return false
        // a loser waits for the winner's publish (claims here are only
        // ever taken by green candidates about to publish), then re-stages
        // and RE-AUDITS against the new head
        if (Store.claimSlot(dir, "manifest", n, claimWaitMs,
            s"claim for version $n (claimant died mid-publish)") {
          // conflict metadata durable BEFORE the manifest is visible (the
          // occCommit ordering discipline): a WAP version replaces exactly
          // the parent files its candidate no longer lists, and recording
          // that lets a later occCommit detect conflicts across WAP
          // versions instead of failing on missing metadata
          Store.writeLines(s"$dir/replaced_$n.txt",
            Snapshots.manifest(dir, h).filterNot(files.toSet).sorted)
          Store.writeLinesAtomic(s"$dir/manifest_$n.txt", candidate)
        }) return true
      } finally java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(stage))
    }
    throw new IllegalStateException("unreachable")
  }

  /** Lands the WAP demo once per customer version: v1 base; a CLEAN
    * candidate (nation-5 bucket credited +500, row-conserving) that
    * audits green and publishes as v2; a DIRTY candidate (nation-8
    * bucket rewritten with negated balances and a duplicated key) that
    * audits red and is REJECTED — head stays 2, the dirty files never
    * become reader-visible. The audit log lands as `_audit_log.txt`.
    */
  private[graft] def s27Dir(s: SparkSession, d: String): String =
    Artifacts.dir(Artifacts.key("wapstore2", Tables.path(d, "customer")),
      "graft_wap") { dir =>
      val base = Snapshots.customerBase(s, d)
      val m1 = Snapshots.stageNkdBase(base, dir)
      Store.writeManifest(dir, 1, m1)
      val log = new StringBuilder
      // clean candidate: COW rewrite of the nation-5 bucket, +500
      val clean = (m1.filterNot(Store.inBucket(_, 5)) ++
        Store.stageBuckets(base.filter(col("nk") === 5)
          .select(col("k"), col("nk").as("nkd"),
            (col("bal") + 500L).as("bal"), col("nk"))
          .repartition(col("nk")), dir, "clean")).sorted
      require(auditedPublish(s, dir, clean, log),
        "clean candidate must publish")
      // dirty candidate: nation-8 bucket rewritten with out-of-domain
      // balances plus a duplicated key — violations on every audit axis
      // (rows also grow by one)
      val n8 = base.filter(col("nk") === 8)
      val staged = Store.stageBuckets(n8.select(col("k"), col("nk").as("nkd"),
          (col("bal") - 10000000L).as("bal"), col("nk"))
        .unionByName(n8.limit(1).select(col("k"), col("nk").as("nkd"),
          (col("bal") - 10000000L).as("bal"), col("nk")))
        .repartition(col("nk")), dir, "dirty")
      val dirty = (Snapshots.manifest(dir, 2).filterNot(Store.inBucket(_, 8))
        ++ staged).sorted
      require(!auditedPublish(s, dir, dirty, log),
        "dirty candidate must be rejected")
      Store.writeLines(s"$dir/_audit_log.txt", Seq(log.toString))
    }

  /** S27: the registered WAP read — the head snapshot (clean credit
    * applied, dirty batch never visible) with the gate's structural
    * outcomes as columns: `n_published` (the rejected candidate did not
    * advance the head), `clean_published` / `dirty_rejected` (from the
    * audit log), and the exact head aggregate the oracle recomputes
    * (base + the clean credit ONLY — the hash gate fails if rejected
    * data ever leaks into a reader-visible snapshot).
    */
  private def s27WriteAuditPublish(s: SparkSession, d: String)
      : DataFrame = {
    val dir = s27Dir(s, d)
    val h = Snapshots.head(dir)
    val log = Store.readLines(s"$dir/_audit_log.txt").mkString("\n")
    Snapshots.readVersion(s, dir, h)
      .agg(count(lit(1)).as("n_rows"), sum(col("bal")).as("bal_cents"))
      .select(lit(h.toLong).as("n_published"), col("n_rows"),
        col("bal_cents"),
        lit(log.contains("candidate 2") &&
          log.contains("PUBLISH")).as("clean_published"),
        lit(log.contains("candidate 3") &&
          log.contains("REJECT")).as("dirty_rejected"))
  }

  private val s27Sql =
    """SELECT CAST(2 AS BIGINT) AS n_published,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)
      |    + CASE WHEN c_nationkey = 5 THEN 500 ELSE 0 END) AS BIGINT)
      |    AS bal_cents,
      |  TRUE AS clean_published, TRUE AS dirty_rejected
      |FROM customer""".stripMargin

  val qs: Seq[(String, Q)] = Seq(
    "s27_write_audit_publish" -> Q(s27WriteAuditPublish, Some(s27Sql)),
  )
}
