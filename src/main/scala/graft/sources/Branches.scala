package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.util.Artifacts

/** S35: BRANCHES + AUDITED FAST-FORWARD — multi-commit staging, the
  * tier above s27's single-candidate WAP (Iceberg branch / Delta
  * shallow-clone-then-swap; Netflix's full branch-audit-publish). s27
  * stages ONE candidate manifest; a real backfill or multi-step ETL
  * needs SEVERAL commits that readers must not see until the whole
  * chain audits green. The mechanism is a level of indirection on
  * reads:
  *
  *  - named REFS (`ref_<name>.txt`, a version number, moved by atomic
  *    rename) are what readers resolve — never the max manifest N;
  *  - commits on a branch publish manifests through the standard
  *    [[Snapshots.occCommit]] (version numbers are a shared sequence)
  *    and then move ONLY the branch ref — `main` readers are pinned to
  *    their ref's manifest, so arbitrarily many staged commits are
  *    structurally invisible, not just unlikely to be seen;
  *  - the dq audit runs against the BRANCH HEAD as a reader would see
  *    it, and a green audit FAST-FORWARDS `main` — one atomic ref move
  *    makes the whole chain visible at once; a red audit moves nothing
  *    and the branch stays parked for inspection (vacuum fodder after).
  *
  * At 100 TB: the branch costs exactly its rewritten buckets (COW
  * shares the rest with main), the fast-forward is one tiny rename, and
  * the audit reads the branch head once — this is how multi-commit
  * backfills ship without a maintenance window.
  */
object Branches {

  /** Resolve a named ref to its pinned version. */
  private[graft] def refVersion(dir: String, name: String): Int =
    Store.readLines(s"$dir/ref_$name.txt").head.toInt

  /** Create or move a ref — one atomic rename, the only mutation refs
    * ever see.
    */
  private[graft] def moveRef(dir: String, name: String, v: Int): Unit =
    Store.writeLinesAtomic(s"$dir/ref_$name.txt", Seq(v.toString))

  private[graft] def readRef(s: SparkSession, dir: String,
      name: String): DataFrame =
    Snapshots.readVersion(s, dir, refVersion(dir, name))

  /** Audit the branch head against main (the WAP rule set: key
    * uniqueness, balance domain, row conservation) and fast-forward
    * `main` iff green. Returns true iff main moved.
    */
  private[graft] def auditedFastForward(s: SparkSession, dir: String,
      branch: String, auditLog: StringBuilder): Boolean = {
    val mainV = refVersion(dir, "main")
    val branchV = refVersion(dir, branch)
    val parentRows = readRef(s, dir, "main").count()
    val (dups, oob, delta) = WriteAuditPublish.audit(s, dir,
      Snapshots.manifest(dir, branchV), parentRows)
    val ok = dups == 0 && oob == 0 && delta == 0
    auditLog.append(s"branch $branch v$branchV vs main v$mainV: " +
      s"dups=$dups outOfDomain=$oob rowDelta=$delta -> " +
      s"${if (ok) "FAST-FORWARD" else "REJECT"}\n")
    if (ok) moveRef(dir, "main", branchV)
    ok
  }

  /** Lands the branch demo once per customer version: v1 base with
    * `main` at 1; branch `etl` takes TWO commits (nation-6 +100, then
    * nation-11 +200 on top) — main readers pinned throughout; the green
    * audit fast-forwards main to the branch head. A second branch
    * `bad` commits an out-of-domain rewrite and is REJECTED — main
    * stays on the audited chain.
    */
  private[graft] def s35Dir(s: SparkSession, d: String): String =
    Artifacts.dir(Artifacts.key("snapbranch", Tables.path(d, "customer")),
      "graft_snapbranch") { dir =>
      val base = Snapshots.customerBase(s, d)
      Store.writeManifest(dir, 1,
        Store.stageBuckets(base.repartition(col("nk")), dir, "v1"))
      moveRef(dir, "main", 1)
      val log = new StringBuilder
      // branch etl: two staged commits, main pinned at 1 throughout
      moveRef(dir, "etl", 1)
      val (r2, a2) = Snapshots.prepareCredit(dir, 1, base, 6, 100L, "b2")
      require(Snapshots.occCommit(dir, 1, r2, a2)._1 == 2)
      moveRef(dir, "etl", 2)
      // the second branch commit stacks on the first: nation 11 is
      // untouched by commit 1, so base still carries its pre-images
      val (r3, a3) = Snapshots.prepareCredit(dir, 2, base, 11, 200L, "b3")
      require(Snapshots.occCommit(dir, 2, r3, a3)._1 == 3)
      moveRef(dir, "etl", 3)
      require(refVersion(dir, "main") == 1, "main moved before the audit")
      require(auditedFastForward(s, dir, "etl", log),
        "the clean branch must fast-forward")
      // branch bad: an out-of-domain rewrite of nation 0 — rejected
      moveRef(dir, "bad", 3)
      val badBase = base.withColumn("bal",
        when(col("nk") === 0, col("bal") - 100000000L).otherwise(col("bal")))
      val (r4, a4) = Snapshots.prepareCredit(dir, 3, badBase, 0, 0L, "b4")
      require(Snapshots.occCommit(dir, 3, r4, a4)._1 == 4)
      moveRef(dir, "bad", 4)
      require(!auditedFastForward(s, dir, "bad", log),
        "the dirty branch must be rejected")
      Store.writeLines(s"$dir/_branch_log.txt", Seq(log.toString))
    }

  /** S35: the registered branch read — `main` resolved AFTER the green
    * fast-forward and the red rejection: both etl credits visible
    * exactly once, the bad branch's state never reader-visible, plus the
    * structural outcomes (two branch commits staged invisibly, one
    * fast-forward, one rejection) from the audit log.
    */
  private def s35BranchFastForward(s: SparkSession, d: String)
      : DataFrame = {
    val dir = s35Dir(s, d)
    val log = Store.readLines(s"$dir/_branch_log.txt").mkString("\n")
    readRef(s, dir, "main")
      .agg(count(lit(1)).as("n_rows"), sum(col("bal")).as("bal_cents"))
      .select(lit(refVersion(dir, "main").toLong).as("main_version"),
        col("n_rows"), col("bal_cents"),
        lit(log.contains("FAST-FORWARD")).as("ff_green"),
        lit(log.contains("REJECT")).as("rejected_red"))
  }

  private val s35Sql =
    """SELECT CAST(3 AS BIGINT) AS main_version,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)
      |    + CASE WHEN c_nationkey = 6 THEN 100
      |           WHEN c_nationkey = 11 THEN 200 ELSE 0 END) AS BIGINT)
      |    AS bal_cents,
      |  TRUE AS ff_green, TRUE AS rejected_red
      |FROM customer""".stripMargin

  val qs: Seq[(String, Q)] = Seq(
    "s35_branch_fast_forward" -> Q(s35BranchFastForward, Some(s35Sql)),
  )
}
