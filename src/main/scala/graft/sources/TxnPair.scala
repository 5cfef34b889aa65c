package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.util.Artifacts

/** S24: MULTI-TABLE ATOMIC COMMIT — the transaction tier above s19's
  * per-table OCC (round-14 verdict #6): a real pipeline commits a fact
  * table and its derived artifact (rollup MV, index, sidecar) in ONE
  * transaction, or readers can observe a fact table whose MV lags it —
  * exactly the torn pair incremental-view maintenance must never serve.
  *
  * Protocol (the Iceberg multi-table-transaction / Delta commit-
  * coordinator shape, expressed directly):
  *  - each member table keeps its own s16-style manifest chain under
  *    `<dir>/<table>/manifest_N.txt` — data files and per-table
  *    manifests are ALL written first, in any order; none of that is
  *    reader-visible, because
  *  - readers resolve `txn_N.txt` FIRST (the transaction head — one
  *    line per table, `<table>=<version>`) and then read exactly the
  *    per-table manifests it names. A table manifest not named by any
  *    txn is invisible by construction;
  *  - the txn slot is claimed with the s19 O_EXCL discipline and
  *    published by atomic rename of a fully-written temp — so the PAIR
  *    becomes visible in one filesystem operation: a crash anywhere
  *    before the rename leaves the head txn (and both its tables)
  *    intact, and recovery re-prepares and publishes once.
  *
  * At 100 TB this is the metastore-transaction cost model: the commit
  * adds one tiny txn file to whatever the member tables' own commits
  * cost; reads add one driver-side txn fetch. The atomicity guarantee
  * is structural (readers key on one atomically-published file), not
  * timing-dependent — spec-pinned by injecting a crash between the two
  * member-table manifest writes and asserting readers still see the old
  * consistent pair.
  */
object TxnPair {

  /** Highest published transaction: max N with a `txn_N.txt`. */
  private[graft] def txnHead(dir: String): Int = Store.head(dir, "txn_")

  /** The table→version pinning of transaction `n`. */
  private[graft] def txnRead(dir: String, n: Int): Map[String, Int] =
    Store.readLines(s"$dir/txn_$n.txt").map { l =>
      val Array(t, v) = l.split('=')
      t -> v.toInt
    }.toMap

  /** Atomically publish a transaction pinning `vers` (every member
    * table's manifest must already be durable — the caller's prepare
    * step). O_EXCL slot claim + rename of a fully-written temp: the s19
    * publication discipline, one level up. Returns the txn number.
    *
    * A LOST claim does not blindly take the next slot (round-15 advice:
    * readers resolve the MAX slot, so publishing an older table-version
    * pair under a higher slot than a concurrent newer pair would make
    * the newer commit permanently invisible — a lost update with no
    * conflict signal). Instead the loser waits for the winner's txn to
    * publish (the occCommit discipline), verifies its own pins still
    * SUPERSEDE every table the winner pinned, and only then claims the
    * next slot; a regression throws [[Snapshots.CommitConflictException]]
    * and the caller must re-prepare against the new head.
    */
  /** Throws unless `vers` supersedes (>= per table) every pin of the
    * CURRENT head transaction — publishing an older table-version pair
    * under a higher slot would make the newer commit permanently
    * invisible, whether the staleness arrives via a lost claim race or
    * a caller that prepared long ago.
    */
  private def requireSupersedes(dir: String, vers: Map[String, Int],
      headTxn: Int): Unit =
    if (headTxn >= 1) {
      val pinned = txnRead(dir, headTxn)
      val regressed = pinned.filter { case (t, v) =>
        !vers.get(t).exists(_ >= v) }
      if (regressed.nonEmpty)
        throw new Snapshots.CommitConflictException(
          s"txn head (slot $headTxn) pins newer versions for " +
            s"${regressed.keys.mkString(",")} — re-prepare against the " +
            "new transaction head before committing")
    }

  private[graft] def commitTxn(dir: String, vers: Map[String, Int],
      claimWaitMs: Long = 10000L): Int = {
    val h0 = txnHead(dir)
    requireSupersedes(dir, vers, h0)
    var n = h0 + 1
    while (!Store.claimSlot(dir, "txn", n, claimWaitMs,
        s"txn claim for slot $n (claimant died mid-publish)")(
        Store.writeLinesAtomic(s"$dir/txn_$n.txt",
          vers.toSeq.sorted.map { case (t, v) => s"$t=$v" }))) {
      requireSupersedes(dir, vers, n)
      n += 1
    }
    n
  }

  /** Read a member table at the CURRENT transaction head. */
  private[graft] def readAtHead(s: SparkSession, dir: String,
      table: String): DataFrame = {
    val vers = txnRead(dir, txnHead(dir))
    Artifacts.parquet(s,
      Snapshots.manifest(s"$dir/$table", vers(table)): _*)
  }

  private val Cut = "1995-06-17"

  private def factSlim(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(col("l_orderkey").as("ok"),
      col("l_returnflag").as("rf"),
      round(col("l_quantity")).cast("long").as("qty"),
      date_format(col("l_shipdate"), "yyyy-MM-dd").as("sd"))

  private def rollup(fact: DataFrame): DataFrame =
    fact.groupBy(col("rf"))
      .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"))

  /** Lands the two-table store once per lineitem version: txn 1 = the
    * pre-cut fact slice + its rollup MV; txn 2 = the post-cut delta
    * APPENDED to the fact (manifest 2 shares every txn-1 fact file) and
    * the REWRITTEN full rollup — one atomic transaction covering an
    * append-only member and a copy-on-write member.
    */
  private[graft] def s24Dir(s: SparkSession, d: String): String =
    Artifacts.dir(Artifacts.key("txnpair", Tables.path(d, "lineitem")),
      "graft_txnpair") { dir =>
      val fact = factSlim(s, d)
      val f1 = fact.filter(col("sd") < Cut)
      val (a, b) = (s"$dir/A", s"$dir/B")
      f1.write.mode("overwrite").parquet(s"$a/v1")
      Store.writeManifest(a, 1, Store.flatLeafFiles(a, "v1"))
      rollup(f1).write.mode("overwrite").parquet(s"$b/v1")
      Store.writeManifest(b, 1, Store.flatLeafFiles(b, "v1"))
      require(commitTxn(dir, Map("A" -> 1, "B" -> 1)) == 1)
      fact.filter(col("sd") >= Cut)
        .write.mode("overwrite").parquet(s"$a/v2delta")
      Store.writeManifest(a, 2,
        Store.flatLeafFiles(a, "v1") ++ Store.flatLeafFiles(a, "v2delta"))
      rollup(fact).write.mode("overwrite").parquet(s"$b/v2")
      Store.writeManifest(b, 2, Store.flatLeafFiles(b, "v2"))
      require(commitTxn(dir, Map("A" -> 2, "B" -> 2)) == 2)
    }

  /** S24: the registered pair read — the MV member at the txn head,
    * per-group, each row carrying `consistent` = (stored rollup ==
    * recompute from the fact member AT THE SAME TRANSACTION). The
    * oracle recomputes the rollup from the raw table and expects TRUE —
    * the hash gate fails if any reader-visible transaction ever pins a
    * fact/MV pair that disagrees.
    */
  private def s24MultiCommit(s: SparkSession, d: String): DataFrame = {
    val dir = s24Dir(s, d)
    val t = txnHead(dir).toLong
    val mv = readAtHead(s, dir, "B")
    val rec = rollup(readAtHead(s, dir, "A"))
      .select(col("rf"), col("n_rows").as("rn"), col("sum_qty").as("rq"))
    mv.join(rec, Seq("rf"), "full_outer")
      .select(col("rf"), col("n_rows"), col("sum_qty"),
        (col("n_rows") === col("rn") && col("sum_qty") === col("rq"))
          .as("consistent"),
        lit(t).as("n_txns"))
      .orderBy(col("rf"))
  }

  private val s24Sql =
    """SELECT l_returnflag AS rf, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
      |  TRUE AS consistent, CAST(2 AS BIGINT) AS n_txns
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  val qs: Seq[(String, Q)] = Seq(
    "s24_multi_commit" -> Q(s24MultiCommit, Some(s24Sql)),
  )
}
