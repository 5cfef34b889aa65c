package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.util.Artifacts

/** S40: COLUMN RENAME/DROP by COLUMN-ID MAPPING — the schema-evolution
  * leg s20 (ADD COLUMN) left open, and the round-16 verdict's arc #6.
  * Iceberg's contract: every column has a permanent FIELD ID; files
  * store data under ids, and the logical name→id map lives in table
  * metadata — so a RENAME is one metadata write (old files keep
  * resolving, because nothing about them referenced the name), and a
  * DROP is the map forgetting an id (the bytes stay, unreadable through
  * the table, reclaimed by the next rewrite).
  *
  * Emulated here with physical column names `c<id>` in the data files
  * and a per-version `colmap_<v>.txt` (`id|logicalName` lines):
  *
  *  - readers resolve a version's schema via the NEAREST colmap at or
  *    below it (the TxnDeletes sidecar rule: metadata commits are
  *    sparse, resolution is version-exact), then select `c<id> AS
  *    <name>` — a projection, no data cost;
  *  - a RENAME commits through [[Snapshots.occCommit]] with an EMPTY
  *    file footprint: replaced = added = ∅ (the manifest rebases
  *    verbatim), the new colmap durable via `beforePublish` while the
  *    slot claim is held — a visible version never lacks its mapping;
  *  - a pre-rename snapshot read AFTER the rename still surfaces the
  *    OLD name (its colmap is pinned with it — time travel includes
  *    schema history), and writes after the rename keep using ids, so
  *    files written under either name interoperate forever.
  *
  * At 100 TB this is the only viable rename: rewriting data for a name
  * change is absurd, and name-based resolution (Hive-style) silently
  * corrupts when a name is reused — ids make rename/drop/re-add safe.
  */
object ColumnIds {

  /** Nearest column-id map at or below `v` (ordered by id): (id,
    * logicalName, sqlType) — types live in metadata, like Iceberg's
    * schema, so an id no file carries yet still materializes correctly.
    */
  private[graft] def resolveColmap(dir: String,
      v: Int): Seq[(Int, String, String)] =
    Store.readSidecar(dir, "colmap_", v)
      .getOrElse(throw new IllegalStateException(
        s"no colmap at or below v$v in $dir"))
      .map { l => val p = l.split('|'); (p(0).toInt, p(1), p(2)) }
      .sortBy(_._1)

  private def writeColmap(dir: String, v: Int,
      m: Seq[(Int, String, String)]): Unit =
    Store.writeSidecar(dir, "colmap_", v,
      m.sortBy(_._1).map { case (id, n, t) => s"$id|$n|$t" })

  /** Version read with id→name resolution: physical `c<id>` columns
    * projected to the version's logical names. Dropped ids simply
    * don't appear in the map — their bytes stay in the files,
    * unreadable through the table. An id NO listed file carries (a
    * fresh add, or a re-add after a drop) materializes as typed nulls —
    * by construction it can never resolve to a dropped id's bytes.
    */
  private[graft] def readResolved(s: SparkSession, dir: String,
      v: Int): DataFrame = {
    val raw = s.read.option("mergeSchema", "true")
      .parquet(Snapshots.manifest(dir, v): _*)
    val present = raw.columns.toSet
    val cols = resolveColmap(dir, v).map { case (id, n, t) =>
      if (present(s"c$id")) col(s"c$id").as(n)
      else lit(null).cast(t).as(n)
    }
    raw.select(cols: _*)
  }

  /** Commit a schema change (rename/drop/re-add are all just a new
    * map): zero file footprint, the colmap durable while the slot
    * claim is held. `edit` transforms the version's ACTUAL parent map,
    * resolved INSIDE beforePublish (round-17 advice): a colmap commit's
    * replaced set is empty, so OCC cannot detect a concurrent schema
    * change landing between the head read and the claim — a literal
    * new map captured at the stale head would silently undo it. While
    * the slot-n claim is held, n-1 is the published parent, so
    * resolveColmap(dir, n-1) is exact. Returns the committed version.
    */
  private[graft] def commitColmap(dir: String,
      edit: Seq[(Int, String, String)] => Seq[(Int, String, String)]): Int =
    Snapshots.occCommit(dir, Snapshots.head(dir), Set.empty, Seq.empty,
      beforePublish = n =>
        writeColmap(dir, n, edit(resolveColmap(dir, n - 1))))._1

  /** The three schema edits as colmap transforms. */
  private[graft] def renameCol(id: Int, to: String)(
      m: Seq[(Int, String, String)]): Seq[(Int, String, String)] =
    m.map { case (i, n, t) => if (i == id) (i, to, t) else (i, n, t) }

  private[graft] def dropCol(id: Int)(
      m: Seq[(Int, String, String)]): Seq[(Int, String, String)] =
    m.filterNot(_._1 == id)

  private[graft] def addCol(id: Int, name: String, tpe: String)(
      m: Seq[(Int, String, String)]): Seq[(Int, String, String)] = {
    require(!m.exists(_._1 == id),
      s"column id $id already mapped — ids are permanent, never reused")
    m :+ ((id, name, tpe))
  }

  private val PhysIdRe = raw"c\d+".r

  /** RECLAIM compaction — the rewrite the drop contract promised: a
    * DROP only forgets the id in the colmap, the bytes stay in every
    * file until "the next rewrite"; without one they stay forever.
    * Each attempt reads the CURRENT head, projects away every physical
    * `c<id>` column the head's colmap no longer maps, and publishes
    * the slimmed files through [[Snapshots.occCommit]] with replaced =
    * every file that carried a dropped column (files already slim ride
    * the rebase untouched). The colmap is NOT touched — reclamation is
    * a data operation, invisible at the logical schema; pre-drop
    * snapshots still resolve the dropped column because their
    * manifests pin the ORIGINAL files, which a reclaim never mutates
    * (vacuum owns their lifetime). Returns (version, attempts).
    *
    * At 100 TB this is the storage half of GDPR column erasure: the
    * logical drop is instant metadata, the physical erasure runs as a
    * normal OCC maintenance pass (bucket-by-bucket in production,
    * conflict → retry), and the two compose with retention: once
    * pre-drop manifests expire, no reference to the bytes remains.
    */
  private[graft] def reclaimDroppedColumns(s: SparkSession, dir: String,
      tag: String): (Int, Int) =
    Snapshots.retryOnConflict(Snapshots.head(dir)) { (h, attempt) =>
      val mapped = resolveColmap(dir, h).map(c => s"c${c._1}").toSet
      val files = Snapshots.manifest(dir, h)
      val raw = s.read.option("mergeSchema", "true")
        .parquet(files.sorted: _*)
      val doomedCols = raw.columns
        .filter(c => PhysIdRe.matches(c) && !mapped(c)).toSeq
      require(doomedCols.nonEmpty, s"nothing to reclaim at v$h")
      // replace only the files that physically carry a doomed column
      val replaced = files.filter { f =>
        val cols = Artifacts.parquetSchema(s, f).fieldNames.toSet
        doomedCols.exists(cols)
      }.toSet
      val keep = raw.columns.filterNot(doomedCols.contains)
        .map(col).toSeq
      val sub = s"$tag${h}a$attempt"
      s.read.option("mergeSchema", "true")
        .parquet(replaced.toSeq.sorted: _*)
        .select(keep: _*)
        .coalesce(2)
        .write.mode("overwrite").parquet(s"$dir/$sub")
      Snapshots.occCommit(dir, h, replaced,
        Store.flatLeafFiles(dir, sub))._1
    }

  /** Lands the rename demo once per customer version:
    *  v1 = the base written under PHYSICAL ids (c1=key, c2=nation,
    *       c3=balance-cents) with colmap {1→k, 2→nkd, 3→bal};
    *  v2 = RENAME bal→balance — one metadata commit, zero data I/O
    *       (spec: manifest_2 equals manifest_1 by path);
    *  v3 = a post-rename bucket credit (+100 to nation 2) written under
    *       the SAME ids — files from before and after the rename
    *       interoperate in every read.
    */
  private[graft] def s40Dir(s: SparkSession, d: String): String =
    Artifacts.dir(Artifacts.key("colids", Tables.path(d, "customer")),
      "graft_colids") { dir =>
      val base = Tables.customer(s, d)
        .select(col("c_custkey").as("c1"),
          col("c_nationkey").as("c2"),
          round(col("c_acctbal") * 100).cast("long").as("c3"))
      val m1 = Store.stageBuckets(
        base.withColumn("nk", col("c2")).repartition(col("nk")), dir, "v1")
      writeColmap(dir, 1,
        Seq((1, "k", "bigint"), (2, "nkd", "bigint"), (3, "bal", "bigint")))
      Store.writeManifest(dir, 1, m1)
      require(commitColmap(dir, renameCol(3, "balance")) == 2,
        "the rename must land as v2")
      // post-rename write: physical ids, logical names irrelevant
      val replaced = Snapshots.manifest(dir, 2)
        .filter(Store.inBucket(_, 2)).toSet
      val added = Store.stageBuckets(
        Artifacts.parquet(s, replaced.toSeq.sorted: _*)
          .withColumn("c3", col("c3") + lit(100L))
          .withColumn("nk", col("c2"))
          .repartition(col("nk")), dir, "w3")
      require(Snapshots.occCommit(dir, 2, replaced, added)._1 == 3)
    }

  /** S40: the registered read — the head through the renamed schema and
    * the PRE-RENAME snapshot through its pinned old schema, with the
    * contract as gate columns: `rename_metadata_only` (v2 shares every
    * v1 file by path), `old_name_resolves` / `head_renamed` (schema
    * introspection per version). The oracle recomputes both aggregates
    * from raw customer.
    */
  private def s40ColumnRename(s: SparkSession, d: String): DataFrame = {
    val dir = s40Dir(s, d)
    val renameMetadataOnly =
      Snapshots.manifest(dir, 2) == Snapshots.manifest(dir, 1)
    val v1 = readResolved(s, dir, 1)
    val head = readResolved(s, dir, Snapshots.head(dir))
    val oldName = v1.columns.contains("bal") &&
      !v1.columns.contains("balance")
    val newName = head.columns.contains("balance") &&
      !head.columns.contains("bal")
    def agg(label: String, df: DataFrame, c: String): DataFrame =
      df.agg(count(lit(1)).as("n_rows"), sum(col(c)).as("cents"))
        .select(lit(label).as("snap"), col("n_rows"), col("cents"))
    agg("head", head, "balance").unionByName(agg("v1", v1, "bal"))
      .withColumn("rename_metadata_only", lit(renameMetadataOnly))
      .withColumn("old_name_resolves", lit(oldName))
      .withColumn("head_renamed", lit(newName))
      .orderBy(col("snap"))
  }

  /** Lands the reclaim lifecycle once per customer version:
    *  v1 = base under physical ids c1(k)/c2(score)/c3(bal), unbucketed
    *       (reclaim is layout-agnostic), colmap_1 maps all three;
    *  v2 = DROP score — metadata only, bytes stay in every file;
    *  v3 = [[reclaimDroppedColumns]] — the files are rewritten without
    *       c2 (the erasure), v1's manifest still pins the originals;
    *  v4 = RE-ADD `score` under the FRESH id 4 — no file carries c4,
    *       so the reborn column is typed nulls by construction.
    */
  private[graft] def s46Dir(s: SparkSession, d: String): String =
    Artifacts.dir(Artifacts.key("colreclaim", Tables.path(d, "customer")),
      "graft_colreclaim") { dir =>
      Tables.customer(s, d)
        .select(col("c_custkey").as("c1"),
          col("c_nationkey").cast("long").as("c2"),
          round(col("c_acctbal") * 100).cast("long").as("c3"))
        .repartition(4, col("c1"))
        .write.mode("overwrite").parquet(s"$dir/v1")
      writeColmap(dir, 1,
        Seq((1, "k", "bigint"), (2, "score", "bigint"),
          (3, "bal", "bigint")))
      Store.writeManifest(dir, 1, Store.flatLeafFiles(dir, "v1"))
      require(commitColmap(dir, dropCol(2)) == 2)
      require(reclaimDroppedColumns(s, dir, "rc")._1 == 3)
      require(commitColmap(dir, addCol(4, "score", "bigint")) == 4)
    }

  /** S46: the registered reclaim read — head aggregates after the full
    * drop → reclaim → re-add lifecycle, with the contract as gate
    * columns: `bytes_reclaimed` (the head files' merged footer schema
    * no longer contains c2 — the bytes are physically gone, not just
    * unmapped), `head_score_nonnull` = 0 (the re-added id resolves
    * typed nulls, NEVER the dropped id's bytes — the name-reuse
    * corruption field ids exist to prevent), and `v1_score_sum` (the
    * pre-drop snapshot still resolves the original values: reclaim
    * rewrote the FUTURE, not history). The oracle recomputes all three
    * from raw customer.
    */
  private def s46ColumnReclaim(s: SparkSession, d: String): DataFrame = {
    val dir = s46Dir(s, d)
    val h = Snapshots.head(dir)
    val headCols = s.read.option("mergeSchema", "true")
      .parquet(Snapshots.manifest(dir, h).sorted: _*).columns.toSet
    val head = readResolved(s, dir, h)
    val v1 = readResolved(s, dir, 1)
    head.agg(count(lit(1)).as("n_rows"), sum(col("bal")).as("bal_cents"),
        count(col("score")).as("head_score_nonnull"))
      .crossJoin(broadcast(
        v1.agg(sum(col("score")).as("v1_score_sum"))))
      .select(col("n_rows"), col("bal_cents"),
        col("head_score_nonnull"), col("v1_score_sum"),
        lit(!headCols.contains("c2")).as("bytes_reclaimed"),
        lit(head.columns.contains("score")).as("readd_resolves"))
  }

  private val s46Sql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
      |    AS bal_cents,
      |  CAST(0 AS BIGINT) AS head_score_nonnull,
      |  CAST(SUM(c_nationkey) AS BIGINT) AS v1_score_sum,
      |  TRUE AS bytes_reclaimed, TRUE AS readd_resolves
      |FROM customer""".stripMargin

  private val s40Sql =
    """WITH b AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
      |      AS cents,
      |    CAST(SUM(CASE WHEN c_nationkey = 2 THEN 100 ELSE 0 END)
      |      AS BIGINT) AS credit
      |  FROM customer)
      |SELECT 'head' AS snap, n AS n_rows, cents + credit AS cents,
      |  TRUE AS rename_metadata_only, TRUE AS old_name_resolves,
      |  TRUE AS head_renamed
      |FROM b
      |UNION ALL
      |SELECT 'v1', n, cents, TRUE, TRUE, TRUE FROM b
      |ORDER BY snap""".stripMargin

  val qs: Seq[(String, Q)] = Seq(
    "s40_column_rename" -> Q(s40ColumnRename, Some(s40Sql)),
    "s46_column_reclaim" -> Q(s46ColumnReclaim, Some(s46Sql)),
  )
}
