package graft

import org.apache.spark.sql.functions._
import graft.profile.QualityAudit

/** Round-6 maintenance operators: data-quality constraint audit (dq1),
  * incremental materialized-view rollup (mv1), unpivot/melt (e15). The
  * oracle gates pin all three against DuckDB on the real (clean) tables;
  * these specs pin what the gates can't show — that dq1 actually COUNTS
  * violations when they exist, that mv1's landed base goes stale-safe on
  * a source rewrite, and that e15's melt is exchange-free on top of the
  * pivot it inverts.
  */
class MaintenanceOpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- dq1: constraint audit ---------------------------------------------

  test("dq1: planted violations are counted per check, exactly") {
    val orders = Seq((1L, 10L), (2L, 10L), (2L, 20L), (3L, 99L))
      .toDF("o_orderkey", "o_custkey")
    val customer = Seq(10L, 20L).toDF("c_custkey")
    val lineitem = Seq(
      (1L, Some(10.0), 0.05, 100.0),  // clean
      (7L, Some(5.0), 0.0, 50.0),     // orphan orderkey
      (2L, None, 0.05, 10.0),         // qty null
      (2L, Some(0.0), 0.05, 10.0),    // qty < 1
      (3L, Some(51.0), 0.05, 10.0),   // qty > 50
      (1L, Some(5.0), -0.1, 10.0),    // discount < 0
      (1L, Some(5.0), 1.5, 10.0),     // discount > 1
      (1L, Some(5.0), 0.05, 0.0),     // price = 0
      (1L, Some(5.0), 0.05, -5.0))    // price < 0
      .toDF("l_orderkey", "l_quantity", "l_discount", "l_extendedprice")

    val got = QualityAudit.audit(orders, lineitem, customer)
      .as[(String, Long)].collect().toMap
    assert(got === Map(
      "orders_pk_duplicates"     -> 2L, // both rows of the dup key count
      "lineitem_fk_orphans"      -> 1L,
      "orders_fk_orphans"        -> 1L,
      "lineitem_quantity_range"  -> 3L,
      "lineitem_discount_range"  -> 2L,
      "lineitem_price_positive"  -> 2L))
  }

  test("dq1: clean frames audit to all-zero violations (load gate opens)") {
    val orders = Seq((1L, 10L), (2L, 20L)).toDF("o_orderkey", "o_custkey")
    val customer = Seq(10L, 20L).toDF("c_custkey")
    val lineitem = Seq((1L, Some(10.0), 0.05, 100.0))
      .toDF("l_orderkey", "l_quantity", "l_discount", "l_extendedprice")
    val got = QualityAudit.audit(orders, lineitem, customer)
      .as[(String, Long)].collect()
    assert(got.length === 6 && got.forall(_._2 === 0L))
  }

  test("dq6: a planted dead stream is flagged stale at the 24h SLO; " +
      "lag is exact seconds behind the freshest stream") {
    import spark.implicits._
    val base = 1700000000000000L // µs
    val lastSeen = Seq(
      ("a", 10L, base),
      ("b", 5L, base - 25L * 3600L * 1000000L),
      ("c", 7L, base - 3600L * 1000000L))
      .toDF("stream", "n", "last_us")
    val got = QualityAudit.freshness(lastSeen, 24L * 3600L).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got === Map(
      "a" -> ((10L, 0L, true)),
      "b" -> ((5L, 90000L, false)),
      "c" -> ((7L, 3600L, true))))
  }

  // ---- dq5: volume anomaly scan --------------------------------------------

  test("dq5: a planted volume spike is the only flagged day; the robust " +
      "threshold ignores it when computing itself") {
    val daily = (Seq.tabulate(9)(i => (f"2024-01-${i + 1}%02d", 100L + i))
      :+ ("2024-01-10", 1000L)).toDF("day", "n")
    val out = QualityAudit.volumeAnomaly(daily).collect()
      .map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(out("2024-01-10"), "spike must flag")
    assert(out.count(_._2) === 1, "only the spike flags")
    // mean/σ for contrast would have been dragged toward the spike; the
    // median/MAD threshold stays at the quiet days' scale
    val dev = QualityAudit.volumeAnomaly(daily).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(dev("2024-01-10") > 800.0)
  }

  test("dq5: constant volume flags nothing (MAD 0 never self-triggers)") {
    val daily = Seq.tabulate(8)(i => (f"2024-02-${i + 1}%02d", 50L))
      .toDF("day", "n")
    val out = QualityAudit.volumeAnomaly(daily).collect()
    assert(out.length === 8 && out.forall(!_.getBoolean(3)))
  }

  // ---- s16: manifest snapshots / time travel -------------------------------

  test("s16: v2 commit shares every untouched file with v1 and rewrites " +
      "exactly the changed bucket; v1 stays readable after the commit") {
    import graft.sources.Snapshots
    val dir = Snapshots.s16Dir(spark, Sf0001)
    val m1 = Snapshots.manifest(dir, 1).toSet
    val m2 = Snapshots.manifest(dir, 2).toSet
    // copy-on-write file sharing: v2 = v1 minus the nk=3 files plus the
    // rewritten ones — untouched files are the SAME paths, not copies
    val dropped = m1 -- m2
    val added = m2 -- m1
    assert(dropped.nonEmpty && dropped.forall(_.contains("nk=3")),
      s"v2 must drop only nation-3 files, dropped: $dropped")
    assert(added.nonEmpty && added.forall(_.contains("v2delta")),
      "v2's new files must come from the delta commit")
    assert((m1 & m2).nonEmpty, "untouched files must be shared")
    // time travel: v1 read AFTER the v2 commit equals the original table
    val v1 = Snapshots.readVersion(spark, dir, 1)
      .agg(sum(col("bal"))).first().getLong(0)
    val base = Tables.customer(spark, Sf0001)
      .agg(sum(round(col("c_acctbal") * 100).cast("long")))
      .first().getLong(0)
    assert(v1 === base, "v1 snapshot must be unaffected by the v2 commit")
    // and v2 differs by exactly 1000 cents per nation-3 customer
    val v2 = Snapshots.readVersion(spark, dir, 2)
      .agg(sum(col("bal"))).first().getLong(0)
    val n3 = Tables.customer(spark, Sf0001)
      .filter(col("c_nationkey") === 3).count()
    assert(v2 - v1 === 1000L * n3)
  }

  test("s18: vacuum deletes exactly the expired-only files, leaves every " +
      "live file on disk, and the live snapshot reads complete") {
    import graft.sources.Snapshots
    val dir = Snapshots.s18Dir(spark, Sf0001)
    val live = Snapshots.manifest(dir, 2)
    // every live file survives the vacuum
    live.foreach(f => assert(new java.io.File(f).exists(),
      s"vacuum deleted a LIVE file: $f"))
    // the expired nation-3 v1 file is physically gone (it lives under
    // v1/nk=3, which no live manifest references)
    val nk3v1 = new java.io.File(s"$dir/v1/nk=3")
    val leftover = Option(nk3v1.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
    assert(leftover.isEmpty,
      s"expired v1 nation-3 files survive: ${leftover.mkString(",")}")
    // the expired manifest itself is dropped; the live one still reads
    assert(!new java.io.File(s"$dir/manifest_1.txt").exists())
    val v2 = Snapshots.readVersion(spark, dir, 2)
      .agg(sum(col("bal"))).first().getLong(0)
    val expected = Tables.customer(spark, Sf0001)
      .agg(sum(round(col("c_acctbal") * 100).cast("long") +
        when(col("c_nationkey") === 3, 1000L).otherwise(0L)))
      .first().getLong(0)
    assert(v2 === expected, "live snapshot incomplete after vacuum")
  }

  // ---- s19: optimistic-concurrency commits ---------------------------------

  test("s19: a commit against a stale read version rebases through the " +
      "concurrent advance; both updates land exactly once; COW sharing " +
      "survives the rebase") {
    import graft.sources.Snapshots
    val dir = Snapshots.s19Dir(spark, Sf0001)
    assert(Snapshots.head(dir) === 3, "base + two commits")
    val m1 = Snapshots.manifest(dir, 1).toSet
    val m3 = Snapshots.manifest(dir, 3).toSet
    // file-granularity rebase: head drops exactly the two rewritten
    // nation buckets of v1, keeps every other v1 file by PATH (shared,
    // not copied), and adds exactly both writers' files
    val dropped = m1 -- m3
    assert(dropped.nonEmpty &&
      dropped.forall(f => f.contains("nk=1") || f.contains("nk=7")),
      s"head must drop only the two rewritten buckets, dropped: $dropped")
    val added = m3 -- m1
    assert(added.exists(_.contains("wA")) && added.exists(_.contains("wB")),
      "the rebased head must reference BOTH writers' files")
    assert((m1 & m3).nonEmpty, "untouched buckets must be shared with v1")
    // conflict metadata recorded per commit, disjoint (that's why the
    // rebase was legal)
    val r2 = Snapshots.replacedOf(dir, 2)
    val r3 = Snapshots.replacedOf(dir, 3)
    assert(r2.nonEmpty && r3.nonEmpty && (r2 & r3).isEmpty)
    // both credits applied exactly once
    def cust = Tables.customer(spark, Sf0001)
    val base = cust.agg(sum(round(col("c_acctbal") * 100).cast("long")))
      .first().getLong(0)
    val n1 = cust.filter(col("c_nationkey") === 1).count()
    val n7 = cust.filter(col("c_nationkey") === 7).count()
    val headSum = Snapshots.readVersion(spark, dir, 3)
      .agg(sum(col("bal"))).first().getLong(0)
    assert(headSum === base + 500L * n1 + 700L * n7,
      "converged table must carry both credits exactly once")
    // time travel: v1 unaffected by either commit
    val v1 = Snapshots.readVersion(spark, dir, 1)
      .agg(sum(col("bal"))).first().getLong(0)
    assert(v1 === base)
  }

  test("s19: an overlapping concurrent commit is rejected with a conflict, " +
      "and rejection leaves the store untouched") {
    import graft.sources.Snapshots
    val dir = Snapshots.s19Dir(spark, Sf0001)
    val before = Snapshots.head(dir)
    // a third writer prepared against v1, rewriting the SAME nation-1
    // bucket writer A already replaced — rebasing would lose A's credit
    val nk1files = Snapshots.manifest(dir, 1).filter(_.contains("nk=1"))
    val ex = intercept[Snapshots.CommitConflictException] {
      Snapshots.occCommit(dir, 1, nk1files.toSet, Seq("/tmp/phantom.parquet"))
    }
    assert(ex.getMessage.contains("rewrote"))
    assert(Snapshots.head(dir) === before, "a rejected commit must not " +
      "advance the head or leave partial state")
    assert(!new java.io.File(s"$dir/manifest_${before + 1}.txt.claim").exists(),
      "conflict detection happens before the slot claim")
  }

  test("s19: a loser of the version-slot claim race waits for the winner's " +
      "publish, retries from the new head, and lands exactly once") {
    import graft.sources.Snapshots
    // scratch store (never touch the landed s19 layout): manifests are
    // plain file lists, so the protocol is testable without parquet
    val dir = graft.util.Artifacts.scratchDir("graft_occspec").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/manifest_1.txt"),
      "fileA\nfileB".getBytes("UTF-8"))
    // interleave deterministically: the winner CLAIMS slot 2 first, the
    // loser attempts while the claim is outstanding, the winner then
    // publishes — the loser must wait, re-read the head, and rebase to 3
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$dir/manifest_2.txt.claim"))
    val winner = new Thread(() => {
      Thread.sleep(150)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/replaced_2.txt"),
        "fileA".getBytes("UTF-8"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/manifest_2.tmp"),
        "fileA2\nfileB".getBytes("UTF-8"))
      java.nio.file.Files.move(
        java.nio.file.Paths.get(s"$dir/manifest_2.tmp"),
        java.nio.file.Paths.get(s"$dir/manifest_2.txt"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    })
    winner.start()
    val (v, retries) =
      Snapshots.occCommit(dir, 1, Set("fileB"), Seq("fileB2"))
    winner.join()
    assert(v === 2 + 1 && retries === 1,
      s"loser must land at v3 after one claim retry, got (v$v, $retries)")
    assert(Snapshots.manifest(dir, 3).sorted === Seq("fileA2", "fileB2"),
      "rebased manifest must keep the winner's file and swap only ours")
    // and an orphaned claim (no publish) fails loudly instead of hanging
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$dir/manifest_4.txt.claim"))
    val ex = intercept[Snapshots.CommitConflictException] {
      Snapshots.occCommit(dir, 3, Set.empty, Seq("fileC"),
        claimWaitMs = 200L)
    }
    assert(ex.getMessage.contains("orphaned claim"))
  }

  // every other publisher takes the same slot claim: a claim left by a
  // claimant that died before publishing must fail loudly, naming the
  // claim, instead of hanging or silently taking the slot
  private def assertOrphaned(dir: String, claim: String)(publish: => Any) = {
    val ex = intercept[graft.sources.Snapshots.CommitConflictException](publish)
    assert(ex.getMessage.contains("orphaned") &&
      ex.getMessage.contains(new java.io.File(dir, claim).getPath), ex.getMessage)
  }

  test("s32: an orphaned mlist claim fails the tree publish, naming the claim") {
    import graft.sources.{ManifestTree => MT, Store}
    val dir = graft.util.Artifacts.scratchDir("graft_treeorphan").toString
    Store.writeLines(s"$dir/mlist_1.txt", Seq(s"0|$dir/bm_nk0_v1.txt|1|5|5"))
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$dir/mlist_2.txt.claim"))
    assertOrphaned(dir, "mlist_2.txt.claim") {
      MT.treeOccCommit(dir, 1, Seq(MT.BucketRef(0, s"$dir/bm_nk0_v2.txt",
        1, 7, 7)), claimWaitMs = 200L)
    }
    assert(MT.treeHead(dir) === 1, "nothing may publish past the orphan")
  }

  test("s24: an orphaned txn claim fails the transaction publish, naming the claim") {
    import graft.sources.TxnPair
    val dir = graft.util.Artifacts.scratchDir("graft_txnorphan").toString
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$dir/txn_1.txt.claim"))
    assertOrphaned(dir, "txn_1.txt.claim") {
      TxnPair.commitTxn(dir, Map("A" -> 1), claimWaitMs = 200L)
    }
    assert(TxnPair.txnHead(dir) === 0)
  }

  test("s27: an orphaned manifest claim fails the audited publish, naming the claim") {
    import graft.sources.{Snapshots, Store, WriteAuditPublish => WAP}
    import spark.implicits._
    val dir = graft.util.Artifacts.scratchDir("graft_waporphan").toString
    (0 until 8).map(k => (k.toLong, k.toLong * 10L)).toDF("k", "bal")
      .write.mode("overwrite").parquet(s"$dir/v1")
    val m1 = Store.flatLeafFiles(dir, "v1")
    Store.writeManifest(dir, 1, m1)
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$dir/manifest_2.txt.claim"))
    val log = new StringBuilder
    // a green candidate (same rows) reaches the claim
    assertOrphaned(dir, "manifest_2.txt.claim") {
      WAP.auditedPublish(spark, dir, m1, log, claimWaitMs = 200L)
    }
    assert(log.toString.contains("PUBLISH"), log.toString)
    assert(Snapshots.head(dir) === 1)
    assert(!new java.io.File(dir).list().exists(_.contains(".txt.audit.")),
      "the failed attempt must not leave its stage file behind")
  }

  test("s19: eight RACING disjoint writers all land exactly once through " +
      "rebase; overlapping racers serialize to exactly one winner") {
    import graft.sources.Snapshots
    import scala.jdk.CollectionConverters._
    // real thread interleavings (not the staged winner/loser above);
    // three trials vary the schedule
    for (trial <- 1 to 3) {
      val dir = graft.util.Artifacts.scratchDir(s"graft_occrace$trial").toString
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/manifest_1.txt"),
        (0 until 16).map(i => s"f$i").mkString("\n").getBytes("UTF-8"))
      val results = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until 8).map { w =>
        new Thread(() => {
          try results.add(
            Snapshots.occCommit(dir, 1, Set(s"f$w"), Seq(s"f${w}_new"))._1)
          catch { case t: Throwable => failures.add(t) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(failures.isEmpty, s"disjoint writers must never conflict: " +
        failures.asScala.map(_.getMessage).mkString("; "))
      assert(results.asScala.toSet === (2 to 9).toSet,
        "every commit must land its own distinct version")
      assert(Snapshots.head(dir) === 9)
      assert(Snapshots.manifest(dir, 9).toSet ===
        ((8 until 16).map(i => s"f$i").toSet ++
          (0 until 8).map(w => s"f${w}_new")),
        "the converged head must carry every writer's update exactly once")
      // overlap under race: both replace f9 from the same read version —
      // whichever interleaving happens, exactly one lands
      val h = Snapshots.head(dir)
      val won = new java.util.concurrent.atomic.AtomicInteger
      val lost = new java.util.concurrent.atomic.AtomicInteger
      val racers = (0 until 2).map { k =>
        new Thread(() => {
          try { Snapshots.occCommit(dir, h, Set("f9"), Seq(s"f9_v$k"))
            won.incrementAndGet() }
          catch { case _: Snapshots.CommitConflictException =>
            lost.incrementAndGet() }
        })
      }
      racers.foreach(_.start()); racers.foreach(_.join())
      assert(won.get === 1 && lost.get === 1,
        s"trial $trial: ${won.get} winners / ${lost.get} losers")
      assert(Snapshots.head(dir) === h + 1)
    }
  }

  test("s20: add-column evolution rewrites nothing, old snapshots keep the " +
      "old schema, and the merged read null-backfills exactly the " +
      "pre-evolution rows") {
    import graft.sources.Snapshots
    val dir = Snapshots.s20Dir(spark, Sf0001)
    // no rewrite: every v1 file is referenced by v2's manifest BY PATH
    val m1 = Snapshots.manifest(dir, 1).toSet
    val m2 = Snapshots.manifest(dir, 2).toSet
    assert(m1.subsetOf(m2), "the evolution commit must share all v1 files")
    assert((m2 -- m1).nonEmpty, "and add the new-schema appends")
    // old snapshot read AFTER the evolution: column ABSENT, not null
    val v1 = Snapshots.readVersionMerged(spark, dir, 1)
    assert(!v1.columns.contains("seg"),
      "a pinned pre-evolution snapshot must not grow the column")
    // merged read: seg is NULL exactly on rows from pre-evolution files
    val v2 = Snapshots.readVersionMerged(spark, dir, 2)
    assert(v2.columns.contains("seg"))
    val nOld = v1.count()
    assert(v2.filter(col("seg").isNull).count() === nOld,
      "null-backfill must cover exactly the pre-evolution rows")
    assert(v2.filter(col("seg").isNotNull).count() === v2.count() - nOld)
  }

  // ---- s29: snapshot rollback -------------------------------------------------

  test("s29: rollback is a forward commit — the head manifest equals the " +
      "target's content, the bad version stays readable for audit, and " +
      "the rollback's conflict metadata covers exactly the undone files") {
    import graft.sources.Snapshots
    val dir = Snapshots.s29Dir(spark, Sf0001)
    assert(Snapshots.head(dir) === 3, "base + bad commit + rollback")
    // content-equal to the target, published as a NEW version
    assert(Snapshots.manifest(dir, 3) === Snapshots.manifest(dir, 1))
    // nothing deleted: every bad-version file survives (audit + pinned
    // readers), retirement is vacuum's job
    val m2 = Snapshots.manifest(dir, 2)
    m2.foreach(f => assert(new java.io.File(f).exists(),
      s"rollback deleted a v2 file: $f"))
    // conflict metadata: the rollback replaces exactly what it undoes,
    // so a concurrent writer rebasing over those files conflicts
    val undone = m2.toSet -- Snapshots.manifest(dir, 1).toSet
    assert(undone.nonEmpty && Snapshots.replacedOf(dir, 3) === undone)
    // values: head clean, bad version auditable with the fat-finger sum
    def sumOf(v: Int) = Snapshots.readVersion(spark, dir, v)
      .agg(sum(col("bal"))).first().getLong(0)
    val n6 = Tables.customer(spark, Sf0001)
      .filter(col("c_nationkey") === 6).count()
    assert(sumOf(3) === sumOf(1))
    assert(sumOf(2) === sumOf(1) + 9999L * n6)
  }

  // ---- s22: transactional copy-on-write MERGE -------------------------------

  /** Scratch merge store: n rows over `nations` buckets, bal = k*10,
    * data files carrying the nkd data column (the s22 layout). Returns
    * the store dir with manifest_1 published.
    */
  private def buildMergeStore(tag: String, n: Int = 40,
      nations: Int = 4): String = {
    val dir = graft.util.Artifacts.scratchDir(tag).toString
    import spark.implicits._
    (0 until n).map(k => (k.toLong, k % nations, k.toLong * 10L))
      .toDF("k", "nkd", "bal")
      .withColumn("nk", col("nkd"))
      .repartition(col("nk"))
      .write.mode("overwrite").partitionBy("nk").parquet(s"$dir/v1")
    val files = {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/v1"))
      try walk.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toSeq.sorted
      finally walk.close()
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/manifest_1.txt"),
      files.mkString("\n").getBytes("UTF-8"))
    dir
  }

  test("s22: the landed MERGE rewrites exactly the matched buckets, shares " +
      "every untouched file by path, and v1 time-travels unchanged") {
    import graft.sources.Snapshots
    val dir = Snapshots.s22Dir(spark, Sf0001)
    assert(Snapshots.head(dir) === 2, "base + one merge commit")
    val m1 = Snapshots.manifest(dir, 1).toSet
    val m2 = Snapshots.manifest(dir, 2).toSet
    // the change batch touches only nations nk%5==2 — COW at file
    // granularity means exactly those buckets' files drop out of head
    val nkRe = raw"nk=(\d+)".r
    def nkOf(p: String): Int = nkRe.findFirstMatchIn(p).get.group(1).toInt
    val dropped = m1 -- m2
    assert(dropped.nonEmpty && dropped.forall(f => nkOf(f) % 5 == 2),
      s"head must drop only matched buckets, dropped: $dropped")
    val shared = m1 & m2
    assert(shared.nonEmpty && shared.forall(f => nkOf(f) % 5 != 2),
      "every unmatched bucket must be shared by path")
    // untouched files are the SAME bytes (paths never rewritten: their
    // mtimes predate the merge subdir's files)
    assert((m2 -- m1).forall(new java.io.File(_).exists()))
    // v1 time-travels: the pre-merge table is intact after the commit
    val v1Sum = Snapshots.readVersion(spark, dir, 1)
      .agg(sum(col("bal"))).first().getLong(0)
    val baseSum = Tables.customer(spark, Sf0001)
      .agg(sum(round(col("c_acctbal") * 100).cast("long")))
      .first().getLong(0)
    assert(v1Sum === baseSum)
  }

  test("s22: a merge against a stale snapshot raises a conflict; the " +
      "retrying merge re-reads the new head and both changes land " +
      "exactly once with upsert/delete/insert semantics") {
    import graft.sources.Snapshots
    import spark.implicits._
    val dir = buildMergeStore("graft_mergespec")
    // writer A: replace bal with 111 on three nation-1 keys (k%4==1)
    val aKeys = Seq(1L, 5L, 9L)
    val chgA = aKeys.map(k => (1, k, "U", 111L)).toDF("nk", "k", "op", "val")
    val (vA, attA) = Snapshots.cowMerge(spark, dir, chgA, "wa")
    assert(vA === 2 && attA === 1)
    // writer B prepared against v1 (STALE — A rewrote nation 1 under it):
    // updates nation-1 keys disjoint from A's, deletes one nation-2 key,
    // inserts a new key into nation 2
    val chgB = (Seq(13L, 17L).map(k => (1, k, "U", 222L)) ++
      Seq((2, 6L, "D", 0L), (2, 100L, "I", 999L)))
      .toDF("nk", "k", "op", "val")
    intercept[Snapshots.CommitConflictException] {
      Snapshots.mergeAttempt(spark, dir, chgB.localCheckpoint(true),
        Seq(1, 2), readV = 1, sub = "wb_stale")
    }
    assert(Snapshots.head(dir) === 2, "rejected merge must not advance head")
    // the MERGE-level retry (fresh head fetch) lands it
    val (vB, attB) = Snapshots.cowMerge(spark, dir, chgB, "wb")
    assert(vB === 3 && attB === 1)
    // converged table: A's and B's actions applied exactly once each
    val rows = Snapshots.readVersion(spark, dir, 3)
      .select(col("k"), col("nkd"), col("bal"))
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2))))
      .toMap
    assert(rows.size === 40, "40 base − 1 delete + 1 insert")
    aKeys.foreach(k => assert(rows(k) === ((1, 111L)), s"A's update on $k"))
    Seq(13L, 17L).foreach(k => assert(rows(k) === ((1, 222L))))
    assert(!rows.contains(6L), "deleted key must be gone")
    assert(rows(100L) === ((2, 999L)), "inserted key must land in its bucket")
    assert(rows(3L) === ((3, 30L)), "untouched nation-3 row intact")
    // nations 0 and 3 never rewritten: files shared across all 3 manifests
    val m1 = Snapshots.manifest(dir, 1).toSet
    val m3 = Snapshots.manifest(dir, 3).toSet
    val untouched = m1.filter(f => f.contains("nk=0") || f.contains("nk=3"))
    assert(untouched.nonEmpty && untouched.subsetOf(m3))
  }

  test("s22: two RACING row-disjoint merges over the same bucket both " +
      "land exactly once (one serializes behind the other via retry)") {
    import graft.sources.Snapshots
    import spark.implicits._
    for (trial <- 1 to 3) {
      val dir = buildMergeStore(s"graft_mergerace$trial")
      // both touch nation 1 (file-level overlap) on disjoint KEY sets, so
      // the converged value set is the same whichever commit wins
      val chgA = Seq(1L, 5L).map(k => (1, k, "U", 111L))
        .toDF("nk", "k", "op", "val")
      val chgB = Seq(9L, 13L).map(k => (1, k, "U", 222L))
        .toDF("nk", "k", "op", "val")
      val failures =
        new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val attempts = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val threads = Seq(("ra", chgA), ("rb", chgB)).map { case (tag, chg) =>
        new Thread(() => {
          try attempts.add(Snapshots.cowMerge(spark, dir, chg, tag)._2)
          catch { case t: Throwable => failures.add(t) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      import scala.jdk.CollectionConverters._
      assert(failures.isEmpty,
        s"trial $trial: ${failures.asScala.map(_.toString).mkString("; ")}")
      assert(Snapshots.head(dir) === 3, "both merges must commit")
      val rows = Snapshots.readVersion(spark, dir, 3)
        .select(col("k"), col("bal"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      Seq(1L, 5L).foreach(k => assert(rows(k) === 111L))
      Seq(9L, 13L).foreach(k => assert(rows(k) === 222L))
      assert(rows(0L) === 0L && rows(2L) === 20L, "unmatched rows intact")
      assert(rows.size === 40)
    }
  }

  test("compaction vs merge: a stale compaction over a merged bucket " +
      "conflicts and its retry preserves the merge; a compaction racing " +
      "a DISJOINT merge rebases — both land") {
    import graft.sources.Snapshots
    import spark.implicits._
    val dir = buildMergeStore("graft_compactrace")
    val sep = java.io.File.separator
    // stage a compaction of nk=1 against v1, then let a merge win the race
    val staleBucket = Snapshots.manifest(dir, 1)
      .filter(_.contains(s"${sep}nk=1$sep")).toSet
    spark.read.parquet(staleBucket.toSeq.sorted: _*)
      .select(col("k"), col("nkd"), col("bal"), col("nkd").as("nk"))
      .coalesce(1)
      .write.mode("overwrite").partitionBy("nk").parquet(s"$dir/staleC")
    val chg = Seq(1L, 5L).map(k => (1, k, "U", 111L))
      .toDF("nk", "k", "op", "val")
    assert(Snapshots.cowMerge(spark, dir, chg, "cm")._1 === 2)
    // the stale compaction's publish MUST conflict — a rebase would
    // resurrect the pre-merge bucket contents (lost update)
    intercept[Snapshots.CommitConflictException] {
      // conflict detection runs before `added` is touched — Nil suffices
      Snapshots.occCommit(dir, 1, staleBucket, Nil)
    }
    // the retrying compactor re-reads the post-merge head: merged values
    // survive the rewrite, the bucket collapses to ONE file
    val (v3, _) = Snapshots.compactBucket(spark, dir, 1, "cc")
    assert(v3 === 3)
    val nk1Files = Snapshots.manifest(dir, 3)
      .filter(_.contains(s"${sep}nk=1$sep"))
    assert(nk1Files.size === 1, s"bucket not compacted: $nk1Files")
    val rows = Snapshots.readVersion(spark, dir, 3)
      .select(col("k"), col("bal"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    Seq(1L, 5L).foreach(k => assert(rows(k) === 111L,
      "compaction lost the merge's update"))
    assert(rows.size === 40)
    // disjoint race: merge on nk=2 vs compaction of nk=3, concurrently —
    // whichever publishes second rebases, both land exactly once
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val t1 = new Thread(() => {
      try Snapshots.cowMerge(spark, dir,
        Seq((2, 6L, "U", 222L)).toDF("nk", "k", "op", "val"), "dm")
      catch { case t: Throwable => failures.add(t) }
    })
    val t2 = new Thread(() => {
      try Snapshots.compactBucket(spark, dir, 3, "dc")
      catch { case t: Throwable => failures.add(t) }
    })
    t1.start(); t2.start(); t1.join(); t2.join()
    import scala.jdk.CollectionConverters._
    assert(failures.isEmpty,
      failures.asScala.map(_.toString).mkString("; "))
    assert(Snapshots.head(dir) === 5, "both writers must commit")
    val fin = Snapshots.readVersion(spark, dir, 5)
      .select(col("k"), col("bal"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fin(6L) === 222L && fin(1L) === 111L && fin.size === 40)
    assert(Snapshots.manifest(dir, 5)
      .count(_.contains(s"${sep}nk=3$sep")) === 1)
  }

  test("compaction races the LIVE e28 stream: background bucket " +
      "compactions interleave with transactional micro-batch merges and " +
      "the store converges to the exact batch answer") {
    import graft.sources.Snapshots
    import graft.streaming.StreamMerge
    val out = graft.util.Artifacts.scratchDir("graft_streamrace").toString
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val compactions = new java.util.concurrent.atomic.AtomicInteger(0)
    val streamer = new Thread(() => {
      try StreamMerge.buildMergeStore(spark, Sf0001, out)
      catch { case t: Throwable => failures.add(t) }
    })
    val compactor = new Thread(() => {
      try {
        // wait for the bootstrap commit, then compact buckets while the
        // stream merges — every publish goes through the same OCC gate
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (!new java.io.File(out, "manifest_1.txt").exists() &&
            System.nanoTime() < deadline) Thread.sleep(10)
        for (nk <- Seq(3, 7, 3)) {
          Snapshots.compactBucket(spark, out, nk, s"bg$nk")
          compactions.incrementAndGet()
          Thread.sleep(50)
        }
      } catch { case t: Throwable => failures.add(t) }
    })
    streamer.start(); compactor.start()
    streamer.join(); compactor.join()
    import scala.jdk.CollectionConverters._
    assert(failures.isEmpty,
      failures.asScala.map(_.toString).mkString("; "))
    assert(compactions.get() === 3)
    assert(Snapshots.head(out) === 5 + 3,
      "4 merge commits + 3 compactions must all publish")
    // convergence: the interleaving changed nothing about the answer
    val got = Snapshots.readVersion(spark, out, Snapshots.head(out))
      .agg(count(lit(1)), sum(col("bal"))).first()
    val expected = Tables.customer(spark, Sf0001)
      .select(col("c_custkey").as("k"),
        round(col("c_acctbal") * 100).cast("long").as("bal"))
      .join(Tables.orders(spark, Sf0001)
        .groupBy(col("o_custkey").as("k"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("tot")),
        Seq("k"), "left")
      .agg(count(lit(1)),
        sum(col("bal") + coalesce(col("tot"), lit(0L)))).first()
    assert(got === expected,
      "racing maintenance corrupted the converged table")
  }

  // ---- s23: file stats + data skipping --------------------------------------

  test("s23: the stats-pruned scan reads a strict subset of the files " +
      "under a selective predicate, loses no rows, and the manifest " +
      "stats are sound per file") {
    import graft.sources.FileStats
    val dir = FileStats.s23Dir(spark, Sf0001)
    val (lo, hi) = ("1996-01-01", "1997-01-01")
    val (pruned, nKept, nAll) = FileStats.statsPrunedRead(spark, dir, lo, hi)
    assert(nKept > 0 && nKept < nAll,
      s"window must keep some and skip some files, kept $nKept/$nAll")
    val full = spark.read.parquet(s"$dir/data")
    // the SCAN's actual input files are a strict subset (the verdict ask)
    val prunedFiles = pruned.inputFiles.toSet
    val allFiles = full.inputFiles.toSet
    assert(prunedFiles.subsetOf(allFiles) &&
      prunedFiles.size < allFiles.size,
      s"scan must read a strict subset: ${prunedFiles.size}/${allFiles.size}")
    // skipping is LOSSLESS: pruned + residual filter == full + filter
    def res(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("od") >= lo && col("od") < hi)
        .agg(count(lit(1)), sum(col("cents"))).first()
    assert(res(pruned) === res(full), "a skipped file held matching rows")
    // manifest stats match a per-file recomputation exactly
    val recomputed = full
      .groupBy(input_file_name().as("f"))
      .agg(min(col("od")).as("lo"), max(col("od")).as("hi"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), (r.getString(1), r.getString(2),
        r.getLong(3)))).toMap
    val st = FileStats.stats(dir)
    assert(st.size === recomputed.size)
    st.foreach { case (p, l, h, n) =>
      assert(recomputed(p) === ((l, h, n)), s"stale stats for $p") }
    // every SKIPPED file is provably outside the window by its stats
    val keptPaths = st.filter(t => t._3 >= lo && t._2 < hi).map(_._1).toSet
    st.filterNot(t => keptPaths(t._1)).foreach { case (p, l, h, _) =>
      assert(h < lo || l >= hi, s"skipped a file overlapping the window: $p")
    }
  }

  // ---- s30: stats-pruned read of the transactional head ---------------------

  test("s30: commit-written manifest stats prune the post-MERGE head to " +
      "a strict file subset, losslessly; bal stats prune too; an empty " +
      "window keeps the schema") {
    import graft.sources.Snapshots
    val dir = Snapshots.s22Dir(spark, Sf0001)
    val h = Snapshots.head(dir)
    assert(h === 2, "store must have a merge commit on top of the base")
    // every head entry carries stats — v1 lines survived the rebase
    // with theirs, the merge commit wrote its own
    val lines = Snapshots.manifestLines(dir, h)
    assert(lines.forall(_.split('|').length == 6),
      s"stats-less entry in the head manifest:\n${lines.take(3)}")
    // selective nation range AFTER the merge: strict subset of the
    // head's files actually reaches the scan
    val (pruned, kept, total) =
      Snapshots.readVersionPruned(spark, dir, h, 10L, 14L)
    assert(kept > 0 && kept < total, s"kept $kept/$total")
    val prunedFiles = pruned.inputFiles
      .map(f => new java.net.URI(f).getPath).toSet
    val headFiles = Snapshots.manifest(dir, h).toSet
    assert(prunedFiles.subsetOf(headFiles) &&
      prunedFiles.size < headFiles.size,
      s"scan must read a strict subset: ${prunedFiles.size}/${headFiles.size}")
    // lossless: pruned + residual == full + residual
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("nkd").cast("int").between(10, 14))
        .agg(count(lit(1)), sum(col("bal"))).first()
    assert(agg(pruned) === agg(Snapshots.readVersion(spark, dir, h)),
      "a skipped file held matching rows")
    // the rewritten bucket (nk=12 is in the touched set nk%5==2) is
    // served from the MERGE commit's files, with merge-written stats
    assert(prunedFiles.exists(!Snapshots.manifest(dir, 1).toSet.contains(_)),
      "the pruned read must include merge-rewritten files")
    // value-column stats prune independently: a bal floor above every
    // file's max keeps nothing, and the empty frame keeps the schema
    val balMax = Snapshots.readVersion(spark, dir, h)
      .agg(max(col("bal"))).first().getLong(0)
    val (empty, k0, _) = Snapshots.readVersionPruned(spark, dir, h,
      0L, 99L, balMin = Some(balMax + 1))
    assert(k0 === 0 && empty.count() === 0)
    assert(Seq("k", "nkd", "bal").forall(empty.columns.contains),
      s"empty pruned frame lost the schema: ${empty.columns.toSeq}")
  }

  // ---- s33: tags + tag-aware retention ----------------------------------------

  test("s33: the tag pins its version through vacuum — tag-only files " +
      "survive, v1-only files are deleted, and the tagged read is exact") {
    import graft.sources.Snapshots
    val dir = Snapshots.s33Dir(spark, Sf0001)
    assert(Snapshots.head(dir) === 3)
    assert(Snapshots.tags(dir) === Map("q2close" -> 2))
    assert(!new java.io.File(s"$dir/manifest_1.txt").exists(),
      "untagged v1 must be expired")
    val m2 = Snapshots.manifest(dir, 2)
    val m3 = Snapshots.manifest(dir, 3).toSet
    // every tagged-version file survives — including the nation-9
    // original that ONLY v2 still references (v3 rewrote it): the file
    // an untag-aware vacuum would have deleted
    m2.foreach(p => assert(new java.io.File(p).exists(),
      s"vacuum deleted a tagged version's file: $p"))
    val tagOnly = m2.filterNot(m3)
    assert(tagOnly.nonEmpty, "need a file pinned by the tag alone")
    // v1's nation-4 original is referenced by NO retained manifest —
    // physically gone
    val dropped = {
      val src = scala.io.Source.fromFile(s"$dir/_dropped_count")
      try src.mkString.trim.toInt finally src.close()
    }
    assert(dropped >= 1)
    // the tagged snapshot reads exactly v2's state after the vacuum
    val sep = java.io.File.separator
    val tagSum = Snapshots.readTag(spark, dir, "q2close")
      .agg(sum(col("bal"))).first().getLong(0)
    val base = Tables.customer(spark, Sf0001)
      .agg(sum(round(col("c_acctbal") * 100).cast("long")),
        sum(when(col("c_nationkey") === 4, 250L).otherwise(0L)),
        sum(when(col("c_nationkey") === 9, 300L).otherwise(0L))).first()
    assert(tagSum === base.getLong(0) + base.getLong(1))
    // head carries both credits; a second vacuum is a no-op
    val headSum = Snapshots.readVersion(spark, dir, 3)
      .agg(sum(col("bal"))).first().getLong(0)
    assert(headSum === base.getLong(0) + base.getLong(1) + base.getLong(2))
    assert(Snapshots.tagVacuum(dir) === ((Seq.empty, 0)),
      "re-running the vacuum must converge to a no-op")
  }

  // ---- s37: AS-OF reads -------------------------------------------------------

  test("s37: as-of resolution picks the largest watermark at or before " +
      "the horizon — boundary-exact, monotone, and pre-table points " +
      "are an error") {
    import graft.sources.TimeTravel
    val dir = TimeTravel.s37Dir(spark, Sf0001)
    // exact-boundary semantics: asking AT a watermark includes it
    val wm3 = TimeTravel.watermark(dir, 3)
    assert(TimeTravel.asOfVersion(dir, wm3) === 3)
    // one day before v3's watermark resolves to v2 (unless v3's slice
    // ends on Jan 1, impossible for a year-max)
    val dayBefore = java.time.LocalDate.parse(wm3).minusDays(1).toString
    assert(TimeTravel.asOfVersion(dir, dayBefore) <= 3)
    // monotone in the horizon; far future = head
    assert(TimeTravel.asOfVersion(dir, "2999-01-01") ===
      graft.sources.Snapshots.head(dir))
    // the resolved snapshot holds EXACTLY the horizon's rows
    val (df, v) = TimeTravel.readAsOf(spark, dir, "1998-07-01")
    assert(df.filter(col("od") >= "1998-01-01").count() === 0,
      "rows past the horizon leaked into the resolved snapshot")
    val expected = Tables.orders(spark, Sf0001)
      .filter(year(col("o_orderdate")) <= 1997).count()
    assert(df.count() === expected)
    assert(v === 3)
    // before the first watermark: an error, not an empty table
    intercept[IllegalArgumentException] {
      TimeTravel.asOfVersion(dir, "1901-01-01")
    }
  }

  // ---- s36: metadata tables --------------------------------------------------

  test("s36: the table-history read is pure metadata — zero data files " +
      "in its plan, row counts from commit-written stats") {
    val df = SparkEntry.queries("s36_table_history")(spark, Sf0001)
    assert(df.inputFiles.isEmpty,
      s"history query opened data files: ${df.inputFiles.take(3).toSeq}")
    val rows = df.collect()
    assert(rows.length === 2)
    // stats-derived row counts agree with actually reading the versions
    import graft.sources.Snapshots
    val dir = Snapshots.s22Dir(spark, Sf0001)
    rows.foreach { r =>
      val v = r.getInt(0)
      assert(r.getLong(2) ===
        Snapshots.readVersion(spark, dir, v).count(),
        s"stats row count for v$v disagrees with the data")
    }
  }

  // ---- s35: branches + audited fast-forward -------------------------------------

  test("s35: main readers are pinned while a branch stacks commits; a " +
      "green audit fast-forwards main atomically; a red branch stays " +
      "parked and invisible") {
    import graft.sources.{Branches, Snapshots}
    import spark.implicits._
    val dir = graft.util.Artifacts.scratchDir("graft_branchspec").toString
    val base = (0 until 40).map(k => (k.toLong, k % 4, k.toLong * 10L))
      .toDF("k", "nkd", "bal").withColumn("nk", col("nkd"))
    base.repartition(col("nk"))
      .write.mode("overwrite").partitionBy("nk").parquet(s"$dir/v1")
    val m1 = {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$dir/v1"))
      try walk.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toSeq.sorted
      finally walk.close()
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/manifest_1.txt"),
      m1.mkString("\n").getBytes("UTF-8"))
    Branches.moveRef(dir, "main", 1)
    Branches.moveRef(dir, "wip", 1)
    val baseDf = base.select(col("k"), col("nk"), col("bal"))
    def mainSum(): Long = Branches.readRef(spark, dir, "main")
      .agg(sum(col("bal"))).first().getLong(0)
    val v1Sum = mainSum()
    // two stacked branch commits: nation 1 (+7), then nation 2 (+9)
    val (r2, a2) = Snapshots.prepareCredit(dir, 1, baseDf, 1, 7L, "w2")
    assert(Snapshots.occCommit(dir, 1, r2, a2)._1 === 2)
    Branches.moveRef(dir, "wip", 2)
    assert(mainSum() === v1Sum,
      "a staged branch commit leaked into main")
    val (r3, a3) = Snapshots.prepareCredit(dir, 2, baseDf, 2, 9L, "w3")
    assert(Snapshots.occCommit(dir, 2, r3, a3)._1 === 3)
    Branches.moveRef(dir, "wip", 3)
    assert(Branches.refVersion(dir, "main") === 1 && mainSum() === v1Sum,
      "main must stay pinned until the audit passes")
    // green audit: one atomic move makes BOTH commits visible at once
    val log = new StringBuilder
    assert(Branches.auditedFastForward(spark, dir, "wip", log))
    assert(Branches.refVersion(dir, "main") === 3)
    assert(mainSum() === v1Sum + 10L * 7L + 10L * 9L)
    // red branch: out-of-domain rewrite of nation 0 — audit rejects,
    // main does not move
    val badBase = baseDf.withColumn("bal",
      when(col("nk") === 0, col("bal") - 100000000L)
        .otherwise(col("bal")))
    val (r4, a4) = Snapshots.prepareCredit(dir, 3, badBase, 0, 0L, "w4")
    assert(Snapshots.occCommit(dir, 3, r4, a4)._1 === 4)
    Branches.moveRef(dir, "bad", 4)
    assert(!Branches.auditedFastForward(spark, dir, "bad", log))
    assert(Branches.refVersion(dir, "main") === 3)
    assert(mainSum() === v1Sum + 70L + 90L,
      "rejected branch state leaked into main")
    // the parked branch stays readable for inspection
    assert(Branches.readRef(spark, dir, "bad")
      .filter(col("bal") < -1000000L).count() === 10)
  }

  // ---- s34: orphan-file cleanup ------------------------------------------------

  test("s34: cleanup deletes exactly the conflicted attempt's aged " +
      "orphans, never referenced files, and the age threshold protects " +
      "in-flight staging") {
    import graft.sources.Snapshots
    val dir = Snapshots.s34Dir(spark, Sf0001)
    // the conflicted attempt's staged files are physically gone
    val staleDir = new java.io.File(s"$dir/ob1stale")
    val staleLeft =
      if (!staleDir.exists()) Nil
      else {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(staleDir.toPath)
        try walk.iterator().asScala
          .filter(_.toString.endsWith(".parquet")).toList
        finally walk.close()
      }
    assert(staleLeft.isEmpty, s"orphans survived: $staleLeft")
    // every version still reads: cleanup never touches referenced files
    (1 to Snapshots.head(dir)).foreach { v =>
      Snapshots.manifest(dir, v).foreach(p =>
        assert(new java.io.File(p).exists(), s"v$v lost $p"))
    }
    // a FRESH unreferenced file (in-flight staging) survives an aged
    // cleanup pass and is reported as kept-young
    val fresh = java.nio.file.Paths.get(s"$dir/inflight.parquet")
    java.nio.file.Files.write(fresh, Array[Byte](1, 2, 3))
    try {
      val (deleted, young) = Snapshots.deleteOrphanFiles(dir, 60000L)
      assert(deleted === 0 && young >= 1,
        s"age threshold violated: deleted=$deleted young=$young")
      assert(java.nio.file.Files.exists(fresh))
    } finally java.nio.file.Files.deleteIfExists(fresh)
  }

  // ---- s32: two-level manifest tree ------------------------------------------

  test("s32: a selective read parses a strict subset of per-bucket " +
      "manifests, the merge fetched only touched buckets' manifests, and " +
      "untouched bucket manifests are reused verbatim across versions") {
    import graft.sources.ManifestTree
    val dir = ManifestTree.s32Dir(spark, Sf0001)
    val refs1 = ManifestTree.mlist(dir, 1)
    val refs2 = ManifestTree.mlist(dir, 2)
    assert(refs1.size === refs2.size, "the bucket set is stable")
    // selective read: strictly fewer bucket manifests than buckets
    val (pruned, kept, total) =
      ManifestTree.treePrunedRead(spark, dir, 2, 10, 14)
    assert(kept === refs2.count(r => r.nk >= 10 && r.nk <= 14))
    assert(kept > 0 && kept < total, s"kept $kept/$total bucket manifests")
    // lossless vs the full tree read
    val (full, _, _) =
      ManifestTree.treePrunedRead(spark, dir, 2, Int.MinValue, Int.MaxValue)
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("nkd").cast("int").between(10, 14))
        .agg(count(lit(1)), sum(col("bal"))).first()
    assert(agg(pruned) === agg(full))
    // the merge opened only the touched buckets' manifests
    val touched = refs1.map(_.nk).filter(_ % 5 == 2).toSet
    val fetched = {
      val src = scala.io.Source.fromFile(s"$dir/_merge_bm_fetched")
      try src.mkString.trim.toInt finally src.close()
    }
    assert(fetched === touched.size && fetched < total,
      s"merge fetched $fetched bucket manifests, touched ${touched.size}")
    // untouched buckets: the v2 list points at the v1 bucket manifest
    // FILE (commit metadata is O(touched), not O(buckets)); touched
    // buckets got fresh manifests and fresh data files
    val bm1 = refs1.map(r => r.nk -> r.bm).toMap
    refs2.foreach { r =>
      if (touched(r.nk)) {
        assert(r.bm !== bm1(r.nk), s"touched bucket ${r.nk} kept its bm")
        ManifestTree.bucketFiles(r.bm).foreach(p =>
          assert(p.contains("/m2/"), s"touched bucket file not rewritten: $p"))
      } else assert(r.bm === bm1(r.nk),
        s"untouched bucket ${r.nk} must reuse its v1 manifest verbatim")
    }
    // row counts in the list are sound per bucket
    refs2.foreach { r =>
      val n = spark.read.parquet(ManifestTree.bucketFiles(r.bm): _*).count()
      assert(n === r.rows, s"stale row count for bucket ${r.nk}")
    }
    // bucket-level VALUE stats prune bucket-manifest fetches: a floor
    // just above the smallest bucket's bal_hi drops that bucket from
    // the fetch list; a floor above every bucket's keeps nothing but
    // the schema
    val floors = refs2.map(_.balHi)
    val (_, kMid, _) = ManifestTree.treePrunedRead(spark, dir, 2,
      Int.MinValue, Int.MaxValue, balMin = Some(floors.min + 1))
    assert(kMid < total && kMid === refs2.count(_.balHi > floors.min),
      s"value-stat pruning kept $kMid/$total")
    val (emptyDf, k0, _) = ManifestTree.treePrunedRead(spark, dir, 2,
      Int.MinValue, Int.MaxValue, balMin = Some(floors.max + 1))
    assert(k0 === 0 && emptyDf.count() === 0 &&
      emptyDf.columns.contains("bal"))
    // value-stat soundness per bucket
    refs2.foreach { r =>
      val mm = spark.read.parquet(ManifestTree.bucketFiles(r.bm): _*)
        .agg(min(col("bal")), max(col("bal"))).first()
      assert(mm.getLong(0) === r.balLo && mm.getLong(1) === r.balHi,
        s"stale value stats for bucket ${r.nk}")
    }
  }

  // ---- s24: multi-table atomic commit ---------------------------------------

  test("s24: a crash between the two member-table manifest writes leaves " +
      "readers on the old consistent pair; recovery publishes once and " +
      "the pair flips atomically") {
    import graft.sources.TxnPair
    import spark.implicits._
    val dir = graft.util.Artifacts.scratchDir("graft_txnpairspec").toString
    def land(sub: String, df: org.apache.spark.sql.DataFrame): Seq[String] = {
      df.write.mode("overwrite").parquet(s"$dir/$sub")
      graft.sources.Store.flatLeafFiles(dir, sub)
    }
    // txn 1: a consistent fact/MV pair
    val f1 = Seq(("a", 1L), ("a", 2L), ("b", 5L)).toDF("rf", "qty")
    val m1 = Seq(("a", 2L, 3L), ("b", 1L, 5L)).toDF("rf", "n_rows", "sum_qty")
    graft.sources.Store.writeManifest(s"$dir/A", 1, land("A/v1", f1))
    graft.sources.Store.writeManifest(s"$dir/B", 1, land("B/v1", m1))
    assert(TxnPair.commitTxn(dir, Map("A" -> 1, "B" -> 1)) === 1)
    // prepare txn 2 — the fact manifest lands, then the writer CRASHES
    // before the MV manifest (and the txn publish) are written
    val f2 = Seq(("a", 1L), ("a", 2L), ("b", 5L), ("b", 7L))
      .toDF("rf", "qty")
    graft.sources.Store.writeManifest(s"$dir/A", 2, land("A/v2", f2))
    // readers are untorn: the txn head still pins the OLD pair — the new
    // fact manifest is invisible because no transaction names it
    assert(TxnPair.txnHead(dir) === 1)
    assert(TxnPair.txnRead(dir, 1) === Map("A" -> 1, "B" -> 1))
    assert(TxnPair.readAtHead(spark, dir, "A").count() === 3)
    assert(TxnPair.readAtHead(spark, dir, "B")
      .agg(sum(col("sum_qty"))).first().getLong(0) === 8L)
    // recovery: re-prepare the MV member, publish ONCE — the pair flips
    // in one atomic rename
    val m2 = Seq(("a", 2L, 3L), ("b", 2L, 12L))
      .toDF("rf", "n_rows", "sum_qty")
    graft.sources.Store.writeManifest(s"$dir/B", 2, land("B/v2", m2))
    assert(TxnPair.commitTxn(dir, Map("A" -> 2, "B" -> 2)) === 2)
    assert(TxnPair.readAtHead(spark, dir, "A").count() === 4)
    val mv = TxnPair.readAtHead(spark, dir, "B")
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
      .toMap
    assert(mv === Map("a" -> ((2L, 3L)), "b" -> ((2L, 12L))))
    // racing txn publishers land distinct slots (no torn interleaving)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val threads = (0 until 4).map { _ =>
      new Thread(() =>
        results.add(TxnPair.commitTxn(dir, Map("A" -> 2, "B" -> 2))))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    assert(results.asScala.toSet === (3 to 6).toSet)
  }

  test("s24: a txn loser whose pins are STALE against the slot winner " +
      "throws instead of burying the newer pair under a higher slot; a " +
      "superseding commit still lands") {
    import graft.sources.{Snapshots, TxnPair}
    import spark.implicits._
    val dir = graft.util.Artifacts.scratchDir("graft_txnstale").toString
    def land(sub: String, df: org.apache.spark.sql.DataFrame): Seq[String] = {
      df.write.mode("overwrite").parquet(s"$dir/$sub")
      graft.sources.Store.flatLeafFiles(dir, sub)
    }
    val t1 = Seq(("a", 1L)).toDF("rf", "qty")
    graft.sources.Store.writeManifest(s"$dir/A", 1, land("A/v1", t1))
    graft.sources.Store.writeManifest(s"$dir/A", 2, land("A/v2", t1))
    assert(TxnPair.commitTxn(dir, Map("A" -> 1)) === 1)
    // simulate losing the slot-2 claim race to a writer that pinned the
    // NEWER A->2: claim exists, winner's txn published
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$dir/txn_2.txt.claim"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/txn_2.txt"), "A=2".getBytes("UTF-8"))
    // the round-15 lost-update scenario: committing the OLDER A->1 under
    // slot 3 would make the winner's A->2 permanently invisible
    intercept[Snapshots.CommitConflictException] {
      TxnPair.commitTxn(dir, Map("A" -> 1))
    }
    assert(TxnPair.txnHead(dir) === 2, "stale commit must not publish")
    // a commit whose pins SUPERSEDE the winner's proceeds to slot 3
    graft.sources.Store.writeManifest(s"$dir/A", 3, land("A/v3", t1))
    assert(TxnPair.commitTxn(dir, Map("A" -> 3)) === 3)
    assert(TxnPair.txnRead(dir, TxnPair.txnHead(dir)) === Map("A" -> 3))
  }

  test("s27: a publisher that loses the version-slot claim re-audits " +
      "against the NEW head and publishes the next slot") {
    import graft.sources.{Snapshots, WriteAuditPublish => WAP}
    import spark.implicits._
    val dir = graft.util.Artifacts.scratchDir("graft_wapclaim").toString
    val base = (0 until 20).map(k => (k.toLong, k % 4, k.toLong * 10L))
      .toDF("k", "nkd", "bal").withColumn("nk", col("nkd"))
    base.repartition(col("nk"))
      .write.mode("overwrite").partitionBy("nk").parquet(s"$dir/v1")
    val m1 = {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$dir/v1"))
      try walk.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toSeq.sorted
      finally walk.close()
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/manifest_1.txt"),
      m1.mkString("\n").getBytes("UTF-8"))
    // a concurrent publisher holds the slot-2 claim and publishes while
    // our candidate is being audited: identical content commit (so row
    // conservation still audits green on the re-audit pass)
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$dir/manifest_2.txt.claim"))
    val publisher = new Thread(() => {
      Thread.sleep(300)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/manifest_2.txt"),
        m1.mkString("\n").getBytes("UTF-8"))
    })
    publisher.start()
    val log = new StringBuilder
    // a clean row-conserving candidate: same rows, same keys
    val ok = WAP.auditedPublish(spark, dir, m1, log)
    publisher.join()
    assert(ok, "green candidate must eventually publish")
    assert(Snapshots.head(dir) === 3,
      "lost claim must re-publish under the NEXT slot, not replace v2")
    // the audit ran twice: once against head 1, once against head 2
    assert(log.toString.contains("candidate 2") &&
      log.toString.contains("candidate 3"), log.toString)
  }

  test("s24: the landed pair store appends the fact member (shared files) " +
      "and rewrites the MV member; the head MV equals a recompute from " +
      "the head fact") {
    import graft.sources.{Snapshots, TxnPair}
    val dir = TxnPair.s24Dir(spark, Sf0001)
    assert(TxnPair.txnHead(dir) === 2)
    // append-only member: txn-2's fact manifest shares every txn-1 file
    val a1 = Snapshots.manifest(s"$dir/A", 1).toSet
    val a2 = Snapshots.manifest(s"$dir/A", 2).toSet
    assert(a1.subsetOf(a2) && (a2 -- a1).nonEmpty)
    // copy-on-write member: the MV rewrite shares nothing
    val b1 = Snapshots.manifest(s"$dir/B", 1).toSet
    val b2 = Snapshots.manifest(s"$dir/B", 2).toSet
    assert((b1 & b2).isEmpty && b2.nonEmpty)
    // pair consistency at the head: stored MV == recompute from fact
    val mv = TxnPair.readAtHead(spark, dir, "B")
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
      .toMap
    val rec = TxnPair.readAtHead(spark, dir, "A")
      .groupBy(col("rf"))
      .agg(count(lit(1)).as("n"), sum(col("qty")).as("q"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
      .toMap
    assert(mv === rec)
    // and txn 1's pair was ALSO consistent (history stays readable)
    val mv1 = spark.read.parquet(Snapshots.manifest(s"$dir/B", 1): _*)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
      .toMap
    val rec1 = spark.read.parquet(Snapshots.manifest(s"$dir/A", 1): _*)
      .groupBy(col("rf"))
      .agg(count(lit(1)).as("n"), sum(col("qty")).as("q"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
      .toMap
    assert(mv1 === rec1)
  }

  // ---- cdc3: change data feed between snapshots ------------------------------

  test("cdc3: the change feed reads only the manifest-delta files, " +
      "suppresses rows that merely rode a bucket rewrite, and its change " +
      "set replays v1 into exactly v2") {
    import graft.sources.Snapshots
    val dir = Snapshots.s22Dir(spark, Sf0001)
    val m1 = Snapshots.manifest(dir, 1).toSet
    val m2 = Snapshots.manifest(dir, 2).toSet
    val removed = (m1 -- m2).toSeq.sorted
    val added = (m2 -- m1).toSeq.sorted
    val pre = spark.read.parquet(removed: _*)
      .select(col("k"), col("bal").as("bal_before"))
    val post = spark.read.parquet(added: _*)
      .select(col("k"), col("bal").as("bal_after"))
    val feed = pre.join(post, Seq("k"), "full_outer")
      .filter(col("bal_before").isNull || col("bal_after").isNull ||
        col("bal_before") =!= col("bal_after"))
    // the feed's scan surface is exactly the delta files — COW-shared
    // files are never opened (inputFiles reports file: URIs; manifests
    // store raw paths)
    val scanned = (pre.inputFiles.toSet ++ post.inputFiles.toSet)
      .map(f => new java.net.URI(f).getPath)
    val extra = scanned -- (removed.toSet ++ added.toSet)
    assert(extra.isEmpty,
      s"scan read beyond the delta: ${extra.take(3)} | delta sample: " +
        s"${removed.take(1)} ${added.take(1)}")
    val rows = feed.collect()
      .map(r => (r.getLong(0),
        (Option(r.get(1)).map(_ => r.getLong(1)),
          Option(r.get(2)).map(_ => r.getLong(2))))).toMap
    assert(rows.nonEmpty, "fixture produced an empty change set")
    // every change type present and typed correctly
    val dels = rows.filter(_._2._2.isEmpty)
    val ins = rows.filter(_._2._1.isEmpty)
    val upd = rows.filter(t => t._2._1.nonEmpty && t._2._2.nonEmpty)
    assert(upd.nonEmpty, "no updates in the feed")
    upd.foreach { case (k, (b, a)) => assert(b != a, s"unchanged row $k") }
    // REPLAY: v1 ⊎ feed == v2 exactly (the incremental-consumer contract)
    val v1Rows = spark.read.parquet(Snapshots.manifest(dir, 1): _*)
      .select(col("k"), col("bal")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val v2Rows = spark.read.parquet(Snapshots.manifest(dir, 2): _*)
      .select(col("k"), col("bal")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val replayed = (v1Rows -- dels.keySet) ++
      upd.map { case (k, (_, a)) => k -> a.get } ++
      ins.map { case (k, (_, a)) => k -> a.get }
    assert(replayed === v2Rows,
      "applying the change feed to v1 must reproduce v2 exactly")
  }

  // ---- s25: merge-on-read deletes + purge ------------------------------------

  test("s25: a delete commits without touching a data file, merge-on-read " +
      "hides exactly the deleted keys, and the purge rewrites only the " +
      "touched buckets with reads staying equal") {
    import graft.sources.{DeletionVectors => DV, Snapshots}
    val dir = DV.s25Dir(spark, Sf0001)
    val m1 = Snapshots.manifest(dir, 1)
    // the DELETE is metadata + one delete file: data manifest UNCHANGED
    assert(Snapshots.manifest(dir, 2) === m1)
    assert(DV.deletesOf(dir, 2).nonEmpty, "v2 must carry a delete file")
    assert(DV.deletesOf(dir, 3).isEmpty, "the purge must drop the DV debt")
    val delKeys = spark.read.parquet(DV.deletesOf(dir, 2): _*)
      .collect().map(_.getLong(0)).toSet
    assert(delKeys.nonEmpty, "fixture produced no deleted keys")
    val v1 = spark.read.parquet(m1: _*)
    val v1Keys = v1.select("k").collect().map(_.getLong(0)).toSet
    assert(delKeys.subsetOf(v1Keys))
    // merge-on-read: exactly the deleted keys disappear
    val v2Keys = DV.readMergeOnRead(spark, dir, 2)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(v2Keys === (v1Keys -- delKeys))
    // purge equivalence: the compacted snapshot reads identically
    val v3Keys = DV.readMergeOnRead(spark, dir, 3)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(v3Keys === v2Keys)
    // purge COW: dropped files are exactly the touched nations' buckets,
    // untouched buckets shared by path
    val touchedNk = v1.join(
        broadcast(spark.read.parquet(DV.deletesOf(dir, 2): _*)), Seq("k"))
      .select(col("nkd").cast("int")).collect().map(_.getInt(0)).toSet
    val m3 = Snapshots.manifest(dir, 3).toSet
    val nkRe = raw"nk=(\d+)".r
    def nkOf(p: String): Int = nkRe.findFirstMatchIn(p).get.group(1).toInt
    val dropped = m1.toSet -- m3
    assert(dropped.nonEmpty && dropped.forall(f => touchedNk(nkOf(f))),
      s"purge rewrote an untouched bucket: ${dropped.filterNot(f => touchedNk(nkOf(f)))}")
    val shared = m1.toSet & m3
    assert(shared.nonEmpty && shared.forall(f => !touchedNk(nkOf(f))))
  }

  // ---- s26: partition-spec evolution -----------------------------------------

  test("s26: the evolution adds spec-2 files without touching spec-1 " +
      "history, and a straddling read prunes each spec at its own " +
      "granularity losslessly") {
    import graft.sources.{PartitionEvolution => PE}
    val dir = PE.s26Dir(spark, Sf0001)
    // no rewrite: the evolved manifest contains every pre-evolution line
    val m1 = PE.specManifest(dir, 1)
    val m2 = PE.specManifest(dir, 2)
    assert(m1.toSet.subsetOf(m2.toSet) && m1.forall(_._1 == 1))
    assert(m2.exists(_._1 == 2), "evolution must add spec-2 files")
    val (lo, hi) = ("1998-06-01", "1999-07-01")
    val (pruned, counts) = PE.prunedRead(spark, dir, lo, hi)
    val (k1, n1) = counts(1)
    val (k2, n2) = counts(2)
    assert(k1 > 0 && k1 < n1, s"spec-1 pruning vacuous: $k1/$n1")
    assert(k2 > 0 && k2 < n2, s"spec-2 pruning vacuous: $k2/$n2")
    // every skipped file is provably outside the window by its period
    m2.foreach { case (spec, p) =>
      val (ps, pe) = PE.filePeriod(spec, p)
      val keep = ps < hi && pe > lo
      if (!keep) assert(pe <= lo || ps >= hi)
    }
    // lossless: pruned + residual == full-scan + residual
    val all = spark.read.parquet(m2.map(_._2): _*)
    def res(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("od") >= lo && col("od") < hi)
        .agg(count(lit(1)), sum(col("cents"))).first()
    assert(res(pruned) === res(all), "a skipped file held matching rows")
    // month-grain beats year-grain: the spec-2 kept set is strictly
    // smaller than what year-level pruning alone would keep
    val yearGrainKept = m2.count { case (spec, p) =>
      spec == 2 && {
        val y = raw"y=(\d+)".r.findFirstMatchIn(p).get.group(1).toInt
        f"$y%04d-01-01" < hi && f"${y + 1}%04d-01-01" > lo
      }
    }
    assert(k2 < yearGrainKept,
      s"finer spec bought no pruning: $k2 vs year-grain $yearGrainKept")
  }

  // ---- s27: write-audit-publish -----------------------------------------------

  test("s27: a red audit publishes nothing — the dirty candidate's stage " +
      "is cleaned up, the head keeps only audited-green data") {
    import graft.sources.{Snapshots, WriteAuditPublish => WAP}
    val dir = WAP.s27Dir(spark, Sf0001)
    // the dirty candidate was REJECTED: head never moved past the clean
    // publish, its stage file was removed immediately (round-16 advice:
    // stage orphans accumulated unbounded), and no manifest_3.txt exists
    // for readers to resolve
    assert(Snapshots.head(dir) === 2)
    val stageFiles = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.startsWith("manifest_3.txt.audit"))
    assert(stageFiles.isEmpty,
      "rejected candidate's stage must be cleaned up on rejection")
    assert(!new java.io.File(s"$dir/manifest_3.txt").exists())
    // reader-visible data is audit-clean: no out-of-domain balance, no
    // duplicate key, row count conserved
    val head = Snapshots.readVersion(spark, dir, 2)
    assert(head.filter(col("bal") < WAP.BalFloor).count() === 0,
      "out-of-domain rows leaked into a published snapshot")
    assert(head.count() === head.select("k").distinct().count())
    assert(head.count() ===
      Snapshots.readVersion(spark, dir, 1).count())
    // the staged candidate WOULD have been bad — the audit caught a real
    // violation set, not a vacuous one (the dirty DATA files remain on
    // disk as vacuum fodder; only the stage manifest was dropped)
    val bad = spark.read.parquet(s"$dir/dirty")
    assert(bad.filter(col("bal") < WAP.BalFloor).count() > 0)
    assert(bad.count() > bad.select("k").distinct().count())
    // audit log records both outcomes
    val log = {
      val src = scala.io.Source.fromFile(s"$dir/_audit_log.txt")
      try src.mkString finally src.close()
    }
    assert(log.contains("candidate 2") && log.contains("PUBLISH"))
    assert(log.contains("candidate 3") && log.contains("REJECT"))
  }

  // ---- e28: streaming CDC merge ----------------------------------------------

  test("e28: each micro-batch merges transactionally (head = base + one " +
      "commit per chunk), a replayed increment batch is a no-op, and the " +
      "converged table equals base + all order totals exactly once") {
    import graft.sources.Snapshots
    import graft.streaming.StreamMerge
    val dir = StreamMerge.e28Dir(spark, Sf0001)
    assert(Snapshots.head(dir) === 5, "base + 4 chunk merges")
    def headAgg(): (Long, Long) = {
      val r = Snapshots.readVersion(spark, dir, Snapshots.head(dir))
        .agg(count(lit(1)), sum(col("bal"))).first()
      (r.getLong(0), r.getLong(1))
    }
    val before = headAgg()
    val m5 = Snapshots.manifest(dir, 5)
    // REPLAY batch 0 (increments — double-apply would corrupt): the
    // containment check must return before any work
    val chunk0 = spark.read.parquet(
      s"${Tables.orders(spark, Sf0001).inputFiles.head}")
      .filter(pmod(col("o_orderkey"), lit(4)) === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    StreamMerge.mergeBatch(spark, dir, chunk0, 0L)
    assert(Snapshots.head(dir) === 5, "replay must not commit a version")
    assert(Snapshots.manifest(dir, 5) === m5)
    assert(headAgg() === before, "replay must not re-apply increments")
    // converged: every order's cents landed on its customer EXACTLY once
    val expected = Tables.customer(spark, Sf0001)
      .select(col("c_custkey").as("k"),
        round(col("c_acctbal") * 100).cast("long").as("bal"))
      .join(Tables.orders(spark, Sf0001)
        .groupBy(col("o_custkey").as("k"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("tot")),
        Seq("k"), "left")
      .agg(count(lit(1)),
        sum(col("bal") + coalesce(col("tot"), lit(0L)))).first()
    assert(before === ((expected.getLong(0), expected.getLong(1))))
    // mid-stream snapshot isolation: v2 = base + chunk-0 totals only
    val v2 = Snapshots.readVersion(spark, dir, 2)
      .agg(sum(col("bal"))).first().getLong(0)
    val baseSum = Tables.customer(spark, Sf0001)
      .agg(sum(round(col("c_acctbal") * 100).cast("long")))
      .first().getLong(0)
    val c0 = chunk0
      .agg(sum(round(col("o_totalprice") * 100).cast("long")))
      .first().getLong(0)
    assert(v2 === baseSum + c0,
      "v2 must carry exactly the first chunk's increments")
  }

  test("cdc4: the net change feed folds multi-batch rewrites — a key " +
      "touched in several batches surfaces ONCE with first-pre/last-post, " +
      "over full and mid ranges") {
    import graft.sources.Snapshots
    import graft.streaming.StreamMerge
    val dir = StreamMerge.e28Dir(spark, Sf0001)
    assert(Snapshots.head(dir) === 5)
    // a customer with orders in >= 2 distinct chunks (o_orderkey % 4)
    // was MERGE-rewritten in >= 2 versions
    val multi = Tables.orders(spark, Sf0001)
      .groupBy(col("o_custkey").as("k"))
      .agg(countDistinct(pmod(col("o_orderkey"), lit(4))).as("nchunks"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("tot"))
      .filter(col("nchunks") >= 2)
      .orderBy(col("k")).limit(1).collect().head
    val (key, tot) = (multi.getLong(0), multi.getLong(2))
    val base = Tables.customer(spark, Sf0001)
      .filter(col("c_custkey") === key)
      .select(round(col("c_acctbal") * 100).cast("long"))
      .first().getLong(0)
    val fed = Snapshots.changeFeed(spark, dir, 1, 5)
      .filter(col("k") === key).collect()
    assert(fed.length === 1,
      s"multi-batch key must surface once, got ${fed.length}")
    assert(fed.head.getString(1) === "update")
    assert(fed.head.getLong(2) === base, "pre-image must be the v1 value")
    assert(fed.head.getLong(3) === base + tot,
      "post-image must fold ALL the key's batches")
    // mid-range (2, 4]: net effect of exactly chunks 1 and 2
    val midTot = Tables.orders(spark, Sf0001)
      .filter(col("o_custkey") === key &&
        pmod(col("o_orderkey"), lit(4)).isin(1, 2))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")))
      .first().getLong(0)
    val midFed = Snapshots.changeFeed(spark, dir, 2, 4)
      .filter(col("k") === key).collect()
    if (midTot > 0) {
      assert(midFed.length === 1)
      val (b, a) = (midFed.head.getLong(2), midFed.head.getLong(3))
      assert(a - b === midTot,
        "mid-range net delta must equal the in-range chunks' sum")
    } else assert(midFed.isEmpty,
      "a key untouched in the range must not be fed (rider suppression)")
    // feed-wide: updates only (increments on existing keys), and the
    // full-range feed equals the raw-table recomputation row-for-row
    val feed = Snapshots.changeFeed(spark, dir, 1, 5)
    assert(feed.filter(col("change_type") =!= "update").count() === 0)
    val expected = Tables.customer(spark, Sf0001)
      .select(col("c_custkey").as("k"),
        round(col("c_acctbal") * 100).cast("long").as("bal_before"))
      .join(Tables.orders(spark, Sf0001)
        .groupBy(col("o_custkey").as("k"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("tot")),
        Seq("k"))
      .select(col("k"), lit("update").as("change_type"),
        col("bal_before"), (col("bal_before") + col("tot")).as("bal_after"))
    assert(feed.exceptAll(expected).count() === 0 &&
      expected.exceptAll(feed).count() === 0,
      "net feed must equal the raw-table recomputation exactly")
  }

  test("s31: ledger-preserving vacuum — expired manifests and orphan " +
      "files are gone, live files intact, and a replayed batch whose " +
      "markers survive ONLY in the ledger is still a no-op") {
    import graft.sources.Snapshots
    import graft.streaming.StreamMerge
    val dir = StreamMerge.s31Dir(spark, Sf0001)
    val h = Snapshots.head(dir)
    assert(h === 5, "vacuum keeps the head version number")
    (1 until 5).foreach { v =>
      assert(!new java.io.File(s"$dir/manifest_$v.txt").exists(),
        s"manifest_$v must be expired")
    }
    // every live file survives the vacuum
    val live = Snapshots.manifest(dir, 5)
    live.foreach(p => assert(new java.io.File(p).exists(),
      s"vacuum deleted a live file: $p"))
    // the ledger carries all four batches; at least one batch's files
    // were ALL rewritten out of the head (its markers survive nowhere
    // but the ledger — the exact case naive expiry double-applies)
    val led = StreamMerge.ledger(dir)
    assert(led === Set("mb0x", "mb1x", "mb2x", "mb3x"))
    val headMarkers = live
      .flatMap(p => StreamMerge.MarkerRe.findAllIn(p)).toSet
    val dangerous = led -- headMarkers
    assert(dangerous.nonEmpty,
      "every batch still has head-manifest evidence — the spec needs " +
        "the ledger-only case; check the merge store's rewrite pattern")
    // replay the dangerous batch: must return before any work
    val bid = dangerous.head.stripPrefix("mb").stripSuffix("x").toLong
    val before = Snapshots.readVersion(spark, dir, 5)
      .agg(count(lit(1)), sum(col("bal"))).first()
    val chunk = spark.read.parquet(
      s"${Tables.orders(spark, Sf0001).inputFiles.head}")
      .filter(pmod(col("o_orderkey"), lit(4)) === bid)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    StreamMerge.mergeBatch(spark, dir, chunk, bid)
    assert(Snapshots.head(dir) === 5, "replay must not commit")
    assert(Snapshots.manifest(dir, 5) === live)
    assert(Snapshots.readVersion(spark, dir, 5)
      .agg(count(lit(1)), sum(col("bal"))).first() === before,
      "replay after vacuum re-applied increments — ledger check broken")
  }

  test("s31: the ledger vacuum converges when re-run, and after a crash " +
      "that had already removed one expired manifest") {
    import graft.sources.Snapshots
    import graft.streaming.StreamMerge
    def store(): String = {
      val out = graft.util.Artifacts.scratchDir("graft_ledgerrerun").toString
      StreamMerge.buildMergeStore(spark, Sf0001, out)
      out
    }
    def headAgg(dir: String) = Snapshots.readVersion(spark, dir,
      Snapshots.head(dir)).agg(count(lit(1)), sum(col("bal"))).first()
    def ledgerBytes(dir: String) = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_batches.txt")).toSeq
    // a second run over an already-vacuumed store
    val a = store()
    val want = headAgg(a)
    assert(StreamMerge.ledgerVacuum(a)._1 === 4)
    val ledger = ledgerBytes(a)
    assert(StreamMerge.ledgerVacuum(a) === ((0, 0)),
      "a re-run has nothing left to expire")
    assert(ledgerBytes(a) === ledger, "a re-run must not change the ledger")
    assert(Snapshots.head(a) === 5 && headAgg(a) === want)
    // a run whose predecessor crashed after deleting manifest_1 only
    val b = store()
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$b/manifest_1.txt"))
    assert(StreamMerge.ledgerVacuum(b)._1 === 3)
    assert(ledgerBytes(b) === ledger,
      "the ledger must carry the same four batches")
    assert(Snapshots.head(b) === 5 && headAgg(b) === want)
    (1 until 5).foreach(v => assert(
      !new java.io.File(s"$b/manifest_$v.txt").exists() &&
        !new java.io.File(s"$b/replaced_$v.txt").exists(),
      s"version $v must be expired"))
  }

  test("mv3: the incremental refresh equals the full head recompute " +
      "bit-exact and its delta scans open ONLY the manifest-delta files") {
    import graft.sources.Snapshots
    import graft.streaming.StreamMerge
    val dir = StreamMerge.e28Dir(spark, Sf0001)
    val h = Snapshots.head(dir)
    val refreshed = StreamMerge.mv3Refreshed(spark, dir)
    val full = Snapshots.readVersion(spark, dir, h)
      .groupBy(col("nkd").cast("int").as("nk"))
      .agg(count(lit(1)).as("n_rows"), sum(col("bal")).as("total_cents"))
    assert(refreshed.exceptAll(full).count() === 0 &&
      full.exceptAll(refreshed).count() === 0,
      "differential MV diverged from the full recompute")
    // scan-side claim: beyond the landed v1 materialization, the refresh
    // opens exactly the manifest-delta files — shared bootstrap files
    // are never reopened
    val m1 = Snapshots.manifest(dir, 1).toSet
    val mh = Snapshots.manifest(dir, h).toSet
    val expectedDelta = (m1 -- mh) ++ (mh -- m1)
    val scanned = refreshed.inputFiles
      .map(f => new java.net.URI(f).getPath).toSet
    val sharedOpened = scanned.intersect(m1.intersect(mh))
    assert(sharedOpened.isEmpty,
      s"refresh reopened ${sharedOpened.size} shared bootstrap files")
    assert(scanned.subsetOf(expectedDelta),
      "refresh scanned files outside the manifest delta")
  }

  test("mv4: the streaming tailer applies each commit's delta exactly " +
      "once across a mid-stream restart AND a lost-checkpoint replay; " +
      "every refresh scans only the version's manifest delta") {
    import graft.streaming.{ChangeFeedStream => CFS, StreamMerge}
    import graft.sources.Snapshots
    val store = StreamMerge.e28Dir(spark, Sf0001)
    val h = Snapshots.head(store)
    assert(h === 5, s"merge store must hold 5 versions, got $h")
    val root = graft.util.Artifacts.scratchDir("graft_mv4spec").toString
    val feed = s"$root/feed"
    val mv = s"$root/mv"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(feed))
    def land(v: Int): Unit = java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$store/manifest_$v.txt"),
      java.nio.file.Paths.get(s"$feed/manifest_$v.txt"))
    def mvState(v: Int): Set[(Int, Long, Long)] =
      spark.read.parquet(s"$mv/mv_$v").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    // phase 1: the tailer catches up on the first three commits
    (1 to 3).foreach(land)
    CFS.runTail(spark, feed, store, mv, s"$root/ckp")
    assert(CFS.applied(mv) === Seq(1, 2, 3))
    // phase 2: two more commits land; the RESTARTED tailer (same
    // checkpoint) applies exactly the new ones
    (4 to 5).foreach(land)
    CFS.runTail(spark, feed, store, mv, s"$root/ckp")
    assert(CFS.applied(mv) === (1 to 5))
    // the tailed MV equals the full head recompute bit-exact
    val mHead = Snapshots.manifest(store, 5)
    val want = CFS.aggOf(spark, mHead, mHead.head).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val afterRestart = mvState(5)
    assert(afterRestart === want,
      "differential refreshes must converge to the full recompute")
    // phase 3: checkpoint LOST — the full feed replays; the ledger alone
    // must prevent any double-apply (increments are not idempotent)
    CFS.runTail(spark, feed, store, mv, s"$root/ckp_fresh")
    assert(CFS.applied(mv) === (1 to 5),
      "a replayed feed must not re-apply (or re-ledger) any version")
    assert(mvState(5) === afterRestart, "replay must not change the MV")
    // each refresh's scans opened ONLY that version's manifest delta —
    // the shared bootstrap files are never reopened
    (2 to 5).foreach { v =>
      val (preF, postF) = CFS.deltaFiles(store, v)
      assert(preF.nonEmpty && postF.nonEmpty,
        s"every merge commit rewrites something (v$v)")
      def scanned(files: Seq[String]): Set[String] =
        CFS.aggOf(spark, files, files.head).inputFiles
          .map(u => new java.net.URI(u).getPath).toSet
      assert(scanned(preF).subsetOf(preF.toSet),
        s"v$v pre-image refresh scan escaped the manifest delta")
      assert(scanned(postF).subsetOf(postF.toSet),
        s"v$v post-image refresh scan escaped the manifest delta")
    }
  }

  test("e27: versions grow append-only and a replayed batch commit is a " +
      "no-op before any work") {
    import graft.sources.Snapshots
    import graft.streaming.EventStream
    val dir = EventStream.e27Dir(spark, Sf0001)
    val h = Snapshots.head(dir)
    assert(h === 5, "empty base + one version per non-empty micro-batch")
    // append-only: each manifest strictly extends the previous (readers
    // at any concurrent point see a committed prefix of the stream)
    val ms = (1 to h).map(v => Snapshots.manifest(dir, v).toSet)
    for (i <- 1 until h) {
      assert(ms(i - 1).subsetOf(ms(i)), s"v${i + 1} must extend v$i")
      assert(ms(i).size > ms(i - 1).size)
    }
    // the head holds the stream exactly once
    assert(Snapshots.readVersion(spark, dir, h).count() ===
      Tables.events(spark, Sf0001).count())
    // replay of an already-committed batch: no version advance, and the
    // committed files are not rewritten (containment check fires first)
    val files = ms(h - 1).toSeq.sorted
    val mt0 = files.map(f => new java.io.File(f).lastModified())
    EventStream.txnCommitBatch(dir,
      Tables.events(spark, Sf0001).limit(3)
        .select(col("event_id"), col("event_type"), col("value")), 2L)
    assert(Snapshots.head(dir) === h, "replay must not advance the head")
    assert(files.map(f => new java.io.File(f).lastModified()) === mt0,
      "replay must not touch committed files")
  }

  test("e27: a crash between staging and publish converges on replay; " +
      "empty batches commit nothing") {
    import graft.sources.Snapshots
    import graft.streaming.EventStream
    import spark.implicits._
    // scratch store (the s19 claim-race discipline — never mutate the
    // landed e27 layout other specs and the registered query serve from)
    val scratch = graft.util.Artifacts.scratchDir("graft_txnspec").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$scratch/manifest_1.txt"),
      Array.emptyByteArray)
    val b = Seq((1L, "click", 1.0), (2L, "view", 2.0))
      .toDF("event_id", "event_type", "value")
    // simulated crash: batch files staged, manifest never published
    b.write.mode("overwrite").parquet(s"$scratch/b0000")
    assert(Snapshots.head(scratch) === 1,
      "staged-but-unpublished files must be invisible")
    // replay: restages (overwrite self-cleans) and commits exactly once
    EventStream.txnCommitBatch(scratch, b, 0L)
    assert(Snapshots.head(scratch) === 2)
    val m2 = Snapshots.manifest(scratch, 2)
    assert(m2.nonEmpty && m2.forall(_.contains("b0000")))
    assert(spark.read.parquet(m2: _*).count() === 2L)
    // second replay after the publish: a no-op
    EventStream.txnCommitBatch(scratch, b, 0L)
    assert(Snapshots.head(scratch) === 2)
    assert(Snapshots.manifest(scratch, 2) === m2)
    // an empty micro-batch commits no version
    EventStream.txnCommitBatch(scratch, b.limit(0), 1L)
    assert(Snapshots.head(scratch) === 2)
  }

  // ---- e22: streaming sketch maintenance ----------------------------------

  test("e22: streamed partial sketches serve the IDENTICAL weekly frame " +
      "to mv2's single-pass batch sketch") {
    val mv2 = Registry.all.toMap.apply("mv2_sketch_rollup").fn
    val e22 = Registry.all.toMap.apply("e22_stream_sketch").fn
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSeq
    // register-max soundness: union-of-partials == single-pass sketch,
    // so the weekly estimates (and with them the flags) match exactly
    assert(rows(e22(spark, Sf0001)) === rows(mv2(spark, Sf0001)))
    // the layout holds the 20 base day rows plus streamed PARTIALS —
    // strictly more rows than days proves per-batch partial commits
    // (not a rebuilt consolidated table)
    val landed = spark.read.parquet(
      sources.IncrementalRollup.e22SketchDir(spark, Sf0001))
    val days = landed.select("day").distinct().count()
    assert(days === 30, s"expected 30 distinct days, got $days")
    assert(landed.count() > days, "delta days must hold partial rows")
  }

  // ---- mv1: incremental rollup -------------------------------------------

  private def mv1 = Registry.all.toMap.apply("mv1_incremental_rollup").fn

  test("mv1: base ⊎ delta re-aggregation equals the full recompute, " +
      "bit-exact, and both sides of the split are non-trivial") {
    val full = Tables.lineitem(spark, Sf0001)
      .groupBy(substring(col("l_shipdate").cast("string"), 1, 10).as("day"))
      .agg(count(lit(1)).as("n"),
        graft.util.Det.dsum(col("l_extendedprice")).cast("double")
          .as("revenue"))
      .orderBy("day")
      .as[(String, Long, Double)].collect()
    val inc = mv1(spark, Sf0001).as[(String, Long, Double)].collect()
    assert(inc.toSeq === full.toSeq)
    // the split must exercise BOTH paths: history in the base, rows in
    // the delta — otherwise the incremental claim is vacuous
    val delta = Tables.lineitem(spark, Sf0001)
      .filter(col("l_shipdate") >= lit("2001-01-01").cast("timestamp")).count()
    assert(delta > 0 && delta < 6000, s"degenerate split: delta=$delta")
  }

  test("mv1: landed base is memoized per source mtime and re-lands on " +
      "rewrite (no stale rollup after history is rewritten)") {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("graft_mv1_stale")
    try {
      Tables.lineitem(spark, Sf0001)
        .write.parquet(s"$tmp/lineitem.parquet")
      val first = mv1(spark, tmp.toString).agg(sum("n")).as[Long].head()
      assert(first === 6000L)
      // rewrite HISTORY (drop half the pre-split rows) and bump mtime
      // past filesystem granularity — the memo key must miss
      val kept = Tables.lineitem(spark, tmp.toString)
        .filter(col("l_shipdate") >= lit("2001-01-01").cast("timestamp") ||
          pmod(col("l_orderkey"), lit(2)) === 0)
        .localCheckpoint(true)
      val dir = new java.io.File(s"$tmp/lineitem.parquet")
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
      kept.write.parquet(s"$tmp/lineitem.parquet")
      dir.setLastModified(dir.lastModified() + 5000)
      val second = mv1(spark, tmp.toString).agg(sum("n")).as[Long].head()
      assert(second === kept.count(),
        "stale landed base served after history rewrite")
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(tmp)
      try walk.iterator().asScala.toSeq.reverseIterator
        .foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  // ---- e16: streaming MV upsert ------------------------------------------

  test("e16: periodic log compaction preserves last-writer-wins exactly " +
      "and strictly bounds the log") {
    def mv(log: org.apache.spark.sql.DataFrame) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("day"), col("event_type"))
        .orderBy(col("_batch").desc)
      log.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("day"), col("event_type"), col("n"), col("sum_value"))
    }
    val full = streaming.EventStream
      .runUpsertLogToCompletion(spark, Sf0001).localCheckpoint(true)
    val compacted = streaming.EventStream
      .runUpsertLogToCompletion(spark, Sf0001, compactEvery = 2)
      .localCheckpoint(true)
    // the other e16 spec proves ≥1 key is touched by >1 batch, so
    // compaction must have dropped at least one superseded revision
    assert(compacted.count() < full.count(),
      s"compaction dropped nothing: ${compacted.count()} vs ${full.count()}")
    // after the final compaction the log holds exactly one revision per
    // key — the |MV| retention bound. COUPLING: this only holds because
    // the LAST micro-batch is a compacting one — splitStageDir stages 4
    // chunks (batch ids 0..3) and compactEvery=2 fires at ids 1 and 3;
    // change either constant and a trailing uncompacted append breaks
    // this assert (not compaction itself — the MV equality below is the
    // correctness gate).
    assert(compacted.count() ===
      compacted.select("day", "event_type").distinct().count())
    assert(mv(compacted).collect().toSet === mv(full).collect().toSet,
      "compacted MV diverged from the full-log MV")
  }

  test("e16: the upsert log shows genuine incremental maintenance — " +
      "multiple micro-batches re-upserting the same keys — and " +
      "last-writer-wins equals the batch rollup") {
    val log = streaming.EventStream
      .runUpsertLogToCompletion(spark, Sf0001).localCheckpoint(true)
    val nBatches = log.select(countDistinct(col("_batch"))).as[Long].head()
    assert(nBatches === 4L, s"expected 4 micro-batches, got $nBatches")
    // at least one key must have been written by >1 batch — otherwise
    // nothing was ever UPDATED and the test proves only inserts
    val multi = log.groupBy("day", "event_type")
      .agg(countDistinct(col("_batch")).as("nb"))
      .filter(col("nb") > 1).count()
    assert(multi > 0, "no key was upserted by more than one batch")
    // last-writer-wins == batch rollup (also the driver's oracle gate)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("day"), col("event_type"))
      .orderBy(col("_batch").desc)
    val mv = log.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("day"), col("event_type"), col("n"))
    val batch = Tables.events(spark, Sf0001)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(mv.collect().toSet === batch.collect().toSet)
  }

  // ---- s13: compaction ---------------------------------------------------

  test("s13: compact() is content-exact and sizes output by actual bytes") {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("graft_s13_spec")
    try {
      val src = spark.range(0, 20000)
        .select(col("id"), (col("id") % 97).as("v"))
      src.repartition(16).write.parquet(s"$tmp/frag")
      sources.Compaction.compact(spark, s"$tmp/frag", s"$tmp/out",
        targetBytes = 1L << 30) // huge target → exactly 1 file
      val outFiles = new java.io.File(s"$tmp/out").listFiles()
        .filter(f => f.getName.endsWith(".parquet") &&
          !f.getName.startsWith("_"))
      assert(outFiles.length === 1,
        s"expected 1 compacted file, got ${outFiles.length}")
      // nothing lost, nothing invented
      assert(spark.read.parquet(s"$tmp/out").collect().toSet ===
        src.collect().toSet)
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(tmp)
      try walk.iterator().asScala.toSeq.reverseIterator
        .foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  // ---- t14: curriculum quality buckets -----------------------------------

  test("t14: deciles are equal-count (±1) and score ranges are ordered " +
      "and non-overlapping") {
    val rows = Registry.all.toMap.apply("t14_quality_buckets")
      .fn(spark, Sf0001)
      .as[(Long, Long, Double, Double)].collect()
    assert(rows.map(_._1).toSeq === (1L to 10L))
    val sizes = rows.map(_._2)
    assert(sizes.max - sizes.min <= 1,
      s"ntile buckets must differ by at most 1: ${sizes.mkString(",")}")
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo._4 <= hi._3,
        s"bucket ${lo._1} max ${lo._4} overlaps bucket ${hi._1} min ${hi._3}")
    case _ => ()
    }
  }

  // ---- e15: unpivot ------------------------------------------------------

  test("e15: unpivot(pivot) round-trips to the plain long-form aggregate " +
      "and the melt itself adds no exchange") {
    val qs = Registry.all.toMap
    val e15 = qs("e15_unpivot").fn(spark, Sf0001)
    val plain = Tables.events(spark, Sf0001)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(e15.select("day", "event_type", "n").collect().toSet ===
      plain.collect().toSet)
    // unpivot is map-only: e15 (pivot + melt) must shuffle no more than
    // e5 (the pivot alone) — same exchange count in the physical plan
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length
    val e5 = qs("e5_pivot").fn(spark, Sf0001)
    assert(exchanges(e15) === exchanges(e5),
      "unpivot introduced an extra shuffle")
  }

  // ---- s38: row-level deletes through the transactional merge path --------

  test("s38: the delete commit shares ALL parent data files; the purge " +
      "rewrites only deleted buckets and empties the sidecar; MoR and " +
      "purged reads agree at every version pair") {
    import graft.sources.{Snapshots, TxnDeletes}
    val dir = TxnDeletes.s38Dir(spark, Sf0001)
    assert(Snapshots.head(dir) === 5)
    // v3 (the delete): manifest byte-path-identical to v2 — zero data I/O
    assert(Snapshots.manifest(dir, 3) === Snapshots.manifest(dir, 2),
      "an equality delete must not touch a data file")
    assert(TxnDeletes.resolveDeletes(dir, 3).nonEmpty)
    // the sidecar resolves ACROSS the v4 increment (which wrote none)
    assert(TxnDeletes.resolveDeletes(dir, 4) ===
      TxnDeletes.resolveDeletes(dir, 3),
      "a non-delete commit must not change the effective delete set")
    // the purge rewrote ONLY buckets holding deleted keys (nk%7==5)
    val m4 = Snapshots.manifest(dir, 4).toSet
    val m5 = Snapshots.manifest(dir, 5).toSet
    val nkRe = raw"nk=(\d+)".r
    def nkOf(p: String): Int =
      nkRe.findFirstMatchIn(p).map(_.group(1).toInt).getOrElse(-1)
    assert((m4 -- m5).nonEmpty && (m4 -- m5).forall(p => nkOf(p) % 7 == 5),
      "purge must drop only deleted-bucket files")
    assert((m5 -- m4).nonEmpty && (m5 -- m4).forall(p => nkOf(p) % 7 == 5),
      "purge must add only deleted-bucket rewrites")
    assert((m4 & m5).nonEmpty, "untouched buckets must be shared by path")
    assert(TxnDeletes.resolveDeletes(dir, 5).isEmpty,
      "the purge must clear the sidecar — head reads are anti-join-free")
    // MoR at v3/v4 equals the plain purged read at v5 (same logical rows
    // modulo the v4 increments, which apply to non-deleted nations only)
    val v4 = TxnDeletes.readMoR(spark, dir, 4)
      .agg(count(lit(1)), sum(col("bal"))).first()
    val v5 = TxnDeletes.readMoR(spark, dir, 5)
      .agg(count(lit(1)), sum(col("bal"))).first()
    assert(v4 === v5, "purge must only repay the read debt, never change " +
      "the logical table")
  }

  test("s38: commit-order semantics — an increment rewriting a deleted " +
      "key's bucket re-materializes the row in data files but the " +
      "sidecar masks it until a purge physically drops it") {
    import graft.sources.{Snapshots, TxnDeletes}
    import spark.implicits._
    // scratch store: one bucket (nk=1), two rows
    val dir = graft.util.Artifacts.scratchDir("graft_delorder").toString
    Seq((1L, 1, 100L, 1), (2L, 1, 200L, 1)).toDF("k", "nkd", "bal", "nk")
      .repartition(col("nk"))
      .write.mode("overwrite").partitionBy("nk").parquet(s"$dir/v1")
    val m1 = {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$dir/v1"))
      try walk.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toSeq.sorted
      finally walk.close()
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/manifest_1.txt"),
      m1.mkString("\n").getBytes("UTF-8"))
    // v2: delete k=1
    val doomed = Seq((1L, 1)).toDF("k", "nk")
    assert(TxnDeletes.commitEqualityDelete(spark, dir, doomed, "d") === 2)
    // v3: increment k=1's BUCKET (op A on k=2) — the rewrite carries the
    // deleted row k=1 back into the data files
    val chg = Seq((1, 2L, "A", 50L)).toDF("nk", "k", "op", "val")
    assert(Snapshots.cowMerge(spark, dir, chg, "i")._1 === 3)
    val dataKeys = spark.read.parquet(Snapshots.manifest(dir, 3): _*)
      .select("k").as[Long].collect().toSet
    assert(dataKeys === Set(1L, 2L),
      "the rewritten bucket re-materializes the deleted row physically")
    val morKeys = TxnDeletes.readMoR(spark, dir, 3)
      .select("k").as[Long].collect().toSet
    assert(morKeys === Set(2L), "the sidecar must keep masking it")
    // v4: the purge drops it physically
    assert(TxnDeletes.purgeDeletes(spark, dir, "p")._1 === 4)
    val purged = spark.read.parquet(Snapshots.manifest(dir, 4): _*)
      .select("k").as[Long].collect().toSet
    assert(purged === Set(2L))
    assert(TxnDeletes.readMoR(spark, dir, 4)
      .filter(col("k") === 2L).select("bal").as[Long].head() === 250L,
      "the masked rewrite must still carry the increment")
  }

  test("s38: a purge racing a live increment over the SAME bucket " +
      "converges — one side conflicts, retries from the new head, and " +
      "both land exactly once") {
    import graft.sources.{Snapshots, TxnDeletes}
    import spark.implicits._
    for (trial <- 1 to 2) {
      val dir = graft.util.Artifacts.scratchDir(s"graft_delrace$trial").toString
      Seq((1L, 1, 100L, 1), (2L, 1, 200L, 1), (3L, 2, 300L, 2))
        .toDF("k", "nkd", "bal", "nk")
        .repartition(col("nk"))
        .write.mode("overwrite").partitionBy("nk").parquet(s"$dir/v1")
      val m1 = {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(
          java.nio.file.Paths.get(s"$dir/v1"))
        try walk.iterator().asScala.map(_.toString)
          .filter(_.endsWith(".parquet")).toSeq.sorted
        finally walk.close()
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/manifest_1.txt"),
        m1.mkString("\n").getBytes("UTF-8"))
      assert(TxnDeletes.commitEqualityDelete(spark, dir,
        Seq((1L, 1)).toDF("k", "nk"), "d") === 2)
      // racing writers: purge (rewrites bucket 1) vs increment on k=2
      // (same bucket 1) — file-granularity overlap, OCC serializes them
      val failures =
        new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val purger = new Thread(() => {
        try TxnDeletes.purgeDeletes(spark, dir, "p")
        catch { case t: Throwable => failures.add(t) }
      })
      val incrementer = new Thread(() => {
        try Snapshots.cowMerge(spark, dir,
          Seq((1, 2L, "A", 50L)).toDF("nk", "k", "op", "val"), "i")
        catch { case t: Throwable => failures.add(t) }
      })
      purger.start(); incrementer.start()
      purger.join(); incrementer.join()
      import scala.jdk.CollectionConverters._
      assert(failures.isEmpty, s"trial $trial: " +
        failures.asScala.map(_.getMessage).mkString("; "))
      assert(Snapshots.head(dir) === 4,
        "both writers must land (v3 and v4) in some serial order")
      // converged state: k=1 purged, k=2 incremented once, k=3 untouched
      val rows = TxnDeletes.readMoR(spark, dir, 4)
        .select("k", "bal").as[(Long, Long)].collect().toMap
      assert(rows === Map(2L -> 250L, 3L -> 300L),
        s"trial $trial converged to $rows")
    }
  }

  // ---- s39: schema-driven per-file stats -----------------------------------

  test("s39: named stats prune on the EVOLVED column — every " +
      "pre-evolution file skipped by absence, new files by range " +
      "bounds (strict subset); kept files cover every matching row") {
    import graft.sources.{SchemaStats, Snapshots}
    val dir = SchemaStats.s39Dir(spark, Sf0001)
    val lines = Snapshots.manifestLines(dir, 2)
    val v1Paths = Snapshots.manifestLines(dir, 1)
      .map(Snapshots.pathOf).toSet
    // entry dialect: every generated line carries n=, v1 lines lack ordc
    assert(lines.forall(_.split('|')(1).startsWith("n=")))
    assert(lines.filter(l => v1Paths(Snapshots.pathOf(l)))
      .forall(!_.contains("ordc=")),
      "pre-evolution entries must not carry the added column's stats")
    assert(lines.filterNot(l => v1Paths(Snapshots.pathOf(l)))
      .forall(_.contains("ordc=")),
      "post-evolution entries must carry the added column's bounds")
    val (df, kept, total) = SchemaStats.prunedBy(spark, dir, 2, "ordc",
      BigDecimal(8), BigDecimal(12))
    assert(kept < total, s"prune must skip files ($kept of $total kept)")
    // strict-subset correctness: kept ∪ skipped = exact answer — the
    // pruned read plus the predicate equals the unpruned read plus it
    val full = spark.read.option("mergeSchema", "true")
      .parquet(Snapshots.manifest(dir, 2): _*)
      .filter(col("ordc").between(8, 12))
      .agg(count(lit(1)), sum(col("bal"))).first()
    val pruned = df.filter(col("ordc").between(8, 12))
      .agg(count(lit(1)), sum(col("bal"))).first()
    assert(pruned === full, "pruning dropped matching rows")
    // no pre-evolution file was opened
    val openedV1 = df.inputFiles
      .map(u => new java.net.URI(u).getPath).toSet.intersect(v1Paths)
    assert(openedV1.isEmpty,
      s"column-absence pruning failed to skip v1 files: $openedV1")
    // tableHistory reads the named dialect's row counts
    val hist = Snapshots.tableHistory(spark, dir).collect()
    assert(hist.forall(!_.isNullAt(2)),
      "named entries must surface exact row counts in the history")
    assert(hist.map(_.getLong(2)).sorted.toSeq ===
      hist.map(_.getLong(2)).toSeq && hist.length === 2)
  }

  // ---- s32b: OCC on the manifest tree --------------------------------------

  test("tree-occ: a tree merge racing a tree compaction — disjoint " +
      "buckets rebase with untouched bucket manifests reused verbatim; " +
      "overlapping buckets serialize through conflict-retry") {
    import graft.sources.{ManifestTree => MT, Snapshots}
    import spark.implicits._
    for (trial <- 1 to 2) {
      val dir = graft.util.Artifacts.scratchDir(s"graft_treerace$trial").toString
      // real 3-bucket store: two files in bucket 1 (compactable)
      Seq((1L, 1, 100L, 1), (2L, 1, 200L, 1), (3L, 2, 300L, 2),
        (4L, 3, 400L, 3))
        .toDF("k", "nkd", "bal", "nk")
        .repartition(4, col("k"))
        .write.mode("overwrite").partitionBy("nk").parquet(s"$dir/v1")
      val walk = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$dir/v1"))
      val files = {
        import scala.jdk.CollectionConverters._
        try walk.iterator().asScala.map(_.toString)
          .filter(_.endsWith(".parquet")).toSeq.sorted
        finally walk.close()
      }
      val byBucket = Snapshots.statsEntries(spark, files)
        .groupBy(e => raw"nk=(\d+)".r.findFirstMatchIn(e).get.group(1).toInt)
      val refs1 = byBucket.toSeq.sortBy(_._1).map { case (nk, entries) =>
        val bm = s"$dir/bm_nk${nk}_v1.txt"
        java.nio.file.Files.write(java.nio.file.Paths.get(bm),
          entries.mkString("\n").getBytes("UTF-8"))
        val parts = entries.map(_.split('|'))
        MT.BucketRef(nk, bm, parts.map(_(5).toLong).sum,
          parts.map(_(3).toLong).min, parts.map(_(4).toLong).max)
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/mlist_1.txt"),
        refs1.map(r => s"${r.nk}|${r.bm}|${r.rows}|${r.balLo}|${r.balHi}")
          .mkString("\n").getBytes("UTF-8"))
      assert(refs1.find(_.nk == 1).get.rows === 2L)
      // DISJOINT race: credit bucket 2 vs compact bucket 1 — both rebase
      val failures =
        new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val merger = new Thread(() => {
        try MT.treeCredit(spark, dir, 2, 55L, "m")
        catch { case t: Throwable => failures.add(t) }
      })
      val compactor = new Thread(() => {
        try MT.treeCompactBucket(spark, dir, 1, "c")
        catch { case t: Throwable => failures.add(t) }
      })
      merger.start(); compactor.start(); merger.join(); compactor.join()
      import scala.jdk.CollectionConverters._
      assert(failures.isEmpty,
        s"trial $trial: ${failures.asScala.map(_.getMessage).mkString(";")}")
      assert(MT.treeHead(dir) === 3, "both tree writers must land")
      // bucket 3 was touched by NEITHER: its ref line rides both
      // rebases byte-identical (the O(touched) commit-metadata contract)
      def lineOf(v: Int, nk: Int): String = {
        val src = scala.io.Source.fromFile(s"$dir/mlist_$v.txt")
        try src.getLines().find(_.startsWith(s"$nk|")).get
        finally src.close()
      }
      assert(lineOf(3, 3) === lineOf(1, 3),
        "untouched bucket's list line must be reused verbatim")
      // converged state: credit applied once, compaction content-exact
      val (df, _, _) = MT.treePrunedRead(spark, dir, 3, 1, 3)
      val rows = df.select("k", "bal").as[(Long, Long)].collect().toMap
      assert(rows === Map(1L -> 100L, 2L -> 200L, 3L -> 355L, 4L -> 400L),
        s"trial $trial converged to $rows")
      // bucket 1 is now one file
      val bm1 = MT.mlist(dir, 3).find(_.nk == 1).get
      assert(MT.bucketFiles(bm1.bm).size === 1, "compaction must coalesce")
      // OVERLAP race: credit bucket 1 twice from the same read version —
      // exactly one lands per slot, the second retries onto the next
      val h = MT.treeHead(dir)
      val r1 = new Thread(() => {
        try MT.treeCredit(spark, dir, 1, 7L, "x")
        catch { case t: Throwable => failures.add(t) }
      })
      val r2 = new Thread(() => {
        try MT.treeCredit(spark, dir, 1, 9L, "y")
        catch { case t: Throwable => failures.add(t) }
      })
      r1.start(); r2.start(); r1.join(); r2.join()
      assert(failures.isEmpty, "conflict-retry must absorb the overlap")
      assert(MT.treeHead(dir) === h + 2,
        "both overlapping credits must land in some serial order")
      val (df2, _, _) = MT.treePrunedRead(spark, dir, h + 2, 1, 1)
      assert(df2.select("bal").as[Long].collect().sorted.toSeq ===
        Seq(116L, 216L), "both credits applied exactly once")
    }
  }

  test("tree-occ: the landed s32 store's v2 went through the claim " +
      "discipline — conflict metadata exists and a stale tree writer " +
      "over a touched bucket is rejected") {
    import graft.sources.{ManifestTree => MT}
    val dir = MT.s32Dir(spark, Sf0001)
    assert(MT.treeReplacedOf(dir, 2).nonEmpty &&
      MT.treeReplacedOf(dir, 2).forall(_ % 5 == 2),
      "v2 must record exactly the touched buckets")
    // a writer that read v1 and touches a bucket v2 rewrote conflicts
    val touchedNk = MT.treeReplacedOf(dir, 2).head
    val ref = MT.mlist(dir, 2).find(_.nk == touchedNk).get
    val ex = intercept[graft.sources.Snapshots.CommitConflictException] {
      MT.treeOccCommit(dir, 1, Seq(ref))
    }
    assert(ex.getMessage.contains("rewrote bucket"))
  }

  // ---- s40: column-id rename/drop -------------------------------------------

  test("s40: a rename is metadata-only and time travel includes schema " +
      "history; a DROP hides the column without touching bytes and a " +
      "re-add under a NEW id never resurrects old data") {
    import graft.sources.{ColumnIds, Snapshots}
    import spark.implicits._
    val dir = ColumnIds.s40Dir(spark, Sf0001)
    // the landed store: rename wrote no data file, pinned schemas per
    // version, post-rename write interoperates
    assert(Snapshots.manifest(dir, 2) === Snapshots.manifest(dir, 1))
    assert(ColumnIds.readResolved(spark, dir, 1).columns.toSeq ===
      Seq("k", "nkd", "bal"))
    assert(ColumnIds.readResolved(spark, dir, 3).columns.toSeq ===
      Seq("k", "nkd", "balance"))
    // scratch store for DROP + re-add: physical c1..c3, then drop c2,
    // then re-add a column named like the dropped one under id 4
    val sdir = graft.util.Artifacts.scratchDir("graft_colids2").toString
    Seq((1L, 10L, 100L), (2L, 20L, 200L)).toDF("c1", "c2", "c3")
      .coalesce(1).write.parquet(s"$sdir/v1")
    val files = Option(new java.io.File(s"$sdir/v1").listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
      .toSeq.sorted
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$sdir/colmap_1.txt"),
      "1|k|bigint\n2|score|bigint\n3|bal|bigint".getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$sdir/manifest_1.txt"),
      files.mkString("\n").getBytes("UTF-8"))
    // v2: DROP score — the map forgets id 2, bytes stay
    assert(ColumnIds.commitColmap(sdir, ColumnIds.dropCol(2)) === 2)
    assert(ColumnIds.readResolved(spark, sdir, 2).columns.toSeq ===
      Seq("k", "bal"), "dropped column must vanish from the table")
    assert(ColumnIds.readResolved(spark, sdir, 1).columns.contains("score"),
      "the pre-drop snapshot must still read it")
    // v3: re-add `score` under a FRESH id (4) — no file carries c4, so
    // the reborn column is typed nulls, NEVER the dropped id-2 data
    // (the name-reuse corruption ids exist to prevent)
    assert(ColumnIds.commitColmap(sdir,
      ColumnIds.addCol(4, "score", "bigint")) === 3)
    val reborn = ColumnIds.readResolved(spark, sdir, 3)
    assert(reborn.columns.toSeq === Seq("k", "bal", "score"))
    val got = reborn.orderBy(col("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(got.toSeq === Seq((1L, 100L, None), (2L, 200L, None)),
      "re-added column must be null, not the dropped id's bytes")
    // and the pre-drop snapshot still resolves the ORIGINAL id-2 data
    val old = ColumnIds.readResolved(spark, sdir, 1).orderBy(col("k"))
      .select(col("score")).collect().map(_.getLong(0))
    assert(old.toSeq === Seq(10L, 20L))
  }

  // ---- s41: sort-on-compact --------------------------------------------------

  test("s41: sorted compaction yields disjoint per-file value ranges and " +
      "a strictly tighter kept-file set; the pruned read stays exact") {
    import graft.sources.{SortedCompaction => SC, Snapshots}
    val dir = SC.s41Dir(spark, Sf001)
    // post-compaction bucket: exactly RangeFiles files, DISJOINT ranges
    val sep = java.io.File.separator
    val entries = Snapshots.manifestLines(dir, 2)
      .filter(_.contains(s"${sep}nk=${SC.CompactedNk}$sep"))
      .map(_.split('|'))
    assert(entries.length === SC.RangeFiles)
    val ranges = entries.map(p => (p(3).toLong, p(4).toLong))
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq(a, b) => assert(a._2 <= b._1,
        s"range files must not overlap: $a vs $b")
      case _ => ()
    }
    // tightening: the same selective read against v1 keeps MORE files
    val (_, keptB, _) = Snapshots.readVersionPruned(spark, dir, 1,
      SC.CompactedNk, SC.CompactedNk, Some(SC.BalMin))
    val (dfA, keptA, _) = Snapshots.readVersionPruned(spark, dir, 2,
      SC.CompactedNk, SC.CompactedNk, Some(SC.BalMin))
    assert(keptA < keptB,
      s"clustering must tighten the kept set ($keptA vs $keptB)")
    // exactness: pruned+filter equals unpruned+filter
    val full = spark.read.parquet(Snapshots.manifest(dir, 2): _*)
      .filter(col("nkd") === SC.CompactedNk && col("bal") >= SC.BalMin)
      .agg(count(lit(1)), sum(col("bal"))).first()
    val pruned = dfA
      .filter(col("nkd") === SC.CompactedNk && col("bal") >= SC.BalMin)
      .agg(count(lit(1)), sum(col("bal"))).first()
    assert(pruned === full)
  }

  // ---- manifest-entry codec ---------------------------------------------------

  test("codec: ManifestEntry parses all three dialects; absence pruning " +
      "is claimed only by the named one") {
    import graft.sources.ManifestEntry
    val bare = ManifestEntry.parse("/data/a.parquet")
    assert(bare.path === "/data/a.parquet" && bare.rows.isEmpty &&
      bare.stats.isEmpty && !bare.named)
    val pos = ManifestEntry.parse("/data/b.parquet|0|9|-500|900|42")
    assert(pos.path === "/data/b.parquet" && pos.rows === Some(42L))
    assert(pos.stats === Map("nkd" -> (("0", "9")),
      "bal" -> (("-500", "900"))) && !pos.named)
    val named = ManifestEntry.parse(
      "/data/c.parquet|n=7|k=1..99|bal=-1.5..2.5")
    assert(named.path === "/data/c.parquet" && named.rows === Some(7L))
    assert(named.stats === Map("k" -> (("1", "99")),
      "bal" -> (("-1.5", "2.5"))) && named.named)
    // a path is never confused with stats even when a later field is
    // malformed — the codec degrades to fewer stats, never a wrong path
    val odd = ManifestEntry.parse("/data/d.parquet|n=3|weird")
    assert(odd.path === "/data/d.parquet" && odd.rows === Some(3L) &&
      odd.stats.isEmpty)
  }

  // ---- mv5 / s43: MoR-aware differential + composed pruned read -----------

  test("mv5: the MoR-aware differential equals the full merge-on-read " +
      "recompute at EVERY version — including the zero-file-delta " +
      "delete commit and the purge (whose naive file delta would " +
      "double-subtract); s43's pruned MoR read is exact") {
    import graft.sources.{Snapshots, TxnDeletes}
    val dir = TxnDeletes.s38Dir(spark, Sf0001)
    def fullMor(v: Int): Set[(Int, Long, Long)] =
      TxnDeletes.readMoR(spark, dir, v)
        .groupBy(col("nkd").cast("int").as("nk"))
        .agg(count(lit(1)).as("n"), sum(col("bal")).as("cents"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .toSet
    (1 to Snapshots.head(dir)).foreach { v =>
      val got = TxnDeletes.mv5Refreshed(spark, dir, v)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(got === fullMor(v), s"differential diverged at v$v")
    }
    // the delete version's manifest delta really is EMPTY — the case
    // mv3's algebra cannot see — yet the MV changed
    assert(Snapshots.manifest(dir, 3) === Snapshots.manifest(dir, 2))
    assert(fullMor(3) !== fullMor(2),
      "the delete must change the logical MV with zero file delta")
    // purge is a logical no-op for the MV
    assert(fullMor(5) === fullMor(4))
    // s43: pruning composed with MoR — kept subset, no deleted row leaks
    val (df, kept, total) = TxnDeletes.readMoRPruned(spark, dir, 4, 3, 7)
    assert(kept < total)
    val doomed = spark.read
      .parquet(TxnDeletes.resolveDeletes(dir, 4): _*)
      .select(col("k")).collect().map(_.getLong(0)).toSet
    val keys = df.select(col("k")).collect().map(_.getLong(0)).toSet
    assert(keys.intersect(doomed).isEmpty, "a deleted row leaked")
  }

  // ---- mv6: streaming tailer over the merge-on-read store ------------------

  test("mv6: the tailer over the DELETE store applies the zero-file-" +
      "delta delete version exactly once across restart and replay; " +
      "every intermediate MV state equals the full MoR recompute") {
    import graft.streaming.{ChangeFeedStream => CFS}
    import graft.sources.{Snapshots, TxnDeletes}
    val store = TxnDeletes.s38Dir(spark, Sf0001)
    val root = graft.util.Artifacts.scratchDir("graft_mv6spec").toString
    val feed = s"$root/feed"
    val mv = s"$root/mv"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(feed))
    def land(v: Int): Unit = java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$store/manifest_$v.txt"),
      java.nio.file.Paths.get(s"$feed/manifest_$v.txt"))
    def mvState(v: Int): Set[(Int, Long, Long)] =
      spark.read.parquet(s"$mv/mv_$v").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    def fullMor(v: Int): Set[(Int, Long, Long)] =
      TxnDeletes.readMoR(spark, store, v)
        .groupBy(col("nkd").cast("int").as("nk"))
        .agg(count(lit(1)).as("n"), sum(col("bal")).as("cents"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .toSet
    // stop mid-lifecycle: the last applied version is the DELETE (v3),
    // whose manifest delta is empty — the state the naive tailer misses
    (1 to 3).foreach(land)
    CFS.runTail(spark, feed, store, mv, s"$root/ckp")
    assert(CFS.applied(mv) === Seq(1, 2, 3))
    assert(mvState(3) === fullMor(3),
      "the delete version must land in the MV despite an empty file delta")
    assert(mvState(3) !== mvState(2), "the delete must change the MV")
    // restart across increment + purge
    (4 to 5).foreach(land)
    CFS.runTail(spark, feed, store, mv, s"$root/ckp")
    assert(CFS.applied(mv) === (1 to 5))
    assert(mvState(5) === fullMor(5))
    assert(mvState(5) === mvState(4), "the purge is a logical no-op")
    // lost checkpoint: the ledger alone prevents re-applying the
    // non-idempotent delete/increment deltas
    CFS.runTail(spark, feed, store, mv, s"$root/ckp_fresh")
    assert(CFS.applied(mv) === (1 to 5) && mvState(5) === fullMor(5))
  }

  // ---- cdc5: MoR-aware row-level change feed -------------------------------

  test("cdc5: the MoR feed sees the zero-file-delta delete commit the " +
      "file-level feed is blind to; the purge range is a logical no-op; " +
      "net (1,4] ≡ (1,5] ≡ file-level (1,5]; the delete-version feed " +
      "opens only delete-bucket files") {
    import graft.sources.{Snapshots, TxnDeletes}
    val store = TxnDeletes.s38Dir(spark, Sf0001)
    // the blindness: v2→v3 is the delete commit — empty file delta
    assert(Snapshots.changeFeed(spark, store, 2, 3).isEmpty,
      "file-level feed must be empty over the delete commit")
    val d23 = TxnDeletes.morChangeFeed(spark, store, 2, 3).collect()
    val doomed = graft.Tables.customer(spark, Sf0001)
      .filter(col("c_nationkey") % 7 === 5 && col("c_custkey") % 19 === 0)
      .select(col("c_custkey")).collect().map(_.getLong(0)).toSet
    assert(d23.nonEmpty && d23.forall(_.getString(1) == "delete"))
    assert(d23.map(_.getLong(0)).toSet === doomed,
      "the MoR feed must emit exactly the deleted keys")
    // the purge: physical rewrite, logical no-op
    assert(TxnDeletes.morChangeFeed(spark, store, 4, 5).isEmpty)
    // net algebra: (1,4] ≡ (1,5], and both endpoints of (1,5] carry no
    // deletes so the MoR feed reduces to the file-level feed
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)), Option(r.get(3)))).toSet
    val f14 = rows(TxnDeletes.morChangeFeed(spark, store, 1, 4))
    val f15 = rows(TxnDeletes.morChangeFeed(spark, store, 1, 5))
    val file15 = rows(Snapshots.changeFeed(spark, store, 1, 5))
    assert(f14 === f15 && f15 === file15)
    // cost: the delete-version feed's data inputs are delete buckets only
    val dataFiles = TxnDeletes.morChangeFeed(spark, store, 2, 3)
      .inputFiles.map(f => new java.net.URI(f).getPath)
      .filter(_.contains("/nk="))
    assert(dataFiles.nonEmpty && dataFiles.forall { p =>
      val nk = p.split("/nk=")(1).split("/")(0).toInt
      nk % 7 == 5
    }, "the delete-version feed must open only the deleted keys' buckets")
  }

  // ---- s44: z-order compaction ---------------------------------------------

  test("s44: z-order rewrite makes BOTH columns' per-file stats " +
      "selective where the hash ingest prunes neither; the pruned box " +
      "read equals the full read filtered; the publish is a real OCC " +
      "commit") {
    import graft.sources.{ManifestEntry, Snapshots, ZOrderCompaction => Z}
    val dir = Z.s44Dir(spark, Sf0001)
    assert(Snapshots.head(dir) == 2)
    val (totV1, totV2) =
      (Snapshots.manifest(dir, 1).size, Snapshots.manifest(dir, 2).size)
    // sf0.001 domain: k ∈ [1, ~150] — spec uses its own in-domain box
    val (kLo, kHi, bLo, bHi) = (40L, 90L, 500000L, 999999L)
    assert(Z.keptFor(dir, 1, Seq(("k", kLo, kHi))).size == totV1 &&
      Z.keptFor(dir, 1, Seq(("bal", bLo, bHi))).size == totV1,
      "hash-partitioned ingest must be unprunable on either column")
    val keptK = Z.keptFor(dir, 2, Seq(("k", kLo, kHi)))
    val keptBal = Z.keptFor(dir, 2, Seq(("bal", bLo, bHi)))
    assert(keptK.size < totV2, "z-order must prune on k")
    assert(keptBal.size < totV2, "z-order must prune on bal")
    // soundness: pruned box read ≡ full head read + filter
    val box = Z.keptFor(dir, 2, Seq(("k", kLo, kHi), ("bal", bLo, bHi)))
    assert(box.toSet subsetOf keptK.toSet)
    def rows(files: Seq[String]) =
      spark.read.parquet(files.sorted: _*)
        .filter(col("k").between(kLo, kHi) && col("bal").between(bLo, bHi))
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(rows(box) === rows(Snapshots.manifest(dir, 2)),
      "pruning must neither drop nor duplicate a matching row")
    // the publish went through occCommit: replaced metadata exists and
    // names exactly v1's files; v2 entries are all named (stats-carrying)
    assert(new java.io.File(dir, "replaced_2.txt").exists())
    assert(Snapshots.manifestLines(dir, 2)
      .map(ManifestEntry.parse).forall(_.named))
  }

  // ---- orphan sweep: path-form robustness ----------------------------------

  test("orphan sweep: files referenced via file:-URI or store-relative " +
      "manifest entries are NOT treated as orphans (canonicalization " +
      "before the set difference)") {
    import graft.sources.Snapshots
    val dir = graft.util.Artifacts.scratchDir("graft_orphanforms").toString
    spark.range(3).selectExpr("id AS k").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/a")
    spark.range(3).selectExpr("id AS k").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/b")
    def leaf(sub: String): String =
      new java.io.File(s"$dir/$sub").listFiles()
        .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    val (fa, fb) = (leaf("a"), leaf("b"))
    // one file:-URI entry, one store-relative entry — both valid forms
    val rel = java.nio.file.Paths.get(dir)
      .relativize(java.nio.file.Paths.get(fb)).toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/manifest_1.txt"),
      s"file:$fa\n$rel".getBytes("UTF-8"))
    val (deleted, _) = Snapshots.deleteOrphanFiles(dir, 0L)
    assert(deleted == 0, "referenced files must survive whatever path " +
      "form the manifest carries")
    assert(new java.io.File(fa).exists() && new java.io.File(fb).exists())
    // a genuinely unreferenced file still goes
    spark.range(1).selectExpr("id AS k").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/stray")
    val (d2, _) = Snapshots.deleteOrphanFiles(dir, 0L)
    assert(d2 == 1 && new java.io.File(fa).exists() &&
      new java.io.File(fb).exists())
  }

  // ---- round-17 advice hardening ------------------------------------------

  test("occ: a commit whose base snapshot was vacuumed away FAILS with a " +
      "conflict instead of silently rebasing past lost metadata") {
    import graft.sources.Snapshots
    // scratch store: v1, then an occ commit to v2 (replaces fileA)
    val dir = graft.util.Artifacts.scratchDir("graft_occexpired").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/manifest_1.txt"),
      "fileA\nfileB".getBytes("UTF-8"))
    assert(Snapshots.occCommit(dir, 1, Set("fileA"), Seq("fileA2"))._1 === 2)
    // (a) the base manifest itself expired: a reader that pinned v1
    // before a vacuum must not commit over a head it cannot diff against
    val m1 = java.nio.file.Paths.get(s"$dir/manifest_1.txt")
    val m1Bytes = java.nio.file.Files.readAllBytes(m1)
    java.nio.file.Files.delete(m1)
    val exBase = intercept[Snapshots.CommitConflictException] {
      Snapshots.occCommit(dir, 1, Set("fileB"), Seq("fileB2"))
    }
    assert(exBase.getMessage.contains("expired"))
    java.nio.file.Files.write(m1, m1Bytes) // restore
    // (b) an intervening version's replaced-file metadata expired: the
    // overlap check can no longer SEE v2's rewrites, so it must fail
    // conservatively — before this fix it silently under-detected and a
    // concurrent rewrite of fileA would have been lost
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$dir/replaced_2.txt"))
    val exMeta = intercept[Snapshots.CommitConflictException] {
      Snapshots.occCommit(dir, 1, Set("fileB"), Seq("fileB2"))
    }
    assert(exMeta.getMessage.contains("conflict metadata expired"))
    // a fresh writer reading the CURRENT head is unaffected
    assert(Snapshots.occCommit(dir, 2, Set("fileB"), Seq("fileB2"))._1 === 3)
  }

  test("s36: tableHistory tolerates bare-path (stats-less) manifest " +
      "entries — null row count, never an index error") {
    import graft.sources.Snapshots
    val dir = graft.util.Artifacts.scratchDir("graft_histbare").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/manifest_1.txt"),
      "/data/fileA|0|9|100|200|42\n/data/fileB".getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/manifest_2.txt"),
      ("/data/fileA|0|9|100|200|42\n" +
        "/data/fileC|10|19|300|400|7").getBytes("UTF-8"))
    val rows = Snapshots.tableHistory(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getLong(3), r.getLong(4)))
    assert(rows.toSeq === Seq(
      (1, 2L, None, 0L, 0L),          // bare entry → row count unknown
      (2, 2L, Some(49L), 1L, 1L)))    // full stats → exact
  }

  test("wap: rejected and out-raced candidates clean up their stage " +
      "files; publishes record replaced-file metadata; aged claim/audit " +
      "orphans are swept without touching the data-file counts") {
    import graft.sources.{Snapshots, WriteAuditPublish}
    import spark.implicits._
    val dir = graft.util.Artifacts.scratchDir("graft_wapclean").toString
    Seq((1L, 10L), (2L, 20L)).toDF("k", "bal")
      .coalesce(1).write.parquet(s"$dir/v1")
    val m1 = Option(new java.io.File(s"$dir/v1").listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
      .toSeq.sorted
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/manifest_1.txt"),
      m1.mkString("\n").getBytes("UTF-8"))
    def stageFiles(): Seq[String] =
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .map(_.getName).filter(_.contains(".txt.audit.")).toSeq
    // red audit (duplicate key): rejected AND its stage file removed now
    Seq((1L, 10L), (1L, 10L)).toDF("k", "bal")
      .coalesce(1).write.parquet(s"$dir/dirty")
    val dirty = Option(new java.io.File(s"$dir/dirty").listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
      .toSeq.sorted
    val log = new StringBuilder
    assert(!WriteAuditPublish.auditedPublish(spark, dir, dirty, log))
    assert(stageFiles().isEmpty,
      s"red audit left stage files: ${stageFiles()}")
    // green publish: conflict metadata (replaced_2.txt) durable — a
    // later occCommit across the WAP version sees its rewrites
    Seq((1L, 11L), (2L, 20L)).toDF("k", "bal")
      .coalesce(1).write.parquet(s"$dir/clean")
    val clean = Option(new java.io.File(s"$dir/clean").listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
      .toSeq.sorted
    assert(WriteAuditPublish.auditedPublish(spark, dir, clean, log))
    assert(stageFiles().isEmpty, "publish must consume its stage file")
    assert(Snapshots.replacedOf(dir, 2) === m1.toSet,
      "the WAP publish must record what it replaced")
    val ex = intercept[Snapshots.CommitConflictException] {
      Snapshots.occCommit(dir, 1, Set(m1.head), Seq("/tmp/x.parquet"))
    }
    assert(ex.getMessage.contains("rewrote"),
      "occCommit must SEE the WAP version's rewrites, not miss them")
    // aged claim + abandoned audit files are swept as metadata orphans;
    // the returned counts stay the data-file contract. A publish removes
    // its own claim, so the young claim is planted: an in-flight
    // publisher's claim on the next slot
    val youngClaim = java.nio.file.Paths.get(s"$dir/manifest_3.txt.claim")
    java.nio.file.Files.createFile(youngClaim)
    val oldClaim = java.nio.file.Paths.get(s"$dir/manifest_9.txt.claim")
    val oldAudit = java.nio.file.Paths.get(s"$dir/manifest_9.txt.audit.77")
    java.nio.file.Files.createFile(oldClaim)
    java.nio.file.Files.write(oldAudit, "x".getBytes("UTF-8"))
    val aged = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3600000L)
    java.nio.file.Files.setLastModifiedTime(oldClaim, aged)
    java.nio.file.Files.setLastModifiedTime(oldAudit, aged)
    // the dirty candidate's parquet is an unreferenced DATA orphan (young)
    val (deleted, young) = Snapshots.deleteOrphanFiles(dir, 60000L)
    assert(!java.nio.file.Files.exists(oldClaim) &&
      !java.nio.file.Files.exists(oldAudit),
      "aged metadata orphans must be swept")
    assert(deleted === 0 && young === dirty.size,
      s"metadata sweep must not leak into data counts: ($deleted, $young)")
    // the green publish left no claim; the young one survives the sweep
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/manifest_2.txt.claim")),
      "a publish must remove its consumed claim")
    assert(java.nio.file.Files.exists(youngClaim),
      "a young claim (possible in-flight publisher) must be kept")
  }

  test("cdc: changeFeed from an EMPTY bootstrap manifest returns the full " +
      "insert set instead of a NoSuchElementException; an all-pruned " +
      "tree read on an empty list fails with a clear message") {
    import graft.sources.{ManifestTree, Snapshots}
    import spark.implicits._
    val dir = graft.util.Artifacts.scratchDir("graft_cdcempty").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/manifest_0.txt"), Array.emptyByteArray)
    Seq((1L, 100L), (2L, 200L)).toDF("k", "bal")
      .coalesce(1).write.parquet(s"$dir/v1")
    val files = Option(new java.io.File(s"$dir/v1").listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
      .toSeq.sorted
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/manifest_1.txt"),
      files.mkString("\n").getBytes("UTF-8"))
    val feed = Snapshots.changeFeed(spark, dir, 0, 1)
      .orderBy(col("k")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    assert(feed.toSeq === Seq((1L, "insert", 100L), (2L, "insert", 200L)))
    // and the tree guard: an empty manifest list names the store clearly
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/mlist_1.txt"), Array.emptyByteArray)
    val ex = intercept[IllegalArgumentException] {
      ManifestTree.treePrunedRead(spark, dir, 1, 0, 5)
    }
    assert(ex.getMessage.contains("empty manifest list"))
  }

  // ---- round 18: sidecar-aware maintenance ---------------------------------

  /** One-bucket scratch delete store: v1 (k=1..2, nk=1) + manifest_1. */
  private def miniDeleteStore(tag: String): String = {
    import spark.implicits._
    val dir = graft.util.Artifacts.scratchDir(tag).toString
    Seq((1L, 1, 100L, 1), (2L, 1, 200L, 1), (3L, 2, 300L, 2))
      .toDF("k", "nkd", "bal", "nk")
      .repartition(col("nk"))
      .write.mode("overwrite").partitionBy("nk").parquet(s"$dir/v1")
    val m1 = {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$dir/v1"))
      try walk.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toSeq.sorted
      finally walk.close()
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/manifest_1.txt"),
      m1.mkString("\n").getBytes("UTF-8"))
    dir
  }

  private def ageAll(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val aged = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3600000L)
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try walk.iterator().asScala.toList.foreach(p =>
      java.nio.file.Files.setLastModifiedTime(p, aged))
    finally walk.close()
  }

  test("orphan sweep on a merge-on-read store: LIVE delete-sidecar " +
      "payload files are referenced (never swept) even though no " +
      "manifest lists them; a true data orphan still goes; MoR reads " +
      "are unchanged") {
    import graft.sources.{Snapshots, TxnDeletes}
    import spark.implicits._
    val dir = miniDeleteStore("graft_morsweep")
    assert(TxnDeletes.commitEqualityDelete(spark, dir,
      Seq((1L, 1)).toDF("k", "nk"), "d") === 2)
    val dvFiles = TxnDeletes.resolveDeletes(dir, 2)
    assert(dvFiles.nonEmpty)
    // a genuine orphan: a staged parquet no manifest or sidecar lists
    Seq((9L, 9, 900L)).toDF("k", "nkd", "bal")
      .coalesce(1).write.parquet(s"$dir/stale_attempt")
    val before = TxnDeletes.readMoR(spark, dir, 2)
      .select("k").as[Long].collect().toSet
    assert(before === Set(2L, 3L))
    ageAll(dir) // worst case: everything old enough to collect
    val (deleted, _) = Snapshots.deleteOrphanFiles(dir, 60000L)
    assert(deleted >= 1, "the true orphan must be swept")
    dvFiles.foreach(f => assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(f)),
      s"LIVE delete payload swept as orphan: $f"))
    val after = TxnDeletes.readMoR(spark, dir, 2)
      .select("k").as[Long].collect().toSet
    assert(after === before,
      "the sweep must never unmask deleted rows")
  }

  test("orphan sweep: an aged claim for an UNPUBLISHED slot takes its " +
      "deletes_/colmap_/replaced_ sidecars with it — a later writer " +
      "retaking the slot can never inherit a dead claimant's sidecar; " +
      "a PUBLISHED version's sidecars survive its aged claim") {
    import graft.sources.{Snapshots, TxnDeletes}
    import spark.implicits._
    val dir = miniDeleteStore("graft_claimsweep")
    assert(TxnDeletes.commitEqualityDelete(spark, dir,
      Seq((1L, 1)).toDF("k", "nk"), "d") === 2)
    // a crashed claimant: claim + sidecars for slot 9, no manifest_9
    def p(n: String) = java.nio.file.Paths.get(s"$dir/$n")
    java.nio.file.Files.createFile(p("manifest_9.txt.claim"))
    java.nio.file.Files.write(p("deletes_9.txt"),
      "/tmp/ghost.parquet".getBytes("UTF-8"))
    java.nio.file.Files.write(p("colmap_9.txt"),
      "1|k|bigint".getBytes("UTF-8"))
    java.nio.file.Files.write(p("replaced_9.txt"), Array.emptyByteArray)
    ageAll(dir)
    Snapshots.deleteOrphanFiles(dir, 60000L)
    Seq("manifest_9.txt.claim", "deletes_9.txt", "colmap_9.txt",
        "replaced_9.txt").foreach(n =>
      assert(!java.nio.file.Files.exists(p(n)),
        s"dead claimant's $n must be swept with the claim"))
    // the published v2's claim was swept, but its sidecar is LIVE
    assert(!java.nio.file.Files.exists(p("manifest_2.txt.claim")))
    assert(java.nio.file.Files.exists(p("deletes_2.txt")),
      "a published version owns its sidecar — the sweep must keep it")
    assert(TxnDeletes.resolveDeletes(dir, Snapshots.head(dir)).nonEmpty)
  }

  test("sidecar retention: vacuum keeps the newest sidecar at or below " +
      "each retained version (checked invariant), sweeps superseded " +
      "ones, and the freed payloads become collectable orphans") {
    import graft.sources.{Snapshots, TxnDeletes}
    import spark.implicits._
    val dir = miniDeleteStore("graft_sideret")
    // v2: delete k=1; v3: the PURGE (sidecar_3 = empty — it supersedes
    // sidecar_2 WITHOUT carrying its dv files); v4: increment on bucket 2
    assert(TxnDeletes.commitEqualityDelete(spark, dir,
      Seq((1L, 1)).toDF("k", "nk"), "d2") === 2)
    assert(TxnDeletes.purgeDeletes(spark, dir, "p3")._1 === 3)
    assert(Snapshots.cowMerge(spark, dir,
      Seq((2, 3L, "A", 50L)).toDF("nk", "k", "op", "val"), "i")._1 === 4)
    val resolvedBefore = TxnDeletes.resolveDeletes(dir, 4)
    val morBefore = TxnDeletes.readMoR(spark, dir, 4)
      .select("k", "bal").as[(Long, Long)].collect().toSet
    assert(morBefore === Set((2L, 200L), (3L, 350L)))
    // tag-free vacuum retains only the head (v4) → its resolution
    // target is sidecar_3; sidecar_2 is superseded and must go
    val (expired, _) = Snapshots.tagVacuum(dir)
    assert(expired === Seq(1, 2, 3))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/deletes_2.txt")),
      "superseded sidecar must be swept")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/deletes_3.txt")),
      "the retained head's resolution target must survive")
    assert(TxnDeletes.resolveDeletes(dir, 4) === resolvedBefore,
      "retention must not change the head's delete resolution")
    assert(TxnDeletes.readMoR(spark, dir, 4)
      .select("k", "bal").as[(Long, Long)].collect().toSet === morBefore)
    // the superseded sidecar's payloads (d2's dv files minus those d3
    // still lists) are now true orphans — the sweep collects them
    ageAll(dir)
    val (deleted, _) = Snapshots.deleteOrphanFiles(dir, 60000L)
    assert(deleted >= 1, "freed payloads must become collectable")
    assert(TxnDeletes.readMoR(spark, dir, 4)
      .select("k", "bal").as[(Long, Long)].collect().toSet === morBefore)
  }

  test("concurrent equality deletes: the sidecar merges against the " +
      "ACTUAL parent at publish time — both delete sets survive, " +
      "whichever order the claims land in") {
    import graft.sources.{Snapshots, TxnDeletes}
    import spark.implicits._
    for (trial <- 1 to 2) {
      val dir = miniDeleteStore(s"graft_deldelrace$trial")
      val failures =
        new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      def deleter(k: Long, nk: Int, tag: String) = new Thread(() => {
        try TxnDeletes.commitEqualityDelete(spark, dir,
          Seq((k, nk)).toDF("k", "nk"), tag)
        catch { case t: Throwable => failures.add(t) }
      })
      val a = deleter(1L, 1, "da"); val b = deleter(2L, 1, "db")
      a.start(); b.start(); a.join(); b.join()
      import scala.jdk.CollectionConverters._
      assert(failures.isEmpty,
        failures.asScala.map(_.getMessage).mkString("; "))
      assert(Snapshots.head(dir) === 3)
      // a stale-head sidecar would carry only the second delete's files
      val morKeys = TxnDeletes.readMoR(spark, dir, 3)
        .select("k").as[Long].collect().toSet
      assert(morKeys === Set(3L),
        s"trial $trial: a concurrent delete was lost (kept $morKeys)")
    }
  }

  test("concurrent colmap edits: each commit transforms the ACTUAL " +
      "parent map at publish time — rename and add both survive") {
    import graft.sources.{ColumnIds, Snapshots}
    import spark.implicits._
    for (trial <- 1 to 2) {
      val dir = graft.util.Artifacts.scratchDir(s"graft_cmrace$trial").toString
      Seq((1L, 10L)).toDF("c1", "c3").coalesce(1).write.parquet(s"$dir/v1")
      val files = Option(new java.io.File(s"$dir/v1").listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
        .toSeq.sorted
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/colmap_1.txt"),
        "1|k|bigint\n3|bal|bigint".getBytes("UTF-8"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/manifest_1.txt"),
        files.mkString("\n").getBytes("UTF-8"))
      val failures =
        new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      def committer(edit: Seq[(Int, String, String)] =>
          Seq[(Int, String, String)]) = new Thread(() => {
        try ColumnIds.commitColmap(dir, edit)
        catch { case t: Throwable => failures.add(t) }
      })
      val a = committer(ColumnIds.renameCol(3, "balance"))
      val b = committer(ColumnIds.addCol(7, "score", "bigint"))
      a.start(); b.start(); a.join(); b.join()
      import scala.jdk.CollectionConverters._
      assert(failures.isEmpty,
        failures.asScala.map(_.getMessage).mkString("; "))
      assert(Snapshots.head(dir) === 3)
      val cols = ColumnIds.readResolved(spark, dir, 3).columns.toSet
      assert(cols === Set("k", "balance", "score"),
        s"trial $trial: a concurrent schema edit was lost ($cols)")
    }
  }

  test("date stat bounds: named entries with DateType columns prune " +
      "lexicographically (ISO-safe) instead of throwing on numeric " +
      "parse; numeric columns still compare numerically (10 > 9)") {
    import graft.sources.{ManifestEntry, SchemaStats}
    // numeric: lexicographic would say "10" < "9" — must be numeric
    assert(ManifestEntry.boundCompare("10", "9") > 0)
    assert(ManifestEntry.boundCompare("-3", "2") < 0)
    // dates: BigDecimal would throw — must fall back to ISO order
    assert(ManifestEntry.boundCompare("1995-06-01", "1995-12-31") < 0)
    assert(ManifestEntry.boundsIntersect(("1995-01-01", "1995-06-30"),
      "1995-06-01", "1995-12-31"))
    assert(!ManifestEntry.boundsIntersect(("1994-01-01", "1994-12-31"),
      "1995-06-01", "1995-12-31"))
    // end-to-end: a store with a date column, pruned on it
    import spark.implicits._
    val dir = graft.util.Artifacts.scratchDir("graft_dateprune").toString
    def land(sub: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("k", "ds")
        .select(col("k"), col("ds").cast("date").as("d"))
        .coalesce(1).write.parquet(s"$dir/$sub")
    land("f1", Seq((1L, "1994-03-01"), (2L, "1994-09-01")))
    land("f2", Seq((3L, "1995-07-15"), (4L, "1995-11-30")))
    val files = Seq("f1", "f2").flatMap(sub =>
      Option(new java.io.File(s"$dir/$sub").listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath))
      .sorted
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/manifest_1.txt"),
      SchemaStats.entries(spark, files).mkString("\n").getBytes("UTF-8"))
    val (df, kept, total) = SchemaStats.prunedBy(spark, dir, 1, "d",
      "1995-06-01", "1995-12-31")
    assert(total === 2 && kept === 1,
      s"date prune must skip the 1994 file ($kept/$total kept)")
    assert(df.select("k").as[Long].collect().toSet === Set(3L, 4L))
  }

  // ---- z-order maintenance racing writers ----------------------------------

  /** Two-bucket scratch store, 4 files per bucket (z-order needs files
    * to consolidate), manifest_1 with positional stats.
    */
  private def miniZStore(tag: String): String = {
    import spark.implicits._
    val dir = graft.util.Artifacts.scratchDir(tag).toString
    val rows = (1L to 50L).map(k =>
      (k, if (k <= 40) 1 else 2, k * 10L, if (k <= 40) 1 else 2))
    rows.toDF("k", "nkd", "bal", "nk")
      .repartitionByRange(4, col("k"))
      .write.mode("overwrite").partitionBy("nk").parquet(s"$dir/v1")
    val m1 = {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$dir/v1"))
      try walk.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toSeq.sorted
      finally walk.close()
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/manifest_1.txt"),
      m1.mkString("\n").getBytes("UTF-8"))
    dir
  }

  test("z-order bucket rewrite: consolidates one bucket's files with " +
      "named per-column bounds (in-bucket k-range reads prune a strict " +
      "subset), shares the other bucket byte-identical, values exact") {
    import graft.sources.{Snapshots, ZOrderCompaction => ZO}
    import spark.implicits._
    val sep = java.io.File.separator
    val dir = miniZStore("graft_zbucket")
    val before = spark.read.parquet(Snapshots.manifest(dir, 1): _*)
      .select("k", "bal").as[(Long, Long)].collect().toSet
    assert(ZO.zOrderCompactBucket(spark, dir, 1, "z", 4)._1 === 2)
    val m2 = Snapshots.manifest(dir, 2)
    // bucket 2 shared by path; bucket 1 fully rewritten
    val b2 = Snapshots.manifest(dir, 1).filter(_.contains(s"${sep}nk=2$sep"))
    assert(b2.forall(m2.contains), "untouched bucket must ride the rebase")
    assert(m2.filter(_.contains(s"${sep}nk=1$sep"))
      .forall(f => !Snapshots.manifest(dir, 1).contains(f)))
    // values exact across the rewrite
    val after = spark.read.parquet(m2: _*)
      .select("k", "bal").as[(Long, Long)].collect().toSet
    assert(after === before)
    // named bounds prune in-bucket k-range reads to a strict subset
    val b1Files = m2.filter(_.contains(s"${sep}nk=1$sep"))
    val kept = ZO.keptFor(dir, 2, Seq(("k", 1L, 8L)))
      .filter(_.contains(s"${sep}nk=1$sep"))
    assert(kept.nonEmpty && kept.size < b1Files.size,
      s"z-rewrite must make k selective in-bucket " +
        s"(${kept.size}/${b1Files.size})")
  }

  test("z-order maintenance racing a live writer: a same-bucket " +
      "increment and the bucket z-rewrite serialize through OCC — " +
      "conflict, retry from the new head, both land exactly once") {
    import graft.sources.{Snapshots, ZOrderCompaction => ZO}
    import spark.implicits._
    for (trial <- 1 to 2) {
      val dir = miniZStore(s"graft_zrace$trial")
      val failures =
        new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val zorderer = new Thread(() => {
        try ZO.zOrderCompactBucket(spark, dir, 1, "z", 4)
        catch { case t: Throwable => failures.add(t) }
      })
      val incrementer = new Thread(() => {
        try Snapshots.cowMerge(spark, dir,
          Seq((1, 7L, "A", 5L)).toDF("nk", "k", "op", "val"), "i")
        catch { case t: Throwable => failures.add(t) }
      })
      zorderer.start(); incrementer.start()
      zorderer.join(); incrementer.join()
      import scala.jdk.CollectionConverters._
      assert(failures.isEmpty, s"trial $trial: " +
        failures.asScala.map(_.getMessage).mkString("; "))
      assert(Snapshots.head(dir) === 3,
        "both writers must land (v2 and v3) in some serial order")
      // the increment survives whichever side retried
      val rows = spark.read
        .parquet(Snapshots.manifest(dir, 3): _*)
        .select("k", "bal").as[(Long, Long)].collect().toMap
      assert(rows(7L) === 75L,
        s"trial $trial: increment lost under the race (${rows(7L)})")
      assert(rows.size === 50 && rows(41L) === 410L)
    }
  }

  test("s45: the delete sidecar survives the z-order compaction " +
      "(resolution unchanged across the rewrite), deleted rows ride " +
      "the rewrite physically but never reach a MoR read") {
    import graft.sources.{Snapshots, TxnDeletes, ZOrderCompaction => ZO}
    import spark.implicits._
    val dir = ZO.s45Dir(spark, Sf0001)
    assert(Snapshots.head(dir) === 3)
    assert(TxnDeletes.resolveDeletes(dir, 3) ===
      TxnDeletes.resolveDeletes(dir, 2),
      "the compaction must neither drop nor rewrite the sidecar")
    val doomed = spark.read
      .parquet(TxnDeletes.resolveDeletes(dir, 3): _*)
      .select("k").as[Long].collect().toSet
    assert(doomed.nonEmpty)
    val phys = spark.read.parquet(Snapshots.manifest(dir, 3): _*)
      .select("k").as[Long].collect().toSet
    assert(doomed.subsetOf(phys),
      "the delete-agnostic rewrite must carry masked rows physically")
    val mor = TxnDeletes.readMoR(spark, dir, 3)
      .select("k").as[Long].collect().toSet
    assert((mor intersect doomed).isEmpty,
      "a MoR read of the compacted store must keep masking")
    assert(mor === phys -- doomed)
    // the z-rewrite made each dimension individually prunable
    val tot = Snapshots.manifest(dir, 3).size
    assert(ZO.keptFor(dir, 3,
      Seq(("k", ZO.KRange._1, ZO.KRange._2))).size < tot)
    assert(ZO.keptFor(dir, 3,
      Seq(("bal", ZO.BalRange._1, ZO.BalRange._2))).size < tot)
  }

  test("cdc7: the range-scoped feed keeps a strict subset of the delta " +
      "files (driver-side stats prune) and equals the unpruned feed " +
      "restricted to the range's buckets") {
    import graft.sources.Snapshots
    import spark.implicits._
    val dir = Snapshots.s22Dir(spark, Sf0001)
    val (feed, kept, total) =
      Snapshots.changeFeedPruned(spark, dir, 1, 2, 10L, 14L)
    assert(kept > 0 && kept < total,
      s"range prune must keep a strict non-empty subset ($kept/$total)")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "change_type", "bal_before", "bal_after").collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    val nkOf = spark.read.parquet(
        (Snapshots.manifest(dir, 1) ++ Snapshots.manifest(dir, 2))
          .distinct.sorted: _*)
      .select(col("k"), col("nkd")).distinct()
      .filter(col("nkd").between(10, 14))
      .select("k")
    val expected = rows(Snapshots.changeFeed(spark, dir, 1, 2)
      .join(nkOf, "k"))
    assert(expected.nonEmpty && rows(feed) === expected,
      "the pruned feed must equal the full feed restricted to the range")
  }

  test("s46 reclaim: only files carrying a dropped column are rewritten " +
      "(slim files ride the rebase by path), the bytes are gone from " +
      "the head's footers, values survive, and the pre-drop snapshot " +
      "still resolves the dropped column") {
    import graft.sources.{ColumnIds, Snapshots}
    import spark.implicits._
    val dir = graft.util.Artifacts.scratchDir("graft_reclaim").toString
    // f1 carries c2; f2 is already slim (written after a hypothetical
    // earlier reclaim) — the mixed-footer store reclaim must handle
    Seq((1L, 10L, 100L), (2L, 20L, 200L)).toDF("c1", "c2", "c3")
      .coalesce(1).write.parquet(s"$dir/f1")
    Seq((3L, 300L)).toDF("c1", "c3")
      .coalesce(1).write.parquet(s"$dir/f2")
    def filesOf(sub: String) =
      Option(new java.io.File(s"$dir/$sub").listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
        .toSeq.sorted
    val (f1, f2) = (filesOf("f1"), filesOf("f2"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/colmap_1.txt"),
      "1|k|bigint\n2|score|bigint\n3|bal|bigint".getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/manifest_1.txt"),
      (f1 ++ f2).mkString("\n").getBytes("UTF-8"))
    assert(ColumnIds.commitColmap(dir, ColumnIds.dropCol(2)) === 2)
    assert(ColumnIds.reclaimDroppedColumns(spark, dir, "rc")._1 === 3)
    val m3 = Snapshots.manifest(dir, 3)
    assert(f2.forall(m3.contains),
      "an already-slim file must ride the rebase untouched")
    assert(f1.forall(f => !m3.contains(f)), "carriers must be rewritten")
    m3.foreach { f =>
      assert(!spark.read.parquet(f).schema.fieldNames.contains("c2"),
        s"dropped bytes must be gone from every head footer: $f")
    }
    val head = ColumnIds.readResolved(spark, dir, 3)
      .orderBy(col("k")).select("k", "bal").as[(Long, Long)].collect()
    assert(head.toSeq === Seq((1L, 100L), (2L, 200L), (3L, 300L)),
      "reclaim must not change the logical table")
    // history intact: v1 still resolves the dropped column's values
    val v1 = ColumnIds.readResolved(spark, dir, 1)
      .filter(col("score").isNotNull)
      .orderBy(col("k")).select("k", "score").as[(Long, Long)].collect()
    assert(v1.toSeq === Seq((1L, 10L), (2L, 20L)))
    // re-add after reclaim: typed nulls, never old bytes
    assert(ColumnIds.commitColmap(dir,
      ColumnIds.addCol(4, "score", "bigint")) === 4)
    assert(ColumnIds.readResolved(spark, dir, 4)
      .filter(col("score").isNotNull).count() === 0L)
  }

  // ---- cdc6: row-level streaming CDC ---------------------------------------

  test("cdc6: the CDC tailer lands one row-level change set per commit " +
      "(delete rows despite a zero file delta; the purge set is empty) " +
      "exactly once across restart and lost checkpoint; each landed set " +
      "equals the direct per-range feed") {
    import graft.streaming.{ChangeFeedStream => CFS}
    import graft.sources.{Snapshots, TxnDeletes}
    val store = TxnDeletes.s38Dir(spark, Sf0001)
    val root = graft.util.Artifacts.scratchDir("graft_cdc6spec").toString
    val feed = s"$root/feed"
    val cdc = s"$root/cdc"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(feed))
    def land(v: Int): Unit = java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$store/manifest_$v.txt"),
      java.nio.file.Paths.get(s"$feed/manifest_$v.txt"))
    def changeSet(v: Int): Set[(Long, String)] =
      spark.read.parquet(s"$cdc/changes_$v").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    def tail(ckp: String): Unit = CFS.runTail(spark, feed, store, cdc,
      ckp, Some(v => CFS.applyCdcVersion(spark, store, cdc, v)))
    // phase 1: stop AT the delete commit — the version whose file delta
    // is empty; its change set must still carry the delete rows
    (1 to 3).foreach(land)
    tail(s"$root/ckp")
    assert(CFS.applied(cdc) === Seq(1, 2, 3))
    assert(changeSet(3).nonEmpty &&
      changeSet(3).forall(_._2 == "delete"),
      "the zero-file-delta delete commit must emit delete rows")
    assert(changeSet(2).nonEmpty &&
      changeSet(2).forall(_._2 == "update"))
    // phase 2: restart across increment + purge
    (4 to 5).foreach(land)
    tail(s"$root/ckp")
    assert(CFS.applied(cdc) === (1 to 5))
    assert(changeSet(5).isEmpty,
      "the purge is a logical no-op — its change set must be empty")
    // every landed set equals the direct per-range MoR feed
    (2 to 5).foreach { v =>
      val direct = TxnDeletes.morChangeFeed(spark, store, v - 1, v)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(changeSet(v) === direct, s"v$v change set diverged")
    }
    // phase 3: lost checkpoint — markers alone prevent re-landing (the
    // mtime of a landed set must not move under the replay)
    def mtimeOf(v: Int): Long = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$cdc/changes_$v")).toMillis
    val before = (2 to 5).map(mtimeOf)
    tail(s"$root/ckp_fresh")
    assert(CFS.applied(cdc) === (1 to 5))
    assert((2 to 5).map(mtimeOf) === before,
      "a replayed feed must not re-land any change set")
    // the net fold over the log (the registered query's algebra) equals
    // the direct net feed — updates folded to one row, deletes kept
    import org.apache.spark.sql.functions.{struct, lit => flit}
    val log = (2 to 4).map(v =>
        spark.read.parquet(s"$cdc/changes_$v").withColumn("v", flit(v)))
      .reduce(_.unionByName(_))
    val net = log.groupBy(col("k"))
      .agg(min(struct(col("v"), col("bal_before")))
          .getField("bal_before").as("bal_before"),
        max(struct(col("v"), col("bal_after")))
          .getField("bal_after").as("bal_after"))
      .filter(col("bal_before").isNull || col("bal_after").isNull ||
        col("bal_before") =!= col("bal_after"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    val directNet = TxnDeletes.morChangeFeed(spark, store, 1, 4)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    assert(net === directNet,
      "the folded per-commit log must equal the direct net feed")
  }
}
