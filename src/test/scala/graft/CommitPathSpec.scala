package graft

import graft.sources.{ManifestTree => MT, Snapshots, Store, TxnPair,
  WriteAuditPublish => WAP}

/** The manifest stores' one rewrite-and-commit path: the slot claim a
  * publish consumes is removed (without losing the slot guard), every
  * publisher leaves no claim behind, concurrent disjoint commits all
  * land, the one conflict-retry loop gives up after
  * [[Snapshots.MaxAttempts]], the z-order layout's z-value is the
  * Morton code of its grid coordinates, and s13's compaction writes the
  * same bytes in the same row order from any fresh fragment directory.
  */
class CommitPathSpec extends SparkSpec {

  private def scratch(tag: String): String =
    graft.util.Artifacts.scratchDir(tag).toString

  private def claims(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.endsWith(".claim")).sorted

  private def bytes(path: String): Seq[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)).toSeq

  test("a publish removes its consumed claim, and a later claimant of the " +
      "published slot runs nothing and leaves the version untouched") {
    val dir = scratch("graft_claimgone")
    Store.writeManifest(dir, 1, Seq("fileA", "fileB"))
    assert(Snapshots.occCommit(dir, 1, Set("fileA"), Seq("fileA2"))._1 === 2)
    assert(claims(dir).isEmpty, s"consumed claims left: ${claims(dir)}")
    val v2 = bytes(s"$dir/manifest_2.txt")
    var ran = false
    val won = Store.claimSlot(dir, "manifest", 2, 200L, "late claim") {
      ran = true
    }
    assert(!won && !ran, "a published slot must never be published again")
    assert(bytes(s"$dir/manifest_2.txt") === v2)
    assert(claims(dir).isEmpty, s"the late claim was left: ${claims(dir)}")
    // the slot guard still holds: the next commit takes slot 3
    assert(Snapshots.occCommit(dir, 2, Set("fileB"), Seq("fileB2"))._1 === 3)
    assert(Snapshots.manifest(dir, 3) === Seq("fileA2", "fileB2"))
  }

  test("two writers with stale heads race for a fresh slot after cleanup: " +
      "exactly one publishes, and neither overwrites a published version") {
    val dir = scratch("graft_claimstale")
    Store.writeManifest(dir, 1, Seq("f"))
    assert(Snapshots.occCommit(dir, 1, Set.empty, Seq("g"))._1 === 2)
    val v2 = bytes(s"$dir/manifest_2.txt")
    // both read head 1: their stale slot is 2, then both try slot 3
    for (slot <- Seq(2, 3)) {
      val bodies = new java.util.concurrent.atomic.AtomicInteger(0)
      val wins = (1 to 2).map { w =>
        val t = new java.util.concurrent.FutureTask[Boolean](() =>
          Store.claimSlot(dir, "manifest", slot, 5000L, s"writer $w") {
            bodies.incrementAndGet()
            Store.writeLinesAtomic(s"$dir/manifest_$slot.txt", Seq(s"w$w"))
          })
        new Thread(t).start()
        t
      }.map(_.get())
      val expected = if (slot == 2) 0 else 1
      assert(wins.count(identity) === expected && bodies.get === expected,
        s"slot $slot: wins $wins, bodies ran ${bodies.get}")
    }
    assert(bytes(s"$dir/manifest_2.txt") === v2)
    assert(Seq(Seq("w1"), Seq("w2")).contains(Store.readLines(s"$dir/manifest_3.txt")))
    assert(claims(dir).isEmpty, s"claims left: ${claims(dir)}")
  }

  test("N threaded disjoint occCommits all land: head 1+N, every update " +
      "present, no claim left") {
    val dir = scratch("graft_claimrace")
    val n = 6
    Store.writeManifest(dir, 1, (0 until n).map(i => s"f$i"))
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map { i =>
      new Thread(() => {
        try Snapshots.occCommit(dir, 1, Set(s"f$i"), Seq(s"g$i"))
        catch { case t: Throwable => failures.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(failures.isEmpty, failures.toString)
    assert(Snapshots.head(dir) === 1 + n)
    assert(Snapshots.manifest(dir, 1 + n) === (0 until n).map(i => s"g$i"))
    assert(claims(dir).isEmpty, s"claims left: ${claims(dir)}")
  }

  test("each publisher — occCommit, treeOccCommit, commitTxn and the WAP " +
      "publish — leaves no claim after K commits") {
    val k = 3
    val occ = scratch("graft_claimocc")
    Store.writeManifest(occ, 1, Seq("f"))
    (1 to k).foreach(v =>
      assert(Snapshots.occCommit(occ, v, Set.empty, Seq(s"g$v"))._1 === v + 1))
    assert(claims(occ).isEmpty, s"occCommit left ${claims(occ)}")

    val tree = scratch("graft_claimtree")
    Store.writeLines(s"$tree/mlist_1.txt", Seq(s"0|$tree/bm_nk0_v1.txt|1|5|5"))
    (1 to k).foreach(v => assert(MT.treeOccCommit(tree, v,
      Seq(MT.BucketRef(0, s"$tree/bm_nk0_v${v + 1}.txt", 1, v, v)))._1 === v + 1))
    assert(claims(tree).isEmpty, s"treeOccCommit left ${claims(tree)}")

    val txn = scratch("graft_claimtxn")
    (1 to k).foreach(v => assert(TxnPair.commitTxn(txn, Map("A" -> v)) === v))
    assert(claims(txn).isEmpty, s"commitTxn left ${claims(txn)}")

    import spark.implicits._
    val wap = scratch("graft_claimwap")
    (0 until 8).map(i => (i.toLong, i.toLong * 10L)).toDF("k", "bal")
      .write.mode("overwrite").parquet(s"$wap/v1")
    val m1 = Store.flatLeafFiles(wap, "v1")
    Store.writeManifest(wap, 1, m1)
    val log = new StringBuilder
    (1 to k).foreach(_ => assert(WAP.auditedPublish(spark, wap, m1, log), log))
    assert(Snapshots.head(wap) === 1 + k)
    assert(claims(wap).isEmpty, s"the WAP publish left ${claims(wap)}")
  }

  test("the conflict-retry loop retries from the new head and rethrows " +
      "after MaxAttempts") {
    var heads = 0
    val (v, attempts) = Snapshots.retryOnConflict({ heads += 1; 7 }) {
      (h, attempt) =>
        if (attempt < 3) throw new Snapshots.CommitConflictException("race")
        h + 1
    }
    assert((v, attempts, heads) === ((8, 3, 3)))
    var tried = 0
    intercept[Snapshots.CommitConflictException] {
      Snapshots.retryOnConflict(1) { (_, _) =>
        tried += 1
        throw new Snapshots.CommitConflictException("always")
      }
    }
    assert(tried === Snapshots.MaxAttempts)
  }

  test("the z-order rewrite's z-value interleaves a's bit i to 2i and b's " +
      "to 2i+1 for 8-bit grid coordinates") {
    import org.apache.spark.sql.functions.col
    def reference(a: Long, b: Long): Long = (0 until 8).foldLeft(0L) { (z, i) =>
      z | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
    }
    val grid = spark.range(256).toDF("a")
      .crossJoin(spark.range(0, 256, 17).toDF("b"))
    val got = grid.select(col("a"), col("b"),
        graft.sources.ZOrderLanding.zValue(col("a"), col("b")))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    assert(got.length === 256 * 16)
    got.foreach { case ((a, b), z) =>
      assert(z === reference(a, b), s"z($a, $b)") }
  }

  test("s13's compaction writes the same bytes in the same row order from " +
      "two freshly written fragment dirs of one table") {
    val frags = Seq("graft_frag_a", "graft_frag_b").map { tag =>
      val d = scratch(tag)
      Tables.events(spark, Sf001).repartition(64)
        .write.mode("overwrite").parquet(d)
      d
    }
    val outs = frags.map { f =>
      val out = scratch("graft_frag_out")
      graft.sources.Compaction.compact(spark, f, out, 8L << 20)
      out
    }
    def parts(d: String) = Store.flatLeafFiles(d, ".")
    val sizes = outs.map(o => parts(o).map(p => new java.io.File(p).length()))
    assert(sizes.head.nonEmpty && sizes.head === sizes.last,
      s"compacted sizes differ: $sizes")
    val rows = outs.map(o => parts(o).flatMap(p =>
      spark.read.parquet(p).collect().toSeq))
    assert(rows.head === rows.last, "compacted row order differs")
  }
}
