package graft

import java.nio.file.{Files, Path, Paths, attribute}
import org.apache.spark.sql.functions._
import graft.model.Classifiers
import graft.pipeline.StrokePipeline
import graft.util.Artifacts

/** Pins util.Artifacts, the one store for derived artifacts: once-only
  * builds per key, retry after failure, the frame row cap, family
  * eviction, the source stamp, the pinned-bytes budget of the landings
  * that remain, and the split7030 contract the s4/s5/s8 goldens depend
  * on.
  */
class ArtifactsSpec extends SparkSpec {
  import spark.implicits._

  private def deleteTree(p: Path): Unit = Artifacts.delete(p)

  private def setTreeMtime(root: Path, millis: Long): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(root)
    try walk.iterator().asScala.toSeq.reverseIterator.foreach(p =>
      Files.setLastModifiedTime(p, attribute.FileTime.fromMillis(millis)))
    finally walk.close()
  }

  test("landing discipline: every frame the registered landings pin stays " +
      "SLIM, on the store's own accounting") {
    // 64 MB per landed frame at sf0.01 is ~30× headroom over the largest
    // intended landing (slim id/pair/sketch tables); FrameRowCap bounds
    // rows, this bounds BYTES. Only the frames these queries land are
    // checked, so other suites' checkpoints cannot trip it.
    val dir = Sf001
    Seq("pr1_pagerank", "d4_ngram_jaccard", "mv2_sketch_rollup",
      "af4_pit_enrich", "d11_semdedup", "x7_knn_join")
      .foreach(q => SparkEntry.queries(q)(spark, dir).count())
    val budget = 64L * 1024 * 1024
    val ops = Seq("sourcing_edges", "jacc_pairs_3_05", "mv2daily",
      "af4_versions", "tau35pairs", "x7buckets")
    ops.foreach { op =>
      val pinned = Artifacts.entriesOf(op)
        .filter(_._1.params.contains(spark))
      assert(pinned.nonEmpty, s"$op landed nothing")
      pinned.foreach { case (k, bytes) =>
        assert(bytes > 0, s"$op: landed frame reports no storage bytes")
        assert(bytes < budget, s"landed frame $k holds ${bytes >> 20} MB — " +
          "land a slimmer projection or stop memoizing it")
      }
    }
    assert(Artifacts.stats.pinnedBytes > 0)
  }

  test("frame: same key returns the SAME materialized frame, a different " +
      "key rebuilds, and hits/misses are counted") {
    var builds = 0
    def build = { builds += 1; Seq((1L, "a"), (2L, "b")).toDF("k", "v") }
    val k1 = Artifacts.Key("spec-frame", Seq(1), Nil, ())
    val before = Artifacts.stats
    val a = Artifacts.frame(spark, k1)(build)
    val b = Artifacts.frame(spark, k1)(build)
    assert(builds === 1, "second call must hit the store")
    assert(a eq b, "the store must return the same frame instance")
    val after = Artifacts.stats
    assert(after.misses - before.misses >= 1)
    assert(after.hits - before.hits >= 1)
    Artifacts.frame(spark, k1.copy(params = Seq(2)))(build)
    assert(builds === 2, "a new key must rebuild")
    assert(a.queryExecution.analyzed.collectLeaves()
      .forall(_.getClass.getSimpleName.contains("LogicalRDD")),
      "a landed frame must be an eager localCheckpoint (LogicalRDD leaf)")
  }

  test("frame: frames past FrameRowCap are returned checkpointed but NOT " +
      "memoized (no session-lifetime pin)") {
    var builds = 0
    def big = { builds += 1; spark.range(Artifacts.FrameRowCap + 10).toDF("v") }
    val k = Artifacts.Key("spec-big", Nil, Nil, ())
    val a = Artifacts.frame(spark, k)(big)
    assert(a.queryExecution.analyzed.collectLeaves()
      .forall(_.getClass.getSimpleName.contains("LogicalRDD")),
      "an oversized landing must still be an eager localCheckpoint")
    val b = Artifacts.frame(spark, k)(big)
    assert(builds === 2, "an oversized frame must not be memoized")
    assert(!(a eq b))
    assert(Artifacts.entriesOf("spec-big").isEmpty)
  }

  test("eviction: a new version evicts the superseded entry of its family; " +
      "sibling families survive") {
    var builds = 0
    def build = { builds += 1; builds }
    def key(version: Int, sibling: String = "x") =
      Artifacts.Key("spec-evict", Seq(sibling), Nil, version)
    Artifacts.value(key(111))(build)
    Artifacts.value(key(111))(build)
    assert(builds === 1, "same version must hit the store")
    Artifacts.value(key(222))(build) // regen: same family, new version
    assert(builds === 2)
    Artifacts.value(key(222))(build)
    assert(builds === 2, "the new version must now be the stored one")
    assert(Artifacts.entriesOf("spec-evict").map(_._1) === Seq(key(222)))
    Artifacts.value(key(111))(build)
    assert(builds === 3, "the superseded version must have been evicted")
    // a different parameter is a different family and must not evict
    Artifacts.value(key(333, "y"))(build)
    assert(builds === 4)
    Artifacts.value(key(111))(build)
    assert(builds === 4, "a sibling family's insert must not evict")
    assert(Artifacts.entriesOf("spec-evict").map(_._1).toSet ===
      Set(key(111), key(333, "y")))
  }

  test("dir: concurrent callers of one key build ONCE and all get the same " +
      "dir; a distinct family builds independently") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val gate = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    val key = Artifacts.Key("spec-conc", Nil, Nil, 1)
    try {
      val sameKey = (1 to 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = {
            gate.await(10, TimeUnit.SECONDS)
            Artifacts.dir(key, "artifacts-conc") { dir =>
              builds.incrementAndGet()
              Thread.sleep(100)
              Files.writeString(Paths.get(dir, "marker"), "x")
            }
          }
        })
      }
      gate.countDown()
      val dirs = sameKey.map(_.get(30, TimeUnit.SECONDS))
      assert(builds.get() === 1, "putIfAbsent must guarantee one build")
      assert(dirs.distinct.size === 1, "all callers must share the dir")
      assert(new java.io.File(dirs.head, "marker").exists())
      val other = Artifacts.dir(Artifacts.Key("spec-conc-other", Nil, Nil, 1),
        "artifacts-conc2")(_ => ())
      assert(other !== dirs.head)
    } finally pool.shutdownNow()
  }

  test("build: a failed build fails its caller and is retried by the next") {
    val key = Artifacts.Key("spec-fail", Nil, Nil, 1)
    var attempts = 0
    val e = intercept[IllegalStateException] {
      Artifacts.value(key) { attempts += 1; throw new IllegalStateException("boom") }
    }
    assert(e.getMessage === "boom", "the caller sees the build's own exception")
    assert(Artifacts.entriesOf("spec-fail").isEmpty, "a failure is not stored")
    assert(Artifacts.value(key) { attempts += 1; 7 } === 7)
    assert(attempts === 2, "the next caller must retry the build")
    // a failed directory build leaves no directory behind
    var failedDir: String = null
    intercept[IllegalStateException] {
      Artifacts.dir(Artifacts.Key("spec-fail-dir", Nil, Nil, 1), "artifacts-fail") {
        d => failedDir = d; throw new IllegalStateException("boom")
      }
    }
    assert(!new java.io.File(failedDir).exists())
  }

  test("dir: an evicted directory build is deleted from disk") {
    val v1 = Artifacts.dir(Artifacts.Key("spec-dir-evict", Nil, Nil, 1),
      "artifacts-evict")(d => Files.writeString(Paths.get(d, "f"), "1"))
    assert(new java.io.File(v1, "f").exists())
    val v2 = Artifacts.dir(Artifacts.Key("spec-dir-evict", Nil, Nil, 2),
      "artifacts-evict")(d => Files.writeString(Paths.get(d, "f"), "2"))
    assert(v2 !== v1)
    assert(!new java.io.File(v1).exists(),
      "the superseded layout must not stay on disk for the JVM's life")
  }

  test("stamp: a layout rewritten with the same mtime but a different " +
      "length or file count is re-read") {
    val tmp = Files.createTempDirectory("graft_stamp_len")
    try {
      val dir = tmp.resolve("t").toString
      spark.range(10).coalesce(1).write.parquet(dir)
      val r1 = Artifacts.read(spark, dir)
      assert(r1.count() === 10L)
      val m = Artifacts.stamp(dir).mtime
      // same file count, different length, every mtime pinned to the old max
      spark.range(25).coalesce(1).write.mode("overwrite").parquet(dir)
      setTreeMtime(Paths.get(dir), m)
      val r2 = Artifacts.read(spark, dir)
      assert(!(r2 eq r1), "same-mtime rewrite served the stale read")
      assert(r2.count() === 25L)
      // one more (reader-invisible) file, still the same mtime
      Files.write(Paths.get(dir, "_extra"), Array.emptyByteArray)
      setTreeMtime(Paths.get(dir), m)
      assert(!(Artifacts.read(spark, dir) eq r2),
        "a changed file count must be a new version")
    } finally deleteTree(tmp)
  }

  test("stamp: a new file two directory levels below a layout root is " +
      "re-read") {
    val tmp = Files.createTempDirectory("graft_stamp_deep")
    try {
      val dir = tmp.resolve("t").toString
      Seq((1L, 0, 0), (2L, 0, 1)).toDF("v", "a", "b").coalesce(1)
        .write.partitionBy("a", "b").parquet(dir)
      val r1 = Artifacts.read(spark, dir)
      assert(r1.count() === 2L)
      val leaf = Paths.get(dir, "a=0", "b=0")
      val mRoot = Files.getLastModifiedTime(Paths.get(dir))
      val mA = Files.getLastModifiedTime(Paths.get(dir, "a=0"))
      val part = Files.list(leaf).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.copy(part, leaf.resolve("part-copy.parquet"))
      // root and depth-1 look untouched: only depth 2 changed
      Files.setLastModifiedTime(Paths.get(dir), mRoot)
      Files.setLastModifiedTime(Paths.get(dir, "a=0"), mA)
      val r2 = Artifacts.read(spark, dir)
      assert(!(r2 eq r1), "a depth-2 file was not seen by the stamp")
      assert(r2.count() === 3L)
    } finally deleteTree(tmp)
  }

  test("stamp: an entry whose source dir was deleted is dropped on the " +
      "next access") {
    val tmp = Files.createTempDirectory("graft_stamp_gone")
    val dir = tmp.resolve("t").toString
    spark.range(3).write.parquet(dir)
    Artifacts.read(spark, dir).count()
    Artifacts.value(Artifacts.key("spec-gone", dir))(1)
    assert(Artifacts.entriesOf("spec-gone").nonEmpty)
    assert(Artifacts.entriesOf("read").exists(_._1.sources == Seq(dir)))
    deleteTree(tmp)
    // the next access of any key sweeps entries whose source is gone
    Artifacts.value(Artifacts.Key("spec-gone-next", Nil, Nil, 1))(0)
    assert(Artifacts.entriesOf("spec-gone").isEmpty)
    assert(!Artifacts.entriesOf("read").exists(_._1.sources == Seq(dir)))
  }

  test("stamp: non-file schemes stamp as zero instead of throwing; file " +
      "paths report the real mtime, length and count") {
    val zero = Artifacts.Stamp(0L, 0L, 0L)
    assert(Artifacts.stamp("hdfs://nn:8020/warehouse/t") === zero)
    assert(Artifacts.stamp("s3a://bucket/prefix/t") === zero)
    val f = Files.createTempFile("stamp-spec", ".tmp")
    try {
      Files.writeString(f, "abc")
      val want = Artifacts.Stamp(f.toFile.lastModified(), 3L, 1L)
      assert(Artifacts.stamp(f.toString) === want)
      assert(Artifacts.stamp(f.toUri.toString) === want)
    } finally Files.deleteIfExists(f)
  }

  test("key(op, df): identity + version + family of file-backed frames") {
    val tmp = Files.createTempDirectory("graft_pvk")
    try {
      val p = tmp.resolve("t.parquet").toString
      spark.range(10).toDF("v").write.mode("overwrite").parquet(p)
      val k1 = Artifacts.key("spec", spark.read.parquet(p))
      assert(k1 === Artifacts.key("spec", spark.read.parquet(p)),
        "two reads of one source version must share a key")
      assert(k1.sources.exists(_.contains(p)),
        "the root path must be part of the family")
      // a rewrite = new mtime: new KEY, same FAMILY (the eviction axis)
      setTreeMtime(tmp.resolve("t.parquet"),
        Artifacts.stamp(p).mtime + 5000)
      val k2 = Artifacts.key("spec", spark.read.parquet(p))
      assert(k2 !== k1, "a rewritten source must change the key")
      assert(k2.family === k1.family,
        "versions of one source must share a family")
      // a different projection is a different identity (semanticHash)
      val k3 = Artifacts.key("spec",
        spark.read.parquet(p).select((col("v") * 2).as("w")))
      assert(k3 !== k2)
      // a checkpointed frame has no file root: its plan is its identity
      val ck = spark.range(3).toDF().localCheckpoint(true)
      val k4 = Artifacts.key("spec", ck)
      assert(k4.sources.isEmpty)
      assert(k4.family !== Artifacts.key("spec",
        spark.range(3).toDF().localCheckpoint(true)).family)
    } finally deleteTree(tmp)
  }

  test("ANN fit memo: count memoized per corpus version, superseded " +
      "version evicted, fresh value served after a rewrite") {
    val tmp = Files.createTempDirectory("graft_fitmemo")
    try {
      val p = tmp.resolve("emb.parquet").toString
      spark.range(10).toDF("vec_id").write.mode("overwrite").parquet(p)
      def mine = Artifacts.entriesOf("count").filter(_._1.sources.exists(_.contains(p)))
      assert(graft.ext.SimilarityOps.memoCount(spark.read.parquet(p)) === 10L)
      assert(graft.ext.SimilarityOps.memoCount(spark.read.parquet(p)) === 10L)
      assert(mine.size === 1, "one entry per corpus version")
      // regen with a different cardinality: the fresh value must be
      // served and the superseded entry evicted (no growth)
      spark.range(12).toDF("vec_id").write.mode("overwrite").parquet(p)
      assert(graft.ext.SimilarityOps.memoCount(spark.read.parquet(p)) === 12L,
        "a rewritten corpus must re-count, not serve the stale cardinality")
      assert(mine.size === 1,
        "the superseded version's entry must be evicted on insert")
    } finally deleteTree(tmp)
  }

  test("split7030: halves are an exact disjoint partition of prepared, " +
      "identical to one destructured randomSplit call") {
    val tmp = Files.createTempDirectory("graft_split")
    try {
      val prepared = StrokePipeline.prepare(spark, StrokeCsv.write(tmp, 400))
      val (train, test) = Classifiers.split7030(prepared, 42L)
      val (train2, test2) = Classifiers.split7030(prepared, 42L)
      assert(train eq train2, "split must be landed, not re-derived")
      assert(test eq test2)
      val nTrain = train.count(); val nTest = test.count()
      assert(nTrain + nTest === prepared.count(),
        "halves must partition the input")
      // membership as row MULTISETS (the cleaned frame has no id column
      // and rows can repeat): train ⊎ test must equal prepared exactly
      def multiset(df: org.apache.spark.sql.DataFrame): Map[String, Int] =
        df.collect().toSeq.groupBy(_.toString).view.mapValues(_.size).toMap
      val tr = multiset(train); val te = multiset(test)
      val both = (tr.keySet ++ te.keySet).map(k =>
        k -> (tr.getOrElse(k, 0) + te.getOrElse(k, 0))).toMap
      assert(both === multiset(prepared),
        "halves must be an exact multiset partition of the input")
      // and the landed train must equal the classic destructured split —
      // the exact frame the golden AUCs were pinned on
      val Array(wantTrain, _) = prepared.randomSplit(Array(0.7, 0.3), 42L)
      assert(tr === multiset(wantTrain),
        "landed train diverged from Array-destructured randomSplit")
    } finally deleteTree(tmp)
  }

  test("scratch dirs: repeated compaction, upsert-stream and stream-sink " +
      "calls leave no checkpoint, stage or output dirs behind") {
    val prefixes = Seq("graft_compacted", "graft_mv_upsert",
      "graft_txnsink_ckp", "graft_smerge_ckp", "graft_events_chunk",
      "graft_orders_chunk")
    val tmpRoot = new java.io.File(System.getProperty("java.io.tmpdir"))
    def scratch(): Set[String] =
      Option(tmpRoot.listFiles()).getOrElse(Array.empty)
        .map(_.getName).filter(n => prefixes.exists(n.startsWith)).toSet
    // a private copy of the inputs so the once-per-version stream sinks
    // really build here
    val data = Files.createTempDirectory("graft_leak_data")
    try {
      Seq("events", "customer", "orders").foreach(t =>
        Files.copy(Paths.get(Tables.path(Sf0001, t)),
          data.resolve(s"$t.parquet")))
      val d = data.toString
      val before = scratch()
      (1 to 2).foreach { _ =>
        SparkEntry.queries("s13_compaction")(spark, Sf0001).collect()
        streaming.EventStream.runUpsertLogToCompletion(spark, d).count()
      }
      streaming.EventStream.e27Dir(spark, d)
      streaming.StreamMerge.e28Dir(spark, d)
      assert(scratch() -- before === Set.empty[String])
    } finally deleteTree(data)
  }
}
