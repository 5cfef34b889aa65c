package graft

import org.apache.spark.sql.functions._
import graft.ext.{DedupOps, SimilarityOps}
import graft.util.Artifacts

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def planted = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank"),      // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the green river bank"),// near dup of 1
    (4L, "completely different content about distributed query engines and spark"),
    (5L, "another unrelated document mentioning machine learning pipelines only"),
  ).toDF("doc_id", "text")

  test("exact dedup groups byte-identical texts, keeps min doc_id") {
    val out = DedupOps.exactDedup(planted)
      .select("keep_doc_id", "n_copies").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === 2L)     // docs 1+2 merged under keeper 1
    assert(out(3L) === 1L)
    assert(out.values.sum === 5L)
  }

  test("minhash banding surfaces the planted near-dup pair") {
    val pairs = DedupOps.minhashPairs(planted, numHashes = 16, bands = 8,
        minJaccard = 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))   // exact dup: jaccard 1
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)),
      s"near-dup not found in ${pairs.toSeq}")
    assert(!pairs.contains((4L, 5L)))
  }

  test("portable minhash: planted pairs found, repartition-invariant") {
    val pairs = DedupOps.minhashPortablePairs(planted, numHashes = 8,
        bands = 4, minJaccard = 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))   // exact dup: all mins equal
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)),
      s"near-dup not found in ${pairs.toSeq}")
    assert(!pairs.contains((4L, 5L)))
    // md5-string mins are data-determined, not partitioning-determined
    val repart = DedupOps.minhashPortablePairs(planted.repartition(7),
        numHashes = 8, bands = 4, minJaccard = 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet === repart.toSet)
  }

  test("portable simhash16: dups equal, near-dups close, repartition-invariant") {
    def table(df: org.apache.spark.sql.DataFrame) =
      DedupOps.simhash16Portable(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val h = table(planted)
    assert(h(1L) === h(2L))                       // identical text, identical sketch
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(3L)) < ham(h(1L), h(4L)),
      s"near-dup ${ham(h(1L), h(3L))} not closer than unrelated ${ham(h(1L), h(4L))}")
    assert(h === table(planted.repartition(5)))   // data-determined, not partitioning
    assert(h.values.forall(v => v >= 0L && v < 65536L))
  }

  test("label centroids equal hand-computed elementwise means") {
    val emb = Seq(
      (1L, Seq(1.0f, 2.0f), 0),
      (2L, Seq(3.0f, 6.0f), 0),
      (3L, Seq(10.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = SimilarityOps.labelCentroids(emb).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out((0, 0)) === ((2L, 2.0)))
    assert(out((0, 1)) === ((2L, 4.0)))
    assert(out((1, 0)) === ((1L, 10.0)))
    assert(out((1, 1)) === ((1L, 0.0)))
  }

  test("sharding: bounded, layout-independent, and reasonably balanced") {
    val docs = Tables.documents(spark, Sf0001)
    val a = graft.ext.Curation.shardAssign(docs, Seq("doc_id"), 10)
      .select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a.values.forall(s => s >= 0 && s < 10))
    val b = graft.ext.Curation.shardAssign(docs.repartition(9), Seq("doc_id"), 10)
      .select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a === b, "shard assignment depends on layout")
    // md5 uniformity: no shard should be pathologically over/under-filled
    val sizes = a.values.groupBy(identity).view.mapValues(_.size)
    val expect = a.size / 10.0
    sizes.values.foreach(n => assert(n > expect * 0.5 && n < expect * 1.5,
      s"shard sizes skewed: ${sizes.toMap}"))
  }

  test("ngram jaccard: exact dup = 1.0, near dup high, unrelated absent") {
    val j = DedupOps.jaccardPairs(planted, 3, 0.2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(j((1L, 2L)) === 1.0)
    assert(j((1L, 3L)) > 0.5)
    assert(!j.contains((4L, 5L)))
  }

  test("simhash: identical texts equal, near-dups within small hamming distance") {
    val hashes = planted.select(col("doc_id"),
      DedupOps.simhash64(col("text")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashes(1L) === hashes(2L))
    val hd = java.lang.Long.bitCount(hashes(1L) ^ hashes(3L))
    assert(hd <= 16, s"hamming distance $hd too large for near-dup")
    val hdFar = java.lang.Long.bitCount(hashes(1L) ^ hashes(4L))
    assert(hdFar > hd, "unrelated doc should be farther than near-dup")
  }

  test("simhash banding finds planted near-dup pairs, skips unrelated docs") {
    // exact dup (1,2) has hamming 0; near-dup (1,3) small hamming
    val pairs = DedupOps.simhashPairs(planted, maxHamming = 16, bands = 32)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((1L, 2L)) === 0)
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.contains((4L, 5L)))
  }

  test("simhashTable (corpus-scale shape) equals the per-row expression form") {
    val docs = Tables.documents(spark, Sf0001).limit(100)
    val a = docs.select(col("doc_id"), DedupOps.simhash64(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = DedupOps.simhashTable(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
  }

  test("cosine: self-similarity is 1, brute top-k ranks by similarity") {
    val emb = Tables.embeddings(spark, Sf0001)
    val self = emb.select(
      SimilarityOps.cosine(col("embedding"), col("embedding")).as("s"))
      .agg(min("s"), max("s")).head()
    assert(math.abs(self.getDouble(0) - 1.0) < 1e-6)
    assert(math.abs(self.getDouble(1) - 1.0) < 1e-6)

    val topk = SimilarityOps.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), 5)
      .orderBy("rank").collect()
    assert(topk.length === 5)
    val sims = topk.map(_.getAs[Double]("sim"))
    assert(sims.sliding(2).forall(p => p(0) >= p(1)), "ranks not sorted by sim")
  }

  test("minhash kernel is bit-identical to the expression+aggregation form") {
    val docs = Tables.documents(spark, Sf0001).limit(200)
    // the round-2 reference implementation: explode shingles, hash twice,
    // 16-min HashAggregate (kept here as the parity oracle for the kernel)
    val mask = lit(0xffffffffL)
    val exploded = docs
      .select(col("doc_id"), explode(DedupOps.shingles(col("text"), 3)).as("sh"))
      .select(col("doc_id"),
        xxhash64(col("sh")).bitwiseAND(mask).as("_h1"),
        xxhash64(col("sh"), lit(0x9747b28c)).bitwiseAND(mask).as("_h2"))
    val oldForm = exploded.groupBy(col("doc_id"))
      .agg(array((0 until 16).map { k =>
        min(col("_h1") + lit(k.toLong) * col("_h2"))
      }: _*).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val kernel = DedupOps.minhashSignatures(docs, 3, 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(kernel === oldForm)
  }

  test("shingle-hash kernel is bit-identical to the HOF chain") {
    val docs = Tables.documents(spark, Sf0001).limit(200)
    val oldForm = docs.select(col("doc_id"),
      array_sort(array_distinct(transform(DedupOps.shingles(col("text"), 3),
        s => xxhash64(s)))).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val kernel = docs.select(col("doc_id"),
      array_sort(graft.functions.TextKernelFns.shingleHashes(
        spark, col("text"), 3)).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(kernel === oldForm)
  }

  test("d7: connected components resolve chains, cliques, and isolates " +
    "on BOTH adaptive paths") {
    import spark.implicits._
    // components: {1,2,3,4} (a chain — transitivity across non-adjacent
    // pairs), {10,11,12} (a triangle), {20,21}, plus two self-pair
    // degenerates: isolated 30 (must self-label, not vanish) and a
    // redundant (1,1) inside a real component
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L), (30L, 30L), (1L, 1L)).toDF("id_a", "id_b")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L,
      30L -> 30L)
    // cap 0 forces the distributed label-propagation path; the default
    // takes driver union-find
    for (cap <- Seq(0, 1 << 20)) {
      val labels = DedupOps.connectedComponents(pairs, maxDriverEdges = cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels === expect, s"maxDriverEdges=$cap")
    }
  }

  test("d7: star contraction solves a 1,000-node path graph in O(log n) " +
    "rounds through the distributed branch") {
    import spark.implicits._
    // A pure chain is min-label propagation's worst case: diameter 999
    // would exhaust any sane maxIter. Large-star/small-star must converge
    // within the default 25 rounds (O(log n), log2(1000) ≈ 10).
    val chain = (1L until 1000L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = DedupOps.connectedComponents(chain, maxDriverEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length === 1000)
    assert(labels.forall(_._2 == 1L),
      s"non-min labels: ${labels.filter(_._2 != 1L).take(5).toSeq}")
  }

  test("d2: signatures are map-only — no shuffle before banding") {
    val sig = DedupOps.minhashSignatures(Tables.documents(spark, Sf0001), 3, 16)
    val plan = sig.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      "minhash signatures must not shuffle — one kernel call per document")
    assert(!plan.contains("Generate"),
      "minhash signatures must not explode shingles")
  }

  test("d4: bucket table is materialized once — no repeated document scans") {
    val q = DedupOps.jaccardPairs(Tables.documents(spark, Sf0001), 3, 0.5)
    q.count()
    // the three consumers (sizes ×2 + pair expansion) must all read the
    // checkpointed buckets; any FileScan in the executed plan means the
    // shingle explode+hash pipeline is being recomputed from parquet
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan"),
      "documents re-scanned: bucket materialization not in effect")
  }

  test("x3: exact near-dup equals brute force on BOTH adaptive paths") {
    val emb = Tables.embeddings(spark, Sf0001)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val brute = SimilarityOps.cosinePairsBrute(emb, 0.35)
      .collect().map(r => key(r) -> r.getDouble(2)).toMap
    // fitSample=100 < corpus size forces the metric-pruned blocked path;
    // the default cap takes the small-corpus broadcast-product path.
    for (fs <- Seq(100, 4096)) {
      val exact = SimilarityOps.cosinePairsExact(emb, 0.35, nCells = 8,
        fitSample = fs)
        .collect().map(r => key(r) -> r.getDouble(2)).toMap
      assert(exact.keySet === brute.keySet, s"fitSample=$fs")
      // both paths evaluate the SAME double-precision expression over the
      // original embeddings — bit-identical, not merely close
      exact.foreach { case (k, s) =>
        assert(s === brute(k), s"sim mismatch at $k (fs=$fs)")
      }
    }
  }

  test("x3: zero-norm embeddings are dropped, not NaN-poisoned (both paths)") {
    import spark.implicits._
    val rows = Seq(
      (0L, Seq.fill(4)(0.0f)),                     // zero vector
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    for (fs <- Seq(2, 4096)) {
      val pairs = SimilarityOps.cosinePairsExact(rows, 0.5, nCells = 2,
        fitSample = fs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs === Set((1L, 2L)), s"fitSample=$fs")
    }
  }

  test("d11: semantic dedup labels every vector, edges share a keeper, " +
      "keepers are component minima") {
    val emb = Tables.embeddings(spark, Sf0001)
    val edges = SimilarityOps.cosinePairsExact(emb, 0.35)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val res = SparkEntry.queries("d11_semdedup")(spark, Sf0001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
    val rep = res.map { case (id, (rp, _)) => id -> rp }.toMap
    // total: every corpus vector gets a decision row
    assert(res.length === emb.count())
    // kept ⇔ self-representative, and a keeper's rep is itself
    res.foreach { case (id, (rp, kept)) =>
      assert(kept === (id == rp))
      assert(rp <= id)
      assert(rep(rp) === rp, s"rep of keeper $rp must be itself")
    }
    // the collapse is consistent with the pair graph: both endpoints of
    // every above-threshold edge map to one keeper
    assert(edges.nonEmpty)
    edges.foreach { case (a, b) =>
      assert(rep(a) === rep(b), s"edge ($a,$b) split across components")
    }
  }

  test("d12: within-cell semdedup is sound (drops only exact near-dups) " +
      "and its pairs are a subset of the exact pair graph") {
    val emb = Tables.embeddings(spark, Sf0001)
    val exact = SimilarityOps.cosinePairsExact(emb, 0.35)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pairedIds = exact.flatMap { case (a, b) => Seq(a, b) }
    val dec = SimilarityOps.d12CellDecisions(spark, Sf0001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
    val rep = dec.map { case (id, (rp, _)) => id -> rp }.toMap
    // total coverage + well-formed decisions (the d11 invariants)
    assert(dec.length === emb.count())
    dec.foreach { case (id, (rp, kept)) =>
      assert(kept === (id == rp))
      assert(rp <= id)
      assert(rep(rp) === rp)
    }
    // soundness: every dropped vector has an EXACT near-dup — within-cell
    // pairs are a subset of the exact pair set, so approximation can
    // under-collapse but never over-collapse
    dec.filter { case (_, (_, kept)) => !kept }.foreach { case (id, _) =>
      assert(pairedIds.contains(id),
        s"d12 dropped $id which has no exact near-dup")
    }
    // a dropped vector's keeper must be reachable in the exact graph
    // restricted to its component — weaker but checkable: keeper shares
    // at least the pair graph's connectivity (same-component via exact
    // edges union-find)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    exact.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    dec.foreach { case (id, (rp, kept)) =>
      if (!kept) assert(find(id) === find(rp),
        s"$id collapsed to $rp across exact components")
    }
    // the gate's flags hold and its payload matches the exact pair graph
    val g = SparkEntry.queries("d12_semdedup_cells")(spark, Sf0001).head()
    assert(g.getLong(0) === emb.count())
    assert(g.getLong(1) === pairedIds.size)
    assert(g.getBoolean(2) && g.getBoolean(3))
  }

  test("x11: empty delta reduces to the plain IVF; un-refitted delta " +
      "rows are searchable") {
    val emb = Tables.embeddings(spark, Sf0001)
    val q5 = emb.filter(col("vec_id") < 5)
    def keys(df: org.apache.spark.sql.DataFrame) = df.select("q_id", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val none = emb.filter(col("vec_id") < 0)
    // same base count → same auto geometry; same deterministic fit sample
    // → identical centroids → identical search
    assert(keys(SimilarityOps.ivfTopKIncremental(emb, none, q5, 10)) ===
      keys(SimilarityOps.ivfTopK(emb, q5, 10)))
    // the registered 90/10 split: delta members must be reachable through
    // the base-fitted cells (the whole point of incremental maintenance)
    val inc = keys(SimilarityOps.ivfTopKIncremental(
      emb.filter(col("vec_id") % 10 =!= 0),
      emb.filter(col("vec_id") % 10 === 0), q5, 10))
    assert(inc.exists { case (_, c) => c % 10 == 0 },
      "no delta vector ever surfaced in the top-k")
  }

  test("x12: persisted IVF ≡ in-memory IVF; serve path partition-prunes " +
      "the landed scan") {
    val emb = Tables.embeddings(spark, Sf0001)
    val q5 = emb.filter(col("vec_id") < 5)
    def keys(df: org.apache.spark.sql.DataFrame) = df.select("q_id", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical fit → identical geometry → identical candidate set
    assert(keys(SimilarityOps.ivfPersistedTopK(spark, Sf0001, q5, 10)) ===
      keys(SimilarityOps.ivfTopK(emb, q5, 10)))
    // one query probes nProbe of nCells cells: the landed scan must carry
    // a static cell IN (...) PARTITION filter and read only those cells
    // (AQE scoped off so the executed scan stays traversable)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val one = SimilarityOps.ivfPersistedTopK(
        spark, Sf0001, emb.filter(col("vec_id") === 0), 10)
      one.collect()
      val idx = one.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.partitionFilters.nonEmpty => f
      }
      assert(idx.nonEmpty, "landed scan carries no partition filter")
      val read = idx.map(_.metrics("numOutputRows").value).sum
      assert(read > 0 && read < emb.count(),
        s"pruned scan should read a strict subset of the corpus ($read rows)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("x17: filtered persisted serve ≡ in-memory filtered IVF; scan is " +
      "partition-pruned and no cross-label candidate survives") {
    val emb = Tables.embeddings(spark, Sf0001)
    val q5 = emb.filter(col("vec_id") < 5)
    def keys(df: org.apache.spark.sql.DataFrame) = df.select("q_id", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val served = keys(SimilarityOps.ivfPersistedFilteredTopK(
      spark, Sf0001, q5, 10))
    assert(served === keys(SimilarityOps.ivfTopK(emb, q5, 10,
      matchLabel = true)))
    // the filter semantics: every candidate shares its query's label
    val labels = emb.select(col("vec_id"), col("label").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    served.foreach { case (q, c) => assert(labels(q) === labels(c)) }
    // partition pruning on the single-query serve
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val one = SimilarityOps.ivfPersistedFilteredTopK(
        spark, Sf0001, emb.filter(col("vec_id") === 0), 10)
      one.collect()
      val idx = one.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.partitionFilters.nonEmpty => f
      }
      assert(idx.nonEmpty, "landed scan carries no partition filter")
      val read = idx.map(_.metrics("numOutputRows").value).sum
      assert(read > 0 && read < emb.count(),
        s"pruned scan should read a strict subset of the corpus ($read)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("x11b: append composes into the persisted index — candidates ≡ " +
      "in-memory incremental, delta-only append job, stable files, " +
      "pruned serve") {
    val emb = Tables.embeddings(spark, Sf0001)
    val q5 = emb.filter(col("vec_id") < 5)
    def keys(df: org.apache.spark.sql.DataFrame) = df.select("q_id", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the append job's frame reads the DELTA alone: exactly one file
    // relation, the % 10 = 0 split filter present, no union with base —
    // appending must never rescan or rebuild the indexed corpus
    val deltaPlan = SimilarityOps.x11bDeltaFrame(spark, Sf0001)
      .queryExecution.analyzed
    val rels = deltaPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }
    assert(rels.size === 1, s"append frame reads ${rels.size} relations")
    assert(deltaPlan.collectFirst {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.isEmpty, "append frame unions the base")
    val hasSplitFilter = deltaPlan.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.condition.find(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Remainder])
          .isDefined => f
    }.isDefined
    assert(hasSplitFilter, "append frame lost the delta split filter")
    // serve ≡ the in-memory incremental path (same fit, same spill, same
    // probes) — proves base AND delta are both searchable through files
    val served = SimilarityOps.ivfAppendedTopK(spark, Sf0001, q5, 10)
    assert(keys(served) === keys(SimilarityOps.ivfTopKIncremental(
      emb.filter(col("vec_id") % 10 =!= 0),
      emb.filter(col("vec_id") % 10 === 0), q5, 10)))
    // steady state: a second serve touches no files (append is once per
    // version — the layout is amortized, not rebuilt per query)
    def snapshot(dir: String) = {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => (p.toString, java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis)).toSet
      finally walk.close()
    }
    val dir = SimilarityOps.x11bLayoutDir(spark, Sf0001)
    val before = snapshot(dir)
    assert(before.nonEmpty)
    SimilarityOps.ivfAppendedTopK(spark, Sf0001, q5, 10).collect()
    assert(snapshot(dir) === before,
      "steady-state serve rewrote or re-appended index files")
    // every delta vector is present (searchable) in the landed layout
    val landedIds = spark.read.parquet(dir).select("c_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val deltaIds = emb.filter(col("vec_id") % 10 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(deltaIds.subsetOf(landedIds), "appended delta ids missing")
    // serve path partition-prunes like x12
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val one = SimilarityOps.ivfAppendedTopK(
        spark, Sf0001, emb.filter(col("vec_id") === 0), 10)
      one.collect()
      val idx = one.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.partitionFilters.nonEmpty => f
      }
      assert(idx.nonEmpty, "appended-index scan carries no partition filter")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("x18b: graph append leaves base files byte-identical, lands every " +
      "delta node with reverse-edge reachability, and the serve is " +
      "file-stable") {
    def snapshot(dir: String) = {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => (p.toString, java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis)).toSet
      finally walk.close()
    }
    val baseDir = SimilarityOps.x18bBaseDir(spark, Sf0001)
    val baseFiles = snapshot(baseDir)
    assert(baseFiles.nonEmpty)
    val dir = SimilarityOps.x18bDir(spark, Sf0001)
    assert(dir === baseDir, "append must commit INTO the base layout")
    val after = snapshot(dir)
    // append-only: every base file survives with identical size+mtime,
    // and the delta landed as NEW files inside existing partitions
    assert(baseFiles.subsetOf(after),
      "append rewrote or touched base graph files")
    assert((after -- baseFiles).nonEmpty, "append committed no files")
    val emb = Tables.embeddings(spark, Sf0001)
    val deltaIds = emb.filter(col("vec_id") % 10 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val nodes = spark.read.parquet(dir)
    // every delta node has exactly one vector-bearing row
    val deltaVecRows = nodes.filter(col("nrm").isNotNull)
      .select("id").collect().map(_.getLong(0))
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(deltaIds.forall(deltaVecRows.get(_).contains(1)),
      "delta node rows missing or duplicated")
    // reverse-edge reachability: supplement rows (null nrm) reference
    // every nonzero-norm delta id from some BASE node — without them an
    // appended vector could never be returned by a search
    val supplementTargets = nodes.filter(col("nrm").isNull)
      .select(explode(col("nbrs")).as("t"))
      .collect().map(_.getLong(0)).toSet
    val liveDelta = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"),
        graft.functions.VecOps.fnorm(spark, col("embedding")).as("n"))
      .filter(col("n") > 0).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(liveDelta.subsetOf(supplementTargets),
      "delta ids unreachable: no base node gained a reverse edge to them")
    assert(supplementTargets.subsetOf(deltaIds),
      "reverse edges must point at delta nodes only")
    // steady state: serving again touches no files (append is once per
    // version)
    val q5 = emb.filter(col("vec_id") < 5)
    SimilarityOps.beamSearchGraph(spark, dir, q5, 10).collect()
    assert(snapshot(dir) === after,
      "steady-state serve rewrote or re-appended graph files")
  }

  test("x20: compaction folds every supplement into one row per node, " +
      "caps degrees at the prune bound, keeps edges closed over the " +
      "corpus, and preserves the serve contract") {
    val dir = SimilarityOps.x20CompactDir(spark, Sf0001)
    val emb = Tables.embeddings(spark, Sf0001)
    val nodes = spark.read.parquet(dir)
    val n = emb.count()
    // exactly one row per corpus node, every one vector-bearing (no
    // supplement rows survive compaction)
    assert(nodes.count() === n)
    assert(nodes.select("id").distinct().count() === n)
    assert(nodes.filter(col("nrm").isNull).count() === 0)
    // degree cap enforced, edge lists closed over corpus ids, no self-loop
    assert(nodes.filter(size(col("nbrs")) > SimilarityOps.X20MaxDegree)
      .count() === 0)
    val ids = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    val refs = nodes.select(explode(col("nbrs")).as("t"))
      .collect().map(_.getLong(0)).toSet
    assert(refs.subsetOf(ids), "pruned lists must reference corpus ids only")
    assert(nodes.filter(array_contains(col("nbrs"), col("id")))
      .count() === 0, "compaction must not introduce self-loops")
    // the prune is REAL on this layout: the appended graph has nodes past
    // the cap (reverse edges + supplements), and they got cut to the cap
    val overBefore = spark.read.parquet(SimilarityOps.x18bDir(spark, Sf0001))
      .groupBy(col("id"))
      .agg(size(array_distinct(flatten(collect_list(col("nbrs")))))
        .as("deg"))
      .filter(col("deg") > SimilarityOps.X20MaxDegree).count()
    assert(overBefore > 0, "fixture corpus grew no over-degree hubs — " +
      "the cap is untested; lower X20MaxDegree")
    // serve contract preserved: sidecars in place, beam search answers
    val q5 = emb.filter(col("vec_id") < 5)
    val served = SimilarityOps.beamSearchGraph(spark, dir, q5, 10)
    assert(served.groupBy(col("q_id")).count().collect()
      .forall(_.getLong(1) === 10L))
  }

  test("e26: streamed graph append lands every delta node exactly once " +
      "across micro-batches, keeps base files untouched, and supplements " +
      "reference inserted nodes only") {
    def snapshot(dir: String) = {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => (p.toString, java.nio.file.Files.size(p))).toSet
      finally walk.close()
    }
    val dir = SimilarityOps.e26LayoutDir(spark, Sf0001)
    val emb = Tables.embeddings(spark, Sf0001)
    val deltaIds = emb.filter(col("vec_id") % 10 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val nodes = spark.read.parquet(dir)
    // exactly-once across the 3 micro-batch commits (the
    // idempotentAppend replay protocol): one vector-bearing row per id
    val vecRows = nodes.filter(col("nrm").isNotNull)
      .select("id").collect().map(_.getLong(0))
    assert(vecRows.length === vecRows.distinct.length,
      "duplicate node rows — a micro-batch landed twice")
    assert(deltaIds.subsetOf(vecRows.toSet), "streamed delta ids missing")
    // reverse edges may target any INSERTED node (a later micro-batch is
    // allowed to link to an earlier one's — the online-graph property)
    // but never a base node
    val supplementTargets = nodes.filter(col("nrm").isNull)
      .select(explode(col("nbrs")).as("t"))
      .collect().map(_.getLong(0)).toSet
    assert(supplementTargets.subsetOf(deltaIds),
      "reverse edges must point at inserted nodes only")
    val liveDelta = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"),
        graft.functions.VecOps.fnorm(spark, col("embedding")).as("n"))
      .filter(col("n") > 0).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(liveDelta.subsetOf(supplementTargets),
      "a streamed delta id is unreachable")
    // steady state: serving again appends nothing
    val before = snapshot(dir)
    SimilarityOps.beamSearchGraph(spark, dir,
      emb.filter(col("vec_id") < 5), 10).collect()
    assert(snapshot(dir) === before, "serve mutated the streamed layout")
  }

  test("km2: every vector assigned to its argmax centroid; gate payload " +
      "exact and flags true") {
    val emb = Tables.embeddings(spark, Sf0001)
    val a = SimilarityOps.km2Assigned(spark, Sf0001)
    assert(a.count() === emb.count())
    // per-row argmax property: assigned sim is the max over all centroid
    // sims (same double accumulation order in both kernels; tolerance
    // covers the division-by-norm reassociation only)
    val simCols = a.columns.filter(_.startsWith("sim_"))
    a.collect().foreach { r =>
      val aSim = r.getDouble(r.fieldIndex("a_sim"))
      val best = simCols.map(c => r.getDouble(r.fieldIndex(c))).max
      assert(aSim >= best - 1e-9, s"row ${r.getLong(0)}: $aSim < $best")
    }
    // deterministic: the fit sample and Lloyd are pure functions of the
    // corpus version, so two runs agree exactly
    val c1 = a.select("vec_id", "cluster").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val c2 = SimilarityOps.km2Assigned(spark, Sf0001)
      .select("vec_id", "cluster").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(c1 === c2)
    val row = SparkEntry.queries("km2_embedding_kmeans")(spark, Sf0001)
      .collect()
    assert(row.length === 1)
    assert(row(0).getLong(row(0).fieldIndex("n")) === emb.count())
    assert(row(0).getBoolean(row(0).fieldIndex("argmax_gain_ok")))
    assert(row(0).getBoolean(row(0).fieldIndex("multi_cluster")))
  }

  test("SQ8 kernels: quantization round-trip error bounded, qdot matches") {
    import graft.functions.VecKernels
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val v = Array(-1.5f, 0.0f, 0.25f, 2.0f, 1.0f)
    val arr = new GenericArrayData(v.map(_.asInstanceOf[Any]))
    val qb = VecKernels.quantize8(arr)
    val mn = v.min
    val step = (v.max - v.min) / 255.0f
    // reconstruction error per element ≤ step/2
    qb.zip(v).foreach { case (b, x) =>
      val rec = mn + step * (b & 0xff)
      assert(math.abs(rec - x) <= step / 2 + 1e-6, s"$rec vs $x")
    }
    // qdot8 = Σ q_i·y_i exactly
    val y = Array(0.5f, -1.0f, 2.0f, 0.0f, 3.0f)
    val yArr = new GenericArrayData(y.map(_.asInstanceOf[Any]))
    val expect = qb.zip(y).map { case (b, yy) => (b & 0xff).toDouble * yy }.sum
    assert(VecKernels.qdot8(qb, yArr) === expect)
    // constant vector → all-zero codes, no NaN
    val const = new GenericArrayData(Array.fill(4)(2.5f.asInstanceOf[Any]))
    assert(VecKernels.quantize8(const).forall(_ === 0))
    // qparams8 returns the EXACT scalars the codes were built with —
    // float arithmetic, not a double recomputation
    val qp = VecKernels.qparams8(arr)
    assert(qp.getFloat(0) === mn && qp.getFloat(1) === step)
    val qpc = VecKernels.qparams8(const)
    assert(qpc.getFloat(0) === 2.5f && qpc.getFloat(1) === 0f)
    // and the column-side expression agrees with the kernel call
    import spark.implicits._
    val row = Seq(Tuple1(v)).toDF("embedding")
      .select(graft.functions.VecOps.qparams8(spark, col("embedding")))
      .head().getSeq[Float](0)
    assert(row === Seq(mn, step))
  }

  test("SQ8 top-k achieves high recall vs brute force") {
    val emb = Tables.embeddings(spark, Sf0001)
    val queries = emb.filter(col("vec_id") < 10)
    val brute = SimilarityOps.bruteForceTopK(emb, queries, 10)
      .select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq8 = SimilarityOps.sq8TopK(emb, queries, 10)
      .select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & sq8).size.toDouble / brute.size
    // SQ8 reconstruction error is sub-1% of the sim scale; with a 4×
    // rerank expand the only misses are candidates outside the expanded
    // approximate top-40
    assert(recall >= 0.9, s"SQ8 recall $recall below 0.9")
  }

  test("PQ top-k: ADC candidates + exact rerank reach useful recall") {
    val emb = Tables.embeddings(spark, Sf0001)
    val queries = emb.filter(col("vec_id") < 10)
    val brute = SimilarityOps.bruteForceTopK(emb, queries, 10)
      .select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = SimilarityOps.pqTopK(emb, queries, 10)
      .select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 8 subspaces × 16 codes over 64 dims is a 32× compression — recall
    // is structurally below SQ8's; the 16× expand keeps it well above
    // the registered gate floor (RecallProbe: 0.90/0.68 at the SFs)
    val recall = (brute & pq).size.toDouble / brute.size
    assert(recall >= 0.5, s"PQ recall $recall below 0.5")
    // returned similarities are EXACT (rerank on floats): every returned
    // pair's sim must match the brute value for that pair bit-for-bit
    val bruteSim = SimilarityOps.bruteForceTopK(emb, queries, 500)
      .select("q_id", "c_id", "sim").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    SimilarityOps.pqTopK(emb, queries, 10)
      .select("q_id", "c_id", "sim").collect().foreach { r =>
        val key = (r.getLong(0), r.getLong(1))
        bruteSim.get(key).foreach(b => assert(b == r.getDouble(2),
          s"rerank sim not exact for $key"))
      }
  }

  test("PQ ADC kernel: score equals the manual lookup-table sum") {
    import spark.implicits._
    // 2 subspaces × 2 codes over dim 4; hand-built codebooks
    val books: Array[Array[Array[Float]]] = Array(
      Array(Array(0f, 0f), Array(1f, 1f)),
      Array(Array(2f, 0f), Array(0f, 2f)))
    val df = Seq((1L, Seq(0.9f, 1.1f, 0.1f, 1.9f))).toDF("vec_id", "embedding")
    val enc = df.select(
      graft.functions.VecOps.pqEncode(spark, col("embedding"), books)
        .as("codes"),
      graft.functions.VecOps.pqLut(spark, col("embedding"), books).as("lut"))
    val row = enc.select(col("codes"),
      graft.functions.VecOps.pqAdc(spark, col("codes"), col("lut"))
        .as("score"), col("lut")).collect().head
    val codes = row.getAs[Array[Byte]]("codes")
    // (0.9,1.1) is nearer (1,1) → code 1; (0.1,1.9) nearer (0,2) → code 1
    assert(codes.toSeq == Seq(1.toByte, 1.toByte))
    val lut = row.getSeq[Double](2)
    // self-ADC score = lut[0*2+1] + lut[1*2+1] = dot(sub1,(1,1)) + dot(sub2,(0,2))
    assert(row.getAs[Double]("score") == lut(1) + lut(3))
    assert(math.abs(lut(1) - 2.0) < 1e-6 && math.abs(lut(3) - 3.8) < 1e-6)
  }

  test("incremental dedup: drops re-crawled docs, collapses in-batch copies") {
    val corpus = Seq(
      (1L, "aaa bbb ccc"),
      (2L, "ddd eee fff")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "aaa bbb ccc"),     // already in corpus → dropped
      (11L, "new content one"),
      (12L, "new content one"), // in-batch copy of 11 → collapsed under 11
      (13L, "another new doc")).toDF("doc_id", "text")
    val out = DedupOps.incrementalDedup(corpus, batch)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(11L -> 2L, 13L -> 1L))
  }

  test("decontamination: containment catches an eval item swallowed whole") {
    val train = Seq(
      (2L, "intro text the quick brown fox jumps over the lazy dog end of document trailer"),
      (4L, "completely unrelated training material about query engines")
    ).toDF("doc_id", "text")
    val eval_ = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (3L, "some other eval question entirely different")
    ).toDF("doc_id", "text")
    val out = DedupOps.contaminationPairs(train, eval_, w = 3,
        minContainment = 0.8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // every shingle of eval doc 1 appears in train doc 2 → containment 1.0,
    // even though Jaccard(2,1) is only 7/12 — the case containment exists for
    assert(out.keySet === Set((2L, 1L)))
    assert(out((2L, 1L)) === 1.0)
  }

  test("d16: bloom pre-scan is result-transparent (≡ exact w=8 decon) " +
      "and actually prunes the train side") {
    import org.apache.spark.sql.functions.col
    val dir = Sf001
    val docs = Tables.documents(spark, dir)
    val train = docs.filter(col("doc_id") % 2 === 0)
    val eval_ = docs.filter(col("doc_id") % 2 === 1)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val exact = pairs(DedupOps.contaminationPairs(train, eval_, w = 8)
      .orderBy(col("train_id"), col("eval_id")))
    val bloomed = pairs(SparkEntry.queries("d16_bloom_decontaminate")(
      spark, dir))
    // no false negatives + bucket membership preserved ⇒ identical rows
    assert(bloomed === exact)
    assert(bloomed.nonEmpty)
    // the 100 TB claim: the w=8 bloom keeps only a small survivor slice
    // (measured ~5% at both driver SFs; generous bound for regen drift)
    val nTrain = train.count()
    val nSurv = DedupOps.bloomSurvivors(train, eval_, 8).count()
    assert(nSurv * 4 <= nTrain,
      s"bloom pre-scan barely prunes: $nSurv of $nTrain survive")
  }

  test("c7: the epoch shuffle is a full permutation — every doc exactly " +
      "once, contiguous positions per shard, byte-stable across builds") {
    def run() = SparkEntry.queries("c7_epoch_shuffle")(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val a = run()
    val nDocs = Tables.documents(spark, Sf0001).count()
    assert(a.length === nDocs)
    assert(a.map(_._1).distinct.length === nDocs, "a doc repeated or lost")
    a.groupBy(_._2).foreach { case (shard, rows) =>
      val pos = rows.map(_._3).sorted
      assert(pos === (1 to rows.length).toSeq,
        s"shard $shard positions not contiguous from 1")
    }
    // reproducibility is the op's whole contract
    assert(run() === a)
  }

  test("d19: the keeper is the LONGEST cluster member, and the policy " +
      "genuinely diverges from d7's min-id choice on the real corpus") {
    val reps = SparkEntry.queries("d19_cluster_reps")(spark, Sf001)
      .collect()
    assert(reps.nonEmpty)
    reps.foreach { r =>
      assert(r.getAs[Long]("n_docs") >= 2L)
      // keeper is a member of its own cluster: cluster_id = min id, so
      // keeper_id >= cluster_id always; strict inequality must occur
      assert(r.getAs[Long]("keeper_id") >= r.getAs[Long]("cluster_id"))
    }
    assert(reps.exists(r =>
      r.getAs[Long]("keeper_id") != r.getAs[Long]("cluster_id")),
      "quality policy never disagreed with min-id — vacuous on this corpus")
    // sanity on one cluster: the keeper really is the longest member
    val docs = Tables.documents(spark, Sf001)
      .select(col("doc_id"), col("n_chars").cast("long").as("nc"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val labels = graft.ext.DedupOps.connectedComponents(
        graft.ext.DedupOps.jaccardPairs(Tables.documents(spark, Sf001)
          .select(col("doc_id"), col("text")), 3, 0.5))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val byCluster = labels.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    reps.take(5).foreach { r =>
      val members = byCluster(r.getAs[Long]("cluster_id"))
      val best = members.maxBy(m => (docs(m), -m))
      assert(r.getAs[Long]("keeper_id") === best)
      assert(r.getAs[Long]("keeper_chars") === docs(best))
    }
  }

  test("d8b: landed digest index reproduces d8 exactly (plan guard inside " +
      "the query proves the index side reads shuffle-free)") {
    def run(q: String) = SparkEntry.queries(q)(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = run("d8_incremental_dedup")
    // collect() executes the embedded require()s: SMJ present, zero
    // Exchange below the index subtree
    val indexed = run("d8b_incremental_indexed")
    assert(indexed === plain)
    assert(indexed.nonEmpty)
  }

  test("d8b: digest index re-lands when the source is rewritten") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft_d8b_stale")
    try {
      Files.copy(Paths.get(Sf0001, "documents.parquet"),
        tmp.resolve("documents.parquet"))
      val first = ext.DedupOps.digestIndexName(spark, tmp.toString)
      assert(ext.DedupOps.digestIndexName(spark, tmp.toString) === first,
        "memo missed on unchanged source")
      val f = tmp.resolve("documents.parquet")
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime
        .fromMillis(f.toFile.lastModified() + 5000))
      assert(ext.DedupOps.digestIndexName(spark, tmp.toString) !== first,
        "stale digest index served after source rewrite")
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(tmp)
      try walk.iterator().asScala.toSeq.reverseIterator
        .foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  test("greedy packing: bins respect capacity, oversized docs sit alone") {
    import graft.ext.Curation
    val docs = Seq(
      ("s", 1L, 100L), ("s", 2L, 200L), ("s", 3L, 250L),  // 1+2 fit, 3 spills
      ("s", 4L, 700L),                                     // oversized: alone
      ("s", 5L, 10L),
      ("t", 6L, 512L), ("t", 7L, 1L)                       // exactly-full bin
    ).toDF("source", "doc_id", "n_tok")
    val out = Curation.packBins(docs, 512L)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out === Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 2L, 5L -> 3L,
      6L -> 0L, 7L -> 1L))
    // invariant: no bin over capacity unless it is a single oversized doc
    val byBin = docs.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .map { case (s, id, n) => ((s, out(id)), n) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    byBin.values.foreach(ns =>
      assert(ns.sum <= 512L || ns.length === 1, ns.toSeq))
  }

  test("greedy packing: skewed group splits into key-range blocks, all packed") {
    import graft.ext.Curation
    // one dominant source (100 docs) vs a tiny one — the crawl-skew shape
    val docs = ((1L to 100L).map(i => ("big", i, 60L)) ++
      Seq(("small", 200L, 10L))).toDF("source", "doc_id", "n_tok")
    val out = Curation.packBins(docs, capacity = 512L, blockSize = 16L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.length === 101)
    // block path engaged: doc_ids 1..100 / blockSize 16 → 7 key-range
    // blocks, so some bin ids land beyond the first block's range [0, 16)
    val bigBins = out.filter(_._1 == "big").map(_._3)
    assert(bigBins.exists(_ >= 16L), s"block offsets missing: ${bigBins.toSeq}")
    // capacity invariant holds across every block
    val byBin = out.filter(_._1 == "big").groupBy(_._3)
    byBin.values.foreach(ds => assert(ds.map(_ => 60L).sum <= 512L))
    // within each block, packing is the greedy fold: 8 docs of 60 fit a
    // 512 bin, so a full 16-doc block packs as two full bins
    assert(byBin.values.map(_.length).toSeq.sorted.reverse.head === 8)
    // the block label is doc_id-derived (map-side, never a rank): the
    // single doc with id 200 sits alone in block 200 div 16 = 12, bin 192
    assert(out.filter(_._1 == "small").map(_._3).toSeq === Seq(192L))
  }

  test("greedy packing: one block ≡ sequential fold (block-size invariance)") {
    import graft.ext.Curation
    val docs = Tables.documents(spark, Sf0001)
      .select(col("source"), col("doc_id"),
        expr("CAST(n_chars / 5 AS LONG)").as("n_tok"))
    val oneBlock = Curation.packBins(docs, 512L)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    // any blockSize > the largest doc_id ⇒ one key-range block per
    // source ⇒ identical assignment, bin ids included (sf0.001 doc_ids
    // stay below 1000)
    val blocked = Curation.packBins(docs, 512L, blockSize = 1000L)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(oneBlock === blocked)
  }

  test("kNN join: near-total coverage, recall floor, bucket cap honored") {
    val emb = Tables.embeddings(spark, Sf0001).cache()
    val got = SimilarityOps.knnJoin(emb, 3)
      .select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every vector is a query; only one isolated in BOTH tables' buckets
    // can go unanswered — allow a small tail
    val n = emb.count()
    assert(got.map(_._1).size.toLong >= n - 10,
      s"only ${got.map(_._1).size} of $n vectors got neighbours")
    val brute = SimilarityOps.bruteForceTopK(emb, emb, 3)
      .select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & got).size.toDouble / brute.size
    assert(recall > 0.6, s"kNN-join recall $recall too low for 2-bit/4-table shape")
    // zero-norm vectors never appear — as a query OR a neighbour (their
    // cosine is NaN, which would sort rank-1 in the descending window)
    val dim = emb.select(org.apache.spark.sql.functions.size(col("embedding")))
      .head().getInt(0)
    val withZero = emb.limit(50).select("vec_id", "embedding", "label")
      .union(Seq((999999L, Seq.fill(dim)(0.0f), 0))
        .toDF("vec_id", "embedding", "label"))
    val z = SimilarityOps.knnJoin(withZero, 3)
      .select("q_id", "c_id").collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1)))
    assert(!z.contains(999999L), "zero-norm vector leaked into kNN output")
  }

  test("kNN join: hot buckets are refined, not dropped") {
    val emb = Tables.embeddings(spark, Sf0001).cache()
    val n = emb.count()
    // a cap far below every bucket's width: the round-5 code dropped all
    // buckets and silently returned ZERO rows here (the 100 TB cliff —
    // at N >> maxBucket*2^bits every bucket is over the cap); the
    // refinement fallback must still answer nearly every query
    val got = SimilarityOps.knnJoin(emb, 3, maxBucket = 20L)
      .select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.nonEmpty, "refinement fallback returned no candidates")
    val covered = got.map(_._1).toSet.size
    assert(covered >= n - 25,
      s"only $covered of $n vectors got neighbours under refinement")
  }

  test("kNN join: hyperplane-inseparable duplicates fall to the salt backstop") {
    // 60 copies of ONE vector: refinement planes cannot split identical
    // sign bits, so the still-hot refined bucket must be hash-salted into
    // ceil(60/10)=6 slices — every copy still gets same-slice neighbours,
    // and for identical vectors any neighbour is optimal (sim ~ 1)
    val base = Array.tabulate(8)(i => (i + 1).toFloat).toSeq
    val df = (0L until 60L).map(i => (i, base, 0))
      .toDF("vec_id", "embedding", "label")
    val out = SimilarityOps.knnJoin(df, 2, dim = 8, maxBucket = 10L).collect()
    assert(out.nonEmpty, "salt backstop produced no pairs for identical vectors")
    val qs = out.map(_.getLong(0)).toSet
    assert(qs.size >= 55, s"only ${qs.size} of 60 duplicates got neighbours")
    out.foreach(r => assert(r.getDouble(r.fieldIndex("sim")) > 0.999))
  }

  test("kNN join: partial WindowGroupLimit below the q_id exchange") {
    // ≤ k distinct pairs per (query, map partition) reach the one q_id
    // exchange through a partial WindowGroupLimit; the distinct then
    // runs in the window's stage, with no exchange of its own
    val emb = Tables.embeddings(spark, Sf0001)
    val df = SimilarityOps.knnJoin(emb, 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(PlanChecks.groupLimitedExchanges(df, "q_id") === Seq(true),
      "no partial WindowGroupLimit under the q_id exchange:\n" + plan.take(3000))
    assert(PlanChecks.groupLimitedExchanges(df, df.columns.toSeq: _*).isEmpty,
      "the pair dedup must not add an exchange:\n" + plan.take(3000))
  }

  test("kNN join: auto bits resolve to the explicit 2-bit fixture shape") {
    val emb = Tables.embeddings(spark, Sf0001)
    val auto = SimilarityOps.knnJoin(emb, 3) // bits <= 0 => derived from N
    val manual = SimilarityOps.knnJoin(emb, 3, bits = 2)
    assert(auto.exceptAll(manual).count() === 0L)
    assert(manual.exceptAll(auto).count() === 0L)
  }

  test("IVF-SQ composed top-k: quantized in-cell scoring + exact rerank " +
      "reaches IVF-level recall") {
    val emb = Tables.embeddings(spark, Sf0001).cache()
    val queries = emb.filter(col("vec_id") < 10)
    val brute = SimilarityOps.bruteForceTopK(emb, queries, 10)
      .select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = SimilarityOps.ivfSq8TopK(emb, queries, 10)
      .select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & got).size.toDouble / brute.size
    // SQ8's in-cell ranking is near-exact (x5 measures 1.0), so the
    // composition's recall is bounded by the IVF probe policy alone —
    // it must not fall below the x4 shape's floor
    assert(recall > 0.3, s"IVF-SQ recall $recall below the IVF floor")
  }

  test("LSH top-k achieves reasonable recall vs brute force") {
    val emb = Tables.embeddings(spark, Sf0001).cache()
    val queries = emb.filter(col("vec_id") < 10)
    val brute = SimilarityOps.bruteForceTopK(emb, queries, 10)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SimilarityOps.lshTopK(emb, queries, 10, bits = 2)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    // measured on this fixture: 0.32 / 0.53 / 0.81 recall at 1 / 2 / 4
    // tables — the OR-amplification curve; default tables=2 must clear
    // the single-table ceiling
    assert(recall > 0.4, s"LSH recall $recall too low for 2 tables")
  }

  test("ivfGeometry: auto cells ≈ √n clamped, probed fraction ≤ 25% at " +
      "every corpus size, explicit params pass through") {
    // explicit geometry is never overridden
    assert(SimilarityOps.ivfGeometry(0L, 32, 8) === ((32, 8)))
    // the registered demo shapes (documented in README/SCALING)
    assert(SimilarityOps.ivfGeometry(500L, 0, 0) === ((23, 5)))
    assert(SimilarityOps.ivfGeometry(2000L, 0, 0) === ((45, 11)))
    // floors and caps
    assert(SimilarityOps.ivfGeometry(1L, 0, 0) === ((16, 4)))
    assert(SimilarityOps.ivfGeometry(1000L * 1000 * 1000, 0, 0) ===
      ((1024, 16)))
    // the scanned fraction is ≤ 25% at EVERY size and shrinks once the
    // probe cap bites (cells = 64 at n ≈ 4k)
    var n = 1L
    while (n <= 100000000000L) {
      val (cells, probe) = SimilarityOps.ivfGeometry(n, 0, 0)
      assert(probe.toDouble / cells <= 0.25 + 1e-9,
        s"n=$n probes $probe/$cells > 25%")
      n *= 10
    }
    val (bigCells, bigProbe) = SimilarityOps.ivfGeometry(1000000L, 0, 0)
    assert(bigProbe.toDouble / bigCells <= 0.02,
      "past the probe cap the fraction must shrink well below the bound")
  }

  // ---- d13 exact-substring (repeated-span) removal ----

  private def spanCorpus = Seq(
    // docs 1+2 share the 12-token span a1..a12 (5 duplicated 8-gram
    // windows); everything else is unique.
    (1L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12 u1 u2 u3"),
    (2L, "v1 v2 a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12 w1"),
    (3L, "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"),              // unique, untouched
    (4L, "s1 s2 s3"),                                     // < SpanLen: no grams
    // within-doc repetition: the 8-gram r1..r8 occurs at starts 1 and 10
    (5L, "r1 r2 r3 r4 r5 r6 r7 r8 x0 r1 r2 r3 r4 r5 r6 r7 r8"),
  ).toDF("doc_id", "text")

  test("substringDedup removes exactly the maximal repeated spans") {
    val out = DedupOps.substringDedup(spanCorpus).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    // doc 1: span covers positions 1..12 → kept tail only
    assert(out(1L) === ((15L, 5L, 3L, "u1 u2 u3")))
    // doc 2: same span at positions 3..14 → kept prefix + suffix
    assert(out(2L) === ((15L, 5L, 3L, "v1 v2 w1")))
    // doc 3: nothing repeated, byte-identical passthrough
    assert(out(3L) === ((10L, 0L, 10L, "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10")))
    // doc 4: shorter than the span window — no grams, passthrough
    assert(out(4L) === ((3L, 0L, 3L, "s1 s2 s3")))
    // doc 5: BOTH within-doc occurrences removed (starts 1 and 10)
    assert(out(5L) === ((17L, 2L, 1L, "x0")))
  }

  test("pipe4: span removal BEFORE dedup collapses boilerplate-wrapped " +
    "duplicates the exact pass alone cannot see") {
    import org.apache.spark.sql.functions.col
    // docs 10 and 15 share the 10-token boilerplate span b1..b10 AND the
    // same remaining content in the same order — byte-DIFFERENT texts
    // (different span placement) that become byte-identical once the
    // duplicated span is cut; doc 20 is unique.
    val core = "u1 u2 u3 u4 u5 u6 u7 u8 u9"
    val span = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"
    val docs = Seq(
      (10L, s"$span $core"),
      (15L, s"u1 u2 u3 u4 $span u5 u6 u7 u8 u9"),
      (20L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
    ).toDF("doc_id", "text")
    val out = DedupOps.substringDecision(docs)
      .groupBy(col("kept_text"))
      .agg(org.apache.spark.sql.functions.min(col("doc_id")).as("keep"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out === Map(10L -> 2L, 20L -> 1L),
      s"boilerplate-wrapped dup did not collapse: $out")
  }

  test("d15: near-dup search finds each probe's source through the " +
    "landed sketch index and partition-prunes the probe scan") {
    import org.apache.spark.sql.functions.col
    val out = SparkEntry.queries("d15_neardup_search")(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // each of the 5 perturbed probes must surface its own source with a
    // near-1 sketch estimate
    (0L until 5L).foreach { q =>
      val self = out.find(r => r._1 == q && r._2 == q)
      assert(self.nonEmpty, s"probe $q never matched its source in " +
        out.take(10).mkString(", "))
      assert(self.get._3 >= 0.75, s"probe $q est ${self.get._3}")
    }
    // layout memo: second call reuses the landed dir
    assert(DedupOps.neardupIndexDir(spark, Sf0001) ===
      DedupOps.neardupIndexDir(spark, Sf0001))
    // the probe scan must carry a bkt IN (...) PARTITION filter and read
    // a strict subset of the index
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = Tables.documents(spark, Sf0001)
      val one = DedupOps.neardupSearch(spark, Sf0001,
        docs.filter(col("doc_id") === 0)
          .select(col("doc_id"), col("text")))
      one.collect()
      val pruned = one.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.partitionFilters.nonEmpty => f
      }
      assert(pruned.nonEmpty, "index scan carries no partition filter")
      val total = spark.read
        .parquet(DedupOps.neardupIndexDir(spark, Sf0001)).count()
      val read = pruned.map(_.metrics("numOutputRows").value).sum
      assert(read > 0 && read < total,
        s"pruned scan should read a strict subset ($read of $total rows)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("dq4: planted drift — stable label reads cos 1/L2 0, flipped " +
    "label reads cos -1") {
    import org.apache.spark.sql.functions.col
    // label 0: identical centroid both periods; label 1: current period
    // is the exact negation of the reference
    val emb = Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(1f, 0f), 0),   // even=ref, odd=cur
      (2L, Array(0f, 1f), 1), (3L, Array(0f, -1f), 1),
    ).toDF("vec_id", "embedding", "label")
    val out = SimilarityOps.embeddingDrift(emb).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out(0) === ((1L, 1L, 1.0, 0.0)))
    assert(out(1) === ((1L, 1L, -1.0, 2.0)))
  }

  test("e20: streamed index append serves candidates identical to x11b's " +
    "batch append") {
    val emb = Tables.embeddings(spark, Sf0001)
    val q5 = emb.filter(col("vec_id") < 5)
    def keys(df: org.apache.spark.sql.DataFrame) = df.select("q_id", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the index is a SET of assigned rows — invariant to micro-batch
    // slicing, so the streamed layout must serve exactly x11b's candidates
    assert(keys(SimilarityOps.ivfStreamedTopK(spark, Sf0001, q5, 10)) ===
      keys(SimilarityOps.ivfAppendedTopK(spark, Sf0001, q5, 10)))
    // and hold exactly the same row count (base landing + all three
    // micro-batch commits, no lost or doubled batch)
    val streamed = spark.read
      .parquet(SimilarityOps.e20LayoutDir(spark, Sf0001)).count()
    val batch = spark.read
      .parquet(SimilarityOps.x11bLayoutDir(spark, Sf0001)).count()
    assert(streamed === batch, s"streamed layout $streamed rows vs $batch")
  }

  test("od2: the planted anti-centroid vector is the top outlier; " +
    "on-centroid members score ~0") {
    import org.apache.spark.sql.functions.col
    // label 0: three copies of e1 plus one vector at -e1 — the centroid
    // stays near +e1, so the flipped vector sits at distance ~2 and the
    // aligned ones at ~0; label 1 is a tight pair on e2
    val emb = Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(1f, 0f), 0), (2L, Array(1f, 0f), 0),
      (3L, Array(-1f, 0f), 0),
      (4L, Array(0f, 1f), 1), (5L, Array(0f, 1f), 1),
    ).toDF("vec_id", "embedding", "label")
    val out = SimilarityOps.centroidOutliers(emb, topN = 6).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(3L) === 2.0, "anti-centroid vector must score dist 2")
    assert(Seq(0L, 1L, 2L).forall(out(_) < 0.01))
    assert(Seq(4L, 5L).forall(out(_) === 0.0))
    // and the top-1 is the planted outlier
    val top = SimilarityOps.centroidOutliers(emb, topN = 1).collect()
    assert(top.head.getLong(0) === 3L)
  }

  test("km3: bisecting recovers four well-separated direction groups " +
    "as exactly four unit leaves; collapsing corpora freeze early") {
    // four orthogonal direction bundles, slightly jittered — every split
    // is linearly separable, so 4 leaves = the 4 bundles
    val groups = Seq(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f),
      Array(0f, 0f, 1f, 0f), Array(0f, 0f, 0f, 1f))
    val sample = groups.zipWithIndex.flatMap { case (g, gi) =>
      (0 until 5).map { j =>
        val v = g.clone()
        v((gi + 1) % 4) = 0.01f * (j + 1)
        v
      }
    }.toArray
    val leaves = SimilarityOps.bisectingFit(sample, 4)
    assert(leaves.length === 4)
    // each leaf is a unit vector dominated by exactly one axis, and all
    // four axes are covered
    val axes = leaves.map(_.zipWithIndex.maxBy(_._1.toDouble)._2).toSet
    assert(axes === Set(0, 1, 2, 3), s"leaf axes $axes")
    leaves.foreach { c =>
      val n = math.sqrt(c.map(x => x.toDouble * x).sum)
      assert(math.abs(n - 1.0) < 1e-5, "leaves must be unit vectors")
    }
    // identical points cannot split: the fit freezes at 1 leaf instead
    // of looping or fabricating empty clusters
    val flat = Array.fill(6)(Array(1f, 0f))
    assert(SimilarityOps.bisectingFit(flat, 4).length === 1)
  }

  test("x16: the persisted IVF+PQ layout stores codes, never float " +
    "vectors, and serves a full gated top-k") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, Sf0001)
    val q5 = emb.filter(col("vec_id") < 5)
    val out = SimilarityOps.ivfPqPersistedTopK(spark, Sf0001, q5, 10)
    assert(out.count() === 50, "5 queries × top-10")
    // the layout the serve scanned: find its relation and assert the
    // schema carries PQ codes but NO embedding column — the 32× storage
    // claim is the schema, not a comment
    val rels = out.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.schema.fieldNames.toSet
    }
    val codeRel = rels.filter(_.contains("codes"))
    assert(codeRel.nonEmpty, "serve must read the landed code layout")
    codeRel.foreach { f =>
      assert(!f.contains("embedding") && !f.contains("c_emb"),
        s"code layout must not carry float vectors: $f")
    }
    // and the code scan is partition-PRUNED like x12's (file-listing
    // skipping, not a full-index read)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val one = SimilarityOps.ivfPqPersistedTopK(
        spark, Sf0001, emb.filter(col("vec_id") === 0), 10)
      one.collect()
      val pruned = one.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.partitionFilters.nonEmpty => f
      }
      assert(pruned.nonEmpty, "code scan carries no partition filter")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("e21: streamed near-dup admission equals the batch d15 search " +
    "exactly, one committed dir per micro-batch") {
    import org.apache.spark.sql.functions.col
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select(col("q_id"), col("match_id"), col("est_jaccard")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val dir = DedupOps.e21ResultDir(spark, Sf0001)
    val streamed = keys(spark.read.parquet(dir))
    val batch = keys(DedupOps.neardupSearch(spark, Sf0001,
      DedupOps.d15Incoming(spark, Sf0001)))
    assert(streamed === batch, "streamed union must equal the batch search")
    assert(streamed.nonEmpty, "probes must find their perturbed sources")
    // one committed subpath per micro-batch (3 staged files → 3 batches)
    val batchDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(batchDirs.length === 3)
  }

  test("x15: compaction recovers the corpus losslessly from the appended " +
    "layout and rewrites one file run per cell") {
    import org.apache.spark.sql.functions.{col, countDistinct}
    val n = Tables.embeddings(spark, Sf0001).count()
    val (dir, fit) = SimilarityOps.x15State(spark, Sf0001)
    assert(fit.cents.nonEmpty)
    val landed = spark.read.parquet(dir)
    // lossless recovery: every corpus id present exactly once pre-spill
    assert(landed.agg(countDistinct(col("c_id"))).first().getLong(0) === n)
    // spill re-applies bounded duplication, never loss
    val rows = landed.count()
    assert(rows >= n && rows <= 2 * n, s"layout rows $rows vs corpus $n")
    // the compaction posture: each cell partition is ONE file run —
    // unlike the appended layout it consumed, which carries the base
    // write plus per-append file fragments
    val cellDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty)
    cellDirs.foreach { pd =>
      val files = pd.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1,
        s"${pd.getName} has ${files.length} files after compaction")
    }
  }

  test("probed-cell memo: two equal-length centroid sets over one query " +
    "frame each get their own cells") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // x12 (fit on the corpus) and x15 (refit on the recovered layout)
    // probe one query frame at one geometry; their cell sets must not
    // be served from each other's memo entry
    val emb = Tables.embeddings(spark, Sf0001)
    val q5 = emb.filter(col("vec_id") < 5)
    val basis = Array.tabulate(4)(i =>
      Array.tabulate(64)(j => if (j == i) 1f else 0f))
    val flipped = basis.map(_.map(x => -x))
    def fit(cents: Array[Array[Float]], tag: String) =
      SimilarityOps.IvfFit(4, 2, cents, 0.0, emb, tag)
    assert(SimilarityOps.memoProbedCells(q5, Seq(0, 1).toDF("cell"),
      fit(basis, ""), 2) === IndexedSeq(0, 1))
    assert(SimilarityOps.memoProbedCells(q5, Seq(2, 3).toDF("cell"),
      fit(flipped, ":compact"), 2) === IndexedSeq(2, 3))
    // the same fit (an equal copy) still hits the first entry
    assert(SimilarityOps.memoProbedCells(q5, Seq(3).toDF("cell"),
      fit(basis.map(_.clone()), ""), 2) === IndexedSeq(0, 1))
  }

  test("probed-cell memo: a refit over a rewritten corpus replaces the " +
    "older entry") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val q5 = Tables.embeddings(spark, Sf0001).filter(col("vec_id") < 5)
    val tmp = Files.createTempDirectory("graft_pcells")
    try {
      val p = tmp.resolve("emb.parquet").toString
      def mine = Artifacts.entriesOf("pcells")
        .filter(_._1.sources.exists(_.contains(p)))
      def cells(n: Int, cell: Int): IndexedSeq[Int] = {
        Seq.tabulate(n)(i => (i.toLong, Array(1f, 0f)))
          .toDF("vec_id", "embedding").write.mode("overwrite").parquet(p)
        val fit = SimilarityOps.IvfFit(2, 1, Array(Array(1f, 0f),
          Array(0f, 1f)), 0.0, spark.read.parquet(p), "")
        SimilarityOps.memoProbedCells(q5, Seq(cell).toDF("cell"), fit, 1)
      }
      assert(cells(3, 0) === IndexedSeq(0))
      assert(mine.size === 1)
      // regenerated at the same path: the fresh cell set is served and
      // the superseded entry evicted (no growth)
      assert(cells(5, 1) === IndexedSeq(1))
      assert(mine.size === 1)
    } finally Artifacts.delete(tmp)
  }

  test("d14: semantic decontamination flags high-cosine train/eval pairs " +
    "only") {
    import org.apache.spark.sql.functions.col
    val train = Seq(
      (0L, Array(1f, 0f, 0f)),       // leaked: identical to eval 1
      (2L, Array(0.9f, 0.436f, 0f)), // near eval 1 (cos ≈ 0.9)
      (4L, Array(0f, 0f, 1f)),       // orthogonal to both evals
    ).toDF("vec_id", "embedding")
    val eval_ = Seq(
      (1L, Array(1f, 0f, 0f)),
      (3L, Array(0f, 1f, 0f)),
    ).toDF("vec_id", "embedding")
    val got = SimilarityOps.semanticContamination(train, eval_, minSim = 0.85)
      .select(col("eval_id"), col("train_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 0L), (1L, 2L)))
    // raising the threshold past the near-match keeps only the exact leak
    val strict = SimilarityOps
      .semanticContamination(train, eval_, minSim = 0.95)
      .select(col("eval_id"), col("train_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict === Set((1L, 0L)))
  }

  test("substringDedup: a repeated span longer than the window is fully " +
    "covered by its duplicated 8-gram windows") {
    import org.apache.spark.sql.functions.col
    // 20-token repeated span across two docs → 13 duplicated windows,
    // covered positions collapse to the full 20-token span on each side.
    val long = (1 to 20).map(i => s"c$i").mkString(" ")
    val df = Seq((1L, s"$long z1 z2"), (2L, s"y1 $long")).toDF("doc_id", "text")
    val out = DedupOps.substringDedup(df)
      .select(col("doc_id"), col("n_dup_spans"), col("kept_text")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out(1L) === ((13L, "z1 z2")))
    assert(out(2L) === ((13L, "y1")))
  }
}
