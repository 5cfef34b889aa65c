package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.util.{Artifacts, CodegenCache}

/** Deduplication operators for LLM training-data pipelines.
  *
  * Scale design: exact dedup is a hash-groupBy on a content digest (shuffle
  * on the digest, which is uniformly distributed — no skew). Near-dup is
  * MinHash banding: shingle → minhash signature → band buckets → join only
  * within buckets, so the candidate-pair space is ~linear instead of n².
  * SimHash gives a 64-bit sketch whose hamming distance bounds cosine
  * distance of the token sets — pairs via band-of-bits bucketing.
  */
object DedupOps {

  // ---- D1: exact dedup via content digest --------------------------------
  // Keep the smallest doc_id per sha256(text); count copies. At 100 TB the
  // digest groupBy shuffles 32-byte keys, never the documents themselves.
  def exactDedup(docs: DataFrame): DataFrame =
    docs.groupBy(sha2(col("text"), 256).as("digest"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  private def d1Exact(s: SparkSession, d: String): DataFrame =
    exactDedup(Tables.documents(s, d))
      .select(col("keep_doc_id"), col("n_copies"))
      .orderBy(col("keep_doc_id"))

  private val d1Sql =
    """SELECT MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY SHA256(text)
      |ORDER BY keep_doc_id""".stripMargin

  // ---- shingling ---------------------------------------------------------
  /** Word w-shingles (w consecutive lowercased tokens), distinct. */
  def shingles(text: Column, w: Int): Column = {
    val toks = split(lower(text), "\\s+")
    array_distinct(
      filter(
        transform(sequence(lit(0), greatest(size(toks) - w, lit(0))),
          i => concat_ws(" ", slice(toks, i + 1, lit(w)))),
        sh => length(sh) > 0))
  }

  // ---- D2: MinHash near-dup ----------------------------------------------
  /** MinHash signatures via Kirsch-Mitzenmacher: hash each shingle string
    * exactly TWICE (h1, h2 = xxhash64 under two seeds), then derive the k
    * hash families as h1 + k*h2 — cheap long arithmetic instead of k
    * string hashes. (Kirsch & Mitzenmacher, "Less Hashing, Same
    * Performance", ESA 2006.)
    *
    * Shape: MAP-ONLY — one codegen'd kernel call per document
    * (functions.TextKernels.minhashSig) produces the whole signature: no
    * shingle explode, no aggregation shuffle at all. The round-2 shape
    * (explode + 16-min HashAggregate) was already the best *expression*
    * form, but its shingle build walked an interpreted HOF chain that
    * profiling put at ~3.2 s of d2's ~4.5 s at sf0.1; the kernel is
    * bit-identical (spec-asserted) and removes the explode+shuffle
    * entirely — at 100 TB signatures now cost exactly one corpus scan.
    *
    * Hashes are masked to 32 bits so h1 + k*h2 never overflows a long
    * under ANSI mode; 32-bit min-hashes are ample for shingle sets ≪ 2^16.
    * Docs with no shingles produce no signature row (kernel yields null,
    * filtered) — same as the old aggregation's inner-join semantics.
    */
  def minhashSignatures(docs: DataFrame, w: Int, numHashes: Int): DataFrame = {
    val s = docs.sparkSession
    docs.select(col("doc_id"),
      graft.functions.TextKernelFns.minhashSig(s, col("text"), w, numHashes)
        .as("sig"))
      .filter(col("sig").isNotNull)
  }

  /** Near-dup candidate pairs via LSH banding: signature split into bands
    * of `rowsPerBand`; docs sharing any band bucket become candidates;
    * candidates verified by estimated Jaccard (signature agreement).
    *
    * Scale shape: ONE shuffle on (band, bucket) gathering each bucket's
    * members, then ordered-pair expansion inside the bucket — replaces the
    * round-1 two-sided self-join (two shuffles of the signature frame, each
    * unordered pair produced twice). Buckets wider than `maxBucket` are
    * dropped: a boilerplate band value shared by 10^6 docs would otherwise
    * expand ~10^12 pairs inside one task. Near-dup pairs overwhelmingly
    * also collide in a non-degenerate band, so the cap costs recall only on
    * pure-boilerplate buckets (spec: planted-boilerplate fixture). The
    * signature agreement is computed with numHashes GetArrayItem
    * comparisons — codegen'd, unlike the round-1 zip_with∘filter lambda
    * (interpreted per candidate pair; the CLAUDE.md anti-pattern).
    */
  def minhashPairs(docs: DataFrame, numHashes: Int = 16, bands: Int = 4,
      minJaccard: Double = 0.5, maxBucket: Int = 1000): DataFrame = {
    val rowsPerBand = numHashes / bands
    val sig = minhashSignatures(docs, 3, numHashes)
    val banded = sig.select(col("doc_id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => hash(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val buckets = banded.groupBy(col("band"), col("bucket"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("sig")))).as("ms"))
      .filter(size(col("ms")).between(2, maxBucket))
    val agree = (0 until numHashes).map { k =>
      when(col("a.sig").getItem(k) === col("b.sig").getItem(k), 1).otherwise(0)
    }.reduce(_ + _)
    buckets
      .select(posexplode(col("ms")).as(Seq("i", "a")), col("ms"))
      .select(col("a"),
        explode(slice(col("ms"), col("i") + 2, size(col("ms")))).as("b"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        (agree.cast("double") / lit(numHashes)).as("est_jaccard"))
      // threshold BEFORE the dedup shuffle: a pair's est_jaccard is the
      // same from every band it collides in, so filtering first is
      // equivalent and the distinct shuffles only surviving pairs
      .filter(col("est_jaccard") >= minJaccard)
      .distinct()
  }

  /** The registered d2 (xxhash64 kernel sketch — not SQL-recomputable)
    * carries a fixture-replay oracle: deterministic output frozen from a
    * verified run, keyed by corpus content ([[graft.util.OracleFixtures]]).
    * d2b remains the from-first-principles cross-engine proof of the same
    * banding algebra.
    */
  private def d2Minhash(s: SparkSession, d: String): DataFrame = {
    val pairs = minhashPairs(Tables.documents(s, d))
    graft.util.OracleFixtures.withCorpusKey(pairs, s, d)
      .orderBy(col("id_a"), col("id_b"))
  }

  private val d2Sql = graft.util.OracleFixtures.sql("d2_minhash_pairs",
    Seq("id_a", "id_b", "est_jaccard"), "id_a, id_b")

  // ---- D2b: engine-portable MinHash (oracle-checked twin of d2) ----------
  /** MinHash banding whose every step is engine-portable: one md5 per
    * shingle, permutation j = the 4-hex-char slice `substr(md5(sh),
    * 4j+1, 4)`, and the permutation's min-hash is the LEXICOGRAPHIC min
    * of those hex strings — the same portable-rank trick as m3/c2's md5
    * ordering. DuckDB computes identical md5 hex, so the full
    * shingle → sketch → band → bucket → verified-pair pipeline
    * hash-checks against a plain-SQL oracle — the hard cross-engine gate
    * the xxhash64 kernel path (d2) cannot have (its fixtures pin
    * drift, not external truth).
    *
    * d2 stays the production path: map-only codegen kernel, 32-bit
    * hashes. d2b is the verification twin and the portable fallback;
    * its 16-bit permutations admit ~|shingles|/2^16 min collisions,
    * which bias est_jaccard up imperceptibly and identically in both
    * engines.
    *
    * Scale: signatures are MAP-ONLY (one md5-minhash kernel call per
    * document — functions.TextKernels.md5MinhashSig — no shingle
    * explode, no per-doc aggregation shuffle), so the only exchange is
    * d2's (band, bucket) shuffle with the same maxBucket
    * degenerate-bucket cap. Bucket identity is the concatenated band
    * slice itself (string equality), not an engine hash — a hash()
    * bucket collision could otherwise synthesize a candidate pair the
    * oracle provably lacks.
    */
  /** The explode + min(substring(md5)) expression form of the d2b
    * signature — the readable statement of the algebra, kept for the
    * kernel parity spec; the registered query rides the map-only kernel.
    */
  private[graft] def md5SigExpressionForm(docs: DataFrame,
      w: Int, numHashes: Int): DataFrame = {
    val sh = docs.select(col("doc_id"),
      explode(shingles(col("text"), w)).as("sh"))
    val minCols = (0 until numHashes).map(j =>
      min(substring(md5(col("sh")), 4 * j + 1, 4)).as(s"m$j"))
    sh.groupBy("doc_id")
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(j => col(s"m$j")): _*).as("sig"))
  }

  /** (doc_id, sig, band, bucket) rows of the portable md5-min sketch —
    * signatures via the map-only kernel (one md5-minhash call per doc),
    * band buckets as '|'-joined signature slices (string equality, never
    * an engine hash). Shared by d2b's pair join and d15's landed index.
    */
  private def md5BandedSig(docs: DataFrame, w: Int, numHashes: Int,
      bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    docs.select(col("doc_id"),
      graft.functions.TextKernelFns.md5MinhashSig(
        docs.sparkSession, col("text"), w, numHashes).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => concat_ws("|",
            slice(col("sig"), b * lit(rowsPerBand) + 1, lit(rowsPerBand))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  def minhashPortablePairs(docs: DataFrame, w: Int = 3, numHashes: Int = 8,
      bands: Int = 4, minJaccard: Double = 0.5,
      maxBucket: Int = 1000): DataFrame = {
    // md5 yields 32 hex chars = at most 8 four-char permutation slices;
    // a non-dividing band count would silently leave hashes unbanded
    // (candidates lost, est_jaccard still averaged over all of them)
    require(numHashes >= 1 && numHashes <= 8 && bands >= 1 &&
      numHashes % bands == 0,
      s"need 1 <= numHashes <= 8 and bands | numHashes; got $numHashes/$bands")
    // Signatures via the map-only kernel (one md5-minhash call per doc —
    // no shingle explode, no per-doc aggregation shuffle; 3.9 s → the
    // cost of one corpus scan at sf0.1). Values are identical to
    // [[md5SigExpressionForm]] (spec-asserted): portability lives in the
    // md5-slice VALUES the oracle recomputes, not in the plan shape.
    val banded = md5BandedSig(docs, w, numHashes, bands)
    val buckets = banded.groupBy(col("band"), col("bucket"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("sig")))).as("ms"))
      .filter(size(col("ms")).between(2, maxBucket))
    val agree = (0 until numHashes).map { k =>
      when(col("a.sig").getItem(k) === col("b.sig").getItem(k), 1).otherwise(0)
    }.reduce(_ + _)
    buckets
      .select(posexplode(col("ms")).as(Seq("i", "a")), col("ms"))
      .select(col("a"),
        explode(slice(col("ms"), col("i") + 2, size(col("ms")))).as("b"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        (agree.cast("double") / lit(numHashes)).as("est_jaccard"))
      .filter(col("est_jaccard") >= minJaccard)
      .distinct()
  }

  private def d2bMinhashPortable(s: SparkSession, d: String): DataFrame =
    minhashPortablePairs(Tables.documents(s, d))
      .orderBy(col("id_a"), col("id_b"))

  /** Oracle replicating [[minhashPortablePairs]] exactly: same shingling
    * CTE as d4/d9, md5-slice permutations, lexicographic mins,
    * '|'-concatenated band buckets, 2..maxBucket bucket cap, and the same
    * small-int/8.0 division → bit-exact est_jaccard both sides.
    */
  private val d2bSql = {
    val mins = (0 until 8).map(j =>
      s"min(substr(md5(sh), ${4 * j + 1}, 4)) AS m$j").mkString(",\n       |    ")
    val bandRows = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, m${2 * b} || '|' || m${2 * b + 1} AS bucket, " +
        (0 until 8).map(j => s"m$j").mkString(", ") + " FROM sig")
      .mkString("\n       |  UNION ALL ")
    val agree = (0 until 8).map(j =>
      s"CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
       |  FROM documents),
       |idx AS (
       |  SELECT doc_id, t, unnest(range(0, greatest(len(t)-3, 0)+1)) AS i
       |  FROM toks),
       |shd AS (
       |  SELECT DISTINCT doc_id, array_to_string(t[i+1:i+3], ' ') AS sh
       |  FROM idx WHERE length(array_to_string(t[i+1:i+3], ' ')) > 0),
       |sig AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM shd GROUP BY doc_id),
       |banded AS (
       |  $bandRows),
       |ok AS (
       |  SELECT band, bucket FROM banded
       |  GROUP BY band, bucket HAVING count(*) BETWEEN 2 AND 1000)
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST($agree AS DOUBLE) / 8 AS est_jaccard
       |FROM banded a
       |JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
       |             AND a.doc_id < b.doc_id
       |JOIN ok ON ok.band = a.band AND ok.bucket = a.bucket
       |WHERE CAST($agree AS DOUBLE) / 8 >= 0.5
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ---- D3: SimHash -------------------------------------------------------
  /** 64-bit SimHash over token xxhash64s, as pure SQL expressions: for each
    * bit, sum(+1/-1 by bit set) over tokens, bit := sum > 0. Per-row
    * expression form — composable, used by the spec on small frames.
    */
  def simhash64(text: Column): Column = {
    val hashes = transform(split(lower(text), "\\s+"), t => xxhash64(t))
    val bits = (0 until 64).map { i =>
      val bitSum = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, i).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(bitSum > 0, lit(1L).cast("long") * lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Corpus-scale SimHash: MAP-ONLY — one codegen'd kernel call per
    * document (functions.TextKernels.simhash): no token explode, no
    * 64-sum aggregation shuffle. Same result as [[simhash64]]
    * (spec-asserted); at 100 TB the sketch costs exactly one corpus scan.
    */
  def simhashTable(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.TextKernelFns.simhash(docs.sparkSession, col("text"))
        .as("simhash"))
      // null-text docs vanish, as in the explode+aggregate form (a null
      // token array exploded to zero rows)
      .filter(col("simhash").isNotNull)

  /** Fixture-replay oracle, same discipline as d2; d3b is the portable
    * bit-majority proof.
    */
  private def d3Simhash(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    graft.util.OracleFixtures.withCorpusKey(simhashTable(docs), s, d)
      .orderBy(col("doc_id"))
  }

  private val d3Sql = graft.util.OracleFixtures.sql("d3_simhash",
    Seq("doc_id", "simhash"), "doc_id")

  /** SimHash near-dup pairs via pigeonhole banding: split the 64-bit hash
    * into `bands` chunks; any pair within hamming distance < bands must
    * share at least one exact chunk, so candidates come from chunk-equality
    * joins (linear-ish), then bit_count(a XOR b) verifies exactly.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      bands: Int = 4): DataFrame = {
    require(maxHamming < bands, "pigeonhole needs maxHamming < bands")
    val width = 64 / bands
    val mask = (1L << width) - 1
    val sig = simhashTable(docs)
    val banded = sig.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until bands).map(b =>
        shiftrightunsigned(col("simhash"), b * width).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "chunk")))
    val a = banded.select(col("band"), col("chunk"),
      col("doc_id").as("id_a"), col("simhash").as("h_a"))
    val b = banded.select(col("band"), col("chunk"),
      col("doc_id").as("id_b"), col("simhash").as("h_b"))
    a.join(b, Seq("band", "chunk")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // ---- D3b: engine-portable SimHash (oracle-checked twin of d3) ----------
  /** 16-bit SimHash whose every step is engine-portable, completing the
    * portable sketch family begun by d2b: per token, the hash is the
    * integer value of the first 4 hex chars of md5(token); bit i of the
    * sketch is set iff more tokens have bit i set than not — the same
    * majority vote as [[simhash64]], shrunk to the 16 bits a plain-SQL
    * oracle can reassemble from md5 nibbles. d3 (64-bit xxhash64 kernel,
    * map-only) remains the production sketch; d3b is the cross-engine
    * proof of the bit-majority algebra, hash-checked against DuckDB.
    *
    * Shape: token explode feeding a per-doc 16-sum aggregation whose
    * partial completes map-side (a doc's tokens stay in its input
    * partition) — one exchange of (doc_id, 16 ints) per doc.
    */
  def simhash16Portable(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(split(lower(col("text")), "\\s+")).as("tok"))
    val v = conv(substring(md5(col("tok")), 1, 4), 16, 10).cast("long")
    val sums = (0 until 16).map(i =>
      sum(when(shiftright(col("v"), i).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"s$i"))
    tok.select(col("doc_id"), v.as("v"))
      .groupBy("doc_id")
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id"),
        (0 until 16).map(i =>
          when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash16"))
  }

  private def d3bSimhashPortable(s: SparkSession, d: String): DataFrame =
    simhash16Portable(Tables.documents(s, d))
      .orderBy(col("doc_id"))

  /** Oracle reassembling the same 16-bit value from md5 nibbles
    * (strpos-decoded hex chars) and the same ±1 majority sums.
    */
  private val d3bSql = {
    val hexv = (k: Int) =>
      s"(strpos('0123456789abcdef', substr(h4, $k, 1)) - 1)"
    val sums = (0 until 16).map(i =>
      s"SUM(CASE WHEN (v // ${1 << i}) % 2 = 1 THEN 1 ELSE -1 END) AS s$i")
      .mkString(",\n       |    ")
    val bits = (0 until 16).map(i =>
      s"CASE WHEN s$i > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id,
       |         unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
       |  FROM documents),
       |h AS (SELECT doc_id, substr(md5(tok), 1, 4) AS h4 FROM tok),
       |vv AS (
       |  SELECT doc_id,
       |         ${hexv(1)} * 4096 + ${hexv(2)} * 256 +
       |         ${hexv(3)} * 16 + ${hexv(4)} AS v
       |  FROM h),
       |sums AS (
       |  SELECT doc_id,
       |    $sums
       |  FROM vv GROUP BY doc_id)
       |SELECT doc_id, CAST($bits AS BIGINT) AS simhash16
       |FROM sums ORDER BY doc_id""".stripMargin
  }

  // ---- D4: exact n-gram Jaccard over candidate pairs ---------------------
  // Explode distinct shingles, bucket by shingle (co-occurrence count),
  // Jaccard = |∩| / (|A| + |B| - |∩|). The shingle bucketing IS the
  // LSH-free exact method, used post-banding at scale.
  /** Shingles shared by more than `maxBucket` docs are "stop-shingles" —
    * boilerplate: one such shingle across 10^6 docs would expand ~10^12
    * in-bucket pairs inside a single task. They are excluded from
    * numerator AND denominator, so the result is Jaccard over
    * discriminative shingles (standard dedup practice, cf. stop-ngram
    * removal in large-scale dedup pipelines); with every bucket ≤
    * maxBucket the output is identical to the uncapped algorithm (the
    * testdata's widest bucket is 25 docs at sf0.1).
    */
  def jaccardPairs(docs: DataFrame, w: Int = 3, minJ: Double = 0.8,
      maxBucket: Int = 64): DataFrame = {
    // work on 8-byte shingle hashes, not strings — smaller shuffle;
    // xxhash64 collisions are negligible here. The hash set comes from
    // the single-pass kernel (bit-identical to the old
    // array_distinct∘transform∘xxhash64 HOF chain, which was interpreted
    // and dominated the query).
    val sh = docs.select(col("doc_id"),
      explode(graft.functions.TextKernelFns.shingleHashes(
        docs.sparkSession, col("text"), w)).as("sh"))
    // ONE shuffle on the shingle hash; pairs generated inside the bucket
    // (ordered ids → each unordered pair once) — replaces the two-sided
    // self-join, which shuffled the frame twice and joined.
    //
    // The bucket table feeds THREE consumers (sizes joined twice + the
    // pair expansion). Catalyst does NOT emit a ReusedExchange across
    // them (verified by DedupSimilaritySpec's plan assertion — the
    // round-2 claim that it would was wrong, and the docs scan ran three
    // times). An eager localCheckpoint materializes it exactly once; the
    // backing blocks are released by the ContextCleaner when the frame is
    // garbage-collected, so unlike the round-1 persist there is no
    // session-lifetime leak and no unpersist scope to manage.
    val grouped = sh.groupBy("sh")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) <= maxBucket)
      .localCheckpoint()
    val sizes = grouped.select(explode(col("ids")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    val buckets = grouped.filter(size(col("ids")) > 1)
    val common = buckets
      .select(posexplode(col("ids")).as(Seq("i", "id_a")), col("ids"))
      .select(col("id_a"),
        explode(slice(col("ids"), col("i") + 2, size(col("ids")))).as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common"))).as("jaccard"))
      .filter(col("jaccard") >= minJ)
  }

  /** The (w=3, minJ=0.5) candidate-pair frame d4 AND d7 both consume,
    * landed once per documents version: the pair
    * index is source-derived dedup state — production computes it once
    * per corpus version and both the pair report and the cluster
    * resolution read the landing. Small by construction (pairs above the
    * Jaccard threshold).
    */
  private def landedJaccardPairs(s: SparkSession, d: String): DataFrame =
    Artifacts.frame(s,
      Artifacts.key("jacc_pairs_3_05", Tables.path(d, "documents")))(
      jaccardPairs(Tables.documents(s, d), 3, 0.5))

  private def d4Jaccard(s: SparkSession, d: String): DataFrame =
    landedJaccardPairs(s, d).orderBy(col("id_a"), col("id_b"))

  // ---- D8: incremental dedup (re-ingest against an existing corpus) ------
  /** Keep only batch documents whose content digest is NOT already in the
    * corpus, collapsing in-batch copies to the smallest doc_id — the
    * re-crawl shape: yesterday's corpus is already deduped, today's crawl
    * must be checked against it without rescanning yesterday's text.
    *
    * Scale: the corpus side reduces to a digest column (32 bytes/doc,
    * pruned scan — in production a precomputed digest index); the
    * anti-join shuffles digests only, never documents. Uniform digest
    * distribution means no skew. (No reference counterpart — extension
    * per the LLM-pipeline mandate, like d1 it extends
    * data_preprocessing semantics to content identity.)
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame): DataFrame =
    batch.groupBy(sha2(col("text"), 256).as("digest"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_in_batch"))
      .join(corpus.select(sha2(col("text"), 256).as("digest")),
        Seq("digest"), "left_anti")
      .select(col("doc_id"), col("n_in_batch"))

  /** D8 query: corpus = doc_id%10 ∈ [0,6), batch = doc_id%10 ∈ [4,10) —
    * the 20% overlap (digits 4,5) is the re-crawled fraction the
    * anti-join must drop; disjoint batch docs pass through.
    */
  private def d8Incremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    incrementalDedup(
      docs.filter(col("doc_id") % 10 < 6),
      docs.filter(col("doc_id") % 10 >= 4))
      .orderBy(col("doc_id"))
  }

  private val d8Sql =
    """WITH corpus AS (
      |  SELECT sha256(text) AS digest FROM documents WHERE doc_id % 10 < 6),
      |batch AS (
      |  SELECT sha256(text) AS digest, MIN(doc_id) AS doc_id,
      |         CAST(COUNT(*) AS BIGINT) AS n_in_batch
      |  FROM documents WHERE doc_id % 10 >= 4 GROUP BY 1)
      |SELECT doc_id, n_in_batch FROM batch b
      |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.digest = b.digest)
      |ORDER BY doc_id""".stripMargin

  // ---- D8b: incremental dedup against a LANDED digest index --------------
  /** The production form of [[incrementalDedup]]: the corpus digest set is
    * not recomputed per batch but landed ONCE as a bucketed table (32-byte
    * digests only — the "precomputed digest index" the d8 scaladoc
    * promises), so every subsequent batch anti-joins against it with NO
    * shuffle on the index side: the index reads bucket-aligned from disk
    * and only the (small) batch digests move. At 100 TB that's the
    * difference between re-shuffling yesterday's corpus per crawl and
    * shuffling just today's delta. A runtime plan guard enforces the
    * claim — sort-merge join present, zero Exchange in the index subtree
    * — so the CORRECTNESS row cannot pass with a shuffling plan. Result
    * is identical to [[incrementalDedup]] (same oracle SQL).
    */
  /** Keyed on the documents version: a regenerated source dir must not
    * anti-join today's batches against yesterday's landed digests (the
    * staleness class Bucketed/s9/s10/s11 guard too; spec-pinned here).
    */
  private[graft] def digestIndexName(s: SparkSession, d: String): String = {
    val key = Artifacts.key("d8digests", Tables.path(d, "documents"))
    Artifacts.value(key) {
      val name =
        s"graft_d8_digests_${(key.hashCode & Int.MaxValue).toHexString}"
      graft.relational.Bucketed.writeBucketed(
        Tables.documents(s, d).filter(col("doc_id") % 10 < 6)
          .select(sha2(col("text"), 256).as("digest")).distinct(),
        name, "digest")
      name
    }
  }

  private def d8bIncrementalIndexed(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val index = s.table(digestIndexName(s, d))
    val out = docs.filter(col("doc_id") % 10 >= 4)
      .groupBy(sha2(col("text"), 256).as("digest"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_in_batch"))
      // merge hint: at test scale the tiny index would broadcast, which
      // proves nothing about the landed layout (same discipline as j6)
      .join(index.hint("merge"), Seq("digest"), "left_anti")
      .select(col("doc_id"), col("n_in_batch"))
      .orderBy(col("doc_id"))
    val root = out.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val smj = root.collectFirst {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    require(smj.isDefined,
      "digest-index anti-join did not plan as sort-merge — layout proof is vacuous")
    require(smj.get.right.collectFirst {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.isEmpty, "digest index side planned a shuffle — landing not used")
    out
  }

  // ---- D9: train/eval decontamination ------------------------------------
  /** Flag training documents sharing enough discriminative shingles with
    * an eval document. The score is CONTAINMENT — |common| / |eval doc's
    * shingles| — not Jaccard: a 10 kB train document that swallows a
    * 200-token eval item whole is exactly what must be caught, and its
    * Jaccard is tiny. Stop-shingles (shared by > maxBucket docs across
    * both sides) are excluded from numerator and denominator, as in d4.
    *
    * Scale shape: same single-shuffle bucket pattern as [[jaccardPairs]] —
    * one (shingle → members) aggregation, localCheckpoint for the three
    * consumers, in-bucket train×eval expansion via codegen slice/explode
    * (members sorted so eval docs come first; no interpreted HOF per
    * bucket). Real eval sets are MBs against a 100 TB train side, so the
    * eval shingle table broadcasts and contamination becomes one map-side
    * join over the train scan; at testdata scale both sides ride the one
    * bucket shuffle.
    */
  def contaminationPairs(train: DataFrame, eval_ : DataFrame, w: Int = 3,
      minContainment: Double = 0.5, maxBucket: Int = 64): DataFrame = {
    val s = train.sparkSession
    def shingled(df: DataFrame, isTrain: Boolean) =
      df.select(lit(isTrain).as("is_train"), col("doc_id"),
        explode(graft.functions.TextKernelFns.shingleHashes(
          s, col("text"), w)).as("sh"))
    // struct sort key (is_train, doc_id): eval members (false) sort first,
    // so slice(ms, 1, n_ev) is the eval side and the rest is the train side
    val grouped = shingled(train, isTrain = true)
      .union(shingled(eval_, isTrain = false))
      .groupBy(col("sh"))
      .agg(sort_array(collect_list(struct(col("is_train"), col("doc_id"))))
          .as("ms"),
        sum(when(col("is_train"), 0).otherwise(1)).as("n_ev"))
      .filter(size(col("ms")) <= maxBucket)
      .localCheckpoint()
    val evalSizes = grouped
      .select(explode(slice(col("ms"), lit(1), col("n_ev"))).as("e"))
      .groupBy(col("e.doc_id").as("eval_id"))
      .agg(count(lit(1)).as("n_eval_sh"))
    val common = grouped
      .filter(col("n_ev") > 0 && col("n_ev") < size(col("ms")))
      .select(explode(slice(col("ms"), lit(1), col("n_ev"))).as("e"),
        slice(col("ms"), col("n_ev") + 1, size(col("ms")) - col("n_ev"))
          .as("ts"))
      .select(col("e.doc_id").as("eval_id"), explode(col("ts")).as("t"))
      .groupBy(col("t.doc_id").as("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("common"))
    common.join(evalSizes, "eval_id")
      .select(col("train_id"), col("eval_id"),
        (col("common").cast("double") / col("n_eval_sh")).as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /** D9 query: even doc_ids play the training corpus, odd the eval set. */
  private def d9Decontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    contaminationPairs(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1))
      .orderBy(col("train_id"), col("eval_id"))
  }

  /** Oracle replicates the shingling of [[shingles]] on strings (vs Spark's
    * xxhash64 of them — identical modulo collisions, none in testdata),
    * the cross-side stop-shingle cap, and the containment division of the
    * same two integers → bit-exact doubles.
    */
  private def deconSql(w: Int) =
    s"""WITH toks AS (
       |  SELECT doc_id, doc_id % 2 = 0 AS is_train,
       |         regexp_split_to_array(lower(text), '\\s+') AS t
       |  FROM documents),
       |idx AS (
       |  SELECT doc_id, is_train, t,
       |         unnest(range(0, greatest(len(t)-$w, 0)+1)) AS i
       |  FROM toks),
       |shd AS (
       |  SELECT DISTINCT doc_id, is_train,
       |         array_to_string(t[i+1:i+$w], ' ') AS sh
       |  FROM idx WHERE length(array_to_string(t[i+1:i+$w], ' ')) > 0),
       |grp AS (SELECT sh FROM shd GROUP BY sh HAVING count(*) <= 64),
       |kept AS (SELECT shd.doc_id, shd.is_train, shd.sh
       |         FROM shd JOIN grp USING (sh)),
       |esz AS (SELECT doc_id, count(*) AS n FROM kept
       |        WHERE NOT is_train GROUP BY doc_id),
       |cm AS (
       |  SELECT a.doc_id AS train_id, b.doc_id AS eval_id, count(*) AS c
       |  FROM kept a JOIN kept b ON a.sh = b.sh AND a.is_train AND NOT b.is_train
       |  GROUP BY 1, 2)
       |SELECT train_id, eval_id, CAST(c AS DOUBLE) / esz.n AS containment
       |FROM cm JOIN esz ON esz.doc_id = cm.eval_id
       |WHERE CAST(c AS DOUBLE) / esz.n >= 0.5
       |ORDER BY train_id, eval_id""".stripMargin

  private val d9Sql = deconSql(3)

  // ---- D16: bloom-prefiltered decontamination -----------------------------
  /** D16: d9's exact decontamination behind a MAP-SIDE bloom pre-scan —
    * the shape the check takes at 100 TB. The eval set's distinct
    * 8-token shingle hashes build one bloom (distributed partial blooms,
    * driver sees only the fixed-size bit array — the j7 machinery); the
    * train scan keeps only documents with at least one might-contain
    * shingle, and the exact containment join runs on the survivors.
    *
    * The prune is RESULT-TRANSPARENT, not approximate: a bloom has no
    * false negatives, so any train doc sharing ANY shingle with the eval
    * side survives to the exact join; and every cross-side shingle
    * bucket keeps all its members (each train member of such a bucket
    * shares that shingle, hence survives), so the stop-shingle cap and
    * the containment counts are unchanged — d16 ≡ exact w=8
    * decontamination, registered with the SAME oracle family as d9 (w=8
    * instance; the t18 identical-result discipline). False positives
    * cost a wasted exact-join probe, never a wrong row.
    *
    * w=8 (vs d9's w=3) is the published-practice window for benchmark
    * decontamination (8–13-gram exact overlap): measured here it prunes
    * the train side to ~5% at both SFs, where w=3 prunes nothing (every
    * doc shares some 3-shingle). At 100 TB the bloom (9.6 bits per eval
    * shingle at 1% fpp — MBs for any real eval suite) broadcasts inside
    * the codegen'd predicate and the corpus scan drops 95% of documents
    * before any shuffle.
    */
  /** The map-side bloom pre-scan: train docs with ≥1 might-contain
    * shingle against a bloom of the eval side's distinct shingle hashes.
    * Exposed for the d16 spec's prune-effectiveness measurement.
    */
  private[graft] def bloomSurvivors(train: DataFrame, eval_ : DataFrame,
      w: Int): DataFrame = {
    val s = train.sparkSession
    val evalSh = eval_.select(explode(graft.functions.TextKernelFns
      .shingleHashes(s, col("text"), w)).as("sh")).distinct()
    val bloom = evalSh.stat.bloomFilter("sh", 1L << 20, 0.01)
    // the registered name must derive from the bloom's CONTENT, not its
    // object identity: ensureTransient keeps the existing builder for a
    // known name, so an identity-hash collision between two different
    // blooms in one JVM (both SFs in a test session, a mid-JVM regen)
    // would silently serve the stale bits — false negatives in the
    // prune, i.e. dropped contamination pairs (round-13 advice; the
    // KernelRegistry per-call-state contract)
    val name = "bloom_sh_" + {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      (scala.util.hashing.MurmurHash3.bytesHash(bos.toByteArray, 42)
        & Int.MaxValue).toHexString
    }
    graft.functions.KernelRegistry.ensureTransient(s, name)(
      exprs => graft.relational.BloomMightContain(exprs(0), bloom))
    val survivors = train.filter(exists(
      graft.functions.TextKernelFns.shingleHashes(s, col("text"), w),
      h => call_function(name, h)))
    // Guard on the SURVIVOR frame: contaminationPairs localCheckpoints
    // its bucket table, so the bloom scan is severed out of the final
    // plan (it runs during materialization). The plan prints the
    // expression's prettyName, not the registered name.
    require(survivors.queryExecution.optimizedPlan.toString
        .contains("bloom_might_contain"),
      "bloom pre-scan missing from the train-scan plan")
    survivors
  }

  private def d16BloomDecon(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val train = docs.filter(col("doc_id") % 2 === 0)
    val eval_ = docs.filter(col("doc_id") % 2 === 1)
    contaminationPairs(bloomSurvivors(train, eval_, 8), eval_, w = 8)
      .orderBy(col("train_id"), col("eval_id"))
  }

  // ---- D7: duplicate-cluster resolution ----------------------------------
  /** Connected components over an undirected pair list: every node's
    * label converges to the smallest doc_id reachable from it. The step a
    * dedup pipeline needs AFTER pair generation — near-dup is transitive
    * in practice (A≈B≈C must collapse to ONE keeper even when (A,C)
    * itself missed the threshold).
    *
    * Scale shape: graphs within `maxDriverEdges` (the common case — the
    * pair list is post-filter output) are solved with driver union-find
    * via a LIMIT size probe; beyond the cap, distributed alternating
    * large-star/small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): each round rewires
    * every node's larger neighbours (large-star) then its smaller ones
    * (small-star) to the neighbourhood minimum, converging to one star
    * per component in O(log n) rounds — where min-label propagation needs
    * O(diameter) rounds and a chain-shaped pair graph would exhaust
    * maxIter. Both operations are groupBy-min + equi-join (NOT a window):
    * the partial min combines map-side, and the join on a skewed star
    * center is exactly the shape AQE skew-join splits. The edge set is
    * re-materialized per round with localCheckpoint (truncates iterative
    * lineage), and the convergence probe — an except() emptiness check,
    * exact, not a hash — runs over the already-checkpointed blocks of the
    * current and previous rounds, so it costs a local scan instead of the
    * old recompute-the-round join+count second action. Throws if maxIter
    * rounds don't converge rather than returning unstable labels.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
      maxDriverEdges: Int = 1 << 20): DataFrame = {
    val s = pairs.sparkSession
    // The pair list is the OUTPUT of aggressive filtering (banding +
    // verification), so it is almost always orders of magnitude smaller
    // than the corpus. The LIMIT doubles as a free size probe (same
    // pattern as cosinePairsExact): a graph that fits the cap is solved
    // with driver union-find in microseconds — no iterative rounds at
    // all; the distributed propagation below engages only beyond it.
    val probe = pairs.select(col("id_a"), col("id_b"))
      .limit(maxDriverEdges + 1).collect()
    if (probe.length <= maxDriverEdges) {
      import s.implicits._
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val n = parent.getOrElse(c, c); parent(c) = r; c = n
        }
        r
      }
      probe.foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(if (ra < rb) rb else ra) = math.min(ra, rb)
        parent.getOrElseUpdate(math.min(ra, rb), math.min(ra, rb))
      }
      val nodes = probe.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
      val minOfRoot = scala.collection.mutable.LongMap.empty[Long]
      nodes.foreach { n =>
        val r = find(n)
        minOfRoot(r) = math.min(minOfRoot.getOrElse(r, n), n)
      }
      return nodes.toSeq.map(n => (n, minOfRoot(find(n)))).toDF("id", "label")
    }
    // large-star: connect every neighbour LARGER than u to the minimum of
    // u's closed neighbourhood. Output edges always point big → small.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = sym.groupBy("src")
        .agg(min(least(col("dst"), col("src"))).as("m"))
      sym.join(mins, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }
    // small-star: connect every (smaller) neighbour and u itself to the
    // minimum of u's neighbourhood. Input/output edges point big → small.
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("src").agg(min(col("dst")).as("m"))
      e.join(mins, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(mins.select(col("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }
    var edges = pairs
      .select(greatest(col("id_a"), col("id_b")).as("src"),
        least(col("id_a"), col("id_b")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint()
    var converged = false
    var round = 0
    while (!converged && round < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      // exact set equality over two checkpointed frames — E'⊆E ∧ E⊆E'.
      converged = next.except(edges).union(edges.except(next)).isEmpty
      edges = next
      round += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    // Fixed point = one star per component, centred on the component
    // minimum: every non-centre node has exactly one edge (u → min);
    // centres appear only as dst and label themselves.
    val labeled = edges.select(col("src").as("id"), col("dst").as("label"))
      .union(edges.select(col("dst").as("id"), col("dst").as("label")).distinct())
    // Self-pairs vanish from the star edge set (src ≠ dst filter) but are
    // legitimate degenerate input — a node whose ONLY edge is (v, v) must
    // still appear, labeled with itself, exactly as the driver union-find
    // path returns it. Nodes with real edges are already labeled.
    val selfOnly = pairs.filter(col("id_a") === col("id_b"))
      .select(col("id_a").as("id")).distinct()
      .join(labeled, Seq("id"), "left_anti")
    labeled.union(selfOnly.select(col("id"), col("id").as("label")))
  }

  /** D7: duplicate clusters from the d4 pair graph — (cluster_id = the
    * cluster's smallest doc_id, n_docs ≥ 2).
    */
  private def d7DupClusters(s: SparkSession, d: String): DataFrame =
    connectedComponents(landedJaccardPairs(s, d))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("label").as("cluster_id"), col("n_docs"))
      .orderBy(col("cluster_id"))

  /** Oracle: transitive closure by recursive CTE over the same pair CTE,
    * label = least(id, min reachable peer). Lazy: [[dupPairsCte]] is
    * declared further down the file (beside d4Sql) — a plain val here
    * would initialize first and interpolate null.
    */
  private lazy val d7Sql =
    s"""WITH RECURSIVE ${dupPairsCteFrom("documents")},
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM dup_pairs
       |  UNION ALL SELECT id_b, id_a FROM dup_pairs),
       |reach AS (
       |  SELECT src AS id, dst AS peer FROM edges
       |  UNION
       |  SELECT r.id, e.dst FROM reach r JOIN edges e ON e.src = r.peer),
       |labels AS (
       |  SELECT id, least(id, min(peer)) AS cluster_id
       |  FROM reach GROUP BY id)
       |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs
       |FROM labels GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  // ---- D19: quality-aware cluster representatives ---------------------------
  /** D19: which member of each near-dup cluster to KEEP — by quality,
    * not by id. d7 labels clusters with their min doc_id (the cheap
    * canonical choice); real curation keeps the BEST member — here the
    * LONGEST document (the most complete variant; exact integer
    * n_chars), doc_id tie-break. Emits (cluster_id, keeper_id, n_docs,
    * keeper_chars) for real clusters (n_docs ≥ 2) — keeper_id ≠
    * cluster_id whenever a longer member beats the min-id one, which is
    * exactly the case d7's policy gets wrong.
    *
    * Scale: d7's component labeling (size-probed union-find / star
    * contraction over the POST-FILTER pair list) + one slim metadata
    * join + a per-cluster argmax window (partitioned — cluster count is
    * the cardinality). The shared jaccard-pair index is landed per
    * source version, so the marginal cost over d7 is the argmax.
    */
  private def d19ClusterReps(s: SparkSession, d: String): DataFrame = {
    val labels = connectedComponents(landedJaccardPairs(s, d))
    val sized = labels.join(
      Tables.documents(s, d).select(col("doc_id").as("id"),
        col("n_chars").cast("long").as("n_chars")), "id")
    val wRank = Window.partitionBy(col("label"))
      .orderBy(col("n_chars").desc, col("id"))
    val wSize = Window.partitionBy(col("label"))
    sized
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n_docs", count(lit(1)).over(wSize))
      .filter(col("rn") === 1 && col("n_docs") >= 2)
      .select(col("label").as("cluster_id"), col("id").as("keeper_id"),
        col("n_docs"), col("n_chars").as("keeper_chars"))
      .orderBy(col("cluster_id"))
  }

  private lazy val d19Sql =
    s"""WITH RECURSIVE ${dupPairsCteFrom("documents")},
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM dup_pairs
       |  UNION ALL SELECT id_b, id_a FROM dup_pairs),
       |reach AS (
       |  SELECT src AS id, dst AS peer FROM edges
       |  UNION
       |  SELECT r.id, e.dst FROM reach r JOIN edges e ON e.src = r.peer),
       |labels AS (
       |  SELECT id, least(id, min(peer)) AS cluster_id
       |  FROM reach GROUP BY id),
       |sized AS (
       |  SELECT l.cluster_id, l.id, CAST(d.n_chars AS BIGINT) AS n_chars
       |  FROM labels l JOIN documents d ON l.id = d.doc_id),
       |rk AS (
       |  SELECT cluster_id, id, n_chars,
       |    row_number() OVER (PARTITION BY cluster_id
       |      ORDER BY n_chars DESC, id) AS rn,
       |    COUNT(*) OVER (PARTITION BY cluster_id) AS n_docs
       |  FROM sized)
       |SELECT cluster_id, id AS keeper_id, CAST(n_docs AS BIGINT) AS n_docs,
       |  n_chars AS keeper_chars
       |FROM rk WHERE rn = 1 AND n_docs >= 2
       |ORDER BY cluster_id""".stripMargin

  /** Plain-SQL shingle Jaccard, replicating [[shingles]] exactly:
    * regexp-split keeps leading/trailing empties like Spark's
    * split(limit=-1); slices truncate at the end the same way; the
    * ≤ maxBucket stop-shingle cap applies before sizes AND pairs. The
    * SQL distincts shingle STRINGS where Spark distincts their
    * xxhash64s — identical modulo 64-bit collisions (none in testdata).
    * Jaccard divides the same two integers in both engines → bit-exact
    * doubles with no rounding step.
    */
  /** Shared CTE body: the shingle-Jaccard candidate pairs at minJ=0.5
    * over any (doc_id, text) source — used by the d4 oracle directly, by
    * d7's connected-components oracle, and by pipe2's collapse stage.
    */
  private[ext] def dupPairsCteFrom(src: String): String =
    s"""toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
      |  FROM $src),
      |idx AS (
      |  SELECT doc_id, t, unnest(range(0, greatest(len(t)-3, 0)+1)) AS i
      |  FROM toks),
      |shd AS (
      |  SELECT DISTINCT doc_id, array_to_string(t[i+1:i+3], ' ') AS sh
      |  FROM idx WHERE length(array_to_string(t[i+1:i+3], ' ')) > 0),
      |grp AS (SELECT sh FROM shd GROUP BY sh HAVING count(*) <= 64),
      |kept AS (SELECT shd.doc_id, shd.sh FROM shd JOIN grp USING (sh)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
      |cm AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      |  FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |dup_pairs AS (
      |  SELECT id_a, id_b,
      |    CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
      |  FROM cm
      |  JOIN sizes sa ON sa.doc_id = cm.id_a
      |  JOIN sizes sb ON sb.doc_id = cm.id_b
      |  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5)""".stripMargin

  private val d4Sql =
    s"""WITH ${dupPairsCteFrom("documents")}
       |SELECT id_a, id_b, jaccard FROM dup_pairs
       |ORDER BY id_a, id_b""".stripMargin

  // ---- D10: edit-distance near-dup verification --------------------------
  /** Length-blocked Levenshtein near-dup pairs — the exact-verification
    * complement to the sketch family (d2 MinHash, d3 SimHash): edit
    * distance is the ground-truth metric fuzzy dedup ultimately cares
    * about, but it is O(len²) per pair, so it can only ever run on a
    * blocked candidate set, never all pairs.
    *
    * Blocking is LOSSLESS for the |Δn_chars| ≤ 4 gate: each doc lands in
    * length buckets ⌊n/8⌋ and ⌊n/8⌋+1, and any pair within 4 chars of
    * each other differs by at most one bucket, so it always shares one.
    * The distance itself runs on the 64-char prefix — bounded work per
    * pair regardless of document length (the full-text distance at 100 TB
    * would be quadratic in doc length; a prefix gate is how production
    * fuzzy-dedup bounds it, with the sketch families covering the rest of
    * the document).
    *
    * Scale: the 64-char prefixes ride the block join directly — bounded
    * payload is cheaper than the extra shuffles of a bare-ID dedup +
    * rejoin (the x7 rule applies to multi-KB embeddings, not to a
    * fixed 64-char column); the length-bucket join keys are near-uniform
    * by construction, and the banded (threshold) DP bounds per-pair work
    * at O(prefixLen·maxDist). Both engines compute the identical integer
    * DP, so the pairs hash-gate exactly.
    */
  def editDistPairs(docs: DataFrame, maxDist: Int = 5, lenGate: Int = 4,
      prefixLen: Int = 64): DataFrame = {
    val blocked = docs.select(col("doc_id"), col("n_chars"),
      substring(col("text"), 1, prefixLen).as("pfx"),
      explode(array(floor(col("n_chars") / 8),
        floor(col("n_chars") / 8) + 1)).as("blk"))
    // The prefixes ride the block join directly: at 64 chars they are
    // SMALLER than the shuffle a bare-ID dedup + two rejoins would move
    // (the x7 bare-pair rule is for multi-KB embeddings, not bounded
    // prefixes). The threshold form of levenshtein runs the banded DP —
    // O(len·maxDist) cells instead of O(len²), and -1 past the band, so
    // the filter keeps exactly the pairs whose TRUE distance ≤ maxDist.
    // A pair whose lengths straddle a block boundary appears in both
    // shared blocks; the final distinct collapses it (3 small columns).
    // The probe side is explicitly repartitioned on the join key: the
    // corpus ships as ONE parquet file under the 4 MB open-cost floor, so
    // the scan is a single split and the broadcast-join probe — where
    // every banded DP runs — executed on ONE task (guide §2.5's
    // unsplittable-input skew; measured 3.1 s of single-core levenshtein
    // at sf0.1). The exchange moves 3 slim columns + a 64-char prefix and
    // buys full-width DP parallelism; at scale (build side past the
    // broadcast cap) the same blk-keyed exchange is exactly the shuffle a
    // sort-merge join needs, so it is reused, never wasted.
    val probe = blocked.repartition(
      docs.sparkSession.sessionState.conf.numShufflePartitions, col("blk"))
    probe.as("a").join(blocked.as("b"),
        col("a.blk") === col("b.blk") &&
        col("a.doc_id") < col("b.doc_id") &&
        abs(col("a.n_chars") - col("b.n_chars")) <= lenGate)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        levenshtein(col("a.pfx"), col("b.pfx"), maxDist).cast("long")
          .as("edit_dist"))
      .filter(col("edit_dist") >= 0 && col("edit_dist") <= maxDist)
      .distinct()
      .orderBy(col("id_a"), col("id_b"))
  }

  private def d10EditDist(s: SparkSession, d: String): DataFrame =
    editDistPairs(Tables.documents(s, d))

  private val d10Sql =
    """WITH base AS (
      |  SELECT doc_id, n_chars, substr(text, 1, 64) AS pfx FROM documents)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS edit_dist
      |FROM base a JOIN base b
      |  ON a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 4
      |WHERE levenshtein(a.pfx, b.pfx) <= 5
      |ORDER BY id_a, id_b""".stripMargin

  // ---- D13: exact-substring (repeated-span) removal ----------------------
  /** Span window for D13: 8 consecutive tokens (the "dup span" unit). */
  private[graft] val SpanLen = 8

  /** Exact-substring deduplication (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): REMOVE every token span
    * that occurs verbatim more than once anywhere in the corpus, instead
    * of dropping whole documents. The paper builds a corpus-wide suffix
    * array — inherently single-node; the distributed re-expression is
    * n-gram coverage: a repeated span of length L ≥ `SpanLen` has all of
    * its length-`SpanLen` windows repeated too, so marking every token
    * covered by a duplicated `SpanLen`-gram removes exactly the maximal
    * repeated spans (plus length-`SpanLen` chance collisions, which the
    * paper's ≥2-occurrence threshold also removes).
    *
    * Scale shape: the occurrence stream (doc_id, start, gram) is built
    * MAP-SIDE from each document (no window functions, no self-join); the
    * only corpus-sized shuffle keys on the gram for the ≥2-occurrence
    * count — at 100 TB the gram string is replaced by a 16-byte hash pair
    * (xxhash64 × 2 seeds) so the exchange carries fixed-width keys, and
    * the kept-text reassembly becomes a doc_id-bucketed join. Here the
    * covered-starts table (≤ one small int-array row per affected doc) is
    * explicitly broadcast, so document text never rides any exchange
    * except the final ordered output. The per-row HOF span filter is
    * interpreted (not codegen) but bounded by tokens-per-doc; the
    * TextKernels pattern is the codegen path at scale.
    */
  def substringDedup(docs: DataFrame): DataFrame =
    substringDecision(docs).orderBy(col("doc_id"))

  /** [[substringDedup]] without the final output ordering — the form
    * compositions consume (pipe4 feeds it straight into a dedup groupBy,
    * where an inner sort would be a wasted exchange).
    */
  def substringDecision(docs: DataFrame): DataFrame = {
    val docToks = docs.withColumn("toks", split(col("text"), " "))
    // Map-side SpanLen-gram occurrences, start is 1-based.
    val occ = docToks
      .select(col("doc_id"),
        posexplode(
          when(size(col("toks")) >= SpanLen,
            transform(sequence(lit(1), size(col("toks")) - (SpanLen - 1)),
              i => array_join(slice(col("toks"), i, lit(SpanLen)), " ")))
            .otherwise(array().cast("array<string>"))))
      .select(col("doc_id"), (col("pos") + 1).as("start"), col("col").as("gram"))
    val dup = occ.groupBy(col("gram"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .select(col("gram"))
    val covered0 = occ.join(dup, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("start"))).as("starts"))
    // Materialize the (small) covered-starts table before the serving
    // join: without this the broadcast side re-executes the whole
    // exploded-gram lineage inside the serving query, and a fresh
    // execution paid a ~10 s DATA-SIZE-INDEPENDENT cost (measured ~10 s
    // at sf0.1 AND the 10× sweep dir; ~2.5 s once the lineage was cut
    // with a bare localCheckpoint).
    val covered = covered0.localCheckpoint(true)
    val joined = docToks.join(broadcast(covered), Seq("doc_id"), "left")
      .withColumn("ss", coalesce(col("starts"), array().cast("array<int>")))
    val keptPos = filter(
      sequence(lit(1), size(col("toks"))),
      j => !exists(col("ss"), s => j >= s && j <= s + (SpanLen - 1)))
    joined
      .withColumn("kp", keptPos)
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("ss")).cast("long").as("n_dup_spans"),
        size(col("kp")).cast("long").as("n_kept"),
        array_join(transform(col("kp"), j => element_at(col("toks"), j)), " ")
          .as("kept_text"))
  }

  private def d13Substring(s: SparkSession, d: String): DataFrame =
    substringDedup(Tables.documents(s, d))

  private val d13Sql =
    """WITH d AS (
      |  SELECT doc_id, str_split(text, ' ') AS arr FROM documents),
      |pos AS (
      |  SELECT doc_id, arr, unnest(range(1, len(arr) - 6)) AS i
      |  FROM d WHERE len(arr) >= 8),
      |occ AS (
      |  SELECT doc_id, i AS start,
      |         array_to_string(arr[i:i+7], ' ') AS gram
      |  FROM pos),
      |dup AS (SELECT gram FROM occ GROUP BY gram HAVING COUNT(*) >= 2),
      |cov AS (
      |  SELECT DISTINCT o.doc_id, o.start
      |  FROM occ o JOIN dup USING (gram)),
      |tk AS (
      |  SELECT doc_id, unnest(arr) AS tok, generate_subscripts(arr, 1) AS j
      |  FROM d),
      |kept AS (
      |  SELECT t.doc_id, t.j, t.tok FROM tk t
      |  WHERE NOT EXISTS (SELECT 1 FROM cov c
      |    WHERE c.doc_id = t.doc_id AND t.j BETWEEN c.start AND c.start + 7)),
      |ka AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
      |         string_agg(tok, ' ' ORDER BY j) AS kept_text
      |  FROM kept GROUP BY doc_id),
      |cs AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans
      |  FROM cov GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(len(d.arr) AS BIGINT) AS n_tokens,
      |  COALESCE(cs.n_dup_spans, 0) AS n_dup_spans,
      |  COALESCE(ka.n_kept, 0) AS n_kept,
      |  COALESCE(ka.kept_text, '') AS kept_text
      |FROM d LEFT JOIN cs USING (doc_id) LEFT JOIN ka USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---- D15: near-dup SEARCH against a landed sketch index -----------------
  /** The ingest-check form of near-dup dedup: "has this incoming document
    * been (nearly) seen before?" — the question a standing pipeline asks
    * of every arriving batch, where d2/d2b ask it of the whole corpus at
    * once. The corpus's banded md5-min signatures (d2b's portable sketch,
    * so the WHOLE pipeline stays plain-SQL-oracle-checkable) land once
    * per corpus version under a `partitionBy(bkt)` layout with
    * bkt = hash(band, bucket) mod 64 — the t18/d8b bucketed-index shape,
    * directory count bounded at any corpus. Serving probes ONLY the
    * query batch's bucket partitions: the probe set is |queries|×bands
    * rows (bounded driver fetch), the pruned scan reads those partitions'
    * files, candidates join on exact (band, bucket) string equality, and
    * est_jaccard = matching-slices/8 (exact small-int division, identical
    * cross-engine) thresholds the matches. Degenerate buckets (> 1000
    * corpus members — boilerplate) are excluded at BUILD time, the d2b
    * cap. At 100 TB: the index build is d2b's map-only signature scan +
    * one bucket-keyed shuffle, amortized per version; each ingest check
    * costs a partition-pruned read of ~|queries|×bands buckets, never a
    * corpus scan.
    */
  private[graft] def neardupIndexDir(s: SparkSession, d: String): String =
    Artifacts.dir(Artifacts.key("nddx", Tables.path(d, "documents")),
      "graft_nddx") { dir =>
      val banded = md5BandedSig(Tables.documents(s, d), 3, 8, 4)
      val ok = banded.groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("c")).filter(col("c") <= 1000)
        .select(col("band"), col("bucket"))
      banded.join(ok, Seq("band", "bucket"))
        .withColumn("bkt", pmod(xxhash64(col("band"), col("bucket")), lit(64)))
        .repartition(col("bkt"))
        .write.mode("overwrite").partitionBy("bkt").parquet(dir)
    }

  /** Probe `queries` (doc_id, text) against the landed index; emits
    * (q_id, match_id, est_jaccard ≥ minJaccard).
    */
  def neardupSearch(s: SparkSession, d: String, queries: DataFrame,
      minJaccard: Double = 0.5): DataFrame = {
    val dir = neardupIndexDir(s, d)
    val qb = md5BandedSig(queries, 3, 8, 4)
      .select(col("doc_id").as("q_id"), col("sig").as("q_sig"),
        col("band"), col("bucket"),
        pmod(xxhash64(col("band"), col("bucket")), lit(64)).as("bkt"))
      // tiny (|queries|×bands rows); checkpoint so the bounded driver
      // fetch below and the probe join don't re-derive the query scan
      .localCheckpoint(true)
    // bounded driver fetch: at most 64 distinct partition ids
    val bkts = qb.select(col("bkt")).distinct().limit(65).collect()
      .map(_.getLong(0))
    val idx = Artifacts.read(s, dir)
      .filter(col("bkt").isin(bkts.toIndexedSeq: _*))
    val agree = (0 until 8).map { k =>
      when(col("q_sig").getItem(k) === col("sig").getItem(k), 1).otherwise(0)
    }.reduce(_ + _)
    idx.join(broadcast(qb.drop("bkt")), Seq("band", "bucket"))
      .select(col("q_id"), col("doc_id").as("match_id"),
        (agree.cast("double") / lit(8)).as("est_jaccard"))
      .filter(col("est_jaccard") >= minJaccard)
      .distinct()
      .orderBy(col("q_id"), col("match_id"))
  }

  /** D15 query: the incoming batch is docs 0–4 perturbed by one appended
    * token — a deterministic near-dup of its own source both engines can
    * synthesize, so each probe provably finds its source (est_jaccard
    * 7–8 of 8) without depending on where the corpus planted its dups.
    */
  private[graft] def d15Incoming(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(col("doc_id") < 5)
      .select(col("doc_id"), concat(col("text"), lit(" zzzprobe")).as("text"))

  private def d15NeardupSearch(s: SparkSession, d: String): DataFrame =
    neardupSearch(s, d, d15Incoming(s, d))

  // ---- E21: STREAMING near-dup admission at ingest ------------------------
  /** D15's ingest check as a Structured Streaming stage — the standing
    * form a production pipeline actually runs: documents ARRIVE (staged
    * as 3 files, `maxFilesPerTrigger=1` + AvailableNow → 3 micro-batches
    * here) and each micro-batch is probed against the SAME landed
    * `partitionBy(bkt)` sketch index d15 serves, inside `foreachBatch`.
    * Per-query results are independent of batch slicing (each incoming
    * doc is probed exactly once against the static index), so the union
    * of the micro-batch outputs IS d15's batch output — which lets e21
    * register with d15's oracle SQL VERBATIM (the t18 identical-result
    * reuse discipline) and the spec assert streamed == batch exactly.
    * Each batch's result commits under a batchId-derived subpath with
    * mode(overwrite) — a replayed micro-batch overwrites its own output
    * instead of duplicating it, idempotent by construction (simpler than
    * e20's file-move protocol because results are per-batch disjoint,
    * not appends into shared partitions). At 100 TB: the per-batch cost
    * is d15's accounting — a bounded probe-set broadcast plus a
    * partition-pruned read of ~|batch|×bands buckets, never a corpus
    * scan; the index updates on its own cadence (d8b/x11b machinery),
    * decoupled from the ingest stream.
    */
  private[graft] def e21ResultDir(s: SparkSession, d: String): String =
    Artifacts.dir(Artifacts.key("ndstrm", Tables.path(d, "documents")),
      "graft_ndstrm") { dir =>
      val stage = Artifacts.scratchDir("graft_ndstrm_stage")
      val ckpt = Artifacts.scratchDir("graft_ndstrm_ckpt")
      d15Incoming(s, d).repartition(3)
        .write.mode("overwrite").parquet(stage.toString)
      val schema = Artifacts.parquetSchema(s, stage.toString)
      val q = CodegenCache.startStream(s)(s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage.toString)
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          neardupSearch(s, d, batch)
            .write.mode("overwrite").parquet(s"$dir/batch=$batchId")
        }
        .start())
      q.awaitTermination()
      Artifacts.delete(stage)
      Artifacts.delete(ckpt)
    }

  private def e21StreamNeardup(s: SparkSession, d: String): DataFrame =
    Artifacts.parquet(s, e21ResultDir(s, d))
      .select(col("q_id"), col("match_id"), col("est_jaccard"))
      .distinct()
      .orderBy(col("q_id"), col("match_id"))

  private val d15Sql = {
    val mins = (0 until 8).map(j =>
      s"min(substr(md5(sh), ${4 * j + 1}, 4)) AS m$j").mkString(", ")
    def bandRows(src: String) = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, m${2 * b} || '|' || m${2 * b + 1} AS bucket, " +
        (0 until 8).map(j => s"m$j").mkString(", ") + s" FROM $src")
      .mkString(" UNION ALL ")
    val agree = (0 until 8).map(j =>
      s"CASE WHEN q.m$j = c.m$j THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH ctoks AS (
       |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
       |  FROM documents),
       |cidx AS (
       |  SELECT doc_id, t, unnest(range(0, greatest(len(t)-3, 0)+1)) AS i
       |  FROM ctoks),
       |cshd AS (
       |  SELECT DISTINCT doc_id, array_to_string(t[i+1:i+3], ' ') AS sh
       |  FROM cidx WHERE length(array_to_string(t[i+1:i+3], ' ')) > 0),
       |csig AS (SELECT doc_id, $mins FROM cshd GROUP BY doc_id),
       |qtoks AS (
       |  SELECT doc_id,
       |         regexp_split_to_array(lower(text || ' zzzprobe'), '\\s+') AS t
       |  FROM documents WHERE doc_id < 5),
       |qidx AS (
       |  SELECT doc_id, t, unnest(range(0, greatest(len(t)-3, 0)+1)) AS i
       |  FROM qtoks),
       |qshd AS (
       |  SELECT DISTINCT doc_id, array_to_string(t[i+1:i+3], ' ') AS sh
       |  FROM qidx WHERE length(array_to_string(t[i+1:i+3], ' ')) > 0),
       |qsig AS (SELECT doc_id, $mins FROM qshd GROUP BY doc_id),
       |cb AS (${bandRows("csig")}),
       |ok AS (
       |  SELECT band, bucket FROM cb
       |  GROUP BY band, bucket HAVING count(*) <= 1000),
       |qb AS (${bandRows("qsig")})
       |SELECT DISTINCT q.doc_id AS q_id, c.doc_id AS match_id,
       |  CAST($agree AS DOUBLE) / 8 AS est_jaccard
       |FROM qb q
       |JOIN cb c ON q.band = c.band AND q.bucket = c.bucket
       |JOIN ok ON ok.band = c.band AND ok.bucket = c.bucket
       |WHERE CAST($agree AS DOUBLE) / 8 >= 0.5
       |ORDER BY q_id, match_id""".stripMargin
  }

  val qs: Seq[(String, Q)] = Seq(
    "d1_exact_dedup"    -> Q(d1Exact, Some(d1Sql)),
    "d2_minhash_pairs"  -> Q(d2Minhash, Some(d2Sql)),
    "d2b_minhash_portable" -> Q(d2bMinhashPortable, Some(d2bSql)),
    "d3_simhash"        -> Q(d3Simhash, Some(d3Sql)),
    "d3b_simhash_portable" -> Q(d3bSimhashPortable, Some(d3bSql)),
    "d4_ngram_jaccard"  -> Q(d4Jaccard, Some(d4Sql)),
    "d7_dup_clusters"   -> Q(d7DupClusters, Some(d7Sql)),
    "d19_cluster_reps"  -> Q(d19ClusterReps, Some(d19Sql)),
    "d8_incremental_dedup" -> Q(d8Incremental, Some(d8Sql)),
    "d8b_incremental_indexed" -> Q(d8bIncrementalIndexed, Some(d8Sql)),
    "d9_decontaminate"  -> Q(d9Decontaminate, Some(d9Sql)),
    "d16_bloom_decontaminate" -> Q(d16BloomDecon, Some(deconSql(8))),
    "d10_editdist_neardup" -> Q(d10EditDist, Some(d10Sql)),
    "d13_substring_dedup" -> Q(d13Substring, Some(d13Sql)),
    "d15_neardup_search" -> Q(d15NeardupSearch, Some(d15Sql)),
    // identical-result oracle reuse: the streamed union equals the batch
    // output row-for-row (spec-asserted), so d15's oracle gates it
    "e21_stream_neardup" -> Q(e21StreamNeardup, Some(d15Sql)),
  )
}
