package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.VecOps
import graft.util.Artifacts

/** Similarity search over the `embeddings` table (north-star extension).
  *
  * Scale design: the query set is small and broadcast; the corpus streams
  * through one scan computing per-row similarities with the codegen'd
  * FloatArrayDot kernel (graft.functions.VecOps), then a per-query top-k
  * window. Norms are computed once per row — never per pair. At 100 TB the
  * scan dominates and parallelizes perfectly; the LSH variant buckets by
  * random-hyperplane signs so each query probes ~1/2^bits of the corpus.
  */
object SimilarityOps {

  /** Dot product accumulated in double, strictly left-to-right —
    * expression form (kept for composability; the hot paths use the
    * codegen'd VecOps.fdot which produces bit-identical results).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Corpus projection with the norm precomputed once per row; `extra`
    * columns ride along after (id, emb, norm).
    */
  private def withNorm(s: SparkSession, df: DataFrame, prefix: String,
      extra: Column*): DataFrame =
    df.select(Seq(col("vec_id").as(s"${prefix}_id"),
      col("embedding").as(s"${prefix}_emb"),
      VecOps.fnorm(s, col("embedding")).as(s"${prefix}_norm")) ++ extra: _*)

  /** The exact score every serve ranks by: cosine of (q_emb, q_norm)
    * against (c_emb, c_norm) through the codegen'd fdot kernel.
    */
  private def qcSim(s: SparkSession): Column =
    VecOps.fdot(s, col("q_emb"), col("c_emb")) /
      (col("q_norm") * col("c_norm"))

  /** Per-query top k of a (q_id, c_id, sim) frame: `rank` orders by sim
    * descending, then c_id.
    */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Brute-force top-k cosine neighbours for each query vector. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val s = corpus.sparkSession
    val q = withNorm(s, queries, "q")
    val c = withNorm(s, corpus, "c")
    topK(c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), qcSim(s).as("sim")), k)
  }

  /** Ranks come from the raw double sims; the emitted sim is rounded to
    * 6 dp so the DuckDB oracle (list_cosine_similarity — same math,
    * different accumulation order) hash-matches bit-exactly (CLAUDE.md
    * derived-stat rounding discipline).
    */
  private def x1BruteTopK(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 10)
      .select(col("q_id"), col("rank"), col("c_id"),
        round(col("sim"), 6).as("sim"))
      .orderBy(col("q_id"), col("rank"))
  }

  private val x1Sql =
    """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb
      |           FROM embeddings WHERE vec_id < 5),
      |c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_emb
      |      FROM embeddings),
      |scored AS (
      |  SELECT q_id, c_id, list_cosine_similarity(q_emb, c_emb) AS raw
      |  FROM q CROSS JOIN c WHERE q_id <> c_id),
      |ranked AS (
      |  SELECT q_id, c_id, raw,
      |    row_number() OVER (PARTITION BY q_id ORDER BY raw DESC, c_id) AS "rank"
      |  FROM scored)
      |SELECT q_id, "rank", c_id, round(raw, 6) AS sim
      |FROM ranked WHERE "rank" <= 10 ORDER BY q_id, "rank"""".stripMargin

  /** Random-hyperplane LSH: signature = sign bits of dot(v, h_i) for
    * deterministic pseudo-random hyperplanes. Buckets index the corpus;
    * queries probe their own bucket only. Approximate — spec-tested for
    * recall against brute force.
    *
    * The plane dot products go through the codegen'd VecOps.fdot against
    * literal float-array planes — the round-1 aggregate∘zip_with form was
    * interpreted per bit per row (the CLAUDE.md anti-pattern).
    */
  private def planesFor(dim: Int, bits: Int, seedBase: Int)
      : Array[Array[Float]] =
    Array.tabulate(bits) { b =>
      // seedBase=1 reproduces the original single-table planes exactly
      val rng = new scala.util.Random(42L * seedBase * (b + 1) + (seedBase - 1))
      Array.fill(dim)(rng.nextGaussian().toFloat)
    }

  def hyperplaneSig(s: SparkSession, emb: Column, dim: Int, bits: Int,
      seedBase: Int = 1): Column =
    // one kernel call per row (functions.PlaneSignBits) — the per-bit
    // fdot-against-literal form embedded bits·dim literals in codegen
    VecOps.planeSignBits(s, emb, planesFor(dim, bits, seedBase))

  /** OR-amplification: each of the `tables` independent hyperplane sets
    * assigns its own bucket; a candidate qualifies if it collides with the
    * query in ANY table (recall ≈ 1-(1-p^bits)^tables vs p^bits for one
    * table). Buckets for all tables are computed in the SAME one-pass
    * projection (posexplode of a table-indexed array), so extra tables
    * cost extra codegen'd dots — not extra scans; duplicate candidate
    * pairs across tables collapse before scoring.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, bits: Int = 8,
      dim: Int = 64, tables: Int = 2, probeFlips: Int = 0): DataFrame = {
    val s = corpus.sparkSession
    def buckets(df: DataFrame, prefix: String): DataFrame =
      df.select(col(s"${prefix}_id"), col(s"${prefix}_emb"),
        col(s"${prefix}_norm"),
        posexplode(array((0 until tables).map(t =>
          hyperplaneSig(s, col(s"${prefix}_emb"), dim, bits, seedBase = 1 + t)): _*))
          .as(Seq("table", "bucket")))
    val c = buckets(withNorm(s, corpus, "c"), "c")
    // multi-probe (probeFlips > 0): the QUERY side also probes every
    // bucket reachable by flipping subsets of its probeFlips lowest-
    // |margin| signature bits — 2^probeFlips lookups per (query, table),
    // zero extra corpus rows or scans; duplicate candidates collapse at
    // the existing dropDuplicates. Corpus buckets stay single-signature.
    val q =
      if (probeFlips <= 0) buckets(withNorm(s, queries, "q"), "q")
      else withNorm(s, queries, "q")
        .select(col("q_id"), col("q_emb"), col("q_norm"),
          posexplode(array((0 until tables).map(t =>
            VecOps.planeSignProbes(s, col("q_emb"),
              planesFor(dim, bits, 1 + t), probeFlips)): _*))
            .as(Seq("table", "probes")))
        .select(col("q_id"), col("q_emb"), col("q_norm"), col("table"),
          explode(col("probes")).as("bucket"))
    val scored = c.join(broadcast(q), Seq("table", "bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), col("q_emb"), col("c_emb"),
        col("q_norm"), col("c_norm"))
      .dropDuplicates("q_id", "c_id")
      .select(col("q_id"), col("c_id"), qcSim(s).as("sim"))
    topK(scored, k)
  }

  /** x2's registered shape: 4 bits × 2 tables, multi-probe over the 3
    * lowest-|margin| bits (8 lookups per query-table — measured recall
    * 0.20-0.38 single-probe → 0.88/0.90 aggregate on the unclustered
    * synthetic corpus, which is what lets the driver gate's floor bite
    * with room for per-regen drift).
    */
  private[graft] val X2ProbeFlips = 3

  /** x10b recall floor — RecallProbe aggregate 0.66/0.80/0.84 at the
    * three SFs with the 2× filtered-probe widening plus budgeted
    * boundary spill (0.38/0.36 unwidened at the larger SFs), minus the
    * 0.13 regen slack (CLAUDE.md discipline). The 0.66 is the
    * 2026-08-19-regen sf0.001 corpus: 500 vectors, routing-diffuse like
    * the sf0.01 corpus — the measured ceiling at ≤25% scan, not a probe
    * bug.
    */
  private[graft] val X10bFloor = 0.53

  // ---- ANN bounded gates (a7/a10 pattern) --------------------------------
  /** Driver-checkable gate for an approximate top-k: one row per query
    * carrying an EXACT payload DuckDB independently recomputes via
    * list_cosine_similarity (n_exact, the rank-k exact similarity rounded
    * 6 dp) plus a recall flag the oracle asserts literally TRUE. Recall =
    * |approx ∩ exact| / |exact| over the query set, computed in-engine
    * against [[bruteForceTopK]]; the pipelines are deterministic
    * (AnnFixtureSpec pins their full outputs), so any floor below the
    * RecallProbe-measured minimum at both SFs is a hard, non-flaky gate —
    * a recall regression (plane seeding, probe policy, quantization,
    * bucket fallback) flips the flag and fails the driver's hash compare.
    *
    * Scale: the exact side runs over the gate's bounded query set (5
    * probes / a 100-row md5 sample), i.e. one corpus scan with the query
    * side broadcast — recall is ESTIMATED on a bounded sample by design;
    * measuring it over all N queries at 10⁹ rows would cost the N² the
    * approximation exists to avoid.
    */
  private def recallGate(approx: DataFrame, exact: DataFrame,
      floor: Double): DataFrame = {
    val ex = exact.select(col("q_id"), col("c_id"), col("sim"))
    val perQ = ex.groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_exact"), round(min(col("sim")), 6).as("kth_sim"))
    val hits = approx.select("q_id", "c_id")
      .join(ex.select("q_id", "c_id"), Seq("q_id", "c_id"), "left_semi")
      .agg(count(lit(1)).as("_hits"))
    val tot = ex.agg(count(lit(1)).as("_tot"))
    perQ.crossJoin(broadcast(hits)).crossJoin(broadcast(tot))
      .select(col("q_id"), col("n_exact"), col("kth_sim"),
        (col("_hits").cast("double") / col("_tot") >= floor).as("recall_ok"))
      .orderBy(col("q_id"))
  }

  /** Oracle for the 5-probe gates: exact top-k per query, the same
    * payload aggregation, and the flag as literal TRUE.
    */
  private def annGateSql(k: Int): String =
    s"""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb
       |           FROM embeddings WHERE vec_id < 5),
       |c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_emb
       |      FROM embeddings),
       |scored AS (
       |  SELECT q_id, c_id, list_cosine_similarity(q_emb, c_emb) AS raw
       |  FROM q CROSS JOIN c WHERE q_id <> c_id),
       |ranked AS (
       |  SELECT q_id, raw,
       |    row_number() OVER (PARTITION BY q_id ORDER BY raw DESC, c_id) AS rn
       |  FROM scored)
       |SELECT q_id, CAST(count(*) AS BIGINT) AS n_exact,
       |  round(min(raw), 6) AS kth_sim, TRUE AS recall_ok
       |FROM ranked WHERE rn <= $k GROUP BY q_id ORDER BY q_id""".stripMargin

  /** Exact-side memo for the recall gates: the brute-force top-k over a
    * BOUNDED query set (5 probes / 100-sample) is a pure function of
    * (embeddings version, tag) and at most a few hundred rows — collect
    * it once per version and replay as a local relation. recallGate
    * consumes the exact frame three times (payload agg, hits semi-join,
    * total), so
    * without the memo every gate execution re-scanned the corpus ×3 —
    * the round-6 "gate cost" regression (x4 0.48→0.95s, mm1 similar).
    * Same amortized-landing accounting as j6: rep 1 pays, steady state
    * measures the operator.
    */
  private def memoExact(s: SparkSession, d: String, tag: String)(
      build: => DataFrame): DataFrame = {
    import s.implicits._
    Artifacts.value(Artifacts.key("exact", Tables.path(d, "embeddings"), tag))(
      build.select(col("q_id"), col("c_id"), col("sim")).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
      .toDF("q_id", "c_id", "sim")
  }

  /** The 5-probe k = 10 gate: `approx(emb, q5)` against the exact top-k,
    * or against the exact label-filtered top-k when `filtered`.
    */
  private def fiveProbeGate(s: SparkSession, d: String, floor: Double,
      filtered: Boolean = false)(
      approx: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q5 = emb.filter(col("vec_id") < 5)
    recallGate(approx(emb, q5),
      if (filtered)
        memoExact(s, d, "probe5k10filt")(filteredBruteTopK(emb, q5, 10))
      else memoExact(s, d, "probe5k10")(bruteForceTopK(emb, q5, 10)),
      floor)
  }

  // Floor discipline (one constant NEXT to each gate, measured value in
  // its comment): floors sit under the RecallProbe minima at sf0.01 AND
  // sf0.1 minus ~0.13 slack for the recall drift each driver testdata
  // regeneration brings (the 2026-08-14 regen moved aggregates ~0.05
  // with zero code change). Re-run `Test/runMain graft.tools.RecallProbe`
  // at BOTH SFs before moving any floor.

  /** x2 measured 0.88/0.90 aggregate at 3-flip multi-probe (0.20-0.38
    * single-probe, 0.68/0.60 at 2 flips — the floor trips on a partial
    * regression, not just collapse).
    */
  private[graft] val X2Floor = 0.50
  private def x2Gate(s: SparkSession, d: String): DataFrame =
    fiveProbeGate(s, d, X2Floor)((emb, q5) =>
      lshTopK(emb, q5, 10, bits = 4, probeFlips = X2ProbeFlips))

  /** x4 measured 0.52/0.74 at the auto geometry (≤25% scanned) with
    * budgeted boundary spill (0.50/0.62 before spill); floor 0.39 =
    * 0.52 − 0.13. The sf0.01 value is routing-bound: the 500-vector
    * synthetic corpus is near-uniform, so neighbors spread over many
    * cells and even a 1.9× spill only reaches 0.76 (a one-off spill sweep) —
    * recall past that at fixed probe counts would mean scanning, not
    * indexing.
    */
  private[graft] val X4Floor = 0.39

  /** x4's registered shape runs the AUTO geometry ([[ivfGeometry]]) —
    * round-10 replacement for the fixed 8-of-16 probe (which scanned
    * half the corpus at every scale): 23 cells / 5 probes at sf0.01
    * (500 vectors, 21.7% scanned), 45 / 11 at sf0.1 (2000 vectors,
    * 24.4%). The nProbe/nCells fraction is IVF's recall knob at fixed
    * index cost (the lever multi-probe is for x2); measured recall at
    * these fractions is in [[X4Floor]].
    */
  private def x4Gate(s: SparkSession, d: String): DataFrame =
    fiveProbeGate(s, d, X4Floor)((emb, q5) =>
      ivfTopK(emb, q5, 10))

  /** x5 measured 1.0/1.0 (SQ8 error ≪ similarity scale at expand=4). */
  private[graft] val X5Floor = 0.90
  private def x5Gate(s: SparkSession, d: String): DataFrame =
    fiveProbeGate(s, d, X5Floor)((emb, q5) => sq8TopK(emb, q5, 10))

  /** x11's registered shape: 90% of the corpus is the indexed base, the
    * `vec_id % 10 = 0` tenth arrives as the un-refitted delta; recall is
    * gated against the exact top-k over the FULL corpus, so the gate
    * fails both on a broken union (delta unsearchable) and on centroid
    * geometry that degrades past the drift bound. Measured with spill
    * 0.62/0.68 — within noise of x4's full-refit 0.52/0.74, which is the
    * point; floor 0.49 = 0.62 − 0.13.
    */
  private[graft] val X11Floor = 0.49
  private def x11Gate(s: SparkSession, d: String): DataFrame =
    fiveProbeGate(s, d, X11Floor)((emb, q5) =>
      ivfTopKIncremental(emb.filter(col("vec_id") % 10 =!= 0),
        emb.filter(col("vec_id") % 10 === 0), q5, 10))

  /** x11b gates the full composition (landed base + appended delta +
    * partition-pruned serve) against the exact top-k over the FULL
    * corpus — it fails on a broken append (delta unsearchable), a
    * pruning bug, and geometry drift alike. Same measured recall family
    * as x4/x11 (shared fit and spill).
    */
  private[graft] val X11bFloor = 0.49
  private def x11bGate(s: SparkSession, d: String): DataFrame =
    fiveProbeGate(s, d, X11bFloor)((emb, q5) => ivfAppendedTopK(s, d, q5, 10))

  /** e20 serves byte-equivalent index CONTENT to x11b (same base landing,
    * same delta assignment, committed through foreachBatch micro-batches
    * instead of one batch job — spec-asserted candidate equality), so
    * x11b's floor gates it unchanged; what the gate guards here is the
    * streaming commit path (a lost or double-committed micro-batch is a
    * recall/row anomaly the flags catch).
    */
  private[graft] val E20Floor = X11bFloor
  private def e20Gate(s: SparkSession, d: String): DataFrame =
    fiveProbeGate(s, d, E20Floor)((emb, q5) => ivfStreamedTopK(s, d, q5, 10))

  /** x12's registered shape serves the same search as x4 but through the
    * LANDED partition-pruned index — identical fit, geometry, and
    * candidates (spec-asserted), so [[X12Floor]] tracks x4's measured
    * family; the gate here guards the serve path (a pruning bug that
    * drops cells is a recall collapse the flag catches).
    */
  private[graft] val X12Floor = 0.39
  private def x12Gate(s: SparkSession, d: String): DataFrame =
    fiveProbeGate(s, d, X12Floor)((emb, q5) => ivfPersistedTopK(s, d, q5, 10))

  /** x7 measured 0.84-0.86 on the 100-query md5 sample. */
  private[graft] val X7Floor = 0.60

  /** x7's gate samples 100 queries by the m3 md5 rank (engine-portable,
    * so DuckDB derives the identical sample) and measures the kNN join's
    * recall against exact top-3 on that sample.
    */
  private def x7Gate(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val sample = emb.orderBy(
      md5(concat_ws("|", col("vec_id").cast("string"), lit("42"))),
      col("vec_id")).limit(100)
    recallGate(knnJoin(emb, k = 3).select("q_id", "c_id"),
      memoExact(s, d, "md5sample100k3")(bruteForceTopK(emb, sample, 3)),
      X7Floor)
  }

  private val x7GateSql =
    """WITH smp AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  ORDER BY md5(concat_ws('|', CAST(vec_id AS VARCHAR), '42')), vec_id
      |  LIMIT 100),
      |q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb
      |      FROM smp),
      |c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_emb
      |      FROM embeddings),
      |scored AS (
      |  SELECT q_id, c_id, list_cosine_similarity(q_emb, c_emb) AS raw
      |  FROM q CROSS JOIN c WHERE q_id <> c_id),
      |ranked AS (
      |  SELECT q_id, raw,
      |    row_number() OVER (PARTITION BY q_id ORDER BY raw DESC, c_id) AS rn
      |  FROM scored)
      |SELECT q_id, CAST(count(*) AS BIGINT) AS n_exact,
      |  round(min(raw), 6) AS kth_sim, TRUE AS recall_ok
      |FROM ranked WHERE rn <= 3 GROUP BY q_id ORDER BY q_id""".stripMargin

  /** All-pairs kNN JOIN: every vector's top-k neighbours across the whole
    * table — the contrastive-pair / hard-negative mining op, where x2's
    * query side is a handful of probes this is N probes = N rows. The
    * crucial difference from [[lshTopK]]: neither side need fit a
    * broadcast. Both sides of the candidate join are the same bucketed
    * projection joined on (table, bucket) — a co-partitionABLE
    * self-equi-join that scales with cluster bisection bandwidth, never
    * with driver memory (at toy scale Catalyst may still elect a
    * size-based broadcast; that is its prerogative, not a requirement).
    * Candidate volume is Σ bucket² per table instead of N².
    *
    * `bits` AUTO-SCALES with corpus size (bits ≤ 0 ⇒ auto): bits =
    * clamp(⌈log2(N / targetBucket)⌉, 2, 24) from one metadata-cheap
    * count. At fixture scale (N ≤ 2·targetBucket) this resolves to the
    * x2-measured ~0.8-recall shape (2 bits × 4 tables); at N = 10⁹ it
    * resolves to ~20 bits ≈ 10⁶ buckets of ~10³ vectors — candidate
    * volume stays ~N·targetBucket per table instead of collapsing every
    * vector into 4 giant buckets (docs/SCALING.md worked example).
    *
    * A dense region's hot bucket is the residual skew risk. Buckets wider
    * than `maxBucket` are no longer dropped (the round-5 scale cliff:
    * at N ≫ maxBucket·2^bits EVERY bucket was over the cap and the
    * operator silently returned zero rows); they are REFINED — members
    * get δ = ⌈log2(maxWidth/maxBucket)⌉ extra hyperplane sign bits
    * (computed only for hot-bucket members, one kernel call each), which
    * splits dense-but-distinct regions geometrically (finer buckets =
    * nearer candidates). A refined bucket that is STILL over the cap can
    * only be a mass of (near-)identical vectors no hyperplane separates;
    * those are salted into ⌈width/maxBucket⌉ hash slices — for identical
    * vectors any same-slice neighbour is an optimal neighbour (sim 1), so
    * the degradation is bounded and documented, never an empty answer.
    * Both extra passes touch ONLY hot-bucket members; the hot-bucket list
    * itself is ≤ N/maxBucket rows (broadcastable by construction: 10⁴
    * rows at N = 10⁹, maxBucket = 10⁵). Per-query top-k is a
    * (q_id)-partitioned window — high-cardinality, near-uniform.
    */
  def knnJoin(df: DataFrame, k: Int, bits: Int = 0, dim: Int = 64,
      tables: Int = 4, maxBucket: Long = 100000L,
      targetBucket: Long = 1250L): DataFrame = {
    val s = df.sparkSession
    require(k > 0 && tables > 0 && maxBucket > 0 && targetBucket > 0,
      "knnJoin: k, tables, maxBucket, targetBucket must be positive")
    val useBits =
      if (bits > 0) bits
      else {
        val n = math.max(1L, memoCount(df))
        math.min(24, math.max(2, math.ceil(
          math.log(n.toDouble / targetBucket) / math.log(2.0)).toInt))
      }
    // Candidate generation emits BARE ID PAIRS — the embeddings never
    // ride the cross-table candidate duplication (a 64-float vector per
    // side per candidate made the dedup exchange ~20x the bytes and
    // dominated the all-pairs runtime; lshTopK can afford vectors in its
    // candidates because its broadcast query side keeps them tiny).
    // The signature projection is computed ONCE (localCheckpoint(eager)
    // — the repo's scoped-persist replacement) and feeds all three
    // consumers (q side, c side, bucket-width agg); without it the plan
    // re-scanned the embeddings and re-ran bits×tables codegen dots
    // three times. ~17 bytes/row × tables, freed by ContextCleaner.
    // The WHOLE build (eager sig checkpoint + max-width probe + salt
    // detection — two driver actions) runs inside the landing thunk, so
    // a memo hit pays none of it.
    def buildBuckets(): DataFrame = {
    val sig0 = df.select(col("vec_id").as("q_id"),
      posexplode(array((0 until tables).map(t =>
        hyperplaneSig(s, col("embedding"), dim, useBits,
          seedBase = 1 + t)): _*))
        .as(Seq("table", "bucket")))
      .localCheckpoint(true)
    val widths = sig0.groupBy(col("table"), col("bucket"))
      .agg(count(lit(1)).as("_bn"))
    val maxW = widths.agg(max(col("_bn"))).first() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
      if (maxW <= maxBucket)
        // no hot buckets — the common shape once bits are sized to N
        sig0.select(col("q_id"), col("table"),
          col("bucket").cast("long").as("bucketL"), lit(0).as("salt"))
      else {
        val delta = math.min(12, math.max(1, math.ceil(
          math.log(maxW.toDouble / maxBucket) / math.log(2.0)).toInt))
        val hot = widths.filter(col("_bn") > maxBucket)
          .select(col("table"), col("bucket"))
        // hot members re-fetch their vector by id (sig0 deliberately
        // carries no embeddings) and extend the signature by delta sign
        // bits; the 1<<40 marker keeps refined ids disjoint from cold
        // buckets (bucket < 2^24, delta <= 12 => shifted < 2^36)
        val hotMembers = sig0.join(broadcast(hot), Seq("table", "bucket"))
          .join(df.select(col("vec_id").as("q_id"), col("embedding")), "q_id")
          .select(col("q_id"), col("table"),
            (shiftleft(col("bucket").cast("long"), delta) +
              hyperplaneSig(s, col("embedding"), dim, delta,
                seedBase = 101 + tables).cast("long") +
              lit(1L << 40)).as("bucketL"))
        val cold = sig0.join(broadcast(hot), Seq("table", "bucket"), "left_anti")
          .select(col("q_id"), col("table"),
            col("bucket").cast("long").as("bucketL"))
        val refined = cold.union(hotMembers).localCheckpoint(true)
        // salt backstop: a refined bucket still over the cap is
        // hyperplane-inseparable (near-identical vectors) — slice it
        val still = refined.groupBy(col("table"), col("bucketL"))
          .agg(count(lit(1)).as("_b2")).filter(col("_b2") > maxBucket)
        refined.join(broadcast(still), Seq("table", "bucketL"), "left")
          .withColumn("salt",
            when(col("_b2").isNotNull,
              pmod(xxhash64(col("q_id")),
                expr(s"(`_b2` + ${maxBucket - 1}) div $maxBucket"))
                .cast("int"))
              .otherwise(lit(0)))
          .select(col("q_id"), col("table"), col("bucketL"), col("salt"))
      }
    }
    // The bucket table is the index: slim (4 ints/longs per row ×
    // tables), deterministic per (corpus version, knobs), and its build
    // runs two driver actions (max-width probe, salt detection) — landed
    // once per version like the persisted-IVF layouts (x12 discipline).
    val bucketTable = Artifacts.frame(s,
      Artifacts.key("x7buckets", df, useBits, tables, maxBucket))(buildBuckets())
    val q = bucketTable
    val c = bucketTable.withColumnRenamed("q_id", "c_id")
    // Candidates are scored MAP-SIDE (the vector+norm sides broadcast
    // when they fit; past the cap they fall back to the same id-keyed
    // shuffle the old dedup path paid) and reduced by the bounded-state
    // `topk_dpairs_k` aggregate — payload-DISTINCT, so the multi-table
    // duplicate sightings of a (q, c) pair collapse inside the k-slot
    // buffer instead of riding a corpus-sized dropDuplicates exchange.
    // r18 rewrite: the old shape shuffled every candidate pair twice
    // (dedup exchange + the top-k window's repartition-and-sort); now
    // ≤ k rows per (query, map partition) reach the one exchange
    // (guide §2.3 "aggregate before you shuffle"). Zero-norm vectors
    // are still DROPPED from both sides (their sim is NaN, which the
    // buffer's IEEE ranking cannot order). Results are identical: the
    // buffer's (key DESC, payload ASC) rule is the window's exact
    // (sim DESC, c_id ASC) tie rule over the same distinct pair set.
    val fn = graft.functions.TopKDPairsAgg.ensure(s, k)
    q.join(c, Seq("table", "bucketL", "salt"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"))
      .join(withNorm(s, df, "q").filter(col("q_norm") > 0), "q_id")
      .join(withNorm(s, df, "c").filter(col("c_norm") > 0), "c_id")
      .select(col("q_id"), col("c_id"), qcSim(s).as("sim"))
      .groupBy(col("q_id"))
      .agg(call_function(fn, col("sim"), col("c_id")).as("_tk"))
      .select(col("q_id"), posexplode(col("_tk")).as(Seq("_p", "_kv")))
      .select(col("q_id"), col("_kv.payload").as("c_id"),
        col("_kv.key").as("sim"),
        (col("_p") + 1).cast("int").as("rank"))
  }

  private[graft] def x7KnnJoin(s: SparkSession, d: String): DataFrame =
    knnJoin(Tables.embeddings(s, d), k = 3)
      .select(col("q_id"), col("rank"), col("c_id"), col("sim"))
      .orderBy(col("q_id"), col("rank"))

  /** Embedding-cosine near-duplicate pairs above a threshold — EXACT, via
    * metric-pruned blocking (no corpus-wide crossJoin/broadcast):
    *
    *  1. normalize vectors once (cosine is scale-invariant; on the unit
    *     sphere cos(a,b) ≥ t  ⇔  ‖a−b‖ ≤ √(2−2t), a proper metric),
    *  2. KMeans coarse cells + per-cell radius r = max member↔centroid
    *     distance,
    *  3. triangle inequality prunes cell PAIRS: (i,j) can hold a
    *     qualifying pair only if d(cᵢ,cⱼ) − rᵢ − rⱼ ≤ √(2−2t),
    *  4. exact codegen'd verification inside surviving cell pairs.
    *
    * Output identical to the brute-force join: sim is fdot over the
    * ORIGINAL embeddings divided by their norms — the same double-precision
    * expression as [[cosinePairsBrute]] — while the float32-rounded unit
    * vectors serve only cell assignment. The pruning bound carries an
    * epsilon slack covering the float32 rounding of the unit vectors, so
    * rounding never drops a qualifying pair. Zero-norm embeddings are
    * filtered up front — they
    * cannot reach any positive minSim, and NaN unit vectors would poison
    * the centroid fit. Corpora that fit the bounded sample (proved for
    * free by the sample LIMIT returning fewer rows than its cap) skip
    * blocking entirely for the all-pairs broadcast product — blocking
    * overhead only engages when the data is big enough to need it.
    * At 100 TB each task
    * handles one cell pair and shuffle volume is ≤ n·(probed cells) rows;
    * clusterable real-world embeddings prune most of the k² cell pairs,
    * and the worst case (uniformly random vectors, nothing prunes) is the
    * blocked equivalent of the n² join — never a driver/broadcast
    * bottleneck. Probabilistic LSH is deliberately NOT used here: at the
    * mid thresholds near-dup sweeps use, banding cannot guarantee recall,
    * and this operator's contract is exactness.
    */
  def cosinePairsExact(corpus: DataFrame, minSim: Double,
      nCells: Int = 0, fitSample: Int = 0): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    // AUTO cell count (round 11): cells ≈ √n via the shared ivfGeometry,
    // so per-cell width — and with it the blocked pair-join's
    // Σ|cell_i|·|cell_j| candidate volume — stays ~n·√n-bounded instead
    // of (n/16)²-quadratic at a frozen demo-scale constant. Exactness is
    // untouched: pruning is triangle-inequality lossless at ANY cell
    // count, only the pruning power moves. Fit sample scales with the
    // cell count exactly like the IVF fit.
    val cells =
      if (nCells > 0) nCells else ivfGeometry(memoCount(corpus), 0, 0)._1
    val sampleCap = ivfFitSample(fitSample, cells)
    // Epsilon slack: the pruning bound is evaluated over float32-rounded
    // unit vectors (≤ ~sqrt(dim)·eps_f32 perturbation per distance); the
    // slack keeps "never discards a qualifying pair" true through it.
    val distThresh = math.sqrt(math.max(0.0, 2.0 - 2.0 * minSim)) + 1e-5
    // Normalize once per row: fnorm is hoisted into a scalar column OUTSIDE
    // the transform lambda (HOF lambdas are interpreted and not
    // subexpression-eliminated — recomputing the dot product per element
    // was O(dim²) per row, the CLAUDE.md anti-pattern). The original
    // embedding + norm ride along: the final sim is computed on THEM, so
    // the output is bit-identical to the brute double-precision form.
    val unit = corpus
      .select(col("vec_id"), col("embedding"),
        VecOps.fnorm(s, col("embedding")).as("_n"))
      .filter(col("_n") > 0)
      .select(col("vec_id"), col("embedding"), col("_n"),
        transform(col("embedding"), x => (x / col("_n")).cast("float")).as("u"))
    // Centroids from a driver-side spherical Lloyd fit over a BOUNDED
    // deterministic sample (TakeOrdered by hash — one pass, no count).
    // Centroid quality affects only how much the triangle bound prunes,
    // never the output (exact verification runs inside surviving pairs).
    // Deliberately NOT MLlib KMeans: its fit caches the full dataset
    // (a 100 TB hazard), costs ~a dozen scheduler rounds, and its
    // prediction UDF is not codegen — this path is all codegen over a
    // ≤fitSample·dim local fit.
    val sample = unit
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(sampleCap)
      .select(col("u")).collect()
      .map(_.getSeq[Float](0).toArray)
    if (sample.isEmpty)
      return corpus.select(col("vec_id").as("id_a"), col("vec_id").as("id_b"),
        lit(0.0).as("sim")).filter(lit(false))
    // Pair similarity on the ORIGINAL embeddings (double accumulate /
    // norms) — bit-identical between both adaptive paths and the brute
    // baseline.
    def side(df: DataFrame, sfx: String): DataFrame =
      df.select(col("vec_id").as(s"id_$sfx"),
        col("embedding").as(s"e_$sfx"), col("_n").as(s"n_$sfx"))
    def simPairs(joined: DataFrame): DataFrame =
      joined
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          (VecOps.fdot(s, col("e_a"), col("e_b")) /
            (col("n_a") * col("n_b"))).as("sim"))
        .filter(col("sim") >= minSim)
    // The LIMIT doubles as a free size probe: fewer rows back than the cap
    // proves the corpus is ≤ fitSample rows, where the all-pairs broadcast
    // product beats any blocking (no extra stats pass, no blocking jobs)
    // and the broadcast is trivially safe. Blocking engages exactly when
    // the corpus is big enough to need it.
    if (sample.length < sampleCap)
      return simPairs(side(unit, "a").join(broadcast(side(unit, "b"))))
    // the sample collect doubles as the size probe above, so it stays
    // per-call; the Lloyd fit over it is deterministic per corpus version
    // and memoizes like the IVF quantizer fits
    val cents = Artifacts.value(
        Artifacts.key("centspairs", corpus, cells, sampleCap))(
      sphericalLloyd(sample, math.min(cells, sample.length), 5))
    val k = cents.length
    // struct evaluated once per row (two-step select), then split into
    // cell + bound distance
    val assigned = unit
      .select(col("vec_id"), col("embedding"), col("_n"),
        VecOps.centroidArgmax(s, col("u"), cents).as("_am"))
      .select(col("vec_id"), col("embedding"), col("_n"),
        col("_am.cell").as("cell"),
        sqrt(greatest(lit(0.0), lit(2.0) - lit(2.0) * col("_am.best")))
          .as("cdist"))

    // Per-cell radius: one tiny agg collect (≤ k rows). Cell pairs are
    // then enumerated on the driver — k² is tiny by construction.
    val radii = Array.fill(k)(0.0)
    assigned.groupBy(col("cell")).agg(max(col("cdist")).as("r"))
      .collect().foreach(r => radii(r.getInt(0)) = r.getDouble(1))
    def cdot(a: Array[Float], b: Array[Float]): Double = {
      var i = 0; var acc = 0.0
      while (i < a.length) { acc += a(i).toDouble * b(i); i += 1 }
      acc
    }
    // ORDERED pairs, both orientations + (i,i), so a qualifying vector
    // pair lands via (cell(a), cell(b)) exactly once in the join below.
    val cellPairs = (for {
      i <- 0 until k; j <- 0 until k
      cd = math.sqrt(math.max(0.0, 2.0 - 2.0 * cdot(cents(i), cents(j))))
      if cd - radii(i) - radii(j) <= distThresh
    } yield (i, j)).toDF("cell_a", "cell_b")

    val a = assigned.select(col("cell").as("cell_a"), col("vec_id").as("id_a"),
      col("embedding").as("e_a"), col("_n").as("n_a"))
    val b = assigned.select(col("cell").as("cell_b"), col("vec_id").as("id_b"),
      col("embedding").as("e_b"), col("_n").as("n_b"))
    simPairs(a.join(broadcast(cellPairs), "cell_a").join(b, "cell_b"))
  }

  /** Driver-local spherical k-means over a bounded sample: init = first k
    * hash-ordered points, `iters` Lloyd rounds, centroids re-normalized to
    * the unit sphere each round (an empty or zero cell keeps its previous
    * centroid). O(sample·k·dim·iters) scalar work — microseconds next to
    * one distributed scan.
    */
  private def sphericalLloyd(points: Array[Array[Float]], k: Int,
      iters: Int): Array[Array[Float]] = {
    val dim = points.head.length
    var cents = Array.tabulate(k)(i => points(i).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k, dim)(0.0)
      val counts = Array.fill(k)(0L)
      points.foreach { p =>
        var bestI = 0; var bestDot = Double.MinValue
        var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < dim) { d += p(i).toDouble * cents(c)(i); i += 1 }
          if (d > bestDot) { bestDot = d; bestI = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(bestI)(i) += p(i); i += 1 }
        counts(bestI) += 1
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c)
        else {
          val m = sums(c).map(_ / counts(c))
          val n = math.sqrt(m.map(x => x * x).sum)
          if (n == 0.0) cents(c) else m.map(x => (x / n).toFloat)
        }
      }
    }
    cents
  }

  /** The small-SF exact baseline: all-pairs with one side broadcast.
    * Spec-only — the registered x3 runs [[cosinePairsExact]].
    */
  def cosinePairsBrute(corpus: DataFrame, minSim: Double): DataFrame = {
    val s = corpus.sparkSession
    // zero-norm filter matches cosinePairsExact: without it a zero vector
    // yields sim = 0/0 = NaN, and Spark's NaN ordering treats NaN as
    // GREATER than every double, so `sim >= minSim` would KEEP the pair
    val a = withNorm(s, corpus, "a").withColumnRenamed("a_id", "id_a")
      .filter(col("a_norm") > 0)
    val b = withNorm(s, corpus, "b").withColumnRenamed("b_id", "id_b")
      .filter(col("b_norm") > 0)
    a.crossJoin(broadcast(b)).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (VecOps.fdot(s, col("a_emb"), col("b_emb")) /
          (col("a_norm") * col("b_norm"))).as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** Threshold filtering runs on the raw double sim (oracle agrees to
    * ~1e-15, so the pair set is stable); the EMITTED sim is rounded 6 dp
    * for bit-exact hash parity with the oracle.
    */
  private def x3NearDupPairs(s: SparkSession, d: String): DataFrame =
    cosinePairsExact(Tables.embeddings(s, d), 0.35)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
      .orderBy(col("id_a"), col("id_b"))

  private val x3Sql =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      |  WHERE list_inner_product(CAST(embedding AS DOUBLE[]),
      |                           CAST(embedding AS DOUBLE[])) > 0)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_cosine_similarity(a.emb, b.emb), 6) AS sim
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.emb, b.emb) >= 0.35
      |ORDER BY id_a, id_b""".stripMargin

  // ---- D11: semantic dedup (SemDeDup) ------------------------------------
  /** The τ=0.35 exact near-dup pair set, landed once per embeddings
    * version: slim source-derived state in
    * the d4/d7 shared-index class — d11, the d12 gate, and the d12
    * coverage probe all consume the SAME pair list, and each was
    * re-running the blocked n² verification per execution (~0.6 s each at
    * sf0.1). Post-threshold output is orders of magnitude smaller than
    * the corpus, so the pinned blocks stay tiny.
    */
  private def landedExactPairs(emb: DataFrame): DataFrame =
    Artifacts.frame(emb.sparkSession, Artifacts.key("tau35pairs", emb))(
      cosinePairsExact(emb, D12Tau).select(col("id_a"), col("id_b")))

  /** Semantic deduplication over the embedding space (SemDeDup, Abbas et
    * al. 2023): near-identical MEANING collapses to one keeper even when
    * the surface text shares no shingles — the dedup layer MinHash/SimHash
    * (d2/d3) cannot see. Pipeline: exact cosine pairs above the threshold
    * (x3's cell-pruned pair join — triangle-inequality pruning, never
    * all-pairs) → connected components (d7's size-probed union-find /
    * large-star contraction) → every vector labeled with its component's
    * minimum id as the keeper. Cosine similarity is transitive enough in
    * practice that pair-level dropping under-deletes; the component
    * collapse is what guarantees ONE representative per semantic cluster
    * (the same argument as pipe2's text-level collapse).
    *
    * Emits the full decision table (vec_id, rep_id, kept) rather than the
    * survivors alone: downstream curation joins `kept` as a filter, and
    * lineage audits need the loser→keeper mapping. Scale shape: the only
    * data-sized shuffles are the cell-pruned pair join's (embeddings
    * shuffle once on cell id); components run on the PAIR LIST (post-
    * threshold output, orders of magnitude smaller than the corpus), and
    * the final left join broadcasts the component labels when they fit.
    */
  private def d11SemDedup(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val edges = landedExactPairs(emb)
    val comps = DedupOps.connectedComponents(edges)
      .select(col("id").as("vec_id"), col("label").as("rep_id"))
    emb.select(col("vec_id"))
      .join(comps, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("rep_id"), col("vec_id")).as("rep_id"))
      .withColumn("kept", col("vec_id") === col("rep_id"))
      .orderBy(col("vec_id"))
  }

  /** Same component semantics as the Spark side: min-reachable-id via a
    * recursive transitive closure over the symmetric edge list (the pipe2
    * oracle discipline); vectors in no pair keep themselves.
    */
  private val d11Sql =
    """WITH RECURSIVE e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      |  WHERE list_inner_product(CAST(embedding AS DOUBLE[]),
      |                           CAST(embedding AS DOUBLE[])) > 0),
      |pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM e a JOIN e b ON a.vec_id < b.vec_id
      |  WHERE list_cosine_similarity(a.emb, b.emb) >= 0.35),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs),
      |reach AS (
      |  SELECT src AS id, dst AS peer FROM edges
      |  UNION
      |  SELECT r.id, e2.dst FROM reach r JOIN edges e2 ON e2.src = r.peer),
      |rep AS (
      |  SELECT id, LEAST(id, MIN(peer)) AS rep_id FROM reach GROUP BY id)
      |SELECT v.vec_id, COALESCE(rep.rep_id, v.vec_id) AS rep_id,
      |  (COALESCE(rep.rep_id, v.vec_id) = v.vec_id) AS kept
      |FROM embeddings v LEFT JOIN rep ON rep.id = v.vec_id
      |ORDER BY v.vec_id""".stripMargin

  // ---- D12: within-cell SemDeDup (the linear approximate variant) --------
  /** SemDeDup as the literature actually runs it at corpus scale (Abbas
    * et al. 2023 §3: cluster with k-means FIRST, compare pairs only
    * WITHIN a cluster): d11's exact global contract costs Θ(n²)
    * verification on corpora the triangle bound cannot prune — the
    * measured 17× sweep row on the isotropic flip corpus — while the
    * within-cell variant bounds candidate volume at Σ|cell|² ≈
    * 4·width·n (top-2 spill, cells = ⌈n/width⌉ — see [[D12CellWidth]]):
    * LINEAR in the corpus by construction, however unprunable the data.
    * The trade is recall: a near-dup pair whose endpoints share none of
    * their top-2 cells is not collapsed.
    *
    * Registered as a bounded gate (a7/recallGate discipline) because the
    * cell assignment is Lloyd-fitted and not SQL-expressible; the
    * payload IS oracle-recomputable and the approximation quality is a
    * measured-floor flag:
    *  - `n`, `n_paired`: corpus size and the number of vectors with ≥ 1
    *    EXACT near-dup (DuckDB recomputes via list_cosine_similarity).
    *  - `dedup_sound`: every vector d12 drops has an exact near-dup —
    *    within-cell pairs are a SUBSET of exact pairs, so this is
    *    mathematical truth; it flips on plumbing bugs (cell scramble,
    *    join key drift), not on data drift.
    *  - `coverage_ok`: the fraction of exact near-dup pairs whose
    *    endpoints share one of their TOP-2 cells ≥ [[D12CoverageFloor]]
    *    — the quality knob measured like an ANN recall gate. At
    *    SemDeDup's usual operating point (τ ≥ 0.9) pairs are nearly
    *    parallel and co-locate on their argmax alone; this corpus has
    *    no pairs above 0.6, and at τ=0.35 single-assignment coverage is
    *    0.17–0.37 — boundary spill (the IVF serving lever, reused) is
    *    what makes the approximation usable here (0.75–0.81).
    */
  private[graft] val D12Tau = 0.35

  /** d12's budget knob is the target CELL WIDTH, not a cell count: the
    * cluster count grows with the corpus at fixed expected width
    * (cells = ⌈n / width⌉, floor 8 — SemDeDup itself ran 11k clusters
    * over 5B documents), so candidate volume is
    * cells · (2·width)² ≈ 4·width·n — LINEAR in n by construction,
    * where a frozen cell count would be n²/cells-quadratic (the first
    * sweep cut measured d12 SLOWER than exact d11 at 10× for exactly
    * that reason). Per-cell width is an expectation; a production run
    * additionally caps actual width x7-style (split/salt) against
    * skewed clusters. Width trades coverage for cost: wider cells see
    * more of the exact pair set (τ=0.35 pairs sit ~70° apart and
    * straddle narrow cells — at the √n IVF geometry single-assignment
    * coverage was 0.17–0.32).
    */
  private[graft] val D12CellWidth = 250

  private[graft] def d12Cells(n: Long): Int =
    math.max(8, math.ceil(n.toDouble / D12CellWidth).toInt)

  /** Measured intra-top2-cell coverage with boundary spill (one-off spill
    * grid; the width-derived cell count resolves to 8 at all three
    * driver SFs): 0.81/0.79/0.75 (vs 0.37/0.36/0.32 single-assignment
    * — the same boundary-spill mechanism the IVF serving path uses,
    * applied to the dedup clustering); floor = 0.75 − 0.13 regen slack.
    */
  private[graft] val D12CoverageFloor = 0.61

  /** The operational path: cells → within-cell exact pairs → components
    * → decision table (vec_id, rep_id, kept). Kept separate from the
    * gate so specs and sweeps exercise exactly what production runs.
    */
  private[graft] def d12CellDecisions(s: SparkSession, d: String)
      : DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cells = d12Cells(memoCount(emb))
    val cents = memoCentroids(emb, ivfFitSample(0, cells), cells)
    require(cents.nonEmpty, s"empty embedding corpus at $d")
    // TOP-2 (boundary-spill) assignment for PAIR GENERATION: a τ=0.35
    // pair sits far from parallel, so single-cell assignment misses
    // most of them (measured 0.32–0.37 coverage vs 0.75–0.81 with the
    // spill). The decision table itself still partitions — spill only
    // widens which pairs are SEEN; duplicate sightings collapse at the
    // distinct before components.
    val am = VecOps.centroidArgmax2(s, col("embedding"), cents)
    val assigned = emb
      .select(col("vec_id"), col("embedding"),
        VecOps.fnorm(s, col("embedding")).as("_n"), am.as("_am"))
      .filter(col("_n") > 0)
      .select(col("vec_id"), col("embedding"), col("_n"),
        explode(array_distinct(
          array(col("_am.cell"), col("_am.cell2")))).as("cell"))
    def side(sfx: String): DataFrame = assigned.select(col("cell"),
      col("vec_id").as(s"id_$sfx"), col("embedding").as(s"e_$sfx"),
      col("_n").as(s"n_$sfx"))
    val pairs = side("a").join(side("b"), "cell")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (VecOps.fdot(s, col("e_a"), col("e_b")) /
          (col("n_a") * col("n_b"))).as("sim"))
      .filter(col("sim") >= D12Tau)
      .select(col("id_a"), col("id_b"))
      .distinct()
    val comps = DedupOps.connectedComponents(pairs)
      .select(col("id").as("vec_id"), col("label").as("rep_id"))
    emb.select(col("vec_id"))
      .join(comps, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("rep_id"), col("vec_id")).as("rep_id"))
      .withColumn("kept", col("vec_id") === col("rep_id"))
  }

  /** 1-row (_cov): intra-cell fraction of the EXACT near-dup pair set
    * under the same single assignment the decision path uses — the
    * measured quantity behind [[D12CoverageFloor]] (RecallProbe prints
    * it at both SFs).
    */
  private[graft] def d12CoverageFrame(s: SparkSession, d: String)
      : DataFrame = {
    val emb = Tables.embeddings(s, d)
    val exactPairs = landedExactPairs(emb)
    val cells = d12Cells(memoCount(emb))
    val cents = memoCentroids(emb, ivfFitSample(0, cells), cells)
    val am = VecOps.centroidArgmax2(s, col("embedding"), cents)
    val cellOf = emb.select(col("vec_id"), am.as("_am"))
      .select(col("vec_id"), col("_am.cell").as("cell"),
        col("_am.cell2").as("cell2"))
    exactPairs
      .join(cellOf.select(col("vec_id").as("id_a"),
        col("cell").as("ca1"), col("cell2").as("ca2")), "id_a")
      .join(cellOf.select(col("vec_id").as("id_b"),
        col("cell").as("cb1"), col("cell2").as("cb2")), "id_b")
      .agg(coalesce(avg(when(
        col("ca1") === col("cb1") || col("ca1") === col("cb2") ||
          col("ca2") === col("cb1") || col("ca2") === col("cb2"), 1.0)
        .otherwise(0.0)), lit(1.0)).as("_cov"))
  }

  private def d12Gate(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val dec = d12CellDecisions(s, d)
    val exactPairs = landedExactPairs(emb)
    val paired = exactPairs.select(col("id_a").as("vec_id"))
      .unionByName(exactPairs.select(col("id_b").as("vec_id")))
      .distinct()
    val nTot = dec.agg(count(lit(1)).as("n"))
    val nPaired = paired.agg(count(lit(1)).as("n_paired"))
    val unsound = dec.filter(!col("kept"))
      .join(paired, Seq("vec_id"), "left_anti")
      .agg(count(lit(1)).as("_bad"))
    nTot.crossJoin(broadcast(nPaired)).crossJoin(broadcast(unsound))
      .crossJoin(broadcast(d12CoverageFrame(s, d)))
      .select(col("n"), col("n_paired"),
        (col("_bad") === 0).as("dedup_sound"),
        (col("_cov") >= D12CoverageFloor).as("coverage_ok"))
  }

  private val d12Sql =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      |  WHERE list_inner_product(CAST(embedding AS DOUBLE[]),
      |                           CAST(embedding AS DOUBLE[])) > 0),
      |pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM e a JOIN e b ON a.vec_id < b.vec_id
      |  WHERE list_cosine_similarity(a.emb, b.emb) >= 0.35),
      |paired AS (
      |  SELECT id_a AS vec_id FROM pairs
      |  UNION SELECT id_b FROM pairs)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n,
      |  (SELECT CAST(count(*) AS BIGINT) FROM paired) AS n_paired,
      |  TRUE AS dedup_sound, TRUE AS coverage_ok""".stripMargin

  // ---- KM2: spherical k-means over the embedding corpus ------------------
  /** Corpus clustering for curation — the step SemDeDup/mixture analysis
    * runs BEFORE dedup or sampling: spherical (cosine) k-means, k = 8,
    * fitted on the same bounded deterministic unit sample the IVF
    * quantizer uses (shared memo family — one fit pass serves both),
    * assignment one codegen argmax per row (map-only, the corpus never
    * shuffles anything wider than (cluster, sims)). Per-vector frame for
    * specs and downstream ops via [[km2Assigned]]; the REGISTERED shape
    * is a bounded gate (the a7/a10 discipline): one row with an exact
    * payload DuckDB recomputes (n, dim) plus flags —
    *  - `argmax_gain_ok`: mean similarity-to-ASSIGNED-centroid ≥ the best
    *    single-centroid mean. Mean-of-max ≥ max-of-means holds
    *    mathematically, so the flag is deterministic truth; it flips on
    *    an assignment bug (argmax broken, cluster column scrambled), not
    *    on data drift.
    *  - `multi_cluster`: ≥ 2 non-empty clusters — collapse detector.
    */
  private val Km2K = 8

  private[graft] def km2Assigned(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val (cells, _) = ivfGeometry(memoCount(emb), 0, 0)
    val cents = memoCentroids(emb, ivfFitSample(0, cells), Km2K)
    require(cents.nonEmpty, s"empty embedding corpus at $d")
    val st = VecOps.centroidArgmax(s, col("embedding"), cents)
    val norm = VecOps.fnorm(s, col("embedding"))
    val simJ = cents.toIndexedSeq.zipWithIndex.map { case (c, j) =>
      (VecOps.fdot(s, col("embedding"), typedLit(c.toSeq)) / norm)
        .as(s"sim_$j")
    }
    emb.select(Seq(col("vec_id"), size(col("embedding")).as("dim"),
      st.getField("cell").as("cluster"),
      (st.getField("best") / norm).as("a_sim")) ++ simJ: _*)
  }

  private def km2Gate(s: SparkSession, d: String): DataFrame = {
    val assigned = km2Assigned(s, d)
    val nSim = assigned.columns.count(_.startsWith("sim_"))
    val g = assigned.groupBy(col("cluster")).agg(
      count(lit(1)).as("sz"),
      Seq(sum(col("a_sim")).as("ssim"), max(col("dim")).as("dim")) ++
        (0 until nSim).map(j => sum(col(s"sim_$j")).as(s"s_$j")): _*)
    // greatest() requires ≥ 2 args — a degenerate single-centroid fit
    // (one usable sample vector) falls back to that centroid's mean.
    // `k` reports the FITTED centroid count (= nSim); on every real
    // corpus the sample covers Km2K so the oracle's literal holds.
    val bestSingle =
      if (nSim == 1) sum(col("s_0")) / sum(col("sz"))
      else greatest(
        (0 until nSim).map(j => sum(col(s"s_$j")) / sum(col("sz"))): _*)
    g.agg(sum(col("sz")).as("_n"), max(col("dim")).as("_dim"),
        (sum(col("ssim")) / sum(col("sz"))).as("_ma"),
        bestSingle.as("_bs"), count(lit(1)).as("_k"))
      .select(col("_n").as("n"), col("_dim").as("dim"),
        lit(nSim).as("k"),
        (col("_ma") >= col("_bs") - lit(1e-9)).as("argmax_gain_ok"),
        (col("_k") >= 2).as("multi_cluster"))
  }

  private val km2Sql =
    s"""SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(max(len(embedding)) AS INTEGER) AS dim,
       |  CAST($Km2K AS INTEGER) AS k,
       |  TRUE AS argmax_gain_ok, TRUE AS multi_cluster
       |FROM embeddings""".stripMargin

  // ---- KM3: bisecting (divisive hierarchical) k-means ---------------------
  /** Bisecting spherical k-means over the memoized unit sample — MLlib
    * BisectingKMeans' motivation made explicit: k−1 two-means fits over
    * SHRINKING subsets instead of one k-way fit over everything (the
    * scalable-k fit; each split also yields a dendrogram level, the
    * hierarchy taxonomy/curriculum bucketing wants). Deterministic on the
    * memoized sample: split order = largest cluster first (creation-order
    * tie-break), each 2-means is [[sphericalLloyd]]'s deterministic init,
    * leaf centroid = unit mean of its members; a cluster whose 2-means
    * collapses to one side freezes instead of looping. Memoized per
    * corpus version under its own non-numeric family tag (`bisect:k$k`).
    */
  private[graft] def bisectingFit(sample: Array[Array[Float]],
      k: Int): Array[Array[Float]] = {
    if (sample.isEmpty) return Array.empty
    val dim = sample.head.length
    def unitMean(idxs: Array[Int]): Array[Float] = {
      val m = new Array[Double](dim)
      idxs.foreach { pi =>
        var i = 0; while (i < dim) { m(i) += sample(pi)(i); i += 1 }
      }
      val n = math.sqrt(m.map(x => x * x).sum)
      if (n == 0.0) sample(idxs.head).clone()
      else m.map(x => (x / n).toFloat)
    }
    var clusters = Vector(sample.indices.toArray)
    var frozen = Set.empty[Int]
    while (clusters.length < k && clusters.indices.exists(i =>
        !frozen(i) && clusters(i).length >= 2)) {
      val idx = clusters.indices
        .filter(i => !frozen(i) && clusters(i).length >= 2)
        .maxBy(i => (clusters(i).length, -i))
      val two = sphericalLloyd(clusters(idx).map(sample), 2, 5)
      val (lft, rgt) = clusters(idx).partition { pi =>
        val p = sample(pi)
        var d0 = 0.0; var d1 = 0.0; var i = 0
        while (i < dim) {
          d0 += p(i).toDouble * two(0)(i)
          d1 += p(i).toDouble * two(1)(i)
          i += 1
        }
        d0 >= d1
      }
      if (lft.isEmpty || rgt.isEmpty) frozen += idx
      else clusters = clusters.updated(idx, lft) :+ rgt
    }
    clusters.map(unitMean).toArray
  }

  private def km3Cents(s: SparkSession, d: String): Array[Array[Float]] = {
    val emb = Tables.embeddings(s, d)
    val (cells, _) = ivfGeometry(memoCount(emb), 0, 0)
    val fs = ivfFitSample(0, cells)
    Artifacts.value(Artifacts.key("bisect", emb, Km2K, fs))(
      bisectingFit(memoUnitSample(emb, fs), Km2K))
  }

  /** KM3 gate: km2's bounded-gate structure (exact n/dim/k payload +
    * mean-of-max ≥ max-of-means argmax flag + collapse flag) over the
    * BISECTING-fitted leaves, plus a `k_reached` flag — every split
    * succeeded, so the divisive tree actually reached k leaves (a
    * degenerate corpus where 2-means keeps collapsing would freeze
    * early and trip it).
    */
  private def km3Gate(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cents = km3Cents(s, d)
    require(cents.nonEmpty, s"empty embedding corpus at $d")
    val st = VecOps.centroidArgmax(s, col("embedding"), cents)
    val norm = VecOps.fnorm(s, col("embedding"))
    val simJ = cents.toIndexedSeq.zipWithIndex.map { case (c, j) =>
      (VecOps.fdot(s, col("embedding"), typedLit(c.toSeq)) / norm)
        .as(s"sim_$j")
    }
    val assigned = emb.select(Seq(col("vec_id"),
      size(col("embedding")).as("dim"),
      st.getField("cell").as("cluster"),
      (st.getField("best") / norm).as("a_sim")) ++ simJ: _*)
    val nSim = cents.length
    val g = assigned.groupBy(col("cluster")).agg(
      count(lit(1)).as("sz"),
      Seq(sum(col("a_sim")).as("ssim"), max(col("dim")).as("dim")) ++
        (0 until nSim).map(j => sum(col(s"sim_$j")).as(s"s_$j")): _*)
    val bestSingle =
      if (nSim == 1) sum(col("s_0")) / sum(col("sz"))
      else greatest(
        (0 until nSim).map(j => sum(col(s"s_$j")) / sum(col("sz"))): _*)
    g.agg(sum(col("sz")).as("_n"), max(col("dim")).as("_dim"),
        (sum(col("ssim")) / sum(col("sz"))).as("_ma"),
        bestSingle.as("_bs"), count(lit(1)).as("_k"))
      .select(col("_n").as("n"), col("_dim").as("dim"),
        lit(nSim).as("k"),
        (col("_ma") >= col("_bs") - lit(1e-9)).as("argmax_gain_ok"),
        (col("_k") >= 2).as("multi_cluster"),
        lit(nSim == Km2K).as("k_reached"))
  }

  private val km3Sql =
    s"""SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(max(len(embedding)) AS INTEGER) AS dim,
       |  CAST($Km2K AS INTEGER) AS k,
       |  TRUE AS argmax_gain_ok, TRUE AS multi_cluster,
       |  TRUE AS k_reached
       |FROM embeddings""".stripMargin

  /** Auto-derived IVF geometry (the x7 auto-bits idiom): `nCells ≤ 0` ⇒
    * `clamp(⌈√n⌉, 16, 1024)` from one metadata-cheap corpus count, so the
    * cell count GROWS with the corpus instead of freezing the pruning
    * fraction at a demo-scale constant; `nProbe ≤ 0` ⇒
    * `clamp(cells/4, 2, 16)`, so the probed fraction is ≤ 25% at every
    * size and SHRINKS once the probe cap bites (cells = 64 at n ≈ 4k):
    * n = 10⁶ probes 16/1000 = 1.6% of the corpus; past the cell cap
    * (n ≥ ~10⁶) the fraction floors at 16/1024 ≈ 1.6%. The 1024-cell cap
    * is the bounded-driver-Lloyd budget (5 rounds × 16k sample × 1024
    * cells × 64 dims ≈ 5·10⁹ scalar ops, a one-time few seconds); a
    * 10⁹-vector production fit would swap in a distributed/hierarchical
    * coarse quantizer behind the same cell contract (docs/SCALING.md).
    */
  private[graft] def ivfGeometry(n: Long, nCells: Int, nProbe: Int): (Int, Int) = {
    val cells =
      if (nCells > 0) nCells
      else math.min(1024, math.max(16,
        math.ceil(math.sqrt(math.max(1L, n).toDouble)).toInt))
    val probe =
      if (nProbe > 0) nProbe
      else math.min(16, math.max(2, cells / 4))
    (cells, probe)
  }

  /** Lloyd needs ≥ ~16 sample points per cell to place centroids; the cap
    * bounds the driver fit (16k × 64 floats ≈ 4 MB).
    */
  private def ivfFitSample(fitSample: Int, cells: Int): Int =
    if (fitSample > 0) fitSample
    else math.min(16384, math.max(4096, cells * 16))

  /** Coarse-quantizer training sample: bounded hash-ordered TakeOrdered
    * pass, unit-normalized on the driver, zero-norm rows dropped — no
    * MLlib KMeans, which caches the full corpus, costs a dozen scheduler
    * rounds, and assigns through a non-codegen UDF. Shared by the IVF,
    * IVF-SQ, and exact-blocking paths.
    */
  private def unitSample(corpus: DataFrame, fitSample: Int): Array[Array[Float]] =
    corpus
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(fitSample)
      .select(col("embedding")).collect()
      .flatMap { r =>
        val p = r.getSeq[Float](0).toArray
        var n2 = 0.0; var i = 0
        while (i < p.length) { n2 += p(i).toDouble * p(i); i += 1 }
        val n = math.sqrt(n2)
        if (n == 0.0) None else Some(p.map(x => (x / n).toFloat))
      }

  /** Index-build products memoized per corpus VERSION (the corpus frame's
    * source stamps + plan identity, `Artifacts.key(op, df)`) —
    * production ANN accounting: the coarse quantizer trains ONCE per
    * corpus version and serves every query batch, it does not refit per
    * batch. At 100 TB the fit's TakeOrdered sample pass and the geometry
    * count are each a corpus-metadata/scan job; per-call refits pay them
    * once per query batch for byte-identical results (the sample order is
    * the deterministic xxhash64 rank). The registered x4/x8/x9/x7 queries
    * and their recall gates hit the same keys, so a Verify/Bench run fits
    * each corpus once. Values are deterministic, so memoization is
    * value-transparent; payload is bounded (count: 8 bytes; sample:
    * ≤16k × 64-float unit vectors ≈ 4 MB; centroids ≤ 1024×64 floats
    * ≈ 256 KB; PQ books m×ks sub-centroids) and one version per family
    * stays cached — a regenerated corpus evicts the superseded entry;
    * different corpora are different families. `tag` is part of the
    * family too: a DERIVED corpus over the same source files (x11's base
    * split) must not share a family with the full corpus, or the two
    * would evict each other.
    */
  private[graft] def memoCount(corpus: DataFrame, tag: String = ""): Long =
    Artifacts.value(Artifacts.key("count", corpus, tag))(corpus.count())

  private def memoUnitSample(corpus: DataFrame, fitSample: Int,
      tag: String = ""): Array[Array[Float]] =
    // different sample sizes over one corpus are different families
    // (x9's fixed 4096 must not evict x4's cells×16)
    Artifacts.value(Artifacts.key("sample", corpus, fitSample, tag))(
      unitSample(corpus, fitSample))

  /** FITTED centroids memoized per corpus version, completing the
    * index-build memo chain (count → sample → centroids): the round-10
    * state memoized the sample but re-ran the driver Lloyd at every call
    * site — ~0.2-0.4 s single-threaded per query at the auto geometry and
    * "a few seconds" PER CALL at the 1024-cell cap, where the
    * [[ivfGeometry]] scaladoc promises one-time. The fit is a
    * deterministic function of the memoized sample and (k), so
    * memoization stays value-transparent; `k` is part of the family
    * (km2's k=8 and x4's k=cells over one corpus must not evict each
    * other). Payload ≤ 1024×64 floats ≈ 256 KB per family.
    */
  private def memoCentroids(corpus: DataFrame, fitSample: Int, k: Int,
      tag: String = ""): Array[Array[Float]] = {
    val sampleUnit = memoUnitSample(corpus, fitSample, tag)
    if (sampleUnit.isEmpty) Array.empty
    else Artifacts.value(Artifacts.key("cents", corpus, fitSample, k, tag))(
      sphericalLloyd(sampleUnit, math.min(k, sampleUnit.length), 5))
  }

  /** Margin threshold realizing [[IvfSpillBudget]]: the budget-quantile
    * of best-vs-second centroid dot margins over the memoized unit fit
    * sample — driver-local (sample × cells dots, microseconds next to
    * one scan), deterministic on memoized inputs, memoized per corpus
    * version like the centroids it derives from. Sample vectors are
    * unit, so the threshold is in cosine units and compares against
    * `(best − best2) / ‖v‖` on raw corpus rows.
    */
  private def memoSpillThreshold(corpus: DataFrame, fitSample: Int,
      cents: Array[Array[Float]], tag: String = ""): Double =
    Artifacts.value(
        Artifacts.key("spillq", corpus, fitSample, cents.length, tag)) {
      val sample = memoUnitSample(corpus, fitSample, tag)
      if (sample.isEmpty || cents.length < 2) 0.0
      else {
        val margins = sample.map { p =>
          var best = Double.NegativeInfinity
          var sec = Double.NegativeInfinity
          var c = 0
          while (c < cents.length) {
            val ct = cents(c)
            val n = math.min(p.length, ct.length)
            var d = 0.0; var i = 0
            while (i < n) { d += p(i).toDouble * ct(i); i += 1 }
            if (d > best) { sec = best; best = d } else if (d > sec) sec = d
            c += 1
          }
          best - sec
        }.sorted
        margins(math.min(margins.length - 1,
          (margins.length * IvfSpillBudget).toInt))
      }
    }

  /** One IVF quantizer fit: the geometry, the centroids (empty for a
    * corpus with no nonzero vector — callers then fall back to brute
    * force) and the boundary-spill margin.
    */
  private[graft] final case class IvfFit(cells: Int, probe: Int,
      cents: Array[Array[Float]], margin: Double, corpus: DataFrame,
      tag: String) {
    /** The fit's memo identity: the corpus version, geometry and tag the
      * centroids are a function of. A refit over a rewritten corpus is a
      * new version of the same family.
      */
    def key: Artifacts.Key = Artifacts.key("ivf", corpus, cells, tag)

    /** Selectivity-aware probe widening (the ACORN insight): a filter
      * that keeps 1/|labels| of each cell starves the candidate pool, so
      * filtered search probes deeper — scoring cost stays (probed
      * fraction)/|labels|, still far under the plain-IVF budget, and
      * recall recovers (measured 0.36→0.56+ at 2×).
      */
    def filteredProbe: Int = math.min(cells, probe * 2)
  }

  /** The IVF fit chain over `corpus` — count → geometry → sample →
    * centroids → spill margin, each link memoized per corpus version in
    * the `tag` family. The geometry count is skipped when both `nCells`
    * and `nProbe` are given. Direction cells suit the cosine metric, and
    * argmax-dot assignment is scale-invariant, so raw embeddings need no
    * normalize pass.
    */
  private def ivfFit(corpus: DataFrame, tag: String = "", nCells: Int = 0,
      nProbe: Int = 0): IvfFit = {
    val (cells, probe) = ivfGeometry(
      if (nCells > 0 && nProbe > 0) 0L else memoCount(corpus, tag),
      nCells, nProbe)
    val fs = ivfFitSample(0, cells)
    val cents = memoCentroids(corpus, fs, cells, tag)
    IvfFit(cells, probe, cents,
      if (cents.isEmpty) 0.0 else memoSpillThreshold(corpus, fs, cents, tag),
      corpus, tag)
  }

  /** IVF (inverted-file) ANN: KMeans coarse quantizer over the corpus;
    * each query probes the nProbe nearest centroids and exact-reranks only
    * those cells. The scale path when the LSH bucket distribution is too
    * coarse: cells ≈ sqrt(n), probe cost ≈ nProbe/cells of the corpus.
    *
    * With `matchLabel = true` the candidate set is additionally
    * restricted to corpus rows sharing the query's `label` — filtered
    * vector search, the metadata-predicate + top-k shape every vector
    * store serves. The filter applies AT THE PROBE JOIN (before any
    * scoring), so non-matching candidates in a probed cell cost nothing
    * but the hash lookup; the index itself is label-agnostic (one IVF
    * serves every predicate — the post-filter strategy; per-label
    * partitioned indexes are the 100 TB alternative when one label
    * dominates the query mix), and the probe widens to
    * [[IvfFit.filteredProbe]].
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 0, nProbe: Int = 0,
      matchLabel: Boolean = false): DataFrame = {
    val fit = ivfFit(corpus, nCells = nCells, nProbe = nProbe)
    if (fit.cents.isEmpty)
      return (if (matchLabel) filteredBruteTopK(corpus, queries, k)
        else bruteForceTopK(corpus, queries, k))
    ivfSearch(corpus, queries, k, fit,
      if (matchLabel) fit.filteredProbe else fit.probe, matchLabel)
  }

  /** X11: incremental index maintenance — the production append path. The
    * coarse quantizer stays FITTED ON THE BASE corpus; newly arrived
    * vectors (`delta`) are assigned to the existing cells map-side (one
    * codegen argmax per row, no shuffle, no refit) and become searchable
    * immediately. Centroid drift from skipping the refit is bounded by
    * the delta fraction — refit is an OFFLINE compaction decision (e.g.
    * delta > ~30% of base), not a per-append cost; at 100 TB this is the
    * difference between appending a partition and rebuilding the index.
    * Geometry derives from the BASE count, matching the fit.
    */
  def ivfTopKIncremental(base: DataFrame, delta: DataFrame,
      queries: DataFrame, k: Int): DataFrame = {
    val fit = ivfFit(base, tag = ":base")
    if (fit.cents.isEmpty)
      return bruteForceTopK(base.unionByName(delta), queries, k)
    ivfSearch(base.unionByName(delta), queries, k, fit, fit.probe,
      matchLabel = false)
  }

  /** IVF boundary multi-assignment (cell spill) BUDGET: the fraction of
    * corpus vectors assigned to BOTH their best and second-best cell —
    * the ones with the smallest best-vs-second cosine margin, i.e. the
    * Voronoi-boundary vectors a near-miss routing loses. The margin
    * THRESHOLD realizing the budget is the budget-quantile of margins
    * over the memoized fit sample ([[memoSpillThreshold]]), so expected
    * storage expansion ≈ 1 + budget (exact on the fit sample; a corpus
    * whose margin distribution differs from the ≤16k sample can exceed
    * it — [[spillExpansion]] measures the realized value) — a fixed-τ
    * margin had no such handle at all (measured 1.09×
    * at sf0.01 but 1.9× at τ large enough to matter). Probe counts are
    * unchanged; spill pays at index-build time, which amortizes per
    * corpus version. Measured lift at this budget (RecallProbe): x4/x8
    * aggregate 0.50/0.62 → 0.52/0.74, x11 0.62/0.68, filtered x10b
    * 0.66/0.78 → 0.80/0.84 — the sf0.01 plain-IVF value is bounded on
    * this deliberately near-uniform synthetic corpus by routing
    * diffusion (neighbors spread over many cells; a one-off margin
    * sweep measured 0.76 even at 1.9× expansion; docs/SCALING.md
    * discusses the clustered real-embedding case where boundary spill
    * is the standard lever).
    */
  private[graft] val IvfSpillBudget = 0.25

  /** Cell assignment with boundary spill: one argmax2 kernel pass, then
    * an explode over 1 or 2 cells per vector — map-only, no shuffle; the
    * payload columns ride the explode. Zero-norm vectors never spill
    * (margin 0 < 0·τ is false) and carry their argmax cell.
    */
  private def spillAssigned(s: SparkSession, corpus: DataFrame,
      cents: Array[Array[Float]],
      payload: Seq[(String, Column)],
      margin: Double): DataFrame = {
    // struct evaluated once per row (two-step select), argmax dot is
    // scale-invariant so assignment runs on the raw embedding
    val am = VecOps.centroidArgmax2(s, col("embedding"), cents)
    corpus
      .select(Seq(col("vec_id").as("c_id"), am.as("_am"),
        VecOps.fnorm(s, col("embedding")).as("_nrm")) ++
        payload.map { case (n, c) => c.as(n) }: _*)
      .select(Seq(col("c_id"),
        explode(when(
          col("_am.best") - col("_am.best2") <
            lit(margin) * col("_nrm"),
          array(col("_am.cell"), col("_am.cell2")))
          .otherwise(array(col("_am.cell")))).as("cell")) ++
        payload.map { case (n, _) => col(n) }: _*)
  }

  /** Shared IVF search phase: assign the corpus to the fit's centroids
    * map-side (with boundary spill), probe the `probe` nearest cells per
    * query, exact-rerank within probed cells.
    */
  private def ivfSearch(corpus: DataFrame, queries: DataFrame, k: Int,
      fit: IvfFit, probe: Int, matchLabel: Boolean): DataFrame = {
    val s = corpus.sparkSession
    val cLabel = if (matchLabel) Seq("c_label" -> col("label")) else Nil
    val assigned = spillAssigned(s, corpus, fit.cents,
      Seq("c_emb" -> col("embedding"),
        "c_norm" -> VecOps.fnorm(s, col("embedding"))) ++ cLabel,
      fit.margin)
    rerankProbed(s, assigned,
      queryProbes(s, queries, fit.cents, probe, qLabel(matchLabel)), k,
      matchLabel)
  }

  private def qLabel(matchLabel: Boolean): Seq[Column] =
    if (matchLabel) Seq(col("label").as("q_label")) else Nil

  /** Query → its nProbe nearest cells, via distance to the centroid table
    * (tiny: nCells rows, crossJoin + top-k window). Rows carry (q_id,
    * q_emb, q_norm, `extra`..., cell).
    */
  private def queryProbes(s: SparkSession, queries: DataFrame,
      cents: Array[Array[Float]], probe: Int,
      extra: Seq[Column]): DataFrame = {
    import s.implicits._
    val centDf = cents.toIndexedSeq.map(_.toSeq).zipWithIndex
      .map { case (c, i) => (i, c) }.toDF("cell", "centroid")
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("cdist"), col("cell"))
    withNorm(s, queries, "q", extra: _*).crossJoin(broadcast(centDf))
      .withColumn("cdist", -VecOps.fdot(s, col("q_emb"), col("centroid")))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= probe)
      .drop("cdist", "pr", "centroid")
  }

  /** Probe join + exact rerank shared by the in-memory and persisted
    * index paths: `assigned` carries (c_id, c_emb, c_norm, cell).
    */
  private def rerankProbed(s: SparkSession, assigned: DataFrame,
      probes: DataFrame, k: Int, matchLabel: Boolean): DataFrame = {
    val matchCond =
      if (matchLabel) col("q_label") === col("c_label") else lit(true)
    // a spilled vector probed via both of its cells appears twice — the
    // groupBy collapses duplicates (sim is identical, max is a no-op on
    // values) AND puts an Aggregate under the Window, the x7-proven safe
    // topology; it exchanges only bounded candidate rows
    topK(assigned.join(broadcast(probes), "cell")
      .filter(col("q_id") =!= col("c_id") && matchCond)
      .select(col("q_id"), col("c_id"), qcSim(s).as("sim"))
      .groupBy(col("q_id"), col("c_id"))
      .agg(max(col("sim")).as("sim")), k)
  }

  // ---- X12: persisted IVF index (partition-pruned serve path) ------------

  /** Spill-assigned (c_id, cell, c_emb, c_norm) projection of `part` —
    * the persisted layouts land exactly what [[ivfSearch]]'s in-memory
    * assignment computes (including boundary spill), so the serve-path
    * candidates stay spec-identical to x4's.
    */
  private[graft] def assignedForLanding(s: SparkSession, part: DataFrame,
      fit: IvfFit): DataFrame =
    spillAssigned(s, part, fit.cents, Seq(
      "c_emb" -> col("embedding"),
      "c_norm" -> VecOps.fnorm(s, col("embedding")),
      // filterable metadata lives IN the index (the x17 serving shape:
      // a real vector store schema is id + vector + filter columns)
      "c_label" -> col("label")), fit.margin)

  /** Lands `rows` as a `partitionBy(part)` parquet layout in `dir`, after
    * one shuffle so each partition lands as one file run, not one
    * fragment per writer task (the compaction posture).
    */
  private def writeLayout(rows: DataFrame, dir: String, part: String,
      mode: String = "overwrite"): Unit =
    rows.repartition(col(part)).write.mode(mode).partitionBy(part)
      .parquet(dir)

  /** A `partitionBy(cell)` layout of `rows`, landed once per embeddings
    * version under `op`.
    */
  private def cellLayoutDir(d: String, op: String)(
      rows: => DataFrame): String =
    Artifacts.dir(Artifacts.key(op, Tables.path(d, "embeddings")),
      s"graft_$op")(writeLayout(rows, _, "cell"))

  /** Streams `delta` into the landed layout `dir` — 3 staged files,
    * `maxFilesPerTrigger = 1` + AvailableNow, so 3 micro-batches. Each
    * batch's `rows` commit through
    * [[graft.util.Landing.idempotentAppend]]'s replay-safe
    * stage/clean/publish/marker protocol into the `part` partitions.
    */
  private def streamAppend(s: SparkSession, op: String, delta: DataFrame,
      dir: String, part: String)(rows: DataFrame => DataFrame): Unit = {
    val stage = Artifacts.scratchDir(s"graft_${op}_stage")
    val ckpt = Artifacts.scratchDir(s"graft_${op}_ckpt")
    delta.repartition(3).write.mode("overwrite").parquet(stage.toString)
    // the file source replays files oldest-mtime first, and the 3 writer
    // tasks finish in any order; stamping the parts in name order makes
    // the batch order — which e26's order-dependent insert sees — the
    // same on every run
    stage.toFile.listFiles().filter(_.getName.startsWith("part-"))
      .sortBy(_.getName).zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(System.currentTimeMillis() - 10000L + i * 1000L)
      }
    val schema = Artifacts.parquetSchema(s, stage.toString)
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stage.toString)
      .writeStream
      .option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.util.Landing.idempotentAppend(
          rows(batch).repartition(col(part)), dir, batchId, part)
      }
      .start()
    q.awaitTermination()
    Artifacts.delete(stage)
    Artifacts.delete(ckpt)
  }

  private def landedIndexDir(s: SparkSession, d: String,
      fit: IvfFit): String =
    cellLayoutDir(d, "ivfidx")(
      assignedForLanding(s, Tables.embeddings(s, d), fit))

  /** Driver-known probed-cell set memoized per (query-set version, fit,
    * probe count): the `collect()` is a driver job executing the probe
    * plan at DataFrame-BUILD time on every fresh build — the per-build
    * cost class the d13 and x13b fixes removed. The set is a
    * deterministic function of the centroids and the query set, so
    * memoization is value-transparent. The key carries the fit's own
    * identity ([[IvfFit.key]]): two fits of one geometry (x12 on the
    * corpus, x15 on the recovered layout) must not share a cell set, and
    * a refit over a rewritten corpus replaces the older entry.
    */
  private[graft] def memoProbedCells(queries: DataFrame, probes: DataFrame,
      fit: IvfFit, probe: Int): IndexedSeq[Int] =
    Artifacts.value(Artifacts.key("pcells", queries, probe).and(fit.key))(
      probes.select(col("cell")).distinct()
        .collect().map(_.getInt(0)).toIndexedSeq.sorted)

  /** The probe part of a persisted serve: the queries' probes, and the
    * landed cell layout in `dir` pruned to the probed cells. The probed
    * cell set is driver-known (≤1024 centroids), so pruning is a static
    * `cell IN (...)` partition filter — file-listing-level skipping,
    * before any I/O.
    */
  private def probedLayout(s: SparkSession, dir: String, queries: DataFrame,
      fit: IvfFit, probe: Int, extra: Seq[Column]): (DataFrame, DataFrame) = {
    val landed = Artifacts.read(s, dir)
    val probes = queryProbes(s, queries, fit.cents, probe, extra)
    val probedCells = memoProbedCells(queries, probes, fit, probe)
    (landed.filter(col("cell").isin(probedCells: _*)), probes)
  }

  /** Partition-pruned serve over a landed cell layout: the probed cells'
    * scan plus the exact rerank (label-matched when `matchLabel`).
    */
  private def servePersisted(s: SparkSession, dir: String,
      queries: DataFrame, fit: IvfFit, probe: Int, k: Int,
      matchLabel: Boolean = false): DataFrame = {
    val (cells, probes) =
      probedLayout(s, dir, queries, fit, probe, qLabel(matchLabel))
    rerankProbed(s, cells, probes, k, matchLabel)
  }

  /** X12: the index ON DISK — cell assignments landed once per corpus
    * version as a `partitionBy(cell)` parquet layout, so the serve path
    * is a PARTITION-PRUNED SCAN of the probed cells plus the exact
    * rerank; the corpus is never rescanned or reshuffled per query
    * batch. The probed cell set is driver-known (it falls out of the
    * centroid table, ≤1024 rows), so pruning is a static
    * `cell IN (...)` partition filter — visible in the scan's
    * PartitionFilters (spec-asserted), the same mechanism that serves a
    * 100 TB corpus by reading nProbe/nCells of its files and skipping
    * the rest at the FILE LISTING level, before any I/O. Same fit, same
    * geometry, same candidates as x4's in-memory path (spec-asserted
    * identical); build cost is amortized across the JVM like j6's
    * bucketed landing — rep 1 pays the write, steady state measures the
    * pruned scan.
    */
  def ivfPersistedTopK(s: SparkSession, d: String, queries: DataFrame,
      k: Int): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val fit = ivfFit(emb)
    if (fit.cents.isEmpty) return bruteForceTopK(emb, queries, k)
    servePersisted(s, landedIndexDir(s, d, fit), queries, fit, fit.probe, k)
  }

  /** X17: filtered search through the PERSISTED index — x10b's
    * post-filter strategy composed with x12's partition-pruned on-disk
    * layout: the production filtered-vector-store serve. The landed
    * layout carries the label as a filterable column (real index schemas
    * store filter metadata beside the vectors), the query's probed cell
    * set prunes the scan at the FILE LISTING level (PartitionFilters),
    * and the label predicate applies at the probe join over only the
    * read cells, with x10b's selectivity-aware 2× probe widening (the
    * ACORN insight). Candidates are spec-identical to x10b's in-memory
    * path (same fit chain, same spill, same widened probes), so x10b's
    * oracle gates it verbatim.
    */
  def ivfPersistedFilteredTopK(s: SparkSession, d: String,
      queries: DataFrame, k: Int): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val fit = ivfFit(emb)
    if (fit.cents.isEmpty) return filteredBruteTopK(emb, queries, k)
    servePersisted(s, landedIndexDir(s, d, fit), queries, fit,
      fit.filteredProbe, k, matchLabel = true)
  }

  private def x17Gate(s: SparkSession, d: String): DataFrame =
    fiveProbeGate(s, d, X10bFloor, filtered = true)((_, q5) =>
      ivfPersistedFilteredTopK(s, d, q5, 10))

  // ---- X18: k-NN-graph + greedy beam search -------------------------------
  /** X18 knobs. Degree/beam/hops are the classic graph-ANN triple
    * (HNSW's M/ef, DiskANN's R/L): recall rises with any of them at
    * linear cost. Hops is the only n-sensitive knob — greedy search
    * walks ~O(log n) hops on a navigable graph, so a 100 TB corpus
    * raises it from 3 to ~10, not to thousands. A one-off sweep at both
    * SFs (2026-08-14 testdata) found degree the dominant lever on this
    * routing-diffuse synthetic corpus — g=8 topped out at 0.68-0.86
    * aggregate however beam/hops grew (local minima in a sparse graph),
    * g=16 reaches 1.00/0.98 at (b=32, h=4, e=8); more hops/beam past
    * that bought nothing.
    */
  private[graft] val X18Degree = 16
  private[graft] val X18Beam = 32
  private[graft] val X18Hops = 4
  private[graft] val X18Entries = 8

  /** Node-block partition count: ~250 nodes per `pb` partition at driver
    * SFs; at production scale this is the DiskANN node-block layout —
    * whatever keeps one partition's node records at a few MB of I/O.
    */
  private def x18Buckets(n: Long): Int =
    math.max(8, math.min(1024, (n / 250L).toInt))

  /** A node row's `pb` node-block partition. */
  private def nodeBlock(nb: Int): Column =
    pmod(col("id"), lit(nb.toLong)).cast("int").as("pb")

  /** A node row's neighbour list, empty for a node with none. */
  private def nbrsOrEmpty: Column =
    coalesce(col("nbrs"), array().cast("array<bigint>")).as("nbrs")

  /** Graph-layout builder shared by the full-corpus (x18) and base-split
    * (x18b) indexes. Sidecars freeze everything the SERVE path needs —
    * entry points and the bucket count — so serving is index-only and
    * never touches the source table (which is what lets x18b serve
    * base+delta through one dir).
    */
  private def buildGraphLayout(s: SparkSession, corpus: DataFrame,
      dir: String, degree: Int, nb: Int): Unit = {
    val edges = knnJoin(corpus, degree)
      .select(col("q_id").as("src"), col("c_id").as("dst"))
    val undirected = edges.unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val nbrs = undirected.groupBy(col("src").as("id"))
      .agg(sort_array(collect_set(col("dst"))).as("nbrs"))
    writeLayout(corpus.select(col("vec_id").as("id"),
        col("embedding").as("emb"),
        VecOps.fnorm(s, col("embedding")).as("nrm"))
      .join(nbrs, Seq("id"), "left")
      .select(col("id"), col("emb"), col("nrm"), nbrsOrEmpty, nodeBlock(nb)),
      dir, "pb")
    // a generous frozen entry pool (serve takes its first
    // [[X18Entries]]; probe tooling can take more without re-landing)
    val entries = corpus.select(col("vec_id"))
      .orderBy(md5(concat_ws("|", col("vec_id").cast("string"),
        lit("x18"))), col("vec_id"))
      .limit(32).collect().map(_.getLong(0))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_entries.txt"),
      entries.mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_nbuckets.txt"),
      nb.toString.getBytes("UTF-8"))
  }

  private def graphSidecarInt(dir: String, name: String): Int = {
    val src = scala.io.Source.fromFile(s"$dir/$name")
    try src.mkString.trim.toInt finally src.close()
  }

  /** Copies the serve sidecars (entries, bucket count) of the graph
    * layout `src` into the derived layout `dir`.
    */
  private def copySidecars(src: String, dir: String): Unit =
    for (sc <- Seq("_entries.txt", "_nbuckets.txt"))
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$src/$sc"),
        java.nio.file.Paths.get(s"$dir/$sc"))

  /** Id-pruned lookup of node rows in the graph layout `dir`: the ids
    * are driver-known, so the read is a partition filter on their node
    * blocks plus the id filter.
    */
  private def nodeLookup(s: SparkSession, dir: String): Seq[Long] => DataFrame = {
    val nb = graphSidecarInt(dir, "_nbuckets.txt")
    val nodes = Artifacts.read(s, dir)
    ids => nodes.filter(
      col("pb").isin(ids.map(i => (i % nb).toInt).distinct.sorted: _*) &&
        col("id").isin(ids: _*))
  }

  /** The distinct `c_id`s of a bounded frame, collected sorted. */
  private def idsOf(df: DataFrame): Seq[Long] =
    df.select(col("c_id")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted

  /** Vector-bearing node rows as the (c_id, c_emb, c_norm) side. */
  private def floatNodes(nodeRows: DataFrame): DataFrame =
    nodeRows.filter(col("nrm").isNotNull && col("nrm") > 0)
      .select(col("id").as("c_id"), col("emb").as("c_emb"),
        col("nrm").as("c_norm"))

  /** Full-precision scoring for [[graphBeamWalk]]: (q_id, c_id) pairs
    * against the looked-up node rows and the (q_id, q_emb, q_norm)
    * query side `q`.
    */
  private def floatScore(s: SparkSession, q: DataFrame)(
      cand: DataFrame, nodeRows: DataFrame): DataFrame =
    cand.join(broadcast(floatNodes(nodeRows)), "c_id")
      .join(broadcast(q), "q_id")
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), qcSim(s).as("sim"))

  /** X18 index BUILD, landed once per corpus version: the k-NN GRAPH —
    * each node's [[X18Degree]] nearest neighbours from the existing x7
    * [[knnJoin]] machinery (LSH-bucketed, never all-pairs), symmetrized
    * (reverse edges make the graph navigable from any entry — the NSW
    * practice), landed as one row per node (id, emb, nrm, nbrs)
    * partitioned by id block, plus a sidecar `_entries.txt` freezing
    * [[X18Entries]] deterministic md5-ranked entry points so serving
    * never rescans the corpus to pick a start. This is the third
    * production index family next to the hash (x2) and quantizer
    * (x4–x17) suites: no cells, no fit — search QUALITY comes from edge
    * locality, and the serve path reads only the node blocks the walk
    * touches.
    */
  private[graft] def knnGraphDir(s: SparkSession, d: String): String =
    Artifacts.dir(Artifacts.key("knngraph", Tables.path(d, "embeddings"),
        X18Degree), "graft_knng") { dir =>
      val emb = Tables.embeddings(s, d)
      buildGraphLayout(s, emb, dir, X18Degree, x18Buckets(memoCount(emb)))
    }

  /** X18 SERVE: greedy beam search over the landed graph. Each hop is
    * a pair of partition-pruned lookups against the node layout — the
    * beam members' neighbour lists, then the unvisited candidates'
    * vectors — scored with the codegen'd fdot kernel and folded into a
    * per-query top-[[X18Beam]] window. Hop state (beam, visited) is a
    * ≤ queries×beam(×degree) frame, eagerly checkpointed per hop so the
    * iterative lineage never stacks; the per-hop `collect()`s are the
    * bounded driver reads that make the NEXT lookup file-listing-pruned
    * (the servePersisted probed-cells discipline — beam ids are
    * driver-known by construction, ≤ queries × beam rows).
    *
    * At 100 TB the walk touches H × beam × degree node blocks per query
    * batch — I/O bounded by the SEARCH, not the corpus: the property
    * that puts graph indexes on a different recall/latency frontier
    * from cell-probing (IVF reads nProbe/cells of EVERYTHING; the graph
    * reads a constant number of blocks wherever the corpus size goes).
    */
  def knnGraphBeamTopK(s: SparkSession, d: String, queries: DataFrame,
      k: Int): DataFrame =
    beamSearchGraph(s, knnGraphDir(s, d), queries, k)

  /** The beam-search serve over an arbitrary landed graph dir —
    * index-only (bucket count and entry points come from the layout's
    * sidecars, never the source table). Tolerates APPEND-SUPPLEMENT rows
    * (x18b's reverse edges: a node id re-appearing with extra `nbrs`
    * and null emb/nrm): neighbour lists union per id, vector lookups
    * keep only the vector-bearing row.
    */
  private[graft] def beamSearchGraph(s: SparkSession, dir: String,
      queries: DataFrame, k: Int, beam: Int = X18Beam,
      hops: Int = X18Hops, nEntries: Int = X18Entries,
      seeds: Option[DataFrame] = None): DataFrame = {
    val q = withNorm(s, queries, "q").localCheckpoint(true)
    topK(graphBeamWalk(s, dir, beam, hops, nEntries, seeds,
      floatScore(s, q), q.select(col("q_id"))), k)
  }

  /** The scoring-agnostic greedy walk over a landed graph layout: the
    * hop mechanics (entry/seed front, neighbour expansion through
    * partition-pruned lookups, visited anti-join, per-query beam fold,
    * eager per-hop checkpoints) factored out so the float (x18/x19/x20)
    * and SQ8-compressed (x21) serves share one loop. `score(cand,
    * nodeRows)` turns (q_id, c_id) pairs plus the looked-up node rows
    * into (q_id, c_id, sim); `qIds` is the bare query-id frame for the
    * entry cross-join. Returns the final front (≤ queries×beam rows,
    * un-ranked).
    */
  private def graphBeamWalk(s: SparkSession, dir: String, beam: Int,
      hops: Int, nEntries: Int, seeds: Option[DataFrame],
      score: (DataFrame, DataFrame) => DataFrame,
      qIds: DataFrame, keepAllScored: Boolean = false): DataFrame = {
    val lookup = nodeLookup(s, dir)
    val entryIds = {
      val src = scala.io.Source.fromFile(s"$dir/_entries.txt")
      try src.getLines().filter(_.nonEmpty).map(_.toLong).toSeq
        .take(nEntries)
      finally src.close()
    }
    def scoreOf(cand: DataFrame, ids: Seq[Long]): DataFrame =
      score(cand, lookup(ids))
    val wBeam = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("c_id"))
    // per-query seeds (the x19 layered descent) replace the global entry
    // points: the walk starts from each query's OWN upper-layer result
    var front = (seeds match {
      case Some(sd) =>
        val pairs = sd.select(col("q_id"), col("c_id")).distinct()
          .localCheckpoint(true)
        scoreOf(pairs, idsOf(pairs))
      case None =>
        scoreOf(
          qIds.crossJoin(
            broadcast(lookup(entryIds).filter(col("nrm").isNotNull)
              .select(col("id").as("c_id")).distinct())),
          entryIds)
    }).localCheckpoint(true)
    var visited = front.select(col("q_id"), col("c_id"))
      .localCheckpoint(true)
    // everything the walk ever SCORED — the Filtered-DiskANN result
    // pool (x22): navigation stays unfiltered, results come from here
    var all = front
    for (_ <- 1 to hops) {
      val beamIds = idsOf(front)
      if (beamIds.nonEmpty) {
        val nbrLists = lookup(beamIds)
          .groupBy(col("id").as("c_id"))
          .agg(array_distinct(flatten(collect_list(col("nbrs"))))
            .as("nbrs"))
        val cand = front.join(broadcast(nbrLists), "c_id")
          .select(col("q_id"), explode(col("nbrs")).as("nbr"))
          .select(col("q_id"), col("nbr").as("c_id"))
          .distinct()
          .join(visited, Seq("q_id", "c_id"), "left_anti")
          .localCheckpoint(true)
        val candIds = idsOf(cand)
        if (candIds.nonEmpty) {
          // checkpoint `scored` only when it joins the keepAllScored
          // pool (round-14 advice): the common float walk already gets
          // its single per-hop materialization from `front`'s checkpoint
          val raw = scoreOf(cand.select(col("q_id"), col("c_id")), candIds)
          val scored = if (keepAllScored) raw.localCheckpoint(true) else raw
          if (keepAllScored)
            all = all.unionByName(scored).localCheckpoint(true)
          // Aggregate-under-Window (the x7-proven safe topology; also
          // collapses a candidate reached via two beam members)
          front = front.unionByName(scored)
            .groupBy(col("q_id"), col("c_id"))
            .agg(max(col("sim")).as("sim"))
            .withColumn("_r", row_number().over(wBeam))
            .filter(col("_r") <= beam).drop("_r")
            .localCheckpoint(true)
          visited = visited.unionByName(cand).localCheckpoint(true)
        }
      }
    }
    if (keepAllScored)
      all.groupBy(col("q_id"), col("c_id")).agg(max(col("sim")).as("sim"))
    else front
  }

  /** Measured 1.00/0.98 aggregate at the registered knobs (one-off
    * sweep, 2026-08-14 testdata); floor = 0.98 − 0.13 regen slack.
    */
  private[graft] val X18Floor = 0.85

  private def x18Gate(s: SparkSession, d: String): DataFrame =
    fiveProbeGate(s, d, X18Floor)((_, q5) => knnGraphBeamTopK(s, d, q5, 10))

  // ---- X18b: incremental append into the landed k-NN graph ---------------
  /** The x11b discipline applied to the GRAPH index — the insert path
    * every production graph store needs (FreshDiskANN's core move),
    * closing the family's build → append → serve lifecycle. The base
    * corpus lands once per version; newly-arrived delta vectors are
    * INSERTED by running the index's own beam search for each one (a
    * bounded, partition-pruned read of the base graph — never a rebuild
    * or rescan): the found neighbours become the delta node's out-edges,
    * and REVERSE edges land as append-only SUPPLEMENT rows (the base
    * node's id re-appears with extra `nbrs` and null emb/nrm — base
    * files are untouched, spec-asserted byte-identical), which is what
    * makes delta nodes REACHABLE from base entry points. Serve is the
    * same [[beamSearchGraph]], which unions neighbour lists per id. At
    * 100 TB an insert costs one beam search + one file commit; edge
    * pruning on over-referenced hubs stays an offline compaction
    * decision (the x15 posture).
    */
  private[graft] def x18bBaseDelta(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(s, d)
    (emb.filter(col("vec_id") % 10 =!= 0),
      emb.filter(col("vec_id") % 10 === 0))
  }

  /** The base-corpus graph layout alone (pre-append) — split out so the
    * spec can snapshot the base file set before the append commits.
    */
  private[graft] def x18bBaseDir(s: SparkSession, d: String): String = {
    val (base, _) = x18bBaseDelta(s, d)
    Artifacts.dir(Artifacts.key("knngapnd", Tables.path(d, "embeddings"),
        X18Degree), "graft_knngapnd") { p =>
      buildGraphLayout(s, base, p, X18Degree,
        x18Buckets(memoCount(base, tag = ":gbase")))
    }
  }

  private[graft] def x18bDir(s: SparkSession, d: String): String = {
    val (_, delta) = x18bBaseDelta(s, d)
    val dir = x18bBaseDir(s, d)
    appendOnce("knngapnd_delta", d, dir) {
      // insert-by-search: each (nonzero-norm) delta vector's edges are
      // its beam-search neighbours over the BASE graph
      writeLayout(graphInsertRows(s, dir, delta,
          graphSidecarInt(dir, "_nbuckets.txt")), dir, "pb", "append")
    }
  }

  /** Runs `append` into the landed layout `dir` once per embeddings
    * version; returns `dir`.
    */
  private def appendOnce(op: String, d: String, dir: String)(
      append: => Unit): String =
    Artifacts.value(Artifacts.Key(op, Nil, Seq(dir),
        Artifacts.stamp(Tables.path(d, "embeddings")))) { append; dir }

  /** E26: STREAMING graph-index maintenance — x18b's insert-by-search as
    * a Structured Streaming sink (the e20 shape for the graph family):
    * newly-arrived vectors stream in through [[streamAppend]] (3
    * micro-batches), and each batch runs the SAME insert against the
    * graph-so-far. Unlike e20 (cell assignment is slicing-invariant, so
    * streamed ≡ batch exactly), graph insertion is ORDER-DEPENDENT by
    * nature — a later micro-batch's vectors may link to an earlier one's
    * nodes, exactly the online-graph property (FreshDiskANN serves while
    * inserting) — so the gate is the family's recall floor over the
    * deterministic staged order, not row-equality with x18b. At 100 TB
    * a batch costs one beam search per arriving vector (bounded,
    * partition-pruned reads) plus one file commit; no rebuild, no
    * rescan, hub pruning stays offline compaction.
    */
  private[graft] def e26LayoutDir(s: SparkSession, d: String): String = {
    val (base, delta) = x18bBaseDelta(s, d)
    val dir = Artifacts.dir(Artifacts.key("knngstrm",
        Tables.path(d, "embeddings"), X18Degree), "graft_knngstrm") { p =>
      buildGraphLayout(s, base, p, X18Degree,
        x18Buckets(memoCount(base, tag = ":gbase")))
    }
    appendOnce("knngstrm_delta", d, dir) {
      val nb = graphSidecarInt(dir, "_nbuckets.txt")
      streamAppend(s, "knngstrm", delta, dir, "pb")(
        graphInsertRows(s, dir, _, nb))
    }
  }

  /** e26 measured 1.00/0.98 (RecallProbe) — the micro-batched insert
    * order costs nothing on this corpus; floor = min − 0.13.
    */
  private[graft] val E26Floor = 0.85

  private def e26Gate(s: SparkSession, d: String): DataFrame =
    fiveProbeGate(s, d, E26Floor)((_, q5) =>
      beamSearchGraph(s, e26LayoutDir(s, d), q5, 10))

  /** Measured 1.00/0.98 aggregate vs exact FULL-corpus top-k
    * (RecallProbe, 2026-08-14 testdata) — identical to the full-build
    * x18, i.e. the reverse-edge supplements make appended vectors as
    * findable as built ones; floor = 0.98 − 0.13 regen slack.
    */
  private[graft] val X18bFloor = 0.85

  /** The x18b delta insert over one vector batch against the CURRENT
    * graph in `dir`: out-edges = the batch's beam-search neighbours,
    * reverse edges as supplement rows. Shared by the batch append and
    * the e26 streaming sink (whose micro-batches may link to earlier
    * micro-batches' nodes — the online-graph property).
    */
  private def graphInsertRows(s: SparkSession, dir: String,
      batch: DataFrame, nb: Int): DataFrame = {
    val found = beamSearchGraph(s, dir,
        batch.filter(VecOps.fnorm(s, col("embedding")) > 0), X18Degree)
      .select(col("q_id"), col("c_id")).localCheckpoint(true)
    val deltaRows = batch
      .select(col("vec_id").as("id"), col("embedding").as("emb"),
        VecOps.fnorm(s, col("embedding")).as("nrm"))
      .join(found.groupBy(col("q_id").as("id"))
        .agg(sort_array(collect_set(col("c_id"))).as("nbrs")),
        Seq("id"), "left")
      .select(col("id"), col("emb"), col("nrm"), nbrsOrEmpty, nodeBlock(nb))
    val reverseRows = found
      .groupBy(col("c_id").as("id"))
      .agg(sort_array(collect_set(col("q_id"))).as("nbrs"))
      .select(col("id"), lit(null).cast("array<float>").as("emb"),
        lit(null).cast("double").as("nrm"), col("nbrs"), nodeBlock(nb))
    deltaRows.unionByName(reverseRows)
  }

  private def x18bGate(s: SparkSession, d: String): DataFrame =
    fiveProbeGate(s, d, X18bFloor)((_, q5) =>
      beamSearchGraph(s, x18bDir(s, d), q5, 10))

  // ---- X19: hierarchical (HNSW-style) layered graph serve ----------------
  /** Layer thinning base: level ≥ l holds the nodes whose seeded xxhash64
    * is divisible by 8^l — a deterministic stand-in for HNSW's geometric
    * level sampling (Malkov–Yashunin 2016) that makes the layers NESTED
    * by construction (h % 64 = 0 ⇒ h % 8 = 0), so an upper-layer result
    * is always a valid seed one layer down.
    */
  private[graft] val X19LayerBase = 8L
  private[graft] val X19SeedsPerLayer = 8
  private[graft] val X19Beam = 32
  private[graft] val X19Hops = 4

  /** The landed upper layers (layer 1 = 1/8 of nodes at degree 8,
    * layer 2 = 1/64 at degree 4), each a [[buildGraphLayout]] graph over
    * its thinned corpus; the base layer is x18's full graph — SHARED via
    * [[knnGraphDir]], so x18 and x19 amortize one degree-16 build per
    * corpus version. A layer under 4 nodes is skipped (tiny-corpus
    * degradation: the descent then starts one layer down, and with no
    * layers at all the serve falls back to x18's global entries). The
    * `_layers.txt` sidecar freezes the descent order so serving never
    * probes for which layers exist.
    */
  private[graft] def x19LayersDir(s: SparkSession, d: String): String =
    Artifacts.dir(Artifacts.key("hnswlayers", Tables.path(d, "embeddings")),
      "graft_hnsw") { dir =>
      val emb = Tables.embeddings(s, d)
      def level(div: Long) =
        pmod(xxhash64(col("vec_id"), lit("x19")), lit(div)) === 0
      val layers = scala.collection.mutable.ArrayBuffer.empty[String]
      def land(sub: String, corpus: DataFrame, degree: Int): Unit =
        if (corpus.limit(4).count() >= 4) {
          buildGraphLayout(s, corpus, s"$dir/$sub", degree, 8)
          layers += sub
        }
      land("layer2", emb.filter(level(X19LayerBase * X19LayerBase)), 4)
      land("layer1", emb.filter(level(X19LayerBase)), 8)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/_layers.txt"),
        layers.mkString("\n").getBytes("UTF-8"))
    }

  /** X19 SERVE: the HNSW descent — greedy beam search on the sparsest
    * layer from ITS frozen entries, each layer's per-query top
    * [[X19SeedsPerLayer]] results seeding the next layer down (the
    * [[beamSearchGraph]] `seeds` path), finishing with the full-precision
    * walk on the shared base graph. Hierarchy replaces x18's global
    * entry points with per-query entries already NEAR the answer, which
    * is what keeps base-layer hops at [[X19Hops]] instead of growing
    * with corpus diameter: upper layers shrink 8× per level, so descent
    * depth — and with it total hop count — is O(log n) while every hop
    * stays a partition-pruned bounded lookup. At 100 TB that logarithmic
    * entry selection is the difference between a constant-hop serve and
    * a walk across the corpus (the HNSW argument, verbatim).
    */
  def hnswTopK(s: SparkSession, d: String, queries: DataFrame,
      k: Int): DataFrame = {
    val root = x19LayersDir(s, d)
    val base = knnGraphDir(s, d)
    val layerSubs = {
      val src = scala.io.Source.fromFile(s"$root/_layers.txt")
      try src.getLines().filter(_.nonEmpty).toList finally src.close()
    }
    var seeds: Option[DataFrame] = None
    for (sub <- layerSubs) {
      val res = beamSearchGraph(s, s"$root/$sub", queries,
        k = X19SeedsPerLayer, beam = 8, hops = 2, nEntries = 2,
        seeds = seeds)
      seeds = Some(res.select(col("q_id"), col("c_id")))
    }
    beamSearchGraph(s, base, queries, k,
      beam = X19Beam, hops = X19Hops, seeds = seeds)
  }

  /** Measured 1.00/0.90 aggregate at the registered knobs (RecallProbe,
    * 2026-08-16; seeds-per-layer 8, base hops 4 — the 4-seed/3-hop
    * descent sat at 0.80 on sf0.1's routing-diffuse corpus); floor =
    * 0.90 − 0.13 regen slack.
    */
  private[graft] val X19Floor = 0.77

  private def x19Gate(s: SparkSession, d: String): DataFrame =
    fiveProbeGate(s, d, X19Floor)((_, q5) => hnswTopK(s, d, q5, 10))

  // ---- X20: graph-index compaction ----------------------------------------
  /** Degree cap after compaction: 1.5× the build degree — reverse edges
    * and append supplements legitimately push nodes past [[X18Degree]];
    * the cap prunes only genuine hubs (keeping their NEAREST neighbours,
    * the DiskANN/FreshDiskANN robust-prune posture made deterministic by
    * (sim desc, id) ordering).
    */
  private[graft] val X20MaxDegree = 24

  /** X20: COMPACTION of the appended graph — the offline maintenance leg
    * that completes the graph family's lifecycle symmetrically with the
    * quantizer family's (x11b append → x15 compact): x18b's append
    * protocol accumulates SUPPLEMENT rows (a node id re-appearing with
    * extra `nbrs`) and lets hub degrees grow unboundedly; serving pays a
    * per-id merge forever and hub lookups widen every walk. Compaction
    * rewrites the layout to exactly ONE row per node (supplements folded
    * in), prunes every over-degree neighbour list to its [[X20MaxDegree]]
    * NEAREST members (scored by the codegen fdot kernel — the
    * FreshDiskANN merge/prune), and preserves the sidecar serve contract
    * (entries + bucket count), so [[beamSearchGraph]] runs unchanged.
    *
    * At 100 TB this is the scheduled index-maintenance job: one shuffle
    * of the slim edge list keyed by neighbour id to fetch vectors, one
    * per-node top-degree window above the merge aggregate, one
    * partitioned rewrite — cost linear in edges, never a rebuild of the
    * k-NN structure itself (pruning REMOVES edges; it never re-searches).
    */
  private[graft] def x20CompactDir(s: SparkSession, d: String): String =
    Artifacts.dir(Artifacts.key("graphcompact", Tables.path(d, "embeddings")),
      "graft_gcompact") { dir =>
      val srcDir = x18bDir(s, d)
      val nb = graphSidecarInt(srcDir, "_nbuckets.txt")
      val merged = Artifacts.read(s, srcDir)
        .groupBy(col("id"))
        .agg(first(col("emb"), ignoreNulls = true).as("emb"),
          first(col("nrm"), ignoreNulls = true).as("nrm"),
          array_distinct(flatten(collect_list(col("nbrs")))).as("nbrs"))
        .localCheckpoint(true)
      val vecs = merged.select(col("id").as("nbr"),
        col("emb").as("n_emb"), col("nrm").as("n_nrm"))
      val w = Window.partitionBy(col("id"))
        .orderBy(col("sim").desc, col("nbr"))
      val pruned = merged
        .select(col("id"), col("emb"), col("nrm"),
          explode(col("nbrs")).as("nbr"))
        .join(vecs, "nbr")
        .select(col("id"), col("nbr"),
          (VecOps.fdot(s, col("emb"), col("n_emb")) /
            (col("nrm") * col("n_nrm"))).as("sim"))
        .withColumn("_r", row_number().over(w))
        .filter(col("_r") <= X20MaxDegree)
        .groupBy(col("id"))
        .agg(sort_array(collect_list(col("nbr"))).as("nbrs"))
      // isolated nodes (empty lists) fall out of the explode — join back
      writeLayout(merged.select(col("id"), col("emb"), col("nrm"))
        .join(pruned, Seq("id"), "left")
        .select(col("id"), col("emb"), col("nrm"), nbrsOrEmpty,
          nodeBlock(nb)), dir, "pb")
      copySidecars(srcDir, dir)
    }

  /** Measured 1.00/0.98 aggregate serving from the compacted layout
    * (RecallProbe, 2026-08-16) — identical to x18b's uncompacted serve,
    * i.e. the prune kept every edge the walk needed; floor = 0.98 − 0.13
    * regen slack.
    */
  private[graft] val X20Floor = 0.85

  private def x20Gate(s: SparkSession, d: String): DataFrame =
    fiveProbeGate(s, d, X20Floor)((_, q5) =>
      beamSearchGraph(s, x20CompactDir(s, d), q5, 10))

  // ---- X21: SQ8-compressed graph serving -----------------------------------
  /** The COMPRESSED graph layout: x18's landed graph with every node
    * vector replaced by its SQ8 code + per-vector (min, step) qparams —
    * the same kernel arithmetic x5 quantizes with, so scoring
    * reconstructs the identical approximate dot. 4× smaller node
    * blocks; edges and sidecars unchanged. Built FROM the landed float
    * graph (one map over the index, never a corpus re-search), so x18 /
    * x21 share one k-NN build per corpus version.
    */
  private[graft] def x21Sq8Dir(s: SparkSession, d: String): String =
    Artifacts.dir(Artifacts.key("graphsq8", Tables.path(d, "embeddings")),
      "graft_gsq8") { dir =>
      val src = knnGraphDir(s, d)
      writeLayout(Artifacts.read(s, src).select(Seq(col("id")) ++
          sq8Codes(s, col("emb")).map { case (n, c) => c.as(n) } ++
          Seq(col("nrm"), col("nbrs"), col("pb")): _*), dir, "pb")
      copySidecars(src, dir)
    }

  /** X21: the DiskANN serving architecture proper — WALK on compressed
    * codes, RERANK the finalists exactly: every hop of the greedy beam
    * search scores candidates from their SQ8 codes (vmin·Σq + step·qdot8,
    * the x5 reconstruction, all codegen), so the navigation I/O is 4×
    * smaller than the float walk's; only the FINAL front (≤ queries×beam
    * rows) touches full-precision vectors, via one partition-pruned
    * lookup of the float layout. At 100 TB this is what makes graph
    * serving memory-feasible: the hot navigation working set is codes,
    * floats stay cold on disk and are read ≤ beam rows per query —
    * DiskANN's split verbatim (Jayaram Subramanya et al. 2019).
    */
  def graphSq8TopK(s: SparkSession, d: String, queries: DataFrame,
      k: Int): DataFrame = {
    val codesDir = x21Sq8Dir(s, d)
    val floatDir = knnGraphDir(s, d)
    val qk = withNorm(s, queries, "q", qSum)
      .filter(col("q_norm") > 0)
      .localCheckpoint(true)
    val front = graphBeamWalk(s, codesDir, X18Beam, X18Hops, X18Entries,
      None,
      (cand, nodeRows) => {
        val cn = nodeRows.filter(col("nrm").isNotNull && col("nrm") > 0)
          .select(col("id").as("c_id"), col("qb"), col("vmin"),
            col("step"), col("nrm").as("c_norm"))
        cand.join(broadcast(cn), "c_id").join(broadcast(qk), "q_id")
          .filter(col("q_id") =!= col("c_id"))
          .select(col("q_id"), col("c_id"), sq8Sim(s).as("sim"))
      },
      qk.select(col("q_id")))
    // exact rerank of the beam finalists against the float layout —
    // ids are driver-known (≤ queries×beam), so the read is
    // partition-pruned exactly like a serve hop
    val cn = floatNodes(nodeLookup(s, floatDir)(idsOf(front)))
    topK(front.select(col("q_id"), col("c_id"))
      .join(broadcast(cn), "c_id").join(broadcast(qk), "q_id")
      .select(col("q_id"), col("c_id"), qcSim(s).as("sim")), k)
  }

  /** Measured 1.00/0.98 aggregate (RecallProbe, 2026-08-16) — the SQ8
    * walk navigates like the float walk (sub-1% code error) and the
    * finalist rerank is exact; floor = 0.98 − 0.13 regen slack.
    */
  private[graft] val X21Floor = 0.85

  private def x21Gate(s: SparkSession, d: String): DataFrame =
    fiveProbeGate(s, d, X21Floor)((_, q5) => graphSq8TopK(s, d, q5, 10))

  // ---- X22: filtered graph search ------------------------------------------
  /** The labeled graph layout: x18's landed graph with the filterable
    * label joined in as an index column (the x17 lesson — filter
    * metadata lives IN the index). One broadcast join over the landed
    * layout; the k-NN build stays shared.
    */
  private[graft] def x22LabeledDir(s: SparkSession, d: String): String =
    Artifacts.dir(Artifacts.key("graphlbl", Tables.path(d, "embeddings")),
      "graft_glbl") { dir =>
      val src = knnGraphDir(s, d)
      val lbl = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("label").as("lbl"))
      writeLayout(Artifacts.read(s, src).join(broadcast(lbl), Seq("id"), "left")
        .select(col("id"), col("emb"), col("nrm"), col("lbl"),
          col("nbrs"), col("pb")), dir, "pb")
      copySidecars(src, dir)
    }

  /** X22: FILTERED search on the graph index — the graph family's
    * x10b/x17 (Filtered-DiskANN, Gollapudi et al. 2023): at ~10% label
    * selectivity, post-filtering the beam front strands most queries
    * (a 32-wide front holds ~3 matching rows), and filtering NAVIGATION
    * strands the walk (same-label nodes are not mutually navigable). The
    * production answer is to navigate UNFILTERED and collect results
    * from everything the walk SCORES — [[graphBeamWalk]]'s
    * `keepAllScored` pool (hops×beam×degree candidates, ~40% of this
    * corpus; a constant fraction of the walk's I/O, not of the corpus) —
    * then apply the label at the result step via one partition-pruned
    * label lookup of the scored ids (driver-known, bounded). At 100 TB
    * the pool stays walk-sized while the corpus grows, which is what
    * makes graph-filtered serving viable where a widened post-filter
    * beam would have to scale with 1/selectivity.
    */
  def graphFilteredTopK(s: SparkSession, d: String, queries: DataFrame,
      k: Int): DataFrame = {
    val dir = x22LabeledDir(s, d)
    val qk = withNorm(s, queries, "q", col("label").as("q_label"))
      .filter(col("q_norm") > 0)
      .localCheckpoint(true)
    // wider walk than the unfiltered serve: the result pool must hold
    // ~1/selectivity × k same-label candidates, so the filtered family
    // trades beam/hops/entries up (a one-off sweep: 32/4/8 pooled
    // 0.96/0.76; 48/5/16 reaches 0.98/0.94)
    val scoredAll = graphBeamWalk(s, dir, beam = 48, hops = 5,
      nEntries = 16, None,
      floatScore(s, qk.select(col("q_id"), col("q_emb"), col("q_norm"))),
      qk.select(col("q_id")), keepAllScored = true)
    val lbls = nodeLookup(s, dir)(idsOf(scoredAll))
      .filter(col("nrm").isNotNull)
      .select(col("id").as("c_id"), col("lbl"))
    topK(scoredAll.join(broadcast(lbls), "c_id")
      .join(broadcast(qk.select(col("q_id"), col("q_label"))), "q_id")
      .filter(col("lbl") === col("q_label"))
      .select(col("q_id"), col("q_label").as("label"), col("c_id"),
        col("sim")), k)
  }

  /** Raw x22 builder on the 5-probe set (fixture-pinned). */
  private[graft] def x22FilteredTopK(s: SparkSession, d: String): DataFrame =
    graphFilteredTopK(s, d,
        Tables.embeddings(s, d).filter(col("vec_id") < 5), 10)
      .select(col("q_id"), col("rank"), col("label"), col("c_id"),
        col("sim"))
      .orderBy(col("q_id"), col("rank"))

  /** Measured 0.98/0.94 aggregate vs exact FILTERED top-k (RecallProbe,
    * 2026-08-16; above x10b's 0.84 IVF counterpart); floor = 0.94 − 0.13
    * regen slack.
    */
  private[graft] val X22Floor = 0.81

  private def x22Gate(s: SparkSession, d: String): DataFrame =
    fiveProbeGate(s, d, X22Floor, filtered = true)((_, q5) =>
      graphFilteredTopK(s, d, q5, 10))

  // ---- X11b: incremental append into the persisted index -----------------
  /** The x11b base/delta split and the base-fitted quantizer — shared by
    * the build, append, and serve stages (all memoized per corpus
    * version through the `:base` family).
    */
  private def x11bState(s: SparkSession, d: String)
      : (DataFrame, DataFrame, IvfFit) = {
    val emb = Tables.embeddings(s, d)
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    (base, emb.filter(col("vec_id") % 10 === 0), ivfFit(base, tag = ":base"))
  }

  /** The exact frame the append job lands: delta rows only, assigned to
    * the BASE-fitted cells. Exposed for the spec that pins the append
    * contract — its plan reads the delta alone (one file relation, the
    * `% 10 = 0` filter pushed), never a union with the base.
    */
  private[graft] def x11bDeltaFrame(s: SparkSession, d: String): DataFrame = {
    val (_, delta, fit) = x11bState(s, d)
    assignedForLanding(s, delta, fit)
  }

  /** Build-and-append: lands the base layout once per version, then
    * commits the assigned delta as new files inside the existing cell
    * partitions — also once per version. Returns the layout dir.
    */
  private[graft] def x11bLayoutDir(s: SparkSession, d: String): String = {
    val (base, _, fit) = x11bState(s, d)
    val dir = cellLayoutDir(d, "ivfapnd")(assignedForLanding(s, base, fit))
    appendOnce("ivfapnd_delta", d, dir) {
      // the append job's ONLY data-sized input is the delta scan — one
      // map-only assignment, one file commit into existing partitions
      writeLayout(x11bDeltaFrame(s, d), dir, "cell", "append")
    }
  }

  /** X11b: incremental append INTO the persisted index — x11's no-refit
    * delta assignment composed with x12's partition-pruned serving
    * layout, closing the gap between the two (round-10 verdict: x11's
    * in-memory union still re-assigned the BASE on every search). Build:
    * the base corpus lands once per version under `partitionBy(cell)`
    * with the quantizer fitted on it (shared `:base` memo family with
    * x11). Append: ONLY the delta is scanned and assigned map-side — its
    * rows commit as NEW files inside the existing cell partitions; the
    * base's files are untouched (spec-asserted byte-for-byte: same file
    * set, sizes, and mtimes before/after the append). Serve: the same
    * partition-pruned scan as x12 over base+delta files. At 100 TB this
    * is the production append: a day's vectors cost one map-only job
    * over the delta plus a file commit — the index is never rebuilt,
    * rescanned, or reshuffled; quantizer refit stays an offline
    * compaction decision.
    */
  def ivfAppendedTopK(s: SparkSession, d: String, queries: DataFrame,
      k: Int): DataFrame = {
    val (_, _, fit) = x11bState(s, d)
    if (fit.cents.isEmpty)
      return bruteForceTopK(Tables.embeddings(s, d), queries, k)
    servePersisted(s, x11bLayoutDir(s, d), queries, fit, fit.probe, k)
  }

  // ---- E20: STREAMING index maintenance -----------------------------------
  /** The x11b append job as a Structured Streaming sink — online vector
    * ingest. Newly-arrived delta vectors stream in through
    * [[streamAppend]] (3 micro-batches), and each batch runs the SAME
    * map-side cell assignment the batch append uses and commits new
    * files into the existing `partitionBy(cell)` layout. foreachBatch
    * itself is AT-LEAST-ONCE (a failed-then-retried micro-batch re-runs
    * the sink), so the replay-safe commit protocol makes a replayed
    * batchId converge on the same file set instead of duplicating delta
    * rows, which keeps both the served top-k AND the file-snapshot
    * contract exact under retry. The index is a SET of assigned rows,
    * invariant to micro-batch slicing, so the served candidates are
    * IDENTICAL to x11b's batch append (spec-asserted) and the same
    * recall floor gates it. At 100 TB this is the production online-
    * ingest shape: a stream of new embeddings costs one map-only
    * assignment per batch plus a file commit into existing partitions —
    * no refit, no rescan, no shuffle of the base; quantizer refit stays
    * an offline compaction decision (x12's note).
    */
  private[graft] def e20LayoutDir(s: SparkSession, d: String): String = {
    val (base, delta, fit) = x11bState(s, d)
    val dir = cellLayoutDir(d, "ivfstrm")(assignedForLanding(s, base, fit))
    appendOnce("ivfstrm_delta", d, dir) {
      streamAppend(s, "ivfstrm", delta, dir, "cell")(
        assignedForLanding(s, _, fit))
    }
  }

  def ivfStreamedTopK(s: SparkSession, d: String, queries: DataFrame,
      k: Int): DataFrame = {
    val (_, _, fit) = x11bState(s, d)
    if (fit.cents.isEmpty)
      return bruteForceTopK(Tables.embeddings(s, d), queries, k)
    servePersisted(s, e20LayoutDir(s, d), queries, fit, fit.probe, k)
  }

  // ---- X16: persisted IVF+PQ index (codes on disk) ------------------------
  /** The billion-scale ON-DISK layout: x12's partition-pruned serving
    * composed with x9's product quantization — the landed cell layout
    * stores (c_id, c_norm, 8-byte PQ codes) instead of float vectors, so
    * the INDEX bytes shrink 32× (at 10⁹ vectors: ~8 GB of codes vs
    * 256 GB of floats; the full vectors stay only in the base table,
    * touched per query for just k·expand candidate rows — the
    * DiskANN/IVFPQ serving economics). Serve: static partition-pruned
    * scan of the probed cells (file-listing-level skipping), ADC scoring
    * against each query's broadcast m×ks lookup table (no float
    * arithmetic touches index rows), top k·expand per query, exact float
    * rerank by id against the base table. Fit chain (centroids, spill
    * threshold, codebooks) shares the per-corpus-version memos with
    * x4/x9; the layout lands once per version like x12.
    */
  def ivfPqPersistedTopK(s: SparkSession, d: String, queries: DataFrame,
      k: Int): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val fit = ivfFit(emb)
    if (fit.cents.isEmpty) return bruteForceTopK(emb, queries, k)
    val books = pqBooks(emb, memoUnitSample(emb, PqFitSample))
    val dir = cellLayoutDir(d, "ivfpq") {
      val pre = emb.select(col("vec_id"), col("embedding"),
          VecOps.fnorm(s, col("embedding")).as("_n"))
        .filter(col("_n") > 0)
      spillAssigned(s, pre, fit.cents, Seq(
          "c_norm" -> col("_n"), "codes" -> pqCodes(s, "_n", books)),
        fit.margin)
    }
    // shared probed-cell memo (the d13 build-cost class): x16 was the one
    // persisted serve still collecting the probe plan per fresh build
    val (cells, probes) = probedLayout(s, dir, queries, fit, fit.probe, Nil)
    val qlut = queries.select(col("vec_id").as("q_id"),
      VecOps.pqLut(s, col("embedding"), books).as("lut"))
    val approx = cells
      .join(broadcast(probes
        .select(col("q_id"), col("cell"), col("q_norm"))), "cell")
      .join(broadcast(qlut), "q_id")
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        (VecOps.pqAdc(s, col("codes"), col("lut")) / col("q_norm"))
          .as("approx_sim"))
      // spill dedup — and the Aggregate-under-Window safe topology
      .groupBy(col("q_id"), col("c_id"))
      .agg(max(col("approx_sim")).as("approx_sim"))
    rerankExact(s, emb, queries, approx, k, PqExpand)
  }

  /** x16's recall ceiling is the IVF routing (x4's family — PQ at
    * expand=32 within probed cells is near-exact, x9's measurement), so
    * x4's floor gates it.
    */
  private[graft] val X16Floor = X4Floor
  private def x16Gate(s: SparkSession, d: String): DataFrame =
    fiveProbeGate(s, d, X16Floor)((emb, q5) =>
      ivfPqPersistedTopK(s, d, q5, 10))

  // ---- X15: offline index compaction / refit ------------------------------
  /** X15: OFFLINE COMPACTION of the appended IVF index — the step x11's
    * scaladoc defers to ("refit is an offline compaction decision") and
    * the last leg of the index lifecycle: build (x12) → batch append
    * (x11b) → streaming append (e20) → COMPACT (x15). Input is the
    * appended LAYOUT, not the source table — compaction is an index-side
    * maintenance job that must not rescan the warehouse: the corpus is
    * RECOVERED from the layout's files by collapsing boundary-spill
    * duplicates (spill copies are byte-identical, so `dropDuplicates` on
    * the id is value-deterministic), the coarse quantizer REFITS on the
    * recovered corpus (same deterministic xxhash64-ranked sample order as
    * every other fit, memoized per layout version), every row is
    * reassigned map-side with a fresh spill threshold, and a new
    * `partitionBy(cell)` layout lands with one file run per cell —
    * erasing both the base/delta file split and the centroid drift the
    * no-refit appends accumulated. Serve is the same partition-pruned
    * scan as x12. At 100 TB: one read of the index files + one map-only
    * reassignment + one shuffle-by-cell write, amortized per layout
    * version and scheduled by a drift policy (e.g. delta > ~30% of
    * base), never per append or per query.
    */
  private[graft] def x15State(s: SparkSession, d: String)
      : (String, IvfFit) = {
    val recovered = Artifacts.read(s, x11bLayoutDir(s, d))
      // c_label rides through so the compacted layout keeps the
      // filterable metadata (assignedForLanding expects `label`)
      .select(col("c_id").as("vec_id"), col("c_emb").as("embedding"),
        col("c_label").as("label"))
      .dropDuplicates("vec_id")
    val fit = ivfFit(recovered, tag = ":compact")
    if (fit.cents.isEmpty) return ("", fit)
    (cellLayoutDir(d, "ivfcomp")(assignedForLanding(s, recovered, fit)), fit)
  }

  def ivfCompactedTopK(s: SparkSession, d: String, queries: DataFrame,
      k: Int): DataFrame = {
    val (dir, fit) = x15State(s, d)
    if (fit.cents.isEmpty)
      return bruteForceTopK(Tables.embeddings(s, d), queries, k)
    servePersisted(s, dir, queries, fit, fit.probe, k)
  }

  /** x15 refits on the FULL recovered corpus, so its recall family is
    * x4's full-refit family; the gate additionally fails on a lossy
    * recovery (dropped or duplicated ids shift the candidate pool).
    */
  private[graft] val X15Floor = X4Floor
  private def x15Gate(s: SparkSession, d: String): DataFrame =
    fiveProbeGate(s, d, X15Floor)((emb, q5) => ivfCompactedTopK(s, d, q5, 10))

  /** Measured storage expansion of boundary spill (RecallProbe): spilled
    * assignment rows / corpus rows at the auto geometry.
    */
  private[graft] def spillExpansion(corpus: DataFrame): Double = {
    val fit = ivfFit(corpus)
    if (fit.cents.isEmpty) 1.0
    else spillAssigned(corpus.sparkSession, corpus, fit.cents, Nil,
      fit.margin).count().toDouble / memoCount(corpus)
  }

  // ---- Approximate score + exact rerank ----------------------------------
  /** The exact rerank shared by the quantized serves (SQ8, IVF-SQ8, PQ,
    * IVF-PQ): `approx` (q_id, c_id, approx_sim) keeps its top k·expand
    * per query, and those candidates are rescored EXACTLY against the
    * float corpus by id — the candidate list is tiny, so it broadcasts
    * onto one corpus scan and the corpus never shuffles.
    */
  private def rerankExact(s: SparkSession, corpus: DataFrame,
      queries: DataFrame, approx: DataFrame, k: Int,
      expand: Int): DataFrame = {
    val wA = Window.partitionBy(col("q_id"))
      .orderBy(col("approx_sim").desc, col("c_id"))
    val cands = approx.withColumn("r", row_number().over(wA))
      .filter(col("r") <= k * expand)
      .select(col("q_id"), col("c_id"))
    topK(withNorm(s, corpus, "c")
      .join(broadcast(cands), "c_id")
      .join(broadcast(withNorm(s, queries, "q")), "q_id")
      .select(col("q_id"), col("c_id"), qcSim(s).as("sim")), k)
  }

  /** SQ8 code columns of the float vector `v`: (vmin, step) come from the
    * SAME kernel arithmetic the codes are quantized with
    * (VecKernels.qparams8) — a column-side (max−min)/255 recomputation
    * promotes to double and can double-round a step the byte codes
    * weren't built against.
    */
  private def sq8Codes(s: SparkSession, v: Column): Seq[(String, Column)] = {
    val qp = VecOps.qparams8(s, v)
    Seq("vmin" -> element_at(qp, 1).cast("double"),
      "step" -> element_at(qp, 2).cast("double"),
      "qb" -> VecOps.quantize8(s, v))
  }

  /** The query's element sum, the Σq term of the SQ8 dot reconstruction;
    * an interpreted HOF is fine here, the query side is a handful of rows.
    */
  private def qSum: Column =
    aggregate(col("embedding"), lit(0.0),
      (a, x) => a + x.cast("double")).as("q_sum")

  /** Cosine reconstructed from SQ8 codes: dot(x,y) ≈ min·Σy +
    * step·Σ(q_i·y_i), the second sum the codegen qdot8 kernel.
    */
  private def sq8Sim(s: SparkSession): Column =
    (col("vmin") * col("q_sum") +
      col("step") * VecOps.qdot8(s, col("qb"), col("q_emb"))) /
      (col("c_norm") * col("q_norm"))

  // ---- X5: SQ8 scalar-quantized top-k ------------------------------------
  /** Rerank width of the SQ8 serves: SQ8 error is sub-1% of the
    * similarity scale, so a 4× expand makes recall@k near-1.
    */
  private val Sq8Expand = 4

  /** The storage-side ANN path: the corpus rides as 8-bit codes (4× less
    * I/O and memory than float32 — at 100 TB of embeddings the scan IS
    * the cost), queries stay float. Score phase reconstructs the dot
    * product from the codes ([[sq8Sim]]), takes the top k·expand
    * candidates per query, then reranks them EXACTLY against the float
    * corpus ([[rerankExact]]). SQ8 error is sub-1% of the similarity
    * scale, so recall@k with a 4× expand is near-1 (spec-asserted ≥ 0.9
    * vs brute force).
    */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val s = corpus.sparkSession
    val c = corpus.select(Seq(col("vec_id").as("c_id"),
        VecOps.fnorm(s, col("embedding")).as("c_norm")) ++
        sq8Codes(s, col("embedding")).map { case (n, c) => c.as(n) }: _*)
      .filter(col("c_norm") > 0)
    val approx = c.crossJoin(broadcast(withNorm(s, queries, "q", qSum)))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), sq8Sim(s).as("approx_sim"))
    rerankExact(s, corpus, queries, approx, k, Sq8Expand)
  }

  // ---- X8: IVF-SQ composed index -----------------------------------------
  /** The standard billion-vector layout: IVF coarse cells bound WHICH
    * rows are scored (probe nProbe/nCells of the corpus) and SQ8 codes
    * bound HOW MUCH is read per row (4× less scan I/O than float32),
    * with an exact float rerank of the top k·expand survivors. x4 and
    * x5 exist as the independently-tested halves; this is their
    * composition — at 10⁹ vectors the probed fraction × quantized
    * bytes is what makes the scan affordable, and the rerank touches
    * only candidate rows by id.
    *
    * Plan shape: one corpus scan computes (cell, codes, qparams, norm)
    * — all codegen kernels; probes broadcast; the approximate score is
    * the same reconstructed dot as [[sq8TopK]]; the rerank joins the
    * tiny candidate list back onto the float corpus by id (broadcast),
    * so the corpus never shuffles in either phase.
    */
  def ivfSq8TopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val s = corpus.sparkSession
    val fit = ivfFit(corpus)
    if (fit.cents.isEmpty) return bruteForceTopK(corpus, queries, k)
    // spill-assigned like ivfSearch — the SQ8 payload (codes + qparams)
    // rides the explode instead of the float embedding
    val assigned = spillAssigned(s, corpus, fit.cents,
        ("c_norm" -> VecOps.fnorm(s, col("embedding"))) +:
          sq8Codes(s, col("embedding")), fit.margin)
      .filter(col("c_norm") > 0)
    val probes = queryProbes(s, queries, fit.cents, fit.probe, Seq(qSum))
    val approx = assigned.join(broadcast(probes), "cell")
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), sq8Sim(s).as("approx_sim"))
      // spill dedup (identical scores; Aggregate-under-Window topology)
      .groupBy(col("q_id"), col("c_id"))
      .agg(max(col("approx_sim")).as("approx_sim"))
    rerankExact(s, corpus, queries, approx, k, Sq8Expand)
  }

  /** x8 shares x4's routing (and so its spill lift) — measured with
    * spill 0.52/0.74; floor = x4's.
    */
  private[graft] val X8Floor = 0.39
  private def x8Gate(s: SparkSession, d: String): DataFrame =
    fiveProbeGate(s, d, X8Floor)((emb, q5) =>
      ivfSq8TopK(emb, q5, 10))

  // ---- X9: product-quantized top-k (ADC) ---------------------------------
  /** PQ shape: m = 8 sub-spaces of ks = 16 sub-centroids each, fitted on
    * a 4096-vector unit sample; 32× rerank expand (see [[pqTopK]]).
    */
  private val PqM = 8
  private val PqKs = 16
  private val PqFitSample = 4096
  private val PqExpand = 32

  /** The memory-floor ANN path: the corpus rides as m PQ code bytes per
    * vector (m=8 over dim=64 → 8 bytes, 32× below float32 and 8× below
    * SQ8 — at 10⁹ vectors the whole index fits ~8 GB where floats need
    * 256 GB). Codebooks are per-subspace Lloyd fits over the same
    * bounded driver sample IVF uses; the corpus is encoded map-only on
    * its UNIT vectors (so the reconstructed dot approximates cosine
    * directly). Scoring is asymmetric-distance (ADC): each query builds
    * an m×ks lookup table of sub-dot-products once ([[graft.functions.PqLut]],
    * broadcast-tiny side), and the corpus side sums m table lookups per
    * row ([[graft.functions.PqAdcDot]], codegen — no float arithmetic
    * touches corpus rows in the approximate phase). Top k·expand
    * candidates then rerank EXACTLY against the float corpus by id,
    * same as SQ8/IVF-SQ — the corpus never shuffles in either phase.
    *
    * PQ's subspace independence loses more signal than SQ8's per-vector
    * scaling, so the expand factor is wider (32×) and the gate floor
    * sits under the RecallProbe minima, not at SQ8's near-1. Widening
    * expand is the free recall lever here: the ADC phase scans the full
    * corpus either way, and the exact rerank stays bounded at
    * k·expand·|queries| rows — standard practice is 10-100×.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val s = corpus.sparkSession
    val sampleUnit = memoUnitSample(corpus, PqFitSample)
    if (sampleUnit.isEmpty) return bruteForceTopK(corpus, queries, k)
    val books = pqBooks(corpus, sampleUnit)
    val c = corpus
      .select(col("vec_id").as("c_id"), col("embedding"),
        VecOps.fnorm(s, col("embedding")).as("c_norm"))
      .filter(col("c_norm") > 0)
      .select(col("c_id"), col("c_norm"),
        pqCodes(s, "c_norm", books).as("codes"))
    val q = withNorm(s, queries, "q",
      VecOps.pqLut(s, col("embedding"), books).as("lut"))
    val approx = c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        (VecOps.pqAdc(s, col("codes"), col("lut")) / col("q_norm"))
          .as("approx_sim"))
    rerankExact(s, corpus, queries, approx, k, PqExpand)
  }

  /** PQ codebooks over the unit `sample`, following the centroid-memo
    * discipline: deterministic on the memoized sample, fitted once per
    * corpus version.
    */
  private def pqBooks(corpus: DataFrame, sample: Array[Array[Float]])
      : Array[Array[Array[Float]]] =
    Artifacts.value(
        Artifacts.key("pqbooks", corpus, PqM, PqKs, PqFitSample))(
      pqTrain(sample, PqM, PqKs, iters = 8))

  /** PQ codes of the unit vector `embedding / norm`: the norm is hoisted
    * OUTSIDE the transform lambda (interpreted-HOF doctrine), the codes
    * are one codegen kernel call.
    */
  private def pqCodes(s: SparkSession, norm: String,
      books: Array[Array[Array[Float]]]): Column =
    VecOps.pqEncode(s,
      transform(col("embedding"), x => (x / col(norm)).cast("float")), books)

  /** Driver-local per-subspace Lloyd (plain L2) over the bounded unit
    * sample: subspace j covers dims [j·sub, (j+1)·sub) with sub = dim/m
    * (last subspace absorbs the remainder); init = first ks hash-ordered
    * sub-vectors; an empty cell keeps its previous centroid. Work is
    * O(sample·ks·dim·iters) scalars — microseconds next to one scan.
    */
  private def pqTrain(sample: Array[Array[Float]], m: Int, ks: Int,
      iters: Int): Array[Array[Array[Float]]] = {
    val dim = sample.head.length
    val sub = math.max(1, dim / m)
    Array.tabulate(m) { j =>
      val off = j * sub
      val width = if (j == m - 1) dim - off else sub
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, off, off + width))
      val k = math.min(ks, pts.length)
      var cents = Array.tabulate(k)(i => pts(i).clone())
      for (_ <- 0 until iters) {
        val sums = Array.fill(k, width)(0.0)
        val counts = Array.fill(k)(0L)
        pts.foreach { p =>
          var bestC = 0; var bestD = Double.MaxValue
          var cc = 0
          while (cc < k) {
            var d = 0.0; var i = 0
            while (i < width) {
              val df = p(i).toDouble - cents(cc)(i); d += df * df; i += 1
            }
            if (d < bestD) { bestD = d; bestC = cc }
            cc += 1
          }
          var i = 0
          while (i < width) { sums(bestC)(i) += p(i); i += 1 }
          counts(bestC) += 1
        }
        cents = Array.tabulate(k) { cc =>
          if (counts(cc) == 0) cents(cc)
          else sums(cc).map(x => (x / counts(cc)).toFloat)
        }
      }
      cents
    }
  }

  // RecallProbe aggregate: 1.0 at sf0.01, 0.82 at sf0.1 (expand=32;
  // was 0.90/0.68 at 16 — the floor keeps 0.27 of regen-drift margin)
  private[graft] val X9Floor = 0.55
  private def x9Gate(s: SparkSession, d: String): DataFrame =
    fiveProbeGate(s, d, X9Floor)((emb, q5) => pqTopK(emb, q5, 10))

  // ---- X6: per-label centroids (vector aggregation) ----------------------
  /** Elementwise mean embedding per label — the vector-aggregation shape
    * IVF coarse-quantizer training and class-prototype similarity both
    * need. Long format (label, dim, centroid): posexplode puts each
    * dimension on its own row, the (label, dim) aggregation combines
    * map-side, and the output is pure scalars a SQL oracle can check.
    * Float values cast to double before summing (exact); the mean is
    * rounded to 6 dp on BOTH sides because a 2000-term double sum's
    * engine-dependent addition order can differ in the last ulp
    * (CLAUDE.md stddev discipline).
    *
    * Scale: one corpus scan + one exchange of (label × dim) partial
    * sums — 640 cells here, bounded by |labels|·dim regardless of corpus
    * size. No driver collect; the centroid table stays distributed for
    * downstream joins (or broadcasts — it is tiny by construction).
    */
  def labelCentroids(emb: DataFrame): DataFrame =
    emb.select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("v").cast("double")), 6).as("centroid"))

  private def x6LabelCentroids(s: SparkSession, d: String): DataFrame =
    labelCentroids(Tables.embeddings(s, d))
      .select(col("label"), col("dim").cast("long").as("dim"), col("n"),
        col("centroid"))
      .orderBy(col("label"), col("dim"))

  /** Oracle: same long-format explode via generate_series list indexing
    * (embedding[i+1] for dim i — Spark's posexplode is 0-based), same
    * double cast and 6-dp round.
    */
  private val x6Sql =
    """WITH e AS (
      |  SELECT label, embedding,
      |         unnest(range(0, len(embedding))) AS dim
      |  FROM embeddings)
      |SELECT label, CAST(dim AS BIGINT) AS dim,
      |       CAST(count(*) AS BIGINT) AS n,
      |       round(AVG(CAST(embedding[CAST(dim AS INT) + 1] AS DOUBLE)), 6)
      |         AS centroid
      |FROM e GROUP BY label, dim ORDER BY label, dim""".stripMargin

  // ---- OD2: centroid-distance outliers ------------------------------------
  /** Embedding-space outlier mining: vectors far (cosine) from their own
    * label's centroid — mislabeled or off-distribution examples, the
    * embedding complement of od1's scalar 3σ rule and the cluster-center
    * variant of classic distance-based outlier detection (the kNN-distance
    * form is O(n²) exact; distance-to-center keeps the SAME linear scan
    * shape at every corpus size, which is why production label-quality
    * audits run this one). Centroids are [[labelCentroids]]'s ROUNDED
    * per-dim means (cross-engine identical inputs, the x6/dq4
    * discipline); per-vector cosines aggregate map-side — the explode
    * never rides the exchange: partial aggregation collapses each
    * vector's 64 dim-rows to one slim (dot, norm) row inside its scan
    * partition, so the shuffle carries n rows, and the centroid/norm
    * sides broadcast (|labels|×dim). Ranks are taken over the ROUNDED
    * distance with vec_id tie-break, so a last-ulp sum disagreement
    * cannot flip the top-20 boundary.
    */
  private[graft] def centroidOutliers(emb: DataFrame,
      topN: Int = 20): DataFrame = {
    val ev = emb
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "vf")))
      .select(col("vec_id"), col("label"), col("dim"),
        col("vf").cast("double").as("v"))
    val cents = ev.groupBy(col("label"), col("dim"))
      .agg(round(avg(col("v")), 6).as("cent"))
    val cn = cents.groupBy(col("label"))
      .agg(sqrt(sum(col("cent") * col("cent"))).as("nc"))
    ev.join(broadcast(cents), Seq("label", "dim"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("v") * col("cent")).as("dot"),
        sqrt(sum(col("v") * col("v"))).as("nv"))
      .join(broadcast(cn), "label")
      .filter(col("nv") > 0 && col("nc") > 0)
      .select(col("vec_id"), col("label"),
        round(lit(1.0) - col("dot") / (col("nv") * col("nc")), 6).as("dist"))
      .orderBy(col("dist").desc, col("vec_id"))
      .limit(topN)
  }

  private def od2CentroidOutliers(s: SparkSession, d: String): DataFrame =
    centroidOutliers(Tables.embeddings(s, d))

  private val od2Sql =
    """WITH e AS (
      |  SELECT vec_id, label, embedding,
      |         unnest(range(0, len(embedding))) AS dim
      |  FROM embeddings),
      |ev AS (
      |  SELECT vec_id, label, dim,
      |         CAST(embedding[CAST(dim AS INT) + 1] AS DOUBLE) AS v
      |  FROM e),
      |c AS (
      |  SELECT label, dim, round(AVG(v), 6) AS cent
      |  FROM ev GROUP BY label, dim),
      |cn AS (SELECT label, sqrt(SUM(cent * cent)) AS nc FROM c GROUP BY label),
      |dt AS (
      |  SELECT ev.vec_id, ev.label,
      |         SUM(ev.v * c.cent) AS dot, sqrt(SUM(ev.v * ev.v)) AS nv
      |  FROM ev JOIN c ON ev.label = c.label AND ev.dim = c.dim
      |  GROUP BY ev.vec_id, ev.label)
      |SELECT dt.vec_id, dt.label,
      |       round(1 - dot / (nv * cn.nc), 6) AS dist
      |FROM dt JOIN cn ON dt.label = cn.label
      |WHERE nv > 0 AND cn.nc > 0
      |ORDER BY dist DESC, vec_id LIMIT 20""".stripMargin

  // ---- DQ4: embedding drift monitor ---------------------------------------
  /** Per-label centroid drift between two corpus periods — the
    * embedding-space complement of dq3's scalar PSI: a retrained encoder,
    * an upstream scraper change, or topic shift moves a label's mean
    * vector long before any scalar column distribution shifts. Reference
    * period = even vec_ids, current = odd (the d9/d14 split convention);
    * per (label, period) centroids come from [[labelCentroids]] (one scan
    * + one (label × dim)-bounded exchange each — never corpus-sized), and
    * the drift per label is the cosine between the two centroid vectors
    * plus their L2 distance, both over the ROUNDED per-dim means (the x6
    * discipline: rounded means are cross-engine identical, and the
    * 64-term sums over them re-round to 6 safely — the stddev rule).
    * Output is |labels| rows; at 100 TB the cost is two corpus scans and
    * two tiny exchanges, and the period split is a partition predicate.
    */
  def embeddingDrift(emb: DataFrame): DataFrame = {
    val ref = labelCentroids(emb.filter(col("vec_id") % 2 === 0))
      .select(col("label"), col("dim"), col("n").as("n_ref"),
        col("centroid").as("a"))
    val cur = labelCentroids(emb.filter(col("vec_id") % 2 === 1))
      .select(col("label"), col("dim"), col("n").as("n_cur"),
        col("centroid").as("b"))
    ref.join(cur, Seq("label", "dim"))
      .groupBy(col("label"))
      .agg(
        max(col("n_ref")).as("n_ref"),
        max(col("n_cur")).as("n_cur"),
        round(sum(col("a") * col("b")) /
          (sqrt(sum(col("a") * col("a"))) * sqrt(sum(col("b") * col("b")))),
          6).as("drift_cos"),
        round(sqrt(sum(pow(col("a") - col("b"), lit(2)))), 6).as("l2_dist"))
      .orderBy(col("label"))
  }

  private def dq4Drift(s: SparkSession, d: String): DataFrame =
    embeddingDrift(Tables.embeddings(s, d))

  private val dq4Sql =
    """WITH cent AS (
      |  SELECT vec_id % 2 = 0 AS is_ref, label,
      |         CAST(unnest(range(0, len(embedding))) AS BIGINT) AS dim,
      |         embedding
      |  FROM embeddings),
      |agg AS (
      |  SELECT is_ref, label, dim,
      |         CAST(count(*) AS BIGINT) AS n,
      |         round(AVG(CAST(embedding[CAST(dim AS INT) + 1] AS DOUBLE)),
      |               6) AS c
      |  FROM cent GROUP BY is_ref, label, dim)
      |SELECT r.label,
      |  MAX(r.n) AS n_ref, MAX(c2.n) AS n_cur,
      |  round(SUM(r.c * c2.c)
      |        / (sqrt(SUM(r.c * r.c)) * sqrt(SUM(c2.c * c2.c))), 6)
      |    AS drift_cos,
      |  round(sqrt(SUM(POW(r.c - c2.c, 2))), 6) AS l2_dist
      |FROM agg r JOIN agg c2
      |  ON r.label = c2.label AND r.dim = c2.dim
      | AND r.is_ref AND NOT c2.is_ref
      |GROUP BY r.label ORDER BY r.label""".stripMargin

  // ---- X10: metadata-filtered vector search ------------------------------
  /** Exact filtered top-k: candidates restricted to rows sharing the
    * query's label — the metadata-predicate + ANN shape every vector
    * store serves (filtered search). The predicate is an EQUI-join
    * condition, so the broadcast hash join prunes non-matching
    * candidates before any dot product is computed; at 100 TB the same
    * plan holds with the label as a partition/bucket column and the scan
    * pruned to matching partitions.
    */
  def filteredBruteTopK(corpus: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    val s = corpus.sparkSession
    val q = withNorm(s, queries, "q", col("label").as("q_label"))
    val c = withNorm(s, corpus, "c", col("label").as("c_label"))
    topK(c.join(broadcast(q),
        col("q_label") === col("c_label") && col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("q_label").as("label"), col("c_id"),
        qcSim(s).as("sim")), k)
  }

  private def x10FilteredTopK(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    filteredBruteTopK(emb, emb.filter(col("vec_id") < 5), 10)
      .select(col("q_id"), col("rank"), col("label"), col("c_id"),
        round(col("sim"), 6).as("sim"))
      .orderBy(col("q_id"), col("rank"))
  }

  private val x10Sql =
    """WITH q AS (SELECT vec_id AS q_id, label,
      |            CAST(embedding AS DOUBLE[]) AS q_emb
      |           FROM embeddings WHERE vec_id < 5),
      |c AS (SELECT vec_id AS c_id, label,
      |        CAST(embedding AS DOUBLE[]) AS c_emb
      |      FROM embeddings),
      |scored AS (
      |  SELECT q.q_id, q.label, c.c_id,
      |    list_cosine_similarity(q_emb, c_emb) AS raw
      |  FROM q JOIN c ON q.label = c.label AND q.q_id <> c.c_id),
      |ranked AS (
      |  SELECT q_id, label, c_id, raw,
      |    row_number() OVER (PARTITION BY q_id
      |                       ORDER BY raw DESC, c_id) AS "rank"
      |  FROM scored)
      |SELECT q_id, "rank", label, c_id, round(raw, 6) AS sim
      |FROM ranked WHERE "rank" <= 10 ORDER BY q_id, "rank"""".stripMargin

  /** x10b: the same filtered search through the IVF index (post-filter
    * strategy — one label-agnostic index serves every predicate; the
    * filter prunes candidates at the probe join). Registered as a
    * bounded recall gate against the exact filtered top-k: filtering
    * cuts per-cell candidate counts ~|labels|-fold, so recall at a fixed
    * probe fraction is the number under test, not an afterthought.
    * Floors (measured via RecallProbe, regen slack −0.13): see the
    * floors block above [[x2Gate]].
    */
  private def x10bGate(s: SparkSession, d: String): DataFrame =
    fiveProbeGate(s, d, X10bFloor, filtered = true)((emb, q5) =>
      ivfTopK(emb, q5, 10, matchLabel = true))

  private val x10bGateSql =
    """WITH q AS (SELECT vec_id AS q_id, label,
      |            CAST(embedding AS DOUBLE[]) AS q_emb
      |           FROM embeddings WHERE vec_id < 5),
      |c AS (SELECT vec_id AS c_id, label,
      |        CAST(embedding AS DOUBLE[]) AS c_emb
      |      FROM embeddings),
      |scored AS (
      |  SELECT q.q_id, c.c_id,
      |    list_cosine_similarity(q_emb, c_emb) AS raw
      |  FROM q JOIN c ON q.label = c.label AND q.q_id <> c.c_id),
      |ranked AS (
      |  SELECT q_id, raw,
      |    row_number() OVER (PARTITION BY q_id
      |                       ORDER BY raw DESC, c_id) AS rn
      |  FROM scored)
      |SELECT q_id, CAST(count(*) AS BIGINT) AS n_exact,
      |  round(min(raw), 6) AS kth_sim, TRUE AS recall_ok
      |FROM ranked WHERE rn <= 10 GROUP BY q_id ORDER BY q_id""".stripMargin

  // ---- D14: semantic decontamination --------------------------------------
  /** Embedding-space train/eval decontamination — the semantic complement
    * of d9's shingle containment: a paraphrased eval item shares few
    * shingles with the training document that leaks it, but their
    * embeddings sit at high cosine. Flag every (eval, train) pair at or
    * above the threshold so the training side can be quarantined before
    * the mix is assembled (the check LLM data teams run between every
    * eval refresh and every training run).
    *
    * Scale shape: real eval sets are MBs against a 100 TB train side, so
    * the eval vectors BROADCAST and contamination is one map-side scan of
    * the training corpus — no shuffle at all until the ≤|pairs| result
    * orders (d9 makes the same asymmetry argument for shingles). The dot
    * product is the codegen VecOps kernel. Threshold parity: the filter
    * compares the ROUNDED cosine (x1/x3 prove 6-dp cosines cross-engine
    * identical), so a last-ulp disagreement at the boundary cannot flip a
    * pair in or out.
    */
  def semanticContamination(train: DataFrame, eval_ : DataFrame,
      minSim: Double): DataFrame = {
    val s = train.sparkSession
    val t = train.select(col("vec_id").as("train_id"),
      col("embedding").as("t_emb"),
      VecOps.fnorm(s, col("embedding")).as("t_norm"))
    val e = eval_.select(col("vec_id").as("eval_id"),
      col("embedding").as("e_emb"),
      VecOps.fnorm(s, col("embedding")).as("e_norm"))
    t.crossJoin(broadcast(e))
      .select(col("eval_id"), col("train_id"),
        round(VecOps.fdot(s, col("t_emb"), col("e_emb")) /
          (col("t_norm") * col("e_norm")), 6).as("sim"))
      .filter(col("sim") >= minSim)
      .orderBy(col("eval_id"), col("train_id"))
  }

  /** D14 query: vec_ids < 50 play the eval set, the rest the training
    * corpus. The eval side is a BOUNDED CONSTANT, not a corpus fraction —
    * eval sets do not grow with the training corpus, which is what makes
    * the registered shape O(n·|eval|) = linear in corpus size (a
    * fractional split would be quadratic).
    */
  private def d14SemDecon(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    semanticContamination(
      emb.filter(col("vec_id") >= 50),
      emb.filter(col("vec_id") < 50), minSim = 0.45)
  }

  private val d14Sql =
    """WITH t AS (SELECT vec_id AS train_id,
      |                  CAST(embedding AS DOUBLE[]) AS emb
      |           FROM embeddings WHERE vec_id >= 50),
      |e AS (SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS emb
      |      FROM embeddings WHERE vec_id < 50)
      |SELECT e.eval_id, t.train_id,
      |  ROUND(list_cosine_similarity(t.emb, e.emb), 6) AS sim
      |FROM t, e
      |WHERE ROUND(list_cosine_similarity(t.emb, e.emb), 6) >= 0.45
      |ORDER BY eval_id, train_id""".stripMargin

  val qs: Seq[(String, Q)] = Seq(
    "x1_cosine_topk_brute" -> Q(x1BruteTopK, Some(x1Sql)),
    "x10_filtered_topk"    -> Q(x10FilteredTopK, Some(x10Sql)),
    "x10b_filtered_ivf"    -> Q(x10bGate, Some(x10bGateSql)),
    // candidates spec-identical to x10b's in-memory path, so its oracle
    // gates the persisted serve verbatim (the t18/x12 reuse discipline)
    "x17_filtered_persisted" -> Q(x17Gate, Some(x10bGateSql)),
    "x6_label_centroids"   -> Q(x6LabelCentroids, Some(x6Sql)),
    "dq4_embedding_drift"  -> Q(dq4Drift, Some(dq4Sql)),
    "od2_centroid_outliers" -> Q(od2CentroidOutliers, Some(od2Sql)),
    "x2_cosine_topk_lsh"   -> Q(x2Gate, Some(annGateSql(10))),
    "x7_knn_join"          -> Q(x7Gate, Some(x7GateSql)),
    "x3_embedding_neardup" -> Q(x3NearDupPairs, Some(x3Sql)),
    "d11_semdedup"         -> Q(d11SemDedup, Some(d11Sql)),
    "d12_semdedup_cells"   -> Q(d12Gate, Some(d12Sql)),
    "d14_semantic_decon"   -> Q(d14SemDecon, Some(d14Sql)),
    "x4_cosine_topk_ivf"   -> Q(x4Gate, Some(annGateSql(10))),
    "x11_ivf_incremental"  -> Q(x11Gate, Some(annGateSql(10))),
    "x11b_ivf_append"      -> Q(x11bGate, Some(annGateSql(10))),
    "e20_stream_index_append" -> Q(e20Gate, Some(annGateSql(10))),
    "x12_ivf_persisted"    -> Q(x12Gate, Some(annGateSql(10))),
    "x15_ivf_compact"      -> Q(x15Gate, Some(annGateSql(10))),
    "x16_ivfpq_persisted"  -> Q(x16Gate, Some(annGateSql(10))),
    "km2_embedding_kmeans" -> Q(km2Gate, Some(km2Sql)),
    "km3_bisecting_kmeans" -> Q(km3Gate, Some(km3Sql)),
    "x5_cosine_topk_sq8"   -> Q(x5Gate, Some(annGateSql(10))),
    "x8_cosine_topk_ivfsq" -> Q(x8Gate, Some(annGateSql(10))),
    "x9_cosine_topk_pq"    -> Q(x9Gate, Some(annGateSql(10))),
    "x18_knn_graph_beam"   -> Q(x18Gate, Some(annGateSql(10))),
    "x18b_knn_graph_append" -> Q(x18bGate, Some(annGateSql(10))),
    "x19_hnsw_layers"      -> Q(x19Gate, Some(annGateSql(10))),
    "x20_graph_compact"    -> Q(x20Gate, Some(annGateSql(10))),
    "x21_graph_sq8"        -> Q(x21Gate, Some(annGateSql(10))),
    "x22_graph_filtered"   -> Q(x22Gate, Some(x10bGateSql)),
    "e26_stream_graph_append" -> Q(e26Gate, Some(annGateSql(10))),
  )
}
