package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.VecOps
import graft.util.Artifacts

/** One (candidate, partner) edge of the MMR input: `a_rel` is the
  * candidate's (rounded) relevance to the query, `psim` its (rounded)
  * cosine to partner `b_id`; self rows (a_id == b_id, psim 0) keep every
  * candidate present even without partners.
  */
private[ext] case class MmrEdge(a_id: Long, a_rel: Double, b_id: Long,
    psim: Double)

/** One greedy MMR selection. */
private[ext] case class MmrPick(sel_rank: Long, doc_id: Long, rel: Double,
    mmr_score: Double)

/** Hybrid (sparse + dense) retrieval — the fusion layer of a production
  * search/curation stack: t17's BM25 lexical ranking and the x-family's
  * cosine ranking each nominate a bounded candidate list, and reciprocal
  * rank fusion (RRF, Cormack–Clarke–Büttcher SIGIR 2009) combines them
  * on RANKS alone: score(d) = Σ_lists 1/(60 + rank_list(d)). Rank-based
  * fusion needs no score calibration between retrievers whose scales are
  * incomparable (BM25 is unbounded, cosine is [-1,1]) — which is exactly
  * why it is the default fusion in hybrid search engines.
  *
  * Scale story (SURVEY.md §2-ext): each retriever ends in a top-`CandDepth`
  * (TakeOrderedAndProject — never a global sort), so whatever the corpus
  * size, the fusion input is ≤ 2·CandDepth rows. At 100 TB the candidate
  * generators are the INDEXED paths — an inverted index for BM25 (t17
  * already filters tf to query terms before its only corpus-sized
  * shuffle) and x12's partition-pruned IVF serve for the dense side — and
  * fusion cost stays O(k) regardless; the registered query uses the EXACT
  * dense ranking so the whole result is engine-portable and hash-gated
  * (the approximate dense paths carry their own recall gates x2–x12).
  *
  * Engine parity: both rankings are deterministic cross-engine (BM25
  * ranks over the round-6 scores t17 already hash-matches, doc_id
  * tiebreak; dense ranks over raw cosine doubles, the x1 discipline),
  * and the RRF sum is ≤ 2 IEEE divisions with exact-integer denominators
  * plus one commutative addition — bit-identical in DuckDB.
  */
object RetrievalOps {

  /** Standard RRF smoothing constant (the SIGIR'09 paper's k = 60). */
  private[graft] val RrfK = 60

  /** Per-retriever candidate-list depth. */
  private[graft] val CandDepth = 50

  /** Fused rows emitted. */
  private[graft] val FusedTopK = 20

  /** Exact 1-based dense rank of a ≤`CandDepth`-row candidate list by
    * (score DESC, id ASC) via a triangular self-join — rank = 1 + |rows
    * strictly ahead|. Bounded-input by construction (both callers sit
    * above a top-k), so the ≤n² comparison cost is ≤ CandDepth² and the
    * plan stays free of partition-less WindowExec (the util.Ranks
    * discipline, degenerate-size edition).
    */
  private[graft] def tinyRankDesc(df0: DataFrame, score: String, id: String)
      : DataFrame = {
    // The self-join would otherwise recompute the candidate list's WHOLE
    // lineage (a corpus-sized BM25 scan) once per side — materialize the
    // ≤CandDepth-row list first (eager localCheckpoint: blocks freed by
    // ContextCleaner on GC, no session-lifetime pin).
    val df = df0.localCheckpoint(true)
    df.as("_a")
      .join(df.as("_b"),
        col(s"_b.$score") > col(s"_a.$score") ||
          (col(s"_b.$score") === col(s"_a.$score") &&
            col(s"_b.$id") < col(s"_a.$id")),
        "left")
      .groupBy(col(s"_a.$id").as(id))
      .agg((count(col(s"_b.$id")) + 1).cast("long").as("r"))
  }

  /** Fuse two (doc_id, r) candidate rankings: per-doc RRF contributions
    * union (≤ 2·CandDepth rows), one tiny aggregate reassembles the
    * per-list ranks (0 = absent from that list) and sums the reciprocal
    * ranks. The sum has ≤ 2 terms, so double addition is order-free
    * (IEEE + is commutative); ties across swapped rank pairs
    * ({a,b} vs {b,a} sum identically) break on doc_id.
    */
  private[graft] def rrfFuse(bm: DataFrame, dense: DataFrame): DataFrame = {
    val contribs = bm
      .select(col("doc_id"), col("r"), lit("bm").as("side"))
      .unionByName(dense.select(col("doc_id"), col("r"), lit("dn").as("side")))
    val rrf = sum(lit(1.0) / (lit(RrfK) + col("r")).cast("double"))
    contribs.groupBy(col("doc_id"))
      .agg(
        coalesce(max(when(col("side") === "bm", col("r"))), lit(0L))
          .cast("long").as("r_bm25"),
        coalesce(max(when(col("side") === "dn", col("r"))), lit(0L))
          .cast("long").as("r_dense"),
        rrf.as("_rrf"))
      .orderBy(col("_rrf").desc, col("doc_id"))
      .limit(FusedTopK)
      .select(col("doc_id"), col("r_bm25"), col("r_dense"),
        round(col("_rrf"), 6).as("rrf"))
  }

  /** X13: hybrid search for one query — BM25 over t17's fixed term set
    * SERVED FROM t18's landed inverted index (bit-identical scores to the
    * per-query path, so the oracle is unchanged — but the sparse
    * candidate generator is now the partition-pruned posting-list scan,
    * the shape that actually serves at 100 TB), dense = exact cosine
    * against doc 0's embedding (documents and embeddings share the id
    * space), RRF-fused top-20.
    */
  private[graft] def x13Hybrid(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val bm = tinyRankDesc(
      TextOps.bm25Indexed(s, d, TextOps.Bm25Terms, CandDepth)
        .select(col("doc_id"), col("score")),
      "score", "doc_id")
    val dense = SimilarityOps
      .bruteForceTopK(emb, emb.filter(col("vec_id") === 0), CandDepth)
      .select(col("c_id").as("doc_id"), col("rank").cast("long").as("r"))
    rrfFuse(bm, dense).orderBy(col("rrf").desc, col("doc_id"))
  }

  // ---- X13b: hybrid served ENTIRELY from landed indexes --------------------
  /** The production form of x13: BOTH retrievers serve from their landed
    * on-disk indexes — sparse from t18's `partitionBy(tok-bucket)`
    * inverted index (already bit-identical to the direct path) and dense
    * from x12's `partitionBy(cell)` partition-pruned IVF serve (x13's
    * scaladoc deferred exactly this swap). The dense candidates are now
    * APPROXIMATE, so the hash-gated exact fused table no longer applies;
    * the a7/a10 bounded-gate discipline does: the emitted row carries the
    * EXACT fused top-20's aggregates (count + min rrf — DuckDB recomputes
    * them by running x13's full fused SQL and aggregating) plus an
    * overlap flag — |exact-fused ∩ indexed-fused| / 20 over the fused
    * DOC SETS — that a broken index serve, a pruning bug, or a fusion
    * regression all trip. Measured overlap (RecallProbe): 1.0 at sf0.1,
    * 0.65 at sf0.01 — the sf0.01 value is the documented routing-diffuse
    * 500-vector-corpus ceiling (IVF recall tops ~0.52 there at ≤25%
    * scanned; the BM25-only fused rows keep the overlap above it); floor
    * 0.50 = 0.65 − 0.13 regen slack, the SimilarityOps discipline.
    */
  private[graft] val X13bFloor = 0.50
  private[graft] def x13bIndexedFused(s: SparkSession, d: String)
      : DataFrame = {
    val emb = Tables.embeddings(s, d)
    val bm = tinyRankDesc(
      TextOps.bm25Indexed(s, d, TextOps.Bm25Terms, CandDepth)
        .select(col("doc_id"), col("score")),
      "score", "doc_id")
    val denseIdx = SimilarityOps
      .ivfPersistedTopK(s, d, emb.filter(col("vec_id") === 0), CandDepth)
      .select(col("c_id").as("doc_id"), col("rank").cast("long").as("r"))
    rrfFuse(bm, denseIdx)
  }

  /** The exact fused list is a pure function of the (documents,
    * embeddings) version, ≤ FusedTopK rows, and read three times per
    * gate — landed per version so the gate's bounded counts don't re-run
    * the exact fused lineage on every DataFrame build (3.55 s per fresh
    * build before the landing).
    */
  private def x13bGate(s: SparkSession, d: String): DataFrame = {
    val exact = Artifacts.frame(s, Artifacts.key("x13b_exact",
        Seq("documents", "embeddings").map(Tables.path(d, _))))(
      x13Hybrid(s, d).select(col("doc_id"), col("rrf")))
    val indexed = x13bIndexedFused(s, d).select(col("doc_id"))
    val overlap = exact.join(indexed, "doc_id").count()
    val n = exact.count()
    exact.agg(count(lit(1)).cast("long").as("n_fused"),
      min(col("rrf")).as("kth_rrf"))
      .select(col("n_fused"), col("kth_rrf"),
        lit(overlap.toDouble / math.max(1L, n) >= X13bFloor)
          .as("overlap_ok"))
  }

  private val x13Sql =
    """WITH tk AS (
      |  SELECT doc_id, tok FROM (
      |    SELECT doc_id, UNNEST(STR_SPLIT(LOWER(text), ' ')) AS tok
      |    FROM documents)
      |  WHERE LENGTH(tok) > 0),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY doc_id),
      |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd,
      |              CAST(SUM(dl) AS BIGINT) AS tot FROM dl),
      |tf AS (
      |  SELECT doc_id, tok, COUNT(*) AS tf FROM tk
      |  WHERE tok IN ('hash', 'join', 'spark') GROUP BY doc_id, tok),
      |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
      |wt AS (
      |  SELECT tf.doc_id, tf.tok,
      |    LN(1 + (CAST(nd - df AS DOUBLE) + 0.5)
      |          / (CAST(df AS DOUBLE) + 0.5))
      |      * (CAST(tf AS DOUBLE) * 2.2)
      |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
      |          (CAST(dl.dl AS DOUBLE)
      |            / (CAST(tot AS DOUBLE) / CAST(nd AS DOUBLE))))) AS w
      |  FROM tf JOIN df ON tf.tok = df.tok
      |  JOIN dl ON tf.doc_id = dl.doc_id, st),
      |bm AS (
      |  SELECT doc_id,
      |    ROUND(COALESCE(MAX(CASE WHEN tok = 'hash' THEN w END), 0)
      |        + COALESCE(MAX(CASE WHEN tok = 'join' THEN w END), 0)
      |        + COALESCE(MAX(CASE WHEN tok = 'spark' THEN w END), 0), 6)
      |      AS score
      |  FROM wt GROUP BY doc_id),
      |bmtop AS (
      |  SELECT doc_id,
      |    CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
      |      AS r
      |  FROM (SELECT * FROM bm ORDER BY score DESC, doc_id LIMIT 50)),
      |q AS (SELECT CAST(embedding AS DOUBLE[]) AS q_emb FROM embeddings
      |      WHERE vec_id = 0),
      |dn AS (
      |  SELECT vec_id AS doc_id,
      |    list_cosine_similarity(CAST(embedding AS DOUBLE[]), q_emb) AS sim
      |  FROM embeddings, q WHERE vec_id <> 0),
      |dntop AS (
      |  SELECT doc_id,
      |    CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS BIGINT)
      |      AS r
      |  FROM (SELECT * FROM dn ORDER BY sim DESC, doc_id LIMIT 50)),
      |contrib AS (
      |  SELECT doc_id, r, 'bm' AS side FROM bmtop
      |  UNION ALL SELECT doc_id, r, 'dn' AS side FROM dntop)
      |SELECT doc_id,
      |  CAST(COALESCE(MAX(CASE WHEN side = 'bm' THEN r END), 0) AS BIGINT)
      |    AS r_bm25,
      |  CAST(COALESCE(MAX(CASE WHEN side = 'dn' THEN r END), 0) AS BIGINT)
      |    AS r_dense,
      |  ROUND(SUM(CAST(1.0 AS DOUBLE) / CAST(60 + r AS DOUBLE)), 6) AS rrf
      |FROM contrib GROUP BY doc_id
      |ORDER BY SUM(CAST(1.0 AS DOUBLE) / CAST(60 + r AS DOUBLE)) DESC,
      |  doc_id
      |LIMIT 20""".stripMargin

  // ---- X14: MMR diversified re-ranking ------------------------------------

  /** MMR trade-off weights (Carbonell–Goldstein SIGIR 1998): score =
    * λ·rel − γ·max-sim-to-selected. γ is a SEPARATE literal, not 1−λ —
    * `1 - 0.7` is 0.30000000000000004 in IEEE, while both engines parse
    * the literal `0.3` to the same double; deriving it would desync the
    * oracle arithmetic.
    */
  private[graft] val MmrLambda = 0.7
  private[graft] val MmrGamma = 0.3
  private[graft] val MmrK = 10

  /** Maximal Marginal Relevance re-ranking: greedily build a k-list where
    * each pick maximizes λ·rel(q,d) − γ·max_{s∈selected} sim(d,s) — the
    * standard redundancy-vs-relevance diversifier applied after retrieval
    * (and, in training-data curation, the "diverse exemplar selection"
    * primitive). Sequential-state op, so it follows the c4 discipline:
    * the greedy fold runs in `flatMapGroups` over ONE group whose size is
    * O(depth²) BY CONSTRUCTION (depth = candidate-list length, fixed at
    * `CandDepth` — never corpus-sized), and its DuckDB oracle is a
    * recursive CTE carrying the selected-id list, re-picking the same
    * argmax per step.
    *
    * Engine parity: relevance and pairwise cosines are rounded to 6 dp
    * BEFORE the greedy on both sides (the x1/x3 gates prove rounded
    * cosines cross-engine identical), so every downstream comparison and
    * the emitted λ·rel − γ·div doubles are bit-identical IEEE ops over
    * identical inputs — no further rounding needed. Ties break on doc_id
    * (ascending scan + strict improvement ≡ ORDER BY score DESC, id).
    */
  def mmrRerank(emb: DataFrame, queryId: Long, depth: Int, k: Int)
      : DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val cands = SimilarityOps
      .bruteForceTopK(emb, emb.filter(col("vec_id") === queryId), depth)
      .select(col("c_id"), round(col("sim"), 6).as("rel"))
    val ce = cands
      .join(emb.select(col("vec_id").as("c_id"), col("embedding")), Seq("c_id"))
      // ≤ depth rows; the self-join below would otherwise re-derive the
      // corpus-sized top-k lineage once per side (the x13 lesson).
      .localCheckpoint(true)
    val a = ce.select(col("c_id").as("a_id"), col("rel").as("a_rel"),
      col("embedding").as("a_emb"),
      VecOps.fnorm(s, col("embedding")).as("a_norm"))
    val b = ce.select(col("c_id").as("b_id"), col("embedding").as("b_emb"),
      VecOps.fnorm(s, col("embedding")).as("b_norm"))
    val pairs = a.crossJoin(broadcast(b))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("a_rel"), col("b_id"),
        round(VecOps.fdot(s, col("a_emb"), col("b_emb")) /
          (col("a_norm") * col("b_norm")), 6).as("psim"))
    val selfRows = ce.select(col("c_id").as("a_id"), col("rel").as("a_rel"),
      col("c_id").as("b_id"), lit(0.0).as("psim"))
    pairs.unionByName(selfRows).as[MmrEdge]
      .groupByKey(_ => true)
      .flatMapGroups { (_, it) =>
        val rel = collection.mutable.HashMap.empty[Long, Double]
        val psim = collection.mutable.HashMap.empty[(Long, Long), Double]
        it.foreach { e =>
          rel(e.a_id) = e.a_rel
          if (e.a_id != e.b_id) psim((e.a_id, e.b_id)) = e.psim
        }
        val ids = rel.keys.toArray.sorted
        val selected = collection.mutable.ArrayBuffer.empty[Long]
        val out = collection.mutable.ArrayBuffer.empty[MmrPick]
        while (out.size < k && selected.size < ids.length) {
          var best = -1L
          var bestScore = Double.NegativeInfinity
          for (c <- ids if !selected.contains(c)) {
            val div =
              if (selected.isEmpty) 0.0
              else selected.iterator.map(sd => psim.getOrElse((c, sd), 0.0)).max
            val sc = MmrLambda * rel(c) - MmrGamma * div
            if (sc > bestScore) { best = c; bestScore = sc }
          }
          out += MmrPick(out.size + 1L, best, rel(best), bestScore)
          selected += best
        }
        out.iterator
      }
      .toDF()
      .orderBy(col("sel_rank"))
  }

  private def x14Mmr(s: SparkSession, d: String): DataFrame =
    mmrRerank(Tables.embeddings(s, d), queryId = 0L, depth = CandDepth,
      k = MmrK)

  private val x14Sql =
    """WITH RECURSIVE
      |q AS (SELECT CAST(embedding AS DOUBLE[]) AS q_emb FROM embeddings
      |      WHERE vec_id = 0),
      |scored AS (
      |  SELECT vec_id AS c_id,
      |         list_cosine_similarity(CAST(embedding AS DOUBLE[]), q_emb)
      |           AS sim,
      |         CAST(embedding AS DOUBLE[]) AS emb
      |  FROM embeddings, q WHERE vec_id <> 0),
      |cand AS (
      |  SELECT c_id, ROUND(sim, 6) AS rel, emb
      |  FROM scored ORDER BY sim DESC, c_id LIMIT 50),
      |pair AS (
      |  SELECT a.c_id AS a_id, b.c_id AS b_id,
      |         ROUND(list_cosine_similarity(a.emb, b.emb), 6) AS psim
      |  FROM cand a JOIN cand b ON a.c_id <> b.c_id),
      |sel AS (
      |  SELECT CAST(1 AS BIGINT) AS sel_rank, [c_id] AS ids, c_id, rel,
      |         CAST(0.7 AS DOUBLE) * rel AS mmr_score
      |  FROM (SELECT c_id, rel FROM cand ORDER BY rel DESC, c_id LIMIT 1)
      |  UNION ALL
      |  SELECT s.sel_rank + 1, list_append(s.ids, x.c_id), x.c_id, x.rel,
      |         x.mmr_score
      |  FROM sel s, LATERAL (
      |    SELECT c.c_id, c.rel,
      |      CAST(0.7 AS DOUBLE) * c.rel - CAST(0.3 AS DOUBLE) *
      |        (SELECT MAX(p.psim) FROM pair p
      |         WHERE p.a_id = c.c_id AND list_contains(s.ids, p.b_id))
      |        AS mmr_score
      |    FROM cand c WHERE NOT list_contains(s.ids, c.c_id)
      |    ORDER BY mmr_score DESC, c.c_id LIMIT 1) x
      |  WHERE s.sel_rank < 10)
      |SELECT sel_rank, c_id AS doc_id, rel, mmr_score FROM sel
      |ORDER BY sel_rank""".stripMargin

  val qs: Seq[(String, Q)] = Seq(
    "x13_hybrid_rrf" -> Q(x13Hybrid, Some(x13Sql)),
    "x13b_hybrid_indexed" -> Q(x13bGate, Some(
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_fused, MIN(rrf) AS kth_rrf,
         |  TRUE AS overlap_ok
         |FROM ($x13Sql)""".stripMargin)),
    "x14_mmr_rerank" -> Q(x14Mmr, Some(x14Sql)),
  )
}
