package graft.balance

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.util.Ranks

/** SparkEntry registrations for class balancing (SMOTE / k-NN), exercised
  * on the embeddings table (label as class, embedding as features —
  * FIXTURES.md §B). The synthesized feature VALUES are RNG-driven
  * (property-tested in SmoteSpec), but the registered outputs are
  * deterministic — class counts (b1) and neighbour counts + nearest
  * distance (b2) — so both carry DuckDB oracles.
  */
object BalanceQueries {

  private def features(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("features"),
        when(col("label") === 0, lit(0)).otherwise(lit(1)).as("cls"))

  /** B1: SMOTE balance — minority cls=0 oversampled 200%, majority kept.
    * Output: per-class counts before/after.
    */
  private def b1Smote(s: SparkSession, d: String): DataFrame = {
    val df = features(s, d)
    val before = df.groupBy(col("cls")).agg(count(lit(1)).as("n_before"))
    val balanced = Smote.balance(s, df, "vec_id", "features", "cls",
      lit(0), Smote.Params(k = 5, percentOver = 200, percentUnder = 100))
    val after = balanced.groupBy(col("cls")).agg(count(lit(1)).as("n_after"))
    before.join(after, Seq("cls"), "outer").orderBy(col("cls"))
  }

  /** Oracle of the SMOTE count contract: percentOver=200 ⇒ 2 synthetic
    * rows per minority row (3× total); percentUnder=100 keeps the whole
    * majority. The RNG only decides feature values, never row counts.
    */
  private val b1Sql =
    """SELECT cls, CAST(count(*) AS BIGINT) AS n_before,
      |  CAST(count(*) * CASE WHEN cls = 0 THEN 3 ELSE 1 END AS BIGINT) AS n_after
      |FROM (SELECT CASE WHEN label = 0 THEN 0 ELSE 1 END AS cls FROM embeddings)
      |GROUP BY cls ORDER BY cls""".stripMargin

  /** B2: exact k-NN over the minority class — neighbour count plus the
    * distance to the nearest neighbour (neighbors are ordered nearest
    * first), rounded 6 dp for bit-exact oracle parity with DuckDB
    * list_distance.
    */
  private def b2Knn(s: SparkSession, d: String): DataFrame = {
    val minority = features(s, d).filter(col("cls") === 0)
    minority.join(Knn.exactNeighbors(minority, "vec_id", "features", 5), "vec_id")
      .select(col("vec_id"), size(col("neighbors")).as("n_neighbors"),
        round(sqrt(Smote.sqDist(col("features"), element_at(col("neighbors"), 1))), 6)
          .as("nn_dist"))
      .orderBy(col("vec_id"))
  }

  private val b2Sql =
    """WITH m AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
      |  FROM embeddings WHERE label = 0)
      |SELECT a.vec_id,
      |  CAST(least(5, (SELECT count(*) FROM m) - 1) AS INT) AS n_neighbors,
      |  round(min(list_distance(a.emb, b.emb)), 6) AS nn_dist
      |FROM m a JOIN m b ON a.vec_id <> b.vec_id
      |GROUP BY a.vec_id ORDER BY a.vec_id""".stripMargin

  /** B3: the SMOTE 100 TB scale path — identical recipe to b1 but k-NN
    * through [[Knn.approxNeighbors]] (BucketedRandomProjectionLSH):
    * candidate pairs only from shared buckets, near-linear in minority
    * rows where b1's exact path is O(n²). The oracle is the SAME
    * deterministic count contract as b1 (the RNG and the LSH recall
    * decide feature VALUES and which neighbour is interpolated toward,
    * never row counts — neighbourless rows fall back to
    * self-duplication, see Smote.synthesize).
    */
  private def b3SmoteLsh(s: SparkSession, d: String): DataFrame = {
    val df = features(s, d)
    val before = df.groupBy(col("cls")).agg(count(lit(1)).as("n_before"))
    val balanced = Smote.balance(s, df, "vec_id", "features", "cls",
      lit(0), Smote.Params(k = 5, percentOver = 200, percentUnder = 100),
      Smote.LshKnn(bucketLength = 2.0, numHashTables = 3))
    val after = balanced.groupBy(col("cls")).agg(count(lit(1)).as("n_after"))
    before.join(after, Seq("cls"), "outer").orderBy(col("cls"))
  }

  /** B4: Tomek links — the UNDER-sampling complement of SMOTE's
    * over-sampling (Tomek 1976; SMOTE+Tomek is the standard imbalance
    * recipe the reference's sklearn world ships as `SMOTETomek`). A link
    * is a pair of OPPOSITE-class points that are each other's global
    * 1-NN — by construction either boundary noise or borderline
    * ambiguity; undersampling drops the majority member of each link to
    * clean the decision boundary. Emitted as the full link table
    * (minority_id, majority_id, dist) — membership, not just counts, is
    * what the oracle hash-checks (26/31/95 links at the three SFs).
    *
    * Determinism: 1-NN ranks on raw squared distances with id tie-break
    * (the b2 precedent — ranks agree cross-engine on this corpus;
    * emitted dist rounds to 6). Scale: the exact all-pairs 1-NN is the
    * b2 shape — fine at minority-scale; the 100 TB path swaps in
    * [[Knn.approxNeighbors]]'s LSH candidates exactly as b3 does for
    * SMOTE (a missed true 1-NN can only DROP a link, never invent one —
    * undersampling degrades conservatively).
    */
  /** Inputs up to this many rows take the exact all-pairs 1-NN (the b2
    * shape, the oracle-parity contract at the driver SFs); beyond it the
    * adaptive size probe (the x3/d7 idiom) routes to LSH-candidate 1-NN
    * — conservative for Tomek: a missed true 1-NN only drops a link.
    */
  private[graft] val TomekExactCap = 4096L

  private[graft] def tomekLinks(f: DataFrame): DataFrame = {
    val s = f.sparkSession
    // each ai's 1-NN bi by squared distance, ties to the smaller bi
    def nearest(pairs: DataFrame): DataFrame =
      Ranks.topK(pairs.withColumn("_d",
          graft.functions.VecOps.dsqdist(s, col("af"), col("bf"))),
        Seq(col("ai")), Seq(col("_d"), col("bi")), lit(1), "rn")
        .select(col("ai"), col("bi"), col("_d"))
    val small = f.limit(TomekExactCap.toInt + 1).count() <= TomekExactCap
    val n1raw =
      if (small) {
        val a = f.select(col("vec_id").as("ai"), col("features").as("af"))
        val b = f.select(col("vec_id").as("bi"), col("features").as("bf"))
        nearest(a.crossJoin(b).filter(col("ai") =!= col("bi")))
      } else {
        // Candidate generator = x7's knnJoin: sign-bit LSH with
        // auto-scaled bits and hot-bucket refine/salt, the machinery
        // whose candidate volume is BOUNDED by construction (bare id
        // pairs ride the exchange; sweep-proven). BucketedRandomProjection
        // was tried first and cannot bound candidates here: unit-norm
        // features project to σ = 1/√d ≈ 0.125, so ANY usable
        // bucketLength concentrates most of the corpus into a handful of
        // buckets (measured: a disk-filling candidate shuffle at 20k
        // rows). knnJoin ranks by cosine — on unit vectors the euclidean
        // order EXACTLY (d² = 2−2cos), and for general norms it is a
        // direction-candidate generator whose exact-euclidean rerank
        // below keeps misses conservative (a dropped candidate only
        // drops a link).
        val embF = f.select(col("vec_id"),
          transform(col("features"), x => x.cast("float")).as("embedding"))
        val cand = graft.ext.SimilarityOps.knnJoin(embF, 3)
          .select(col("q_id").as("ai"), col("c_id").as("bi"))
        nearest(cand
          .join(f.select(col("vec_id").as("ai"),
            col("features").as("af")), "ai")
          .join(f.select(col("vec_id").as("bi"),
            col("features").as("bf")), "bi"))
      }
    val n1 = n1raw
      .join(f.select(col("vec_id").as("ai"), col("cls").as("ac")), "ai")
      .join(f.select(col("vec_id").as("bi"), col("cls").as("bc")), "bi")
      .select(col("ai"), col("ac"), col("bi"), col("bc"), col("_d"))
      .localCheckpoint(true)
    n1.as("x").join(n1.as("y"),
        col("x.bi") === col("y.ai") && col("y.bi") === col("x.ai"))
      .filter(col("x.ac") === 0 && col("x.bc") === 1)
      .select(col("x.ai").as("minority_id"), col("x.bi").as("majority_id"),
        round(sqrt(col("x._d")), 6).as("dist"))
      .orderBy(col("minority_id"))
  }

  private def b4Tomek(s: SparkSession, d: String): DataFrame =
    tomekLinks(features(s, d))

  private val b4Sql =
    """WITH f AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
      |         CASE WHEN label = 0 THEN 0 ELSE 1 END AS cls
      |  FROM embeddings),
      |p AS (
      |  -- rank on the SQUARED distance, the same key Spark's dsqdist
      |  -- kernel ranks on (sequential sum of (a_i-b_i)^2 in list order):
      |  -- sqrt can collapse two distinct squared doubles to equal
      |  -- distances, flipping DuckDB to the id tie-break where Spark
      |  -- still orders by the squared values (round-12 advice).
      |  SELECT a.vec_id AS ai, a.cls AS ac, b.vec_id AS bi, b.cls AS bc,
      |    list_sum(list_transform(list_zip(a.emb, b.emb),
      |      q -> (q[1]-q[2])*(q[1]-q[2]))) AS sqd,
      |    row_number() OVER (PARTITION BY a.vec_id
      |      ORDER BY list_sum(list_transform(list_zip(a.emb, b.emb),
      |        q -> (q[1]-q[2])*(q[1]-q[2]))), b.vec_id) AS rn
      |  FROM f a JOIN f b ON a.vec_id <> b.vec_id),
      |n1 AS (SELECT ai, ac, bi, bc, sqd FROM p WHERE rn = 1)
      |SELECT x.ai AS minority_id, x.bi AS majority_id,
      |  round(sqrt(x.sqd), 6) AS dist
      |FROM n1 x JOIN n1 y ON x.bi = y.ai AND y.bi = x.ai
      |WHERE x.ac = 0 AND x.bc = 1
      |ORDER BY minority_id""".stripMargin

  val qs: Seq[(String, Q)] = Seq(
    "b1_smote_balance" -> Q(b1Smote, Some(b1Sql)),
    "b2_knn_exact"     -> Q(b2Knn, Some(b2Sql)),
    "b3_smote_lsh"     -> Q(b3SmoteLsh, Some(b1Sql)),
    "b4_tomek_links"   -> Q(b4Tomek, Some(b4Sql)),
  )
}
