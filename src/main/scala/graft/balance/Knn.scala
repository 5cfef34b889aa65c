package graft.balance

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Ranks

/** k-nearest-neighbour search over array<double> feature columns.
  *
  * Reference: smote_sampling.py:31-34 fits sklearn NearestNeighbors on the
  * driver. Distributed replacements:
  *   - exact: self-crossJoin + per-row top-k window. O(n²) pairs — correct
  *     and fine for minority classes (SMOTE's n is the *minority* count);
  *     parity-tested against brute force.
  *   - approx: spark.ml BucketedRandomProjectionLSH — the 100 TB path;
  *     candidate pairs come only from shared hash buckets.
  */
object Knn {

  /** The k pairs of each `_a_id` with the smallest `_dist`, numbered in
    * `_rank`; ties go to the smaller `_b_id`.
    */
  private def nearestFirst(pairs: DataFrame, k: Int): DataFrame =
    Ranks.topK(pairs, Seq(col("_a_id")), Seq(col("_dist"), col("_b_id")),
      lit(k), "_rank")

  /** Exact k nearest neighbours (excluding self) of every row among the
    * input. Returns (id, neighbors: array<array<double>>) ordered nearest
    * first, ties broken by neighbour id for determinism.
    */
  def exactNeighbors(df: DataFrame, idCol: String, featCol: String,
      k: Int): DataFrame = {
    val a = df.select(col(idCol).as("_a_id"), col(featCol).as("_a_f"))
    val b = df.select(col(idCol).as("_b_id"), col(featCol).as("_b_f"))
    nearestFirst(a.crossJoin(b)
        .filter(col("_a_id") =!= col("_b_id"))
        // codegen'd kernel in the O(n²)-pair loop; bit-identical to the
        // Smote.sqDist expression form (same left-to-right double sums)
        .withColumn("_dist",
          graft.functions.VecOps.dsqdist(df.sparkSession,
            col("_a_f"), col("_b_f"))), k)
      .groupBy(col("_a_id").as(idCol))
      .agg(collect_list(struct(col("_rank"), col("_b_f"))).as("_nn"))
      .select(col(idCol),
        transform(array_sort(col("_nn")), s => s.getField("_b_f"))
          .as("neighbors"))
  }

  /** Approximate k-NN via BucketedRandomProjectionLSH — candidates only
    * from shared buckets, then exact re-rank within candidates.
    *
    * Feature-identical rows are collapsed BEFORE the LSH self-join: exact
    * duplicates are projection-inseparable (the x7 hot-bucket lesson), so
    * every extra copy widens its bucket in EVERY hash table and the
    * candidate-pair volume grows QUADRATICALLY in the duplication factor
    * (ScaleSweep measured 51× wall-clock at a 10×-duplicated corpus; a
    * 100 TB crawl is exactly that corpus). One representative per distinct
    * vector computes the neighbour list; all rows join it back by feature
    * equality — linear, and byte-identical doubles make the equi-join
    * safe. Neighbours are therefore the k nearest DISTINCT vectors, which
    * is also the better SMOTE semantics: interpolating toward a
    * zero-distance copy just reproduces the point (plain duplication —
    * the fallback already covers that case honestly).
    */
  def approxNeighbors(spark: SparkSession, df: DataFrame, idCol: String,
      featCol: String, k: Int, bucketLength: Double = 2.0,
      numHashTables: Int = 3, maxDist: Double = Double.MaxValue): DataFrame = {
    import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
    import org.apache.spark.ml.functions.array_to_vector
    val vecs = df.select(col(idCol), col(featCol))
    val reps = vecs.groupBy(col(featCol)).agg(min(col(idCol)).as("_rid"))
    val vecDf = reps.withColumn("_vec", array_to_vector(col(featCol)))
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("_vec").setOutputCol("_hashes")
      .setBucketLength(bucketLength).setNumHashTables(numHashTables)
      .setSeed(42L)
    val model = lsh.fit(vecDf)
    val pairs = model.approxSimilarityJoin(vecDf, vecDf, maxDist, "_dist")
      .select(
        col("datasetA._rid").as("_a_id"),
        col(s"datasetA.$featCol").as("_a_f"),
        col("datasetB._rid").as("_b_id"),
        col(s"datasetB.$featCol").as("_b_f"),
        col("_dist"))
      .filter(col("_a_id") =!= col("_b_id"))
    val nnRep = nearestFirst(pairs, k)
      .groupBy(col("_a_f").as(featCol))
      .agg(collect_list(struct(col("_rank"), col("_b_f"))).as("_nn"))
    vecs.join(nnRep, Seq(featCol))
      .select(col(idCol),
        transform(array_sort(col("_nn")), s => s.getField("_b_f"))
          .as("neighbors"))
  }
}
