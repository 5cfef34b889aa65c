package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{SparkEntry, Tables}
import graft.ext.{DedupOps, MultimodalOps}

/** One-shot generator for the frozen test fixtures under
  * `src/test/resources/fixtures` — the hard gates for outputs DuckDB
  * cannot oracle (seeded-xxhash sketches d2/d3, approximate ANN top-k
  * [[annBuilders]], the real-decode mm1 features).
  *
  * Freezing discipline: a fixture is generated ONCE from a verified
  * implementation and committed; regeneration is only legitimate after an
  * intentional, reviewed semantic change (git history is the freeze).
  * Existing fixtures are therefore NOT overwritten unless `--force` is
  * passed.
  *
  * Usage (sbt): `runMain graft.tools.GenFixtures [--force]`
  */
object GenFixtures {
  private val OutBase = "src/test/resources/fixtures"

  /** The raw ANN top-k builders, by query name: each runs the serve its
    * registered gate wraps, on the 5-probe query set (`vec_id < 5`) at
    * k = 10 (x7: the all-pairs join at k = 3). GenFixtures freezes their
    * output, AnnFixtureSpec replays it at sf0.01 and sf0.1, and
    * RecallProbe measures each one's recall.
    */
  val annBuilders: Seq[(String, (SparkSession, String) => DataFrame)] = {
    import graft.ext.SimilarityOps._
    def q5(serve: (SparkSession, String, DataFrame) => DataFrame)(
        s: SparkSession, d: String): DataFrame =
      serve(s, d, Tables.embeddings(s, d).filter(col("vec_id") < 5))
        .select(col("q_id"), col("rank"), col("c_id"), col("sim"))
        .orderBy(col("q_id"), col("rank"))
    Seq(
      "x2" -> q5((s, d, q) => lshTopK(Tables.embeddings(s, d), q, 10,
        bits = 4, probeFlips = X2ProbeFlips)),
      "x4" -> q5((s, d, q) => ivfTopK(Tables.embeddings(s, d), q, 10)),
      "x5" -> q5((s, d, q) => sq8TopK(Tables.embeddings(s, d), q, 10)),
      "x7" -> x7KnnJoin _,
      "x8" -> q5((s, d, q) => ivfSq8TopK(Tables.embeddings(s, d), q, 10)),
      "x9" -> q5((s, d, q) => pqTopK(Tables.embeddings(s, d), q, 10)),
      "x18" -> q5(knnGraphBeamTopK(_, _, _, 10)),
      "x19" -> q5(hnswTopK(_, _, _, 10)),
      "x21" -> q5(graphSq8TopK(_, _, _, 10)),
      "x22" -> x22FilteredTopK _,
      "x10b" -> q5((s, d, q) =>
        ivfTopK(Tables.embeddings(s, d), q, 10, matchLabel = true)),
      "x11" -> q5 { (s, d, q) =>
        val emb = Tables.embeddings(s, d)
        ivfTopKIncremental(emb.filter(col("vec_id") % 10 =!= 0),
          emb.filter(col("vec_id") % 10 === 0), q, 10)
      },
      "x11b" -> q5(ivfAppendedTopK(_, _, _, 10)),
      "e20" -> q5(ivfStreamedTopK(_, _, _, 10)),
      "x12" -> q5(ivfPersistedTopK(_, _, _, 10)),
      "x15" -> q5(ivfCompactedTopK(_, _, _, 10)),
      "x16" -> q5(ivfPqPersistedTopK(_, _, _, 10)),
      "x17" -> q5(ivfPersistedFilteredTopK(_, _, _, 10)),
      "x18b" -> q5((s, d, q) => beamSearchGraph(s, x18bDir(s, d), q, 10)),
      "x20" -> q5((s, d, q) =>
        beamSearchGraph(s, x20CompactDir(s, d), q, 10)),
      "e26" -> q5((s, d, q) =>
        beamSearchGraph(s, e26LayoutDir(s, d), q, 10)))
  }

  def main(args: Array[String]): Unit = {
    val force = args.contains("--force")
    // mirror SparkSpec's session shape — fixtures are consumed there
    // (the outputs are partitioning-independent, but identical configs
    // remove a variable)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def write(name: String)(df: => DataFrame): Unit = {
      val path = Paths.get(OutBase, name)
      if (Files.exists(path) && !force) {
        println(s"[genfixtures] keep   $name (exists; --force to regenerate)")
      } else {
        df.coalesce(1).write.mode("overwrite").parquet(path.toString)
        println(s"[genfixtures] wrote  $name")
      }
    }

    for ((dir, tag) <- Seq("/root/testdata/sf0.01" -> "sf0.01",
        "/root/testdata/sf0.1" -> "sf0.1")) {
      // d2/d3: same call shapes as SketchFixtureSpec
      write(s"d2_pairs_$tag") {
        DedupOps.minhashPairs(Tables.documents(spark, dir))
      }
      write(s"d3_simhash_$tag") {
        DedupOps.simhashTable(Tables.documents(spark, dir))
      }
      // ANN raw top-k builders: frozen as data (AnnFixtureSpec). The
      // registered queries wrap these in bounded recall gates, so the
      // fixtures pin the builders directly.
      for ((short, build) <- annBuilders)
        write(s"${short}_topk_$tag") { build(spark, dir) }
    }
    // mm1: real-decode features over synthesized media (MultimodalSpec),
    // frozen at BOTH SFs like the sketch/ANN fixtures
    for ((dir, tag) <- Seq("/root/testdata/sf0.01" -> "sf0.01",
        "/root/testdata/sf0.1" -> "sf0.1"))
      write(s"mm1_$tag") {
        MultimodalOps.extractFeatures(spark,
            MultimodalOps.synthesizeMedia(Tables.documents(spark, dir)))
          .select(col("doc_id"), col("media_type"), col("n_bytes"),
            col("features"))
      }
    // Fixture-replay ORACLE tables (graft.util.OracleFixtures): the
    // registered query output — corpus_key column included — frozen at
    // both SFs into one directory the DuckDB oracle reads back with
    // read_parquet and filters by the current corpus key.
    // sf0.001 included since the 2026-08-19 regen: its document corpus is
    // no longer byte-identical to sf0.01's, so it needs its own corpus_key
    // rows in the replay table.
    for (name <- Seq("d2_minhash_pairs", "d3_simhash", "mm1_media_features",
        "mm3_resize", "mm4_phash_neardup", "mm5_audio_neardup",
        "t19_bpe_merges", "mm6_scene_cuts"))
      write(s"oracle/$name") {
        Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
            "/root/testdata/sf0.1")
          .map(SparkEntry.queries(name)(spark, _))
          .reduce(_ unionByName _)
      }
    spark.stop()
  }
}
