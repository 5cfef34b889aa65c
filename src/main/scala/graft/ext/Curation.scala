package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** End-to-end training-data curation: the composition story. A corpus
  * flows through quality gating → exact dedup → deterministic sampling in
  * ONE declarative plan — Catalyst fuses the quality predicates into the
  * scan, the dedup is a digest groupBy, and the sample is a pushed-down
  * filter. This is the pipeline shape that carves a training subset out
  * of 100 TB in a single pass + one shuffle.
  */
object Curation {

  /** Quality gate: length band + punctuation density cap + token floor. */
  def qualityFilter(docs: DataFrame): DataFrame =
    docs.filter(
      col("n_chars").between(80, 520) &&
        TextOps.tokenCount(col("text")) >= 15 &&
        (TextOps.punctCount(col("text")).cast("double") /
          length(col("text"))) < 0.05)

  private def pipe1Curation(s: SparkSession, d: String): DataFrame = {
    val gated = qualityFilter(Tables.documents(s, d))
    val deduped = gated.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"),
        min(col("lang")).as("lang"),
        min(col("n_chars")).as("n_chars"))
    deduped
      .filter(col("doc_id") % 5 === 0)   // deterministic 1-in-5 sample
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  // min(lang) is deterministic (dedup groups byte-identical texts, whose
  // lang metadata is identical too — min just avoids first()'s ordering
  // dependence).
  private val pipe1Sql =
    """WITH gated AS (
      |  SELECT * FROM documents
      |  WHERE n_chars BETWEEN 80 AND 520
      |    AND LEN(STR_SPLIT(text, ' ')) >= 15
      |    AND CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
      |        / LENGTH(text) < 0.05
      |), deduped AS (
      |  SELECT MIN(doc_id) AS doc_id, MIN(lang) AS lang,
      |         MIN(n_chars) AS n_chars
      |  FROM gated GROUP BY text
      |)
      |SELECT doc_id, lang, n_chars FROM deduped
      |WHERE doc_id % 5 = 0 ORDER BY doc_id""".stripMargin

  /** PIPE2: the full modern curation recipe — quality gate → exact dedup
    * → NEAR-DUP CLUSTER COLLAPSE (shingle-Jaccard pairs → connected
    * components → keep each cluster's smallest doc_id). Near-dup is
    * transitive in practice, so pair-level filtering alone under-deletes;
    * the collapse stage is what guarantees one keeper per duplicate
    * cluster. Everything is deterministic, so the whole pipeline passes
    * through the DuckDB oracle (the collapse verified by a recursive-CTE
    * transitive closure).
    */
  private def pipe2CurationFull(s: SparkSession, d: String): DataFrame = {
    val gated = qualityFilter(Tables.documents(s, d))
    val exact = gated.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"),
        min(col("lang")).as("lang"),
        min(col("n_chars")).as("n_chars"))
    val pairs = DedupOps.jaccardPairs(
      exact.select(col("doc_id"), col("text")), 3, 0.5)
    val losers = DedupOps.connectedComponents(pairs)
      .filter(col("label") =!= col("id"))
      .select(col("id").as("doc_id"))
    exact.join(losers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  private val pipe2Sql =
    s"""WITH RECURSIVE gated AS (
       |  SELECT * FROM documents
       |  WHERE n_chars BETWEEN 80 AND 520
       |    AND LEN(STR_SPLIT(text, ' ')) >= 15
       |    AND CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
       |        / LENGTH(text) < 0.05
       |), deduped AS (
       |  SELECT MIN(doc_id) AS doc_id, text, MIN(lang) AS lang,
       |         MIN(n_chars) AS n_chars
       |  FROM gated GROUP BY text
       |),
       |${DedupOps.dupPairsCteFrom("deduped")},
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM dup_pairs
       |  UNION ALL SELECT id_b, id_a FROM dup_pairs),
       |reach AS (
       |  SELECT src AS id, dst AS peer FROM edges
       |  UNION
       |  SELECT r.id, e.dst FROM reach r JOIN edges e ON e.src = r.peer),
       |losers AS (
       |  SELECT id FROM reach GROUP BY id HAVING min(peer) < id)
       |SELECT doc_id, lang, n_chars FROM deduped
       |WHERE doc_id NOT IN (SELECT id FROM losers)
       |ORDER BY doc_id""".stripMargin

  /** PIPE3: training-mix assembly — the step AFTER cleaning: quality gate
    * → exact dedup → per-source quota (≤15 docs/source, so no domain
    * dominates the mix) → deterministic global sample to the target size.
    * Every stage is a pure function of (content, seed): the mix is
    * re-derivable by any engine, which is exactly what the oracle checks
    * (full membership, not just counts).
    *
    * Scale shape: gate predicates fuse into the scan; dedup groups by the
    * 32-byte sha256 digest, NOT the raw text (unlike pipe1/pipe2, nothing
    * downstream needs text, so no document ever rides a shuffle — a plan
    * assert in CoreOpsSpec checks every exchange); the quota window
    * shuffles (source, 16-byte rank, ids); the final sample is
    * TakeOrderedAndProject. One corpus scan, two shuffles, a top-k merge.
    */
  private def pipe3TrainingMix(s: SparkSession, d: String): DataFrame = {
    val gated = qualityFilter(Tables.documents(s, d))
    val deduped = gated.groupBy(sha2(col("text"), 256).as("digest"))
      .agg(min(col("doc_id")).as("doc_id"),
        min(col("source")).as("source"),
        min(col("lang")).as("lang"))
      .select(col("doc_id"), col("source"), col("lang"))
    val quotaed = Sampling.quotaSample(deduped, "source", Seq("doc_id"), 15)
    Sampling.hashSampleMd5(quotaed, Seq("doc_id"), 100, seed = 7L)
      .orderBy(col("doc_id"))
  }

  private val pipe3Sql =
    """WITH gated AS (
      |  SELECT * FROM documents
      |  WHERE n_chars BETWEEN 80 AND 520
      |    AND LEN(STR_SPLIT(text, ' ')) >= 15
      |    AND CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
      |        / LENGTH(text) < 0.05
      |), deduped AS (
      |  SELECT MIN(doc_id) AS doc_id, MIN(source) AS source,
      |         MIN(lang) AS lang
      |  FROM gated GROUP BY sha256(text)
      |), quotaed AS (
      |  SELECT doc_id, source, lang FROM (
      |    SELECT *, row_number() OVER (PARTITION BY source
      |      ORDER BY md5(concat_ws('|', CAST(doc_id AS VARCHAR), '42')),
      |               doc_id) AS rn
      |    FROM deduped) WHERE rn <= 15
      |), mix AS (
      |  SELECT doc_id, source, lang FROM quotaed
      |  ORDER BY md5(concat_ws('|', CAST(doc_id AS VARCHAR), '7')), doc_id
      |  LIMIT 100)
      |SELECT doc_id, source, lang FROM mix ORDER BY doc_id""".stripMargin

  /** C3: overlapping token-window chunking — split every document into
    * windows of `cap` tokens advancing by `stride` (overlap = cap −
    * stride keeps context across boundaries), the precursor to
    * context-window packing in every LLM data pipeline. Map-only: one
    * sequence + slice per row, no shuffle at all — chunking 100 TB costs
    * exactly the corpus scan plus the output write.
    *
    * Chunk count = 1 + max(0, ⌈(len − cap)/stride⌉), computed in integer
    * arithmetic (`(len − cap + stride − 1) div stride`) so the Spark and
    * DuckDB sides can't drift on float ceil. Tokenization replicates the
    * d4-proven split parity (regexp \s+, empties kept by both engines).
    */
  def chunkDocs(docs: DataFrame, cap: Int, stride: Int): DataFrame = {
    require(stride > 0 && cap >= stride, "need 0 < stride <= cap")
    val toks = split(col("text"), "\\s+")
    val len = size(toks)
    // floor-div: Column./ is fractional; floor over positives == integer
    // div, and the negative (shorter-than-cap) case clamps to 0 in both
    // engines (DuckDB // is floor division too)
    val extra = greatest(
      floor((len - cap + lit(stride) - 1).cast("double") / stride), lit(0L))
    docs
      .select(col("doc_id"), toks.as("toks"),
        posexplode(sequence(lit(0L), extra)).as(Seq("chunk_id", "start")))
      .select(col("doc_id"), col("chunk_id"),
        concat_ws(" ",
          slice(col("toks"), (col("chunk_id") * stride + 1).cast("int"),
            lit(cap)))
          .as("chunk"),
        least(lit(cap),
          size(col("toks")) - col("chunk_id").cast("int") * stride)
          .as("n_tokens"))
  }

  private def c3Chunk(s: SparkSession, d: String): DataFrame =
    chunkDocs(Tables.documents(s, d), cap = 64, stride = 48)
      .orderBy(col("doc_id"), col("chunk_id"))

  private val c3Sql =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents),
      |idx AS (
      |  SELECT doc_id, t,
      |    unnest(range(0, greatest((len(t) - 64 + 47) // 48, 0) + 1)) AS i
      |  FROM toks)
      |SELECT doc_id, CAST(i AS INT) AS chunk_id,
      |  array_to_string(t[i*48+1 : i*48+64], ' ') AS chunk,
      |  CAST(least(64, len(t) - i*48) AS INT) AS n_tokens
      |FROM idx ORDER BY doc_id, chunk_id""".stripMargin

  final case class DocTokB(source: String, doc_id: Long, n_tok: Long,
      block: Long)
  final case class Packed(source: String, doc_id: Long, bin_id: Long)

  /** C4: greedy context-window packing — assign documents (in doc_id
    * order, per source) to consecutive bins of ≤ `capacity` tokens; a
    * document that would overflow starts the next bin; an oversized
    * document sits alone in its own bin. This is inherently SEQUENTIAL
    * state (each assignment depends on the running total, which resets),
    * inexpressible as a window function — exactly the
    * KeyValueGroupedDataset case from the extension preference order
    * (same typed-API tool as the e6 sessionizer).
    *
    * Skew safety, in two layers:
    *  1. Key-range pre-split: block = doc_id div `blockSize` — a pure
    *     MAP-SIDE label (no window, no rank: a row_number pre-split
    *     would itself funnel the dominant source through one ranking
    *     task before any block existed — the very skew it claims to
    *     fix). Packing runs per (source, block); each task sees at most
    *     `blockSize` docs (distinct non-negative doc ids in one range —
    *     sparse ids just make blocks smaller, never bigger), so one
    *     dominant source (half the corpus in one domain — the realistic
    *     crawl shape) splits across its doc_id ranges instead of landing
    *     whole in one task. Blocks pack independently into DISJOINT
    *     bin-id ranges (block·blockSize + local bin — at most one bin
    *     per doc, so ranges can't collide); only the block-boundary
    *     bins may under-fill, the standard distributed-packing
    *     tradeoff. With blockSize above the max doc_id there is one
    *     block per source and the ids and fills are exactly the
    *     sequential greedy fold's — which is what the DuckDB oracle
    *     checks.
    *  2. Streaming fold: `flatMapSortedGroups` hands each task a
    *     doc_id-SORTED iterator (Spark's spillable sort, not an in-task
    *     buffer), and the fold itself carries O(1) state — no
    *     `toIndexedSeq`, so even a block is never materialized in task
    *     memory.
    */
  def packBins(docs: DataFrame, capacity: Long,
      blockSize: Long = 1L << 20): DataFrame = {
    require(blockSize > 0, "blockSize must be positive")
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("source"), col("doc_id"), col("n_tok"))
      // integral `div`: exact at any doc_id magnitude (truncation ==
      // floor for the non-negative ids this op requires)
      .withColumn("block", expr(s"doc_id div $blockSize"))
      .as[DocTokB]
      .groupByKey(r => (r.source, r.block))
      .flatMapSortedGroups(col("doc_id")) {
        case ((src: String, block: Long), it: Iterator[DocTokB]) =>
          var bin = block * blockSize
          var acc = 0L
          it.map { d =>
            if (acc > 0 && acc + d.n_tok > capacity) { bin += 1; acc = 0 }
            acc += d.n_tok
            Packed(src, d.doc_id, bin)
          }
      }
      .toDF()
  }

  private def c4Packing(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
    // The recursive-CTE oracle walks each source SEQUENTIALLY, so its
    // equivalence needs one block per source — guaranteed by construction
    // when blockSize > max(doc_id), not by hoping ids stay under the 2^20
    // default. One column-pruned max() agg derives it (at hash-gate scale
    // this is trivial; the production entry point is packBins itself,
    // where callers size blockSize to their skew target, not to oracle
    // equivalence).
    val maxId = docs.agg(max(col("doc_id"))).first() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    packBins(docs, capacity = 512L, blockSize = maxId + 1)
      .orderBy(col("source"), col("doc_id"))
  }

  /** Oracle: the same greedy fold as a recursive CTE walking each
    * source's docs in doc_id order, carrying (bin, running total).
    */
  private val c4Sql =
    """WITH RECURSIVE toks AS (
      |  SELECT source, doc_id, LEN(STR_SPLIT(text, ' ')) AS n_tok,
      |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      |  FROM documents),
      |pack AS (
      |  SELECT source, doc_id, n_tok, rn,
      |         CAST(0 AS BIGINT) AS bin_id, n_tok AS acc
      |  FROM toks WHERE rn = 1
      |  UNION ALL
      |  SELECT t.source, t.doc_id, t.n_tok, t.rn,
      |    CASE WHEN p.acc + t.n_tok > 512 THEN p.bin_id + 1
      |         ELSE p.bin_id END,
      |    CASE WHEN p.acc + t.n_tok > 512 THEN t.n_tok
      |         ELSE p.acc + t.n_tok END
      |  FROM pack p JOIN toks t ON t.source = p.source AND t.rn = p.rn + 1)
      |SELECT source, doc_id, bin_id FROM pack
      |ORDER BY source, doc_id""".stripMargin

  // ---- C5: deterministic sharding (the training-shuffle landing) ---------
  /** Assign every document a shard in [0, numShards) from the md5 of its
    * key and seed — the final "shuffle the corpus into N training
    * shards" step of a data pipeline. MAP-ONLY and layout-independent:
    * shard identity is a pure function of (key, seed), so re-runs,
    * repartitioned inputs, and other engines place every row in the same
    * shard (membership is the oracle, not just shard sizes). Writing the
    * shards is then `df.write.partitionBy("shard")` — the s7 sink shape.
    *
    * The shard index is the first two md5 hex chars mod numShards —
    * portable arithmetic both engines compute identically (numShards is
    * capped at 256 = 2 hex chars; enough output shards come from
    * partitionBy on (shard, file split) at any scale).
    */
  def shardAssign(df: DataFrame, keyCols: Seq[String], numShards: Int,
      seed: Long = 42L): DataFrame = {
    require(numShards >= 1 && numShards <= 256,
      s"numShards must be in [1, 256], got $numShards")
    val key = concat_ws("|",
      (keyCols.map(c => col(c).cast("string")) :+ lit(seed.toString)): _*)
    df.withColumn("shard",
      (conv(substring(md5(key), 1, 2), 16, 10).cast("long")
        % numShards).cast("int"))
  }

  // ---- C7: seeded epoch shuffle --------------------------------------------
  /** C7: the reproducible training-order manifest — a seeded global
    * permutation of the corpus, sharded (c5's assignment) and ORDERED
    * within each shard, so every training run (and every resume) reads
    * the identical byte order for a given (corpus, epoch) pair. The
    * permutation key is md5(doc_id|epoch) ranked lexicographically with
    * doc_id tie-break — the m3/c2 engine-portable rank discipline, so
    * MEMBERSHIP AND ORDER hash-check cross-engine.
    *
    * Scale: one map-side hash per row + one shuffle keyed by shard with
    * a within-shard sort bounded by shard size (shards are the write
    * unit, thousands at 100 TB — never a global sort). A new epoch is a
    * new seed: full reshuffle, zero state.
    */
  private def c7EpochShuffle(s: SparkSession, d: String): DataFrame = {
    val epoch = 7L
    val keyed = graft.Tables.documents(s, d)
      .select(col("doc_id"),
        md5(concat_ws("|", col("doc_id").cast("string"),
          lit(s"epoch$epoch"))).as("_r"))
    val sharded = shardAssign(keyed, Seq("doc_id"), 10, seed = epoch)
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("_r"), col("doc_id"))
    sharded.withColumn("position", row_number().over(w))
      .select(col("doc_id"), col("shard"), col("position"))
      .orderBy(col("shard"), col("position"))
  }

  private val c7Sql =
    """WITH h AS (
      |  SELECT doc_id,
      |    md5(concat_ws('|', CAST(doc_id AS VARCHAR), 'epoch7')) AS r,
      |    substr(md5(concat_ws('|', CAST(doc_id AS VARCHAR), '7')),
      |           1, 2) AS h2
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, r,
      |    CAST(((strpos('0123456789abcdef', substr(h2, 1, 1)) - 1) * 16 +
      |          (strpos('0123456789abcdef', substr(h2, 2, 1)) - 1)) % 10
      |      AS INT) AS shard
      |  FROM h)
      |SELECT doc_id, shard,
      |  CAST(row_number() OVER (PARTITION BY shard ORDER BY r, doc_id)
      |    AS INT) AS position
      |FROM sh ORDER BY shard, position""".stripMargin

  private def c5Sharding(s: SparkSession, d: String): DataFrame =
    shardAssign(graft.Tables.documents(s, d), Seq("doc_id"), 10)
      .select(col("doc_id"), col("shard"))
      .orderBy(col("doc_id"))

  /** Oracle: the same two-hex-char value reassembled from strpos-decoded
    * nibbles (DuckDB has no hex→int conv), mod the same shard count.
    */
  private val c5Sql =
    """WITH h AS (
      |  SELECT doc_id,
      |         substr(md5(concat_ws('|', CAST(doc_id AS VARCHAR), '42')),
      |                1, 2) AS h2
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(((strpos('0123456789abcdef', substr(h2, 1, 1)) - 1) * 16 +
      |        (strpos('0123456789abcdef', substr(h2, 2, 1)) - 1)) % 10
      |    AS INT) AS shard
      |FROM h ORDER BY doc_id""".stripMargin

  // ---- PIPE4: curation v2 — span removal inside the pipeline --------------
  /** The round-11 composition: quality gate → exact-substring SPAN REMOVAL
    * (d13 — duplicated spans are cut from surviving documents, not just
    * counted) → exact dedup of the CLEANED text (documents that differed
    * only in boilerplate now collapse) → deterministic 1-in-5 sample. One
    * declarative plan: Catalyst pushes the gate into the scan, d13's gram
    * exchange runs over gated documents only, and the dedup groups the
    * post-removal text — the order a production pipeline wants, because
    * span removal BEFORE dedup is what makes boilerplate-wrapped
    * duplicates visible to the exact pass. Uses [[DedupOps
    * .substringDecision]] (the unordered core) so no wasted sort sits
    * under the dedup's own exchange.
    */
  private def pipe4CurationV2(s: SparkSession, d: String): DataFrame = {
    val gated = qualityFilter(Tables.documents(s, d))
    DedupOps.substringDecision(gated)
      .groupBy(col("kept_text"))
      .agg(min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("n_copies"),
        min(col("n_kept")).as("n_kept"))
      .filter(col("keep_doc_id") % 5 === 0)
      .select(col("keep_doc_id"), col("n_copies"), col("n_kept"))
      .orderBy(col("keep_doc_id"))
  }

  private val pipe4Sql =
    """WITH gated AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE n_chars BETWEEN 80 AND 520
      |    AND LEN(STR_SPLIT(text, ' ')) >= 15
      |    AND CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
      |        / LENGTH(text) < 0.05),
      |d AS (SELECT doc_id, str_split(text, ' ') AS arr FROM gated),
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
      |cut AS (
      |  SELECT d.doc_id,
      |         COALESCE(ka.n_kept, 0) AS n_kept,
      |         COALESCE(ka.kept_text, '') AS kept_text
      |  FROM d LEFT JOIN ka USING (doc_id))
      |SELECT MIN(doc_id) AS keep_doc_id,
      |       CAST(COUNT(*) AS BIGINT) AS n_copies,
      |       MIN(n_kept) AS n_kept
      |FROM cut GROUP BY kept_text
      |HAVING MIN(doc_id) % 5 = 0
      |ORDER BY keep_doc_id""".stripMargin

  val qs: Seq[(String, Q)] = Seq(
    "pipe1_curation" -> Q(pipe1Curation, Some(pipe1Sql)),
    "pipe4_curation_v2" -> Q(pipe4CurationV2, Some(pipe4Sql)),
    "c5_sharding" -> Q(c5Sharding, Some(c5Sql)),
    "c7_epoch_shuffle" -> Q(c7EpochShuffle, Some(c7Sql)),
    "pipe2_curation_full" -> Q(pipe2CurationFull, Some(pipe2Sql)),
    "pipe3_training_mix" -> Q(pipe3TrainingMix, Some(pipe3Sql)),
    "c3_chunking" -> Q(c3Chunk, Some(c3Sql)),
    "c4_packing" -> Q(c4Packing, Some(c4Sql)),
  )
}
