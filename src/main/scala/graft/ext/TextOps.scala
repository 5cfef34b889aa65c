package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.util.{Artifacts, Ranks}

/** Text-analysis operators for LLM training-data pipelines (north-star
  * extension; BASELINE.json). All operate on the `documents` table and are
  * pure per-row expressions — embarrassingly parallel, codegen'd, no
  * shuffle, no UDF: exactly what survives a 100 TB scan.
  */
object TextOps {

  private val Stopwords = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "was", "for", "on", "with", "as", "at", "by", "be", "this")

  /** Whitespace token count: split on single space (documents are
    * single-spaced synthetic text).
    */
  def tokenCount(text: Column): Column = size(split(text, " "))

  /** BPE-ish regex token count: letter runs, digit runs, single punct. */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Stopword hits (with duplicates) over lowercased whitespace tokens. */
  def stopwordCount(text: Column): Column =
    size(filter(split(lower(text), " "),
      w => w.isin(Stopwords: _*)))

  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,!?;:]", ""))

  // ---- T1: per-document stats -------------------------------------------
  private def t1TextStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_actual"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        regexTokenCount(col("text")).cast("long").as("n_regex_tokens"),
        punctCount(col("text")).cast("long").as("n_punct"),
        stopwordCount(col("text")).cast("long").as("n_stopwords"))
      .orderBy(col("doc_id"))

  private val t1Sql = {
    val stop = Stopwords.map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id,
       |  CAST(LENGTH(text) AS BIGINT) AS n_chars_actual,
       |  CAST(LEN(STR_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
       |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_regex_tokens,
       |  CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       |  CAST(LEN(LIST_FILTER(STR_SPLIT(LOWER(text), ' '), w -> w IN ($stop))) AS BIGINT) AS n_stopwords
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---- T2: corpus quality aggregate by lang ------------------------------
  // Quality heuristics (length / punct density / stopword ratio) rolled up
  // per language — single-pass agg after per-row expressions.
  private def t2QualityByLang(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"),
        length(col("text")).cast("long").as("len"),
        tokenCount(col("text")).cast("long").as("toks"),
        punctCount(col("text")).cast("long").as("punct"),
        stopwordCount(col("text")).cast("long").as("stop"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("len")).as("sum_chars"),
        sum(col("toks")).as("sum_tokens"),
        (sum(col("punct")).cast("double") / sum(col("len"))).as("punct_ratio"),
        (sum(col("stop")).cast("double") / sum(col("toks"))).as("stopword_ratio"))
      .orderBy(col("lang"))

  private val t2Sql = {
    val stop = Stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH per_doc AS (
       |  SELECT lang,
       |    CAST(LENGTH(text) AS BIGINT) AS len,
       |    CAST(LEN(STR_SPLIT(text, ' ')) AS BIGINT) AS toks,
       |    CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS punct,
       |    CAST(LEN(LIST_FILTER(STR_SPLIT(LOWER(text), ' '), w -> w IN ($stop))) AS BIGINT) AS stop
       |  FROM documents)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(len) AS BIGINT) AS sum_chars,
       |  CAST(SUM(toks) AS BIGINT) AS sum_tokens,
       |  CAST(SUM(punct) AS DOUBLE) / SUM(len) AS punct_ratio,
       |  CAST(SUM(stop) AS DOUBLE) / SUM(toks) AS stopword_ratio
       |FROM per_doc GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---- T3: language-ID heuristic (no SQL oracle: model-like logic) -------
  // Per-language stopword profiles; argmax of hit counts. Spec-checked
  // against the `lang` column for accuracy instead of an oracle.
  private[graft] val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "was", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "pour", "que", "dans", "avec"),
    "es" -> Seq("el", "la", "los", "y", "es", "una", "para", "que", "con", "por"))

  def langScore(text: Column, markers: Seq[String]): Column =
    size(filter(split(lower(text), " "), w => w.isin(markers: _*)))

  def langId(text: Column): Column = {
    val scored = LangMarkers.toSeq.sortBy(_._1).map { case (l, ms) =>
      struct(langScore(text, ms).as("score"), lit(l).as("lang"))
    }
    // argmax by (score, lang) — deterministic tie-break on lang name
    val best = greatest(scored: _*)
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("unknown"))
  }

  /** The registered query runs the single-pass kernel
    * (functions.LangIdExpr — one call per row instead of four interpreted
    * filter∘isin lambda passes); [[langId]] above is the expression form,
    * spec-asserted identical.
    */
  private def t3LangId(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"),
        graft.functions.TextKernelFns.langId(s, col("text"), LangMarkers.toSeq)
          .as("pred"))
      .groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred"))

  /** Oracle generated from the SAME [[LangMarkers]] map (the two sides
    * cannot drift): per-language stopword hit counts via the identical
    * single-space split, then the argmax with Spark's greatest-of-structs
    * tie-break — ties go to the LARGEST lang name among the tied top
    * scores, replicated by testing langs in reverse-alphabetical order.
    */
  private val t3Sql = {
    val langs = LangMarkers.toSeq.sortBy(_._1)
    val scoreCols = langs.map { case (l, ms) =>
      val inList = ms.map(m => s"'$m'").mkString(", ")
      s"len(list_filter(string_split(lower(text), ' '), w -> w IN ($inList))) AS s_$l"
    }.mkString(",\n    ")
    val g = langs.map("s_" + _._1).mkString("greatest(", ", ", ")")
    val branches = langs.reverse.init
      .map { case (l, _) => s"WHEN s_$l = $g THEN '$l'" }
      .mkString("\n      ")
    s"""WITH scored AS (
       |  SELECT lang,
       |    $scoreCols
       |  FROM documents),
       |p AS (
       |  SELECT lang,
       |    CASE WHEN $g = 0 THEN 'unknown'
       |      $branches
       |      ELSE '${langs.head._1}' END AS pred
       |  FROM scored)
       |SELECT lang, pred, CAST(count(*) AS BIGINT) AS n
       |FROM p GROUP BY lang, pred ORDER BY lang, pred""".stripMargin
  }

  // ---- T4: document fingerprints (rolling polynomial + sha256) -----------
  // Two content fingerprints, both engine-neutral and ORACLE-CHECKED
  // (promoted from rows-only in round 4): a polynomial rolling hash over
  // unicode codepoints — h := (h·31 + cp) mod (2³¹−1), the codegen kernel
  // functions/TextKernels.polyFingerprint, reproduced in DuckDB by a
  // list_reduce fold — and sha256, which both engines hash identically.
  // (The engine-specific xxhash64 remains the workhorse inside d1/d2/d3,
  // where the frozen sketch fixtures pin its behavior.)
  private def t4Fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.TextKernelFns.polyFingerprint(s, col("text"))
          .as("poly_fp"),
        sha2(col("text"), 256).as("sha256_fp"))
      .orderBy(col("doc_id"))

  private val t4Sql =
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(text, ''),
      |                     c -> CAST(unicode(c) AS BIGINT))),
      |    (h, c) -> (h * 31 + c) % 2147483647) AS poly_fp,
      |  sha256(text) AS sha256_fp
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- T5: corpus length distribution (exact discrete quantiles) ---------
  // percentile_disc picks actual data values — engine-neutral, unlike
  // interpolated quantiles whose blend arithmetic can differ in the ulp.
  private def t5LengthQuantiles(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n"),
        min(col("n_chars")).as("min_chars"),
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars)")
          .cast("long").as("p25"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)")
          .cast("long").as("p50"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars)")
          .cast("long").as("p75"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("lang"))

  private val t5Sql =
    """SELECT lang, COUNT(*) AS n,
      |  MIN(n_chars) AS min_chars,
      |  CAST(PERCENTILE_DISC(0.25) WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS p25,
      |  CAST(PERCENTILE_DISC(0.5)  WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS p50,
      |  CAST(PERCENTILE_DISC(0.75) WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS p75,
      |  MAX(n_chars) AS max_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---- T7: exact corpus-wide top tokens (heavy hitters, exact path) -----
  // Explode → count → top-k with tie-break. The bounded-memory sketch
  // alternative for 100 TB is functions.MisraGries (spec-tested).
  private def t7TopTokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(20)

  private val t7Sql =
    """SELECT tok, COUNT(*) AS n FROM (
      |  SELECT UNNEST(STR_SPLIT(LOWER(text), ' ')) AS tok FROM documents)
      |WHERE LENGTH(tok) > 0
      |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin

  // ---- T15: Misra–Gries heavy hitters with a bounded gate ----------------
  /** The sketch path t7's comment reserves, registered with a driver-
    * checkable oracle (a7/a10 bounded-gate pattern): run the
    * [[graft.functions.MisraGries]] k=500 summary over the full token
    * stream, then report the EXACT top-10 tokens (t7's machinery — the
    * engine-neutral payload DuckDB recomputes verbatim) with two flags
    * the sketch's guarantee makes deterministic under ANY partition
    * merge order: every top token was retained by the sketch
    * (guaranteed whenever true share > N/k), and its estimate
    * undercounts by at most ⌈N/k⌉ (the MG invariant — estimates never
    * overcount and total decrements are ≤ N/k). The estimates
    * themselves stay out of the hashed columns: they are merge-order-
    * dependent inside the bound, the flags are not.
    *
    * Scale: the sketch is the 100 TB path — a k-entry map per
    * partition, merged associatively, ~0 shuffle; the exact top-10
    * payload is the verification harness, not the operator (at scale
    * you'd gate on a sampled slice the same way).
    */
  private def t15HeavyHitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 500
    val toks = Tables.documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val tokDs = toks.as[String]
    // the sketch output encoder is kryo (BINARY column) — fetch the ONE
    // k-entry summary row (a bounded aggregate, the S3/ClassificationReport
    // collect class: ≤ k entries regardless of data size) and re-lift it
    val summary: Map[String, Long] =
      tokDs.select(new graft.functions.MisraGries(k).toColumn).head()
    val est = summary.toSeq.toDF("tok", "est")
    val total = toks.agg(count(lit(1)).as("total_n"))
    val top10 = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(10)
    top10.join(broadcast(est), Seq("tok"), "left")
      .crossJoin(broadcast(total))
      .select(col("tok"), col("n"),
        col("est").isNotNull.as("mg_found"),
        (col("n") - coalesce(col("est"), lit(0L))).between(
          lit(0L), expr(s"(total_n + ${k - 1}) div $k")).as("mg_within_bound"))
      .orderBy(col("n").desc, col("tok"))
  }

  private val t15Sql =
    """SELECT tok, n, TRUE AS mg_found, TRUE AS mg_within_bound FROM (
      |  SELECT tok, COUNT(*) AS n FROM (
      |    SELECT UNNEST(STR_SPLIT(LOWER(text), ' ')) AS tok FROM documents)
      |  WHERE LENGTH(tok) > 0
      |  GROUP BY tok ORDER BY n DESC, tok LIMIT 10)
      |ORDER BY n DESC, tok""".stripMargin

  // ---- T8: scalar string-function battery --------------------------------
  // upper/lower/trim/substring/concat/lpad/replace/position — the scalar
  // string surface, engine-checked in one pass over customer names.
  private def t8StringFuncs(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select(col("c_custkey"),
        upper(col("c_name")).as("up"),
        lower(col("c_mktsegment")).as("lo"),
        substring(col("c_name"), 1, 8).as("sub"),
        concat_ws("-", col("c_mktsegment"), col("c_custkey")).as("cat"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("padded"),
        regexp_replace(col("c_name"), "Customer", "Cust").as("repl"),
        instr(col("c_name"), "#").cast("long").as("pos"),
        length(trim(col("c_name"))).cast("long").as("trimlen"))
      .orderBy(col("c_custkey"))

  private val t8Sql =
    """SELECT c_custkey,
      |  UPPER(c_name) AS up, LOWER(c_mktsegment) AS lo,
      |  SUBSTRING(c_name, 1, 8) AS sub,
      |  CONCAT_WS('-', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS cat,
      |  LPAD(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
      |  REGEXP_REPLACE(c_name, 'Customer', 'Cust', 'g') AS repl,
      |  CAST(STRPOS(c_name, '#') AS BIGINT) AS pos,
      |  CAST(LENGTH(TRIM(c_name)) AS BIGINT) AS trimlen
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ---- T9: array-function battery ----------------------------------------
  // sort/distinct/contains/slice over token arrays — the array surface,
  // aligned with DuckDB list functions (both sort strings bytewise).
  private def t9ArrayFuncs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        split(lower(col("text")), " ").as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_toks"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        array_contains(col("toks"), "the").as("has_the"),
        concat_ws("|", slice(sort_array(array_distinct(col("toks"))), 1, 3))
          .as("first3_sorted"),
        element_at(col("toks"), 1).as("first_tok"),
        element_at(col("toks"), -1).as("last_tok"))
      .orderBy(col("doc_id"))

  private val t9Sql =
    """SELECT doc_id,
      |  CAST(LEN(toks) AS BIGINT) AS n_toks,
      |  CAST(LEN(LIST_DISTINCT(toks)) AS BIGINT) AS n_distinct,
      |  LIST_CONTAINS(toks, 'the') AS has_the,
      |  ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(toks))[1:3], '|') AS first3_sorted,
      |  toks[1] AS first_tok,
      |  toks[-1] AS last_tok
      |FROM (SELECT doc_id, STR_SPLIT(LOWER(text), ' ') AS toks FROM documents)
      |ORDER BY doc_id""".stripMargin

  // ---- T10: redaction (PII-style masking pass) ---------------------------
  // Digit runs → '#', long shouty tokens lowercased — the masking shape of
  // a PII scrub, as pure regexp expressions (same semantics in Java regex
  // and RE2 for these patterns).
  def redact(text: Column): Column =
    regexp_replace(regexp_replace(text, "[0-9]+", "#"),
      "\\b[A-Z]{4,}\\b", "___")

  private def t10Redaction(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), redact(col("text")).as("redacted"),
        (length(col("text")) - length(redact(col("text"))))
          .cast("long").as("chars_removed"))
      .orderBy(col("doc_id"))

  private val t10Sql =
    """SELECT doc_id,
      |  REGEXP_REPLACE(REGEXP_REPLACE(text, '[0-9]+', '#', 'g'),
      |                 '\b[A-Z]{4,}\b', '___', 'g') AS redacted,
      |  CAST(LENGTH(text) -
      |       LENGTH(REGEXP_REPLACE(REGEXP_REPLACE(text, '[0-9]+', '#', 'g'),
      |                             '\b[A-Z]{4,}\b', '___', 'g')) AS BIGINT)
      |    AS chars_removed
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- T11: repetition profile (Gopher-style repetition filters) ---------
  /** Per-document repetition signals: most-frequent-token share,
    * most-frequent-consecutive-bigram share, longest same-token run, and
    * distinct-token fraction — the signals Gopher-style curation uses to
    * drop boilerplate/looping documents. The counts come from the
    * single-pass codegen kernel (functions/TextKernels.repetitionStats;
    * a pure-expression mode-of-array would be O(n²) interpreted); only
    * COUNTS leave the kernel, never an argmax token, so tie-breaks can't
    * diverge and the plain-SQL oracle reproduces every field. Map-only:
    * at 100 TB this is one corpus scan, no shuffle.
    */
  private def t11Repetition(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      // null-text docs are excluded on BOTH sides (the oracle's inner
      // joins drop token-less docs): without this, a null text would
      // emit a null-stats row here and no row there
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.TextKernelFns.repetitionStats(s, col("text")).as("r"))
      .select(col("doc_id"),
        col("r.n_toks").as("n_toks"),
        col("r.n_distinct").as("n_distinct"),
        col("r.top_tok_n").as("top_tok_n"),
        col("r.top_bigram_n").as("top_bigram_n"),
        col("r.max_run").as("max_run"))
      .withColumn("top_tok_frac",
        col("top_tok_n").cast("double") / col("n_toks"))
      .withColumn("top_bigram_frac",
        when(col("n_toks") > 1,
          col("top_bigram_n").cast("double") / (col("n_toks") - 1))
          .otherwise(lit(0.0)))
      .withColumn("distinct_frac",
        col("n_distinct").cast("double") / col("n_toks"))
      .withColumn("repetitive",
        col("top_bigram_frac") > 0.1 || col("max_run") >= 3)
      .orderBy(col("doc_id"))

  /** Oracle: token positions via unnest(range), top token/bigram by
    * group-count-max, max run by gaps-and-islands (position minus
    * per-token row_number), same small-integer divisions → bit-exact.
    */
  private val t11Sql =
    """WITH toks AS (
      |  SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents
      |  WHERE text IS NOT NULL),
      |pos AS (
      |  SELECT doc_id, t, unnest(range(1, len(t)+1)) AS i FROM toks),
      |tok AS (SELECT doc_id, i, t[i] AS tok FROM pos),
      |runs AS (
      |  SELECT doc_id, tok,
      |         i - ROW_NUMBER() OVER (PARTITION BY doc_id, tok ORDER BY i) AS grp
      |  FROM tok),
      |maxrun AS (
      |  SELECT doc_id, MAX(c) AS max_run FROM (
      |    SELECT doc_id, CAST(count(*) AS BIGINT) AS c
      |    FROM runs GROUP BY doc_id, tok, grp) GROUP BY doc_id),
      |tc AS (
      |  SELECT doc_id, MAX(c) AS top_tok_n FROM (
      |    SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
      |    FROM tok GROUP BY doc_id, tok) GROUP BY doc_id),
      |bg AS (
      |  SELECT doc_id, MAX(c) AS top_bigram_n FROM (
      |    SELECT doc_id, t[i] || ' ' || t[i+1] AS b,
      |           CAST(count(*) AS BIGINT) AS c
      |    FROM pos WHERE i < len(t) GROUP BY doc_id, b) GROUP BY doc_id),
      |base AS (
      |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_toks,
      |         CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct
      |  FROM toks),
      |j AS (
      |  SELECT base.doc_id, n_toks, n_distinct, top_tok_n,
      |         COALESCE(top_bigram_n, 0) AS top_bigram_n, max_run,
      |         CAST(top_tok_n AS DOUBLE) / n_toks AS top_tok_frac,
      |         CASE WHEN n_toks > 1
      |              THEN CAST(COALESCE(top_bigram_n, 0) AS DOUBLE) / (n_toks - 1)
      |              ELSE 0.0 END AS top_bigram_frac,
      |         CAST(n_distinct AS DOUBLE) / n_toks AS distinct_frac
      |  FROM base
      |  JOIN tc ON tc.doc_id = base.doc_id
      |  JOIN maxrun ON maxrun.doc_id = base.doc_id
      |  LEFT JOIN bg ON bg.doc_id = base.doc_id)
      |SELECT doc_id, n_toks, n_distinct, top_tok_n, top_bigram_n, max_run,
      |       top_tok_frac, top_bigram_frac, distinct_frac,
      |       (top_bigram_frac > CAST(0.1 AS DOUBLE) OR max_run >= 3)
      |         AS repetitive
      |FROM j ORDER BY doc_id""".stripMargin

  // ---- T12: bigram-LM quality score (the perplexity-filtering shape) ----
  /** Corpus-trained statistical LM filter — the classic pretraining
    * quality signal (CCNet/Gopher-style perplexity filtering), with the
    * model trained on the corpus itself. Per document, the mean
    * stupid-backoff bigram probability over positions i ≥ 1:
    *
    *   p(wᵢ | wᵢ₋₁) = c(wᵢ₋₁ wᵢ) / c(wᵢ₋₁)   when the bigram was seen,
    *                  0.4 · c(wᵢ) / N          otherwise (backoff).
    *
    * The score is a mean PROBABILITY, deliberately not a log-perplexity:
    * IEEE requires division to be correctly rounded but NOT log(), whose
    * last ulp may differ between the JVM and DuckDB's libm — with
    * divisions only, every arithmetic step is bit-identical
    * cross-engine. The per-doc sum folds in CANONICAL position order
    * (sort_array → aggregate fold ≡ DuckDB list(p ORDER BY pos) →
    * list_reduce, both seeded at the first element since 0.0 + p₁ ≡ p₁),
    * so the float sum has one defined order on both engines; the 6-dp
    * round is belt-and-braces, not the parity mechanism.
    *
    * Scale: counting is two map-side-combined aggregations; the unigram
    * model is vocabulary-sized (hash join or broadcast), the bigram
    * lookup is a hash join on (w1, w2); nothing collects to the driver.
    * The per-doc
    * fold is an interpreted HOF over ≤ tokens-per-doc elements —
    * bounded, and off the hot counting path. Docs with < 2 tokens have
    * no bigrams and drop out on both engines.
    */
  def lmScore(docs: DataFrame): DataFrame = {
    val arr = docs.select(col("doc_id"),
      split(lower(col("text")), "\\s+").as("t"))
    val toks = arr.select(explode(col("t")).as("tok"))
    val uni = toks.groupBy("tok").agg(count(lit(1)).as("c1"))
    val nTok = toks.agg(count(lit(1)).cast("double").as("_n"))
    val bigr = arr
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS w1, t[i] AS w2))"))
        .as(Seq("pos", "bg")))
      .select(col("doc_id"), col("pos"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bi = bigr.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    // NOT broadcast-hinted: an A/B at sf0.1 measured the hinted plan
    // SLOWER (0.82s vs 0.67s min-of-3) — the per-execution broadcast
    // builds of the model cost more than the 32-partition exchanges they
    // remove at this scale; AQE still converts at runtime where actual
    // sizes warrant it
    val p = bigr
      .join(bi, Seq("w1", "w2"), "left")
      .join(uni.select(col("tok").as("w1"), col("c1").as("_c1")), Seq("w1"))
      .join(uni.select(col("tok").as("w2"), col("c1").as("_c2")), Seq("w2"))
      .crossJoin(broadcast(nTok))
      .select(col("doc_id"), col("pos"),
        when(col("cb").isNotNull, col("cb").cast("double") / col("_c1"))
          .otherwise(lit(0.4) * col("_c2").cast("double") / col("_n"))
          .as("p"))
    p.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("p")))).as("ps"))
      .select(col("doc_id"),
        size(col("ps")).cast("long").as("n_bigrams"),
        round(aggregate(col("ps"), lit(0.0),
          (acc, x) => acc + x.getField("p")) / size(col("ps")), 6)
          .as("lm_score"))
  }

  private def t12LmScore(s: SparkSession, d: String): DataFrame =
    lmScore(Tables.documents(s, d)).orderBy(col("doc_id"))

  private val t12Sql =
    """WITH arr AS (
      |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t
      |  FROM documents),
      |toks AS (SELECT unnest(t) AS tok FROM arr),
      |uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c1
      |        FROM toks GROUP BY tok),
      |nt AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM toks),
      |idx AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM arr),
      |bigr AS (
      |  SELECT doc_id, i AS pos,
      |    t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
      |  FROM idx),
      |bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
      |       FROM bigr GROUP BY 1, 2),
      |p AS (
      |  SELECT b.doc_id, b.pos,
      |    CASE WHEN bi.cb IS NOT NULL
      |         THEN CAST(bi.cb AS DOUBLE) / u1.c1
      |         ELSE CAST(0.4 AS DOUBLE) * CAST(u2.c1 AS DOUBLE) / nt.nn
      |    END AS p
      |  FROM bigr b
      |  LEFT JOIN bi ON bi.w1 = b.w1 AND bi.w2 = b.w2
      |  JOIN uni u1 ON u1.tok = b.w1
      |  JOIN uni u2 ON u2.tok = b.w2
      |  CROSS JOIN nt)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  round(list_reduce(list(p ORDER BY pos), (a, b) -> a + b)
      |        / count(*), 6) AS lm_score
      |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- T13: corpus vocabulary profile (Heaps/Zipf shape) ------------------
  /** Corpus-level vocabulary statistics per source — the "is this crawl
    * slice natural language?" screen: token count, type (distinct-token)
    * count, hapax legomena count, and the type-token / hapax ratios.
    * Natural text follows Heaps' law (types ~ tokens^β, β≈0.5) with
    * ~half the vocabulary hapax; template/boilerplate slices collapse to
    * tiny ratios and machine-generated noise pushes them toward 1.
    *
    * Scale: one shuffle keyed by (source, token) with map-side partial
    * counts — the moved rows are the DISTINCT vocabulary per source
    * (Zipf: ≪ corpus size); the per-source rollup is then tiny.
    * Ratios are single IEEE divisions of exact integer counts, rounded
    * to 6 dp on both engines (CLAUDE discipline for derived doubles).
    */
  private def t13VocabStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"),
        explode(split(lower(col("text")), "\\s+")).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        count(when(col("c") === 1, 1)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        round(col("n_types").cast("double") / col("n_tokens"), 6)
          .as("type_token_ratio"),
        round(col("n_hapax").cast("double") / col("n_types"), 6)
          .as("hapax_ratio"))
      .orderBy(col("source"))

  private val t13Sql =
    """WITH toks AS (
      |  SELECT source, unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
      |  FROM documents),
      |c AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY 1, 2)
      |SELECT source,
      |  CAST(sum(c) AS BIGINT) AS n_tokens,
      |  CAST(count(*) AS BIGINT) AS n_types,
      |  CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax,
      |  round(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6)
      |    AS type_token_ratio,
      |  round(CAST(count(*) FILTER (WHERE c = 1) AS DOUBLE) / count(*), 6)
      |    AS hapax_ratio
      |FROM c GROUP BY source ORDER BY source""".stripMargin

  // ---- T14: curriculum quality buckets ------------------------------------
  /** Quality-decile assignment over the t12 LM score — the curriculum-
    * learning primitive: rank every document by fluency, cut into 10
    * equal-count buckets, report each bucket's population and score
    * range. A training scheduler consumes the bucket id (feed high
    * deciles early / filter the bottom decile); the per-bucket stats
    * are the audit view.
    *
    * The decile cut is EXACT but never a global data window: a bare
    * `ntile(10) OVER (ORDER BY ...)` moves every row to ONE WindowExec
    * partition - fine at |documents| rows, a scale cliff at 10^10. The
    * registered form runs util.Ranks.distributedRank (approximate score
    * bands -> per-band parallel row_number + band-offset prefix sum -
    * the m7 discipline) and derives the bucket from the exact rank with
    * integral arithmetic (Ranks.ntileFromRank), so the output is
    * bit-identical to the window form (RanksSpec pins the equivalence)
    * while the plan stays partitioned. Ties totalized by doc_id so
    * both engines cut identically.
    */
  private def t14QualityBuckets(s: SparkSession, d: String): DataFrame = {
    // `scored` is eagerly checkpointed because the rank evaluates it
    // four times
    val scored = lmScore(Tables.documents(s, d))
      .select(col("doc_id"), col("lm_score"))
      .localCheckpoint(true)
    val ranked = graft.util.Ranks
      .distributedRank(scored, "lm_score", "doc_id", "_rank")
      .crossJoin(broadcast(scored.agg(count(lit(1)).as("_n"))))
    ranked
      .withColumn("bucket", graft.util.Ranks.ntileFromRank("_rank", "_n", 10))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("lm_score")).as("min_score"),
        max(col("lm_score")).as("max_score"))
      .orderBy(col("bucket"))
  }

  private val t14Sql =
    s"""WITH scores AS ($t12Sql)
       |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
       |  min(lm_score) AS min_score, max(lm_score) AS max_score
       |FROM (SELECT doc_id, lm_score,
       |        NTILE(10) OVER (ORDER BY lm_score, doc_id) AS bucket
       |      FROM scores)
       |GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---- T16: TF-IDF top terms per document --------------------------------
  /** The IR/text-mining scoring baseline: per-document top-5 terms by
    * tf·idf with idf = ln(N / df) — keyword extraction, the retrieval
    * ranking primitive, and the classic bag-of-words feature weighting,
    * over t7's portable whitespace tokenization.
    *
    * Ranking portability: ln() is libm-dependent (≤ 1 ulp), so ranks
    * are taken over the score ROUNDED to 6 dp — near-ties collapse to
    * equal and break on the token string identically in both engines;
    * a 1-ulp ln difference can only flip an order the rounded value
    * already declares a tie. (tf, df_docs) ride along as exact-integer
    * anchors.
    *
    * Scale: three slim shuffles — (doc, tok) term counts with map-side
    * partials (the distinct-by-construction tf frame is reused as the
    * df input, so the token stream shuffles ONCE); df joins back on tok
    * (AQE broadcasts the vocab side when it fits); the per-doc top-5 is
    * a high-cardinality window partitioned BY doc_id — never a global
    * sort. Nothing driver-side; N is one broadcast row.
    */
  private def t16Tfidf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tf = docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df_docs"))
    val nDocs = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
    val scored = tf.join(df, "tok").crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df_docs")),
          6))
    Ranks.topK(scored, Seq(col("doc_id")), Seq(col("score").desc, col("tok")),
        lit(5), "rank")
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("tok"), col("tf"), col("df_docs"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  private val t16Sql =
    """WITH tf AS (
      |  SELECT doc_id, tok, COUNT(*) AS tf FROM (
      |    SELECT doc_id, UNNEST(STR_SPLIT(LOWER(text), ' ')) AS tok
      |    FROM documents)
      |  WHERE LENGTH(tok) > 0 GROUP BY doc_id, tok),
      |df AS (SELECT tok, COUNT(*) AS df_docs FROM tf GROUP BY tok),
      |nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, tf.tok, tf, df_docs,
      |    ROUND(tf * LN(CAST(n_docs AS DOUBLE) / df_docs), 6) AS score
      |  FROM tf JOIN df ON tf.tok = df.tok, nd)
      |SELECT doc_id, CAST(rank AS BIGINT) AS rank, tok,
      |  CAST(tf AS BIGINT) AS tf, CAST(df_docs AS BIGINT) AS df_docs,
      |  score
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |        ORDER BY score DESC, tok) AS rank
      |      FROM scored)
      |WHERE rank <= 5
      |ORDER BY doc_id, rank""".stripMargin

  // ---- T17: BM25 keyword search ------------------------------------------
  /** BM25 ranking (Robertson–Spärck Jones, Okapi; Lucene's +1-inside-the-
    * log idf variant so idf never goes negative) of the corpus against a
    * fixed query-term set — the lexical-retrieval baseline every
    * training-data search/filter stack keeps next to its ANN index (x1–x9
    * are the dense half; this is the sparse half).
    *
    *   score(d) = Σ_t ln(1 + (N − df_t + ½)/(df_t + ½))
    *              · tf · (k1+1) / (tf + k1·(1 − b + b·|d|/avgdl))
    *   with k1 = 1.2, b = 0.75.
    *
    * Plan, scale-first: the corpus-wide stats (N, Σ|d|) are one scalar agg
    * broadcast back; the per-term df table is ≤|query| rows, broadcast;
    * tf is filtered to the query terms BEFORE its shuffle, so the only
    * corpus-sized exchanges carry (doc_id, tok)/(doc_id, dl) slivers,
    * never text. At 100 TB the same plan holds: query-side tables stay
    * tiny, the token scan is map-only, and the final top-k is a
    * TakeOrderedAndProject.
    *
    * Engine parity: doubles flow through the SAME expression tree on both
    * sides (no reassociation), per-term weights re-assemble in fixed
    * textual order (conditional MAX per term — each (doc, term) is unique
    * — then left-to-right addition), rounded to 6.
    */
  private[graft] val Bm25Terms = Seq("hash", "join", "spark")

  /** Tokenized (doc_id, tok) stream of a (doc_id, text) frame. */
  private def bm25Tokens(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
    .filter(length(col("tok")) > 0)

  /** Assemble BM25 scores from posting rows (doc_id, tok, tf, dl), the
    * per-term df table, and the 1-row corpus stats (nd, tot). Shared
    * VERBATIM by the per-query path (t17) and the landed-index serve path
    * (t18): identical expression tree over identical exact-integer inputs
    * ⇒ bit-identical doubles on both paths and both engines.
    */
  private def bm25FromPostings(post: DataFrame, dft: DataFrame,
      st: DataFrame, terms: Seq[String], limitN: Int): DataFrame = {
    val avgdl = col("tot").cast("double") / col("nd").cast("double")
    val idf = log(lit(1) +
      ((col("nd") - col("df")).cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val w = idf * (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") +
        lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl)))
    val wt = post.join(broadcast(dft), "tok")
      .crossJoin(broadcast(st))
      .select(col("doc_id"), col("tok"), w.as("w"))
    def tw(t: String) = coalesce(max(when(col("tok") === t, col("w"))), lit(0.0))
    wt.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        round(terms.map(tw).reduce(_ + _), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(limitN)
  }

  /** BM25 over any (doc_id, text) frame — exposed so specs can score a
    * hand-computable corpus. Terms assemble in their Seq order (fixed
    * addition order = deterministic double result).
    */
  private[graft] def bm25Score(docs: DataFrame, terms: Seq[String],
      limitN: Int = 20): DataFrame = {
    val tk = bm25Tokens(docs)
    val dl = tk.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val st = dl.agg(count(lit(1)).as("nd"), sum(col("dl")).as("tot"))
    val tf = tk.filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    bm25FromPostings(tf.join(dl, "doc_id"), dft, st, terms, limitN)
  }

  private def t17Bm25(s: SparkSession, d: String): DataFrame =
    bm25Score(Tables.documents(s, d), Bm25Terms)

  // ---- T18: BM25 through a LANDED inverted index --------------------------
  /** Term-bucket count for the t18 layout: bounds the directory count at
    * ANY vocabulary size (one-directory-per-term measured its hazard on
    * the sweep's md5-prefixed 10× dir — 50k distinct tokens = 50k
    * directories; bucketing is d8b's digest-index shape).
    */
  private[graft] val Bm25Buckets = 64

  /** Driver-side twin of the layout's `pmod(xxhash64(tok), Bm25Buckets)`
    * bucket column (XXH64 seed 42 = Spark's xxhash64; CLAUDE.md).
    */
  private[graft] def bm25TokBucket(t: String): Int = {
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(t)
    Math.floorMod(
      org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L),
      Bm25Buckets.toLong).toInt
  }

  /** The standing-workload form of t17: t17 rebuilds its tf/dl frames per
    * query because the term set IS the query; a production search stack
    * instead lands the inverted index ONCE per corpus version and serves
    * every query from it. This is x12's partition-layout discipline
    * applied to text: full postings (doc_id, tf, dl, tok) land
    * `partitionBy(tok_b)` where tok_b is a TERM BUCKET (hash(tok) mod
    * [[Bm25Buckets]] — d8b's digest-index shape, so the directory count
    * is bounded whatever the vocabulary), plus a 1-row corpus-stats
    * table, evicted per source version via
    * [[graft.util.Artifacts.dir]]. The serve path filters on the
    * PARTITION column with the query terms' buckets (driver-computed
    * from the same hash) plus an in-file residual on tok, so a query
    * reads only its terms' bucket files (PartitionFilters,
    * file-listing-level skipping — spec-asserted) and never rescans or
    * reshuffles the corpus; per-term df falls out of the pruned scan
    * itself (COUNT over the posting list). Scores come from the same
    * [[bm25FromPostings]] expression tree as t17 over the same
    * exact-integer inputs, so the result is bit-identical to t17's and
    * t17's DuckDB oracle gates it unchanged.
    */
  private[graft] def bm25IndexDir(s: SparkSession, d: String): String =
    Artifacts.dir(Artifacts.key("bm25idx", Tables.path(d, "documents")),
      "graft_bm25idx") { dir =>
      val tk = bm25Tokens(Tables.documents(s, d))
      val dl = tk.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val tf = tk.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      tf.join(dl, "doc_id")
        .select(col("doc_id"), col("tf"), col("dl"), col("tok"),
          pmod(xxhash64(col("tok")), lit(Bm25Buckets)).as("tok_b"))
        // one shuffle at BUILD time so each bucket lands as one file run
        // (the x12 compaction posture)
        .repartition(col("tok_b"))
        .write.mode("overwrite").partitionBy("tok_b").parquet(s"$dir/postings")
      dl.agg(count(lit(1)).as("nd"), sum(col("dl")).as("tot"))
        .write.mode("overwrite").parquet(s"$dir/stats")
    }

  private[graft] def bm25Indexed(s: SparkSession, d: String,
      terms: Seq[String], limitN: Int = 20): DataFrame = {
    val dir = bm25IndexDir(s, d)
    val buckets = terms.map(bm25TokBucket).distinct
    val post = Artifacts.read(s, s"$dir/postings")
      .filter(col("tok_b").isin(buckets: _*) && col("tok").isin(terms: _*))
    val dft = post.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    bm25FromPostings(post, dft,
      Artifacts.read(s, s"$dir/stats"), terms, limitN)
  }

  private def t18Bm25Indexed(s: SparkSession, d: String): DataFrame =
    bm25Indexed(s, d, Bm25Terms)

  private val t17Sql =
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
      |  JOIN dl ON tf.doc_id = dl.doc_id, st)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
      |  ROUND(COALESCE(MAX(CASE WHEN tok = 'hash' THEN w END), 0)
      |      + COALESCE(MAX(CASE WHEN tok = 'join' THEN w END), 0)
      |      + COALESCE(MAX(CASE WHEN tok = 'spark' THEN w END), 0), 6)
      |    AS score
      |FROM wt GROUP BY doc_id
      |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  // ---- T19: BPE merge induction --------------------------------------------
  private[graft] val BpeVocabCap = 2000
  private[graft] val BpeMerges = 10

  /** The BPE training fold (Sennrich et al. 2016) over an aggregated
    * word-frequency dictionary: start from characters, repeatedly count
    * adjacent symbol pairs (weighted by word frequency, overlaps counted
    * as in the reference algorithm) and merge the most frequent pair
    * everywhere, left-to-right non-overlapping within a word. Ties break
    * by lexicographic (left, right) — the determinism the fixture gate
    * needs. No end-of-word marker (documented simplification; adding one
    * is a one-line change to the seeding).
    */
  private[graft] def bpeMerges(wordFreq: Seq[(String, Long)], k: Int)
      : Seq[(Int, String, String, String, Long)] = {
    var segs: Array[(Array[String], Long)] =
      wordFreq.map { case (w, f) => (w.map(_.toString).toArray, f) }.toArray
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    for (round <- 1 to k) {
      val counts =
        scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((seg, f) <- segs; i <- 0 until seg.length - 1) {
        val key = (seg(i), seg(i + 1))
        counts(key) = counts.getOrElse(key, 0L) + f
      }
      if (counts.nonEmpty) {
        val ((a, b), n) = counts.minBy { case ((x, y), c) => (-c, x, y) }
        segs = segs.map { case (seg, f) =>
          val buf = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < seg.length) {
            if (i < seg.length - 1 && seg(i) == a && seg(i + 1) == b) {
              buf += (a + b); i += 2
            } else { buf += seg(i); i += 1 }
          }
          (buf.toArray, f)
        }
        out += ((round, a, b, a + b, n))
      }
    }
    out.toSeq
  }

  /** T19: tokenizer vocabulary induction — the BPE merge table an LLM
    * pipeline trains over its corpus. The 100 TB part is the word-
    * frequency aggregation (one scan + one vocab-keyed exchange with
    * map-side partials); the dictionary itself is vocab-bounded (top
    * [[BpeVocabCap]] alphabetic words by (freq DESC, word) — a
    * TakeOrderedAndProject, deterministic), and the merge fold runs
    * driver-side over that bounded dict — exactly how production BPE
    * trainers (sentencepiece, HF tokenizers) consume a corpus:
    * aggregate distributed, train on the dictionary. Emits one row per
    * merge round; deterministic-but-unSQLable (iterative
    * re-segmentation), so the oracle is fixture-replay
    * ([[graft.util.OracleFixtures]], the d2/d3 discipline).
    */
  private def t19BpeMerges(s: SparkSession, d: String): DataFrame = {
    // the dict collect + fold happen at DataFrame-BUILD time
    val dict = Tables.documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("w")).limit(BpeVocabCap)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val merges = bpeMerges(dict, BpeMerges)
    import s.implicits._
    graft.util.OracleFixtures.withCorpusKey(
      merges.toDF("merge_round", "lhs", "rhs", "merged", "n")
        .orderBy(col("merge_round")), s, d)
  }

  private val t19Sql = graft.util.OracleFixtures.sql("t19_bpe_merges",
    Seq("merge_round", "lhs", "rhs", "merged", "n"), "merge_round")

  // ---- T20: corpus-law profiling (Zipf slope, Heaps coefficient) -----------
  private[graft] val ZipfTopR = 1000

  /** T20: the two corpus-scale sanity statistics an LLM-data pipeline
    * tracks per ingest source — the Zipf slope (log-log regression of
    * token frequency on rank over the top [[ZipfTopR]]; natural text
    * sits near −1, templated/boilerplate corpora drift shallow) and the
    * Heaps coefficient (ln V / ln N; vocabulary growth rate — spam and
    * OCR noise push it up). Ranks come from `Ranks.distributedRank`
    * (banded — no partition-less window over the vocab frame); the
    * regression moments are sums of 6-dp-rounded ln values carried as
    * EXACT decimals, so the only doubles are per-row lns over identical
    * integers (the t16/fm3 round-6 ln discipline) and the final scalar
    * division.
    *
    * Scale: one token scan + one vocab-keyed count, the rank machinery's
    * one quantile probe + per-band windows, and a 4-sum aggregate over
    * the top-R rows. Nothing driver-side beyond the band boundaries.
    */
  private def t20CorpusLaws(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val toks = Tables.documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val uni = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val tot = uni.agg(sum(col("c")).cast("long").as("n_tokens"),
      count(lit(1)).as("vocab"))
    val ranked = graft.util.Ranks.distributedRank(
        uni.withColumn("_negc", -col("c").cast("double")),
        "_negc", "tok", "rnk")
      .filter(col("rnk") <= ZipfTopR)
    def l6(c: Column) = round(log(c), 6).cast(DecimalType(12, 6))
    val m = ranked
      .select(l6(col("rnk")).as("x"), l6(col("c")).as("y"))
      .agg(count(lit(1)).cast(DecimalType(12, 6)).as("r"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
    m.crossJoin(broadcast(tot))
      .select(col("n_tokens"), col("vocab"),
        round((col("r") * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
          (col("r") * col("sxx") - col("sx") * col("sx")).cast("double"),
          6).as("zipf_slope"),
        round(log(col("vocab")) / log(col("n_tokens")), 6).as("heaps_beta"))
  }

  private val t20Sql =
    s"""WITH toks AS (
       |  SELECT tok FROM (
       |    SELECT unnest(str_split(lower(text), ' ')) AS tok
       |    FROM documents) WHERE len(tok) > 0),
       |uni AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
       |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
       |        CAST(COUNT(*) AS BIGINT) AS vocab FROM uni),
       |rk AS (SELECT tok, c,
       |    row_number() OVER (ORDER BY c DESC, tok) AS rnk FROM uni),
       |top AS (
       |  SELECT CAST(ROUND(LN(rnk), 6) AS DECIMAL(12,6)) AS x,
       |         CAST(ROUND(LN(c), 6) AS DECIMAL(12,6)) AS y
       |  FROM rk WHERE rnk <= $ZipfTopR),
       |m AS (
       |  SELECT CAST(COUNT(*) AS DECIMAL(12,6)) AS r,
       |    SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy, SUM(x*x) AS sxx
       |  FROM top)
       |SELECT n_tokens, vocab,
       |  ROUND(CAST(r*sxy - sx*sy AS DOUBLE)
       |      / CAST(r*sxx - sx*sx AS DOUBLE), 6) AS zipf_slope,
       |  ROUND(LN(vocab) / LN(n_tokens), 6) AS heaps_beta
       |FROM m, tot""".stripMargin

  val qs: Seq[(String, Q)] = Seq(
    "t20_corpus_laws"    -> Q(t20CorpusLaws, Some(t20Sql)),
    "t19_bpe_merges"     -> Q(t19BpeMerges, Some(t19Sql)),
    "t12_lm_score"       -> Q(t12LmScore, Some(t12Sql)),
    "t17_bm25"           -> Q(t17Bm25, Some(t17Sql)),
    // bit-identical to t17 by construction (same scoring tree over the
    // landed postings), so t17's oracle gates the index round-trip too
    "t18_bm25_indexed"   -> Q(t18Bm25Indexed, Some(t17Sql)),
    "t14_quality_buckets" -> Q(t14QualityBuckets, Some(t14Sql)),
    "t13_vocab_stats"    -> Q(t13VocabStats, Some(t13Sql)),
    "t1_text_stats"      -> Q(t1TextStats, Some(t1Sql)),
    "t11_repetition"     -> Q(t11Repetition, Some(t11Sql)),
    "t5_length_quantiles" -> Q(t5LengthQuantiles, Some(t5Sql)),
    "t7_top_tokens"      -> Q(t7TopTokens, Some(t7Sql)),
    "t15_heavyhitters"   -> Q(t15HeavyHitters, Some(t15Sql)),
    "t16_tfidf"          -> Q(t16Tfidf, Some(t16Sql)),
    "t8_string_funcs"    -> Q(t8StringFuncs, Some(t8Sql)),
    "t9_array_funcs"     -> Q(t9ArrayFuncs, Some(t9Sql)),
    "t10_redaction"      -> Q(t10Redaction, Some(t10Sql)),
    "t2_quality_by_lang" -> Q(t2QualityByLang, Some(t2Sql)),
    "t3_lang_id"         -> Q(t3LangId, Some(t3Sql)),
    "t4_fingerprint"     -> Q(t4Fingerprint, Some(t4Sql)),
  )
}
