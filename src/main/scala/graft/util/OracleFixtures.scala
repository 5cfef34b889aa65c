package graft.util


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture-backed DuckDB oracles for deterministic outputs no SQL can
  * recompute (seeded-xxhash sketches d2/d3, the real-decode mm1
  * features): the expected rows are frozen ONCE from a verified run
  * (graft.tools.GenFixtures) as parquet under
  * `src/test/resources/fixtures/oracle/<query>/`, and the oracle SQL
  * reads them back with `read_parquet`, so the driver's hash compare
  * becomes a hard regression gate on the full output — the same
  * discipline as the committed spec fixtures, made driver-visible (the
  * s1 stroke oracle already proves the driver accepts absolute file
  * paths in oracle SQL).
  *
  * Fixtures for every supported SF live in ONE directory; each row
  * carries TWO replay keys both sides filter on —
  *  - `corpus_key` = Σ n_chars (human-readable size component; sf0.001
  *    and sf0.01 both hold 500 documents, so a row count would not
  *    discriminate), and
  *  - `corpus_sig` = Σ over docs of the first 32 md5 bits of
  *    (doc_id|text) — an order-independent CONTENT hash, closing the
  *    round-6 collision gap where two regenerated corpora with equal
  *    total chars would silently replay stale fixtures. md5, not
  *    xxhash64, because DuckDB must recompute it natively (the
  *    m3/d2b portability doctrine); each per-doc value is < 2^32 so the
  *    sum stays far from long overflow (ANSI would throw loudly).
  * An unknown or regenerated corpus matches nothing and fails loudly
  * rather than silently passing.
  */
object OracleFixtures {

  /** Absolute so the driver's DuckDB (whatever its cwd) resolves it. */
  val Dir = "/root/repo/src/test/resources/fixtures/oracle"

  /** First 32 bits of md5(doc_id|text) as a long — Spark side. DuckDB
    * reassembles the identical value from strpos-decoded hex nibbles
    * (the d3b discipline; DuckDB has no conv()).
    */
  private def sigExpr = conv(substring(md5(concat_ws("|",
    col("doc_id").cast("string"), col("text"))), 1, 8), 16, 10).cast("long")

  /** (corpus_key, corpus_sig) of a documents dir, computed ONCE per
    * documents version. Repeated evaluations attach stored literals
    * instead of re-scanning (and re-hashing) the documents table per
    * execution; a regenerated corpus changes the version and re-aggregates.
    */
  def keyAndSig(s: SparkSession, dir: String): (Long, Long) =
    Artifacts.value(Artifacts.key("corpuskey", graft.Tables.path(dir, "documents"))) {
      val r = graft.Tables.documents(s, dir)
        .agg(sum(col("n_chars")).cast("long").as("k"),
          sum(sigExpr).as("sig")).head()
      (r.getLong(0), r.getLong(1))
    }

  /** Append the current corpus keys to every result row (as literals —
    * one bounded scalar fetch per (dir, mtime), zero per-execution cost).
    */
  def withCorpusKey(result: DataFrame, s: SparkSession,
      dir: String): DataFrame = {
    val (k, sig) = keyAndSig(s, dir)
    result.withColumn("corpus_key", lit(k))
      .withColumn("corpus_sig", lit(sig))
  }

  /** Oracle text: replay the frozen rows for the current corpus. */
  def sql(query: String, cols: Seq[String], orderBy: String): String = {
    val nib = (k: Int) => s"(strpos('0123456789abcdef', substr(h, $k, 1)) - 1)"
    val sigSum = (1 to 8)
      .map(k => s"${nib(k)} * ${1L << (4 * (8 - k))}").mkString(" + ")
    s"""SELECT ${cols.mkString(", ")}, corpus_key, corpus_sig
       |FROM read_parquet('$Dir/$query/*.parquet')
       |WHERE corpus_key = (SELECT CAST(sum(n_chars) AS BIGINT)
       |                    FROM documents)
       |  AND corpus_sig = (
       |    SELECT CAST(SUM($sigSum) AS BIGINT)
       |    FROM (SELECT substr(md5(concat_ws('|',
       |            CAST(doc_id AS VARCHAR), text)), 1, 8) AS h
       |          FROM documents))
       |ORDER BY $orderBy""".stripMargin
  }
}
