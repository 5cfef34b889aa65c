package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Q, Tables}
import graft.util.Artifacts

/** Semi-structured parsing + file-sink surface (SURVEY.md §2.1).
  *
  * The reference never writes files (plots only); the driver contract and
  * any real warehouse do. Partitioned parquet is THE layout decision at
  * 100 TB: partition pruning turns full scans into directory lookups.
  */
object JsonAndSinks {

  /** S6: JSON column parsing with an explicit schema (from_json is
    * codegen-friendly; schema declared, not inferred).
    */
  private def s6JsonExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        from_json(col("props"), StructType(Seq(StructField("k", LongType))))
          .getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  private val s6Sql =
    """SELECT event_type,
      |  COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // s9/s10/s14/s15 land once per SOURCE version (Artifacts.dir): a
  // rewritten source re-lands instead of serving a stale landing. s7
  // rewrites on every call, so its directory is keyed on the dir alone.
  private def sinkDir(src: String): String =
    Artifacts.dir(Artifacts.Key("s7sink", Nil, Seq(src), ()),
      "graft_partitioned_sink")(_ => ())

  /** S7: partitioned parquet sink round-trip — write documents partitioned
    * by lang, read back through the partitioned layout, count per
    * partition. The oracle is the direct group-count: proving the sink
    * loses nothing and the partition column survives the round-trip.
    */
  private def s7PartitionedSink(s: SparkSession, d: String): DataFrame = {
    val out = sinkDir(d)
    Tables.documents(s, d)
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    Artifacts.parquet(s, out)
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .orderBy(col("lang"))
  }

  private val s7Sql =
    """SELECT lang, COUNT(*) AS n FROM documents
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ---- S9: ORC source/sink round-trip ------------------------------------
  /** S9: the second columnar format. Orders land once as ORC; the read
    * path must push the filter into the ORC reader (same PushedFilters
    * machinery as parquet — plan-asserted in EventProfileSpec's s9 test)
    * and the filtered aggregate must be result-transparent vs the parquet
    * source, which is exactly what the oracle checks. At 100 TB, format
    * choice is a per-table layout decision; the engine reads both without
    * the query changing.
    */
  private def s9OrcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = Artifacts.dir(Artifacts.key("s9orc", Tables.path(d, "orders")),
        "graft_orc_sink") { dir =>
      Tables.orders(s, d).write.mode("overwrite").orc(dir)
    }
    s.read.orc(out)
      .filter(col("o_totalprice") > 50000.0)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        graft.util.Det.dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  private val s9Sql =
    s"""SELECT o_orderpriority, COUNT(*) AS n,
       |  ${graft.util.Det.sqlDsum("o_totalprice")} AS sum_price
       |FROM orders WHERE o_totalprice > 50000.0
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---- S10: schema evolution across landed batches -----------------------
  /** S10: schema drift at the landing zone — batch 1 lands (doc_id,
    * n_chars), batch 2 lands with a new `lang` column, and one
    * mergeSchema read unions them (missing column → null). This is the
    * everyday 100 TB reality (producers add fields mid-stream); the read
    * must neither fail nor silently drop the new column. mergeSchema
    * costs a footer read per file at planning — enable it per-read like
    * here (or land with an explicit evolved schema), not globally.
    * Oracle: the same union derived from the source table, nulls where
    * batch 1 had no lang.
    */
  private def s10SchemaMerge(s: SparkSession, d: String): DataFrame = {
    val out = Artifacts.dir(
        Artifacts.key("s10merge", Tables.path(d, "documents")),
        "graft_schema_merge") { dir =>
      val docs = Tables.documents(s, d)
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$dir/batch=1")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("n_chars"), col("lang"))
        .write.mode("overwrite").parquet(s"$dir/batch=2")
    }
    s.read.option("mergeSchema", "true").parquet(out)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang").asc_nulls_first)
  }

  private val s10Sql =
    """SELECT CASE WHEN doc_id % 2 = 1 THEN lang END AS lang,
      |  COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY 1 ORDER BY lang NULLS FIRST""".stripMargin

  // ---- S14: XML source/sink round-trip (built-in since Spark 4) ----------
  /** S14: the semi-structured interchange format — Spark 4 ships the XML
    * data source in core (the spark-xml merge). Suppliers land once as
    * `<supplier>` row elements (same amortized-landing discipline as s9);
    * the read declares an EXPLICIT schema (inference costs an extra full
    * pass) and the filtered aggregate must be result-transparent vs the
    * parquet source — exactly what the oracle checks, including the
    * doubles (Java's Double.toString/parse round-trip is value-exact, so
    * the decimal-exact sum hashes identically). Scale posture: XML rows
    * are text blobs — no column pruning, no filter pushdown, a row-level
    * parse per record — so at 100 TB XML is an INGEST format: land it
    * columnar once (this op's write half inverted), never a query-side
    * layout.
    */
  private def s14XmlRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = Artifacts.dir(
        Artifacts.key("s14xml", Tables.path(d, "supplier")),
        "graft_xml_sink") { dir =>
      Tables.supplier(s, d).write.mode("overwrite")
        .option("rootTag", "suppliers").option("rowTag", "supplier")
        .format("xml").save(dir)
    }
    val schema = StructType(Seq(
      StructField("s_suppkey", LongType),
      StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType),
      StructField("s_acctbal", DoubleType)))
    s.read.schema(schema).option("rowTag", "supplier")
      .format("xml").load(out)
      .filter(col("s_acctbal") > 0.0)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n"),
        graft.util.Det.dsum(col("s_acctbal")).as("sum_bal"))
      .orderBy(col("s_nationkey"))
  }

  private val s14Sql =
    s"""SELECT s_nationkey, COUNT(*) AS n,
       |  ${graft.util.Det.sqlDsum("s_acctbal")} AS sum_bal
       |FROM supplier WHERE s_acctbal > 0.0
       |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  // ---- S15: dynamic partition overwrite ----------------------------------
  /** S15: `partitionOverwriteMode=dynamic` — the in-place partition
    * replacement every incremental lakehouse load relies on. Phase 1
    * lands the full events table partitioned by event_type; phase 2
    * overwrites ONLY the partitions present in a corrective batch (the
    * 'click' partition, refiltered to value > 50) while every other
    * partition must survive untouched. Under the default STATIC mode
    * phase 2 would have dropped the four other partitions entirely — the
    * oracle (original counts for non-click types, filtered counts +
    * exact decimal sums for click) fails loudly in that world, so the
    * overwrite SEMANTICS are what's gated, not just the write API.
    *
    * Scale: dynamic overwrite commits per-partition — the rewrite cost
    * is proportional to the CHANGED partitions, not the table; that is
    * the entire point at 100 TB where a daily correction touches one of
    * thousands of date partitions. The conf is scoped-and-restored
    * around the one write that needs it (the e9 state-partition
    * discipline). Landed once per source version; reps measure the
    * read-back aggregate.
    */
  private def s15DynamicOverwrite(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.dir(
        Artifacts.key("s15dyn", Tables.path(d, "events")),
        "graft_dynover") { dir =>
      val ev = Tables.events(s, d)
      ev.write.mode("overwrite").partitionBy("event_type").parquet(dir)
      val corrective =
        ev.filter(col("event_type") === "click" && col("value") > 50.0)
      // an EMPTY corrective batch touches no partitions under dynamic
      // overwrite, so the click partition would keep its original rows
      // while the oracle expects the filtered set — fail loudly (with the
      // regen pointer) instead of surfacing as a confusing hash mismatch
      require(!corrective.isEmpty,
        s"s15: corrective batch (click, value > 50) is empty at $d — " +
          "testdata regen changed the value distribution; revisit the " +
          "filter threshold and the s15 oracle together")
      val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try corrective
        .write.mode("overwrite").partitionBy("event_type")
        .parquet(dir)
      finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    }
    Artifacts.parquet(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.util.Det.dsum(col("value")).as("sum_value"))
      .orderBy(col("event_type"))
  }

  private val s15Sql =
    s"""WITH eff AS (
       |  SELECT * FROM events
       |  WHERE event_type <> 'click' OR value > CAST(50.0 AS DOUBLE))
       |SELECT event_type, COUNT(*) AS n,
       |  ${graft.util.Det.sqlDsum("value")} AS sum_value
       |FROM eff GROUP BY event_type ORDER BY event_type""".stripMargin

  val qs: Seq[(String, Q)] = Seq(
    "s6_json_extract"     -> Q(s6JsonExtract, Some(s6Sql)),
    "s7_partitioned_sink" -> Q(s7PartitionedSink, Some(s7Sql)),
    "s9_orc_roundtrip"    -> Q(s9OrcRoundtrip, Some(s9Sql)),
    "s10_schema_merge"    -> Q(s10SchemaMerge, Some(s10Sql)),
    "s14_xml_roundtrip"   -> Q(s14XmlRoundtrip, Some(s14Sql)),
    "s15_dynamic_overwrite" -> Q(s15DynamicOverwrite, Some(s15Sql)),
  )
}
