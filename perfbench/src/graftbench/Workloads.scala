package graftbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Q

/** One op's outcome in a timed pass. */
final case class Sample(layer: String, name: String, seconds: Double,
    ok: Boolean, error: String)

/** The single closed-loop client: issues one op, waits for it, checks it. */
final class Client(tracer: Tracer) {
  val samples = mutable.ArrayBuffer.empty[Sample]

  def op(layer: String, name: String)(body: => Boolean): Unit = {
    val t0 = System.nanoTime()
    val (ok, err) =
      try (tracer.span(layer, name, "op")(body), "output check failed")
      catch { case e: Throwable => (false, s"${e.getClass.getName}: ${e.getMessage}") }
    val sample = Sample(layer, name, (System.nanoTime() - t0) / 1e9, ok, if (ok) "" else err)
    System.err.println(f"op ${sample.layer}.${sample.name} ${sample.seconds}%.3f s ${if (ok) "ok" else err}")
    samples += sample
  }
}

trait Workload {
  type Pass
  /** Typical wall time of one timed pass; sets the pass count of a run. */
  def passSeconds: Double
  /** Untimed passes on small inputs, so JIT and codegen warm-up is not timed. */
  def warmUp(): Unit
  /** Untimed: fresh inputs for one timed pass. */
  def prepare(): Pass
  def run(p: Pass, c: Client): Unit
  def cleanup(p: Pass): Unit
  /** One untraced and one traced pass, plus a second call of every op on
    * the untraced call's input (the memo probe). `traced` runs its body
    * with tracing on and returns the body's wall seconds. */
  def tracedPass(c: Client, traced: (=> Unit) => Double): TracedPass
}

/** Wall seconds of the untraced and traced pass, and the memo probe:
  * (op, first call seconds, second call on the same input seconds). */
final case class TracedPass(untraced: Double, traced: Double,
    probe: Seq[(String, Double, Double)])

object Workloads {
  final case class QOp(layer: String, name: String,
      fn: (SparkSession, String) => DataFrame)

  private def ops(layer: String, names: Set[String], qs: Seq[(String, Q)]*): Seq[QOp] = {
    val all = qs.flatten.map { case (n, q) => QOp(layer, n, q.fn) }
    val missing = names -- all.map(_.name)
    require(missing.isEmpty, s"no registered $layer query named ${missing.mkString(", ")}")
    all.filter(o => names(o.name))
  }

  /** Warehouse side in one list: TPC-H scans, joins and aggregates (q1,
    * q21), planning-bound short queries, profiling aggregates, vector top-k
    * (x8 and x9 are in the tail of the full suite), compaction, deletion
    * vectors and snapshot vacuum on the parquet layer, and a stateful
    * stream (e9 is in the streaming tail). A cold pass over every
    * registered query of these modules takes minutes, because each
    * memo-cold ANN query rebuilds its index, so the list is fixed and
    * short. */
  def warehouseMix: Seq[QOp] = {
    import graft.sources._
    import graft.streaming._
    val rel = ops("relational", Set("sql1_tpch_q1", "sql13_tpch_q21",
      "a1_group_count", "p5_filter"), graft.relational.CoreOps.qs)
    // two short queries open and close every pass
    rel.filter(_.name == "p5_filter") ++
      rel.filter(o => o.name != "p5_filter" && o.name != "a1_group_count") ++
      ops("profile", Set("a3_describe", "h1_histogram"), graft.profile.Profiling.qs) ++
      ops("ext", Set("x1_cosine_topk_brute", "x8_cosine_topk_ivfsq",
        "x9_cosine_topk_pq"), graft.ext.SimilarityOps.qs) ++
      ops("sources", Set("s13_compaction", "s25_deletion_vectors",
        "s18_snapshot_vacuum"),
        JsonAndSinks.qs, SortedLanding.qs, ZOrderLanding.qs,
        IncrementalRollup.qs, Compaction.qs, Snapshots.qs, ManifestTree.qs,
        Branches.qs, TimeTravel.qs, FileStats.qs, TxnPair.qs,
        DeletionVectors.qs, TxnDeletes.qs, SchemaStats.qs, ColumnIds.qs,
        SortedCompaction.qs, ZOrderCompaction.qs, PartitionEvolution.qs,
        WriteAuditPublish.qs) ++
      ops("streaming", Set("e9_stream_interval_join"),
        StreamQueries.qs, StreamMerge.qs, ChangeFeedStream.qs) ++
      rel.filter(_.name == "a1_group_count")
  }

  def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }
}

/** Registered queries, each run on its own fresh copy of the tables and
  * checked against its recorded checksum. */
final class QueryWorkload(spark: SparkSession, ops: Seq[Workloads.QOp],
    data: Path, warmData: Path, expected: Map[String, String],
    inputs: Inputs, tracer: Tracer, rng: scala.util.Random,
    val passSeconds: Double) extends Workload {
  type Pass = Seq[(Workloads.QOp, String)]

  def call(o: Workloads.QOp, dir: String): String = {
    val df = tracer.span(o.layer, o.name, "build")(o.fn(spark, dir))
    tracer.span(o.layer, o.name, "exec")(Checksum.of(df))
  }

  def warmUp(): Unit = ops.foreach { o =>
    val d = inputs.copyOf(warmData)
    val s = Workloads.time(try call(o, d) catch {
      case e: Throwable => System.err.println(s"warm-up ${o.name} failed: $e")
    })
    System.err.println(f"warm-up ${o.layer}.${o.name} $s%.3f s")
    inputs.delete(d)
  }

  /** The seed orders every op but the first and the last: the first op
    * pays what the set-up left behind (garbage, cold caches) and the last
    * op's memos are live when the heap is read, so both stay in place. */
  private def order(): Seq[Workloads.QOp] =
    ops.head +: rng.shuffle(ops.tail.init) :+ ops.last

  def prepare(): Pass = order().map(o => o -> inputs.copyOf(data))

  /** One timed, checked call on a directory no earlier call has read. */
  private def timed(o: Workloads.QOp, dir: String, c: Client): Double = {
    c.op(o.layer, o.name) {
      inputs.claim(dir)
      expected.get(o.name).contains(call(o, dir))
    }
    c.samples.last.seconds
  }

  def run(p: Pass, c: Client): Unit = p.foreach { case (o, dir) => timed(o, dir, c) }

  def cleanup(p: Pass): Unit = p.foreach { case (_, d) => inputs.delete(d) }

  /** Per op, an untraced and a traced call on two fresh copies, in
    * alternating order so a drift in speed over the pass cancels out of
    * the traced/untraced ratio; then the probe call on the untraced copy. */
  def tracedPass(c: Client, traced: (=> Unit) => Double): TracedPass = {
    var plain, withTrace = 0.0
    val probe = order().zipWithIndex.map { case (o, i) =>
      val a = inputs.copyOf(data)
      val b = inputs.copyOf(data)
      var first = 0.0
      def untracedCall(): Unit = { first = timed(o, a, c); plain += first }
      def tracedCall(): Unit = traced { withTrace += timed(o, b, c) }
      if (i % 2 == 0) { untracedCall(); tracedCall() } else { tracedCall(); untracedCall() }
      val second = Workloads.time(call(o, a))
      inputs.delete(a); inputs.delete(b)
      (o.name, first, second)
    }
    TracedPass(plain, withTrace, probe)
  }

  /** Checksums of every op on a fresh copy, each output also written as
    * parquet under `outDir` for the DuckDB oracle check. */
  def record(outDir: Path): Map[String, String] = ops.map { o =>
    val d = inputs.copyOf(data)
    val t0 = System.nanoTime()
    val df = o.fn(spark, d)
    val cs = Checksum.of(df)
    System.err.println(f"record ${o.name} ${(System.nanoTime() - t0) / 1e9}%.3f s")
    df.coalesce(1).write.mode("overwrite").parquet(outDir.resolve(o.name).toString)
    inputs.delete(d)
    o.name -> cs
  }.toMap
}

/** The paper's pipeline on a stroke-shaped CSV: ingest, clean, encode and
  * assemble, SMOTE on the minority class, then the five classifiers, each
  * trained, scored and reported. Checked by invariants, not checksums. */
final class StrokeWorkload(spark: SparkSession, csv: Array[Byte],
    warmCsv: Array[Byte], inputs: Inputs, val passSeconds: Double)
    extends Workload {
  type Pass = String
  import graft.pipeline.StrokePipeline
  import graft.model.Classifiers
  import graft.eval.ClassificationReport
  import graft.balance.Smote
  import org.apache.spark.ml.linalg.Vector
  import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}

  private def counts(bytes: Array[Byte]): (Long, Long) = {
    val lines = new String(bytes, "UTF-8").split('\n').drop(1)
    (lines.length.toLong, lines.count(_.endsWith(",1")).toLong)
  }
  private val (rows, minority) = counts(csv)
  private val (warmRows, warmMinority) = counts(warmCsv)

  private def write(bytes: Array[Byte]): String = {
    val f = inputs.freshDir().resolve("stroke.csv")
    Files.write(f, bytes)
    f.toString
  }

  /** LinearSVC is left out of the warm-up: its hundreds of small jobs cost
    * the same on any input size, and LogisticRegression warms the same
    * optimizer. */
  def warmUp(): Unit = {
    val p = write(warmCsv)
    pass(p, new Client(new Tracer(spark)), warmRows, warmMinority, claim = false,
      models = Classifiers.Names.filterNot(_ == "svc"))
    cleanup(p)
  }

  def prepare(): String = write(csv)

  def run(p: String, c: Client): Unit = pass(p, c, rows, minority, claim = true)

  private def pass(path: String, c: Client, nRows: Long, nMinority: Long,
      claim: Boolean, models: Seq[String] = Classifiers.Names): Unit = {
    var raw, cleaned, encoded, prepared, balanced: DataFrame = null
    c.op("ingest", "csv_inferred") {
      if (claim) inputs.claim(path)
      raw = graft.ingest.CsvSource.inferred(spark, path)
      raw.columns.length == 12
    }
    c.op("clean", "clean") { cleaned = StrokePipeline.clean(raw); true }
    c.op("pipeline", "encode") { encoded = StrokePipeline.encode(cleaned).df; true }
    c.op("pipeline", "assemble") {
      prepared = StrokePipeline.assemble(encoded)
        .withColumn("rid", monotonically_increasing_id()).cache()
      val n = prepared.count()
      val width = prepared.select("features").head().getAs[Vector](0).size
      n == nRows && width == StrokeGen.FeatureWidth
    }
    c.op("balance", "smote") {
      val in = prepared.select(col("rid"),
        vector_to_array(col("features")).as("farr"), col("stroke"))
      balanced = Smote.balance(spark, in, "rid", "farr", "stroke", lit(1),
        Smote.Params(k = 5, percentOver = 200, percentUnder = 100, seed = 42L))
        .select(col("rid"), array_to_vector(col("farr")).as("features"),
          col("stroke"))
        .localCheckpoint(true)
      val byLabel = balanced.groupBy("stroke").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      byLabel.get(1).contains(3 * nMinority) &&
        byLabel.get(0).contains(nRows - nMinority)
    }
    prepared.unpersist()
    models.foreach { m =>
      var res: Classifiers.TrainResult = null
      c.op("model", s"train_$m") {
        res = Classifiers.trainEval(m, balanced)
        if (m == "lr") res.auc > 0.5 && res.auc <= 1.0 else !res.auc.isNaN
      }
      c.op("eval", s"report_$m") {
        val report = ClassificationReport.report(spark, res.predictions, "stroke")
          .collect()
        val support = report.filter(r => r.getString(0) == "0" || r.getString(0) == "1")
          .map(_.getLong(4)).sum
        support == res.predictions.count() && report.length == 5
      }
    }
  }

  def cleanup(p: String): Unit = inputs.delete(java.nio.file.Paths.get(p).getParent.toString)

  /** Untraced pass, probe pass on the same CSV, then the traced pass on a
    * fresh one. Each pass needs the previous op's output, so the two kinds
    * cannot interleave per op as the query workload's do. */
  def tracedPass(c: Client, traced: (=> Unit) => Double): TracedPass = {
    val p = write(csv)
    val before = c.samples.size
    val plain = Workloads.time(run(p, c))
    val probe = new Client(new Tracer(spark))
    pass(p, probe, rows, minority, claim = false)
    cleanup(p)
    val firsts = c.samples.drop(before)
    val q = write(csv)
    val withTrace = traced(run(q, c))
    cleanup(q)
    TracedPass(plain, withTrace, firsts.zip(probe.samples).map { case (a, b) =>
      (s"${a.layer}.${a.name}", a.seconds, b.seconds)
    }.toSeq)
  }
}
