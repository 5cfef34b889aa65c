package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark process: one workload, one seed, one closed-loop client.
  *
  * {{{
  * Main --mode run|record|selftest --workload W --seed N --seconds S
  *      --trace 0|1 --data DIR --work DIR --out FILE
  * }}}
  * `run` writes a JSON result to `--out`; `perfbench/run.py` builds the
  * classpath, launches this and prints the final line.
  */
object Main {
  val StrokeRows = 10220
  val WarmStrokeRows = 500
  /** Typical pass time on 4 cores; `--seconds` / this = timed passes. */
  val PassSeconds = Map("stroke_pipeline" -> 22.0, "warehouse_mix" -> 17.0)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mode = opt.getOrElse("mode", "run")
    if (mode == "selftest") { SelfTest.run(); return }
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val data = Paths.get(opt("data"))
    val work = Paths.get(opt("work"))
    val spark = session(work)
    try {
      val inputs = new Inputs(work.resolve("inputs"))
      val tracer = new Tracer(spark)
      val rng = new scala.util.Random(seed)
      val w: Workload = workload match {
        case "stroke_pipeline" =>
          new StrokeWorkload(spark, StrokeGen.csv(seed, StrokeRows),
            StrokeGen.csv(seed + 1, WarmStrokeRows), inputs, PassSeconds(workload))
        case "warehouse_mix" =>
          val expected =
            if (mode == "record") Map.empty[String, String]
            else Json.readFlat(data.resolve(s"expected/$workload.json"))
          new QueryWorkload(spark, Workloads.warehouseMix, data.resolve("sf0.01"),
            data.resolve("sf0.001"), expected, inputs, tracer, rng,
            PassSeconds(workload))
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val out = Paths.get(opt("out"))
      if (mode == "record") {
        val recordDir = Paths.get(opt("record-dir"))
        val recorded = w.asInstanceOf[QueryWorkload].record(recordDir)
        val sql = graft.SparkEntry.oracleSql.filter { case (k, _) => recorded.contains(k) }
        Files.writeString(recordDir.resolve("oracle_sql.json"), Json(sql) + "\n")
        Files.writeString(out, Json(recorded.toSeq.sortBy(_._1).toMap) + "\n")
      } else {
        val result = Runner(spark, w, tracer,
          seconds = opt("seconds").toDouble, trace = opt("trace") == "1",
          tmpDir = Paths.get(System.getProperty("java.io.tmpdir")),
          traceOut = opt.get("trace-out").map(Paths.get(_)))
        Files.writeString(out, Json(result + ("workload" -> workload) + ("seed" -> seed)) + "\n")
      }
    } finally spark.stop()
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Timed passes, optional traced passes and the memo probe, and the
  * metrics they give. */
object Runner {
  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  private def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuSeconds: Double = osBean.getProcessCpuTime / 1e9
  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Spark's ContextCleaner frees broadcast and shuffle blocks only after
    * a GC has found their owners dead, so collect again once it has run. */
  private def liveHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  final case class PassTime(wall: Double, cpu: Double)

  private def timedPass(w: Workload, c: Client): PassTime = {
    val p = w.prepare()
    System.gc() // leftover garbage of set-up or of the previous pass
    val cpu0 = cpuSeconds
    val t0 = System.nanoTime()
    w.run(p, c)
    val t = PassTime((System.nanoTime() - t0) / 1e9, cpuSeconds - cpu0)
    w.cleanup(p)
    t
  }

  def apply(spark: SparkSession, w: Workload, tracer: Tracer, seconds: Double,
      trace: Boolean, tmpDir: Path, traceOut: Option[Path]): Map[String, Any] = {
    w.warmUp()
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    // a fixed pass count per --seconds keeps every run's work identical
    val passes = math.max(1, math.round(seconds / w.passSeconds).toInt)
    val client = new Client(tracer)
    if (!trace) {
      val times = (1 to passes).map(_ => timedPass(w, client))
      val heap = liveHeapMb()
      val lat = client.samples.map(_.seconds).toSeq
      val failed = client.samples.count(!_.ok)
      Map(
        "attempted" -> client.samples.size, "failed" -> failed,
        "pass_s" -> times.map(_.wall), "pass_cpu_s" -> times.map(_.cpu),
        "failures" -> client.samples.filter(!_.ok).map(s => s"${s.name}: ${s.error}").distinct.toSeq,
        "end_to_end" -> Map(
          "setup_s" -> metric(setupS, "s", 1),
          "pass_s" -> metric(median(times.map(_.wall)), "s", times.size),
          "pass_cpu_s" -> metric(median(times.map(_.cpu)), "s", times.size),
          "op_p50_s" -> metric(median(lat), "s", lat.size),
          "op_p90_s" -> (if (lat.size >= 100) metric(quantile(lat, 0.9), "s", lat.size)
                         else Map("value" -> null, "unit" -> "s", "samples" -> lat.size)),
          "failed_ratio" -> metric(failed.toDouble / lat.size, "ratio", lat.size),
          "heap_live_mb" -> metric(heap, "MB", 1)))
    } else traced(spark, w, tracer, client, tmpDir, traceOut)
  }

  private def metric(v: Double, unit: String, n: Int): Map[String, Any] =
    Map("value" -> v, "unit" -> unit, "samples" -> n)

  val Layers = Seq("ingest", "clean", "pipeline", "balance", "model", "eval",
    "relational", "profile", "ext", "sources", "streaming")
  val QueryLayers = Seq("relational", "profile", "ext", "sources", "streaming")
  val ScanLayers = Seq("ingest", "relational", "ext", "sources")

  /** Every per-layer metric name with its unit, in report order. */
  val PerLayer: Seq[(String, String)] =
    Layers.flatMap(l => Seq(s"$l.busy_s" -> "s", s"$l.calls" -> "count",
      s"$l.jobs" -> "count", s"$l.tasks" -> "count", s"$l.task_cpu_s" -> "s",
      s"$l.shuffle_mb" -> "MB")) ++
      QueryLayers.flatMap(l => Seq(s"$l.build_s" -> "s", s"$l.plan_s" -> "s",
        s"$l.exec_s" -> "s")) ++
      ScanLayers.map(l => s"$l.scan_mb" -> "MB") ++
      Seq("sources.written_mb" -> "MB", "sources.files_written" -> "count",
        "streaming.batches" -> "count", "streaming.batch_p50_ms" -> "ms",
        "streaming.state_commit_ms" -> "ms", "streaming.state_rows" -> "count",
        "streaming.state_mb" -> "MB", "util.reuse_ratio" -> "ratio",
        "util.cached_mb" -> "MB", "util.tmp_mb" -> "MB", "jvm.gc_s" -> "s",
        "trace.overhead_ratio" -> "ratio", "trace.coverage" -> "ratio")

  /** One traced pass beside one untraced pass and the memo probe; layer
    * metrics are those of the traced pass. */
  private def traced(spark: SparkSession, w: Workload, tracer: Tracer,
      client: Client, tmpDir: Path, traceOut: Option[Path]): Map[String, Any] = {
    val totals = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val batches = scala.collection.mutable.ArrayBuffer.empty[Double]
    val spanDump = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    var gc, window = 0.0
    val t0 = System.nanoTime()
    def withTracing(body: => Unit): Double = {
      tracer.start()
      val gc0 = gcSeconds
      val s = Workloads.time(body)
      gc += gcSeconds - gc0
      window += s
      tracer.stop()
      tracer.layerTotals().foreach { case (k, v) => totals(k) += v }
      batches ++= tracer.batchMillis()
      spanDump ++= tracer.spanRecords(t0)
      s
    }
    val tp = w.tracedPass(client, withTracing)
    val probe = tp.probe
    val cachedMb = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1048576.0
    val tmpMb = scala.util.Try(Inputs.treeBytes(tmpDir)).getOrElse(0L) / 1048576.0
    val busy = Layers.map(l => totals(s"$l.busy_s")).sum
    val layer = PerLayer.map { case (k, unit) =>
      val v = k match {
        case "streaming.batch_p50_ms" => if (batches.isEmpty) 0.0 else median(batches.toSeq)
        case "util.reuse_ratio" => probe.map(_._3).sum / probe.map(_._2).sum
        case "util.cached_mb" => cachedMb
        case "util.tmp_mb" => tmpMb
        case "jvm.gc_s" => gc
        case "trace.overhead_ratio" => tp.traced / tp.untraced
        case "trace.coverage" => busy / window
        case _ => totals(k)
      }
      k -> Map("value" -> v, "unit" -> unit)
    }.toMap
    val reuse = probe.map { case (n, a, b) => Map("op" -> n, "first_s" -> a, "second_s" -> b, "ratio" -> b / a) }
    val failed = client.samples.count(!_.ok)
    val result = Map[String, Any](
      "attempted" -> client.samples.size, "failed" -> failed,
      "failures" -> client.samples.filter(!_.ok).map(s => s"${s.name}: ${s.error}").distinct.toSeq,
      "untraced_pass_s" -> tp.untraced, "traced_pass_s" -> tp.traced,
      "per_layer" -> layer,
      "reuse_below_half" -> probe.filter(p => p._3 / p._2 < 0.5).map(_._1))
    traceOut.foreach { f =>
      Files.createDirectories(f.getParent)
      Files.writeString(f, Json(result + ("spans" -> spanDump) + ("reuse" -> reuse)) + "\n")
    }
    result
  }
}
