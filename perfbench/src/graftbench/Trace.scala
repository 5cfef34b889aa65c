package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the client thread. `phase` is "op" for a call
  * into a layer, or "build"/"exec" for the two halves of a query op. */
final class Span(val layer: String, val name: String, val phase: String,
    val depth: Int, val startNs: Long, val startMs: Long) {
  var endNs: Long = 0L
  var endMs: Long = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded around the benchmark's own calls into each module, plus
  * Spark's counters collected by listeners registered on the session.
  * Listener events arrive on Spark's bus thread, so they are queued raw and
  * attributed afterwards: an event belongs to the innermost span whose
  * wall-clock interval holds the event's time. One client thread issues
  * every call and waits for it, so spans of one depth never overlap.
  */
object Tracer {
  // raw listener events
  private final case class Job(timeMs: Long, stages: Seq[Int])
  private final case class Task(stage: Int, cpuNs: Long, shuffleWrite: Long,
      bytesRead: Long, bytesWritten: Long)
  private final case class Plan(startMs: Long, ms: Long)
  private final case class Progress(timeMs: Long, triggerMs: Long,
      commitMs: Long, stateRows: Long, stateBytes: Long, query: String)
}

final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private var on = false

  def span[A](layer: String, name: String, phase: String)(body: => A): A =
    if (!on) body
    else {
      val s = new Span(layer, name, phase, open.size, System.nanoTime(),
        System.currentTimeMillis())
      open = s :: open
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        open = open.tail
        spans += s
      }
    }

  import Tracer._

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val plans = new ConcurrentLinkedQueue[Plan]()
  private val progress = new ConcurrentLinkedQueue[Progress]()
  private val execStart = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Set[Long])]()
  private val filesWritten = new ConcurrentLinkedQueue[(Long, Long)]()

  private def fileAccums(p: SparkPlanInfo): Seq[Long] =
    p.metrics.filter(_.name == "number of written files").map(_.accumulatorId) ++
      p.children.flatMap(fileAccums)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(Job(e.time, e.stageIds))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        tasks.add(Task(e.stageId, m.executorCpuTime,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
          m.outputMetrics.bytesWritten))
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execStart.put(s.executionId, (s.time, fileAccums(s.sparkPlanInfo).toSet))
      case u: SparkListenerDriverAccumUpdates =>
        Option(execStart.get(u.executionId)).foreach { case (t, ids) =>
          u.accumUpdates.foreach { case (id, v) => if (ids(id)) filesWritten.add((t, v)) }
        }
      case _ =>
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.values.foreach(p => plans.add(Plan(p.startTimeMs, p.durationMs)))
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      progress.add(Progress(java.time.Instant.parse(p.timestamp).toEpochMilli,
        Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum, p.runId.toString))
    }
  }

  /** Start tracing: spans on, listeners registered. */
  def start(): Unit = {
    drain(); clear()
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  /** Stop tracing and wait until Spark has delivered every queued event. */
  def stop(): Unit = {
    on = false
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  private def clear(): Unit = {
    spans.clear(); jobs.clear(); tasks.clear(); plans.clear(); progress.clear()
    execStart.clear(); filesWritten.clear()
  }

  /** LiveListenerBus.waitUntilEmpty is private[spark] in Scala but public in
    * bytecode; it is the only way to know every event has been delivered. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Innermost span whose interval holds wall time `ms`. */
  private def at(ms: Long): Option[Span] =
    spans.filter(s => s.startMs <= ms && ms <= s.endMs).maxByOption(_.depth)

  /** Per-layer metrics of the traced interval, summed over it. */
  def layerTotals(): Map[String, Double] = {
    val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = m(k) += v
    // self time: a span's duration minus its direct children's
    val bySelf = spans.map { s =>
      val kids = spans.filter(c => c.depth == s.depth + 1 &&
        c.startNs >= s.startNs && c.endNs <= s.endNs)
      s -> (s.seconds - kids.map(_.seconds).sum)
    }
    bySelf.foreach { case (s, self) =>
      add(s"${s.layer}.busy_s", self)
      if (s.phase == "op") add(s"${s.layer}.calls", 1)
      if (s.phase == "build" || s.phase == "exec") add(s"${s.layer}.${s.phase}_s", s.seconds)
    }
    val stageLayer = mutable.Map.empty[Int, String]
    jobs.asScala.foreach { j =>
      at(j.timeMs).foreach { s =>
        add(s"${s.layer}.jobs", 1)
        j.stages.foreach(stageLayer(_) = s.layer)
      }
    }
    tasks.asScala.foreach { t =>
      stageLayer.get(t.stage).foreach { l =>
        add(s"$l.tasks", 1)
        add(s"$l.task_cpu_s", t.cpuNs / 1e9)
        add(s"$l.shuffle_mb", t.shuffleWrite / 1048576.0)
        add(s"$l.scan_mb", t.bytesRead / 1048576.0)
        add(s"$l.written_mb", t.bytesWritten / 1048576.0)
      }
    }
    plans.asScala.foreach(p => at(p.startMs).foreach(s => add(s"${s.layer}.plan_s", p.ms / 1e3)))
    filesWritten.asScala.foreach { case (t, n) =>
      at(t).foreach(s => add(s"${s.layer}.files_written", n.toDouble))
    }
    val prog = progress.asScala.toSeq.filter(p => at(p.timeMs).nonEmpty)
    add("streaming.batches", prog.size)
    add("streaming.state_commit_ms", prog.map(_.commitMs).sum.toDouble)
    // state size: each stream's largest reported state, summed over streams
    prog.groupBy(_.query).values.foreach { ps =>
      add("streaming.state_rows", ps.map(_.stateRows).max.toDouble)
      add("streaming.state_mb", ps.map(_.stateBytes).max / 1048576.0)
    }
    m.toMap
  }

  /** Trigger durations of every traced micro-batch, for a median. */
  def batchMillis(): Seq[Double] =
    progress.asScala.toSeq.filter(p => at(p.timeMs).nonEmpty).map(_.triggerMs.toDouble)

  /** Spans as JSON-ready maps, for the trace file. */
  def spanRecords(t0Ns: Long): Seq[Map[String, Any]] =
    spans.sortBy(_.startNs).map { s =>
      Map("layer" -> s.layer, "name" -> s.name, "phase" -> s.phase,
        "depth" -> s.depth, "start_s" -> (s.startNs - t0Ns) / 1e9,
        "dur_s" -> s.seconds)
    }.toSeq
}
