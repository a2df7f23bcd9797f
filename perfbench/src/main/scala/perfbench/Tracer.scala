package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A traced interval. Harness spans (kind op | layer) come from the
  * benchmark thread; `job` and `sql` spans come from the listeners and
  * carry the engine counters of their work in `stats`. */
final case class Span(id: Long, name: String, kind: String, startMs: Long,
    endMs: Long, parent: Long, run: String, stats: Map[String, Long] = Map.empty) {
  def durMs: Long = endMs - startMs
  def engine: Boolean = kind == "job" || kind == "sql"
}

/** In-memory span recorder plus the benchmark's SparkListener and
  * QueryExecutionListener. Nothing is registered unless tracing is on; the
  * untraced run pays for none of it. Spans are written to a JSON-lines
  * sidecar at the end of the run. */
final class Tracer(val enabled: Boolean, runId: String) {
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = new AtomicReference[List[Long]](Nil)
  /** Peak bytes of cached RDD blocks (memory + disk) seen by the listener. */
  val storagePeak = new AtomicLong

  private var spark: Option[SparkSession] = None
  private var listeners: Option[(SparkListener, QueryExecutionListener)] = None

  /** Time `f` as a layer span; listener spans starting inside it become
    * its children. */
  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = open.get.headOption.getOrElse(0L)
      val t0 = System.currentTimeMillis()
      open.updateAndGet(id :: _)
      try f
      finally {
        open.updateAndGet(_.filterNot(_ == id))
        spans.add(Span(id, name, "layer", t0, System.currentTimeMillis(), parent, runId))
      }
    }

  /** Record an op's timed region (the Recorder's clock) while the
    * listeners are attached. */
  def record(name: String, startMs: Long, endMs: Long): Unit =
    if (listeners.nonEmpty)
      spans.add(Span(ids.incrementAndGet(), name, "op", startMs, endMs,
        open.get.headOption.getOrElse(0L), runId))

  /** Register the listeners (again after a detach). */
  def attach(s: SparkSession): Unit = if (enabled && listeners.isEmpty) {
    spark = Some(s)
    val jobStart = new ConcurrentHashMap[Int, Long]()
    val stageJob = new ConcurrentHashMap[Int, Int]()
    val jobStats = new ConcurrentHashMap[Int, ConcurrentHashMap[String, Long]]()
    val blocks = new ConcurrentHashMap[String, Long]()
    val stored = new AtomicLong
    def add(job: Int, k: String, v: Long): Unit =
      jobStats.computeIfAbsent(job, _ => new ConcurrentHashMap()).merge(k, v, (a, b) => a + b)
    val sl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(st => stageJob.put(st, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobStart.remove(e.jobId)).foreach { t0 =>
          val st = Option(jobStats.remove(e.jobId)).map(_.asScala.toMap).getOrElse(Map.empty)
          spans.add(Span(ids.incrementAndGet(), s"job${e.jobId}", "job", t0, e.time, -1L, runId,
            st + ("jobs" -> 1L)))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageJob.get(e.stageId)).foreach { job =>
          add(job, "tasks", 1L)
          val m = e.taskMetrics
          if (m != null) {
            add(job, "task_ms", m.executorRunTime)
            add(job, "gc_ms", m.jvmGCTime)
            add(job, "shuffle_write", m.shuffleWriteMetrics.bytesWritten)
            add(job, "shuffle_read", m.shuffleReadMetrics.totalBytesRead)
            add(job, "spill", m.memoryBytesSpilled + m.diskBytesSpilled)
            add(job, "input", m.inputMetrics.bytesRead)
            add(job, "output", m.outputMetrics.bytesWritten)
          }
        }
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
        val info = e.blockUpdatedInfo
        if (info.blockId.isRDD) {
          val now = info.memSize + info.diskSize
          val prev = Option(blocks.put(info.blockId.name, now)).getOrElse(0L)
          storagePeak.accumulateAndGet(stored.addAndGet(now - prev), (a, b) => math.max(a, b))
        }
      }
    }
    val ql = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val phases = qe.tracker.phases
        val planMs = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
        // Optimization and planning run when the action starts (analysis may
        // have run long before, when the frame was built); execution follows.
        val lazyPhases = Seq("optimization", "planning").flatMap(phases.get)
        val execMs = durationNs / 1000000L
        val (start, end) =
          if (lazyPhases.isEmpty) { val e = System.currentTimeMillis(); (e - execMs, e) }
          else (lazyPhases.map(_.startTimeMs).min, lazyPhases.map(_.endTimeMs).max + execMs)
        spans.add(Span(ids.incrementAndGet(), s"sql:$funcName", "sql", start, end, -1L, runId,
          Map("actions" -> 1L, "plan_ms" -> planMs, "exec_ms" -> execMs,
            "plan_nodes" -> qe.optimizedPlan.collect { case p => p }.size.toLong)))
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    s.sparkContext.addSparkListener(sl)
    s.listenerManager.register(ql)
    listeners = Some((sl, ql))
  }

  /** Wait until every queued listener event has been delivered. */
  def drain(): Unit = for (s <- spark if listeners.nonEmpty)
    org.apache.spark.perfbench.ListenerBusDrain(s.sparkContext)

  /** Drain, then stop listening. */
  def detach(): Unit = for (s <- spark; (sl, ql) <- listeners) {
    drain()
    s.sparkContext.removeSparkListener(sl)
    s.listenerManager.unregister(ql)
    listeners = None
  }

  /** Every span, listener spans parented to the innermost harness span
    * whose interval holds their start (events reach the listeners late,
    * so the parent is resolved from the clock, not at delivery). */
  def allSpans: Seq[Span] = {
    val (engine, harness) = spans.asScala.toSeq.partition(_.parent < 0)
    val resolved = engine.map { s =>
      val within = harness.filter(h => h.startMs <= s.startMs && s.startMs <= h.endMs)
      s.copy(parent = if (within.isEmpty) 0L else within.maxBy(h => (h.startMs, h.id)).id)
    }
    (harness ++ resolved).sortBy(s => (s.startMs, s.id))
  }

  /** Harness spans of kind `kind` whose name satisfies `p`, with the summed
    * engine counters of the listener spans under them. */
  def engineUnder(kind: String, p: String => Boolean = _ => true): (Seq[Span], Map[String, Long]) = {
    val all = allSpans
    val ops = all.filter(s => s.kind == kind && p(s.name))
    val ids = ops.map(_.id).toSet
    val stats = all.filter(s => s.engine && ids(s.parent)).flatMap(_.stats)
      .groupMapReduce(_._1)(_._2)(_ + _)
    (ops, stats)
  }

  /** Milliseconds of `s` not covered by the given child intervals
    * (overlapping children are counted once). */
  def uncovered(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) { covered += b - from; end = b }
    }
    s.durMs - covered
  }

  /** Write every span, with its self time (duration minus the part its
    * children cover), as JSON lines. */
  def writeSidecar(path: java.nio.file.Path): Unit = if (enabled) {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = all.map { s =>
      Json.render(mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "name" -> s.name, "kind" -> s.kind, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "parent" -> s.parent, "run" -> s.run,
        "self_ms" -> uncovered(s, kids.getOrElse(s.id, Nil)), "stats" -> s.stats))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
