package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (one JVM per run):
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --work <dir> --sidecar <spans.jsonl>
  *
  * Prints a human-readable report, a `report` JSON line (environment,
  * checks, failures, every metric) and, last, the result line
  * {"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
  * (`--trace 0`) or the per-layer metrics (`--trace 1`). */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "work_per_s" -> "1/s", "op_p50_ms" -> "ms", "op_p90_ms" -> "ms",
    "peak_rss_mb" -> "MB")

  /** Every per-layer metric, emitted on every workload (0 where the layer
    * does not run on it). */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.actions" -> "count", "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.plan_ms" -> "ms", "spark.exec_ms" -> "ms", "spark.plan_nodes" -> "count",
    "spark.driver_gap_s" -> "s", "spark.task_s" -> "s", "spark.par" -> "ratio",
    "spark.gc_s" -> "s", "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.input_mb" -> "MB", "spark.output_mb" -> "MB",
    "spark.storage_peak_mb" -> "MB",
    "crawl.plan_s" -> "s", "crawl.scan_s" -> "s", "crawl.jobs_per_batch" -> "count",
    "crawl.candidates" -> "count", "crawl.new_urls" -> "count",
    "crawl.robots_excluded" -> "count", "crawl.scheduled" -> "count",
    "crawl.deferred" -> "count", "crawl.fetched" -> "count", "crawl.parsed" -> "count",
    "crawl.articles" -> "count", "crawl.fetch_hit_ratio" -> "ratio",
    "crawl.parse_ok_ratio" -> "ratio",
    "ckpt.write_s" -> "s", "ckpt.commit_ms" -> "ms", "ckpt.read_s" -> "s",
    "seen.probe_s" -> "s", "seen.build_s" -> "s", "seen.flagged" -> "count",
    "seen.fpr" -> "ratio", "seen.shard_bytes" -> "bytes",
    "robots.tag_s" -> "s", "sched.rank_s" -> "s", "order.rank_s" -> "s",
    "parse.pages_per_s" -> "1/s", "parse.ok_ratio" -> "ratio", "canon.urls_per_s" -> "1/s",
    "search.plan_ms" -> "ms", "search.exec_ms" -> "ms", "search.jobs_per_query" -> "count",
    "search.input_kb_per_query" -> "KB", "search.bm25_p50_ms" -> "ms",
    "search.boolean_p50_ms" -> "ms", "search.phrase_p50_ms" -> "ms",
    "search.prefix_p50_ms" -> "ms", "index.build_s" -> "s", "index.segments" -> "count",
    "index.update_p50_ms" -> "ms", "index.update_jobs" -> "count",
    "index.update_write_kb" -> "KB", "index.compact_s" -> "s",
    "corpus.curate_s" -> "s", "dedup.shingle_s" -> "s", "dedup.pairs_s" -> "s", "dedup.pairs" -> "count",
    "corpus.cc_s" -> "s", "corpus.decontam_s" -> "s", "text.quality_s" -> "s",
    "corpus.keep_ratio" -> "ratio",
    "trace.overhead_pct" -> "%", "trace.work_overhead_pct" -> "%")

  def workload(name: String): Workload = name match {
    case "crawl_batches" => new Crawl
    case "search_mixed" => new SearchMixed
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Inputs are built this many times per run; set-up reports the median. */
  val PrepareReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val wl = workload(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val runId = s"${wl.name}-s$seed-t${if (trace) 1 else 0}"

    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionSec = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(trace, runId)
    val ctx = Ctx(spark, seed, work, tracer)

    def secs(f: => Unit): Double = { val s0 = System.nanoTime(); f; (System.nanoTime() - s0) / 1e9 }
    // a traced run reports no set-up time, so it builds its inputs once
    val prepareSecs = (0 until (if (trace) 1 else PrepareReps)).map(rep => secs(wl.prepare(ctx, rep)))
    val warmupSec = secs(wl.warmup(ctx))
    val setupS = sessionSec + Harness.median(prepareSecs) + warmupSec

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val rec = new Recorder
    var issued = 0
    val steal0 = Harness.stealJiffies()
    val cpu0 = Harness.processCpuSec()
    val wall0 = System.nanoTime()
    if (!trace) Harness.closedLoop(seconds, rec)(_ => { wl.step(ctx, rec, issued); issued += 1 })
    else {
      // Ops alternate between untraced and traced, so both sides see the
      // same index growth and warm-up; each side gets half of `seconds`.
      // The difference is the tracing overhead; per-layer numbers come
      // from the traced ops.
      val plain = new Recorder
      while (plain.timedSec < seconds / 2 || rec.timedSec < seconds / 2) {
        val traced = issued % 2 == 1
        if (traced) tracer.attach(spark)
        wl.step(ctx, if (traced) rec else plain, issued)
        if (traced) tracer.detach()
        issued += 1
      }
      metrics ++= engineMetrics(tracer, rec)
      val (p, t) = (wl.endToEnd(plain), wl.endToEnd(rec))
      metrics("trace.overhead_pct") = 100 * (t.p50 / p.p50 - 1)
      metrics("trace.work_overhead_pct") = 100 * (p.workPerS / t.workPerS - 1)
      tracer.attach(spark)
      // a layer call that throws or fails its check counts as a failed op
      try metrics ++= wl.layers(ctx, rec)
      catch {
        case scala.util.control.NonFatal(e) =>
          rec.attempted += 1; rec.failed += 1; rec.failures += s"layers: $e"
      }
      tracer.detach()
      tracer.writeSidecar(Paths.get(opt("sidecar")))
      rec.attempted += plain.attempted
      rec.failed += plain.failed
      rec.failures ++= plain.failures
    }
    val loopWall = (System.nanoTime() - wall0) / 1e9
    val loopCpu = Harness.processCpuSec() - cpu0
    val loopSteal = Harness.stealJiffies() - steal0
    val r = wl.endToEnd(rec)
    val e2e = Map(
      "setup_s" -> setupS,
      "work_per_s" -> r.workPerS,
      "op_p50_ms" -> 1e3 * r.p50,
      "op_p90_ms" -> 1e3 * r.p90,
      "peak_rss_mb" -> Harness.peakRssMb())
    val correct = rec.failed == 0 && rec.attempted > 0 && r.samples > 0

    val wanted = if (trace) PerLayer else EndToEnd
    val out = wanted.map { case (k, unit) =>
      k -> Map("value" -> (if (trace) metrics.getOrElse(k, 0.0) else e2e(k)), "unit" -> unit)
    }
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "correct" -> correct, "attempted" -> rec.attempted, "failed" -> rec.failed,
      "ops_failed_frac" -> rec.failed.toDouble / math.max(1L, rec.attempted),
      "samples" -> r.samples, "prepare_reps_s" -> prepareSecs, "warmup_s" -> warmupSec, "session_start_s" -> sessionSec,
      "checks" -> wl.checks, "failures" -> rec.failures.toSeq,
      "inputs" -> wl.inputs, "env" -> environment(spark, cores),
      "loop" -> Map("wall_s" -> loopWall, "cpu_s" -> loopCpu, "steal_jiffies" -> loopSteal),
      "end_to_end" -> e2e, "per_layer" -> metrics,
      "samples_ms" -> rec.kinds.map(k => k -> rec.secs(k).map(x => math.rint(x * 1e4) / 10)).toMap)
    spark.stop()

    println(s"perfbench ${wl.name} seed=$seed trace=$trace: ${rec.attempted} ops, ${rec.failed} failed, " +
      s"checks ${if (correct) "green" else "FAILED"}")
    wl.checks.foreach(c => println(s"  check: $c"))
    rec.failures.foreach(f => println(s"  failure: $f"))
    out.foreach { case (k, v) => println(f"  $k%-28s ${Json.num(v("value").asInstanceOf[Double])}%s ${v("unit")}") }
    println("report " + Json.render(report))
    println(Json.render(mutable.LinkedHashMap[String, Any](
      "correct" -> correct, "attempted" -> rec.attempted, "failed" -> rec.failed,
      "metrics" -> mutable.LinkedHashMap(out: _*))))
  }

  private def session(cores: Int, work: Path): SparkSession = {
    Files.createDirectories(work)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (4 * cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def environment(spark: SparkSession, cores: Int): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "master" -> s"local[$cores]",
    "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
    "jdk" -> System.getProperty("java.version"),
    "spark" -> spark.version,
    "spark_conf" -> spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k == "spark.local.dir"
    },
    "graft_work_dir" -> graft.core.Constants.workDir)

  /** Spark engine metrics per op of the traced loop: the jobs and SQL
    * executions that started inside an op's timed region (output checks
    * run outside it and are not counted). */
  private def engineMetrics(tracer: Tracer, rec: Recorder): Map[String, Double] = {
    val (ops, c) = tracer.engineUnder("op")
    def v(k: String) = c.getOrElse(k, 0L).toDouble
    val jobs = tracer.allSpans.filter(_.kind == "job").groupBy(_.parent)
    val gapMs = ops.map(o => tracer.uncovered(o, jobs.getOrElse(o.id, Nil))).sum
    val opMs = ops.map(_.durMs).sum.toDouble
    val n = math.max(1, ops.size).toDouble
    val mb = 1024.0 * 1024.0
    val batches = rec.secs("batch").size
    Map(
      "spark.actions" -> v("actions") / n, "spark.jobs" -> v("jobs") / n,
      "spark.tasks" -> v("tasks") / n, "spark.plan_ms" -> v("plan_ms") / n,
      "spark.exec_ms" -> v("exec_ms") / n,
      "spark.plan_nodes" -> v("plan_nodes") / math.max(1.0, v("actions")),
      "spark.driver_gap_s" -> gapMs / 1e3 / n, "spark.task_s" -> v("task_ms") / 1e3 / n,
      "spark.par" -> (if (opMs > 0) v("task_ms") / opMs else 0.0),
      "spark.gc_s" -> v("gc_ms") / 1e3 / n,
      "spark.shuffle_write_mb" -> v("shuffle_write") / mb / n,
      "spark.shuffle_read_mb" -> v("shuffle_read") / mb / n,
      "spark.spill_mb" -> v("spill") / mb / n, "spark.input_mb" -> v("input") / mb / n,
      "spark.output_mb" -> v("output") / mb / n,
      "spark.storage_peak_mb" -> tracer.storagePeak.get / mb,
      "crawl.jobs_per_batch" -> (if (batches == 0) 0.0 else v("jobs") / batches))
  }
}
