package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** What every workload gets from the harness for one run. */
final case class Ctx(spark: SparkSession, seed: Long, work: Path, tracer: Tracer) {
  /** Force `df` completely without collecting it. */
  def force(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Wall seconds of `f`, as a traced layer span named `name`. */
  def timed(name: String)(f: => Unit): Double = {
    val t0 = System.nanoTime()
    tracer.span(name)(f)
    (System.nanoTime() - t0) / 1e9
  }
}

/** A workload's user-visible figures: work units per busy second, the
  * typical and an upper op latency (seconds), and how many latency samples
  * they rest on. Empty samples read NaN. */
final case class EndToEnd(workPerS: Double, p50: Double, p90: Double, samples: Int)

object EndToEnd {
  def of(workPerS: Double, lat: Seq[Double]): EndToEnd =
    if (lat.isEmpty) EndToEnd(workPerS, Double.NaN, Double.NaN, 0)
    else EndToEnd(workPerS, Harness.median(lat), Harness.quantile(lat, 0.9), lat.size)
}

/** Result of a passing op: the work units it did and any derived latency
  * samples (kind → seconds) read off its outputs. */
final case class Outcome(units: Double, derived: Seq[(String, Double)] = Nil)

/** A closed-loop workload. `prepare` builds the run's inputs and is called
  * several times (the run reports the median; the last call's inputs are
  * the ones measured); `warmup` runs once before the clock (JIT, caches,
  * first plans); `step` issues one op through `rec`; `endToEnd` reads the
  * user-visible metrics off the recorder; `layers` runs timed calls into
  * the program's layers for the traced run. */
trait Workload {
  def name: String
  def prepare(ctx: Ctx, rep: Int): Unit
  def warmup(ctx: Ctx): Unit
  def step(ctx: Ctx, rec: Recorder, i: Int): Unit
  def endToEnd(rec: Recorder): EndToEnd
  def layers(ctx: Ctx, rec: Recorder): Map[String, Double]
  /** What the run's outputs were checked against, for the report. */
  def checks: Seq[String]
  /** Input sizes and replication factors, for the report. */
  def inputs: Map[String, Any]
}
