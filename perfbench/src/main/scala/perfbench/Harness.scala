package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** One benchmark operation: `run` is the timed part; `check` runs after the
  * clock stops and either rejects the output (Left(reason)) or returns the
  * work the output represents (e.g. urls or docs). */
final case class Op[A](kind: String, run: () => A, check: A => Either[String, Outcome])

/** Samples and failure counts of one closed-loop client.
  *
  * A sample is recorded only for an op that returned and passed its check;
  * an op that throws, or whose output fails the check, adds to `failed`
  * and contributes no timing sample. */
final class Recorder {
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val workByKind = mutable.Map.empty[String, Double]
  var attempted: Long = 0L
  /** Σ seconds spent inside timed regions, passing or not. */
  var timedSec: Double = 0.0
  var failed: Long = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  /** Time `op`, check its output outside the timed region, record. Returns
    * the op's output when it passed. `onTimed` sees (start, end) epoch ms of
    * the timed region, for tracing. */
  def attempt[A](op: Op[A], onTimed: (Long, Long) => Unit = (_, _) => ()): Option[A] = {
    attempted += 1
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = try Right(op.run()) catch { case NonFatal(e) => Left(s"threw $e") }
    val sec = (System.nanoTime() - t0) / 1e9
    timedSec += sec
    onTimed(w0, System.currentTimeMillis())
    val verdict = out.flatMap { a =>
      try op.check(a) catch { case NonFatal(e) => Left(s"check threw $e") }
    }
    verdict match {
      case Right(o) =>
        ((op.kind -> sec) +: o.derived).foreach { case (k, x) =>
          samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += x
        }
        workByKind(op.kind) = workByKind.getOrElse(op.kind, 0.0) + o.units
        out.toOption
      case Left(reason) =>
        failed += 1
        if (failures.size < 20) failures += s"${op.kind}: $reason"
        None
    }
  }

  def secs(kind: String): Seq[Double] = samples.get(kind).map(_.toSeq).getOrElse(Nil)
  /** Every sample kind, in the order first recorded. */
  def kinds: Seq[String] = samples.keys.toSeq
  def work(kind: String): Double = workByKind.getOrElse(kind, 0.0)
  /** Σ timed seconds of the passing ops of `kind`. */
  def busy(kind: String): Double = secs(kind).sum
}

object Harness {

  /** Closed loop: the next op starts only when the previous one returned.
    * Ops are issued until `seconds` of timed op work have accumulated in
    * `rec` (output checks run outside the timed regions and do not count;
    * the op in flight at the deadline completes). */
  def closedLoop(seconds: Double, rec: Recorder)(step: Int => Unit): Int = {
    val until = rec.timedSec + seconds
    var i = 0
    while (rec.timedSec < until) { step(i); i += 1 }
    i
  }

  /** Linear-interpolated quantile (Python statistics / numpy default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** CPU seconds used by this JVM so far (all threads). */
  def processCpuSec(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Host-wide steal time so far (clock ticks): time this machine's CPUs
    * wanted to run but the hypervisor ran something else. */
  def stealJiffies(): Long = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").lift(8).map(_.toLong).getOrElse(0L)
    finally src.close()
  }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}

/** Minimal JSON rendering for the result line and the trace sidecar. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}
