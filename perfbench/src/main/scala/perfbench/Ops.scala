package perfbench

import scala.collection.mutable
import scala.collection.immutable.ListMap

/** Per-operation-kind latency samples and failure accounting.
  *
  * Every operation the workload attempts goes through [[timed]]. A failed
  * operation is counted as attempted and failed and is kept as an infinite
  * latency, so it misses any latency limit and is never dropped from a
  * percentile. */
final class Ops {
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val sampleRounds = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Int]]
  private val cpu = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** The measured round operations now belong to; -1 outside the measured
    * loop (set-up, warm-up). */
  var round = -1

  /** Runs `body` as one operation of kind `kind`; returns its result, or
    * None when it threw. */
  def timed[T](kind: String)(body: => T): Option[T] = {
    attempted += 1
    val c0 = Ops.processCpuNs
    val t0 = System.nanoTime()
    try {
      val r = body
      add(kind, (System.nanoTime() - t0) / 1e9)
      cpu.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += (Ops.processCpuNs - c0) / 1e9
      Some(r)
    } catch {
      case e: Exception =>
        failed += 1
        add(kind, Double.PositiveInfinity)
        failures += s"$kind: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        None
    }
  }

  private def add(kind: String, s: Double): Unit = {
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += s
    sampleRounds.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += round
  }

  def values(kind: String): Seq[Double] = samples.getOrElse(kind, Nil).toSeq
  /** The samples of kind `kind` taken in the measured rounds `rounds`. */
  def measured(kind: String, rounds: Set[Int]): Seq[Double] =
    values(kind).zip(sampleRounds.getOrElse(kind, Nil)).collect { case (s, r) if rounds(r) => s }
  /** CPU seconds the whole process spent during each successful operation. */
  def cpuValues(kind: String): Seq[Double] = cpu.getOrElse(kind, Nil).toSeq
  def failureLog: Seq[String] = failures.toSeq

  /** Per kind: sample count, median, the highest standard percentile
    * with at least ten samples beyond it, and every sample. */
  def summary: ListMap[String, Any] = ListMap(samples.toSeq.map { case (k, xs) =>
    val tail = Stats.tail(xs.toSeq)
    k -> ListMap("n" -> xs.size, "p50_s" -> Stats.median(xs.toSeq),
      "cpu_p50_s" -> Stats.median(cpuValues(k)),
      "tail_pct" -> tail.map(_._1), "tail_s" -> tail.map(_._2),
      "samples_s" -> xs.toSeq)
  }: _*)
}

object Ops {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNs: Long = os.getProcessCpuTime
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else quantile(xs, 0.5)

  /** Linear-interpolated quantile; infinities (failed operations) sort last. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    if (lo == hi || s(lo) == s(hi)) s(lo)
    else s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of p90/p95/p99/p99.9 that has at least ten samples above
    * it, with its value; None when fewer than 20 samples exist. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Seq(99.9, 99.0, 95.0, 90.0).find(p => xs.size * (1 - p / 100) >= 10)
      .map(p => p -> quantile(xs, p / 100))
}
