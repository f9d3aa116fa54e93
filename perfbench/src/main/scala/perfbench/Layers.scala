package perfbench

import scala.collection.immutable.ListMap

/** Per-layer metrics of a traced run. Spark and driver figures are per
  * round of the workload's loop (a DML round with its change file, a sweep
  * pass). */
object Layers {

  /** Spark-execution, planning and driver-gap metrics from the traced
    * operations `ops`, per round. `attributedMs` is the time of the timed
    * layer calls standing for work inside those operations. */
  def common(ops: Seq[OpTrace], rounds: Int, attributedMs: Double): Map[String, Double] = {
    def per(x: Double): Double = x / math.max(1, rounds)
    def sumC(f: Counters => Double): Double = ops.map(o => f(o.c)).sum
    val gap = ops.map(_.gapMs.toDouble).sum
    val cat = ops.map(_.catalystMs.toDouble).sum
    Map(
      "jobs.count" -> per(sumC(_.jobs.toDouble)),
      "jobs.tasks" -> per(sumC(_.tasks.toDouble)),
      "jobs.busy_ms" -> per(ops.map(_.jobBusyMs.toDouble).sum),
      "jobs.input_records" -> per(sumC(_.inputRecords.toDouble)),
      "jobs.shuffle_write_bytes" -> per(sumC(_.shuffleWriteBytes.toDouble)),
      "jobs.spill_bytes" -> per(sumC(_.spillBytes.toDouble)),
      "jobs.gc_ms" -> per(sumC(_.gcMs.toDouble)),
      "driver.gap_ms" -> per(gap),
      "driver.unattributed_ms" -> per(gap - cat - attributedMs),
      "catalyst.phase_ms" -> per(cat),
      "plans.qe_per_stmt" -> sumC(_.qes.toDouble) / math.max(1, ops.size),
      "codegen.compiles" -> per(sumC(_.compiles.toDouble)),
      "codegen.compile_ms" -> per(sumC(_.compileMs)))
  }

  /** Median of a per-operation series, 0 when empty. */
  def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Splits a workload's per-layer values into the metrics BENCHMARK.json
    * declares, in its order (a layer the workload does not reach reads 0),
    * and the rest, which go to the results file only. */
  def complete(m: Map[String, Double], declared: Seq[String])
      : (ListMap[String, Double], ListMap[String, Double]) =
    (ListMap(declared.map(n => n -> m.getOrElse(n, 0.0)): _*),
      ListMap((m -- declared).toSeq.sortBy(_._1): _*))
}
