package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload run gets from the command line and the session. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
                     tracer: Option[Tracer], work: File, cores: Int,
                     record: Option[String]) {
  /** A fresh directory under the run's work directory. */
  def dir(name: String): String = {
    val d = new File(work, name)
    Workload.delete(d.getPath)
    d.getParentFile.mkdirs()
    d.getAbsolutePath
  }

  private val marks = mutable.LinkedHashMap.empty[String, Double]
  private var last = System.nanoTime()

  /** Adds the seconds since the previous call (or since the context was
    * made) to phase `name`: where a run's wall time goes. */
  def phase(name: String): Unit = {
    val now = System.nanoTime()
    marks(name) = marks.getOrElse(name, 0.0) + (now - last) / 1e9
    last = now
  }
  def phases: ListMap[String, Double] = ListMap(marks.toSeq: _*)
}

final case class Check(name: String, ok: Boolean, info: String)

/** What a workload run reports: output checks, operation accounting, the
  * end-to-end metrics, per-layer metrics for a traced run, and detail for
  * the results file. */
final case class Outcome(checks: Seq[Check], ops: Ops,
                         e2e: ListMap[String, Double],
                         layers: Map[String, Double],
                         detail: ListMap[String, Any])

trait Workload {
  def run(ctx: Ctx): Outcome
}

object Workload {
  val all: ListMap[String, Workload] = ListMap(
    "sql_dml" -> SqlDml,
    "query_sweep" -> QuerySweep)

  /** Rounds every run measures however slow the host: a round takes
    * seconds here, and a median of one is no median. */
  val MinRounds = 2

  /** Runs `setup` `n` times and returns the last result with the median
    * time; every repetition must produce the same input hash. */
  def repeatedSetup[T](n: Int)(setup: Int => (T, String)): (T, Double, Check) = {
    val runs = (0 until n).map { i =>
      val t0 = System.nanoTime()
      val (r, hash) = setup(i)
      (r, hash, (System.nanoTime() - t0) / 1e9)
    }
    val hashes = runs.map(_._2).distinct
    (runs.last._1, Stats.median(runs.map(_._3)),
      Check("generator_deterministic", hashes.size == 1,
        s"input sha256 ${hashes.mkString(",")} over $n generations"))
  }

  /** A round whose share of CPU time taken by the hypervisor (steal) is
    * above this measured the host, not the program: it is run again. A
    * quiet host steals well under 1%. */
  val MaxSteal = 0.05

  /** What the measured loop ran: the rounds whose samples the metrics use
    * (`quiet`), and each round's steal share. */
  final case class Loop(rounds: Int, quiet: Set[Int], steal: Seq[Double])

  /** Closed loop over a fixed amount of work: as many rounds as take
    * `seconds` at `nominalRoundS` each (at least [[MinRounds]]), one after
    * another, each tagging its samples in `ops`. Every run of a workload
    * then measures the same rounds, so a slow stretch of the host does not
    * also shift which rounds (colder or warmer ones) the medians are taken
    * over. A round with more than [[MaxSteal]] steal is run again, up to
    * twice the planned rounds and while three times `seconds` have not
    * passed; when fewer than [[MinRounds]] rounds were quiet, all count. */
  def loop(seconds: Int, nominalRoundS: Double, ops: Ops)(round: Int => Unit): Loop = {
    val n = math.max(MinRounds, math.round(seconds / nominalRoundS).toInt)
    val end = System.nanoTime() + 3L * seconds * 1000000000L
    val steal = mutable.ArrayBuffer.empty[Double]
    var i = 0
    while (steal.count(_ <= MaxSteal) < n && i < 2 * n &&
      (i < MinRounds || System.nanoTime() < end)) {
      ops.round = i
      val t0 = cpuTicks()
      round(i)
      steal += stealShare(t0, cpuTicks())
      i += 1
    }
    ops.round = -1
    val quiet = steal.indices.filter(steal(_) <= MaxSteal).toSet
    Loop(i, if (quiet.size >= MinRounds) quiet else (0 until i).toSet, steal.toSeq)
  }

  /** The aggregate CPU counters of /proc/stat (user, nice, system, idle,
    * iowait, irq, softirq, steal); empty where there is no /proc/stat. */
  def cpuTicks(): Seq[Long] =
    try Files.readAllLines(Path.of("/proc/stat")).get(0).trim.split("\\s+").slice(1, 9).map(_.toLong).toSeq
    catch { case _: Exception => Nil }

  def stealShare(a: Seq[Long], b: Seq[Long]): Double =
    if (a.size < 8 || b.size < 8) 0.0
    else {
      val d = a.zip(b).map { case (x, y) => y - x }
      d(7).toDouble / math.max(1L, d.sum)
    }

  def sha256(lines: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  def delete(path: String): Unit = {
    val p = Path.of(path)
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  /** Every regular file under `dir` with its size. */
  def files(dir: String): Map[String, Long] = {
    val p = Path.of(dir)
    if (!Files.exists(p)) Map.empty
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f.toString -> Files.size(f)).toMap
  }

  /** Bytes in files present in `after` but not in `before`. */
  def newBytes(before: Map[String, Long], after: Map[String, Long]): Long =
    after.iterator.filterNot(kv => before.contains(kv._1)).map(_._2).sum
}

/** Heap still in use after a full collection: the live working set a
  * workload leaves behind (raw heap usage is no measure, the collector lets
  * it grow to the heap limit). */
object LiveHeap {
  def mb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    System.gc()
    System.gc()
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
