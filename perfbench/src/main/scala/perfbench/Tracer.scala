package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Closed time interval in epoch milliseconds. */
final case class Iv(start: Long, end: Long) {
  def len: Long = math.max(0L, end - start)
}

object Iv {
  /** Merges overlapping intervals. */
  def union(ivs: Seq[Iv]): Seq[Iv] = {
    val out = mutable.ArrayBuffer.empty[Iv]
    ivs.filter(_.len > 0).sortBy(_.start).foreach { iv =>
      if (out.nonEmpty && iv.start <= out.last.end)
        out(out.size - 1) = Iv(out.last.start, math.max(out.last.end, iv.end))
      else out += iv
    }
    out.toSeq
  }

  def clip(ivs: Seq[Iv], w: Iv): Seq[Iv] =
    ivs.map(i => Iv(math.max(i.start, w.start), math.min(i.end, w.end))).filter(_.len > 0)

  def total(ivs: Seq[Iv]): Long = union(ivs).map(_.len).sum

  /** Length of `a` not covered by `b`. */
  def minus(a: Seq[Iv], b: Seq[Iv]): Long = {
    val ua = union(a)
    ua.map(_.len).sum - ua.map(w => total(clip(b, w))).sum
  }
}

/** A harness-recorded span; `parent` 0 marks a root. Times in nanoseconds. */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)

/** Counter totals at one instant; differences of two give one operation's
  * share. */
final case class Counters(jobs: Long, tasks: Long, inputRecords: Long,
                          shuffleWriteBytes: Long, spillBytes: Long,
                          gcMs: Long, qes: Long, compiles: Long,
                          compileMs: Double) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks,
    inputRecords - o.inputRecords, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes, gcMs - o.gcMs, qes - o.qes,
    compiles - o.compiles, compileMs - o.compileMs)
}

/** One traced operation: its wall window, the Spark work inside it, and the
  * driver time left once job intervals and Catalyst phases are taken out. */
final case class OpTrace(kind: String, wallMs: Long, jobBusyMs: Long,
                         catalystMs: Long, c: Counters) {
  def gapMs: Long = wallMs - jobBusyMs
}

/** Traced-run instrumentation, all of it from outside the program: Spark's
  * public listeners (jobs, tasks, query executions, streaming progress),
  * the codegen metrics source, and spans the harness records around its
  * own calls into each layer. */
final class Tracer(spark: SparkSession) {
  private val jobIvs = mutable.Map.empty[Int, Iv]
  private val phaseIvs = mutable.ArrayBuffer.empty[Iv]
  private var tasks, inputRecords, shuffleWriteBytes, spillBytes, gcMs, qes = 0L
  val progress = mutable.ArrayBuffer.empty[(Map[String, Long], Long)]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobIvs(e.jobId) = Iv(e.time, Long.MaxValue)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobIvs.get(e.jobId).foreach(i => jobIvs(e.jobId) = Iv(i.start, e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      tasks += 1
      Option(e.taskMetrics).foreach { m =>
        inputRecords += m.inputMetrics.recordsRead
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        gcMs += m.jvmGCTime
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qes += 1
      qe.tracker.phases.values.foreach(p => phaseIvs += Iv(p.startTimeMs, p.endTimeMs))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val d = e.progress.durationMs
        val m = d.keySet.toArray.map(k => k.toString -> d.get(k).longValue).toMap
        progress += (m -> e.progress.numInputRows)
      }
  }

  spark.sparkContext.addSparkListener(jobListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Waits for the listener bus, so every event posted so far is counted. */
  def drain(): Unit = org.apache.spark.perfbench.BusDrain(spark.sparkContext)

  /** Compile milliseconds are the compile count times the mean of the
    * histogram's sample, an estimate: the histogram keeps no exact sum. */
  def counters: Counters = synchronized {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    Counters(jobIvs.size.toLong, tasks, inputRecords, shuffleWriteBytes,
      spillBytes, gcMs, qes, h.getCount, h.getCount * h.getSnapshot.getMean)
  }

  /** Runs one workload operation and attributes its wall time. */
  def op[T](kind: String)(body: => T): (T, OpTrace) = {
    drain()
    val c0 = counters
    val t0 = System.currentTimeMillis()
    val r = span(kind)(body)
    val t1 = System.currentTimeMillis()
    drain()
    val c1 = counters
    val w = Iv(t0, t1)
    val (jobs, phases) = synchronized {
      (Iv.union(Iv.clip(jobIvs.values.toSeq, w)), Iv.clip(phaseIvs.toSeq, w))
    }
    val busy = jobs.map(_.len).sum
    val tr = OpTrace(kind, t1 - t0, busy, Iv.minus(phases, jobs), c1 - c0)
    opTraces += tr
    (r, tr)
  }

  val opTraces = mutable.ArrayBuffer.empty[OpTrace]

  // ---- spans -------------------------------------------------------------
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1

  /** Records a span around `body`; nested calls become child spans. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      stack = stack.tail
      spans += Span(id, parent, name, t0, System.nanoTime())
    }
  }

  /** Total milliseconds of spans named `name`. */
  def spanMs(name: String): Double =
    spans.filter(_.name == name).map(s => (s.end - s.start) / 1e6).sum

  /** Per span name: count, total and self time (duration minus the part
    * of it its child spans cover). */
  def spanTable: ListMap[String, Any] = {
    val kids = spans.groupBy(_.parent)
    val rows = spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val total = ss.map(s => s.end - s.start).sum
      val self = ss.map { s =>
        val ch = kids.get(s.id).map(_.toSeq).getOrElse(Seq.empty).map(k => Iv(k.start, k.end))
        (s.end - s.start) - Iv.total(ch)
      }.sum
      name -> ListMap("count" -> ss.size, "total_ms" -> total / 1e6, "self_ms" -> self / 1e6)
    }
    ListMap(rows: _*)
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}
