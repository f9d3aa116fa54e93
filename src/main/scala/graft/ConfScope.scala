package graft

import org.apache.spark.sql.SparkSession

/** Scoped session-conf overrides and job overlap for bench fixtures.
  *
  * SINGLE-THREADED INVARIANT (r19 ADVICE — made explicit here, once,
  * instead of per call site): `withShufflePartitions` mutates the
  * SHARED session's conf for the dynamic extent of `body` and restores
  * it in a finally. That is only safe because the driver contract runs
  * query fns strictly sequentially (Bench/Verify iterate keys one at a
  * time on one thread); nothing else plans queries on the session in
  * that window. Callers that need concurrency use [[par2]], which runs
  * INSIDE an already-established scope (both arms see the same conf)
  * and never touches conf itself. A future multi-tenant caller must
  * switch to `spark.newSession()`-per-scope instead — the memoized
  * Tables loaders are per-session, so that costs one footer re-read
  * per table per scope, which is why the sequential contract keeps the
  * cheaper shared-session form.
  */
object ConfScope {

  /** Run `body` with `spark.sql.shuffle.partitions` pinned to `n`,
    * restoring the previous value after. Used by fixture-building
    * query fns whose frames are KNOWN tiny (a 10-15k-row change
    * window, a 4-bucket table): their exchanges and eagerly
    * materialized checkpoints are sized to the DATA, not to the
    * session's machine-wide default — the same discipline production
    * applies by sizing a stream or job to its volume (guide §2.2).
    * The values these fixtures compute are partitioning-invariant, so
    * results and oracle hashes are untouched. */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T =
    withConfs(spark, "spark.sql.shuffle.partitions" -> n.toString)(body)

  /** Run `body` with the given session confs set, restoring previous
    * values (or unsetting keys that were unset) after — the general
    * form of [[withShufflePartitions]], same single-threaded
    * invariant. */
  def withConfs[T](spark: SparkSession, confs: (String, String)*)
                  (body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Evaluate two INDEPENDENT eager computations concurrently (each
    * arm typically ends in `localCheckpoint()`) and return both —
    * guide §2.6: actions are only sequential because driver code calls
    * them sequentially; two independent checkpoint materializations
    * over tiny frames each underfill the local cluster, so overlapping
    * them back-fills the idle cores. Arm `b` runs on a dedicated
    * short-lived thread that carries a COPY of the caller's Spark local
    * properties (job group, scheduler pool, execution id) and active
    * session, taken at this call — never a pooled thread's stale
    * inherited ones. Errors propagate from either arm as the original
    * throwable (the other arm is awaited first so no job leaks past
    * the call). */
  def par2[A, B](spark: SparkSession)(a: => A, b: => B): (A, B) = {
    val exec = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val fb = org.apache.spark.sql.execution.SQLExecution
        .withThreadLocalCaptured(
          spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], exec)(b)
      def joinB(): B =
        try fb.join()
        catch {
          case e: java.util.concurrent.CompletionException
            if e.getCause != null => throw e.getCause
        }
      val ra =
        try a
        catch {
          case t: Throwable =>
            try joinB()
            catch { case _: Throwable => () }
            throw t
        }
      (ra, joinB())
    } finally exec.shutdown()
  }
}
