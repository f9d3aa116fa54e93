package graft

import org.apache.spark.scheduler._

/** Job-structure profiler for bench keys (see tools/profile_key.md).
  *
  * The Bench fingerprints only the RESULT frame's plan; lifecycle keys
  * (dml_sql, delete_mor, clone, …) spend their time in SIDE-EFFECT
  * jobs — merge staging writes, localCheckpoints, manifest commits —
  * that never appear there. This main runs matching keys on the exact
  * Bench session posture and prints every Spark job with its wall,
  * stage/task counts, and description, so a key's seconds are
  * attributable job-by-job. Diagnostic tool only: not wired into the
  * driver contract, never written to bench_results.json. */
object Profile {
  private final case class JobRow(id: Int, desc: String, wallMs: Long,
                                  stages: Int, tasks: Int)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(cpus.toInt).master(s"local[$cpus]")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, java.util.concurrent.atomic.AtomicInteger, java.util.concurrent.atomic.AtomicInteger)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[JobRow]()
    // executionId → physical-plan head line (the SQL-execution event
    // carries the plan; jobs carry only the execution id)
    val execDesc = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          val head = s.physicalPlanDescription.linesIterator
            .find(l => l.contains("Execute") || l.contains("*(") ||
              l.contains("Scan") || l.contains("Result"))
            .getOrElse(s.description.take(60))
          execDesc.put(s.executionId, head.trim.take(90))
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(execDesc.get(id.toLong)))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description"))))
          .getOrElse("")
        jobs.put(e.jobId, (d, System.nanoTime(),
          new java.util.concurrent.atomic.AtomicInteger(e.stageInfos.size),
          new java.util.concurrent.atomic.AtomicInteger(
            e.stageInfos.map(_.numTasks).sum)))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(e.jobId)).foreach { case (d, t0, st, tk) =>
          done.add(JobRow(e.jobId, d, (System.nanoTime() - t0) / 1000000,
            st.get, tk.get))
        }
      }
    })

    // same warmup as Bench
    try {
      SparkEntry.queries.get("q_agg_basic").foreach(f => f(spark, sfDir).count())
      SparkEntry.queries.get("q_topk_per_group").foreach(f => f(spark, sfDir).count())
    } catch { case _: Throwable => () }

    val keys = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => args.isEmpty || args.exists(kv._1.contains))
    keys.foreach { case (name, fn) =>
      (1 to 3).foreach { rep =>
        done.clear()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        val rows = done.toArray(Array.empty[JobRow]).sortBy(_.id)
        println(f"== $name rep$rep wall=$wall%.3f s  jobs=${rows.length} " +
          f"jobwall=${rows.map(_.wallMs).sum / 1000.0}%.3f s")
        rows.foreach { r =>
          val d = if (r.desc.length > 90) r.desc.take(90) + "…" else r.desc
          println(f"   job ${r.id}%4d ${r.wallMs}%6d ms  stages=${r.stages}%2d tasks=${r.tasks}%4d  $d")
        }
        System.gc()
      }
    }
    spark.stop()
  }
}
