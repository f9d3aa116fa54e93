package graft


/** Dump `.explain("formatted")` for the given keys to files — the
  * plan-artifact generator for optimization rounds (plans/rNN/). Runs
  * each key's query fn ONCE to build the frame (lifecycle keys mutate
  * their fixtures doing so — acceptable: the artifact wants the final
  * frame's physical plan), then writes the formatted plan.
  * Usage: sbt "runMain graft.Plans <outDir> <suffix> <key substr>…" */
object Plans {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val keys = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus.toInt).master(s"local[$cpus]")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => keys.exists(kv._1.contains))
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val w = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt")
          try w.println(txt) finally w.close()
          println(s"[plans] wrote ${name}_$suffix.txt")
        } catch { case e: Throwable =>
          println(s"[plans] $name FAILED: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
