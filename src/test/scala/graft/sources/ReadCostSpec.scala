package graft.sources

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.connector.read.V1Scan
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.GraftFileIndex
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, TableScan}

import graft.{GraftScans, SparkSpec}
import graft.ops.cdc.PartitionedUpsert

/** The cost of one read of a graft catalog table, pinned: a warm point
  * SELECT plans one Parquet file scan over the key's bucket and runs
  * as one SQL execution of one job with one task — no nested query
  * plans the routing, no job evaluates it. A point DELETE reads only
  * the key's bucket, because its statement read prunes too. So does
  * the DSv2 scan a session built without the extension gets. */
class ReadCostSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val Table = "read_cost_t"
  private val Buckets = 16

  /** Jobs, tasks, SQL executions and input records that `body` runs. */
  private def measured[A](body: => A): (A, Long, Long, Long, Long) = {
    val jobs, tasks, execs, records = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        Option(e.taskMetrics).foreach(m =>
          records.addAndGet(m.inputMetrics.recordsRead))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => execs.incrementAndGet(); ()
        case _ =>
      }
    }
    BusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      BusDrain(spark.sparkContext)
      (out, jobs.get, tasks.get, execs.get, records.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a warm catalog point read is one file scan, one SQL execution, " +
      "one job of one task; a point DELETE reads one bucket") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_read_cost")
      .toString + "/t"
    val rows = 1600L
    PartitionedUpsert.init((1L to rows).map(k => (k, k * 10L, s"r$k"))
      .toDF("k", "v", "tag").coalesce(1), dir, "k", Buckets)
    spark.sql(s"DROP TABLE IF EXISTS $Table")
    spark.sql(s"CREATE TABLE $Table USING graft LOCATION '$dir'")
    try {
      val point = s"SELECT * FROM $Table WHERE k = 42"
      (1 to 3).foreach(_ => spark.sql(point).collect())
      val (df, jobs, tasks, execs, _) = measured {
        val df = spark.sql(point)
        assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
          Seq((42L, 420L)))
        df
      }
      val plan = df.queryExecution.executedPlan
      assert(collect(plan) { case s: FileSourceScanExec => s }.size == 1, plan)
      assert(GraftScans.keptBuckets(df) == ((1, Buckets)))
      assert((jobs, tasks, execs) == ((1L, 1L, 1L)),
        s"jobs, tasks, SQL executions: ${(jobs, tasks, execs)}")

      // the DELETE's read of the table prunes to the key's bucket, and
      // so does the merge that applies it: every record read comes
      // from that bucket (each of the few plans reads it once)
      val bucketRows = spark.table(Table)
        .where(PartitionedUpsert.bucketOf(col("k"), Buckets) ===
          PartitionedUpsert.bucketOf(lit(7L), Buckets)).count()
      val (_, _, _, _, read) = measured(
        spark.sql(s"DELETE FROM $Table WHERE k = 7").collect())
      assert(read > 0 && read <= 4 * bucketRows,
        s"DELETE read $read records; one bucket holds $bucketRows of $rows")
      assert(spark.table(Table).where($"k" === 7L).count() == 0)
      assert(spark.table(Table).count() == rows - 1)
    } finally spark.sql(s"DROP TABLE IF EXISTS $Table")
  }

  test("without the extension, the DSv2 scan reads only the bucket its " +
      "pushed key filter routes to") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_read_cost_v1")
      .toString + "/t"
    PartitionedUpsert.init((1L to 1600L).map(k => (k, k * 10L, s"r$k"))
      .toDF("k", "v", "tag").coalesce(1), dir, "k", Buckets)
    val builder = new GraftScanBuilder(dir,
      PartitionedUpsert.manifestOrFail(spark, dir))
    val filters: Array[sources.Filter] = Array(sources.EqualTo("k", 42L))
    // every filter stays residual: Spark re-evaluates them on the rows
    assert(builder.pushFilters(filters).toSeq == filters.toSeq)
    val relation = builder.build().asInstanceOf[V1Scan]
      .toV1TableScan[BaseRelation with TableScan](spark.sqlContext)
    val (rows, _, _, _, read) = measured(relation.buildScan().collect())
    assert(rows.map(_.getLong(0)).toSeq == Seq(42L))
    val bucketRows = PartitionedUpsert.read(spark, dir)
      .where(PartitionedUpsert.bucketOf(col("k"), Buckets) ===
        PartitionedUpsert.bucketOf(lit(42L), Buckets)).count()
    assert(read > 0 && read <= bucketRows,
      s"the scan read $read records; the key's bucket holds $bucketRows")
  }

  test("a published bucket directory is listed once, however many " +
      "indexes and plans read it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_read_cost_list")
      .toString + "/t"
    PartitionedUpsert.init((1L to 400L).map(k => (k, k * 10L))
      .toDF("k", "v").coalesce(1), dir, "k", Buckets)
    val m = PartitionedUpsert.manifestOrFail(spark, dir)
    def listed(idx: GraftFileIndex) =
      idx.listFiles(Nil, Nil).flatMap(_.files.map(_.getPath.getName)).sorted
    val idx = new GraftFileIndex(spark, dir, m)
    val first = listed(idx)
    assert(first.size == Buckets, first)
    // a file dropped into a published bucket directory afterwards is
    // not part of the table: neither this index nor a new one over the
    // same manifest lists the directory again
    val late = java.nio.file.Paths.get(idx.rootPaths.head.toUri.getPath, "late.parquet")
    java.nio.file.Files.write(late, Array[Byte](0))
    assert(listed(idx) == first)
    assert(listed(new GraftFileIndex(spark, dir, m)) == first)
    java.nio.file.Files.delete(late)
    assert(spark.read.format("graft").load(dir).count() == 400L)
  }
}
