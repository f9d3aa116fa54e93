package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal, UnsafeProjection}
import org.apache.spark.sql.functions.{coalesce, col}
import org.apache.spark.sql.types._

import graft.ops.cdc.PartitionedUpsert
import graft.streaming.CdcStream

/** The generated-class cache of a graft session holds a recurring
  * statement mix: run twice on a 16-bucket graft catalog table, the
  * mix compiles its classes once, and the second pass compiles only
  * the classes whose code inlines a literal that changed (the lsn a
  * statement derives from the table version). Spark's default cache
  * of 100 entries is smaller than the mix, so under it the second pass
  * recompiles almost everything. The session is the builder's own
  * ([[SparkSpec]] builds through [[GraftSession.builder]]): the cache
  * is sized from the conf active at the JVM's first codegen. */
class CodegenCacheSpec extends SparkSpec {

  private val Table = "codegen_cache_t"
  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("cust", LongType),
    StructField("cents", LongType),
    StructField("status", StringType),
    StructField("note", StringType)))

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Evicts every class earlier suites left in the codegen cache (an
    * LRU of [[GraftSession.CodegenCacheEntries]]) by compiling half as
    * many again one-line projections, each made distinct by the
    * literal it inlines — so the first pass below compiles all of the
    * mix's classes and its count says how many the mix needs. */
  private def evictCodegenCache(): Unit =
    (0 until GraftSession.CodegenCacheEntries * 3 / 2).foreach { i =>
      UnsafeProjection.create(Seq(
        Add(BoundReference(0, LongType, nullable = false), Literal(i.toLong))))
    }

  private val mergeSql =
    s"""MERGE INTO $Table AS t USING codegen_cache_src AS s ON t.id = s.id
       |WHEN MATCHED AND s.op = 'd' THEN DELETE
       |WHEN MATCHED THEN UPDATE SET cents = s.cents, status = s.status, note = s.note
       |WHEN NOT MATCHED AND s.op <> 'd' THEN INSERT (id, cust, cents, status, note)
       |  VALUES (s.id, s.cust, s.cents, s.status, s.note)""".stripMargin
  private val updateSql =
    s"UPDATE $Table SET cents = cents + 1, status = 'U' WHERE id BETWEEN 100 AND 199"
  private val deleteSql = s"DELETE FROM $Table WHERE id = 7"
  private val aggSql =
    s"SELECT count(*), sum(cents), count(DISTINCT status) FROM $Table"

  private def event(op: String, lsn: Long, k: Long): String = {
    def img(c: Long) =
      s"""{"id":$k,"cust":${k % 97},"cents":$c,"status":"S","note":"n$k"}"""
    val (before, after) = op match {
      case "c" => ("null", img(lsn))
      case "u" => (img(0), img(lsn))
      case _ => (img(0), "null")
    }
    s"""{"op":"$op","before":$before,"after":$after,""" +
      s""""source":{"table":"t","lsn":$lsn},"ts_ms":$lsn}"""
  }

  test("a repeated statement mix compiles its classes once; one SQL MERGE runs <= 10 jobs") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      GraftSession.CodegenCacheEntries.toString)
    val root = Files.createTempDirectory("graft_codegen_cache")
    val dir = root.resolve("t").toString
    val landing = root.resolve("landing")
    Files.createDirectories(landing)
    val base = (0L until 2000L).map(k => Row(k, k % 97, k * 10, "O", s"c$k"))
    PartitionedUpsert.init(
      spark.createDataFrame(base.asJava, schema).coalesce(1), dir, "id", 16)
    spark.sql(s"DROP TABLE IF EXISTS $Table")
    spark.sql(s"CREATE TABLE $Table USING graft LOCATION '$dir'")
    val query = CdcStream.source(spark, landing.toString, schema)
      .select(col("op"), col("lsn"),
        coalesce(col("after.id"), col("before.id")).as("id"),
        col("after.cust").as("cust"), col("after.cents").as("cents"),
        col("after.status").as("status"), col("after.note").as("note"))
      .writeStream.format("graft")
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .option("opCol", "op").option("lsnCol", "lsn")
      .start(dir)
    var mergeJobs = Seq.empty[Int]
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      query.processAllAvailable()
      /** One pass of the mix: compiles per statement, in mix order. */
      def pass(p: Int): Seq[(String, Long)] = {
        def step(name: String)(body: => Unit): (String, Long) = {
          val c0 = compiles
          body
          name -> (compiles - c0)
        }
        val src = (0L until 200L).map { i =>
          val k = (i * 37 + p * 11) % 4000 // matched and unmatched keys
          Row(k, k % 97, k + p, "M", s"m$k", if (i % 9 == 0) "d" else "u")
        }
        spark.createDataFrame(src.asJava,
          StructType(schema.fields :+ StructField("op", StringType)))
          .createOrReplaceTempView("codegen_cache_src")
        val merge = step("merge") {
          org.apache.spark.graft.BusDrain(spark.sparkContext)
          val j0 = jobs.get
          spark.sql(mergeSql).collect()
          org.apache.spark.graft.BusDrain(spark.sparkContext)
          mergeJobs :+= jobs.get - j0
        }
        Seq(merge,
          step("aggregate")(spark.sql(aggSql).collect()),
          step("stream batch") {
            val lsn0 = 1000000L * (p + 1)
            val es = (0 until 100).map { i =>
              val k = (i * 53L + p) % 4000
              event(Seq("u", "c", "d")(i % 3), lsn0 + i, k)
            }
            val staged = root.resolve(s"changes-$p.json")
            Files.write(staged, es.mkString("\n").getBytes(StandardCharsets.UTF_8))
            Files.move(staged, landing.resolve(s"changes-$p.json"),
              StandardCopyOption.ATOMIC_MOVE)
            query.processAllAvailable()
          },
          step("update")(spark.sql(updateSql).collect()),
          step("delete")(spark.sql(deleteSql).collect()))
      }
      evictCodegenCache()
      val first = pass(1)
      val second = pass(2)
      val detail = s"compiles per statement: first pass $first, second pass $second"
      info(detail)
      // more classes than Spark's default cache holds, or the default
      // would keep them too and this spec would show nothing
      assert(first.map(_._2).sum > 100, detail)
      // the second pass recompiles only literal-bearing one-offs: the
      // statements whose lsn is the table version + 1; the aggregate
      // and the stream batch compile nothing
      assert(second.toMap.apply("aggregate") === 0L, detail)
      assert(second.toMap.apply("stream batch") === 0L, detail)
      Seq("merge", "update", "delete").foreach { s =>
        assert(second.toMap.apply(s) <= 3L, detail)
      }
      assert(mergeJobs.forall(_ <= 10), s"jobs per MERGE: $mergeJobs")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      query.stop()
      spark.sql(s"DROP TABLE IF EXISTS $Table")
    }
  }
}
