package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.GraftSession

/** Benchmark entry point: runs one workload in one JVM and writes the full
  * results file. `perfbench/run.py` builds this, starts it, and prints the
  * result line.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --cores C --work DIR --out FILE [--record FILE]
  *
  * Run from the checkout root: the per-layer metric names come from
  * BENCHMARK.json there, and workloads read their reference files from
  * perfbench/. `--record` makes query_sweep write its reference result
  * hashes to FILE instead of checking against them. */
object Main {
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** The per-layer metric names BENCHMARK.json declares, in its order. */
  def declaredLayers(): Seq[String] =
    json.readTree(new File("BENCHMARK.json")).get("per_layer").elements().asScala
      .map(_.get("name").asText).toSeq

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val wl = Workload.all.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = new File(opt("work")).getAbsoluteFile
    work.mkdirs()
    val declared = declaredLayers()

    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(cores).master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .getOrCreate()
    GraftSession.registerFunctions(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ctx = Ctx(spark, seed, seconds, tracer, work, cores, opt.get("record"))
    val out = try wl.run(ctx) finally tracer.foreach(_.close())
    ctx.phase("checks")
    val checks = out.checks :+ Check("no_failed_operations", out.ops.failed == 0,
      s"${out.ops.failed} of ${out.ops.attempted} operations failed")
    val (perLayer, perLayerMore): (ListMap[String, Double], ListMap[String, Double]) =
      if (trace) Layers.complete(out.layers, declared) else (ListMap.empty, ListMap.empty)

    val results = ListMap(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "local" -> s"local[$cores]",
      "jvm_start_s" -> (t0Ms - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3,
      "session_s" -> sessionS, "phases_s" -> ctx.phases,
      "workload_s" -> ((System.nanoTime() - t0) / 1e9 - sessionS),
      "correct" -> checks.forall(_.ok), "attempted" -> out.ops.attempted,
      "failed" -> out.ops.failed,
      "error_rate" -> out.ops.failed.toDouble / math.max(1L, out.ops.attempted),
      "end_to_end" -> out.e2e,
      "per_layer" -> perLayer,
      "per_layer_more" -> perLayerMore,
      "operations" -> out.ops.summary,
      "failures" -> out.ops.failureLog,
      "checks" -> checks.map(c => ListMap("name" -> c.name, "ok" -> c.ok, "info" -> c.info)),
      "spans" -> tracer.map(_.spanTable).getOrElse(ListMap.empty),
      "detail" -> out.detail)
    json.writerWithDefaultPrettyPrinter().writeValue(new File(opt("out")), results)

    checks.filterNot(_.ok).foreach(c => System.err.println(s"CHECK FAILED ${c.name}: ${c.info}"))
    out.ops.failureLog.take(5).foreach(f => System.err.println(s"FAILED $f"))
    spark.stop()
  }
}
