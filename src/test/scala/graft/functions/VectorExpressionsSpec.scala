package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.llm.Knn

class VectorExpressionsSpec extends SparkSpec {

  test("graft_dot equals the HOF fold bit-for-bit on the corpus") {
    import spark.implicits._
    VectorExpressions.register(spark)
    val emb = spark.read.parquet(s"$sfSmoke/embeddings.parquet")
      .withColumn("v", Knn.asDouble($"embedding"))
    val both = emb.select(
      Knn.dot($"v", $"v").as("hof"),
      VectorExpressions.dot_native($"v", $"v").as("native"))
    assert(both.filter($"hof" =!= $"native").count() === 0)
  }

  test("graft_dot works from SQL and participates in codegen") {
    import spark.implicits._
    VectorExpressions.register(spark)
    spark.read.parquet(s"$sfSmoke/embeddings.parquet")
      .withColumn("v", Knn.asDouble($"embedding"))
      .createOrReplaceTempView("emb_v")
    val df = spark.sql("SELECT vec_id, graft_dot(v, v) AS sq FROM emb_v")
    assert(df.count() === 500)
    // the starred stage prefix `*(n)` marks whole-stage-codegen spans;
    // assert the projection computing graft_dot is inside one
    val codegenSpans = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w.toString
    }
    assert(codegenSpans.exists(_.contains("graft_dot")), codegenSpans.mkString("\n"))
  }

  test("graft_dot null semantics mirror the HOF fold") {
    import spark.implicits._
    VectorExpressions.register(spark)
    val df = Seq(
      (Some(Seq(1.0, 2.0)), Some(Seq(3.0, 4.0))),       // 1*3+2*4 = 11
      (Some(Seq(1.0, 2.0)), Some(Seq(3.0, 4.0, 9.9))),  // length mismatch → null
      (None, Some(Seq(1.0)))                            // null array → null
    ).toDF("a", "b")
      .select(
        VectorExpressions.dot_native($"a", $"b").as("native"),
        graft.ops.llm.Knn.dot($"a", $"b").as("hof"))
    val rows = df.collect()
    assert(rows(0).getDouble(0) === 11.0 && rows(0).getDouble(1) === 11.0)
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))
    assert(rows(2).isNullAt(0) && rows(2).isNullAt(1))
  }

  test("extensions-injected session resolves graft_dot without manual registration") {
    val s2 = graft.GraftSession.builder(2)
      .master("local[2]")
      .appName("graft-ext-test")
      .getOrCreate()
    try {
      // getOrCreate may return the shared session; force a new one with
      // extensions applied via newSession + manual check on the builder
      val out = s2.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
        .head().getDouble(0)
      assert(out === 11.0)
    } finally ()
  }
}
