package graft.ops.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** The ANALYZE-declaration lifecycle under the hash gate (r19 — the
  * oracle face of `ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS`):
  * a range-layout table declares per-bucket skipping stats for a long
  * column, a bucket-correlated string tier, and a nullable bonus
  * column with ONE agg scan (no rewrite — the declaration path that
  * scales), a merge then promotes a sparse key slice (forcing the
  * merge-write re-record, off the staged footers, on every declared
  * face), and the result
  * reads back as three DISJOINT filter-pushed legs — string equality,
  * long range, and IS NULL + string range — whose union DuckDB
  * replays. One hash certifies the statement grammar, the metadata-
  * only stats commit, the declaration's stickiness across merges, and
  * that pruning on all three stat faces never drops a matching row.
  * Legs are separate scans for the same reason as q_cdc_zorder_str
  * (the pruner consumes top-level conjuncts). */
object AnalyzeQuery {

  def qCdcAnalyze(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = graft.ops.relational.Scans.fixtureDir(dir, "analyze")
    val bal = round($"c_acctbal" * 100.0, 0).cast("long")
    val tgt = Tables.table(spark, dir, "customer").select(
      $"c_custkey",
      bal.as("bal_cents"),
      concat(lit("T"), lpad(expr("c_custkey DIV 1000").cast("string"),
        4, "0")).as("tier"),
      // nulls on a deterministic grid — the IS NULL face needs rows
      when($"c_custkey" % 7 === 0, lit(null).cast("long"))
        .otherwise(bal).as("bonus_cents"))
    LifecycleFixture.pristine(spark, path, "c_custkey", nBuckets = 4,
      layout = PartitionedUpsert.LayoutRange) { tgt.coalesce(1) }
    val tbl = s"graft_analyze_t_${math.abs(path.hashCode).toString}"
    if (!spark.catalog.tableExists(tbl))
      spark.sql(s"CREATE TABLE $tbl USING graft LOCATION '$path'")
    spark.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS " +
      "FOR COLUMNS (bal_cents, tier, bonus_cents)")
    PartitionedUpsert.merge(spark, path,
      tgt.filter($"c_custkey" % 301 === 0).select(
        lit(1L).as("lsn"), lit("u").as("op"), $"c_custkey",
        lit(-1000000L).as("bal_cents"), lit("zz-promoted").as("tier"),
        lit(-5L).as("bonus_cents")),
      "c_custkey", "lsn", "op", Seq("bal_cents", "tier", "bonus_cents"),
      nBuckets = 4)
    val t = spark.read.format("graft").load(path)
      .select($"c_custkey", $"bal_cents", $"tier", $"bonus_cents")
    t.filter($"tier" === "T0000" && $"bal_cents" >= 0L)
      .unionByName(t.filter($"bal_cents" < 0L))
      .unionByName(t.filter($"bonus_cents".isNull &&
        $"tier" >= "T0001" && $"bal_cents" >= 0L))
      .orderBy($"c_custkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cdc_analyze" -> (qCdcAnalyze _)
  )

  val oracle: Map[String, String] = Map(
    // replay: derive the grid, override the promoted slice, then the
    // three disjoint legs as one WHERE (disjoint ⇒ same multiset)
    "q_cdc_analyze" ->
      """WITH t AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 301 = 0 THEN CAST(-1000000 AS BIGINT)
        |              ELSE CAST(ROUND(c_acctbal*100,0) AS BIGINT)
        |         END AS bal_cents,
        |         CASE WHEN c_custkey % 301 = 0 THEN 'zz-promoted'
        |              ELSE 'T' || lpad(CAST(c_custkey // 1000 AS VARCHAR),
        |                               4, '0')
        |         END AS tier,
        |         CASE WHEN c_custkey % 301 = 0 THEN CAST(-5 AS BIGINT)
        |              WHEN c_custkey % 7 = 0 THEN NULL
        |              ELSE CAST(ROUND(c_acctbal*100,0) AS BIGINT)
        |         END AS bonus_cents
        |  FROM customer)
        |SELECT c_custkey, bal_cents, tier, bonus_cents FROM t
        |WHERE (tier = 'T0000' AND bal_cents >= 0)
        |   OR (bal_cents < 0)
        |   OR (bonus_cents IS NULL AND tier >= 'T0001' AND bal_cents >= 0)
        |ORDER BY c_custkey""".stripMargin
  )
}
