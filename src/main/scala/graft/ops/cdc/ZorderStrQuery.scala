package graft.ops.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** The STRING-PRUNING lifecycle under the hash gate (r19 — the oracle
  * face of truncated-string bucket stats): a range-layout table whose
  * string column is bucket-correlated is Z-ORDERED BY that string
  * column (recording per-bucket truncated bounds), a merge promotes a
  * sparse key slice to an out-of-range tier (forcing the merge-write
  * re-record off the staged footers — stale bounds would prune the
  * promoted rows away), and
  * the result is read back through the DSv2 scan as two
  * filter-pushed legs (equality + prefix) whose union DuckDB replays
  * algebraically. One hash certifies: zorder admission of strings
  * (the 8-byte rank image), the bounds' manifest round-trip, the
  * merge-write refresh, and — the point — that bucket pruning against
  * truncated string bounds never drops a matching row. The two legs
  * are separate scans ON PURPOSE: the pruner consumes top-level
  * conjuncts (the DSv2 contract), so an OR of the two predicates
  * would push as one un-prunable filter; split, each leg prunes. */
object ZorderStrQuery {

  def qCdcZorderStr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = graft.ops.relational.Scans.fixtureDir(dir, "zorder_str")
    val tgt = Tables.table(spark, dir, "customer").select(
      $"c_custkey",
      round($"c_acctbal" * 100.0, 0).cast("long").as("bal_cents"),
      // zero-padded thousand-block tier: monotone-binned in custkey,
      // so RANGE buckets hold 1-2 distinct tiers → tight bounds
      concat(lit("T"), lpad(expr("c_custkey DIV 1000").cast("string"),
        4, "0")).as("tier"))
    LifecycleFixture.pristine(spark, path, "c_custkey", nBuckets = 4,
      layout = PartitionedUpsert.LayoutRange) { tgt.coalesce(1) }
    PartitionedUpsert.optimizeZorder(spark, path, Seq("tier")): Unit
    PartitionedUpsert.merge(spark, path,
      tgt.filter($"c_custkey" % 501 === 0).select(
        lit(1L).as("lsn"), lit("u").as("op"),
        $"c_custkey", $"bal_cents", lit("zz-promoted").as("tier")),
      "c_custkey", "lsn", "op", Seq("bal_cents", "tier"), nBuckets = 4)
    val t = spark.read.format("graft").load(path)
      .select($"c_custkey", $"bal_cents", $"tier")
    t.filter($"tier" === "T0000")
      .unionByName(t.filter($"tier".startsWith("zz")))
      .orderBy($"c_custkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cdc_zorder_str" -> (qCdcZorderStr _)
  )

  val oracle: Map[String, String] = Map(
    // replay: derive the tier grid, promote the every-501st slice,
    // then the two disjoint predicate legs as one WHERE
    "q_cdc_zorder_str" ->
      """WITH t AS (
        |  SELECT c_custkey,
        |         CAST(ROUND(c_acctbal*100,0) AS BIGINT) AS bal_cents,
        |         CASE WHEN c_custkey % 501 = 0 THEN 'zz-promoted'
        |              ELSE 'T' || lpad(CAST(c_custkey // 1000 AS VARCHAR),
        |                               4, '0')
        |         END AS tier
        |  FROM customer)
        |SELECT c_custkey, bal_cents, tier FROM t
        |WHERE tier = 'T0000' OR tier LIKE 'zz%'
        |ORDER BY c_custkey""".stripMargin
  )
}
