package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.UpdateAttributeNullability
import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graft.GraftNamedTable

import graft.ops.cdc.PartitionedUpsert

/** Reads of a graft table go through Spark's own Parquet file scan:
  * this resolution rule ([[graft.functions.GraftExtensions]] injects
  * it) replaces each batch-read `DataSourceV2Relation` over a
  * [[GraftTable]] — or a [[GraftNamedTable]] wrapping one — with
  * [[PartitionedUpsert.bucketsDf]]'s plan for the table's pinned
  * manifest, re-aliased to the relation's output attributes (ids,
  * names and metadata kept), so the rest of the query resolves as if
  * nothing changed. Delta Lake swaps its V2 table for a V1 relation
  * over its own file index the same way.
  *
  * Only relations that are plan CHILDREN are replaced. A write
  * command holds its target in a non-child `table` field
  * (`AppendData`, `OverwriteByExpression`), so `INSERT INTO t SELECT
  * * FROM t` writes through the DSv2 table and reads through this
  * plan. */
final class GraftReadRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val out = plan.resolveOperatorsDown {
      case r: DataSourceV2Relation if !r.isStreaming =>
        GraftReadRule.graftTable(r.table).map { t =>
          val pinned = PartitionedUpsert.bucketsDf(spark, t.dir, t.manifest,
            bloomIndexDir = t.bloomIndexDir).queryExecution.analyzed
          // a read by name names its table on each file relation:
          // `Catalog.refreshTable` (which a stream writing by name runs
          // after every batch) walks the plan down to the relations it
          // reads and invalidates each one's table
          val read = r.identifier.fold(pinned) { id =>
            val named = Some(CatalogTable(
              identifier = TableIdentifier(id.name,
                if (id.namespace.isEmpty) None
                else Some(id.namespace.mkString(".")),
                r.catalog.map(_.name)),
              tableType = CatalogTableType.EXTERNAL,
              storage = CatalogStorageFormat.empty,
              schema = t.schema(), provider = Some("graft")))
            pinned.transform {
              case l: LogicalRelation => l.copy(catalogTable = named)
            }
          }
          // both sides list the manifest schema's columns in order
          // (`bucketsDf` keeps that order on every branch)
          Project(r.output.zip(read.output).map { case (a, src) =>
            Alias(src, a.name)(exprId = a.exprId, qualifier = a.qualifier,
              explicitMetadata = Some(a.metadata))
          }, read)
        }.getOrElse(r)
    }
    // the file scan reads every column nullable, as Spark's file
    // sources do, where the relation may have declared some non-null:
    // the references above learn that here, inside the resolution
    // batch, so a write of this query still gets its null checks
    // (Spark updates nullability only after that batch)
    if (out eq plan) plan else UpdateAttributeNullability(out)
  }
}

object GraftReadRule {
  private def graftTable(t: Table): Option[GraftTable] = t match {
    case g: GraftTable => Some(g)
    case n: GraftNamedTable => graftTable(n.delegate)
    case _ => None
  }
}
