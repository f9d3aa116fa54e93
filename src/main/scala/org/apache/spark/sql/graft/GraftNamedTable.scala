package org.apache.spark.sql.graft

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, V2TableWithV1Fallback}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Streaming write BY CATALOG NAME (r18) — one of the three
  * `private[sql]` bridges this library uses (with [[SinkBridge]] and
  * [[GraftFileIndex]]), in the same package-under-
  * `org.apache.spark.sql` pattern (the Delta-package precedent;
  * Delta's `DeltaTableV2` extends this exact trait for the same
  * reason).
  *
  * WHY: `df.writeStream.format("graft").toTable("g.ns.t")` resolves
  * the identifier through the table catalog and then needs ONE of
  * (a) `STREAMING_WRITE` capability, or (b) the table to be a
  * [[V2TableWithV1Fallback]], whose `v1Table.location` routes the
  * query through `format(provider).startInternal(location)` — i.e.
  * STRAIGHT onto the path-addressed V1 sink
  * ([[graft.sources.GraftStreamingSink]]) that already owns the
  * exactly-once epoch-cursor contract. (b) is the honest lowering
  * here for the same reason the sink is V1 in the first place: an
  * upsert epoch is a declarative multi-stage merge plan over the
  * whole batch, not per-partition row appends — declaring
  * STREAMING_WRITE would hand the epoch to isolated `DataWriter`s.
  * With (b) the by-name face and the by-path face are ONE code path:
  * same schema gate, same txn cursors, same quarantine semantics —
  * they cannot drift.
  *
  * The wrapper delegates every batch face to the inner table
  * unchanged (name/schema/capabilities/scan/write), and
  * [[graft.sources.GraftReadRule]] reads through it to the inner
  * table's pinned manifest, so batch SQL,
  * time travel, DML-grammar resolution (which reads the rendered
  * Name) and the `readStream.table` refusal pointer all behave
  * exactly as before; only `DataStreamWriter.toTable`'s
  * fallback match sees something new.
  *
  * Spark's `writeToV1Table` checks the writer's `source` against the
  * table provider, so the caller must say `.format("graft")` before
  * `.toTable(...)` (the same contract Delta's V1 streaming fallback
  * draws). The target table must already exist — `toTable`'s
  * auto-create path cannot declare a key, and the catalog refuses
  * keyless creates loudly. */
final class GraftNamedTable(
    val delegate: Table with SupportsRead with SupportsWrite,
    catalogName: String,
    namespace: Seq[String],
    tableName: String,
    dir: String)
  extends Table with SupportsRead with SupportsWrite
    with V2TableWithV1Fallback {

  override def name(): String = delegate.name()
  override def schema(): StructType = delegate.schema()
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] =
    delegate.partitioning()
  override def properties(): util.Map[String, String] =
    delegate.properties()
  override def capabilities(): util.Set[TableCapability] =
    delegate.capabilities()
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = delegate.newScanBuilder(options)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    delegate.newWriteBuilder(info)

  /** The minimal V1 face `DataStreamWriter.writeToV1Table` consumes:
    * tableType (≠ VIEW), provider ("graft" — checked against the
    * writer's declared format) and location (becomes the V1 sink's
    * path). The identifier is label-only on that path; multi-level
    * namespaces collapse into the database field joined by '.'. */
  override def v1Table: CatalogTable = CatalogTable(
    identifier = TableIdentifier(tableName,
      if (namespace.isEmpty) None else Some(namespace.mkString(".")),
      Some(catalogName)),
    tableType = CatalogTableType.EXTERNAL,
    storage = CatalogStorageFormat.empty.copy(
      locationUri = Some(new Path(dir).toUri)),
    schema = delegate.schema(),
    provider = Some("graft"))
}
