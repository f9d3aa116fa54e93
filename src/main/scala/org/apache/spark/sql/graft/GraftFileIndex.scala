package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{DataType, StructType}

import graft.ops.cdc.{BloomIndex, PartitionedUpsert}
import graft.ops.cdc.PartitionedUpsert.Manifest
import graft.sources.GraftScanBuilder

/** Spark's own Parquet file scan over ONE pinned manifest of a graft
  * table — the third `private[sql]` bridge next to [[SinkBridge]] and
  * [[GraftNamedTable]], under `org.apache.spark.sql` so it can call
  * `DataSourceStrategy.translateFilter` (the Delta-package precedent:
  * Delta's `TahoeFileIndex` plays the same role for its log).
  *
  * The index lists exactly the files the manifest's kept buckets hold.
  * `listFiles` receives the scan's data filters, turns them into
  * `sources.Filter`s and keeps only the buckets
  * [[GraftScanBuilder.pruneBuckets]] allows: key values route through
  * the table's own router expression, evaluated on the driver with no
  * Spark job; key ranges, colStats, strStats and nullStats intersect
  * the manifest's per-bucket entries; `bloomIndexDir` adds the
  * index's candidate buckets. Only the kept bucket directories are
  * listed. `sizeInBytes` is the sum of the manifest's
  * `BucketStat.bytes`, listing only buckets committed without a stat.
  * Spark re-evaluates every filter on the rows, so pruning is only
  * ever an optimization.
  *
  * `only` limits the index to a bucket subset (the merge path's
  * touched buckets, one default-fill group); ids the manifest lacks
  * are ignored. Bucket directories are immutable once published, so
  * `refresh` has nothing to do. */
final class GraftFileIndex(spark: SparkSession, dir: String,
                           val manifest: Manifest,
                           only: Option[Seq[Long]] = None,
                           bloomIndexDir: Option[String] = None)
    extends FileIndex {

  /** The buckets this index reads when no filter prunes. */
  val buckets: Seq[Long] = only.getOrElse(manifest.buckets.keys.toSeq)
    .filter(manifest.buckets.contains).distinct.sorted

  private def bucketPath(b: Long): Path =
    new Path(PartitionedUpsert.resolveRel(dir, manifest.buckets(b)))

  private def listBucket(b: Long): Seq[FileStatus] =
    GraftFileIndex.listBucket(spark, bucketPath(b))

  private def route(values: Seq[Any]): Seq[Long] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(
      manifest.schema(manifest.keyCol).dataType)
    val router = GraftFileIndex.routerFor(spark, manifest)
    router.synchronized {
      values.map(v =>
        router.eval(InternalRow(toCatalyst(v))).asInstanceOf[Long]).distinct
    }
  }

  /** Candidate buckets of an existing [[BloomIndex]] sidecar for each
    * equality/IN filter. A filter on a column the index does not cover
    * contributes nothing (the index validates its column and the
    * failure is discarded). Skipped unless the table's CURRENT version
    * is this index's pinned one: a rebucket committed after the pin
    * would make the candidates and the pinned layout disagree. */
  private def bloomKeep(filters: Seq[sources.Filter]): Option[Set[Long]] =
    bloomIndexDir.flatMap { idx =>
      val current = Try(
        PartitionedUpsert.manifestOrFail(spark, dir).version).toOption
      if (!current.contains(manifest.version)) None
      else filters.flatMap {
        case sources.EqualTo(a, v) if v != null =>
          Try(BloomIndex.candidateBuckets(spark, dir, idx, a, Seq(v)).toSet)
            .toOption
        case sources.In(a, vs) if vs != null && vs.nonEmpty && !vs.contains(null) =>
          Try(BloomIndex.candidateBuckets(spark, dir, idx, a, vs.toSeq).toSet)
            .toOption
        case _ => None
      }.reduceOption(_ intersect _)
    }

  /** The buckets a scan with these data filters reads. */
  private def keptBuckets(dataFilters: Seq[Expression]): Seq[Long] = {
    val filters = dataFilters.flatMap(
      DataSourceStrategy.translateFilter(_, supportNestedPredicatePushdown = false))
    val pruned = Try(GraftScanBuilder.pruneBuckets(manifest, filters, route))
      .toOption.flatten.map(_.toSet)
    val kept = pruned.fold(buckets)(p => buckets.filter(p))
    bloomKeep(filters).fold(kept)(c => kept.filter(c))
  }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty,
      keptBuckets(dataFilters).flatMap(listBucket).toArray))

  override def rootPaths: Seq[Path] = buckets.map(bucketPath)

  override def inputFiles: Array[String] =
    buckets.flatMap(listBucket).map(_.getPath.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = buckets.map(b =>
    manifest.stats.get(b).map(_.bytes)
      .getOrElse(listBucket(b).map(_.getLen).sum)).sum

  override def partitionSchema: StructType = new StructType()

  // equal indexes read equal files: plan reuse and cache lookups
  // compare relations, so two loads of one version must match
  private def identity: (String, Seq[String], Option[String]) =
    (dir, buckets.map(manifest.buckets), bloomIndexDir)
  override def equals(o: Any): Boolean = o match {
    case g: GraftFileIndex => identity == g.identity
    case _ => false
  }
  override def hashCode(): Int = identity.hashCode()
}

object GraftFileIndex {

  private val routers =
    new ConcurrentHashMap[(String, Int, Seq[Long], DataType), Expression]()
  private val listings = new ConcurrentHashMap[String, Seq[FileStatus]]()

  /** Data files of the published bucket directory `p`, hidden files
    * skipped (the rule Spark's own file index applies). Every write
    * stages into a new, uniquely named directory, so a published one
    * never changes and its listing is kept: a MERGE's statement read
    * and its rewrite's base read are two indexes over the same
    * buckets, and they now list each directory once between them. */
  private def listBucket(spark: SparkSession, p: Path): Seq[FileStatus] = {
    if (listings.size > 4096) listings.clear()
    listings.computeIfAbsent(p.toString, _ =>
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
        .filter { f =>
          val n = f.getPath.getName
          f.isFile && !n.startsWith("_") && !n.startsWith(".")
        }.toSeq)
  }

  /** The router of manifest `m` bound to a one-column key row:
    * `routeFor` analyzed over a local relation (analysis only: no job,
    * no physical plan), once per routing identity — layout, bucket
    * count, split points and key type — not once per query. Callers
    * evaluate it synchronized on the expression, because a range
    * layout's router is a lambda whose variables hold state. */
  private def routerFor(spark: SparkSession, m: Manifest): Expression = {
    val key = m.schema(m.keyCol)
    if (routers.size > 1024) routers.clear()
    routers.computeIfAbsent((m.layout, m.nBuckets, m.splits, key.dataType), _ =>
      spark.createDataFrame(
        java.util.Collections.emptyList[Row](), StructType(Seq(key)))
        .select(PartitionedUpsert.routeFor(m, col(s"`${key.name}`")))
        .queryExecution.analyzed match {
        case Project(Seq(a: Alias), child) =>
          BindReferences.bindReference(a.child, child.output)
        case other =>
          throw new IllegalStateException(s"unexpected router plan: $other")
      })
  }

  /** The rows of `only` buckets of manifest `m` as one Parquet file
    * scan — no tombstones or defaults applied (the caller,
    * `PartitionedUpsert.bucketsDf`, owns those). Columns read
    * nullable, as Spark's own file sources read them. */
  def scan(spark: SparkSession, dir: String, m: Manifest,
           only: Option[Seq[Long]], bloomIndexDir: Option[String]): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new GraftFileIndex(spark, dir, m, only, bloomIndexDir),
      partitionSchema = new StructType(), dataSchema = m.schema.asNullable,
      bucketSpec = None, fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark))
}
