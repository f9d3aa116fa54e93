package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.streaming.{Sink => StreamSink}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{coalesce, col, concat_ws, count, lit, raise_error, when}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, Filter, InsertableRelation, StreamSinkProvider, TableScan}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.cdc.PartitionedUpsert
import graft.ops.cdc.PartitionedUpsert.Manifest

/** DataSourceV2 read path for [[PartitionedUpsert]] tables:
  * `spark.read.format("graft").load(dir)`, `CREATE TABLE t USING
  * graft LOCATION '<dir>'`, and `option("versionAsOf", v)` /
  * `option("timestampAsOf", t)` time
  * travel — the cross-session face [[PartitionedUpsert.registerView]]
  * cannot provide (temp views die with the session; a catalog table
  * over this provider persists in the metastore and works from any
  * Spark SQL client).
  *
  * Architecture:
  *
  *  1. [[GraftDataSource]] (TableProvider) and [[GraftCatalog]]
  *     resolve the manifest (current, `versionAsOf` or
  *     `timestampAsOf`) ONCE per table load into a [[GraftTable]] — a
  *     load is a consistent SNAPSHOT, the same isolation contract
  *     every reader here has (registerView pins at registration; this
  *     pins at load/table-resolution).
  *  2. [[GraftReadRule]], a resolution rule [[graft.functions
  *     .GraftExtensions]] injects, swaps every batch-read DSv2
  *     relation over a [[GraftTable]] for the plan
  *     [[PartitionedUpsert.bucketsDf]] builds for its pinned
  *     manifest: Spark's own Parquet file scan over a
  *     [[org.apache.spark.sql.graft.GraftFileIndex]], with the
  *     table's default fill and tombstone anti-join above it — the
  *     same plan every core reader (merge, CDF, time travel) gets. The
  *     index prunes buckets by the filters Spark pushes into the scan
  *     (key routing and ranges, column stats, bloom candidates) and
  *     lists only the kept buckets; Spark reads the files columnar,
  *     with row-group skipping and no row conversion. Write targets
  *     stay DSv2 ([[GraftWriteBuilder]]).
  *  3. [[GraftScanBuilder]] is the DSv2 scan left for sessions built
  *     without the extension: a `V1Scan` serving the rows of that
  *     same plan with the pushed filters placed on it (so the index
  *     still prunes; Spark re-evaluates them on the rows), and the
  *     streaming refusal below.
  *
  * Registered via META-INF/services as format name `graft`.
  *
  * STREAMING (r16 — the r14/r15 boundary, crossed): `readStream
  * .format("graft").option("readChangeFeed","true").option(
  * "startingVersion", v).load(dir)` tails the table as its
  * change-data feed via [[GraftCdfMicroBatchStream]] — offsets are
  * manifest versions, each micro-batch is the manifest-diff CDF
  * window spooled by a distributed job and served by executor-side
  * length-prefix readers (that class's scaladoc owns the design and
  * why it still ships no bespoke parquet reader and no driver-side
  * collect). Plain `readStream` WITHOUT readChangeFeed stays
  * unimplemented on purpose: tailing an upsert table means seeing
  * updates and deletes, which Spark's append-only source contract
  * cannot express — the CDF shape is the honest one, and the non-
  * streaming alternatives remain [[PartitionedUpsert.changesSinceLsn]]
  * cursors and `readChangeFeed` polling. */
class GraftDataSource extends TableProvider with DataSourceRegister
    with StreamSinkProvider
    with org.apache.spark.sql.sources.StreamSourceProvider {

  override def shortName(): String = "graft"

  /** Plain streaming READS keep the documented refusal WITH the paved
    * pointers on every resolution path. The V2 route lands in
    * [[GraftScan.toMicroBatchStream]]; this V1 face exists because
    * catalog tables are [[org.apache.spark.sql.graft.GraftNamedTable]]
    * (r18 — the streaming-WRITE-by-name fallback), and Spark plans
    * streaming READS of a V1-fallback table through the V1 source
    * interface — without this the user would get the generic "does
    * not support streamed reading" instead of the pointer.
    *
    * [[sourceSchema]] must NOT refuse: `ResolveDataSource` constructs
    * the V1 `StreamingRelation` EAGERLY as the fallback arm of every
    * format-based `readStream.load(dir)` — including CDF reads whose
    * execution goes V2 — and the relation's constructor evaluates
    * sourceSchema at analysis time (observed: a throwing sourceSchema
    * killed every CDF stream). So the schema call answers honestly
    * from the manifest, and the refusal lives in [[createSource]],
    * which only runs when the V1 path is actually EXECUTED — i.e.
    * exactly the plain by-name streaming read being refused. */
  private def refuseStreamRead(): Nothing =
    throw new UnsupportedOperationException(
      "plain streaming reads of a graft table are not supported — an " +
        "upsert table's tail carries updates/deletes, which Spark's " +
        "append-only source contract cannot express. Tail it as its " +
        "change feed: format(\"graft\") with " +
        "option(\"readChangeFeed\",\"true\") + option(\"startingVersion\"," +
        " <v>|\"snapshot\"|\"afterEvolve\"), or by NAME via the " +
        "`<table>.changes` metadata table with the same options")

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) = parameters.get("path") match {
    case Some(dir) =>
      shortName() -> PartitionedUpsert
        .manifestOrFail(sqlContext.sparkSession, dir).schema
    case None => refuseStreamRead()
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = refuseStreamRead()

  /** Streaming WRITE face: `df.writeStream.format("graft").start(dir)`
    * — [[GraftStreamingSink]]'s scaladoc owns the design (why the V1
    * sink interface carries the lowering — the DeltaSink precedent —
    * and the exactly-once epoch-cursor contract). Reached via Spark's
    * documented fallback: [[GraftTable]] declares no STREAMING_WRITE
    * capability, so `DataStreamWriter` resolves the DSv2 table (which
    * validates the target exists) and then falls back to this V1
    * provider. */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): StreamSink = {
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft sink needs a path: writeStream.format(\"graft\").start(dir)"))
    require(partitionColumns.isEmpty,
      "graft tables bucket by their own committed key layout — " +
        "partitionBy is not supported on the sink")
    require(!parameters.get("readChangeFeed").exists(_.toBoolean),
      "readChangeFeed is a READ option — the sink writes the table")
    // fail at start(), not first trigger: the target must exist (init
    // creates tables; a sink only merges into them)
    PartitionedUpsert.manifestOrFail(sqlContext.sparkSession, dir): Unit
    new GraftStreamingSink(dir, parameters, outputMode)
  }

  // schema comes from the manifest, never from the user
  override def supportsExternalMetadata(): Boolean = false

  private def dirOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft source needs a path: spark.read.format(\"graft\").load(dir)"))

  /** The manifest resolved by [[inferSchema]], reused by [[getTable]]
    * so a load resolves ONCE — Spark calls the two back-to-back on
    * the same provider instance, and an independent re-resolution in
    * getTable could pin a NEWER version than the one inferSchema saw
    * if a merge committed between the calls (harmless for data —
    * Table.schema() re-reads — but it would falsify the "pins ONCE
    * per load" snapshot claim). Keyed by (dir, versionAsOf) so a
    * mismatched reuse is impossible; volatile because Spark may probe
    * providers from planner threads. */
  @volatile private var resolved: Option[(String, Option[String], Manifest)] =
    None

  /** `timestampAsOf` accepts epoch millis, `yyyy-MM-dd HH:mm:ss[.f]`
    * (session-local zone via Timestamp.valueOf — the Delta string
    * shape), or an ISO-8601 instant; it resolves to the FLOOR version
    * ([[PartitionedUpsert.versionAtTimestamp]]) and from there the
    * path is identical to `versionAsOf`. Passing both options is an
    * error — two pins can disagree and neither should win silently. */
  private def tsMsOf(raw: String): Long =
    graft.ops.cdc.DmlSql.tsMillis(raw) // ONE chain across every face
      .getOrElse(throw new IllegalArgumentException(
        s"timestampAsOf '$raw' is neither epoch millis, " +
          "'yyyy-MM-dd HH:mm:ss[.f]', nor an ISO-8601 instant"))

  private def isPinned(options: CaseInsensitiveStringMap): Boolean =
    options.get("versionAsOf") != null || options.get("timestampAsOf") != null

  private def manifestOf(options: CaseInsensitiveStringMap): Manifest = {
    val spark = SparkSession.active
    val dir = dirOf(options)
    val ver = Option(options.get("versionAsOf"))
    val ts = Option(options.get("timestampAsOf"))
    if (ver.nonEmpty && ts.nonEmpty)
      throw new IllegalArgumentException(
        "pass versionAsOf OR timestampAsOf, not both")
    // cache key folds the timestamp in so a mismatched reuse is
    // impossible whichever pin the caller used
    val pin = ver.orElse(ts.map(t => s"ts:$t"))
    resolved match {
      case Some((d, v, m)) if d == dir && v == pin => m
      case _ =>
        val m = (ver, ts) match {
          case (Some(v), _) => PartitionedUpsert.manifestAt(spark, dir, v.toLong)
          case (_, Some(t)) => PartitionedUpsert.manifestAt(spark, dir,
            PartitionedUpsert.versionAtTimestamp(spark, dir, tsMsOf(t)))
          case _ => PartitionedUpsert.manifestOrFail(spark, dir)
        }
        resolved = Some((dir, pin, m))
        m
    }
  }

  private def isCdf(options: CaseInsensitiveStringMap): Boolean =
    options.getBoolean("readChangeFeed", false)

  private def cdfOf(options: CaseInsensitiveStringMap)
      : (Long, Long, Manifest, Boolean) =
    GraftDataSource.cdfParams(SparkSession.active, dirOf(options), options)

  private def cdfSchema(m: Manifest): StructType =
    GraftDataSource.cdfSchema(m)

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (isCdf(options)) cdfSchema(cdfOf(options)._3)
    else manifestOf(options).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    if (isCdf(options)) {
      val (from, to, m, snapshotStart) = cdfOf(options)
      new GraftCdfTable(dirOf(options), from, to, cdfSchema(m),
        endingVersionExplicit = options.get("endingVersion") != null,
        snapshotStart = snapshotStart)
    } else
      new GraftTable(dirOf(options), manifestOf(options),
        writable = !isPinned(options), // historical snapshots are read-only
        bloomIndexDir = Option(options.get("bloomIndexDir")))
  }
}

object GraftDataSource {

  /** CDF options resolved against `dir`: (from, to, schema-of-to,
    * snapshotStart). `startingVersion` is required (a feed without a
    * start is a full-table diff against nothing); `endingVersion`
    * defaults to the current manifest. Two SYMBOLIC starts (both
    * streaming-only):
    *  - `"snapshot"` (r16 verdict #5, Delta's semantics): baseline =
    *    the CURRENT version, and the stream's FIRST batch is that
    *    whole snapshot as `insert` records, then the tail — the
    *    initial-state-then-changes composition users otherwise
    *    hand-assemble from read() + readChangeFeed.
    *  - `"afterEvolve"` (r16 verdict #7): baseline = the latest
    *    SCHEMA-ERA START — the paved restart path after the one-era
    *    rule fails a stream on a mid-stream evolution (see
    *    [[GraftCdfMicroBatchStream]]'s era scaladoc for the no-loss
    *    drain recipe).
    * Shared by the path face (format("graft") options) and the NAME
    * face ([[GraftTable.newScanBuilder]] — `readStream.option(…)
    * .table("cat.ns.t")`), so the two can never drift. */
  private[sources] def cdfParams(spark: SparkSession, dir: String,
                                 options: CaseInsensitiveStringMap)
      : (Long, Long, Manifest, Boolean) = {
    val raw = Option(options.get("startingVersion")).getOrElse(
      throw new IllegalArgumentException(
        "readChangeFeed needs option(\"startingVersion\", v) — a " +
          "version, \"snapshot\", or \"afterEvolve\""))
    val cur = PartitionedUpsert.manifestOrFail(spark, dir)
    val snapshot = raw.equalsIgnoreCase("snapshot")
    val from =
      if (snapshot) cur.version
      else if (raw.equalsIgnoreCase("afterEvolve"))
        PartitionedUpsert.latestSchemaEraStart(spark, dir)
      else raw.toLong
    val to = Option(options.get("endingVersion")).map(_.toLong)
      .getOrElse(cur.version)
    (from, to,
      if (to == cur.version) cur
      else PartitionedUpsert.manifestAt(spark, dir, to),
      snapshot)
  }

  private[sources] def cdfSchema(m: Manifest): StructType = {
    val key = m.schema(m.keyCol)
    val values = m.schema.fields.filterNot(_.name.equalsIgnoreCase(m.keyCol))
    // everything nullable: DELETE records carry null value columns by
    // contract, and the table's non-null marks would make the V1
    // bridge's row encoder reject them at runtime
    StructType((key +:
      org.apache.spark.sql.types.StructField("change_type",
        org.apache.spark.sql.types.StringType) +:
      values.toSeq).map(_.copy(nullable = true)))
  }
}

/** Change data feed as a DSv2 table (the Delta
  * `readChangeFeed`/`startingVersion` option surface, cross-session):
  * rows are the row-level insert/update/delete records
  * [[PartitionedUpsert.changesBetween]] derives by diffing ONLY the
  * buckets whose data path changed between the two manifests —
  * O(changed data), zero reads for untouched buckets (that scaladoc
  * owns the algorithm; this class only surfaces it as a format).
  * Read-only by construction; column pruning supported (a narrower
  * projection prunes the delegated diff's output), filter pushdown
  * deliberately not — the diff must see full changed-bucket contents
  * regardless, so filters above lose nothing but a cosmetic
  * PushedFilters line.
  *
  * ALSO the streaming face (r16 — the r14/r15 boundary, crossed):
  * `readStream` on the same options serves the feed incrementally via
  * [[GraftCdfMicroBatchStream]] — offsets are manifest versions, each
  * batch is the spooled window diff (that class's scaladoc owns the
  * design); the batch-only `endingVersion` option is rejected on the
  * stream path. */
final class GraftCdfTable(dir: String, fromVersion: Long, toVersion: Long,
                          cdfSchema: StructType,
                          endingVersionExplicit: Boolean = false,
                          snapshotStart: Boolean = false)
    extends Table with SupportsRead {

  override def name(): String =
    s"graft_cdf.`$dir`@v$fromVersion..v$toVersion"
  override def schema(): StructType = cdfSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = cdfSchema
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = required
        override def description(): String = name()
        override def toMicroBatchStream(checkpointLocation: String)
            : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
          new GraftCdfMicroBatchStream(dir, fromVersion, required,
            checkpointLocation, endingVersionExplicit,
            snapshotStart = snapshotStart)
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T = {
          if (snapshotStart)
            throw new IllegalArgumentException(
              "startingVersion=snapshot is a STREAMING option (initial " +
                "snapshot then tail) — a batch reader wanting current " +
                "state just reads the table")
          val req = required
          val relation = new BaseRelation with TableScan {
            override val sqlContext: SQLContext = context
            override val schema: StructType = req
            override def buildScan(): RDD[Row] = {
              if (fromVersion == toVersion)
                // same-version window: an empty feed by definition
                // (changesBetween itself requires from < to)
                context.sparkSession.createDataFrame(
                  new java.util.ArrayList[Row](), req).rdd
              else {
                val diff = PartitionedUpsert.changesBetween(
                  context.sparkSession, dir, fromVersion, toVersion)
                val projected =
                  if (req.isEmpty) diff.select()
                  else diff.select(req.fieldNames.map(n => col(s"`$n`")).toSeq: _*)
                projected.rdd
              }
            }
          }
          relation.asInstanceOf[T]
        }
      }
    }
}

/** One committed manifest version of one upsert table. READS are
  * immutable — merges committed after resolution are invisible
  * (snapshot isolation), re-resolve (re-`load` / re-plan the catalog
  * table) to see them. WRITES (`INSERT INTO t …`, `df.writeTo` /
  * `saveAsTable` append) re-resolve the CURRENT manifest at execution
  * and lower onto the bucket-pruned upsert merge — see
  * [[GraftWriteBuilder]]; a `versionAsOf` table is read-only
  * (inserting into a historical snapshot is never what the caller
  * meant). */
final class GraftTable(val dir: String, val manifest: Manifest,
                       writable: Boolean = true,
                       val bloomIndexDir: Option[String] = None)
    extends Table with SupportsRead with SupportsWrite {

  override def name(): String = s"graft.`$dir`@v${manifest.version}"

  /** Schema with column COMMENTs re-attached for the catalog surfaces
    * (DESCRIBE / SHOW CREATE TABLE read field metadata). The MANIFEST
    * schema stays comment-free — comments live beside it so a doc
    * edit never reads as a schema change to the CDF one-era rule —
    * and comment metadata is inert to reads/writes (schema-match
    * checks compare names and types). */
  override def schema(): StructType =
    if (manifest.colComments.isEmpty && manifest.insertDefaults.isEmpty)
      manifest.schema
    else StructType(manifest.schema.fields.map { f =>
      val commented = manifest.colComments
        .find(_._1.equalsIgnoreCase(f.name))
        .map(e => f.withComment(e._2)).getOrElse(f)
      // INSERT-time defaults (r19) ride back out as CURRENT_DEFAULT
      // field metadata — the channel Spark's analyzer reads to fill
      // an INSERT that omits the column or writes the DEFAULT
      // keyword, so the engine never sees a short row. Inert to
      // reads/writes like comments (schema-match compares names and
      // types); the manifest schema itself stays metadata-free.
      manifest.insertDefaults.find(_._1.equalsIgnoreCase(f.name)) match {
        case Some((_, litSql)) =>
          val key = org.apache.spark.sql.catalyst.util
            .ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY
          commented.copy(metadata =
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(commented.metadata)
              .putString(key, litSql).build())
        case None => commented
      }
    })

  /** The honest DDL rendering (r18 — what SHOW CREATE TABLE reads):
    * the key-bucketed layout IS `PARTITIONED BY (bucket(n, key))`,
    * the same transform [[GraftCatalog.keyAndBuckets]] accepts, so
    * the emitted statement re-creates an equivalent table. */
  override def partitioning(): Array[Transform] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .bucket(manifest.nBuckets, manifest.keyCol))

  override def properties(): java.util.Map[String, String] = {
    val p = new java.util.HashMap[String, String]()
    // stored user TBLPROPERTIES first, so the engine's own attributes
    // below can never be shadowed by a same-named user property
    manifest.props.foreach { case (k, v) => p.put(k, v) }
    p.put(org.apache.spark.sql.connector.catalog.TableCatalog
      .PROP_PROVIDER, "graft")
    manifest.comment.foreach(c => p.put(
      org.apache.spark.sql.connector.catalog.TableCatalog.PROP_COMMENT, c))
    // informative only — a range layout's split points are planned
    // from data (init/rebucket), not declared
    if (manifest.layout != PartitionedUpsert.LayoutHash)
      p.put("layout", manifest.layout)
    p
  }
  override def capabilities(): java.util.Set[TableCapability] =
    // TRUNCATE = "can replace all contents" in DSv2 capability terms —
    // it is what routes INSERT OVERWRITE through the V1 bridge with
    // overwrite=true (lowered onto the atomic PartitionedUpsert
    // .replace, r16), not a row-level truncate operator;
    // OVERWRITE_BY_FILTER (r17) admits `writeTo(t).overwrite(cond)` —
    // the replace-where lowering GraftWriteBuilder.overwrite owns;
    // MICRO_BATCH_READ (r17) exists so `readStream.table(name)` fails
    // with OUR pointer to the paved paths (GraftScan
    // .toMicroBatchStream) instead of Spark's generic capability error
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.MICRO_BATCH_READ)

  // NOTE on the name face of the change feed: a reader option cannot
  // WIDEN a catalog table's analysis-time schema (the relation's
  // output is Table.schema(); scans only prune), so CDF-by-name is
  // served as the `cat.ns.t.changes` METADATA TABLE
  // ([[GraftCatalog.loadTable]] → [[GraftChangesTable]]) whose schema
  // IS the CDF schema — not as a readChangeFeed option here.
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(dir, manifest, bloomIndexDir)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (!writable)
      throw new IllegalArgumentException(
        s"graft table at $dir was loaded with versionAsOf/timestampAsOf " +
        "— historical snapshots are read-only; load the current version " +
        "to write")
    val got = info.schema().fieldNames.map(_.toLowerCase).toSet
    val want = manifest.schema.fieldNames.map(_.toLowerCase).toSet
    if (got != want)
      throw new IllegalArgumentException(
        s"INSERT schema ${got.toSeq.sorted.mkString(",")} does not match " +
        s"table schema ${want.toSeq.sorted.mkString(",")} at $dir")
    new GraftWriteBuilder(dir)
  }
}

/** DSv2 write = APPEND-AS-UPSERT: every inserted row is an op='u'
  * change (a later statement's row for an existing key wins by lsn —
  * upsert-table semantics, the only INSERT contract a keyed table
  * can honor), routed through the same bucket-pruned
  * [[PartitionedUpsert.merge]] every other writer uses — O(changes),
  * conflict-checked, crash-safe via the manifest commit.
  *
  * OVERWRITE BY EXPRESSION (r17, `SupportsOverwrite` — the
  * replaceWhere rung): `df.writeTo(t).overwrite(cond)` replaces
  * exactly the rows matching `cond` with the batch, as ONE atomic
  * merge commit — the matched keys enter as op='d' changes and the
  * batch as op='u' at a later lsn, so "delete the slice, land the
  * batch" has no torn middle state and a batch row re-inserting a
  * matched key simply wins. Cost is the merge's: O(matched + batch)
  * buckets, the matched-keys read is one filtered scan. Every
  * overwrite conjunct must be expressible as a pushable filter
  * ([[GraftScanBuilder.toColumn]]) — an untranslatable condition
  * errors loudly rather than silently deleting the wrong slice.
  * The always-true condition routes to [[PartitionedUpsert.replace]]
  * (whole-table refill), same as TRUNCATE-capability overwrites.
  *
  * Two executor-raised guards keep single-statement semantics exact:
  * a NULL key row (a keyed table cannot hold one) and a key
  * DUPLICATED WITHIN the statement (two rows, one key, one lsn — the
  * winner would be shuffle-nondeterministic; across statements the
  * later lsn wins deterministically, so only the intra-statement case
  * is an error — the same line [[MergeInto]]'s strictDups draws).
  *
  * The lsn is the target manifest version + 1 — monotone across
  * commits by construction, no clock involved. `InsertableRelation`
  * (the public V1 write bridge) receives the pre-resolved, pre-cast
  * frame from Spark; `overwrite` (INSERT OVERWRITE, r16) lowers onto
  * [[PartitionedUpsert.replace]] — the ATOMIC whole-table refill
  * (one manifest swap, no torn truncate+insert middle state, old
  * versions time-travelable), under the same key guards. */
final class GraftWriteBuilder(dir: String) extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsOverwrite {
  // set by Spark's V2Writes when INSERT OVERWRITE's delete expression
  // is the always-true truncate — the capability flag alone is not
  // enough, the BUILDER must accept the truncate call or analysis
  // fails with 'does not support overwrite by expression'
  private var overwriteAll = false
  private var overwriteCond: Option[org.apache.spark.sql.Column] = None
  override def truncate(): WriteBuilder = { overwriteAll = true; this }
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.isEmpty || filters.contains(sources.AlwaysTrue()))
      overwriteAll = true
    else {
      val cols = filters.map(f => GraftScanBuilder.toColumn(f).getOrElse(
        throw new IllegalArgumentException(
          s"overwrite condition '$f' is not expressible against a graft " +
            "table — use a column/literal predicate, or DELETE + INSERT " +
            "for arbitrary conditions")))
      overwriteCond = Some(cols.reduce(_ && _))
    }
    this
  }
  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwriteFlag: Boolean): Unit = {
          val overwrite = overwriteAll ||
            (overwriteFlag && overwriteCond.isEmpty)
          val spark = data.sparkSession
          // CURRENT manifest, not the read-pinned one: an INSERT
          // targets the table head (concurrent-merge conflicts are
          // caught by the manifest commit, like every writer)
          val m = PartitionedUpsert.manifestOrFail(spark, dir)
          val keyCol = m.keyCol
          val valueCols = m.schema.fieldNames.filterNot(
            _.equalsIgnoreCase(keyCol)).toSeq
          val guarded = GraftWrites.guardKeys(data, keyCol, strictDups = true)
          overwriteCond.foreach { cond =>
            // replace-where: matched keys delete at lsn, the batch
            // lands at lsn+1 (a batch row for a matched key wins) —
            // one atomic merge commit, no torn delete-then-insert.
            // CONSTRAINT CHECK (ADVICE r17, Delta replaceWhere
            // parity): every batch row must itself satisfy the
            // overwrite condition — a row falling OUTSIDE the matched
            // slice would otherwise silently upsert/overwrite an
            // unrelated key, contradicting "replaces exactly the
            // matching slice". Executor-raised (codegen'd
            // raise_error), streaming pass, no driver collect; a NULL
            // condition value counts as not-satisfying (three-valued
            // logic would otherwise let NULL rows slip the slice).
            val lsn = m.version + 1
            val deletes = PartitionedUpsert.read(spark, dir).filter(cond)
              .select(lit("d").as("__op") +: lit(lsn).as("__lsn") +:
                (keyCol +: valueCols).map(col): _*)
            val inserts = guarded
              .filter(when(!coalesce(cond, lit(false)),
                raise_error(concat_ws("", lit("replace-where: batch row " +
                  s"(key = "), col(keyCol).cast("string"),
                  lit(s") does not satisfy the overwrite condition — " +
                    "it would modify rows outside the replaced slice; " +
                    "widen the condition or use MERGE/INSERT")))
                  .cast("boolean")).otherwise(lit(true)))
              .select(lit("u").as("__op") +: lit(lsn + 1).as("__lsn") +:
                (keyCol +: valueCols).map(col): _*)
            PartitionedUpsert.merge(spark, dir, deletes.unionByName(inserts),
              keyCol, "__lsn", "__op", valueCols, m.nBuckets): Unit
            return
          }
          if (overwrite) {
            // INSERT OVERWRITE = atomic whole-table REPLACE (r16 —
            // PartitionedUpsert.replace owns the contract: one
            // manifest swap, old versions time-travelable, crash
            // leaves the old table intact). Same key guards as the
            // append path: the replacement snapshot must be key-
            // unique and null-free like any keyed-table state.
            PartitionedUpsert.replace(
              guarded.select(m.schema.fieldNames.map(col).toSeq: _*), dir)
          } else {
            val changes = guarded.select(
              lit("u").as("__op") +: lit(m.version + 1).as("__lsn") +:
                (keyCol +: valueCols).map(col): _*)
            PartitionedUpsert.merge(spark, dir, changes, keyCol, "__lsn",
              "__op", valueCols, m.nBuckets)
          }
          ()
        }
      }
  }
}

/** Shared write-path guards — batch INSERT ([[GraftWriteBuilder]]) and
  * the streaming sink ([[GraftStreamingSink]]) raise the SAME
  * executor-side errors, so the two faces can never drift. */
object GraftWrites {

  /** NULL table keys always error (a keyed table cannot hold one);
    * with `strictDups`, a key appearing on more than one row of the
    * batch errors too — one statement/epoch gives both rows the same
    * lsn, so the winner would be shuffle-nondeterministic (the
    * [[graft.ops.cdc.MergeInto]] strictDups line). Executor-raised via
    * codegen'd `raise_error` — a streaming pass over the batch, no
    * driver collect. */
  def guardKeys(data: DataFrame, keyCol: String,
                strictDups: Boolean): DataFrame = {
    val nullGuard =
      when(col(keyCol).isNull,
        raise_error(lit(s"INSERT row with NULL table key '$keyCol'"))
          .cast("boolean"))
    if (!strictDups)
      data.filter(nullGuard.otherwise(lit(true)))
    else {
      val w = Window.partitionBy(col(keyCol))
      data
        .withColumn("__dup", count(lit(1)).over(w))
        .filter(
          nullGuard
            .when(col("__dup") > 1,
              raise_error(concat_ws("", lit("INSERT has multiple rows for key "),
                col(keyCol).cast("string"))).cast("boolean"))
            .otherwise(lit(true)))
        .drop("__dup")
    }
  }
}

object GraftScanBuilder {

  /** Manifest-level bucket pruning, pure and unit-testable: which
    * bucket ids can hold rows satisfying ALL of `filters`
    * (top-level conjuncts, per DSv2 contract)? Two pruners compose
    * by intersection:
    *
    *  - POINT routing (`key = v` / `key IN (…)`): route each value
    *    through the table's own hash/range router. `route` is
    *    injected so this stays pure — production passes the driver
    *    evaluation of the table's own router expression
    *    ([[org.apache.spark.sql.graft.GraftFileIndex]]), guaranteeing
    *    bit-identical routing with the write path (a re-implemented
    *    driver-side xxhash64 would be a silent-wrong-pruning hazard).
    *  - RANGE intersection (`key > / >= / < / <= v`): a bucket whose
    *    recorded [minKey, maxKey] cannot intersect the conjunct's
    *    bound is skipped. Stats are Optional — a bucket without them
    *    (non-integral key, pre-stats manifest) is conservatively
    *    kept.
    *
    *  - SECONDARY-column range intersection (r18): conjuncts on
    *    non-key INTEGRAL columns prune via the manifest's recorded
    *    per-bucket colStats ranges (see the in-body comment for the
    *    soundness argument and the write/invalidate discipline).
    *
    * Any other filter — non-literal, null-valued, or on a column with
    * no recorded range — prunes nothing (correctness never depends on
    * pruning). Returns None for "no pruning possible" (read all
    * buckets) to keep the all-kept case allocation-free. */
  def pruneBuckets(m: Manifest, filters: Seq[Filter],
                   route: Seq[Any] => Seq[Long]): Option[Seq[Long]] = {
    val key = m.keyCol
    def isKey(a: String): Boolean = a.equalsIgnoreCase(key)
    val all = m.buckets.keys.toSeq.sorted

    var candidate: Option[Set[Long]] = None
    def intersect(bs: Set[Long]): Unit =
      candidate = Some(candidate.fold(bs)(_ intersect bs))

    def statsKeep(pred: (Long, Long) => Boolean): Set[Long] =
      all.filter { b =>
        m.stats.get(b) match {
          case Some(s) => (s.minKey, s.maxKey) match {
            case (Some(lo), Some(hi)) => pred(lo, hi)
            case _ => true // no recorded range: must keep
          }
          case None => true
        }
      }.toSet

    // SECONDARY-column range pruning (r18, r17 verdict #5 — the
    // inter-file rung on non-key columns): a bucket whose recorded
    // [min, max] for column `a` (Manifest.colStats — recorded by
    // every value-changing rewrite of the bucket: merge-write, the
    // ZORDER refresher, compaction) cannot intersect the conjunct's
    // bound is skipped. Recorded for stats-typed columns only
    // (isColStatsType — integral / date / timestamp / short-decimal,
    // each with an exact order-preserving long image); a bucket
    // without an entry is kept. NULL rows are safe to prune past: a
    // non-null comparison predicate never matches them anyway
    // (three-valued logic), and min/max ignore nulls by construction.
    def colStatsCol(a: String): Boolean =
      !isKey(a) && m.schema.fields.exists(f =>
        f.name.equalsIgnoreCase(a) &&
          graft.ops.cdc.PartitionedUpsert.isColStatsType(f.dataType))
    def colKeep(a: String, pred: (Long, Long) => Boolean): Set[Long] =
      all.filter { b =>
        m.colStats.get(b)
          .flatMap(_.collectFirst {
            case (c, (lo, hi)) if c.equalsIgnoreCase(a) => (lo, hi) })
          .forall { case (lo, hi) => pred(lo, hi) }
      }.toSet

    // STRING-column bounds pruning (r19 — Manifest.strStats): entries
    // are truncated BOUNDS (lo ≤ min, hi ≥ max — never exact images),
    // and the keep-predicates below only prune when a bound PROVES
    // emptiness, which is sound under both readings. Comparisons are
    // code-point order (== the engine's UTF8String byte order); a
    // pushed literal with an unpaired surrogate contributes nothing
    // (its UTF-8 encoding diverges from its code points).
    // DECLARED gate: beyond the type check, at least one bucket must
    // record the column — an undeclared column contributes nothing
    // (preserving the None = "no pruning possible" contract instead
    // of intersecting an all-kept set)
    def strStatsCol(a: String): Boolean =
      !isKey(a) && m.schema.fields.exists(f =>
        f.name.equalsIgnoreCase(a) &&
          graft.ops.cdc.PartitionedUpsert.isStrStatsType(f.dataType)) &&
        m.strStats.values.exists(_.keys.exists(_.equalsIgnoreCase(a)))
    def strKeep(a: String, pred: (String, String) => Boolean): Set[Long] =
      all.filter { b =>
        m.strStats.get(b)
          .flatMap(_.collectFirst {
            case (c, (lo, hi)) if c.equalsIgnoreCase(a) => (lo, hi) })
          .forall { case (lo, hi) => pred(lo, hi) }
      }.toSet
    // NULL-count pruning (r19 — Manifest.nullStats): each entry is a
    // COHERENT (nulls, rows) pair recorded by the rewrite that
    // produced the bucket's files; no type gate (null-ness is
    // type/collation-independent), same declared gate as strings
    def nullStatsCol(a: String): Boolean =
      !isKey(a) && m.schema.fields.exists(_.name.equalsIgnoreCase(a)) &&
        m.nullStats.values.exists(_.keys.exists(_.equalsIgnoreCase(a)))
    def nullKeep(a: String, pred: (Long, Long) => Boolean): Set[Long] =
      all.filter { b =>
        m.nullStats.get(b)
          .flatMap(_.collectFirst {
            case (c, (n, r)) if c.equalsIgnoreCase(a) => (n, r) })
          .forall { case (n, r) => pred(n, r) }
      }.toSet
    def strLit(v: Any): Option[String] = v match {
      case s: String
        if !graft.ops.cdc.PartitionedUpsert.hasUnpairedSurrogate(s) =>
        Some(s)
      case _ => None
    }
    def sc(a: String, b: String): Int =
      graft.ops.cdc.PartitionedUpsert.strCmp(a, b)

    // the literal's long image under the COLUMN'S type — the shared
    // statLongOf/statLongExpr pair keeps the two faces in lockstep
    // (a date literal converts to the days image the write side
    // recorded, a decimal to its unscaled image at the column's
    // scale); None = unconvertible → no pruning contribution
    def asLong(a: String, v: Any): Option[Long] =
      m.schema.fields.find(_.name.equalsIgnoreCase(a))
        .flatMap(f =>
          graft.ops.cdc.PartitionedUpsert.statLongOf(f.dataType, v))

    filters.foreach {
      case sources.EqualTo(a, v) if isKey(a) && v != null =>
        intersect(route(Seq(v)).toSet)
        asLong(a, v).foreach(x => intersect(statsKeep((lo, hi) => lo <= x && x <= hi)))
      case sources.In(a, vs) if isKey(a) && vs != null =>
        val nonNull = vs.filter(_ != null).toSeq
        // an IN with a null needs no special casing: null matches
        // nothing, so the non-null values alone bound the buckets
        intersect(route(nonNull).toSet)
      case sources.GreaterThan(a, v) if isKey(a) =>
        asLong(a, v).foreach(x => intersect(statsKeep((_, hi) => hi > x)))
      case sources.GreaterThanOrEqual(a, v) if isKey(a) =>
        asLong(a, v).foreach(x => intersect(statsKeep((_, hi) => hi >= x)))
      case sources.LessThan(a, v) if isKey(a) =>
        asLong(a, v).foreach(x => intersect(statsKeep((lo, _) => lo < x)))
      case sources.LessThanOrEqual(a, v) if isKey(a) =>
        asLong(a, v).foreach(x => intersect(statsKeep((lo, _) => lo <= x)))
      // non-key columns prune via the recorded secondary ranges
      case sources.EqualTo(a, v) if colStatsCol(a) && v != null =>
        asLong(a, v).foreach(x => intersect(colKeep(a,
          (lo, hi) => lo <= x && x <= hi)))
      case sources.In(a, vs) if colStatsCol(a) && vs != null =>
        val xs = vs.filter(_ != null).toSeq.flatMap(v => asLong(a, v))
        if (xs.nonEmpty && xs.size == vs.count(_ != null))
          intersect(colKeep(a,
            (lo, hi) => xs.exists(x => lo <= x && x <= hi)))
      case sources.GreaterThan(a, v) if colStatsCol(a) =>
        asLong(a, v).foreach(x => intersect(colKeep(a, (_, hi) => hi > x)))
      case sources.GreaterThanOrEqual(a, v) if colStatsCol(a) =>
        asLong(a, v).foreach(x => intersect(colKeep(a, (_, hi) => hi >= x)))
      case sources.LessThan(a, v) if colStatsCol(a) =>
        asLong(a, v).foreach(x => intersect(colKeep(a, (lo, _) => lo < x)))
      case sources.LessThanOrEqual(a, v) if colStatsCol(a) =>
        asLong(a, v).foreach(x => intersect(colKeep(a, (lo, _) => lo <= x)))
      // non-key STRING columns prune via the recorded truncated bounds
      case sources.EqualTo(a, v) if strStatsCol(a) =>
        strLit(v).foreach(x => intersect(strKeep(a,
          (lo, hi) => sc(lo, x) <= 0 && sc(x, hi) <= 0)))
      case sources.In(a, vs) if strStatsCol(a) && vs != null =>
        val xs = vs.filter(_ != null).toSeq.map(strLit)
        if (xs.nonEmpty && xs.forall(_.isDefined))
          intersect(strKeep(a, (lo, hi) => xs.flatten.exists(x =>
            sc(lo, x) <= 0 && sc(x, hi) <= 0)))
      case sources.GreaterThan(a, v) if strStatsCol(a) =>
        strLit(v).foreach(x => intersect(strKeep(a,
          (_, hi) => sc(hi, x) > 0)))
      case sources.GreaterThanOrEqual(a, v) if strStatsCol(a) =>
        strLit(v).foreach(x => intersect(strKeep(a,
          (_, hi) => sc(hi, x) >= 0)))
      case sources.LessThan(a, v) if strStatsCol(a) =>
        strLit(v).foreach(x => intersect(strKeep(a,
          (lo, _) => sc(lo, x) < 0)))
      case sources.LessThanOrEqual(a, v) if strStatsCol(a) =>
        strLit(v).foreach(x => intersect(strKeep(a,
          (lo, _) => sc(lo, x) <= 0)))
      // a prefix predicate matches s iff p ≤ s < ceil(p): prune when
      // p > hi (all matches above the bucket) or ceil(p) ≤ lo (all
      // matches below it); an un-bumpable prefix skips that side
      case sources.StringStartsWith(a, p) if strStatsCol(a) =>
        strLit(p).foreach { x =>
          intersect(strKeep(a, (lo, hi) =>
            sc(x, hi) <= 0 &&
              graft.ops.cdc.PartitionedUpsert.strPrefixCeil(x)
                .forall(pc => sc(pc, lo) > 0)))
        }
      // a bucket recording ZERO nulls cannot match IS NULL; a bucket
      // whose every row is null cannot match IS NOT NULL
      case sources.IsNull(a) if nullStatsCol(a) =>
        intersect(nullKeep(a, (n, _) => n > 0))
      case sources.IsNotNull(a) if nullStatsCol(a) =>
        intersect(nullKeep(a, (n, r) => n < r))
      case _ => // non-key / unsupported: no pruning contribution
    }
    candidate.map(_.toSeq.sorted)
  }

  /** sources.Filter → Column: the condition of an overwrite by
    * expression ([[GraftWriteBuilder]]) as a predicate over the
    * table's rows; None for a filter with no column equivalent. */
  def toColumn(f: Filter): Option[org.apache.spark.sql.Column] = {
    def c(a: String) = col(s"`$a`")
    f match {
      case sources.EqualTo(a, v) => Some(c(a) === lit(v))
      case sources.EqualNullSafe(a, v) => Some(c(a) <=> lit(v))
      case sources.GreaterThan(a, v) => Some(c(a) > lit(v))
      case sources.GreaterThanOrEqual(a, v) => Some(c(a) >= lit(v))
      case sources.LessThan(a, v) => Some(c(a) < lit(v))
      case sources.LessThanOrEqual(a, v) => Some(c(a) <= lit(v))
      case sources.In(a, vs) => Some(c(a).isin(vs.toIndexedSeq: _*))
      case sources.IsNull(a) => Some(c(a).isNull)
      case sources.IsNotNull(a) => Some(c(a).isNotNull)
      case sources.StringStartsWith(a, v) => Some(c(a).startsWith(v))
      case sources.StringEndsWith(a, v) => Some(c(a).endsWith(v))
      case sources.StringContains(a, v) => Some(c(a).contains(v))
      case sources.And(l, r) =>
        for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
      case sources.Or(l, r) =>
        for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
      case sources.Not(x) => toColumn(x).map(!_)
      case sources.AlwaysTrue() => Some(lit(true))
      case sources.AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }
}

/** The DSv2 scan of a [[GraftTable]], reached only in sessions built
  * without [[graft.functions.GraftExtensions]] (with it,
  * [[GraftReadRule]] replaces the relation before any scan is
  * built): the rows of [[PartitionedUpsert.bucketsDf]]'s plan,
  * column-pruned, with every pushed filter that has a column form
  * placed on that plan, where the file index prunes buckets by it.
  * Every filter stays residual: Spark re-evaluates them on the rows. */
final class GraftScanBuilder(dir: String, manifest: Manifest,
                             bloomIndexDir: Option[String] = None)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var required: StructType = manifest.schema
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // top-level columns only: a nested reference arrives dotted
    pushed = filters.filter(f =>
      f.references.forall(manifest.schema.fieldNames.contains) &&
        GraftScanBuilder.toColumn(f).isDefined)
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new GraftScan(dir, manifest, bloomIndexDir, required, pushed.toSeq)
}

/** [[GraftScanBuilder]]'s scan of the table's read plan. */
final class GraftScan(dir: String, manifest: Manifest,
                      bloomIndexDir: Option[String], required: StructType,
                      pushed: Seq[Filter])
    extends V1Scan {

  override def readSchema(): StructType = required
  override def description(): String = s"graft $dir v${manifest.version}"

  /** The MICRO_BATCH_READ capability on [[GraftTable]] exists for the
    * CDF path — a PLAIN streaming read lands here and keeps the
    * provider's documented refusal (an upsert table's tail has
    * updates/deletes the append-only source contract cannot express),
    * now with the paved alternatives in the message. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    throw new UnsupportedOperationException(
      "plain streaming reads of a graft table are not supported — an " +
        "upsert table's tail carries updates/deletes, which Spark's " +
        "append-only source contract cannot express. Tail it as its " +
        "change feed: format(\"graft\") with " +
        "option(\"readChangeFeed\",\"true\") + option(\"startingVersion\"," +
        " <v>|\"snapshot\"|\"afterEvolve\"), or by NAME via the " +
        "`<table>.changes` metadata table with the same options")

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
    val relation = new BaseRelation with TableScan {
      override val sqlContext: SQLContext = context
      override val schema: StructType = required
      override def buildScan(): RDD[Row] =
        pushed.flatMap(GraftScanBuilder.toColumn).foldLeft(
          PartitionedUpsert.bucketsDf(context.sparkSession, dir, manifest,
            bloomIndexDir = bloomIndexDir))(_ where _)
          .select(required.fieldNames.map(n => col(s"`$n`")).toSeq: _*).rdd
    }
    relation.asInstanceOf[T]
  }
}
