package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** DataSource V2 temporal table format (SURVEY.md §4.3 item 1):
  *
  * {{{
  * spark.read.format("graft-temporal").load(path)                    // latest
  * spark.read.format("graft-temporal").option("revision", 2).load(path)
  * spark.read.format("graft-temporal").option("asOfTimestampMs", ts).load(path)
  * spark.read.format("graft-temporal").option("allRevisions", true).load(path)
  * df.write.format("graft-temporal").mode("append").save(path)       // new revision
  * }}}
  *
  * Mirrors `jn:doc(db,res[,rev])` / `jn:open(db,res,ts)` / `jn:store`
  * (reference: bundles/sirix-query/src/main/java/io/sirix/query/function/
  * jn/io/Doc.java:31, DocByPointInTime.java:32, Store.java:49). Revision
  * resolution happens in the provider against the (tiny, driver-side)
  * commit log; scans and writes delegate to Spark's native parquet V2
  * table, so predicate pushdown, column pruning, vectorized decode and
  * row-group skipping apply unchanged — the physical layer the reference
  * implements by hand (PAX regions, zone maps) is inherited from
  * Parquet+Catalyst.
  *
  * Snapshot directories are hive-style (`rev=N/`), so the revision number
  * surfaces as a partition column `rev`: an `allRevisions` read over the
  * whole table prunes revisions via ordinary partition pruning — a filter
  * `rev = 7` never lists or reads any other revision's files, which is
  * what keeps time travel O(snapshot) at 100 TB history.
  *
  * A V2 batch write appends a NEW revision (append-only storage — every
  * write is a snapshot commit): data lands in `rev=latest+1/` and the
  * commit-log entry is written on the driver in `BatchWrite.commit`, i.e.
  * only after every task committed — failed jobs leave no commit-log
  * entry, preserving snapshot isolation under the single-writer contract
  * (README.md:118-121 in the reference). Bootstrap an empty table with
  * [[TemporalTable.write]] (V2 needs an existing schema to plan against).
  */
class GraftTemporalSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-temporal"

  override def supportsExternalMetadata(): Boolean = false

  /** The table resolved by [[inferSchema]], reused by [[getTable]] when the
    * options match — Spark calls the two back-to-back on one provider
    * instance per read, and the table's lazy metadata (commit-log listing,
    * layout detection, schema footers) would otherwise be re-fetched from
    * the (possibly remote) filesystem twice per open. */
  @volatile private var lastInferred: Option[(JMap[String, String], GraftTable)] = None

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val t = new GraftTable(options)
    lastInferred = Some((options.asCaseSensitiveMap(), t))
    t.schema()
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    if (opts.getBoolean("commitStream", false)) {
      new GraftStreamTable(opts)
    } else lastInferred match {
      case Some((k, t)) if k == properties => t
      case _ => new GraftTable(opts)
    }
  }
}

private[graft] object GraftTemporalSource {

  def tablePathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-temporal requires a path"))

  /** Resolve the revision selection to concrete data directories —
    * through any [[RevisionCompaction]] overlay, so a rewritten old
    * revision serves from its live generation directory. Hive partition
    * parsing still infers `rev=N` for a generation dir (`rev=N/_c2/`)
    * under the table basePath, so compacted and uncompacted revisions
    * mix in one scan with ordinary `rev` pruning. */
  def resolveDataPaths(options: CaseInsensitiveStringMap): Seq[String] = {
    val tablePath = tablePathOf(options)
    if (options.getBoolean("allRevisions", false)) {
      val ovs = RevisionCompaction.overlays(tablePath)
      val commits = TemporalTable.commits(tablePath)
      // per-revision dir enumeration is needed when overlays redirect a
      // vacuumed revision, and is what lets AggFromStatsRule fold
      // per-revision _stats sidecars over a history read (one root path
      // hides them). A plain aged table with NEITHER pays O(revisions)
      // directory listings for nothing — there the single recursive root
      // listing stays the shape (the stats policy is inherited forward,
      // so the LATEST committed revision's sidecar witnesses the whole
      // table's opt-in: one existence probe).
      val anyStats = commits.lastOption.exists(c => MetaIO.exists(
        s"${RevisionCompaction.effectiveDir(tablePath, c.revision, ovs)}/" +
          StatsSidecar.FileName))
      // the root-listing fast path is only sound when the rev=N children
      // are EXACTLY the committed revisions: a writer that crashed after
      // materializing rev=N data but before logCommit leaves an orphan
      // dir a recursive root listing would serve — rows of a revision
      // that, per the commit log, never existed. One extra LIST decides.
      val committed = commits.map(_.revision).toSet
      val rootClean = MetaIO.listDirs(tablePath)
        .filter(_.startsWith("rev="))
        .flatMap(n => scala.util.Try(n.stripPrefix("rev=").toInt).toOption)
        .forall(committed.contains)
      if (ovs.isEmpty && !anyStats && rootClean) Seq(tablePath)
      else commits
        .map(c => RevisionCompaction.effectiveDir(tablePath, c.revision, ovs))
    } else {
      val rev =
        if (options.containsKey("revision")) {
          val r = options.getInt("revision", -1)
          // validate like TemporalTable.read: a reserved-but-uncommitted
          // rev=N directory must never serve reads (snapshot isolation)
          require(TemporalTable.commits(tablePath).exists(_.revision == r),
            s"unknown revision $r at $tablePath")
          r
        } else if (options.containsKey("asOfTimestampMs")) {
          val ts = options.getLong("asOfTimestampMs", Long.MaxValue)
          val eligible = TemporalTable.commits(tablePath).filter(_.commitTsMs <= ts)
          require(eligible.nonEmpty, s"no revision at or before ts=$ts")
          eligible.last.revision
        } else TemporalTable.mostRecentRevision(tablePath).getOrElse(
          throw new IllegalArgumentException(s"no commits at $tablePath"))
      Seq(RevisionCompaction.effectiveDir(tablePath, rev))
    }
  }

  def readDelegate(options: CaseInsensitiveStringMap): ParquetTable = {
    val tablePath = tablePathOf(options)
    val opts = new CaseInsensitiveStringMap(
      (options.asCaseSensitiveMap().asScala.toMap ++ Map("basePath" -> tablePath)).asJava)
    // an allRevisions scan over an evolved table (revisions with
    // different recorded schemas) pins the UNION schema — plain footer
    // inference would pick one representative file and silently drop the
    // other eras' columns
    val evolved =
      if (options.getBoolean("allRevisions", false))
        TemporalTable.mergedHistorySchema(tablePath,
          TemporalTable.commits(tablePath).map(_.revision))
      else None
    ParquetTable(s"graft-temporal $tablePath", SparkSession.active, opts,
      resolveDataPaths(options), evolved, classOf[ParquetFileFormat])
  }
}

/** Streaming variant (`option("commitStream", true)` + `readStream`): a
  * table whose scan is the commit-log [[graft.streaming.GraftMicroBatchStream]]
  * — micro-batches are REVISION-atomic (offset axis = committed revision),
  * so consumers never observe a partially-committed revision.
  *
  * On a [[DeltaTemporalTable]] layout the stream is a CDC feed: delta
  * revisions emit their change records (`__change_type` ∈
  * insert/update/delete, deletes carrying keys with null values), and
  * full-snapshot revisions (bootstrap, periodic snapshots, compactions)
  * emit plain rows with `__change_type` NULL — `coalesce(__change_type,
  * 'insert')` gives the uniform upsert view. The reference's
  * changefeed-over-diffs (§2.12) with the storage layer's own change
  * records as the payload — no diff recomputation on the read path. */
private[graft] class GraftStreamTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {

  private val tablePath = GraftTemporalSource.tablePathOf(options)

  private lazy val fullSchema: StructType =
    if (DeltaTemporalTable.isDeltaLayout(tablePath)) {
      // full snapshots never carry __change_type; append it plus the rev
      // partition column, mirroring the non-delta inferred layout
      // (partition cols last). Evolved chains stream the union schema.
      TemporalTable.mergedHistorySchema(tablePath,
          DeltaTemporalTable.commits(tablePath).map(_.revision))
        .getOrElse(DeltaTemporalTable.baseSchema(tablePath))
        .add("__change_type", org.apache.spark.sql.types.StringType, nullable = true)
        .add("rev", org.apache.spark.sql.types.IntegerType, nullable = true)
    } else GraftTemporalSource.readDelegate(
      new CaseInsensitiveStringMap(
        (options.asCaseSensitiveMap().asScala.toMap + ("allRevisions" -> "true")).asJava))
      .schema

  override def name(): String = s"graft-commit-stream $tablePath"
  override def schema(): StructType = fullSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.Scan {
          override def readSchema(): StructType = fullSchema
          override def toMicroBatchStream(checkpointLocation: String) =
            new graft.streaming.GraftMicroBatchStream(tablePath, fullSchema,
              options.getInt("maxRevisionsPerBatch", 0))
          override def description(): String = name()
        }
    }
}

/** The V2 Table: reads delegate to the parquet table over the resolved
  * revision; writes append the next revision with commit-on-success. */
private[graft] class GraftTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite {

  private[graft] val tablePath = GraftTemporalSource.tablePathOf(options)
  private lazy val reader = GraftTemporalSource.readDelegate(options)

  /** Data directories this table reads (for metadata-only rewrites). */
  private[graft] def resolvedDataPaths: Seq[String] =
    GraftTemporalSource.resolveDataPaths(options)

  /** Delta-encoded layout ([[DeltaTemporalTable]] storage): revision dirs
    * mix full snapshots and change records, so the scan cannot be a plain
    * parquet listing — [[graft.plans.DeltaReconstructRule]] rewrites the
    * relation into the reconstruction plan at analysis time. */
  private[graft] lazy val isDeltaLayout: Boolean =
    DeltaTemporalTable.isDeltaLayout(tablePath)

  /** The revision the read options pin (delta tables), resolved against
    * the commit log; None = latest. */
  private[graft] def deltaRevision: Option[Int] =
    DeltaTemporalTable.resolveRevision(tablePath,
      revision =
        if (options.containsKey("revision")) Some(options.getInt("revision", -1))
        else None,
      asOfTimestampMs =
        if (options.containsKey("asOfTimestampMs"))
          Some(options.getLong("asOfTimestampMs", Long.MaxValue))
        else None)

  /** Whether this read asks for the full history frame (`allRevisions`) —
    * on a delta layout [[graft.plans.DeltaReconstructRule]] substitutes
    * the bounded event-interval plan ([[DeltaTemporalTable
    * .readAllRevisions]]) instead of per-revision reconstruction. */
  private[graft] def wantsAllRevisions: Boolean =
    options.getBoolean("allRevisions", false)

  /** Reconstructed schema for a delta table = its base full snapshot's
    * (deltas add only the `__change_type` marker, which reconstruction
    * drops) — footer-only driver-side read, no job. An `allRevisions`
    * read appends the `rev` column, mirroring the snapshot layout's
    * partition-column surface. */
  private lazy val deltaSchema: StructType =
    if (wantsAllRevisions)
      // evolved chains: the history frame carries the UNION of the
      // epochs' logical schemas (recorded per commit); un-evolved chains
      // keep the base-snapshot probe
      TemporalTable.mergedHistorySchema(tablePath,
          DeltaTemporalTable.commits(tablePath).map(_.revision))
        .getOrElse(DeltaTemporalTable.baseSchema(tablePath))
        .add("rev", org.apache.spark.sql.types.IntegerType, nullable = true)
    else DeltaTemporalTable.baseSchema(tablePath, deltaRevision)

  override def name(): String = s"graft-temporal $tablePath"
  override def schema(): StructType =
    if (isDeltaLayout) deltaSchema else reader.schema
  override def capabilities(): java.util.Set[TableCapability] = {
    val base = Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)
    // `evolveSchema` opts an append out of output resolution against the
    // head revision's schema: the revision is written with the QUERY's
    // schema (each revision owns its shape — the schemaless contract),
    // recorded in the commit log, and history reads serve the union.
    // Without the option, extra/missing columns still fail resolution —
    // accidental drift should be loud.
    val s =
      if (options.getBoolean("evolveSchema", false))
        base + TableCapability.ACCEPT_ANY_SCHEMA
      else base
    s.asJava
  }

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    if (isDeltaLayout) throw new IllegalStateException(
      s"$tablePath is delta-encoded: its scan is a reconstruction plan, which " +
        "graft.plans.DeltaReconstructRule substitutes at analysis time — enable " +
        "spark.sql.extensions=graft.functions.GraftExtensions, or read via " +
        "DeltaTemporalTable.read")
    reader.newScanBuilder(o)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (isDeltaLayout) throw new UnsupportedOperationException(
      s"$tablePath is delta-encoded: commit new revisions via DeltaTemporalTable.write " +
        "(a V2 append would log a kind-less full snapshot into a delta chain)")
    // `rev` is the PARTITION axis, assigned by the reservation protocol.
    // Output resolution pads every write (plain V2 save AND catalog
    // INSERT) to the full table schema, so input rows arrive CARRYING a
    // rev column — which, written as data, lands an all-null shadow
    // column in every file (the partition value wins on read, so it
    // hides — but it bloats storage, and a user-supplied value would
    // silently vanish behind the partition). Strip it: the revision
    // number is storage-assigned.
    val fullSchema = info.schema()
    val dataIdx = fullSchema.fields.indices.filter(i => fullSchema(i).name != "rev")
    val dataSchema = StructType(dataIdx.map(fullSchema(_)))
    val writeInfo: LogicalWriteInfo =
      if (dataIdx.size == fullSchema.length) info
      else new LogicalWriteInfo {
        override def queryId(): String = info.queryId()
        override def schema(): StructType = dataSchema
        override def options(): CaseInsensitiveStringMap = info.options()
        override def rowIdSchema(): java.util.Optional[StructType] = info.rowIdSchema()
        override def metadataSchema(): java.util.Optional[StructType] = info.metadataSchema()
      }
    val spark = SparkSession.active
    // Reserve the revision number up front (create-new marker): two racing
    // writers get distinct rev=N directories instead of clobbering each
    // other's files. A job that aborts releases the reservation; a driver
    // crash merely skips one revision number.
    val nextRev = TemporalTable.reserveRevision(tablePath)
    val author = Option(options.get("author")).getOrElse("graft")
    val message = Option(options.get("message")).getOrElse("")
    val writeTable = ParquetTable(s"graft-temporal $tablePath rev=$nextRev",
      spark, options, Seq(s"$tablePath/rev=$nextRev"),
      Some(dataSchema), classOf[ParquetFileFormat])
    val inner = writeTable.newWriteBuilder(writeInfo)
    new WriteBuilder {
      override def build(): Write = new Write {
        private lazy val innerBatch = inner.build().toBatch
        override def description(): String = s"graft-temporal commit rev=$nextRev"
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(p: PhysicalWriteInfo) = {
            val factory = innerBatch.createBatchWriterFactory(p)
            // incoming rows still have the padded layout: project the rev
            // slot away before handing rows to the parquet writer
            if (dataIdx.size == fullSchema.length) factory
            else new DropRevWriterFactory(factory, dataIdx.toArray,
              dataIdx.map(fullSchema(_).dataType).toArray,
              fullSchema.fieldNames.indexOf("rev"))
          }
          override def useCommitCoordinator(): Boolean = innerBatch.useCommitCoordinator()
          override def onDataWriterCommit(m: WriterCommitMessage): Unit =
            innerBatch.onDataWriterCommit(m)
          override def commit(msgs: Array[WriterCommitMessage]): Unit = {
            innerBatch.commit(msgs)
            // sidecars BEFORE the log entry: a committed revision always
            // carries its key index + manifest, so a V2 append never
            // degrades recordRevisions / manifest-pruned diff fast paths
            val sidecars =
              TemporalTable.writeSidecars(spark, tablePath, nextRev, dataSchema)
            // log AFTER data commit: a failed job never becomes a revision
            TemporalTable.logCommit(tablePath, nextRev, author, message,
              Some(dataSchema), sidecars)
            TemporalTable.maybeAutoCompactKeyIndex(spark, tablePath)
            RevisionCompaction.maybeAutoCompact(spark, tablePath)
          }
          override def abort(msgs: Array[WriterCommitMessage]): Unit = {
            innerBatch.abort(msgs)
            TemporalTable.abortReservation(tablePath, nextRev)
          }
        }
      }
    }
  }
}

/** Executor-side row projection dropping the padded `rev` slot (see
  * [[GraftTable.newWriteBuilder]]). Output resolution pads the slot with
  * NULL; a NON-null value means the user explicitly supplied a revision
  * number, which is storage-assigned — silently discarding it would be
  * data loss, so the write fails fast instead (write `NULL AS rev` in a
  * SQL INSERT). Carries only serializable state; the codegen'd
  * projection is built per writer on the executor. */
private[sources] class DropRevWriterFactory(
    inner: org.apache.spark.sql.connector.write.DataWriterFactory,
    indices: Array[Int],
    types: Array[org.apache.spark.sql.types.DataType],
    revIdx: Int)
  extends org.apache.spark.sql.connector.write.DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[
        org.apache.spark.sql.catalyst.InternalRow] = {
    val delegate = inner.createWriter(partitionId, taskId)
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
      indices.zip(types).map { case (i, t) =>
        org.apache.spark.sql.catalyst.expressions.BoundReference(i, t, nullable = true)
      }.toIndexedSeq)
    new org.apache.spark.sql.connector.write.DataWriter[
        org.apache.spark.sql.catalyst.InternalRow] {
      override def write(r: org.apache.spark.sql.catalyst.InternalRow): Unit = {
        if (!r.isNullAt(revIdx))
          throw new IllegalArgumentException(
            "the `rev` column is storage-assigned (the next revision is " +
              "chosen by the commit protocol) — write NULL AS rev, or omit " +
              "the column in a DataFrame append")
        delegate.write(proj(r))
      }
      override def commit(): WriterCommitMessage = delegate.commit()
      override def abort(): Unit = delegate.abort()
      override def close(): Unit = delegate.close()
    }
  }
}
