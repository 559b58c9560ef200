package graft.sources

import graft.operators.Diff
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Delta-encoded revision storage — the reference's per-page versioning
  * strategies re-expressed at snapshot granularity (SURVEY.md §1.5;
  * bundles/sirix-core/src/main/java/io/sirix/settings/VersioningType.java:
  * FULL / DIFFERENTIAL / SLIDING_SNAPSHOT with window N).
  *
  * Layout: like [[TemporalTable]], but a revision directory holds EITHER a
  * full snapshot (`kind=full`) or only the change records against the
  * previous revision (`kind=delta`: data columns carry new values plus a
  * `__change_type` marker; deletes carry keys with null values). A full
  * snapshot is forced every `snapshotEvery` revisions — the
  * SLIDING_SNAPSHOT guarantee that any revision reconstructs from at most
  * `snapshotEvery` fragments, which bounds both read fan-in and the
  * logical-plan depth of reconstruction joins at scale.
  *
  * Trade-off vs [[TemporalTable]] (always-full): deltas store only what
  * changed (tiny for hot-key workloads — the reference's storage-size
  * motivation), while time travel pays ≤ `snapshotEvery − 1` key-partitioned
  * anti-join applications instead of zero.
  */
object DeltaTemporalTable {

  final case class Commit(revision: Int, commitTsMs: Long, author: String,
                          message: String, kind: String)

  private def commitsDir(path: String) = TemporalTable.commitsDir(path)

  def commits(path: String): Seq[Commit] =
    TemporalTable.commitEntryJsons(path).map { s =>
      import TemporalTable.{parseField => f}
      Commit(f(s, "revision").toInt, f(s, "commitTsMs").toLong,
        f(s, "author"), f(s, "message"), f(s, "kind"))
    }.sortBy(_.revision)

  def mostRecentRevision(path: String): Option[Int] = commits(path).lastOption.map(_.revision)

  private def baseFullIn(log: Seq[Commit], rev: Int): Int =
    log.filter(_.revision <= rev).reverse.find(_.kind == "full")
      .getOrElse(throw new IllegalStateException(s"no full snapshot at or below $rev"))
      .revision

  /** The governing full-snapshot revision for `upTo` (default: the latest
    * commit) — the base every reconstruction, schema read, and CDC stream
    * bootstrap starts from. The single source of truth for "which snapshot
    * governs revision N": [[read]], the V2 schema paths, and the commit
    * stream all resolve through here. */
  def baseFullRevision(path: String, upTo: Option[Int] = None): Int = {
    val log = commits(path)
    require(log.nonEmpty, s"no commits at $path")
    val rev = upTo.getOrElse(log.last.revision)
    require(log.exists(_.revision == rev), s"unknown revision $rev at $path")
    baseFullIn(log, rev)
  }

  /** The directory serving revision `rev` — the original `rev=N/` or, if
    * the revision was compacted in place, its live generation directory
    * ([[RevisionCompaction]]; the originals may be vacuumed). Resolve the
    * overlay map ONCE per logical read and thread it through — every
    * delta read path below goes through this, never a bare `rev=N`. */
  private def effDir(path: String, rev: Int,
                     ovs: Map[Int, RevisionCompaction.Overlay]): String =
    RevisionCompaction.effectiveDir(path, rev, ovs)

  /** Schema of the reconstructed table at `upTo` = its governing full
    * snapshot's (deltas add only the `__change_type` marker, which
    * reconstruction drops) — footer-only driver-side read, no job. */
  def baseSchema(path: String, upTo: Option[Int] = None): org.apache.spark.sql.types.StructType =
    graft.plans.FooterSchemas.readParquet(SparkSession.active,
      effDir(path, baseFullRevision(path, upTo), RevisionCompaction.overlays(path))).schema

  /** Resolve V2-option-style pinning (`revision` / `asOfTimestampMs`)
    * against the delta commit log; None = latest. */
  def resolveRevision(path: String, revision: Option[Int],
                      asOfTimestampMs: Option[Long]): Option[Int] =
    revision.orElse(asOfTimestampMs.map { ts =>
      val eligible = commits(path).filter(_.commitTsMs <= ts)
      require(eligible.nonEmpty, s"no revision at or before ts=$ts")
      eligible.last.revision
    })

  /** Whether the table at `path` uses delta-encoded storage — detected
    * from the commit log alone (delta commits carry a `kind` field; plain
    * [[TemporalTable]] commits don't). Reads ONE log entry: the first
    * commit of a delta table is always `kind=full`. */
  def isDeltaLayout(path: String): Boolean = {
    val dir = commitsDir(path)
    // through the immutable-entry cache: this probe now guards every
    // TemporalTable.read, so a warm call must cost LISTs, not a GET of
    // the first commit entry each time
    MetaIO.list(dir).filter(_.endsWith(".json")).sorted.headOption.exists { n =>
      MetaIO.readAllCached(dir, _ == n).headOption
        .exists(e => TemporalTable.parseField(e._2, "kind").nonEmpty)
    }
  }

  private def logCommit(path: String, rev: Int, author: String, message: String,
                        kind: String,
                        schema: Option[org.apache.spark.sql.types.StructType]
                          = None): Unit = {
    // same commit-time ownership gate + writer-unique entry bytes as
    // TemporalTable.logCommit — see the S3A race notes on MetaIO.createNew
    TemporalTable.requireOwnership(path, rev)
    val ts = System.currentTimeMillis()
    val token = TemporalTable.writerToken(path, rev)
      .getOrElse(java.util.UUID.randomUUID().toString)
    // data-file manifest, as on snapshot commits: in-place compaction
    // ([[RevisionCompaction]]) decides eligibility and vacuums originals
    // from the commit log alone — zero listings of an aged chain
    val files = MetaIO.listFiles(s"$path/rev=$rev")
      .map { case (n, s) => s"$n|$s" }.mkString(";")
    // the LOGICAL schema (the snapshot's, never the change-record shape):
    // schema-change detection at the next write, and evolved-history
    // merging, both read it back from the log
    val schemaField = schema
      .map(s => s""""schemaDdl":"${TemporalTable.escapeJson(s.toDDL)}",""")
      .getOrElse("")
    val json = s"""{"revision":$rev,"commitTsMs":$ts,""" +
      s""""author":"${TemporalTable.escapeJson(author)}",""" +
      s""""message":"${TemporalTable.escapeJson(message)}","kind":"$kind",""" +
      s""""files":"${TemporalTable.escapeJson(files)}",$schemaField""" +
      s""""writerId":"$token"}"""
    MetaIO.mkdirs(commitsDir(path))
    MetaIO.createNew(s"${commitsDir(path)}/${"%08d".format(rev)}.json", json)
    TemporalTable.clearReservation(path, rev)
    ()
  }

  /** Fail fast when another writer holds an earlier uncommitted
    * reservation (delta tables are single-writer; orphaned markers from a
    * crashed writer can be deleted manually from `_commits/`). */
  private def requireNoLowerReservation(path: String, rev: Int): Unit = {
    val outstanding = MetaIO.list(TemporalTable.commitsDir(path))
      .filter(_.endsWith(".reserve"))
      .flatMap(n => scala.util.Try(n.stripSuffix(".reserve").toInt).toOption)
      .filter(_ < rev)
    if (outstanding.nonEmpty) {
      TemporalTable.abortReservation(path, rev)
      throw new IllegalStateException(
        s"concurrent delta writer holds reservation(s) ${outstanding.sorted.mkString(",")} " +
          s"at $path — delta tables are single-writer")
    }
  }

  /** Commit `df` as the next revision. Writes a full snapshot on the
    * first revision and every `snapshotEvery`-th one; otherwise only the
    * change records vs the previous revision (computed as a key-partitioned
    * full-outer diff — one shuffle). */
  def write(spark: SparkSession, df: DataFrame, path: String,
            keys: Seq[String] = Seq("node_key"), snapshotEvery: Int = 4,
            author: String = "graft", message: String = ""): Int = {
    require(snapshotEvery >= 2, "snapshotEvery must be >= 2")
    val rev = TemporalTable.reserveRevision(path)
    try {
      // the delta-chain invariant (each delta diffs the immediately
      // preceding COMMIT) breaks if another writer holds an earlier
      // uncommitted reservation — both would diff the same prior revision.
      // Read the log only after reserving, and fail fast on a concurrent
      // lower reservation instead of silently merging two writers' states.
      // (Inside the try: a log parse failure must release the marker, or
      // every future writer would see a phantom "concurrent writer".)
      requireNoLowerReservation(path, rev)
      val log = commits(path)
      val sinceFull = log.reverse.takeWhile(_.kind != "full").size
      // a SCHEMA CHANGE forces a full snapshot: the epoch boundary is the
      // natural evolution point (a delta against a different-shaped prior
      // has no well-defined change records), and every revision inside an
      // epoch then shares its governing full's schema. Keys must survive
      // the evolution — without them no later delta can address rows.
      // prior logical schema: recorded in the commit log, or — for chains
      // whose last commit predates schema recording — the governing
      // full's footer (one driver-side read; within an epoch the schema
      // is constant, and pre-recording chains could not have evolved: the
      // old diff path failed analysis on any column change). Without this
      // fallback a column-dropping write on a legacy chain would commit
      // as a DELTA whose reconstruction breaks every later read.
      val priorSchema = log.lastOption.map { c =>
        TemporalTable.commitSchemas(path).getOrElse(c.revision,
          baseSchema(path, Some(c.revision)))
      }
      val evolved = priorSchema.exists(p =>
        p.fields.map(f => (f.name, f.dataType)).toSeq !=
          df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
      if (evolved)
        require(keys.forall(df.columns.contains),
          s"schema evolution must keep the key column(s) ${keys.mkString(",")}")
      val full = log.isEmpty || evolved || sinceFull >= snapshotEvery - 1
      if (full) {
        df.write.mode("overwrite").parquet(s"$path/rev=$rev")
        // valid-time fork sidecar at the epoch boundary: the full frame
        // is in hand, so indexing it costs one extra write — delta
        // commits stay unindexed and stab through this base
        // ([[ValidTimeIndex]] scaladoc; a failure here aborts, and
        // abortReservation cleans _vindex/rev=N)
        ValidTimeIndex.maybeWrite(spark, path, rev,
          spark.read.parquet(s"$path/rev=$rev"))
        logCommit(path, rev, author, message, "full", Some(df.schema))
      } else {
        val prior = read(spark, path, Some(log.last.revision))
        val valueCols = df.columns.toSeq.filterNot(keys.contains)
        val d = Diff.diffFrames(prior, df, keys, valueCols)
        d.write.mode("overwrite").parquet(s"$path/rev=$rev")
        logCommit(path, rev, author, message, "delta", Some(df.schema))
      }
    } catch {
      case e: Throwable => TemporalTable.abortReservation(path, rev); throw e
    }
    // OUTSIDE the protocol's try (TemporalTable.writeFrame's discipline):
    // the revision is durable once logCommit returned, so a transient
    // policy failure must surface to the caller WITHOUT tripping the
    // abort path — abortReservation after a durable commit would delete
    // the committed revision's data directory
    RevisionCompaction.maybeAutoCompact(spark, path)
    rev
  }

  /** Reconstruct revision `revision` (default latest): start from the
    * nearest full snapshot at or below it and apply the (≤ snapshotEvery−1)
    * deltas in order. Each application is `base ⟕̸ deltaKeys ∪ upserts` —
    * two key-partitioned operators, no driver-side data movement. */
  def read(spark: SparkSession, path: String, revision: Option[Int] = None): DataFrame = {
    val log = commits(path)
    require(log.nonEmpty, s"no commits at $path")
    val rev = revision.getOrElse(log.last.revision)
    require(log.exists(_.revision == rev), s"unknown revision $rev")
    val upTo = log.filter(_.revision <= rev)
    val baseRev = baseFullIn(log, rev)
    val ovs = RevisionCompaction.overlays(path)
    val base = spark.read.parquet(effDir(path, baseRev, ovs))
    upTo.filter(c => c.revision > baseRev).foldLeft(base) { (snap, c) =>
      val delta = spark.read.parquet(effDir(path, c.revision, ovs))
      val keys = delta.columns.toSeq.takeWhile(_ != "__change_type") // keys stored first
      applyDelta(snap, delta, keys)
    }
  }

  /** Compaction: materialize the current delta chain as a fresh FULL
    * snapshot commit, so subsequent reads start from it (the reference's
    * page-fragment merge — VersioningType.java:1216-1226 — at snapshot
    * granularity). Append-only: prior revisions stay readable. */
  def compact(spark: SparkSession, path: String, author: String = "graft"): Int = {
    val rev = TemporalTable.reserveRevision(path)
    try {
      // same single-writer guard as write(): a compact racing a delta commit
      // would snapshot stale state and silently drop the concurrent delta.
      // Inside the try so a transient listing failure releases the marker.
      requireNoLowerReservation(path, rev)
      // read only after reserving, so the materialized chain is the one
      // this compaction supersedes
      val current = read(spark, path)
      current.write.mode("overwrite").parquet(s"$path/rev=$rev")
      // compaction mints an epoch boundary: index it like any full
      ValidTimeIndex.maybeWrite(spark, path, rev,
        spark.read.parquet(s"$path/rev=$rev"))
      logCommit(path, rev, author, "compact", "full", Some(current.schema))
    } catch {
      case e: Throwable => TemporalTable.abortReservation(path, rev); throw e
    }
    // outside the try — see write()
    RevisionCompaction.maybeAutoCompact(spark, path)
    rev
  }

  private[sources] def applyDelta(snap: DataFrame, delta: DataFrame,
                                  keys: Seq[String]): DataFrame = {
    val untouched = snap.join(delta.select(keys.map(col): _*), keys, "left_anti")
    val upserts = delta.filter(col("__change_type") =!= "delete").drop("__change_type")
    untouched.unionByName(upserts)
  }

  /** Epoch structure of a delta chain: every full snapshot starts an epoch
    * that runs until the next full (exclusive). Reconstruction, history
    * reads and the change feed never need to look across an epoch boundary
    * — a full snapshot restates everything. */
  private final case class Epochs(fullRevs: Seq[Int]) {
    require(fullRevs.nonEmpty, "delta chain has no full snapshot")
    def startOf(rev: Int): Int = fullRevs.takeWhile(_ <= rev).last
    def endOf(rev: Int): Int = fullRevs.find(_ > rev).getOrElse(Int.MaxValue)
  }

  private def epochsOf(log: Seq[Commit]): Epochs =
    Epochs(log.filter(_.kind == "full").map(_.revision))

  /** Whether the chain's recorded LOGICAL schemas differ across the given
    * commits — the evolved-chain signal: multi-epoch reads then merge
    * footers (columns absent from an epoch read as null there) instead of
    * trusting one representative file. Commits without a recorded schema
    * (pre-schema tables) count as one uniform shape. */
  private[graft] def schemasDiffer(path: String, log: Seq[Commit]): Boolean = {
    val rec = TemporalTable.commitSchemas(path)
    log.flatMap(c => rec.get(c.revision))
      .map(_.fields.map(f => (f.name, f.dataType)).toSeq)
      .distinct.size > 1
  }

  /** Key columns as stored by [[write]] — delta records lay keys out first,
    * before the `__change_type` marker (driver-side footer read of one
    * delta file). None when the chain holds no delta yet. */
  private def storedKeys(spark: SparkSession, path: String,
                         log: Seq[Commit],
                         ovs: Map[Int, RevisionCompaction.Overlay]): Option[Seq[String]] =
    log.find(_.kind == "delta").map { c =>
      graft.plans.FooterSchemas.readParquet(spark, effDir(path, c.revision, ovs))
        .schema.fieldNames.toSeq
        .takeWhile(_ != "__change_type")
    }

  /** Stored change events with VISIBILITY INTERVALS — the bounded-plan
    * primitive behind [[readAllRevisions]] and the full-history change
    * feed. Full-snapshot rows are upsert events at their revision; delta
    * records are their own events. One window per (epoch, key) ordered by
    * revision assigns each event `__valid_to` = the next event's revision
    * for the same key (a later upsert or delete supersedes it) capped at
    * the epoch end (the next full snapshot restates the world). The whole
    * history is TWO hive-partitioned parquet reads (all fulls, all
    * deltas) + one window — plan width independent of chain depth, the
    * uniform-read property the reference gets from page-fragment
    * reconstruction (VersioningType.java) expressed relationally.
    *
    * Returns data columns + `__change_type`, `rev`, `__epoch`,
    * `__epoch_end`, `__valid_to`. Delete events keep their interval rows
    * (they cap predecessors); consumers drop them when materializing
    * states. */
  private def eventIntervals(spark: SparkSession, path: String,
                             commitsIn: Seq[Commit], epochs: Epochs): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // effective-dir resolution: a compacted revision's live generation dir
    // (rev=N/_c<g>/) still hive-infers rev=N under basePath = table root —
    // non-`k=v` components below the first partition component are skipped
    val ovs = RevisionCompaction.overlays(path)
    val fullDirs = commitsIn.filter(_.kind == "full")
      .map(c => effDir(path, c.revision, ovs))
    require(fullDirs.nonEmpty, "event-interval read needs a full snapshot")
    val deltaCommits = commitsIn.filter(_.kind == "delta")
    // evolved chains (schema changed at an epoch boundary — write() forces
    // a full there): merge footers so the event frame carries the UNION of
    // the epochs' columns, absent ones null; the union of the two legs
    // then tolerates columns only one side ever stored
    val evolved = schemasDiffer(path, commitsIn)
    def rd(dirs: Seq[String]) = {
      val base = spark.read.option("basePath", path)
      (if (evolved) base.option("mergeSchema", "true") else base)
        .parquet(dirs: _*)
    }
    val fullDf = rd(fullDirs).withColumn("__change_type", lit("insert"))
    val events =
      if (deltaCommits.isEmpty) fullDf
      else fullDf.unionByName(
        rd(deltaCommits.map(c => effDir(path, c.revision, ovs))),
        allowMissingColumns = evolved)
    val epochDf = spark.createDataFrame(
      commitsIn.map(c => (c.revision, epochs.startOf(c.revision), epochs.endOf(c.revision))))
      .toDF("rev", "__epoch", "__epoch_end")
    val tagged = events.join(broadcast(epochDf), "rev")
    if (deltaCommits.isEmpty)
      // all-full chain: singleton epochs, nothing supersedes within one
      tagged.withColumn("__valid_to", col("__epoch_end"))
    else {
      val keys = storedKeys(spark, path, deltaCommits, ovs).get
      val w = Window.partitionBy((col("__epoch") +: keys.map(col)): _*)
        .orderBy(col("rev"))
      tagged.withColumn("__valid_to",
        coalesce(lead(col("rev"), 1).over(w), col("__epoch_end")))
    }
  }

  /** Full transaction-time history frame over a delta layout — the schema
    * and semantics of [[TemporalTable.readAllRevisions]] (`revision`,
    * data columns, `commit_ts`, `author`), with every revision's
    * reconstructed state present.
    *
    * Served by a BOUNDED plan regardless of chain depth: the
    * [[eventIntervals]] frame joined (broadcast, epoch-keyed — never more
    * than `snapshotEvery` revisions per epoch match an event) against the
    * tiny commit-log revision list, keeping each event for the revisions
    * inside its visibility interval. No per-revision reconstruction legs:
    * a 10,000-revision chain is still two scans + one window + two
    * broadcast joins. */
  def readAllRevisions(spark: SparkSession, path: String): DataFrame = {
    val log = commits(path)
    require(log.nonEmpty, s"no commits at $path")
    val epochs = epochsOf(log)
    val ev = eventIntervals(spark, path, log, epochs)
    val dataCols = ev.columns.toSeq
      .filterNot(c => c == "rev" || c.startsWith("__"))
    val revsDf = spark.createDataFrame(
      log.map(c => (c.revision, epochs.startOf(c.revision))))
      .toDF("revision", "__epoch")
    val states = ev
      .filter(col("__change_type") =!= "delete")
      .join(broadcast(revsDf), "__epoch")
      .filter(col("revision") >= col("rev") && col("revision") < col("__valid_to"))
      .select(col("revision") +: dataCols.map(col): _*)
    val meta = spark.createDataFrame(log)
      .select(col("revision"), timestamp_millis(col("commitTsMs")).as("commit_ts"),
        col("author"))
    states.join(broadcast(meta), "revision")
  }

  /** RECORD_TO_REVISIONS over a delta chain (reference:
    * index/IndexType.java:24-27, axis/temporal/RecordRevisionsLookup.java):
    * which revisions' reconstructed states contain `key`. One BOUNDED
    * plan at any chain depth — the [[eventIntervals]] frame filtered to
    * the key (the predicate pushes beneath the interval window because
    * the key is a window partition column, so both parquet legs scan
    * with footer min/max pruning), expanded against the tiny commit
    * list. Same output shape as [[TemporalTable.recordRevisions]]. */
  def recordRevisions(spark: SparkSession, path: String, key: Long,
                      keyCol: String = "node_key"): DataFrame = {
    val log = commits(path)
    require(log.nonEmpty, s"no commits at $path")
    val epochs = epochsOf(log)
    val ev = eventIntervals(spark, path, log, epochs)
    val revsDf = spark.createDataFrame(
      log.map(c => (c.revision, epochs.startOf(c.revision), c.commitTsMs)))
      .toDF("revision", "__epoch", "__commit_ts_ms")
    ev.filter(col("__change_type") =!= "delete" && col(keyCol) === key)
      .join(broadcast(revsDf), "__epoch")
      .filter(col("revision") >= col("rev") && col("revision") < col("__valid_to"))
      .select(col("revision"),
        timestamp_millis(col("__commit_ts_ms")).as("commit_ts"))
      .distinct()
      .orderBy("revision")
  }

  /** End-of-epoch states for the epochs ENDING at each revision in
    * `targets` — i.e. the reconstructed state immediately BEFORE each
    * target full snapshot, for all targets in one plan. Rows carry
    * `__target` = the full-snapshot revision they precede. Used by the
    * change feed to diff scheduled full snapshots without per-snapshot
    * reconstruction legs. */
  private[graft] def statesBefore(spark: SparkSession, path: String,
                                  log: Seq[Commit], targets: Seq[Int],
                                  keys: Seq[String]): DataFrame = {
    val epochs = epochsOf(log)
    val targetSet = targets.toSet
    val priorCommits = log.filter(c => targetSet.contains(epochs.endOf(c.revision)))
    require(priorCommits.nonEmpty, s"no epochs end at any of $targets")
    val ev = eventIntervals(spark, path, priorCommits, epochs)
    val valueCols = ev.columns.toSeq
      .filterNot(c => c == "rev" || c.startsWith("__") || keys.contains(c))
    ev.filter(col("__change_type") =!= "delete" &&
        col("__valid_to") === col("__epoch_end"))
      .select(keys.map(col) ++ valueCols.map(col)
        :+ col("__epoch_end").as("__target"): _*)
  }
}
