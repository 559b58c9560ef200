package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.TemporalTable

/** Streaming / incremental layer (SURVEY.md §2.12).
  *
  * The reference has no streaming engine — its incremental machinery is
  * commit hooks + per-commit index maintenance (api/PostCommitHook.java,
  * index/ChangeListener.java). Here the commit log of
  * [[graft.sources.TemporalTable]] doubles as a change feed, and windowed
  * event-time aggregation is Structured Streaming built-ins (watermarks,
  * tumbling/sliding/session windows) — parity-plus over the reference.
  *
  * All helpers take any DataFrame (batch or streaming) with an event-time
  * timestamp column, so the same plan runs in both modes (the Spark
  * batch/streaming unification) — specs drive them with MemoryStream.
  */
object ChangeFeed {

  /** Per-revision change records committed after `fromRevision` — the
    * batch-incremental change feed (the reference's revision-stream
    * semantics §2.9): each revision against its commit-log predecessor,
    * the first revision's rows as inserts.
    *
    * Served from the commits' stored change sets when every wanted
    * revision after the first has a trusted `rev=N/_changes` sidecar
    * ([[TemporalTable.changeSets]]; the default `node_key` key): ONE scan
    * of those sidecars through an explicit file index — k revisions read
    * k small files and no snapshot, so the cost follows the changes, not
    * the table. Otherwise (older tables, other keys, schema changes in
    * range) ONE windowed plan for the whole history: a per-key window
    * over revision order classifies every transition (insert = no row in
    * the adjacent predecessor revision; update = predecessor row with
    * different values; delete = no row in the adjacent successor), with
    * the adjacent-revision mapping broadcast from the (tiny) commit log.
    * Either way a 10,000-revision history is one plan, not 10,000
    * driver-side diff jobs in a 10,000-way union. Revisions at or before
    * the baseline prune away via the `rev` partition column. */
  def revisionFeed(spark: SparkSession, tablePath: String, fromRevision: Int = 0,
                   keys: Seq[String] = Seq("node_key")): DataFrame = {
    if (graft.sources.DeltaTemporalTable.isDeltaLayout(tablePath))
      return revisionFeedDelta(spark, tablePath, fromRevision, keys)
    val allRevs = TemporalTable.commits(tablePath).map(_.revision)
    val wanted = allRevs.filter(_ > fromRevision)
    require(wanted.nonEmpty, s"no revisions after $fromRevision at $tablePath")
    (if (keys == Seq("node_key")) storedFeed(spark, tablePath, allRevs, wanted) else None)
      .getOrElse(windowedFeed(spark, tablePath, fromRevision, keys, allRevs, wanted))
  }

  /** [[revisionFeed]] from the stored change sets, or None when any
    * wanted revision after the log's first lacks a trusted one. */
  private def storedFeed(spark: SparkSession, tablePath: String, allRevs: Seq[Int],
                         wanted: Seq[Int]): Option[DataFrame] = {
    val first = allRevs.head
    val later = wanted.filter(_ != first)
    val stored =
      if (later.isEmpty) Some(None)
      else TemporalTable.changeSets(spark, tablePath,
          allRevs(allRevs.indexOf(later.head) - 1), later.last)
        .map { case (changes, _, _) => Some(changes.select(col("node_key"),
          col("change_type"), col("rev").as("revision"))) }
    stored.map { changes =>
      val initial =
        if (wanted.head != first) None
        else Some(TemporalTable.read(spark, tablePath, Some(first))
          .select(col("node_key"), lit("insert").as("change_type"),
            lit(first).as("revision")))
      (initial.toSeq ++ changes.toSeq).reduce(_ unionByName _)
    }
  }

  /** [[revisionFeed]] recomputed from the snapshots in range. */
  private[graft] def windowedFeed(spark: SparkSession, tablePath: String,
                                  fromRevision: Int, keys: Seq[String],
                                  allRevs: Seq[Int], wanted: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // adjacent-revision mapping from the commit log (revision numbers may
    // have gaps — aborted reservations skip numbers)
    val adj = allRevs.zipAll(allRevs.drop(1).map(Option(_)), 0, None).map {
      case (r, next) => (r, next.getOrElse(-1))
    }
    // partition-prune: the baseline for the first wanted revision is its
    // immediate predecessor; nothing older contributes
    val firstIdx = allRevs.indexOf(wanted.head)
    val minRev = if (firstIdx == 0) wanted.head else allRevs(firstIdx - 1)
    val adjDf = spark.createDataFrame(adj).toDF("revision", "__next_rev")
    val h = TemporalTable.readAllRevisions(spark, tablePath)
      .filter(col("revision") >= minRev)
      .drop("commit_ts", "author")
    val valueCols = h.columns.toSeq.filterNot(c => keys.contains(c) || c == "revision")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("revision"))
    val prevAdjDf = spark.createDataFrame(
      allRevs.zip(allRevs.drop(1)).map { case (r, n) => (n, r) })
      .toDF("revision", "__adj_prev")
    val base = h
      .withColumn("__vals", struct(valueCols.map(col): _*))
      .withColumn("__prev_rev", lag(col("revision"), 1).over(w))
      .withColumn("__prev_vals", lag(col("__vals"), 1).over(w))
      .withColumn("__next_seen", lead(col("revision"), 1).over(w))
      .join(broadcast(adjDf), "revision") // adds __next_rev (-1 = last revision)
      .join(broadcast(prevAdjDf), Seq("revision"), "left") // __adj_prev (null = first)
    // ONE pass emits both candidate change records per row (its own
    // upsert, and a delete attributed to the successor revision when the
    // key vanishes there) — a two-branch union would scan and window the
    // whole history twice
    val upsertType = when(col("__adj_prev").isNull || col("__prev_rev").isNull ||
        col("__prev_rev") =!= col("__adj_prev"), lit("insert"))
      .when(!(col("__vals") <=> col("__prev_vals")), lit("update"))
    val upsertRec = when(col("revision") > fromRevision && upsertType.isNotNull,
      struct(upsertType.as("change_type"), col("revision").as("revision")))
    val deleteRec = when(col("__next_rev") =!= -1 && // a successor revision exists
        (col("__next_seen").isNull || col("__next_seen") =!= col("__next_rev")) &&
        col("__next_rev") > fromRevision,
      struct(lit("delete").as("change_type"), col("__next_rev").as("revision")))
    base
      .select(keys.map(col) :+ explode(array(upsertRec, deleteRec)).as("__c"): _*)
      .filter(col("__c").isNotNull)
      .select(keys.map(col) :+ col("__c.change_type").as("change_type")
        :+ col("__c.revision").as("revision"): _*)
  }

  /** [[revisionFeed]] over a delta-encoded layout — here the storage
    * already holds the answer: a delta revision's stored records ARE its
    * change feed (pure file read, zero diffing), and ALL consumed delta
    * revisions come from ONE hive-partitioned scan. Scheduled full
    * snapshots (bootstrap, periodic snapshots, compactions) diff against
    * the state entering them, which [[graft.sources.DeltaTemporalTable
    * .statesBefore]] materializes for every target snapshot in one
    * windowed plan — no per-snapshot reconstruction legs. A compaction,
    * logically identical state, emits no rows through that diff; the
    * first commit emits all rows as inserts, matching the snapshot-layout
    * feed's semantics.
    *
    * Plan width is therefore BOUNDED regardless of replay depth: a
    * full-history replay over a 1000-revision chain is four parquet
    * scans (wanted deltas, wanted fulls, prior-epoch fulls and deltas) +
    * one window + one join — the round-5 one-leg-per-revision caveat is
    * gone. */
  private def revisionFeedDelta(spark: SparkSession, tablePath: String,
                                fromRevision: Int,
                                keys: Seq[String]): DataFrame = {
    import graft.sources.DeltaTemporalTable
    val log = DeltaTemporalTable.commits(tablePath)
    val wanted = log.filter(_.revision > fromRevision)
    require(wanted.nonEmpty, s"no revisions after $fromRevision at $tablePath")
    val wantedDeltas = wanted.filter(_.kind == "delta")
    val wantedFulls = wanted.filter(_.kind == "full")
    // in-place-compacted revisions serve from their live generation dir
    // (hive still infers rev=N below basePath; originals may be vacuumed)
    val ovs = graft.sources.RevisionCompaction.overlays(tablePath)
    def eff(rev: Int): String =
      graft.sources.RevisionCompaction.effectiveDir(tablePath, rev, ovs)
    // evolved chains: merge footers across epochs (see eventIntervals)
    val evolved = DeltaTemporalTable.schemasDiffer(tablePath, log)
    def rd(dirs: Seq[String]) = {
      val base = spark.read.option("basePath", tablePath)
      (if (evolved) base.option("mergeSchema", "true") else base)
        .parquet(dirs: _*)
    }

    val deltaLeg: Option[DataFrame] =
      if (wantedDeltas.isEmpty) None
      else Some(rd(wantedDeltas.map(c => eff(c.revision)))
        .select(keys.map(col) :+ col("__change_type").as("change_type")
          :+ col("rev").cast("int").as("revision"): _*))

    val fullLeg: Option[DataFrame] =
      if (wantedFulls.isEmpty) None
      else {
        val snapDf0 = rd(wantedFulls.map(c => eff(c.revision)))
        // the compared column set must not depend on WHERE replay starts:
        // a column dropped at an epoch boundary has to produce the same
        // change rows whether or not an older full is inside the window.
        // So the value columns are the union over the WHOLE log's
        // recorded logical schemas (falls back to the window's own
        // columns on pre-schema chains, which cannot have evolved), and
        // BOTH sides pad missing ones with typed nulls.
        val unionSchema = graft.sources.TemporalTable
          .mergedHistorySchema(tablePath, log.map(_.revision))
        val valueFields = unionSchema
          .map(_.fields.toSeq.filterNot(f => keys.contains(f.name) || f.name == "rev"))
          .getOrElse(snapDf0.schema.fields.toSeq
            .filterNot(f => keys.contains(f.name) || f.name == "rev"))
        val valueCols = valueFields.map(_.name)
        def pad(d: DataFrame): DataFrame = valueFields.foldLeft(d) { (acc, f) =>
          if (acc.columns.contains(f.name)) acc
          else acc.withColumn(f.name, lit(null).cast(f.dataType))
        }
        val snapDf = pad(snapDf0)
        val newSide = snapDf.select(
          keys.map(k => col(k).as(s"__n_$k"))
            :+ struct(valueCols.map(col): _*).as("__n_vals")
            :+ col("rev").cast("int").as("__n_target"): _*)
        // epochs end at a wanted full only when that full has predecessors
        val targets = wantedFulls.map(_.revision)
          .filter(_ > log.head.revision)
        if (targets.isEmpty)
          // only the bootstrap snapshot: everything is an insert
          Some(newSide.select(keys.map(k => col(s"__n_$k").as(k))
            :+ lit("insert").as("change_type")
            :+ col("__n_target").as("revision"): _*))
        else {
          // prior-epoch states may predate a schema change (write()
          // forces a full at the boundary) — the same pad applies, so a
          // row whose only change is an added OR dropped column
          // classifies as an update, exactly like the snapshot layout's
          // diff, regardless of the replay window
          val oldSide = pad(
              DeltaTemporalTable.statesBefore(spark, tablePath, log, targets, keys))
            .select(keys.map(k => col(k).as(s"__o_$k"))
              :+ struct(valueCols.map(col): _*).as("__o_vals")
              :+ col("__target").as("__o_target"): _*)
          val joined = newSide.join(oldSide,
            keys.map(k => col(s"__n_$k") === col(s"__o_$k")).reduce(_ && _) &&
              col("__n_target") === col("__o_target"), "full_outer")
          val changeType = when(col("__o_target").isNull, "insert")
            .when(col("__n_target").isNull, "delete")
            .when(!(col("__n_vals") <=> col("__o_vals")), "update")
          Some(joined
            .withColumn("change_type", changeType)
            .filter(col("change_type").isNotNull)
            .select(keys.map(k => coalesce(col(s"__n_$k"), col(s"__o_$k")).as(k))
              :+ col("change_type")
              :+ coalesce(col("__n_target"), col("__o_target")).as("revision"): _*))
        }
      }

    (deltaLeg.toSeq ++ fullLeg.toSeq).reduce(_ unionByName _)
  }

  /** Commit-log micro-batch stream: offsets are committed REVISION numbers
    * ([[GraftMicroBatchStream]]), so each micro-batch holds exactly the
    * revisions committed since the last one — never a torn revision, and
    * reserved-but-uncommitted directories are invisible (the file-stream
    * variant below batches by file discovery instead). Supports
    * `Trigger.AvailableNow` (drain everything committed at trigger time,
    * then stop) and `maxRevisionsPerBatch` > 0 bounds any single batch —
    * together they make replaying an aged 10k-revision history a series
    * of bounded jobs with checkpointed progress. */
  def streamCommits(spark: SparkSession, tablePath: String,
                    maxRevisionsPerBatch: Int = 0): DataFrame =
    spark.readStream.format("graft-temporal")
      .option("commitStream", "true")
      .option("maxRevisionsPerBatch", maxRevisionsPerBatch.toString)
      .load(tablePath)

  /** Structured Streaming source over a temporal table: each committed
    * revision's files are discovered incrementally by the file-stream
    * source (`readStream.parquet` over the hive-partitioned `rev=N/`
    * layout), so `writeStream` consumers see every new revision as
    * micro-batch input with its `rev` column — the reference's
    * revision-stream semantics (§2.12) with zero custom source code and
    * exactly-once file tracking from Spark's checkpoint log. */
  def streamTable(spark: SparkSession, tablePath: String): DataFrame = {
    // the file-stream glob discovers files by LISTING rev=N/ directories,
    // which an in-place-compacted revision no longer serves (its live
    // generation hides under rev=N/_c<g>/, and the originals are
    // vacuumed) — a new stream would silently replay partial history.
    // A stream already running when a compaction lands is safe: its
    // discovered files are processed and generation dirs stay invisible
    // to its discovery. For compacted tables use streamCommits, whose
    // batches resolve files through the compaction overlay.
    require(graft.sources.RevisionCompaction.overlays(tablePath).isEmpty,
      s"$tablePath has in-place-compacted revisions; the file-stream glob " +
        "cannot discover their generation files — use ChangeFeed.streamCommits")
    // a delta chain's rev=N dirs hold CHANGE RECORDS, not snapshot rows —
    // the raw glob would stream delete markers as data rows and partial
    // row sets as snapshots (every other raw-scan entry point routes or
    // refuses the same way: recordRevisions, compactHead, the V2 scan)
    require(!graft.sources.DeltaTemporalTable.isDeltaLayout(tablePath),
      s"$tablePath is a delta-encoded chain; the raw file stream would " +
        "surface change records as rows — use ChangeFeed.streamCommits " +
        "(its batches are the CDC feed on a delta layout)")
    val schema = TemporalTable.read(spark, tablePath)
      .drop("revision", "commit_ts", "author").schema
    spark.readStream
      .schema(schema)
      .option("basePath", tablePath)
      .parquet(s"$tablePath/rev=*")
  }

  /** Tumbling event-time window aggregation with a watermark (late data
    * beyond `lateness` is dropped in streaming mode). */
  def tumblingCounts(df: DataFrame, tsCol: String, duration: String,
                     lateness: String, keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, lateness)
      .groupBy((window(col(tsCol), duration) +: keys.map(col)): _*)
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("win_start") +: col("window.end").as("win_end")
        +: keys.map(col) :+ col("cnt"): _*)

  /** Sliding window aggregation. */
  def slidingAgg(df: DataFrame, tsCol: String, duration: String, slide: String,
                 lateness: String, keys: Seq[String], aggCol: String): DataFrame =
    df.withWatermark(tsCol, lateness)
      .groupBy((window(col(tsCol), duration, slide) +: keys.map(col)): _*)
      .agg(count(lit(1)).as("cnt"), sum(col(aggCol)).as("sum_val"))
      .select(col("window.start").as("win_start") +: keys.map(col)
        :+ col("cnt") :+ col("sum_val"): _*)

  /** Streaming exact dedup: drop rows whose `keys` were already seen,
    * with state bounded by the watermark (the streaming counterpart of
    * [[graft.operators.Dedup.exactDedup]] — arriving duplicates are
    * discarded across micro-batches).
    *
    * Uses `dropDuplicatesWithinWatermark`: plain `dropDuplicates(keys)`
    * only evicts state when the event-time column is part of the key set,
    * so on a long-running stream it would accumulate one state row per
    * distinct key forever. The within-watermark variant expires each key
    * once the watermark passes its first-seen event time — bounded state
    * at 100 TB/day stream volumes, at the cost of re-admitting a
    * duplicate that arrives later than `lateness` after the original
    * (exactly the watermark contract). In batch mode (specs run both) it
    * degrades to plain dropDuplicates semantics. */
  def streamingDedup(df: DataFrame, tsCol: String, lateness: String,
                     keys: Seq[String]): DataFrame = {
    val wm = df.withWatermark(tsCol, lateness)
    if (df.isStreaming) wm.dropDuplicatesWithinWatermark(keys)
    else wm.dropDuplicates(keys)
  }

  /** Session windows: rows within `gap` of each other merge into one
    * session per key (Structured Streaming's session_window). */
  def sessionAgg(df: DataFrame, tsCol: String, gap: String, lateness: String,
                 keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, lateness)
      .groupBy((session_window(col(tsCol), gap) +: keys.map(col)): _*)
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start")
        +: col("session_window.end").as("session_end")
        +: keys.map(col) :+ col("n_events"): _*)
}
