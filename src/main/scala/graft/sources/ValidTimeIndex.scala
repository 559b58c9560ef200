package graft.sources

import graft.operators.Intervals
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Commit-maintained valid-time fork index on temporal tables — the
  * reference maintains its Relational-Interval-Tree per commit through a
  * change listener (bundles/sirix-core/src/main/java/io/sirix/index/
  * interval/ValidTimeIntervalIndexWriter.java, index/ChangeListener.java);
  * here the index is a per-revision `_vindex/rev=N` sidecar written by the
  * same commit that produced the revision, under the same persisted-policy
  * discipline as the stats sidecar and the key index: the policy travels
  * WITH the table, so every writer process maintains it without
  * registering hooks.
  *
  * Layout: `_vindex/rev=N` is an [[Intervals.writeIndexed]] table — the
  * revision's rows fork-partitioned on the RI-tree node of their
  * `[validFrom, validTo)` interval. A stab query at instant L reads ONLY
  * the ≤log₂(axis) fork directories on L's root path: `validAt` over a
  * revisioned bitemporal table partition-prunes instead of scanning the
  * revision (the reference's O(log axis) stab guarantee re-expressed as
  * hive partition pruning). Open intervals (null `validTo`) register at
  * the axis top and are found by every in-axis stab.
  *
  * The sidecar stores FULL rows (the projection-index trade: serve stabs
  * directly, no join back), so opting in costs one extra write of each
  * revision — the same write-amplification a reference secondary index
  * pays. At 100 TB, opt in on the bitemporal tables that serve stab
  * queries; everything else keeps the plain min/max-skipping scan path.
  *
  * Scope: snapshot-layout tables (library writes, V2 appends, SQL
  * INSERT, the streaming sink) AND delta chains. A
  * [[DeltaTemporalTable]] chain's delta revisions hold change records,
  * not snapshots — indexing every commit would materialize the
  * reconstruction per commit, defeating the delta layout's point — so
  * the sidecar is written at EPOCH boundaries only (every full-snapshot
  * commit, including [[DeltaTemporalTable.compact]]; the frame is in
  * hand there for free). A stab at a delta revision then reads the
  * governing full's ≤log₂(axis) fork directories plus the epoch's ≤
  * `snapshotEvery−1` delta files (the small part by design) and re-stabs
  * after applying them — fork-pruned I/O on the dominant full, never a
  * full reconstruction scan.
  */
object ValidTimeIndex {

  private[graft] def dir(path: String): String = s"$path/_vindex"
  private def revDir(path: String, rev: Int): String = s"${dir(path)}/rev=$rev"
  private def policyPath(path: String): String = s"${dir(path)}/_policy.json"

  /** Persist the policy: every subsequent commit writes the fork-indexed
    * sidecar for its revision (snapshot layout; delta chains keep their
    * own reconstruction path). `granularity` coarsens the axis before
    * fork derivation — pick it near the median interval length (the
    * [[Intervals]] bucket-width reasoning). */
  def setPolicy(path: String, fromCol: String, toCol: String,
                granularity: Long): Unit = {
    require(granularity > 0, "granularity must be positive")
    MetaIO.mkdirs(dir(path))
    MetaIO.delete(policyPath(path))
    MetaIO.createNew(policyPath(path),
      s"""{"fromCol":"${TemporalTable.escapeJson(fromCol)}",""" +
        s""""toCol":"${TemporalTable.escapeJson(toCol)}",""" +
        s""""granularity":$granularity}""")
    ()
  }

  def clearPolicy(path: String): Unit = {
    MetaIO.delete(policyPath(path))
    ()
  }

  private[graft] def policy(path: String): Option[(String, String, Long)] =
    if (!MetaIO.exists(policyPath(path))) None
    else {
      val json = MetaIO.readString(policyPath(path))
      Some((TemporalTable.parseField(json, "fromCol"),
        TemporalTable.parseField(json, "toCol"),
        TemporalTable.parseField(json, "granularity").toLong))
    }

  /** Whether a revision with `schema` is indexed under `policy`: it must
    * carry both axis columns. A revision that lacks one records no
    * sidecar — [[validAt]] falls back to the plain scan for it. */
  private[graft] def hasAxes(policy: (String, String, Long),
                             schema: org.apache.spark.sql.types.StructType): Boolean =
    schema.fieldNames.contains(policy._1) && schema.fieldNames.contains(policy._2)

  /** Write `_vindex/rev=N` from the revision's rows under `policy`. An
    * empty revision records no sidecar ([[validAt]] falls back). The
    * snapshot commit path runs this as one of its concurrent sidecar jobs
    * ([[TemporalTable]]'s `writeRevisionSidecars`), before logging the
    * commit. */
  private[graft] def writeSidecar(snap: DataFrame, path: String, rev: Int,
                                  policy: (String, String, Long)): Unit = {
    Intervals.tryWriteIndexed(snap, revDir(path, rev), policy._1, policy._2, policy._3)
    ()
  }

  /** Commit hook for delta chains' epoch-boundary fulls: writes
    * `_vindex/rev=N` when the policy is set and the revision carries both
    * axis columns. */
  private[graft] def maybeWrite(spark: SparkSession, path: String, rev: Int,
                                snap: => DataFrame): Unit =
    // by-name snap: the no-policy fast path (one metadata existence
    // probe) must not pay the frame's parquet footer read
    policy(path).foreach { p =>
      val s = snap
      if (hasAxes(p, s.schema)) writeSidecar(s, path, rev, p)
    }

  /** `jn:valid-at` over a revisioned table: stab the revision current at
    * the transaction axis (latest, or `revision`) for rows whose
    * `[fromCol, toCol)` contains `ts`. Served from the fork sidecar when
    * the commit maintained one — the stab IN-list prunes the partition
    * listing to the ≤log₂(axis) fork directories — with a transparent
    * full-scan fallback (bit-identical answers either way).
    *
    * The IN-list is conjoined explicitly, so the pruning does not depend
    * on [[graft.plans.ValidTimeStabRule]] being installed on the session
    * (installing it additionally serves ad-hoc stab FILTERS over
    * [[readIndexed]] frames). */
  def validAt(spark: SparkSession, path: String, ts: Long,
              revision: Option[Int] = None): DataFrame = {
    // the revision must be COMMITTED: a sidecar directory alone does not
    // make one (a crashed writer's abort path cleans _vindex too, but a
    // kill between sidecar write and abort can strand it — the commit
    // log, not sidecar existence, is the source of truth)
    val committed = TemporalTable.commits(path).map(_.revision)
    require(committed.nonEmpty, s"no revisions at $path")
    val rev = revision.getOrElse(committed.last)
    require(committed.contains(rev), s"unknown revision $rev at $path")
    if (DeltaTemporalTable.isDeltaLayout(path))
      return validAtDelta(spark, path, ts, rev)
    if (policy(path).isEmpty || !MetaIO.exists(revDir(path, rev)))
      return fallbackScan(spark, path, ts, rev)
    stabSidecarDir(spark, revDir(path, rev), ts) match {
      case Some((pruned, _, _)) => pruned
      case None => fallbackScan(spark, path, ts, rev)
    }
  }

  /** Stab-pruned read of one `_vindex` sidecar dir: rows whose interval
    * contains `ts`, fork columns dropped. Pruning constants come from the
    * SIDECAR's own metadata, never the current policy: a policy re-set
    * with different columns or granularity after the sidecar was written
    * would otherwise prune with constants its forks were not computed
    * under — silently dropping rows. (The policy is the write-side recipe
    * only.) None when the sidecar's metadata is unreadable.
    *
    * Planning lists on the driver and runs no Spark job: one LIST of the
    * sidecar names its `__fork_part=` directories, one footer gives the
    * schema and the `__fork` metadata, and only the fork directories on
    * the stab's root path are listed and scanned through an explicit file
    * index (Spark's own listing of a sidecar with more than
    * `parallelPartitionDiscovery.threshold` fork directories is a
    * distributed job). */
  private def stabSidecarDir(spark: SparkSession, rdir: String,
                             ts: Long): Option[(DataFrame, String, String)] = {
    val prefix = s"${Intervals.ForkPartCol}="
    // (dir, fork node, dir mtime)
    val forks = MetaIO.listDirsAged(rdir).filter(_._1.startsWith(prefix))
      .flatMap { case (d, mtime) =>
        scala.util.Try(d.stripPrefix(prefix).toLong).toOption.map((d, _, mtime)) }
      .sortBy(_._2)
    def files(dir: String): Seq[(String, Long)] =
      MetaIO.listFiles(s"$rdir/$dir").filter(_._1.endsWith(".parquet"))
        .map { case (n, size) => (s"$dir/$n", size) }
    val probe = forks.headOption.flatMap(f => files(f._1).headOption)
    if (probe.isEmpty) return None
    val schema = CommitLogFileIndex.probeSchema(spark, s"$rdir/${probe.get._1}")
    // one file group per fork directory, its mtime the directory's
    def scan(dirs: Seq[(String, Long, Long)]): DataFrame = {
      val listed = MetaIO.parallelMap(dirs)(d => files(d._1)).zipWithIndex.map(_.swap)
      CommitLogFileIndex.scan(spark, rdir, listed,
        dirs.indices.map(i => i -> dirs(i)._3).toMap, schema, revColumn = false)
    }
    if (!schema.fieldNames.contains(Intervals.ForkCol)) return None
    val meta = schema(Intervals.ForkCol).metadata
    if (!meta.contains(Intervals.MetaFrom) || !meta.contains(Intervals.MetaTo) ||
        !meta.contains(Intervals.MetaGranularity)) return None
    val fromCol = meta.getString(Intervals.MetaFrom)
    val toCol = meta.getString(Intervals.MetaTo)
    val gran = meta.getLong(Intervals.MetaGranularity)
    val axisMax =
      if (meta.contains(Intervals.MetaAxisMax)) meta.getLong(Intervals.MetaAxisMax)
      else Long.MaxValue
    val stab = col(fromCol) <= ts && (col(toCol).isNull || col(toCol) > ts)
    // a stab past the axis max cannot use the fork index (open intervals
    // registered at [from, axisMax] still contain such instants but their
    // forks are off the instant's root path) — same bail as the rule
    val pruned =
      if (ts < 0 || ts / gran > axisMax)
        scan(forks).filter(stab)
      else {
        val nodes = Intervals.stabNodes(ts, gran).filter(_ <= axisMax)
        val onPath = nodes.toSet
        scan(forks.filter(f => onPath(f._2)))
          .filter(col(Intervals.ForkCol).isin(nodes: _*) && stab)
      }
    Some((pruned.drop(Intervals.ForkCol), fromCol, toCol))
  }

  /** Delta-chain stab (see object scaladoc): fork-pruned read of the
    * governing full's sidecar, then the epoch's delta change records
    * applied on top and the stab re-checked (an update can move a row
    * into or out of the stab; a delete removes it — the final filter and
    * [[DeltaTemporalTable.applyDelta]]'s anti-join handle both). Answers
    * are bit-identical to the reconstruction-scan fallback, which serves
    * whenever the epoch's base predates the policy. */
  private def validAtDelta(spark: SparkSession, path: String, ts: Long,
                           rev: Int): DataFrame = {
    def fb(): DataFrame = policy(path) match {
      case Some((fromCol, toCol, _)) =>
        DeltaTemporalTable.read(spark, path, Some(rev))
          .filter(col(fromCol) <= ts && (col(toCol).isNull || col(toCol) > ts))
      case None => throw new IllegalStateException(
        s"validAt($path): no valid-time policy — set one with setPolicy, " +
          "or stab with operators.Temporal.validAt over an explicit read")
    }
    if (policy(path).isEmpty) return fb()
    val base = DeltaTemporalTable.baseFullRevision(path, Some(rev))
    if (!MetaIO.exists(revDir(path, base))) return fb()
    stabSidecarDir(spark, revDir(path, base), ts) match {
      case None => fb()
      case Some((stabbed, fromCol, toCol)) =>
        val ovs = RevisionCompaction.overlays(path)
        val epochDeltas = DeltaTemporalTable.commits(path)
          .filter(c => c.revision > base && c.revision <= rev)
        val merged = epochDeltas.foldLeft(stabbed) { (snap, c) =>
          val delta = spark.read.parquet(
            RevisionCompaction.effectiveDir(path, c.revision, ovs))
          val keys = delta.columns.toSeq.takeWhile(_ != "__change_type")
          DeltaTemporalTable.applyDelta(snap, delta, keys)
        }
        // re-stab: upserted rows entered unfiltered (their interval may
        // not contain ts); untouched sidecar rows already satisfy it
        merged.filter(col(fromCol) <= ts && (col(toCol).isNull || col(toCol) > ts))
    }
  }

  private[sources] def fallbackScan(spark: SparkSession, path: String, ts: Long,
                           rev: Int): DataFrame =
    policy(path) match {
      case Some((fromCol, toCol, _)) =>
        TemporalTable.read(spark, path, Some(rev))
          .filter(col(fromCol) <= ts && (col(toCol).isNull || col(toCol) > ts))
          .drop("revision", "commit_ts", "author") // match the sidecar schema
      case None => throw new IllegalStateException(
        s"validAt($path): no valid-time policy — set one with setPolicy, " +
          "or stab with operators.Temporal.validAt over an explicit read")
    }
}
