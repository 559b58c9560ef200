package graft.sources

import org.apache.spark.sql.SparkSession

/** In-place compaction of HISTORICAL revisions (the last storage-layer gap
  * vs the reference: its page files are reconstructible from a bounded
  * number of fragments and its index pages are rewritten compact on
  * commit — VersioningType.java:1216-1226, while an aged graft table kept
  * every old revision at whatever file granularity its original commit
  * happened to produce).
  *
  * [[TemporalTable.compactHead]] already serves the HEAD by committing a
  * bin-packed copy forward; that move is wrong for history — a forward
  * commit changes the revision axis, and old revisions must stay
  * readable at their own revision numbers. So historical compaction
  * rewrites an old revision's file layout WITHOUT a new revision, under
  * three invariants:
  *
  *  1. '''History is logically immutable''' — the compacted revision
  *     serves byte-identical rows at the same revision number; commit-log
  *     entries are never rewritten.
  *  2. '''Atomic visibility''' — the new layout becomes visible in one
  *     metadata `createNew` (an overlay entry in `_compactions/`); a
  *     crashed attempt leaves only an invisible orphan directory.
  *  3. '''Manifest-only reads''' — every read path resolves a revision's
  *     files through [[effectiveDir]]/[[effectiveManifests]] (overlay
  *     wins over the commit manifest), never through a directory listing
  *     of `rev=N/`, so vacuuming the superseded files cannot change any
  *     answer.
  *
  * Layout: generation `g` of revision `N` lives at `rev=N/_c<g>/part-*`.
  * The underscore prefix hides the directory from every listing-based
  * reader (Spark skips `_`-prefixed children), while an EXPLICIT read of
  * the generation directory with `basePath` still infers `rev=N` — hive
  * partition parsing skips non-`k=v` components below the first partition
  * component — so the V2 source and the commit-log micro-batch stream mix
  * compacted and uncompacted revisions in one scan with ordinary `rev`
  * partition pruning.
  *
  * {{{
  * table/
  *   _commits/00000003.json          // immutable; manifest = original files
  *   _compactions/00000003-0001.json // overlay: rev 3 now served by _c1
  *   rev=3/_c1/part-*.parquet        // generation 1 (bin-packed)
  *   rev=3/_manifest/                // diff sidecar — content-addressed,
  *                                   // survives compaction untouched
  *   rev=3/_changes/                 // rev 3's change rows against its
  *                                   // predecessor — content, untouched
  * }}}
  *
  * Sidecars: the diff `_manifest` digests CONTENT (bucket hashes), not
  * files, so it stays valid, as do the `_changes` change rows; the
  * `_stats` sidecar fingerprints the file
  * set, so compaction regenerates it inside the generation directory with
  * the same recipe (AggFromStatsRule probes the scan's root path — the
  * generation dir — and keeps folding); the `_keyindex` tree is keyed by
  * revision number only and is untouched. Dictionary-surrogate columns
  * survive because their dictionaries ride in the schema metadata, which
  * a read→write round trip preserves into the new footers.
  *
  * The one reader that cannot follow overlays is the raw file-stream glob
  * ([[graft.streaming.ChangeFeed.streamTable]]); it refuses to START on a
  * compacted table and directs callers to the commit-log stream (which
  * resolves files per revision through [[effectiveDir]] at batch-planning
  * time). A stream already RUNNING when a compaction lands is safe: its
  * discovered files are processed, generation dirs are hidden from its
  * discovery, and deferred vacuum (the auto-policy's `vacuumDelayMs`
  * retention window, or `compactRevision(vacuum = false)` plus a later
  * [[vacuum]] pass) gives in-flight batches their grace.
  */
object RevisionCompaction {

  private[graft] def compactionsDir(path: String) = s"$path/_compactions"

  private[graft] def genDir(path: String, rev: Int, gen: Int): String =
    s"$path/rev=$rev/_c$gen"

  /** One published compaction generation: the overlay's file manifest
    * (names relative to the generation directory) plus its publish
    * timestamp (epoch ms; 0 on entries written before the retention
    * field existed — those are always past any grace window). */
  final case class Overlay(revision: Int, gen: Int, files: Seq[(String, Long)],
                           ts: Long = 0L)

  /** Newest published generation per revision — one LIST of
    * `_compactions/` plus one bounded-parallel GET per entry (the same
    * metadata discipline as the commit log; a never-compacted table pays
    * one existence probe). */
  def overlays(path: String): Map[Int, Overlay] = {
    // underscore names are policy/config files, not overlay entries;
    // entries are create-new-once immutable → one LIST + cached GETs
    MetaIO.readAllCached(compactionsDir(path),
        n => n.endsWith(".json") && !n.startsWith("_"))
      .map { case (_, s) =>
        val files = TemporalTable.parseField(s, "files").split(";").toSeq
          .filter(_.nonEmpty)
          .map { e =>
            val i = e.lastIndexOf('|')
            e.substring(0, i) -> e.substring(i + 1).toLong
          }
        Overlay(TemporalTable.parseField(s, "revision").toInt,
          TemporalTable.parseField(s, "gen").toInt, files,
          Option(TemporalTable.parseField(s, "ts")).filter(_.nonEmpty)
            .map(_.toLong).getOrElse(0L))
      }.groupBy(_.revision).map { case (r, os) => r -> os.maxBy(_.gen) }
  }

  /** The directory currently serving revision `rev`'s data files. */
  def effectiveDir(path: String, rev: Int): String =
    effectiveDir(path, rev, overlays(path))

  def effectiveDir(path: String, rev: Int, ovs: Map[Int, Overlay]): String =
    ovs.get(rev).map(o => genDir(path, rev, o.gen)).getOrElse(s"$path/rev=$rev")

  /** Per-revision file manifests with compaction overlays applied — file
    * paths RELATIVE TO THE TABLE ROOT (commit-log manifests are relative
    * to their revision directory; overlay manifests to their generation
    * directory). This is the file-discovery source for history reads
    * ([[CommitLogFileIndex]]): zero directory listings, and a vacuumed
    * revision resolves to its live generation. */
  private[graft] def effectiveManifests(path: String): Map[Int, Seq[(String, Long)]] = {
    val ovs = overlays(path)
    TemporalTable.commitFileManifests(path).map { case (rev, files) =>
      rev -> (ovs.get(rev) match {
        case Some(o) => o.files.map { case (n, s) => (s"rev=$rev/_c${o.gen}/$n", s) }
        case None => files.map { case (n, s) => (s"rev=$rev/$n", s) }
      })
    }
  }

  /** Bin-pack one committed revision's files in place to
    * `ceil(bytes / targetFileBytes)` files (floor 1). Returns the new
    * generation number, or None when the revision is already at or under
    * the target count (nothing written).
    *
    * Fails fast unless EVERY commit carries a file manifest (pre-manifest
    * tables would fall back to directory listings on the history path,
    * which a vacuumed revision can no longer serve).
    *
    * Works on BOTH layouts. A delta chain's revisions hold either full
    * snapshots or change-record files; each bin-packs in place the same
    * way — the rewrite preserves rows, schema and column order (the
    * stored-keys-first contract of delta records), and every delta read
    * path resolves dirs through the overlay
    * ([[DeltaTemporalTable]] reconstruction, event intervals, the change
    * feed, the V2 rule). This is compaction of the FILE layout within a
    * revision; merging deltas ACROSS revisions remains the chain's own
    * checkpoint cadence ([[DeltaTemporalTable.compact]]).
    *
    * Crash safety: a failure before the overlay `createNew` leaves an
    * orphan `_c<g>` directory that is invisible to every reader and is
    * overwritten by the next attempt; a failure after it leaves the
    * superseded files for [[vacuum]]. `vacuum = false` defers the
    * deletion entirely (grace for long-running readers on object
    * storage — POSIX readers hold their open files either way).
    *
    * Run ONE compactor per table (the table's single-writer discipline
    * extends to maintenance): two compactors racing the same revision
    * would write the same generation directory concurrently, and while
    * the overlay `createNew` picks exactly one publisher, the loser's
    * in-flight overwrite can clobber data files the winner's manifest
    * already named. The auto-compaction policy satisfies this by
    * construction — it runs inside the (single) writer's commit. */
  /** `clusterBy` re-clusters the rewrite: rows range-partition on the
    * listed columns and sort within files, so the new footers carry tight
    * min/max on them — compaction doubles as the re-clustering window
    * (key-pruned record lookups and diff scans over old revisions then
    * skip most files, the OPTIMIZE-ZORDER reading of the same moment). */
  def compactRevision(spark: SparkSession, path: String, rev: Int,
                      targetFileBytes: Long = 128L << 20,
                      vacuum: Boolean = true,
                      clusterBy: Seq[String] = Nil): Option[Int] = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val log = TemporalTable.commits(path)
    require(log.exists(_.revision == rev), s"unknown revision $rev at $path")
    val manifests = TemporalTable.commitFileManifests(path)
    val missing = log.map(_.revision).filterNot(manifests.contains)
    require(missing.isEmpty,
      s"compactRevision requires a file manifest on every commit; missing for " +
        s"revisions ${missing.mkString(",")} (history reads of a vacuumed " +
        "revision must never fall back to a directory listing)")
    val cur = overlays(path).get(rev)
    val curDir = cur.map(o => genDir(path, rev, o.gen)).getOrElse(s"$path/rev=$rev")
    val files = cur.map(_.files).getOrElse(manifests(rev))
    val bytes = files.map(_._2).sum
    val want = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    if (files.size <= want) return None
    val gen = cur.map(_.gen + 1).getOrElse(1)
    val dst = genDir(path, rev, gen)
    // an orphan from a crashed attempt at this generation is overwritten
    val src = spark.read.parquet(curDir)
    val packed =
      if (clusterBy.isEmpty)
        // repartition, not coalesce — near-equal output files
        // (compactHead's reasoning applies unchanged)
        src.repartition(want)
      else src
        .repartitionByRange(want, clusterBy.map(org.apache.spark.sql.functions.col): _*)
        .sortWithinPartitions(clusterBy.map(org.apache.spark.sql.functions.col): _*)
    packed.write.mode("overwrite").parquet(dst)
    // carry the stats sidecar: same recipe, fingerprint over the new files
    StatsSidecar.read(curDir).foreach { st =>
      StatsSidecar.write(spark, dst,
        ndvCols = st.cols.values.filter(_.ndv.isDefined).map(_.name).toSeq.sorted,
        groupCols = st.groups.keys.toSeq)
    }
    val newFiles = MetaIO.listFiles(dst).map { case (n, s) => s"$n|$s" }.mkString(";")
    MetaIO.mkdirs(compactionsDir(path))
    // the publish point: atomic create-new, never overwritten
    MetaIO.createNew(
      s"${compactionsDir(path)}/${"%08d".format(rev)}-${"%04d".format(gen)}.json",
      s"""{"revision":$rev,"gen":$gen,"ts":${System.currentTimeMillis()},""" +
        s""""files":"${TemporalTable.escapeJson(newFiles)}"}""")
    if (vacuum) vacuumRevision(path, rev, manifests(rev), keepGen = gen)
    Some(gen)
  }

  /** Compact every committed revision below the head (the head compacts
    * through [[TemporalTable.compactHead]]'s forward commit, which keeps
    * a freshly-written revision's original files readable to any
    * concurrent reader that just resolved them; pass `includeHead = true`
    * to force the in-place path there too). Returns rev → new gen for the
    * revisions that were rewritten. */
  def compactHistory(spark: SparkSession, path: String,
                     targetFileBytes: Long = 128L << 20,
                     includeHead: Boolean = false,
                     vacuum: Boolean = true): Map[Int, Int] = {
    val revs = TemporalTable.commits(path).map(_.revision)
    val targets = if (includeHead) revs else revs.dropRight(1)
    targets.flatMap(r =>
      compactRevision(spark, path, r, targetFileBytes, vacuum).map(r -> _)).toMap
  }

  /** Delete the files a revision's newest generation superseded: older
    * generation directories, and — when the live generation replaced the
    * ORIGINAL layout — the original data files named in the commit
    * manifest (only those: the `_manifest` and `_changes` diff sidecars
    * and any other underscore children of `rev=N/` stay). Idempotent. */
  private def vacuumRevision(path: String, rev: Int,
                             originalFiles: Seq[(String, Long)], keepGen: Int): Unit = {
    // superseded generations
    MetaIO.listDirs(s"$path/rev=$rev")
      .filter(n => n.startsWith("_c") &&
        scala.util.Try(n.stripPrefix("_c").toInt).toOption.exists(_ < keepGen))
      .foreach(n => MetaIO.delete(s"$path/rev=$rev/$n", recursive = true))
    // original files (no-op when an earlier compaction already removed them)
    originalFiles.foreach { case (n, _) => MetaIO.delete(s"$path/rev=$rev/$n") }
    // marker: the deferred-vacuum sweep skips already-vacuumed generations
    // without re-listing/re-deleting (idempotent overwrite)
    MetaIO.writeStringOverwrite(vacMarkerPath(path, rev, keepGen), "{}")
  }

  private def vacMarkerPath(path: String, rev: Int, gen: Int): String =
    s"${compactionsDir(path)}/${"%08d".format(rev)}-${"%04d".format(gen)}.vac"

  /** Stand-alone vacuum pass over every compacted revision — the deferred
    * half of `compactRevision(..., vacuum = false)`, and the recovery
    * path for a compactor that crashed between publish and delete. */
  def vacuum(path: String): Unit = {
    val manifests = TemporalTable.commitFileManifests(path)
    overlays(path).foreach { case (rev, o) =>
      vacuumRevision(path, rev, manifests.getOrElse(rev, Nil), keepGen = o.gen)
    }
  }

  /** Remove generation directories no published overlay points at — the
    * residue of a compactor that crashed BEFORE its publish `createNew`
    * (invisible to every reader; overwritten on a retry of the same
    * generation, but never reclaimed if the compactor moves on or the
    * policy is cleared). Run it from the (single) maintenance process
    * only: a concurrently RUNNING compactor's in-progress generation is
    * indistinguishable from an orphan. Returns the removed dirs. */
  def cleanOrphans(path: String): Seq[String] = {
    val ovs = overlays(path)
    TemporalTable.commits(path).map(_.revision).flatMap { rev =>
      val live = ovs.get(rev).map(_.gen)
      MetaIO.listDirs(s"$path/rev=$rev")
        .filter(n => n.startsWith("_c") &&
          scala.util.Try(n.stripPrefix("_c").toInt).toOption
            .exists(g => !live.contains(g)))
        .map { n =>
          MetaIO.delete(s"$path/rev=$rev/$n", recursive = true)
          s"rev=$rev/$n"
        }
    }
  }

  // ---- persisted auto-compaction policy (the history analog of the
  // key-index auto-compaction: the policy travels WITH the table, so
  // every writer process honors it without registering hooks — the
  // reference's always-compact page behavior as a storage policy) ----

  private def policyPath(path: String) = s"${compactionsDir(path)}/_policy.json"

  /** Persist: once a revision is at least `olderThan` commits behind the
    * head, the next commit bin-packs it in place to `targetFileBytes`.
    * Each commit retires exactly one revision past the threshold (plus
    * any backlog the policy finds on an existing table), so steady-state
    * commit latency carries at most one bounded rewrite.
    *
    * `vacuumDelayMs` is the retention grace for the superseded files: a
    * policy-driven compaction never deletes them inline — each commit's
    * policy check instead vacuums generations whose overlay was
    * published at least `vacuumDelayMs` ago (Delta's vacuum-retention
    * discipline). A concurrent reader that resolved its file list from
    * the pre-overlay manifest moments before the compaction therefore
    * keeps its files for the grace window instead of hitting
    * FileNotFoundException mid-query on object storage. Default 10
    * minutes; 0 restores eager deletion for tests/local tables. */
  def setAutoCompaction(path: String, olderThan: Int,
                        targetFileBytes: Long = 128L << 20,
                        vacuumDelayMs: Long = 600000L): Unit = {
    require(olderThan >= 1, "olderThan must be >= 1")
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    require(vacuumDelayMs >= 0, "vacuumDelayMs must be >= 0")
    MetaIO.mkdirs(compactionsDir(path))
    MetaIO.delete(policyPath(path))
    MetaIO.createNew(policyPath(path),
      s"""{"olderThan":$olderThan,"targetFileBytes":$targetFileBytes,""" +
        s""""vacuumDelayMs":$vacuumDelayMs}""")
    ()
  }

  def clearAutoCompaction(path: String): Unit = {
    MetaIO.delete(policyPath(path))
    ()
  }

  /** Post-commit policy check ([[TemporalTable]] calls this after every
    * durable commit, V2 appends included). Eligibility is decided from
    * the effective manifests ALONE — zero file listings on an already-
    * packed history — and only revisions actually above the target file
    * count are rewritten. One metadata existence probe when no policy is
    * set. */
  private[graft] def maybeAutoCompact(spark: SparkSession, path: String): Unit =
    if (MetaIO.exists(policyPath(path))) {
      val json = MetaIO.readString(policyPath(path))
      val olderThan = TemporalTable.parseField(json, "olderThan").toInt
      val target = TemporalTable.parseField(json, "targetFileBytes").toLong
      // pre-retention policy files carry no vacuumDelayMs → eager (their
      // tables were written under the old always-eager behavior)
      val graceMs = Option(TemporalTable.parseField(json, "vacuumDelayMs"))
        .filter(_.nonEmpty).map(_.toLong).getOrElse(0L)
      val revs = TemporalTable.commits(path).map(_.revision)
      if (revs.size > olderThan) {
        val manifests = TemporalTable.commitFileManifests(path)
        if (revs.forall(manifests.contains)) {
          val ovs = overlays(path)
          val eligible = revs.dropRight(olderThan)
          eligible.foreach { r =>
            val files = ovs.get(r).map(_.files).getOrElse(manifests(r))
            val bytes = files.map(_._2).sum
            val want = math.max(1L, (bytes + target - 1) / target)
            if (files.size > want) {
              // grace > 0: publish only — the sweep below deletes the
              // superseded files once the overlay has aged past the window
              compactRevision(spark, path, r, target, vacuum = graceMs <= 0)
              ()
            }
          }
        }
      }
      if (graceMs > 0) sweepAgedVacuum(path, graceMs)
    }

  /** Vacuum every compacted revision whose live overlay was published at
    * least `graceMs` ago and is not already vacuumed (one LIST for the
    * `.vac` markers; overlays are served from the entry cache). Readers
    * that planned against the pre-overlay manifest get the grace window;
    * the files are reclaimed by a later commit's policy check or an
    * explicit [[vacuum]]. */
  private[graft] def sweepAgedVacuum(path: String, graceMs: Long): Unit = {
    val now = System.currentTimeMillis()
    val markers = MetaIO.list(compactionsDir(path)).filter(_.endsWith(".vac")).toSet
    val manifests = TemporalTable.commitFileManifests(path)
    overlays(path).foreach { case (rev, o) =>
      val marker = s"${"%08d".format(rev)}-${"%04d".format(o.gen)}.vac"
      if (!markers.contains(marker) && now - o.ts >= graceMs)
        vacuumRevision(path, rev, manifests.getOrElse(rev, Nil), keepGen = o.gen)
    }
  }
}
