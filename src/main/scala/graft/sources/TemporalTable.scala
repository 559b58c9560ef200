package graft.sources

import org.apache.hadoop.fs.FileAlreadyExistsException
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned temporal table storage (SURVEY.md §1.5-1.6, M1).
  *
  * Re-expresses the reference's append-only, copy-on-write revision store
  * (bundles/sirix-core/src/main/java/io/sirix/settings/VersioningType.java,
  * README.md:33-40) as a Spark-native snapshot layout:
  *
  * {{{
  * table/
  *   _commits/00000001.json   // {"revision":1,"commitTsMs":...,"author":...}
  *   rev=1/part-*.parquet     // full snapshot at revision 1
  *   rev=2/part-*.parquet
  *   rev=2/_manifest/         // bucket digests of rev 2 (diff pruning)
  *   rev=2/_changes/          // rev 2's change rows against rev 1
  * }}}
  *
  * One JSON file per commit keeps the log append-only without read-modify-
  * write races (single writer per resource, like the reference's
  * one-writer/N-readers model, README.md:118-121). Reading revision r touches
  * only `rev=r/` — revision pruning is directory selection, the Spark analog
  * of the reference's per-revision uber-page lookup, and at 100 TB it means a
  * time-travel read never lists or scans other revisions' files.
  *
  * Every snapshot row must carry a stable identity column (`node_key` by
  * convention — docs/ARCHITECTURE.md:527-529) for cross-revision operators
  * (diff, allTimes) to join on.
  */
object TemporalTable {

  final case class Commit(revision: Int, commitTsMs: Long, author: String, message: String)

  /** Post-commit hooks (reference: api/PostCommitHook.java + the index
    * ChangeListener wiring): invoked on the driver after every successful
    * commit-log append, with the table path and the committed revision.
    * Typical use: incremental index maintenance —
    * `addCommitHook((p, c) => ProjectionIndex.maintainAll(spark, p))`.
    * Hooks run synchronously in registration order; a throwing hook does
    * NOT roll back the commit (the revision is already durable) — it
    * propagates to the writer, like the reference's post-commit contract. */
  type CommitHook = (String, Commit) => Unit

  private val hooks = new java.util.concurrent.CopyOnWriteArrayList[CommitHook]()

  def addCommitHook(hook: CommitHook): Unit = hooks.add(hook)
  def removeCommitHook(hook: CommitHook): Unit = hooks.remove(hook)

  private def firePostCommit(path: String, commit: Commit): Unit =
    if (!hooks.isEmpty) hooks.forEach(h => h(path, commit))

  private[graft] def commitsDir(path: String) = s"$path/_commits"

  private[graft] def escapeJson(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private[graft] def unescapeJson(s: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => out += '\n'; i += 2
          case 'r' => out += '\r'; i += 2
          case 't' => out += '\t'; i += 2
          case 'u' if i + 5 < s.length =>
            out += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case other => out += other; i += 2
        }
      } else { out += c; i += 1 }
    }
    out.toString
  }

  /** Parse one field out of a single-object commit-log JSON line; string
    * values tolerate escaped quotes/backslashes and round-trip through
    * [[escapeJson]]. Shared by TemporalTable and DeltaTemporalTable.
    *
    * Hand-rolled scan, not a regex: the obvious pattern's string-value
    * loop (`(?:\\.|[^"\\])*`) RECURSES once per character in the JVM's
    * regex engine, so a multi-kilobyte value — a 32-file revision's
    * `files` manifest is ~2 KB — overflows the stack. The scanner is one
    * forward pass with O(1) stack at any value length. */
  private[graft] def parseField(json: String, name: String): String = {
    val key = "\"" + name + "\""
    var from = 0
    while (from < json.length) {
      val ki = json.indexOf(key, from)
      if (ki < 0) return ""
      var i = ki + key.length
      while (i < json.length && Character.isWhitespace(json.charAt(i))) i += 1
      if (i < json.length && json.charAt(i) == ':') {
        i += 1
        while (i < json.length && Character.isWhitespace(json.charAt(i))) i += 1
        if (i < json.length && json.charAt(i) == '"') {
          // string value: scan to the closing quote, honoring escapes
          var j = i + 1
          while (j < json.length && json.charAt(j) != '"') {
            if (json.charAt(j) == '\\') j += 2 else j += 1
          }
          return unescapeJson(json.substring(i + 1, math.min(j, json.length)))
        }
        var j = i
        while (j < json.length &&
          (json.charAt(j) == '-' || Character.isDigit(json.charAt(j)))) j += 1
        if (j > i) return json.substring(i, j)
      }
      // the key text appeared without a parsable value (e.g. inside
      // another string) — keep scanning from past this occurrence
      from = ki + key.length
    }
    ""
  }

  /** Read the commit log (small driver-side metadata, like Delta's log).
    * Goes through the Hadoop FileSystem resolved from the path, so the
    * table opens on HDFS/S3A exactly like on local disk. Commit files are
    * fetched with bounded driver-side parallelism: on object storage each
    * read is a ~10-20 ms GET, and an aged table carries thousands of
    * revisions (the reference's 10k-revision posture, docs/BENCHMARKS
    * .md:253) — sequential opens would turn session-open into minutes. */
  /** Commit-log entry contents — ONE list + cached GETs (entries are
    * create-new-once immutable, [[MetaIO.readAllCached]]), shared by
    * every commit-log parse ([[commits]], [[commitFileManifests]],
    * [[commitSchemas]], the delta log): an aged table's metadata passes
    * stop multiplying GETs per read surface. */
  private[graft] def commitEntryJsons(path: String): Seq[String] =
    MetaIO.readAllCached(commitsDir(path), _.endsWith(".json")).map(_._2)

  def commits(path: String): Seq[Commit] =
    commitEntryJsons(path).map { s =>
      Commit(parseField(s, "revision").toInt, parseField(s, "commitTsMs").toLong,
        parseField(s, "author"), parseField(s, "message"))
    }.sortBy(_.revision)

  def mostRecentRevision(path: String): Option[Int] = commits(path).lastOption.map(_.revision)

  /** The committed revision's writer token (`writerId` in its commit
    * entry) — the binding sidecar writers verify against
    * ([[graft.query.JsoniqRun.Store]]'s edit logs). None when the
    * revision doesn't exist or predates token recording. */
  private[graft] def commitWriterId(path: String, rev: Int)
      : Option[String] =
    commitEntryJsons(path)
      .find(s => scala.util.Try(parseField(s, "revision").toInt)
        .toOption.contains(rev))
      .map(s => parseField(s, "writerId")).filter(_.nonEmpty)

  /** Catalog ops (`jn:exists-resource` / `jn:drop-resource`). Existence is
    * a directory LISTING check only — it must not read commit contents
    * (SHOW TABLES over a large warehouse would otherwise cost one GET per
    * commit file on object storage). */
  def exists(path: String): Boolean =
    MetaIO.list(commitsDir(path)).exists(_.endsWith(".json"))

  def drop(path: String): Unit = {
    MetaIO.delete(path, recursive = true)
    ()
  }

  /** Writer tokens for reservations made by THIS process, keyed
    * (tablePath, rev). The token is also the marker file's content — the
    * durable, cross-process claim; this map only carries it between the
    * reserve / commit / abort steps of one writer so the Int-returning
    * protocol API stays unchanged. Entries are removed at commit/abort. */
  private val reservationTokens =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), String]()

  private def reserveMarker(path: String, rev: Int): String =
    s"${commitsDir(path)}/${"%08d".format(rev)}.reserve"

  /** True iff this process holds the reservation for `rev` AND the marker
    * on storage still carries this writer's token. On backends with an
    * atomic create-new (local FS, HDFS) the marker can never change hands,
    * so this always holds; on S3A it is the ownership re-check that
    * demotes a writer whose reservation was overwritten in the
    * HEAD-then-PUT race window. Reservations made by OTHER processes (or
    * direct protocol calls in specs) have no local token and are trusted. */
  private def stillOwns(path: String, rev: Int): Boolean = {
    val token = reservationTokens.get((path, rev))
    if (token == null) true
    else scala.util.Try(MetaIO.readString(reserveMarker(path, rev)))
      .toOption.contains(token)
    // .contains, NOT .forall: a token-holding writer whose marker is
    // MISSING or unreadable must demote. The vacuous-true reading let the
    // loser of the S3A double-reservation race pass the ownership gate
    // AFTER the winner committed and cleared the marker — its abort then
    // deleted the winner's committed revision. A false demotion merely
    // strands an orphan marker/data dir, the documented-safe outcome.
  }

  /** Commit-time ownership gate shared by both commit-log writers (this
    * object's [[logCommit]] and [[DeltaTemporalTable]]'s). */
  private[sources] def requireOwnership(path: String, rev: Int): Unit =
    if (!stillOwns(path, rev))
      throw new FileAlreadyExistsException(
        s"$path rev=$rev: reservation was claimed by another writer; not committing")

  private[sources] def writerToken(path: String, rev: Int): Option[String] =
    Option(reservationTokens.get((path, rev)))

  /** Post-commit cleanup: drop the durable marker and the local token. */
  private[sources] def clearReservation(path: String, rev: Int): Unit = {
    MetaIO.delete(reserveMarker(path, rev))
    reservationTokens.remove((path, rev))
    ()
  }

  /** Reserve the next revision number with a create-new marker file in the
    * commit-log directory, so two racing writers can never both claim the
    * same `rev=N` data directory (the pre-fix protocol wrote data first and
    * resolved N from the log alone — a loser's overwrite could destroy the
    * winner's already-committed files). The marker content is a per-writer
    * UUID token: on stores whose rename can overwrite (S3A),
    * [[MetaIO.createNew]]'s read-back plus the [[logCommit]] ownership
    * re-check make the token the arbiter — of two writers that raced onto
    * the same marker, exactly one sees its own token and commits
    * (reference README.md:118-121 pins the same one-writer guarantee
    * in-process). A writer that crashes between reservation and commit
    * leaves an orphan marker, which merely skips one revision number —
    * readers only ever see the `.json` entries. */
  private[graft] def reserveRevision(path: String): Int = {
    MetaIO.mkdirs(commitsDir(path))
    var attempts = 0
    while (attempts < 1000) {
      val taken = MetaIO.list(commitsDir(path)).flatMap { n =>
        val base =
          if (n.endsWith(".json")) Some(n.stripSuffix(".json"))
          else if (n.endsWith(".reserve")) Some(n.stripSuffix(".reserve"))
          else None
        base.flatMap(b => scala.util.Try(b.toInt).toOption)
      }
      val next = (taken :+ 0).max + 1
      val token = java.util.UUID.randomUUID().toString
      try {
        MetaIO.createNew(reserveMarker(path, next), token)
        reservationTokens.put((path, next), token)
        return next
      } catch { case _: FileAlreadyExistsException => attempts += 1 }
    }
    throw new IllegalStateException(s"could not reserve a revision at $path")
  }

  /** Discard a reservation (failed write): remove any partial data files,
    * then the marker — but ONLY while this writer still owns the marker.
    * If another writer overwrote the reservation (S3A race), the data
    * directory may hold the WINNER's files; deleting it here would destroy
    * a committed revision, so a demoted writer backs off touching nothing
    * but its local token. */
  private[graft] def abortReservation(path: String, rev: Int): Unit = {
    // the commit-log entry is the commit point: once it exists the
    // revision is durable and MUST survive any abort. Without this gate a
    // post-commit failure (a throwing commit hook, a V2 maybeAutoCompact
    // error surfacing through Spark's abort()) reached here AFTER
    // clearReservation dropped the local token, stillOwns vacuously
    // passed, and the just-committed revision's data was deleted while
    // its log entry remained — a table that can never be read again.
    val committed =
      MetaIO.exists(s"${commitsDir(path)}/${"%08d".format(rev)}.json")
    if (!committed && stillOwns(path, rev)) {
      MetaIO.delete(s"$path/rev=$rev", recursive = true)
      MetaIO.delete(s"${keyIndexDir(path)}/rev=$rev", recursive = true)
      // the valid-time fork sidecar is written pre-commit too: an aborted
      // attempt must not leave one behind (validAt would serve rows of a
      // revision that never existed)
      MetaIO.delete(s"${ValidTimeIndex.dir(path)}/rev=$rev", recursive = true)
      MetaIO.delete(reserveMarker(path, rev))
    }
    reservationTokens.remove((path, rev))
    ()
  }

  /** Append the commit-log entry for a just-written revision (the last
    * step of the commit protocol — also invoked by the DataSource V2 write
    * path on successful job commit). Re-checks marker ownership first and
    * embeds the writer token in the entry ([[MetaIO.createNew]]'s
    * read-back needs writer-unique bytes), then clears the reservation
    * marker once the entry is durable.
    *
    * The entry also records the revision's data-file manifest (name and
    * size, from ONE write-time listing of the just-written directory):
    * history reads ([[readRevisions]]) then discover every file from the
    * commit log alone — zero per-revision directory listings on an aged
    * table, the same move the reference makes by keeping page references
    * in its UberPage instead of scanning storage
    * (bundles/sirix-core/src/main/java/io/sirix/page/UberPage.java).
    * `sidecars` records the revision's manifest signature and change-set
    * base ([[DiffSidecars]]) for the diff, feed and vector readers. */
  private[graft] def logCommit(path: String, rev: Int, author: String,
                               message: String,
                               schema: Option[org.apache.spark.sql.types.StructType]
                                 = None,
                               sidecars: DiffSidecars = DiffSidecars.none): Unit = {
    requireOwnership(path, rev)
    MetaIO.mkdirs(commitsDir(path))
    val ts = System.currentTimeMillis()
    val token = writerToken(path, rev)
      .getOrElse(java.util.UUID.randomUUID().toString)
    val files = MetaIO.listFiles(s"$path/rev=$rev")
      .map { case (n, s) => s"$n|$s" }.mkString(";")
    // the revision's schema (DDL — names and types, not column metadata):
    // history reads merge these across revisions so a table whose
    // columns evolved still serves one union frame (the reference is
    // schemaless — any revision may shape its documents differently)
    val schemaField = schema
      .map(s => s""""schemaDdl":"${escapeJson(s.toDDL)}",""").getOrElse("")
    val sidecarFields =
      sidecars.manifestCols.map(c => s""""manifestCols":"${escapeJson(c)}",""")
        .getOrElse("") +
        sidecars.changesBase.map(b => s""""changesBase":$b,""").getOrElse("")
    val json = s"""{"revision":$rev,"commitTsMs":$ts,""" +
      s""""author":"${escapeJson(author)}","message":"${escapeJson(message)}",""" +
      s""""files":"${escapeJson(files)}",$schemaField$sidecarFields""" +
      s""""writerId":"$token"}"""
    MetaIO.createNew(s"${commitsDir(path)}/${"%08d".format(rev)}.json", json)
    clearReservation(path, rev)
    firePostCommit(path, Commit(rev, ts, author, message))
  }

  /** Per-revision schemas recorded in the commit log (absent for commits
    * made before schemas were recorded). Same metadata pass as
    * [[commits]]. */
  private[graft] def commitSchemas(path: String)
      : Map[Int, org.apache.spark.sql.types.StructType] =
    commitEntryJsons(path).flatMap { s =>
      if (!s.contains("\"schemaDdl\"")) None
      else scala.util.Try(
        parseField(s, "revision").toInt ->
          org.apache.spark.sql.types.StructType.fromDDL(parseField(s, "schemaDdl"))
      ).toOption
    }.toMap

  /** Union schema over the given revisions' recorded schemas — by NAME in
    * first-seen order (ascending revision), every field nullable (a column
    * absent from a revision reads as null there). None when any revision
    * lacks a recorded schema (pre-schema commits — callers fall back to a
    * single-revision probe) or when every schema is identical (callers
    * keep the probe, which preserves column METADATA the DDL round-trip
    * drops — dictionary-surrogate columns ride there). Name collisions at
    * different types fail loud: nothing can serve both eras in one frame. */
  private[graft] def mergedHistorySchema(path: String, revs: Seq[Int])
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val recorded = commitSchemas(path)
    if (!revs.forall(recorded.contains)) return None
    val ordered = revs.sorted.map(recorded)
    if (ordered.forall(_ == ordered.head)) return None
    val out = scala.collection.mutable.LinkedHashMap.empty[String, StructField]
    ordered.foreach(_.fields.foreach { f =>
      out.get(f.name) match {
        case None => out(f.name) = f.copy(nullable = true)
        case Some(prev) =>
          require(prev.dataType == f.dataType,
            s"schema evolution conflict at $path: column '${f.name}' was " +
              s"${prev.dataType.simpleString} in an earlier revision and " +
              s"${f.dataType.simpleString} later — a history frame cannot " +
              "serve both; rename the column instead of retyping it")
      }
    })
    Some(StructType(out.values.toSeq))
  }

  /** Per-revision data-file manifests parsed from the commit log —
    * `rev -> Seq(fileName -> size)`. Revisions committed before manifests
    * were recorded are absent from the map (readers fall back to
    * directory listing). One metadata pass, shared with [[commits]]'s
    * parse format. */
  private[graft] def commitFileManifests(path: String): Map[Int, Seq[(String, Long)]] =
    commitEntryJsons(path).flatMap { s =>
      val rev = parseField(s, "revision").toInt
      // distinguish "no field" (pre-manifest commit) from "empty manifest"
      // (an empty snapshot): parseField returns "" for both, so re-probe
      if (!s.contains("\"files\"")) None
      else {
        val files = parseField(s, "files").split(";").toSeq
          .filter(_.nonEmpty)
          .map { e =>
            val i = e.lastIndexOf('|')
            e.substring(0, i) -> e.substring(i + 1).toLong
          }
        Some(rev -> files)
      }
    }.toMap

  private[graft] def manifestDir(path: String, rev: Int): String =
    s"$path/rev=$rev/_manifest"

  private[graft] def changesDir(path: String, rev: Int): String =
    s"$path/rev=$rev/_changes"

  /** The bucket count every stored manifest is digested at. */
  private val ManifestBuckets = 65536

  /** What a commit-log entry records about its revision's diff sidecars:
    * the `_manifest` signature ([[graft.operators.Diff.manifestSignature]]
    * — key and compared columns, in order) and the base revision the
    * `_changes` change set was computed against. Absent on entries
    * written before they were recorded, and on revisions without the
    * sidecar in question. */
  private[graft] final case class DiffSidecars(manifestCols: Option[String],
                                               changesBase: Option[Int])
  private[graft] object DiffSidecars { val none: DiffSidecars = DiffSidecars(None, None) }

  /** Per-revision [[DiffSidecars]] from the commit log (same metadata
    * pass as [[commits]]). */
  private[graft] def commitDiffSidecars(path: String): Map[Int, DiffSidecars] =
    commitEntryJsons(path).map { s =>
      parseField(s, "revision").toInt -> DiffSidecars(
        Option(parseField(s, "manifestCols")).filter(_.nonEmpty),
        scala.util.Try(parseField(s, "changesBase").toInt).toOption)
    }.toMap

  /** Names and sizes of a sidecar directory's parquet part files. Readers
    * open the files, never the directory: DataSource ignores an
    * underscore- or dot-named directory as a hidden path. */
  private def partFiles(dir: String): Seq[(String, Long)] =
    MetaIO.listFiles(dir).filter(_._1.endsWith(".parquet"))

  /** A sidecar directory's parquet part files as one frame. */
  private def readPartFiles(spark: SparkSession, dir: String): DataFrame =
    graft.plans.FooterSchemas.readParquet(spark,
      partFiles(dir).map { case (n, _) => s"$dir/$n" }: _*)

  /** Append a new revision: reserve the revision number, write the full
    * snapshot plus its bucket-manifest sidecar (the reference's
    * stored-hash design — hashes computed at write time so [[diff]] never
    * scans unchanged data), then append the commit-log entry (commit
    * point — a failed write never becomes a revision). The sidecar lives
    * under an underscore-prefixed directory inside `rev=N`, which Spark's
    * file listing ignores, so snapshot reads are unaffected; it is only
    * written when the frame carries the default `node_key` diff key.
    *
    * Manifest cost: when the input plan is fully deterministic (the
    * common case), the frame is pinned for the duration of the commit and
    * the digests are computed FROM THE PINNED BLOCKS the write itself
    * materialized — one upstream execution, and the extra pass is a
    * cache-local scan plus a ≤64k-row aggregate instead of a second
    * parquet read. Determinism makes the pin safe: a block evicted under
    * pressure recomputes to identical rows. A nondeterministic plan
    * (rand, shuffle-order-dependent ids) falls back to digesting the
    * just-written parquet, whose bytes ARE the revision — never the
    * lineage, which would silently diverge from storage and corrupt every
    * later pruned diff. Pass `withManifest = false` for ingest-only
    * tables that are never diffed.
    *
    * The commit also maintains the RECORD_TO_REVISIONS analog (reference:
    * index/IndexType.java:24-27): the revision's key column lands in a
    * `_keyindex/rev=N` sidecar — a map-side single-column projection, no
    * shuffle — so [[recordRevisions]] answers "which revisions contain
    * key k" from the compact key table instead of scanning every
    * revision's full snapshot (the reference's aged-DB shape: 10k+
    * revisions). `withKeyIndex = false` skips it.
    *
    * `dictCols` turns on the STABLE dictionary-surrogate layout for the
    * listed string columns: the frame is [[graft.operators.Dict.encode]]d
    * before the write, seeding each dictionary with the PRIOR revision's
    * (footer-only read) so codes never change meaning across revisions —
    * new values append. Prefix-compatible per-revision dictionaries are
    * what lets [[graft.plans.DictAggRule]] fire on multi-revision history
    * frames; per-write independent dictionaries (encoding yourself before
    * calling write) stay correct but make the rule bail on history.
    *
    * `withStats` additionally materializes a per-revision
    * [[StatsSidecar]] (per-column count/nulls/sum/min/max + dictionary
    * NDV; `statsNdvCols` asks for more exact NDVs, `statsGroupCols`
    * records micro-cube group sections) so aggregate shapes over the
    * snapshot fold to metadata via [[graft.plans.AggFromStatsRule]];
    * costs one extra aggregate pass over the just-written revision,
    * hence opt-in. Once opted in, the sidecar is a PERSISTED TABLE
    * POLICY (the auto-compaction discipline): every later revision —
    * written through this API or SQL INSERT — inherits the prior
    * revision's recipe (its NDV columns and group tuples), so history
    * frames never mix sidecar'd and bare revisions and the fold keeps
    * firing without every writer restating the options. */
  /** Commit-message prefix reserved for member-local fast-commit
    * sentinels. A library caller stamping it on a REAL-text revision
    * would make readers silently serve the base revision's
    * reconstruction instead of the written content — so [[write]] and
    * [[commitCopyOf]] refuse it unless the fast-commit machinery holds
    * the permit ([[withSentinelPermit]]). */
  private[graft] val SentinelMessagePrefix = "memberlocal:"
  private val sentinelPermit =
    new scala.util.DynamicVariable[Boolean](false)
  private[graft] def withSentinelPermit[A](body: => A): A =
    sentinelPermit.withValue(true)(body)
  private def checkReservedMessage(message: String): Unit =
    require(!message.startsWith(SentinelMessagePrefix) ||
        sentinelPermit.value,
      s"commit message prefix '$SentinelMessagePrefix' is reserved " +
        "for member-local fast-commit sentinels; a real-text revision " +
        "carrying it would serve the base revision's reconstruction " +
        "instead of the written content")

  def write(df: DataFrame, path: String, author: String = "graft",
            message: String = "", withManifest: Boolean = true,
            withKeyIndex: Boolean = true, dictCols: Seq[String] = Nil,
            withStats: Boolean = false, statsNdvCols: Seq[String] = Nil,
            statsGroupCols: Seq[Seq[String]] = Nil,
            manifestFromRev: Option[Int] = None,
            onReserve: (Int, String) => Unit = (_, _) => ()): Int = {
    checkReservedMessage(message)
    val encoded =
      if (dictCols.isEmpty) df
      else {
        val base = mostRecentRevision(path)
          .map(r => graft.operators.Dict.dictionariesOf(
            df.sparkSession.read.parquet(RevisionCompaction.effectiveDir(path, r)).schema))
          .getOrElse(Map.empty[String, Array[String]])
        graft.operators.Dict.encode(df, dictCols, base = base)
      }
    writeFrame(encoded, path, author, message, withManifest, withKeyIndex,
      withStats, statsNdvCols, statsGroupCols, manifestFromRev, onReserve)
  }

  /** The stats-policy read: the prior COMMITTED revision's sidecar recipe
    * (NDV columns, recorded group tuples), or None when the table has not
    * opted in. The prior revision comes from one `_commits` name listing
    * (never `rev - 1`: a concurrent writer's aborted reservation can
    * leave a permanent numbering gap there), plus one negative-cached
    * sidecar probe. */
  private def inheritedStatsRecipe(path: String, rev: Int)
      : Option[(Seq[String], Seq[Seq[String]])] =
    MetaIO.list(commitsDir(path))
      .flatMap(n =>
        if (n.endsWith(".json"))
          scala.util.Try(n.stripSuffix(".json").toInt).toOption
        else None)
      .filter(_ < rev).maxOption
      .flatMap(prior => StatsSidecar.read(RevisionCompaction.effectiveDir(path, prior)))
      .map { st =>
        (st.cols.values.filter(_.ndv.isDefined).map(_.name).toSeq.sorted,
          st.groups.keys.toSeq)
      }

  private def writeFrame(df: DataFrame, path: String, author: String,
                         message: String, withManifest: Boolean,
                         withKeyIndex: Boolean,
                         withStats: Boolean = false,
                         statsNdvCols: Seq[String] = Nil,
                         statsGroupCols: Seq[Seq[String]] = Nil,
                         manifestFromRev: Option[Int] = None,
                         onReserve: (Int, String) => Unit
                           = (_, _) => ()): Int = {
    val rev = reserveRevision(path)
    try {
      // reservation hook: callers that write binding sidecars keyed by
      // the revision number (edit logs) run here, INSIDE the protocol —
      // they learn the real reserved number and its writer token, and a
      // failure aborts the reservation like any pre-commit failure
      onReserve(rev, writerToken(path, rev).getOrElse(""))
      // content-identical commit (compactHead): the manifest is bucket
      // digests over row CONTENT, independent of file layout — a byte
      // copy of the source revision's sidecar (made by the sidecar block,
      // after the data write) replaces the full snapshot scan + shuffle
      // the recomputation costs
      val copyManifest = manifestFromRev.filter(r =>
        withManifest && partFiles(manifestDir(path, r)).nonEmpty)
      val wantManifest = withManifest && copyManifest.isEmpty &&
        manifestEligible(df.schema)
      // same contract for the key-index sidecar: rows are the snapshot's
      // node_key column, independent of file layout, so a content-
      // identical commit byte-copies the source revision's sidecar
      // instead of re-digesting the snapshot (and with both sidecars
      // copied the commit is ONE un-pinned write pass — no cache fill)
      val copyKeys = manifestFromRev.filter(r =>
        withKeyIndex && df.schema.fieldNames.contains("node_key") &&
          MetaIO.exists(s"${keyIndexDir(path)}/rev=$r"))
      copyKeys.foreach(r => MetaIO.copyDir(
        s"${keyIndexDir(path)}/rev=$r", s"${keyIndexDir(path)}/rev=$rev"))
      val wantKeys = withKeyIndex && copyKeys.isEmpty &&
        df.schema.fieldNames.contains("node_key")
      val fromCache = (wantManifest || wantKeys) && planDeterministic(df)
      // respect a caller-owned pin (persist with a different level throws)
      val pinHere = fromCache &&
        df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
      val frame =
        if (pinHere) df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        else df
      // A bucket-clustered file layout (materialize the manifest's bucket
      // id as a physical, locally-sorted column so diff's changed-bucket
      // slice prunes row groups) was measured and REJECTED this round:
      // the local sort costs ~45% on every snapshot write and the
      // hash-ordered rows inflate the files ~9-20% (random bucket ids
      // do not compress; sorting by them shuffles away every other
      // column's natural run-length) — OPTIMIZATION_r17.md has the
      // numbers. Diff keeps its broadcast semi-join slice over the
      // manifests instead (see Diff.prunedDiffFromManifests).
      val stats = if (withStats) Some((statsNdvCols, statsGroupCols)) else None
      val written = try {
        if (fromCache) {
          // digest source is the pinned frame: the revision write and the
          // sidecar digests (manifest, key index, valid-time forks) run as
          // CONCURRENT jobs over the shared cache blocks
          // (spark_optimization_guide §2.6 — the commit's wall clock
          // becomes ~max(write, digests) instead of their sum). Blocks
          // of a frame pinned HERE are not materialized yet: whichever
          // job reaches a block first computes it while the others wait
          // on the block's write lock and then read it, so the upstream
          // plan still runs once.
          writeRevisionSidecars(df.sparkSession, path, rev, src = frame,
            wantManifest = wantManifest, wantKeys = wantKeys, pinSrc = false,
            explicitStats = stats, copiedManifest = copyManifest,
            alongside = () => frame.write.mode("overwrite").parquet(s"$path/rev=$rev"))
        } else {
          // a nondeterministic plan could recompute other rows than it
          // wrote (or no manifest/key digest justifies pinning it): the
          // sidecars digest the just-written revision instead
          frame.write.mode("overwrite").parquet(s"$path/rev=$rev")
          writeRevisionSidecars(df.sparkSession, path, rev,
            src = graft.plans.FooterSchemas.readParquet(df.sparkSession, s"$path/rev=$rev"),
            wantManifest = wantManifest, wantKeys = wantKeys, pinSrc = true,
            explicitStats = stats, copiedManifest = copyManifest)
        }
      } finally if (pinHere) { frame.unpersist(); () }
      logCommit(path, rev, author, message, Some(df.schema), written)
    } catch {
      case e: Throwable => abortReservation(path, rev); throw e
    }
    // outside the protocol's try: the revision is durable, so a policy
    // failure must not trip the abort path
    maybeAutoCompactKeyIndex(df.sparkSession, path)
    RevisionCompaction.maybeAutoCompact(df.sparkSession, path)
    rev
  }

  private[graft] def keyIndexDir(path: String): String = s"$path/_keyindex"

  /** Scan the given revisions' key-index sidecars as ONE relation with
    * `rev` as the partition column — file discovery through
    * [[MetaIO.parallelMap]] (bounded pool, one LIST per sidecar dir) and
    * a [[CommitLogFileIndex]], so planning never launches Spark's
    * distributed listing job, never infers partitions from 1000s of
    * directory names, and probes exactly one footer for the schema. Same
    * rows as `spark.read.option("basePath", ...).parquet(dirs: _*)`. */
  private def keyIndexTailScan(spark: SparkSession, path: String,
                               revs: Seq[Int],
                               revTimesMs: Map[Int, Long]): DataFrame = {
    val kiDir = keyIndexDir(path)
    val revFiles: Seq[(Int, Seq[(String, Long)])] =
      MetaIO.parallelMap(revs) { r =>
        r -> MetaIO.listFiles(s"$kiDir/rev=$r")
          .filter { case (n, _) =>
            !n.startsWith("_") && !n.startsWith(".") && n.endsWith(".parquet") }
          .map { case (n, sz) => (s"rev=$r/$n", sz) }
      }
    val probe = revFiles.collectFirst {
      case (_, files) if files.nonEmpty => files.head._1 }
    probe match {
      case None =>
        // every sidecar empty (no parquet part files) — nothing to scan
        spark.range(0).select(col("id").as("node_key"),
          col("id").cast("int").as("rev"))
      case Some(rel) => CommitLogFileIndex.scan(spark, kiDir, revFiles, revTimesMs,
        CommitLogFileIndex.probeSchema(spark, s"$kiDir/$rel"))
    }
  }

  /** The stored change sets of the commit-log revisions after `from` up
    * to `to`, as ONE relation: [[graft.operators.Diff.diff]]'s rows over
    * `node_key`, each revision's against its commit-log predecessor, plus
    * the revision as the partition column `rev`; with the compared
    * columns, in order, and the number of revisions. None unless every
    * one of them can be trusted: its entry names the predecessor as its
    * base (a concurrent reservation, or [[commitCopyOf]]'s directory
    * copy, can leave a change set against another revision) and carries
    * the predecessor's manifest signature, and every revision of the run
    * has one schema (so the sidecars share theirs). Callers then
    * recompute from snapshots. */
  private[graft] def changeSets(spark: SparkSession, path: String, from: Int,
                                to: Int): Option[(DataFrame, Seq[String], Int)] = {
    // one commit-log pass; fields are parsed for the run's entries only
    val entries = commitEntryJsons(path).map(e => parseField(e, "revision").toInt -> e).toMap
    val log = entries.keys.toSeq.sorted
    val (i, j) = (log.indexOf(from), log.indexOf(to))
    if (i < 0 || j <= i) return None
    val run = log.slice(i, j + 1)
    def field(r: Int, name: String) = parseField(entries(r), name)
    val signature = field(from, "manifestCols")
    val trusted = signature.nonEmpty && run.zip(run.tail).forall { case (p, r) =>
      field(r, "changesBase") == p.toString && field(r, "manifestCols") == signature
    }
    val schemas = if (!trusted) Nil else run.map(r => scala.util.Try(
      org.apache.spark.sql.types.StructType.fromDDL(field(r, "schemaDdl"))).toOption)
    // nullability aside: every sidecar file is written all-nullable
    if (!trusted || schemas.exists(_.isEmpty) ||
        schemas.flatten.map(_.catalogString).distinct.size != 1) return None
    val revFiles = MetaIO.parallelMap(run.tail)(r =>
      r -> partFiles(changesDir(path, r)).map { case (n, size) =>
        (s"rev=$r/_changes/$n", size) })
    if (revFiles.exists(_._2.isEmpty)) return None
    val times = run.map(r => r -> field(r, "commitTsMs").toLong).toMap
    Some((CommitLogFileIndex.scan(spark, path, revFiles, times,
        CommitLogFileIndex.probeSchema(spark, s"$path/${revFiles.head._2.head._1}")),
      schemas.head.get.fieldNames.toSeq.filterNot(_ == "node_key"), revFiles.size))
  }

  /** The change rows from revision `from` to a later `to` out of the
    * stored change sets ([[changeSets]]) — [[graft.operators.Diff.diff]]'s
    * rows over `node_key` and `compare` (default: every column) — or None
    * when they are not all stored and trusted, or lack a `compare`
    * column. An adjacent pair is its one change set; a longer run
    * composes them per key ([[graft.operators.Diff.composeChanges]]). */
  private[graft] def storedChanges(spark: SparkSession, path: String, from: Int, to: Int,
                                   compare: Option[Seq[String]] = None): Option[DataFrame] =
    changeSets(spark, path, from, to).collect {
      case (changes, cols, revs) if compare.forall(_.forall(cols.contains)) =>
        val cmp = compare.getOrElse(cols)
        val rows = changes.select((Seq("node_key", "change_type") ++
          cmp.flatMap(c => Seq(s"old_$c", s"new_$c"))).map(col) :+ col("rev"): _*)
        if (revs == 1) rows.drop("rev")
        else graft.operators.Diff.composeChanges(rows, Seq("node_key"), cmp, "rev")
    }

  private[graft] def keyIndexCompactDir(path: String, upTo: Int): String =
    s"${keyIndexDir(path)}/compact_upto=$upTo"

  /** Newest COMPLETE key-index compaction (aborted writes leave no
    * `_SUCCESS` and are invisible). */
  private[graft] def newestKeyIndexCompaction(path: String): Option[Int] =
    MetaIO.listDirs(keyIndexDir(path))
      .flatMap(n => scala.util.Try(n.stripPrefix("compact_upto=").toInt).toOption)
      .filter(u => MetaIO.exists(s"${keyIndexCompactDir(path, u)}/_SUCCESS"))
      .maxOption

  /** Consolidate the per-revision key-index sidecars into ONE
    * key-range-clustered table — the analog of the reference's index-page
    * consolidation (its RB-tree index pages are rewritten compact on
    * commit; here a thousand per-commit sidecar files become `nFiles`
    * key-sorted files whose row-group min/max prune a lookup to ~one
    * file). [[recordRevisions]] reads the newest compaction plus only the
    * sidecars of LATER revisions, so aged-table lookup cost stops growing
    * with revision depth; sidecars stay in place (the compaction is an
    * accelerator, not the source of truth, and a half-written one is
    * ignored — readers require `_SUCCESS`). Superseded compactions are
    * removed best-effort after the new one commits. Returns the highest
    * revision covered. */
  def compactKeyIndex(spark: SparkSession, path: String, nFiles: Int = 32): Int = {
    val log = commits(path)
    require(log.nonEmpty, s"compactKeyIndex: no commits at $path")
    val indexed = MetaIO.listDirs(keyIndexDir(path))
      .flatMap(n => scala.util.Try(n.stripPrefix("rev=").toInt).toOption).toSet
    val missing = log.filterNot(c => indexed.contains(c.revision))
    require(missing.isEmpty,
      s"compactKeyIndex: sidecars missing for revisions ${missing.map(_.revision).mkString(",")}")
    val upTo = log.map(_.revision).max
    // INCREMENTAL: fold the newest complete compaction (already
    // key-sorted, covers 1..prev) with only the tail revisions' sidecars
    // — recordRevisions' own read shape. Rebuilding from every
    // per-revision sidecar made each auto-compaction trigger O(total
    // revisions) in table age; now each pays prev-compaction + tail.
    val prev = newestKeyIndexCompaction(path).filter(_ < upTo)
    val tailRevs = log.map(_.revision).filter(r => prev.forall(r > _))
    val tail =
      if (tailRevs.isEmpty) None
      else Some(spark.read.option("basePath", keyIndexDir(path))
        .parquet(tailRevs.map(r => s"${keyIndexDir(path)}/rev=$r"): _*)
        .select(col("node_key"), col("rev").cast("int").as("rev")))
    val base = prev.map(u => spark.read.parquet(keyIndexCompactDir(path, u))
      .select(col("node_key"), col("rev").cast("int").as("rev")))
    val all = (base.toSeq ++ tail.toSeq).reduce(_ unionByName _)
    all
      .repartitionByRange(nFiles, col("node_key"))
      .sortWithinPartitions("node_key", "rev")
      .write.mode("overwrite").parquet(keyIndexCompactDir(path, upTo))
    MetaIO.listDirs(keyIndexDir(path))
      .flatMap(n => scala.util.Try(n.stripPrefix("compact_upto=").toInt).toOption)
      .filter(_ != upTo)
      .foreach(u => MetaIO.delete(keyIndexCompactDir(path, u), recursive = true))
    upTo
  }

  private def autoCompactConfigPath(path: String): String =
    s"${keyIndexDir(path)}/_autocompact.json"

  /** Persist a key-index auto-compaction policy ON THE TABLE: once at
    * least `every` commits have accumulated past the newest compaction,
    * the NEXT commit (batch write, V2 append or streaming sink — anything
    * that reaches the commit point) re-runs [[compactKeyIndex]]. The
    * policy travels with the table, so every writer process honors it
    * without registering hooks — aged-table record lookups stay at
    * compacted cost with no manual maintenance, the reference's
    * always-compact index-page behavior as a storage policy. */
  def setKeyIndexAutoCompaction(path: String, every: Int, nFiles: Int = 32): Unit = {
    require(every >= 1, "every must be >= 1")
    MetaIO.mkdirs(keyIndexDir(path))
    MetaIO.delete(autoCompactConfigPath(path))
    MetaIO.createNew(autoCompactConfigPath(path),
      s"""{"every":$every,"nFiles":$nFiles}""")
    ()
  }

  def clearKeyIndexAutoCompaction(path: String): Unit = {
    MetaIO.delete(autoCompactConfigPath(path))
    ()
  }

  /** Post-commit policy check: compact when due. Runs after the commit
    * point, so the revision is durable either way; a table whose sidecars
    * are incomplete (withKeyIndex = false writers) skips silently and the
    * next eligible commit retries, while an IO failure during the
    * compaction itself propagates like any post-commit hook. One metadata
    * existence probe when no policy is set. */
  private[graft] def maybeAutoCompactKeyIndex(spark: SparkSession, path: String): Unit =
    if (MetaIO.exists(autoCompactConfigPath(path))) {
      val json = MetaIO.readString(autoCompactConfigPath(path))
      val every = parseField(json, "every").toInt
      val nFiles = parseField(json, "nFiles").toInt
      val upTo = newestKeyIndexCompaction(path).getOrElse(0)
      val latest = mostRecentRevision(path).getOrElse(0)
      if (latest - upTo >= every) {
        val indexed = MetaIO.listDirs(keyIndexDir(path))
          .flatMap(n => scala.util.Try(n.stripPrefix("rev=").toInt).toOption).toSet
        val complete = commits(path).forall(c => indexed.contains(c.revision))
        if (complete) { compactKeyIndex(spark, path, nFiles); () }
      }
    }

  /** Manifest preconditions on the schema alone: a `node_key` diff key and
    * no type xxhash64 cannot digest (maps). Ineligible tables still
    * commit — [[graft.operators.Diff.prunedDiff]] just recomputes pruning
    * from scratch. */
  private def manifestEligible(schema: org.apache.spark.sql.types.StructType): Boolean = {
    def hashable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => false
      case s: org.apache.spark.sql.types.StructType => s.fields.forall(f => hashable(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hashable(a.elementType)
      case _ => true
    }
    schema.fieldNames.contains("node_key") && schema.fields.forall(f => hashable(f.dataType))
  }

  /** Maintain the per-revision sidecars (manifest + key index) from the
    * JUST-WRITTEN revision directory — the commit path for writers that
    * land data through their own job (the V2/SQL-INSERT append,
    * GraftTable.newWriteBuilder) and therefore cannot digest from a
    * pinned frame. Called BEFORE the commit is logged, so a committed
    * revision always carries its sidecars and the record-lookup /
    * manifest-diff fast paths never silently degrade after a V2 write. */
  private[graft] def writeSidecars(spark: SparkSession, path: String, rev: Int,
                                   schema: org.apache.spark.sql.types.StructType)
      : DiffSidecars =
    writeRevisionSidecars(spark, path, rev,
      src = graft.plans.FooterSchemas.readParquet(spark, s"$path/rev=$rev"),
      wantManifest = manifestEligible(schema),
      wantKeys = schema.fieldNames.contains("node_key"),
      pinSrc = true, explicitStats = None)

  /** The per-revision sidecar block shared by BOTH commit paths (the
    * library [[writeFrame]] and the V2/SQL-INSERT [[writeSidecars]]).
    * ONE definition on purpose — the two paths had already drifted once
    * (the V2 path initially missed the `_vindex` hook).
    *
    *  1. The digests of `src` run as CONCURRENT jobs: the bucket manifest
    *     (into a temp dir, renamed into `rev=N/_manifest` at the end —
    *     an overwrite-mode data write would wipe a subdir written
    *     earlier), the key index, and the valid-time fork index when the
    *     table carries a policy (the reference maintains its RI-tree per
    *     commit via ChangeListener; [[ValidTimeIndex]] scaladoc).
    *     `alongside` runs on the calling thread meanwhile — the data
    *     write, when `src` is the pinned frame being committed. `pinSrc`
    *     pins `src` when more than one digest reads it (a fresh re-read
    *     of the revision; the pinned frame is passed unpinned). With
    *     `copiedManifest` (a content-identical commit) the manifest is a
    *     byte copy of that revision's instead.
    *  2. Beside them, the change set (the reference's CHANGED_NODES
    *     index, written at commit): `src`'s change rows against the
    *     newest committed revision, when that revision's manifest has the
    *     same signature — [[graft.operators.Diff.prunedDiffFromManifests]]
    *     of its stored manifest and the one this commit computes (pinned,
    *     so the manifest job and this one aggregate it once), so only
    *     changed buckets are sliced — renamed into `rev=N/_changes` like
    *     the manifest.
    *  3. Then the stats policy (explicit opt-in or inherited recipe),
    *     computed from the just-written files so the fingerprint
    *     provably covers the stats (StatsSidecar contract).
    *
    * A failure anywhere drains the in-flight digests BOUNDED before
    * rethrowing, and the caller's abort deletes `rev=N`, the key index
    * and `_vindex/rev=N`. `src` is by-name: the no-sidecar fast path must
    * not pay its construction. Returns what the commit entry records
    * about the manifest and change set. */
  private def writeRevisionSidecars(spark: SparkSession, path: String, rev: Int,
      src: => DataFrame, wantManifest: Boolean, wantKeys: Boolean,
      pinSrc: Boolean,
      explicitStats: Option[(Seq[String], Seq[Seq[String]])],
      copiedManifest: Option[Int] = None,
      alongside: () => Unit = () => ()): DiffSidecars = {
    val policy = ValidTimeIndex.policy(path)
    val hasManifest = wantManifest || copiedManifest.isDefined
    val recorded =
      if (hasManifest || wantKeys || policy.isDefined) {
        val s = src
        val fork = policy.filter(ValidTimeIndex.hasAxes(_, s.schema))
        val signature = graft.operators.Diff.manifestSignature(Seq("node_key"),
          manifestCompare(s), ManifestBuckets)
        val base = if (hasManifest) changeSetBase(path, rev, signature) else None
        val pin = pinSrc &&
          Seq(wantManifest, base.isDefined, wantKeys, fork.isDefined).count(identity) > 1
        if (pin) s.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // the change set prunes by the manifest this commit computes: pinned,
        // so the manifest job and the change set aggregate it once
        val manifest = if (wantManifest) Some(graft.operators.Diff.bucketManifest(s,
          Seq("node_key"), manifestCompare(s), ManifestBuckets)) else None
        val pinManifest = manifest.isDefined && base.isDefined
        if (pinManifest) manifest.get.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          import scala.concurrent.{Await, Future}
          import scala.concurrent.duration.Duration
          import scala.concurrent.ExecutionContext.Implicits.global
          val manifestTmp = s"$path/.manifest-tmp-$rev"
          val changesTmp = s"$path/.changes-tmp-$rev"
          // one sidecar file, not one tiny file per shuffle partition: the
          // partial aggregation stays parallel (coalesce only merges the
          // final agg), and every manifest READER — adjacent diff opens
          // two manifests per call, aged histories thousands — pays one
          // file open instead of spark.sql.shuffle.partitions of them
          val fMan = manifest.map(m => Future(
            m.coalesce(1).write.mode("overwrite").parquet(manifestTmp)))
          val fChanges = base.map(b => Future(changeSet(spark, path, b, s,
              manifest.getOrElse(readPartFiles(spark, manifestDir(path, copiedManifest.get))))
            .write.mode("overwrite").parquet(changesTmp)))
          val fKeys =
            if (wantKeys) Some(Future {
              s.select(col("node_key"))
                .write.mode("overwrite").parquet(s"${keyIndexDir(path)}/rev=$rev")
            }) else None
          val fFork = fork.map(p => Future(ValidTimeIndex.writeSidecar(s, path, rev, p)))
          val all = fMan.toSeq ++ fChanges.toSeq ++ fKeys.toSeq ++ fFork.toSeq
          try {
            alongside()
            all.foreach(Await.result(_, Duration.Inf))
            def publish(tmp: String, dst: String): Unit =
              if (!MetaIO.rename(tmp, dst))
                throw new java.io.IOException(s"sidecar rename $tmp -> $dst failed")
            fMan.foreach(_ => publish(manifestTmp, manifestDir(path, rev)))
            copiedManifest.foreach(r => MetaIO.copyDir(manifestDir(path, r), manifestDir(path, rev)))
            fChanges.foreach(_ => publish(changesTmp, changesDir(path, rev)))
          } catch {
            case e: Throwable =>
              // drain the in-flight sidecar jobs BOUNDED before the abort:
              // a hung sidecar (stuck FS/task) must not delay
              // abortReservation and the original error forever, and a
              // fast data-write failure must not wait out full digests
              // (ADVICE r16). A job still running past the bound races the
              // abort's delete only on sidecar paths the abort re-deletes.
              all.foreach(f =>
                scala.util.Try(Await.result(
                  f, scala.concurrent.duration.Duration(60, "s"))))
              MetaIO.delete(manifestTmp, recursive = true)
              MetaIO.delete(changesTmp, recursive = true)
              throw e
          }
        } finally {
          if (pinManifest) manifest.get.unpersist()
          if (pin) s.unpersist()
        }
        DiffSidecars(if (hasManifest) Some(signature) else None, base)
      } else {
        alongside()
        DiffSidecars.none
      }
    explicitStats match {
      case Some((ndv, groups)) =>
        StatsSidecar.write(spark, s"$path/rev=$rev",
          ndvCols = ndv, groupCols = groups)
      case None => inheritedStatsRecipe(path, rev).foreach { case (ndv, groups) =>
        StatsSidecar.write(spark, s"$path/rev=$rev",
          ndvCols = ndv, groupCols = groups)
      }
    }
    recorded
  }

  /** True iff every expression in the plan is deterministic — the
    * condition under which a cached block evicted and recomputed yields
    * the same rows, making the pinned frame a safe digest source for the
    * just-written bytes. Checked on the OPTIMIZED plan, i.e. after cache
    * substitution: a caller-cached subtree (InMemoryRelation) counts as a
    * materialized source even if its own lineage was nondeterministic —
    * its blocks are the caller's stated source of truth, the same
    * assumption the snapshot write itself makes when it scans them. */
  private def planDeterministic(df: DataFrame): Boolean =
    !df.queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists(!_.deterministic)))

  /** The columns a stored manifest digests beside the key, in order. */
  private def manifestCompare(snap: DataFrame): Seq[String] =
    snap.columns.toSeq.filterNot(_ == "node_key")

  /** The change-set base for a commit of `rev` whose manifest has
    * `signature`: the newest committed revision before it (one `_commits`
    * name listing — numbering can have gaps), when its commit entry
    * records the same signature and its manifest has a part file. None
    * otherwise (first revision, a schema change, a base without a
    * recorded manifest): readers then recompute. */
  private def changeSetBase(path: String, rev: Int, signature: String): Option[Int] =
    MetaIO.list(commitsDir(path))
      .flatMap(n =>
        if (n.endsWith(".json")) scala.util.Try(n.stripSuffix(".json").toInt).toOption
        else None)
      .filter(_ < rev).maxOption
      .filter(b => commitDiffSidecars(path).get(b).flatMap(_.manifestCols).contains(signature) &&
        partFiles(manifestDir(path, b)).nonEmpty)

  /** `snap`'s change rows against revision `base` — in
    * [[graft.operators.Diff.diff]]'s shape over `node_key` — pruned by
    * `base`'s stored manifest and `snap`'s, `newManifest`. Adaptive
    * execution sizes the output through the diff's own join shuffle: one
    * file for a small change set, parallel writers for a rewrite of the
    * table. */
  private def changeSet(spark: SparkSession, path: String, base: Int,
                        snap: DataFrame, newManifest: DataFrame): DataFrame =
    graft.operators.Diff.prunedDiffFromManifests(rawSnapshot(spark, path, base), snap,
        readPartFiles(spark, manifestDir(path, base)), newManifest,
        Seq("node_key"),
        manifestCompare(snap), ManifestBuckets)

  /** `jn:load` (reference: bundles/sirix-query/src/main/java/io/sirix/query/
    * function/jn/io/Load.java): ingest JSON document file(s) into a
    * resource — here one shredded DataFrame committed as the next revision.
    * Shredding is `spark.read.json` (distributed, schema-inferring); a
    * stable `node_key` is derived as a deterministic hash of the document's
    * canonical serialization so re-loads and cross-revision operators
    * (diff, history) line up without a driver-side id assignment step. */
  def load(spark: SparkSession, jsonPath: String, tablePath: String,
           author: String = "graft", message: String = "load"): Int = {
    val docs = spark.read.json(jsonPath)
    val keyed =
      if (docs.columns.contains("node_key")) docs
      else docs.withColumn("node_key",
        xxhash64(to_json(struct(docs.columns.map(col): _*))))
    write(keyed, tablePath, author, message)
  }

  /** Resource copy / backup (reference: databases' resource copy — a CTAS
    * per revision): replays every committed revision of `src` into `dst`
    * in order, preserving author/message (commit timestamps are new — the
    * copy is itself a sequence of commits, like the reference's
    * import-into-new-resource path). */
  def copy(spark: SparkSession, src: String, dst: String): Seq[Int] = {
    require(!exists(dst), s"destination already exists: $dst")
    commits(src).map { c =>
      val snap = read(spark, src, Some(c.revision))
        .drop("revision", "commit_ts", "author")
      write(snap, dst, c.author, c.message)
    }
  }

  /** DESCRIBE HISTORY analog — one row per committed revision with its
    * commit metadata, storage kind (`full`/`delta`/`compact`), the
    * EFFECTIVE file layout (count + bytes after any in-place compaction),
    * the live compaction generation, and the recorded schema DDL. Pure
    * commit-log/overlay metadata — zero data-file reads at any table
    * size. Works on both layouts. */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val delta = DeltaTemporalTable.isDeltaLayout(path)
    val kinds: Map[Int, String] =
      if (delta) DeltaTemporalTable.commits(path).map(c => c.revision -> c.kind).toMap
      else Map.empty
    val log = commits(path)
    require(log.nonEmpty, s"no commits at $path")
    val manifests = commitFileManifests(path)
    val ovs = RevisionCompaction.overlays(path)
    val schemas = commitSchemas(path)
    log.map { c =>
      val eff = ovs.get(c.revision).map(_.files)
        .orElse(manifests.get(c.revision))
      (c.revision, c.commitTsMs, c.author, c.message,
        kinds.getOrElse(c.revision, if (delta) "full" else "snapshot"),
        eff.map(_.size), eff.map(_.map(_._2).sum),
        ovs.get(c.revision).map(_.gen),
        schemas.get(c.revision).map(_.toDDL))
    }.toDF("revision", "__ts_ms", "author", "message", "kind",
        "n_files", "bytes", "compaction_gen", "schema_ddl")
      .withColumn("commit_ts", timestamp_millis(col("__ts_ms")))
      .drop("__ts_ms")
      .select("revision", "commit_ts", "author", "message", "kind",
        "n_files", "bytes", "compaction_gen", "schema_ddl")
      .orderBy("revision")
  }

  /** Time-travel read. Default = latest revision; `revision` pins an exact
    * revision (`jn:doc(db,res,rev)`); `asOfTsMs` resolves the revision
    * current at a wall-clock instant (`jn:open`, DocByPointInTime.java:32)
    * via binary-search-equivalent scan of the (tiny) commit log. */
  def read(spark: SparkSession, path: String, revision: Option[Int] = None,
           asOfTsMs: Option[Long] = None): DataFrame = {
    // a delta chain's rev=N dirs hold CHANGE ROWS — reading one raw as a
    // snapshot silently serves a fraction of the table, and merge/revert/
    // copy/diff (all built on this read) would then commit a head missing
    // every unchanged row. Same routing discipline as recordRevisions and
    // compactHead: refuse loudly, point at the delta reader.
    require(!DeltaTemporalTable.isDeltaLayout(path),
      s"$path is a delta-encoded chain — read it with DeltaTemporalTable" +
        ".read / format(\"graft-temporal\") (reconstruction), not the " +
        "snapshot reader")
    val log = commits(path)
    require(log.nonEmpty, s"no commits at $path")
    val rev = revision.orElse(asOfTsMs.map { ts =>
      val eligible = log.filter(_.commitTsMs <= ts)
      require(eligible.nonEmpty, s"no revision at or before ts=$ts")
      eligible.last.revision
    }).getOrElse(log.last.revision)
    val meta = log.find(_.revision == rev)
      .getOrElse(throw new IllegalArgumentException(s"unknown revision $rev"))
    rawSnapshot(spark, path, rev)
      .withColumn("revision", lit(rev))
      .withColumn("commit_ts", timestamp_millis(lit(meta.commitTsMs)))
      .withColumn("author", lit(meta.author))
  }

  /** The revision's data files as stored — write-layout columns included
    * ([[diff]] prunes on them). Resolves through any in-place compaction
    * overlay: a vacuumed revision's rev=N/ directory no longer holds its
    * data files. The overlay case reads its explicit file list (the
    * generation dir's underscore name would otherwise trip DataSource's
    * hidden-path warning on every open). The schema comes from one footer
    * on the driver ([[graft.plans.FooterSchemas.readParquet]]): a
    * revision is immutable, so re-inferring it with a Spark job on every
    * open bought nothing. Callers validate the revision against the
    * commit log first. */
  private def rawSnapshot(spark: SparkSession, path: String, rev: Int): DataFrame =
    RevisionCompaction.overlays(path).get(rev) match {
      case Some(o) =>
        val dir = RevisionCompaction.genDir(path, rev, o.gen)
        graft.plans.FooterSchemas.readParquet(spark,
          o.files.map { case (n, _) => s"$dir/$n" }: _*)
      case None => graft.plans.FooterSchemas.readParquet(spark, s"$path/rev=$rev")
    }

  /** `revertTo(revision)` analog (reference: api/NodeTrx.java:50,
    * api/xml/XmlNodeTrx.java:578): commit a NEW revision whose content is
    * an older revision's snapshot. History stays immutable — revert moves
    * forward, exactly like the reference's writer (revisions after the
    * revert target remain readable; the new head just matches the old
    * content). The snapshot is re-read from storage (deterministic
    * lineage), so the manifest/key-index fold applies and an adjacent
    * diff against the pre-revert head reproduces the inverse edits. */
  def revert(spark: SparkSession, path: String, toRevision: Int,
             author: String = "graft", message: String = ""): Int = {
    val snap = read(spark, path, Some(toRevision))
      .drop("revision", "commit_ts", "author")
    val msg = if (message.nonEmpty) message else s"revert to $toRevision"
    write(snap, path, author, msg)
  }

  /** Commit a new revision whose content is a BYTE COPY of an existing
    * revision — no scan, no parse, no shuffle. This is the cheap arm of
    * the reference's "commit with no pending changes" (its trx reuses
    * the page tree and bumps the revision number:
    * bundles/sirix-core/src/main/java/io/sirix/access/trx/node/
    * AbstractNodeTrxImpl.java commit path); here the data files, the
    * manifest sidecar, and the key-index sidecar are file-copied and the
    * commit-log entry re-records the source's schema. Goes through the
    * full reserve/log protocol, so it is crash-safe like any write. */
  def commitCopyOf(path: String, srcRev: Int, author: String = "graft",
                   message: String = "",
                   onReserve: (Int, String) => Unit = (_, _) => ()): Int = {
    checkReservedMessage(message)
    require(!DeltaTemporalTable.isDeltaLayout(path),
      s"$path is a delta-encoded chain — commitCopyOf needs snapshot dirs")
    require(commits(path).exists(_.revision == srcRev),
      s"commitCopyOf: unknown revision $srcRev at $path")
    val rev = reserveRevision(path)
    try {
      onReserve(rev, writerToken(path, rev).getOrElse(""))
      // resolve through any in-place compaction overlay: a vacuumed
      // source revision's rev=N dir no longer holds its data files
      RevisionCompaction.overlays(path).get(srcRev) match {
        case Some(o) =>
          val dir = RevisionCompaction.genDir(path, srcRev, o.gen)
          MetaIO.mkdirs(s"$path/rev=$rev")
          o.files.foreach { case (n, _) =>
            MetaIO.copyFile(s"$dir/$n", s"$path/rev=$rev/$n") }
        case None =>
          MetaIO.copyDir(s"$path/rev=$srcRev", s"$path/rev=$rev")
          // the source's change set is against the source's predecessor,
          // not this revision's
          MetaIO.delete(changesDir(path, rev), recursive = true)
      }
      if (MetaIO.exists(manifestDir(path, srcRev)))
        MetaIO.copyDir(manifestDir(path, srcRev), manifestDir(path, rev))
      if (MetaIO.exists(s"${keyIndexDir(path)}/rev=$srcRev"))
        MetaIO.copyDir(s"${keyIndexDir(path)}/rev=$srcRev",
          s"${keyIndexDir(path)}/rev=$rev")
      val msg = if (message.nonEmpty) message else s"copy of r$srcRev"
      logCommit(path, rev, author, msg, commitSchemas(path).get(srcRev),
        DiffSidecars(commitDiffSidecars(path).get(srcRev).flatMap(_.manifestCols), None))
    } catch {
      case e: Throwable => abortReservation(path, rev); throw e
    }
    rev
  }

  /** OPTIMIZE-analog: commit a bin-packed, content-identical copy of the
    * head snapshot — the cure for the small-files problem a stream of
    * small commits leaves behind (the reference ingests per-document
    * commits the same way; its pages compact inside the page file, ours
    * compact at the file layout). Deliberately a FORWARD COMMIT through
    * the full protocol rather than an in-place rewrite: every read path
    * (single-revision listing, commit-log-manifest history reads, the V2
    * source, the streaming `rev=*` glob) keeps working untouched, the
    * compaction is crash-safe for free (an aborted attempt never becomes
    * a revision), and history stays immutable — as-of reads before the
    * compaction still serve the original files. Manifest, key-index, and
    * stats sidecars regenerate through the standard write, so diff /
    * record-lookup / stats serving hold across the compaction; an
    * adjacent diff across it is empty by construction.
    *
    * Returns the new revision, or None when the head is already at or
    * under `maxFiles` for the target size (no commit made). File count =
    * ceil(headBytes / targetFileBytes), floor 1. */
  def compactHead(spark: SparkSession, path: String,
                  targetFileBytes: Long = 128L << 20,
                  author: String = "graft"): Option[Int] = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    // a delta layout's rev=N holds CHANGE rows, not a snapshot — reading
    // it as one and committing the result forward would corrupt the
    // table; delta heads compact through their own checkpoint cadence
    require(!DeltaTemporalTable.isDeltaLayout(path),
      s"compactHead targets snapshot layouts; $path is delta-encoded " +
        "(its periodic full checkpoints are the compaction points)")
    val head = mostRecentRevision(path)
      .getOrElse(throw new IllegalArgumentException(s"no commits at $path"))
    val files = MetaIO.listFiles(RevisionCompaction.effectiveDir(path, head))
    val bytes = files.map(_._2).sum
    val want = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    if (files.size <= want) return None
    val snap = read(spark, path, Some(head))
      .drop("revision", "commit_ts", "author")
      // (manifest reused from `head` below: identical content → identical
      // bucket digests — see writeFrame's manifestFromRev)
      // repartition, not coalesce: coalesce would chain the upstream
      // scan's task count into later stages, and uneven input files
      // would pack unevenly; a round-robin exchange yields want
      // near-equal files
      .repartition(want)
    Some(write(snap, path, author, s"compact rev $head to $want files",
      manifestFromRev = Some(head)))
  }

  /** `jn:open-revisions(t1,t2)`: all snapshots committed in the window as
    * one history frame with revision metadata columns. A single scan over
    * the hive-partitioned layout (`rev=N/`) — the revision restriction is a
    * partition-pruning filter, and commit metadata joins in from the (tiny,
    * broadcast) commit log instead of per-revision literals.
    *
    * File discovery comes from the COMMIT LOG when every eligible
    * revision's entry carries its file manifest ([[logCommit]] records
    * them): a [[CommitLogFileIndex]] feeds the parquet relation directly,
    * so an aged table's history read performs ZERO per-revision directory
    * listings — at the reference's 10k-revision posture the listing pass
    * alone dominates the plan. Tables with pre-manifest commits fall back
    * to the listed read, same rows. */
  def readRevisions(spark: SparkSession, path: String,
                    fromTsMs: Long = Long.MinValue,
                    toTsMs: Long = Long.MaxValue): DataFrame = {
    val eligible = commits(path)
      .filter(c => c.commitTsMs >= fromTsMs && c.commitTsMs <= toTsMs)
    require(eligible.nonEmpty, s"no commits in window at $path")
    val meta = spark.createDataFrame(eligible)
      .select(col("revision"), timestamp_millis(col("commitTsMs")).as("commit_ts"),
        col("author"))
    // compaction-aware manifests: a rewritten revision resolves to its
    // live generation's files (paths relative to the table root)
    val manifests = RevisionCompaction.effectiveManifests(path)
    // schema probe target: newest eligible revision that HAS data files
    // (an empty snapshot's directory can't answer a footer read)
    val probeRev = eligible.reverse
      .find(c => manifests.get(c.revision).exists(_.nonEmpty)).map(_.revision)
    val snapshots =
      if (eligible.forall(c => manifests.contains(c.revision)) && probeRev.isDefined) {
        // schema: the union of the revisions' RECORDED schemas when they
        // differ (schema evolution — a column absent from a revision
        // reads as null there); otherwise a footer-only probe of one
        // revision, which also preserves column metadata (dictionary
        // surrogates) the DDL round-trip drops
        val dataSchema = mergedHistorySchema(path, eligible.map(_.revision))
          .getOrElse(spark.read
            .parquet(RevisionCompaction.effectiveDir(path, probeRev.get)).schema)
        val index = new CommitLogFileIndex(path,
          eligible.map(c => c.revision -> manifests(c.revision)),
          eligible.map(c => c.revision -> c.commitTsMs).toMap)
        val relation = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
          index, index.partitionSchema, dataSchema, None,
          new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
          Map("basePath" -> path))(spark)
        spark.baseRelationToDataFrame(relation)
      } else {
        // listing fallback (pre-manifest commits only). It cannot serve an
        // in-place-compacted revision — its files hide under rev=N/_c<gen>/
        // and the originals are vacuumed; compactRevision refuses tables
        // with manifest-less commits up front, so this can only trip on
        // hand-edited logs — fail loud rather than return partial history
        require(!RevisionCompaction.overlays(path).keySet
            .exists(r => eligible.exists(_.revision == r)),
          s"$path mixes in-place-compacted revisions with pre-manifest " +
            "commits — the listing fallback would silently drop compacted " +
            "revisions' rows")
        spark.read.parquet(path)
      }
    snapshots
      .withColumnRenamed("rev", "revision")
      .filter(col("revision").isin(eligible.map(_.revision): _*))
      .join(broadcast(meta), "revision")
  }

  /** All revisions = the full transaction-time history frame. */
  def readAllRevisions(spark: SparkSession, path: String): DataFrame =
    readRevisions(spark, path)

  /** RECORD_TO_REVISIONS lookup (reference: index/IndexType.java:24-27,
    * axis/temporal/RecordRevisionsLookup.java): which revisions contain
    * record `key`.
    *
    * Fast path: when every committed revision has a `_keyindex/rev=N`
    * sidecar (written by [[write]]), the lookup reads ONLY that compact
    * single-column table — parquet min/max on `node_key` prunes most
    * files, and at the reference's aged-DB depth (10k revisions,
    * docs/BENCHMARKS.md:253) this touches kilobytes instead of scanning
    * 10k full snapshots. Falls back to the pushed-filter history scan
    * when the index is absent or incomplete (pre-index commits) or a
    * non-default `keyCol` is asked for — same rows either way
    * (spec-pinned). */
  def recordRevisions(spark: SparkSession, path: String, key: Long,
                      keyCol: String = "node_key"): DataFrame = {
    // a delta chain's rev=N dirs hold CHANGE rows — the snapshot-layout
    // scan below would misread them; route to the bounded delta plan
    if (DeltaTemporalTable.isDeltaLayout(path))
      return DeltaTemporalTable.recordRevisions(spark, path, key, keyCol)
    val log = commits(path)
    val indexed = MetaIO.listDirs(keyIndexDir(path))
      .flatMap(n => scala.util.Try(n.stripPrefix("rev=").toInt).toOption).toSet
    // revisions covered by the newest compaction read from ONE clustered
    // table; only later commits fall back to their per-revision sidecars
    val compactUpTo = newestKeyIndexCompaction(path).getOrElse(Int.MinValue)
    val tail = log.filter(_.revision > compactUpTo)
    if (keyCol == "node_key" && log.nonEmpty &&
        tail.forall(c => indexed.contains(c.revision))) {
      val meta = spark.createDataFrame(log)
        .select(col("revision"), timestamp_millis(col("commitTsMs")).as("commit_ts"))
      val compacted =
        if (compactUpTo == Int.MinValue) None
        else Some(spark.read.parquet(keyIndexCompactDir(path, compactUpTo))
          .filter(col("node_key") === key)
          .select(col("rev").cast("int").as("revision")))
      // explicit committed-revision paths: an orphaned sidecar from an
      // aborted writer can never leak a phantom revision into the answer.
      // The relation is built from a pooled MetaIO listing + an explicit
      // FileIndex, NOT spark.read over the per-revision paths: at
      // thousands of sidecar dirs the DataFrameReader resolution pays a
      // distributed listing JOB plus partition inference plus a schema
      // probe at EVERY plan (~2 s of the 2.5 s lookup at 1000 revisions);
      // this path pays one bounded-parallel listing and one footer read.
      val tailed =
        if (tail.isEmpty) None
        else Some(keyIndexTailScan(spark, path, tail.map(_.revision),
            tail.map(c => c.revision -> c.commitTsMs).toMap)
          .filter(col("node_key") === key)
          .select(col("rev").cast("int").as("revision")))
      // the broadcast meta join also screens out any compacted revision
      // that is no longer in the commit log
      (compacted.toSeq ++ tailed.toSeq).reduce(_ union _)
        .distinct()
        .join(broadcast(meta), "revision")
        .select(col("revision"), col("commit_ts"))
        .orderBy("revision")
    } else {
      readAllRevisions(spark, path)
        .filter(col(keyCol) === key)
        .select(col("revision"), col("commit_ts"))
        .orderBy("revision")
    }
  }

  /** MERGE-style bulk update (SURVEY.md §2.14): the JSONiq update surface
    * (insert/replace/delete json — JsonNodeTrx.java:62-228 in the
    * reference) re-expressed as one declarative transform: the next
    * revision = prior snapshot minus deleted keys, minus replaced keys,
    * plus upserts. Two left-anti joins + a union, all partitioned on the
    * key — no driver-side row handling, so a 100 TB snapshot merges with
    * ordinary join scale-out.
    *
    * @return the new revision number
    */
  def merge(spark: SparkSession, path: String, upserts: DataFrame,
            deleteKeys: Option[DataFrame] = None,
            keys: Seq[String] = Seq("node_key"),
            author: String = "graft", message: String = "merge"): Int = {
    val prior = read(spark, path).drop("revision", "commit_ts", "author")
    val afterDelete = deleteKeys match {
      case Some(dk) => prior.join(dk.select(keys.map(col): _*), keys, "left_anti")
      case None => prior
    }
    val kept = afterDelete.join(upserts.select(keys.map(col): _*), keys, "left_anti")
    write(kept.unionByName(upserts), path, author, message)
  }

  /** Semantic diff of two revisions (`jn:diff`, SURVEY.md §2.9) — hash-
    * pruned by default. Served from what the commits stored, cheapest
    * first:
    *
    *  1. the `rev=N/_changes` change sets (the reference's CHANGED_NODES
    *     index): an adjacent pair is ONE sidecar read, a later pair the
    *     per-key composition of the sidecars between
    *     ([[graft.operators.Diff.composeChanges]]) — no snapshot is
    *     scanned. Needs the default `node_key` key and a trusted sidecar
    *     for every revision after `rev1` up to `rev2` ([[changeSets]]);
    *  2. the `_manifest` bucket digests of both revisions, when their
    *     commit entries record the signature of the requested key/compare
    *     columns (entries written before signatures were recorded are
    *     checked against the manifest's own `cols`): each snapshot is
    *     scanned once, for its changed slice only (the reference's
    *     DiffOptimized.HASHED);
    *  3. digests recomputed from both snapshots.
    *
    * All three return [[graft.operators.Diff.diff]]'s rows. */
  def diff(spark: SparkSession, path: String, rev1: Int, rev2: Int,
           keys: Seq[String] = Seq("node_key"),
           hashPruned: Boolean = true): DataFrame = {
    require(!DeltaTemporalTable.isDeltaLayout(path),
      s"$path is a delta-encoded chain — diff revisions via " +
        "DeltaTemporalTable reads, not the snapshot differ")
    val log = commits(path)
    Seq(rev1, rev2).foreach(r => require(log.exists(_.revision == r),
      s"unknown revision $r at $path"))
    (if (hashPruned && keys == Seq("node_key") && rev1 < rev2)
      storedChanges(spark, path, rev1, rev2) else None)
      .getOrElse(recomputedDiff(spark, path, rev1, rev2, keys, hashPruned))
  }

  /** [[diff]] from the snapshots, pruned by stored or recomputed bucket
    * manifests. RAW frames: diff never needs the revision/commit_ts/author
    * decoration the public read attaches. */
  private def recomputedDiff(spark: SparkSession, path: String, rev1: Int, rev2: Int,
                             keys: Seq[String], hashPruned: Boolean): DataFrame = {
    val a = rawSnapshot(spark, path, rev1)
    val b = rawSnapshot(spark, path, rev2)
    if (!hashPruned) return graft.operators.Diff.diff(a, b, keys)
    val cmp = a.columns.toSeq.intersect(b.columns.toSeq).filterNot(keys.contains)
    val expected = graft.operators.Diff.manifestSignature(keys, cmp, ManifestBuckets)
    val recorded = commitDiffSidecars(path)
    def storedManifest(rev: Int): Option[DataFrame] = {
      val dir = manifestDir(path, rev)
      if (partFiles(dir).isEmpty) None
      else {
        val m = readPartFiles(spark, dir)
        recorded.get(rev).flatMap(_.manifestCols) match {
          case Some(cols) => if (cols == expected) Some(m) else None
          case None =>
            // an entry from before signatures were recorded: check the
            // manifest's own `cols`. An empty manifest (empty snapshot)
            // has no row to check — it prunes correctly regardless
            m.select("cols").limit(1).collect().headOption match {
              case Some(r) if r.getString(0) == expected => Some(m)
              case None => Some(m)
              case _ => None
            }
        }
      }
    }
    (storedManifest(rev1), storedManifest(rev2)) match {
      case (Some(ml), Some(mr)) =>
        graft.operators.Diff.prunedDiffFromManifests(a, b, ml, mr, keys, cmp)
      case _ => graft.operators.Diff.prunedDiff(a, b, keys, cmp)
    }
  }
}
