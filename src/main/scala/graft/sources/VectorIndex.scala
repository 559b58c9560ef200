package graft.sources

import graft.operators.{IvfIndex, NswGraph, Pq}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental vector-index maintenance over a temporal table — the
  * analog of the reference's per-commit HNSW maintenance
  * (bundles/sirix-core/src/main/java/io/sirix/index/vector/
  * VectorIndexListener.java:56, wired like its projection listener),
  * mirroring [[ProjectionIndex]]'s catalog + maintain shape:
  *
  * {{{
  * table/_vectoridx/<name>.json     // {"name","idCol","vecCol","nLists","m"}
  * table/_vecidx/<name>/            // IvfIndex.writeClustered layout
  *                                  //   (+ nsw_neighbors column when m > 0)
  * table/_vecidx/<name>/_ivf/indexed_upto.txt   // maintenance watermark
  * }}}
  *
  * CREATE fits the coarse quantizer over the current latest revision and
  * persists the cell-clustered layout (with the per-cell NSW adjacency
  * when `m` > 0). MAINTAIN (the commit-hook body) brings the index to the
  * newest committed revision WITHOUT a rebuild:
  *
  *  1. the new revision's NEW and RE-EMBEDDED rows — the increment,
  *     pinned so it is computed once: the composed change sets of the
  *     revisions since the watermark ([[TemporalTable.changeSets]],
  *     [[graft.operators.Diff.composeChanges]]) when they are stored
  *     and keyed on the index's id, else one left join on the id of the
  *     newest snapshot against the last indexed one — minus the (id,
  *     vector) pairs the layout already stores are assigned to the
  *     STORED model's cells by [[IvfIndex.assignCells]] (same argmin as
  *     the original fit, pure codegen, no refit);
  *  2. plain IVF (`m` = 0): the assigned rows APPEND into their cell
  *     partitions — untouched cells' files are not rewritten;
  *  3. NSW (`m` > 0): one aggregate over the assigned rows yields the
  *     AFFECTED cells (those receiving new vectors) and the indexed
  *     count; only those cells re-derive their in-cell adjacency —
  *     existing members gain edges to the new vectors and vice versa —
  *     and dynamic partition overwrite rewrites exactly those `ivf_cell=`
  *     directories; every other cell's files stay byte-identical
  *     (spec-pinned).
  *
  * Search stays [[IvfIndex.searchClustered]] / [[NswGraph.searchGraph]]
  * over the index path — they see maintained vectors with no API change.
  *
  * Append-only contract (documented, like the reference's lazy deletes —
  * its vector index tombstones in place, index/vector/VectorIndex.java):
  * rows REMOVED in later revisions are not purged from the layout, and a
  * RE-EMBEDDED row's old vector stays alongside the new one (maintain
  * indexes changed embeddings as appends, so the new vector IS
  * searchable) — the raw layout serves the union of everything ever
  * indexed and may hold several vectors per id. [[search]] with
  * `exact = true` restores exact current-snapshot semantics at query
  * time: candidate ids from the approximate probe are semi-joined
  * against the governing snapshot (ghosts of deleted rows drop) and
  * similarity is recomputed from the snapshot's CURRENT embedding (stale
  * copies can't mis-rank; duplicates collapse in the semi-join). The
  * centroids are fixed at create time; heavy drift degrades recall, not
  * correctness (assignment and probe use the same centroids). [[purge]]
  * compacts ghosts out of the raw layout in place (affected cells only,
  * centroids kept); [[rebuild]] refits + purges.
  */
object VectorIndex {

  /** `m` > 0 → per-cell graph adjacency (flat NSW, or the hierarchical
    * HNSW tier when `hnswMl` > 0 — [[graft.operators.HnswGraph]]'s
    * layered layout with level ratio `hnswMl`); `pqM` > 0 → PQ codes
    * ride in the layout (the byte-budget tier: ADC ranking reads codes
    * only, exact re-rank reads `refine·k` vectors). Graph and PQ tiers
    * are exclusive. */
  final case class Spec(name: String, idCol: String, vecCol: String,
                        nLists: Int, m: Int, pqM: Int = 0, pqK: Int = 256,
                        hnswMl: Int = 0)

  private def catalogDir(tablePath: String) = s"$tablePath/_vectoridx"
  private def dataDir(tablePath: String, name: String) = s"$tablePath/_vecidx/$name"
  private def watermarkDir(tablePath: String, name: String) =
    s"${dataDir(tablePath, name)}/_ivf"

  def list(tablePath: String): Seq[Spec] =
    MetaIO.list(catalogDir(tablePath)).filter(_.endsWith(".json")).map { f =>
      val s = MetaIO.readString(s"${catalogDir(tablePath)}/$f")
      // pqM/pqK absent from pre-PQ catalogs → 0 / 256
      def intOr(field: String, dflt: Int): Int = {
        val v = TemporalTable.parseField(s, field)
        if (v.isEmpty) dflt else v.toInt
      }
      Spec(TemporalTable.parseField(s, "name"),
        TemporalTable.parseField(s, "idCol"),
        TemporalTable.parseField(s, "vecCol"),
        TemporalTable.parseField(s, "nLists").toInt,
        TemporalTable.parseField(s, "m").toInt,
        intOr("pqM", 0), intOr("pqK", 256), intOr("hnswMl", 0))
    }.sortBy(_.name)

  /** The highest revision the index covers. Watermarks are append-only
    * `upto_<N>` marker files (max wins) — advancing creates the new
    * marker BEFORE best-effort-deleting older ones, so a crash between
    * the two steps can never lose the watermark. */
  def indexedUpTo(tablePath: String, name: String): Int =
    MetaIO.list(watermarkDir(tablePath, name))
      .flatMap(n => scala.util.Try(n.stripPrefix("upto_").toInt).toOption)
      .maxOption
      .getOrElse(throw new IllegalStateException(
        s"vector index $name at $tablePath has no watermark — rebuild it"))

  private def writeWatermark(tablePath: String, name: String, rev: Int): Unit = {
    val dir = watermarkDir(tablePath, name)
    MetaIO.mkdirs(dir)
    scala.util.Try(MetaIO.createNew(s"$dir/upto_$rev", rev.toString))
    // prune older markers ONLY once the new one verifiably exists: a
    // swallowed transient createNew failure followed by the deletes
    // would leave ZERO markers — indexedUpTo then throws forever and
    // maintenance is bricked until a rebuild
    if (MetaIO.exists(s"$dir/upto_$rev"))
      MetaIO.list(dir)
        .flatMap(n => scala.util.Try(n.stripPrefix("upto_").toInt).toOption)
        .filter(_ < rev)
        .foreach(r => MetaIO.delete(s"$dir/upto_$r"))
  }

  /** The normalized (id, vec) projection of one revision's snapshot — the
    * layout schema is pinned at create time so later appends line up:
    * id cast long, vector cast array<double>. */
  private def snapshotVectors(spark: SparkSession, tablePath: String, rev: Int,
                              spec: Spec): DataFrame =
    TemporalTable.read(spark, tablePath, Some(rev))
      .select(col(spec.idCol).cast("long").as(spec.idCol),
        expr(s"transform(${spec.vecCol}, x -> CAST(x AS DOUBLE))").as(spec.vecCol))

  /** The spec's graph build: flat NSW, or the layered HNSW adjacency. */
  private def graphOf(assigned: DataFrame, spec: Spec): DataFrame =
    if (spec.hnswMl > 0)
      graft.operators.HnswGraph.buildGraph(assigned, spec.idCol, spec.vecCol,
        spec.m, spec.hnswMl)
    else NswGraph.buildGraph(assigned, spec.idCol, spec.vecCol, spec.m)

  /** Declare + build the index over the table's current latest revision.
    * `m` = 0 → plain IVF layout; `m` > 0 → per-cell graph adjacency rides
    * along (NSW, or HNSW when `hnswMl` > 0). */
  def create(spark: SparkSession, tablePath: String, name: String,
             idCol: String, vecCol: String, nLists: Int, m: Int = 0,
             seed: Long = 42L, fitFraction: Double = 1.0,
             pqM: Int = 0, pqK: Int = 256, hnswMl: Int = 0): Unit = {
    require(name.matches("[A-Za-z0-9_.-]+") && name != "." && name != "..",
      s"vector index name must be a plain identifier (path segment), got '$name'")
    require(m == 0 || pqM == 0,
      "graph adjacency (m) and PQ codes (pqM) are alternative tiers — pick one")
    require(hnswMl == 0 || m > 0,
      "hnswMl needs the graph tier (m > 0)")
    val latest = TemporalTable.mostRecentRevision(tablePath)
      .getOrElse(throw new IllegalArgumentException(s"no commits at $tablePath"))
    val spec = Spec(name, idCol, vecCol, nLists, m, pqM, pqK, hnswMl)
    // CLAIM THE NAME FIRST (create-new fails on a duplicate): building
    // the layout before the check destroyed the existing index's data
    // under mode(overwrite) and left the surviving catalog entry
    // describing a layout that no longer exists
    MetaIO.mkdirs(catalogDir(tablePath))
    import TemporalTable.escapeJson
    MetaIO.createNew(s"${catalogDir(tablePath)}/$name.json",
      s"""{"name":"${escapeJson(name)}","idCol":"${escapeJson(idCol)}",""" +
        s""""vecCol":"${escapeJson(vecCol)}","nLists":$nLists,"m":$m,""" +
        s""""pqM":$pqM,"pqK":$pqK,"hnswMl":$hnswMl}""")
    try {
      val base = snapshotVectors(spark, tablePath, latest, spec)
      val (model, assigned) = IvfIndex.fit(base, vecCol, nLists, seed, fitFraction)
      if (m > 0)
        IvfIndex.writeClustered(graphOf(assigned, spec), model,
          dataDir(tablePath, name))
      else if (pqM > 0) {
        val pq = Pq.fit(base, vecCol, dimOf(base, vecCol), pqM, pqK,
          seed, fitFraction)
        Pq.writeClusteredPq(assigned, model, pq, vecCol, dataDir(tablePath, name))
      } else IvfIndex.writeClustered(assigned, model, dataDir(tablePath, name))
      writeWatermark(tablePath, name, latest)
    } catch { case e: Throwable =>
      // a failed build must not leave a catalog entry with no layout
      MetaIO.delete(s"${catalogDir(tablePath)}/$name.json")
      MetaIO.delete(dataDir(tablePath, name), recursive = true)
      throw e
    }
  }

  /** Vector dimensionality from the snapshot's first non-null vector —
    * one tiny job; [[Pq.fit]] re-checks per row (wrong-length vectors are
    * excluded from the fit and encode to null codes). */
  private def dimOf(base: DataFrame, vecCol: String): Int = {
    val r = base.select(size(col(vecCol)).as("__d")).na.drop().limit(1).collect()
    require(r.nonEmpty, s"no vectors in $vecCol to size the PQ sub-spaces")
    r.head.getInt(0)
  }

  /** Bring one index up to the newest committed revision incrementally
    * (see object scaladoc). Returns the number of newly indexed vectors
    * (0 when already current). */
  def maintain(spark: SparkSession, tablePath: String, name: String): Long =
    maintainFrom(spark, tablePath, name, changeSets = true)

  /** [[maintain]], with the increment from the snapshots alone when
    * `changeSets` is false (the differential specs' reference). */
  private[sources] def maintainFrom(spark: SparkSession, tablePath: String, name: String,
                                    changeSets: Boolean): Long = {
    val spec = list(tablePath).find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"unknown vector index $name"))
    val latest = TemporalTable.mostRecentRevision(tablePath)
      .getOrElse(throw new IllegalArgumentException(s"no commits at $tablePath"))
    val upTo = indexedUpTo(tablePath, name)
    if (latest <= upTo) return 0L
    val path = dataDir(tablePath, name)
    val model = IvfIndex.readModel(path)
    // Pinned: the increment feeds both the guard's id set and the
    // anti-join below, and is computed once instead of once per use.
    val changed = increment(spark, tablePath, spec, upTo, latest, changeSets).persist()
    val count =
      try {
        // a row that re-embeds BACK to a vector already in the layout
        // (A→B→A across maintains: rev-over-rev diff sees B→A as changed,
        // but the A copy from the first index pass is still stored) must
        // not append a byte-identical duplicate — raw search would return
        // the id twice. The guard anti-joins the increment against the
        // layout's (id, vec) pairs for exactly the increment's ids
        // (semi-join first so only the touched ids' index rows join, not
        // the whole layout).
        val incrementIds = broadcast(changed.select(spec.idCol))
        val alreadyStored = graft.plans.FooterSchemas.readParquet(spark, path)
          .select(col(spec.idCol), col(spec.vecCol))
          .join(incrementIds, Seq(spec.idCol), "left_semi")
        val newRows = changed.join(alreadyStored,
          Seq(spec.idCol, spec.vecCol), "left_anti")
        val assigned = IvfIndex.assignCells(newRows, model, spec.vecCol)
          .withColumn("ivf_cell", col("ivf_cell").cast("int"))
        if (spec.m > 0) patchGraphCells(spark, path, assigned, spec)
        else {
          // plain IVF / IVF-PQ: append into the cell partitions — no
          // existing file is rewritten, untouched cells aren't even
          // listed. PQ rows encode with the STORED codebooks (no refit —
          // same fixed-quantizer discipline as the centroids; drift
          // degrades recall, not correctness, until rebuild)
          val rows =
            if (spec.pqM > 0) Pq.encode(assigned, spec.vecCol, Pq.readModel(path))
            else assigned
          val pinned = rows.persist()
          try {
            val n = pinned.count()
            if (n > 0) pinned.write.mode("append").partitionBy("ivf_cell").parquet(path)
            n
          } finally { pinned.unpersist(); () }
        }
      } finally { changed.unpersist(); () }
    writeWatermark(tablePath, name, latest)
    count
  }

  /** The rows revision `latest` adds to an index current at `upTo`: NEW
    * ids plus RE-EMBEDDED ids (same id, changed vector; array<double>
    * compares element-wise), with a non-null vector — `(id, vec)`
    * normalized like [[snapshotVectors]]. A re-embedded row appends its
    * new vector next to the stale one: search(exact = true) recomputes
    * from the snapshot, and rebuild purges. */
  private[sources] def increment(spark: SparkSession, tablePath: String, spec: Spec,
                                 upTo: Int, latest: Int,
                                 changeSets: Boolean = true): DataFrame = {
    val prevVec = "__prev_vec"
    val pairs = (if (changeSets) storedIncrement(spark, tablePath, spec, upTo, latest) else None)
      .getOrElse(snapshotVectors(spark, tablePath, latest, spec)
        .join(snapshotVectors(spark, tablePath, upTo, spec)
          .select(col(spec.idCol), col(spec.vecCol).as(prevVec)),
          Seq(spec.idCol), "left_outer"))
    pairs
      .filter(col(spec.vecCol).isNotNull &&
        (col(prevVec).isNull || col(prevVec) =!= col(spec.vecCol)))
      .drop(prevVec)
  }

  /** [[increment]]'s (id, vec, previous vec) candidates from the stored
    * change rows between `upTo` and `latest` over the vector column
    * (deleted keys drop out). None when the index is not keyed on
    * `node_key` or a revision lacks a trusted change set. */
  private def storedIncrement(spark: SparkSession, tablePath: String, spec: Spec,
                              upTo: Int, latest: Int): Option[DataFrame] =
    (if (spec.idCol == "node_key")
      TemporalTable.storedChanges(spark, tablePath, upTo, latest, Some(Seq(spec.vecCol)))
     else None).map { changes =>
      def vec(c: String) = expr(s"transform(`$c`, x -> CAST(x AS DOUBLE))")
      changes.filter(col("change_type") =!= "delete")
        .select(col("node_key").cast("long").as(spec.idCol),
          vec(s"new_${spec.vecCol}").as(spec.vecCol),
          vec(s"old_${spec.vecCol}").as("__prev_vec"))
    }

  /** NSW maintenance: re-derive the in-cell adjacency for exactly the
    * cells that received new vectors (existing members must gain edges TO
    * the new vectors — appending adjacency-less rows would leave them
    * unreachable), then dynamic-partition-overwrite rewrites only those
    * `ivf_cell=` directories. */
  private def patchGraphCells(spark: SparkSession, path: String,
                              assigned: DataFrame, spec: Spec): Long = {
    val pinned = assigned.persist()
    try {
      // the affected cells and the indexed count from ONE aggregate job
      val perCell = pinned.groupBy("ivf_cell").count().collect()
      if (perCell.isEmpty) return 0L
      val affected = perCell.map(_.getInt(0)).sorted
      val n = perCell.map(_.getLong(1)).sum
      val existing = graft.plans.FooterSchemas.readParquet(spark, path)
        .filter(col("ivf_cell").isin(affected.toSeq: _*))
        .select(col(spec.idCol), col(spec.vecCol), col("ivf_cell").cast("int"))
      val merged = existing.unionByName(pinned)
      val patched = graphOf(merged, spec)
      // rewrite ONLY the affected cell directories; reading and writing
      // the same path needs the read fully materialized WITH ITS LINEAGE
      // CUT first (a lazily recomputed block would re-scan files the
      // overwrite is replacing) — localCheckpoint truncates the plan to
      // the materialized blocks
      patched.localCheckpoint(true).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ivf_cell").parquet(path)
      n
    } finally { pinned.unpersist(); () }
  }

  /** Top-k search over a maintained index. `exact = false` searches the
    * raw layout ([[IvfIndex.searchClustered]] / [[NswGraph.searchGraph]]
    * — may surface ghosts of deleted rows and stale embeddings, per the
    * append-only contract). `exact = true` closes that gap at query time:
    *
    *  1. the approximate probe OVERFETCHES `overfetch × k` candidate ids
    *     from the layout (ghosts consume candidate slots; the slack keeps
    *     k live results available);
    *  2. the governing snapshot (the table's latest revision) is
    *     semi-joined on the id — deleted rows drop, duplicate copies of a
    *     re-embedded id collapse;
    *  3. similarity is recomputed against the snapshot's CURRENT
    *     embedding, so a stale stored vector can never mis-rank a hit.
    *
    * The extra cost is one candidate-bounded probe of the snapshot: the
    * ≤ overfetch·k candidate ids (driver-sized by construction) become an
    * IN predicate on the snapshot scan, so parquet footer min/max prunes
    * the read to the row groups that can hold them — never a full
    * snapshot scan. Recall caveat shared
    * with every IVF search: a re-embedded vector that drifted into a
    * cell the query doesn't probe is missed until [[rebuild]] refits —
    * exactness here means "no ghosts, current embeddings", not exhaustive
    * scan. */
  def search(spark: SparkSession, tablePath: String, name: String,
             query: Array[Double], k: Int, nProbe: Int,
             exact: Boolean = false, overfetch: Int = 4): DataFrame = {
    val spec = list(tablePath).find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"unknown vector index $name"))
    val path = dataDir(tablePath, name)
    def approx(kk: Int): DataFrame =
      // the beam must be at least as wide as the ask: the default ef=32
      // would silently truncate an exact-search overfetch (k·overfetch
      // candidates) — or a large plain k — to 32 hits per cell
      if (spec.m > 0 && spec.hnswMl > 0)
        graft.operators.HnswGraph.searchGraph(spark, path, spec.idCol,
          spec.vecCol, query, kk, nProbe, ef = math.max(32, kk))
      else if (spec.m > 0)
        NswGraph.searchGraph(spark, path, spec.idCol, spec.vecCol, query, kk,
          nProbe, ef = math.max(32, kk))
      else if (spec.pqM > 0)
        Pq.searchClusteredPq(spark, path, spec.idCol, spec.vecCol, query, kk, nProbe)
      else
        IvfIndex.searchClustered(spark, path, spec.idCol, spec.vecCol, query, kk, nProbe)
    if (!exact) approx(k)
    else {
      val latest = TemporalTable.mostRecentRevision(tablePath)
        .getOrElse(throw new IllegalStateException(s"no commits at $tablePath"))
      // bounded collect (≤ overfetch·k longs) → pushed-down IN filter
      val candIds = approx(math.max(k, k * overfetch))
        .select(col(spec.idCol).cast("long")).distinct()
        .collect().map(_.getLong(0)).toSeq
      if (candIds.isEmpty) return approx(k).limit(0)
      val qLit = array(query.map(lit): _*)
      snapshotVectors(spark, tablePath, latest, spec)
        .filter(col(spec.idCol).isin(candIds: _*))
        .withColumn("sim", round(graft.operators.Similarity.cosine(col(spec.vecCol), qLit), 4))
        .select(col(spec.idCol), col("sim"))
        .orderBy(desc("sim"), col(spec.idCol))
        .limit(k)
    }
  }

  /** Maintain every declared index — the commit-hook body, mirroring
    * [[ProjectionIndex.maintainAll]]:
    * `TemporalTable.addCommitHook((p, _) => VectorIndex.maintainAll(spark, p))`. */
  def maintainAll(spark: SparkSession, tablePath: String): Unit =
    list(tablePath).foreach(s => maintain(spark, tablePath, s.name))

  /** Physically remove ghosts — stored rows whose (id, vector) no longer
    * exists in the governing snapshot: deleted ids, and the stale copies
    * of re-embedded ids. The tombstone-compaction analog of the
    * reference's in-place vector deletes
    * (bundles/sirix-core/src/main/java/io/sirix/index/vector/
    * VectorIndex.java), closing the append-only contract's gap for
    * callers that want the RAW layout exact again (search(exact = true)
    * already gives ghost-free answers without it).
    *
    * Unlike [[rebuild]], the quantizer is untouched — centroids and cell
    * routing stay as created. The index is first brought up to the latest
    * revision ([[maintain]] — so a re-embedded id's current vector is in
    * the layout before its stale copy drops), then ONLY the cells that
    * actually contain ghosts are rewritten (dynamic partition overwrite;
    * clean cells' files stay byte-identical — same discipline as
    * maintenance). NSW cells re-derive their in-cell adjacency over the
    * survivors; cells left empty have their directories removed. Returns
    * the number of rows purged. */
  def purge(spark: SparkSession, tablePath: String, name: String): Long = {
    val spec = list(tablePath).find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"unknown vector index $name"))
    maintain(spark, tablePath, name)
    val latest = TemporalTable.mostRecentRevision(tablePath)
      .getOrElse(throw new IllegalArgumentException(s"no commits at $tablePath"))
    val path = dataDir(tablePath, name)
    val live = snapshotVectors(spark, tablePath, latest, spec)
      .select(col(spec.idCol), col(spec.vecCol).as("__live_vec"))
    // beyond stale-vector ghosts, byte-identical DUPLICATE copies of one
    // id (legacy layouts written before maintain's already-stored guard:
    // A→B→A re-embeds appended a second A) are ghosts past the first —
    // they all match the live vector, so the stale test alone keeps every
    // copy and raw search returns the id twice
    val dupRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col(spec.idCol), col(spec.vecCol)).orderBy(col("ivf_cell"))
    val flagged = spark.read.parquet(path)
      .join(live, Seq(spec.idCol), "left_outer")
      .withColumn("__ghost",
        col("__live_vec").isNull || col("__live_vec") =!= col(spec.vecCol) ||
          row_number().over(dupRank) > 1)
      .drop("__live_vec")
    val pinned = flagged.persist()
    try {
      val ghosts = pinned.filter(col("__ghost"))
      val affected = ghosts.select("ivf_cell").distinct()
        .collect().map(_.getInt(0)).sorted
      if (affected.isEmpty) return 0L
      val nPurged = ghosts.count()
      val survivors = pinned
        .filter(!col("__ghost") && col("ivf_cell").isin(affected.toSeq: _*))
        .select(col(spec.idCol), col(spec.vecCol), col("ivf_cell").cast("int"))
      val out =
        if (spec.m > 0) graphOf(survivors, spec)
        // PQ codes re-derive from the stored codebooks (pure function of
        // the surviving vectors — reading them through `flagged` and
        // re-encoding beats trusting possibly-hand-edited code columns)
        else if (spec.pqM > 0) Pq.encode(survivors, spec.vecCol, Pq.readModel(path))
        else survivors
      // read + overwrite of the same path: cut lineage first (see
      // patchGraphCells) so a recomputed block can't re-scan replaced files
      val checkpointed = out.localCheckpoint(true)
      // dynamic overwrite only touches partitions PRESENT in the output —
      // a cell whose every row was a ghost writes nothing, so its
      // directory is removed explicitly afterwards
      val survivorCells = checkpointed.select("ivf_cell").distinct()
        .collect().map(_.getInt(0)).toSet
      checkpointed.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ivf_cell").parquet(path)
      affected.filterNot(survivorCells)
        .foreach(c => MetaIO.delete(s"$path/ivf_cell=$c", recursive = true))
      nPurged
    } finally { pinned.unpersist(); () }
  }

  /** Full refit + rewrite (the compaction for drifted centroids or
    * accumulated removed/re-embedded rows — see the append-only contract
    * in the object scaladoc). */
  def rebuild(spark: SparkSession, tablePath: String, name: String,
              seed: Long = 42L, fitFraction: Double = 1.0): Unit = {
    val spec = list(tablePath).find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"unknown vector index $name"))
    val latest = TemporalTable.mostRecentRevision(tablePath)
      .getOrElse(throw new IllegalArgumentException(s"no commits at $tablePath"))
    val base = snapshotVectors(spark, tablePath, latest, spec)
    val (model, assigned) = IvfIndex.fit(base, spec.vecCol, spec.nLists, seed, fitFraction)
    val path = dataDir(tablePath, name)
    MetaIO.delete(path, recursive = true)
    if (spec.m > 0)
      IvfIndex.writeClustered(graphOf(assigned, spec), model, path)
    else if (spec.pqM > 0) {
      val pq = Pq.fit(base, spec.vecCol, dimOf(base, spec.vecCol),
        spec.pqM, spec.pqK, seed, fitFraction)
      Pq.writeClusteredPq(assigned, model, pq, spec.vecCol, path)
    } else IvfIndex.writeClustered(assigned, model, path)
    writeWatermark(tablePath, name, latest)
  }
}
