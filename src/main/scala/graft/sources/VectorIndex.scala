package graft.sources

import graft.operators.{HnswGraph, IvfIndex, Pq}
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
  *                                  //   (+ HnswGraph adjacency when m > 0)
  * table/_vecidx/<name>/_ivf/indexed_upto.txt   // maintenance watermark
  * }}}
  *
  * CREATE fits the coarse quantizer over the current latest revision and
  * persists the cell-clustered layout (with the per-cell graph adjacency
  * when `m` > 0). MAINTAIN (the commit-hook body) brings the index to the
  * newest committed revision WITHOUT a rebuild, in one planned pass that
  * reads and rewrites only the cells the increment reaches, for every
  * tier:
  *
  *  1. the increment — the newest revision's NEW and RE-EMBEDDED rows
  *     with a non-null vector: the composed change sets of the revisions
  *     since the watermark ([[TemporalTable.changeSets]],
  *     [[graft.operators.Diff.composeChanges]]) when they are stored and
  *     keyed on the index's id, else one left join on the id of the
  *     newest snapshot against the last indexed one — is assigned to the
  *     STORED model's cells by [[IvfIndex.assignCells]] (same argmin as
  *     the original fit, pure codegen, no refit) and pinned;
  *  2. one bounded aggregate over it yields the AFFECTED cells (at most
  *     `nLists`);
  *  3. only those cells' files are opened, and each affected cell is one
  *     task holding its candidates and its stored rows: all of them on
  *     the graph tiers, which rebuild the cell, and only those with a
  *     candidate's id on plain IVF and IVF-PQ. A candidate whose
  *     (id, vector) the cell already stores is dropped — the guard an
  *     A→B→A re-embed needs, since the revision diff sees B→A as a change
  *     while A is still stored. Checking the one cell is enough:
  *     assignment is a deterministic argmin with a first-minimal
  *     tie-break under the fixed stored model, so a stored (id, vector)
  *     always sits in the cell its vector is assigned to now;
  *  4. the graph tiers (`m` > 0) re-derive each cell's adjacency over its
  *     stored and new rows through the build's own per-cell kernel —
  *     existing members gain edges to the new vectors and vice versa —
  *     and dynamic partition overwrite rewrites exactly those `ivf_cell=`
  *     directories; a cell whose candidates were all stored emits nothing
  *     and keeps its files. Plain IVF and IVF-PQ APPEND the new rows into
  *     their cell partitions. Every other cell's files stay
  *     byte-identical (spec-pinned).
  *
  * The returned count is exact: the vectors newly indexed after the
  * guard.
  *
  * Search stays [[IvfIndex.searchClustered]] / [[HnswGraph.searchGraph]]
  * / [[Pq.searchClusteredPq]] over the index path — they see maintained
  * vectors with no API change.
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

  /** `m` > 0 → per-cell [[HnswGraph]] adjacency with level ratio
    * `hnswMl` (0: the flat graph, every node on level 0; ≥ 2: the
    * layered one); `pqM` > 0 → PQ codes ride in the layout (the
    * byte-budget tier: ADC ranking reads codes only, exact re-rank reads
    * `refine·k` vectors). Graph and PQ tiers
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

  /** The spec's graph build. */
  private def graphOf(assigned: DataFrame, spec: Spec): DataFrame =
    HnswGraph.buildGraph(assigned, spec.idCol, spec.vecCol, spec.m, spec.hnswMl)

  /** [[graphOf]] over cells already grouped: each an id-sorted array of
    * one cell's rows, through the build's per-cell kernel, with the same
    * output columns. */
  private def graphOfCells(spark: SparkSession,
                           cells: org.apache.spark.rdd.RDD[Array[CellRow]],
                           spec: Spec): DataFrame = {
    import spark.implicits._
    val (m, mL) = (spec.m, spec.hnswMl)
    HnswGraph.layout(spark.createDataset(cells.flatMap(c =>
      HnswGraph.cellRows(c.map(_._1), c.map(_._2), c.head._3, m, mL))),
      spec.idCol, spec.vecCol, mL)
  }

  /** Declare + build the index over the table's current latest revision.
    * `m` = 0 → plain IVF layout; `m` > 0 → per-cell graph adjacency rides
    * along (flat, or layered when `hnswMl` > 0). */
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

  /** Bring one index up to the newest committed revision incrementally,
    * reading and rewriting only the cells the increment reaches (see the
    * object scaladoc for the plan). Returns the number of newly indexed
    * vectors: the increment minus the (id, vector) pairs the layout
    * already stores (0 when already current). */
  def maintain(spark: SparkSession, tablePath: String, name: String): Long =
    maintainFrom(spark, tablePath, name, changeSets = true)

  /** [[maintain]], with the increment from the snapshots alone when
    * `changeSets` is false (the differential specs' reference). */
  private[sources] def maintainFrom(spark: SparkSession, tablePath: String, name: String,
                                    changeSets: Boolean): Long = {
    import spark.implicits._
    val spec = list(tablePath).find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"unknown vector index $name"))
    val latest = TemporalTable.mostRecentRevision(tablePath)
      .getOrElse(throw new IllegalArgumentException(s"no commits at $tablePath"))
    val upTo = indexedUpTo(tablePath, name)
    if (latest <= upTo) return 0L
    val path = dataDir(tablePath, name)
    // the increment routed to the STORED model's cells, pinned: the
    // affected-cell aggregate and the per-cell step both read it
    val candidates = IvfIndex.assignCells(
        increment(spark, tablePath, spec, upTo, latest, changeSets),
        IvfIndex.readModel(path), spec.vecCol)
      .withColumn("ivf_cell", col("ivf_cell").cast("int"))
      .persist()
    val count =
      try {
        // the affected cells (≤ nLists) from one job with no shuffle:
        // each task's distinct cells, merged on the driver
        val affected = candidates.select("ivf_cell").as[Int]
          .mapPartitions(_.toSet.iterator).collect().distinct.sorted
        if (affected.isEmpty) 0L else patchCells(spark, path, candidates, affected, spec)
      } finally { candidates.unpersist(); () }
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

  /** One candidate or stored row of the per-cell step: (id, vector,
    * cell, whether it is a candidate). */
  private type CellRow = (Long, Array[Double], Int, Boolean)

  /** Routes each affected cell (sorted) to a task of its own. */
  private final class CellPartitioner(cells: Array[Int]) extends org.apache.spark.Partitioner {
    override def numPartitions: Int = cells.length
    override def getPartition(key: Any): Int =
      java.util.Arrays.binarySearch(cells, key.asInstanceOf[Int])
  }

  /** The guard's identity of a vector: its bits, with Spark SQL's
    * equality (-0.0 equals 0.0, every NaN equals every NaN). */
  private def vecKey(v: Array[Double]): Seq[Long] =
    v.toSeq.map(d => if (d == 0.0) 0L
      else if (d.isNaN) java.lang.Double.doubleToLongBits(Double.NaN)
      else java.lang.Double.doubleToLongBits(d))

  /** One affected cell's task: its stored rows (in scan order) and the
    * candidates it does not store yet, which `added` counts. Only stored
    * rows with a candidate's id can match, so only they are keyed. */
  private def guardCell(rows: Iterator[CellRow], added: org.apache.spark.util.LongAccumulator
                       ): (Array[CellRow], Array[CellRow]) = {
    val (stored, candidates) = rows.toArray.partition(!_._4)
    val ids = candidates.iterator.map(_._1).toSet
    val have = stored.iterator.filter(r => ids(r._1)).map(r => (r._1, vecKey(r._2))).toSet
    val news = candidates.filterNot(r => have((r._1, vecKey(r._2))))
    added.add(news.length)
    (stored, news)
  }

  /** A graph cell's rows to rebuild — stored then new, id-sorted (a
    * stable sort: same-id copies keep that order) — or None when the
    * guard left it nothing new. */
  private def cellToRebuild(rows: Iterator[CellRow], added: org.apache.spark.util.LongAccumulator
                           ): Option[Array[CellRow]] = {
    val (stored, news) = guardCell(rows, added)
    if (news.isEmpty) None else Some((stored ++ news).sortBy(_._1))
  }

  /** [[maintain]]'s per-cell step over the affected cells (steps 3–4 of
    * the object scaladoc). Only those cells' directories are listed and
    * their files opened, with the schema of one of their footers: listing
    * the layout's root would list every cell, and above
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` directories
    * Spark lists them in a job of its own. The graph tiers take each
    * cell's stored rows whole; plain IVF and IVF-PQ take only the stored
    * rows with a candidate's id (a broadcast semi-join), the only ones
    * the guard can match. A [[CellPartitioner]] gives each affected cell
    * a task of its own. The graph tiers rebuild through [[graphOfCells]];
    * PQ rows encode with the STORED codebooks (no refit: drift degrades
    * recall, not correctness, until rebuild). Read and write are one job: the dynamic
    * overwrite replaces a cell only when the job commits, after every
    * read. Returns the number of new rows, counted in the write's own
    * tasks (an action's accumulator counts each task once). */
  private def patchCells(spark: SparkSession, path: String, candidates: DataFrame,
                         affected: Array[Int], spec: Spec): Long = {
    import spark.implicits._
    val fresh = candidates
      .select(col(spec.idCol), col(spec.vecCol), col("ivf_cell"), lit(true))
    // (directory, one of its data files) of every affected cell that has any
    val storedCells = affected.toSeq.flatMap { c =>
      val dir = s"$path/ivf_cell=$c"
      MetaIO.listFiles(dir).collectFirst {
        case (n, _) if n.endsWith(".parquet") => (dir, s"$dir/$n")
      }
    }
    val rows = storedCells.headOption.fold(fresh) { case (_, file) =>
      val stored = spark.read.schema(graft.plans.FooterSchemas.readParquet(spark, file).schema)
        .option("basePath", path).parquet(storedCells.map(_._1): _*)
        .select(col(spec.idCol), col(spec.vecCol), col("ivf_cell").cast("int"), lit(false))
      (if (spec.m > 0) stored
       else stored.join(broadcast(candidates.select(spec.idCol)), Seq(spec.idCol), "left_semi"))
        .union(fresh)
    }
    val perCell = rows.as[CellRow].rdd
      .map(r => (r._3, r))
      .partitionBy(new CellPartitioner(affected))
      .values
    val added = spark.sparkContext.longAccumulator
    if (spec.m > 0)
      graphOfCells(spark, perCell.mapPartitions(cell => cellToRebuild(cell, added).iterator), spec)
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("ivf_cell").parquet(path)
    else {
      val news = spark.createDataset(perCell.mapPartitions(cell =>
          guardCell(cell, added)._2.iterator.map(r => (r._1, r._2, r._3))))
        .toDF(spec.idCol, spec.vecCol, "ivf_cell")
      (if (spec.pqM > 0) Pq.encode(news, spec.vecCol, Pq.readModel(path)) else news)
        .write.mode("append").partitionBy("ivf_cell").parquet(path)
    }
    added.value
  }

  /** Top-k search over a maintained index. `exact = false` searches the
    * raw layout ([[IvfIndex.searchClustered]] / [[HnswGraph.searchGraph]]
    * / [[Pq.searchClusteredPq]] — may surface ghosts of deleted rows and
    * stale embeddings, per the append-only contract). `exact = true`
    * closes that gap at query time:
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
      if (spec.m > 0)
        HnswGraph.searchGraph(spark, path, spec.idCol, spec.vecCol, query, kk,
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
    * maintenance). Graph cells re-derive their in-cell adjacency over the
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
    val flagged = graft.plans.FooterSchemas.readParquet(spark, path)
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
      // read + overwrite of the same path: cut lineage first so a
      // recomputed block can't re-scan replaced files
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
