package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Per-cell navigable-small-world graph ANN — the Spark analog of the
  * reference's HNSW vector index (bundles/sirix-core/src/main/java/io/
  * sirix/index/vector/hnsw/HnswGraph.java:24, VectorIndexBuilder.java:52),
  * layered on top of [[IvfIndex]]'s coarse quantizer:
  *
  *  - BUILD (one distributed pass): within each IVF cell, vectors are
  *    inserted in id order, each finding its `m` neighbours by an
  *    ef-beam search of the partially built graph with the diversity
  *    heuristic ([[HnswGraph.insertBuild]] with every node on layer 0 —
  *    one kernel for both tiers); edges are bidirectional with
  *    cap-triggered re-pruning. ~O(n·ef·log n) distance evaluations per
  *    cell, vs the O(n²) exact-kNN batch build this replaced. The
  *    adjacency is stored as an `nsw_neighbors` column IN the clustered
  *    table, so the graph ships with the data and partition pruning
  *    applies to both.
  *  - SEARCH: probe `nProbe` cells (file-listing pruning via the
  *    `ivf_cell` hive partition, see [[IvfIndex.writeClustered]]), then
  *    per cell run a greedy best-first beam search (beam `ef`) over the
  *    stored graph instead of brute-forcing the cell — distance
  *    evaluations drop from O(|cell|) to O(ef·m·depth), which is the win
  *    when embeddings are wide and cells are large. I/O is unchanged (the
  *    probed cells are read either way); this trades compute, exactly
  *    like the reference's in-memory graph walk.
  *
  * Simplification vs HNSW: a single-layer exact-kNN graph ("NSW"), not
  * the hierarchical multi-layer insert. What the hierarchy buys on large
  * graphs is ENTRY-POINT selection (HnswGraph.java's upper layers route
  * the search to the right basin in O(log n) hops); the same effect is
  * recovered here with a hub layer: a deterministic √n hash-sample of the
  * cell is evaluated up front and seeds the beam, so search starts from
  * the best of √n spread-out basins instead of one arbitrary node —
  * √n extra distance evaluations, still ≪ |cell|, and no extra storage
  * (hub selection is a pure function of the ids already read). Search is
  * fully deterministic: the hub sample orders on (splitmix64(id), id) and
  * ties break on id everywhere.
  *
  * Scale shape: search shuffles ONLY the probed cells (one group-by-cell
  * shuffle); each grouped iterator materializes ONE cell's vectors +
  * adjacency at a time, even when several cells hash to the same task —
  * size cells via `nLists` so a cell fits an executor (the same contract
  * HNSW has with RAM).
  */
object NswGraph {

  final case class VecRow(id: Long, vec: Array[Double], cell: Int)
  final case class GraphRow(id: Long, vec: Array[Double], cell: Int,
                            neighbors: Array[Long])
  final case class Hit(id: Long, sim: Double)

  /** Shared with [[HnswGraph]] — one kernel for both graph tiers. */
  private[operators] def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def toVecRows(assigned: DataFrame, idCol: String,
                        vecCol: String): Dataset[VecRow] = {
    val spark = assigned.sparkSession
    import spark.implicits._
    assigned.select(
      col(idCol).cast("long").as("id"),
      expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("vec"),
      col("ivf_cell").cast("int").as("cell")).as[VecRow]
  }

  /** In-cell NSW adjacency by incremental insertion: one shuffle on the
    * cell id, ~O(n·ef·log n) within a cell (see object scaladoc). Output
    * keeps the caller's `idCol`/`vecCol` names (id cast to long, vector
    * to array<double>) + `ivf_cell` + `nsw_neighbors`, so the persisted
    * graph table stays interchangeable with a plain
    * [[IvfIndex.writeClustered]] layout. */
  def buildGraph(assigned: DataFrame, idCol: String, vecCol: String,
                 m: Int, efConstruction: Int = 64): DataFrame = {
    require(m >= 1 && efConstruction >= m,
      s"need 1 <= m <= efConstruction; got m=$m ef=$efConstruction")
    val spark = assigned.sparkSession
    import spark.implicits._
    // flatMapGroups (not repartition+mapPartitions): hash partitioning
    // routinely co-locates several cells in one task, and materializing
    // the whole partition would hold them ALL in memory at once — the
    // grouped iterator materializes one cell at a time, which is the
    // documented memory contract.
    toVecRows(assigned, idCol, vecCol)
      .groupByKey(_.cell)
      .flatMapGroups { (cell, rows) =>
        val arr = rows.toArray.sortBy(_.id)
        cellRows(arr.map(_.id), arr.map(_.vec), cell, m, efConstruction)
      }
      .toDF(idCol, vecCol, "ivf_cell", "nsw_neighbors")
  }

  /** One cell's graph rows, the per-cell kernel of [[buildGraph]] (also
    * run by [[graft.sources.VectorIndex]]'s maintenance): `ids`/`vecs` in
    * insertion order — id order, as the callers sort them — each with its
    * neighbour ids. */
  private[graft] def cellRows(ids: Array[Long], vecs: Array[Array[Double]], cell: Int,
                              m: Int, efConstruction: Int = 64): Iterator[GraphRow] = {
    val (adj, _) = HnswGraph.insertBuild(vecs, Array.fill(vecs.length)(0), m, efConstruction)
    ids.indices.iterator.map(i => GraphRow(ids(i), vecs(i), cell, adj(i)(0).map(j => ids(j))))
  }

  /** Build the graph over a [[IvfIndex.fit]] output and persist it
    * clustered by cell, centroids alongside ([[IvfIndex.writeClustered]]'s
    * layout + the adjacency column). */
  def writeGraphIndexed(assigned: DataFrame, model: IvfIndex.Model,
                        idCol: String, vecCol: String, path: String,
                        m: Int = 8, efConstruction: Int = 64): Unit =
    IvfIndex.writeClustered(
      buildGraph(assigned, idCol, vecCol, m, efConstruction), model, path)

  /** ANN top-k: prune to the probed cells, co-locate each cell's graph,
    * greedy beam search per cell, global top-k of the per-cell beams.
    * `idCol`/`vecCol` are the names the graph was BUILT with (the same
    * names [[IvfIndex.searchClustered]] takes on the same table). */
  def searchGraph(spark: SparkSession, path: String, idCol: String,
                  vecCol: String, query: Array[Double],
                  k: Int, nProbe: Int, ef: Int = 32): DataFrame = {
    import spark.implicits._
    val model = IvfIndex.readModel(path)
    val probes = model.nearestCentroids(query, nProbe)
    val hits = graft.plans.FooterSchemas.readParquet(spark, path)
      .filter(col("ivf_cell").isin(probes: _*))
      .select(col(idCol).cast("long"), col(vecCol),
        col("ivf_cell").cast("int"), col("nsw_neighbors"))
      .as[(Long, Array[Double], Int, Array[Long])]
      .groupByKey(_._3)
      .flatMapGroups { (_, rows) =>
        // one cell materialized per group (see buildGraph)
        beamSearch(rows.map(r => (r._1, (r._2, r._4))).toMap, query, ef)
      }
    hits.toDF(idCol, "sim")
      .withColumn("sim", round(col("sim"), 4))
      .orderBy(desc("sim"), col(idCol))
      .limit(k)
  }

  /** Mix hash for the hub sample (and [[HnswGraph]]'s level assignment)
    * — full-avalanche, JVM-independent. */
  private[operators] def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Greedy best-first over one cell's graph, seeded from the hub layer
    * (deterministic √n hash-sample, all evaluated — the HNSW upper-layer
    * analog, see object scaladoc); returns the final beam (≤ ef hits,
    * sim-descending). */
  private[operators] def beamSearch(
      graph: Map[Long, (Array[Double], Array[Long])],
      query: Array[Double], ef: Int): Iterator[Hit] = {
    if (graph.isEmpty) return Iterator.empty
    val ids = graph.keysIterator.toArray
    val nHubs = math.max(1, math.ceil(math.sqrt(ids.length.toDouble)).toInt)
    val hubs = ids.sortBy(id => (splitmix64(id), id)).take(nHubs)
    // candidates: best-first (sim desc, id asc); beam: worst-first so the
    // floor is O(1) to inspect and evict
    implicit val hitOrd: Ordering[Hit] =
      Ordering.by[Hit, (Double, Long)](h => (-h.sim, h.id))
    val candidates = mutable.PriorityQueue.empty[Hit](hitOrd.reverse)
    val beam = mutable.PriorityQueue.empty[Hit](hitOrd)
    val visited = mutable.Set(hubs.toIndexedSeq: _*)
    hubs.foreach(h => candidates.enqueue(Hit(h, cosine(graph(h)._1, query))))
    while (candidates.nonEmpty) {
      val c = candidates.dequeue()
      if (beam.size >= ef && c.sim <= beam.head.sim) {
        candidates.clear() // best remaining candidate cannot improve the beam
      } else {
        beam.enqueue(c)
        if (beam.size > ef) beam.dequeue()
        graph(c.id)._2.sorted.foreach { n =>
          if (!visited.contains(n) && graph.contains(n)) {
            visited += n
            candidates.enqueue(Hit(n, cosine(graph(n)._1, query)))
          }
        }
      }
    }
    beam.dequeueAll.reverseIterator
  }
}
