package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Per-cell graph ANN — the reference's layered vector graph
  * (bundles/sirix-core/src/main/java/io/sirix/index/vector/hnsw/
  * HnswGraph.java:24, VectorIndexBuilder.java:52) on the [[IvfIndex]]
  * clustered layout. One build kernel and one search serve both graph
  * tiers: the layered one (level ratio `mL` ≥ 2) and the flat one
  * (`mL` = 0, every node on level 0 — a navigable small world).
  *
  * What the hierarchy buys: entry-point selection in O(m·log n) distance
  * evaluations. A flat cell spends √n hub evaluations instead — a
  * deterministic hash-sample of the cell, all evaluated, seeds the beam,
  * so search starts from the best of √n spread-out basins, not one
  * arbitrary node that may be cut off from the query's component. At
  * very large per-cell populations (10⁶+ vectors) the layered descent
  * reaches the right basin in ~log_{mL}(n) greedy hops of m evaluations
  * each — the reference's upper-layer routing, re-expressed on the same
  * storage discipline. Either way, probed-cell I/O is the same; the graph
  * trades distance evaluations, O(ef·m·depth) instead of O(|cell|):
  *
  *  - '''levels''' are a pure function of the id (geometric with ratio
  *    1/mL via splitmix64 — deterministic across JVMs and rebuilds, no
  *    stored RNG state; HNSW's `floor(-ln(U)·mL')` with U derived from
  *    the id hash). Level ℓ holds ~n/mL^ℓ nodes; at `mL` = 0 every level
  *    is 0.
  *  - '''build''' (one shuffle on the cell id): within each cell, nodes
  *    are INSERTED in id order, each finding its per-layer neighbours by
  *    searching the partially built graph — greedy descent from the
  *    current entry through the layers above the node, then an
  *    `efConstruction`-beam per insertion layer, with the
  *    select-neighbors diversity heuristic choosing the `m` links
  *    (reference hnsw/HnswGraph.java:24's insert loop). Edges are
  *    bidirectional; a neighbour over its cap (`2m` on layer 0, `m`
  *    above) re-prunes with the same heuristic. ~O(n·ef·log n) distance
  *    evaluations per cell — the batch all-pairs build this replaced was
  *    O(n²), which at the 10⁶-vector cells the hierarchy targets meant
  *    ~10¹² evaluations; insertion reaches that regime. Deterministic:
  *    id-order insertion, id tie-breaks everywhere, no RNG. The
  *    adjacency is a column of the clustered table — `hnsw_level` plus
  *    the per-layer `hnsw_layers: array<array<long>>`, or layer 0 alone
  *    as `nsw_neighbors: array<long>` on a flat graph — so the graph
  *    ships with the data and partition pruning applies to both.
  *  - '''search''': probe `nProbe` cells (hive-partition pruning), per
  *    cell descend: start at the cell's top node (max level, ties to the
  *    lowest id — deterministic), greedy step through layers L..1 (move
  *    to the best improving neighbour until none), then a beam of width
  *    `ef` on layer 0 seeded from where the descent landed, or from the
  *    hub sample in a cell with no node above level 0. Global top-k of
  *    the per-cell beams.
  *
  * Memory contract: search shuffles only the probed cells, and each
  * grouped iterator materializes one cell at a time, even when several
  * cells hash to the same task — size cells via `nLists` so a cell fits
  * an executor (the contract HNSW has with RAM).
  */
object HnswGraph {

  /** Cap on the level ladder — 8 layers at mL=16 covers 16⁸ ≈ 4·10⁹
    * nodes per cell, far past the one-cell-fits-an-executor contract. */
  private val MaxLevel = 8

  /** Cosine of vectors a and b over their common prefix; 0 when either
    * norm is 0. */
  private[operators] def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Mix hash for the level assignment and the hub sample —
    * full-avalanche, JVM-independent. */
  private[operators] def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Deterministic geometric level of a node id: P(level ≥ l) = mL^-l.
    * Uses the top 53 hash bits as a uniform in (0,1] — id-stable, so an
    * incremental rebuild assigns every surviving node its old level. */
  private[graft] def levelOf(id: Long, mL: Int): Int = {
    val u = ((splitmix64(id) >>> 11) + 1).toDouble / (1L << 53).toDouble
    math.min(MaxLevel, (-math.log(u) / math.log(mL.toDouble)).toInt)
  }

  // public: Dataset encoder codegen must reach the constructor/accessors
  final case class VecRow(id: Long, vec: Array[Double], cell: Int)
  final case class HnswRow(id: Long, vec: Array[Double], cell: Int,
                           level: Int, layers: Array[Array[Long]])

  /** Per-cell adjacency: one shuffle, search-based incremental insertion
    * within each cell (see object scaladoc — ~O(n·ef·log n) distance
    * evaluations, deterministic); `mL` = 0 builds the flat graph. Output
    * is [[layout]]'s. */
  def buildGraph(assigned: DataFrame, idCol: String, vecCol: String,
                 m: Int, mL: Int = 16, efConstruction: Int = 64): DataFrame = {
    require(m >= 1 && (mL == 0 || mL >= 2),
      s"need m >= 1 and mL = 0 or >= 2; got m=$m mL=$mL")
    require(efConstruction >= m,
      s"efConstruction ($efConstruction) must be >= m ($m)")
    val spark = assigned.sparkSession
    import spark.implicits._
    // flatMapGroups (not repartition+mapPartitions): hash partitioning
    // routinely co-locates several cells in one task, and the grouped
    // iterator materializes one cell at a time (the memory contract)
    layout(assigned.select(
        col(idCol).cast("long").as("id"),
        expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("vec"),
        col("ivf_cell").cast("int").as("cell")).as[VecRow]
      .groupByKey(_.cell)
      .flatMapGroups { (cell, rows) =>
        val arr = rows.toArray.sortBy(_.id)
        cellRows(arr.map(_.id), arr.map(_.vec), cell, m, mL, efConstruction)
      }, idCol, vecCol, mL)
  }

  /** Graph rows as the persisted columns: the caller's `idCol`/`vecCol`
    * (id long, vector array<double>) and `ivf_cell`, then layer 0 as
    * `nsw_neighbors` on a flat graph (`mL` = 0), else `hnsw_level` and
    * `hnsw_layers` — either way interchangeable with a plain
    * [[IvfIndex.writeClustered]] layout. */
  private[graft] def layout(rows: Dataset[HnswRow], idCol: String, vecCol: String,
                            mL: Int): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    if (mL == 0)
      rows.map(r => (r.id, r.vec, r.cell, r.layers(0)))
        .toDF(idCol, vecCol, "ivf_cell", "nsw_neighbors")
    else rows.toDF(idCol, vecCol, "ivf_cell", "hnsw_level", "hnsw_layers")
  }

  /** One cell's graph rows, the per-cell kernel of [[buildGraph]] (also
    * run by [[graft.sources.VectorIndex]]'s maintenance): `ids`/`vecs` in
    * insertion order — id order, as the callers sort them — each with its
    * level (0 throughout when `mL` = 0) and per-layer neighbour ids. */
  private[graft] def cellRows(ids: Array[Long], vecs: Array[Array[Double]], cell: Int,
                              m: Int, mL: Int, efConstruction: Int = 64): Iterator[HnswRow] = {
    val levels = if (mL == 0) Array.fill(ids.length)(0) else ids.map(levelOf(_, mL))
    val (adj, _) = insertBuild(vecs, levels, m, efConstruction)
    ids.indices.iterator.map(i =>
      HnswRow(ids(i), vecs(i), cell, levels(i), adj(i).map(_.map(j => ids(j)))))
  }

  /** Search-based incremental insertion over one cell (the reference's
    * insert loop, hnsw/HnswGraph.java:24): nodes enter in index order
    * (callers pass id-sorted arrays, so index order IS id order); each
    * new node greedy-descends from the current entry point through the
    * layers above its own level, then runs an `efConstruction`-wide beam
    * on each of its insertion layers, links to the [[selectNeighbors]]
    * diversity pick of the beam, and back-links bidirectionally with
    * cap-triggered re-pruning (cap `2m` on layer 0, `m` above — the
    * reference's mMax0/mMax split). Returns (per-node per-layer neighbour
    * INDICES, ascending; total distance evaluations, the build-cost
    * meter). Deterministic: no RNG, ties break on the lower index
    * everywhere.
    *
    * Primitive state throughout — the per-cell build is the hot loop of
    * every graph create and maintain: adjacency lives in fixed-capacity
    * sorted int arrays (a node's list holds at most `cap + 1` entries
    * before it re-prunes), the beam's two heaps are parallel int/double
    * arrays ordered by (sim desc, index asc) under
    * `java.lang.Double.compare`, the visited set is an epoch-stamped int
    * array, and each vector's norm is computed once (pairs of unequal
    * length fall back to [[cosine]] over their common prefix). */
  private[graft] def insertBuild(
      vecs: Array[Array[Double]], levels: Array[Int],
      m: Int, efConstruction: Int): (Array[Array[Array[Int]]], Long) = {
    val n = vecs.length
    val b = new InsertBuild(vecs, levels, m, efConstruction)
    var i = 0
    while (i < n) { b.insert(i); i += 1 }
    (Array.tabulate(n)(v => Array.tabulate(levels(v) + 1)(l =>
      java.util.Arrays.copyOf(b.adj(v)(l), b.deg(v)(l)))), b.evals)
  }

  /** Binary heap of (index, sim) pairs over parallel primitive arrays.
    * `worstOnTop` = the beam (its floor is O(1) to inspect and evict);
    * otherwise best on top (the candidate queue). The order is the total
    * order (sim desc, index asc) with `java.lang.Double.compare` on the
    * negated sim — NaN ranks worst. */
  private final class PairHeap(capacity: Int, worstOnTop: Boolean) {
    private var idx = new Array[Int](math.max(capacity, 4))
    private var sim = new Array[Double](math.max(capacity, 4))
    var size = 0

    /** a ranks before b in best-first order. */
    private def better(ia: Int, sa: Double, ib: Int, sb: Double): Boolean = {
      val c = java.lang.Double.compare(-sa, -sb)
      c < 0 || (c == 0 && ia < ib)
    }
    /** slot a belongs above slot b. */
    private def above(a: Int, b: Int): Boolean =
      if (worstOnTop) better(idx(b), sim(b), idx(a), sim(a))
      else better(idx(a), sim(a), idx(b), sim(b))

    def topIdx: Int = idx(0)
    def topSim: Double = sim(0)
    def clear(): Unit = size = 0

    def push(i: Int, s: Double): Unit = {
      if (size == idx.length) {
        idx = java.util.Arrays.copyOf(idx, size * 2)
        sim = java.util.Arrays.copyOf(sim, size * 2)
      }
      idx(size) = i; sim(size) = s
      var c = size
      size += 1
      while (c > 0 && above(c, (c - 1) >> 1)) { swap(c, (c - 1) >> 1); c = (c - 1) >> 1 }
    }

    def pop(): Unit = {
      size -= 1
      idx(0) = idx(size); sim(0) = sim(size)
      var p = 0
      var done = false
      while (!done) {
        val l = 2 * p + 1
        val r = l + 1
        var t = p
        if (l < size && above(l, t)) t = l
        if (r < size && above(r, t)) t = r
        if (t == p) done = true else { swap(p, t); p = t }
      }
    }

    private def swap(a: Int, b: Int): Unit = {
      val ti = idx(a); idx(a) = idx(b); idx(b) = ti
      val ts = sim(a); sim(a) = sim(b); sim(b) = ts
    }
  }

  /** The mutable state of one [[insertBuild]]. */
  private final class InsertBuild(vecs: Array[Array[Double]], levels: Array[Int],
                                  m: Int, ef: Int) {
    private val n = vecs.length
    var evals = 0L
    /** adj(v)(l): sorted neighbours in slots [0, deg(v)(l)). */
    val adj: Array[Array[Array[Int]]] = Array.tabulate(n)(v =>
      Array.tabulate(levels(v) + 1)(l => new Array[Int](capOf(l) + 1)))
    val deg: Array[Array[Int]] = Array.tabulate(n)(v => new Array[Int](levels(v) + 1))
    private def capOf(l: Int): Int = if (l == 0) 2 * m else m

    private val norm: Array[Double] = vecs.map { v =>
      var s = 0.0; var k = 0
      while (k < v.length) { s += v(k) * v(k); k += 1 }
      s
    }
    private val sqrtNorm: Array[Double] = norm.map(math.sqrt)

    /** [[cosine]] of vectors a and b, bit for bit. */
    private def sim(a: Int, b: Int): Double = {
      evals += 1
      val va = vecs(a); val vb = vecs(b)
      if (va.length != vb.length) cosine(va, vb)
      else {
        var dot = 0.0; var k = 0
        while (k < va.length) { dot += va(k) * vb(k); k += 1 }
        if (norm(a) == 0.0 || norm(b) == 0.0) 0.0 else dot / (sqrtNorm(a) * sqrtNorm(b))
      }
    }

    private val visited = new Array[Int](n)
    private var epoch = 0
    private val candidates = new PairHeap(ef + 1, worstOnTop = false)
    private val results = new PairHeap(ef + 1, worstOnTop = true)
    // the beam of the last searchLayer, best first
    private val beamIdx = new Array[Int](ef)
    private val beamSim = new Array[Double](ef)
    private var beamLen = 0
    // selectNeighbors' output and scratch
    private val selIdx = new Array[Int](2 * m + 2)
    private var selLen = 0
    private val rejIdx = new Array[Int](math.max(ef, 2 * m) + 2)
    private val pruneIdx = new Array[Int](2 * m + 2)
    private val pruneSim = new Array[Double](2 * m + 2)
    private var entry = -1

    /** ef-beam over layer `l` of the partial graph for node `q`, seeded
      * at the current beam (sims already computed); leaves the new beam,
      * best first, in beamIdx/beamSim. */
    private def searchLayer(q: Int, l: Int): Unit = {
      epoch += 1
      candidates.clear(); results.clear()
      var e = 0
      while (e < beamLen) {
        val v = beamIdx(e)
        if (visited(v) != epoch) {
          visited(v) = epoch
          candidates.push(v, beamSim(e))
          results.push(v, beamSim(e))
          if (results.size > ef) results.pop()
        }
        e += 1
      }
      while (candidates.size > 0) {
        val c = candidates.topIdx
        val cs = candidates.topSim
        candidates.pop()
        if (results.size >= ef && cs < results.topSim) candidates.clear()
        else {
          val nbrs = adj(c)(l)
          val d = deg(c)(l)
          var k = 0
          while (k < d) {
            val nb = nbrs(k)
            if (visited(nb) != epoch) {
              visited(nb) = epoch
              val s = sim(nb, q)
              if (results.size < ef || s > results.topSim) {
                candidates.push(nb, s)
                results.push(nb, s)
                if (results.size > ef) results.pop()
              }
            }
            k += 1
          }
        }
      }
      beamLen = results.size // <= ef: both loops trim after each push
      var k = beamLen - 1
      while (k >= 0) {
        beamIdx(k) = results.topIdx; beamSim(k) = results.topSim
        results.pop(); k -= 1
      }
    }

    /** Diversity heuristic (reference Algorithm-4 shape): admit a
      * candidate when it is closer to the query (`cSim`, its similarity
      * to it) than to every already-admitted neighbour — hub-resistant,
      * keeps links spanning distinct directions; rejected candidates
      * backfill unused slots (keep-pruned, so degree never starves).
      * Candidates best-first; the pick lands in selIdx, admitted first,
      * then backfill. */
    private def selectNeighbors(cIdx: Array[Int], cSim: Array[Double],
                                cLen: Int, mSel: Int): Unit = {
      selLen = 0
      var rejLen = 0
      var i = 0
      while (i < cLen && selLen < mSel) {
        val c = cIdx(i)
        val sc = cSim(i)
        var admit = true
        var k = 0
        while (admit && k < selLen) {
          if (!(sc > sim(c, selIdx(k)))) admit = false
          k += 1
        }
        if (admit) { selIdx(selLen) = c; selLen += 1 }
        else { rejIdx(rejLen) = c; rejLen += 1 }
        i += 1
      }
      var j = 0
      while (selLen < mSel && j < rejLen) {
        selIdx(selLen) = rejIdx(j); selLen += 1; j += 1
      }
    }

    /** Re-prune a node whose list overflowed its cap: re-run the
      * heuristic around the node's own vector over its current list. */
    private def pruneTo(node: Int, l: Int): Unit = {
      val cap = capOf(l)
      val d = deg(node)(l)
      if (d <= cap) return
      val nbrs = adj(node)(l)
      var k = 0
      while (k < d) { pruneIdx(k) = nbrs(k); pruneSim(k) = sim(nbrs(k), node); k += 1 }
      sortBestFirst(pruneIdx, pruneSim, d)
      selectNeighbors(pruneIdx, pruneSim, d, cap)
      System.arraycopy(selIdx, 0, nbrs, 0, selLen)
      java.util.Arrays.sort(nbrs, 0, selLen)
      deg(node)(l) = selLen
    }

    /** Insertion sort (lists are ≤ 2m + 1 long) into best-first order. */
    private def sortBestFirst(ix: Array[Int], sm: Array[Double], len: Int): Unit = {
      var i = 1
      while (i < len) {
        val vi = ix(i); val vs = sm(i)
        var j = i - 1
        while (j >= 0 && {
          val c = java.lang.Double.compare(-sm(j), -vs)
          c > 0 || (c == 0 && ix(j) > vi)
        }) { ix(j + 1) = ix(j); sm(j + 1) = sm(j); j -= 1 }
        ix(j + 1) = vi; sm(j + 1) = vs
        i += 1
      }
    }

    def insert(i: Int): Unit = {
      val l = levels(i)
      if (entry < 0) { entry = i; return }
      val entryLevel = levels(entry)
      var ep = entry
      var epSim = sim(entry, i)
      // greedy descent through the layers above the node's level; each
      // pass scans the list of the node it started from
      var lc = entryLevel
      while (lc > l) {
        var improved = true
        while (improved) {
          improved = false
          val nbrs = adj(ep)(lc)
          val d = deg(ep)(lc)
          var k = 0
          while (k < d) {
            val nb = nbrs(k)
            val s = sim(nb, i)
            if (s > epSim) { ep = nb; epSim = s; improved = true }
            k += 1
          }
        }
        lc -= 1
      }
      // insertion layers: beam, select, link bidirectionally
      beamIdx(0) = ep; beamSim(0) = epSim; beamLen = 1
      var l2 = math.min(entryLevel, l)
      while (l2 >= 0) {
        searchLayer(i, l2)
        selectNeighbors(beamIdx, beamSim, beamLen, m)
        // the pick becomes i's list first: pruneTo reuses the selection
        // scratch
        val own = adj(i)(l2)
        val picked = selLen
        System.arraycopy(selIdx, 0, own, 0, picked)
        deg(i)(l2) = picked
        var k = 0
        while (k < picked) {
          val j = own(k)
          // i is the highest index inserted so far: appending keeps
          // j's list sorted
          adj(j)(l2)(deg(j)(l2)) = i; deg(j)(l2) += 1
          pruneTo(j, l2)
          k += 1
        }
        java.util.Arrays.sort(own, 0, picked)
        l2 -= 1
      }
      if (l > entryLevel) entry = i
    }
  }

  /** Build over an [[IvfIndex.fit]] output and persist clustered by cell
    * (centroid sidecar alongside — [[IvfIndex.writeClustered]]'s layout
    * plus the adjacency columns). */
  def writeGraphIndexed(assigned: DataFrame, model: IvfIndex.Model,
                        idCol: String, vecCol: String, path: String,
                        m: Int = 8, mL: Int = 16,
                        efConstruction: Int = 64): Unit =
    IvfIndex.writeClustered(
      buildGraph(assigned, idCol, vecCol, m, mL, efConstruction),
      model, path)

  /** ANN top-k: prune to the probed cells, co-locate each cell's graph,
    * descend per cell (see object scaladoc), global top-k of the per-cell
    * beams. `idCol`/`vecCol` are the names the graph was BUILT with (the
    * same names [[IvfIndex.searchClustered]] takes on the same table);
    * the layout's own columns tell a flat graph from a layered one. */
  def searchGraph(spark: SparkSession, path: String, idCol: String,
                  vecCol: String, query: Array[Double],
                  k: Int, nProbe: Int, ef: Int = 32): DataFrame = {
    import spark.implicits._
    val model = IvfIndex.readModel(path)
    val probes = model.nearestCentroids(query, nProbe)
    val stored = graft.plans.FooterSchemas.readParquet(spark, path)
    val (level, layers) =
      if (stored.columns.contains("nsw_neighbors")) (lit(0), array(col("nsw_neighbors")))
      else (col("hnsw_level"), col("hnsw_layers"))
    val hits = stored
      .filter(col("ivf_cell").isin(probes: _*))
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"),
        col("ivf_cell").cast("int"), level, layers)
      .as[(Long, Array[Double], Int, Int, Array[Array[Long]])]
      .groupByKey(_._3)
      .flatMapGroups { (_, rows) =>
        val graph = rows.map(r => r._1 -> (r._2, r._4, r._5)).toMap
        descendSearch(graph, query, ef)
      }
    hits.toDF(idCol, "sim")
      .withColumn("sim", round(col("sim"), 4))
      .orderBy(desc("sim"), col(idCol))
      .limit(k)
  }

  private[operators] final case class Hit(id: Long, sim: Double)

  /** One cell: top-entry greedy descent through the upper layers, then an
    * ef-beam on layer 0 (≤ ef hits, sim-descending). A cell with no node
    * above level 0 — a flat graph, or a cell too small to have minted an
    * upper-layer node — has no routing hierarchy: there the beam seeds
    * from the √n hub sample instead (the disconnected-basin guard; a
    * single arbitrary entry could be cut off from the query's component
    * of the kNN graph). Deterministic (ties on id everywhere). */
  private[operators] def descendSearch(
      graph: Map[Long, (Array[Double], Int, Array[Array[Long]])],
      query: Array[Double], ef: Int): Iterator[Hit] = {
    if (graph.isEmpty) return Iterator.empty
    def sim(id: Long): Double = cosine(graph(id)._1, query)
    // entry: the cell's top node — max level, ties to lowest id
    var cur = graph.keysIterator.maxBy(id => (graph(id)._2, -id))
    var curSim = sim(cur)
    val topLevel = graph(cur)._2
    if (topLevel == 0) {
      val ids = graph.keysIterator.toArray
      val nHubs = math.max(1, math.ceil(math.sqrt(ids.length.toDouble)).toInt)
      val hubs = ids.sortBy(id => (splitmix64(id), id)).take(nHubs)
      return beamFrom(graph, hubs.map(h => Hit(h, sim(h))), query, ef)
    }
    // greedy descent: layers top..1, move while an improving neighbour exists
    var l = topLevel
    while (l >= 1) {
      var improved = true
      while (improved) {
        improved = false
        val layers = graph(cur)._3
        if (l < layers.length) {
          layers(l).sorted.foreach { n =>
            if (graph.contains(n)) {
              val s = sim(n)
              if (s > curSim) { cur = n; curSim = s; improved = true }
            }
          }
        }
      }
      l -= 1
    }
    // layer-0 beam from the descent's landing point
    beamFrom(graph, Array(Hit(cur, curSim)), query, ef)
  }

  private def beamFrom(
      graph: Map[Long, (Array[Double], Int, Array[Array[Long]])],
      seeds: Array[Hit], query: Array[Double], ef: Int): Iterator[Hit] = {
    def sim(id: Long): Double = cosine(graph(id)._1, query)
    implicit val hitOrd: Ordering[Hit] =
      Ordering.by[Hit, (Double, Long)](h => (-h.sim, h.id))
    val candidates = mutable.PriorityQueue.empty[Hit](hitOrd.reverse)
    val beam = mutable.PriorityQueue.empty[Hit](hitOrd)
    val visited = mutable.Set(seeds.map(_.id).toIndexedSeq: _*)
    seeds.foreach(candidates.enqueue(_))
    while (candidates.nonEmpty) {
      val c = candidates.dequeue()
      if (beam.size >= ef && c.sim <= beam.head.sim) candidates.clear()
      else {
        beam.enqueue(c)
        if (beam.size > ef) beam.dequeue()
        graph(c.id)._3(0).sorted.foreach { n =>
          if (!visited.contains(n) && graph.contains(n)) {
            visited += n
            candidates.enqueue(Hit(n, sim(n)))
          }
        }
      }
    }
    beam.dequeueAll.reverseIterator
  }
}
