package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbour — the scale path the
  * builder brief names alongside LSH, and the Spark analog of the
  * reference's per-path vector index (SURVEY.md §2.10 vector row).
  *
  * Build: k-means over the embedding column partitions the space into
  * `nLists` Voronoi cells; every row gets its cell id (one ML pipeline
  * pass, deterministic under a fixed seed). Search: compute the query's
  * `nProbe` closest centroids driver-side (centroids are tiny), push
  * `cell IN (probes)` into the scan — partition/row-group pruning does the
  * skipping when the table is written clustered by cell — and brute-force
  * only the probed cells with the codegen'd cosine kernel. Recall is tuned
  * by `nProbe`; scanned volume is ~nProbe/nLists of the table.
  */
object IvfIndex {

  final case class Model(centroids: Array[Array[Double]]) {
    def nearestCentroids(query: Array[Double], nProbe: Int): Seq[Int] =
      centroids.zipWithIndex
        .map { case (c, i) =>
          var d = 0.0; var j = 0
          while (j < c.length && j < query.length) {
            val t = c(j) - query(j); d += t * t; j += 1
          }
          (i, d)
        }
        .sortBy(_._2).take(nProbe).map(_._1).toSeq
  }

  /** Fit the coarse quantizer and assign every row its cell:
    * returns (model, df + `ivf_cell` column).
    *
    * `fitFraction` < 1 fits k-means on a DETERMINISTIC hash-sample of the
    * rows (seeded xxhash64 bucket — reproducible across runs and engines,
    * no RNG state) while the cell ASSIGNMENT still covers every row. This
    * is the 100 TB posture: centroid quality converges on a tiny uniform
    * sample (nLists ≪ sample size), so the iterative fit — the only
    * multi-pass stage — runs over a bounded input, and the full corpus is
    * touched exactly once by the single-pass transform. */
  def fit(df: DataFrame, vecCol: String, nLists: Int,
          seed: Long = 42L, fitFraction: Double = 1.0): (Model, DataFrame) = {
    require(fitFraction > 0.0 && fitFraction <= 1.0,
      s"fitFraction must be in (0, 1]: $fitFraction")
    val withVec = df.withColumn("__vec", array_to_vector(
      expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))")))
    val fitInput =
      if (fitFraction >= 1.0) withVec
      else {
        val sampled = withVec.filter(
          pmod(xxhash64(col(vecCol), lit(seed)), lit(1000000L)) <
            (fitFraction * 1000000L).toLong)
        // a sample smaller than nLists would crash the fit (empty) or
        // silently return fewer centroids; fall back to the full input —
        // an input that small has no business being subsampled anyway
        if (sampled.limit(nLists).count() < nLists) withVec else sampled
      }
    val km = new KMeans().setK(nLists).setSeed(seed)
      .setFeaturesCol("__vec").setPredictionCol("ivf_cell")
    val model = km.fit(fitInput)
    // assignment through OUR argmin, not model.transform: MLlib's
    // norm-cached fastSquaredDistance can disagree with the exact
    // squared-L2 fold on near-ties, and the incremental-maintenance path
    // (assignCells over the stored centroids) must route a vector into
    // the SAME cell the original layout put it in — one argmin, one
    // source of truth (parity spec-pinned in VectorIndexSpec)
    val out = Model(model.clusterCenters.map(_.toArray))
    (out, assignCells(df, out, vecCol))
  }

  /** Assign rows to a STORED model's cells — the incremental-maintenance
    * path (no refit, no ML pipeline): a pure codegen expression computing
    * the same argmin KMeansModel.transform does (squared L2, ties to the
    * lowest cell id — array_sort on (d, cell) structs reproduces the
    * first-minimal tie-break). Used by [[graft.sources.VectorIndex]] to
    * route a new revision's vectors into an existing clustered layout. */
  def assignCells(df: DataFrame, model: Model, vecCol: String): DataFrame =
    df.withColumn("ivf_cell",
      element_at(array_sort(distStructs(model, vecCol)), 1).getField("cell"))

  /** The shared argmin kernel: per-centroid (squared-L2, cell) structs —
    * array_sort's struct ordering gives the first-minimal tie-break. ONE
    * definition on purpose: assignment, clustering and kNN-join routing
    * must never drift apart (a vector routed by one variant must land
    * where another variant put it). */
  private def distStructs(model: Model, vecCol: String): org.apache.spark.sql.Column = {
    val dvec = expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))")
    array(model.centroids.zipWithIndex.map { case (c, i) =>
      val cLit = array(c.map(lit): _*)
      val d2 = aggregate(zip_with(dvec, cLit, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, v) => acc + v)
      struct(d2.as("d"), lit(i).as("cell"))
    }: _*)
  }

  /** [[assignCells]] plus the Euclidean distance to the winning centroid —
    * the k-means CLUSTERING surface (fit + assignment as a first-class
    * pipeline op: diversity bucketing, per-cluster sampling, mixture
    * design all consume (row, cluster, dist)). Same argmin and tie-break
    * as [[assignCells]]; `dist` is sqrt of the winning squared-L2, rounded
    * to 4 places (the library's similarity rounding convention). Pure
    * codegen: nLists struct comparisons per row, no shuffle. */
  def assignCellsWithDistance(df: DataFrame, model: Model, vecCol: String,
                              cellCol: String = "cluster",
                              distCol: String = "dist"): DataFrame = {
    val best = element_at(array_sort(distStructs(model, vecCol)), 1)
    df.withColumn(cellCol, best.getField("cell"))
      .withColumn(distCol, round(sqrt(best.getField("d")), 4))
  }

  /** ANN top-k: probe the query's `nProbe` cells only. `assigned` is the
    * output of [[fit]] (persist it clustered by `ivf_cell` so the IN
    * filter prunes storage, not just rows). */
  def search(assigned: DataFrame, model: Model, idCol: String, vecCol: String,
             query: Array[Double], k: Int, nProbe: Int): DataFrame = {
    val probes = model.nearestCentroids(query, nProbe)
    val qLit = array(query.map(lit): _*)
    assigned
      .filter(col("ivf_cell").isin(probes: _*))
      .withColumn("sim", round(Similarity.cosine(
        expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))"), qLit), 4))
      .select(col(idCol), col("sim"))
      .orderBy(desc("sim"), col(idCol))
      .limit(k)
  }

  /** ANN kNN JOIN over a [[fit]] assignment: every row probes its `nProbe`
    * nearest cells and compares only against rows assigned there —
    * candidate volume is ~nProbe/nLists of the full n² nested loop.
    * Per-row probe cells are computed inside codegen (centroids are plan
    * literals: an array of (squared-L2, cell) structs, array_sort, take
    * nProbe), then the probe-side explode joins the assignment on the cell
    * id — an equi-join that shuffles on `ivf_cell`, never on vectors when
    * the assignment is written clustered. Recall vs [[Similarity.knnJoin]]
    * is tuned by `nProbe` (spec-checked). */
  def knnJoin(assigned: DataFrame, model: Model, idCol: String, vecCol: String,
              k: Int, nProbe: Int): DataFrame = {
    val probes = transform(slice(array_sort(distStructs(model, vecCol)), 1, nProbe),
      s => s.getField("cell"))
    val probeSide = assigned
      .select(col(idCol).as("id_a"), col(vecCol).as("__va"),
        explode(probes).as("ivf_cell"))
    val candSide = assigned
      .select(col(idCol).as("id_b"), col(vecCol).as("__vb"), col("ivf_cell"))
    Similarity.topKPerProbe(
      probeSide.join(candSide, "ivf_cell")
        .filter(col("id_a") =!= col("id_b"))
        .withColumn("sim", round(Similarity.cosine(col("__va"), col("__vb")), 4)), k)
  }

  // ---- persisted, write-clustered index ------------------------------

  /** Persist a [[fit]] output CLUSTERED by cell: `ivf_cell` becomes a hive
    * partition column, so a probe's `ivf_cell IN (...)` predicate prunes
    * the FILE LISTING — at 100 TB a search lists/reads ~nProbe/nLists of
    * the table's directories and nothing else (the same design as
    * [[Intervals.writeIndexed]]'s fork partitions). Centroids are tiny
    * (nLists × dim doubles) and ride along as driver-side metadata under
    * `_ivf/` via [[graft.sources.MetaIO]], so the index opens on any
    * Hadoop filesystem. */
  def writeClustered(assigned: DataFrame, model: Model, path: String): Unit = {
    assigned.write.mode("overwrite").partitionBy("ivf_cell").parquet(path)
    writeCentroids(model, path)
  }

  /** Centroid sidecar under `_ivf/`: one centroid per line, comma-joined —
    * no escaping concerns. Shared by both persisted layouts. */
  private def writeCentroids(model: Model, path: String): Unit = {
    val body = model.centroids.map(_.mkString(",")).mkString("\n")
    graft.sources.MetaIO.mkdirs(s"$path/_ivf")
    graft.sources.MetaIO.delete(s"$path/_ivf/centroids.txt")
    graft.sources.MetaIO.createNew(s"$path/_ivf/centroids.txt", body)
  }

  def readModel(path: String): Model = Model(
    graft.sources.MetaIO.readString(s"$path/_ivf/centroids.txt")
      .split('\n').filter(_.nonEmpty).map(_.split(',').map(_.toDouble)))

  /** Persist a [[fit]] output BUCKETED by cell — the layout for the
    * all-pairs [[knnJoin]] (where [[writeClustered]]'s hive partitioning is
    * the layout for single-query probes): a metastore table whose files are
    * hash-bucketed on `ivf_cell`, so the scan itself satisfies the join's
    * clustering requirement. [[knnJoin]] over `spark.table(name)` then
    * shuffles ONLY the exploded probe side; the stored vectors — the wide
    * payload, nProbe× smaller than the probe stream but resident at 100 TB
    * — never leave their executors. One bucket per cell by default, so
    * bucket = cell = unit of co-location. Centroids ride along under
    * `_ivf/` exactly as in [[writeClustered]]. */
  def writeBucketed(assigned: DataFrame, model: Model, name: String,
                    path: String, nBuckets: Int = 0): Unit = {
    val buckets = if (nBuckets > 0) nBuckets else model.centroids.length
    assigned.write.mode("overwrite")
      .bucketBy(buckets, "ivf_cell").sortBy("ivf_cell")
      .option("path", path).format("parquet").saveAsTable(name)
    writeCentroids(model, path)
  }

  /** [[knnJoin]] over a [[writeBucketed]] table: candidate side arrives
    * pre-partitioned from storage (no shuffle — spec-checked via the plan's
    * exchange count). */
  def knnJoinBucketed(spark: SparkSession, name: String, path: String,
                      idCol: String, vecCol: String, k: Int,
                      nProbe: Int): DataFrame =
    knnJoin(spark.table(name), readModel(path), idCol, vecCol, k, nProbe)

  /** ANN top-k over a [[writeClustered]] table: the cell IN-list reaches
    * partition pruning, so only probed directories are listed and read. */
  def searchClustered(spark: SparkSession, path: String, idCol: String,
                      vecCol: String, query: Array[Double], k: Int,
                      nProbe: Int): DataFrame =
    search(graft.plans.FooterSchemas.readParquet(spark, path), readModel(path), idCol, vecCol,
      query, k, nProbe)
}
