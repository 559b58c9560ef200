package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.PqExpressions

/** Product quantization (PQ) — the byte-budget tier of the ANN stack
  * (SURVEY.md §2.10 vector row; reference analog: the HNSW index stores
  * raw floats, bundles/sirix-core/src/main/java/io/sirix/index/vector/
  * VectorIndex.java — PQ is the layout that survives where raw floats
  * do not).
  *
  * Where [[Quantize]] (int8 scalar) cuts 4 bytes/dim to 1, PQ cuts the
  * whole vector to M bytes-ish: the dimension axis splits into M
  * sub-spaces, each fitted with its own k-centroid codebook; a vector
  * stores only its M nearest-centroid ids. A 768-dim float32 embedding
  * (3 KB) becomes a 16-int code — at 100 TB of raw embeddings, the code
  * table is ~0.5% of the size and FITS where the vectors cannot.
  *
  * Search is asymmetric distance computation (ADC): the query builds one
  * M×k lookup table driver-side ([[distTable]] — exact query-to-centroid
  * partials), and every candidate's approximate distance is M array
  * lookups ([[graft.functions.PqExpressions.PqAdc]], codegen) — no
  * vector is ever reconstructed. Composes with [[IvfIndex]] cell pruning
  * (IVF-PQ, the standard billion-scale layout): cells prune the listing,
  * ADC ranks the survivors from the code column alone, and an optional
  * exact re-rank rescores the short candidate list against the stored
  * float vectors.
  *
  * Fit cost: M independent k-means fits over the (optionally
  * hash-sampled) sub-vectors — the same bounded-multi-pass posture as
  * [[IvfIndex.fit]]; encode is one codegen pass, no shuffle.
  */
object Pq {

  /** `codebooks(m)(c)` = sub-space m's centroid c. */
  final case class Model(codebooks: Seq[Seq[Seq[Double]]]) {
    def m: Int = codebooks.length
    def k: Int = codebooks.head.length
    def subDim: Int = codebooks.head.head.length
    def dim: Int = m * subDim
  }

  /** Fit one codebook per sub-space. `dim` must divide into `m` equal
    * sub-spaces. `fitFraction` < 1 fits each k-means on a deterministic
    * hash-sample (same discipline as [[IvfIndex.fit]]). */
  def fit(df: DataFrame, vecCol: String, dim: Int, m: Int, k: Int = 256,
          seed: Long = 42L, fitFraction: Double = 1.0,
          maxIter: Int = 20): Model = {
    require(dim % m == 0, s"dim $dim must split into m=$m equal sub-spaces")
    require(k >= 1 && k <= 65536, s"k out of range: $k")
    val subDim = dim / m
    val base = df.filter(size(col(vecCol)) === dim)
    val sampled =
      if (fitFraction >= 1.0) base
      else {
        val s = base.filter(
          pmod(xxhash64(col(vecCol), lit(seed)), lit(1000000L)) <
            (fitFraction * 1000000L).toLong)
        if (s.limit(k).count() < k) base else s
      }
    // one cached pass feeds all M fits — the sample is small by contract.
    // Sub-vectors come from the UNIT vector (x/‖x‖): the codebooks model
    // directions, matching PqEncode's normalize contract — quantizing raw
    // vectors would make within-cell cosine ranking degenerate to 1/‖x‖
    // (every row in a cell shares the ADC numerator)
    // the norm is a separate projected column, NOT inlined in each slice
    // lambda (inlined it re-evaluates the O(dim) aggregate once per output
    // element → O(dim²)/row), and zero-norm rows are FILTERED here — a
    // nullif'd norm would null array *elements*, which na.drop (row-level
    // null columns only) passes through into array_to_vector/KMeans
    val pinned = sampled
      .withColumn("__norm", expr(s"sqrt(aggregate($vecCol, 0.0d, " +
        s"(a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"))
      .filter(col("__norm") > 0.0)
      .select(
        (0 until m).map(mi => expr(
          s"transform(slice($vecCol, ${mi * subDim + 1}, $subDim), " +
            s"x -> CAST(x AS DOUBLE) / __norm)")
          .as(s"__sub$mi")): _*).na.drop().cache()
    try {
      // materialize the shared sample ONCE before the concurrent fits —
      // racing first-jobs would each recompute the cache fill
      pinned.count()
      // the M sub-space fits are independent (each its own seed, each its
      // own column) and each is a chain of TINY jobs (k-means|| init +
      // maxIter aggregates over the bounded sample) whose cost is ~all
      // scheduling floor — run them CONCURRENTLY from a driver pool so
      // the jobs interleave instead of queueing (spark_optimization_guide
      // §2.6 "overlap independent jobs"; job descriptions/actions are
      // thread-safe). The model is bit-identical to the sequential fit:
      // per-fit seeds and the sorted-center order never depended on
      // inter-fit ordering.
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(m)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      val codebooks =
        // failure path: shutdownNow, not shutdown — a failed fit must not
        // leave the other m-1 fits recomputing the sampling lineage as
        // background jobs after `pinned` unpersists, and the non-daemon
        // pool threads would delay JVM exit until they drained
        // (ADVICE r16). Interrupting a running fit kills its Spark job
        // via the thread interrupt; the success path still uses the
        // orderly shutdown().
        try Await.result(Future.sequence((0 until m).map { mi => Future {
          // maxIter bounds the fit's JOB COUNT (m fits × iterations, each an
          // aggregate job): codebook quality plateaus early, and a capped,
          // seeded iteration count keeps the model deterministic
          val km = new KMeans().setK(k).setSeed(seed + mi).setMaxIter(maxIter)
            .setFeaturesCol("__fv").setPredictionCol("__cell")
          val fitted = km.fit(pinned.select(array_to_vector(col(s"__sub$mi")).as("__fv")))
          // stable codebook order: centroid ids are positional, so impose a
          // deterministic total order on the centers — the model is then
          // independent of k-means' internal center ordering
          fitted.clusterCenters.map(_.toArray.toSeq).toSeq
            .sortBy(_.mkString(","))
        }}), Duration.Inf)
        catch { case e: Throwable => pool.shutdownNow(); throw e }
        finally pool.shutdown()
      Model(codebooks)
    } finally { pinned.unpersist(); () }
  }

  /** `df` + `codesCol` (array<int> — one centroid id per sub-space,
    * quantizing the UNIT vector, [[graft.functions.PqExpressions.PqEncode]]'s
    * cosine contract) + `normCol` (the true L2 norm: the zero-vector
    * filter, and the magnitude if callers reconstruct). Codegen,
    * partition-local. */
  def encode(df: DataFrame, vecCol: String, model: Model,
             codesCol: String = "pq_codes", normCol: String = "pq_norm"): DataFrame = {
    val dvec = expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))")
    df.withColumn(codesCol, PqExpressions.pqEncode(dvec, model.codebooks))
      .withColumn(normCol,
        round(sqrt(graft.functions.VectorExpressions.dot(dvec, dvec)), 6))
  }

  /** The query's ADC lookup table. `metric` = "l2" (squared-L2 partials —
    * ADC sum approximates squared distance, smaller is closer) or "dot"
    * (inner-product partials — ADC sum approximates the dot product,
    * larger is closer; divide by norms for cosine). */
  def distTable(model: Model, query: Array[Double], metric: String): Seq[Seq[Double]] = {
    require(query.length == model.dim,
      s"query dim ${query.length} != model dim ${model.dim}")
    val subDim = model.subDim
    model.codebooks.zipWithIndex.map { case (book, mi) =>
      book.map { c =>
        var acc = 0.0
        var j = 0
        while (j < subDim) {
          val q = query(mi * subDim + j)
          if (metric == "l2") { val t = q - c(j); acc += t * t }
          else acc += q * c(j)
          j += 1
        }
        acc
      }
    }
  }

  /** ADC top-k by approximate cosine over an [[encode]]d frame: codes are
    * unit-vector quantizations ([[encode]]'s contract), the query
    * normalizes driver-side, so the ADC lookup sum IS the approximate
    * cosine — no per-row division, and the scan touches ONLY the code and
    * norm columns (parquet pruning — the float vectors, if stored at all,
    * stay unread). `refine` > 1 widens the ADC candidate list to
    * `refine·k` and exactly re-scores it against `vecCol` (which must
    * then still exist) — the standard PQ re-rank that recovers near-exact
    * top-k while still skipping ~all of the corpus. Output: (idCol, sim)
    * — rounded like every similarity surface here. */
  def searchCosine(encoded: DataFrame, model: Model, idCol: String,
                   query: Array[Double], k: Int, refine: Int = 1,
                   vecCol: String = "vec", codesCol: String = "pq_codes",
                   normCol: String = "pq_norm"): DataFrame = {
    require(refine >= 1, "refine must be >= 1")
    val qNorm = math.sqrt(query.map(x => x * x).sum)
    require(qNorm > 0, "searchCosine: zero query vector")
    val table = distTable(model, query.map(_ / qNorm), "dot")
    val approx = encoded
      .withColumn("__sim", PqExpressions.pqAdc(col(codesCol), table))
      .filter(col("__sim").isNotNull && col(normCol) > 0)
    if (refine <= 1)
      approx.select(col(idCol), round(col("__sim"), 4).as("sim"))
        .orderBy(desc("sim"), col(idCol)).limit(k)
    else {
      val qLit = array(query.map(lit): _*)
      approx
        .orderBy(desc("__sim"), col(idCol)).limit(refine * k)
        .withColumn("sim", round(Similarity.cosine(
          expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))"), qLit), 4))
        .select(col(idCol), col("sim"))
        .orderBy(desc("sim"), col(idCol)).limit(k)
    }
  }

  // ---- IVF-PQ: cell-pruned storage + code-only ranking ----------------

  /** Persist an IVF-PQ index: rows carry their IVF cell (hive partition —
    * listing-level pruning) and their PQ codes; the PQ model sidecar
    * rides under `_pq/` next to [[IvfIndex]]'s `_ivf/` centroids. Keeps
    * `vecCol` in the layout for exact re-rank (drop it upstream for a
    * code-only index). */
  def writeClusteredPq(assigned: DataFrame, ivf: IvfIndex.Model, pq: Model,
                       vecCol: String, path: String): Unit = {
    encode(assigned, vecCol, pq)
      .write.mode("overwrite").partitionBy("ivf_cell").parquet(path)
    val body = pq.codebooks.map(_.map(_.mkString(",")).mkString(";")).mkString("\n")
    graft.sources.MetaIO.mkdirs(s"$path/_pq")
    graft.sources.MetaIO.delete(s"$path/_pq/codebooks.txt")
    graft.sources.MetaIO.createNew(s"$path/_pq/codebooks.txt", body)
    val cbody = ivf.centroids.map(_.mkString(",")).mkString("\n")
    graft.sources.MetaIO.mkdirs(s"$path/_ivf")
    graft.sources.MetaIO.delete(s"$path/_ivf/centroids.txt")
    graft.sources.MetaIO.createNew(s"$path/_ivf/centroids.txt", cbody)
  }

  def readModel(path: String): Model = Model(
    graft.sources.MetaIO.readString(s"$path/_pq/codebooks.txt")
      .split('\n').filter(_.nonEmpty).toSeq
      .map(_.split(';').toSeq.map(_.split(',').toSeq.map(_.toDouble))))

  /** IVF-PQ search: prune to the query's `nProbe` cells (file-listing
    * pruning via the hive layout), rank the survivors by ADC cosine from
    * the code column alone, exact re-rank the top `refine·k` against the
    * stored vectors. At 100 TB this plan reads: the centroid sidecars
    * (driver), ~nProbe/nLists of the code column, and `refine·k` float
    * vectors — nothing else. */
  def searchClusteredPq(spark: SparkSession, path: String, idCol: String,
                        vecCol: String, query: Array[Double], k: Int,
                        nProbe: Int, refine: Int = 4): DataFrame = {
    val ivf = IvfIndex.readModel(path)
    val pq = readModel(path)
    val probes = ivf.nearestCentroids(query, nProbe)
    val pruned = graft.plans.FooterSchemas.readParquet(spark, path)
      .filter(col("ivf_cell").isin(probes: _*))
    searchCosine(pruned, pq, idCol, query, k, refine, vecCol = vecCol)
  }
}
