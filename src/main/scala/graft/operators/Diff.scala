package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semantic snapshot diff (SURVEY.md §2.9).
  *
  * The reference computes node-level diffs between two revisions with
  * hash-pruned tree walks (bundles/sirix-query/src/main/java/io/sirix/query/
  * function/jn/diff/Diff.java:71, bundles/sirix-core/src/main/java/io/sirix/
  * service/json/BasicJsonDiff.java). On Spark the same semantics are a
  * full-outer shuffle join on the stable key plus a column-compare —
  * partitioned by key, so it scales to arbitrarily large snapshots, and
  * cheap row comparison goes through a single xxhash64 over the compared
  * columns (the analog of the reference's stored subtree hashes,
  * diff/DiffFactory.java:47-159).
  */
object Diff {

  /** The bucket-id expression — ONE definition so [[bucketManifest]] and
    * [[prunedDiffFromManifests]]'s slice provably agree. */
  def bucketExpr(keys: Seq[String], numBuckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(keys.map(col): _*), lit(numBuckets))

  /** Null-aware row digest. Spark's hash functions SKIP null children, so
    * xxhash64(X, null) == xxhash64(null, X) — a null "shifting" between
    * columns would read as unchanged. Interleaving each column with its
    * isNull flag (always non-null) makes the folded input sequence differ
    * whenever the null pattern differs. Zero columns digest to a constant
    * (pure existence diff). */
  private def rowDigest(cols: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column =
    if (cols.isEmpty) lit(0L)
    else xxhash64(cols.flatMap(c => Seq(c, c.isNull)): _*)

  /** Change records between two snapshots of the same logical table.
    *
    * PRECONDITION: `keys` must uniquely identify a row within each
    * snapshot (the reference's nodeKey contract) — duplicate keys make
    * the full-outer join multiply matches and classification meaningless.
    *
    * @param left     old snapshot
    * @param right    new snapshot
    * @param keys     stable identity columns (the reference's nodeKey)
    * @param compare  columns whose change constitutes an "update"; defaults
    *                 to all shared non-key columns
    * @param includeSame keep unchanged rows (change_type = "same")
    * @return keys..., change_type ∈ insert|delete|update|same, and
    *         old_/new_ prefixed compared columns
    */
  def diff(left: DataFrame, right: DataFrame, keys: Seq[String],
           compare: Seq[String] = Seq.empty,
           includeSame: Boolean = false): DataFrame = {
    val cmp =
      if (compare.nonEmpty) compare
      else left.columns.toSeq.intersect(right.columns.toSeq).filterNot(keys.contains)

    // Prefix-rename BOTH sides before joining: when left and right derive
    // from the same DataFrame (adjacent snapshots of one changelog — the
    // common case), dataset-apply conditions like l(k) === r(k) hit
    // Spark's ambiguous-self-join resolution and can silently degenerate.
    // Unique names make the condition unambiguous by construction. One
    // projection per side: every Dataset step re-analyzes the whole plan.
    def prep(df: DataFrame, p: String): DataFrame =
      df.select((keys ++ cmp).map(c => col(c).as(p + c)) ++
        Seq(rowDigest(cmp.map(col)).as(p + "__hash"), lit(true).as(p + "__present")): _*)
    val l = prep(left, "__l_")
    val r = prep(right, "__r_")

    val joined = l.join(r,
      keys.map(k => col(s"__l_$k") === col(s"__r_$k")).reduce(_ && _), "full_outer")

    val changeType = when(col("__l___present").isNull, "insert")
      .when(col("__r___present").isNull, "delete")
      .when(col("__l___hash") =!= col("__r___hash"), "update")
      .otherwise("same")

    val keyCols = keys.map(k => coalesce(col(s"__l_$k"), col(s"__r_$k")).as(k))
    val valCols = cmp.flatMap(c =>
      Seq(col(s"__l_$c").as(s"old_$c"), col(s"__r_$c").as(s"new_$c")))

    val out = joined.select(keyCols ++ Seq(changeType.as("change_type")) ++ valCols: _*)
    if (includeSame) out else out.filter(col("change_type") =!= "same")
  }

  /** Hash-pruned diff (the reference's DiffOptimized.HASHED — skip
    * unchanged subtrees via stored hashes, diff/DiffFactory.java:47-159 —
    * re-expressed as bucket-manifest pruning).
    *
    * Both snapshots first reduce to a per-bucket manifest: bucket =
    * hash(keys) mod `numBuckets`, digest = xor of full row hashes (order-
    * insensitive, so it partial-aggregates map-side; the manifest shuffle
    * is `numBuckets` rows, not the table). Buckets whose digest+count
    * match on both sides provably contain no changes and are dropped
    * BEFORE the expensive full-outer join — for the
    * mostly-unchanged-snapshot case (the common one between adjacent
    * revisions) the join touches only the changed slice. Falls back to
    * identical results as [[diff]] (spec-verified).
    */
  def prunedDiff(left: DataFrame, right: DataFrame, keys: Seq[String],
                 compare: Seq[String] = Seq.empty,
                 numBuckets: Int = 65536): DataFrame = {
    val cmp =
      if (compare.nonEmpty) compare
      else left.columns.toSeq.intersect(right.columns.toSeq).filterNot(keys.contains)
    // cmp may legitimately be empty (pure existence diff): bucketManifest
    // takes it verbatim, digesting keys only — identically on both sides
    prunedDiffFromManifests(left, right,
      bucketManifest(left, keys, cmp, numBuckets),
      bucketManifest(right, keys, cmp, numBuckets),
      keys, cmp, numBuckets)
  }

  /** Per-bucket change manifest — the STORABLE form of [[prunedDiff]]'s
    * pruning pass (the reference's stored-hash design: hashes computed at
    * WRITE time, `diff/DiffFactory.java` DiffOptimized.HASHED +
    * CHANGED_NODES, so diff never scans unchanged data to discover it is
    * unchanged). Bucket = hash(keys) mod `numBuckets`; digest = xor of
    * full row hashes. Xor alone cancels PAIRS of identical rows ({A,A,C}
    * vs {B,B,C} would collide); a modular sum as a second digest breaks
    * that cancellation (reduced mod a prime so the long sum can't
    * overflow under ANSI). Both partial-aggregate map-side, so the
    * manifest exchange is ≤ `numBuckets` rows, never the table. The
    * hashed column list AND the bucket count ride along in `cols` so a
    * reader can verify a stored manifest matches its key/compare/bucket
    * choice (a bucket-count mismatch would silently mis-slice).
    * `compare` is taken VERBATIM — empty means digest the keys only (a
    * pure existence manifest); there is no implicit column default, so
    * two sides always digest the same set. */
  def bucketManifest(df: DataFrame, keys: Seq[String],
                     compare: Seq[String],
                     numBuckets: Int = 65536): DataFrame = {
    df.withColumn("__bucket", bucketExpr(keys, numBuckets))
      .withColumn("__rowhash", rowDigest((keys ++ compare).map(col)))
      .groupBy("__bucket")
      .agg(expr("bit_xor(__rowhash)").as("digest"),
        sum(pmod(col("__rowhash"), lit(1000003L))).as("digest_sum"),
        count(lit(1)).as("cnt"))
      .withColumn("cols", lit(manifestSignature(keys, compare, numBuckets)))
  }

  /** The validity string stored in a manifest's `cols` column. */
  def manifestSignature(keys: Seq[String], compare: Seq[String],
                        numBuckets: Int): String =
    (keys ++ compare).mkString(",") + s"|buckets=$numBuckets"

  /** Bucket ids that provably differ between two manifests (missing on
    * either side, or any digest/count mismatch), as a local relation:
    * a manifest has at most `numBuckets` rows by construction, so both
    * are compared on the driver — one collect each, and the slice's
    * broadcast of the result needs no job of its own. */
  def changedBuckets(ml: DataFrame, mr: DataFrame): DataFrame = {
    def load(m: DataFrame) =
      m.select("__bucket", "digest", "digest_sum", "cnt").collect()
        .map(r => r.getLong(0) -> r).toMap
    val (l, r) = (load(ml), load(mr))
    val ids = (l.keySet ++ r.keySet).filter(b => l.get(b) != r.get(b)).toSeq.sorted
    ml.sparkSession.createDataFrame(ids.map(Tuple1(_))).toDF("__bucket")
  }

  /** [[prunedDiff]] driven by STORED manifests: each snapshot is scanned
    * ONCE, and the manifests themselves are `numBuckets`-row sidecars —
    * for the mostly-unchanged adjacent-revision case this reads two tiny
    * files plus the changed slice, instead of scanning both snapshots
    * twice to recompute what the writer already knew.
    *
    * The slice is a broadcast semi-join against the changed bucket ids.
    * Two alternatives were measured same-JVM (r17) and both lost:
    * (a) a write-time materialized, cluster-sorted bucket COLUMN, which
    * would have made the slice a pushed scan predicate, costs ~45% on
    * every snapshot write and bloats files 9-20% (random hash ids do not
    * compress, and sorting by them destroys every other column's natural
    * run-length); (b) slicing with a literal IN of the changed ids adds
    * ~0.4 s of planning/codegen per call past ~1000 literals.
    * OPTIMIZATION_r17.md has the numbers. The ids themselves come from
    * [[changedBuckets]]'s driver-side comparison: at commit time, where
    * this runs beside the other sidecar jobs, the two manifest collects
    * and a job-free local broadcast shortened the change set's chain of
    * dependent jobs against a shuffle join of the manifests. */
  def prunedDiffFromManifests(left: DataFrame, right: DataFrame,
                              leftManifest: DataFrame, rightManifest: DataFrame,
                              keys: Seq[String], compare: Seq[String] = Seq.empty,
                              numBuckets: Int = 65536): DataFrame = {
    val cmp =
      if (compare.nonEmpty) compare
      else left.columns.toSeq.intersect(right.columns.toSeq).filterNot(keys.contains)
    val changed = changedBuckets(leftManifest, rightManifest)
    def slice(df: DataFrame) =
      df.join(broadcast(changed), bucketExpr(keys, numBuckets) === changed("__bucket"), "left_semi")
    diff(slice(left), slice(right), keys, cmp)
  }

  /** Compose per-revision change records into the change records between
    * the state before the first revision and the state after the last —
    * how stored change sets (a temporal table's `rev=N/_changes`, each
    * revision's [[diff]] against its predecessor) serve a diff across
    * several revisions, or a vector index's increment, without a
    * snapshot scan. Per key, the first record's `old_*` is the state
    * before (absent when that record is an insert) and the last record's
    * `new_*` the state after (absent when it is a delete); the pair then
    * classifies exactly as [[diff]] does, by the same row digest over
    * `compare`, so a key that changed and changed back drops out. The
    * digest equates values SQL equality equates (0.0 and -0.0): a
    * revision that only flips such a value records no change, so the
    * composed `old_*` can carry the later of two equal encodings.
    *
    * @param changes [[diff]]'s rows over `keys` and `compare`, plus
    *                `revCol` ordering each key's records
    * @return [[diff]]'s rows for the composed change
    */
  def composeChanges(changes: DataFrame, keys: Seq[String], compare: Seq[String],
                     revCol: String): DataFrame = {
    def side(prefix: String) =
      struct(col("change_type") +: compare.map(c => col(s"$prefix$c").as(c)): _*)
    val before = col("__first.change_type") =!= "insert"
    val after = col("__last.change_type") =!= "delete"
    def digest(s: String) = rowDigest(compare.map(c => col(s).getField(c)))
    val changeType = when(!before && after, "insert")
      .when(before && !after, "delete")
      .when(before && after && digest("__first") =!= digest("__last"), "update")
    changes.groupBy(keys.map(col): _*)
      .agg(min_by(side("old_"), col(revCol)).as("__first"),
        max_by(side("new_"), col(revCol)).as("__last"))
      .select(keys.map(col) ++ Seq(changeType.as("change_type")) ++
        compare.flatMap(c => Seq(col("__first").getField(c).as(s"old_$c"),
          col("__last").getField(c).as(s"new_$c"))): _*)
      .filter(col("change_type").isNotNull)
  }

  /** Change records in delta-storage shape (DeltaTemporalTable): keys
    * first, then `__change_type`, then the NEW values under their original
    * names (null for deletes). */
  def diffFrames(left: DataFrame, right: DataFrame, keys: Seq[String],
                 values: Seq[String]): DataFrame =
    diff(left, right, keys, values)
      .select(keys.map(col) ++ Seq(col("change_type").as("__change_type")) ++
        values.map(v => col(s"new_$v").as(v)): _*)
}
