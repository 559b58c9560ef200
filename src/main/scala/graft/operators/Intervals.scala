package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Valid-time interval algebra (SURVEY.md §2.3 interval/stab row, §2.10
  * valid-time index row; reference: persistent Relational-Interval-Tree,
  * bundles/sirix-core/src/main/java/io/sirix/index/interval/
  * RelationalIntervalTree.java:39).
  *
  * A naive interval-overlap join is a non-equi condition → broadcast
  * nested loop, quadratic at scale. The scalable plan bucketizes the time
  * axis: each interval explodes to the fixed-width buckets it spans, the
  * join becomes an equi-join on bucket (hash-shuffle, partitioned, AQE-
  * splittable), the exact overlap predicate filters inside the bucket and
  * a distinct drops multi-bucket duplicates. Bucket width trades
  * replication (long intervals × many buckets) against bucket occupancy —
  * pick it near the median interval length.
  */
object Intervals {

  private def overlaps(aFrom: Column, aTo: Column, bFrom: Column, bTo: Column): Column =
    aFrom < bTo && bFrom < aTo // half-open [from, to)

  /** Overlap join of two interval tables on [fromCol, toCol) (half-open).
    * Output: all column pairs (left prefixed `l_`, right `r_`) for every
    * overlapping pair. `bucketWidth` is in the axis' units.
    *
    * OPEN intervals (null `toCol` — this module's [[stab]]/[[forkNode]]
    * convention): pass `openTo` = the axis top to substitute, and an open
    * interval overlaps everything from its start through the top (it
    * explodes to every bucket up there — fine when open rows are the few
    * currently-valid ones). Without `openTo` a null end FAILS the job
    * loudly: the previous behavior silently dropped the row (sequence of
    * a null endpoint is null, explode emits nothing), so every
    * currently-valid interval vanished from the join with no error. */
  def overlapJoin(left: DataFrame, right: DataFrame,
                  fromCol: String, toCol: String,
                  bucketWidth: Long, openTo: Option[Long] = None): DataFrame = {
    require(bucketWidth > 0)
    def endOf(c: Column): Column = openTo match {
      case Some(top) => coalesce(c, lit(top))
      case None => when(c.isNull, raise_error(lit(
          s"overlapJoin: null $toCol is an OPEN interval — pass openTo " +
            "(the axis top) to join open intervals")).cast("long"))
        .otherwise(c)
    }
    def bucketize(df: DataFrame, prefix: String): DataFrame =
      df.toDF(df.columns.map(prefix + _): _*)
        .withColumn("__bucket",
          explode(sequence(
            idiv(col(s"$prefix$fromCol"), bucketWidth),
            // inclusive end bucket of the last contained instant
            idiv(endOf(col(s"$prefix$toCol")) - 1, bucketWidth))))
    val l = bucketize(left, "l_")
    val r = bucketize(right, "r_")
    // An overlapping pair meets in every bucket both intervals span; keep
    // only the canonical match — the bucket containing max(l_from, r_from),
    // which overlap guarantees both spans contain. Exactly-once semantics
    // with NO distinct: duplicate input rows keep their multiplicity and
    // the extra dedup shuffle disappears.
    val canonicalBucket =
      idiv(greatest(col(s"l_$fromCol"), col(s"r_$fromCol")), bucketWidth)
    l.join(r, Seq("__bucket"))
      .filter(overlaps(col(s"l_$fromCol"), endOf(col(s"l_$toCol")),
        col(s"r_$fromCol"), endOf(col(s"r_$toCol"))))
      .filter(col("__bucket") === canonicalBucket)
      .drop("__bucket")
  }

  /** Stab query: intervals containing instant `ts` — a plain range
    * predicate (min/max file skipping applies; no join needed). */
  def stab(df: DataFrame, fromCol: String, toCol: String, ts: Column): DataFrame =
    df.filter(col(fromCol) <= ts && (col(toCol).isNull || col(toCol) > ts))

  /** Coarse relation classifier for two intervals (columns) — the 6-way
    * summary ([[allen]] below is the full 13-relation algebra). */
  def relation(aFrom: Column, aTo: Column, bFrom: Column, bTo: Column): Column =
    when(aTo <= bFrom, "before")
      .when(bTo <= aFrom, "after")
      .when(aFrom === bFrom && aTo === bTo, "equals")
      .when(aFrom >= bFrom && aTo <= bTo, "during")
      .when(bFrom >= aFrom && bTo <= aTo, "contains")
      .otherwise("overlaps")

  /** Full Allen interval algebra: exactly one of the 13 relations holds
    * for any two well-formed intervals (from < to). Case order encodes
    * the decision tree — each branch is reached only when the prior ones
    * failed, so the predicates stay minimal. Pure column expressions
    * (codegen'd); works on any ordered axis (epoch-ns longs here). */
  def allen(aFrom: Column, aTo: Column, bFrom: Column, bTo: Column): Column =
    when(aTo < bFrom, "before")
      .when(bTo < aFrom, "after")
      .when(aTo === bFrom, "meets")
      .when(bTo === aFrom, "met_by")
      .when(aFrom === bFrom && aTo === bTo, "equals")
      .when(aFrom === bFrom && aTo < bTo, "starts")
      .when(aFrom === bFrom, "started_by") // aTo > bTo
      .when(aTo === bTo && aFrom > bFrom, "finishes")
      .when(aTo === bTo, "finished_by") // aFrom < bFrom
      .when(aFrom > bFrom && aTo < bTo, "during")
      .when(aFrom < bFrom && aTo > bTo, "contains")
      .when(aFrom < bFrom, "overlaps") // aTo in (bFrom, bTo)
      .otherwise("overlapped_by")

  /** Coalesce intervals per key: overlapping or ADJACENT (half-open:
    * `[1,3)` + `[3,5)` = `[1,5)`) intervals merge into maximal islands —
    * the classic temporal-normalization step (a bitemporal table's valid
    * periods after piecewise updates). One key-partitioned window + one
    * aggregate: the running max of prior ends marks island starts, a
    * running count of starts labels islands, min/max per island emits the
    * merged intervals. Shuffles once on the keys — no self-join, no
    * quadratic pair scan, per-key work linear in its interval count.
    *
    * A null `to` is an OPEN interval `[from, ∞)` (this module's [[stab]]
    * convention): it absorbs every later interval of its key, and an
    * island containing one ends open (null). The null handling is
    * explicit flags, not a sentinel — `max` skips SQL nulls, so a naive
    * running max would silently split islands after an open row. */
  def coalesceIntervals(df: DataFrame, keys: Seq[String],
                        fromCol: String, toCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(fromCol), col(toCol))
    val prec = w.rowsBetween(Window.unboundedPreceding, -1)
    val prevMaxTo = max(col(toCol)).over(prec)
    // null if no preceding row; 1 if any preceding interval is open
    val prevOpen = max(col(toCol).isNull.cast("int")).over(prec)
    val isStart = when(prevOpen.isNull, 1) // first row of the key
      .when(prevOpen === 1, 0) // an open predecessor covers everything
      .when(col(fromCol) > prevMaxTo, 1)
      .otherwise(0)
    df.withColumn("__island",
        sum(isStart).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy((keys.map(col) :+ col("__island")): _*)
      .agg(min(col(fromCol)).as(fromCol),
        when(max(col(toCol).isNull.cast("int")) === 1, lit(null))
          .otherwise(max(col(toCol))).as(toCol))
      .drop("__island")
  }

  /** Duration-weighted aggregate per key: each interval's value weighted
    * by its length — `avg` = Σ v·(to−from) / Σ (to−from), plus the total
    * covered duration. The standard temporal-aggregation reading of a
    * piecewise-constant signal (sensor states, price validity periods).
    * One aggregate, map-side partials. */
  def timeWeightedAvg(df: DataFrame, keys: Seq[String], fromCol: String,
                      toCol: String, valueCol: String): DataFrame = {
    val dur = col(toCol) - col(fromCol)
    df.groupBy(keys.map(col): _*)
      .agg(sum(dur).as("total_duration"),
        (sum(col(valueCol) * dur) / sum(dur)).as("weighted_avg"))
  }

  // ---- RI-tree fork nodes (valid-time index, SURVEY §2.10 / §4.3 item 2;
  // reference: index/interval/RelationalIntervalTree.java — each interval
  // registers at the highest virtual binary-tree node it contains, and a
  // stab query visits only the ≤64 tree nodes on the root path of the
  // queried instant) ----

  /** Exact integral division (Catalyst IntegralDivide) — `Column./` is
    * double division, which silently loses low bits past 2^53 and would
    * desync the written forks from the driver-side [[stabNodes]] integer
    * arithmetic on ns-epoch axes. */
  private def idiv(c: Column, d: Long): Column = {
    import org.apache.spark.sql.graftbridge.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{IntegralDivide, Literal}
    GraftBridge.column(IntegralDivide(
      GraftBridge.expression(c.cast("long")), Literal(d)))
  }

  /** The RI-tree fork node of the half-open interval `[from, to)` on the
    * coarsened axis (`value div granularity`): the common bit-prefix of
    * the endpoints with the first differing bit forced to 1 — pure integer
    * bit arithmetic (codegen'd; the bit-smear replaces a loop), no UDF.
    * Every instant the interval contains has this node on its root path.
    * A null `to` is an OPEN interval `[from, ∞)`: it registers at the fork
    * of `[from, axisTop]`, which is on the root path of every instant ≥
    * from up to the axis top. */
  def forkNode(from: Column, to: Column, granularity: Long,
               axisTopCoarse: Column): Column = {
    require(granularity > 0)
    val f = idiv(from, granularity)
    val t = coalesce(idiv(to - 1, granularity), axisTopCoarse) // inclusive coarse end
    val d = f.bitwiseXOR(t)
    // smear the msb of d downward: m = 2^(p+1)-1 where p = msb position
    val m = Seq(1, 2, 4, 8, 16, 32).foldLeft(d)((acc, s) =>
      acc.bitwiseOR(shiftright(acc, s)))
    // clear t's bits below p (bit p of t is 1 — t > f and first diff at p)
    when(d === 0, f).otherwise(t.bitwiseAND(bitwise_not(shiftright(m, 1))))
  }

  /** Driver-side: the ≤64 tree nodes on the root path of instant `ts` —
    * the complete set of fork values any interval containing `ts` can
    * carry. This is the stab query's IN-list (partition pruning does the
    * rest). */
  def stabNodes(ts: Long, granularity: Long): Seq[Long] = {
    require(granularity > 0 && ts >= 0)
    val g = ts / granularity
    (g +: (0 to 62).map(p => ((g >> (p + 1)) << (p + 1)) | (1L << p))).distinct
  }

  /** Metadata keys stamped on the `__fork` column so the optimizer rule
    * ([[graft.plans.ValidTimeStabRule]]) can recognize an interval-indexed
    * table and recover its axis columns without any side catalog. */
  val ForkCol = "__fork"
  val ForkPartCol = "__fork_part"
  val MetaFrom = "graft.interval.from"
  val MetaTo = "graft.interval.to"
  val MetaGranularity = "graft.interval.granularity"
  val MetaAxisMax = "graft.interval.axismax"

  /** Write `df` as a fork-partitioned interval table: `__fork` is a data
    * column carrying the index metadata (survives the parquet round-trip);
    * `__fork_part` duplicates it as a hive partition column so a stab
    * query's fork IN-list prunes the FILE LISTING, not just row groups —
    * at 100 TB the directory selection is what keeps a stab query from
    * listing the world. `from` must be non-null on a non-negative long
    * axis; a null `to` is an open (currently-valid) interval — it
    * registers at the top of the axis tree and every in-axis stab finds
    * it. */
  def writeIndexed(df: DataFrame, path: String, fromCol: String, toCol: String,
                   granularity: Long): Unit =
    require(tryWriteIndexed(df, path, fromCol, toCol, granularity),
      s"writeIndexed: input is empty (or every $fromCol is null) — nothing to index at $path")

  /** [[writeIndexed]] that reports an empty input as `false` instead of
    * failing — the commit-maintenance path ([[graft.sources
    * .ValidTimeIndex]]) skips the sidecar for an empty revision rather
    * than failing the commit. */
  def tryWriteIndexed(df: DataFrame, path: String, fromCol: String, toCol: String,
                      granularity: Long): Boolean = {
    // axis cap: no interval registers a fork above its own coarse end, so
    // a stab IN-list never needs nodes beyond the axis max — recording it
    // keeps the list ~log2(axis) long and inside the partition column's
    // inferred integral type. Open intervals (null to) bound it by their
    // start instead.
    val maxCoarseRow = df
      .agg(max(coalesce(idiv(col(toCol) - 1, granularity), idiv(col(fromCol), granularity))))
      .head()
    if (maxCoarseRow.isNullAt(0)) return false
    val maxCoarse = maxCoarseRow.getLong(0)
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString(MetaFrom, fromCol)
      .putString(MetaTo, toCol)
      .putLong(MetaGranularity, granularity)
      .putLong(MetaAxisMax, maxCoarse)
      .build()
    df.withColumn(ForkCol,
        forkNode(col(fromCol), col(toCol), granularity, lit(maxCoarse))
          .as(ForkCol, meta))
      .withColumn(ForkPartCol, col(ForkCol))
      // cluster rows by fork BEFORE the partitioned write: without it,
      // every input task writes one small file into every fork directory
      // it touches (files = tasks x forks — measured 8x slower stabs at
      // 10M intervals from file-open overhead alone). Range-partition on
      // (fork, from) rather than hash-partition on fork alone: the
      // axis-top fork collects every open interval (and root forks the
      // long ones), so fork-only clustering gave a hot fork exactly one
      // task and one oversized file; under range partitioning a hot fork
      // spans several consecutive range buckets (split by `from`, so its
      // files also stay time-clustered) while cold forks share buckets —
      // each still writes its own packed file via partitionBy. The
      // bucket count is explicit (the session's shuffle partitions):
      // with none, AQE coalesces a small revision's buckets into ONE
      // task that then opens every fork file serially — each write
      // opens a file per fork, so that task was most of the commit.
      .repartitionByRange(df.sparkSession.sessionState.conf.numShufflePartitions,
        col(ForkPartCol), col(fromCol))
      .write.mode("overwrite").partitionBy(ForkPartCol).parquet(path)
    true
  }

  /** Read an interval-indexed table (restores the `__fork` metadata, which
    * hive-partition discovery strips from `__fork_part`; the schema comes
    * from one footer on the driver, no inference job). */
  def readIndexed(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    graft.plans.FooterSchemas.readParquet(spark, path)
}
