package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.{TemporalTable, ValidTimeIndex, VectorIndex}
import graft.streaming.ChangeFeed

/** temporal_history: one versioned table with a valid-time policy and a
  * vector index on the NSW graph tier, read at every revision, followed
  * through its history and diffed; each round starts with one small merge
  * commit whose index maintenance is part of the commit. */
final class TemporalHistory(spark: SparkSession, seed: Long, val dir: String, trace: Tracer)
    extends Workload {
  import TemporalHistory._

  private val path = s"$dir/table"
  private val model = new TableModel
  private val gen = new RecGen(seed, Dims)
  private val commitTs = scala.collection.mutable.Map.empty[Int, Long]

  def versionBytes: Long = model.versionBytes

  /** The history: `HistoryDepth` revisions, each written through
    * `TemporalTable.write` as the full next state of the same seeded
    * change stream the rounds merge (a merge is such a write after a read
    * and two anti-joins). The valid-time policy is set on the existing
    * table before the last one, so only that revision pays for a sidecar,
    * and the vector index is built on it. */
  def setup(): Unit = {
    Steps(s"$HistoryDepth TemporalTable.write") {
      (1 to HistoryDepth).foreach { n =>
        val state =
          if (n == 1) Seq.fill(Rows)(gen.fresh()).map(r => r.key -> r).toMap
          else gen.change(model.headState, Updates, Inserts, Deletes)._3
        if (n == HistoryDepth) ValidTimeIndex.setPolicy(path, "vf", "vt", Granularity)
        model.commit(TemporalTable.write(Recs.frame(spark, state.values.toSeq), path), state)
      }
    }
    Steps("VectorIndex.create")(
      VectorIndex.create(spark, path, Index, "node_key", "emb", nLists = Lists, m = GraphM))
    refreshCommitTs()
  }

  def warmUp(): Unit = {
    val warm = new Harness(spark, new Tracer(false), 0)
    reads(warm, new scala.util.Random(seed * 7919 - 1))
    require(warm.failed == 0, s"temporal_history warm-up failed ${warm.failed} reads")
  }

  /** One merge commit plus the vector index maintenance it triggers;
    * returns (revision, vectors newly indexed). */
  private def merge(ups: Seq[Rec], del: Seq[Long]): (Int, Long) = {
    val upsDf = Recs.frame(spark, ups)
    val delDf = keyFrame(del)
    val rev = trace.span("commit:TemporalTable.merge", "sources") {
      TemporalTable.merge(spark, path, upsDf, Some(delDf))
    }
    val indexed = trace.span("index:VectorIndex.maintain", "sources") {
      VectorIndex.maintain(spark, path, Index)
    }
    (rev, indexed)
  }

  private def keyFrame(keys: Seq[Long]) = spark.createDataFrame(keys.map(Tuple1(_))).toDF("node_key")

  private def refreshCommitTs(): Unit =
    TemporalTable.commits(path).foreach(c => commitTs(c.revision) = c.commitTsMs)

  def round(h: Harness, r: Int): Unit = {
    val prior = model.headState
    val (ups, del, next) = gen.change(prior, Updates, Inserts, Deletes)
    // maintenance indexes every inserted row and every changed embedding
    val expected = Seq(s"rev ${model.nextRevision}",
      s"indexed ${ups.count(u => !prior.get(u.key).exists(_.emb == u.emb))}")
    val before = if (trace.enabled) Disk.usage(dir)._1 else 0L
    h.op("merge_commit", Commit)(merge(ups, del)) { case (rev, indexed) =>
      (Seq(s"rev $rev", s"indexed $indexed"), expected)
    }.foreach { case (rev, _) => model.commit(rev, next) }
    if (trace.enabled) trace.add("commit.files", (Disk.usage(dir)._1 - before).toDouble)
    refreshCommitTs()
    reads(h, new scala.util.Random(seed * 7919 + r))
  }

  /** One pass over the read classes. Which revisions are read depends on
    * the history's length only, so every run does reads of the same cost;
    * keys, thresholds, stab instants and query vectors come from `rnd`. */
  private def reads(h: Harness, rnd: scala.util.Random): Unit = {
    val revs = model.revisions
    val head = model.head

    // as-of revision: a key range of the first revision
    val rRev = revs.head
    val lo = 1L + rnd.nextInt(math.max(1, model.state(rRev).keys.max.toInt))
    h.op("asof_revision", Read) {
      val df = trace.span("plan:TemporalTable.read", "sources")(TemporalTable.read(spark, path, Some(rRev)))
      h.collect(df.filter(col("node_key").between(lo, lo + 63)).select("node_key", "score", "tag"))
    } { rows =>
      (rows.map(x => s"${x.getLong(0)}:${x.getLong(1)}:${x.getString(2)}").toSeq.sorted,
        model.state(rRev).values.filter(x => x.key >= lo && x.key <= lo + 63)
          .map(x => s"${x.key}:${x.score}:${x.tag}").toSeq.sorted)
    }

    // as-of timestamp: the revision current at a middle commit's instant, grouped
    val rTs = revs(revs.size / 2)
    val instant = commitTs(rTs)
    val resolved = revs.filter(commitTs(_) <= instant).last
    h.op("asof_timestamp", Read) {
      val df = trace.span("plan:TemporalTable.read", "sources")(
        TemporalTable.read(spark, path, asOfTsMs = Some(instant)))
      h.collect(df.groupBy("tag").agg(count(lit(1)), sum("score"), max("revision")))
    } { rows =>
      (rows.map(x => s"${x.getString(0)}:${x.getLong(1)}:${x.getLong(2)}:${x.getInt(3)}").toSeq.sorted,
        model.state(resolved).values.groupBy(_.tag).map { case (t, rs) =>
          s"$t:${rs.size}:${rs.map(_.score).sum}:$resolved" }.toSeq.sorted)
    }

    // the graft-temporal DataSource V2 read of the revision before the head
    val rV2 = revs(revs.size - 2)
    val minScore = rnd.nextInt(1000000).toLong
    h.op("dsv2_read", Read) {
      val df = trace.span("plan:graft-temporal", "sources")(
        spark.read.format("graft-temporal").option("path", path).option("revision", rV2.toString).load())
      h.collect(df.filter(col("score") > minScore).agg(count(lit(1)), sum("vf")))
    } { rows =>
      val hits = model.state(rV2).values.filter(_.score > minScore)
      (rows.map(x => s"${x.getLong(0)}:${Option(x.get(1)).getOrElse(0L)}").toSeq,
        Seq(s"${hits.size}:${hits.map(_.vf).sum}"))
    }

    // one record through its whole history
    val key = 1L + rnd.nextInt(model.headState.keys.max.toInt)
    h.op("record_history", Read) {
      val df = trace.span("plan:TemporalTable.recordRevisions", "sources")(
        TemporalTable.recordRevisions(spark, path, key))
      h.collect(df.select("revision"))
    } { rows => (rows.map(_.getInt(0).toString).toSeq, model.keyRevisions(key).map(_.toString)) }

    // the diff of the head and the revision before it
    val (r1, r2) = (revs(revs.size - 2), revs.last)
    h.op("diff", Read) {
      val df = trace.span("plan:TemporalTable.diff", "sources")(TemporalTable.diff(spark, path, r1, r2))
      h.collect(df.select("node_key", "change_type"))
    } { rows =>
      trace.add("diff.changes", rows.length.toDouble)
      (rows.map(x => s"${x.getLong(0)}:${x.getString(1)}").toSeq.sorted, model.changes(r1, r2))
    }

    // the revision feed of the last few commits
    val from = revs(revs.size - 1 - FeedDepth)
    h.op("feed", Read) {
      val df = trace.span("plan:ChangeFeed.revisionFeed", "streaming")(
        ChangeFeed.revisionFeed(spark, path, fromRevision = from))
      h.collect(df.select("node_key", "change_type", "revision"))
    } { rows =>
      (rows.map(x => s"${x.getLong(0)}:${x.getString(1)}:${x.getInt(2)}").toSeq.sorted, model.feed(from))
    }

    // a valid-time stab of the head revision
    val ts = rnd.nextInt(100000).toLong
    h.op("valid_at", Read) {
      val df = trace.span("plan:ValidTimeIndex.validAt", "sources")(ValidTimeIndex.validAt(spark, path, ts))
      h.collect(df.select("node_key"))
    } { rows => (rows.map(_.getLong(0)).toSeq.sorted.map(_.toString), model.validAt(head, ts).map(_.toString)) }

    // k nearest neighbours of a random query vector at the head
    val q = Vector.fill(Dims)(rnd.nextGaussian())
    h.op("knn", Read) {
      val df = trace.span("plan:VectorIndex.search", "operators")(
        VectorIndex.search(spark, path, Index, q.toArray, K, NProbe, exact = true))
      h.collect(df)
    } { rows =>
      val live = model.headState
      val got = rows.map(x => (x.getLong(0), x.getDouble(1))).toSeq
      val truth = model.topK(head, q, K).map(_._1).toSet
      trace.add("knn.asked", K)
      trace.add("knn.hits", got.count(g => truth.contains(g._1)))
      // each hit is a live key whose similarity is its current embedding's
      // cosine, ranked best first; recall against the exact top-k is a
      // layer metric, not a correctness condition (the probe is approximate)
      val sims = got.map(_._2)
      (got.map { case (k, s) =>
        if (live.get(k).exists(x => math.abs(Rec.cosine(x.emb, q) - s) <= 1e-4)) s"$k" else s"$k:bad-sim" } :+
        s"ranked ${sims == sims.sorted.reverse}" :+ s"n ${got.size}",
        got.map(_._1.toString) :+ "ranked true" :+ s"n ${math.min(K, live.size)}")
    }
  }
}

object TemporalHistory {
  val Rows = 1000
  /** Revisions at the end of set-up; each round adds one. */
  val HistoryDepth = 6
  val Dims = 16
  val Updates = 20
  val Inserts = 5
  val Deletes = 3
  val Granularity = 2500L
  val Index = "emb_nsw"
  val Lists = 4
  val GraphM = 8
  val K = 10
  val NProbe = 2
  val FeedDepth = 3
}
