package graft.sources

import graft.SparkSpec
import graft.streaming.ChangeFeed
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The commit-time change sets (`rev=N/_changes`): every read they serve
  * — adjacent and composed diffs, the revision feed, vector-index
  * increments — must equal the same read recomputed from the snapshots,
  * over random commit histories (fixed seeds); a failing change-set job
  * must abort its commit; and a feed must read change sets, not
  * snapshots. */
class ChangeSetSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("tbl").toString

  // ---- random commit histories --------------------------------------

  private final case class Rec(key: Long, name: Option[String], score: Option[Double],
                               emb: Seq[Double], extra: Option[Int])

  private sealed trait Op
  private final case class Write(state: Seq[Rec]) extends Op
  private final case class Merge(upserts: Seq[Rec], deletes: Seq[Long]) extends Op
  private final case class CopyOf(pick: Int) extends Op
  private case object CompactHead extends Op
  private final case class CompactRevision(pick: Int) extends Op
  private case object AddColumn extends Op
  private final case class V2Append(state: Seq[Rec]) extends Op
  private case object Maintain extends Op

  private val Dims = 4

  private def recGen(key: Long, extra: Boolean): Gen[Rec] = for {
    name <- Gen.frequency((5, Gen.alphaStr.map(s => Option(s.take(6)))), (1, Gen.const(None)))
    score <- Gen.frequency((5, Gen.choose(-50.0, 50.0).map(Option(_))),
      (1, Gen.const(None)), (1, Gen.oneOf(0.0, -0.0).map(Option(_))))
    emb <- Gen.listOfN(Dims, Gen.choose(-1.0, 1.0))
    x <- Gen.choose(0, 3)
  } yield Rec(key, name, score, emb, if (extra) Some(x) else None)

  /** The next full state from `prior`: some keys updated (half of them
    * keep their embedding), some deleted, some inserted. */
  private def changeGen(prior: Map[Long, Rec], extra: Boolean): Gen[(Seq[Rec], Seq[Long])] = {
    val keys = prior.keys.toSeq.sorted
    val next = if (keys.isEmpty) 1L else keys.max + 1
    for {
      upd <- Gen.someOf(keys)
      del <- Gen.someOf(keys.filterNot(upd.contains)).map(_.take(3))
      nIns <- Gen.choose(0, 4)
      updated <- Gen.sequence[Seq[Rec], Rec](upd.toSeq.map(k => recGen(k, extra)))
      keepEmb <- Gen.listOfN(updated.size, Gen.prob(0.5))
      inserted <- Gen.sequence[Seq[Rec], Rec]((0 until nIns).map(i => recGen(next + i, extra)))
    } yield (updated.zip(keepEmb).map { case (r, keep) =>
      if (keep) r.copy(emb = prior(r.key).emb) else r } ++ inserted, del.toSeq)
  }

  private def frame(recs: Seq[Rec], extra: Boolean): DataFrame = {
    val fields = Seq(StructField("node_key", LongType, nullable = false),
      StructField("name", StringType), StructField("score", DoubleType),
      StructField("emb", ArrayType(DoubleType, containsNull = false))) ++
      (if (extra) Seq(StructField("extra", IntegerType)) else Nil)
    val rows = recs.sortBy(_.key).map(r => Row.fromSeq(
      Seq(r.key, r.name.orNull, r.score.map(Double.box).orNull, r.emb) ++
        (if (extra) Seq(r.extra.map(Int.box).orNull) else Nil)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), StructType(fields))
  }

  /** Run one random history against a fresh table; returns its path and
    * the revisions whose change set must be stored. */
  private def runHistory(seed: Long): (String, Set[Int]) = {
    val ops = Seq.newBuilder[String]
    val p = tmp(s"graft-changeset-prop-$seed")
    val params = Gen.Parameters.default
    var rng = Seed(seed)
    def draw[A](g: Gen[A]): A = {
      val (r, next) = (g.pureApply(params, rng), rng.next)
      rng = next
      r
    }
    var extra = false
    var state = Map.empty[Long, Rec]
    val states = scala.collection.mutable.Map.empty[Int, Map[Long, Rec]]
    val stored = scala.collection.mutable.Set.empty[Int]
    def commit(rev: Int, next: Map[Long, Rec], expectStored: Boolean): Unit = {
      states(rev) = next
      state = next
      if (expectStored) stored += rev
    }
    val first = draw(Gen.sequence[Seq[Rec], Rec]((1L to 12L).map(k => recGen(k, extra = false))))
    commit(TemporalTable.write(frame(first, extra), p), first.map(r => r.key -> r).toMap, false)
    VectorIndex.create(spark, p, "a", "node_key", "emb", nLists = 2, m = 4)
    VectorIndex.create(spark, p, "b", "node_key", "emb", nLists = 2, m = 4)
    (1 to 7).foreach { _ =>
      val revs = TemporalTable.commits(p).map(_.revision)
      val opGen: Gen[Op] = Gen.frequency(
        (4, changeGen(state, extra).map { case (u, d) => Merge(u, d) }),
        (2, changeGen(state, extra).map { case (u, d) =>
          Write((state -- d ++ u.map(r => r.key -> r)).values.toSeq) }),
        (1, Gen.choose(0, 100).map(CopyOf)),
        (1, Gen.const(CompactHead)),
        (1, Gen.choose(0, 100).map(CompactRevision)),
        (1, Gen.const(AddColumn)),
        (1, changeGen(state, extra).map { case (u, d) =>
          V2Append((state -- d ++ u.map(r => r.key -> r)).values.toSeq) }),
        (2, Gen.const(Maintain)))
      val op = draw(opGen)
      ops += op.getClass.getSimpleName.stripSuffix("$")
      op match {
        case Merge(ups, dels) =>
          val rev = TemporalTable.merge(spark, p, frame(ups, extra),
            Some(spark.createDataFrame(dels.map(Tuple1(_))).toDF("node_key")))
          commit(rev, state -- dels ++ ups.map(r => r.key -> r), true)
        case Write(next) =>
          commit(TemporalTable.write(frame(next, extra), p), next.map(r => r.key -> r).toMap, true)
        case V2Append(next) =>
          frame(next, extra).write.format("graft-temporal").mode("append").save(p)
          commit(TemporalTable.mostRecentRevision(p).get, next.map(r => r.key -> r).toMap, true)
        case CopyOf(pick) =>
          val src = revs(pick % revs.size)
          commit(TemporalTable.commitCopyOf(p, src), states(src), false)
        case CompactHead =>
          TemporalTable.compactHead(spark, p).foreach(r => commit(r, state, true))
        case CompactRevision(pick) =>
          RevisionCompaction.compactRevision(spark, p, revs(pick % revs.size))
        case AddColumn =>
          extra = true
          val next = state.map { case (k, r) => k -> r.copy(extra = Some((k % 3).toInt)) }
          commit(TemporalTable.write(frame(next.values.toSeq, extra), p), next, false)
        case Maintain => checkMaintain(p)
      }
    }
    info(s"seed $seed: ${ops.result().mkString(", ")}")
    (p, stored.toSet)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def assertSame(what: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq, s"$what: columns")
    val (g, w) = (rows(got), rows(want))
    assert(g == w, s"$what:\n  served   ${g.mkString(" ")}\n  expected ${w.mkString(" ")}")
  }

  /** Both indexes to the head — "a" from the change sets, "b" from the
    * snapshots — after checking the two increments agree; then their
    * layouts and searches must be identical. */
  private def checkMaintain(p: String): Unit = {
    val spec = VectorIndex.list(p).find(_.name == "a").get
    val (upTo, latest) = (VectorIndex.indexedUpTo(p, "a"), TemporalTable.mostRecentRevision(p).get)
    if (latest > upTo)
      assertSame(s"increment $upTo->$latest",
        VectorIndex.increment(spark, p, spec, upTo, latest),
        VectorIndex.increment(spark, p, spec, upTo, latest, changeSets = false))
    val na = VectorIndex.maintain(spark, p, "a")
    val nb = VectorIndex.maintainFrom(spark, p, "b", changeSets = false)
    assert(na == nb, s"indexed $na vs $nb")
    def layout(n: String) = spark.read.parquet(s"$p/_vecidx/$n")
      .select("node_key", "emb", "ivf_cell", "nsw_neighbors")
    assertSame("layout", layout("a"), layout("b"))
    val q = Array(0.3, -0.2, 0.5, 0.1)
    Seq(true, false).foreach(exact => assertSame(s"search exact=$exact",
      VectorIndex.search(spark, p, "a", q, k = 5, nProbe = 2, exact = exact),
      VectorIndex.search(spark, p, "b", q, k = 5, nProbe = 2, exact = exact)))
  }

  test("change sets serve diff, feed and maintain exactly as the snapshots do") {
    (1L to 3L).foreach { seed =>
      val (p, stored) = runHistory(seed)
      val revs = TemporalTable.commits(p).map(_.revision)
      // the history did exercise the change sets
      stored.foreach { r =>
        val prev = revs(revs.indexOf(r) - 1)
        assert(TemporalTable.changeSets(spark, p, prev, r).isDefined,
          s"seed $seed: revision $r has no trusted change set")
      }
      val pairs = revs.zip(revs.tail) ++
        Seq((revs.head, revs.last), (revs(revs.size / 2), revs.last), (revs.last, revs.head))
      pairs.distinct.foreach { case (r1, r2) =>
        assertSame(s"seed $seed diff $r1->$r2", TemporalTable.diff(spark, p, r1, r2),
          TemporalTable.diff(spark, p, r1, r2, hashPruned = false))
      }
      (0 +: revs.init).foreach { from =>
        assertSame(s"seed $seed feed from $from", ChangeFeed.revisionFeed(spark, p, from),
          ChangeFeed.windowedFeed(spark, p, from, Seq("node_key"), revs,
            revs.filter(_ > from)))
      }
      checkMaintain(p)
    }
  }

  private def simple(rows: (Long, Double)*): DataFrame = {
    val sp = spark
    import sp.implicits._
    rows.toDF("node_key", "price")
  }

  test("a feed over the last k revisions scans k change sets and no snapshot") {
    val p = tmp("graft-changeset-feed")
    (1 to 6).foreach(r => TemporalTable.write(
      simple((1L, r.toDouble), (r + 10L, 0.0), (2L, 2.0)), p))
    val feed = ChangeFeed.revisionFeed(spark, p, fromRevision = 3)
    val files = feed.inputFiles.toSeq
    assert(files.size == 3 && files.forall(_.contains("/_changes/")),
      s"feed read ${files.mkString(", ")}")
    assert(files.map(f => f.substring(f.indexOf("rev="), f.indexOf("/_changes"))).sorted ==
      Seq("rev=4", "rev=5", "rev=6"))
    // an adjacent diff is one change-set file
    val diff = TemporalTable.diff(spark, p, 5, 6)
    assert(diff.inputFiles.toSeq.map(_.contains(s"$p/rev=6/_changes/")) == Seq(true))
    val sp = spark
    import sp.implicits._
    assert(feed.select("revision", "node_key", "change_type").as[(Int, Long, String)]
      .collect().toSet == (4 to 6).flatMap(r => Seq((r, 1L, "update"),
        (r, r + 10L, "insert"), (r, r + 9L, "delete"))).toSet)
  }

  test("a failing change-set job aborts the commit and leaves no change set") {
    val p = tmp("graft-changeset-abort")
    TemporalTable.write(simple((1L, 1.0), (2L, 2.0)), p)
    // the change-set job is the only part of the next commit that reads
    // revision 1's data: garble that file so only this job fails
    val data = MetaIO.listFiles(s"$p/rev=1").map(f => s"$p/rev=1/${f._1}").head
    val nio = java.nio.file.Paths.get(new java.net.URI(
      if (data.startsWith("file:")) data else s"file://$data"))
    val saved = java.nio.file.Files.readAllBytes(nio)
    java.nio.file.Files.write(nio, Array.fill[Byte](saved.length)(7))
    intercept[Exception](TemporalTable.write(simple((1L, 1.5), (3L, 3.0)), p))
    assert(TemporalTable.commits(p).map(_.revision) == Seq(1))
    Seq(s"$p/rev=2", s"$p/_keyindex/rev=2").foreach(d =>
      assert(!MetaIO.exists(d), s"aborted commit left $d"))
    assert(!MetaIO.list(p).exists(n => n.startsWith(".changes-tmp") ||
      n.startsWith(".manifest-tmp")), s"temp dir left: ${MetaIO.list(p)}")
    // with the base readable again the next commit stores its change set
    java.nio.file.Files.write(nio, saved)
    val rev = TemporalTable.write(simple((1L, 1.5), (3L, 3.0)), p)
    assert(TemporalTable.commitDiffSidecars(p)(rev).changesBase.contains(1))
    assertSame("diff", TemporalTable.diff(spark, p, 1, rev),
      TemporalTable.diff(spark, p, 1, rev, hashPruned = false))
  }

  test("a change set against another base than the log predecessor is not trusted") {
    val p = tmp("graft-changeset-base")
    TemporalTable.write(simple((1L, 1.0), (2L, 2.0)), p)
    // a copy carries no change set of its own
    val copy = TemporalTable.commitCopyOf(p, 1)
    assert(!MetaIO.exists(TemporalTable.changesDir(p, copy)))
    // a reservation that commits AFTER a later revision: that revision's
    // change set was computed against revision `copy`, not its predecessor
    val slow = TemporalTable.reserveRevision(p)
    val fast = TemporalTable.write(simple((1L, 5.0), (3L, 3.0)), p)
    assert(TemporalTable.commitDiffSidecars(p)(fast).changesBase.contains(copy))
    simple((1L, 9.0), (2L, 2.0)).write.mode("overwrite").parquet(s"$p/rev=$slow")
    TemporalTable.logCommit(p, slow, "slow", "")
    assert(TemporalTable.changeSets(spark, p, slow, fast).isEmpty)
    assertSame("diff", TemporalTable.diff(spark, p, slow, fast),
      TemporalTable.diff(spark, p, slow, fast, hashPruned = false))
    val revs = TemporalTable.commits(p).map(_.revision)
    assertSame("feed", ChangeFeed.revisionFeed(spark, p, 0),
      ChangeFeed.windowedFeed(spark, p, 0, Seq("node_key"), revs, revs))
  }
}
