package graftbench

/** Unit checks of the benchmark's own statistics and models; exits non-zero
  * on the first failure. Run through `python3 graftbench/run.py --selftest`,
  * which also checks that an injected wrong answer counts as one failed
  * operation. */
object SelfTest {
  private var checks = 0

  private def check(name: String)(cond: Boolean): Unit = {
    checks += 1
    if (!cond) {
      System.err.println(s"selftest FAILED: $name")
      sys.exit(1)
    }
  }

  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  def main(args: Array[String]): Unit = {
    // statistics
    check("median odd")(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    check("median even")(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    check("median one")(Stats.median(Seq(7.0)) == 7.0)
    check("geomean")(close(Stats.geomean(Seq(1.0, 100.0)), 10.0))
    check("geomean of equal values")(close(Stats.geomean(Seq(3.0, 3.0, 3.0)), 3.0))
    check("geomean is scale-equivariant")(
      close(Stats.geomean(Seq(2.0, 8.0, 5.0).map(_ * 7)), 7 * Stats.geomean(Seq(2.0, 8.0, 5.0))))
    check("geomean rejects 0")(scala.util.Try(Stats.geomean(Seq(0.0, 1.0))).isFailure)
    check("covered length merges overlaps")(Stats.coveredLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    check("covered length of nested and empty")(Stats.coveredLength(Seq((0L, 10L), (2L, 3L), (4L, 4L))) == 10L)

    // the table model against brute force on random histories
    val gen = new RecGen(11, 4)
    val m = new TableModel
    var state = Seq.fill(200)(gen.fresh()).map(r => r.key -> r).toMap
    m.commit(1, state)
    (2 to 8).foreach { rev =>
      val (ups, del, next) = gen.change(state, 15, 4, 3)
      check(s"change rev $rev: deleted keys leave, upserts land")(
        del.forall(k => !next.contains(k)) && ups.forall(u => next.get(u.key).contains(u)))
      check(s"change rev $rev: every update changes the record")(
        ups.filter(u => state.contains(u.key)).forall(u => state(u.key) != u))
      m.commit(rev, next)
      state = next
    }
    val revs = m.revisions
    revs.zip(revs.tail).foreach { case (a, b) =>
      val sa = m.state(a).toSet
      val sb = m.state(b).toSet
      // brute force: a key changed iff its (key, record) pair is in one set difference
      val brute = ((sa -- sb).map(_._1) ++ (sb -- sa).map(_._1)).toSeq.sorted
      check(s"changes $a->$b equal the set difference")(m.changes(a, b).map(_.split(':')(0).toLong).sorted == brute)
      check(s"changes $a->$b classify by presence")(m.changes(a, b).forall { c =>
        val Array(k, t) = c.split(':')
        val key = k.toLong
        t == (if (!m.state(a).contains(key)) "insert" else if (!m.state(b).contains(key)) "delete" else "update")
      })
    }
    check("feed from the first revision is the adjacent change sets")(
      m.feed(1) == revs.zip(revs.tail).flatMap { case (a, b) => m.changes(a, b).map(c => s"$c:$b") }.sorted)
    check("feed from before the first revision starts with all inserts")(
      m.feed(0).count(_.endsWith(":1")) == m.state(1).size)
    val key = m.state(1).keys.head
    check("key revisions")(m.keyRevisions(key) == revs.filter(r => m.state(r).contains(key)))
    check("valid-at is the brute-force stab")((0L to 100000L by 997L).forall { ts =>
      m.validAt(revs.last, ts) == m.headState.values.filter(r => r.vf <= ts && r.vt.forall(ts < _)).map(_.key).toSeq.sorted
    })
    val q = Vector(1.0, 0.5, -0.25, 2.0)
    val top = m.topK(revs.last, q, 10)
    check("top-k is ranked and exact")(top.size == 10 && top.map(_._2) == top.map(_._2).sorted.reverse &&
      m.headState.values.forall(r => top.exists(_._1 == r.key) || Rec.cosine(r.emb, q) <= top.last._2))
    check("cosine of a vector with itself is 1")(close(Rec.cosine(q, q), 1.0))
    check("version bytes count each changed record once")({
      val mm = new TableModel
      val r = Rec(1, "a", 1, "t", 0, None, Vector(1.0))
      mm.commit(1, Map(1L -> r))
      mm.commit(2, Map(1L -> r))
      mm.commit(3, Map(1L -> r.copy(score = 2)))
      mm.commit(4, Map.empty)
      mm.versionBytes == 2 * r.bytes + 8
    })
    check("canonical JSON ignores key order")(
      JsoniqDocuments.canon("""{"b":1,"a":"x"}""") == JsoniqDocuments.canon("""{"a":"x","b":1}"""))
    println(s"selftest: $checks unit checks passed")
  }
}
