package graftbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

/** One record version of a versioned table: a key, payload fields, a
  * valid-time interval [vf, vt) (vt None = open) and an embedding. */
final case class Rec(key: Long, name: String, score: Long, tag: String,
                     vf: Long, vt: Option[Long], emb: Vector[Double]) {
  /** Logical size: 8 bytes per long and per double, UTF-8 bytes of text. */
  def bytes: Long = 8L * (4 + emb.size) + name.getBytes(UTF_8).length + tag.getBytes(UTF_8).length
}

object Rec {
  def cosine(a: Seq[Double], b: Seq[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.size) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** The benchmark's in-memory model of a versioned table: the full content
  * of every committed revision. Expected answers of reads are derived from
  * it by brute force; they never come from the program's own output. */
final class TableModel {
  private val revs = mutable.LinkedHashMap.empty[Int, Map[Long, Rec]]
  /** Logical bytes of every record version committed: each inserted or
    * changed record once, 8 bytes per deleted key. */
  var versionBytes = 0L

  def revisions: Seq[Int] = revs.keys.toSeq
  def head: Int = revs.keys.last
  def state(rev: Int): Map[Long, Rec] = revs(rev)
  def headState: Map[Long, Rec] = if (revs.isEmpty) Map.empty else revs(head)
  def nextRevision: Int = if (revs.isEmpty) 1 else head + 1

  /** Record the table's content at a new revision. */
  def commit(rev: Int, content: Map[Long, Rec]): Unit = {
    require(revs.isEmpty || rev > head, s"revision $rev after $head")
    val prior = headState
    versionBytes += content.valuesIterator.filter(r => !prior.get(r.key).contains(r)).map(_.bytes).sum +
      8L * prior.keysIterator.count(k => !content.contains(k))
    revs(rev) = content
  }

  /** `key:change` for every key that differs between two revisions. */
  def changes(r1: Int, r2: Int): Seq[String] = TableModel.changes(revs(r1), revs(r2))

  /** Revisions whose content holds `key`. */
  def keyRevisions(key: Long): Seq[Int] = revs.collect { case (r, s) if s.contains(key) => r }.toSeq

  /** `key:change:revision` for every change committed after `from`, each
    * revision against the revision before it in the log. */
  def feed(from: Int): Seq[String] = {
    val rs = revisions
    rs.indices.filter(i => rs(i) > from).flatMap { i =>
      val prior = if (i == 0) Map.empty[Long, Rec] else revs(rs(i - 1))
      TableModel.changes(prior, revs(rs(i))).map(c => s"$c:${rs(i)}")
    }.sorted
  }

  /** Keys whose valid-time interval holds `ts` at a revision. */
  def validAt(rev: Int, ts: Long): Seq[Long] =
    revs(rev).valuesIterator.filter(r => r.vf <= ts && r.vt.forall(_ > ts)).map(_.key).toSeq.sorted

  /** Exact cosine top-k at a revision, ties broken by key. */
  def topK(rev: Int, q: Seq[Double], k: Int): Seq[(Long, Double)] =
    revs(rev).valuesIterator.map(r => (r.key, Rec.cosine(r.emb, q))).toSeq
      .sortBy { case (key, s) => (-s, key) }.take(k)
}

object TableModel {
  /** Brute-force change set of two table states. */
  def changes(a: Map[Long, Rec], b: Map[Long, Rec]): Seq[String] =
    (a.keySet ++ b.keySet).toSeq.flatMap { k =>
      (a.get(k), b.get(k)) match {
        case (None, Some(_)) => Some(s"$k:insert")
        case (Some(_), None) => Some(s"$k:delete")
        case (Some(x), Some(y)) if x != y => Some(s"$k:update")
        case _ => None
      }
    }.sorted
}

/** Seeded generator of table records and of the changes a commit makes. */
final class RecGen(seed: Long, dims: Int) {
  private val rnd = new scala.util.Random(seed)
  private var nextKey = 1L

  def emb(): Vector[Double] = Vector.fill(dims)(math.rint(rnd.nextGaussian() * 1e4) / 1e4)

  def fresh(): Rec = {
    val k = nextKey
    nextKey += 1
    val vf = rnd.nextInt(100000).toLong
    val vt = if (rnd.nextInt(10) == 0) None else Some(vf + 100 + rnd.nextInt(5000))
    Rec(k, s"n${rnd.nextInt(1000000)}", rnd.nextInt(1000000).toLong, s"t${rnd.nextInt(8)}",
      vf, vt, emb())
  }

  /** A changed version of `r`: the score always moves; the valid time and
    * the embedding move sometimes. */
  def update(r: Rec): Rec = {
    val score = r.score + 1 + rnd.nextInt(1000)
    val moved = rnd.nextInt(4) == 0
    val vf = if (moved) rnd.nextInt(100000).toLong else r.vf
    val vt = if (moved) Some(vf + 100 + rnd.nextInt(5000)) else r.vt
    r.copy(score = score, vf = vf, vt = vt, emb = if (rnd.nextInt(3) == 0) emb() else r.emb)
  }

  /** `n` distinct keys of `state`, chosen by the generator. */
  def pick(state: Map[Long, Rec], n: Int): Seq[Long] = {
    val keys = state.keys.toVector.sorted
    rnd.shuffle(keys).take(n)
  }

  /** One merge: `nUpd` updated, `nIns` inserted and `nDel` deleted rows.
    * Returns (upserts, deleted keys, next state). */
  def change(state: Map[Long, Rec], nUpd: Int, nIns: Int, nDel: Int): (Seq[Rec], Seq[Long], Map[Long, Rec]) = {
    val touched = pick(state, nUpd + nDel)
    val upd = touched.take(nUpd).map(k => update(state(k)))
    val del = touched.drop(nUpd)
    val ins = Seq.fill(nIns)(fresh())
    val ups = upd ++ ins
    (ups, del, state -- del ++ ups.map(r => r.key -> r))
  }
}
