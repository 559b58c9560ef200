package graft.operators

import graft.SparkSpec
import graft.Tables
import org.apache.spark.sql.functions._

import java.nio.file.Files

class HnswGraphSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.df(spark, "/root/testdata/sf0.001", "embeddings").cache()

  private def freshPath(): String =
    Files.createTempDirectory("graft-hnsw").resolve("idx").toString

  test("level assignment is geometric, deterministic, and id-stable") {
    val ids = (0L until 100000L).toArray
    val levels = ids.map(HnswGraph.levelOf(_, 16))
    // P(level >= 1) = 1/16: expect ~6250 of 100k, generous band
    val atLeast1 = levels.count(_ >= 1)
    assert(atLeast1 > 5000 && atLeast1 < 7700, s"level>=1 count $atLeast1")
    val atLeast2 = levels.count(_ >= 2)
    assert(atLeast2 > 200 && atLeast2 < 600, s"level>=2 count $atLeast2")
    // pure function of the id — identical on re-evaluation (rebuild
    // stability: a surviving node keeps its level forever)
    assert(ids.take(1000).forall(id =>
      HnswGraph.levelOf(id, 16) == HnswGraph.levelOf(id, 16)))
    // pinned literals (independently recomputed): a drifted hash or
    // level formula would silently re-level every stored graph
    assert(Seq(0L, 1L, 42L, 10L, 21L, 48L).map(HnswGraph.levelOf(_, 16)) ==
      Seq(0, 0, 0, 1, 1, 1))
  }

  test("layered build: layer memberships nest and adjacency stays in-layer") {
    val (model, assigned) = IvfIndex.fit(emb, "embedding", nLists = 4)
    val g = HnswGraph.buildGraph(assigned, "vec_id", "embedding", m = 6, mL = 4)
    val rows = g.select($"vec_id", $"hnsw_level", $"hnsw_layers")
      .as[(Long, Int, Array[Array[Long]])].collect()
    assert(rows.nonEmpty)
    val levelOfId = rows.map(r => r._1 -> r._2).toMap
    rows.foreach { case (id, level, layers) =>
      assert(level == HnswGraph.levelOf(id, 4))
      assert(layers.length == level + 1, s"node $id: ${layers.length} layers")
      layers.zipWithIndex.foreach { case (nbrs, l) =>
        // insertion build caps layer 0 at 2m (the reference's mMax0),
        // upper layers at m
        assert(nbrs.length <= (if (l == 0) 12 else 6),
          s"node $id layer $l degree ${nbrs.length}")
        // a layer-l neighbour must itself live on layer l
        nbrs.foreach(n => assert(levelOfId(n) >= l,
          s"node $id layer $l points at $n of level ${levelOfId(n)}"))
      }
    }
    // mL=4 on ~1k vectors: at least one node above level 0, so the
    // descent actually has an upper layer to route through
    assert(rows.exists(_._2 >= 1), "degenerate fixture: no upper layer")
  }

  test("search finds the query's own vector and has high recall vs brute force") {
    val p = freshPath()
    val (model, assigned) = IvfIndex.fit(emb, "embedding", nLists = 4)
    HnswGraph.writeGraphIndexed(assigned, model, "vec_id", "embedding", p,
      m = 8, mL = 4)
    // the layout stays interchangeable with plain IVF search
    val q0 = emb.filter($"vec_id" === 3L)
      .selectExpr("transform(embedding, x -> CAST(x AS DOUBLE)) AS q")
      .as[Seq[Double]].head().toArray
    assert(IvfIndex.searchClustered(spark, p, "vec_id", "embedding",
      q0, 5, nProbe = 4).count() == 5)
    val queries = emb.filter($"vec_id" < 5L)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS q")
      .as[(Long, Seq[Double])].collect()
    val recalls = queries.map { case (qid, q) =>
      val approx = HnswGraph.searchGraph(spark, p, "vec_id", "embedding",
          q.toArray, 10, nProbe = 4, ef = 48)
        .as[(Long, Double)].collect()
      assert(approx.head._1 == qid && approx.head._2 == 1.0,
        s"query $qid did not find itself: ${approx.take(3).toSeq}")
      val truth = Similarity.cosineTopK(emb, "vec_id", "embedding",
        spark.range(1).select(lit(q.toArray).as("qvec")), 10)
        .as[(Long, Double)].collect().map(_._1).toSet
      (approx.map(_._1).toSet intersect truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.85, s"mean recall@10 too low: $mean")
  }

  test("upper-layer descent reaches a basin far from the entry's start") {
    // two far-apart clusters; layer-1 nodes exist in both, so the greedy
    // descent crosses to the query's basin before the layer-0 beam —
    // the entry-point routing the hierarchy exists for
    def mk(id: Long, base: Double) =
      (id, Array(base + (id % 7) * 1e-3, 1.0), 0, HnswGraph.levelOf(id, 2),
        Array.empty[Array[Long]])
    val nodes = ((0L until 40L).map(mk(_, 10.0)) ++
      (40L until 80L).map(mk(_, -10.0)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    // hand-build per-layer adjacency (m=3) with the production level fn
    val graph = nodes.map { case (id, v, _, level, _) =>
      val layers = (0 to level).map { l =>
        nodes.filter(o => o._1 != id && o._4 >= l)
          .map(o => (o._1, cos(o._2, v)))
          .sortBy { case (oid, s) => (-s, oid) }
          .take(3).map(_._1).toArray
      }.toArray
      id -> (v, level, layers)
    }.toMap
    assert(graph.exists { case (id, (_, lvl, _)) => lvl >= 1 && id >= 40L },
      "fixture needs an upper-layer node in the far cluster")
    val q = Array(-10.0, 1.0)
    val hits = HnswGraph.descendSearch(graph, q, ef = 8).toSeq
    assert(hits.nonEmpty && hits.head.id >= 40L,
      s"descent never reached the query's basin: ${hits.take(3)}")
  }

  test("flat cells (no upper-layer node) hub-seed the beam across basins") {
    // every id chosen level-0 (verified below); two far clusters — a
    // single fixed entry would be trapped in its own kNN component
    val ids = (0L until 3000L).filter(HnswGraph.levelOf(_, 16) == 0).take(80)
    assert(ids.length == 80)
    def vecOf(i: Int): Array[Double] =
      if (i < 40) Array(10.0 + (i % 7) * 1e-3, 1.0)
      else Array(-10.0 + (i % 7) * 1e-3, 1.0)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val vecs = ids.zipWithIndex.map { case (id, i) => id -> vecOf(i) }.toMap
    val graph = vecs.map { case (id, v) =>
      val nn = vecs.keys.filter(_ != id).toSeq
        .sortBy(o => (-cos(vecs(o), v), o)).take(3).toArray
      id -> (v, 0, Array(nn))
    }
    val idxOf = ids.zipWithIndex.toMap
    val q = Array(-10.0, 1.0)
    val hits = HnswGraph.descendSearch(graph, q, ef = 8).toSeq
    assert(hits.nonEmpty && idxOf(hits.head.id) >= 40,
      s"flat-cell search trapped in the wrong basin: ${hits.take(3)}")
  }

  test("insertion build: deterministic, connected, subquadratic growth") {
    val rnd = new scala.util.Random(11)
    def mk(n: Int) = Array.fill(n)(Array.fill(16)(rnd.nextDouble() - 0.5))
    val vecs = mk(1000)
    val levels = Array.tabulate(1000)(i => HnswGraph.levelOf(i.toLong, 16))
    val (a1, e1) = HnswGraph.insertBuild(vecs, levels, 8, 32)
    val (a2, e2) = HnswGraph.insertBuild(vecs, levels, 8, 32)
    // no RNG anywhere: byte-identical adjacency and identical eval count
    assert(e1 == e2)
    assert(a1.zip(a2).forall { case (x, y) =>
      x.zip(y).forall { case (p, q) => p.sameElements(q) } })
    // bidirectional insertion leaves no isolated node, and caps hold
    a1.zipWithIndex.foreach { case (layers, i) =>
      assert(layers(0).nonEmpty, s"node $i isolated on layer 0")
      layers.zipWithIndex.foreach { case (nbrs, l) =>
        assert(nbrs.length <= (if (l == 0) 16 else 8),
          s"node $i layer $l degree ${nbrs.length}")
        assert(!nbrs.contains(i), s"node $i self-loop at layer $l")
      }
    }
    // growth: quadrupling n must multiply PER-NODE evals by far less
    // than the 4x an all-pairs build shows (log-ish factor expected)
    val vecs4 = mk(4000)
    val levels4 = Array.tabulate(4000)(i => HnswGraph.levelOf(i.toLong, 16))
    val (_, e4) = HnswGraph.insertBuild(vecs4, levels4, 8, 32)
    val perNode1 = e1.toDouble / 1000
    val perNode4 = e4.toDouble / 4000
    assert(perNode4 / perNode1 < 2.0,
      s"build cost growing superlinearly: $perNode1 -> $perNode4 evals/node")
  }

  test("insertion build survives degenerate inputs") {
    // all-identical vectors: every candidate ties, the diversity check
    // rejects everything (sim-to-selected == sim-to-query) and the
    // keep-pruned backfill must still produce a connected graph
    val dup = Array.fill(64)(Array(1.0, 2.0, 3.0))
    val lv = Array.tabulate(64)(i => HnswGraph.levelOf(i.toLong, 16))
    val (adjDup, _) = HnswGraph.insertBuild(dup, lv, 4, 16)
    adjDup.zipWithIndex.foreach { case (layers, i) =>
      assert(layers(0).nonEmpty, s"node $i isolated under duplicate vectors")
    }
    // zero vectors (cosine 0 everywhere) and a NaN component: no crash,
    // no self-loops, caps hold
    val weird = Array(Array(0.0, 0.0), Array(1.0, 0.0), Array(Double.NaN, 1.0),
      Array(0.0, 1.0), Array(0.0, 0.0))
    val (adjW, _) = HnswGraph.insertBuild(weird,
      Array.fill(weird.length)(0), 2, 8)
    adjW.zipWithIndex.foreach { case (layers, i) =>
      assert(!layers(0).contains(i), s"self-loop at $i")
      assert(layers(0).length <= 4, s"cap exceeded at $i")
    }
  }

  /** Adjacency (every node, every layer) plus the eval count, hashed —
    * the build's exact output, pinned across kernel rewrites. */
  private def buildDigest(vecs: Array[Array[Double]], levels: Array[Int],
                          m: Int, ef: Int): String = {
    val (adj, evals) = HnswGraph.insertBuild(vecs, levels, m, ef)
    val sb = new StringBuilder
    adj.zipWithIndex.foreach { case (layers, i) =>
      sb.append(i).append(':')
      layers.foreach(l => sb.append(l.mkString(",")).append('|'))
      sb.append('\n')
    }
    sb.append("evals=").append(evals)
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(sb.toString.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
  }

  test("insertion build reproduces the pinned adjacency and eval count") {
    def gauss(n: Int, dim: Int, seed: Long): Array[Array[Double]] = {
      val r = new scala.util.Random(seed)
      Array.fill(n)(Array.fill(dim)(r.nextGaussian()))
    }
    def flat(n: Int) = Array.fill(n)(0)
    def layered(n: Int, mL: Int) = Array.tabulate(n)(i => HnswGraph.levelOf(i.toLong, mL))
    // coarse values: many exactly tied similarities, so every tie-break
    // on (sim, index) shows in the adjacency
    val coarse = {
      val r = new scala.util.Random(6)
      Array.fill(300)(Array.fill(4)((r.nextInt(5) - 2).toDouble))
    }
    // zero vectors and NaN components spread through a normal population
    val weird = gauss(120, 8, 7).zipWithIndex.map { case (v, i) =>
      if (i % 7 == 0) Array.fill(8)(0.0)
      else if (i % 11 == 0) v.updated(i % 8, Double.NaN)
      else v
    }
    // vectors of unequal length: cosine over the common prefix
    val ragged = {
      val r = new scala.util.Random(8)
      Array.tabulate(200)(i => Array.fill(8 + i % 3)(r.nextGaussian()))
    }
    val got = Seq(
      "flat260" -> buildDigest(gauss(260, 16, 1), flat(260), 8, 64),
      "flat1040" -> buildDigest(gauss(1040, 16, 2), flat(1040), 8, 64),
      "layered-mL4" -> buildDigest(gauss(600, 16, 3), layered(600, 4), 6, 48),
      "layered-mL16" -> buildDigest(gauss(1040, 16, 4), layered(1040, 16), 8, 64),
      "duplicates" -> buildDigest(Array.fill(64)(Array(1.0, 2.0, 3.0)),
        layered(64, 16), 4, 16),
      "zero-nan" -> buildDigest(weird, layered(120, 4), 4, 16),
      "tiny-zero-nan" -> buildDigest(Array(Array(0.0, 0.0), Array(1.0, 0.0),
        Array(Double.NaN, 1.0), Array(0.0, 1.0), Array(0.0, 0.0)), flat(5), 2, 8),
      "ties" -> buildDigest(coarse, layered(300, 4), 6, 32),
      "ragged-flat" -> buildDigest(ragged, flat(200), 6, 32),
      "ragged-layered" -> buildDigest(ragged, layered(200, 4), 6, 32))
    val pinned = Seq(
      "flat260" -> "74d2810641f65466", "flat1040" -> "d89592a1cdfa3409",
      "layered-mL4" -> "98d6f6d1de9792e6", "layered-mL16" -> "f212e95bf803e10a",
      "duplicates" -> "d45fe64146dd91f6", "zero-nan" -> "df1294e16a192476",
      "tiny-zero-nan" -> "b7ca6e42235a5f94", "ties" -> "e7b2cc46773fc284",
      "ragged-flat" -> "1ea9c2ce34aff4c3", "ragged-layered" -> "20295a9c078c165e")
    assert(got == pinned, got.map { case (k, v) => s"$k -> $v" }.mkString("\n"))
  }


  test("search is deterministic run to run") {
    val p = freshPath()
    val (model, assigned) = IvfIndex.fit(emb, "embedding", nLists = 4)
    HnswGraph.writeGraphIndexed(assigned, model, "vec_id", "embedding", p,
      m = 8, mL = 4)
    val q = emb.filter($"vec_id" === 7L)
      .selectExpr("transform(embedding, x -> CAST(x AS DOUBLE)) AS q")
      .as[Seq[Double]].head().toArray
    val r1 = HnswGraph.searchGraph(spark, p, "vec_id", "embedding", q, 10, 4)
      .as[(Long, Double)].collect().toSeq
    val r2 = HnswGraph.searchGraph(spark, p, "vec_id", "embedding", q, 10, 4)
      .as[(Long, Double)].collect().toSeq
    assert(r1 == r2 && r1.size == 10)
  }
}
