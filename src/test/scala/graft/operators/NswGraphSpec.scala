package graft.operators

import graft.SparkSpec
import graft.Tables
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** The flat (NSW) graph tier: [[HnswGraph]] with `mL` = 0, every node on
  * level 0, layer 0 stored as `nsw_neighbors`, searched by the hub-seeded
  * beam of [[HnswGraph.descendSearch]]. */
class NswGraphSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.df(spark, "/root/testdata/sf0.001", "embeddings").cache()

  private def freshPath(): String =
    Files.createTempDirectory("graft-nsw").resolve("idx").toString

  /** One flat cell as [[HnswGraph.descendSearch]] takes it. */
  private def flat(adj: Map[Long, (Array[Double], Array[Long])]) =
    adj.map { case (id, (v, nn)) => id -> (v, 0, Array(nn)) }

  test("graph search finds the query's own vector and has high recall vs brute force") {
    val p = freshPath()
    val (model, assigned) = IvfIndex.fit(emb, "embedding", nLists = 4)
    HnswGraph.writeGraphIndexed(assigned, model, "vec_id", "embedding", p,
      m = 8, mL = 0)

    val queries = emb.filter($"vec_id" < 5L)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS q")
      .as[(Long, Seq[Double])].collect()
    // the graph layout is writeClustered's + an adjacency column: plain IVF
    // search over it must work with the caller's original column names
    val ivfHits = IvfIndex.searchClustered(spark, p, "vec_id", "embedding",
      queries.head._2.toArray, 5, nProbe = 4)
    assert(ivfHits.count() == 5)
    val recalls = queries.map { case (qid, q) =>
      val approx = HnswGraph.searchGraph(spark, p, "vec_id", "embedding",
          q.toArray, 10, nProbe = 4, ef = 48)
        .as[(Long, Double)].collect()
      // all cells probed + the query's own vector present → it must rank first
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

  test("hub seeding reaches a basin disconnected from the min-id entry") {
    // two tight clusters far apart: the in-cell kNN graph (m=3) splits
    // into two components, so any single fixed entry point can only ever
    // reach its own component — the √n hub sample must span both
    def cluster(base: Double, ids: Range): Map[Long, Array[Double]] =
      ids.map(i => i.toLong -> Array(base + (i % 7) * 1e-3, 1.0)).toMap
    val vecs = cluster(10.0, 0 until 40) ++ cluster(-10.0, 40 until 80)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val graph = flat(vecs.map { case (id, v) =>
      val nn = vecs.keys.filter(_ != id).toSeq
        .sortBy(o => (-cos(vecs(o), v), o)).take(3)
      id -> (v, nn.toArray)
    })
    // a query sitting on the SECOND cluster (ids 40+, far from min id 0)
    val q = Array(-10.0, 1.0)
    val hits = HnswGraph.descendSearch(graph, q, ef = 8).toSeq
    assert(hits.nonEmpty && hits.head.id >= 40L,
      s"beam never escaped the min-id component: ${hits.take(3)}")
  }

  test("beam search is deterministic and bounded by ef") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 50L).map(i => i -> Array.fill(8)(rnd.nextDouble() - 0.5)).toMap
    val graph = flat(vecs.map { case (id, v) =>
      val nn = vecs.keys.filter(_ != id).toSeq
        .sortBy(o => -vecs(o).zip(v).map { case (x, y) => x * y }.sum).take(6)
      id -> (v, nn.toArray)
    })
    val q = Array.fill(8)(0.1)
    val r1 = HnswGraph.descendSearch(graph, q, ef = 10).toSeq
    val r2 = HnswGraph.descendSearch(graph, q, ef = 10).toSeq
    assert(r1 == r2)
    assert(r1.size <= 10)
    // sims are non-increasing
    assert(r1.sliding(2).forall {
      case Seq(a, b) => a.sim >= b.sim
      case _ => true
    })
  }

  test("flat search reproduces the pinned NSW top-10 per query") {
    val p = freshPath()
    val (model, assigned) = IvfIndex.fit(emb, "embedding", nLists = 4)
    HnswGraph.writeGraphIndexed(assigned, model, "vec_id", "embedding", p,
      m = 8, mL = 0)
    val queries = emb.filter($"vec_id" < 5L)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS q")
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val got = queries.map { case (qid, q) =>
      qid -> HnswGraph.searchGraph(spark, p, "vec_id", "embedding",
          q.toArray, 10, nProbe = 4, ef = 48).as[(Long, Double)].collect().toSeq
    }.toSeq
    // taken from the flat tier's own search before it folded into
    // HnswGraph: the flat layout must answer with the same ids and sims
    val pinned = Seq(
      0L -> Seq((0L, 1.0), (17L, 0.3345), (225L, 0.3151), (12L, 0.311), (483L, 0.3005),
        (260L, 0.2987), (73L, 0.2972), (212L, 0.2814), (347L, 0.2745), (402L, 0.2745)),
      1L -> Seq((1L, 1.0), (257L, 0.3918), (209L, 0.3815), (129L, 0.3515), (376L, 0.3048),
        (440L, 0.2993), (75L, 0.29), (455L, 0.2824), (479L, 0.2689), (247L, 0.2615)),
      2L -> Seq((2L, 1.0), (443L, 0.3576), (62L, 0.29), (246L, 0.2898), (185L, 0.2829),
        (91L, 0.2789), (234L, 0.2777), (441L, 0.254), (309L, 0.2523), (183L, 0.2506)),
      3L -> Seq((3L, 1.0), (223L, 0.3409), (205L, 0.3366), (84L, 0.3197), (212L, 0.3197),
        (426L, 0.3151), (156L, 0.3111), (72L, 0.3089), (278L, 0.2694), (382L, 0.2673)),
      4L -> Seq((4L, 1.0), (345L, 0.3749), (98L, 0.3398), (143L, 0.3297), (343L, 0.3124),
        (57L, 0.2987), (357L, 0.2954), (62L, 0.2886), (229L, 0.2678), (472L, 0.2663)))
    assert(got == pinned, got.mkString("\n"))
  }
}
