package graft.operators

import graft.SparkSpec
import graft.Tables
import org.apache.spark.sql.functions._

import java.nio.file.Files

class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.df(spark, "/root/testdata/sf0.001", "embeddings").cache()

  test("fit assigns every row a cell; cells partition the table") {
    val (model, assigned) = IvfIndex.fit(emb, "embedding", nLists = 8)
    assert(model.centroids.length == 8)
    assert(assigned.count() == emb.count())
    val cells = assigned.select("ivf_cell").distinct().as[Int].collect().sorted
    assert(cells.nonEmpty && cells.forall(c => c >= 0 && c < 8))
  }

  test("fit on a hash-sample still assigns every row; sample is deterministic") {
    val (model, assigned) = IvfIndex.fit(emb, "embedding", nLists = 4,
      fitFraction = 0.5)
    assert(model.centroids.length == 4)
    assert(assigned.count() == emb.count(), "assignment must cover all rows")
    val again = IvfIndex.fit(emb, "embedding", nLists = 4, fitFraction = 0.5)._2
      .select("vec_id", "ivf_cell").as[(Long, Int)].collect().sorted.toSeq
    val first = assigned.select("vec_id", "ivf_cell")
      .as[(Long, Int)].collect().sorted.toSeq
    assert(first == again, "hash-sampled fit must be reproducible")
    // a fraction that samples fewer rows than nLists falls back to the
    // full input instead of crashing or under-delivering centroids
    val (tiny, tinyAssigned) = IvfIndex.fit(emb, "embedding", nLists = 4,
      fitFraction = 1e-9)
    assert(tiny.centroids.length == 4)
    assert(tinyAssigned.count() == emb.count())
  }

  test("writeClustered persists centroids; cell IN-list prunes the file listing") {
    val p = Files.createTempDirectory("graft-ivf").resolve("idx").toString
    val (model, assigned) = IvfIndex.fit(emb, "embedding", nLists = 8)
    IvfIndex.writeClustered(assigned, model, p)
    val restored = IvfIndex.readModel(p)
    assert(restored.centroids.length == 8)
    assert(restored.centroids.map(_.toSeq) sameElements model.centroids.map(_.toSeq))
    // a 2-cell probe must touch a strict subset of the data files
    val all = spark.read.parquet(p)
    val totalFiles = all.select(input_file_name()).distinct().count()
    val prunedFiles = all.filter($"ivf_cell".isin(0, 1))
      .select(input_file_name()).distinct().count()
    assert(prunedFiles < totalFiles,
      s"probe read $prunedFiles of $totalFiles files — partition pruning is not firing")
    // searchClustered over the persisted layout = search over the frame
    val query = emb.filter($"vec_id" === 3L)
      .selectExpr("transform(embedding, x -> CAST(x AS DOUBLE)) AS q")
      .as[Seq[Double]].head().toArray
    val fromDisk = IvfIndex.searchClustered(spark, p, "vec_id", "embedding",
      query, 5, nProbe = 3).as[(Long, Double)].collect().toSeq
    val fromFrame = IvfIndex.search(assigned, model, "vec_id", "embedding",
      query, 5, nProbe = 3).as[(Long, Double)].collect().toSeq
    assert(fromDisk == fromFrame)
  }

  test("search probes a subset of cells and still finds the true nearest") {
    val (model, assigned) = IvfIndex.fit(emb, "embedding", nLists = 8)
    val cached = assigned.cache()
    val query = emb.filter($"vec_id" === 7L)
      .selectExpr("transform(embedding, x -> CAST(x AS DOUBLE)) AS q")
      .as[Seq[Double]].head().toArray
    val ann = IvfIndex.search(cached, model, "vec_id", "embedding", query, 5, nProbe = 2)
      .as[(Long, Double)].collect()
    // the query vector itself lives in a probed cell → must rank first
    assert(ann.head._1 == 7L && ann.head._2 == 1.0)
    // probing 2 of 8 cells scans a strict subset
    val probed = model.nearestCentroids(query, 2)
    val scanned = cached.filter($"ivf_cell".isin(probed: _*)).count()
    assert(scanned < emb.count(), s"probe scanned all $scanned rows")
  }

  test("knnJoin: IVF candidates reproduce brute-force neighbors with high recall") {
    val (model, assigned) = IvfIndex.fit(emb, "embedding", nLists = 8)
    val cached = assigned.cache()
    val brute = Similarity.knnJoin(emb, "vec_id", "embedding", 5)
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ivf = IvfIndex.knnJoin(cached, model, "vec_id", "embedding", 5, nProbe = 4)
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // every probe row gets k neighbors from its probed cells
    assert(ivf.keySet == brute.keySet)
    assert(ivf.values.forall(_.size == 5))
    val recall = brute.keys.toSeq.map { id =>
      (ivf(id) intersect brute(id)).size.toDouble / brute(id).size
    }.sum / brute.size
    assert(recall >= 0.6, s"mean kNN-join recall too low: $recall")
  }

  test("recall@10 vs brute force is high at nProbe=4 of 8") {
    val (model, assigned) = IvfIndex.fit(emb, "embedding", nLists = 8)
    val cached = assigned.cache()
    val queries = emb.filter($"vec_id" < 5L)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS q")
      .as[(Long, Seq[Double])].collect()
    val recalls = queries.map { case (_, q) =>
      val truth = IvfIndex.search(cached, model, "vec_id", "embedding",
        q.toArray, 10, nProbe = 8).as[(Long, Double)].collect().map(_._1).toSet
      val approx = IvfIndex.search(cached, model, "vec_id", "embedding",
        q.toArray, 10, nProbe = 4).as[(Long, Double)].collect().map(_._1).toSet
      (approx intersect truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.6, s"mean recall@10 too low: $mean")
  }

  test("writeBucketed co-locates the kNN join: candidate side reads pre-partitioned") {
    val (model, assigned) = IvfIndex.fit(emb, "embedding", nLists = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-bkt").resolve("t").toString
    spark.sql("DROP TABLE IF EXISTS ivf_bucketed_spec")
    IvfIndex.writeBucketed(assigned, model, "ivf_bucketed_spec", dir)
    assert(IvfIndex.readModel(dir).centroids.length == 8)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = IvfIndex.knnJoinBucketed(spark, "ivf_bucketed_spec", dir,
        "vec_id", "embedding", 5, nProbe = 4)
      joined.collect() // finalize the adaptive plan before inspecting it
      // AQE prints final + initial plans; judge only the final one
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      // exactly ONE exchange clusters on the cell id — the exploded probe
      // side; the stored candidate side satisfies the join from its buckets
      val cellExchanges = "Exchange hashpartitioning\\(ivf_cell".r
        .findAllIn(plan).size
      assert(cellExchanges == 1,
        s"expected 1 cell-keyed exchange (probe side only), got $cellExchanges:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"candidate side did not read bucketed:\n$plan")
      // same answer as the in-memory variant
      val fromTable = joined.as[(Long, Long, Double, Int)].collect().sorted.toSeq
      val fromFrame = IvfIndex.knnJoin(assigned, model, "vec_id", "embedding", 5, nProbe = 4)
        .as[(Long, Long, Double, Int)].collect().sorted.toSeq
      assert(fromTable == fromFrame)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  test("assignCellsWithDistance: same argmin as assignCells, true winning distance") {
    val (model, _) = IvfIndex.fit(emb, "embedding", nLists = 6)
    val cells = IvfIndex.assignCells(emb, model, "embedding")
      .select("vec_id", "ivf_cell").as[(Long, Int)].collect().toMap
    val rows = IvfIndex.assignCellsWithDistance(emb, model, "embedding")
      .select("vec_id", "cluster", "dist").as[(Long, Int, Double)].collect()
    assert(rows.length == cells.size)
    rows.foreach { case (id, cluster, dist) =>
      assert(cluster == cells(id), s"vec $id: cluster $cluster != ${cells(id)}")
      assert(dist >= 0.0, s"vec $id: negative distance")
    }
    // spot-verify one distance against a driver-side recompute
    val (id0, cl0, d0) = rows.minBy(_._1)
    val v = emb.filter(org.apache.spark.sql.functions.col("vec_id") === id0)
      .selectExpr("transform(embedding, x -> CAST(x AS DOUBLE))")
      .as[Seq[Double]].head()
    val c = model.centroids(cl0)
    val expect = math.sqrt(v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum)
    assert(math.abs(d0 - expect) < 5e-5, s"dist $d0 vs recomputed $expect")
  }
}
