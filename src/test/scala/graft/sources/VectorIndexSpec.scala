package graft.sources

import graft.SparkSpec
import graft.operators.{HnswGraph, IvfIndex}
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Local disk under the `vrec` scheme: records the path of every file
  * opened for reading, and fails every create whose path `failCreate`
  * accepts. Registered through `fs.vrec.impl`. */
class RecordingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.Path
  override def getScheme: String = "vrec"
  override def getUri: java.net.URI = java.net.URI.create("vrec:///")
  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    RecordingFs.opened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
  private def check(f: Path): Unit =
    if (RecordingFs.failCreate(f.toUri.getPath))
      throw new java.io.IOException(s"injected create failure: $f")
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: org.apache.hadoop.util.Progressable
                     ): org.apache.hadoop.fs.FSDataOutputStream = {
    check(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission,
                      overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: org.apache.hadoop.util.Progressable
                     ): org.apache.hadoop.fs.FSDataOutputStream = {
    check(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object RecordingFs {
  val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]
  @volatile var failCreate: String => Boolean = _ => false
}

/** Incremental vector-index maintenance (the VectorIndexListener analog):
  * commit a new revision into an indexed table, maintain, and the
  * IVF/NSW search paths see the new vectors WITHOUT a rebuild — untouched
  * cells keep their exact files. */
class VectorIndexSpec extends SparkSpec {
  import spark.implicits._

  /** Four well-separated clusters on a circle: unit vector at the cluster
    * angle ± a deterministic per-id wobble of up to 0.3 rad. The wobble
    * slots (id·37 mod 101) keep every pair of same-cluster vectors ≥
    * ~0.012 rad apart, so cosine similarities are DISTINCT at the search
    * paths' 4-decimal rounding — a query equal to one member's vector has
    * that member as its unique top hit, no tie-break masking. */
  private def vec(cluster: Int, salt: Long): Array[Double] = {
    val slot = ((salt * 37) % 101).toDouble
    val theta = cluster * math.Pi / 2.0 + slot / 101.0 * 0.6 - 0.3
    Array(math.cos(theta), math.sin(theta))
  }

  private def rows(ids: Seq[Long]): org.apache.spark.sql.DataFrame =
    ids.map(id => (id, vec((id % 4).toInt, id).toSeq))
      .toDF("node_key", "embedding")

  private def cellFiles(path: String): Map[String, Set[String]] =
    MetaIO.listDirs(path).filter(_.startsWith("ivf_cell=")).map { d =>
      d -> MetaIO.list(s"$path/$d").filter(_.endsWith(".parquet")).toSet
    }.toMap

  test("assignCells matches the ML fit's own assignment") {
    val df = rows(0L until 64L)
    val (model, assigned) = IvfIndex.fit(df, "embedding", nLists = 4)
    val re = IvfIndex.assignCells(df, model, "embedding")
    val a = assigned.select("node_key", "ivf_cell").as[(Long, Int)].collect().toMap
    val b = re.select("node_key", "ivf_cell").as[(Long, Int)].collect().toMap
    assert(a == b, "codegen assignment disagrees with KMeansModel.transform")
  }

  test("plain IVF: maintain appends new vectors; untouched cells keep their files") {
    val p = Files.createTempDirectory("graft-vecidx").resolve("tbl").toString
    TemporalTable.write(rows(0L until 64L), p)
    VectorIndex.create(spark, p, "emb", "node_key", "embedding", nLists = 4)
    assert(VectorIndex.indexedUpTo(p, "emb") == 1)
    val idxPath = s"$p/_vecidx/emb"
    val before = cellFiles(idxPath)

    // rev 2 appends ids 100-103, ALL in cluster 0 (ids ≡ 0 mod 4)
    val newIds = Seq(100L, 104L, 108L, 112L)
    TemporalTable.write(rows((0L until 64L) ++ newIds), p)
    val n = VectorIndex.maintain(spark, p, "emb")
    assert(n == 4, s"maintained $n vectors, expected 4")
    assert(VectorIndex.indexedUpTo(p, "emb") == 2)

    // the new vectors' cell gained files; every other cell kept its exact set
    val after = cellFiles(idxPath)
    val model = IvfIndex.readModel(idxPath)
    val newCell = s"ivf_cell=${IvfIndex.assignCells(rows(newIds), model, "embedding")
      .select("ivf_cell").distinct().as[Int].head()}"
    before.foreach { case (cell, files) =>
      if (cell != newCell)
        assert(after(cell) == files, s"untouched $cell was rewritten")
    }
    assert(after(newCell).size > before.getOrElse(newCell, Set.empty).size)

    // search finds a new vector as its own top hit
    val q = vec(0, 100L)
    val top = IvfIndex.searchClustered(spark, idxPath, "node_key", "embedding",
      q, k = 3, nProbe = 1).select("node_key").as[Long].collect()
    assert(top.contains(100L), s"new vector not found: ${top.toSeq}")
    // maintain is idempotent at the same watermark
    assert(VectorIndex.maintain(spark, p, "emb") == 0L)
  }

  test("NSW: maintain patches only affected cells; graph search reaches new vectors") {
    val p = Files.createTempDirectory("graft-vecidx-nsw").resolve("tbl").toString
    TemporalTable.write(rows(0L until 64L), p)
    VectorIndex.create(spark, p, "g", "node_key", "embedding", nLists = 4, m = 4)
    val idxPath = s"$p/_vecidx/g"
    val before = cellFiles(idxPath)

    val newIds = Seq(101L, 105L, 109L) // cluster 1 (ids ≡ 1 mod 4)
    TemporalTable.write(rows((0L until 64L) ++ newIds), p)
    assert(VectorIndex.maintain(spark, p, "g") == 3)

    val model = IvfIndex.readModel(idxPath)
    val newCell = s"ivf_cell=${IvfIndex.assignCells(rows(newIds), model, "embedding")
      .select("ivf_cell").distinct().as[Int].head()}"
    val after = cellFiles(idxPath)
    before.foreach { case (cell, files) =>
      if (cell != newCell)
        assert(after(cell) == files, s"unaffected $cell was rewritten")
    }
    assert(after(newCell) != before(newCell), "affected cell was not rewritten")

    // beam search over the patched graph reaches a new vector: existing
    // members must have gained edges to it (append-without-patch would
    // leave it unreachable except as a hub seed)
    val q = vec(1, 101L)
    val top = HnswGraph.searchGraph(spark, idxPath, "node_key", "embedding",
      q, k = 3, nProbe = 1, ef = 16).select("node_key").as[Long].collect()
    assert(top.contains(101L), s"patched graph missed the new vector: ${top.toSeq}")
    // new vectors also carry adjacency of their own
    val deg = spark.read.parquet(idxPath)
      .filter(col("node_key").isin(newIds: _*))
      .select(size(col("nsw_neighbors"))).as[Int].collect()
    assert(deg.forall(_ > 0), "new vectors have empty adjacency")
  }

  test("HNSW tier: layered layout maintained, searched and purged like NSW") {
    val p = Files.createTempDirectory("graft-vecidx-hnsw").resolve("tbl").toString
    TemporalTable.write(rows(0L until 64L), p)
    VectorIndex.create(spark, p, "h", "node_key", "embedding", nLists = 4,
      m = 4, hnswMl = 4)
    val idxPath = s"$p/_vecidx/h"
    // the layered adjacency column is in the layout, spec round-trips
    assert(VectorIndex.list(p).head.hnswMl == 4)
    assert(spark.read.parquet(idxPath).columns.contains("hnsw_layers"))
    val before = cellFiles(idxPath)

    // maintain patches only the affected cell
    val newIds = Seq(101L, 105L, 109L)
    TemporalTable.write(rows((0L until 64L) ++ newIds), p)
    assert(VectorIndex.maintain(spark, p, "h") == 3)
    val model = IvfIndex.readModel(idxPath)
    val newCell = s"ivf_cell=${IvfIndex.assignCells(rows(newIds), model, "embedding")
      .select("ivf_cell").distinct().as[Int].head()}"
    val after = cellFiles(idxPath)
    before.foreach { case (cell, files) =>
      if (cell != newCell)
        assert(after(cell) == files, s"unaffected $cell was rewritten")
    }
    // descent search through the maintained graph reaches a new vector
    val q = vec(1, 101L)
    val top = VectorIndex.search(spark, p, "h", q, k = 3, nProbe = 1)
      .select("node_key").as[Long].collect()
    assert(top.contains(101L), s"maintained HNSW missed the new vector: ${top.toSeq}")
    // levels stay id-pure across maintenance (a surviving node must keep
    // its original level — the rebuild re-derives, never re-rolls)
    val maintained = spark.read.parquet(idxPath)
      .select(col("node_key").cast("long"), col("hnsw_level"))
      .as[(Long, Int)].collect()
    maintained.foreach { case (id, lvl) =>
      assert(lvl == HnswGraph.levelOf(id, 4),
        s"node $id re-levelled to $lvl after maintain")
    }
    // backlink repair: surviving nodes in the patched cell must point AT
    // the new ids (append-only rows would leave the new vectors
    // unreachable from the old graph)
    val patchedCellId = newCell.stripPrefix("ivf_cell=").toInt
    val survivorsPointAtNew = spark.read.parquet(idxPath)
      .filter(col("ivf_cell") === patchedCellId &&
        !col("node_key").isin(newIds: _*))
      .select(col("node_key").cast("long"), col("hnsw_layers"))
      .as[(Long, Array[Array[Long]])].collect()
      .exists(_._2.exists(_.exists(newIds.contains)))
    assert(survivorsPointAtNew,
      "no surviving node in the patched cell links to any new id")
    // purge after a delete re-derives the layered adjacency on survivors
    TemporalTable.write(rows((0L until 64L).filter(_ != 1L) ++ newIds), p)
    assert(VectorIndex.purge(spark, p, "h") >= 1)
    val raw = VectorIndex.search(spark, p, "h", vec(1, 1L), k = 10, nProbe = 4)
      .select("node_key").as[Long].collect()
    assert(!raw.contains(1L), "purged HNSW layout still serves the ghost")
    // every stored row keeps a well-formed layer array
    assert(spark.read.parquet(idxPath)
      .filter(size(col("hnsw_layers")) === 0).count() == 0)
  }

  test("exact search: deletes leave no ghosts, re-embeds rank by the current vector") {
    val p = Files.createTempDirectory("graft-vecidx-exact").resolve("tbl").toString
    TemporalTable.write(rows(0L until 64L), p)
    VectorIndex.create(spark, p, "e", "node_key", "embedding", nLists = 4)
    // rev 2: append cluster-0 neighbors of id 100
    TemporalTable.write(rows((0L until 64L) ++ Seq(100L, 104L, 108L)), p)
    VectorIndex.maintain(spark, p, "e")
    // rev 3: DELETE ids 100 and 104; RE-EMBED id 108 to the opposite
    // cluster (2) — its old cluster-0 vector stays in the layout
    val rev3 = rows((0L until 64L) :+ 300L).union(
      Seq((108L, vec(2, 108L).toSeq)).toDF("node_key", "embedding"))
    TemporalTable.write(rev3, p)
    assert(VectorIndex.maintain(spark, p, "e") == 2L,
      "maintain must index the new id AND the re-embedded id")

    val q0 = vec(0, 100L)
    // the raw layout still serves the ghosts (documented contract)
    val raw = IvfIndex.searchClustered(spark, s"$p/_vecidx/e", "node_key",
      "embedding", q0, k = 8, nProbe = 1).select("node_key").as[Long].collect()
    assert(raw.contains(100L), "precondition: ghost present in raw layout")
    // exact search: no deleted ids, no stale-embedding ranks
    val exact = VectorIndex.search(spark, p, "e", q0, k = 8, nProbe = 1,
      exact = true).select("node_key", "sim").as[(Long, Double)].collect()
    val ids = exact.map(_._1)
    assert(!ids.contains(100L) && !ids.contains(104L), s"ghosts returned: ${ids.toSeq}")
    assert(ids.length == 8 && ids.distinct.length == 8)
    // 108 now lives in cluster 2: a cluster-0 query must not rank it as a
    // near neighbor (its STALE vector would), and a cluster-2 query finds
    // it under its NEW embedding as the top hit
    assert(!ids.take(3).contains(108L), "stale embedding mis-ranked a re-embedded id")
    val q2 = vec(2, 108L)
    val hit2 = VectorIndex.search(spark, p, "e", q2, k = 1, nProbe = 1,
      exact = true).select("node_key").as[Long].head()
    assert(hit2 == 108L, "re-embedded vector not searchable under its new embedding")
    // exact = false stays the raw approximate path (same plan as before)
    val approx = VectorIndex.search(spark, p, "e", q0, k = 8, nProbe = 1)
      .select("node_key").as[Long].collect()
    assert(approx.sameElements(raw))
  }

  test("PQ tier: codes ride the layout, maintain encodes appends, purge re-derives") {
    val p = Files.createTempDirectory("graft-vecidx-pq").resolve("tbl").toString
    val idxPath = s"$p/_vecidx/pq"
    TemporalTable.write(rows(0L until 64L), p)
    VectorIndex.create(spark, p, "pq", "node_key", "embedding",
      nLists = 4, pqM = 2, pqK = 8)
    assert(VectorIndex.list(p).find(_.name == "pq").get.pqM == 2)
    val layout = spark.read.parquet(idxPath)
    assert(Set("pq_codes", "pq_norm").subsetOf(layout.columns.toSet))
    assert(layout.filter(col("pq_codes").isNull).count() == 0)

    // search: ADC candidates + exact re-rank recover the true member
    val q0 = vec(0, 12L)
    val hits = VectorIndex.search(spark, p, "pq", q0, k = 4, nProbe = 1)
      .select("node_key").as[Long].collect().toSeq
    assert(hits.contains(12L), s"PQ search missed the query's own vector: $hits")

    // maintain: appended rows carry codes from the STORED codebooks
    TemporalTable.write(rows((0L until 64L) :+ 100L), p)
    assert(VectorIndex.maintain(spark, p, "pq") == 1L)
    val after = spark.read.parquet(idxPath)
    assert(after.filter(col("node_key") === 100L && col("pq_codes").isNotNull)
      .count() == 1, "maintained row must be PQ-encoded")
    val hit100 = VectorIndex.search(spark, p, "pq", vec(0, 100L), k = 1,
      nProbe = 1, exact = true).select("node_key").as[Long].head()
    assert(hit100 == 100L)

    // purge after a delete: ghost gone, surviving codes still serve
    TemporalTable.write(rows((0L until 64L).filterNot(_ == 12L) :+ 100L), p)
    assert(VectorIndex.purge(spark, p, "pq") == 1L)
    assert(spark.read.parquet(idxPath).filter(col("node_key") === 12L).count() == 0)
    val post = VectorIndex.search(spark, p, "pq", q0, k = 4, nProbe = 1)
      .select("node_key").as[Long].collect().toSeq
    assert(!post.contains(12L) && post.nonEmpty, s"got $post")
  }

  test("A→B→A re-embed never duplicates a stored copy; purge drops legacy dups") {
    val p = Files.createTempDirectory("graft-vecidx-aba").resolve("tbl").toString
    val idxPath = s"$p/_vecidx/aba"
    TemporalTable.write(rows(0L until 64L), p) // id 8 ≡ 0 mod 4 → cluster 0
    VectorIndex.create(spark, p, "aba", "node_key", "embedding", nLists = 4)
    def copiesOf(id: Long) = spark.read.parquet(idxPath)
      .filter(col("node_key") === id)
      .select("embedding").as[Seq[Double]].collect().toSeq
    val a = vec(0, 8L).toSeq
    // rev 2: re-embed id 8 to cluster 2 (vector B)
    TemporalTable.write(rows(0L until 64L).filter($"node_key" =!= 8L)
      .union(Seq((8L, vec(2, 8L).toSeq)).toDF("node_key", "embedding")), p)
    assert(VectorIndex.maintain(spark, p, "aba") == 1L)
    // rev 3: re-embed BACK to the original vector A — the rev-over-rev
    // diff sees a change, but A is already stored from the create pass:
    // maintain must not append a byte-identical duplicate
    TemporalTable.write(rows(0L until 64L), p)
    assert(VectorIndex.maintain(spark, p, "aba") == 0L,
      "re-appearing vector must be recognized as already stored")
    assert(copiesOf(8L).sorted(Ordering.by((s: Seq[Double]) => s.mkString(","))) ==
      Seq(a, vec(2, 8L).toSeq).sorted(Ordering.by((s: Seq[Double]) => s.mkString(","))),
      "layout must hold exactly A and the ghost B, no duplicate A")
    // a LEGACY layout (written before the guard) may already carry the
    // duplicate: simulate one, then purge must ghost it past the first
    val aCell = spark.read.parquet(idxPath).filter(col("node_key") === 8L)
      .filter(col("embedding") === typedLit(a))
      .select(col("ivf_cell").cast("int")).as[Int].head()
    Seq((8L, a, aCell)).toDF("node_key", "embedding", "ivf_cell")
      .write.mode("append").partitionBy("ivf_cell").parquet(idxPath)
    assert(copiesOf(8L).count(_ == a) == 2, "fixture: duplicate appended")
    assert(VectorIndex.purge(spark, p, "aba") == 2L, "ghost B + duplicate A")
    assert(copiesOf(8L) == Seq(a), "exactly one live copy after purge")
    val hits = IvfIndex.searchClustered(spark, idxPath, "node_key",
      "embedding", vec(0, 8L), k = 8, nProbe = 1).select("node_key")
      .as[Long].collect().toSeq
    assert(hits.count(_ == 8L) == 1, s"raw search must see id 8 once: $hits")
  }

  test("purge drops ghosts physically; clean cells keep files; centroids unchanged") {
    val p = Files.createTempDirectory("graft-vecidx-purge").resolve("tbl").toString
    TemporalTable.write(rows(0L until 64L), p)
    VectorIndex.create(spark, p, "pg", "node_key", "embedding", nLists = 4)
    val idxPath = s"$p/_vecidx/pg"
    // rev 2: DELETE cluster-0 ids 0/4/8 and RE-EMBED id 1 (cluster 1) into
    // cluster 2 — three delete ghosts plus one stale-copy ghost
    val kept = (2L until 64L).filterNot(Set(4L, 8L))
    val rev2 = rows(kept)
      .union(Seq((1L, vec(2, 1L).toSeq)).toDF("node_key", "embedding"))
    TemporalTable.write(rev2, p)
    VectorIndex.maintain(spark, p, "pg") // 1's new vector enters the layout
    val model = IvfIndex.readModel(idxPath)
    val before = cellFiles(idxPath)
    val ghostCells = IvfIndex.assignCells(
        Seq((0L, vec(0, 0L).toSeq), (4L, vec(0, 4L).toSeq),
          (8L, vec(0, 8L).toSeq), (1L, vec(1, 1L).toSeq))
          .toDF("node_key", "embedding"), model, "embedding")
      .select("ivf_cell").distinct().as[Int].collect()
      .map(c => s"ivf_cell=$c").toSet

    assert(VectorIndex.purge(spark, p, "pg") == 4L)

    val after = cellFiles(idxPath)
    before.foreach { case (cell, files) =>
      if (!ghostCells(cell))
        assert(after(cell) == files, s"clean $cell was rewritten")
    }
    // the raw layout now equals the snapshot exactly: same ids, same vectors
    val raw = spark.read.parquet(idxPath)
      .select(col("node_key"), col("embedding"))
    val snap = TemporalTable.read(spark, p, None)
      .select(col("node_key"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
    assert(raw.count() == snap.count(), "row count differs from snapshot")
    assert(raw.except(snap).isEmpty && snap.except(raw).isEmpty,
      "raw layout differs from snapshot after purge")
    // quantizer untouched (this is purge, not rebuild)
    assert(IvfIndex.readModel(idxPath).centroids.map(_.toSeq).toSeq ==
      model.centroids.map(_.toSeq).toSeq, "purge refit the centroids")
    // idempotent; approximate search is now ghost-free without exact mode
    assert(VectorIndex.purge(spark, p, "pg") == 0L)
    val ids = VectorIndex.search(spark, p, "pg", vec(0, 100L), k = 8, nProbe = 2)
      .select("node_key").as[Long].collect()
    assert(!ids.exists(Set(0L, 4L, 8L)), s"approx search returned ghosts: ${ids.toSeq}")
  }

  test("NSW purge: adjacency re-derived without ghosts; emptied cells vanish") {
    val p = Files.createTempDirectory("graft-vecidx-purgensw").resolve("tbl").toString
    TemporalTable.write(rows(0L until 64L), p)
    VectorIndex.create(spark, p, "pn", "node_key", "embedding", nLists = 4, m = 4)
    val idxPath = s"$p/_vecidx/pn"
    val model = IvfIndex.readModel(idxPath)
    // rev 2 drops ALL of cluster 3 (ids ≡ 3 mod 4) and half of cluster 1
    val dropped = (0L until 64L).filter(id => id % 4 == 3 || (id % 4 == 1 && id < 32))
    TemporalTable.write(rows((0L until 64L).filterNot(dropped.contains)), p)
    assert(VectorIndex.purge(spark, p, "pn") == dropped.size.toLong)
    // no surviving row's adjacency references a purged id
    val badEdges = spark.read.parquet(idxPath)
      .select(explode(col("nsw_neighbors")).as("nb"))
      .filter(col("nb").isin(dropped: _*)).count()
    assert(badEdges == 0L, s"$badEdges adjacency edges point at purged ids")
    // the all-ghost cell's directory is gone
    val cluster3Cell = IvfIndex.assignCells(
        Seq((3L, vec(3, 3L).toSeq)).toDF("node_key", "embedding"),
        model, "embedding").select("ivf_cell").as[Int].head()
    assert(!MetaIO.listDirs(idxPath).contains(s"ivf_cell=$cluster3Cell"),
      "emptied cell directory not removed")
    // graph search over survivors still works
    val top = HnswGraph.searchGraph(spark, idxPath, "node_key", "embedding",
      vec(2, 2L), k = 3, nProbe = 1, ef = 16).select("node_key").as[Long].collect()
    assert(top.contains(2L), s"graph search broken after purge: ${top.toSeq}")
  }

  test("NSW maintain after three merges reproduces the pinned layout rows") {
    val p = Files.createTempDirectory("graft-vecidx-golden").resolve("tbl").toString
    TemporalTable.write(rows(0L until 240L), p)
    VectorIndex.create(spark, p, "gold", "node_key", "embedding", nLists = 4, m = 4)
    // each merge inserts fresh ids, re-embeds a few existing ones (a new
    // wobble slot, same cluster) and deletes a few
    def reEmbed(ids: Seq[Long]) =
      ids.map(id => (id, vec((id % 4).toInt, id + 1000L).toSeq)).toDF("node_key", "embedding")
    Seq((300L, 0L), (330L, 60L), (360L, 120L)).foreach { case (fresh, touched) =>
      val ups = rows(fresh until fresh + 12L).unionByName(reEmbed(touched until touched + 6L))
      val dels = Seq(touched + 20L, touched + 21L).toDF("node_key")
      TemporalTable.merge(spark, p, ups, Some(dels))
    }
    assert(VectorIndex.maintain(spark, p, "gold") == 54L)
    val lines = spark.read.parquet(s"$p/_vecidx/gold")
      .select("node_key", "embedding", "ivf_cell", "nsw_neighbors")
      .as[(Long, Seq[Double], Int, Seq[Long])].collect()
      .map { case (id, v, cell, nbrs) =>
        s"$id|${v.map(d => java.lang.Double.doubleToLongBits(d).toHexString).mkString(",")}" +
          s"|$cell|${nbrs.mkString(",")}"
      }.sorted
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(lines.mkString("\n").getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    assert((lines.length, digest) == ((294, "b25aa8f4d8bd803c")), s"${lines.length} rows, digest $digest")
  }

  /** A test resource directory tree, copied into a fresh temp dir. */
  private def copyResourceTree(name: String): String = {
    val src = java.nio.file.Paths.get(getClass.getResource(name).toURI)
    val dst = Files.createTempDirectory("graft-vecidx-fixture").resolve("tbl")
    val walk = Files.walk(src)
    try walk.forEach(f => Files.copy(f, dst.resolve(src.relativize(f).toString)))
    finally walk.close()
    dst.toString
  }

  test("a flat layout on disk from before the graph-tier fold reads and maintains like a fresh one") {
    // a table of ids 0-63 with its flat index "flat" (nLists = 4, m = 4),
    // written by the code that kept the flat tier in an object of its own
    val old = copyResourceTree("/vector-index/flat-nsw-table")
    val now = Files.createTempDirectory("graft-vecidx-flat").resolve("tbl").toString
    TemporalTable.write(rows(0L until 64L), now)
    VectorIndex.create(spark, now, "flat", "node_key", "embedding", nLists = 4, m = 4)
    def layouts = Seq(old, now).map(p => layoutLines(s"$p/_vecidx/flat"))
    def searches(q: Array[Double]) = Seq(old, now).map(p =>
      VectorIndex.search(spark, p, "flat", q, k = 5, nProbe = 1)
        .as[(Long, Double)].collect().toSeq)
    assert(layouts.distinct.size == 1, "a fresh create differs from the stored layout")
    val before = searches(vec(1, 13L))
    assert(before.distinct.size == 1 && before.head.head._1 == 13L, s"$before")
    Seq(old, now).foreach(p =>
      TemporalTable.write(rows((0L until 64L) ++ Seq(101L, 105L, 109L)), p))
    assert(Seq(old, now).map(VectorIndex.maintain(spark, _, "flat")) == Seq(3L, 3L))
    assert(layouts.distinct.size == 1, "maintain of the stored layout differs from a fresh one")
    val after = searches(vec(1, 101L))
    assert(after.distinct.size == 1 && after.head.head._1 == 101L, s"$after")
  }

  test("commit hook wires maintenance into the write path") {
    val p = Files.createTempDirectory("graft-vecidx-hook").resolve("tbl").toString
    TemporalTable.write(rows(0L until 32L), p)
    VectorIndex.create(spark, p, "h", "node_key", "embedding", nLists = 2)
    val hook: TemporalTable.CommitHook =
      (path, _) => VectorIndex.maintainAll(spark, path)
    TemporalTable.addCommitHook(hook)
    try {
      TemporalTable.write(rows((0L until 32L) :+ 202L), p)
      // no manual maintain: the hook already advanced the index
      assert(VectorIndex.indexedUpTo(p, "h") == 2)
      val q = vec(2, 202L)
      val top = IvfIndex.searchClustered(spark, s"$p/_vecidx/h", "node_key",
        "embedding", q, k = 2, nProbe = 1).select("node_key").as[Long].collect()
      assert(top.contains(202L))
    } finally TemporalTable.removeCommitHook(hook)
  }

  // ---- maintain histories (fixed seeds) ------------------------------

  /** One index per tier on the same table: flat NSW, layered HNSW, plain
    * IVF and IVF-PQ. */
  private val tiers = Seq(
    ("nsw", 4, 0, 0), ("hnsw", 4, 0, 4), ("ivf", 0, 0, 0), ("pq", 0, 2, 0))

  /** A row's embedding is a (cluster, salt) pair, or null. */
  private type Emb = Option[(Int, Long)]

  private def embFrame(state: Seq[(Long, Emb)]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("node_key", LongType, nullable = false),
      StructField("embedding", ArrayType(DoubleType, containsNull = false))))
    spark.createDataFrame(spark.sparkContext.parallelize(state.sortBy(_._1).map {
      case (k, e) => Row(k, e.map { case (c, s) => vec(c, s).toSeq }.orNull)
    }, 2), schema)
  }

  /** Layout rows of one index as sorted text lines: id, vector bits,
    * cell and the tier's extra columns (adjacency, level, codes). */
  private def layoutLines(idxPath: String): Seq[String] = {
    val df = spark.read.parquet(idxPath)
    val extra = Seq("nsw_neighbors", "hnsw_level", "hnsw_layers", "pq_codes", "pq_norm")
      .filter(df.columns.contains)
    df.select((Seq(col("node_key").cast("long"), col("embedding"),
        col("ivf_cell").cast("int")) ++ extra.map(c => to_json(array(col(c))))): _*)
      .collect().toSeq
      .map { r =>
        val v = r.getSeq[Double](1)
        s"${r.getLong(0)}|${Option(v).map(_.map(d =>
          java.lang.Double.doubleToLongBits(d).toHexString).mkString(",")).orNull}" +
          s"|${r.getInt(2)}|" + (3 until r.length).map(r.getString).mkString("|")
      }.sorted
  }

  private def digest(lines: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(lines.mkString("\n").getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** A random history on one table carrying an index of every tier:
    * merges that insert (some null vectors), delete, re-embed within the
    * same cell or into another, null a vector out, and re-embed back to
    * an earlier vector (A→B→A); a maintain of every index after most of
    * them. Each maintain's count is checked against a model of what the
    * layout stores (an (id, vector) pair enters once, ever), and each
    * layout must hold exactly the model's pairs. Returns, per tier, the
    * counts, the row count and the layout digest. */
  private def runMaintainHistory(seed: Long): Map[String, (Seq[Long], Int, String)] = {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val p = Files.createTempDirectory(s"graft-vecidx-hist-$seed").resolve("tbl").toString
    val params = Gen.Parameters.default
    var rng = Seed(seed)
    def draw[A](g: Gen[A]): A = {
      val (r, next) = (g.pureApply(params, rng), rng.next)
      rng = next
      r
    }
    var state: Map[Long, Emb] = (1L to 40L).map(k => k -> Option(((k % 4).toInt, k))).toMap
    // every non-null embedding a key has ever had, for A→B→A reverts
    val past = scala.collection.mutable.Map.empty[Long, Set[(Int, Long)]]
    state.foreach { case (k, e) => past(k) = e.toSet }
    TemporalTable.write(embFrame(state.toSeq), p)
    tiers.foreach { case (name, m, pqM, ml) =>
      VectorIndex.create(spark, p, name, "node_key", "embedding", nLists = 4,
        m = m, pqM = pqM, pqK = 8, hnswMl = ml)
    }
    // the model: the (id, vector) pairs each layout stores, and the state
    // each index was last maintained at
    var stored: Set[(Long, (Int, Long))] = state.toSeq.collect { case (k, Some(e)) => (k, e) }.toSet
    var indexedState = state
    val counts = scala.collection.mutable.Map.empty[String, Seq[Long]].withDefaultValue(Nil)
    var nextKey = 41L
    (1 to 4).foreach { _ =>
      val keys = state.keys.toSeq.sorted
      val stepGen = for {
        upd <- Gen.someOf(keys).map(_.take(8))
        kinds <- Gen.listOfN(upd.size, Gen.frequency((3, "same"), (2, "other"),
          (2, "revert"), (1, "null"), (1, "keep")))
        salts <- Gen.listOfN(upd.size, Gen.choose(1000L, 100000L))
        del <- Gen.someOf(keys.filterNot(upd.contains)).map(_.take(3))
        nIns <- Gen.choose(0, 4)
        insNull <- Gen.listOfN(nIns, Gen.prob(0.2))
        insCells <- Gen.listOfN(nIns, Gen.choose(0, 3))
        maintainNow <- Gen.prob(0.75)
      } yield (upd.toSeq.sorted.zip(kinds).zip(salts), del.toSeq, insNull.zip(insCells), maintainNow)
      val (updates, dels, inserts, maintainNow) = draw(stepGen)
      val ups = updates.map { case ((k, kind), salt) =>
        val cur = state(k)
        val cell = cur.map(_._1).getOrElse((k % 4).toInt)
        val e: Emb = kind match {
          case "same" => Some((cell, salt))
          case "other" => Some(((cell + 1 + (salt % 3).toInt) % 4, salt))
          case "revert" => (past(k) -- cur).toSeq.sorted.headOption.orElse(Some((cell, salt)))
          case "null" => None
          case _ => cur
        }
        k -> e
      } ++ inserts.zipWithIndex.map { case ((isNull, c), i) =>
        (nextKey + i) -> (if (isNull) None else Some((c, nextKey + i)))
      }
      nextKey += inserts.size
      ups.foreach { case (k, e) => past(k) = past.getOrElse(k, Set.empty) ++ e }
      TemporalTable.merge(spark, p, embFrame(ups),
        Some(spark.createDataFrame(dels.map(Tuple1(_))).toDF("node_key")))
      state = state -- dels ++ ups
      if (maintainNow) {
        val incoming = state.toSeq.collect {
          case (k, Some(e)) if !indexedState.get(k).contains(Some(e)) => (k, e) }
        val expected = incoming.count(pair => !stored.contains(pair)).toLong
        stored ++= incoming
        indexedState = state
        tiers.foreach { case (name, _, _, _) =>
          val n = VectorIndex.maintain(spark, p, name)
          assert(n == expected, s"seed $seed: $name indexed $n, model says $expected")
          counts(name) = counts(name) :+ n
        }
      }
    }
    val storedVecs = stored.map { case (k, (c, s)) => (k, vec(c, s).toSeq) }
    tiers.map { case (name, _, _, _) =>
      val lines = layoutLines(s"$p/_vecidx/$name")
      val pairs = spark.read.parquet(s"$p/_vecidx/$name")
        .select(col("node_key").cast("long"), col("embedding"))
        .as[(Long, Seq[Double])].collect().toSeq
      assert(pairs.size == pairs.distinct.size, s"seed $seed: $name stores a duplicate pair")
      assert(pairs.toSet == storedVecs, s"seed $seed: $name layout differs from the model")
      name -> ((counts(name), lines.size, digest(lines)))
    }.toMap
  }

  test("maintain histories: counts, layout rows and adjacency pinned per tier") {
    // pinned from the whole-layout-guard implementation this plan replaced
    val pinned = Map(
      7L -> Map(
        "nsw" -> ((Seq(11L, 5L, 8L, 3L), 67, "35ab88261d6e4261")),
        "hnsw" -> ((Seq(11L, 5L, 8L, 3L), 67, "33a7186ce7a531a0")),
        "ivf" -> ((Seq(11L, 5L, 8L, 3L), 67, "284109055a5e66d2")),
        "pq" -> ((Seq(11L, 5L, 8L, 3L), 67, "3ac6581a36f645f1"))),
      8L -> Map(
        "nsw" -> ((Seq(6L, 8L, 5L, 7L), 66, "3a4fcd1333844164")),
        "hnsw" -> ((Seq(6L, 8L, 5L, 7L), 66, "922b5f9adbb6d855")),
        "ivf" -> ((Seq(6L, 8L, 5L, 7L), 66, "ee267a177da56cc7")),
        "pq" -> ((Seq(6L, 8L, 5L, 7L), 66, "18105164c7799a8a"))))
    pinned.foreach { case (seed, want) =>
      assert(runMaintainHistory(seed) == want, s"seed $seed")
    }
  }

  // ---- what one maintain touches ------------------------------------

  /** A table on the recording file system (see [[RecordingFs]]): its
    * `vrec://` path and its local directory. */
  private def recordedTable(prefix: String): (String, String) = {
    spark.sparkContext.hadoopConfiguration.set("fs.vrec.impl", classOf[RecordingFs].getName)
    val dir = Files.createTempDirectory(prefix).resolve("tbl").toString
    (s"vrec://$dir", dir)
  }

  /** Every layout file's bytes, per `ivf_cell=` directory. */
  private def cellBytes(dir: String): Map[String, Map[String, Seq[Byte]]] =
    cellFiles(dir).map { case (cell, files) =>
      cell -> files.map(f => f -> Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/$cell/$f")).toSeq).toMap
    }

  test("maintain opens only the affected cells' files, in at most 6 jobs") {
    val (p, dir) = recordedTable("graft-vecidx-rec")
    TemporalTable.write(rows(0L until 64L), p)
    // every tier twice: the second copy is maintained with Spark's
    // parallel partition discovery threshold below the layout's 4 cell
    // directories, where a listing of the whole layout is a job of its own
    val tiers = Seq(("rn", 4, 0, 0), ("rh", 4, 0, 4), ("ri", 0, 0, 0), ("rq", 0, 2, 0))
    (tiers ++ tiers.map(t => t.copy(_1 = s"${t._1}-low"))).foreach {
      case (name, m, pqM, ml) =>
        VectorIndex.create(spark, p, name, "node_key", "embedding", nLists = 4,
          m = m, pqM = pqM, pqK = 8, hnswMl = ml)
    }
    // two new vectors and a same-cell re-embed, all in cluster 1
    TemporalTable.merge(spark, p, rows(Seq(101L, 105L)).unionByName(
      Seq((9L, vec(1, 5000L).toSeq)).toDF("node_key", "embedding")), None)
    // the jobs of one maintain, after checking what it read and wrote
    def maintainJobs(name: String, graph: Boolean): Int = {
      val idxDir = s"$dir/_vecidx/$name"
      val model = IvfIndex.readModel(idxDir)
      val cell = s"ivf_cell=${IvfIndex.assignCells(rows(Seq(101L)), model, "embedding")
        .select("ivf_cell").as[Int].head()}"
      val before = cellBytes(idxDir)
      RecordingFs.opened.clear()
      val (n, jobs) = jobsDuring(VectorIndex.maintain(spark, p, name))
      assert(n == 3L, s"$name indexed $n")
      assert(jobs <= 6, s"$name maintain ran $jobs jobs")
      val cellsOpened = RecordingFs.opened.toArray.toSeq.map(_.toString)
        .filter(_.startsWith(s"$idxDir/ivf_cell="))
        .map(_.stripPrefix(s"$idxDir/").takeWhile(_ != '/')).toSet
      assert(cellsOpened.subsetOf(Set(cell)), s"$name opened $cellsOpened, affected $cell")
      if (graph) assert(cellsOpened == Set(cell), s"$name read no stored row")
      val after = cellBytes(idxDir)
      before.foreach { case (c, files) =>
        if (c != cell) assert(after(c) == files, s"$name: untouched $c changed")
      }
      assert(after(cell) != before(cell), s"$name: affected $cell unchanged")
      jobs
    }
    val threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    tiers.foreach { case (name, m, _, _) =>
      val jobs = maintainJobs(name, m > 0)
      val saved = spark.conf.getOption(threshold)
      spark.conf.set(threshold, "2")
      val low = try maintainJobs(s"$name-low", m > 0)
        finally saved.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
      assert(low == jobs, s"$name: $low jobs with the threshold at 2, $jobs at the default")
    }
  }

  test("a failed maintain write, then another maintain, stores no duplicate") {
    val (p, dir) = recordedTable("graft-vecidx-fail")
    TemporalTable.write(rows(0L until 64L), p)
    Seq(("fn", 4, 0), ("fi", 0, 0), ("fq", 0, 2)).foreach { case (name, m, pqM) =>
      VectorIndex.create(spark, p, name, "node_key", "embedding", nLists = 4,
        m = m, pqM = pqM, pqK = 8)
    }
    // new vectors in two cells, and id 8 re-embedded within its cell
    TemporalTable.merge(spark, p, rows(Seq(100L, 101L, 105L)).unionByName(
      Seq((8L, vec(0, 7000L).toSeq)).toDF("node_key", "embedding")), None)
    def pairs(name: String) = spark.read.parquet(s"$dir/_vecidx/$name")
      .select(col("node_key").cast("long"), col("embedding"))
      .as[(Long, Seq[Double])].collect().toSeq
    try Seq("fn", "fi", "fq").foreach { name =>
      val idxDir = s"$dir/_vecidx/$name"
      val stored = pairs(name)
      // the data write fails: nothing lands, the watermark stays
      RecordingFs.failCreate = f => f.startsWith(idxDir) && !f.startsWith(s"$idxDir/_ivf")
      intercept[Exception](VectorIndex.maintain(spark, p, name))
      RecordingFs.failCreate = _ => false
      assert(VectorIndex.indexedUpTo(p, name) == 1)
      assert(pairs(name).groupBy(identity).map(g => g._1 -> g._2.size) ==
        stored.groupBy(identity).map(g => g._1 -> g._2.size), s"$name: a failed write changed the layout")
      // the data write lands but the watermark does not: the next
      // maintain redoes the increment and must find it stored
      RecordingFs.failCreate = f => f.startsWith(s"$idxDir/_ivf/")
      assert(VectorIndex.maintain(spark, p, name) == 4L)
      RecordingFs.failCreate = _ => false
      assert(VectorIndex.indexedUpTo(p, name) == 1)
      assert(VectorIndex.maintain(spark, p, name) == 0L, s"$name re-indexed stored vectors")
      assert(VectorIndex.indexedUpTo(p, name) == 2)
      val now = pairs(name)
      assert(now.size == now.distinct.size && now.size == stored.size + 4,
        s"$name: ${now.size} rows after maintains, ${stored.size} before")
    } finally RecordingFs.failCreate = _ => false
  }
}
