package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class TemporalTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshPath(): String =
    Files.createTempDirectory("graft-tt").resolve("tbl").toString

  private def rev1 = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("node_key", "name", "price")
  private def rev2 = Seq((1L, "a", 11.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("node_key", "name", "price")
  private def rev3 = Seq((1L, "a", 12.0), (3L, "c", 30.0)).toDF("node_key", "name", "price")

  test("write assigns monotonically increasing revisions; read defaults to latest") {
    val p = freshPath()
    assert(TemporalTable.write(rev1, p) == 1)
    assert(TemporalTable.write(rev2, p) == 2)
    assert(TemporalTable.write(rev3, p) == 3)
    assert(TemporalTable.mostRecentRevision(p).contains(3))
    val latest = TemporalTable.read(spark, p)
    assert(latest.count() == 2)
    assert(latest.select("revision").distinct().as[Int].head() == 3)
  }

  test("time travel by revision and revision metadata columns") {
    val p = freshPath()
    TemporalTable.write(rev1, p, author = "alice", message = "init")
    TemporalTable.write(rev2, p, author = "bob")
    val r1 = TemporalTable.read(spark, p, revision = Some(1))
    assert(r1.count() == 2)
    assert(r1.select("author").distinct().as[String].head() == "alice")
    assert(r1.columns.toSet.contains("commit_ts"))
  }

  test("asOf timestamp resolves the revision current at that instant") {
    val p = freshPath()
    TemporalTable.write(rev1, p)
    val afterR1 = System.currentTimeMillis()
    Thread.sleep(5)
    TemporalTable.write(rev2, p)
    val snap = TemporalTable.read(spark, p, asOfTsMs = Some(afterR1))
    assert(snap.select("revision").distinct().as[Int].head() == 1)
    intercept[IllegalArgumentException] {
      TemporalTable.read(spark, p, asOfTsMs = Some(0L))
    }
  }

  test("readAllRevisions = full history frame across commits") {
    val p = freshPath()
    TemporalTable.write(rev1, p); TemporalTable.write(rev2, p); TemporalTable.write(rev3, p)
    val all = TemporalTable.readAllRevisions(spark, p)
    assert(all.count() == 2 + 3 + 2)
    // node 1 exists in all three revisions
    assert(all.filter($"node_key" === 1L).select("revision").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    // RECORD_TO_REVISIONS lookup: node 2 was deleted in rev 3
    assert(TemporalTable.recordRevisions(spark, p, 2L)
      .select("revision").as[Int].collect().toSeq == Seq(1, 2))
  }

  test("diff between revisions classifies changes") {
    val p = freshPath()
    TemporalTable.write(rev1, p); TemporalTable.write(rev2, p); TemporalTable.write(rev3, p)
    val d12 = TemporalTable.diff(spark, p, 1, 2)
      .select("node_key", "change_type").as[(Long, String)].collect().toMap
    assert(d12 == Map(1L -> "update", 3L -> "insert"))
    val d23 = TemporalTable.diff(spark, p, 2, 3)
      .select("node_key", "change_type").as[(Long, String)].collect().toMap
    assert(d23 == Map(1L -> "update", 2L -> "delete"))
  }

  test("merge = JSONiq-style bulk update: upsert + delete in one new revision") {
    val p = freshPath()
    TemporalTable.write(rev1, p) // keys 1, 2
    val upserts = Seq((2L, "b", 99.0), (5L, "e", 50.0)).toDF("node_key", "name", "price")
    val deletes = Seq(Tuple1(1L)).toDF("node_key")
    val newRev = TemporalTable.merge(spark, p, upserts, Some(deletes))
    assert(newRev == 2)
    val snap = TemporalTable.read(spark, p).select("node_key", "price")
      .as[(Long, Double)].collect().toMap
    assert(snap == Map(2L -> 99.0, 5L -> 50.0)) // 1 deleted, 2 replaced, 5 inserted
    val d = TemporalTable.diff(spark, p, 1, 2)
      .select("node_key", "change_type").as[(Long, String)].collect().toMap
    assert(d == Map(1L -> "delete", 2L -> "update", 5L -> "insert"))
  }

  test("revert commits the old content forward; history stays readable") {
    val p = freshPath()
    TemporalTable.write(rev1, p)
    TemporalTable.write(rev2, p)
    assert(TemporalTable.revert(spark, p, 1) == 3)
    // head content == revision 1's content
    val head = TemporalTable.read(spark, p)
      .select("node_key", "name", "price").orderBy("node_key")
    val r1 = TemporalTable.read(spark, p, Some(1))
      .select("node_key", "name", "price").orderBy("node_key")
    assert(head.collect().toSeq == r1.collect().toSeq)
    // the reverted-over revision is still time-travel readable
    assert(TemporalTable.read(spark, p, Some(2)).count() == 3)
    assert(TemporalTable.commits(p).last.message == "revert to 1")
    // diff(2,3) is the inverse of diff(1,2): the rev-2 insert becomes a delete
    val d = TemporalTable.diff(spark, p, 2, 3)
      .select("node_key", "change_type").as[(Long, String)].collect().toSet
    assert(d.contains((3L, "delete")) && d.contains((1L, "update")))
  }

  test("snapshot opens take the schema from one footer, with no Spark job") {
    val p = freshPath()
    val meta = new org.apache.spark.sql.types.MetadataBuilder().putString("unit", "eur").build()
    TemporalTable.write(rev1.withColumn("price", $"price".as("price", meta)), p)
    TemporalTable.write(rev2, p)
    val (opened, jobs) = jobsDuring(
      Seq(TemporalTable.read(spark, p, Some(1)), TemporalTable.read(spark, p, Some(2)),
        graft.plans.FooterSchemas.readParquet(spark, s"$p/rev=1")))
    assert(jobs == 0, s"$jobs jobs launched while opening")
    // the resolved schema is inference's, column metadata included
    Seq(1, 2).foreach { r =>
      assert(opened(r - 1).drop("revision", "commit_ts", "author").schema ==
        spark.read.parquet(s"$p/rev=$r").schema)
    }
    assert(opened(2).schema("price").metadata == meta)
    // partitioned layouts and explicit file lists resolve the same way
    val parts = s"$p/_parts"
    rev2.write.partitionBy("name").parquet(parts)
    assert(graft.plans.FooterSchemas.readParquet(spark, parts).schema ==
      spark.read.parquet(parts).schema)
    val files = MetaIO.listFiles(s"$p/rev=2").map { case (n, _) => s"$p/rev=2/$n" }
    assert(graft.plans.FooterSchemas.readParquet(spark, files: _*).schema ==
      spark.read.parquet(files: _*).schema)
    // a directory with no data file still fails like inference does
    val empty = Files.createTempDirectory("graft-tt-empty").toString
    intercept[org.apache.spark.sql.AnalysisException](
      graft.plans.FooterSchemas.readParquet(spark, empty))
  }

  test("unknown revision raises") {
    val p = freshPath()
    TemporalTable.write(rev1, p)
    intercept[IllegalArgumentException] {
      TemporalTable.read(spark, p, revision = Some(9))
    }
  }

  test("commit messages with quotes/backslashes/newlines round-trip") {
    val p = freshPath()
    val msg = "fix \"price\" col in C:\\tmp\nsecond line"
    TemporalTable.write(rev1, p, author = "a\"b", message = msg)
    val c = TemporalTable.commits(p).head
    assert(c.author == "a\"b" && c.message == msg)
  }

  test("catalog ops: exists and drop") {
    val p = freshPath()
    assert(!TemporalTable.exists(p))
    TemporalTable.write(rev1, p)
    assert(TemporalTable.exists(p))
    TemporalTable.drop(p)
    assert(!TemporalTable.exists(p))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
  }

  test("write stores a bucket-manifest sidecar; diff prunes from it") {
    val p = freshPath()
    TemporalTable.write(rev1, p)
    TemporalTable.write(rev2, p)
    // the sidecar exists and matches a manifest recomputed from the data
    assert(MetaIO.exists(TemporalTable.manifestDir(p, 1)))
    val stored = spark.read.parquet(TemporalTable.manifestDir(p, 1))
      .orderBy("__bucket").collect().toSeq
    val snap = TemporalTable.read(spark, p, Some(1))
      .drop("revision", "commit_ts", "author")
    val recomputed = graft.operators.Diff.bucketManifest(snap, Seq("node_key"),
        snap.columns.toSeq.filterNot(_ == "node_key"))
      .orderBy("__bucket").collect().toSeq
    assert(stored == recomputed)
    // the sidecar is invisible to snapshot reads
    assert(snap.count() == 2 && snap.columns.toSet ==
      Set("node_key", "name", "price"))
    // manifest-driven diff == unpruned diff
    val pruned = TemporalTable.diff(spark, p, 1, 2).orderBy("node_key")
      .collect().toSeq
    val plain = TemporalTable.diff(spark, p, 1, 2, hashPruned = false)
      .orderBy("node_key").collect().toSeq
    assert(pruned == plain)
    assert(pruned.nonEmpty)
  }

  test("write with a map column commits without a manifest; diff still works") {
    val p = freshPath()
    val withMap = (props: Map[String, String]) => Seq((1L, props), (2L, props))
      .toDF("node_key", "props")
    TemporalTable.write(withMap(Map("a" -> "1")), p)
    TemporalTable.write(withMap(Map("a" -> "2")), p)
    // unhashable schema -> sidecar skipped, commit succeeds
    assert(!MetaIO.exists(TemporalTable.manifestDir(p, 1)))
    // map columns can't be hash-COMPARED either (pre-existing xxhash64
    // limit) — the keys-only existence diff is the supported surface
    val a = TemporalTable.read(spark, p, Some(1)).select("node_key")
    val b = TemporalTable.read(spark, p, Some(2)).select("node_key")
    val d = graft.operators.Diff.diff(a, b, Seq("node_key"))
    assert(d.columns.contains("change_type") && d.count() == 0)
  }

  test("load shreds a JSON file into a committed revision (jn:load)") {
    val dir = Files.createTempDirectory("graft-load")
    val json = dir.resolve("docs.jsonl")
    Files.write(json, java.util.List.of(
      """{"name":"a","price":10.0,"tags":["x","y"]}""",
      """{"name":"b","price":20.0,"tags":[]}"""))
    val p = dir.resolve("tbl").toString
    assert(TemporalTable.load(spark, json.toString, p) == 1)
    val r = TemporalTable.read(spark, p)
    assert(r.count() == 2)
    assert(r.columns.contains("node_key"))
    // deterministic keys: re-loading the same file yields the same keys
    val p2 = dir.resolve("tbl2").toString
    TemporalTable.load(spark, json.toString, p2)
    val k1 = r.select("node_key").as[Long].collect().sorted.toSeq
    val k2 = TemporalTable.read(spark, p2).select("node_key").as[Long].collect().sorted.toSeq
    assert(k1 == k2)
    // loaded table participates in temporal ops: next revision diffs cleanly
    TemporalTable.merge(spark, p,
      Seq(("a", 11.0)).toDF("name", "price")
        .withColumn("tags", array(lit("x"), lit("y")))
        .withColumn("node_key", xxhash64(to_json(struct(col("name"), col("price"), col("tags"))))),
      keys = Seq("node_key"))
    assert(TemporalTable.commits(p).size == 2)
  }

  test("copy replays all revisions into a new resource (backup)") {
    val src = freshPath()
    TemporalTable.write(rev1, src, author = "alice", message = "m1")
    TemporalTable.write(rev2, src, author = "bob", message = "m2")
    val dst = freshPath()
    assert(TemporalTable.copy(spark, src, dst) == Seq(1, 2))
    assert(TemporalTable.commits(dst).map(c => (c.author, c.message)) ==
      Seq(("alice", "m1"), ("bob", "m2")))
    assert(TemporalTable.read(spark, dst, Some(1)).count() == 2)
    assert(TemporalTable.read(spark, dst, Some(2)).count() == 3)
    // copying onto an existing resource is refused
    intercept[IllegalArgumentException] { TemporalTable.copy(spark, src, dst) }
  }

  test("metadata I/O works against an explicit Hadoop file: scheme URI") {
    // the commit log / catalog must go through the Hadoop FileSystem
    // resolved from the table path (HDFS/S3A-ready), not the local JDK fs
    val p = "file://" + freshPath()
    assert(TemporalTable.write(rev1, p) == 1)
    assert(TemporalTable.write(rev2, p) == 2)
    assert(TemporalTable.commits(p).map(_.revision) == Seq(1, 2))
    assert(TemporalTable.read(spark, p, Some(1)).count() == 2)
    assert(TemporalTable.read(spark, p).count() == 3)
    assert(TemporalTable.diff(spark, p, 1, 2).count() == 2) // update + insert
    TemporalTable.drop(p)
    assert(!TemporalTable.exists(p))
  }

  test("racing writers get distinct revisions (reservation protocol)") {
    val p = freshPath()
    TemporalTable.write(rev1, p)
    // interleave: both writers resolve "next revision" before either
    // commits — the reservation marker forces them onto distinct numbers
    val r2 = TemporalTable.reserveRevision(p)
    val r3 = TemporalTable.reserveRevision(p)
    assert(r2 == 2 && r3 == 3)
    // writer B (holding the later reservation) lands first; writer A second
    rev3.write.mode("overwrite").parquet(s"$p/rev=$r3")
    rev2.write.mode("overwrite").parquet(s"$p/rev=$r2")
    TemporalTable.logCommit(p, r3, "b", "")
    TemporalTable.logCommit(p, r2, "a", "")
    // both revisions intact — no clobbered files, no shared directory
    assert(TemporalTable.read(spark, p, Some(2)).count() == 3)
    assert(TemporalTable.read(spark, p, Some(3)).count() == 2)
    assert(TemporalTable.commits(p).map(_.revision) == Seq(1, 2, 3))
    // reservations cleared after commit
    assert(MetaIO.list(TemporalTable.commitsDir(p)).forall(_.endsWith(".json")))
  }

  test("createNew is atomic create-new on the local FS (concurrent racers)") {
    val dir = Files.createTempDirectory("graft-meta").toString
    val target = s"$dir/00000001.json"
    // N threads race the same create-new; exactly one must win and the
    // winner's content must survive intact (the pre-fix rename path let a
    // second racer overwrite the winner).
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val n = 8
    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Int]]()
    (0 until n).foreach { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try { MetaIO.createNew(target, s"""{"writer":$i}"""); results.add(Right(i)) }
          catch { case t: Throwable => results.add(Left(t)) }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(30, TimeUnit.SECONDS))
    import scala.jdk.CollectionConverters._
    val (losers, winners) = results.asScala.toSeq.partitionMap(identity)
    assert(winners.size == 1, s"expected exactly one winner, got $winners")
    assert(losers.forall(_.isInstanceOf[org.apache.hadoop.fs.FileAlreadyExistsException]))
    assert(MetaIO.readString(target) == s"""{"writer":${winners.head}}""")
    // no tmp litter left behind — raw directory listing, so hidden
    // sidecars (e.g. Hadoop .crc files) can't slip past a filtered view
    val raw = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try assert(raw.iterator().asScala.map(_.getFileName.toString).toSeq == Seq("00000001.json"))
    finally raw.close()
  }

  test("compactHead: bin-packed, content-identical forward commit") {
    import org.apache.spark.sql.functions._
    val p = freshPath()
    val df = spark.range(0, 10000)
      .select(col("id").as("node_key"), (col("id") * 2).as("v"))
      .repartition(64) // fragmented head: 64 small files
    TemporalTable.write(df, p)
    assert(MetaIO.listFiles(s"$p/rev=1").size >= 32, "fixture not fragmented")

    val rev = TemporalTable.compactHead(spark, p, targetFileBytes = 1L << 30)
    assert(rev.contains(2))
    assert(MetaIO.listFiles(s"$p/rev=2").size == 1, "head not bin-packed")
    // content identical: adjacent diff across the compaction is empty
    assert(TemporalTable.diff(spark, p, 1, 2).isEmpty)
    val head = TemporalTable.read(spark, p).drop("revision", "commit_ts", "author")
    assert(head.except(df).isEmpty && df.except(head).isEmpty)
    // history immutable: as-of before the compaction serves the original
    assert(TemporalTable.read(spark, p, Some(1)).inputFiles.length >= 32)
    // the key-index sidecar is BYTE-COPIED from the source revision
    // (content-identical commit — r17): it must exist and serve the
    // record-to-revisions lookup with the compacted revision included
    assert(MetaIO.exists(s"$p/_keyindex/rev=2"), "copied key index missing")
    assert(TemporalTable.recordRevisions(spark, p, 7L)
      .select("revision").as[Int].collect().toSeq == Seq(1, 2))
    // already compact → no-op, no new commit
    assert(TemporalTable.compactHead(spark, p, 1L << 30).isEmpty)
    assert(TemporalTable.mostRecentRevision(p).contains(2))
    // multi-file target: a re-fragmented head packs to ceil(bytes/target)
    TemporalTable.write(df, p) // rev 3, 64 files again
    val bytes = MetaIO.listFiles(s"$p/rev=3").map(_._2).sum
    val target = bytes / 3
    val rev4 = TemporalTable.compactHead(spark, p, targetFileBytes = target)
    assert(rev4.contains(4))
    val want = ((bytes + target - 1) / target).toInt
    assert(MetaIO.listFiles(s"$p/rev=4").size == want,
      s"expected $want files")
  }

  test("warm commit-log parses pay zero GETs (aged session-open analog)") {
    // the reference opens a 10k-revision session flat (BENCHMARKS.md:253);
    // our analog: commit entries are create-new-once immutable, so every
    // parse after the first is ONE LIST + cached contents — commits(),
    // manifests and schemas stop multiplying GETs with history depth
    val p = java.nio.file.Files.createTempDirectory("graft-logcache")
      .resolve("tbl").toString
    val dir = TemporalTable.commitsDir(p)
    MetaIO.mkdirs(dir)
    (1 to 500).foreach { r =>
      MetaIO.createNew(f"$dir/$r%08d.json",
        s"""{"revision":$r,"commitTsMs":$r,"author":"x","message":"",""" +
          s""""files":"f.parquet|10","schemaDdl":"node_key BIGINT"}""")
    }
    assert(TemporalTable.commits(p).size == 500) // cold: reads entries
    val before = MetaIO.readCount.get()
    assert(TemporalTable.commits(p).size == 500)
    assert(TemporalTable.commitFileManifests(p).size == 500)
    assert(TemporalTable.commitSchemas(p).size == 500)
    assert(MetaIO.readCount.get() == before,
      "warm commit-log parses must serve from the immutable-entry cache")
    // a NEW entry costs exactly its own GET
    MetaIO.createNew(f"$dir/${501}%08d.json",
      s"""{"revision":501,"commitTsMs":501,"author":"x","message":""}""")
    assert(TemporalTable.commits(p).size == 501)
    assert(MetaIO.readCount.get() == before + 1)
  }

  test("drop-and-recreate never serves the old table's cached entries") {
    // the entry cache keys on (path, size, mtime); a recreated same-size
    // entry within the store's mtime granularity could collide — delete()
    // purges cached entries under the dropped path, so an in-process
    // drop+recreate is immune regardless of mtime resolution
    val p = java.nio.file.Files.createTempDirectory("graft-dropcache")
      .resolve("tbl").toString
    val dir = TemporalTable.commitsDir(p)
    MetaIO.mkdirs(dir)
    // author field padded so old/new contents are the SAME byte length
    MetaIO.createNew(f"$dir/${1}%08d.json",
      s"""{"revision":1,"commitTsMs":1,"author":"aa","message":""}""")
    assert(TemporalTable.commits(p).head.author == "aa")
    MetaIO.delete(p, recursive = true)
    MetaIO.mkdirs(dir)
    MetaIO.createNew(f"$dir/${1}%08d.json",
      s"""{"revision":1,"commitTsMs":1,"author":"bb","message":""}""")
    assert(TemporalTable.commits(p).head.author == "bb",
      "stale cached entry served after drop-and-recreate")
  }

  test("the memberlocal: message prefix is reserved (r16 VERDICT Wrong #5)") {
    // a library caller stamping the fast-commit marker on a REAL-text
    // revision would make readers silently serve the base revision's
    // reconstruction instead of the written content — refuse loudly
    val p = freshPath()
    TemporalTable.write(rev1, p)
    val e = intercept[IllegalArgumentException](
      TemporalTable.write(rev2, p, message = "memberlocal:1"))
    assert(e.getMessage.contains("reserved"))
    val e2 = intercept[IllegalArgumentException](
      TemporalTable.commitCopyOf(p, 1, message = "memberlocal:1"))
    assert(e2.getMessage.contains("reserved"))
    // nothing committed by the refusals; ordinary messages still work
    assert(TemporalTable.commits(p).map(_.revision) == Seq(1))
    assert(TemporalTable.write(rev2, p, message = "ok") == 2)
  }

  test("aborted write leaves no revision and frees nothing visible") {
    val p = freshPath()
    TemporalTable.write(rev1, p)
    val r = TemporalTable.reserveRevision(p)
    rev2.write.mode("overwrite").parquet(s"$p/rev=$r") // partial data lands
    TemporalTable.abortReservation(p, r)
    assert(TemporalTable.commits(p).map(_.revision) == Seq(1))
    assert(!MetaIO.exists(s"$p/rev=$r"))
    // the next successful write claims a fresh number and commits cleanly
    val next = TemporalTable.write(rev2, p)
    assert(next == 2)
    assert(TemporalTable.read(spark, p).count() == 3)
  }
}
