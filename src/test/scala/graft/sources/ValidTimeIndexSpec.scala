package graft.sources

import graft.SparkSpec
import graft.operators.Intervals
import org.apache.spark.sql.functions._

/** Commit-maintained valid-time fork index (SURVEY §2.10 valid-time row;
  * reference ValidTimeIntervalIndexWriter.java via ChangeListener.java). */
class ValidTimeIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("tbl").toString

  // intervals on a small long axis: key k valid [k*100, k*100+150) —
  // overlapping neighbours, plus one OPEN interval
  private def frame(n: Int, mult: Long = 100L) =
    (1L to n.toLong).map(k =>
        (k, k * mult, if (k == n.toLong) None else Some(k * mult + 150)))
      .toDF("node_key", "vf", "vt")
      .select($"node_key", $"vf", $"vt")

  test("policy-maintained sidecar: validAt equals the plain stab, per revision") {
    val p = tmp("graft-vti")
    ValidTimeIndex.setPolicy(p, "vf", "vt", granularity = 64)
    TemporalTable.write(frame(200), p)
    TemporalTable.write(frame(120, mult = 90L), p) // revision 2 reshapes
    assert(MetaIO.exists(s"$p/_vindex/rev=1") && MetaIO.exists(s"$p/_vindex/rev=2"))
    for (rev <- Seq(1, 2); ts <- Seq(100L, 555L, 5000L, 19999L)) {
      val got = ValidTimeIndex.validAt(spark, p, ts, Some(rev))
        .select("node_key", "vf", "vt").orderBy("node_key")
        .collect().toSeq
      val want = TemporalTable.read(spark, p, Some(rev))
        .filter($"vf" <= ts && ($"vt".isNull || $"vt" > ts))
        .select("node_key", "vf", "vt").orderBy("node_key")
        .collect().toSeq
      assert(got == want, s"rev=$rev ts=$ts")
      assert(want.nonEmpty, s"degenerate fixture at rev=$rev ts=$ts")
    }
    // latest-revision default
    assert(ValidTimeIndex.validAt(spark, p, 555L).count() ==
      ValidTimeIndex.validAt(spark, p, 555L, Some(2)).count())
  }

  test("merge writes the fork sidecar writeIndexed builds from the committed revision") {
    val p = tmp("graft-vti-merge")
    TemporalTable.write(frame(300), p)
    ValidTimeIndex.setPolicy(p, "vf", "vt", granularity = 64)
    val ups = Seq((5L, 7000L, Option(7400L)), (120L, 12000L, None),
        (301L, 30100L, Option(30250L)), (302L, 150L, Option(29000L)))
      .toDF("node_key", "vf", "vt")
    val rev = TemporalTable.merge(spark, p, ups, Some(Seq(10L, 11L, 300L).toDF("node_key")))
    val ref = tmp("graft-vti-merge-ref")
    Intervals.writeIndexed(TemporalTable.read(spark, p, Some(rev))
      .drop("revision", "commit_ts", "author"), ref, "vf", "vt", 64)
    val got = Intervals.readIndexed(spark, s"$p/_vindex/rev=$rev")
    val want = Intervals.readIndexed(spark, ref)
    assert(got.schema == want.schema)
    assert(got.schema(Intervals.ForkCol).metadata == want.schema(Intervals.ForkCol).metadata)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("node_key", "vf", "vt", Intervals.ForkCol, Intervals.ForkPartCol)
        .collect().map(_.toString).sorted.toSeq
    assert(rowsOf(got) == rowsOf(want) && rowsOf(got).size == 299)
    // and the sidecar serves stabs as the plain scan answers them
    val snap = TemporalTable.read(spark, p, Some(rev)).select("node_key", "vf", "vt")
      .as[(Long, Long, Option[Long])].collect()
    (0 until 20).map(i => i * 1543L % 31000L).foreach { ts =>
      val stab = ValidTimeIndex.validAt(spark, p, ts).select("node_key").as[Long]
        .collect().sorted.toSeq
      val scan = snap.filter { case (_, vf, vt) => vf <= ts && vt.forall(_ > ts) }
        .map(_._1).sorted.toSeq
      assert(stab == scan && (ts == 0L || scan.nonEmpty), s"ts=$ts")
    }
  }

  test("a failing fork-sidecar job aborts the commit and leaves no sidecar") {
    val p = tmp("graft-vti-abort")
    TemporalTable.write(frame(50), p)
    // a policy on a text column: the data write, manifest and key index
    // all succeed, only the fork job's numeric cast fails (ANSI mode)
    ValidTimeIndex.setPolicy(p, "label", "vt", granularity = 64)
    val bad = frame(60).withColumn("label", lit("not-a-number"))
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try intercept[Exception](TemporalTable.write(bad, p))
    finally spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert(TemporalTable.commits(p).map(_.revision) == Seq(1))
    Seq(s"$p/rev=2", s"$p/_keyindex/rev=2", s"$p/_vindex/rev=2").foreach(d =>
      assert(!MetaIO.exists(d), s"aborted commit left $d"))
    assert(!MetaIO.list(p).exists(_.startsWith(".manifest-tmp")), "manifest temp dir left")
    // the table stays writable once the policy is repaired
    ValidTimeIndex.setPolicy(p, "vf", "vt", granularity = 64)
    val rev = TemporalTable.write(frame(60), p)
    assert(MetaIO.exists(s"$p/_vindex/rev=$rev"))
    assert(ValidTimeIndex.validAt(spark, p, 555L).count() ==
      TemporalTable.read(spark, p).filter($"vf" <= 555L && ($"vt".isNull || $"vt" > 555L)).count())
  }

  test("the stab plan reads only the fork partitions on the instant's root path") {
    val p = tmp("graft-vti-prune")
    ValidTimeIndex.setPolicy(p, "vf", "vt", granularity = 64)
    TemporalTable.write(frame(400), p)
    val allParts = MetaIO.listDirs(s"$p/_vindex/rev=1")
      .count(_.startsWith(s"${Intervals.ForkPartCol}="))
    assert(allParts > 10, s"fixture too small to prove pruning ($allParts parts)")
    val ts = 999L
    val stabbed = ValidTimeIndex.validAt(spark, p, ts, Some(1))
    // physical evidence: the files actually read all live in stab-node
    // partitions, and far fewer directories than the table holds
    val files = stabbed.select(input_file_name()).distinct().as[String].collect()
    assert(files.nonEmpty)
    val allowed = Intervals.stabNodes(ts, 64).map(n => s"${Intervals.ForkPartCol}=$n").toSet
    val touched = files.map { f =>
      f.split("/").find(_.startsWith(s"${Intervals.ForkPartCol}=")).getOrElse("?")
    }.toSet
    assert(touched.subsetOf(allowed), s"read outside the root path: $touched")
    assert(touched.size < allParts,
      s"no pruning: touched ${touched.size} of $allParts partitions")
    // and the answer is right
    assert(stabbed.select("node_key").as[Long].collect().toSet ==
      (1L to 400L).filter(k => k * 100 <= ts && (k == 400L || k * 100 + 150 > ts)).toSet)
  }

  test("empty or axis-less revisions skip the sidecar; validAt falls back") {
    val p = tmp("graft-vti-fallback")
    ValidTimeIndex.setPolicy(p, "vf", "vt", granularity = 64)
    TemporalTable.write(frame(50), p)
    TemporalTable.write(frame(50).filter($"node_key" < 0), p) // empty rev 2
    assert(!MetaIO.exists(s"$p/_vindex/rev=2"), "empty revision must not index")
    assert(ValidTimeIndex.validAt(spark, p, 555L, Some(2)).count() == 0)
    assert(ValidTimeIndex.validAt(spark, p, 555L, Some(1)).count() > 0)
    // a revision lacking the axis columns records nothing and still commits
    TemporalTable.write(Seq((1L, "x")).toDF("node_key", "name"), p)
    assert(!MetaIO.exists(s"$p/_vindex/rev=3"))
    // no policy: explicit failure pointing at the operator-level stab
    val bare = tmp("graft-vti-none")
    TemporalTable.write(frame(5), bare)
    intercept[IllegalStateException] {
      ValidTimeIndex.validAt(spark, bare, 100L)
    }
  }

  test("V2 appends honor the policy (it travels with the table)") {
    val p = tmp("graft-vti-v2")
    ValidTimeIndex.setPolicy(p, "vf", "vt", granularity = 64)
    TemporalTable.write(frame(60), p)
    frame(40, mult = 110L).write.format("graft-temporal").mode("append").save(p)
    assert(MetaIO.exists(s"$p/_vindex/rev=2"), "V2 commit skipped the fork sidecar")
    val got = ValidTimeIndex.validAt(spark, p, 555L, Some(2))
      .select("node_key").as[Long].collect().toSet
    val want = TemporalTable.read(spark, p, Some(2))
      .filter($"vf" <= 555L && ($"vt".isNull || $"vt" > 555L))
      .select("node_key").as[Long].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("delta chain: epoch-base sidecar serves stabs at delta revisions") {
    val p = tmp("graft-vti-delta")
    ValidTimeIndex.setPolicy(p, "vf", "vt", granularity = 64)
    // epoch 1: full rev=1, then two delta commits mutating the chain —
    // an update that moves a key INTO the stab window, one OUT of it, a
    // delete, and fresh inserts (snapshotEvery=4 keeps all three in one
    // epoch, so rev=3 stabs through rev=1's sidecar + two delta files)
    val f1 = frame(400)
    DeltaTemporalTable.write(spark, f1, p)
    assert(MetaIO.exists(s"$p/_vindex/rev=1"),
      "full commit of a delta chain skipped the epoch sidecar")
    val f2 = f1.withColumn("vf",
        when($"node_key" === 300L, lit(500L)).otherwise($"vf"))
      .withColumn("vt",
        when($"node_key" === 300L, lit(700L))
          .when($"node_key" === 5L, lit(400L)) // 5 leaves the 555 stab
          .otherwise($"vt"))
    DeltaTemporalTable.write(spark, f2, p)
    val f3 = f2.filter($"node_key" =!= 4L) // delete
      .unionByName(Seq((900L, 540L, Some(600L))).toDF("node_key", "vf", "vt"))
    DeltaTemporalTable.write(spark, f3, p)
    assert(!MetaIO.exists(s"$p/_vindex/rev=2") &&
      !MetaIO.exists(s"$p/_vindex/rev=3"),
      "delta commits must not materialize sidecars")
    for ((rev, ts) <- Seq((1, 555L), (2, 555L), (3, 555L), (3, 5000L),
        (3, 19999L))) {
      val got = ValidTimeIndex.validAt(spark, p, ts, Some(rev))
        .select("node_key").as[Long].collect().toSet
      val want = DeltaTemporalTable.read(spark, p, Some(rev))
        .filter($"vf" <= ts && ($"vt".isNull || $"vt" > ts))
        .select("node_key").as[Long].collect().toSet
      assert(got == want && want.nonEmpty, s"rev=$rev ts=$ts: $got vs $want")
    }
    // the moved-in key is found, the moved-out and deleted ones are not
    val at555 = ValidTimeIndex.validAt(spark, p, 555L, Some(3))
      .select("node_key").as[Long].collect().toSet
    assert(at555.contains(300L) && at555.contains(900L) &&
      !at555.contains(5L) && !at555.contains(4L))
    // physical evidence (file level, single-source frame): stabbing the
    // BASE revision reads only stab-node fork partitions of the sidecar
    val files = ValidTimeIndex.validAt(spark, p, 555L, Some(1))
      .select(input_file_name()).distinct().as[String].collect()
    assert(files.nonEmpty && files.forall(_.contains("/_vindex/")))
    val allowed = Intervals.stabNodes(555L, 64)
      .map(n => s"${Intervals.ForkPartCol}=$n").toSet
    val touched = files.map { f =>
      f.split("/").find(_.startsWith(s"${Intervals.ForkPartCol}="))
        .getOrElse("?")
    }.toSet
    assert(touched.subsetOf(allowed), s"read outside the root path: $touched")
    val allParts = MetaIO.listDirs(s"$p/_vindex/rev=1")
      .count(_.startsWith(s"${Intervals.ForkPartCol}="))
    assert(touched.size < allParts,
      s"no pruning: touched ${touched.size} of $allParts partitions")
    // plan evidence at the delta revision (input_file_name cannot span
    // the union): the full's contribution scans the SIDECAR location
    // with the fork IN-list, never the raw rev=1 data dir; the only raw
    // dirs in the plan are the epoch's small delta files
    val deltaPlan = ValidTimeIndex.validAt(spark, p, 555L, Some(3))
      .queryExecution.executedPlan.toString
    assert(deltaPlan.contains("_vindex"), s"sidecar absent from plan:\n$deltaPlan")
    assert(!deltaPlan.contains(s"$p/rev=1"),
      "stab scanned the raw full revision instead of the fork sidecar")
    // and the sidecar files it plans to read all lie in stab-node fork
    // directories (the scan lists no other)
    val deltaForks = ValidTimeIndex.validAt(spark, p, 555L, Some(3)).inputFiles
      .filter(_.contains("/_vindex/")).map { f =>
        f.split("/").find(_.startsWith(s"${Intervals.ForkPartCol}=")).getOrElse("?")
      }.toSet
    assert(deltaForks.nonEmpty && deltaForks.subsetOf(allowed),
      s"delta stab reads fork directories off the root path: $deltaForks")
    // compaction mints a new indexed epoch and later stabs use it
    val cRev = DeltaTemporalTable.compact(spark, p)
    assert(MetaIO.exists(s"$p/_vindex/rev=$cRev"),
      "compact() skipped the epoch sidecar")
    val gotC = ValidTimeIndex.validAt(spark, p, 555L, Some(cRev))
      .select("node_key").as[Long].collect().toSet
    assert(gotC == at555)
    // pre-policy epochs fall back to the reconstruction scan, identically
    val bare = tmp("graft-vti-delta-late")
    DeltaTemporalTable.write(spark, frame(50), bare)
    ValidTimeIndex.setPolicy(bare, "vf", "vt", granularity = 64)
    DeltaTemporalTable.write(spark, frame(50, mult = 90L), bare)
    val lateGot = ValidTimeIndex.validAt(spark, bare, 555L, Some(2))
      .select("node_key").as[Long].collect().toSet
    val lateWant = DeltaTemporalTable.read(spark, bare, Some(2))
      .filter($"vf" <= 555L && ($"vt".isNull || $"vt" > 555L))
      .select("node_key").as[Long].collect().toSet
    assert(lateGot == lateWant && lateWant.nonEmpty)
  }

  test("a re-set policy never misprunes revisions written under the old one") {
    // the sidecar's own fork metadata governs the read; the policy is
    // write-side only — a granularity change after revision 1 must not
    // prune revision 1 with constants its forks were not computed under
    val p = tmp("graft-vti-reset")
    ValidTimeIndex.setPolicy(p, "vf", "vt", granularity = 64)
    TemporalTable.write(frame(200), p)
    ValidTimeIndex.setPolicy(p, "vf", "vt", granularity = 7) // different axis coarsening
    TemporalTable.write(frame(200, mult = 90L), p)
    for ((rev, ts) <- Seq((1, 555L), (2, 555L), (1, 19999L), (2, 10000L))) {
      val got = ValidTimeIndex.validAt(spark, p, ts, Some(rev))
        .select("node_key").as[Long].collect().toSet
      val want = TemporalTable.read(spark, p, Some(rev))
        .filter($"vf" <= ts && ($"vt".isNull || $"vt" > ts))
        .select("node_key").as[Long].collect().toSet
      assert(got == want && want.nonEmpty, s"rev=$rev ts=$ts: $got vs $want")
    }
  }

  test("open intervals register at the axis top and every in-axis stab finds them") {
    val p = tmp("graft-vti-open")
    ValidTimeIndex.setPolicy(p, "vf", "vt", granularity = 16)
    // one closed interval low on the axis, one open interval from 50
    TemporalTable.write(Seq((1L, 10L, Some(20L)), (2L, 50L, Option.empty[Long]))
      .toDF("node_key", "vf", "vt"), p)
    assert(ValidTimeIndex.validAt(spark, p, 15L).select("node_key").as[Long]
      .collect().toSet == Set(1L))
    assert(ValidTimeIndex.validAt(spark, p, 60L).select("node_key").as[Long]
      .collect().toSet == Set(2L))
    // stab past the recorded axis max: served (fallback inside the index
    // read — correctness over pruning)
    assert(ValidTimeIndex.validAt(spark, p, 100000L).select("node_key").as[Long]
      .collect().toSet == Set(2L))
  }

  test("a stab plans with no Spark job and equals the full scan across the axis") {
    val p = tmp("graft-vti-nojob")
    ValidTimeIndex.setPolicy(p, "vf", "vt", granularity = 8)
    TemporalTable.write(frame(400), p)
    val parts = MetaIO.listDirs(s"$p/_vindex/rev=1")
      .count(_.startsWith(s"${Intervals.ForkPartCol}="))
    // more fork directories than Spark lists without a distributed job
    assert(parts > spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt,
      s"fixture has only $parts fork directories")
    // the axis ends at 40,000 (the open interval starts there): stabs
    // inside it, on its edges and past it, where the fork index bails
    for (ts <- Seq(0L, 7L, 999L, 12345L, 39999L, 40000L, 40100L, 1000000L)) {
      val (stab, jobs) = jobsDuring(ValidTimeIndex.validAt(spark, p, ts))
      assert(jobs == 0, s"ts=$ts: $jobs jobs before the action")
      val want = ValidTimeIndex.fallbackScan(spark, p, ts, 1)
      assert(stab.columns.toSeq == want.columns.toSeq, s"ts=$ts")
      assert(stab.collect().toSet == want.collect().toSet, s"ts=$ts")
    }
    // the explicit index gives the files their fork directory's mtime,
    // not 1970-01-01
    val mtimes = ValidTimeIndex.validAt(spark, p, 12345L)
      .select(col("_metadata.file_modification_time").cast("long")).distinct()
      .as[Long].collect()
    assert(mtimes.nonEmpty && mtimes.forall(_ > 0L), s"fork file mtimes ${mtimes.toSeq}")
  }
}
