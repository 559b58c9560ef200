package graftbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** One benchmark run: session start, the fixture build and one warm-up
  * pass (together the set-up time), then a fixed number of rounds of the
  * workload, timed as a whole and per operation. Prints one JSON line:
  * end-to-end metrics untraced, per-layer metrics traced.
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --data <dir> --traces <dir> [--inject-wrong <op#>]
  * }}}
  */
object Main {
  /** Spark's local threads: at most this many, and never more than the host's CPUs. */
  val MaxThreads = 4

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val traced = a.getOrElse("trace", "0") == "1"
    val data = a("data")
    val rounds = Workload.rounds(a("seconds").toInt)
    val injectAt = a.get("inject-wrong").map(_.toInt).getOrElse(0)

    val snapStart = Forensics.snap()
    val t0 = System.nanoTime()
    val spark = session(data)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(traced)
    val w = Workload(workload, spark, seed, s"$data/fixture", tracer)
    val s0 = System.nanoTime()
    Steps("fixture")(w.setup())
    Steps("warm-up")(w.warmUp())
    val setupS = sessionS + (System.nanoTime() - s0) / 1e9
    Forensics.report(s"setup ($workload)", snapStart, Forensics.snap())

    tracer.attach(spark)
    val h = new Harness(spark, tracer, injectAt)
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val bytes0 = w.versionBytes
    val written0 = Tracer.fsBytesWritten
    val snap0 = Forensics.snap()
    val cpu0 = cpu.getProcessCpuTime
    (0 until rounds).foreach(r => w.round(h, r))
    val cpuMs = (cpu.getProcessCpuTime - cpu0) / 1e6
    val snap1 = Forensics.snap()
    val written = Tracer.fsBytesWritten - written0
    val wallS = (snap1.wallNs - snap0.wallNs) / 1e9
    Forensics.report(s"timed ($workload seed $seed, $rounds rounds, ${h.attempted} ops)", snap0, snap1)
    tracer.add("gc.ms", (snap1.gcMs - snap0.gcMs).toDouble)
    // Spark's cleaner releases blocks once their owners are collected, so
    // collect, let it run, and collect again
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val liveHeapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val (files, onDisk) = Disk.usage(w.dir)

    def geo(k: Kind) = {
      val ms = h.classMedians(k)
      ms.foreach { case (c, m, xs) => System.err.println(
        f"[graftbench] $c%-22s n=${xs.size}%3d median=$m%9.2f ms  samples ${xs.map(x => f"$x%.0f").mkString(" ")}") }
      if (ms.isEmpty) 0.0 else Stats.geomean(ms.map(_._2))
    }
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_s", (h.attempted - h.failed) / wallS, "ops/s"),
      ("read_ms", geo(Read), "ms"),
      ("commit_ms", geo(Commit), "ms"),
      ("cpu_ms_per_op", cpuMs / h.attempted, "ms"),
      ("space_amp", onDisk.toDouble / w.versionBytes, "ratio"),
      ("write_amp", written.toDouble / math.max(1L, w.versionBytes - bytes0), "ratio"),
      ("live_heap_mb", liveHeapMb, "MB"))
    System.err.println("[graftbench] end-to-end " + json(endToEnd))

    val metrics =
      if (!traced) endToEnd
      else {
        spark.stop() // drains the listener bus
        tracer.writeSpans(new java.io.File(a("traces"), s"spans-$workload-seed$seed.jsonl"))
        tracer.selfTimes().toSeq.sortBy(_._1).foreach { case (l, ms) =>
          System.err.println(f"[graftbench] self time $l%-10s $ms%10.1f ms") }
        tracer.perLayer(files)
      }
    println(s"""{"correct": ${h.wrong == 0}, "attempted": ${h.attempted}, "failed": ${h.failed}, """ +
      s""""metrics": ${json(metrics)}}""")
    if (!traced) spark.stop()
  }

  def session(data: String): SparkSession = {
    val threads = math.min(MaxThreads, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", threads.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$data/spark-local")
      .config("spark.sql.warehouse.dir", s"$data/warehouse")
      .getOrCreate()
    graft.Graft.install(spark)
    spark
  }

  private def json(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
      s""""$n": {"value": $num, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
}

/** The training run of the build's class-data-sharing archive: one fixture
  * and one round of every workload, so the classes the runs load are in it.
  * Usage: `graftbench.Train <data dir>`. */
object Train {
  def main(args: Array[String]): Unit = {
    val spark = Main.session(args(0))
    Seq("temporal_history", "jsoniq_documents").foreach { name =>
      val w = Workload(name, spark, 1L, s"${args(0)}/$name", new Tracer(false))
      w.setup()
      w.warmUp()
      w.round(new Harness(spark, new Tracer(false), 0), 0)
    }
    spark.stop()
  }
}
