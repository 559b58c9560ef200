package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.FileScan

/** Spans around the benchmark's calls into graft's layers, kept in memory
  * and written out when the run ends. Disabled (the end-to-end runs), every
  * method reduces to running its body.
  *
  * Span names carry the role of the call: `plan:` builds a read's
  * DataFrame before its action, `commit:` is a write through the storage
  * layer, `index:` maintains a secondary index, `compile:new` and
  * `compile:repeat` compile a JSONiq text seen for the first time or
  * again, `update:` commits through the JSONiq layer, and
  * `action` executes a plan. The layer is the graft package called into
  * (`sources`, `query`, `operators`, `streaming`) or `spark` for actions;
  * each operation's root span has layer `bench`. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, op: Int, name: String, layer: String,
                        startNs: Long, endNs: Long)
  final class OpStat(val cls: String) {
    var startMs = 0L
    var endMs = 0L
    var durMs = 0.0
    var actions = 0
    var scans = 0
    var filesRead = 0L
    var filesTotal = 0L
    var rowsScanned = 0L
  }

  val spans = ArrayBuffer.empty[Span]
  val opStats = mutable.LinkedHashMap.empty[Int, OpStat]
  val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var curOp = 0
  private var spark: SparkSession = _
  private val engine = new EngineListener

  def attach(s: SparkSession): Unit = if (enabled) {
    spark = s
    s.sparkContext.addSparkListener(engine)
  }

  /** Count toward a per-layer metric; only the timed phase (after
    * [[attach]]) counts, so set-up and warm-up leave no trace. */
  def add(counter: String, v: Double): Unit = if (enabled && spark != null) counters(counter) += v

  def op[A](seq: Int, cls: String)(body: => A): A =
    if (!enabled) body
    else {
      curOp = seq
      val st = new OpStat(cls)
      opStats(seq) = st
      st.startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try span(cls, "bench")(body)
      finally {
        st.durMs = (System.nanoTime() - t0) / 1e6
        st.endMs = System.currentTimeMillis()
        curOp = 0
      }
    }

  /** A span inside the running operation; outside operations (set-up,
    * warm-up) nothing is recorded. */
  def span[A](name: String, layer: String)(body: => A): A =
    if (!enabled || curOp == 0) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      setProps(id)
      val w0 = if (name.startsWith("commit:")) Tracer.fsBytesWritten else 0L
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, curOp, name, layer, t0, System.nanoTime())
        if (name.startsWith("commit:")) counters("commit.bytes") += Tracer.fsBytesWritten - w0
        stack = stack.tail
        setProps(parent)
      }
    }

  /** Execute `df`'s plan, then read its scan metrics. */
  def action[A](df: DataFrame, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val r = span(name, "spark")(body)
      opStats.get(curOp).foreach { st =>
        val (scans, read, total, rows) = Tracer.PlanScans.of(df.queryExecution.executedPlan)
        st.actions += 1
        st.scans += scans
        st.filesRead += read
        st.filesTotal += total
        st.rowsScanned += rows
      }
      r
    }

  private def setProps(spanId: Int): Unit = if (spark != null) {
    spark.sparkContext.setLocalProperty("graftbench.op", if (curOp > 0) curOp.toString else null)
    spark.sparkContext.setLocalProperty("graftbench.span", if (spanId > 0) spanId.toString else null)
  }

  /** Write the spans as JSON lines. */
  def writeSpans(file: java.io.File): Unit = if (enabled) {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""layer":"${s.layer}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }

  /** Per-layer metrics. Call after the SparkContext has stopped, which
    * drains the listener bus. */
  def perLayer(onDisk: Long): Seq[(String, Double, String)] = {
    val ops = opStats.size.max(1).toDouble
    def spansNamed(p: String => Boolean) = spans.filter(s => p(s.name))
    def meanMs(ss: Seq[Span]): Double =
      if (ss.isEmpty) 0.0 else ss.map(s => (s.endNs - s.startNs) / 1e6).sum / ss.size
    def meanOpMs(cls: String): Double = {
      val os = opStats.values.filter(_.cls == cls)
      if (os.isEmpty) 0.0 else os.map(_.durMs).sum / os.size
    }
    val plans = spansNamed(_.startsWith("plan:")).toSeq
    val planOps = plans.map(_.op).distinct.size.max(1)
    val planSpanIds = plans.map(_.id).toSet
    val commits = spansNamed(_.startsWith("commit:")).toSeq
    val repeats = spansNamed(_ == "compile:repeat").size
    val jobs = engine.jobs.toSeq
    // a job submitted from a thread without the span properties (graft's
    // own pools) is attributed by time to the operation running then
    def opOf(j: engine.Job): Int = j.op.getOrElse(
      opStats.collectFirst { case (id, st) if j.startMs >= st.startMs && j.startMs <= st.endMs => id }
        .getOrElse(0))
    val jobsByOp = jobs.groupBy(opOf).filter(_._1 > 0)
    val stagesOf = jobs.flatMap(j => j.stageIds.map(_ -> opOf(j))).toMap
    val stageTotals = engine.stages.values.filter(s => stagesOf.getOrElse(s.id, 0) > 0)
    def stageSum(f: engine.StageStat => Double) = stageTotals.iterator.map(f).sum / ops
    val driverMs = opStats.map { case (id, st) =>
      val busy = Stats.coveredLength(jobsByOp.getOrElse(id, Nil).map(j =>
        (math.max(j.startMs, st.startMs), math.min(engine.jobEnd.getOrElse(j.id, st.endMs), st.endMs))))
      math.max(0.0, st.durMs - busy)
    }.sum / ops
    val diffOps = opStats.values.filter(_.cls == "diff")
    val scanned = opStats.values.toSeq
    val filesTotal = scanned.map(_.filesTotal).sum
    val selfByLayer = selfTimes()
    Seq(
      ("sources.plan_ms", meanMs(plans), "ms"),
      ("sources.plan_jobs_per_op", jobs.count(j => j.span.exists(planSpanIds.contains)).toDouble / planOps, "jobs/op"),
      ("sources.commit_ms", meanMs(commits), "ms"),
      ("sources.bytes_written_per_commit", if (commits.isEmpty) 0.0 else counters("commit.bytes") / commits.size, "bytes"),
      ("sources.files_per_commit", if (commits.isEmpty) 0.0 else counters("commit.files") / commits.size, "files"),
      ("sources.index_maintain_ms", meanMs(spansNamed(_.startsWith("index:")).toSeq), "ms"),
      ("sources.files_on_disk", onDisk.toDouble, "files"),
      ("query.compile_ms", meanMs(spansNamed(_ == "compile:new").toSeq), "ms"),
      ("query.compile_repeat_ms", meanMs(spansNamed(_ == "compile:repeat").toSeq), "ms"),
      ("query.repeat_recompile_share", if (repeats == 0) 0.0 else counters("compile.repeat_recompiled") / repeats, "ratio"),
      ("query.exec_ms", meanMs(spansNamed(_ == "exec:jsoniq").toSeq), "ms"),
      ("query.update_ms", meanMs(spansNamed(_.startsWith("update:")).toSeq), "ms"),
      ("operators.diff_ms", meanOpMs("diff"), "ms"),
      ("operators.diff_rows_scanned_per_change",
        if (counters("diff.changes") == 0) 0.0 else diffOps.map(_.rowsScanned).sum / counters("diff.changes"), "rows"),
      ("operators.knn_ms", meanOpMs("knn"), "ms"),
      ("operators.knn_recall", if (counters("knn.asked") == 0) 0.0 else counters("knn.hits") / counters("knn.asked"), "ratio"),
      ("plans.scan_free_ops", scanned.count(s => s.actions > 0 && s.scans == 0).toDouble, "ops"),
      ("plans.files_pruned_share", if (filesTotal == 0) 0.0 else 1.0 - scanned.map(_.filesRead).sum.toDouble / filesTotal, "ratio"),
      ("streaming.feed_ms", meanOpMs("feed"), "ms"),
      ("spark.jobs_per_op", jobsByOp.values.map(_.size).sum / ops, "jobs/op"),
      ("spark.stages_per_op", stageTotals.size / ops, "stages/op"),
      ("spark.tasks_per_op", stageSum(_.tasks), "tasks/op"),
      ("spark.task_ms_per_op", stageSum(_.runMs), "ms/op"),
      ("spark.driver_ms_per_op", driverMs, "ms/op"),
      ("spark.input_bytes_per_op", stageSum(_.inputBytes), "bytes/op"),
      ("spark.files_read_per_op", scanned.map(_.filesRead).sum / ops, "files/op"),
      ("spark.shuffle_bytes_per_op", stageSum(_.shuffleBytes), "bytes/op"),
      ("spark.spill_bytes_per_op", stageSum(_.spillBytes), "bytes/op"),
      ("spark.result_bytes_per_op", stageSum(_.resultBytes), "bytes/op"),
      ("jvm.gc_ms_per_op", counters("gc.ms") / ops, "ms/op"),
    ) ++ Tracer.Layers.map(l => (s"self.${l}_ms_per_op", selfByLayer.getOrElse(l, 0.0) / ops, "ms/op"))
  }

  /** Self time of each layer: a span's duration minus what its child spans
    * cover, summed by layer. */
  def selfTimes(): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val covered = Stats.coveredLength(children.getOrElse(s.id, Nil).toSeq.map(c => (c.startNs, c.endNs)))
      s.layer -> (s.endNs - s.startNs - covered) / 1e6
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Spark engine counts, from the listener bus. */
  final class EngineListener extends SparkListener {
    final case class Job(id: Int, startMs: Long, op: Option[Int], span: Option[Int], stageIds: Seq[Int])
    final case class StageStat(id: Int, tasks: Double, runMs: Double, inputBytes: Double,
                               shuffleBytes: Double, spillBytes: Double, resultBytes: Double)
    val jobs = ArrayBuffer.empty[Job]
    val jobEnd = mutable.Map.empty[Int, Long]
    val stages = mutable.Map.empty[(Int, Int), StageStat]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).map(_.toInt)
      jobs += Job(e.jobId, e.time, prop("graftbench.op"), prop("graftbench.span"), e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobEnd(e.jobId) = e.time }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val tm = si.taskMetrics
      stages((si.stageId, si.attemptNumber())) = StageStat(si.stageId, si.numTasks,
        tm.executorRunTime, tm.inputMetrics.bytesRead, tm.shuffleWriteMetrics.bytesWritten,
        tm.memoryBytesSpilled + tm.diskBytesSpilled, tm.resultSize)
    }
  }
}

object Tracer {
  val Layers = Seq("bench", "sources", "query", "operators", "streaming", "spark")

  def fsBytesWritten: Long = {
    @annotation.nowarn("cat=deprecation")
    val all = FileSystem.getAllStatistics.asScala
    all.iterator.map(_.getBytesWritten).sum
  }

  /** File scans in an executed plan: (scans, files read, files listed,
    * rows scanned). */
  object PlanScans extends AdaptiveSparkPlanHelper {
    def of(plan: SparkPlan): (Int, Long, Long, Long) = {
      val found = collectWithSubqueries(plan) {
        case s: FileSourceScanExec =>
          val read = s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          (read, s.relation.location.inputFiles.length.toLong,
            s.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
        case b: BatchScanExec =>
          val read = b.inputPartitions.flatMap {
            case fp: FilePartition => fp.files.map(_.filePath.toString).toSeq
            case _ => Nil
          }.distinct.size.toLong
          val total = b.scan match {
            case fs: FileScan => fs.fileIndex.inputFiles.length.toLong
            case _ => read
          }
          (read, total, b.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
      }
      (found.size, found.map(_._1).sum, found.map(_._2).sum, found.map(_._3).sum)
    }
  }
}
