package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

sealed trait Kind
case object Read extends Kind
case object Commit extends Kind

/** One closed-loop client: each operation starts after the previous one has
  * ended. An operation's wall time covers only the calls into graft and
  * Spark; its expected answer comes from the benchmark's own model and is
  * computed and compared outside that time. A thrown error or a wrong
  * answer counts the operation as failed and records no latency.
  *
  * `injectAt` (self-test only) names one operation, by its 1-based
  * sequence number, whose expected answer is corrupted on purpose. */
final class Harness(val spark: SparkSession, val trace: Tracer, injectAt: Int) {
  final case class Sample(cls: String, kind: Kind, ms: Double)

  val samples = ArrayBuffer.empty[Sample]
  var attempted = 0
  var failed = 0
  var wrong = 0
  private var seq = 0

  /** Run one timed operation. `check` maps the result to (actual,
    * expected) canonical forms; they must be equal. Returns the result
    * unless the operation threw. */
  def op[A](cls: String, kind: Kind)(body: => A)(check: A => (Seq[String], Seq[String])): Option[A] = {
    attempted += 1
    seq += 1
    val t0 = System.nanoTime()
    val res = try Right(trace.op(seq, cls)(body)) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    res match {
      case Left(e) =>
        failed += 1
        System.err.println(s"[graftbench] $cls #$seq failed: $e")
        None
      case Right(a) =>
        val (actual, expected0) = check(a)
        val expected = if (seq == injectAt) expected0 :+ "<injected wrong answer>" else expected0
        if (actual != expected) {
          failed += 1
          wrong += 1
          val missing = expected.diff(actual).take(5)
          val extra = actual.diff(expected).take(5)
          System.err.println(s"[graftbench] $cls #$seq wrong answer: " +
            s"missing ${missing.mkString(", ")}; unexpected ${extra.mkString(", ")}")
        } else samples += Sample(cls, kind, ms)
        Some(a)
    }
  }

  /** The action that executes a read's plan. */
  def collect(df: DataFrame, span: String = "action"): Array[org.apache.spark.sql.Row] =
    trace.action(df, span)(df.collect())

  /** (class, median ms, samples in ms) of every class of a kind. */
  def classMedians(kind: Kind): Seq[(String, Double, Seq[Double])] =
    samples.filter(_.kind == kind).groupBy(_.cls).toSeq.sortBy(_._1).map { case (c, ss) =>
      val ms = ss.map(_.ms).toSeq
      (c, Stats.median(ms), ms)
    }
}
