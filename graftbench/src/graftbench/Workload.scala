package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One workload: a fixture built in `dir`, then a fixed sequence of rounds.
  * Every round is the same list of operation classes, with parameters drawn
  * from the seed and the round number only. */
trait Workload {
  def dir: String
  /** Build the fixture through graft's own write path. */
  def setup(): Unit
  /** Run every read class once, untimed, with answers checked. */
  def warmUp(): Unit
  def round(h: Harness, r: Int): Unit
  /** Logical bytes of every record version committed so far. */
  def versionBytes: Long
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, dir: String, trace: Tracer): Workload =
    name match {
      case "temporal_history" => new TemporalHistory(spark, seed, dir, trace)
      case "jsoniq_documents" => new JsoniqDocuments(spark, seed, dir, trace)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** Rounds per run: a fixed count for a given run length. A round takes
    * about 9 s (jsoniq_documents) to 13 s (temporal_history) on a 4-vCPU
    * host. */
  def rounds(seconds: Int): Int = math.max(1, seconds / 10)
}

/** The record schema of the benchmark's versioned tables. */
object Recs {
  val schema: StructType = StructType(Seq(
    StructField("node_key", LongType, nullable = false),
    StructField("name", StringType),
    StructField("score", LongType),
    StructField("tag", StringType),
    StructField("vf", LongType),
    StructField("vt", LongType),
    StructField("emb", ArrayType(DoubleType, containsNull = false))))

  def frame(spark: SparkSession, recs: Seq[Rec]): DataFrame =
    spark.createDataFrame(recs.map(r =>
      Row(r.key, r.name, r.score, r.tag, r.vf, r.vt.map(Long.box).orNull, r.emb)).asJava, schema)
}

object Disk {
  /** Files and bytes under a directory. */
  def usage(dir: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return (0L, 0L)
    val s = java.nio.file.Files.walk(root)
    try {
      val files = s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p)).toSeq
      (files.size.toLong, files.map(p => java.nio.file.Files.size(p)).sum)
    } finally s.close()
  }
}

/** Set-up steps, timed to stderr. */
object Steps {
  def apply[A](label: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = body
    System.err.println(f"[graftbench] setup step $label%-28s ${(System.nanoTime() - t0) / 1e6}%9.1f ms")
    r
  }
}
