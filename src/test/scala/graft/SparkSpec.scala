package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (getOrCreate → one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** `body`'s result and the number of Spark jobs it started. A marker
    * job closes the window: the listener sees jobs in order. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(pr =>
          Option(pr.getProperty("spark.job.description"))).getOrElse("?"))
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription("marker")
      try sc.parallelize(Seq(1)).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 10000000000L
      while (!seen.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
      (out, seen.size - 1)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.ui.enabled", "false")
      // the full extension surface is active in every spec (functions,
      // count-from-metadata, stab rewrite, delta reconstruction)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
