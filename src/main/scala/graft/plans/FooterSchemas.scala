package graft.plans

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.types.{DataType, StructType}

/** Driver-side parquet-footer Spark-schema reads, shared by the metadata
  * rewrite rules ([[DictAggRule]]'s per-file dictionary verification) and
  * the snapshot/sidecar readers ([[readParquet]]).
  *
  * Spark stamps every parquet file it writes with the serialized Catalyst
  * schema — INCLUDING column metadata, which is where [[graft.operators
  * .Dict]] carries its dictionaries — under the standard footer key
  * `org.apache.spark.sql.parquet.row.metadata`. A multi-file scan's
  * RESOLVED schema, however, keeps only ONE footer's metadata (schema
  * inference picks a representative file), so any rule that acts on
  * per-column metadata over a multi-file scan must re-check the footers
  * file by file: two revisions of a temporal table can disagree on what
  * code 0 means, and the resolved schema cannot show it.
  *
  * Reads are memoized by (path, length, modificationTime) — a file
  * rewritten IN PLACE with the same name (external writers produce
  * deterministic part names) changes length or mtime and misses the
  * cache, so a stale schema is never served. Bounded: cleared at 1024
  * entries; parse failures cache as None (bail signal, not retry-storm).
  */
private[graft] object FooterSchemas {

  /** The standard Spark footer key (public layout, stable since 1.x). */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  private val cache = scala.collection.mutable.HashMap
    .empty[(String, Long, Long), Option[StructType]]

  /** The Catalyst schema a single parquet file was written with, or None
    * when the file carries no parseable Spark schema (non-Spark writer). */
  def sparkSchemaOf(path: String, len: Long, mtime: Long,
                    conf: Configuration): Option[StructType] = {
    val key = (path, len, mtime)
    cache.synchronized(cache.get(key)) match {
      case Some(hit) => hit
      case None =>
        val computed =
          try {
            val reader = ParquetFileReader.open(
              HadoopInputFile.fromPath(new Path(path), conf))
            try {
              Option(reader.getFooter.getFileMetaData
                  .getKeyValueMetaData.get(SparkSchemaKey))
                .flatMap { json =>
                  DataType.fromJson(json) match {
                    case s: StructType => Some(s)
                    case _ => None
                  }
                }
            } finally reader.close()
          } catch { case _: Exception => None }
        cache.synchronized {
          if (cache.size >= 1024) cache.clear()
          cache(key) = computed
        }
        computed
    }
  }

  /** Footer schemas for `files` ((path, len, mtime) triples) with bounded
    * driver-side parallelism — the same O(files) metadata posture as
    * planning the scan itself. Any file without a parseable schema yields
    * None for the whole batch (callers must bail, not guess). */
  def sparkSchemasOf(files: Seq[(String, Long, Long)],
                     conf: Configuration): Option[Seq[StructType]] = {
    val out = graft.sources.MetaIO.parallelMap(files)(f =>
      sparkSchemaOf(f._1, f._2, f._3, conf))
    if (out.exists(_.isEmpty)) None else Some(out.flatten)
  }

  /** `spark.read.parquet(paths: _*)` without the schema-inference job.
    * Spark infers a parquet scan's schema from ONE footer — the first
    * data file by path, unless schema merging is on — but reads it inside
    * a one-task Spark job, paid on every open. Here that same footer is
    * read on the driver (memoized, see [[sparkSchemaOf]]) and its stored
    * Catalyst schema, column metadata included, is handed to the reader
    * as the user schema; partition columns are still inferred from the
    * directory names. Falls back to plain inference whenever the shortcut
    * could differ: schema merging on, summary files present, a footer
    * without a Spark schema, a missing path, or no data file at all
    * (inference then raises its usual error). */
  def readParquet(spark: org.apache.spark.sql.SparkSession,
                  paths: String*): org.apache.spark.sql.DataFrame =
    footerSchema(spark, paths) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  private def footerSchema(spark: org.apache.spark.sql.SparkSession,
                           paths: Seq[String]): Option[StructType] = {
    if (spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean) return None
    val conf = spark.sparkContext.hadoopConfiguration
    // the leaf files Spark's file index lists: explicit file paths as
    // given; under a directory, hidden `_`/`.` names are skipped (except
    // `k=v` partition dirs). Inference prefers summary files, so their
    // presence declines the shortcut.
    var usable = true
    val files = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
    def walk(fs: org.apache.hadoop.fs.FileSystem, p: Path): Unit =
      fs.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("_metadata") || name.startsWith("_common_metadata")) usable = false
        else if (!((name.startsWith("_") && !name.contains("=")) ||
            name.startsWith(".") || name.endsWith("._COPYING_"))) {
          if (st.isDirectory) walk(fs, st.getPath) else files += st
        }
      }
    paths.foreach { p =>
      val root = new Path(p)
      val fs = root.getFileSystem(conf)
      if (!fs.exists(root)) usable = false
      else {
        val st = fs.getFileStatus(root)
        if (st.isDirectory) walk(fs, root) else files += st
      }
    }
    if (!usable) return None
    files.result().minByOption(_.getPath.toString).flatMap(st =>
      sparkSchemaOf(st.getPath.toString, st.getLen, st.getModificationTime, conf))
  }
}
