package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** [[FileIndex]] built from the commit log's per-revision file manifests
  * (see [[TemporalTable.logCommit]], with any [[RevisionCompaction]]
  * overlay already applied — file paths are RELATIVE TO THE TABLE ROOT,
  * so a compacted revision's `rev=N/_c2/...` generation files plug in
  * unchanged) — NO filesystem listing at plan time. An aged table's
  * history read costs O(commit-log entries) metadata GETs (already paid
  * by the log read itself) instead of one directory listing per revision;
  * the reference makes the same move by resolving every page from its
  * UberPage tree rather than scanning storage
  * (bundles/sirix-core/src/main/java/io/sirix/page/UberPage.java).
  *
  * Exposes `rev` as the single partition column, so Catalyst partition
  * pruning works exactly as on the listed layout: a `rev = N` predicate
  * reaches [[listFiles]] as a partition filter and drops every other
  * revision's files before the scan plans splits.
  *
  * `groups` holds the files per revision, and `groupTimesMs` each
  * revision's commit time. With `revColumn` false the same explicit index
  * serves a plain file list whose groups are not revisions (the fork
  * directories on a valid-time stab's root path, each with its directory
  * mtime): no partition column is exposed, and a group's key only names
  * its mtime. */
private[graft] class CommitLogFileIndex(
    tablePath: String,
    groups: Seq[(Int, Seq[(String, Long)])],
    groupTimesMs: Map[Int, Long] = Map.empty,
    revColumn: Boolean = true) extends FileIndex {

  override val partitionSchema: StructType =
    StructType(if (revColumn) Seq(StructField("rev", IntegerType, nullable = true)) else Nil)

  override def rootPaths: Seq[Path] = Seq(new Path(tablePath))

  // parquet split planning reads the block size; any sane constant works
  // for remote stores (splits are range reads, not block-aligned)
  private val blockSize = 128L * 1024 * 1024

  private lazy val partitions: Seq[PartitionDirectory] =
    groups.map { case (rev, files) =>
      // mtime = the group's time (a revision's commit timestamp): a 0 made
      // _metadata.file_modification_time read 1970-01-01 and weakened
      // (path, len, mtime) cache keys derived from this index's listing
      val mtime = groupTimesMs.getOrElse(rev, 0L)
      PartitionDirectory(if (revColumn) InternalRow(rev) else InternalRow.empty,
        files.map { case (rel, size) =>
        new FileStatus(size, false, 1, blockSize, mtime,
          new Path(s"$tablePath/$rel"))
      }.toArray)
    }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (partitionFilters.isEmpty || !revColumn) partitions
    else {
      // single partition column: every attribute in a partition filter is
      // `rev`, bound to slot 0 of the partition values row
      val bound = Predicate.createInterpreted(
        partitionFilters.reduce(And).transform {
          case _: AttributeReference =>
            BoundReference(0, IntegerType, nullable = true)
        })
      partitions.filter(p => bound.eval(p.values))
    }

  override def inputFiles: Array[String] =
    groups.flatMap { case (_, files) =>
      files.map { case (rel, _) => s"$tablePath/$rel" }
    }.toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long =
    groups.iterator.flatMap(_._2.iterator.map(_._2)).sum
}

private[graft] object CommitLogFileIndex {

  /** Grouped parquet files under `root` (paths relative to it) as ONE
    * relation: an explicit [[CommitLogFileIndex]], so planning lists
    * nothing, infers no partitions and runs no Spark job. `dataSchema` is
    * the files' own ([[probeSchema]]). */
  def scan(spark: org.apache.spark.sql.SparkSession, root: String,
           groups: Seq[(Int, Seq[(String, Long)])], groupTimesMs: Map[Int, Long],
           dataSchema: StructType, revColumn: Boolean = true
          ): org.apache.spark.sql.DataFrame = {
    // stable, non-1970 fabricated mtimes: (path, len, mtime) cache keys
    // (see the partitions above)
    val index = new CommitLogFileIndex(root, groups, groupTimesMs, revColumn)
    val relation = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      index, index.partitionSchema, dataSchema, None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      Map("basePath" -> root))(spark)
    spark.baseRelationToDataFrame(relation)
  }

  /** The data schema of one parquet file, from its footer (no job). */
  def probeSchema(spark: org.apache.spark.sql.SparkSession, file: String): StructType =
    graft.plans.FooterSchemas.readParquet(spark, file).schema
}
