package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FileIndex, FilePartition, GraftPartitionParsing, HadoopFsRelation, PartitionDirectory, PartitionPath, PartitionSpec, PartitionedFile}
import org.apache.spark.sql.types.StructType

/** A Spark `FileIndex` over a file list the manifest already holds:
  * paths and sizes come from the planned [[DataFile]]s, and partition
  * values from their hive-style directories, parsed by Spark's own
  * `PartitioningUtils` exactly as a `spark.read.parquet(paths)` with a
  * `basePath` parses them. So a read lists no directory, stats no file
  * and resolves no `DataSource` (Iceberg's scan planning: the manifest
  * is the listing). The file and partition order follow
  * `InMemoryFileIndex`, so Spark packs the same splits in the same
  * order and the rows come back in the same order.
  *
  * A file's modification time is not in the manifest; it reads as 0
  * (`_metadata.file_modification_time`).
  *
  * @param keyPoints the finite set the read's predicate pins the
  *                  partition-source key to, when it pins one: (column,
  *                  sorted points in the manifest's key encoding). Rows
  *                  whose key lies outside it are not wanted by the
  *                  reader, which lets [[graft.sql.InlinePointRead]]
  *                  drop them while it reads on the driver.
  */
final class ManifestFileIndex private (
    spec: PartitionSpec,
    files: Array[FileStatus],
    filesByDir: Map[Path, Array[FileStatus]],
    val keyPoints: Option[(String, Array[Long])]) extends FileIndex {

  override def rootPaths: Seq[Path] = files.toSeq.map(_.getPath)

  override def partitionSchema: StructType = spec.partitionColumns

  override def inputFiles: Array[String] = files.map(_.getPath.toUri.toString)

  override def refresh(): Unit = ()

  override val sizeInBytes: Long = files.map(_.getLen).sum

  /** Spark does not re-apply partition-only filters above the scan, so
    * they prune here, as `PartitioningAwareFileIndex` prunes them.
    */
  override def listFiles(
      partitionFilters: Seq[Expression], dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (spec.partitionColumns.isEmpty) Seq(PartitionDirectory(InternalRow.empty, files))
    else prune(partitionFilters).map { case PartitionPath(values, dir) =>
      PartitionDirectory(values, filesByDir.getOrElse(dir, Array.empty[FileStatus]))
    }

  /** The files as a scan of `relation` (a relation over this index)
    * would split and pack them, when Spark's own packing
    * (`FilePartition`) puts them in at most one partition: the scan is
    * then one task. The one notion of "one task" that both
    * [[graft.sql.InlinePointRead]] and [[graft.sql.OneTaskScan]] use.
    */
  def onePartition(session: SparkSession, relation: HadoopFsRelation): Option[Seq[PartitionedFile]] = {
    val dirs = listFiles(Nil, Nil)
    val maxSplit = FilePartition.maxSplitBytes(session, dirs)
    val splits = dirs.flatMap { d =>
      d.files.flatMap { f =>
        PartitionedFileUtil.splitFiles(f, f.getPath,
          relation.fileFormat.isSplitable(session, relation.options, f.getPath), maxSplit, d.values)
      }
    }.sortBy(_.length)(Ordering[Long].reverse)
    FilePartition.getFilePartitions(session, splits, maxSplit) match {
      case Seq() => Some(Nil)
      case Seq(only) => Some(only.files.toSeq)
      case _ => None
    }
  }

  private def prune(filters: Seq[Expression]): Seq[PartitionPath] = {
    val cols = spec.partitionColumns
    val names = cols.fieldNames.toSet
    val pruning = filters.filter(_.references.forall(a => names.contains(a.name)))
    if (pruning.isEmpty) spec.partitions
    else {
      val bound = Predicate.createInterpreted(pruning.reduce(And).transform {
        case a: AttributeReference =>
          val i = cols.fieldNames.indexOf(a.name)
          BoundReference(i, cols(i).dataType, nullable = true)
      })
      spec.partitions.filter(p => bound.eval(p.values))
    }
  }
}

object ManifestFileIndex {

  /** The index over `files` (qualified path, size in bytes) under the
    * qualified `basePath`, read with `schema` (whose partition columns
    * give the partition value types, as a user schema does for
    * `spark.read`).
    */
  def apply(
      spark: SparkSession,
      basePath: Path,
      files: Seq[(Path, Long)],
      schema: StructType,
      keyPoints: Option[(String, Array[Long])]): ManifestFileIndex = {
    val statuses = files.map { case (p, len) =>
      new FileStatus(len, false, 0, 0L, 0L, p)
    }.toArray
    val byDir = statuses.groupBy(_.getPath.getParent)
    val spec = GraftPartitionParsing(spark, byDir.keys.toSeq, basePath, schema)
    new ManifestFileIndex(spec, statuses, byDir, keyPoints)
  }
}
