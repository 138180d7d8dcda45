package graft.sql

import graft.lake.ManifestFileIndex
import org.apache.spark.sql.{GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference, Expression, In, InputFileBlockLength, InputFileBlockStart, InputFileName, Literal, Predicate, SubqueryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.METADATA_COL_ATTR_KEY
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation, LogicalRelation, PartitionedFile}
import org.apache.spark.sql.types.IntegerType

/** A point lookup whose scan would be one task is read on the driver.
  *
  * The rule swaps a `Filter` directly over a relation on a
  * [[ManifestFileIndex]] for a `LocalRelation` of the relation's output
  * holding the rows that pass the filter, when all of these hold:
  *   - the planner pinned the partition-source key to a finite set
  *     ([[ManifestFileIndex.keyPoints]]);
  *   - Spark's own packing puts the files in at most one partition, so
  *     the scan would be one task ([[ManifestFileIndex.onePartition]]);
  *   - the filter is deterministic and holds no subquery;
  *   - the plan asks for no `input_file_name()`/`input_file_block_*`
  *     and the relation exposes no `_metadata` column;
  *   - missing and corrupt files are not being ignored.
  *
  * The rows come from the relation's own file format reader, with the
  * key set pushed down, and the rule applies the exact filter itself,
  * interpreted, over the rows of that one task. The query runs no Spark
  * job and compiles no code for its new literal. Larger scans keep the
  * job.
  */
case class InlinePointRead(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val conf = session.sessionState.conf
    lazy val allowed = !conf.ignoreMissingFiles && !conf.ignoreCorruptFiles && !readsFileBlocks(plan)
    plan.transformUp {
      case f @ Filter(cond, r @ LogicalRelation(fs @ HadoopFsRelation(idx: ManifestFileIndex, _, _, _, _, _), _, _, false, _))
          if idx.keyPoints.isDefined && cond.deterministic && !SubqueryExpression.hasSubquery(cond) && allowed =>
        inline(r, fs, idx, cond).getOrElse(f)
    }
  }

  private def readsFileBlocks(plan: LogicalPlan): Boolean =
    plan.exists(_.expressions.exists(_.exists {
      case _: InputFileName | _: InputFileBlockStart | _: InputFileBlockLength => true
      case _ => false
    }))

  private def inline(
      r: LogicalRelation, fs: HadoopFsRelation, idx: ManifestFileIndex, cond: Expression): Option[LocalRelation] =
    for {
      (keyName, points) <- idx.keyPoints
      if !r.output.exists(_.metadata.contains(METADATA_COL_ATTR_KEY))
      key <- r.output.find(_.name == keyName)
      part <- idx.onePartition(session, fs)
    } yield LocalRelation(r.output, read(r, fs, part, key, points, cond))

  private def read(
      r: LogicalRelation, fs: HadoopFsRelation, files: Seq[PartitionedFile],
      key: AttributeReference, points: Array[Long], cond: Expression): Seq[InternalRow] = {
    // the reader's rows are its data columns, then the partition columns
    val readOrder = (fs.dataSchema ++ fs.partitionSchema).map(_.name)
    def bound(a: AttributeReference) = BoundReference(readOrder.indexOf(a.name), a.dataType, nullable = true)
    val project = UnsafeProjection.create(r.output.map(bound))
    val keep = Predicate.createInterpreted(cond.transform { case a: AttributeReference => bound(a) })
    val pushed = GraftShims.sourceFilter(In(key,
      points.toSeq.map(p => Literal(if (key.dataType == IntegerType) p.toInt else p, key.dataType))))
    val reader = fs.fileFormat.buildReaderWithPartitionValues(
      session, fs.dataSchema, fs.partitionSchema, fs.dataSchema, pushed.toSeq,
      fs.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
      session.sessionState.newHadoopConfWithOptions(fs.options))
    files.flatMap { f =>
      val rows = reader(f)
      try rows.filter(keep.eval).map(row => project(row).copy()).toVector
      finally rows match {
        case c: AutoCloseable => c.close()
        case _ =>
      }
    }
  }
}
