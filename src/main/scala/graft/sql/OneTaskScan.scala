package graft.sql

import graft.lake.ManifestFileIndex
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.planning.ScanOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.{FileSourceStrategy, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.vectorized.ColumnarBatch

import scala.reflect.ClassTag

/** A file scan that Spark packs into one task plans as one stage.
  *
  * A `FileSourceScanExec` reports `UnknownPartitioning`, so Spark puts a
  * hash exchange under every aggregate and a range exchange under every
  * global sort above it even when the scan is one partition, and under
  * AQE each exchange is one more job, re-planned between jobs. This
  * strategy matches a Project/Filter chain over a batch relation on a
  * [[ManifestFileIndex]] whose files Spark's own packing puts in at most
  * one partition ([[ManifestFileIndex.onePartition]]). It plans the
  * chain with Spark's `FileSourceStrategy`, so pushdown and the
  * vectorized scan stay as they are, and wraps the file scan in a
  * [[OneTaskScanExec]]. Aggregates, global sorts and windows above it
  * then need no exchange, and the query runs one job. Any other plan
  * is left to Spark's strategies.
  *
  * The filter above the scan compares against [[ParamLiteral]]s, so a
  * query with new filter values compiles no new class: a compile of
  * tens of milliseconds is large next to a one-task scan. The scan's
  * own data and partition filters keep the real literals, so file
  * pruning and parquet pushdown see them as before.
  */
case class OneTaskScan(session: SparkSession) extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ScanOperation(_, _, _,
        LogicalRelation(fs @ HadoopFsRelation(idx: ManifestFileIndex, _, _, _, _, _), _, _, false, _))
        if idx.onePartition(session, fs).isDefined =>
      FileSourceStrategy(plan).map(_.transformUp {
        case s: FileSourceScanExec => OneTaskScanExec(s)
        case f: FilterExec => f.copy(condition = ParamLiteral.params(f.condition))
      })
    case _ => Nil
  }
}

/** A pass-through over a scan that is at most one task: the same rows,
  * or columnar batches, in exactly one partition, reported as
  * `SinglePartition`. The report holds whatever the scan turns out to
  * be: one partition passes through unchanged, none becomes one empty
  * partition (so an ungrouped aggregate over a fully pruned scan still
  * returns its row), and more are coalesced into one with no shuffle.
  * A wrong estimate can cost speed but never change the rows.
  */
case class OneTaskScanExec(child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def outputPartitioning: Partitioning = SinglePartition

  override def supportsColumnar: Boolean = child.supportsColumnar

  override def vectorTypes: Option[Seq[String]] = child.vectorTypes

  override protected def doExecute(): RDD[InternalRow] = one(child.execute())

  override def doExecuteColumnar(): RDD[ColumnarBatch] = one(child.executeColumnar())

  private def one[T: ClassTag](rdd: RDD[T]): RDD[T] = rdd.getNumPartitions match {
    case 1 => rdd
    case 0 => sparkContext.parallelize(Seq.empty[T], 1)
    case _ => rdd.coalesce(1)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): OneTaskScanExec =
    copy(child = newChild)
}
