package graft.ingest

import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Type normalization on ingest — the reference's `normalize_arrow_types`
  * (`/root/reference/lakehouse_pipeline.py:176-199`): the time column is
  * coerced to µs-precision timestamps and narrow floats are widened to
  * double. Unlike the reference (which maps every non-timestamp column to
  * double, destroying strings — SURVEY.md §7.5 item 3), non-numeric
  * columns keep a faithful type mapping.
  *
  * All casts are single-pass projections over the scan — codegen'd, no
  * shuffle, no UDFs.
  *
  * [[footerNullFree]] and [[footerMicros]] state the same mapping over a
  * source file's parquet types, for the ingest steps that decide from
  * its footer instead of a scan.
  */
object Normalize {

  def apply(df: DataFrame, timeColumn: String): DataFrame = {
    val widened = df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case FloatType => d.withColumn(f.name, col(f.name).cast(DoubleType))
        case _ => d
      }
    }
    if (!widened.columns.contains(timeColumn)) widened
    else widened.schema(timeColumn).dataType match {
      case TimestampType => widened
      case StringType =>
        // try_cast: malformed strings become null and are then caught by
        // QualityChecks Q4, instead of failing the job under ANSI mode
        widened.withColumn(timeColumn, expr(s"try_cast($timeColumn AS TIMESTAMP)"))
      case TimestampNTZType | DateType =>
        widened.withColumn(timeColumn, col(timeColumn).cast(TimestampType))
      case LongType =>
        // long time columns are epoch nanos in our inputs (parquet
        // TIMESTAMP(NANOS) read under nanosAsLong; see graft.Tables.t);
        // floor-truncate to µs exactly like DuckDB's epoch_us.
        widened.withColumn(timeColumn, timestamp_micros(expr(s"$timeColumn div 1000")))
      case _ => widened
    }
  }

  /** Whether `apply` turns a time column stored as parquet type `t`
    * into TIMESTAMP without adding nulls: INT64 (plain epoch nanos, or
    * TIMESTAMP in any unit), INT96 and DATE. A string is `try_cast`, which
    * nulls what it cannot parse, so its footer null count says nothing
    * about the parseable rows.
    */
  def footerNullFree(t: PrimitiveType): Boolean =
    (t.getPrimitiveTypeName, t.getLogicalTypeAnnotation) match {
      case (PrimitiveTypeName.INT64, null | _: TimestampLogicalTypeAnnotation) => true
      case (PrimitiveTypeName.INT96, null) => true
      case (PrimitiveTypeName.INT32, _: DateLogicalTypeAnnotation) => true
      case _ => false
    }

  /** How `apply` maps a raw INT64 value of a time column stored as
    * parquet type `t` (a footer min/max) to the epoch micros of the
    * normalized column: TIMESTAMP(MICROS) as it is, TIMESTAMP(MILLIS)
    * ×1000 (throwing on overflow), and plain INT64 or TIMESTAMP(NANOS),
    * read as epoch-nanos longs, `div 1000`. None for every other type,
    * including a TIMESTAMP not adjusted to UTC, which Spark reads as
    * local time.
    */
  def footerMicros(t: PrimitiveType): Option[Long => Long] =
    if (t.getPrimitiveTypeName != PrimitiveTypeName.INT64) None
    else t.getLogicalTypeAnnotation match {
      case null => Some(_ / 1000L)
      case ts: TimestampLogicalTypeAnnotation if ts.isAdjustedToUTC => ts.getUnit match {
        case TimeUnit.MICROS => Some(identity)
        case TimeUnit.MILLIS => Some(Math.multiplyExact(_, 1000L))
        case TimeUnit.NANOS => Some(_ / 1000L)
      }
      case _ => None
    }
}
