package graft.ingest

import org.apache.parquet.hadoop.metadata.{ColumnChunkMetaData, ParquetMetadata}
import org.apache.parquet.schema.PrimitiveType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.Type.Repetition
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The reference's five-rule ingest validator
  * (`run_quality_checks`, `/root/reference/lakehouse_pipeline.py:133-171`),
  * generalized over column names:
  *
  *   Q1 row count ≥ minRows            (`:136-138`)
  *   Q2 required columns present       (`:140-144`, schema-only, driver)
  *   Q3 null fraction ≤ maxNullFraction per column (`:146-152`)
  *   Q4 time column parseable (not entirely null after cast) (`:154-158`)
  *   Q5 positive columns have min > 0 (nulls ignored)        (`:160-168`)
  *
  * Every rule reads only row counts, null counts and minimums, which a
  * parquet footer already holds. So the footer decides first
  * ([[fromFooter]], no Spark job); where a statistic is not exact the
  * scan decides ([[run]], [[runPerFile]]), folding |columns| null
  * counts + mins + counts into ONE aggregation pass instead of a scan
  * per rule.
  */
final case class QcConfig(
    requiredColumns: Seq[String],
    timeColumn: String,
    positiveColumns: Seq[String],
    minRows: Long = 100L,
    maxNullFraction: Double = 0.05
)

/** @param nullTimeKey rows whose time key is null after normalization —
  *   the pipeline must reject these before append: a null key can never be
  *   deduplicated by an equi-anti-join (null != null) and has no partition
  *   or footer stats, so it would silently accumulate duplicates.
  */
final case class QcResult(
    passed: Boolean,
    issues: Seq[String],
    nRows: Long,
    nullTimeKey: Long = 0L)

object QualityChecks {

  /** What the five rules read, from a scan or a footer: the row count,
    * each column's null count, the time column's parseable count, and
    * each positive column's minimum (None when it holds no value).
    */
  private final case class QcStats(
      n: Long, nulls: Seq[(String, Long)], nTs: Long, mins: Seq[(String, Option[Double])])

  private def missingColumns(columns: Seq[String], cfg: QcConfig): Option[QcResult] = {
    val missing = cfg.requiredColumns.filterNot(columns.contains)
    if (missing.isEmpty) None
    // can't run column-dependent checks on missing columns
    else Some(QcResult(passed = false,
      Seq(s"Missing required columns: ${missing.mkString(", ")}"), nRows = -1L))
  }

  private def decide(s: QcStats, cfg: QcConfig): QcResult = {
    val issues = scala.collection.mutable.ArrayBuffer.empty[String]
    val n = s.n

    if (n < cfg.minRows)
      issues += s"Insufficient rows: $n < ${cfg.minRows}"

    if (n > 0) {
      s.nulls.foreach { case (c, nulls) =>
        val frac = nulls.toDouble / n
        if (frac > cfg.maxNullFraction)
          issues += f"Column $c has ${frac * 100}%.1f%% nulls (max ${cfg.maxNullFraction * 100}%.1f%%)"
      }
      if (s.nTs == 0L)
        issues += s"Column ${cfg.timeColumn} has no parseable timestamps"
      s.mins.foreach { case (c, min) =>
        min.foreach { m =>
          if (m <= 0.0) issues += s"Column $c has non-positive values (min=$m)"
        }
      }
    }
    val nullTimeKey = s.nulls.collectFirst { case (c, k) if c == cfg.timeColumn => k }.getOrElse(0L)
    QcResult(issues.isEmpty, issues.toSeq, n, nullTimeKey)
  }

  private def buildAggs(cols: Seq[String], cfg: QcConfig): Seq[Column] =
    Seq(count(lit(1)).as("__n")) ++
      cols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c")) ++
      // try_cast, not cast: Spark 4 runs ANSI mode by default, where a
      // plain cast on malformed input fails the whole job — QC must
      // instead COUNT the malformed rows (reference catches the cast
      // error per file, `lakehouse_pipeline.py:154-158`).
      Seq(count(expr(s"try_cast(${cfg.timeColumn} AS TIMESTAMP)")).as("__n_ts")) ++
      cfg.positiveColumns.map(c => min(expr(s"try_cast($c AS DOUBLE)")).as(s"__min_$c"))

  private def resultFromRow(
      row: org.apache.spark.sql.Row, cols: Seq[String], cfg: QcConfig): QcResult =
    decide(QcStats(
      n = row.getAs[Long]("__n"),
      nulls = cols.map(c => c -> row.getAs[Long](s"__nulls_$c")),
      nTs = row.getAs[Long]("__n_ts"),
      mins = cfg.positiveColumns.map(c =>
        c -> Option(row.getAs[java.lang.Double](s"__min_$c")).map(_.doubleValue))), cfg)

  /** QC of one normalized frame by one aggregation job: the fallback
    * when [[fromFooter]] declines, and the oracle it is tested against.
    */
  def run(df: DataFrame, cfg: QcConfig): QcResult = {
    val cols = df.columns.toSeq
    // Q2 — schema-level, no job needed
    missingColumns(cols, cfg).getOrElse {
      val aggs = buildAggs(cols, cfg)
      resultFromRow(df.agg(aggs.head, aggs.tail: _*).head(), cols, cfg)
    }
  }

  /** Per-file QC for the batched ingest path: the same five rules for
    * EVERY file of a union scan in ONE grouped aggregation pass —
    * |files| × |columns| partial aggregates over a single scan instead
    * of one full QC job per file. Keys of the returned map are the raw
    * `srcCol` values (input_file_name URIs). Assumes the caller already
    * ran the schema-level Q2 check (the union shares one schema).
    * `fileColumns` gives a file's own columns by its `srcCol` value, when
    * known: Q3 then checks only those, as [[run]] over that file alone
    * would, instead of a union column the scan null-fills for it.
    */
  def runPerFile(
      df: DataFrame, srcCol: String, cfg: QcConfig,
      fileColumns: String => Option[Seq[String]] = _ => None): Map[String, QcResult] = {
    val cols = df.columns.toSeq.filterNot(_ == srcCol)
    val aggs = buildAggs(cols, cfg)
    df.groupBy(col(srcCol)).agg(aggs.head, aggs.tail: _*).collect()
      .map { row =>
        val src = row.getAs[String](srcCol)
        val own = fileColumns(src).fold(cols)(fc => cols.filter(fc.contains))
        src -> resultFromRow(row, own, cfg)
      }
      .toMap
  }

  /** QC of a source file from its parquet footer alone: the same
    * [[QcResult]] that [[run]] returns over `Normalize(read(file))`,
    * issue text included, or None when a statistic it needs is not
    * exact. Then the caller scans.
    *
    *  - Q1 sums the row groups' row counts; Q2 reads the footer schema.
    *  - Q3 and the null time keys sum the chunks' null counts, which
    *    every chunk of every (flat) column must carry.
    *  - Q4 is the time column's non-null count, exact only for types
    *    `Normalize` converts without adding nulls
    *    ([[Normalize.footerNullFree]]); a string time column declines.
    *  - Q5 is [[footerMin]] of each positive column.
    */
  def fromFooter(footer: ParquetMetadata, cfg: QcConfig): Option[QcResult] = {
    val fields = footer.getFileMetaData.getSchema.getFields.asScala.toSeq
    val cols = fields.map(_.getName)
    missingColumns(cols, cfg).orElse {
      val types = fields.collect {
        case f if f.isPrimitive && !f.isRepetition(Repetition.REPEATED) => f.getName -> f.asPrimitiveType
      }.toMap
      val blocks = footer.getBlocks.asScala.toSeq
      for {
        _ <- Option.when(types.size == fields.size)(())
        chunks <- all(cols)(c => footerChunks(footer, c).map(c -> _)).map(_.toMap)
        _ <- types.get(cfg.timeColumn).filter(Normalize.footerNullFree)
        mins <- all(cfg.positiveColumns)(c =>
          types.get(c).flatMap(t => footerMin(t, chunks(c))).map(c -> _))
      } yield {
        val nulls = cols.map(c => c -> chunks(c).map(_.getStatistics.getNumNulls).sum)
        val n = blocks.map(_.getRowCount).sum
        decide(QcStats(n, nulls, n - nulls.toMap.apply(cfg.timeColumn), mins), cfg)
      }
    }
  }

  /** The least value of an un-annotated DOUBLE, FLOAT, INT32 or INT64
    * column as Spark's `min(try_cast(c AS DOUBLE))` sees it: Some(None)
    * when no chunk holds a value, None when the footer cannot say. It
    * declines on a chunk with values but no min (parquet-mr drops
    * min/max once a NaN lands in them) and on a ±0.0 min (parquet-mr
    * reads a 0.0 min back as -0.0, which would change the issue text).
    * A NaN after a chunk's first value never reaches its stats, and
    * Spark orders NaN above every number, so both agree on the rest.
    */
  private def footerMin(t: PrimitiveType, chunks: Seq[ColumnChunkMetaData]): Option[Option[Double]] = {
    val numeric = t.getLogicalTypeAnnotation == null && (t.getPrimitiveTypeName match {
      case PrimitiveTypeName.DOUBLE | PrimitiveTypeName.FLOAT |
           PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 => true
      case _ => false
    })
    val withValues = chunks.filter(holdsValues)
    if (!numeric || withValues.exists(!_.getStatistics.hasNonNullValue)) None
    else {
      val min = withValues.map(_.getStatistics.genericGetMin.asInstanceOf[Number].doubleValue).minOption
      if (min.exists(_ == 0.0)) None else Some(min)
    }
  }

  /** The chunks of top-level column `c`, one per row group, when each
    * carries statistics with its null count set.
    */
  private[ingest] def footerChunks(footer: ParquetMetadata, c: String): Option[Seq[ColumnChunkMetaData]] = {
    val blocks = footer.getBlocks.asScala.toSeq
    val cs = blocks.flatMap(_.getColumns.asScala.find(_.getPath.toArray.sameElements(Array(c))))
    Option.when(cs.size == blocks.size &&
      cs.forall(cc => cc.getStatistics != null && cc.getStatistics.isNumNullsSet))(cs)
  }

  /** A chunk from [[footerChunks]] holds a non-null value. */
  private[ingest] def holdsValues(cc: ColumnChunkMetaData): Boolean =
    cc.getValueCount > cc.getStatistics.getNumNulls

  /** Some of every result when `f` answers for every element, else None. */
  private def all[A, B](xs: Seq[A])(f: A => Option[B]): Option[Seq[B]] = {
    val out = xs.map(f)
    Option.when(out.forall(_.isDefined))(out.flatten)
  }
}
