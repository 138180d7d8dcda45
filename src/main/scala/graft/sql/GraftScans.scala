package graft.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.connector.expressions.{Extract, NamedReference, Cast => V2Cast}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Avg, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types.{DataType, DateType, StructField, StructType}

import MetadataAggCore.{Ask, GroupDim}

/** DSv2 read path for graft tables (round 16, VERDICT r15 #3). Two
  * scans come out of the one builder:
  *
  *   - [[SupportsPushDownAggregates]] (COMPLETE pushdown only): a
  *     count/count(col)/count(DISTINCT col)/min/max/sum/avg —
  *     ungrouped, or grouped by identity partition columns and time
  *     derivations (`Extract`, `CAST(ts AS DATE)`) — becomes a
  *     [[LocalScan]] of the precomputed rows when the snapshot's
  *     manifest metadata proves it: `spark.table(t).count()` and
  *     `spark.table(t).groupBy(sym).count()` plan ZERO data files even
  *     for a catalog user who never installed the extension rule. The
  *     builder only translates connector expressions into the asks and
  *     dims of [[MetadataAggCore]] — the answerer the SQL rewrite uses
  *     too, so the two surfaces decide every aggregate in one place —
  *     and lays the core's rows out as the pushed columns. Every
  *     unprovable shape is REFUSED, not approximated.
  *   - everything else falls back to a [[V1Scan]] that executes the
  *     table's native read plan ([[GraftReadableTable.readDF]] —
  *     manifest-planned, merge-on-read-aware, time-travel-pinned) and
  *     hands Spark its RDD. This replaces the pre-r16 hard failure:
  *     the failure existed so a bare file scan could not resurrect
  *     masked rows, and the native plan cannot — so bare DSv2 reads
  *     (`spark.table(t).collect()` on the unexpanded relation, or any
  *     read without the extension rule) are now correct instead of
  *     refused. Real queries still splice natively through
  *     [[GraftRelationExpansion]]; this path is the safety net, so it
  *     stays deliberately simple (column pruning only — a filter above
  *     it re-applies exactly, just unpruned).
  */
final class GraftScanBuilder(table: GraftReadableTable)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownAggregates {

  private var required: Option[StructType] = None
  private var pushed: Option[GraftMetadataAggScan] = None
  private var pruneFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var pruneExpr: Option[org.apache.spark.sql.catalyst.expressions.Expression] = None

  /** Filter pushdown for PRUNING only (round 17): translatable source
    * filters re-resolve against the table schema and drive the SAME
    * manifest-pruning ladder the expansion rule uses
    * ([[GraftNativeRead.nativeDF]]) inside the V1 fallback — a
    * no-extension catalog user's `WHERE sym = 'A' AND ts >= …` plans
    * the restriction's files instead of the table's. EVERY filter is
    * returned as residual: pruning is an over-approximation of the
    * file list, Spark re-applies the exact predicate above the scan —
    * so an untranslatable shape just prunes less, never answers wrong.
    */
  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    table match {
      case g: GraftSqlTable =>
        val translated = filters.flatMap(f =>
          SourceFilterCatalyst.toCatalyst(f, g.schema).map(f -> _))
        pruneFilters = translated.map(_._1)
        pruneExpr = translated.map(_._2)
          .reduceOption(org.apache.spark.sql.catalyst.expressions.And(_, _))
      case _ => ()
    }
    filters
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    pruneFilters
  // supportCompletePushDown and pushAggregation arrive back to back
  // with the same Aggregation — cache one translation (it reads the
  // manifest list and parses the schema DDL)
  private var lastAgg: Option[(Aggregation, Option[GraftMetadataAggScan])] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = Some(requiredSchema)

  private def translated(agg: Aggregation): Option[GraftMetadataAggScan] =
    lastAgg match {
      case Some((a, r)) if a == agg => r
      case _ =>
        val r = translate(agg)
        lastAgg = Some((agg, r))
        r
    }

  private def col(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case f: NamedReference if f.fieldNames.length == 1 =>
      Some(f.fieldNames()(0))
    case _ => None
  }

  /** The connector aggregate as the core's ask — None ⇔ a shape the
    * metadata can never answer. The connector carries no eval mode, so
    * sums demand the no-overflow proof, which is sound under every mode.
    */
  private def askOf(f: AggregateFunc): Option[Ask] = f match {
    case _: CountStar => Some(Ask.CountStar)
    case c: Count => col(c.column).map(n =>
      if (c.isDistinct) Ask.CountDistinct(n) else Ask.CountCol(n))
    case m: Min => col(m.column).map(Ask.Extreme(_, wantMin = true))
    case m: Max => col(m.column).map(Ask.Extreme(_, wantMin = false))
    case s: Sum if !s.isDistinct => col(s.column).map(Ask.SumCol(_, requireNoOverflowProof = true))
    case a: Avg if !a.isDistinct => col(a.column).map(Ask.AvgCol(_, None))
    case _ => None
  }

  /** A connector grouping expression as the core's dim: an identity
    * column, `Extract(YEAR|MONTH|DAY|HOUR, ts)` or `CAST(ts AS DATE)`.
    * `year($"ts")` analyzes to Year(Cast(ts, DATE)) and the V2
    * translation keeps the implicit cast — [[dateSrc]] peels it (its
    * zone is the session zone the time-dim admission's UTC gate pins).
    */
  private def dimOf(core: MetadataAggCore, tz: String)(
      e: org.apache.spark.sql.connector.expressions.Expression): Option[GroupDim] = e match {
    case f: NamedReference if f.fieldNames.length == 1 => core.identityDim(f.fieldNames()(0))
    case ex: Extract =>
      val kind = ex.field match {
        case "YEAR" => "year"
        case "MONTH" => "month"
        case "DAY" => "day"
        case "HOUR" => "hour"
        case _ => return None
      }
      dateSrc(ex.source).flatMap(core.timeDim(kind, _, tz))
    case c: V2Cast if c.dataType == DateType =>
      dateSrc(c.expression).flatMap(core.timeDim("date", _, tz))
    case _ => None
  }

  private def dateSrc(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case c: V2Cast if c.dataType == DateType => dateSrc(c.expression)
      case other => col(other)
    }

  /** The precomputed metadata answer, or None ⇔ not provable. Runs at
    * PLANNING time: ungrouped it costs one manifest-LIST read, grouped
    * one cached manifest parse — no data file is read. The scan's
    * row layout is Spark's complete-pushdown contract: grouping
    * columns FIRST (in pushed order), then one column per aggregate.
    */
  private def translate(agg: Aggregation): Option[GraftMetadataAggScan] =
    table match {
      case g: GraftSqlTable =>
        val asks = agg.aggregateExpressions.toSeq.map(askOf(_).getOrElse(return None))
        val core = new MetadataAggCore(g)
        if (agg.groupByExpressions.isEmpty) {
          // Literal.value is already the Catalyst-internal value
          val lits = core.answer(asks).getOrElse(return None)
          Some(GraftMetadataAggScan(Nil, lits.map(_.dataType),
            Seq(new GenericInternalRow(lits.map(_.value).toArray))))
        } else {
          val dims = core.dims(agg.groupByExpressions.toSeq)(
            dimOf(core, g.lt.spark.sessionState.conf.sessionLocalTimeZone))
            .getOrElse(return None)
          val rows = core.answerGrouped(dims, asks).getOrElse(return None)
          Some(GraftMetadataAggScan(dims.map(_.dataType),
            asks.map(core.resultType(_).getOrElse(return None)), rows))
        }
      case _ => None
    }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    translated(agg).isDefined

  /** COMPLETE pushdown only: on `true` Spark splices the scan's row in
    * place of the whole Aggregate. (Serving the same row in PARTIAL
    * mode would also re-aggregate correctly for count/min/max, but
    * complete is what the metadata answer is — refuse anything Spark
    * would want partials for.)
    */
  override def pushAggregation(agg: Aggregation): Boolean = {
    val t = translated(agg)
    pushed = t
    t.isDefined
  }

  override def build(): Scan =
    pushed.getOrElse(new GraftV1FallbackScan(table, required, pruneExpr))
}

/** The pushed-aggregate answer as a driver-local scan: no file, no
  * shuffle, and with [[MetadataAggLocalScan]] no Spark job. Statistics
  * are the literal truth: the rows are already materialized.
  */
final class GraftMetadataAggScan(
    schema: StructType, rowData: Array[InternalRow]) extends LocalScan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  override def rows(): Array[InternalRow] = rowData
  override def readSchema(): StructType = schema
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(schema.defaultSize.toLong * rowData.length)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rowData.length.toLong)
    }
  override def description(): String = "GraftMetadataAggScan(manifest roll-ups)"
}

object GraftMetadataAggScan {
  /** Columns `_pushed_group_i` (one per grouping dim) then
    * `_pushed_agg_i` (one per aggregate) — all nullable: aggregate
    * results are nullable in general (min/max/sum of an empty or
    * all-null table), and claiming non-null is the direction that
    * could mislead a downstream optimization.
    */
  def apply(groupTypes: Seq[DataType], aggTypes: Seq[DataType],
      rows: Seq[InternalRow]): GraftMetadataAggScan =
    new GraftMetadataAggScan(StructType(
      groupTypes.zipWithIndex.map { case (dt, i) =>
        StructField(s"_pushed_group_$i", dt, nullable = true)
      } ++ aggTypes.zipWithIndex.map { case (dt, i) =>
        StructField(s"_pushed_agg_$i", dt, nullable = true)
      }), rows.toArray)
}

/** Plans the alias `Project` Spark keeps over a pushed
  * [[GraftMetadataAggScan]] as a `LocalTableScan` of its evaluated rows,
  * the fold `ConvertToLocalRelation` makes of the SQL rule's answer: the
  * query collects on the driver and runs no Spark job. It is a planner
  * strategy because the pushed scan only appears in the optimizer's
  * early scan push-down, which runs after every optimizer batch that
  * `SparkSessionExtensions` can add a rule to.
  */
object MetadataAggLocalScan extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p @ Project(_, DataSourceV2ScanRelation(_, scan: GraftMetadataAggScan, output, _, _)) =>
      ConvertToLocalRelation(p.withNewChildren(Seq(LocalRelation(output, scan.rows().toSeq)))) match {
        case l: LocalRelation => LocalTableScanExec(l.output, l.data, None) :: Nil
        case _ => Nil
      }
    case _ => Nil
  }
}

/** Fallback scan: the table's native read plan behind the V1 bridge.
  * `buildScan` materializes the native DataFrame's RDD — the plan
  * inside it is the fully-pruned, mask-aware splice, executed as its
  * own (codegen'd) subplan; only the Row bridge at the boundary is
  * uncodegen'd, and only the bare-relation shapes ever land here.
  * Since round 17 a translated filter predicate drives the manifest
  * pruning ladder inside the native plan ([[GraftNativeRead]]) — the
  * predicate is prune-only (Spark re-applies every filter above the
  * bridge, which declared them all residual).
  */
final class GraftV1FallbackScan(
    table: GraftReadableTable, required: Option[StructType],
    pruneExpr: Option[org.apache.spark.sql.catalyst.expressions.Expression] = None)
  extends V1Scan
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  /** EXACT statistics from the manifest LIST (round 18). Spark
    * consults this through `DataSourceV2RelationBase.computeStats`
    * (it builds a fresh scan and asks `SupportsReportStatistics`), so
    * relation-level stats — `df.queryExecution.analyzed.stats`, cost
    * introspection, anything reading the pre-pushdown relation —
    * report the manifest truth instead of
    * `spark.sql.defaultSizeInBytes` (Long.MaxValue). Known upstream
    * limit: after V2ScanRelationPushDown the optimizer sees
    * `V1ScanWrapper`, a plain `Scan` that does not forward this
    * interface, so OPTIMIZED-plan stats on the no-extension path stay
    * at the default — join planning on the recommended path (the
    * extension rule's native splice, whose parquet relations carry
    * real file sizes) is unaffected and broadcast-correct
    * (GraftStatsSpec pins it). One cached manifest-list read serves:
    *
    *   - `sizeInBytes`: Σ of the manifest byte roll-ups
    *     ([[graft.lake.ManifestRef.dataBytes]]) — present only when
    *     EVERY manifest carries one (an incomplete sum understates,
    *     and an understated size wrongly broadcasts); absent falls
    *     back to Spark's conservative default.
    *   - `numRows`: the exact row inventory, absent under live
    *     merge-on-read masks (rows is then an overstatement).
    *   - `columnStats` (CBO food, `spark.sql.cbo.enabled`): null
    *     counts from the null roll-ups, distinct counts from the
    *     `write.ndv-columns` sketches (cardinality is representation-
    *     independent, so even a stale-typed sketch estimates it
    *     right), min/max for columns whose Catalyst-internal and
    *     external forms coincide (long/int/double) — timestamps and
    *     strings are skipped rather than risk a representation
    *     mismatch in the estimator.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    table match {
      case g: GraftSqlTable =>
        val meta = g.meta
        val snapOpt = g.pinnedSnapshot match {
          case Some(id) => meta.snapshotById(id)
          case None => meta.currentSnapshot
        }
        snapOpt match {
          case None => // empty table: exactly zero
            new GraftV2Statistics(java.util.OptionalLong.of(0L),
              java.util.OptionalLong.of(0L), java.util.Collections.emptyMap())
          case Some(snap) =>
            val data = g.lt.log.readManifestListData(snap)
            val masked = data.liveDeletes.nonEmpty
            // an EMPTY manifest list (delete-everything commit) is a
            // provably zero-byte table — forall on the empty list says
            // so; one UNSIZED member drops the sum (an incomplete sum
            // understates) to the conservative default
            val bytes =
              if (data.manifests.forall(_.dataBytes.isDefined))
                java.util.OptionalLong.of(data.manifests.flatMap(_.dataBytes).sum)
              else java.util.OptionalLong.empty()
            val rows =
              if (masked) java.util.OptionalLong.empty()
              else java.util.OptionalLong.of(data.manifests.map(_.rows).sum)
            val colStats = new java.util.HashMap[
              org.apache.spark.sql.connector.expressions.NamedReference,
              org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
            // per-column stats are CBO food — the default size-only
            // stats visitor strips them, so don't pay the manifest
            // fold + sketch merges unless CBO will read them
            if (!masked && g.lt.spark.sessionState.conf.cboEnabled) {
              val info = graft.lake.MetadataAggInfo.ofRefs(data.manifests)
              val facts = new MetadataAggFacts(info, meta)
              val schemaT = StructType.fromDDL(meta.schemaDdl)
              val names = (info.colNulls.keySet ++ info.colNdv.keySet ++
                meta.statsSource).toSeq.distinct
                .filter(schemaT.fieldNames.contains)
                .filterNot(meta.aliasMap.contains)
              names.foreach { c =>
                val nulls = info.colNulls.get(c)
                val ndv = info.colNdv.get(c)
                  .flatMap(graft.lake.NdvSketch.estimate)
                val safeMinMax = schemaT(c).dataType match {
                  case org.apache.spark.sql.types.LongType |
                       org.apache.spark.sql.types.IntegerType |
                       org.apache.spark.sql.types.DoubleType => true
                  case _ => false
                }
                // filter(_ != null): an all-null column's extreme is a
                // typed NULL literal — "no min", not a null entry
                val mn = if (safeMinMax)
                  facts.extreme(c, wantMin = true).map(_.value).filter(_ != null)
                else None
                val mx = if (safeMinMax)
                  facts.extreme(c, wantMin = false).map(_.value).filter(_ != null)
                else None
                if (nulls.isDefined || ndv.isDefined || mn.isDefined)
                  colStats.put(
                    org.apache.spark.sql.connector.expressions.Expressions.column(c),
                    new GraftV2ColumnStatistics(ndv, mn, mx, nulls))
              }
            }
            new GraftV2Statistics(bytes, rows, colStats)
        }
      case _ => new GraftV2Statistics(java.util.OptionalLong.empty(),
        java.util.OptionalLong.empty(), java.util.Collections.emptyMap())
    }
  /** Top-level pruning only: V2ScanRelationPushDown may hand
    * `pruneColumns` a NESTED-pruned schema (a struct with fewer
    * fields), but `buildScan`'s select returns FULL structs and the V1
    * bridge converts rows positionally against the declared schema —
    * declaring the pruned struct would silently mis-read its fields.
    * So the declared schema is rebuilt from the table's own full field
    * definitions, keeping only the required TOP-LEVEL names.
    */
  private def schemaOut: StructType = required match {
    case Some(req) =>
      StructType(req.fieldNames.toIndexedSeq
        .flatMap(n => table.schema.fields.find(_.name == n)))
    case None => table.schema
  }

  override def readSchema(): StructType = schemaOut

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
    val out = schemaOut
    val t = table
    val pe = pruneExpr
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = out
      override def buildScan(): RDD[Row] = {
        val df = (t, pe) match {
          case (g: GraftSqlTable, Some(_)) => GraftNativeRead.nativeDF(g, pe)
          case _ => t.readDF()
        }
        val pruned =
          if (out.fieldNames.sameElements(df.columns)) df
          else df.select(out.fieldNames.toSeq.map(org.apache.spark.sql.functions.col): _*)
        pruned.rdd
      }
    }.asInstanceOf[T]
  }

  override def description(): String = "GraftV1FallbackScan(native read plan)"
}

/** DSv2 [[org.apache.spark.sql.connector.read.Statistics]] carrier. */
private[sql] final class GraftV2Statistics(
    bytes: java.util.OptionalLong, rows: java.util.OptionalLong,
    colStats: java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics])
  extends org.apache.spark.sql.connector.read.Statistics {
  override def sizeInBytes(): java.util.OptionalLong = bytes
  override def numRows(): java.util.OptionalLong = rows
  override def columnStats(): java.util.Map[
    org.apache.spark.sql.connector.expressions.NamedReference,
    org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
}

/** DSv2 per-column statistics carrier (the CBO food). */
private[sql] final class GraftV2ColumnStatistics(
    ndv: Option[Long], mn: Option[Any], mx: Option[Any], nulls: Option[Long])
  extends org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
  override def distinctCount(): java.util.OptionalLong =
    ndv.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
  override def min(): java.util.Optional[Object] =
    mn.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
      .getOrElse(java.util.Optional.empty[Object]())
  override def max(): java.util.Optional[Object] =
    mx.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
      .getOrElse(java.util.Optional.empty[Object]())
  override def nullCount(): java.util.OptionalLong =
    nulls.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
}

/** Best-effort `sources.Filter` → resolved Catalyst predicate over the
  * table schema (round 17): what lets the DSv2 fallback's filter
  * pushdown reuse the expansion rule's manifest-pruning ladder
  * verbatim. Translation is PRUNE-ONLY — Spark re-applies every
  * filter above the V1 bridge (the builder declared them all
  * residual) — so dropping an untranslatable shape, or one side of a
  * conjunction, weakens the predicate and prunes less; it can never
  * change an answer. A disjunction keeps only fully-translated arms
  * (dropping one arm of an OR would STRENGTHEN it — unsound even for
  * pruning).
  */
private[sql] object SourceFilterCatalyst {
  import org.apache.spark.sql.catalyst.{expressions => ce}
  import org.apache.spark.sql.{sources => sf}

  def toCatalyst(f: sf.Filter, schema: StructType)
      : Option[ce.Expression] = {
    def attr(name: String): Option[ce.AttributeReference] =
      schema.fields.find(_.name == name).map(fd =>
        ce.AttributeReference(fd.name, fd.dataType, nullable = true)())
    def lit(name: String, v: Any): Option[ce.Expression] =
      schema.fields.find(_.name == name).flatMap(fd =>
        scala.util.Try(ce.Literal.create(v, fd.dataType)).toOption)
    f match {
      case sf.EqualTo(a, v) =>
        for { x <- attr(a); l <- lit(a, v) } yield ce.EqualTo(x, l)
      case sf.EqualNullSafe(a, v) if v != null =>
        for { x <- attr(a); l <- lit(a, v) } yield ce.EqualNullSafe(x, l)
      case sf.In(a, vs) if vs.nonEmpty && vs.forall(_ != null) =>
        for {
          x <- attr(a)
          ls <- Some(vs.toSeq.map(lit(a, _))).filter(_.forall(_.isDefined))
        } yield ce.In(x, ls.map(_.get))
      case sf.GreaterThan(a, v) =>
        for { x <- attr(a); l <- lit(a, v) } yield ce.GreaterThan(x, l)
      case sf.GreaterThanOrEqual(a, v) =>
        for { x <- attr(a); l <- lit(a, v) } yield ce.GreaterThanOrEqual(x, l)
      case sf.LessThan(a, v) =>
        for { x <- attr(a); l <- lit(a, v) } yield ce.LessThan(x, l)
      case sf.LessThanOrEqual(a, v) =>
        for { x <- attr(a); l <- lit(a, v) } yield ce.LessThanOrEqual(x, l)
      case sf.IsNull(a) => attr(a).map(ce.IsNull(_))
      case sf.IsNotNull(a) => attr(a).map(ce.IsNotNull(_))
      case sf.StringStartsWith(a, p) =>
        attr(a).map(x => ce.StartsWith(x, ce.Literal(p)))
      case sf.And(l, r) =>
        (toCatalyst(l, schema), toCatalyst(r, schema)) match {
          case (Some(a), Some(b)) => Some(ce.And(a, b))
          case (a, b) => a.orElse(b) // a weaker conjunct still prunes soundly
        }
      case sf.Or(l, r) =>
        for { a <- toCatalyst(l, schema); b <- toCatalyst(r, schema) }
          yield ce.Or(a, b)
      case _ => None
    }
  }
}
