package graft.sql

import graft.lake.{DataFile, MetadataAggInfo, TableMetadata}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.Average
import org.apache.spark.sql.types.{DataType, DateType, DecimalType, DoubleType, IntegerType, LongType, StructType}

/** The ONE metadata-aggregate answerer behind both SQL surfaces —
  * [[GraftRelationExpansion]]'s analysis-time rewrite and the DSv2
  * `SupportsPushDownAggregates` path on [[GraftScanBuilder]]. Each
  * surface only translates its own expression tree (Catalyst
  * `AggregateExpression`s and grouping expressions; connector
  * `AggregateFunc`s, `Extract`s and `Cast`s) into
  * [[MetadataAggCore.Ask]]s and [[MetadataAggCore.GroupDim]]s; which
  * ask the metadata can answer, and with what value, is decided here
  * once, over the [[MetadataAggFacts]] / [[MetadataGroupFacts]] gates.
  * A surface translates before it builds the core, so a shape it
  * cannot translate is refused without reading any metadata.
  */
private[sql] final class MetadataAggCore(g: GraftSqlTable) {
  import MetadataAggCore._

  val meta: TableMetadata = g.meta
  val schema: StructType = g.schema

  /** An IDENTITY partition column as a grouping dim — None for a
    * renamed, unknown or non-identity column or an undecodable type.
    */
  def identityDim(name: String): Option[GroupDim] = {
    if (meta.aliasMap.contains(name) || !schema.fieldNames.contains(name)) return None
    val f = meta.specList.flatMap(_.fields).distinct
      .find(f => f.transform == "identity" && f.source == name).getOrElse(return None)
    val dt = schema(name).dataType
    MetadataGroupFacts.identityDecode(dt).map(GroupDim(f.name, _, dt, name, "identity"))
  }

  /** A time derivation (`kind`: year | month | day | hour | date) of
    * `src` as a grouping dim, through the shared admission
    * ([[MetadataGroupFacts.timeDimAdmit]]).
    */
  def timeDim(kind: String, src: String, sessionLocalTimeZone: String): Option[GroupDim] =
    MetadataGroupFacts.timeDimAdmit(meta, schema, sessionLocalTimeZone, kind, src)
      .map { case (segName, decode) =>
        GroupDim(segName, decode, if (kind == "date") DateType else IntegerType, src, kind)
      }

  /** The surface's grouping expressions as dims — None ⇔ one is not
    * servable, there are none, or two name the same dim.
    */
  def dims[E](exprs: Seq[E])(dimOf: E => Option[GroupDim]): Option[Seq[GroupDim]] = {
    val ds = exprs.map(dimOf(_).getOrElse(return None))
    if (ds.isEmpty || ds.map(d => (d.segName, d.kind, d.column)).distinct.size != ds.size) None
    else Some(ds)
  }

  /** The snapshot's file entries under an identity restriction (and a
    * closed key-micros range) — None under live merge-on-read masks, or
    * when a file lacks a restricted dir level (a pre-evolution file's
    * rows carry unknown values, so the subset would not be exact).
    */
  def entries(
      restrict: Seq[(String, Set[String])] = Nil,
      keyRangeUs: Option[(Long, Long)] = None): Option[Seq[DataFile]] = {
    val fs = g.lt.metadataFileEntries(g.pinnedSnapshot, dirRestrict = restrict,
      keyRangeUs = keyRangeUs, meta = meta).getOrElse(return None)
    Some(fs.filter(f => restrict.forall { case (field, vals) =>
      vals.contains(f.partitionSegments.getOrElse(field, return None))
    }))
  }

  /** Ungrouped: one typed literal per ask, or None ⇔ any ask is not
    * provable. Unrestricted, this reads only the manifest-LIST roll-ups
    * (file entries only when a count(DISTINCT) asks).
    */
  def answer(asks: Seq[Ask], restrict: Seq[(String, Set[String])] = Nil): Option[Seq[Literal]] = {
    val info =
      if (restrict.isEmpty) g.lt.metadataAggInfo(g.pinnedSnapshot, meta)
      else entries(restrict).map(MetadataAggInfo.ofFiles)
    val facts = new MetadataAggFacts(info.getOrElse(return None), meta)
    lazy val distinctEntries = entries(restrict)
    Some(asks.map {
      case Ask.CountStar => Some(Literal(facts.countStar))
      case Ask.CountCol(c) => facts.countCol(c).map(Literal(_))
      case Ask.CountDistinct(c) => distinctEntries
        .flatMap(MetadataGroupFacts.countDistinctIdentity(meta, schema, c, _)).map(Literal(_))
      case Ask.Extreme(c, wantMin) => facts.extreme(c, wantMin)
      case Ask.SumCol(c, proof) => facts.sumCol(c, proof)
      case Ask.AvgCol(c, live) => facts.avgCol(c, live)
      case Ask.Ndv(c, p) => facts.ndvCol(c, p)
    }.map(_.getOrElse(return None)))
  }

  /** One ask over one group's files (`rows`: the group's row count) as
    * a Catalyst-internal value — Some(null) is SQL NULL, None ⇔ not
    * provable.
    */
  def groupAnswer(
      dims: Seq[GroupDim], ask: Ask, key: Seq[Any],
      files: Seq[DataFile], rows: Long): Option[Any] = ask match {
    case Ask.CountStar => Some(java.lang.Long.valueOf(rows))
    case Ask.CountDistinct(c) =>
      MetadataGroupFacts.countDistinctIdentity(meta, schema, c, files)
        .map(java.lang.Long.valueOf(_))
    // a grouping column, or the source of a time dim, is non-null
    // throughout the group (a null lands in the sentinel dir)
    case Ask.CountCol(c) if dims.exists(_.column == c) => Some(java.lang.Long.valueOf(rows))
    case Ask.CountCol(c) =>
      MetadataGroupFacts.groupCountCol(meta, c, files, rows).map(java.lang.Long.valueOf(_))
    // an identity grouping column's extremes are the group value itself
    case Ask.Extreme(c, wantMin) =>
      dims.indexWhere(d => d.isIdentity && d.column == c) match {
        case -1 => MetadataGroupFacts.groupMinMax(meta, schema, meta.statsSource, c, files, wantMin)
        case i => Some(key(i))
      }
    case Ask.SumCol(c, proof) => MetadataGroupFacts.groupSum(meta, schema, c, files, proof)
    case Ask.AvgCol(c, live) => MetadataGroupFacts.groupAvg(meta, schema, c, files, live)
    case Ask.Ndv(c, p) => MetadataGroupFacts.groupNdv(meta, schema, c, files, p)
  }

  /** Grouped answer rows over `files` (each with its effective row
    * count): files keyed by their dims' decoded dir values, zero-row
    * groups dropped (a real GROUP BY emits no row for them), groups in
    * a deterministic order, each row the group key then `answers(key,
    * files, rows)`. None ⇔ a file cannot prove its group (missing dir
    * level, the null-sentinel dir, an undecodable segment) or an answer
    * is not provable.
    */
  def grouped(dims: Seq[GroupDim], files: Seq[(DataFile, Long)])(
      answers: (Seq[Any], Seq[DataFile], Long) => Seq[Option[Any]]): Option[Seq[InternalRow]] = {
    val keyed = files.map { case fe @ (f, _) =>
      dims.map { d =>
        val seg = f.partitionSegments.getOrElse(d.segName, return None)
        if (seg == graft.lake.LakehouseTable.HiveDefaultPartition) return None
        d.decode(seg).getOrElse(return None)
      } -> fe
    }
    val groups = keyed.groupBy(_._1).view.mapValues(_.map(_._2)).toSeq
      .filter(_._2.map(_._2).sum > 0)
      .sortBy(_._1.map(String.valueOf(_: Any)).mkString("\u0000"))
    Some(groups.map { case (key, group) =>
      val vals = answers(key, group.map(_._1), group.map(_._2).sum).map(_.getOrElse(return None))
      new GenericInternalRow((key ++ vals).toArray[Any])
    })
  }

  /** [[grouped]] over the (restricted) snapshot with [[groupAnswer]]. */
  def answerGrouped(
      dims: Seq[GroupDim], asks: Seq[Ask],
      restrict: Seq[(String, Set[String])] = Nil): Option[Seq[InternalRow]] =
    entries(restrict).flatMap(fs => grouped(dims, fs.map(f => (f, f.rows))) {
      (key, files, rows) => asks.map(groupAnswer(dims, _, key, files, rows))
    })

  /** The Catalyst result type of an ask's answer — None ⇔ the column
    * is unknown.
    */
  def resultType(ask: Ask): Option[DataType] = {
    def colType(c: String) = schema.fields.find(_.name == c).map(_.dataType)
    ask match {
      case Ask.CountStar | _: Ask.CountCol | _: Ask.CountDistinct | _: Ask.Ndv => Some(LongType)
      case Ask.Extreme(c, _) => colType(c)
      case Ask.SumCol(c, _) => colType(c).map {
        case d: DecimalType => MetadataGroupFacts.decimalSumType(d)
        case _ => LongType
      }
      case Ask.AvgCol(c, _) => colType(c).map {
        case d: DecimalType => MetadataGroupFacts.decimalAvgType(d)
        case _ => DoubleType
      }
    }
  }
}

private[sql] object MetadataAggCore {

  /** One aggregate a surface asks the metadata to answer. */
  sealed trait Ask
  object Ask {
    /** `count(*)` (count of a non-null literal). */
    case object CountStar extends Ask
    final case class CountCol(col: String) extends Ask
    final case class CountDistinct(col: String) extends Ask
    /** `min(col)` / `max(col)`. */
    final case class Extreme(col: String, wantMin: Boolean) extends Ask
    /** `requireNoOverflowProof`: the caller's eval mode may throw or
      * NULL on an intermediate overflow (ANSI, TRY, or unknown).
      */
    final case class SumCol(col: String, requireNoOverflowProof: Boolean) extends Ask
    /** `live`: the plan's own Average, when the surface has one —
      * decimal avg folds through its evaluate expression.
      */
    final case class AvgCol(col: String, live: Option[Average]) extends Ask
    /** `approx_count_distinct(col)` at HLL++ precision `p`. */
    final case class Ndv(col: String, p: Int) extends Ask
  }

  /** One grouping dimension: the dir level it reads, the decode of a
    * dir segment into the group's Catalyst-internal value, the value's
    * type, the column it groups on (the identity column, or the time
    * source) and its kind ("identity", or a time derivation kind).
    */
  final case class GroupDim(
      segName: String, decode: String => Option[Any], dataType: DataType,
      column: String, kind: String) {
    def isIdentity: Boolean = kind == "identity"
  }
}
