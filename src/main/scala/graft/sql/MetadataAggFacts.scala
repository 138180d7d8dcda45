package graft.sql

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType, TimestampNTZType, TimestampType}

/** Ungrouped typed-answer gates behind [[MetadataAggCore]], the one
  * answerer both metadata-aggregate surfaces translate into —
  * [[GraftRelationExpansion]]'s analysis-time rewrite and the DSv2
  * `SupportsPushDownAggregates` path on [[GraftScanBuilder]]. Answers
  * come from the [[graft.lake.MetadataAggInfo]] roll-ups with
  * provable-or-bail typing:
  *
  *   - `count(*)` ⇔ the roll-up row total (the info itself is None —
  *     caller bails — under live merge-on-read masks or missing key
  *     roll-ups… see [[graft.lake.LakehouseTable.metadataAggInfo]]).
  *   - `count(c)` ⇔ rows − complete null roll-up; renamed columns bail
  *     (pre-rename entries roll up under the historical name).
  *   - `min/max(c)` ⇔ exact extremes for the partition-source key and
  *     integral/timestamp stats columns (manifest long encoding →
  *     the column's own literal type), for DOUBLE stats columns from
  *     the exact PROVEN pair only, and for STRING stats columns from
  *     exactness-marked roll-ups only — widened longs and truncated
  *     string bounds are never served as extremes.
  *
  * Answers are Catalyst [[Literal]]s: the rewrite splices them into
  * the plan directly, the DSv2 scan reads `literal.value` as the
  * already-internal row value (UTF8String included — exactness-marked
  * short-string extremes serve through both surfaces).
  */
private[sql] final class MetadataAggFacts(
    val info: graft.lake.MetadataAggInfo,
    meta: graft.lake.TableMetadata) {
  private val schema = StructType.fromDDL(meta.schemaDdl)
  private val keyCol = meta.statsSource

  /** A renamed column's roll-ups may be split across its historical
    * physical names — not provably complete under the current name.
    */
  def renamed(name: String): Boolean = meta.aliasMap.contains(name)

  private def minMaxUs(name: String): Option[(Long, Long)] =
    if (renamed(name)) None
    else if (keyCol.contains(name)) info.keyBoundsUs
    else info.colBounds.get(name)

  /** Manifest long encoding → a literal of the column's own type; None
    * for types whose encoding is widened or truncated (strings; doubles
    * are served from their exact pair in [[extreme]], never from the
    * widened longs) — those must never be served as exact extremes.
    */
  private def exactLiteral(name: String, v: Long): Option[Literal] = {
    if (!schema.fieldNames.contains(name)) return None
    schema(name).dataType match {
      case dt @ (TimestampType | TimestampNTZType) => Some(Literal(v, dt))
      case org.apache.spark.sql.types.LongType => Some(Literal(v))
      case org.apache.spark.sql.types.IntegerType
          if v >= Int.MinValue && v <= Int.MaxValue => Some(Literal(v.toInt))
      case _ => None
    }
  }

  def countStar: Long = info.rows

  /** `count(name)` — None ⇔ not provable. */
  def countCol(name: String): Option[Long] =
    if (info.rows == 0L) Some(0L)
    else if (renamed(name)) None
    else info.colNulls.get(name).map(info.rows - _)

  /** `sum(name)` as a typed literal (round 16, VERDICT r15 #7) — the
    * recorded total is EXACT (per-file decimal sums, each gated to fit
    * a Long, folded as BigInt with the same gate), so under LEGACY
    * arithmetic it equals any scan's answer outright. Under ANSI/TRY
    * (`requireNoOverflowProof`) a scan may additionally THROW/NULL on
    * an INTERMEDIATE overflow even when the total fits — provable-
    * or-bail demands the metadata answer only when that is impossible:
    * a sign-uniform column ([[graft.lake.MetadataAggInfo.colSumSafe]]:
    * every member all-null, empty, or bounded away from the other
    * sign) has monotone partial sums bounded by the recorded total, in
    * every aggregation order. Integral columns only; doubles'
    * summation is order-dependent and never served.
    */
  def sumCol(name: String, requireNoOverflowProof: Boolean): Option[Literal] = {
    if (renamed(name) || !schema.fieldNames.contains(name)) return None
    schema(name).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType =>
        if (info.rows == 0L)
          return Some(Literal(null, org.apache.spark.sql.types.LongType))
        for {
          s <- info.colSums.get(name)
          n <- info.colNulls.get(name)
          if !requireNoOverflowProof || info.colSumSafe.contains(name)
        } yield
          if (n == info.rows) Literal(null, org.apache.spark.sql.types.LongType)
          else Literal(s)
      // decimal sums (round 18, VERDICT r17 #5): the recorded total is
      // the UNSCALED value at the column's scale; the mode flag is
      // immaterial — no checked intermediates, and the final-precision
      // gate inside decimalSumValue covers every mode
      case d: org.apache.spark.sql.types.DecimalType =>
        val resT = MetadataGroupFacts.decimalSumType(d)
        if (info.rows == 0L) return Some(Literal(null, resT))
        for {
          s <- info.colSums.get(name)
          n <- info.colNulls.get(name)
          v <- MetadataGroupFacts.decimalSumValue(
            d, BigInt(s), allNull = n == info.rows)
        } yield Literal(v, resT)
      case _ => None
    }
  }

  /** `avg(name)` as a typed literal (round 17, VERDICT r16 #5) —
    * derived from the SAME served facts as sum and count, gated by the
    * DETERMINISM proof the others don't need: Spark's integral
    * [[org.apache.spark.sql.catalyst.expressions.aggregate.Average]]
    * accumulates in DOUBLE (probed empirically on 4.1.2 — `sumDataType
    * = DoubleType`, and avg of {2⁵³, 1, 1} returns the
    * double-accumulated 0x1.5555555555555p51, NOT the exact-division
    * 0x1.5555555555557p51), so a scan's answer is order-dependent
    * unless every partial sum stays ≤ 2⁵³, where integer-valued double
    * additions are exact. [[graft.lake.MetadataAggInfo.colAbsSums]]
    * ≤ 2⁵³ is precisely that proof, in every execution order — then
    * the scan's sum accumulator provably equals the recorded exact
    * total and avg ≡ `total.toDouble / nonNullCount` (Average's own
    * final division). No eval-mode gate: doubles cannot overflow on
    * 2⁶³-bounded addend counts, so ANSI/TRY avg never throws.
    */
  def avgCol(
      name: String,
      /** The plan's own Average instance when available (the SQL
        * rule); the DSv2 surface constructs an equivalent one.
        */
      avgInstance: Option[
        org.apache.spark.sql.catalyst.expressions.aggregate.Average] = None)
      : Option[Literal] = {
    if (renamed(name) || !schema.fieldNames.contains(name)) return None
    schema(name).dataType match {
      case LongType | IntegerType =>
        if (info.rows == 0L)
          return Some(Literal(null, org.apache.spark.sql.types.DoubleType))
        for {
          s <- info.colSums.get(name)
          n <- info.colNulls.get(name)
          abs <- info.colAbsSums.get(name)
          if BigInt(abs) <= graft.lake.MetadataAggInfo.DoubleExactLimit
        } yield
          if (n == info.rows) Literal(null, org.apache.spark.sql.types.DoubleType)
          else Literal(MetadataGroupFacts.exactIntegralAvg(s, info.rows - n))
      // decimal avg (round 18): the exact total through Spark's own
      // final-evaluate expression — no 2⁵³ gate (decimal accumulation
      // is exact; only the final precision matters, gated inside)
      case d: org.apache.spark.sql.types.DecimalType =>
        val resT = avgInstance.map(_.dataType)
          .getOrElse(MetadataGroupFacts.decimalAvgType(d))
        if (info.rows == 0L) return Some(Literal(null, resT))
        for {
          s <- info.colSums.get(name)
          n <- info.colNulls.get(name)
          v <- avgInstance.fold(
            MetadataGroupFacts.decimalAvgOf(d, BigInt(s), info.rows - n))(
            MetadataGroupFacts.decimalAvgValue(_, d, BigInt(s), info.rows - n))
        } yield Literal(v, resT)
      case _ => None
    }
  }

  /** `min(name)` / `max(name)` as a typed literal — None ⇔ not
    * provable. An empty table's extreme is the typed NULL.
    */
  def extreme(name: String, wantMin: Boolean): Option[Literal] = {
    if (renamed(name) || !schema.fieldNames.contains(name)) return None
    if (info.rows == 0L) return Some(Literal(null, schema(name).dataType))
    schema(name).dataType match {
      case org.apache.spark.sql.types.DoubleType =>
        info.colBoundsD.get(name)
          .map(b => Literal(if (wantMin) b._1 else b._2))
      case org.apache.spark.sql.types.StringType =>
        // round 16: only exactness-marked short-string roll-ups — a
        // truncated manifest bound is never an extreme. A table whose
        // every non-null value is ≤16 code points answers here; one
        // longer (or imported) file bails to the scan. Code-point
        // roll-up order ≡ UTF8_BINARY, the order min/max uses.
        (if (wantMin) info.colMinS.get(name) else info.colMaxS.get(name))
          .map(Literal(_))
      case _ => minMaxUs(name)
        .flatMap(b => exactLiteral(name, if (wantMin) b._1 else b._2))
    }
  }

  /** `approx_count_distinct(name)` as a typed literal (round 18 —
    * [[graft.lake.NdvSketch]]): the merged per-file HLL++ register
    * state IS the register state a scan reaches (register max is
    * associative/commutative/idempotent, and the estimator is a pure
    * function of that state), so the served value equals the scan's
    * bit-for-bit — no error bound involved, plan-level equality.
    * Gates: the roll-up must be complete (one sketch-less file bails),
    * the recorded precision must equal the QUERY's own helper
    * precision (`queryP` — a non-default rsd asks for different
    * registers), and the write-time type tag must equal the column's
    * CURRENT read type (a widened column hashes differently — old
    * sketches stop serving until compaction re-records). Renames bail
    * like every roll-up. Empty table serves 0 (the scan's answer —
    * `approx_count_distinct` is non-null on empty input).
    */
  def ndvCol(name: String, queryP: Int): Option[Literal] = {
    if (renamed(name) || !schema.fieldNames.contains(name)) return None
    if (info.rows == 0L) return Some(Literal(0L))
    for {
      enc <- info.colNdv.get(name)
      (p, tag, _) <- graft.lake.NdvSketch.decode(enc)
      if p == queryP && tag == graft.lake.NdvSketch.typeTag(schema(name).dataType)
      est <- graft.lake.NdvSketch.estimate(enc)
    } yield Literal(est)
  }
}

/** PER-GROUP provable-or-bail gates behind [[MetadataAggCore]]'s
  * grouped answer (and the rule's range-only grouped branch): answers
  * are Catalyst-INTERNAL values (UTF8String for strings, boxed
  * Long/Int/Double otherwise; SQL NULL is a Scala `null` inside
  * `Some`), ready for a [[LocalRelation]] row or a
  * [[org.apache.spark.sql.connector.read.LocalScan]] row alike.
  */
private[sql] object MetadataGroupFacts {
  import graft.lake.{ColumnBounds, DataFile, MetadataAggInfo, TableMetadata}

  /** Canonical-form round-trip: native writes render
    * `String.valueOf(value)`, so a non-canonical imported dir ("05",
    * "+5") means the dir is NOT the value — bail, don't guess.
    */
  def canonLong(v: String): Option[Long] = v.toLongOption.filter(_.toString == v)

  /** Dir-segment decode into the group's typed INTERNAL value for an
    * identity partition column, or None for an unsupported source type.
    * Callers must have excluded the null-sentinel dir already (it
    * cannot round-trip the value).
    */
  def identityDecode(dt: DataType): Option[String => Option[Any]] = dt match {
    case StringType => Some(seg =>
      graft.lake.LakehouseTable.unescapeDirValue(seg)
        .map(org.apache.spark.unsafe.types.UTF8String.fromString))
    case LongType => Some(seg => canonLong(seg).map(java.lang.Long.valueOf))
    case IntegerType => Some(seg =>
      seg.toIntOption.filter(_.toString == seg).map(java.lang.Integer.valueOf))
    case _ => None
  }

  /** `count(name)` over a group from the per-file null roll-ups —
    * complete-or-bail. Callers handle the non-null-by-construction
    * cases (identity grouping columns, time-dim sources) themselves.
    */
  def groupCountCol(
      meta: TableMetadata, name: String,
      files: Seq[DataFile], rows: Long): Option[Long] = {
    if (meta.aliasMap.contains(name)) return None
    val per = files.map(_.colNulls.flatMap(_.get(name)))
    if (per.exists(_.isEmpty)) None
    else Some(rows - per.flatten.sum)
  }

  /** Per-group min/max from per-file bounds, complete-or-bail; the
    * manifest long encoding converts to the column's INTERNAL value
    * for exact integral/timestamp types only. Strings serve from
    * exactness-marked engine-written bounds (a truncated prefix is
    * never an extreme); doubles from the exact PROVEN pair only (an
    * unproven foreign max may omit the NaN a real max() would return).
    */
  def groupMinMax(
      meta: TableMetadata, schema: StructType, keyCol: Option[String],
      name: String, files: Seq[DataFile], wantMin: Boolean): Option[Any] = {
    if (meta.aliasMap.contains(name) || !schema.fieldNames.contains(name))
      return None
    if (schema(name).dataType == StringType) {
      val per = files.map(_.extraBounds.flatMap(_.find(b =>
        b.column == name && b.isString &&
          (if (wantMin) b.minSExact else b.maxSExact)))
        .map(b => if (wantMin) b.minS.get else b.maxS.get))
      if (per.exists(_.isEmpty)) return None
      val best = per.flatten.reduce((a, b) =>
        if (wantMin == (ColumnBounds.cpCompare(a, b) <= 0)) a else b)
      return Some(org.apache.spark.unsafe.types.UTF8String.fromString(best))
    }
    if (schema(name).dataType == org.apache.spark.sql.types.DoubleType) {
      val per = files.map(_.extraBounds.flatMap(_.find(b =>
        b.column == name && b.isDouble && b.dProven))
        .map(b => if (wantMin) b.minD.get else b.maxD.get))
      if (per.exists(_.isEmpty)) return None
      return Some(java.lang.Double.valueOf(
        if (wantMin) per.flatten.min else per.flatten.max))
    }
    val per: Seq[Option[Long]] =
      if (keyCol.contains(name))
        files.map(f => if (wantMin) f.minKeyUs else f.maxKeyUs)
      else files.map(_.extraBounds.flatMap(_.find(b =>
        b.column == name && !b.isString)).map(b => if (wantMin) b.min else b.max))
    if (per.exists(_.isEmpty)) return None
    val v = if (wantMin) per.flatten.min else per.flatten.max
    schema(name).dataType match {
      case TimestampType | TimestampNTZType => Some(java.lang.Long.valueOf(v))
      case LongType => Some(java.lang.Long.valueOf(v))
      case IntegerType if v >= Int.MinValue && v <= Int.MaxValue =>
        Some(java.lang.Integer.valueOf(v.toInt))
      case _ => None
    }
  }

  /** Per-group `sum(name)` from the exact per-file sums — Σ of the
    * group's recorded sums with the same complete-or-bail and mode
    * gates as [[MetadataAggFacts.sumCol]]: integral columns only, every
    * member must record sum + null count, the total must fit a Long,
    * and when `requireNoOverflowProof` (ANSI — a scan may throw on an
    * INTERMEDIATE overflow even when the total fits) the group's
    * members must prove no interleaving can overflow — CROSS-MEMBER
    * sign uniformity, or (round 17, VERDICT r16 #4) Σ|member sums|
    * within Long range with no member able to stray outside its own
    * recorded sum's magnitude (see [[MetadataAggInfo.absSumBound]]).
    * None ⇔ bail; Some(null) ⇔ the group's values are all NULL.
    */
  def groupSum(
      meta: TableMetadata, schema: StructType, name: String,
      files: Seq[DataFile], requireNoOverflowProof: Boolean): Option[Any] = {
    if (meta.aliasMap.contains(name) || !schema.fieldNames.contains(name))
      return None
    lazy val sums = files.map(_.colSums.flatMap(_.get(name)))
    lazy val nullsPer = files.map(_.colNulls.flatMap(_.get(name)))
    schema(name).dataType match {
      case LongType | IntegerType =>
        if (sums.exists(_.isEmpty) || nullsPer.exists(_.isEmpty)) None
        else {
          val tot = sums.flatten.map(BigInt(_)).sum
          val modeOk = !requireNoOverflowProof ||
            MetadataAggInfo.noIntermediateOverflow(files, name)
          if (!tot.isValidLong || !modeOk) None
          else if (nullsPer.flatten.sum == files.map(_.rows).sum)
            Some(null) // the group's values are all NULL
          else Some(java.lang.Long.valueOf(tot.toLong))
        }
      // decimal sums (round 18, VERDICT r17 #5): per-file UNSCALED
      // totals fold exactly; `requireNoOverflowProof` is immaterial —
      // decimal accumulation has no checked intermediates, and the
      // final-precision gate inside decimalSumValue covers every mode
      case d: org.apache.spark.sql.types.DecimalType =>
        if (sums.exists(_.isEmpty) || nullsPer.exists(_.isEmpty)) None
        else decimalSumValue(d, sums.flatten.map(BigInt(_)).sum,
          allNull = nullsPer.flatten.sum == files.map(_.rows).sum)
      case _ => None
    }
  }

  /** Per-group `avg(name)` (round 17, VERDICT r16 #5): the group's
    * exact Σ of per-file sums + complete null roll-ups under the 2⁵³
    * partial-bound determinism proof — see [[MetadataAggFacts.avgCol]]
    * for why Spark's double-accumulating integral Average demands it.
    * None ⇔ bail; Some(null) ⇔ the group's values are all NULL.
    */
  def groupAvg(
      meta: TableMetadata, schema: StructType, name: String,
      files: Seq[DataFile],
      /** The plan's own Average instance when the caller has one (the
        * SQL rule) — decimal avg folds through ITS evaluateExpression;
        * the DSv2 surface constructs an equivalent one (the answer is
        * mode-independent under the overflow gates).
        */
      avgInstance: Option[
        org.apache.spark.sql.catalyst.expressions.aggregate.Average] = None)
      : Option[Any] = {
    if (meta.aliasMap.contains(name) || !schema.fieldNames.contains(name))
      return None
    lazy val sums = files.map(_.colSums.flatMap(_.get(name)))
    lazy val nullsPer = files.map(_.colNulls.flatMap(_.get(name)))
    schema(name).dataType match {
      case LongType | IntegerType =>
        if (sums.exists(_.isEmpty) || nullsPer.exists(_.isEmpty)) None
        else if (!MetadataAggInfo.boundedPartials(
          files, name, MetadataAggInfo.DoubleExactLimit)) None
        else {
          val nonNull = files.map(_.rows).sum - nullsPer.flatten.sum
          if (nonNull == 0L) Some(null)
          else Some(java.lang.Double.valueOf(exactIntegralAvg(
            sums.flatten.map(BigInt(_)).sum.toLong, nonNull)))
        }
      // decimal avg (round 18): exact sum + count through Spark's own
      // final-evaluate expression — no 2⁵³ gate (decimal accumulation
      // is exact; only the final precision matters, gated inside)
      case d: org.apache.spark.sql.types.DecimalType =>
        if (sums.exists(_.isEmpty) || nullsPer.exists(_.isEmpty)) None
        else {
          val tot = sums.flatten.map(BigInt(_)).sum
          val nonNull = files.map(_.rows).sum - nullsPer.flatten.sum
          avgInstance.fold(decimalAvgOf(d, tot, nonNull))(
            decimalAvgValue(_, d, tot, nonNull))
        }
      case _ => None
    }
  }

  /** Spark's integral-avg final arithmetic from the served sum + count
    * facts — a plain double division, exactly Average's own
    * `sum / count.cast(double)` evaluation. Sound ONLY under the 2⁵³
    * partial-bound proof (see [[MetadataAggFacts.avgCol]]); callers
    * guarantee `nonNull > 0` and the proof.
    */
  def exactIntegralAvg(sum: Long, nonNull: Long): Double =
    sum.toDouble / nonNull.toDouble

  /** Per-group `approx_count_distinct(name)` (round 18 —
    * [[graft.lake.NdvSketch]]): the merge of the group's per-file
    * HLL++ sketches, complete-or-bail, precision- and write-type-gated
    * exactly like [[MetadataAggFacts.ndvCol]] — register max makes the
    * merged state the state a scan of the group's files reaches, so
    * the estimate equals the scan's bit-for-bit. Callers have already
    * dropped zero-row groups (a real GROUP BY emits no row for them).
    */
  def groupNdv(
      meta: TableMetadata, schema: StructType, name: String,
      files: Seq[DataFile], queryP: Int): Option[Any] = {
    if (meta.aliasMap.contains(name) || !schema.fieldNames.contains(name))
      return None
    val per = files.map(_.colNdv.flatMap(_.get(name)))
    if (per.exists(_.isEmpty)) return None
    for {
      merged <- graft.lake.NdvSketch.mergeEncoded(per.flatten)
      (p, tag, _) <- graft.lake.NdvSketch.decode(merged)
      if p == queryP && tag == graft.lake.NdvSketch.typeTag(schema(name).dataType)
      est <- graft.lake.NdvSketch.estimate(merged)
    } yield java.lang.Long.valueOf(est)
  }

  // ---- time-derivation decode (round 18, VERDICT r17 #3) ----
  // Behind [[MetadataAggCore.timeDim]], which both grouped surfaces
  // use: the SQL rule's `GROUP BY year(ts)` and the DSv2 connector's
  // Extract("YEAR", ts). Kinds: "year" | "month" | "day" | "hour" |
  // "date" (the implicit `CAST(ts AS DATE)` grouping).

  /** Dir granularities (partition transforms) a derivation of `kind`
    * can serve from — the dir int must be at least as fine as the
    * derivation. None ⇔ unsupported kind.
    */
  def timeGranOk(kind: String): Option[Set[String]] = kind match {
    case "year" => Some(Set("year", "month", "day", "hour"))
    case "month" => Some(Set("month", "day", "hour"))
    case "day" => Some(Set("day", "hour"))
    case "hour" => Some(Set("hour"))
    case "date" => Some(Set("day", "hour"))
    case _ => None
  }

  /** The dir int must BE a value the writer's transform can produce,
    * or the dir is NOT the derivation and serving from it would
    * mislabel every row (ADVICE r15, strengthened in round 17): a
    * negative int mis-inverts under truncating `/`+`%`, and a
    * malformed-but-numeric day dir (month 13) silently serves a
    * phantom group through legs that never throw. Calendar round-trip
    * for day/hour granularities.
    */
  def validDirInt(transform: String, v: Long): Boolean = {
    def okDay(d: Long): Boolean =
      d / 10000 >= 1 && d / 10000 <= 9999 &&
        scala.util.Try(java.time.LocalDate.of((d / 10000).toInt,
          (d / 100 % 100).toInt, (d % 100).toInt)).isSuccess
    transform match {
      case "year" => v >= 1 && v <= 9999
      case "month" =>
        v / 100 >= 1 && v / 100 <= 9999 && v % 100 >= 1 && v % 100 <= 12
      case "day" => okDay(v)
      case "hour" => okDay(v / 100) && v % 100 >= 0 && v % 100 <= 23
      case _ => false
    }
  }

  /** The derived INTERNAL value of a (validated) dir int under the
    * writer transform `transform`, for derivation `kind`. Int results
    * box to java.lang.Integer; "date" yields epoch days (DateType's
    * internal form).
    */
  private def timeDerive(kind: String, v: Long, transform: String): Any =
    kind match {
      case "year" => transform match {
        case "year" => v.toInt
        case "month" => (v / 100).toInt
        case "day" => (v / 10000).toInt
        case "hour" => (v / 1000000).toInt
      }
      case "month" => transform match {
        case "month" => (v % 100).toInt
        case "day" => (v / 100 % 100).toInt
        case "hour" => (v / 10000 % 100).toInt
      }
      case "day" => transform match {
        case "day" => (v % 100).toInt
        case "hour" => (v / 100 % 100).toInt
      }
      case "hour" => (v % 100).toInt
      case "date" =>
        val d = if (transform == "day") v else v / 100
        java.lang.Integer.valueOf(java.time.LocalDate
          .of((d / 10000).toInt, (d / 100 % 100).toInt, (d % 100).toInt)
          .toEpochDay.toInt)
    }

  /** Dir-segment decode for a time derivation: canonical-form
    * round-trip, granularity-validated int, derived internal value;
    * None anywhere ⇔ the dir cannot prove the group — bail.
    */
  def timeDecode(kind: String, transform: String): String => Option[Any] =
    seg => canonLong(seg).filter(validDirInt(transform, _))
      .flatMap(v => scala.util.Try(timeDerive(kind, v, transform)).toOption)

  /** The FULL time-dim admission: renamed column, schema
    * membership, timestamp-zone soundness (NTZ is
    * wall-clock on both sides; a ZONED derivation serves only under a
    * UTC session — the engine's own writers pin UTC, so the dir ints
    * agree), dir granularity at least as fine as the derivation.
    * Some((dir level, segment decode)) ⇔ servable.
    */
  def timeDimAdmit(
      meta: graft.lake.TableMetadata, schema: StructType,
      sessionLocalTimeZone: String, kind: String, srcName: String)
      : Option[(String, String => Option[Any])] = {
    if (meta.aliasMap.contains(srcName) ||
      !schema.fieldNames.contains(srcName)) return None
    val tzOk = schema(srcName).dataType match {
      case TimestampNTZType => true
      case TimestampType => sessionLocalTimeZone == "UTC"
      case _ => false
    }
    if (!tzOk) return None
    val granOk = timeGranOk(kind).getOrElse(return None)
    meta.specList.flatMap(_.fields).distinct
      .find(f => f.source == srcName && granOk.contains(f.transform))
      .map(f => (f.name, timeDecode(kind, f.transform)))
  }

  // ---- DecimalType sums/avg (round 18, VERDICT r17 #5) ----
  // Per-file decimal sums record the UNSCALED value at the column's
  // declared scale (exact decimal accumulation, gated to fit a Long at
  // write time), so the existing Long-typed manifest roll-ups carry
  // them unchanged. Serving needs NO intermediate-overflow proof:
  // Spark's decimal Sum accumulates through DecimalAddNoOverflowCheck
  // (exact big-decimal adds, unchecked mid-stream — the class exists
  // precisely for this) and checks overflow only on the FINAL value,
  // so "total fits the result precision" makes the metadata answer
  // equal the scan's in EVERY eval mode (ANSI would throw, LEGACY/TRY
  // would NULL — all only on a final overflow this gate excludes).

  /** Spark's result type for `sum(DecimalType(p, s))`. */
  def decimalSumType(d: org.apache.spark.sql.types.DecimalType)
      : org.apache.spark.sql.types.DecimalType =
    org.apache.spark.sql.types.DecimalType(
      math.min(38, d.precision + 10), d.scale)

  /** The exact decimal sum as an INTERNAL value (or SQL NULL), or None
    * ⇔ the total overflows the result precision — bail, a scan would
    * throw/NULL there.
    */
  def decimalSumValue(
      d: org.apache.spark.sql.types.DecimalType,
      totalUnscaled: BigInt, allNull: Boolean): Option[Any] = {
    if (allNull) return Some(null)
    val resT = decimalSumType(d)
    if (totalUnscaled.abs >= BigInt(10).pow(resT.precision)) return None
    val dec = org.apache.spark.sql.types.Decimal(
      new java.math.BigDecimal(totalUnscaled.bigInteger, d.scale))
    if (dec.changePrecision(resT.precision, resT.scale)) Some(dec) else None
  }

  /** `avg(DecimalType)` by binding the recorded exact sum + non-null
    * count into Spark's OWN [[aggregate.Average.evaluateExpression]]
    * and folding it — division/rounding/precision semantics parity by
    * construction, not by re-implementation. None ⇔ the bound
    * expression cannot be proven equal to the scan's (sum overflows the
    * accumulator type, or the fold itself throws).
    */
  def decimalAvgValue(
      avg: org.apache.spark.sql.catalyst.expressions.aggregate.Average,
      d: org.apache.spark.sql.types.DecimalType,
      totalUnscaled: BigInt, nonNull: Long): Option[Any] = {
    if (nonNull == 0L) return Some(null)
    val sumT = avg.sumDataType match {
      case t: org.apache.spark.sql.types.DecimalType => t
      case _ => return None
    }
    if (totalUnscaled.abs >= BigInt(10).pow(sumT.precision)) return None
    val sAttr = avg.aggBufferAttributes.head
    val cAttr = avg.aggBufferAttributes(1)
    val sumLit = Literal.create(
      new java.math.BigDecimal(totalUnscaled.bigInteger, d.scale), sumT)
    val bound = avg.evaluateExpression.transform {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
          if a.exprId == sAttr.exprId => sumLit
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
          if a.exprId == cAttr.exprId => Literal(nonNull)
    }
    scala.util.Try(bound.eval(null)).toOption
  }

  /** Spark's result type for `avg(DecimalType)` — read off a real
    * Average instance so it can never drift from the engine's.
    */
  def decimalAvgType(d: org.apache.spark.sql.types.DecimalType): DataType =
    org.apache.spark.sql.catalyst.expressions.aggregate.Average(
      org.apache.spark.sql.catalyst.expressions.AttributeReference(
        "_graft_avg_in", d, nullable = true)()).dataType

  /** [[decimalAvgValue]] without a live plan instance (the DSv2
    * surface): a fresh Average over the column type — the served
    * answer is mode-independent under the overflow gates, so the
    * constructed instance's conf-default mode is immaterial.
    */
  def decimalAvgOf(
      d: org.apache.spark.sql.types.DecimalType,
      totalUnscaled: BigInt, nonNull: Long): Option[Any] =
    decimalAvgValue(
      org.apache.spark.sql.catalyst.expressions.aggregate.Average(
        org.apache.spark.sql.catalyst.expressions.AttributeReference(
          "_graft_avg_in", d, nullable = true)()),
      d, totalUnscaled, nonNull)

  /** `count(DISTINCT name)` for an IDENTITY partition column (round 18,
    * VERDICT r17 #4): the number of distinct DECODED dir values among
    * the files holding rows — the identity invariant makes every row of
    * a file carry its dir value, and the canonical-rendering round-trip
    * makes distinct dirs ⇔ distinct values (a non-canonical imported
    * dir like "05" bails rather than double-count "5"). Sentinel dirs:
    * a NULL never counts toward DISTINCT, so a non-string sentinel dir
    * (provably all-null) is excluded; for STRING columns the empty
    * string SHARES the sentinel — ambiguous, bail (the engine-wide
    * sentinel rule). Zero-row files contribute no value; a file missing
    * the dir level (pre-evolution spec) bails. Callers gate live
    * merge-on-read masks upstream (the entries read returns None).
    */
  def countDistinctIdentity(
      meta: graft.lake.TableMetadata, schema: StructType, name: String,
      files: Seq[DataFile]): Option[Long] = {
    if (meta.aliasMap.contains(name) || !schema.fieldNames.contains(name))
      return None
    val f = meta.specList.flatMap(_.fields).distinct
      .find(f => f.transform == "identity" && f.source == name)
      .getOrElse(return None)
    val conv = identityDecode(schema(name).dataType).getOrElse(return None)
    val isString = schema(name).dataType == StringType
    val vals = scala.collection.mutable.HashSet.empty[Any]
    files.foreach { df =>
      if (df.rows > 0L) {
        val seg = df.partitionSegments.getOrElse(f.name, return None)
        if (seg == graft.lake.LakehouseTable.HiveDefaultPartition) {
          if (isString) return None // '' shares the sentinel — ambiguous
          // non-string sentinel ⇒ provably all NULL ⇒ contributes nothing
        } else vals += conv(seg).getOrElse(return None)
      }
    }
    Some(vals.size.toLong)
  }
}
