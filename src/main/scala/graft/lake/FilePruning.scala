package graft.lake

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType, StructType}

/** Everything a predicate pins about the rows it can match, per
  * prunable dimension, in the encodings the manifest stats use — the
  * one input of [[LakehouseTable.planFiles]]. Every dimension is an
  * over-approximation of the matching rows; an absent dimension
  * constrains nothing. Dimensions compose as conjuncts: a file is
  * planned only if it may match EVERY present dimension.
  *
  * @param keyPoints  finite set on the partition-source key (epoch
  *                   micros for time keys, the raw long otherwise)
  * @param timeRange  inclusive [lo, hi] on the partition-source key
  * @param longPoints finite sets on LONG/time `write.stats-columns`
  * @param strPoints  finite sets on STRING stats columns
  * @param longRanges inclusive integer-space ranges on stats columns
  * @param strPrefixes `LIKE 'p%'` prefixes on string stats columns
  * @param nulls      `c IS NULL` (true) / `c IS NOT NULL` (false)
  * @param strRanges  string ranges, each bound (value, inclusive)
  * @param idDirs     identity partition dims: (dir column, wanted
  *                   [[LakehouseTable.dirRenderings]] of the values)
  * @param dblRanges  exact double ranges, each bound (value, inclusive)
  */
final case class FilePruning(
    keyPoints: Option[Seq[Long]] = None,
    timeRange: Option[(Long, Long)] = None,
    longPoints: Seq[(String, Seq[Long])] = Nil,
    strPoints: Seq[(String, Seq[String])] = Nil,
    longRanges: Seq[(String, Long, Long)] = Nil,
    strPrefixes: Seq[(String, String)] = Nil,
    nulls: Seq[(String, Boolean)] = Nil,
    strRanges: Seq[(String, Option[(String, Boolean)], Option[(String, Boolean)])] = Nil,
    idDirs: Seq[(String, Set[String])] = Nil,
    dblRanges: Seq[(String, Option[(Double, Boolean)], Option[(Double, Boolean)])] = Nil) {

  def isEmpty: Boolean = this == FilePruning.All

  /** An empty pinned set on any dimension (`k IN ()` after
    * intersection) admits no row: zero files.
    */
  def contradicts: Boolean =
    keyPoints.exists(_.isEmpty) || longPoints.exists(_._2.isEmpty) ||
      strPoints.exists(_._2.isEmpty) || idDirs.exists(_._2.isEmpty)

  /** The table columns the dimensions name. */
  def columns: Seq[String] =
    longPoints.map(_._1) ++ strPoints.map(_._1) ++ longRanges.map(_._1) ++
      strPrefixes.map(_._1) ++ nulls.map(_._1) ++ strRanges.map(_._1) ++
      idDirs.map(_._1) ++ dblRanges.map(_._1)

  private[lake] lazy val sortedKey: Option[Array[Long]] =
    keyPoints.map(_.distinct.sorted.toArray)
  private[lake] lazy val sortedLong: Seq[(String, Array[Long])] =
    longPoints.map { case (c, ks) => (c, ks.distinct.sorted.toArray) }
  private[lake] lazy val sortedStr: Seq[(String, Array[String])] =
    strPoints.map { case (c, ks) =>
      val arr = ks.distinct.toArray
      java.util.Arrays.sort(arr, ColumnBounds.cpCompare(_, _))
      (c, arr)
    }

  // only the PRESENT dimensions contribute a check: an unconstrained
  // plan runs no per-entry pass at all, and only an identity dimension
  // parses path segments — at 10⁵ cached entries the trivially-true
  // closures (and the path parse they force) dominated warm planning
  private lazy val refChecks: Seq[ManifestRef => Boolean] =
    timeRange.toSeq.map { case (lo, hi) => (r: ManifestRef) => r.overlaps(lo, hi) } ++
      sortedKey.toSeq.map(ks => (r: ManifestRef) =>
        FilePruning.anyIn(ks, r.minKeyUs, r.maxKeyUs)) ++
      sortedLong.map { case (c, ks) => (r: ManifestRef) => r.mayContainColumnLongs(c, ks) } ++
      sortedStr.map { case (c, ks) => (r: ManifestRef) => r.mayContainColumnStrings(c, ks) } ++
      longRanges.map { case (c, lo, hi) =>
        (r: ManifestRef) => r.mayContainColumnRange(c, lo, hi) } ++
      strPrefixes.map { case (c, p) => (r: ManifestRef) => r.mayContainColumnPrefix(c, p) } ++
      nulls.map { case (c, w) => (r: ManifestRef) => r.mayContainNullness(c, w) } ++
      strRanges.map { case (c, lo, hi) =>
        (r: ManifestRef) => r.mayContainColumnStringRange(c, lo, hi) } ++
      dblRanges.map { case (c, lo, hi) =>
        (r: ManifestRef) => r.mayContainColumnDoubleRange(c, lo, hi) } ++
      idDirs.map { case (n, vs) =>
        (r: ManifestRef) => vs.exists(r.mayContainPartitionValue(n, _)) }

  // point dimensions have no per-file bounds check here: the bloom
  // ladder of the planner tests each key against the bounds first
  private lazy val fileChecks: Seq[DataFile => Boolean] =
    timeRange.toSeq.map { case (lo, hi) => (f: DataFile) => f.overlaps(lo, hi) } ++
      sortedKey.toSeq.map(ks => (f: DataFile) =>
        FilePruning.anyIn(ks, f.minKeyUs, f.maxKeyUs)) ++
      longRanges.map { case (c, lo, hi) => (f: DataFile) => f.overlapsColumn(c, lo, hi) } ++
      strPrefixes.map { case (c, p) => (f: DataFile) => f.mayContainColumnPrefix(c, p) } ++
      nulls.map { case (c, w) => (f: DataFile) => f.mayContainNullness(c, w) } ++
      strRanges.map { case (c, lo, hi) =>
        (f: DataFile) => f.mayContainColumnStringRange(c, lo, hi) } ++
      dblRanges.map { case (c, lo, hi) =>
        (f: DataFile) => f.mayContainColumnDoubleRange(c, lo, hi) } ++
      idDirs.map { case (n, vs) =>
        (f: DataFile) => f.partitionSegments.get(n).forall(vs.contains) }

  /** Manifest-LIST level: may any file of `r` match, by its roll-ups? */
  def mayMatch(r: ManifestRef): Boolean = refChecks.forall(_(r))

  /** Per-file bounds level (key stats, column bounds, null counts,
    * identity dir segments).
    */
  def mayMatch(f: DataFile): Boolean = fileChecks.forall(_(f))

  def keepManifests(refs: Seq[ManifestRef]): Seq[ManifestRef] =
    if (refChecks.isEmpty) refs else refs.filter(mayMatch)

  def keepFiles(files: Seq[DataFile]): Seq[DataFile] =
    if (fileChecks.isEmpty) files else files.filter(mayMatch)
}

object FilePruning {
  /** Constrains nothing: every file is planned. */
  val All: FilePruning = FilePruning()

  /** Equality constraints on partition COLUMNS (an identity field is
    * its source column), plus an optional key range. A constraint on a
    * column without a dir level prunes nothing.
    */
  def partitionEquality(
      equalValues: Map[String, Any], timeRange: Option[(Long, Long)] = None): FilePruning =
    FilePruning(timeRange = timeRange, idDirs = equalValues.toSeq.map { case (k, v) =>
      k -> LakehouseTable.dirRenderings(String.valueOf(v)) })

  /** Does any of the sorted `keys` fall in [lo, hi]? True without
    * stats (cannot skip what was never measured).
    */
  private[lake] def anyIn(keys: Array[Long], lo: Option[Long], hi: Option[Long]): Boolean =
    (lo, hi) match {
      case (Some(l), Some(h)) => anyIn(keys, l, h)
      case _ => true
    }

  private[lake] def anyIn(keys: Array[Long], lo: Long, hi: Long): Boolean = {
    val i = java.util.Arrays.binarySearch(keys, lo)
    val idx = if (i >= 0) i else -i - 1
    idx < keys.length && keys(idx) <= hi
  }

  /** Does any of the `keys` (sorted in code-point order) fall inside
    * the STRING bounds `b`? The smallest key ≥ minS decides; absent
    * maxS is +∞.
    */
  private[lake] def anyIn(keys: Array[String], b: ColumnBounds): Boolean = {
    var a = 0
    var z = keys.length
    val lo = b.minS.get
    while (a < z) {
      val m = (a + z) >>> 1
      if (ColumnBounds.cpCompare(keys(m), lo) < 0) a = m + 1 else z = m
    }
    a < keys.length && b.maxS.forall(hi => ColumnBounds.cpCompare(keys(a), hi) <= 0)
  }

  /** Every dimension a bound Catalyst condition pins, against the
    * table's key, declared `write.stats-columns` and identity
    * partition fields. Each extractor only ever WIDENS (see
    * [[PredicateBounds]]), so the result is an over-approximation and
    * the exact predicate must re-apply above the planned files. A
    * column already point-pinned contributes no range or prefix of the
    * same value space: the point set is strictly tighter.
    */
  def of(meta: TableMetadata, cond: Expression): FilePruning = {
    val keyCol = meta.partitionTransform
    val schema = StructType.fromDDL(meta.schemaDdl)
    val statsCols = meta.props.get("write.stats-columns").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
      .filterNot(keyCol.contains)
      .filter(schema.fieldNames.contains)
    val (strCols, numCols) = statsCols.partition(c => schema(c).dataType == StringType)
    val strPoints = strCols.flatMap(c => PredicateBounds.pointKeyStrings(cond, c).map(c -> _))
    val longPoints = numCols.flatMap(c => PredicateBounds.pointKeysUs(cond, c).map(c -> _))
    val longRanges = numCols.filterNot(c => longPoints.exists(_._1 == c)).flatMap { c =>
      val (lo, hi) = PredicateBounds.rangeBounds(cond, c)
      if (lo.isDefined || hi.isDefined)
        Some((c, lo.getOrElse(Long.MinValue), hi.getOrElse(Long.MaxValue)))
      else None
    }
    val unpinnedStr = strCols.filterNot(c => strPoints.exists(_._1 == c))
    val strRanges = unpinnedStr.flatMap { c =>
      val (lo, hi) = PredicateBounds.stringRangeBounds(cond, c)
      if (lo.isDefined || hi.isDefined) Some((c, lo, hi)) else None
    }
    // integer-space rangeBounds deliberately excludes doubles (a
    // sub-integer bound is undecidable in longs); these probe the
    // EXACT double bounds
    val dblRanges = numCols.filter(c => schema(c).dataType == DoubleType).flatMap { c =>
      val (lo, hi) = PredicateBounds.doubleRangeBounds(cond, c)
      if (lo.isDefined || hi.isDefined) Some((c, lo, hi)) else None
    }
    // identity dims on string and integral sources only: a timestamp or
    // double dir renders its value differently than the extracted
    // literal, so extraction there could never match. dirRenderings,
    // not escapeDirValue: the committer maps the EMPTY string to the
    // null sentinel dir, so `sym = ''` must keep the sentinel's files
    val idDirs = meta.specList.flatMap(_.fields).distinct
      .filter(f => f.transform == "identity" && schema.fieldNames.contains(f.source))
      .flatMap { f =>
        val pinned: Option[Seq[String]] = schema(f.source).dataType match {
          case StringType => PredicateBounds.pointKeyStrings(cond, f.source)
          case LongType | IntegerType =>
            PredicateBounds.pointKeysUs(cond, f.source).map(_.map(String.valueOf))
          case _ => None
        }
        pinned.map(vs => (f.name, vs.flatMap(LakehouseTable.dirRenderings).toSet))
      }
    FilePruning(
      keyPoints = keyCol.flatMap(PredicateBounds.pointKeysUs(cond, _)),
      timeRange = keyCol.map(PredicateBounds.timeBounds(cond, _))
        .filter(b => b._1.isDefined || b._2.isDefined)
        .map(b => (b._1.getOrElse(Long.MinValue), b._2.getOrElse(Long.MaxValue))),
      longPoints = longPoints,
      strPoints = strPoints,
      longRanges = longRanges,
      strPrefixes = unpinnedStr.flatMap(c => PredicateBounds.stringPrefix(cond, c).map(c -> _)),
      nulls = statsCols.flatMap(c => PredicateBounds.nullness(cond, c).map(c -> _)),
      strRanges = strRanges,
      idDirs = idDirs,
      dblRanges = dblRanges)
  }
}
