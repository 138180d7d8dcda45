package graft.lake

import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Cast, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal, Or}
import org.apache.spark.sql.types.{IntegerType, LongType, TimestampNTZType, TimestampType}

/** Conservative [lo, hi] epoch-micros bounds a predicate imposes on a
  * named time column — ONLY conjuncts of the shape
  * `ts <cmp> timestamp-literal` contribute; anything else (disjunctions,
  * casts, other columns) is ignored, which can only WIDEN the range, so
  * manifest pruning with these bounds is always an over-approximation
  * and the exact predicate re-applies on top. Shared by the SQL
  * expansion rule's hidden-partitioning pushdown and the COW
  * delete/update discovery scan.
  */
object PredicateBounds {

  /** Pre-optimizer predicate normalization (round 14): the expansion
    * rule runs before the optimizer, where `x BETWEEN a AND b` is
    * still a RuntimeReplaceable node whose replacement the analyzer
    * wraps in `With`/common-expression scaffolding — unwrap the
    * replacement and inline the refs, so the bounds extractors see
    * the plain >=/<= conjuncts. Without this, the commonest
    * range-predicate spelling extracted nothing.
    */
  private[graft] def normalize(e: Expression): Expression = e match {
    case r: org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable =>
      normalize(r.replacement)
    case w: org.apache.spark.sql.catalyst.expressions.With =>
      val defs = w.defs.map(d => d.id -> d.child).toMap
      normalize(w.child.transformUp {
        case ref: org.apache.spark.sql.catalyst.expressions.CommonExpressionRef =>
          defs.getOrElse(ref.id, ref)
      })
    case other => other
  }

  def timeBounds(cond: Expression, timeCol: String): (Option[Long], Option[Long]) = {
    def micros(l: Literal): Option[Long] = l.dataType match {
      case TimestampType | TimestampNTZType => Some(l.value.asInstanceOf[Long])
      case _ => None
    }
    // resolved attributes only: both callers analyze the condition
    // first (the expansion rule is post-resolution; the COW discovery
    // resolves against a schema probe) — a name-suffix match on
    // unresolved attributes could bind a QUALIFIED other-relation
    // column and narrow the range incorrectly
    def isTime(e: Expression): Boolean = e match {
      case a: AttributeReference => a.name == timeCol
      case _ => false
    }
    def conjuncts(e: Expression): Seq[Expression] = normalize(e) match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    var lo: Option[Long] = None
    var hi: Option[Long] = None
    def tightenLo(v: Long): Unit = lo = Some(lo.fold(v)(math.max(_, v)))
    def tightenHi(v: Long): Unit = hi = Some(hi.fold(v)(math.min(_, v)))
    conjuncts(cond).foreach {
      case GreaterThanOrEqual(t, l: Literal) if isTime(t) => micros(l).foreach(tightenLo)
      case GreaterThan(t, l: Literal) if isTime(t) => micros(l).foreach(v => tightenLo(v + 1))
      case LessThanOrEqual(t, l: Literal) if isTime(t) => micros(l).foreach(tightenHi)
      case LessThan(t, l: Literal) if isTime(t) => micros(l).foreach(v => tightenHi(v - 1))
      case EqualTo(t, l: Literal) if isTime(t) =>
        micros(l).foreach { v => tightenLo(v); tightenHi(v) }
      case GreaterThanOrEqual(l: Literal, t) if isTime(t) => micros(l).foreach(tightenHi)
      case GreaterThan(l: Literal, t) if isTime(t) => micros(l).foreach(v => tightenHi(v - 1))
      case LessThanOrEqual(l: Literal, t) if isTime(t) => micros(l).foreach(tightenLo)
      case LessThan(l: Literal, t) if isTime(t) => micros(l).foreach(v => tightenLo(v + 1))
      case EqualTo(l: Literal, t) if isTime(t) =>
        micros(l).foreach { v => tightenLo(v); tightenHi(v) }
      case _ => ()
    }
    (lo, hi)
  }

  /** Conservative [lo, hi] bounds a predicate's conjuncts impose on a
    * SECONDARY integral/time stats column, in the manifest-stats long
    * encoding (round 14): the [[timeBounds]] shape generalized to
    * LONG/INT literals (with the analyzer's implicit-cast wrapping
    * folded, as in [[pointKeysUs]]) — what lets `WHERE uid BETWEEN a
    * AND b` prune through per-file [[ColumnBounds]] and the
    * manifest-list roll-ups. Double columns are deliberately excluded:
    * their stored bounds are outward-rounded longs and a fractional
    * literal's rounding direction depends on the comparison — not
    * worth the trap surface for a column type rarely used as a range
    * key. Anything unrecognized widens the range; the exact predicate
    * re-applies above the splice.
    */
  def rangeBounds(cond: Expression, column: String): (Option[Long], Option[Long]) = {
    def isCol(e: Expression): Boolean = e match {
      case a: AttributeReference => a.name == column
      case c: Cast if c.dataType == c.child.dataType => isCol(c.child)
      case _ => false
    }
    def asLit(e: Expression): Option[Literal] = e match {
      case l: Literal => Some(l)
      case c: Cast if c.child.isInstanceOf[Literal] || c.foldable =>
        try Some(Literal.create(c.eval(), c.dataType)) catch { case _: Exception => None }
      case _ => None
    }
    def longOf(e: Expression): Option[Long] = asLit(e).flatMap(l =>
      (l.dataType, l.value) match {
        case (_, null) => None
        case (TimestampType | TimestampNTZType, v) => Some(v.asInstanceOf[Long])
        case (LongType, v) => Some(v.asInstanceOf[Long])
        case (IntegerType, v) => Some(v.asInstanceOf[Int].toLong)
        case _ => None
      })
    def conjuncts(e: Expression): Seq[Expression] = normalize(e) match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    var lo: Option[Long] = None
    var hi: Option[Long] = None
    def tightenLo(v: Long): Unit = lo = Some(lo.fold(v)(math.max(_, v)))
    def tightenHi(v: Long): Unit = hi = Some(hi.fold(v)(math.min(_, v)))
    conjuncts(cond).foreach {
      case GreaterThanOrEqual(t, v) if isCol(t) => longOf(v).foreach(tightenLo)
      case GreaterThan(t, v) if isCol(t) =>
        longOf(v).foreach(x => if (x < Long.MaxValue) tightenLo(x + 1))
      case LessThanOrEqual(t, v) if isCol(t) => longOf(v).foreach(tightenHi)
      case LessThan(t, v) if isCol(t) =>
        longOf(v).foreach(x => if (x > Long.MinValue) tightenHi(x - 1))
      case EqualTo(t, v) if isCol(t) =>
        longOf(v).foreach { x => tightenLo(x); tightenHi(x) }
      case GreaterThanOrEqual(v, t) if isCol(t) => longOf(v).foreach(tightenHi)
      case GreaterThan(v, t) if isCol(t) =>
        longOf(v).foreach(x => if (x > Long.MinValue) tightenHi(x - 1))
      case LessThanOrEqual(v, t) if isCol(t) => longOf(v).foreach(tightenLo)
      case LessThan(v, t) if isCol(t) =>
        longOf(v).foreach(x => if (x < Long.MaxValue) tightenLo(x + 1))
      case EqualTo(v, t) if isCol(t) =>
        longOf(v).foreach { x => tightenLo(x); tightenHi(x) }
      case _ => ()
    }
    (lo, hi)
  }

  /** Conservative DOUBLE range a predicate's conjuncts impose on a
    * double stats column (round 15): the [[rangeBounds]] shape for
    * double literals — `d >= 0.4`, `d BETWEEN 0.4 AND 0.6`, `d = 0.5`
    * — each bound carried as (value, inclusive) since doubles admit no
    * ±1 adjustment. An integer-space range cannot decide sub-integer
    * bounds, which is exactly why [[rangeBounds]] excludes doubles;
    * this probes the EXACT [[ColumnBounds.minD]]/[[ColumnBounds.maxD]]
    * recorded since round 15. NaN literals are dropped — a NaN range
    * conjunct matches nothing, and dropping it only keeps more files.
    */
  def doubleRangeBounds(cond: Expression, column: String)
      : (Option[(Double, Boolean)], Option[(Double, Boolean)]) = {
    def isCol(e: Expression): Boolean = e match {
      case a: AttributeReference => a.name == column
      case c: Cast if c.dataType == c.child.dataType => isCol(c.child)
      case _ => false
    }
    def asLit(e: Expression): Option[Literal] = e match {
      case l: Literal => Some(l)
      case c: Cast if c.child.isInstanceOf[Literal] || c.foldable =>
        try Some(Literal.create(c.eval(), c.dataType)) catch { case _: Exception => None }
      case _ => None
    }
    def dblOf(e: Expression): Option[Double] = asLit(e).flatMap(l =>
      (l.dataType, l.value) match {
        case (_, null) => None
        case (org.apache.spark.sql.types.DoubleType, v) =>
          Some(v.asInstanceOf[Double]).filterNot(_.isNaN)
        case _ => None
      })
    def conjuncts(e: Expression): Seq[Expression] = normalize(e) match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    var lo: Option[(Double, Boolean)] = None
    var hi: Option[(Double, Boolean)] = None
    // tighter lower = larger value; at a tie, exclusive beats inclusive
    def tightenLo(v: Double, incl: Boolean): Unit = lo = Some(lo match {
      case Some((c, ci)) if c > v || (c == v && (!ci || incl)) => (c, ci)
      case _ => (v, incl)
    })
    def tightenHi(v: Double, incl: Boolean): Unit = hi = Some(hi match {
      case Some((c, ci)) if c < v || (c == v && (!ci || incl)) => (c, ci)
      case _ => (v, incl)
    })
    conjuncts(cond).foreach {
      case GreaterThanOrEqual(t, v) if isCol(t) => dblOf(v).foreach(tightenLo(_, true))
      case GreaterThan(t, v) if isCol(t) => dblOf(v).foreach(tightenLo(_, false))
      case LessThanOrEqual(t, v) if isCol(t) => dblOf(v).foreach(tightenHi(_, true))
      case LessThan(t, v) if isCol(t) => dblOf(v).foreach(tightenHi(_, false))
      case EqualTo(t, v) if isCol(t) =>
        dblOf(v).foreach { x => tightenLo(x, true); tightenHi(x, true) }
      case GreaterThanOrEqual(v, t) if isCol(t) => dblOf(v).foreach(tightenHi(_, true))
      case GreaterThan(v, t) if isCol(t) => dblOf(v).foreach(tightenHi(_, false))
      case LessThanOrEqual(v, t) if isCol(t) => dblOf(v).foreach(tightenLo(_, true))
      case LessThan(v, t) if isCol(t) => dblOf(v).foreach(tightenLo(_, false))
      case EqualTo(v, t) if isCol(t) =>
        dblOf(v).foreach { x => tightenLo(x, true); tightenHi(x, true) }
      case _ => ()
    }
    (lo, hi)
  }

  /** Conservative STRING range a predicate's conjuncts impose on a
    * string stats column (round 15, VERDICT r14 #3): the
    * [[rangeBounds]] shape for string literals — `c >= 'a'`,
    * `c BETWEEN 'a' AND 'b'`, `c < 'z'` — each bound carried as
    * (value, inclusive) since strings admit no ±1 adjustment.
    * Comparisons are [[ColumnBounds.cpCompare]] code-point order ≡
    * UTF-8 byte order ≡ Spark's default UTF8_BINARY collation order,
    * the order the stored bounds were taken in. Anything unrecognized
    * widens the range; the exact predicate re-applies above the
    * splice.
    */
  def stringRangeBounds(cond: Expression, column: String)
      : (Option[(String, Boolean)], Option[(String, Boolean)]) = {
    def isCol(e: Expression): Boolean = e match {
      case a: AttributeReference => a.name == column
      case c: Cast if c.dataType == c.child.dataType => isCol(c.child)
      case _ => false
    }
    def asLit(e: Expression): Option[Literal] = e match {
      case l: Literal => Some(l)
      case c: Cast if c.child.isInstanceOf[Literal] || c.foldable =>
        try Some(Literal.create(c.eval(), c.dataType)) catch { case _: Exception => None }
      case _ => None
    }
    def strOf(e: Expression): Option[String] = asLit(e).flatMap(l =>
      (l.dataType, l.value) match {
        case (_, null) => None
        case (org.apache.spark.sql.types.StringType, v) => Some(v.toString)
        case _ => None
      })
    def conjuncts(e: Expression): Seq[Expression] = normalize(e) match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    var lo: Option[(String, Boolean)] = None
    var hi: Option[(String, Boolean)] = None
    def tightenLo(v: String, incl: Boolean): Unit = lo = Some(lo match {
      case None => (v, incl)
      case Some((cur, ci)) =>
        val c = ColumnBounds.cpCompare(v, cur)
        if (c > 0) (v, incl) else if (c < 0) (cur, ci) else (cur, ci && incl)
    })
    def tightenHi(v: String, incl: Boolean): Unit = hi = Some(hi match {
      case None => (v, incl)
      case Some((cur, ci)) =>
        val c = ColumnBounds.cpCompare(v, cur)
        if (c < 0) (v, incl) else if (c > 0) (cur, ci) else (cur, ci && incl)
    })
    conjuncts(cond).foreach {
      case GreaterThanOrEqual(t, v) if isCol(t) => strOf(v).foreach(tightenLo(_, true))
      case GreaterThan(t, v) if isCol(t) => strOf(v).foreach(tightenLo(_, false))
      case LessThanOrEqual(t, v) if isCol(t) => strOf(v).foreach(tightenHi(_, true))
      case LessThan(t, v) if isCol(t) => strOf(v).foreach(tightenHi(_, false))
      case EqualTo(t, v) if isCol(t) =>
        strOf(v).foreach { s => tightenLo(s, true); tightenHi(s, true) }
      case GreaterThanOrEqual(v, t) if isCol(t) => strOf(v).foreach(tightenHi(_, true))
      case GreaterThan(v, t) if isCol(t) => strOf(v).foreach(tightenHi(_, false))
      case LessThanOrEqual(v, t) if isCol(t) => strOf(v).foreach(tightenLo(_, true))
      case LessThan(v, t) if isCol(t) => strOf(v).foreach(tightenLo(_, false))
      case EqualTo(v, t) if isCol(t) =>
        strOf(v).foreach { s => tightenLo(s, true); tightenHi(s, true) }
      case _ => ()
    }
    (lo, hi)
  }

  /** The narrowest LITERAL PREFIX a predicate's conjuncts pin a STRING
    * column to (round 14): `url LIKE 'https://x/%'` (single trailing
    * `%`, no other wildcards or escapes — anything fancier extracts
    * nothing) and the DataFrame API's `startsWith`. The longest prefix
    * wins when several conjuncts constrain the column (they must all
    * hold, and for prefixes "all hold" means the longest one, when
    * consistent — an inconsistent pair just keeps the longest, still
    * conservative since pruning with EITHER valid prefix is sound).
    * Callers prune files whose string bounds cannot contain any value
    * with the prefix; the exact predicate re-applies above the splice.
    */
  def stringPrefix(cond: Expression, column: String): Option[String] = {
    def isCol(e: Expression): Boolean = e match {
      case a: AttributeReference => a.name == column
      case c: Cast if c.dataType == c.child.dataType => isCol(c.child)
      case _ => false
    }
    def conjuncts(e: Expression): Seq[Expression] = normalize(e) match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def prefixOfPattern(p: String): Option[String] =
      if (p.nonEmpty && p.last == '%' &&
        !p.dropRight(1).exists(c => c == '%' || c == '_' || c == '\\'))
        Some(p.dropRight(1))
      else None
    val prefixes = conjuncts(cond).flatMap {
      case org.apache.spark.sql.catalyst.expressions.Like(t, Literal(v, _), escape)
          if isCol(t) && v != null && escape == '\\' =>
        prefixOfPattern(v.toString)
      case org.apache.spark.sql.catalyst.expressions.StartsWith(t, Literal(v, _))
          if isCol(t) && v != null =>
        Some(v.toString)
      case _ => None
    }
    prefixes.filter(_.nonEmpty).maxByOption(_.length)
  }

  /** The NULLNESS a predicate's conjuncts pin `column` to (round 14):
    * Some(true) ⇔ matching rows have `column IS NULL`, Some(false) ⇔
    * `column IS NOT NULL`, None ⇔ neither written. Only the explicit
    * IsNull/IsNotNull conjuncts count — this runs pre-optimizer, so no
    * inferred constraints exist to confuse it. Conservative like every
    * extractor here: pruning keeps any file that may hold a matching
    * row; the exact predicate re-applies above the splice.
    */
  def nullness(cond: Expression, column: String): Option[Boolean] = {
    def isCol(e: Expression): Boolean = e match {
      case a: AttributeReference => a.name == column
      case c: Cast if c.dataType == c.child.dataType => isCol(c.child)
      case _ => false
    }
    def conjuncts(e: Expression): Seq[Expression] = normalize(e) match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    conjuncts(cond).collectFirst {
      case org.apache.spark.sql.catalyst.expressions.IsNull(t) if isCol(t) => true
      case org.apache.spark.sql.catalyst.expressions.IsNotNull(t) if isCol(t) => false
    }
  }

  /** Threshold between point-probe shapes: up to this many keys the
    * driver probes per-file manifest AND parquet-footer blooms
    * (O(files × keys), worth it for the exact footer-level skips); past
    * it [[graft.lake.LakehouseTable.planFiles]] switches to
    * binary-searched bounds plus the DISTRIBUTED manifest-bloom probe,
    * so a pathological IN list never costs a quadratic planning pass
    * but still prunes below the bounds-only candidate set.
    */
  val MaxPointKeys: Int = 1024

  /** The EXACT finite key set a predicate's conjuncts pin the key
    * column to, in the manifest-stats encoding (epoch micros for
    * timestamp keys — NTZ literals already carry zone-less local
    * micros, matching the footer bounds — the raw value for integral
    * keys): `k = lit` and `k IN (lits)` contribute; `AND` intersects
    * (either side alone already bounds the row's key), `OR` unions —
    * but only when EVERY branch pins a finite set, since one unpinned
    * disjunct admits arbitrary keys (`k = a OR k = b` and
    * `k IN (...) OR k IN (...)`, the hand-written dashboard shapes,
    * now point-prune instead of falling back to the [a, b] range —
    * VERDICT r12 #6). None ⇔ the condition pins no finite set (range
    * pruning still applies via [[timeBounds]]). Only fully literal
    * (after constant-folding implicit casts) sets qualify — anything
    * else would under-approximate and skip live files. Strictly
    * tighter than the condition it came from, so callers may prune
    * files to those possibly containing a listed key and let the
    * exact predicate re-filter rows on top.
    */
  def pointKeysUs(cond: Expression, keyCol: String): Option[Seq[Long]] = {
    // the analyzer's IN coercion wraps BOTH sides in casts — including
    // a no-op same-type cast around the key attribute itself; only the
    // trivial (same-type) wrap is safe to see through, a real cast
    // changes the comparison's value space
    def isKey(e: Expression): Boolean = e match {
      case a: AttributeReference => a.name == keyCol
      case c: Cast if c.dataType == c.child.dataType => isKey(c.child)
      case _ => false
    }
    // the analyzer wraps IN-list / equality literals in implicit casts
    // (e.g. INT literal vs BIGINT column); fold them here — this rule
    // runs before the optimizer's constant folding
    def asLit(e: Expression): Option[Literal] = e match {
      case l: Literal => Some(l)
      case c: Cast if c.child.isInstanceOf[Literal] || c.foldable =>
        try Some(Literal.create(c.eval(), c.dataType)) catch { case _: Exception => None }
      case _ => None
    }
    def keyUs(l: Literal): Option[Long] = (l.dataType, l.value) match {
      case (_, null) => None // = NULL / IN (NULL) never matches a row
      case (TimestampType | TimestampNTZType, v) => Some(v.asInstanceOf[Long])
      case (LongType, v) => Some(v.asInstanceOf[Long])
      case (IntegerType, v) => Some(v.asInstanceOf[Int].toLong)
      case _ => None
    }
    def pin(e: Expression): Option[Set[Long]] = e match {
      case And(l, r) => (pin(l), pin(r)) match {
        // a row passing the And passes both sides, so its key lies in
        // the intersection; one pinned side alone already bounds it
        case (Some(a), Some(b)) => Some(a intersect b)
        case (a, b) => a.orElse(b)
      }
      case Or(l, r) =>
        // a row passing the Or passes SOME branch: the union is exact
        // only when every branch pins — one unpinned branch admits any key
        for { a <- pin(l); b <- pin(r) } yield a union b
      case EqualTo(t, v) if isKey(t) => asLit(v).flatMap(keyUs).map(Set(_))
      case EqualTo(v, t) if isKey(t) => asLit(v).flatMap(keyUs).map(Set(_))
      // k <=> lit with a NON-NULL literal is plain equality for pruning
      // (the key column's NULL rows can never match it); <=> NULL pins
      // nothing extractable here — keyUs drops the null literal
      case EqualNullSafe(t, v) if isKey(t) => asLit(v).flatMap(keyUs).map(Set(_))
      case EqualNullSafe(v, t) if isKey(t) => asLit(v).flatMap(keyUs).map(Set(_))
      case In(t, vs) if vs.nonEmpty && isKey(t) =>
        // every IN element must fold to a usable literal, or the set
        // under-approximates; dropping NULL elements is safe (x IN
        // (..., NULL) matches only on the non-null elements)
        val keys = vs.map(v => asLit(v) match {
          case None => None // non-literal element: unusable conjunct
          case Some(l) if l.value == null => Some(None) // dropped, safe
          case Some(l) => keyUs(l).map(Some(_))
        })
        if (keys.forall(_.isDefined)) Some(keys.flatten.flatten.toSet) else None
      case _ => None
    }
    pin(cond).map(_.toSeq.sorted)
  }

  /** [[pointKeysUs]] for a STRING column (round 14, VERDICT r13 #1):
    * the exact finite STRING set the conjuncts pin `keyCol` to — the
    * `WHERE url = '…'` / `WHERE doc_id IN ('a','b')` dashboard shapes.
    * Same conservative algebra: AND intersects, OR unions only when
    * every branch pins, NULL literals drop safely, any non-foldable
    * element kills the set. None ⇔ no finite set pinned.
    */
  def pointKeyStrings(cond: Expression, keyCol: String): Option[Seq[String]] = {
    def isKey(e: Expression): Boolean = e match {
      case a: AttributeReference => a.name == keyCol
      case c: Cast if c.dataType == c.child.dataType => isKey(c.child)
      case _ => false
    }
    def asLit(e: Expression): Option[Literal] = e match {
      case l: Literal => Some(l)
      case c: Cast if c.child.isInstanceOf[Literal] || c.foldable =>
        try Some(Literal.create(c.eval(), c.dataType)) catch { case _: Exception => None }
      case _ => None
    }
    def keyStr(l: Literal): Option[String] = (l.dataType, l.value) match {
      case (_, null) => None // = NULL / IN (NULL) never matches a row
      case (org.apache.spark.sql.types.StringType, v) => Some(v.toString)
      case _ => None
    }
    def pin(e: Expression): Option[Set[String]] = e match {
      case And(l, r) => (pin(l), pin(r)) match {
        case (Some(a), Some(b)) => Some(a intersect b)
        case (a, b) => a.orElse(b)
      }
      case Or(l, r) =>
        for { a <- pin(l); b <- pin(r) } yield a union b
      case EqualTo(t, v) if isKey(t) => asLit(v).flatMap(keyStr).map(Set(_))
      case EqualTo(v, t) if isKey(t) => asLit(v).flatMap(keyStr).map(Set(_))
      case EqualNullSafe(t, v) if isKey(t) => asLit(v).flatMap(keyStr).map(Set(_))
      case EqualNullSafe(v, t) if isKey(t) => asLit(v).flatMap(keyStr).map(Set(_))
      case In(t, vs) if vs.nonEmpty && isKey(t) =>
        val keys = vs.map(v => asLit(v) match {
          case None => None // non-literal element: unusable conjunct
          case Some(l) if l.value == null => Some(None) // dropped, safe
          case Some(l) => keyStr(l).map(Some(_))
        })
        if (keys.forall(_.isDefined)) Some(keys.flatten.flatten.toSet) else None
      case _ => None
    }
    pin(cond).map(_.toSeq.sorted)
  }
}
