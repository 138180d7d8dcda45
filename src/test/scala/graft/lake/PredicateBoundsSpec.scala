package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PredicateBoundsSpec extends SparkSpec {

  private val t0 = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
  private val t1 = java.sql.Timestamp.valueOf("2024-01-20 00:00:00")
  private def us(t: java.sql.Timestamp): Long = t.getTime * 1000L

  private def bounds(c: org.apache.spark.sql.Column) = {
    // resolve against a schema-typed probe frame, same as the COW
    // discovery path (Spark 4 Columns are opaque until analysis)
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("other_ts", TimestampType),
      StructField("sym", StringType)))
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val cond = probe.filter(c).queryExecution.analyzed match {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(e, _) => e
      case other => fail(s"no Filter in $other")
    }
    PredicateBounds.timeBounds(cond, "ts")
  }

  test("conjunctive timestamp comparisons tighten both bounds") {
    val (lo, hi) = bounds(col("ts") >= lit(t0) && col("ts") < lit(t1) && col("sym") === "a")
    assert(lo.contains(us(t0)))
    assert(hi.contains(us(t1) - 1)) // strict < excludes the endpoint
  }

  test("reversed operand order and equality pin the range") {
    assert(bounds(lit(t0) <= col("ts")) == (Some(us(t0)), None))
    assert(bounds(col("ts") === lit(t0)) == (Some(us(t0)), Some(us(t0))))
  }

  test("BETWEEN extracts through the pre-optimizer RuntimeReplaceable wrap") {
    // the analyzer leaves `ts BETWEEN a AND b` as a Between node whose
    // replacement hides the >=/<= under With/common-expression refs —
    // round 14 inlines them; before, the commonest range spelling
    // extracted nothing and fell back to a full scan
    assert(bounds(col("ts").between(lit(t0), lit(t1))) == (Some(us(t0)), Some(us(t1))))
    val composed = bounds(col("ts").between(lit(t0), lit(t1)) && col("sym") === "a")
    assert(composed == (Some(us(t0)), Some(us(t1))))
  }

  test("anything non-extractable widens, never narrows") {
    // disjunction: neither side may tighten
    assert(bounds(col("ts") >= lit(t0) || col("sym") === "a") == (None, None))
    // a string comparison arrives as a cast — ignored
    assert(bounds(col("ts") >= lit("2024-01-10")) == (None, None))
    // an unrelated column never contributes
    assert(bounds(col("other_ts") >= lit(t0)) == (None, None))
  }

  test("delete with a time-bounded predicate stays exact under pruning") {
    import spark.implicits._
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-05 00:00:00"), 1.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-15 00:00:00"), 2.0),
      (3L, java.sql.Timestamp.valueOf("2024-01-25 00:00:00"), 3.0))
      .toDF("id", "ts", "v")
    val t = LakehouseTable.createIfNotExists(
      spark, new org.apache.hadoop.fs.Path(tmpDir("pb"), "t"), df.schema, Some("ts"), "day")
    df.collect().foreach(r => t.append(Seq(
      (r.getLong(0), r.getTimestamp(1), r.getDouble(2))).toDF("id", "ts", "v")))
    t.delete(col("ts") >= lit(t0) && col("ts") < lit(t1)) // only id=2 in range
    assert(t.read().select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
  }

  test("COW delete discovery point-prunes through the key blooms") {
    import spark.implicits._
    // 8 key-disjoint files whose µs ranges fully interleave (file r
    // holds ids ≡ r mod 8): bounds keep all 8 for any in-range point,
    // so a candidate count below 8 is the blooms' doing
    def tsOf(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:00.${3 * i}%06d")
    val data = (0 until 64).map(i => (tsOf(i), i.toLong, i.toDouble))
      .toDF("ts", "id", "v")
    val t = LakehouseTable.createIfNotExists(
      spark, new org.apache.hadoop.fs.Path(tmpDir("cowp"), "t"), data.schema, Some("ts"))
    t.setProperty("write.key-bloom.bits", "4096")
    (0 until 8).foreach(r => t.append(data.filter(col("id") % 8 === r).coalesce(1)))
    assert(t.currentDataFiles.size == 8)
    // the DISCOVERY candidate set for `DELETE WHERE ts IN (ids 3, 11)`
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], data.schema)
    val cond = probe.filter(col("ts").isin(tsOf(3), tsOf(11)))
      .queryExecution.analyzed match {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(e, _) => e
      case other => fail(s"no Filter in $other")
    }
    val snap = t.metadata.currentSnapshot.get
    val refsWithFiles = t.log.readManifestList(snap)
      .map(r => r -> t.log.readManifest(r.path))
    val cands = t.discoveryCandidates(t.metadata, refsWithFiles, cond)
      .getOrElse(fail("point predicate must constrain the discovery"))
    assert(cands.size < 8 && cands.size >= 1,
      s"expected bloom-pruned discovery below the 8 bounds-kept files, got ${cands.size}")
    // update shares the same discovery: a point UPDATE stays exact too
    t.update(col("ts").isin(tsOf(5), tsOf(13)), Map("v" -> lit(-1.0)))
    assert(t.read().filter(col("v") === -1.0).select("id").as[Long]
      .collect().sorted.toSeq == Seq(5L, 13L))
    // and the delete itself stays exact through the pruned discovery
    t.delete(col("ts").isin(tsOf(3), tsOf(11)))
    assert(t.read().select("id").as[Long].collect().sorted.toSeq
      == (0L until 64L).filterNot(Set(3L, 11L)).toSeq)
  }

  // ---- pointKeysUs (round 12, SQL point-key skipping) ----------------------

  private def points(c: org.apache.spark.sql.Column, keyCol: String = "ts") = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("id", LongType),
      StructField("sym", StringType)))
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val cond = probe.filter(c).queryExecution.analyzed match {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(e, _) => e
      case other => fail(s"no Filter in $other")
    }
    PredicateBounds.pointKeysUs(cond, keyCol)
  }

  test("equality and IN-list conjuncts pin finite key sets") {
    assert(points(col("ts") === lit(t0)) == Some(Seq(us(t0))))
    assert(points(lit(t0) === col("ts")) == Some(Seq(us(t0))))
    assert(points(col("ts").isin(t0, t1)) == Some(Seq(us(t0), us(t1)).sorted))
    // extra conjuncts on other columns don't disturb the set
    assert(points(col("ts").isin(t0, t1) && col("sym") === "a")
      == Some(Seq(us(t0), us(t1)).sorted))
    // several point conjuncts intersect
    assert(points(col("ts").isin(t0, t1) && col("ts") === lit(t1)) == Some(Seq(us(t1))))
    assert(points(col("ts") === lit(t0) && col("ts") === lit(t1)) == Some(Seq.empty))
  }

  test("integral keys extract raw values; analyzer casts fold") {
    // id BIGINT compared against INT literals: the analyzer wraps the
    // literals in casts — they must still fold to usable keys
    assert(points(col("id").isin(5, 9), keyCol = "id") == Some(Seq(5L, 9L)))
    assert(points(col("id") === 7, keyCol = "id") == Some(Seq(7L)))
  }

  test("OR branches union their point sets when every branch pins the key") {
    // k = a OR k = b — the hand-written dashboard shape (VERDICT r12 #6)
    assert(points(col("ts") === lit(t0) || col("ts") === lit(t1))
      == Some(Seq(us(t0), us(t1)).sorted))
    // IN-list branches union too
    assert(points(col("ts").isin(t0) || col("ts").isin(t1))
      == Some(Seq(us(t0), us(t1)).sorted))
    // a branch with extra conjuncts still pins (And keeps the tighter side)
    assert(points((col("ts") === lit(t0) && col("sym") === "a") || col("ts") === lit(t1))
      == Some(Seq(us(t0), us(t1)).sorted))
    // an OR under a conjunction intersects with its sibling
    assert(points((col("ts") === lit(t0) || col("ts") === lit(t1)) && col("ts") === lit(t1))
      == Some(Seq(us(t1))))
    // one unpinned branch admits arbitrary keys — no extraction
    assert(points(col("ts") === lit(t0) || col("ts") >= lit(t1)).isEmpty)
  }

  test("null-safe equality pins like equality; <=> NULL stays unextracted") {
    assert(points(col("ts") <=> lit(t0)) == Some(Seq(us(t0))))
    assert(points(col("ts") <=> lit(t0) || col("ts") === lit(t1))
      == Some(Seq(us(t0), us(t1)).sorted))
    // ts <=> NULL matches the NULL rows — a finite key set would
    // wrongly prune the files holding them; must not extract
    assert(points(col("ts") <=> lit(null).cast("timestamp")).isEmpty)
  }

  // ---- stringRangeBounds (round 15, VERDICT r14 #3) ------------------------

  private def strRange(c: org.apache.spark.sql.Column, column: String = "sym") = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("id", LongType),
      StructField("sym", StringType)))
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val cond = probe.filter(c).queryExecution.analyzed match {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(e, _) => e
      case other => fail(s"no Filter in $other")
    }
    PredicateBounds.stringRangeBounds(cond, column)
  }

  test("string comparisons extract bounds with inclusiveness") {
    assert(strRange(col("sym") >= lit("a")) == (Some(("a", true)), None))
    assert(strRange(col("sym") > lit("a")) == (Some(("a", false)), None))
    assert(strRange(col("sym") <= lit("z")) == (None, Some(("z", true))))
    assert(strRange(col("sym") < lit("z")) == (None, Some(("z", false))))
    // BETWEEN through the RuntimeReplaceable/With scaffolding
    assert(strRange(col("sym").between(lit("a"), lit("m")))
      == (Some(("a", true)), Some(("m", true))))
    // equality pins both sides
    assert(strRange(col("sym") === lit("k"))
      == (Some(("k", true)), Some(("k", true))))
    // mirrored literal sides flip the comparison
    assert(strRange(lit("a") <= col("sym")) == (Some(("a", true)), None))
    assert(strRange(lit("z") > col("sym")) == (None, Some(("z", false))))
  }

  test("string bound conjuncts tighten; non-extractable shapes widen") {
    // tighter value wins; equal values prefer the exclusive bound
    assert(strRange(col("sym") >= lit("a") && col("sym") >= lit("b"))
      == (Some(("b", true)), None))
    assert(strRange(col("sym") >= lit("a") && col("sym") > lit("a"))
      == (Some(("a", false)), None))
    assert(strRange(col("sym") <= lit("z") && col("sym") < lit("m"))
      == (None, Some(("m", false))))
    // disjunctions, other columns, NULL literals never narrow
    assert(strRange(col("sym") >= lit("a") || col("sym") <= lit("z")) == (None, None))
    assert(strRange(col("ts") >= lit(t0)) == (None, None))
    assert(strRange(col("sym") >= lit(null).cast("string")) == (None, None))
    // comparison order is code-point order, not UTF-16: the
    // supplementary-plane literal must rank ABOVE U+FFFD when tightening
    val emoji = new String(Character.toChars(0x1F600))
    assert(strRange(col("sym") >= lit("a�") && col("sym") >= lit("a" + emoji))
      == (Some(("a" + emoji, true)), None))
  }

  test("anything non-finite yields None; NULL elements drop safely") {
    // a range is not a point set
    assert(points(col("ts") >= lit(t0)).isEmpty)
    // a disjunct on another column never pins this key
    assert(points(col("ts") === lit(t0) || col("sym") === "a").isEmpty)
    // another column's equality is not this key's
    assert(points(col("sym") === "a").isEmpty)
    // IN with a NULL element: the null can never match — dropped
    assert(points(col("ts").isin(t0, null)) == Some(Seq(us(t0))))
    // = NULL matches nothing and pins nothing
    assert(points(col("ts") === lit(null).cast("timestamp")).isEmpty)
  }
}
