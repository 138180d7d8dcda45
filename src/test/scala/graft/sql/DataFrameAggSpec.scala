package graft.sql

import graft.SparkSpec
import graft.lake.LakehouseTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** DataFrame-API metadata aggregates (round 16, VERDICT r15 #3): the
  * bare `spark.table(t)` relation stays unexpanded at analysis, so
  * `df.count()`, `df.agg(min/max)`, `df.groupBy(sym).count()` and
  * `df.select(sym).distinct()` reach the SAME manifest-roll-up
  * rewrites their SQL spellings use — and the DSv2
  * `SupportsPushDownAggregates` ScanBuilder serves the identical
  * answers to catalog users without the extension rule. Every bail leg
  * must still be CORRECT (live merge-on-read masks fall back to the
  * native scan), and a bare Dataset executed as-is reads through the
  * V1 fallback, never a raw file scan.
  */
class DataFrameAggSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  /** Whether `df` answers from a grouped pushed metadata scan: its
    * columns are the grouping columns, then the aggregates.
    */
  private def groupPushed(df: DataFrame): Boolean = df.queryExecution.optimizedPlan.exists {
    case DataSourceV2ScanRelation(_, s: GraftMetadataAggScan, _, _, _) =>
      s.readSchema().fieldNames.exists(_.startsWith("_pushed_group_"))
    case _ => false
  }

  private def freshCatalog(): (String, String) = {
    n += 1
    val cat = s"gdfa$n"
    val wh = tmpDir("gdfa-wh")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gold")
    (cat, wh)
  }

  private def ts(i: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:00:${i / 60}%02d.${(i % 60) * 1000}%06d")

  /** (sym identity, ts day) table: 60 rows over 2 symbols × 4 commits. */
  private def mkTable(cat: String, wh: String, name: String): LakehouseTable = {
    val data = (0 until 60)
      .map(i => (if (i % 2 == 0) "A" else "B", ts(i), 100L + i))
      .toDF("sym", "ts", "uid")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, s"gold/$name"), data.schema,
      Seq("sym" -> "identity", "ts" -> "day"))
    t.setProperty("write.stats-columns", "uid")
    (0 until 4).foreach(r => t.append(data.filter(col("uid") % 4 === r)))
    t
  }

  test("spark.table(t).count() and agg(min/max) answer from metadata — zero files") {
    val (cat, wh) = freshCatalog()
    mkTable(cat, wh, "t1")
    val df = spark.table(s"$cat.gold.t1")
    assert(df.count() == 60L)
    // the plan behind count(): an Aggregate built directly over the
    // still-bare relation — the rewrite must leave no file scan
    val q = df.groupBy().agg(
      count(lit(1)).as("n"), min("ts").as("mn"),
      max("uid").as("mx"), count("uid").as("nu"))
    assert(plannedFiles(q) == 0, "DataFrame aggregate must not plan a scan")
    val r = q.head()
    assert(r.getLong(0) == 60L && r.getTimestamp(1) == ts(0) &&
      r.getLong(2) == 159L && r.getLong(3) == 60L)
  }

  test("df.groupBy(identity).count() is metadata-only; select().distinct() stays a scan, exact") {
    val (cat, wh) = freshCatalog()
    mkTable(cat, wh, "t2")
    val df = spark.table(s"$cat.gold.t2")
    val g = df.groupBy("sym").count().orderBy("sym")
    assert(plannedFiles(g) == 0, "grouped count over identity dims must not scan")
    assert(g.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      == Seq(("A", 30L), ("B", 30L)))
    // an INTERPOSED transformation expands at its own pass (documented
    // at the root guard) — the later distinct pays the scan but must
    // stay exact; only SQL one-pass plans compose projections into the
    // rewrite
    val d = df.select("sym").distinct()
    assert(d.collect().map(_.getString(0)).sorted.toSeq == Seq("A", "B"))
  }

  test("a live merge-on-read mask bails the DataFrame path to the scan — correctly") {
    val (cat, wh) = freshCatalog()
    val t = mkTable(cat, wh, "t3")
    t.morDeleteKeys(Seq(ts(7)).toDF("ts"), "ts")
    val df = spark.table(s"$cat.gold.t3")
    val q = df.groupBy().count()
    assert(plannedFiles(q) > 0, "a mask can remove any row — nothing is provable")
    assert(q.head().getLong(0) == 59L)
    assert(df.count() == 59L)
  }

  test("a bare Dataset executed as-is reads the native plan (V1 fallback), masks applied") {
    val (cat, wh) = freshCatalog()
    val t = mkTable(cat, wh, "t4")
    t.morDeleteKeys(Seq(ts(7)).toDF("ts"), "ts")
    val rows = spark.table(s"$cat.gold.t4").collect()
    assert(rows.length == 59, "the V1 fallback must apply merge-on-read masks")
    assert(!rows.exists(_.getTimestamp(1) == ts(7)))
    // pruned projection through the fallback
    val syms = spark.table(s"$cat.gold.t4").select("sym")
    assert(syms.collect().length == 59)
  }

  test("DSv2 GROUPED pushdown (no extension rule): groupBy(identity) plans zero data files") {
    // round 17, VERDICT r16 #3 — the expansion escape hatch leaves the
    // relation a DSv2 relation end to end, so Spark's OWN optimizer
    // (V2ScanRelationPushDown) drives the grouped complete pushdown:
    // this validates the scan's row layout contract (group cols first,
    // then aggregates), which a builder-level unit test cannot
    val (cat, wh) = freshCatalog()
    mkTable(cat, wh, "t6")
    withSqlConf("spark.graft.sql.expansion-enabled" -> "false") {
      val g = spark.table(s"$cat.gold.t6").groupBy("sym")
        .agg(count(lit(1)).as("n"), min("ts").as("mn_ts"),
          max("uid").as("mx"), min("sym").as("mn_sym"))
        .orderBy("sym")
      val plan = g.queryExecution.executedPlan
      // the optimizer pushes the grouped aggregate into the metadata scan
      assert(groupPushed(g),
        s"grouped aggregate must plan the pushed LocalScan:\n$plan")
      assert(plannedFiles(g) == 0)
      assert(g.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getTimestamp(2), r.getLong(3), r.getString(4)))
        .toSeq == Seq(("A", 30L, ts(0), 158L, "A"), ("B", 30L, ts(1), 159L, "B")))
    }
  }

  test("DSv2 grouped pushdown end-to-end: values match the scan, mask bails to V1") {
    val (cat, wh) = freshCatalog()
    // declare sums BEFORE any append so every file records them
    val data = (0 until 60)
      .map(i => (if (i % 2 == 0) "A" else "B", ts(i), 100L + i))
      .toDF("sym", "ts", "uid")
    val t = graft.lake.LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/t7"), data.schema,
      Seq("sym" -> "identity", "ts" -> "day"))
    t.setProperty("write.stats-columns", "uid")
    t.setProperty("write.sum-columns", "uid")
    (0 until 4).foreach(r => t.append(data.filter(col("uid") % 4 === r)))
    def grouped() = spark.table(s"$cat.gold.t7").groupBy("sym")
      .agg(count(lit(1)).as("n"), count("uid").as("nu"),
        min("ts").as("mn_ts"), max("uid").as("mx"),
        sum("uid").as("s"), avg("uid").as("a"), min("sym").as("mn_sym"))
      .orderBy("sym")
    val expected = grouped().collect().map(_.toSeq).toSeq // via the extension rule
    withSqlConf("spark.graft.sql.expansion-enabled" -> "false") {
      val g = grouped()
      assert(groupPushed(g),
        s"expected the grouped pushed LocalScan:\n${g.queryExecution.executedPlan}")
      assert(plannedFiles(g) == 0)
      assert(g.collect().map(_.toSeq).toSeq == expected)
      // a live merge-on-read mask refuses the pushdown; the V1
      // fallback still answers correctly
      t.morDeleteKeys(Seq(ts(8)).toDF("ts"), "ts")
      val masked = grouped()
      assert(!groupPushed(masked),
        "a live mask must refuse the grouped metadata answer")
      assert(masked.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        == Seq(("A", 29L), ("B", 30L)))
    }
  }

  test("DSv2 grouped pushdown bails: non-identity group col, sentinel dir, missing sums") {
    import org.apache.spark.sql.connector.expressions.{Expressions => E}
    import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Sum => CSum}
    val (cat, wh) = freshCatalog()
    val t = mkTable(cat, wh, "t8")
    // a fresh relation per push, as the catalog loads one per query: a
    // relation answers from the metadata version it first read
    def push(a: Aggregation): Boolean =
      new GraftScanBuilder(GraftSqlTable(t, pinnedSnapshot = None)).supportCompletePushDown(a)
    // uid is NOT an identity partition column — grouping on it bails
    assert(!push(new Aggregation(Array(new CountStar()), Array(E.column("uid")))))
    // grouping on the identity col IS provable
    assert(push(new Aggregation(Array(new CountStar()), Array(E.column("sym")))))
    // sum without recorded per-file sums bails (mkTable declares no
    // sum columns)
    assert(!push(new Aggregation(
      Array(new CSum(E.column("uid"), false)), Array(E.column("sym")))))
    // count(DISTINCT identity) serves through the DSv2 surface too
    // (round 18, VERDICT r17 #4); a non-identity column refuses
    import org.apache.spark.sql.connector.expressions.aggregate.{Count => CCount}
    assert(push(new Aggregation(
      Array(new CCount(E.column("sym"), true)),
      Array.empty[org.apache.spark.sql.connector.expressions.Expression])))
    assert(!push(new Aggregation(
      Array(new CCount(E.column("uid"), true)),
      Array.empty[org.apache.spark.sql.connector.expressions.Expression])))
    // a NULL group value lands in the sentinel dir → whole rewrite bails
    t.append(Seq(((null: String), ts(120), 999L)).toDF("sym", "ts", "uid"))
    assert(!push(new Aggregation(Array(new CountStar()), Array(E.column("sym")))),
      "the sentinel dir cannot round-trip the group value")
    // ...and the STRING sentinel dir bails the distinct count too
    assert(!push(new Aggregation(
      Array(new CCount(E.column("sym"), true)),
      Array.empty[org.apache.spark.sql.connector.expressions.Expression])))
  }

  test("DSv2 grouped pushdown over time-derived dims: year/month/day/date plan zero files") {
    // round 18, VERDICT r17 #3: the connector delivers groupBy(year($"ts"))
    // as Extract("YEAR", ts) — translated to the same partition-dir
    // decode the SQL rule uses, via the shared MetadataGroupFacts
    val (cat, wh) = freshCatalog()
    val days = Seq("2024-01-01", "2024-01-02", "2024-02-03", "2025-03-05")
    val data = (0 until 40)
      .map(i => (if (i % 2 == 0) "A" else "B",
        Timestamp.valueOf(f"${days(i % 4)} 12:00:${i / 4}%02d"), 100L + i))
      .toDF("sym", "ts", "uid")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/t9"), data.schema,
      Seq("sym" -> "identity", "ts" -> "day"))
    t.setProperty("write.stats-columns", "uid")
    (0 until 2).foreach(r => t.append(data.filter(col("uid") % 2 === r)))
    // ground truth from the native read (no pushdown involved)
    def truth(dim: org.apache.spark.sql.Column) = t.read()
      .groupBy(dim.as("g")).agg(count(lit(1)).as("n"), count($"ts").as("nts"),
        min($"uid").as("mn")).orderBy("g").collect().map(_.toSeq).toSeq
    withSqlConf("spark.graft.sql.expansion-enabled" -> "false") {
      def pushed(dim: org.apache.spark.sql.Column) = spark.table(s"$cat.gold.t9")
        .groupBy(dim.as("g")).agg(count(lit(1)).as("n"), count($"ts").as("nts"),
          min($"uid").as("mn")).orderBy("g")
      for (dim <- Seq(year($"ts"), month($"ts"), dayofmonth($"ts"),
        $"ts".cast("date"))) {
        val g = pushed(dim)
        assert(groupPushed(g),
          s"time-derived group must push:\n${g.queryExecution.executedPlan}")
        assert(plannedFiles(g) == 0, s"zero files for $dim")
        assert(g.collect().map(_.toSeq).toSeq == truth(dim))
      }
      // composite: identity + derived dim together
      val both = spark.table(s"$cat.gold.t9").groupBy($"sym", year($"ts").as("y"))
        .agg(count(lit(1)).as("n")).orderBy("sym", "y")
      assert(groupPushed(both))
      assert(plannedFiles(both) == 0)
      assert(both.collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
        == t.read().groupBy($"sym", year($"ts").as("y")).agg(count(lit(1)).as("n"))
          .orderBy("sym", "y").collect()
          .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq)
      // a non-UTC session refuses the zoned-timestamp derivation (the
      // dirs were written UTC) — the scan still answers, correctly
      withSqlConf("spark.sql.session.timeZone" -> "America/New_York") {
        val g = pushed(year($"ts"))
        assert(!groupPushed(g),
          "non-UTC session must refuse the time-dim pushdown")
        assert(g.collect().map(_.toSeq).toSeq == truth(year($"ts")))
      }
    }
  }

  test("DSv2 time-dim pushdown bails on too-coarse dirs (unit: hour over day partitions)") {
    import org.apache.spark.sql.connector.expressions.{Expressions => E, Extract}
    import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
    val (cat, wh) = freshCatalog()
    val t = mkTable(cat, wh, "t10")
    val sqlTable = GraftSqlTable(t, pinnedSnapshot = None)
    def push(a: Aggregation): Boolean =
      new GraftScanBuilder(sqlTable).supportCompletePushDown(a)
    // day dirs serve year/month/day...
    assert(push(new Aggregation(Array(new CountStar()),
      Array[org.apache.spark.sql.connector.expressions.Expression](
        new Extract("YEAR", E.column("ts"))))))
    // ...but NOT hour (finer than the recorded granularity)
    assert(!push(new Aggregation(Array(new CountStar()),
      Array[org.apache.spark.sql.connector.expressions.Expression](
        new Extract("HOUR", E.column("ts"))))),
      "hour(ts) cannot be derived from day dirs")
    // unsupported extraction fields refuse outright
    assert(!push(new Aggregation(Array(new CountStar()),
      Array[org.apache.spark.sql.connector.expressions.Expression](
        new Extract("DAY_OF_WEEK", E.column("ts"))))))
  }

  test("DSv2 filter pushdown prunes the fallback through the native ladder") {
    // round 17: a no-extension catalog user's filtered read — the
    // builder translates source filters back to Catalyst and the V1
    // fallback plans through GraftNativeRead's manifest-pruning ladder
    val (cat, wh) = freshCatalog()
    val t = mkTable(cat, wh, "t9") // 8 files: 2 sym dirs × 4 commits
    val g = GraftSqlTable(t, pinnedSnapshot = None)
    val total = t.currentDataFiles.size
    // unit: translation + pruning — the inner native frame plans only
    // the restriction's files
    val expr = SourceFilterCatalyst.toCatalyst(
      org.apache.spark.sql.sources.EqualTo("sym", "A"), g.schema).get
    val pruned = GraftNativeRead.nativeDF(g, Some(expr))
    assert(plannedFiles(pruned) == total / 2,
      s"identity restriction must halve the ${total}-file plan")
    // untranslatable shapes weaken soundly: the sym arm of an AND
    // survives alone; an OR with an untranslatable arm drops entirely
    import org.apache.spark.sql.{sources => sf}
    val partial = SourceFilterCatalyst.toCatalyst(
      sf.And(sf.EqualTo("nope", 1), sf.EqualTo("sym", "A")), g.schema)
    assert(partial.exists(_.references.map(_.name).toSeq == Seq("sym")))
    assert(SourceFilterCatalyst.toCatalyst(
      sf.Or(sf.EqualTo("nope", 1), sf.EqualTo("sym", "A")), g.schema).isEmpty,
      "dropping one OR arm would strengthen the predicate — must refuse")
    // end to end through Spark's own pushdown, no extension expansion:
    // exact values, and the plan carries the pushed filter
    withSqlConf("spark.graft.sql.expansion-enabled" -> "false") {
      val q = spark.table(s"$cat.gold.t9").filter(col("sym") === "A")
      assert(q.queryExecution.executedPlan.toString.contains("PushedFilters"),
        q.queryExecution.executedPlan.toString)
      val rows = q.collect()
      assert(rows.length == 30 && rows.forall(_.getString(0) == "A"))
      // masks still apply inside the pruned fallback
      t.morDeleteKeys(Seq(ts(2)).toDF("ts"), "ts") // uid 102, sym A
      val masked = spark.table(s"$cat.gold.t9").filter(col("sym") === "A")
      assert(masked.collect().length == 29,
        "the filtered fallback must stay merge-on-read-aware")
    }
  }

  test("DSv2 SupportsPushDownAggregates serves/refuses from the same gates (unit)") {
    import org.apache.spark.sql.connector.expressions.{Expressions => E}
    import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
    val (cat, wh) = freshCatalog()
    val t = mkTable(cat, wh, "t5")
    // a fresh relation per builder, as the catalog loads one per query:
    // a relation answers from the metadata version it first read
    def builder() = new GraftScanBuilder(GraftSqlTable(t, pinnedSnapshot = None))
    // provable: count(*), count(uid), min(ts), max(uid)
    val ok = new Aggregation(Array(
      new CountStar(),
      new Count(E.column("uid"), false),
      new Min(E.column("ts")),
      new Max(E.column("uid"))), Array.empty)
    val b1 = builder()
    assert(b1.supportCompletePushDown(ok), "provable shapes must push complete")
    assert(b1.pushAggregation(ok))
    b1.build() match {
      case s: GraftMetadataAggScan =>
        val row = s.rows()(0)
        assert(row.getLong(0) == 60L, "count(*)")
        assert(row.getLong(1) == 60L, "count(uid)")
        assert(row.getLong(2) == ts(0).getTime * 1000L, "min(ts) micros")
        assert(row.getLong(3) == 159L, "max(uid)")
      case other => fail(s"expected the LocalScan, got $other")
    }
    // refused: min of a STRING column (truncated manifest bounds)
    val bad = new Aggregation(Array(new Min(E.column("sym"))), Array.empty)
    val b2 = builder()
    assert(!b2.supportCompletePushDown(bad))
    assert(!b2.pushAggregation(bad))
    assert(b2.build().isInstanceOf[GraftV1FallbackScan],
      "refused pushdown must fall back to the native-plan scan")
    // refused under a live mask: the same provable shape bails
    t.morDeleteKeys(Seq(ts(3)).toDF("ts"), "ts")
    val b3 = builder()
    assert(!b3.supportCompletePushDown(ok),
      "a live merge-on-read mask must refuse every metadata answer")
  }
}
