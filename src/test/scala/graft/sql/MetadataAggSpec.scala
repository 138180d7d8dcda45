package graft.sql

import graft.SparkSpec
import graft.lake.LakehouseTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Metadata-only aggregate pushdown (round 15 — Iceberg's
  * metadata-count analog): an unfiltered `count(*) / count(col) /
  * min / max` over a graft SQL relation is answered from the manifest
  * roll-ups alone whenever that is PROVABLY exact, and falls back to
  * the normal scan expansion in every case where it is not — live
  * merge-on-read masks, string/double columns (truncated / widened
  * bounds), renamed columns, FILTER clauses, count(DISTINCT). The
  * fallback legs assert correctness too: the rewrite may only ever
  * remove a scan, never change an answer.
  */
class MetadataAggSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  private def freshCatalog(): (String, String) = {
    n += 1
    val cat = s"gagg$n"
    val wh = tmpDir("gagg-wh")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gold")
    (cat, wh)
  }

  private def ts(i: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:00:${i / 60}%02d.${(i % 60) * 1000}%06d")

  /** 60 rows over 4 files; uid = 100+i, s = "u%03d", opt null for odd i,
    * d = i/10.0 — one table exercising every answerable and every
    * refused column type.
    */
  private def mkTable(cat: String, wh: String, name: String): LakehouseTable = {
    val data = (0 until 60)
      .map(i => (ts(i), 100L + i, f"u$i%03d",
        if (i % 2 == 1) None else Some(100L + i), i / 10.0))
      .toDF("ts", "uid", "s", "opt", "d")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, s"gold/$name"), data.schema, Some("ts"))
    t.setProperty("write.stats-columns", "uid,s,opt,d")
    (0 until 4).foreach(r => t.append(data.filter(col("uid") % 4 === r)))
    t
  }

  test("count/min/max over the key and long stats columns are metadata-only") {
    val (cat, wh) = freshCatalog()
    mkTable(cat, wh, "t1")
    val q = spark.sql(
      s"""SELECT count(*) AS n, count(opt) AS n_opt,
         |       min(ts) AS min_ts, max(ts) AS max_ts,
         |       min(uid) AS min_uid, max(uid) AS max_uid
         |FROM $cat.gold.t1""".stripMargin)
    assert(plannedFiles(q) == 0, "whole-table aggregate must not plan a scan")
    val r = q.head()
    assert(r.getLong(0) == 60L)
    assert(r.getLong(1) == 30L)
    assert(r.getTimestamp(2) == ts(0))
    assert(r.getTimestamp(3) == ts(59))
    assert(r.getLong(4) == 100L)
    assert(r.getLong(5) == 159L)
  }

  test("composed expressions over provable aggregates still push down") {
    val (cat, wh) = freshCatalog()
    mkTable(cat, wh, "t2")
    val q = spark.sql(
      s"""SELECT count(*) + 1 AS n1, unix_micros(max(ts)) AS mx,
         |       CAST(min(uid) AS INT) AS mn
         |FROM $cat.gold.t2""".stripMargin)
    assert(plannedFiles(q) == 0)
    val r = q.head()
    assert(r.getLong(0) == 61L)
    assert(r.getLong(1) == ts(59).getTime * 1000L)
    assert(r.getInt(2) == 100)
  }

  test("SHORT string extremes are metadata-only; double extremes serve the exact pair") {
    val (cat, wh) = freshCatalog()
    mkTable(cat, wh, "t3")
    // 4-code-point values fit the truncate(16) cap, so the native
    // write marked them EXACT (round 16, VERDICT r15 #5) — extremes
    // answer from the roll-ups
    val qs = spark.sql(s"SELECT min(s) AS mn, max(s) AS mx FROM $cat.gold.t3")
    assert(plannedFiles(qs) == 0, "exactness-marked short strings answer from metadata")
    assert(qs.head().getString(0) == "u000" && qs.head().getString(1) == "u059")
    // doubles carry EXACT minD/maxD since round 15 — the widened longs
    // are never served, the exact pair is
    val qd = spark.sql(s"SELECT min(d) AS mn, max(d) AS mx FROM $cat.gold.t3")
    assert(plannedFiles(qd) == 0, "exact double bounds answer extremes from metadata")
    assert(qd.head().getDouble(0) == 0.0 && qd.head().getDouble(1) == 5.9)
  }

  test("strings past the truncate(16) cap refuse metadata extremes — the bound is a prefix") {
    val (cat, wh) = freshCatalog()
    val data = (0 until 60)
      .map(i => (ts(i), f"long-prefix-padding-u$i%03d"))
      .toDF("ts", "s")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/tlong"), data.schema, Some("ts"))
    t.setProperty("write.stats-columns", "s")
    (0 until 4).foreach(r => t.append(
      data.filter(pmod(hash(col("s")), lit(4)) === r).coalesce(1)))
    val q = spark.sql(s"SELECT min(s) AS mn, max(s) AS mx FROM $cat.gold.tlong")
    assert(plannedFiles(q) > 0, "truncated bounds must never be served as extremes")
    assert(q.head().getString(0) == "long-prefix-padding-u000")
    assert(q.head().getString(1) == "long-prefix-padding-u059")
    val info = t.metadataAggInfo().get
    assert(info.colMinS.isEmpty && info.colMaxS.isEmpty,
      "no exactness marker may exist for over-cap strings")
  }

  test("IMPORTED string bounds never claim exactness — a foreign short max may be a bumped truncation") {
    import graft.lake.LakehouseTable
    val (cat, wh) = freshCatalog()
    val data = (0 until 20).map(i => (ts(i), f"u$i%03d")).toDF("ts", "s")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/timp"), data.schema, Some("ts"), "day")
    t.setProperty("write.stats-columns", "s")
    val staged = tmpDir("gagg-imp-staged")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    data.withColumn("ts_day", lit(20240101))
      .coalesce(1).write.mode("overwrite").partitionBy("ts_day").parquet(staged)
    t.addFiles(new org.apache.hadoop.fs.Path(staged))
    val info = t.metadataAggInfo().get
    assert(info.rows == 20L)
    assert(info.colMinS.isEmpty && info.colMaxS.isEmpty,
      "imports must not claim string exactness")
    val q = spark.sql(s"SELECT min(s) AS mn, max(s) AS mx FROM $cat.gold.timp")
    assert(plannedFiles(q) > 0, "imported bounds bail to the scan")
    assert(q.head().getString(0) == "u000" && q.head().getString(1) == "u019")
  }

  test("a session that truncates chunk statistics writes no exactness claims") {
    val (cat, wh) = freshCatalog()
    val data = (0 until 20).map(i => (ts(i), f"u$i%03d")).toDF("ts", "s")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/ttrunc"), data.schema, Some("ts"))
    t.setProperty("write.stats-columns", "s")
    // the bare hadoop key: session confs flow verbatim into
    // newHadoopConf, which is what BOTH the parquet writer and the
    // footer pass's exactness gate read
    withSqlConf("parquet.statistics.truncate.length" -> "8") {
      t.append(data.coalesce(1))
    }
    val info = t.metadataAggInfo().get
    assert(info.colMinS.isEmpty && info.colMaxS.isEmpty,
      "a truncating writer config forfeits exactness claims")
    val q = spark.sql(s"SELECT min(s) AS mn, max(s) AS mx FROM $cat.gold.ttrunc")
    assert(plannedFiles(q) > 0)
    assert(q.head().getString(0) == "u000" && q.head().getString(1) == "u019")
  }

  test("double range predicates prune files through the exact bounds") {
    val (cat, wh) = freshCatalog()
    // d banded per file: file r holds d in [10r, 10r+5.9]
    val data = (0 until 60).map(i => (ts(i), (i % 4) * 10.0 + (i / 4) * 0.4))
      .toDF("ts", "d")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/t12"), data.schema, Some("ts"))
    t.setProperty("write.stats-columns", "d")
    (0 until 4).foreach(r =>
      t.append(data.filter((col("d") / 10.0).cast("int") === r).coalesce(1)))
    val q = spark.sql(
      s"SELECT count(*) AS n FROM $cat.gold.t12 WHERE d BETWEEN 10.3 AND 15.7")
    assert(plannedFiles(q) == 1, "only the d∈[10, 15.6] band's file may scan")
    assert(q.head().getLong(0) ==
      (0 until 60).count(i => {
        val d = (i % 4) * 10.0 + (i / 4) * 0.4; d >= 10.3 && d <= 15.7
      }))
    // sub-integer band between two files' ranges: bounds prove empty
    val q0 = spark.sql(
      s"SELECT count(*) AS n FROM $cat.gold.t12 WHERE d > 5.95 AND d < 9.9")
    assert(plannedFiles(q0) == 0, "a between-band double range prunes everything")
    assert(q0.head().getLong(0) == 0L)
    // composed with key points: ts(5) lives in band 1, ts(6) in band 2
    // (footer blooms prune the points to exactly those two files) —
    // the double dim must intersect the survivors down to band 1 alone
    val qP = spark.sql(
      s"""SELECT count(*) AS n FROM $cat.gold.t12
         |WHERE ts IN (TIMESTAMP '${ts(5)}', TIMESTAMP '${ts(6)}')""".stripMargin)
    assert(plannedFiles(qP) == 2, "the two points keep their two band files")
    val qC = spark.sql(
      s"""SELECT count(*) AS n FROM $cat.gold.t12
         |WHERE ts IN (TIMESTAMP '${ts(5)}', TIMESTAMP '${ts(6)}')
         |  AND d BETWEEN 10.3 AND 15.7""".stripMargin)
    assert(plannedFiles(qC) == 1, "the double dim composes with the point dims")
    assert(qC.head().getLong(0) == 1L)
  }

  test("FILTER clauses and count(DISTINCT) fall back; sum always falls back") {
    val (cat, wh) = freshCatalog()
    mkTable(cat, wh, "t4")
    val qf = spark.sql(
      s"SELECT count(*) FILTER (WHERE uid > 150) AS n FROM $cat.gold.t4")
    assert(plannedFiles(qf) > 0)
    assert(qf.head().getLong(0) == 9L)
    val qd = spark.sql(s"SELECT count(DISTINCT uid) AS n FROM $cat.gold.t4")
    assert(plannedFiles(qd) > 0)
    assert(qd.head().getLong(0) == 60L)
    val qsum = spark.sql(s"SELECT sum(uid) AS sm FROM $cat.gold.t4")
    assert(plannedFiles(qsum) > 0)
    assert(qsum.head().getLong(0) == (100L to 159L).sum)
  }

  test("a live merge-on-read mask disables the pushdown until compaction") {
    val (cat, wh) = freshCatalog()
    val t = mkTable(cat, wh, "t5")
    t.morDeleteKeys(Seq(ts(7)).toDF("ts"), "ts")
    val q = spark.sql(s"SELECT count(*) AS n, max(uid) AS mx FROM $cat.gold.t5")
    assert(plannedFiles(q) > 0, "a mask can remove any row — nothing is provable")
    assert(q.head().getLong(0) == 59L && q.head().getLong(1) == 159L)
    // compaction folds the mask → provable again
    t.compact()
    val q2 = spark.sql(s"SELECT count(*) AS n, max(uid) AS mx FROM $cat.gold.t5")
    assert(plannedFiles(q2) == 0, "folded masks restore provability")
    assert(q2.head().getLong(0) == 59L && q2.head().getLong(1) == 159L)
  }

  test("copy-on-write deletes keep the inventory provable") {
    val (cat, wh) = freshCatalog()
    mkTable(cat, wh, "t6")
    spark.sql(s"DELETE FROM $cat.gold.t6 WHERE uid >= 155")
    val q = spark.sql(
      s"SELECT count(*) AS n, max(uid) AS mx, max(ts) AS mxt FROM $cat.gold.t6")
    assert(plannedFiles(q) == 0)
    val r = q.head()
    assert(r.getLong(0) == 55L)
    assert(r.getLong(1) == 154L)
    assert(r.getTimestamp(2) == ts(54))
  }

  test("time travel answers from the pinned snapshot's own roll-ups") {
    val (cat, wh) = freshCatalog()
    val t = mkTable(cat, wh, "t7")
    val vPre = t.metadata.currentSnapshotId.get
    spark.sql(s"DELETE FROM $cat.gold.t7 WHERE uid >= 150")
    val q = spark.sql(
      s"SELECT count(*) AS n, max(uid) AS mx FROM $cat.gold.t7 VERSION AS OF $vPre")
    assert(plannedFiles(q) == 0)
    assert(q.head().getLong(0) == 60L && q.head().getLong(1) == 159L)
    val qNow = spark.sql(s"SELECT count(*) AS n FROM $cat.gold.t7")
    assert(plannedFiles(qNow) == 0)
    assert(qNow.head().getLong(0) == 50L)
  }

  test("an empty table answers count 0 and null extremes without a scan") {
    val (cat, wh) = freshCatalog()
    val proto = Seq((ts(0), 1L)).toDF("ts", "uid")
    LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/t8"), proto.schema, Some("ts"))
    val q = spark.sql(
      s"SELECT count(*) AS n, min(ts) AS mn, max(uid) AS mx FROM $cat.gold.t8")
    assert(plannedFiles(q) == 0)
    val r = q.head()
    assert(r.getLong(0) == 0L && r.isNullAt(1) && r.isNullAt(2))
  }

  test("a renamed stats column falls back (historical roll-up names)") {
    val (cat, wh) = freshCatalog()
    val t = mkTable(cat, wh, "t9")
    t.renameColumn("uid", "uid2")
    val q = spark.sql(s"SELECT min(uid2) AS mn, max(uid2) AS mx FROM $cat.gold.t9")
    assert(plannedFiles(q) > 0, "pre-rename manifest entries carry the old name")
    assert(q.head().getLong(0) == 100L && q.head().getLong(1) == 159L)
    // the key column is positional (minKeyUs), not name-keyed: a key
    // rename keeps min/max(key) and count(*) metadata-only
    val qk = spark.sql(s"SELECT count(*) AS n, max(ts) AS mx FROM $cat.gold.t9")
    assert(plannedFiles(qk) == 0)
    assert(qk.head().getLong(0) == 60L)
  }

  test("the conf kill-switch restores the scan plan") {
    val (cat, wh) = freshCatalog()
    mkTable(cat, wh, "t10")
    spark.conf.set("spark.graft.sql.metadata-aggregates", "false")
    try {
      val q = spark.sql(s"SELECT count(*) AS n FROM $cat.gold.t10")
      assert(plannedFiles(q) > 0)
      assert(q.head().getLong(0) == 60L)
    } finally spark.conf.unset("spark.graft.sql.metadata-aggregates")
  }

  /** identity(sym) × day(ts) table: 3 symbols × 20 rows, opt null for
    * odd i, values escaped-hostile for one symbol ("a:b" needs %3A).
    */
  private def mkIdTable(cat: String, wh: String, name: String): LakehouseTable = {
    val syms = Seq("alpha", "a:b", "z")
    val data = (0 until 60)
      .map(i => (syms(i % 3), ts(i), 100L + i,
        if (i % 2 == 1) None else Some(100L + i)))
      .toDF("sym", "ts", "uid", "opt")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, s"gold/$name"), data.schema,
      Seq("sym" -> "identity", "ts" -> "day"))
    t.setProperty("write.stats-columns", "uid,opt")
    (0 until 2).foreach(r => t.append(data.filter(col("uid") % 2 === r)))
    t
  }

  test("GROUP BY an identity column is metadata-only, escapes included") {
    val (cat, wh) = freshCatalog()
    mkIdTable(cat, wh, "g1")
    val q = spark.sql(
      s"""SELECT sym, count(*) AS n, count(opt) AS n_opt,
         |       min(ts) AS mn_ts, max(ts) AS mx_ts,
         |       min(uid) AS mn_uid, max(uid) AS mx_uid, max(sym) AS mx_sym
         |FROM $cat.gold.g1 GROUP BY sym ORDER BY sym""".stripMargin)
    assert(plannedFiles(q) == 0, "identity group-by must not plan a scan")
    val rs = q.collect()
    assert(rs.map(_.getString(0)).toSeq == Seq("a:b", "alpha", "z"))
    rs.foreach { r =>
      assert(r.getLong(1) == 20L)
      assert(r.getLong(2) == 10L)
      assert(r.getString(7) == r.getString(0))
    }
    val ab = rs.find(_.getString(0) == "a:b").get // i % 3 == 1 → odd-ish mix
    assert(ab.getTimestamp(3) == ts(1) && ab.getTimestamp(4) == ts(58))
    assert(ab.getLong(5) == 101L && ab.getLong(6) == 158L)
  }

  test("SELECT DISTINCT over an identity column is metadata-only") {
    val (cat, wh) = freshCatalog()
    mkIdTable(cat, wh, "g2")
    val q = spark.sql(s"SELECT DISTINCT sym FROM $cat.gold.g2")
    assert(plannedFiles(q) == 0)
    assert(q.collect().map(_.getString(0)).sorted.toSeq == Seq("a:b", "alpha", "z"))
  }

  test("nested-subquery and DataFrame shapes reach the same pushdown") {
    val (cat, wh) = freshCatalog()
    mkIdTable(cat, wh, "g6")
    // a flattened nested SELECT keeps the relation's attr ids — the
    // restricted count must stay metadata-only through the wrappers
    val qN = spark.sql(
      s"""SELECT count(*) AS n
         |FROM (SELECT sym, uid FROM $cat.gold.g6 WHERE sym = 'alpha') q""".stripMargin)
    assert(plannedFiles(qN) == 0)
    assert(qN.head().getLong(0) == 20L)
    // DataFrame-API chains pre-expand the relation in spark.table's own
    // analysis pass, so they keep the scan plan — correct, just not
    // metadata-only (the SQL spellings are the pushdown surface)
    val qD = spark.table(s"$cat.gold.g6").select("sym").distinct()
    assert(qD.collect().map(_.getString(0)).sorted.toSeq == Seq("a:b", "alpha", "z"))
  }

  test("DECIMAL sum-columns: sum/avg are metadata-only, values exact (round 18)") {
    // VERDICT r17 #5: per-file decimal sums record the UNSCALED value
    // at the declared scale; sum(c) and avg(c) then serve from the
    // manifest fold with Spark's own result types and semantics
    val (cat, wh) = freshCatalog()
    val data = (0 until 60)
      .map { i =>
        val unscaled = i * 100L + i % 100
        (if (i % 2 == 0) "A" else "B", ts(i), i.toLong,
          java.math.BigDecimal.valueOf(if (i % 7 == 0) -unscaled else unscaled, 2),
          if (i % 3 == 0) None
          else Some(java.math.BigDecimal.valueOf(i * 100L, 2)))
      }
      .toDF("sym", "ts", "uid", "amt", "opt_amt")
      .select(col("sym"), col("ts"), col("uid"),
        col("amt").cast("decimal(12,2)"), col("opt_amt").cast("decimal(12,2)"))
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/dec1"), data.schema,
      Seq("sym" -> "identity", "ts" -> "day"))
    t.setProperty("write.sum-columns", "amt,opt_amt")
    (0 until 2).foreach(r => t.append(data.filter(col("uid") % 2 === r)))
    // the write pass recorded unscaled per-file sums
    assert(t.currentDataFiles.forall(_.colSums.exists(_.contains("amt"))),
      "every native file must record the decimal sum")
    val truth = t.read().agg(
      sum("amt").as("s"), avg("amt").as("a"),
      sum("opt_amt").as("so"), avg("opt_amt").as("ao")).head()
    val q = spark.sql(
      s"""SELECT sum(amt) AS s, avg(amt) AS a,
         |       sum(opt_amt) AS so, avg(opt_amt) AS ao
         |FROM $cat.gold.dec1""".stripMargin)
    assert(plannedFiles(q) == 0, "decimal sum/avg must not plan a scan")
    val r = q.head()
    assert(r.getDecimal(0) == truth.getDecimal(0), "sum(amt) exact")
    assert(r.getDecimal(1) == truth.getDecimal(1), "avg(amt) exact incl. rounding")
    assert(r.getDecimal(2) == truth.getDecimal(2))
    assert(r.getDecimal(3) == truth.getDecimal(3))
    // result types match Spark's own (sum: p+10, avg: p+4/s+4)
    assert(q.schema("s").dataType == t.read().agg(sum("amt")).schema.head.dataType)
    assert(q.schema("a").dataType == t.read().agg(avg("amt")).schema.head.dataType)
    // grouped by the identity dim
    val truthG = t.read().groupBy("sym")
      .agg(sum("amt").as("s"), avg("amt").as("a")).orderBy("sym")
      .collect().map(_.toSeq).toSeq
    val qg = spark.sql(
      s"""SELECT sym, sum(amt) AS s, avg(amt) AS a
         |FROM $cat.gold.dec1 GROUP BY sym ORDER BY sym""".stripMargin)
    assert(plannedFiles(qg) == 0)
    assert(qg.collect().map(_.toSeq).toSeq == truthG)
    // DSv2 (no extension rule): same answers through the connector
    withSqlConf("spark.graft.sql.expansion-enabled" -> "false") {
      val gd = spark.table(s"$cat.gold.dec1")
        .agg(sum("amt").as("s"), avg("amt").as("a"))
      assert(plannedFiles(gd) == 0)
      val rd = gd.head()
      assert(rd.getDecimal(0) == truth.getDecimal(0))
      assert(rd.getDecimal(1) == truth.getDecimal(1))
      val gg = spark.table(s"$cat.gold.dec1").groupBy("sym")
        .agg(sum("amt").as("s"), avg("amt").as("a")).orderBy("sym")
      assert(plannedFiles(gg) == 0)
      assert(gg.collect().map(_.toSeq).toSeq == truthG)
    }
    // sum_coverage reports the decimal column servable
    val cov = t.metadataTable("sum_coverage").collect()
      .map(r2 => r2.getString(0) -> r2.getString(8)).toMap
    assert(cov("amt") == "ok" && cov("opt_amt") == "ok",
      s"decimal columns must read servable in sum_coverage, got $cov")
    // RANGE sums: a covering range serves (every file interior), but a
    // mid-file cut must BAIL — the hybrid's combining Sum over
    // DECIMAL(p+10) partials widens to p+20 and could not overflow
    // where the scan would; correctness over cleverness
    val qCover = spark.sql(
      s"""SELECT sym, sum(amt) AS s FROM $cat.gold.dec1
         |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
         |GROUP BY sym ORDER BY sym""".stripMargin)
    assert(plannedFiles(qCover) == 0, "covering decimal range sums serve")
    assert(qCover.collect().map(_.toSeq).toSeq ==
      truthG.map(r => Seq(r.head, r(1))))
    val cut = Timestamp.valueOf("2024-01-01 00:00:00.000001")
    val qStraddle = spark.sql(
      s"""SELECT sym, sum(amt) AS s FROM $cat.gold.dec1
         |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00.000001'
         |GROUP BY sym ORDER BY sym""".stripMargin)
    assert(plannedFiles(qStraddle) > 0,
      "straddling decimal range sums must refuse the hybrid combine")
    assert(qStraddle.collect().map(_.toSeq).toSeq ==
      t.read().filter(col("ts") >= cut).groupBy("sym")
        .agg(sum("amt").as("s")).orderBy("sym").collect().map(_.toSeq).toSeq)
  }

  test("DECIMAL sum serving gates: final-precision overflow and all-null (unit)") {
    import org.apache.spark.sql.types.DecimalType
    // DECIMAL(3,1): result precision 13 — a 13-digit unscaled total
    // overflows where a 12-digit one serves
    val d = DecimalType(3, 1)
    assert(MetadataGroupFacts.decimalSumType(d) == DecimalType(13, 1))
    // max unscaled for DECIMAL(13,1) is 13 nines; one past bails
    val ok = MetadataGroupFacts.decimalSumValue(d, BigInt("9999999999999"), allNull = false)
    assert(ok.exists(_ != null))
    assert(MetadataGroupFacts.decimalSumValue(d, BigInt("10000000000000"), allNull = false).isEmpty,
      "a total past the result precision must bail — a scan would throw/NULL there")
    assert(MetadataGroupFacts.decimalSumValue(d, BigInt(0), allNull = true)
      .contains(null))
    // avg folds through Spark's own evaluate expression: 10.0 / 4 = 2.5
    val av = MetadataGroupFacts.decimalAvgOf(d, BigInt(100), 4L)
    assert(av.exists(v =>
      v.asInstanceOf[org.apache.spark.sql.types.Decimal].toBigDecimal
        == scala.math.BigDecimal("2.5")))
    // HALF_UP rounding parity: 1.0 / 3 at scale s+4
    val av3 = MetadataGroupFacts.decimalAvgOf(d, BigInt(10), 3L)
    assert(av3.exists(v =>
      v.asInstanceOf[org.apache.spark.sql.types.Decimal].toBigDecimal
        == scala.math.BigDecimal("0.33333")))
  }

  test("count(DISTINCT identity) is metadata-only; sentinel and non-identity bail") {
    // round 18, VERDICT r17 #4: distinct decoded dir values
    val (cat, wh) = freshCatalog()
    mkIdTable(cat, wh, "cd1")
    val q = spark.sql(s"SELECT count(DISTINCT sym) AS d FROM $cat.gold.cd1")
    assert(plannedFiles(q) == 0, "count(DISTINCT identity) must not plan a scan")
    assert(q.head().getLong(0) == 3L)
    // grouped: per-year distinct symbols through the time-dim rewrite
    val qg = spark.sql(
      s"""SELECT year(ts) AS y, count(DISTINCT sym) AS d
         |FROM $cat.gold.cd1 GROUP BY year(ts)""".stripMargin)
    assert(plannedFiles(qg) == 0)
    assert(qg.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      == Seq((2024, 3L)))
    // restricted: the IN restriction keeps it metadata-only
    val qr = spark.sql(
      s"SELECT count(DISTINCT sym) AS d FROM $cat.gold.cd1 WHERE sym IN ('alpha', 'z')")
    assert(plannedFiles(qr) == 0)
    assert(qr.head().getLong(0) == 2L)
    // a non-identity column falls back and stays exact
    val qu = spark.sql(s"SELECT count(DISTINCT uid) AS d FROM $cat.gold.cd1")
    assert(plannedFiles(qu) > 0)
    assert(qu.head().getLong(0) == 60L)
    // count(DISTINCT sym) composed with provable shapes stays pushed
    val qc = spark.sql(
      s"SELECT count(DISTINCT sym) AS d, count(*) AS n FROM $cat.gold.cd1")
    assert(plannedFiles(qc) == 0)
    assert(qc.head().getLong(0) == 3L && qc.head().getLong(1) == 60L)
  }

  test("count(DISTINCT string-identity) bails on the sentinel dir; a long identity serves") {
    val (cat, wh) = freshCatalog()
    // STRING identity with nulls: '' shares the sentinel — ambiguous,
    // the metadata path must bail (a '' row would count, a null not)
    val sData = (0 until 20)
      .map(i => (if (i % 5 == 0) None else Some(s"s${i % 2}"), ts(i), i.toLong))
      .toDF("sym", "ts", "uid")
    val st = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/cd2"), sData.schema,
      Seq("sym" -> "identity", "ts" -> "day"))
    st.append(sData)
    val qs = spark.sql(s"SELECT count(DISTINCT sym) AS d FROM $cat.gold.cd2")
    assert(plannedFiles(qs) > 0, "a string sentinel dir is ambiguous — must bail")
    assert(qs.head().getLong(0) == 2L)
    // LONG identity with nulls: the sentinel dir is PROVABLY all-null
    // ('' is not a long) — excluded, the distinct count still serves
    val lData = (0 until 20)
      .map(i => (if (i % 5 == 0) None else Some((i % 3).toLong), ts(i), i.toLong))
      .toDF("gid", "ts", "uid")
    val lt = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/cd3"), lData.schema,
      Seq("gid" -> "identity", "ts" -> "day"))
    lt.append(lData)
    val ql = spark.sql(s"SELECT count(DISTINCT gid) AS d FROM $cat.gold.cd3")
    assert(plannedFiles(ql) == 0,
      "a non-string sentinel dir is provably null-only — distinct still serves")
    assert(ql.head().getLong(0) == 3L)
  }

  test("GROUP BY a non-partition column falls back and stays exact") {
    val (cat, wh) = freshCatalog()
    mkIdTable(cat, wh, "g3")
    val q = spark.sql(
      s"SELECT uid % 2 AS par, count(*) AS n FROM $cat.gold.g3 GROUP BY uid % 2")
    assert(plannedFiles(q) > 0)
    assert(q.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(0L -> 30L, 1L -> 30L))
  }

  test("null identity values (sentinel dir) disable the group pushdown") {
    val (cat, wh) = freshCatalog()
    val data = (0 until 20)
      .map(i => (if (i % 5 == 0) None else Some(s"s${i % 2}"), ts(i), i.toLong))
      .toDF("sym", "ts", "uid")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/g4"), data.schema,
      Seq("sym" -> "identity", "ts" -> "day"))
    t.append(data)
    val q = spark.sql(
      s"SELECT sym, count(*) AS n FROM $cat.gold.g4 GROUP BY sym")
    assert(plannedFiles(q) > 0, "the sentinel dir cannot round-trip a null")
    val m = q.collect().map(r =>
      Option(r.getString(0)).getOrElse("NULL") -> r.getLong(1)).toMap
    assert(m == Map("NULL" -> 4L, "s0" -> 8L, "s1" -> 8L))
  }

  test("empty-string identity values share the null sentinel dir — exactness bails") {
    val (cat, wh) = freshCatalog()
    // the partition writer maps BOTH null and '' to
    // __HIVE_DEFAULT_PARTITION__, so dir equality can prove nothing
    // exact for either — but plain values stay provable
    val data = Seq(
      (Some(""), ts(0), 1L), (Some(""), ts(1), 2L),
      (Some("a"), ts(2), 3L), (None, ts(3), 4L))
      .toDF("sym", "ts", "uid")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/e1"), data.schema,
      Seq("sym" -> "identity", "ts" -> "day"))
    t.append(data)
    // hive-partitioning semantics: an identity column lives only in
    // the dir name, and the writer maps '' to the null sentinel — the
    // rows READ BACK as null. The metadata path must agree with the
    // scan (0), not count the sentinel dir's rows.
    val qE = spark.sql(s"SELECT count(*) AS n FROM $cat.gold.e1 WHERE sym = ''")
    assert(qE.head().getLong(0) == 0L, "'' round-trips to null under hive dirs")
    assert(plannedFiles(qE) > 0, "'' is sentinel-ambiguous — the exact path bails")
    val qNull = spark.sql(
      s"SELECT count(*) AS n FROM $cat.gold.e1 WHERE sym IS NULL")
    assert(qNull.head().getLong(0) == 3L, "both '' rows and the null row read as null")
    val qSent = spark.sql(
      s"SELECT count(*) AS n FROM $cat.gold.e1 WHERE sym = '__HIVE_DEFAULT_PARTITION__'")
    assert(qSent.head().getLong(0) == 0L,
      "no row carries the sentinel literal — counting the sentinel dir would lie")
    assert(plannedFiles(qSent) > 0)
    val qA = spark.sql(s"SELECT count(*) AS n FROM $cat.gold.e1 WHERE sym = 'a'")
    assert(plannedFiles(qA) == 0, "an unambiguous value stays metadata-only")
    assert(qA.head().getLong(0) == 1L)
  }

  test("group pushdown respects time travel and live masks") {
    val (cat, wh) = freshCatalog()
    val t = mkIdTable(cat, wh, "g5")
    val vPre = t.metadata.currentSnapshotId.get
    spark.sql(s"DELETE FROM $cat.gold.g5 WHERE sym = 'z'")
    val qNow = spark.sql(
      s"SELECT sym, count(*) AS n FROM $cat.gold.g5 GROUP BY sym")
    assert(plannedFiles(qNow) == 0)
    assert(qNow.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("alpha" -> 20L, "a:b" -> 20L))
    val qTt = spark.sql(
      s"SELECT sym, count(*) AS n FROM $cat.gold.g5 VERSION AS OF $vPre GROUP BY sym")
    assert(plannedFiles(qTt) == 0)
    assert(qTt.collect().map(_.getLong(1)).sum == 60L)
    t.morDeleteKeys(Seq(ts(1)).toDF("ts"), "ts")
    val qMask = spark.sql(
      s"SELECT sym, count(*) AS n FROM $cat.gold.g5 GROUP BY sym")
    assert(plannedFiles(qMask) > 0, "a live mask disables group pushdown")
    assert(qMask.collect().map(_.getLong(1)).sum == 39L)
  }

  /** identity(sym) × day(ts) spanning 3 days across 2 months: 60 rows,
    * day = i % 3 of (2024-01-01, 2024-01-02, 2024-02-01), sym ∈ {x, y}.
    */
  private def dayTs(i: Int): Timestamp = {
    val day = Seq("2024-01-01", "2024-01-02", "2024-02-01")(i % 3)
    Timestamp.valueOf(f"$day 0${i % 10}:0${i % 6}:00.0")
  }
  private def mkDayTable(cat: String, wh: String, name: String): LakehouseTable = {
    val data = (0 until 60)
      .map(i => (if (i % 2 == 0) "x" else "y", dayTs(i), 100L + i))
      .toDF("sym", "ts", "uid")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, s"gold/$name"), data.schema,
      Seq("sym" -> "identity", "ts" -> "day"))
    t.setProperty("write.stats-columns", "uid")
    (0 until 2).foreach(r => t.append(data.filter(col("uid") % 2 === r)))
    t
  }

  test("GROUP BY time derivations of the key is metadata-only") {
    val (cat, wh) = freshCatalog()
    mkDayTable(cat, wh, "d1")
    val q = spark.sql(
      s"""SELECT year(ts) AS y, month(ts) AS m, day(ts) AS d,
         |       count(*) AS n, count(ts) AS n_ts,
         |       min(ts) AS mn, max(uid) AS mx_uid
         |FROM $cat.gold.d1 GROUP BY year(ts), month(ts), day(ts)
         |ORDER BY y, m, d""".stripMargin)
    assert(plannedFiles(q) == 0, "time-derived group-by must not plan a scan")
    val rs = q.collect()
    assert(rs.map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq ==
      Seq((2024, 1, 1), (2024, 1, 2), (2024, 2, 1)))
    assert(rs.map(_.getLong(3)).toSeq == Seq(20L, 20L, 20L))
    assert(rs.map(_.getLong(4)).toSeq == Seq(20L, 20L, 20L))
    // day-group extremes come from per-file key bounds
    assert(rs.head.getTimestamp(5) == dayTs(0))
    assert(rs.map(_.getLong(6)).toSeq == Seq(157L, 158L, 159L))
    // CAST(ts AS DATE) rides the same path
    val qd = spark.sql(
      s"""SELECT CAST(ts AS DATE) AS d, count(*) AS n
         |FROM $cat.gold.d1 GROUP BY CAST(ts AS DATE) ORDER BY d""".stripMargin)
    assert(plannedFiles(qd) == 0)
    assert(qd.collect().map(r => (r.getDate(0).toString, r.getLong(1))).toSeq ==
      Seq(("2024-01-01", 20L), ("2024-01-02", 20L), ("2024-02-01", 20L)))
  }

  test("time grouping composes with identity dims and restrictions") {
    val (cat, wh) = freshCatalog()
    mkDayTable(cat, wh, "d2")
    val q = spark.sql(
      s"""SELECT sym, CAST(ts AS DATE) AS d, count(*) AS n
         |FROM $cat.gold.d2 GROUP BY sym, CAST(ts AS DATE)
         |ORDER BY sym, d""".stripMargin)
    assert(plannedFiles(q) == 0)
    assert(q.count() == 6)
    assert(q.collect().map(_.getLong(2)).sum == 60L)
    val qR = spark.sql(
      s"""SELECT year(ts) AS y, month(ts) AS m, count(*) AS n
         |FROM $cat.gold.d2 WHERE sym = 'x'
         |GROUP BY year(ts), month(ts) ORDER BY y, m""".stripMargin)
    assert(plannedFiles(qR) == 0)
    assert(qR.collect().map(r => (r.getInt(1), r.getLong(2))).toSeq ==
      Seq((1, 20L), (2, 10L)))
  }

  test("a derivation finer than the dir granularity falls back, exact") {
    val (cat, wh) = freshCatalog()
    mkDayTable(cat, wh, "d3")
    val q = spark.sql(
      s"SELECT hour(ts) AS h, count(*) AS n FROM $cat.gold.d3 GROUP BY hour(ts)")
    assert(plannedFiles(q) > 0, "hour is finer than the day dirs")
    assert(q.collect().map(_.getLong(1)).sum == 60L)
  }

  test("a covering time-range count is pure metadata; a straddling one scans only boundary files") {
    val (cat, wh) = freshCatalog()
    mkDayTable(cat, wh, "h1")
    // range covers January exactly: every Jan file is bounds-interior,
    // Feb files are provably outside — zero files scanned
    val qCover = spark.sql(
      s"""SELECT count(*) AS n FROM $cat.gold.h1
         |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
         |  AND ts < TIMESTAMP '2024-02-01 00:00:00'""".stripMargin)
    assert(plannedFiles(qCover) == 0, "covering range must count from metadata alone")
    assert(qCover.head().getLong(0) == 40L)
    // lower bound splits Jan-01: its files straddle and scan; Jan-02
    // and Feb-01 are interior — the hybrid scans ONLY the boundary day
    val total = spark.sql(s"SELECT count(*) AS n FROM $cat.gold.h1").head().getLong(0)
    assert(total == 60L)
    val qStraddle = spark.sql(
      s"""SELECT count(*) AS n FROM $cat.gold.h1
         |WHERE ts >= TIMESTAMP '2024-01-01 00:03:00'""".stripMargin)
    val scanned = plannedFiles(qStraddle)
    assert(scanned > 0 && scanned <= 2,
      s"only the straddling day's files may scan, got $scanned")
    val expected = (0 until 60).count(i => !dayTs(i).before(
      Timestamp.valueOf("2024-01-01 00:03:00")))
    assert(qStraddle.head().getLong(0) == expected)
    // composed with an identity restriction
    val qBoth = spark.sql(
      s"""SELECT count(*) AS n FROM $cat.gold.h1
         |WHERE sym = 'x' AND ts <= TIMESTAMP '2024-01-02 23:59:59'""".stripMargin)
    assert(plannedFiles(qBoth) == 0)
    assert(qBoth.head().getLong(0) ==
      (0 until 60).count(i => i % 2 == 0 && i % 3 != 2))
    // count + sum under a range keeps the plain scan and stays exact
    val qSum = spark.sql(
      s"""SELECT count(*) AS n, sum(uid) AS s FROM $cat.gold.h1
         |WHERE ts >= TIMESTAMP '2024-02-01 00:00:00'""".stripMargin)
    assert(plannedFiles(qSum) > 0)
    assert(qSum.head().getLong(0) == 20L)
  }

  test("hybrid range SUMS: covering ranges serve from metadata, straddlers scan only boundaries") {
    val (cat, wh) = freshCatalog()
    val data = (0 until 60)
      .map(i => (if (i % 2 == 0) "x" else "y", dayTs(i), 100L + i))
      .toDF("sym", "ts", "uid")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/hsum"), data.schema,
      Seq("sym" -> "identity", "ts" -> "day"))
    t.setProperty("write.stats-columns", "uid")
    t.setProperty("write.sum-columns", "uid")
    (0 until 2).foreach(r => t.append(data.filter(col("uid") % 2 === r)))
    // covering range: every January file bounds-interior with zero
    // null keys — sum + count answer from per-file sums alone
    val qCover = spark.sql(
      s"""SELECT count(*) AS n, sum(uid) AS s FROM $cat.gold.hsum
         |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
         |  AND ts < TIMESTAMP '2024-02-01 00:00:00'""".stripMargin)
    assert(plannedFiles(qCover) == 0, "covering range sums must not plan a scan")
    val janSum = (0 until 60).filter(_ % 3 != 2).map(100L + _).sum
    assert(qCover.head().getLong(0) == 40L && qCover.head().getLong(1) == janSum)
    // straddling range: only the split day's files scan; interior
    // files contribute their exact recorded sums
    val cut = Timestamp.valueOf("2024-01-01 00:03:00")
    val qStraddle = spark.sql(
      s"""SELECT sum(uid) AS s FROM $cat.gold.hsum
         |WHERE ts >= TIMESTAMP '2024-01-01 00:03:00'""".stripMargin)
    val scanned = plannedFiles(qStraddle)
    assert(scanned > 0 && scanned <= 4,
      s"only the straddling day's files may scan, got $scanned")
    val expected = (0 until 60).filter(i => !dayTs(i).before(cut)).map(100L + _).sum
    assert(qStraddle.head().getLong(0) == expected)
    // composed with the identity restriction, still zero files
    val qBoth = spark.sql(
      s"""SELECT sum(uid) AS s FROM $cat.gold.hsum
         |WHERE sym = 'x' AND ts <= TIMESTAMP '2024-01-02 23:59:59'""".stripMargin)
    assert(plannedFiles(qBoth) == 0)
    assert(qBoth.head().getLong(0) ==
      (0 until 60).filter(i => i % 2 == 0 && i % 3 != 2).map(100L + _).sum)
    // a file with NULL keys demotes to the boundary scan — its
    // recorded sum includes values the predicate excludes
    val withNullKeys = (0 until 6)
      .map(i => (if (i % 2 == 0) "x" else "y",
        if (i < 3) null.asInstanceOf[Timestamp] else dayTs(0), 1000L + i))
      .toDF("sym", "ts", "uid")
    t.append(withNullKeys.coalesce(1))
    val qNk = spark.sql(
      s"""SELECT sum(uid) AS s FROM $cat.gold.hsum
         |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
         |  AND ts < TIMESTAMP '2024-02-01 00:00:00'""".stripMargin)
    assert(plannedFiles(qNk) > 0,
      "a null-key file's rows must be re-read, not served from its sum")
    assert(qNk.head().getLong(0) == janSum + (3 until 6).map(1000L + _).sum)
    // RELAXED ANSI proof (round 17, VERDICT r16 #4): a mixed-sign
    // interior with SMALL absolute sums now serves — Σ of per-member
    // absolute-sum bounds within Long range proves no interleaving can
    // overflow, where the r16 cross-member sign proof refused it
    val mix = (0 until 20)
      .map(i => (ts(i), if (i < 10) 50L + i else -(50L + i)))
      .toDF("ts", "v")
    val tm = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/hmix"), mix.schema, Some("ts"))
    tm.setProperty("write.stats-columns", "v")
    tm.setProperty("write.sum-columns", "v")
    tm.append(mix.filter(col("v") >= 0).coalesce(1))
    tm.append(mix.filter(col("v") < 0).coalesce(1))
    val mixSum = (0 until 20).map(i => if (i < 10) 50L + i else -(50L + i)).sum
    val qMix = spark.sql(
      s"""SELECT sum(v) AS s FROM $cat.gold.hmix
         |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'""".stripMargin)
    assert(plannedFiles(qMix) == 0,
      "small mixed-sign interior serves under ANSI via the Σ|bounds| proof")
    assert(qMix.head().getLong(0) == mixSum)
    withSqlConf("spark.sql.ansi.enabled" -> "false") {
      val qMixL = spark.sql(
        s"""SELECT sum(v) AS s FROM $cat.gold.hmix
           |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'""".stripMargin)
      assert(plannedFiles(qMixL) == 0, "legacy range sums need no sign proof")
      assert(qMixL.head().getLong(0) == mixSum)
    }
    // ADVERSARIAL: per-file sums and the total fit a Long, but
    // Σ|member sums| overflows — some interleaving of these files'
    // rows COULD overflow mid-stream, so the ANSI hybrid must bail
    // (the conservative direction: this 1-row-per-file layout happens
    // to be safe, but the proof reasons over bounds, not row layouts)
    val big = Long.MaxValue - 5L
    val adv = Seq((ts(0), big), (ts(40), -big)).toDF("ts", "v")
    val ta = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/hadv"), adv.schema, Some("ts"))
    ta.setProperty("write.stats-columns", "v")
    ta.setProperty("write.sum-columns", "v")
    ta.append(adv.filter(col("v") > 0).coalesce(1))
    ta.append(adv.filter(col("v") < 0).coalesce(1))
    val qAdv = spark.sql(
      s"""SELECT sum(v) AS s FROM $cat.gold.hadv
         |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'""".stripMargin)
    assert(plannedFiles(qAdv) > 0,
      "Σ|member sums| past Long range must bail the ANSI hybrid")
    assert(qAdv.head().getLong(0) == 0L)
    // AVG rides the hybrid (round 17): covering ranges serve it pure
    // metadata, straddling ranges combine interior sum+count with the
    // boundary scan's — exact under the 2^53 determinism proof
    val qAvgCover = spark.sql(
      s"""SELECT avg(uid) AS a FROM $cat.gold.hsum
         |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
         |  AND ts < TIMESTAMP '2024-02-01 00:00:00'""".stripMargin)
    // the null-key rows appended above demote their files (one per sym
    // dir) to the boundary — recorded facts include predicate-failing
    // rows — so ONLY those two scan
    val sCov = plannedFiles(qAvgCover)
    assert(sCov > 0 && sCov <= 2, s"only the null-key files may scan, got $sCov")
    val janIdx = (0 until 60).filter(_ % 3 != 2)
    val janAll = janIdx.map(100L + _) ++ (3 until 6).map(1000L + _)
    assert(qAvgCover.head().getDouble(0) == janAll.sum.toDouble / janAll.size)
    val qAvgStraddle = spark.sql(
      s"""SELECT avg(uid) AS a FROM $cat.gold.hsum
         |WHERE ts >= TIMESTAMP '2024-01-01 00:03:00'""".stripMargin)
    val sAvg = plannedFiles(qAvgStraddle)
    assert(sAvg > 0 && sAvg < t.currentDataFiles.size,
      s"only straddlers may scan for the hybrid avg, got $sAvg")
    // the null-key file's dated rows all sit at dayTs(0) < cut, so its
    // bounds are PROVABLY OUTSIDE and it contributes nothing here
    val inR = (0 until 60).filter(i => !dayTs(i).before(cut)).map(100L + _)
    val expectAvg = inR.sum.toDouble / inR.size
    assert(qAvgStraddle.head().getDouble(0) == expectAvg)
    // sum + avg on the SAME column in one hybrid share one boundary
    // sum leg (review find: the avg used to duplicate the accumulator)
    val qSumAvg = spark.sql(
      s"""SELECT sum(uid) AS s, avg(uid) AS a FROM $cat.gold.hsum
         |WHERE ts >= TIMESTAMP '2024-01-01 00:03:00'""".stripMargin)
    assert(plannedFiles(qSumAvg) > 0 && plannedFiles(qSumAvg) < t.currentDataFiles.size)
    assert(qSumAvg.head().getLong(0) == inR.sum && qSumAvg.head().getDouble(1) == expectAvg)
    // magnitudes past 2^53 bail avg even where the SUM serves
    val qAvgAdv = spark.sql(
      s"""SELECT avg(v) AS a FROM $cat.gold.hadv
         |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'""".stripMargin)
    assert(plannedFiles(qAvgAdv) > 0, "avg past the 2^53 proof must scan")
    assert(qAvgAdv.head().getDouble(0) == 0.0)
  }

  test("grouped counts under an aligned range are metadata-only; straddlers fall back") {
    val (cat, wh) = freshCatalog()
    mkDayTable(cat, wh, "h3")
    // day-aligned lower bound: every overlapping file is interior
    val q = spark.sql(
      s"""SELECT sym, count(*) AS n FROM $cat.gold.h3
         |WHERE ts >= TIMESTAMP '2024-01-02 00:00:00' GROUP BY sym""".stripMargin)
    assert(plannedFiles(q) == 0, "aligned grouped range must not plan a scan")
    assert(q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("x" -> 20L, "y" -> 20L))
    // time-derived grouping composes with the range too
    val qT = spark.sql(
      s"""SELECT CAST(ts AS DATE) AS d, count(*) AS n FROM $cat.gold.h3
         |WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'
         |GROUP BY CAST(ts AS DATE) ORDER BY d""".stripMargin)
    assert(plannedFiles(qT) == 0)
    assert(qT.collect().map(_.getLong(1)).toSeq == Seq(20L, 20L))
    // a bound splitting a file's span falls back to the scan, exact
    val lo = Timestamp.valueOf("2024-01-02 00:05:00")
    val qS = spark.sql(
      s"""SELECT sym, count(*) AS n FROM $cat.gold.h3
         |WHERE ts >= TIMESTAMP '$lo' GROUP BY sym""".stripMargin)
    assert(plannedFiles(qS) > 0, "a straddling file bails the grouped range")
    val expected = (0 until 60).filterNot(i => dayTs(i).before(lo))
      .groupBy(i => if (i % 2 == 0) "x" else "y").view.mapValues(_.size.toLong).toMap
    assert(qS.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == expected)
  }

  test("GROUPED hybrid range sums: interiors serve from metadata, only straddlers scan") {
    val (cat, wh) = freshCatalog()
    val data = (0 until 60)
      .map(i => (if (i % 2 == 0) "x" else "y", dayTs(i), 100L + i))
      .toDF("sym", "ts", "uid")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/ghs"), data.schema,
      Seq("sym" -> "identity", "ts" -> "day"))
    t.setProperty("write.stats-columns", "uid")
    t.setProperty("write.sum-columns", "uid")
    (0 until 2).foreach(r => t.append(data.filter(col("uid") % 2 === r)))
    // a group only the INTERIOR side has: sym 'w', day-2 only
    t.append(Seq(("w", Timestamp.valueOf("2024-01-02 03:00:00.0"), 5000L))
      .toDF("sym", "ts", "uid").coalesce(1))
    // a group only the BOUNDARY side has: sym 'z', day-1 only,
    // straddling the cut
    t.append(Seq(
      ("z", Timestamp.valueOf("2024-01-01 01:00:00.0"), 6000L),
      ("z", Timestamp.valueOf("2024-01-01 08:00:00.0"), 6001L))
      .toDF("sym", "ts", "uid").coalesce(1))
    val total = t.currentDataFiles.size
    // covering, day-aligned: grouped sums are PURE metadata (round 17:
    // the covering grouped-range-sum shape used to bail)
    val qCover = spark.sql(
      s"""SELECT sym, count(*) AS n, sum(uid) AS s FROM $cat.gold.ghs
         |WHERE ts >= TIMESTAMP '2024-01-02 00:00:00' GROUP BY sym
         |ORDER BY sym""".stripMargin)
    assert(plannedFiles(qCover) == 0, "aligned grouped range sums must not scan")
    val d23 = (0 until 60).filter(i => i % 3 != 0) // days 2 and 3
    def expect(rows: Seq[Int], sym: String): (Long, Long) = {
      val mine = rows.filter(i => (if (i % 2 == 0) "x" else "y") == sym)
      (mine.size.toLong, mine.map(100L + _).sum)
    }
    assert(qCover.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSeq == Seq(
      ("w", 1L, 5000L),
      ("x", expect(d23, "x")._1, expect(d23, "x")._2),
      ("y", expect(d23, "y")._1, expect(d23, "y")._2)))
    // a MID-DAY cut: day-1 files straddle and scan; days 2-3 serve
    // from their recorded sums — the GROUPED HYBRID (VERDICT r16 #6)
    val cut = Timestamp.valueOf("2024-01-01 04:00:00.0")
    val qH = spark.sql(
      s"""SELECT sym, count(*) AS n, sum(uid) AS s FROM $cat.gold.ghs
         |WHERE ts >= TIMESTAMP '$cut' GROUP BY sym ORDER BY sym""".stripMargin)
    val scanned = plannedFiles(qH)
    assert(scanned > 0 && scanned < total,
      s"only straddlers may scan: $scanned of $total")
    val inRange = (0 until 60).filter(i => !dayTs(i).before(cut))
    val rows = qH.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq(
      ("w", 1L, 5000L), // interior-only group passes through the merge
      ("x", expect(inRange, "x")._1, expect(inRange, "x")._2),
      ("y", expect(inRange, "y")._1, expect(inRange, "y")._2),
      // boundary-only group: the z file straddles, the scan's filter
      // keeps only its 08:00 row
      ("z", 1L, 6001L)),
      rows.toString)
    // time-derived grouping rides the hybrid too: the boundary side
    // re-derives the group from real rows
    val qT = spark.sql(
      s"""SELECT CAST(ts AS DATE) AS d, count(*) AS n, sum(uid) AS s
         |FROM $cat.gold.ghs WHERE ts >= TIMESTAMP '$cut'
         |GROUP BY CAST(ts AS DATE) ORDER BY d""".stripMargin)
    assert(plannedFiles(qT) > 0 && plannedFiles(qT) < total)
    val byDay = (inRange.map(i => (dayTs(i).toLocalDateTime.toLocalDate.toString,
      1L, 100L + i)) ++ Seq(("2024-01-02", 1L, 5000L),
      ("2024-01-01", 1L, 6001L)))
      .groupBy(_._1).view.mapValues(g => (g.map(_._2).sum, g.map(_._3).sum))
      .toSeq.sortBy(_._1)
    assert(qT.collect().map(r =>
      (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSeq ==
      byDay.map { case (d, (n, s)) => (d, n, s) }, "time-dim hybrid values")
    // LEGACY combine stays exact too
    withSqlConf("spark.sql.ansi.enabled" -> "false") {
      val qL = spark.sql(
        s"""SELECT sym, sum(uid) AS s FROM $cat.gold.ghs
           |WHERE ts >= TIMESTAMP '$cut' GROUP BY sym ORDER BY sym""".stripMargin)
      assert(qL.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
        rows.map(r => (r._1, r._3)))
    }
  }

  test("grouped hybrid composes with an identity restriction (triple compose)") {
    val (cat, wh) = freshCatalog()
    val data = (0 until 60)
      .map(i => (Seq("x", "y", "z", "w")(i % 4), dayTs(i), 100L + i))
      .toDF("sym", "ts", "uid")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/ghr"), data.schema,
      Seq("sym" -> "identity", "ts" -> "day"))
    t.setProperty("write.stats-columns", "uid")
    t.setProperty("write.sum-columns", "uid")
    // coalesce(1): ONE file per (sym, day) dir per append, spanning the
    // dir's whole day — so the mid-day cut below genuinely straddles
    // (un-coalesced appends leave per-hour part files no cut splits)
    (0 until 2).foreach(r => t.append(data.filter(col("uid") % 2 === r).coalesce(1)))
    val total = t.currentDataFiles.size
    val cut = Timestamp.valueOf("2024-01-01 04:00:00.0")
    // WHERE sym IN (…) AND a mid-file time cut: the restriction prunes
    // the entry set FIRST, the hybrid scans only the restricted
    // straddlers, and untouched symbols never appear
    val q = spark.sql(
      s"""SELECT sym, count(*) AS n, sum(uid) AS s FROM $cat.gold.ghr
         |WHERE sym IN ('x', 'z') AND ts >= TIMESTAMP '$cut'
         |GROUP BY sym ORDER BY sym""".stripMargin)
    val scanned = plannedFiles(q)
    assert(scanned > 0 && scanned < total / 2,
      s"only the restricted straddlers may scan: $scanned of $total")
    val inRange = (0 until 60).filter(i => !dayTs(i).before(cut))
    def expect(sym: String): (Long, Long) = {
      val mine = inRange.filter(i => Seq("x", "y", "z", "w")(i % 4) == sym)
      (mine.size.toLong, mine.map(100L + _).sum)
    }
    assert(q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      == Seq(("x", expect("x")._1, expect("x")._2),
        ("z", expect("z")._1, expect("z")._2)))
    // the aligned (covering) restricted grouped sum stays pure metadata
    val qC = spark.sql(
      s"""SELECT sym, sum(uid) AS s FROM $cat.gold.ghr
         |WHERE sym = 'y' AND ts >= TIMESTAMP '2024-01-02 00:00:00'
         |GROUP BY sym""".stripMargin)
    assert(plannedFiles(qC) == 0, "restricted aligned grouped sums must not scan")
    val d23y = (0 until 60).filter(i => i % 3 != 0 && i % 4 == 1)
    assert(qC.head().getLong(1) == d23y.map(100L + _).sum)
  }

  test("range extremes ride the hybrid: latest-before-X needs no scan when covered") {
    val (cat, wh) = freshCatalog()
    mkDayTable(cat, wh, "h4")
    val janRows = (0 until 60).filter(i => i % 3 != 2)
    // covering upper bound: Jan files interior, Feb provably outside —
    // the watermark probe "latest event before X" is pure metadata
    val qc = spark.sql(
      s"""SELECT unix_micros(max(ts)) AS mx, count(*) AS n FROM $cat.gold.h4
         |WHERE ts < TIMESTAMP '2024-02-01 00:00:00'""".stripMargin)
    assert(plannedFiles(qc) == 0)
    val rc = qc.head()
    assert(rc.getLong(0) == janRows.map(i => dayTs(i).getTime * 1000L).max)
    assert(rc.getLong(1) == 40L)
    // a straddling lower bound: interior extremes combine with the
    // boundary scan's — still exact, still only boundary files read
    val lo = Timestamp.valueOf("2024-01-01 00:03:00")
    val qs = spark.sql(
      s"""SELECT unix_micros(min(ts)) AS mn, unix_micros(max(ts)) AS mx,
         |       count(*) AS n
         |FROM $cat.gold.h4 WHERE ts >= TIMESTAMP '$lo'""".stripMargin)
    val scanned = plannedFiles(qs)
    assert(scanned > 0 && scanned <= 2)
    val inRange = (0 until 60).filter(i => !dayTs(i).before(lo))
    val rs = qs.head()
    assert(rs.getLong(0) == inRange.map(i => dayTs(i).getTime * 1000L).min)
    assert(rs.getLong(1) == inRange.map(i => dayTs(i).getTime * 1000L).max)
    assert(rs.getLong(2) == inRange.size)
    // grouped key extremes under an aligned range stay metadata-only
    val qg = spark.sql(
      s"""SELECT sym, unix_micros(max(ts)) AS mx, count(*) AS n
         |FROM $cat.gold.h4 WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'
         |GROUP BY sym ORDER BY sym""".stripMargin)
    assert(plannedFiles(qg) == 0)
    val exp = (0 until 60).filter(i => i % 3 != 0)
      .groupBy(i => if (i % 2 == 0) "x" else "y").view
      .mapValues(is => (is.map(i => dayTs(i).getTime * 1000L).max, is.size.toLong))
      .toMap
    qg.collect().foreach { r =>
      val (mx, n) = exp(r.getString(0))
      assert(r.getLong(1) == mx && r.getLong(2) == n)
    }
  }

  test("null-key rows never ride an interior count") {
    val (cat, wh) = freshCatalog()
    val data = (0 until 30)
      .map(i => (if (i % 5 == 0) None else Some(dayTs(i)), 100L + i))
      .toDF("ts", "uid")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/h2"), data.schema, Some("ts"))
    t.append(data)
    val q = spark.sql(
      s"""SELECT count(*) AS n FROM $cat.gold.h2
         |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'""".stripMargin)
    val expected = (0 until 30).count(i => i % 5 != 0)
    assert(q.head().getLong(0) == expected,
      "null-ts rows are excluded by the predicate and must not be counted")
  }

  test("aggregates under a pure identity restriction stay metadata-only") {
    val (cat, wh) = freshCatalog()
    mkIdTable(cat, wh, "f1")
    val q = spark.sql(
      s"""SELECT count(*) AS n, count(opt) AS n_opt,
         |       min(ts) AS mn_ts, max(uid) AS mx_uid
         |FROM $cat.gold.f1 WHERE sym = 'a:b'""".stripMargin)
    assert(plannedFiles(q) == 0, "identity equality subsets files EXACTLY")
    val r = q.head()
    assert(r.getLong(0) == 20L && r.getLong(1) == 10L)
    assert(r.getTimestamp(2) == ts(1) && r.getLong(3) == 158L)
    val qIn = spark.sql(
      s"SELECT count(*) AS n FROM $cat.gold.f1 WHERE sym IN ('alpha', 'z')")
    assert(plannedFiles(qIn) == 0)
    assert(qIn.head().getLong(0) == 40L)
    // grouped + restricted composes
    val qG = spark.sql(
      s"""SELECT sym, count(*) AS n FROM $cat.gold.f1
         |WHERE sym IN ('alpha', 'z') GROUP BY sym""".stripMargin)
    assert(plannedFiles(qG) == 0)
    assert(qG.collect().map(r2 => r2.getString(0) -> r2.getLong(1)).toMap ==
      Map("alpha" -> 20L, "z" -> 20L))
    // a value matching no dir answers 0 without a scan
    val q0 = spark.sql(s"SELECT count(*) AS n FROM $cat.gold.f1 WHERE sym = 'nope'")
    assert(plannedFiles(q0) == 0)
    assert(q0.head().getLong(0) == 0L)
  }

  test("DISTINCT under an identity restriction is metadata-only") {
    val (cat, wh) = freshCatalog()
    mkIdTable(cat, wh, "f3")
    val q = spark.sql(
      s"SELECT DISTINCT sym FROM $cat.gold.f3 WHERE sym IN ('a:b', 'z', 'nope')")
    assert(plannedFiles(q) == 0)
    assert(q.collect().map(_.getString(0)).sorted.toSeq == Seq("a:b", "z"))
  }

  test("non-identity or residual conjuncts fall back and stay exact") {
    val (cat, wh) = freshCatalog()
    mkIdTable(cat, wh, "f2")
    val q1 = spark.sql(
      s"SELECT count(*) AS n FROM $cat.gold.f2 WHERE sym = 'z' AND uid > 140")
    assert(plannedFiles(q1) > 0, "the uid conjunct is not an identity restriction")
    assert(q1.head().getLong(0) == (0 until 60).count(i => i % 3 == 2 && 100 + i > 140))
    val q2 = spark.sql(
      s"SELECT count(*) AS n FROM $cat.gold.f2 WHERE sym != 'z'")
    assert(plannedFiles(q2) > 0, "negation is not a finite identity set")
    assert(q2.head().getLong(0) == 40L)
  }

  test("sum(col) under write.sum-columns is metadata-only — nulls, ANSI proof, legacy") {
    val (cat, wh) = freshCatalog()
    // opt: null for odd i (files 1,3 all-null after the 4-way split);
    // neg: mixed sign — the ANSI no-overflow proof must refuse it
    val data = (0 until 60)
      .map(i => (ts(i), 100L + i,
        if (i % 2 == 1) None else Some(100L + i), i.toLong - 30L))
      .toDF("ts", "uid", "opt", "neg")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/tsum"), data.schema, Some("ts"))
    t.setProperty("write.stats-columns", "uid,opt,neg")
    t.setProperty("write.sum-columns", "uid,opt,neg")
    (0 until 4).foreach(r => t.append(
      data.filter(pmod(col("uid"), lit(4)) === r).coalesce(1)))
    val info = t.metadataAggInfo().get
    assert(info.colSums.get("uid").contains((0 until 60).map(100L + _).sum))
    assert(info.colSums.get("opt").contains(
      (0 until 60 by 2).map(100L + _).sum))
    assert(info.colSumSafe.contains("uid") && info.colSumSafe.contains("opt"),
      s"non-negative columns must prove sign-uniformity: ${info.colSumSafe}")
    // round 17 (VERDICT r16 #4): SMALL mixed-sign columns now prove
    // too — Σ of per-member absolute-sum bounds fits a Long, so no
    // interleaving can overflow where the r16 sign proof refused
    assert(info.colSumSafe.contains("neg"),
      s"small mixed-sign must prove via Σ|bounds|: ${info.colSumSafe}")
    assert(info.colAbsSums.contains("neg"), "the abs roll-up must be recorded")
    // ANSI (the session default): proven columns answer from metadata
    val q = spark.sql(
      s"SELECT sum(uid) AS su, sum(opt) AS so FROM $cat.gold.tsum")
    assert(plannedFiles(q) == 0, "proven sums must not plan a scan")
    assert(q.head().getLong(0) == (0 until 60).map(100L + _).sum)
    assert(q.head().getLong(1) == (0 until 60 by 2).map(100L + _).sum)
    // small mixed-sign serves under ANSI now — and stays exact
    val qNeg = spark.sql(s"SELECT sum(neg) AS sn FROM $cat.gold.tsum")
    assert(plannedFiles(qNeg) == 0,
      "small mixed-sign ANSI sums serve via the Σ|bounds| proof")
    assert(qNeg.head().getLong(0) == (0 until 60).map(_.toLong - 30L).sum)
    // LEGACY mode needs no proof: wrapped arithmetic is associative,
    // and the exact Long-fitting total IS the wrapped answer
    withSqlConf("spark.sql.ansi.enabled" -> "false") {
      val qL = spark.sql(s"SELECT sum(neg) AS sn FROM $cat.gold.tsum")
      assert(plannedFiles(qL) == 0, "legacy sums serve without the sign proof")
      assert(qL.head().getLong(0) == (0 until 60).map(_.toLong - 30L).sum)
    }
    // ADVERSARIAL mixed-sign: per-file sums and the total fit a Long
    // but Σ|member sums| does not — the whole-table ANSI sum must bail
    // to the scan (and legacy still serves: wrap is associative)
    val big = Long.MaxValue - 5L
    val adv = Seq((ts(0), big), (ts(30), -big)).toDF("ts", "v")
    val ta = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/tadv"), adv.schema, Some("ts"))
    ta.setProperty("write.stats-columns", "v")
    ta.setProperty("write.sum-columns", "v")
    ta.append(adv.filter(col("v") > 0).coalesce(1))
    ta.append(adv.filter(col("v") < 0).coalesce(1))
    val infoAdv = ta.metadataAggInfo().get
    assert(infoAdv.colSums.get("v").contains(0L))
    assert(!infoAdv.colSumSafe.contains("v"),
      "Σ|member sums| past Long range must not prove")
    assert(!infoAdv.colAbsSums.contains("v"))
    val qAdv = spark.sql(s"SELECT sum(v) AS sv FROM $cat.gold.tadv")
    assert(plannedFiles(qAdv) > 0, "unprovable ANSI sums must scan")
    assert(qAdv.head().getLong(0) == 0L)
    withSqlConf("spark.sql.ansi.enabled" -> "false") {
      val qAdvL = spark.sql(s"SELECT sum(v) AS sv FROM $cat.gold.tadv")
      assert(plannedFiles(qAdvL) == 0)
      assert(qAdvL.head().getLong(0) == 0L)
    }
    // sum(DISTINCT) and double sums never serve
    val qD = spark.sql(s"SELECT sum(DISTINCT uid) AS sd FROM $cat.gold.tsum")
    assert(plannedFiles(qD) > 0)
    assert(qD.head().getLong(0) == (0 until 60).map(100L + _).sum)
    // the DataFrame spelling reaches the same rewrite (the bare
    // relation stays unexpanded at analysis)
    val qDf = spark.table(s"$cat.gold.tsum").agg(sum("uid").as("su"))
    assert(plannedFiles(qDf) == 0, "df.agg(sum) must serve from metadata")
    assert(qDf.head().getLong(0) == (0 until 60).map(100L + _).sum)
    // and time travel serves from the pinned snapshot's own roll-ups
    val vNow = t.metadata.currentSnapshotId.get
    val qTt = spark.sql(
      s"SELECT sum(uid) AS su FROM $cat.gold.tsum VERSION AS OF $vNow")
    assert(plannedFiles(qTt) == 0, "pinned sums serve from the pinned refs")
    assert(qTt.head().getLong(0) == (0 until 60).map(100L + _).sum)
  }

  test("avg(col) pushdown: the 2^53 determinism proof gates the double arithmetic") {
    val (cat, wh) = freshCatalog()
    // small magnitudes: avg serves from sum + count, bit-identical to
    // the scan (Spark's integral Average accumulates in DOUBLE — the
    // proof is what makes the scan's sum order-independent)
    val data = (0 until 60)
      .map(i => (ts(i), 100L + i, if (i % 2 == 1) None else Some(100L + i)))
      .toDF("ts", "uid", "opt")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/tavg"), data.schema, Some("ts"))
    t.setProperty("write.stats-columns", "uid,opt")
    t.setProperty("write.sum-columns", "uid,opt")
    (0 until 4).foreach(r => t.append(
      data.filter(pmod(col("uid"), lit(4)) === r).coalesce(1)))
    val q = spark.sql(
      s"SELECT avg(uid) AS au, avg(opt) AS ao FROM $cat.gold.tavg")
    assert(plannedFiles(q) == 0, "proven avg must not plan a scan")
    val expectedAu = (0 until 60).map(100L + _).sum.toDouble / 60.0
    val expectedAo = (0 until 60 by 2).map(100L + _).sum.toDouble / 30.0
    assert(q.head().getDouble(0) == expectedAu && q.head().getDouble(1) == expectedAo)
    // the DataFrame spelling and the DSv2 surface serve it too
    val qDf = spark.table(s"$cat.gold.tavg").agg(avg("uid").as("a"))
    assert(plannedFiles(qDf) == 0 && qDf.head().getDouble(0) == expectedAu)
    // magnitudes past 2^53 (but Long-fitting, sign-uniform): SUM still
    // serves under ANSI, avg must BAIL — double accumulation order
    // could change low bits, so the metadata answer is not provably
    // the scan's answer
    val big = 1L << 53
    val adv = (0 until 4).map(i => (ts(i), big)).toDF("ts", "v")
    val ta = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/tavg2"), adv.schema, Some("ts"))
    ta.setProperty("write.stats-columns", "v")
    ta.setProperty("write.sum-columns", "v")
    (0 until 4).foreach(i => ta.append(adv.filter(col("ts") === ts(i)).coalesce(1)))
    val qSum = spark.sql(s"SELECT sum(v) AS sv FROM $cat.gold.tavg2")
    assert(plannedFiles(qSum) == 0, "the Long-fitting sum still serves")
    assert(qSum.head().getLong(0) == 4L * big)
    val qAvg = spark.sql(s"SELECT avg(v) AS av FROM $cat.gold.tavg2")
    assert(plannedFiles(qAvg) > 0, "avg past the 2^53 proof must scan")
    assert(qAvg.head().getDouble(0) == big.toDouble)
    // all-null avg is a typed NULL without a scan
    val nul = (0 until 8).map(i => (ts(i), None: Option[Long])).toDF("ts", "o")
    val tn = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/tavg3"), nul.schema, Some("ts"))
    tn.setProperty("write.stats-columns", "o")
    tn.setProperty("write.sum-columns", "o")
    tn.append(nul.coalesce(1))
    val qN = spark.sql(s"SELECT avg(o) AS ao FROM $cat.gold.tavg3")
    assert(plannedFiles(qN) == 0)
    assert(qN.head().isNullAt(0))
  }

  test("sum facts survive COW deletes and bail on imports and masks") {
    val (cat, wh) = freshCatalog()
    val data = (0 until 60).map(i => (ts(i), 100L + i)).toDF("ts", "uid")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/tsum2"), data.schema, Some("ts"))
    t.setProperty("write.stats-columns", "uid")
    t.setProperty("write.sum-columns", "uid")
    (0 until 4).foreach(r => t.append(
      data.filter(pmod(col("uid"), lit(4)) === r).coalesce(1)))
    spark.sql(s"DELETE FROM $cat.gold.tsum2 WHERE uid >= 150")
    val q = spark.sql(s"SELECT sum(uid) AS su FROM $cat.gold.tsum2")
    assert(plannedFiles(q) == 0,
      "COW-rewritten survivors re-earn their sums at write")
    assert(q.head().getLong(0) == (100L until 150L).sum)
    // a live MoR mask disables the whole info (nothing provable)
    t.morDeleteKeys(Seq(ts(3)).toDF("ts"), "ts")
    val qM = spark.sql(s"SELECT sum(uid) AS su FROM $cat.gold.tsum2")
    assert(plannedFiles(qM) > 0)
    assert(qM.head().getLong(0) == (100L until 150L).sum - 103L)
  }

  test("sum composes with identity restrictions; imports earn sums at compaction") {
    import graft.lake.LakehouseTable
    val (cat, wh) = freshCatalog()
    // identity-partitioned: `WHERE sym = 'A'` keeps the aggregate
    // metadata-only, and the restricted file subset's sums are exact
    val data = (0 until 60)
      .map(i => (if (i % 2 == 0) "A" else "B", ts(i), 100L + i))
      .toDF("sym", "ts", "uid")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/tsum3"), data.schema,
      Seq("sym" -> "identity", "ts" -> "day"))
    t.setProperty("write.stats-columns", "uid")
    t.setProperty("write.sum-columns", "uid")
    (0 until 2).foreach(r => t.append(data.filter(pmod(col("uid"), lit(2)) === r)))
    val q = spark.sql(
      s"SELECT sum(uid) AS su FROM $cat.gold.tsum3 WHERE sym = 'A'")
    assert(plannedFiles(q) == 0, "restricted sums must serve from the subset's entries")
    assert(q.head().getLong(0) == (0 until 60 by 2).map(100L + _).sum)
    // an addFiles IMPORT never carries sums (no data pages are read) —
    // sum bails; a native compaction rewrite earns them
    val imp = (0 until 20).map(i => (ts(i), 100L + i)).toDF("ts", "uid")
    val t2 = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/tsum4"), imp.schema, Some("ts"), "day")
    t2.setProperty("write.stats-columns", "uid")
    t2.setProperty("write.sum-columns", "uid")
    val staged = tmpDir("gagg-sum-staged")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    imp.withColumn("ts_day", lit(20240101))
      .repartition(2).write.mode("overwrite").partitionBy("ts_day").parquet(staged)
    t2.addFiles(new org.apache.hadoop.fs.Path(staged))
    assert(t2.metadataAggInfo().get.colSums.isEmpty,
      "imports must not fabricate sums")
    val qI = spark.sql(s"SELECT sum(uid) AS su FROM $cat.gold.tsum4")
    assert(plannedFiles(qI) > 0, "sum over an import must scan")
    assert(qI.head().getLong(0) == (0 until 20).map(100L + _).sum)
    t2.compact()
    val qC = spark.sql(s"SELECT sum(uid) AS su FROM $cat.gold.tsum4")
    assert(plannedFiles(qC) == 0,
      "compaction rewrites natively and earns the per-file sums")
    assert(qC.head().getLong(0) == (0 until 20).map(100L + _).sum)
  }

  test("metadataAggInfo reports exact roll-up facts") {
    val (_, wh) = freshCatalog()
    val t = mkTable("unused", wh, "t11")
    val info = t.metadataAggInfo().get
    assert(info.rows == 60L)
    assert(info.keyBoundsUs.contains(
      (ts(0).getTime * 1000L, ts(59).getTime * 1000L)))
    assert(info.colBounds.get("uid").contains((100L, 159L)))
    assert(info.colNulls.get("opt").contains(30L))
    assert(!info.colBounds.contains("s"), "string bounds never ride the long roll-up")
    assert(info.colMinS.get("s").contains("u000") &&
      info.colMaxS.get("s").contains("u059"),
      "short native-written strings roll up EXACT extremes (round 16)")
    t.morDeleteKeys(Seq(ts(3)).toDF("ts"), "ts")
    assert(t.metadataAggInfo().isEmpty, "live masks make nothing provable")
  }

  test("a malformed spark.graft.sql.metadata-aggregates fails naming the key and value") {
    val (cat, wh) = freshCatalog()
    mkTable(cat, wh, "tconf1")
    withSqlConf("spark.graft.sql.metadata-aggregates" -> "yes") {
      val e = intercept[IllegalArgumentException](
        spark.sql(s"SELECT count(*) AS n FROM $cat.gold.tconf1"))
      assert(e.getMessage.contains("spark.graft.sql.metadata-aggregates") &&
        e.getMessage.contains("'yes'"), e.getMessage)
    }
  }

  test("a malformed spark.graft.sql.expansion-enabled fails naming the key and value") {
    val (cat, wh) = freshCatalog()
    mkTable(cat, wh, "tconf2")
    withSqlConf("spark.graft.sql.expansion-enabled" -> "yes") {
      val e = intercept[IllegalArgumentException](
        spark.sql(s"SELECT count(*) AS n FROM $cat.gold.tconf2"))
      assert(e.getMessage.contains("spark.graft.sql.expansion-enabled") &&
        e.getMessage.contains("'yes'"), e.getMessage)
    }
  }

  test("served answers collect a bare LocalTableScan and launch no Spark job") {
    val (cat, wh) = freshCatalog()
    val t = mkTable(cat, wh, "z1")
    val vPre = t.metadata.currentSnapshotId.get
    spark.sql(s"DELETE FROM $cat.gold.z1 WHERE uid >= 150")
    mkIdTable(cat, wh, "z2")
    mkDayTable(cat, wh, "z3")
    val cases = Seq(
      "plain" -> s"SELECT count(*) AS n, min(ts) AS mn, max(uid) AS mx FROM $cat.gold.z1",
      "VERSION AS OF" ->
        s"SELECT count(*) AS n, max(uid) AS mx FROM $cat.gold.z1 VERSION AS OF $vPre",
      "identity WHERE" ->
        s"SELECT count(*) AS n, max(uid) AS mx FROM $cat.gold.z2 WHERE sym = 'a:b'",
      // every overlapping file is bounds-interior: the range count's
      // pure-metadata answer
      "interior range count" ->
        s"""SELECT count(*) AS n FROM $cat.gold.z3
           |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
           |  AND ts < TIMESTAMP '2024-02-01 00:00:00'""".stripMargin,
      "GROUP BY sym" -> s"SELECT sym, count(*) AS n FROM $cat.gold.z2 GROUP BY sym")
    cases.foreach { case (what, sql) =>
      val q = spark.sql(sql)
      val (rows, jobs) = jobsDuring(q.collect().toSeq)
      assert(q.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec],
        s"$what: expected a bare LocalTableScan, got\n${q.queryExecution.executedPlan}")
      assert(jobs == 0, s"$what: the served answer started $jobs Spark job(s)")
      val scanned = withSqlConf("spark.graft.sql.metadata-aggregates" -> "false") {
        val plain = spark.sql(sql)
        assert(plannedFiles(plain) > 0, s"$what: the switched-off plan must scan")
        plain.collect().toSeq
      }
      assert(rows.map(_.toString).sorted == scanned.map(_.toString).sorted,
        s"$what: served $rows, scanned $scanned")
    }
  }

  test("the DSv2 pushed answer collects on the driver and launches no Spark job") {
    val (cat, wh) = freshCatalog()
    mkTable(cat, wh, "z4")
    mkIdTable(cat, wh, "z5")
    Seq(s"SELECT count(*) AS n, max(uid) AS mx FROM $cat.gold.z4",
        s"SELECT sym, count(*) AS n FROM $cat.gold.z5 GROUP BY sym").foreach { sql =>
      val ruled = spark.sql(sql).collect().map(_.toString).sorted.toSeq
      withSqlConf("spark.graft.sql.expansion-enabled" -> "false") {
        val q = spark.sql(sql)
        val (rows, jobs) = jobsDuring(q.collect().toSeq)
        assert(q.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec] &&
          q.queryExecution.optimizedPlan.exists {
            case DataSourceV2ScanRelation(_, _: GraftMetadataAggScan, _, _, _) => true
            case _ => false
          },
          s"$sql: expected the pushed answer as a bare LocalTableScan, got\n${q.queryExecution.executedPlan}")
        assert(jobs == 0, s"$sql: the pushed answer started $jobs Spark job(s)")
        assert(rows.map(_.toString).sorted == ruled, s"$sql: pushed $rows, the rule answered $ruled")
      }
    }
  }

  test("a loaded relation answers from the one metadata version it read") {
    val (cat, wh) = freshCatalog()
    mkTable(cat, wh, "pin1")
    val catalog = spark.sessionState.catalogManager.catalog(cat).asInstanceOf[GraftCatalog]
    def load(): GraftSqlTable =
      catalog.loadTable(Identifier.of(Array("gold"), "pin1")).asInstanceOf[GraftSqlTable]
    def countStar(g: GraftSqlTable): Any =
      new MetadataAggCore(g).answer(Seq(MetadataAggCore.Ask.CountStar)).get.head.value
    val g = load()
    val name0 = g.name()
    val schema0 = g.schema
    val parts0 = g.partitioning().map(_.toString).toSeq
    // a second handle commits rows, a column, a spec and a property
    val other = LakehouseTable.load(spark, new Path(wh, "gold/pin1"))
    other.append(Seq((ts(60), 160L, "u060", Some(160L), 6.0))
      .toDF("ts", "uid", "s", "opt", "d"))
    other.addColumn("extra", org.apache.spark.sql.types.LongType)
    other.evolvePartitionSpec(Seq("ts" -> "day"))
    other.setProperty("pin.probe", "1")
    assert(g.name() == name0)
    assert(g.schema == schema0 && !g.schema.fieldNames.contains("extra"))
    assert(g.partitioning().map(_.toString).toSeq == parts0)
    assert(!g.properties().containsKey("pin.probe"))
    assert(countStar(g) == 60L)
    val fresh = load()
    assert(fresh.schema.fieldNames.contains("extra"))
    assert(fresh.partitioning().map(_.toString).toSeq != parts0)
    assert(fresh.properties().containsKey("pin.probe"))
    assert(countStar(fresh) == 61L)
  }
}
