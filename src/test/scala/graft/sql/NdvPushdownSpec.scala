package graft.sql

import graft.SparkSpec
import graft.lake.{LakehouseTable, NdvSketch}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** `approx_count_distinct` metadata pushdown (round 18 —
  * [[graft.lake.NdvSketch]] / `write.ndv-columns`): per-file HLL++
  * register sketches recorded by the write pass with Spark's OWN
  * aggregate update code merge — register max, associative and
  * idempotent — into exactly the register state a scan reaches, so the
  * served estimate equals the scan's BIT-FOR-BIT, not within an error
  * bound. Every unprovable case (undeclared column, import without
  * sketches, precision mismatch, rename, widen, live merge-on-read
  * masks) bails to the scan, whose answer the legs assert equal.
  */
class NdvPushdownSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  private def freshCatalog(): (String, String) = {
    n += 1
    val cat = s"gndv$n"
    val wh = tmpDir("gndv-wh")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gold")
    (cat, wh)
  }

  /** The same query through the normal scan expansion — the truth the
    * metadata answer must equal bit-for-bit.
    */
  private def scanTruth(sql: String): org.apache.spark.sql.Row = {
    spark.conf.set("spark.graft.sql.metadata-aggregates", "false")
    try {
      val q = spark.sql(sql)
      assert(plannedFiles(q) > 0, "truth leg must actually scan")
      q.head()
    } finally spark.conf.unset("spark.graft.sql.metadata-aggregates")
  }

  private def ts(i: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:00:${i / 60}%02d.${(i % 60) * 1000}%06d")

  /** 80 rows over 4 files: uid repeats every 17 (real duplicates), s
    * repeats every 7, amt a DECIMAL(12,2) repeating every 11, d a
    * double repeating every 13 with a NaN and a -0.0, opt null on odd
    * rows. Values repeat ACROSS files, so the merge is load-bearing —
    * per-file distinct counts do not add up to the union's.
    */
  private def mkTable(cat: String, wh: String, name: String): LakehouseTable = {
    val data = (0 until 80)
      .map { i =>
        val d = if (i == 3) Double.NaN else if (i == 5) -0.0 else (i % 13) / 10.0
        (ts(i), (100 + i % 17).toLong, f"u${i % 7}%03d",
          if (i % 2 == 1) None else Some((i % 11).toLong), d)
      }
      .toDF("ts", "uid", "s", "opt", "d")
      .withColumn("amt", (col("opt") * 25).cast("decimal(12,2)"))
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, s"gold/$name"), data.schema, Some("ts"))
    t.setProperty("write.ndv-columns", "uid,s,opt,d,amt")
    (0 until 4).foreach(r => t.append(data.filter(col("uid") % 4 === r)))
    t
  }

  test("approx_count_distinct serves metadata-only and equals the scan bit-for-bit") {
    val (cat, wh) = freshCatalog()
    mkTable(cat, wh, "t1")
    val sql =
      s"""SELECT approx_count_distinct(uid) AS uid_ndv,
         |       approx_count_distinct(s) AS s_ndv,
         |       approx_count_distinct(opt) AS opt_ndv,
         |       approx_count_distinct(d) AS d_ndv,
         |       approx_count_distinct(amt) AS amt_ndv
         |FROM $cat.gold.t1""".stripMargin
    val q = spark.sql(sql)
    assert(plannedFiles(q) == 0, "declared ndv columns must not plan a scan")
    val served = q.head()
    val truth = scanTruth(sql)
    (0 until 5).foreach(i => assert(served.getLong(i) == truth.getLong(i),
      s"column $i: served ${served.getLong(i)} != scan ${truth.getLong(i)}"))
    // the estimates are real NDV values (tight data: estimate ≈ exact)
    assert(served.getLong(0) == 17L && served.getLong(1) == 7L)
    // the DataFrame spelling rides the same rewrite (the bare relation
    // stays unexpanded for later passes — round 16 machinery)
    val dfQ = spark.table(s"$cat.gold.t1")
      .agg(approx_count_distinct($"uid").as("v"))
    assert(plannedFiles(dfQ) == 0, "DataFrame agg chain must not plan a scan")
    assert(dfQ.head().getLong(0) == served.getLong(0))
    val dfG = spark.table(s"$cat.gold.t1")
      .groupBy(year($"ts").as("y")).agg(approx_count_distinct($"s").as("v"))
    assert(plannedFiles(dfG) == 0,
      "grouped DataFrame ndv over a time-derived dim must not plan a scan")
    assert(dfG.head().getLong(1) == served.getLong(1))
  }

  test("undeclared columns and non-default rsd bail to an equal scan") {
    val (cat, wh) = freshCatalog()
    mkTable(cat, wh, "t2")
    // ts is not declared → scan; answer still right
    val q1 = spark.sql(s"SELECT approx_count_distinct(ts) AS v FROM $cat.gold.t2")
    assert(plannedFiles(q1) > 0, "undeclared column must scan")
    assert(q1.head().getLong(0) ==
      scanTruth(s"SELECT approx_count_distinct(ts) AS v FROM $cat.gold.t2").getLong(0))
    // non-default rsd → different register precision → the recorded
    // sketches are not the query's registers → scan
    val q2 = spark.sql(
      s"SELECT approx_count_distinct(uid, 0.01) AS v FROM $cat.gold.t2")
    assert(plannedFiles(q2) > 0, "precision mismatch must scan")
    assert(q2.head().getLong(0) ==
      scanTruth(s"SELECT approx_count_distinct(uid, 0.01) AS v FROM $cat.gold.t2").getLong(0))
    // matching EXPLICIT rsd (0.05 = the recorded default) serves
    val q3 = spark.sql(
      s"SELECT approx_count_distinct(uid, 0.05) AS v FROM $cat.gold.t2")
    assert(plannedFiles(q3) == 0, "explicit matching rsd serves")
  }

  test("grouped and identity-restricted approx_count_distinct serve per group") {
    val (cat, wh) = freshCatalog()
    val data = (0 until 90)
      .map(i => (s"s${i % 3}", ts(i), (i % 19).toLong))
      .toDF("sym", "ts", "uid")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/t3"), data.schema,
      Seq("sym" -> "identity", "ts" -> "day"))
    t.setProperty("write.ndv-columns", "uid")
    (0 until 2).foreach(r => t.append(data.filter(col("uid") % 2 === r)))
    val sqlG =
      s"""SELECT sym, approx_count_distinct(uid) AS v
         |FROM $cat.gold.t3 GROUP BY sym ORDER BY sym""".stripMargin
    val qG = spark.sql(sqlG)
    assert(plannedFiles(qG) == 0, "grouped ndv must not plan a scan")
    val servedG = qG.collect().map(r => (r.getString(0), r.getLong(1)))
    spark.conf.set("spark.graft.sql.metadata-aggregates", "false")
    val truthG =
      try spark.sql(sqlG).collect().map(r => (r.getString(0), r.getLong(1)))
      finally spark.conf.unset("spark.graft.sql.metadata-aggregates")
    assert(servedG.sameElements(truthG))
    // identity restriction: the subset's merged sketch, zero files
    val sqlR =
      s"SELECT approx_count_distinct(uid) AS v FROM $cat.gold.t3 WHERE sym = 's1'"
    val qR = spark.sql(sqlR)
    assert(plannedFiles(qR) == 0, "identity-restricted ndv must not plan a scan")
    assert(qR.head().getLong(0) == scanTruth(sqlR).getLong(0))
    // a TIME range cannot serve (a straddling file's sketch covers
    // excluded rows) — bails to an equal scan
    val sqlT = s"SELECT approx_count_distinct(uid) AS v FROM $cat.gold.t3 " +
      "WHERE ts >= TIMESTAMP '2024-01-01 00:00:00.030'"
    val qT = spark.sql(sqlT)
    assert(plannedFiles(qT) > 0, "range-restricted ndv must scan")
    assert(qT.head().getLong(0) == scanTruth(sqlT).getLong(0))
  }

  test("GROUPED hybrid range ndv: interior groups from sketches, straddlers scan and merge") {
    val (cat, wh) = freshCatalog()
    val data = (0 until 90)
      .map(i => (s"s${i % 3}", ts(i), (i % 19).toLong))
      .toDF("sym", "ts", "uid")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/t11"), data.schema,
      Seq("sym" -> "identity", "ts" -> "day"))
    t.setProperty("write.ndv-columns", "uid")
    (0 until 2).foreach(r => t.append(data.filter(col("uid") % 2 === r)))
    val nFiles = t.currentDataFiles.size
    val mnUs = spark.sql(s"SELECT unix_micros(min(ts)) AS v FROM $cat.gold.t11")
      .head().getLong(0)
    val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    def tsLit(us: Long): String = {
      val ldt = java.time.Instant.EPOCH
        .plus(us, java.time.temporal.ChronoUnit.MICROS).atZone(zone).toLocalDateTime
      s"TIMESTAMP '${fmt.format(ldt)}'"
    }
    def collectG(sql: String): Seq[(String, Long, Long)] =
      spark.sql(sql).collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // covering range: every file interior — per-group registers merge
    // from metadata alone, zero files planned
    val sqlCov = s"SELECT sym, count(*) AS n, approx_count_distinct(uid) AS v " +
      s"FROM $cat.gold.t11 WHERE ts >= ${tsLit(mnUs)} GROUP BY sym ORDER BY sym"
    val qCov = spark.sql(sqlCov)
    assert(plannedFiles(qCov) == 0, "covering grouped range ndv must be interior-only")
    val served = collectG(sqlCov)
    spark.conf.set("spark.graft.sql.metadata-aggregates", "false")
    val truth = try collectG(sqlCov)
      finally spark.conf.unset("spark.graft.sql.metadata-aggregates")
    assert(served == truth, s"covering: $served != $truth")
    // one µs in: only the min-bounded straddler(s) scan; their
    // boundary registers union with the interior groups' — per-group
    // values bit-equal to the scan
    val sqlHyb = s"SELECT sym, count(*) AS n, approx_count_distinct(uid) AS v " +
      s"FROM $cat.gold.t11 WHERE ts >= ${tsLit(mnUs + 1)} GROUP BY sym ORDER BY sym"
    val qHyb = spark.sql(sqlHyb)
    val scanned = plannedFiles(qHyb)
    assert(scanned > 0 && scanned < nFiles,
      s"grouped hybrid must scan only straddlers, scanned $scanned of $nFiles")
    val servedH = collectG(sqlHyb)
    spark.conf.set("spark.graft.sql.metadata-aggregates", "false")
    val truthH = try collectG(sqlHyb)
      finally spark.conf.unset("spark.graft.sql.metadata-aggregates")
    assert(servedH == truthH, s"hybrid: $servedH != $truthH")
  }

  test("hybrid range ndv: interiors serve from sketches, only straddlers scan") {
    val (cat, wh) = freshCatalog()
    val t = mkTable(cat, wh, "t9")
    val nFiles = t.currentDataFiles.size
    val mnUs = spark.sql(s"SELECT unix_micros(min(ts)) AS v FROM $cat.gold.t9")
      .head().getLong(0)
    val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    def tsLit(us: Long): String = {
      val ldt = java.time.Instant.EPOCH
        .plus(us, java.time.temporal.ChronoUnit.MICROS).atZone(zone).toLocalDateTime
      s"TIMESTAMP '${fmt.format(ldt)}'"
    }
    // a COVERING range keeps every file interior: registers merge from
    // metadata alone, zero files planned
    val sqlCover = s"SELECT approx_count_distinct(uid) AS v FROM $cat.gold.t9 " +
      s"WHERE ts >= ${tsLit(mnUs)}"
    val qC = spark.sql(sqlCover)
    assert(plannedFiles(qC) == 0, "covering-range ndv must be interior-only")
    assert(qC.head().getLong(0) == scanTruth(sqlCover).getLong(0))
    // one µs in: the min-bounded file straddles — the hybrid scans ONLY
    // it and unions its registers with the interiors'
    val sqlH = s"SELECT approx_count_distinct(uid) AS v FROM $cat.gold.t9 " +
      s"WHERE ts >= ${tsLit(mnUs + 1)}"
    val qH = spark.sql(sqlH)
    val scanned = plannedFiles(qH)
    assert(scanned > 0 && scanned < nFiles,
      s"hybrid must scan only the straddlers, scanned $scanned of $nFiles")
    assert(qH.head().getLong(0) == scanTruth(sqlH).getLong(0),
      "the union of boundary + interior registers must equal the scan bit-for-bit")
    // composes with co-occurring range count in one aggregate list
    val sqlMix = s"SELECT count(*) AS n, approx_count_distinct(s) AS v " +
      s"FROM $cat.gold.t9 WHERE ts >= ${tsLit(mnUs + 1)}"
    val qM = spark.sql(sqlMix)
    assert(plannedFiles(qM) < nFiles)
    val truthM = scanTruth(sqlMix)
    assert(qM.head().getLong(0) == truthM.getLong(0) &&
      qM.head().getLong(1) == truthM.getLong(1))
  }

  test("imports bail until compaction re-earns; live MoR masks bail") {
    val (cat, wh) = freshCatalog()
    val t = mkTable(cat, wh, "t4")
    // stage a foreign parquet file and import it — no data pages read,
    // no sketch, the whole-table fold must bail
    val staged = new Path(wh, "staged-ndv")
    val extra = Seq((ts(200), 999L, "zzz", Some(1L), 0.5))
      .toDF("ts", "uid", "s", "opt", "d")
      .withColumn("amt", lit(java.math.BigDecimal.valueOf(1.25)).cast("decimal(12,2)"))
    extra.coalesce(1).write.parquet(new Path(staged, "ts_year=2024").toString)
    t.addFiles(staged)
    val sql = s"SELECT approx_count_distinct(uid) AS v FROM $cat.gold.t4"
    val q1 = spark.sql(sql)
    assert(plannedFiles(q1) > 0, "a sketch-less import must bail the fold")
    assert(q1.head().getLong(0) == scanTruth(sql).getLong(0))
    // compaction is a native write — sketches re-earn
    t.compact()
    val q2 = spark.sql(sql)
    assert(plannedFiles(q2) == 0, "compaction re-earns the sketches")
    assert(q2.head().getLong(0) == scanTruth(sql).getLong(0))
    // a live merge-on-read mask removes rows no sketch can subtract
    t.morDeleteKeys(Seq(101L).toDF("uid"), "uid")
    val q3 = spark.sql(sql)
    assert(plannedFiles(q3) > 0, "live MoR masks must bail")
    assert(q3.head().getLong(0) == scanTruth(sql).getLong(0))
  }

  test("rename bails; int->long widen bails on the write-time type tag, compaction re-earns") {
    val (cat, wh) = freshCatalog()
    val data = (0 until 40).map(i => (ts(i), i % 9)).toDF("ts", "v")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/t5"), data.schema, Some("ts"))
    t.setProperty("write.ndv-columns", "v")
    t.append(data)
    assert(plannedFiles(spark.sql(
      s"SELECT approx_count_distinct(v) AS v FROM $cat.gold.t5")) == 0)
    // the recorded sketch hashed INT values; the widened scan hashes
    // LONG values — the type tag must refuse, the scan must answer
    t.widenColumn("v", org.apache.spark.sql.types.LongType)
    val sql = s"SELECT approx_count_distinct(v) AS v FROM $cat.gold.t5"
    val q = spark.sql(sql)
    assert(plannedFiles(q) > 0, "stale-typed sketches must not serve a widened column")
    assert(q.head().getLong(0) == scanTruth(sql).getLong(0))
    // compaction rewrites at the widened type — serves again
    t.compact()
    val q2 = spark.sql(sql)
    assert(plannedFiles(q2) == 0, "compaction re-records at the widened type")
    assert(q2.head().getLong(0) == scanTruth(sql).getLong(0))
    // rename: recorded under the historical physical name → bail
    t.renameColumn("v", "w")
    val sqlR = s"SELECT approx_count_distinct(w) AS v FROM $cat.gold.t5"
    val qR = spark.sql(sqlR)
    assert(plannedFiles(qR) > 0, "renamed columns must bail")
    assert(qR.head().getLong(0) == scanTruth(sqlR).getLong(0))
  }

  test("empty table serves 0; zero-row and all-null files record the merge identity") {
    val (cat, wh) = freshCatalog()
    val data = (0 until 10).map(i => (ts(i), Option.empty[Long])).toDF("ts", "v")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/t6"), data.schema, Some("ts"))
    t.setProperty("write.ndv-columns", "v")
    val qEmpty = spark.sql(s"SELECT approx_count_distinct(v) AS v FROM $cat.gold.t6")
    assert(plannedFiles(qEmpty) == 0 && qEmpty.head().getLong(0) == 0L,
      "empty table serves 0 without a scan")
    t.append(data) // all-null file: the sketch is the all-zero identity
    val q = spark.sql(s"SELECT approx_count_distinct(v) AS v FROM $cat.gold.t6")
    assert(plannedFiles(q) == 0 && q.head().getLong(0) == 0L,
      "an all-null column's merged sketch estimates 0")
    assert(t.currentDataFiles.forall(_.colNdv.exists(_.contains("v"))),
      "every native file records a sketch, the all-null one included")
  }

  test("time travel serves the PINNED snapshot's merged sketch") {
    val (cat, wh) = freshCatalog()
    val data1 = (0 until 20).map(i => (ts(i), (i % 5).toLong)).toDF("ts", "v")
    val data2 = (0 until 20).map(i => (ts(100 + i), (10 + i % 7).toLong)).toDF("ts", "v")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/t7"), data1.schema, Some("ts"))
    t.setProperty("write.ndv-columns", "v")
    val s1 = t.append(data1)
    t.append(data2)
    val q = spark.sql(
      s"SELECT approx_count_distinct(v) AS v FROM $cat.gold.t7 VERSION AS OF ${s1.id}")
    assert(plannedFiles(q) == 0, "time travel still answers from metadata")
    assert(q.head().getLong(0) == 5L)
    val qNow = spark.sql(s"SELECT approx_count_distinct(v) AS v FROM $cat.gold.t7")
    assert(plannedFiles(qNow) == 0 && qNow.head().getLong(0) == 12L)
  }

  test("property split-merge parity: merged file sketches equal the one-shot aggregate") {
    // the algebraic core, independent of the lake: for random value
    // sets split into k parts, the merged per-part register words give
    // the SAME estimate as one aggregate over the union — for every
    // recordable type class that hashes differently
    graft.functions.GraftExtensions.register(spark)
    val rnd = new scala.util.Random(20260816L)
    val p = NdvSketch.DefaultP
    (1 to 5).foreach { trial =>
      val nVals = 500 + rnd.nextInt(1500)
      val vals = Seq.fill(nVals)(rnd.nextInt(400).toLong)
      val parts = vals.grouped(math.max(1, nVals / (1 + rnd.nextInt(5)))).toSeq
      val encs = parts.map { part =>
        val words = part.toDF("v")
          .agg(expr(s"graft_hll_words(v, $p)")).head().getAs[Array[Byte]](0)
        NdvSketch.encode(p, "bigint", NdvSketch.packedBytesToWords(words))
      }
      val merged = NdvSketch.mergeEncoded(encs).get
      val direct = vals.toDF("v").agg(approx_count_distinct($"v")).head().getLong(0)
      assert(NdvSketch.estimate(merged).contains(direct),
        s"trial $trial: merged ${NdvSketch.estimate(merged)} != direct $direct")
    }
  }

  test("declaration traps: unknown column, non-atomic type, identity source, bad rsd") {
    val (_, wh) = freshCatalog()
    val data = Seq(("x", ts(0), Seq(1L), 1L)).toDF("sym", "ts", "arr", "v")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/t8"), data.schema,
      Seq("sym" -> "identity", "ts" -> "day"))
    val e1 = intercept[IllegalArgumentException](
      t.setProperty("write.ndv-columns", "nope"))
    assert(e1.getMessage.contains("unknown column"))
    val e2 = intercept[IllegalArgumentException](
      t.setProperty("write.ndv-columns", "arr"))
    assert(e2.getMessage.contains("non-atomic"))
    // an identity partition source lives in dir names, not data pages
    // — the write pass could never record a sketch for it (review r18)
    val e3 = intercept[IllegalArgumentException](
      t.setProperty("write.ndv-columns", "sym"))
    assert(e3.getMessage.contains("identity partition source"))
    t.setProperty("write.ndv-columns", "v") // atomic data column: accepted
    // rsd: malformed and past-the-band values refuse loudly instead of
    // silently recording nothing (review r18)
    val e4 = intercept[IllegalArgumentException](
      t.setProperty("write.ndv-rsd", "5%"))
    assert(e4.getMessage.contains("relative error"))
    val e5 = intercept[IllegalArgumentException](
      t.setProperty("write.ndv-rsd", "0.0001"))
    assert(e5.getMessage.contains("precision past"))
    t.setProperty("write.ndv-rsd", "0.02") // in-band: accepted
  }

  test("a declared non-default rsd records and serves AT that precision") {
    val (cat, wh) = freshCatalog()
    val data = (0 until 60).map(i => (ts(i), (i % 23).toLong)).toDF("ts", "v")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/t10"), data.schema, Some("ts"))
    t.setProperty("write.ndv-columns", "v")
    t.setProperty("write.ndv-rsd", "0.02")
    t.append(data)
    // the matching-rsd query serves; the bare default bails to a scan
    val sqlAt = s"SELECT approx_count_distinct(v, 0.02) AS v FROM $cat.gold.t10"
    val qAt = spark.sql(sqlAt)
    assert(plannedFiles(qAt) == 0, "the declared-rsd query must serve")
    assert(qAt.head().getLong(0) == scanTruth(sqlAt).getLong(0))
    val qDef = spark.sql(s"SELECT approx_count_distinct(v) AS v FROM $cat.gold.t10")
    assert(plannedFiles(qDef) > 0, "the default-rsd query records nothing to serve")
    // coverage judges against the DECLARED precision (review r18)
    val cov = spark.sql(
      s"SELECT servable, ndv_estimate, reason FROM $cat.gold.t10.ndv_coverage").head()
    assert(cov.getBoolean(0) && cov.getString(2) == "ok",
      s"declared-rsd coverage must read servable, got $cov")
    assert(cov.getLong(1) == qAt.head().getLong(0))
  }
}
