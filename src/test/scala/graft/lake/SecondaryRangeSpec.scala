package graft.lake

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Secondary RANGE pushdown (round 14): `WHERE uid BETWEEN a AND b`
  * prunes through per-file [[ColumnBounds]] AND the manifest-list
  * roll-ups — bounds-only by nature (blooms answer membership, not
  * ranges). Pins the literal-fold algebra of
  * [[PredicateBounds.rangeBounds]] and the zero-lost-rows contract of
  * [[LakehouseTable.planFiles]].
  */
class SecondaryRangeSpec extends SparkSpec {
  import spark.implicits._

  private def resolved(df: org.apache.spark.sql.DataFrame, sql: String) =
    df.filter(expr(sql)).queryExecution.analyzed match {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(c, _) => c
      case other => fail(s"expected a Filter plan, got $other")
    }

  test("rangeBounds folds conjuncts in both orders, strict and inclusive") {
    val probe = spark.range(1).select(col("id").as("uid"), col("id").as("other"))
    def rb(sql: String): (Option[Long], Option[Long]) =
      PredicateBounds.rangeBounds(resolved(probe, sql), "uid")
    assert(rb("uid >= 10 AND uid <= 20") == (Some(10L), Some(20L)))
    assert(rb("uid > 10 AND uid < 20") == (Some(11L), Some(19L)))
    assert(rb("10 <= uid AND 20 >= uid") == (Some(10L), Some(20L)))
    assert(rb("10 < uid AND 20 > uid") == (Some(11L), Some(19L)))
    assert(rb("uid = 15") == (Some(15L), Some(15L)))
    assert(rb("uid BETWEEN 3 AND 7") == (Some(3L), Some(7L)))
    // conjuncts tighten; other columns and disjunctions widen only
    assert(rb("uid >= 10 AND uid >= 12 AND other < 5") == (Some(12L), None))
    assert(rb("uid >= 10 OR uid <= 2") == (None, None))
    assert(rb("other = 3") == (None, None))
  }

  // four appends with disjoint contiguous uid bands (1000g .. 1000g+39)
  private def mkTable(name: String): LakehouseTable = {
    val proto = Seq((Timestamp.valueOf("2024-01-01 00:00:00"), 0L, 0.0))
      .toDF("ts", "uid", "value")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(tmpDir(name), "t"), proto.schema, Some("ts"))
    t.setProperty("write.stats-columns", "uid")
    (0 until 4).foreach { g =>
      val rows = (0 until 40).map { i =>
        val u = 1000L * g + i
        (Timestamp.valueOf(f"2024-01-01 00:00:00.$u%06d"), u, u.toDouble)
      }.toDF("ts", "uid", "value").coalesce(1)
      t.append(rows)
    }
    t
  }

  test("range reads prune manifests unopened and lose no rows") {
    val t = mkTable("sr-e2e")
    SnapshotLog.clearPlanningCache()
    val before = SnapshotLog.manifestParseCount.get()
    val df = t.readPlanned(FilePruning(longRanges = Seq(("uid", 2010L, 2025L))))
    val parsed = SnapshotLog.manifestParseCount.get() - before
    assert(parsed <= 2, s"expected ≤ 2 metadata parses (list + 1 manifest), got $parsed")
    assert(plannedFiles(df) == 1, "only the covering band's file plans")
    // superset contract: every row in range present (exact filter is
    // the caller's job above the splice)
    val inRange = df.filter(col("uid").between(2010L, 2025L))
      .select("uid").as[Long].collect().sorted.toSeq
    assert(inRange == (2010L to 2025L))
    // a range between bands plans zero files
    assert(t.readPlanned(FilePruning(longRanges = Seq(("uid", 500L, 900L)))).count() == 0)
  }

  test("COW discovery prunes on secondary point and range dimensions") {
    val t = mkTable("sr-cow")
    val log = new SnapshotLog(t.tableDir, spark.sessionState.newHadoopConf())
    val refsWithFiles = t.metadata.currentSnapshot
      .map(s => log.readManifestList(s).map(r => r -> log.readManifest(r.path)))
      .getOrElse(Nil)
    val probe = Seq((Timestamp.valueOf("2024-01-01 00:00:00"), 0L, 0.0))
      .toDF("ts", "uid", "value")
    def cands(sql: String) = t.discoveryCandidates(
      t.metadata, refsWithFiles, resolved(probe, sql))
    // a point set on the secondary column focuses discovery to the
    // covering band — the GDPR delete-by-user shape
    assert(cands("uid IN (2010, 2015)").map(_.size).contains(1))
    // a range likewise
    assert(cands("uid >= 3000 AND uid <= 3010").map(_.size).contains(1))
    // between bands: zero candidates, the delete is a metadata no-op
    assert(cands("uid IN (500)").map(_.size).contains(0))
    // nothing extractable: None — scan everything, never guess
    assert(cands("value > 0").isEmpty)
    // and the end-to-end delete stays exact under the pruned discovery
    t.delete(col("uid") === 2015L)
    assert(t.read().count() == 159)
    assert(t.read().filter(col("uid") === 2015L).count() == 0)
  }

  test("COW discovery prunes on DOUBLE range dimensions") {
    // 4 value-banded files, d in [4g, 4g+3.9] per band g — a
    // sub-integer DELETE band must focus discovery through the exact
    // double bounds (integer-space ranges cannot decide it)
    val rows = (0 until 160).map(i =>
      (Timestamp.valueOf(f"2024-01-01 00:00:00.$i%06d"), i.toLong, i * 0.1))
      .toDF("ts", "uid", "d")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(tmpDir("sr-dcow"), "t"), rows.schema, Some("ts"))
    t.setProperty("write.stats-columns", "d")
    (0 until 4).foreach(g => t.append(
      rows.filter(col("uid") >= g * 40 && col("uid") < (g + 1) * 40).coalesce(1)))
    val log = new SnapshotLog(t.tableDir, spark.sessionState.newHadoopConf())
    val refsWithFiles = t.metadata.currentSnapshot
      .map(s => log.readManifestList(s).map(r => r -> log.readManifest(r.path)))
      .getOrElse(Nil)
    val probe = Seq((Timestamp.valueOf("2024-01-01 00:00:00"), 0L, 0.0))
      .toDF("ts", "uid", "d")
    def cands(sql: String) = t.discoveryCandidates(
      t.metadata, refsWithFiles, resolved(probe, sql))
    assert(cands("d BETWEEN 4.5 AND 7.5").map(_.size).contains(1),
      "a band inside one file's exact double range keeps only it")
    assert(cands("d > 3.95 AND d < 3.99").map(_.size).contains(0),
      "a between-band double range is a metadata no-op")
    // end-to-end: the pruned discovery loses no rows
    t.delete(col("d") > 15.85)
    assert(t.read().count() == 159)
    assert(t.read().agg(max(col("d"))).head().getDouble(0) < 15.85)
  }

  test("COW discovery prunes on STRING range and prefix dimensions") {
    // 4 range-clustered uid_s bands ("u%08d" zero-padded, one file per
    // band of 40): a string range / LIKE-prefix delete's discovery scan
    // must focus to the covering band instead of probing every file
    val rows = (0 until 160).map { i =>
      (Timestamp.valueOf(f"2024-01-01 00:00:00.$i%06d"), f"u$i%08d", i.toDouble)
    }.toDF("ts", "uid_s", "value")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(tmpDir("sr-scow"), "t"), rows.schema, Some("ts"))
    t.setProperty("write.stats-columns", "uid_s")
    (0 until 4).foreach { g =>
      t.append(rows.filter(col("value") >= g * 40 && col("value") < (g + 1) * 40)
        .coalesce(1))
    }
    val log = new SnapshotLog(t.tableDir, spark.sessionState.newHadoopConf())
    val refsWithFiles = t.metadata.currentSnapshot
      .map(s => log.readManifestList(s).map(r => r -> log.readManifest(r.path)))
      .getOrElse(Nil)
    val probe = Seq((Timestamp.valueOf("2024-01-01 00:00:00"), "x", 0.0))
      .toDF("ts", "uid_s", "value")
    def cands(sql: String) = t.discoveryCandidates(
      t.metadata, refsWithFiles, resolved(probe, sql))
    // a string BETWEEN band inside file 3's range keeps exactly it
    assert(cands("uid_s >= 'u00000085' AND uid_s <= 'u00000100'")
      .map(_.size).contains(1))
    // a LIKE prefix covering values 120-129 keeps only band 4
    assert(cands("uid_s LIKE 'u0000012%'").map(_.size).contains(1))
    // strictly above the table maximum: zero candidates
    assert(cands("uid_s > 'u00000159'").map(_.size).contains(0))
    // and the end-to-end string-range delete stays exact — parsing
    // ONLY the covering manifest (round 15: the manifest-list
    // pre-prune carries provably-disjoint manifests over unopened;
    // before, every COW write cold-parsed every manifest)
    SnapshotLog.clearPlanningCache()
    val before = SnapshotLog.manifestParseCount.get()
    t.delete(col("uid_s") >= "u00000085" && col("uid_s") <= "u00000100")
    val parsed = SnapshotLog.manifestParseCount.get() - before
    assert(parsed <= 2,
      s"expected ≤ 2 cold metadata parses (list + covering manifest), got $parsed")
    assert(t.read().count() == 144)
    assert(t.read().filter(col("uid_s") === "u00000090").count() == 0)
  }

  test("COW discovery prunes on IDENTITY partition dimensions") {
    // one multi-symbol commit (1 manifest, one file per sym dir): an
    // identity-pinned delete must focus discovery to the symbol's own
    // files via the dir segments — no footer opens
    val rows = (0 until 160).map { i =>
      (s"s${i % 4}", Timestamp.valueOf(f"2024-01-01 00:00:00.$i%06d"), i.toDouble)
    }.toDF("sym", "ts", "value")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(tmpDir("sr-icow"), "t"), rows.schema,
      Seq("sym" -> "identity", "ts" -> "day"))
    t.append(rows.coalesce(1))
    assert(t.currentDataFiles.size == 4)
    val log = new SnapshotLog(t.tableDir, spark.sessionState.newHadoopConf())
    val refsWithFiles = t.metadata.currentSnapshot
      .map(s => log.readManifestList(s).map(r => r -> log.readManifest(r.path)))
      .getOrElse(Nil)
    val probe = Seq(("x", Timestamp.valueOf("2024-01-01 00:00:00"), 0.0))
      .toDF("sym", "ts", "value")
    def cands(sql: String) = t.discoveryCandidates(
      t.metadata, refsWithFiles, resolved(probe, sql))
    assert(cands("sym = 's2'").map(_.size).contains(1))
    assert(cands("sym IN ('s1', 's3')").map(_.size).contains(2))
    assert(cands("sym = 'zz'").map(_.size).contains(0))
    // end-to-end identity delete stays exact
    t.delete(col("sym") === "s2")
    assert(t.read().count() == 120)
    assert(t.read().filter(col("sym") === "s2").count() == 0)
  }

  test("the exact predicate still pushes into the parquet scan above the splice") {
    // the splices replace only the FILE LIST — Catalyst must keep
    // pushing the query's own filters into the scan (PushedFilters),
    // or every surviving file would read all its row groups
    val t = mkTable("sr-push")
    val df = t.readPlanned(FilePruning(longRanges = Seq(("uid", 2010L, 2025L))))
      .filter(col("uid").between(2010L, 2025L))
    val scans = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val pushed = scans.flatMap(_.dataFilters).map(_.sql).mkString("; ")
    assert(pushed.contains("uid"),
      s"expected the uid range in the scan's data filters, got: $pushed")
  }

  test("range dims compose with the time range and with each other") {
    val t = mkTable("sr-comp")
    // uid band 3 but a time range covering band 1 only: intersection
    // empty (row u lands at base + u MICROSECONDS)
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
    val trBand1 = Some((base + 1000L, base + 1039L))
    assert(t.readPlanned(FilePruning(longRanges = Seq(("uid", 3000L, 3039L)), timeRange = trBand1)).count() == 0)
    // matching composition keeps exactly the band
    val trBand3 = Some((base + 3000L, base + 3039L))
    val df = t.readPlanned(FilePruning(longRanges = Seq(("uid", 3000L, 3039L)), timeRange = trBand3))
    assert(plannedFiles(df) == 1 && df.count() == 40)
  }
}
