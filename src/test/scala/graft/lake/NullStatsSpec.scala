package graft.lake

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Per-column NULL counts (round 14, Iceberg null_value_counts analog):
  * recorded from the same footer read as the bounds, rolled up to the
  * manifest list. Pins the two prunings nothing else can make — an
  * ALL-null file (which records no bounds at all) skips value probes,
  * and `IS [NOT] NULL` predicates prune — plus the conservative
  * defaults when counts are absent.
  */
class NullStatsSpec extends SparkSpec {
  import spark.implicits._

  // one commit of zero-null uids (g=0), one commit ALL-null (g=1)
  private def batch(g: Int, n: Int = 40) =
    (0 until n).map { i =>
      val u = 1000 * g + i
      (Timestamp.valueOf(f"2024-01-01 00:00:00.$u%06d"),
        if (g == 0) java.lang.Long.valueOf(u.toLong) else null.asInstanceOf[java.lang.Long],
        u.toDouble)
    }.toDF("ts", "uid", "value").coalesce(1)

  private def mkTable(name: String): LakehouseTable = {
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(tmpDir(name), "t"), batch(0).schema, Some("ts"))
    t.setProperty("write.stats-columns", "uid")
    t.append(batch(0))
    t.append(batch(1))
    t
  }

  test("null counts ride manifest entries and roll up to the list") {
    val t = mkTable("ns-rec")
    val files = t.currentDataFiles.sortBy(_.path)
    assert(files.size == 2)
    val counts = files.map(_.colNulls.flatMap(_.get("uid")))
    assert(counts.toSet == Set(Some(0L), Some(40L)),
      s"expected one zero-null and one all-null entry, got $counts")
    // the all-null file records NO bounds (there is no min/max)
    assert(files.exists(f => f.colNulls.exists(_.get("uid").contains(40L)) &&
      !f.extraBounds.exists(_.exists(_.column == "uid"))))
    val log = new SnapshotLog(t.tableDir, spark.sessionState.newHadoopConf())
    val refs = t.metadata.currentSnapshot.map(log.readManifestList).getOrElse(Nil)
    assert(refs.flatMap(_.columnNulls.flatMap(_.get("uid"))).toSet == Set(0L, 40L))
  }

  test("an all-null file skips value probes despite having no bounds") {
    val t = mkTable("ns-val")
    // range probe inside the all-null batch's WOULD-BE value band:
    // before null counts the bounds-less file was always kept
    val df = t.readPlanned(FilePruning(longRanges = Seq(("uid", 1000L, 1039L))))
    assert(plannedFiles(df) == 0,
      "the all-null file must skip the range probe; the zero-null file's bounds miss it")
    // point probe: same
    assert(t.readPlanned(FilePruning(longPoints = Seq("uid" -> Seq(1005L)))).count() == 0)
    // and the superset contract holds where real values exist
    assert(t.readPlanned(FilePruning(longPoints = Seq("uid" -> Seq(17L)))).filter(col("uid") === 17L).count() == 1)
  }

  test("IS NULL / IS NOT NULL prune manifests unopened") {
    val t = mkTable("ns-null")
    SnapshotLog.clearPlanningCache()
    val before = SnapshotLog.manifestParseCount.get()
    val nulls = t.readPlanned(FilePruning(nulls = Seq("uid" -> true)))
    val parsed = SnapshotLog.manifestParseCount.get() - before
    assert(parsed <= 2, s"IS NULL must open only the all-null commit's manifest, got $parsed")
    assert(nulls.count() == 40 && nulls.filter(col("uid").isNull).count() == 40)
    val notNulls = t.readPlanned(FilePruning(nulls = Seq("uid" -> false)))
    assert(notNulls.count() == 40 && notNulls.filter(col("uid").isNotNull).count() == 40)
  }

  test("nullness dims compose with point dims and with time travel") {
    // two files with fully INTERLEAVED ts ranges (even µs in file A,
    // odd in file B); file B's uid is all-null — ts bounds keep both
    // for any in-range point set, so only the null counts can drop B
    def mk(g: Int, off: Int = 0, n: Int = 40) = (0 until n).map { i =>
      val u = 2 * i + g + off
      (Timestamp.valueOf(f"2024-01-01 00:00:00.$u%06d"),
        if (g == 0) java.lang.Long.valueOf(u.toLong) else null.asInstanceOf[java.lang.Long],
        u.toDouble)
    }.toDF("ts", "uid", "value").coalesce(1)
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(tmpDir("ns-comp"), "t"), mk(0).schema, Some("ts"))
    t.setProperty("write.stats-columns", "uid")
    t.append(mk(0))
    t.append(mk(1))
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
    val keys = Seq(base + 4, base + 5) // one in each file
    // ts alone keeps both files (round-14 behavior); composing IS NOT
    // NULL drops the all-null file (VERDICT r14 #2: the composed point
    // read previously forfeited the nullness dimension entirely)
    assert(plannedFiles(t.readPlanned(FilePruning(keyPoints = Some(keys)))) == 2)
    val notNull = t.readPlanned(FilePruning(keyPoints = Some(keys),
      nulls = Seq("uid" -> false)))
    assert(plannedFiles(notNull) == 1,
      "point + IS NOT NULL must drop the all-null file")
    assert(notNull.filter(col("uid").isNotNull &&
      unix_micros(col("ts")).isin(keys: _*)).count() == 1)
    // IS NULL composed: only the all-null file survives
    assert(plannedFiles(t.readPlanned(FilePruning(keyPoints = Some(keys),
      nulls = Seq("uid" -> true)))) == 1)

    // TIME TRAVEL: pin, append a post-pin batch (non-null uids, later
    // ts) — the pinned ladder must exclude it AND keep pruning nullness
    val v1 = t.metadata.currentSnapshotId.get
    t.append(mk(0, off = 5000))
    val postPinKey = base + 5004
    val pinned = t.readPlanned(FilePruning(keyPoints = Some(keys :+ postPinKey),
      nulls = Seq("uid" -> false)), Some(v1))
    assert(plannedFiles(pinned) == 1,
      "pinned read must exclude the post-pin file and the all-null file")
    assert(pinned.filter(unix_micros(col("ts")) === postPinKey).count() == 0)
    assert(pinned.filter(col("uid") === 4L).count() == 1)
  }

  test("absent counts keep everything — skipping is earned, never assumed") {
    // no stats-columns declared: no counts, no bounds, all files kept
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(tmpDir("ns-none"), "t"), batch(0).schema, Some("ts"))
    t.append(batch(0))
    t.append(batch(1))
    // the KEY column's null count rides every footer read (round 15,
    // for the metadata range aggregates) — but no DECLARED column gets
    // counts without a declaration
    assert(t.currentDataFiles.forall(_.colNulls.forall(_.keySet == Set("ts"))))
    // no counts ⇒ BOTH files kept for IS NULL (superset: all 80 rows)
    assert(t.readPlanned(FilePruning(nulls = Seq("uid" -> true))).count() == 80)
    // and the all-null file is kept for value probes too — the exact
    // predicate on top still answers correctly
    assert(t.readPlanned(FilePruning(longRanges = Seq(("uid", 1000L, 1039L))))
      .filter(col("uid").between(1000L, 1039L)).count() == 0)
    // conservative unit checks
    assert(ManifestRef("p", 1, 10, None, None).mayContainNullness("uid", wantNull = true))
    assert(DataFile("p", 10, None, None).mayContainNullness("uid", wantNull = false))
  }
}
