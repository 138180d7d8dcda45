package graft.lake

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** fbCols backfill on manifest rewrite (round 14, VERDICT r13 #5):
  * manifest entries from pre-r13 commits carry no footer-bloom
  * presence proof, so every point lookup pays a speculative footer
  * open per such file forever. `rewriteManifests` already rewrites
  * their metadata — it now stamps the proof (one bounded-pool footer
  * read per unstamped entry, paid once), after which point planning
  * answers from the manifest alone.
  */
class FbColsBackfillSpec extends SparkSpec {
  import spark.implicits._

  private def residue(r: Int, n: Int = 40) =
    (0 until n).map { i =>
      val u = 4 * i + r
      (Timestamp.valueOf(f"2024-01-01 00:00:00.$u%06d"), u.toDouble)
    }.toDF("ts", "value").coalesce(1)

  private def usOf(micro: Int) =
    Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L + micro

  private def stripEntries(
      t: LakehouseTable, dropStatsHeader: Boolean = false)(fn: DataFile => DataFile): Unit =
    ManifestEntries.rewrite(spark, t, dropStatsHeader)(fn)

  private def stripFbCols(t: LakehouseTable): Unit =
    stripEntries(t)(_.copy(fbCols = None))

  test("rewriteManifests stamps footer-bloom presence on unstamped entries") {
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(tmpDir("fbc"), "t"), residue(0).schema, Some("ts"))
    (0 until 3).foreach(r => t.append(residue(r)))
    // native writes stamp the proof (the key column carries a footer
    // bloom in every row group)
    assert(t.currentDataFiles.forall(_.fbCols.exists(_.contains("ts"))))
    stripFbCols(t)
    assert(t.currentDataFiles.forall(_.fbCols.isEmpty),
      "fixture: stripped manifests must read as pre-r13 entries")
    t.rewriteManifests()
    val stamped = t.currentDataFiles
    assert(stamped.forall(_.fbCols.isDefined),
      "rewrite must backfill the presence proof on every carried entry")
    assert(stamped.forall(_.fbCols.exists(_.contains("ts"))),
      "the backfilled proof must list the key column's footer bloom")
    // and the rewritten table still answers point lookups exactly
    val keys = Seq(usOf(1), usOf(5), usOf(9))
    val got = t.readPoints(keys).select(unix_micros(col("ts"))).as[Long]
      .collect().sorted.toSeq
    assert(got == keys.sorted)
  }

  // (ts, uid_s, uid): residue r of 4 per file; residue 3's uid_s is
  // ALL NULL (the file records no string bounds — only its null count
  // can skip it)
  private def residueS(r: Int, n: Int = 40) =
    (0 until n).map { i =>
      val u = 4 * i + r
      (Timestamp.valueOf(f"2024-01-01 00:00:00.$u%06d"),
        if (r == 3) null else f"u$u%08d", u.toLong)
    }.toDF("ts", "uid_s", "uid").coalesce(1)

  test("rewrite backfills bounds, null counts, and the bloom proof in one footer pass") {
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(tmpDir("fbc3"), "t"), residueS(0).schema, Some("ts"))
    t.setProperty("write.stats-columns", "uid_s,uid")
    (0 until 4).foreach(r => t.append(residueS(r)))
    val expect = t.read().orderBy("ts").collect().toSeq
    // simulate pre-r14 metadata: no bloom proof, no secondary bounds,
    // no null counts (the compact sv encoding drops with its header)
    stripEntries(t, dropStatsHeader = true)(
      _.copy(fbCols = None, extraBounds = None, colNulls = None, sv = None))
    assert(t.currentDataFiles.forall(f =>
      f.fbCols.isEmpty && f.extraBounds.isEmpty && f.colNulls.isEmpty),
      "fixture: stripped manifests must read as pre-r14 entries")
    t.rewriteManifests()
    val stamped = t.currentDataFiles
    assert(stamped.forall(_.fbCols.isDefined),
      "one pass must stamp the footer-bloom presence proof")
    assert(stamped.forall(_.colNulls.exists(_.contains("uid_s"))),
      "one pass must stamp per-column null counts")
    val allNullFiles = stamped.filter(f => f.colNulls.exists(_.get("uid_s").contains(f.rows)))
    assert(allNullFiles.size == 1, "exactly one file is all-null in uid_s")
    assert(stamped.filterNot(allNullFiles.contains).forall(_.extraBounds.exists(bs =>
      bs.exists(b => b.column == "uid_s" && b.isString) &&
        bs.exists(b => b.column == "uid" && !b.isString))),
      "value-bearing files must regain string AND long bounds")
    // answers unchanged by the backfill
    assert(t.read().orderBy("ts").collect().toSeq == expect)
    // and the backfilled metadata prunes again: uid=0 fits only residue
    // 0's [0,156] bounds; u00000000 fits only its string bounds, with
    // the all-null file skipped by its null count
    assert(t.filesForPointsOn("uid", Seq(0L)).size == 1,
      "long point lookup must plan exactly the one in-bounds file")
    assert(plannedFiles(t.readPlanned(FilePruning(strPoints = Seq("uid_s" -> Seq("u00000000"))))) == 1,
      "string point lookup must plan exactly the one in-bounds file")
  }

  test("already-stamped tables rewrite without touching footers") {
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(tmpDir("fbc2"), "t"), residue(0).schema, Some("ts"))
    (0 until 2).foreach(r => t.append(residue(r)))
    val before = t.currentDataFiles.map(f => f.path -> f.fbCols).toMap
    t.rewriteManifests()
    val after = t.currentDataFiles.map(f => f.path -> f.fbCols).toMap
    assert(after == before, "stamped entries must carry over unchanged")
  }
}
