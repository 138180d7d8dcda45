package graft.lake

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Secondary-column blooms (round 13, VERDICT r12 #3): declared
  * `write.stats-columns` get per-file membership blooms (sized by
  * `write.column-bloom.bits`) alongside their min/max bounds, so a
  * point lookup on a secondary key prunes WITHIN-bounds files the
  * bounds alone cannot reject — previously only the partition-source
  * key had that. Zero false negatives, as for the key bloom.
  */
class SecondaryBloomSpec extends SparkSpec {
  import spark.implicits._

  // files disjoint in uid RESIDUE (mod 4) but fully interleaved in both
  // ts and uid VALUE ranges: bounds on either column keep every file
  private def residue(r: Int, n: Int = 40) =
    (0 until n).map { i =>
      val u = 4 * i + r
      (Timestamp.valueOf(f"2024-01-01 00:00:00.$u%06d"), u.toLong, u.toDouble)
    }.toDF("ts", "uid", "v").coalesce(1)

  private def mkTable(name: String, colBits: Option[Int],
      location: Option[String] = None): LakehouseTable = {
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(tmpDir(name), "t"), residue(0).schema, Some("ts"))
    t.setProperty("write.stats-columns", "uid")
    colBits.foreach(b => t.setProperty("write.column-bloom.bits", b.toString))
    location.foreach(l => t.setProperty("write.key-bloom.location", l))
    t
  }

  private def residueOf(f: DataFile): Long =
    f.extraBounds.get.find(_.column == "uid").get.min % 4

  test("appends record a manifest bloom per declared stats column") {
    val t = mkTable("sb1", Some(4096))
    (0 until 4).foreach(r => t.append(residue(r)))
    val files = t.currentDataFiles
    assert(files.size == 4)
    files.foreach { f =>
      val cb = f.colBlooms.getOrElse(fail(s"no colBlooms on ${f.path}"))
      assert(cb.map(_.column) == Seq("uid"))
      assert(cb.head.bloom.exists(_.bits == 4096))
      // bounds ride too (pre-existing behavior the bloom builds on)
      assert(f.extraBounds.exists(_.exists(_.column == "uid")))
    }
  }

  test("readPointsOn prunes within-bounds files on the secondary key, rows complete") {
    val t = mkTable("sb2", Some(4096))
    (0 until 4).foreach(r => t.append(residue(r)))
    // uid bounds interleave: every file's [r, 156+r] admits uid 6 and 10
    assert(t.filesOverlappingColumn("uid", 6L, 10L).size == 4)
    val df = t.readPlanned(FilePruning(longPoints = Seq("uid" -> Seq(6L, 10L))))
    val scanned = plannedFiles(df)
    assert(scanned < 4 && scanned >= 1,
      s"secondary bloom must prune below the 4 bounds-kept files, planned $scanned")
    // superset semantics: every matching row present
    val uids = df.select("uid").as[Long].collect().toSet
    assert(uids.contains(6L) && uids.contains(10L))
  }

  test("secondary blooms ride sidecars under write.key-bloom.location=sidecar") {
    val t = mkTable("sb3", Some(4096), location = Some("sidecar"))
    (0 until 4).foreach(r => t.append(residue(r)))
    val files = t.currentDataFiles
    files.foreach { f =>
      val cb = f.colBlooms.get.head
      assert(cb.bloom.isEmpty && cb.ref.isDefined)
      assert(cb.ref.get.path.startsWith("metadata/blooms/"))
    }
    // identical decision to the inline twin
    val ti = mkTable("sb3i", Some(4096))
    (0 until 4).foreach(r => ti.append(residue(r)))
    def kept(tt: LakehouseTable) =
      plannedFiles(tt.readPlanned(FilePruning(longPoints = Seq("uid" -> Seq(6L, 10L)))))
    assert(kept(t) == kept(ti), "sidecar and inline column blooms must agree")
  }

  test("without column-bloom.bits only bounds prune — never a wrong skip") {
    val t = mkTable("sb4", None)
    (0 until 4).foreach(r => t.append(residue(r)))
    assert(t.currentDataFiles.forall(_.colBlooms.isEmpty))
    // interleaved bounds keep everything; rows still exact
    val uids = t.readPlanned(FilePruning(longPoints = Seq("uid" -> Seq(6L, 10L))))
      .select("uid").as[Long].collect().toSet
    assert(uids.contains(6L) && uids.contains(10L))
  }

  test("readPointsOn composes the time-key bounds: both dimensions prune") {
    // files TIME-disjoint (file r covers its own second) with uid
    // residues interleaved: uids 6 and 10 live only in the second-2
    // file, which the uid blooms keep — a time window excluding second
    // 2 must still remove it (the range term composes ON TOP of the
    // bloom term rather than being forfeited to it)
    val t = mkTable("sb6", Some(4096))
    val rows = (0 until 4).flatMap { r =>
      (0 until 40).map(i =>
        (Timestamp.valueOf(f"2024-01-01 00:00:0$r.$i%06d"), (4 * i + r).toLong,
          i.toDouble))
    }.toDF("ts", "uid", "v")
    (0 until 4).foreach(r =>
      t.append(rows.filter(second(col("ts")) === r).coalesce(1)))
    assert(t.currentDataFiles.size == 4)
    def planned(range: Option[(Long, Long)]): Int =
      plannedFiles(t.readPlanned(FilePruning(timeRange = range, longPoints = Seq("uid" -> Seq(6L, 10L)))))
    // uid 6 = 4·1+2, uid 10 = 4·2+2: both in the second-2 file; the
    // blooms alone keep exactly it
    assert(planned(None) == 1)
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
    // window over seconds 0-1 only: excludes the bloom-kept file
    assert(planned(Some((base, base + 1999999L))) == 0,
      "the time window must remove even a bloom-hit file")
    // window covering second 2: keeps it (and rows come back)
    assert(planned(Some((base, base + 2999999L))) == 1)
    val uids = t.readPlanned(FilePruning(timeRange = Some((base, base + 2999999L)),
      longPoints = Seq("uid" -> Seq(6L, 10L))))
      .select("uid").as[Long].collect().toSet
    assert(uids.contains(6L) && uids.contains(10L))
  }

  test("a large secondary IN list routes through the distributed column-bloom probe") {
    // > MaxPointKeys keys: 40 real residue-2 uids (in-bounds for EVERY
    // file — the residues interleave) plus ~1100 out-of-range fillers.
    // The large path must bounds-prune the fillers cheaply and let the
    // DISTRIBUTED column blooms reject the three shared-nothing files.
    val t = mkTable("sb7", Some(4096))
    (0 until 4).foreach(r => t.append(residue(r)))
    val real = (0 until 40).map(i => 4L * i + 2)
    val fillers = (200L until 1300L)
    val keys = real ++ fillers
    assert(keys.size > PredicateBounds.MaxPointKeys)
    val df = t.readPlanned(FilePruning(longPoints = Seq("uid" -> keys)))
    val scanned = plannedFiles(df)
    assert(scanned < 4 && scanned >= 1,
      s"distributed column probe must prune below 4 bounds-kept files, planned $scanned")
    val uids = df.select("uid").as[Long].collect().toSet
    assert(real.forall(uids.contains), "every real key's row must survive")
  }

  test("readPointsOn with no keys plans zero files; unknown column refuses") {
    val t = mkTable("sb5", Some(4096))
    t.append(residue(0))
    assert(t.readPlanned(FilePruning(longPoints = Seq("uid" -> Nil))).count() == 0L)
    intercept[IllegalArgumentException](
      t.readPlanned(FilePruning(longPoints = Seq("nope" -> Seq(1L)))))
  }
}
