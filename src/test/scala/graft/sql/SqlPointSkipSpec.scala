package graft.sql

import graft.SparkSpec
import graft.lake.LakehouseTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** SQL point-key skipping through the manifest/footer blooms (round 12,
  * VERDICT r11 #1): an equality or IN-list predicate on the key column
  * issued through `spark.sql` must prune the planned FILE LIST below
  * what min/max bounds alone keep — on the key-disjoint
  * time-interleaved fixture, bounds provably keep every file, so any
  * drop is attributable to the blooms — while returning exactly the
  * rows the predicate selects (zero false-negative skips).
  */
class SqlPointSkipSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  private def freshCatalog(): (String, String) = {
    n += 1
    val cat = s"gpts$n"
    val wh = tmpDir("gpts-wh")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gold")
    (cat, wh)
  }

  private def filesScanned(sql: String): Int = plannedFiles(spark.sql(sql))

  private val baseUs = Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L

  /** id i ↦ ts at µs 3·i — the 3-µs stride leaves in-bounds gaps, so an
    * absent key can still fall INSIDE every file's [min, max].
    */
  private def tsOfId(i: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:00:00.${3 * i}%06d")
  private def tsLitOfId(i: Int): String = s"TIMESTAMP '${tsOfId(i)}'"

  /** 64 keys in 8 key-disjoint files whose µs time ranges fully
    * interleave (file r holds ids ≡ r mod 8): bounds keep all 8 files
    * for any in-range point.
    */
  private def mkInterleaved(cat: String, wh: String, name: String): LakehouseTable = {
    val data = (0 until 64).map(i => (tsOfId(i), i.toLong, i.toDouble))
      .toDF("ts", "id", "v")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, s"gold/$name"), data.schema, Some("ts"))
    t.setProperty("write.key-bloom.bits", "4096")
    (0 until 8).foreach(r =>
      t.append(data.filter(col("id") % 8 === r).coalesce(1)))
    assert(t.currentDataFiles.size == 8)
    t
  }

  test("IN-list point lookup plans fewer files than bounds keep, rows exact") {
    val (cat, wh) = freshCatalog()
    val t = mkInterleaved(cat, wh, "pts")
    // ids 3 and 11 live only in the residue-3 file; bounds keep all 8
    assert(t.filesOverlapping(baseUs + 3 * 3, baseUs + 3 * 11).size == 8,
      "fixture must interleave — bounds alone may prune nothing")
    val q = s"SELECT id, v FROM $cat.gold.pts " +
      s"WHERE ts IN (${tsLitOfId(3)}, ${tsLitOfId(11)})"
    val scanned = filesScanned(q)
    assert(scanned < 8 && scanned >= 1,
      s"expected bloom point pruning below the 8 bounds-kept files, planned $scanned")
    assert(spark.sql(q).collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 11L))
  }

  test("equality point lookup plans ~1 file; extra conjuncts don't disturb it") {
    val (cat, wh) = freshCatalog()
    mkInterleaved(cat, wh, "pte")
    val q = s"SELECT v FROM $cat.gold.pte WHERE ts = ${tsLitOfId(5)} AND v >= 0.0"
    val scanned = filesScanned(q)
    assert(scanned < 8, s"equality must point-prune, planned $scanned")
    assert(spark.sql(q).collect().map(_.getDouble(0)).toSeq == Seq(5.0))
  }

  test("an absent in-bounds key plans zero (or FP-only) files and returns none") {
    val (cat, wh) = freshCatalog()
    val t = mkInterleaved(cat, wh, "ptm")
    // µs 100 falls inside every file's range ([3r, 3r+168] for r < 8)
    // but is on no 3-µs stride
    val absent = s"TIMESTAMP '2024-01-01 00:00:00.000100'"
    assert(t.filesOverlapping(baseUs + 100, baseUs + 100).size == 8)
    val q = s"SELECT id FROM $cat.gold.ptm WHERE ts = $absent"
    assert(filesScanned(q) <= 1, "an absent in-bounds key should bloom away")
    assert(spark.sql(q).count() == 0L)
  }

  test("range predicates still range-prune; disjunctions scan safely") {
    val (cat, wh) = freshCatalog()
    mkInterleaved(cat, wh, "ptr")
    // a range is not a point set — every row still returned
    val range = s"SELECT count(*) FROM $cat.gold.ptr WHERE ts >= ${tsLitOfId(0)}"
    assert(spark.sql(range).head().getLong(0) == 64L)
    // OR with another column must not extract (and must not lose rows)
    val or = s"SELECT count(*) FROM $cat.gold.ptr " +
      s"WHERE ts = ${tsLitOfId(5)} OR v = 6.0"
    assert(filesScanned(or) == 8, "disjunctions carry no point constraint")
    assert(spark.sql(or).head().getLong(0) == 2L)
  }

  test("OR of equality/IN branches point-prunes as the union of branch sets") {
    val (cat, wh) = freshCatalog()
    mkInterleaved(cat, wh, "pto")
    val q = s"SELECT id FROM $cat.gold.pto " +
      s"WHERE ts = ${tsLitOfId(3)} OR ts IN (${tsLitOfId(11)}, ${tsLitOfId(19)})"
    val scanned = filesScanned(q)
    // ids 3/11/19 all live in the residue-3 file; bounds keep all 8
    assert(scanned < 8 && scanned >= 1,
      s"OR-of-equalities must union into one point set and bloom-prune, planned $scanned")
    assert(spark.sql(q).collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 11L, 19L))
  }

  test("a 4096-key IN list routes through the distributed probe and still bloom-prunes") {
    // past MaxPointKeys (1024) the driver-side per-key probe would go
    // O(files × keys); planFiles switches to binary-searched
    // bounds + the distributed manifest-bloom probe (VERDICT r12 #7).
    // Fixture: 4096 rows in 8 key-disjoint fully time-interleaved files
    // (file r holds ids ≡ r mod 8). The probe set = the 512 real keys of
    // residue 3 plus 3584 absent OFF-STRIDE keys inside every file's
    // bounds — so bounds-only pruning keeps all 8 files and any drop
    // below 8 is the blooms' doing.
    val (cat, wh) = freshCatalog()
    val data = (0 until 4096).map(i => (tsOfId(i), i.toLong, i.toDouble))
      .toDF("ts", "id", "v")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/ptl"), data.schema, Some("ts"))
    // 512 keys/file in 262144 bits ⇒ ~512 bits/key: the ~30k absent-key
    // probes across 7 shared-nothing files expect ≪1 false positive
    t.setProperty("write.key-bloom.bits", "262144")
    (0 until 8).foreach(r =>
      t.append(data.filter(col("id") % 8 === r).coalesce(1)))
    assert(t.currentDataFiles.size == 8)
    val realLits = (3 until 4096 by 8).map(tsLitOfId)
    val absentLits = (0 until 3584).map(i =>
      f"TIMESTAMP '2024-01-01 00:00:00.${3 * i + 1}%06d'")
    val inList = (realLits ++ absentLits).mkString(", ")
    assert(realLits.size + absentLits.size == 4096)
    // bounds-only candidate set: every file overlaps the probed range
    assert(t.filesOverlapping(baseUs + 1, baseUs + 3 * 4091).size == 8)
    val q = s"SELECT id FROM $cat.gold.ptl WHERE ts IN ($inList)"
    val scanned = filesScanned(q)
    assert(scanned < 8 && scanned >= 1,
      s"large IN list must still bloom-prune below the 8 bounds-kept files, planned $scanned")
    assert(spark.sql(q).collect().map(_.getLong(0)).sorted.toSeq
      == (3L until 4096L by 8L).toSeq)
  }

  test("past 8 candidates the footer probes fan out in parallel, results identical") {
    // 16 interleaved key-disjoint files: the candidate set (16 > the
    // serial threshold) takes the BoundedPar probe path; the planned
    // files and rows must be exactly what the serial path would keep
    val (cat, wh) = freshCatalog()
    val data = (0 until 128).map(i => (tsOfId(i), i.toLong, i.toDouble))
      .toDF("ts", "id", "v")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/ptp"), data.schema, Some("ts"))
    t.setProperty("write.key-bloom.bits", "8192")
    (0 until 16).foreach(r =>
      t.append(data.filter(col("id") % 16 === r).coalesce(1)))
    assert(t.currentDataFiles.size == 16)
    // ids 5 and 21 live only in the residue-5 file; bounds keep all 16
    assert(t.filesOverlapping(baseUs + 3 * 5, baseUs + 3 * 21).size == 16)
    val q = s"SELECT id FROM $cat.gold.ptp " +
      s"WHERE ts IN (${tsLitOfId(5)}, ${tsLitOfId(21)})"
    val scanned = filesScanned(q)
    assert(scanned < 16 && scanned >= 1,
      s"parallel probe must prune below the 16 bounds-kept files, planned $scanned")
    assert(spark.sql(q).collect().map(_.getLong(0)).sorted.toSeq == Seq(5L, 21L))
  }

  test("footer blooms are adaptively sized — never the fixed 1 MiB default") {
    // without the adaptive option parquet writes every bloom at the
    // 1 MiB maximum: 8-row files measured 1,049,340 B (~10 ms to probe
    // apiece). The write path must keep bloom bytes proportional to the
    // chunk's NDV — and the skipping must still work at the small size.
    val (cat, wh) = freshCatalog()
    val t = mkInterleaved(cat, wh, "pta")
    val fs = t.tableDir.getFileSystem(spark.sessionState.newHadoopConf())
    t.currentDataFiles.foreach { f =>
      val len = fs.getFileStatus(new Path(t.tableDir, f.path)).getLen
      assert(len < 100000L,
        s"${f.path} is $len B — the footer bloom is not adaptively sized")
    }
    val q = s"SELECT id FROM $cat.gold.pta WHERE ts = ${tsLitOfId(9)}"
    assert(filesScanned(q) < 8, "adaptive blooms must still point-prune")
    assert(spark.sql(q).collect().map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("point skipping respects merge-on-read deletes and time travel pins") {
    val (cat, wh) = freshCatalog()
    val t = mkInterleaved(cat, wh, "ptd")
    val v1 = t.metadata.currentSnapshotId.get
    t.morDeleteKeys(Seq(tsOfId(3)).toDF("ts"), "ts")
    // the deleted key's row is masked even though its file blooms alive
    assert(spark.sql(
      s"SELECT id FROM $cat.gold.ptd WHERE ts IN (${tsLitOfId(3)}, ${tsLitOfId(11)})")
      .collect().map(_.getLong(0)).toSeq == Seq(11L))
    // a pinned (time-travel) read never consults current-state pruning
    assert(spark.sql(
      s"SELECT id FROM $cat.gold.ptd VERSION AS OF $v1 WHERE ts = ${tsLitOfId(3)}")
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("=/IN on a declared secondary stats column point-prunes through SQL") {
    // round 13 (VERDICT r12 #3): the table is time-keyed, the predicate
    // pins uid — a column with per-file bounds (write.stats-columns) and
    // a manifest bloom (write.column-bloom.bits). Files are uid-residue
    // disjoint but interleaved in BOTH ts and uid ranges, so bounds on
    // either column keep all 8 and any drop is the column bloom's.
    val (cat, wh) = freshCatalog()
    val data = (0 until 64).map(i => (tsOfId(i), i.toLong, i.toDouble))
      .toDF("ts", "uid", "v")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/sec"), data.schema, Some("ts"))
    t.setProperty("write.stats-columns", "uid")
    t.setProperty("write.column-bloom.bits", "4096")
    (0 until 8).foreach(r =>
      t.append(data.filter(col("uid") % 8 === r).coalesce(1)))
    assert(t.filesOverlappingColumn("uid", 3L, 11L).size == 8,
      "fixture must interleave uid bounds — bounds alone may prune nothing")
    val q = s"SELECT v FROM $cat.gold.sec WHERE uid IN (3, 11)"
    val scanned = filesScanned(q)
    assert(scanned < 8 && scanned >= 1,
      s"secondary-column point lookup must bloom-prune below 8 files, planned $scanned")
    assert(spark.sql(q).collect().map(_.getDouble(0)).sorted.toSeq == Seq(3.0, 11.0))
    // equality shape too, with an unrelated conjunct
    val qe = s"SELECT v FROM $cat.gold.sec WHERE uid = 5 AND v >= 0.0"
    assert(filesScanned(qe) < 8)
    assert(spark.sql(qe).collect().map(_.getDouble(0)).toSeq == Seq(5.0))
  }

  test("identity-partition equality prunes manifests at SQL planning time") {
    // round 15: `WHERE sym = 's2'` on an identity+day table previously
    // expanded to the FULL metadata read (every manifest parsed) and
    // relied on Spark's dir pruning for data I/O only. One append per
    // symbol makes each manifest single-symbol, so the parse count
    // proves the list-level pruning.
    val (cat, wh) = freshCatalog()
    val rows = (0 until 160).map(i => (s"s${i % 4}", tsOfId(i), i.toDouble))
      .toDF("sym", "ts", "value")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/ident"), rows.schema,
      Seq("sym" -> "identity", "ts" -> "day"))
    (0 until 4).foreach(k => t.append(rows.filter(col("sym") === s"s$k").coalesce(1)))
    graft.lake.SnapshotLog.clearPlanningCache()
    val before = graft.lake.SnapshotLog.manifestParseCount.get()
    val df = spark.sql(s"SELECT count(*) FROM $cat.gold.ident WHERE sym = 's2'")
    val parsed = graft.lake.SnapshotLog.manifestParseCount.get() - before
    assert(parsed <= 2,
      s"expected ≤ 2 cold metadata parses (list + s2's manifest), got $parsed")
    assert(df.head().getLong(0) == 40L)
    // IN sets union; a foreign value is a planning-time no-op
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.gold.ident WHERE sym IN ('s1', 's3')")
      .head().getLong(0) == 80L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.gold.ident WHERE sym = 'zz'")
      .head().getLong(0) == 0L)
    // composes with other dimensions (identity + time equality)
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.gold.ident WHERE sym = 's2' AND ts = ${tsLitOfId(2)}")
      .head().getLong(0) == 1L)
  }

  test("bucket-partitioned long keys point-prune through SQL too") {
    val (cat, wh) = freshCatalog()
    val data = (0 until 64).map(i => (i.toLong * 10 + 1, i.toDouble)).toDF("uid", "v")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/ub"), data.schema, Some("uid"), "bucket[8]")
    t.append(data)
    val q = s"SELECT v FROM $cat.gold.ub WHERE uid IN (51, 101)"
    // point pruning through bounds + parquet footer blooms on the raw
    // long key: strictly fewer files than the full population
    val all = filesScanned(s"SELECT v FROM $cat.gold.ub")
    val scanned = filesScanned(q)
    assert(scanned < all, s"expected point pruning ($all -> $scanned)")
    assert(spark.sql(q).collect().map(_.getDouble(0)).sorted.toSeq == Seq(5.0, 10.0))
  }
}
