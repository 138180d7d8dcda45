package graft.lake

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** STRING-typed secondary stats columns (round 14, VERDICT r13 #1):
  * truncated string bounds in manifest entries, string-hashed column
  * blooms, string footer-bloom probes, and the literal-set extraction
  * that routes `WHERE url IN (…)` through them. Load-bearing
  * properties:
  *
  *   - bounds/probe comparisons are CODE-POINT order ≡ UTF-8 byte
  *     order (what parquet footer stats and DuckDB use) — Java's
  *     UTF-16 `compareTo` would rank supplementary characters below
  *     U+E000..U+FFFF and a bound built on it could skip live files;
  *   - the driver-side string bloom probe is bit-identical to the SQL
  *     `xxhash64(stringCol, i)` the write side hashed with;
  *   - zero false negatives end-to-end: a file containing a probed
  *     string is never skipped, in both inline and sidecar modes;
  *   - the manifest-LIST roll-up ([[ManifestRef.columnBounds]], r13 #3)
  *     drops whole manifests unopened for clustered secondary lookups;
  *   - [[LakehouseTable.planFiles]] (r13 #4) intersects pinned
  *     dimensions: both-pinned plans strictly fewer files than either
  *     dimension alone on a grid layout.
  */
class StringSkipSpec extends SparkSpec {
  import spark.implicits._

  // ---- ColumnBounds helpers ----------------------------------------------

  test("cpCompare is UTF-8 byte order, including supplementary planes") {
    def utf8Cmp(a: String, b: String): Int = {
      val x = a.getBytes("UTF-8")
      val y = b.getBytes("UTF-8")
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = Integer.compare(x(i) & 0xFF, y(i) & 0xFF)
        if (c != 0) return c
        i += 1
      }
      Integer.compare(x.length, y.length)
    }
    val emoji = new String(Character.toChars(0x1F600)) // U+1F600, supplementary
    val samples = Seq("", "a", "ab", "b", "aZ", "a�", "a" + emoji, emoji,
      "", "￿", "u0000000003", "u0000000011", "Ab", "aB", "é", "z")
    for (a <- samples; b <- samples) {
      assert(Integer.signum(ColumnBounds.cpCompare(a, b)) == Integer.signum(utf8Cmp(a, b)),
        s"cpCompare diverges from UTF-8 byte order on ('$a', '$b')")
    }
    // the case Java compareTo gets WRONG: supplementary (surrogate pair,
    // leading unit 0xD83D) vs U+FFFD — UTF-16 order says emoji < FFFD
    assert(("a" + emoji).compareTo("a�") < 0, "fixture: UTF-16 order inverts here")
    assert(ColumnBounds.cpCompare("a" + emoji, "a�") > 0)
  }

  test("truncLower/truncUpper are conservative 16-code-point bounds") {
    import ColumnBounds.{cpCompare, truncLower, truncUpper, TruncateCodePoints}
    // short strings pass through exactly
    assert(truncLower("abc") == "abc" && truncUpper("abc").contains("abc"))
    // 20-char ascii: lower is the 16-prefix, upper bumps the last cp
    val s = "abcdefghijklmnopqrst"
    assert(truncLower(s) == "abcdefghijklmnop")
    assert(truncUpper(s).contains("abcdefghijklmnoq"))
    // conservativeness: every string sharing the prefix sits inside
    for (tail <- Seq("", "a", "zzzz", "￿￿")) {
      val v = "abcdefghijklmnop" + tail
      assert(cpCompare(v, truncLower(s)) >= 0 || v < s)
      assert(cpCompare(v, truncUpper(s).get) <= 0)
    }
    // max code point everywhere: no upper bound exists
    val top = new String(Character.toChars(Character.MAX_CODE_POINT))
    assert(truncUpper(top * (TruncateCodePoints + 1)).isEmpty)
    // bump landing in the surrogate gap skips to U+E000
    val nearGap = ("a" * (TruncateCodePoints - 1)) + "퟿" + "zz"
    assert(truncUpper(nearGap).contains(("a" * (TruncateCodePoints - 1)) + ""))
    // rightmost non-max cp is bumped when the last cp is already max
    val lastMax = ("a" * (TruncateCodePoints - 1)) + top + "zz"
    assert(truncUpper(lastMax).contains("a" * (TruncateCodePoints - 2) + "b"))
  }

  test("mayContainString keeps in-bounds values and drops out-of-bounds ones") {
    val b = ColumnBounds("c", 0, 0, minS = Some("mm"), maxS = Some("pp"))
    assert(b.mayContainString("mm") && b.mayContainString("nq") && b.mayContainString("pp"))
    assert(!b.mayContainString("ma") && !b.mayContainString("pq"))
    // unbounded above: everything ≥ minS stays
    val open = ColumnBounds("c", 0, 0, minS = Some("mm"), maxS = None)
    assert(open.mayContainString("￿￿") && !open.mayContainString("a"))
    // a numeric entry probed with a string can never skip
    assert(ColumnBounds("c", 5, 9).mayContainString("anything"))
  }

  // ---- bloom probe parity --------------------------------------------------

  test("driver-side STRING probe positions are bit-identical to the SQL predicate's") {
    val m = 4096L
    val emoji = new String(Character.toChars(0x1F600))
    val keys = Seq("", "a", "u0000000003", "https://example.com/path?q=1",
      "é" * 40, emoji + "tail", "￿", "line\nbreak", "nul\u0000byte")
    val probe = KeyBloom(m.toInt, LakehouseTable.KeyBloomHashes, "")
    val cols = (0 until LakehouseTable.KeyBloomHashes).map(i =>
      pmod(xxhash64(col("k"), lit(i)), lit(m)).as(s"p$i")) :+ col("k")
    keys.toDF("k").select(cols: _*).collect().foreach { r =>
      val k = r.getString(LakehouseTable.KeyBloomHashes)
      val sql = (0 until LakehouseTable.KeyBloomHashes).map(r.getLong(_))
      assert(probe.probePositionsStr(k).toSeq == sql,
        s"string probe positions diverge for key '$k'")
    }
  }

  // ---- end-to-end fixtures -------------------------------------------------

  // files with fully overlapping time AND uid_s ranges but disjoint
  // uid_s sets: residue r of 4 in one file per append
  private def residue(r: Int, n: Int = 40) =
    (0 until n).map { i =>
      val u = 4 * i + r
      (Timestamp.valueOf(f"2024-01-01 00:00:00.$u%06d"), f"u$u%08d", u.toDouble)
    }.toDF("ts", "uid_s", "value").coalesce(1)

  private def mkTable(name: String, sidecar: Boolean): LakehouseTable = {
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(tmpDir(name), "t"), residue(0).schema, Some("ts"))
    t.setProperty("write.stats-columns", "uid_s")
    t.setProperty("write.column-bloom.bits", "4096")
    if (sidecar) t.setProperty("write.key-bloom.location", "sidecar")
    (0 until 4).foreach(r => t.append(residue(r)))
    t
  }

  test("string point reads skip bloom-excluded files with zero false negatives") {
    for (sidecar <- Seq(false, true)) {
      val t = mkTable(s"ss-e2e-$sidecar", sidecar)
      val files = t.currentDataFiles
      assert(files.size == 4)
      assert(files.forall(_.extraBounds.exists(_.exists(b =>
        b.column == "uid_s" && b.isString))), "string bounds recorded per file")
      if (sidecar)
        assert(files.forall(f => f.colBlooms.exists(_.exists(cb =>
          cb.column == "uid_s" && cb.ref.isDefined && cb.bloom.isEmpty))))
      else
        assert(files.forall(f => f.colBlooms.exists(_.exists(cb =>
          cb.column == "uid_s" && cb.bloom.isDefined))))
      // keys of residue 1 only: every file's [min,max] admits them
      // (bounds interleave), so only the blooms can prune
      val keys = Seq("u00000001", "u00000005", "u00000009")
      assert(files.forall(f => keys.exists(k => f.mayContainColumnString("uid_s", k))),
        "fixture: bounds alone must keep every file")
      val df = t.readPlanned(FilePruning(strPoints = Seq("uid_s" -> keys)))
      val got = df.filter(col("uid_s").isin(keys: _*))
        .select("uid_s").as[String].collect().sorted.toSeq
      assert(got == keys.sorted, s"lost rows through $sidecar-mode string skipping")
      assert(plannedFiles(df) < 4,
        s"string blooms must prune interleaved keyless files (sidecar=$sidecar)")
      // a key nobody holds plans zero rows (bounds admit, blooms reject)
      assert(t.readPlanned(FilePruning(strPoints = Seq("uid_s" -> Seq("u00000002x")))).count() == 0)
    }
  }

  test("large string IN lists switch to the distributed probe, same answers") {
    val t = mkTable("ss-large", sidecar = false)
    // > MaxPointKeys keys, all residue 1 — plus misses
    val keys = (0 until PredicateBounds.MaxPointKeys + 50).map(i => f"u${4 * i + 1}%08d")
    val df = t.readPlanned(FilePruning(strPoints = Seq("uid_s" -> keys)))
    val present = (0 until 40).map(i => f"u${4 * i + 1}%08d")
    val got = df.filter(col("uid_s").isin(keys: _*))
      .select("uid_s").as[String].collect().sorted.toSeq
    assert(got == present.sorted)
    assert(plannedFiles(df) < 4, "distributed string probe must prune")
  }

  test("manifest-list string roll-up prunes manifests unopened") {
    // 4 appends with DISJOINT uid_s ranges → 4 manifests whose string
    // roll-ups partition the key space
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(tmpDir("ss-list"), "t"), residue(0).schema, Some("ts"))
    t.setProperty("write.stats-columns", "uid_s")
    (0 until 4).foreach { g =>
      val rows = (0 until 40).map { i =>
        val u = 1000 * g + i
        (Timestamp.valueOf(f"2024-01-01 00:00:00.$u%06d"), f"u$u%08d", u.toDouble)
      }.toDF("ts", "uid_s", "value").coalesce(1)
      t.append(rows)
    }
    val refs = t.metadata.currentSnapshot.map(s =>
      new SnapshotLog(t.tableDir, spark.sessionState.newHadoopConf())
        .readManifestList(s)).getOrElse(Nil)
    assert(refs.size == 4)
    assert(refs.forall(_.columnBounds.exists(_.exists(b =>
      b.column == "uid_s" && b.isString))), "list-level string roll-up recorded")
    // a point lookup inside group 2's range must parse ONLY that
    // manifest (plus the list): the other three prune from the roll-up
    SnapshotLog.clearPlanningCache()
    val before = SnapshotLog.manifestParseCount.get()
    val df = t.readPlanned(FilePruning(strPoints = Seq("uid_s" -> Seq("u00002017"))))
    val parsed = SnapshotLog.manifestParseCount.get() - before
    assert(parsed <= 2, s"expected ≤ 2 metadata parses (list + 1 manifest), got $parsed")
    assert(df.filter(col("uid_s") === "u00002017").count() == 1)
  }

  test("manifest-list LONG roll-up prunes manifests unopened") {
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(tmpDir("ss-listl"), "t"),
      residue(0).select(col("ts"), col("value").cast("long").as("uid"),
        col("value")).schema, Some("ts"))
    t.setProperty("write.stats-columns", "uid")
    (0 until 4).foreach { g =>
      val rows = (0 until 40).map { i =>
        val u = 1000L * g + i
        (Timestamp.valueOf(f"2024-01-01 00:00:00.$u%06d"), u, u.toDouble)
      }.toDF("ts", "uid", "value").coalesce(1)
      t.append(rows)
    }
    SnapshotLog.clearPlanningCache()
    val before = SnapshotLog.manifestParseCount.get()
    val df = t.readPlanned(FilePruning(longPoints = Seq("uid" -> Seq(2017L))))
    val parsed = SnapshotLog.manifestParseCount.get() - before
    assert(parsed <= 2, s"expected ≤ 2 metadata parses (list + 1 manifest), got $parsed")
    assert(df.filter(col("uid") === 2017L).count() == 1)
  }

  test("readPointsMulti intersects pinned dimensions on a grid layout") {
    // 16 files on a (ts-residue × uid-residue) grid: each dimension
    // alone keeps a full row/column of the grid, both pinned keeps ~1
    val rows = (0 until 640).map { i =>
      val tsRes = i % 4
      val uidRes = (i / 4) % 4
      val u = 16 * (i / 16) + 4 * uidRes + tsRes
      (Timestamp.valueOf(f"2024-01-01 00:00:0$tsRes.$u%06d"), u.toLong, u.toDouble)
    }.toDF("ts", "uid", "value")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(tmpDir("ss-multi"), "t"), rows.schema, Some("ts"))
    t.setProperty("write.key-bloom.bits", "4096")
    t.setProperty("write.stats-columns", "uid")
    t.setProperty("write.column-bloom.bits", "4096")
    // one file per (tsRes, uidRes) cell: uid ≡ tsRes (mod 4) by
    // construction, so the uid-residue axis is ⌊uid/4⌋ mod 4
    (0 until 4).foreach { tr =>
      (0 until 4).foreach { ur =>
        val cell = rows.filter(second(col("ts")) === tr &&
          pmod(floor(col("uid") / 4), lit(4)) === ur)
        t.append(cell.coalesce(1))
      }
    }
    assert(t.currentDataFiles.size == 16)
    def usOf(sec: Int, micro: Long): Long =
      Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L + sec * 1000000L + micro
    // 3 ts keys spread over ts-row 1's cells (uidRes 0/1/3); 3 uids
    // spread over uid-column 1's cells (tsRes 0/2/3) — no probed uid
    // lives in a probed-ts file, so the intersection is row-free while
    // each dimension alone keeps its 3-cell grid line
    val tsKeys = Seq(usOf(1, 17L), usOf(1, 21L), usOf(1, 29L))
    val uids = Seq(20L, 38L, 55L)
    val dfTs = t.readPlanned(FilePruning(keyPoints = Some(tsKeys)))
    val dfUid = t.readPlanned(FilePruning(longPoints = Seq("uid" -> uids)))
    val dfBoth = t.readPlanned(
      FilePruning(keyPoints = Some(tsKeys), longPoints = Seq("uid" -> uids)))
    val (pTs, pUid, pBoth) = (plannedFiles(dfTs), plannedFiles(dfUid), plannedFiles(dfBoth))
    assert(pTs >= 1 && pUid >= 1)
    assert(pBoth < pTs, s"intersection ($pBoth) must beat the key dim alone ($pTs)")
    assert(pBoth < pUid, s"intersection ($pBoth) must beat the secondary dim alone ($pUid)")
    // and the superset contract still holds for a genuinely matching pair
    val hit = t.readPlanned(FilePruning(keyPoints = Some(Seq(usOf(1, 17L))),
      longPoints = Seq("uid" -> Seq(17L))))
    assert(hit.filter(col("uid") === 17L).count() >= 1)
  }

  test("prefixUpper bounds every prefixed string from above, exclusively") {
    import ColumnBounds.{cpCompare, prefixUpper}
    assert(prefixUpper("abc").contains("abd"))
    val top = new String(Character.toChars(Character.MAX_CODE_POINT))
    assert(prefixUpper("a" + top).contains("b"))
    assert(prefixUpper(top * 3).isEmpty)
    assert(prefixUpper("a\ud7ff").contains("a\ue000")) // bump skips the surrogate gap
    for (tail <- Seq("", "z", "￿￿", top)) {
      val v = "abc" + tail
      assert(cpCompare(v, prefixUpper("abc").get) < 0,
        s"'$v' must sit strictly below prefixUpper('abc')")
    }
  }

  test("mayContainPrefix keeps covering bands and drops disjoint ones") {
    val b = ColumnBounds("c", 0, 0, minS = Some("mm"), maxS = Some("pp"))
    assert(b.mayContainPrefix("m") && b.mayContainPrefix("n") && b.mayContainPrefix("pp"))
    assert(!b.mayContainPrefix("a") && !b.mayContainPrefix("q"))
    // prefix shorter than the band start still covers it: 'm%' admits 'mm'
    assert(ColumnBounds("c", 0, 0, minS = Some("mm"), maxS = None).mayContainPrefix("z"))
    assert(ColumnBounds("c", 5, 9).mayContainPrefix("anything")) // numeric entry
  }

  test("stringPrefix extracts single-trailing-%% LIKE and startsWith, longest wins") {
    val probe = Seq(("a", "b")).toDF("url", "other")
    def resolved(sql: String) =
      probe.filter(expr(sql)).queryExecution.analyzed match {
        case org.apache.spark.sql.catalyst.plans.logical.Filter(c, _) => c
        case other => fail(s"expected Filter, got $other")
      }
    def px(sql: String) = PredicateBounds.stringPrefix(resolved(sql), "url")
    assert(px("url LIKE 'abc%'").contains("abc"))
    assert(px("url LIKE 'abc%' AND url LIKE 'abcdef%'").contains("abcdef"))
    assert(px("startswith(url, 'xy')").contains("xy"))
    // anything beyond a single trailing % extracts nothing
    assert(px("url LIKE 'a%c'").isEmpty)
    assert(px("url LIKE 'a_c%'").isEmpty)
    assert(px("url LIKE 'abc'").isEmpty)
    assert(px("url LIKE '%'").isEmpty)
    assert(px("other LIKE 'abc%'").isEmpty)
    assert(px("url LIKE 'abc%' OR url LIKE 'd%'").isEmpty) // disjunction widens
  }

  test("prefix reads prune range-clustered files; truncated bounds stay safe") {
    // LONG strings (> 16 code points) force the truncation paths: the
    // stored bounds are 16-cp prefixes/bumps, and neither the prefix
    // check nor the point check may lose a row through them
    val rows = (0 until 160).map { i =>
      val u = f"$i%04d"
      (Timestamp.valueOf(f"2024-01-01 00:00:00.$i%06d"),
        s"https://example.com/docs/$u/page", i.toDouble)
    }.toDF("ts", "url", "value")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(tmpDir("ss-pfx"), "t"), rows.schema, Some("ts"))
    t.setProperty("write.stats-columns", "url")
    (0 until 4).foreach { g =>
      t.append(rows.filter(col("value") >= g * 40 && col("value") < (g + 1) * 40)
        .coalesce(1))
    }
    val files = t.currentDataFiles
    assert(files.size == 4)
    val bs = files.flatMap(_.extraBounds.getOrElse(Nil)).filter(_.column == "url")
    assert(bs.nonEmpty && bs.forall(b => b.isString &&
      b.minS.get.codePointCount(0, b.minS.get.length) <= ColumnBounds.TruncateCodePoints))
    // the shared 16-cp prefix covers every file — conservative keep-all
    assert(files.forall(_.mayContainColumnPrefix("url", "https://example.com/")))
    // a full-path prefix inside band 2's range keeps only its file...
    // but the 16-cp truncation cuts at "https://example.c" — all four
    // bands share that prefix, so bounds CANNOT prune on it and every
    // file must be kept (losing one would lose rows)
    val deep = "https://example.com/docs/008"
    assert(files.forall(_.mayContainColumnPrefix("url", deep)),
      "truncated bounds must keep every candidate for a longer-than-cap prefix")
    // point probes through the truncated bounds stay exact end-to-end
    val probeUrl = "https://example.com/docs/0087/page"
    val got = t.readPlanned(FilePruning(strPoints = Seq("url" -> Seq(probeUrl))))
      .filter(col("url") === probeUrl).count()
    assert(got == 1)
    // prefix read: superset with every matching row present
    val df = t.readPlanned(FilePruning(strPrefixes = Seq("url" -> deep)))
    assert(df.filter(col("url").startsWith(deep)).count() == 10)
  }

  test("mayContainStringRange honors truncation semantics and inclusiveness") {
    val b = ColumnBounds("c", 0, 0, minS = Some("mm"), maxS = Some("pp"))
    // overlapping band keeps; touching bounds differ by inclusiveness
    assert(b.mayContainStringRange(Some(("aa", true)), Some(("zz", true))))
    assert(b.mayContainStringRange(Some(("pp", true)), None))
    assert(!b.mayContainStringRange(Some(("pp", false)), None))
    assert(!b.mayContainStringRange(Some(("pq", true)), None))
    assert(b.mayContainStringRange(None, Some(("mm", true))))
    assert(!b.mayContainStringRange(None, Some(("mm", false))))
    assert(!b.mayContainStringRange(None, Some(("ma", true))))
    // unbounded above: lower query bounds can never skip
    val open = ColumnBounds("c", 0, 0, minS = Some("mm"), maxS = None)
    assert(open.mayContainStringRange(Some(("zz", true)), None))
    assert(!open.mayContainStringRange(None, Some(("ma", true))))
    // numeric entries probed with string ranges never skip
    assert(ColumnBounds("c", 5, 9)
      .mayContainStringRange(Some(("a", true)), Some(("b", true))))
    // TRUNCATED bounds: minS is a PREFIX of the true minimum, so an
    // upper query bound between minS and the true min must KEEP the
    // file — the conservative direction of the truncation semantics
    val long = "abcdefghijklmnop_TAIL"
    val tb = ColumnBounds("c", 0, 0,
      minS = Some(ColumnBounds.truncLower(long)), maxS = ColumnBounds.truncUpper(long))
    assert(tb.mayContainStringRange(None, Some(("abcdefghijklmnopQ", true))))
    // and a band strictly above the bumped upper bound still skips
    assert(!tb.mayContainStringRange(Some(("abcdefghijklmnor", true)), None))
  }

  test("string range reads prune range-clustered files with exact answers") {
    // 4 files of contiguous uid_s bands: [u…0000,u…0039], [u…0040,…], …
    val rows = (0 until 160).map { i =>
      (Timestamp.valueOf(f"2024-01-01 00:00:00.$i%06d"), f"u$i%08d", i.toDouble)
    }.toDF("ts", "uid_s", "value")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(tmpDir("ss-rng"), "t"), rows.schema, Some("ts"))
    t.setProperty("write.stats-columns", "uid_s")
    (0 until 4).foreach { g =>
      t.append(rows.filter(col("value") >= g * 40 && col("value") < (g + 1) * 40)
        .coalesce(1))
    }
    assert(t.currentDataFiles.size == 4)
    def band(lo: Option[(String, Boolean)], hi: Option[(String, Boolean)]) =
      t.readPlanned(FilePruning(strRanges = Seq(("uid_s", lo, hi))))
    // a band inside file 3's range plans exactly that file
    val df = band(Some(("u00000085", true)), Some(("u00000100", true)))
    assert(plannedFiles(df) == 1)
    assert(df.filter(col("uid_s").between("u00000085", "u00000100")).count() == 16)
    // EXCLUSIVE lower bound equal to file 1's max skips it (its only
    // admissible values sit AT the bound); the inclusive form keeps it
    val excl = band(Some(("u00000039", false)), Some(("u00000041", false)))
    assert(plannedFiles(excl) == 1)
    assert(excl.filter(col("uid_s") > "u00000039" && col("uid_s") < "u00000041")
      .count() == 1)
    assert(plannedFiles(
      band(Some(("u00000039", true)), Some(("u00000041", false)))) == 2)
    // manifest-list roll-ups drop out-of-band manifests unopened
    SnapshotLog.clearPlanningCache()
    val before = SnapshotLog.manifestParseCount.get()
    band(Some(("u00000085", true)), Some(("u00000100", true))).count()
    assert(SnapshotLog.manifestParseCount.get() - before <= 2,
      "expected ≤ 2 metadata parses (list + 1 manifest)")
    // and the composed point+range path prunes the same way
    val composed = t.readPlanned(FilePruning(
      strRanges = Seq(("uid_s", Some(("u00000085", true)), Some(("u00000100", true))))))
    assert(plannedFiles(composed) == 1)
  }

  test("contradictory pinned sets plan zero files") {
    val t = mkTable("ss-empty", sidecar = false)
    assert(t.readPlanned(FilePruning(strPoints = Seq("uid_s" -> Nil))).count() == 0)
    assert(t.readPlanned(FilePruning(keyPoints = Some(Nil))).count() == 0)
  }
}
