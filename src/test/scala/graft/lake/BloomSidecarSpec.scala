package graft.lake

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Bloom SIDECARS (`write.key-bloom.location=sidecar`, round 13,
  * VERDICT r12 #2 — Iceberg-Puffin analog): the bloom bit arrays move
  * out of the manifest JSON into per-commit binary files loaded lazily
  * per candidate set, so a 10⁶-file table's cold manifest parse and
  * every manifest rewrite stop paying ~1 KiB/file of base64. The
  * load-bearing properties: skip decisions are IDENTICAL to inline
  * mode, and a missing/torn sidecar degrades to "never skip" — not to
  * a false-negative skip.
  */
class BloomSidecarSpec extends SparkSpec {
  import spark.implicits._

  private def residue(r: Int, n: Int = 40) =
    (0 until n).map(i => (Timestamp.valueOf(f"2024-01-01 00:00:00.${4 * i + r}%06d"),
      (4 * i + r).toDouble))
      .toDF("DateTime", "Bid").coalesce(1)

  private def usOf(micro: Int) =
    Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L + micro

  private def mkTable(name: String, location: Option[String]): LakehouseTable = {
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(tmpDir(name), "t"), residue(0).schema, Some("DateTime"))
    t.setProperty("write.key-bloom.bits", "4096")
    location.foreach(l => t.setProperty("write.key-bloom.location", l))
    t
  }

  /** Which residue class (0..3) a file holds, from its min key. */
  private def residueOf(f: DataFile): Long = f.minKeyUs.get % 4

  test("sidecar mode records refs, not inline words, and sheds the manifest payload") {
    val t = mkTable("bs1", Some("sidecar"))
    (0 until 4).foreach(r => t.append(residue(r)))
    val files = t.currentDataFiles
    assert(files.size == 4)
    assert(files.forall(f => f.keyBloom.isEmpty && f.keyBloomRef.isDefined),
      "sidecar mode must record a ref and no inline bloom")
    files.foreach { f =>
      val ref = f.keyBloomRef.get
      assert(ref.bits == 4096 && ref.length == 512 && ref.path.startsWith("metadata/blooms/"))
    }
    // the payload really lives in the sidecar, one immutable file per commit
    val fs = new Path(t.tableDir, "metadata/blooms")
      .getFileSystem(spark.sessionState.newHadoopConf())
    val bins = fs.listStatus(new Path(t.tableDir, "metadata/blooms"))
      .filter(_.getPath.getName.endsWith(".bin"))
    assert(bins.length == 4 && bins.forall(_.getLen == 512))
    // and the manifests shed it: the same table inline carries ~700 B
    // of base64 per entry that sidecar manifests must not
    val manifestBytes = fs.listStatus(new Path(t.tableDir, "metadata"))
      .filter(_.getPath.getName.startsWith("manifest-")).map(_.getLen).sum
    val ti = mkTable("bs1i", None)
    (0 until 4).foreach(r => ti.append(residue(r)))
    val fsI = ti.tableDir.getFileSystem(spark.sessionState.newHadoopConf())
    val inlineBytes = fsI.listStatus(new Path(ti.tableDir, "metadata"))
      .filter(_.getPath.getName.startsWith("manifest-")).map(_.getLen).sum
    assert(manifestBytes * 2 < inlineBytes,
      s"sidecar manifests ($manifestBytes B) should be far below inline ($inlineBytes B)")
  }

  test("skip decisions are identical across inline and sidecar modes") {
    val ti = mkTable("bs2i", None)
    val ts = mkTable("bs2s", Some("sidecar"))
    (0 until 4).foreach { r => ti.append(residue(r)); ts.append(residue(r)) }
    // several probe shapes: one residue, two residues, absent keys only
    val probes = Seq(
      Seq(usOf(2), usOf(6), usOf(10)),
      Seq(usOf(1), usOf(3)),
      Seq(usOf(101), usOf(103))) // off-stride: in-bounds but absent
    probes.foreach { keys =>
      val batch = keys.toDF("_ku")
      val (keptI, skI) = ti.bloomSurvivors(ti.filesOverlapping(usOf(0), usOf(200)), batch)
      val (keptS, skS) = ts.bloomSurvivors(ts.filesOverlapping(usOf(0), usOf(200)), batch)
      assert(keptI.map(residueOf).sorted == keptS.map(residueOf).sorted,
        s"modes disagree on kept files for $keys")
      assert(skI == skS, s"modes disagree on skip count for $keys")
      // the driver-side point probe agrees too
      assert(ti.filesContainingAnyKey(keys).map(residueOf).sorted
        == ts.filesContainingAnyKey(keys).map(residueOf).sorted)
    }
    // and something was actually skipped (the fixture is interleaved)
    val (_, skipped) = ts.bloomSurvivors(
      ts.filesOverlapping(usOf(0), usOf(200)), Seq(usOf(2)).toDF("_ku"))
    assert(skipped >= 1, "sidecar blooms must actually skip on this fixture")
  }

  test("a missing sidecar keeps every file — never a false-negative skip") {
    val t = mkTable("bs3", Some("sidecar"))
    (0 until 2).foreach(r => t.append(residue(r)))
    val fs = t.tableDir.getFileSystem(spark.sessionState.newHadoopConf())
    // delete the sidecars BEFORE any probe caches them
    fs.listStatus(new Path(t.tableDir, "metadata/blooms"))
      .foreach(st => fs.delete(st.getPath, false))
    val candidates = t.filesOverlapping(usOf(0), usOf(200))
    val (kept, skipped) = t.bloomSurvivors(candidates, Seq(usOf(0)).toDF("_ku"))
    assert(kept.size == candidates.size && skipped == 0,
      "an unresolvable bloom ref must degrade to keep, not skip")
    // rows still read exactly
    assert(t.read().count() == 80L)
  }

  test("orphaned sidecars are reaped; referenced ones survive maintenance") {
    val t = mkTable("bs4", Some("sidecar"))
    (0 until 2).foreach(r => t.append(residue(r)))
    val fs = t.tableDir.getFileSystem(spark.sessionState.newHadoopConf())
    val bloomsDir = new Path(t.tableDir, "metadata/blooms")
    val orphan = new Path(bloomsDir, "bloom-orphaned-crashed.bin")
    val out = fs.create(orphan, false)
    out.write(new Array[Byte](512)); out.close()
    val reaped = t.removeOrphanedFiles()
    assert(reaped.contains("metadata/blooms/bloom-orphaned-crashed.bin"))
    assert(!fs.exists(orphan))
    val live = fs.listStatus(bloomsDir).map(_.getPath.getName).toSet
    assert(live.size == 2, s"referenced sidecars must survive, found $live")
    // skipping still works after maintenance
    val (_, skipped) = t.bloomSurvivors(
      t.filesOverlapping(usOf(0), usOf(200)), Seq(usOf(0)).toDF("_ku"))
    assert(skipped == 1)
  }

  test("manifest bloom encodings round-trip: ordinal, explicit, mixed, fat") {
    val conf = spark.sessionState.newHadoopConf()
    def mk(i: Int, ref: Option[BloomRef]) = DataFile(
      s"data/f$i.parquet", 10L, Some(i.toLong), Some(i + 1L), keyBloomRef = ref)
    val fs = new Path("/").getFileSystem(conf)
    def readText(rel: String, dir: Path): String = {
      val in = fs.open(new Path(dir, rel))
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    val tdir = new Path(tmpDir("bs-enc"), "t")
    val log2 = new SnapshotLog(tdir, conf)
    def check(snapId: Long, files: Seq[DataFile],
        expectJson: String => Unit): Unit = {
      val ref = log2.writeManifest(snapId, files)
      expectJson(readText(ref.path, tdir))
      SnapshotLog.clearPlanningCache()
      assert(log2.readManifest(ref.path) == files,
        s"manifest $snapId did not round-trip")
    }
    val shape = (off: Long) =>
      Some(BloomRef("metadata/blooms/a.bin", off, 512, 4096, 5))
    // ordinal: uniform arithmetic offsets ⇒ only the header serializes
    check(1, (0 until 4).map(i => mk(i, shape(i * 512L))), { json =>
      assert(json.contains("\"base\""), "ordinal form must carry base/stride")
      assert(!json.contains("keyBloomOff") && !json.contains("keyBloomRef"),
        "ordinal form must serialize nothing per entry")
    })
    // explicit: one shape, non-arithmetic offsets ⇒ per-entry keyBloomOff
    check(2, Seq(mk(0, shape(0L)), mk(1, shape(512L)), mk(2, shape(2048L))), { json =>
      assert(json.contains("keyBloomOff"))
      assert(!json.contains("keyBloomRef"))
    })
    // mixed: a bloom-less file breaks the ordinal layout, not the compact one
    check(3, Seq(mk(0, shape(0L)), mk(1, None), mk(2, shape(1024L))), { json =>
      assert(json.contains("keyBloomOff") && !json.contains("\"base\""))
    })
    // fat: two sidecar paths cannot share a header (a fold of two commits)
    check(4, Seq(mk(0, shape(0L)),
      mk(1, Some(BloomRef("metadata/blooms/b.bin", 0L, 512, 4096, 5)))), { json =>
      assert(json.contains("keyBloomRef") && !json.contains("bloomSidecar"))
    })
    // ordinal COLUMN blooms: same column set, uniform shape, arithmetic
    // offsets ⇒ one ColBloomHeader per column, nothing per entry
    def mkCols(i: Int) = mk(i, shape(i * 1536L)).copy(colBlooms = Some(Seq(
      ColumnBloom("uid",
        ref = Some(BloomRef("metadata/blooms/a.bin", i * 1536L + 512, 512, 4096, 5))),
      ColumnBloom("v",
        ref = Some(BloomRef("metadata/blooms/a.bin", i * 1536L + 1024, 512, 4096, 5))))))
    check(5, (0 until 4).map(mkCols), { json =>
      assert(json.contains("colBloomSidecars"))
      assert(!json.contains("colBlooms") && !json.contains("\"offset\""),
        "ordinal column form must serialize nothing per entry")
    })
    // a non-uniform column set keeps the fat per-entry lists
    check(6, Seq(mkCols(0), mkCols(1).copy(colBlooms = Some(Seq(
      ColumnBloom("uid",
        ref = Some(BloomRef("metadata/blooms/a.bin", 99L, 512, 4096, 5))))))), { json =>
      assert(json.contains("colBlooms") && !json.contains("colBloomSidecars"))
    })
  }

  test("an unknown location value refuses loudly") {
    val e = intercept[IllegalArgumentException](mkTable("bs5", Some("puffin")))
    assert(e.getMessage.contains("write.key-bloom.location"))
  }
}
