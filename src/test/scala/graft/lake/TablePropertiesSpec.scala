package graft.lake

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Table properties, policy-driven maintenance, rollback, and the
  * declared write sort order.
  */
class TablePropertiesSpec extends SparkSpec {
  import spark.implicits._

  private def df(ids: Seq[Int]) =
    ids.map(i => (Timestamp.valueOf(f"2024-01-01 00:00:00.$i%06d"), i.toLong, i.toDouble))
      .toDF("DateTime", "EventId", "Bid")

  private def fresh(name: String): LakehouseTable =
    LakehouseTable.createIfNotExists(
      spark, new Path(tmpDir("props"), name), df(Seq(0)).schema, Some("DateTime"))

  test("properties set/unset round-trip and survive commits") {
    val t = fresh("roundtrip")
    t.setProperty("retention.keep-last", "3")
    t.setProperty("write.sort-order", "EventId")
    t.append(df(0 until 4))
    assert(t.properties == Map("retention.keep-last" -> "3", "write.sort-order" -> "EventId"))
    t.unsetProperty("write.sort-order")
    assert(t.properties == Map("retention.keep-last" -> "3"))
    t.unsetProperty("nope") // absent: no-op, no error
  }

  test("maintainFromProperties honors the declared policy") {
    val t = fresh("policy")
    t.setProperty("retention.ms", "0")
    t.setProperty("retention.keep-last", "2")
    t.setProperty("compaction.max-files-per-partition", "2")
    (0 until 4).foreach(i => t.append(df(Seq(i)).coalesce(1))) // 4 files, 1 partition
    val r = t.maintainFromProperties()
    assert(r.compacted, "4 files > 2/partition must trigger compaction")
    assert(r.expiredSnapshots > 0, "zero retention with keep-last 2 must expire")
    assert(t.read().count() == 4)
  }

  test("write.move-parallelism widens the commit move loop; results unchanged") {
    val t = fresh("movepar")
    t.setProperty("write.move-parallelism", "4")
    t.append(df(0 until 40).repartition(8)) // multi-file commit through the narrowed pool
    assert(t.currentDataFiles.size == 8)
    assert(t.read().count() == 40L)
    assert(t.currentDataFiles.forall(f => f.minKeyUs.isDefined && f.maxKeyUs.isDefined))
    // out-of-range values clamp to [1, 64] instead of breaking commits
    t.setProperty("write.move-parallelism", "10000")
    t.append(df(40 until 44).coalesce(1))
    assert(t.read().count() == 44L)
    // a non-numeric value is refused when set, with a message NAMING
    // the property (not a bare NumberFormatException); the last valid
    // value stays
    val e = intercept[IllegalArgumentException](t.setProperty("write.move-parallelism", "4x"))
    assert(e.getMessage.contains("write.move-parallelism"), e.getMessage)
    assert(t.properties("write.move-parallelism") == "10000")
    t.append(df(44 until 46).coalesce(1))
    assert(t.read().count() == 46L)
  }

  test("manifests.cluster-by auto-clusters on pressure through zero-arg maintenance") {
    val src = (for { sym <- Seq("A", "B", "C"); i <- 0 until 4 }
      yield (sym, Timestamp.valueOf(s"2024-01-01 0$i:00:00"), i.toDouble))
      .toDF("sym", "ts", "v")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(tmpDir("props"), "cluster"), src.schema,
      Seq("sym" -> "identity", "ts" -> "day"))
    t.setProperty("manifests.cluster-by", "sym")
    t.setProperty("compaction.max-files-per-partition", "100") // isolate the fold step
    (0 until 5).foreach(_ => t.append(src))
    // commit-shaped chain: an identity plan on one symbol opens EVERY manifest
    assert(t.manifestsForQuery(Map("sym" -> "A")).size == 5)
    val r = t.maintainFromProperties()
    assert(r.manifestsClustered && r.manifestsFolded, s"unexpected $r")
    // identity planning now opens ONLY the value's manifest, holding only its files
    val opened = t.manifestsForQuery(Map("sym" -> "A"))
    assert(opened.size == 1, s"expected 1 manifest for sym=A, got ${opened.size}")
    assert(t.log.readManifest(opened.head.path)
      .forall(_.partitionSegments.get("sym").contains("A")))
    assert(t.read().count() == 60L)
    // already clustered: an immediate re-run must not churn
    assert(!t.maintainFromProperties().manifestsClustered)
    // one commit-shaped append stays under the default pressure (2)…
    t.append(src)
    assert(!t.maintainFromProperties().manifestsClustered)
    // …a second pushes the worst value to 3 opens and re-fires
    t.append(src)
    val r3 = t.maintainFromProperties()
    assert(r3.manifestsClustered, s"pressure 3 > 2 must re-cluster, got $r3")
    assert(t.manifestsForQuery(Map("sym" -> "B")).size == 1)
    assert(t.read().count() == 84L)
  }

  test("rollback restores an earlier snapshot; history survives for audit") {
    val t = fresh("rollback")
    val s1 = t.append(df(0 until 3))
    t.append(df(3 until 6))
    t.rollbackTo(s1.id)
    assert(t.read().select("EventId").collect().map(_.getLong(0)).toSet ==
      Set(0L, 1L, 2L), "rollback restores the old state")
    assert(t.snapshots.size == 2, "the rolled-over snapshot stays for the post-mortem")
    // new writes parent from the restored snapshot
    val s3 = t.append(df(Seq(10)))
    assert(s3.parentId.contains(s1.id))
    assert(t.read().count() == 4)
    // a staged branch snapshot cannot be a rollback target
    t.createBranch("b")
    val staged = t.appendToBranch("b", df(Seq(99)))
    val e = intercept[IllegalArgumentException](t.rollbackTo(staged.id))
    assert(e.getMessage.contains("staged on branch"))
  }

  test("write.distribution-mode=hash writes one file per partition cell") {
    val src = (for { sym <- Seq("A", "B", "C"); i <- 0 until 8 }
      yield (sym, Timestamp.valueOf(f"2024-01-0${i % 4 + 1} 0$i:00:00"), i.toDouble))
      .toDF("sym", "ts", "v")
    def build(name: String, mode: Option[String]): Int = {
      val t = LakehouseTable.createIfNotExists(
        spark, new Path(tmpDir("props"), name), src.schema,
        Seq("sym" -> "identity", "ts" -> "day"))
      mode.foreach(m => t.setProperty("write.distribution-mode", m))
      t.append(src.repartition(8)) // poorly-clustered upstream
      t.currentDataFiles.size
    }
    val sprayed = build("dist-none", None)
    val hashed = build("dist-hash", Some("hash"))
    val cells = 12 // 3 symbols × 4 days
    assert(hashed == cells, s"hash distribution → one file per cell, got $hashed")
    assert(sprayed > hashed, s"none-mode sprays ($sprayed) more files than hash ($hashed)")
    // an unknown mode is refused when set
    val t = fresh("dist-bad")
    val e = intercept[IllegalArgumentException](t.setProperty("write.distribution-mode", "nope"))
    assert(e.getMessage.contains("distribution-mode"))
  }

  test("write.stats-columns refuses unknown columns at declaration time") {
    // a typo'd name would silently disable every bounds/bloom/point-
    // skip investment for the column — refuse loudly instead (round 14)
    val t = fresh("stats-typo")
    val e = intercept[IllegalArgumentException](
      t.setProperty("write.stats-columns", "EventId, evnt_id"))
    assert(e.getMessage.contains("evnt_id"))
  }

  test("write.stats-columns records secondary bounds on plain appends") {
    val t = fresh("stats-cols")
    t.setProperty("write.stats-columns", "EventId")
    // two disjoint EventId bands, one append each
    t.append(df(0 until 10).coalesce(1))
    t.append(df(100 until 110).coalesce(1))
    val files = t.currentDataFiles
    assert(files.forall(_.extraBounds.exists(_.exists(_.column == "EventId"))),
      s"every appended file must carry EventId bounds, got $files")
    // metadata skipping works WITHOUT any z-order rewrite
    val hit = t.filesOverlappingColumn("EventId", 100L, 200L)
    assert(hit.size == 1 && hit.head.rows == 10L, hit)
    assert(t.readColumnRange("EventId", 100L, 200L).count() == 10L)
    // an undeclared table keeps the conservative no-bounds behavior
    val u = fresh("no-stats")
    u.append(df(0 until 5).coalesce(1))
    assert(u.filesOverlappingColumn("EventId", 1000L, 2000L).size == 1,
      "files without bounds are always kept — skipping is earned, not assumed")
  }

  test("write.sort-order sorts rows within every written file") {
    val t = fresh("sorted")
    t.setProperty("write.sort-order", "Bid")
    // reversed, shuffled input across 4 tasks
    t.append(df((0 until 64).reverse).repartition(4))
    val fs = t.currentDataFiles
    assert(fs.nonEmpty)
    fs.foreach { f =>
      val bids = spark.read.parquet(new Path(t.tableDir, f.path).toString)
        .select("Bid").collect().map(_.getDouble(0)).toSeq
      assert(bids == bids.sorted, s"rows in ${f.path} must be sorted on Bid")
    }
    // an unknown sort column is refused when set
    val e = intercept[IllegalArgumentException](t.setProperty("write.sort-order", "Nope"))
    assert(e.getMessage.contains("write.sort-order"))
    assert(t.properties("write.sort-order") == "Bid")
  }

  test("the checked write properties refuse a bad value when set, naming the key") {
    val t = fresh("write-props")
    val valid = Seq(
      "write.key-bloom.bits" -> "4096", "write.column-bloom.bits" -> "0",
      "write.key-bloom.location" -> "sidecar", "write.move-parallelism" -> "8",
      "write.distribution-mode" -> "range", "write.sort-order" -> "EventId, DateTime_year")
    val bad = Seq(
      "write.key-bloom.bits" -> "4k", "write.column-bloom.bits" -> "", "write.key-bloom.location" -> "puffin",
      "write.move-parallelism" -> "1.5", "write.distribution-mode" -> "HASH", "write.sort-order" -> "EventId,Nope")
    bad.foreach { case (k, v) =>
      val e = intercept[IllegalArgumentException](t.setProperty(k, v))
      assert(e.getMessage.contains(k), s"$k=$v: ${e.getMessage}")
    }
    assert(t.properties.isEmpty, "a refused value is not recorded")
    valid.foreach { case (k, v) => t.setProperty(k, v) }
    assert(t.properties == valid.toMap)
    t.append(df(0 until 8).coalesce(1))
    assert(t.read().count() == 8L && t.currentDataFiles.forall(_.keyBloomRef.isDefined))
  }
}
