package graft.lake

import graft.SparkSpec
import org.apache.hadoop.fs.Path

import java.sql.Timestamp

/** [[LakehouseTable.addFiles]] — import existing parquet by reference
  * (Iceberg `add_files`/`migrate` analog): no data rewrite, real
  * footer stats, same commit protocol; schema violations refuse before
  * anything moves.
  */
class AddFilesSpec extends SparkSpec {
  import spark.implicits._

  private def ticks = Seq(
    ("a", Timestamp.valueOf("2024-03-01 10:00:00"), 1.0),
    ("a", Timestamp.valueOf("2024-03-02 10:00:00"), 2.0),
    ("b", Timestamp.valueOf("2024-03-01 11:00:00"), 3.0),
    ("b", Timestamp.valueOf("2024-03-02 11:00:00"), 4.0)
  ).toDF("sym", "ts", "px")

  private def mkTable(name: String): LakehouseTable =
    LakehouseTable.createIfNotExists(
      spark, new Path(tmpDir(name), "t"), ticks.schema,
      Seq("sym" -> "identity", "ts" -> "day"))

  /** Stage `df` in the table's partition-dir convention via a plain
    * Spark write (an "external writer" that knows nothing of the
    * table).
    */
  private def stage(df: org.apache.spark.sql.DataFrame, dir: String): Unit = {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // the table's day-transform dir value is the int yyyymmdd
    // (LakehouseTable.partitionExpr) — an external writer matches it to
    // earn pruning
    df.withColumn("ts_day",
      org.apache.spark.sql.functions.date_format(
        org.apache.spark.sql.functions.col("ts"), "yyyyMMdd").cast("int"))
      .coalesce(1)
      .write.mode("overwrite").partitionBy("sym", "ts_day").parquet(dir)
  }

  /** Relative `dir=value/.../basename` paths of the parquet files under
    * `dir` — Spark reuses one task's part basename across partition
    * dirs, so only the relative path identifies a staged file.
    */
  private def relPaths(dir: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => root.relativize(p).toString).toSet
  }

  test("entries record footer-bloom columns; bloom-less imports never open footers for points") {
    // external writers don't enable parquet blooms — the import must
    // record that PROOF (fbCols = empty) so every later point lookup
    // skips the footer open instead of paying one read per candidate
    val table = mkTable("af-fb")
    val staged = tmpDir("af-fb-staged")
    stage(ticks, staged)
    table.addFiles(new Path(staged))
    assert(table.currentDataFiles.forall(_.fbCols.contains(Nil)),
      s"imports must prove footer-bloom absence: " +
        table.currentDataFiles.map(_.fbCols).mkString(", "))
    // point planning still returns every bounds-kept file (nothing can
    // prune it further) and never fails on the missing blooms
    val k = Timestamp.valueOf("2024-03-01 10:00:00").getTime * 1000L
    val hit = table.filesContainingAnyKey(Seq(k))
    assert(hit.nonEmpty && hit.forall(_.overlaps(k, k)))
    // native appends DO bloom the key column and record it
    val df = ticks.select("ts", "px")
    val nt = LakehouseTable.createIfNotExists(
      spark, new Path(tmpDir("af-fb-nat"), "t"), df.schema, Some("ts"))
    nt.append(df)
    assert(nt.currentDataFiles.forall(_.fbCols.exists(_.contains("ts"))),
      s"native writes must record the key's footer bloom: " +
        nt.currentDataFiles.map(_.fbCols).mkString(", "))
  }

  test("imports by reference: staged paths survive, stats recorded, pruning works") {
    val table = mkTable("af1")
    val staged = tmpDir("af1-staged")
    stage(ticks, staged)
    val stagedRel = relPaths(staged)
    assert(stagedRel.size == 4) // one file per (sym, day) cell

    val snap = table.addFiles(new Path(staged))
    assert(snap.addedFilesCount == 4 && snap.addedRows == 4L)
    // by reference: the external writer's partition dirs AND basenames
    // land in data/ as-is
    val files = table.currentDataFiles
    assert(files.map(_.path.stripPrefix("data/")).toSet == stagedRel)
    // footer stats were recorded — imported files get file skipping
    assert(files.forall(f => f.minKeyUs.isDefined && f.maxKeyUs.isDefined && f.rows == 1L))
    // identity pruning off the preserved partition dirs
    assert(table.filesForQuery(Map("sym" -> "a")).size == 2)
    // time-range pruning off the recorded footer bounds (one day)
    val day2lo = Timestamp.valueOf("2024-03-02 00:00:00").getTime * 1000L
    val day2hi = Timestamp.valueOf("2024-03-03 00:00:00").getTime * 1000L - 1
    assert(table.filesOverlapping(day2lo, day2hi).size == 2)
    // readers can't tell imported from native: append natively, read all
    table.append(ticks.withColumn("px",
      org.apache.spark.sql.functions.col("px") + 10.0))
    assert(table.read().count() == 8L)
    assert(table.read().agg(org.apache.spark.sql.functions.sum("px"))
      .head().getDouble(0) == 60.0) // 10 imported + 50 native
  }

  test("column-set mismatch refuses before anything moves") {
    val table = mkTable("af2")
    val staged = tmpDir("af2-staged")
    // extra column the table never declared
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    ticks.withColumn("extra", org.apache.spark.sql.functions.lit(1))
      .coalesce(1).write.mode("overwrite").partitionBy("sym").parquet(staged)
    val before = relPaths(staged)
    val e = intercept[IllegalArgumentException](table.addFiles(new Path(staged)))
    assert(e.getMessage.contains("stored-file columns"), e.getMessage)
    assert(relPaths(staged) == before, "staged files must be untouched on refusal")
    assert(table.currentDataFiles.isEmpty)
  }

  test("physical-type mismatch is probed loudly before anything moves") {
    val table = mkTable("af3")
    val staged = tmpDir("af3-staged")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // px stored as STRING — names line up, bytes cannot be read as DOUBLE
    ticks.withColumn("px",
      org.apache.spark.sql.functions.col("px").cast("string"))
      .coalesce(1).write.mode("overwrite").partitionBy("sym").parquet(staged)
    val e = intercept[Exception](table.addFiles(new Path(staged)))
    val messages = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(String.valueOf(_: Any)).mkString("\n")
    assert(messages.toLowerCase.contains("parquet") ||
      messages.toLowerCase.contains("convert"), messages)
    assert(table.currentDataFiles.isEmpty)
  }

  test("empty staging dir fails loudly") {
    val table = mkTable("af4")
    val staged = tmpDir("af4-empty")
    val e = intercept[IllegalArgumentException](table.addFiles(new Path(staged)))
    assert(e.getMessage.contains("no parquet files"), e.getMessage)
  }

  test("a missing identity partition dir refuses — the dir IS the column value") {
    val table = mkTable("af5")
    val staged = tmpDir("af5-noident")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // correct file columns (ts, px) but NO sym= dir: importing would
    // read sym as NULL for every row
    ticks.drop("sym")
      .withColumn("ts_day",
        org.apache.spark.sql.functions.date_format(
          org.apache.spark.sql.functions.col("ts"), "yyyyMMdd").cast("int"))
      .coalesce(1).write.mode("overwrite").partitionBy("ts_day").parquet(staged)
    val e = intercept[IllegalArgumentException](table.addFiles(new Path(staged)))
    assert(e.getMessage.contains("identity-partitioned"), e.getMessage)
    assert(table.currentDataFiles.isEmpty)
  }

  test("a missing DERIVED partition dir refuses — readers recover the column from the dir") {
    val table = mkTable("af7")
    val staged = tmpDir("af7-noderived")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // correct file columns (ts, px) and the identity dir, but NO
    // ts_day= dir: the read path null-fills the recovered column
    ticks.coalesce(1).write.mode("overwrite").partitionBy("sym").parquet(staged)
    val e = intercept[IllegalArgumentException](table.addFiles(new Path(staged)))
    assert(e.getMessage.contains("no 'ts_day='"), e.getMessage)
    assert(table.currentDataFiles.isEmpty)
  }

  test("a derived dir whose value contradicts the footer bounds refuses (ADVICE r10)") {
    val table = mkTable("af8")
    val staged = tmpDir("af8-wrongday")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // dir says the day AFTER the rows' actual day — readers would
    // recover ts_day one day off for every imported row
    ticks.withColumn("ts_day",
      org.apache.spark.sql.functions.date_format(
        org.apache.spark.sql.functions.col("ts"), "yyyyMMdd").cast("int") + 1)
      .coalesce(1).write.mode("overwrite").partitionBy("sym", "ts_day").parquet(staged)
    val e = intercept[IllegalArgumentException](table.addFiles(new Path(staged)))
    assert(e.getMessage.contains("footer bounds derive"), e.getMessage)
    assert(table.currentDataFiles.isEmpty)
  }

  test("a file spanning two partition values under one day dir refuses") {
    val table = mkTable("af9")
    val staged = tmpDir("af9-spanning")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // both days' rows forced under ts_day=20240301: rows of 03-02 would
    // be mislabeled and silently skipped by ts_day pruning
    ticks.withColumn("ts_day", org.apache.spark.sql.functions.lit(20240301))
      .coalesce(1).write.mode("overwrite").partitionBy("sym", "ts_day").parquet(staged)
    val e = intercept[IllegalArgumentException](table.addFiles(new Path(staged)))
    assert(e.getMessage.contains("spans"), e.getMessage)
    assert(table.currentDataFiles.isEmpty)
  }

  test("bucket dirs are range-checked at import") {
    val df = ticks.withColumnRenamed("sym", "k")
    val table = LakehouseTable.createIfNotExists(
      spark, new Path(tmpDir("af10"), "t"), df.schema, Seq("k" -> "bucket[4]"))
    val staged = tmpDir("af10-staged")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    df.withColumn("k_bucket", org.apache.spark.sql.functions.lit(9))
      .coalesce(1).write.mode("overwrite").partitionBy("k_bucket").parquet(staged)
    val e = intercept[IllegalArgumentException](table.addFiles(new Path(staged)))
    assert(e.getMessage.contains("outside [0, 4)"), e.getMessage)
    assert(table.currentDataFiles.isEmpty)
  }

  test("re-importing an already-imported basename refuses instead of clobbering") {
    val table = mkTable("af6")
    val staged = tmpDir("af6-staged")
    stage(ticks, staged)
    table.addFiles(new Path(staged))
    val rowsAfterFirst = table.read().count()
    // a re-run importer with STABLE basenames lands the same relative
    // path again: POSIX rename would silently replace the live file
    // while its manifest entry keeps describing the old bytes — the
    // move loop must refuse before the table's metadata goes stale
    val live = table.currentDataFiles.head
    val rel = live.path.stripPrefix("data/")
    val srcBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(table.tableDir.toUri.getPath, "data", rel))
    val restagedRoot = tmpDir("af6-restaged")
    val staged2 = java.nio.file.Paths.get(restagedRoot, rel)
    java.nio.file.Files.createDirectories(staged2.getParent)
    java.nio.file.Files.write(staged2, srcBytes)
    val e = intercept[IllegalStateException](
      table.addFiles(new Path(restagedRoot)))
    assert(e.getMessage.contains("refusing to move"), e.getMessage)
    assert(table.read().count() == rowsAfterFirst, "live data must be untouched")
  }

  test("NTZ day validation derives from local fields, not session-zone instants (ADVICE r11)") {
    import org.apache.spark.sql.functions.{col, lit}
    // 02:30 LOCAL on 2024-03-01: re-read as an epoch instant through an
    // America/New_York session, the same micros land on 2024-02-29 —
    // the old derivation would refuse this perfectly valid import
    val data = Seq("2024-03-01 02:30:00").toDF("s")
      .select(col("s").cast("timestamp_ntz").as("ts"), lit(1.0).as("px"))
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(tmpDir("af-ntz"), "t"), data.schema, Some("ts"), "day")
    val staged = tmpDir("af-ntz-staged")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    data.withColumn("ts_day", lit(20240301))
      .coalesce(1).write.mode("overwrite").partitionBy("ts_day").parquet(staged)
    val prevZone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val snap = t.addFiles(new Path(staged))
      assert(snap.addedFilesCount == 1 && snap.addedRows == 1L)
    } finally spark.conf.set("spark.sql.session.timeZone", prevZone)
    assert(t.read().count() == 1L)
    assert(t.read().select("ts_day").head().getInt(0) == 20240301)
  }

  test("imports keep double bounds from parquet-mr footers, PROVEN (round 16)") {
    // parquet-mr folds stats through Math.min/max, so a NaN row
    // poisons the recorded extremes to NaN and footerInfo drops them —
    // its non-NaN double bounds are provably complete. A Spark-written
    // history imported via addFiles therefore keeps its double-column
    // skipping (round 15's blanket refusal lost it for every import).
    val table = LakehouseTable.createIfNotExists(
      spark, new Path(tmpDir("af-dbl"), "t"), ticks.schema,
      Seq("sym" -> "identity", "ts" -> "day"))
    table.setProperty("write.stats-columns", "px")
    val staged = tmpDir("af-dbl-staged")
    stage(ticks, staged)
    table.addFiles(new Path(staged))
    val entries = table.currentDataFiles
    assert(entries.nonEmpty)
    assert(entries.forall(_.extraBounds.getOrElse(Nil)
      .exists(b => b.isDouble && b.dProven)),
      s"parquet-mr imports must carry PROVEN double bounds: " +
        entries.map(_.extraBounds).mkString(", "))
    // and the pruning the bounds exist for works: the px=2.5..3.5 band
    // lives in exactly one staged file
    import org.apache.spark.sql.functions.col
    val kept = table.filesInDoubleRange("px", Some((2.5, true)), Some((3.5, true)))
    assert(kept.size == 1, s"double range must prune to the one file: $kept")
    assert(table.readPlanned(FilePruning(
      dblRanges = Seq(("px", Some((2.5, true)), Some((3.5, true))))))
      .filter(col("px").between(2.5, 3.5)).count() == 1)
  }

  test("imports REFUSE double bounds from foreign created_by footers (round 16)") {
    // an arrow/parquet-rs footer's double stats EXCLUDE NaN, so its max
    // may omit rows Spark's NaN-is-largest ordering matches (`d > x` is
    // TRUE for NaN). Forge the exact hazard: a file whose pages hold a
    // NaN row but whose doctored stats say [0.1, 0.9], stamped with an
    // arrow created_by — the import must record NO double bounds, and a
    // `px > 5` probe must KEEP the file.
    import org.apache.spark.sql.functions.{col, lit}
    val data = Seq(
      ("a", Timestamp.valueOf("2024-03-01 10:00:00"), 0.5),
      ("a", Timestamp.valueOf("2024-03-01 11:00:00"), Double.NaN)
    ).toDF("sym", "ts", "px")
    val table = LakehouseTable.createIfNotExists(
      spark, new Path(tmpDir("af-foreign"), "t"), data.schema,
      Seq("sym" -> "identity", "ts" -> "day"))
    table.setProperty("write.stats-columns", "px")
    val sparkOut = tmpDir("af-foreign-spark")
    stage(data, sparkOut)
    // forge every staged file into its "arrow-written" twin
    val forgedRoot = java.nio.file.Paths.get(tmpDir("af-foreign-staged"))
    val srcRoot = java.nio.file.Paths.get(sparkOut)
    relPaths(sparkOut).foreach { rel =>
      ParquetFooterForge.patch(srcRoot.resolve(rel), forgedRoot.resolve(rel)) { fmd =>
        ParquetFooterForge.setCreatedBy(fmd,
          "parquet-cpp-arrow version 15.0.0")
        ParquetFooterForge.setDoubleStats(fmd, "px", 0.1, 0.9)
      }
    }
    table.addFiles(new Path(forgedRoot.toString))
    val entries = table.currentDataFiles
    assert(entries.nonEmpty)
    assert(entries.forall(_.extraBounds.getOrElse(Nil).forall(!_.isDouble)),
      s"foreign-created_by imports must carry no double bounds: " +
        entries.map(_.extraBounds).mkString(", "))
    // the lying [0.1, 0.9] stats must not skip the NaN row under px > 5
    assert(table.filesInDoubleRange("px", Some((5.0, false)), None).size
      == entries.size, "a d > x probe must keep every foreign file")
    // parquet ROW-GROUP pushdown trusts the doctored footer stats too —
    // that layer is parquet-mr's to guard (PARQUET-1246 handles only
    // NaN-POLLUTED stats, not NaN-EXCLUDING ones); disable it so the
    // assertion isolates the engine's own metadata gate
    withSqlConf("spark.sql.parquet.filterPushdown" -> "false") {
      assert(table.read().filter(col("px") > lit(5.0)).count() == 1L,
        "the NaN row satisfies px > 5 and must survive")
    }
    // the backfill pass re-reads the same foreign footer and must
    // refuse again
    table.rewriteManifests()
    assert(table.currentDataFiles
      .forall(_.extraBounds.getOrElse(Nil).forall(!_.isDouble)),
      "rewriteManifests must not backfill foreign double bounds")
  }

  test("rewriteManifests re-proves or strips pre-r16 UNPROVEN double bounds (VERDICT r15 #2)") {
    // seed the migration hazard directly: manifests carrying
    // import-derived `d:` bounds (unproven — the pre-r16 shape) on a
    // NaN-bearing file whose forged stats exclude the NaN. Consumers
    // must already refuse the pair; the rewrite must strip it for the
    // foreign file and re-prove it for the native one.
    import org.apache.spark.sql.functions.{col, lit}
    val data = Seq(
      ("a", Timestamp.valueOf("2024-03-01 10:00:00"), 0.5),
      ("a", Timestamp.valueOf("2024-03-01 11:00:00"), Double.NaN)
    ).toDF("sym", "ts", "px")
    val table = LakehouseTable.createIfNotExists(
      spark, new Path(tmpDir("af-sanitize"), "t"), data.schema,
      Seq("sym" -> "identity", "ts" -> "day"))
    table.setProperty("write.stats-columns", "px")
    val sparkOut = tmpDir("af-sanitize-spark")
    stage(data, sparkOut)
    val forgedRoot = java.nio.file.Paths.get(tmpDir("af-sanitize-staged"))
    val srcRoot = java.nio.file.Paths.get(sparkOut)
    relPaths(sparkOut).foreach { rel =>
      ParquetFooterForge.patch(srcRoot.resolve(rel), forgedRoot.resolve(rel)) { fmd =>
        ParquetFooterForge.setCreatedBy(fmd, "parquet-cpp-arrow version 15.0.0")
        ParquetFooterForge.setDoubleStats(fmd, "px", 0.1, 0.9)
      }
    }
    table.addFiles(new Path(forgedRoot.toString))
    // a clean NATIVE append alongside: its pair must survive the sweep
    table.append(Seq(("b", Timestamp.valueOf("2024-03-02 10:00:00"), 7.0))
      .toDF("sym", "ts", "px").coalesce(1))
    // seed: replay the pre-r16 WRITER — a commit whose manifest carries
    // the unsound pair on the foreign entries, written through the real
    // serializer (dPv absent ⇒ the legacy 'd:' kind on disk)
    locally {
      val meta = table.metadata
      val current = meta.currentSnapshot.get
      val slog = new SnapshotLog(table.tableDir, spark.sessionState.newHadoopConf())
      val seededFiles = table.currentDataFiles.map { f =>
        if (f.extraBounds.getOrElse(Nil).exists(_.isDouble)) f
        else f.copy(extraBounds = Some(f.extraBounds.getOrElse(Nil) :+
          ColumnBounds("px", 0L, 1L, minD = Some(0.1), maxD = Some(0.9))))
      }
      val snapId = meta.snapshots.map(_.id).max + 1
      val ref = slog.writeManifest(snapId, seededFiles)
      val listPath = slog.writeManifestList(snapId, Seq(ref))
      val snap = Snapshot(id = snapId, parentId = Some(current.id),
        timestampMs = System.currentTimeMillis(), operation = "forge-pre-r16",
        manifestList = Some(listPath), addedManifest = None,
        addedFilesCount = 0, addedRows = 0L, totalRows = current.totalRows)
      slog.commit(slog.currentVersion, meta.copy(
        snapshots = meta.snapshots :+ snap, currentSnapshotId = Some(snap.id)))
    }
    val seeded = table.currentDataFiles
    assert(seeded.exists(_.extraBounds.getOrElse(Nil)
      .exists(b => b.isDouble && !b.dProven)), "seed must be unproven")
    // CONSUMER gate: even before any rewrite, the unproven pair must
    // not skip the NaN file under px > 5 — pre-gate, maxD=0.9 < 5
    // dropped the file and the count read 1
    assert(table.filesInDoubleRange("px", Some((5.0, false)), None).size
      == seeded.size, "unproven pairs must be inert at planning time")
    // parquet row-group pushdown off: the doctored footer stats would
    // skip the NaN row at a layer below the one under test
    withSqlConf("spark.sql.parquet.filterPushdown" -> "false") {
      assert(table.readPlanned(FilePruning(
        dblRanges = Seq(("px", Some((5.0, false)), None))))
        .filter(col("px") > lit(5.0)).count() == 2L,
        "unproven pairs must be inert: NaN row + the native 7.0 row")
    }
    // the sweep: foreign entries lose the pair, native entries keep a
    // PROVEN one re-read from their parquet-mr footer
    table.rewriteManifests()
    val after = table.currentDataFiles
    assert(after.forall(_.extraBounds.getOrElse(Nil)
      .forall(b => !b.isDouble || b.dProven)),
      s"no unproven pair may survive the rewrite: " +
        after.map(_.extraBounds).mkString(", "))
    assert(after.exists(_.extraBounds.getOrElse(Nil)
      .exists(b => b.isDouble && b.dProven)),
      "the native file's pair must be re-proven, not stripped")
    withSqlConf("spark.sql.parquet.filterPushdown" -> "false") {
      assert(table.readPlanned(FilePruning(
        dblRanges = Seq(("px", Some((5.0, false)), None))))
        .filter(col("px") > lit(5.0)).count() == 2L,
        "answers unchanged after the sweep")
    }
  }
}
