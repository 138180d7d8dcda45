package graft.ingest

import graft.SparkSpec
import graft.lake.ParquetFooterForge
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

/** Footer-first ingest: a file's parquet footer decides QC and the
  * dedup key range, so a rejected file is never scanned and a passing
  * one is read only by its write; a footer without exact stats takes
  * the scan, in both the per-file and the batched flow.
  */
class FooterIngestSpec extends SparkSpec {
  import spark.implicits._

  private val baseMs = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  /** A one-file delivery with TIMESTAMP(MICROS) keys (exact footer
    * bounds); `bid` negative for some id makes it fail QC, `vol` adds an
    * optional `Vol` column and `extra` one more column of that name.
    */
  private def writeTicks(
      root: String, name: String, ids: Range, bid: Int => Double = i => 1.0 + i,
      vol: Boolean = false, extra: Option[String] = None): java.nio.file.Path = {
    val ticks = ids.map(i => (new Timestamp(baseMs + i * 1000L), bid(i), 2.0 + i)).toDF("DateTime", "Bid", "Ask")
    val withVol = if (vol) ticks.withColumn("Vol", $"Ask" * 10) else ticks
    val df = extra.fold(withVol)(c => withVol.withColumn(c, $"Bid" + 1))
    val tmp = tmpDir("stage")
    withSqlConf("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
    }
    val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet")).findFirst().get()
    val dest = Paths.get(root, "EURUSD", name)
    Files.createDirectories(dest.getParent)
    Files.copy(part, dest, StandardCopyOption.REPLACE_EXISTING)
  }

  private def cfg(wh: String, batched: Boolean = false) =
    IngestConfig(warehouseDir = wh, minRows = 10L, batchedIngest = batched)

  /** Replace `f` by a copy whose column `c` has no footer stats. */
  private def dropStats(f: java.nio.file.Path, c: String): Unit = {
    val forged = f.resolveSibling(s"forged-${f.getFileName}")
    ParquetFooterForge.patch(f, forged)(ParquetFooterForge.dropStats(_, c))
    Files.move(forged, f, StandardCopyOption.REPLACE_EXISTING)
  }

  private def footerQc(file: java.nio.file.Path): Option[QcResult] = {
    val in = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file.toUri), new Configuration()))
    try QualityChecks.fromFooter(in.getFooter, QcConfig(Seq("DateTime", "Bid", "Ask"), "DateTime",
      Seq("Bid", "Ask"), minRows = 10L))
    finally in.close()
  }

  private def contents(p: IngestPipeline): Seq[String] =
    p.catalog.loadTable("gold.eurusd").read().orderBy("DateTime").collect().map(_.toString).toSeq

  test("a re-delivered QC-failing file launches no Spark job and is audited as before") {
    val root = tmpDir("data")
    writeTicks(root, "bad.parquet", 0 until 50, bid = i => if (i == 7) -1.5 else 1.0 + i)
    val p = new IngestPipeline(spark, cfg(tmpDir("wh")))
    val (first, firstJobs) = jobsDuring(p.run(root))
    val (again, againJobs) = jobsDuring(p.run(root))
    assert(firstJobs == 0 && againJobs == 0, s"jobs: first run $firstJobs, re-delivery $againJobs")
    val (a, b) = (first.tables.head, again.tables.head)
    assert(a.qualityIssues == Seq("Column Bid has non-positive values (min=-1.5)"))
    assert(b.qualityIssues == a.qualityIssues)
    assert(a.rowsRejected == 50 && b.rowsRejected == a.rowsRejected)
    assert(b.filesProcessed == 1 && b.filesSkipped == 0)
    assert(!p.catalog.tableExists("gold.eurusd"))
  }

  test("a passing delivery into a table with history launches only the write's jobs") {
    val root = tmpDir("data")
    val wh = tmpDir("wh")
    writeTicks(root, "a.parquet", 0 until 100)
    new IngestPipeline(spark, cfg(wh)).run(root)
    writeTicks(root, "b.parquet", 80 until 130) // 20 re-delivered keys
    val p = new IngestPipeline(spark, cfg(wh))
    val (run, jobs) = jobsDuring(p.run(root))
    assert(run.totalRowsAppended == 30)
    assert(contents(p).size == 130)
    // the anti-join + staged write, and the commit's footer-stats pass:
    // no schema inference, QC or key-range job reads the file
    assert(jobs == 3, s"a passing one-file delivery launched $jobs Spark jobs")
  }

  test("a footer without stats takes the scan: batched matches per-file") {
    val root = tmpDir("data")
    writeTicks(root, "a.parquet", 0 until 100)
    val b = writeTicks(root, "b.parquet", 80 until 160)
    writeTicks(root, "bad.parquet", 200 until 240, bid = i => if (i == 210) -3.0 else 1.0)
    val tiny = writeTicks(root, "tiny.parquet", 300 until 305)
    // b's Bid and tiny's Ask lose their stats: footer QC must decline both
    for ((f, c) <- Seq(b -> "Bid", tiny -> "Ask")) {
      dropStats(f, c)
      assert(footerQc(f).isEmpty, s"$f: footer QC answered without stats")
    }
    val seqP = new IngestPipeline(spark, cfg(tmpDir("whseq")))
    val batP = new IngestPipeline(spark, cfg(tmpDir("whbat"), batched = true))
    val (sa, ba) = (seqP.run(root).tables.head, batP.run(root).tables.head)
    assert(sa.rowsAppended == 160 && ba.rowsAppended == sa.rowsAppended)
    assert(sa.rowsRejected == 45 && ba.rowsRejected == sa.rowsRejected)
    assert(ba.filesProcessed == sa.filesProcessed)
    assert(ba.qualityIssues.sorted == sa.qualityIssues.sorted)
    assert(sa.qualityIssues.sorted == Seq(
      "Column Bid has non-positive values (min=-3.0)", "Insufficient rows: 5 < 10"))
    assert(contents(batP) == contents(seqP))
  }

  test("batched QC checks each file's own columns, by footer or by scan alike") {
    // b lacks the optional Vol that a and c carry, so the union scan
    // null-fills Vol for b's rows; b must pass, as it does alone
    def deliver(forge: Boolean): (TableAudit, Seq[String]) = {
      val root = tmpDir("data")
      val files = Seq(
        writeTicks(root, "a.parquet", 0 until 100, vol = true),
        writeTicks(root, "b.parquet", 100 until 200),
        writeTicks(root, "c.parquet", 200 until 300, vol = true))
      assert(spark.read.parquet(files.map(_.toString): _*).columns.contains("Vol"))
      if (forge) {
        dropStats(files(2), "Bid")
        assert(footerQc(files(2)).isEmpty)
      }
      val p = new IngestPipeline(spark, cfg(tmpDir("wh"), batched = true))
      (p.run(root).tables.head, contents(p))
    }
    val (exact, exactRows) = deliver(forge = false)
    val (scanned, scannedRows) = deliver(forge = true)
    assert(exact.qualityIssues.isEmpty && exact.rowsAppended == 300 && exact.rowsRejected == 0,
      s"footer QC: $exact")
    assert(scanned.qualityIssues == exact.qualityIssues, s"grouped scan QC: $scanned")
    assert(scanned.rowsAppended == exact.rowsAppended && scanned.rowsRejected == exact.rowsRejected)
    assert(scannedRows == exactRows)
  }

  test("schema drift: a lacking optional column reads null, an extra column rejects the file") {
    // a (with Vol) makes the table; b lacks Vol; c carries a column the
    // table lacks. Both modes land a and b, reject c naming the column,
    // and finish the run: audit written, ledger persisted.
    def deliver(batched: Boolean): (IngestPipeline, RunSummary, String, String) = {
      val root = tmpDir("data")
      writeTicks(root, "a.parquet", 0 until 100, vol = true)
      writeTicks(root, "b.parquet", 100 until 200)
      writeTicks(root, "c.parquet", 200 until 300, vol = true, extra = Some("Mid"))
      val wh = tmpDir("wh")
      val p = new IngestPipeline(spark, cfg(wh, batched))
      (p, p.run(root), root, wh)
    }
    val runs = Seq(false, true).map(deliver)
    for ((p, run, root, wh) <- runs) {
      val audit = run.tables.head
      assert(audit.rowsAppended == 200, s"$audit")
      assert(audit.rowsRejected == 100 && audit.filesProcessed == 3)
      assert(audit.qualityIssues == Seq("Unexpected columns not in the table schema: Mid"))
      val table = p.catalog.loadTable("gold.eurusd")
      assert(table.schema.fieldNames.toSeq == Seq("DateTime", "Bid", "Ask", "Vol"))
      val vols = table.read().orderBy("DateTime").select("Vol").collect().map(r => Option(r.get(0)))
      assert(vols.take(100).forall(_.isDefined) && vols.drop(100).forall(_.isEmpty))
      val fs = new Path(wh).getFileSystem(spark.sessionState.newHadoopConf())
      assert(new AuditLog(new Path(wh, "audit_log.json"), fs).readAll().size == 1)
      val ledger = new ChecksumLedger(new Path(wh, "ingested_files.json"), fs)
      val delivered = graft.util.ParquetListing.under(fs, new Path(root))
      assert(delivered.size == 3)
      delivered.foreach(f => assert(ledger.isKnown(f) == (f.getName != "c.parquet"), s"ledger: $f"))
    }
    assert(contents(runs(0)._1) == contents(runs(1)._1))
  }
}
