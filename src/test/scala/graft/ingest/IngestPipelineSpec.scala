package graft.ingest

import graft.SparkSpec

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

class IngestPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def writeSymbolFile(root: String, symbol: String, name: String, ids: Range): String = {
    val df = ids.map(i =>
      (Timestamp.valueOf(f"2024-01-01 00:00:${i % 60}%02d.$i%06d"), 1.0 + i, 2.0 + i))
      .toDF("DateTime", "Bid", "Ask")
    val tmp = tmpDir("stage")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet")).findFirst().get()
    val dest = Paths.get(root, symbol, name)
    Files.createDirectories(dest.getParent)
    Files.copy(part, dest, StandardCopyOption.REPLACE_EXISTING)
    dest.toString
  }

  private def cfg(wh: String) = IngestConfig(warehouseDir = wh, minRows = 10L)

  test("full run: discovers symbols, ingests, audits") {
    val root = tmpDir("data")
    writeSymbolFile(root, "EURUSD", "a.parquet", 0 until 100)
    writeSymbolFile(root, "USDJPY", "b.parquet", 0 until 50)
    val p = new IngestPipeline(spark, cfg(tmpDir("wh")))
    val run = p.run(root)
    assert(run.totalRowsAppended == 150)
    assert(run.tables.map(_.table).sorted == Seq("gold.eurusd", "gold.usdjpy"))
    assert(p.catalog.loadTable("gold.eurusd").read().count() == 100)
    assert(p.auditLog.readAll().size == 1)
  }

  test("re-run is a no-op: ledger skips unchanged files") {
    val root = tmpDir("data")
    writeSymbolFile(root, "EURUSD", "a.parquet", 0 until 100)
    val wh = tmpDir("wh")
    val p = new IngestPipeline(spark, cfg(wh))
    p.run(root)
    val second = new IngestPipeline(spark, cfg(wh)).run(root)
    assert(second.totalRowsAppended == 0)
    assert(second.tables.head.filesSkipped == 1)
    assert(second.tables.head.filesProcessed == 0)
    // no extra snapshot was created
    assert(p.catalog.loadTable("gold.eurusd").snapshots.size == 1)
  }

  test("changed file re-ingests; dedup keeps only genuinely new rows") {
    val root = tmpDir("data")
    writeSymbolFile(root, "EURUSD", "a.parquet", 0 until 100)
    val wh = tmpDir("wh")
    new IngestPipeline(spark, cfg(wh)).run(root)
    // same path, new content: 50 overlapping + 50 new rows
    writeSymbolFile(root, "EURUSD", "a.parquet", 50 until 150)
    val run2 = new IngestPipeline(spark, cfg(wh)).run(root)
    assert(run2.tables.head.filesSkipped == 0)
    assert(run2.totalRowsAppended == 50)
    val table = new IngestPipeline(spark, cfg(wh)).catalog.loadTable("gold.eurusd")
    assert(table.read().count() == 150)
  }

  test("QC-failing file is rejected and does not create a table") {
    val root = tmpDir("data")
    writeSymbolFile(root, "BAD", "tiny.parquet", 0 until 5) // below minRows=10
    val p = new IngestPipeline(spark, cfg(tmpDir("wh")))
    val run = p.run(root)
    assert(run.totalRowsAppended == 0)
    assert(run.tables.head.rowsRejected == 5)
    assert(run.tables.head.qualityIssues.exists(_.contains("Insufficient rows")))
    assert(!p.catalog.tableExists("gold.bad"))
  }

  test("overlapping second file appends only the delta") {
    val root = tmpDir("data")
    writeSymbolFile(root, "EURUSD", "a.parquet", 0 until 100)
    writeSymbolFile(root, "EURUSD", "b.parquet", 80 until 120)
    val p = new IngestPipeline(spark, cfg(tmpDir("wh")))
    val run = p.run(root)
    assert(run.totalRowsAppended == 120)
    assert(p.catalog.loadTable("gold.eurusd").read().count() == 120)
  }

  test("file-at-a-time and batched runs leave the caller's nanosAsLong as it was") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    try for (batched <- Seq(false, true); value <- Seq(None, Some("false"))) {
      value.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      val prior = spark.conf.getOption(key)
      val root = tmpDir("data")
      writeSymbolFile(root, "EURUSD", "a.parquet", 0 until 100)
      writeSymbolFile(root, "EURUSD", "b.parquet", 80 until 120)
      val run = new IngestPipeline(spark, cfg(tmpDir("wh")).copy(batchedIngest = batched)).run(root)
      assert(run.totalRowsAppended == 120)
      assert(spark.conf.getOption(key) == prior, s"batched=$batched, before the run $prior")
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
