package lakebench

import graft.ingest._
import graft.lake.{LakehouseCatalog, LakehouseTable, Snapshot}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.apache.spark.storage.StorageLevel

import java.time.Instant
import scala.collection.mutable.ArrayBuffer

/** The traced pass's stand-in for `IngestPipeline.run`: the same stages
  * (whole-root checksum, normalize, QC, within-batch dedup, anti-join
  * against history, append, per-table expiry, ledger and audit), composed
  * from the engine's public functions so each call gets its own span.
  * It follows the pipeline's "drop" duplicate policy, in both its
  * file-at-a-time and batched modes. Two differences are deliberate and
  * are part of the measured tracing overhead: the anti-join is
  * materialized (cached and counted) inside the `ingest.dedup` span, so
  * dedup time is not folded into the append's write job; and the batched
  * mode's footer-only schema check is left out, as every generated file
  * carries the full schema.
  */
final class TracedIngest(spark: SparkSession, cfg: IngestConfig, t: Tracer) {
  private val catalog = new LakehouseCatalog(spark, cfg.warehouseDir)
  private val wh = new Path(cfg.warehouseDir)
  private val fs = wh.getFileSystem(spark.sessionState.newHadoopConf())
  private val ledger = new ChecksumLedger(new Path(wh, "ingested_files.json"), fs)
  private val audit = new AuditLog(new Path(wh, "audit_log.json"), fs)
  private val tc = cfg.timeColumn
  private val qcCfg = QcConfig(cfg.requiredColumns, tc, cfg.positiveColumns, cfg.minRows, cfg.maxNullFraction)

  var rowsRead = 0L
  var rowsAppended = 0L
  var filesRejected = 0
  /** ingest commits, the data files they added and the metadata bytes they wrote */
  var commits = 0
  var dataFiles = 0L
  var metadataBytes = 0L
  /** (history rows, materialized anti-join ms) per dedup call. */
  val dedupSeries: ArrayBuffer[(Long, Double)] = ArrayBuffer.empty

  def run(dataRoot: String): RunSummary = t.span("ingest.run") {
    val t0 = Instant.now()
    val symbols = fs.listStatus(new Path(dataRoot)).filter(_.isDirectory).map(_.getPath)
      .sortBy(_.getName).toSeq
    val audits = symbols.map(d => ingestSymbol(d.getName, listParquet(d)))
    t.span("ingest.ledger_audit") {
      ledger.persist()
      val t1 = Instant.now()
      val summary = RunSummary(t0.toString, t0.toString, t1.toString,
        (t1.toEpochMilli - t0.toEpochMilli) / 1000.0, audits, audits.map(_.rowsAppended).sum, Nil)
      audit.append(summary)
      summary
    }
  }

  private def listParquet(dir: Path): Seq[Path] = {
    val out = ArrayBuffer.empty[Path]
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(".parquet")) out += p
    }
    out.sortBy(_.toString).toSeq
  }

  private def tableId(symbol: String) = s"${cfg.namespace}.${symbol.toLowerCase}"

  private def ingestSymbol(symbol: String, files: Seq[Path]): TableAudit = {
    val results =
      if (cfg.batchedIngest) ingestBatched(symbol, files) else files.map(ingestFile(symbol, _))
    val id = tableId(symbol)
    if (catalog.tableExists(id)) t.span("lake.maintain.expire") {
      catalog.loadTable(id).expireSnapshots(
        retentionMs = cfg.retentionDays.toLong * 24 * 3600 * 1000, keepLast = cfg.keepSnapshots)
    }
    TableAudit(id, results.map(_.appended).sum, results.map(_.rejected).sum,
      results.count(!_.skipped), results.count(_.skipped), results.flatMap(_.issues))
  }

  private def ingestFile(symbol: String, file: Path): FileIngestResult = {
    val sum = t.span("ingest.checksum")(ledger.checksum(file))
    if (ledger.isUnchanged(file, sum)) return FileIngestResult(file.toString, 0, 0, skipped = true, Nil)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = Normalize(spark.read.parquet(file.toString), tc).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val qc = t.span("ingest.qc")(QualityChecks.run(df, qcCfg))
      rowsRead += math.max(qc.nRows, 0L)
      if (!qc.passed) {
        filesRejected += 1
        return FileIngestResult(file.toString, 0, math.max(qc.nRows, 0L), skipped = false, qc.issues)
      }
      val table = catalog.createTableIfNotExists(tableId(symbol), df.schema, Some(tc), cfg.partitionGranularity)
      val keyed = if (qc.nullTimeKey > 0) df.filter(col(tc).isNotNull) else df
      val fresh = dedup(table, keyed)
      val n = try commit(table)(table.appendIfNonEmpty(fresh)).map(_.addedRows).getOrElse(0L)
      finally fresh.unpersist()
      rowsAppended += n
      ledger.record(file, sum)
      FileIngestResult(file.toString, n, qc.nullTimeKey, skipped = false, Nil)
    } finally df.unpersist()
  }

  private def metadataDirBytes(table: LakehouseTable): Long =
    fs.getContentSummary(new Path(table.tableDir, "metadata")).getLength

  /** An append in a `lake.commit` span, with its files and metadata
    * bytes counted outside the span.
    */
  private def commit(table: LakehouseTable)(append: => Option[Snapshot]): Option[Snapshot] = {
    val before = metadataDirBytes(table)
    val snap = t.span("lake.commit")(append)
    snap.foreach { s =>
      commits += 1
      dataFiles += table.addedDataFiles(s).size
      metadataBytes += metadataDirBytes(table) - before
    }
    snap
  }

  /** `Dedup.withinBatch` then `Dedup.dropExisting`, with the history
    * side's manifest and file planning in a `lake.plan` span and the
    * anti-join materialized in the `ingest.dedup` span.
    */
  private def dedup(table: LakehouseTable, batch: DataFrame): DataFrame = {
    val deduped = Dedup.withinBatch(batch, Seq(tc))
    val meta = table.metadata
    val historyRows = meta.currentSnapshot.map(s => table.log.readManifestList(s).map(_.rows).sum).getOrElse(0L)
    val t0 = System.nanoTime()
    val out = t.span("ingest.dedup", "history_rows" -> historyRows) {
      if (meta.currentSnapshot.isEmpty) deduped
      else {
        val pruned = t.span("lake.plan") {
          if (meta.partitionTransform.contains(tc)) {
            val keyUs = unix_micros(col(tc).cast(TimestampType))
            val Array(lo, hi) = deduped.agg(min(keyUs), max(keyUs)).head().toSeq.toArray
            (lo, hi) match {
              case (l: Long, h: Long) => table.readRangeForKeys(l, h, deduped.select(keyUs.as("_ku")))
              case _ => table.read()
            }
          } else table.read()
        }
        val anti = deduped.join(pruned.select(col(tc)), Seq(tc), "left_anti")
          .persist(StorageLevel.MEMORY_AND_DISK)
        anti.count()
        anti
      }
    }
    dedupSeries += ((historyRows, (System.nanoTime() - t0) / 1e6))
    out
  }

  private def ingestBatched(symbol: String, files: Seq[Path]): Seq[FileIngestResult] = {
    val sums = t.span("ingest.checksum")(graft.util.BoundedPar.map(files)(f => f -> ledger.checksum(f)))
    val (unchanged, fresh) = sums.partition { case (f, s) => ledger.isUnchanged(f, s) }
    val skipped = unchanged.map { case (f, _) => FileIngestResult(f.toString, 0, 0, skipped = true, Nil) }
    if (fresh.isEmpty) return skipped
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(fresh.map(_._1.toString): _*).withColumn("__src", input_file_name())
    val df = Normalize(raw, tc).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val qcBySrc = t.span("ingest.qc")(QualityChecks.runPerFile(df, "__src", qcCfg))
      def norm(s: String): String = new Path(new java.net.URI(s)).toUri.getPath
      val qcByPath = qcBySrc.map { case (src, qc) => norm(src) -> (src, qc) }
      def qcOf(f: Path) = qcByPath.get(fs.makeQualified(f).toUri.getPath)
      val passSrcs = fresh.flatMap(p => qcOf(p._1)).collect { case (src, qc) if qc.passed => src }
      val appended: Map[String, Long] =
        if (passSrcs.isEmpty) Map.empty
        else {
          val keyed = df.filter(col("__src").isin(passSrcs: _*)).filter(col(tc).isNotNull)
          val table = catalog.createTableIfNotExists(
            tableId(symbol), keyed.drop("__src").schema, Some(tc), cfg.partitionGranularity)
          val toWrite = dedup(table, keyed)
          try {
            val counts = toWrite.groupBy("__src").count().collect()
              .map(r => norm(r.getString(0)) -> r.getLong(1)).toMap
            if (counts.values.sum > 0) commit(table)(Some(table.append(toWrite.drop("__src"))))
            counts
          } finally toWrite.unpersist()
        }
      skipped ++ fresh.map { case (f, sum) =>
        qcOf(f) match {
          case Some((_, qc)) if qc.passed =>
            rowsRead += qc.nRows
            ledger.record(f, sum)
            val n = appended.getOrElse(fs.makeQualified(f).toUri.getPath, 0L)
            rowsAppended += n
            FileIngestResult(f.toString, n, qc.nullTimeKey, skipped = false, Nil)
          case Some((_, qc)) =>
            rowsRead += qc.nRows
            filesRejected += 1
            FileIngestResult(f.toString, 0, math.max(qc.nRows, 0L), skipped = false, qc.issues)
          case None =>
            filesRejected += 1
            FileIngestResult(f.toString, 0, 0, skipped = false, Seq(s"Insufficient rows: 0 < ${cfg.minRows}"))
        }
      }
    } finally df.unpersist()
  }
}
