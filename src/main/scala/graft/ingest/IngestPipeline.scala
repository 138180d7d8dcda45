package graft.ingest

import graft.lake.{LakehouseCatalog, LakehouseTable}
import graft.util.{ParquetFooters, ParquetListing}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, input_file_name, lit}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

/** The reference's `run_pipeline`
  * (`/root/reference/lakehouse_pipeline.py:289-424`) re-expressed
  * Spark-first: per symbol-folder, discover parquet files, checksum-skip
  * unchanged ones, then per file quality-check → scan → normalize →
  * dedup-against-table → snapshot append, followed by snapshot expiry per
  * table and a run audit entry.
  *
  * Cluster boundaries: the scan/normalize/dedup/append steps are Spark
  * jobs (executor-parallel); QC reads the file's parquet footer on the
  * driver and falls back to a Spark job when a footer stat is not exact;
  * catalog, ledger, and audit are tiny driver-side JSON state, mirroring
  * the reference's split (SURVEY.md §3).
  */
final case class IngestConfig(
    warehouseDir: String,
    namespace: String = "gold",
    timeColumn: String = "DateTime",
    requiredColumns: Seq[String] = Seq("DateTime", "Bid", "Ask"),
    positiveColumns: Seq[String] = Seq("Bid", "Ask"),
    minRows: Long = 100L,
    maxNullFraction: Double = 0.05,
    retentionDays: Int = 7,
    keepSnapshots: Int = 2,
    /** >1 ingests independent symbols (= independent tables) from that
      * many driver threads concurrently — each table has its own
      * snapshot log so commits don't contend; catalog and ledger
      * mutations are internally synchronized. 1 = the reference's
      * strictly sequential behavior.
      */
    symbolParallelism: Int = 1,
    /** Batched per-symbol ingest: union all new files into ONE scan with
      * per-file QC in a single grouped pass, one dedup, one append —
      * instead of a full Spark job pipeline per file. At millions of
      * small files the per-file driver loop is the ingest bottleneck
      * (VERDICT r3 "What's wrong" #3); batched mode makes the driver
      * cost O(1) jobs per symbol while keeping per-file accounting via
      * input_file_name(). false = the reference's file-at-a-time flow.
      */
    batchedIngest: Boolean = false,
    /** Partition granularity of created tables (year | month | day |
      * hour | identity — see LakehouseTable.Granularities). The
      * reference hardcodes year; 100 TB tick data wants day/hour.
      */
    partitionGranularity: String = "year",
    /** What an incoming row with an already-ingested time key means:
      *  - "drop"  (reference semantics): first write wins — the anti-join
      *    discards it. NOTE this makes the reference's modified-file
      *    re-ingest a no-op for changed VALUES: the checksum ledger
      *    re-reads the file but every key already exists.
      *  - "upsert": last write wins — a copy-on-write merge replaces the
      *    existing rows (file-surgical, see LakehouseTable.merge).
      *  - "mor-upsert": last write wins via merge-on-read — one commit
      *    of batch + equality-delete key mask, ZERO existing files
      *    rewritten (LakehouseTable.morMerge). The CDC shape when
      *    updates are frequent and small relative to the table; reads
      *    pay a broadcast anti-join until maintenance folds the masks.
      */
    duplicateKeyPolicy: String = "drop"
) {
  // bad values fail here, naming the field, instead of silently acting
  // as a default (an unknown policy used to behave as "drop")
  private def policies = Seq("drop", "upsert", "mor-upsert")
  require(policies.contains(duplicateKeyPolicy),
    s"IngestConfig.duplicateKeyPolicy must be one of ${policies.mkString(", ")}, " +
      s"got '$duplicateKeyPolicy'")
  require(symbolParallelism >= 1,
    s"IngestConfig.symbolParallelism must be at least 1, got $symbolParallelism")
  require(maxNullFraction >= 0.0 && maxNullFraction <= 1.0,
    s"IngestConfig.maxNullFraction must be in [0, 1], got $maxNullFraction")
  require(minRows >= 0L, s"IngestConfig.minRows must not be negative, got $minRows")
  require(retentionDays >= 0, s"IngestConfig.retentionDays must not be negative, got $retentionDays")
}

final case class FileIngestResult(
    file: String,
    appended: Long,
    rejected: Long,
    skipped: Boolean,
    issues: Seq[String]
)

final class IngestPipeline(spark: SparkSession, cfg: IngestConfig) {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  val catalog = new LakehouseCatalog(spark, cfg.warehouseDir)
  private val whPath = new Path(cfg.warehouseDir)
  private def fs = whPath.getFileSystem(spark.sessionState.newHadoopConf())
  private val ledger = new ChecksumLedger(new Path(whPath, "ingested_files.json"), fs)
  private val audit = new AuditLog(new Path(whPath, "audit_log.json"), fs)
  private val runIdFmt = DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss").withZone(ZoneOffset.UTC)
  /** T4 concurrency guard (reference `lakehouse_scheduler.py:149`): the
    * watcher and the daily scheduler share one pipeline instance; runs
    * and micro-batches must never interleave (single-writer keeps the
    * metadata commit protocol trivially correct).
    */
  private val pipelineLock = new Object
  private val qcCfg = QcConfig(
    cfg.requiredColumns, cfg.timeColumn, cfg.positiveColumns, cfg.minRows, cfg.maxNullFraction)

  catalog.createNamespaceIfNotExists(cfg.namespace)

  /** Full run over a data root whose first-level subdirectories are
    * symbols (reference `:322-331`), each holding parquet files at any
    * depth (`:343`).
    */
  def run(dataRoot: String): RunSummary = pipelineLock.synchronized {
    val t0 = Instant.now()
    val root = new Path(dataRoot)
    val symbols = fs.listStatus(root).filter(_.isDirectory).map(_.getPath).sortBy(_.getName).toSeq
    // persist the ledger ONCE at run end (below), not per symbol: each
    // persist rewrites the whole map, so per-symbol persists cost
    // O(symbols × ledger) per run. A crash before the end-of-run persist
    // only costs re-examining this run's files next time — checksum-skip
    // plus row-level dedup make that re-work a no-op.
    def one(symDir: Path): TableAudit =
      ingestSymbolInner(symDir.getName, listParquet(symDir), persistLedger = false)
    val tableAudits =
      if (cfg.symbolParallelism <= 1 || symbols.size <= 1) symbols.map(one)
      else {
        // symbols are independent tables: fan the per-symbol loops over a
        // fixed driver-thread pool (Spark schedules jobs from many
        // threads fine); audit order stays deterministic
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val pool = java.util.concurrent.Executors.newFixedThreadPool(cfg.symbolParallelism)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        try Await.result(Future.sequence(symbols.map(sd => Future(one(sd)))), Duration.Inf)
        finally pool.shutdown()
      }
    ledger.persist()
    val t1 = Instant.now()
    val summary = RunSummary(
      runId = runIdFmt.format(t0),
      startedAtIso = t0.toString,
      finishedAtIso = t1.toString,
      durationSecs = (t1.toEpochMilli - t0.toEpochMilli) / 1000.0,
      tables = tableAudits,
      totalRowsAppended = tableAudits.map(_.rowsAppended).sum,
      errors = Nil)
    audit.append(summary)
    summary
  }

  private def listParquet(dir: Path): Seq[Path] =
    ParquetListing.under(fs, dir).sortBy(_.toString)

  /** Ingest a set of files into one symbol's table, then expire old
    * snapshots for that table (reference `:328-405`). File-at-a-time or
    * union-batched per cfg.batchedIngest; audit totals are identical
    * (per-file attribution of cross-file duplicate keys may differ —
    * sequential awards the earliest file, batched an arbitrary one).
    */
  def ingestSymbol(symbol: String, files: Seq[Path]): TableAudit =
    ingestSymbolInner(symbol, files, persistLedger = true)

  private def ingestSymbolInner(
      symbol: String, files: Seq[Path], persistLedger: Boolean): TableAudit = {
    val results =
      if (cfg.batchedIngest) withNanosAsLong(ingestFilesBatched(symbol, files))
      else files.map(f => ingestFile(symbol, f))
    if (persistLedger) ledger.persist()
    val tableId = s"${cfg.namespace}.${symbol.toLowerCase}"
    if (catalog.tableExists(tableId)) {
      val (expired, orphans) = catalog.loadTable(tableId).expireSnapshots(
        retentionMs = cfg.retentionDays.toLong * 24 * 3600 * 1000,
        keepLast = cfg.keepSnapshots)
      if (expired.nonEmpty)
        log.info(s"expired snapshots $expired of $tableId, deleted ${orphans.size} files")
    }
    TableAudit(
      table = tableId,
      rowsAppended = results.map(_.appended).sum,
      rowsRejected = results.map(_.rejected).sum,
      filesProcessed = results.count(r => !r.skipped),
      filesSkipped = results.count(_.skipped),
      qualityIssues = results.flatMap(_.issues))
  }

  /** Per-file flow (reference `:352-399`): checksum-skip → QC (fail ⇒
    * reject all rows) → scan → normalize → table create-if-missing
    * (schema frozen from this first batch) → dedup anti-join → append
    * only when new rows exist.
    *
    * Footer first: the file's parquet footer, opened once, decides QC
    * ([[QualityChecks.fromFooter]]) and gives the read schema and the
    * dedup key range ([[Dedup.footerKeyBounds]]). A rejected file is
    * then never scanned, and a passing one is read by the write alone.
    * Where a statistic is not exact, QC scans the normalized frame.
    */
  def ingestFile(symbol: String, file: Path): FileIngestResult = {
    val sum = ledger.checksum(file)
    if (ledger.isUnchanged(file, sum)) FileIngestResult(file.toString, 0, 0, skipped = true, Nil)
    else withNanosAsLong(ingestChanged(symbol, file, sum))
  }

  private def ingestChanged(symbol: String, file: Path, sum: String): FileIngestResult = {
    val footer = ParquetFooters.footer(file, spark.sessionState.newHadoopConf())
    val tableId = s"${cfg.namespace}.${symbol.toLowerCase}"
    val existing = Option.when(catalog.tableExists(tableId))(catalog.loadTable(tableId))
    val tableSchema = existing.map(_.schema)
    val misfit = tableSchema.toSeq.flatMap(schemaIssues(footerColumns(footer), _))
    if (misfit.nonEmpty) return misfitResult(file, footer, misfit)
    val footerQc = QualityChecks.fromFooter(footer, qcCfg)
    if (footerQc.exists(!_.passed)) return rejected(file, footerQc.get)

    // the footer's schema is the one inference reads, without its job;
    // a table column the file lacks reads as null
    val schema = footerSchema(file, footer)
    val df = Normalize(nullFilled(spark.read.schema(schema).parquet(file.toString), tableSchema),
      cfg.timeColumn)
    val keyBounds = Dedup.footerKeyBounds(footer, cfg.timeColumn)
    // cache the batch only when more than one job reads it: the QC scan
    // and the write; or, once QC passed and the table is known, the
    // dedup key-range agg, the table's key-bloom probe or the count
    // before an upsert, each ahead of the write
    def cache(): Unit = df.persist(StorageLevel.MEMORY_AND_DISK)
    if (footerQc.isEmpty) cache()
    try {
      val qc = footerQc.getOrElse(QualityChecks.run(df, qcCfg))
      if (!qc.passed) return rejected(file, qc)

      val table = existing.getOrElse(catalog.createTableIfNotExists(
        tableId, df.schema, Some(cfg.timeColumn), cfg.partitionGranularity))
      if (footerQc.isDefined && (keyBounds.isEmpty || cfg.duplicateKeyPolicy != "drop" ||
          table.properties.contains("write.key-bloom.bits"))) cache()

      // reject null-time-key rows (within QC's 5% tolerance they pass QC):
      // an equi-anti-join can never dedup them (null != null), so each
      // re-ingest would append them again, breaking the no-duplicate-key
      // invariant (ADVICE r1)
      val keyed =
        if (qc.nullTimeKey > 0) df.filter(col(cfg.timeColumn).isNotNull)
        else df

      // within-batch dedup FIRST: the reference skips this (its tick
      // files have unique timestamps by construction), but appending a
      // batch with internal key duplicates would break the engine's
      // no-duplicate-key table invariant — a deliberate, documented
      // divergence (SURVEY §2.3)
      // the staged write IS the emptiness check — no pre-append count()
      // materialization of the anti-join, and an all-duplicate re-ingest
      // commits no snapshot (reference `:388-392`)
      val nNew = writeBatch(table, keyed, keyBounds)
      ledger.record(file, sum)
      FileIngestResult(file.toString, nNew, qc.nullTimeKey, skipped = false, nullKeyIssues(qc))
    } finally df.unpersist()
  }

  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
  private val nanosLock = new Object
  private var nanosUsers = 0
  private var nanosBefore = "false"

  /** `body` with TIMESTAMP(NANOS) parquet read as longs (see
    * `graft.Tables.t`), and the caller's own setting back once the last
    * concurrent ingest of this pipeline has committed.
    */
  private def withNanosAsLong[A](body: => A): A = {
    nanosLock.synchronized {
      if (nanosUsers == 0) nanosBefore = spark.conf.get(nanosKey)
      nanosUsers += 1
      spark.conf.set(nanosKey, "true")
    }
    try body
    finally nanosLock.synchronized {
      nanosUsers -= 1
      if (nanosUsers == 0) spark.conf.set(nanosKey, nanosBefore)
    }
  }

  private def rejected(file: Path, qc: QcResult): FileIngestResult =
    FileIngestResult(file.toString, 0, math.max(qc.nRows, 0), skipped = false, qc.issues)

  private def footerColumns(footer: ParquetMetadata): Seq[String] = {
    import scala.jdk.CollectionConverters._
    footer.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq
  }

  private def footerSchema(file: Path, footer: ParquetMetadata): StructType =
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(file, footer), new ParquetToSparkSchemaConverter(spark.sessionState.conf))

  /** Why a file's columns cannot land in a table of `table`'s schema: the
    * columns the table lacks. A column the file lacks is null-filled
    * instead (a table's nullability is its first file's writer's, not a
    * declaration, and appends do not check it).
    */
  private def schemaIssues(fileCols: Seq[String], table: StructType): Seq[String] = {
    val extra = fileCols.filterNot(table.fieldNames.contains)
    if (extra.isEmpty) Nil
    else Seq(s"Unexpected columns not in the table schema: ${extra.mkString(", ")}")
  }

  private def misfitResult(file: Path, footer: ParquetMetadata, issues: Seq[String]): FileIngestResult = {
    import scala.jdk.CollectionConverters._
    FileIngestResult(file.toString, 0, footer.getBlocks.asScala.map(_.getRowCount).sum,
      skipped = false, issues)
  }

  /** `df` with a null column for each column of `table` it lacks. */
  private def nullFilled(df: DataFrame, table: Option[StructType]): DataFrame =
    table.fold(df)(_.fields.foldLeft(df)((d, f) =>
      if (d.columns.contains(f.name)) d else d.withColumn(f.name, lit(null).cast(f.dataType))))

  private def nullKeyIssues(qc: QcResult): Seq[String] =
    if (qc.nullTimeKey > 0) Seq(s"Rejected ${qc.nullTimeKey} rows with null ${cfg.timeColumn}")
    else Nil

  /** Land a normalized, null-key-free batch per duplicateKeyPolicy:
    * "drop" anti-joins table history and appends only new keys;
    * "upsert" merges (existing keys replaced file-surgically). Returns
    * the batch's own contribution — inserts plus updates under upsert,
    * fresh keys under drop (0 = nothing committed); rewritten survivor
    * rows are not counted. `keyBounds` covers the batch's keys when
    * known (see [[Dedup.dropExisting]]).
    */
  private def writeBatch(
      table: LakehouseTable, keyed: DataFrame, keyBounds: Option[(Long, Long)]): Long = {
    val deduped = Dedup.withinBatch(keyed, Seq(cfg.timeColumn))
    cfg.duplicateKeyPolicy match {
      case "upsert" | "mor-upsert" =>
        // report the batch's OWN contribution, not merge's addedRows —
        // the rewritten files also carry untouched survivor rows, which
        // would inflate per-file counts relative to the drop policy and
        // the reference's accounting (ADVICE r2). deduped derives from
        // the cached `df`, so the count is a cheap second pass.
        val n = deduped.count()
        if (n > 0) {
          if (cfg.duplicateKeyPolicy == "mor-upsert") table.morMerge(deduped, cfg.timeColumn)
          else table.merge(deduped, cfg.timeColumn)
        }
        n
      case _ =>
        val fresh = Dedup.dropExisting(deduped, table, cfg.timeColumn, keyBounds)
        table.appendIfNonEmpty(fresh).map(_.addedRows).getOrElse(0L)
    }
  }

  /** The batched scale path (cfg.batchedIngest): checksum-skip on the
    * driver as usual, then ingest ALL fresh files of the symbol through
    * one union scan — one within-batch dedup, one anti-join/merge, ONE
    * snapshot commit — so driver work per symbol is a constant number
    * of Spark jobs instead of ~4 jobs × |files|. Per-file QC comes from
    * each file's footer when every footer is exact, and failing files
    * stay out of the scan; otherwise a single grouped aggregation on
    * `input_file_name()` decides it. Per-file appended/rejected counts
    * are recovered from the same `input_file_name()` column, preserving
    * the reference's audit granularity (`lakehouse_pipeline.py:352-399`).
    */
  private def ingestFilesBatched(symbol: String, files: Seq[Path]): Seq[FileIngestResult] = {
    // bounded-parallel: MD5 is a full-file read per entry; serially this
    // is the exact per-file driver loop batched mode exists to collapse
    val sums = graft.util.BoundedPar.map(files)(f => f -> ledger.checksum(f))
    val (unchanged, fresh) = sums.partition { case (f, s) => ledger.isUnchanged(f, s) }
    val skippedResults = unchanged.map { case (f, _) =>
      FileIngestResult(f.toString, 0, 0, skipped = true, Nil) }
    if (fresh.isEmpty) return skippedResults

    // each file's OWN footer (footer-only read, no data pages), opened
    // bounded-parallel for the same reason as the checksums above.
    // Q2 is schema-level, and a union scan resolves ONE merged schema: a
    // file individually missing a required column would be silently
    // null-filled under it — passing batched QC where the per-file loop
    // rejects the file (ADVICE r4). So offenders stay out of the union
    // and both modes reject identically.
    val hconf = spark.sessionState.newHadoopConf()
    val footers =
      graft.util.BoundedPar.map(fresh) { case (f, _) => f -> ParquetFooters.footer(f, hconf) }.toMap
    def columns(f: Path): Seq[String] = footerColumns(footers(f))
    val (required, lackRequired) = fresh.partition { case (f, _) =>
      cfg.requiredColumns.forall(columns(f).contains) }
    val lackResults = lackRequired.map { case (f, _) =>
      val missing = cfg.requiredColumns.filterNot(columns(f).contains)
      FileIngestResult(f.toString, 0, 0, skipped = false,
        Seq(s"Missing required columns: ${missing.mkString(", ")}")) }
    if (required.isEmpty) return skippedResults ++ lackResults
    // the union scan reads one schema: the table's, or for a new table
    // the first file's. A file that does not fit it is rejected, as the
    // per-file flow rejects it; a column a file lacks reads as null.
    val tableId = s"${cfg.namespace}.${symbol.toLowerCase}"
    val tableSchema = Option.when(catalog.tableExists(tableId))(catalog.loadTable(tableId).schema)
    val reference = tableSchema.getOrElse(footerSchema(required.head._1, footers(required.head._1)))
    val (schemaOk, misfits) = required.partition { case (f, _) =>
      schemaIssues(columns(f), reference).isEmpty }
    val badResults = lackResults ++ misfits.map { case (f, _) =>
      misfitResult(f, footers(f), schemaIssues(columns(f), reference)) }
    if (schemaOk.isEmpty) return skippedResults ++ badResults

    // QC from the footers when every one is exact: the failing files
    // then stay out of the scan, and the key range is the union of the
    // passing files' ranges. Otherwise the grouped scan decides QC.
    val footerQc: Option[Map[Path, QcResult]] = {
      val qcs = schemaOk.map { case (f, _) => QualityChecks.fromFooter(footers(f), qcCfg).map(f -> _) }
      Option.when(qcs.forall(_.isDefined))(qcs.flatten.toMap)
    }
    val scanned = footerQc.fold(schemaOk)(qcs => schemaOk.filter(p => qcs(p._1).passed))
    val keyBounds = footerQc.flatMap { _ =>
      val bs = scanned.map { case (f, _) => Dedup.footerKeyBounds(footers(f), cfg.timeColumn) }
      Option.when(bs.nonEmpty && bs.forall(_.isDefined))(
        (bs.flatten.map(_._1).min, bs.flatten.map(_._2).max))
    }
    val (qcByFile, appendedByPath) =
      if (scanned.isEmpty) (footerQc.get, Map.empty[String, Long])
      else {
        // each column read with a scanned file's own parquet type; a
        // column no scanned file has keeps the table's
        val fileSchemas = scanned.map { case (f, _) => footerSchema(f, footers(f)) }
        val readSchema = StructType(reference.fields.map(r =>
          fileSchemas.flatMap(_.find(_.name == r.name)).headOption.getOrElse(r).copy(nullable = true)))
        scanAndWrite(symbol, scanned.map(_._1), readSchema, columns, footerQc, keyBounds)
      }

    skippedResults ++ badResults ++ schemaOk.map { case (f, sum) =>
      qcByFile.get(f) match {
        case Some(qc) if qc.passed =>
          ledger.record(f, sum)
          FileIngestResult(f.toString, appendedByPath.getOrElse(pathKey(f), 0L),
            qc.nullTimeKey, skipped = false, nullKeyIssues(qc))
        case Some(qc) => rejected(f, qc)
        case None => // zero-row parquet: no input_file_name group emitted
          FileIngestResult(f.toString, 0, 0, skipped = false,
            Seq(s"Insufficient rows: 0 < ${cfg.minRows}"))
      }
    }
  }

  /** A file's key in the per-file counts of [[scanAndWrite]]. */
  private def pathKey(f: Path): String = fs.makeQualified(f).toUri.getPath

  /** The union scan of [[ingestFilesBatched]]: QC by the grouped pass
    * unless `footerQc` already decided it (then every file passed), one
    * within-batch dedup, one anti-join/merge and one commit. The grouped
    * pass checks each file's nulls over its own footer `columns`, as the
    * footer and the per-file flow do. Returns each scanned file's QC (a
    * zero-row file has none) and the rows each contributed, keyed by
    * [[pathKey]].
    */
  private def scanAndWrite(
      symbol: String,
      files: Seq[Path],
      readSchema: StructType,
      columns: Path => Seq[String],
      footerQc: Option[Map[Path, QcResult]],
      keyBounds: Option[(Long, Long)]): (Map[Path, QcResult], Map[String, Long]) = {
    val raw = spark.read.schema(readSchema).parquet(files.map(_.toString): _*)
      .withColumn("__src", input_file_name())
    val df = Normalize(raw, cfg.timeColumn).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // input_file_name() yields URIs; match them back to ledger paths
      def norm(s: String): String = new Path(new java.net.URI(s)).toUri.getPath
      val (qcByFile, passing) = footerQc match {
        case Some(qcs) => (qcs, df)
        case None =>
          val colsByKey = files.map(f => pathKey(f) -> columns(f)).toMap
          val qcBySrc = QualityChecks.runPerFile(df, "__src", qcCfg, src => colsByKey.get(norm(src)))
          val srcByPath = qcBySrc.keys.map(src => norm(src) -> src).toMap
          val qcs = files.flatMap(f => srcByPath.get(pathKey(f)).map(src => f -> qcBySrc(src))).toMap
          val passSrcs = qcBySrc.collect { case (src, qc) if qc.passed => src }.toSeq
          (qcs, df.filter(col("__src").isin(passSrcs: _*)))
      }
      val appendedByPath: Map[String, Long] =
        if (!qcByFile.values.exists(_.passed)) Map.empty
        else {
          // same null-time-key rejection as ingestFile (see comment there)
          val keyed = passing.filter(col(cfg.timeColumn).isNotNull)
          val tableId = s"${cfg.namespace}.${symbol.toLowerCase}"
          val table = catalog.createTableIfNotExists(
            tableId, keyed.drop("__src").schema, Some(cfg.timeColumn),
            cfg.partitionGranularity)
          val deduped = Dedup.withinBatch(keyed, Seq(cfg.timeColumn))
          val toWrite = cfg.duplicateKeyPolicy match {
            case "upsert" | "mor-upsert" => deduped
            case _ => Dedup.dropExisting(deduped, table, cfg.timeColumn, keyBounds)
          }
          // one cheap grouped count (inputs cached) recovers the
          // per-file contribution the sequential loop reported
          val counts = toWrite.groupBy("__src").count().collect()
            .map(r => norm(r.getString(0)) -> r.getLong(1)).toMap
          if (counts.values.sum > 0) {
            val batch = toWrite.drop("__src")
            cfg.duplicateKeyPolicy match {
              case "mor-upsert" => table.morMerge(batch, cfg.timeColumn)
              case "upsert" => table.merge(batch, cfg.timeColumn)
              case _ => table.append(batch)
            }
          }
          counts
        }
      (qcByFile, appendedByPath)
    } finally df.unpersist()
  }

  /** Micro-batch entry used by the streaming watcher: ingest an already
    * loaded DataFrame into a symbol's table (normalize → QC → dedup →
    * append), bypassing the file ledger (the stream source's checkpoint
    * provides file-level exactly-once).
    */
  def ingestBatch(symbol: String, batch: DataFrame): FileIngestResult = pipelineLock.synchronized {
    val df = Normalize(batch, cfg.timeColumn).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val qc = QualityChecks.run(df, qcCfg)
      if (!qc.passed)
        return FileIngestResult(s"batch:$symbol", 0, math.max(qc.nRows, 0), skipped = false, qc.issues)
      val tableId = s"${cfg.namespace}.${symbol.toLowerCase}"
      val table = catalog.createTableIfNotExists(
        tableId, df.schema, Some(cfg.timeColumn), cfg.partitionGranularity)
      // same null-time-key rejection as ingestFile (see comment there)
      val keyed =
        if (qc.nullTimeKey > 0) df.filter(col(cfg.timeColumn).isNotNull)
        else df
      val n = writeBatch(table, keyed, keyBounds = None)
      FileIngestResult(s"batch:$symbol", n, qc.nullTimeKey, skipped = false, nullKeyIssues(qc))
    } finally df.unpersist()
  }

  /** Record checksums of files a STREAM already delivered: the file
    * source's checkpoint guarantees it never re-reads them, so without a
    * ledger entry a later in-place modification would be invisible to
    * everyone. With the entry, [[reingestModified]] can detect the byte
    * change and route the file through the duplicateKeyPolicy path.
    */
  def recordStreamed(files: Seq[Path]): Unit = {
    files.foreach(f => ledger.record(f, ledger.checksum(f)))
    ledger.persist()
  }

  /** Modified-file re-ingest for the streaming path (reference
    * mtime-diff, `lakehouse_scheduler.py:47-58`): re-examine
    * ledger-known files under `dataRoot` and push any whose bytes
    * changed back through [[ingestFile]] (checksum-skip makes unchanged
    * files a cheap no-op; changed files land per duplicateKeyPolicy —
    * "upsert" replaces the old rows, "drop" keeps first-write-wins).
    * Files the ledger does NOT know are left to the stream source —
    * re-ingesting them here would race the next micro-batch.
    *
    * `modifiedSinceMs` is the reference's mtime pre-filter: only files
    * touched at or after it are re-checksummed, so a steady-state sweep
    * costs one directory listing, not one checksum per known file.
    */
  def reingestModified(dataRoot: String, modifiedSinceMs: Long = 0L): Seq[FileIngestResult] =
    pipelineLock.synchronized {
      val root = new Path(dataRoot)
      if (!fs.exists(root)) return Nil
      val symbols = fs.listStatus(root).filter(_.isDirectory).map(_.getPath).sortBy(_.getName)
      val results = symbols.toSeq.flatMap { symDir =>
        listParquet(symDir)
          .filter(f => ledger.isKnown(f) &&
            fs.getFileStatus(f).getModificationTime >= modifiedSinceMs)
          .map(f => ingestFile(symDir.getName, f))
          .filterNot(_.skipped)
      }
      if (results.nonEmpty) ledger.persist()
      results
    }

  def auditLog: AuditLog = audit
}
