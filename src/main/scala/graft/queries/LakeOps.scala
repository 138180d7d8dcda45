package graft.queries

import graft.ingest.{IngestConfig, IngestPipeline}
import graft.lake.LakehouseTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Files

/** End-to-end lakehouse flows registered as oracle-checked queries: the
  * whole normalize → QC → dedup → snapshot-append → read-back path must
  * reproduce exactly what DuckDB computes over the raw input parquet.
  * (µs-truncated `ts` is unique at every test SF, so "dedup changes
  * nothing on first ingest, and a full overlapping re-ingest appends
  * nothing" holds exactly.)
  */
object LakeOps {

  private def eventsConfig(wh: String) = IngestConfig(
    warehouseDir = wh,
    namespace = "gold",
    timeColumn = "ts",
    requiredColumns = Seq("event_id", "ts", "value"),
    // positivity is a price-column contract (Bid/Ask in the reference);
    // events.value legitimately contains zeros at sf0.1
    positiveColumns = Seq(),
    minRows = 100L)

  // every q_lake_* run gets a throwaway warehouse; a JVM-exit hook reaps
  // them all so repeated verify/bench invocations don't leak table copies
  // under /tmp (the returned DataFrame is lazy, so we can't delete before
  // the caller materializes it). The hook reports to stderr, not the
  // logger: logging may already be shut down when it runs
  private val tempWarehouses = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    tempWarehouses.foreach { root =>
      try {
        import scala.jdk.CollectionConverters._
        Files.walk(root).iterator().asScala.toSeq.reverseIterator
          .foreach(p => Files.deleteIfExists(p))
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"WARN could not remove temp warehouse $root: ${e.getMessage}")
      }
    }))

  private[queries] def freshWarehouse(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    tempWarehouses.synchronized { tempWarehouses += dir }
    dir.toString
  }

  private def yearStats(table: DataFrame): DataFrame =
    table
      .groupBy(year(col("ts")).cast(LongType).as("ts_year"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(unix_micros(col("ts"))).as("min_ts_us"),
        max(unix_micros(col("ts"))).as("max_ts_us"))
      .orderBy("ts_year")

  /** Ingest events + a fully overlapping copy; dedup must drop the
    * second batch entirely, so year stats equal the raw input's.
    */
  def roundtrip(s: SparkSession, dir: String): DataFrame = {
    val pipeline = new IngestPipeline(s, eventsConfig(freshWarehouse("graft-rt")))
    val ev = graft.Tables.t(s, dir, "events")
    pipeline.ingestBatch("events", ev)
    pipeline.ingestBatch("events", ev) // full overlap: anti-join drops all
    yearStats(pipeline.catalog.loadTable("gold.events").read())
  }

  /** Two appends (even event_ids, then everything); time travel to the
    * first snapshot must see only the even rows, current sees all. The
    * first snapshot is addressed by a NAMED TAG (Iceberg tag analog),
    * covering tagSnapshot/readTag under the same oracle.
    */
  def timeTravel(s: SparkSession, dir: String): DataFrame = {
    val pipeline = new IngestPipeline(s, eventsConfig(freshWarehouse("graft-tt")))
    val ev = graft.Tables.t(s, dir, "events")
    pipeline.ingestBatch("events", ev.filter(col("event_id") % 2 === 0))
    pipeline.ingestBatch("events", ev)
    val table: LakehouseTable = pipeline.catalog.loadTable("gold.events")
    table.tagSnapshot("first-ingest", table.snapshots.head.id)
    val atFirst = table.readTag("first-ingest")
      .agg(count(lit(1)).as("n_rows")).select(lit(1L).as("snap"), col("n_rows"))
    val atCurrent = table.read()
      .agg(count(lit(1)).as("n_rows")).select(lit(2L).as("snap"), col("n_rows"))
    atFirst.unionByName(atCurrent).orderBy("snap")
  }

  /** Ingest, compact to one file per partition, and read back — the
    * maintenance path must be invisible to query results.
    */
  def compactRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val pipeline = new IngestPipeline(s, eventsConfig(freshWarehouse("graft-cp")))
    pipeline.ingestBatch("events", graft.Tables.t(s, dir, "events"))
    val table = pipeline.catalog.loadTable("gold.events")
    table.compact()
    val nFiles = table.currentDataFiles.size.toLong
    yearStats(table.read())
      .withColumn("n_files", lit(nFiles)) // 1 partition (all 2024) → 1 file
  }

  /** Z-order maintenance flow: ingest events in three chunks, rewrite
    * clustered on (ts, event_id), then answer an event_id slice through
    * the secondary-bounds pruned path. Layout must be invisible to
    * results (totals equal DuckDB over the raw parquet); `pruned` pins
    * that the narrow slice plans a strict subset of the files — the
    * metadata-level benefit z-ordering exists for.
    */
  def zorderFlow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val ev = graft.Tables.t(s, dir, "events").select(col("event_id"), col("ts"), col("value"))
    val table = graft.lake.LakehouseTable.createIfNotExists(
      s, new Path(freshWarehouse("graft-zo"), "events"), ev.schema, Some("ts"))
    (0 until 3).foreach(i => table.append(ev.filter(col("event_id") % 3 === i)))
    table.compactZOrder(Seq("ts", "event_id"), filesPerPartition = 8)
    val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
    val total = table.currentDataFiles.size
    val kept = table.filesOverlappingColumn("event_id", 0L, maxId / 16).size
    table.readColumnRange("event_id", 0L, maxId / 16).agg(
      count(lit(1)).as("n_rows"),
      sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
      .withColumn("pruned", lit(kept < total))
  }

  /** The audit trail as a queryable table (reference audit_log.json,
    * `lakehouse_pipeline.py:97-107`): two pipeline runs — full ingest,
    * then a fully-deduped re-ingest — audited as (run_seq, rows).
    */
  def auditSummary(s: SparkSession, dir: String): DataFrame = {
    import java.time.Instant
    val wh = freshWarehouse("graft-au")
    val pipeline = new IngestPipeline(s, eventsConfig(wh))
    val ev = graft.Tables.t(s, dir, "events")
    def runOnce(): Unit = {
      val t0 = Instant.now()
      val res = pipeline.ingestBatch("events", ev)
      val t1 = Instant.now()
      pipeline.auditLog.append(graft.ingest.RunSummary(
        runId = t0.toString, startedAtIso = t0.toString, finishedAtIso = t1.toString,
        durationSecs = (t1.toEpochMilli - t0.toEpochMilli) / 1000.0,
        tables = Seq(graft.ingest.TableAudit("gold.events", res.appended, res.rejected,
          1, 0, res.issues)),
        totalRowsAppended = res.appended, errors = Nil))
    }
    runOnce(); runOnce()
    val audits = pipeline.auditLog.readAll()
    import s.implicits._
    audits.zipWithIndex
      .map { case (r, i) => ((i + 1).toLong, r.totalRowsAppended, r.tables.head.rowsRejected) }
      .toDF("run_seq", "rows_appended", "rows_rejected")
      .orderBy("run_seq")
  }

  /** Day-granularity partition transform (VERDICT r4 #1): ingest events
    * into a DAY-partitioned table and aggregate BY the derived partition
    * column — proving the yyyymmdd derivation, the hive-dir write
    * layout, and the dir-recovered read-back all agree with DuckDB
    * recomputing the day from the raw timestamps. `n_partitions` pins
    * the physical layout to one dir per distinct day.
    */
  def dayPartitionFlow(s: SparkSession, dir: String): DataFrame = {
    val pipeline = new IngestPipeline(s,
      eventsConfig(freshWarehouse("graft-dy")).copy(partitionGranularity = "day"))
    val ev = graft.Tables.t(s, dir, "events")
    pipeline.ingestBatch("events", ev)
    val table = pipeline.catalog.loadTable("gold.events")
    val nParts = table.currentDataFiles
      .map(_.path.split("/").dropRight(1).mkString("/")).distinct.size.toLong
    table.read()
      .groupBy(col("ts_day").cast(LongType).as("ts_day"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(unix_micros(col("ts"))).as("min_ts_us"),
        max(unix_micros(col("ts"))).as("max_ts_us"))
      .withColumn("n_partitions", lit(nParts))
      .orderBy("ts_day")
  }

  /** Bucket[16] partition transform on the HIGH-cardinality user_id
    * (VERDICT r5 missing #4): append events into a bucket-partitioned
    * table, then answer an equality-key lookup through [[LakehouseTable
    * .readKeyIn]] — the path that derives each key's bucket with the
    * write-side stable hash and lets hive-dir pruning plan 1-of-N dirs.
    * The per-user counts/sums must match DuckDB filtering the raw
    * parquet directly, proving the hash-route loses and invents no
    * rows; `n_buckets_ok` pins the physical layout to ≤16 dirs despite
    * 150+ distinct keys.
    */
  def bucketPartitionFlow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val ev = graft.Tables.t(s, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    val tableDir = new Path(freshWarehouse("graft-bk"), "events_by_user")
    val table = LakehouseTable.createIfNotExists(
      s, tableDir, ev.schema, Some("user_id"), "bucket[16]")
    table.append(ev)
    val nDirs = table.currentDataFiles
      .map(_.path.split("/").dropRight(1).mkString("/")).distinct.size
    val keys = Seq(1L, 2L, 3L, 5L, 8L, 13L)
    table.readKeyIn(keys)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
      .withColumn("n_buckets_ok", lit(nDirs <= 16))
      .orderBy("user_id")
  }

  /** Schema evolution flow (VERDICT r5 missing #5): append half the
    * events under the original column name, RENAME value→amount
    * (metadata-only — no file rewrite), append the other half under the
    * new name, then aggregate across both physical epochs; stage 2
    * re-aggregates after a logical DROP of an unrelated column. The
    * sums must equal DuckDB summing the raw parquet — proving the
    * alias-coalesce read loses no rows and mixes no columns, and that
    * drop disturbs nothing.
    */
  def renameFlow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val ev = graft.Tables.t(s, dir, "events")
      .select(col("event_id"), col("ts"), col("value"))
    val tableDir = new Path(freshWarehouse("graft-rn"), "events_renamed")
    val table = LakehouseTable.createIfNotExists(
      s, tableDir, ev.schema, Some("ts"), "year")
    table.append(ev.filter(col("event_id") % 2 === 0)) // physical: value
    table.renameColumn("value", "amount")
    table.append(ev.filter(col("event_id") % 2 =!= 0) // physical: amount
      .withColumnRenamed("value", "amount"))
    def agg(stage: Int) = table.read().agg(
      lit(stage.toLong).as("stage"),
      count(lit(1)).as("n_rows"),
      sum(col("amount").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_amount"))
    val afterRename = agg(1)
    val r1 = afterRename.head() // materialize BEFORE the drop mutates the table
    table.dropColumn("event_id")
    val r2 = agg(2).head()
    s.createDataFrame(
      java.util.Arrays.asList(r1, r2), afterRename.schema).orderBy("stage")
  }

  /** Type-widening flow (VERDICT r8 #6, PyIceberg `update_column`
    * promotion): append half the events under NARROW physical types
    * (int32 scaled value, float32 value), promote both columns
    * int→long / float→double (metadata-only — no file rewrite; the
    * flow asserts the data-file set is untouched), refuse the
    * narrowing retype, then append the other half WIDE and aggregate
    * across both physical epochs. The sums must equal DuckDB running
    * the same narrow-then-widen arithmetic over the raw parquet —
    * proving the widened read loses no precision on either epoch.
    */
  def widenFlow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val ev = graft.Tables.t(s, dir, "events").select(
      col("event_id"), col("ts"),
      // floor, not round: identical for every IEEE double in both engines
      floor(col("value") * 100).cast(IntegerType).as("v_scaled"),
      col("value").cast(FloatType).as("v_f32"))
    val tableDir = new Path(freshWarehouse("graft-wd"), "events_widened")
    val table = LakehouseTable.createIfNotExists(
      s, tableDir, ev.schema, Some("ts"), "year")
    table.append(ev.filter(col("event_id") % 2 === 0)) // narrow epoch
    val filesBefore = table.currentDataFiles.map(_.path).toSet
    table.widenColumn("v_scaled", LongType)
    table.widenColumn("v_f32", DoubleType)
    val metadataOnly = table.currentDataFiles.map(_.path).toSet == filesBefore
    val narrowRefused =
      try { table.widenColumn("v_scaled", IntegerType); false }
      catch { case _: IllegalArgumentException => true }
    table.append(ev.filter(col("event_id") % 2 =!= 0) // wide epoch
      .withColumn("v_scaled", col("v_scaled").cast(LongType))
      .withColumn("v_f32", col("v_f32").cast(DoubleType)))
    table.read().agg(
      count(lit(1)).as("n_rows"),
      sum(col("v_scaled")).as("sum_scaled"),
      // f32→decimal is tie-free (no float32 lands exactly on a 4-decimal
      // midpoint — midpoints are not dyadic), so both engines round alike
      sum(col("v_f32").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_f32"))
      .withColumn("metadata_only", lit(metadataOnly))
      .withColumn("narrow_refused", lit(narrowRefused))
  }

  /** Cherry-pick flow (round 9): half the events land on main, the
    * other half stages on an audit branch; main then ADVANCES (a third
    * slice), so fastForward must refuse — and cherrypickSnapshot
    * replays the audited append by reference. The final aggregate must
    * equal DuckDB over the full raw input (no row lost, none
    * duplicated), with the refusal, the retry-idempotence refusal, and
    * the metadata-only property pinned as booleans.
    */
  def cherrypickFlow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val ev = graft.Tables.t(s, dir, "events")
      .select(col("event_id"), col("ts"), col("value"))
    val table = LakehouseTable.createIfNotExists(
      s, new Path(freshWarehouse("graft-cp"), "events_cp"), ev.schema, Some("ts"), "year")
    table.append(ev.filter(col("event_id") % 3 === 0))
    table.createBranch("audit")
    val staged = table.appendToBranch("audit", ev.filter(col("event_id") % 3 === 1))
    table.append(ev.filter(col("event_id") % 3 === 2)) // main advances
    val ffRefused =
      try { table.fastForward("audit"); false }
      catch { case _: IllegalArgumentException => true }
    val stagedFiles = table.dataFiles(staged).map(_.path).toSet
    table.cherrypickSnapshot(staged.id)
    val byReference = stagedFiles.subsetOf(table.currentDataFiles.map(_.path).toSet)
    val retryRefused =
      try { table.cherrypickSnapshot(staged.id); false }
      catch { case _: IllegalArgumentException => true }
    table.read().agg(
      count(lit(1)).as("n_rows"),
      sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
      .withColumn("ff_refused", lit(ffRefused))
      .withColumn("by_reference", lit(byReference))
      .withColumn("retry_refused", lit(retryRefused))
  }

  private val sqlMaintainN = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Pure-SQL maintenance (VERDICT r8 #7): the whole cycle — create,
    * populate (4 commits of small-file pressure), compact, expire —
    * driven by `spark.sql` alone through the `CALL graft.system.*`
    * procedures, then value-checked against DuckDB over the raw
    * parquet. The procedure reports are folded into the output
    * (`files_reduced`, `expired_some`), so CORRECTNESS also pins that
    * the compaction actually shrank the file count and expiry actually
    * aged snapshots out — maintenance moved bytes and metadata, never
    * rows.
    */
  def sqlMaintainFlow(s: SparkSession, dir: String): DataFrame = {
    // a catalog name is bound to one warehouse for the session's
    // lifetime (Spark caches catalog instances), so each invocation
    // registers a fresh name
    val cat = s"gsqlm${sqlMaintainN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", freshWarehouse("graft-sqlm"))
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gold")
    graft.Tables.t(s, dir, "events").select("event_id", "ts", "value")
      .createOrReplaceTempView("events_sqlm_src")
    s.sql(s"""CREATE TABLE $cat.gold.events_m
             |  (event_id BIGINT, ts TIMESTAMP, value DOUBLE)
             |  PARTITIONED BY (years(ts))""".stripMargin)
    (0 until 4).foreach(i => s.sql(
      s"INSERT INTO $cat.gold.events_m SELECT * FROM events_sqlm_src WHERE event_id % 4 = $i"))
    val rep = s.sql(s"CALL $cat.system.rewrite_data_files(table => 'gold.events_m')").head()
    val exp = s.sql(s"CALL $cat.system.expire_snapshots('gold.events_m', 0L, 2)").head()
    s.sql(s"""SELECT count(*) AS n_rows,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
             |FROM $cat.gold.events_m""".stripMargin)
      .withColumn("files_reduced", lit(rep.getInt(1) < rep.getInt(0)))
      // 4 inserts + 1 compaction = 5 snapshots; keep_last 2 ⇒ exactly 3 age out
      .withColumn("expired_3", lit(exp.getInt(0) == 3))
  }

  /** Composite maintenance cycle: six 1-file appends build small-file
    * pressure; `maintain` compacts, then (after one more append ages
    * the last pre-compaction snapshot out of keepLast) a second cycle
    * reaps the stranded files. Every row of the final table must still
    * match DuckDB over the raw parquet — maintenance moves bytes,
    * never rows.
    */
  def maintainFlow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val ev = graft.Tables.t(s, dir, "events")
      .select(col("event_id"), col("ts"), col("value"))
    val tableDir = new Path(freshWarehouse("graft-mt"), "events_maint")
    val table = LakehouseTable.createIfNotExists(
      s, tableDir, ev.schema, Some("ts"), "year")
    // sidecar blooms ride the whole maintenance lifecycle (round 14,
    // VERDICT r13 #8): appends and compactions each write a sidecar
    // GENERATION, expiry orphans superseded ones, and the usage metric
    // below is what an operator watches at 10⁶ files so bloom storage
    // doesn't drift unbounded between orphan-reap runs
    table.setProperty("write.key-bloom.bits", "65536")
    table.setProperty("write.key-bloom.location", "sidecar")
    (0 until 6).foreach(i =>
      table.append(ev.filter(col("event_id") % 6 === i).coalesce(1)))
    val r1 = table.maintain(retentionMs = 0L)
    table.append(ev.limit(0).coalesce(1)) // age the window without adding rows
    val r2 = table.maintain(retentionMs = 0L)
    val (liveBefore, diskBefore) = table.sidecarUsage()
    table.removeOrphanedFiles()
    val (liveAfter, diskAfter) = table.sidecarUsage()
    table.read().agg(
      count(lit(1)).as("n_rows"),
      sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
      .select(
        col("n_rows"), col("sum_value"),
        lit(r1.compacted).as("compacted"),
        lit(r1.expiredSnapshots > 0 || r2.expiredSnapshots > 0).as("expired_any"),
        lit(r2.deletedFiles > 0).as("reaped_stranded"),
        lit(liveBefore > 0 && liveBefore <= diskBefore).as("sidecars_live"),
        lit(liveAfter == diskAfter && liveAfter == liveBefore)
          .as("sidecar_orphans_reaped"))
  }

  /** Three appends → expire with zero retention: the newest two
    * snapshots (and the current one) must survive, exactly one expires,
    * and the table's live rows are untouched — M1's intended semantics
    * (the reference computes but fails to honor the protected set,
    * SURVEY.md §2.9).
    */
  def expiryFlow(s: SparkSession, dir: String): DataFrame = {
    val pipeline = new IngestPipeline(s, eventsConfig(freshWarehouse("graft-ex")))
    val ev = graft.Tables.t(s, dir, "events")
    pipeline.ingestBatch("events", ev.filter(col("event_id") % 3 === 0))
    pipeline.ingestBatch("events", ev.filter(col("event_id") % 3 <= 1))
    pipeline.ingestBatch("events", ev)
    val table = pipeline.catalog.loadTable("gold.events")
    val before = table.snapshots.size.toLong
    val (expired, _) = table.expireSnapshots(retentionMs = 0L, keepLast = 2)
    val after = table.snapshots.size.toLong
    val nRows = table.read().agg(count(lit(1)).as("n_rows"))
    nRows.select(
      lit(before).as("snaps_before"),
      lit(after).as("snaps_after"),
      lit(expired.size.toLong).as("n_expired"),
      col("n_rows"))
  }

  /** Plant an unreferenced data file + a stale staging dir (the two
    * crash-leftover shapes), run maintenance, and prove live data is
    * untouched while both leftovers are reclaimed.
    */
  def orphanFlow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val pipeline = new IngestPipeline(s, eventsConfig(freshWarehouse("graft-or")))
    pipeline.ingestBatch("events", graft.Tables.t(s, dir, "events"))
    val table = pipeline.catalog.loadTable("gold.events")
    val fs = table.tableDir.getFileSystem(s.sessionState.newHadoopConf())
    val stray = new Path(table.tableDir, "data/crash-leftover.parquet")
    val o1 = fs.create(stray, true); o1.write(1); o1.close()
    val staging = new Path(table.tableDir, ".staging-crashed/part-0.parquet")
    val o2 = fs.create(staging, true); o2.write(1); o2.close()
    val deleted = table.removeOrphanedFiles()
    table.read().agg(count(lit(1)).as("n_rows"))
      .select(lit(deleted.size.toLong).as("n_reclaimed"), col("n_rows"))
  }

  /** Two appends with ADD-COLUMN evolution between them: the widened
    * schema reads pre-evolution rows as null in the new column.
    */
  def evolutionFlow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val ev = graft.Tables.t(s, dir, "events").select(col("event_id"), col("ts"), col("value"))
    val before = ev.filter(col("event_id") % 2 === 0)
    val after = ev.filter(col("event_id") % 2 === 1)
      .withColumn("source", concat(lit("s"), (col("event_id") % 3).cast("string")))
    val table = graft.lake.LakehouseTable.createIfNotExists(
      s, new Path(freshWarehouse("graft-ev"), "events"), before.schema, Some("ts"))
    table.append(before)
    table.appendEvolving(after)
    table.read().agg(
      count(lit(1)).as("n_rows"),
      count(col("source")).as("n_with_source"),
      countDistinct(col("source")).as("n_source_values"))
  }

  /** Copy-on-write MERGE: ingest events, upsert +1000 onto every 5th
    * event's value, read back totals. (Input values top out below 500,
    * so `value >= 1000` identifies updated rows unambiguously.)
    */
  def mergeFlow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val ev = graft.Tables.t(s, dir, "events").select(col("event_id"), col("ts"), col("value"))
    val table = graft.lake.LakehouseTable.createIfNotExists(
      s, new Path(freshWarehouse("graft-mg"), "events"), ev.schema, Some("ts"))
    table.append(ev)
    // merge requires the batch unique on the key; dedup defensively so a
    // duplicate ts in a regenerated corpus can't silently violate the
    // no-duplicate-key invariant (ADVICE r2). EventsTsUniqueSpec asserts
    // the corpus assumption that ts duplicates don't exist today.
    val updates = graft.ingest.Dedup.withinBatch(
      ev.filter(col("event_id") % 5 === 0)
        .withColumn("value", col("value") + 1000.0),
      Seq("ts"))
    table.merge(updates, "ts")
    table.read().agg(
      count(lit(1)).as("n_rows"),
      count(when(col("value") >= 1000.0, 1)).as("n_updated"),
      sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
  }

  /** Merge-on-read flow (Iceberg v2 equality-delete analog): append all
    * events, MoR-DELETE every 7th event's key (one tiny key file, zero
    * data files rewritten — `no_rewrite` pins that), then MoR-MERGE +1000
    * onto every 5th event (one commit: batch append + key-file mask; a
    * key hit by both ops is deleted then re-upserted). The read-back
    * totals must equal DuckDB computing the same upsert-over-delete
    * algebra directly on the raw parquet — proving the sequence-gated
    * anti-join read loses no live rows and resurrects no masked ones.
    */
  def morFlow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val ev = graft.Tables.t(s, dir, "events").select(col("event_id"), col("ts"), col("value"))
    val table = graft.lake.LakehouseTable.createIfNotExists(
      s, new Path(freshWarehouse("graft-mr"), "events"), ev.schema, Some("ts"))
    table.append(ev)
    val filesAfterAppend = table.currentDataFiles.map(_.path).toSet
    table.morDeleteKeys(ev.filter(col("event_id") % 7 === 0).select("ts"), "ts")
    val noRewrite = table.currentDataFiles.map(_.path).toSet == filesAfterAppend
    val updates = graft.ingest.Dedup.withinBatch(
      ev.filter(col("event_id") % 5 === 0)
        .withColumn("value", col("value") + 1000.0),
      Seq("ts"))
    table.morMerge(updates, "ts")
    table.read().agg(
      count(lit(1)).as("n_rows"),
      count(when(col("value") >= 1000.0, 1)).as("n_updated"),
      sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
      .withColumn("no_rewrite", lit(noRewrite))
  }

  /** Rollback flow: a good batch, then a bad batch, then
    * [[LakehouseTable.rollbackTo]] the good snapshot — reads must show
    * exactly the good half (DuckDB over the raw parquet), while the bad
    * snapshot remains in history for the post-mortem (`bad_kept`) and
    * still time-travels (`bad_readable`).
    */
  def rollbackFlow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val ev = graft.Tables.t(s, dir, "events").select(col("event_id"), col("ts"), col("value"))
    val table = graft.lake.LakehouseTable.createIfNotExists(
      s, new Path(freshWarehouse("graft-rb"), "events"), ev.schema, Some("ts"))
    val good = table.append(ev.filter(col("event_id") % 2 === 0))
    val bad = table.append(ev.filter(col("event_id") % 2 === 1))
    table.rollbackTo(good.id)
    val badKept = table.snapshots.exists(_.id == bad.id)
    val badReadable = table.timeTravel(bad.id).count() == ev.count()
    table.read().agg(
      count(lit(1)).as("n_rows"),
      sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
      .withColumn("bad_kept", lit(badKept))
      .withColumn("bad_readable", lit(badReadable))
  }

  /** Metadata inspection tables: two appends into a DAY-partitioned
    * table plus a tag and a branch, then the operational questions
    * answered FROM THE METADATA TABLES ALONE — total data rows from
    * `files`, partition count from `partitions`, snapshot/ref counts —
    * cross-checked against DuckDB computing the first two from the raw
    * parquet (the file row-counts and day-dir tuples must roll up to
    * exactly the ingested data).
    */
  def metadataTablesFlow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val ev = graft.Tables.t(s, dir, "events").select(col("event_id"), col("ts"), col("value"))
    val table = LakehouseTable.createIfNotExists(
      s, new Path(freshWarehouse("graft-md"), "events"), ev.schema, Some("ts"), "day")
    table.append(ev.filter(col("event_id") % 2 === 0))
    table.append(ev.filter(col("event_id") % 2 === 1))
    table.tagSnapshot("audit", table.snapshots.head.id)
    table.createBranch("staging")
    table.metadataTable("files").agg(sum(col("rows")).as("data_rows"))
      .crossJoin(table.metadataTable("partitions").agg(count(lit(1)).as("n_partitions")))
      .crossJoin(table.metadataTable("snapshots").agg(count(lit(1)).as("n_snapshots")))
      .crossJoin(table.metadataTable("refs").agg(count(lit(1)).as("n_refs")))
  }

  /** Positional MoR delete flow: `DELETE WHERE event_type = 'error'
    * AND value < 100` — a compound predicate on NON-key columns, the
    * retraction shape that previously forced a COW rewrite. The commit
    * writes one (file_path, row_index) parquet and zero data files
    * (`no_rewrite` pins it); the masked read's totals must equal DuckDB
    * filtering the raw parquet with NOT(predicate); compaction then
    * folds the positions (`folded`) with identical totals
    * (`fold_invariant`).
    */
  def morPositionalFlow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val ev = graft.Tables.t(s, dir, "events")
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val table = graft.lake.LakehouseTable.createIfNotExists(
      s, new Path(freshWarehouse("graft-pd"), "events"), ev.schema, Some("ts"))
    (0 until 3).foreach(i => table.append(ev.filter(col("event_id") % 3 === i)))
    val filesBefore = table.currentDataFiles.map(_.path).toSet
    table.morDeleteWhere(col("event_type") === "error" && col("value") < 100.0)
    val noRewrite = table.currentDataFiles.map(_.path).toSet == filesBefore
    def totals = table.read().agg(
      count(lit(1)).as("n_rows"),
      sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
    val masked = totals.head()
    table.compact()
    val folded = table.currentDeleteFiles.isEmpty
    val after = totals.head()
    s.createDataFrame(java.util.Arrays.asList(masked), totals.schema)
      .withColumn("no_rewrite", lit(noRewrite))
      .withColumn("folded", lit(folded))
      .withColumn("fold_invariant", lit(masked == after))
  }

  /** Write-audit-publish flow (VERDICT r6 #5): the odd half of events
    * is STAGED on a branch (main's snapshot pointer provably
    * unmoved), audited, and fast-forwarded into main; a poisoned batch
    * (negated values) is then staged on a second branch, fails the
    * audit, and is dropped — main must end exactly equal to DuckDB
    * over the raw events, with `staged_invisible` pinning that staging
    * never moved main and `bad_blocked` that the audit caught the
    * poison before publish.
    */
  def wapFlow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val ev = graft.Tables.t(s, dir, "events").select(col("event_id"), col("ts"), col("value"))
    val table = graft.lake.LakehouseTable.createIfNotExists(
      s, new Path(freshWarehouse("graft-wp"), "events"), ev.schema, Some("ts"))
    table.append(ev.filter(col("event_id") % 2 === 0))
    val mainBefore = table.metadata.currentSnapshotId

    table.createBranch("ingest")
    table.appendToBranch("ingest", ev.filter(col("event_id") % 2 === 1))
    val stagedInvisible = table.metadata.currentSnapshotId == mainBefore
    val goodAudit = table.readBranch("ingest").filter(col("value") < 0).count() == 0L
    require(goodAudit, "audit of the good batch must pass")
    table.fastForward("ingest")
    table.dropBranch("ingest")

    table.createBranch("ingest2")
    table.appendToBranch("ingest2",
      ev.filter(col("event_id") % 2 === 1).withColumn("value", -abs(col("value")) - 1.0))
    val badBlocked = table.readBranch("ingest2").filter(col("value") < 0).count() > 0L
    table.dropBranch("ingest2")

    table.read().agg(
      count(lit(1)).as("n_rows"),
      sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
      .withColumn("staged_invisible", lit(stagedInvisible))
      .withColumn("bad_blocked", lit(badBlocked))
  }

  /** Write-audit-publish in PURE SQL (VERDICT r9 #6): the even half of
    * events publishes to main via INSERT INTO; `CALL create_branch`
    * cuts an 'audit' branch; while the `spark.graft.wap.branch`
    * session conf names it, INSERT INTO stages the odd half there —
    * main's SQL readers provably see only the even half; the auditor
    * reads `VERSION AS OF 'audit'` (branch-name time travel), passes
    * it, `CALL fast_forward` publishes, `CALL drop_branch` releases,
    * and `CALL create_tag` pins the published state, read back by tag
    * name. Main must end exactly equal to DuckDB over the raw events —
    * the whole cycle never leaves SQL.
    */
  def sqlWapFlow(s: SparkSession, dir: String): DataFrame = {
    val wh = freshWarehouse("graft-sw")
    val cat = s"graft_sql_${sqlCatalogRuns.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gold")
    s.sql(s"""CREATE TABLE $cat.gold.events
             |(event_id BIGINT, ts TIMESTAMP, value DOUBLE)
             |PARTITIONED BY (days(ts))""".stripMargin)
    graft.Tables.t(s, dir, "events")
      .select(col("event_id"), col("ts").cast(TimestampType).as("ts"), col("value"))
      .createOrReplaceTempView("graft_wap_src")
    s.sql(s"INSERT INTO $cat.gold.events SELECT * FROM graft_wap_src WHERE event_id % 2 = 0")
    val evenRows = s.sql(s"SELECT count(*) FROM $cat.gold.events").head().getLong(0)
    s.sql(s"CALL $cat.system.create_branch(table => 'gold.events', branch => 'audit')")
    s.conf.set("spark.graft.wap.branch", "audit")
    try s.sql(s"INSERT INTO $cat.gold.events SELECT * FROM graft_wap_src WHERE event_id % 2 = 1")
    finally s.conf.unset("spark.graft.wap.branch")
    // staging must not have moved main; the branch must see the union
    val stagedInvisible =
      s.sql(s"SELECT count(*) FROM $cat.gold.events").head().getLong(0) == evenRows
    val branchRows =
      s.sql(s"SELECT count(*) FROM $cat.gold.events VERSION AS OF 'audit'").head().getLong(0)
    val audited = s.sql(
      s"SELECT count(*) FROM $cat.gold.events VERSION AS OF 'audit' WHERE value < 0")
      .head().getLong(0) == 0L
    require(audited, "audit of the staged batch must pass")
    s.sql(s"CALL $cat.system.fast_forward('gold.events', 'audit')")
    s.sql(s"CALL $cat.system.drop_branch('gold.events', 'audit')")
    s.sql(s"CALL $cat.system.create_tag(table => 'gold.events', tag => 'published')")
    val tagRows = s.sql(
      s"SELECT count(*) FROM $cat.gold.events VERSION AS OF 'published'").head().getLong(0)
    s.sql(s"""SELECT count(*) AS n_rows,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
             |FROM $cat.gold.events""".stripMargin)
      .withColumn("staged_invisible", lit(stagedInvisible))
      .withColumn("branch_saw_union", lit(
        branchRows == s.sql("SELECT count(*) FROM graft_wap_src").head().getLong(0)))
      .withColumn("tag_matches", lit(tagRows == branchRows))
  }

  /** `add_files` import flow: the even half of events is written as
    * plain partition-laid-out parquet by an EXTERNAL writer (a Spark
    * job that knows nothing of the table), imported by reference with
    * `CALL add_files` (no rewrite — AddFilesSpec pins that the staged
    * basenames survive into data/ untouched), then the odd
    * half arrives through the native INSERT INTO path. The final table
    * must equal DuckDB over raw events — imported and native files are
    * indistinguishable to readers.
    */
  def addFilesFlow(s: SparkSession, dir: String): DataFrame = {
    val wh = freshWarehouse("graft-af")
    val cat = s"graft_sql_${sqlCatalogRuns.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gold")
    s.sql(s"""CREATE TABLE $cat.gold.events
             |(event_id BIGINT, ts TIMESTAMP, value DOUBLE)
             |PARTITIONED BY (days(ts))""".stripMargin)
    val staged = s"$wh/incoming"
    s.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    graft.Tables.t(s, dir, "events")
      .select(col("event_id"), col("ts").cast(TimestampType).as("ts"), col("value"))
      .filter(col("event_id") % 2 === 0)
      // day-transform dir values are int yyyymmdd (partitionExpr)
      .withColumn("ts_day", date_format(col("ts"), "yyyyMMdd").cast("int"))
      .write.mode("overwrite").partitionBy("ts_day").parquet(staged)
    val rep = s.sql(
      s"CALL $cat.system.add_files(table => 'gold.events', source_dir => '$staged')").head()
    graft.Tables.t(s, dir, "events")
      .select(col("event_id"), col("ts").cast(TimestampType).as("ts"), col("value"))
      .createOrReplaceTempView("graft_af_src")
    s.sql(s"INSERT INTO $cat.gold.events SELECT * FROM graft_af_src WHERE event_id % 2 = 1")
    s.sql(s"""SELECT count(*) AS n_rows,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
             |FROM $cat.gold.events""".stripMargin)
      .withColumn("imported_by_reference", lit(rep.getInt(0) > 0))
      .withColumn("imported_rows", lit(rep.getLong(1)))
  }

  /** Composite-key MoR flow (VERDICT r6 #4): the table keyed on
    * (user_id, event_type) — a compound retraction single-column
    * equality cannot express. MoR-DELETE every pair seen among
    * event_id % 97 == 0 rows (masks ALL rows of those pairs), then
    * MoR-MERGE one aggregated row per pair for event_id % 101 == 1
    * (masks the pair's remaining history, appends the rollup). DuckDB
    * recomputes the same delete-then-upsert algebra with correlated
    * NOT EXISTS on BOTH components; totals must agree exactly —
    * proving the composite anti-join masks full-tuple matches only,
    * and the upsert's own batch survives its own mask.
    */
  def morCompositeFlow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val ev = graft.Tables.t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("value"))
    val table = graft.lake.LakehouseTable.createIfNotExists(
      s, new Path(freshWarehouse("graft-mc"), "events"), ev.schema, Some("ts"))
    table.append(ev)
    val evAll = graft.Tables.t(s, dir, "events")
    table.morDeleteKeys(
      evAll.filter(col("event_id") % 97 === 0).select("user_id", "event_type"),
      Seq("user_id", "event_type"))
    val upserts = evAll.filter(col("event_id") % 101 === 1)
      .groupBy("user_id", "event_type")
      .agg(
        max(col("ts")).as("ts"),
        (sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType) + 100000.0).as("value"))
      .select("user_id", "event_type", "ts", "value")
    table.morMerge(upserts, Seq("user_id", "event_type"))
    table.read().agg(
      count(lit(1)).as("n_rows"),
      count(when(col("value") >= 100000.0, 1)).as("n_upserted"),
      sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
  }

  /** Exactly-once streaming-sink flow: two micro-batches land via
    * [[LakehouseTable.appendStream]], then batch 1 is REPLAYED (Spark's
    * at-least-once foreachBatch failure mode after a restart). The
    * committed watermark must swallow the replay, so the table equals
    * the plain union of the two batches — which is what DuckDB
    * computes over the raw parquet.
    */
  def streamSinkFlow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val ev = graft.Tables.t(s, dir, "events").select(col("event_id"), col("ts"), col("value"))
    val table = graft.lake.LakehouseTable.createIfNotExists(
      s, new Path(freshWarehouse("graft-ss"), "events"), ev.schema, Some("ts"))
    val b0 = ev.filter(col("event_id") % 2 === 0)
    val b1 = ev.filter(col("event_id") % 2 === 1)
    table.appendStream("ingest", 0L, b0)
    table.appendStream("ingest", 1L, b1)
    val replay = table.appendStream("ingest", 1L, b1) // crash-replay: must no-op
    table.read().agg(
      count(lit(1)).as("n_rows"),
      sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
      .withColumn("replay_skipped", lit(replay.isEmpty))
  }

  /** Incremental mirror flow (bronze → gold materialization): two
    * appends into a source table, a mirror step after each, a
    * maintenance compaction wedged in the delta range, and a final idle
    * step that must no-op. The destination must equal the full events
    * set exactly once — the watermark committed atomically with each
    * delta is what rules duplicates out.
    */
  def mirrorFlow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val ev = graft.Tables.t(s, dir, "events").select(col("event_id"), col("ts"), col("value"))
    val wh = freshWarehouse("graft-mi")
    val src = graft.lake.LakehouseTable.createIfNotExists(
      s, new Path(wh, "bronze"), ev.schema, Some("ts"))
    val dst = graft.lake.LakehouseTable.createIfNotExists(
      s, new Path(wh, "gold"), ev.schema, Some("ts"))
    src.append(ev.filter(col("event_id") % 2 === 0))
    val first = graft.stream.LakehouseMirror.step(src, dst, "gold")
    src.append(ev.filter(col("event_id") % 2 === 1))
    src.compact() // maintenance inside the next delta range: skipped
    val second = graft.stream.LakehouseMirror.step(src, dst, "gold")
    val idle = graft.stream.LakehouseMirror.step(src, dst, "gold")
    dst.read().agg(
      count(lit(1)).as("n_rows"),
      sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
      .withColumn("stepped_clean",
        lit(first.isDefined && second.isDefined && idle.isEmpty))
  }

  /** Table-as-stream-source flow (VERDICT r6 #3): a live
    * [[graft.stream.TableStream]] query polls the bronze table while
    * three appends land, micro-batching each delta into gold with the
    * offset committed atomically alongside the data. However the
    * batch boundaries fall against the poller, gold must equal the
    * full events set EXACTLY once — which is what DuckDB computes over
    * the raw parquet. `caught_up` pins that the stream drained;
    * `replay_noop` that a forced re-delivery after catch-up commits
    * nothing.
    */
  def streamSourceFlow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val ev = graft.Tables.t(s, dir, "events").select(col("event_id"), col("ts"), col("value"))
    val wh = freshWarehouse("graft-ts")
    val src = graft.lake.LakehouseTable.createIfNotExists(
      s, new Path(wh, "bronze"), ev.schema, Some("ts"))
    val dst = graft.lake.LakehouseTable.createIfNotExists(
      s, new Path(wh, "gold"), ev.schema, Some("ts"))
    val q = graft.stream.TableStream.start(src, dst, "gold", pollIntervalMs = 20L)
    val caughtUp =
      try {
        (0 until 3).foreach { i =>
          src.append(ev.filter(col("event_id") % 3 === i))
          Thread.sleep(30L)
        }
        q.awaitCaughtUp(60000L)
      } finally q.stop()
    // forced replay of the newest batch id must no-op against the
    // committed watermark
    val replayNoop = dst.appendStream("gold",
      src.metadata.currentSnapshotId.get, src.read()).isEmpty
    dst.read().agg(
      count(lit(1)).as("n_rows"),
      sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
      .withColumn("caught_up", lit(caughtUp))
      .withColumn("replay_noop", lit(replayNoop))
  }

  /** Structured-Streaming lakehouse round trip
    * ([[graft.stream.GraftTableSourceProvider]]): bronze → gold through
    * `spark.readStream.format("graft-table")` feeding
    * `writeStream.format("graft-table")` — snapshot diffs as
    * micro-batches on the way in (batch 0 = the table image, then pure
    * metadata deltas), atomic exactly-once snapshot commits on the way
    * out. The query is STOPPED and restarted from its checkpoint with a
    * commit landing while it is down, so the count/sum oracle pins
    * resume-without-replay, and a forced re-delivery of the last batch
    * id pins the sink ledger's idempotence.
    */
  def readStreamFlow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.streaming.Trigger
    val ev = graft.Tables.t(s, dir, "events").select(col("event_id"), col("ts"), col("value"))
    val wh = freshWarehouse("graft-rss")
    val src = graft.lake.LakehouseTable.createIfNotExists(
      s, new Path(wh, "bronze"), ev.schema, Some("ts"))
    val dst = graft.lake.LakehouseTable.createIfNotExists(
      s, new Path(wh, "gold"), ev.schema, Some("ts"))
    def start() = s.readStream.format("graft-table")
      .option("path", src.tableDir.toString).load()
      .writeStream.format("graft-table")
      .option("path", dst.tableDir.toString)
      .option("queryId", "gold")
      .option("checkpointLocation", s"$wh/ckpt")
      .trigger(Trigger.ProcessingTime(20L))
      .start()
    src.append(ev.filter(col("event_id") % 3 === 0))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop() // image delivered, consumer goes down
    src.append(ev.filter(col("event_id") % 3 === 1)) // commit while down
    val q2 = start()
    val restartedClean =
      try {
        q2.processAllAvailable() // checkpoint resume picks up the missed delta
        src.append(ev.filter(col("event_id") % 3 === 2)) // and a live one
        q2.processAllAvailable()
        q2.exception.isEmpty
      } finally q2.stop()
    val replayNoop = dst.appendStream("gold",
      dst.metadata.streamWatermarks("gold"), src.read()).isEmpty
    dst.read().agg(
      count(lit(1)).as("n_rows"),
      sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
      .withColumn("restarted_clean", lit(restartedClean))
      .withColumn("replay_noop", lit(replayNoop))
  }

  /** Change-data-feed flow ([[graft.lake.LakehouseTable.readChangeFeed]]):
    * seed a table, then append + merge-on-read upsert + merge-on-read
    * delete, and read the row-level change stream of that range. The
    * by-key max-`_commit_seq` fold (delete ⇒ absent) over seed image +
    * feed must reproduce the table's end state EXACTLY — `fold_matches`
    * pins the frame-level equality, and the count/sum/type-count oracle
    * recomputes the expected end state and event counts from the raw
    * events in DuckDB.
    */
  def changeFeedFlow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.expressions.Window
    val ev = graft.Tables.t(s, dir, "events").select(col("event_id"), col("ts"), col("value"))
    val wh = freshWarehouse("graft-cdf")
    val t = graft.lake.LakehouseTable.createIfNotExists(
      s, new Path(wh, "bronze"), ev.schema, Some("ts"))
    t.append(ev.filter(col("event_id") % 3 =!= 2))
    val from = t.metadata.currentSnapshotId.get
    t.append(ev.filter(col("event_id") % 3 === 2))
    t.morMerge(ev.filter(col("event_id") % 10 === 0)
      .withColumn("value", col("value") + lit(1000.0)), "event_id")
    t.morDeleteKeys(ev.filter(col("event_id") % 7 === 0).select("event_id"), "event_id")
    val cdf = t.readChangeFeed(from, t.metadata.currentSnapshotId.get)
    val seed = t.timeTravel(from)
      .withColumn("_change_type", lit("insert"))
      .withColumn("_commit_seq", lit(from))
    val w = Window.partitionBy("event_id").orderBy(col("_commit_seq").desc)
    val folded = seed.unionByName(cdf)
      .withColumn("__r", row_number().over(w)).filter(col("__r") === 1)
      .filter(col("_change_type") =!= "delete")
      .select("event_id", "ts", "value")
    val end = t.read().select("event_id", "ts", "value")
    val foldMatches = folded.exceptAll(end).isEmpty && end.exceptAll(folded).isEmpty
    val byType = cdf.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    folded.agg(
      count(lit(1)).as("n_rows"),
      sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
      .withColumn("n_insert", lit(byType.getOrElse("insert", 0L)))
      .withColumn("n_upsert", lit(byType.getOrElse("upsert", 0L)))
      .withColumn("n_delete", lit(byType.getOrElse("delete", 0L)))
      .withColumn("fold_matches", lit(foldMatches))
  }

  /** Delete-aware streaming CDC replication: bronze → gold through
    * `readStream(changeFeed=true)` feeding the `cdcApply` sink — every
    * micro-batch folds to per-key final events and lands as ONE atomic
    * [[graft.lake.LakehouseTable.morApplyStream]] commit (images +
    * tombstones + watermark together). Bronze takes an insert wave, a
    * merge-on-read upsert wave, and a merge-on-read delete wave while
    * the stream runs; the replica must converge to bronze's exact
    * content (`converged` pins frame equality; count/sum recomputed by
    * DuckDB from the raw events).
    */
  def cdcReplicationFlow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.streaming.Trigger
    val ev = graft.Tables.t(s, dir, "events").select(col("event_id"), col("ts"), col("value"))
    val wh = freshWarehouse("graft-repl")
    val src = graft.lake.LakehouseTable.createIfNotExists(
      s, new Path(wh, "bronze"), ev.schema, Some("ts"))
    val dst = graft.lake.LakehouseTable.createIfNotExists(
      s, new Path(wh, "gold"), ev.schema, Some("ts"))
    src.append(ev)
    val q = s.readStream.format("graft-table")
      .option("path", src.tableDir.toString)
      .option("changeFeed", "true").load()
      .writeStream.format("graft-table")
      .option("path", dst.tableDir.toString)
      .option("queryId", "mirror")
      .option("cdcApply", "true").option("keys", "event_id")
      .option("checkpointLocation", s"$wh/ckpt")
      .trigger(Trigger.ProcessingTime(20L))
      .start()
    try {
      q.processAllAvailable() // image replicated
      src.append(ev.filter(col("event_id") % 11 === 0)
        .select((col("event_id") + lit(10000000L)).as("event_id"),
          col("ts"), lit(42.0).as("value")))
      src.morMerge(ev.filter(col("event_id") % 10 === 0)
        .withColumn("value", col("value") + lit(1000.0)), "event_id")
      src.morDeleteKeys(ev.filter(col("event_id") % 7 === 0).select("event_id"), "event_id")
      q.processAllAvailable()
    } finally q.stop()
    val a = src.read().select("event_id", "ts", "value")
    val b = dst.read().select("event_id", "ts", "value")
    val converged = a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    b.agg(
      count(lit(1)).as("n_rows"),
      sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
      .withColumn("converged", lit(converged))
  }

  /** Incremental-rollup flow ([[graft.stream.IncrementalRollup]]):
    * a per-event_type materialized aggregate maintained across three
    * chunked appends with O(delta) refreshes — including a refresh
    * that spans two source commits and a compaction wedged mid-stream.
    * The maintained state must equal the one-shot GROUP BY DuckDB
    * computes over the raw parquet; `refreshed_clean` pins that each
    * refresh reported progress and the caught-up refresh no-opped.
    */
  def incrementalRollupFlow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    import graft.stream.IncrementalRollup
    val ev = graft.Tables.t(s, dir, "events")
      .select(col("event_type"), col("ts"), col("value"))
    val d = IncrementalRollup.RollupDef(
      keys = Seq("event_type"), sumCols = Seq("value"), minMaxCols = Seq("value"))
    val wh = freshWarehouse("graft-ir")
    val src = graft.lake.LakehouseTable.createIfNotExists(
      s, new Path(wh, "bronze"), ev.schema, Some("ts"))
    val dst = graft.lake.LakehouseTable.createIfNotExists(
      s, new Path(wh, "gold"), IncrementalRollup.aggregate(ev.limit(0), d).schema, None)
    src.append(ev.filter(col("event_id") % 3 === 0))
    val first = IncrementalRollup.step(src, dst, "mv", d)
    src.append(ev.filter(col("event_id") % 3 === 1))
    src.compact() // maintenance inside the refresh range: contributes no rows
    src.append(ev.filter(col("event_id") % 3 === 2))
    val second = IncrementalRollup.step(src, dst, "mv", d) // 3-commit delta
    val idle = !IncrementalRollup.step(src, dst, "mv", d)
    IncrementalRollup.readRollup(dst, d)
      .withColumn("refreshed_clean", lit(first && second && idle))
      .orderBy("event_type")
  }

  /** [[incrementalRollupFlow]] with a mergeable HLL distinct-count
    * column: "unique users per event type" maintained O(delta) per
    * refresh — the aggregate COUNT DISTINCT could never give a rollup
    * (exact per-key distinct sets aren't mergeable; sketches are). At
    * this cardinality (≤150 uids) the DataSketches estimate is exact,
    * so the oracle value-checks it against COUNT(DISTINCT …).
    */
  def rollupDistinctFlow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    import graft.stream.IncrementalRollup
    val ev = graft.Tables.t(s, dir, "events")
      .select(col("event_type"), col("ts"), col("value"), col("user_id"))
    val d = IncrementalRollup.RollupDef(
      keys = Seq("event_type"), sumCols = Seq("value"),
      distinctCols = Seq("user_id"))
    val wh = freshWarehouse("graft-ird")
    val src = graft.lake.LakehouseTable.createIfNotExists(
      s, new Path(wh, "bronze"), ev.schema, Some("ts"))
    val dst = graft.lake.LakehouseTable.createIfNotExists(
      s, new Path(wh, "gold"), IncrementalRollup.aggregate(ev.limit(0), d).schema, None)
    src.append(ev.filter(col("event_id") % 3 === 0))
    val first = IncrementalRollup.step(src, dst, "mv", d)
    src.append(ev.filter(col("event_id") % 3 === 1))
    src.append(ev.filter(col("event_id") % 3 === 2))
    val second = IncrementalRollup.step(src, dst, "mv", d)
    val idle = !IncrementalRollup.step(src, dst, "mv", d)
    IncrementalRollup.readRollup(dst, d)
      .withColumn("refreshed_clean", lit(first && second && idle))
      .orderBy("event_type")
  }

  /** Quantile-sketch rollup flow: the maintained gold table carries a
    * mergeable integer-exact HDR histogram of `value` per event_type
    * ([[graft.ops.HdrQuantile]]), refreshed incrementally across three
    * source commits; p50/p95 surface from the stored sketch. DuckDB
    * replays the ENTIRE algebra value-exactly — bucket ids from
    * `bin()` length + integer shifts, rank selection, midpoint
    * estimates — because the sketch is a pure function of the multiset
    * (the reason this scheme was chosen over t-digest/KLL, which are
    * merge-order dependent and could never be hash-compared).
    */
  def rollupQuantileFlow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    import graft.stream.IncrementalRollup
    val ev = graft.Tables.t(s, dir, "events")
      .select(col("event_type"), col("ts"), col("value"))
    val d = IncrementalRollup.RollupDef(
      keys = Seq("event_type"), sumCols = Seq("value"),
      quantileCols = Seq("value"), quantiles = Seq(0.5, 0.95))
    val wh = freshWarehouse("graft-irq")
    val src = graft.lake.LakehouseTable.createIfNotExists(
      s, new Path(wh, "bronze"), ev.schema, Some("ts"))
    val dst = graft.lake.LakehouseTable.createIfNotExists(
      s, new Path(wh, "gold"), IncrementalRollup.aggregate(ev.limit(0), d).schema, None)
    src.append(ev.filter(col("event_id") % 3 === 0))
    val first = IncrementalRollup.step(src, dst, "mvq", d)
    src.append(ev.filter(col("event_id") % 3 === 1))
    src.append(ev.filter(col("event_id") % 3 === 2))
    val second = IncrementalRollup.step(src, dst, "mvq", d)
    val idle = !IncrementalRollup.step(src, dst, "mvq", d)
    IncrementalRollup.readRollup(dst, d)
      .withColumn("refreshed_clean", lit(first && second && idle))
      .orderBy("event_type")
  }

  /** SQL-catalog flow ([[graft.sql.GraftCatalog]]): the whole
    * DDL/DML/read lifecycle through `spark.sql` only — CREATE
    * NAMESPACE/TABLE (day-partitioned), two INSERT INTO halves, a
    * merge-on-read upsert through the DataFrame API that the SQL reads
    * must resolve (the expansion rule splices in the native
    * delete-masking plan), an aggregate over the live table, and a
    * `VERSION AS OF 1` count proving time travel pins the first
    * insert. Catalog names are per-invocation (the session caches
    * catalog instances by name, and each run gets a fresh warehouse).
    */
  private val sqlCatalogRuns = new java.util.concurrent.atomic.AtomicLong(0L)
  def sqlCatalogFlow(s: SparkSession, dir: String): DataFrame = {
    val wh = freshWarehouse("graft-sq")
    val cat = s"graft_sql_${sqlCatalogRuns.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gold")
    s.sql(s"""CREATE TABLE $cat.gold.events
             |(event_id BIGINT, ts TIMESTAMP, value DOUBLE)
             |PARTITIONED BY (days(ts))""".stripMargin)
    graft.Tables.t(s, dir, "events")
      .select(col("event_id"), col("ts").cast(TimestampType).as("ts"), col("value"))
      .createOrReplaceTempView("graft_sql_src")
    s.sql(s"INSERT INTO $cat.gold.events SELECT * FROM graft_sql_src WHERE event_id % 2 = 0")
    s.sql(s"INSERT INTO $cat.gold.events SELECT * FROM graft_sql_src WHERE event_id % 2 = 1")
    // MoR upsert via the table API; the SQL aggregate below must see it
    val lt = graft.lake.LakehouseTable.load(
      s, new org.apache.hadoop.fs.Path(wh, "gold/events"))
    lt.morMerge(
      s.table("graft_sql_src").filter(col("event_id") % 10 === 0)
        .withColumn("value", col("value") + 1000.0),
      Seq("event_id"))
    s.sql(
      s"""SELECT count(*) AS n_rows,
         |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         |FROM $cat.gold.events""".stripMargin)
      .crossJoin(s.sql(
        s"SELECT count(*) AS v1_rows FROM $cat.gold.events VERSION AS OF 1"))
  }

  /** SQL row-level DML flow: ingest events through INSERT INTO, then a
    * copy-on-write UPDATE (every 10th event +1000), a DELETE (every 7th
    * event removed), and a MERGE (every surviving 13th event set to
    * -1.5; every 11th event re-inserted under a shifted id) through
    * plain `spark.sql` — file-surgical / merge-on-read snapshots on the
    * native commit protocol. DuckDB recomputes the final state with
    * CASE + WHERE + UNION over the raw parquet; any drift in predicate,
    * matched/not-matched, or MoR masking semantics breaks the hash.
    */
  def sqlDmlFlow(s: SparkSession, dir: String): DataFrame = {
    val wh = freshWarehouse("graft-sd")
    val cat = s"graft_sql_${sqlCatalogRuns.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gold")
    s.sql(s"""CREATE TABLE $cat.gold.events
             |(event_id BIGINT, ts TIMESTAMP, value DOUBLE)
             |PARTITIONED BY (days(ts))""".stripMargin)
    graft.Tables.t(s, dir, "events")
      .select(col("event_id"), col("ts").cast(TimestampType).as("ts"), col("value"))
      .createOrReplaceTempView("graft_dml_src")
    s.sql(s"INSERT INTO $cat.gold.events SELECT * FROM graft_dml_src")
    s.sql(s"UPDATE $cat.gold.events SET value = value + 1000.0 WHERE event_id % 10 = 0")
    s.sql(s"DELETE FROM $cat.gold.events WHERE event_id % 7 = 0")
    s.sql(
      s"""MERGE INTO $cat.gold.events t
         |USING (SELECT event_id, ts, -1.5 AS value FROM graft_dml_src
         |       WHERE event_id % 13 = 0 AND event_id % 7 <> 0
         |       UNION ALL
         |       SELECT event_id + 10000000, ts, 42.0 FROM graft_dml_src
         |       WHERE event_id % 11 = 0) s
         |ON t.event_id = s.event_id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    s.sql(
      s"""SELECT count(*) AS n_rows,
         |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
         |       CAST(count(CASE WHEN value >= 1000.0 THEN 1 END) AS BIGINT) AS n_updated,
         |       CAST(count(CASE WHEN value = -1.5 THEN 1 END) AS BIGINT) AS n_merged
         |FROM $cat.gold.events""".stripMargin)
  }

  /** CDC-apply flow: the bronze table takes an append and TWO
    * overlapping MoR upsert waves (every 5th event +1000, then every
    * 7th +2000 — keys divisible by 35 are upserted twice); a live
    * [[graft.stream.TableStream]] CDC query mirrors it into a keyed
    * gold table, reducing each range's row images to the newest per
    * key and applying them as exactly-once MoR upserts. However the
    * micro-batches split, gold must converge to the final per-key
    * state — the CASE expression DuckDB computes directly (for a
    * double-upserted key, the later wave's image must win).
    */
  def cdcApplyFlow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val ev = graft.Tables.t(s, dir, "events").select(col("event_id"), col("ts"), col("value"))
    val wh = freshWarehouse("graft-cd")
    val src = graft.lake.LakehouseTable.createIfNotExists(
      s, new Path(wh, "bronze"), ev.schema, Some("ts"))
    val dst = graft.lake.LakehouseTable.createIfNotExists(
      s, new Path(wh, "gold"), ev.schema, Some("ts"))
    val q = graft.stream.TableStream.startCdc(src, dst, "cdc", Seq("ts"), pollIntervalMs = 20L)
    val caughtUp =
      try {
        src.append(ev)
        Thread.sleep(30L)
        src.morMerge(graft.ingest.Dedup.withinBatch(
          ev.filter(col("event_id") % 5 === 0).withColumn("value", col("value") + 1000.0),
          Seq("ts")), "ts")
        Thread.sleep(30L)
        src.morMerge(graft.ingest.Dedup.withinBatch(
          ev.filter(col("event_id") % 7 === 0).withColumn("value", col("value") + 2000.0),
          Seq("ts")), "ts")
        q.awaitCaughtUp(60000L)
      } finally q.stop()
    dst.read().agg(
      count(lit(1)).as("n_rows"),
      sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
      .withColumn("caught_up", lit(caughtUp))
  }

  /** Incremental append-scan flow: three appends with a compaction
    * wedged in the middle; the delta from the first snapshot must
    * contain exactly the rows of appends two and three (the compaction
    * moves every row but adds none, so it contributes nothing) — the
    * read-only-what-changed primitive a downstream daily job runs
    * instead of a full rescan.
    */
  def incrementalFlow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val ev = graft.Tables.t(s, dir, "events").select(col("event_id"), col("ts"), col("value"))
    val table = graft.lake.LakehouseTable.createIfNotExists(
      s, new Path(freshWarehouse("graft-in"), "events"), ev.schema, Some("ts"))
    val s1 = table.append(ev.filter(col("event_id") % 3 === 0))
    table.append(ev.filter(col("event_id") % 3 === 1))
    table.compact()
    table.append(ev.filter(col("event_id") % 3 === 2))
    table.readIncremental(s1.id).agg(
      count(lit(1)).as("n_rows"),
      sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
  }

  /** Composite partition spec (VERDICT r6 #1): ONE table partitioned
    * `identity(event_type) + day(ts)` — the layout that replaces the
    * reference's table-per-symbol fan-out — ingested per type so files
    * never straddle the identity dim, then answered through
    * [[LakehouseTable.readPartitionRange]]: the identity dim prunes by
    * path segment, the time dim by footer stats, BOTH before Spark
    * plans. The per-day counts/sums for one event type over one week
    * must equal DuckDB filtering the raw parquet; `pruned_both` pins
    * that each dimension alone drops files and the composition drops
    * more.
    */
  def compositePartitionFlow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val ev = graft.Tables.t(s, dir, "events")
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
    val table = LakehouseTable.createIfNotExists(
      s, new Path(freshWarehouse("graft-cm"), "events_by_type"), ev.schema,
      Seq("event_type" -> "identity", "ts" -> "day"))
    val types = Seq("click", "error", "purchase", "signup", "view")
    types.foreach(t => table.append(ev.filter(col("event_type") === t)))
    def us(d: String): Long =
      java.time.LocalDateTime.parse(d).toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
    val (lo, hi) = (us("2024-01-08T00:00:00"), us("2024-01-14T23:59:59.999999"))
    val total = table.currentDataFiles.size
    val bySym = table.filesForQuery(Map("event_type" -> "purchase")).size
    val byTime = table.filesForQuery(Map.empty, Some((lo, hi))).size
    val both = table.filesForQuery(Map("event_type" -> "purchase"), Some((lo, hi))).size
    val prunedBoth = bySym < total && byTime < total && both < math.min(bySym, byTime)
    table.readPartitionRange(Map("event_type" -> "purchase"), lo, hi)
      .groupBy(col("ts_day").cast(LongType).as("ts_day"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
      .withColumn("pruned_both", lit(prunedBoth))
      .orderBy("ts_day")
  }

  /** Partition-spec evolution (VERDICT r6 #2): ingest January's first
    * half into a YEAR-partitioned table, evolve the spec to DAY —
    * metadata-only, zero files moved — ingest the second half under
    * day dirs, and aggregate BY the current spec's derived day column
    * across both epochs. Old files re-derive `ts_day` from `ts`, new
    * files recover it from their dirs; the totals must equal DuckDB
    * deriving the day from raw timestamps, proving the mixed-layout
    * read loses nothing and the two derivations agree. `n_specs` and
    * `epochs_intact` pin that both layouts coexist on disk.
    */
  def specEvolutionFlow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val ev = graft.Tables.t(s, dir, "events").select(col("event_id"), col("ts"), col("value"))
    val table = LakehouseTable.createIfNotExists(
      s, new Path(freshWarehouse("graft-se"), "events_evolved"), ev.schema, Some("ts"), "year")
    table.append(ev.filter(dayofmonth(col("ts")) <= 15))
    table.evolvePartitionSpec(Seq("ts" -> "day"))
    table.append(ev.filter(dayofmonth(col("ts")) > 15))
    val files = table.currentDataFiles
    val epochsIntact =
      files.exists(f => f.specIdOrZero == 0 && f.path.startsWith("data/ts_year=")) &&
        files.exists(f => f.specIdOrZero == 1 && f.path.startsWith("data/ts_day=")) &&
        files.forall(f => f.specIdOrZero != 0 || f.path.startsWith("data/ts_year="))
    table.read()
      .groupBy(col("ts_day").cast(LongType).as("ts_day"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
      .withColumn("n_specs", lit(table.metadata.specList.size.toLong))
      .withColumn("epochs_intact", lit(epochsIntact))
      .orderBy("ts_day")
  }

  /** Targeted point DELETE through the pruned discovery (round 13,
    * VERDICT r12 follow-on): the GDPR-erasure shape — `DELETE WHERE
    * ts IN (five keys)` on a key-bloom table whose files are
    * key-disjoint but fully time-interleaved, so the discovery scan's
    * bounds keep every file and only the blooms focus it. The COW
    * rewrite must remove EXACTLY the five keys' rows (DuckDB recomputes
    * the survivors' count/bounds/sum independently — a discovery
    * false-negative would leave a deleted row alive, a rewrite bug
    * would drop innocents), and the rewrite must be file-surgical:
    * every non-hit file survives by manifest reference, byte-identical.
    */
  def pointDeleteFlow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val ev = graft.Tables.t(s, dir, "events")
      .select(col("ts").cast(TimestampType).as("ts"), col("value"))
      .where(col("ts").isNotNull)
    val table = graft.lake.LakehouseTable.createIfNotExists(
      s, new Path(freshWarehouse("graft-pd"), "events"), ev.schema, Some("ts"))
    table.setProperty("write.key-bloom.bits", "262144")
    table.append(ev.repartition(8, floor(second(col("ts")) / 8)))
    val keyTs = ev.filter(second(col("ts")) === 7)
      .select("ts").distinct().orderBy("ts").limit(5)
      .collect().map(_.getTimestamp(0)).toSeq
    val beforePaths = table.currentDataFiles.map(_.path).toSet
    table.delete(col("ts").isin(keyTs: _*))
    val afterPaths = table.currentDataFiles.map(_.path).toSet
    // file-surgical: only the files that really held a key were rewritten
    val rewritten = (beforePaths -- afterPaths).size
    table.read().agg(
        count(lit(1)).as("n_rows"),
        min(unix_micros(col("ts"))).as("min_ts_us"),
        max(unix_micros(col("ts"))).as("max_ts_us"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
      .withColumn("file_surgical", lit(rewritten < beforePaths.size))
  }

  /** Targeted DELETE by SECONDARY key (round 14): `DELETE WHERE
    * user_id IN (five ids)` on a TIME-keyed table — the actual GDPR
    * erasure request shape (erase a user, not a timestamp). Files are
    * user-residue disjoint but interleaved in BOTH the time and
    * user_id ranges, so neither bounds dimension can focus the
    * discovery scan: the secondary-column blooms must. The COW rewrite
    * must remove exactly those users' rows (DuckDB recomputes the
    * survivors) and stay file-surgical — before round 14 this shape
    * scanned the whole table to find hit files.
    */
  def userDeleteFlow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val ev = graft.Tables.t(s, dir, "events")
      .select(col("ts").cast(TimestampType).as("ts"), col("user_id"), col("value"))
      .where(col("ts").isNotNull && col("user_id").isNotNull)
    val table = graft.lake.LakehouseTable.createIfNotExists(
      s, new Path(freshWarehouse("graft-ud"), "events"), ev.schema, Some("ts"))
    table.setProperty("write.stats-columns", "user_id")
    table.setProperty("write.column-bloom.bits", "262144")
    table.append(ev.repartition(8, pmod(col("user_id"), lit(8))))
    val ids = ev.filter(pmod(col("user_id"), lit(8)) === 3)
      .select("user_id").distinct().orderBy("user_id").limit(5)
      .collect().map(_.getLong(0)).toSeq
    val beforePaths = table.currentDataFiles.map(_.path).toSet
    table.delete(col("user_id").isin(ids: _*))
    val afterPaths = table.currentDataFiles.map(_.path).toSet
    val rewritten = (beforePaths -- afterPaths).size
    table.read().agg(
        count(lit(1)).as("n_rows"),
        min(col("user_id")).as("min_uid"),
        max(col("user_id")).as("max_uid"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
      .withColumn("file_surgical", lit(rewritten < beforePaths.size))
  }

  /** Copy-on-write DELETE: drop every 7th event, read back totals. */
  def deleteFlow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val ev = graft.Tables.t(s, dir, "events").select(col("event_id"), col("ts"), col("value"))
    val table = graft.lake.LakehouseTable.createIfNotExists(
      s, new Path(freshWarehouse("graft-dl"), "events"), ev.schema, Some("ts"))
    table.append(ev)
    table.delete(col("event_id") % 7 === 0)
    table.read().agg(
      count(lit(1)).as("n_rows"),
      sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
  }

  /** Manifest key-bloom dedup contract (round 11, SURVEY §7.5): build a
    * bloom-enabled table whose files are KEY-DISJOINT but fully
    * time-INTERLEAVED — rows grouped into files by second-of-minute, so
    * every file's [min ts, max ts] spans the whole table and bounds
    * pruning keeps ALL of them — then dedup-ingest a batch of half
    * already-present rows (seconds 0–14) and half genuinely new rows
    * (seconds 45–59, shifted ~100 years of exact days out — day
    * arithmetic, no leap-day clamping divergence). The bloom path must
    *
    *   - drop every already-present row and keep every new one — the
    *     row-level outcome DuckDB recomputes independently (a single
    *     false-negative skip would leak an old row into the survivors
    *     and break the count/sum/bounds),
    *   - actually SKIP files (engine-side counter: the batch's keys
    *     live in at most two second-groups, so most of the interleaved
    *     files provably share no key with it),
    *
    * with bounds-cannot-prune asserted so the skips are attributable to
    * the blooms alone.
    */
  def keyBloomFlow(s: SparkSession, dir: String): DataFrame = {
    val root = freshWarehouse("graft-kb")
    val ev = graft.Tables.t(s, dir, "events")
      .select(col("ts"), col("value")).where(col("ts").isNotNull)
    val table = LakehouseTable.createIfNotExists(
      s, new org.apache.hadoop.fs.Path(root, "t"), ev.schema, Some("ts"))
    table.setProperty("write.key-bloom.bits", "262144")
    // files keyed by second-of-minute group: key-disjoint, time-interleaved
    table.append(ev.repartition(8, floor(second(col("ts")) / 8)))
    val batch = ev.filter(second(col("ts")) < 15)
      .unionByName(ev.filter(second(col("ts")) >= 45)
        .withColumn("ts", col("ts") + expr("INTERVAL 36500 DAYS")))
    val survivors = graft.ingest.Dedup.dropExisting(batch, table, "ts")
      .agg(
        count(lit(1)).as("n_survivors"),
        min(unix_micros(col("ts"))).as("min_ts_us"),
        max(unix_micros(col("ts"))).as("max_ts_us"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
    // engine-side skip accounting, on the same candidates the dedup saw
    val Array(lo, hi) = batch
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .head().toSeq.toArray.map(_.asInstanceOf[Long])
    val candidates = table.filesOverlapping(lo, hi)
    val (_, skipped) = table.bloomSurvivors(
      candidates, batch.select(unix_micros(col("ts")).as("_ku")))
    survivors.select(
      col("n_survivors"), col("min_ts_us"), col("max_ts_us"), col("sum_value"),
      lit(candidates.size == table.currentDataFiles.size).as("bounds_cannot_prune"),
      lit(skipped > 0).as("bloom_skipped_files"))
  }

  /** SQL point-lookup skipping through the manifest key blooms (round
    * 12, VERDICT r11 #1): the key-bloom fixture shape — files
    * KEY-DISJOINT but fully time-INTERLEAVED (rows grouped by
    * second-of-minute, so every file's [min ts, max ts] spans the whole
    * table and bounds pruning keeps ALL of them) — queried through PURE
    * `spark.sql` with an IN-list of keys from ONE second-group (the
    * dashboard point-lookup shape). The expansion rule must extract the
    * point keys from the predicate, prune the planned file list through
    * the per-file blooms ([[graft.lake.LakehouseTable
    * .planFiles]]), and still return exactly DuckDB's answer —
    * a false-negative skip would drop rows from the aggregate. Plan
    * accounting rides as booleans: bounds alone keep every file,
    * and the files actually planned fall below that.
    */
  /** Plan accounting: the data files the query's executed plan actually
    * scans — the expansion already resolved the file list, so the scan
    * exposes exactly what point pruning kept.
    */
  private def scannedFiles(df: DataFrame): Int = {
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    plan.collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .map(_.relation.location.inputFiles.length).sum
  }

  def sqlPointSkipFlow(s: SparkSession, dir: String): DataFrame = {
    val wh = freshWarehouse("graft-ps")
    val cat = s"graft_sql_${sqlCatalogRuns.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gold")
    val ev = graft.Tables.t(s, dir, "events")
      .select(col("ts").cast(TimestampType).as("ts"), col("value"))
      .where(col("ts").isNotNull)
    val table = LakehouseTable.createIfNotExists(
      s, new org.apache.hadoop.fs.Path(wh, "gold/pts"), ev.schema, Some("ts"))
    table.setProperty("write.key-bloom.bits", "262144")
    // files keyed by second-of-minute group: key-disjoint, time-interleaved
    table.append(ev.repartition(8, floor(second(col("ts")) / 8)))
    // the 5 earliest distinct keys of one second-group — the IN list a
    // dashboard sends; the oracle derives the same 5 via a subquery
    val keyRows = ev.filter(second(col("ts")) === 7)
      .select(col("ts"), unix_micros(col("ts")).as("us"))
      .distinct().orderBy("ts").limit(5).collect()
    // literals rendered from the collected micros in the SESSION zone —
    // java.sql.Timestamp.toString formats in the JVM default zone, and
    // Spark parses TIMESTAMP literals in the session zone, so the two
    // diverging would make the IN list select different instants than
    // the oracle's subquery-derived keys (ADVICE r12)
    val zone = java.time.ZoneId.of(s.sessionState.conf.sessionLocalTimeZone)
    val litFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    val inList = keyRows.map { r =>
      val ldt = java.time.Instant.EPOCH
        .plus(r.getLong(1), java.time.temporal.ChronoUnit.MICROS)
        .atZone(zone).toLocalDateTime
      s"TIMESTAMP '${litFmt.format(ldt)}'"
    }.mkString(", ")
    val q = s.sql(
      s"""SELECT count(*) AS n_rows,
         |       min(unix_micros(ts)) AS min_ts_us,
         |       max(unix_micros(ts)) AS max_ts_us,
         |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         |FROM $cat.gold.pts
         |WHERE ts IN ($inList)""".stripMargin)
    val scanned = scannedFiles(q)
    // OR-of-equalities probe (VERDICT r12 #6): the SAME keys split into
    // two IN lists joined by OR — the hand-written dashboard shape.
    // pointKeysUs must union the branch sets, so the count matches the
    // single IN list exactly AND the planned files still bloom-prune
    // below the bounds-only candidate set.
    val lits = inList.split(", ")
    val orQ = s.sql(
      s"""SELECT count(*) AS or_n_rows FROM $cat.gold.pts
         |WHERE ts IN (${lits.take(2).mkString(", ")})
         |   OR ts IN (${lits.drop(2).mkString(", ")})""".stripMargin)
    val orScanned = scannedFiles(orQ)
    val keysUs = keyRows.map(_.getLong(1))
    val candidates = table.filesOverlapping(keysUs.min, keysUs.max).size
    q.withColumn("bounds_cannot_prune",
        lit(candidates == table.currentDataFiles.size))
      .withColumn("bloom_pruned_files", lit(scanned < candidates))
      .crossJoin(orQ)
      .withColumn("or_bloom_pruned_files", lit(orScanned < candidates))
  }

  /** SQL point-lookup skipping on a SECONDARY stats column (round 13,
    * VERDICT r12 #3): the table is TIME-keyed, but the dashboard
    * predicate pins `user_id` — a declared `write.stats-columns` column
    * carrying per-file [min, max] bounds and (new) a manifest bloom
    * sized by `write.column-bloom.bits`. Files are user-residue
    * disjoint yet interleaved in BOTH the time and user_id ranges, so
    * neither bounds dimension can prune; the column blooms must reject
    * the shared-nothing files, and the query must still return exactly
    * DuckDB's answer (the exact predicate re-applies above the splice —
    * a false-negative skip would drop rows from every aggregate). Plan
    * accounting rides as booleans, as in [[sqlPointSkipFlow]].
    */
  def sqlSecondarySkipFlow(s: SparkSession, dir: String): DataFrame = {
    val wh = freshWarehouse("graft-ss")
    val cat = s"graft_sql_${sqlCatalogRuns.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gold")
    val ev = graft.Tables.t(s, dir, "events")
      .select(col("ts").cast(TimestampType).as("ts"), col("user_id"), col("value"))
      .where(col("ts").isNotNull && col("user_id").isNotNull)
    val table = LakehouseTable.createIfNotExists(
      s, new org.apache.hadoop.fs.Path(wh, "gold/sts"), ev.schema, Some("ts"))
    table.setProperty("write.stats-columns", "user_id")
    table.setProperty("write.column-bloom.bits", "262144")
    // files grouped by user-id residue: user-disjoint, both-interleaved
    table.append(ev.repartition(8, pmod(col("user_id"), lit(8))))
    // the 5 smallest user ids of one residue class — the IN list a
    // dashboard sends; the oracle derives the same 5 via a subquery
    val ids = ev.filter(pmod(col("user_id"), lit(8)) === 3)
      .select("user_id").distinct().orderBy("user_id").limit(5)
      .collect().map(_.getLong(0)).toSeq
    val q = s.sql(
      s"""SELECT count(*) AS n_rows,
         |       min(user_id) AS min_uid,
         |       max(user_id) AS max_uid,
         |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         |FROM $cat.gold.sts
         |WHERE user_id IN (${ids.mkString(", ")})""".stripMargin)
    val scanned = scannedFiles(q)
    val candidates = table.filesOverlappingColumn("user_id", ids.min, ids.max).size
    q.withColumn("bounds_cannot_prune",
        lit(candidates == table.currentDataFiles.size))
      .withColumn("bloom_pruned_files", lit(scanned < candidates))
  }

  /** SQL point-lookup skipping on a STRING stats column (round 14,
    * VERDICT r13 #1): the commonest real secondary lookup shape —
    * `WHERE doc_id IN ('a','b',…)` over a url/doc-id-like string
    * column. `uid_s` derives from user_id with a fixed-width pad, so
    * lexicographic order ≡ numeric order and the residue-grouped files
    * all span (almost) the full string range: the truncated string
    * BOUNDS cannot prune, the string-hashed column blooms must — and
    * the answer must still be exactly DuckDB's (a false-negative skip
    * drops rows from every aggregate). Plan accounting rides as
    * booleans, as in [[sqlSecondarySkipFlow]].
    */
  def sqlStringSkipFlow(s: SparkSession, dir: String): DataFrame = {
    val wh = freshWarehouse("graft-ssk")
    val cat = s"graft_sql_${sqlCatalogRuns.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gold")
    val ev = graft.Tables.t(s, dir, "events")
      .select(col("ts").cast(TimestampType).as("ts"),
        concat(lit("u"), lpad(col("user_id").cast("string"), 10, "0")).as("uid_s"),
        col("value"))
      .where(col("ts").isNotNull && col("uid_s").isNotNull)
    val table = LakehouseTable.createIfNotExists(
      s, new org.apache.hadoop.fs.Path(wh, "gold/strs"), ev.schema, Some("ts"))
    table.setProperty("write.stats-columns", "uid_s")
    table.setProperty("write.column-bloom.bits", "262144")
    // files grouped by user-id residue: uid_s-disjoint, range-interleaved
    table.append(ev.repartition(8,
      pmod(substring(col("uid_s"), 2, 10).cast("long"), lit(8))))
    // the 5 smallest uid_s of one residue class — the IN list a
    // dashboard sends; the oracle derives the same 5 via a subquery
    val ids = ev.filter(pmod(substring(col("uid_s"), 2, 10).cast("long"), lit(8)) === 3)
      .select("uid_s").distinct().orderBy("uid_s").limit(5)
      .collect().map(_.getString(0)).toSeq
    val q = s.sql(
      s"""SELECT count(*) AS n_rows,
         |       min(uid_s) AS min_uid,
         |       max(uid_s) AS max_uid,
         |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         |FROM $cat.gold.strs
         |WHERE uid_s IN (${ids.map(v => s"'$v'").mkString(", ")})""".stripMargin)
    val scanned = scannedFiles(q)
    val candidates = table.currentDataFiles
      .count(f => ids.exists(k => f.mayContainColumnString("uid_s", k)))
    q.withColumn("bounds_cannot_prune",
        lit(candidates == table.currentDataFiles.size))
      .withColumn("bloom_pruned_files", lit(scanned < candidates))
  }

  /** NULL-count skipping (round 14, Iceberg null_value_counts analog):
    * a nullable LONG column whose files split into all-null and
    * zero-null groups. Three prunings the per-file null counts make
    * that nothing else can: `IS NOT NULL` skips the all-null files,
    * `IS NULL` skips the zero-null files, and a RANGE probe skips the
    * all-null files even though they record no bounds at all (an
    * all-null column has no min/max — before round 14 those files
    * were kept by every value probe). All three answers must match
    * DuckDB exactly.
    */
  def sqlNullSkipFlow(s: SparkSession, dir: String): DataFrame = {
    val wh = freshWarehouse("graft-nsk")
    val cat = s"graft_sql_${sqlCatalogRuns.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gold")
    val base = graft.Tables.t(s, dir, "events")
      .select(col("ts").cast(TimestampType).as("ts"), col("user_id"),
        when(pmod(col("user_id"), lit(8)) < 4, col("user_id")).as("opt_uid"),
        col("value"))
      .where(col("ts").isNotNull && col("user_id").isNotNull)
    val ev = base.select("ts", "opt_uid", "value")
    val table = LakehouseTable.createIfNotExists(
      s, new org.apache.hadoop.fs.Path(wh, "gold/nsk"), ev.schema, Some("ts"))
    table.setProperty("write.stats-columns", "opt_uid")
    // residue-grouped files: residues 0-3 carry opt_uid on every row,
    // residues 4-7 are ALL NULL in it
    table.append(base.repartition(8, pmod(col("user_id"), lit(8)))
      .select("ts", "opt_uid", "value"))
    val total = table.currentDataFiles.size
    val qn = s.sql(
      s"""SELECT count(*) AS n_not_null,
         |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_not_null
         |FROM $cat.gold.nsk WHERE opt_uid IS NOT NULL""".stripMargin)
    val qz = s.sql(
      s"SELECT count(*) AS n_null FROM $cat.gold.nsk WHERE opt_uid IS NULL")
    val qr = s.sql(
      s"SELECT count(*) AS n_in_range FROM $cat.gold.nsk WHERE opt_uid >= 0")
    // COMPOSED probe (round 15, VERDICT r14 #2): `ts IN (…) AND
    // opt_uid IS NOT NULL` — a point dimension once took a point-only
    // read path and FORFEITED the nullness pruning; the
    // ts bounds interleave across every residue file, so a scan below
    // `total` here is the null counts' doing
    val zone = java.time.ZoneId.of(s.sessionState.conf.sessionLocalTimeZone)
    val litFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    val inTs = base.filter(second(col("ts")) === 7)
      .select(unix_micros(col("ts")).as("us"))
      .distinct().orderBy("us").limit(5)
      .collect().map { r =>
        val ldt = java.time.Instant.EPOCH
          .plus(r.getLong(0), java.time.temporal.ChronoUnit.MICROS)
          .atZone(zone).toLocalDateTime
        s"TIMESTAMP '${litFmt.format(ldt)}'"
      }.mkString(", ")
    val qc = s.sql(
      s"""SELECT count(*) AS n_composed FROM $cat.gold.nsk
         |WHERE ts IN ($inTs) AND opt_uid IS NOT NULL""".stripMargin)
    val (sn, sz, sr, sc) =
      (scannedFiles(qn), scannedFiles(qz), scannedFiles(qr), scannedFiles(qc))
    qn.crossJoin(qz).crossJoin(qr).crossJoin(qc)
      .withColumn("notnull_pruned", lit(sn < total))
      .withColumn("null_pruned", lit(sz < total))
      .withColumn("range_skips_allnull", lit(sr < total))
      .withColumn("composed_pruned", lit(sc < total))
  }

  /** TIME-TRAVEL point skipping (round 14): `VERSION AS OF v WHERE ts
    * IN (…)` must prune through the PINNED snapshot's own manifests
    * and blooms — before round 14 the expansion rule skipped pruning
    * for time travel entirely and scanned the whole pinned state. The
    * fixture appends a second batch AFTER pinning, so the pinned read
    * must also exclude it: a key that exists only post-pin returns
    * zero rows at v1 (`post_pin_rows`), and the pinned point answer
    * matches DuckDB over the first batch alone.
    */
  def sqlTimetravelPointFlow(s: SparkSession, dir: String): DataFrame = {
    val wh = freshWarehouse("graft-ttp")
    val cat = s"graft_sql_${sqlCatalogRuns.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gold")
    val ev = graft.Tables.t(s, dir, "events")
      .select(col("ts").cast(TimestampType).as("ts"), col("value"))
      .where(col("ts").isNotNull)
    val table = LakehouseTable.createIfNotExists(
      s, new org.apache.hadoop.fs.Path(wh, "gold/ttp"), ev.schema, Some("ts"))
    table.setProperty("write.key-bloom.bits", "262144")
    // batch A (seconds 0-29) in 8 key-disjoint, time-interleaved files
    table.append(ev.filter(second(col("ts")) < 30)
      .repartition(8, floor(second(col("ts")) / 4)))
    val v1 = table.metadata.currentSnapshotId.get
    val pinnedFiles = table.dataFiles(table.metadata.snapshotById(v1).get).size
    // batch B lands AFTER the pin
    table.append(ev.filter(second(col("ts")) >= 30)
      .repartition(8, floor((second(col("ts")) - 30) / 4)))
    val zone = java.time.ZoneId.of(s.sessionState.conf.sessionLocalTimeZone)
    val litFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    def tsLit(us: Long): String = {
      val ldt = java.time.Instant.EPOCH
        .plus(us, java.time.temporal.ChronoUnit.MICROS).atZone(zone).toLocalDateTime
      s"TIMESTAMP '${litFmt.format(ldt)}'"
    }
    val inList = ev.filter(second(col("ts")) === 7)
      .select(unix_micros(col("ts")).as("us"))
      .distinct().orderBy("us").limit(5)
      .collect().map(r => tsLit(r.getLong(0))).mkString(", ")
    val postPinLit = tsLit(ev.filter(second(col("ts")) === 45)
      .select(unix_micros(col("ts"))).orderBy("unix_micros(ts)").limit(1)
      .collect()(0).getLong(0))
    val q = s.sql(
      s"""SELECT count(*) AS n_rows,
         |       min(unix_micros(ts)) AS min_ts_us,
         |       max(unix_micros(ts)) AS max_ts_us,
         |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         |FROM $cat.gold.ttp VERSION AS OF $v1
         |WHERE ts IN ($inList)""".stripMargin)
    val q2 = s.sql(
      s"""SELECT count(*) AS post_pin_rows
         |FROM $cat.gold.ttp VERSION AS OF $v1
         |WHERE ts IN ($postPinLit)""".stripMargin)
    val scanned = scannedFiles(q)
    q.crossJoin(q2)
      .withColumn("pinned_pruned_files", lit(scanned < pinnedFiles))
  }

  /** SQL LIKE-'prefix%' skipping on a STRING stats column (round 14):
    * the url/path dashboard shape — `WHERE uid_s LIKE 'u000000001%'`
    * over a range-clustered string layout. The prefix pins the value
    * band [prefix, prefixUpper(prefix)) in code-point order, and the
    * truncated string bounds prune files bounds-only; the answer must
    * still be exactly DuckDB's LIKE semantics.
    */
  def sqlPrefixSkipFlow(s: SparkSession, dir: String): DataFrame = {
    val wh = freshWarehouse("graft-pfx")
    val cat = s"graft_sql_${sqlCatalogRuns.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gold")
    val ev = graft.Tables.t(s, dir, "events")
      .select(col("ts").cast(TimestampType).as("ts"),
        concat(lit("u"), lpad(col("user_id").cast("string"), 10, "0")).as("uid_s"),
        col("value"))
      .where(col("ts").isNotNull && col("uid_s").isNotNull)
    val table = LakehouseTable.createIfNotExists(
      s, new org.apache.hadoop.fs.Path(wh, "gold/pfx"), ev.schema, Some("ts"))
    table.setProperty("write.stats-columns", "uid_s")
    // range-clustered files: each holds one contiguous uid_s band
    table.append(ev.repartitionByRange(8, col("uid_s")))
    val q = s.sql(
      s"""SELECT count(*) AS n_rows,
         |       min(uid_s) AS min_uid,
         |       max(uid_s) AS max_uid,
         |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         |FROM $cat.gold.pfx
         |WHERE uid_s LIKE 'u000000001%'""".stripMargin)
    val scanned = scannedFiles(q)
    q.withColumn("prefix_pruned_files",
      lit(scanned < table.currentDataFiles.size))
  }

  /** SQL RANGE skipping on a secondary stats column (round 14): the
    * `WHERE user_id BETWEEN a AND b` dashboard shape over a
    * range-clustered layout — per-file [[graft.lake.ColumnBounds]]
    * (and the manifest-list roll-ups) prune the file list
    * bounds-only, no blooms involved (blooms answer membership, not
    * ranges), and the answer must still be exactly DuckDB's. The
    * band probed is derived from max(user_id) so the oracle
    * recomputes it independently.
    */
  def sqlSecondaryRangeFlow(s: SparkSession, dir: String): DataFrame = {
    val wh = freshWarehouse("graft-sr")
    val cat = s"graft_sql_${sqlCatalogRuns.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gold")
    val ev = graft.Tables.t(s, dir, "events")
      .select(col("ts").cast(TimestampType).as("ts"), col("user_id"), col("value"))
      .where(col("ts").isNotNull && col("user_id").isNotNull)
    val table = LakehouseTable.createIfNotExists(
      s, new org.apache.hadoop.fs.Path(wh, "gold/rng"), ev.schema, Some("ts"))
    table.setProperty("write.stats-columns", "user_id")
    // range-clustered files: each holds one contiguous user_id band
    table.append(ev.repartitionByRange(8, col("user_id")))
    val maxUid = ev.agg(max("user_id")).collect()(0).getLong(0)
    val (lo, hi) = (maxUid / 4, maxUid / 4 + maxUid / 8)
    val q = s.sql(
      s"""SELECT count(*) AS n_rows,
         |       min(user_id) AS min_uid,
         |       max(user_id) AS max_uid,
         |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         |FROM $cat.gold.rng
         |WHERE user_id BETWEEN $lo AND $hi""".stripMargin)
    val scanned = scannedFiles(q)
    q.withColumn("range_pruned_files",
      lit(scanned < table.currentDataFiles.size))
  }

  /** SQL RANGE skipping on a STRING stats column (round 15, VERDICT
    * r14 #3): `WHERE uid_s BETWEEN 'a' AND 'b'` over a range-clustered
    * string layout — the truncated per-file string bounds (and the
    * manifest-list roll-ups) prune bounds-only, with the query's upper
    * bound tested against each file's minS and its lower bound against
    * maxS (the only truncation-safe direction). A half-open `>= AND <`
    * band rides along to exercise the strict-bound extraction. Bands
    * derive from max(user_id) so the oracle recomputes them; the
    * fixed-width zero-padding makes string order ≡ numeric order.
    */
  def sqlStringRangeFlow(s: SparkSession, dir: String): DataFrame = {
    val wh = freshWarehouse("graft-srg")
    val cat = s"graft_sql_${sqlCatalogRuns.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gold")
    val ev = graft.Tables.t(s, dir, "events")
      .select(col("ts").cast(TimestampType).as("ts"),
        concat(lit("u"), lpad(col("user_id").cast("string"), 10, "0")).as("uid_s"),
        col("value"))
      .where(col("ts").isNotNull && col("uid_s").isNotNull)
    val table = LakehouseTable.createIfNotExists(
      s, new org.apache.hadoop.fs.Path(wh, "gold/srg"), ev.schema, Some("ts"))
    table.setProperty("write.stats-columns", "uid_s")
    // range-clustered files: each holds one contiguous uid_s band
    table.append(ev.repartitionByRange(8, col("uid_s")))
    val maxUid = graft.Tables.t(s, dir, "events")
      .where(col("ts").isNotNull && col("user_id").isNotNull)
      .agg(max("user_id")).collect()(0).getLong(0)
    def sLit(v: Long) = f"u$v%010d"
    val (lo, hi) = (maxUid / 4, maxUid / 4 + maxUid / 8)
    val q = s.sql(
      s"""SELECT count(*) AS n_rows,
         |       min(uid_s) AS min_uid,
         |       max(uid_s) AS max_uid,
         |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         |FROM $cat.gold.srg
         |WHERE uid_s BETWEEN '${sLit(lo)}' AND '${sLit(hi)}'""".stripMargin)
    val q2 = s.sql(
      s"""SELECT count(*) AS n_halfopen FROM $cat.gold.srg
         |WHERE uid_s >= '${sLit(lo)}' AND uid_s < '${sLit(hi + 1)}'""".stripMargin)
    val (s1, s2) = (scannedFiles(q), scannedFiles(q2))
    val total = table.currentDataFiles.size
    q.crossJoin(q2)
      .withColumn("string_range_pruned", lit(s1 < total))
      .withColumn("halfopen_pruned", lit(s2 < total))
  }

  /** SQL IDENTITY-dimension skipping (round 15): `WHERE sym = 's3'` on
    * an identity+day table — the commonest dashboard constraint —
    * previously expanded to the FULL metadata read (every manifest
    * parsed at SQL planning time), relying on Spark's dir pruning for
    * the data I/O only. The expansion rule now extracts the finite
    * identity set and prunes manifests through the partition-value
    * summaries before opening any. One append per symbol makes the
    * manifests single-symbol, so the parse count is provable: ≤ 2 cold
    * metadata parses (the list + the symbol's own manifest) where the
    * old path paid 9.
    */
  def sqlIdentitySkipFlow(s: SparkSession, dir: String): DataFrame = {
    val wh = freshWarehouse("graft-ids")
    val cat = s"graft_sql_${sqlCatalogRuns.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gold")
    val ev = graft.Tables.t(s, dir, "events")
      .select(col("ts").cast(TimestampType).as("ts"),
        concat(lit("s"), pmod(col("user_id"), lit(8)).cast("string")).as("sym"),
        col("value"))
      .where(col("ts").isNotNull && col("sym").isNotNull)
    val table = LakehouseTable.createIfNotExists(
      s, new org.apache.hadoop.fs.Path(wh, "gold/ids"), ev.schema,
      Seq("sym" -> "identity", "ts" -> "day"))
    (0 until 8).foreach(k => table.append(ev.filter(col("sym") === s"s$k")))
    val total = table.currentDataFiles.size
    graft.lake.SnapshotLog.clearPlanningCache()
    val before = graft.lake.SnapshotLog.manifestParseCount.get()
    // analysis (and with it the expansion's manifest pruning) runs
    // eagerly inside sql(): the parse delta is the planning cost
    val q = s.sql(
      s"""SELECT count(*) AS n_rows,
         |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         |FROM $cat.gold.ids WHERE sym = 's3'""".stripMargin)
    val parsed = graft.lake.SnapshotLog.manifestParseCount.get() - before
    val scanned = scannedFiles(q)
    q.withColumn("identity_pruned", lit(scanned < total))
      .withColumn("manifests_pruned", lit(parsed <= 2))
  }

  /** CROSS-DIMENSION point-set composition (round 14, VERDICT r13 #4):
    * files laid out on a (second-group × user-residue) grid, so a
    * predicate pinning BOTH `ts IN (…)` and `user_id IN (…)` must plan
    * strictly fewer files than either dimension alone — the
    * intersection of the per-dimension bloom survivors, where round 13
    * forfeited the secondary dimension to the key path. The composed
    * query's answer must still be exactly DuckDB's; the two
    * single-dimension queries ride along as plan baselines.
    */
  def sqlCrossSkipFlow(s: SparkSession, dir: String): DataFrame = {
    val wh = freshWarehouse("graft-xsk")
    val cat = s"graft_sql_${sqlCatalogRuns.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gold")
    val ev = graft.Tables.t(s, dir, "events")
      .select(col("ts").cast(TimestampType).as("ts"), col("user_id"), col("value"))
      .where(col("ts").isNotNull && col("user_id").isNotNull)
    val table = LakehouseTable.createIfNotExists(
      s, new org.apache.hadoop.fs.Path(wh, "gold/xts"), ev.schema, Some("ts"))
    table.setProperty("write.key-bloom.bits", "262144")
    table.setProperty("write.stats-columns", "user_id")
    table.setProperty("write.column-bloom.bits", "262144")
    // 16 files on a (⌊second/15⌋ × user_id%4) grid: the ts dimension
    // and the user dimension each split the table 4 ways, and both
    // dimensions' ranges interleave across every file
    table.append(ev.repartition(16,
      floor(second(col("ts")) / 15) * 4 + pmod(col("user_id"), lit(4))))
    val zone = java.time.ZoneId.of(s.sessionState.conf.sessionLocalTimeZone)
    val litFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    val keyRows = ev.filter(second(col("ts")) === 7)
      .select(col("ts"), unix_micros(col("ts")).as("us"))
      .distinct().orderBy("ts").limit(5).collect()
    val inTs = keyRows.map { r =>
      val ldt = java.time.Instant.EPOCH
        .plus(r.getLong(1), java.time.temporal.ChronoUnit.MICROS)
        .atZone(zone).toLocalDateTime
      s"TIMESTAMP '${litFmt.format(ldt)}'"
    }.mkString(", ")
    val ids = ev.filter(pmod(col("user_id"), lit(4)) === 2)
      .select("user_id").distinct().orderBy("user_id").limit(5)
      .collect().map(_.getLong(0)).toSeq
    val inUid = ids.mkString(", ")
    val qTs = s.sql(
      s"SELECT count(*) AS ts_n_rows FROM $cat.gold.xts WHERE ts IN ($inTs)")
    val qUid = s.sql(
      s"SELECT count(*) AS uid_n_rows FROM $cat.gold.xts WHERE user_id IN ($inUid)")
    val qBoth = s.sql(
      s"""SELECT count(*) AS n_rows,
         |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         |FROM $cat.gold.xts
         |WHERE ts IN ($inTs) AND user_id IN ($inUid)""".stripMargin)
    val (sTs, sUid, sBoth) = (scannedFiles(qTs), scannedFiles(qUid), scannedFiles(qBoth))
    qBoth.crossJoin(qTs).crossJoin(qUid)
      .withColumn("intersected_below_key_dim", lit(sBoth < sTs))
      .withColumn("intersected_below_secondary_dim", lit(sBoth < sUid))
  }

  /** Metadata-only aggregate pushdown (round 15 extension — Iceberg's
    * metadata-count analog): an unfiltered `count(*) / count(col) /
    * min / max` over a graft SQL table is answered from the manifest
    * roll-ups alone — at 100 TB one manifest-list read instead of a
    * 10⁶-file scan. The flow proves four facts, all riding the oracle
    * hash: (i) the six-aggregate query matches DuckDB exactly AFTER a
    * copy-on-write DELETE (the rewrite keeps the inventory provable),
    * (ii) its plan scanned ZERO data files, (iii) time travel to the
    * pre-delete snapshot is also metadata-only, and (iv) a live
    * merge-on-read mask makes the SAME query fall back to an exact
    * scan — a mask can remove any row, so nothing is provable until
    * compaction folds it.
    */
  def sqlAggPushdownFlow(s: SparkSession, dir: String): DataFrame = {
    val wh = freshWarehouse("graft-aggp")
    val cat = s"graft_sql_${sqlCatalogRuns.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gold")
    val ev = graft.Tables.t(s, dir, "events")
      .select(col("ts").cast(TimestampType).as("ts"), col("user_id"),
        when(pmod(col("user_id"), lit(8)) < 4, col("user_id")).as("opt_uid"),
        // SHORT string (4 code points ≤ the truncate(16) cap): its
        // native-write bounds carry the round-16 exactness markers, so
        // min/max(tag) joins the metadata answers; `longtag` (> 16 cps
        // everywhere) must BAIL to the scan — its manifest bounds are
        // truncated prefixes, never extremes
        concat(lit("t"), lpad(pmod(col("user_id"), lit(8)).cast("string"), 3, "0"))
          .as("tag"),
        concat(lit("long-prefix-padding-"),
          lpad(pmod(col("user_id"), lit(8)).cast("string"), 3, "0")).as("longtag"),
        // DECIMAL sum column (round 18, VERDICT r17 #5): exact
        // quarter-steps, so every arithmetic step is exact on both the
        // Spark and the DuckDB side
        expr("CAST(pmod(user_id, 1000) * 0.25 AS DECIMAL(12,2))").as("amt"),
        col("value"))
      .where(col("ts").isNotNull && col("user_id").isNotNull)
    val table = LakehouseTable.createIfNotExists(
      s, new org.apache.hadoop.fs.Path(wh, "gold/agg"), ev.schema, Some("ts"))
    table.setProperty("write.stats-columns", "user_id,opt_uid,tag,longtag")
    // per-file exact sums (round 16): unfiltered sum(user_id) joins
    // the metadata answers — including after the COW delete below,
    // whose rewritten survivors re-earn their sums at write; `amt`
    // (round 18) extends the surface to DECIMAL money-typed columns
    table.setProperty("write.sum-columns", "user_id,opt_uid,amt")
    // residue-split files: half are ALL-null on opt_uid (no bounds, but
    // null counts = rows), so count(opt_uid) exercises the null
    // roll-up path rather than riding on bounds presence
    table.append(ev.repartition(8, pmod(col("user_id"), lit(8))))
    val vPre = table.metadata.currentSnapshotId.get
    s.sql(s"DELETE FROM $cat.gold.agg WHERE user_id % 10 = 3")
    val q = s.sql(
      s"""SELECT count(*) AS n_rows,
         |       count(opt_uid) AS n_opt,
         |       unix_micros(min(ts)) AS min_ts_us,
         |       unix_micros(max(ts)) AS max_ts_us,
         |       min(user_id) AS min_uid,
         |       max(user_id) AS max_uid
         |FROM $cat.gold.agg""".stripMargin)
    val aggMetadataOnly = scannedFiles(q) == 0
    // SUM pushdown (round 16, VERDICT r15 #7): exact per-file sums —
    // the nullable opt_uid leg exercises the all-null-file 0-recording
    // and the NULL-decision from null counts
    val qSum = s.sql(
      s"""SELECT sum(user_id) AS sum_uid, sum(opt_uid) AS sum_opt
         |FROM $cat.gold.agg""".stripMargin)
    val sumMetadataOnly = scannedFiles(qSum) == 0
    // AVG pushdown (round 17, VERDICT r16 #5): derived from the same
    // sum + count facts under the 2⁵³ determinism proof — Spark's
    // integral avg accumulates in DOUBLE, so the proof is what makes
    // the metadata answer byte-identical to any scan's (and DuckDB's)
    val qAvg = s.sql(
      s"""SELECT avg(user_id) AS avg_uid, avg(opt_uid) AS avg_opt
         |FROM $cat.gold.agg""".stripMargin)
    val avgMetadataOnly = scannedFiles(qAvg) == 0
    // sum-coverage observability (round 17, VERDICT r16 #7): the
    // operator-facing table must agree with what the queries above
    // just proved — both declared columns fully earned out and
    // servable in every mode, through the SQL surface
    val covRows = s.sql(
      s"""SELECT column, sum_servable_legacy, sum_servable_ansi,
         |       avg_servable, reason
         |FROM $cat.gold.agg.sum_coverage ORDER BY column""".stripMargin).collect()
    val sumCoverageOk = covRows.map(_.getString(0)).toSeq ==
      Seq("amt", "opt_uid", "user_id") &&
      covRows.forall(r => r.getBoolean(1) && r.getBoolean(2) &&
        r.getBoolean(3) && r.getString(4) == "ok")
    // DECIMAL sum/avg pushdown (round 18, VERDICT r17 #5): the sum
    // rides the hash (cast to double — quarter-steps are double-exact);
    // avg's VALUE is spec-verified against the scan instead (DuckDB's
    // avg(decimal) returns double where Spark rounds at scale s+4 —
    // not oracle-expressible), the plan fact and the scan-match ride
    val qDec = s.sql(
      s"SELECT CAST(sum(amt) AS DOUBLE) AS sum_amt FROM $cat.gold.agg")
    val decSumOnly = scannedFiles(qDec) == 0
    val qDecAvg = s.sql(s"SELECT avg(amt) AS aa FROM $cat.gold.agg")
    val decAvgOnly = scannedFiles(qDecAvg) == 0
    val decAvgMatchesScan = qDecAvg.head().getDecimal(0) ==
      table.read().agg(avg("amt")).head().getDecimal(0)
    // STRING extremes (round 16, VERDICT r15 #5): exactness-marked
    // short strings answer from metadata; truncated long strings bail
    // to the scan — same values either way, the hash checks both
    val qStr = s.sql(
      s"SELECT min(tag) AS min_tag, max(tag) AS max_tag FROM $cat.gold.agg")
    val strMetadataOnly = scannedFiles(qStr) == 0
    val qLongStr = s.sql(
      s"""SELECT min(longtag) AS min_longtag, max(longtag) AS max_longtag
         |FROM $cat.gold.agg""".stripMargin)
    val longStrBails = scannedFiles(qLongStr) > 0
    // DataFrame-API route (round 16, VERDICT r15 #3): the bare
    // relation stays unexpanded, so `spark.table(t).count()` reaches
    // the same rewrite — value rides the hash, plan rides the boolean
    val dfCount = s.table(s"$cat.gold.agg").count()
    val dfCountMetadataOnly =
      scannedFiles(s.table(s"$cat.gold.agg").groupBy().count()) == 0
    val qTt = s.sql(
      s"SELECT count(*) AS n_rows_pre FROM $cat.gold.agg VERSION AS OF $vPre")
    val ttMetadataOnly = scannedFiles(qTt) == 0
    // plans above are frozen at sql()-analysis time, so the mask below
    // cannot leak into their answers; the post-mask query must WANT the
    // mask — and therefore must scan
    table.morDeleteKeys(
      ev.filter(second(col("ts")) === 13).select("ts"), "ts")
    val qMask = s.sql(s"SELECT count(*) AS n_rows_masked FROM $cat.gold.agg")
    val maskFellBack = scannedFiles(qMask) > 0
    q.crossJoin(qSum).crossJoin(qAvg).crossJoin(qDec)
      .crossJoin(qStr).crossJoin(qLongStr)
      .crossJoin(qTt).crossJoin(qMask)
      .withColumn("n_rows_df", lit(dfCount))
      .withColumn("agg_metadata_only", lit(aggMetadataOnly))
      .withColumn("sum_metadata_only", lit(sumMetadataOnly))
      .withColumn("avg_metadata_only", lit(avgMetadataOnly))
      .withColumn("decimal_sum_metadata_only", lit(decSumOnly))
      .withColumn("decimal_avg_metadata_only", lit(decAvgOnly))
      .withColumn("decimal_avg_matches_scan", lit(decAvgMatchesScan))
      .withColumn("sum_coverage_ok", lit(sumCoverageOk))
      .withColumn("string_extreme_metadata_only", lit(strMetadataOnly))
      .withColumn("truncated_string_bails", lit(longStrBails))
      .withColumn("df_count_metadata_only", lit(dfCountMetadataOnly))
      .withColumn("tt_metadata_only", lit(ttMetadataOnly))
      .withColumn("mask_fallback_scans", lit(maskFellBack))
  }

  /** GROUP BY an identity partition column answered from manifest
    * entries alone (round 15 — the partition-level extension of
    * [[sqlAggPushdownFlow]]): per-dir row counts ARE per-value counts
    * under the identity invariant, so `SELECT sym, count(*), min/max …
    * GROUP BY sym` — the per-symbol coverage dashboard — plans ZERO
    * data files and no shuffle. `SELECT DISTINCT sym` rides the same
    * path. A filtered variant must fall back to an exact scan: both
    * plan facts ride the oracle hash next to the grouped values
    * themselves.
    */
  def sqlGroupPushdownFlow(s: SparkSession, dir: String): DataFrame = {
    val wh = freshWarehouse("graft-gagg")
    val cat = s"graft_sql_${sqlCatalogRuns.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gold")
    val ev = graft.Tables.t(s, dir, "events")
      .select(
        concat(lit("s"), pmod(col("user_id"), lit(8)).cast("string")).as("sym"),
        col("ts").cast(TimestampType).as("ts"), col("user_id"),
        when(pmod(col("user_id"), lit(8)) < 4, col("user_id")).as("opt_uid"),
        col("value"))
      .where(col("ts").isNotNull && col("user_id").isNotNull)
    val table = LakehouseTable.createIfNotExists(
      s, new org.apache.hadoop.fs.Path(wh, "gold/gagg"), ev.schema,
      Seq("sym" -> "identity", "ts" -> "day"))
    table.setProperty("write.stats-columns", "user_id,opt_uid")
    table.setProperty("write.sum-columns", "user_id,opt_uid")
    // two commits → ≥2 files per symbol dir, so per-group facts fold
    // across files, not just read one entry
    (0 until 2).foreach(r =>
      table.append(ev.filter(pmod(col("user_id"), lit(2)) === r)))
    val qG = s.sql(
      s"""SELECT sym, count(*) AS n_rows, count(opt_uid) AS n_opt,
         |       unix_micros(min(ts)) AS mn_ts_us,
         |       unix_micros(max(ts)) AS mx_ts_us,
         |       min(user_id) AS mn_uid, max(user_id) AS mx_uid,
         |       sum(user_id) AS sum_uid, sum(opt_uid) AS sum_opt,
         |       avg(user_id) AS avg_uid, avg(opt_uid) AS avg_opt
         |FROM $cat.gold.gagg GROUP BY sym""".stripMargin)
    val gOnly = scannedFiles(qG) == 0
    // DataFrame route (round 17, VERDICT r16 #3): the bare relation
    // reaches the same grouped rewrite — and with the expansion
    // disabled, the DSv2 `SupportsPushDownAggregates` grouped path
    // serves the identical rows through Spark's own optimizer (the
    // no-extension catalog user); both plan facts ride the hash
    val dfGroupMetadataOnly =
      scannedFiles(s.table(s"$cat.gold.gagg").groupBy("sym").count()) == 0
    def withExpansionDisabled[A](body: => A): A = {
      val key = "spark.graft.sql.expansion-enabled"
      val prior = s.conf.getOption(key)
      s.conf.set(key, "false")
      try body
      finally prior match {
        case Some(v) => s.conf.set(key, v)
        case None    => s.conf.unset(key)
      }
    }
    // the optimizer pushed the grouped aggregate into the metadata scan
    def groupPushed(df: DataFrame): Boolean = df.queryExecution.optimizedPlan.exists {
      case org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation(
          _, m: graft.sql.GraftMetadataAggScan, _, _, _) =>
        m.readSchema().fieldNames.exists(_.startsWith("_pushed_group_"))
      case _ => false
    }
    val dsv2GroupMetadataOnly = withExpansionDisabled {
      val g = s.table(s"$cat.gold.gagg").groupBy("sym")
        .agg(count(lit(1)).as("n"), sum("user_id").as("su"),
          avg("user_id").as("au"))
      groupPushed(g) &&
        scannedFiles(g) == 0 && g.count() == 8
    }
    // time-DERIVED DSv2 grouping (round 18, VERDICT r17 #3): the
    // connector delivers groupBy(year(ts)) as Extract("YEAR", ts) —
    // served from the same day-dir decode the SQL rule uses
    val dsv2DerivedGroup = withExpansionDisabled {
      val g = s.table(s"$cat.gold.gagg")
        .groupBy(year(col("ts")).as("y")).agg(count(lit(1)).as("n"))
      groupPushed(g) &&
        scannedFiles(g) == 0 && g.count() >= 1
    }
    val qD = s.sql(s"SELECT DISTINCT sym FROM $cat.gold.gagg")
    val dOnly = scannedFiles(qD) == 0 && qD.count() == 8
    // count(DISTINCT identity) (round 18, VERDICT r17 #4): the number
    // of distinct decoded partition dirs — zero files planned
    val qCD = s.sql(s"SELECT count(DISTINCT sym) AS d FROM $cat.gold.gagg")
    val cdOnly = scannedFiles(qCD) == 0 && qCD.head().getLong(0) == 8L
    val qF = s.sql(
      s"SELECT count(*) AS n FROM $cat.gold.gagg WHERE value > 0")
    val fFellBack = scannedFiles(qF) > 0
    val nFiltered = qF.head().getLong(0)
    // a PURE identity restriction keeps the aggregate metadata-only:
    // the dir's files hold exactly the dir value's rows
    val qR = s.sql(
      s"""SELECT count(*) AS n, max(user_id) AS mx
         |FROM $cat.gold.gagg WHERE sym = 's3'""".stripMargin)
    val rOnly = scannedFiles(qR) == 0
    val rRow = qR.head()
    // HYBRID time-range count (round 15): a range covering every file's
    // bounds counts from metadata alone (scan 0); shaving one µs off
    // both extremes makes the extreme files boundary-straddle — the
    // hybrid scans ONLY those and adds the interior from metadata. The
    // min/max probe itself is the min/max pushdown.
    val mm = s.sql(
      s"SELECT unix_micros(min(ts)) AS mn, unix_micros(max(ts)) AS mx FROM $cat.gold.gagg")
    val mmOnly = scannedFiles(mm) == 0
    val mmRow = mm.head()
    val (mnUs, mxUs) = (mmRow.getLong(0), mmRow.getLong(1))
    val zone = java.time.ZoneId.of(s.sessionState.conf.sessionLocalTimeZone)
    val litFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    def tsLit(us: Long): String = {
      val ldt = java.time.Instant.EPOCH
        .plus(us, java.time.temporal.ChronoUnit.MICROS).atZone(zone).toLocalDateTime
      s"TIMESTAMP '${litFmt.format(ldt)}'"
    }
    val qCover = s.sql(
      s"""SELECT count(*) AS n FROM $cat.gold.gagg
         |WHERE ts >= ${tsLit(mnUs)} AND ts <= ${tsLit(mxUs)}""".stripMargin)
    val coverOnly = scannedFiles(qCover) == 0
    val nCover = qCover.head().getLong(0)
    val qStr = s.sql(
      s"""SELECT count(*) AS n FROM $cat.gold.gagg
         |WHERE ts >= ${tsLit(mnUs + 1)} AND ts <= ${tsLit(mxUs - 1)}""".stripMargin)
    val sStr = scannedFiles(qStr)
    val strBoundary = sStr > 0 && sStr < table.currentDataFiles.size
    val nStr = qStr.head().getLong(0)
    // GROUPED counts under a DAY-ALIGNED range (round 15): files are
    // day-dir-bounded, so an aligned bound never splits one — every
    // overlapping file is interior and the per-symbol counts stay
    // metadata-only
    val dayLoUs = (Math.floorDiv(mnUs, 86400000000L) + 1) * 86400000000L
    val qGR = s.sql(
      s"""SELECT sym, count(*) AS n FROM $cat.gold.gagg
         |WHERE ts >= ${tsLit(dayLoUs)} GROUP BY sym""".stripMargin)
    val grOnly = scannedFiles(qGR) == 0
    val grAgg = qGR.agg(count(lit(1)).as("g"),
      sum(col("n")).cast(LongType).as("r")).head()
    // hybrid range SUM (round 16): the same aligned range serves
    // sum(user_id) from the interior files' exact per-file sums —
    // zero data files planned
    val qRS = s.sql(
      s"""SELECT sum(user_id) AS s FROM $cat.gold.gagg
         |WHERE ts >= ${tsLit(dayLoUs)}""".stripMargin)
    val rsOnly = scannedFiles(qRS) == 0
    val rsVal = qRS.head().getLong(0)
    // GROUPED range sums (round 17, VERDICT r16 #6): the day-aligned
    // range serves per-symbol sums from metadata alone; a mid-file cut
    // runs the grouped HYBRID — interior files from recorded sums,
    // only straddlers scanned (strictly fewer than the table's files)
    val qGRS = s.sql(
      s"""SELECT sym, sum(user_id) AS s FROM $cat.gold.gagg
         |WHERE ts >= ${tsLit(dayLoUs)} GROUP BY sym""".stripMargin)
    val grsOnly = scannedFiles(qGRS) == 0
    val grsAgg = qGRS.agg(count(lit(1)).as("g"),
      sum(col("s")).cast(LongType).as("r")).head()
    val qGRH = s.sql(
      s"""SELECT sym, count(*) AS n, sum(user_id) AS s FROM $cat.gold.gagg
         |WHERE ts >= ${tsLit(mnUs + 1)} GROUP BY sym""".stripMargin)
    val sGrh = scannedFiles(qGRH)
    val grhBoundary = sGrh > 0 && sGrh < table.currentDataFiles.size
    val grhAgg = qGRH.agg(count(lit(1)).as("g"),
      sum(col("n")).cast(LongType).as("n"),
      sum(col("s")).cast(LongType).as("r")).head()
    // AVG over ranges (round 17): the aligned range serves it pure
    // metadata under the 2⁵³ determinism proof; a mid-file cut runs
    // the hybrid — interior sum+count from metadata, only straddlers
    // scanned, combined as exact-total / exact-count in double
    val qRA = s.sql(
      s"""SELECT avg(user_id) AS a FROM $cat.gold.gagg
         |WHERE ts >= ${tsLit(dayLoUs)}""".stripMargin)
    val raOnly = scannedFiles(qRA) == 0
    val raVal = qRA.head().getDouble(0)
    val qRAH = s.sql(
      s"""SELECT avg(user_id) AS a FROM $cat.gold.gagg
         |WHERE ts >= ${tsLit(mnUs + 1)}""".stripMargin)
    val sRah = scannedFiles(qRAH)
    val rahBoundary = sRah > 0 && sRah < table.currentDataFiles.size
    val rahVal = qRAH.head().getDouble(0)
    qG.withColumn("n_filtered", lit(nFiltered))
      .withColumn("n_sym3", lit(rRow.getLong(0)))
      .withColumn("mx_sym3_uid", lit(rRow.getLong(1)))
      .withColumn("n_cover", lit(nCover))
      .withColumn("n_straddle", lit(nStr))
      .withColumn("n_range_groups", lit(grAgg.getLong(0)))
      .withColumn("n_range_rows", lit(grAgg.getLong(1)))
      .withColumn("sum_range", lit(rsVal))
      .withColumn("range_sum_metadata_only", lit(rsOnly))
      .withColumn("n_grs_groups", lit(grsAgg.getLong(0)))
      .withColumn("sum_grs", lit(grsAgg.getLong(1)))
      .withColumn("grouped_range_sum_metadata_only", lit(grsOnly))
      .withColumn("n_grh_groups", lit(grhAgg.getLong(0)))
      .withColumn("n_grh_rows", lit(grhAgg.getLong(1)))
      .withColumn("sum_grh", lit(grhAgg.getLong(2)))
      .withColumn("grouped_hybrid_boundary_scan", lit(grhBoundary))
      .withColumn("avg_range", lit(raVal))
      .withColumn("range_avg_metadata_only", lit(raOnly))
      .withColumn("avg_hybrid", lit(rahVal))
      .withColumn("avg_hybrid_boundary_scan", lit(rahBoundary))
      .withColumn("group_metadata_only", lit(gOnly))
      .withColumn("df_group_metadata_only", lit(dfGroupMetadataOnly))
      .withColumn("dsv2_group_metadata_only", lit(dsv2GroupMetadataOnly))
      .withColumn("dsv2_derived_group", lit(dsv2DerivedGroup))
      .withColumn("distinct_metadata_only", lit(dOnly))
      .withColumn("count_distinct_metadata_only", lit(cdOnly))
      .withColumn("filtered_fallback_scans", lit(fFellBack))
      .withColumn("restricted_metadata_only", lit(rOnly))
      .withColumn("minmax_metadata_only", lit(mmOnly))
      .withColumn("cover_metadata_only", lit(coverOnly))
      .withColumn("straddle_boundary_scan", lit(strBoundary))
      .withColumn("grouped_range_metadata_only", lit(grOnly))
      .orderBy("sym") // the driver's hash is row-order-sensitive
  }

  /** `approx_count_distinct` metadata pushdown (round 18 —
    * [[graft.lake.NdvSketch]] / `write.ndv-columns`): per-file HLL++
    * register sketches, recorded by the write pass with Spark's OWN
    * aggregate update code, merge by register max into exactly the
    * register state a scan reaches — so the served estimate equals the
    * scan's BIT-FOR-BIT, whole-table / per-identity-group /
    * identity-restricted, with zero data files planned. The flow
    * proves plan facts AND value equality against a forced-scan rerun
    * (conf `spark.graft.sql.metadata-aggregates=false`), rides them as
    * booleans on the oracle hash next to the EXACT distinct counts
    * (DuckDB-portable; the estimates themselves are Spark-internal
    * values DuckDB's own approx sketch cannot reproduce), and checks
    * the `ndv_coverage` metadata table reports what the server does.
    */
  def sqlNdvPushdownFlow(s: SparkSession, dir: String): DataFrame = {
    val wh = freshWarehouse("graft-ndv")
    val cat = s"graft_sql_${sqlCatalogRuns.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gold")
    val ev = graft.Tables.t(s, dir, "events")
      .select(
        concat(lit("s"), pmod(col("user_id"), lit(8)).cast("string")).as("sym"),
        col("ts").cast(TimestampType).as("ts"), col("user_id"),
        concat(lit("t"), lpad(pmod(col("user_id"), lit(100)).cast("string"),
          3, "0")).as("tag"),
        (pmod(col("user_id"), lit(1000)) * lit(0.25))
          .cast(org.apache.spark.sql.types.DecimalType(12, 2)).as("amt"))
      .where(col("ts").isNotNull && col("user_id").isNotNull)
    val table = LakehouseTable.createIfNotExists(
      s, new org.apache.hadoop.fs.Path(wh, "gold/ndv"), ev.schema,
      Seq("sym" -> "identity", "ts" -> "day"))
    table.setProperty("write.ndv-columns", "user_id,tag,amt")
    // two commits → ≥2 files per symbol dir: the merge is load-bearing
    // (values repeat across files, per-file counts do not add up)
    (0 until 2).foreach(r =>
      table.append(ev.filter(pmod(col("user_id"), lit(2)) === r)))
    def forcedScan[A](body: => A): A = {
      s.conf.set("spark.graft.sql.metadata-aggregates", "false")
      try body finally s.conf.unset("spark.graft.sql.metadata-aggregates")
    }
    // whole-table: zero files AND bit-for-bit equal to the scan
    val sqlAll =
      s"""SELECT approx_count_distinct(user_id) AS u,
         |       approx_count_distinct(tag) AS t,
         |       approx_count_distinct(amt) AS a
         |FROM $cat.gold.ndv""".stripMargin
    val qAll = s.sql(sqlAll)
    val ndvOnly = scannedFiles(qAll) == 0
    val servedAll = qAll.head()
    val truthAll = forcedScan {
      val q = s.sql(sqlAll)
      require(scannedFiles(q) > 0, "forced-scan leg must scan")
      q.head()
    }
    val matchesScan = (0 until 3).forall(i =>
      servedAll.getLong(i) == truthAll.getLong(i))
    // grouped per identity dir: zero files, rows equal the scan's
    val sqlG = s"SELECT sym, approx_count_distinct(user_id) AS u " +
      s"FROM $cat.gold.ndv GROUP BY sym ORDER BY sym"
    val qGrp = s.sql(sqlG)
    val grpOnly = scannedFiles(qGrp) == 0
    val grpServed = qGrp.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val grpTruth = forcedScan(
      s.sql(sqlG).collect().map(r => (r.getString(0), r.getLong(1))).toSeq)
    val grpMatches = grpServed == grpTruth
    // identity restriction: the subset's merged sketch
    val sqlR = s"SELECT approx_count_distinct(tag) AS t " +
      s"FROM $cat.gold.ndv WHERE sym = 's3'"
    val qR = s.sql(sqlR)
    val rOnly = scannedFiles(qR) == 0
    val rMatches = qR.head().getLong(0) == forcedScan(s.sql(sqlR).head().getLong(0))
    // undeclared column bails to the scan (answer correct by
    // construction — it IS the scan)
    val undeclaredScans = scannedFiles(
      s.sql(s"SELECT approx_count_distinct(ts) AS v FROM $cat.gold.ndv")) > 0
    // hybrid range (round 18, the two features composed): a covering
    // range merges interiors' registers alone (zero files); one µs in,
    // ONLY the straddlers scan and their registers union with the
    // interiors' — both values bit-equal to the forced scan
    val mnUs = s.sql(s"SELECT unix_micros(min(ts)) AS v FROM $cat.gold.ndv")
      .head().getLong(0)
    val zone = java.time.ZoneId.of(s.sessionState.conf.sessionLocalTimeZone)
    val hFmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    def tsLit(us: Long): String = {
      val ldt = java.time.Instant.EPOCH
        .plus(us, java.time.temporal.ChronoUnit.MICROS)
        .atZone(zone).toLocalDateTime
      s"TIMESTAMP '${hFmt.format(ldt)}'"
    }
    val sqlCov = s"SELECT approx_count_distinct(user_id) AS v " +
      s"FROM $cat.gold.ndv WHERE ts >= ${tsLit(mnUs)}"
    val qCov = s.sql(sqlCov)
    val coveringOnly = scannedFiles(qCov) == 0 &&
      qCov.head().getLong(0) == forcedScan(s.sql(sqlCov).head().getLong(0))
    val sqlHyb = s"SELECT approx_count_distinct(user_id) AS v " +
      s"FROM $cat.gold.ndv WHERE ts >= ${tsLit(mnUs + 1)}"
    val qHyb = s.sql(sqlHyb)
    val sHyb = scannedFiles(qHyb)
    val hybridBoundary = sHyb > 0 && sHyb < table.currentDataFiles.size &&
      qHyb.head().getLong(0) == forcedScan(s.sql(sqlHyb).head().getLong(0))
    // GROUPED hybrid (round 18): per-symbol registers — interior
    // groups from sketches, straddlers' boundary registers merged in
    val sqlGH = s"SELECT sym, approx_count_distinct(user_id) AS v " +
      s"FROM $cat.gold.ndv WHERE ts >= ${tsLit(mnUs + 1)} " +
      "GROUP BY sym ORDER BY sym"
    val qGH = s.sql(sqlGH)
    val sGH = scannedFiles(qGH)
    val ghServed = qGH.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val ghTruth = forcedScan(
      s.sql(sqlGH).collect().map(r => (r.getString(0), r.getLong(1))).toSeq)
    val groupedHybrid = sGH > 0 && sGH < table.currentDataFiles.size &&
      ghServed == ghTruth
    // the coverage table's verdict IS the serving verdict, and its
    // estimate IS the served value
    val cov = s.sql(s"SELECT column, servable, ndv_estimate, reason " +
      s"FROM $cat.gold.ndv.ndv_coverage").collect()
    val covOk = cov.length == 3 && cov.forall(r =>
      r.getBoolean(1) && r.getString(3) == "ok") &&
      cov.find(_.getString(0) == "user_id").exists(_.getLong(2) == servedAll.getLong(0))
    // the estimate is a real estimate: within 5·rsd of the exact count
    // (deterministic — a pure function of the data)
    val exact = s.sql(
      s"""SELECT count(DISTINCT user_id) AS u, count(DISTINCT tag) AS t,
         |       count(DISTINCT amt) AS a FROM $cat.gold.ndv""".stripMargin).head()
    val errOk = (0 until 3).forall { i =>
      val (e, x) = (servedAll.getLong(i).toDouble, exact.getLong(i).toDouble)
      x == 0.0 || math.abs(e - x) <= 0.25 * x
    }
    import s.implicits._
    Seq((exact.getLong(0), exact.getLong(1), exact.getLong(2)))
      .toDF("exact_uid", "exact_tag", "exact_amt")
      .withColumn("ndv_metadata_only", lit(ndvOnly))
      .withColumn("ndv_matches_scan", lit(matchesScan))
      .withColumn("grouped_ndv_metadata_only", lit(grpOnly))
      .withColumn("grouped_ndv_matches_scan", lit(grpMatches))
      .withColumn("restricted_ndv_metadata_only", lit(rOnly))
      .withColumn("restricted_ndv_matches_scan", lit(rMatches))
      .withColumn("undeclared_ndv_scans", lit(undeclaredScans))
      .withColumn("covering_ndv_metadata_only", lit(coveringOnly))
      .withColumn("hybrid_ndv_boundary_scan", lit(hybridBoundary))
      .withColumn("grouped_hybrid_ndv", lit(groupedHybrid))
      .withColumn("ndv_coverage_ok", lit(covOk))
      .withColumn("ndv_error_bounded", lit(errOk))
  }

  /** EXACT double bounds (round 15): `value BETWEEN a AND b` on a
    * double stats column prunes files through the exact per-file
    * minD/maxD pair — the long-widened bounds used before round 15
    * cannot decide a sub-integer range in either direction, so double
    * ranges previously fell back to a full scan. The unfiltered
    * min/max(value) probe rides the metadata-aggregate path off the
    * same exact pair. Files are banded by VALUE quarters (append per
    * band), so a (30%..45%)-of-range predicate provably lands inside
    * one band: the plan boolean and both extremes ride the hash.
    */
  def sqlDoubleRangeFlow(s: SparkSession, dir: String): DataFrame = {
    val wh = freshWarehouse("graft-dbl")
    val cat = s"graft_sql_${sqlCatalogRuns.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gold")
    val ev = graft.Tables.t(s, dir, "events")
      .select(col("ts").cast(TimestampType).as("ts"), col("value"))
      .where(col("ts").isNotNull)
    val table = LakehouseTable.createIfNotExists(
      s, new org.apache.hadoop.fs.Path(wh, "gold/dbl"), ev.schema, Some("ts"))
    table.setProperty("write.stats-columns", "value")
    val mmSrc = ev.agg(min(col("value")).as("mn"), max(col("value")).as("mx")).head()
    val (mn, mx) = (mmSrc.getDouble(0), mmSrc.getDouble(1))
    def t(frac: Double): Double = mn + (mx - mn) * frac
    // four value-banded files: [mn,25%), [25%,50%), [50%,75%), [75%,mx]
    val cuts = Seq(t(0.25), t(0.5), t(0.75))
    table.append(ev.filter(col("value") < cuts(0)).coalesce(1))
    table.append(ev.filter(col("value") >= cuts(0) && col("value") < cuts(1)).coalesce(1))
    table.append(ev.filter(col("value") >= cuts(1) && col("value") < cuts(2)).coalesce(1))
    table.append(ev.filter(col("value") >= cuts(2)).coalesce(1))
    val totalFiles = table.currentDataFiles.size
    val qMm = s.sql(
      s"SELECT min(value) AS min_value, max(value) AS max_value FROM $cat.gold.dbl")
    val mmOnly = scannedFiles(qMm) == 0
    // the band (30%..45%) sits strictly inside the [25%,50%) file
    val qBand = s.sql(
      s"""SELECT count(*) AS n_band FROM $cat.gold.dbl
         |WHERE value >= ${t(0.3)} AND value < ${t(0.45)}""".stripMargin)
    val bandPruned = scannedFiles(qBand) < totalFiles
    val qAll = s.sql(s"SELECT count(*) AS n_rows FROM $cat.gold.dbl")
    qAll.crossJoin(qMm).crossJoin(qBand)
      .withColumn("minmax_metadata_only", lit(mmOnly))
      .withColumn("band_pruned_files", lit(bandPruned))
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec(
      "q_lake_sql_string_skip",
      sqlStringSkipFlow,
      Some("""WITH e AS (
             |  SELECT concat('u', lpad(CAST(user_id AS VARCHAR), 10, '0')) AS uid_s,
             |         value
             |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
             |), k AS (
             |  SELECT DISTINCT concat('u', lpad(CAST(user_id AS VARCHAR), 10, '0')) AS uid_s
             |  FROM events
             |  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND user_id % 8 = 3
             |  ORDER BY uid_s LIMIT 5
             |)
             |SELECT count(*) AS n_rows,
             |       min(uid_s) AS min_uid,
             |       max(uid_s) AS max_uid,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       true AS bounds_cannot_prune,
             |       true AS bloom_pruned_files
             |FROM e WHERE uid_s IN (SELECT uid_s FROM k)""".stripMargin)
    ),

    QuerySpec(
      "q_lake_sql_null_skip",
      sqlNullSkipFlow,
      Some("""WITH e AS (
             |  SELECT ts,
             |         CASE WHEN user_id % 8 < 4 THEN user_id END AS opt_uid,
             |         value
             |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
             |), k AS (
             |  SELECT DISTINCT ts FROM e WHERE second(ts) = 7
             |  ORDER BY ts LIMIT 5
             |)
             |SELECT (SELECT count(*) FROM e WHERE opt_uid IS NOT NULL) AS n_not_null,
             |       (SELECT CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
             |        FROM e WHERE opt_uid IS NOT NULL) AS sum_not_null,
             |       (SELECT count(*) FROM e WHERE opt_uid IS NULL) AS n_null,
             |       (SELECT count(*) FROM e WHERE opt_uid >= 0) AS n_in_range,
             |       (SELECT count(*) FROM e
             |        WHERE ts IN (SELECT ts FROM k) AND opt_uid IS NOT NULL)
             |         AS n_composed,
             |       true AS notnull_pruned,
             |       true AS null_pruned,
             |       true AS range_skips_allnull,
             |       true AS composed_pruned""".stripMargin)
    ),

    QuerySpec(
      "q_lake_timetravel_point",
      sqlTimetravelPointFlow,
      Some("""WITH k AS (
             |  SELECT DISTINCT ts FROM events
             |  WHERE ts IS NOT NULL AND second(ts) = 7
             |  ORDER BY ts LIMIT 5
             |)
             |SELECT count(*) AS n_rows,
             |       min(epoch_us(ts)) AS min_ts_us,
             |       max(epoch_us(ts)) AS max_ts_us,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       CAST(0 AS BIGINT) AS post_pin_rows,
             |       true AS pinned_pruned_files
             |FROM events WHERE ts IN (SELECT ts FROM k)""".stripMargin)
    ),

    QuerySpec(
      "q_lake_sql_prefix_skip",
      sqlPrefixSkipFlow,
      Some("""WITH e AS (
             |  SELECT concat('u', lpad(CAST(user_id AS VARCHAR), 10, '0')) AS uid_s,
             |         value
             |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
             |)
             |SELECT count(*) AS n_rows,
             |       min(uid_s) AS min_uid,
             |       max(uid_s) AS max_uid,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       true AS prefix_pruned_files
             |FROM e WHERE uid_s LIKE 'u000000001%'""".stripMargin)
    ),

    QuerySpec(
      "q_lake_sql_secondary_range",
      sqlSecondaryRangeFlow,
      Some("""WITH e AS (
             |  SELECT user_id, value FROM events
             |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
             |), m AS (SELECT max(user_id) AS mx FROM e)
             |SELECT count(*) AS n_rows,
             |       min(user_id) AS min_uid,
             |       max(user_id) AS max_uid,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       true AS range_pruned_files
             |FROM e, m
             |WHERE user_id BETWEEN mx // 4 AND mx // 4 + mx // 8""".stripMargin)
    ),

    QuerySpec(
      "q_lake_sql_identity_skip",
      sqlIdentitySkipFlow,
      Some("""WITH e AS (
             |  SELECT concat('s', CAST(user_id % 8 AS VARCHAR)) AS sym, value
             |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
             |)
             |SELECT count(*) AS n_rows,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       true AS identity_pruned,
             |       true AS manifests_pruned
             |FROM e WHERE sym = 's3'""".stripMargin)
    ),

    QuerySpec(
      "q_lake_sql_string_range",
      sqlStringRangeFlow,
      Some("""WITH e AS (
             |  SELECT concat('u', lpad(CAST(user_id AS VARCHAR), 10, '0')) AS uid_s,
             |         value
             |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
             |), m AS (
             |  SELECT concat('u', lpad(CAST(max(user_id) // 4 AS VARCHAR), 10, '0')) AS lo,
             |         concat('u', lpad(CAST(max(user_id) // 4 + max(user_id) // 8
             |           AS VARCHAR), 10, '0')) AS hi,
             |         concat('u', lpad(CAST(max(user_id) // 4 + max(user_id) // 8 + 1
             |           AS VARCHAR), 10, '0')) AS hix
             |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
             |)
             |SELECT count(*) AS n_rows,
             |       min(uid_s) AS min_uid,
             |       max(uid_s) AS max_uid,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       (SELECT count(*) FROM e, m WHERE uid_s >= lo AND uid_s < hix)
             |         AS n_halfopen,
             |       true AS string_range_pruned,
             |       true AS halfopen_pruned
             |FROM e, m
             |WHERE uid_s BETWEEN lo AND hi""".stripMargin)
    ),

    QuerySpec(
      "q_lake_agg_pushdown",
      sqlAggPushdownFlow,
      Some("""WITH e AS (
             |  SELECT ts, user_id,
             |         CASE WHEN user_id % 8 < 4 THEN user_id END AS opt_uid,
             |         concat('t', lpad(CAST(user_id % 8 AS VARCHAR), 3, '0'))
             |           AS tag,
             |         concat('long-prefix-padding-',
             |                lpad(CAST(user_id % 8 AS VARCHAR), 3, '0'))
             |           AS longtag,
             |         CAST(user_id % 1000 * 0.25 AS DECIMAL(12,2)) AS amt
             |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
             |), s AS (
             |  SELECT * FROM e WHERE user_id % 10 <> 3
             |)
             |SELECT (SELECT count(*) FROM s) AS n_rows,
             |       (SELECT count(opt_uid) FROM s) AS n_opt,
             |       (SELECT min(epoch_us(ts)) FROM s) AS min_ts_us,
             |       (SELECT max(epoch_us(ts)) FROM s) AS max_ts_us,
             |       (SELECT min(user_id) FROM s) AS min_uid,
             |       (SELECT max(user_id) FROM s) AS max_uid,
             |       (SELECT CAST(sum(user_id) AS BIGINT) FROM s) AS sum_uid,
             |       (SELECT CAST(sum(opt_uid) AS BIGINT) FROM s) AS sum_opt,
             |       (SELECT avg(user_id) FROM s) AS avg_uid,
             |       (SELECT avg(opt_uid) FROM s) AS avg_opt,
             |       (SELECT min(tag) FROM s) AS min_tag,
             |       (SELECT max(tag) FROM s) AS max_tag,
             |       (SELECT min(longtag) FROM s) AS min_longtag,
             |       (SELECT max(longtag) FROM s) AS max_longtag,
             |       (SELECT count(*) FROM e) AS n_rows_pre,
             |       (SELECT count(*) FROM s WHERE second(ts) <> 13)
             |         AS n_rows_masked,
             |       (SELECT count(*) FROM s) AS n_rows_df,
             |       (SELECT CAST(sum(amt) AS DOUBLE) FROM s) AS sum_amt,
             |       true AS agg_metadata_only,
             |       true AS sum_metadata_only,
             |       true AS avg_metadata_only,
             |       true AS decimal_sum_metadata_only,
             |       true AS decimal_avg_metadata_only,
             |       true AS decimal_avg_matches_scan,
             |       true AS sum_coverage_ok,
             |       true AS string_extreme_metadata_only,
             |       true AS truncated_string_bails,
             |       true AS df_count_metadata_only,
             |       true AS tt_metadata_only,
             |       true AS mask_fallback_scans""".stripMargin)
    ),

    QuerySpec(
      "q_lake_group_pushdown",
      sqlGroupPushdownFlow,
      Some("""WITH e AS (
             |  SELECT concat('s', CAST(user_id % 8 AS VARCHAR)) AS sym,
             |         ts, user_id,
             |         CASE WHEN user_id % 8 < 4 THEN user_id END AS opt_uid,
             |         value
             |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
             |)
             |SELECT sym,
             |       count(*) AS n_rows,
             |       count(opt_uid) AS n_opt,
             |       min(epoch_us(ts)) AS mn_ts_us,
             |       max(epoch_us(ts)) AS mx_ts_us,
             |       min(user_id) AS mn_uid,
             |       max(user_id) AS mx_uid,
             |       CAST(sum(user_id) AS BIGINT) AS sum_uid,
             |       CAST(sum(opt_uid) AS BIGINT) AS sum_opt,
             |       avg(user_id) AS avg_uid,
             |       avg(opt_uid) AS avg_opt,
             |       (SELECT count(*) FROM e WHERE value > 0) AS n_filtered,
             |       (SELECT count(*) FROM e WHERE sym = 's3') AS n_sym3,
             |       (SELECT max(user_id) FROM e WHERE sym = 's3') AS mx_sym3_uid,
             |       (SELECT count(*) FROM e) AS n_cover,
             |       (SELECT count(*) FROM e
             |        WHERE ts > (SELECT min(ts) FROM e)
             |          AND ts < (SELECT max(ts) FROM e)) AS n_straddle,
             |       (SELECT count(*) FROM (
             |          SELECT sym FROM e
             |          WHERE ts >= date_trunc('day', (SELECT min(ts) FROM e))
             |            + INTERVAL 1 DAY
             |          GROUP BY sym)) AS n_range_groups,
             |       (SELECT count(*) FROM e
             |        WHERE ts >= date_trunc('day', (SELECT min(ts) FROM e))
             |          + INTERVAL 1 DAY) AS n_range_rows,
             |       (SELECT CAST(sum(user_id) AS BIGINT) FROM e
             |        WHERE ts >= date_trunc('day', (SELECT min(ts) FROM e))
             |          + INTERVAL 1 DAY) AS sum_range,
             |       (SELECT count(*) FROM (
             |          SELECT sym FROM e
             |          WHERE ts >= date_trunc('day', (SELECT min(ts) FROM e))
             |            + INTERVAL 1 DAY
             |          GROUP BY sym)) AS n_grs_groups,
             |       (SELECT CAST(sum(user_id) AS BIGINT) FROM e
             |        WHERE ts >= date_trunc('day', (SELECT min(ts) FROM e))
             |          + INTERVAL 1 DAY) AS sum_grs,
             |       (SELECT count(*) FROM (
             |          SELECT sym FROM e
             |          WHERE epoch_us(ts) >= (SELECT min(epoch_us(ts)) FROM e) + 1
             |          GROUP BY sym)) AS n_grh_groups,
             |       (SELECT count(*) FROM e
             |        WHERE epoch_us(ts) >= (SELECT min(epoch_us(ts)) FROM e) + 1)
             |         AS n_grh_rows,
             |       (SELECT CAST(sum(user_id) AS BIGINT) FROM e
             |        WHERE epoch_us(ts) >= (SELECT min(epoch_us(ts)) FROM e) + 1)
             |         AS sum_grh,
             |       (SELECT avg(user_id) FROM e
             |        WHERE ts >= date_trunc('day', (SELECT min(ts) FROM e))
             |          + INTERVAL 1 DAY) AS avg_range,
             |       (SELECT avg(user_id) FROM e
             |        WHERE epoch_us(ts) >= (SELECT min(epoch_us(ts)) FROM e) + 1)
             |         AS avg_hybrid,
             |       true AS range_avg_metadata_only,
             |       true AS avg_hybrid_boundary_scan,
             |       true AS grouped_range_sum_metadata_only,
             |       true AS grouped_hybrid_boundary_scan,
             |       true AS range_sum_metadata_only,
             |       true AS group_metadata_only,
             |       true AS df_group_metadata_only,
             |       true AS dsv2_group_metadata_only,
             |       true AS dsv2_derived_group,
             |       true AS distinct_metadata_only,
             |       true AS count_distinct_metadata_only,
             |       true AS filtered_fallback_scans,
             |       true AS restricted_metadata_only,
             |       true AS minmax_metadata_only,
             |       true AS cover_metadata_only,
             |       true AS straddle_boundary_scan,
             |       true AS grouped_range_metadata_only
             |FROM e GROUP BY sym ORDER BY sym""".stripMargin)
    ),

    QuerySpec(
      "q_lake_ndv_pushdown",
      sqlNdvPushdownFlow,
      Some("""WITH e AS (
             |  SELECT user_id,
             |         concat('t', lpad(CAST(user_id % 100 AS VARCHAR), 3, '0'))
             |           AS tag,
             |         CAST(user_id % 1000 * 0.25 AS DECIMAL(12,2)) AS amt
             |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
             |)
             |SELECT count(DISTINCT user_id) AS exact_uid,
             |       count(DISTINCT tag) AS exact_tag,
             |       count(DISTINCT amt) AS exact_amt,
             |       true AS ndv_metadata_only,
             |       true AS ndv_matches_scan,
             |       true AS grouped_ndv_metadata_only,
             |       true AS grouped_ndv_matches_scan,
             |       true AS restricted_ndv_metadata_only,
             |       true AS restricted_ndv_matches_scan,
             |       true AS undeclared_ndv_scans,
             |       true AS covering_ndv_metadata_only,
             |       true AS hybrid_ndv_boundary_scan,
             |       true AS grouped_hybrid_ndv,
             |       true AS ndv_coverage_ok,
             |       true AS ndv_error_bounded
             |FROM e""".stripMargin)
    ),

    QuerySpec(
      "q_lake_sql_double_range",
      sqlDoubleRangeFlow,
      Some("""WITH e AS (
             |  SELECT ts, value FROM events WHERE ts IS NOT NULL
             |), m AS (
             |  SELECT min(value) AS mn, max(value) AS mx FROM e
             |)
             |SELECT (SELECT count(*) FROM e) AS n_rows,
             |       (SELECT mn FROM m) AS min_value,
             |       (SELECT mx FROM m) AS max_value,
             |       (SELECT count(*) FROM e, m
             |        WHERE value >= mn + (mx - mn) * 0.3
             |          AND value < mn + (mx - mn) * 0.45) AS n_band,
             |       true AS minmax_metadata_only,
             |       true AS band_pruned_files""".stripMargin)
    ),

    QuerySpec(
      "q_lake_sql_cross_skip",
      sqlCrossSkipFlow,
      Some("""WITH e AS (
             |  SELECT ts, user_id, value FROM events
             |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
             |), tk AS (
             |  SELECT DISTINCT ts FROM e WHERE second(ts) = 7 ORDER BY ts LIMIT 5
             |), uk AS (
             |  SELECT DISTINCT user_id FROM e WHERE user_id % 4 = 2
             |  ORDER BY user_id LIMIT 5
             |)
             |SELECT count(*) AS n_rows,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       (SELECT count(*) FROM e WHERE ts IN (SELECT ts FROM tk))
             |         AS ts_n_rows,
             |       (SELECT count(*) FROM e
             |        WHERE user_id IN (SELECT user_id FROM uk)) AS uid_n_rows,
             |       true AS intersected_below_key_dim,
             |       true AS intersected_below_secondary_dim
             |FROM e
             |WHERE ts IN (SELECT ts FROM tk)
             |  AND user_id IN (SELECT user_id FROM uk)""".stripMargin)
    ),

    QuerySpec(
      "q_lake_sql_secondary_skip",
      sqlSecondarySkipFlow,
      Some("""WITH k AS (
             |  SELECT DISTINCT user_id FROM events
             |  WHERE user_id IS NOT NULL AND user_id % 8 = 3
             |  ORDER BY user_id LIMIT 5
             |)
             |SELECT count(*) AS n_rows,
             |       min(user_id) AS min_uid,
             |       max(user_id) AS max_uid,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       true AS bounds_cannot_prune,
             |       true AS bloom_pruned_files
             |FROM events
             |WHERE ts IS NOT NULL AND user_id IN (SELECT user_id FROM k)""".stripMargin)
    ),

    QuerySpec(
      "q_lake_sql_point_skip",
      sqlPointSkipFlow,
      Some("""WITH k AS (
             |  SELECT DISTINCT ts FROM events
             |  WHERE ts IS NOT NULL AND second(ts) = 7
             |  ORDER BY ts LIMIT 5
             |)
             |SELECT count(*) AS n_rows,
             |       min(epoch_us(ts)) AS min_ts_us,
             |       max(epoch_us(ts)) AS max_ts_us,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       true AS bounds_cannot_prune,
             |       true AS bloom_pruned_files,
             |       count(*) AS or_n_rows,
             |       true AS or_bloom_pruned_files
             |FROM events WHERE ts IN (SELECT ts FROM k)""".stripMargin)
    ),

    QuerySpec(
      "q_lake_key_bloom",
      keyBloomFlow,
      Some("""WITH b AS (
             |  SELECT ts + INTERVAL 36500 DAYS AS ts, value
             |  FROM events WHERE ts IS NOT NULL AND second(ts) >= 45
             |)
             |SELECT count(*) AS n_survivors,
             |       min(epoch_us(ts)) AS min_ts_us,
             |       max(epoch_us(ts)) AS max_ts_us,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       true AS bounds_cannot_prune,
             |       true AS bloom_skipped_files
             |FROM b""".stripMargin)
    ),
    QuerySpec(
      "q_lake_composite_partition",
      compositePartitionFlow,
      Some("""SELECT CAST((year(ts)*100 + month(ts))*100 + day(ts) AS BIGINT) AS ts_day,
             |       count(*) AS n_rows,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       true AS pruned_both
             |FROM events
             |WHERE event_type = 'purchase'
             |  AND ts >= TIMESTAMP '2024-01-08 00:00:00'
             |  AND ts <= TIMESTAMP '2024-01-14 23:59:59.999999'
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    QuerySpec(
      "q_lake_spec_evolution",
      specEvolutionFlow,
      Some("""SELECT CAST((year(ts)*100 + month(ts))*100 + day(ts) AS BIGINT) AS ts_day,
             |       count(*) AS n_rows,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       CAST(2 AS BIGINT) AS n_specs,
             |       true AS epochs_intact
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    QuerySpec(
      "q_lake_point_delete",
      pointDeleteFlow,
      Some("""WITH k AS (
             |  SELECT DISTINCT ts FROM events
             |  WHERE ts IS NOT NULL AND second(ts) = 7
             |  ORDER BY ts LIMIT 5
             |)
             |SELECT count(*) AS n_rows,
             |       min(epoch_us(ts)) AS min_ts_us,
             |       max(epoch_us(ts)) AS max_ts_us,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       true AS file_surgical
             |FROM events
             |WHERE ts IS NOT NULL AND ts NOT IN (SELECT ts FROM k)""".stripMargin)
    ),

    QuerySpec(
      "q_lake_user_delete",
      userDeleteFlow,
      Some("""WITH e AS (
             |  SELECT user_id, value FROM events
             |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
             |), k AS (
             |  SELECT DISTINCT user_id FROM e WHERE user_id % 8 = 3
             |  ORDER BY user_id LIMIT 5
             |)
             |SELECT count(*) AS n_rows,
             |       min(user_id) AS min_uid,
             |       max(user_id) AS max_uid,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       true AS file_surgical
             |FROM e WHERE user_id NOT IN (SELECT user_id FROM k)""".stripMargin)
    ),

    QuerySpec(
      "q_lake_delete",
      deleteFlow,
      Some("""SELECT count(*) AS n_rows,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
             |FROM events WHERE event_id % 7 <> 0""".stripMargin)
    ),

    QuerySpec(
      "q_lake_mirror",
      mirrorFlow,
      Some("""SELECT count(*) AS n_rows,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       true AS stepped_clean
             |FROM events""".stripMargin)
    ),

    QuerySpec(
      "q_lake_zorder",
      zorderFlow,
      Some("""SELECT count(*) AS n_rows,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       true AS pruned
             |FROM events
             |WHERE event_id >= 0
             |  AND event_id <= (SELECT max(event_id) FROM events) // 16""".stripMargin)
    ),

    QuerySpec(
      "q_lake_stream_sink",
      streamSinkFlow,
      Some("""SELECT count(*) AS n_rows,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       true AS replay_skipped
             |FROM events""".stripMargin)
    ),

    QuerySpec(
      "q_lake_sql_catalog",
      sqlCatalogFlow,
      Some("""SELECT count(*) AS n_rows,
             |       CAST(sum(CAST(CASE WHEN event_id % 10 = 0 THEN value + 1000.0
             |                          ELSE value END AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       (SELECT count(*) FROM events WHERE event_id % 2 = 0) AS v1_rows
             |FROM events""".stripMargin)
    ),

    QuerySpec(
      "q_lake_sql_dml",
      sqlDmlFlow,
      Some("""WITH survivors AS (
             |  SELECT event_id,
             |         CASE WHEN event_id % 10 = 0 THEN value + 1000.0 ELSE value END AS value
             |  FROM events WHERE event_id % 7 <> 0),
             |merged AS (
             |  SELECT event_id,
             |         CASE WHEN event_id % 13 = 0 THEN -1.5 ELSE value END AS value
             |  FROM survivors
             |  UNION ALL
             |  SELECT event_id + 10000000, 42.0 FROM events WHERE event_id % 11 = 0)
             |SELECT count(*) AS n_rows,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       CAST(count(CASE WHEN value >= 1000.0 THEN 1 END) AS BIGINT) AS n_updated,
             |       CAST(count(CASE WHEN value = -1.5 THEN 1 END) AS BIGINT) AS n_merged
             |FROM merged""".stripMargin)
    ),

    QuerySpec(
      "q_lake_incremental_rollup",
      incrementalRollupFlow,
      Some("""SELECT event_type, count(*) AS n_rows,
             |       min("value") AS min_value, max("value") AS max_value,
             |       CAST(sum(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       true AS refreshed_clean
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),

    QuerySpec(
      "q_lake_rollup_quantile",
      rollupQuantileFlow,
      // full value-level replay of the HDR sketch algebra: 1e-4-scaled
      // longs → signed bucket ids (bin() length + integer shift), per
      // (event_type, id) counts, rank = max(ceil(q·total), 1) over the
      // id-ascending cumulative sum, midpoint estimate in exact integer
      // arithmetic, /10000.0 descale
      Some("""WITH sv AS (
             |  SELECT event_type, CAST(round(value * 10000) AS BIGINT) AS v
             |  FROM events WHERE value IS NOT NULL),
             |ids AS (
             |  SELECT event_type,
             |         CASE WHEN abs(v) < 128 THEN CASE WHEN v < 0 THEN -abs(v) ELSE abs(v) END
             |              ELSE (CASE WHEN v < 0 THEN -1 ELSE 1 END) *
             |                   (((length(bin(abs(v))) - 1 - 6) * 64) + 64 +
             |                    ((abs(v) >> greatest(length(bin(abs(v))) - 1 - 6, 0)) & 63))
             |         END AS id
             |  FROM sv),
             |h AS (SELECT event_type, id, count(*) AS n FROM ids GROUP BY 1, 2),
             |tot AS (SELECT event_type, sum(n) AS total FROM h GROUP BY 1),
             |cum AS (SELECT event_type, id,
             |               sum(n) OVER (PARTITION BY event_type ORDER BY id) AS c
             |        FROM h),
             |pick AS (SELECT c.event_type, q.q, min(c.id) AS id
             |         FROM cum c JOIN tot USING (event_type)
             |         CROSS JOIN (VALUES (0.5), (0.95)) q(q)
             |         WHERE c.c >= greatest(CAST(ceil(q.q * tot.total) AS BIGINT), 1)
             |         GROUP BY 1, 2),
             |est AS (
             |  SELECT event_type, q,
             |         (CASE WHEN id < 0 THEN -1 ELSE 1 END) *
             |         CASE WHEN abs(id) < 128 THEN abs(id)
             |              ELSE (((abs(id) - 64) % 64 + 64) << ((abs(id) - 64) // 64))
             |                   + (1 << (((abs(id) - 64) // 64) - 1))
             |         END AS v
             |  FROM pick),
             |agg AS (SELECT event_type, count(*) AS n_rows,
             |               CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
             |        FROM events GROUP BY 1)
             |SELECT a.event_type, a.n_rows, a.sum_value,
             |       CAST(max(CASE WHEN e.q = 0.5 THEN e.v END) AS DOUBLE) / 10000.0 AS p50_value,
             |       CAST(max(CASE WHEN e.q = 0.95 THEN e.v END) AS DOUBLE) / 10000.0 AS p95_value,
             |       true AS refreshed_clean
             |FROM agg a JOIN est e USING (event_type)
             |GROUP BY 1, 2, 3 ORDER BY a.event_type""".stripMargin)
    ),

    QuerySpec(
      "q_lake_rollup_distinct",
      rollupDistinctFlow,
      Some("""SELECT event_type, count(*) AS n_rows,
             |       CAST(sum(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       count(DISTINCT user_id) AS nd_user_id,
             |       true AS refreshed_clean
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),

    QuerySpec(
      "q_lake_cdc_apply",
      cdcApplyFlow,
      Some("""SELECT count(*) AS n_rows,
             |       CAST(sum(CAST(CASE WHEN event_id % 7 = 0 THEN value + 2000.0
             |                          WHEN event_id % 5 = 0 THEN value + 1000.0
             |                          ELSE value END AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       true AS caught_up
             |FROM events""".stripMargin)
    ),

    QuerySpec(
      "q_lake_stream_source",
      streamSourceFlow,
      Some("""SELECT count(*) AS n_rows,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       true AS caught_up,
             |       true AS replay_noop
             |FROM events""".stripMargin)
    ),

    QuerySpec(
      "q_lake_changefeed",
      changeFeedFlow,
      Some("""WITH ended AS (
             |  SELECT event_id,
             |         CASE WHEN event_id % 10 = 0 THEN value + 1000.0 ELSE value END AS value
             |  FROM events WHERE event_id % 7 <> 0)
             |SELECT count(*) AS n_rows,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       (SELECT count(*) FROM events WHERE event_id % 3 = 2) AS n_insert,
             |       (SELECT count(*) FROM events WHERE event_id % 10 = 0) AS n_upsert,
             |       (SELECT count(*) FROM events WHERE event_id % 7 = 0) AS n_delete,
             |       true AS fold_matches
             |FROM ended""".stripMargin)
    ),

    QuerySpec(
      "q_lake_cdc_replication",
      cdcReplicationFlow,
      Some("""WITH ended AS (
             |  SELECT event_id,
             |         CASE WHEN event_id % 10 = 0 THEN value + 1000.0 ELSE value END AS value
             |  FROM events WHERE event_id % 7 <> 0
             |  UNION ALL
             |  SELECT event_id + 10000000, 42.0 AS value
             |  FROM events WHERE event_id % 11 = 0)
             |SELECT count(*) AS n_rows,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       true AS converged
             |FROM ended""".stripMargin)
    ),

    QuerySpec(
      "q_lake_readstream",
      readStreamFlow,
      Some("""SELECT count(*) AS n_rows,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       true AS restarted_clean,
             |       true AS replay_noop
             |FROM events""".stripMargin)
    ),

    QuerySpec(
      "q_lake_incremental",
      incrementalFlow,
      Some("""SELECT count(*) AS n_rows,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
             |FROM events WHERE event_id % 3 <> 0""".stripMargin)
    ),

    QuerySpec(
      "q_lake_mor",
      morFlow,
      Some("""SELECT count(*) AS n_rows,
             |       CAST(sum(CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
             |       CAST(sum(CAST(CASE WHEN event_id % 5 = 0 THEN value + 1000.0 ELSE value END
             |                     AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       true AS no_rewrite
             |FROM events WHERE event_id % 7 <> 0 OR event_id % 5 = 0""".stripMargin)
    ),

    QuerySpec(
      "q_lake_rollback",
      rollbackFlow,
      Some("""SELECT count(*) AS n_rows,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       true AS bad_kept, true AS bad_readable
             |FROM events WHERE event_id % 2 = 0""".stripMargin)
    ),

    QuerySpec(
      "q_lake_metadata",
      metadataTablesFlow,
      Some("""SELECT (SELECT count(*) FROM events) AS data_rows,
             |       (SELECT count(DISTINCT CAST(ts AS DATE)) FROM events) AS n_partitions,
             |       CAST(2 AS BIGINT) AS n_snapshots,
             |       CAST(2 AS BIGINT) AS n_refs""".stripMargin)
    ),

    QuerySpec(
      "q_lake_mor_positional",
      morPositionalFlow,
      Some("""SELECT count(*) AS n_rows,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       true AS no_rewrite, true AS folded, true AS fold_invariant
             |FROM events
             |WHERE (event_type = 'error' AND value < 100.0) IS NOT TRUE""".stripMargin)
    ),

    QuerySpec(
      "q_lake_wap",
      wapFlow,
      Some("""SELECT count(*) AS n_rows,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       true AS staged_invisible,
             |       true AS bad_blocked
             |FROM events""".stripMargin)
    ),

    QuerySpec(
      "q_lake_sql_wap",
      sqlWapFlow,
      Some("""SELECT count(*) AS n_rows,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       true AS staged_invisible,
             |       true AS branch_saw_union,
             |       true AS tag_matches
             |FROM events""".stripMargin)
    ),

    QuerySpec(
      "q_lake_add_files",
      addFilesFlow,
      Some("""SELECT count(*) AS n_rows,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       true AS imported_by_reference,
             |       (SELECT count(*) FROM events WHERE event_id % 2 = 0) AS imported_rows
             |FROM events""".stripMargin)
    ),

    QuerySpec(
      "q_lake_mor_composite",
      morCompositeFlow,
      Some("""WITH del AS (
             |  SELECT DISTINCT user_id, event_type FROM events WHERE event_id % 97 = 0
             |), upd AS (
             |  SELECT user_id, event_type, max(ts) AS ts,
             |         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) + 100000.0 AS value
             |  FROM events WHERE event_id % 101 = 1 GROUP BY 1, 2
             |), survivors AS (
             |  SELECT e.user_id, e.event_type, e.ts, e.value FROM events e
             |  WHERE NOT EXISTS (SELECT 1 FROM del d
             |                    WHERE d.user_id = e.user_id AND d.event_type = e.event_type)
             |    AND NOT EXISTS (SELECT 1 FROM upd u
             |                    WHERE u.user_id = e.user_id AND u.event_type = e.event_type)
             |), final AS (
             |  SELECT * FROM survivors UNION ALL SELECT * FROM upd
             |)
             |SELECT count(*) AS n_rows,
             |       CAST(sum(CASE WHEN value >= 100000.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_upserted,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
             |FROM final""".stripMargin)
    ),

    QuerySpec(
      "q_lake_merge",
      mergeFlow,
      Some("""SELECT count(*) AS n_rows,
             |       CAST(sum(CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
             |       CAST(sum(CAST(CASE WHEN event_id % 5 = 0 THEN value + 1000.0 ELSE value END
             |                     AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
             |FROM events""".stripMargin)
    ),

    QuerySpec(
      "q_lake_evolution",
      evolutionFlow,
      Some("""SELECT count(*) AS n_rows,
             |       CAST(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_source,
             |       CAST(3 AS BIGINT) AS n_source_values
             |FROM events""".stripMargin)
    ),

    QuerySpec(
      "q_lake_orphans",
      orphanFlow,
      Some("""SELECT CAST(2 AS BIGINT) AS n_reclaimed, count(*) AS n_rows
             |FROM events""".stripMargin)
    ),

    QuerySpec(
      "q_lake_expiry",
      expiryFlow,
      Some("""SELECT CAST(3 AS BIGINT) AS snaps_before,
             |       CAST(2 AS BIGINT) AS snaps_after,
             |       CAST(1 AS BIGINT) AS n_expired,
             |       count(*) AS n_rows
             |FROM events""".stripMargin)
    ),
    QuerySpec(
      "q_lake_roundtrip",
      roundtrip,
      Some("""SELECT CAST(year(ts) AS BIGINT) AS ts_year, count(*) AS n_rows,
             |       min(epoch_us(ts)) AS min_ts_us, max(epoch_us(ts)) AS max_ts_us
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = true
    ),
    QuerySpec(
      "q_lake_day_partition",
      dayPartitionFlow,
      Some("""SELECT CAST((year(ts)*100 + month(ts))*100 + day(ts) AS BIGINT) AS ts_day,
             |       count(*) AS n_rows,
             |       min(epoch_us(ts)) AS min_ts_us, max(epoch_us(ts)) AS max_ts_us,
             |       (SELECT count(DISTINCT CAST(ts AS DATE)) FROM events) AS n_partitions
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    QuerySpec(
      "q_lake_maintain",
      maintainFlow,
      Some("""SELECT count(*) AS n_rows,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       true AS compacted, true AS expired_any, true AS reaped_stranded,
             |       true AS sidecars_live, true AS sidecar_orphans_reaped
             |FROM events""".stripMargin)
    ),
    QuerySpec(
      "q_lake_rename",
      renameFlow,
      Some("""SELECT CAST(1 AS BIGINT) AS stage, count(*) AS n_rows,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_amount
             |FROM events
             |UNION ALL
             |SELECT CAST(2 AS BIGINT), count(*),
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
             |FROM events ORDER BY stage""".stripMargin)
    ),
    QuerySpec(
      "q_lake_cherrypick",
      cherrypickFlow,
      Some("""SELECT count(*) AS n_rows,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       true AS ff_refused, true AS by_reference,
             |       true AS retry_refused
             |FROM events""".stripMargin)
    ),
    QuerySpec(
      "q_lake_sql_maintain",
      sqlMaintainFlow,
      Some("""SELECT count(*) AS n_rows,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       true AS files_reduced, true AS expired_3
             |FROM events""".stripMargin)
    ),
    QuerySpec(
      "q_lake_widen",
      widenFlow,
      Some("""SELECT count(*) AS n_rows,
             |       CAST(sum(CAST(floor("value" * 100) AS INT)) AS BIGINT)
             |         AS sum_scaled,
             |       CAST(sum(CAST(CAST("value" AS REAL) AS DECIMAL(18,4)))
             |         AS DOUBLE) AS sum_f32,
             |       true AS metadata_only, true AS narrow_refused
             |FROM events""".stripMargin)
    ),
    QuerySpec(
      "q_lake_bucket_partition",
      bucketPartitionFlow,
      Some("""SELECT user_id, count(*) AS n_rows,
             |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |       true AS n_buckets_ok
             |FROM events WHERE user_id IN (1, 2, 3, 5, 8, 13)
             |GROUP BY user_id ORDER BY user_id""".stripMargin)
    ),
    QuerySpec(
      "q_lake_compact",
      compactRoundtrip,
      Some("""SELECT CAST(year(ts) AS BIGINT) AS ts_year, count(*) AS n_rows,
             |       min(epoch_us(ts)) AS min_ts_us, max(epoch_us(ts)) AS max_ts_us,
             |       CAST(1 AS BIGINT) AS n_files
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    QuerySpec(
      "q_lake_audit",
      auditSummary,
      Some("""SELECT CAST(1 AS BIGINT) AS run_seq, count(*) AS rows_appended,
             |       CAST(0 AS BIGINT) AS rows_rejected FROM events
             |UNION ALL
             |SELECT CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
             |ORDER BY run_seq""".stripMargin)
    ),
    QuerySpec(
      "q_lake_timetravel",
      timeTravel,
      Some("""SELECT CAST(1 AS BIGINT) AS snap, count(*) AS n_rows FROM events WHERE event_id % 2 = 0
             |UNION ALL
             |SELECT CAST(2 AS BIGINT) AS snap, count(*) AS n_rows FROM events
             |ORDER BY snap""".stripMargin)
    )
  )
}
