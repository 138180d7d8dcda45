package graft.stream

import graft.lake.{LakehouseTable, TableMetadata}
import org.apache.spark.sql.DataFrame

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

/** TABLE-AS-STREAM-SOURCE: a managed micro-batch query that turns a
  * [[LakehouseTable]]'s snapshot history into a stream of deltas — the
  * consumption half of CDC that Iceberg's Spark streaming read
  * provides, and the piece that supersedes hand-scheduling
  * [[LakehouseMirror.step]] (VERDICT r6 #3).
  *
  * Each trigger plans the delta `(lastDelivered, to]` from added
  * manifests alone ([[LakehouseTable.readIncremental]] — O(changed
  * data), never a rescan), applies `transform`, and commits it to the
  * destination with [[LakehouseTable.appendStream]] — the OFFSET (the
  * delivered snapshot id) rides in the destination's metadata IN THE
  * SAME ATOMIC COMMIT as the data it produced. That placement is the
  * whole design: there is no Spark checkpoint directory to drift from
  * the sink state, no two-phase protocol, and a crash at ANY point
  * either committed the batch (watermark moved) or didn't (delta
  * re-derived next trigger). Restarting a query with the same
  * `consumerId` resumes exactly where the destination says it stopped.
  *
  * Rate limiting: `maxSnapshotsPerBatch` bounds each micro-batch to at
  * most that many source commits (Iceberg's max-files-per-micro-batch
  * analog) — a consumer resuming after downtime catches up in bounded
  * steps instead of one unbounded batch. The first sync (no watermark
  * yet) ships the full current snapshot image as one batch, like
  * Iceberg's initial stream position.
  *
  * Failure handling: a failing trigger (source expiry broke the
  * incremental chain, a row-removing commit in the range, transient
  * I/O) is recorded in [[TableStreamQuery.lastError]] and retried with
  * linear backoff; the query never silently skips a delta. Source
  * retention must outlast consumer lag — expiry inside the undelivered
  * range fails loudly by [[LakehouseTable.readIncremental]]'s contract.
  */
object TableStream {

  /** Start a polled micro-batch query mirroring `src` into `dst`.
    * `consumerId` must be stable across restarts and unique per
    * destination (it keys the exactly-once watermark). `transform`
    * runs per micro-batch; with `emitUpserts = true`, MoR-upsert
    * commits stream row images carrying `_commit_seq` and the
    * transform owns reconciling them to the destination schema.
    */
  def start(
      src: LakehouseTable,
      dst: LakehouseTable,
      consumerId: String,
      transform: DataFrame => DataFrame = identity,
      pollIntervalMs: Long = 200L,
      maxSnapshotsPerBatch: Int = Int.MaxValue,
      emitUpserts: Boolean = false,
      caps: Admission.Caps = Admission.Caps.Unlimited): TableStreamQuery = {
    require(consumerId.nonEmpty, "consumerId must be non-empty")
    require(pollIntervalMs > 0, "pollIntervalMs must be positive")
    require(maxSnapshotsPerBatch >= 1, "maxSnapshotsPerBatch must be >= 1")
    val q = new TableStreamQuery(
      src, dst, consumerId, (df, _) => transform(df), pollIntervalMs,
      maxSnapshotsPerBatch, emitUpserts, cdcKeys = None, caps = caps)
    q.startThread()
    q
  }

  /** [[start]] with a BATCH-AWARE transform: the function also receives
    * the micro-batch's id (the delivered source snapshot id — the same
    * value committed as the destination watermark). This is the hook a
    * stateful per-batch stage needs to coordinate its own exactly-once
    * side effects with the delivery, e.g. [[DedupStream]] committing
    * probe signatures to a [[DedupIndex]] under the identical
    * (consumerId, batchId) before the survivors land.
    */
  def startBatchAware(
      src: LakehouseTable,
      dst: LakehouseTable,
      consumerId: String,
      transform: (DataFrame, Long) => DataFrame,
      pollIntervalMs: Long = 200L,
      maxSnapshotsPerBatch: Int = Int.MaxValue,
      caps: Admission.Caps = Admission.Caps.Unlimited): TableStreamQuery = {
    require(consumerId.nonEmpty, "consumerId must be non-empty")
    require(pollIntervalMs > 0, "pollIntervalMs must be positive")
    require(maxSnapshotsPerBatch >= 1, "maxSnapshotsPerBatch must be >= 1")
    val q = new TableStreamQuery(
      src, dst, consumerId, transform, pollIntervalMs, maxSnapshotsPerBatch,
      emitUpserts = false, cdcKeys = None, caps = caps)
    q.startThread()
    q
  }

  /** CDC-APPLY mode: mirror a KEYED source (maintained by
    * [[LakehouseTable.morMerge]]-style upserts) into a destination
    * that stays keyed. Each trigger streams the range's upsert row
    * images ([[LakehouseTable.readIncremental]] with `emitUpserts`),
    * keeps the max-`_commit_seq` image per key (two upserts of one key
    * in a range resolve to the latest — the ADVICE r6 ordering put to
    * work), applies `transform`, and lands the batch as an exactly-once
    * MoR upsert ([[LakehouseTable.morMergeStream]]: files + mask +
    * offset in one commit). End-to-end: upsert the source N times,
    * the destination always converges to one row per key with the
    * newest image — never an append-log of stale versions.
    * Delete-only source commits are not expressible as images and fail
    * the trigger loudly (same contract as Iceberg's streaming read).
    */
  def startCdc(
      src: LakehouseTable,
      dst: LakehouseTable,
      consumerId: String,
      keyCols: Seq[String],
      transform: DataFrame => DataFrame = identity,
      pollIntervalMs: Long = 200L,
      maxSnapshotsPerBatch: Int = Int.MaxValue,
      caps: Admission.Caps = Admission.Caps.Unlimited): TableStreamQuery = {
    require(consumerId.nonEmpty, "consumerId must be non-empty")
    require(keyCols.nonEmpty, "CDC mode needs at least one key column")
    require(pollIntervalMs > 0, "pollIntervalMs must be positive")
    require(maxSnapshotsPerBatch >= 1, "maxSnapshotsPerBatch must be >= 1")
    val q = new TableStreamQuery(
      src, dst, consumerId, (df, _) => transform(df), pollIntervalMs,
      maxSnapshotsPerBatch, emitUpserts = true, cdcKeys = Some(keyCols),
      caps = caps)
    q.startThread()
    q
  }

  /** Main-chain snapshot ids in `(stopId, toId]`, oldest first —
    * None when `stopId` is NOT an ancestor of `toId` (rollback or
    * expiry changed the lineage under the caller's anchor).
    */
  private[stream] def chainBack(
      meta: TableMetadata, toId: Long, stopId: Long): Option[Seq[Long]] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    var at = meta.snapshotById(toId)
    while (at.exists(_.id != stopId)) {
      buf += at.get.id
      at = at.get.parentId.flatMap(meta.snapshotById)
    }
    if (at.isEmpty) None else Some(buf.reverseIterator.toSeq)
  }
}

/** Handle to a running [[TableStream]] query. */
final class TableStreamQuery private[stream] (
    src: LakehouseTable,
    dst: LakehouseTable,
    consumerId: String,
    transform: (DataFrame, Long) => DataFrame,
    pollIntervalMs: Long,
    maxSnapshotsPerBatch: Int,
    emitUpserts: Boolean,
    cdcKeys: Option[Seq[String]] = None,
    /** File/byte admission caps ([[Admission]], round 18): bound what
      * one trigger delivers, at snapshot granularity — the first sync
      * (full image) stays one batch here because the watermark lives in
      * the destination commit and has no sub-snapshot form; the
      * checkpoint-backed `graft-table` source is the surface with image
      * chunking.
      */
    caps: Admission.Caps = Admission.Caps.Unlimited) {

  @volatile private var stopped = false
  private val committed = new AtomicLong(0L)
  private val err = new AtomicReference[Option[Throwable]](None)
  private var thread: Thread = _

  /** Micro-batches committed to the destination so far (excludes
    * empty-transform watermark bumps).
    */
  def batchesCommitted: Long = committed.get()

  /** Cached pending main-ancestry ids (oldest first, all newer than
    * the delivered watermark) — without it every capped/bounded step
    * during a long catch-up re-walks the whole remaining backlog,
    * O(lag²) metadata lookups across the catch-up (the same hazard
    * [[GraftTableSource]]'s chainAfter caches against). A lineage
    * change under the cached anchor (rollback) rebuilds from the
    * watermark; a broken chain falls through to `curId` so
    * readIncremental raises its own loud incomplete-delta error.
    */
  private var pendingCache: Vector[Long] = Vector.empty

  private def boundedCappedTo(
      meta: TableMetadata, watermark: Long, curId: Long): Long = {
    if (maxSnapshotsPerBatch == Int.MaxValue && caps.unlimited) return curId
    pendingCache = pendingCache.dropWhile(_ <= watermark)
    val anchor = pendingCache.lastOption.getOrElse(watermark)
    TableStream.chainBack(meta, curId, anchor) match {
      case Some(fresh) if anchor == watermark => pendingCache = fresh.toVector
      case Some(fresh) => pendingCache = pendingCache ++ fresh
      case None => // rollback under the anchor: rebuild from the watermark
        pendingCache = TableStream.chainBack(meta, curId, watermark)
          .getOrElse(return curId).toVector
    }
    val snapCapped =
      if (maxSnapshotsPerBatch == Int.MaxValue) pendingCache
      else pendingCache.take(maxSnapshotsPerBatch)
    val admitted =
      if (caps.unlimited) snapCapped
      else snapCapped.take(Admission.admitSnapshots[Long](snapCapped, caps,
        id => src.addedSize(
          meta.snapshotById(id).getOrElse(throw new IllegalStateException(
            s"pending snapshot $id vanished from the log mid-plan")),
          needBytes = caps.maxBytes.isDefined)))
    admitted.lastOption.getOrElse(curId)
  }

  /** The most recent trigger failure, cleared by the next success. */
  def lastError: Option[Throwable] = err.get()

  def isActive: Boolean = thread != null && thread.isAlive

  /** One trigger: deliver at most `maxSnapshotsPerBatch` source
    * commits. Returns true when the watermark moved (data or
    * metadata-only). Public for deterministic driving in tests.
    */
  def step(): Boolean = {
    val meta = src.metadata
    val curId = meta.currentSnapshotId.getOrElse(return false) // empty source
    val last = dst.metadata.streamWatermarks.get(consumerId)
    if (last.exists(_ >= curId)) return false // caught up
    val toId = last match {
      case Some(l) => boundedCappedTo(meta, l, curId)
      case None => curId // first sync: one full image
    }
    val delta = last match {
      case Some(l) => src.readIncremental(l, toId, emitUpserts)
      case None => src.timeTravel(toId)
    }
    val snap = cdcKeys match {
      case Some(keys) =>
        // keep the newest image per key: within one range, later
        // upserts of a key supersede earlier ones (_commit_seq orders
        // them); the first sync is a plain keyed snapshot image
        val reduced =
          if (!delta.columns.contains("_commit_seq")) delta
          else {
            import org.apache.spark.sql.expressions.Window
            import org.apache.spark.sql.functions.{col, desc, row_number}
            val w = Window.partitionBy(keys.map(col): _*).orderBy(desc("_commit_seq"))
            delta.withColumn("__graft_rn", row_number().over(w))
              .filter(col("__graft_rn") === 1)
              .drop("__graft_rn", "_commit_seq")
          }
        dst.morMergeStream(consumerId, toId, transform(reduced, toId), keys)
      case None => dst.appendStream(consumerId, toId, transform(delta, toId))
    }
    if (snap.isDefined) committed.incrementAndGet()
    // a delta that transforms to empty still advances the offset, or
    // every later trigger would re-plan the same growing range
    else dst.advanceStreamWatermark(consumerId, toId)
    true
  }

  private[stream] def startThread(): Unit = {
    thread = new Thread(() => runLoop(), s"graft-table-stream-$consumerId")
    thread.setDaemon(true)
    thread.start()
  }

  private def runLoop(): Unit = {
    var failures = 0
    while (!stopped) {
      val progressed =
        try {
          val p = step()
          err.set(None); failures = 0
          p
        } catch {
          case _: InterruptedException => return
          case scala.util.control.NonFatal(e) =>
            err.set(Some(e))
            failures += 1
            false
        }
      if (!progressed && !stopped) {
        try Thread.sleep(pollIntervalMs * math.min(1 + failures, 10))
        catch { case _: InterruptedException => return }
      }
    }
  }

  /** Block until the destination's watermark reaches the source's
    * CURRENT snapshot (everything available now is delivered) or the
    * timeout passes; true on caught-up. The source may keep moving —
    * this is Spark's processAllAvailable shape, not quiescence.
    */
  def awaitCaughtUp(timeoutMs: Long = 30000L): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline) {
      val curId = src.metadata.currentSnapshotId
      val wm = dst.metadata.streamWatermarks.get(consumerId)
      if (curId.forall(id => wm.exists(_ >= id))) return true
      Thread.sleep(25L)
    }
    false
  }

  /** Stop the query (the in-flight trigger completes its commit or
    * fails — never half-delivers) and join the thread.
    */
  def stop(): Unit = {
    stopped = true
    if (thread != null) {
      thread.interrupt()
      thread.join(10000L)
    }
  }
}
