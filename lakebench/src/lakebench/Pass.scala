package lakebench

import graft.ingest.{AuditLog, ChecksumLedger, IngestConfig, IngestPipeline, RunSummary}
import graft.lake.LakehouseTable
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Simulated calendar for maintenance. Every delivery day ends with a
  * `maintain` call at a simulated `nowMs` placed 7 days after the end of
  * the day 7 days earlier, so the reference retention policy (7 days,
  * keep 2) expires exactly the snapshots committed in days at least a
  * week old. The real commit times stay untouched.
  */
final class SimClock {
  private val startMs = System.currentTimeMillis()
  private val dayEnds = ArrayBuffer.empty[Long]
  def today: Int = dayEnds.size
  def endDays(n: Int): Unit = {
    val t = System.currentTimeMillis() + 1
    (0 until n).foreach(_ => dayEnds += t)
  }
  def nowMs: Long = {
    val k = today - SimClock.RetentionDays
    if (k >= 0) dayEnds(k) + SimClock.RetentionMs else startMs + SimClock.RetentionMs - 1
  }
}

object SimClock {
  val RetentionDays = 7
  val KeepLast = 2
  val RetentionMs: Long = RetentionDays * 24L * 3600 * 1000
}

/** One pass of a workload over fresh warehouse state under `dir`: set-up,
  * the measured phase, and the output checks. The untraced pass drives
  * `IngestPipeline.run`; a traced pass (`t.enabled`) drives
  * [[TracedIngest]] and splits `maintain` into its compaction and expiry
  * calls, each in its own span.
  */
final class Pass(
    spark: SparkSession, plan: Plan, dir: Path,
    catalogName: String, val t: Tracer) {
  val w: Workload = plan.w
  private val hconf = spark.sessionState.newHadoopConf()
  private val fs = dir.getFileSystem(hconf)
  val wh: Path = fs.makeQualified(new Path(dir, "warehouse"))
  private val root = fs.makeQualified(new Path(dir, "incoming"))
  private val cfg = IngestConfig(wh.toString, partitionGranularity = Workload.Granularity,
    batchedIngest = w.batched, retentionDays = SimClock.RetentionDays, keepSnapshots = SimClock.KeepLast)
  private var pipeline: IngestPipeline = _
  private var traced: TracedIngest = _
  private val clock = new SimClock

  val deliverySec: ArrayBuffer[Double] = ArrayBuffer.empty
  val maintainSec: ArrayBuffer[Double] = ArrayBuffer.empty
  /** (snapshots before the call, expireSnapshots ms), traced pass only */
  val expireSeries: ArrayBuffer[(Int, Double)] = ArrayBuffer.empty
  var compactBytes = 0L
  var filesDeleted = 0L
  val querySec: mutable.Map[String, ArrayBuffer[Double]] =
    mutable.LinkedHashMap(Query.Classes.map(_ -> ArrayBuffer.empty[Double]): _*)
  /** rows each delivery committed */
  val deliveryRows: ArrayBuffer[Long] = ArrayBuffer.empty
  /** wall time of each read round (its queries only) */
  val roundSec: ArrayBuffer[Double] = ArrayBuffer.empty
  var queriesPerRound = 0
  /** live files of the read table at each query */
  val liveFilesAtQuery: ArrayBuffer[Int] = ArrayBuffer.empty
  var attempted = 0
  var failed = 0
  val errors: ArrayBuffer[String] = ArrayBuffer.empty
  var measuredNs = 0L
  /** the traced pass's ingest, after [[measure]] */
  def tracedIngest: TracedIngest = traced

  private var pipelineRuns = 0
  private var badPresent = 0
  private var expectedRejections = 0L
  /** id of the last planned file handed to the engine */
  private var lastApplied = -1
  /** (snapshot id of the read table, `lastApplied` when it was current) */
  private val checkpoints = ArrayBuffer.empty[(Long, Int)]
  /** sampled read results to check: (query, rows, planned file id the
    * result must cover up to)
    */
  private val sampled = ArrayBuffer.empty[(Query, Seq[Row], Int)]

  private def tableId(sym: Int) = s"gold.${Ticks.Symbols(sym).toLowerCase}"
  def table(sym: Int): LakehouseTable = pipeline.catalog.loadTable(tableId(sym))

  private def op(kind: String)(body: => Unit): Unit = {
    attempted += 1
    try body
    catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$kind: $e"
    }
  }

  private def checkpoint(): Unit =
    table(0).metadata.currentSnapshotId.foreach(id => checkpoints += ((id, lastApplied)))

  private def deliver(files: Seq[TickFile], viaTracer: Boolean): RunSummary = {
    files.foreach { f =>
      FileUtil.copy(fs, plan.path(f), fs, new Path(new Path(root, Ticks.Symbols(f.sym)), f.name), false, hconf)
    }
    badPresent += files.count(_.bad)
    expectedRejections += badPresent
    pipelineRuns += 1
    val summary = if (viaTracer) traced.run(root.toString) else pipeline.run(root.toString)
    lastApplied = math.max(lastApplied, files.map(_.id).max)
    checkpoint()
    summary
  }

  /** Build the starting state; returns its wall time in seconds. */
  def setup(): Double = {
    fs.delete(dir, true)
    fs.mkdirs(root)
    val t0 = System.nanoTime()
    pipeline = new IngestPipeline(spark, cfg)
    if (w.setupAppends > 0) {
      def read(files: Seq[TickFile]) = spark.read.parquet(files.map(plan.path(_).toString): _*)
      val tbl = pipeline.catalog.createTableIfNotExists(
        tableId(0), read(plan.appends.head).schema, Some("DateTime"), Workload.Granularity)
      plan.appends.grouped(math.ceil(w.setupAppends.toDouble / w.appendDays).toInt).foreach { day =>
        day.foreach { files =>
          tbl.append(read(files))
          lastApplied = files.map(_.id).max
          checkpoint()
        }
        clock.endDays(1)
      }
    }
    deliver(plan.setupRun, viaTracer = false)
    clock.endDays(1)
    spark.conf.set(s"spark.sql.catalog.$catalogName", "graft.sql.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalogName.warehouse", wh.toString)
    (System.nanoTime() - t0) / 1e9
  }

  /** Untimed, once per JVM after the first set-up: the first measured
    * cycle and [[Pass.WarmUpRounds]] more read rounds, so the measured
    * phase does not pay the JVM's first compilation of the delivery,
    * maintain and query plan shapes (set-up's first pipeline run had no
    * history to dedup against), and the JIT has compiled the read path.
    */
  def warmUp(): Unit = {
    cycle(plan.cycles.head)
    plan.cycles.take(Pass.WarmUpRounds).foreach(c => readRound(c._2))
  }

  def measure(): Unit = {
    if (t.enabled) traced = new TracedIngest(spark, cfg, t)
    val t0 = System.nanoTime()
    plan.cycles.foreach(cycle)
    measuredNs = System.nanoTime() - t0
  }

  /** One delivery, one `maintain` per table, one read round. */
  private def cycle(c: (Seq[TickFile], Seq[Query])): Unit = {
    val (files, queries) = c
    op("delivery") {
      val s0 = System.nanoTime()
      val summary = deliver(files, t.enabled)
      deliverySec += (System.nanoTime() - s0) / 1e9
      deliveryRows += summary.totalRowsAppended
    }
    (0 until w.symbols).foreach(maintain)
    checkpoint()
    clock.endDays(Workload.DaysPerDelivery)
    readRound(queries)
  }

  private def maintain(sym: Int): Unit = op("maintain") {
    val tbl = table(sym)
    val now = clock.nowMs
    if (!t.enabled) {
      val s0 = System.nanoTime()
      tbl.maintain(nowMs = now, retentionMs = SimClock.RetentionMs, keepLast = SimClock.KeepLast)
      maintainSec += (System.nanoTime() - s0) / 1e9
    } else {
      val snapshots = tbl.snapshots.size
      val before = tbl.currentDataFiles
      val s0 = System.nanoTime()
      t.span("lake.maintain", "table" -> tableId(sym), "snapshots_before" -> snapshots) {
        // maintain() with nothing old enough to expire runs only its
        // compaction and manifest-fold steps; expiry follows on its own
        t.span("lake.maintain.compact")(tbl.maintain(nowMs = now, retentionMs = Long.MaxValue))
        val e0 = System.nanoTime()
        val (_, deleted) = t.span("lake.maintain.expire", "snapshots_before" -> snapshots)(
          tbl.expireSnapshots(now, SimClock.RetentionMs, SimClock.KeepLast))
        expireSeries += ((snapshots, (System.nanoTime() - e0) / 1e6))
        filesDeleted += deleted.size
      }
      maintainSec += (System.nanoTime() - s0) / 1e9
      val after = tbl.currentDataFiles.map(_.path).toSet
      compactBytes += before.filterNot(f => after.contains(f.path)).map(_.bytes.getOrElse(0L)).sum
    }
  }

  private def readRound(queries: Seq[Query]): Unit = {
    val ref = s"$catalogName.${tableId(0)}"
    val tbl = table(0)
    val live = tbl.snapshots.map(_.id).toSet
    val candidates = checkpoints.filter(c => live.contains(c._1)).distinctBy(_._1).toSeq
    val liveFiles = tbl.currentDataFiles.size
    queriesPerRound = queries.size
    var roundNs = 0L
    queries.foreach { q =>
      val cp = if (q.cls == "time_travel")
        Some(candidates(math.min((q.pick * candidates.size).toInt, candidates.size - 1))) else None
      val text = Query.sql(q, cp.map(c => s"$ref VERSION AS OF ${c._1}").getOrElse(ref))
      op("query") {
        val s0 = System.nanoTime()
        val rows = t.span("sql.query", "class" -> q.cls) {
          val df = spark.sql(text)
          val rows = df.collect()
          if (t.enabled) t.queries(t.currentId) = df.queryExecution
          rows
        }
        val ns = System.nanoTime() - s0
        querySec(q.cls) += ns / 1e9
        roundNs += ns
        liveFilesAtQuery += liveFiles
        if (!sampled.exists(_._1.cls == q.cls)) sampled += ((q, rows.toSeq, cp.map(_._2).getOrElse(lastApplied)))
      }
    }
    roundSec += roundNs / 1e9
  }

  /** Plain Spark over the generated parquet: the rows of `sym`'s good
    * files up to planned file `upTo`, one per key.
    */
  private val expectedCache = mutable.Map.empty[(Int, Int), DataFrame]
  private def expected(sym: Int, upTo: Int): DataFrame = expectedCache.getOrElseUpdate((sym, upTo), {
    val files = plan.files.filter(f => f.sym == sym && !f.bad && f.id <= upTo)
    spark.read.parquet(files.map(plan.path(_).toString): _*).dropDuplicates("DateTime").cache()
  })

  /** Every output check; returns (check, passed, detail). The checks are
    * independent and run on a few threads at once.
    */
  def check(): Seq[(String, Boolean, String)] = {
    val pending = ArrayBuffer.empty[(String, () => (Boolean, String))]
    def record(name: String)(body: => (Boolean, String)): Unit = pending += ((name, () => body))
    // order-independent fingerprint of a table's rows: count, distinct
    // keys, and a sum and an xor of per-row hashes
    val fingerprint = Seq("count(*)", "count(DISTINCT DateTime)",
      "sum(pmod(xxhash64(DateTime, Bid, Ask, BidVolume, AskVolume), 2147483647))",
      "bit_xor(xxhash64(DateTime, Bid, Ask, BidVolume, AskVolume))")
    (0 until w.symbols).foreach { sym =>
      record(s"table ${tableId(sym)} holds exactly the generated unique keys") {
        val act = table(sym).read().selectExpr(fingerprint: _*).head().toSeq
        val exp = expected(sym, lastApplied).selectExpr(fingerprint: _*).head().toSeq
        (act == exp && act(0) == act(1), s"(rows, keys, hash sum, hash xor) = $act, expected $exp")
      }
    }
    record("QC-rejected files are exactly the planted ones") {
      val ledger = new ChecksumLedger(new Path(wh, "ingested_files.json"), fs)
      val byName = plan.files.map(f => f.name -> f).toMap
      val it = fs.listFiles(root, true)
      var wrong = List.empty[String]
      var n = 0
      while (it.hasNext) {
        val p = it.next().getPath
        n += 1
        if (ledger.isKnown(p) == byName(p.getName).bad) wrong ::= p.getName
      }
      (wrong.isEmpty && n > 0, s"files=$n misclassified=${wrong.mkString(",")}")
    }
    record("one audit RunSummary per run, totals agree with the tables") {
      val runs = new AuditLog(new Path(wh, "audit_log.json"), fs).readAll()
      val liveRows = (0 until w.symbols).map(s => table(s).currentDataFiles.map(_.rows).sum).sum
      val appendedRows = plan.appends.flatten.filter(_.id <= lastApplied).map(_.rows).sum
      val audited = runs.map(_.totalRowsAppended).sum
      val rejections = runs.flatMap(_.tables.flatMap(_.qualityIssues)).count(_.contains("non-positive"))
      (runs.size == pipelineRuns && audited == liveRows - appendedRows && rejections == expectedRejections,
        s"runs=${runs.size}/$pipelineRuns appended=$audited/${liveRows - appendedRows} " +
          s"rejections=$rejections/$expectedRejections")
    }
    sampled.zipWithIndex.foreach { case ((q, rows, upTo), k) =>
      record(s"${q.cls} query matches plain Spark (sample $k)") {
        val view = s"lakebench_expected_$k"
        expected(0, upTo).createOrReplaceTempView(view)
        val want = spark.sql(Query.sql(q, view)).collect().toSeq
        (Pass.sameRows(rows, want), s"got=${rows.take(3).mkString(";")} want=${want.take(3).mkString(";")}")
      }
    }
    // register every expected frame first: the concurrent checks then
    // only read the cache map
    sampled.foreach { case (_, _, upTo) => expected(0, upTo) }
    (0 until w.symbols).foreach(expected(_, lastApplied))
    val out = graft.util.BoundedPar.map(pending.toSeq, 4) { case (name, body) =>
      try { val (ok, d) = body(); (name, ok, d) }
      catch { case NonFatal(e) => (name, false, e.toString) }
    }
    expectedCache.values.foreach(_.unpersist())
    expectedCache.clear()
    out
  }

  def cleanup(): Unit = fs.delete(dir, true)
}

object Pass {
  val WarmUpRounds = 2

  def sameRows(a: Seq[Row], b: Seq[Row]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.length == y.length && (0 until x.length).forall { i =>
        (x.get(i), y.get(i)) match {
          case (p: Double, q: Double) => math.abs(p - q) <= 1e-9 * math.max(1.0, math.max(math.abs(p), math.abs(q)))
          case (p, q) => p == q
        }
      }
    }
}
