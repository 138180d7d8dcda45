package lakebench

import graft.lake.{CommitMetrics, SnapshotLog}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The paper-workload benchmark: one workload, one seed, one process.
  *
  * {{{
  * lakebench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <work dir> --out <result file> [--commit <id>] [--heap <setting>]
  * }}}
  *
  * Set-up runs `SetupReps` times on fresh state (median = `setup_s`); the
  * last one is measured untraced and its outputs are checked. `--trace 0`
  * prints the end-to-end metrics; `--trace 1` then runs a traced pass on
  * fresh state and prints the per-layer metrics instead. The last stdout line is the result object; the
  * `--out` file holds it with the environment stamp, history-depth
  * breakdowns, checks and (traced) the spans.
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = Workload(need("workload"), need("seconds").toInt)
    val seed = need("seed").toLong
    val trace = need("trace") == "1"
    val work = new Path(Paths.get(need("work")).toAbsolutePath.toString)
    // one task thread: at these data sizes more threads only add shuffle
    // and scheduling work, and each is another core the host can take
    // away while a stage barrier waits for it. In an A/B against local[2]
    // on the same seeds, local[1] spread less between runs (README)
    val cores = 1
    val load0 = loadavg()
    val cpu0 = cpuTicks()

    val started = System.nanoTime()
    def log(msg: String): Unit =
      System.err.println(f"[lakebench] ${(System.nanoTime() - started) / 1e9}%7.1f s  $msg")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"lakebench-${workload.name}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", new Path(work, "spark-local").toUri.getPath)
      .config("spark.sql.warehouse.dir", new Path(work, "spark-warehouse").toUri.getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fs = work.getFileSystem(spark.sessionState.newHadoopConf())
    try {
      fs.delete(new Path(work, "pool"), true)
      val plan = new Plan(spark, workload, seed, new Path(work, "pool"))
      log("session up")
      plan.materialize()
      log(s"generated ${plan.files.size} input files")
      def pass(tag: String, tracer: Tracer) =
        new Pass(spark, plan, new Path(work, tag), s"lb_$tag", tracer)
      val off = new Tracer(spark, enabled = false)

      val setups = (1 to SetupReps).map { r =>
        val p = pass(s"u$r", off)
        val s = p.setup()
        if (r == 1) p.warmUp()
        if (r < SetupReps) p.cleanup()
        log(f"set-up $r: $s%.2f s")
        (p, s)
      }
      val untraced = setups.last._1
      untraced.measure()
      log(f"measured pass: ${untraced.measuredNs / 1e9}%.2f s")
      val checks = untraced.check()
      log(s"checks: ${checks.count(_._2)}/${checks.size} passed")
      val e2e = endToEnd(untraced, setups.map(_._2))

      val (metrics, traceRecord) =
        if (!trace) (e2e, None)
        else {
          untraced.cleanup()
          val (layers, record) = traced(spark, pass("t", new Tracer(spark, enabled = true)), untraced, cores)
          log("traced pass done")
          // from the untraced pass: history depth, and the tails and the
          // per-call maintain median, which a run has too few samples to
          // bound (see README)
          val history = Seq(
            ("history.delivery_first_q_s", quarter(untraced.deliverySec.toSeq, first = true), "s"),
            ("history.delivery_last_q_s", quarter(untraced.deliverySec.toSeq, first = false), "s"),
            ("tail.delivery_p90_s", pct(untraced.deliverySec.toSeq, 0.9), "s"),
            ("tail.point_p95_ms", pct(untraced.querySec("point").toSeq, 0.95) * 1000, "ms"),
            ("lake.maintain_p50_s", pct(untraced.maintainSec.toSeq, 0.5), "s"))
          (history ++ layers, Some(record))
        }

      val checkFailures = checks.count(!_._2)
      val failed = untraced.failed + checkFailures
      val correct = failed == 0
      val line = Json.write(mutable.LinkedHashMap(
        "correct" -> correct, "attempted" -> untraced.attempted, "failed" -> failed,
        "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, v, u) =>
          n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*)))

      val detail = mutable.LinkedHashMap[String, Any](
        "workload" -> workload.name,
        "environment" -> mutable.LinkedHashMap(
          "nproc" -> Runtime.getRuntime.availableProcessors(), "master" -> s"local[$cores]",
          "seed" -> seed, "seconds" -> need("seconds").toInt, "trace" -> trace,
          "commit" -> opts.getOrElse("commit", "unknown"), "heap" -> opts.getOrElse("heap", "default"),
          "loadavg_start" -> load0, "loadavg_end" -> loadavg(),
          "steal_share" -> stealShare(cpu0, cpuTicks()), "cpu_probe_ms" -> cpuProbeMs()),
        "shape" -> workload.toString,
        "failed_ratio" -> failed.toDouble / math.max(1, untraced.attempted),
        "errors" -> untraced.errors.toSeq,
        "checks" -> checks.map { case (n, ok, d) => mutable.LinkedHashMap("check" -> n, "ok" -> ok, "detail" -> d) },
        "end_to_end" -> e2e.map { case (n, v, u) => mutable.LinkedHashMap("name" -> n, "value" -> v, "unit" -> u) },
        "history" -> mutable.LinkedHashMap(
          "delivery_s" -> untraced.deliverySec.toSeq, "maintain_s" -> untraced.maintainSec.toSeq,
          "read_round_s" -> untraced.roundSec.toSeq,
          "query_s" -> untraced.querySec.map { case (c, xs) => c -> xs.toSeq }),
        "result" -> line)
      traceRecord.foreach(detail("trace") = _)
      val outPath = Paths.get(need("out"))
      Files.createDirectories(outPath.toAbsolutePath.getParent)
      Files.write(outPath, Json.write(detail).getBytes(StandardCharsets.UTF_8))
      checks.filterNot(_._2).foreach { case (n, _, d) => System.err.println(s"[lakebench] CHECK FAILED: $n: $d") }
      untraced.errors.foreach(e => System.err.println(s"[lakebench] ERROR: $e"))
      println(line)
    } finally {
      spark.stop()
    }
  }

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8).trim
    catch { case _: java.io.IOException => "unavailable" }

  /** The machine's cumulative CPU ticks (user, nice, system, idle,
    * iowait, irq, softirq, steal), or empty where /proc/stat is missing.
    */
  private def cpuTicks(): Seq[Long] =
    try new String(Files.readAllBytes(Paths.get("/proc/stat")), StandardCharsets.UTF_8)
      .linesIterator.next().split("\\s+").slice(1, 9).map(_.toLong).toSeq
    catch { case _: java.io.IOException | _: NumberFormatException => Nil }

  /** Share of the busy CPU time that the hypervisor gave to other guests
    * between two [[cpuTicks]] readings: how much a shared host slowed
    * this run.
    */
  private def stealShare(a: Seq[Long], b: Seq[Long]): Any =
    if (a.size < 8 || b.size < 8) "unavailable"
    else {
      val d = b.zip(a).map { case (x, y) => x - y }
      d(7).toDouble / math.max(1L, d(0) + d(1) + d(2) + d(7))
    }

  /** Best of three timings of a fixed single-threaded loop (SHA-256
    * chained 500,000 times), in ms: the host's speed at the end of the
    * run, to compare runs made at different times.
    */
  private def cpuProbeMs(): Double = (1 to 3).map { _ =>
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var h = new Array[Byte](32)
    val t0 = System.nanoTime()
    var i = 0
    while (i < 500000) { h = md.digest(h); i += 1 }
    (System.nanoTime() - t0) / 1e6
  }.min

  /** Linear-interpolated percentile, `p` in [0, 1]. */
  private def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  private def quarter(xs: Seq[Double], first: Boolean): Double = {
    val n = math.max(1, xs.size / 4)
    pct(if (first) xs.take(n) else xs.takeRight(n), 0.5)
  }

  private def endToEnd(p: Pass, setups: Seq[Double]): Seq[(String, Double, String)] = {
    val fs = p.wh.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val bytes = fs.getContentSummary(p.wh).getLength.toDouble
    val rows = (0 until p.w.symbols).map(s => p.table(s).currentDataFiles.map(_.rows).sum).sum
    def ms(cls: String, q: Double) = pct(p.querySec(cls).toSeq, q) * 1000
    Seq(
      ("setup_s", pct(setups, 0.5), "s"),
      ("delivery_p50_s", pct(p.deliverySec.toSeq, 0.5), "s"),
      // per simulated day: a day's calls (one per table) sum its
      // expiry and, when due, its compaction
      ("maintain_s_per_day", p.maintainSec.sum / p.w.cycles, "s"),
      // every delivery and every read round has the same shape, so the
      // median over them is a steady measure of the run's rate
      ("ingest_rows_per_s", pct(p.deliveryRows.zip(p.deliverySec).map { case (r, s) => r / s }.toSeq, 0.5), "rows/s"),
      ("stored_bytes_per_row", bytes / rows, "bytes/row"),
      ("point_p50_ms", ms("point", 0.5), "ms"),
      ("range_p50_ms", ms("range", 0.5), "ms"),
      ("meta_agg_p50_ms", ms("meta_agg", 0.5), "ms"),
      ("time_travel_p50_ms", ms("time_travel", 0.5), "ms"),
      ("bars_p50_ms", ms("bars", 0.5), "ms"),
      ("read_qps", p.queriesPerRound / pct(p.roundSec.toSeq, 0.5), "1/s"))
  }

  private object AqePlans extends AdaptiveSparkPlanHelper

  /** Run the traced pass; returns the per-layer metrics and the trace
    * record (spans and history-depth series) for the result file.
    */
  private def traced(spark: SparkSession, p: Pass, untraced: Pass, cores: Int)
      : (Seq[(String, Double, String)], mutable.LinkedHashMap[String, Any]) = {
    p.setup()
    val exec = new ExecListener
    val qel = new QeListener
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(qel)
    CommitMetrics.reset()
    val parsed0 = SnapshotLog.manifestParseCount.get()
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())

    p.measure()
    exec.drain()
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(qel)
    val gcMs = (gcBeans.map(_.getCollectionTime).sum - gc0).toDouble
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val parsed = SnapshotLog.manifestParseCount.get() - parsed0
    val t = p.t
    val wallNs = p.measuredNs.toDouble

    // ---- self time per layer: span minus children. Synthetic children:
    // Spark jobs (by span tag); inside a query, graft's relation-expansion
    // rule time (manifest and file planning, layer lake.plan); inside
    // other spans, the Catalyst time of the queries the engine ran there
    // (from the QueryExecutionListener, placed in the innermost span open
    // when the query's planning ended; layer sql)
    val jobsBySpan = exec.jobs.values.asScala.toSeq.groupBy(_.span)
    val explicit = t.queries.values.toSet
    val catalystNs = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    qel.executions.asScala.filterNot(explicit.contains).foreach { qe =>
      val phases = qe.tracker.phases
      phases.get("planning").foreach { ph =>
        val endNs = ph.endTimeMs * 1e6 - t.epochNsOffset
        t.spans.filter(s => s.startNs <= endNs && endNs <= s.endNs).maxByOption(_.startNs)
          .foreach(s => catalystNs(s.id) += phases.values.map(_.durationMs).sum * 1e6)
      }
    }
    def jobNs(s: Span): Double = {
      val spanMs0 = (s.startNs + t.epochNsOffset) / 1e6
      val spanMs1 = (s.endNs + t.epochNsOffset) / 1e6
      val iv = jobsBySpan.getOrElse(s.id, Nil).map(j => (math.max(j.startMs.toDouble, spanMs0),
        math.min(math.max(j.endMs, j.startMs).toDouble, spanMs1))).filter(x => x._2 > x._1).sortBy(_._1)
      var total = 0.0
      var cur: Option[(Double, Double)] = None
      iv.foreach { case (a, b) =>
        cur match {
          case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
          case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
          case None => cur = Some((a, b))
        }
      }
      cur.foreach { case (a, b) => total += b - a }
      total * 1e6
    }
    def planNs(s: Span): Double = t.queries.get(s.id).map(qe =>
      qe.tracker.rules.filter(_._1.startsWith("graft.")).values.map(_.totalTimeNs).sum.toDouble).getOrElse(0.0)
    val children = t.spans.groupBy(_.parent)
    val self = mutable.LinkedHashMap(Tracer.Layers.map(_ -> 0.0) :+ ("other" -> 0.0): _*)
    t.spans.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(_.durNs.toDouble).sum
      val jn = jobNs(s)
      val pn = math.min(planNs(s), math.max(0.0, s.durNs - kids - jn))
      val cn = math.min(catalystNs(s.id), math.max(0.0, s.durNs - kids - jn - pn))
      self(Tracer.layer(s.name)) += math.max(0.0, s.durNs - kids - jn - pn - cn)
      self("exec") += jn
      self("lake.plan") += pn
      self("sql") += cn
    }
    val covered = Tracer.Layers.map(self).sum

    // ---- sql, per query class
    val querySpans = t.spans.filter(_.name == "sql.query")
    def mean(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val sqlMetrics = Query.Classes.flatMap { cls =>
      val qs = querySpans.filter(_.attrs.get("class").contains(cls)).flatMap(s => t.queries.get(s.id).map(s -> _))
      def phase(name: String) = mean(qs.map(_._2.tracker.phases.get(name).map(_.durationMs.toDouble).getOrElse(0.0)))
      Seq((s"sql.analysis_ms.$cls", phase("analysis"), "ms"),
        (s"sql.optimization_ms.$cls", phase("optimization"), "ms"),
        (s"sql.planning_ms.$cls", phase("planning"), "ms"),
        (s"sql.jobs_per_query.$cls", mean(qs.map(q => jobsBySpan.getOrElse(q._1.id, Nil).size.toDouble)), "count"))
    }
    val scanned = querySpans.flatMap(s => t.queries.get(s.id)).map { qe =>
      AqePlans.collect(qe.executedPlan) { case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L) }.sum.toDouble
    }
    val planCalls = querySpans.size + t.spans.count(_.name == "lake.plan")
    val planMs = (t.spans.filter(_.name == "lake.plan").map(_.durNs.toDouble).sum +
      querySpans.map(planNs).sum) / 1e6

    // ---- commit tail (CommitMetrics is keyed by table dir)
    val tableDirs = (0 until p.w.symbols).map(s => p.table(s).tableDir.toString)
    val commits = tableDirs.map(CommitMetrics.commits).sum
    val commitSec = tableDirs.map(CommitMetrics.totalSec).sum
    val ing = p.tracedIngest
    val deliveries = p.deliverySec.size.toDouble
    def spanMs(name: String) = t.spans.filter(_.name == name).map(_.durNs.toDouble).sum / 1e6
    val taskMs = exec.taskMs.get.toDouble
    val liveFiles = (0 until p.w.symbols).map(s => p.table(s).currentDataFiles.size).sum
    val liveManifests = (0 until p.w.symbols).map(s =>
      p.table(s).metadata.currentSnapshot.map(p.table(s).log.readManifestList(_).size).getOrElse(0)).sum
    val snapshots = (0 until p.w.symbols).map(s => p.table(s).snapshots.size).sum

    val record = mutable.LinkedHashMap[String, Any](
      "wall_s" -> wallNs / 1e9, "untraced_wall_s" -> untraced.measuredNs / 1e9,
      "self_s" -> self.map { case (k, v) => k -> v / 1e9 },
      "dedup_ms_by_history_rows" -> ing.dedupSeries.map { case (h, m) => Seq(h.toDouble, m) },
      "expire_ms_by_snapshots" -> p.expireSeries.map { case (n, m) => Seq(n, m) },
      "delivery_s" -> p.deliverySec.toSeq,
      "spans" -> t.spans.map(s => mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> Tracer.layer(s.name),
        "start_ms" -> (s.startNs + t.epochNsOffset) / 1e6, "dur_ms" -> s.durNs / 1e6,
        "jobs" -> jobsBySpan.getOrElse(s.id, Nil).size) ++ s.attrs.map { case (k, v) => k -> v.toString }))
    p.cleanup()

    val metrics = Seq(
      ("ingest.checksum_ms", spanMs("ingest.checksum") / deliveries, "ms"),
      ("ingest.qc_ms", spanMs("ingest.qc") / deliveries, "ms"),
      ("ingest.dedup_ms", mean(ing.dedupSeries.map(_._2)), "ms"),
      ("ingest.ledger_audit_ms", spanMs("ingest.ledger_audit") / deliveries, "ms"),
      ("ingest.useful_row_ratio", ing.rowsAppended.toDouble / math.max(1L, ing.rowsRead), "ratio"),
      ("ingest.files_rejected", ing.filesRejected.toDouble, "count")) ++
      sqlMetrics ++
      Seq(
        ("lake.plan_ms", planMs / math.max(1, planCalls), "ms"),
        ("lake.manifests_parsed", parsed.toDouble, "count"),
        ("lake.files_scanned_per_query", mean(scanned), "count"),
        ("lake.files_scanned_share", mean(scanned) / math.max(1.0, mean(p.liveFilesAtQuery.map(_.toDouble))), "ratio"),
        ("lake.commit_ms", commitSec * 1000 / math.max(1L, commits), "ms"),
        ("lake.commits", commits.toDouble, "count"),
        ("lake.metadata_bytes_per_commit", ing.metadataBytes.toDouble / math.max(1, ing.commits), "bytes"),
        ("lake.data_files_per_commit", ing.dataFiles.toDouble / math.max(1, ing.commits), "count"),
        ("lake.expire_ms", mean(p.expireSeries.map(_._2)), "ms"),
        ("lake.compact_bytes_rewritten", p.compactBytes.toDouble, "bytes"),
        ("lake.files_deleted", p.filesDeleted.toDouble, "count"),
        ("exec.task_ms", taskMs, "ms"),
        ("exec.bytes_read", exec.bytesRead.get.toDouble, "bytes"),
        ("exec.shuffle_bytes", exec.shuffleBytes.get.toDouble, "bytes"),
        ("exec.bytes_written", exec.bytesWritten.get.toDouble, "bytes"),
        ("exec.jobs", exec.jobs.size.toDouble, "count"),
        ("exec.fixed_share", 1.0 - taskMs * 1e6 / (wallNs * cores), "ratio"),
        ("lake.live_files", liveFiles.toDouble, "count"),
        ("lake.live_manifests", liveManifests.toDouble, "count"),
        ("lake.snapshots", snapshots.toDouble, "count"),
        ("jvm.gc_ms", gcMs, "ms"),
        ("jvm.heap_peak_mb", heapPeakMb, "MB")) ++
      Tracer.Layers.map(l => (s"layer.$l.self_s", self(l) / 1e9, "s")) ++
      Seq(
        ("trace.layer_share_of_wall", covered / wallNs, "ratio"),
        ("trace.overhead_share", (wallNs - untraced.measuredNs) / untraced.measuredNs, "ratio"))
    (metrics, record)
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
