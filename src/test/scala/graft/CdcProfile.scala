package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Throwaway profiling main (test classpath only — `sbt
  * "Test/runMain graft.CdcProfile"`): replays the bench's CDC
  * replication fixture at SPARK_GRAFT_SF_DIR and prints every Spark job
  * of the delta phase (description, duration) so the per-trigger exec
  * tail (VERDICT r10 #4) is attributable to specific jobs instead of
  * guessed at.
  */
object CdcProfile {
  final case class Job(id: Int, desc: String, startMs: Long, var durMs: Long = -1L)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Tables.cpus(32)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.hadoop.fs.Path
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    @volatile var recording = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = if (recording) {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        jobs.put(js.jobId, Job(js.jobId, desc, js.time))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val j = jobs.get(je.jobId)
        if (j != null) j.durMs = je.time - j.startMs
      }
    })

    // per-ACTION driver-side phase breakdown: QueryExecutionListener
    // fires once per action with the total duration; the tracker
    // splits analysis/optimization/planning
    final case class Act(name: String, totalMs: Double, phases: String)
    val acts = new java.util.concurrent.ConcurrentLinkedQueue[Act]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        if (recording) {
          val ph = qe.tracker.phases.map { case (k, v) =>
            s"$k=${v.endTimeMs - v.startTimeMs}"
          }.mkString(",")
          acts.add(Act(funcName, durationNs / 1e6, ph))
        }
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    })

    val ev = graft.Tables.t(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("value"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-cdc-prof")
    val src = graft.lake.LakehouseTable.createIfNotExists(
      spark, new Path(tmp.toString, "bronze"), ev.schema, Some("ts"))
    val dst = graft.lake.LakehouseTable.createIfNotExists(
      spark, new Path(tmp.toString, "gold"), ev.schema, Some("ts"))
    if (sys.env.get("CDC_PROF_HASH").exists(_.toBoolean)) {
      src.setProperty("write.distribution-mode", "hash")
      dst.setProperty("write.distribution-mode", "hash")
    }
    src.append(ev)
    val q = spark.readStream.format("graft-table")
      .option("path", src.tableDir.toString)
      .option("changeFeed", "true")
      .option("maxSnapshotsPerTrigger", "1")
      .load()
      .writeStream.format("graft-table")
      .option("path", dst.tableDir.toString)
      .option("queryId", "prof-mirror")
      .option("cdcApply", "true").option("keys", "event_id")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.ProcessingTime(5L))
      .start()
    try {
      q.processAllAvailable() // image replicated, not recorded
      val imageBatch = q.lastProgress.batchId
      // pre-produce the source deltas OUTSIDE the recording window so
      // only the stream's own jobs are attributed
      recording = false
      val t0 = System.nanoTime()
      (0 until 3).foreach { i =>
        src.append(ev.filter(col("event_id") % 97 === i)
          .select((col("event_id") + lit((i + 1) * 10000000L)).as("event_id"),
            col("ts"), col("value")))
        src.morMerge(ev.filter(col("event_id") % 89 === i)
          .withColumn("value", col("value") + lit(1.0)), "event_id")
        src.morDeleteKeys(ev.filter(col("event_id") % 83 === i)
          .select("event_id"), "event_id")
      }
      val produceSec = (System.nanoTime() - t0) / 1e9
      recording = true
      val t1 = System.nanoTime()
      q.processAllAvailable() // 9 pending commits -> 9 micro-batches
      val wall = (System.nanoTime() - t1) / 1e9
      recording = false
      val prog = q.recentProgress.filter(p => p.batchId > imageBatch && p.numInputRows > 0)
      def dur(key: String): Double = prog.flatMap(p =>
        Option(p.durationMs.get(key)).map(_.doubleValue / 1e3)).sum
      println(f"=== produce=$produceSec%.2fs deltaWall=$wall%.2fs triggers=${prog.length} " +
        f"triggerExec=${dur("triggerExecution")}%.2fs latestOffset=${dur("latestOffset")}%.2fs " +
        f"getBatch=${dur("getBatch")}%.2fs queryPlanning=${dur("queryPlanning")}%.2fs " +
        f"addBatch=${dur("addBatch")}%.2fs walCommit=${dur("walCommit")}%.2fs " +
        f"commitOffsets=${dur("commitOffsets")}%.2fs")
      import scala.jdk.CollectionConverters._
      val all = jobs.values().asScala.toSeq.sortBy(_.startMs)
      println(f"=== ${all.size} jobs, total job time ${all.map(_.durMs).sum / 1e3}%.2fs")
      val perBatch = all.groupBy(j =>
        "batch = (\\d+)".r.findFirstMatchIn(j.desc).map(_.group(1)).getOrElse("?"))
      perBatch.toSeq.sortBy(_._1)
        .foreach { case (b, js) =>
          println(f"  batch $b: ${js.size} jobs ${js.map(_.durMs).sum} ms  " +
            js.sortBy(_.startMs).map(_.durMs).mkString("[", ",", "]"))
        }
      println("=== per-trigger progress:")
      prog.foreach { p =>
        val d = p.durationMs
        println(s"  batch ${p.batchId}: rows=${p.numInputRows} " +
          s"addBatch=${d.get("addBatch")} getBatch=${d.get("getBatch")} " +
          s"latestOffset=${d.get("latestOffset")} walCommit=${d.get("walCommit")} " +
          s"total=${d.get("triggerExecution")}")
      }
      println("=== actions (driver planning + exec per action):")
      acts.asScala.toSeq.foreach(a =>
        println(f"  ${a.totalMs}%8.1f ms  ${a.name}  [${a.phases}]"))
      println("=== dst table shape:")
      val meta = dst.metadata
      println(s"  data files: ${dst.currentDataFiles.size}")
      meta.snapshots.foreach { s =>
        val added = s.addedManifest.map(m =>
          dst.log.readManifest(m).size).getOrElse(0)
        println(s"  snap ${s.id} op=${s.operation} addedFiles=$added addedRows=${s.addedRows}")
      }
    } finally q.stop()
    spark.stop()
  }
}
