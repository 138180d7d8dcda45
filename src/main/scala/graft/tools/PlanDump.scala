package graft.tools

import org.apache.spark.sql.SparkSession

/** Writes `.explain("formatted")` of named registry queries to files —
  * the plan evidence the optimization rounds commit under `plans/`.
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> q_a q_b ...
  * Session confs mirror Bench so the captured plans are the benched
  * plans (extensions, shuffle partitions, NTZ shim).
  */
object PlanDump {
  /** The `noop` format's write target (its table is private to Spark). */
  private def isNoopSink(t: org.apache.spark.sql.catalyst.analysis.NamedRelation): Boolean =
    t match {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.table.name() == "noop-table"
      case _ => false
    }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query>...")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2).toSeq
    java.nio.file.Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.Tables.cpus(32)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_PLAN_EXEC=1: execute through the noop sink first and
    // dump the FINAL adaptive plan — the only place AQE's runtime
    // decisions (ReusedExchange/stage reuse, join rewrites, coalescing)
    // are visible; the static initial plan cannot show them.
    val exec = sys.env.get("SPARK_GRAFT_PLAN_EXEC").contains("1")
    // the noop save runs its OWN QueryExecution (the original df's stays
    // unexecuted) — capture the executed one via a listener. Only the
    // noop write itself is accepted: a query's internal commit writes
    // report to the same listener and may arrive after the reset.
    @volatile var lastQe: Option[org.apache.spark.sql.execution.QueryExecution] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        qe.analyzed match {
          case w: org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
              if isNoopSink(w.table) => lastQe = Some(qe)
          case _ => ()
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    if (exec) spark.listenerManager.register(listener)
    names.foreach { n =>
      val df = graft.queries.Registry.byName(n).run(spark, sfDir)
      if (exec) {
        lastQe = None
        df.write.format("noop").mode("overwrite").save()
        // listener delivery is async — bounded wait for the event
        val deadline = System.nanoTime() + 10_000_000_000L
        while (lastQe.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      }
      val txt = (if (exec) lastQe.map(_.explainString(
          org.apache.spark.sql.execution.FormattedMode)).getOrElse(
          df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
        else df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      java.nio.file.Files.write(
        outDir.resolve(s"${n}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote $n ($suffix)")
      if (exec) graft.util.QuietLogs.quietly(graft.util.QuietLogs.SparkRddPackage) {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    }
    spark.stop()
  }
}
