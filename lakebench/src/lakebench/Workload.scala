package lakebench

/** One workload's shape. Every workload runs the paper's whole cycle
  * `cycles` times — a delivery through the ingest pipeline, one
  * `maintain` call per table at a simulated `nowMs`, and one round of
  * the SQL read mix — so every run reports every end-to-end metric; the
  * shapes decide which layer dominates. Interleaving the reads with the
  * deliveries spreads every metric's samples over the whole measured
  * phase, so a burst of load on the host moves all medians a little
  * rather than one class a lot.
  *
  * The amount of work is fixed per `--seconds` value (the cycle count
  * scales with it), never by a wall-clock deadline: history depth, and
  * with it every latency that grows with history, is then the same in
  * every run and in every version of the engine.
  */
final case class Workload(
    name: String,
    /** tables, one per symbol */
    symbols: Int,
    batched: Boolean,
    rowsPerFile: Int,
    /** files per symbol in each delivery */
    filesPerDelivery: Int,
    /** files per symbol of the pipeline run that seeds history */
    setupFiles: Int,
    /** `LakehouseTable.append` commits that seed the read table before
      * that run, `appendFiles` files of `appendRows` each, spread over
      * `appendDays` simulated days
      */
    setupAppends: Int,
    appendFiles: Int,
    appendRows: Int,
    appendDays: Int,
    /** measured cycles: delivery, maintain, read round (see [[Plan.PerRound]]) */
    cycles: Int)

object Workload {
  val Redeliver = 0.25
  val BadEvery = 8
  /** partition granularity of every table */
  val Granularity = "day"
  /** simulated days between deliveries: at least the 7-day retention,
    * so every maintain call from the second delivery on expires snapshots
    */
  val DaysPerDelivery = 7
  val Names: Seq[String] = Seq("ingest_backfill", "sql_read_mix")

  private def scaled(seconds: Int, perSecond: Double, min: Int): Int =
    math.max(min, math.round(seconds * perSecond).toInt)

  def apply(name: String, seconds: Int): Workload = name match {
    // bulk: many large overlapping files per run into day partitions of a
    // table that already holds history; scan, the dedup shuffle, the
    // anti-join and the parquet write dominate
    case "ingest_backfill" => Workload(name, symbols = 1,
      batched = true, rowsPerFile = 6000, filesPerDelivery = 6, setupFiles = 3,
      setupAppends = 0, appendFiles = 0, appendRows = 0, appendDays = 0,
      cycles = scaled(seconds, 0.6, 3))
    // reads against a table seeded with small commits: Catalyst, relation
    // expansion and manifest/file planning bound the short classes, the
    // scan bounds range and bars. The deliveries are watcher-shaped
    // trickles (one small file per symbol, file at a time), where fixed
    // costs dominate: the whole-root checksum, job launches, planning
    // over a growing history, the commit tail, ledger and audit
    case "sql_read_mix" => Workload(name, symbols = 1,
      batched = false, rowsPerFile = 5000, filesPerDelivery = 1, setupFiles = 1,
      setupAppends = 3, appendFiles = 4, appendRows = 1000, appendDays = 1,
      cycles = scaled(seconds, 0.7, 3))
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }
}
