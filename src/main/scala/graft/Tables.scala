package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Helpers shared by every registered query: testdata table loading and
  * session defaults tuned for the driver's local[32] harness but written
  * for cluster scale (AQE on, shuffle partitions sized to cores).
  */
object Tables {

  /** Load one of the driver-generated parquet tables from an sf dir.
    *
    * `events.ts` is parquet TIMESTAMP(NANOS), which Spark 4 refuses to read
    * natively; we read it as a long (ns since epoch) and truncate to a
    * µs-precision TimestampType — the same floor-truncation DuckDB's
    * `epoch_us()` applies, so oracles stay comparable. The conf is a
    * runtime-settable SQLConf, so this works under any driver-built session.
    *
    * Columns stored as parquet isAdjustedToUTC=false (the TPC-H date
    * columns) surface as TIMESTAMP_NTZ; queries filter on them in NTZ (so
    * predicate pushdown reaches the parquet reader) and only cast at output
    * projection time (session TZ is pinned UTC, so the cast is a no-op on
    * the instant).
    */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  /** Build a SparkSession with the engine's default tuning. Used by our
    * own mains (Bench) and tests; Verify's session is driver-owned.
    */
  def session(appName: String, master: String = s"local[${cpus(32)}]"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus(32).toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The local master's thread count: `$SPARK_GRAFT_CPUS`, or `default`
    * when it is unset. A value that is not a positive integer fails
    * here, naming the variable, rather than reaching Spark as
    * `local[abc]`.
    */
  def cpus(default: Int): Int = cpus(sys.env.get(CpusVar), default)

  private[graft] val CpusVar = "SPARK_GRAFT_CPUS"

  private[graft] def cpus(value: Option[String], default: Int): Int =
    value.fold(default)(v => v.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(s"$CpusVar must be a positive integer, got '$v'")))
}
