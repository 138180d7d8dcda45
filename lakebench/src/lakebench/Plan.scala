package lakebench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import scala.util.Random

/** A read-mix query. `a`/`b` are window bounds or the point key (µs);
  * `pick`, in [0, 1), places the time-travel snapshot among those live
  * at read time.
  */
final case class Query(cls: String, a: Long, b: Long, pick: Double)

object Query {
  val Classes: Seq[String] = Seq("point", "range", "meta_agg", "time_travel", "bars")
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(ZoneOffset.UTC)
  def ts(us: Long): String =
    s"TIMESTAMP '${tsFmt.format(Instant.ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))}'"

  def sql(q: Query, ref: String): String = q.cls match {
    case "point" =>
      s"SELECT DateTime, Bid, Ask, BidVolume, AskVolume FROM $ref WHERE DateTime = ${ts(q.a)}"
    case "range" =>
      s"SELECT count(*) AS n, min(Bid) AS lo, max(Ask) AS hi, sum(BidVolume) AS vol FROM $ref " +
        s"WHERE DateTime >= ${ts(q.a)} AND DateTime < ${ts(q.b)}"
    case "meta_agg" | "time_travel" =>
      s"SELECT count(*) AS n, min(DateTime) AS first, max(DateTime) AS last FROM $ref"
    case "bars" =>
      "SELECT date_trunc('HOUR', DateTime) AS hour, min_by(Bid, DateTime) AS open, max(Bid) AS high, " +
        s"min(Bid) AS low, max_by(Bid, DateTime) AS close, count(*) AS ticks FROM $ref " +
        s"WHERE DateTime >= ${ts(q.a)} AND DateTime < ${ts(q.b)} GROUP BY 1 ORDER BY 1"
  }
}

/** Everything one workload run delivers, derived from the seed alone and
  * shared by every pass of the run.
  */
final class Plan(spark: SparkSession, val w: Workload, val seed: Long, val pool: Path) {
  private val planner = new Planner(seed, w.symbols, Workload.BadEvery)
  /** the seeding commits, `appendFiles` disjoint files each */
  val appends: Seq[Seq[TickFile]] = (0 until w.setupAppends).map(_ =>
    (0 until w.appendFiles).map(_ => planner.file(0, w.appendRows, 0.0, canBeBad = false)))
  /** the pipeline run that seeds history */
  val setupRun: Seq[TickFile] =
    for (_ <- 0 until w.setupFiles; s <- 0 until w.symbols) yield planner.file(s, w.rowsPerFile, Workload.Redeliver)
  private val rnd = new Random(seed * 31 + 7)

  /** Round `k` of the read mix over the data delivered so far:
    * [[Plan.PerRound]] queries of each class. Windows and time-travel
    * targets are spread evenly, so that every seed reads the same shape;
    * only the point keys are drawn.
    */
  private def readRound(k: Int): Seq[Query] = {
    val spanUs = planner.maxIndex(0) * Ticks.StepUs
    def window(at: Double, lenUs: Long) = {
      val a = Ticks.BaseUs + (at * math.max(1L, spanUs - lenUs)).toLong
      (a, a + lenUs)
    }
    val n = Plan.PerRound
    planner.sampleGood(0, n, rnd).zipWithIndex.flatMap { case (i, j) =>
      val at = (k + (j + 0.5) / n) / w.cycles
      val (ra, rb) = window(at, 3600L * 1000000L)
      val (ba, bb) = window(1 - at, Ticks.DayUs)
      Seq(Query("point", Ticks.keyUs(seed, 0, i), 0L, 0.0), Query("meta_agg", 0L, 0L, 0.0),
        Query("time_travel", 0L, 0L, (j + (k + 0.5) / w.cycles) / n), Query("range", ra, rb, 0.0), Query("bars", ba, bb, 0.0))
    }
  }

  /** The measured cycles: each one's delivery (`filesPerDelivery` files
    * per symbol) and the read round that follows it.
    */
  val cycles: Seq[(Seq[TickFile], Seq[Query])] = (0 until w.cycles).map { k =>
    val delivery = for (s <- 0 until w.symbols; _ <- 0 until w.filesPerDelivery)
      yield planner.file(s, w.rowsPerFile, Workload.Redeliver)
    (delivery, readRound(k))
  }
  val files: Seq[TickFile] = planner.files.toSeq

  /** Generate every planned file into the pool. */
  def materialize(): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    graft.util.BoundedPar.map(files, 4)(f => Ticks.write(conf, seed, f, path(f)))
  }

  def path(f: TickFile): Path = new Path(pool, f.name)
}

object Plan {
  /** queries of each class per read round */
  val PerRound = 2
}
