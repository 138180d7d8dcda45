package graft.sql

import graft.SparkSpec
import graft.lake.LakehouseTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types.LongType

import java.sql.Timestamp
import scala.util.Random

/** A scan Spark packs into one task plans as one stage ([[OneTaskScan]]):
  * the same rows as plain Spark over the same files, no exchange above
  * the scan, and one job. Scans of more tasks keep their exchanges.
  */
class OneTaskScanSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val baseMs = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private def tsOf(k: Int): Timestamp = new Timestamp(baseMs + k * 600000L)
  private def lit(k: Int): String = s"TIMESTAMP '${tsOf(k)}'"

  /** Several files pack into one partition, as at `local[1]`. */
  private val oneTask = "spark.sql.files.minPartitionNum" -> "1"

  private var n = 0
  /** A fresh catalog with a `gold` namespace: (name, warehouse dir). */
  private def freshCatalog(): (String, String) = {
    n += 1
    val cat = s"ots$n"
    val wh = tmpDir("ots-wh")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gold")
    (cat, wh)
  }

  /** A fresh catalog with one table of `(ts, id, g, v)` rows, one commit
    * per key group; day-partitioned on `ts` or unpartitioned.
    */
  private def mkTable(commits: Seq[Seq[Int]], partitioned: Boolean): (String, LakehouseTable) = {
    val (cat, wh) = freshCatalog()
    val t = LakehouseTable.createIfNotExists(spark, new Path(wh, "gold/t"), batch(Seq(0)).schema,
      if (partitioned) Some("ts") else None, "day")
    commits.foreach(keys => t.append(batch(keys).coalesce(1)))
    (s"$cat.gold.t", t)
  }

  private def batch(keys: Seq[Int]): DataFrame =
    keys.map(k => (tsOf(k), k.toLong, k % 4, k * 0.25)).toDF("ts", "id", "g", "v")

  /** Plain Spark over the data files of snapshot `id`, without the ids
    * in `masked`: what the table holds at that snapshot.
    */
  private def plain(t: LakehouseTable, id: Long, masked: Set[Long]): DataFrame = {
    val snap = t.metadata.snapshots.find(_.id == id).get
    spark.read.parquet(t.dataFiles(snap).map(f => new Path(t.tableDir, f.path).toString): _*)
      .select("ts", "id", "g", "v").filter(!$"id".isin(masked.toSeq: _*))
  }

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  private def oneTaskScans(df: DataFrame): Int = collect(plan(df)) { case s: OneTaskScanExec => s }.size

  private def shuffles(df: DataFrame): Int = collect(plan(df)) { case e: ShuffleExchangeExec => e }.size

  private def fileScans(df: DataFrame): Int = collect(plan(df)) { case s: FileSourceScanExec => s }.size

  /** Each query over the relation `{R}`, and whether its row order is
    * fixed.
    */
  private val queries: Seq[(String, Boolean)] = Seq(
    "SELECT count(*) AS n, sum(id) AS s, min(v) AS lo, max(ts) AS hi FROM {R} WHERE v >= 1.0" -> false,
    "SELECT g, count(*) AS n, sum(id) AS s, max(v) AS hi, min(ts) AS lo FROM {R} GROUP BY g" -> false,
    "SELECT id, g, v FROM {R} WHERE g <> 1 ORDER BY v DESC, id" -> true,
    """SELECT id, g, row_number() OVER (PARTITION BY g ORDER BY id) AS rn,
      |  sum(v) OVER (PARTITION BY g) AS sv FROM {R}""".stripMargin -> false,
    "SELECT DISTINCT g FROM {R}" -> false,
    "SELECT id FROM {R} WHERE g = 0 UNION SELECT id FROM {R} WHERE g = 2" -> false,
    """SELECT g, count(*) AS n FROM
      |  (SELECT id, g FROM {R} WHERE g = 0 UNION ALL SELECT id, g FROM {R}) GROUP BY g""".stripMargin -> false,
    "SELECT a.id, b.v FROM {R} a JOIN {R} b ON a.id = b.id + 1" -> false)

  private def rowsOf(df: DataFrame, ordered: Boolean): Seq[String] = {
    val rows = df.collect().toSeq.map(_.toString)
    if (ordered) rows else rows.sorted
  }

  test("random tables, MoR masks and pinned snapshots: the same rows as plain Spark") {
    val rnd = new Random(20261020)
    (0 until 6).foreach { round =>
      val partitioned = round % 2 == 0
      val universe = rnd.shuffle((0 until 300).toList).take(40 + rnd.nextInt(80))
      val commits = universe.grouped(10 + rnd.nextInt(30)).toSeq
      val (ref, t) = mkTable(commits, partitioned)
      val pinned = t.metadata.currentSnapshotId.get
      val masked = rnd.shuffle(universe).take(1 + rnd.nextInt(10)).map(_.toLong).toSet
      t.morDeleteKeys(masked.toSeq.toDF("id"), "id")
      val current = t.metadata.currentSnapshotId.get
      Seq((ref, plain(t, current, masked)), (s"$ref VERSION AS OF $pinned", plain(t, pinned, Set.empty)))
        .foreach { case (source, reference) =>
          reference.createOrReplaceTempView("ots_plain")
          queries.foreach { case (q, ordered) =>
            withSqlConf(oneTask) {
              val want = spark.sql(q.replace("{R}", "ots_plain"))
              assert(oneTaskScans(want) == 0, "the reference reads no manifest relation")
              val got = spark.sql(q.replace("{R}", source))
              val wanted = rowsOf(want, ordered)
              assert(rowsOf(got, ordered) == wanted, s"round $round over $source: $q")
              assert(wanted.nonEmpty, s"round $round: $q returned no rows")
              assert(oneTaskScans(got) >= 1 || fileScans(got) == 0,
                s"round $round over $source: $q\n${plan(got)}")
            }
          }
        }
    }
  }

  /** Lakebench's range and bars queries over a table of ticks. */
  private def ticks(): String = {
    val (cat, wh) = freshCatalog()
    def tick(keys: Range) = keys.map(k => (tsOf(k), 1.0 + k * 0.125, 1.5 + k * 0.125, k * 2.0))
      .toDF("DateTime", "Bid", "Ask", "BidVolume")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/eurusd"), tick(0 until 1).schema, Some("DateTime"), "day")
    Seq(0 until 100, 100 until 200, 200 until 300).foreach(ks => t.append(tick(ks).coalesce(1)))
    s"$cat.gold.eurusd"
  }

  test("lakebench's range and bars queries plan no exchange and run one job") {
    val ref = ticks()
    val range = s"""SELECT count(*) AS n, min(Bid) AS lo, max(Ask) AS hi, sum(BidVolume) AS vol
                   |FROM $ref WHERE DateTime >= ${lit(30)} AND DateTime < ${lit(180)}""".stripMargin
    val bars = s"""SELECT date_trunc('HOUR', DateTime) AS hour, min_by(Bid, DateTime) AS open,
                  |  max(Bid) AS high, min(Bid) AS low, max_by(Bid, DateTime) AS close, count(*) AS ticks
                  |FROM $ref WHERE DateTime >= ${lit(0)} AND DateTime < ${lit(144)}
                  |GROUP BY 1 ORDER BY 1""".stripMargin
    Seq(range -> 1, bars -> 24).foreach { case (q, want) =>
      withSqlConf(oneTask) {
        val df = spark.sql(q)
        val (rows, jobs) = jobsDuring(df.collect().toSeq)
        assert(rows.size == want && jobs == 1, s"${rows.size} rows in $jobs jobs: $q")
        assert(oneTaskScans(df) == 1 && shuffles(df) == 0, s"$q\n${plan(df)}")
      }
    }
    withSqlConf(oneTask) {
      assert(spark.sql(range).collect().head == Row(150L, 1.0 + 30 * 0.125, 1.5 + 179 * 0.125,
        (30 until 180).map(_ * 2.0).sum))
    }
  }

  test("count(*) over a filter that prunes every file returns one row, 0") {
    val (cat, wh) = freshCatalog()
    val data = (0 until 40).map(k => (Seq("a", "b:c", "d")(k % 3), tsOf(k), k.toLong)).toDF("sym", "ts", "id")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/p"), data.schema, Seq("sym" -> "identity", "ts" -> "day"))
    t.append(data)
    // the manifest cannot prune by length(sym), so the relation keeps its
    // files and the scan's own partition filter drops every one
    val q = s"SELECT count(*) AS n FROM $cat.gold.p WHERE length(sym) > 10"
    withSqlConf(oneTask, "spark.graft.sql.metadata-aggregates" -> "false") {
      val df = spark.sql(q)
      assert(df.collect().toSeq == Seq(Row(0L)))
      assert(plannedFiles(df) > 0 && shuffles(df) == 0, plan(df))
      assert(collect(plan(df)) { case s: OneTaskScanExec => s.child.executeColumnar().getNumPartitions } == Seq(0),
        plan(df))
      assert(spark.sql(s"$q GROUP BY sym").collect().isEmpty)
    }
  }

  test("a read whose manifest planning leaves no file plans as one stage") {
    val ref = ticks()
    val q = s"SELECT count(*) AS n FROM $ref WHERE DateTime >= ${lit(1000)} AND Bid > 0"
    withSqlConf(oneTask, "spark.graft.sql.metadata-aggregates" -> "false") {
      val df = spark.sql(q)
      val (rows, jobs) = jobsDuring(df.collect().toSeq)
      assert(rows == Seq(Row(0L)) && jobs <= 1, s"$rows in $jobs jobs")
      assert(plannedFiles(df) == 0 && oneTaskScans(df) == 1 && shuffles(df) == 0, plan(df))
    }
  }

  test("the exec always yields exactly one partition, rows and batches alike") {
    val three = spark.range(0, 30, 1, 3).queryExecution.executedPlan
    assert(three.execute().getNumPartitions == 3)
    val rows = OneTaskScanExec(three).execute()
    assert(rows.getNumPartitions == 1 && rows.map(_.getLong(0)).collect().sorted.toSeq == (0L until 30L))
    val none = OneTaskScanExec(LocalTableScanExec(Seq(AttributeReference("x", LongType)()), Nil, None))
    assert(none.execute().getNumPartitions == 1 && none.execute().count() == 0)

    val dir = tmpDir("ots-files")
    spark.range(0, 30, 1, 3).write.mode("overwrite").parquet(dir)
    withSqlConf("spark.sql.files.maxPartitionBytes" -> "256", "spark.sql.files.openCostInBytes" -> "0") {
      val scan = collect(spark.read.parquet(dir).queryExecution.executedPlan) {
        case s: FileSourceScanExec => s
      }.head
      assert(scan.supportsColumnar && scan.executeColumnar().getNumPartitions >= 3)
      val batches = OneTaskScanExec(scan)
      assert(batches.supportsColumnar && batches.executeColumnar().getNumPartitions == 1)
      assert(batches.executeColumnar().map(_.numRows().toLong).collect().sum == 30L)
    }
  }

  test("a scan split into 2+ tasks keeps its exchanges") {
    val ref = ticks()
    val q = s"SELECT date_trunc('HOUR', DateTime) AS hour, count(*) AS n FROM $ref GROUP BY 1 ORDER BY 1"
    val want = withSqlConf(oneTask)(spark.sql(q).collect().toSeq)
    withSqlConf("spark.sql.files.maxPartitionBytes" -> "1024", "spark.sql.files.openCostInBytes" -> "0") {
      val df = spark.sql(q)
      assert(df.collect().toSeq == want)
      assert(oneTaskScans(df) == 0 && shuffles(df) >= 2, plan(df))
    }
  }

  test("joined with a many-partition table, the large side keeps its partitions") {
    val (ref, _) = mkTable(Seq(0 until 40, 40 until 80), partitioned = true)
    spark.range(0, 2000, 1, 8).selectExpr("id", "id * 3 AS w").createOrReplaceTempView("ots_big")
    val q = s"SELECT t.id, b.w FROM $ref t JOIN ots_big b ON t.id = b.id"
    withSqlConf(oneTask, "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql(q)
      assert(oneTaskScans(df) == 1, plan(df))
      val exchanges = collect(plan(df)) { case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions }
      assert(exchanges.nonEmpty && exchanges.forall(_ > 1), plan(df))
      assert(plan(df).execute().getNumPartitions > 1)
      assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
        (0L until 80L).map(i => (i, i * 3)))
    }
  }
}
