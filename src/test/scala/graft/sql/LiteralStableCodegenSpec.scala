package graft.sql

import graft.SparkSpec
import graft.lake.LakehouseTable
import org.apache.hadoop.fs.Path
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import java.sql.Timestamp
import java.time.format.DateTimeFormatter
import java.time.{LocalDate, LocalDateTime}
import scala.util.Random

/** A one-task scan's filter compares against [[ParamLiteral]]s, and a
  * one-task point lookup applies its filter interpreted, so a query
  * shape compiles its classes once, whatever its literals: the same
  * rows as plain Spark over the same files, with the scan's pushed
  * filters holding the real literals.
  */
class LiteralStableCodegenSpec extends SparkSpec with AdaptiveSparkPlanHelper {
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
    val cat = s"lsc$n"
    val wh = tmpDir("lsc-wh")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gold")
    (cat, wh)
  }

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  test("range and bars queries with new windows and point lookups with new keys compile no class") {
    val (cat, wh) = freshCatalog()
    def tick(keys: Range) = keys.map(k => (tsOf(k), 1.0 + k * 0.125, 1.5 + k * 0.125, k * 2.0))
      .toDF("DateTime", "Bid", "Ask", "BidVolume")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/eurusd"), tick(0 until 1).schema, Some("DateTime"), "day")
    Seq(0 until 100, 100 until 200, 200 until 300).foreach(ks => t.append(tick(ks).coalesce(1)))
    val ref = s"$cat.gold.eurusd"
    def range(a: Int, b: Int) = spark.sql(
      s"""SELECT count(*) AS n, min(Bid) AS lo, max(Ask) AS hi, sum(BidVolume) AS vol
         |FROM $ref WHERE DateTime >= ${lit(a)} AND DateTime < ${lit(b)}""".stripMargin)
    def bars(a: Int, b: Int) = spark.sql(
      s"""SELECT date_trunc('HOUR', DateTime) AS hour, min_by(Bid, DateTime) AS open,
         |  max(Bid) AS high, min(Bid) AS low, max_by(Bid, DateTime) AS close, count(*) AS ticks
         |FROM $ref WHERE DateTime >= ${lit(a)} AND DateTime < ${lit(b)} GROUP BY 1 ORDER BY 1""".stripMargin)
    def point(k: Int) = spark.sql(s"SELECT DateTime, Bid, Ask, BidVolume FROM $ref WHERE DateTime = ${lit(k)}")
    withSqlConf(oneTask, "spark.sql.adaptive.enabled" -> "true") {
      assert(range(10, 250).collect().head.getLong(0) == 240L)
      assert(point(7).collect().map(_.getTimestamp(0)).toSeq == Seq(tsOf(7)))
      assert(bars(0, 144).collect().length == 24)
      val before = compiles()
      (1 to 5).foreach { i =>
        assert(range(3 * i, 100 + 29 * i).collect().head.getLong(0) == 100 + 26 * i)
        assert(bars(6 * i, 120 + 6 * i).collect().map(_.getLong(5)).sum == 120)
        assert(point(40 * i + 1).collect().map(_.getTimestamp(0)).toSeq == Seq(tsOf(40 * i + 1)))
      }
      val compiled = compiles() - before
      assert(compiled == 0, s"$compiled classes compiled for new literals")

      val df = range(30, 180)
      df.collect()
      val scan = collect(plan(df)) { case s: FileSourceScanExec => s }.head
      assert(scan.dataFilters.exists(_.exists(_.isInstanceOf[Literal])) &&
        !scan.dataFilters.exists(_.exists(_.isInstanceOf[ParamLiteral])), scan.dataFilters)
      assert(scan.metadata("PushedFilters").contains(tsOf(30).toString.stripSuffix(".0")), scan.metadata)
      val filter = collect(plan(df)) { case f: FilterExec => f }.head
      assert(filter.condition.exists(_.isInstanceOf[ParamLiteral]), filter)
      assert(filter.toString.contains(tsOf(30).toString.stripSuffix(".0")), filter)
    }
  }

  test("random filters over six primitive types: the same rows as plain Spark") {
    val rnd = new Random(20261020)
    def row(k: Int) = (tsOf(k), k.toLong * 7 - 300, k % 13 - 6, k * 0.375 - 20,
      LocalDate.of(2024, 1, 1).plusDays(k % 9), LocalDateTime.of(2024, 1, 1, 0, 0).plusNanos(k * 1000L))
    val us = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    val cols = Seq("ts", "l", "i", "d", "dt", "ntz")
    var parameterized = 0
    (0 until 3).foreach { round =>
      val (cat, wh) = freshCatalog()
      val universe = rnd.shuffle((0 until 600).toList).take(60 + rnd.nextInt(60))
      val commits = universe.grouped(15 + rnd.nextInt(20)).toSeq
      // a null in every column but the key on some rows
      def batch(ks: Seq[Int]) = ks.map(row).toDF(cols: _*)
        .selectExpr("ts" +: cols.tail.map(c => s"CASE WHEN hash(ts, '$c') % 7 = 0 THEN NULL ELSE $c END AS $c"): _*)
      val t = LakehouseTable.createIfNotExists(
        spark, new Path(wh, "gold/t"), batch(Seq(0)).schema, Some("ts"), "day")
      commits.foreach(ks => t.append(batch(ks).coalesce(1)))
      val pinned = t.metadata.snapshots(t.metadata.snapshots.size / 2).id
      val ref = s"$cat.gold.t"
      val schema = batch(Seq(0)).schema

      /** A literal of `c`'s type near the value of row `k`: the value,
        * or one step (a µs for time columns) to either side.
        */
      def literal(c: String, k: Int, step: Int): String = {
        val r = row(k)
        c match {
          case "ts" => s"TIMESTAMP '${us.format(r._1.toLocalDateTime.plusNanos(step * 1000L))}'"
          case "l" => s"${r._2 + step}L"
          case "i" => s"${r._3 + step}"
          case "d" => s"${r._4 + step * 0.125}D"
          case "dt" => s"DATE '${r._5.plusDays(step)}'"
          case "ntz" => s"TIMESTAMP_NTZ '${us.format(r._6.plusNanos(step * 1000L))}'"
        }
      }
      def predicate(): String = {
        val c = cols(rnd.nextInt(cols.size))
        def near() = literal(c, universe(rnd.nextInt(universe.size)), rnd.nextInt(3) - 1)
        rnd.nextInt(8) match {
          case 0 => s"$c = NULL"
          case 1 => s"$c <=> ${if (rnd.nextBoolean()) "NULL" else near()}"
          case 2 => s"$c IN (${(Seq.fill(1 + rnd.nextInt(4))(near()) ++
            (if (rnd.nextBoolean()) Seq("NULL") else Nil)).mkString(", ")})"
          case 3 => s"$c >= ${near()} AND $c < ${near()}"
          case _ => s"$c ${Seq("=", "<>", "<", "<=", ">", ">=")(rnd.nextInt(6))} ${near()}"
        }
      }

      Seq(None, Some(pinned)).foreach { version =>
        val snap = version.fold(t.metadata.currentSnapshot.get)(id => t.metadata.snapshots.find(_.id == id).get)
        spark.read.schema(schema)
          .parquet(t.dataFiles(snap).map(f => new Path(t.tableDir, f.path).toString): _*)
          .createOrReplaceTempView("lsc_plain")
        val source = version.fold(ref)(id => s"$ref VERSION AS OF $id")
        (0 until 16).foreach { _ =>
          val pred = Seq.fill(1 + rnd.nextInt(2))(predicate()).mkString(" AND ")
          def query(from: String) = spark.sql(s"SELECT ${cols.mkString(", ")} FROM $from WHERE $pred")
          def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
          withSqlConf(oneTask) {
            val df = query(source)
            assert(rows(df) == rows(query("lsc_plain")), s"round $round over $source: $pred")
            if (collect(plan(df)) { case f: FilterExec => f.condition }.exists(_.exists(_.isInstanceOf[ParamLiteral])))
              parameterized += 1
          }
        }
      }
    }
    assert(parameterized >= 30, s"only $parameterized of 96 filters compared against parameters")
  }
}
