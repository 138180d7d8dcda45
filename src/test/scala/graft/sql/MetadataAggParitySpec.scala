package graft.sql

import graft.SparkSpec
import graft.lake.LakehouseTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.DataSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** The two metadata-aggregate surfaces decide every aggregate the same
  * way: the SQL rule (`spark.graft.sql.expansion-enabled` on) and the
  * DSv2 `SupportsPushDownAggregates` path (off) run one grid of
  * aggregate shapes × groupings × table states in the default (ANSI)
  * session. Every cell must return the same rows on both surfaces —
  * the rows of a plain scan — and make the same served-or-refused
  * decision (served ⇔ the plan reads no data file).
  */
class MetadataAggParitySpec extends SparkSpec {
  import spark.implicits._

  private val cat = "gparity"
  private lazy val wh: String = {
    val w = tmpDir("gparity-wh")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gold")
    w
  }

  /** 2-hour steps from 2023-12-31: five dates over two years. */
  private def ts(i: Int): Timestamp =
    new Timestamp(Timestamp.valueOf("2023-12-31 00:00:00").getTime + i * 7200L * 1000L)

  /** sym (identity), ts (day) key, uid (stats), v (stats + sums: small
    * mixed sign, with nulls) — 60 rows over 4 commits.
    */
  private def mkTable(name: String): LakehouseTable = {
    val data = (0 until 60)
      .map(i => (if (i % 2 == 0) "A" else "B", ts(i), 100L + i,
        if (i % 7 == 0) None else Some(i.toLong - 20L)))
      .toDF("sym", "ts", "uid", "v")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, s"gold/$name"), data.schema,
      Seq("sym" -> "identity", "ts" -> "day"))
    t.setProperty("write.stats-columns", "uid,v")
    t.setProperty("write.sum-columns", "v")
    (0 until 4).foreach(r => t.append(data.filter(col("uid") % 4 === r)))
    t
  }

  private val groupings: Seq[(String, Option[String])] = Seq(
    "none" -> None, "identity" -> Some("sym"), "year" -> Some("year(ts)"),
    "date" -> Some("CAST(ts AS DATE)"))

  private def shapes(u: String): Seq[String] = Seq(
    "count(*)", s"count($u)", "count(DISTINCT sym)",
    "min(ts)", "max(ts)", s"min($u)", s"max($u)", "min(sym)", "max(sym)",
    "sum(v)", "avg(v)")

  private def scansData(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.exists {
      case _: DataSourceScanExec | _: BatchScanExec => true
      case _ => false
    }
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  private final case class Cell(grouping: String, shape: String,
      ruleServed: Boolean, dsv2Served: Boolean,
      rule: Seq[Row], dsv2: Seq[Row], scan: Seq[Row]) {
    def agrees: Boolean = ruleServed == dsv2Served && rule == dsv2 && rule == scan
    override def toString: String =
      s"[$grouping] $shape: served rule=$ruleServed dsv2=$dsv2Served; " +
        s"rule=$rule dsv2=$dsv2 scan=$scan"
  }

  private def grid(table: String, u: String): Seq[Cell] =
    for { (gName, g) <- groupings; shape <- shapes(u) } yield {
      val sql = g match {
        case None => s"SELECT $shape AS a FROM $cat.gold.$table"
        case Some(e) => s"SELECT $e AS g, $shape AS a FROM $cat.gold.$table GROUP BY $e"
      }
      def run(confs: (String, String)*): (Boolean, Seq[Row]) =
        withSqlConf(confs: _*) {
          val df = spark.sql(sql)
          (!scansData(df), rows(df))
        }
      val (ruleServed, rule) = run("spark.graft.sql.expansion-enabled" -> "true")
      val (dsv2Served, dsv2) = run("spark.graft.sql.expansion-enabled" -> "false")
      val (_, scan) = run("spark.graft.sql.metadata-aggregates" -> "false")
      Cell(gName, shape, ruleServed, dsv2Served, rule, dsv2, scan)
    }

  private def assertParity(cells: Seq[Cell]): Unit = {
    val drift = cells.filterNot(_.agrees)
    assert(drift.isEmpty, s"surfaces disagree on ${drift.size} cells:\n${drift.mkString("\n")}")
  }

  test("parity grid: clean table") {
    mkTable("clean")
    val cells = grid("clean", "uid")
    assertParity(cells)
    // the grid is not trivially refused: count(*) serves under every grouping
    assert(cells.filter(_.shape == "count(*)").forall(_.ruleServed), cells.mkString("\n"))
  }

  test("parity grid: live merge-on-read mask refuses every cell on both surfaces") {
    val t = mkTable("masked")
    t.morDeleteKeys(Seq(ts(7)).toDF("ts"), "ts")
    val cells = grid("masked", "uid")
    assertParity(cells)
    assert(cells.forall(c => !c.ruleServed), cells.filter(_.ruleServed).mkString("\n"))
  }

  test("parity grid: null-identity sentinel dir") {
    val t = mkTable("sentinel")
    t.append(Seq((Option.empty[String], ts(3), 500L, Option(5L)))
      .toDF("sym", "ts", "uid", "v"))
    val cells = grid("sentinel", "uid")
    assertParity(cells)
    assert(cells.exists(_.ruleServed), "ungrouped count(*) must still serve")
  }

  test("parity grid: renamed stats column") {
    val t = mkTable("renamed")
    t.renameColumn("uid", "uid_r")
    val cells = grid("renamed", "uid_r")
    assertParity(cells)
    // count(uid_r) still serves: the column is non-nullable, so both
    // surfaces read it as count(*)
    assert(cells.filter(c => c.shape == "min(uid_r)" || c.shape == "max(uid_r)")
      .forall(!_.ruleServed), "a renamed column's bounds are split across names")
  }
}
