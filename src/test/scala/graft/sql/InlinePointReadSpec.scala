package graft.sql

import graft.SparkSpec
import graft.lake.LakehouseTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec}

import java.sql.Timestamp
import scala.util.Random

/** A point lookup whose scan is one task reads on the driver
  * ([[InlinePointRead]]): the same rows as the Spark job and as plain
  * Spark over the files, and no job. Any other shape keeps its job.
  */
class InlinePointReadSpec extends SparkSpec {
  import spark.implicits._

  private val baseMs = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private def tsOf(k: Int): Timestamp = new Timestamp(baseMs + k * 1000L)
  private def lit(k: Int): String = s"TIMESTAMP '${tsOf(k)}'"

  private var n = 0
  /** A fresh catalog with one day-partitioned table; `keys` per commit,
    * a null key where the key is negative.
    */
  private def mkTable(commits: Seq[Seq[Int]]): (String, LakehouseTable) = {
    n += 1
    val cat = s"ipr$n"
    val wh = tmpDir("ipr-wh")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gold")
    def batch(keys: Seq[Int]) =
      keys.map(k => (if (k < 0) null else tsOf(k), k.toLong, k * 0.25)).toDF("ts", "id", "v")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/t"), batch(Seq(0)).schema, Some("ts"), "day")
    commits.foreach(keys => t.append(batch(keys).coalesce(1)))
    (s"$cat.gold.t", t)
  }

  private def inlined(sql: String): Boolean =
    spark.sql(sql).queryExecution.executedPlan.collectFirst { case _: FileSourceScanExec => () }.isEmpty

  private def rows(sql: String): Seq[Row] = spark.sql(sql).collect().toSeq.sortBy(_.toString)

  test("random IN lists over random tables: inline, job and plain Spark agree") {
    val rnd = new Random(20261019)
    (0 until 12).foreach { round =>
      val universe = rnd.shuffle((0 until 400).toList).take(60 + rnd.nextInt(60))
      val commits = universe.grouped(1 + rnd.nextInt(30)).toSeq.map(ks =>
        if (rnd.nextBoolean()) ks :+ -1 else ks)
      val (ref, t) = mkTable(commits)
      val plain = spark.read.parquet(t.currentDataFiles.map(f => new Path(t.tableDir, f.path).toString): _*)
      plain.select("ts", "id", "v").createOrReplaceTempView("ipr_plain")
      (0 until 4).foreach { _ =>
        val present = rnd.shuffle(universe).take(1 + rnd.nextInt(4))
        val absent = Seq.fill(rnd.nextInt(3))(400 + rnd.nextInt(100))
        val items = rnd.shuffle(present.map(lit) ++ absent.map(lit) ++
          (if (rnd.nextBoolean()) Seq("NULL") else Nil))
        val pred = s"ts IN (${items.mkString(", ")})"
        val q = s"SELECT ts, id, v FROM $ref WHERE $pred"
        val (inline, inlineJobs) = withSqlConf("spark.sql.files.minPartitionNum" -> "1") {
          assert(inlined(q), s"round $round: $q")
          jobsDuring(rows(q))
        }
        val (job, jobJobs) = withSqlConf("spark.sql.files.ignoreCorruptFiles" -> "true") {
          assert(!inlined(q))
          jobsDuring(rows(q))
        }
        val want = rows(s"SELECT ts, id, v FROM ipr_plain WHERE $pred")
        assert(inlineJobs == 0 && jobJobs >= 1, s"jobs: inline $inlineJobs, job $jobJobs")
        assert(inline == want && job == want, s"round $round: $q")
        assert(want.size == present.size)
      }
    }
  }

  test("a one-task point lookup runs no Spark job and folds to a local scan") {
    val (ref, _) = mkTable(Seq(0 until 10, 10 until 20, 20 until 30))
    val q = s"SELECT id, v FROM $ref WHERE ts = ${lit(14)} AND v >= 0"
    val df = spark.sql(q)
    assert(df.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec], df.queryExecution.executedPlan)
    val (got, jobs) = jobsDuring(spark.sql(q).collect().toSeq)
    assert(got == Seq(Row(14L, 3.5)) && jobs == 0, s"$got in $jobs jobs")
  }

  test("scans of 2+ tasks, input_file_name() and ranges keep their Spark job") {
    val (ref, _) = mkTable(Seq(0 until 10, 10 until 20))
    val point = s"SELECT id FROM $ref WHERE ts = ${lit(4)}"
    val (split, splitJobs) = withSqlConf(
        "spark.sql.files.maxPartitionBytes" -> "256", "spark.sql.files.openCostInBytes" -> "0") {
      assert(!inlined(point))
      jobsDuring(rows(point))
    }
    assert(split == Seq(Row(4L)) && splitJobs >= 1, s"$split in $splitJobs jobs")
    val tagged = s"SELECT id, input_file_name() AS f FROM $ref WHERE ts = ${lit(4)}"
    val (t, taggedJobs) = jobsDuring(spark.sql(tagged).collect().toSeq)
    assert(!inlined(tagged) && t.size == 1 && t.head.getString(1).endsWith(".parquet") && taggedJobs >= 1)
    val range = s"SELECT id FROM $ref WHERE ts >= ${lit(3)} AND ts < ${lit(6)}"
    val (r, rangeJobs) = jobsDuring(rows(range))
    assert(!inlined(range) && r == Seq(Row(3L), Row(4L), Row(5L)) && rangeJobs >= 1)
  }
}
