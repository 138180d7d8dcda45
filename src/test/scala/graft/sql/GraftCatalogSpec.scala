package graft.sql

import graft.SparkSpec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  /** Register a throwaway catalog instance and return its name. */
  private def freshCatalog(): String = {
    n += 1
    val cat = s"gsql$n"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmpDir("gsql-wh"))
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gold")
    cat
  }

  private def mkTicks(cat: String): Unit = {
    spark.sql(s"""CREATE TABLE $cat.gold.ticks
      (sym STRING, ts_us BIGINT, px DOUBLE) PARTITIONED BY (sym)""")
    Seq(("a", 1L, 10.0), ("a", 2L, 11.0), ("b", 3L, 20.0))
      .toDF("sym", "ts_us", "px").createOrReplaceTempView("ticks_src")
    spark.sql(s"INSERT INTO $cat.gold.ticks SELECT * FROM ticks_src")
  }

  test("CTAS and RTAS roundtrip through the v1 write fallback") {
    val cat = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.gold.ct AS " +
      "SELECT id AS k, CAST(id * 2.0 AS DOUBLE) AS v FROM range(10)")
    val r = spark.sql(s"SELECT count(*), sum(v) FROM $cat.gold.ct").head()
    assert(r.getLong(0) == 10L && r.getDouble(1) == 90.0)
    spark.sql(s"REPLACE TABLE $cat.gold.ct AS SELECT id AS k FROM range(3)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.gold.ct").head().getLong(0) == 3L)
    assert(spark.table(s"$cat.gold.ct").columns.toSeq == Seq("k"))
  }

  test("CREATE TABLE + INSERT INTO + SELECT roundtrip through pure SQL") {
    val cat = freshCatalog()
    mkTicks(cat)
    val rows = spark.sql(s"SELECT sym, ts_us, px FROM $cat.gold.ticks ORDER BY ts_us")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq == Seq(("a", 1L, 10.0), ("a", 2L, 11.0), ("b", 3L, 20.0)))
    // DDL surface resolves through the catalog
    assert(spark.sql(s"SHOW TABLES IN $cat.gold").collect().map(_.getString(1)).contains("ticks"))
  }

  test("SQL reads resolve merge-on-read upserts (full native-path fidelity)") {
    val cat = freshCatalog()
    mkTicks(cat)
    // upsert through the DataFrame API; SQL must see the masked result
    val lt = graft.lake.LakehouseTable.load(spark,
      new org.apache.hadoop.fs.Path(
        spark.conf.get(s"spark.sql.catalog.$cat.warehouse"), "gold/ticks"))
    lt.morMerge(Seq(("a", 2L, 99.0)).toDF("sym", "ts_us", "px"), Seq("sym", "ts_us"))
    val px = spark.sql(s"SELECT px FROM $cat.gold.ticks WHERE ts_us = 2")
      .collect().map(_.getDouble(0)).toSeq
    assert(px == Seq(99.0))
    assert(spark.sql(s"SELECT count(*) FROM $cat.gold.ticks").head().getLong(0) == 3L)
  }

  test("filters reach the parquet scan through the SQL surface") {
    val cat = freshCatalog()
    mkTicks(cat)
    val df = spark.sql(s"SELECT px FROM $cat.gold.ticks WHERE ts_us >= 2")
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, s"expected a parquet file scan in:\n$plan")
    assert(scans.exists(_.dataFilters.nonEmpty),
      s"expected pushed data filters, got: ${scans.map(_.dataFilters)}")
    // column pruning: the scan must not read sym (partition dim) or more
    assert(scans.forall(_.requiredSchema.fieldNames.toSet.subsetOf(Set("ts_us", "px"))),
      s"over-wide read schema: ${scans.map(_.requiredSchema.fieldNames.toSeq)}")
  }

  test("VERSION AS OF pins a snapshot; tags resolve as named versions") {
    val cat = freshCatalog()
    mkTicks(cat) // snapshot 1
    spark.sql(s"INSERT INTO $cat.gold.ticks VALUES ('c', 9, 30.0)") // snapshot 2
    assert(spark.sql(s"SELECT count(*) FROM $cat.gold.ticks VERSION AS OF 1")
      .head().getLong(0) == 3L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.gold.ticks").head().getLong(0) == 4L)
    val lt = graft.lake.LakehouseTable.load(spark,
      new org.apache.hadoop.fs.Path(
        spark.conf.get(s"spark.sql.catalog.$cat.warehouse"), "gold/ticks"))
    lt.tagSnapshot("audited", 1L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.gold.ticks VERSION AS OF 'audited'")
      .head().getLong(0) == 3L)
  }

  test("INSERT INTO a graft source expands the read but not the write target") {
    val cat = freshCatalog()
    mkTicks(cat)
    // self-referential insert: FROM leg expands, INTO leg stays a relation
    spark.sql(s"""INSERT INTO $cat.gold.ticks
      SELECT sym, ts_us + 100, px FROM $cat.gold.ticks WHERE sym = 'b'""")
    assert(spark.sql(s"SELECT count(*) FROM $cat.gold.ticks").head().getLong(0) == 4L)
    assert(spark.sql(s"SELECT ts_us FROM $cat.gold.ticks WHERE sym='b' ORDER BY ts_us")
      .collect().map(_.getLong(0)).toSeq == Seq(3L, 103L))
  }

  test("composite partition spec round-trips through SQL DDL") {
    val cat = freshCatalog()
    spark.sql(s"""CREATE TABLE $cat.gold.ev
      (sym STRING, ts TIMESTAMP_NTZ, v DOUBLE) PARTITIONED BY (sym, days(ts))""")
    val lt = graft.lake.LakehouseTable.load(spark,
      new org.apache.hadoop.fs.Path(
        spark.conf.get(s"spark.sql.catalog.$cat.warehouse"), "gold/ev"))
    assert(lt.metadata.defaultSpec.fields.map(f => (f.source, f.transform)) ==
      Seq(("sym", "identity"), ("ts", "day")))
    // and back out through SHOW CREATE-ish surface (partitioning())
    val t = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[GraftCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array("gold"), "ev"))
    assert(t.partitioning().map(_.toString).toSeq == Seq("identity(sym)", "days(ts)"))
  }

  test("DROP TABLE and table-not-found surface as standard SQL errors") {
    val cat = freshCatalog()
    mkTicks(cat)
    spark.sql(s"DROP TABLE $cat.gold.ticks")
    val e = intercept[Exception](spark.sql(s"SELECT * FROM $cat.gold.ticks").collect())
    assert(e.getMessage.toLowerCase.contains("table") ||
      e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"))
  }

  test("DELETE FROM runs the native copy-on-write delete") {
    val cat = freshCatalog()
    mkTicks(cat)
    spark.sql(s"DELETE FROM $cat.gold.ticks WHERE sym = 'a' AND ts_us >= 2")
    val rows = spark.sql(s"SELECT sym, ts_us FROM $cat.gold.ticks ORDER BY ts_us")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == Seq(("a", 1L), ("b", 3L)))
    // the delete is a real snapshot: time travel still sees the pre-state
    assert(spark.sql(s"SELECT count(*) FROM $cat.gold.ticks VERSION AS OF 1")
      .head().getLong(0) == 3L)
  }

  test("UPDATE ... SET runs the native copy-on-write update") {
    val cat = freshCatalog()
    mkTicks(cat)
    spark.sql(s"UPDATE $cat.gold.ticks SET px = px * 10 WHERE sym = 'a' AND ts_us >= 2")
    val rows = spark.sql(s"SELECT ts_us, px FROM $cat.gold.ticks ORDER BY ts_us")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.toSeq == Seq((1L, 10.0), (2L, 110.0), (3L, 20.0)))
    // a real snapshot: pre-image still reachable
    assert(spark.sql(s"SELECT px FROM $cat.gold.ticks VERSION AS OF 1 WHERE ts_us = 2")
      .head().getDouble(0) == 11.0)
  }

  test("a time predicate prunes the file list from manifest stats") {
    val cat = freshCatalog()
    spark.sql(s"""CREATE TABLE $cat.gold.ev
      (id BIGINT, ts TIMESTAMP, v DOUBLE) PARTITIONED BY (days(ts))""")
    // two inserts with disjoint time ranges → disjoint file sets
    spark.sql(s"""INSERT INTO $cat.gold.ev VALUES
      (1, TIMESTAMP '2024-01-01 10:00:00', 1.0),
      (2, TIMESTAMP '2024-01-02 10:00:00', 2.0)""")
    spark.sql(s"""INSERT INTO $cat.gold.ev VALUES
      (3, TIMESTAMP '2024-01-20 10:00:00', 3.0),
      (4, TIMESTAMP '2024-01-21 10:00:00', 4.0)""")

    def filesScanned(sql: String): Int = plannedFiles(spark.sql(sql))
    val all = filesScanned(s"SELECT v FROM $cat.gold.ev")
    val pruned = filesScanned(
      s"SELECT v FROM $cat.gold.ev WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'")
    assert(all > pruned && pruned > 0,
      s"expected manifest pruning to cut the file list ($all -> $pruned)")
    // and the filtered read is still exact
    assert(spark.sql(
      s"SELECT id FROM $cat.gold.ev WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(3L, 4L))
  }

  test("MERGE INTO upserts through the native merge-on-read path") {
    val cat = freshCatalog()
    mkTicks(cat)
    Seq(("a", 2L, 99.0), ("z", 50L, 5.0)).toDF("sym", "ts_us", "px")
      .createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE INTO $cat.gold.ticks t USING merge_src s
         |ON t.sym = s.sym AND t.ts_us = s.ts_us
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = spark.sql(s"SELECT sym, ts_us, px FROM $cat.gold.ticks ORDER BY ts_us")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq == Seq(
      ("a", 1L, 10.0), ("a", 2L, 99.0), ("b", 3L, 20.0), ("z", 50L, 5.0)))
    // merge-on-read shape: the upsert wrote a key mask, not rewritten files
    assert(spark.sql(s"SELECT count(*) FROM $cat.gold.ticks.deletes").head().getLong(0) >= 1)
  }

  test("MERGE rejects duplicate source keys and non-upsert shapes loudly") {
    val cat = freshCatalog()
    mkTicks(cat)
    Seq(("a", 2L, 1.0), ("a", 2L, 2.0)).toDF("sym", "ts_us", "px")
      .createOrReplaceTempView("merge_dup")
    val dup = intercept[Exception](spark.sql(
      s"""MERGE INTO $cat.gold.ticks t USING merge_dup s
         |ON t.sym = s.sym AND t.ts_us = s.ts_us
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(dup.getMessage.contains("duplicate source keys") ||
      dup.getMessage.contains("duplicate keys"))
    val shape = intercept[Exception](spark.sql(
      s"""MERGE INTO $cat.gold.ticks t USING merge_dup s
         |ON t.sym = s.sym AND t.ts_us = s.ts_us
         |WHEN MATCHED THEN DELETE""".stripMargin))
    assert(shape.getMessage.contains("upsert shape"))
  }

  test("metadata tables are queryable as cat.ns.table.<name>") {
    val cat = freshCatalog()
    mkTicks(cat) // 1 insert = snapshot 1
    spark.sql(s"INSERT INTO $cat.gold.ticks VALUES ('c', 9, 30.0)") // snapshot 2
    val snaps = spark.sql(
      s"SELECT snapshot_id, operation, is_current FROM $cat.gold.ticks.snapshots ORDER BY snapshot_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    assert(snaps.toSeq == Seq((1L, "append", false), (2L, "append", true)))
    // files: per-partition row counts visible through SQL
    val fileRows = spark.sql(
      s"SELECT sum(rows) FROM $cat.gold.ticks.files").head().getLong(0)
    assert(fileRows == 4L)
    // partitions roll-up joins against the data like any relation
    assert(spark.sql(s"SELECT count(*) FROM $cat.gold.ticks.partitions")
      .head().getLong(0) == 3L) // sym=a, sym=b, sym=c
  }

  test("TRUNCATE and INSERT OVERWRITE replace contents atomically") {
    val cat = freshCatalog()
    mkTicks(cat)
    spark.sql(s"INSERT OVERWRITE $cat.gold.ticks VALUES ('only', 100, 1.0)")
    val rows = spark.sql(s"SELECT sym, ts_us FROM $cat.gold.ticks")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == Seq(("only", 100L)))
    // overwrite is one snapshot: the pre-image is still travel-able
    assert(spark.sql(s"SELECT count(*) FROM $cat.gold.ticks VERSION AS OF 1")
      .head().getLong(0) == 3L)
    spark.sql(s"TRUNCATE TABLE $cat.gold.ticks")
    assert(spark.sql(s"SELECT count(*) FROM $cat.gold.ticks").head().getLong(0) == 0L)
    // and the table accepts appends again after truncation
    spark.sql(s"INSERT INTO $cat.gold.ticks VALUES ('post', 200, 2.0)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.gold.ticks").head().getLong(0) == 1L)
  }

  test("ALTER TABLE add/rename/drop column map to native schema evolution") {
    val cat = freshCatalog()
    mkTicks(cat)
    spark.sql(s"ALTER TABLE $cat.gold.ticks ADD COLUMN note STRING")
    // existing rows null-fill the new column; new inserts carry it
    spark.sql(s"INSERT INTO $cat.gold.ticks VALUES ('n', 50, 1.0, 'hello')")
    val notes = spark.sql(s"SELECT note FROM $cat.gold.ticks ORDER BY ts_us")
      .collect().map(r => Option(r.getString(0)))
    assert(notes.toSeq == Seq(None, None, None, Some("hello")))
    spark.sql(s"ALTER TABLE $cat.gold.ticks RENAME COLUMN note TO comment")
    assert(spark.sql(s"SELECT comment FROM $cat.gold.ticks WHERE comment IS NOT NULL")
      .head().getString(0) == "hello")
    spark.sql(s"ALTER TABLE $cat.gold.ticks DROP COLUMN comment")
    assert(!spark.sql(s"SELECT * FROM $cat.gold.ticks").columns.contains("comment"))
  }

  test("CREATE TABLE AS SELECT creates and fills in one statement") {
    val cat = freshCatalog()
    mkTicks(cat)
    spark.sql(
      s"""CREATE TABLE $cat.gold.high PARTITIONED BY (sym) AS
         |SELECT sym, ts_us, px FROM $cat.gold.ticks WHERE px >= 11.0""".stripMargin)
    val rows = spark.sql(s"SELECT sym, px FROM $cat.gold.high ORDER BY px")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(rows.toSeq == Seq(("a", 11.0), ("b", 20.0)))
    assert(graft.lake.LakehouseTable.load(spark,
        new org.apache.hadoop.fs.Path(
          spark.conf.get(s"spark.sql.catalog.$cat.warehouse"), "gold/high"))
      .metadata.defaultSpec.fields.map(_.source) == Seq("sym"))
  }

  test("subqueries over graft relations expand too") {
    val cat = freshCatalog()
    mkTicks(cat)
    val top = spark.sql(
      s"""SELECT sym, px FROM $cat.gold.ticks t
         |WHERE px = (SELECT max(px) FROM $cat.gold.ticks t2 WHERE t2.sym = t.sym)
         |ORDER BY sym""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(top.toSeq == Seq(("a", 11.0), ("b", 20.0)))
  }
}
