package graft.lake

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Composite partition specs (`identity(symbol) + day(ts)`): the write
  * path must nest dirs in field order, reads must recover both
  * dimensions, and [[LakehouseTable.filesForQuery]] must prune each
  * dimension INDEPENDENTLY at metadata level — path segments for the
  * identity dim, footer stats for the time dim — before Spark plans a
  * byte.
  */
class CompositePartitionSpec extends SparkSpec {
  import spark.implicits._

  private def usOf(s: String): Long =
    Timestamp.valueOf(s).toInstant.toEpochMilli * 1000L

  // 3 symbols × 4 days × 4 rows; minutes differ per symbol so `ts` is
  // globally unique (merge below keys on it)
  private def ticks = (for {
    (sym, si) <- Seq("AAPL", "MSFT", "TSLA").zipWithIndex
    day <- 1 to 4
    i <- 0 until 4
  } yield (sym, Timestamp.valueOf(f"2024-03-0$day 0$i:${si}%02d:00"),
      (si * 100 + day * 10 + i).toDouble))
    .toDF("symbol", "ts", "price")

  private def fresh(name: String): LakehouseTable =
    LakehouseTable.createIfNotExists(
      spark, new Path(tmpDir("comp"), name), ticks.schema,
      Seq("symbol" -> "identity", "ts" -> "day"))

  test("write nests identity/time dirs; read recovers both dimensions") {
    val t = fresh("layout")
    t.append(ticks)
    val paths = t.currentDataFiles.map(_.path)
    assert(paths.nonEmpty)
    assert(paths.forall(p => p.matches("data/symbol=[A-Z]+/ts_day=\\d{8}/.+\\.parquet")),
      s"expected symbol=/ts_day= nesting, got: ${paths.take(3)}")
    val back = t.read()
    assert(back.columns.toSet ==
      Set("symbol", "ts", "price", "ts_day"))
    // the derived day column agrees with deriving from ts directly
    assert(back.filter(
      col("ts_day") =!= (year(col("ts")) * 100 + month(col("ts"))) * 100 + dayofmonth(col("ts")))
      .count() == 0)
    assert(back.count() == 48)
  }

  test("filesForQuery prunes BOTH dimensions independently (metadata-level)") {
    val t = fresh("prune")
    // one append per symbol so files never straddle symbols
    Seq("AAPL", "MSFT", "TSLA").foreach(s =>
      t.append(ticks.filter(col("symbol") === s)))
    val total = t.currentDataFiles.size
    val bySymbol = t.filesForQuery(Map("symbol" -> "AAPL"))
    assert(bySymbol.nonEmpty && bySymbol.size < total,
      s"identity-dim pruning must drop files ($total -> ${bySymbol.size})")
    assert(bySymbol.forall(_.path.contains("symbol=AAPL")))

    val day2 = (usOf("2024-03-02 00:00:00"), usOf("2024-03-02 23:59:59"))
    val byTime = t.filesForQuery(Map.empty, Some(day2))
    assert(byTime.nonEmpty && byTime.size < total,
      s"time-dim pruning must drop files ($total -> ${byTime.size})")

    val both = t.filesForQuery(Map("symbol" -> "AAPL"), Some(day2))
    assert(both.nonEmpty && both.size < bySymbol.size && both.size < byTime.size,
      "composed pruning must be the intersection, strictly finer than either dim")

    // manifest-LIST level: each per-symbol append wrote one manifest
    // whose partition-value summary names exactly one symbol, so a
    // symbol query OPENS one manifest — the rest are skipped unread
    val openedAll = t.manifestsForQuery(Map.empty).size
    val openedOne = t.manifestsForQuery(Map("symbol" -> "AAPL")).size
    assert(openedAll == 3 && openedOne == 1,
      s"summary pruning must drop whole manifests ($openedAll -> $openedOne)")
  }

  test("readPartitionRange answers exactly and plans only the pruned files") {
    val t = fresh("range")
    Seq("AAPL", "MSFT", "TSLA").foreach(s =>
      t.append(ticks.filter(col("symbol") === s)))
    val (lo, hi) = (usOf("2024-03-02 00:00:00"), usOf("2024-03-03 23:59:59"))
    val got = t.readPartitionRange(Map("symbol" -> "MSFT"), lo, hi)
    // plan-asserted: the relation contains exactly the pruned file set
    val planned = plannedFiles(got)
    val pruned = t.filesForQuery(Map("symbol" -> "MSFT"), Some((lo, hi))).size
    assert(planned == pruned && pruned < t.currentDataFiles.size,
      s"plan must read exactly the pruned files (planned=$planned pruned=$pruned)")
    val rows = got.select("symbol", "price").collect()
    assert(rows.forall(_.getString(0) == "MSFT"))
    // MSFT = symbol index 1 → prices 100+day*10+i for days 2,3; i<4
    assert(rows.map(_.getDouble(1)).sorted.toSeq ==
      Seq(120.0, 121.0, 122.0, 123.0, 130.0, 131.0, 132.0, 133.0))
  }

  test("readPartition filters exactly when files straddle symbols") {
    val t = fresh("straddle")
    t.append(ticks.coalesce(1)) // one append, all symbols: dirs still split them
    val got = t.readPartition(Map("symbol" -> "TSLA"))
    assert(got.count() == 16)
    assert(got.select("symbol").distinct().collect().map(_.getString(0)).toSeq == Seq("TSLA"))
  }

  test("merge and MoR deletes work on a composite-partitioned table") {
    val t = fresh("dml")
    t.append(ticks)
    // COW merge on ts (the stats key)
    val updates = ticks.filter(col("symbol") === "AAPL" && dayofmonth(col("ts")) === 1)
      .withColumn("price", col("price") + 1000.0)
    t.merge(updates, "ts")
    assert(t.read().filter(col("price") >= 1000.0).count() == 4)
    assert(t.read().count() == 48)
    // MoR delete by key
    t.morDeleteKeys(ticks.filter(col("symbol") === "MSFT" && dayofmonth(col("ts")) === 2)
      .select("ts"), "ts")
    assert(t.read().count() == 44)
    // compaction folds, keeps the composite layout
    t.compact()
    assert(t.currentDeleteFiles.isEmpty)
    assert(t.read().count() == 44)
    assert(t.currentDataFiles.forall(_.path.matches(
      "data/symbol=[A-Z]+/ts_day=\\d{8}/.+\\.parquet")))
  }

  test("a mid-range value dir is never dropped by identity pruning with escaping") {
    val sym = Seq(("a=b", Timestamp.valueOf("2024-03-01 00:00:00"), 1.0))
      .toDF("symbol", "ts", "price")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(tmpDir("comp"), "esc"), sym.schema,
      Seq("symbol" -> "identity", "ts" -> "day"))
    t.append(sym)
    assert(t.filesForQuery(Map("symbol" -> "a=b")).size == 1,
      "escaped dir value must round-trip through pruning")
    assert(t.readPartition(Map("symbol" -> "a=b")).count() == 1)
  }
}
