package graft.lake

import graft.SparkSpec
import graft.sql.GraftCatalog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Reads built over the manifest's file list ([[ManifestFileIndex]])
  * against the `spark.read.parquet(paths)` path that older metadata,
  * whose entries carry no file size, still takes: the same schema,
  * rows, row order, partition values, file names and row positions.
  */
class ManifestReadSpec extends SparkSpec {
  import spark.implicits._

  private def indexes(df: DataFrame): Seq[FileIndex] =
    df.queryExecution.analyzed.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location
    }

  private def sizes(t: LakehouseTable): Map[String, Option[Long]] =
    t.currentDataFiles.map(f => f.path -> f.bytes).toMap

  /** Every column of `df` plus where each row came from. */
  private def withOrigin(df: DataFrame): DataFrame =
    df.select(col("*"), input_file_name().as("_file"),
      col("_metadata.file_path").as("_path"), col("_metadata.row_index").as("_pos"))

  /** `view` of the table through the index, then through `spark.read`
    * once the entries lose their sizes; the sizes are restored after.
    */
  private def assertParity(t: LakehouseTable, view: DataFrame => DataFrame = identity): Unit = {
    val viaIndex = view(t.read())
    assert(indexes(viaIndex).nonEmpty && indexes(viaIndex).forall(_.isInstanceOf[ManifestFileIndex]))
    val (schema, rows) = (viaIndex.schema, viaIndex.collect().toSeq)
    val recorded = sizes(t)
    ManifestEntries.rewrite(spark, t)(_.copy(bytes = None))
    try {
      val viaListing = view(t.read())
      assert(indexes(viaListing).nonEmpty &&
        indexes(viaListing).forall(!_.isInstanceOf[ManifestFileIndex]))
      assert(viaListing.schema == schema)
      assert(viaListing.collect().toSeq == rows)
    } finally ManifestEntries.rewrite(spark, t)(f => f.copy(bytes = recorded(f.path)))
  }

  private def ticks(n: Int, syms: Seq[String], from: Int = 0) =
    (from until from + n).map { i =>
      (Timestamp.valueOf(f"2024-0${1 + i % 3}-${1 + i % 28}%02d ${i % 24}%02d:00:00"),
        syms(i % syms.size), i.toLong, i % 5, i * 0.5)
    }.toDF("ts", "sym", "id", "lvl", "px")

  private def table(name: String, source: String, transform: String): LakehouseTable =
    LakehouseTable.createIfNotExists(spark, new Path(tmpDir("mri"), name),
      ticks(1, Seq("a")).schema, Some(source), transform)

  test("every transform reads the same through the index as through spark.read") {
    for ((source, transform) <- Seq("ts" -> "year", "ts" -> "month", "ts" -> "day",
        "ts" -> "hour", "id" -> "bucket[4]", "lvl" -> "identity")) {
      val t = table(s"$source-${transform.filter(_.isLetterOrDigit)}", source, transform)
      t.append(ticks(40, Seq("a", "b")))
      t.append(ticks(30, Seq("c"), from = 40))
      assertParity(t, withOrigin)
      assertParity(t, _.filter($"px" > 10.0))
    }
  }

  test("identity dirs: the null dir and values that need path escaping") {
    val t = table("sym", "sym", "identity")
    val syms = Seq("a b", "x/y", "p=q", "50%", "c:1", "q?r", null, "")
    t.append(ticks(48, syms))
    assert(t.currentDataFiles.exists(_.path.contains(LakehouseTable.HiveDefaultPartition)))
    assertParity(t, withOrigin)
    assertParity(t, _.filter($"sym" === "x/y" || $"sym".isNull))
    assert(t.read().filter($"sym" === "p=q").count() == 6)
  }

  test("spec evolution and renamed columns read the same") {
    val t = table("evo", "ts", "year")
    t.append(ticks(20, Seq("a", "b")))
    t.evolvePartitionSpec(Seq("sym" -> "identity", "ts" -> "day"))
    t.append(ticks(20, Seq("b", "c"), from = 20))
    assertParity(t)
    val r = table("ren", "ts", "day")
    r.append(ticks(20, Seq("a")))
    r.renameColumn("px", "price")
    r.append(ticks(20, Seq("b"), from = 20).withColumnRenamed("px", "price"))
    assertParity(r, withOrigin)
    assert(r.read().filter($"price".isNull).count() == 0)
  }

  test("positional deletes written through spark.read still mask through the index") {
    val t = table("pos", "ts", "day")
    t.append(ticks(30, Seq("a")))
    t.append(ticks(30, Seq("b"), from = 30))
    val recorded = sizes(t)
    ManifestEntries.rewrite(spark, t)(_.copy(bytes = None))
    t.morDeleteWhere($"id" % 3 === 0)
    ManifestEntries.rewrite(spark, t)(f => f.copy(bytes = recorded(f.path)))
    val back = t.read()
    assert(indexes(back).exists(_.isInstanceOf[ManifestFileIndex]))
    assert(back.select("id").as[Long].collect().sorted.toSeq == (0L until 60L).filter(_ % 3 != 0))
  }

  test("metadata without file sizes falls back to spark.read") {
    val t = table("old", "ts", "day")
    t.append(ticks(30, Seq("a")))
    val expected = t.read().collect().toSeq
    ManifestEntries.rewrite(spark, t)(_.copy(bytes = None))
    val back = t.read()
    assert(indexes(back).nonEmpty && indexes(back).forall(!_.isInstanceOf[ManifestFileIndex]))
    assert(back.collect().toSeq == expected)
  }

  test("the next query sees a second handle's commit, a re-created table and a compaction") {
    val wh = tmpDir("mri-wh")
    spark.conf.set("spark.sql.catalog.mri", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.mri.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS mri.gold")
    val dir = new Path(wh, "gold/t")
    // one partition, so a compaction has files to merge
    def create(): LakehouseTable =
      LakehouseTable.createIfNotExists(spark, dir, ticks(1, Seq("a")).schema, Some("ts"), "year")
    def point(i: Int): Seq[Row] = {
      val ts = ticks(i + 1, Seq("a")).select("ts").as[Timestamp].collect().last
      spark.sql(s"SELECT sym, id FROM mri.gold.t WHERE ts = TIMESTAMP '$ts'").collect().toSeq
    }
    val first = create()
    first.append(ticks(10, Seq("a")))
    assert(point(3) == Seq(Row("a", 3L)))
    assert(point(12).isEmpty)
    // a commit through another handle
    LakehouseTable.load(spark, dir).append(ticks(10, Seq("b"), from = 10))
    assert(point(12) == Seq(Row("b", 12L)))
    // a compaction replaces the files
    val before = first.currentDataFiles.map(_.path).toSet
    LakehouseTable.load(spark, dir).compact()
    assert(first.currentDataFiles.map(_.path).toSet != before)
    assert(point(3) == Seq(Row("a", 3L)) && point(12) == Seq(Row("b", 12L)))
    // drop and re-create at the same path
    dir.getFileSystem(spark.sessionState.newHadoopConf()).delete(dir, true)
    create().append(ticks(5, Seq("z")))
    assert(point(3) == Seq(Row("z", 3L)))
    assert(point(12).isEmpty)
  }
}
