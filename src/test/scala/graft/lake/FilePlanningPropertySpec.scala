package graft.lake

import graft.SparkSpec
import graft.sql.GraftCatalog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, expr, input_file_name}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** Soundness of the one file planner ([[LakehouseTable.planFiles]])
  * under random conjunctions of every extracted dimension shape: key
  * points and ranges, secondary long and string points and ranges,
  * LIKE prefixes, `IS [NOT] NULL`, identity `IN`, and an over-cap IN
  * list that takes the distributed bloom probe. Two properties, on the
  * current snapshot and on a pinned one:
  *
  *   - no false negatives: every file holding a matching row is planned;
  *   - the SQL answer equals a plain `spark.read.parquet` of the same
  *     rows under the same predicate.
  *
  * The seeded table mixes time-banded and fully interleaved files, an
  * all-null uid file, an all-null string file, scattered nulls, key and
  * column blooms, and one COW delete after the pin.
  */
class FilePlanningPropertySpec extends SparkSpec {
  import spark.implicits._

  private val baseUs = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime * 1000L
  private val batches = 6
  private val perBatch = 48
  private val pinnedBatches = 4 // the pin is taken after this many appends

  private def tsUs(b: Int, j: Int): Long =
    if (b < 3) baseUs + b * 10000L + j * 13L // time-banded files
    else baseUs + j * 211L + b // interleaved across the whole range

  private def row(b: Int, j: Int): (java.sql.Timestamp, java.lang.Long, String, String) = {
    val us = tsUs(b, j)
    val ts = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
    ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    val uid: java.lang.Long =
      if (b == 2 || j % 11 == 0) null else java.lang.Long.valueOf(b * 100L + j)
    val s = if (b == 4 || j % 13 == 0) null else f"u${(5 - b) * 50 + j}%05d"
    (ts, uid, s, s"s${j % 3}")
  }

  private val schema = StructType(Seq(
    StructField("ts", TimestampType), StructField("uid", LongType),
    StructField("s", StringType), StructField("sym", StringType)))

  private def frame(rows: Seq[(java.sql.Timestamp, java.lang.Long, String, String)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (a, b, c, d) => Row(a, b, c, d) }, 1), schema)

  private val deleted = 7L // `DELETE WHERE uid = 7` runs after the pin

  private lazy val fixture = {
    val cat = "gfpp"
    val wh = tmpDir("gfpp-wh")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gold")
    val t = LakehouseTable.createIfNotExists(
      spark, new Path(wh, "gold/t"), schema, Seq("sym" -> "identity", "ts" -> "day"))
    t.setProperty("write.stats-columns", "uid,s")
    t.setProperty("write.key-bloom.bits", "4096")
    t.setProperty("write.column-bloom.bits", "4096")
    var pinned = 0L
    (0 until batches).foreach { b =>
      t.append(frame((0 until perBatch).map(row(b, _))).coalesce(1))
      if (b == pinnedBatches - 1) pinned = t.metadata.currentSnapshot.get.id
    }
    t.delete(col("uid") === deleted)
    def oracle(rows: Seq[(java.sql.Timestamp, java.lang.Long, String, String)]): String = {
      val dir = new Path(tmpDir("gfpp-oracle"), "rows").toString
      frame(rows).write.parquet(dir)
      dir
    }
    val all = for (b <- 0 until batches; j <- 0 until perBatch) yield row(b, j)
    val current = oracle(all.filterNot(_._2 == java.lang.Long.valueOf(deleted)))
    val atPin = oracle(all.take(pinnedBatches * perBatch))
    (cat, t, pinned, current, atPin)
  }

  private def tsLit(us: Long): String = {
    val i = java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
      Math.floorMod(us, 1000000L) * 1000L)
    val f = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneOffset.UTC)
    s"TIMESTAMP '${f.format(i)}'"
  }

  /** Each appended file's own min and max of a column (one file per
    * batch and `sym` dir): the literals where an off-by-one in an
    * inclusive or exclusive bound decides a skip.
    */
  private def fileEdges[T: Ordering](value: (Int, Int) => Option[T]): Seq[T] =
    (for (b <- 0 until batches; r <- 0 until 3) yield
      (r until perBatch by 3).flatMap(value(b, _)))
      .filter(_.nonEmpty).flatMap(vs => Seq(vs.min, vs.max)).distinct

  // literal domains: values present in the data, file edges, near misses
  private val tsGen: Gen[Long] = Gen.oneOf(
    for (b <- Gen.choose(0, batches - 1); j <- Gen.choose(0, perBatch - 1)) yield tsUs(b, j),
    Gen.oneOf(fileEdges((b, j) => Some(tsUs(b, j)))),
    Gen.choose(baseUs - 50L, baseUs + 31000L))
  private val uidGen: Gen[Long] = Gen.oneOf(
    Gen.choose(-5L, 560L),
    Gen.oneOf(fileEdges((b, j) => Option(row(b, j)._2).map(_.longValue))))
  private val strGen: Gen[String] = Gen.oneOf(
    Gen.choose(-5, 300).map(k => f"u$k%05d"),
    Gen.oneOf(fileEdges((b, j) => Option(row(b, j)._3))),
    Gen.choose(0, 300).map(k => f"u$k%05dx"))
  private def inList[T](xs: Seq[T])(lit: T => String): String = xs.map(lit).mkString(", ")
  private def q(s: String) = s"'$s'"

  private val atom: Gen[String] = Gen.frequency(
    3 -> Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, tsGen))
      .map(ks => s"ts IN (${inList(ks)(tsLit)})"),
    3 -> (for {
      lo <- tsGen
      span <- Gen.choose(0L, 15000L)
      op <- Gen.oneOf("between", ">=", "<", ">")
    } yield op match {
      case "between" => s"ts BETWEEN ${tsLit(lo)} AND ${tsLit(lo + span)}"
      case o => s"ts $o ${tsLit(lo)}"
    }),
    3 -> Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, uidGen))
      .map(ks => s"uid IN (${inList(ks)(_.toString)})"),
    // past PredicateBounds.MaxPointKeys: the distributed bloom probe
    1 -> Gen.choose(0L, 400L).map(lo =>
      s"uid IN (${(lo until lo + 1100L).mkString(", ")})"),
    3 -> (for (lo <- uidGen; span <- Gen.choose(0L, 120L); op <- Gen.oneOf("between", ">", "<="))
      yield op match {
        case "between" => s"uid BETWEEN $lo AND ${lo + span}"
        case o => s"uid $o $lo"
      }),
    3 -> Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, strGen))
      .map(ks => s"s IN (${inList(ks)(q)})"),
    2 -> (for (lo <- strGen; hi <- strGen; op <- Gen.oneOf("between", "half-open", "<="))
      yield op match {
        case "between" => s"s BETWEEN ${q(lo)} AND ${q(hi)}"
        case "half-open" => s"s >= ${q(lo)} AND s < ${q(hi)}"
        case o => s"s $o ${q(hi)}"
      }),
    2 -> (for (k <- Gen.choose(0, 300); n <- Gen.choose(2, 5))
      yield s"s LIKE '${f"u$k%05d".take(n)}%'"),
    3 -> (for (c <- Gen.oneOf("uid", "s"); neg <- Gen.oneOf("", "NOT "))
      yield s"$c IS ${neg}NULL"),
    3 -> Gen.atLeastOne("s0", "s1", "s2", "s9").map(vs => s"sym IN (${inList(vs.toSeq)(q)})"))

  private val predicate: Gen[String] =
    Gen.frequency(3 -> 1, 3 -> 2, 1 -> 3).flatMap(n => Gen.listOfN(n, atom))
      .map(_.map(a => s"($a)").mkString(" AND "))

  private def relPath(uri: String, t: LakehouseTable): String = {
    val root = t.tableDir.toUri.getPath.stripSuffix("/") + "/"
    new Path(new java.net.URI(uri)).toUri.getPath.stripPrefix(root)
  }

  private def check(pinnedSnap: Boolean): Unit = {
    val (cat, t, pinned, current, atPin) = fixture
    val meta = t.metadata
    val snap = if (pinnedSnap) meta.snapshotById(pinned).get else meta.currentSnapshot.get
    val snapArg = if (pinnedSnap) Some(pinned) else None
    val dataRoot = new Path(t.tableDir, "data").toString
    // every row of the snapshot, tagged with the file that holds it
    val tagged = spark.read.option("basePath", dataRoot)
      .parquet(t.dataFiles(snap).map(f => new Path(t.tableDir, f.path).toString): _*)
      .withColumn("_f", input_file_name())
      .cache()
    val probe = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val relation = s"$cat.gold.t" + (if (pinnedSnap) s" VERSION AS OF $pinned" else "")
    val oracle = spark.read.parquet(if (pinnedSnap) atPin else current)
    def rows(df: DataFrame): Seq[String] =
      df.select("ts", "uid", "s", "sym").collect().map(_.toString).toSeq.sorted
    val prop = Prop.forAllNoShrink(predicate) { pred =>
      val cond = probe.filter(expr(pred)).queryExecution.analyzed match {
        case org.apache.spark.sql.catalyst.plans.logical.Filter(c, _) => c
        case other => fail(s"expected a Filter plan, got $other")
      }
      val planned = t.planFiles(FilePruning.of(meta, cond), snapArg).map(_.path).toSet
      val holding = tagged.where(expr(pred)).select("_f").distinct().as[String]
        .collect().map(relPath(_, t)).toSet
      val missed = holding -- planned
      val got = rows(spark.sql(s"SELECT * FROM $relation WHERE $pred"))
      val want = rows(oracle.where(expr(pred)))
      Prop(missed.isEmpty).label(s"false-negative skips $missed for: $pred") &&
        Prop(got == want).label(s"SQL ${got.size} rows vs oracle ${want.size} for: $pred")
    }
    val params = Test.Parameters.default.withMinSuccessfulTests(60)
      .withInitialSeed(Seed(if (pinnedSnap) 20L else 10L)).withWorkers(1)
    try {
      val res = Test.check(params, prop)
      assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    } finally tagged.unpersist()
  }

  test("planFiles never skips a matching file and SQL matches a plain parquet read") {
    check(pinnedSnap = false)
  }

  test("the same holds on a pinned snapshot") {
    check(pinnedSnap = true)
  }

  test("the fixture exercises the pruning it claims to") {
    val (_, t, _, _, _) = fixture
    assert(t.metadata.partitionTransform.contains("ts"))
    val all = t.currentDataFiles.size
    assert(all >= 3 * batches)
    // each dimension family prunes something on this layout
    assert(t.planFiles(FilePruning(idDirs = Seq("sym" -> Set("s1")))).size < all)
    assert(t.planFiles(FilePruning(nulls = Seq("uid" -> false))).size < all)
    assert(t.planFiles(FilePruning(timeRange = Some((baseUs, baseUs + 100L)))).size < all)
    assert(t.planFiles(FilePruning(strPoints = Seq("s" -> Seq("u00002")))).size < all)
  }
}
