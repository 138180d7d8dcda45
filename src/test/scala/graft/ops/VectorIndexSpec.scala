package graft.ops

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

class VectorIndexSpec extends SparkSpec {

  private def emb = graft.Tables.t(spark, "/root/testdata/sf0.001", "embeddings")

  private def queries20 = emb.filter(col("vec_id") < 20)
    .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))

  private def corpus = emb
    .select(col("vec_id").as("n_id"), col("embedding").as("n_vec"))

  test("persistent search is byte-equal to in-memory ivfSearch over the same state") {
    val idx = VectorIndex.build(
      spark, new Path(tmpDir("vecidx-parity"), "ivf"), corpus, nLists = 8)
    val mem = SimilaritySearch.IvfIndex(
      idx.vectors.read(), idx.centroids.read(), nLists = 8)

    val pers = VectorIndex.search(idx, queries20, k = 5, nProbe = 4)
      .select("q_id", "n_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val inMem = SimilaritySearch.ivfSearch(mem, queries20, k = 5, nProbe = 4)
      .select("q_id", "n_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pers == inMem,
      s"persistence must not change the answer (only ${pers.intersect(inMem).size} " +
        s"of ${inMem.size} ranked hits agree)")
    assert(pers.nonEmpty)
  }

  test("a probe plans only the probed lists' files, not the corpus") {
    val idx = VectorIndex.build(
      spark, new Path(tmpDir("vecidx-prune"), "ivf"), corpus, nLists = 8)
    val total = idx.vectors.currentDataFiles.size
    assert(total >= 8, s"identity(list_id) layout should split files per list (got $total)")

    val twoLists = idx.vectors.read()
      .select("list_id").distinct().orderBy("list_id").limit(2)
      .collect().map(_.getLong(0)).toSeq
    val probe = idx.vectors.readPartitionIn("list_id", twoLists)
    val planned = plannedFiles(probe)
    assert(planned < total,
      s"probing 2 of 8 lists must prune the scan (planned=$planned of $total files)")
    assert(probe.select("list_id").distinct().collect().map(_.getLong(0)).toSet ==
      twoLists.toSet)
  }

  test("append assigns against the frozen quantizer and lands in the probed lists") {
    val dir = new Path(tmpDir("vecidx-append"), "ivf")
    val base = corpus.filter(col("n_id") >= 50)
    val idx = VectorIndex.build(spark, dir, base, nLists = 4)
    val before = idx.vectors.read().count()

    val batch = corpus.filter(col("n_id") < 50)
    VectorIndex.append(idx, batch)
    assert(idx.vectors.read().count() == before + batch.count())

    // assignment parity: the appended rows must sit exactly where a
    // literal-centroid projection against the frozen quantizer puts them
    val cents = idx.centroids.read().orderBy("list_id").collect()
      .map(_.getAs[Seq[Double]]("centroid").toArray).toSeq
    val expect = Clustering.assignLiteral(batch, "n_vec", cents)
      .select(col("n_id"), col("cluster").cast("long").as("list_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = idx.vectors.read().filter(col("n_id") < 50)
      .select("n_id", "list_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect, "append must reuse the frozen centroids, not refit")

    // searching the reopened index still answers (exercise open())
    val reopened = VectorIndex.open(spark, dir)
    val res = VectorIndex.search(reopened, queries20, k = 3, nProbe = 2)
    assert(res.groupBy("q_id").count().filter(col("count") =!= 3).count() == 0)
  }

  test("remove drops ids from search via a MoR delete, no list rewrite") {
    import spark.implicits._
    val idx = VectorIndex.build(
      spark, new Path(tmpDir("vecidx-remove"), "ivf"), corpus, nLists = 4)
    val filesBefore = idx.vectors.currentDataFiles.map(_.path).toSet

    val victims = VectorIndex.search(idx, queries20, k = 3, nProbe = 4)
      .select("n_id").distinct().limit(5).collect().map(_.getLong(0)).toSeq
    VectorIndex.remove(idx, victims.toDF("n_id"))

    val after = VectorIndex.search(idx, queries20, k = 3, nProbe = 4)
      .select("n_id").collect().map(_.getLong(0)).toSet
    assert(victims.forall(v => !after.contains(v)),
      s"removed ids must not be returned (leaked: ${victims.filter(after.contains)})")
    assert(idx.vectors.currentDataFiles.map(_.path).toSet == filesBefore,
      "equality delete must not rewrite any inverted-list file")
  }

  test("buildFrom + sync index a growing source exactly once") {
    import graft.lake.LakehouseTable
    import org.apache.spark.sql.types._
    val root = tmpDir("vecidx-sync")
    val srcSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val src = LakehouseTable.createIfNotExists(
      spark, new Path(root, "src"), srcSchema, Nil)
    val all = emb.select(col("vec_id"),
      col("embedding").cast(ArrayType(FloatType)).as("embedding"))
    src.append(all.filter(col("vec_id") < 60))

    val idx = VectorIndex.buildFrom(
      src, new Path(root, "ivf"), "vec_id", "embedding", nLists = 4)
    assert(idx.vectors.read().count() == 60,
      "the seed image must ship through the first sync, once")

    // grow the source across two commits; one sync picks up both
    src.append(all.filter(col("vec_id") >= 60 && col("vec_id") < 80))
    src.append(all.filter(col("vec_id") >= 80 && col("vec_id") < 90))
    assert(VectorIndex.sync(src, idx, "vec_id", "embedding").nonEmpty)
    val ids = idx.vectors.read().select("n_id").collect().map(_.getLong(0)).toSeq
    assert(ids.length == 90 && ids.distinct.length == 90,
      s"every source row indexed exactly once (got ${ids.length}, ${ids.distinct.length} distinct)")

    // idempotent: nothing new → no commit, no duplicates
    assert(VectorIndex.sync(src, idx, "vec_id", "embedding").isEmpty)
    assert(idx.vectors.read().count() == 90)

    // synced rows sit where the frozen quantizer puts them
    val cents = idx.centroids.read().orderBy("list_id").collect()
      .map(_.getAs[Seq[Double]]("centroid").toArray).toSeq
    val expect = Clustering.assignLiteral(
        all.filter(col("vec_id") >= 60 && col("vec_id") < 90)
          .select(col("vec_id").as("n_id"), col("embedding").as("n_vec")),
        "n_vec", cents)
      .select(col("n_id"), col("cluster").cast("long").as("list_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = idx.vectors.read().filter(col("n_id") >= 60)
      .select("n_id", "list_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect, "sync must assign against the frozen centroids")
  }

  test("buildFrom re-run is idempotent: no duplicate centroid set, no duplicate rows") {
    import graft.lake.LakehouseTable
    import org.apache.spark.sql.types._
    val root = tmpDir("vecidx-rerun")
    val srcSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val src = LakehouseTable.createIfNotExists(
      spark, new Path(root, "src"), srcSchema, Nil)
    src.append(emb.select(col("vec_id"),
      col("embedding").cast(ArrayType(FloatType)).as("embedding"))
      .filter(col("vec_id") < 40))

    val idx = VectorIndex.buildFrom(
      src, new Path(root, "ivf"), "vec_id", "embedding", nLists = 4)
    val centsBefore = idx.centroids.read().orderBy("list_id").collect().toSeq
    assert(centsBefore.map(_.getLong(0)) == (0L until 4L),
      "one centroid row per list, ids dense")

    // crash-recovery shape: the same buildFrom runs again over the same
    // dir — centroids must be REUSED (not re-fit and re-appended, which
    // would desync positional assignment), and no row ships twice
    val again = VectorIndex.buildFrom(
      src, new Path(root, "ivf"), "vec_id", "embedding", nLists = 4)
    assert(again.centroids.read().orderBy("list_id").collect().toSeq == centsBefore,
      "re-run must not append a second centroid set")
    val ids = again.vectors.read().select("n_id").collect().map(_.getLong(0)).toSeq
    assert(ids.length == 40 && ids.distinct.length == 40,
      s"re-run must not duplicate seed rows (got ${ids.length})")
  }

  test("buildFrom on an empty source fails fast with a clear message") {
    import graft.lake.LakehouseTable
    import org.apache.spark.sql.types._
    val root = tmpDir("vecidx-empty")
    val src = LakehouseTable.createIfNotExists(
      spark, new Path(root, "src"),
      StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))), Nil)
    val e = intercept[IllegalArgumentException] {
      VectorIndex.buildFrom(src, new Path(root, "ivf"), "vec_id", "embedding")
    }
    assert(e.getMessage.contains("empty"), s"opaque error: ${e.getMessage}")
  }
}
