package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Stage-level wall-clock decomposition of the heavy bench queries —
  * the "measure first" tool of the optimization rounds (guide §1).
  * Each labelled stage materializes through the noop sink; persisted
  * diamonds mirror the real pipeline wiring so incremental stage costs
  * are attributable. NOT part of the bench contract; local diagnosis
  * only.
  */
object ProfileStages {
  private def sweep(spark: SparkSession): Unit =
    graft.util.QuietLogs.quietly(graft.util.QuietLogs.SparkRddPackage) {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.Tables.cpus(32)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def time(label: String)(df: => DataFrame): Double = {
      spark.sparkContext.setJobDescription(label)
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[profile] $label%-42s $s%8.3f s")
      s
    }

    val which = if (args.nonEmpty) args.toSet else Set("curation")

    import graft.Tables.t
    import graft.ops._

    if (which("curation")) {
      val docs = t(spark, sfDir, "documents")
      // warmup scan
      time("scan documents (noop)")(docs)
      time("tokens projection") {
        docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
      }
      time("gopherFilter")(TextAnalysis.gopherFilter(docs, "text"))
      time("gopher+redact") {
        TextAnalysis.gopherFilter(docs, "text")
          .select(docs.columns.map(col).toIndexedSeq: _*)
          .withColumn("text", TextAnalysis.redactPii(col("text")))
      }
      sweep(spark)

      // stage-wise curation full, mirroring Curation.curateCorpusFull
      val gated = TextAnalysis.gopherFilter(docs, "text")
        .select(docs.columns.map(col).toIndexedSeq: _*)
      val redacted = gated
        .withColumn("text", TextAnalysis.redactPii(col("text")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      time("redacted (persist fill)")(redacted)
      time("segmentTokenLines(redacted)") {
        DedupOps.segmentTokenLines(redacted, "doc_id", "text", 8)
      }
      time("dedupLinesTokenized(redacted)") {
        DedupOps.dedupLinesTokenized(redacted, "doc_id", "text", 8, 1)
      }
      val lineDeduped = DedupOps
        .dedupLinesTokenized(redacted, "doc_id", "text", 8, 1)
        .withColumnRenamed("text_clean", "text")
      val joined = lineDeduped.join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      val base = joined.persist(StorageLevel.MEMORY_AND_DISK)
      time("base (line-deduped+block, persist fill)")(base)
      time("ngramJaccardPairs(base)") {
        DedupOps.ngramJaccardPairs(base, "source", "doc_id", "text", 3, 1000)
      }
      val pairs = DedupOps.ngramJaccardPairs(base, "source", "doc_id", "text", 3, 1000)
        .filter(col("jaccard") >= 0.5)
      time("dedupByPairs(base, pairs) [incl CC]") {
        DedupOps.dedupByPairs(base, pairs, "doc_id")
      }
      val v1 = DedupOps.dedupByPairs(base, pairs, "doc_id")
        .select(col("doc_id"), col("text"))
      time("maskDuplicatedSpans(v1)") {
        DedupOps.maskDuplicatedSpans(v1, "doc_id", "text", 8, 2)
      }
      val spanned = DedupOps.maskDuplicatedSpans(v1, "doc_id", "text", 8, 2)
        .select(col("doc_id"), col("text"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      time("spanned (persist fill)")(spanned)
      val ref = spanned.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .filter(col("lang") === "en")
      val model = NgramLM.fitBigrams(ref, "text")
      time("LM fit+score+gate") {
        spanned.join(
          NgramLM.scorePerplexity(spanned, model, "doc_id", "text")
            .filter(col("avg_nll") <= 3.55)
            .select(col("doc_id")),
          Seq("doc_id"), "left_semi")
      }
      sweep(spark)
      time("q_text_curation_full end-to-end") {
        graft.queries.Registry.byName("q_text_curation_full").run(spark, sfDir)
      }
      sweep(spark)
    }

    if (which("dsir")) {
      time("q_text_dsir end-to-end") {
        graft.queries.Registry.byName("q_text_dsir").run(spark, sfDir)
      }
      sweep(spark)
      val docs = t(spark, sfDir, "documents")
      val toks = filter(split(col("text"), "\\s+"), t => length(t) > 0)
      val bigrams = when(size(toks) >= 2,
        zip_with(
          slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1),
          (a, b) => concat(a, lit(" "), b)))
        .otherwise(array().cast("array<string>"))
      val fb = transform(concat(toks, bigrams),
        g => graft.functions.PolyHash(g) % 4096)
      time("corpus featureBuckets explode+count") {
        docs.select(explode(fb).as("b")).groupBy("b").count()
      }
      sweep(spark)
    }

    if (which("incremental")) {
      time("q_text_dedup_incremental end-to-end") {
        graft.queries.Registry.byName("q_text_dedup_incremental").run(spark, sfDir)
      }
      sweep(spark)
      val docs = t(spark, sfDir, "documents")
      time("minHashBandsPortable(docs)") {
        DedupOps.minHashBandsPortable(docs.select(col("doc_id"), col("text")))
      }
      sweep(spark)
      // phase-level replica of incrementalDedupFlow with wall timers
      import org.apache.hadoop.fs.Path
      def phase[T](label: String)(body: => T): T = {
        spark.sparkContext.setJobDescription(label)
        val t0 = System.nanoTime()
        val r = body
        println(f"[profile] $label%-42s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
        r
      }
      val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
      val batched = docs.select(col("doc_id"), col("text"))
        .withColumn("batch", ntile(3).over(w).cast("long"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      phase("inc: batched persist fill")(batched.write.format("noop").mode("overwrite").save())
      val allBands = DedupOps.minHashBandsPortable(batched)
        .join(batched.select(col("doc_id"), col("batch")), Seq("doc_id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      phase("inc: allBands persist fill")(allBands.write.format("noop").mode("overwrite").save())
      val index = phase("inc: createIndex")(graft.stream.DedupIndex.createIndex(
        spark, new Path(
          java.nio.file.Files.createTempDirectory("graft-prof-di").toString,
          "dedup_index")))
      (1L to 3L).foreach(b => phase(s"inc: commitBatch $b")(
        graft.stream.DedupIndex.commitBatch(
          index, allBands.filter(col("batch") === b).drop("batch"), "dedup", b)))
      val committed = index.read().persist(StorageLevel.MEMORY_AND_DISK)
      phase("inc: committed persist fill")(committed.write.format("noop").mode("overwrite").save())
      val perBatch = (1L to 3L).map { b =>
        phase(s"inc: survivors batch $b") {
          val s = graft.stream.DedupIndex.survivorsFromCommitted(
            committed, b, settledBefore = Some(b - 1), priorSettled = true)
            .withColumn("batch", lit(b))
            .persist(StorageLevel.MEMORY_AND_DISK)
          s.write.format("noop").mode("overwrite").save()
          s
        }
      }
      val replayed = phase("inc: replay step (commit+probe)") {
        val r = graft.stream.DedupIndex.step(
          index, allBands.filter(col("batch") === 3L).drop("batch"),
          "dedup", 3L, settledBefore = Some(2L))
        r.write.format("noop").mode("overwrite").save()
        r
      }
      phase("inc: final union+check") {
        val replayCheck = replayed.agg(count(lit(1)).as("__replay_n")).crossJoin(
          perBatch.last.agg(count(lit(1)).as("__orig_n")))
        perBatch.reduce(_ unionByName _)
          .crossJoin(broadcast(replayCheck))
          .orderBy("doc_id")
          .write.format("noop").mode("overwrite").save()
      }
      sweep(spark)
    }

    if (which("jaccard")) {
      val docs = t(spark, sfDir, "documents")
      val keep = Seq(col("source").as("block"), col("doc_id").as("id"))
      val shingledDf = docs
        .select(keep :+ TextAnalysis.tokens(col("text")).as("toks"): _*)
        .select(col("block"), col("id"),
          DedupOps.shinglesFromTokens(col("toks"), 3).as("grams"))
      time("shingled gram strings (projection)")(shingledDf)
      sweep(spark)
      val explodedAll = shingledDf
        .select(col("block"), col("id"), explode_outer(col("grams")).as("gram"))
        .filter(col("gram").isNotNull)
        .select(col("block"), col("id"), xxhash64(col("gram")).as("g64"))
      time("explode + xxhash64 (count)")(explodedAll.groupBy("block").count())
      sweep(spark)
      val dfWin = org.apache.spark.sql.expressions.Window.partitionBy("block", "g64")
      val exploded = explodedAll
        .withColumn("df", count(lit(1)).over(dfWin))
        .filter(col("df") <= 1000)
        .drop("df")
      time("window df-cap (count)")(exploded.groupBy("block").count())
      sweep(spark)
      time("ngramJaccardPairs full") {
        DedupOps.ngramJaccardPairs(docs, "source", "doc_id", "text", 3, 1000)
      }
      sweep(spark)
      time("q_text_ngram_jaccard end-to-end") {
        graft.queries.Registry.byName("q_text_ngram_jaccard").run(spark, sfDir)
      }
      sweep(spark)
    }

    if (which("lines")) {
      val docs = t(spark, sfDir, "documents")
      time("segmentTokenLines (count)") {
        DedupOps.segmentTokenLines(docs, "doc_id", "text", 8).groupBy().count()
      }
      sweep(spark)
      val lines = DedupOps.segmentTokenLines(docs, "doc_id", "text", 8)
      time("dropDuplicatedLines (count)") {
        DedupOps.dropDuplicatedLines(lines, "doc_id", "line", 1).groupBy().count()
      }
      sweep(spark)
      time("dedupLinesTokenized full")(
        DedupOps.dedupLinesTokenized(docs, "doc_id", "text", 8, 1))
      sweep(spark)
      time("q_text_line_dedup end-to-end") {
        graft.queries.Registry.byName("q_text_line_dedup").run(spark, sfDir)
      }
      sweep(spark)
    }

    if (which("gopher")) {
      val docs = t(spark, sfDir, "documents")
      time("tokens only")(docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk")))
      sweep(spark)
      val base = docs.withColumn("__graft_toks", TextAnalysis.tokens(col("text")))
      time("qualityColumns projection") {
        docs.select(Seq(col("doc_id")) ++ TextAnalysis.qualityColumns(col("text")): _*)
      }
      sweep(spark)
      time("repetitionColumns projection") {
        base.select(Seq(col("doc_id")) ++ TextAnalysis.repetitionColumns(col("__graft_toks")): _*)
      }
      sweep(spark)
      time("signals only (no gate filter)") {
        base.select((Seq(col("*")) ++ TextAnalysis.qualityColumns(col("text")) ++
          TextAnalysis.repetitionColumns(col("__graft_toks"))): _*)
      }
      sweep(spark)
      time("gopherFilter (signals + gate)")(TextAnalysis.gopherFilter(docs, "text"))
      sweep(spark)
      time("gopherFilter again (warm)")(TextAnalysis.gopherFilter(docs, "text"))
      sweep(spark)
    }

    if (which("clusters")) {
      time("q_text_dedup_clusters end-to-end") {
        graft.queries.Registry.byName("q_text_dedup_clusters").run(spark, sfDir)
      }
      sweep(spark)
    }

    spark.stop()
  }
}
