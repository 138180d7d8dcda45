package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupOpsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  /** documents plus a near-duplicate of each doc_id < 10 (one token
    * changed) and an exact duplicate of doc 0, under new ids ≥ 10000.
    */
  private lazy val withPlanted = {
    val near = docs.filter($"doc_id" < 10)
      .select(($"doc_id" + 10000).as("doc_id"),
        concat(substring_index($"text", " ", 10), lit(" zzz "),
          substring($"text", length(substring_index($"text", " ", 11)) + 1, lit(1000000))).as("text"),
        $"lang", $"source", $"n_chars")
    val exact = docs.filter($"doc_id" === 0)
      .select(($"doc_id" + 20000).as("doc_id"), $"text", $"lang", $"source", $"n_chars")
    docs.select("doc_id", "text", "lang", "source", "n_chars")
      .unionByName(near).unionByName(exact)
  }

  test("exactGroups finds the planted exact duplicate") {
    val groups = DedupOps.exactGroups(withPlanted)
    val dups = groups.filter($"n_copies" > 1).collect()
    assert(dups.length == 1)
    assert(dups.head.getAs[Long]("keep_id") == 0L)
    assert(dups.head.getAs[Long]("n_copies") == 2L)
  }

  test("minhash LSH surfaces planted near-duplicates with high jaccard") {
    val pairs = DedupOps.minHashNearDups(withPlanted, threshold = 0.5)
      .collect().map(r => (r.getLong(1).min(r.getLong(0)), r.getLong(0).max(r.getLong(1))))
      .toSet
    // every planted near-dup (i, i+10000) shares ~90% of its shingles;
    // with 8 bands × 4 rows, P(collision) at j=0.65 is ~0.84 per pair —
    // require that most are found (LSH is probabilistic by design)
    val expected = (0L until 10L).map(i => (i, i + 10000L)).toSet
    val found = pairs.intersect(expected)
    assert(found.size >= 7, s"found only ${found.size} of 10 planted pairs: $found")
    // the exact duplicate must always collide in every band
    assert(pairs.contains((0L, 20000L)))
  }

  test("minhash signatures are deterministic across runs") {
    val s1 = DedupOps.minHashSignatures(docs).orderBy("id").collect()
    val s2 = DedupOps.minHashSignatures(docs).orderBy("id").collect()
    assert(s1.sameElements(s2))
  }

  test("simhash: near-identical docs are close in hamming distance, random docs far") {
    val hashed = withPlanted.select($"doc_id", DedupOps.simHash($"text").as("sh"))
    val m = hashed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nearDists = (0L until 10L).map(i => java.lang.Long.bitCount(m(i) ^ m(i + 10000)))
    val randomDists = (0L until 10L).map(i => java.lang.Long.bitCount(m(i) ^ m(i + 1)))
    assert(m(0L) == m(20000L)) // exact dup: identical simhash
    assert(nearDists.max < 16, s"near-dup hamming too high: $nearDists")
    assert(randomDists.min > 8, s"random-pair hamming too low: $randomDists")
  }

  test("connectedComponents resolves transitive duplicate groups") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 10L), (7L, 5L))
      .toDF("doc_a", "doc_b")
    val labels = DedupOps.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      5L -> 5L, 7L -> 5L))
  }

  test("connectedComponents converges on a long chain") {
    val chain = (0 until 30).map(i => (i.toLong, i + 1L)).toDF("doc_a", "doc_b")
    val labels = DedupOps.connectedComponents(chain, maxIter = 40).collect()
    assert(labels.length == 31)
    assert(labels.forall(_.getLong(1) == 0L))
  }

  test("dedupCorpus keeps one canonical doc per planted duplicate cluster") {
    // planted near-dups (i, i+10000) share ~90% of shingles; the exact
    // dup (0, 20000) shares all — every cluster must collapse to its
    // min id, originals not in any cluster must all survive
    val surviving = DedupOps.dedupCorpus(withPlanted, blockCol = "source")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    (0L until 10L).foreach { i =>
      assert(surviving.contains(i), s"canonical doc $i must survive")
      assert(!surviving.contains(i + 10000), s"near-dup of $i must be dropped")
    }
    assert(!surviving.contains(20000L), "exact dup must be dropped")
    // the defining invariant: no ≥-threshold pair survives (two such
    // survivors would have shared a component, and only one member of
    // a component is kept)
    val kept = withPlanted.join(
      surviving.toSeq.toDF("doc_id"), Seq("doc_id"), "left_semi")
    val remaining = DedupOps.ngramJaccardPairs(kept, blockCol = "source")
      .filter($"jaccard" >= 0.5).count()
    assert(remaining == 0L, s"$remaining high-jaccard pairs survived dedup")
  }

  test("dedupCorpusLsh drops LSH-caught duplicates, never a clean doc") {
    val surviving = DedupOps.dedupCorpusLsh(withPlanted)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the exact duplicate collides in every band — always dropped
    assert(!surviving.contains(20000L))
    assert(surviving.contains(0L))
    // planted near-dups are caught with LSH probability (~0.84/pair at
    // these parameters); require most, as in the candidate-pair spec
    val caught = (0L until 10L).count(i => !surviving.contains(i + 10000))
    assert(caught >= 7, s"LSH dedup caught only $caught of 10 planted near-dups")
    // precision is exact: canonical docs all survive
    (0L until 10L).foreach(i => assert(surviving.contains(i)))
  }

  test("a malformed spark.graft.cc.localEdgeLimit fails naming the setting and value") {
    val edges = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    spark.conf.set("spark.graft.cc.localEdgeLimit", "500k")
    try {
      val e = intercept[IllegalArgumentException](DedupOps.connectedComponents(edges))
      assert(e.getMessage.contains("spark.graft.cc.localEdgeLimit"))
      assert(e.getMessage.contains("'500k'"))
    } finally spark.conf.unset("spark.graft.cc.localEdgeLimit")
  }

  test("dedupByPairs drops non-canonical members across transitive chains") {
    val docs3 = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("doc_id", "text")
    // chain 1-2-3: one survivor (1); 4 untouched
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val out = DedupOps.dedupByPairs(docs3, pairs).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 4L))
  }

  test("connectedComponents releases superseded checkpoint blocks") {
    // Start from a clean slate: other suites share this session.
    val sc = spark.sparkContext
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    // A 2000-node path needs many star-alternation rounds — the shape
    // where the old leak accumulated ~2 persisted block sets per round.
    // Force the DISTRIBUTED path (r19: edge sets this small normally
    // take the driver-local union-find) so the loop's release
    // discipline stays covered.
    spark.conf.set("spark.graft.cc.localEdgeLimit", "0")
    val chain = (0 until 2000).map(i => (i.toLong, i + 1L)).toDF("doc_a", "doc_b")
    try {
      val labels = DedupOps.connectedComponents(chain, maxIter = 40)
      assert(labels.count() == 2001L)
      // After the run only `input` and the final edge set may remain
      // persisted (the result frame still reads them); a leak on this
      // many rounds would leave dozens of entries.
      val live = sc.getPersistentRDDs.size
      assert(live <= 3, s"expected ≤3 persisted checkpoint block sets, found $live")
    } finally spark.conf.unset("spark.graft.cc.localEdgeLimit")
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  test("connectedComponents local fast path agrees with the distributed loop " +
    "and releases its edge blocks") {
    val sc = spark.sparkContext
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val edges = ((0 until 500).map(i => (i.toLong, i + 1L)) ++
      Seq((10000L, 10001L), (42L, 42L), (77777L, 77777L)))
      .toDF("doc_a", "doc_b")
    // default limit (500k) ⇒ local union-find
    val local = DedupOps.connectedComponents(edges, maxIter = 40)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // after the local path only `input` may stay persisted (the result
    // frame's labeling join reads it); the collected edge set must not
    val liveLocal = sc.getPersistentRDDs.size
    assert(liveLocal <= 2, s"local path leaked blocks: $liveLocal live")
    spark.conf.set("spark.graft.cc.localEdgeLimit", "0")
    try {
      val dist = DedupOps.connectedComponents(edges, maxIter = 40)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dist == local, "local union-find must equal star alternation")
    } finally spark.conf.unset("spark.graft.cc.localEdgeLimit")
    assert(local(10001L) == 10000L)
    assert(local(77777L) == 77777L, "self-loop-only node labels itself")
    assert((0 to 500).forall(i => local(i.toLong) == 0L))
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  test("shingles handle degenerate inputs") {
    val df = Seq((1L, "a b"), (2L, ""), (3L, "x y z")).toDF("doc_id", "text")
    val out = df.select($"doc_id", DedupOps.shingles($"text").as("g")).orderBy("doc_id").collect()
    assert(out(0).getSeq[String](1).isEmpty) // 2 tokens < k=3
    assert(out(1).getSeq[String](1).isEmpty)
    assert(out(2).getSeq[String](1) == Seq("x y z"))
  }

  test("contaminatedDocs flags exactly the docs sharing a 3-gram with the benchmark") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta"), // shares "alpha beta gamma" with bench
      (2L, "epsilon zeta eta theta"), // clean
      (3L, "beta gamma alpha"), // same words, different 3-gram order: clean
      (4L, "x alpha beta gamma"), // shares one gram
      (5L, "too short")).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma")).toDF("doc_id", "text")
    val out = DedupOps.contaminatedDocs(corpus, bench).orderBy("doc_id").collect()
    assert(out.map(r => r.getLong(0) -> r.getBoolean(2)).toSeq ==
      Seq(1L -> true, 2L -> false, 3L -> false, 4L -> true, 5L -> false))
    assert(out(0).getLong(1) == 1L && out(3).getLong(1) == 1L)
  }

  test("fuzzy decontamination flags near-duplicates of benchmark docs, not mere overlap") {
    val benchText = "the quick brown fox jumps over the lazy dog every single morning"
    val corpus = Seq(
      (1L, benchText), // verbatim leak: jaccard 1.0
      // light paraphrase: one word changed near the end — most 3-grams shared
      (2L, "the quick brown fox jumps over the lazy dog every single evening"),
      // shares a phrase but mostly different: below threshold
      (3L, "the quick brown fox is a common typing exercise used by many"),
      (4L, "completely unrelated text about distributed aggregation plans"),
      (5L, "")).toDF("doc_id", "text")
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val out = DedupOps.contaminatedDocsFuzzy(corpus, bench, threshold = 0.5)
      .orderBy("doc_id").collect()
    val flags = out.map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(flags(1L) && flags(2L), s"verbatim and paraphrase must flag: ${out.mkString(", ")}")
    assert(!flags(3L) && !flags(4L) && !flags(5L),
      s"partial overlap / unrelated / empty must pass: ${out.mkString(", ")}")
    val best = out.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(best(1L) == 1.0)
    assert(best(2L) > 0.5 && best(2L) < 1.0, s"paraphrase jaccard: ${best(2L)}")
  }

  test("repetitionColumns measure duplicate n-grams and the top-token share") {
    val df = Seq(
      (1L, "a a a a"), // every 2/3-gram duplicated, top token = all
      (2L, "a b c d"), // no repetition
      (3L, "")) // degenerate: all fractions 0
      .toDF("doc_id", "text")
      .select($"doc_id", TextAnalysis.tokens($"text").as("toks"))
    val out = df.select(Seq($"doc_id") ++ TextAnalysis.repetitionColumns($"toks"): _*)
      .orderBy("doc_id").collect()
    // doc 1: 3 bigrams all "a a" → dup frac 2/3; 2 trigrams → 1/2; top 4/4
    assert(out(0).getDouble(1) == 0.6667 && out(0).getDouble(2) == 0.5)
    assert(out(0).getDouble(3) == 1.0)
    assert(out(1).getDouble(1) == 0.0 && out(1).getDouble(2) == 0.0)
    assert(out(1).getDouble(3) == 0.25)
    assert(out(2).getDouble(1) == 0.0 && out(2).getDouble(3) == 0.0)
  }
}
