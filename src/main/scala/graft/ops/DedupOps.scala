package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Document-level deduplication suite for training-data pipelines:
  * exact (fingerprint group-by), token-n-gram Jaccard, MinHash+LSH, and
  * SimHash. All stages are DataFrame ops: shingling and signatures are
  * per-row projections (no shuffle); candidate generation shuffles ONLY
  * on (band, signature) keys — the classic LSH trick that replaces the
  * O(n²) all-pairs comparison with equality joins, which is exactly what
  * scales to 100 TB corpora (pairs never materialize unless they collide
  * in a band).
  */
object DedupOps {

  /** Exact dedup: group identical texts by md5 fingerprint; keep the
    * lowest doc id as canonical. One shuffle on the 16-byte fingerprint
    * (never on the full text).
    */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Distinct word-k-gram shingles from a MATERIALIZED tokens column.
    *
    * Callers must project the tokens array in a SEPARATE select first:
    * referencing a `filter(split(...))` expression from inside the
    * per-position lambda re-evaluates the whole tokenization for every
    * element (measured 8.5× slower at sf0.1) — Catalyst does not CSE
    * across HOF lambda boundaries, but it DOES keep a multiply-referenced
    * alias from a previous projection as a materialized attribute.
    */
  def shinglesFromTokens(toks: Column, k: Int = 3): Column =
    array_distinct(transform(
      TextAnalysis.positions(size(toks) - (k - 1)),
      i => concat_ws(" ", (0 until k).map(j => element_at(toks, i + j)): _*)))

  /** Convenience single-column form — only for small inputs / tests;
    * hot paths go through [[shinglesFromTokens]] (see its scaladoc).
    */
  def shingles(text: Column, k: Int = 3): Column =
    shinglesFromTokens(TextAnalysis.tokens(text), k)

  /** Explode the grams array via explode_OUTER + a post-Generate null
    * filter. Plain `explode` makes the InferFiltersFromGenerate rule
    * push an inferred `size(grams) > 0` predicate below the projection
    * with the ENTIRE shingle expression inlined — re-tokenizing every
    * row inside the filter (measured ~10× at sf0.1). The null filter on
    * the generated column is un-pushable by construction.
    */
  private def explodeGrams(withGrams: DataFrame, keep: Column*): DataFrame =
    withGrams
      .select(keep :+ explode_outer(col("grams")).as("gram"): _*)
      .filter(col("gram").isNotNull)

  /** (block, id, grams) with tokens materialized in their own projection
    * step — the shared scan shape of every shingle-based op here.
    */
  private def shingled(
      docs: DataFrame, blockCol: Option[String], idCol: String, textCol: String, k: Int): DataFrame = {
    val keep = blockCol.map(b => col(b).as("block")).toSeq :+ col(idCol).as("id")
    val kept = blockCol.map(_ => col("block")).toSeq :+ col("id")
    // NO size(grams)>0 filter here: a filter on the alias gets predicate-
    // pushed below the projection, re-inlining the whole shingle
    // expression into the slow single-use-collapse path (measured ~6× at
    // sf0.1). Downstream explodes drop empty arrays for free anyway.
    docs
      .select(keep :+ TextAnalysis.tokens(col(textCol)).as("toks"): _*)
      .select(kept :+ shinglesFromTokens(col("toks"), k).as("grams"): _*)
  }

  /** Exact Jaccard over shingle sets for pairs within a blocking key
    * that share AT LEAST ONE shingle. Set intersection runs as
    * explode → equality self-join on (block, shingle) → count, NOT as a
    * per-pair `array_intersect`: the join only materializes pairs that
    * actually overlap, so cost scales with the number of shared-shingle
    * occurrences instead of |block|² array scans — the difference
    * between minutes and hours at corpus scale (non-overlapping pairs,
    * the overwhelming majority, are never enumerated).
    *
    * `maxDocFreq` caps a shingle's document frequency WITHIN a block: a
    * shingle present in d docs fans the self-join out to d² rows, and
    * corpus-common shingles ("in order to", boilerplate headers) are
    * exactly such hot keys while carrying no dedup signal. Shingles
    * above the cap are dropped from BOTH the intersection and the
    * per-doc set size (Jaccard over the discriminative sub-vocabulary).
    * The blacklist of hot shingles is tiny by construction, so AQE
    * broadcasts the anti-join; the default never binds at test SFs
    * (every block has < 1000 docs) but bounds the worst key at corpus
    * scale to maxDocFreq² joined rows.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      blockCol: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3,
      maxDocFreq: Int = 1000): DataFrame = {
    val withShingles = shingled(docs, Some(blockCol), idCol, textCol, k)
    // shuffle 8-byte gram hashes, not gram strings: the join/agg keys
    // carry xxhash64(gram) from here on, shrinking every exchange by the
    // average shingle width. A cross-gram collision within one block
    // would need ~2^32 distinct shingles per block (birthday bound) —
    // far beyond a block's practical vocabulary.
    // EXPLICIT null filters on every downstream join/group key (r19,
    // guide §2.4): the self-join sides infer isnotnull(block, g64, id)
    // and push them into their scans while the gramCounts side infers
    // only isnotnull(id) — four canonically DIFFERENT subtrees, so
    // exchange reuse never fired and the scan+tokenize+shingle+explode
    // pass ran twice (the before-plan shows 4 separate
    // hashpartitioning(block, g64) exchanges). With the filters stated
    // once here, all four consumers share ONE exchange
    // (ReusedExchange in the after-plan). Semantics unchanged: block is
    // per-doc (a null-block doc never reaches `common`, and its
    // gramCounts row is only read via joins from `common`), null ids
    // never survive `a.id < b.id`, and xxhash64 is never null.
    val explodedAll = explodeGrams(withShingles, col("block"), col("id"))
      .select(col("block"), col("id"), xxhash64(col("gram")).as("g64"))
      .filter(col("block").isNotNull && col("id").isNotNull && col("g64").isNotNull)
    // shingle sets are distinct per doc ⇒ df = plain count per gram.
    // The cap runs as a WINDOW count over (block, g64) — the self-join
    // below shuffles on exactly those keys, so the window's exchange is
    // the join's exchange (reused), making the cap nearly free versus a
    // separate df-aggregate + anti-join (which adds a full extra
    // shuffle of the exploded grams).
    val dfWin = org.apache.spark.sql.expressions.Window.partitionBy("block", "g64")
    val exploded = explodedAll
      .withColumn("df", count(lit(1)).over(dfWin))
      .filter(col("df") <= maxDocFreq)
      .drop("df")
    val gramCounts = exploded.groupBy("id").agg(count(lit(1)).as("n_grams"))
    // each shared (surviving) shingle yields exactly one joined row per
    // pair: count == |intersection|
    val common = exploded.as("a")
      .join(exploded.as("b"),
        col("a.block") === col("b.block") && col("a.g64") === col("b.g64") &&
          col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    val union = col("n_grams_a") + col("n_grams_b") - col("n_common")
    common
      .join(gramCounts.select(col("id").as("doc_a"), col("n_grams").as("n_grams_a")), Seq("doc_a"))
      .join(gramCounts.select(col("id").as("doc_b"), col("n_grams").as("n_grams_b")), Seq("doc_b"))
      .select(
        col("doc_a"), col("doc_b"),
        col("n_common"),
        union.as("n_union"),
        round(col("n_common").cast(DoubleType) / union.cast(DoubleType), 4).as("jaccard"))
  }

  /** Benchmark decontamination — the pretraining hygiene step: flag
    * every corpus document sharing at least one word-k-gram with a
    * benchmark/eval set, so test data can be held out of the training
    * corpus. Returns one row per corpus doc:
    * (idCol, contaminated_grams, is_contaminated), where
    * `contaminated_grams` counts the doc's DISTINCT shingles that occur
    * anywhere in the benchmark.
    *
    * Shape at 100 TB: the benchmark gram set is tiny by construction
    * (eval suites are MBs, not TBs) — after the distinct it is one
    * small build side that AQE broadcasts, so the corpus side is a
    * single scan + broadcast-hash semi-probe, no corpus shuffle until
    * the per-doc count. Grams join as xxhash64 longs, not strings
    * (same birthday-bound argument as [[ngramJaccardPairs]]).
    */
  def contaminatedDocs(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3): DataFrame = {
    val corpusGrams = explodeGrams(shingled(corpus, None, idCol, textCol, k), col("id"))
      .select(col("id"), xxhash64(col("gram")).as("g64"))
    val benchGrams = explodeGrams(shingled(benchmark, None, idCol, textCol, k), col("id"))
      .select(xxhash64(col("gram")).as("g64")).distinct()
    val hits = corpusGrams.join(benchGrams, Seq("g64"))
      .groupBy("id").agg(count(lit(1)).as("contaminated_grams"))
    corpus.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .select(
        col("id").as(idCol),
        coalesce(col("contaminated_grams"), lit(0L)).as("contaminated_grams"),
        (coalesce(col("contaminated_grams"), lit(0L)) > 0L).as("is_contaminated"))
  }

  /** Distinct portable-hash 3-gram set per doc — the exact-verification
    * currency of [[contaminatedDocsFuzzy]] (PolyGramHashes values are
    * bit-equal to polyHash over the gram strings, so DuckDB replays the
    * sets; hash collisions merge identically on both engines).
    */
  private def portableGramSet(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
        graft.functions.PolyGramHashes(TextAnalysis.tokens(col(textCol)), 3).as("gs"))
      .select(col("id"), explode(col("gs")).as("g")).distinct()

  /** FUZZY benchmark decontamination (MinHash-LSH vs the eval set):
    * [[contaminatedDocs]] catches verbatim k-gram leakage; this form
    * catches NEAR-duplicates of benchmark documents — light paraphrase,
    * whitespace/punctuation drift — the eval-decontamination shape
    * NeMo-Curator/Dolma run alongside the exact pass. A corpus doc is
    * flagged when its exact 3-gram Jaccard similarity to a CANDIDATE
    * benchmark doc reaches `threshold`, where candidates come from a
    * MinHash-LSH pass. With `recallFloor` set (round 12, VERDICT r11
    * #5) the banding is DERIVED by [[bandsForThreshold]], so candidate
    * recall at `threshold` is a GUARANTEE parameter — ≥ recallFloor by
    * the S-curve bound, higher above the threshold — instead of the
    * default fixed 8-hash/4-band shape, whose recall at true Jaccard j
    * is 1-(1-j²)⁴ (≈ 68% at j = 0.5, ≈ 97% at j = 0.8, → 1 as j → 1).
    * Precision is exact either way (every flagged doc really clears
    * the verified Jaccard); run [[contaminatedDocs]] alongside for the
    * verbatim-leak guarantee.
    *
    * Shape at 100 TB: the benchmark side (signatures, bands, gram sets,
    * counts) is eval-suite-sized and BROADCASTS; the corpus pays one
    * signature pass and one gram-set pass, candidates come from a
    * banded equality join against the broadcast benchmark bands (never
    * corpus×corpus), and the exact-Jaccard verification touches only
    * candidate docs' grams (semi-join pruned). Portable hashing
    * end-to-end, so the whole pipeline — signatures, banding,
    * candidates, verification — is value-checkable in DuckDB
    * (`q_text_decontaminate_fuzzy`).
    */
  def contaminatedDocsFuzzy(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      threshold: Double = 0.8,
      recallFloor: Option[Double] = None,
      maxHashes: Int = 256): DataFrame = {
    val (nh, nb) = recallFloor
      .map(f => bandsForThreshold(threshold, f, maxHashes))
      .getOrElse((8, 4))
    val cb = minHashBandsPortable(corpus, idCol, textCol, nh, nb)
    val bb = minHashBandsPortable(benchmark, idCol, textCol, nh, nb)
      .withColumnRenamed("doc_id", "bench_id")
    val cand = cb.join(broadcast(bb), Seq("band_id", "band_sig"))
      .select(col("doc_id").as("cid"), col("bench_id")).distinct()
    val bg = portableGramSet(benchmark, idCol, textCol)
    // corpus gram sets restricted to candidate docs before any counting
    val cg = portableGramSet(corpus, idCol, textCol)
      .join(cand.select(col("cid").as("id")).distinct(), Seq("id"), "left_semi")
    val cn = cg.groupBy("id").agg(count(lit(1)).as("n_a"))
    val bn = bg.groupBy("id").agg(count(lit(1)).as("n_b"))
    val common = cand
      .join(cg.withColumnRenamed("id", "cid"), Seq("cid"))
      .join(broadcast(bg.select(col("id").as("bench_id"), col("g"))),
        Seq("bench_id", "g"))
      .groupBy("cid", "bench_id").agg(count(lit(1)).as("n_common"))
    val jac = common
      .join(cn.withColumnRenamed("id", "cid"), Seq("cid"))
      .join(broadcast(bn.withColumnRenamed("id", "bench_id")), Seq("bench_id"))
      .select(col("cid"),
        round(col("n_common").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("n_common")).cast(DoubleType), 4).as("j"))
    val perDoc = jac.groupBy("cid").agg(
      max(col("j")).as("best_jaccard"),
      count(when(col("j") >= threshold, 1)).as("fuzzy_matches"))
    corpus.select(col(idCol))
      .join(perDoc.withColumnRenamed("cid", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("best_jaccard"), lit(0.0)).as("best_jaccard"),
        coalesce(col("fuzzy_matches"), lit(0L)).as("fuzzy_matches"),
        (coalesce(col("fuzzy_matches"), lit(0L)) > 0L).as("is_contaminated"))
  }

  /** The standard LSH (b, r) S-curve solve (round 12, VERDICT r11 #5):
    * a banding whose CANDIDATE RECALL at Jaccard `threshold` is
    * guaranteed ≥ `recallFloor` — recall(j) = 1 − (1 − jʳ)ᵇ for b
    * bands of r rows, so the minimal band count at row width r is
    * b = ⌈ln(1−floor) / ln(1−threshold^r)⌉. Among feasible widths the
    * LARGEST r wins: a steeper S-curve passes the same floor at the
    * threshold while surfacing far fewer sub-threshold false
    * candidates (the verify stage's cost), and the hash budget
    * `maxHashes` is what bounds it. Returns (numHashes = b·r, bands
    * = b) — directly the [[dedupCorpusLsh]] / [[lshBands]] parameter
    * shape. Throws when no banding within the budget reaches the
    * floor, rather than silently under-recalling.
    */
  def bandsForThreshold(
      threshold: Double,
      recallFloor: Double = 0.9,
      maxHashes: Int = 256): (Int, Int) = {
    require(threshold > 0 && threshold < 1, s"threshold must be in (0,1), got $threshold")
    require(recallFloor > 0 && recallFloor < 1, s"recallFloor must be in (0,1), got $recallFloor")
    require(maxHashes >= 1, s"maxHashes must be positive, got $maxHashes")
    // row width is only bounded by the hash budget itself (b >= 1 forces
    // b*r >= r, so r > maxHashes can never be feasible) — no silent cap
    val feasible = (1 to maxHashes).flatMap { r =>
      val pr = math.pow(threshold, r)
      val b = math.max(1L,
        math.ceil(math.log1p(-recallFloor) / math.log1p(-pr)).toLong)
      // divide, don't multiply: at wide r the minimal band count blows up
      // toward Long.MaxValue and b*r would overflow-wrap past the budget
      if (b <= maxHashes / r) Some((r, b.toInt)) else None
    }
    require(feasible.nonEmpty,
      s"no (bands, rows) within $maxHashes hashes reaches recall " +
        s"$recallFloor at j=$threshold — raise maxHashes or lower the floor")
    val (r, b) = feasible.maxBy(_._1)
    (b * r, b)
  }

  /** Theoretical LSH candidate recall at true Jaccard `j` for the
    * (numHashes, bands) shape — the curve [[bandsForThreshold]] solves
    * and `q_text_lsh_calibration` measures.
    */
  def lshRecall(j: Double, numHashes: Int, bands: Int): Double = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    1.0 - math.pow(1.0 - math.pow(j, numHashes.toDouble / bands), bands.toDouble)
  }

  /** [[dedupCorpusLsh]] with the banding DERIVED from the dedup
    * threshold and a recall floor instead of hand-picked constants:
    * the caller states "find ≥`threshold` duplicates, catch at least
    * `recallFloor` of them" and the S-curve solve picks (hashes,
    * bands). The recall caveat of fixed-shape LSH becomes a parameter.
    */
  def dedupCorpusLshCalibrated(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleK: Int = 3,
      threshold: Double = 0.5,
      recallFloor: Double = 0.9,
      maxHashes: Int = 256): DataFrame = {
    val (n, b) = bandsForThreshold(threshold, recallFloor, maxHashes)
    dedupCorpusLsh(docs, idCol, textCol, n, b, shingleK, threshold)
  }

  /** MinHash signatures: `numHashes` permutations approximated by
    * re-hashing a single xxhash64 of each shingle with the permutation
    * index (`xxhash64(g64, i)` — fixed-width long hashing, far cheaper
    * than numHashes string hashes, and overflow-free under ANSI mode
    * unlike multiply-add mixing). One explode + one groupBy(doc) with
    * numHashes `min` partial aggregates: map-side combine keeps the
    * shuffle at |docs| rows regardless of corpus size.
    */
  def minHashSignatures(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 32,
      shingleK: Int = 3): DataFrame = {
    val exploded = explodeGrams(shingled(docs, None, idCol, textCol, shingleK), col("id"))
      .select(col("id"), xxhash64(col("gram")).as("g64"))
    val minCols = (0 until numHashes).map(i => min(xxhash64(col("g64"), lit(i))).as(s"h$i"))
    exploded.groupBy("id").agg(minCols.head, minCols.tail: _*)
  }

  /** Engine-portable string hash: polynomial fold of character codes,
    * `h = (h*31 + ascii(c)) mod 1e9+7` — exactly expressible in DuckDB
    * (`list_reduce`/`list_transform`/`ascii` over a char split), so
    * hash-dependent operators built on it (minhash, simhash) get REAL
    * value-level oracles instead of rows-only checks. ~30 bits of output;
    * the xxhash64-based ops remain the hot path, this is the
    * cross-engine-verifiable twin.
    */
  def polyHash(s: Column): Column = graft.functions.PolyHash(s)

  /** The HOF formulation of [[polyHash]] — kept as the executable
    * specification the native expression is tested against
    * (PortableHashSpec), and the shape the DuckDB oracle mirrors.
    */
  private[ops] def polyHashHof(s: Column): Column = aggregate(
    filter(split(s, ""), c => length(c) > 0),
    lit(0L),
    (a, c) => (a * 31L + ascii(c).cast(LongType)) % 1000000007L)

  /** MinHash signatures over [[polyHash]] shingle hashes: permutation i is
    * the affine re-hash `(a_i·g + b_i) mod p` (a_i odd, overflow-free at
    * p≈2^30). Same explode → groupBy(min…) shape as
    * [[minHashSignatures]]; every value is reproducible in DuckDB.
    */
  def minHashSignaturesPortable(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 8,
      shingleK: Int = 3): DataFrame = {
    // gram hashes come straight off the token array in one generated
    // loop (PolyGramHashes) — bit-equal to hashing the concat_ws gram
    // strings, which the interpreted transform+concat_ws path built one
    // allocation at a time (the measured bottleneck of this signature
    // pass). Duplicate grams stay: every column below is a MIN, and min
    // over a multiset equals min over its set.
    val exploded = docs
      .select(col(idCol).as("id"),
        graft.functions.PolyGramHashes(
          TextAnalysis.tokens(col(textCol)), shingleK).as("gs"))
      .select(col("id"), explode(col("gs")).as("g"))
    val minCols = (0 until numHashes).map(i =>
      min((col("g") * lit(2L * i + 3) + lit(5L * i + 7)) % lit(1000000007L)).as(s"h$i"))
    exploded.groupBy("id").agg(minCols.head, minCols.tail: _*)
  }

  /** [[minHashSignaturesPortable]] folded to LONG band rows
    * (doc_id, band_id, band_sig): band j pairs signature slots 2j and
    * 2j+1 through the same `(h·31 + h') mod 1e9+7` fold as the wide
    * `q_text_minhash_portable` form — every value DuckDB-reproducible,
    * and the row shape [[graft.stream.DedupIndex]] probes and persists.
    */
  def minHashBandsPortable(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 8,
      bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    val sig = minHashSignaturesPortable(docs, idCol, textCol, numHashes)
    // band j folds its r signature slots left-to-right through the same
    // `acc·31 + h (mod 1e9+7)` chain as the r=2 default — DuckDB-
    // reproducible at every width
    val bandStructs = (0 until bands).map { j =>
      val sigCol = (1 until r).foldLeft(col(s"h${j * r}")) { (acc, i) =>
        (acc * 31L + col(s"h${j * r + i}")) % 1000000007L
      }
      struct(lit(j.toLong).as("band_id"), sigCol.as("band_sig"))
    }
    sig.select(col("id").as("doc_id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("doc_id"), col("b.band_id").as("band_id"),
        col("b.band_sig").as("band_sig"))
  }

  /** SimHash over [[polyHash]] token hashes (30 usable bits), in the same
    * aggregation form as [[simHashDf]] — fully oracle-checkable.
    */
  def simHashPortableDf(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      bits: Int = 30): DataFrame = {
    val hashed = docs
      .select(col(idCol).as("id"), explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .select(col("id"), polyHash(col("tok")).as("h"))
    val votes = (0 until bits).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)).as(s"v$i"))
    val packed = (0 until bits)
      .map(i => when(col(s"v$i") > 0L, lit(1L << i)).otherwise(0L))
      .reduce(_ + _)
    hashed
      .groupBy("id")
      .agg(votes.head, votes.tail: _*)
      .select(col("id"), packed.as("simhash"))
  }

  /** LSH banding over a signature frame: (id, band_id, band_sig) rows.
    * Docs sharing any (band_id, band_sig) are candidate duplicates.
    */
  def lshBands(sig: DataFrame, numHashes: Int = 32, bands: Int = 8): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b.toLong).as("band_id"),
        hash((b * r until (b + 1) * r).map(i => col(s"h$i")): _*).cast(LongType).as("band_sig"))
    }
    sig.select(col("id"), explode(array(bandStructs: _*)).as("band"))
      .select(col("id"), col("band.band_id").as("band_id"), col("band.band_sig").as("band_sig"))
  }

  /** Candidate pairs from LSH bands: equality self-join on
    * (band_id, band_sig) — the only shuffle of the pipeline — then
    * distinct pairs.
    *
    * `maxBucket` skips degenerate buckets: a (band, signature) bucket of
    * d docs yields d² candidate rows, and pathological corpora produce
    * exactly such buckets (every empty/boilerplate doc shares one
    * signature). A bucket that large is not "near-duplicate pairs", it
    * is an equivalence class better handled by [[exactGroups]]; skipping
    * it bounds the join at maxBucket² rows per bucket. The default never
    * binds at test SFs.
    */
  def minHashCandidates(bandsDf: DataFrame, maxBucket: Int = 1000): DataFrame = {
    val hotBuckets = bandsDf
      .groupBy("band_id", "band_sig").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket)
      .select("band_id", "band_sig")
    val kept = bandsDf.join(hotBuckets, Seq("band_id", "band_sig"), "left_anti")
    val a = kept.select(col("band_id"), col("band_sig"), col("id").as("doc_a"))
    val b = kept.select(col("band_id"), col("band_sig"), col("id").as("doc_b"))
    a.join(b, Seq("band_id", "band_sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** Full MinHash-LSH near-dup pipeline: signatures → bands → candidate
    * pairs → exact-Jaccard verification ≥ threshold.
    */
  def minHashNearDups(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 32,
      bands: Int = 8,
      shingleK: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val cands = minHashCandidates(
      lshBands(minHashSignatures(docs, idCol, textCol, numHashes, shingleK), numHashes, bands))
    val grams = shingled(docs, None, idCol, textCol, shingleK)
    val ga = grams.select(col("id").as("doc_a"), col("grams").as("grams_a"))
    val gb = grams.select(col("id").as("doc_b"), col("grams").as("grams_b"))
    val inter = size(array_intersect(col("grams_a"), col("grams_b"))).cast(LongType)
    val union = (size(col("grams_a")) + size(col("grams_b"))).cast(LongType) - inter
    cands
      .join(ga, Seq("doc_a"))
      .join(gb, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(inter.cast(DoubleType) / union.cast(DoubleType), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash in aggregation form — the hot-path / cluster-scale shape:
    * explode tokens, hash each once, then 64 conditional SUMs (one per
    * bit) in a single hash aggregate, then a pure-projection pack.
    * Everything is whole-stage-codegen'd and map-side combined, so the
    * shuffle carries |docs| rows of 64 longs.
    *
    * (A staged-projection HOF formulation does NOT work: CollapseProject
    * re-inlines single-use aliases, landing the token-hash computation
    * back inside the per-bit fold lambdas — measured 500+ s at sf0.1
    * versus ~2 s for this form.)
    */
  def simHashDf(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val hashed = docs
      .select(col(idCol).as("id"), explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .select(col("id"), xxhash64(col("tok")).as("h"))
    val votes = (0 until 64).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)).as(s"v$i"))
    val packed = (0 until 64)
      .map(i => when(col(s"v$i") > 0L, lit(1L << i)).otherwise(0L))
      .reduce(_ + _)
    hashed
      .groupBy("id")
      .agg(votes.head, votes.tail: _*)
      .select(col("id"), packed.as("simhash64"))
  }

  /** Per-bit vote vector: votes[bit] = Σ_tokens (bit set ? +1 : −1). */
  private def voteVector(tokenHashes: Column): Column =
    transform(
      sequence(lit(0), lit(63)),
      bit => aggregate(
        tokenHashes,
        lit(0L),
        (acc, h) => acc + when(
          call_function("shiftright", h, bit.cast(IntegerType)).bitwiseAND(1L) === 1L,
          1L).otherwise(-1L)))

  /** Pack the sign of each vote into one 64-bit fingerprint. */
  private def packVotes(votes: Column): Column =
    aggregate(
      sequence(lit(0), lit(63)),
      lit(0L),
      (acc, bit) => acc + when(
        element_at(votes, bit + 1) > 0L,
        call_function("shiftleft", lit(1L), bit.cast(IntegerType))).otherwise(0L))

  /** 64-bit SimHash over token hashes: per token compute xxhash64, then
    * for each bit position vote +1/−1 weighted by term frequency; the
    * sign vector packs into one long. Single-Column convenience form —
    * for hot paths use [[simHashDf]] (see its scaladoc).
    */
  def simHash(text: Column): Column =
    packVotes(voteVector(transform(TextAnalysis.tokens(text), t => xxhash64(t))))

  /** Connected components over an undirected near-dup pair list — the
    * canonicalization step of a dedup pipeline: pairs say "these two are
    * duplicates", components say "keep ONE doc per transitive group".
    * Returns (node, label) with label = the minimum id reachable from
    * the node, for every node appearing in `edges`.
    *
    * Alternating large-star / small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond") instead of min-label
    * propagation (VERDICT r4 #3): propagation needs diameter rounds (a
    * 1000-link chain of near-dups = 1000 rounds) and funnels every
    * member of a skewed component through its min label; star
    * alternation converges in O(log²) rounds — in practice a handful —
    * and each round's joins key on NODE ids with degrees the
    * alternation itself keeps shrinking, so no single hot key emerges.
    * Per round: large-star points every larger neighbor of u at the min
    * of u's closed neighborhood; small-star re-points every smaller
    * neighbor (and u) at the min. Both are one combinable groupBy + one
    * equality join. At the fixed point the edge set is exactly
    * {(member, component-min)}.
    *
    * Each phase is checkpointed: persist alone caches data but the
    * logical plan would re-embed the previous round's tree
    * (exponential plan by ~round 25). `reliable = true` uses reliable
    * `checkpoint` (requires `SparkContext.setCheckpointDir`) so an
    * executor loss mid-computation recovers from the checkpoint store
    * instead of killing the query — the 100×-scale option;
    * `localCheckpoint` blocks (default) die with their executor.
    * Superseded rounds are unpersisted as they go, so at most THREE
    * block sets are ever live (`input`, plus two in-flight phases);
    * the returned frame still reads `input` and the final edge set, so
    * those two stay persisted until the caller is done with the result
    * (a session `clearCache`/unpersist sweep reclaims them).
    *
    * Convergence = the (count, hash-xor) signature of the edge set is
    * unchanged across a full round — one tiny aggregate over the
    * just-checkpointed blocks (no join), not the extra join-and-count
    * job per round the propagation version paid. XOR, not sum: the
    * edges are distinct so the xor-fold is a faithful set signature,
    * it is order-independent, and it cannot hit ANSI-mode long
    * overflow the way summing full-range xxhash64 values does. A
    * colliding signature would stop one round early with probability
    * ~2⁻⁶⁴.
    *
    * SIZE-ADAPTIVE (r19): when the distinct non-self edge count (read
    * off the initial signature) is at most
    * `spark.graft.cc.localEdgeLimit` (default 500 000) and node ids are
    * longs, the closure runs as union-by-min union-find on the DRIVER
    * over one collect of the checkpointed edges — identical (node, min
    * reachable id) output, zero loop jobs. Duplicate-pair edge sets are
    * metadata-scale relative to their corpus, so this is the common
    * case; the star loop remains the arbitrarily-large-graph path.
    */
  def connectedComponents(
      edges: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b",
      maxIter: Int = 25, reliable: Boolean = false): DataFrame = {
    // parsed before any job runs: a bad value fails naming the setting
    val localLimit = edges.sparkSession.conf.getOption("spark.graft.cc.localEdgeLimit")
      .map(v => v.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"spark.graft.cc.localEdgeLimit must be a whole number of edges, got '$v'")))
      .getOrElse(500000L)
    def ckpt(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
    // Superseded rounds MUST release their blocks: localCheckpoint
    // persists MEMORY_AND_DISK and the blocks are non-recomputable, so
    // without unpersist the footprint is O(rounds × |edges|) and
    // memory-pressure eviction at scale kills the query outright (and
    // locally the leaked blocks poison every later measurement in the
    // session). The checkpointed Dataset's plan is exactly one
    // LogicalRDD wrapping the persisted RDD — unpersist that directly
    // (deterministic; no getPersistentRDDs diffing, which would
    // mis-attribute ids under concurrent queries). Reliable checkpoints
    // aren't block-persisted, so there unpersist is a harmless no-op.
    // quietly: the "lineage truncated, cannot be recomputed" WARN this
    // unpersist triggers is the EXPECTED outcome (the blocks are
    // superseded; release order is spec-asserted), not data loss —
    // clamp it so a CC run doesn't spray dozens of scary lines
    def release(df: DataFrame): Unit =
      df.queryExecution.analyzed.collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }.foreach(r => graft.util.QuietLogs.quietly(graft.util.QuietLogs.SparkRddPackage)(
        r.unpersist(blocking = false)))
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.agg(
        count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    // checkpoint the RAW edge list first: `nodes` and `e` both consume
    // it, and deriving each straight from the caller's (possibly huge —
    // a whole shingle-join pipeline) plan would execute that plan twice.
    // One materialization, two cheap derivations from its blocks.
    val input = ckpt(edges.select(col(aCol).as("u"), col(bCol).as("v")))
    // every endpoint keeps a label even if its only edge is a self-loop;
    // used once (the final labeling join), so no checkpoint of its own
    val nodes = input.select(col("u").as("node"))
      .union(input.select(col("v").as("node"))).distinct()

    var e = ckpt(input.filter(col("u") =!= col("v")).distinct())
    var iter = 0
    var prev = (-1L, -1L)
    val sig0 = signature(e)
    var converged = sig0._1 == 0L
    // Driver-local fast path (optimization r19, guide §1.2/§5): dup-pair
    // edge sets are METADATA-SCALE relative to the corpus they came from
    // (pairs are the exception, not the rule), and the star-alternation
    // loop pays ~3 driver-sequential jobs per round regardless of size —
    // the dominant cost of every dedup closure at bench scale. When the
    // DISTINCT non-self edge count (already known from the convergence
    // signature) fits the bound, collect the checkpointed edges once and
    // run union-by-min union-find on the driver — the same (node, min
    // reachable id) fixed point, computed in O(E α(E)) with zero extra
    // jobs. The bound is conf-tunable (`spark.graft.cc.localEdgeLimit`,
    // default 500k edges ≈ tens of MB on the driver — the same size
    // class as a broadcast build side); past it, or for non-long node
    // ids, the loop below handles arbitrarily large graphs unchanged.
    val longIds = e.schema.fields.forall(_.dataType == LongType)
    if (!converged && longIds && sig0._1 <= localLimit) {
      val spark = edges.sparkSession
      val collected = e.collect() // reads the checkpointed blocks
      release(e) // the labeling below no longer reads e
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x
        while (parent.getOrDefault(c, c) != r) {
          val n = parent.get(c); parent.put(c, r); c = n
        }
        r
      }
      collected.foreach { row =>
        val ra = find(row.getLong(0))
        val rb = find(row.getLong(1))
        // union by MIN: the root of every tree is its component minimum,
        // so find(node) IS the min reachable id — the loop's fixed point
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
      val seen = new java.util.HashSet[Long]()
      collected.foreach { row => seen.add(row.getLong(0)); seen.add(row.getLong(1)) }
      import scala.jdk.CollectionConverters._
      import spark.implicits._
      val labeled = seen.iterator().asScala
        .map(n => (n.toLong, find(n))).toSeq
        .toDF("node", "lbl")
      return nodes.join(labeled, Seq("node"), "left")
        .select(col("node"), coalesce(col("lbl"), col("node")).as("label"))
    }
    while (!converged && iter < maxIter) {
      // large-star: (v, min(Γ⁺(u))) for every neighbor v > u.
      // Checkpointed eagerly like `small`: the small-star phase
      // references it twice, and a lazy persist measured ~25% SLOWER
      // here — the truncated materialized plan also gives AQE exact
      // stats for the next phase's join planning.
      val nbrs = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val minsL = nbrs.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = ckpt(nbrs.join(minsL, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct())
      // `large` is materialized ⇒ the previous round's edge set is
      // superseded (the new e derives from `large` alone; convergence
      // reads `small`; only the FINAL e feeds the labeling join — and
      // that one exits the loop un-released). `input` stays persisted
      // for the whole run: `nodes` re-reads it in the labeling join.
      release(e)
      // small-star: direct large→small, re-point all smaller neighbors
      // (and u itself) at the minimum
      val dir = large.select(
        greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val minsS = dir.groupBy("u").agg(min("v").as("mn"))
      val small = ckpt(dir.join(minsS, "u")
        .filter(col("v") =!= col("mn"))
        .select(col("v").as("u"), col("mn").as("v"))
        .union(minsS.select(col("u"), col("mn").as("v")))
        .distinct())
      release(large) // superseded by `small` the moment it materializes
      val cur = signature(small)
      converged = cur == prev
      prev = cur
      e = small
      iter += 1
    }
    require(converged,
      s"star alternation did not converge in $maxIter rounds — raise maxIter")
    // fixed point ⇒ each non-root has exactly one outgoing (node, root)
    // edge; roots and self-loop-only nodes label themselves
    nodes.join(e.select(col("u").as("node"), col("v").as("lbl")), Seq("node"), "left")
      .select(col("node"), coalesce(col("lbl"), col("node")).as("label"))
  }

  /** Survivors of `docs` after dropping every non-canonical member of
    * each duplicate cluster implied by `pairs` (transitive closure via
    * [[connectedComponents]]; canonical = cluster minimum, which is
    * exactly the CC label). Schema-preserving: returns `docs` rows.
    *
    * 100 TB shape: the loser list is |duplicate docs| rows of one id
    * column. At typical dup rates AQE sees the small runtime size and
    * broadcasts the anti-join (corpus unshuffled); at adversarial dup
    * rates (web-scale corpora run 30%+) broadcast would be WRONG, and
    * the plan correctly degrades to ONE equality shuffle of the corpus
    * on its id — no hint pins either choice, that is exactly the
    * decision AQE exists to make at runtime. Total cost on top of the
    * candidate pipeline is the O(log² n) CC rounds over just the
    * colliding pairs.
    */
  def dedupByPairs(
      docs: DataFrame, pairs: DataFrame, idCol: String = "doc_id",
      aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    val losers = connectedComponents(pairs, aCol, bCol)
      .filter(col("node") =!= col("label"))
      .select(col("node").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** End-to-end near-dup corpus dedup — the operation a training
    * pipeline actually runs, composed from the pieces callers
    * previously hand-assembled: shingle-Jaccard candidate pairs above
    * `minJaccard` → transitive closure → keep the min-id doc per
    * cluster → anti-join the rest out. For LSH-scale candidate
    * generation feed [[minHashNearDups]] output to [[dedupByPairs]]
    * instead; this exact-Jaccard form is the deterministic,
    * oracle-checkable default.
    */
  def dedupCorpus(
      docs: DataFrame,
      blockCol: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3,
      minJaccard: Double = 0.5,
      maxDocFreq: Int = 1000): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in (0, 1], got $minJaccard")
    val pairs = ngramJaccardPairs(docs, blockCol, idCol, textCol, k, maxDocFreq)
      .filter(col("jaccard") >= minJaccard)
    dedupByPairs(docs, pairs, idCol)
  }

  /** [[dedupCorpus]]'s LSH variant — the default at corpus scale:
    * candidate pairs come from MinHash banding (equality joins on band
    * signatures, no per-block all-pairs term) and are verified by exact
    * Jaccard before entering the closure, so precision is exact (every
    * dropped doc really had a ≥-threshold partner) while candidate
    * recall is the usual LSH probability — a pair every band misses
    * stays duplicated, the safe failure direction for dedup.
    */
  def dedupCorpusLsh(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 32,
      bands: Int = 8,
      shingleK: Int = 3,
      threshold: Double = 0.5): DataFrame =
    dedupByPairs(docs,
      minHashNearDups(docs, idCol, textCol, numHashes, bands, shingleK, threshold),
      idCol)

  // ---- cross-corpus line dedup (CCNet/C4-style) ---------------------------

  /** Segment each document into fixed-size token "lines":
    * (id, line_no, line) with `tokensPerLine` tokens per line (the last
    * line of a doc may be shorter). For naturally line-structured text,
    * split on the real delimiter instead and feed
    * [[dropDuplicatedLines]] directly — this helper exists for corpora
    * without delimiters. Pure projection + explode: no shuffle.
    */
  def segmentTokenLines(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      tokensPerLine: Int = 8): DataFrame = {
    require(tokensPerLine >= 1, "tokensPerLine must be >= 1")
    val k = tokensPerLine
    docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), when(size(col("__toks")) === 0, array())
        .otherwise(transform(
          sequence(lit(0), ((size(col("__toks")) - 1) / lit(k)).cast("int")),
          i => array_join(slice(col("__toks"), i * k + 1, lit(k)), " ")))
        .as("__lines"))
      .select(col(idCol), posexplode(col("__lines")).as(Seq("line_no", "line")))
      .withColumn("line_no", col("line_no").cast(org.apache.spark.sql.types.LongType))
  }

  /** Cross-corpus duplicated-line removal — the C4/CCNet boilerplate
    * filter: drop every line whose DOC-FREQUENCY (distinct documents
    * containing it) exceeds `maxDocFreq`; navigation chrome, cookie
    * banners and licence blurbs repeat across thousands of pages and
    * survive document-level dedup because each HOST page is unique.
    *
    * 100 TB shape: ONE exchange on the line text — the doc-frequency
    * runs as window functions over `partitionBy(line)` instead of the
    * former count-distinct aggregate + left-semi join back, which
    * shuffled every line string TWICE (once into the distinct
    * aggregate's Expand, once as the semi-join probe side; measured
    * ~2× the whole operator at sf0.1). Within the single sorted
    * partition, a row opens a new distinct document iff its id differs
    * from the previous row's (ids sort together), so
    * `sum(boundary flags) over (partition by line)` IS
    * `count(distinct id)` — null ids contribute 0, exactly
    * count-distinct's null semantics. Exact string grouping, not a
    * hash digest: a 64-bit digest collision at 10¹⁰ lines would
    * silently delete an innocent line, and unlike the gram-key joins
    * (where a collision only inflates one Jaccard estimate) the
    * failure here would be data loss. A boilerplate line hot enough to
    * skew its partition lands on one task under EITHER formulation
    * (the semi-join probe co-located all its occurrences too); the
    * window buffers spill via the unsafe-row array, and the flag/sum
    * state is O(1) per row.
    */
  def dropDuplicatedLines(
      lines: DataFrame,
      idCol: String = "doc_id",
      lineCol: String = "line",
      maxDocFreq: Int = 1): DataFrame = {
    require(maxDocFreq >= 1, "maxDocFreq must be >= 1")
    // graft-prefixed temp names + a loud guard (ADVICE r18): the former
    // __new/__df would silently overwrite-and-drop a caller's column of
    // the same name (the old aggregate+semi-join formulation never
    // touched the input's columns)
    val newCol = "__graft_line_new"
    val dfCol = "__graft_line_df"
    require(!lines.columns.contains(newCol) && !lines.columns.contains(dfCol),
      s"dropDuplicatedLines: input must not carry reserved columns $newCol/$dfCol")
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col(lineCol)).orderBy(col(idCol))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col(lineCol))
    lines
      // NULL lines drop (r19, VERDICT r18 #2): the pre-r18 semi-join
      // dropped them (null join keys never match) and the oracle's
      // `JOIN dfreq USING (line)` agrees; the r18 window form silently
      // kept them. Unreachable for string_agg-built lines, but pinned
      // explicitly — and by LineDedupSpec — so the engine can never
      // drift from the declared oracle SQL on a future corpus.
      .filter(col(lineCol).isNotNull)
      .withColumn(newCol,
        when(col(idCol).isNull, 0L)
          .otherwise(when(
            coalesce(lag(col(idCol), 1).over(wOrd) =!= col(idCol), lit(true)),
            1L).otherwise(0L)))
      .withColumn(dfCol, sum(col(newCol)).over(wAll))
      .filter(col(dfCol) <= maxDocFreq)
      .drop(newCol, dfCol)
  }

  /** Reassemble surviving lines into documents: (id, text) with lines
    * re-joined in order. Documents whose every line was dropped do not
    * reappear (there is nothing left of them). One hash-aggregate.
    */
  def reassembleLines(
      lines: DataFrame,
      idCol: String = "doc_id",
      orderCol: String = "line_no",
      lineCol: String = "line",
      sep: String = " ",
      outCol: String = "text_clean"): DataFrame =
    lines.groupBy(col(idCol))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col(orderCol), col(lineCol)))),
          s => s.getField(lineCol)),
        sep).as(outCol))

  /** INTRA-document duplicated-line removal — the RefinedWeb-style
    * line-wise correction that complements [[dropDuplicatedLines]]
    * (cross-corpus): within ONE document, keep only the FIRST
    * occurrence of each repeated line (chat transcripts, scraped pages
    * with repeated widgets, and degenerate generations repeat lines
    * inside a single doc; the cross-corpus doc-frequency filter cannot
    * see them because df counts DISTINCT docs).
    *
    * 100 TB shape: one window min over (doc, line) — hash-partitioned
    * on the same keys the reassembly aggregate uses, so the second
    * stage reuses the exchange; no corpus-wide state, every group is
    * doc-local.
    */
  def dedupLinesWithinDoc(
      lines: DataFrame,
      idCol: String = "doc_id",
      orderCol: String = "line_no",
      lineCol: String = "line"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol), col(lineCol))
    lines.withColumn("__first", min(col(orderCol)).over(w))
      .filter(col(orderCol) === col("__first"))
      .drop("__first")
  }

  /** Composed intra-doc repetition removal: segment to token lines →
    * keep first occurrence per doc → reassemble in order.
    */
  def removeIntraDocRepetition(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      tokensPerLine: Int = 8): DataFrame =
    reassembleLines(
      dedupLinesWithinDoc(
        segmentTokenLines(docs, idCol, textCol, tokensPerLine), idCol),
      idCol)

  /** Corpus-wide CHUNK-level dedup over content-defined chunks — the
    * composition [[graft.ops.Chunking.contentDefinedChunks]] exists
    * for: because chunk borders realign on content, the same repeated
    * passage chunks identically in every document that carries it
    * (fixed-size chunking would cut it at a different alignment per
    * doc and the duplicates would never collide), so ONE keep-first
    * pass over chunk text removes every cross-document repeated
    * passage. Keep-first is (doc id, chunk id) lexicographic; docs
    * whose every chunk was seen earlier do not reappear (the line-dedup
    * convention).
    *
    * 100 TB shape: keep-first is a MAP-SIDE-COMBINABLE hash aggregate
    * — `groupBy(text) → min(struct(doc, chunk))` — not a window: a
    * window partitioned on chunk text would sort ALL d occurrences of
    * a boilerplate chunk on one task (exactly the duplicated chunks
    * are the hot keys), while partial aggregation collapses them to
    * one row per map task before the shuffle, bounding every reduce
    * group by the task count regardless of d (VERDICT r11 #2). The
    * survivor row carries its own text, so reassembly needs no join
    * back — one agg, one doc-local aggregate, no pairwise joins.
    * Exact text as the group key (the no-silent-collision argument of
    * [[dropDuplicatedLines]]); each distinct chunk ships once per map
    * task, not once per occurrence.
    */
  def dedupContentChunks(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3,
      modulus: Int = 8): DataFrame = {
    val chunks = graft.ops.Chunking.contentDefinedChunks(docs, idCol, textCol, k, modulus)
    chunks
      .groupBy(col("text"))
      // struct min = (doc, chunk) lexicographic — identical keep-first
      // to the former row_number(orderBy(doc, chunk)) == 1
      .agg(min(struct(col(idCol), col("chunk_id"))).as("__first"))
      .select(
        col("__first").getField(idCol).as(idCol),
        col("__first").getField("chunk_id").as("chunk_id"),
        col("text"))
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("chunk_id"), col("text")))),
            s => s.getField("text")),
          " ").as("text_clean"),
        count(lit(1)).as("n_chunks"))
  }

  /** The composed operator: segment → corpus-df filter → reassemble. */
  def dedupLinesTokenized(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      tokensPerLine: Int = 8,
      maxDocFreq: Int = 1): DataFrame =
    reassembleLines(
      dropDuplicatedLines(
        segmentTokenLines(docs, idCol, textCol, tokensPerLine), idCol, "line", maxDocFreq),
      idCol)

  /** Span-level dedup — exact-substring removal at token granularity
    * (the "dedup training data" pass that sits BETWEEN line dedup and
    * document dedup): every SLIDING `window`-token span that occurs in
    * at least `minDocs` distinct documents is boilerplate; all tokens
    * covered by any occurrence of such a span are masked out and the
    * document reassembled from the survivors. Sliding (not tumbling)
    * windows catch a duplicated passage at ANY alignment — the property
    * suffix-array substring dedup has and fixed-line segmentation lacks;
    * run AFTER document-level dedup or verbatim twin documents will
    * (correctly) erase each other.
    *
    * 100 TB shape: the span explode is a per-row projection fanning out
    * W× (same cost class as [[shingles]]); duplicated-span discovery is
    * one map-side-combinable hash aggregate on the span text; the
    * mask-back is an equality join of span occurrences against the
    * (small, df-filtered) duplicated-span set — AQE broadcasts it while
    * it fits — then one per-doc aggregate of duplicated starts and a
    * pure-projection token filter. Nothing collects; no pairwise
    * comparison ever materializes. Exact span strings, not digests, for
    * the same data-loss argument as [[dropDuplicatedLines]].
    *
    * Returns the full doc frame with `textCol` rebuilt from surviving
    * tokens (single-space joined — same normalization both engines
    * apply) plus `n_masked` (count of dropped tokens). Docs shorter
    * than `window` pass through unmasked (normalized).
    *
    * VARIABLE-LENGTH equivalence: the covered-position union IS
    * maximal-extent removal of every duplicated substring of length
    * ≥ `window` — a duplicated M-token passage (M ≥ window) has every
    * one of its sliding windows duplicated, so the union covers all M
    * tokens; conversely a token is covered only if some duplicated
    * window (hence a ≥window duplicated substring) contains it. This is
    * the published exact-substring dedup semantics (Lee et al. 2022's
    * suffix-array ExactSubstr, at minimum match length = `window`
    * tokens) re-expressed as a hash aggregate + equality join instead
    * of a single-node suffix array. `keepFirst = true` adds the
    * paper's keep-one-copy refinement: each duplicated span's
    * earliest document (smallest `idCol`) keeps its occurrence, so the
    * content survives exactly once in the corpus instead of vanishing
    * from every copy; later documents still mask it. A token in the
    * earliest doc is masked only if an OVERLAPPING duplicated span
    * owned by a different doc covers it — deterministic under any
    * execution order.
    */
  def maskDuplicatedSpans(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      window: Int = 8,
      minDocs: Int = 2,
      /** Keep the smallest-id document's copy of each duplicated span
        * (Lee et al.'s keep-one-occurrence form) instead of masking
        * every copy.
        */
      keepFirst: Boolean = false): DataFrame = {
    require(window >= 1, "window must be >= 1")
    require(minDocs >= 2, s"minDocs=$minDocs: a span is duplicated only across >=2 docs")
    val w = window
    val toks = docs.withColumn("__toks", TextAnalysis.tokens(col(textCol)))

    // (doc, start, span) for every sliding window — empty for short docs
    val spans = toks
      .select(col(idCol),
        posexplode(
          when(size(col("__toks")) >= w,
            transform(sequence(lit(0), size(col("__toks")) - w),
              p => array_join(slice(col("__toks"), p + lit(1), lit(w)), " ")))
            .otherwise(array()))
          .as(Seq("p", "span")))

    // ONE exchange on the span text (optimization r19, guide §2.4 —
    // the dropDuplicatedLines rewrite): doc-frequency and the keep-first
    // owner ride WINDOW functions over partitionBy(span) instead of the
    // former distinct → aggregate → join-back, which derived the whole
    // tokenize+slide+explode pass TWICE (once into the distinct's
    // exchange, once as the join's probe side — the r18 before-plan
    // shows both subtrees) and shuffled the span strings twice. Within
    // the span-sorted partition a row opens a new distinct document iff
    // its id differs from the previous row's, so the summed boundary
    // flags equal count(distinct id) — null ids contribute 0, exactly
    // the oracle's count(DISTINCT doc_id) semantics (the old
    // count-over-distinct counted a null-id row once; unreachable for
    // this engine's non-null doc ids, pinned by SpanDedupSpec). A hot
    // boilerplate span co-locates on one task under either formulation;
    // the window state is O(1) per row and the buffers spill.
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("span")).orderBy(col(idCol))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("span"))
    val flagged = spans
      .withColumn("__new",
        when(col(idCol).isNull, 0L)
          .otherwise(when(
            coalesce(lag(col(idCol), 1).over(wOrd) =!= col(idCol), lit(true)),
            1L).otherwise(0L)))
      .withColumn("__df", sum(col("__new")).over(wAll))
    val withOwner =
      if (keepFirst) flagged.withColumn("__owner", min(col(idCol)).over(wAll))
      else flagged
    val dupHits = withOwner.filter(col("__df") >= minDocs)
    val maskedHits =
      if (keepFirst) dupHits.filter(col(idCol) =!= col("__owner")) else dupHits
    val covered = maskedHits
      .groupBy(col(idCol))
      .agg(array_distinct(flatten(collect_list(
        sequence(col("p"), col("p") + lit(w - 1))))).as("__covered"))

    toks.join(covered, Seq(idCol), "left")
      .withColumn("__covered", coalesce(col("__covered"), array().cast("array<int>")))
      .withColumn("__kept",
        filter(col("__toks"), (_, i) => !array_contains(col("__covered"), i)))
      .withColumn("n_masked", (size(col("__toks")) - size(col("__kept"))).cast(LongType))
      .withColumn(textCol, array_join(col("__kept"), " "))
      .drop("__toks", "__covered", "__kept")
  }
}
