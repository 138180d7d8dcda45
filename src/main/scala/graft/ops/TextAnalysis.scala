package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for a training-data pipeline: tokenization,
  * token counting, quality scoring, language ID, and document
  * fingerprinting (exact + winnowed shingles). Everything is built from
  * codegen'd `functions._` / higher-order array functions — no UDFs — so
  * the operators stay inside whole-stage codegen and scale linearly with
  * executors; nothing shuffles until an explicit aggregation.
  *
  * (The reference repo has no text operators — this is the
  * BASELINE.json north-star extension surface, SURVEY.md §7.4.)
  */
object TextAnalysis {

  /** 1..n as an array, or empty when n < 1. A bare `sequence(1, n)` is a
    * trap: Spark generates DESCENDING sequences when n < start, so
    * short inputs would yield positions [1, 0] instead of none.
    */
  private[ops] def positions(n: Column): Column =
    when(n >= 1, sequence(lit(1), n)).otherwise(array().cast(ArrayType(IntegerType)))

  /** Whitespace tokenization (the corpus is single-space separated;
    * multi-space inputs yield empty tokens which we filter).
    */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => length(t) > 0)

  def tokenCount(text: Column): Column = size(tokens(text)).cast(LongType)

  /** GPT-2-style pre-tokenizer regex, simplified to the RE2-compatible
    * subset (no lookahead) so the DuckDB oracle tokenizes identically:
    * leading-space word / number / punctuation runs.
    */
  val BpePattern = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"

  /** BPE-ish subword pre-tokenization — the token-count estimator a
    * training-data pipeline budgets with (whitespace tokens undercount
    * punctuation-heavy text).
    */
  def bpeTokens(text: Column): Column = regexp_extract_all(text, lit(BpePattern), lit(0))

  /** Tiny per-language stopword lists for the n-gram/stopword-hit
    * language heuristic. Deterministic and SQL-expressible so the DuckDB
    * oracle can replicate the exact same decision function.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un"),
    "es" -> Seq("el", "la", "los", "y", "es", "un"))

  private def hitCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words))).cast(LongType)

  /** Language ID: argmax of stopword hits with a minimum-evidence floor;
    * ties break by language code order (deterministic).
    */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val langs = stopwords.keys.toSeq.sorted
    // array_max over struct(hits, ord, lang): highest hit count wins;
    // ties break toward the alphabetically-first language via ord=-index
    val best = array_max(array(langs.map(l =>
      struct(hitCount(toks, stopwords(l)).as("hits"),
        lit(-langs.indexOf(l)).as("ord"), lit(l).as("lang"))): _*))
    when(best.getField("hits") >= 1, best.getField("lang")).otherwise(lit("unknown"))
  }

  /** Quality signals in one projection: char/token counts, mean token
    * length, stopword ratio, type-token ratio, and a blended score.
    * Arithmetic is written in a fixed operation order so an oracle
    * re-implementing the same formula gets bit-identical doubles.
    *
    * This single-arg form re-tokenizes per signal (HOFs see no CSE);
    * hot paths pass a MATERIALIZED tokens column to the overload.
    */
  def qualityColumns(text: Column): Seq[Column] =
    qualityColumns(text, tokens(text))

  /** [[qualityColumns]] over a pre-materialized tokens column (an alias
    * from a previous projection): each signal then reads the array
    * attribute instead of re-running the tokenization HOF — the same
    * single-reference discipline as [[repetitionColumns]].
    */
  def qualityColumns(text: Column, toks: Column): Seq[Column] = {
    val nTok = size(toks).cast(LongType)
    val nChars = length(text).cast(LongType)
    val allStop = stopwords.values.flatten.toSeq.distinct
    val nStop = size(filter(toks, t => t.isInCollection(allStop))).cast(LongType)
    val nTypes = size(array_distinct(toks)).cast(LongType)
    val meanTokLen = (nChars - (nTok - lit(1L))).cast(DoubleType) / nTok.cast(DoubleType)
    val stopRatio = nStop.cast(DoubleType) / nTok.cast(DoubleType)
    val typeTokenRatio = nTypes.cast(DoubleType) / nTok.cast(DoubleType)
    Seq(
      nChars.as("n_chars_obs"),
      nTok.as("n_tokens"),
      nTypes.as("n_types"),
      round(meanTokLen, 4).as("mean_token_len"),
      round(stopRatio, 4).as("stopword_ratio"),
      round(typeTokenRatio, 4).as("type_token_ratio"),
      round(stopRatio * 0.25 + typeTokenRatio * 0.5 +
        least(nTok.cast(DoubleType) / 100.0, lit(1.0)) * 0.25, 4).as("quality_score"))
  }

  /** Within-document repetition signals (the Gopher/MassiveText-style
    * quality rules): duplicate n-gram fractions and the most-frequent-
    * token share. Highly repetitive documents (boilerplate, keyword
    * stuffing, degenerate generations) score high and get filtered
    * before training.
    *
    * `toks` MUST be a MATERIALIZED tokens column (aliased in a previous
    * projection) — the lambdas below reference it, and referencing an
    * unaliased tokenization expression inside a HOF re-evaluates it per
    * element (same pitfall as [[winnowShingleHashes]]). All three
    * signals are O(n log n) per document or better (a projection, no
    * shuffle).
    *
    *   - `dup_2gram_frac` / `dup_3gram_frac`: 1 − distinct/total
    *     n-grams (0 for docs too short to have any).
    *   - `top_token_frac`: occurrences of the most frequent token over
    *     total tokens.
    */
  def repetitionColumns(toks: Column): Seq[Column] = {
    val nTok = size(toks).cast(LongType)
    // SINGLE-REFERENCE DISCIPLINE: higher-order array functions run
    // interpreted (outside whole-stage codegen) with no common-
    // subexpression elimination, and Catalyst freely inlines projection
    // aliases into pushed-down predicates — so every textual reference
    // to a gram-building expression is a full re-evaluation. The naive
    // `(size(g) - size(distinct(g))) / size(g)` references g three
    // times (plus the emptiness guard: four), which measured 14-19 s
    // at sf0.1 where ~2 s is the honest cost. Cure: size(g) is known
    // arithmetically (max(0, nTok-k+1) — gramList yields one gram per
    // window position), so the ONLY reference to g left is the
    // size(array_distinct(g)) it genuinely needs. Staging g as its own
    // projection does NOT work here: a filter on the fraction pushes
    // through the projection and re-inlines the alias.
    def dupFrac(k: Int) = {
      val nG = greatest(lit(0L), nTok - (k - 1)).cast(DoubleType)
      when(nG > 0,
        (nG - size(array_distinct(gramList(toks, k))).cast(DoubleType)) / nG)
        .otherwise(lit(0.0))
    }
    // most-frequent-token count as the longest equal-run of the SORTED
    // token list — one O(n log n) sort + one O(n) fold, replacing the
    // original O(tokens × types) distinct×filter scan. Value-identical
    // on every doc (parity-checked corpus-wide); a modest win at the
    // testdata's doc lengths, but it removes the quadratic cliff the
    // old formulation hit on long repetitive documents — the shape a
    // boilerplate-heavy 100 TB crawl actually contains. The run/best
    // expressions inside the fold are O(1) per element, so their double
    // reference is exempt from the single-reference discipline above.
    val topCount = aggregate(
      array_sort(toks),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + lit(1L))
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    val topFrac = when(nTok > 0,
      topCount.cast(DoubleType) / nTok.cast(DoubleType)).otherwise(lit(0.0))
    Seq(
      round(dupFrac(2), 4).as("dup_2gram_frac"),
      round(dupFrac(3), 4).as("dup_3gram_frac"),
      round(topFrac, 4).as("top_token_frac"))
  }

  private def gramList(toks: Column, k: Int): Column = transform(
    positions(size(toks) - (k - 1)),
    i => concat_ws(" ", (0 until k).map(j => element_at(toks, i + j)): _*))

  /** Gopher/MassiveText-style composite quality GATE — the keep/drop
    * decision a pretraining pipeline actually applies, composed from
    * the signals above: minimum length, lexical diversity
    * (type–token ratio), and two repetition caps. Thresholds compare
    * against the ROUNDED (4 dp) signal columns so any engine
    * recomputing the signals lands on the same side of every boundary.
    * Pure projection + filter: runs at scan speed, no shuffle; at
    * 100 TB this is the map-side gate in front of every downstream op.
    */
  def gopherFilter(
      df: DataFrame,
      textCol: String = "text",
      minTokens: Long = 20L,
      minTypeTokenRatio: Double = 0.35,
      maxTopTokenFrac: Double = 0.12,
      maxDup2GramFrac: Double = 0.06): DataFrame = {
    val base = df.withColumn("__graft_toks", tokens(col(textCol)))
    // PUSHDOWN BARRIER (optimization r19, the guide-§4.4 move for
    // expensive expressions): without it, PushDownPredicates splits the
    // gate and inlines the four signal expressions — INCLUDING the
    // tokenization behind every alias reference — into a Filter below
    // this projection, so tokens(text) ran ~5× per row and the heavy
    // interpreted signals (gram distinct, sort+fold) ran twice for
    // survivors (measured: gate added ~2× over signals-only at sf0.1).
    // `__graft_gate` is 0 for every row but NONDETERMINISTIC by
    // construction (rand, streaming-safe — CurationStream runs this on
    // a streaming frame, where monotonically_increasing_id would
    // throw), and filters never push through a projection carrying a
    // nondeterministic field, so the signals are computed exactly once
    // per row against the materialized token array. The filter also
    // references the column, so pruning can never remove the barrier.
    val sig = base.select(
      (Seq(col("*")) ++ qualityColumns(col(textCol), col("__graft_toks")) ++
        repetitionColumns(col("__graft_toks")) :+
        (rand() * lit(0.0)).cast(LongType).as("__graft_gate")): _*)
    sig.filter(
      col("n_tokens") >= minTokens &&
        col("type_token_ratio") >= minTypeTokenRatio &&
        col("top_token_frac") <= maxTopTokenFrac &&
        col("dup_2gram_frac") <= maxDup2GramFrac &&
        col("__graft_gate") === 0L)
      .drop("__graft_toks", "__graft_gate")
  }

  /** Exact content fingerprint — MD5 over the raw text bytes. */
  def fingerprint(text: Column): Column = md5(text.cast(BinaryType))

  /** PII redaction patterns, deliberately restricted to the
    * RE2-compatible regex subset (no lookarounds, no backrefs) so the
    * DuckDB oracle — and any RE2-based engine — applies byte-identical
    * semantics. Email must run FIRST: a local part like `a.10.0.0.1@x`
    * contains an IPv4-shaped substring that the later passes must never
    * see.
    */
  val EmailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern: String = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhonePattern: String = "\\+\\d{1,3}-\\d{3}-\\d{3,6}"

  /** Scrub emails / IPv4 addresses / international-format phone numbers
    * to typed placeholder tokens — the pre-training privacy pass every
    * large-scale text pipeline runs before anything else sees the raw
    * corpus. Three chained codegen'd regexp_replace calls: pure
    * projection, no shuffle, no UDF; at 100 TB this runs at scan speed
    * inside whole-stage codegen.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "<EMAIL>"),
        Ipv4Pattern, "<IP>"),
      PhonePattern, "<PHONE>")

  /** Stage 1 of winnowing (Schleimer et al., SIGMOD'03): MD5 over every
    * k-char shingle. MD5 (not murmur) keeps it oracle-comparable.
    *
    * MUST be materialized as its own aliased projection before
    * [[winnowMins]] consumes it — referencing this expression from
    * inside the per-window lambda re-evaluates the WHOLE hash array per
    * window position (HOF outer-reference re-evaluation, pitfall #1),
    * turning an O(n) op into O(n²) md5 calls per document: measured
    * 12+ min for 5 000 docs single-threaded vs seconds staged.
    */
  def winnowShingleHashes(text: Column, k: Int = 5): Column =
    transform(
      positions(length(text) - (k - 1)),
      i => md5(text.substr(i, lit(k)).cast(BinaryType)))

  /** Stage 2: distinct per-window minima over a MATERIALIZED hash-array
    * column (see [[winnowShingleHashes]]).
    */
  def winnowMins(shingleHashes: Column, window: Int = 4): Column =
    array_distinct(transform(
      positions(size(shingleHashes) - (window - 1)),
      i => array_min(slice(shingleHashes, i, lit(window)))))

  /** All per-document text analysis as one wide projection. */
  def analyze(df: DataFrame, textCol: String = "text"): DataFrame = {
    val cols = Seq(col("*")) ++
      qualityColumns(col(textCol)) :+
      langId(col(textCol)).as("pred_lang") :+
      fingerprint(col(textCol)).as("fp_md5")
    df.select(cols: _*)
  }
}
