package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training + subword encoding — the real
  * tokenizer pass of an LLM data pipeline (vocabulary budgeting, token
  * counting, sequence packing all depend on SUBWORD counts, which the
  * whitespace/regex tokenizers elsewhere in this engine approximate).
  *
  * 100 TB shape, in two strictly separated phases:
  *
  *  1. LEARN — one corpus pass aggregates word-type counts (a hash agg
  *     with map-side combine; the result is VOCABULARY-scale, not
  *     corpus-scale). The merge loop then runs driver-side over that
  *     word→count dict, exactly like every published BPE trainer
  *     (which operates on word frequencies, never the raw corpus) —
  *     the same metadata-scale-collect class as k-means centroids and
  *     the quality classifier's training sample, bounded by
  *     `maxWordTypes` (top types by count; dropping the long tail of
  *     hapax words changes pair counts by at most their mass, the
  *     standard trainer cap).
  *  2. ENCODE — a scan-speed projection: the learned merge list rides
  *     the plan as a literal inside the codegen'd
  *     [[graft.functions.BpeEncode]] expression (no UDF, no shuffle,
  *     no model service), so encoding composes with chunking/packing/
  *     vocab stats downstream at full parallelism.
  */
object BpeTokenizer {

  /** Learned model: merges in rank order (apply order = list order). */
  final case class BpeModel(merges: Seq[(String, String)])

  /** Persist a learned model as one crash-safe JSON file (train once,
    * encode from any later job): the standard `merges.txt` content —
    * rank-ordered pairs — in JSON form, written through the same
    * atomic tmp+rename protocol as the lakehouse ancillary state.
    */
  def save(spark: org.apache.spark.sql.SparkSession, model: BpeModel, path: String): Unit = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val json = JsonMethods.compact(JsonMethods.render(
      ("format" -> "graft-bpe-v1") ~
        ("merges" -> model.merges.map { case (l, r) => Seq(l, r) })))
    graft.lake.AtomicState.write(fs, p, json)
  }

  def load(spark: org.apache.spark.sql.SparkSession, path: String): BpeModel = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val content = graft.lake.AtomicState.read(fs, p).getOrElse(
      throw new java.io.FileNotFoundException(s"no BPE model at $path"))
    val j = JsonMethods.parse(content)
    require((j \ "format") == JString("graft-bpe-v1"),
      s"$path is not a graft-bpe-v1 model file")
    val merges = (j \ "merges").asInstanceOf[JArray].arr.map {
      case JArray(List(JString(l), JString(r))) => (l, r)
      case other => throw new IllegalArgumentException(s"bad merge entry $other")
    }
    BpeModel(merges)
  }

  /** Word-type counts — the learn phase's one corpus pass, exposed for
    * oracle checking and reuse (same tokenization as every text op:
    * whitespace split, empties dropped).
    */
  def wordCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))

  /** Train `numMerges` BPE merges from the corpus. Deterministic: ties
    * on pair count break lexicographically, so the same corpus always
    * yields the same merge list on any cluster layout.
    */
  def learn(
      docs: DataFrame,
      textCol: String = "text",
      numMerges: Int = 200,
      maxWordTypes: Int = 200000): BpeModel = {
    require(numMerges >= 0, "numMerges must be >= 0")
    require(maxWordTypes >= 1, "maxWordTypes must be >= 1")
    // driver-side collect is VOCABULARY-scale by construction: top word
    // TYPES by count (deterministic tie-break), capped
    val types: Array[(String, Long)] = wordCounts(docs, textCol)
      .orderBy(col("n").desc, col("word").asc)
      .limit(maxWordTypes)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    BpeModel(learnFromWordCounts(types, numMerges))
  }

  /** The driver-side merge loop over a word-frequency dict (classic
    * BPE trainer): maintain pair→count and pair→containing-words
    * indices, take the best pair (count desc, then lexicographic),
    * merge it inside exactly the words that contain it, update
    * incrementally. O(total symbols) init, O(touched words) per merge.
    */
  private[ops] def learnFromWordCounts(
      types: Array[(String, Long)], numMerges: Int): Seq[(String, String)] = {
    import scala.collection.mutable
    // symbol lists per word type (codepoint-safe)
    val words: Array[mutable.ArrayBuffer[String]] = types.map { case (w, _) =>
      val b = mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        b += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      b
    }
    val weight: Array[Long] = types.map(_._2)
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    def addWordPairs(wi: Int, sign: Long): Unit = {
      val ps = words(wi)
      var i = 0
      while (i < ps.length - 1) {
        val p = (ps(i), ps(i + 1))
        val next = pairCount.getOrElse(p, 0L) + sign * weight(wi)
        if (next <= 0L) { pairCount.remove(p); pairWords.get(p).foreach(_.remove(wi)) }
        else {
          pairCount(p) = next
          if (sign > 0) pairWords.getOrElseUpdate(p, mutable.Set.empty) += wi
        }
        i += 1
      }
    }
    words.indices.foreach(addWordPairs(_, 1L))

    val merges = mutable.ArrayBuffer.empty[(String, String)]
    var m = 0
    var exhausted = pairCount.isEmpty
    while (m < numMerges && !exhausted) {
      // best by (count desc, left asc, right asc) — deterministic
      val best = pairCount.foldLeft(Option.empty[((String, String), Long)]) {
        case (acc, (p, c)) => acc match {
          case Some((bp, bc)) if bc > c => acc
          case Some((bp, bc)) if bc == c &&
            (bp._1 < p._1 || (bp._1 == p._1 && bp._2 <= p._2)) => acc
          case _ => Some((p, c))
        }
      }
      best match {
        case None => exhausted = true
        case Some((_, c)) if c < 2 => exhausted = true // nothing duplicated left
        case Some((p @ (l, r), _)) =>
          merges += p
          val touched = pairWords.getOrElse(p, mutable.Set.empty).toArray
          touched.foreach { wi =>
            addWordPairs(wi, -1L) // retract old pair contributions
            val ps = words(wi)
            val next = mutable.ArrayBuffer.empty[String]
            var j = 0
            while (j < ps.length) {
              if (j < ps.length - 1 && ps(j) == l && ps(j + 1) == r) {
                next += l + r; j += 2
              } else { next += ps(j); j += 1 }
            }
            words(wi) = next
            addWordPairs(wi, 1L) // re-add under the merged form
          }
          pairCount.remove(p)
          pairWords.remove(p)
      }
      m += 1
    }
    merges.toSeq
  }

  /** Subword-encode a token-array column with a learned model — a pure
    * codegen projection ([[graft.functions.BpeEncode]]).
    */
  def encode(tokens: Column, model: BpeModel): Column =
    graft.functions.BpeEncode(tokens, model.merges)

  /** Convenience: tokenize + encode a raw text column. */
  def encodeText(text: Column, model: BpeModel): Column =
    encode(TextAnalysis.tokens(text), model)
}
