package lakebench

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** One generated tick file: the half-open tick-index ranges it carries
  * for one symbol. `bad` files are planted to fail QC (every Bid is
  * negated), so the pipeline must reject them.
  */
final case class TickFile(id: Int, sym: Int, ranges: Seq[(Long, Long)], bad: Boolean) {
  def rows: Long = ranges.map { case (lo, hi) => hi - lo }.sum
  def name: String = f"ticks-$id%05d.parquet"
}

/** Synthetic Dukascopy-shaped ticks (`DateTime`, `Bid`, `Ask`,
  * `BidVolume`, `AskVolume`), written as plain parquet files.
  *
  * Tick `i` of symbol `s` is a pure function of (seed, s, i): its
  * timestamp is `BaseUs + i * StepUs + jitter(seed, s, i)` with
  * `jitter < StepUs`, so keys are strictly increasing in `i`, and a
  * re-delivered tick is identical to its first delivery, key included.
  * The jitter must never depend on the file a tick travels in, or no
  * re-delivered row would match its original and dedup would do no work.
  */
object Ticks {
  val Symbols: Seq[String] = Seq("EURUSD", "GBPUSD", "USDJPY", "AUDUSD")
  /** 2024-01-01T00:00:00Z */
  val BaseUs: Long = 1704067200000000L
  val DayUs: Long = 86400L * 1000000L
  /** mean tick spacing; a day is a whole number of steps, so the day a
    * tick falls in does not depend on its jitter
    */
  val StepUs: Long = 500000L

  val Schema: MessageType = Types.buildMessage()
    .optional(PrimitiveTypeName.INT64)
    .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS)).named("DateTime")
    .optional(PrimitiveTypeName.DOUBLE).named("Bid")
    .optional(PrimitiveTypeName.DOUBLE).named("Ask")
    .optional(PrimitiveTypeName.DOUBLE).named("BidVolume")
    .optional(PrimitiveTypeName.DOUBLE).named("AskVolume")
    .named("tick")

  /** SplitMix64 finalizer. */
  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def draw(seed: Long, sym: Int, i: Long, salt: Int, n: Long): Long =
    java.lang.Math.floorMod(mix(mix(mix(seed) ^ (sym.toLong << 40) ^ salt) ^ i), n)

  def keyUs(seed: Long, sym: Int, i: Long): Long =
    BaseUs + i * StepUs + draw(seed, sym, i, 1, StepUs * 3 / 4)

  /** Write `f` to `path`. */
  def write(conf: Configuration, seed: Long, f: TickFile, path: Path): Unit = {
    val out = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(path, conf))
      .withType(Schema).withConf(conf).withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    val groups = new SimpleGroupFactory(Schema)
    try f.ranges.foreach { case (lo, hi) =>
      var i = lo
      while (i < hi) {
        val bid = 1.05 + f.sym * 0.25 + math.sin(i / 5000.0) * 0.01 + draw(seed, f.sym, i, 2, 1000) / 1e6
        val g = groups.newGroup()
        g.add("DateTime", keyUs(seed, f.sym, i))
        g.add("Bid", if (f.bad) -bid else bid)
        g.add("Ask", bid + 0.00005 + draw(seed, f.sym, i, 3, 20) / 1e5)
        g.add("BidVolume", 0.25 + draw(seed, f.sym, i, 4, 400) / 100.0)
        g.add("AskVolume", 0.25 + draw(seed, f.sym, i, 5, 400) / 100.0)
        out.write(g)
        i += 1
      }
    } finally out.close()
  }
}

/** Deterministic delivery planner. Each new file carries fresh ticks
  * plus, at `redeliver` share, one contiguous chunk of a previously
  * delivered good file of the same symbol. One file in `badEvery` per
  * symbol is planted to fail QC, at a fixed position in each block of
  * `badEvery` (never a block's first, and staggered across symbols); a
  * bad file's ticks are never delivered again. Only the chunk choices
  * and the tick values depend on the seed, so every seed gives a run of
  * the same shape.
  */
final class Planner(seed: Long, nSymbols: Int, badEvery: Int) {
  private val rnd = new Random(seed)
  private val cursor = Array.fill(nSymbols)(0L)
  private val goodRanges = Array.fill(nSymbols)(ArrayBuffer.empty[(Long, Long)])
  private val filesOf = Array.fill(nSymbols)(0)
  private var nextId = 0
  val files: ArrayBuffer[TickFile] = ArrayBuffer.empty

  /** Plan the next file of `sym`; with `canBeBad` false it is always
    * good and does not count toward the one-in-`badEvery` blocks.
    */
  def file(sym: Int, rows: Int, redeliver: Double, canBeBad: Boolean = true): TickFile = {
    val bad = canBeBad && badEvery > 1 && {
      val k = filesOf(sym)
      filesOf(sym) += 1
      k % badEvery == 1 + (2 + 3 * sym) % (badEvery - 1)
    }
    val old = if (bad || goodRanges(sym).isEmpty) 0 else (rows * redeliver).toInt
    val fresh = (cursor(sym), cursor(sym) + (rows - old))
    cursor(sym) = fresh._2
    val reRange =
      if (old == 0) Nil
      else {
        val (lo, hi) = goodRanges(sym)(rnd.nextInt(goodRanges(sym).size))
        val n = math.min(old.toLong, hi - lo)
        val start = lo + (rnd.nextDouble() * (hi - lo - n)).toLong
        Seq((start, start + n))
      }
    if (!bad) goodRanges(sym) += fresh
    val f = TickFile(nextId, sym, fresh +: reRange, bad)
    nextId += 1
    files += f
    f
  }

  /** A seeded sample of `n` tick indices of `sym` delivered in good files. */
  def sampleGood(sym: Int, n: Int, r: Random): Seq[Long] = {
    val rs = goodRanges(sym)
    Seq.fill(n) {
      val (lo, hi) = rs(r.nextInt(rs.size))
      lo + (r.nextDouble() * (hi - lo)).toLong
    }
  }

  def maxIndex(sym: Int): Long = cursor(sym)
}
