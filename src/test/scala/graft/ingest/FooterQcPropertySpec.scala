package graft.ingest

import graft.SparkSpec
import graft.lake.ParquetFooterForge
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.LogicalTypeAnnotation.{stringType, timestampType, TimeUnit}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.parquet.schema.Types
import org.apache.spark.sql.functions.{col, max, min, unix_micros}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** Footer QC is the scan's QC whenever it answers: for random source
  * files, [[QualityChecks.fromFooter]] is either None or equal to
  * `QualityChecks.run(Normalize(read))`, issue strings included, and
  * [[Dedup.footerKeyBounds]] is either None or the normalized frame's
  * `unix_micros` min/max. The files mix nulls, all-null columns, zero
  * and too few rows, negatives, ±0.0, NaN as a chunk's first value and
  * mid-file, float, double and int positive columns, several row
  * groups, time columns of plain INT64 nanos, string, and TIMESTAMP
  * in millis, micros and nanos (UTC and local), and footers whose
  * stats were removed. Where no statistic is inexact by construction,
  * the footer must answer, so the property cannot pass by declining.
  */
class FooterQcPropertySpec extends SparkSpec {

  private sealed trait TimeKind
  private case object LongNanos extends TimeKind
  private case object TsNanos extends TimeKind
  private case object TsMillis extends TimeKind
  private case object TsMicros extends TimeKind
  private case object TsMicrosLocal extends TimeKind
  private case object Str extends TimeKind

  /** How a positive column's values are drawn: `negP` of them negated,
    * plus one planted 0.0 / -0.0 or NaN (first row, or mid-file).
    */
  private sealed trait Plant
  private case object NoPlant extends Plant
  private final case class Zero(negative: Boolean) extends Plant
  private case object NanFirst extends Plant
  private case object NanMid extends Plant

  private final case class Col(ptype: PrimitiveTypeName, nullP: Double, negP: Double, plant: Plant)

  private final case class Case(
      n: Int, rowGroupRows: Int, time: TimeKind, timeNullP: Double,
      bid: Col, ask: Option[Col], volNullP: Double,
      forged: Option[String], negativeEpoch: Boolean, seed: Long)

  private val cfg = QcConfig(Seq("DateTime", "Bid", "Ask"), "DateTime", Seq("Bid", "Ask"),
    minRows = 20L, maxNullFraction = 0.05)

  private val nullP = Gen.frequency(4 -> 0.0, 2 -> 0.03, 1 -> 0.3, 1 -> 1.0)

  private def colGen(types: Seq[PrimitiveTypeName]): Gen[Col] = for {
    t <- Gen.oneOf(types)
    np <- nullP
    negP <- Gen.oneOf(0.0, 0.2)
    floating = t == DOUBLE || t == FLOAT
    plant <- Gen.frequency(Seq(4 -> Gen.const(NoPlant), 1 -> Gen.oneOf(true, false).map(Zero(_))) ++
      (if (floating) Seq(1 -> Gen.const(NanFirst), 1 -> Gen.const(NanMid)) else Nil): _*)
  } yield Col(t, np, negP, plant)

  private val caseGen: Gen[Case] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 2 -> Gen.choose(1, 19), 6 -> Gen.choose(20, 240))
    rg <- Gen.frequency(1 -> Gen.const(math.max(n, 1)), 2 -> Gen.choose(3, 60))
    time <- Gen.oneOf(LongNanos, TsNanos, TsMillis, TsMicros, TsMicrosLocal, Str)
    tnp <- nullP
    bid <- colGen(Seq(DOUBLE))
    ask <- Gen.frequency(9 -> colGen(Seq(DOUBLE, FLOAT, INT32, INT64)).map(Some(_)), 1 -> Gen.const(None))
    vnp <- nullP
    forged <- Gen.frequency(6 -> Gen.const(None), 1 -> Gen.oneOf("DateTime", "Bid", "Vol").map(Some(_)))
    negEpoch <- Gen.frequency(4 -> false, 1 -> true)
    seed <- Gen.choose(0L, Long.MaxValue)
  } yield Case(n, rg, time, tnp, bid, ask, vnp, forged, negEpoch, seed)

  private val hconf = new Configuration()

  private def write(c: Case, path: Path): Unit = {
    val r = new scala.util.Random(c.seed)
    val timeField = c.time match {
      case LongNanos => Types.optional(INT64)
      case TsNanos => Types.optional(INT64).as(timestampType(true, TimeUnit.NANOS))
      case TsMillis => Types.optional(INT64).as(timestampType(true, TimeUnit.MILLIS))
      case TsMicros => Types.optional(INT64).as(timestampType(true, TimeUnit.MICROS))
      case TsMicrosLocal => Types.optional(INT64).as(timestampType(false, TimeUnit.MICROS))
      case Str => Types.optional(BINARY).as(stringType())
    }
    var b = Types.buildMessage().addField(timeField.named("DateTime"))
      .addField(Types.optional(c.bid.ptype).named("Bid"))
    c.ask.foreach(a => b = b.addField(Types.optional(a.ptype).named("Ask")))
    val schema = b.addField(Types.optional(DOUBLE).named("Vol")).named("tick")
    val out = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(path, hconf))
      .withType(schema).withConf(hconf).withRowGroupRowCountLimit(c.rowGroupRows)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    val groups = new SimpleGroupFactory(schema)
    val baseUs = if (c.negativeEpoch) -86400L * 1000000L else 1704067200000000L
    val zeroAt = r.nextInt(math.max(c.n, 1))
    def value(spec: Col, i: Int): Option[Double] = {
      val nan = spec.plant match {
        case NanFirst => i == 0
        case NanMid => i == c.n / 2
        case _ => false
      }
      if (nan) Some(Double.NaN)
      else if (r.nextDouble() < spec.nullP) None
      else spec.plant match {
        case Zero(neg) if i == zeroAt => Some(if (neg) -0.0 else 0.0)
        case _ =>
          val v = if (spec.ptype == DOUBLE || spec.ptype == FLOAT) 0.5 + r.nextDouble() * 10
                  else (1 + r.nextInt(1000)).toDouble
          Some(if (r.nextDouble() < spec.negP) -v else v)
      }
    }
    def put(g: org.apache.parquet.example.data.Group, name: String, spec: Col, v: Double): Unit =
      spec.ptype match {
        case DOUBLE => g.add(name, v)
        case FLOAT => g.add(name, v.toFloat)
        case INT32 => g.add(name, v.toInt)
        case _ => g.add(name, v.toLong)
      }
    try (0 until c.n).foreach { i =>
      val g = groups.newGroup()
      if (r.nextDouble() >= c.timeNullP) {
        val us = baseUs + i * 1500000L + r.nextInt(1000000)
        c.time match {
          case LongNanos | TsNanos => g.add("DateTime", us * 1000L + r.nextInt(1000))
          case TsMillis => g.add("DateTime", Math.floorDiv(us, 1000L))
          case TsMicros | TsMicrosLocal => g.add("DateTime", us)
          case Str =>
            g.add("DateTime",
              if (r.nextDouble() < 0.1) "not-a-time"
              else java.time.Instant.ofEpochSecond(0L, us * 1000L).toString.replace('T', ' ').stripSuffix("Z"))
        }
      }
      value(c.bid, i).foreach(put(g, "Bid", c.bid, _))
      c.ask.foreach(a => value(a, i).foreach(put(g, "Ask", a, _)))
      if (r.nextDouble() >= c.volNullP) g.add("Vol", r.nextDouble())
      out.write(g)
    } finally out.close()
  }

  private def footerOf(path: Path) = {
    val in = ParquetFileReader.open(HadoopInputFile.fromPath(path, hconf))
    try in.getFooter finally in.close()
  }

  test("footer QC and key bounds equal the scan's, or decline") {
    val dir = java.nio.file.Paths.get(tmpDir("footer-qc"))
    var answered, bounded = 0
    val prop = Prop.forAllNoShrink(caseGen) { c =>
      val written = dir.resolve(s"w-${c.seed}.parquet")
      write(c, new Path(written.toUri))
      val file = c.forged.fold(written) { colName =>
        val f = dir.resolve(s"f-${c.seed}.parquet")
        ParquetFooterForge.patch(written, f)(ParquetFooterForge.dropStats(_, colName))
        f
      }
      val path = new Path(file.toUri)
      val footer = footerOf(path)
      val (want, wantBounds) = withSqlConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
        val df = Normalize(spark.read.parquet(path.toString), "DateTime")
        val qc = QualityChecks.run(df, cfg)
        val bounds =
          if (!df.columns.contains("DateTime")) None
          else {
            val row = df.agg(min(unix_micros(col("DateTime"))), max(unix_micros(col("DateTime")))).head()
            if (row.isNullAt(0)) None else Some((row.getLong(0), row.getLong(1)))
          }
        (qc, bounds)
      }
      val got = QualityChecks.fromFooter(footer, cfg)
      val gotBounds = Dedup.footerKeyBounds(footer, "DateTime")
      got.foreach(_ => answered += 1)
      gotBounds.foreach(_ => bounded += 1)
      val plain = (p: Col) => p.plant == NoPlant
      val mustAnswer = c.ask.isEmpty ||
        (c.time != Str && c.forged.isEmpty && plain(c.bid) && c.ask.forall(plain))
      val mustBound = wantBounds.isDefined && c.forged != Some("DateTime") &&
        c.time != Str && c.time != TsMicrosLocal
      Prop(got.forall(_ == want)).label(s"footer $got != scan $want for $c") &&
        Prop(gotBounds.forall(b => wantBounds.contains(b)))
          .label(s"footer bounds $gotBounds != scan $wantBounds for $c") &&
        Prop(got.isDefined || !mustAnswer).label(s"footer declined an exact file: $c") &&
        Prop(gotBounds.isDefined || !mustBound).label(s"no footer bounds for an exact file: $c") &&
        Prop(c.forged.isEmpty || c.n == 0 || c.ask.isEmpty || got.isEmpty)
          .label(s"answered without stats: $c") &&
        Prop(c.time != TsMicrosLocal || gotBounds.isEmpty).label(s"local-time bounds: $c")
    }
    val params = Test.Parameters.default.withMinSuccessfulTests(80)
      .withInitialSeed(Seed(8L)).withWorkers(1)
    val res = Test.check(params, prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    info(s"footer answered $answered, bounded $bounded of ${res.succeeded}")
    assert(answered >= 20 && bounded >= 20, s"footer answered $answered, bounded $bounded")
  }
}
