package graft.ingest

import org.scalatest.funsuite.AnyFunSuite

/** A bad [[IngestConfig]] value fails at construction with an error
  * that names the field, instead of acting as some default later.
  */
class IngestConfigSpec extends AnyFunSuite {

  private def rejects(field: String)(make: => IngestConfig): Unit = {
    val e = intercept[IllegalArgumentException](make)
    assert(e.getMessage.contains(s"IngestConfig.$field"), e.getMessage)
  }

  test("the defaults and every documented policy are accepted") {
    Seq("drop", "upsert", "mor-upsert").foreach(p => IngestConfig("wh", duplicateKeyPolicy = p))
    IngestConfig("wh", minRows = 0L, retentionDays = 0, maxNullFraction = 1.0)
  }

  test("duplicateKeyPolicy must be drop, upsert or mor-upsert") {
    rejects("duplicateKeyPolicy")(IngestConfig("wh", duplicateKeyPolicy = "upsret"))
  }

  test("symbolParallelism must be at least 1") {
    rejects("symbolParallelism")(IngestConfig("wh", symbolParallelism = 0))
  }

  test("maxNullFraction must be in [0, 1]") {
    rejects("maxNullFraction")(IngestConfig("wh", maxNullFraction = 1.5))
    rejects("maxNullFraction")(IngestConfig("wh", maxNullFraction = -0.1))
    rejects("maxNullFraction")(IngestConfig("wh", maxNullFraction = Double.NaN))
  }

  test("minRows must not be negative") {
    rejects("minRows")(IngestConfig("wh", minRows = -1L))
  }

  test("retentionDays must not be negative") {
    rejects("retentionDays")(IngestConfig("wh", retentionDays = -7))
  }
}
