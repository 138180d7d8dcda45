package graft

import org.scalatest.funsuite.AnyFunSuite

class TablesCpusSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS: unset gives the default, a positive integer is read, anything else fails naming it") {
    assert(Tables.cpus(None, 32) == 32)
    assert(Tables.cpus(Some("8"), 32) == 8)
    Seq("abc", "0", "-2", "", "4 ", "1.5").foreach { bad =>
      val e = intercept[IllegalArgumentException](Tables.cpus(Some(bad), 4))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
