package graft

import org.scalatest.funsuite.AnyFunSuite

/** The `key=value` session-conf override parser shared by Explain and
  * QueryProbe. */
class SessionSpec extends AnyFunSuite {

  test("conf overrides split on the first '=' only") {
    assert(Session.confOverrides(Seq("a=b", "c=d=e")) == Seq("a" -> "b", "c" -> "d=e"))
    assert(Session.confOverrides(Seq("k=")) == Seq("k" -> ""))
  }

  test("an override without '=' fails naming the argument") {
    val e = intercept[IllegalArgumentException](
      Session.confOverrides(Seq("a=b", "spark.graft.denseMaxNodes")))
    assert(e.getMessage.contains("'spark.graft.denseMaxNodes'"))
    assert(intercept[IllegalArgumentException](Session.confOverrides(Seq("=v")))
      .getMessage.contains("'=v'"))
  }
}
