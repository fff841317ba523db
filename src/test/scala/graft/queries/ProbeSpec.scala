package graft.queries

import org.scalatest.funsuite.AnyFunSuite

class ProbeSpec extends AnyFunSuite {
  test("an unknown layer is refused before any session starts, naming " +
      "the valid layers") {
    val e = intercept[IllegalArgumentException](Probe.main(Array("nope")))
    Seq("tar-split", "tar-chunks", "footer-meta", "tablelog-meta", "all")
      .foreach(l => assert(e.getMessage.contains(l), e.getMessage))
    intercept[IllegalArgumentException](Probe.main(Array.empty))
  }
}
