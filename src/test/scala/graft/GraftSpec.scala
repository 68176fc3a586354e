package graft

import org.scalatest.funsuite.AnyFunSuite

/** The environment a main reads through `Graft.local`: a malformed
  * core count or conf entry fails loudly, naming the bad value. */
class GraftSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS and SPARK_GRAFT_CONF parse, and malformed values fail naming themselves") {
    assert(Graft.parseCpus(None) === 4)
    assert(Graft.parseCpus(Some(" 8 ")) === 8)
    Seq("0", "-2", "eight", "2.5", "").foreach { bad =>
      val e = intercept[RuntimeException](Graft.parseCpus(Some(bad)))
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }

    assert(Graft.parseConf("") === Nil)
    assert(Graft.parseConf(" graft.pack.shardSpan=64 , k=a=b,") ===
      Seq("graft.pack.shardSpan" -> "64", "k" -> "a=b"))
    Seq("graft.pack.shardSpan", "=64").foreach { bad =>
      val e = intercept[RuntimeException](Graft.parseConf(s"k=v,$bad"))
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
