package graft

import org.scalatest.funsuite.AnyFunSuite

/** SPARK_GRAFT_CPUS parsing for the mains' `local[N]` master: a usable
  * value is taken trimmed, anything else falls back to the default. The
  * values are handed to the parser directly; no session is started. */
class EnvSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS: positive ints are taken, the rest fall back") {
    assert(Env.cpusOf(Some("8")) === 8)
    assert(Env.cpusOf(Some(" 4\n")) === 4)
    for (bad <- Seq(None, Some(""), Some("abc"), Some("0"), Some("-3"),
        Some("2.5"), Some("99999999999")))
      assert(Env.cpusOf(bad) === Env.DefaultCpus, s"value $bad")
  }
}
