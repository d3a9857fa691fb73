package graft

import org.scalatest.funsuite.AnyFunSuite

/** The harness's one JSON escaper ([[Bench.jstr]]). */
class BenchSpec extends AnyFunSuite {

  test("jstr escapes a quote, a backslash, a tab and a control character below 0x20") {
    val bs = "\\"
    val q = "\""
    assert(Bench.jstr("a\"b\\c\td" + 1.toChar + "e") ==
      q + "a" + bs + q + "b" + bs + bs + "c" + bs + "td" + bs + "u0001e" + q)
  }
}
