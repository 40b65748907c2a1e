package graft

import org.scalatest.funsuite.AnyFunSuite

/** The round artifact reports a failing operator query by name and
  * message and never bills it as a time. */
class BenchSpec extends AnyFunSuite {

  test("a query that throws is reported under err and kept out of the total") {
    val boom = Bench.timeMinOf2(() => throw new IllegalStateException("no \"table\" here"))
    assert(boom == Left("java.lang.IllegalStateException: no \"table\" here"))
    val ok = Bench.timeMinOf2(() => Thread.sleep(5))
    assert(ok.exists(_ >= 0.005), s"$ok")

    val (queries, err, total) = Bench.queriesJson(Seq(
      "a_ok" -> Right(1.25), "b_bad" -> boom, "c_ok" -> Right(0.5)))
    assert(queries == """{"a_ok":1.250,"c_ok":0.500}""")
    assert(err == """{"b_bad":"java.lang.IllegalStateException: no \"table\" here"}""")
    assert(total == 1.75)
  }
}
