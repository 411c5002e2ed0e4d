package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.Probe

/** The probe CLI's modes, run through `Probe.run` on the shared session
  * (`Probe.main` would stop it).
  */
class ProbeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.Sf0001

  private def probe(args: String*): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Probe.run(spark, args, d))
    out.toString("UTF-8")
  }

  test("count prints the registry's query and oracle counts") {
    assert(probe("count").trim == "queries=225 oracled=225")
  }

  test("plan prints a header and the formatted plan of each query") {
    val out = probe("plan", "q01_pricing_summary")
    assert(out.contains("===== q01_pricing_summary ====="))
    assert(out.contains("== Physical Plan =="))
    assert(out.contains("HashAggregate"))
  }

  test("stages splits each run into build, plan and execute, with stage totals") {
    val out = probe("stages", "q01_pricing_summary", "1")
    val run = out.linesIterator.filter(_.startsWith("== run ")).toSeq
    assert(run.size == 1, out)
    assert(Seq("build=", "plan=", "execute=").forall(run.head.contains), run.head)
    val tasks = """TOTAL .* tasks=\s*(\d+)""".r.findFirstMatchIn(out)
      .map(_.group(1).toInt)
    assert(tasks.exists(_ > 0), out)
  }

  test("bad input is refused with a message naming it") {
    def refused(args: String*): String =
      intercept[IllegalArgumentException](probe(args: _*)).getMessage
    assert(refused("explain").contains("'explain'"))
    assert(refused().contains("missing mode"))
    assert(refused("plan").contains("plan: missing query names"))
    assert(refused("stages").contains("stages: missing query names"))
    assert(refused("count", "extra").contains("'extra'"))
    assert(refused("plan", "q01_pricing_summary,no_such_query").contains("'no_such_query'"))
    assert(refused("stages", "q01_pricing_summary", "zero").contains("'zero'"))
  }
}
