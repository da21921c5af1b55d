package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench must never convert an exception into a timing: r9's six
  * silently-broken queries surfaced as plausible 0.06-0.08 s "successes"
  * because the old harness caught everything and timed the failure path.
  * [[Bench.timed]] is the single point every measured run flows through.
  */
final class BenchReportingSpec extends AnyFunSuite {

  test("a deliberately-broken query surfaces as a failure, not a timing") {
    val boom = new RuntimeException("DATATYPE_MISMATCH: deliberately broken")
    Bench.timed(throw boom) match {
      case Left(e) => assert(e eq boom)
      case Right(sec) => fail(s"broken query was reported as a $sec s timing")
    }
  }

  test("a succeeding query yields a positive wall-clock timing") {
    Bench.timed { Thread.sleep(5) } match {
      case Right(sec) => assert(sec >= 0.005)
      case Left(e) => fail(s"unexpected failure: $e")
    }
  }

  test("prevTimings parses the quote-escaped tail of a driver bench artifact") {
    val artifact =
      """{
        |  "n": 9,
        |  "rc": 0,
        |  "sf": 0.1,
        |  "tail": "{\"metric\":\"total\",\"queries\":{\"q1_pricing_summary\":0.5,\"ice_dv_scan\":13.8},\"sf\":\"sf0.1\",\"value\":158.01}"
        |}""".stripMargin
    val prev = Bench.prevTimings(artifact)
    assert(prev == Map("q1_pricing_summary" -> 0.5, "ice_dv_scan" -> 13.8))
  }

  test("prevTimings is anchored to the queries block — a colliding bookkeeping key cannot corrupt it") {
    // a hypothetical future bookkeeping field named like a query must not
    // leak into the trend numbers while the anchor survives
    val artifact =
      """"tail": "{\"metric\":\"total\",\"queries\":{\"q1\":0.5},\"sf\":\"sf0.1\",\"q1_lookalike\":9.9,\"value\":1.0}""""
    assert(Bench.prevTimings(artifact) == Map("q1" -> 0.5))
  }

  test("prevTimings falls back to the denylist scrape when the front-clipped tail lost the anchor") {
    // the driver stores only the LAST 2000 chars of stdout: the line's
    // front (metric + the queries anchor) is what clipping removes first
    val clipped = """ry\":0.5,\"ice_dv_scan\":13.8},\"sf\":\"sf0.1\",\"value\":158.01}""""
    val prev = Bench.prevTimings(clipped)
    assert(prev.get("ice_dv_scan").contains(13.8))
    assert(!prev.contains("value"))
  }

  test("prevRecords compares shuffle records only against a board of the same sf and core count") {
    def board(cpus: String) =
      s"""{"metric":"total","value":1.00,"unit":"sec","queries":{"q1":0.5},"sf":"sf0.1"$cpus,""" +
        """"shuffle_records":{"q1":12,"q2":40}}"""
    assert(Bench.prevRecords(board(""","cpus":4"""), "sf0.1", "4") ===
      Map("q1" -> 12L, "q2" -> 40L))
    // another core count shuffles into another partition count
    assert(Bench.prevRecords(board(""","cpus":8"""), "sf0.1", "4").isEmpty)
    assert(Bench.prevRecords(board(""","cpus":4"""), "sf0.1", "48").isEmpty)
    // a board from before the core count was recorded is not comparable
    assert(Bench.prevRecords(board(""), "sf0.1", "4").isEmpty)
    assert(Bench.prevRecords(board(""","cpus":4"""), "sf1", "4").isEmpty)
  }
}
