package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's prior-record reader: the per-query times that arm its outlier
  * reruns come only from a comparable record, however it is formatted. */
class BenchSpec extends AnyFunSuite {
  private val sf = "data/sf0.1"
  private val compact =
    s"""{"metric":"bench_total_sec","value":3.500,"unit":"sec","cpus":8,"memo_hit":["q_a"],""" +
      s""""rerun_slowest":{"q_b":2.000},"queries":{"q_a":1.250,"q_b":2.250},"sf":"$sf"}"""
  private val pretty =
    s"""{
       |  "metric": "bench_total_sec",
       |  "value": 3.500,
       |  "unit": "sec",
       |  "cpus": 8,
       |  "memo_hit": [
       |    "q_a"
       |  ],
       |  "rerun_slowest": {
       |    "q_b": 2.000
       |  },
       |  "queries": {
       |    "q_a": 1.250,
       |    "q_b": 2.250
       |  },
       |  "sf": "$sf"
       |}
       |""".stripMargin
  private val expected = Some(Map("q_a" -> 1.25, "q_b" -> 2.25))

  test("priors: a pretty-printed record reads like its compact copy") {
    assert(Bench.priors(compact, sf, None) == expected)
    assert(Bench.priors(pretty, sf, None) == expected)
  }

  test("priors: a record from another data dir gives none") {
    assert(Bench.priors(compact, "data/sf10", None).isEmpty)
    assert(Bench.priors(pretty, "data/sf10", None).isEmpty)
  }

  test("priors: a legacy record at another core count gives none") {
    assert(Bench.priors(compact, sf, Some("8")) == expected)
    assert(Bench.priors(compact, sf, Some("4")).isEmpty)
    assert(Bench.priors(pretty, sf, Some("32")).isEmpty)
    assert(Bench.priors("not json", sf, None).isEmpty)
  }

  test("priors: a query the record lists as failed gives no prior") {
    val withFailed = compact.replace(""""queries":""", """"failed":["q_x"],"queries":""")
      .replace(""""q_b":2.250}""", """"q_b":2.250,"q_x":0.010}""")
    assert(Bench.priors(withFailed, sf, None) == expected)
  }
}
