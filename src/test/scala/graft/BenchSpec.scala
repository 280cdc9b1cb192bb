package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's two stdout lines, which BENCH_r*.json records are parsed
  * from: the full per-query line and the compact totals line printed
  * last. */
class BenchSpec extends AnyFunSuite {

  test("stdout lines: a failed query is null in the map and counted in failures") {
    val results = Seq("q01_a" -> Some(1.5), "q02_b" -> None, "q03_c" -> Some(0.25))
    val (full, compact) = Bench.lines(results, "/data/sf0.1")
    assert(full ==
      """{"metric":"total","value":1.75,"unit":"sec","queries":{"q01_a":1.5,"q02_b":null,"q03_c":0.25},"failures":["q02_b"],"sf":"/data/sf0.1"}""")
    assert(compact ==
      """{"metric":"total","value":1.75,"unit":"sec","n_queries":3,"failures":1,"sf":"/data/sf0.1"}""")
  }

  test("stdout lines: no failures") {
    val (full, compact) = Bench.lines(Seq("q01_a" -> Some(2.0)), "/data/sf0.01")
    assert(full ==
      """{"metric":"total","value":2.0,"unit":"sec","queries":{"q01_a":2.0},"failures":[],"sf":"/data/sf0.01"}""")
    assert(compact ==
      """{"metric":"total","value":2.0,"unit":"sec","n_queries":1,"failures":0,"sf":"/data/sf0.01"}""")
  }
}
