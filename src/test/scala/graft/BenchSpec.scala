package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's two stdout lines, which BENCH_r*.json records are parsed
  * from: the full per-query line and the compact totals line printed
  * last; and which of those records the outlier rule reads back. */
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

  test("priorTimes reads the latest record at the run's cpus and sf dir") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bench-prior")
    def record(file: String, cpus: Int, sfDir: String, q01: Double): Unit = {
      val (full, _) = Bench.lines(Seq("q01_a" -> Some(q01)), sfDir)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.createObjectNode()
      root.put("n", 1).put("rc", 0).put("cpus", cpus).put("sf", 0.1)
        .put("tail", s"[info] $full\n[success] Total time: 9 s\n")
      root.set[com.fasterxml.jackson.databind.JsonNode]("parsed", mapper.readTree(full))
      java.nio.file.Files.writeString(dir.resolve(file), mapper.writeValueAsString(root))
    }
    record("BENCH_r05.json", 4, "/d/sf0.01", 1.0)
    record("BENCH_r07.json", 32, "/d/sf0.01", 2.0)   // other cpus
    record("BENCH_r08.json", 4, "/d/sf0.1", 3.0)     // other sf dir
    record("BENCH_r06_c8.json", 8, "/d/sf0.01", 4.0)
    assert(Bench.priorTimes("/d/sf0.01", 4, dir.toString) == Map("q01_a" -> 1.0))
    assert(Bench.priorTimes("/d/sf0.01", 8, dir.toString) == Map("q01_a" -> 4.0))
    assert(Bench.priorTimes("/d/sf0.1", 4, dir.toString) == Map("q01_a" -> 3.0))
    assert(Bench.priorTimes("/d/sf0.1", 8, dir.toString).isEmpty)
    assert(Bench.priorTimes("/d/sf0", 4, dir.toString).isEmpty)
  }
}
