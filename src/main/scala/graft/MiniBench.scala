package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Dev utility over a query SUBSET, in one session.
  *
  * Timing — the in-round A/B instrument:
  *   sbt "runMain graft.MiniBench q193_winnowing_fingerprints,q192_lsh_recall_curve [sfDir]"
  * times each query with `Bench.time`, the function Bench itself runs,
  * so the numbers are 1:1 comparable with BENCH_r*.json entries without
  * paying the full 264-query suite per measurement.
  *
  * Plans — the plans/r{N}/ evidence the optimization rounds commit:
  *   sbt "runMain graft.MiniBench --plans <outDir> <suffix> q1,q2,... [sfDir]"
  * writes each query's `.explain("formatted")` to <outDir>/<q>_<suffix>.txt.
  *
  * honors SPARK_GRAFT_CPUS like Bench.
  */
object MiniBench {
  def main(argv: Array[String]): Unit = {
    val plans = argv.headOption.contains("--plans")
    val args = if (plans) argv.drop(3) else argv
    val names = args(0).split(",").toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local("graft-minibench", cpus)
    try {
      if (plans) {
        val Array(outDir, suffix) = argv.slice(1, 3)
        Files.createDirectories(Paths.get(outDir))
        names.foreach { n =>
          val plan = SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(FormattedMode)
          val file = s"$outDir/${n}_$suffix.txt"
          Files.write(Paths.get(file), plan.getBytes("UTF-8"))
          println(s"[plans] wrote $file")
        }
      } else {
        val prior = Bench.priorTimes(sfDir, cpus.toInt)
        val total = names.map { n =>
          val t = Bench.time(spark, sfDir, n, prior.get(n))
          println(t.fold(s"[mini] $n: FAILED")(m => f"[mini] $n: $m%.3f s"))
          t.getOrElse(0.0)
        }.sum
        println(f"[mini] TOTAL: $total%.3f s")
      }
    } finally GraftSession.stop(spark)
  }
}
