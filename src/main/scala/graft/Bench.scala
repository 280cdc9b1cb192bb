package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main — one JSON line for the driver (BENCH_r{N}.json).
  *
  * Every query materializes through the `noop` sink, not `.count()`:
  * count() lets Catalyst prune computed columns (a fingerprint query
  * would never hash anything), noop forces full evaluation of every
  * output column while writing nothing.
  *
  * Timing discipline: one warmup (codegen javac + JIT), then the MIN
  * of three timed runs — min is the right statistic for "engine cost"
  * under background-load variance on a shared box. Min-of-2 proved
  * insufficient twice (rounds 5 and 6 each recorded 3–4 phantom 5–20×
  * "regressions" on byte-identical code, all adjudicated box noise by
  * warm re-profiling), so on top of min-of-3 an OUTLIER RE-RUN rule
  * compares each min against the previous round's recorded value
  * (latest BENCH_r*.json in the working dir at the same scale and core
  * count): a min still >3× the prior record earns two extra runs. A
  * genuine regression survives all five; a load spike almost never
  * does.
  */
object Bench {

  /** per-query seconds from the most recent BENCH_r*.json in `dir`
    * whose top-level `cpus` is `cpus` and whose stdout tail carries
    * `"sf":"<sfDir>"` (so the _c8 records serve 8-core runs) — the
    * reference for the outlier re-run rule. No such record → empty map
    * (no re-runs).
    */
  private[graft] def priorTimes(
      sfDir: String,
      cpus: Int,
      dir: String = sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR", ".")): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val name = "BENCH_r(\\d+)\\w*\\.json".r
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .flatMap(f => name.unapplySeq(f.getName).map(g => g.head.toInt -> f))
      .sortBy(-_._1).iterator
      .flatMap { case (_, f) =>
        try Some(mapper.readTree(f))
        catch { case e: Exception =>
          System.err.println(s"[bench] ignoring unreadable ${f.getName}: ${e.getMessage}"); None }
      }
      .find(r => r.path("cpus").asInt(-1) == cpus && r.path("tail").asText().contains(s""""sf":"$sfDir""""))
      .fold(Map.empty[String, Double])(_.path("parsed").path("queries").properties().asScala
        .collect { case e if e.getValue.isNumber => e.getKey -> e.getValue.asDouble }.toMap)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val prior = priorTimes(sfDir, cpus.toInt)
    val spark = GraftSession.local("graft-bench", cpus)
    val results = SparkEntry.queries.keys.toSeq.sorted.map(n => n -> time(spark, sfDir, n, prior.get(n)))
    val (line, compact) = lines(results, sfDir)
    // the driver's BENCH_r*.json keeps only a truncated stdout tail
    // (VERDICT r12 housekeeping), so also persist the full per-query
    // map to a committed file — round-over-round deltas for every
    // query, not just the tail's q42–q99 slice
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (line + "\n").getBytes("UTF-8"))
    } catch { case e: Exception =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
    // stop Spark and only THEN print the JSON lines, so they are the
    // absolute last thing on the wire: a late shutdown log line after
    // them corrupted the tail-JSON parse of BENCH_r15.json
    GraftSession.stop(spark)
    println(line)
    println(compact)
  }

  /** Seconds for catalog query `name` under the discipline above: one
    * warmup, the min of three runs, and two more runs when that min is
    * over 3× `prior`. The frame is rebuilt inside each timed run, since
    * several queries do eager work in their builder. A failing run
    * must NOT fold its exception path into the numbers as a fast
    * success: the query's time is None.
    */
  private[graft] def time(
      spark: SparkSession, sfDir: String, name: String, prior: Option[Double]): Option[Double] = {
    val fn = SparkEntry.queries(name)
    def once(): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        None
      }
    }
    def minOf(n: Int): Option[Double] = {
      val runs = Seq.fill(n)(once())
      if (runs.exists(_.isEmpty)) None else Some(runs.flatten.min)
    }
    once() // warmup
    minOf(3).map { m =>
      prior.filter(p => m > 3 * p).fold(m) { p =>
        System.err.println(
          f"[bench] $name min $m%.2fs > 3x prior record $p%.2fs - re-running")
        minOf(2).fold(m)(math.min(m, _))
      }
    }
  }

  /** Bench's two stdout lines for per-query `results` (None = failed):
    * the full per-query line, and a compact totals-only line. A reader
    * that keeps only a TRUNCATED stdout tail (as BENCH_r*.json does) can
    * cut the ~8 KB full line mid-line, which is exactly why
    * BENCH_r16.json's `parsed` came back null — so the compact line is
    * printed LAST and survives any tail window (VERDICT r16 item 5).
    */
  private[graft] def lines(results: Seq[(String, Option[Double])], sfDir: String): (String, String) = {
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v.fold("null")(_.toString) }
      .mkString("{", ",", "}")
    val failures = results.collect { case (k, None) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.flatMap(_._2).sum
    val nFail = results.count(_._2.isEmpty)
    (s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failures":$failures,"sf":"$sfDir"}""",
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"failures":$nFail,"sf":"$sfDir"}""")
  }
}
