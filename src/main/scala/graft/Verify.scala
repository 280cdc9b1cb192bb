package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional third arg: comma-separated query-name filter (dev use:
    // iterate on one oracle without re-dumping the whole catalog)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val spark = GraftSession.local("graft-verify", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    dump(spark, sfDir, outDir, only)
    GraftSession.stop(spark)
  }

  /** Writes `<outDir>/<name>` for every query the filter keeps, and the
    * FULL oracle map whatever the filter: a filtered run into a dir
    * that holds a full dump must not shrink the oracle file to the
    * filtered few, and into a fresh dir it leaves the un-dumped queries
    * for tools/check.py to report as missing output. */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]]): Unit = {
    new java.io.File(outDir).mkdirs()
    // Queries submit through a small driver-side pool: Spark's FIFO
    // scheduler interleaves the resulting jobs across executor slots,
    // so small queries fill the gaps left by big ones (~2× wall-clock
    // win vs sequential at sf0.01). Safe because each query writes its
    // own directory and any temp views use query-unique names.
    // defensive parse: a malformed/empty/non-positive value must not
    // abort the whole correctness dump before any query runs
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      sys.env.get("SPARK_GRAFT_VERIFY_THREADS")
        .flatMap(_.toIntOption).filter(_ > 0).getOrElse(6))
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val tasks = SparkEntry.queries.toSeq.filter(t => keep(t._1)).map { case (name, fn) =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql))
  }

  /** `sql` as one JSON object, name → oracle SQL text */
  private[graft] def oracleJson(sql: Map[String, String]): String = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    sql.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
