package graft

import org.apache.spark.sql.SparkSession

/** The one place a Spark session is built: every main and the test
  * suites go through here, so they all run on the same settings.
  */
object GraftSession {

  /** A session on `master` with `partitions` shuffle partitions (the
    * mains pass their CPU count: one shuffle partition per slot). */
  def apply(appName: String, master: String, partitions: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // LLM calls are effectful — never re-run finished work
      .config("spark.speculation", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `local[cpus]` with one shuffle partition per slot */
  def local(appName: String, cpus: String): SparkSession =
    apply(appName, s"local[$cpus]", cpus)

  /** Stops the streaming state stores, then Spark. The StateStore
    * singleton keeps a RocksDB maintenance thread that can outlive
    * `spark.stop()` and log "SparkEnv not active" after the caller's
    * last output line, so it is stopped first. Failures are logged to
    * stderr, not thrown: a main's results are already computed here.
    */
  def stop(spark: SparkSession): Unit = {
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case e: Exception =>
      System.err.println(s"[session] StateStore.stop: ${e.getMessage}") }
    try spark.stop()
    catch { case e: Exception =>
      System.err.println(s"[session] spark.stop: ${e.getMessage}") }
  }
}
