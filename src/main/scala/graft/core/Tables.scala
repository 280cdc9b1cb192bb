package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Canonical access to the driver-provided test tables
  * (`/root/testdata/sf*` — see TESTDATA.md). All graft queries read
  * through here so that scale-sensitive read settings live in ONE
  * place. At 100 TB these parquet paths become directory trees; the
  * reader below is already directory-safe (`spark.read.parquet(dir)`).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Tables small enough to broadcast at ANY scale factor (TPC-H dims
    * region/nation are constant-size; at SF100k they are still tiny).
    */
  val broadcastable: Set[String] = Set("region", "nation")

  /** serializes the events nanosAsLong save/set/probe/restore window */
  private val nanosLock = new Object

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val raw = if (name == "events") nanosLock.synchronized {
      // TIMESTAMP(NANOS) events can only be read with nanosAsLong=true,
      // and the EXECUTION-time parquet reader re-reads the session conf
      // lazily — so when the flag is actually needed it must stay set
      // for the session (contract: all graft parquet reads route through
      // Tables.load, whose normalizeTs repairs events.ts). When this
      // corpus generation is NOT nanos (ts resolves to a timestamp
      // type), restore the previous value immediately so the flag can't
      // silently turn some later unrelated NANOS column into a Long.
      // The whole save/set/probe/restore runs under a global lock:
      // Verify loads tables from a driver-side thread pool, and an
      // unsynchronized interleaving could capture another thread's
      // temporary "true" as its prev and re-install it on restore —
      // leaking the flag for the session, the exact corruption the
      // restore exists to prevent.
      val prev = spark.conf.getOption(NanosKey)
      spark.conf.set(NanosKey, "true")
      val df = spark.read.parquet(s"$sfDir/$name.parquet")
      val needsFlag = df.schema.fields.exists(f =>
        f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType)
      if (!needsFlag) prev match {
        case Some(v) => spark.conf.set(NanosKey, v)
        case None    => spark.conf.unset(NanosKey)
      }
      df
    } else spark.read.parquet(s"$sfDir/$name.parquet")
    // normalize EVERY temporal column (events.ts, orders.o_orderdate,
    // lineitem.l_shipdate — whichever this corpus generation carries);
    // the LongType branch applies only to events.ts, where it means
    // "TIMESTAMP(NANOS) surfaced via nanosAsLong" — elsewhere Long is
    // just an id/measure column
    raw.schema.fields.foldLeft(raw) { (df, f) =>
      f.dataType match {
        case org.apache.spark.sql.types.TimestampNTZType => normalizeTs(df, f.name)
        case org.apache.spark.sql.types.LongType
            if name == "events" && f.name == "ts" => normalizeTs(df, f.name)
        case _ => df
      }
    }
  }

  /** The driver regenerates the test corpus between rounds and the
    * physical type of `events.ts` has drifted across generations:
    * TIMESTAMP(NANOS) (readable only as Long via nanosAsLong),
    * TIMESTAMP(MICROS) adjusted-to-UTC (reads as TimestampType), and
    * TIMESTAMP(MICROS) naive (reads as TimestampNTZType under Spark 4's
    * NTZ inference). Every query downstream assumes TimestampType, so
    * normalize all three here — with UTC sessions (all graft builders
    * pin spark.sql.session.timeZone=UTC) each branch preserves the
    * stored microsecond value exactly, matching DuckDB's naive read.
    */
  def normalizeTs(raw: DataFrame, tsCol: String = "ts"): DataFrame =
    raw.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer `div`, NOT `/`: float division of ~1.7e18 ns exceeds
        // double mantissa precision and yields off-by-one microseconds
        raw.withColumn(tsCol, timestamp_micros(expr(s"$tsCol div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn(tsCol,
          col(tsCol).cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }

  /** Spreads a frame across the session's `spark.sql.shuffle.partitions`
    * by hashing `keys` — the one spelling of the scan spread. Every test
    * table is a single parquet row group, which Spark cannot split, so
    * its scan is ONE task and all the per-row work above it runs
    * single-threaded unless something re-partitions it. The count is
    * explicit (REPARTITION_BY_NUM) because AQE sizes a count-less
    * repartition by its input bytes and would coalesce a few MB of
    * pre-explode text back to one partition; it cannot see the row
    * fan-out that comes after. Callers state only why their key fits.
    */
  def spread(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, keys: _*)

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
