package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

import graft.core.Record

/** JSONL source/sink with fail-soft parsing (SURVEY.md R1/R2/R12).
  *
  * Reference semantics (lib/job_processor.rb:16-29): blank lines are
  * skipped; JSON parse errors log to STDERR and drop the record while
  * the job continues (exit 0). Spark-first translation: PERMISSIVE
  * `from_json` with a corrupt-record column, good rows to the main
  * plan, corrupt raw lines to a dead-letter channel. Both sides stay
  * fully distributed — no driver-side line loop.
  */
object Jsonl {

  /** RECORD envelope + corrupt-record capture column */
  private val readSchema: StructType =
    Record.schema.add("_corrupt", StringType, nullable = true)

  final case class Split(good: DataFrame, corrupt: DataFrame)

  /** Read JSONL into (good records, corrupt raw lines).
    *
    * By default this is Spark's text source, which packs a small file
    * into one split. With `minPartitions` > 1 the input is split by
    * bytes into about that many partitions, in file and byte order and
    * without a shuffle, so the part files written from it stay in input
    * order. The text source takes no per-read split size, so the split
    * read goes through `textFile`: the same Hadoop line reader and
    * hidden-file filter; a directory of many small files then reads as
    * at least one partition per file.
    *
    * Every stage downstream of the read runs as that many tasks and
    * every write lands that many part files, so the split pays only
    * where the LLM calls run in the read's own stage: `Main` asks for
    * `defaultParallelism` so a small corpus feeds every core's enrich
    * task. Elsewhere the default is the cheaper one: in `runCached`, for
    * one, a split of a small input multiplies the cache files each pass
    * appends and the tasks that scan them, for calls that mostly wait
    * on retry backoff rather than on free slots.
    */
  def read(spark: SparkSession, path: String, minPartitions: Int = 1): Split = {
    val lines =
      if (minPartitions <= 1) spark.read.text(path)
      else {
        import spark.implicits._
        spark.sparkContext.textFile(path, minPartitions).toDS().toDF("value")
      }
    val raw = lines.filter(length(trim(col("value"))) > 0) // blank-line skip (rb:18)
    val parsed = raw.select(
      col("value"),
      from_json(
        col("value"), readSchema,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt")).as("r"))
    val bad = col("r").isNull || col("r._corrupt").isNotNull
    Split(
      good = parsed.filter(!bad).select(col("r.id"), col("r.texts"), col("r.images")),
      corrupt = parsed.filter(bad).select(col("value")))
  }

  /** Re-materialize records from a dead-letter dump (EnrichJob failures
    * store the original record as a JSON string in `record`) so a
    * failed slice can be re-enriched after the backend recovers —
    * the operational half of the fail-soft contract.
    */
  def replayDeadLetter(spark: SparkSession, deadLetterDf: DataFrame): DataFrame =
    deadLetterDf
      .select(from_json(col("record"), Record.schema).as("r"))
      .filter(col("r").isNotNull)
      .select(col("r.id"), col("r.texts"), col("r.images"))

  /** Write records as one compact JSON object per line. texts/images
    * are normalized to {} / [] first — the reference always emits both
    * (lib/job_processor.rb:43-47).
    */
  def write(df: DataFrame, path: String): Unit =
    df.select(to_json(struct(
        col("id"),
        coalesce(col("texts"), map().cast("map<string,string>")).as("texts"),
        coalesce(col("images"), array().cast("array<string>")).as("images")))
        .as("value"))
      .write.mode("overwrite").text(path)
}
