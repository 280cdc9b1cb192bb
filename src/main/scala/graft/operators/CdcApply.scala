package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Materialize a CDC changelog (insert/update/delete rows with a
  * per-key ordering column) into the final snapshot: the Debezium-
  * style "apply" every warehouse ingestion pipeline runs. Last op per
  * key wins; a trailing delete removes the key entirely.
  *
  * Spark-first shape: ONE shuffle on the key; the keep-last choice is
  * a rank-1 window that Spark executes as WindowGroupLimit (top-1
  * pruned inside the shuffle, so only one row per key survives the
  * exchange — at 100 TB the changelog compacts in-flight rather than
  * sorting whole per-key histories).
  *
  * Contract: `seqCol` totally orders ops within a key (CDC log
  * offset / LSN); ties are a source bug and resolve arbitrarily.
  * `opCol` values: 'I' | 'U' | 'D' (I and U are both "upsert the
  * row's payload" — the distinction is informational, as in Debezium).
  */
object CdcApply {

  def apply(changelog: DataFrame, keys: Seq[String],
      seqCol: String, opCol: String): DataFrame = {
    require(keys.nonEmpty, "cdc apply needs at least one key column")
    val missing = (keys :+ seqCol :+ opCol).filterNot(changelog.columns.contains)
    require(missing.isEmpty,
      s"changelog is missing columns ${missing.mkString(",")} " +
        s"(has: ${changelog.columns.mkString(",")})")
    lastPerKey(changelog, keys, seqCol)
      .filter(col(opCol) =!= "D")
      .drop(seqCol, opCol)
  }

  /** Each key's row with the highest `seqCol` (the rank-1 window
    * above); also SnapshotSink's per-batch compaction.
    */
  def lastPerKey(changes: DataFrame, keys: Seq[String], seqCol: String): DataFrame = {
    require(!changes.columns.contains("__rn"), "__rn is reserved by CdcApply")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(seqCol).desc)
    changes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
