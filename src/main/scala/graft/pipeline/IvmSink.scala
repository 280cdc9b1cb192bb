package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming incremental view maintenance — the continuous form of
  * q185's batch fold: keep a SUM/COUNT group-by view current from a
  * CDC change feed WITH BEFORE-IMAGES, never rescanning the base.
  *
  * The algebra (q185, `queries/Analytics.scala`): an algebraic view is
  * a group homomorphism, so each change folds in as a pair of
  * contribution rows — (+1, +new) for the after-image, (−1, −old) for
  * the before-image; an insert has no before-image, a delete no
  * after-image. The view at any instant is the SUM of every
  * contribution seen so far plus the base aggregate.
  *
  * That sum structure is what makes the STREAMING form trivial to make
  * replay-safe — unlike [[SnapshotSink]]'s merge (idempotent by
  * construction), a fold is NOT idempotent if re-applied to a folded
  * snapshot, so this sink never folds into mutable state at all.
  * The view directory holds homogeneous mergeable partial rows
  * `(asGroup, n BIGINT, total BIGINT)`:
  *
  *   viewDir/
  *     part-*.parquet   — the base aggregate (later also compacted and
  *                        batch-anonymous partials)
  *     b<runId>-<id>/   — one |groups|-row partial per committed micro-batch
  *
  * Per micro-batch (foreachBatch): collapse the batch's contribution
  * rows map-side into a |groups|-row partial and OVERWRITE it into the
  * batch's own run-namespaced subdir. A batch never reads prior state,
  * so at-least-once redelivery just rewrites the identical partial
  * (the batch partial is a pure function of the batch), and a crash
  * mid-write is healed by the replay's overwrite. The subdir names,
  * their run namespace and the stream wiring are [[BatchDirs]]'. The
  * view was born namespaced, so it has no older subdir naming to guard
  * against.
  *
  * Serving ([[readView]]) folds base ∪ partials — after N batches that
  * is N×|groups| rows, so the fold is O(view), not O(base), and
  * [[compact]] bounds N by folding committed partials back into the
  * flat base (DirSwap — crash leaves the old layout at `_compact_old`,
  * which the next batch or compaction restores).
  *
  * Contracts: single writer per viewDir; a committed batch is
  * permanently part of the view (resetting the checkpoint and
  * re-streaming the same source needs a fresh viewDir, exactly as
  * re-ingesting into IncrementalDedup's index would); `value`
  * columns must be exact integers (money in cents — the house
  * discipline) so the fold is order-independent.
  */
object IvmSink {

  /** Install the base aggregate — rows already in the partial shape
    * `(group…, n, total)` — as the view's flat layer. Exactly once,
    * before the stream starts; installed through DirSwap so a crash
    * can never leave a torn flat dir, and refused if the view already
    * exists (overwriting flat files would also delete committed
    * batch subdirs).
    */
  def initBase(baseAgg: DataFrame, viewDir: String): Unit = {
    val spark = baseAgg.sparkSession
    if (DirSwap.recover(spark, viewDir))
      sys.error(s"IvmSink: view at $viewDir already exists — initBase is " +
        "once-only (fold new changes through the stream, or compact).")
    DirSwap.rewriteInPlace(spark, viewDir) { tmp =>
      baseAgg.write.mode("overwrite").parquet(tmp)
    }
  }

  /** Continuous maintenance: `stream` carries CDC rows with
    * before-images — `group`/`value` are the after-image (null `group`
    * = delete), `oldGroup`/`oldValue` the before-image (null
    * `oldGroup` = insert). `asGroup` is the VIEW's group column name
    * (the base layer's), which the stream's two group columns both
    * fold under — the batch partials must share the flat layer's
    * schema or the recursive view read would mis-align.
    */
  def run(
      stream: DataFrame,
      group: String, value: String,
      oldGroup: String, oldValue: String,
      asGroup: String,
      viewDir: String,
      checkpointDir: String): DataStreamWriter[Row] =
    BatchDirs.foreachBatch(stream, checkpointDir) { (batch, b) =>
      applyBatch(batch, group, value, oldGroup, oldValue, asGroup,
        viewDir, runId = b.runId, batchId = Some(b.id))
    }

  /** One batch's fold step; also the batch-mode backfill entry.
    * Idempotent under redelivery of the same (runId, batchId): the
    * partial is a pure function of the batch and OVERWRITEs its own
    * subdir. A call without `batchId` appends its partial to the flat
    * layer, so anonymous backfill calls all stay counted.
    */
  def applyBatch(
      batch: DataFrame,
      group: String, value: String,
      oldGroup: String, oldValue: String,
      asGroup: String,
      viewDir: String,
      runId: String = "",
      batchId: Option[Long] = None): Unit = {
    val contribs = batch.filter(col(group).isNotNull)
      .select(col(group).as(asGroup), lit(1L).as("n"),
        col(value).cast("long").as("total"))
      .unionByName(batch.filter(col(oldGroup).isNotNull)
        .select(col(oldGroup).as(asGroup), lit(-1L).as("n"),
          (-col(oldValue)).cast("long").as("total")))
    val partial = contribs.groupBy(col(asGroup))
      .agg(sum(col("n")).as("n"), sum(col("total")).as("total"))
    BatchDirs.write(partial, viewDir, batchId.map(BatchDirs.subdir(runId, _)))
  }

  /** The maintained view: fold the flat base layer and every committed
    * batch partial. Groups whose contributions net to all-zero
    * vanished from the base table and are dropped; a `(n=0, total≠0)`
    * residue would mean an inconsistent feed and is deliberately KEPT
    * visible rather than hidden (and [[compact]] applies the same
    * rule, so compaction can never change what this serves).
    */
  def readView(spark: SparkSession, viewDir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(viewDir)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      sys.error(s"IvmSink: no view at $viewDir — call initBase (or fold a " +
        "first batch) before reading")
    val all = spark.read.option("recursiveFileLookup", "true").parquet(viewDir)
    val groups = all.columns.filterNot(c => c == "n" || c == "total")
    all.groupBy(groups.map(col): _*)
      .agg(sum(col("n")).as("n"), sum(col("total")).as("total"))
      .filter(col("n") =!= 0 || col("total") =!= 0)
  }

  /** Fold committed batch partials into the flat layer, bounding the
    * serving fold's row count (IncrementalDedup.compactIndex's role
    * and contract: DirSwap crash-safety, single writer, NO in-flight
    * batch — erasing a subdir is only safe when its batch can no
    * longer be replayed). Content-preserving: readView before ≡ after.
    */
  def compact(spark: SparkSession, viewDir: String): Unit =
    DirSwap.rewriteInPlace(spark, viewDir) { tmp =>
      readView(spark, viewDir).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
    }
}
