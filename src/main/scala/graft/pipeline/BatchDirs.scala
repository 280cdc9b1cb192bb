package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

/** The one replay-safe micro-batch contract of the pipeline sinks
  * (IncrementalDedup's index and outputs, IvmSink's view, and the
  * checkpoint wiring of SnapshotSink): a micro-batch that is delivered
  * again changes nothing.
  *
  * `foreachBatch` is at-least-once, so each batch-identified write
  * OVERWRITEs the batch's own subdir `b<runId>-<id>` of the table dir,
  * and a read of the table made for that batch skips the batch's own
  * subdir. A replayed batch therefore sees exactly the pre-batch table
  * (whatever a crashed attempt half-wrote is ignored, then replaced),
  * recomputes the identical result and overwrites its own output
  * subdir the same way: nothing double-counted, no duplicate rows to
  * scrub on read. A batch-anonymous call (`batch = None`) appends to
  * the flat layer instead.
  *
  * The subdir is namespaced by the run id, the query id persisted in
  * `<checkpointDir>/metadata`: fresh when the checkpoint is reset,
  * stable across restarts. Micro-batch ids restart at 0 on a reset, so
  * without the namespace a fresh run's b0 would silently overwrite a
  * prior run's committed b0.
  *
  * Writer contract: one writer per table dir (one active stream, and no
  * batch-mode call on the same dir while it runs), and no compaction
  * while a crashed batch awaits replay. Compaction folds the remnant
  * into the flat layer, where the replay's own-subdir skip can no
  * longer see it, so the replay would count the batch twice.
  */
private[graft] object BatchDirs {

  /** The run id of the stream checkpointed at `checkpointDir`: the
    * FULL sanitized query id from its metadata file; empty ONLY when
    * the file does not exist (the un-namespaced layout). A read or
    * parse error must PROPAGATE: mapping a transient FS error to ""
    * would silently demote the stream to the un-namespaced layout,
    * where a reset checkpoint's b0 overwrites a prior run's committed
    * b0 (the exact loss the namespace exists to prevent).
    */
  def runId(spark: SparkSession, checkpointDir: String): String = {
    val p = new Path(s"$checkpointDir/metadata")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) ""
    else {
      val in = fs.open(p)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      // the FULL sanitized id — a truncated prefix (an earlier .take(8))
      // can collide across checkpoint generations, silently merging the
      // namespaces the runId exists to keep apart
      """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt)
        .map(_.group(1).replaceAll("[^0-9a-zA-Z-]", ""))
        .getOrElse(sys.error(
          s"BatchDirs: checkpoint metadata at $p has no query id — " +
            "refusing to fall back to the un-namespaced layout"))
    }
  }

  /** Batch `id`'s subdir name under run `runId` (`b<id>` without one). */
  def subdir(runId: String, id: Long): String =
    if (runId.isEmpty) s"b$id" else s"b$runId-$id"

  /** Upgrade/reset hazard: under a run namespace, a subdir spelled the
    * way an older version named batch `id` — un-namespaced (`b<id>`) or
    * truncated (`b<runId.take(8)>-<id>`, when run ids kept only the
    * first 8 chars of the query id) — is ambiguous. It is either a
    * crashed attempt at THIS batch (must be excluded, or the batch
    * counts itself twice) or a committed batch of an earlier run (must
    * be kept, or its rows go missing). The name cannot tell them apart,
    * so fail fast with the resolution instead of silently picking one.
    * Checks every dir in `dirs`; a no-op without a run id or batch id.
    */
  def guardLegacy(
      spark: SparkSession, dirs: Seq[String],
      runId: String, batch: Option[Long]): Unit =
    if (runId.nonEmpty) batch.foreach { id =>
      val legacy = Seq(s"b$id") ++
        (if (runId.length > 8) Seq(s"b${runId.take(8)}-$id") else Nil)
      for (dir <- dirs; name <- legacy) {
        val p = new Path(s"$dir/$name")
        if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
          sys.error(
            s"BatchDirs: legacy subdir $p collides with batch $id of run " +
              s"'$runId'. If it is a crashed attempt's remnant, delete it. If " +
              "it is a previous run's committed batch, fold it into the flat " +
              "layer (IncrementalDedup.compactIndex, only while no crashed " +
              "batch awaits replay) or move an output dir's subdir aside. " +
              "Then restart the stream.")
      }
    }

  /** Read table `dir` for batch `batch` (a [[subdir]] name): the flat
    * layer plus every batch subdir, skipping `_`/`.` entries and the
    * batch's own subdir, which can only be a crashed attempt's remnant.
    * Recovers a crashed swap first, and reads an absent or empty dir as
    * an empty frame. Only a truly absent path is "empty": any other
    * read error propagates, since reading a broken table as empty would
    * drop every old row from the batch's result and then extend the
    * table anyway.
    */
  def read(
      spark: SparkSession, dir: String, schema: StructType,
      batch: Option[String]): DataFrame = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keep =
      if (!DirSwap.recover(spark, dir)) Array.empty[Path]
      else fs.listStatus(root).map(_.getPath).filter { p =>
        val n = p.getName
        !n.startsWith("_") && !n.startsWith(".") && batch.forall(n != _)
      }
    if (keep.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    else spark.read.schema(schema)
      .option("recursiveFileLookup", "true")
      .parquet(keep.map(_.toString).toIndexedSeq: _*)
  }

  /** Extend table `dir` with `df`: OVERWRITE the batch's own subdir (a
    * replay replaces its partial remnant instead of adding a second
    * copy), or APPEND to the flat layer for a batch-anonymous call.
    * Recovers a crashed swap first, so the write never recreates a dir
    * that a compaction moved aside.
    */
  def write(df: DataFrame, dir: String, batch: Option[String]): Unit = {
    DirSwap.recover(df.sparkSession, dir)
    batch match {
      case None => df.write.mode("append").parquet(dir)
      case Some(name) => df.write.mode("overwrite").parquet(s"$dir/$name")
    }
  }

  /** One delivered micro-batch: its id, and the run that namespaces it,
    * read from the checkpoint on first use only.
    */
  final class Batch private[BatchDirs] (val id: Long, run: => String) {
    lazy val runId: String = run
    def subdir: String = BatchDirs.subdir(runId, id)
  }

  /** The `foreachBatch` wiring of a pipeline sink: checkpoint at
    * `checkpointDir`, and `step` per micro-batch. The run id is read
    * once per driver process, on the first [[Batch.runId]]: the
    * metadata file exists by then (written at query start), and a sink
    * that names no subdirs never reads it. The caller starts and stops
    * the returned query (e.g. `.trigger(AvailableNow)` for catch-up
    * runs).
    */
  def foreachBatch(in: DataFrame, checkpointDir: String)(
      step: (DataFrame, Batch) => Unit): DataStreamWriter[Row] = {
    lazy val run = runId(in.sparkSession, checkpointDir)
    in.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: DataFrame, id: Long) => step(df, new Batch(id, run)) }
  }

  /** [[foreachBatch]] whose step returns a frame: guard `outDir`, run
    * the step, and OVERWRITE its frame into `outDir/<subdir>`. The guard
    * runs before the step, so a legacy collision fails before the step
    * extends any table.
    */
  def foreachBatchInto(in: DataFrame, checkpointDir: String, outDir: String)(
      step: (DataFrame, Batch) => DataFrame): DataStreamWriter[Row] =
    foreachBatch(in, checkpointDir) { (df, b) =>
      guardLegacy(df.sparkSession, Seq(outDir), b.runId, Some(b.id))
      step(df, b).write.mode("overwrite").parquet(s"$outDir/${b.subdir}")
    }
}
