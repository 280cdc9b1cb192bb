package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming materialized snapshot: fold a CDC/upsert stream into a
  * key→latest-row parquet table — the continuously-maintained form of
  * the q86 [[graft.operators.Upsert]] / q91 [[graft.operators.CdcApply]]
  * batch operators, the way [[IncrementalDedup.streamingDedup]] is the
  * continuous form of q26.
  *
  * Per micro-batch (foreachBatch — the batch is the unit: the merge
  * needs the whole delta and the previous snapshot in one plan):
  *   1. compact the batch to its last op per key (rank-1 window,
  *      WindowGroupLimit in-shuffle pruning);
  *   2. split into upserts and deletes (opCol = 'D');
  *   3. full-outer merge the upserts into the snapshot, anti-join the
  *      deletes out;
  *   4. install the new snapshot via DirSwap (crash leaves the old
  *      table at `_compact_old`, never destroyed).
  *
  * Replay safety: foreachBatch is at-least-once; re-applying a batch
  * is a no-op because the merge is idempotent — upserting rows already
  * present (same key, same payload) and re-deleting absent keys both
  * leave the snapshot unchanged. Same single-writer contract as the
  * other DirSwap users: one active stream per snapshotDir.
  *
  * Scale: with `partitionCol` set the snapshot is stored
  * `partitionBy(partitionCol)` and each batch merges through
  * [[graft.operators.PartitionedUpsert]] — only the partitions the
  * batch touches are read, joined, and rewritten, which is the 100 TB
  * path (a 0.1% delta rewrites ~0.1% of the files). Without it the
  * snapshot rewrites in full once per batch via DirSwap — fine for
  * small snapshots, the documented copy-on-write trade otherwise.
  * `partitionCol` carries PartitionedUpsert's contract: key-derived
  * (a key's partition never changes) and non-null, present in the
  * stream's columns.
  */
object SnapshotSink {

  def run(
      stream: DataFrame,
      keys: Seq[String],
      seqCol: String,
      opCol: Option[String],
      snapshotDir: String,
      checkpointDir: String,
      partitionCol: Option[String] = None): DataStreamWriter[Row] = {
    require(keys.nonEmpty, "snapshot sink needs at least one key column")
    // the merge is idempotent, so the sink names no batch subdirs and
    // never reads the run id
    BatchDirs.foreachBatch(stream, checkpointDir) { (batch, _) =>
      applyBatch(batch, keys, seqCol, opCol, snapshotDir, partitionCol)
    }
  }

  /** one merge step; also the batch-mode backfill entry */
  def applyBatch(
      batch: DataFrame,
      keys: Seq[String],
      seqCol: String,
      opCol: Option[String],
      snapshotDir: String,
      partitionCol: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val last = graft.operators.CdcApply.lastPerKey(batch, keys, seqCol)
    val upserts = opCol.fold(last.drop(seqCol)) { oc =>
      last.filter(col(oc) =!= "D").drop(seqCol, oc)
    }
    // the partitioned path needs each delete's partition value to know
    // which directories the batch touches; distinct, because the
    // partition column may itself BE a key (blessed by the
    // PartitionedUpsert contract) and a duplicated column name would
    // make every later reference ambiguous
    val deletes = opCol.map { oc =>
      last.filter(col(oc) === "D")
        .select((keys ++ partitionCol.toSeq).distinct.map(col): _*)
    }

    partitionCol match {
      case Some(pc) =>
        // PartitionedUpsert owns first-install, crash recovery, and the
        // touched-partition-only rewrite
        graft.operators.PartitionedUpsert(
          spark, snapshotDir, upserts, keys, pc, deletes)
      case None =>
        // recover first, so that an absent dir is truly the first
        // batch, not a snapshot a crashed swap moved aside: the
        // compacted upserts ARE the snapshot (a key whose last op is a
        // delete is already absent from `upserts`). Either way the new
        // snapshot goes to a tmp sibling first, so a crash mid-write
        // never leaves a torn visible dir that wedges the replay.
        val next =
          if (!DirSwap.recover(spark, snapshotDir)) upserts
          else {
            val merged = graft.operators.Upsert(
              spark.read.parquet(snapshotDir), upserts, keys)
            // tiny per-batch delete set: broadcast anti-join
            deletes.fold(merged)(del => merged.join(broadcast(del), keys, "left_anti"))
          }
        // the lazy read of the old snapshot inside this write is safe:
        // DirSwap swaps only after the tmp write completes
        DirSwap.rewriteInPlace(spark, snapshotDir) { tmp =>
          next.write.mode("overwrite").parquet(tmp)
        }
    }
  }
}
