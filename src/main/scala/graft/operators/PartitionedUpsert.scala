package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.DirSwap

/** Partition-level MERGE: [[Upsert]] against a snapshot stored
  * `partitionBy(partitionCol)` on disk, rewriting ONLY the partition
  * directories the delta touches. The batch-MERGE answer to the
  * copy-on-write table-format trade: a 0.1% daily delta against a
  * 100 TB snapshot must rewrite ~0.1% of the files, not all of them —
  * a full-snapshot DirSwap (the unpartitioned
  * [[graft.pipeline.SnapshotSink]] path) dies there.
  *
  * Plan shape: ONE full-outer merge join, exactly [[Upsert]]'s — but
  * its snapshot side is the partition-PRUNED read of only the touched
  * directories (`PartitionFilters` in the scan; untouched partitions
  * are never opened, never shuffled, never rewritten), and the write
  * lands only those partitions' replacement files.
  *
  * Contracts (on top of [[Upsert]]'s):
  *   - `partitionCol` is functionally determined by the key columns —
  *     a key's partition value never changes across updates (else the
  *     stale copy in the old partition would survive the merge). A
  *     partition column that IS a key satisfies this trivially.
  *   - partition values are non-null (a null would land in Hive's
  *     default-partition directory, which the touched-value pruning
  *     does not model — fail fast instead).
  *   - delta carries `partitionCol`; `deletes` (optional) carries the
  *     key columns plus `partitionCol`.
  *   - single writer per snapshotDir (the DirSwap contract).
  *
  * Crash safety: each partition installs via [[DirSwap]]'s swap (old
  * dir preserved under `<snapshotDir>_merge_old/` until its replacement
  * is in place); a crash mid-merge leaves SOME partitions new and some
  * old — re-applying the same batch re-converges, because the merge is
  * idempotent (same at-least-once stance as SnapshotSink's micro-batch
  * replay). Leftover aside dirs are restored automatically on the next
  * call. Table-level atomicity would need a manifest layer on top;
  * the directory layout deliberately trades that for zero metadata
  * infrastructure.
  */
object PartitionedUpsert {

  /** Above this many touched partitions the per-partition machinery
    * (driver-side value list, dir-name probe write, per-dir rename
    * loop) stops being metadata-scale; the merge falls back to a full
    * snapshot rewrite, which is both driver-memory-bounded and — at
    * that touch ratio — no longer meaningfully more IO than the
    * partition-wise path anyway.
    */
  val MaxTouchedPartitions: Int = 100000

  def apply(
      spark: SparkSession,
      snapshotDir: String,
      delta: DataFrame,
      keys: Seq[String],
      partitionCol: String,
      deletes: Option[DataFrame] = None,
      maxTouched: Int = MaxTouchedPartitions): Unit = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    require(delta.columns.contains(partitionCol),
      s"delta must carry the partition column $partitionCol")
    deletes.foreach(del => require(
      del.columns.toSet == (keys :+ partitionCol).toSet,
      s"deletes must carry exactly keys + $partitionCol, " +
        s"got ${del.columns.mkString(",")}"))

    val root = new Path(snapshotDir)
    val dir = root.toString
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    DirSwap.recover(fs, root, new Path(dir + "_full_old"))
    restoreAside(fs, root)

    // An EMPTIED snapshot (deletes wiped every row — see fullRewrite's
    // empty branch) is one root-level empty part file and no partition
    // dirs. Logically it holds zero rows, so the merge degenerates to
    // a first install: verify the file really is empty (a NON-empty
    // root-level part file is a foreign flat layout → fall through to
    // the layout guard below), sweep it, and take the install path.
    if (fs.exists(root)) {
      val entries = fs.listStatus(root)
      val strayParts = entries.filter(st =>
        st.isFile && st.getPath.getName.startsWith("part-"))
      val hasPartDirs = entries.exists(st =>
        st.isDirectory && st.getPath.getName.startsWith(partitionCol + "="))
      if (strayParts.nonEmpty && !hasPartDirs &&
          spark.read.parquet(dir).isEmpty) {
        fs.delete(root, true)
      }
    }

    if (!fs.exists(root)) {
      // first install: the delta IS the snapshot (minus deletes, whose
      // keys are simply absent)
      val init = deletes.fold(delta)(del =>
        delta.join(broadcast(del.select(keys.map(col): _*)), keys, "left_anti"))
      DirSwap.rewriteInPlace(spark, dir) { tmp =>
        init.write.mode("overwrite").partitionBy(partitionCol).parquet(tmp)
        rejectNullPartition(fs, new Path(tmp), partitionCol, "first-install delta")
      }
      return
    }

    // ---- layout guard ----------------------------------------------
    // The merge path requires a snapshot THIS operator laid out. Run
    // against a pre-existing flat (DirSwap-style) snapshot dir, the
    // partition-dir listing would come up empty, the merge would
    // silently ignore every existing row, and the installed p= dirs
    // would corrupt the flat layout (mixed root-level files + partition
    // dirs fail to read). Fail fast instead: everything visible in the
    // root must be a `partitionCol=` dir (hidden _/. entries excepted).
    fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".") &&
          !(st.isDirectory && n.startsWith(partitionCol + "=")))
        sys.error(
          s"PartitionedUpsert: $root is not a $partitionCol-partitioned " +
            s"snapshot (found '$n') — refusing to merge into a foreign layout")
    }

    // ---- touched partitions ----------------------------------------
    // The touched-value set is small BY CONSTRUCTION — bounded by the
    // delta, not the snapshot (that is the operator's entire point) —
    // so collecting it is a metadata-scale driver action, the same
    // class as a streaming batch id or a convergence probe. The
    // construction is still GUARDED: the collect goes through a
    // limit(maxTouched+1) probe, so a pathological delta touching
    // millions of partitions costs one extra row on the driver, never
    // an unbounded list — it falls back to the full rewrite below.
    val touchedDf = deletes
      .fold(delta.select(col(partitionCol)))(del =>
        delta.select(col(partitionCol))
          .unionByName(del.select(col(partitionCol))))
      .distinct()
      .localCheckpoint() // reused for pruning AND the dir-name mapping
    val probe = touchedDf.limit(maxTouched + 1).collect().map(_.get(0)).toSeq
    if (probe.length > maxTouched) {
      fullRewrite(spark, dir, fs, delta, keys, partitionCol, deletes)
      return
    }
    val touched = probe
    require(!touched.contains(null),
      s"PartitionedUpsert: null $partitionCol value in the delta — " +
        "null partitions are outside the touched-partition contract")
    if (touched.isEmpty) return

    // ---- touched directory names, BEFORE the read ------------------
    // Computed by having Spark write the touched values through the
    // identical partitionBy path: exact same escaping as the real
    // write, by construction, no internal-API use. Knowing the names
    // up front lets the snapshot read list ONLY the touched dirs —
    // `spark.read.parquet(root)` would enumerate every file of every
    // partition first (millions of LIST calls on a 100 TB snapshot)
    // just to prune most of them away.
    val touchedDirs: Set[String] = {
      val scratch = new Path(dir + "_merge_names")
      fs.delete(scratch, true)
      touchedDf.withColumn("__x", lit(1))
        .write.mode("overwrite").partitionBy(partitionCol).parquet(scratch.toString)
      val names = partDirs(fs, scratch, partitionCol)
      fs.delete(scratch, true)
      names
    }
    val existingDirs = touchedDirs.filter(n => fs.exists(new Path(root, n)))

    // ---- merge, on the touched partitions only ----------------------
    // insert-only partitions have no snapshot side; the merge then
    // degenerates to the delta itself
    val merged0 =
      if (existingDirs.isEmpty) delta
      else Upsert(
        touchedSnapshot(spark, dir, partitionCol, touched, existingDirs,
          delta.schema),
        delta, keys)
    val merged = deletes.fold(merged0)(del =>
      // tiny per-batch delete set: broadcast anti-join
      merged0.join(broadcast(del.select(keys.map(col): _*)), keys, "left_anti"))

    // the lazy read of the old partitions inside this write is safe:
    // swaps happen only after the tmp write completes.
    // repartition(partitionCol) first: without it every shuffle task
    // writes a file into every touched dir (touched × tasks small
    // files per merge — unbounded fragmentation for a long-running
    // sink); with it each partition's rows land in one task → one
    // file per dir per merge. The extra shuffle moves only the merged
    // rows, which are delta-bounded by construction.
    val tmpPath = new Path(dir + "_merge_tmp")
    merged.repartition(col(partitionCol))
      .write.mode("overwrite").partitionBy(partitionCol).parquet(tmpPath.toString)

    // ---- per-partition rename-aside install ------------------------
    // touchedDirs covers both cases: a dir present in tmp swaps in; a
    // touched dir ABSENT from tmp was emptied by deletes and must go.
    // (aside slots cannot pre-exist here: restoreAside drained and
    // deleted the whole aside dir at entry.)
    val aside = new Path(dir + "_merge_old")
    fs.mkdirs(aside)
    touchedDirs.toSeq.sorted.foreach { name =>
      DirSwap.swap(fs, new Path(root, name), new Path(tmpPath, name),
        new Path(aside, name))
    }
    fs.delete(tmpPath, true)
    fs.delete(aside, true)
    // stray-file sweep: an emptied-then-refilled snapshot carries one
    // root-level empty part file (see fullRewrite's empty branch);
    // now that partition dirs exist again, a mixed layout would break
    // schemaless partition discovery — remove it
    fs.listStatus(root).foreach { st =>
      if (st.isFile && st.getPath.getName.startsWith("part-"))
        fs.delete(st.getPath, false)
    }
    ()
  }

  /** Fallback when the delta touches more than `maxTouched` partition
    * values: one [[Upsert]] over the WHOLE snapshot, installed by a
    * single root-level swap. No driver-side value list exists on this
    * path at all — the null-partition contract is enforced by the same
    * zero-extra-scan Hive-default-dir probe the first install uses.
    * Crash safety: [[DirSwap]]'s swap via `<snapshotDir>_full_old`,
    * which the next call's recover resolves.
    */
  private def fullRewrite(
      spark: SparkSession,
      dir: String,
      fs: FileSystem,
      delta: DataFrame,
      keys: Seq[String],
      partitionCol: String,
      deletes: Option[DataFrame]): Unit = {
    val root = new Path(dir)
    val snap = spark.read.schema(delta.schema).parquet(dir)
    val merged0 = Upsert(snap, delta, keys)
    val merged = deletes.fold(merged0)(del =>
      merged0.join(broadcast(del.select(keys.map(col): _*)), keys, "left_anti"))
    val tmp = new Path(dir + "_merge_tmp")
    if (merged.isEmpty) {
      // a delta whose deletes empty the table: a partitionBy write of
      // zero rows produces a dir with ONLY _SUCCESS, which schemaless
      // readers cannot infer — install one empty schema-bearing file
      // instead (partitionCol becomes a regular column of the empty
      // frame; the next install's stray-file sweep removes it when
      // partition dirs return)
      merged.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    } else
      merged.repartition(col(partitionCol))
        .write.mode("overwrite").partitionBy(partitionCol).parquet(tmp.toString)
    rejectNullPartition(fs, tmp, partitionCol, "delta")
    DirSwap.swap(fs, root, tmp, new Path(dir + "_full_old"))
  }

  /** Null partition values are outside the touched-partition contract
    * on EVERY path: a null row landing in Hive's default partition dir
    * could never be updated or deleted by later merges. The tmp write
    * surfaces them with zero extra scan — fail before install, leaving
    * nothing behind.
    */
  private def rejectNullPartition(
      fs: FileSystem, tmp: Path, partitionCol: String, what: String): Unit =
    if (fs.exists(new Path(tmp, s"$partitionCol=__HIVE_DEFAULT_PARTITION__"))) {
      fs.delete(tmp, true)
      sys.error(s"PartitionedUpsert: null $partitionCol value in the $what — " +
        "null partitions are outside the touched-partition contract")
    }

  /** The touched-partitions-only snapshot read — package-private so
    * the spec can assert file-level pruning directly. Listing is
    * restricted to the touched dirs from the start (basePath keeps the
    * partition column derived from the paths); the residual
    * isInCollection filter is belt-and-suspenders, pruning nothing the
    * path list didn't already.
    *
    * The read takes the DELTA's schema explicitly: without one, Spark
    * would INFER the partition column's type from the path strings —
    * a string partition value with a non-canonical numeric rendering
    * ("01", "1.50") would come back re-typed ("1", "1.5"), the merged
    * rows would land in a differently-named directory outside the
    * touched set, and the swap loop would silently drop them. With the
    * schema supplied, the path value is cast to the declared type —
    * identity for strings — so dir names round-trip exactly.
    */
  private[graft] def touchedSnapshot(
      spark: SparkSession,
      snapshotDir: String,
      partitionCol: String,
      values: Seq[Any],
      existingDirs: Set[String],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).option("basePath", snapshotDir)
      .parquet(existingDirs.toSeq.sorted.map(n => s"$snapshotDir/$n"): _*)
      .filter(col(partitionCol).isInCollection(values))

  /** `<partitionCol>=<value>` child directory names of `dir` */
  private def partDirs(fs: FileSystem, dir: Path, partitionCol: String): Set[String] =
    fs.listStatus(dir)
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith(partitionCol + "="))
      .toSet

  /** Recover from a crash inside a previous call's swap loop:
    * [[DirSwap]]'s recover over each dir under `_merge_old` (one whose
    * snapshot slot is EMPTY was moved aside but never replaced and goes
    * back; one whose slot is occupied was already replaced and is
    * dropped). Leaves the snapshot at a mix of old and new
    * partitions; replaying the crashed batch re-converges.
    */
  private def restoreAside(fs: FileSystem, root: Path): Unit = {
    val aside = new Path(root.toString + "_merge_old")
    if (fs.exists(aside)) {
      if (!fs.exists(root))
        sys.error(s"PartitionedUpsert: aside dir $aside exists but snapshot " +
          s"$root does not — refusing to guess; restore manually")
      fs.listStatus(aside).foreach { st =>
        DirSwap.recover(fs, new Path(root, st.getPath.getName), st.getPath)
      }
      fs.delete(aside, true)
    }
  }
}
