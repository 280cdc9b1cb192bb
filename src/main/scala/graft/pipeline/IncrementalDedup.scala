package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Incremental near-dup detection against a persisted shingle index —
  * the operational form of q26 at 100 TB: a corpus that grows by
  * batches must dedup each NEW batch against everything ingested
  * before it WITHOUT re-scanning (or re-shingling) the old corpus.
  *
  * The index is two parquet tables under `indexDir`:
  *   postings/  (doc_id, shingle)  — 8-byte shingle hashes
  *   sizes/     (doc_id, sz)       — distinct-shingle counts
  *
  * Each `dedupBatch` call joins the new batch's postings against the
  * full posting set (old ∪ new), emits exact-jaccard pairs whose
  * RIGHT side is always a new document, then appends the new postings
  * to the index. Old-old pairs were emitted by earlier calls — the
  * work per batch is proportional to the BATCH, not the corpus.
  *
  * Contract: doc_ids are monotonically increasing across batches
  * (append-only corpus) — that is what makes "a.doc_id < b.doc_id
  * with b new" enumerate each pair exactly once across all calls.
  */
object IncrementalDedup {

  private val PostingsSchema = StructType.fromDDL("doc_id BIGINT, shingle BIGINT")
  private val SizesSchema = StructType.fromDDL("doc_id BIGINT, sz INT")

  /** distinct 3-word-shingle hashes per doc (native one-pass kernel) */
  private def shingleFrame(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      call_function("shingle_hashes", lower(col("text")), lit(3)).as("sh"))
      .filter(size(col("sh")) > 0)

  private val BucketsSchema = StructType.fromDDL("vec_id BIGINT, t INT, sig BIGINT")
  private val VectorsSchema =
    StructType.fromDDL("vec_id BIGINT, v ARRAY<DOUBLE>, norm DOUBLE")

  private def emptyDf(
      spark: org.apache.spark.sql.SparkSession, schema: StructType) =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)

  /** Per-batch subdir name. `runId` (when non-empty) namespaces the
    * batch id: micro-batch ids restart at 0 when a streaming
    * checkpoint is reset, and without the namespace a fresh run's b0
    * would silently OVERWRITE a prior run's b0 index subdir —
    * committed postings lost with no error. [[streamingDedup]] derives
    * runId from the checkpoint's persisted query id, which is exactly
    * the token that changes on reset and survives restart.
    */
  private def subdirName(runId: String, id: Long): String =
    if (runId.isEmpty) s"b$id" else s"b$runId-$id"

  /** Upgrade/reset hazard: under a run namespace, a LEGACY
    * un-namespaced `b<id>` subdir whose id equals the batch being
    * processed is ambiguous — it is either a pre-upgrade crashed
    * attempt at THIS batch (must be excluded, or the batch
    * double-counts itself) or a committed batch of some previous run
    * (must be included, or its pairs' corpus half goes missing). The
    * name alone cannot distinguish them, so fail fast with the
    * resolution instead of silently picking one.
    */
  /** Every pre-upgrade spelling of batch `id`'s subdir under run
    * `runId`: the un-namespaced era (`b<id>`) and the truncated era
    * (`b<runId.take(8)>-<id>`, when runIds kept only the first 8 chars
    * of the checkpoint UUID). ONE definition — the guard sites for the
    * index subdirs and the pairs dir must always check the same list,
    * or the next naming-era fix silently misses one path.
    */
  private def legacyBatchNames(runId: String, id: Long): Seq[String] =
    Seq(s"b$id") ++ (if (runId.length > 8) Seq(s"b${runId.take(8)}-$id") else Nil)

  private def guardLegacyCollision(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String, subs: Seq[String],
      batchId: Option[Long], runId: String): Unit =
    if (runId.nonEmpty) batchId.foreach { id =>
      // same ambiguity for a TRUNCATED-era name: a crashed attempt
      // there would double-count exactly like the un-namespaced case,
      // and a committed one must not be dropped
      subs.foreach { sub =>
        legacyBatchNames(runId, id).foreach { ln =>
          val p = new org.apache.hadoop.fs.Path(s"$indexDir/$sub/$ln")
          if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
            sys.error(
              s"IncrementalDedup: legacy subdir $p collides with " +
                s"batch $id of run '$runId'. If it is a COMMITTED batch of a " +
                "previous run, fold it into the flat layout with compactIndex() " +
                "(only while no crashed batch awaits replay); if it is a crashed " +
                "attempt's remnant, delete it. Then restart the stream.")
        }
      }
    }

  /** Read an index sub-table: flat (legacy/compacted) files plus any
    * per-batch `b<...>` subdirs. With `excludeBatch = Some(name)` that
    * one subdir is skipped — it can only be a remnant of a FAILED
    * earlier attempt at the batch being (re)processed, and including
    * it would double-count the batch against itself on replay.
    */
  private def readIndexTable(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String, sub: String, schema: StructType,
      excludeBatch: Option[String]): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(s"$indexDir/$sub")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // before the batch's write recreates a sub-table that a crashed
    // compactIndex moved aside
    if (!DirSwap.recover(spark, root.toString)) emptyDf(spark, schema)
    else {
      val keep = fs.listStatus(root)
        .map(_.getPath)
        .filter { p =>
          val n = p.getName
          !n.startsWith("_") && !n.startsWith(".") &&
            excludeBatch.forall(n != _)
        }
      if (keep.isEmpty) emptyDf(spark, schema)
      else spark.read.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(keep.map(_.toString).toIndexedSeq: _*)
    }
  }

  /** Extend an index sub-table. Batch-anonymous calls append (legacy
    * layout); batch-identified calls OVERWRITE a deterministic per-
    * batch subdir, which is what makes a replayed batch idempotent —
    * the retry replaces its own partial remnant instead of appending a
    * second copy.
    */
  private def writeIndexTable(
      df: DataFrame, indexDir: String, sub: String,
      batchSubdir: Option[String]): Unit = batchSubdir match {
    case None => df.write.mode("append").parquet(s"$indexDir/$sub")
    case Some(name) => df.write.mode("overwrite").parquet(s"$indexDir/$sub/$name")
  }

  /** The embedding-modality twin of [[dedupBatch]]: hyperplane-LSH
    * buckets (same geometry as the q49 scale path) persisted under
    * `indexDir` —
    *   buckets/ (vec_id, t, sig)   — 20-byte postings
    *   vectors/ (vec_id, v, norm)  — for the exact-cosine verify
    * Each call buckets the NEW vectors, candidates them against the
    * full bucket set, verifies with exact cosine, emits pairs whose
    * right side is new, and appends the batch to the index. Same
    * monotone-vec_id contract as dedupBatch.
    */
  def dedupEmbeddingBatch(
      newVecs: DataFrame,
      indexDir: String,
      tau: Double = 0.4,
      tables: Int = 8,
      bits: Int = 6,
      batchId: Option[Long] = None,
      runId: String = ""): DataFrame = {
    val spark = newVecs.sparkSession
    guardLegacyCollision(spark, indexDir, Seq("buckets", "vectors"), batchId, runId)
    val sub = batchId.map(subdirName(runId, _))
    val e = newVecs
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(call_function("vec_dot", col("v"), col("v"))))
      .localCheckpoint()
    val newBuckets = e.select(col("vec_id"),
      posexplode(call_function("lsh_sigs", col("v"), lit(tables), lit(bits)))
        .as(Seq("t", "sig")))

    val oldBuckets = readIndexTable(spark, indexDir, "buckets", BucketsSchema, sub)
    val oldVectors = readIndexTable(spark, indexDir, "vectors", VectorsSchema, sub)

    val allBuckets = oldBuckets.unionByName(newBuckets)
    val allVectors = oldVectors.unionByName(e)

    val pairs = allBuckets.as("a").join(newBuckets.as("b"),
        col("a.t") === col("b.t") && col("a.sig") === col("b.sig") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec1"), col("b.vec_id").as("vec2"))
      .dropDuplicates("vec1", "vec2")
      .join(allVectors.select(col("vec_id").as("vec1"), col("v").as("v1"),
        col("norm").as("n1")), "vec1")
      .join(e.select(col("vec_id").as("vec2"), col("v").as("v2"),
        col("norm").as("n2")), "vec2")
      .withColumn("cosine",
        call_function("vec_dot", col("v1"), col("v2")) / (col("n1") * col("n2")))
      .filter(col("cosine") >= tau)
      .select(col("vec1"), col("vec2"), col("cosine"))
      .localCheckpoint() // before the append — see dedupBatch

    writeIndexTable(newBuckets, indexDir, "buckets", sub)
    writeIndexTable(e, indexDir, "vectors", sub)
    pairs
  }

  /** Dedup `newDocs` against the index and itself, then extend the
    * index. Returns (doc1, doc2, jaccard) with jaccard ≥ tau and doc2
    * always from the new batch.
    */
  def dedupBatch(
      newDocs: DataFrame,
      indexDir: String,
      tau: Double = 0.8,
      batchId: Option[Long] = None,
      runId: String = ""): DataFrame = {
    val spark = newDocs.sparkSession
    guardLegacyCollision(spark, indexDir, Seq("postings", "sizes"), batchId, runId)
    val sub = batchId.map(subdirName(runId, _))

    val sh = shingleFrame(newDocs).localCheckpoint()
    val newPost = sh.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val newSizes = sh.select(col("doc_id"), size(col("sh")).as("sz"))

    // the empty-index fallback fires ONLY when the path truly does not
    // exist (first batch). A catch-all here would turn a corrupt
    // footer or transient FS error into "first batch", silently drop
    // every old-vs-new pair — unrecoverable, since later calls never
    // revisit old-old/old-new pairs — and then corrupt the index by
    // appending anyway. Read errors must propagate.
    // The old side is deliberately NOT checkpointed: it is the whole
    // corpus; a streamed, column-pruned parquet scan is the per-batch
    // cost the module promises (pairs.localCheckpoint below is the
    // only ordering barrier needed).
    val oldPost = readIndexTable(spark, indexDir, "postings", PostingsSchema, sub)
    val oldSizes = readIndexTable(spark, indexDir, "sizes", SizesSchema, sub)

    val allPost = oldPost.unionByName(newPost)
    val allSizes = oldSizes.unionByName(newSizes)

    val pairs = allPost.as("a").join(newPost.as("b"),
        col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .agg(count(lit(1)).as("inter"))
      .join(allSizes.withColumnRenamed("doc_id", "doc1")
        .withColumnRenamed("sz", "sz1"), "doc1")
      .join(newSizes.withColumnRenamed("doc_id", "doc2")
        .withColumnRenamed("sz", "sz2"), "doc2")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter")))
      .filter(col("jaccard") >= tau)
      .select(col("doc1"), col("doc2"), col("jaccard"))
      // materialize BEFORE the index append: the old-posting scan is
      // lazy, and appending first would double-count the new batch
      .localCheckpoint()

    writeIndexTable(newPost, indexDir, "postings", sub)
    writeIndexTable(newSizes, indexDir, "sizes", sub)
    pairs
  }

  private val SpansSchema = StructType.fromDDL("g BIGINT, cnt BIGINT")

  /** The exact-substring modality: q117's duplicated-span statistic
    * maintained incrementally. The index is one sub-table —
    *   spans/ (g, cnt) — per-batch partial counts of 8-byte 5-gram
    *   position hashes (mergeable: the true occurrence count of g is
    *   the SUM over batch partials, so appends never rewrite)
    * Each call counts the new batch's gram positions, probes them
    * against the merged old∪new counts, and emits per-doc coverage
    * (doc_id, n_pos, n_dup, dup_ppm) for the BATCH docs — measured
    * against the whole corpus ingested so far, so the last batch's
    * coverage equals the one-shot q117 over the union (spec-proven).
    * Coverage of EARLIER docs is monotone in corpus growth and is not
    * re-emitted; re-probe an old slice by passing it again with
    * dryRun=true. A dry run neither appends NOR unions the slice's own
    * counts into the probe — the slice is already in the index, and
    * self-counting it again would flag every one of its grams as
    * duplicated (count ≥ 2 against itself).
    */
  def spanCoverageBatch(
      newDocs: DataFrame,
      indexDir: String,
      n: Int = 5,
      batchId: Option[Long] = None,
      runId: String = "",
      dryRun: Boolean = false): DataFrame = {
    val spark = newDocs.sparkSession
    guardLegacyCollision(spark, indexDir, Seq("spans"), batchId, runId)
    val sub = batchId.map(subdirName(runId, _))
    val pos = newDocs
      .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("ws")) - (n - 1)),
          i => xxhash64(array_join(slice(col("ws"), i, lit(n)), " ")))).as("g"))
      .localCheckpoint() // one tokenize feeds the batch counts AND the probe
    val batchCnt = pos.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
    val oldCnt = readIndexTable(spark, indexDir, "spans", SpansSchema, sub)
    val total = (if (dryRun) oldCnt else oldCnt.unionByName(batchCnt))
      .groupBy(col("g")).agg(sum(col("cnt")).as("cnt"))
    val perDoc = pos.join(total.hint("shuffle_hash"), "g") // q117's build-side stance
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("np"),
        sum(when(col("cnt") >= 2, 1L).otherwise(0L)).as("nd"))
    val out = newDocs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("np"), lit(0L)).as("n_pos"),
        coalesce(col("nd"), lit(0L)).as("n_dup"),
        // exact-integer ppm mirrors one-shot q117's emission so
        // incremental ≡ one-shot stays bit-exact (no double anywhere)
        when(col("np") > 0,
          expr("nd * CAST(1000000 AS BIGINT) DIV np"))
          .as("dup_ppm"))
      // materialize BEFORE the index append: the old-count scan is
      // lazy, and appending first would double-count the new batch
      .localCheckpoint()
    if (!dryRun) writeIndexTable(batchCnt, indexDir, "spans", sub)
    out
  }

  private val FirstsSchema = StructType.fromDDL("g BIGINT, fd BIGINT")

  /** The q157 novelty modality maintained incrementally: the index is
    * one sub-table —
    *   firsts/ (g, fd) — per-batch MIN doc_id per distinct 5-gram
    *   (mergeable: the true first occurrence is the MIN over batch
    *   partials, so appends never rewrite)
    * Each call emits per-doc (doc_id, n_grams, n_novel, novelty_ppm)
    * for the BATCH docs, attributed against everything ingested so
    * far. Under the file-wide append-only monotone doc_id contract
    * (batches arrive in ingestion order) the last batch's output
    * equals the one-shot q157 over the union (spec-proven), and the
    * novelty of earlier docs is final — never re-emitted. A dryRun
    * re-probes an already-ingested slice without appending; unlike the
    * spans modality it still unions the slice's own firsts into the
    * probe, because min is idempotent under self-union (a count is
    * not — that asymmetry is why spanCoverageBatch's dryRun must NOT
    * self-union while this one may).
    */
  def noveltyBatch(
      newDocs: DataFrame,
      indexDir: String,
      n: Int = 5,
      batchId: Option[Long] = None,
      runId: String = "",
      dryRun: Boolean = false): DataFrame = {
    val spark = newDocs.sparkSession
    guardLegacyCollision(spark, indexDir, Seq("firsts"), batchId, runId)
    val sub = batchId.map(subdirName(runId, _))
    val pos = newDocs
      .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"),
        explode(array_distinct(
          transform(sequence(lit(1), size(col("ws")) - (n - 1)),
            i => xxhash64(array_join(slice(col("ws"), i, lit(n)), " ")))))
          .as("g"))
      .localCheckpoint() // one tokenize feeds the batch firsts AND the probe
    val batchFirst = pos.groupBy(col("g")).agg(min(col("doc_id")).as("fd"))
    val oldFirst = readIndexTable(spark, indexDir, "firsts", FirstsSchema, sub)
    val total = oldFirst.unionByName(batchFirst)
      .groupBy(col("g")).agg(min(col("fd")).as("fd"))
    val perDoc = pos.join(total.hint("shuffle_hash"), "g") // q117's build side
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("np"),
        sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L)).as("nn"))
    val out = newDocs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("np"), lit(0L)).as("n_grams"),
        coalesce(col("nn"), lit(0L)).as("n_novel"),
        when(col("np") > 0,
          expr("nn * CAST(1000000 AS BIGINT) DIV np")).as("novelty_ppm"))
      // materialize BEFORE the index append: the old-firsts scan is
      // lazy, and appending first would let the batch shadow itself
      .localCheckpoint()
    if (!dryRun) writeIndexTable(batchFirst, indexDir, "firsts", sub)
    out
  }

  private val KmvSchema = StructType.fromDDL("source STRING, h BIGINT")

  /** Incremental maintenance of q156's per-source KMV signatures —
    * the source-overlap matrix as a continuously-refreshable service.
    * Each call: signature the NEW batch's shingle hashes (k smallest
    * per source), fold into the persisted signature frame under
    * `indexDir/kmv`, and emit the refreshed all-pairs overlap matrix
    * (src1, src2, est_ppm) over every source ingested so far.
    *
    * Correct by the KMV merge law — kmin(A ∪ B) =
    * kmin(kmin(A) ∪ kmin(B)) — so the per-batch partial is the
    * batch's own k-min signature (≤ k·|sources| rows, the only thing
    * ever persisted), the merged signature equals the one-shot
    * signature over the union corpus, and the matrix is bit-identical
    * to q156's estimate path (same kernel: Similarity.kmvShingles /
    * kmvSignature / kmvOverlapEst). Unlike the dedup modalities this
    * needs NO doc_id monotonicity: signatures are order-free sets.
    * The corpus is touched once per batch; the matrix recompute runs
    * on signatures alone (|sources|²·k tiny rows).
    */
  def kmvOverlapBatch(
      newDocs: DataFrame,
      indexDir: String,
      k: Int = 64,
      batchId: Option[Long] = None,
      runId: String = "",
      dryRun: Boolean = false): DataFrame = {
    val spark = newDocs.sparkSession
    guardLegacyCollision(spark, indexDir, Seq("kmv"), batchId, runId)
    val sub = batchId.map(subdirName(runId, _))
    val batchSig = graft.queries.Similarity
      .kmvSignature(graft.queries.Similarity.kmvShingles(newDocs), k)
      .localCheckpoint() // one corpus pass; reused by merge AND append
    val oldSig = readIndexTable(spark, indexDir, "kmv", KmvSchema, sub)
    // distinct: the same shingle hash may reach the k-min cut of more
    // than one batch partial — a duplicate would double-count one rank
    val merged = graft.queries.Similarity.kmvSignature(
      oldSig.unionByName(batchSig).distinct(), k)
    val out = graft.queries.Similarity.kmvOverlapEst(merged, k)
      // materialize BEFORE the index append: the old-signature scan is
      // lazy, and appending first would let the batch shadow itself
      .localCheckpoint()
    if (!dryRun) writeIndexTable(batchSig, indexDir, "kmv", sub)
    out
  }

  /** Streaming twin of [[kmvOverlapBatch]]: each micro-batch folds its
    * signature partial into the index and lands the refreshed overlap
    * matrix under `matrixDir` (the LAST batch's subdir is the current
    * matrix; earlier subdirs are the matrix's history). Replay
    * contract is [[streamingDedup]]'s: run-namespaced per-batch
    * subdirs with OVERWRITE + own-subdir exclusion on the index read
    * make at-least-once delivery idempotent. Single-writer per
    * indexDir.
    */
  def streamingKmvOverlap(
      streamingDocs: DataFrame,
      indexDir: String,
      matrixDir: String,
      checkpointDir: String,
      k: Int = 64): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val spark = streamingDocs.sparkSession
    lazy val runId = checkpointQueryId(spark, checkpointDir)
    streamingDocs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        guardLegacyOutSubdir(batch, matrixDir, runId, id, "matrix")
        kmvOverlapBatch(batch, indexDir, k, batchId = Some(id), runId = runId)
          .write.mode("overwrite")
          .parquet(s"$matrixDir/${subdirName(runId, id)}")
        ()
      }
  }

  private val CmsSchema = StructType.fromDDL("j BIGINT, c BIGINT, cnt BIGINT")

  /** Incremental maintenance of q165's Count-Min sketch — the
    * point-frequency sketch as a continuously-refreshable service.
    * Each call: sketch the NEW batch's keys (column `k`) into its own
    * d·w cell partial, persist the partial under `indexDir/cms`, and
    * emit the MERGED sketch over every batch ingested so far.
    *
    * Correct by Count-Min's linearity — cells are plain counters, so
    * sketch(A ⊎ B) = sketch(A) + sketch(B) cell-wise — which makes the
    * merged frame bit-identical to the one-shot sketch over the union
    * feed (spec-pinned), and every downstream min-over-rows probe
    * inherits the one-sided est ≥ exact guarantee for the union.
    * Like the KMV service this needs NO doc_id monotonicity: counter
    * addition is order-free. Each batch touches its own keys once;
    * the merge runs on ≤ d·w-row frames per batch partial.
    */
  def cmsBatch(
      newKeys: DataFrame,
      indexDir: String,
      batchId: Option[Long] = None,
      runId: String = "",
      dryRun: Boolean = false): DataFrame = {
    val spark = newKeys.sparkSession
    guardLegacyCollision(spark, indexDir, Seq("cms"), batchId, runId)
    val sub = batchId.map(subdirName(runId, _))
    val batchCells = graft.queries.Sources.cmsCells(newKeys)
      .localCheckpoint() // one key pass; reused by merge AND append
    val oldCells = readIndexTable(spark, indexDir, "cms", CmsSchema, sub)
    val out = oldCells.unionByName(batchCells)
      .groupBy(col("j"), col("c")).agg(sum(col("cnt")).as("cnt"))
      // materialize BEFORE the index append: the old-cells scan is
      // lazy, and appending first would let the batch shadow itself
      .localCheckpoint()
    if (!dryRun) writeIndexTable(batchCells, indexDir, "cms", sub)
    out
  }

  /** Streaming twin of [[cmsBatch]]: each micro-batch folds its cell
    * partial into the index and lands the refreshed merged sketch
    * under `sketchDir` (the LAST batch's subdir is the current
    * sketch). Replay contract is [[streamingDedup]]'s: run-namespaced
    * per-batch subdirs with OVERWRITE + own-subdir exclusion on the
    * index read make at-least-once delivery idempotent. Single-writer
    * per indexDir.
    */
  def streamingCms(
      streamingKeys: DataFrame,
      indexDir: String,
      sketchDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val spark = streamingKeys.sparkSession
    lazy val runId = checkpointQueryId(spark, checkpointDir)
    streamingKeys.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        guardLegacyOutSubdir(batch, sketchDir, runId, id, "sketch")
        cmsBatch(batch, indexDir, batchId = Some(id), runId = runId)
          .write.mode("overwrite")
          .parquet(s"$sketchDir/${subdirName(runId, id)}")
        ()
      }
  }

  /** every sub-table any modality appends to, with its read schema */
  private val IndexTables = Seq(
    "postings" -> PostingsSchema, "sizes" -> SizesSchema,
    "buckets" -> BucketsSchema, "vectors" -> VectorsSchema,
    "spans" -> SpansSchema, "firsts" -> FirstsSchema,
    "kmv" -> KmvSchema, "cms" -> CmsSchema)

  /** Structured-Streaming ingest: run [[dedupBatch]] as a foreachBatch
    * sink, so a `readStream` of documents dedups continuously against
    * the growing index and appends each micro-batch's near-dup pairs
    * to `pairsDir`. foreachBatch (not a row sink) because the batch is
    * the unit of the index contract: pairs must materialize before the
    * index extends, and each batch needs the full old∪new join —
    * per-row semantics can't express that. Micro-batch ids are
    * monotone, so the append-only doc_id contract carries over as
    * long as the SOURCE emits monotone doc_ids (same contract as the
    * batch API). Replay safety: foreachBatch is at-least-once, so the
    * micro-batch id is threaded into dedupBatch — the index append
    * lands in a per-batch subdir with OVERWRITE, and the old-side read
    * excludes the current batch's own subdir. A replayed batch
    * therefore sees exactly the pre-batch index (whatever a crashed
    * attempt half-wrote is ignored and then replaced), recomputes the
    * identical pairs, and overwrites its own pairs subdir the same
    * way — no double-counted postings, no inflated jaccards, no
    * duplicate pairs to scrub on read.
    *
    * Subdirs are namespaced by the checkpoint's persisted QUERY ID
    * (`$checkpointDir/metadata`) — fresh when the checkpoint is reset,
    * stable across restarts — so restarting a reset checkpoint (batch
    * ids back at 0) cannot overwrite a prior run's committed subdirs.
    * Remaining single-writer contract: one active stream per indexDir,
    * and [[compactIndex]] must not run while a crashed batch awaits
    * replay (compaction folds the remnant into the flat layout, where
    * the replay's own-subdir exclusion can no longer see it).
    *
    * Caller starts/stops the returned query (e.g. `.trigger(
    * AvailableNow)` for catch-up runs).
    */
  def streamingDedup(
      streamingDocs: DataFrame,
      indexDir: String,
      pairsDir: String,
      checkpointDir: String,
      tau: Double = 0.8): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val spark = streamingDocs.sparkSession
    // memoized per driver process; the metadata file exists by the time
    // the first micro-batch runs (written at query start) and its id is
    // the one token that distinguishes checkpoint generations
    lazy val runId = checkpointQueryId(spark, checkpointDir)
    streamingDocs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        guardLegacyOutSubdir(batch, pairsDir, runId, id, "pairs")
        dedupBatch(batch, indexDir, tau, batchId = Some(id), runId = runId)
          .write.mode("overwrite").parquet(s"$pairsDir/${subdirName(runId, id)}")
        ()
      }
  }

  /** Same legacy-collision ambiguity as the index subdirs: an
    * un-namespaced `outDir/b<id>` from before the namespace upgrade is
    * either a crashed attempt's partial output (delete it) or a
    * previous run's committed output (keep it) — fail fast rather than
    * leave phantom rows for recursive readers.
    */
  private def guardLegacyOutSubdir(
      batch: DataFrame, outDir: String, runId: String,
      id: Long, what: String): Unit =
    if (runId.nonEmpty) legacyBatchNames(runId, id).foreach { ln =>
      val legacy = new org.apache.hadoop.fs.Path(s"$outDir/$ln")
      if (legacy.getFileSystem(
          batch.sparkSession.sparkContext.hadoopConfiguration).exists(legacy))
        sys.error(
          s"IncrementalDedup: legacy $what subdir $legacy " +
            s"collides with batch $id of run '$runId' — delete it if it is " +
            "a crashed attempt's remnant, or move it aside if it is a " +
            "previous run's committed output; then restart the stream.")
    }

  /** Streaming twin of [[spanCoverageBatch]] — the q117 duplicated-
    * span statistic as a continuously-ingesting service: each
    * micro-batch's per-doc coverage (measured against the corpus
    * ingested so far, itself included) lands under `coverageDir`, and
    * the span index grows by the batch's mergeable partial counts.
    * Replay contract is [[streamingDedup]]'s: run-namespaced per-batch
    * subdirs with OVERWRITE + own-subdir exclusion on the index read
    * make at-least-once delivery idempotent, and a reset checkpoint
    * cannot clobber committed subdirs. Single-writer per indexDir.
    */
  def streamingSpanCoverage(
      streamingDocs: DataFrame,
      indexDir: String,
      coverageDir: String,
      checkpointDir: String,
      n: Int = 5): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val spark = streamingDocs.sparkSession
    lazy val runId = checkpointQueryId(spark, checkpointDir)
    streamingDocs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        guardLegacyOutSubdir(batch, coverageDir, runId, id, "coverage")
        spanCoverageBatch(batch, indexDir, n, batchId = Some(id), runId = runId)
          .write.mode("overwrite")
          .parquet(s"$coverageDir/${subdirName(runId, id)}")
        ()
      }
  }

  /** Streaming twin of [[noveltyBatch]] — q157's first-occurrence
    * novelty as a continuously-ingesting service: each micro-batch's
    * per-doc novelty (attributed against everything ingested so far)
    * lands under `noveltyDir`, and the firsts index grows by the
    * batch's mergeable min(doc_id) partials. Replay contract is
    * [[streamingDedup]]'s: run-namespaced per-batch subdirs with
    * OVERWRITE + own-subdir exclusion on the index read make
    * at-least-once delivery idempotent, and a reset checkpoint cannot
    * clobber committed subdirs. Single-writer per indexDir. Novelty of
    * earlier batches is FINAL under the monotone doc_id contract, so
    * the union of all emitted subdirs is exactly the one-shot q157
    * over the corpus so far.
    */
  def streamingNovelty(
      streamingDocs: DataFrame,
      indexDir: String,
      noveltyDir: String,
      checkpointDir: String,
      n: Int = 5): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val spark = streamingDocs.sparkSession
    lazy val runId = checkpointQueryId(spark, checkpointDir)
    streamingDocs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        guardLegacyOutSubdir(batch, noveltyDir, runId, id, "novelty")
        noveltyBatch(batch, indexDir, n, batchId = Some(id), runId = runId)
          .write.mode("overwrite")
          .parquet(s"$noveltyDir/${subdirName(runId, id)}")
        ()
      }
  }

  /** The streaming query id persisted in the checkpoint's metadata
    * file; empty string ONLY when the file does not exist (legacy
    * un-namespaced layout). A read/parse error must PROPAGATE — the
    * same stance as the index read above: mapping a transient FS error
    * to "" would silently demote the stream to the un-namespaced
    * layout, where a reset checkpoint's b0 overwrites a prior run's
    * committed b0 (the exact loss the namespace exists to prevent).
    */
  private[pipeline] def checkpointQueryId(
      spark: org.apache.spark.sql.SparkSession, checkpointDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$checkpointDir/metadata")
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
          s"IncrementalDedup: checkpoint metadata at $p has no query id — " +
            "refusing to fall back to the un-namespaced index layout"))
    }
  }

  /** Compact the index's per-batch appends into a bounded file count.
    *
    * Each `dedupBatch`/`dedupEmbeddingBatch` call appends one parquet
    * file-set per sub-table, so after N batches every later call's
    * old-side scan opens O(N × partitions) small files — linear read
    * amplification in batch count. Compaction rewrites each sub-table
    * to at most `targetFilesPerTable` files. The CONTENT is untouched
    * (pure coalesce — no dedup, no reorder semantics), so pairs
    * emitted by subsequent calls are identical before and after.
    *
    * Crash-safety and the single-writer contract are DirSwap's: a
    * crash mid-swap leaves the original sub-table at `_compact_old`,
    * which the next batch or compaction restores; do not run
    * concurrently with a dedup call on the same index.
    * At 100 TB, run this on a cadence (e.g. every K batches) — cost
    * is one streamed rewrite of the index, no shuffle.
    */
  def compactIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      targetFilesPerTable: Int = 8): Unit = {
    require(targetFilesPerTable > 0, "targetFilesPerTable must be positive")
    IndexTables.foreach { case (sub, schema) =>
      val dir = s"$indexDir/$sub"
      if (DirSwap.recover(spark, dir)) {
        DirSwap.rewriteInPlace(spark, dir) { tmp =>
          // recursive: folds per-batch b<id> subdirs (streaming layout)
          // into the flat compacted form along with legacy flat files.
          // The no-in-flight-batch contract above is what makes
          // erasing the b<id> layout safe: replay of a COMMITTED batch
          // cannot happen, and only an in-flight batch's replay needs
          // its own subdir excluded.
          spark.read.schema(schema)
            .option("recursiveFileLookup", "true").parquet(dir)
            .coalesce(targetFilesPerTable)
            .write.mode("overwrite").parquet(tmp)
        }
      }
    }
  }
}
