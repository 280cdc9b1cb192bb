package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

import graft.queries.{Dedup, Similarity, Sources, TextAnalysis}

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
  *
  * Every modality takes an optional `batchId` and `runId`: a
  * batch-identified call writes and excludes its own per-batch subdir
  * (the replay-safe layout of [[BatchDirs]]), a batch-anonymous call
  * appends. Each `streaming*` twin runs its batch function as a
  * foreachBatch sink under [[BatchDirs.foreachBatchInto]]: the
  * micro-batch id and the checkpoint's run id name the subdirs, and
  * the batch's output lands in the output dir's own subdir.
  */
object IncrementalDedup {

  private val DedupTables = Seq(
    "postings" -> StructType.fromDDL("doc_id BIGINT, shingle BIGINT"),
    "sizes" -> StructType.fromDDL("doc_id BIGINT, sz INT"))
  private val EmbeddingTables = Seq(
    "buckets" -> StructType.fromDDL("vec_id BIGINT, t INT, sig BIGINT"),
    "vectors" -> StructType.fromDDL("vec_id BIGINT, v ARRAY<DOUBLE>, norm DOUBLE"))
  private val SpanTables = Seq("spans" -> StructType.fromDDL("g BIGINT, cnt BIGINT"))
  private val FirstsTables = Seq("firsts" -> StructType.fromDDL("g BIGINT, fd BIGINT"))
  private val KmvTables = Seq("kmv" -> StructType.fromDDL("source STRING, h BIGINT"))
  private val CmsTables = Seq("cms" -> StructType.fromDDL("j BIGINT, c BIGINT, cnt BIGINT"))

  /** every sub-table any modality appends to, with its read schema */
  private val IndexTables = DedupTables ++ EmbeddingTables ++ SpanTables ++
    FirstsTables ++ KmvTables ++ CmsTables

  /** One batch of any modality: guard the modality's sub-tables
    * against legacy subdirs, read them for the batch, run `body` on
    * the old tables (in `tables` order), then append the batch's
    * partials (one per sub-table, same order) unless `dryRun`.
    *
    * The result is materialized BEFORE the append: the old-table scan
    * is lazy, and appending first would let the batch count or shadow
    * itself. The old side is deliberately NOT checkpointed: it is the
    * whole corpus, and a streamed, column-pruned parquet scan is the
    * per-batch cost the module promises.
    */
  private def indexStep(
      newRows: DataFrame, indexDir: String,
      tables: Seq[(String, StructType)],
      batchId: Option[Long], runId: String, dryRun: Boolean = false)(
      body: Seq[DataFrame] => (DataFrame, Seq[DataFrame])): DataFrame = {
    val spark = newRows.sparkSession
    val dirs = tables.map { case (t, _) => s"$indexDir/$t" }
    BatchDirs.guardLegacy(spark, dirs, runId, batchId)
    val sub = batchId.map(BatchDirs.subdir(runId, _))
    val (out, partials) = body(dirs.zip(tables).map { case (dir, (_, schema)) =>
      BatchDirs.read(spark, dir, schema, sub)
    })
    val result = out.localCheckpoint()
    if (!dryRun) dirs.zip(partials).foreach { case (dir, p) => BatchDirs.write(p, dir, sub) }
    result
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
      runId: String = ""): DataFrame =
    indexStep(newVecs, indexDir, EmbeddingTables, batchId, runId) {
      case Seq(oldBuckets, oldVectors) =>
        val e = newVecs
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .withColumn("norm", sqrt(call_function("vec_dot", col("v"), col("v"))))
          .localCheckpoint()
        val newBuckets = e.select(col("vec_id"),
          posexplode(call_function("lsh_sigs", col("v"), lit(tables), lit(bits)))
            .as(Seq("t", "sig")))

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
        (pairs, Seq(newBuckets, e))
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
      runId: String = ""): DataFrame =
    indexStep(newDocs, indexDir, DedupTables, batchId, runId) {
      case Seq(oldPost, oldSizes) =>
        // distinct 3-word-shingle hashes per doc (native one-pass kernel)
        val sh = newDocs.select(col("doc_id"),
            call_function("shingle_hashes", lower(col("text")), lit(3)).as("sh"))
          .filter(size(col("sh")) > 0)
          .localCheckpoint()
        val newPost = sh.select(col("doc_id"), explode(col("sh")).as("shingle"))
        val newSizes = sh.select(col("doc_id"), size(col("sh")).as("sz"))

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
        (pairs, Seq(newPost, newSizes))
    }

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
      dryRun: Boolean = false): DataFrame =
    indexStep(newDocs, indexDir, SpanTables, batchId, runId, dryRun) {
      case Seq(oldCnt) =>
        val pos = Dedup.gramPositions(newDocs, n)
          .localCheckpoint() // one tokenize feeds the batch counts AND the probe
        val batchCnt = pos.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
        val total = (if (dryRun) oldCnt else oldCnt.unionByName(batchCnt))
          .groupBy(col("g")).agg(sum(col("cnt")).as("cnt"))
        (Dedup.gramCoverage(newDocs, pos, total), Seq(batchCnt))
    }

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
      dryRun: Boolean = false): DataFrame =
    indexStep(newDocs, indexDir, FirstsTables, batchId, runId, dryRun) {
      case Seq(oldFirst) =>
        val pos = Dedup.gramPositions(newDocs, n, distinct = true)
          .localCheckpoint() // one tokenize feeds the batch firsts AND the probe
        val batchFirst = pos.groupBy(col("g")).agg(min(col("doc_id")).as("fd"))
        val total = oldFirst.unionByName(batchFirst)
          .groupBy(col("g")).agg(min(col("fd")).as("fd"))
        (TextAnalysis.gramNovelty(newDocs, pos, total), Seq(batchFirst))
    }

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
      dryRun: Boolean = false): DataFrame =
    indexStep(newDocs, indexDir, KmvTables, batchId, runId, dryRun) {
      case Seq(oldSig) =>
        val batchSig = Similarity.kmvSignature(Similarity.kmvShingles(newDocs), k)
          .localCheckpoint() // one corpus pass; reused by merge AND append
        // distinct: the same shingle hash may reach the k-min cut of more
        // than one batch partial — a duplicate would double-count one rank
        val merged = Similarity.kmvSignature(oldSig.unionByName(batchSig).distinct(), k)
        (Similarity.kmvOverlapEst(merged, k), Seq(batchSig))
    }

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
      dryRun: Boolean = false): DataFrame =
    indexStep(newKeys, indexDir, CmsTables, batchId, runId, dryRun) {
      case Seq(oldCells) =>
        val batchCells = Sources.cmsCells(newKeys)
          .localCheckpoint() // one key pass; reused by merge AND append
        val merged = oldCells.unionByName(batchCells)
          .groupBy(col("j"), col("c")).agg(sum(col("cnt")).as("cnt"))
        (merged, Seq(batchCells))
    }

  /** Structured-Streaming ingest: run [[dedupBatch]] as a foreachBatch
    * sink, so a `readStream` of documents dedups continuously against
    * the growing index and lands each micro-batch's near-dup pairs
    * under `pairsDir`. foreachBatch (not a row sink) because the batch
    * is the unit of the index contract: pairs must materialize before
    * the index extends, and each batch needs the full old∪new join —
    * per-row semantics can't express that. Micro-batch ids are
    * monotone, so the append-only doc_id contract carries over as
    * long as the SOURCE emits monotone doc_ids (same contract as the
    * batch API). Replay safety and the single-writer contract are
    * [[BatchDirs]]'s, as for every `streaming*` twin below.
    */
  def streamingDedup(
      streamingDocs: DataFrame,
      indexDir: String,
      pairsDir: String,
      checkpointDir: String,
      tau: Double = 0.8): DataStreamWriter[Row] =
    BatchDirs.foreachBatchInto(streamingDocs, checkpointDir, pairsDir) { (batch, b) =>
      dedupBatch(batch, indexDir, tau, Some(b.id), b.runId)
    }

  /** Streaming twin of [[kmvOverlapBatch]]: each micro-batch folds its
    * signature partial into the index and lands the refreshed overlap
    * matrix under `matrixDir` (the LAST batch's subdir is the current
    * matrix; earlier subdirs are the matrix's history).
    */
  def streamingKmvOverlap(
      streamingDocs: DataFrame,
      indexDir: String,
      matrixDir: String,
      checkpointDir: String,
      k: Int = 64): DataStreamWriter[Row] =
    BatchDirs.foreachBatchInto(streamingDocs, checkpointDir, matrixDir) { (batch, b) =>
      kmvOverlapBatch(batch, indexDir, k, Some(b.id), b.runId)
    }

  /** Streaming twin of [[cmsBatch]]: each micro-batch folds its cell
    * partial into the index and lands the refreshed merged sketch
    * under `sketchDir` (the LAST batch's subdir is the current
    * sketch).
    */
  def streamingCms(
      streamingKeys: DataFrame,
      indexDir: String,
      sketchDir: String,
      checkpointDir: String): DataStreamWriter[Row] =
    BatchDirs.foreachBatchInto(streamingKeys, checkpointDir, sketchDir) { (batch, b) =>
      cmsBatch(batch, indexDir, Some(b.id), b.runId)
    }

  /** Streaming twin of [[spanCoverageBatch]] — the q117 duplicated-
    * span statistic as a continuously-ingesting service: each
    * micro-batch's per-doc coverage (measured against the corpus
    * ingested so far, itself included) lands under `coverageDir`, and
    * the span index grows by the batch's mergeable partial counts.
    */
  def streamingSpanCoverage(
      streamingDocs: DataFrame,
      indexDir: String,
      coverageDir: String,
      checkpointDir: String,
      n: Int = 5): DataStreamWriter[Row] =
    BatchDirs.foreachBatchInto(streamingDocs, checkpointDir, coverageDir) { (batch, b) =>
      spanCoverageBatch(batch, indexDir, n, Some(b.id), b.runId)
    }

  /** Streaming twin of [[noveltyBatch]] — q157's first-occurrence
    * novelty as a continuously-ingesting service: each micro-batch's
    * per-doc novelty (attributed against everything ingested so far)
    * lands under `noveltyDir`, and the firsts index grows by the
    * batch's mergeable min(doc_id) partials. Novelty of earlier
    * batches is FINAL under the monotone doc_id contract, so the union
    * of all emitted subdirs is exactly the one-shot q157 over the
    * corpus so far.
    */
  def streamingNovelty(
      streamingDocs: DataFrame,
      indexDir: String,
      noveltyDir: String,
      checkpointDir: String,
      n: Int = 5): DataStreamWriter[Row] =
    BatchDirs.foreachBatchInto(streamingDocs, checkpointDir, noveltyDir) { (batch, b) =>
      noveltyBatch(batch, indexDir, n, Some(b.id), b.runId)
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
          // BatchDirs' no-in-flight-batch contract is what makes
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
