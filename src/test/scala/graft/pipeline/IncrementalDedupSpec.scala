package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.{Dedup, TextAnalysis}

/** The incremental contract: processing the corpus in batches against
  * the persisted index must find EXACTLY the pairs the one-shot q26
  * finds — batch1-internal pairs on the first call, batch2-internal
  * plus cross-batch pairs on the second, nothing twice.
  */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  test("streaming ingest (foreachBatch) reproduces the one-shot pairs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)

    val idx = Files.createTempDirectory("graft-sdedup-idx").toString
    val pairsDir = Files.createTempDirectory("graft-sdedup-out").toString + "/pairs"
    val ckpt = Files.createTempDirectory("graft-sdedup-ckpt").toString

    val ms = MemoryStream[(Long, String)]
    val q = IncrementalDedup.streamingDedup(
      ms.toDF().toDF("doc_id", "text"), idx, pairsDir, ckpt).start()
    try {
      // monotone doc_ids across micro-batches (the module contract)
      docs.grouped(math.max(1, docs.length / 3)).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()

    val streamed = spark.read
      .option("recursiveFileLookup", "true").parquet(pairsDir)
      .as[(Long, Long, Double)].collect().toSet
    val oneShot = Dedup.queries("q26_dedup_ngram_jaccard").fn(spark, sf0001)
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == oneShot,
      s"missing=${oneShot.diff(streamed).take(5)} extra=${streamed.diff(oneShot).take(5)}")
  }

  test("streaming span coverage: the last micro-batch reads as one-shot q117") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)

    val idx = Files.createTempDirectory("graft-sspan-idx").toString
    val covDir = Files.createTempDirectory("graft-sspan-out").toString + "/coverage"
    val ckpt = Files.createTempDirectory("graft-sspan-ckpt").toString

    val ms = MemoryStream[(Long, String)]
    val q = IncrementalDedup.streamingSpanCoverage(
      ms.toDF().toDF("doc_id", "text"), idx, covDir, ckpt).start()
    val chunks = docs.grouped(math.max(1, docs.length / 3)).toSeq
    try {
      chunks.foreach { chunk => ms.addData(chunk); q.processAllAvailable() }
    } finally q.stop()

    // every ingested doc has exactly one coverage row...
    val streamed = spark.read
      .option("recursiveFileLookup", "true").parquet(covDir)
      .as[(Long, Long, Long, Option[Double])].collect()
    assert(streamed.length == docs.length)
    assert(streamed.map(_._1).distinct.length == docs.length)
    // ...and the LAST batch (whose probe saw the full corpus) matches
    // the one-shot q117 exactly
    val lastIds = chunks.last.map(_._1).toSet
    val oneShot = Dedup.queries("q117_dup_ngram_coverage").fn(spark, sf0001)
      .as[(Long, Long, Long, Option[Double])].collect()
      .filter(r => lastIds(r._1)).toSet
    val lastStreamed = streamed.filter(r => lastIds(r._1)).toSet
    assert(lastStreamed == oneShot,
      s"missing=${oneShot.diff(lastStreamed).take(3)} extra=${lastStreamed.diff(oneShot).take(3)}")
  }

  test("streaming novelty: the union of all micro-batch outputs IS one-shot q157") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)

    val idx = Files.createTempDirectory("graft-snov-idx").toString
    val novDir = Files.createTempDirectory("graft-snov-out").toString + "/novelty"
    val ckpt = Files.createTempDirectory("graft-snov-ckpt").toString

    val ms = MemoryStream[(Long, String)]
    val q = IncrementalDedup.streamingNovelty(
      ms.toDF().toDF("doc_id", "text"), idx, novDir, ckpt).start()
    try {
      docs.grouped(math.max(1, docs.length / 3)).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()

    // novelty is FINAL per batch (first-occurrence never changes under
    // monotone ingestion), so the WHOLE streamed output — not just the
    // last batch — must equal the one-shot q157 over the corpus
    val streamed = spark.read
      .option("recursiveFileLookup", "true").parquet(novDir)
      .as[(Long, Long, Long, Option[Long])].collect().toSet
    val oneShot = TextAnalysis.queries("q157_ngram_novelty").fn(spark, sf0001)
      .as[(Long, Long, Long, Option[Long])].collect().toSet
    assert(streamed == oneShot,
      s"missing=${oneShot.diff(streamed).take(3)} extra=${streamed.diff(oneShot).take(3)}")
  }

  test("replaying a batch after its index append is idempotent (at-least-once safety)") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val mid = docs.agg(expr("percentile(doc_id, 0.5)")).head.getDouble(0)
    val b1 = docs.filter(col("doc_id") <= mid)
    val b2 = docs.filter(col("doc_id") > mid)

    val idx = Files.createTempDirectory("graft-replay-idx").toString
    val p1 = IncrementalDedup.dedupBatch(b1, idx, batchId = Some(0L))
      .as[(Long, Long, Double)].collect().toSet
    // first attempt at batch 1 "crashes" AFTER the index append — the
    // failure mode where an append-only index would double-count the
    // batch against itself on replay
    val firstTry = IncrementalDedup.dedupBatch(b2, idx, batchId = Some(1L))
      .as[(Long, Long, Double)].collect().toSet
    val replay = IncrementalDedup.dedupBatch(b2, idx, batchId = Some(1L))
      .as[(Long, Long, Double)].collect().toSet
    assert(replay == firstTry, "replay must reproduce the identical pairs")

    val oneShot = Dedup.queries("q26_dedup_ngram_jaccard").fn(spark, sf0001)
      .as[(Long, Long, Double)].collect().toSet
    assert(p1.union(replay) == oneShot,
      "replayed run must still cover exactly the one-shot pairs with true jaccards")

    // and the index holds each posting once: a later batch sees clean state
    val p3 = IncrementalDedup.dedupBatch(
      docs.filter(lit(false)), idx, batchId = Some(2L))
      .as[(Long, Long, Double)].collect()
    assert(p3.isEmpty)
  }

  test("a reset checkpoint (batch ids back at 0) cannot clobber a prior run's subdirs") {
    // two streaming "runs" against one index: run 2's checkpoint was
    // reset, so its micro-batch ids restart at 0. The runId namespace
    // keeps run2/b0 distinct from run1/b0 — without it the second
    // run's overwrite would silently erase run 1's committed postings.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val mid = docs.agg(expr("percentile(doc_id, 0.5)")).head.getDouble(0)
    val b1 = docs.filter(col("doc_id") <= mid)
    val b2 = docs.filter(col("doc_id") > mid)

    val idx = Files.createTempDirectory("graft-runid-idx").toString
    val p1 = IncrementalDedup.dedupBatch(b1, idx, batchId = Some(0L), runId = "run1")
      .as[(Long, Long, Double)].collect().toSet
    val p2 = IncrementalDedup.dedupBatch(b2, idx, batchId = Some(0L), runId = "run2")
      .as[(Long, Long, Double)].collect().toSet

    val oneShot = Dedup.queries("q26_dedup_ngram_jaccard").fn(spark, sf0001)
      .as[(Long, Long, Double)].collect().toSet
    // run 2 saw run 1's postings (cross-run pairs present) AND run 1's
    // subdir survived — union covers exactly the one-shot pairs
    assert(p1.union(p2) == oneShot,
      s"missing=${oneShot.diff(p1.union(p2)).take(5)} extra=${p1.union(p2).diff(oneShot).take(5)}")
    // replay of run2/b0 is still idempotent under the namespace
    val replay = IncrementalDedup.dedupBatch(b2, idx, batchId = Some(0L), runId = "run2")
      .as[(Long, Long, Double)].collect().toSet
    assert(replay == p2)
  }

  test("checkpoint query ids sharing an 8-char prefix stay distinct namespaces") {
    // regression: the runId once truncated the checkpoint's query UUID
    // to its first 8 chars, so two checkpoint generations whose UUIDs
    // share a prefix collapsed into ONE namespace — run 2's b0
    // overwrote run 1's committed b0. Seed two checkpoints with
    // prefix-colliding ids (Spark reuses a pre-existing metadata id)
    // and require the full one-shot pair set to survive both runs.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val mid = docs(docs.length / 2)._1
    val halves = Seq(docs.filter(_._1 <= mid), docs.filter(_._1 > mid))

    val idx = Files.createTempDirectory("graft-prefix-idx").toString
    val pairsDir = Files.createTempDirectory("graft-prefix-out").toString + "/pairs"
    val ids = Seq(
      "aaaaaaaa-0000-4000-8000-000000000001",
      "aaaaaaaa-0000-4000-8000-000000000002")
    halves.zip(ids).foreach { case (half, id) =>
      val ckpt = Files.createTempDirectory(s"graft-prefix-ckpt").toString
      Files.write(java.nio.file.Paths.get(ckpt, "metadata"),
        s"""{"id":"$id"}""".getBytes("UTF-8"))
      val ms = MemoryStream[(Long, String)]
      val q = IncrementalDedup.streamingDedup(
        ms.toDF().toDF("doc_id", "text"), idx, pairsDir, ckpt).start()
      try {
        assert(q.id.toString == id, "checkpoint metadata id must be reused")
        ms.addData(half); q.processAllAvailable()
      } finally q.stop()
    }

    val streamed = spark.read
      .option("recursiveFileLookup", "true").parquet(pairsDir)
      .as[(Long, Long, Double)].collect().toSet
    val oneShot = Dedup.queries("q26_dedup_ngram_jaccard").fn(spark, sf0001)
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == oneShot,
      s"missing=${oneShot.diff(streamed).take(5)} extra=${streamed.diff(oneShot).take(5)}")
  }

  test("a truncated-era subdir (b<8-char-prefix>-<id>) fails fast, not double-counts") {
    // regression companion to the full-runId fix: a stream that ran
    // the TRUNCATION-era code and crashed mid-batch left a partial
    // subdir named with the 8-char runId prefix. After upgrade the
    // replay writes/excludes the full-id name, so the old remnant
    // would silently be read as committed data — the guard must
    // refuse to proceed instead.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(50)
    val idx = Files.createTempDirectory("graft-trunc-idx").toString
    val fullRunId = "aaaaaaaa-0000-4000-8000-000000000001"
      .replaceAll("[^0-9a-zA-Z-]", "")
    Files.createDirectories(
      java.nio.file.Paths.get(idx, "postings", s"b${fullRunId.take(8)}-0"))
    val e = intercept[RuntimeException] {
      IncrementalDedup.dedupBatch(docs, idx, batchId = Some(0L), runId = fullRunId)
    }
    assert(e.getMessage.contains("legacy"), e.getMessage)
  }

  test("an un-namespaced index subdir (b<id>) fails fast under a run id") {
    // a stream that ran before the run namespace and crashed mid-batch
    // left postings/b0: a crashed attempt at this batch or a committed
    // batch of an earlier run, which the name cannot tell apart
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(50)
    val idx = Files.createTempDirectory("graft-legacy-idx").toString
    Files.createDirectories(java.nio.file.Paths.get(idx, "postings", "b0"))
    val e = intercept[RuntimeException] {
      IncrementalDedup.dedupBatch(docs, idx, batchId = Some(0L), runId = "run1")
    }
    assert(e.getMessage.contains("legacy"), e.getMessage)
    assert(!Files.exists(java.nio.file.Paths.get(idx, "sizes")),
      "the guard must run before the batch extends the index")
  }

  test("a legacy output subdir (pairsDir/b0) fails a namespaced stream in its first batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1).take(50)

    val idx = Files.createTempDirectory("graft-legacy-out-idx").toString
    val pairsDir = Files.createTempDirectory("graft-legacy-out").toString + "/pairs"
    Files.createDirectories(java.nio.file.Paths.get(pairsDir, "b0"))
    val ckpt = Files.createTempDirectory("graft-legacy-out-ckpt").toString
    Files.write(java.nio.file.Paths.get(ckpt, "metadata"),
      """{"id":"aaaaaaaa-0000-4000-8000-000000000003"}""".getBytes("UTF-8"))

    val ms = MemoryStream[(Long, String)]
    val q = IncrementalDedup.streamingDedup(
      ms.toDF().toDF("doc_id", "text"), idx, pairsDir, ckpt).start()
    val e = try {
      ms.addData(docs)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("legacy"))), e.getMessage)
    assert(!Files.exists(java.nio.file.Paths.get(idx, "postings")),
      "the first batch must fail before it extends the index")
  }

  test("two-batch incremental dedup equals the one-shot near-dup pairs") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val mid = docs.agg(expr("percentile(doc_id, 0.5)")).head.getDouble(0)
    val b1 = docs.filter(col("doc_id") <= mid)
    val b2 = docs.filter(col("doc_id") > mid)
    assert(b1.count() > 0 && b2.count() > 0)

    val idx = Files.createTempDirectory("graft-incdedup").toString
    val p1 = IncrementalDedup.dedupBatch(b1, idx)
      .as[(Long, Long, Double)].collect().toSet
    val p2 = IncrementalDedup.dedupBatch(b2, idx)
      .as[(Long, Long, Double)].collect().toSet

    val oneShot = Dedup.queries("q26_dedup_ngram_jaccard").fn(spark, sf0001)
      .as[(Long, Long, Double)].collect().toSet

    assert(p1.intersect(p2).isEmpty, "a pair must be emitted exactly once")
    assert(p1.union(p2) == oneShot,
      s"missing=${oneShot.diff(p1.union(p2)).take(5)} extra=${p1.union(p2).diff(oneShot).take(5)}")
    // second call's right side is always a new-batch document
    assert(p2.forall(_._2 > mid))

    // index now covers the whole corpus: a third, empty-batch call
    // cannot re-emit anything
    val p3 = IncrementalDedup.dedupBatch(
      docs.filter(lit(false)), idx)
    assert(p3.count() == 0)
  }

  test("a crash inside compactIndex's swap is recovered by the next batch and compaction") {
    // 12 words, 10 distinct 3-word shingles each; doc 2 changes the
    // last word, so the two share 9 of 11: jaccard 0.818
    val words = "a b c d e f g h i j k"
    def doc(id: Long, last: String) = Seq((id, s"$words $last")).toDF("doc_id", "text")
    def pairs(d: org.apache.spark.sql.DataFrame, idx: String) =
      IncrementalDedup.dedupBatch(d, idx).as[(Long, Long, Double)].collect()
        .map { case (a, b, j) => (a, b, math.round(j * 1000) / 1000.0) }.toSet

    val idx = Files.createTempDirectory("graft-inc-crash").toString
    assert(pairs(doc(1L, "l"), idx).isEmpty)
    // simulate dying between DirSwap's two renames inside compactIndex:
    // the postings dir is gone, the whole sub-table sits at
    // postings_compact_old
    Files.move(java.nio.file.Paths.get(idx, "postings"),
      java.nio.file.Paths.get(idx, "postings_compact_old"))
    assert(pairs(doc(2L, "z"), idx) == Set((1L, 2L, 0.818)),
      "the next batch must restore the index, not read it as empty")
    IncrementalDedup.compactIndex(spark, idx)
    assert(!Files.exists(java.nio.file.Paths.get(idx, "postings_compact_old")))
    // the compacted index still holds both earlier docs
    assert(pairs(doc(3L, "l"), idx) == Set((1L, 3L, 1.0), (2L, 3L, 0.818)))
  }

  test("two-batch incremental span coverage equals one-shot q117 for the last batch") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val mid = docs.agg(expr("percentile(doc_id, 0.5)")).head.getDouble(0)
    val b1 = docs.filter(col("doc_id") <= mid)
    val b2 = docs.filter(col("doc_id") > mid)

    val idx = Files.createTempDirectory("graft-spanidx").toString
    IncrementalDedup.spanCoverageBatch(b1, idx, batchId = Some(0L)).count()
    val c2 = IncrementalDedup.spanCoverageBatch(b2, idx, batchId = Some(1L))
      .as[(Long, Long, Long, Option[Double])].collect().toSet

    // batch 2's coverage is measured against b1 ∪ b2 = the whole
    // corpus, so it must equal the one-shot q117 restricted to b2
    val oneShot = Dedup.queries("q117_dup_ngram_coverage").fn(spark, sf0001)
      .filter(col("doc_id") > mid)
      .as[(Long, Long, Long, Option[Double])].collect().toSet
    assert(c2 == oneShot,
      s"missing=${oneShot.diff(c2).take(3)} extra=${c2.diff(oneShot).take(3)}")

    // a dry-run RE-PROBE of batch 1 now sees the full corpus counts:
    // its coverage can only have grown vs the first pass, and the
    // index itself must be unchanged by the probe
    def spanRows() = spark.read
      .option("recursiveFileLookup", "true").parquet(s"$idx/spans").count()
    val before = spanRows()
    val reprobe = IncrementalDedup.spanCoverageBatch(
      b1, idx, batchId = Some(2L), dryRun = true)
    val oneShotB1 = Dedup.queries("q117_dup_ngram_coverage").fn(spark, sf0001)
      .filter(col("doc_id") <= mid)
      .as[(Long, Long, Long, Option[Double])].collect().toSet
    assert(reprobe.as[(Long, Long, Long, Option[Double])].collect().toSet
      == oneShotB1, "re-probe must equal one-shot coverage for batch 1")
    assert(spanRows() == before, "dryRun must not extend the index")
  }

  test("two-batch incremental novelty equals one-shot q157 for each batch") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val mid = docs.agg(expr("percentile(doc_id, 0.5)")).head.getDouble(0)
    val b1 = docs.filter(col("doc_id") <= mid)
    val b2 = docs.filter(col("doc_id") > mid)

    val idx = Files.createTempDirectory("graft-novidx").toString
    // unlike span coverage, novelty of EARLIER docs never changes as
    // the corpus grows (first-occurrence is final under monotone
    // ingestion), so BOTH batches' outputs must match one-shot q157
    val c1 = IncrementalDedup.noveltyBatch(b1, idx, batchId = Some(0L))
      .as[(Long, Long, Long, Option[Long])].collect().toSet
    val c2 = IncrementalDedup.noveltyBatch(b2, idx, batchId = Some(1L))
      .as[(Long, Long, Long, Option[Long])].collect().toSet
    val oneShot = TextAnalysis.queries("q157_ngram_novelty").fn(spark, sf0001)
      .as[(Long, Long, Long, Option[Long])].collect().toSet
    val os1 = oneShot.filter(_._1 <= mid)
    val os2 = oneShot.filter(_._1 > mid)
    assert(c1 == os1,
      s"missing=${os1.diff(c1).take(3)} extra=${c1.diff(os1).take(3)}")
    assert(c2 == os2,
      s"missing=${os2.diff(c2).take(3)} extra=${c2.diff(os2).take(3)}")

    // a dry-run re-probe of batch 1 must reproduce its (final) result
    // and leave the index untouched
    def firstRows() = spark.read
      .option("recursiveFileLookup", "true").parquet(s"$idx/firsts").count()
    val before = firstRows()
    val reprobe = IncrementalDedup.noveltyBatch(
      b1, idx, batchId = Some(2L), dryRun = true)
      .as[(Long, Long, Long, Option[Long])].collect().toSet
    assert(reprobe == os1, "dry-run re-probe must equal one-shot novelty")
    assert(firstRows() == before, "dryRun must not extend the index")
  }

  test("two-batch incremental embedding dedup equals the one-shot LSH pairs") {
    val vecs = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val mid = vecs.agg(expr("percentile(vec_id, 0.5)")).head.getDouble(0)
    val b1 = vecs.filter(col("vec_id") <= mid)
    val b2 = vecs.filter(col("vec_id") > mid)

    val idx = Files.createTempDirectory("graft-incembed").toString
    val p1 = IncrementalDedup.dedupEmbeddingBatch(b1, idx)
      .as[(Long, Long, Double)].collect().toSet
    // compacting between batches must not change what batch 2 emits
    IncrementalDedup.compactIndex(spark, idx, targetFilesPerTable = 2)
    val p2 = IncrementalDedup.dedupEmbeddingBatch(b2, idx)
      .as[(Long, Long, Double)].collect().toSet

    val oneShot = graft.queries.Similarity
      .queries("q49_embedding_neardup_lsh").fn(spark, sf0001)
      .as[(Long, Long, Double)].collect().toSet

    assert(p1.intersect(p2).isEmpty)
    assert(p1.union(p2) == oneShot,
      s"missing=${oneShot.diff(p1.union(p2)).take(5)} extra=${p1.union(p2).diff(oneShot).take(5)}")
    assert(p2.forall(_._2 > mid))
  }

  test("compaction bounds index file count and leaves content + pairs unchanged") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val Seq(lo, hi) = docs.stat
      .approxQuantile("doc_id", Array(0.33, 0.66), 0.0).toSeq
    val b1 = docs.filter(col("doc_id") <= lo)
    val b2 = docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
    val b3 = docs.filter(col("doc_id") > hi)
    assert(b1.count() > 0 && b2.count() > 0 && b3.count() > 0)

    // twin indexes: A never compacts, B compacts after every batch
    val idxA = Files.createTempDirectory("graft-inc-nocompact").toString
    val idxB = Files.createTempDirectory("graft-inc-compact").toString
    val target = 1

    def postings(idx: String) = spark.read.parquet(s"$idx/postings")
      .as[(Long, Long)].collect().toSet
    def parquetFiles(idx: String, sub: String): Int =
      java.nio.file.Files.list(java.nio.file.Paths.get(idx, sub)).toArray
        .map(_.toString).count(_.endsWith(".parquet"))

    for (b <- Seq(b1, b2)) {
      IncrementalDedup.dedupBatch(b, idxA).count()
      IncrementalDedup.dedupBatch(b, idxB).count()
      IncrementalDedup.compactIndex(spark, idxB, target)
    }
    // content identical, file count bounded (A's grows per batch)
    assert(postings(idxA) == postings(idxB))
    assert(parquetFiles(idxB, "postings") <= target,
      s"expected <= $target files, got ${parquetFiles(idxB, "postings")}")
    assert(parquetFiles(idxB, "sizes") <= target)
    assert(parquetFiles(idxA, "postings") > target,
      "vacuous test: the uncompacted twin should exceed the target")

    // batch 3 sees identical pairs through either index
    val pA = IncrementalDedup.dedupBatch(b3, idxA)
      .as[(Long, Long, Double)].collect().toSet
    val pB = IncrementalDedup.dedupBatch(b3, idxB)
      .as[(Long, Long, Double)].collect().toSet
    assert(pA == pB)
  }

  test("two-batch incremental KMV overlap equals one-shot q156 estimates") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    val mid = docs.agg(expr("percentile(doc_id, 0.5)")).head.getDouble(0)
    val b1 = docs.filter(col("doc_id") <= mid)
    val b2 = docs.filter(col("doc_id") > mid)

    val idx = Files.createTempDirectory("graft-kmvidx").toString
    // matrix after batch 1 covers batch-1 sources only; after batch 2
    // the merged signatures must make it equal the one-shot estimate
    // path over the FULL corpus (the KMV merge law, end to end)
    IncrementalDedup.kmvOverlapBatch(b1, idx, batchId = Some(0L)).count()
    val m2 = IncrementalDedup.kmvOverlapBatch(b2, idx, batchId = Some(1L))
      .as[(String, String, Long)].collect().toSet
    val oneShot = graft.queries.Similarity
      .queries("q156_source_sketch_overlap").fn(spark, sf0001)
      .select(col("src1"), col("src2"), col("est_ppm"))
      .as[(String, String, Long)].collect().toSet
    assert(m2 == oneShot,
      s"missing=${oneShot.diff(m2).take(3)} extra=${m2.diff(oneShot).take(3)}")

    // a dry-run re-probe of an empty batch reproduces the matrix and
    // leaves the signature index untouched
    def kmvRows() = spark.read
      .option("recursiveFileLookup", "true").parquet(s"$idx/kmv").count()
    val before = kmvRows()
    val reprobe = IncrementalDedup.kmvOverlapBatch(
      b2.limit(0), idx, batchId = Some(2L), dryRun = true)
      .as[(String, String, Long)].collect().toSet
    assert(reprobe == oneShot, "dry-run re-probe must equal the matrix")
    assert(kmvRows() == before, "dryRun must not extend the index")
  }

  test("streaming KMV overlap: the last micro-batch's matrix IS one-shot q156") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
      .as[(Long, String, String)].collect().sortBy(_._1)

    val idx = Files.createTempDirectory("graft-skmv-idx").toString
    val matDir = Files.createTempDirectory("graft-skmv-out").toString + "/matrix"
    val ckpt = Files.createTempDirectory("graft-skmv-ckpt").toString

    val ms = MemoryStream[(Long, String, String)]
    val q = IncrementalDedup.streamingKmvOverlap(
      ms.toDF().toDF("doc_id", "text", "source"), idx, matDir, ckpt).start()
    val chunks = docs.grouped(math.max(1, docs.length / 3)).toSeq
    try {
      chunks.foreach { chunk => ms.addData(chunk); q.processAllAvailable() }
    } finally q.stop()

    // the LAST subdir is the current matrix — its signatures saw the
    // full corpus, so it must equal the one-shot q156 estimate path
    val subdirs = java.nio.file.Files.list(java.nio.file.Paths.get(matDir))
      .toArray.map(_.toString).filter(!_.contains("/_")).sorted
    val last = spark.read.parquet(subdirs.last)
      .as[(String, String, Long)].collect().toSet
    val oneShot = graft.queries.Similarity
      .queries("q156_source_sketch_overlap").fn(spark, sf0001)
      .select(col("src1"), col("src2"), col("est_ppm"))
      .as[(String, String, Long)].collect().toSet
    assert(last == oneShot,
      s"missing=${oneShot.diff(last).take(3)} extra=${last.diff(oneShot).take(3)}")
  }

  test("two-batch incremental Count-Min equals the one-shot sketch cell-wise") {
    val keys = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_custkey").as("k"))
    val mid = keys.agg(expr("percentile(k, 0.5)")).head.getDouble(0)
    val b1 = keys.filter(col("k") <= mid)
    val b2 = keys.filter(col("k") > mid)

    val idx = Files.createTempDirectory("graft-cmsidx").toString
    IncrementalDedup.cmsBatch(b1, idx, batchId = Some(0L)).count()
    val merged = IncrementalDedup.cmsBatch(b2, idx, batchId = Some(1L))
      .as[(Long, Long, Long)].collect().toSet
    // sketch linearity end to end: merged partials ≡ one-shot cells
    val oneShot = graft.queries.Sources.cmsCells(keys)
      .as[(Long, Long, Long)].collect().toSet
    assert(merged == oneShot,
      s"missing=${oneShot.diff(merged).take(3)} extra=${merged.diff(oneShot).take(3)}")

    // and the merged sketch answers union-feed point queries with the
    // one-sided guarantee: min-over-rows est ≥ exact for every key
    val cells = merged.groupBy(t => (t._1, t._2)).map { case (k, v) =>
      k -> v.head._3
    }
    val exact = keys.groupBy("k").count()
      .as[(Long, Long)].collect()
    exact.foreach { case (k, ex) =>
      val est = (0 until 4).map { j =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"cm$j:$k".getBytes("UTF-8"))
          .take(6).map(b => f"$b%02x").mkString
        val c = java.lang.Long.parseLong(h, 16) % 1024L
        cells((j.toLong, c))
      }.min
      assert(est >= ex, s"never-under violated for key $k: $est < $ex")
    }

    // dry-run re-probe: reproduces the sketch, leaves the index alone
    def cmsRows() = spark.read
      .option("recursiveFileLookup", "true").parquet(s"$idx/cms").count()
    val before = cmsRows()
    val reprobe = IncrementalDedup.cmsBatch(
      b2.limit(0), idx, batchId = Some(2L), dryRun = true)
      .as[(Long, Long, Long)].collect().toSet
    assert(reprobe == oneShot, "dry-run re-probe must equal the sketch")
    assert(cmsRows() == before, "dryRun must not extend the index")
  }

  test("streaming Count-Min: the last micro-batch's sketch IS the one-shot") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val keys = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_custkey").as("k")).as[Long].collect().sorted

    val idx = Files.createTempDirectory("graft-scms-idx").toString
    val outDir = Files.createTempDirectory("graft-scms-out").toString + "/sketch"
    val ckpt = Files.createTempDirectory("graft-scms-ckpt").toString

    val ms = MemoryStream[Long]
    val q = IncrementalDedup.streamingCms(
      ms.toDF().toDF("k"), idx, outDir, ckpt).start()
    val chunks = keys.grouped(math.max(1, keys.length / 3)).toSeq
    try {
      chunks.foreach { chunk => ms.addData(chunk); q.processAllAvailable() }
    } finally q.stop()

    val subdirs = java.nio.file.Files.list(java.nio.file.Paths.get(outDir))
      .toArray.map(_.toString).filter(!_.contains("/_")).sorted
    val last = spark.read.parquet(subdirs.last)
      .as[(Long, Long, Long)].collect().toSet
    val oneShot = graft.queries.Sources.cmsCells(
      spark.createDataset(keys).toDF("k"))
      .as[(Long, Long, Long)].collect().toSet
    assert(last == oneShot,
      s"missing=${oneShot.diff(last).take(3)} extra=${last.diff(oneShot).take(3)}")
  }
}
