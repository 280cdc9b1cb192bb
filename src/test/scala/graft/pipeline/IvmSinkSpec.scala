package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The continuous-IVM contract: streaming a before-image CDC feed
  * through IvmSink must serve exactly the view a one-shot group-by
  * over the changed base table produces — and keep doing so under
  * at-least-once redelivery, torn-write replay, checkpoint-reset
  * namespacing, and compaction.
  */
class IvmSinkSpec extends SparkSpec {
  import spark.implicits._

  // a tiny base table (key, status, cents) and a CDC feed with
  // before-images: updates that move keys across groups, an insert,
  // and a delete — every contribution shape
  private val baseRows = Seq(
    (1L, "O", 100L), (2L, "O", 200L), (3L, "F", 300L),
    (4L, "F", 400L), (5L, "P", 500L))
  // (newStatus, newCents, oldStatus, oldCents): null new = delete,
  // null old = insert
  private val feedRows = Seq(
    ("F", 150L, "O", 100L),                               // 1: O→F reprice
    ("O", 250L, "O", 200L),                               // 2: in-place reprice
    (null.asInstanceOf[String], 0L, "F", 300L),           // 3: delete
    ("N", 700L, null.asInstanceOf[String], 0L),           // 6: insert
    ("P", 450L, "F", 400L))                               // 4: F→P

  private def baseDf = baseRows.toDF("k", "st", "cents")
  private def feedDf = feedRows.toDF("nst", "ncents", "ost", "ocents")

  private def baseAgg: DataFrame =
    baseDf.groupBy(col("st")).agg(count(lit(1)).as("n"),
      sum(col("cents")).as("total"))

  /** the one-shot truth: apply the feed to the base rows by hand */
  private val finalRows = Seq( // (st, n, total) of the changed base
    ("F", 1L, 150L),           // key 1 only (3 deleted, 4 moved out)
    ("O", 1L, 250L),           // key 2
    ("P", 2L, 950L),           // keys 5 + 4
    ("N", 1L, 700L))           // inserted key 6

  private def viewSet(dir: String): Set[(String, Long, Long)] =
    IvmSink.readView(spark, dir).as[(String, Long, Long)].collect().toSet

  test("streamed micro-batches serve the one-shot view (and the q185 two-batch fold)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val viewDir = Files.createTempDirectory("graft-ivm").toString + "/view"
    val ckpt = Files.createTempDirectory("graft-ivm-ckpt").toString
    IvmSink.initBase(baseAgg, viewDir)

    val ms = MemoryStream[(String, Long, String, Long)]
    val q = IvmSink.run(
      ms.toDF().toDF("nst", "ncents", "ost", "ocents"),
      "nst", "ncents", "ost", "ocents", "st", viewDir, ckpt).start()
    try {
      feedRows.grouped(2).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()

    assert(viewSet(viewDir) == finalRows.toSet)

    // and ≡ the q185-style batch fold of the same feed in two halves
    val twoBatch = {
      def contribs(half: DataFrame) =
        half.filter(col("nst").isNotNull)
          .select(col("nst").as("st"), lit(1L).as("n"),
            col("ncents").as("total"))
          .unionByName(half.filter(col("ost").isNotNull)
            .select(col("ost").as("st"), lit(-1L).as("n"),
              (-col("ocents")).as("total")))
      def fold(agg: DataFrame, half: DataFrame) =
        agg.unionByName(contribs(half)).groupBy(col("st"))
          .agg(sum(col("n")).as("n"), sum(col("total")).as("total"))
      val (h1, h2) = (feedDf.filter(col("ncents") <= 250),
        feedDf.filter(col("ncents") > 250))
      fold(fold(baseAgg, h1), h2)
        .filter(col("n") =!= 0 || col("total") =!= 0)
        .as[(String, Long, Long)].collect().toSet
    }
    assert(twoBatch == finalRows.toSet)
  }

  test("redelivering a batch is a no-op; a torn first attempt is healed by the replay") {
    val viewDir = Files.createTempDirectory("graft-ivm2").toString + "/view"
    IvmSink.initBase(baseAgg, viewDir)
    val b1 = feedDf.filter(col("ncents") % 100 === 50) // keys 1, 4
    val b2 = feedDf.filter(col("ncents") % 100 =!= 50)

    // crash-mid-write simulation: batch 1's subdir holds a WRONG
    // partial from a torn first attempt; the replay must overwrite it
    b2.limit(1).select(col("nst").as("st"), lit(99L).as("n"),
        lit(9999L).as("total"))
      .write.mode("overwrite").parquet(s"$viewDir/brun-1")

    IvmSink.applyBatch(b1, "nst", "ncents", "ost", "ocents", "st",
      viewDir, runId = "run", batchId = Some(0L))
    IvmSink.applyBatch(b1, "nst", "ncents", "ost", "ocents", "st",
      viewDir, runId = "run", batchId = Some(0L)) // at-least-once redelivery
    IvmSink.applyBatch(b2, "nst", "ncents", "ost", "ocents", "st",
      viewDir, runId = "run", batchId = Some(1L)) // heals the torn subdir
    assert(viewSet(viewDir) == finalRows.toSet)
  }

  test("batch-anonymous backfill calls append: readView counts every one") {
    val viewDir = Files.createTempDirectory("graft-ivm7").toString + "/view"
    IvmSink.initBase(baseAgg, viewDir)
    IvmSink.applyBatch(feedDf.filter(col("ncents") <= 250),
      "nst", "ncents", "ost", "ocents", "st", viewDir)
    IvmSink.applyBatch(feedDf.filter(col("ncents") > 250),
      "nst", "ncents", "ost", "ocents", "st", viewDir)
    assert(viewSet(viewDir) == finalRows.toSet)
  }

  test("checkpoint-reset run-namespacing: two runs' batch 0 both stay committed") {
    val viewDir = Files.createTempDirectory("graft-ivm3").toString + "/view"
    IvmSink.initBase(baseAgg, viewDir)
    val b1 = feedDf.filter(col("ncents") <= 250)
    val b2 = feedDf.filter(col("ncents") > 250)
    IvmSink.applyBatch(b1, "nst", "ncents", "ost", "ocents", "st",
      viewDir, runId = "runA", batchId = Some(0L))
    // checkpoint reset: the NEXT run's ids restart at 0 — its b0 must
    // not clobber runA's committed b0
    IvmSink.applyBatch(b2, "nst", "ncents", "ost", "ocents", "st",
      viewDir, runId = "runB", batchId = Some(0L))
    assert(viewSet(viewDir) == finalRows.toSet)
  }

  test("compact preserves the served view and folds the subdirs away") {
    val viewDir = Files.createTempDirectory("graft-ivm4").toString + "/view"
    IvmSink.initBase(baseAgg, viewDir)
    feedRows.zipWithIndex.foreach { case (r, i) =>
      IvmSink.applyBatch(Seq(r).toDF("nst", "ncents", "ost", "ocents"),
        "nst", "ncents", "ost", "ocents", "st", viewDir, runId = "r", batchId = Some(i.toLong))
    }
    val before = viewSet(viewDir)
    IvmSink.compact(spark, viewDir)
    assert(viewSet(viewDir) == before)
    assert(before == finalRows.toSet)
    val sub = new java.io.File(viewDir).listFiles().filter(_.isDirectory)
    assert(sub.isEmpty, s"batch subdirs survived compaction: ${sub.mkString(",")}")
    // a group that netted to zero (F had 2 rows, lost one to delete and
    // one to the P move, gained key 1) — F still present with 1 row;
    // delete the last F row through one more batch and it vanishes
    IvmSink.applyBatch(
      Seq((null.asInstanceOf[String], 0L, "F", 150L))
        .toDF("nst", "ncents", "ost", "ocents"),
      "nst", "ncents", "ost", "ocents", "st", viewDir, runId = "r2", batchId = Some(0L))
    assert(viewSet(viewDir) == finalRows.toSet.filterNot(_._1 == "F"))
  }

  test("a crash inside compact's swap is recovered by the next batch and compaction") {
    val viewDir = Files.createTempDirectory("graft-ivm6").toString + "/view"
    IvmSink.initBase(baseAgg, viewDir)
    val b1 = feedDf.filter(col("ncents") <= 250)
    val b2 = feedDf.filter(col("ncents") > 250)
    IvmSink.applyBatch(b1, "nst", "ncents", "ost", "ocents", "st",
      viewDir, runId = "r", batchId = Some(0L))
    // simulate dying between DirSwap's two renames inside compact: the
    // view dir is gone, base and partials sit at _compact_old
    Files.move(java.nio.file.Paths.get(viewDir),
      java.nio.file.Paths.get(viewDir + "_compact_old"))
    IvmSink.applyBatch(b2, "nst", "ncents", "ost", "ocents", "st",
      viewDir, runId = "r", batchId = Some(1L))
    assert(viewSet(viewDir) == finalRows.toSet,
      "the next batch must restore the view, not start a new one")
    IvmSink.compact(spark, viewDir)
    assert(viewSet(viewDir) == finalRows.toSet)
    assert(!Files.exists(java.nio.file.Paths.get(viewDir + "_compact_old")))
  }

  test("initBase refuses an existing view") {
    val viewDir = Files.createTempDirectory("graft-ivm5").toString + "/view"
    IvmSink.initBase(baseAgg, viewDir)
    val e = intercept[RuntimeException] { IvmSink.initBase(baseAgg, viewDir) }
    assert(e.getMessage.contains("once-only"))
  }
}
