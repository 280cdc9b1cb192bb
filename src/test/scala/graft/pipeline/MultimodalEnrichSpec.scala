package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.JobConfig
import graft.llm.FakeVisionClient

/** q251's contract slice (VERDICT r15 item 1): the multimodal enrich
  * path end-to-end on REAL PNG bytes — the q237 corpus — through the
  * content-parts branch (reference build_message_content,
  * lib/job_processor.rb:212-236; structure spec'd per part in
  * OpenAiClientSpec against spec/image_processing_spec.rb:73-89).
  * FakeVisionClient re-parses the SERIALIZED request, so these tests
  * prove the data-URI round-trip is byte-exact on real binary
  * payloads (base64 encode → request assembly → base64 decode gives
  * back the PNG bytes, md5-verified), not just on q251's constructed
  * ASCII fixtures — and that the empty-images record rides the
  * plain-string branch even with use_images on (rb:234-236).
  */
object MultimodalEnrichSpec {
  /** static so executor-side closures hit the same counter (local mode) */
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
}

class MultimodalEnrichSpec extends SparkSpec {
  import spark.implicits._

  private def visionCfg(useImages: Boolean): JobConfig = JobConfig(
    id = "vision-spec",
    erbTemplate = "describe <%= id %>",
    backendEndpoint = "http://fake", model = "fake",
    outputLabel = "caption", systemErbTemplate = None,
    params = Map.empty, useImages = useImages, responseFormat = None)

  private def md5hex(parts: Seq[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    parts.foreach { b =>
      md.update(s"${b.length}:".getBytes("UTF-8")); md.update(b)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  test("real PNG bytes survive the content-parts round-trip byte-exactly " +
    "(q251 on the q237 media corpus)") {
    val pngs = graft.multimodal.Media.syntheticEncoded(spark, 12)
      .filter(_.kind == "image").collect().sortBy(_.media_id).take(3)
    assert(pngs.length == 3, "media corpus fixture too small")
    val enc = java.util.Base64.getEncoder
    // record 'a': two real PNGs; 'b': one; 'c': none (plain-string branch)
    val records = Seq(
      ("a", Map("content" -> ""),
        Seq(enc.encodeToString(pngs(0).bytes), enc.encodeToString(pngs(1).bytes))),
      ("b", Map("content" -> ""), Seq(enc.encodeToString(pngs(2).bytes))),
      ("c", Map("content" -> ""), Seq.empty[String]))
      .toDF("id", "texts", "images")
    val out = EnrichJob.run(records, visionCfg(useImages = true),
        new FakeVisionClient())
      .good.select(col("id"), element_at(col("texts"), "caption"))
      .as[(String, String)].collect().toMap
    assert(out("a") == s"caption[describe a]: imgs=2;px=${
      pngs(0).bytes.length + pngs(1).bytes.length};h=${
      md5hex(Seq(pngs(0).bytes, pngs(1).bytes))}", out("a"))
    assert(out("b") == s"caption[describe b]: imgs=1;px=${
      pngs(2).bytes.length};h=${md5hex(Seq(pngs(2).bytes))}", out("b"))
    // rb:234-236: no images → plain string content, use_images on
    assert(out("c") == s"caption[describe c]: imgs=0;px=0;h=${
      md5hex(Nil)}", out("c"))
  }

  test("use_images off keeps images OUT of the request even when records " +
    "carry them (rb:213's double guard)") {
    val records = Seq(("x", Map("content" -> ""), Seq("QUJD")))
      .toDF("id", "texts", "images")
    val out = EnrichJob.run(records, visionCfg(useImages = false),
        new FakeVisionClient())
      .good.select(element_at(col("texts"), "caption"))
      .as[String].collect().head
    assert(out == s"caption[describe x]: imgs=0;px=0;h=${md5hex(Nil)}", out)
  }

  test("vision cache key folds the image payloads: same prompt, different " +
    "images → two calls; replay → zero new calls (r16 key fix)") {
    val cacheDir = java.nio.file.Files
      .createTempDirectory("graft-vision-cache").toString
    MultimodalEnrichSpec.calls.set(0)
    val counting = new graft.llm.LlmClient {
      override def chat(ms: Seq[graft.llm.Msg], c: JobConfig): String = {
        MultimodalEnrichSpec.calls.incrementAndGet()
        new FakeVisionClient().chat(ms, c)
      }
    }
    // both records render the IDENTICAL prompt — only the images differ
    val records = Seq(
      ("same", Map.empty[String, String], Seq("QUFB")),
      ("same", Map.empty[String, String], Seq("QkJC")))
      .toDF("id", "texts", "images")
    val r1 = EnrichJob.runCached(records, visionCfg(useImages = true),
      counting, cacheDir)
    val caps1 = r1.good.select(element_at(col("texts"), "caption"))
      .as[String].collect().toSet
    assert(MultimodalEnrichSpec.calls.get() == 2,
      s"different images must be different cache keys: " +
        s"${MultimodalEnrichSpec.calls.get()} calls")
    assert(caps1.size == 2, s"two distinct captions expected: $caps1")
    // at-least-once replay: the cache answers both
    EnrichJob.runCached(records, visionCfg(useImages = true),
      counting, cacheDir).good.count()
    assert(MultimodalEnrichSpec.calls.get() == 2,
      "replay must be served from the cache")
  }

  test("vision cache key is injective over image LISTS: [] vs [\"\"] and " +
    "boundary-shifted splits get distinct keys (r16 review fix)") {
    val cacheDir = java.nio.file.Files
      .createTempDirectory("graft-vision-inj").toString
    MultimodalEnrichSpec.calls.set(0)
    val counting = new graft.llm.LlmClient {
      override def chat(ms: Seq[graft.llm.Msg], c: JobConfig): String = {
        MultimodalEnrichSpec.calls.incrementAndGet(); "resp"
      }
    }
    // all four render the IDENTICAL prompt; a bare concat_ws digest
    // collided (1) with (2) (empty vs one-empty-string) and (3) with
    // (4) (same concatenation, different element boundaries)
    val records = Seq(
      ("same", Map.empty[String, String], Seq.empty[String]),
      ("same", Map.empty[String, String], Seq("")),
      ("same", Map.empty[String, String], Seq("QQ", "UFB")),
      ("same", Map.empty[String, String], Seq("QQU", "FB")))
      .toDF("id", "texts", "images")
    EnrichJob.runCached(records, visionCfg(useImages = true),
      counting, cacheDir).good.count()
    assert(MultimodalEnrichSpec.calls.get() == 4,
      s"four distinct image lists must be four cache keys: " +
        s"${MultimodalEnrichSpec.calls.get()} calls")
  }

  test("text-mode cache key is image-blind — images are NOT request " +
    "content when use_images is off (v2 key preserved)") {
    val cacheDir = java.nio.file.Files
      .createTempDirectory("graft-text-cache").toString
    MultimodalEnrichSpec.calls.set(0)
    val counting = new graft.llm.LlmClient {
      override def chat(ms: Seq[graft.llm.Msg], c: JobConfig): String = {
        MultimodalEnrichSpec.calls.incrementAndGet()
        "resp"
      }
    }
    // two RUNS, so run 2 is served by the on-disk cache rather than
    // by the in-partition request dedupe: same prompt, different image
    // payload — text mode never ships the image, so run 2 must be a
    // cache hit
    val run1 = Seq(("same", Map.empty[String, String], Seq("QUFB")))
      .toDF("id", "texts", "images")
    EnrichJob.runCached(run1, visionCfg(useImages = false),
      counting, cacheDir).good.count()
    assert(MultimodalEnrichSpec.calls.get() == 1)
    val run2 = Seq(("same", Map.empty[String, String], Seq("QkJC")))
      .toDF("id", "texts", "images")
    EnrichJob.runCached(run2, visionCfg(useImages = false),
      counting, cacheDir).good.count()
    assert(MultimodalEnrichSpec.calls.get() == 1,
      s"text-mode keys must be image-blind (images are not request " +
        s"content when use_images is off): " +
        s"${MultimodalEnrichSpec.calls.get()} calls")
  }
}
