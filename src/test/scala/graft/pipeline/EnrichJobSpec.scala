package graft.pipeline

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.JobConfig
import graft.io.Jsonl
import graft.llm.FakeLlmClient

/** End-to-end parity slice (SURVEY.md §7.2): the reference's README
  * example — records in, `texts[output_label]` appended, `<think>`
  * stripped, id/content/images preserved — on the fake backend.
  * Mirrors spec/job_processor_spec.rb:96-114 and
  * spec/integration_spec.rb:53-59.
  */
object EnrichJobSpec {
  /** static so executor-side closures hit the same counter (local mode) */
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)

  /** static prompt log for the ValidateRepair frugality proof */
  val promptLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** call start times by "<prompt>#<attempt>", for the window specs */
  val started = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** holds the slow-head spec's first call until released */
  @volatile var gate = new java.util.concurrent.CountDownLatch(1)

  /** records each call's start under "<prompt>#<attempt>" */
  def start(prompt: String): Unit = {
    var n = 1
    while (started.putIfAbsent(s"$prompt#$n", System.nanoTime()) != null) n += 1
  }
}

class EnrichJobSpec extends SparkSpec with org.scalatest.concurrent.TimeLimits {
  import spark.implicits._
  import org.scalatest.time.SpanSugar._

  private def jobDir(): Path = {
    val d = Files.createTempDirectory("graft-enrich")
    Files.writeString(d.resolve("prompt.erb"), "summarize: <%= texts[:content] %>")
    Files.writeString(d.resolve("sys.erb"), "be terse")
    d
  }

  private def cfg(extra: String = ""): JobConfig = {
    val d = jobDir()
    Files.writeString(d.resolve("job.yml"),
      s""":id: t
         |:erb_filepath: prompt.erb
         |:backend_endpoint: http://localhost:9
         |:model: m
         |:output_label: summary
         |$extra""".stripMargin)
    JobConfig.load(d.resolve("job.yml").toString)
  }

  private val input = Seq(
    ("1", Map("content" -> "hello world"), Seq.empty[String]),
    ("2", Map("content" -> "goodbye", "keep" -> "me"), Seq("aW1n")))

  private def inputDf = input.toDF("id", "texts", "images")

  test("appends response under output_label, preserves everything else") {
    val echo = new FakeLlmClient(p => s"R:$p")
    val out = EnrichJob.run(inputDf, cfg(), echo).good
      .orderBy("id").as[(String, Map[String, String], Seq[String])].collect()
    assert(out.length == 2)
    val (id1, t1, im1) = out(0)
    assert(id1 == "1")
    assert(t1("content") == "hello world")              // passthrough
    assert(t1("summary") == "R:summarize: hello world") // appended
    assert(im1.isEmpty)
    val (_, t2, im2) = out(1)
    assert(t2("keep") == "me")
    assert(t2("summary") == "R:summarize: goodbye")
    assert(im2 == Seq("aW1n"))
  }

  test("output_label overwrites an existing entry (Ruby hash assignment)") {
    val df = Seq(("1", Map("summary" -> "OLD", "content" -> "x"), Seq.empty[String]))
      .toDF("id", "texts", "images")
    val out = EnrichJob.run(df, cfg(), new FakeLlmClient(_ => "NEW")).good
      .as[(String, Map[String, String], Seq[String])].head()
    assert(out._2("summary") == "NEW")
    assert(out._2("content") == "x")
  }

  test("<think> blocks are stripped and result trimmed") {
    val thinky = new FakeLlmClient(_ =>
      "<think>first</think>  answer  <think>second\nmultiline</think>")
    val out = EnrichJob.run(inputDf, cfg(), thinky).good
      .select(element_at(col("texts"), "summary")).as[String].collect()
    assert(out.toSet == Set("answer"))
  }

  test("null texts/images tolerated → {} / [] (reference defaults)") {
    val df = Seq(("1", null: Map[String, String], null: Seq[String]))
      .toDF("id", "texts", "images")
    val out = EnrichJob.run(df, cfg(), new FakeLlmClient(p => p)).good
      .as[(String, Map[String, String], Seq[String])].head()
    assert(out._2 == Map("summary" -> "summarize:")) // missing label → ""
    assert(out._3 == Seq.empty)
  }

  test("failed records go to dead-letter, job continues, good records survive") {
    val flaky = new FakeLlmClient(p =>
      if (p.contains("goodbye")) throw new RuntimeException("boom") else s"ok")
    val r = EnrichJob.run(inputDf, cfg(), flaky,
      EnrichOptions(maxRetries = 0))
    assert(r.good.count() == 1)
    assert(r.good.select("id").as[String].head() == "1")
    val dead = r.deadLetter.collect()
    assert(dead.length == 1)
    assert(dead(0).getAs[String]("id") == "2")
    assert(dead(0).getAs[String]("error").startsWith("API request failed:"))
  }

  test("retry recovers from transient failures") {
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val flaky = new graft.llm.LlmClient {
      override def chat(ms: Seq[graft.llm.Msg], c: JobConfig): String = {
        if (attempts.incrementAndGet() <= 1) throw new RuntimeException("transient")
        "recovered"
      }
    }
    val df = Seq(("1", Map("content" -> "x"), Seq.empty[String]))
      .toDF("id", "texts", "images")
    val r = EnrichJob.run(df, cfg(), flaky,
      EnrichOptions(concurrency = 1, maxRetries = 2, retryBackoffMs = 1))
    assert(r.good.select(element_at(col("texts"), "summary")).as[String].head() == "recovered")
  }

  test("system template is rendered; blank system prompt omitted") {
    // capture messages by encoding them into the response
    val probe = new graft.llm.LlmClient {
      override def chat(ms: Seq[graft.llm.Msg], c: JobConfig): String =
        ms.map(m => s"${m.role}=${m.text}").mkString("|")
    }
    val withSys = EnrichJob.run(inputDf, cfg(":system_erb_filepath: sys.erb"), probe)
      .good.select(element_at(col("texts"), "summary")).as[String].collect()
    assert(withSys.forall(_.startsWith("system=be terse|user=")))
    val noSys = EnrichJob.run(inputDf, cfg(), probe)
      .good.select(element_at(col("texts"), "summary")).as[String].collect()
    assert(noSys.forall(_.startsWith("user=")))
  }

  test("runCached: second run makes zero backend calls, same output") {
    val cacheDir = Files.createTempDirectory("graft-cache").resolve("c").toString
    EnrichJobSpec.calls.set(0)
    val counting = new graft.llm.LlmClient {
      override def chat(ms: Seq[graft.llm.Msg], c: JobConfig): String = {
        EnrichJobSpec.calls.incrementAndGet()
        s"R:${ms.last.text}"
      }
    }
    val r1 = EnrichJob.runCached(inputDf, cfg(), counting, cacheDir)
      .good.orderBy("id").as[(String, Map[String, String], Seq[String])].collect()
    assert(EnrichJobSpec.calls.get() == 2)
    val r2 = EnrichJob.runCached(inputDf, cfg(), counting, cacheDir)
      .good.orderBy("id").as[(String, Map[String, String], Seq[String])].collect()
    assert(EnrichJobSpec.calls.get() == 2, "cache hits must not re-call the backend")
    assert(r1.toSeq == r2.toSeq)
    assert(r1(0)._2("summary") == "R:summarize: hello world")
  }

  test("runCached: new records call only for the delta") {
    val cacheDir = Files.createTempDirectory("graft-cache2").resolve("c").toString
    EnrichJobSpec.calls.set(0)
    val counting = new graft.llm.LlmClient {
      override def chat(ms: Seq[graft.llm.Msg], c: JobConfig): String = {
        EnrichJobSpec.calls.incrementAndGet(); "ok"
      }
    }
    EnrichJob.runCached(inputDf, cfg(), counting, cacheDir).good.count()
    assert(EnrichJobSpec.calls.get() == 2)
    val grown = input :+ (("3", Map("content" -> "new doc"), Seq.empty[String]))
    val n = EnrichJob.runCached(grown.toDF("id", "texts", "images"), cfg(), counting, cacheDir)
      .good.count()
    assert(n == 3)
    assert(EnrichJobSpec.calls.get() == 3, "only the new record should call")
  }

  test("compactCache: duplicate keys collapse; hits survive compaction") {
    val cacheDir = Files.createTempDirectory("graft-cache3").resolve("c").toString
    EnrichJobSpec.calls.set(0)
    val counting = new graft.llm.LlmClient {
      override def chat(ms: Seq[graft.llm.Msg], c: JobConfig): String = {
        EnrichJobSpec.calls.incrementAndGet(); s"R:${ms.last.text}"
      }
    }
    EnrichJob.runCached(inputDf, cfg(), counting, cacheDir).good.count()
    // simulate a concurrent job double-appending the same keys
    val dup = spark.read.parquet(cacheDir)
    dup.write.mode("append").parquet(cacheDir)
    assert(spark.read.parquet(cacheDir).count() == 4)
    EnrichJob.compactCache(spark, cacheDir)
    val after = spark.read.parquet(cacheDir)
    assert(after.count() == 2, "one row per key after compaction")
    assert(after.columns.contains("written_at"))
    // compacted cache still serves hits — zero new backend calls
    val before = EnrichJobSpec.calls.get()
    EnrichJob.runCached(inputDf, cfg(), counting, cacheDir).good.count()
    assert(EnrichJobSpec.calls.get() == before)
  }

  test("compactCache: age pruning drops expired entries, keeps legacy timestampless rows") {
    val cacheDir = Files.createTempDirectory("graft-cache4").resolve("c").toString
    // legacy schema: no written_at column at all
    Seq(("legacy-key", "old-response")).toDF("cacheKey", "response")
      .write.parquet(cacheDir)
    // an expired entry and a fresh one
    Seq(("stale-key", "stale", new java.sql.Timestamp(1000L)),
      ("fresh-key", "fresh", new java.sql.Timestamp(System.currentTimeMillis())))
      .toDF("cacheKey", "response", "written_at")
      .write.mode("append").parquet(cacheDir)
    EnrichJob.compactCache(spark, cacheDir, maxAgeMs = 60L * 60 * 1000)
    val keys = spark.read.parquet(cacheDir)
      .select("cacheKey").as[String].collect().toSet
    assert(keys == Set("legacy-key", "fresh-key"),
      s"stale dropped, legacy kept: $keys")
  }

  test("compactCache recovers a crash inside its own swap instead of destroying the cache") {
    val cacheDir = Files.createTempDirectory("graft-cache5").resolve("c").toString
    EnrichJobSpec.calls.set(0)
    val counting = new graft.llm.LlmClient {
      override def chat(ms: Seq[graft.llm.Msg], c: JobConfig): String = {
        EnrichJobSpec.calls.incrementAndGet(); s"R:${ms.last.text}"
      }
    }
    EnrichJob.runCached(inputDf, cfg(), counting, cacheDir).good.count()
    assert(EnrichJobSpec.calls.get() == 2)
    // simulate dying between DirSwap's two renames inside compactCache:
    // the cache dir is gone, the whole cache sits at _compact_old
    Files.move(java.nio.file.Paths.get(cacheDir),
      java.nio.file.Paths.get(cacheDir + "_compact_old"))
    EnrichJob.compactCache(spark, cacheDir)
    assert(!Files.exists(java.nio.file.Paths.get(cacheDir + "_compact_old")))
    EnrichJob.runCached(inputDf, cfg(), counting, cacheDir).good.count()
    assert(EnrichJobSpec.calls.get() == 2, "the recovered cache must serve every answer")
    EnrichJob.compactCache(spark, cacheDir)
    assert(spark.read.parquet(cacheDir).count() == 2)
  }

  test("runCached: an empty cache dir is an empty cache; an unreadable one " +
    "fails before any backend call") {
    val counting = new graft.llm.LlmClient {
      override def chat(ms: Seq[graft.llm.Msg], c: JobConfig): String = {
        EnrichJobSpec.calls.incrementAndGet(); "ok"
      }
    }
    EnrichJobSpec.calls.set(0)
    val empty = Files.createTempDirectory("graft-cache6").toString
    assert(EnrichJob.runCached(inputDf, cfg(), counting, empty).good.count() == 2)
    assert(EnrichJobSpec.calls.get() == 2, "an empty cache has no hits")

    EnrichJobSpec.calls.set(0)
    val broken = Files.createTempDirectory("graft-cache7")
    Files.writeString(broken.resolve("part-00000"), "not parquet")
    intercept[Exception] {
      EnrichJob.runCached(inputDf, cfg(), counting, broken.toString).good.count()
    }
    assert(EnrichJobSpec.calls.get() == 0, "a broken cache must not re-call the corpus")
  }

  /** answers "A:<prompt>" and logs every call's prompt; a prompt that
    * contains "bad" gets a 400 on every attempt */
  private val logging400 = new graft.llm.LlmClient {
    override def chat(ms: Seq[graft.llm.Msg], c: JobConfig): String = {
      val p = ms.last.text
      EnrichJobSpec.promptLog.add(p)
      if (p.contains("bad")) throw new graft.llm.HttpStatusException(400, "HTTP 400: nope")
      s"A:$p"
    }
  }

  private def contents(cs: String*) = cs.zipWithIndex
    .map { case (c, i) => ((i + 1).toString, Map("content" -> c), Seq.empty[String]) }
    .toDF("id", "texts", "images").coalesce(1)

  private def summaries(r: EnrichJob.Result): Map[String, String] =
    r.good.select(col("id"), element_at(col("texts"), "summary"))
      .as[(String, String)].collect().toMap

  private def errors(r: EnrichJob.Result): Map[String, String] =
    r.deadLetter.select("id", "error").as[(String, String)].collect().toMap

  test("runCached: one call per distinct prompt in a partition; duplicates " +
    "share its answer or dead-letter error; the cache holds one row per key") {
    EnrichJobSpec.promptLog.clear()
    val cacheDir = Files.createTempDirectory("graft-cache8").resolve("c").toString
    val r = EnrichJob.runCached(
      contents("same", "same", "bad", "same", "other", "bad", "same", "same"),
      cfg(), logging400, cacheDir, EnrichOptions(retryBackoffMs = 1))
    val prompts = EnrichJobSpec.promptLog.toArray(Array.empty[String]).toSeq.sorted
    assert(prompts == Seq("summarize: bad", "summarize: other", "summarize: same"))
    val same = "A:summarize: same"
    assert(summaries(r) == Map("1" -> same, "2" -> same, "4" -> same,
      "5" -> "A:summarize: other", "7" -> same, "8" -> same))
    val err = "API request failed: HTTP 400: nope"
    assert(errors(r) == Map("3" -> err, "6" -> err))
    val cache = spark.read.parquet(cacheDir).select("response").as[String].collect()
    assert(cache.sorted.toSeq == Seq("A:summarize: other", same))
  }

  test("run: identical prompts are still one call per record") {
    EnrichJobSpec.promptLog.clear()
    val r = EnrichJob.run(contents(Seq.fill(6)("same"): _*), cfg(), logging400)
    assert(r.good.count() == 6)
    assert(EnrichJobSpec.promptLog.size == 6, "an LLM answer is a sample, not a cache hit")
  }

  test("runCached: both outputs read the checkpointed stage, not the cache dir") {
    EnrichJobSpec.promptLog.clear()
    val cacheDir = Files.createTempDirectory("graft-cache9").resolve("c").toString
    val records = contents("hello", "bad", "world")
    EnrichJob.runCached(records, cfg(), logging400, cacheDir).good.count()
    val warm = EnrichJob.runCached(records, cfg(), logging400, cacheDir)
    // a 400 is never cached, so the warm run re-calls it
    assert(EnrichJobSpec.promptLog.size == 4)
    val dir = new org.apache.hadoop.fs.Path(cacheDir)
    assert(dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true))
    assert(summaries(warm) == Map("1" -> "A:summarize: hello", "3" -> "A:summarize: world"))
    assert(errors(warm) == Map("2" -> "API request failed: HTTP 400: nope"))
    assert(EnrichJobSpec.promptLog.size == 4, "reading the outputs made no calls")
  }

  test("runCached: a pre-TTL cache file (no written_at) and a current one both serve hits") {
    EnrichJobSpec.promptLog.clear()
    val root = Files.createTempDirectory("graft-cache10")
    val first = root.resolve("first").toString
    EnrichJob.runCached(inputDf, cfg(), logging400, first).good.count()
    val keys = spark.read.parquet(first).select("cacheKey").as[String].collect().sorted
    val cacheDir = root.resolve("mixed").toString
    Seq((keys(0), "legacy answer")).toDF("cacheKey", "response").write.parquet(cacheDir)
    Seq((keys(1), "current answer", new java.sql.Timestamp(System.currentTimeMillis())))
      .toDF("cacheKey", "response", "written_at")
      .write.mode("append").parquet(cacheDir)
    EnrichJobSpec.promptLog.clear()
    val got = EnrichJob.runCached(inputDf, cfg(), logging400, cacheDir).good
      .select(element_at(col("texts"), "summary")).as[String].collect().sorted.toSeq
    assert(EnrichJobSpec.promptLog.isEmpty, "both files must serve hits")
    assert(got == Seq("current answer", "legacy answer"))
  }

  test("dead-letter replay: failed records re-enter the pipeline and succeed") {
    val flaky = new FakeLlmClient(p =>
      if (p.contains("goodbye")) throw new RuntimeException("down") else "ok")
    val first = EnrichJob.run(inputDf, cfg(), flaky, EnrichOptions(maxRetries = 0))
    assert(first.deadLetter.count() == 1)
    val replayed = graft.io.Jsonl.replayDeadLetter(spark, first.deadLetter)
    val second = EnrichJob.run(replayed, cfg(), new FakeLlmClient(_ => "recovered"))
    val out = second.good.as[(String, Map[String, String], Seq[String])].head()
    assert(out._1 == "2")
    assert(out._2("summary") == "recovered")
    assert(out._2("keep") == "me") // original payload survived the round trip
    assert(out._3 == Seq("aW1n"))
  }

  test("dead-letter replay is FRUGAL: pass 2 calls the backend only for " +
    "the dead-lettered subset (q262's loop contract)") {
    EnrichJobSpec.promptLog.clear()
    val records = (1 to 20)
      .map(i => (i.toString, Map("content" -> s"c$i"), Seq.empty[String]))
      .toDF("id", "texts", "images")
    val rCfg = JobConfig(
      id = "replay-frugal", erbTemplate = "<%= id %>",
      backendEndpoint = "http://fake", model = "m", outputLabel = "summary",
      systemErbTemplate = None, params = Map.empty, useImages = false,
      responseFormat = None)
    def logging(failMod: Int) = new graft.llm.LlmClient {
      override def chat(ms: Seq[graft.llm.Msg], c: JobConfig): String = {
        val id = ms.last.text.toInt
        EnrichJobSpec.promptLog.add(id.toString)
        if (id % failMod == 0) throw new RuntimeException("down")
        "ok"
      }
    }
    val opts = EnrichOptions(maxRetries = 0)
    val first = EnrichJob.run(records, rCfg, logging(4), opts)
    first.good.count()
    val deadIds = first.deadLetter.select("id").as[String].collect()
      .map(_.toInt).toSeq.sorted
    assert(deadIds == Seq(4, 8, 12, 16, 20))
    EnrichJobSpec.promptLog.clear()
    val replayed = graft.io.Jsonl.replayDeadLetter(spark, first.deadLetter)
    EnrichJob.run(replayed, rCfg, logging(Int.MaxValue), opts).good.count()
    val pass2 = EnrichJobSpec.promptLog.toArray(Array.empty[String])
      .toSeq.map(_.toInt).sorted
    assert(pass2 == deadIds,
      s"pass 2 must touch EXACTLY the dead-lettered subset: $pass2 vs $deadIds")
  }

  test("each record is called once, whatever the caller consumes and " +
    "in whatever order; good and dead-letter partition the input") {
    EnrichJobSpec.calls.set(0)
    // odd-numbered calls fail: if a second action re-ran the stage, the
    // same record could land in both outputs or in neither
    val oddFails = new graft.llm.LlmClient {
      override def chat(ms: Seq[graft.llm.Msg], c: JobConfig): String =
        if (EnrichJobSpec.calls.incrementAndGet() % 2 == 1)
          throw new RuntimeException("odd call") else "ok"
    }
    val ids = (1 to 40).map(_.toString)
    val records = ids.map(i => (i, Map("content" -> s"c$i"), Seq.empty[String]))
      .toDF("id", "texts", "images").repartition(4)
    val r = EnrichJob.run(records, cfg(), oddFails, EnrichOptions(maxRetries = 0))
    assert(EnrichJobSpec.calls.get() == 0, "building the frames makes no calls")
    val nGood = r.good.count()
    val nDead = r.deadLetter.count()
    assert(r.good.count() == nGood)
    assert(EnrichJobSpec.calls.get() == ids.size)
    val good = r.good.select("id").as[String].collect().toSet
    val dead = r.deadLetter.select("id").as[String].collect().toSet
    assert(EnrichJobSpec.calls.get() == ids.size)
    assert((good intersect dead).isEmpty, s"in both outputs: ${good intersect dead}")
    assert(good ++ dead == ids.toSet)
    assert(nGood + nDead == ids.size)
  }

  test("retry classes: a 4xx is called once, a 5xx maxRetries + 1 times") {
    def answering(status: Int) = new graft.llm.LlmClient {
      override def chat(ms: Seq[graft.llm.Msg], c: JobConfig): String = {
        EnrichJobSpec.calls.incrementAndGet()
        throw new graft.llm.HttpStatusException(status, s"HTTP $status: nope")
      }
    }
    val one = Seq(("1", Map("content" -> "x"), Seq.empty[String]))
      .toDF("id", "texts", "images")
    val opts = EnrichOptions(maxRetries = 2, retryBackoffMs = 1)
    EnrichJobSpec.calls.set(0)
    val bad = EnrichJob.run(one, cfg(), answering(400), opts).deadLetter
      .select("error").as[String].collect()
    assert(EnrichJobSpec.calls.get() == 1)
    assert(bad.toSeq == Seq("API request failed: HTTP 400: nope"))
    EnrichJobSpec.calls.set(0)
    EnrichJob.run(one, cfg(), answering(503), opts).deadLetter.count()
    assert(EnrichJobSpec.calls.get() == opts.maxRetries + 1)
  }

  /** `n` records with prompt "<id>" in one partition, in id order */
  private def numbered(n: Int) = (1 to n)
    .map(i => (i.toString, Map("content" -> s"c$i"), Seq.empty[String]))
    .toDF("id", "texts", "images").coalesce(1)

  private val idPrompt = JobConfig(
    id = "window", erbTemplate = "<%= id %>",
    backendEndpoint = "http://fake", model = "m", outputLabel = "summary",
    systemErbTemplate = None, params = Map.empty, useImages = false,
    responseFormat = None)

  test("a slow head does not stall the calls behind it; rows keep input order") {
    EnrichJobSpec.started.clear()
    EnrichJobSpec.gate = new java.util.concurrent.CountDownLatch(1)
    val slowHead = new graft.llm.LlmClient {
      override def chat(ms: Seq[graft.llm.Msg], c: JobConfig): String = {
        val id = ms.last.text
        EnrichJobSpec.start(id)
        if (id == "1") EnrichJobSpec.gate.await(60, java.util.concurrent.TimeUnit.SECONDS)
        s"A$id"
      }
    }
    val run = scala.concurrent.Future(
      EnrichJob.run(numbered(20), idPrompt, slowHead, EnrichOptions(concurrency = 2))
        .good.select("id").as[String].collect().toSeq)(scala.concurrent.ExecutionContext.global)
    val until = System.nanoTime() + 20L * 1000 * 1000 * 1000
    while (EnrichJobSpec.started.size < 20 && System.nanoTime() < until) Thread.sleep(10)
    val releasedNs = System.nanoTime()
    EnrichJobSpec.gate.countDown()
    val ids = scala.concurrent.Await.result(run, scala.concurrent.duration.Duration(60, "s"))
    val startedBefore = (2 to 20).filter(i =>
      Option(EnrichJobSpec.started.get(s"$i#1")).exists(_ < releasedNs))
    assert(startedBefore == (2 to 20),
      s"calls started while the head was held: ${startedBefore.size} of 19")
    assert(ids == (1 to 20).map(_.toString))
  }

  test("a retry's backoff holds no slot") {
    EnrichJobSpec.started.clear()
    val once503 = new graft.llm.LlmClient {
      override def chat(ms: Seq[graft.llm.Msg], c: JobConfig): String = {
        val id = ms.last.text
        EnrichJobSpec.start(id)
        if (id == "1" && !EnrichJobSpec.started.containsKey("1#2"))
          throw new graft.llm.HttpStatusException(503, "HTTP 503: busy")
        s"A$id"
      }
    }
    val r = EnrichJob.run(numbered(2), idPrompt, once503,
      EnrichOptions(concurrency = 1, maxRetries = 2, retryBackoffMs = 400))
    assert(r.good.select("id").as[String].collect().toSeq == Seq("1", "2"))
    val second = EnrichJobSpec.started.get("2#1")
    val retry = EnrichJobSpec.started.get("1#2")
    assert(second != null && retry != null)
    assert(second < retry, "record 2 waited for record 1's backoff")
    assert(!EnrichJobSpec.started.containsKey("1#3"))
  }

  test("a hung backend ends in the dead letters within the wait bound") {
    val hung = new graft.llm.LlmClient {
      override def chat(ms: Seq[graft.llm.Msg], c: JobConfig): String = {
        new java.util.concurrent.CountDownLatch(1).await() // until interrupted
        "never"
      }
    }
    val opts = EnrichOptions(maxRetries = 1, retryBackoffMs = 100)
    // requestTimeoutSec × (maxRetries + 1) + total backoff
    val boundMs = 1000L * 2 + 100
    val sc = spark.sparkContext
    sc.setJobGroup("hung-backend", "hung backend", interruptOnCancel = true)
    try {
      implicit val signaler: org.scalatest.concurrent.Signaler =
        org.scalatest.concurrent.ThreadSignaler
      failAfter(60.seconds) {
        val t0 = System.nanoTime()
        val dead = EnrichJob.run(numbered(1), idPrompt.copy(requestTimeoutSec = 1), hung, opts)
          .deadLetter.select("id", "error").as[(String, String)].collect().toSeq
        val tookMs = (System.nanoTime() - t0) / 1000000
        assert(dead == Seq(("1", s"API request failed: no answer within $boundMs ms")))
        assert(tookMs >= boundMs && tookMs < boundMs + 20000, s"took $tookMs ms")
      }
    } finally {
      sc.cancelJobGroup("hung-backend")
      sc.clearJobGroup()
    }
  }

  test("reference repo's own example input runs end-to-end (README.md:35 scenario)") {
    // /root/reference/docs/example/input_sample.jsonl + the
    // job_with_system.yml surface (paths re-pointed at our fixtures)
    val refInput = "/root/reference/docs/example/input_sample.jsonl"
    assume(Files.exists(java.nio.file.Paths.get(refInput)))
    val d = jobDir()
    Files.writeString(d.resolve("user_prompt.erb"),
      "以下のテキストを要約してください：\n\n<%= texts[:content] %>")
    Files.writeString(d.resolve("job.yml"),
      s""":id: summarization-with-system
         |:erb_filepath: user_prompt.erb
         |:system_erb_filepath: sys.erb
         |:backend_endpoint: http://localhost:8080
         |:model: qwen3-0.6b
         |:params:
         |  :temperature: 0.3
         |  :max_tokens: 200
         |:use_images: false
         |:output_label: summary""".stripMargin)
    val jc = JobConfig.load(d.resolve("job.yml").toString)
    val split = graft.io.Jsonl.read(spark, refInput)
    assert(split.corrupt.count() == 0)
    val out = EnrichJob.run(split.good, jc,
      new FakeLlmClient(p => s"<think>考える</think>要約:${p.length}"))
      .good.as[(String, Map[String, String], Seq[String])].collect()
    assert(out.length == split.good.count())
    // every record: content preserved, summary added, think stripped
    out.foreach { case (_, texts, _) =>
      assert(texts.contains("content"))
      assert(texts("summary").startsWith("要約:"))
    }
  }

  test("jsonl round trip: read → enrich → write matches reference example shape") {
    val d = Files.createTempDirectory("graft-e2e")
    val in = d.resolve("in.jsonl")
    Files.writeString(in,
      """{"id": "001", "texts": {"content": "first doc"}}
        |
        |not json at all
        |{"id": "002", "texts": {"content": "second doc"}, "images": ["QUJD"]}
        |""".stripMargin)
    val split = Jsonl.read(spark, in.toString)
    assert(split.corrupt.count() == 1)
    val r = EnrichJob.run(split.good, cfg(), new FakeLlmClient(p => s"S:$p"))
    val outDir = d.resolve("out").toString
    Jsonl.write(r.good, outDir)
    val lines = spark.read.text(outDir).as[String].collect().sorted
    assert(lines.length == 2)
    assert(lines(0).contains(""""id":"001""""))
    assert(lines(0).contains(""""content":"first doc""""))
    assert(lines(0).contains(""""summary":"S:summarize: first doc""""))
    assert(lines(1).contains(""""images":["QUJD"]"""))
  }

  test("ValidateRepair: bounded one-retry loop — never re-asks passing " +
    "records, injects the violation reason, terminates at attempts = 2 " +
    "(q224's operator)") {
    import graft.pipeline.SchemaValidate.{IntType, Required}
    EnrichJobSpec.promptLog.clear()
    // ids 2/4/6 answer unparseable JSON, id 8 omits the required lang;
    // on the FIX retry everything repairs except the stubborn id 6
    val client = new graft.llm.LlmClient {
      override def chat(ms: Seq[graft.llm.Msg], c: JobConfig): String = {
        val p = ms.last.text
        EnrichJobSpec.promptLog.add(p)
        val isFix = p.startsWith("FIX(")
        val body = if (isFix) p.substring(p.indexOf(")|") + 2) else p
        val id = body.substring(0, body.indexOf('|')).toLong
        if (!isFix) {
          if (id % 2 == 0 && id != 8) "not json"
          else if (id == 8) """{"age": 5}"""
          else """{"lang": "en", "age": 5}"""
        } else {
          if (id == 6) "still not json"
          else """{"lang": "en", "age": 5}"""
        }
      }
    }
    val records = (1 to 8)
      .map(i => (i.toString, Map("content" -> s"c$i"), Seq.empty[String]))
      .toDF("id", "texts", "images")
    val vrCfg = JobConfig(
      id = "vr", erbTemplate = "<%= id %>|<%= texts[:content] %>",
      backendEndpoint = "http://fake", model = "m", outputLabel = "out",
      systemErbTemplate = None, params = Map.empty, useImages = false,
      responseFormat = None)
    val report = ValidateRepair.run(records, vrCfg,
      "FIX(<%= texts[:why] %>)|<%= id %>|<%= texts[:content] %>",
      client,
      Seq("ok_required" -> Required("lang"), "ok_type" -> IntType("age")))
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1.toLong -> r).toMap

    assert(report.size == 8)
    // attempts: 1 for first-pass-valid, 2 for everything retried
    Seq(1L, 3L, 5L, 7L).foreach(i => assert(report(i)._2 == 1L, s"id $i"))
    Seq(2L, 4L, 6L, 8L).foreach(i => assert(report(i)._2 == 2L, s"id $i"))
    // the loop TERMINATES with the stubborn record in the final
    // dead-letter — attempts capped at 2, verdicts honest
    assert(report(6L)._4 == 0L && report(6L)._6 == "parse")
    Seq(2L, 4L, 8L).foreach(i =>
      assert(report(i)._4 == 1L && report(i)._6 == "", s"id $i repaired"))
    assert(report(8L)._5 == "required:lang")

    // frugality: exactly 8 first-pass + 4 retry calls, FIX prompts
    // only for the first-pass failures, each retried exactly once
    val prompts = EnrichJobSpec.promptLog.toArray(Array.empty[String]).toSeq
    assert(prompts.length == 12, s"calls: ${prompts.length}")
    val fixIds = prompts.filter(_.startsWith("FIX(")).map { p =>
      val b = p.substring(p.indexOf(")|") + 2); b.substring(0, b.indexOf('|')).toLong
    }
    assert(fixIds.sorted == Seq(2L, 4L, 6L, 8L),
      s"retried ids: $fixIds — passing records must never be re-asked")
    // the violation reason reaches the retry prompt
    assert(prompts.exists(p => p.startsWith("FIX(required:lang)|8|")),
      s"reason not injected: ${prompts.filter(_.startsWith("FIX")).mkString("; ")}")
    assert(prompts.exists(p => p.startsWith("FIX(parse)|6|")))
  }

  test("ValidateRepair: TOTAL under transport failure — call-failed " +
    "records report with reason 'call' instead of vanishing") {
    import graft.pipeline.SchemaValidate.{IntType, Required}
    // id 3's CALL dies on the first pass (never validated); id 4
    // fails validation, then its RETRY call dies; id 6 fails
    // validation and repairs; ids 1/2/5 are clean
    val client = new graft.llm.LlmClient {
      override def chat(ms: Seq[graft.llm.Msg], c: JobConfig): String = {
        val p = ms.last.text
        val isFix = p.startsWith("FIX(")
        val body = if (isFix) p.substring(p.indexOf(")|") + 2) else p
        val id = body.substring(0, body.indexOf('|')).toLong
        if (!isFix) {
          if (id == 3) throw new RuntimeException("transport down")
          else if (id == 4 || id == 6) "not json"
          else """{"lang": "en", "age": 5}"""
        } else {
          if (id == 4) throw new RuntimeException("transport down")
          else """{"lang": "en", "age": 5}"""
        }
      }
    }
    val records = (1 to 6)
      .map(i => (i.toString, Map("content" -> s"c$i"), Seq.empty[String]))
      .toDF("id", "texts", "images")
    val vrCfg = JobConfig(
      id = "vr-total", erbTemplate = "<%= id %>|<%= texts[:content] %>",
      backendEndpoint = "http://fake", model = "m", outputLabel = "out",
      systemErbTemplate = None, params = Map.empty, useImages = false,
      responseFormat = None)
    val report = ValidateRepair.run(records, vrCfg,
      "FIX(<%= texts[:why] %>)|<%= id %>|<%= texts[:content] %>",
      client,
      Seq("ok_required" -> Required("lang"), "ok_type" -> IntType("age")))
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1.toLong -> r).toMap
    // TOTAL: every input record reports, including both failure paths
    assert(report.size == 6, s"report not total: ${report.keys.toSeq.sorted}")
    // first-pass call failure: attempts = 1, both reasons 'call'
    assert(report(3L) == (("3", 1L, 0L, 0L, "call", "call")), report(3L))
    // retry-pass call failure: attempts = 2, first reason preserved,
    // final reason 'call', not repaired
    assert(report(4L) == (("4", 2L, 0L, 0L, "parse", "call")), report(4L))
    // the ordinary paths are untouched by the accounting
    assert(report(6L)._4 == 1L && report(6L)._5 == "parse")
    Seq(1L, 2L, 5L).foreach(i => assert(report(i)._2 == 1L && report(i)._4 == 1L))
  }
}
