package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import graft.Main
import graft.core.JobConfig
import graft.io.Jsonl
import graft.llm.OpenAiClient
import graft.pipeline.EnrichJob

/** The reference's own invocation, `Main job.yml --in --out --err`,
  * with the default options and the real HTTP client against a stub
  * whose latency has a tail. Closed loop: the engine's partitions ×
  * `concurrency` slots each send the next request when one returns.
  */
final class EnrichWire(ctx: Ctx) extends EnrichBase(ctx) {
  private val Records = 100
  private val WarmRecords = 16
  override protected val policy: StubPolicy =
    StubPolicy(a.seed, fastMs = 20, slowMs = 200, slowShare = 0.1)

  private var corpus: Corpus = _
  private var job: Path = _
  private var passSpan = 0
  private var iterations = 0
  private val in = a.work.resolve("corpus.jsonl")
  private val out = a.work.resolve("out")
  private val err = a.work.resolve("err")

  private def runMain(input: Path, outDir: Path, errDir: Path): Unit = {
    val rc = Main.run(Array(job.toString, "--in", input.toString, "--out", outDir.toString, "--err", errDir.toString))
    require(rc == 0, s"Main.run exited with $rc")
  }

  override def setup(): Unit = {
    ctx.startSession()
    val rng = new SplittableRandom(a.seed)
    val order = Corpus.shuffled(Corpus.documents(ctx.spark, a.sfDir), rng).iterator
    val used = mutable.Set.empty[String]
    def make(d: Corpus.Doc) = Rec(s"w${d.id}", Map("content" -> d.text, "source" -> d.source), Nil)
    def draw(n: Int) = {
      val slow = math.round(n * policy.slowShare).toInt
      Corpus.stratified(order, Map(true -> slow, false -> (n - slow)), used)(make)(r =>
        policy.isSlow(Corpus.content(r, useImages = false).hash))
    }
    corpus = Corpus(Corpus.spread(draw(Records),
      r => policy.isSlow(Corpus.content(r, useImages = false).hash), rng), useImages = false)
    val warm = a.work.resolve("warmup.jsonl")
    Corpus.writeJsonl(in, corpus.records)
    Corpus.writeJsonl(warm, draw(WarmRecords))
    startStub()
    job = Corpus.writeJob(a.work.resolve("job"), stub.endpoint, useImages = false)
    runMain(warm, ctx.dir("warmup-out"), ctx.dir("warmup-err"))
  }

  override def prepare(): Unit = { ctx.dir("out"); ctx.dir("err") }

  override def iteration(traced: Boolean, span: Int): Iter = {
    stub.reset()
    ctx.tracer.span(span, "pipeline", "pass main") { id =>
      passSpan = id; stub.tag = id
      ctx.jobGroup(id, "pass main")(runMain(in, out, err))
    }
    iterations += 1
    Iter(corpus.records.size, 0, 0, 0, 0, traced, Map.empty)
  }

  override def tally(): (Long, Long) =
    (stub.records.size.toLong, Corpus.readDeadIds(err.resolve("failed")).size.toLong)

  override def analyse(span: Int, fromMs: Double, toMs: Double): Map[String, Double] =
    passCounts(ctx.tracer.byId(passSpan), corpus, err.resolve("failed"), "main.") ++
      SparkTotals.of(ctx.probe, fromMs, toMs).metrics("spark.", (toMs - fromMs) / 1e3, a.cpus)

  override def check(): (Long, Seq[String]) = {
    val errs = checkPass("main", corpus, out, Corpus.readDeadIds(err.resolve("failed")), Set.empty)
    (iterations.toLong * corpus.records.size, errs)
  }

  override def layers(traced: Seq[Iter]): Map[String, Double] =
    enrichLayers(traced, Seq("main"), warm = None) ++ Harness.medians(traced, "spark.") ++
      layerProbes(in, corpus.records, out, job)
}

/** `Jsonl.read` → `EnrichJob.runCached` → `Jsonl.write`, twice per
  * iteration from an empty cache: a cold pass, then a warm pass over
  * the same records plus new ones. The stub answers fast and fails on
  * a seeded schedule keyed by attempt number.
  */
final class EnrichRetryCache(ctx: Ctx) extends EnrichBase(ctx) {
  private val ColdDistinct = 80
  private val NewDistinct = 20
  private val DupShare = 0.1
  private val ImageShare = 0.15
  private val WarmRecords = 24
  /** one cold record per fault class; every retry holds a window slot
    * for its backoff, so a few faults already dominate the wall time */
  override protected val policy: StubPolicy = StubPolicy(a.seed, fastMs = 5, slowMs = 5, slowShare = 0,
    faults = FaultClass.all.filter(_ != FaultClass.Ok).map(_ -> 1.0 / ColdDistinct))

  /** the `queries` layer is probed in this workload's traced runs */
  private lazy val queries = new QueryProbe(ctx)
  private var cold: Corpus = _
  private var warm: Corpus = _
  private var job: Path = _
  private val passSpans = mutable.Map.empty[String, Int]
  private var iterations = 0
  private val coldIn = a.work.resolve("cold.jsonl")
  private val warmIn = a.work.resolve("warm.jsonl")
  private def out(pass: String) = a.work.resolve(s"out-$pass")
  private def err(pass: String) = a.work.resolve(s"err-$pass")
  private def cache = a.work.resolve("cache")

  private def expectDead(c: Corpus): Set[String] =
    c.records.filter(r => policy.faultClass(c.content(r).hash) == FaultClass.BadRequest).map(_.id).toSet

  override def setup(): Unit = {
    ctx.startSession()
    val rng = new SplittableRandom(a.seed)
    val order = Corpus.shuffled(Corpus.documents(ctx.spark, a.sfDir), rng).iterator
    val used = mutable.Set.empty[String]
    var n = 0
    def make(d: Corpus.Doc) = {
      n += 1
      Rec(s"r$n", Map("content" -> d.text, "source" -> d.source),
        if (rng.nextDouble() < ImageShare) Corpus.images(rng) else Nil)
    }
    def draw(k: Int, shares: Seq[(FaultClass, Double)]) =
      Corpus.stratified(order, Corpus.quotas(k, shares, FaultClass.Ok), used)(make)(r =>
        policy.faultClass(Corpus.content(r, useImages = true).hash))
    val coldDistinct = draw(ColdDistinct, policy.faults)
    // duplicates copy answered prompts only, so their count is the
    // same for every seed
    val answerable = coldDistinct.filter(r => policy.faultClass(Corpus.content(r, useImages = true).hash) == FaultClass.Ok)
    val dups = Vector.fill(math.round(ColdDistinct * DupShare).toInt) {
      n += 1
      answerable(rng.nextInt(answerable.size)).copy(id = s"r$n")
    }
    def faulted(r: Rec) = policy.faultClass(Corpus.content(r, useImages = true).hash) != FaultClass.Ok
    cold = Corpus(Corpus.spread(Corpus.shuffled(coldDistinct ++ dups, rng), faulted, rng), useImages = true)
    // the new records of the warm pass carry no faults of their own
    warm = Corpus(Corpus.spread(Corpus.shuffled(cold.records ++ draw(NewDistinct, Nil), rng),
      r => policy.faultClass(Corpus.content(r, useImages = true).hash) == FaultClass.BadRequest, rng),
      useImages = true)
    Corpus.writeJsonl(coldIn, cold.records)
    Corpus.writeJsonl(warmIn, warm.records)
    val warmup = a.work.resolve("warmup.jsonl")
    Corpus.writeJsonl(warmup, draw(WarmRecords, Nil))
    startStub()
    job = Corpus.writeJob(a.work.resolve("job"), stub.endpoint, useImages = true)
    // a cold and a warm pass, so that reading a filled cache is warm too
    val warmupCache = ctx.dir("warmup-cache")
    pass("warmup", warmup, warmupCache)
    pass("warmup", warmup, warmupCache)
  }

  private def pass(name: String, input: Path, cacheDir: Path): Unit = {
    val cfg = JobConfig.load(job.toString)
    val result = EnrichJob.runCached(
      Jsonl.read(ctx.spark, input.toString).good, cfg, new OpenAiClient(), cacheDir.toString)
    Jsonl.write(result.good, out(name).toString)
    result.deadLetter.write.mode("overwrite").json(err(name).toString)
  }

  override def prepare(): Unit = Seq("cache", "out-cold", "out-warm", "err-cold", "err-warm").foreach(ctx.dir)

  override def iteration(traced: Boolean, span: Int): Iter = {
    stub.reset()
    Seq("cold" -> coldIn, "warm" -> warmIn).foreach { case (name, input) =>
      ctx.tracer.span(span, "pipeline", s"pass $name") { id =>
        passSpans(name) = id; stub.tag = id
        ctx.jobGroup(id, s"pass $name")(pass(name, input, cache))
      }
    }
    iterations += 1
    Iter(cold.records.size + warm.records.size, 0, 0, 0, 0, traced, Map.empty)
  }

  override def tally(): (Long, Long) =
    (stub.records.size.toLong, Seq("cold", "warm").map(p => Corpus.readDeadIds(err(p)).size.toLong).sum)

  override def analyse(span: Int, fromMs: Double, toMs: Double): Map[String, Double] =
    passCounts(ctx.tracer.byId(passSpans("cold")), cold, err("cold"), "cold.") ++
      passCounts(ctx.tracer.byId(passSpans("warm")), warm, err("warm"), "warm.") ++
      SparkTotals.of(ctx.probe, fromMs, toMs).metrics("spark.", (toMs - fromMs) / 1e3, a.cpus)

  override def check(): (Long, Seq[String]) = {
    val errs = mutable.Buffer.empty[String]
    errs ++= checkPass("cold", cold, out("cold"), Corpus.readDeadIds(err("cold")), expectDead(cold))
    errs ++= checkPass("warm", warm, out("warm"), Corpus.readDeadIds(err("warm")), expectDead(warm))
    // the warm pass may not call for a prompt the cold pass answered
    val recs = stub.records
    val answered = recs.filter(r => r.tag == passSpans("cold") && !r.faulted).map(_.hash).toSet
    val recalled = recs.count(r => r.tag == passSpans("warm") && answered(r.hash))
    if (recalled > 0) errs += s"warm pass re-called $recalled prompts the cold pass had answered"
    errs ++= queries.failures
    val probed = if (a.trace) queries.listed.size else 0
    (iterations.toLong * (cold.records.size + warm.records.size) + probed, errs.toSeq)
  }

  override def layers(traced: Seq[Iter]): Map[String, Double] =
    enrichLayers(traced, Seq("cold", "warm"), warm = Some("warm")) ++ Harness.medians(traced, "spark.") ++
      layerProbes(warmIn, warm.records, out("warm"), job) ++ queries.run()
}
