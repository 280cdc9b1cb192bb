package perfbench

import java.nio.file.Path
import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.core.JobConfig
import graft.io.Jsonl
import graft.llm.{Msg, OpenAiClient}
import graft.pipeline.EnrichOptions
import graft.template.Template

/** What the two enrich workloads share: the stub, the corpus source,
  * the per-pass layer numbers and the isolated layer probes.
  */
abstract class EnrichBase(ctx: Ctx) extends Workload {
  protected val a: Args = ctx.args
  protected def policy: StubPolicy
  protected var stub: StubServer = _
  /** latencies of traced iterations, pooled for the percentiles */
  protected val latencies = mutable.ArrayBuffer.empty[Double]

  protected def startStub(): Unit = {
    stub = new StubServer(policy, a.cpus)
    stub.sabotage = a.sabotage.contains("answer")
  }

  override def close(): Unit = if (stub != null) { stub.close(); stub = null }

  /** The outputs of one pass against what a correct engine writes. */
  protected def checkPass(
      pass: String, corpus: Corpus, out: Path, deadIds: Seq[String], expectDead: Set[String]): Seq[String] = {
    val errs = mutable.Buffer.empty[String]
    val input = corpus.records.map(r => r.id -> r).toMap
    val got = Corpus.readRecords(out)
    val gotIds = got.map(_.id)
    val want = input.keySet -- expectDead
    if (gotIds.size != gotIds.distinct.size) errs += s"$pass: duplicate output ids"
    if (gotIds.toSet != want)
      errs += s"$pass: output ids differ: ${(want -- gotIds).size} missing, ${(gotIds.toSet -- want).size} unexpected"
    got.filter(r => input.contains(r.id)).foreach { r =>
      val in = input(r.id)
      if (r.texts - Corpus.OutputLabel != in.texts)
        errs += s"$pass ${r.id}: non-label texts changed"
      if (r.images != in.images) errs += s"$pass ${r.id}: images changed"
      val expect = Stub.cleaned(corpus.content(in))
      if (!r.texts.get(Corpus.OutputLabel).contains(expect))
        errs += s"$pass ${r.id}: answer ${r.texts.get(Corpus.OutputLabel)} != expected $expect"
    }
    if (deadIds.toSet != expectDead || deadIds.size != deadIds.distinct.size)
      errs += s"$pass: dead letters ${deadIds.sorted.take(5)} != expected ${expectDead.toSeq.sorted.take(5)}"
    errs.toSeq
  }

  /** Layer numbers of one traced pass, from the stub's records and the
    * Spark listener; adds a span per stub request and per Spark job and
    * stage under the pass span.
    */
  protected def passCounts(pass: Span, corpus: Corpus, deadDir: Path, prefix: String): Map[String, Double] = {
    val t = ctx.tracer
    val recs = stub.records.filter(_.tag == pass.id)
    recs.foreach { r =>
      t.add(Span(t.nextId(), pass.id, "llm", s"request ${r.status} attempt ${r.attempt}",
        t.msOf(r.arrivalNs), t.msOf(r.replyNs)))
    }
    SparkTotals.spans(ctx.probe, t, pass).foreach(t.add)
    latencies ++= recs.map(_.latencyMs)

    // in-flight requests over the pass's active window, as a sweep
    val events = recs.flatMap(r => Seq((r.arrivalNs, 1), (r.replyNs, -1))).sortBy(e => (e._1, e._2))
    var level = 0
    var peak = 0
    var area = 0.0
    var last = events.headOption.map(_._1).getOrElse(0L)
    events.foreach { case (ts, d) =>
      area += level.toDouble * (ts - last); last = ts
      level += d; peak = math.max(peak, level)
    }
    val activeNs = if (events.isEmpty) 0.0 else (events.last._1 - events.head._1).toDouble

    // per content: a call after a faulted call is a retry; a call after
    // an answered one is either another record with the same prompt (a
    // duplicate) or the same record called again (a recomputed stage)
    val byContent = corpus.records.groupBy(r => corpus.content(r).hash).map { case (h, rs) => h -> rs.size }
    val calls = recs.groupBy(_.hash).map { case (h, rs) => h -> rs.sortBy(_.arrivalNs) }
    val called = calls.keySet.toSeq.map(h => byContent.getOrElse(h, 1)).sum
    val afterFault = calls.values.toSeq.flatMap(rs => rs.zip(rs.tail).filter(_._1.faulted))
    val retries = afterFault.size
    val retryWaitS = afterFault.map { case (x, y) => math.max(0L, y.arrivalNs - x.replyNs) / 1e9 }.sum
    val repeats = calls.values.toSeq.map(rs => rs.zip(rs.tail).count(!_._1.faulted)).sum
    val dups = calls.keys.toSeq.map(h => byContent.getOrElse(h, 1) - 1).sum
    val badReq = calls.filter { case (h, rs) =>
      byContent.get(h).contains(1) && rs.forall(_.status == 400) }
    // the enrich stages are those running while requests arrived
    val arrivalsMs = recs.map(r => t.msOf(r.arrivalNs))
    val stages = ctx.probe.stages.toArray(Array.empty[StageStat]).toSeq
      .filter(s => arrivalsMs.exists(x => x >= s.submitMs && x <= s.doneMs))
    Map(
      s"${prefix}calls" -> recs.size.toDouble,
      s"${prefix}faulted" -> recs.count(_.faulted).toDouble,
      s"${prefix}request_kb" -> recs.map(_.requestBytes).sum / 1024.0,
      s"${prefix}inflight_area_ns" -> area,
      s"${prefix}active_ns" -> activeNs,
      s"${prefix}inflight_max" -> peak.toDouble,
      s"${prefix}called_records" -> called.toDouble,
      s"${prefix}records" -> corpus.records.size.toDouble,
      s"${prefix}retries" -> retries.toDouble,
      s"${prefix}dup_calls" -> math.min(dups, repeats).toDouble,
      s"${prefix}recomputed_calls" -> math.max(0, repeats - dups).toDouble,
      s"${prefix}retry_wait_s" -> retryWaitS,
      s"${prefix}calls_on_400" -> badReq.values.map(_.size).sum.toDouble,
      s"${prefix}records_400" -> badReq.size.toDouble,
      s"${prefix}dead" -> Corpus.readDeadIds(deadDir).size.toDouble,
      s"${prefix}partitions" -> (if (stages.isEmpty) 0.0 else stages.map(_.numTasks).max.toDouble))
  }

  /** Sums pass counts over the passes of an iteration and turns them
    * into the llm.* and pipeline.* metrics.
    */
  protected def enrichLayers(traced: Seq[Iter], passes: Seq[String], warm: Option[String]): Map[String, Double] = {
    def per(f: Map[String, Double] => Double): Double = Harness.median(traced.map(i => f(i.counts)))
    def sum(k: String)(c: Map[String, Double]) = passes.map(p => c.getOrElse(s"$p.$k", 0.0)).sum
    val conc = EnrichOptions().concurrency
    val inflightMean = per(c => sum("inflight_area_ns")(c) / math.max(1.0, sum("active_ns")(c)))
    val partitions = per(c => passes.map(p => c.getOrElse(s"$p.partitions", 0.0)).max)
    val slots = math.min(partitions, a.cpus.toDouble) * conc
    val meanLatS = if (latencies.isEmpty) 0.0 else latencies.sum / latencies.size / 1e3
    val recordsPerS = Harness.median(traced.map(i => i.records / i.wallS))
    Map(
      "llm.calls" -> per(sum("calls")),
      "llm.calls_faulted" -> per(sum("faulted")),
      "llm.latency_p50_ms" -> Harness.percentile(latencies.toSeq, 0.5),
      "llm.latency_p999_ms" -> Harness.percentile(latencies.toSeq, 0.999),
      "llm.inflight_mean" -> inflightMean,
      "llm.inflight_max" -> per(c => passes.map(p => c.getOrElse(s"$p.inflight_max", 0.0)).max),
      "llm.request_kb_mean" -> per(c => sum("request_kb")(c) / math.max(1.0, sum("calls")(c))),
      "pipeline.partitions" -> partitions,
      "pipeline.slot_utilization" -> (if (slots > 0) inflightMean / slots else 0.0),
      "pipeline.ideal_share" -> (if (slots > 0 && meanLatS > 0) recordsPerS / (slots / meanLatS) else 0.0),
      "pipeline.retries" -> per(sum("retries")),
      "pipeline.retry_wait_s" -> per(sum("retry_wait_s")),
      "pipeline.dup_calls" -> per(sum("dup_calls")),
      "pipeline.recomputed_calls" -> per(sum("recomputed_calls")),
      "pipeline.calls_per_400_record" ->
        per(c => sum("calls_on_400")(c) / math.max(1.0, sum("records_400")(c))),
      "pipeline.cache_hit_share" -> warm.map(w => per(c =>
        1.0 - c.getOrElse(s"$w.called_records", 0.0) / math.max(1.0, c.getOrElse(s"$w.records", 0.0))))
        .getOrElse(0.0),
      "pipeline.dead_letters" -> per(sum("dead")))
  }

  private def med3(f: => Unit): Double = Harness.median((1 to 3).map { _ =>
    val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
  })

  /** Times each layer's public entry point in isolation: every timed
    * call is repeated three times and the median kept.
    */
  protected def layerProbes(corpusPath: Path, records: Seq[Rec], outPath: Path, job: Path): Map[String, Double] = {
    val spark = ctx.spark
    val t = ctx.tracer
    val cfg = JobConfig.load(job.toString)
    val ioRead = t.span(0, "io", "probe Jsonl.read")(_ =>
      med3(Jsonl.read(spark, corpusPath.toString).good.write.format("noop").mode("overwrite").save()))
    val input = Jsonl.read(spark, corpusPath.toString).good.localCheckpoint()
    val tpl = Template.compile(cfg.erbTemplate)
    val render = t.span(0, "template", "probe Template.column")(_ =>
      med3(input.select(tpl.column(col("id"), col("texts"), col("images")).as("prompt"))
        .write.format("noop").mode("overwrite").save()))
    val output = Jsonl.read(spark, outPath.toString).good.localCheckpoint()
    val probeOut = ctx.dir("probe-write")
    val ioWrite = t.span(0, "io", "probe Jsonl.write")(_ => med3(Jsonl.write(output, probeOut.toString)))
    val msgs = records.map { r =>
      Seq(Msg("system", Corpus.SystemPrompt),
        Msg("user", Corpus.userPrompt(r), if (cfg.useImages) r.images else Nil))
    }
    val buildS = t.span(0, "llm", "probe OpenAiClient.requestBody")(_ =>
      med3(msgs.foreach(m => OpenAiClient.requestBody(m, cfg))))
    Map(
      "io.read_s" -> ioRead, "io.write_s" -> ioWrite, "template.render_s" -> render,
      "llm.body_build_us" -> buildS * 1e6 / math.max(1, msgs.size))
  }
}
