package graft.pipeline

import java.util.concurrent.{Executors, LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable
import scala.util.control.NonFatal
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.JobConfig
import graft.llm.{HttpStatusException, LlmClient, Msg}
import graft.template.Template

/** Tuning for the effectful LLM stage. Defaults follow the reference's
  * contract (240 s timeout lives in JobConfig) plus the scale features
  * the reference lacks: per-partition async concurrency and
  * retry-with-backoff (SURVEY.md E18).
  *
  * Each partition keeps at most `concurrency` requests on the wire, so
  * the total backend concurrency is partitions × `concurrency`; Main's
  * input is split into about `defaultParallelism` partitions, so it
  * grows with the cores. Finished answers wait for the slower ones
  * before them in a reorder buffer of at most 16 × `concurrency`
  * records. In [[EnrichJob.runCached]] a record whose request repeats
  * one the partition has open, or one of its last 16 × `concurrency`
  * finished ones, takes that request's outcome instead of calling.
  * A retry waits out its backoff (`retryBackoffMs × 2^attempt`)
  * on a scheduler, holding no slot. A record with no answer
  * `requestTimeoutSec × (maxRetries + 1)` plus its total backoff after
  * its first call is dead-lettered.
  */
final case class EnrichOptions(
    /** requests on the wire per partition */
    concurrency: Int = 8,
    maxRetries: Int = 2,
    retryBackoffMs: Long = 500)

/** The reference's whole job — `process_item` mapped over a corpus
  * (SURVEY.md R3-R11) — as one declarative DataFrame transform.
  *
  * Plan shape (everything except the HTTP POST stays in whole-stage
  * codegen):
  *
  *   prompt render     — Catalyst concat/element_at (Template.column)
  *   LLM invoke        — mapPartitions, pooled client per partition,
  *                       `concurrency` requests in flight, rows in
  *                       input order (callPartition); with cache keys
  *                       (runCached) one request per distinct key in
  *                       the request window, and a cached answer
  *                       takes no slot
  *   checkpoint        — localCheckpoint(eager = false) of the called
  *                       rows: each record is called at most once, at
  *                       the first action, whichever frame it runs on
  *   <think> strip     — regexp_replace + trim (codegen)
  *   label append      — map_filter + map_concat (codegen; overwrite
  *                       semantics without relying on mapKeyDedupPolicy)
  *   fail-soft fork    — error rows to dead-letter, job never fails
  *                       (reference lib/job_processor.rb:27-29)
  */
/** internal row shapes for the typed mapPartitions stage — must be
  * top-level (non-private) so Catalyst's generated encoder code can
  * construct them. `cacheKey` is empty and `cached` is None outside
  * runCached; `fresh` marks a row answered by its own call, the rows
  * runCached appends to its cache.
  */
final case class Prompted(
    id: String, texts: Map[String, String], images: Seq[String],
    prompt: String, sys: Option[String], cacheKey: String, cached: Option[String])
final case class Called(
    id: String, texts: Map[String, String], images: Seq[String],
    response: Option[String], error: Option[String], cacheKey: String, fresh: Boolean)

object EnrichJob {

  final case class Result(good: DataFrame, deadLetter: DataFrame)

  /** the reorder buffer's cap, in multiples of `concurrency` */
  private val ReorderCap = 16

  /** what wakes a partition's task thread: the outcome of one attempt,
    * or a retry whose backoff has passed */
  private sealed trait Signal { def seq: Long; def attempt: Int }
  private final case class Answered(seq: Long, attempt: Int, answer: Try[String]) extends Signal
  private final case class RetryDue(seq: Long, attempt: Int) extends Signal

  /** `<think>…</think>` removal + trim (reference clean_content,
    * lib/job_processor.rb:207-210; Ruby /m ≡ Java (?s)). Ruby strip
    * removes ALL whitespace incl. newlines — Spark's `trim` only strips
    * spaces, so the trim is a regex too. Codegen'd.
    */
  def cleanContent(c: Column): Column =
    regexp_replace(
      regexp_replace(c, "(?s)<think>.*?</think>", ""),
      "(?s)\\A[\\s\\u0000]+|[\\s\\u0000]+\\z", "")

  /** `good` and `deadLetter` read the same rows of [[calledFrame]]: the
    * backend is called once per record, whatever the caller consumes.
    * Records carry no cache key, so identical prompts are still one
    * call each (an LLM answer is a sample, as in the reference). */
  def run(
      records: DataFrame,
      cfg: JobConfig,
      client: LlmClient,
      opts: EnrichOptions = EnrichOptions()): Result =
    assemble(calledFrame(promptedFrame(records, cfg).withColumns(Map(
      "cacheKey" -> lit(""), "cached" -> lit(null).cast("string"))), cfg, client, opts), cfg)

  /** Cached variant for at-least-once environments (SURVEY.md §7.4):
    * responses are keyed by an idempotency hash of the full request
    * content and persisted under `cacheDir`. Re-running the same job
    * (task retry, failed-run restart, incremental corpus growth) calls
    * the backend only for prompts never answered before, and within a
    * run only once per distinct request in each partition's request
    * window (the open requests plus the last 16 × `concurrency` keys
    * that finished): a repeated record takes that request's answer or
    * dead-letter error. The cache is append-only parquet — safe to
    * share across concurrent jobs at the granularity of duplicate
    * work, never wrong results (duplicate keys resolve
    * deterministically to one response).
    *
    * Each pass is one checkpointed stage over `records ⋈ cache`: the
    * cache append and both outputs read the same called rows, so the
    * cache is scanned once per run. The trade: the checkpoint holds
    * the hit rows too, not only the called ones.
    */
  def runCached(
      records: DataFrame,
      cfg: JobConfig,
      client: LlmClient,
      cacheDir: String,
      opts: EnrichOptions = EnrichOptions()): Result = {
    val spark = records.sparkSession

    // idempotency key: request content, not record id — the same
    // record re-templated differently must re-call.
    // KEY FORMAT v2: the NUL delimiter replaced the original space
    // (which could collide two different prompt/sys splits and serve
    // the WRONG cached response); caches written by the space-keyed
    // version miss entirely after upgrade — one full re-call of the
    // corpus, then compactCache reclaims the orphaned rows.
    // VISION jobs (r16): when use_images is on, the images ARE
    // request content — the content-parts branch ships them — so the
    // key folds an image-payload digest; without it, two records
    // with the same prompt but different images collided and the
    // second was served the first's caption. Text jobs keep the v2
    // key byte-for-byte (their caches stay warm); vision caches
    // written by the collision-prone key miss entirely after
    // upgrade, which is the safe direction (a miss re-calls; a
    // false hit is wrong).
    val textKey = concat_ws("\u0000",
      col("prompt"), coalesce(col("sys"), lit("")),
      lit(cfg.model), lit(cfg.outputLabel))
    // the digest must be INJECTIVE over image lists (r16 review fix:
    // concat_ws alone collides [] with [""] and skips nulls, exactly
    // the false-hit class this key exists to kill) — fold in the
    // element count and length-prefix every payload so boundaries
    // can't shift
    val keyCol =
      if (cfg.useImages)
        md5(concat_ws("\u0000", textKey,
          md5(concat_ws("\u0001",
            size(col("images")).cast("string"),
            concat_ws("\u0001", transform(col("images"), x =>
              concat_ws(":",
                coalesce(length(x).cast("string"), lit("-")),
                coalesce(x, lit("")))))))))
      else md5(textKey)
    val cache = readCache(spark, cacheDir).groupBy("cacheKey")
      .agg(min("response").as("cached"))
    val prompted = promptedFrame(records, cfg).withColumn("cacheKey", keyCol)
      .join(cache, Seq("cacheKey"), "left")

    // the cache append below is the first action: it makes the calls,
    // and both outputs read the same checkpointed rows
    val called = calledFrame(prompted, cfg, client, opts)
    called.filter(col("fresh"))
      .select(col("cacheKey"), col("response"))
      .withColumn("written_at", current_timestamp())
      .write.mode("append").parquet(cacheDir)
    assemble(called, cfg)
  }

  private val CacheSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "cacheKey STRING, response STRING, written_at TIMESTAMP")

  /** Cache read under its declared schema: a pre-TTL file has no
    * `written_at` column and reads it as null. Only a missing dir, or
    * one with no visible data files, reads as an empty cache. Any
    * other read error (a corrupt or foreign file) propagates: read as
    * empty, it would re-call the whole corpus on every run and keep
    * appending into the broken dir.
    */
  private def readCache(
      spark: org.apache.spark.sql.SparkSession, cacheDir: String): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(cacheDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = fs.exists(dir) && fs.listStatus(dir).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    if (hasData) spark.read.schema(CacheSchema).parquet(cacheDir)
    else spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), CacheSchema)
  }

  /** Offline cache maintenance: collapse duplicate keys (concurrent
    * jobs append independently) and drop entries older than
    * `maxAgeMs` (0 keeps all ages). Deleting from a response cache is
    * always SAFE — a dropped entry only costs a re-call — but legacy
    * rows with no timestamp are kept conservatively. The rewrite goes
    * through DirSwap, so a reader sees either the old or the new
    * cache, and a crash mid-swap leaves the full cache at
    * `_compact_old`, which the next compactCache restores before it
    * reads. Do not run concurrently with a writing job (the
    * append-only contract covers jobs, not compaction).
    *
    * Boundary: [[runCached]] does not recover (the cache is shared by
    * concurrent appending jobs, and recovery is a single-writer
    * rename), so a runCached that runs between a crashed compaction
    * and the next one re-calls the moved-aside answers. This costs
    * calls, never wrong answers.
    */
  def compactCache(
      spark: org.apache.spark.sql.SparkSession,
      cacheDir: String,
      maxAgeMs: Long = 0L): Unit = {
    DirSwap.recover(spark, cacheDir) // before the read below
    val cache = readCache(spark, cacheDir)
    val pruned =
      if (maxAgeMs <= 0) cache
      else cache.filter(col("written_at").isNull ||
        col("written_at") >= timestamp_millis(
          lit(System.currentTimeMillis() - maxAgeMs)))
    // newest response per key; (timestamp, response) ordering makes the
    // pick deterministic when timestamps tie or are absent
    val compacted = pruned
      .groupBy("cacheKey")
      .agg(max_by(struct(col("response"), col("written_at")),
        struct(coalesce(col("written_at"), lit("1970-01-01").cast("timestamp")),
          col("response"))).as("m"))
      .select(col("cacheKey"), col("m.response"), col("m.written_at"))
    DirSwap.rewriteInPlace(spark, cacheDir) { tmp =>
      compacted.write.mode("overwrite").parquet(tmp)
    }
  }

  /** prompt/sys render — Catalyst columns, shared by run/runCached;
    * each adds its own `cacheKey` and `cached` columns */
  private def promptedFrame(records: DataFrame, cfg: JobConfig): DataFrame = {
    val userTpl = Template.compile(cfg.erbTemplate)
    val sysTpl = cfg.systemErbTemplate.map(Template.compile)
    val id = col("id").cast("string")
    val texts = coalesce(col("texts"), map().cast("map<string,string>"))
    val images = coalesce(col("images"), array().cast("array<string>"))
    records.select(
      id.as("id"), texts.as("texts"), images.as("images"),
      userTpl.column(id, texts, images).as("prompt"),
      sysTpl.map(_.column(id, texts, images))
        .getOrElse(lit(null).cast("string")).as("sys"))
  }

  /** The one LLM stage, shared by run/runCached, checkpointed lazily:
    * the first action makes the calls (a partial one such as `limit`
    * still completes the stage) and later actions read the stored rows
    * instead of paying again. The stages below an exchange
    * (runCached's cache scan) finish before the first call.
    * Trade-off: checkpoint blocks are
    * unreplicated executor-local state, so losing an executor fails
    * the job instead of re-calling — restart durability is what
    * [[runCached]]'s on-disk cache is for.
    */
  private def calledFrame(
      prompted: DataFrame,
      cfg: JobConfig,
      client: LlmClient,
      opts: EnrichOptions): DataFrame = {
    import prompted.sparkSession.implicits._
    prompted.as[Prompted].mapPartitions(callPartition(_, cfg, client, opts))
      .toDF().localCheckpoint(eager = false)
  }

  /** clean + label-append + good/dead-letter fork over a called frame */
  private def assemble(called: DataFrame, cfg: JobConfig): Result = {
    val withLabel = map_concat(
      // drop any pre-existing entry under the label first, so overwrite
      // semantics (Ruby hash assignment, rb:50) never depend on
      // spark.sql.mapKeyDedupPolicy
      map_filter(col("texts"), (k, _) => k =!= cfg.outputLabel),
      map(lit(cfg.outputLabel), cleanContent(col("response"))))
    Result(
      good = called.filter(col("error").isNull)
        .select(col("id"), withLabel.as("texts"), col("images")),
      deadLetter = called.filter(col("error").isNotNull)
        .select(col("id"), col("error"),
          to_json(struct(col("id"), col("texts"), col("images"))).as("record")))
  }

  /** One partition's work: a request window over a dedicated pool whose
    * rows come back in input order.
    *  - At most `concurrency` requests are on the wire at once.
    *  - Finished answers wait in an in-order reorder buffer. A record is
    *    read from the input only while fewer than `ReorderCap ×
    *    concurrency` read records are not yet emitted, so a slow record
    *    at the head holds back emission, not the calls behind it.
    *  - A failed attempt gives its slot back at once. Its retry waits
    *    out the backoff on a scheduler, then re-enters the window ahead
    *    of new records.
    *  - Each answer, failure and due retry is a signal that wakes the
    *    task thread, which refills the window.
    *  - A record with a `cached` answer finishes as it is read, taking
    *    no slot. One with a non-empty `cacheKey` sends no request of
    *    its own if that key's request is open (on the wire or waiting
    *    out a retry) or among the last `ReorderCap × concurrency` keys
    *    that finished: it takes that request's answer or error.
    *  - A record still unanswered `requestTimeoutSec × (maxRetries + 1)`
    *    plus its total backoff after its first call is dead-lettered and
    *    its call interrupted (the reference's fail-soft contract).
    * The pool and the scheduler die with the task.
    */
  private def callPartition(
      it: Iterator[Prompted],
      cfg: JobConfig,
      client: LlmClient,
      opts: EnrichOptions): Iterator[Called] = {
    val slots = math.max(1, opts.concurrency)
    val pool = Executors.newFixedThreadPool(slots)
    val timer = Executors.newSingleThreadScheduledExecutor()
    def stop(): Unit = { pool.shutdownNow(); timer.shutdownNow() }
    // the threads must die with the TASK, not with iterator exhaustion:
    // partial consumption (downstream limit, task failure, write error)
    // would otherwise leak non-daemon threads + in-flight requests in a
    // long-lived executor JVM. Null TaskContext = driver-side test.
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => stop()))
    val backoffMs = (0 until opts.maxRetries).map(a => opts.retryBackoffMs << a)
    val boundMs = cfg.requestTimeoutSec * 1000L * (opts.maxRetries + 1) + backoffMs.sum
    val signals = new LinkedBlockingQueue[Signal]()

    val window = slots.toLong * ReorderCap

    /** one request: the record `seq` that sent it, then every record
      * with the same key read while it was open */
    final class Pending(val seq: Long, val r: Prompted) {
      val deadlineNs: Long = System.nanoTime() + TimeUnit.MILLISECONDS.toNanos(boundMs)
      var attempt = 0
      var call: java.util.concurrent.Future[_] = null // set while on the wire
      val takers = mutable.ArrayBuffer(seq -> r)
    }
    // task-thread state: read records not yet finished (each under the
    // request whose outcome it takes), finished rows not yet emitted,
    // retries whose backoff has passed, the open request per cache key
    // and the outcomes of the last `window` keys that finished
    val open = mutable.HashMap.empty[Long, Pending]
    val done = mutable.HashMap.empty[Long, Called]
    val due = mutable.Queue.empty[Pending]
    val byKey = mutable.HashMap.empty[String, Pending]
    val recent = mutable.LinkedHashMap.empty[String, (Option[String], Option[String])]
    var onWire = 0
    var read = 0L
    var emitted = 0L

    def send(p: Pending): Unit = {
      val (seq, attempt, r) = (p.seq, p.attempt, p.r)
      p.call = pool.submit(new Runnable {
        override def run(): Unit = signals.put(Answered(seq, attempt,
          try Success(client.chat(buildMessages(r, cfg.useImages), cfg))
          catch { case e: Throwable => Failure(e) }))
      })
      onWire += 1
    }
    def emit(seq: Long, r: Prompted, response: Option[String], error: Option[String],
        fresh: Boolean): Unit =
      done(seq) = Called(r.id, r.texts, r.images, response, error, r.cacheKey, fresh)
    def finish(p: Pending, response: Option[String], failure: Option[String]): Unit = {
      // reference error contract: "API request failed: …" to stderr,
      // record dropped, job continues (rb:178, spec/bin_job_spec.rb:117-137)
      val error = failure.map(e => s"API request failed: $e")
      p.takers.foreach { case (seq, r) =>
        open.remove(seq)
        emit(seq, r, response, error, fresh = seq == p.seq && response.isDefined)
      }
      val key = p.r.cacheKey
      if (key.nonEmpty) {
        byKey.remove(key)
        recent(key) = (response, error)
        if (recent.size > window) recent.remove(recent.head._1)
      }
    }
    /** a read record finishes at once on a cached or recent answer,
      * joins its key's open request, or sends its own */
    def admit(seq: Long, r: Prompted): Unit =
      (r.cached, byKey.get(r.cacheKey), recent.get(r.cacheKey)) match {
        case (Some(answer), _, _) => emit(seq, r, Some(answer), None, fresh = false)
        case (_, Some(p), _) =>
          p.takers += seq -> r
          open(seq) = p
        case (_, _, Some((response, error))) => emit(seq, r, response, error, fresh = false)
        case _ =>
          val p = new Pending(seq, r)
          open(seq) = p
          if (r.cacheKey.nonEmpty) byKey(r.cacheKey) = p
          send(p)
      }
    def handle(s: Signal): Unit = open.get(s.seq).filter(_.attempt == s.attempt) match {
      case None => // the wait bound already dead-lettered this record
      case Some(p) => s match {
        case RetryDue(_, _) => due.enqueue(p)
        case Answered(_, _, answer) =>
          onWire -= 1
          p.call = null
          answer match {
            case Success(text) => finish(p, Some(text), None)
            case Failure(e) if p.attempt < opts.maxRetries && retryable(e) =>
              val wait = backoffMs(p.attempt) // exp backoff, off the slot
              p.attempt += 1
              val retry = RetryDue(p.seq, p.attempt)
              timer.schedule(new Runnable { override def run(): Unit = signals.put(retry) },
                wait, TimeUnit.MILLISECONDS)
            case Failure(e) => finish(p, None, Some(e.getMessage))
          }
      }
    }
    def expire(): Unit = {
      val now = System.nanoTime()
      open.values.filter(p => now - p.deadlineNs >= 0).toList.distinct.foreach { p =>
        if (p.call != null) { p.call.cancel(true); onWire -= 1 }
        finish(p, None, Some(s"no answer within $boundMs ms"))
      }
    }
    def refill(): Unit = {
      while (onWire < slots && due.nonEmpty) {
        val p = due.dequeue()
        if (open.get(p.seq).contains(p)) send(p)
      }
      while (onWire < slots && read - emitted < window && it.hasNext) {
        admit(read, it.next())
        read += 1
      }
    }
    /** handle the signals that arrive within `waitNs`, then refill */
    def pump(waitNs: Long): Unit = {
      var s = if (waitNs > 0) signals.poll(waitNs, TimeUnit.NANOSECONDS) else signals.poll()
      while (s != null) { handle(s); s = signals.poll() }
      expire()
      refill()
    }

    new Iterator[Called] {
      override def hasNext: Boolean = {
        if (emitted == read) refill()
        val more = emitted < read
        if (!more) stop()
        more
      }
      override def next(): Called = {
        if (!hasNext) throw new NoSuchElementException("callPartition")
        pump(0)
        // the head is the earliest-read open record, so its deadline
        // is the next one due
        while (!done.contains(emitted)) pump(open(emitted).deadlineNs - System.nanoTime())
        val row = done.remove(emitted).get
        emitted += 1
        row
      }
    }
  }

  /** Retry only what can succeed on a retry: transport errors,
    * timeouts, 5xx, 408, 429 and malformed bodies. Any other 4xx is the
    * same answer on every attempt, and a fatal throwable (including the
    * InterruptedException the task-end `shutdownNow` delivers) is not a
    * backend failure, so both end the record at once instead of paying
    * for more calls.
    */
  private def retryable(e: Throwable): Boolean = e match {
    case h: HttpStatusException => h.status / 100 != 4 || h.status == 408 || h.status == 429
    case NonFatal(_) => true
    case _ => false
  }

  /** system message only when the rendered prompt is non-blank
    * (rb:142); images only when use_images AND the record has any
    * (rb:213).
    */
  private def buildMessages(r: Prompted, useImages: Boolean): Seq[Msg] = {
    val sys = r.sys.filter(_.trim.nonEmpty).map(Msg("system", _)).toSeq
    val imgs = if (useImages && r.images.nonEmpty) r.images else Nil
    sys :+ Msg("user", r.prompt, imgs)
  }
}
