package perfbench

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** What one request is made of, as far as the stub's answer and
  * schedule are concerned: the decoded chat content, not the JSON
  * bytes, so a change to body serialisation moves neither.
  */
final case class Content(model: String, system: String, user: String, images: Seq[Array[Byte]]) {

  /** length-prefixed so that no two different contents share a digest */
  lazy val digest: Array[Byte] = {
    val md = MessageDigest.getInstance("SHA-256")
    Seq(model, system, user).foreach { s =>
      val b = s.getBytes(UTF_8)
      md.update(s"${b.length}:".getBytes(UTF_8)); md.update(b)
    }
    md.update(s"${images.size}:".getBytes(UTF_8))
    images.foreach { b => md.update(s"${b.length}:".getBytes(UTF_8)); md.update(b) }
    md.digest()
  }

  lazy val hash: Long = java.nio.ByteBuffer.wrap(digest).getLong
}

/** How the stub treats every attempt at one request. */
sealed abstract class FaultClass(val name: String)
object FaultClass {
  case object Ok extends FaultClass("ok")
  /** 503 on the first attempt, then answers */
  case object Unavailable extends FaultClass("503_first")
  /** 429 with `Retry-After: 1` on the first attempt, then answers */
  case object RateLimited extends FaultClass("429_first")
  /** 200 with a truncated JSON body on the first attempt, then answers */
  case object Malformed extends FaultClass("malformed_first")
  /** 400 on every attempt: the record can never succeed */
  case object BadRequest extends FaultClass("400_always")
  val all: Seq[FaultClass] = Seq(Ok, Unavailable, RateLimited, Malformed, BadRequest)
}

final case class Reply(delayMs: Double, status: Int, malformed: Boolean)

/** The stub's schedule: a pure function of (seed, request hash, attempt).
  *
  * @param slowShare share of requests whose latency is `slowMs`; the
  *   rest take `fastMs`. Each value is jittered by up to ±10 %, also
  *   seeded.
  * @param faults share of requests in each fault class; the remainder
  *   is [[FaultClass.Ok]]
  */
final case class StubPolicy(
    seed: Long,
    fastMs: Double,
    slowMs: Double,
    slowShare: Double,
    faults: Seq[(FaultClass, Double)] = Nil) {

  private def unit(hash: Long, salt: Long): Double = {
    // splitmix64 finaliser over the mixed inputs
    var z = hash ^ (seed * 0x9E3779B97F4A7C15L) ^ (salt * 0xBF58476D1CE4E5B9L)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z >>> 11).toDouble / (1L << 53).toDouble
  }

  def isSlow(hash: Long): Boolean = unit(hash, 1) < slowShare

  def faultClass(hash: Long): FaultClass = {
    val u = unit(hash, 2)
    var acc = 0.0
    faults.collectFirst { case (c, share) if { acc += share; u < acc } => c }
      .getOrElse(FaultClass.Ok)
  }

  def reply(hash: Long, attempt: Int): Reply = {
    val base = if (isSlow(hash)) slowMs else fastMs
    val delay = base * (0.9 + 0.2 * unit(hash, 100L + attempt))
    import FaultClass._
    faultClass(hash) match {
      case Unavailable if attempt == 1 => Reply(delay, 503, malformed = false)
      case RateLimited if attempt == 1 => Reply(delay, 429, malformed = false)
      case Malformed if attempt == 1 => Reply(delay, 200, malformed = true)
      case BadRequest => Reply(delay, 400, malformed = false)
      case _ => Reply(delay, 200, malformed = false)
    }
  }
}

/** One request as the stub saw it. Times are `System.nanoTime`. */
final case class StubRecord(
    arrivalNs: Long, replyNs: Long, status: Int, faulted: Boolean, requestBytes: Int,
    hash: Long, attempt: Int, tag: Int) {
  def latencyMs: Double = (replyNs - arrivalNs) / 1e6
}

object Stub {
  val Model = "bench-model"

  /** The stub's raw answer: derived from the whole request content,
    * wrapped in a think block and whitespace that the engine must strip.
    */
  def answer(c: Content): String = {
    val h = c.digest.take(8).map("%02x".format(_)).mkString
    s"\n <think>\nweighing ${c.user.length} chars\n</think>\n\n" +
      s"summary-$h imgs=${c.images.size} bytes=${c.images.map(_.length).sum}\t \n"
  }

  /** What a correct engine stores under the output label for `c`. */
  def cleaned(c: Content): String = {
    val h = c.digest.take(8).map("%02x".format(_)).mkString
    s"summary-$h imgs=${c.images.size} bytes=${c.images.map(_.length).sum}"
  }

  private val DataUri = "data:image/jpeg;base64,"

  /** Decode the chat content of an OpenAI-style request body. */
  def parse(mapper: ObjectMapper, body: Array[Byte]): Content = {
    val root = mapper.readTree(body)
    var system = ""
    var user = ""
    var images = Vector.empty[Array[Byte]]
    root.path("messages").elements().asScala.foreach { m =>
      val c = m.path("content")
      m.path("role").asText() match {
        case "system" => system = c.asText()
        case "user" if c.isTextual => user = c.asText(); images = Vector.empty
        case "user" =>
          images = Vector.empty
          c.elements().asScala.foreach { part =>
            part.path("type").asText() match {
              case "text" => user = part.path("text").asText()
              case "image_url" =>
                val url = part.path("image_url").path("url").asText()
                require(url.startsWith(DataUri), s"not a jpeg data URI: ${url.take(40)}")
                images :+= java.util.Base64.getDecoder.decode(url.substring(DataUri.length))
              case other => throw new IllegalArgumentException(s"unknown content part $other")
            }
          }
        case _ =>
      }
    }
    Content(root.path("model").asText(), system, user, images)
  }
}

/** An OpenAI-compatible chat-completions server for the benchmark.
  *
  * Each reply is held back by a scheduler for the policy's delay, so no
  * thread sleeps per request. Threads: the server's dispatcher, the
  * handler pool and the scheduler together use at most `threads`.
  * Attempt numbers count how often a request's content has arrived
  * since the last [[reset]].
  */
final class StubServer(policy: StubPolicy, threads: Int) extends AutoCloseable {
  private val mapper = new ObjectMapper()
  private val attempts = new ConcurrentHashMap[Long, AtomicInteger]()
  private val log = new ConcurrentLinkedQueue[StubRecord]()
  private val answered = new AtomicLong()

  /** span id stamped on every request record; set by the harness */
  @volatile var tag: Int = 0
  /** when set, every 50th successful answer is altered by one character:
    * the output checks must then fail */
  @volatile var sabotage: Boolean = false

  private def daemon(name: String): ThreadFactory = {
    val n = new AtomicInteger()
    r => { val t = new Thread(r, s"$name-${n.incrementAndGet()}"); t.setDaemon(true); t }
  }
  private val handlers =
    Executors.newFixedThreadPool(math.max(1, threads - 2), daemon("stub-handler"))
  private val timer = Executors.newSingleThreadScheduledExecutor(daemon("stub-timer"))
  private val server = HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 512)
  server.createContext("/v1/chat/completions", ex => handle(ex))
  server.setExecutor(handlers)
  server.start()

  val endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}/v1"

  def reset(): Unit = { attempts.clear(); log.clear() }
  def records: Vector[StubRecord] = log.asScala.toVector

  private def handle(ex: HttpExchange): Unit = {
    val arrival = System.nanoTime()
    val tagNow = tag
    val body = ex.getRequestBody.readAllBytes()
    val parsed =
      try Right(Stub.parse(mapper, body))
      catch { case e: Exception => Left(e.getMessage) }
    parsed match {
      case Left(msg) =>
        send(ex, 400, s"""{"error":{"message":"bad request"}}""", Nil)
        log.add(StubRecord(arrival, System.nanoTime(), 400, faulted = true, body.length, 0L, 0, tagNow))
        System.err.println(s"[stub] unparsable request: $msg")
      case Right(c) =>
        val attempt = attempts.computeIfAbsent(c.hash, _ => new AtomicInteger()).incrementAndGet()
        val r = policy.reply(c.hash, attempt)
        val text = r.status match {
          case 200 if r.malformed => """{"choices":[{"message":{"content":"trunc"""
          case 200 =>
            val a = Stub.answer(c)
            val n = answered.incrementAndGet()
            val out = if (sabotage && n % 50 == 0) a.replace("summary-", "summary+") else a
            mapper.writeValueAsString(java.util.Map.of(
              "object", "chat.completion",
              "choices", java.util.List.of(java.util.Map.of(
                "index", 0,
                "message", java.util.Map.of("role", "assistant", "content", out),
                "finish_reason", "stop"))))
          case s => s"""{"error":{"message":"stub status $s"}}"""
        }
        val headers = if (r.status == 429) Seq("Retry-After" -> "1") else Nil
        val delayNs = (r.delayMs * 1e6).toLong - (System.nanoTime() - arrival)
        timer.schedule((() => {
          send(ex, r.status, text, headers)
          log.add(StubRecord(arrival, System.nanoTime(), r.status, r.status != 200 || r.malformed,
            body.length, c.hash, attempt, tagNow))
        }): Runnable, math.max(0L, delayNs), TimeUnit.NANOSECONDS)
    }
  }

  private def send(ex: HttpExchange, status: Int, text: String, headers: Seq[(String, String)]): Unit =
    try {
      val bytes = text.getBytes(UTF_8)
      ex.getResponseHeaders.add("Content-Type", "application/json")
      headers.foreach { case (k, v) => ex.getResponseHeaders.add(k, v) }
      ex.sendResponseHeaders(status, bytes.length.toLong)
      val os = ex.getResponseBody
      os.write(bytes); os.close()
    } catch { case e: java.io.IOException =>
      System.err.println(s"[stub] reply failed: ${e.getMessage}")
    } finally ex.close()

  override def close(): Unit = {
    server.stop(0)
    timer.shutdownNow(); handlers.shutdownNow()
    timer.awaitTermination(10, TimeUnit.SECONDS)
    handlers.awaitTermination(10, TimeUnit.SECONDS)
  }
}
