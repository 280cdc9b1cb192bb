package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.core.JobConfig
import graft.llm.{Msg, OpenAiClient}

class StubSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
  private val http = HttpClient.newHttpClient()
  private def cfg(endpoint: String, images: Boolean = false) =
    JobConfig("t", "tpl", JobConfig.normalizeEndpoint(endpoint), Stub.Model, "out", None, Map.empty, images, None)

  private def post(stub: StubServer, body: String): HttpResponse[String] =
    http.send(HttpRequest.newBuilder().uri(URI.create(s"${stub.endpoint}/chat/completions"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(), HttpResponse.BodyHandlers.ofString())

  test("fault schedule is a pure function of (seed, hash, attempt)") {
    import FaultClass._
    val p = StubPolicy(7, fastMs = 1, slowMs = 1, slowShare = 0,
      faults = Seq(Unavailable -> 0.2, RateLimited -> 0.2, Malformed -> 0.2, BadRequest -> 0.2))
    val byClass = (1L to 2000L).groupBy(p.faultClass)
    assert(byClass.keySet == FaultClass.all.toSet)
    byClass.values.foreach(hs => assert(math.abs(hs.size - 400) < 80))
    def statuses(h: Long) = (1 to 3).map(a => p.reply(h, a)).map(r => (r.status, r.malformed))
    assert(statuses(byClass(Ok).head) == Seq.fill(3)((200, false)))
    assert(statuses(byClass(Unavailable).head) == Seq((503, false), (200, false), (200, false)))
    assert(statuses(byClass(RateLimited).head) == Seq((429, false), (200, false), (200, false)))
    assert(statuses(byClass(Malformed).head) == Seq((200, true), (200, false), (200, false)))
    assert(statuses(byClass(BadRequest).head) == Seq.fill(3)((400, false)))
    // same inputs, same schedule; another seed, another one
    assert(StubPolicy(7, 1, 1, 0, p.faults).faultClass(42L) == p.faultClass(42L))
    assert((1L to 200L).exists(h => StubPolicy(8, 1, 1, 0, p.faults).faultClass(h) != p.faultClass(h)))
  }

  test("latency tail: the slow share and the delays follow the policy") {
    val p = StubPolicy(3, fastMs = 20, slowMs = 200, slowShare = 0.1)
    val slow = (1L to 5000L).count(p.isSlow)
    assert(math.abs(slow - 500) < 80)
    (1L to 100L).foreach { h =>
      val d = p.reply(h, 1).delayMs
      if (p.isSlow(h)) assert(d >= 180 && d <= 220) else assert(d >= 18 && d <= 22)
    }
  }

  test("answers derive from the whole request, decoded images included") {
    val stub = new StubServer(StubPolicy(1, 1, 1, 0), threads = 4)
    try {
      val img = java.util.Base64.getEncoder.encodeToString(Array[Byte](1, 2, 3, 4))
      val msgs = Seq(Msg("system", "sys"), Msg("user", "hello", Seq(img)))
      val r = post(stub, OpenAiClient.requestBody(msgs, cfg(stub.endpoint, images = true)))
      assert(r.statusCode() == 200)
      val content = mapper.readTree(r.body()).path("choices").path(0).path("message").path("content").asText()
      val expect = Content(Stub.Model, "sys", "hello", Seq(Array[Byte](1, 2, 3, 4)))
      assert(content == Stub.answer(expect))
      assert(Stub.cleaned(expect).endsWith("imgs=1 bytes=4"))
      assert(content.contains("<think>") && content.trim.endsWith(Stub.cleaned(expect)))
      // a different image byte changes the answer
      val other = Content(Stub.Model, "sys", "hello", Seq(Array[Byte](1, 2, 3, 5)))
      assert(Stub.cleaned(other) != Stub.cleaned(expect))
      // the engine's client parses what the stub sends
      assert(new OpenAiClient().chat(Seq(Msg("user", "x")), cfg(stub.endpoint)) ==
        Stub.answer(Content(Stub.Model, "", "x", Nil)))
    } finally stub.close()
  }

  test("attempts count per content; faults follow them over HTTP") {
    val p = StubPolicy(5, 1, 1, 0, faults = Seq(FaultClass.Unavailable -> 1.0))
    val stub = new StubServer(p, threads = 4)
    try {
      val body = OpenAiClient.requestBody(Seq(Msg("user", "retry me")), cfg(stub.endpoint))
      assert(post(stub, body).statusCode() == 503)
      assert(post(stub, body).statusCode() == 200)
      stub.reset()
      assert(post(stub, body).statusCode() == 503)
      assert(stub.records.map(r => (r.status, r.attempt, r.faulted)) == Seq((503, 1, true)))
    } finally stub.close()
  }

  test("delays are held by the scheduler: concurrent requests overlap") {
    val stub = new StubServer(StubPolicy(1, fastMs = 100, slowMs = 100, slowShare = 0), threads = 4)
    val pool = Executors.newFixedThreadPool(16)
    try {
      val t0 = System.nanoTime()
      val fs = (1 to 16).map { i =>
        pool.submit(new Callable[Int] {
          def call(): Int = post(stub, OpenAiClient.requestBody(Seq(Msg("user", s"q$i")), cfg(stub.endpoint))).statusCode()
        })
      }
      assert(fs.map(_.get(10, TimeUnit.SECONDS)).forall(_ == 200))
      val wallMs = (System.nanoTime() - t0) / 1e6
      // sixteen 100 ms replies in about one delay, not sixteen
      assert(wallMs < 800, s"took $wallMs ms")
      assert(stub.records.size == 16 && stub.records.forall(r => r.latencyMs >= 85))
    } finally { pool.shutdownNow(); stub.close() }
  }
}
