package graft.llm

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import graft.core.{JobConfig, ResponseFormat}

/** OpenAI-compatible chat-completions client over java.net.http
  * (JDK 17 built-in — zero extra deps, HTTP/1.1+2, connection reuse).
  *
  * Request shape mirrors the reference exactly
  * (lib/job_processor.rb:137-236):
  *   {model, messages, <params merged>, response_format?}
  * with multimodal content-parts when a message carries images, and
  * response_format priority inline > file > simple already decided at
  * JobConfig load time.
  *
  * Serializable: one instance per executor closure; the HttpClient is
  * @transient lazy so each task JVM builds its own pooled client —
  * never a client per record (SURVEY.md R7 mandate).
  */
final class OpenAiClient(
    apiKey: String = sys.env.getOrElse("OPENAI_API_KEY", "dummy-key"))
    extends LlmClient {

  @transient private lazy val http: HttpClient =
    HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(20)).build()

  @transient private lazy val mapper = new ObjectMapper()

  override def chat(messages: Seq[Msg], cfg: JobConfig): String = {
    val body = OpenAiClient.requestBody(messages, cfg)
    val req = HttpRequest.newBuilder()
      // reference strips a trailing /v1 because its client re-adds it
      // (lib/job_processor.rb:59); we call the full path explicitly
      .uri(URI.create(s"${cfg.backendEndpoint}/v1/chat/completions"))
      .timeout(Duration.ofSeconds(cfg.requestTimeoutSec.toLong))
      .header("Content-Type", "application/json")
      .header("Authorization", s"Bearer $apiKey")
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() / 100 != 2)
      throw new HttpStatusException(resp.statusCode(),
        s"HTTP ${resp.statusCode()}: ${resp.body().take(500)}")
    // choices[0].message.content, default "" (lib/job_processor.rb:173)
    val root = mapper.readTree(resp.body())
    root.path("choices").path(0).path("message").path("content").asText("")
  }
}

/** A non-2xx answer; `status` lets the retry policy tell the codes
  * that can succeed on a retry from those that cannot. */
final class HttpStatusException(val status: Int, message: String)
    extends RuntimeException(message)

object OpenAiClient {
  private val mapper = new ObjectMapper()

  /** Build the JSON request body — pure function, unit-testable without
    * a server. Separated from transport for exactly that reason (the
    * reference tests this via a mocked client).
    */
  def requestBody(messages: Seq[Msg], cfg: JobConfig): String = {
    val root = mapper.createObjectNode()
    root.put("model", cfg.model)
    val msgs = root.putArray("messages")
    messages.foreach(m => renderMsg(msgs, m))
    // arbitrary params merged verbatim (lib/job_processor.rb:162-164)
    cfg.params.foreach { case (k, v) => root.set[ObjectNode](k, mapper.valueToTree(v)) }
    cfg.responseFormat.foreach {
      case ResponseFormat.JsonMode =>
        root.putObject("response_format").put("type", "json_object")
      case ResponseFormat.JsonSchema(schema) =>
        val rf = root.putObject("response_format")
        rf.put("type", "json_object")
        rf.set[ObjectNode]("schema", mapper.valueToTree(schema))
    }
    mapper.writeValueAsString(root)
  }

  private def renderMsg(into: ArrayNode, m: Msg): Unit = {
    val node = into.addObject()
    node.put("role", m.role)
    if (m.images.isEmpty) { node.put("content", m.text); () }
    else {
      // multimodal content parts (lib/job_processor.rb:214-233)
      val parts = node.putArray("content")
      val t = parts.addObject()
      t.put("type", "text")
      t.put("text", m.text)
      m.images.foreach { b64 =>
        val p = parts.addObject()
        p.put("type", "image_url")
        p.putObject("image_url").put("url", s"data:image/jpeg;base64,$b64")
        ()
      }
      ()
    }
  }
}
