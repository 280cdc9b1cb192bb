package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.{Base64, SplittableRandom}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** One JSONL record as the reference defines it; `images` are base64. */
final case class Rec(id: String, texts: Map[String, String], images: Seq[String])

/** A generated corpus and what a correct engine must make of it. */
final case class Corpus(records: Vector[Rec], useImages: Boolean) {
  def content(r: Rec): Content = Corpus.content(r, useImages)
}

/** Seeded corpora built from the sf `documents` table, plus the job
  * files and the JSONL reading and writing the harness does itself
  * (never through the engine, so the checks stay independent of it).
  */
object Corpus {
  val OutputLabel = "summary"
  val SystemPrompt = "You are a terse assistant. Reply with one line."
  val UserTemplate: String =
    "Summarize the document below in one sentence.\nSource: <%= texts['source'] %>\n\n" +
      "<%= texts[:content] %>\n\nImages attached: <%= images.length %>\n"

  /** the harness's own rendering of [[UserTemplate]] */
  def userPrompt(r: Rec): String =
    "Summarize the document below in one sentence.\nSource: " + r.texts.getOrElse("source", "") +
      "\n\n" + r.texts.getOrElse("content", "") + "\n\nImages attached: " + r.images.size + "\n"

  def content(r: Rec, useImages: Boolean): Content =
    Content(Stub.Model, SystemPrompt, userPrompt(r),
      if (useImages) r.images.map(s => Base64.getDecoder.decode(s)) else Nil)

  final case class Doc(id: Long, text: String, source: String)

  def documents(spark: SparkSession, sfDir: String): Vector[Doc] =
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "source").collect().toVector
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => Doc(r.getLong(0), r.getString(1), Option(r.getString(2)).getOrElse("")))
      .sortBy(_.id)

  def shuffled[A](xs: Seq[A], rng: SplittableRandom): Vector[A] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector.asInstanceOf[Vector[A]]
  }

  /** Draws records from `docs` in order until every class has exactly
    * its quota, so a workload's mix is the same share for every seed.
    * Texts already in `used` are skipped, so every record drawn here
    * has a distinct content.
    */
  def stratified[C](
      docs: Iterator[Doc], quotas: Map[C, Int], used: mutable.Set[String])(
      make: Doc => Rec)(classOf: Rec => C): Vector[Rec] = {
    val left = mutable.Map(quotas.toSeq: _*)
    val out = Vector.newBuilder[Rec]
    while (left.values.exists(_ > 0)) {
      require(docs.hasNext, s"documents exhausted before quotas were met: $left")
      val d = docs.next()
      if (!used(d.text)) {
        val r = make(d)
        val c = classOf(r)
        if (left.getOrElse(c, 0) > 0) { left(c) -= 1; used += d.text; out += r }
      }
    }
    out.result()
  }

  /** Places the records `special` picks at an even stride from a seeded
    * offset, the others in their order. Against the engine's in-order
    * request window, where a slow or retried request sits decides how
    * much it stalls the others; a fixed stride makes that the same for
    * every seed.
    */
  def spread(recs: Vector[Rec], special: Rec => Boolean, rng: SplittableRandom): Vector[Rec] = {
    val (sp, rest) = recs.partition(special)
    if (sp.isEmpty) recs
    else {
      val stride = recs.size / sp.size
      val offset = rng.nextInt(stride)
      val spIt = sp.iterator
      val restIt = rest.iterator
      recs.indices.map(i => if (i % stride == offset && spIt.hasNext) spIt.next() else restIt.next()).toVector
    }
  }

  def quotas[C](n: Int, shares: Seq[(C, Double)], rest: C): Map[C, Int] = {
    val fixed = shares.map { case (c, s) => c -> math.round(n * s).toInt }
    (fixed :+ (rest -> (n - fixed.map(_._2).sum))).toMap
  }

  // ---- files -------------------------------------------------------

  private val mapper = new ObjectMapper()

  /** one JSONL line; text-only records carry no `images` key, as the
    * reference's own examples do */
  def jsonLine(r: Rec): String = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("id", r.id)
    m.put("texts", new java.util.LinkedHashMap[String, String](r.texts.asJava))
    if (r.images.nonEmpty) m.put("images", r.images.asJava)
    mapper.writeValueAsString(m)
  }

  def writeJsonl(path: Path, recs: Seq[Rec]): Unit =
    Files.write(path, recs.map(jsonLine).asJava, UTF_8)

  private def partLines(dir: Path): Seq[String] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val ls = Files.list(dir)
      val parts = try ls.iterator().asScala.toVector finally ls.close()
      parts.filter(_.getFileName.toString.startsWith("part-")).sortBy(_.toString)
        .flatMap(p => Files.readAllLines(p, UTF_8).asScala).filter(_.trim.nonEmpty)
    }

  /** the records of a Spark text/JSONL output directory */
  def readRecords(dir: Path): Seq[Rec] = partLines(dir).map { l =>
    val n = mapper.readTree(l)
    val texts = n.path("texts").fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    Rec(n.path("id").asText(), texts, n.path("images").elements().asScala.map(_.asText()).toVector)
  }

  /** the ids of a dead-letter directory written as JSON */
  def readDeadIds(dir: Path): Seq[String] = partLines(dir).map(l => mapper.readTree(l).path("id").asText())

  /** job.yml in the reference's Ruby-symbol key style, with its templates */
  def writeJob(dir: Path, endpoint: String, useImages: Boolean): Path = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("user.erb"), UserTemplate)
    Files.writeString(dir.resolve("system.erb"), SystemPrompt)
    val yml = dir.resolve("job.yml")
    Files.writeString(yml,
      s""":id: bench-enrich
         |:erb_filepath: user.erb
         |:system_erb_filepath: system.erb
         |:backend_endpoint: $endpoint
         |:model: ${Stub.Model}
         |:params:
         |  :temperature: 0.3
         |  :max_tokens: 200
         |:use_images: $useImages
         |:output_label: $OutputLabel
         |""".stripMargin)
    yml
  }

  /** 1 to 2 small random payloads, base64-encoded */
  def images(rng: SplittableRandom): Vector[String] =
    Vector.fill(1 + rng.nextInt(2)) {
      val b = new Array[Byte](256 + rng.nextInt(768))
      rng.nextBytes(b)
      Base64.getEncoder.encodeToString(b)
    }
}
