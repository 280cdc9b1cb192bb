package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.core.JobConfig
import graft.io.Jsonl
import graft.llm.{FakeLlmClient, LlmClient, OpenAiClient}
import graft.pipeline.{EnrichJob, EnrichOptions}

/** CLI driver (SURVEY.md R15) — the reference's
  * `bin/job.rb job.yml < in.jsonl > out.jsonl` re-expressed for a
  * distributed engine:
  *
  *   Main job.yml [--in in.jsonl] [--out outDir] [--err errDir] [--fake]
  *
  * Drop-in parity with the reference's only documented invocation
  * (bin/job.rb:18-24, README.md:35): with no `--in` the corpus is read
  * from STDIN, with no `--out` the result JSONL streams to STDOUT —
  * `graft.Main job.yml < in.jsonl > out.jsonl` just works.
  *
  * Exit-code contract matches the reference (bin/job.rb:6-24,
  * spec/bin_job_spec.rb:42-54): bad usage → 1, missing YAML → 1,
  * init/validation error → 1; per-record failures NEVER fail the job
  * (they land in errDir).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val exit = run(args)
    if (exit != 0) sys.exit(exit)
  }

  def run(args: Array[String]): Int = {
    if (args.isEmpty) { System.err.println(usage); return 1 }
    val yamlPath = args(0)
    val flags = parseFlags(args.drop(1))
    val in = flags.get("in")
    val out = flags.get("out")
    if (!Files.exists(Paths.get(yamlPath))) {
      System.err.println(s"Job definition file not found: $yamlPath"); return 1
    }
    val cfg =
      try JobConfig.load(yamlPath)
      catch { case e: Throwable =>
        System.err.println(s"Error initializing job: ${e.getMessage}"); return 1
      }

    // if a session already exists (tests, an embedding program), reuse it
    // untouched — a builder's getOrCreate would overwrite its settings —
    // and leave its lifecycle alone
    val reused = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = reused.getOrElse(GraftSession(s"graft-${cfg.id}",
      sys.env.getOrElse("SPARK_MASTER", "local[*]"), sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")))
    try {
      val client: LlmClient =
        if (flags.contains("fake")) new FakeLlmClient() else new OpenAiClient()
      // no --in → STDIN parity mode, for LOCAL masters: the stream is
      // slurped to a driver temp file, which executors can read only
      // when they share the driver's filesystem (local[*] / single
      // node — the mode a drop-in `job.yml < in.jsonl` user is in).
      // On a real cluster, pass --in with a shared path instead.
      // parity-mode temp paths are cleaned in the finally below —
      // deleteOnExit cannot remove non-empty directories, and an
      // embedded caller (MainSpec, a long-lived driver) would leak
      // disk per invocation
      var stdinTmp: Option[java.nio.file.Path] = None
      var stdoutTmp: Option[java.nio.file.Path] = None
      try {
        val inPath = in.getOrElse {
          val tmp = Files.createTempFile("graft-stdin-", ".jsonl")
          stdinTmp = Some(tmp)
          Files.copy(System.in, tmp,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          tmp.toString
        }
        val outDir = out.getOrElse {
          val d = Files.createTempDirectory("graft-stdout-")
          stdoutTmp = Some(d)
          d.resolve("result").toString
        }
        // split by bytes so the call stage spreads over every core
        val split = Jsonl.read(spark, inPath, spark.sparkContext.defaultParallelism)
        val result = EnrichJob.run(split.good, cfg, client, EnrichOptions())
        Jsonl.write(result.good, outDir)
        // no --out → stream the part files to STDOUT, reference-shaped:
        // one JSON object per line, in input order (the byte split has
        // no shuffle, and part files are numbered by partition)
        if (out.isEmpty) {
          import scala.jdk.CollectionConverters._
          val listing = Files.list(Paths.get(outDir))
          val parts =
            try listing.iterator().asScala.toSeq
              .filter(_.getFileName.toString.startsWith("part-"))
              .sortBy(_.getFileName.toString)
            finally listing.close()
          parts.foreach { p =>
            val s = Files.lines(p)
            try s.forEach(l => System.out.println(l)) finally s.close()
          }
        }
        flags.get("err").foreach { errDir =>
          split.corrupt.write.mode("overwrite").text(s"$errDir/corrupt")
          result.deadLetter.write.mode("overwrite").json(s"$errDir/failed")
        }
        0
      } finally {
        stdinTmp.foreach(p => Files.deleteIfExists(p))
        stdoutTmp.foreach(deleteRecursively)
      }
    } finally { if (reused.isEmpty) GraftSession.stop(spark) }
  }

  private def deleteRecursively(root: java.nio.file.Path): Unit =
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try
        walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }

  private def parseFlags(rest: Array[String]): Map[String, String] = {
    val m = Map.newBuilder[String, String]
    var i = 0
    while (i < rest.length) {
      rest(i) match {
        case "--fake" => m += ("fake" -> "true"); i += 1
        case f if f.startsWith("--") && i + 1 < rest.length =>
          m += (f.drop(2) -> rest(i + 1)); i += 2
        case _ => i += 1
      }
    }
    m.result()
  }

  private val usage =
    "Usage: graft.Main <job.yml> [--in <input.jsonl>] [--out <outDir>] " +
      "[--err <errDir>] [--fake]  (no --in: read STDIN; no --out: JSONL to STDOUT)"
}
