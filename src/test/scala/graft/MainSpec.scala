package graft

import java.nio.file.{Files, Path}

/** CLI exit-code contract (reference bin/job.rb:6-24,
  * spec/bin_job_spec.rb:42-54): bad usage → 1, missing YAML → 1,
  * init error → 1, happy path (fake backend) → 0 with JSONL output.
  */
class MainSpec extends SparkSpec {

  private def setup(): Path = {
    val d = Files.createTempDirectory("graft-main")
    Files.writeString(d.resolve("prompt.erb"), "sum: <%= texts[:content] %>")
    Files.writeString(d.resolve("job.yml"),
      s""":id: cli-test
         |:erb_filepath: prompt.erb
         |:backend_endpoint: http://localhost:9/v1
         |:model: m
         |:output_label: summary""".stripMargin)
    Files.writeString(d.resolve("in.jsonl"),
      """{"id": "1", "texts": {"content": "alpha"}}
        |bad json line
        |{"id": "2", "texts": {"content": "beta"}}
        |""".stripMargin)
    d
  }

  test("no args → usage, exit 1") { assert(Main.run(Array.empty) == 1) }

  test("reference parity: job.yml alone reads STDIN, writes JSONL to STDOUT") {
    spark // ensure the shared session exists so Main reuses it
    val d = setup()
    val oldIn = System.in
    val oldOut = System.out
    val bout = new java.io.ByteArrayOutputStream()
    val code =
      try {
        System.setIn(new java.io.ByteArrayInputStream(
          Files.readAllBytes(d.resolve("in.jsonl"))))
        System.setOut(new java.io.PrintStream(bout, true, "UTF-8"))
        Main.run(Array(d.resolve("job.yml").toString, "--fake"))
      } finally { System.setIn(oldIn); System.setOut(oldOut) }
    assert(code == 0)
    val lines = bout.toString("UTF-8").split("\n").filter(_.nonEmpty)
    assert(lines.length == 2) // corrupt line dropped, job still exit 0
    assert(lines.forall(l => l.startsWith("{") && l.endsWith("}")))
    assert(lines.forall(_.contains(""""summary":"FAKE[""")))
  }

  test("stdout mode lists a multi-partition input's ids in input order") {
    spark // ensure the shared session exists so Main reuses it
    val d = setup()
    val ids = (1 to 200).map(i => f"r$i%03d")
    val in = ids.map(i => s"""{"id": "$i", "texts": {"content": "c$i"}}""")
      .mkString("", "\n", "\n")
    val oldIn = System.in
    val oldOut = System.out
    val bout = new java.io.ByteArrayOutputStream()
    val code =
      try {
        System.setIn(new java.io.ByteArrayInputStream(in.getBytes("UTF-8")))
        System.setOut(new java.io.PrintStream(bout, true, "UTF-8"))
        Main.run(Array(d.resolve("job.yml").toString, "--fake"))
      } finally { System.setIn(oldIn); System.setOut(oldOut) }
    assert(code == 0)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val got = bout.toString("UTF-8").split("\n").filter(_.nonEmpty)
      .map(l => mapper.readTree(l).path("id").asText()).toSeq
    assert(got == ids)
  }

  test("missing YAML file → exit 1") {
    assert(Main.run(Array("/nope/job.yml", "--in", "x", "--out", "y")) == 1)
  }

  test("invalid config (missing keys) → exit 1") {
    val d = setup()
    Files.writeString(d.resolve("bad.yml"), ":id: x")
    assert(Main.run(Array(d.resolve("bad.yml").toString,
      "--in", "x", "--out", "y")) == 1)
  }

  test("happy path with --fake: exit 0, corrupt line dead-lettered") {
    spark // ensure the shared session exists so Main reuses it
    val d = setup()
    val out = d.resolve("out").toString
    val err = d.resolve("err").toString
    val code = Main.run(Array(d.resolve("job.yml").toString,
      "--in", d.resolve("in.jsonl").toString,
      "--out", out, "--err", err, "--fake"))
    assert(code == 0)
    import spark.implicits._
    val lines = spark.read.text(out).as[String].collect()
    assert(lines.length == 2)
    assert(lines.forall(_.contains(""""summary":"FAKE[""")))
    assert(spark.read.text(s"$err/corrupt").count() == 1)
  }

  test("--err over a real HTTP backend: one request per record, a 400 " +
    "is dead-lettered and the rest reach the output") {
    spark // ensure the shared session exists so Main reuses it
    val requests = new java.util.concurrent.atomic.AtomicInteger(0)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(java.net.InetAddress.getLoopbackAddress, 0), 0)
    server.createContext("/v1/chat/completions", ex => {
      requests.incrementAndGet()
      val msgs = mapper.readTree(ex.getRequestBody.readAllBytes()).path("messages")
      val id = msgs.get(msgs.size() - 1).path("content").asText()
      val (status, body) =
        if (id == "3") (400, """{"error":{"message":"bad request"}}""")
        else (200, s"""{"choices":[{"message":{"role":"assistant","content":"S$id"}}]}""")
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(status, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    try {
      val d = Files.createTempDirectory("graft-main-http")
      Files.writeString(d.resolve("prompt.erb"), "<%= id %>")
      Files.writeString(d.resolve("job.yml"),
        s""":id: cli-http
           |:erb_filepath: prompt.erb
           |:backend_endpoint: http://127.0.0.1:${server.getAddress.getPort}/v1
           |:model: m
           |:output_label: summary""".stripMargin)
      val ids = (1 to 6).map(_.toString)
      Files.writeString(d.resolve("in.jsonl"), ids.map(i =>
        s"""{"id": "$i", "texts": {"content": "c$i"}}""").mkString("", "\n", "\n"))
      val out = d.resolve("out").toString
      val err = d.resolve("err").toString
      assert(Main.run(Array(d.resolve("job.yml").toString,
        "--in", d.resolve("in.jsonl").toString, "--out", out, "--err", err)) == 0)
      import spark.implicits._
      assert(requests.get() == ids.size)
      assert(spark.read.json(s"$err/failed").select("id").as[String].collect().toSeq == Seq("3"))
      assert(spark.read.json(out).select("id").as[String].collect().sorted.toSeq ==
        ids.filter(_ != "3"))
    } finally server.stop(0)
  }

  test("a reused session keeps its settings") {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    val d = setup()
    try {
      spark.conf.set(key, "7")
      assert(Main.run(Array(d.resolve("job.yml").toString,
        "--in", d.resolve("in.jsonl").toString,
        "--out", d.resolve("out").toString, "--fake")) == 0)
      assert(spark.conf.get(key) == "7")
    } finally spark.conf.set(key, old)
  }
}
