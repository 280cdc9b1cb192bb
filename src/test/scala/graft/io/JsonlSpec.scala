package graft.io

import java.nio.file.Files

import graft.SparkSpec

class JsonlSpec extends SparkSpec {
  import spark.implicits._

  test("read with minPartitions splits a one-file input by bytes, in input order") {
    val d = Files.createTempDirectory("graft-jsonl")
    val ids = (1 to 200).map(i => f"r$i%03d")
    val path = d.resolve("in.jsonl").toString
    Files.writeString(d.resolve("in.jsonl"), ids.map(i =>
      s"""{"id": "$i", "texts": {"content": "text of $i"}}""").mkString("", "\n", "\n"))
    assert(Jsonl.read(spark, path).good.rdd.getNumPartitions == 1)
    val want = math.min(spark.sparkContext.defaultParallelism, ids.size)
    assert(want > 1)
    val good = Jsonl.read(spark, path, want).good
    assert(good.rdd.getNumPartitions == want)
    // partition order is byte order: partition i holds the i-th run of lines
    val byPartition = good.select("id").as[String].rdd
      .mapPartitionsWithIndex((p, it) => it.map(p -> _)).collect().toSeq
    assert(byPartition.map(_._2) == ids)
    assert(byPartition.map(_._1).distinct.size == want)
  }
}
