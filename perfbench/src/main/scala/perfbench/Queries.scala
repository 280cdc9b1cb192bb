package perfbench


import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** Row count and an order-independent hash of a query's result. Every
  * column is rendered canonically (floats to 6 significant digits, maps
  * as sorted entries, binary as hex), each row is hashed, and the
  * hashes are summed, so the result does not depend on row order.
  */
object Fingerprint {
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.6g", c)
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(canon(e.getField("key"), kt).as("key"), canon(e.getField("value"), vt).as("value"))))
    case st: StructType => struct(st.fields.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case BinaryType => hex(c)
    case _ => c
  }

  def of(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.sortBy(_.name).map { f =>
      canon(col("`" + f.name.replace("`", "``") + "`"), f.dataType).as(f.name)
    }
    val h = xxhash64(to_json(struct(cols: _*)))
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h"))).head()
    s"${r.getLong(0)}:${r.get(1)}:${r.get(2)}"
  }
}

/** One listed query and the catalog it belongs to. */
final case class ListedQuery(name: String, catalog: String)

/** The `queries` layer, probed in traced runs after the timed region: a
  * fixed list of registered queries at sf0.1 covering all eight
  * catalogs (`queries.json`), each run once, cold, with the fingerprint
  * aggregation as its sink, under the Spark listeners. Every result is
  * checked against the fingerprint stored in `fingerprints.json`.
  */
final class QueryProbe(ctx: Ctx) {
  private val a = ctx.args
  private val mapper = new ObjectMapper()
  val listed: Seq[ListedQuery] =
    mapper.readTree(a.benchDir.resolve("queries.json").toFile).path("queries").elements().asScala
      .map(n => ListedQuery(n.path("name").asText(), n.path("catalog").asText())).toSeq
  private val stored: Map[String, String] = {
    val root = mapper.readTree(a.benchDir.resolve("fingerprints.json").toFile)
    val m = root.fields().asScala.map(e => e.getKey -> e.getValue.path("fingerprint").asText()).toMap
    if (a.sabotage.contains("fingerprint")) m.updated(listed.head.name, "0:0:0") else m
  }
  val failures = mutable.Buffer.empty[String]

  def run(): Map[String, Double] = {
    val t = ctx.tracer
    val spark = ctx.spark
    ctx.listen(true)
    val perQuery = listed.map { q =>
      val id = t.nextId()
      val t0 = System.nanoTime()
      try ctx.jobGroup(id, q.name) {
        val fp = Fingerprint.of(SparkEntry.queries(q.name)(spark, a.sfDir))
        if (!stored.get(q.name).contains(fp))
          failures += s"${q.name}: fingerprint $fp != stored ${stored.getOrElse(q.name, "(none)")}"
      } catch { case e: Exception => failures += s"${q.name} failed: ${e.getMessage}" }
      val span = Span(id, 0, "queries", q.name, t.msOf(t0), t.msOf(System.nanoTime()))
      t.add(span)
      ctx.drain()
      SparkTotals.spans(ctx.probe, t, span).foreach(t.add)
      (q, span.durMs / 1e3, SparkTotals.of(ctx.probe, span.startMs, span.endMs))
    }
    ctx.listen(false)
    val byCatalog = perQuery.groupBy(_._1.catalog).flatMap { case (c, qs) =>
      Map(
        s"queries.${c}_s" -> qs.map(_._2).sum,
        s"spark.$c.task_run_s" -> qs.map(_._3.taskRunS).sum,
        s"spark.$c.shuffle_write_mb" -> qs.map(_._3.shuffleWriteMb).sum,
        s"spark.$c.exchanges" -> qs.map(_._3.exchanges.toDouble).sum)
    }
    perQuery.map { case (q, s, _) => s"query.${q.name}_s" -> s }.toMap ++ byCatalog
  }
}

/** Computes the fingerprints of every listed query twice (a query whose
  * two fingerprints differ is reported and not stored) and dumps each
  * result as parquet beside the engine's oracle SQL, for
  * perfbench/fingerprints.py to compare against DuckDB.
  *
  * Arguments: sfDir benchDir dumpDir cpus
  */
object FingerprintTool {
  def main(argv: Array[String]): Unit = {
    val Array(sfDir, benchDir, dumpDir, cpus) = argv
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val mapper = new ObjectMapper()
    val root = mapper.readTree(new java.io.File(s"$benchDir/queries.json"))
    val names = root.path("queries").elements().asScala.map(_.path("name").asText()).toSeq
    val oracle = SparkEntry.oracleSql
    val out = new java.util.TreeMap[String, Any]()
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val fp = Fingerprint.of(df)
      val again = Fingerprint.of(SparkEntry.queries(n)(spark, sfDir))
      if (fp != again) System.err.println(s"[fingerprint] $n is not deterministic: $fp vs $again")
      else {
        val m = new java.util.LinkedHashMap[String, Any]()
        m.put("fingerprint", fp)
        oracle.get(n).foreach { sql =>
          df.write.mode("overwrite").parquet(s"$dumpDir/$n")
          m.put("oracle_sql", sql)
        }
        out.put(n, m)
        System.err.println(s"[fingerprint] $n $fp")
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dumpDir/fingerprints.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(out))
    spark.stop()
  }
}
