package graft

/** Guards on the driver contract itself — failures here would surface
  * as confusing driver-side gaps, not test failures, without this
  * suite.
  */
class EntryContractSpec extends SparkSpec {

  test("query names are unique across catalogs (Map merge must drop nothing)") {
    val perCatalog = SparkEntry.catalogs.map(_.queries.keySet)
    val merged = perCatalog.reduce(_ ++ _)
    assert(perCatalog.map(_.size).sum == merged.size,
      s"duplicate query keys: ${perCatalog.flatMap(_.toSeq).groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }}")
  }

  test("every oracle key has a registered query, and names follow qNN_") {
    val qs = SparkEntry.queries.keySet
    val oracled = SparkEntry.oracleSql.keySet
    assert(oracled.subsetOf(qs), s"orphan oracles: ${oracled.diff(qs)}")
    assert(qs.forall(_.matches("q\\d+_[a-z0-9_]+")), qs.filterNot(_.matches("q\\d+_[a-z0-9_]+")))
  }

  test("entry() (driver smoke query) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("GraftSession is the only place src/main builds a session") {
    import scala.jdk.CollectionConverters._
    // split so that a grep of src/ for the call finds only GraftSession
    val call = "SparkSession." + "builder("
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val builders =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .filter(p => java.nio.file.Files.readString(p).contains(call))
        .map(_.getFileName.toString).toSeq
      finally walk.close()
    assert(builders == Seq("GraftSession.scala"))
  }

  test("Tables.spread is the only place src/main reads the shuffle-partition count") {
    import scala.jdk.CollectionConverters._
    // split so that a grep of src/ for the read finds only Tables.scala
    val read = ".get(\"spark.sql." + "shuffle.partitions\")"
    val root = java.nio.file.Paths.get("src/main/scala")
    val walk = java.nio.file.Files.walk(root)
    val hits =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .filter(_ != root.resolve("graft/core/Tables.scala"))
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex
            .collect { case (l, i) if l.contains(read) => s"$p:${i + 1}" }
        }.toSeq.sorted
      finally walk.close()
    assert(hits.isEmpty,
      s"${hits.size} scan spreads spelled by hand; use Tables.spread:\n${hits.mkString("\n")}")
  }

  test("DirSwap is the only place src/main swaps or restores a rewritten directory") {
    import scala.jdk.CollectionConverters._
    // split so that a grep of src/ for the call does not hit this spec
    val call = "." + "rename("
    val root = java.nio.file.Paths.get("src/main/scala")
    // Compact's manifest commit and VersionedSnapshot's pointer commit
    // are their own protocols
    val own = Set("pipeline/DirSwap.scala", "operators/Compact.scala",
      "operators/VersionedSnapshot.scala").map(f => root.resolve(s"graft/$f"))
    val walk = java.nio.file.Files.walk(root)
    val hits =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .filterNot(own)
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex
            .collect { case (l, i) if l.contains(call) => s"$p:${i + 1}" }
        }.toSeq.sorted
      finally walk.close()
    assert(hits.isEmpty,
      s"${hits.size} directory renames outside DirSwap:\n${hits.mkString("\n")}")
  }

  test("BatchDirs is the only pipeline code that wires a checkpoint or names a batch subdir") {
    import scala.jdk.CollectionConverters._
    // split so that a grep of src/ for either spelling does not hit this spec
    val spellings = Seq("\"checkpoint" + "Location\"", "s\"b" + "$")
    val root = java.nio.file.Paths.get("src/main/scala/graft/pipeline")
    val walk = java.nio.file.Files.walk(root)
    val hits =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .filter(_ != root.resolve("BatchDirs.scala"))
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex
            .collect { case (l, i) if spellings.exists(l.contains) => s"$p:${i + 1}" }
        }.toSeq.sorted
      finally walk.close()
    assert(hits.isEmpty,
      s"${hits.size} micro-batch wirings outside BatchDirs:\n${hits.mkString("\n")}")
  }
}
