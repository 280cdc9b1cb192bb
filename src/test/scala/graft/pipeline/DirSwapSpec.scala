package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}

import graft.SparkSpec

/** The one crash-safe directory swap: [[DirSwap.recover]] in every
  * state a crash can leave, [[DirSwap.swap]] in every shape its
  * callers use, and the trailing-slash normalization on every caller.
  */
class DirSwapSpec extends SparkSpec {
  import spark.implicits._

  private val fs = FileSystem.getLocal(new Configuration())

  /** dir, tmp and old siblings under a fresh root; none exists yet */
  private def paths(): (Path, Path, Path) = {
    val root = Files.createTempDirectory("graft-dirswap").toString
    (new Path(s"$root/t"), new Path(s"$root/t_tmp"), new Path(s"$root/t_old"))
  }

  /** a directory holding one file whose content names its generation */
  private def mkTable(p: Path, gen: String): Unit = {
    fs.mkdirs(p)
    Files.writeString(Paths.get(p.toString).resolve("part-0"), gen)
  }

  private def gen(p: Path): String =
    Files.readString(Paths.get(p.toString).resolve("part-0"))

  test("recover: old only is renamed back, both drops old, neither is a no-op") {
    val (dir, _, old) = paths()
    mkTable(old, "orig")
    assert(DirSwap.recover(fs, dir, old))
    assert(gen(dir) == "orig" && !fs.exists(old))

    mkTable(old, "stale")
    assert(DirSwap.recover(fs, dir, old))
    assert(gen(dir) == "orig" && !fs.exists(old))

    val (absent, _, noOld) = paths()
    assert(!DirSwap.recover(fs, absent, noOld))
    assert(!fs.exists(absent) && !fs.exists(noOld))
  }

  test("swap: both present installs tmp; absent dir is a first install; " +
    "absent tmp removes dir") {
    val (dir, tmp, old) = paths()
    mkTable(dir, "v1")
    mkTable(tmp, "v2")
    DirSwap.swap(fs, dir, tmp, old)
    assert(gen(dir) == "v2" && !fs.exists(tmp) && !fs.exists(old))

    val (fresh, freshTmp, freshOld) = paths()
    mkTable(freshTmp, "v1")
    DirSwap.swap(fs, fresh, freshTmp, freshOld)
    assert(gen(fresh) == "v1" && !fs.exists(freshTmp) && !fs.exists(freshOld))

    DirSwap.swap(fs, dir, tmp, old)
    assert(!fs.exists(dir) && !fs.exists(old))
  }

  test("swap refuses to move a dir onto a leftover old") {
    val (dir, tmp, old) = paths()
    mkTable(dir, "v1")
    mkTable(tmp, "v2")
    mkTable(old, "v0")
    intercept[RuntimeException](DirSwap.swap(fs, dir, tmp, old))
    assert(gen(dir) == "v1" && gen(tmp) == "v2" && gen(old) == "v0")
  }

  test("an install whose rename fails restores the old dir") {
    val (dir, tmp, old) = paths()
    mkTable(dir, "v1")
    mkTable(tmp, "v2")
    val failingInstall = new FilterFileSystem(fs) {
      override def rename(src: Path, dst: Path): Boolean =
        src != tmp && super.rename(src, dst)
    }
    val e = intercept[RuntimeException](
      DirSwap.swap(failingInstall, dir, tmp, old))
    assert(e.getMessage.contains("could not install"), e.getMessage)
    assert(gen(dir) == "v1" && !fs.exists(old))
  }

  test("a trailing slash is harmless on every DirSwap caller") {
    val root = Files.createTempDirectory("graft-dirswap-slash").toString

    val view = s"$root/view"
    IvmSink.initBase(Seq(("A", 1L, 10L)).toDF("g", "n", "total"), view + "/")
    assert(IvmSink.readView(spark, view).as[(String, Long, Long)].collect()
      .toSeq == Seq(("A", 1L, 10L)))
    assert(!Files.exists(Paths.get(view, "_compact_tmp")))

    val cache = s"$root/cache"
    val rows = Seq(("k", "r"), ("k", "r")).toDF("cacheKey", "response")
    rows.write.parquet(cache)
    EnrichJob.compactCache(spark, cache + "/")
    assert(spark.read.parquet(cache).count() == 1)
    assert(!new java.io.File(cache).listFiles().exists(_.isDirectory),
      "the compaction's siblings must not land inside the cache")

    val snap = s"$root/snap"
    SnapshotSink.applyBatch(Seq((1L, "a", 0L)).toDF("k", "s", "seq"),
      Seq("k"), "seq", None, snap + "/")
    SnapshotSink.applyBatch(Seq((2L, "b", 1L)).toDF("k", "s", "seq"),
      Seq("k"), "seq", None, snap + "/")
    assert(spark.read.parquet(snap).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    assert(!new java.io.File(snap).listFiles().exists(_.isDirectory))
  }
}
