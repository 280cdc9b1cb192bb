package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one crash-safe in-place rewrite of a directory-backed table
  * (enrich cache, dedup index, IVM view, CDC snapshot, and each
  * partition dir of a PartitionedUpsert snapshot): write the
  * replacement to a sibling tmp dir, move the table aside to `old`,
  * move tmp in, drop `old`. A crash between the two renames leaves the
  * WHOLE original at `old` — never destroyed — and [[recover]] puts it
  * back.
  *
  * Writer contract: a writer that can recreate a swapped dir (an
  * append, a per-batch subdir write, a first install) must call
  * [[recover]] before its first read or write of the dir; otherwise it
  * would treat a moved-aside table as absent, recreate the dir, and
  * the next recovery would drop the moved-aside original. Directory
  * renames are not atomic as a pair, so a concurrent reader can catch
  * a brief absent window: callers hold the single-writer contract (no
  * concurrent job on the same directory).
  *
  * Paths are normalized once here (`new Path` strips a trailing
  * slash), so `<dir>_compact_tmp` is always a sibling of the dir, never
  * a child of it.
  */
private[graft] object DirSwap {

  private val TmpSuffix = "_compact_tmp"
  private val OldSuffix = "_compact_old"

  /** Resolve a crashed swap of `dir`: `old` present and `dir` absent
    * means the crash fell between the renames — rename `old` back;
    * both present means the install completed — drop `old`.
    * Returns whether `dir` exists afterwards.
    */
  def recover(fs: FileSystem, dir: Path, old: Path): Boolean =
    if (!fs.exists(old)) fs.exists(dir)
    else {
      if (fs.exists(dir)) fs.delete(old, true)
      else if (!fs.rename(old, dir))
        sys.error(s"DirSwap: could not restore $old to $dir")
      true
    }

  /** [[recover]] `dir` from the `<dir>_compact_old` that
    * [[rewriteInPlace]] moves it aside to.
    */
  def recover(spark: SparkSession, dir: String): Boolean = {
    val d = new Path(dir)
    recover(fileSystem(spark, d), d, new Path(d.toString + OldSuffix))
  }

  /** Install `tmp` at `dir`: move `dir` aside to `old` if it exists,
    * move `tmp` in if it exists (a missing `tmp` removes `dir`), then
    * drop `old`. If the install rename fails, `old` is renamed back.
    * `old` must be absent — [[recover]] first.
    */
  def swap(fs: FileSystem, dir: Path, tmp: Path, old: Path): Unit = {
    if (fs.exists(old))
      sys.error(s"DirSwap: $old exists — recover $dir before swapping")
    if (fs.exists(dir) && !fs.rename(dir, old))
      sys.error(s"DirSwap: could not move $dir aside")
    if (fs.exists(tmp) && !fs.rename(tmp, dir)) {
      if (fs.exists(old) && !fs.exists(dir)) fs.rename(old, dir)
      sys.error(s"DirSwap: could not install $tmp at $dir")
    }
    fs.delete(old, true)
  }

  /** [[recover]], then `writeTmp` (which must materialize the
    * replacement at the path it is given), then [[swap]]. Reading
    * lazily from `dir` inside `writeTmp` is safe: the swap starts only
    * after the write completes. An absent `dir` makes this a first
    * install.
    */
  def rewriteInPlace(spark: SparkSession, dir: String)(
      writeTmp: String => Unit): Unit = {
    val d = new Path(dir)
    val fs = fileSystem(spark, d)
    val old = new Path(d.toString + OldSuffix)
    val tmp = new Path(d.toString + TmpSuffix)
    recover(fs, d, old)
    writeTmp(tmp.toString)
    swap(fs, d, tmp, old)
  }

  private def fileSystem(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
}
