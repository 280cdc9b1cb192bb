package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine capability = one named query + (optionally) the ANSI-SQL
  * oracle the driver replays in DuckDB on the same parquet tables.
  * Column names/aliases MUST agree between `fn`'s output and `sql` —
  * the driver sorts columns by name before hashing.
  */
final case class Q(
    fn: (SparkSession, String) => DataFrame,
    sql: Option[String] = None,
    /** one-line note on the 100 TB execution strategy, surfaced in docs */
    scaleNote: String = "")

object Q {

  /** A query whose Spark side runs its oracle's own SQL text. `sql`
    * names each table through its argument: the oracle gets the corpus
    * table names, and Spark gets `<prefix>_<table>` temp views over
    * `Tables.load`, so the two engines parse one text.
    */
  private[queries] def onViews(prefix: String, tables: Seq[String],
      sql: (String => String) => String, scaleNote: String): Q =
    Q(fn = (s, d) => {
        tables.foreach(n =>
          graft.core.Tables.load(s, d, n).createOrReplaceTempView(s"${prefix}_$n"))
        s.sql(sql(n => s"${prefix}_$n"))
      },
      sql = Some(sql(identity)),
      scaleNote = scaleNote)
}

trait Catalog {
  def queries: Map[String, Q]
}

/** Memoized per-parent child sessions for queries that need private
  * SQLConf flips (q84/q129/q141). `newSession()` creates a
  * SessionState that stays live until the SparkContext stops, so a
  * child per INVOCATION would accumulate sessions across repeated
  * Verify/bench/plan runs; one child per (parent, profile) is bounded
  * (≤ profiles × parents) and each child's conf is written exactly
  * once, under the memoization lock, before any query plans on it —
  * no cross-query conf race is possible because the shared parent
  * session's conf is never touched.
  */
private[queries] object ChildSessions {
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), SparkSession]()

  def get(parent: SparkSession, profile: String)(
      configure: SparkSession => Unit): SparkSession =
    cache.computeIfAbsent((parent, profile), { _ =>
      val s2 = parent.newSession()
      configure(s2)
      s2
    })
}

/** Shared oracle-SQL fragments (one definition — the q133/q143/q145/
  * q146 hash family must stay in lockstep).
  */
private[queries] object OracleSql {
  /** first `digits` hex digits of an md5 as an integer: DuckDB has no
    * conv(), so expand digit-by-digit via strpos
    */
  def hexN(h: String, digits: Int): String =
    (0 until digits).map { i =>
      s"(strpos('0123456789abcdef', substr($h, ${i + 1}, 1)) - 1) * ${BigInt(16).pow(digits - 1 - i)}"
    }.mkString("(", " + ", ")")

  /** 12-hex-digit md5 prefix as a 48-bit integer (the q133/q143/q145/
    * q146 lockstep family — hexN(h, 12) emits the byte-identical SQL
    * the original definition did)
    */
  def hex48(h: String): String = hexN(h, 12)
}
