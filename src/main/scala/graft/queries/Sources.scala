package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.WeightedMean

/** Source-format coverage (SURVEY.md §2B E1: parquet/CSV/JSON scans)
  * and the custom-aggregate surface (E19).
  *
  * The test corpus ships as parquet only, so the CSV/JSON scans
  * round-trip a table through the format under test (write once into a
  * per-SF temp dir, then read back with an explicit schema). The
  * oracle reads the original parquet — so the check proves the
  * format's write→read path is lossless, including quoting/escaping
  * (CSV) and number fidelity (JSON doubles).
  */
object Sources extends Catalog {

  /** One lock object per target dir: Verify runs the catalog on a
    * driver-side thread pool, and q72/q83 share the partitioned
    * documents dir — without this, both could pass an exists() check
    * and race two overwrite jobs onto the same path (committer
    * conflicts / mixed part files).
    */
  private val dirLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** q141's child session (ChildSessions-memoized per parent): the
    * DSv2 + aggregate-pushdown conf flips live on a private child so
    * the shared session's SQLConf never changes under concurrent
    * Verify threads, and repeated invocations reuse one child instead
    * of leaking a SessionState per call.
    */
  private def aggPushSession(s: SparkSession): SparkSession =
    ChildSessions.get(s, "agg-pushdown") { s2 =>
      s2.conf.set("spark.sql.sources.useV1SourceList", "")
      s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(p)
      // close the walk stream before deleting: it holds open
      // DirectoryStreams (leaked fds otherwise), and deleting under a
      // live traversal is undefined anyway
      val all = try walk.iterator().asScala.toSeq finally walk.close()
      all.reverse.foreach(Files.delete)
    }

  /** Idempotent, thread-safe one-time materialization of a derived
    * dataset at `dir`. The first caller writes into a unique sibling
    * tmp dir and atomically renames it into place, so `dir` either
    * doesn't exist or is complete; concurrent callers serialize on the
    * per-dir lock, later callers see the marker and skip. A leftover
    * dir WITHOUT the ready marker (pre-atomic-rename legacy or torn
    * copy) is cleared and rebuilt.
    *
    * `readyFile` is the completeness witness — `_SUCCESS` by default,
    * but a multi-write dir must use its OWN marker created as the LAST
    * step inside `write`: `_SUCCESS` appears after the FIRST Spark
    * write, so a torn legacy multi-write dir can carry `_SUCCESS`
    * while missing later generations (q76's case).
    */
  private def ensureDir(dir: String, readyFile: String = "_SUCCESS")(
      write: String => Unit): Unit = {
    val lock = dirLocks.computeIfAbsent(dir, _ => new Object)
    lock.synchronized {
      if (!Files.exists(Paths.get(dir, readyFile))) {
        deleteRecursively(Paths.get(dir))
        val tmp = dir + ".tmp-" + java.util.UUID.randomUUID().toString
        try {
          write(tmp)
          try Files.move(Paths.get(tmp), Paths.get(dir),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          catch {
            // cross-PROCESS racer (the in-process lock can't see it):
            // if another JVM installed a complete dir while we wrote,
            // losing the rename race is success — use theirs
            case e: java.nio.file.FileSystemException
                if Files.exists(Paths.get(dir, readyFile)) => ()
          }
        } finally deleteRecursively(Paths.get(tmp))
      }
    }
  }

  /** Cache key for derived dirs: the sf dir path PLUS a fingerprint of
    * every table file's (size, mtime). The driver regenerates the
    * corpus between rounds IN PLACE (same path, new bytes), so a
    * path-only key would let a stale derived dir from the previous
    * generation satisfy this generation's queries — worse than wrong
    * values, it can fail to READ outright (a pre-regeneration ORC dir
    * written when a temporal column had a different physical type).
    */
  private val keyCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def corpusKey(d: String): String = keyCache.computeIfAbsent(d, _ => {
    val fp = graft.core.Tables.all.map { t =>
      val p = Paths.get(s"$d/$t.parquet")
      if (Files.exists(p))
        s"$t:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
      else s"$t:absent"
    }.mkString(";")
    // md5, not String.hashCode: a 32-bit collision between two corpus
    // generations would silently serve the stale derived dir — the
    // exact failure this key exists to prevent
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"$d|$fp".getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
  })

  /** the SF-dir tag baked into every derived-dir name, so the stale-
    * generation GC below never crosses scale factors (sf0.001 spec
    * runs and sf0.01 Verify runs coexist; only old GENERATIONS of the
    * SAME sf are reclaimed) */
  private def sfTag(d: String): String =
    new java.io.File(d).getName.replaceAll("[^A-Za-z0-9._-]", "_")

  /** one GC pass per (prefix, key) per JVM: corpus regeneration
    * happens between process runs, so re-listing /tmp on every cache
    * HIT (several queries x min-of-3 bench runs) is pure waste */
  private val gcDone = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Drop derived dirs for this site minted under a PREVIOUS corpus
    * generation (same sf tag, different key suffix) — plus any
    * legacy-format dir from the pre-sfTag naming scheme (no underscore
    * after the site prefix), which the prefix match would otherwise
    * orphan forever. Content-keyed names mean a regeneration would
    * otherwise leak a full table copy into /tmp per generation.
    * Dev-tooling contract: one corpus generation per sf in use at a
    * time (a process still reading an old generation's dir loses it).
    * Deletes tolerate races: a concurrent JVM doing the same GC may
    * win any individual file delete.
    *
    * Per-process sites (bucketedTable) append `_p<pid>` to the live
    * key so two concurrent JVMs never share a dir; those dirs are kept
    * while their owning process is alive (/proc/<pid> probe) and
    * reaped as soon as it is gone, so crashed runs don't leak a table
    * copy per launch.
    */
  private def dropStaleSiblings(sitePrefix: String, tag: String, liveKey: String): Unit = {
    if (!gcDone.add(s"$sitePrefix$tag|$liveKey")) return
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    val live = s"${tag}_$liveKey"
    val stream = Files.list(tmp)
    val stale = try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        if (!n.startsWith(sitePrefix) || n.contains(".tmp-")) false
        else {
          val rem = n.drop(sitePrefix.length)
          if (!rem.contains("_")) true // legacy pre-sfTag format (bare hex key)
          else if (!rem.startsWith(s"${tag}_")) false // other sf: not ours to judge
          else if (rem == live) false // this generation, shared site
          else if (rem.startsWith(s"${live}_p")) {
            // this generation, per-process site: stale iff the owner
            // died — probed via ProcessHandle (portable: /proc exists
            // only on Linux, and a missing /proc would judge every
            // LIVE concurrent owner stale and delete its dir mid-read)
            // non-negative guard: ProcessHandle.of(-n) THROWS, which
            // would abort the whole sweep on a malformed `_p-5` name —
            // a malformed pid is simply stale, like the old digit check
            val pid = rem.drop(live.length + 2)
            !pid.toLongOption.filter(_ >= 0).exists(p =>
              try ProcessHandle.of(p).map[Boolean](_.isAlive).orElse(false)
              catch { case _: IllegalArgumentException => false })
          } else true // this sf, previous corpus generation
        }
      }.toList
    } finally stream.close()
    stale.foreach { p =>
      try deleteRecursively(p)
      catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
    }
  }

  /** write `name` as `fmt` under /tmp once per (sf, table); reuse after */
  private def roundTrip(
      s: SparkSession, d: String, name: String, fmt: String): DataFrame = {
    val key = corpusKey(d)
    val site = s"graft_src_${fmt}_${name}_"
    dropStaleSiblings(site, sfTag(d), key)
    val dir = s"${sys.props("java.io.tmpdir")}/$site${sfTag(d)}_$key"
    val src = Tables.load(s, d, name)
    // per-format options, shared by write and read (xml needs the row
    // element name on both sides)
    val opts: Map[String, String] = fmt match {
      case "csv" => Map("header" -> "true")
      // ignoreSurroundingSpaces defaults true on READ, which would
      // silently trim value whitespace - the round-trip must be
      // byte-lossless, not lossless-after-trim
      case "xml" => Map("rowTag" -> "row", "ignoreSurroundingSpaces" -> "false")
      case _     => Map.empty
    }
    ensureDir(dir) { tmp =>
      src.write.mode("overwrite").options(opts).format(fmt).save(tmp)
    }
    s.read.schema(src.schema)
      .format(fmt)
      .options(opts)
      .load(dir)
  }

  /** q170's bucketed fact tables: written CLUSTERED BY the join key
    * INTO 8 BUCKETS, sorted within buckets, as an external table under
    * /tmp (the warehouse dir would grow a copy per corpus generation
    * inside the repo). Bucket METADATA lives in the in-memory catalog
    * — shared across sessions of one JVM via SharedState, gone in a
    * fresh JVM — so each JVM writes once on first use (mode overwrite
    * also heals a stale-generation dir; the table name carries the
    * corpus key so a regenerated corpus mints a new table). The
    * external path additionally carries this JVM's pid: the in-JVM
    * lock can't stop a CONCURRENT process (parallel test + bench run)
    * from overwriting the dir mid-read, so each process owns its own
    * dir; dropStaleSiblings reaps a pid dir the moment its owner exits.
    */
  private def bucketedTable(
      s: SparkSession, d: String, name: String, key: String): DataFrame =
    bucketedFrame(s, d, name, key, Tables.load(s, d, name))

  /** plain-parquet sibling of [[bucketedFrame]] (r17, the q261 NSW
    * index): stage a DERIVED frame once per (name, version, sf,
    * corpus generation) and read it back on every later call — the
    * build-once-serve-many shape every index artifact has in
    * production. No bucket layout (callers broadcast into these
    * frames, they never shuffle-join on a key), so a bare parquet dir
    * under [[ensureDir]]'s atomic-rename protocol suffices. Same
    * corpusKey content-addressing and stale-sibling reaping as every
    * other derived dir; `version` is the builder LOGIC tag (r17
    * ADVICE rule — fold the parameters that shape the bytes into it).
    */
  private[queries] def derivedParquet(
      s: SparkSession, d: String, name: String, version: String)(
      build: => DataFrame): DataFrame = {
    // version-free site prefix + versioned live key — see the
    // bucketedFrame comment: a versioned prefix would leak one staged
    // copy per retired version
    val site = s"graft_src_drv_${name}_"
    dropStaleSiblings(site, sfTag(d), s"${version}_${corpusKey(d)}")
    val dir = s"${sys.props("java.io.tmpdir")}/$site${sfTag(d)}_${version}_${corpusKey(d)}"
    ensureDir(dir) { tmp => build.write.parquet(tmp) }
    s.read.parquet(dir)
  }

  /** the same staging surface generalized from corpus tables to
    * DERIVED frames (r16, q253): any computed frame written CLUSTERED
    * BY its join key becomes an AQE-proof partitioning carrier —
    * bucket layout is scan metadata, not a shuffle stage, so adaptive
    * re-planning cannot discard it the way it discards checkpoint
    * partitioning (q250's measured trade). Same cache key, lock, and
    * stale-sibling reaping as the corpus-table path.
    */
  private[queries] def bucketedFrame(
      s: SparkSession, d: String, name: String, key: String,
      build: => DataFrame,
      /** builder LOGIC tag, folded into the cache ident (r17 ADVICE):
        * corpus tables are content-addressed by corpusKey alone, but a
        * DERIVED frame's bytes also depend on its builder — bump the
        * tag when the build definition changes, or a stale persisted
        * table silently serves until the corpus regenerates (and the
        * drift would surface downstream as a confusing oracle hash
        * mismatch instead of here) */
      version: String = "v1"): DataFrame = {
    val ident = s"graft_b8_${name}_${version}_${sfTag(d).replaceAll("[^A-Za-z0-9_]", "_")}_${corpusKey(d)}"
    // the version rides in the LIVE KEY, not the site prefix (r17
    // review): dropStaleSiblings only inspects dirs under the current
    // prefix, so a versioned prefix would orphan every other-version
    // dir forever — version-free prefix + versioned key makes a
    // version bump REAP the old staging instead of leaking it (and
    // re-adopts the pre-versioning dirs the r17 rename would have
    // stranded)
    val site = s"graft_src_bucket_${name}_"
    dropStaleSiblings(site, sfTag(d), s"${version}_${corpusKey(d)}")
    val lock = dirLocks.computeIfAbsent(s"tbl:$ident", _ => new Object)
    lock.synchronized {
      if (!s.catalog.tableExists(ident)) {
        build.write
          .mode("overwrite")
          .bucketBy(8, key)
          .sortBy(key)
          .option("path",
            s"${sys.props("java.io.tmpdir")}/$site${sfTag(d)}_${version}_${corpusKey(d)}" +
              s"_p${ProcessHandle.current().pid()}")
          .saveAsTable(ident)
      }
    }
    s.table(ident)
  }

  /** the hive-partitioned documents layout shared by q72 and q83 */
  private def partitionedDocs(s: SparkSession, d: String): String = {
    val key = corpusKey(d)
    dropStaleSiblings("graft_src_part_documents_", sfTag(d), key)
    val dir = s"${sys.props("java.io.tmpdir")}/graft_src_part_documents_${sfTag(d)}_$key"
    ensureDir(dir) { tmp =>
      Tables.load(s, d, "documents")
        .write.mode("overwrite").partitionBy("lang").parquet(tmp)
    }
    dir
  }

  /** documents as the reference's {id, texts: {content}, images: []}
    * records, the input of every enrich-pipeline query */
  private def docRecords(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")
      .select(col("doc_id").cast("string").as("id"),
        map(lit("content"), col("text")).as("texts"),
        array().cast("array<string>").as("images"))

  /** the synthetic media corpus size per scale factor — an explicit
    * per-SF choice (test runtime), so an unknown data dir fails loudly */
  private def mediaCorpusSize(q: String, d: String): Int =
    new java.io.File(d).getName match {
      case "sf0.001"          => 90
      case "sf0.01" | "sf0.1" => 600
      case other => throw new IllegalArgumentException(
        s"$q media corpus size not defined for data dir '$other' — " +
          "add the scale factor explicitly")
    }

  override def queries: Map[String, Q] = Map(

    // ----- E1: CSV scan (with quoting-sensitive text columns) -------
    "q40_csv_scan" -> Q(
      fn = (s, d) =>
        roundTrip(s, d, "part", "csv")
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n"),
            sum(col("p_retailprice")).as("sum_price"),
            max(col("p_size")).cast("long").as("max_size")),
      sql = Some("""
        SELECT p_brand, count(*) AS n, sum(p_retailprice) AS sum_price,
               CAST(max(p_size) AS BIGINT) AS max_size
        FROM part GROUP BY p_brand"""),
      scaleNote = "schema'd CSV read — no inference pass; at 100 TB CSV scans parallelize per-file/per-split like parquet minus column pruning"),

    // ----- E1: JSON scan (double fidelity through text) -------------
    "q41_json_scan" -> Q(
      fn = (s, d) =>
        roundTrip(s, d, "customer", "json")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            sum(col("c_acctbal")).as("sum_bal"),
            avg(col("c_acctbal")).as("avg_bal")),
      sql = Some("""
        SELECT c_mktsegment, count(*) AS n, sum(c_acctbal) AS sum_bal,
               avg(c_acctbal) AS avg_bal
        FROM customer GROUP BY c_mktsegment"""),
      scaleNote = "explicit schema skips sampling-based inference (a full extra scan at 100 TB); shortest-roundtrip double formatting keeps numeric fidelity"),

    // ----- E1: XML scan (Spark 4 built-in, no external package) -----
    "q147_xml_scan" -> Q(
      fn = (s, d) =>
        roundTrip(s, d, "supplier", "xml")
          .groupBy(col("s_nationkey").cast("long").as("s_nationkey"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("s_acctbal")), 2).as("sum_bal"),
            min(col("s_name")).as("first_name")),
      sql = Some("""
        SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey, count(*) AS n,
               round(sum(s_acctbal), 2) AS sum_bal, min(s_name) AS first_name
        FROM supplier GROUP BY 1"""),
      scaleNote = "XML moved into Spark core in 4.0 (rowTag element per record); the explicit schema skips the sampling inference scan, and files split per-element like JSON lines — the oracle reading the original parquet proves the write→read round-trip lossless incl. markup escaping"),

    // ----- E1: ORC scan (columnar alternative to parquet) -----------
    "q71_orc_scan" -> Q(
      fn = (s, d) =>
        roundTrip(s, d, "orders", "orc")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            // round to cents: the ORC round-trip regroups rows, so the
            // double sum associates differently than DuckDB's scan of
            // the original parquet (±1e-7 on a ~7.5e8 sum). Rounding is
            // SAFE here because the addends are exact 2-decimal money
            // values (asserted property of the corpus): the true group
            // sum is a whole number of cents, 0.005 away from any
            // rounding boundary — 4 orders of magnitude beyond the
            // association error, so both engines land on the same cent.
            // For addends with unbounded decimals, use the q14/q92
            // decimal-accumulation + fixed-point-BIGINT stance instead.
            round(sum(col("o_totalprice")), 2).as("sum_price"),
            countDistinct(col("o_custkey")).as("n_cust")),
      sql = Some("""
        SELECT o_orderpriority, count(*) AS n,
               round(sum(o_totalprice), 2) AS sum_price,
               count(DISTINCT o_custkey) AS n_cust
        FROM orders GROUP BY o_orderpriority"""),
      scaleNote = "ORC reads vectorized with predicate pushdown + column pruning like parquet; the oracle reads the original parquet, so green means the ORC write->read path is lossless incl. timestamp/double fidelity"),

    // ----- E1: hive-style partitioned layout + partition pruning ----
    // The 100 TB storage-layout primitive: data written partitioned by
    // a low-cardinality column means a filter on it prunes whole
    // directories at planning time (PartitionFilters in the scan, zero
    // I/O for other partitions). PlanSpec asserts the pruning.
    "q72_partitioned_scan" -> Q(
      fn = (s, d) => {
        s.read.parquet(partitionedDocs(s, d))
          .filter(col("lang") === "en")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      },
      sql = Some("""
        SELECT source, count(*) AS n,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents WHERE lang = 'en' GROUP BY source"""),
      scaleNote = "lang=... directories are pruned at plan time (PartitionFilters, not data filters) — the scan never opens non-en files; at 100 TB partition-on-read-predicate is the first I/O lever before any row-group statistics"),

    // ----- E1: schema evolution via mergeSchema ---------------------
    // 100 TB datasets are written over months; late files carry new
    // columns. One dir holds two generations of the documents table —
    // v1 without `lang`, v2 with it — and a mergeSchema read unifies
    // them (v1 rows read lang as NULL).
    "q76_merged_schema_scan" -> Q(
      fn = (s, d) => {
        val key = corpusKey(d)
        dropStaleSiblings("graft_src_evo_documents_", sfTag(d), key)
        val dir = s"${sys.props("java.io.tmpdir")}/graft_src_evo_documents_${sfTag(d)}_$key"
        val src = Tables.load(s, d, "documents")
        // completeness witness is the both-generations marker, NOT
        // _SUCCESS: the gen-1 overwrite already writes _SUCCESS, so a
        // torn LEGACY dir (pre-atomic-rename code crashed between the
        // two generations) carries _SUCCESS while missing the lang
        // generation — keying on the marker rebuilds it instead of
        // accepting it
        ensureDir(dir, readyFile = "_GRAFT_BOTH_GENERATIONS") { tmp =>
          src.select(col("doc_id"), col("source"), col("n_chars"))
            .write.mode("overwrite").parquet(tmp)
          src.select(col("doc_id"), col("source"), col("n_chars"), col("lang"))
            .write.mode("append").parquet(tmp)
          Files.createFile(Paths.get(tmp, "_GRAFT_BOTH_GENERATIONS"))
        }
        s.read.option("mergeSchema", "true").parquet(dir)
          .groupBy(coalesce(col("lang"), lit("pre-schema")).as("lang"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      },
      sql = Some("""
        SELECT coalesce(lang, 'pre-schema') AS lang,
               count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM (SELECT doc_id, source, n_chars, NULL AS lang FROM documents
              UNION ALL
              SELECT doc_id, source, n_chars, lang FROM documents)
        GROUP BY 1"""),
      scaleNote = "schema merge happens at planning from file footers — no rewrite of old files when a column lands; absent columns read as NULL, so generation-spanning queries stay one scan"),

    // ----- E1: dynamic partition pruning through a dim join ---------
    // The runtime half of q72's story: the pruning predicate is not a
    // literal but comes from a JOIN against a filtered dimension —
    // Catalyst injects a dynamic-pruning subquery into the partitioned
    // scan, so only the dim-selected lang partitions are read even
    // though no literal lang filter exists in the query.
    "q83_dynamic_partition_pruning" -> Q(
      fn = (s, d) => {
        val key = corpusKey(d)
        val docDir = partitionedDocs(s, d)
        dropStaleSiblings("graft_src_langdim_", sfTag(d), key)
        val dimDir = s"${sys.props("java.io.tmpdir")}/graft_src_langdim_${sfTag(d)}_$key"
        ensureDir(dimDir) { tmp =>
          s.createDataFrame(Seq(
              ("en", "germanic"), ("de", "germanic"),
              ("fr", "romance"), ("es", "romance"), ("zh", "sinitic")))
            .toDF("lang", "family")
            .write.mode("overwrite").parquet(tmp)
        }
        s.read.parquet(docDir)
          .join(broadcast(
            s.read.parquet(dimDir).filter(col("family") === "romance")), "lang")
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      },
      sql = Some("""
        SELECT lang, source, count(*) AS n,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents WHERE lang IN ('fr', 'es')
        GROUP BY lang, source"""),
      scaleNote = "the dim filter's values flow into the fact scan as a dynamic-pruning subquery at RUNTIME — at 100 TB this is how a 5-row dimension decides which petabytes never get read; PlanSpec asserts the dynamicpruning expression on the scan"),

    // ----- E1/E4: runtime bloom-filter row pruning ------------------
    // q83's DPP prunes whole PARTITIONS when the join key is the
    // partition column; the runtime bloom filter is its row-level
    // sibling for every other key: Catalyst plans a bloom sketch over
    // the filtered dim side's join keys and injects
    // might_contain(xxhash64(l_partkey)) into the FACT side, so rows
    // that cannot join die at the scan instead of riding the shuffle.
    // The thresholds that gate the rewrite are session-wide and sized
    // for clusters, so the query plans on its own newSession() —
    // Verify runs the catalog concurrently on one shared session, and
    // mutating that session's conf here would race other queries.
    "q84_bloom_filter_join" -> Q(
      fn = (s0, d) => {
        val s = ChildSessions.get(s0, "bloom-join") { s2 =>
          // force the shuffle join the 100 TB plan has (a broadcast dim
          // needs no bloom — the probe side already sees the keys)
          s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
          s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
          // default gate is a 10 GB probe-side scan; at sf0.01 the scan
          // is KBs, so open the gate — the REWRITE is what's under test
          s2.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
        }
        Tables.load(s, d, "lineitem")
          .join(Tables.load(s, d, "part").filter(col("p_type") === "ECONOMY"),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
      },
      sql = Some("""
        SELECT p_brand, count(*) AS n, sum(l_quantity) AS sum_qty
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_type = 'ECONOMY'
        GROUP BY p_brand"""),
      scaleNote = "the dim filter becomes a runtime bloom sketch probed inside the fact scan (might_contain on xxhash64 of the key) — rows that cannot join are dropped before the exchange, cutting the fact-side shuffle by the filter's selectivity on ANY join key, not just partition columns; PlanSpec asserts the injected filter and the scan-side placement"),

    // ----- E18 composed with curation: LLM-judge quality filter -----
    // The model-based rating stage a curation pipeline runs through an
    // LLM judge: enrich each doc with a (fake, deterministic) judge
    // response carrying a JSON score, parse it, keep docs scoring >=
    // the bar. Exercises enrich -> JSON parse -> filter as ONE plan.
    "q77_llm_judge_filter" -> Q(
      fn = (s, d) => {
        val records = docRecords(s, d)
        val cfg = graft.core.JobConfig(
          id = "judge",
          erbTemplate = "rate the quality of: <%= texts[:content] %>",
          backendEndpoint = "http://fake", model = "fake",
          outputLabel = "rating", systemErbTemplate = None,
          params = Map.empty, useImages = false, responseFormat = None)
        // deterministic fake judge: JSON score = prompt-hash mod 100
        val judge = new graft.llm.FakeLlmClient(p =>
          s"""{"score": ${math.floorMod(
            scala.util.hashing.MurmurHash3.stringHash(p), 100)}}""")
        graft.pipeline.EnrichJob
          .run(records, cfg, judge, graft.pipeline.EnrichOptions(concurrency = 16))
          .good
          .select(col("id"),
            get_json_object(element_at(col("texts"), "rating"), "$.score")
              .cast("int").as("score"))
          .filter(col("score") >= 50)
      },
      sql = None, // judge response = murmur3 of the prompt — not SQL-
      // portable; CurationSpec value-checks the kept set independently
      scaleNote = "the judge call is the q44 enrich stage (executor-side pooled async clients); the parse+filter stays in the same codegen'd projection — no extra pass over the corpus"),

    // ----- E19: custom typed Aggregator (weighted mean) -------------
    "q42_udaf_weighted_mean" -> Q(
      fn = (s, d) =>
        Tables.load(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            WeightedMean.column(col("l_extendedprice"), col("l_quantity"))
              .as("wmean_price"),
            count(lit(1)).as("n")),
      sql = Some("""
        SELECT l_returnflag,
               sum(l_extendedprice * l_quantity) / sum(l_quantity) AS wmean_price,
               count(*) AS n
        FROM lineitem GROUP BY l_returnflag"""),
      scaleNote = "Aggregator gets map-side partial aggregation automatically (reduce per partition, merge at the exchange) — same shuffle profile as a built-in agg"),

    // ----- E19 + sketch family: Misra-Gries heavy hitters -----------
    // Top-10 words per language via the bounded-memory frequent-items
    // Aggregator. At this corpus's vocabulary (≈30 distinct words) the
    // 64-counter sketch NEVER prunes, so its estimates are exactly the
    // true counts and the DuckDB oracle checks them outright; the
    // approximation guarantees at small capacity (underestimate-only,
    // n/(capacity+1) error bound, heavy-hitters-always-present,
    // partition-layout invariance) are HeavyHittersSpec's job.
    "q100_heavy_hitters" -> Q(
      fn = (s, d) => {
        Tables.load(s, d, "documents")
          .select(col("lang"),
            explode(split(lower(col("text")), " ")).as("word"))
          .filter(length(col("word")) > 0)
          .groupBy(col("lang"))
          .agg(graft.functions.HeavyHitters.column(col("word"), 64).as("hh"))
          .select(col("lang"), posexplode(col("hh")))
          .filter(col("pos") < 10)
          .select(col("lang"), col("pos").cast("long").as("rk"),
            col("col._1").as("word"), col("col._2").as("est"))
      },
      sql = Some("""
        WITH w AS (
          SELECT lang, unnest(string_split(lower(text), ' ')) AS word
          FROM documents),
        c AS (
          SELECT lang, word, count(*) AS est FROM w
          WHERE length(word) > 0 GROUP BY 1, 2),
        r AS (
          SELECT lang, word, est,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY est DESC, word) - 1 AS rk
          FROM c)
        SELECT lang, rk, word, est FROM r WHERE rk < 10"""),
      scaleNote = "the sketch shuffles at most `capacity` counters per (partition, lang) instead of the full per-lang vocabulary — two-phase like any built-in agg (reduce map-side, mergeable summaries at the exchange); at 100 TB with an unbounded vocab this replaces q75's exact full-vocabulary shuffle at a bounded n/capacity error"),

    // ----- E19 sketch family: Misra-Gries UNDER PRUNE PRESSURE ------
    // q100's corpus (~30 words) never overflows its 64 counters, so
    // the prune path ran un-oracled. This query builds a planted-skew
    // stream from lineitem — 5 hot items at ~10% of the stream each
    // (orderkeys ≡ 0..4 mod 10 collapse onto hot0..hot4 via mod 5),
    // plus a long tail of singletons — and sketches it at
    // capacity 32, so the sketch prunes on nearly every input row.
    // The OUTPUT is the Misra-Gries guarantee check itself: for every
    // item with true freq > n/(capacity+1) (which the theorem says
    // MUST be in the sketch), emit (item, true count, present,
    // bound_ok). When the guarantee holds — always, it's a theorem —
    // present/bound_ok are uniformly true, which is exactly what the
    // DuckDB oracle computes from exact counts alone; any violation
    // on the Spark side hash-mismatches the row. Integer arithmetic
    // (cnt·33 > n) keeps the threshold comparison exact in both
    // engines.
    "q102_heavy_hitters_pruned" -> Q(
      fn = (s, d) => {
        val k = 32
        val items = Tables.load(s, d, "lineitem").select(
          // % 10 < 5 with id % 5: orderkeys ≡ {0..4, 5..9 excluded}
          // mod 10 map onto FIVE distinct hot ids (a `< 3` filter
          // would alias onto only three — k%5 == k%10 for k%10 < 5)
          when(col("l_orderkey") % 10 < 5,
            concat(lit("hot"), (col("l_orderkey") % 5).cast("string")))
            .otherwise(concat(lit("cold"), col("l_orderkey").cast("string"),
              lit("_"), col("l_linenumber").cast("string")))
            .as("item"))
        val exact = items.groupBy(col("item")).agg(count(lit(1)).as("cnt"))
        val n = items.agg(count(lit(1)).as("n"))
        val est = items
          .agg(graft.functions.HeavyHitters.column(col("item"), k).as("hh"))
          .select(explode(col("hh")).as("e"))
          .select(col("e._1").as("item"), col("e._2").as("est"))
        exact.crossJoin(broadcast(n))
          .filter(col("cnt") * (k + 1) > col("n"))
          .join(est, Seq("item"), "left")
          .select(col("item"), col("cnt"),
            col("est").isNotNull.as("present"),
            coalesce(
              col("est") <= col("cnt") &&
                (col("cnt") - col("est")) * (k + 1) <= col("n"),
              lit(false)).as("bound_ok"))
      },
      sql = Some("""
        WITH items AS (
          SELECT CASE WHEN l_orderkey % 10 < 5
                      THEN 'hot' || CAST(l_orderkey % 5 AS VARCHAR)
                      ELSE 'cold' || CAST(l_orderkey AS VARCHAR) || '_' ||
                           CAST(l_linenumber AS VARCHAR) END AS item
          FROM lineitem),
        tot AS (SELECT count(*) AS n FROM items),
        c AS (SELECT item, count(*) AS cnt FROM items GROUP BY 1)
        SELECT item, cnt, true AS present, true AS bound_ok
        FROM c, tot WHERE cnt * 33 > n"""),
      scaleNote = "the sketch shuffles ≤32 counters per partition regardless of the ~42k-item tail — the prune regime IS the 100 TB regime (unbounded vocab, bounded state); the exact groupBy alongside it exists only to state the guarantee and would be dropped in production"),

    // ----- E6 sketch variant: approximate distinct ------------------
    "q43_approx_distinct" -> Q(
      fn = (s, d) =>
        // sketch ONLY: bundling the exact countDistinct here (as round
        // 1 did, for the error contract) made the "constant-memory
        // sketch" query pay the full expand+distinct-shuffle it exists
        // to avoid; the ±2% contract lives in SourcesSpec, which
        // computes the exact side itself
        Tables.load(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts")),
      sql = None, // HLL sketches are engine-specific — rows-only check;
      // SourcesSpec asserts the ±2% error contract vs the exact count
      scaleNote = "HLL++ sketch: no expand, constant memory per group, mergeable across partitions — the 100 TB answer to count-distinct"),

    // ----- E6 sketch variant: persisted-sketch RE-aggregation -------
    // q43 sketches once; this is the other half of the 100 TB sketch
    // story: build fine-grained (event_type, day) sketches — the shape
    // you'd PERSIST in a metrics table — then merge them up to
    // per-type totals with hll_union_agg, never touching raw rows
    // again. SourcesSpec asserts the merged estimate equals the
    // one-shot sketch exactly (mergeability) and lands within
    // tolerance of the exact distinct count.
    "q93_sketch_reaggregate" -> Q(
      fn = (s, d) => {
        val daily = graft.core.Tables.load(s, d, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(hll_sketch_agg(col("user_id")).as("sk"))
        daily.groupBy(col("event_type"))
          .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
            .as("approx_users"))
      },
      sql = None, // HLL sketch binaries are engine-specific (q43's
      // stance); SourcesSpec proves merge-exactness + error contract
      scaleNote = "sketches are mergeable state: the daily layer aggregates map-side and shuffles ~1.5 KB per (type, day) group; the rollup re-aggregates sketches without rescanning events — the pattern that turns 100 TB distinct-count dashboards into KB-scale metadata queries"),

    // ----- E18: the reference's whole job, at engine speed ----------
    "q44_llm_enrich_fake" -> Q(
      fn = (s, d) => {
        // documents as {id, texts, images} records → the full parity
        // pipeline (template render, per-partition async LLM stage,
        // <think> strip, label append) on the deterministic fake
        // backend — benchmarks ENGINE overhead, the reference's
        // comparison point is 1 sequential request at a time
        val records = docRecords(s, d)
        val cfg = graft.core.JobConfig(
          id = "bench-enrich",
          erbTemplate = "summarize: <%= texts[:content] %>",
          backendEndpoint = "http://fake", model = "fake",
          outputLabel = "summary", systemErbTemplate = None,
          params = Map.empty, useImages = false, responseFormat = None)
        graft.pipeline.EnrichJob
          .run(records, cfg, new graft.llm.FakeLlmClient(),
            graft.pipeline.EnrichOptions(concurrency = 16))
          .good
          .select(col("id"), element_at(col("texts"), "summary").as("summary"))
      },
      sql = None, // response = murmur3 fingerprint of the prompt — not
      // SQL-portable; EnrichJobSpec covers the record-level contract
      scaleNote = "network boundary moves from driver↔API (reference) to executor-task↔API: throughput scales with partitions × per-partition concurrency"),

    // ----- E18: LLM-output JSON-schema validation (r13) --------------
    // The QA gate q44's pipeline was missing: R8 REQUESTS
    // schema-constrained output (reference lib/job_processor.rb:181-205;
    // constraint vocabulary docs/example/schemas/person_schema.yml:1-33)
    // but nothing validates what comes back — this runs the full
    // enrich pipeline against a deterministic fake whose JSON is a
    // pure SQL-expressible function of (id, text), then validates the
    // response with SchemaValidate (required / int type / min / max /
    // enum / minLength, chained) and emits the per-record verdict
    // frame. Planted violations by id class: %19 truncated JSON
    // (parse), %13 age as prose string (type), %5 negative age (min),
    // %23 age 200+ (max), %17 lang key omitted (required), %11 lang
    // outside the enum, %7 empty name (minLength) — every class
    // non-empty at every SF, precedence mirrored exactly in the
    // oracle's CASE chain. UNLIKE q44 (murmur3 fingerprint — rows-only
    // by necessity) the verdict columns are fully oracle-able: DuckDB
    // derives the expected flags from first principles, so any defect
    // in the template render, the JSON round-trip, get_json_object
    // extraction, or the chaining logic hash-mismatches.
    "q214_llm_schema_validate" -> Q(
      fn = (s, d) => {
        import graft.pipeline.SchemaValidate
        import graft.pipeline.SchemaValidate._
        val records = docRecords(s, d)
        val cfg = graft.core.JobConfig(
          id = "schema-validate",
          erbTemplate = "<%= id %>|<%= texts[:content] %>",
          backendEndpoint = "http://fake", model = "fake",
          outputLabel = "extracted", systemErbTemplate = None,
          params = Map.empty, useImages = false,
          // R8's inline-schema path: the request ASKS for the schema;
          // this operator is the check that the answer honored it
          responseFormat = Some(graft.core.ResponseFormat.JsonMode))
        // deterministic fake: JSON derived from (id, text) alone —
        // every branch has an exact SQL mirror in the oracle (shared
        // with q224's repair loop: fakeExtractJson below)
        val fake = new graft.llm.FakeLlmClient(p => {
          val bar = p.indexOf('|')
          fakeExtractJson(p.substring(0, bar).toLong, p.substring(bar + 1))
        })
        val enriched = graft.pipeline.EnrichJob
          .run(records, cfg, fake,
            graft.pipeline.EnrichOptions(concurrency = 16))
          .good
          .select(col("id").cast("long").as("id"),
            element_at(col("texts"), "extracted").as("j"))
        val checked = SchemaValidate.verdicts(enriched, "j",
          ExtractConstraints)
        // the dead half is what production routes to the dead-letter
        // channel; the registered frame is the full verdict report
        // (valid column = which side each record lands on)
        checked.select(col("id"),
          col("ok_parse").cast("long").as("ok_parse"),
          col("ok_required").cast("long").as("ok_required"),
          col("ok_type").cast("long").as("ok_type"),
          col("ok_min").cast("long").as("ok_min"),
          col("ok_max").cast("long").as("ok_max"),
          col("ok_enum").cast("long").as("ok_enum"),
          col("ok_minlen").cast("long").as("ok_minlen"),
          col("valid").cast("long").as("valid"),
          col("reason"))
      },
      sql = Some("""
        WITH v AS (
          SELECT CAST(doc_id AS BIGINT) AS id,
                 doc_id % 19 = 0 AS corrupt,
                 doc_id % 19 <> 0 AND doc_id % 13 = 0 AS typebad,
                 doc_id % 19 <> 0 AND doc_id % 13 <> 0
                   AND doc_id % 5 = 0 AS negbad,
                 doc_id % 19 <> 0 AND doc_id % 13 <> 0
                   AND doc_id % 5 <> 0 AND doc_id % 23 = 0 AS maxbad,
                 doc_id % 17 = 0 AS langmiss,
                 doc_id % 11 = 0 AS langodd,
                 doc_id % 7 = 0 OR
                   length(regexp_extract(coalesce(text, ''),
                     '^[a-zA-Z0-9]*', 0)) < 1
                   AS namebad
          FROM documents),
        f AS (
          SELECT id,
                 NOT corrupt AS ok_parse,
                 NOT corrupt AND NOT langmiss AS ok_required,
                 NOT corrupt AND NOT typebad AS ok_type,
                 NOT corrupt AND NOT typebad AND NOT negbad AS ok_min,
                 NOT corrupt AND NOT typebad AND NOT maxbad AS ok_max,
                 NOT corrupt AND NOT langmiss AND NOT langodd AS ok_enum,
                 NOT corrupt AND NOT namebad AS ok_minlen
          FROM v)
        SELECT id,
               CAST(ok_parse AS BIGINT) AS ok_parse,
               CAST(ok_required AS BIGINT) AS ok_required,
               CAST(ok_type AS BIGINT) AS ok_type,
               CAST(ok_min AS BIGINT) AS ok_min,
               CAST(ok_max AS BIGINT) AS ok_max,
               CAST(ok_enum AS BIGINT) AS ok_enum,
               CAST(ok_minlen AS BIGINT) AS ok_minlen,
               CAST(ok_parse AND ok_required AND ok_type AND ok_min
                    AND ok_max AND ok_enum AND ok_minlen AS BIGINT)
                 AS valid,
               CASE WHEN NOT ok_parse THEN 'parse'
                    WHEN NOT ok_required THEN 'required:lang'
                    WHEN NOT ok_type THEN 'type:age'
                    WHEN NOT ok_min THEN 'min:age'
                    WHEN NOT ok_max THEN 'max:age'
                    WHEN NOT ok_enum THEN 'enum:lang'
                    WHEN NOT ok_minlen THEN 'minLength:name'
                    ELSE '' END AS reason
        FROM f"""),
      scaleNote = "the gate is a row-local projection over the enrich output — one from_json parse plus per-field get_json_object extractions, all codegen'd, zero shuffles, zero UDFs — so it rides the enrich job's existing partitioning at any corpus size; the dead-letter split is two filters of the same frame (Spark shares the scan), and at 100 TB the verdict frame aggregates into the per-reason drop-rate dashboard a production enrich pipeline alerts on (one |reasons|-row fold); the constraint list is data, not code — new schema fields are new Constraint rows, never a new pass"),

    // ----- E18: the FULL schema vocabulary gate (r16) ------------------
    // q214 covers person_schema's basics (required / int / min / max /
    // enum / minLength); the reference's `complex_schema` fixture
    // (spec/json_mode_spec.rb:378-406) also exercises nested-object
    // required (summary.title/content under a `required` list),
    // maxLength / minLength on the nested strings, array + items +
    // minItems/maxItems (tags), number (float) bounds (confidence
    // 0.0–1.0), and format: date-time (created_at) — plus format:
    // email from the same JSON-schema format registry (VERDICT r15
    // item 2 names both). One planted violation class per NEW
    // constraint, every class non-empty at every SF, precedence
    // mirrored in the oracle's CASE chain exactly as q214 does. The
    // fake's JSON is a pure function of doc_id alone, so every
    // verdict column derives from first principles in DuckDB.
    "q252_llm_schema_validate_complex" -> Q(
      fn = (s, d) => {
        import graft.pipeline.SchemaValidate
        import graft.pipeline.SchemaValidate._
        val checked = SchemaValidate.verdicts(
          complexEnriched(s, d, "schema-validate-complex"), "j", Seq(
          "ok_objtype" -> ObjType("summary"),
          "ok_req_title" -> Required("summary.title"),
          "ok_maxlen_title" -> MaxLength("summary.title", 100),
          "ok_req_content" -> Required("summary.content"),
          "ok_minlen_content" -> MinLength("summary.content", 10),
          "ok_array" -> ArrayType("tags"),
          "ok_items" -> ItemsString("tags"),
          "ok_minitems" -> MinItems("tags", 1),
          "ok_maxitems" -> MaxItems("tags", 5),
          "ok_numtype" -> NumType("metadata.confidence"),
          "ok_minnum" -> MinNum("metadata.confidence", 0.0),
          "ok_maxnum" -> MaxNum("metadata.confidence", 1.0),
          "ok_datetime" -> Format("metadata.created_at", "date-time"),
          "ok_email" -> Format("contact_email", "email")))
        checked.select(
          (Seq(col("id")) ++
            Seq("ok_parse", "ok_objtype", "ok_req_title",
              "ok_maxlen_title", "ok_req_content", "ok_minlen_content",
              "ok_array", "ok_items", "ok_minitems", "ok_maxitems",
              "ok_numtype", "ok_minnum", "ok_maxnum", "ok_datetime",
              "ok_email", "valid").map(c => col(c).cast("long").as(c)) :+
            col("reason")): _*)
      },
      sql = Some(s"""
        WITH $ComplexFixtureSqlCte,
        f AS (
          SELECT id,
                 NOT corrupt AS ok_parse,
                 NOT corrupt AND NOT sumstr AS ok_objtype,
                 NOT corrupt AND NOT sumstr AS ok_req_title,
                 NOT corrupt AND NOT sumstr AND NOT titlelong
                   AS ok_maxlen_title,
                 NOT corrupt AND NOT sumstr AND NOT contentmiss
                   AS ok_req_content,
                 NOT corrupt AND NOT sumstr AND NOT contentmiss
                   AND NOT contentshort AS ok_minlen_content,
                 NOT corrupt AND tagk <> 'str' AS ok_array,
                 NOT corrupt AND tagk NOT IN ('str', 'mixed') AS ok_items,
                 NOT corrupt AND tagk NOT IN ('str', 'empty')
                   AS ok_minitems,
                 NOT corrupt AND tagk NOT IN ('str', 'many')
                   AS ok_maxitems,
                 NOT corrupt AND confk <> 'prose' AS ok_numtype,
                 NOT corrupt AND confk NOT IN ('prose', 'neg')
                   AS ok_minnum,
                 NOT corrupt AND confk NOT IN ('prose', 'big')
                   AS ok_maxnum,
                 NOT corrupt AND NOT datebad AS ok_datetime,
                 NOT corrupt AND NOT emailbad AS ok_email
          FROM k)
        SELECT id,
               CAST(ok_parse AS BIGINT) AS ok_parse,
               CAST(ok_objtype AS BIGINT) AS ok_objtype,
               CAST(ok_req_title AS BIGINT) AS ok_req_title,
               CAST(ok_maxlen_title AS BIGINT) AS ok_maxlen_title,
               CAST(ok_req_content AS BIGINT) AS ok_req_content,
               CAST(ok_minlen_content AS BIGINT) AS ok_minlen_content,
               CAST(ok_array AS BIGINT) AS ok_array,
               CAST(ok_items AS BIGINT) AS ok_items,
               CAST(ok_minitems AS BIGINT) AS ok_minitems,
               CAST(ok_maxitems AS BIGINT) AS ok_maxitems,
               CAST(ok_numtype AS BIGINT) AS ok_numtype,
               CAST(ok_minnum AS BIGINT) AS ok_minnum,
               CAST(ok_maxnum AS BIGINT) AS ok_maxnum,
               CAST(ok_datetime AS BIGINT) AS ok_datetime,
               CAST(ok_email AS BIGINT) AS ok_email,
               CAST(ok_parse AND ok_objtype AND ok_req_title
                    AND ok_maxlen_title AND ok_req_content
                    AND ok_minlen_content AND ok_array AND ok_items
                    AND ok_minitems AND ok_maxitems AND ok_numtype
                    AND ok_minnum AND ok_maxnum AND ok_datetime
                    AND ok_email AS BIGINT) AS valid,
               CASE WHEN NOT ok_parse THEN 'parse'
                    WHEN NOT ok_objtype THEN 'objtype:summary'
                    WHEN NOT ok_req_title THEN 'required:summary.title'
                    WHEN NOT ok_maxlen_title THEN 'maxLength:summary.title'
                    WHEN NOT ok_req_content THEN 'required:summary.content'
                    WHEN NOT ok_minlen_content
                      THEN 'minLength:summary.content'
                    WHEN NOT ok_array THEN 'array:tags'
                    WHEN NOT ok_items THEN 'items:tags'
                    WHEN NOT ok_minitems THEN 'minItems:tags'
                    WHEN NOT ok_maxitems THEN 'maxItems:tags'
                    WHEN NOT ok_numtype THEN 'number:metadata.confidence'
                    WHEN NOT ok_minnum THEN 'min:metadata.confidence'
                    WHEN NOT ok_maxnum THEN 'max:metadata.confidence'
                    WHEN NOT ok_datetime
                      THEN 'format:metadata.created_at'
                    WHEN NOT ok_email THEN 'format:contact_email'
                    ELSE '' END AS reason
        FROM f"""),
      scaleNote = "same cost model as q214 — the full vocabulary is still ONE row-local codegen'd projection (nested paths are just deeper JSONPath extractions of the same parsed text, array checks ride get_json_object's compact re-serialization + json_array_length, formats are rlike), so widening the schema widens the projection, never adds a pass or a shuffle; the constraint list IS data: SchemaValidate.fromSchema compiles the reference's own schema-YAML format (person_schema.yml / the complex_schema shape) into this list as a pure driver-side fold — SchemaCompileSpec pins it to reproduce exactly this query's hand-declared list, and q258 runs the COMPILED list under its own driver oracle — and the per-reason dead-letter dashboard (q227) picks up new classes with zero changes because reasons are strings"),

    // ----- E18: the COMPILED schema gate (r16) -------------------------
    // q252 validates with a hand-declared constraint list; this twin
    // validates the SAME fixture with the list COMPILED from the
    // schema YAML by SchemaValidate.fromSchema — schema file in,
    // verdict frame out, the way a production job consumes
    // json_schema_filepath. The compiled walk adds three structural
    // checks q252's fixture never violates (required:summary,
    // required:tags, objtype:metadata — each ≡ ok_parse on this
    // corpus, mirrored as such in the oracle), so the compiler's
    // OUTPUT — aliases, order, chaining — is driver-gated directly
    // every round, not just spec-pinned against the hand list.
    "q258_llm_schema_validate_compiled" -> Q(
      fn = (s, d) => {
        import graft.pipeline.SchemaValidate
        val enriched = complexEnriched(s, d, "schema-validate-compiled")
        val constraints = SchemaValidate.fromSchema(
          new org.yaml.snakeyaml.Yaml().load[Any](ComplexSchemaYaml))
        compiledVerdicts(enriched, constraints)
      },
      sql = Some(CompiledGateOracleSql),
      scaleNote = "schema file in, verdict frame out — the production json_schema_filepath path with zero hand-written constraints: fromSchema folds the YAML once on the driver, the compiled projection is the same single codegen'd pass as q252 (three more never-false columns on this corpus), and swapping the schema file re-plans the projection without touching code; the structural extras (required on the union members, objtype on optional objects) are exactly what a compiled gate adds over a hand list — the checks a human skips because 'it can't happen' until a model makes it happen"),

    // ----- E18: the schema-FILE loop, single-sourced (r17) -------------
    // VERDICT r16 item 1 / missing #1: q258 compiles an INLINE YAML;
    // the production path is `json_schema_filepath`, resolved and
    // loaded by JobConfig.load (JobConfig.scala:97-102, mirroring
    // reference lib/job_processor.rb:91-96) and injected into the
    // request (R8, rb:190-198). This query drives ONE schema file
    // through BOTH sides from the SAME loaded JobConfig: the REQUEST
    // side — FakeSchemaClient re-parses the exact serialized request
    // (the q251/FakeVisionClient move) and throws unless
    // response_format carries {type: json_object, schema: <the loaded
    // schema>} structurally equal to the config's own object, so a
    // dropped patch or any YAML→wire drift dead-letters and the
    // driver's hash mismatches — and the GATE side, compiled by
    // SchemaValidate.fromSchema from the same cfg. Same fixture and
    // q258's oracle VERBATIM: a user pointing a job at a schema file
    // now gets request and gate provably in lockstep.
    "q259_llm_schema_file_loop" -> Q(
      fn = (s, d) => {
        import graft.pipeline.SchemaValidate
        val cfg = graft.core.JobConfig.load(schemaLoopJobYaml)
        val schema = cfg.responseFormat match {
          case Some(graft.core.ResponseFormat.JsonSchema(sc)) => sc
          case other => throw new IllegalStateException(
            s"json_schema_filepath must load as JsonSchema, got $other")
        }
        val constraints = SchemaValidate.fromSchema(schema)
        val records = docRecords(s, d)
        val enriched = graft.pipeline.EnrichJob
          .run(records, cfg,
            new graft.llm.FakeSchemaClient(p =>
              fakeComplexJson(p.trim.toLong)),
            graft.pipeline.EnrichOptions(concurrency = 16))
          .good
          .select(col("id").cast("long").as("id"),
            element_at(col("texts"), cfg.outputLabel).as("j"))
        compiledVerdicts(enriched, constraints)
      },
      sql = Some(CompiledGateOracleSql),
      scaleNote = "closes the last seam in the schema story: the file is read ONCE on the driver (JobConfig.load — unlike the reference, which re-reads templates per record), the compiled constraint list is a driver-side fold, and both artifacts ship to executors as plain broadcast values, so the loop costs nothing per row at any corpus size; operationally this is the drift killer — request-side schema (what the model is ASKED to produce) and gate-side constraints (what the pipeline ACCEPTS) cannot diverge because both are projections of one loaded object, and swapping the schema file re-plans both sides with zero code changes; the request-structure contract sits INSIDE the driver hash via the re-parsing fake, the same move that oracled the multimodal branch (q251)"),

    // ----- E18/R11: the dead-letter REPLAY loop, catalog-gated (r17) ---
    // VERDICT r16 item 4: R11's recovery half (Jsonl.replayDeadLetter,
    // spec-only since r1) composed the q224 way — a planted subset
    // (doc_id % 9 == 0) fails TRANSPORT on pass 1 and dead-letters;
    // the dead-letter frame re-materializes through replayDeadLetter
    // and re-enriches against the recovered backend, which still
    // fails the systematic subset (doc_id % 27 == 0 — the outage that
    // outlives one replay). The report is the operational artifact a
    // yield dashboard wants: attempts, recovered flag, final status,
    // final text — every column a pure function of (doc_id, text), so
    // the WHOLE loop (fail-soft fork, record round-trip through the
    // dead-letter JSON envelope, second-pass enrich, residual dead
    // letters) sits under the driver's hash. EnrichJobSpec's
    // frugality test proves pass 2 touches ONLY the dead-lettered
    // subset (zero backend calls for already-good records).
    "q262_llm_deadletter_replay" -> Q(
      fn = (s, d) => {
        val records = docRecords(s, d)
        val cfg = graft.core.JobConfig(
          id = "deadletter-replay",
          erbTemplate = "<%= id %>|<%= texts[:content] %>",
          backendEndpoint = "http://fake", model = "fake",
          outputLabel = "summary", systemErbTemplate = None,
          params = Map.empty, useImages = false, responseFormat = None)
        // two faces of one backend: down for 9|id during pass 1, still
        // down for 27|id after "recovery" — answers mirror q241's
        // SQL-derivable shape (codePointCount ≡ DuckDB length())
        def face(prefix: String, failMod: Long): String => String = p => {
          val bar = p.indexOf('|')
          val docId = p.substring(0, bar).toLong
          if (docId % failMod == 0)
            throw new RuntimeException(s"transport down for $docId")
          val body = p.substring(bar + 1)
          s"$prefix:$docId:${body.codePointCount(0, body.length)}"
        }
        // maxRetries = 0: the retry ladder is q224/R7 coverage; HERE
        // the planted failure is deterministic, so retries would only
        // re-pay the fake thrice per dead letter
        val opts = graft.pipeline.EnrichOptions(
          concurrency = 16, maxRetries = 0)
        val first = graft.pipeline.EnrichJob.run(records, cfg,
          new graft.llm.FakeLlmClient(face("ENR", 9L)), opts)
        val replayed = graft.io.Jsonl.replayDeadLetter(s, first.deadLetter)
        val second = graft.pipeline.EnrichJob.run(replayed, cfg,
          new graft.llm.FakeLlmClient(face("REC", 27L)), opts)
        def shape(df: DataFrame, attempts: Int, recovered: Int,
            status: String) =
          df.select(col("id").cast("long").as("doc_id"),
            lit(attempts.toLong).as("attempts"),
            lit(recovered.toLong).as("recovered"),
            lit(status).as("status"),
            element_at(col("texts"), "summary").as("summary"))
        shape(first.good, 1, 0, "ok")
          .unionByName(shape(second.good, 2, 1, "ok"))
          .unionByName(second.deadLetter
            .select(col("id").cast("long").as("doc_id"),
              lit(2L).as("attempts"), lit(0L).as("recovered"),
              lit("dead").as("status"),
              lit(null).cast("string").as("summary")))
      },
      sql = Some("""
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(CASE WHEN doc_id % 9 = 0 THEN 2 ELSE 1 END AS BIGINT)
                 AS attempts,
               CAST(CASE WHEN doc_id % 9 = 0 AND doc_id % 27 <> 0
                    THEN 1 ELSE 0 END AS BIGINT) AS recovered,
               CASE WHEN doc_id % 27 = 0 THEN 'dead' ELSE 'ok' END
                 AS status,
               CASE WHEN doc_id % 27 = 0 THEN NULL
                    WHEN doc_id % 9 = 0
                      THEN 'REC:' || CAST(doc_id AS VARCHAR) || ':' ||
                           CAST(length(text) AS VARCHAR)
                    ELSE 'ENR:' || CAST(doc_id AS VARCHAR) || ':' ||
                         CAST(length(text) AS VARCHAR) END AS summary
        FROM documents"""),
      scaleNote = "replay work is proportional to the FAILURE set, never the corpus: pass 2's input is the dead-letter frame itself (re-parsed from the JSON envelope map-side — the envelope is the durable artifact a production job lands on the lake next to its output), so a 0.1% outage on 100 TB re-enriches 100 GB, and the loop composes with the idempotency cache (runCached) so even a replay of a MIXED slice re-pays only true failures; statuses partition the corpus exactly (ok+ok_recovered+dead = input count — the totality audit q224 runs inside one pass, here run across passes), and the residual dead-letter frame feeds the next replay unchanged, making recovery idempotent and incremental"),

    // ----- R6/E18: the MULTIMODAL enrich path, catalog-gated (r16) -----
    // The one reference behavior no registered query re-gated every
    // round (VERDICT r15 item 1 / missing #1): use_images = true
    // routes each record's images through the content-parts branch
    // (reference build_message_content, lib/job_processor.rb:212-236;
    // docs/example/image_job.yml:11). Here the full pipeline runs a
    // vision job against FakeVisionClient, which re-parses the EXACT
    // serialized request and answers a pure function of (prompt, image
    // count, decoded image bytes) — so the request STRUCTURE itself is
    // under the oracle: a dropped image, a wrong data-URI prefix, a
    // missing text part, or images leaking into the empty-images
    // branch all change the verdict column. The corpus plants all
    // three branches by doc_id residue: %3==0 no images (the
    // plain-string content branch, rb:234-236), %3==1 one image,
    // %3==2 two. Payloads are CONSTRUCTED strings (base64 of
    // "A:<id>" / "B:<id>:<lang>") so count, byte total, and md5 all
    // derive from first principles in DuckDB; MultimodalEnrichSpec
    // drives REAL PNG bytes (the q237 corpus) through the same branch
    // and asserts the [{type:text},{type:image_url,…}] part shape
    // against spec/image_processing_spec.rb:73-89.
    "q251_llm_multimodal_enrich" -> Q(
      fn = (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val img1 = base64(encode(
          concat(lit("A:"), col("doc_id").cast("string")), "UTF-8"))
        val img2 = base64(encode(
          concat(lit("B:"), col("doc_id").cast("string"), lit(":"),
            col("lang")), "UTF-8"))
        val records = docs.select(
          col("doc_id").cast("string").as("id"),
          map(lit("content"), col("text")).as("texts"),
          when(col("doc_id") % 3 === 0, array().cast("array<string>"))
            .when(col("doc_id") % 3 === 1, array(img1))
            .otherwise(array(img1, img2)).as("images"))
        val cfg = graft.core.JobConfig(
          id = "vision-enrich",
          erbTemplate = "describe doc <%= id %>",
          backendEndpoint = "http://fake", model = "fake",
          outputLabel = "caption", systemErbTemplate = None,
          params = Map.empty, useImages = true, responseFormat = None)
        graft.pipeline.EnrichJob
          .run(records, cfg, new graft.llm.FakeVisionClient(),
            graft.pipeline.EnrichOptions(concurrency = 16))
          .good
          .select(col("id").cast("long").as("doc_id"),
            element_at(col("texts"), "caption").as("caption"))
      },
      sql = Some("""
        SELECT doc_id,
               'caption[describe doc ' || CAST(doc_id AS VARCHAR) ||
               ']: imgs=' ||
               CAST(CASE CAST(doc_id % 3 AS INTEGER)
                    WHEN 0 THEN 0 WHEN 1 THEN 1 ELSE 2 END AS VARCHAR) ||
               ';px=' ||
               CAST(CASE CAST(doc_id % 3 AS INTEGER)
                    WHEN 0 THEN 0
                    WHEN 1 THEN length('A:' || CAST(doc_id AS VARCHAR))
                    ELSE length('A:' || CAST(doc_id AS VARCHAR)) +
                         length('B:' || CAST(doc_id AS VARCHAR) ||
                                ':' || lang)
                    END AS VARCHAR) ||
               ';h=' ||
               CASE CAST(doc_id % 3 AS INTEGER)
                    WHEN 0 THEN md5('')
                    WHEN 1 THEN md5(
                      CAST(length('A:' || CAST(doc_id AS VARCHAR))
                        AS VARCHAR) || ':' ||
                      'A:' || CAST(doc_id AS VARCHAR))
                    ELSE md5(
                      CAST(length('A:' || CAST(doc_id AS VARCHAR))
                        AS VARCHAR) || ':' ||
                      'A:' || CAST(doc_id AS VARCHAR) ||
                      CAST(length('B:' || CAST(doc_id AS VARCHAR) ||
                                  ':' || lang) AS VARCHAR) || ':' ||
                      'B:' || CAST(doc_id AS VARCHAR) || ':' || lang)
               END AS caption
        FROM documents"""),
      scaleNote = "images ride the SAME executor-side mapPartitions stage as text enrich — base64 payloads are just wider records, so throughput still scales with partitions × per-partition concurrency and the data never routes through the driver; at 100 TB the payloads come off the lake as binary columns (q237's binaryFile ingest feeding base64() map-side, exactly this query's img columns), request size replaces request count as the rate-limit currency (batch by total bytes, not rows), and the idempotency cache (runCached) keys on the full request INCLUDING the image hash so re-ingested frames never re-pay vision-token prices; the deterministic fake re-parses the serialized request, which is what puts the content-parts CONTRACT — not just the verdict — under the driver's hash"),

    // ----- E18: validate-and-REPAIR enrich loop (r14) -----------------
    // q214 gates LLM output; this closes the loop (VERDICT r13 item
    // 4): the gate's dead-letter routes back through ONE bounded
    // re-prompt with the violation reason injected into the retry
    // template ("FIX(reason)|id|text"), then re-validates — the
    // production validate → re-ask → re-validate pattern that turns
    // the QA gate into a yield-recovery operator
    // (pipeline/ValidateRepair.scala). The fake's retry face repairs
    // deterministically — EXCEPT the enum violation, where it doubles
    // down (the systematic-failure class no retry fixes) — so every
    // report column (attempts, both verdicts, both reasons) is a pure
    // function of (doc_id, text) and fully DuckDB-oracled.
    // EnrichJobSpec proves the loop never re-asks passing records
    // (counting client) and terminates at attempts ≤ 2 by
    // construction.
    "q224_llm_validate_repair" -> Q(
      fn = (s, d) => validateRepairReport(s, d),
      sql = Some(s"""
        WITH $RepairFixtureSqlCtes
        SELECT id,
               CAST(CASE WHEN reason_first = '' THEN 1 ELSE 2 END
                 AS BIGINT) AS attempts,
               CAST(reason_first = '' AS BIGINT) AS valid_first,
               CAST(reason_first = '' OR NOT langodd AS BIGINT)
                 AS valid_final,
               reason_first,
               CASE WHEN reason_first <> '' AND langodd
                    THEN 'enum:lang' ELSE '' END AS reason_final
        FROM r"""),
      scaleNote = "the retry pass touches |first-pass failures| records, never the corpus — the loop's cost is proportional to the defect rate, and both passes are the same executor-side mapPartitions enrich stage with the codegen'd validation projection on top (zero shuffles beyond the one |failures|-sized re-enrich and its verdict join back); at 100 TB run it on EnrichJob.runCached so retried prompts are idempotency-cached across job restarts, and the (reason_first → repaired?) fold of this report IS the model-quality dashboard — REGISTERED as q227"),

    // ----- E18: the per-reason repair-rate dashboard (r14) ------------
    // The fold q214's and q224's scaleNotes both named: the alerting
    // surface a production enrich pipeline actually watches. Per
    // first-pass violation class — plus the ALL row (q182's stance) —
    // how many records failed, how many the bounded re-ask recovered,
    // how many stayed dead, and the repair rate in exact ppm. On this
    // fixture the readout demonstrates the operator's point: the
    // transient classes (parse / type / min / max / required /
    // minLength) repair dominantly — short of 1e6 ppm only where a
    // record ALSO carries the enum violation the first-reason
    // precedence hid — while enum:lang repairs at exactly 0 (the
    // model doubles down — the systematic class where alerting, not
    // retrying, is the fix).
    "q227_repair_dashboard" -> Q(
      fn = (s, d) => {
        val rep = validateRepairReport(s, d)
          .filter(col("reason_first") =!= "")
          .localCheckpoint() // one loop run feeds both the per-reason
                             // rows and the ALL row
        val per = rep.groupBy(col("reason_first"))
          .agg(count(lit(1)).as("n_failed"),
            sum(col("valid_final")).as("n_repaired"))
        per.unionByName(
            rep.agg(count(lit(1)).as("n_failed"),
              sum(col("valid_final")).as("n_repaired"))
              .select(lit("ALL").as("reason_first"),
                col("n_failed"), col("n_repaired")))
          .select(col("reason_first"), col("n_failed"), col("n_repaired"),
            (col("n_failed") - col("n_repaired")).as("n_still_dead"),
            expr("n_repaired * CAST(1000000 AS BIGINT) DIV n_failed")
              .as("repair_ppm"))
      },
      sql = Some(s"""
        WITH $RepairFixtureSqlCtes,
        f AS (SELECT reason_first,
                     CAST(CASE WHEN NOT langodd THEN 1 ELSE 0 END
                       AS BIGINT) AS repaired
              FROM r WHERE reason_first <> ''),
        per AS (
          SELECT reason_first, count(*) AS n_failed,
                 CAST(sum(repaired) AS BIGINT) AS n_repaired
          FROM f GROUP BY 1
          UNION ALL
          SELECT 'ALL', count(*), CAST(sum(repaired) AS BIGINT) FROM f)
        SELECT reason_first, n_failed, n_repaired,
               n_failed - n_repaired AS n_still_dead,
               n_repaired * 1000000 // n_failed AS repair_ppm
        FROM per"""),
      scaleNote = "one |reasons|-row fold of q224's report (seven classes + ALL at any corpus size — the group-by key is the schema's constraint vocabulary, not the data), so the dashboard costs a map-side partial aggregate on top of the loop it monitors; at 100 TB this frame IS the alert stream: repair_ppm falling on a transient class means the backend degraded, enum classes sitting at 0 ppm mean the schema and the model disagree systematically and a human, not a retry budget, owns the fix"),

    // ----- E18: self-consistency majority vote (r14) ------------------
    // The ensembling half of the LLM-judge story: q77 filters on ONE
    // judge call; production labeling pipelines ask k times (sampled
    // variants of the same prompt) and take the MAJORITY — the
    // self-consistency pattern that turns a noisy judge into a stable
    // labeler. Each document fans out to 3 seeded prompts
    // ("doc_id#seed"); the deterministic fake answers a label that is
    // a pure md5 function of the prompt (first hex digit mod 3 →
    // approve/reject/revise — the same digit arithmetic DuckDB
    // mirrors via strpos, OracleSql.hexN's trick), so the whole
    // report — winning vote, its count, label diversity, unanimity —
    // is fully oracled. The vote argmax is windowless and
    // tie-deterministic: min(struct(-cnt, label)) picks the
    // lexicographically-smallest label among tied counts (an
    // all-distinct 1/1/1 ballot resolves the same way in both
    // engines), never a row_number over the corpus.
    "q231_llm_majority_vote" -> Q(
      fn = (s, d) => {
        val records = Tables.load(s, d, "documents")
          .select(col("doc_id"),
            explode(array(lit(0), lit(1), lit(2))).as("seed"))
          .select(
            concat(col("doc_id").cast("string"), lit("#"),
              col("seed").cast("string")).as("id"),
            map(lit("content"), lit("")).as("texts"),
            array().cast("array<string>").as("images"))
        val cfg = graft.core.JobConfig(
          id = "majority-vote",
          erbTemplate = "<%= id %>",
          backendEndpoint = "http://fake", model = "fake",
          outputLabel = "verdict", systemErbTemplate = None,
          params = Map.empty, useImages = false,
          responseFormat = Some(graft.core.ResponseFormat.JsonMode))
        // deterministic fake judge: label = md5(prompt) first hex
        // digit mod 3 — pure function of (doc_id, seed), SQL-mirrored
        val fake = new graft.llm.FakeLlmClient(p => {
          val md = java.security.MessageDigest.getInstance("MD5")
          val hex = md.digest(p.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          val labels = Vector("approve", "reject", "revise")
          val lab = labels(Integer.parseInt(hex.substring(0, 1), 16) % 3)
          s"""{"label": "$lab"}"""
        })
        val ballots = graft.pipeline.EnrichJob
          .run(records, cfg, fake,
            graft.pipeline.EnrichOptions(concurrency = 16))
          .good
          .select(
            substring_index(col("id"), "#", 1).cast("long").as("doc_id"),
            get_json_object(element_at(col("texts"), "verdict"),
              "$.label").as("label"))
        ballots
          .groupBy(col("doc_id"), col("label"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("doc_id"))
          .agg(
            min(struct((-col("cnt")).as("negcnt"), col("label"))).as("m"),
            max(col("cnt")).cast("long").as("votes"),
            count(lit(1)).cast("long").as("n_labels"))
          .select(col("doc_id"), col("m.label").as("vote"),
            col("votes"), col("n_labels"),
            (col("votes") === 3).cast("long").as("unanimous"))
      },
      sql = Some("""
        WITH s AS (
          SELECT doc_id, seed
          FROM documents CROSS JOIN (SELECT unnest([0, 1, 2]) AS seed)),
        v AS (
          SELECT doc_id,
                 CASE (strpos('0123456789abcdef',
                        substr(md5(CAST(doc_id AS VARCHAR) || '#' ||
                                   CAST(seed AS VARCHAR)), 1, 1)) - 1) % 3
                   WHEN 0 THEN 'approve'
                   WHEN 1 THEN 'reject'
                   ELSE 'revise' END AS label
          FROM s),
        c AS (SELECT doc_id, label, count(*) AS cnt
              FROM v GROUP BY 1, 2)
        SELECT doc_id,
               first(label ORDER BY cnt DESC, label ASC) AS vote,
               CAST(max(cnt) AS BIGINT) AS votes,
               CAST(count(*) AS BIGINT) AS n_labels,
               CAST(max(cnt) = 3 AS BIGINT) AS unanimous
        FROM c GROUP BY doc_id"""),
      scaleNote = "the fan-out is a 3× map-side explode (no shuffle — the k seeded asks ride the enrich stage's existing partitioning, and the LLM calls dominate any data cost by orders of magnitude); the ballot fold is two map-side-partial aggregates on doc_id — the first collapses 3k rows to ≤3 per doc BEFORE the exchange, the second is the windowless min(struct) argmax, so majority voting adds ZERO corpus-sized shuffles to the judge pipeline; at 100 TB k rides the cost knob (k× API spend for quadratically-suppressed label noise), ties surface as n_labels = k for an audit queue, and EnrichJob.runCached dedups re-asked (doc, seed) prompts across restarts"),

    // ----- multimodal: perceptual-hash image near-dup ---------------
    "q58_image_neardup" -> Q(
      fn = (s, d) => {
        import s.implicits._
        // deterministic synthetic media corpus (no media files ship in
        // the test data) whose image rows carry REAL PNG bytes, decoded
        // through the REAL javax.imageio codec — no stub anywhere in
        // this registered path. Byte-identical duplicate images are
        // planted every 7th image. Corpus size is an explicit per-SF
        // choice (test runtime), not a path-suffix sniff — an
        // unrecognized dir fails loudly instead of silently picking a
        // size
        val n = mediaCorpusSize("q58", d)
        val base = graft.multimodal.Media.syntheticEncoded(s, n)
        val planted = base.union(
          base.filter(r => r.kind == "image" && r.media_id % 7 == 0)
            .map(r => r.copy(media_id = r.media_id + 1000000L)))
        graft.multimodal.Media.imageNearDup(
          planted, new graft.multimodal.Media.ImageIoCodec())
      },
      // The oracle regenerates the PIXELS themselves: synthetic images
      // are seeded java.util.Random noise and PNG is lossless, so
      // decode(encode(px)) == px, and the whole decode → BT.601 luma →
      // pooled-feature → aHash pipeline is mirrorable arithmetic.
      //   * LCG: state' = (state·0x5DEECE66D + 0xB) mod 2^48 (HUGEINT —
      //     the 83-bit product overflows BIGINT); nextInt(2^24) ≡
      //     state' >> 24 for a power-of-two bound.
      //   * float32 discipline (q105's stance, applied per-op): every
      //     engine-side float add/mul rounds to 24 bits, and the exact
      //     double result of a two-float op re-rounds to the identical
      //     float, so CAST(… AS FLOAT) after each step is bit-exact.
      //     The sequential accumulation order (pixel index, then dim
      //     index) is pinned with list(… ORDER BY …) + list_reduce.
      //   * banding is dropped on the oracle side: recall ≤ hamming 7
      //     is a pigeonhole GUARANTEE, so candidate-join + filter ≡
      //     all-pairs + filter over the same phashes (tiny corpus).
      //   * corpus size keys off lineitem's cardinality (6k / 60k /
      //     600k at sf0.001/0.01/0.1) — the SQL analogue of the
      //     engine's explicit per-SF-dir size switch.
      // Validated bit-exact vs an independent numpy float32 replica on
      // every phash bit of both corpus sizes.
      sql = Some(ImageNearDupOracleSql),
      scaleNote = "image dedup at 100 TB: decode (real javax.imageio) + phash is one map pass; candidates come from the 8-band (band,key) equi-join with pigeonhole-guaranteed recall ≤ hamming 7 — never a cartesian; the file-system ingest half of this pipeline (spark.read binaryFile → decode) is REGISTERED as q237 under this oracle VERBATIM"),

    // ----- E1 + multimodal: binaryFile ingest (r14) -------------------
    // q58 pipes in-memory PNG bytes; a REAL multimodal pipeline starts
    // from files on storage. This registers Spark's binaryFile source
    // — the ingest format the E1 row was missing for the media story:
    // the identical planted image corpus is staged ONCE as .png files
    // under a content-deterministic /tmp dir (fixture creation, the
    // production analogue being the lake's object store), then the
    // registered path is spark.read.format("binaryFile") → media_id
    // parsed from the file path → the same ImageIoCodec decode →
    // banded-phash near-dup. PNG is lossless and the staging writes
    // the exact bytes, so the output is BYTE-IDENTICAL to q58's and
    // carries q58's oracle VERBATIM (the q216/q220 police-each-other
    // stance): any divergence in the file round-trip, the path parse,
    // or pushdown on the binary schema hash-mismatches.
    "q237_binaryfile_ingest" -> Q(
      fn = (s, d) => {
        import s.implicits._
        val n = mediaCorpusSize("q237", d)
        val base = graft.multimodal.Media.syntheticEncoded(s, n)
        val planted = base.union(
          base.filter(r => r.kind == "image" && r.media_id % 7 == 0)
            .map(r => r.copy(media_id = r.media_id + 1000000L)))
          .filter(_.kind == "image")
        // stage as files — deterministic bytes keyed only by n, so the
        // dir is reusable across runs and SF dirs with the same n;
        // collect() is fixture CREATION (≤600 tiny PNGs), not the
        // registered read path. The staging RECONCILES the dir against
        // the exact expected (name → bytes) set (ADVICE r14): strays
        // from an older corpus definition are deleted (the glob would
        // otherwise inject them as rows), staleness is judged on
        // CONTENT, never length, and every write lands via
        // temp-file + atomic rename so a concurrent reader observes
        // whole files only (concurrent stagers write identical bytes,
        // so last-rename-wins is benign)
        val dir = new java.io.File(s"/tmp/graft_binfiles/n$n")
        dir.mkdirs()
        val expected = planted.collect()
          .map(r => f"media_${r.media_id}%08d.png" -> r.bytes).toMap
        Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(f => f.getName.endsWith(".png") &&
            !expected.contains(f.getName))
          .foreach(_.delete())
        expected.foreach { case (name, bytes) =>
          val f = new java.io.File(dir, name)
          val fresh = try f.exists() && java.util.Arrays.equals(
            java.nio.file.Files.readAllBytes(f.toPath), bytes)
          catch { case _: java.io.IOException => false }
          if (!fresh) {
            // suffix .tmp keeps half-written files out of the *.png glob
            val tmp = java.nio.file.Files.createTempFile(
              dir.toPath, name, ".tmp")
            // a throw between create and move would otherwise orphan
            // the .tmp forever (the stray sweep above matches *.png
            // only) — deleteIfExists is a no-op after a successful move
            try {
              java.nio.file.Files.write(tmp, bytes)
              java.nio.file.Files.move(tmp, f.toPath,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            } finally java.nio.file.Files.deleteIfExists(tmp)
          }
        }
        // the registered ingest: binary files in, near-dup report out
        val media = s.read.format("binaryFile")
          .option("pathGlobFilter", "*.png")
          .load(dir.getAbsolutePath)
          .select(
            regexp_extract(input_file_name(), "media_(\\d+)\\.png", 1)
              .cast("long").as("media_id"),
            col("content").as("bytes"))
          .as[(Long, Array[Byte])]
          .map { case (id, bytes) =>
            graft.multimodal.Media.MediaRow(id, "image", bytes,
              // meta is advisory for image decode — the codec sniffs
              // the container from the bytes, as a lake ingest must
              graft.multimodal.Media.MediaMeta("png", 0, 0, 0, 0))
          }
        graft.multimodal.Media.imageNearDup(
          media, new graft.multimodal.Media.ImageIoCodec())
      },
      sql = Some(ImageNearDupOracleSql),
      scaleNote = "binaryFile is the lake-native ingest for opaque media: the source lists files distributed (one task per file batch, no driver-side directory walk at plan time beyond listing), `content` arrives as a binary column feeding the same decode→phash map pass as q58, and pruning works like any DSv2 source — pathGlobFilter and partition-dir predicates cut the listing, and a projection that drops `content` (e.g. a path/size audit) never reads the file bytes at all; at 100 TB the only knob that matters is spark.sql.files.maxPartitionBytes vs media file size (one 4 MB image per row — bin-packing small files into tasks is exactly what the source's file-batching does), and the staged-fixture collect() here is corpus CREATION, replaced in production by the object store itself"),

    // ----- multimodal: audio fingerprint near-dup -------------------
    // q58's audio sibling, and the second registered query on REAL
    // media bytes: the synthetic corpus's audio rows are actual WAVs
    // (PCM16 LCG noise), decoded through the REAL javax.sound codec.
    // The fingerprint is ALL-INTEGER (unlike the image phash's
    // per-op float32 mirror): decoded [-1,1] floats map back to their
    // exact s16 integers, 8 segment |amplitude| masses compare to the
    // total by cross-multiplication, and the 8 bits pack into an
    // integer signature. Near-dups are planted by zeroing ONE sample
    // of every 7th audio row (bytes 44-45, the first data-chunk
    // sample) — so the planted pair's fingerprints agree except when
    // that sample's mass sat on a segment-bit boundary, which is
    // exactly what the hamming ≤ 1 match tolerates.
    "q181_audio_neardup" -> Q(
      fn = (s, d) => {
        import s.implicits._
        val n = mediaCorpusSize("q181", d)
        val base = graft.multimodal.Media.syntheticEncoded(s, n)
        val planted = base.union(
          base.filter(r => r.kind == "audio" && r.media_id % 21 == 1)
            .map { r =>
              val b2 = r.bytes.clone()
              b2(44) = 0; b2(45) = 0 // first s16 of the data chunk → 0
              r.copy(media_id = r.media_id + 1000000L, bytes = b2)
            })
        graft.multimodal.Media.audioNearDup(
          planted, new graft.multimodal.Media.WavCodec())
      },
      // The oracle regenerates the SAMPLES: WAV is lossless PCM, the
      // generator is the q58 LCG (state' = (state·0x5DEECE66D + 0xB)
      // mod 2^48), and nextInt(65536) for a power-of-two bound is
      // state >> 32 — so every sample, segment mass, fingerprint bit
      // and hamming distance is exact integer arithmetic in both
      // engines. Banding drops on the oracle side (pigeonhole: ≤ 1
      // differing bit over 8 always shares one of 2 nibbles).
      sql = Some("""
        WITH RECURSIVE
        nn AS (SELECT CASE WHEN (SELECT count(*) FROM lineitem) < 30000
                           THEN 90 ELSE 600 END AS n),
        ids AS (
          SELECT CAST(i AS BIGINT) AS id, CAST(i AS BIGINT) AS seed
          FROM nn, range(0, 600) t(i) WHERE i < nn.n AND i % 3 = 1
          UNION ALL
          SELECT CAST(i + 1000000 AS BIGINT), CAST(i AS BIGINT)
          FROM nn, range(0, 600) t(i) WHERE i < nn.n AND i % 21 = 1),
        seeds AS (SELECT DISTINCT seed FROM ids),
        st(seed, p, s) AS (
          SELECT seed, -1,
                 CAST(xor(seed, 25214903917) % 281474976710656 AS HUGEINT)
          FROM seeds
          UNION ALL
          SELECT seed, p + 1,
                 CAST((s * 25214903917 + 11) % 281474976710656 AS HUGEINT)
          FROM st WHERE p < 1599),
        smp AS (SELECT seed, p,
                       CAST(s AS BIGINT) // 4294967296 - 32768 AS s16
                FROM st WHERE p >= 0),
        persamp AS (
          SELECT i.id, m.p,
                 abs(CASE WHEN i.id >= 1000000 AND m.p = 0
                          THEN 0 ELSE m.s16 END) AS a
          FROM smp m JOIN ids i USING (seed)),
        seg AS (SELECT id, p // 200 AS sg, CAST(sum(a) AS BIGINT) AS ss
                FROM persamp GROUP BY 1, 2),
        tot AS (SELECT id, CAST(sum(ss) AS BIGINT) AS total FROM seg GROUP BY 1),
        fp AS (SELECT seg.id,
                      CAST(sum(CASE WHEN ss * 8 > total
                                    THEN (1 << CAST(sg AS INT)) ELSE 0 END)
                           AS BIGINT) AS fp
               FROM seg JOIN tot USING (id) GROUP BY 1)
        SELECT a.id AS id1, b.id AS id2, a.fp AS fp1, b.fp AS fp2,
               CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
        FROM fp a JOIN fp b ON a.id < b.id
        WHERE bit_count(xor(a.fp, b.fp)) <= 1"""),
      scaleNote = "audio dedup at 100 TB: the real-codec decode + integer fingerprint is one map pass (the fingerprint is 8 bytes of state per clip whatever its length); candidates come from the 2-nibble (band, key) equi-join with pigeonhole recall ≤ hamming 1 — never a cartesian, and the signature frame is the persistable artifact an incremental ingest folds into"),

    // ----- multimodal: video frame-dup detection (REAL codec) -------
    // The third modality's registered query, closing the r10 verdict's
    // video item: the corpus's video rows are real MJPEG-AVIs (each
    // frame a javax.imageio JPEG inside the RIFF container) decoded by
    // the pure-JDK MjpegAviCodec — RIFF walk + per-frame imageio, no
    // stub anywhere in this path. Byte-identical clone clips are
    // planted every 7th video id; the query emits the EXACT-match
    // pairs (hamming 0). Unlike q58's PNG path, JPEG decode is lossy
    // and not SQL-mirrorable, so the oracle predicts the planted pair
    // set arithmetically rather than reconstructing phashes — the gate
    // still pins container round-trip determinism (clone bytes must
    // decode to the identical phash), banding recall at hamming 0
    // (all 8 bands equal), and zero accidental exact collisions; the
    // hamming ≤ 7 near-miss recall (a re-encoded single-pixel tweak)
    // is spec-gated in MediaSpec's videoNearDup test.
    "q189_video_neardup" -> Q(
      fn = (s, d) => {
        import s.implicits._
        val n = mediaCorpusSize("q189", d)
        val base = graft.multimodal.Media.syntheticEncoded(s, n)
        val planted = base.union(
          base.filter(r => r.kind == "video" && r.media_id % 7 == 0)
            .map(r => r.copy(media_id = r.media_id + 1000000L)))
        graft.multimodal.Media.videoNearDup(
            planted, new graft.multimodal.Media.MjpegAviCodec())
          .filter(col("hamming") === 0)
      },
      // video rows sit at id % 3 = 2; plants at id % 7 = 0 ⇒ the
      // planted clone pairs are exactly id % 21 = 14 (CRT), each
      // emitted as (id, id + 1e6) with hamming 0. Corpus size keys off
      // lineitem's cardinality — q58's SQL analogue of the engine's
      // explicit per-SF-dir switch.
      sql = Some("""
        WITH nn AS (SELECT CASE WHEN (SELECT count(*) FROM lineitem) < 30000
                           THEN 90 ELSE 600 END AS n)
        SELECT CAST(i AS BIGINT) AS id1,
               CAST(i + 1000000 AS BIGINT) AS id2,
               CAST(0 AS INT) AS hamming
        FROM nn, range(0, 600) t(i)
        WHERE i < nn.n AND i % 21 = 14"""),
      scaleNote = "video dedup at 100 TB: decode (real per-frame JPEG via the RIFF walk) + pooled phash is one map pass per clip — the phash is 8 bytes of state whatever the clip length; candidates come from the same 8-band (band, key) equi-join as q58 with pigeonhole recall ≤ hamming 7 — never a cartesian, and frame-level dedup falls out of the same machinery by exploding clips into (clip, frame_idx, frame-phash) rows first"),

    // ----- multimodal: video scene-cut detection (r12, REAL codec) --
    // Shot-boundary detection — the canonical FIRST step of video
    // curation (keyframe-per-shot sampling before captioning /
    // embedding / dedup; q189 dedups whole clips, this segments
    // inside one). Detector: mean |Δluma| between consecutive
    // MjpegAviCodec-decoded frames > 0.1. Planted scene structure
    // (the q189 stance — JPEG decode is real and therefore not
    // SQL-mirrorable, so the oracle PREDICTS the planted answer):
    // every video row with media_id % 5 == 1 spawns a 6-frame clip —
    // one seeded-random JPEG repeated ×3 (scene A), another ×3
    // (scene B). Repeated frames are byte-identical, decode to
    // IDENTICAL luma planes, and give deltas of exactly 0 — the four
    // intra-scene transitions are built-in negatives the threshold
    // must NOT fire on — while the A→B transition at frame 3 is two
    // independent noise frames (mean |Δ| ≈ 0.3 ≫ 0.1). Videos sit at
    // id % 3 = 2, plants at id % 5 = 1 ⇒ planted ids are exactly
    // id % 15 = 11 (CRT), each emitting ONE cut at frame 3.
    "q204_video_scene_cuts" -> Q(
      fn = (s, d) => {
        import s.implicits._
        val n = mediaCorpusSize("q204", d)
        val base = graft.multimodal.Media.syntheticEncoded(s, n)
        val planted = base
          .filter(r => r.kind == "video" && r.media_id % 5 == 1)
          .map { r =>
            def jpeg(seed: Long): Array[Byte] = {
              val rnd = new scala.util.Random(seed)
              val img = new java.awt.image.BufferedImage(
                16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
              var y = 0
              while (y < 16) {
                var x = 0
                while (x < 16) { img.setRGB(x, y, rnd.nextInt(0x1000000)); x += 1 }
                y += 1
              }
              val fb = new java.io.ByteArrayOutputStream()
              if (!javax.imageio.ImageIO.write(img, "jpg", fb))
                sys.error("no JPEG writer registered — JDK imageio missing?")
              fb.toByteArray
            }
            val a = jpeg(r.media_id)
            val b = jpeg(r.media_id + 7777L)
            r.copy(media_id = r.media_id + 2000000L,
              bytes = graft.multimodal.Media.encodeMjpegAvi(
                Seq(a, a, a, b, b, b), 16, 16),
              meta = graft.multimodal.Media.MediaMeta("mjpeg-avi", 16, 16, 6, 0))
          }
        graft.multimodal.Media.sceneCuts(planted,
            new graft.multimodal.Media.MjpegAviCodec())
          .select(col("media_id"), col("cut_idx"))
      },
      sql = Some("""
        WITH nn AS (SELECT CASE WHEN (SELECT count(*) FROM lineitem) < 30000
                           THEN 90 ELSE 600 END AS n)
        SELECT CAST(i + 2000000 AS BIGINT) AS media_id,
               CAST(3 AS INT) AS cut_idx
        FROM nn, range(0, 600) t(i)
        WHERE i < nn.n AND i % 15 = 11"""),
      scaleNote = "segmentation is embarrassingly map-side: one decode pass per clip, one running previous-frame buffer (w·h floats of state however long the clip), zero shuffles — the output (clip, cut_idx) frame is exactly what downstream keyframe extraction explodes on; at 100 TB the only knobs are decode parallelism (clips per partition) and the threshold, and the per-shot keyframe table it feeds is dimension-sized next to the raw video bytes"),

    // ----- E1 layout: Z-order (Morton) multi-dimension clustering ---
    // LayoutSpec's range-clustering demo skips row groups on ONE
    // column; real warehouses filter on several. Z-order interleaves
    // the bits of two keys so that sorting on the single derived zval
    // bounds the min/max span of BOTH keys inside every file — the
    // Delta/Iceberg Z-ORDER primitive, built here from codegen'd
    // shiftleft/and/or (no UDF). The query emits the locality witness
    // itself: per zval-range bucket, the row count and both keys'
    // spans — the exact footer min/max a reader would prune on.
    "q124_zorder_layout" -> Q(
      fn = (s, d) => {
        // range-quantize BOTH keys into 8 bits first: interleaving raw
        // keys of unequal bit width degenerates (the wider key owns
        // every high bit, so z-order collapses to a 1-D sort on it).
        // Integer arithmetic end-to-end — (k*256) div (max+1) — keeps
        // the oracle bit-exact at any SF.
        val li = Tables.load(s, d, "lineitem")
          .select(col("l_partkey").as("xr"), col("l_suppkey").as("yr"))
        val m = li.agg(max(col("xr")).as("mx"), max(col("yr")).as("my"))
        li.crossJoin(broadcast(m))
          .select(expr("(xr * 256) div (mx + 1)").as("x"),
            expr("(yr * 256) div (my + 1)").as("y"))
          .withColumn("zval", zInterleave(col("x"), col("y"), bits = 8))
          .withColumn("bucket", shiftright(col("zval"), 8))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"),
            min(col("x")).as("min_x"), max(col("x")).as("max_x"),
            min(col("y")).as("min_y"), max(col("y")).as("max_y"))
      },
      sql = Some(s"""
        WITH m AS (
          SELECT max(l_partkey) AS mx, max(l_suppkey) AS my FROM lineitem),
        pts AS (
          SELECT (l_partkey * 256) // (mx + 1) AS x,
                 (l_suppkey * 256) // (my + 1) AS y
          FROM lineitem, m),
        z AS (SELECT x, y, ${zInterleaveSql("x", "y", bits = 8)} AS zval FROM pts)
        SELECT zval >> 8 AS bucket, count(*) AS n,
               min(x) AS min_x, max(x) AS max_x,
               min(y) AS min_y, max(y) AS max_y
        FROM z GROUP BY 1"""),
      scaleNote = "the 100 TB write path is zval → repartitionByRange(zval) → sortWithinPartitions(zval) → parquet, one range shuffle total; every produced file then carries tight footer min/max on BOTH keys (each bucket here fixes the top 4 bits of each dimension → both spans ≤ 1/16 of the domain), so predicates on either dimension prune files — 1-D range clustering can only serve one. The max-based quantizer is one broadcast scalar; production uses rank/percentile bins so dense ranges don't alias"),

    // ----- E1: parquet aggregate pushdown (metadata-only scan) ------
    // The cheapest query a 100 TB warehouse ever runs: COUNT/MIN/MAX
    // answered from parquet FOOTER STATISTICS — zero row groups
    // decoded, I/O proportional to file count, not data size. Spark
    // ships this behind the DSv2 reader; the session default keeps the
    // v1 path, so the query opens its own child session (same
    // SparkContext, private SQLConf — Verify runs queries concurrently
    // and a shared-conf flip would race the other scans; the child is
    // memoized per parent so repeated Verify/bench/plan invocations
    // don't accumulate live sessions on the shared context). PlanSpec
    // asserts the scan really shows PushedAggregation and no row-level
    // aggregate runs above it. Timestamp/string columns are excluded
    // by the pushdown rules, so the witnesses are long + double.
    "q141_metadata_agg_pushdown" -> Q(
      fn = (s, d) => {
        val s2 = aggPushSession(s)
        s2.read.parquet(s"$d/lineitem.parquet")
          .agg(count(lit(1)).as("n_rows"),
            min(col("l_orderkey")).as("min_key"),
            max(col("l_orderkey")).as("max_key"),
            min(col("l_quantity")).as("min_qty"),
            max(col("l_quantity")).as("max_qty"))
      },
      sql = Some("""
        SELECT count(*) AS n_rows,
               min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
               min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        FROM lineitem"""),
      scaleNote = "the scan node itself answers the aggregate from footer stats (PushedAggregation) — at 100 TB that is thousands of footer reads instead of a full-corpus scan; falls back to a normal scan automatically the moment a predicate or an unsupported type enters the plan, so correctness never depends on the fast path"),

    // ----- E6 sketch family: KMV distinct + join-overlap estimation -
    // The statistic a cost-based planner needs that q43's HLL cannot
    // give: how many keys do two relations SHARE (the join's output
    // driver). K-minimum-values: hash every key (salt-keyed md5, the
    // q60 reproducibility discipline), keep the k smallest; the k-th
    // smallest hash, read as a fraction U of the hash space, gives
    // |distinct| ≈ (k-1)/U, and the fraction of the UNION's k-min set
    // present in both sides estimates the Jaccard, hence the
    // intersection. Every arithmetic step (12-hex-digit fraction,
    // one division, one multiply) is generated identically for both
    // engines, so the ESTIMATES themselves hash-match — and the exact
    // counts sit beside them in the output as the accuracy witness.
    // ----- E6: portable Bloom filter (replayable membership sketch) -
    // q84 proves Spark's built-in bloom JOIN PRUNING fires; this is
    // the sketch itself, built portable (q143's stance) so the oracle
    // rebuilds the SAME filter: m = 16384 bits as a distinct-positions
    // frame, k = 4 md5-derived hash positions per key. Probe set =
    // every BUILD key (orders' distinct custkeys — the set the filter
    // was actually built from, so zero-false-negatives is a structural
    // guarantee with NO corpus assumption; probing all customers would
    // silently depend on every customer having orders, already false
    // at sf0.1) plus a shifted guaranteed-non-member twin per build
    // key; a candidate passes iff all 4 positions are set. The two
    // hard Bloom properties are emitted as columns and spec-gated:
    // ZERO false negatives (every member passes — a guarantee, not a
    // probability), and the false-positive rate near the design point
    // (1-e^(-kn/m))^k ≈ 0.9%. All-integer arithmetic including the
    // rate: fp_ppm = n_false_pos·10⁶ div n_nonmembers (an emitted
    // DOUBLE ratio tripped the driver's cross-version hash gate in r8;
    // integer division has no rounding tie set).
    "q145_bloom_portable" -> Q(
      fn = (s, d) => {
        def posCol(j: Int, k: org.apache.spark.sql.Column) =
          pmod(conv(substring(md5(concat(lit(s"bl$j:"), k.cast("string"))),
            1, 12), 16, 10).cast("long"), lit(16384L))
        val keys = Tables.load(s, d, "orders")
          .select(col("o_custkey").as("k")).distinct()
          .localCheckpoint() // build set, reused as the member probe set
        val bits = keys
          .select(explode(array((0 until 4).map(j => posCol(j, col("k"))): _*))
            .as("pos"))
          .distinct()
          .localCheckpoint() // the filter — probed by the candidate rows
        val cands = keys.select(col("k"), lit(1L).as("is_member"))
          .unionByName(keys.select((col("k") + lit(1000000L)).as("k"),
            lit(0L).as("is_member")))
        val probes = cands.select(col("k"), col("is_member"),
          explode(array((0 until 4).map(j => posCol(j, col("k"))): _*)).as("pos"))
        val perKey = probes
          .join(broadcast(bits.withColumn("hit", lit(1L))), Seq("pos"), "left")
          .groupBy(col("k"), col("is_member"))
          .agg(sum(coalesce(col("hit"), lit(0L))).as("mc"))
        perKey.agg(
          sum(col("is_member")).as("n_members"),
          sum(lit(1L) - col("is_member")).as("n_nonmembers"),
          sum(when(col("is_member") === 1 && col("mc") === 4, 1L)
            .otherwise(0L)).as("n_member_pass"),
          sum(when(col("is_member") === 0 && col("mc") === 4, 1L)
            .otherwise(0L)).as("n_false_pos"))
          .select(col("n_members"), col("n_nonmembers"),
            col("n_member_pass"), col("n_false_pos"),
            expr("n_false_pos * CAST(1000000 AS BIGINT) DIV n_nonmembers")
              .as("fp_ppm"))
      },
      sql = Some(s"""
        WITH bk AS (SELECT DISTINCT o_custkey AS k FROM orders),
        js AS (SELECT unnest([0, 1, 2, 3]) AS j),
        bh AS (SELECT md5('bl' || j || ':' || CAST(k AS VARCHAR)) AS hh
               FROM bk, js),
        bits AS MATERIALIZED (
          SELECT DISTINCT ${kmvValSql("hh")} % 16384 AS pos FROM bh),
        cand AS (SELECT k, CAST(1 AS BIGINT) AS is_member FROM bk
                 UNION ALL
                 SELECT k + 1000000, CAST(0 AS BIGINT) FROM bk),
        chh AS (SELECT k, is_member,
                       md5('bl' || j || ':' || CAST(k AS VARCHAR)) AS hh
                FROM cand, js),
        ch AS (SELECT k, is_member, ${kmvValSql("hh")} % 16384 AS pos FROM chh),
        pk AS (SELECT k, is_member,
                      CAST(sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END)
                           AS BIGINT) AS mc
               FROM ch LEFT JOIN bits b ON ch.pos = b.pos
               GROUP BY 1, 2)
        SELECT CAST(sum(is_member) AS BIGINT) AS n_members,
               CAST(sum(1 - is_member) AS BIGINT) AS n_nonmembers,
               CAST(sum(CASE WHEN is_member = 1 AND mc = 4 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_member_pass,
               CAST(sum(CASE WHEN is_member = 0 AND mc = 4 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_false_pos,
               (CAST(sum(CASE WHEN is_member = 0 AND mc = 4 THEN 1 ELSE 0 END)
                     AS BIGINT)
                  * CAST(1000000 AS BIGINT))
                 // CAST(sum(1 - is_member) AS BIGINT) AS fp_ppm
        FROM pk"""),
      scaleNote = "the filter is ~2 KB of positions for 1.5k keys (m/8 bytes as a real bitset) and broadcasts to every probe task — at 100 TB this is the pre-join reduction for keys the built-in runtime filter can't see (cross-job, persisted, or shipped to another system); build is one distinct + map-side hash pass, probe is a broadcast join that drops (1 − fp) of the non-matching scan before the real join shuffles anything"),

    // ----- E6: portable HLL — the sketch the oracle can REPLAY ------
    // q43/q93 use Spark's built-in HLL++, whose register layout no
    // other engine reproduces — they are rows-only by necessity. This
    // is the constructive answer: a HyperLogLog built from PORTABLE
    // primitives (md5-derived 48-bit hash — the q133 discipline — and
    // a pure-integer leading-run CASE chain), so the DuckDB twin
    // rebuilds the SAME registers and the ESTIMATES hash-match
    // bit-for-bit. p = 9 → m = 512 registers; per-month sketches of
    // distinct customers, then a register-wise max MERGE into the
    // 'ALL' row — the q93 re-aggregation modality, now oracle-gated
    // end to end. Register sums Σ2^-M are EXACT doubles (512 values,
    // exponents in [-40, 0] — 50 mantissa bits), so only the
    // small-range ln() branch needs the round(,6) emit discipline.
    // Exact counts sit beside the estimates as the accuracy witness.
    "q143_hll_portable" -> Q(
      fn = (s, d) => {
        import org.apache.spark.sql.Column
        val keys = Tables.load(s, d, "orders")
          .select(date_format(col("o_orderdate"), "yyyy-MM").as("grp"),
            col("o_custkey").as("k"))
          .distinct()
          .localCheckpoint() // shared by the sketch and the exact witness
        val hashed = keys
          .select(col("grp"),
            conv(substring(md5(concat(lit("hll:"), col("k").cast("string"))),
              1, 12), 16, 10).cast("long").as("h"))
          .select(col("grp"),
            shiftright(col("h"), 39).as("bucket"),
            col("h").bitwiseAND(lit((1L << 39) - 1)).as("rem"))
        val rho = (1 to 39).foldRight(lit(40): Column)((i, els) =>
          when(col("rem") >= lit(1L << (39 - i)), lit(i)).otherwise(els))
        val regs = hashed.select(col("grp"), col("bucket"), rho.as("r"))
          .groupBy(col("grp"), col("bucket")).agg(max(col("r")).as("m"))
          .localCheckpoint() // reused by per-group AND merged estimates
        def estimate(df: DataFrame): DataFrame =
          df.groupBy(col("grp"))
            .agg(sum(pow(lit(2.0), -col("m"))).as("sp"),
              count(lit(1)).as("present"))
            .select(col("grp"), col("present").as("n_buckets"),
              ((lit(0.7213) / (lit(1.0) + lit(1.079) / lit(512.0)))
                * lit(262144.0)
                / (col("sp") + (lit(512) - col("present")).cast("double")))
                .as("raw"),
              (lit(512) - col("present")).as("v"))
            .select(col("grp"), col("n_buckets"),
              when(col("raw") <= lit(1280.0) && col("v") > 0,
                round(lit(512.0) * log(lit(512.0) / col("v").cast("double")), 6))
                .otherwise(round(col("raw"), 6)).as("est"))
        val perGroup = estimate(regs)
        val merged = estimate(
          regs.groupBy(col("bucket")).agg(max(col("m")).as("m"))
            .select(lit("ALL").as("grp"), col("bucket"), col("m")))
        val exactG = keys.groupBy(col("grp")).agg(count(lit(1)).as("n_exact"))
        val exactAll = keys.select(col("k")).distinct()
          .agg(count(lit(1)).as("n_exact"))
          .select(lit("ALL").as("grp"), col("n_exact"))
        perGroup.unionByName(merged)
          .join(exactG.unionByName(exactAll), Seq("grp"))
          .select(col("grp"), col("est"), col("n_buckets"), col("n_exact"))
      },
      sql = Some(s"""
        WITH keys AS MATERIALIZED (
          SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS grp,
                          o_custkey AS k
          FROM orders),
        hm AS (SELECT grp, md5('hll:' || CAST(k AS VARCHAR)) AS hh FROM keys),
        hx AS (SELECT grp, ${kmvValSql("hh")} AS h FROM hm),
        br AS (SELECT grp, h // ${1L << 39} AS bucket,
                      h % ${1L << 39} AS rem FROM hx),
        rg AS MATERIALIZED (
          SELECT grp, bucket, max($hllRhoSqlCase) AS m
          FROM br GROUP BY 1, 2),
        eg AS (SELECT grp, count(*) AS present,
                      sum(power(CAST(2 AS DOUBLE), -m)) AS sp
               FROM rg GROUP BY 1),
        em AS (SELECT 'ALL' AS grp, bucket, max(m) AS m FROM rg GROUP BY 2),
        ea AS (SELECT grp, count(*) AS present,
                      sum(power(CAST(2 AS DOUBLE), -m)) AS sp
               FROM em GROUP BY 1),
        es AS (SELECT grp, present AS n_buckets,
                      (CAST(0.7213 AS DOUBLE)
                        / (1.0 + CAST(1.079 AS DOUBLE) / 512.0)) * 262144.0
                        / (sp + CAST(512 - present AS DOUBLE)) AS raw,
                      512 - present AS v
               FROM (SELECT * FROM eg UNION ALL SELECT * FROM ea)),
        fin AS (SELECT grp, n_buckets,
                       CASE WHEN raw <= 1280.0 AND v > 0
                            THEN round(512.0 * ln(512.0 / CAST(v AS DOUBLE)), 6)
                            ELSE round(raw, 6) END AS est
                FROM es),
        ex AS (SELECT grp, count(*) AS n_exact FROM keys GROUP BY 1
               UNION ALL
               SELECT 'ALL', count(DISTINCT k) FROM keys)
        SELECT fin.grp, fin.est, fin.n_buckets, ex.n_exact
        FROM fin JOIN ex USING (grp)"""),
      scaleNote = "the sketch IS the shuffle: each group moves ≤ 512 (bucket, max-rho) rows whatever its cardinality, partial-aggregated map-side; merges are register-wise max — associative, so daily sketches roll into monthly/'ALL' without touching raw keys again (persist the 512-row frames, the q93 modality); estimates are O(m) arithmetic on the merged frame"),

    "q133_kmv_overlap" -> Q(
      fn = (s, d) => {
        val K = 256
        def keyed(df: DataFrame, c: String): DataFrame =
          df.select(col(c).cast("long").as("key")).distinct()
            .select(col("key"),
              md5(concat(lit("kmv:"), col("key").cast("string"))).as("h"))
            .localCheckpoint() // feeds k-min, membership and the exact count
        val ha = keyed(Tables.load(s, d, "orders"), "o_orderkey")
        val hb = keyed(Tables.load(s, d, "lineitem"), "l_orderkey")
        val frac = (h: org.apache.spark.sql.Column) =>
          conv(substring(h, 1, 12), 16, 10).cast("long")
            .cast("double") / lit(math.pow(16.0, 12))
        def est(hs: DataFrame): DataFrame =
          hs.select(col("h")).orderBy(col("h")).limit(K)
            .agg(max(col("h")).as("h"))
            .select(((lit(K - 1) / frac(col("h")))).as("e"))
        val hu = ha.select(col("h")).union(hb.select(col("h"))).distinct()
          .localCheckpoint()
        val ku = hu.orderBy(col("h")).limit(K).localCheckpoint()
        val inBoth = ku.join(ha.select(col("h")), Seq("h"), "left_semi")
          .join(hb.select(col("h")), Seq("h"), "left_semi")
          .agg(count(lit(1)).as("nb"))
        est(ha).withColumnRenamed("e", "est_a")
          .crossJoin(est(hb).withColumnRenamed("e", "est_b"))
          .crossJoin(est(hu).withColumnRenamed("e", "est_union"))
          .crossJoin(broadcast(inBoth))
          .crossJoin(broadcast(ha.agg(count(lit(1)).as("exact_a"))))
          .crossJoin(broadcast(hb.agg(count(lit(1)).as("exact_b"))))
          .select(lit(K).as("k"),
            col("est_a"), col("exact_a"), col("est_b"), col("exact_b"),
            (col("nb").cast("double") / lit(K) * col("est_union"))
              .as("est_inter"))
      },
      sql = Some(s"""
        WITH a AS (SELECT DISTINCT CAST(o_orderkey AS BIGINT) AS key FROM orders),
        b AS (SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS key FROM lineitem),
        ha AS (SELECT md5('kmv:' || CAST(key AS VARCHAR)) AS h FROM a),
        hb AS (SELECT md5('kmv:' || CAST(key AS VARCHAR)) AS h FROM b),
        hu AS (SELECT h FROM ha UNION SELECT h FROM hb),
        ka AS (SELECT max(h) AS h FROM (SELECT h FROM ha ORDER BY h LIMIT 256)),
        kb AS (SELECT max(h) AS h FROM (SELECT h FROM hb ORDER BY h LIMIT 256)),
        kumin AS (SELECT h FROM hu ORDER BY h LIMIT 256),
        ku AS (SELECT max(h) AS h FROM kumin),
        nb AS (SELECT count(*) AS nb FROM kumin
               WHERE h IN (SELECT h FROM ha) AND h IN (SELECT h FROM hb))
        SELECT 256 AS k,
               255 / (CAST(${kmvValSql("ka.h")} AS DOUBLE) / ${BigInt(16).pow(12)}) AS est_a,
               (SELECT count(*) FROM a) AS exact_a,
               255 / (CAST(${kmvValSql("kb.h")} AS DOUBLE) / ${BigInt(16).pow(12)}) AS est_b,
               (SELECT count(*) FROM b) AS exact_b,
               CAST(nb.nb AS DOUBLE) / 256 *
                 (255 / (CAST(${kmvValSql("ku.h")} AS DOUBLE) / ${BigInt(16).pow(12)})) AS est_inter
        FROM ka, kb, ku, nb"""),
      scaleNote = "KMV is a mergeable bounded-memory sketch: each partition keeps its k smallest hashes (TakeOrdered partial, k·16 bytes), merges keep the global k — one pass per relation, constant state, and set ALGEBRA (union/intersection estimates) that HLL union-only sketches cannot do; this is the join-size statistic a planner consults before choosing broadcast vs shuffle on derived keys that ANALYZE never profiled"),

    // ----- E6: portable Count-Min sketch (point-frequency sketch) ---
    // The frequency sketch the family still lacked: HLL (q143) counts
    // distincts, Bloom (q145) answers membership, MG (q100/q102)
    // finds heavy hitters above a threshold — Count-Min answers
    // "how often did THIS key occur" for EVERY key in bounded memory,
    // with the one-sided guarantee est ≥ exact (hash collisions only
    // ever ADD). d = 4 rows × w = 1024 columns of exact integer
    // counters, row hashes from the q133 portable md5 family, so the
    // DuckDB twin rebuilds the SAME 4096 counters and the estimates
    // hash-match bit-for-bit. Every build key is probed (q145's
    // build-set stance) with the exact count beside the estimate as
    // the accuracy witness, and the never-under guarantee emitted as
    // a column the gate checks on every row.
    "q165_countmin_sketch" -> Q(
      fn = (s, d) => {
        val keys = Tables.load(s, d, "orders").select(col("o_custkey").as("k"))
        val cells = cmsCells(keys)
          .localCheckpoint() // the sketch — d·w = 4096 cells
        val exact = keys.groupBy(col("k")).agg(count(lit(1)).as("exact"))
        exact
          .select(col("k"), col("exact"), explode(cmsPositions(col("k")))
            .as("jc"))
          .select(col("k"), col("exact"),
            col("jc.j").as("j"), col("jc.c").as("c"))
          .join(broadcast(cells), Seq("j", "c"))
          .groupBy(col("k"), col("exact"))
          .agg(min(col("cnt")).as("est"))
          .select(col("k").as("custkey"), col("exact"), col("est"),
            (col("est") - col("exact")).as("overest"),
            (col("est") >= col("exact")).cast("long").as("never_under"))
      },
      sql = Some(s"""
        WITH keys AS (SELECT o_custkey AS k FROM orders),
        js AS (SELECT unnest([0, 1, 2, 3]) AS j),
        bh AS (SELECT j, md5('cm' || j || ':' || CAST(k AS VARCHAR)) AS hh
               FROM keys, js),
        cells AS MATERIALIZED (
          SELECT j, ${kmvValSql("hh")} % 1024 AS c, count(*) AS cnt
          FROM bh GROUP BY 1, 2),
        ex AS (SELECT k, count(*) AS exact FROM keys GROUP BY 1),
        pr AS (SELECT k, exact, j,
                      ${kmvValSql("md5('cm' || j || ':' || CAST(k AS VARCHAR))")}
                        % 1024 AS c
               FROM ex, js)
        SELECT pr.k AS custkey, pr.exact, min(c2.cnt) AS est,
               min(c2.cnt) - pr.exact AS overest,
               CAST(min(c2.cnt) >= pr.exact AS BIGINT) AS never_under
        FROM pr JOIN cells c2 USING (j, c)
        GROUP BY 1, 2"""),
      scaleNote = "the sketch is one map-side explode (×d per row, 16-byte structs) into a d·w-cell partial aggregate — 4096 counters whatever the feed size, mergeable by cell-wise ADD (daily sketches roll up like q144's histograms); probing broadcasts the 4096-cell frame, so point estimates for any key set are map-side. The exact side exists for the GATE — at 100 TB you ship only the sketch and probe it for free"),

    // ----- E1/E4: bucketed tables — the shuffle-free co-located join
    // The storage-level answer to the join shuffle: both fact tables
    // written CLUSTERED BY their join key into the same bucket count,
    // so the sort-merge join reads bucket i against bucket i directly
    // — ZERO Exchange on either side (PlanSpec pins it). This is the
    // one join strategy whose cost survives any scale-up: no network
    // movement of either fact table, ever, at the price of one
    // bucketed write when the table lands. The `merge` hint keeps the
    // demonstration honest at test SF, where orders would otherwise
    // broadcast. Fresh JVMs rewrite once (in-memory catalog metadata
    // is per-JVM); within a JVM the table persists across sessions
    // via SharedState, guarded by the same per-site lock as the
    // roundTrip dirs.
    "q170_bucketed_join" -> Q(
      fn = (s, d) => {
        val o = bucketedTable(s, d, "orders", "o_orderkey")
        val l = bucketedTable(s, d, "lineitem", "l_orderkey")
        // exact integer revenue: cents × (100 - discount-percent) —
        // both 2-decimal doubles, so the products and the sum are
        // exact BIGINTs in both engines (no double-sum merge order)
        l.hint("merge")
          .join(o, l("l_orderkey") === o("o_orderkey"))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_items"),
            sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)") *
              (lit(100L) - expr("CAST(round(l_discount * 100) AS BIGINT)")))
              .as("revenue_e4"))
      },
      sql = Some("""
        SELECT o_orderstatus, count(*) AS n_items,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
                        (100 - CAST(round(l_discount * 100) AS BIGINT)))
                    AS BIGINT) AS revenue_e4
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1"""),
      scaleNote = "both sides pre-clustered on the join key: the SMJ consumes bucket i ⋈ bucket i with NO Exchange anywhere in the plan (PlanSpec-asserted) — the only join whose network cost is zero at 100 TB; the bucketed write is paid once at ingest and amortizes over every subsequent join/agg on the key, and sortBy metadata lets the merge read pre-sorted bucket files"),

    // ----- graph: q250's AQE-compatible spelling (r16) -----------------
    // q250 runs its zero-exchange PageRank loop with AQE OFF because
    // an adaptively-executed repartition does not carry its
    // partitioning through localCheckpoint (measured, documented
    // in-code there). This resolves the trade (VERDICT r15 item 3):
    // the edge frame stages into a BUCKETED table instead — q170's
    // CLUSTERED BY surface applied to a DERIVED frame — and bucket
    // layout survives AQE by construction, because it is scan
    // METADATA, not a shuffle stage adaptive execution could re-plan.
    // Every round's ShuffledHashJoin streams edges straight off the
    // bucket files with ZERO exchange above the scan, adaptive
    // execution stays ON for everything else (the skew/coalesce
    // machinery you want at 100 TB), and the loop, the arithmetic,
    // and the oracle are byte-shared with q113/q250
    // (Analytics.pagerankLoop — one definition). PlanSpec probes all
    // 5 rounds: AdaptiveSparkPlan present, bucketed scan, no
    // broadcast, edge subtree exchange-free.
    "q253_pagerank_bucketed_aqe" -> Q(
      fn = (s0, d) => {
        // broadcast off = the at-scale premise (ranks outgrow a
        // broadcast); q129's memoized child profile, AQE untouched (ON)
        val s = ChildSessions.get(s0, "no-broadcast") { s2 =>
          s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        }
        val ew = bucketedFrame(s, d, "predges", "u",
          Analytics.supplierEdgeProbs(s, d))
        Analytics.pagerankLoop(ew, (e, r) =>
          e.join(r.hint("shuffle_hash"), e("u") === r("node")))
      },
      sql = Some(Analytics.PagerankOracleSql),
      scaleNote = "the bucketed table is the partitioning carrier that coexists with AQE: writing the normalized edges CLUSTERED BY u costs one staging shuffle (same price q250 pays) but persists the layout as metadata every subsequent plan — this loop's 5 rounds, tomorrow's re-run, any other query joining on u — consumes with zero exchange and zero conf flips; at 100 TB that inverts the trade-off q250 documents: keep AQE's skew-join and partial-coalescing everywhere (including INSIDE each round's rank-side exchange) while the fact-sized edge frame never moves, and the one-time bucketed write amortizes across the whole workload rather than a single session's checkpoints; same oracle, same ranks, third physics")
  )

  /** q165's Count-Min geometry, shared with the incremental service
    * (IncrementalDedup.cmsBatch): d = 4 rows × w = 1024 columns, row
    * hashes from the portable md5 family. The (j, c) positions of one
    * key as an array of structs — explode map-side, never a join.
    */
  private[graft] val CmsDepth = 4
  private[graft] val CmsWidth = 1024L

  private[graft] def cmsPositions(
      k: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array((0 until CmsDepth).map { j =>
      struct(lit(j.toLong).as("j"),
        pmod(conv(substring(md5(concat(lit(s"cm$j:"), k.cast("string"))),
          1, 12), 16, 10).cast("long"), lit(CmsWidth)).as("c"))
    }: _*)

  /** the sketch of a key feed: (j, c, cnt) cell counts — ≤ d·w rows
    * whatever the feed size, mergeable across feeds by cell-wise ADD
    * (the property the incremental service is built on)
    */
  private[graft] def cmsCells(keys: DataFrame): DataFrame =
    keys.select(explode(cmsPositions(col("k"))).as("jc"))
      .groupBy(col("jc.j").as("j"), col("jc.c").as("c"))
      .agg(count(lit(1)).as("cnt"))

  /** numeric value of the first 12 hex chars of an md5 string as
    * DuckDB SQL — the KMV fraction arithmetic, generated term-by-term
    * so both engines share one formula (16^12 < 2^53: exact in BIGINT
    * and in the double it divides into)
    */
  private def kmvValSql(h: String): String = OracleSql.hex48(h)

  /** q143: leading-run length of a 39-bit remainder as a pure integer
    * CASE chain (1 + count of leading zero bits; 40 when rem = 0) —
    * exact in both engines, no log2/float anywhere near the registers
    */
  private def hllRhoSqlCase: String =
    (1 to 39).map(i => s"WHEN rem >= ${1L << (39 - i)} THEN $i")
      .mkString("CASE ", " ", " ELSE 40 END")

  /** Morton/Z-order bit interleave of two `bits`-bit quantized long
    * columns — x occupies even bit positions, y odd. Pure
    * shiftleft/and/or, so the whole derivation stays inside
    * whole-stage codegen.
    */
  private[queries] def zInterleave(
      x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column,
      bits: Int = 16): org.apache.spark.sql.Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** the identical interleave as DuckDB SQL over column names —
    * generated term-by-term so Spark and the oracle share one formula
    */
  private def zInterleaveSql(x: String, y: String, bits: Int = 16): String =
    (0 until bits).map { i =>
      s"(((($x >> $i) & 1) << ${2 * i}) | ((($y >> $i) & 1) << ${2 * i + 1}))"
    }.mkString("(", " | ", ")")

  /** q58's oracle, shared verbatim with q237 (the q216/q220
    * police-each-other stance): q237 is the file-ingest spelling of
    * the SAME image near-dup report, so it carries the SAME gate.
    * The oracle regenerates the PIXELS themselves — see q58's
    * in-place commentary for the LCG/float32 discipline.
    */
  private[queries] val ImageNearDupOracleSql: String = """
        WITH RECURSIVE
        nn AS (SELECT CASE WHEN (SELECT count(*) FROM lineitem) < 30000
                           THEN 90 ELSE 600 END AS n),
        ids AS (
          SELECT CAST(i AS BIGINT) AS id, CAST(i AS BIGINT) AS seed
          FROM nn, range(0, 600) t(i) WHERE i < nn.n AND i % 3 = 0
          UNION ALL
          SELECT CAST(i + 1000000 AS BIGINT), CAST(i AS BIGINT)
          FROM nn, range(0, 600) t(i) WHERE i < nn.n AND i % 21 = 0),
        seeds AS (SELECT DISTINCT seed FROM ids),
        st(seed, p, s) AS (
          SELECT seed, -1,
                 CAST(xor(seed, 25214903917) % 281474976710656 AS HUGEINT)
          FROM seeds
          UNION ALL
          SELECT seed, p + 1,
                 CAST((s * 25214903917 + 11) % 281474976710656 AS HUGEINT)
          FROM st WHERE p < 1023),
        px AS (SELECT seed, p, CAST(s AS BIGINT) // 16777216 AS rgb
               FROM st WHERE p >= 0),
        lum AS (SELECT seed, p,
          CAST(CAST(CAST(CAST(CAST(0.299 AS FLOAT) * ((rgb >> 16) & 255) AS FLOAT)
                 + CAST(CAST(0.587 AS FLOAT) * ((rgb >> 8) & 255) AS FLOAT) AS FLOAT)
              + CAST(CAST(0.114 AS FLOAT) * (rgb & 255) AS FLOAT) AS FLOAT)
            / CAST(255.0 AS FLOAT) AS FLOAT) AS l
          FROM px),
        feat AS (
          SELECT seed, p % 64 AS j,
                 CAST(list_reduce(list(l ORDER BY p),
                                  (a, x) -> CAST(a + x AS FLOAT))
                      / CAST(16.0 AS FLOAT) AS FLOAT) AS f
          FROM lum GROUP BY seed, p % 64),
        mh AS (
          SELECT seed,
                 list_reduce(list(CAST(f AS DOUBLE) ORDER BY j), (a, x) -> a + x)
                   / 64.0 AS mean
          FROM feat GROUP BY seed),
        bits AS (
          SELECT i.id, f.j, (CAST(f.f AS DOUBLE) > m.mean) AS bit
          FROM feat f JOIN mh m USING (seed) JOIN ids i USING (seed))
        SELECT a.id AS id1, b.id AS id2,
               CAST(sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS INT) AS hamming
        FROM bits a JOIN bits b ON a.j = b.j AND a.id < b.id
        GROUP BY a.id, b.id
        HAVING sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) <= 7"""

  /** q224/q227's shared oracle fixture — the planted-violation flags
    * and the first-failing reason as CTE text, ONE definition so the
    * repair loop's oracle and its dashboard's can never drift (the
    * TriangleOracleSql / nextEventSqlCtes stance).
    */
  private[queries] val RepairFixtureSqlCtes: String = """v AS (
          SELECT CAST(doc_id AS BIGINT) AS id,
                 doc_id % 19 = 0 AS corrupt,
                 doc_id % 17 = 0 AS langmiss,
                 doc_id % 13 = 0 AS typebad,
                 doc_id % 5 = 0 AS negbad,
                 doc_id % 23 = 0 AS maxbad,
                 doc_id % 11 = 0 AS langodd,
                 doc_id % 7 = 0 OR
                   length(regexp_extract(coalesce(text, ''),
                     '^[a-zA-Z0-9]*', 0)) < 1
                   AS namebad
          FROM documents),
        r AS (
          -- first-failing reason in q214's declaration order; each
          -- branch is reached only when every earlier class is clear,
          -- which matches the fake's value-precedence exactly
          SELECT id, langodd,
                 CASE WHEN corrupt THEN 'parse'
                      WHEN langmiss THEN 'required:lang'
                      WHEN typebad THEN 'type:age'
                      WHEN negbad THEN 'min:age'
                      WHEN maxbad THEN 'max:age'
                      WHEN langodd THEN 'enum:lang'
                      WHEN namebad THEN 'minLength:name'
                      ELSE '' END AS reason_first
          FROM v)"""

  private def fakeAlnumPrefix(text: String): String =
    text.takeWhile(c =>
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9'))

  /** q214/q224's deterministic fake extraction payload: a pure
    * function of (id, text) with violations planted by id class —
    * %19 truncated JSON, %13 age as prose, %5 negative age, %23 age
    * over the max, %17 lang omitted, %11 lang outside the enum,
    * %7 empty name. Every branch has an exact SQL mirror in the
    * q214/q224 oracles.
    */
  private[queries] def fakeExtractJson(i: Long, text: String): String = {
    val name = if (i % 7 == 0) "" else fakeAlnumPrefix(text)
    if (i % 19 == 0) s"""{"name": "$name", "age"""
    else {
      val age =
        if (i % 13 == 0) "\"unknown\""
        else if (i % 5 == 0) (-(i % 90 + 1)).toString
        else if (i % 23 == 0) (200 + i % 50).toString
        else (i % 90).toString
      val lang =
        if (i % 17 == 0) ""
        else if (i % 11 == 0) ", \"lang\": \"xx\""
        else ", \"lang\": \"" +
          Seq("en", "fr", "de")((i % 3).toInt) + "\""
      s"""{"name": "$name", "age": $age$lang}"""
    }
  }

  /** q252's deterministic fake for the reference's `complex_schema`
    * fixture (spec/json_mode_spec.rb:378-406): nested summary object,
    * string-array tags, float confidence, date-time created_at, plus
    * a contact_email for the email format. One planted violation
    * class per constraint, keyed on disjoint doc_id residues; a pure
    * function of the id, mirrored branch-for-branch in q252's oracle
    * CTE. Precedence inside each field follows the if/else-if chain
    * here — the oracle's CASE chains are copies of it.
    */
  /** q252/q258's shared enrich scaffolding: the documents fixture
    * through the full pipeline against [[fakeComplexJson]], emitting
    * (id, j) — ONE definition so the hand-declared and the compiled
    * gate provably validate the SAME frame (r16 review fix; the
    * validateRepairReport precedent)
    */
  private def complexEnriched(
      s: SparkSession, d: String, jobId: String): DataFrame = {
    val records = docRecords(s, d)
    val cfg = graft.core.JobConfig(
      id = jobId,
      erbTemplate = "<%= id %>",
      backendEndpoint = "http://fake", model = "fake",
      outputLabel = "extracted", systemErbTemplate = None,
      params = Map.empty, useImages = false,
      responseFormat = Some(graft.core.ResponseFormat.JsonMode))
    val fake = new graft.llm.FakeLlmClient(p =>
      fakeComplexJson(p.trim.toLong))
    graft.pipeline.EnrichJob
      .run(records, cfg, fake,
        graft.pipeline.EnrichOptions(concurrency = 16))
      .good
      .select(col("id").cast("long").as("id"),
        element_at(col("texts"), "extracted").as("j"))
  }

  /** q259's production-shaped job on disk, staged once per JVM: a job
    * YAML whose `json_schema_filepath` points RELATIVELY (through a
    * subdirectory, exercising the resolve path) at [[ComplexSchemaYaml]]
    * written as a real file, plus the prompt template and a /v1
    * endpoint for the normalization path — the reference's
    * docs/example layout (README.md:49-56). Shutdown-hooked tmp root
    * (the q241 hygiene rule).
    */
  private lazy val schemaLoopJobYaml: String = {
    import java.nio.file.{Files, Paths}
    val dir = Paths.get(Analytics.tempSnapshotDir("graft_q259_job_"))
      .getParent
    Files.createDirectories(dir.resolve("schemas"))
    Files.writeString(dir.resolve("prompt.erb"), "<%= id %>")
    Files.writeString(
      dir.resolve("schemas").resolve("complex_schema.yml"),
      ComplexSchemaYaml)
    Files.writeString(dir.resolve("job.yml"),
      """id: schema-file-loop
        |erb_filepath: prompt.erb
        |backend_endpoint: http://fake/v1
        |model: fake
        |output_label: extracted
        |json_schema_filepath: schemas/complex_schema.yml
        |""".stripMargin)
    dir.resolve("job.yml").toString
  }

  /** the schema the compiled gate validates against — the
    * reference's `complex_schema` shape as the YAML a job file
    * would point json_schema_filepath at (property order = q252's
    * declaration order; JSON-schema order carries no semantics).
    * ONE spelling feeds q258 (inline compile) AND q259 (written to
    * disk and re-loaded through JobConfig.load) — the r17 single-
    * sourcing the q252/q258 fixture CTE already has.
    */
  private[queries] val ComplexSchemaYaml: String = """
    |type: object
    |required: [summary, tags]
    |properties:
    |  summary:
    |    type: object
    |    required: [title, content]
    |    properties:
    |      title: {type: string, maxLength: 100}
    |      content: {type: string, minLength: 10}
    |  tags:
    |    type: array
    |    items: {type: string}
    |    minItems: 1
    |    maxItems: 5
    |  metadata:
    |    type: object
    |    properties:
    |      confidence: {type: number, minimum: 0.0, maximum: 1.0}
    |      created_at: {type: string, format: date-time}
    |  contact_email: {type: string, format: email}
    |""".stripMargin

  /** the q252/q258 shared residue-class CTE `k` — ONE definition of
    * which doc_id plants which violation, composed into BOTH oracles
    * (and mirrored branch-for-branch by [[fakeComplexJson]]) so the
    * two gates can never drift (r16 review fix; the
    * MultiChannelSqlCte discipline)
    */
  private[queries] val ComplexFixtureSqlCte: String = """k AS (
          SELECT CAST(doc_id AS BIGINT) AS id,
                 doc_id % 19 = 0 AS corrupt,
                 doc_id % 7 = 0 AS sumstr,
                 doc_id % 13 = 0 AS titlelong,
                 doc_id % 17 = 0 AS contentmiss,
                 doc_id % 37 = 0 AS contentshort,
                 CASE WHEN doc_id % 3 = 0 THEN 'str'
                      WHEN doc_id % 5 = 0 THEN 'empty'
                      WHEN doc_id % 23 = 0 THEN 'many'
                      WHEN doc_id % 11 = 0 THEN 'mixed'
                      ELSE 'ok' END AS tagk,
                 CASE WHEN doc_id % 29 = 0 THEN 'prose'
                      WHEN doc_id % 31 = 0 THEN 'neg'
                      WHEN doc_id % 41 = 0 THEN 'big'
                      ELSE 'ok' END AS confk,
                 doc_id % 43 = 0 AS datebad,
                 doc_id % 47 = 0 AS emailbad
          FROM documents)"""

  /** q258/q259's verdict report over compiled constraints: id, one
    * long per check (ok_parse, each constraint, valid), and the reason */
  private def compiledVerdicts(enriched: DataFrame,
      constraints: Seq[(String, graft.pipeline.SchemaValidate.Constraint)]): DataFrame =
    graft.pipeline.SchemaValidate.verdicts(enriched, "j", constraints).select(
      (Seq(col("id")) ++
        (Seq("ok_parse") ++ constraints.map(_._1) ++ Seq("valid"))
          .map(c => col(c).cast("long").as(c)) :+
        col("reason")): _*)

  /** q258's oracle, shared VERBATIM with q259 (the q153→q256 oracle-
    * reuse discipline): both queries validate the same fixture with
    * the same compiled constraint list — q258 from the inline
    * spelling, q259 from the file JobConfig.load resolved — so ONE
    * oracle proves the two paths can never drift.
    */
  private[queries] val CompiledGateOracleSql: String = s"""
        WITH $ComplexFixtureSqlCte,
        f AS (
          SELECT id,
                 NOT corrupt AS ok_parse,
                 -- the compiler's structural extras: summary and tags
                 -- are always present and metadata is always an object
                 -- in every parseable fake, so each reduces to ok_parse
                 NOT corrupt AS ok_summary_required,
                 NOT corrupt AND NOT sumstr AS ok_summary_objtype,
                 NOT corrupt AND NOT sumstr AS ok_summary_title_required,
                 NOT corrupt AND NOT sumstr AND NOT titlelong
                   AS ok_summary_title_maxlen,
                 NOT corrupt AND NOT sumstr AND NOT contentmiss
                   AS ok_summary_content_required,
                 NOT corrupt AND NOT sumstr AND NOT contentmiss
                   AND NOT contentshort AS ok_summary_content_minlen,
                 NOT corrupt AS ok_tags_required,
                 NOT corrupt AND tagk <> 'str' AS ok_tags_array,
                 NOT corrupt AND tagk NOT IN ('str', 'mixed')
                   AS ok_tags_items,
                 NOT corrupt AND tagk NOT IN ('str', 'empty')
                   AS ok_tags_minitems,
                 NOT corrupt AND tagk NOT IN ('str', 'many')
                   AS ok_tags_maxitems,
                 NOT corrupt AS ok_metadata_objtype,
                 NOT corrupt AND confk <> 'prose'
                   AS ok_metadata_confidence_number,
                 NOT corrupt AND confk NOT IN ('prose', 'neg')
                   AS ok_metadata_confidence_min,
                 NOT corrupt AND confk NOT IN ('prose', 'big')
                   AS ok_metadata_confidence_max,
                 NOT corrupt AND NOT datebad
                   AS ok_metadata_created_at_format,
                 NOT corrupt AND NOT emailbad AS ok_contact_email_format
          FROM k)
        SELECT id,
               CAST(ok_parse AS BIGINT) AS ok_parse,
               CAST(ok_summary_required AS BIGINT) AS ok_summary_required,
               CAST(ok_summary_objtype AS BIGINT) AS ok_summary_objtype,
               CAST(ok_summary_title_required AS BIGINT)
                 AS ok_summary_title_required,
               CAST(ok_summary_title_maxlen AS BIGINT)
                 AS ok_summary_title_maxlen,
               CAST(ok_summary_content_required AS BIGINT)
                 AS ok_summary_content_required,
               CAST(ok_summary_content_minlen AS BIGINT)
                 AS ok_summary_content_minlen,
               CAST(ok_tags_required AS BIGINT) AS ok_tags_required,
               CAST(ok_tags_array AS BIGINT) AS ok_tags_array,
               CAST(ok_tags_items AS BIGINT) AS ok_tags_items,
               CAST(ok_tags_minitems AS BIGINT) AS ok_tags_minitems,
               CAST(ok_tags_maxitems AS BIGINT) AS ok_tags_maxitems,
               CAST(ok_metadata_objtype AS BIGINT) AS ok_metadata_objtype,
               CAST(ok_metadata_confidence_number AS BIGINT)
                 AS ok_metadata_confidence_number,
               CAST(ok_metadata_confidence_min AS BIGINT)
                 AS ok_metadata_confidence_min,
               CAST(ok_metadata_confidence_max AS BIGINT)
                 AS ok_metadata_confidence_max,
               CAST(ok_metadata_created_at_format AS BIGINT)
                 AS ok_metadata_created_at_format,
               CAST(ok_contact_email_format AS BIGINT)
                 AS ok_contact_email_format,
               CAST(ok_parse AND ok_summary_required AND ok_summary_objtype
                    AND ok_summary_title_required AND ok_summary_title_maxlen
                    AND ok_summary_content_required
                    AND ok_summary_content_minlen AND ok_tags_required
                    AND ok_tags_array AND ok_tags_items AND ok_tags_minitems
                    AND ok_tags_maxitems AND ok_metadata_objtype
                    AND ok_metadata_confidence_number
                    AND ok_metadata_confidence_min
                    AND ok_metadata_confidence_max
                    AND ok_metadata_created_at_format
                    AND ok_contact_email_format AS BIGINT) AS valid,
               CASE WHEN NOT ok_parse THEN 'parse'
                    WHEN NOT ok_summary_required THEN 'required:summary'
                    WHEN NOT ok_summary_objtype THEN 'objtype:summary'
                    WHEN NOT ok_summary_title_required
                      THEN 'required:summary.title'
                    WHEN NOT ok_summary_title_maxlen
                      THEN 'maxLength:summary.title'
                    WHEN NOT ok_summary_content_required
                      THEN 'required:summary.content'
                    WHEN NOT ok_summary_content_minlen
                      THEN 'minLength:summary.content'
                    WHEN NOT ok_tags_required THEN 'required:tags'
                    WHEN NOT ok_tags_array THEN 'array:tags'
                    WHEN NOT ok_tags_items THEN 'items:tags'
                    WHEN NOT ok_tags_minitems THEN 'minItems:tags'
                    WHEN NOT ok_tags_maxitems THEN 'maxItems:tags'
                    WHEN NOT ok_metadata_objtype THEN 'objtype:metadata'
                    WHEN NOT ok_metadata_confidence_number
                      THEN 'number:metadata.confidence'
                    WHEN NOT ok_metadata_confidence_min
                      THEN 'min:metadata.confidence'
                    WHEN NOT ok_metadata_confidence_max
                      THEN 'max:metadata.confidence'
                    WHEN NOT ok_metadata_created_at_format
                      THEN 'format:metadata.created_at'
                    WHEN NOT ok_contact_email_format
                      THEN 'format:contact_email'
                    ELSE '' END AS reason
        FROM f"""


  private[queries] def fakeComplexJson(id: Long): String = {
    if (id % 19 == 0) return """{"summary": {"title": "Doc"""  // parse
    val summary =
      if (id % 7 == 0) "\"oops\""                              // objtype
      else {
        val title =
          if (id % 13 == 0) "\"" + "t" * 101 + "\""            // maxLength
          else s""""doc $id""""
        val content =
          if (id % 17 == 0) None                               // required
          else if (id % 37 == 0) Some("\"short\"")             // minLength
          else Some(s""""summary of document $id"""")
        s"""{"title": $title${
          content.map(c => s""", "content": $c""").getOrElse("")}}"""
      }
    val tags =
      if (id % 3 == 0) "\"notags\""                            // array
      else if (id % 5 == 0) "[]"                               // minItems
      else if (id % 23 == 0) """["a", "b", "c", "d", "e", "f"]""" // maxItems
      else if (id % 11 == 0) """["a", 42]"""                   // items
      else """["alpha", "beta"]"""
    val conf =
      if (id % 29 == 0) "\"high\""                             // number
      else if (id % 31 == 0) "-0.25"                           // min
      else if (id % 41 == 0) "1.5"                             // max
      else "0.75"
    val created =
      if (id % 43 == 0) "\"yesterday\""                        // date-time
      else "\"2026-01-02T03:04:05Z\""
    val email =
      if (id % 47 == 0) "\"nobody-at-example\""                // email
      else s""""user$id@example.com""""
    s"""{"summary": $summary, "tags": $tags, "metadata": """ +
      s"""{"created_at": $created, "confidence": $conf}, """ +
      s""""contact_email": $email}"""
  }

  /** q224's two-faced fake: first-pass prompts ("id|text") get
    * [[fakeExtractJson]]'s planted violations; retry prompts
    * ("FIX(reason)|id|text") get a deterministic REPAIR — empty name
    * falls back to "anon", age re-emits in range, truncation heals —
    * except the enum violation, where the model "doubles down" on
    * "xx" (the systematic-failure class a bounded retry can't fix).
    * Both faces are pure functions of (id, text), so the whole loop
    * is DuckDB-oracle-able.
    */
  private[queries] val ValidateRepairFake: String => String = p => {
    val isFix = p.startsWith("FIX(")
    val body = if (isFix) p.substring(p.indexOf(")|") + 2) else p
    val bar = body.indexOf('|')
    val i = body.substring(0, bar).toLong
    val text = body.substring(bar + 1)
    if (!isFix) fakeExtractJson(i, text)
    else {
      val name0 = if (i % 7 == 0) "" else fakeAlnumPrefix(text)
      val nm = if (name0.isEmpty) "anon" else name0
      val lang = if (i % 11 == 0) "xx" else Seq("en", "fr", "de")((i % 3).toInt)
      s"""{"name": "$nm", "age": ${i % 90}, "lang": "$lang"}"""
    }
  }

  /** q224's full validate → re-prompt-once → re-validate report over
    * the documents corpus — shared by q224 (the record-level report)
    * and q227 (the per-reason dashboard fold of the same frame)
    */
  private def validateRepairReport(s: SparkSession, d: String): DataFrame = {
    val records = docRecords(s, d)
    val cfg = graft.core.JobConfig(
      id = "validate-repair",
      erbTemplate = "<%= id %>|<%= texts[:content] %>",
      backendEndpoint = "http://fake", model = "fake",
      outputLabel = "extracted", systemErbTemplate = None,
      params = Map.empty, useImages = false,
      responseFormat = Some(graft.core.ResponseFormat.JsonMode))
    graft.pipeline.ValidateRepair.run(
      records, cfg,
      "FIX(<%= texts[:why] %>)|<%= id %>|<%= texts[:content] %>",
      new graft.llm.FakeLlmClient(ValidateRepairFake),
      ExtractConstraints,
      opts = graft.pipeline.EnrichOptions(concurrency = 16))
      .select(col("id").cast("long").as("id"), col("attempts"),
        col("valid_first"), col("valid_final"),
        col("reason_first"), col("reason_final"))
  }

  /** the reference example schema's constraint set
    * (docs/example/schemas/person_schema.yml:1-33) as SchemaValidate
    * rows — shared by q214 (gate) and q224 (gate + repair)
    */
  private[queries] val ExtractConstraints: Seq[(String, graft.pipeline.SchemaValidate.Constraint)] = {
    import graft.pipeline.SchemaValidate._
    Seq(
      "ok_required" -> Required("lang"),
      "ok_type" -> IntType("age"),
      "ok_min" -> Min("age", 0L),
      "ok_max" -> Max("age", 120L),
      "ok_enum" -> OneOf("lang", Seq("en", "fr", "de")),
      "ok_minlen" -> MinLength("name", 1))
  }
}
