package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.ConnectedComponents

/** Deduplication catalog — the LLM-training-data operators mandated by
  * BASELINE.json beyond the reference's surface (the reference has no
  * dedup at all; SURVEY.md §2B E11/E12).
  *
  * Scale stance: every variant here is built around ONE shuffle on a
  * compact key (hash / shingle / band bucket) — never a cartesian
  * product. The brute-force cross joins live only in the DuckDB oracle
  * SQL.
  */
object Dedup extends Catalog {

  /** whitespace tokens, lowered */
  private val words: Column = split(lower(col("text")), " ")

  /** The xxhash64 of every `n`-word gram POSITION of each doc with at
    * least `n` words, as (doc_id, g): q117's positions (repeats inside
    * a doc count), or with `distinct` each doc's distinct grams (q157).
    * Also the kernel of IncrementalDedup's span and novelty services.
    */
  private[graft] def gramPositions(
      docs: DataFrame, n: Int, distinct: Boolean = false): DataFrame = {
    val grams = transform(sequence(lit(1), size(col("ws")) - (n - 1)),
      i => xxhash64(array_join(slice(col("ws"), i, lit(n)), " ")))
    docs.select(col("doc_id"), words.as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"),
        explode(if (distinct) array_distinct(grams) else grams).as("g"))
  }

  /** q117's per-doc coverage of `docs`: (doc_id, n_pos, n_dup,
    * dup_ppm), where a position of `pos` is duplicated when its gram's
    * occurrence count in `counts` (g, cnt) is at least 2. The ppm is an
    * exact integer, so the incremental service's output equals the
    * one-shot q117 bit for bit.
    */
  private[graft] def gramCoverage(
      docs: DataFrame, pos: DataFrame, counts: DataFrame): DataFrame = {
    // build from the aggregated side: without the hint Catalyst's
    // Generate-output estimate can elect to broadcast the POSITION
    // frame (corpus-token-sized) — legal at test SF, lethal at 100 TB
    val per = pos.join(counts.hint("shuffle_hash"), "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("np"),
        sum(when(col("cnt") >= 2, 1L).otherwise(0L)).as("nd"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("np"), lit(0L)).as("n_pos"),
        coalesce(col("nd"), lit(0L)).as("n_dup"),
        when(col("np") > 0,
          expr("nd * CAST(1000000 AS BIGINT) DIV np"))
          .as("dup_ppm"))
  }

  /** distinct 3-word-shingle HASHES (8 bytes each), one native scan —
    * graft.functions.ShingleHashes, hash-identical to
    * xxhash64(array_join(slice(split(lower(text)," "),i,3)," ")); empty
    * for docs with < 3 tokens. The materialization barrier matters:
    * the shingle sets feed the posting explode, both verify-join sides
    * and the size lookups — without it each branch re-shingles the raw
    * text. DuckDB twin (oracle only): string shingles via
    * list_transform(generate_series(...), i -> arr[i:i+2]).
    */
  private def shingled(s: SparkSession, d: String): DataFrame =
    // spread before the shingle kernel (r17): without it every
    // consumer's posting explode + join-side shuffle write ran out of a
    // 1-partition checkpoint. Keyed by doc_id so the checkpoint's
    // partitioning is also the one q132's incremental split reuses.
    Tables.spread(Tables.documents(s, d), col("doc_id"))
      .select(col("doc_id"),
        call_function("shingle_hashes", lower(col("text")), lit(3)).as("sh"))
      .filter(size(col("sh")) > 0)
      .localCheckpoint()

  /** DuckDB-side spelling of the same shingle set (shared with the
    * Curation catalog's q67 decontamination oracle) */
  private[queries] val sqlShingles: String =
    """list_distinct(CASE WHEN len(string_split(lower(text),' ')) >= 3 THEN
      |  list_transform(generate_series(1, len(string_split(lower(text),' '))-2),
      |    i -> array_to_string((string_split(lower(text),' '))[i:i+2],' '))
      |ELSE [] END)""".stripMargin

  /** q192's calibration inputs, shared with q200: the injected-twin
    * corpus's string shingle sets, the exact ground truth at floor
    * j ≥ 0.2 (d1, d2, inter, un), and the portable md5-hex48 4-band ×
    * 2-row candidate pairs (d1, d2) — the oracle-able calibration
    * kernel. The organic corpus has pairs only at j ≈ 0 (random
    * template text) and j ≈ 0.9 (the planted near-dups), and a curve
    * with no mid-range has no misses to calibrate, so PREFIX TWINS are
    * injected at controlled similarity (q62/q68's honest-injection
    * stance): for docs with doc_id % 7 == 3, a twin of the first
    * k = max(3, n·(3 + doc_id%8)/10) words (doc_id%8 == 7 copies the
    * WHOLE doc — the band-10 theorem case). A prefix's distinct
    * shingles are a subset of the full doc's, so j = |sh_p|/|sh_f|
    * lands near (3 + doc_id%8)/10 — deciles 2..10 populate, where a
    * 4×2 geometry genuinely misses (recall 1-(1-j²)⁴).
    */
  private def lshRecallBase(
      s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val ws = split(lower(col("text")), " ")
    val dd = Tables.documents(s, d).select(col("doc_id"), ws.as("ws"))
    val twins = dd.filter(col("doc_id") % 7 === 3 && size(col("ws")) >= 10)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        slice(col("ws"), lit(1), greatest(lit(3),
          expr("CAST((size(ws) * (3 + doc_id % 8)) DIV 10 AS INT)")))
          .as("ws"))
    // spread before the shingle/minhash map work (r17): the 3-gram
    // transform, the 8-min portable_minhash and q200's XXH64 banding
    // otherwise all run inside ONE task behind this checkpoint (the
    // q193 fix applied to this family)
    val shStr = Tables.spread(dd.unionByName(twins)
        .filter(size(col("ws")) >= 3), col("doc_id"))
      .select(col("doc_id"), array_distinct(
        transform(sequence(lit(1), size(col("ws")) - 2),
          i => array_join(slice(col("ws"), i, lit(3)), " "))).as("sh"))
      .localCheckpoint() // shingles feed truth, sizes AND the kernels
    val sizes = shStr.select(col("doc_id"), size(col("sh")).as("sz"))
    // ground-truth postings join on the 64-bit shingle hash, not the
    // shingle STRING (r17, guide §2.3 "narrower types / shuffle fewer
    // bytes"): the join keys shrink from ~20-byte strings to 8 bytes
    // and the hash compare replaces string compares; intersection
    // counts are unchanged under in-corpus xxhash64 injectivity — the
    // exact stance q26's native shingle_hashes already ships (and any
    // collision would hash-mismatch the q192 oracle, which computes
    // the string-keyed truth)
    val ex = shStr.select(col("doc_id"),
      explode(col("sh")).as("g0"))
      .select(col("doc_id"), xxhash64(col("g0")).as("g"))
    val exact = ex.as("a").join(ex.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("d1"), col("sz").as("sz1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("sz").as("sz2")), "d2")
      .select(col("d1"), col("d2"), col("inter"),
        (col("sz1") + col("sz2") - col("inter")).as("un"))
      .filter(col("inter") * 5 >= col("un")) // j >= 0.2
    // portable minhash signature: 8 md5-derived 48-bit hash mins
    // native one-pass kernel (PortableMinHash) — bit-identical to
    // the HOF spelling transform(sequence(0,7), p -> array_min(
    // transform(sh, g -> conv(substr(md5('mh'||p||':'||g),1,12),
    // 16,10)))) it replaced (PortableMinHashSpec), so the DuckDB
    // oracle is untouched; the interpreted HOF walked the shingle set
    // once per hash function and dominated q192
    val sig = shStr.select(col("doc_id"),
      call_function("portable_minhash", col("sh"), lit(8)).as("mins"))
      .localCheckpoint() // one signature pass feeds both join sides
    val bandedPort = sig.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(3)), b =>
        struct(element_at(col("mins"), b * 2 + 1).as("k1"),
          element_at(col("mins"), b * 2 + 2).as("k2"))))
        .as(Seq("band", "k")))
    val candPort = bandedPort.as("a").join(bandedPort.as("b"),
        col("a.band") === col("b.band") && col("a.k") === col("b.k") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .dropDuplicates("d1", "d2")
    (shStr, exact, candPort)
  }

  /** q192's twin corpus measured against BOTH banding geometries
    * (VERDICT r11 item 6): lshRecallBase's portable family plus the
    * production XXH64 8-band × 2-row kernel q27 actually ships
    * (`minhash_bands` — no DuckDB twin exists for XXH64, which is why
    * q192's registered curve couldn't calibrate it), LEFT-joined onto
    * the exact truth so misses emit 0. Returns the PER-PAIR frame
    * (d1, d2, inter, un, rec_portable, rec_production) — q200 folds it
    * to the per-decile report; the spec consumes it directly to pin
    * the 1−(1−j²)^b recall form within Poisson-binomial tolerance for
    * both geometries.
    */
  private[queries] def lshRecallPairs(
      s: SparkSession, d: String): DataFrame = {
    val (shStr, exact, candPort) = lshRecallBase(s, d)
    // production geometry: q27's native one-pass XXH64 kernel, 8 × 2
    // (xxhash64 over the same string shingles mirrors shingle_hashes'
    // hash-the-joined-window semantics)
    val bandedProd = shStr.select(col("doc_id"),
      posexplode(call_function("minhash_bands",
        transform(col("sh"), g => xxhash64(g)), lit(8), lit(2)))
        .as(Seq("band", "bh")))
      .localCheckpoint()
    val candProd = bandedProd.as("a").join(bandedProd.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .dropDuplicates("d1", "d2")
      .withColumn("rec_production", lit(1L))
    exact.join(candPort.withColumn("rec_portable", lit(1L)),
        Seq("d1", "d2"), "left")
      .join(candProd, Seq("d1", "d2"), "left")
      .select(col("d1"), col("d2"), col("inter"), col("un"),
        coalesce(col("rec_portable"), lit(0L)).as("rec_portable"),
        coalesce(col("rec_production"), lit(0L)).as("rec_production"))
  }

  /** q50's DuckDB twin: replay CdcChunks' Gear rolling-hash boundary
    * walk exactly — gear table inlined as 256 HUGEINT literals,
    * h' = (2h + gear[byte]) mod 2^64 per byte via a recursive CTE,
    * boundary when len ≥ 16 and (h' mod 64 = 0 or len ≥ 256), plus
    * the trailing chunk. Chunks join on their TEXT (the engine's
    * xxhash64 ids are just a collision-free compression of the same
    * key). ascii(substr(text,i,1)) IS the byte because the corpus is
    * ASCII (regexp-checked across SFs at r9); the walk carries only
    * (doc_id, i, h, start) so the recursion materializes
    * O(total corpus bytes) small rows at max-doc-length depth.
    */
  private lazy val cdcMirrorSql: String = {
    val gear = graft.functions.CdcChunks.gearUnsigned.mkString(", ")
    s"""
    WITH RECURSIVE
    d AS (SELECT doc_id, text, CAST(length(text) AS INT) AS n
          FROM documents WHERE length(text) > 0),
    gear AS (SELECT unnest(generate_series(0, 255)) AS code,
                    unnest(CAST([$gear] AS HUGEINT[])) AS g),
    bytes AS MATERIALIZED (
      SELECT doc_id, i, g FROM (
        SELECT d.doc_id, t.i, ascii(substr(d.text, t.i, 1)) AS code
        FROM d, unnest(generate_series(1, d.n)) AS t(i)) x
      JOIN gear USING (code)),
    walk AS (
      SELECT doc_id, 0 AS i, CAST(0 AS HUGEINT) AS h, 0 AS st,
             CAST(NULL AS INT) AS cs, CAST(NULL AS INT) AS cl
      FROM d
      UNION ALL
      SELECT doc_id, i, h,
             CASE WHEN bdy THEN i ELSE st END,
             CASE WHEN bdy THEN st END,
             CASE WHEN bdy THEN i - st END
      FROM (
        SELECT w.doc_id, w.i + 1 AS i,
               (w.h * 2 + b.g) % CAST('18446744073709551616' AS HUGEINT)
                 AS h,
               w.st,
               (w.i + 1 - w.st >= 16 AND
                ((w.h * 2 + b.g) % CAST('18446744073709551616' AS HUGEINT)
                   % 64 = 0
                 OR w.i + 1 - w.st >= 256)) AS bdy
        FROM walk w JOIN bytes b ON b.doc_id = w.doc_id AND b.i = w.i + 1
      ) step),
    ch AS (
      SELECT DISTINCT doc_id, chunk FROM (
        SELECT w.doc_id, substr(d.text, w.cs + 1, w.cl) AS chunk
        FROM walk w JOIN d USING (doc_id) WHERE w.cs IS NOT NULL
        UNION ALL
        SELECT w.doc_id, substr(d.text, w.st + 1, d.n - w.st)
        FROM walk w JOIN d USING (doc_id)
        WHERE w.i = d.n AND w.st < d.n) u),
    sz AS (SELECT doc_id, count(*) AS sz FROM ch GROUP BY 1),
    pairs AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2,
                     count(*) AS shared_chunks
              FROM ch a JOIN ch b ON a.chunk = b.chunk
                                 AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT p.doc1, p.doc2, p.shared_chunks,
           (p.shared_chunks * CAST(1000000 AS BIGINT)) // s1.sz
             AS overlap_ppm
    FROM pairs p JOIN sz s1 ON s1.doc_id = p.doc1
    WHERE p.shared_chunks * 2 >= s1.sz"""
  }

  /** near-dup acceptance threshold (data has planted pairs at j≈0.99) */
  private val JaccardTau = 0.8

  /** q126's directed-containment threshold: planted near-dups sit at
    * containment ≈ 0.99 in both directions; real subset quotes at 1.0 */
  private val ContainTau = 0.9

  /** q59's pre-barrier plan: postings from the (doc_id, sh) shingle
    * frame minus the stop-list of shingles occurring in more than
    * `cap` documents. Exposed (package-private) so PlanSpec can assert
    * the anti-join's broadcast build side and exchange count — the
    * registered query hides them behind its localCheckpoint barrier.
    */
  private[graft] def cappedPostings(sh: DataFrame, cap: Int): DataFrame = {
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val stop = ex.groupBy(col("shingle")).agg(count(lit(1)).as("pc"))
      .filter(col("pc") > cap)
      .select(col("shingle"))
    ex.join(broadcast(stop), Seq("shingle"), "left_anti")
  }

  /** the shingle frame for PlanSpec's use of [[cappedPostings]] */
  private[graft] def shingleFrame(s: SparkSession, d: String): DataFrame =
    shingled(s, d)

  /** q101's pre-barrier plan: the blocked frame minus blocks with more
    * than `cap` members — [[cappedPostings]]' stop-list shape applied
    * to the blocking key. Package-private so PlanSpec can assert the
    * broadcast anti-join the registered query hides behind its
    * localCheckpoint barrier.
    */
  private[graft] def cappedBlocks(raw: DataFrame, cap: Int): DataFrame = {
    val hot = raw.groupBy(col("blk")).agg(count(lit(1)).as("bc"))
      .filter(col("bc") > cap)
      .select(col("blk"))
    raw.join(broadcast(hot), Seq("blk"), "left_anti")
  }

  /** q101/q120's blocked frame (doc_id, 40-char compare prefix, 8-char
    * blocking key at `off`); q101 blocks on the first 8 chars, q120's
    * second pass on chars 9–16
    */
  private[graft] def blockedFrameBy(s: SparkSession, d: String, off: Int): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      substring(lower(col("text")), 1, 40).as("t"),
      substring(lower(col("text")), off, 8).as("blk"))

  /** q101's blocked frame, shared with PlanSpec */
  private[graft] def blockedFrame(s: SparkSession, d: String): DataFrame =
    blockedFrameBy(s, d, 1)

  /** q26's plan, shared with q61 (whose edges are exactly these pairs).
    * Postings carry the 8-byte shingle hash, never the string: the
    * inverted-index shuffle moves fixed-width longs (a 64-bit collision
    * would need ~2^32 distinct shingles to matter, and the jaccard
    * distribution here is bimodal around the τ).
    */
  private def jaccardPairs(s: SparkSession, d: String): DataFrame = {
    val sh = shingled(s, d)
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("sz"))
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("shingle"))
    postingPairs(ex, sizes)
  }

  /** (doc1, doc2, jaccard ≥ τ) from a (doc_id, shingle) posting frame
    * and the (doc_id, sz) set sizes: the posting self-join counts each
    * pair's intersection, the two size lookups give the union */
  private def postingPairs(postings: DataFrame, sizes: DataFrame): DataFrame =
    postings.as("a").join(postings.as("b"),
        col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("doc_id", "doc1")
        .withColumnRenamed("sz", "sz1"), "doc1")
      .join(sizes.withColumnRenamed("doc_id", "doc2")
        .withColumnRenamed("sz", "sz2"), "doc2")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter")))
      .filter(col("jaccard") >= JaccardTau)
      .select(col("doc1"), col("doc2"), col("jaccard"))

  /** q26's brute-force DuckDB pairs — the oracle of every variant that
    * must return exactly q26's pair set (q26, q27, q59, q132, q201) */
  private lazy val jaccardPairsSql: String = s"""
        WITH s AS (SELECT doc_id, $sqlShingles AS sh FROM documents)
        SELECT a.doc_id AS doc1, b.doc_id AS doc2,
               len(list_intersect(a.sh, b.sh)) * 1.0 /
                 (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE len(a.sh) > 0 AND len(b.sh) > 0
          AND len(list_intersect(a.sh, b.sh)) * 1.0 /
                (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= $JaccardTau"""

  /** q61/q116/q171's dup groups (doc_id, group_id): every doc, labelled
    * by the min doc_id of its connected component over q26's pairs
    * (star contraction, operators/ConnectedComponents.scala); a
    * singleton is its own group.
    */
  private def dupGroups(s: SparkSession, d: String): DataFrame = {
    val pairs = jaccardPairs(s, d)
      .select(col("doc1").as("u"), col("doc2").as("v"))
    val labels = ConnectedComponents.run(pairs)
    val ids = Tables.documents(s, d).select(col("doc_id"))
    ids.join(labels, ids("doc_id") === labels("node"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("group_id"))
  }

  /** dupGroups joined to each group's size (group_id, doc_id, group_sz) */
  private def sizedDupGroups(s: SparkSession, d: String): DataFrame = {
    val grouped = dupGroups(s, d)
    val sizes = grouped.groupBy(col("group_id"))
      .agg(count(lit(1)).as("group_sz"))
    grouped.join(sizes, "group_id")
  }

  /** dupGroups' DuckDB mirror up to `lab` (doc_id, group_id): q26's
    * pairs by brute force, and the components as a recursive
    * reachability CTE; the caller appends its CTEs and SELECT.
    */
  private lazy val dupGroupsSql: String = s"""
        WITH RECURSIVE
        s AS (SELECT doc_id, $sqlShingles AS sh FROM documents),
        pairs AS (
          SELECT a.doc_id AS u, b.doc_id AS v
          FROM s a JOIN s b ON a.doc_id < b.doc_id
          WHERE len(a.sh) > 0 AND len(b.sh) > 0
            AND len(list_intersect(a.sh, b.sh)) * 1.0 /
                  (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= $JaccardTau),
        edges AS (SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs),
        reach AS (
          SELECT doc_id AS node, doc_id AS label FROM documents
          UNION
          SELECT e.v AS node, r.label FROM reach r JOIN edges e ON e.u = r.node),
        lab AS (SELECT node AS doc_id, min(label) AS group_id FROM reach GROUP BY node)"""

  /** q179/q180's shared linkage comparison frame: database A = the
    * customer table, database B = its deterministic perturbation
    * (per custkey mod 4: case-fold / ' jr' suffix / last-char typo /
    * unchanged, plus a mod-7 cent jitter), candidates blocked on the
    * perturbation-invariant (nation, name-digit-bigram) key, and the
    * four field agreements computed per pair.
    */
  private def linkageCmp(s: SparkSession, d: String): DataFrame = {
    val a = Tables.load(s, d, "customer").select(
      col("c_custkey").as("a_key"), col("c_name").as("a_name"),
      col("c_nationkey").cast("long").as("nation"),
      col("c_mktsegment").as("a_seg"),
      expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("a_cents"))
    val b0 = Tables.load(s, d, "customer").select(
      col("c_custkey").as("b_key"), col("c_name").as("nm"),
      col("c_nationkey").cast("long").as("nation"),
      col("c_mktsegment").as("b_seg"),
      expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
    val b = b0.select(col("b_key"), col("nation"), col("b_seg"),
      when(pmod(col("b_key"), lit(4)) === 0, lower(col("nm")))
        .when(pmod(col("b_key"), lit(4)) === 1, concat(col("nm"), lit(" jr")))
        .when(pmod(col("b_key"), lit(4)) === 2,
          concat(substring(col("nm"), 1, 17), lit("x")))
        .otherwise(col("nm")).as("b_name"),
      (col("cents") + pmod(col("b_key"), lit(7)) - 3).as("b_cents"),
      substring(col("nm"), 15, 2).as("blk"))
    a.withColumn("blk", substring(col("a_name"), 15, 2))
      .join(b, Seq("nation", "blk"))
      .withColumn("name_agree", (col("a_name") === col("b_name")).cast("long"))
      .withColumn("lev_agree",
        (levenshtein(col("a_name"), col("b_name")) <= 3).cast("long"))
      .withColumn("seg_agree", (col("a_seg") === col("b_seg")).cast("long"))
      .withColumn("bal_agree", (col("a_cents") === col("b_cents")).cast("long"))
  }

  /** the DuckDB spelling of [[linkageCmp]] as CTEs a/b/cand/cmp —
    * composed into q179's and q180's oracles so they can never drift
    */
  private val linkageCmpSql: String = """a AS (
          SELECT c_custkey AS a_key, c_name AS a_name,
                 CAST(c_nationkey AS BIGINT) AS nation,
                 c_mktsegment AS a_seg,
                 CAST(round(c_acctbal * 100) AS BIGINT) AS a_cents,
                 substr(c_name, 15, 2) AS blk
          FROM customer),
        b AS (
          SELECT c_custkey AS b_key,
                 CAST(c_nationkey AS BIGINT) AS nation,
                 c_mktsegment AS b_seg,
                 CASE WHEN c_custkey % 4 = 0 THEN lower(c_name)
                      WHEN c_custkey % 4 = 1 THEN c_name || ' jr'
                      WHEN c_custkey % 4 = 2 THEN substr(c_name, 1, 17) || 'x'
                      ELSE c_name END AS b_name,
                 CAST(round(c_acctbal * 100) AS BIGINT)
                   + c_custkey % 7 - 3 AS b_cents,
                 substr(c_name, 15, 2) AS blk
          FROM customer),
        cand AS (
          SELECT a.*, b.b_key, b.b_seg, b.b_name, b.b_cents
          FROM a JOIN b ON a.nation = b.nation AND a.blk = b.blk),
        cmp AS (
          SELECT a_key, b_key,
                 CAST(a_name = b_name AS BIGINT) AS name_agree,
                 CAST(levenshtein(a_name, b_name) <= 3 AS BIGINT) AS lev_agree,
                 CAST(a_seg = b_seg AS BIGINT) AS seg_agree,
                 CAST(a_cents = b_cents AS BIGINT) AS bal_agree
          FROM cand)"""

  /** q180's EM round count — enough for the mixture to separate on
    * this fixture; each extra round is one more 16-row CTE, not a
    * data pass
    */
  private val EmRounds = 5

  /** q180's unrolled EM as DuckDB CTEs pat, p0, e1/p1 … e{R}/p{R} —
    * the q134/q142 MATERIALIZED-chain discipline (inlining would
    * re-evaluate the whole prefix per reference). Every literal is
    * CAST to DOUBLE so DuckDB can't route through DECIMAL; every
    * round's params round(,6) exactly like the engine.
    */
  private def emSqlCtes: String = {
    def term(i: Int, v: Char) =
      s"(CASE WHEN g$i = 1 THEN $v$i ELSE CAST(1.0 AS DOUBLE) - $v$i END)"
    val sb = new StringBuilder
    sb.append("""pat AS MATERIALIZED (
          SELECT name_agree AS g1, lev_agree AS g2, seg_agree AS g3,
                 bal_agree AS g4, CAST(count(*) AS DOUBLE) AS n
          FROM cmp GROUP BY 1, 2, 3, 4),
        p0 AS (SELECT CAST(0.1 AS DOUBLE) AS p,
                      CAST(0.9 AS DOUBLE) AS m1, CAST(0.9 AS DOUBLE) AS m2,
                      CAST(0.9 AS DOUBLE) AS m3, CAST(0.9 AS DOUBLE) AS m4,
                      CAST(0.1 AS DOUBLE) AS u1, CAST(0.1 AS DOUBLE) AS u2,
                      CAST(0.1 AS DOUBLE) AS u3, CAST(0.1 AS DOUBLE) AS u4)""")
    for (r <- 1 to EmRounds) {
      sb.append(s""",
        e$r AS (SELECT pat.*,
                  p * ${term(1, 'm')} * ${term(2, 'm')} * ${term(3, 'm')}
                    * ${term(4, 'm')} AS pm,
                  (CAST(1.0 AS DOUBLE) - p) * ${term(1, 'u')} * ${term(2, 'u')}
                    * ${term(3, 'u')} * ${term(4, 'u')} AS pu
                FROM pat, p${r - 1}),
        w$r AS (SELECT *, pm / (pm + pu) AS w FROM e$r),
        p$r AS MATERIALIZED (
          SELECT round(sum(n * w) / sum(n), 6) AS p,
                 ${(1 to 4).map(i =>
                   s"round(sum(n * w * g$i) / sum(n * w), 6) AS m$i")
                   .mkString(",\n                 ")},
                 ${(1 to 4).map(i =>
                   s"round(sum(n * (CAST(1.0 AS DOUBLE) - w) * g$i)" +
                   s" / sum(n * (CAST(1.0 AS DOUBLE) - w)), 6) AS u$i")
                   .mkString(",\n                 ")}
          FROM w$r)""")
    }
    sb.toString
  }

  // MinHash/LSH geometry: 16 hashes = 8 bands × 2 rows.
  // P(candidate | j) = 1-(1-j²)^8 → 0.9997 at j=0.8, ~1 at the planted
  // j≈0.99 pairs, so verified-LSH output equals the brute-force oracle.
  private val NumHashes = 16
  private val Bands = 8
  private val RowsPerBand = 2

  /** q201's canonically-ordered shingle frame: every set sorted by
    * ascending document frequency (tok tie-break — a total order, df
    * is a map-side partial aggregate), with the AllPairs prefix length
    * |x| − ⌈τ·|x|⌉ + 1 precomputed. localCheckpoint'd so one
    * computation feeds both the prefix index and the verify stage.
    */
  private[queries] def ppjoinOrdered(s: SparkSession, d: String): DataFrame = {
    val sh = shingled(s, d)
    val post = sh.select(col("doc_id"), explode(col("sh")).as("tok"))
    val dfreq = post.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    post.join(dfreq, "tok")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("tok"))))
        .as("ord"))
      .select(col("doc_id"),
        expr("transform(ord, x -> x.tok)").as("toks"))
      .withColumn("sz", size(col("toks")))
      .withColumn("plen",
        col("sz") - expr("CAST((4 * sz + 4) DIV 5 AS INT)") + 1)
      .localCheckpoint()
  }

  /** q201's candidate pairs from the prefix index over `ordered`
    * (a `ppjoinOrdered` frame). `positional = false` is the plain
    * AllPairs prefix filter (the r12 spelling, kept so the spec can
    * prove the positional filter strictly prunes); `positional = true`
    * adds PPJoin's per-occurrence bound — keep the pair only if some
    * shared prefix token at 1-based positions (i, j) satisfies
    * 9·(1 + min(sz1−i, sz2−j)) ≥ 4·(sz1+sz2), the cross-multiplied
    * ubound ≥ ⌈4(sz1+sz2)/9⌉ test at τ = 4/5. Sound because the FIRST
    * shared token of any true pair lies in both prefixes and its
    * bound dominates the true overlap (see the q201 comment).
    */
  private[queries] def ppjoinCandidates(
      ordered: DataFrame, positional: Boolean): DataFrame = {
    val prefix = ordered.select(col("doc_id"), col("sz"),
      posexplode(slice(col("toks"), lit(1), col("plen")))
        .as(Seq("p0", "tok")))
      .select(col("doc_id"), col("sz"), (col("p0") + 1).as("pos"),
        col("tok"))
    val base = prefix.as("a").join(prefix.as("b"),
      col("a.tok") === col("b.tok") &&
      col("a.doc_id") < col("b.doc_id") &&
      col("a.sz") * 4 <= col("b.sz") * 5 &&
      col("b.sz") * 4 <= col("a.sz") * 5)
    val kept =
      if (!positional) base
      else base.filter(
        (lit(1) + least(col("a.sz") - col("a.pos"),
          col("b.sz") - col("b.pos"))) * 9 >=
        (col("a.sz") + col("b.sz")) * 4)
    kept.select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .dropDuplicates("doc1", "doc2")
  }

  override def queries: Map[String, Q] = Map(

    // ----- E11: exact dedup via content hash ------------------------
    "q24_dedup_exact_hash" -> Q(
      fn = (s, d) =>
        Tables.documents(s, d)
          .groupBy(col("source"))
          .agg(
            countDistinct(md5(lower(col("text")))).as("n_unique"),
            count(lit(1)).as("n_docs")),
      sql = Some("""
        SELECT source, count(DISTINCT md5(lower(text))) AS n_unique,
               count(*) AS n_docs
        FROM documents GROUP BY source"""),
      scaleNote = "content hash (16 bytes) shuffles instead of full text; two-phase distinct agg"),

    // ----- E11: keep-first dedup by key -----------------------------
    "q25_dedup_keep_first" -> Q(
      fn = (s, d) => {
        val key = array_join(slice(words, 1, 2), " ")
        val w = Window.partitionBy(col("dup_key")).orderBy(col("doc_id"))
        Tables.documents(s, d)
          .withColumn("dup_key", key)
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("group_sz", count(lit(1)).over(Window.partitionBy(col("dup_key"))))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("dup_key"), col("group_sz"))
      },
      sql = Some("""
        SELECT doc_id, dup_key, group_sz FROM (
          SELECT doc_id,
                 array_to_string((string_split(lower(text),' '))[1:2],' ') AS dup_key,
                 row_number() OVER (PARTITION BY array_to_string((string_split(lower(text),' '))[1:2],' ')
                                    ORDER BY doc_id) AS rn,
                 count(*) OVER (PARTITION BY array_to_string((string_split(lower(text),' '))[1:2],' ')) AS group_sz
          FROM documents)
        WHERE rn = 1"""),
      scaleNote = "ordered keep-first = row_number over the key partition; one shuffle on dup_key; WindowGroupLimit prunes at rn=1"),

    // ----- E12: n-gram Jaccard near-dup pairs (inverted index) ------
    "q26_dedup_ngram_jaccard" -> Q(
      fn = (s, d) => jaccardPairs(s, d),
      sql = Some(jaccardPairsSql),
      scaleNote = "inverted-index self-join on shingle — O(sum posting²) not O(n²); at 100 TB drop ultra-frequent shingles (stop-shingle cap) to bound posting lists"),

    // ----- E12: asymmetric containment (subset / quote detection) ---
    // Jaccard DILUTES subset relations: a short doc quoted wholesale
    // inside a long one has |A∩B|/|A∪B| ≈ |A|/|B| ≈ 0 but containment
    // |A∩B|/|A| = 1. Training-data pipelines need this direction-aware
    // signal (drop the contained doc, keep the superset) — it's the
    // one near-dup semantic the symmetric q26/q27 family cannot see.
    // Same inverted-index skeleton as q26: the intersection is counted
    // ONCE per unordered pair in the posting join, then exploded into
    // the two directed rows, each thresholded against ITS OWN size.
    "q126_containment_pairs" -> Q(
      fn = (s, d) => {
        val sh = shingled(s, d)
        val sizes = sh.select(col("doc_id"), size(col("sh")).as("sz"))
        val ex = sh.select(col("doc_id"), explode(col("sh")).as("shingle"))
        ex.as("a").join(ex.as("b"),
            col("a.shingle") === col("b.shingle") &&
            col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
          .agg(count(lit(1)).as("inter"))
          .join(sizes.withColumnRenamed("doc_id", "d1")
            .withColumnRenamed("sz", "sz1"), "d1")
          .join(sizes.withColumnRenamed("doc_id", "d2")
            .withColumnRenamed("sz", "sz2"), "d2")
          .select(explode(array(
            struct(col("d1").as("doc_src"), col("d2").as("doc_tgt"),
              (col("inter").cast("double") / col("sz1")).as("containment")),
            struct(col("d2").as("doc_src"), col("d1").as("doc_tgt"),
              (col("inter").cast("double") / col("sz2")).as("containment"))))
            .as("p"))
          .select(col("p.doc_src"), col("p.doc_tgt"), col("p.containment"))
          .filter(col("containment") >= ContainTau)
      },
      sql = Some(s"""
        WITH s AS (SELECT doc_id, $sqlShingles AS sh FROM documents)
        SELECT a.doc_id AS doc_src, b.doc_id AS doc_tgt,
               len(list_intersect(a.sh, b.sh)) * 1.0 / len(a.sh) AS containment
        FROM s a JOIN s b ON a.doc_id <> b.doc_id
        WHERE len(a.sh) > 0 AND len(b.sh) > 0
          AND len(list_intersect(a.sh, b.sh)) * 1.0 / len(a.sh) >= $ContainTau"""),
      scaleNote = "cost identical to q26 (one posting equi-join on 8-byte hashes; the directed explode is row-local) and the q59 stop-shingle cap composes unchanged; the ratio is one IEEE division of exact ints, so the oracle row set is decided by integer arithmetic alone"),

    // ----- E11/E12: incremental dedup through the oracle gate -------
    // pipeline/IncrementalDedup was spec-only; this runs the real
    // thing — two ingestion batches against a fresh persisted index —
    // and the DuckDB oracle is q26's ONE-SHOT pair SQL, so the gate
    // itself proves batch-wise ingestion converges to the one-shot
    // answer. Batches split at the median doc_id because the module
    // emits each pair when its LARGER id arrives (ids ascend in
    // ingestion order — the module's documented contract). "Median"
    // here means the id-RANGE midpoint, not the count median: any
    // id-ordered split is complete, balance is irrelevant.
    "q132_incremental_pairs" -> Q(
      fn = (s, d) => {
        val root = Analytics.tempSnapshotDir("graft_q132_idx")
        val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val half = base.agg(max(col("doc_id"))).head().getLong(0) / 2
        val p1 = graft.pipeline.IncrementalDedup.dedupBatch(
          base.filter(col("doc_id") <= half), root,
          tau = JaccardTau, batchId = Some(0L), runId = "q132")
        val p2 = graft.pipeline.IncrementalDedup.dedupBatch(
          base.filter(col("doc_id") > half), root,
          tau = JaccardTau, batchId = Some(1L), runId = "q132")
        p1.unionByName(p2)
      },
      sql = Some(jaccardPairsSql),
      scaleNote = "per-batch cost is new-postings × matching old postings (the old side is a streamed column-pruned scan of the persisted index, never recomputed, never checkpointed) — ingesting a 0.1% daily slice probes the index instead of re-shingling the corpus; the batch-subdir layout appends without rewriting"),

    // ----- E12: n-gram Jaccard with a stop-shingle cap --------------
    "q59_dedup_jaccard_capped" -> Q(
      fn = (s, d) => {
        // q26 with the 100 TB guard made real: postings whose shingle
        // occurs in more than StopShingleCap documents are dropped
        // BEFORE the self-join, bounding the worst-case posting-list
        // blowup (a boilerplate header shared by 1M docs would
        // otherwise emit 10^12 candidate pairs). At test SF no shingle
        // exceeds the cap, so the output — and the oracle — equal
        // q26's exactly; at scale the cap trades those pairs away
        // deliberately (ultra-common shingles carry no dedup signal).
        val StopShingleCap = 100
        val sh = shingled(s, d)
        val sizes = sh.select(col("doc_id"), size(col("sh")).as("sz"))
        // The stop-list (shingles in more than cap docs) is BY
        // CONSTRUCTION tiny — only boilerplate crosses the cap — so:
        // groupBy lets partial aggregation collapse each shingle on
        // the map side before its one shuffle, the >cap filter leaves
        // a broadcast-able handful, and a broadcast LEFT-ANTI join
        // strips those postings with zero extra exchanges. (A
        // count-over-window here would sort ALL postings — and, worse,
        // an un-barriered window recomputes on both self-join sides.)
        // The localCheckpoint is the materialization barrier: the
        // self-join below must share ONE capped-posting computation
        // (same discipline as q27's banded frame).
        val capped = cappedPostings(sh, StopShingleCap).localCheckpoint()
        postingPairs(capped, sizes)
      },
      sql = Some(jaccardPairsSql),
      scaleNote = "stop-list via groupBy (map-side partial agg) + broadcast anti-join, checkpointed before the self-join; the cap bounds sum(posting²) — the term that explodes on boilerplate shingles at 100 TB"),

    // ----- E12: MinHash + LSH banding, verified ---------------------
    "q27_dedup_minhash_lsh" -> Q(
      fn = (s, d) => {
        val sh = shingled(s, d)
        // MinHash banding is ONE native pass (minhash_bands): all
        // Bands × RowsPerBand minima accumulate in a single loop over
        // the shingle set. (Round 1 spelled this in pure Catalyst —
        // numHashes interpreted array_min(transform(...)) walks per
        // document — and it dominated the query; the same CollapseProject
        // re-inline hazard that motivated lsh_sigs applies here.)
        // Banded buckets stay SKINNY (doc_id, band, bh) — the shingle
        // sets never travel through the candidate shuffle; they are
        // joined back only for the (few) candidate pairs. The
        // localCheckpoint is a materialization barrier so the
        // self-join's two sides share ONE signature computation.
        val banded = sh
          .select(col("doc_id"),
            posexplode(call_function("minhash_bands", col("sh"),
              lit(Bands), lit(RowsPerBand))).as(Seq("band", "bh")))
          .localCheckpoint()
        val cand = banded.as("a").join(banded.as("b"),
            col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
            col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
          .dropDuplicates("doc1", "doc2")
        // verify candidates with exact Jaccard — LSH is a filter, the
        // emitted pairs are exact
        cand
          .join(sh.select(col("doc_id").as("doc1"), col("sh").as("sh1")), "doc1")
          .join(sh.select(col("doc_id").as("doc2"), col("sh").as("sh2")), "doc2")
          .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))).cast("double"))
          .withColumn("jaccard",
            col("inter") / (size(col("sh1")) + size(col("sh2")) - col("inter")))
          .filter(col("jaccard") >= JaccardTau)
          .select(col("doc1"), col("doc2"), col("jaccard"))
      },
      // the verified-LSH result equals brute force (recall ≈ 1-(1-j²)^8
      // ≥ 0.9997 at the τ boundary, ~1 at the planted j≈0.99 pairs)
      sql = Some(jaccardPairsSql),
      scaleNote = "LSH banding: one shuffle on (band,bucket) — candidate set is tiny vs n²; signature+banding all codegen'd Catalyst; verify stage touches only candidates"),

    // ----- E12: prefix-filtered EXACT similarity join (r12; true
    // PPJoin positional filter r13) ----------------------------------
    // AllPairs/PPJoin (Bayardo-Ma-Srikant 2007, Xiao et al. 2008) —
    // the third way to the same τ = 0.8 Jaccard pairs: q26 joins ALL
    // postings (exact, but sum-of-df² blowup), q27 prunes via LSH
    // (cheap, but probabilistic — its oracle equality holds at
    // recall ≈ 1−(1−j²)^8, a probability q192 measures), THIS is the
    // exact-AND-pruned path: order every shingle set by ascending
    // document frequency (rarest first), index only each set's first
    // |x| − ⌈τ·|x|⌉ + 1 tokens, and join prefixes. The guarantee is a
    // THEOREM, not a probability: J(a,b) ≥ τ ⇒ |a∩b| ≥
    // τ/(1+τ)·(|a|+|b|) ≥ τ·|a| (under the length filter τ|a| ≤ |b|),
    // while two disjoint prefixes confine every shared token to
    // suffixes of ⌈τ|a|⌉−1 < τ|a| tokens — contradiction; so every
    // qualifying pair shares a prefix token and ZERO pairs are
    // missed. r13 adds PPJoin's POSITIONAL filter on top: a shared
    // prefix token at (1-based) positions i in x, j in y bounds the
    // whole overlap only when counted from the FIRST shared token —
    // every shared token sits at ≥ i in x and ≥ j in y, so
    // |x∩y| ≤ 1 + min(|x|−i, |y|−j); a pair is kept if ANY shared
    // prefix occurrence satisfies 1 + min(|x|−i, |y|−j) ≥ α where
    // α = ⌈τ/(1+τ)·(|x|+|y|)⌉ = ⌈4(|x|+|y|)/9⌉ at τ = 4/5. Zero-miss
    // is preserved: for a true pair the FIRST shared token lies inside
    // both α-prefixes (else all shared tokens fit in < α suffix slots)
    // and trivially passes its own bound, since the bound counted from
    // the first shared occurrence is ≥ the true overlap ≥ α. All cuts
    // are exact integers: ⌈4n/5⌉ = (4n+4) DIV 5, length filter
    // 4·max ≤ 5·min and 9·ubound ≥ 4·(sz1+sz2), all by
    // cross-multiplication. The oracle is q26/q27's brute-force SQL —
    // equality is exact by construction for MISSES unconditionally
    // (equal shingle strings hash equal, so no true pair can lose
    // intersection); the zero-EXTRA half additionally rests on
    // in-corpus injectivity of the 64-bit shingle hash (a collision
    // would inflate an intersection), the same documented stance as
    // q26/q50 — the FULLPREC gate would catch any violating corpus.
    "q201_ppjoin_prefix_filter" -> Q(
      fn = (s, d) => {
        val ordered = ppjoinOrdered(s, d)
        val cand = ppjoinCandidates(ordered, positional = true)
        val full = ordered.select(col("doc_id"), col("toks"))
        cand
          .join(full.select(col("doc_id").as("doc1"), col("toks").as("t1")),
            "doc1")
          .join(full.select(col("doc_id").as("doc2"), col("toks").as("t2")),
            "doc2")
          .withColumn("inter",
            size(array_intersect(col("t1"), col("t2"))).cast("double"))
          .withColumn("jaccard",
            col("inter") / (size(col("t1")) + size(col("t2")) - col("inter")))
          .filter(col("jaccard") >= JaccardTau)
          .select(col("doc1"), col("doc2"), col("jaccard"))
      },
      sql = Some(jaccardPairsSql),
      scaleNote = "the prefix cut bounds posting volume to ~(1−τ) of q26's full inverted index AND concentrates it on the rarest tokens (ascending-df order), so the pair join's sum-of-df² term collapses without giving up exactness — this is the serving-free exact dedup plan for 100 TB when a miss is unacceptable (legal/PII copies) and LSH's recall curve (q192/q200) isn't; df ordering costs one vocabulary-keyed aggregate that partial-aggregates map-side, prefixes explode map-side, the candidate join shuffles on the token key, and verification touches only surviving candidates — at τ = 0.9 the prefix is a single-digit fraction of each set; the r13 positional filter prunes candidates BEFORE the dropDuplicates shuffle and the verify joins (a row-local integer compare on columns the join already carries — free at any scale, and the pruned set is what pays for the two verify joins); zero-miss is unconditional, zero-extra rests on in-corpus 64-bit shingle-hash injectivity (documented above)"),

    // ----- E12: LSH recall calibration curve (r11) -------------------
    // The measurement a 100 TB dedup pipeline runs BEFORE committing
    // to a banding geometry: per exact-Jaccard decile, what fraction
    // of true pairs does the candidate join actually surface? q27's
    // verified-LSH result can't show this (verification hides the
    // misses); this query drops the similarity floor to 0.2 and joins
    // ground truth against the raw candidate set. The minhash here is
    // the PORTABLE md5 48-bit family (q133) over STRING shingles —
    // q27's production XXH64 kernel has no DuckDB twin, and a
    // calibration diagnostic must be oracle-able end to end, so this
    // measures a 4-band × 2-row geometry of the mirrorable hash
    // (the curve shape, band-10 exactness, and the join mechanics are
    // geometry-generic). All emissions are exact integers: the decile
    // is the cross-multiplied (10·inter) DIV union, recall is ppm by
    // integer division of BIGINT counts.
    "q192_lsh_recall_curve" -> Q(
      fn = (s, d) => {
        // the twin corpus, exact truth and portable candidates are
        // lshRecallBase's; q192 never builds q200's production leg
        val (_, exact, candPort) = lshRecallBase(s, d)
        val cand = candPort.withColumn("rec", lit(1L))
        exact.join(cand, Seq("d1", "d2"), "left")
          .select(expr("CAST((inter * 10) DIV un AS BIGINT)").as("band"),
            coalesce(col("rec"), lit(0L)).as("rec"))
          .groupBy(col("band"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("rec")).as("n_recalled"))
          .select(col("band"), col("n_pairs"), col("n_recalled"),
            expr("CAST((n_recalled * 1000000) DIV n_pairs AS BIGINT)")
              .as("recall_ppm"))
      },
      sql = Some(s"""
        WITH dd AS (SELECT doc_id,
                           string_split(lower(text), ' ') AS ws
                    FROM documents),
        corpus AS (
          SELECT doc_id, ws FROM dd
          UNION ALL
          SELECT doc_id + 10000000,
                 ws[1:greatest(3, (len(ws) * (3 + doc_id % 8)) // 10)]
          FROM dd WHERE doc_id % 7 = 3 AND len(ws) >= 10),
        s0 AS (SELECT doc_id,
                      list_distinct(CASE WHEN len(ws) >= 3 THEN
                        list_transform(generate_series(1, len(ws) - 2),
                          i -> array_to_string(ws[i:i+2], ' '))
                      ELSE [] END) AS sh
               FROM corpus),
        s2 AS MATERIALIZED (SELECT doc_id, sh FROM s0 WHERE len(sh) > 0),
        ex AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2,
                 len(list_intersect(a.sh, b.sh)) AS inter,
                 len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS un
          FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.sh, b.sh)) * 5 >=
                len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
        mh AS (
          SELECT doc_id, p,
                 min(${OracleSql.hex48("md5('mh' || p || ':' || g)")}) AS h
          FROM (SELECT doc_id, unnest(sh) AS g FROM s2), range(0, 8) t(p)
          GROUP BY 1, 2),
        sig AS MATERIALIZED (
          SELECT doc_id, list(h ORDER BY p) AS mins FROM mh GROUP BY 1),
        band AS (
          SELECT doc_id, b, mins[2*b + 1] AS k1, mins[2*b + 2] AS k2
          FROM sig, range(0, 4) t(b)),
        cand AS (
          SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
          FROM band a JOIN band b
            ON a.b = b.b AND a.k1 = b.k1 AND a.k2 = b.k2
           AND a.doc_id < b.doc_id),
        j AS (
          SELECT ex.inter, ex.un,
                 CASE WHEN cand.d1 IS NOT NULL THEN 1 ELSE 0 END AS rec
          FROM ex LEFT JOIN cand ON ex.d1 = cand.d1 AND ex.d2 = cand.d2)
        SELECT CAST((inter * 10) // un AS BIGINT) AS band,
               count(*) AS n_pairs,
               CAST(sum(rec) AS BIGINT) AS n_recalled,
               CAST((CAST(sum(rec) AS BIGINT) * 1000000) // count(*) AS BIGINT)
                 AS recall_ppm
        FROM j GROUP BY 1"""),
      scaleNote = "the ground-truth side is the expensive half and exists only for calibration — run it on a SAMPLE at 100 TB (the curve is a per-band proportion, so a uniform doc sample estimates it unbiased); the LSH side is q27's plan: one (band, key) candidate shuffle, signature computed in one codegen'd pass, and the report folds to ≤ 9 rows of integer counters whatever the corpus; the ground-truth join keys on the xxhash64 of each shingle, not the string, so by the birthday bound (n²/2^65 expected collisions) one 64-bit collision becomes expected at about 2^32.5 ≈ 6×10⁹ distinct shingles — a collision inflates that pair's inter (and so its j) and fails no gate: nothing here checks for it, only an oracle compare on the string-keyed truth would show it"),

    // ----- E12: both-geometry recall companion to q192 (r12) ---------
    // q192 calibrates the PORTABLE md5 4-band × 2-row family because
    // a fully-oracled curve needs a DuckDB-mirrorable hash; but the
    // geometry q27 actually ships is XXH64 8 bands × 2 rows
    // (minhash_bands), which no registered measurement calibrated
    // (VERDICT r11 item 6). This runs BOTH kernels over the SAME
    // injected twins and exact ground truth, per decile — rows-only
    // by necessity (XXH64 has no DuckDB twin; the portable curve q192
    // stays the oracled anchor, and its counters here are the same
    // measurement re-derived through the shared lshRecallPairs frame).
    // The contract spec pins the published recall form for both:
    // observed recalls sit within Poisson-binomial tolerance of
    // E[rec] = Σ 1−(1−jᵢ^r)^b over the pairs' exact Jaccards, and
    // band 10 (identical sets ⇒ identical signatures) recalls at
    // exactly 1e6 ppm under BOTH kernels.
    "q200_lsh_recall_geometries" -> Q(
      fn = (s, d) =>
        lshRecallPairs(s, d)
          .select(expr("CAST((inter * 10) DIV un AS BIGINT)").as("band"),
            col("rec_portable"), col("rec_production"))
          .groupBy(col("band"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("rec_portable")).as("n_rec_portable"),
            sum(col("rec_production")).as("n_rec_production"))
          .select(col("band"), col("n_pairs"),
            col("n_rec_portable"), col("n_rec_production"),
            expr("CAST((n_rec_portable * 1000000) DIV n_pairs AS BIGINT)")
              .as("recall_portable_ppm"),
            expr("CAST((n_rec_production * 1000000) DIV n_pairs AS BIGINT)")
              .as("recall_production_ppm")),
      scaleNote = "the production half is exactly q27's shipping plan — one codegen'd minhash_bands pass, one (band, key) shuffle — so the calibration measures the geometry that runs at 100 TB, not a stand-in; the exact half is the same calibration-only cost q192 documents (uniform-sample it at scale: both curves are per-band proportions, unbiased under sampling), with q192's xxhash64 collision bound: one collision expected at about 2^32.5 ≈ 6×10⁹ distinct shingles, inflating that pair's inter without failing any gate; the report folds to ≤ 9 rows of integer counters, and the two recall columns side by side are the go/no-go artifact for a banding-geometry change"),

    // ----- E11/E12: winnowing fingerprints (MOSS) — r11 --------------
    // Schleimer, Wilkerson & Aiken 2003: CHARACTER-level copy
    // detection with a guarantee the word-shingle family (q26) cannot
    // give — hash every k-gram, keep the MINIMUM hash of each window
    // of w consecutive positions, and any substring two documents
    // share of length ≥ w + k − 1 (here 8 + 12 − 1 = 19 chars) is
    // GUARANTEED to contribute a shared selected fingerprint: some
    // window lies entirely inside the match on both sides and both
    // pick the same minimum. Fingerprint density is ~2/(w+1) of
    // positions — the sampling is what makes char-level dedup
    // affordable. Over-common fingerprints are df-capped (≤ 5 docs,
    // MOSS's own move and q59's posting guard) before the pair join.
    // The corpus has no organic long literal copies, so the query
    // injects marker-pair twins (the q62/q192 honest-injection
    // stance): for doc_id % 13 == 5, two NEW docs sharing a unique
    // 24+-char marker with different surroundings — the theorem's
    // planted witnesses, cap-proof because each marker is unique to
    // its pair. All emissions are exact integer counts.
    "q193_winnowing_fingerprints" -> Q(
      fn = (s, d) => {
        val K = 8
        val W = 12
        val dd = Tables.documents(s, d)
          .select(col("doc_id"), lower(col("text")).as("t"))
        val tw = dd.filter(col("doc_id") % 13 === 5)
          .select(col("doc_id"),
            expr("repeat(concat('m', CAST(doc_id AS STRING), 'q'), 8)")
              .as("marker"),
            split(col("t"), " ").as("ws"))
          .filter(size(col("ws")) >= 20)
          .localCheckpoint() // one twin frame feeds both injected docs
        val corpus = dd
          .unionByName(tw.select((col("doc_id") + 20000000L).as("doc_id"),
            concat(array_join(slice(col("ws"), 1, 10), " "), lit(" "),
              col("marker")).as("t")))
          .unionByName(tw.select((col("doc_id") + 30000000L).as("doc_id"),
            concat(col("marker"), lit(" "),
              array_join(slice(col("ws"), -10, 10), " ")).as("t")))
        // spread BEFORE the per-position md5 explode (r17, ~200× row
        // fan-out): hashing by doc_id also pre-satisfies the winnowing
        // window's (and the fp-distinct's) required distribution, so
        // the exchange that used to carry the EXPLODED (doc, pos, hash)
        // rows now moves whole documents instead — strictly fewer
        // shuffled bytes (guide §2.3 "project before the exchange").
        // Measured r17: 4.36 → 1.99 s (sf0.1 bench methodology).
        val pos = Tables.spread(corpus, col("doc_id"))
          .filter(length(col("t")) >= K)
          .select(col("doc_id"),
            posexplode(transform(sequence(lit(1), length(col("t")) - (K - 1)),
              i => conv(substring(md5(col("t").substr(i, lit(K))), 1, 12),
                16, 10).cast("long"))).as(Seq("p0", "h")))
        val win = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("p0"))
          .rowsBetween(-(W - 1), 0)
        val sel = pos
          .select(col("doc_id"), col("p0"), min(col("h")).over(win).as("fp"))
          .filter(col("p0") >= W - 1) // full windows only (p0 is 0-based)
          .select(col("doc_id"), col("fp")).distinct()
          .localCheckpoint() // fingerprints feed the cap AND both join sides
        val capped = sel.groupBy(col("fp")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= 5).select(col("fp"))
        val fps = sel.join(capped, "fp")
        fps.as("a").join(fps.as("b"),
            col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
          .agg(count(lit(1)).as("shared"))
      },
      sql = Some(s"""
        WITH dd AS (SELECT doc_id, lower(text) AS t FROM documents),
        tw AS (
          SELECT doc_id, repeat('m' || doc_id || 'q', 8) AS marker,
                 string_split(lower(text), ' ') AS ws
          FROM documents
          WHERE doc_id % 13 = 5 AND len(string_split(lower(text), ' ')) >= 20),
        corpus AS (
          SELECT doc_id, t FROM dd
          UNION ALL
          SELECT doc_id + 20000000,
                 array_to_string(ws[1:10], ' ') || ' ' || marker FROM tw
          UNION ALL
          SELECT doc_id + 30000000,
                 marker || ' ' || array_to_string(ws[-10:], ' ') FROM tw),
        pos AS (
          -- positions enumerate per-row to the document's OWN length
          -- (r11 used a flat range(1, 4096) cross join, silently
          -- capping fingerprinting at 4095 positions while the engine
          -- side walks sequence(1, length(t)-7) uncapped — safe at the
          -- test corpora's <600-char docs but a latent divergence on
          -- any longer document; VERDICT r11 item 4)
          SELECT doc_id, p,
                 ${OracleSql.hex48("md5(substr(t, p, 8))")} AS h
          FROM (SELECT doc_id, t,
                       unnest(generate_series(1, length(t) - 7)) AS p
                FROM corpus WHERE length(t) >= 8)),
        sel AS (
          SELECT DISTINCT doc_id,
                 min(h) OVER (PARTITION BY doc_id ORDER BY p
                   ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS fp
          FROM pos QUALIFY p >= 12),
        capped AS (SELECT fp FROM sel GROUP BY fp HAVING count(*) <= 5),
        fps AS (SELECT s.doc_id, s.fp FROM sel s JOIN capped USING (fp))
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
        FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2"""),
      scaleNote = "fingerprint volume is a FIXED ~2/(w+1) fraction of corpus bytes (the winnowing density bound) computed in one per-doc window pass — doc-local, so the only data-sized exchange is the doc_id partition; the df-cap bounds every posting list before the pair join exactly like q59's stop-shingles (over-common fingerprints carry no copy evidence anyway), and the pair volume then tracks genuinely-shared content; this is how char-level exact-substring dedup (the Lee et al. concern) ships at 100 TB without suffix arrays"),

    // ----- E12: SimHash fingerprints --------------------------------
    "q28_dedup_simhash" -> Q(
      fn = (s, d) =>
        // native codegen'd Expression (graft.functions.SimHash64Md5),
        // registered by GraftExtensions: one pass over the tokens vs
        // the 64 interpreted array-walks a higher-order-function
        // formulation costs. The md5 token hash (first 8 digest bytes
        // big-endian) is the one 64-bit hash DuckDB can reproduce over
        // identical bytes, so the whole simhash is mirror-oracled —
        // the twin extracts each bit from md5()'s hex digit-by-digit.
        // The xxh64 variant (SimHash64, ~2-3× faster/token) stays
        // registered for production paths that don't need the witness;
        // SimHash64Spec proves both against reference bit-walks.
        Tables.documents(s, d)
          .filter(length(col("text")) > 0)
          .select(col("doc_id"),
            call_function("simhash64_md5", words).as("simhash")),
      sql = Some("""
        WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
                   FROM documents WHERE len(text) > 0),
        tok AS (SELECT doc_id, substr(md5(t), 1, 16) AS h
                FROM (SELECT doc_id, unnest(toks) AS t FROM d)),
        bits AS (SELECT doc_id, bb.b,
                        CASE WHEN ((strpos('0123456789abcdef',
                                     substr(h, 16 - bb.b // 4, 1)) - 1)
                                   >> (bb.b % 4)) & 1 = 1
                             THEN 1 ELSE -1 END AS s
                 FROM tok CROSS JOIN
                   (SELECT unnest(generate_series(0, 63)) AS b) bb),
        cnt AS (SELECT doc_id, b, CAST(sum(s) AS BIGINT) AS c
                FROM bits GROUP BY 1, 2),
        sh AS (SELECT doc_id,
                      string_agg(CASE WHEN c > 0 THEN '1' ELSE '0' END, ''
                                 ORDER BY b DESC) AS simhash
               FROM cnt GROUP BY doc_id)
        SELECT d.doc_id, sh.simhash FROM d JOIN sh USING (doc_id)"""),
      scaleNote = "pure per-row codegen expression — no shuffle at all; near-dup search then groups on bit-band substrings like q27"),

    // ----- E12: embedding cosine near-dup pairs ---------------------
    "q29_embedding_near_dup" -> Q(
      fn = (s, d) => {
        // Brute-force all-pairs kernel, fully declarative: a broadcast
        // nested-loop self-join on vec_id< with the native codegen'd
        // vec_dot expression — no driver-side collect, no interpreted
        // higher-order lambdas. Spark broadcasts the build side itself;
        // each task sweeps its stream-side slice against it in
        // generated code. Valid exactly while one side fits in an
        // executor (the precondition of ANY O(n²) scan); the 100 TB
        // path is LSH bucketing (q49), same verify-then-emit pattern.
        val e = Tables.load(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .withColumn("norm", sqrt(call_function("vec_dot", col("v"), col("v"))))
          .localCheckpoint() // one norm pass feeding both join sides
        e.select(col("vec_id").as("vec1"), col("v").as("v1"), col("norm").as("n1"))
          .join(broadcast(e.select(col("vec_id").as("vec2"), col("v").as("v2"),
            col("norm").as("n2"))), col("vec1") < col("vec2"))
          .withColumn("cosine",
            call_function("vec_dot", col("v1"), col("v2")) / (col("n1") * col("n2")))
          .filter(col("cosine") >= 0.4)
          .select(col("vec1"), col("vec2"), col("cosine"))
      },
      sql = Some("""
        SELECT a.vec_id AS vec1, b.vec_id AS vec2,
               list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                 (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                  sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                 sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.4
        """),
      scaleNote = "documented small-corpus kernel (one side broadcast, codegen'd dot); the 100 TB path is q49's hyperplane-LSH bucketing — same verify-then-emit pattern as q27"),

    // ----- E12: CDC chunk-overlap near-dup (rolling hash) -----------
    "q50_dedup_cdc_chunks" -> Q(
      fn = (s, d) => {
        // content-defined chunk fingerprints (native cdc_chunks
        // expression, Gear rolling hash) → inverted-index join on
        // 8-byte chunk hashes → pairs by shared-chunk count. The
        // long-document near-dup signal: robust to insertions because
        // chunk boundaries resynchronize after an edit.
        val ch = Tables.documents(s, d)
          .filter(length(col("text")) > 0)
          .select(col("doc_id"),
            array_distinct(call_function("cdc_chunks", col("text"))).as("chunks"))
          .localCheckpoint()
        val ex = ch.select(col("doc_id"), explode(col("chunks")).as("chunk"))
        val sizes = ch.select(col("doc_id"), size(col("chunks")).as("sz"))
        ex.as("a").join(ex.as("b"),
            col("a.chunk") === col("b.chunk") &&
            col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
          .agg(count(lit(1)).as("shared_chunks"))
          .join(sizes.withColumnRenamed("doc_id", "doc1")
            .withColumnRenamed("sz", "sz1"), "doc1")
          // exact-integer cut and witness (the r9 rational discipline):
          // overlap >= 0.5 is 2*shared >= sz, overlap emits as ppm
          .filter(col("shared_chunks") * 2 >= col("sz1"))
          .select(col("doc1"), col("doc2"), col("shared_chunks"),
            expr("shared_chunks * CAST(1000000 AS BIGINT) DIV sz1")
              .as("overlap_ppm"))
      },
      // Oracled since r9. The r8 rejection ("would need hundreds of
      // lines of XXH64 emulation") dissolved on inspection: (a) the
      // gear table is 256 CONSTANTS — only its GENERATION used XXH64,
      // so the mirror inlines the values as HUGEINT literals; (b) the
      // rolling hash itself is shift-add mod 2^64 — two HUGEINT ops
      // per byte; (c) the 8-byte chunk ids exist only as join keys,
      // and joining on the chunk TEXT has identical semantics (modulo
      // a ~2^-64 xxhash collision, which would be an engine-side
      // correctness event worth failing on anyway). The walk is a
      // recursive CTE over (doc, byte) — corpus docs are ASCII and
      // <= 577 bytes (checked at r9), so the recursion depth is the
      // max doc length and the state is O(live docs) rows/iteration.
      sql = Some(cdcMirrorSql),
      scaleNote = "chunks shuffle as 8-byte hashes; posting-list join like q26 but ~5x fewer postings than word-shingles on long docs"),

    // ----- E12: near-dup pairs → keep-one dup GROUPS ----------------
    "q61_dedup_groups" -> Q(
      fn = (s, d) => {
        // The step every real dedup pipeline needs after pair
        // generation: transitive closure. A~B and B~C must collapse to
        // ONE kept doc even when A~C itself is below τ. Pairs are
        // exactly q26's; components via O(log n)-round star
        // contraction (operators/ConnectedComponents.scala — naive
        // label propagation is O(diameter) rounds and dies on chained
        // near-dups at scale). Output: every doc, its group
        // representative (min doc_id), group size, and the keep-one
        // verdict.
        sizedDupGroups(s, d)
          .select(col("doc_id"), col("group_id"), col("group_sz"),
            (col("doc_id") === col("group_id")).cast("int").as("kept"))
      },
      sql = Some(dupGroupsSql + """
        SELECT doc_id, group_id,
               count(*) OVER (PARTITION BY group_id) AS group_sz,
               CAST(doc_id = group_id AS INT) AS kept
        FROM lab"""),
      scaleNote = "star contraction: O(log n) rounds of two groupBy-min shuffles on (long,long) edges, localCheckpoint per round truncates iterative lineage; edge volume = near-dup pairs only, not corpus size"),

    // ----- q171: frequency-damped soft dedup ------------------------
    // Between q61's keep-one and no dedup at all: keep ceil(sqrt(n))
    // docs from each n-doc near-dup cluster — the sqrt damping that
    // keeps SOME natural duplication signal (popular documents are
    // upweighted by the web for a reason) while crushing the quadratic
    // memorization risk of large clusters; the same temperature
    // intuition as q90's count^0.5 language budgets, applied to dup
    // groups. Selection is salt-keyed md5 rank (q69's discipline), so
    // the kept subset is deterministic and spread across sources
    // rather than biased to low doc_ids. The quota is EXACT integer
    // ceil-sqrt in both engines: f = floor(ieee-sqrt(n)) is identical
    // (correctly-rounded double sqrt), then the f*f >= n correction
    // makes the result exact whatever side of the ulp f landed on.
    "q171_soft_dedup" -> Q(
      fn = (s, d) => {
        val f = floor(sqrt(col("group_sz").cast("double"))).cast("long")
        sizedDupGroups(s, d)
          .withColumn("quota",
            when(f * f >= col("group_sz"), f).otherwise(f + 1L))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("group_id")).orderBy(
              md5(concat(lit("soft:"), col("doc_id").cast("string"))),
              col("doc_id"))))
          .select(col("doc_id"), col("group_id"), col("group_sz"),
            col("quota"), (col("rk") <= col("quota")).cast("long").as("kept"))
      },
      sql = Some(dupGroupsSql + """,
        sz AS (SELECT doc_id, group_id,
                      count(*) OVER (PARTITION BY group_id) AS group_sz
               FROM lab),
        qq AS (SELECT doc_id, group_id, group_sz,
                      CAST(floor(sqrt(CAST(group_sz AS DOUBLE))) AS BIGINT) AS f
               FROM sz),
        ranked AS (
          SELECT doc_id, group_id, group_sz,
                 CASE WHEN f * f >= group_sz THEN f ELSE f + 1 END AS quota,
                 row_number() OVER (PARTITION BY group_id
                   ORDER BY md5('soft:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
          FROM qq)
        SELECT doc_id, group_id, group_sz, quota,
               CAST(rk <= quota AS BIGINT) AS kept
        FROM ranked"""),
      scaleNote = "q61's plan (posting equi-join pairs, O(log n) star contraction) plus ONE rank window partitioned by group_id — groups are near-dup clusters, orders of magnitude smaller than the corpus, so the window never sees a skewed partition; the quota arithmetic is exact-integer ceil-sqrt (ieee sqrt + f*f correction), portable at any cluster size"),

    // ----- q179: Fellegi-Sunter probabilistic record linkage --------
    // Entity resolution across two databases with no shared key — the
    // classic survey-statistics formulation (Fellegi & Sunter 1969)
    // behind every production MDM/linkage system: compare candidate
    // pairs field-by-field, sum per-field agreement/disagreement
    // log-odds weights, and cut the score into match / possible
    // (clerical review) / non-match bands. The corpus has one
    // customer table, so the second database is a deterministic
    // perturbation of it (q62's inject-then-operate stance): per
    // custkey mod 4 the name is case-folded, suffixed ' jr', given a
    // last-char typo, or left alone, and the balance jitters by a few
    // cents — so ground truth is known per pair and the score bands'
    // behavior is auditable. Weights are fixed integer milli-log-odds
    // (the m/u estimation step is a separate EM fit in the
    // literature; fixing published-magnitude weights keeps every
    // score an exact integer). Candidates come from blocking on
    // (nation, a name-digit bigram) — perturbation-invariant by
    // construction, so candidate recall of true pairs is exactly 1
    // here; multi-pass blocking for fallible keys is q120.
    "q179_record_linkage" -> Q(
      fn = (s, d) =>
        linkageCmp(s, d)
          .withColumn("score_milli",
            when(col("name_agree") === 1, 5000L).otherwise(-1000L) +
              when(col("lev_agree") === 1, 2500L).otherwise(-2500L) +
              when(col("seg_agree") === 1, 800L).otherwise(-2000L) +
              when(col("bal_agree") === 1, 3000L).otherwise(-500L))
          .select(col("a_key"), col("b_key"),
            col("name_agree"), col("lev_agree"), col("seg_agree"),
            col("bal_agree"), col("score_milli"),
            when(col("score_milli") >= 8000, "match")
              .when(col("score_milli") >= 1500, "possible")
              .otherwise("non_match").as("band"),
            (col("a_key") === col("b_key")).cast("long").as("is_true")),
      sql = Some(s"""
        WITH $linkageCmpSql,
        sc AS (
          SELECT *,
                 (CASE WHEN name_agree = 1 THEN 5000 ELSE -1000 END
                  + CASE WHEN lev_agree = 1 THEN 2500 ELSE -2500 END
                  + CASE WHEN seg_agree = 1 THEN 800 ELSE -2000 END
                  + CASE WHEN bal_agree = 1 THEN 3000 ELSE -500 END)
                   AS score_milli
          FROM cmp)
        SELECT a_key, b_key, name_agree, lev_agree, seg_agree, bal_agree,
               CAST(score_milli AS BIGINT) AS score_milli,
               CASE WHEN score_milli >= 8000 THEN 'match'
                    WHEN score_milli >= 1500 THEN 'possible'
                    ELSE 'non_match' END AS band,
               CAST(a_key = b_key AS BIGINT) AS is_true
        FROM sc"""),
      scaleNote = "candidates are a blocked equi-join on (nation, name-bigram) — never a cartesian; per-pair comparison is pure map-side integer arithmetic (the one levenshtein runs on 18-to-21-char strings, constant work); at 100 TB the block key is the knob — tighter keys shrink pair volume, q120's multi-pass union covers fallible keys — and the weight table broadcasts when it comes from an EM fit instead of constants"),

    // ----- q180: EM fit of the linkage mixture (m/u estimation) -----
    // q179 scores with FIXED weights; this computes them. The
    // agreement patterns are a 2-class mixture (true matches M vs
    // non-matches U), and Fellegi-Sunter's m_i = P(agree_i | M),
    // u_i = P(agree_i | U), p = P(M) come from unsupervised EM over
    // the pattern counts (Winkler's classic recipe): E-step scores
    // each of the ≤16 patterns' posterior match probability, M-step
    // re-estimates (p, m, u) from posterior-weighted counts. The
    // corpus contributes ONE blocked-join + pattern-count pass; all
    // five EM rounds run on the 16-row pattern frame with a 1-row
    // broadcast parameter frame per round (q154's fixed-point shape).
    // Params round to 6 dp per round on both sides — the q142
    // iterative discipline — so the whole trajectory is bit-stable.
    "q180_linkage_em" -> Q(
      fn = (s, d) => {
        val pat = linkageCmp(s, d)
          .groupBy(col("name_agree").as("g1"), col("lev_agree").as("g2"),
            col("seg_agree").as("g3"), col("bal_agree").as("g4"))
          .agg(count(lit(1)).cast("double").as("n"))
          .localCheckpoint() // the corpus pass happens exactly once
        var params = pat.sparkSession.range(1).select(
          lit(0.1).as("p") +:
            (1 to 4).map(i => lit(0.9).as(s"m$i")) ++:
            (1 to 4).map(i => lit(0.1).as(s"u$i")): _*)
        for (_ <- 1 to EmRounds) {
          def term(i: Int, v: String) =
            when(col(s"g$i") === 1, col(s"$v$i"))
              .otherwise(lit(1.0) - col(s"$v$i"))
          val e = pat.crossJoin(broadcast(params))
            .withColumn("pm", col("p") *
              term(1, "m") * term(2, "m") * term(3, "m") * term(4, "m"))
            .withColumn("pu", (lit(1.0) - col("p")) *
              term(1, "u") * term(2, "u") * term(3, "u") * term(4, "u"))
            .withColumn("w", col("pm") / (col("pm") + col("pu")))
          val aggs: Seq[org.apache.spark.sql.Column] =
            round(sum(col("n") * col("w")) / sum(col("n")), 6).as("p") +:
              ((1 to 4).map(i =>
                round(sum(col("n") * col("w") * col(s"g$i")) /
                  sum(col("n") * col("w")), 6).as(s"m$i")) ++
                (1 to 4).map(i =>
                  round(sum(col("n") * (lit(1.0) - col("w")) * col(s"g$i")) /
                    sum(col("n") * (lit(1.0) - col("w"))), 6).as(s"u$i")))
          params = e.agg(aggs.head, aggs.tail: _*)
            .localCheckpoint() // truncate the per-round lineage
        }
        params.select(explode(array((1 to 4).map(i =>
            struct(lit(i.toLong).as("field"),
              col(s"m$i").as("m"), col(s"u$i").as("u"))): _*)).as("f"),
            col("p"))
          .select(col("f.field").as("field"), col("f.m").as("m"),
            col("f.u").as("u"), col("p"))
      },
      sql = Some(s"""
        WITH $linkageCmpSql,
        $emSqlCtes
        SELECT CAST(f.i AS BIGINT) AS field,
               CASE f.i WHEN 1 THEN m1 WHEN 2 THEN m2 WHEN 3 THEN m3
                        ELSE m4 END AS m,
               CASE f.i WHEN 1 THEN u1 WHEN 2 THEN u2 WHEN 3 THEN u3
                        ELSE u4 END AS u,
               p
        FROM p$EmRounds, (SELECT unnest([1, 2, 3, 4]) AS i) f"""),
      scaleNote = "the corpus appears in exactly one blocked-join pattern-count pass (16 partial counts per partition, map-side); every EM round is arithmetic on a 16-row frame with a broadcast 1-row parameter frame — adding data changes the COUNTS, never the round cost, so the fit is as cheap at 100 TB as at test SF; the fitted (m, u, p) then feed q179's scorer as its broadcast weight table"),

    // ----- q89: sub-document (chunk-level) exact dedup --------------
    // Paragraph/chunk granularity: split each doc into fixed 10-word
    // chunks, dedup chunks ACROSS the corpus (first occurrence by
    // (doc_id, position) wins), report per-doc survival. This is the
    // dedup a pretraining pipeline runs when whole-doc dedup passes
    // but boilerplate paragraphs repeat across pages.
    "q89_chunk_dedup" -> Q(
      fn = (s, d) => {
        val ws = split(col("text"), " ")
        val chunks = Tables.documents(s, d)
          .select(col("doc_id"),
            transform(
              sequence(lit(0), ceil(size(ws) / lit(10.0)).cast("int") - 1),
              i => array_join(slice(ws, i * 10 + 1, lit(10)), " ")).as("chunks"))
          .select(col("doc_id"), posexplode(col("chunks")).as(Seq("idx", "chunk")))
        val rn = row_number().over(
          Window.partitionBy(col("chunk")).orderBy(col("doc_id"), col("idx")))
        chunks.withColumn("rn", rn)
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"),
            sum((col("rn") === 1).cast("long")).as("n_kept"))
      },
      sql = Some("""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        c AS (
          SELECT doc_id,
                 unnest(range(1, CAST(ceil(len(ws)/10.0) AS BIGINT) + 1)) AS idx,
                 unnest(list_transform(
                   range(1, CAST(ceil(len(ws)/10.0) AS BIGINT) + 1),
                   i -> array_to_string(ws[((i-1)*10+1):(i*10)], ' '))) AS chunk
          FROM w),
        r AS (
          SELECT doc_id, idx, chunk,
                 row_number() OVER (PARTITION BY chunk
                   ORDER BY doc_id, idx) AS rn
          FROM c)
        SELECT doc_id, count(*) AS n_chunks,
               CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM r GROUP BY doc_id"""),
      scaleNote = "one shuffle on the chunk text (hash-partitioned; at 100 TB hash the chunk to 16 bytes first — same plan, skinnier key); chunking itself is map-side array ops inside codegen, and the survivors reassemble by (doc_id, idx) without re-reading the corpus"),

    // ----- q101: blocked fuzzy match (edit distance) ----------------
    // The record-linkage modality the token-set family can't express:
    // pairs whose text PREFIXES are within levenshtein ≤ 10. Blocking
    // on the first 8 chars turns the quadratic all-pairs comparison
    // into an equi-join (the standard blocking tradeoff: a near-dup
    // differing inside the first 8 chars is deliberately missed — at
    // 100 TB recall comes from multiple blocking passes, same plan).
    "q101_fuzzy_match_blocked" -> Q(
      fn = (s, d) => {
        // Hot-block cap (the q59 stop-shingle guard applied to the
        // blocking key): a block shared by k docs costs k²/2
        // levenshtein calls in the self-join below, so blocks with
        // more than HotBlockCap members are dropped BEFORE the join —
        // a boilerplate prefix ("copyright 20…") shared by 1M docs
        // must not detonate the kernel. The >cap survivors are by
        // construction a handful, so the stop-list broadcasts and the
        // LEFT-ANTI strip adds zero exchanges. At every tested SF the
        // largest block (165 docs at sf0.1) is under the cap, so the
        // output — and the oracle — are identical to the uncapped
        // join; at scale the cap trades those pairs away deliberately
        // (recall over hot prefixes comes from extra blocking passes).
        val HotBlockCap = 256
        // spread before the barrier (r17): the blocked frame is a
        // broadcast anti-join straight off the corpus scan, so the
        // checkpoint and the levenshtein kernel probing it ran in ONE
        // task; keyed on the blocking key the self-join uses
        val a = Tables.spread(
            cappedBlocks(blockedFrame(s, d), HotBlockCap), col("blk"))
          .localCheckpoint() // barrier: cap once, not once per join side
        a.as("x").join(a.as("y"),
            col("x.blk") === col("y.blk") &&
            col("x.doc_id") < col("y.doc_id"))
          .withColumn("dist",
            levenshtein(col("x.t"), col("y.t")).cast("long"))
          .filter(col("dist") <= 10)
          .select(col("x.doc_id").as("doc1"),
            col("y.doc_id").as("doc2"), col("dist"))
      },
      sql = Some("""
        WITH a AS (
          SELECT doc_id, substr(lower(text), 1, 40) AS t,
                 substr(lower(text), 1, 8) AS blk
          FROM documents)
        SELECT x.doc_id AS doc1, y.doc_id AS doc2,
               CAST(levenshtein(x.t, y.t) AS BIGINT) AS dist
        FROM a x JOIN a y ON x.blk = y.blk AND x.doc_id < y.doc_id
        WHERE levenshtein(x.t, y.t) <= 10"""),
      scaleNote = "the O(len²) edit-distance kernel runs ONLY on blocked candidates from the equi-join — never all pairs; the hot-block cap (stop-list via map-side agg + broadcast anti-join, q59's guard on the blocking key) bounds per-block fan-out at k ≤ 256 so the worst block costs ≤ 32k comparisons, and the 40-char prefix caps the DP cost per pair"),

    // ----- q112: sparse tf-idf cosine near-dup ----------------------
    // The WEIGHTED companion of q26's set-Jaccard: documents as sparse
    // tf-idf vectors over 3-word shingles, pair similarity = cosine,
    // computed via the same inverted-index posting join (dot products
    // accumulate per shared shingle — no document-vector materializes
    // anywhere). Weights use q65's exact-rational idf (tf·N/df, one
    // IEEE division) so the candidate SET is decided by the integer
    // shared-shingle gate alone; the cosine itself is a sum of
    // positive doubles (condition number 1 — no cancellation), far
    // inside the gate's 6-sig-fig canonicalization.
    "q112_sparse_cosine_pairs" -> Q(
      fn = (s, d) => {
        // df cap: shingles appearing in more docs than this are
        // corpus boilerplate — dropped from the vectors entirely
        // (prefix-filtering literature's standard move; q59's stop-
        // shingle guard as a SEMANTIC, not just a plan guard). At
        // every tested SF max df is 7, so nothing is pruned and the
        // oracle sees the identical vocabulary.
        val DfCap = 1000
        val MinShared = 3
        val base = Tables.documents(s, d)
        // spread before the shingle explode (r17): hash(doc_id) also
        // pre-satisfies the (doc_id, sh) tf-aggregation below, so the
        // exchange that carried EXPLODED postings now moves whole
        // documents
        val tf = Tables.spread(base, col("doc_id"))
          .select(col("doc_id"), words.as("ws"))
          .filter(size(col("ws")) >= 3)
          .select(col("doc_id"),
            explode(transform(sequence(lit(1), size(col("ws")) - 2),
              i => array_join(slice(col("ws"), i, lit(3)), " "))).as("shs"))
          // hash the shingle BEFORE the first shuffle: every downstream
          // exchange (tf, df, weights, both posting sides) then moves
          // 8-byte longs instead of ~20-char strings — q26's posting-
          // key stance, same 2^-64-per-pair collision trade (a
          // collision would merge two tf/df entries)
          .select(col("doc_id"), xxhash64(col("shs")).as("sh"))
          .groupBy(col("doc_id"), col("sh")).agg(count(lit(1)).as("tf"))
          .localCheckpoint() // one tokenize feeds df, weights and both join sides
        val dfreq = tf.groupBy(col("sh")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= DfCap)
        val n = base.agg(count(lit(1)).as("n_docs"))
        val wt = tf.join(broadcast(dfreq), "sh")
          .crossJoin(broadcast(n))
          .select(col("doc_id"), col("sh"),
            ((col("tf") * col("n_docs")).cast("double") / col("df")).as("w"))
          .localCheckpoint() // barrier: weigh once, not once per side
        val nrm = wt.groupBy(col("doc_id"))
          .agg(sqrt(sum(col("w") * col("w"))).as("nv"))
        wt.as("a").join(wt.as("b"),
            col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(sum(col("a.w") * col("b.w")).as("dot"),
            count(lit(1)).as("shared"))
          .filter(col("shared") >= MinShared)
          .join(nrm.select(col("doc_id").as("doc_a"), col("nv").as("na")), "doc_a")
          .join(nrm.select(col("doc_id").as("doc_b"), col("nv").as("nb")), "doc_b")
          // round(,6): the dot-product partials merge in partition
          // order, so raw low bits differ across engines (q117's
          // canonicalization discipline)
          .select(col("doc_a"), col("doc_b"), col("shared"),
            round(col("dot") / (col("na") * col("nb")), 6).as("cosine"))
      },
      sql = Some("""
        WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
                   FROM documents),
        sg AS (SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS sh
               FROM w, unnest(generate_series(1, len(ws) - 2)) AS t(i)
               WHERE len(ws) >= 3),
        tf AS (SELECT doc_id, sh, count(*) AS tf FROM sg GROUP BY 1, 2),
        d AS (SELECT sh, count(*) AS df FROM tf GROUP BY 1
              HAVING count(*) <= 1000),
        n AS (SELECT count(*) AS n_docs FROM documents),
        wt AS (SELECT tf.doc_id, tf.sh,
                      CAST(tf.tf * n.n_docs AS DOUBLE) / d.df AS w
               FROM tf JOIN d USING (sh) CROSS JOIN n),
        nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nv FROM wt GROUP BY 1),
        p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     sum(a.w * b.w) AS dot, count(*) AS shared
              FROM wt a JOIN wt b
                ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
        SELECT p.doc_a, p.doc_b, p.shared,
               round(p.dot / (x.nv * y.nv), 6) AS cosine
        FROM p JOIN nrm x ON x.doc_id = p.doc_a
               JOIN nrm y ON y.doc_id = p.doc_b
        WHERE p.shared >= 3"""),
      scaleNote = "identical plan skeleton to q26: one tokenize shuffle to (doc,shingle,tf), vocab-sized df frame broadcasts back, and the pair dot-products accumulate map-side inside the posting equi-join's aggregation — no document vector ever materializes. The df cap is load-bearing at 100 TB: it bounds sum(df²) over the join exactly like q59's stop-shingle guard, and pruning boilerplate shingles is the standard prefix-filtering semantic, not an approximation. At scale swap string shingles for the 8-byte native shingle_hashes keys (q26's stance) and the norms join stops broadcasting (docs-sized) — AQE picks the shuffle join automatically"),

    // ----- q116: leakage-safe train/test split (group-aware) --------
    // The eval-hygiene step q60's per-doc split gets WRONG at corpus
    // scale: hashing doc_id puts two near-duplicate documents on
    // opposite sides of the split, leaking training text into the
    // held-out set. The correct unit of assignment is the DUP GROUP:
    // q61's connected component (singletons = their own group), hashed
    // with q60's salt-keyed md5 discipline — so a whole near-dup
    // cluster moves together by construction, reproducibly, with no
    // RNG state.
    "q116_groupwise_split" -> Q(
      fn = (s, d) => {
        dupGroups(s, d)
          .select(col("doc_id"), col("group_id"),
            when(substring(md5(concat(lit("g:"),
                col("group_id").cast("string"))), 1, 2) < "cc",
              "train").otherwise("test").as("split"))
      },
      sql = Some(dupGroupsSql + """
        SELECT doc_id, group_id,
               CASE WHEN substr(md5('g:' || CAST(group_id AS VARCHAR)), 1, 2) < 'cc'
                    THEN 'train' ELSE 'test' END AS split
        FROM lab"""),
      scaleNote = "q61's component cost (O(log n) contraction rounds on the pair list) + a pure map-side hash projection — the split itself adds zero shuffles, and assignment is a function of the group label alone, so it survives retries/re-runs and stays stable when docs are added to an existing group's corpus"),

    // ----- q117: duplicated n-gram coverage (exact-substring dup) ---
    // The document-level statistic behind exact-substring dedup: for
    // every 5-gram POSITION in a doc (with multiplicity — repeats
    // inside one doc count, unlike q26's distinct shingle sets), is
    // that 5-gram repeated anywhere in the corpus? dup_ppm is the
    // fraction of a doc that is corpus-duplicated text (in parts per
    // million) — the score a span-removal pass thresholds on.
    // Positions move as 8-byte xxhash64 keys (q26's stance); the
    // string 5-grams exist only in the oracle. The ratio is emitted as
    // an EXACT integer (n_dup·10⁶ div n_pos): round(x,6) survived the
    // local full-precision gate but tripped the driver's in r7/r8 —
    // Spark HALF_UPs the shortest decimal repr while DuckDB rounds the
    // binary value, and which repr-tie values exist depends on the
    // DuckDB build. Integer division has no tie set at all.
    "q117_dup_ngram_coverage" -> Q(
      fn = (s, d) => {
        val base = Tables.documents(s, d)
        val pos = gramPositions(base, 5)
        gramCoverage(base, pos, pos.groupBy(col("g")).agg(count(lit(1)).as("cnt")))
      },
      sql = Some("""
        WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
                   FROM documents),
        pos AS (SELECT doc_id, array_to_string(ws[i:i+4], ' ') AS g
                FROM w, unnest(generate_series(1, len(ws) - 4)) AS t(i)
                WHERE len(ws) >= 5),
        occ AS (SELECT g, count(*) AS occ FROM pos GROUP BY g),
        per AS (SELECT doc_id, count(*) AS np,
                       CAST(sum(CASE WHEN occ >= 2 THEN 1 ELSE 0 END)
                            AS BIGINT) AS nd
                FROM pos JOIN occ USING (g) GROUP BY doc_id)
        SELECT d.doc_id,
               coalesce(per.np, 0) AS n_pos,
               coalesce(per.nd, 0) AS n_dup,
               CASE WHEN per.np > 0
                    THEN (per.nd * CAST(1000000 AS BIGINT)) // per.np
               END AS dup_ppm
        FROM documents d LEFT JOIN per USING (doc_id)"""),
      scaleNote = "positions ≈ corpus token count, but every one moves as an 8-byte hash: the occurrence index aggregates with map-side partials (a boilerplate gram repeated 10⁹× costs one partial counter per partition, not a hot reducer — why this is a groupBy+join and NOT a count-over-window, whose per-g sort partition would concentrate every occurrence of a mega-dup gram), the shuffle_hash hint pins the BUILD side to the aggregated index so no stats misestimate ever broadcasts the position frame, and probe-side skew splits under AQE. One further doc_id shuffle folds positions to per-doc fractions; at 100 TB the occ frame is the corpus's duplicated-span index — persist it once and every later span-removal pass probes it for free"),

    // ----- q119: duplicated-span REMOVAL (the q117 transform) -------
    // q117 measures; this rewrites. Every token covered by any
    // corpus-duplicated 5-gram occurrence is dropped and the document
    // reassembled from the survivors — the span-removal pass of
    // exact-substring dedup (planted near-dup docs collapse to empty;
    // organic docs lose only their boilerplate runs). Output is the
    // cleaned text itself, so the oracle hash-checks the full rewrite,
    // not a summary.
    "q119_dup_span_removal" -> Q(
      fn = (s, d) => {
        val N = 5
        val base = Tables.documents(s, d)
        // spread before the barrier (r17): the per-position 5-gram
        // xxhash64 explode and the token posexplode both ran in ONE
        // task off a 1-partition checkpoint; hash(doc_id) also
        // co-partitions the (doc_id, idx) anti-join's sides
        val toks = Tables.spread(
            base.select(col("doc_id"), words.as("ws")), col("doc_id"))
          .localCheckpoint() // one tokenize feeds positions AND the rebuild
        val pos = toks.filter(size(col("ws")) >= N)
          .select(col("doc_id"),
            posexplode(transform(sequence(lit(1), size(col("ws")) - (N - 1)),
              i => xxhash64(array_join(slice(col("ws"), i, lit(N)), " "))))
              .as(Seq("p0", "g")))
          .select(col("doc_id"), (col("p0") + 1).as("i"), col("g"))
        val dup = pos.groupBy(col("g")).agg(count(lit(1)).as("c"))
          .filter(col("c") >= 2).select(col("g"))
        // token indexes blanked by some duplicated occurrence: each
        // flagged position covers [i, i+4]; overlaps collapse in the
        // distinct
        val rm = pos.join(dup.hint("shuffle_hash"), "g")
          .select(col("doc_id"),
            explode(sequence(col("i"), col("i") + (N - 1))).as("ri"))
          .distinct()
        val tk = toks
          .select(col("doc_id"), posexplode(col("ws")).as(Seq("i0", "tok")))
          .select(col("doc_id"), (col("i0") + 1).as("idx"), col("tok"))
        val kept = tk.join(rm,
          tk("doc_id") === rm("doc_id") && col("idx") === col("ri"), "left_anti")
        val agg = kept.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_kept"),
            array_join(transform(
              array_sort(collect_list(struct(col("idx"), col("tok")))),
              p => p.getField("tok")), " ").as("clean_text"))
        base.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            coalesce(col("clean_text"), lit("")).as("clean_text"))
      },
      sql = Some("""
        WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
                   FROM documents),
        pos AS (SELECT doc_id, i, array_to_string(ws[i:i+4], ' ') AS g
                FROM w, unnest(generate_series(1, len(ws) - 4)) AS t(i)
                WHERE len(ws) >= 5),
        occ AS (SELECT g FROM (SELECT g, count(*) AS c FROM pos GROUP BY g)
                WHERE c >= 2),
        rm AS (SELECT DISTINCT doc_id, ri
               FROM pos JOIN occ USING (g),
                    unnest(generate_series(i, i + 4)) AS u(ri)),
        tk AS (SELECT doc_id, i AS idx, ws[i] AS tok
               FROM w, unnest(generate_series(1, len(ws))) AS t(i)),
        kept AS (SELECT tk.* FROM tk
                 WHERE NOT EXISTS (SELECT 1 FROM rm
                                   WHERE rm.doc_id = tk.doc_id
                                     AND rm.ri = tk.idx)),
        agg AS (SELECT doc_id, count(*) AS n_kept,
                       string_agg(tok, ' ' ORDER BY idx) AS clean_text
                FROM kept GROUP BY doc_id)
        SELECT d.doc_id, coalesce(agg.n_kept, 0) AS n_kept,
               coalesce(agg.clean_text, '') AS clean_text
        FROM documents d LEFT JOIN agg USING (doc_id)"""),
      scaleNote = "three shuffles end to end, all on compact keys: the 8-byte-gram occurrence index (q117's, reusable verbatim if persisted), the blank-list distinct on (doc_id, token-index) pairs — ≤5× the flagged positions, overlaps collapsing map-side — and the rebuild groupBy(doc_id). The rebuild's collect_list is bounded by per-doc token count (context-length order, q66/q70's stance), never corpus-sized; the kept/blank anti-join is an equi-join AQE sizes (broadcast at test SF, shuffled with skew split at 100 TB). The removal set is exact — no bloom shortcut — so the output text is reproducible byte-for-byte across engines"),

    // ----- q120: multi-pass blocked fuzzy match (q101's recall arm) --
    // q101's scaleNote promises that recall lost to single-key
    // blocking (an edit inside the first 8 chars breaks the block)
    // comes back from EXTRA BLOCKING PASSES over different keys — this
    // is that operator: pass 1 blocks on chars 1–8, pass 2 on chars
    // 9–16, candidate pairs union-distinct BEFORE the levenshtein
    // kernel so each surviving pair pays the O(len²) DP exactly once.
    "q120_fuzzy_match_multipass" -> Q(
      fn = (s, d) => {
        val HotBlockCap = 256
        def pass(off: Int): DataFrame = {
          val a = cappedBlocks(blockedFrameBy(s, d, off), HotBlockCap)
            .localCheckpoint() // cap once per pass, not once per join side
          a.as("x").join(a.as("y"),
              col("x.blk") === col("y.blk") &&
              col("x.doc_id") < col("y.doc_id"))
            .select(col("x.doc_id").as("doc1"), col("y.doc_id").as("doc2"),
              col("x.t").as("t1"), col("y.t").as("t2"))
        }
        pass(1).unionByName(pass(9))
          .dropDuplicates("doc1", "doc2")
          .withColumn("dist", levenshtein(col("t1"), col("t2")).cast("long"))
          .filter(col("dist") <= 10)
          .select(col("doc1"), col("doc2"), col("dist"))
      },
      sql = Some("""
        WITH a AS (
          SELECT doc_id, substr(lower(text), 1, 40) AS t,
                 substr(lower(text), 1, 8) AS b1,
                 substr(lower(text), 9, 8) AS b2
          FROM documents),
        cand AS (
          SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2,
                 x.t AS t1, y.t AS t2
          FROM a x JOIN a y
            ON (x.b1 = y.b1 OR x.b2 = y.b2) AND x.doc_id < y.doc_id)
        SELECT doc1, doc2, CAST(levenshtein(t1, t2) AS BIGINT) AS dist
        FROM cand WHERE levenshtein(t1, t2) <= 10"""),
      scaleNote = "each pass is q101's bounded plan (equi-join on an 8-char block key, hot-block cap via broadcast anti-join) — the multi-pass union multiplies cost by the NUMBER OF PASSES, never by pair count, and the dedup-before-kernel keeps the levenshtein work at |distinct candidates|. The oracle's OR-join spelling would be a nested-loop at scale; the engine never runs it — passes stay independent equi-joins, which is exactly why multi-pass blocking is the standard recall remedy at 100 TB")
  )
}
