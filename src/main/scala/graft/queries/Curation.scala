package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.ConnectedComponents

/** Training-data curation catalog — the filter/scrub/select/pack stages
  * a 100 TB pretraining pipeline runs between raw crawl and tokenizer
  * (public recipes: C4, Gopher, RefinedWeb — PAPERS.md). The reference
  * (keyasuda/llm-batch-processor) stops at per-record LLM enrichment;
  * these are the non-LLM curation operators that surround it in a real
  * pipeline. All are pure map-side or single-shuffle plans.
  */
object Curation extends Catalog {

  // ---- q62: PII redaction ------------------------------------------
  // The synthetic corpus carries no organic PII, so the query first
  // injects a deterministic email/phone/IP per doc (a function of
  // doc_id — honest and reproducible in both engines), then scrubs.
  // The operator under test is the scrub; the injection just gives it
  // something real to match at every scale factor.
  // Patterns are the RE2 ∩ java.util.regex portable subset: character
  // classes and bounded repetition only — no lookaround, no backrefs.
  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhoneRe = "\\+1-[0-9]{3}-[0-9]{4}"
  private val IpRe = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  // ---- q63: Gopher-style quality gates (public heuristics) ---------
  private val MinWords = 20
  private val MaxWords = 200
  private val MinMeanWlen = 3.0
  private val MaxMeanWlen = 10.0
  private val MaxRepetition = 0.9

  // ---- q66: sequence packing ---------------------------------------
  /** context-window budget in whitespace tokens */
  private val PackCapacity = 256

  // ---- q70: token chunking -----------------------------------------
  /** chunk budget / stride in whitespace tokens (overlap = 8) */
  private val ChunkBudget = 32
  private val ChunkStride = 24

  /** q146: 12-hex-digit md5 prefix as a 48-bit integer (the q133
    * discipline — DuckDB has no conv(); digit-by-digit strpos)
    */
  private def kmvHexSql(h: String): String = OracleSql.hex48(h)

  // ---- q160/q186: the shared DSIR score frame ----------------------
  /** Per-doc DSIR importance scores (doc_id, n_grams, logw, logw_pg).
    * Target set = the q142-positive class (≥ 55 tokens — same gate, so
    * the two selectors are directly comparable); features = unigrams +
    * word bigrams hashed into B = 4096 buckets (md5-derived 48-bit,
    * the q133 portable family); per-bucket Laplace-smoothed log-ratio
    * ln p_target(f) − ln p_raw(f); per-doc importance = Σ over the
    * doc's gram occurrences. The log-ratio is transcendental, so the
    * per-doc sum rounds to 6 dp on both sides (q128's KL discipline —
    * partition merge order + ~1 ulp ln skew both absorbed). `logw` is
    * the textbook DSIR weight but is length-confounded (every extra
    * gram adds an E[lr] < 0 term under the raw distribution); ranking
    * uses `logw_pg`, the per-gram mean, which compares docs of
    * different lengths fairly. Shared by q160 (exact top-K ground
    * truth) and q186 (broadcast-threshold scale path).
    */
  private def dsirPer(s: SparkSession, d: String): DataFrame = {
    val B = 4096L
    val base = Tables.documents(s, d).filter(length(col("text")) > 0)
      .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
      .withColumn("is_t", size(col("ws")) >= 55)
    val uni = base.select(col("doc_id"), col("is_t"),
      explode(col("ws")).as("g"))
    val bi = base.filter(size(col("ws")) >= 2)
      .select(col("doc_id"), col("is_t"),
        explode(transform(sequence(lit(1), size(col("ws")) - 1),
          i => concat_ws(" ", element_at(col("ws"), i),
            element_at(col("ws"), i + 1)))).as("g"))
    val grams = uni.unionByName(bi)
      .filter(length(col("g")) > 0)
      .select(col("doc_id"),
        pmod(conv(substring(md5(concat(lit("ds:"), col("g"))), 1, 12),
          16, 10).cast("long"), lit(B)).as("f"),
        col("is_t"))
      .localCheckpoint() // one gram pass feeds stats AND scoring
    val bucket = grams.groupBy(col("f"))
      .agg(count(lit(1)).as("cr"),
        sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"))
    val tot = bucket.agg(sum(col("cr")).as("r"), sum(col("ct")).as("t"))
    val ratio = bucket.crossJoin(broadcast(tot))
      .select(col("f"),
        (log((col("ct") + 1).cast("double") / (col("t") + B).cast("double"))
          - log((col("cr") + 1).cast("double") / (col("r") + B).cast("double")))
          .as("lr"))
    grams.join(broadcast(ratio), Seq("f"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        round(sum(col("lr")), 6).as("logw"),
        round(sum(col("lr")) / count(lit(1)), 6).as("logw_pg"))
  }

  /** DuckDB mirror of [[dsirPer]] — the WITH-clause body through the
    * `per` frame, shared verbatim by the q160 and q186 oracles so the
    * two selectors provably cut the identical score set.
    */
  private val dsirSqlCtes: String = s"""base AS (
          SELECT doc_id, string_split(lower(text), ' ') AS ws,
                 len(string_split(lower(text), ' ')) >= 55 AS is_t
          FROM documents WHERE length(text) > 0),
        uni AS (SELECT doc_id, is_t, unnest(ws) AS g FROM base),
        bi AS (SELECT doc_id, is_t,
                 unnest(list_transform(generate_series(1, len(ws) - 1),
                   i -> ws[i] || ' ' || ws[i+1])) AS g
               FROM base WHERE len(ws) >= 2),
        gh AS (SELECT doc_id, is_t, md5('ds:' || g) AS hh
               FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi) u
               WHERE length(g) > 0),
        grams AS MATERIALIZED (
          SELECT doc_id, is_t, ${OracleSql.hex48("hh")} % 4096 AS f FROM gh),
        bucket AS (SELECT f, count(*) AS cr,
                          CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END)
                               AS BIGINT) AS ct
                   FROM grams GROUP BY 1),
        tot AS (SELECT CAST(sum(cr) AS BIGINT) AS r,
                       CAST(sum(ct) AS BIGINT) AS t FROM bucket),
        ratio AS (SELECT f,
                    ln(CAST(ct + 1 AS DOUBLE) / CAST(t + 4096 AS DOUBLE))
                      - ln(CAST(cr + 1 AS DOUBLE) / CAST(r + 4096 AS DOUBLE))
                      AS lr
                  FROM bucket, tot),
        per AS MATERIALIZED (
                SELECT doc_id, count(*) AS n_grams,
                       round(sum(lr), 6) AS logw,
                       round(sum(lr) / count(*), 6) AS logw_pg
                FROM grams JOIN ratio USING (f) GROUP BY 1)"""

  // ---- q142: the DuckDB mirror of the GD loop ----------------------
  /** identical rounds unrolled as materialized CTEs (the bpeSqlCtes
    * stance); every non-exact literal is CAST to DOUBLE so DuckDB
    * can't route the arithmetic through DECIMAL, and each round's
    * gradient/weights round to 6 dp exactly like the engine side
    */
  private val LogregDot = "w0 + w1*x1 + w2*x2 + w3*x3"

  /** the WITH body shared by q142 (train) and q155 (calibration):
    * per-doc features f (now carrying doc_id) and the unrolled GD
    * rounds ending at w<rounds>t
    */
  private def logregCtes(rounds: Int): String = {
    val dot = LogregDot
    def grad(x: String) =
      s"round(avg($x(y - 1.0/(1.0 + exp(-($dot))))), 6)"
    val sb = new StringBuilder
    sb.append("""
      WITH f AS MATERIALIZED (
        SELECT doc_id,
               CAST(CASE WHEN len(w) >= 55 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS y,
               CAST(len(list_filter(w, t -> regexp_full_match(t, '[a-z]+')))
                    * 1.0 / len(w) AS DOUBLE) AS x1,
               CAST(least(len(w) / CAST(100.0 AS DOUBLE), 1.0) AS DOUBLE) AS x2,
               CAST(least((len(list_filter(w,
                      t -> t IN ('the','a','of','and','to','is')))
                    * 1.0 / len(w)) * CAST(5.0 AS DOUBLE), 1.0) AS DOUBLE) AS x3
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
              FROM documents WHERE length(text) > 0)),
      w0t AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,
                     CAST(0.0 AS DOUBLE) AS w2, CAST(0.0 AS DOUBLE) AS w3)""")
    for (r <- 1 to rounds) {
      sb.append(s""",
      g$r AS MATERIALIZED (SELECT
          ${grad("")} AS g0, ${grad("x1 * ")} AS g1,
          ${grad("x2 * ")} AS g2, ${grad("x3 * ")} AS g3
        FROM f, w${r - 1}t),
      w${r}t AS (SELECT
          round(w0 + CAST(2.0 AS DOUBLE) * g0, 6) AS w0,
          round(w1 + CAST(2.0 AS DOUBLE) * g1, 6) AS w1,
          round(w2 + CAST(2.0 AS DOUBLE) * g2, 6) AS w2,
          round(w3 + CAST(2.0 AS DOUBLE) * g3, 6) AS w3
        FROM w${r - 1}t, g$r)""")
    }
    sb.toString
  }

  private def logregSql(rounds: Int): String =
    s"""${logregCtes(rounds)}
      SELECT w0, w1, w2, w3, count(*) AS n_docs,
             (CAST(sum(CASE WHEN (($LogregDot) > 0) = (y = 1.0)
                            THEN 1 ELSE 0 END) AS BIGINT)
                * CAST(1000000 AS BIGINT))
               // count(*) AS acc_ppm
      FROM f, w${rounds}t
      GROUP BY w0, w1, w2, w3"""

  /** Shared by q142 (train + accuracy) and q155 (calibration): the
    * per-doc feature frame (with doc_id) and the 5-round GD weights as
    * a 1-row frame. Cheap enough to refit per invocation: five
    * map-side-partial aggregates over the checkpointed features.
    */
  private def logregFit(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val wArr = split(lower(col("text")), " ")
    val nTok = size(wArr).cast("double")
    val feats = Tables.documents(s, d).filter(length(col("text")) > 0)
      .select(
        col("doc_id"),
        when(size(wArr) >= 55, 1.0).otherwise(0.0).as("y"),
        (size(filter(wArr, t => t.rlike("^[a-z]+$"))).cast("double") / nTok)
          .as("x1"),
        least(nTok / lit(100.0), lit(1.0)).as("x2"),
        least((size(filter(wArr,
          t => t.isin("the", "a", "of", "and", "to", "is"))).cast("double")
          / nTok) * lit(5.0), lit(1.0)).as("x3"))
      .localCheckpoint() // scanned once per GD round
    val z = col("w0") + col("w1") * col("x1") +
      col("w2") * col("x2") + col("w3") * col("x3")
    val sig = lit(1.0) / (lit(1.0) + exp(-z))
    val e = col("y") - sig
    var wts = s.range(1).select(
      lit(0.0).as("w0"), lit(0.0).as("w1"),
      lit(0.0).as("w2"), lit(0.0).as("w3"))
    for (_ <- 1 to 5) {
      wts = feats.crossJoin(broadcast(wts)).agg(
        round(min(col("w0")) + lit(2.0) * round(avg(e), 6), 6).as("w0"),
        round(min(col("w1")) + lit(2.0) * round(avg(col("x1") * e), 6), 6)
          .as("w1"),
        round(min(col("w2")) + lit(2.0) * round(avg(col("x2") * e), 6), 6)
          .as("w2"),
        round(min(col("w3")) + lit(2.0) * round(avg(col("x3") * e), 6), 6)
          .as("w3"))
        .localCheckpoint() // 1 row; truncate per-round lineage
    }
    (feats, wts)
  }

  /** q211's scored frame (doc_id, y, z) — q155's scoring pass,
    * localCheckpoint'd so one computation feeds the boundary sketch
    * AND the bucketer. Package-private so the spec replicates the
    * bucketing off the exact frame the query consumed.
    */
  private[queries] def calibrationScored(
      s: SparkSession, d: String): DataFrame = {
    val (feats, wts) = logregFit(s, d)
    val z = col("w0") + col("w1") * col("x1") +
      col("w2") * col("x2") + col("w3") * col("x3")
    feats.crossJoin(broadcast(wts))
      .select(col("doc_id"), col("y"), z.as("z"))
      .localCheckpoint()
  }

  /** q67/q159's (doc_id, sh, is_test): native 3-word shingle hashes
    * and the salted md5 eval split (~20% of docs are test) */
  private def evalSplitShingles(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        call_function("shingle_hashes", lower(col("text")), lit(3)).as("sh"),
        (substring(md5(concat(lit("t:"), col("doc_id").cast("string"))), 1, 2)
          >= "cc").as("is_test"))

  /** q222/q228's per-language budgets (lang, cnt, t_n): a 300-doc
    * budget split by q90's count^0.5 temperature */
  private def langBudgets(s: SparkSession, d: String): DataFrame = {
    val budget = 300
    val counts = Tables.documents(s, d).groupBy(col("lang"))
      .agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum(sqrt(col("cnt"))).as("twgt"))
    counts.crossJoin(broadcast(tot))
      .select(col("lang"), col("cnt"),
        round(lit(budget) * sqrt(col("cnt")) / col("twgt"))
          .cast("long").as("t_n"))
  }

  /** q155/q211's per-bin report over a (bin, y, z) frame: docs,
    * positives, z range, and the positive rate as exact integer ppm */
  private def calibrationBinStats(binned: DataFrame): DataFrame =
    binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("n_pos"),
        min(col("z")).as("z_min"), max(col("z")).as("z_max"))
      .withColumn("pos_ppm",
        expr("n_pos * CAST(1000000 AS BIGINT) DIV n_docs"))

  /** calibrationScored's DuckDB mirror: q142's 5-round fit, scored */
  private def calibrationScoredSql: String = s"""${logregCtes(rounds = 5)},
        scored AS MATERIALIZED (
          SELECT doc_id, y, $LogregDot AS z FROM f, w5t)"""

  /** calibrationBinStats' select list, after the caller's bin column */
  private val calibrationBinStatsSql: String = """count(*) AS n_docs,
               CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_pos,
               min(z) AS z_min, max(z) AS z_max,
               (CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
                  * CAST(1000000 AS BIGINT)) // count(*) AS pos_ppm"""

  /** q215's ascending-oriented signal frame: (doc_id, sq, sl, sc) with
    * sq = −quality, sl = avg_nll, sc = −classifier-z — the q158 trio
    * with the descending signals sign-flipped (an exact IEEE negation
    * on both engines) so one ascending bucket rule serves all three.
    * localCheckpoint'd: one signal pass feeds the boundary sketches
    * AND the bucketer. Package-private so the spec replicates the
    * bucketing off the exact frame the query consumed.
    */
  private[queries] def fusionSignals(s: SparkSession, d: String): DataFrame = {
    val (feats, wts) = logregFit(s, d)
    val zExpr = col("w0") + col("w1") * col("x1") +
      col("w2") * col("x2") + col("w3") * col("x3")
    val clf = feats.crossJoin(broadcast(wts))
      .select(col("doc_id"), (-zExpr).as("sc"))
    val ql = Tables.documents(s, d).filter(length(col("text")) > 0)
      .select(col("doc_id"), (-TextAnalysis.qualityCol).as("sq"))
    val nll = unigramNll(s, d, nonEmptyOnly = true)
      .select(col("doc_id"), col("avg_nll").as("sl"))
    ql.join(clf, Seq("doc_id")).join(nll, Seq("doc_id"))
      .select(col("doc_id"), col("sq"), col("sl"), col("sc"))
      .localCheckpoint()
  }

  /** Per-doc unigram-LM average NLL — ONE definition shared by q110
    * (the scoring operator, every doc) and q158's r_lm signal (docs
    * with text only): fit on collapsed (doc_id, term) counts,
    * broadcast the vocab model, score. The 6-dp rounding is the q110
    * emission discipline (ln-term sums merge in partition order).
    */
  private def unigramNll(
      s: SparkSession, d: String, nonEmptyOnly: Boolean): DataFrame = {
    val base0 = Tables.documents(s, d)
    val base = if (nonEmptyOnly) base0.filter(length(col("text")) > 0)
               else base0
    val tf = base
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint() // model fit + doc scoring share one tokenize
    val model = tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
    val total = model.agg(sum(col("cnt")).as("total"))
    tf.join(broadcast(model), "term")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        // round(,6) both sides: the ln-term sum merges in
        // partition order, so raw low bits differ across engines
        // (measured ~1e-15 relative) — q117's discipline
        round(-sum(col("tf").cast("double") *
          log(col("cnt").cast("double") / col("total").cast("double"))) /
          sum(col("tf")).cast("double"), 6).as("avg_nll"))
  }

  /** q167's scalable global-rank assignment, shared with q177: range-
    * partition + local sort + zipWithIndex. The appended column equals
    * the rank in `sortCols` order REGARDLESS of sampled range
    * boundaries (ordered range partitions concatenate to the global
    * order), with no single-partition Window anywhere.
    */
  /** q228's loud slice-shortfall precondition. Every lang's slice
    * must hold >= its ACHIEVABLE target least(t_n, cnt) rows — a lang
    * whose budget exceeds its population can only ever emit all cnt
    * docs (which is exactly what q90's rank <= t_n does), so gating
    * on the raw t_n there would raise an error no rerun-at-higher-
    * rate could clear (the r14 review catch); when 2·t_n >= cnt the
    * pre-filter passes every doc, so sn = cnt = least(t_n, cnt) and
    * the slice is trivially the whole lang.
    *
    * @param targets (lang, cnt, t_n); @param sliceCounts (lang, sn)
    * @return (lang, t_n) with an in-plan raise_error on shortfall
    */
  private[queries] def sliceShortfallGuard(
      targets: DataFrame, sliceCounts: DataFrame): DataFrame =
    targets.join(sliceCounts, Seq("lang"), "left")
      .select(col("lang"),
        when(coalesce(col("sn"), lit(0L)) >= least(col("t_n"), col("cnt")),
          col("t_n"))
          .otherwise(raise_error(concat(
            lit("q228 slice shortfall for lang "), col("lang"),
            lit(": "), coalesce(col("sn"), lit(0L)).cast("string"),
            lit(" < "), least(col("t_n"), col("cnt")).cast("string"),
            lit(" — rerun at a higher pre-filter rate"))))
          .as("t_n"))

  private[queries] def globalSortRank(
      df: DataFrame, sortCols: Seq[String], outCol: String): DataFrame = {
    val cols = sortCols.map(col)
    val sorted = df.repartitionByRange(cols: _*).sortWithinPartitions(cols: _*)
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        outCol, org.apache.spark.sql.types.LongType, nullable = false))
    val labeled = sorted.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
    }
    df.sparkSession.createDataFrame(labeled, schema)
  }

  /** the DuckDB spelling of [[unigramNll]], as a CTE chain ending at
    * `nll(doc_id, n_tokens, avg_nll)` — composed into q110's and
    * q158's oracles so the two can never drift
    */
  private def nllSqlCtes(nonEmptyOnly: Boolean): String = {
    val where = if (nonEmptyOnly) " WHERE length(text) > 0" else ""
    s"""wt AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
           FROM documents$where),
        tf AS MATERIALIZED (
          SELECT doc_id, term, count(*) AS tf FROM wt GROUP BY 1, 2),
        m AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY 1),
        t AS (SELECT sum(cnt) AS total FROM m),
        nll AS (SELECT tf.doc_id,
                       CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
                       round(-sum(CAST(tf.tf AS DOUBLE) *
                            ln(CAST(m.cnt AS DOUBLE)
                               / CAST(t.total AS DOUBLE))) /
                         CAST(sum(tf.tf) AS DOUBLE), 6) AS avg_nll
                FROM tf JOIN m USING (term) CROSS JOIN t
                GROUP BY tf.doc_id)"""
  }

  // ---- q90's oracle, shared verbatim with q228 ----------------------
  // The q216/q220 discipline: the operational two-pass spelling (q228)
  // carries the SAME gate as the exact-rank statement (q90), so the
  // two plans police each other every round.
  private[queries] val BudgetSampleOracleSql: String = """
        WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
        t AS (
          SELECT lang,
                 CAST(round(300 * sqrt(cnt) /
                   (SELECT sum(sqrt(cnt)) FROM c)) AS BIGINT) AS t_n
          FROM c),
        r AS (
          SELECT d.doc_id, d.lang, t.t_n,
                 row_number() OVER (PARTITION BY d.lang
                   ORDER BY md5('m:' || CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn
          FROM documents d JOIN t USING (lang))
        SELECT doc_id, lang FROM r WHERE rn <= t_n"""

  override def queries: Map[String, Q] = Map(

    // ---- q138: URL canonicalization + URL-level dedup ----------------
    // The crawl-side sibling of q24's content dedup: two fetches of the
    // same page differ only in URL NOISE (scheme/host case, default
    // port, tracking params, fragments, trailing slash), so the pipeline
    // canonicalizes before keying anything by URL. The corpus carries no
    // URLs, so the query first derives a deterministic noisy URL per
    // event (q62's inject-then-operate stance — every noise axis is a
    // function of event columns, reproducible in both engines), then
    // canonicalizes: lowercase scheme+host (ONLY those — paths are
    // case-sensitive), strip the https default port :443 (keep :8080),
    // drop utm_* params (keep the rest), strip the fragment, collapse
    // the trailing slash ('' → '/'), and groups by the canonical form.
    // Pure string/regexp arithmetic — bit-exact without rounding.
    "q138_url_canonical_dedup" -> Q(
      fn = (s, d) => {
        // spread (r17): the ~8-regex canonicalization chain below
        // otherwise runs in ONE scan task
        val raw = Tables.spread(Tables.load(s, d, "events"), col("event_id"))
          .select(col("event_id"),
          concat(
            when(pmod(col("event_id"), lit(3)) === 0, "HTTPS").otherwise("https"),
            lit("://WWW.Site"), pmod(col("user_id"), lit(20)).cast("string"),
            lit(".COM"),
            when(pmod(col("event_id"), lit(4)) === 0, ":443")
              .when(pmod(col("event_id"), lit(4)) === 1, ":8080").otherwise(""),
            lit("/Pages/"), col("event_type"),
            when(pmod(col("event_id"), lit(2)) === 0, "/").otherwise(""),
            lit("?utm_source=feed&id="), pmod(col("event_id"), lit(50)).cast("string"),
            lit("&utm_campaign=x"),
            when(pmod(col("event_id"), lit(5)) === 0,
              concat(lit("#sec"), pmod(col("event_id"), lit(7)).cast("string")))
              .otherwise("")).as("url"))
        val nf = regexp_replace(col("url"), "#.*$", "")
        val scheme = lower(regexp_extract(nf, "^([A-Za-z]+)://", 1))
        val hostport = lower(regexp_extract(nf, "^[A-Za-z]+://([^/?#]*)", 1))
        val host = when(scheme === "https",
          regexp_replace(hostport, ":443$", "")).otherwise(hostport)
        val rest = regexp_extract(nf, "^[A-Za-z]+://[^/?#]*(.*)$", 1)
        val path0 = regexp_replace(regexp_extract(rest, "^([^?]*)", 1), "/+$", "")
        val path = when(path0 === "", "/").otherwise(path0)
        val qs = regexp_extract(rest, "\\?(.*)$", 1)
        val kept = array_join(
          filter(split(qs, "&"), p => substring(p, 1, 4) =!= "utm_"), "&")
        raw
          .select(col("event_id"),
            concat(scheme, lit("://"), host, path,
              when(kept === "", "").otherwise(concat(lit("?"), kept)))
              .as("canon_url"))
          .groupBy(col("canon_url"))
          .agg(count(lit(1)).as("n_events"), min(col("event_id")).as("first_event"))
      },
      sql = Some("""
        WITH u AS (
          SELECT event_id,
            (CASE WHEN event_id % 3 = 0 THEN 'HTTPS' ELSE 'https' END) ||
            '://WWW.Site' || CAST(user_id % 20 AS VARCHAR) || '.COM' ||
            (CASE WHEN event_id % 4 = 0 THEN ':443'
                  WHEN event_id % 4 = 1 THEN ':8080' ELSE '' END) ||
            '/Pages/' || event_type ||
            (CASE WHEN event_id % 2 = 0 THEN '/' ELSE '' END) ||
            '?utm_source=feed&id=' || CAST(event_id % 50 AS VARCHAR) ||
            '&utm_campaign=x' ||
            (CASE WHEN event_id % 5 = 0
                  THEN '#sec' || CAST(event_id % 7 AS VARCHAR) ELSE '' END) AS url
          FROM events),
        p AS (
          SELECT event_id,
            lower(regexp_extract(nf, '^([A-Za-z]+)://', 1)) AS scheme,
            lower(regexp_extract(nf, '^[A-Za-z]+://([^/?#]*)', 1)) AS hostport,
            regexp_extract(nf, '^[A-Za-z]+://[^/?#]*(.*)$', 1) AS rest
          FROM (SELECT event_id, regexp_replace(url, '#.*$', '') AS nf FROM u)),
        c AS (
          SELECT event_id,
            scheme || '://' ||
            (CASE WHEN scheme = 'https'
                  THEN regexp_replace(hostport, ':443$', '')
                  ELSE hostport END) ||
            (CASE WHEN regexp_replace(regexp_extract(rest, '^([^?]*)', 1),
                                      '/+$', '') = ''
                  THEN '/'
                  ELSE regexp_replace(regexp_extract(rest, '^([^?]*)', 1),
                                      '/+$', '') END) ||
            (CASE WHEN array_to_string(list_filter(
                     string_split(regexp_extract(rest, '\?(.*)$', 1), '&'),
                     q -> substr(q, 1, 4) <> 'utm_'), '&') = ''
                  THEN ''
                  ELSE '?' || array_to_string(list_filter(
                     string_split(regexp_extract(rest, '\?(.*)$', 1), '&'),
                     q -> substr(q, 1, 4) <> 'utm_'), '&') END) AS canon_url
          FROM p)
        SELECT canon_url, count(*) AS n_events,
               min(event_id) AS first_event
        FROM c GROUP BY 1"""),
      scaleNote = "canonicalization is pure map-side regexp (fuses into the scan); the dedup groupBy shuffles on canon_url with map-side partials — at 100 TB this is the standard pre-dedup normalization pass, and the canonical key is what the q24/q25 exact-dedup family then hashes"),

    // ---- q139: Gopher-style repetition signals ------------------------
    // The WITHIN-doc repetition table from the Gopher/MassiveText
    // quality rules (PAPERS.md) — complementary to q68 (which REWRITES
    // docs) and q117 (which measures ACROSS-doc duplication): per doc,
    // the fraction of characters claimed by the most frequent word
    // 2-gram, and by all word 5-grams occurring more than once. Both
    // are (integer count × integer gram length) / integer doc chars —
    // pure rationals, so they emit as exact integer ppm (the
    // q117/q145 driver-gate lesson; the 5-gram side's oracle sum() is
    // HUGEINT in DuckDB, whose division coercion is exactly the
    // version-skew class that tripped q145).
    // Char fractions use occurrence×length (the published heuristic's
    // form); overlaps can push a pathological doc past 1.0 — it's a
    // filter signal, not a measure.
    "q139_repetition_signals" -> Q(
      fn = (s, d) => {
        val w = split(lower(col("text")), " ")
        val base = Tables.documents(s, d).filter(size(w) >= 2)
          .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
            w.as("w"))
          .localCheckpoint() // feeds the 2-gram and 5-gram sides once
        val g2 = base.select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("w")) - 1),
            i => concat_ws(" ", element_at(col("w"), i),
              element_at(col("w"), i + 1)))).as("g"))
        val top2 = g2.groupBy(col("doc_id"), col("g"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rk", row_number().over(Window.partitionBy(col("doc_id"))
            .orderBy(col("cnt").desc, col("g"))))
          .filter(col("rk") === 1)
          .select(col("doc_id"), (col("cnt") * length(col("g"))).as("top2_chars"))
        val g5 = base.filter(size(col("w")) >= 5).select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("w")) - 4),
            i => concat_ws(" ", element_at(col("w"), i),
              element_at(col("w"), i + 1), element_at(col("w"), i + 2),
              element_at(col("w"), i + 3), element_at(col("w"), i + 4)))).as("g"))
        val dup5 = g5.groupBy(col("doc_id"), col("g"))
          .agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= 2)
          .groupBy(col("doc_id"))
          .agg(sum(col("cnt") * length(col("g"))).as("dup5_chars"))
        base.select(col("doc_id"), col("n_chars"))
          .join(top2, Seq("doc_id"))
          .join(dup5, Seq("doc_id"), "left")
          .select(col("doc_id"),
            expr("top2_chars * CAST(1000000 AS BIGINT) DIV n_chars")
              .as("top2_ppm"),
            expr("coalesce(dup5_chars, CAST(0 AS BIGINT))" +
              " * CAST(1000000 AS BIGINT) DIV n_chars").as("dup5_ppm"))
      },
      sql = Some("""
        WITH raw AS (
          SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
                 string_split(lower(text), ' ') AS w
          FROM documents WHERE len(string_split(lower(text), ' ')) >= 2),
        g2 AS (SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(w) - 1),
                   i -> w[i] || ' ' || w[i+1])) AS g FROM raw),
        c2 AS (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1, 2),
        t2 AS (SELECT doc_id, cnt * length(g) AS top2_chars FROM (
                 SELECT doc_id, g, cnt, row_number() OVER
                   (PARTITION BY doc_id ORDER BY cnt DESC, g) AS rk FROM c2)
               WHERE rk = 1),
        g5 AS (SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(w) - 4),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                        w[i+3] || ' ' || w[i+4])) AS g
               FROM raw WHERE len(w) >= 5),
        c5 AS (SELECT doc_id, g, count(*) AS cnt FROM g5 GROUP BY 1, 2),
        d5 AS (SELECT doc_id, CAST(sum(cnt * length(g)) AS BIGINT)
                 AS dup5_chars
               FROM c5 WHERE cnt >= 2 GROUP BY 1)
        SELECT r.doc_id,
               (t2.top2_chars * CAST(1000000 AS BIGINT)) // r.n_chars
                 AS top2_ppm,
               (coalesce(d5.dup5_chars, 0) * CAST(1000000 AS BIGINT))
                 // r.n_chars AS dup5_ppm
        FROM raw r JOIN t2 USING (doc_id) LEFT JOIN d5 USING (doc_id)"""),
      scaleNote = "grams shuffle on (doc_id, gram) with map-side partial counts — per-doc work is bounded by context length, total volume is O(corpus tokens); the per-doc top-1 collapses in-shuffle via WindowGroupLimit; at 100 TB this runs fused with the other per-doc quality passes (q34/q63) in one scan"),

    // ---- q140: HTML boilerplate strip (text extraction) ---------------
    // The crawl-extraction step upstream of EVERYTHING else in this
    // catalog: raw HTML → clean text. The corpus is plain text, so the
    // query wraps each doc in a deterministic HTML scaffold (script +
    // style + comment + tags + the five standard entities — the same
    // inject-then-operate stance as q62/q109), then extracts: drop
    // <script>/<style> blocks, drop comments, strip tags, decode
    // entities (&amp; LAST, so injected '&lt;' cannot double-decode),
    // collapse whitespace. Patterns stay in the RE2 ∩ java.util.regex
    // subset (lazy quantifiers + (?s), no lookaround); DuckDB needs the
    // explicit 'g' option where Spark replaces globally by default.
    "q140_html_extract" -> Q(
      fn = (s, d) => {
        val html = concat(
          lit("<html><head><title>T&amp;C</title>" +
            "<script type=\"text/javascript\">var x = 1 < 2;</script>" +
            "<style>p { color: red; }</style></head><body><h1>"),
          element_at(split(col("text"), " "), 1),
          lit("</h1> <p>"), col("text"),
          lit(" &amp; &lt;b&gt; &quot;q&quot; &#39;s&nbsp;tail</p>" +
            "<!-- hidden --><div class=\"z\">end</div></body></html>"))
        val noScript = regexp_replace(html, "(?s)<script.*?</script>", " ")
        val noStyle = regexp_replace(noScript, "(?s)<style.*?</style>", " ")
        val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
        val noTags = regexp_replace(noComment, "<[^>]*>", " ")
        val decoded = replace(replace(replace(replace(replace(
          noTags,
          lit("&nbsp;"), lit(" ")),
          lit("&lt;"), lit("<")),
          lit("&gt;"), lit(">")),
          lit("&quot;"), lit("\"")),
          lit("&#39;"), lit("'"))
        val fullDecoded = replace(decoded, lit("&amp;"), lit("&"))
        val clean = trim(regexp_replace(fullDecoded, "\\s+", " "))
        Tables.documents(s, d).select(col("doc_id"),
          md5(clean).as("extract_md5"),
          octet_length(clean).cast("long").as("n_bytes"))
      },
      sql = Some("""
        WITH h AS (
          SELECT doc_id,
            '<html><head><title>T&amp;C</title>' ||
            '<script type="text/javascript">var x = 1 < 2;</script>' ||
            '<style>p { color: red; }</style></head><body><h1>' ||
            string_split(text, ' ')[1] ||
            '</h1> <p>' || text ||
            ' &amp; &lt;b&gt; &quot;q&quot; &#39;s&nbsp;tail</p>' ||
            '<!-- hidden --><div class="z">end</div></body></html>' AS html
          FROM documents),
        s1 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
                 regexp_replace(html,
                   '(?s)<script.*?</script>', ' ', 'g'),
                   '(?s)<style.*?</style>', ' ', 'g'),
                   '(?s)<!--.*?-->', ' ', 'g'),
                   '<[^>]*>', ' ', 'g') AS t FROM h),
        s2 AS (SELECT doc_id,
                 replace(replace(replace(replace(replace(replace(t,
                   '&nbsp;', ' '),
                   '&lt;', '<'),
                   '&gt;', '>'),
                   '&quot;', '"'),
                   '&#39;', ''''),
                   '&amp;', '&') AS t FROM s1),
        s3 AS (SELECT doc_id,
                 trim(regexp_replace(t, '\s+', ' ', 'g')) AS clean FROM s2)
        SELECT doc_id, md5(clean) AS extract_md5,
               CAST(strlen(clean) AS BIGINT) AS n_bytes
        FROM s3"""),
      scaleNote = "pure map-side regexp chain — one codegen'd pass that fuses into the scan; at 100 TB this IS the first pass over raw crawl bytes, and everything downstream (lang-ID, quality, dedup) reads its output, so keeping it shuffle-free and single-scan is the whole game"),

    // ---- q142: logistic-regression gate distillation -----------------
    // The TRAINING half of q73 (which only APPLIES fixed linear
    // weights): full-batch gradient descent on a logistic model,
    // distilling an expensive curation gate into a cheap linear scorer
    // — the standard 100 TB practice (run the real gate on a sample,
    // fit a linear/fastText-style model, apply the model everywhere).
    // Label: the doc passes a token-budget gate (≥ 55 whitespace
    // tokens); features: q34's alpha ratio / capped length / capped
    // stopword glue. Five GD rounds at lr 2.0; each round is ONE
    // aggregate over the feature frame (4 avg's) against a broadcast
    // 1-row weight frame — the q113/q118 iteration shape, weights
    // localCheckpoint'ed per round. Cross-engine bit-stability: the
    // per-round gradient AND the updated weights round to 6 dp on both
    // sides (q118's centroid-rounding stance — double sums are
    // partition-order-sensitive, exp() is ~1 ulp, and the rounding
    // absorbs both before anything feeds the next round). The final
    // accuracy witness compares sign(w·x) to the label, so it only
    // depends on the rounded weights and the exact-rational features.
    "q142_logreg_distill" -> Q(
      fn = (s, d) => {
        val (feats, wts) = logregFit(s, d)
        val z = col("w0") + col("w1") * col("x1") +
          col("w2") * col("x2") + col("w3") * col("x3")
        feats.crossJoin(broadcast(wts)).agg(
          min(col("w0")).as("w0"), min(col("w1")).as("w1"),
          min(col("w2")).as("w2"), min(col("w3")).as("w3"),
          count(lit(1)).as("n_docs"),
          // training accuracy is a pure rational (n_correct/n): emit
          // as exact integer ppm (the q117/q145 driver-gate lesson)
          (sum(when((z > 0) === (col("y") === 1.0), 1L).otherwise(0L))
            * lit(1000000L)).as("ncs"),
          count(lit(1)).as("nds"))
          .select(col("w0"), col("w1"), col("w2"), col("w3"), col("n_docs"),
            expr("ncs DIV nds").as("acc_ppm"))
      },
      sql = Some(logregSql(rounds = 5)),
      scaleNote = "per round: one map-side-partial aggregate over the corpus (4 sums) + one broadcast of a 1-row weight frame — no shuffle of the data, ever; at 100 TB the feature frame is the one materialization (or recompute it per round if storage is tighter than compute), and minibatch SGD is the same plan over a q60-style hash sample per round"),

    // ---- q155: classifier calibration bins ---------------------------
    // The audit that decides whether q142's distilled quality scorer
    // can gate a corpus: decile-bin the docs by model score and emit
    // the empirical positive rate per bin — a calibrated monotone
    // staircase means the score is usable as a threshold; a flat or
    // non-monotone one means retrain. Bins are RANK deciles computed
    // from exact integers (bin = (rn-1)*10 div n + 1 over the score's
    // total order with doc_id tie-break, no ntile() semantics
    // dependence), the positive rate is exact ppm, and the bin's score
    // range emits as min/max of the raw score (order-free). The rank
    // key is the RAW z, not round(z, 6): z is rational-valued (dot of
    // 6-dp weights with rational features), and rounding a rational
    // reintroduces the q117 repr-tie class — whereas the raw double is
    // bit-identical cross-engine (fixed op order on identical inputs,
    // the same proven stance as q142's z > 0 branch), so comparisons
    // on it are exact.
    "q155_calibration_bins" -> Q(
      fn = (s, d) => {
        val (feats, wts) = logregFit(s, d)
        val z = col("w0") + col("w1") * col("x1") +
          col("w2") * col("x2") + col("w3") * col("x3")
        val scored = feats.crossJoin(broadcast(wts))
          .select(col("doc_id"), col("y"), z.as("z"))
        val n = scored.agg(count(lit(1)).as("n"))
        scored.crossJoin(broadcast(n))
          .withColumn("rn",
            row_number().over(Window.orderBy(col("z"), col("doc_id"))))
          .withColumn("bin", expr("(rn - 1) * 10 DIV n + 1"))
          .transform(calibrationBinStats)
      },
      sql = Some(s"""$calibrationScoredSql,
        nn AS (SELECT count(*) AS n FROM scored),
        r AS (SELECT doc_id, y, z,
                     row_number() OVER (ORDER BY z, doc_id) AS rn
              FROM scored)
        SELECT ((rn - 1) * 10) // n + 1 AS bin,
               $calibrationBinStatsSql
        FROM r, nn GROUP BY 1"""),
      scaleNote = "training is q142's zero-data-shuffle loop; scoring is map-side; the decile assignment is ONE global sort (Spark range-partitions orderBy, so it distributes — the single-partition row_number window here is the test-scale spelling; at 100 TB replace the exact rank with q64 approx-quantile bin boundaries broadcast to a map-side bucketer and the bin stats stay one partial agg — REGISTERED as q211)"),

    // ---- q211: calibration bins, WINDOWLESS (q155's 100 TB spelling,
    // r13) --------------------------------------------------------------
    // q155's scaleNote promised it; this registers it: the decile
    // assignment swaps the corpus-sized single-partition row_number()
    // window for q64-style quantile boundaries BROADCAST to a map-side
    // bucketer. Spark's approx_percentile in exact mode (accuracy 1e6
    // ≥ n at test SFs) and DuckDB's quantile_disc select the IDENTICAL
    // order statistic — the value at rank ⌈q·n⌉ (probe-verified on
    // n = 10/11/23 and gated here at sf0.01) — so both engines bucket
    // against bit-identical boundary values; the q186 precedent, with
    // an ARRAY of nine boundaries instead of one threshold. bin(z) =
    // 1 + |{boundaries b : z > b}| — a pure value compare on the raw
    // doubles q155 already proved bit-identical cross-engine — which
    // agrees with q155's exact-rank deciles whenever z values are
    // distinct at the boundaries and is otherwise its own
    // well-defined (and oracle-mirrored) rule.
    "q211_calibration_bins_bucketed" -> Q(
      fn = (s, d) => {
        val scored = calibrationScored(s, d)
        // exact-mode precondition made LOUD (ADVICE r13): bit-exactness
        // vs quantile_disc holds only while n ≤ accuracy (1e6). The
        // count rides the same aggregate (no extra pass); past the
        // bound the query raises with the reason instead of failing
        // the hash gate with no local hint why.
        val bounds = scored.agg(
          expr("""approx_percentile(z, array(0.1D, 0.2D, 0.3D, 0.4D, 0.5D,
             0.6D, 0.7D, 0.8D, 0.9D), 1000000)""").as("bs0"),
          count(lit(1)).as("nsc"))
          .select(when(col("nsc") <= 1000000L, col("bs0"))
            .otherwise(raise_error(concat(
              lit("q211 exact-mode precondition: scored rows = "),
              col("nsc").cast("string"),
              lit(" > approx_percentile accuracy 1e6 — boundaries would "
                + "go approximate and depart the quantile_disc oracle"))))
            .as("bs"))
        scored.crossJoin(broadcast(bounds))
          .withColumn("bin",
            (lit(1) + size(filter(col("bs"), b => col("z") > b))).cast("int"))
          .transform(calibrationBinStats)
      },
      sql = Some(s"""$calibrationScoredSql,
        bs AS (SELECT quantile_disc(z, [0.1, 0.2, 0.3, 0.4, 0.5,
                                        0.6, 0.7, 0.8, 0.9]) AS bs
               FROM scored)
        SELECT CAST(1 + len(list_filter(bs, b -> z > b)) AS INT) AS bin,
               $calibrationBinStatsSql
        FROM scored, bs GROUP BY 1"""),
      scaleNote = "the registered windowless calibration: training is q142's zero-data-shuffle loop, scoring map-side, the boundary frame is ONE mergeable GK-sketch aggregate (map-side partials, O(accuracy) memory) broadcast as nine doubles, bucketing is a row-local array scan, and the bin stats are one 10-group partial agg — no Window, no global sort, no single-partition stage anywhere (PlanSpec-pinned), so the audit survives any corpus size; at 100 TB drop the accuracy parameter to the memory budget — bins become approximate-RANK deciles while every emitted bin stat stays exact over its bucket, which is the honest trade q186 already documents"),

    // ---- q158: ensemble quality selection (Borda rank fusion) --------
    // No single quality signal survives contact with a 100 TB crawl:
    // the heuristic score (q34) is gameable, the unigram LM (q110)
    // favors repetitive text, the classifier (q142) inherits its
    // label's blind spots — so production curation FUSES them (the
    // FineWeb/DCLM-style ensemble stance). Borda fusion: rank the
    // corpus under each signal independently with doc_id tie-breaks,
    // sum the ranks, keep the best 100. Rank keys: the RAW heuristic
    // and classifier scores (both rational-valued with fixed op order,
    // bit-identical cross-engine — q107/q142 branch on them raw;
    // rounding a rational for ranking would reintroduce the q117
    // repr-tie class) and the 6-dp-rounded LM score (transcendental —
    // its rounding is the q110 emission already proven tie-safe).
    // cut are ALL exact integers; the doubles exist only inside each
    // signal's already-proven mirror.
    "q158_quality_rank_fusion" -> Q(
      fn = (s, d) => {
        val (feats, wts) = logregFit(s, d)
        val zExpr = col("w0") + col("w1") * col("x1") +
          col("w2") * col("x2") + col("w3") * col("x3")
        val clf = feats.crossJoin(broadcast(wts))
          .select(col("doc_id"), zExpr.as("zc"))
        val ql = Tables.documents(s, d).filter(length(col("text")) > 0)
          .select(col("doc_id"), TextAnalysis.qualityCol.as("ql"))
        val nll = unigramNll(s, d, nonEmptyOnly = true)
          .select(col("doc_id"), col("avg_nll").as("nl"))
        val j = ql.join(clf, Seq("doc_id")).join(nll, Seq("doc_id"))
          .withColumn("r_quality", row_number().over(
            Window.orderBy(col("ql").desc, col("doc_id"))))
          .withColumn("r_lm", row_number().over(
            Window.orderBy(col("nl"), col("doc_id"))))
          .withColumn("r_clf", row_number().over(
            Window.orderBy(col("zc").desc, col("doc_id"))))
          .withColumn("borda",
            (col("r_quality") + col("r_lm") + col("r_clf")).cast("long"))
        j.orderBy(col("borda"), col("doc_id")).limit(100)
          .withColumn("rank", row_number().over(
            Window.orderBy(col("borda"), col("doc_id"))).cast("int"))
          .select(col("doc_id"), col("r_quality"), col("r_lm"), col("r_clf"),
            col("borda"), col("rank"))
      },
      sql = Some(s"""${logregCtes(rounds = 5)},
        zc AS (SELECT doc_id, $LogregDot AS zc FROM f, w5t),
        qlt AS (SELECT doc_id, ${TextAnalysis.sqlQualityExpr} AS ql
                FROM documents WHERE length(text) > 0),
        ${nllSqlCtes(nonEmptyOnly = true)},
        r AS (SELECT qlt.doc_id,
                     row_number() OVER (ORDER BY ql DESC, qlt.doc_id)
                       AS r_quality,
                     row_number() OVER (ORDER BY avg_nll, qlt.doc_id) AS r_lm,
                     row_number() OVER (ORDER BY zc DESC, qlt.doc_id) AS r_clf
              FROM qlt JOIN zc USING (doc_id) JOIN nll USING (doc_id)),
        b AS (SELECT doc_id, r_quality, r_lm, r_clf,
                     CAST(r_quality + r_lm + r_clf AS BIGINT) AS borda
              FROM r)
        SELECT doc_id, r_quality, r_lm, r_clf, borda,
               CAST(row_number() OVER (ORDER BY borda, doc_id) AS INT) AS rank
        FROM b ORDER BY borda, doc_id LIMIT 100"""),
      scaleNote = "each signal is its own proven one-or-two-shuffle plan (heuristic: map-side; LM: vocab shuffle + broadcast model; classifier: zero-data-shuffle GD); fusion adds three global rank sorts — Spark range-partitions orderBy so they distribute, and at 100 TB the exact ranks swap for q64 approx-quantile bucket ranks (broadcast boundaries, map-side bucketing) with the same integer Borda arithmetic downstream — REGISTERED as q215; the final cut is TakeOrdered, never a full sort of the fused frame"),

    // ---- q215: Borda fusion over CENTILE BUCKETS, windowless (q158's
    // 100 TB spelling, r13) ---------------------------------------------
    // q158's scaleNote promised it; this registers it: each signal's
    // corpus-wide rank sort swaps for 99 centile boundaries (the q211
    // machinery — Spark exact-mode approx_percentile ≡ DuckDB
    // quantile_disc at rank ⌈q·n⌉) broadcast to a map-side bucketer;
    // Borda then sums BUCKET indices instead of exact ranks. The two
    // descending signals (quality, classifier) bucket over their
    // NEGATED values (an exact IEEE sign flip on both engines) so one
    // ascending rule serves all three. The fused cut is TakeOrdered on
    // (borda, doc_id) and the final rank is a window over the K-row
    // frame — the q146 shape. Bucket indices, Borda sums and the cut
    // are all exact integers; the only doubles are the three signal
    // scores each already proven bit-identical cross-engine (q158).
    "q215_rank_fusion_bucketed" -> Q(
      fn = (s, d) => {
        val K = 100
        val cents = (1 to 99).map(i => f"${i / 100.0}%.2fD").mkString(", ")
        val j = fusionSignals(s, d) // checkpointed: feeds sketches AND bucketer
        // q211's loud exact-mode guard (ADVICE r13): one count rides
        // the sketch aggregate; all three boundary arrays share the
        // same frame, so one guarded column covers the precondition
        val bounds = j.agg(
          expr(s"approx_percentile(sq, array($cents), 1000000)").as("bq0"),
          expr(s"approx_percentile(sl, array($cents), 1000000)").as("bl"),
          expr(s"approx_percentile(sc, array($cents), 1000000)").as("bc"),
          count(lit(1)).as("nsc"))
          .select(when(col("nsc") <= 1000000L, col("bq0"))
            .otherwise(raise_error(concat(
              lit("q215 exact-mode precondition: signal rows = "),
              col("nsc").cast("string"),
              lit(" > approx_percentile accuracy 1e6 — centile boundaries "
                + "would go approximate and depart the quantile_disc oracle"))))
            .as("bq"),
            col("bl"), col("bc"))
        val bucketed = j.crossJoin(broadcast(bounds))
          .select(col("doc_id"),
            (lit(1) + size(filter(col("bq"), b => col("sq") > b)))
              .cast("long").as("c_quality"),
            (lit(1) + size(filter(col("bl"), b => col("sl") > b)))
              .cast("long").as("c_lm"),
            (lit(1) + size(filter(col("bc"), b => col("sc") > b)))
              .cast("long").as("c_clf"))
          .withColumn("borda", col("c_quality") + col("c_lm") + col("c_clf"))
        bucketed.orderBy(col("borda"), col("doc_id")).limit(K)
          .withColumn("rank", row_number().over(
            Window.orderBy(col("borda"), col("doc_id"))).cast("int"))
      },
      sql = Some({
        val cents = (1 to 99).map(i => f"${i / 100.0}%.2f").mkString(", ")
        s"""${logregCtes(rounds = 5)},
        zc AS (SELECT doc_id, -($LogregDot) AS sc FROM f, w5t),
        qlt AS (SELECT doc_id, -(${TextAnalysis.sqlQualityExpr}) AS sq
                FROM documents WHERE length(text) > 0),
        ${nllSqlCtes(nonEmptyOnly = true)},
        j AS MATERIALIZED (
          SELECT qlt.doc_id, sq, avg_nll AS sl, sc
          FROM qlt JOIN zc USING (doc_id) JOIN nll USING (doc_id)),
        bs AS (SELECT quantile_disc(sq, [$cents]) AS bq,
                      quantile_disc(sl, [$cents]) AS bl,
                      quantile_disc(sc, [$cents]) AS bc
               FROM j),
        bk AS (SELECT doc_id,
                      CAST(1 + len(list_filter(bq, b -> sq > b))
                        AS BIGINT) AS c_quality,
                      CAST(1 + len(list_filter(bl, b -> sl > b))
                        AS BIGINT) AS c_lm,
                      CAST(1 + len(list_filter(bc, b -> sc > b))
                        AS BIGINT) AS c_clf
               FROM j, bs),
        b AS (SELECT doc_id, c_quality, c_lm, c_clf,
                     c_quality + c_lm + c_clf AS borda
              FROM bk ORDER BY borda, doc_id LIMIT 100)
        SELECT doc_id, c_quality, c_lm, c_clf, borda,
               CAST(row_number() OVER (ORDER BY borda, doc_id) AS INT) AS rank
        FROM b"""
      }),
      scaleNote = "the registered windowless fusion: three mergeable GK-sketch aggregates over ONE materialized signal frame (map-side partials), 3×99 boundary doubles broadcast, bucketing and Borda row-local, and the only ordered operator is TakeOrdered on the fused integer key (per-partition heaps, K rows to the driver) + a K-row rank window — no corpus-sized Window or single-partition sort anywhere (PlanSpec-pinned); centile granularity is the stated trade vs q158's exact ranks (ties inside a bucket fuse identically), which is exactly what survives at 100 TB where a global rank is three full sorts"),

    // ---- q146: weighted sampling without replacement (A-ES) ----------
    // q60/q69/q90 sample UNIFORMLY (salted-hash rank); a curation mix
    // usually wants docs ∝ weight (quality, length, source priority).
    // Efraimidis–Spirakis: give row i the key -ln(u_i)/w_i with u_i a
    // reproducible md5 fraction (the q60 salt discipline), keep the K
    // smallest — exactly a weight-proportional sample-without-
    // replacement, and mergeable: per-partition top-K heaps combine by
    // re-ranking, which is how TakeOrdered already executes it. Keys
    // round to 12 dp on both sides (granularity 1e-12 vs key spacing
    // ~1e-5 — no collision risk, but the ~1-ulp cross-engine ln()
    // wobble is absorbed; the 6-dp house rounding would be too coarse
    // HERE because keys live in [0, ~0.05]); rank orders by the
    // ROUNDED key so the cut is cross-engine well-defined.
    "q146_weighted_sample" -> Q(
      fn = (s, d) => {
        val K = 50
        val frac = ((conv(substring(md5(concat(lit("ws:"),
          col("doc_id").cast("string"))), 1, 12), 16, 10).cast("long")
          + lit(1L)).cast("double") / lit(281474976710656.0))
        Tables.documents(s, d).filter(col("n_chars") > 0)
          .select(col("doc_id"), col("n_chars"),
            round(-log(frac) / col("n_chars").cast("double"), 12)
              .as("samp_key"))
          .orderBy(col("samp_key"), col("doc_id"))
          .limit(K)
          .withColumn("rank", row_number().over(
            Window.orderBy(col("samp_key"), col("doc_id"))).cast("int"))
      },
      sql = Some(s"""
        WITH h AS (SELECT doc_id, n_chars,
                          md5('ws:' || CAST(doc_id AS VARCHAR)) AS hh
                   FROM documents WHERE n_chars > 0),
        k AS (SELECT doc_id, n_chars,
                     round(-ln(CAST(${kmvHexSql("hh")} + 1 AS DOUBLE)
                               / 281474976710656.0)
                           / CAST(n_chars AS DOUBLE), 12) AS samp_key
              FROM h),
        top AS (SELECT doc_id, n_chars, samp_key FROM k
                ORDER BY samp_key, doc_id LIMIT 50)
        SELECT doc_id, n_chars, samp_key,
               CAST(row_number() OVER (ORDER BY samp_key, doc_id) AS INT) AS rank
        FROM top"""),
      scaleNote = "keys are one map-side hash+ln per row; the K smallest run as TakeOrdered (per-partition heaps, K rows to the driver) — no sort, no shuffle of the corpus; for stratified weighted mixes, partition the rank by stratum (q69's WindowGroupLimit shape) with the same keys"),

    // ---- q154: token-budget waterfill across sources -----------------
    // The mixture-allocation step between curation and tokenization:
    // given a token budget B, per-source target weights, and a hard
    // per-source repetition cap (max 2 epochs — the public finding
    // that repeating data beyond a few epochs stops helping), allocate
    // B ∝ weight, cap the sources that would over-repeat, and
    // redistribute their surplus to the uncapped sources — classic
    // waterfilling. All arithmetic is exact integers (tokens, integer
    // division), so the mirror is bit-exact with no float anywhere.
    // Rounds are FIXED at 6 on both sides (a fixed unroll keeps the
    // oracle a finite CTE chain): once no new source caps, further
    // rounds are identity, and the mirror is bit-exact at any round
    // count because both sides run the same 6 updates; the SPEC
    // asserts round 6 is already a fixed point on the shipped corpus.
    // Weights derive from the source name (deterministic in both
    // engines); budget = 1.5x the corpus so caps genuinely bind.
    "q154_mixture_waterfill" -> Q(
      fn = (s, d) => {
        val base = Tables.documents(s, d).filter(length(col("text")) > 0)
          .groupBy(col("source"))
          .agg(sum(size(split(lower(col("text")), " ")).cast("long")).as("a"))
          .withColumn("w",
            pmod(substring(col("source"), 4, 10).cast("long"), lit(4L)) + 1L)
          .withColumn("cap", col("a") * 2)
          .withColumn("capped", lit(false))
          .localCheckpoint()
        val b = base.agg(expr("3 * sum(a) DIV 2").as("b"))
        var st = base.crossJoin(broadcast(b)).localCheckpoint()
        for (_ <- 1 to 6) {
          val tot = st.agg(
            (max(col("b")) -
              sum(when(col("capped"), col("cap")).otherwise(0L))).as("rbud"),
            sum(when(col("capped"), 0L).otherwise(col("w"))).as("wsum"))
          st = st.crossJoin(broadcast(tot))
            .withColumn("capped", col("capped") ||
              (col("wsum") > 0 &&
                expr("w * greatest(rbud, CAST(0 AS BIGINT)) DIV wsum") >= col("cap")))
            .drop("rbud", "wsum")
            .localCheckpoint() // 20-ish rows; truncate per-round lineage
        }
        val totF = st.agg(
          (max(col("b")) -
            sum(when(col("capped"), col("cap")).otherwise(0L))).as("rbud"),
          sum(when(col("capped"), 0L).otherwise(col("w"))).as("wsum"))
        st.crossJoin(broadcast(totF))
          .select(col("source"), col("a").as("a_tokens"), col("w").as("weight"),
            col("cap").as("cap_tokens"), col("capped").cast("long").as("capped"),
            when(col("capped"), col("cap"))
              .when(col("wsum") > 0, expr("w * greatest(rbud, CAST(0 AS BIGINT)) DIV wsum"))
              .otherwise(0L).as("alloc_tokens"))
          .withColumn("epochs_ppm",
            expr("alloc_tokens * CAST(1000000 AS BIGINT) DIV a_tokens"))
      },
      sql = Some {
        def tot(prev: String) =
          s"""(SELECT max(b) - CAST(sum(CASE WHEN capped THEN cap ELSE 0 END)
                                    AS BIGINT)
                 AS rbud,
               CAST(sum(CASE WHEN capped THEN 0 ELSE w END) AS BIGINT)
                 AS wsum
               FROM $prev)"""
        val rounds = (1 to 6).map { r =>
          val prev = if (r == 1) "s0" else s"s${r - 1}"
          s""",
          t$r AS MATERIALIZED ${tot(prev)},
          s$r AS MATERIALIZED (
            SELECT source, a, w, cap, b,
                   capped OR (wsum > 0 AND (w * greatest(rbud, CAST(0 AS BIGINT))) // wsum >= cap)
                     AS capped
            FROM $prev, t$r)"""
        }.mkString
        s"""
        WITH av AS (
          SELECT source,
                 CAST(sum(CAST(len(string_split(lower(text), ' ')) AS BIGINT))
                      AS BIGINT) AS a
          FROM documents WHERE length(text) > 0 GROUP BY 1),
        s0 AS MATERIALIZED (
          SELECT source, a,
                 CAST(substr(source, 4) AS BIGINT) % 4 + 1 AS w,
                 a * 2 AS cap,
                 (SELECT (3 * CAST(sum(a) AS BIGINT)) // 2 FROM av) AS b,
                 FALSE AS capped
          FROM av)$rounds,
        tf AS ${tot("s6")}
        SELECT source, a AS a_tokens, w AS weight, cap AS cap_tokens,
               CAST(capped AS BIGINT) AS capped,
               CASE WHEN capped THEN cap
                    WHEN wsum > 0 THEN (w * greatest(rbud, CAST(0 AS BIGINT))) // wsum
                    ELSE 0 END AS alloc_tokens,
               (CASE WHEN capped THEN cap
                     WHEN wsum > 0 THEN (w * greatest(rbud, CAST(0 AS BIGINT))) // wsum
                     ELSE 0 END * CAST(1000000 AS BIGINT)) // a
                 AS epochs_ppm
        FROM s6, tf"""
      },
      scaleNote = "the corpus contributes ONE map-side-partial token-count shuffle into <=|sources| rows; the waterfill loop then runs entirely on that tiny frame with 1-row broadcast totals per round — zero further data passes at any corpus size, and the output is the sampling-rate table every downstream epoch-aware reader joins against (broadcast)"),

    "q62_pii_scrub" -> Q(
      fn = (s, d) => {
        val injected = concat(
          col("text"),
          lit(" contact doc"), col("doc_id"), lit("@example.com or +1-555-"),
          lpad(col("doc_id").cast("string"), 4, "0"),
          lit(" from 10.0."), pmod(col("doc_id"), lit(256)), lit(".1"))
        Tables.documents(s, d)
          .select(col("doc_id"), injected.as("raw"))
          .select(
            col("doc_id"),
            // counts BEFORE scrubbing, from the same single projection
            size(regexp_extract_all(col("raw"), lit(EmailRe), lit(0))).as("n_email"),
            size(regexp_extract_all(col("raw"), lit(PhoneRe), lit(0))).as("n_phone"),
            size(regexp_extract_all(col("raw"), lit(IpRe), lit(0))).as("n_ip"),
            regexp_replace(
              regexp_replace(
                regexp_replace(col("raw"), lit(EmailRe), lit("[EMAIL]")),
                lit(PhoneRe), lit("[PHONE]")),
              lit(IpRe), lit("[IP]")).as("scrubbed"))
      },
      // DuckDB regexp_replace needs the 'g' flag (first-match default);
      // Spark's replaces all matches — semantics aligned explicitly.
      sql = Some(s"""
        WITH r AS (
          SELECT doc_id,
                 text || ' contact doc' || doc_id || '@example.com or +1-555-' ||
                 lpad(CAST(doc_id AS VARCHAR), 4, '0') ||
                 ' from 10.0.' || (doc_id % 256) || '.1' AS raw
          FROM documents)
        SELECT doc_id,
               CAST(len(regexp_extract_all(raw, '$EmailRe')) AS INT) AS n_email,
               CAST(len(regexp_extract_all(raw, '$PhoneRe')) AS INT) AS n_phone,
               CAST(len(regexp_extract_all(raw, '$IpRe')) AS INT) AS n_ip,
               regexp_replace(regexp_replace(regexp_replace(raw,
                 '$EmailRe', '[EMAIL]', 'g'),
                 '$PhoneRe', '[PHONE]', 'g'),
                 '$IpRe', '[IP]', 'g') AS scrubbed
        FROM r"""),
      scaleNote = "pure map-side (zero shuffles); regex subset is RE2-compatible so the same patterns run on any engine; at 100 TB this is a fused single-pass projection"),

    "q63_quality_filter" -> Q(
      fn = (s, d) => {
        val w = Tables.documents(s, d)
          .select(col("doc_id"),
            split(lower(col("text")), " ").as("words"),
            length(regexp_replace(col("text"), lit(" "), lit(""))).as("n_alpha"))
          .select(col("doc_id"),
            size(col("words")).as("n_words"),
            size(array_distinct(col("words"))).as("n_distinct"),
            col("n_alpha"))
        w.select(
            col("doc_id"), col("n_words"), col("n_distinct"),
            (col("n_alpha").cast("double") / col("n_words")).as("mean_wlen"),
            (lit(1.0) - col("n_distinct").cast("double") / col("n_words")).as("repetition"))
          .withColumn("passes",
            (col("n_words").between(MinWords, MaxWords) &&
              col("mean_wlen").between(MinMeanWlen, MaxMeanWlen) &&
              col("repetition") < MaxRepetition).cast("int"))
      },
      sql = Some(s"""
        WITH w AS (
          SELECT doc_id,
                 CAST(len(string_split(lower(text), ' ')) AS INT) AS n_words,
                 CAST(len(list_distinct(string_split(lower(text), ' '))) AS INT) AS n_distinct,
                 len(replace(text, ' ', '')) AS n_alpha
          FROM documents)
        SELECT doc_id, n_words, n_distinct,
               CAST(n_alpha AS DOUBLE) / n_words AS mean_wlen,
               1.0 - CAST(n_distinct AS DOUBLE) / n_words AS repetition,
               CAST(n_words BETWEEN $MinWords AND $MaxWords
                    AND CAST(n_alpha AS DOUBLE) / n_words BETWEEN $MinMeanWlen AND $MaxMeanWlen
                    AND 1.0 - CAST(n_distinct AS DOUBLE) / n_words < $MaxRepetition
                 AS INT) AS passes
        FROM w"""),
      scaleNote = "pure map-side; every metric is integer arithmetic + one IEEE division (correctly rounded in any engine) — no cross-engine float drift, no shuffle"),

    "q65_tfidf_top_terms" -> Q(
      fn = (s, d) => {
        val base = Tables.documents(s, d)
        val tf = base
          .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
          .groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val n = base.agg(count(lit(1)).as("n_docs"))
        // idf as the exact rational n_docs/df instead of log(n/df):
        // tf*n_docs is exact integer arithmetic and ONE division is
        // correctly rounded per IEEE-754 in every engine, so the score
        // is bit-identical cross-engine (log() is only ~1-ulp accurate
        // and would make ranking oracle-flaky). Monotone in the usual
        // log formulation per fixed tf, and ranking is what's exposed.
        val scored = tf
          .join(broadcast(dfreq), "term")
          .crossJoin(broadcast(n))
          .withColumn("score",
            (col("tf") * col("n_docs")).cast("double") / col("df"))
        val byScore = Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("term"))
        scored
          .withColumn("rk", row_number().over(byScore).cast("long"))
          .filter(col("rk") <= 3)
          .select(col("doc_id"), col("term"), col("tf"), col("df"),
            col("score"), col("rk"))
      },
      sql = Some("""
        WITH w AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
                   FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
        d AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT count(*) AS n_docs FROM documents)
        SELECT doc_id, term, tf, df, score, rk FROM (
          SELECT t.doc_id, t.term, t.tf, d.df,
                 CAST(t.tf * n.n_docs AS DOUBLE) / d.df AS score,
                 row_number() OVER (
                   PARTITION BY t.doc_id
                   ORDER BY CAST(t.tf * n.n_docs AS DOUBLE) / d.df DESC, t.term) AS rk
          FROM tf t JOIN d USING (term) CROSS JOIN n)
        WHERE rk <= 3"""),
      scaleNote = "one shuffle on (doc_id,term) for tf; df and the corpus count broadcast back (vocab ≪ corpus); WindowGroupLimit prunes the rank at 3"),

    "q66_sequence_packing" -> Q(
      fn = (s, d) => {
        import s.implicits._
        // Greedy first-fit-in-order packing of docs into fixed token
        // budgets (sample packing for training). Inherently sequential
        // per source, so: shuffle once on source, secondary-sort by
        // doc_id INSIDE each partition, then a constant-memory
        // streaming pass — the classic secondary-sort pattern; no
        // group materialization, no driver loop. A source's docs can
        // exceed one executor's memory and this still streams.
        val t = Tables.documents(s, d)
          .select(col("source"), col("doc_id"),
            size(split(col("text"), " ")).as("n_tokens"))
          .repartition(col("source"))
          .sortWithinPartitions(col("source"), col("doc_id"))
          .as[(String, Long, Int)]
        t.mapPartitions { it =>
          var curSource: String = null
          var fill = 0L
          var pack = 0L
          it.map { case (src, id, nt) =>
            if (src != curSource) { curSource = src; pack = 0L; fill = nt.toLong }
            else if (fill + nt > PackCapacity) { pack += 1; fill = nt.toLong }
            else fill += nt
            (src, id, nt, pack)
          }
        }.toDF("source", "doc_id", "n_tokens", "pack_id")
      },
      // the oracle replays the same greedy scan as a recursive CTE
      // stepping row_number-ordered docs one at a time per source
      sql = Some(s"""
        WITH RECURSIVE
        t AS (SELECT source, doc_id,
                     CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
                     row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
              FROM documents),
        p AS (
          SELECT source, rn, doc_id, n_tokens,
                 CAST(n_tokens AS BIGINT) AS fill, CAST(0 AS BIGINT) AS pack_id
          FROM t WHERE rn = 1
          UNION ALL
          SELECT t.source, t.rn, t.doc_id, t.n_tokens,
                 CASE WHEN p.fill + t.n_tokens > $PackCapacity
                      THEN CAST(t.n_tokens AS BIGINT)
                      ELSE p.fill + t.n_tokens END,
                 CASE WHEN p.fill + t.n_tokens > $PackCapacity
                      THEN p.pack_id + 1 ELSE p.pack_id END
          FROM p JOIN t ON t.source = p.source AND t.rn = p.rn + 1)
        SELECT source, doc_id, n_tokens, pack_id FROM p"""),
      scaleNote = "one shuffle on source + in-partition secondary sort, then a constant-memory streaming scan (mapPartitions) — per-source sequential state without materializing any group"),

    // ---- benchmark decontamination -----------------------------------
    // Flag training documents that share any 3-word shingle with the
    // held-out test split (q60's salt-keyed split discipline: a doc is
    // test iff md5('t:'||doc_id) prefix >= 'cc'). The standard
    // pretraining hygiene step: n-gram overlap against the eval set.
    "q67_decontaminate" -> Q(
      fn = (s, d) => {
        val base = evalSplitShingles(s, d)
        // ONLY the tiny eval side materializes (it is read to build the
        // broadcast); the corpus side streams straight off the scan —
        // pinning the whole corpus's shingle arrays behind a checkpoint
        // would contradict the map-only scale note below. The shingle
        // kernel runs once per side, which is the right trade: a cheap
        // re-scan beats corpus-sized executor storage.
        val testSh = base.filter(col("is_test"))
          .select(explode(col("sh")).as("shingle")).distinct()
          .localCheckpoint()
        base.filter(!col("is_test"))
          .select(col("doc_id"), explode(col("sh")).as("shingle"))
          .join(broadcast(testSh), Seq("shingle"))
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("shingle")).as("n_hits"))
      },
      // oracle spells shingles as strings (8-byte-hash vs string shingle
      // sets have identical overlap counts — q26's established stance)
      sql = Some(s"""
        WITH s AS (SELECT doc_id, ${Dedup.sqlShingles} AS sh FROM documents),
        split AS (SELECT doc_id, sh,
          substr(md5('t:' || CAST(doc_id AS VARCHAR)), 1, 2) >= 'cc' AS is_test
          FROM s),
        test_sh AS (SELECT DISTINCT unnest(sh) AS shingle FROM split WHERE is_test),
        train AS (SELECT doc_id, unnest(sh) AS shingle FROM split WHERE NOT is_test)
        SELECT tr.doc_id, count(DISTINCT tr.shingle) AS n_hits
        FROM train tr JOIN test_sh t USING (shingle)
        GROUP BY 1"""),
      scaleNote = "eval sets are tiny vs the corpus, so their shingle set broadcasts — the 100 TB side streams map-only through a broadcast hash join (zero shuffle of the corpus); one groupBy on doc_id with partial agg"),

    // ---- q159: benchmark leakage audit (q67's inverse view) ----------
    // q67 answers "which TRAINING docs touch the eval set" (and drops
    // them); this answers the question the eval owner asks: per EVAL
    // item, is it represented in the training corpus, and where? For
    // each eval doc: its strongest-overlap training doc, the shared
    // distinct-shingle count, containment in ppm, and a leaked flag at
    // the 50% containment cut — the report that decides which
    // benchmarks are compromised for a given corpus snapshot. Same
    // deterministic doc_id-hash split as q67; all emissions are exact
    // integers, the cut is the cross-multiplied 2·shared ≥ n_sh, and
    // the best-match tie breaks (shared DESC, train_doc) on both
    // engines.
    "q159_leakage_audit" -> Q(
      fn = (s, d) => {
        val base = evalSplitShingles(s, d)
          .filter(size(col("sh")) > 0)
        val evalSide = base.filter(col("is_test"))
          .select(col("doc_id").as("eval_id"), col("sh"))
          .localCheckpoint() // tiny; feeds sizes AND the broadcast probe
        val evalSz = evalSide
          .select(col("eval_id"), size(col("sh")).cast("long").as("n_sh"))
        val evalSh = evalSide
          .select(col("eval_id"), explode(col("sh")).as("shingle"))
        val shared = base.filter(!col("is_test"))
          .select(col("doc_id").as("train_doc"), explode(col("sh")).as("shingle"))
          .join(broadcast(evalSh), Seq("shingle"))
          .groupBy(col("eval_id"), col("train_doc"))
          .agg(count(lit(1)).as("n_shared"))
        val best = shared.withColumn("rk", row_number().over(
          Window.partitionBy(col("eval_id"))
            .orderBy(col("n_shared").desc, col("train_doc"))))
          .filter(col("rk") === 1).drop("rk")
        evalSz.join(best, Seq("eval_id"), "left")
          .select(col("eval_id"), col("n_sh"),
            col("train_doc").as("best_train_doc"),
            coalesce(col("n_shared"), lit(0L)).as("n_shared"),
            expr("coalesce(n_shared, CAST(0 AS BIGINT))" +
              " * CAST(1000000 AS BIGINT) DIV n_sh").as("contain_ppm"),
            (coalesce(col("n_shared"), lit(0L)) * 2 >= col("n_sh"))
              .cast("long").as("leaked"))
      },
      sql = Some(s"""
        WITH s AS (SELECT doc_id, ${Dedup.sqlShingles} AS sh FROM documents),
        split AS (SELECT doc_id, sh,
          substr(md5('t:' || CAST(doc_id AS VARCHAR)), 1, 2) >= 'cc' AS is_test
          FROM s WHERE len(sh) > 0),
        ev AS (SELECT doc_id AS eval_id, CAST(len(sh) AS BIGINT) AS n_sh
               FROM split WHERE is_test),
        evsh AS (SELECT doc_id AS eval_id, unnest(sh) AS shingle
                 FROM split WHERE is_test),
        tr AS (SELECT doc_id AS train_doc, unnest(sh) AS shingle
               FROM split WHERE NOT is_test),
        shared AS (SELECT eval_id, train_doc, count(*) AS n_shared
                   FROM tr JOIN evsh USING (shingle) GROUP BY 1, 2),
        best AS (SELECT eval_id, train_doc, n_shared FROM (
                   SELECT eval_id, train_doc, n_shared, row_number() OVER
                     (PARTITION BY eval_id
                      ORDER BY n_shared DESC, train_doc) AS rk
                   FROM shared) WHERE rk = 1)
        SELECT ev.eval_id, ev.n_sh,
               best.train_doc AS best_train_doc,
               coalesce(best.n_shared, 0) AS n_shared,
               (coalesce(best.n_shared, 0) * CAST(1000000 AS BIGINT))
                 // ev.n_sh AS contain_ppm,
               CAST(coalesce(best.n_shared, 0) * 2 >= ev.n_sh AS BIGINT)
                 AS leaked
        FROM ev LEFT JOIN best USING (eval_id)"""),
      scaleNote = "the eval side is tiny and broadcasts (q67's stance), so the 100 TB corpus streams map-only through the broadcast join; per-pair counts exist only for (train, eval) docs that actually share a shingle, the per-eval argmax collapses in-shuffle via WindowGroupLimit, and the report frame is |eval| rows — the audit costs one corpus scan regardless of corpus size"),

    // ---- q160: DSIR-style importance resampling ----------------------
    // Data Selection via Importance Resampling (Xie et al. 2023,
    // PAPERS.md): score every raw doc by how target-like its hashed
    // n-gram bag is, then keep the top-K — the published method for
    // steering a 100 TB crawl toward a target distribution without a
    // trained classifier (complementary to q142's logreg distillation:
    // DSIR is generative/count-based, q142 discriminative). Score
    // construction is the shared dsirPer/dsirSqlCtes frame (also the
    // q186 scale path); the top-K cut ranks the ROUNDED score with
    // doc_id tie-break (q137/q146 discipline) so selection membership
    // is well-defined.
    "q160_dsir_importance" -> Q(
      fn = (s, d) => {
        val K = 100
        dsirPer(s, d).withColumn("rk", row_number().over(
            Window.orderBy(col("logw_pg").desc, col("doc_id"))))
          .select(col("doc_id"), col("n_grams"), col("logw"),
            col("logw_pg"), (col("rk") <= K).cast("long").as("selected"))
      },
      sql = Some(s"""
        WITH $dsirSqlCtes
        SELECT doc_id, n_grams, logw, logw_pg,
               CAST(row_number() OVER (ORDER BY logw_pg DESC, doc_id) <= 100
                    AS BIGINT) AS selected
        FROM per"""),
      scaleNote = "grams collapse map-side into B = 4096 bucket partials (ONE skinny shuffle whatever the corpus size); the log-ratio frame is 4096 rows and BROADCASTS to the scoring join, so scoring is map-side and the per-doc fold is the second and last shuffle; the global top-K rank is the TEST-SCALE ground-truth spelling (exact rank over one partition) — q186 is the registered 100 TB path: the identical score frame cut by a broadcast quantile threshold, no global window at all"),

    // ---- q186: DSIR selection by broadcast threshold (q160 at scale) --
    // The scale path q160's scaleNote promises, made concrete (the
    // q161→q166 precedent): the SAME dsirPer score frame, but selection
    // comes from a score THRESHOLD — the 0.9 quantile of logw_pg via
    // approx_percentile, q64's oracle-able sketch (exact below the
    // accuracy budget, where it retains every sample and matches
    // DuckDB's quantile_disc convention: smallest element with
    // cume_dist ≥ p) — broadcast back over the scores. No global rank
    // window anywhere in the plan (PlanSpec asserts no SinglePartition
    // Window): the threshold is ONE skinny mergeable aggregate, the cut
    // is a map-side comparison. τ is an ACTUAL score value (discrete
    // quantile of the 6-dp-rounded frame both engines already agree on
    // bit-for-bit), so `logw_pg >= tau` compares identical doubles —
    // no new rounding surface.
    "q186_dsir_threshold" -> Q(
      fn = (s, d) => {
        // scores feed the quantile AND the cut: materialize once
        val per = dsirPer(s, d).localCheckpoint()
        val tau = per.agg(
          expr("approx_percentile(logw_pg, 0.9D, 1000000)").as("tau"))
        per.crossJoin(broadcast(tau))
          .select(col("doc_id"), col("n_grams"), col("logw"),
            col("logw_pg"),
            (col("logw_pg") >= col("tau")).cast("long").as("selected"))
      },
      sql = Some(s"""
        WITH $dsirSqlCtes,
        tau AS (SELECT quantile_disc(logw_pg, 0.9) AS tau FROM per)
        SELECT doc_id, n_grams, logw, logw_pg,
               CAST(logw_pg >= tau AS BIGINT) AS selected
        FROM per, tau"""),
      scaleNote = "q160's two shuffles are unchanged; the cut adds ONE mergeable GK-sketch aggregate (O(accuracy) memory, map-side partials) and a 1-row broadcast — selection is then a map-side compare, so the whole selector is windowless and survives any corpus size; at 100 TB drop the accuracy parameter to the memory budget (the threshold becomes approximate-rank, selection stays exact-by-threshold)"),

    // ---- q191: importance-sampling diagnostics (per-source ESS) ----
    // The health check every importance-resampling pipeline (q160/q186)
    // needs before anyone trusts its weights: Kong's effective sample
    // size ESS = (Σw)²/Σw² per source, with w = exp(logw_pg) off the
    // SAME shared dsirPer frame. ESS ≈ n means the weights barely
    // discriminate; ESS ≪ n means a handful of docs carry the mass and
    // a resample would collapse the source. Also emitted: the weight
    // share held by positive-evidence docs (logw_pg > 0 — an exact
    // compare on the 6-dp-rounded score both engines already agree on)
    // and the single heaviest doc's share. exp/ratios are the
    // transcendental class → round(,6) on emissions only.
    "q191_dsir_ess" -> Q(
      fn = (s, d) => {
        val per = dsirPer(s, d)
        val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
        per.join(src, "doc_id")
          .select(col("source"), exp(col("logw_pg")).as("w"),
            (col("logw_pg") > 0).as("pos"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            round(sum(col("w")) * sum(col("w")) / sum(col("w") * col("w")), 6)
              .as("ess"),
            round(sum(when(col("pos"), col("w")).otherwise(lit(0.0))) /
              sum(col("w")), 6).as("pos_mass"),
            round(max(col("w")) / sum(col("w")), 6).as("max_share"))
      },
      sql = Some(s"""
        WITH $dsirSqlCtes,
        j AS (SELECT d.source, exp(per.logw_pg) AS w, per.logw_pg > 0 AS pos
              FROM per JOIN documents d USING (doc_id))
        SELECT source, count(*) AS n_docs,
               round(sum(w) * sum(w) / sum(w * w), 6) AS ess,
               round(sum(CASE WHEN pos THEN w ELSE CAST(0.0 AS DOUBLE) END)
                     / sum(w), 6) AS pos_mass,
               round(max(w) / sum(w), 6) AS max_share
        FROM j GROUP BY 1"""),
      scaleNote = "rides q160's already-paid gram pass: the diagnostic itself is one (source) shuffle of |docs| weight rows with map-side partials — every emitted number is a per-source fold of four running sums, so the report costs O(|sources|) rows of final state at any corpus size; at 100 TB this is the cheap gate you run BEFORE committing to a q186 resample"),

    // ---- intra-document repetition removal ---------------------------
    // Dedup repeated 5-word segments within each doc, keeping the first
    // occurrence in order (the C4/RefinedWeb line-dedup step). The
    // synthetic corpus has no organic repetition, so the query first
    // injects a deterministic duplicate — the doc truncated to a 5-word
    // boundary plus its own first (doc_id%3+1)*5 words — same honest
    // injection stance as q62's PII.
    "q68_repetition_removal" -> Q(
      fn = (s, d) => {
        val w0 = split(lower(col("text")), " ")
        // The injected text is join(w[1..m]) ⊎ join(w[1..k]) with m, k
        // both multiples of 5 — so its aligned 5-word segments are
        // exactly segs(w)[1..m/5] ++ segs(w)[1..k/5]. Building them
        // straight from ONE word array skips the join-then-re-split
        // round-trip (which re-tokenized the ~2 KB string once per
        // segment in the interpreted HOF path — 4× this query's cost).
        val segsOf = (w: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =>
          transform(sequence(lit(1), n),
            j => array_join(slice(w, (j - 1) * 5 + 1, lit(5)), " "))
        // Column./ is float division — floor+cast for the integer
        // truncation the oracle's // spells
        val nseg = floor(size(col("w")) / lit(5)).cast("int")
        // the copy is w[1..k] TRUNCATED to the doc (short docs!), and
        // the re-split drops its partial trailing segment — so its
        // aligned segment count is floor(min(k, n)/5)
        val kseg = floor(
          least((pmod(col("doc_id"), lit(3)) + 1) * lit(5), size(col("w")))
            / lit(5)).cast("int")
        Tables.documents(s, d)
          .filter(size(w0) >= 5)
          .select(col("doc_id"), w0.as("w"))
          .select(col("doc_id"),
            concat(segsOf(col("w"), nseg), segsOf(col("w"), kseg)).as("segs"))
          .select(col("doc_id"),
            array_join(
              filter(col("segs"),
                (x, i) => array_position(col("segs"), x) === (i + 1).cast("long")),
              " ").as("dedup_text"),
            (size(col("segs")) - size(array_distinct(col("segs"))))
              .cast("int").as("n_removed"))
      },
      sql = Some("""
        WITH raw AS (SELECT doc_id, string_split(lower(text), ' ') AS w
                     FROM documents WHERE len(string_split(lower(text), ' ')) >= 5),
        inj AS (SELECT doc_id,
          array_to_string(w[1 : (len(w)//5)*5], ' ') || ' ' ||
          array_to_string(w[1 : CAST(((doc_id % 3) + 1) * 5 AS INT)], ' ') AS t
          FROM raw),
        seg AS (SELECT doc_id,
          list_transform(generate_series(1, len(string_split(t, ' '))//5),
            j -> array_to_string((string_split(t, ' '))[(j-1)*5+1 : (j-1)*5+5], ' ')) AS segs
          FROM inj)
        SELECT doc_id,
          array_to_string(list_filter(segs, (x, i) -> list_position(segs, x) = i), ' ') AS dedup_text,
          CAST(len(segs) - len(list_distinct(segs)) AS INT) AS n_removed
        FROM seg"""),
      scaleNote = "pure map-side — the keep-first-distinct runs inside one row via higher-order filter/array_position (segments per doc are bounded by context length, so the per-row quadratic scan is constant work); zero shuffle at any corpus size"),

    // ---- per-domain contribution cap ---------------------------------
    // Cap any one source's contribution to the training mix at K docs,
    // selected by a deterministic salted-hash rank (reproducible across
    // runs/retries, stable as K changes — same discipline as q60).
    "q69_domain_cap" -> Q(
      fn = (s, d) => {
        val rkw = Window.partitionBy(col("source"))
          .orderBy(md5(concat(lit("c:"), col("doc_id").cast("string"))), col("doc_id"))
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"))
          .withColumn("rk", row_number().over(rkw).cast("long"))
          .filter(col("rk") <= 15)
      },
      sql = Some("""
        SELECT doc_id, source, rk FROM (
          SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source
                   ORDER BY md5('c:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
          FROM documents) WHERE rk <= 15"""),
      scaleNote = "one shuffle on source; WindowGroupLimit prunes each partition to K in-shuffle so no full-domain sort materializes; a skewed mega-domain splits under AQE and still only K rows survive per domain"),

    // ---- fixed-budget token chunking with overlap ---------------------
    // Split each doc into chunks of ChunkBudget whitespace tokens with
    // stride ChunkStride (overlap 8) — the tokenize-and-chunk step that
    // feeds sequence packing. chunk_md5 hashes the exact chunk text so
    // the oracle verifies content, not just arithmetic.
    "q70_token_chunks" -> Q(
      fn = (s, d) => {
        val w = split(col("text"), " ")
        Tables.documents(s, d)
          .select(col("doc_id"), w.as("w"), size(w).as("n"))
          .withColumn("n_chunks",
            lit(1) + greatest(lit(0),
              ceil((col("n") - ChunkBudget).cast("double") / ChunkStride).cast("int")))
          .select(col("doc_id"), col("w"), col("n"),
            explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_id"))
          .select(col("doc_id"),
            col("chunk_id").cast("long").as("chunk_id"),
            (col("chunk_id") * ChunkStride + 1).cast("long").as("start_tok"),
            least(lit(ChunkBudget), col("n") - col("chunk_id") * ChunkStride)
              .cast("long").as("n_tokens"),
            md5(array_join(
              slice(col("w"), col("chunk_id") * ChunkStride + 1, lit(ChunkBudget)),
              " ")).as("chunk_md5"))
      },
      sql = Some(s"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        n AS (SELECT doc_id, w, len(w) AS n,
          1 + GREATEST(0, CAST(ceil((len(w) - $ChunkBudget) / $ChunkStride.0) AS INT)) AS n_chunks
          FROM t)
        SELECT doc_id, chunk_id,
          CAST(chunk_id * $ChunkStride + 1 AS BIGINT) AS start_tok,
          CAST(LEAST($ChunkBudget, n - chunk_id * $ChunkStride) AS BIGINT) AS n_tokens,
          md5(array_to_string(
            w[chunk_id*$ChunkStride+1 : chunk_id*$ChunkStride+$ChunkBudget], ' ')) AS chunk_md5
        FROM (SELECT doc_id, w, n, unnest(generate_series(0, n_chunks - 1)) AS chunk_id
              FROM n)"""),
      scaleNote = "pure map-side explode — rows fan out ~n/stride per doc with no shuffle; at 100 TB this pipelines into the packing shuffle (q66) without materializing chunk text (downstream reads the (start,len) slice lazily)"),

    // ---- model-based quality filter (linear classifier scoring) ------
    // The DCLM/fastText-style curation stage: score each embedding with
    // a fixed linear classifier and keep positives. Weights are a
    // deterministic function of the dimension index (the operator under
    // test is the distributed scoring, not the training). Native
    // vec_dot keeps the accumulation order identical to DuckDB's
    // list_dot_product, so the score — and the keep decision — are
    // bit-stable cross-engine (q29's established stance).
    "q73_classifier_filter" -> Q(
      fn = (s, d) => {
        val dim = 64
        val wts = array((0 until dim).map(i => lit(((i % 7) - 3) / 8.0)): _*)
        Tables.load(s, d, "embeddings")
          .select(col("vec_id"),
            call_function("vec_dot",
              col("embedding").cast("array<double>"), wts).as("score"))
          .withColumn("kept", (col("score") > 0.0).cast("int"))
      },
      sql = Some("""
        SELECT vec_id,
               list_dot_product(embedding::DOUBLE[],
                 list_transform(range(0, 64),
                   i -> CAST((i % 7) - 3 AS DOUBLE) / 8.0)) AS score,
               CAST(list_dot_product(embedding::DOUBLE[],
                 list_transform(range(0, 64),
                   i -> CAST((i % 7) - 3 AS DOUBLE) / 8.0)) > 0 AS INT) AS kept
        FROM embeddings"""),
      scaleNote = "pure map-side: one codegen'd dot product per row against a broadcast-literal weight vector — zero shuffle; a real fastText/DCLM filter at 100 TB is exactly this shape with learned weights"),

    // ---- q90: temperature-weighted source-mix resampling -----------
    // The data-mixing stage: resample the corpus so each language's
    // share follows count^(1/2) (temperature T=2 upweights low-
    // resource langs, the multilingual-pretraining standard). The
    // per-lang budget is derived from the corpus itself; rows are
    // picked by md5 rank — reproducible across engines, re-runs, and
    // task retries (q60's hash-sampling stance), and a lang's sample
    // is a stable prefix as its budget grows.
    "q90_lang_mix_resample" -> Q(
      fn = (s, d) => {
        val budget = 300
        val counts = Tables.documents(s, d).groupBy(col("lang"))
          .agg(count(lit(1)).as("cnt"))
        val targets = counts
          .withColumn("wgt", sqrt(col("cnt")))
          .withColumn("t_n",
            round(lit(budget) * col("wgt") /
              sum(col("wgt")).over(Window.partitionBy())).cast("long"))
          .select(col("lang"), col("t_n"))
        val rn = row_number().over(Window.partitionBy(col("lang"))
          .orderBy(md5(concat(lit("m:"), col("doc_id").cast("string"))),
            col("doc_id")))
        Tables.documents(s, d).join(broadcast(targets), "lang")
          .withColumn("rn", rn)
          .filter(col("rn") <= col("t_n"))
          .select(col("doc_id"), col("lang"))
      },
      sql = Some(BudgetSampleOracleSql),
      scaleNote = "budgets come from one tiny two-phase count agg (broadcast back); selection is one rank window per lang partition — at 100 TB replace row_number with the md5-threshold filter (q60, REGISTERED as q222 with in-expectation budgets) or the two-pass slice spelling (REGISTERED as q228 under this oracle VERBATIM — exact budgets, window only on the O(t_n) boundary slice)"),

    // ---- q222: budgeted per-lang sampling, WINDOWLESS (q90's 100 TB
    // spelling, r14) -----------------------------------------------------
    // q90's scaleNote promised it; this registers it (the q155→q211 /
    // q158→q215 discipline): the per-lang rank window swaps for q60's
    // md5-threshold filter against BROADCAST per-lang budgets. Each
    // doc keeps iff its 28-bit salted hash falls under the lang's
    // rate: h28 · cnt < t_n · 2²⁸ — an exact integer cross-multiply
    // (28 bits, not 48, so the product stays far inside BIGINT even
    // at 3e10 docs per lang), with the same "m:" salt as q90, so the
    // threshold sample is a prefix-granularity approximation of q90's
    // exact-rank sample under the SAME ordering key. The budget
    // semantics shift is the documented trade: exactly-t_n (q90)
    // becomes binomially-t_n-in-expectation — indistinguishable at
    // corpus scale, and the sample is a pure function of doc_id, so
    // Spark and the oracle select the identical set by construction.
    "q222_budget_sample_thresholded" -> Q(
      fn = (s, d) => {
        val targets = langBudgets(s, d)
        val h28 = conv(substring(md5(concat(lit("m:"),
          col("doc_id").cast("string"))), 1, 7), 16, 10).cast("long")
        Tables.documents(s, d).join(broadcast(targets), "lang")
          .filter(h28 * col("cnt") < col("t_n") * lit(268435456L))
          .select(col("doc_id"), col("lang"))
      },
      sql = Some(s"""
        WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
        t AS (
          SELECT lang, cnt,
                 CAST(round(300 * sqrt(cnt) /
                   (SELECT sum(sqrt(cnt)) FROM c)) AS BIGINT) AS t_n
          FROM c),
        h AS (
          SELECT d.doc_id, d.lang, t.cnt, t.t_n,
                 ${OracleSql.hexN("md5('m:' || CAST(d.doc_id AS VARCHAR))", 7)}
                   AS h28
          FROM documents d JOIN t USING (lang))
        SELECT doc_id, lang FROM h WHERE h28 * cnt < t_n * 268435456"""),
      scaleNote = "the registered windowless spelling: budgets are the same tiny two-phase count agg broadcast back (|langs| rows), selection is a pure map-side hash compare that fuses into the scan — no per-lang rank window, no global sort, no single-partition stage anywhere (PlanSpec-pinned), so the sampler is one scan at any corpus size and survives speculative/retried tasks unchanged (the q60 law); the rate resolution is 2⁻²⁸ per lang, and the exactly-t_n variant at scale is this filter at a doubled rate plus a rank pass over the boundary slice — REGISTERED as q228 under q90's oracle verbatim"),

    // ---- q228: EXACT budgeted sampling via threshold pre-filter +
    // boundary-slice rank (r14) -------------------------------------------
    // The third member of the q90 family, closing the trade q222
    // opens: q90 is exact-t_n but rank-windows the corpus; q222 is
    // windowless but binomially-approximate. This spelling is BOTH:
    // filter at DOUBLE the target rate (q222's map-side compare, so
    // the slice holds ~2·t_n rows per lang), then rank only the slice
    // and keep t_n. Correctness is a theorem, not luck: md5-hex order
    // equals 28-bit-prefix order across differing prefixes, so every
    // doc outside the slice ranks strictly after every doc inside it —
    // whenever the slice holds ≥ t_n rows, the slice-local top-t_n IS
    // the global top-t_n, and the output equals q90's EXACTLY (gated
    // by q90's oracle VERBATIM, the q216/q220 police-each-other
    // stance). The ≥ t_n precondition is binomial (P(shortfall at 2×
    // rate) < e^{−t_n/4}, Chernoff) and made LOUD, not assumed: a
    // per-lang slice count rides the plan and raise_errors with the
    // lang on shortfall (the q211 discipline) — the recovery is one
    // rerun at 4× rate, never a silent wrong sample.
    "q228_budget_sample_exact_sliced" -> Q(
      fn = (s, d) => {
        val targets = langBudgets(s, d)
        val hx = md5(concat(lit("m:"), col("doc_id").cast("string")))
        val h28 = conv(substring(hx, 1, 7), 16, 10).cast("long")
        // pass 1: q222's map-side filter at 2× the target rate
        val sliced = Tables.documents(s, d).join(broadcast(targets), "lang")
          .filter(h28 * col("cnt") < col("t_n") * lit(536870912L))
          .select(col("doc_id"), col("lang"), hx.as("hx"))
          .localCheckpoint() // one slice feeds the guard AND the rank
        val guarded = sliceShortfallGuard(targets,
          sliced.groupBy(col("lang")).agg(count(lit(1)).as("sn")))
        // pass 2: rank ONLY the O(t_n)-per-lang slice
        sliced.join(broadcast(guarded), "lang")
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("lang"))
              .orderBy(col("hx"), col("doc_id"))))
          .filter(col("rn") <= col("t_n"))
          .select(col("doc_id"), col("lang"))
      },
      sql = Some(BudgetSampleOracleSql),
      scaleNote = "the exactly-t_n sampler that survives 100 TB: pass 1 is q222's map-side hash compare (fuses into the scan, keeps ~2·t_n rows per lang — sample-sized, not corpus-sized), pass 2 ranks the materialized slice whose total is ~2·|budget| rows, so the per-lang window sorts thousands of rows regardless of corpus size; the shortfall guard is a |langs|-row broadcast with an in-plan raise_error — failure mode is a loud rerun at a higher rate, never a silent short sample; gated by q90's oracle verbatim, so 'same sample, corpus-free window' is a theorem the driver re-proves every round"),

    // ---- q94: reproducible shard shuffle -----------------------------
    // Training readers want the corpus in a RANDOM but REPRODUCIBLE
    // order, written as shards (the WebDataset/TFRecord layout). Hash
    // order IS the shuffle: shard = first md5 hex char (16 shards),
    // within-shard order = full md5 rank. No RNG state, stable under
    // retries, and sources/languages interleave automatically because
    // the hash is independent of every payload attribute.
    "q94_shard_shuffle" -> Q(
      fn = (s, d) => {
        val hx = md5(concat(lit("sh:"), col("doc_id").cast("string")))
        Tables.documents(s, d)
          .withColumn("hx", hx)
          .withColumn("shard", substring(col("hx"), 1, 1))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("shard")).orderBy(col("hx"), col("doc_id")))
            .cast("long")) // DuckDB row_number is BIGINT; match it
          .select(col("doc_id"), col("shard"), col("rk"))
      },
      sql = Some("""
        WITH h AS (
          SELECT doc_id, md5('sh:' || CAST(doc_id AS VARCHAR)) AS hx
          FROM documents)
        SELECT doc_id, substr(hx, 1, 1) AS shard,
               row_number() OVER (PARTITION BY substr(hx, 1, 1)
                 ORDER BY hx, doc_id) AS rk
        FROM h"""),
      scaleNote = "one shuffle, partitioned by shard — never a single-partition global sort; at 100 TB widen the shard prefix (2 hex chars = 256 shards) and write with partitionBy(shard) + sortWithinPartitions(hx): each output file is one reproducibly-shuffled training shard"),

    // ---- q107: the composed curation pipeline -----------------------
    // The flagship end-to-end chain a pretraining pipeline actually
    // runs — lang-ID (q33) → quality gate (q34) → PII scrub (q62) →
    // exact keep-first dedup (q25) → shingle-jaccard near-dup pairs
    // (q26) → connected-components keep-one (q61) — as ONE Catalyst
    // DAG: map-side stages fuse into the scan, barriers only where a
    // frame feeds multiple consumers. Every input document gets a
    // verdict row explaining where it left the pipeline (or that it
    // was kept), plus its dup-group when it reached dedup. The oracle
    // replays the identical chain in DuckDB, recursive CTE included.
    "q107_curation_pipeline" -> Q(
      fn = (s, d) => {
        // τ=0.64 sits in a verified gap of the quality distribution at
        // every test SF (nearest doc is >3e-4 away — several scores
        // land EXACTLY on round rationals like 0.65, so the τ must
        // dodge them), and the score itself is bit-identical
        // cross-engine — the gate cannot flip between engines
        val QTau = 0.64
        val JTau = 0.8
        // the corpus has no organic exact dups (texts are unique by
        // construction), so the pipeline re-appends every 25th doc
        // under a max-derived shifted id (q62's inject-then-operate
        // stance, q86's derived-shift idiom) — giving the keep-first
        // stage real work at every scale factor
        val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val shiftF = base.agg((max(col("doc_id")) + 1L).as("__shift"))
        val input = base.union(
          base.filter(col("doc_id") % 25 === 0)
            .crossJoin(broadcast(shiftF))
            .select((col("doc_id") + col("__shift")).as("doc_id"), col("text")))
        // stages 1-3 in one map-side projection, checkpointed once —
        // it feeds the gate, the hash stage and the final assembly
        val scored = TextAnalysis.withStopScores(input)
          .select(col("doc_id"),
            TextAnalysis.predLang.as("pred_lang"),
            TextAnalysis.qualityCol.as("quality"),
            regexp_replace(
              regexp_replace(
                regexp_replace(col("text"), lit(EmailRe), lit("[EMAIL]")),
                lit(PhoneRe), lit("[PHONE]")),
              lit(IpRe), lit("[IP]")).as("clean"))
          .localCheckpoint()
        // stage 4: exact dedup keep-first on the scrubbed content hash
        // (quality branch is safe: qualityCol is bit-identical
        // cross-engine by construction — integer-derived, fixed op
        // order — so the gate cannot flip between engines)
        val gate = scored
          .filter(col("pred_lang") =!= "und" && col("quality") >= QTau)
        val wh = Window.partitionBy(col("h"))
        val hashed = gate.withColumn("h", md5(lower(col("clean"))))
          .withColumn("rn", row_number().over(wh.orderBy(col("doc_id"))))
          .withColumn("keeper", min(col("doc_id")).over(wh))
          .select(col("doc_id"), col("clean"), col("rn"), col("keeper"))
          .localCheckpoint()
        val surv = hashed.filter(col("rn") === 1)
          .select(col("doc_id"), col("clean"))
        // stage 5: near-dup pairs among survivors — q26's inverted
        // index on native 8-byte shingle hashes (strings only in the
        // oracle's mirror)
        val sh = surv.select(col("doc_id"),
            call_function("shingle_hashes", lower(col("clean")), lit(3)).as("sh"))
          .filter(size(col("sh")) > 0)
          .localCheckpoint()
        val sizes = sh.select(col("doc_id"), size(col("sh")).as("sz"))
        val ex = sh.select(col("doc_id"), explode(col("sh")).as("shingle"))
        val pairs = ex.as("a").join(ex.as("b"),
            col("a.shingle") === col("b.shingle") &&
            col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("u"), col("b.doc_id").as("v"))
          .agg(count(lit(1)).as("inter"))
          .join(sizes.select(col("doc_id").as("u"), col("sz").as("sz1")), "u")
          .join(sizes.select(col("doc_id").as("v"), col("sz").as("sz2")), "v")
          .filter(col("inter").cast("double") /
            (col("sz1") + col("sz2") - col("inter")) >= JTau)
          .select(col("u"), col("v"))
        // stage 6: transitive closure → keep-one groups
        val labels = ConnectedComponents.run(pairs)
        val groups = surv.select(col("doc_id"))
          .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("label"), col("doc_id")).as("gid"))
        // verdict assembly: one row per input document
        scored.select(col("doc_id"), col("pred_lang"), col("quality"))
          .join(hashed.select(col("doc_id"), col("rn"), col("keeper")),
            Seq("doc_id"), "left")
          .join(groups, Seq("doc_id"), "left")
          .select(col("doc_id"), col("pred_lang"), col("quality"),
            when(col("pred_lang") === "und", "lang")
              .when(col("quality") < QTau, "quality")
              .when(col("rn") > 1, "exact_dup")
              .when(col("gid") =!= col("doc_id"), "near_dup")
              .otherwise("kept").as("verdict"),
            when(col("pred_lang") === "und" || col("quality") < QTau,
              lit(null).cast("long"))
              .when(col("rn") > 1, col("keeper"))
              .otherwise(col("gid")).as("group_id"))
      },
      sql = Some(s"""
        WITH RECURSIVE
        base AS (SELECT doc_id, text FROM documents),
        inp AS (SELECT doc_id, text FROM base
                UNION ALL
                SELECT doc_id + (SELECT max(doc_id) + 1 FROM base) AS doc_id, text
                FROM base WHERE doc_id % 25 = 0),
        sc AS (SELECT doc_id,
                      ${TextAnalysis.sqlPredLangCase} AS pred_lang,
                      ${TextAnalysis.sqlQualityExpr} AS quality,
                      regexp_replace(regexp_replace(regexp_replace(text,
                        '$EmailRe', '[EMAIL]', 'g'),
                        '$PhoneRe', '[PHONE]', 'g'),
                        '$IpRe', '[IP]', 'g') AS clean
               FROM inp),
        hr AS (SELECT doc_id, clean,
                      row_number() OVER (PARTITION BY md5(lower(clean))
                        ORDER BY doc_id) AS rn,
                      min(doc_id) OVER (PARTITION BY md5(lower(clean))) AS keeper
               FROM sc WHERE pred_lang <> 'und' AND quality >= 0.64),
        surv AS (SELECT doc_id, clean AS text FROM hr WHERE rn = 1),
        s AS (SELECT doc_id, ${Dedup.sqlShingles} AS sh FROM surv),
        pairs AS (SELECT a.doc_id AS u, b.doc_id AS v
                  FROM s a JOIN s b ON a.doc_id < b.doc_id
                  WHERE len(a.sh) > 0 AND len(b.sh) > 0
                    AND len(list_intersect(a.sh, b.sh)) * 1.0 /
                          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8),
        edges AS (SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs),
        reach AS (SELECT doc_id AS node, doc_id AS label FROM surv
                  UNION
                  SELECT e.v AS node, r.label FROM reach r JOIN edges e ON e.u = r.node),
        lab AS (SELECT node AS doc_id, min(label) AS gid FROM reach GROUP BY node)
        SELECT sc.doc_id, sc.pred_lang, sc.quality,
               CASE WHEN sc.pred_lang = 'und' THEN 'lang'
                    WHEN sc.quality < 0.64 THEN 'quality'
                    WHEN hr.rn > 1 THEN 'exact_dup'
                    WHEN lab.gid <> sc.doc_id THEN 'near_dup'
                    ELSE 'kept' END AS verdict,
               CASE WHEN sc.pred_lang = 'und' OR sc.quality < 0.64 THEN NULL
                    WHEN hr.rn > 1 THEN hr.keeper
                    ELSE lab.gid END AS group_id
        FROM sc LEFT JOIN hr USING (doc_id) LEFT JOIN lab USING (doc_id)"""),
      scaleNote = "the whole chain is: one scan with fused map-side scoring/scrubbing, one shuffle on the content hash, one inverted-index self-join on capped-width shingle postings, and O(log n) contraction rounds on the (tiny) near-dup edge list — no stage materializes the corpus more than once, and the expensive dedup stages see only gate survivors (at 100 TB the quality gate typically drops 30-60% before any shuffle)"),

    // ---- q167: distributed stable row-ID assignment ----------------
    // Every training pipeline eventually needs a contiguous global id
    // per example (shard addressing, sample bookkeeping, resumable
    // order). The naive Spark spelling — row_number() OVER (ORDER BY
    // …) with no PARTITION BY — plans a SINGLE-partition Window: the
    // whole corpus serializes through one task, the canonical 100 TB
    // killer. The scalable spelling is range-partition + local sort +
    // zipWithIndex: ids follow the global (source, doc_id) order
    // REGARDLESS of where sampling put the range boundaries, because
    // concatenating ordered range partitions in partition order IS the
    // global order. zipWithIndex labels with two lightweight jobs (a
    // per-partition count, then a map with the prefix offsets) — no
    // extra shuffle, no single-task stage. The RDD hop is the point,
    // not a concession: Dataset has no partition-offset primitive.
    "q167_global_row_ids" -> Q(
      fn = (s, d) =>
        globalSortRank(Tables.documents(s, d).select(col("source"), col("doc_id")),
          Seq("source", "doc_id"), "row_id")
          .select(col("doc_id"), col("source"), col("row_id")),
      sql = Some("""
        SELECT doc_id, source,
               CAST(row_number() OVER (ORDER BY source, doc_id) - 1
                    AS BIGINT) AS row_id
        FROM documents"""),
      scaleNote = "ONE range exchange + per-partition sort, then zipWithIndex's two light jobs (count partials, offset-labeled map) — vs the single-partition Window the OVER (ORDER BY) spelling plans, which funnels the full corpus through one task; ids equal the global sort rank independent of the sampled range boundaries, so the assignment is deterministic and re-runnable"),

    // ---- q169: k-anonymity / l-diversity privacy audit -------------
    // The privacy gate that complements q62's PII scrub: regex removal
    // handles DIRECT identifiers, but a release is still re-linkable
    // when a combination of quasi-identifiers (nation × market segment
    // × account-balance band) isolates fewer than k people (Sweeney's
    // k-anonymity), or when everyone in a group shares the same
    // sensitive value (l-diversity, Machanavajjhala et al.). One pass
    // computes both per equivalence class: k = distinct customers,
    // l = distinct sensitive values (order priority of their orders).
    "q169_k_anonymity" -> Q(
      fn = (s, d) => {
        val K = 5L
        val L = 2L
        val cust = Tables.load(s, d, "customer")
          .select(col("c_custkey"),
            col("c_nationkey").cast("long").as("nationkey"),
            col("c_mktsegment").as("segment"),
            // band boundaries must be integer-exact in both engines:
            // acctbal is 2-decimal, so integer cents; `div` truncates
            // toward zero exactly like DuckDB's BIGINT `//` (acctbal
            // can be negative — floor() would band -0.01 as -1, not 0)
            expr("CAST(round(c_acctbal * 100) AS BIGINT) div 100000L")
              .as("bal_band"))
        val sens = Tables.load(s, d, "orders")
          .select(col("o_custkey").as("c_custkey"), col("o_orderpriority"))
        cust.join(sens, Seq("c_custkey"))
          .groupBy(col("nationkey"), col("segment"), col("bal_band"))
          .agg(count_distinct(col("c_custkey")).as("k_size"),
            count_distinct(col("o_orderpriority")).as("l_div"))
          .select(col("nationkey"), col("segment"), col("bal_band"),
            col("k_size"), col("l_div"),
            (col("k_size") < K).cast("long").as("k_violation"),
            (col("l_div") < L).cast("long").as("l_violation"))
      },
      sql = Some("""
        WITH cust AS (
          SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nationkey,
                 c_mktsegment AS segment,
                 CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS bal_band
          FROM customer),
        j AS (SELECT cust.*, o.o_orderpriority
              FROM cust JOIN orders o ON o.o_custkey = cust.c_custkey)
        SELECT nationkey, segment, bal_band,
               count(DISTINCT c_custkey) AS k_size,
               count(DISTINCT o_orderpriority) AS l_div,
               CAST(count(DISTINCT c_custkey) < 5 AS BIGINT) AS k_violation,
               CAST(count(DISTINCT o_orderpriority) < 2 AS BIGINT) AS l_violation
        FROM j GROUP BY 1, 2, 3"""),
      scaleNote = "one equi-join shuffle on custkey (the fact side carries only two skinny columns) into one grouped distinct-count — both distincts share the same grouping shuffle via Spark's expand; the equivalence-class frame is bounded by |QI value combinations|, orders of magnitude below the row count, so the audit output broadcasts to whoever enforces the gate"),

    // ---- q174: bigram LM with Stupid Backoff (held-out scoring) ----
    // q110's unigram scorer upgraded one order: per-token score is the
    // bigram conditional B(w1 w2)/U(w1) when the TRAIN half (even
    // doc_ids) saw the bigram, else Stupid Backoff (Brants et al.
    // 2007, "Large Language Models in Machine Translation") to
    // alpha = 0.4 times the Laplace-smoothed train unigram — the
    // no-normalization backoff that made web-scale LMs tractable,
    // which is exactly the 100 TB regime this engine targets. The
    // model trains on HALF the corpus and scores ALL of it, so the
    // backoff path is genuinely exercised (a model trained on its own
    // scoring set never backs off — every observed bigram is in it);
    // the per-doc backoff rate emits as an exact integer ppm beside
    // the q110-class rounded ln-sum score.
    "q174_backoff_lm" -> Q(
      fn = (s, d) => {
        val base = Tables.documents(s, d)
          .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
          .localCheckpoint() // one tokenize feeds bigrams AND the model
        val bi = base.filter(size(col("ws")) >= 2)
          .select(col("doc_id"),
            explode(transform(sequence(lit(1), size(col("ws")) - 1),
              i => struct(element_at(col("ws"), i).as("w1"),
                element_at(col("ws"), i + 1).as("w2")))).as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        val docBi = bi.groupBy(col("doc_id"), col("w1"), col("w2"))
          .agg(count(lit(1)).as("k"))
        val uni = base.filter(pmod(col("doc_id"), lit(2)) === 0)
          .select(explode(col("ws")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("u"))
        val stats = uni.agg(sum(col("u")).as("n"), count(lit(1)).as("v"))
        val bim = bi.filter(pmod(col("doc_id"), lit(2)) === 0)
          .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("bcnt"))
        docBi
          .join(bim, Seq("w1", "w2"), "left")
          .join(uni.select(col("w").as("w1"), col("u").as("u1")),
            Seq("w1"), "left")
          .join(uni.select(col("w").as("w2"), col("u").as("u2")),
            Seq("w2"), "left")
          .crossJoin(broadcast(stats))
          .withColumn("s",
            when(col("bcnt").isNotNull,
              col("bcnt").cast("double") / col("u1").cast("double"))
              .otherwise(lit(0.4) *
                ((coalesce(col("u2"), lit(0L)) + 1).cast("double") /
                  (col("n") + col("v")).cast("double"))))
          .withColumn("bk",
            when(col("bcnt").isNull, col("k")).otherwise(lit(0L)))
          .groupBy(col("doc_id"))
          .agg(sum(col("k")).as("n_bigrams"),
            expr("sum(bk) * CAST(1000000 AS BIGINT) DIV sum(k)")
              .as("backoff_ppm"),
            round(-sum(col("k").cast("double") * log(col("s"))) /
              sum(col("k")).cast("double"), 6).as("avg_nls"))
      },
      sql = Some("""
        WITH base AS (
          SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        db AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
               FROM base, unnest(generate_series(1, len(ws) - 1)) t(i)
               WHERE len(ws) >= 2),
        docbi AS MATERIALIZED (
          SELECT doc_id, w1, w2, count(*) AS k FROM db GROUP BY 1, 2, 3),
        uni AS MATERIALIZED (
          SELECT w, count(*) AS u
          FROM (SELECT unnest(ws) AS w FROM base WHERE doc_id % 2 = 0)
          GROUP BY 1),
        st AS (SELECT CAST(sum(u) AS BIGINT) AS n, count(*) AS v FROM uni),
        bim AS MATERIALIZED (
          SELECT w1, w2, count(*) AS bcnt FROM db
          WHERE doc_id % 2 = 0 GROUP BY 1, 2),
        sc AS (SELECT d.doc_id, d.k,
                      CASE WHEN b.bcnt IS NOT NULL
                           THEN CAST(b.bcnt AS DOUBLE) / CAST(u1.u AS DOUBLE)
                           ELSE CAST(0.4 AS DOUBLE) *
                                (CAST(coalesce(u2.u, 0) + 1 AS DOUBLE) /
                                 CAST(st.n + st.v AS DOUBLE))
                      END AS s,
                      CASE WHEN b.bcnt IS NULL THEN d.k ELSE 0 END AS bk
               FROM docbi d
               LEFT JOIN bim b ON b.w1 = d.w1 AND b.w2 = d.w2
               LEFT JOIN uni u1 ON u1.w = d.w1
               LEFT JOIN uni u2 ON u2.w = d.w2
               CROSS JOIN st)
        SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
               CAST(sum(bk) AS BIGINT) * 1000000 // CAST(sum(k) AS BIGINT)
                 AS backoff_ppm,
               round(-sum(CAST(k AS DOUBLE) * ln(s)) /
                 CAST(sum(k) AS DOUBLE), 6) AS avg_nls
        FROM sc GROUP BY 1"""),
      scaleNote = "the corpus collapses map-side to (doc, w1, w2, k) before ONE bigram-keyed shuffle; the model frames are vocabulary-sized (bigram TYPES, not tokens) and join by key — at 100 TB the bigram model is too big to broadcast and that is fine, the score join shuffles both sides on (w1, w2) once (Brants' point: no normalization pass, so training IS counting); the 1-row stats frame broadcasts; per-doc fold is the q110 shape and fuses with it"),

    // ---- q177: deterministic shared-pool negative sampling ---------
    // Contrastive training (retrieval bi-encoders, word2vec-style
    // objectives, reranker distillation) needs k negatives per anchor
    // drawn from the whole corpus. The naive per-anchor random draw
    // is irreproducible AND quadratic to audit; the scalable spelling
    // is the shared-pool discipline: the corpus is ranked ONCE into a
    // hash-shuffled pool (md5 order — reproducible "randomness", the
    // q60/q146 salt-keyed stance), each anchor takes its k slots by
    // modular position, and sampling becomes ONE equi-join on the
    // position. Collisions (drew itself / drew its own source) are
    // FLAGGED, not resampled — resampling loops are nondeterministic
    // under retries; downstream drops flagged rows, and the expected
    // flag rate (k/N + ~1/|sources|) is the price of in-batch
    // negatives the literature already accepts. Both global ranks
    // come from q167's range-sort + zipWithIndex — no
    // single-partition window anywhere.
    "q177_negative_sampling" -> Q(
      fn = (s, d) => {
        val K = 3
        val ds = Tables.documents(s, d).select(col("doc_id"), col("source"))
        val pool = globalSortRank(
          ds.select(col("doc_id").as("neg_id"),
            col("source").as("neg_source"),
            md5(concat(lit("pool:"), col("neg_id").cast("string"))).as("h")),
          Seq("h", "neg_id"), "pos")
          .select(col("neg_id"), col("neg_source"), col("pos"))
        val anchors = globalSortRank(
          ds.filter(pmod(col("doc_id"), lit(10)) === 0)
            .select(col("doc_id").as("anchor_id"),
              col("source").as("anchor_source")),
          Seq("anchor_id"), "a_idx")
        val n = ds.agg(count(lit(1)).as("n"))
        anchors
          .select(col("anchor_id"), col("anchor_source"), col("a_idx"),
            explode(array((0 until K).map(j => lit(j.toLong)): _*)).as("slot"))
          .crossJoin(broadcast(n))
          .withColumn("pos", pmod(col("a_idx") * K + col("slot"), col("n")))
          .join(pool, "pos")
          .select(col("anchor_id"), col("anchor_source"), col("slot"),
            col("neg_id"), col("neg_source"),
            (col("neg_id") === col("anchor_id")).cast("long")
              .as("self_collision"),
            (col("neg_source") === col("anchor_source")).cast("long")
              .as("source_collision"))
      },
      sql = Some("""
        WITH pool AS (
          SELECT doc_id AS neg_id, source AS neg_source,
                 md5('pool:' || CAST(doc_id AS VARCHAR)) AS h
          FROM documents),
        pp AS (SELECT neg_id, neg_source,
                      CAST(row_number() OVER (ORDER BY h, neg_id) - 1
                           AS BIGINT) AS pos
               FROM pool),
        nn AS (SELECT count(*) AS n FROM documents),
        ai AS (SELECT doc_id AS anchor_id, source AS anchor_source,
                      CAST(row_number() OVER (ORDER BY doc_id) - 1
                           AS BIGINT) AS a_idx
               FROM documents WHERE doc_id % 10 = 0),
        pr AS (SELECT anchor_id, anchor_source,
                      CAST(s.slot AS BIGINT) AS slot,
                      (a_idx * 3 + s.slot) % nn.n AS pos
               FROM ai, (SELECT unnest([0, 1, 2]) AS slot) s, nn)
        SELECT anchor_id, anchor_source, slot, neg_id, neg_source,
               CAST(neg_id = anchor_id AS BIGINT) AS self_collision,
               CAST(neg_source = anchor_source AS BIGINT) AS source_collision
        FROM pr JOIN pp USING (pos)"""),
      scaleNote = "both global ranks are q167's plan (range exchange + zipWithIndex — the oracle's OVER (ORDER BY) is the test-scale mirror, not the engine plan); sampling is one (pos) equi-join between the probe frame (k rows per anchor) and the pool — adding anchors or raising k fans out probes, never re-ranks the pool, and the pool rank is a PERSISTABLE artifact reused across epochs by bumping the salt"),

    // ---- q178: quality-stratified round-robin sharding -------------
    // q94 shuffles docs into shards by hash — uniform, but blind to
    // quality and source. Training shards should each see the SAME
    // quality distribution and source mix (a shard of all-easy or
    // all-one-source batches skews gradient noise); the standard fix
    // is stratified round-robin: rank each source's docs by a quality
    // score, deal rank r to shard (r-1) mod S like cards. Every shard
    // then holds an even slice of every source's quality ladder —
    // counts per (source, shard) differ by at most one, and quality
    // strata interleave exactly. The score is an exact-integer
    // lexical-diversity ppm (n_distinct/n_words), so the rank order
    // — and therefore the whole deal — has no float boundary.
    "q178_stratified_shards" -> Q(
      fn = (s, d) => {
        val S = 8
        val base = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            split(lower(col("text")), " ").as("ws"))
          .select(col("doc_id"), col("source"),
            size(col("ws")).cast("long").as("n_words"),
            size(array_distinct(col("ws"))).cast("long").as("n_distinct"))
          .withColumn("score_ppm",
            expr("n_distinct * CAST(1000000 AS BIGINT) DIV n_words"))
        base.withColumn("rank_in_source", row_number().over(
            Window.partitionBy(col("source"))
              .orderBy(col("score_ppm").desc, col("doc_id"))).cast("long"))
          .select(col("doc_id"), col("source"), col("score_ppm"),
            col("rank_in_source"),
            pmod(col("rank_in_source") - 1, lit(S.toLong)).as("shard"))
      },
      sql = Some("""
        WITH base AS (
          SELECT doc_id, source,
                 CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
                 CAST(len(list_distinct(string_split(lower(text), ' ')))
                      AS BIGINT) AS n_distinct
          FROM documents),
        sc AS (SELECT doc_id, source,
                      n_distinct * 1000000 // n_words AS score_ppm
               FROM base),
        rk AS (SELECT doc_id, source, score_ppm,
                      CAST(row_number() OVER (PARTITION BY source
                        ORDER BY score_ppm DESC, doc_id) AS BIGINT)
                        AS rank_in_source
               FROM sc)
        SELECT doc_id, source, score_ppm, rank_in_source,
               (rank_in_source - 1) % 8 AS shard
        FROM rk"""),
      scaleNote = "one map pass computes the integer score; the only shuffle is the per-source rank window (WindowGroupLimit-free — every row is kept — but partitioned by source, never global); the deal is a map-side mod of the rank, so shard assignment is a pure function of (source, rank) — re-runnable, auditable, and extendable to new corpus increments by ranking only the increment against its source's running count"),

    // ---- q110: unigram LM scoring (perplexity-proxy filter) --------
    // CCNet-style quality signal: fit a unigram language model on the
    // corpus, then score every doc by its average negative
    // log-likelihood per token. Low avg_nll ≈ common/predictable text,
    // high ≈ rare or garbled — the axis a perplexity filter cuts on.
    // (The published recipe uses a KenLM 5-gram; the unigram model is
    // the same fit → broadcast → score plan with the model one
    // aggregation away.) The score is a sum of ~1-ulp-accurate ln()
    // terms, far inside the gate's 6-sig-fig float canonicalization —
    // unlike a RANKED top-K (q65/q108's exact-rational stance), a
    // per-doc score column has no boundary to flip.
    "q110_unigram_logprob" -> Q(
      fn = (s, d) => unigramNll(s, d, nonEmptyOnly = false),
      sql = Some(s"""
        WITH ${nllSqlCtes(nonEmptyOnly = false)}
        SELECT doc_id, n_tokens, avg_nll FROM nll"""),
      scaleNote = "model fit is one (term) shuffle with map-side partial agg over the already-collapsed (doc_id, term) frame; vocab ≪ corpus so the model broadcasts back and scoring adds one (doc_id) shuffle — at 100 TB hash terms to 8 bytes (q26's stance) and swap the broadcast for a shuffle join only if the vocabulary outgrows executor memory")
  )
}
