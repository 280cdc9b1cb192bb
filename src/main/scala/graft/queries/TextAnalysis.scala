package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Text-analysis operators for training-data curation — language ID,
  * quality scoring, token counting, document fingerprinting
  * (BASELINE.json mandate; the reference has none of these).
  *
  * Everything here is a per-row codegen'd expression — zero shuffles
  * except the final aggregations — so cost at 100 TB is exactly one
  * scan of `documents`.
  */
object TextAnalysis extends Catalog {

  private val words: Column = split(lower(col("text")), " ")

  /** q157's per-doc novelty of `docs`: (doc_id, n_grams, n_novel,
    * novelty_ppm), where a distinct gram of `pos` is novel in the doc
    * whose id is its first occurrence in `firsts` (g, fd). Also the
    * emitter of IncrementalDedup's novelty service.
    */
  private[graft] def gramNovelty(
      docs: DataFrame, pos: DataFrame, firsts: DataFrame): DataFrame = {
    // q117's build-side stance: the aggregated first-occurrence
    // index is the build side, never the corpus-sized gram frame
    val per = pos.join(firsts.hint("shuffle_hash"), "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("np"),
        sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L)).as("nn"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("np"), lit(0L)).as("n_grams"),
        coalesce(col("nn"), lit(0L)).as("n_novel"),
        when(col("np") > 0,
          expr("nn * CAST(1000000 AS BIGINT) DIV np"))
          .as("novelty_ppm"))
  }

  /** tiny per-language stopword lists (shared with the oracle SQL) */
  private val stop: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un"),
    "es" -> Seq("el", "la", "los", "y", "es", "un"))

  private def stopCount(lang: String): Column =
    size(filter(words, w => w.isin(stop(lang): _*))).cast("double")

  private def sqlStopCount(lang: String): String = {
    val list = stop(lang).map(s => s"'$s'").mkString(", ")
    s"len(list_filter(string_split(lower(text),' '), w -> w IN ($list))) * 1.0"
  }

  // ---- shared lang-ID / quality expressions (q33, q34, and the
  // ---- composed curation pipeline q107 — ONE definition each) -------

  /** materialize the four stopword scores as columns first: the filter
    * HOF is lambda-bearing, so Catalyst CSE would otherwise re-run it
    * per consumer inside the argmax when-chain
    */
  private[queries] def withStopScores(df: DataFrame): DataFrame =
    df.withColumn("s_en", stopCount("en"))
      .withColumn("s_de", stopCount("de"))
      .withColumn("s_fr", stopCount("fr"))
      .withColumn("s_es", stopCount("es"))

  /** argmax with fixed priority tie-break (en > de > fr > es), 'und'
    * (unknown) when no stopwords hit at all — over withStopScores cols
    */
  private[queries] val predLang: Column =
    when(col("s_en") + col("s_de") + col("s_fr") + col("s_es") === 0.0, "und")
      .when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr") &&
        col("s_en") >= col("s_es"), "en")
      .when(col("s_de") >= col("s_fr") && col("s_de") >= col("s_es"), "de")
      .when(col("s_fr") >= col("s_es"), "fr")
      .otherwise("es")

  /** q34's curation score: alphabetic, not-too-short, some stopword
    * glue. Every term derives from integer counts through a fixed op
    * order, so the value is bit-identical cross-engine — safe to
    * BRANCH on (the pipeline's quality gate), not just to emit.
    */
  private[queries] val qualityCol: Column = {
    val nTokens = size(words).cast("double")
    val stopRatio = stopCount("en") / nTokens
    val alphaRatio =
      size(filter(words, w => w.rlike("^[a-z]+$"))).cast("double") / nTokens
    alphaRatio * 0.5 +
      least(nTokens / 100.0, lit(1.0)) * 0.3 +
      least(stopRatio * 5.0, lit(1.0)) * 0.2
  }

  private[queries] def sqlPredLangCase: String = s"""CASE
    WHEN ${sqlStopCount("en")} + ${sqlStopCount("de")} +
         ${sqlStopCount("fr")} + ${sqlStopCount("es")} = 0 THEN 'und'
    WHEN ${sqlStopCount("en")} >= ${sqlStopCount("de")} AND
         ${sqlStopCount("en")} >= ${sqlStopCount("fr")} AND
         ${sqlStopCount("en")} >= ${sqlStopCount("es")} THEN 'en'
    WHEN ${sqlStopCount("de")} >= ${sqlStopCount("fr")} AND
         ${sqlStopCount("de")} >= ${sqlStopCount("es")} THEN 'de'
    WHEN ${sqlStopCount("fr")} >= ${sqlStopCount("es")} THEN 'fr'
    ELSE 'es' END"""

  private[queries] def sqlQualityExpr: String =
    s"""(len(list_filter(string_split(lower(text),' '), w -> regexp_full_match(w, '[a-z]+'))) * 1.0
          / len(string_split(lower(text),' '))) * 0.5 +
       least(len(string_split(lower(text),' ')) / 100.0, 1.0) * 0.3 +
       least((${sqlStopCount("en")} / len(string_split(lower(text),' '))) * 5.0, 1.0) * 0.2"""

  // ---- BPE: learn merges relationally, encode via broadcast dict ----
  // The piece q111 (pair counts = one trainer round) points at: the
  // FULL trainer loop plus corpus encoding, built so every step is
  // mirrorable SQL. Key scale insight: after the first (word, freq)
  // aggregation the whole learn loop runs on the VOCABULARY-sized
  // frame (|vocab| × word-length rows — independent of corpus size),
  // and the corpus-side encode is one broadcast dictionary join. The
  // greedy left-to-right merge application is pure relational algebra:
  // candidate positions → consecutive runs (pos - row_number) → keep
  // odd ranks within each run (non-overlap) → rebuild and reindex.
  private val BpeRounds = 6

  private def bpeVocab(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(words).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** initial (word, freq, pos, tok) frame: one character per token */
  private def bpeEnc0(vocab: DataFrame): DataFrame =
    vocab.select(col("word"), col("freq"),
      posexplode(transform(sequence(lit(0), length(col("word")) - 1),
        i => col("word").substr(i + 1, lit(1)))).as(Seq("pos", "tok")))

  /** one trainer round: (merges row with the chosen pair, new encoding) */
  private def bpeRound(enc: DataFrame, round: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("word")).orderBy(col("pos"))
    val p = enc
      .withColumn("nxt", lead(col("tok"), 1).over(wOrd))
      .localCheckpoint() // shared by best-pair agg, candidates, rebuild
    val best = p.filter(col("nxt").isNotNull)
      .groupBy(col("tok").as("a"), col("nxt").as("b"))
      .agg(sum(col("freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("a"), col("b"))
      .limit(1)
      .localCheckpoint() // 1 row; feeds the candidate join AND the output
    val cand = p.join(broadcast(best),
        col("tok") === col("a") && col("nxt") === col("b"))
      .select(col("word"), col("pos"))
    // greedy non-overlap: candidates at consecutive positions form a
    // run (they share a token); keep the 1st, 3rd, ... of each run —
    // exactly left-to-right greedy BPE
    val runs = cand.withColumn("grp",
        col("pos") - row_number().over(wOrd))
      .withColumn("rr", row_number().over(
        Window.partitionBy(col("word"), col("grp")).orderBy(col("pos"))))
      .filter(col("rr") % 2 === 1)
      .select(col("word"), col("pos"))
      .localCheckpoint() // joined twice below
    val keptM = runs.select(col("word").as("kw"), col("pos").as("kp"))
    val dropped = runs.select(col("word").as("dw"), (col("pos") + 1).as("dp"))
    val newEnc = p
      .join(dropped, col("word") === col("dw") && col("pos") === col("dp"),
        "left_anti")
      .join(keptM, col("word") === col("kw") && col("pos") === col("kp"),
        "left")
      .select(col("word"), col("freq"), col("pos").as("opos"),
        when(col("kp").isNotNull, concat(col("tok"), col("nxt")))
          .otherwise(col("tok")).as("tok"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("word")).orderBy(col("opos"))) - 1)
      .drop("opos")
      .localCheckpoint() // truncate the per-round lineage (q61/q113 stance)
    val merge = best.select(lit(round.toLong).as("round"),
      col("a"), col("b"), col("cnt"))
    (merge, newEnc)
  }

  /** run the full loop; returns (all merges unioned, final encoding) */
  private def bpeLearn(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    var enc = bpeEnc0(bpeVocab(s, d)).localCheckpoint()
    val merges = (1 to BpeRounds).map { r =>
      val (m, e) = bpeRound(enc, r)
      enc = e
      m
    }
    (merges.reduce(_.unionByName(_)), enc)
  }

  /** Train ONCE per (session, corpus generation), serve q134/q135/q136
    * from the checkpointed frames — the real pipeline's shape (the
    * dictionary is a training artifact consumed by many downstream
    * jobs, not something each query refits). The key fingerprints the
    * documents file (size + mtime) because the driver regenerates the
    * corpus in place between rounds; concurrent Verify threads
    * serialize on computeIfAbsent so the trainer runs exactly once.
    */
  // One live entry per (session, dir): a regeneration evicts the
  // previous generation's checkpointed frames instead of pinning one
  // orphaned trainer result per generation in the block manager
  // forever. Guarded by a plain lock — the trainer is the expensive
  // part, and eviction must be atomic with insertion.
  private val bpeCache = scala.collection.mutable.Map[
    (SparkSession, String), (String, (DataFrame, DataFrame))]()

  // An evicted generation is NOT unpersisted immediately: localCheckpoint
  // truncates lineage, so dropping its blocks under a straggler query
  // still executing against the old frames would be unrecoverable (no
  // recompute path). The stale pair parks on a one-deep PER-KEY grace
  // slot and is freed only on that key's NEXT eviction — by then two
  // regenerations of that corpus have passed, and regeneration happens
  // between rounds, so no in-flight reader can still hold the
  // twice-stale generation. Per-key, not a shared queue: interleaved
  // regenerations of two different corpora must not count against each
  // other's grace period.
  private val bpeGrace = scala.collection.mutable.Map[
    (SparkSession, String), (DataFrame, DataFrame)]()

  private def bpeLearnCached(s: SparkSession, d: String): (DataFrame, DataFrame) =
    bpeCache.synchronized {
      val p = java.nio.file.Paths.get(d, "documents.parquet")
      val gen = if (java.nio.file.Files.exists(p))
        s"${java.nio.file.Files.size(p)}:" +
          s"${java.nio.file.Files.getLastModifiedTime(p).toMillis}"
      else "absent"
      bpeCache.get((s, d)) match {
        case Some((`gen`, frames)) => frames
        case stale =>
          stale.foreach { case (_, frames) =>
            bpeGrace.put((s, d), frames).foreach { case (gm, ge) =>
              gm.unpersist(); ge.unpersist()
            }
          }
          val (m, e) = bpeLearn(s, d)
          val frames = (m.localCheckpoint(), e) // enc checkpointed per round
          bpeCache.put((s, d), (gen, frames))
          frames
      }
    }

  /** the DuckDB mirror: the identical rounds unrolled as CTE chains —
    * same tie orders ((cnt DESC, a, b) for the argmax; pos for runs),
    * same run/parity arithmetic, all-integer so hash-exact. Every CTE
    * is AS MATERIALIZED: the chain references each round's frames 2-3
    * times, and inlining would re-evaluate the whole prefix per
    * reference — exponential across rounds (the SQL analogue of the
    * engine's per-round localCheckpoint).
    */
  private def bpeSqlCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append("""
      WITH v AS MATERIALIZED (SELECT w AS word, count(*) AS freq FROM (
                   SELECT unnest(string_split(lower(text), ' ')) AS w
                   FROM documents WHERE len(text) > 0)
                 WHERE len(w) > 0 GROUP BY w),
      enc0 AS MATERIALIZED (SELECT word, freq, pos,
                      substr(word, CAST(pos + 1 AS INT), 1) AS tok FROM (
                 SELECT word, freq,
                        unnest(generate_series(0, len(word) - 1)) AS pos
                 FROM v))""")
    for (r <- 1 to rounds) {
      val prev = s"enc${r - 1}"
      sb.append(s""",
      p$r AS MATERIALIZED (SELECT word, freq, pos, tok,
                     lead(tok) OVER (PARTITION BY word ORDER BY pos) AS nxt
              FROM $prev),
      b$r AS MATERIALIZED (SELECT tok AS a, nxt AS b, c FROM (
                SELECT tok, nxt, sum(freq) AS c FROM p$r
                WHERE nxt IS NOT NULL GROUP BY tok, nxt)
              ORDER BY c DESC, tok, nxt LIMIT 1),
      c$r AS MATERIALIZED (SELECT p.word, p.pos FROM p$r p JOIN b$r b
              ON p.tok = b.a AND p.nxt = b.b),
      k$r AS MATERIALIZED (SELECT word, pos FROM (
                SELECT word, pos, row_number() OVER
                    (PARTITION BY word, grp ORDER BY pos) AS rr
                FROM (SELECT word, pos,
                             pos - row_number() OVER
                               (PARTITION BY word ORDER BY pos) AS grp
                      FROM c$r))
              WHERE rr % 2 = 1),
      enc$r AS MATERIALIZED (SELECT word, freq,
                       row_number() OVER (PARTITION BY word ORDER BY opos) - 1 AS pos,
                       tok FROM (
                  SELECT p.word, p.freq, p.pos AS opos,
                         CASE WHEN k.pos IS NOT NULL THEN p.tok || p.nxt
                              ELSE p.tok END AS tok
                  FROM p$r p
                  LEFT JOIN k$r k ON k.word = p.word AND k.pos = p.pos
                  WHERE NOT EXISTS (SELECT 1 FROM k$r d
                                    WHERE d.word = p.word AND d.pos = p.pos - 1)))""")
    }
    sb.toString
  }

  /** q137's BM25 (k1 = 1.2, b = 0.75) over the fixed three-term query
    * (table, hash, merge), shared with q173's lexical leg: per-doc tf
    * map-side by a filter HOF, one broadcast stats row (N, Σdl, per-term
    * df), and the score rounded to 6 places in the column named by
    * `score` — unsorted, every doc with at least one term.
    */
  private def bm25Scores(s: SparkSession, d: String, score: String): DataFrame = {
    val terms = Seq("table", "hash", "merge")
    val base = Tables.documents(s, d).select(
      col("doc_id") +: size(words).cast("long").as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(words, w => w === lit(t))).cast("long").as(s"tf$i")
        }: _*)
    val stats = base.agg(
      count(lit(1)).as("n"),
      sum(col("dl")).as("sdl") +:
        terms.indices.map(i =>
          sum((col(s"tf$i") > 0).cast("long")).as(s"df$i")): _*)
    def partScore(i: Int) = {
      val tf = col(s"tf$i"); val df = col(s"df$i")
      log(lit(1.0) + (col("n") - df + lit(0.5)) / (df + lit(0.5))) *
        ((tf * lit(2.2)) /
          (tf + lit(1.2) * (lit(0.25) +
            lit(0.75) * (col("dl") / (col("sdl") / col("n"))))))
    }
    base.crossJoin(broadcast(stats))
      .filter(col("tf0") + col("tf1") + col("tf2") > 0)
      .select(col("doc_id"),
        round(partScore(0) + partScore(1) + partScore(2), 6).as(score))
  }

  /** bm25Scores' DuckDB mirror: the base/stats/sc CTEs, the score
    * column named by `score`; the caller appends its CTEs and SELECT.
    */
  private def bm25Sql(score: String): String = s"""
        WITH base AS (
          SELECT doc_id,
                 CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS dl,
                 CAST(len(list_filter(string_split(lower(text), ' '),
                                      w -> w = 'table')) AS BIGINT) AS tf0,
                 CAST(len(list_filter(string_split(lower(text), ' '),
                                      w -> w = 'hash')) AS BIGINT) AS tf1,
                 CAST(len(list_filter(string_split(lower(text), ' '),
                                      w -> w = 'merge')) AS BIGINT) AS tf2
          FROM documents),
        stats AS (
          SELECT count(*) AS n, sum(dl) AS sdl,
                 sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
                 sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
                 sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
          FROM base),
        sc AS (
          SELECT doc_id, round(
              ln(1.0 + CAST(n - df0 + 0.5 AS DOUBLE) / CAST(df0 + 0.5 AS DOUBLE)) *
                ((tf0 * CAST(2.2 AS DOUBLE)) /
                 (tf0 + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) +
                   CAST(0.75 AS DOUBLE) * (dl / (sdl / n)))))
            + ln(1.0 + CAST(n - df1 + 0.5 AS DOUBLE) / CAST(df1 + 0.5 AS DOUBLE)) *
                ((tf1 * CAST(2.2 AS DOUBLE)) /
                 (tf1 + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) +
                   CAST(0.75 AS DOUBLE) * (dl / (sdl / n)))))
            + ln(1.0 + CAST(n - df2 + 0.5 AS DOUBLE) / CAST(df2 + 0.5 AS DOUBLE)) *
                ((tf2 * CAST(2.2 AS DOUBLE)) /
                 (tf2 + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) +
                   CAST(0.75 AS DOUBLE) * (dl / (sdl / n))))), 6) AS $score
          FROM base CROSS JOIN stats
          WHERE tf0 + tf1 + tf2 > 0),"""

  override def queries: Map[String, Q] = Map(

    // ----- BM25 scored retrieval (lexical top-k search) -------------
    // The retrieval modality the embedding-ANN family (q30/q31/q51)
    // doesn't cover: exact lexical top-k by Okapi BM25 (k1 = 1.2,
    // b = 0.75) for a fixed multi-term query. Per-term tf is computed
    // MAP-SIDE with a filter HOF — no posting explode, no shuffle on
    // the corpus at all; the stats the score needs (N, Σdl, per-term
    // df) are ONE aggregate row broadcast back; the ranking is a
    // global top-k (TakeOrdered — never a full sort). The idf is the
    // Lucene/ATIRE form ln(1 + (N - df + 0.5)/(df + 0.5)) — the log
    // CANNOT be dropped for a multi-term query (monotonicity does not
    // commute with the sum over terms), and the +1 keeps idf positive
    // for df > N/2. Arithmetic follows q79's mirror stance (identical
    // parsed doubles, identical op order; the oracle casts every
    // non-exact literal to DOUBLE so DuckDB can't route through
    // DECIMAL), with ln() the one ~1-ulp op — absorbed by round(,6)
    // on the emitted score (the q110 ln discipline); the order-by
    // uses the SAME rounded value on both sides so the cut is
    // well-defined.
    "q137_bm25_topk" -> Q(
      fn = (s, d) => {
        bm25Scores(s, d, "score")
          .orderBy(col("score").desc, col("doc_id"))
          .limit(20)
          .withColumn("rank", row_number()
            .over(Window.orderBy(col("score").desc, col("doc_id"))).cast("int"))
      },
      sql = Some(bm25Sql("score") + """
        top AS (SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 20)
        SELECT doc_id, score,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
        FROM top"""),
      scaleNote = "tf via per-row HOF means the 100 TB corpus is ONE map pass + one broadcast stats row; top-k runs as TakeOrdered (per-partition heaps, k rows to the driver) — no global sort, no posting-list shuffle; for ad-hoc multi-query serving, flip to the q112 posting-index form (explode once, (term) equi-join per query) and reuse the same score expression"),

    // ----- BPE trainer: the learned merge table ---------------------
    "q134_bpe_learn_merges" -> Q(
      fn = (s, d) => bpeLearnCached(s, d)._1,
      sql = Some(bpeSqlCtes(BpeRounds) + "\n" +
        (1 to BpeRounds).map(r =>
          s"SELECT CAST($r AS BIGINT) AS round, a, b, CAST(c AS BIGINT) AS cnt FROM b$r")
          .mkString(" UNION ALL ")),
      scaleNote = "after ONE corpus shuffle to (word, freq), every round runs on the vocab-sized frame — |vocab|×word-length rows whatever the corpus size; per round: one partial-agg groupBy, one broadcast 1-row join, three windows, all partitioned by word"),

    // ----- BPE vocabulary encodings ---------------------------------
    "q135_bpe_vocab_encode" -> Q(
      fn = (s, d) => {
        val (_, enc) = bpeLearnCached(s, d)
        enc.groupBy(col("word"), col("freq"))
          .agg(count(lit(1)).as("n_tokens"),
            array_join(transform(
              array_sort(collect_list(struct(col("pos"), col("tok")))),
              f => f.getField("tok")), " ").as("enc"))
      },
      sql = Some(bpeSqlCtes(BpeRounds) + s"""
        SELECT word, freq, count(*) AS n_tokens,
               string_agg(tok, ' ' ORDER BY pos) AS enc
        FROM enc$BpeRounds GROUP BY word, freq"""),
      scaleNote = "output is the dictionary itself (|vocab| rows) — this is the broadcast side of the corpus encode; the ordered string_agg runs per word over ≤ word-length tokens"),

    // ----- BPE corpus encode: token counts via broadcast dictionary -
    "q136_bpe_corpus_tokens" -> Q(
      fn = (s, d) => {
        val (_, enc) = bpeLearnCached(s, d)
        val dict = enc.groupBy(col("word"))
          .agg(count(lit(1)).as("n_tokens"))
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), explode(words).as("word"))
          .filter(length(col("word")) > 0)
          .join(broadcast(dict), "word")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("words"),
            sum(col("n_tokens")).as("bpe_tokens"),
            countDistinct(col("doc_id")).as("docs"))
      },
      sql = Some(bpeSqlCtes(BpeRounds) + s"""
        , wenc AS (SELECT word, count(*) AS n_tokens
                   FROM enc$BpeRounds GROUP BY word),
        dw AS (SELECT doc_id, lang,
                      unnest(string_split(lower(text), ' ')) AS w
               FROM documents WHERE len(text) > 0)
        SELECT lang, count(*) AS words,
               CAST(sum(n_tokens) AS BIGINT) AS bpe_tokens,
               count(DISTINCT doc_id) AS docs
        FROM (SELECT doc_id, lang, w FROM dw WHERE len(w) > 0) d
        JOIN wenc ON d.w = wenc.word
        GROUP BY lang"""),
      scaleNote = "the 100 TB encode: corpus joins the broadcast |vocab|-row dictionary (no shuffle beyond the final per-lang agg with map-side partials); re-tokenizing 100 TB is one scan + one broadcast hash join"),

    // ----- language ID via stopword-ratio argmax --------------------
    "q33_lang_id" -> Q(
      fn = (s, d) =>
        withStopScores(Tables.documents(s, d).filter(length(col("text")) > 0))
          .withColumn("pred_lang", predLang)
          .groupBy(col("lang"), col("pred_lang"))
          .agg(count(lit(1)).as("n")),
      sql = Some(s"""
        SELECT lang, pred_lang, count(*) AS n FROM (
          SELECT lang, $sqlPredLangCase AS pred_lang
          FROM documents WHERE length(text) > 0)
        GROUP BY lang, pred_lang"""),
      scaleNote = "per-row stopword scoring fuses into the scan; confusion-matrix agg shuffles |langs|² rows"),

    // ----- quality scoring ------------------------------------------
    "q34_quality_score" -> Q(
      fn = (s, d) => {
        val nTokens = size(words).cast("double")
        val stopRatio = (stopCount("en") / nTokens)
        val avgWordLen = (length(col("text")).cast("double") -
          (nTokens - 1.0)) / nTokens
        val alphaRatio =
          size(filter(words, w => w.rlike("^[a-z]+$"))).cast("double") / nTokens
        Tables.documents(s, d)
          .filter(length(col("text")) > 0)
          .select(
            col("doc_id"),
            length(col("text")).cast("long").as("n_chars"),
            nTokens.cast("long").as("n_tokens"),
            avgWordLen.as("avg_word_len"),
            stopRatio.as("stopword_ratio"),
            alphaRatio.as("alpha_ratio"),
            qualityCol.as("quality"))
      },
      sql = Some(s"""
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len(string_split(lower(text),' ')) AS BIGINT) AS n_tokens,
               (length(text) * 1.0 - (len(string_split(lower(text),' ')) - 1.0))
                 / len(string_split(lower(text),' ')) AS avg_word_len,
               ${sqlStopCount("en")} / len(string_split(lower(text),' ')) AS stopword_ratio,
               len(list_filter(string_split(lower(text),' '), w -> regexp_full_match(w, '[a-z]+'))) * 1.0
                 / len(string_split(lower(text),' ')) AS alpha_ratio,
               $sqlQualityExpr AS quality
        FROM documents WHERE length(text) > 0"""),
      scaleNote = "pure map-side scoring; at 100 TB this is the pre-filter that cuts the corpus before any shuffle-heavy dedup"),

    // ----- token counting: whitespace + BPE-ish tokenization --------
    "q35_token_stats" -> Q(
      fn = (s, d) =>
        // ONE native scan (graft.functions.TokenStats) replaces the
        // regexp_extract_all + two array walks — same semantics,
        // measured ~10× cheaper per row; the struct's consumers CSE
        // into a single evaluation inside whole-stage codegen
        Tables.documents(s, d)
          .filter(length(col("text")) > 0)
          .select(col("doc_id"),
            call_function("token_stats", lower(col("text"))).as("t"))
          .select(
            col("doc_id"),
            col("t.ws_tokens").as("ws_tokens"),
            col("t.bpeish_tokens").as("bpeish_tokens"),
            col("t.distinct_tokens").as("distinct_tokens"),
            (col("t.distinct_tokens").cast("double") / col("t.ws_tokens"))
              .as("ttr")),
      sql = Some("""
        SELECT doc_id,
               CAST(len(string_split(lower(text),' ')) AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpeish_tokens,
               CAST(len(list_distinct(string_split(lower(text),' '))) AS BIGINT) AS distinct_tokens,
               len(list_distinct(string_split(lower(text),' '))) * 1.0
                 / len(string_split(lower(text),' ')) AS ttr
        FROM documents WHERE length(text) > 0"""),
      scaleNote = "regex tokenization is codegen'd; token counts feed straight into training-cost estimation without materializing token arrays"),

    // ----- document fingerprinting ----------------------------------
    "q36_fingerprint" -> Q(
      fn = (s, d) =>
        Tables.documents(s, d)
          .filter(length(col("text")) > 0)
          .select(
            col("doc_id"),
            // exact-content fingerprint
            md5(trim(lower(col("text")))).as("fp_exact"),
            // bag-of-words fingerprint: order-insensitive near-dup key
            md5(array_join(array_sort(array_distinct(words)), " ")).as("fp_bow"),
            // shape fingerprint: token-length sequence (rolling-hash
            // style structure signature)
            md5(array_join(transform(words, w => length(w).cast("string")), ","))
              .as("fp_shape")),
      sql = Some("""
        SELECT doc_id,
               md5(trim(lower(text))) AS fp_exact,
               md5(array_to_string(list_sort(list_distinct(string_split(lower(text),' '))), ' ')) AS fp_bow,
               md5(array_to_string(list_transform(string_split(lower(text),' '), w -> CAST(length(w) AS VARCHAR)), ',')) AS fp_shape
        FROM documents WHERE length(text) > 0"""),
      scaleNote = "fingerprints shuffle as 16-byte keys for downstream groupBy dedup — never the document bodies"),

    // ----- curation: deterministic stratified sample + split --------
    "q60_hash_sample" -> Q(
      fn = (s, d) => {
        // hash-based sampling, NOT rand(): reproducible across engines,
        // re-runs, and task retries (no RNG state), and any stratum's
        // sample is a stable subset as rates change. Rate compare works
        // on the md5 hex prefix lexicographically ('80'/'ff' ≈ 50%,
        // '33'/'ff' ≈ 20%); independent salts decorrelate the sampling
        // and split decisions.
        val sampleH = substring(md5(concat(lit("s:"), col("doc_id").cast("string"))), 1, 2)
        val splitH = substring(md5(concat(lit("t:"), col("doc_id").cast("string"))), 1, 2)
        Tables.documents(s, d)
          .filter(sampleH < when(col("lang") === "en", "80").otherwise("33"))
          .select(col("doc_id"), col("lang"),
            when(splitH < "cc", "train").otherwise("test").as("split"))
      },
      sql = Some("""
        SELECT doc_id, lang,
               CASE WHEN substr(md5('t:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
                    THEN 'train' ELSE 'test' END AS split
        FROM documents
        WHERE substr(md5('s:' || CAST(doc_id AS VARCHAR)), 1, 2) <
              CASE WHEN lang = 'en' THEN '80' ELSE '33' END"""),
      scaleNote = "pure map-side filter+project — zero shuffle; sampling decisions are a function of the row alone, so the plan scales as one scan and survives speculative/retried tasks unchanged"),

    // ----- E16: map construction / map_keys / map_values / explode --
    "q45_map_funcs" -> Q(
      fn = (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"),
            map(lit("lang"), col("lang"), lit("source"), col("source")).as("m"))
          .select(col("doc_id"),
            explode(map_from_arrays(map_keys(col("m")), map_values(col("m"))))
              .as(Seq("k", "v")))
          .groupBy(col("k"), col("v"))
          .agg(count(lit(1)).as("n")),
      sql = Some("""
        SELECT k, v, count(*) AS n FROM (
          SELECT doc_id, unnest(map_keys(m)) AS k, unnest(map_values(m)) AS v
          FROM (SELECT doc_id, MAP {'lang': lang, 'source': source} AS m
                FROM documents))
        GROUP BY k, v"""),
      scaleNote = "map explode is pipelined into the scan; the dynamic-key texts map in the enrich pipeline uses the same operators"),

    // ----- corpus vocabulary statistics (tokenizer training) --------
    // The frequency table a BPE/unigram tokenizer trains from: corpus-
    // wide token counts with coverage share, top-K by frequency with a
    // deterministic tie-break. cnt*1000000 div total (integer) instead
    // of a float share: exact in both engines at any scale.
    "q75_vocab_topk" -> Q(
      fn = (s, d) => {
        val tok = Tables.documents(s, d)
          .select(explode(split(lower(col("text")), " ")).as("token"))
        val counts = tok.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        val total = counts.agg(sum(col("cnt")).as("total"))
        counts.crossJoin(broadcast(total))
          .select(col("token"), col("cnt"),
            expr("cnt * 1000000L div total").as("ppm"))
          .orderBy(col("cnt").desc, col("token"))
          .limit(30)
      },
      sql = Some("""
        WITH c AS (
          SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents),
        counts AS (SELECT token, count(*) AS cnt FROM c GROUP BY token),
        t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts)
        SELECT token, cnt, CAST(cnt * 1000000 // total AS BIGINT) AS ppm
        FROM counts CROSS JOIN t
        ORDER BY cnt DESC, token LIMIT 30"""),
      scaleNote = "partial agg collapses tokens map-side before one skinny (token,count) shuffle; the 1-row total broadcasts back; top-K plans as TakeOrderedAndProject — no global sort of the vocabulary"),

    // ----- skip-gram co-occurrence counts ---------------------------
    // Word-vector / n-gram-LM training statistics: (w_i, w_{i+d})
    // pair counts for d ∈ {1, 2}, top-K. Pairs expand map-side from
    // each row's own token array — no positional self-join.
    "q78_skipgram_counts" -> Q(
      fn = (s, d) => {
        // the word array goes through a projection boundary FIRST: the
        // transform lambdas below reference it once per row as an
        // attribute — inlining the split would re-tokenize the string
        // per element (the interpreted-HOF O(n²) trap q68 hit)
        val w = col("w")
        val emptyPairs = array().cast(
          "array<struct<w1:string,w2:string,dist:int>>")
        def pairsAt(off: Int) =
          when(size(w) > off, transform(sequence(lit(1), size(w) - off),
            i => struct(element_at(w, i).as("w1"),
              element_at(w, i + off).as("w2"), lit(off).as("dist"))))
            .otherwise(emptyPairs)
        Tables.documents(s, d)
          .select(split(lower(col("text")), " ").as("w"))
          .select(explode(concat(pairsAt(1), pairsAt(2))).as("p"))
          .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"),
            col("p.dist").as("dist"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("w1"), col("w2"), col("dist"))
          .limit(50)
      },
      sql = Some("""
        WITH w AS (SELECT doc_id, string_split(lower(text),' ') AS w FROM documents),
        p AS (
          SELECT unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2, 1 AS dist FROM w
          UNION ALL
          SELECT unnest(w[1:len(w)-2]), unnest(w[3:len(w)]), 2 FROM w)
        SELECT w1, w2, dist, count(*) AS cnt FROM p GROUP BY 1, 2, 3
        ORDER BY cnt DESC, w1, w2, dist LIMIT 50"""),
      scaleNote = "pairs fan out ~2n per doc inside the scan projection (no self-join on position); partial agg collapses repeats map-side before the one (w1,w2,dist) shuffle; top-K is TakeOrderedAndProject"),

    // ----- q190: TextRank keyword scoring (r11) ----------------------
    // Mihalcea & Tarau 2004: keywords are the high-PageRank nodes of
    // the word co-occurrence graph — q78's window-2 pair expansion
    // feeding q113's damped fixed-point loop, composed into the
    // unsupervised keyword extractor every curation stack keeps
    // around. One graph PER LANGUAGE in a single keyed frame (the
    // many-small-graphs modality q113's one-graph loop doesn't
    // exercise): nodes are (lang, word ≥ 4 chars), edges undirected
    // (each window pair counted both directions, so the graph is
    // symmetric and no dangling mass exists), 5 fixed iterations,
    // round(,6) on the final emit only — q113's double-emission
    // stance, unchanged.
    "q190_textrank_keywords" -> Q(
      fn = (s, d) => {
        val Damp = 0.85
        val Iters = 5
        val w = col("w")
        val emptyPairs = array().cast("array<struct<w1:string,w2:string>>")
        // q78's map-side pair expansion (never a positional self-join)
        def pairsAt(off: Int) =
          when(size(w) > off, transform(sequence(lit(1), size(w) - off),
            i => struct(element_at(w, i).as("w1"),
              element_at(w, i + off).as("w2"))))
            .otherwise(emptyPairs)
        val co = Tables.documents(s, d)
          .select(col("lang"), split(lower(col("text")), " ").as("w"))
          .select(col("lang"), explode(concat(pairsAt(1), pairsAt(2))).as("p"))
          .select(col("lang"), col("p.w1").as("w1"), col("p.w2").as("w2"))
          .filter(length(col("w1")) >= 4 && length(col("w2")) >= 4 &&
            col("w1") =!= col("w2"))
        val e = co.select(col("lang"), col("w1").as("u"), col("w2").as("v"))
          .unionByName(
            co.select(col("lang"), col("w2").as("u"), col("w1").as("v")))
          .groupBy(col("lang"), col("u"), col("v"))
          .agg(count(lit(1)).as("wt"))
          .localCheckpoint() // edge list feeds out-strength + every round
        val out = e.groupBy(col("lang"), col("u")).agg(sum(col("wt")).as("wout"))
        // transition probability u→v within each language's graph;
        // out is vocabulary-sized — broadcast so edges never shuffle
        // for the normalization (q113's stance, lang-keyed)
        val ew = e.join(broadcast(out), Seq("lang", "u"))
          .select(col("lang"), col("u"), col("v"),
            (col("wt").cast("double") / col("wout")).as("p"))
          .localCheckpoint()
        val nodes = ew.select(col("lang"), col("u").as("node")).distinct()
          .localCheckpoint()
        val nn = nodes.groupBy(col("lang")).agg(count(lit(1)).as("n_nodes"))
        var r = nodes.join(broadcast(nn), "lang")
          .select(col("lang"), col("node"),
            (lit(1.0) / col("n_nodes")).as("r"), col("n_nodes"))
          .localCheckpoint()
        for (_ <- 1 to Iters) {
          // rank frame is vocabulary-sized → broadcasts into the cached
          // edges; the only per-round exchange is the (lang, v) agg
          r = ew.as("e").join(broadcast(r).as("r"),
              col("e.lang") === col("r.lang") && col("e.u") === col("r.node"))
            .groupBy(col("e.lang").as("lang"), col("e.v").as("node"))
            .agg(sum(col("e.p") * col("r.r")).as("mass"),
              first(col("r.n_nodes")).as("n_nodes"))
            .select(col("lang"), col("node"),
              ((lit(1.0) - lit(Damp)) / col("n_nodes") +
                lit(Damp) * col("mass")).as("r"),
              col("n_nodes"))
            .localCheckpoint()
        }
        r.select(col("lang"), col("node").as("word"),
          round(col("r"), 6).as("r"))
      },
      sql = Some("""
        WITH w AS (SELECT lang, string_split(lower(text),' ') AS w FROM documents),
        p0 AS (
          SELECT lang, unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2 FROM w
          UNION ALL
          SELECT lang, unnest(w[1:len(w)-2]), unnest(w[3:len(w)]) FROM w),
        p AS (SELECT * FROM p0
              WHERE length(w1) >= 4 AND length(w2) >= 4 AND w1 <> w2),
        e AS (SELECT lang, u, v, count(*) AS wt FROM (
                SELECT lang, w1 AS u, w2 AS v FROM p
                UNION ALL
                SELECT lang, w2 AS u, w1 AS v FROM p)
              GROUP BY 1, 2, 3),
        o AS (SELECT lang, u, sum(wt) AS wout FROM e GROUP BY 1, 2),
        ew AS MATERIALIZED (
          SELECT e.lang, e.u, e.v, CAST(e.wt AS DOUBLE) / o.wout AS p
          FROM e JOIN o USING (lang, u)),
        n AS MATERIALIZED (
          SELECT lang, count(DISTINCT u) AS n_nodes FROM ew GROUP BY 1),
        r0 AS MATERIALIZED (
          SELECT DISTINCT ew.lang, ew.u AS node, 1.0 / n.n_nodes AS r
          FROM ew JOIN n USING (lang)),
        r1 AS MATERIALIZED (
          SELECT ew.lang, ew.v AS node,
                 0.15 / any_value(n.n_nodes) + 0.85 * sum(ew.p * r0.r) AS r
          FROM ew JOIN r0 ON ew.lang = r0.lang AND ew.u = r0.node
                  JOIN n ON n.lang = ew.lang
          GROUP BY 1, 2),
        r2 AS MATERIALIZED (
          SELECT ew.lang, ew.v AS node,
                 0.15 / any_value(n.n_nodes) + 0.85 * sum(ew.p * r1.r) AS r
          FROM ew JOIN r1 ON ew.lang = r1.lang AND ew.u = r1.node
                  JOIN n ON n.lang = ew.lang
          GROUP BY 1, 2),
        r3 AS MATERIALIZED (
          SELECT ew.lang, ew.v AS node,
                 0.15 / any_value(n.n_nodes) + 0.85 * sum(ew.p * r2.r) AS r
          FROM ew JOIN r2 ON ew.lang = r2.lang AND ew.u = r2.node
                  JOIN n ON n.lang = ew.lang
          GROUP BY 1, 2),
        r4 AS MATERIALIZED (
          SELECT ew.lang, ew.v AS node,
                 0.15 / any_value(n.n_nodes) + 0.85 * sum(ew.p * r3.r) AS r
          FROM ew JOIN r3 ON ew.lang = r3.lang AND ew.u = r3.node
                  JOIN n ON n.lang = ew.lang
          GROUP BY 1, 2),
        r5 AS MATERIALIZED (
          SELECT ew.lang, ew.v AS node,
                 0.15 / any_value(n.n_nodes) + 0.85 * sum(ew.p * r4.r) AS r
          FROM ew JOIN r4 ON ew.lang = r4.lang AND ew.u = r4.node
                  JOIN n ON n.lang = ew.lang
          GROUP BY 1, 2)
        SELECT lang, node AS word, round(r, 6) AS r FROM r5"""),
      scaleNote = "pairs expand map-side inside the scan (q78's shape) and collapse to the |vocab²|-bounded edge frame in one shuffle; from there every structure is vocabulary-sized — out-strengths and ranks broadcast into the cached edges, so each of the 5 rounds costs one (lang, word) agg exchange over edge rows, and lineage truncates per round (q113's localCheckpoint stance); at 100 TB the edge build dominates and is one partial-agged shuffle of window pairs — the rank loop's cost tracks vocabulary, not corpus"),

    // ----- Unicode NFC normalization (canonicalization stage) -------
    // The corpus is ASCII by construction, so the query injects a
    // deterministic denormalized suffix per doc (q62's inject-then-
    // operate stance): "e + combining acute" (→ precomposed é under
    // NFC), the OHM SIGN singleton (→ GREEK CAPITAL OMEGA), and the
    // ffi ligature (compatibility-only — NFC must LEAVE it alone).
    // Both engines implement UAX#15 (JDK Normalizer / utf8proc) and
    // NFC is a unique normal form, so the normalized bytes — and their
    // md5 — are identical cross-engine.
    "q109_unicode_normalize" -> Q(
      fn = (s, d) => {
        // explicit escapes: the suffix must stay DECOMPOSED in source
        // (e + U+0301, OHM SIGN, ffi ligature) — a raw literal would be
        // one editor NFC-pass away from silently precomposing it
        val raw = concat(col("text"), lit(" cafe\u0301 \u2126 \uFB03"))
        Tables.documents(s, d)
          .select(col("doc_id"), raw.as("raw"))
          .select(col("doc_id"),
            call_function("nfc_normalize", col("raw")).as("norm"),
            col("raw"))
          .select(col("doc_id"),
            md5(col("norm")).as("norm_md5"),
            (col("norm") =!= col("raw")).cast("int").as("changed"),
            octet_length(col("raw")).as("bytes_raw"),
            octet_length(col("norm")).as("bytes_norm"))
      },
      sql = Some("""
        WITH r AS (
          SELECT doc_id,
                 text || ' caf' || chr(101) || chr(769) || ' ' ||
                   chr(8486) || ' ' || chr(64259) AS raw
          FROM documents),
        n AS (SELECT doc_id, raw, nfc_normalize(raw) AS norm FROM r)
        SELECT doc_id, md5(norm) AS norm_md5,
               CAST(norm <> raw AS INT) AS changed,
               CAST(strlen(raw) AS INT) AS bytes_raw,
               CAST(strlen(norm) AS INT) AS bytes_norm
        FROM n"""),
      scaleNote = "pure map-side, one codegen'd pass; the isNormalized quick-check makes already-NFC rows (in practice almost all) a zero-allocation pass-through — at 100 TB this fuses into the scan ahead of the hash/dedup stages that need canonical bytes"),

    // ----- PMI collocations (tokenizer/quality diagnostics) ---------
    // Pointwise mutual information over adjacent bigrams: the standard
    // collocation extractor a tokenizer-training or phrase-mining pass
    // runs. Ranking uses the exact rational c_xy·n²/(m·c_x·c_y)
    // instead of its log (q65's idf stance): every product is exact
    // integer arithmetic and the single division is correctly rounded,
    // so the score — and the top-K cut — is bit-identical
    // cross-engine, where log() at ~1-ulp accuracy would make the
    // boundary oracle-flaky. Monotone in PMI, so the ranking is PMI's.
    "q108_pmi_collocations" -> Q(
      fn = (s, d) => {
        val MinPairCount = 5
        val w = col("w")
        val emptyPairs = array().cast("array<struct<w1:string,w2:string>>")
        val toks = Tables.documents(s, d)
          .select(split(lower(col("text")), " ").as("w"))
          .localCheckpoint() // bigram + unigram branches share one tokenize
        val bigrams = toks
          .select(explode(
            when(size(w) > 1, transform(sequence(lit(1), size(w) - 1),
              i => struct(element_at(w, i).as("w1"),
                element_at(w, i + 1).as("w2"))))
              .otherwise(emptyPairs)).as("p"))
          .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
          .agg(count(lit(1)).as("c_xy"))
        val uni = toks.select(explode(w).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).as("c"))
        val totals = uni.agg(sum(col("c")).as("n_uni"))
          .crossJoin(bigrams.agg(sum(col("c_xy")).as("n_bi")))
        bigrams
          .join(uni.select(col("word").as("w1"), col("c").as("c_x")), "w1")
          .join(uni.select(col("word").as("w2"), col("c").as("c_y")), "w2")
          .crossJoin(broadcast(totals))
          .filter(col("c_xy") >= MinPairCount)
          // each COUNT casts to double BEFORE the products: integer
          // products would hit the Int64 cliff on large corpora
          // (c_xy·n² > 2^63 wraps/throws in Spark while DuckDB's
          // HUGEINT sails on — oracle divergence); double products are
          // IEEE-rounded identically in both engines at any magnitude,
          // so the score never overflows and never diverges
          .withColumn("score",
            (col("c_xy").cast("double") * col("n_uni").cast("double") *
              col("n_uni").cast("double")) /
              (col("n_bi").cast("double") * col("c_x").cast("double") *
                col("c_y").cast("double")))
          .orderBy(col("score").desc, col("w1"), col("w2"))
          .limit(50)
          .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
            col("score"))
      },
      sql = Some("""
        WITH w AS (SELECT string_split(lower(text),' ') AS w FROM documents),
        bi AS (SELECT unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2 FROM w),
        bc AS (SELECT w1, w2, count(*) AS c_xy FROM bi GROUP BY 1, 2),
        uc AS (SELECT word, count(*) AS c FROM
                 (SELECT unnest(w) AS word FROM w) GROUP BY 1),
        t AS (SELECT (SELECT sum(c) FROM uc) AS n_uni,
                     (SELECT sum(c_xy) FROM bc) AS n_bi)
        SELECT bc.w1, bc.w2, c_xy, x.c AS c_x, y.c AS c_y,
               (CAST(c_xy AS DOUBLE) * CAST(n_uni AS DOUBLE) * CAST(n_uni AS DOUBLE)) /
                 (CAST(n_bi AS DOUBLE) * CAST(x.c AS DOUBLE) * CAST(y.c AS DOUBLE)) AS score
        FROM bc JOIN uc x ON x.word = bc.w1
                JOIN uc y ON y.word = bc.w2
                CROSS JOIN t
        WHERE c_xy >= 5
        ORDER BY score DESC, w1, w2 LIMIT 50"""),
      scaleNote = "bigrams fan out inside the scan projection (q78's shape) and collapse map-side before the one (w1,w2) shuffle; unigram counts broadcast back; top-K is TakeOrderedAndProject. Counts cast to double before the products, so the score has no integer-overflow cliff at any corpus size (individual counts stay exact through 2^53 ≈ 9·10^15 tokens); the min-count gate prunes the tail before the joins"),

    // ----- BPE merge-candidate pair counts (tokenizer training) -----
    // The counting step of byte-pair encoding's first iteration: every
    // adjacent symbol pair inside each word, weighted by the word's
    // corpus frequency — the argmax is the first merge a BPE tokenizer
    // learns. Counting per DISTINCT word and scaling by word count is
    // the standard optimization (Sennrich et al. 2016, §3): the pair
    // explosion runs over the vocabulary, not the corpus, so the
    // fan-out stage is O(vocab · word_len) however big the corpus is.
    "q111_bpe_pair_counts" -> Q(
      fn = (s, d) => {
        val wc = Tables.documents(s, d)
          .select(explode(split(lower(col("text")), " ")).as("w"))
          .filter(length(col("w")) >= 2)
          .groupBy(col("w")).agg(count(lit(1)).as("wc"))
        wc.select(col("wc"),
            explode(transform(sequence(lit(1), length(col("w")) - 1),
              i => col("w").substr(i, lit(2)))).as("pair"))
          .groupBy(col("pair")).agg(sum(col("wc")).as("cnt"))
          .orderBy(col("cnt").desc, col("pair"))
          .limit(50)
      },
      sql = Some("""
        WITH wd AS (SELECT unnest(string_split(lower(text), ' ')) AS w
                    FROM documents),
        wc AS (SELECT w, count(*) AS wc FROM wd
               WHERE length(w) >= 2 GROUP BY 1),
        p AS (SELECT w, wc,
                     unnest(generate_series(1, length(w) - 1)) AS i
              FROM wc)
        SELECT substr(w, CAST(i AS INT), 2) AS pair,
               CAST(sum(wc) AS BIGINT) AS cnt
        FROM p GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 50"""),
      scaleNote = "corpus collapses to (word, count) in one shuffle with map-side partial agg; the pair explosion + (pair) re-agg run over the vocabulary only — a BPE trainer iterates this with the learned merge applied, same plan shape each round; top-K is TakeOrderedAndProject with the (cnt, pair) total order"),

    // ----- corpus-level similarity: source vocabulary overlap -------
    // Pairwise Jaccard between each source's DISTINCT vocabulary —
    // the corpus-composition matrix a data-mixing decision reads
    // (which crawls duplicate each other's coverage). Same inverted-
    // index shape as doc-level dedup (q26), one level up: postings are
    // (word → source) and the self-join aggregates at the source-pair
    // grain.
    "q96_source_vocab_overlap" -> Q(
      fn = (s, d) => {
        val words = Tables.documents(s, d)
          .select(col("source"), explode(split(lower(col("text")), " ")).as("word"))
          .filter(length(col("word")) > 0)
          .distinct()
          .localCheckpoint() // shared by sizes + both join sides
        val sz = words.groupBy(col("source")).agg(count(lit(1)).as("n"))
        words.as("a").join(words.as("b"),
            col("a.word") === col("b.word") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
          .agg(count(lit(1)).as("i"))
          .join(sz.select(col("source").as("src_a"), col("n").as("na")), "src_a")
          .join(sz.select(col("source").as("src_b"), col("n").as("nb")), "src_b")
          .select(col("src_a"), col("src_b"),
            (col("i") * lit(1.0) / (col("na") + col("nb") - col("i")))
              .as("jaccard"))
      },
      sql = Some("""
        WITH w0 AS (
          SELECT DISTINCT source,
                 unnest(string_split(lower(text), ' ')) AS word
          FROM documents),
        w AS (SELECT source, word FROM w0 WHERE length(word) > 0),
        sz AS (SELECT source, count(*) AS n FROM w GROUP BY source),
        inter AS (
          SELECT a.source AS src_a, b.source AS src_b, count(*) AS i
          FROM w a JOIN w b ON a.word = b.word AND a.source < b.source
          GROUP BY 1, 2)
        SELECT src_a, src_b, i * 1.0 / (sa.n + sb.n - i) AS jaccard
        FROM inter
        JOIN sz sa ON sa.source = src_a
        JOIN sz sb ON sb.source = src_b"""),
      scaleNote = "the distinct (source, word) frame is tiny relative to the corpus (vocab × sources) and is checkpointed once; the word self-join shuffles only vocab postings — at 100 TB hash words to 8 bytes first (q26's stance) and cap stop-words (q59's guard) for bounded posting lists"),

    // ----- E13: per-source vocabulary drift (KL divergence) ---------
    // The corpus-monitoring statistic behind "did this ingest batch
    // change the data mix": KL(p_source ‖ p_corpus) over unigram
    // distributions. q96's set-overlap sees WHICH words differ;
    // KL weighs HOW MUCH the frequency mass shifted — the number an
    // ingestion dashboard alerts on. Every p and q is an exact count
    // ratio (one IEEE division each), the ln is the same libm-vs-JVM
    // trade q20/q110 already run green through the 6-sig-fig gate, and
    // each KL term is p·ln(p/q) with p,q from the SAME count frame —
    // no cancellation.
    "q128_source_kl_drift" -> Q(
      fn = (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("source"),
            explode(split(lower(col("text")), " ")).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
          .localCheckpoint() // one tokenize feeds all three marginals
        val srcTot = tok.groupBy(col("source")).agg(sum(col("c")).as("st"))
        val wTot = tok.groupBy(col("w")).agg(sum(col("c")).as("cw"))
        val tot = tok.agg(sum(col("c")).as("tot"))
        tok
          .join(broadcast(srcTot), "source") // |sources| rows
          .join(wTot, "w") // vocab-sized: shuffles on w at scale
          .crossJoin(broadcast(tot))
          .select(col("source"), col("st"),
            ((col("c").cast("double") / col("st")) *
              log((col("c").cast("double") / col("st")) /
                (col("cw").cast("double") / col("tot")))).as("term"))
          .groupBy(col("source"))
          // round(,6): the KL-term sum merges in partition order, so
          // raw low bits differ across engines (q117's discipline)
          .agg(first(col("st")).as("n_tokens"),
            round(sum(col("term")), 6).as("kl"))
      },
      sql = Some("""
        WITH tok AS (
          SELECT source, w, count(*) AS c FROM (
            SELECT source, unnest(string_split(lower(text), ' ')) AS w
            FROM documents)
          WHERE length(w) > 0 GROUP BY 1, 2),
        st AS (SELECT source, sum(c) AS st FROM tok GROUP BY 1),
        cw AS (SELECT w, sum(c) AS cw FROM tok GROUP BY 1),
        tot AS (SELECT sum(c) AS tot FROM tok)
        SELECT tok.source, CAST(any_value(st.st) AS BIGINT) AS n_tokens,
               round(sum((tok.c * 1.0 / st.st) *
                   ln((tok.c * 1.0 / st.st) / (cw.cw * 1.0 / tot.tot))), 6) AS kl
        FROM tok JOIN st USING (source) JOIN cw USING (w) CROSS JOIN tot
        GROUP BY 1"""),
      scaleNote = "three marginals off one tokenized count frame (checkpointed once): the per-source totals broadcast (|sources| rows), the corpus word counts join on w — vocab-sized, the only real shuffle — and the KL reduction is an ordinary two-phase agg; at 100 TB hash words to 8 bytes (q26) and the whole statistic stays one tokenize + two shuffles"),

    // ----- q157: n-gram novelty (first-occurrence attribution) ------
    // The dataset-diversity decay diagnostic: for each doc (in
    // doc_id ingestion order), what fraction of its DISTINCT 5-grams
    // has never appeared in any earlier doc? q117 measures global
    // duplication (order-free); novelty is the ORDER-SENSITIVE
    // attribution — the curve that shows when additional data stops
    // contributing new text, and the statistic a dataset-growth audit
    // plots per ingestion slice. Grams move as 8-byte xxhash64 keys
    // (q26/q117 stance); the strings live only in the oracle. Exact
    // integer emission throughout (counts + novelty ppm).
    "q157_ngram_novelty" -> Q(
      fn = (s, d) => {
        val base = Tables.documents(s, d)
        val pos = Dedup.gramPositions(base, 5, distinct = true)
        gramNovelty(base, pos, pos.groupBy(col("g")).agg(min(col("doc_id")).as("fd")))
      },
      sql = Some("""
        WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
                   FROM documents),
        pos AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+4], ' ') AS g
                FROM w, unnest(generate_series(1, len(ws) - 4)) AS t(i)
                WHERE len(ws) >= 5),
        f AS (SELECT g, min(doc_id) AS fd FROM pos GROUP BY 1),
        per AS (SELECT doc_id, count(*) AS np,
                       CAST(sum(CASE WHEN fd = doc_id THEN 1 ELSE 0 END)
                            AS BIGINT) AS nn
                FROM pos JOIN f USING (g) GROUP BY 1)
        SELECT d.doc_id,
               coalesce(per.np, 0) AS n_grams,
               coalesce(per.nn, 0) AS n_novel,
               CASE WHEN per.np > 0
                    THEN (per.nn * CAST(1000000 AS BIGINT)) // per.np
               END AS novelty_ppm
        FROM documents d LEFT JOIN per USING (doc_id)"""),
      scaleNote = "one gram shuffle with map-side partial min (a boilerplate gram repeated everywhere costs one partial per partition), one probe join with the aggregated index pinned as build side, one doc_id fold — q117's plan with min(doc_id) in place of count. The first-occurrence index is incrementally maintainable (min is mergeable), so a growing corpus re-probes only new batches — the IncrementalDedup modality applies unchanged"),

    // ----- q162: char-bigram entropy (compression-ratio signal) -----
    // The quality gate that catches what token ratios (q34) miss:
    // machine-generated or template text compresses far better than
    // organic prose, and Shannon entropy of the character-bigram
    // distribution is the deterministic, library-free proxy for
    // compression ratio (the zlib-ratio heuristic in public curation
    // recipes, PAPERS.md). Per doc over lower(text): H = −Σ p ln p in
    // NATS over the bigram distribution, plus the distinct/total
    // bigram counts. p is an exact rational (cnt/n); ln is
    // transcendental, so the per-doc sum rounds to 6 dp on both sides
    // (q128's discipline — partition merge order + ~1 ulp ln skew
    // both absorbed by the rounding).
    "q162_char_entropy" -> Q(
      fn = (s, d) => {
        // one-pass native kernel (q35's TokenStats stance): the
        // explode → two-level groupBy spelling shuffles O(corpus
        // chars) rows and measured 5.7 s at sf0.1 vs sub-second here
        Tables.documents(s, d)
          .select(col("doc_id"), lower(col("text")).as("t"))
          .filter(length(col("t")) >= 2)
          .select(col("doc_id"),
            call_function("char_entropy", col("t")).as("st"))
          .select(col("doc_id"),
            col("st.n_bigrams").as("n_bigrams"),
            col("st.n_distinct").as("n_distinct"),
            round(col("st.entropy"), 6).as("entropy"))
      },
      sql = Some("""
        WITH t AS (SELECT doc_id, lower(text) AS t,
                          CAST(length(lower(text)) - 1 AS BIGINT) AS n
                   FROM documents WHERE length(lower(text)) >= 2),
        bg AS (SELECT doc_id, n, substr(t, i, 2) AS bg
               FROM t, unnest(generate_series(1, CAST(n AS INTEGER))) AS u(i)),
        c AS (SELECT doc_id, n, bg, count(*) AS cnt
              FROM bg GROUP BY 1, 2, 3)
        SELECT doc_id, any_value(n) AS n_bigrams,
               count(*) AS n_distinct,
               round(-sum((CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)) *
                 ln(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS entropy
        FROM c GROUP BY doc_id"""),
      scaleNote = "bigrams shuffle on (doc_id, bg) with map-side partial counts — per-doc work is bounded by context length, total volume is O(corpus bytes); the per-doc fold is the q139 shape and at 100 TB this fuses with the other per-doc quality passes (q34/q63/q139) into one scan + one skinny shuffle, feeding the q158 ensemble as another fused signal"),

    // ----- q168: per-source distinct-n lexical diversity ------------
    // The corpus-level diversity report a data-mixing decision reads:
    // distinct-1/distinct-2 (type-token ratios over unigrams/bigrams,
    // the "distinct-n" metric of Li et al. 2016) plus the hapax share
    // (types seen exactly once — Zipf-tail mass, the first statistic
    // to collapse when a source is template-generated or mode-
    // collapsed synthetic text). q162 scores diversity WITHIN a doc;
    // this scores it ACROSS each source's corpus, where per-doc
    // signals are blind. All-integer ppm emissions (house rational
    // rule); grams stay as strings here — at 100 TB they hash to 8
    // bytes first (q26's stance), which changes no count below.
    "q168_gram_diversity" -> Q(
      fn = (s, d) => {
        val base = Tables.documents(s, d).filter(length(col("text")) > 0)
          .select(col("source"), split(lower(col("text")), " ").as("ws"))
        val uni = base.select(col("source"), lit(1L).as("n"),
          explode(col("ws")).as("g"))
        val bi = base.filter(size(col("ws")) >= 2)
          .select(col("source"), lit(2L).as("n"),
            explode(transform(sequence(lit(1), size(col("ws")) - 1),
              i => concat_ws(" ", element_at(col("ws"), i),
                element_at(col("ws"), i + 1)))).as("g"))
        uni.unionByName(bi)
          .filter(length(col("g")) > 0)
          .groupBy(col("source"), col("n"), col("g"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("source"), col("n"))
          .agg(sum(col("cnt")).as("total_grams"),
            count(lit(1)).as("distinct_grams"),
            sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("hapax"))
          .select(col("source"), col("n"), col("total_grams"),
            col("distinct_grams"), col("hapax"),
            expr("distinct_grams * 1000000L div total_grams").as("ttr_ppm"),
            expr("hapax * 1000000L div distinct_grams").as("hapax_ppm"))
      },
      sql = Some("""
        WITH base AS (
          SELECT source, string_split(lower(text), ' ') AS ws
          FROM documents WHERE length(text) > 0),
        uni AS (SELECT source, CAST(1 AS BIGINT) AS n, unnest(ws) AS g
                FROM base),
        bi AS (SELECT source, CAST(2 AS BIGINT) AS n,
                 unnest(list_transform(generate_series(1, len(ws) - 1),
                   i -> ws[i] || ' ' || ws[i+1])) AS g
               FROM base WHERE len(ws) >= 2),
        c AS (SELECT source, n, g, count(*) AS cnt
              FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi) u
              WHERE length(g) > 0 GROUP BY 1, 2, 3),
        agg AS (SELECT source, n,
                       CAST(sum(cnt) AS BIGINT) AS total_grams,
                       count(*) AS distinct_grams,
                       CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)
                            AS BIGINT) AS hapax
                FROM c GROUP BY 1, 2)
        SELECT source, n, total_grams, distinct_grams, hapax,
               distinct_grams * 1000000 // total_grams AS ttr_ppm,
               hapax * 1000000 // distinct_grams AS hapax_ppm
        FROM agg"""),
      scaleNote = "grams collapse map-side before the one (source, n, gram) shuffle — the only full-volume movement; the second fold runs on the VOCABULARY (types, not tokens) and its output is |sources|x2 rows; every emission is an integer or an exact ppm via div/`//` on BIGINTs (the cast-at-birth oracle discipline)"),

    // ----- q172: Zipf exponent per source (rank-frequency slope) ----
    // The power-law health check on q168's diversity report: organic
    // language follows rank-frequency cnt ∝ rank^s with s ≈ −1
    // (Zipf's law); template-generated or mode-collapsed text bends
    // the curve (flat head → s near 0, or a cliff → s ≪ −1). Fit by
    // OLS over (ln rank, ln cnt) on the top-200 head — the classic
    // fit range, and a fixed bound on the per-source window. The
    // slope is a ratio of ln-sums — transcendental, so round(,6) on
    // both sides per the house double-emission inventory (the q110
    // class: no rank cut branches on it downstream).
    "q172_zipf_exponent" -> Q(
      fn = (s, d) => {
        val R = 200
        val counts = Tables.documents(s, d)
          .select(col("source"),
            explode(split(lower(col("text")), " ")).as("token"))
          .filter(length(col("token")) > 0)
          .groupBy(col("source"), col("token"))
          .agg(count(lit(1)).as("cnt"))
        val ranked = counts.withColumn("rk", row_number().over(
            Window.partitionBy(col("source"))
              .orderBy(col("cnt").desc, col("token"))))
          .filter(col("rk") <= R)
        ranked
          .select(col("source"),
            log(col("rk").cast("double")).as("x"),
            log(col("cnt").cast("double")).as("y"))
          .transform(zipfFit)
      },
      sql = Some(ZipfOracleSql),
      scaleNote = "token counts collapse map-side into one (source, token) shuffle — q75's plan; the rank window runs on the VOCABULARY per source and the rk <= 200 cut bounds the regression input to 200 rows/source regardless of corpus size, so the fit itself is a |sources|-row aggregate; at 100 TB the window swaps for a per-source top-200 TakeOrdered (same rows, no full-vocab sort) — REGISTERED as q243 under this oracle VERBATIM"),

    // ----- q243: q172's windowless spelling (r15) ---------------------
    // The promise at q172's scaleNote, registered (VERDICT r14 item
    // 5, the q222/q228 convert-the-promise discipline): the per-source
    // top-200 head comes from per-source TakeOrderedAndProject legs —
    // a bounded heap per partition, never a rank window over the
    // vocabulary — and the ranks the regression needs come from a
    // posexplode of the ≤200-row sorted head, not row_number. Gated
    // by q172's oracle VERBATIM, so "same rows, no full-vocab sort"
    // is a theorem the driver re-proves every round. The source list
    // is a DIMENSION-cardinality collect (|sources| rows — the same
    // information a source-partitioned lake exposes as its directory
    // listing), never the corpus.
    "q243_zipf_topk_windowless" -> Q(
      fn = (s, d) => zipfWindowless(Tables.documents(s, d)),
      sql = Some(ZipfOracleSql),
      scaleNote = "the vocabulary frame materializes ONCE (types, not tokens — Heaps'-law-sized) and each source's leg is a TakeOrderedAndProject over its slice: per-partition 200-row heaps, a |partitions|×200-row merge, zero sorts of the vocabulary (PlanSpec pins no Window anywhere and heaps present); rank assignment folds the ≤200-row head per source into ONE sorted array and posexplodes — an aggregate whose state is capped at 200 entries, so nothing anywhere in this plan holds more than the head; legs scale with |sources| (each pruning to its slice — on a source-partitioned lake each leg reads one partition), which trades q172's single vocab-wide window pass for |sources| head-sized passes of a checkpointed frame: the right side of the trade exactly when the vocabulary is huge and |sources| is dimension-sized, which is the 100 TB shape"),

    // ----- q173: hybrid retrieval (BM25 recall → semantic rerank) ---
    // The two retrieval modalities fused — the serving shape every
    // RAG / retrieval pipeline converges on: the lexical leg (q137's
    // exact BM25, unchanged arithmetic) supplies a 50-doc recall set
    // cheaply; the semantic leg reranks ONLY those candidates by
    // exact cosine against a query embedding (vec_id 42 as the
    // query's representation; q161's bit-identical cosine spelling).
    // Fusion is reciprocal-rank-free Borda (q158's integer stance):
    // within-candidate ranks are integers, their sum is an integer,
    // and the final cut branches on integers + doc_id — no float
    // comparison crosses a fusion boundary.
    "q173_hybrid_retrieval" -> Q(
      fn = (s, d) => {
        val cand = bm25Scores(s, d, "bm25")
          .orderBy(col("bm25").desc, col("doc_id"))
          .limit(50)
        val emb = Tables.load(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val qv = emb.filter(col("vec_id") === 42)
          .select(col("v").as("q"),
            sqrt(call_function("vec_dot", col("v"), col("v"))).as("qn"))
        val scored = cand
          .join(emb.withColumnRenamed("vec_id", "doc_id"), "doc_id")
          .crossJoin(broadcast(qv))
          .withColumn("cosine",
            call_function("vec_dot", col("v"), col("q")) /
              (sqrt(call_function("vec_dot", col("v"), col("v"))) * col("qn")))
          .withColumn("rank_lex", row_number().over(
            Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
          .withColumn("rank_sem", row_number().over(
            Window.orderBy(col("cosine").desc, col("doc_id"))).cast("long"))
          .withColumn("borda", col("rank_lex") + col("rank_sem"))
        scored.withColumn("rk", row_number().over(
            Window.orderBy(col("borda"), col("doc_id"))))
          .filter(col("rk") <= 10)
          .select(col("doc_id"), col("bm25"), col("cosine"),
            col("rank_lex"), col("rank_sem"), col("borda"))
      },
      sql = Some(bm25Sql("bm25") + """
        cand AS (SELECT doc_id, bm25 FROM sc ORDER BY bm25 DESC, doc_id LIMIT 50),
        emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        qv AS (SELECT v AS q, sqrt(list_dot_product(v, v)) AS qn
               FROM emb WHERE vec_id = 42),
        cs AS (SELECT c.doc_id, c.bm25,
                      list_dot_product(e.v, qv.q) /
                        (sqrt(list_dot_product(e.v, e.v)) * qv.qn) AS cosine
               FROM cand c JOIN emb e ON e.vec_id = c.doc_id CROSS JOIN qv),
        rk AS (SELECT doc_id, bm25, cosine,
                      CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                           AS BIGINT) AS rank_lex,
                      CAST(row_number() OVER (ORDER BY cosine DESC, doc_id)
                           AS BIGINT) AS rank_sem
               FROM cs),
        fin AS (SELECT doc_id, bm25, cosine, rank_lex, rank_sem,
                       rank_lex + rank_sem AS borda,
                       row_number() OVER (ORDER BY rank_lex + rank_sem, doc_id)
                         AS rk
                FROM rk)
        SELECT doc_id, bm25, cosine, rank_lex, rank_sem, borda
        FROM fin WHERE rk <= 10"""),
      scaleNote = "the corpus pays ONLY q137's cost: one map pass + a broadcast stats row + TakeOrdered(50); the semantic leg then touches 50 rows — the candidate frame broadcasts INTO the embeddings scan (a semi-join-shaped probe, never a full-embedding pass through the reranker), and every window runs on the bounded candidate set, not the corpus; this recall-then-rerank split is exactly why production hybrid search scales — the expensive exact-vector math is confined to a constant-size set per query"),

    // ----- q175: multi-query BM25 serving via posting index ---------
    // q137 answers ONE query with a per-row HOF — the right spelling
    // when the query is known at plan time. This is the OTHER spelling
    // its scaleNote promises: a query BATCH served off an inverted
    // posting index. Postings are built once (pruned to the query
    // workload's vocabulary BEFORE the shuffle — a broadcast semi-join
    // against the term set, so the index pass moves only matching
    // tokens), each query joins its terms to the postings, and per
    // (query, doc) partial scores fold in one aggregation. Scoring
    // arithmetic is q137's BM25 unchanged; per-query top-5 prunes
    // in-shuffle via the rank window.
    "q175_bm25_multiquery" -> Q(
      fn = (s, d) => {
        import s.implicits._
        val qterms = Seq(
          (0L, "table"), (0L, "hash"), (0L, "merge"),
          (1L, "sort"), (1L, "group"), (1L, "join"),
          (2L, "stream"), (2L, "window"), (2L, "batch"))
          .toDF("qid", "term")
        val base = Tables.documents(s, d)
          .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
          .select(col("doc_id"), size(col("ws")).cast("long").as("dl"),
            col("ws"))
        val posts = base
          .select(col("doc_id"), col("dl"), explode(col("ws")).as("term"))
          .join(broadcast(qterms.select(col("term")).distinct()), "term")
          .groupBy(col("term"), col("doc_id"), col("dl"))
          .agg(count(lit(1)).as("tf"))
          .localCheckpoint() // one index build feeds df AND scoring
        val stats = base.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
        val dfs = posts.groupBy(col("term")).agg(count(lit(1)).as("df"))
        qterms
          .join(posts, "term")
          .join(broadcast(dfs), "term")
          .crossJoin(broadcast(stats))
          .withColumn("part",
            log(lit(1.0) + (col("n") - col("df") + lit(0.5)) /
              (col("df") + lit(0.5))) *
              ((col("tf") * lit(2.2)) /
                (col("tf") + lit(1.2) * (lit(0.25) +
                  lit(0.75) * (col("dl") / (col("sdl") / col("n")))))))
          .groupBy(col("qid"), col("doc_id"))
          .agg(round(sum(col("part")), 6).as("score"))
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("qid"))
              .orderBy(col("score").desc, col("doc_id"))).cast("int"))
          .filter(col("rank") <= 5)
      },
      sql = Some("""
        WITH qt(qid, term) AS (VALUES
          (0, 'table'), (0, 'hash'), (0, 'merge'),
          (1, 'sort'), (1, 'group'), (1, 'join'),
          (2, 'stream'), (2, 'window'), (2, 'batch')),
        base AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
                 FROM documents),
        toks AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
                        unnest(ws) AS term
                 FROM base),
        posts AS MATERIALIZED (
          SELECT term, doc_id, dl, count(*) AS tf FROM toks
          WHERE term IN (SELECT DISTINCT term FROM qt)
          GROUP BY 1, 2, 3),
        stats AS (SELECT count(*) AS n,
                         CAST(sum(CAST(len(ws) AS BIGINT)) AS BIGINT) AS sdl
                  FROM base),
        dfs AS (SELECT term, count(*) AS df FROM posts GROUP BY 1),
        sc AS (SELECT q.qid, p.doc_id,
                      round(sum(
                        ln(1.0 + CAST(n - df + 0.5 AS DOUBLE) /
                               CAST(df + 0.5 AS DOUBLE)) *
                        ((p.tf * CAST(2.2 AS DOUBLE)) /
                         (p.tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) +
                           CAST(0.75 AS DOUBLE) * (p.dl / (sdl / n)))))), 6)
                        AS score
               FROM qt q
               JOIN posts p ON p.term = q.term
               JOIN dfs ON dfs.term = p.term
               CROSS JOIN stats
               GROUP BY 1, 2)
        SELECT CAST(qid AS BIGINT) AS qid, doc_id, score,
               CAST(rank AS INT) AS rank
        FROM (SELECT qid, doc_id, score,
                     row_number() OVER (PARTITION BY qid
                       ORDER BY score DESC, doc_id) AS rank
              FROM sc)
        WHERE rank <= 5"""),
      scaleNote = "the workload's vocabulary broadcasts into the token stream, so the posting build shuffles ONLY matching tokens (query terms, not the corpus); df and the 1-row stats broadcast back; each query's scoring is an equi-join on term against the pruned posting frame and the per-query top-5 prunes in-shuffle (WindowGroupLimit) — adding queries adds posting-join fan-out, never another corpus pass, which is the entire point of serving retrieval off an inverted index"),

    // ----- repetition quality signals (Gopher rules, r14) -------------
    // The repetition half of the quality gate q34's surface ratios
    // miss: boilerplate and degenerate-generation text passes
    // length/stopword/alpha checks while repeating itself — the
    // Gopher curation rules (Rae et al. 2021, §A1.1) filter on
    // within-document n-gram repetition. Per doc: the most frequent
    // WORD and its token share, the most frequent word 2-GRAM and the
    // character share of its occurrences, and the EXCESS characters
    // inside duplicated 3-grams (each duplicated gram counted cnt−1
    // times — the "fraction of characters in duplicated n-grams"
    // signal without the overlap ambiguity of coverage accounting).
    // All shares are exact-integer ppm (cross-multiplied DIV, the r9
    // rule); every argmax is the windowless min(struct(−cnt, gram))
    // with the lexicographic tie-break both engines replicate. The
    // corpus guarantees ≥10 tokens/doc, so every gram family is
    // non-empty; docs with NO duplicated 3-gram (the majority —
    // 467/500 at sf0.001) left-join to an explicit 0.
    "q233_repetition_signals" -> Q(
      fn = (s, d) => repetitionReport(Tables.documents(s, d)),
      sql = Some("""
        WITH base AS (
          SELECT doc_id, string_split(lower(text), ' ') AS w,
                 CAST(length(text) AS BIGINT) AS n_chars
          FROM documents WHERE length(text) > 0),
        uni AS (SELECT doc_id, unnest(w) AS g FROM base),
        uc AS (SELECT doc_id, g, count(*) AS cnt FROM uni GROUP BY 1, 2),
        topw AS (
          SELECT doc_id, first(g ORDER BY cnt DESC, g ASC) AS top_word,
                 max(cnt) AS wcnt, CAST(sum(cnt) AS BIGINT) AS n_tokens
          FROM uc GROUP BY doc_id),
        bi AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(w)),
                   i -> list_extract(w, i) || ' ' ||
                        list_extract(w, i + 1))) AS g
          FROM base),
        bc AS (SELECT doc_id, g, count(*) AS cnt FROM bi GROUP BY 1, 2),
        topb AS (
          SELECT doc_id, first(g ORDER BY cnt DESC, g ASC) AS top_bigram,
                 max(cnt) AS bcnt
          FROM bc GROUP BY doc_id),
        tri AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(w) - 1),
                   i -> list_extract(w, i) || ' ' ||
                        list_extract(w, i + 1) || ' ' ||
                        list_extract(w, i + 2))) AS g
          FROM base),
        tc AS (SELECT doc_id, g, count(*) AS cnt FROM tri GROUP BY 1, 2),
        dup3 AS (
          SELECT doc_id,
                 CAST(sum((cnt - 1) * length(g)) AS BIGINT)
                   AS excess_chars,
                 CAST(count(*) AS BIGINT) AS n_dup3
          FROM tc WHERE cnt >= 2 GROUP BY doc_id)
        SELECT b.doc_id, t.n_tokens, t.top_word,
               t.wcnt * 1000000 // t.n_tokens AS top_word_ppm,
               p.top_bigram,
               p.bcnt * CAST(length(p.top_bigram) AS BIGINT) * 1000000
                 // b.n_chars AS top_bigram_ppm,
               coalesce(d.excess_chars, 0) * 1000000 // b.n_chars
                 AS dup3_ppm,
               coalesce(d.n_dup3, 0) AS n_dup3
        FROM base b
        JOIN topw t ON b.doc_id = t.doc_id
        JOIN topb p ON b.doc_id = p.doc_id
        LEFT JOIN dup3 d ON b.doc_id = d.doc_id"""),
      scaleNote = "every stage keys on doc_id: the gram families explode map-side inside the scan projection (sequence+transform, codegen'd — no self-join on position), each (doc, gram) count partial-aggregates map-side, and the per-doc argmaxes are windowless struct-min folds, so the signals cost one doc_id exchange per gram family and AQE co-plans the final joins on the shared key; grams never cross documents, so there is NO corpus-sized vocabulary shuffle anywhere (contrast q75/q100) and the plan scales with Σ doc length exactly like the q34 surface scorer it composes with — the Gopher cut (drop docs above the repetition thresholds) is then one row-local filter on this frame")
  )

  /** q172's DuckDB mirror, shared VERBATIM with its windowless
    * spelling q243 (the q222/q228 carry-the-oracle discipline): OLS
    * over (ln rank, ln cnt) on the per-source top-200 head.
    */
  private[queries] val ZipfOracleSql: String = """
        WITH t AS (SELECT source, unnest(string_split(lower(text), ' ')) AS token
                   FROM documents),
        c AS (SELECT source, token, count(*) AS cnt FROM t
              WHERE length(token) > 0 GROUP BY 1, 2),
        r AS (SELECT source, cnt, row_number() OVER (PARTITION BY source
                ORDER BY cnt DESC, token) AS rk
              FROM c),
        h AS (SELECT source, ln(CAST(rk AS DOUBLE)) AS x,
                     ln(CAST(cnt AS DOUBLE)) AS y
              FROM r WHERE rk <= 200),
        a AS (SELECT source, count(*) AS n_terms, sum(x) AS sx, sum(y) AS sy,
                     sum(x*y) AS sxy, sum(x*x) AS sxx
              FROM h GROUP BY 1)
        SELECT source, n_terms,
               round((n_terms*sxy - sx*sy) / (n_terms*sxx - sx*sx), 6)
                 AS zipf_slope
        FROM a WHERE n_terms >= 2"""

  /** q243's body, factored out so the empty-corpus totality guard is
    * spec-testable on a fixture frame (`docsDf` needs source + text).
    */
  private[queries] def zipfWindowless(docsDf: DataFrame): DataFrame = {
    val R = 200
    val counts = docsDf
      .select(col("source"),
        explode(split(lower(col("text")), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // ONE vocabulary build feeds every leg
    val sources = counts.select(col("source"))
      .distinct().collect().map(_.getString(0)).sorted
    // empty-corpus totality (r15 review fix): reduce on an empty
    // leg list throws where q172 and the oracle return 0 rows —
    // an empty counts frame short-circuits to its own empty self
    val heads =
      if (sources.isEmpty) counts.limit(0)
      else sources.map { src =>
        counts.filter(col("source") === src)
          .orderBy(col("cnt").desc, col("token"))
          .limit(R)
      }.reduce(_ unionByName _)
    heads.groupBy(col("source"))
      .agg(sort_array(collect_list(
        struct((-col("cnt")).as("negcnt"), col("token")))).as("h"))
      .select(col("source"), posexplode(col("h")))
      .select(col("source"),
        log((col("pos") + 1).cast("double")).as("x"),
        log((-col("col.negcnt")).cast("double")).as("y"))
      .transform(zipfFit)
  }

  /** q172/q243's per-source OLS slope of y = ln cnt on x = ln rank over
    * a (source, x, y) head, for sources with at least two terms */
  private def zipfFit(xy: DataFrame): DataFrame =
    xy.groupBy(col("source"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .filter(col("n_terms") >= 2)
      .select(col("source"), col("n_terms"),
        round((col("n_terms") * col("sxy") - col("sx") * col("sy")) /
          (col("n_terms") * col("sxx") - col("sx") * col("sx")), 6)
          .as("zipf_slope"))

  /** q233's report body, factored out so the totality guard is
    * spec-testable on a fixture frame (`docsDf` needs doc_id + text).
    */
  private[queries] def repetitionReport(docsDf: DataFrame): DataFrame = {
    val base = docsDf.filter(length(col("text")) > 0)
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"),
        length(col("text")).cast("long").as("n_chars"))
    val uc = base.select(col("doc_id"), explode(col("w")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
    val topw = uc.groupBy(col("doc_id"))
      .agg(min(struct((-col("cnt")).as("negcnt"), col("g"))).as("m"),
        max(col("cnt")).as("wcnt"),
        sum(col("cnt")).cast("long").as("n_tokens"))
      .select(col("doc_id"), col("m.g").as("top_word"),
        col("wcnt"), col("n_tokens"))
    // the size guards matter: sequence(0, -1) generates DESCENDING
    // [0, -1] (not empty), so an unguarded builder on a 1-token doc
    // would emit null grams where DuckDB's range(1, len) is simply
    // empty — a latent engine/oracle divergence the ≥10-token
    // corpus never exercises
    val bc = base.select(col("doc_id"),
        explode(expr("CASE WHEN size(w) >= 2 THEN " +
          "transform(sequence(0, size(w) - 2), " +
          "i -> concat(w[i], ' ', w[i + 1])) " +
          "ELSE CAST(array() AS array<string>) END")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
    val topb = bc.groupBy(col("doc_id"))
      .agg(min(struct((-col("cnt")).as("negcnt"), col("g"))).as("m"),
        max(col("cnt")).as("bcnt"))
      .select(col("doc_id"), col("m.g").as("top_bigram"), col("bcnt"))
    val dup3 = base.select(col("doc_id"),
        explode(expr("CASE WHEN size(w) >= 3 THEN " +
          "transform(sequence(0, size(w) - 3), " +
          "i -> concat(w[i], ' ', w[i + 1], ' ', w[i + 2])) " +
          "ELSE CAST(array() AS array<string>) END")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .groupBy(col("doc_id"))
      .agg(sum((col("cnt") - 1) * length(col("g"))).cast("long")
          .as("excess_chars"),
        count(lit(1)).cast("long").as("n_dup3"))
    // LEFT join + in-plan raise_error (ADVICE r14): a non-empty doc
    // shorter than 2 tokens used to vanish via the inner bigram join
    // in BOTH engines — the one-row-per-non-empty-doc totality rested
    // on the unchecked ≥10-token corpus guarantee. Now a corpus that
    // breaks the guarantee fails LOUDLY (the q228 guard stance)
    // instead of silently shrinking the report.
    base.select(col("doc_id"), col("n_chars"))
      .join(topw, "doc_id").join(topb, Seq("doc_id"), "left")
      .join(dup3, Seq("doc_id"), "left")
      .withColumn("bcnt",
        when(col("bcnt").isNotNull, col("bcnt"))
          .otherwise(raise_error(concat(
            lit("q233: non-empty doc "), col("doc_id").cast("string"),
            lit(" has no bigram (< 2 tokens) — one-row-per-doc " +
              "totality violated; extend the report's short-doc " +
              "defaults before trusting this corpus")))))
      .select(col("doc_id"), col("n_tokens"), col("top_word"),
        expr("wcnt * CAST(1000000 AS BIGINT) DIV n_tokens")
          .as("top_word_ppm"),
        col("top_bigram"),
        expr("bcnt * CAST(length(top_bigram) AS BIGINT) * 1000000" +
          " DIV n_chars").as("top_bigram_ppm"),
        expr("coalesce(excess_chars, CAST(0 AS BIGINT)) * 1000000" +
          " DIV n_chars").as("dup3_ppm"),
        coalesce(col("n_dup3"), lit(0L)).as("n_dup3"))
  }
}
