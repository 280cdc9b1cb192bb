package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables
import graft.streaming.EventStreams

/** Batch twins of the streaming operators (SURVEY.md §2B E17).
  *
  * The same EventStreams transform runs here on a batch frame so the
  * DuckDB oracle can value-check windowing/session semantics;
  * StreamingSpec replays identical rows through readStream micro-
  * batches and asserts row-for-row agreement with these plans.
  */
object Streaming extends Catalog {

  private def events(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "events")

  /** q153's DuckDB mirror (gaps-and-islands sessions + three
    * per-session frames), shared VERBATIM with its streaming twin
    * q242 — the q223/q229 carry-the-oracle discipline.
    */
  private[queries] val SessionAttributionOracleSql: String = """
        WITH marked AS (
          SELECT user_id, ts::TIMESTAMP AS ts, event_id, event_type, value,
                 -- STRICTLY > gap: Spark's session_window merges an
                 -- event landing at exactly lastEvent + gap into the
                 -- session (inclusive window-touch merge), so the
                 -- islands twin must only break on a LARGER gap —
                 -- proven by the exact-300s boundary case in
                 -- PipelineCatalogsSpec (invisible on the continuous
                 -- corpus, where exact boundaries have measure zero)
                 CASE WHEN ts::TIMESTAMP - lag(ts::TIMESTAMP) OVER w
                        > INTERVAL 5 MINUTE
                      OR lag(ts::TIMESTAMP) OVER w IS NULL THEN 1 ELSE 0
                 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessions AS (
          SELECT user_id, ts, event_id, event_type, value,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM marked
        ), st AS (
          SELECT user_id, sid, epoch_us(min(ts)) AS s_start
          FROM sessions GROUP BY 1, 2
        ), fc AS (
          SELECT user_id, sid, event_id FROM (
            SELECT user_id, sid, event_id, row_number() OVER
              (PARTITION BY user_id, sid ORDER BY ts, event_id) AS rk
            FROM sessions WHERE event_type = 'click') WHERE rk = 1
        ), p AS (
          SELECT user_id, sid, count(*) AS n_purchases,
                 round(sum(value), 6) AS attributed_value
          FROM sessions WHERE event_type = 'purchase' GROUP BY 1, 2)
        SELECT st.user_id, st.s_start, fc.event_id AS first_click_id,
               p.n_purchases, p.attributed_value
        FROM st
        JOIN fc ON fc.user_id = st.user_id AND fc.sid = st.sid
        JOIN p ON p.user_id = st.user_id AND p.sid = st.sid"""

  /** q176/q182's shared example frame: 30-min gaps-and-islands
    * sessions (exact-microsecond gap test, event_id tie-break), one
    * row per in-session event from the second onward, with the
    * up-to-3-type lag context and the immediately-preceding type.
    * Every window shares the single user_id exchange.
    */
  private def nextEventExamples(
      s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val ws = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val w2 = Window.partitionBy(col("user_id"), col("sid"))
      .orderBy(col("ts"), col("event_id"))
    events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("new_s",
        when(lag(col("us"), 1).over(w).isNull ||
          col("us") - lag(col("us"), 1).over(w) > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(ws))
      .withColumn("pos", row_number().over(w2).cast("long"))
      .withColumn("context", concat_ws(" > ",
        lag(col("event_type"), 3).over(w2),
        lag(col("event_type"), 2).over(w2),
        lag(col("event_type"), 1).over(w2)))
      .withColumn("cur", lag(col("event_type"), 1).over(w2))
      .filter(col("pos") >= 2)
  }

  /** the DuckDB spelling of [[nextEventExamples]] as CTEs
    * marked/sess/ex (ex carries pos, context, cur, label=event_type)
    * — composed into q176's and q182's oracles so the session and
    * split definitions can never drift
    */
  private val nextEventSqlCtes: String = """marked AS (
          SELECT user_id, ts, event_id, event_type,
                 CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                        OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                           > 1800 * 1000000
                      THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sess AS (
          SELECT user_id, ts, event_id, event_type,
                 CAST(sum(new_s) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS sid
          FROM marked),
        ex AS (
          SELECT user_id, sid,
                 CAST(row_number() OVER w2 AS BIGINT) AS pos,
                 concat_ws(' > ',
                   lag(event_type, 3) OVER w2,
                   lag(event_type, 2) OVER w2,
                   lag(event_type, 1) OVER w2) AS context,
                 lag(event_type, 1) OVER w2 AS cur,
                 event_type AS label
          FROM sess
          WINDOW w2 AS (PARTITION BY user_id, sid ORDER BY ts, event_id))"""

  /** q176's oracle, shared verbatim with q229 (the q199/q212/q217/q223
    * discipline: the streaming service form carries the batch twin's
    * exact gate)
    */
  private[queries] val NextEventOracleSql: String = s"""
        WITH $nextEventSqlCtes
        SELECT user_id, sid, pos, context, label,
               CASE WHEN user_id % 10 < 8 THEN 'train' ELSE 'eval' END AS split
        FROM ex WHERE pos >= 2"""

  /** ONE definition of the state-v2 replay child session —
    * ChildSessions memoizes per (parent, profile), so per-query copies
    * of this block would be dead code after the first caller and a
    * drift hazard (run-order-dependent config); every replay query
    * calls this instead (r15 review fix).
    *  - RocksDB provider: state-v2 transformWithState requires it.
    *  - 8 state partitions: sized to the replay fixtures' key
    *    cardinality (O(10) event types / O(1e3) users), not the batch
    *    engine's CPU count — every micro-batch commits EVERY state
    *    partition's RocksDB store, so 32 mostly-empty stores per batch
    *    was pure fixed overhead (~2/3 of q217's suite reading,
    *    measured min-of-3 r15). Production sizes this to key
    *    cardinality × state size, the same knob.
    */
  private def rocksDbChild(s0: SparkSession): SparkSession =
    ChildSessions.get(s0, "rocksdb-state") { s2 =>
      s2.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      // changelog checkpointing (r17, guide §1/§2 "measure, then cut
      // the per-batch constant"): the default uploads a full RocksDB
      // snapshot per store per commit; with the changelog, a commit
      // appends only the batch's changed keys and snapshots move to
      // background maintenance — the production-recommended setting
      // for exactly this shape (many commits, small per-batch state
      // deltas), and the same knob a 100 TB deployment flips. State
      // semantics are unchanged (replay = snapshot + changelog);
      // measured r17 (same-JVM min-of-3 A/B, changelog off→on, all
      // else equal): q223 4.27→3.31 s, q242 4.69→3.66 s, with the
      // q217/q229/q256 replays in the same −0.3..−0.7 s band, at
      // identical oracle output.
      s2.conf.set("spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled", "true")
    }

  /** q242/q256's emitted attribution rows, the sentinel user's
    * flush row dropped */
  private def attributionRows(sentinelUser: Long)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, round}
    df.filter(col("user_id") =!= sentinelUser)
      .select(col("user_id"), col("s_start"), col("first_click_id"),
        col("n_purchases"),
        round(col("attributed_value"), 6).as("attributed_value"))
  }

  override def queries: Map[String, Q] = Map(

    // ----- session-scoped first-touch attribution -------------------
    // The classic attribution query over q39's sessions: within each
    // 5-minute-gap session, credit the session's purchases to its
    // FIRST click (by ts, event_id) — first-touch; sessions lacking a
    // click or a purchase drop out. The engine states it as ONE
    // session_window aggregate (min-of-struct picks the first click,
    // conditional sums take the purchases); the oracle rebuilds the
    // sessions as q39's gaps-and-islands and joins three per-session
    // frames — the gate proves the single-agg and the relational
    // formulations equivalent. Purchase-value sums round(,6) (q123's
    // multi-addend double emit discipline).
    "q153_session_attribution" -> Q(
      fn = (s, d) => {
        import org.apache.spark.sql.functions._
        events(s, d)
          .groupBy(session_window(col("ts"), "5 minutes").as("w"),
            col("user_id"))
          .agg(
            min(when(col("event_type") === "click",
              struct(col("ts"), col("event_id")))).as("fc"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("n_purchases"),
            round(sum(when(col("event_type") === "purchase", col("value"))), 6)
              .as("attributed_value"))
          .filter(col("fc").isNotNull && col("n_purchases") > 0)
          .select(col("user_id"),
            unix_micros(col("w.start")).as("s_start"),
            col("fc.event_id").as("first_click_id"),
            col("n_purchases"), col("attributed_value"))
      },
      sql = Some(SessionAttributionOracleSql),
      scaleNote = "one shuffle on user_id, sessions merge in-state inside the session_window aggregate, and the whole attribution is conditional columns of that ONE agg — no session materialization, no self-joins (the oracle's three-frame join is the formulation this plan avoids); the streaming twin is the same per-session fold behind a watermark — REGISTERED as q242 under this oracle VERBATIM"),

    // ----- tumbling window agg --------------------------------------
    "q37_tumbling_window" -> Q(
      fn = (s, d) => EventStreams.tumblingCounts(events(s, d), withWatermarkCol = false),
      sql = Some("""
        SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts::TIMESTAMP)) AS w_start,
               event_type, count(*) AS n, sum(value) AS sum_value
        FROM events GROUP BY 1, 2"""),
      scaleNote = "map-side partial agg per (window,type); watermark (streaming twin) bounds state to ~1 h per key"),

    // ----- sliding window agg ---------------------------------------
    "q38_sliding_window" -> Q(
      fn = (s, d) => EventStreams.slidingCounts(events(s, d), withWatermarkCol = false),
      sql = Some("""
        SELECT epoch_us(time_bucket(INTERVAL 30 MINUTE, ts::TIMESTAMP)
                 - o * INTERVAL 30 MINUTE) AS w_start,
               count(*) AS n, avg(value) AS avg_value
        FROM (SELECT ts, value, unnest([0, 1]) AS o FROM events)
        GROUP BY 1"""),
      scaleNote = "1h/30min slide = 2 windows per event, expanded before the shuffle — same Expand strategy as rollup"),

    // ----- session windows (5 min gap) ------------------------------
    "q39_session_window" -> Q(
      fn = (s, d) => EventStreams.sessionCounts(events(s, d), withWatermarkCol = false),
      sql = Some("""
        WITH marked AS (
          SELECT user_id, ts::TIMESTAMP AS ts, event_id, value,
                 -- strictly > gap: see q153's boundary note (Spark
                 -- merges an exactly-touching event into the session)
                 CASE WHEN ts::TIMESTAMP - lag(ts::TIMESTAMP) OVER w > INTERVAL 5 MINUTE
                      OR lag(ts::TIMESTAMP) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
          FROM events
          -- event_id tiebreak: two untied ORDER BY ts sorts could place
          -- duplicate-(user,ts) rows differently across the lag and the
          -- running-sum windows (latent sid flake; engine session_window
          -- is natively tie-deterministic)
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessions AS (
          SELECT user_id, ts, value,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM marked)
        SELECT user_id,
               epoch_us(min(ts)) AS s_start,
               epoch_us(max(ts) + INTERVAL 5 MINUTE) AS s_end,
               count(*) AS n, sum(value) AS sum_value
        FROM sessions GROUP BY user_id, sid"""),
      scaleNote = "session_window is a first-class Spark operator — one shuffle on user_id, sessions merged in-state; the SQL twin is the gaps-and-islands equivalent"),

    // ----- q164: deterministic per-key uniform k-sample -------------
    // The batch twin of EventStreams.reservoirPerUser — a uniform
    // without-replacement sample of k = 4 events per user that a
    // STREAM can maintain with k rows of state per key: rank every
    // event by a salt-keyed md5 hash (the q60/q146 reproducibility
    // discipline — the "randomness" is a pure function of event_id,
    // so retries, replays, and re-runs agree) and keep the k smallest
    // per user. Min-k of a fixed hash order is mergeable (the KMV
    // law), which is exactly why the streaming version needs no
    // arrival-order-dependent Algorithm-R state; StreamingSpec
    // asserts the final streamed sample equals this query.
    "q164_reservoir_sample" -> Q(
      fn = (s, d) => {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        events(s, d)
          .select(col("user_id"), col("event_id"),
            conv(substring(md5(concat(lit("rs:"),
              col("event_id").cast("string"))), 1, 12), 16, 10)
              .cast("long").as("samp_rank"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("user_id"))
              .orderBy(col("samp_rank"), col("event_id"))).cast("long"))
          .filter(col("rn") <= 4)
      },
      sql = Some(s"""
        WITH h AS (
          SELECT user_id, event_id,
                 ${OracleSql.hex48("md5('rs:' || CAST(event_id AS VARCHAR))")}
                   AS samp_rank
          FROM events)
        SELECT user_id, event_id, samp_rank, rn
        FROM (SELECT user_id, event_id, samp_rank,
                     row_number() OVER (PARTITION BY user_id
                       ORDER BY samp_rank, event_id) AS rn
              FROM h)
        WHERE rn <= 4"""),
      scaleNote = "the rank is one map-side hash; the per-key top-k collapses in-shuffle via WindowGroupLimit (per-partition heaps before the user_id exchange), so the plan is one skinny shuffle whatever the feed size — and the streaming twin holds k rows per key in the state store, folding new batches by the same mergeable min-k law"),

    // ----- q176: sessionized next-event training examples -----------
    // The engine's training-data story applied to LOGS instead of
    // text: build (context → label) supervised examples for a
    // next-event / next-item model straight from the event stream.
    // Sessions are q39's gaps-and-islands (30-min gap here, strictly
    // >, event_id tie-break); within a session every event from the
    // second onward becomes one example whose context is the up-to-3
    // preceding event types in order. The train/eval split cuts BY
    // USER (user_id mod 10), never by example — examples from one
    // user's session sharing a boundary would leak the very sequence
    // correlations the model is supposed to learn (q116's
    // group-aware-split principle, applied to behavioral data).
    // Pure integer/string emissions — the gap test runs on exact
    // microsecond longs in both engines.
    "q176_next_event_examples" -> Q(
      fn = (s, d) => {
        import org.apache.spark.sql.functions._
        nextEventExamples(s, d)
          .select(col("user_id"), col("sid"), col("pos"),
            col("context"), col("event_type").as("label"),
            when(pmod(col("user_id"), lit(10)) < 8, "train")
              .otherwise("eval").as("split"))
      },
      sql = Some(NextEventOracleSql),
      scaleNote = "one user_id shuffle feeds every window (the session lag, the running sid sum, and the per-session lags all share the same partitioning, so Catalyst plans ONE exchange + one sort); per-user state is a sort run, never materialized n² context — contexts are built by lag, not self-join; the by-user split is a map-side mod, and at 100 TB this whole construction is the standard sessionize-then-window pass every behavioral-ML pipeline already pays — the streaming twin is REGISTERED as q229 under this oracle verbatim"),

    // ----- q182: Markov next-event baseline on q176's split ---------
    // The evaluation loop q176's dataset exists for, closed with the
    // simplest honest model: a first-order Markov predictor — per
    // current event type, the train split's most frequent successor —
    // scored on the HELD-OUT users. This is the baseline every
    // sequence model must beat, and computing it inside the engine
    // means dataset, model and metric share one definition of the
    // split (no train/eval skew between pipeline and evaluation
    // harness). Argmax ties break lexicographically; eval rows whose
    // current type never appeared in train fall back to no
    // prediction and count as misses (the honest accounting).
    // All-integer emissions: counts and exact ppm accuracies.
    "q182_markov_baseline" -> Q(
      fn = (s, d) => {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        val ex = nextEventExamples(s, d)
          .select(col("user_id"), col("cur"),
            col("event_type").as("label"))
          .localCheckpoint() // one sessionize feeds train AND eval
        val model = ex.filter(pmod(col("user_id"), lit(10)) < 8)
          .groupBy(col("cur"), col("label")).agg(count(lit(1)).as("cnt"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("cur"))
              .orderBy(col("cnt").desc, col("label"))))
          .filter(col("rk") === 1)
          .select(col("cur"), col("label").as("pred"))
        val scored = ex.filter(pmod(col("user_id"), lit(10)) >= 8)
          .join(broadcast(model), Seq("cur"), "left")
          .select(col("cur"),
            (col("pred").isNotNull && col("pred") === col("label"))
              .cast("long").as("ok"))
        val per = scored.groupBy(col("cur"))
          .agg(count(lit(1)).as("n_eval"), sum(col("ok")).as("n_correct"))
        per.unionByName(
            scored.agg(count(lit(1)).as("n_eval"),
              sum(col("ok")).as("n_correct"))
              .select(lit("ALL").as("cur"), col("n_eval"), col("n_correct")))
          .select(col("cur"), col("n_eval"), col("n_correct"),
            expr("n_correct * CAST(1000000 AS BIGINT) DIV n_eval")
              .as("acc_ppm"))
      },
      sql = Some(s"""
        WITH $nextEventSqlCtes,
        exf AS (SELECT user_id, cur, label FROM ex WHERE pos >= 2),
        model AS (
          SELECT cur, label AS pred FROM (
            SELECT cur, label, row_number() OVER (PARTITION BY cur
              ORDER BY count(*) DESC, label) AS rk
            FROM exf WHERE user_id % 10 < 8 GROUP BY cur, label)
          WHERE rk = 1),
        scored AS (
          SELECT e.cur,
                 CASE WHEN m.pred IS NOT NULL AND m.pred = e.label
                      THEN 1 ELSE 0 END AS ok
          FROM exf e LEFT JOIN model m ON m.cur = e.cur
          WHERE e.user_id % 10 >= 8),
        per AS (
          SELECT cur, count(*) AS n_eval,
                 CAST(sum(ok) AS BIGINT) AS n_correct
          FROM scored GROUP BY 1
          UNION ALL
          SELECT 'ALL', count(*), CAST(sum(ok) AS BIGINT) FROM scored)
        SELECT cur, n_eval, n_correct,
               n_correct * 1000000 // n_eval AS acc_ppm
        FROM per"""),
      scaleNote = "the corpus pays the q176 sessionize pass ONCE (localCheckpoint feeds both splits); the model is |event-types|² transition counts collapsing map-side into a frame small enough to broadcast back, so scoring is map-side; the accuracy fold is per event type plus one global row — the same shape at any scale, because the model size is set by the type vocabulary, not the event volume"),

    // ----- q199: streaming CUSUM vs the batch detector's oracle -----
    // The q188 precedent applied to q194 (VERDICT r11 item 3): the
    // streaming service form must carry the SAME oracle as its batch
    // twin, not just a spec. q194's daily feed — the planted
    // click-doubling, the integer reference k = µ + µ/20 and
    // threshold h = 2µ — is rebuilt by the identical plan up to the
    // detector, then replayed in day-ordered chunks through
    // EventStreams.cusumPerKey (flatMapGroupsWithState, TWO longs of
    // state per key), so batch boundaries cut ACROSS each key's
    // series and the cross-batch state carry is what the oracle
    // hash gates. No deliberate redelivery here, unlike q188: the
    // CUSUM state ACCUMULATES (p += x − k), so its contract is
    // ordered exactly-once per row — IvmSink could absorb a replayed
    // batch because its partials are pure functions of the batch;
    // a replayed CusumRow would double-fold. The honest statement of
    // that contract is this comment plus upstream exactly-once
    // delivery (Kafka offsets / checkpointed sources), not a
    // redelivery stunt that happens to pass.
    "q199_streaming_cusum" -> Q(
      fn = (s0, d) => {
        import org.apache.spark.sql.functions._
        // 8 state partitions (r17): the rocksDbChild sizing note
        // applies verbatim to this GroupState replay — every
        // micro-batch commits EVERY state partition's store, and the
        // parent session's 32 CPU-count partitions were 4x pure fixed
        // overhead against a |event-types|-key feed; the provider
        // stays the default (HDFS-backed — flatMapGroupsWithState
        // needs no state-v2, and tiny per-key state favors it)
        val s = ChildSessions.get(s0, "replay-state-8") { s2 =>
          s2.conf.set("spark.sql.shuffle.partitions", "8")
        }
        import s.implicits._
        // q194's plan, verbatim, up to the detector input
        val daily = Analytics.driftDaily(s, d)
        val ref = daily.filter(col("d") < col("cut"))
          .groupBy(col("event_type"))
          .agg(expr("sum(x) DIV count(1)").as("mu"))
        // the feed is the |types × days| DAILY frame, not raw events —
        // bounded at any corpus size, so driver-side staging into the
        // MemoryStream is principled (in production this arrives AS
        // the stream; collect() here stands in for the source)
        val feed = daily.join(broadcast(ref), "event_type")
          .select(col("event_type"), col("d"), col("x"), col("mu"))
          .as[(String, Long, Long, Long)].collect()
          .sortBy(r => (r._2, r._1))
          .map { case (et, day, x, mu) =>
            EventStreams.CusumRow(et, day, x, mu + mu / 20, 2 * mu) }
        // 50-row chunks KEPT (r17 — measured, not assumed): a 5-chunk
        // seam schedule (the q242 batch-count lesson) was tried and
        // was ~0.6 s SLOWER here than the 40-batch replay once the
        // state partitions were right-sized — with 8 tiny stores the
        // per-commit constant is small enough that batch count no
        // longer dominates, and the denser schedule exercises the
        // cross-batch carry ~40 times per key for free.
        replayChunked(s, feed.toSeq, 50, "q199_cusum")(
            EventStreams.cusumPerKey)
          .select(col("key").as("event_type"),
            col("d"), col("x"), col("s"), col("alarm"))
      },
      sql = Some(Analytics.CusumOracleSql),
      scaleNote = "the detector state is TWO longs per key (running prefix sum + prefix min), so a 100 TB deployment keys by entity (user/source/partition) and the state store holds O(|entities|) longs, not history; upstream, raw events collapse map-side to the |keys × days| daily frame exactly as in batch q194 — the stream carries daily partials, never raw volume; the oracle is byte-identical to q194's, so the service and the closed-form batch spelling are gated against each other every round"),

    // ----- q212: streaming EWMA control chart (q207's service form,
    // r13) -------------------------------------------------------------
    // The q199 precedent applied to q207: the same |types × days|
    // daily feed (with each key's trained reference broadcast onto
    // it) replayed in day-ordered 50-row chunks through
    // EventStreams.ewmaChartPerKey — a state-v2 transformWithState
    // processor carrying (z, g) per key in the RocksDB store the new
    // API requires (a conf-private child session, the q84/q129/q141
    // ChildSessions discipline, so the shared session's provider is
    // never touched). The recurrence, seeding, and alarm float
    // expression are q207's verbatim, so the chunked stream is
    // bit-identical to the batch scan and carries q207's EXACT oracle
    // (shared Analytics.EwmaChartOracleSql — the q185/q188 stance).
    // Accumulating-state contract as q199: ordered per-key ingestion,
    // no redelivery — documented, not stunted.
    "q212_streaming_ewma_chart" -> Q(
      fn = (s0, d) => {
        import org.apache.spark.sql.functions._
        val s = rocksDbChild(s0)
        import s.implicits._
        // q207's plan, verbatim, up to the chart input
        val daily = Analytics.driftDaily(s, d)
        val ref = daily.filter(col("d") < col("cut"))
          .groupBy(col("event_type"))
          .agg(expr("sum(x) DIV count(1)").as("mu"),
            expr("count(1) * sum(x * x) - sum(x) * sum(x)").as("varnum"),
            count(lit(1)).as("n0"))
        // the feed is the bounded |types × days| daily frame (q199's
        // documented staging stance: in production this arrives AS the
        // stream; collect() stands in for the source)
        val feed = daily.join(broadcast(ref), "event_type")
          .select(col("event_type"), col("d"), col("x"),
            col("mu"), col("varnum"), col("n0"))
          .as[(String, Long, Long, Long, Long, Long)].collect()
          .sortBy(r => (r._2, r._1))
          .map { case (et, day, x, mu, varnum, n0) =>
            EventStreams.ChartRow(et, day, x, mu, varnum, n0) }
        replayChunked(s, feed.toSeq, 50, "q212_ewma")(
            EventStreams.ewmaChartPerKey)
          .select(col("key").as("event_type"),
            col("d"), col("x"), col("z"), col("alarm"))
      },
      sql = Some(Analytics.EwmaChartOracleSql),
      scaleNote = "chart state is THREE doubles per key (z, the carried limit factor g, and the store key), so a 100 TB deployment keys by entity and the RocksDB store holds O(|entities|) state — history never materializes; upstream identical to q199: raw events collapse map-side to daily partials before the stream sees anything; state-v2 is the right surface here because a production chart adds per-key TTL and timer-driven heartbeat alarms, which GroupState cannot express — and the oracle is byte-identical to q207's, so the service and the batch scan are gated against each other every round"),

    // ----- q217: streaming Holt-Winters forecaster (q213's service
    // form, r13) --------------------------------------------------------
    // The forecast-as-a-service spelling: tomorrow's one-step forecast
    // must be READY when tomorrow's partial arrives, not recomputed
    // from history — so the q213 smoother runs as keyed streaming
    // state. The wrinkle q212 didn't have is the SEED: the smoother
    // needs a full period before its first forecast, and the replay's
    // 20-row chunks deliberately SPLIT every key's seed week across
    // micro-batches, so the state carries the partial seed buffer
    // until row 7 lands. Recurrence and coefficients are q213's
    // verbatim; the oracle is q213's byte-identical SQL (the
    // q199/q212 stance), so service and batch backtest gate each
    // other every round.
    "q217_streaming_holt_winters" -> Q(
      fn = (s0, d) => {
        import org.apache.spark.sql.functions._
        val s = rocksDbChild(s0)
        import s.implicits._
        // q213's planted daily feed, verbatim
        val daily0 = Tables.load(s, d, "events")
          .select(col("event_type"),
            expr("unix_micros(date_trunc('day', ts))").as("d"))
          .groupBy(col("event_type"), col("d"))
          .agg(count(lit(1)).as("x0"))
        val ref = daily0.groupBy(col("event_type"))
          .agg(expr("sum(x0) DIV count(1)").as("mu"))
        val feed = daily0.join(broadcast(ref), "event_type")
          .select(col("event_type"), col("d"),
            (col("x0") + when(
              (col("d") / lit(86400000000L) + 4) % 7 === 6, col("mu") * 2)
              .otherwise(0L)).as("x"))
          .as[(String, Long, Long)].collect()
          .sortBy(r => (r._2, r._1))
          .map { case (et, day, x) => EventStreams.HwRow(et, day, x) }
        // seed-split replay schedule (r15, VERDICT item 6): the state
        // contract is that every key's SEED WEEK crosses micro-batch
        // boundaries — which needs boundaries inside every key's
        // first 7 rows, NOT 20-row round-trips over the whole
        // multi-year feed (at sf0.1 that was ~100
        // processAllAvailable cycles and the entire 7 s suite
        // reading). Three chunks split every key's seed twice; the
        // post-seed remainder replays in 6 chunks — the per-boundary
        // (l, b, s[7]) scalar carry is the same contract at any
        // chunk width, and the oracle gates the output
        // byte-identically either way. The span is derived from the
        // DATA — the max over keys of the global offset of each
        // key's 7th row — not from 7·|keys| (which silently assumed
        // every key's series starts on the feed's first day; a key
        // first appearing later would have its whole seed week land
        // in the post-seed region, un-exercised — ADVICE r15).
        val seedSpan = {
          val seen = scala.collection.mutable.Map.empty[String, Int]
          var span = 0
          feed.zipWithIndex.foreach { case (r, i) =>
            val c = seen.getOrElse(r.key, 0) + 1
            seen(r.key) = c
            if (c == 7) span = math.max(span, i + 1)
          }
          // the 3-chunk split below places boundaries at span/3 and
          // 2·span/3 — that splits EVERY key's seed twice only when
          // keys interleave uniformly from day 1 (each key's rows 1-7
          // spread across the whole span). A key starting days late
          // stretches span and silently parks EARLY keys' whole seeds
          // inside one chunk (r16 review finding), so the assumption
          // is ENFORCED: on this corpus every event_type posts daily
          // counts from the first day, making span exactly 7·|keys|.
          // If the corpus shape ever changes, fail loudly here and
          // re-derive the schedule (interval stabbing over each key's
          // [first, seventh] range) instead of weakening the gate.
          require(span == 7 * seen.size,
            s"q217 seed-split schedule assumes a uniformly interleaved " +
              s"feed (every key daily from day 1): got span=$span for " +
              s"${seen.size} keys (expected ${7 * seen.size})")
          span
        }
        val (seedRows, rest) = feed.toSeq.splitAt(seedSpan)
        replayChunks(s,
            (seedRows.grouped(math.max(1, (seedSpan + 2) / 3)) ++
              rest.grouped(math.max(1, (rest.length + 2) / 3))).toSeq,
            "q217_hw")(EventStreams.holtWintersPerKey)
          .select(col("key").as("event_type"),
            col("d"), col("x"), col("fc"))
      },
      sql = Some(Analytics.HoltWintersOracleSql),
      scaleNote = "forecaster state is nine doubles per key once seeded (l, b, s[7]) plus a bounded seed buffer before — a 100 TB deployment keys by entity and serves the NEXT forecast as (l + b) + s[slot] straight from the store, no history scan; upstream identical to q199/q212 (daily partials, never raw volume); the seed-across-chunks carry is the state contract a real ingest (where a key's first week spans many micro-batches) actually exercises, and the oracle is byte-identical to q213's recursive-CTE mirror"),

    // ----- q223: streaming rolling z-score (q149's service form, r14)
    // -------------------------------------------------------------------
    // The promise at q149's scaleNote, registered (VERDICT r13 item
    // 3): the bounded 10-row window becomes a 10-deep RING BUFFER per
    // user on the state-v2 transformWithState surface, and the
    // chunked replay carries q149's batch oracle VERBATIM (shared
    // Analytics.RollingZscoreOracleSql — the q199/q212/q217 stance).
    // Unlike those three, the feed here is PER-EVENT, not per-day —
    // so the replay cuts every user's event history across 8
    // micro-batches (fixed chunk COUNT, so the split stays
    // non-vacuous at every SF) and the ring carry across batch
    // boundaries is what the oracle hash gates. The collect() below
    // stages the corpus into the MemoryStream because a deterministic
    // full-corpus replay IS the gate; it is NOT the production path —
    // a real deployment readStreams the events source directly and
    // never routes data through the driver (the r13 anti-pattern
    // sweep's exact warning, honored by construction here: this seam
    // exists only where a DuckDB-checked replay needs it).
    "q223_streaming_rolling_zscore" -> Q(
      fn = (s0, d) => {
        import org.apache.spark.sql.functions._
        val s = rocksDbChild(s0)
        import s.implicits._
        // q149's per-event frame, verbatim: exact integer cents of the
        // event value, ordered by (ts, event_id) within each user.
        // The collect() is MemoryStream FIXTURE STAGING only (the
        // r13-adjudicated q199/q212/q217 stance): in production these
        // rows arrive AS the stream — nothing here collects in the
        // service path, and the feed is bounded by the test corpus.
        val feed = Tables.load(s, d, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_id"),
            round(col("value") * 100).cast("long").as("c"))
          .as[(Long, Long, Long, Long)].collect()
          .sortBy(r => (r._2, r._3))
          .map { case (uid, us, eid, c) => EventStreams.ZRow(uid, us, eid, c) }
        replayChunked(s, feed.toSeq, math.max(1, (feed.length + 3) / 4),
            "q223_zscore")(EventStreams.rollingZscorePerUser)
          .select(col("event_id"), col("user_id"),
            col("z_sign"), col("z2_permille"), col("is_anomaly"))
      },
      sql = Some(Analytics.RollingZscoreOracleSql),
      scaleNote = "detector state is at most 13 longs per key (count, last-folded (us, id), 10-ring) behind one RocksDB ValueState, so a 100 TB deployment holds O(|users|) state with zero history — and unlike the daily-frame monitors the stream here IS the raw event volume, which is exactly what keyed state-v2 processors are built for: the user_id exchange shards the store, each event folds in O(ring) work, and the ordering contract is self-enforcing (late/redelivered events drop instead of corrupting the ring — the ADVICE r13 discipline, built in from birth)"),

    // ----- q229: streaming next-event example builder (q176's service
    // form, r14) ---------------------------------------------------------
    // The training-data pipeline as a SERVICE: q176 builds (context →
    // label) examples by sessionize-then-lag over the batch corpus;
    // this registers the same construction as keyed streaming state
    // (EventStreams.nextEventExamplesPerUser) so examples for an
    // online learner exist the moment the event lands — no windows,
    // no lag: per user the state is (last (us, id), session counter,
    // position, 3-deep type ring), and each arriving event either
    // opens a session (strict 30-min gap, batch rule verbatim) or
    // emits exactly the example row batch q176 emits. Gated by q176's
    // oracle VERBATIM (shared NextEventOracleSql); the 8-chunk
    // replay splits users' sessions across micro-batches so the
    // session-carry (not just a scalar) is what the hash gates.
    // Collect-staging stance as q223: the deterministic full-corpus
    // replay IS the gate; production readStreams the source.
    "q229_streaming_next_event" -> Q(
      fn = (s0, d) => {
        import org.apache.spark.sql.functions._
        val s = rocksDbChild(s0)
        import s.implicits._
        // collect() = MemoryStream FIXTURE STAGING only (the q223
        // stance): production rows arrive AS the stream; the service
        // path (EventStreams.nextEventExamplesPerUser) never collects.
        val feed = Tables.load(s, d, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_id"), col("event_type"))
          .as[(Long, Long, Long, String)].collect()
          .sortBy(r => (r._2, r._3))
          .map { case (uid, us, eid, et) =>
            EventStreams.NeRow(uid, us, eid, et) }
        replayChunked(s, feed.toSeq, math.max(1, (feed.length + 3) / 4),
            "q229_ne")(EventStreams.nextEventExamplesPerUser)
          .select(col("user_id"), col("sid"), col("pos"),
            col("context"), col("label"), col("split"))
      },
      sql = Some(NextEventOracleSql),
      scaleNote = "example-builder state is a handful of longs plus at most three type strings per user — O(|users|) in the RocksDB store, zero history — and the construction inverts q176's cost profile: the batch pass pays one corpus-wide user_id exchange + sort per run, the service pays per-event O(ring) work and emits examples incrementally, which is what an online / continual-learning trainer consumes; the by-user split stays a pure key function so train/eval never skews between the batch dataset and the live feed, and the shared oracle makes batch-vs-service drift impossible"),

    // ----- q242: streaming session attribution (q153's service form,
    // r15) ---------------------------------------------------------------
    // The promise at q153's scaleNote, registered (VERDICT r14 item
    // 4): the first-touch attribution aggregate becomes ONE open
    // session of keyed state per user behind an event-time watermark
    // (EventStreams.AttributionProcessor), closed sessions emit
    // inline the moment a later event proves the 5-min gap, and the
    // dangling open session per key flushes from the event-time TIMER
    // when the watermark passes last + gap — which is why this twin
    // runs in APPEND mode with a watermark where q223/q229 run
    // TimeMode.None: attribution rows are per-SESSION, not per-event,
    // so something must close the tail sessions. The replay cuts at
    // SESSION SEAMS (r16, VERDICT item 6 — the q217 cost lesson):
    // four boundaries that each provably split an open session
    // across micro-batches (the session-carry IS the gate, and a
    // seam cut exercises it by construction where uniform eighths
    // only did probabilistically, at nearly half the batches), and a
    // single far-future sentinel row advances the GLOBAL
    // watermark past every tail session (the q39 timer-spec stance —
    // fixture scaffolding standing in for real time passing; the
    // sentinel user's clickless session never emits and is filtered
    // besides). Carries q153's batch oracle VERBATIM. Collect-staging
    // stance as q223: production readStreams the source.
    "q242_streaming_session_attribution" -> Q(
      fn = (s0, d) => {
        import org.apache.spark.sql.functions._
        val s = rocksDbChild(s0)
        import s.implicits._
        // collect() = MemoryStream FIXTURE STAGING only (the q223
        // stance): production rows arrive AS the stream
        val feed = Tables.load(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"), col("value"))
          .as[(Long, java.sql.Timestamp, Long, String, Double)].collect()
          .sortBy(r => (r._2.getTime * 1000L + r._2.getNanos / 1000 % 1000,
            r._3))
          .map { case (uid, ts, eid, et, v) =>
            EventStreams.AtRow(uid, ts, eid, et, v) }
        val sentinelUser = 999999999L
        val sentinel = EventStreams.AtRow(sentinelUser,
          new java.sql.Timestamp(feed.map(_.ts.getTime).max +
            24L * 3600 * 1000),
          0L, "sentinel", 0.0)
        val chunks = sessionSeamChunks(feed.toSeq, nCuts = 2,
          gapUs = 5L * 60 * 1000000)
        replayChunks(s, chunks.init :+ (chunks.last :+ sentinel),
            "q242_attr", "append")(
            EventStreams.sessionAttributionPerUser(_))
          .transform(attributionRows(sentinelUser))
      },
      sql = Some(SessionAttributionOracleSql),
      scaleNote = "attribution state is ONE struct per live user (7 fields — start, last (us,id), first click, purchase fold), retired the moment its session closes, so the RocksDB store holds O(|users active within one gap+watermark|), zero history; session close is push-based (a later event or the watermark timer), which means attribution rows land in the sink within one watermark delay of the session's true end — the marketing-attribution SLA a batch nightly job can't offer — and every emission is final (append mode, no retraction), so the downstream join to spend data is insert-only; ORDERING CONTRACT (narrowed, ADVICE r15): the at-or-before-last drop guard conflates redelivery with disorder, so batch equivalence under this oracle holds for IN-ORDER-PER-KEY delivery (the registered replay feeds a sorted fixture), with the watermark serving timer advance, not disorder tolerance — a 1s-out-of-order event inside the watermark is dropped here where batch q153 folds it; q256 is the disorder-tolerant sibling (watermark-frontier buffering, O(events-in-watermark) state) for feeds that cannot promise per-key order, and the redelivery-drop guard still means at-least-once delivery never double-credits a purchase"),

    // ----- q256: disorder-tolerant streaming attribution (r16) ---------
    // ADVICE r15 converted to a registered query (the q243/q249
    // discipline): q242's processor assumes in-order-per-key
    // delivery; this twin runs EventStreams.
    // BufferedAttributionProcessor — per-key events buffer until the
    // watermark freezes their prefix, fold in (ts, event_id) order,
    // dedupe redelivery on EXACT (us, id) identity only — over a feed
    // with DELIBERATE per-key disorder: consecutive same-user events
    // closer than 8 minutes (session-internal neighbors) swap their
    // global arrival slots, so every swap is an arrival the in-order
    // guard would DROP and the buffer must fold back at its timestamp
    // position — while no event ever breaches the 10-minute watermark
    // (swap span 8 < 10, provable across chunk boundaries). Same
    // session-seam chunk schedule + sentinel flush as q242, q153's
    // oracle VERBATIM. StreamingSpec pins the fixture's inversion count
    // (disorder non-vacuous) and proves output-level divergence of
    // the two processors on a deterministic out-of-order fixture.
    "q256_streaming_attribution_unordered" -> Q(
      fn = (s0, d) => {
        import org.apache.spark.sql.functions._
        val s = rocksDbChild(s0)
        import s.implicits._
        val sentinelUser = 999999999L
        val feed = attributionShuffledFeed(s, d, sentinelUser)
        // the staged feed ends with the sentinel — seam-chunk the real
        // events, then let the sentinel ride the last chunk (its own
        // batch would buy nothing but one more RocksDB commit)
        val chunks = sessionSeamChunks(feed.init, nCuts = 2,
          gapUs = 5L * 60 * 1000000)
        replayChunks(s, chunks.init :+ (chunks.last :+ feed.last),
            "q256_attr", "append")(
            EventStreams.sessionAttributionUnordered(_))
          .transform(attributionRows(sentinelUser))
      },
      sql = Some(SessionAttributionOracleSql),
      scaleNote = "disorder tolerance is a state-size trade, made explicit: the buffer holds each key's events younger than the watermark (bounded by rate × watermark delay, NOT by history) and every watermark advance folds the frozen prefix in exact (ts, id) order, so the output is the batch answer regardless of arrival order — the property q242 only gets from an ordered transport like a partitioned log; at 100 TB pick per key: ordered ingest (Kafka key-partitioning) → q242's O(1) struct, disordered ingest (multi-region collectors, mobile flushes) → this buffer, same oracle either way; the exact-identity redelivery dedupe composes with both, and lateness beyond the watermark drops by the same contract every watermark operator already signs — with one documented sharpening (r17): the admit bound is the CURRENT batch's eviction watermark, one batch stricter than Spark's late-event filter (required by the frozen-prefix proof), so the effective tolerance is watermark-minus-one-batch and a feed's disorder span must sit strictly inside it (this fixture: 8 min of 10)"),

    // ----- q241: the streaming ENRICH service (r15) --------------------
    // The reference's own semantics (R3 per-record enrichment) in the
    // one execution form every other pipeline family already had
    // (VERDICT r14 item 3): continuous enrichment as a foreachBatch
    // service over EnrichJob.runCached — each micro-batch of
    // documents runs the SAME cached enrich stage a batch job runs
    // (idempotency cache keyed on full request content), appends its
    // good rows to the lake sink, and a DELIBERATE redelivery of a
    // whole micro-batch (at-least-once delivery, replayed mid-stream)
    // exercises the two guarantees that make the service production-
    // shaped: the cache answers redelivered prompts WITHOUT re-asking
    // the backend (StreamingSpec proves zero extra calls with a
    // counting client), and the sink's per-doc fold collapses the
    // duplicate rows (the q86/q188 idempotent-upsert stance — append
    // + merge-on-read here, MERGE INTO on a real lakehouse). The
    // deterministic fake's summary is a pure SQL-expressible function
    // of (doc_id, text), so the full service output is DuckDB-oracled
    // (the q214 stance, vs q44's rows-only fingerprint).
    "q241_streaming_enrich_service" -> Q(
      fn = (s, d) => {
        import org.apache.spark.sql.functions._
        import s.implicits._
        val feed = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("text"))
          .as[(Long, String)].collect().sortBy(_._1)
        // shutdown-hooked temp root (Analytics.tempSnapshotDir — the
        // q103/q104 pattern): repeated bench/profile invocations must
        // not grow /tmp without bound (r15 review fix)
        val runDir = Analytics.tempSnapshotDir("graft_q241_")
        val cacheDir = runDir + "/cache"
        val outDir = runDir + "/out"
        val cfg = graft.core.JobConfig(
          id = "stream-enrich",
          erbTemplate = "<%= id %>|<%= texts[:content] %>",
          backendEndpoint = "http://fake", model = "fake",
          outputLabel = "summary", systemErbTemplate = None,
          params = Map.empty, useImages = false, responseFormat = None)
        // deterministic fake: summary derived from (id, text) alone —
        // SQL-mirrored in the oracle
        val fake = new graft.llm.FakeLlmClient(p => {
          val bar = p.indexOf('|')
          val body = p.substring(bar + 1)
          // codePointCount, not String.length: the oracle's length()
          // counts Unicode code points, and a single astral char
          // (surrogate pair) would silently diverge the two (r15
          // review fix — the q233 sequence(0,-1) class of latency)
          s"doc=${p.substring(0, bar)};chars=${
            body.codePointCount(0, body.length)}"
        })
        implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val q = ms.toDS().toDF("doc_id", "text")
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[
              org.apache.spark.sql.Row], _: Long) =>
            val records = batch.select(
              col("doc_id").cast("string").as("id"),
              map(lit("content"), col("text")).as("texts"),
              array().cast("array<string>").as("images"))
            graft.pipeline.EnrichJob
              .runCached(records, cfg, fake, cacheDir,
                graft.pipeline.EnrichOptions(concurrency = 16))
              .good
              .select(col("id").cast("long").as("doc_id"),
                element_at(col("texts"), "summary").as("summary"))
              .write.mode("append").parquet(outDir)
          }
          .start()
        try {
          val chunks = feed.grouped(math.max(1, (feed.length + 5) / 6))
            .toSeq
          chunks.zipWithIndex.foreach { case (c, i) =>
            ms.addData(c); q.processAllAvailable()
            if (i == 2) { // deliberate at-least-once redelivery of a
              ms.addData(c); q.processAllAvailable() // whole micro-batch
            }
          }
        } finally q.stop()
        // merge-on-read: the idempotent fold a lakehouse MERGE INTO
        // performs at write time — duplicate (redelivered) rows are
        // byte-identical by the cache's determinism, min() collapses
        // them deterministically
        s.read.parquet(outDir)
          .groupBy(col("doc_id"))
          .agg(min(col("summary")).as("summary"))
      },
      sql = Some("""
        SELECT doc_id,
               'doc=' || CAST(doc_id AS VARCHAR) || ';chars=' ||
                 CAST(length(text) AS VARCHAR) AS summary
        FROM documents"""),
      scaleNote = "the service IS the batch operator behind a trigger: each micro-batch pays |new prompts| API calls (the content-keyed cache absorbs redelivery, restart, and duplicate documents — exactly-once EFFECT on at-least-once delivery without any sink transaction), the append sink is insert-only parquet a lakehouse would MERGE on doc_id instead of the read-side fold, and throughput scales with partitions × per-partition concurrency exactly like batch E18 because it is the same mapPartitions stage; at 100 TB the knobs are micro-batch size (API-call amortization vs freshness) and maxFilesPerTrigger on a real file source — state lives entirely in the cache dir, so the streaming query itself is stateless and restarts cold")
  )

  /** q256's fixture (shared with StreamingSpec's non-vacuity proof):
    * the q242 events feed with PER-KEY disorder planted exactly where
    * it bites — consecutive same-user events closer than 8 minutes
    * (the 5-min session gap's neighborhood) swap their GLOBAL arrival
    * slots — under a GLOBAL NON-OVERLAP rule: a new pair may only
    * start after the previous swapped pair's later slot (r16 review
    * fix — overlapping swaps CHAIN: each interleaved pair can push
    * the running arrival max another span beyond a delayed event's
    * timestamp, and two chained 8-min pairs already breach the 10-min
    * watermark; with disjoint slot ranges at most ONE event — the
    * pair's own later member — arrives ahead of a delayed event's
    * timestamp, so nothing ever trails the running max by more than
    * the 8-min span, strictly inside the watermark even across chunk
    * boundaries, because watermarks only advance between batches).
    * Every swap is an arrival the in-order guard would drop and the
    * buffer must reorder. collect() = fixture staging only (the
    * q223/q242 stance); the far-future sentinel advances the global
    * watermark past every tail session.
    */
  private[graft] def attributionShuffledFeed(
      s: SparkSession, d: String,
      sentinelUser: Long): Seq[EventStreams.AtRow] = {
    import org.apache.spark.sql.functions.col
    import s.implicits._
    val rows = Tables.load(s, d, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
      .as[(Long, java.sql.Timestamp, Long, String, Double)].collect()
      .map { case (uid, ts, eid, et, v) =>
        EventStreams.AtRow(uid, ts, eid, et, v) }
    def us(r: EventStreams.AtRow): Long = EventStreams.usOf(r.ts)
    val sorted = rows.sortBy(r => (us(r), r.event_id))
    val SwapSpanUs = 8L * 60 * 1000000 // < the 10-min watermark
    // candidate pairs: per-user consecutive events within the span,
    // as (earlier, later) GLOBAL slot indices
    val lastIdx = scala.collection.mutable.Map.empty[Long, Int]
    val candidates = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    sorted.zipWithIndex.foreach { case (r, i) =>
      lastIdx.get(r.user_id).foreach { j =>
        if (us(r) - us(sorted(j)) < SwapSpanUs) candidates += ((j, i))
      }
      lastIdx(r.user_id) = i
    }
    // greedy non-overlapping selection in slot order — disjoint slot
    // ranges are what keep the watermark bound single-hop
    val arrival = sorted.clone()
    var lastEnd = -1
    candidates.sortBy(_._1).foreach { case (ia, ib) =>
      if (ia > lastEnd) {
        arrival(ia) = sorted(ib); arrival(ib) = sorted(ia)
        lastEnd = ib
      }
    }
    val sentinel = EventStreams.AtRow(sentinelUser,
      new java.sql.Timestamp(rows.map(_.ts.getTime).max +
        24L * 3600 * 1000),
      0L, "sentinel", 0.0)
    arrival.toSeq :+ sentinel
  }

  /** q242/q256's chunk schedule, cut at SESSION SEAMS (r16, VERDICT
    * item 6 — the q217 lesson applied to the attribution replays):
    * replay cost is batches × state partitions × RocksDB commit, and
    * the state contract only needs boundaries that SPLIT OPEN
    * SESSIONS across micro-batches. Each of the `nCuts` boundaries
    * lands immediately before an event whose user has another event
    * within the session gap just before it — so every boundary
    * PROVABLY cuts a session mid-flight (uniform eighths only did so
    * probabilistically) while the batch count drops from 8 to
    * nCuts + 1. Output is byte-identical under any chunking (append
    * mode, watermark-driven emission), so the shared oracle is
    * untouched. |abs| gap test: q256's feed carries planted arrival
    * swaps, so the seam probe must not assume arrival = time order.
    */
  private def sessionSeamChunks(
      feed: Seq[EventStreams.AtRow], nCuts: Int,
      gapUs: Long): Seq[Seq[EventStreams.AtRow]] = {
    def us(r: EventStreams.AtRow): Long = EventStreams.usOf(r.ts)
    val lastUs = scala.collection.mutable.Map.empty[Long, Long]
    val splitOk = feed.map { r =>
      val ok = lastUs.get(r.user_id)
        .exists(p => math.abs(us(r) - p) <= gapUs)
      lastUs(r.user_id) = us(r)
      ok
    }.toIndexedSeq
    val n = feed.length
    val cuts = (1 to nCuts).map { k =>
      val t = k * n / (nCuts + 1)
      (t until n).find(splitOk(_)).getOrElse(t)
    }.distinct.sorted
    (0 +: cuts :+ n).distinct.sorted.sliding(2).collect {
      case Seq(a, b) if b > a => feed.slice(a, b)
    }.toSeq
  }

  /** unique memory-sink names across repeated replay invocations in
    * one session (Verify + bench + specs share the SparkSession)
    */
  private val ReplaySinkId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** ONE replay scaffold for every streaming service query
    * (q199/q212/q217/q223/q229): stage a deterministic pre-ordered
    * feed through `pipe` in fixed-size micro-batch chunks and return
    * the memory sink's final table. The chunking IS the contract
    * under test — it forces every key's state to carry across
    * micro-batch boundaries. FIXTURE REPLAY only: in production the
    * rows arrive AS the stream; nothing in any service path collects.
    */
  private def replayChunked[I: org.apache.spark.sql.Encoder](
      s: SparkSession, feed: Seq[I], chunk: Int, sinkPrefix: String,
      outputMode: String = "update")(
      pipe: org.apache.spark.sql.Dataset[I] =>
        org.apache.spark.sql.Dataset[_]): DataFrame =
    replayChunks(s, feed.grouped(chunk).toSeq, sinkPrefix, outputMode)(pipe)

  /** the same scaffold with an EXPLICIT chunk schedule — for replays
    * whose contract concentrates boundaries in one region of the feed
    * (q217: inside the seed week) instead of uniformly
    */
  private def replayChunks[I: org.apache.spark.sql.Encoder](
      s: SparkSession, chunks: Seq[Seq[I]], sinkPrefix: String,
      outputMode: String = "update")(
      pipe: org.apache.spark.sql.Dataset[I] =>
        org.apache.spark.sql.Dataset[_]): DataFrame = {
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[I]
    val sink = s"${sinkPrefix}_${ReplaySinkId.incrementAndGet()}"
    val q = pipe(ms.toDS())
      .writeStream.format("memory").outputMode(outputMode)
      .queryName(sink).start()
    try chunks.foreach { c =>
      ms.addData(c); q.processAllAvailable() }
    finally q.stop()
    s.table(sink)
  }
}
