package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Analytics-completeness catalog — the relational surface a user of a
  * general OLAP engine reaches for beyond SURVEY §2B's core set:
  * pivot, exact percentiles, statistical aggregates, distribution
  * window functions, time-series gap-fill, ordered string aggregation.
  * All Spark built-ins, all DuckDB-oracled.
  */
object Analytics extends Catalog {

  private def t(s: SparkSession, d: String, name: String): DataFrame =
    Tables.load(s, d, name)

  // ---- shared q86/q95 snapshot-maintenance fixtures ----------------
  // ONE definition of the deterministic orders delta (7% additive
  // price+status updates, 1% inserts under shifted keys) and its
  // merged result, used by q86 (applies it) and q95 (diffs against
  // it) on both the Spark and the oracle side — so the two queries
  // cannot silently drift apart.
  private def ordersBase(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))

  private def ordersDelta(base: DataFrame): DataFrame = {
    val updates = base.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", lit("U"))
      // additive update, NOT ×1.1+round: a single IEEE addition is
      // bit-identical in both engines, while round(x*1.1, 2) diverges
      // on .5 ties (Spark rounds the shortest-decimal rendering of
      // the double, DuckDB the full binary value)
      .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
    // insert keys shifted past max(o_orderkey) — DERIVED, not a
    // constant: a fixed +10M shift silently collides with real base
    // keys once the SF grows the keyspace past it, violating Upsert's
    // one-row-per-key delta contract. The 1-row max frame broadcasts
    // into the insert scan (no driver action, no extra exchange).
    val shift = base.agg((max(col("o_orderkey")) + 1L).as("__shift"))
    val inserts = base.filter(col("o_orderkey") % 97 === 0)
      .crossJoin(broadcast(shift))
      .select((col("o_orderkey") + col("__shift")).as("o_orderkey"),
        lit("N").as("o_orderstatus"), col("o_totalprice"))
    updates.unionByName(inserts)
  }

  private def ordersMerged(s: SparkSession, d: String): DataFrame = {
    val base = ordersBase(s, d)
    graft.operators.Upsert(base, ordersDelta(base), Seq("o_orderkey"))
  }

  // ---- q207's oracle, shared verbatim with q212 ---------------------
  // The q194/q199 discipline applied to the EWMA chart: the streaming
  // service form (q212 routes the same daily feed through
  // EventStreams.ewmaChartPerKey) carries the SAME gate as the batch
  // chart, so the two spellings cannot drift apart.
  private[queries] val EwmaChartOracleSql: String = """
        WITH RECURSIVE ev AS (
          SELECT event_type,
                 epoch_us(date_trunc('day', ts::TIMESTAMP)) AS d
          FROM events),
        span AS (SELECT (min(d) + max(d)) // 2 AS cut FROM ev),
        daily AS (
          SELECT event_type, d,
                 CAST(CASE WHEN event_type = 'click'
                             AND d >= (SELECT cut FROM span)
                      THEN count(*) * 2 ELSE count(*) END AS BIGINT) AS x,
                 CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
                   AS BIGINT) AS rn
          FROM ev GROUP BY event_type, d),
        ref AS (
          SELECT event_type,
                 CAST(sum(x) AS BIGINT) // count(*) AS mu,
                 CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS BIGINT)
                   AS varnum,
                 count(*) AS n0
          FROM daily WHERE d < (SELECT cut FROM span) GROUP BY 1),
        r AS (
          SELECT daily.event_type AS event_type, rn, d, x,
                 CAST(0.2 AS DOUBLE) * x
                   + CAST(0.8 AS DOUBLE) * CAST(mu AS DOUBLE) AS z,
                 CAST(0.64 AS DOUBLE) AS g
          FROM daily JOIN ref USING (event_type) WHERE rn = 1
          UNION ALL
          SELECT b.event_type, b.rn, b.d, b.x,
                 CAST(0.2 AS DOUBLE) * b.x + CAST(0.8 AS DOUBLE) * r.z,
                 r.g * CAST(0.64 AS DOUBLE)
          FROM daily b JOIN r
            ON b.event_type = r.event_type AND b.rn = r.rn + 1)
        SELECT r.event_type AS event_type, d, x, z,
               CAST((z - mu) * (z - mu) * CAST(1.8 AS DOUBLE) * n0 * n0
                    > CAST(9.0 AS DOUBLE) * CAST(0.2 AS DOUBLE) * varnum
                      * (CAST(1.0 AS DOUBLE) - g) AS BIGINT) AS alarm
        FROM r JOIN ref USING (event_type)"""

  // ---- q213's oracle, shared verbatim with q217 ---------------------
  // The q207/q212 discipline applied to the forecaster: the streaming
  // service form (q217 routes the same planted daily feed through
  // EventStreams.holtWintersPerKey) carries the SAME gate as the batch
  // backtest, so the two spellings cannot drift apart.
  private[queries] val HoltWintersOracleSql: String = """
        WITH RECURSIVE daily0 AS (
          SELECT event_type,
                 epoch_us(date_trunc('day', ts::TIMESTAMP)) AS d,
                 count(*) AS x0
          FROM events GROUP BY 1, 2),
        refm AS (SELECT event_type, CAST(sum(x0) AS BIGINT) // count(*) AS mu
                 FROM daily0 GROUP BY 1),
        daily AS (
          SELECT daily0.event_type AS event_type, d,
                 CAST(x0 + CASE WHEN (d // 86400000000 + 4) % 7 = 6
                      THEN 2 * mu ELSE 0 END AS BIGINT) AS x,
                 CAST(row_number() OVER (PARTITION BY daily0.event_type
                   ORDER BY d) AS BIGINT) AS rn
          FROM daily0 JOIN refm USING (event_type)),
        seed AS (
          SELECT event_type,
                 CAST(CAST(sum(x) AS BIGINT) AS DOUBLE)
                   / CAST(7.0 AS DOUBLE) AS l0,
                 list(CAST(x AS DOUBLE) ORDER BY rn) AS xs
          FROM daily WHERE rn <= 7 GROUP BY 1),
        r AS (
          SELECT event_type, CAST(7 AS BIGINT) AS rn,
                 CAST(NULL AS BIGINT) AS d, CAST(NULL AS BIGINT) AS x,
                 l0 AS l, CAST(0.0 AS DOUBLE) AS b,
                 list_transform(xs, v -> v - l0) AS sv,
                 CAST(NULL AS DOUBLE) AS fc
          FROM seed
          UNION ALL
          SELECT event_type, rn, d, x,
                 lnew AS l,
                 CAST(0.0625 AS DOUBLE) * (lnew - lold)
                   + CAST(0.9375 AS DOUBLE) * bold AS b,
                 list_transform(sv0, (v, i) ->
                   CASE WHEN i = slot THEN snew ELSE v END) AS sv,
                 fc
          FROM (
            SELECT event_type, rn, d, x, lold, bold, sv0, slot, sold, fc,
                   CAST(0.125 AS DOUBLE) * (x - sold)
                     + CAST(0.875 AS DOUBLE) * (lold + bold) AS lnew,
                   CAST(0.25 AS DOUBLE) * (x - (lold + bold))
                     + CAST(0.75 AS DOUBLE) * sold AS snew
            FROM (
              SELECT b.event_type AS event_type, b.rn AS rn, b.d AS d,
                     b.x AS x, r.l AS lold, r.b AS bold, r.sv AS sv0,
                     ((b.rn - 1) % 7) + 1 AS slot,
                     r.sv[CAST((b.rn - 1) % 7 + 1 AS INT)] AS sold,
                     (r.l + r.b) + r.sv[CAST((b.rn - 1) % 7 + 1 AS INT)]
                       AS fc
              FROM daily b
              JOIN r ON b.event_type = r.event_type AND b.rn = r.rn + 1
            ) t1
          ) t2)
        SELECT event_type, d, x, fc FROM r WHERE rn >= 8"""

  // ---- q194's oracle, shared verbatim with q199 ---------------------
  // The q185/q188 discipline: the streaming service form (q199 routes
  // the same daily feed through EventStreams.cusumPerKey) carries the
  // SAME gate as the batch detector, so the two spellings cannot
  // drift apart.
  private[queries] val CusumOracleSql: String = """
        WITH ev AS (SELECT event_type,
                           epoch_us(date_trunc('day', ts::TIMESTAMP)) AS d
                    FROM events),
        span AS (SELECT (min(d) + max(d)) // 2 AS cut FROM ev),
        daily AS (
          SELECT event_type, d,
                 CASE WHEN event_type = 'click' AND d >= (SELECT cut FROM span)
                      THEN count(*) * 2 ELSE count(*) END AS x
          FROM ev GROUP BY event_type, d),
        ref AS (
          SELECT event_type, CAST(sum(x) AS BIGINT) // count(*) AS mu
          FROM daily WHERE d < (SELECT cut FROM span) GROUP BY 1),
        cs AS (
          SELECT daily.event_type AS event_type, d, x, mu,
                 -- BIGINT at birth (house rule): the window sum would
                 -- otherwise carry HUGEINT through the outer frame
                 CAST(sum(x - (mu + mu // 20)) OVER (
                   PARTITION BY daily.event_type ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS p
          FROM daily JOIN ref USING (event_type))
        SELECT event_type, d, x,
               -- least(0, ...) = the virtual empty-prefix P_0 = 0
               p - least(0, min(p) OVER (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s,
               CAST(p - least(0, min(p) OVER (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                 > 2 * mu AS BIGINT) AS alarm
        FROM cs"""

  // ---- q149's oracle, shared verbatim with q223 ---------------------
  // The q199/q212/q217 discipline applied to the rolling z-score: the
  // streaming service form (q223 routes the per-event feed through
  // EventStreams.rollingZscorePerUser's 10-deep ring buffer) carries
  // the SAME gate as the batch window scan, so the two spellings
  // cannot drift apart.
  private[queries] val RollingZscoreOracleSql: String = """
        WITH w AS (
          SELECT event_id, user_id,
                 CAST(round(value * 100, 0) AS BIGINT) AS c,
                 row_number() OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
                 CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
                   AS BIGINT) AS sc,
                 CAST(sum(CAST(round(value * 100, 0) AS BIGINT)
                     * CAST(round(value * 100, 0) AS BIGINT)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
                   AS BIGINT) AS qc
          FROM events),
        d AS (SELECT event_id, user_id,
                     c * 10 - sc AS dev, qc * 10 - sc * sc AS varnum
              FROM w WHERE rn >= 11)
        SELECT event_id, user_id,
               CAST(CASE WHEN dev > 0 THEN 1 WHEN dev < 0 THEN -1 ELSE 0 END
                    AS BIGINT) AS z_sign,
               (900 * dev * dev) // varnum AS z2_permille,
               CAST(dev * dev > varnum * 10 AS BIGINT) AS is_anomaly
        FROM d WHERE varnum > 0"""

  // ---- q115's oracle, shared verbatim with q236 ----------------------
  // The q216/q220 police-each-other stance applied to triangle
  // counting: q236 is the degree-ordered-orientation spelling of the
  // SAME per-node statistic, so it carries the SAME gate.
  private[queries] val TriangleOracleSql: String = """
        WITH li AS (SELECT l_orderkey, l_suppkey FROM lineitem),
        ec AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(*) AS c
               FROM li a JOIN li b
                 ON a.l_orderkey = b.l_orderkey
                AND a.l_suppkey < b.l_suppkey
               GROUP BY 1, 2),
        e AS (SELECT u, v FROM ec
              QUALIFY row_number() OVER (ORDER BY c DESC, u, v)
                      <= 5 * (SELECT count(*) FROM supplier)),
        tr AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
               FROM e e1 JOIN e e2 ON e1.v = e2.u
                         JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        pn AS (SELECT unnest([a, b, c]) AS supplier FROM tr)
        SELECT supplier, count(*) AS n_triangles
        FROM pn GROUP BY 1"""

  // ---- q115/q236's shared sparsified edge list -----------------------
  /** the supplier co-purchase graph sparsified to its heaviest edges
    * by the exact (count, u, v) total order, cap scaling with the node
    * count (5·|supplier| ⇒ avg degree 10) — ONE definition so q115
    * (canonical u<v wedges) and q236 (degree-ordered orientation)
    * provably count triangles of the SAME graph; localCheckpoint'd
    * because every caller feeds it to multiple join legs
    */
  private def sparsifiedSupplierEdges(
      s: SparkSession, d: String): DataFrame = {
    val TopEdges =
      math.min(t(s, d, "supplier").count() * 5, Int.MaxValue.toLong).toInt
    val li = t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    // the probe side of the co-occurrence self-join is spread (r17):
    // the build side broadcasts, so without this the probe — the ~4x
    // pair fanout and its partial (u,v) aggregation — ran in ONE task
    Tables.spread(li, col("l_orderkey"))
      .as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_suppkey") < col("b.l_suppkey"))
      .groupBy(col("a.l_suppkey").as("u"), col("b.l_suppkey").as("v"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("u"), col("v"))
      .limit(TopEdges)
      .select(col("u"), col("v"))
      .localCheckpoint()
  }

  // ---- shared q185/q188 IVM fixtures --------------------------------
  // ONE definition of the maintained view's base aggregate and the
  // before-image change feed (the q86 delta, re-expressed as CDC rows
  // with old images), used by q185 (in-plan fold) and q188 (IvmSink
  // service) against the same oracle — so the algebraic statement and
  // the operational service cannot drift apart. Money in exact integer
  // cents; the update's new value mirrors the oracle's `price + 1000.0`
  // double addition literally before the cents cast, so both engines
  // round the identical double.
  private def ivmCents(c: org.apache.spark.sql.Column) =
    round(c * 100).cast("long")

  private def ivmBaseAgg(s: SparkSession, d: String): DataFrame =
    ordersBase(s, d).groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(ivmCents(col("o_totalprice"))).as("total_cents"))

  /** CDC rows with before-images (in production the CDC stream
    * carries them; here they derive from the same base the q86
    * fixture derives the delta from): null ost = insert.
    */
  private def ivmFeed(s: SparkSession, d: String): DataFrame = {
    val base = ordersBase(s, d)
    val upd = base.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), lit("U").as("nst"),
        ivmCents(col("o_totalprice") + lit(1000.0)).as("ncents"),
        col("o_orderstatus").as("ost"),
        ivmCents(col("o_totalprice")).as("ocents"))
    val shift = base.agg((max(col("o_orderkey")) + 1L).as("__shift"))
    val ins = base.filter(col("o_orderkey") % 97 === 0)
      .crossJoin(broadcast(shift))
      .select((col("o_orderkey") + col("__shift")).as("o_orderkey"),
        lit("N").as("nst"), ivmCents(col("o_totalprice")).as("ncents"),
        lit(null).cast("string").as("ost"),
        lit(null).cast("long").as("ocents"))
    upd.unionByName(ins)
  }

  /** the same derivation as CTEs, spliced into both oracles */
  private val OrdersMergedCtes = """
        base AS (
          SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        upd AS (
          SELECT o_orderkey, 'U' AS o_orderstatus,
                 o_totalprice + 1000.0 AS o_totalprice
          FROM base WHERE o_orderkey % 7 = 0),
        ins AS (
          SELECT o_orderkey + (SELECT max(o_orderkey) + 1 FROM base) AS o_orderkey,
                 'N' AS o_orderstatus, o_totalprice
          FROM base WHERE o_orderkey % 97 = 0),
        delta AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
        merged AS (
          SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
                 CASE WHEN u.o_orderkey IS NOT NULL
                      THEN u.o_orderstatus ELSE b.o_orderstatus END AS o_orderstatus,
                 CASE WHEN u.o_orderkey IS NOT NULL
                      THEN u.o_totalprice ELSE b.o_totalprice END AS o_totalprice
          FROM base b FULL OUTER JOIN delta u ON b.o_orderkey = u.o_orderkey)"""

  /** q185/q188's shared oracle: the per-status view over the merged
    * orders, one-shot (q188 folds the same view from batch partials) */
  private val OrdersMergedAggSql: String = s"""
        WITH $OrdersMergedCtes
        SELECT o_orderstatus, count(*) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS total_cents
        FROM merged GROUP BY 1"""

  /** q95's DuckDB mirror (diff-class counts over the full-outer
    * reconciliation join), shared VERBATIM with its hashed spelling
    * q249 — the carry-the-oracle discipline.
    */
  private val TableDiffOracleSql: String = s"""
        WITH $OrdersMergedCtes,
        v2 AS (SELECT * FROM merged WHERE o_orderkey % 13 <> 0)
        SELECT CASE WHEN a.o_orderkey IS NULL THEN 'added'
                    WHEN b.o_orderkey IS NULL THEN 'removed'
                    WHEN a.o_orderstatus IS NOT DISTINCT FROM b.o_orderstatus
                     AND a.o_totalprice IS NOT DISTINCT FROM b.o_totalprice
                    THEN 'same' ELSE 'changed' END AS diff,
               count(*) AS n
        FROM base a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey
        GROUP BY 1"""

  /** q113/q250's shared PageRank body. `prePartition` = the 100 TB
    * spelling: edges hash-partitioned by u before their checkpoint and
    * the per-round join a ShuffledHashJoin building on the rank side
    * (run it on a no-broadcast session to force the at-scale physics);
    * false = q113's broadcast-rank spelling. `roundProbe` sees each
    * round's frame BEFORE its checkpoint — PlanSpec's hook for pinning
    * the per-iteration plan (production callers ignore it).
    */
  private[queries] def pagerankSuppliers(
      s: SparkSession, d: String, prePartition: Boolean,
      roundProbe: DataFrame => Unit = _ => ()): DataFrame = {
    val ewBase = supplierEdgeProbs(s, d)
    // prePartition: stage the edges into HashPartitioning(u) ONCE —
    // localCheckpoint preserves outputPartitioning, so every round's
    // join finds its distribution already satisfied on the edge side.
    // The spread's explicit count matters here: a coalesced stage's
    // partitioning does not survive the checkpoint — the silent way
    // to lose the whole point of this spelling
    val ew = (if (prePartition) Tables.spread(ewBase, col("u"))
      else ewBase)
      .localCheckpoint()
    // q113 spelling: the node-sized rank frame BROADCASTS into the
    // cached edge frame — per round the only exchange left is the
    // group-by on v. q250 spelling: broadcast is off (at-scale
    // premise), the rank side is the ShuffledHashJoin BUILD (no
    // per-round sort of edges), and the edges' staged partitioning
    // satisfies the join's distribution — they never re-shuffle.
    pagerankLoop(ew,
      if (prePartition)
        (e: DataFrame, r: DataFrame) =>
          e.join(r.hint("shuffle_hash"), e("u") === r("node"))
      else
        (e: DataFrame, r: DataFrame) =>
          e.join(broadcast(r), e("u") === r("node")),
      roundProbe)
  }

  /** the co-purchase transition-probability edge frame (u, v, p) —
    * row-stochastic by construction; the raw edge list checkpoints
    * once and feeds both the out-strength normalization and the
    * caller's staging (checkpoint partitioning, q250; a bucketed
    * table, q253)
    */
  private[queries] def supplierEdgeProbs(
      s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    // probe-side spread — same reason as sparsifiedSupplierEdges
    val e = Tables.spread(li, col("l_orderkey"))
      .as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_suppkey") =!= col("b.l_suppkey"))
      .groupBy(col("a.l_suppkey").as("u"), col("b.l_suppkey").as("v"))
      .agg(count(lit(1)).as("w"))
      .localCheckpoint() // feeds out-strength + the staged edge frame
    val out = e.groupBy(col("u")).agg(sum(col("w")).as("wout"))
    // out is node-sized — broadcast it so the edge frame never
    // shuffles for the normalization
    e.join(broadcast(out), "u")
      .select(col("u"), col("v"),
        (col("w").cast("double") / col("wout")).as("p"))
  }

  /** the damped fixed-point loop over a STAGED edge frame, with the
    * per-round join strategy injected — q113 (broadcast rank), q250
    * (shuffle-hash vs checkpoint partitioning, AQE off), and q253
    * (shuffle-hash vs a bucketed table, AQE on) all run THIS loop, so
    * the arithmetic — and therefore the shared oracle — is one
    * definition
    */
  private[queries] def pagerankLoop(
      ew: DataFrame,
      joinRank: (DataFrame, DataFrame) => DataFrame,
      roundProbe: DataFrame => Unit = _ => ()): DataFrame = {
    val Damp = 0.85
    val Iters = 5
    val nodes = ew.select(col("u").as("node")).distinct()
      .localCheckpoint()
    val nn = nodes.agg(count(lit(1)).as("n_nodes"))
    // n_nodes rides IN the rank frame (constant column) so each
    // round is exactly one join + one agg — recomputing and
    // re-broadcasting the scalar per round would add 2 jobs/round
    var r = nodes.crossJoin(broadcast(nn))
      .select(col("node"), (lit(1.0) / col("n_nodes")).as("r"),
        col("n_nodes"))
      .localCheckpoint()
    for (_ <- 1 to Iters) {
      // checkpoint per round: truncates the iterative lineage
      // (q61's stance) — without it the plan doubles every round
      val joined = joinRank(ew, r)
      val next = joined
        .groupBy(ew("v").as("node"))
        .agg(sum(col("p") * col("r")).as("mass"),
          first(col("n_nodes")).as("n_nodes"))
        .select(col("node"),
          ((lit(1.0) - lit(Damp)) / col("n_nodes") +
            lit(Damp) * col("mass")).as("r"),
          col("n_nodes"))
      roundProbe(next)
      r = next.localCheckpoint()
    }
    // symmetric co-occurrence ⇒ every node has in-edges, so no
    // node drops out of the aggregation and no dangling mass exists.
    // round(,6) ONLY on the final emit (the iterations stay raw):
    // per-round mass sums merge in partition order, so the last
    // 1-2 ulp differ between engines — q117's canonicalization
    // discipline pins the gate without touching the recurrence
    r.select(col("node"), round(col("r"), 6).as("r"))
  }

  /** q113's DuckDB mirror (5 unrolled damped rounds), shared VERBATIM
    * with its pre-partitioned spelling q250 — the carry-the-oracle
    * discipline.
    */
  private[queries] val PagerankOracleSql: String = """
        WITH li AS (SELECT l_orderkey, l_suppkey FROM lineitem),
        e AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(*) AS w
              FROM li a JOIN li b
                ON a.l_orderkey = b.l_orderkey
               AND a.l_suppkey <> b.l_suppkey
              GROUP BY 1, 2),
        o AS (SELECT u, sum(w) AS wout FROM e GROUP BY 1),
        ew AS (SELECT e.u, e.v, CAST(e.w AS DOUBLE) / o.wout AS p
               FROM e JOIN o USING (u)),
        n AS (SELECT count(DISTINCT u) AS n_nodes FROM ew),
        r0 AS (SELECT DISTINCT u AS node, 1.0 / n.n_nodes AS r
               FROM ew CROSS JOIN n),
        r1 AS (SELECT ew.v AS node,
                      0.15 / any_value(n.n_nodes) + 0.85 * sum(ew.p * r0.r) AS r
               FROM ew JOIN r0 ON ew.u = r0.node CROSS JOIN n GROUP BY 1),
        r2 AS (SELECT ew.v AS node,
                      0.15 / any_value(n.n_nodes) + 0.85 * sum(ew.p * r1.r) AS r
               FROM ew JOIN r1 ON ew.u = r1.node CROSS JOIN n GROUP BY 1),
        r3 AS (SELECT ew.v AS node,
                      0.15 / any_value(n.n_nodes) + 0.85 * sum(ew.p * r2.r) AS r
               FROM ew JOIN r2 ON ew.u = r2.node CROSS JOIN n GROUP BY 1),
        r4 AS (SELECT ew.v AS node,
                      0.15 / any_value(n.n_nodes) + 0.85 * sum(ew.p * r3.r) AS r
               FROM ew JOIN r3 ON ew.u = r3.node CROSS JOIN n GROUP BY 1),
        r5 AS (SELECT ew.v AS node,
                      0.15 / any_value(n.n_nodes) + 0.85 * sum(ew.p * r4.r) AS r
               FROM ew JOIN r4 ON ew.u = r4.node CROSS JOIN n GROUP BY 1)
        SELECT node, round(r, 6) AS r FROM r5"""

  // ---- shared q91/q104 CDC-log fixture -----------------------------
  // ONE deterministic changelog over orders — an insert for every key
  // (seq 0), an update for keys %3=0 (seq 1), a delete for keys %5=0
  /** Fresh JVM-exit-reclaimed snapshot root for the queries (q103,
    * q104) that — unlike every other registered query — write real
    * files: repeated bench/profile runs must not accumulate snapshot
    * copies in the temp dir. One definition so the cleanup semantics
    * cannot drift between the two.
    */
  private[queries] def tempSnapshotDir(prefix: String): String = {
    val tmpRoot = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmpRoot.toFile)
    }
    tmpRoot.toString + "/snapshot"
  }

  // (seq 2) — used by q91 (one-shot logical apply) and q104 (storage-
  // level partitioned apply) against the same oracle, so the two
  // cannot drift apart. Applying it must yield: %5 keys gone,
  // remaining %3 keys updated, everything else original.
  private def cdcLog(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val base = ordersBase(s, d)
    val ins = base
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        lit(0L).as("seq"), lit("I").as("op"))
    val upd = base.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice") + lit(500.0)).as("o_totalprice"),
        lit(1L).as("seq"), lit("U").as("op"))
    val del = base.filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), lit(null).cast("string").as("o_orderstatus"),
        lit(null).cast("double").as("o_totalprice"),
        lit(2L).as("seq"), lit("D").as("op"))
    (ins, upd, del)
  }

  private val CdcAppliedSql = """
        WITH base AS (
          SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        log AS (
          SELECT o_orderkey, o_orderstatus, o_totalprice,
                 0 AS seq, 'I' AS op FROM base
          UNION ALL
          SELECT o_orderkey, 'U', o_totalprice + 500.0, 1, 'U'
          FROM base WHERE o_orderkey % 3 = 0
          UNION ALL
          SELECT o_orderkey, NULL, NULL, 2, 'D'
          FROM base WHERE o_orderkey % 5 = 0),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY o_orderkey
                      ORDER BY seq DESC) AS rn
          FROM log)
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM ranked WHERE rn = 1 AND op <> 'D'"""

  // ---- q210 shared sketch-profile primitives -----------------------

  /** long-form (col_name, v) reprs of the four q203-profiled orders
    * columns — the SAME reprs q203/q208 profile, nulls kept so the
    * count partials can fold them */
  private[queries] def profileValues(o: DataFrame): DataFrame = o.selectExpr(
    """stack(4,
       'o_orderstatus', CAST(o_orderstatus AS STRING),
       'o_custkey', CAST(o_custkey AS STRING),
       'o_totalprice_cents',
         CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING),
       'o_orderdate_us', CAST(unix_micros(o_orderdate) AS STRING))
       AS (col_name, v)""")

  /** q143's portable 512-register HLL per profiled column: md5-hex48
    * hash of 'hp:<col>:<repr>' over the frame's DISTINCT non-null
    * reprs, bucket = top 9 bits, m = max leading-run of the 39-bit
    * remainder. Pure functions of the input batch, so register frames
    * are overwrite-idempotent partials that fold by bucket-max.
    */
  private[queries] def profileHllRegs(o: DataFrame): DataFrame = {
    import org.apache.spark.sql.Column
    val hashed = profileValues(o).filter(col("v").isNotNull)
      .select(col("col_name"), col("v")).distinct()
      .select(col("col_name"),
        conv(substring(md5(concat(lit("hp:"), col("col_name"), lit(":"),
          col("v"))), 1, 12), 16, 10).cast("long").as("h"))
      .select(col("col_name"),
        shiftright(col("h"), 39).as("bucket"),
        col("h").bitwiseAND(lit((1L << 39) - 1)).as("rem"))
    val rho = (1 to 39).foldRight(lit(40): Column)((i, els) =>
      when(col("rem") >= lit(1L << (39 - i)), lit(i)).otherwise(els))
    hashed.select(col("col_name"), col("bucket"), rho.as("r"))
      .groupBy(col("col_name"), col("bucket")).agg(max(col("r")).as("m"))
  }

  /** leading-run length of the 39-bit remainder as a pure integer CASE
    * chain (q143's discipline — no log2/float near the registers) */
  private def profileRhoSqlCase: String =
    (1 to 39).map(i => s"WHEN rem >= ${1L << (39 - i)} THEN $i")
      .mkString("CASE ", " ", " ELSE 40 END")

  /** q203's one-shot DuckDB profile, shared VERBATIM with its
    * two-batch fold q208 (the ZipfOracleSql discipline: same oracle,
    * operational spelling — the gate is the fold theorem itself).
    */
  private val ProfileOracleSql: String = """
        WITH a AS (
          SELECT count(*) AS n,
                 CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS nn_st,
                 CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS nd_st,
                 CAST(min(o_orderstatus) AS VARCHAR) AS mn_st,
                 CAST(max(o_orderstatus) AS VARCHAR) AS mx_st,
                 CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS nn_ck,
                 CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd_ck,
                 CAST(min(o_custkey) AS VARCHAR) AS mn_ck,
                 CAST(max(o_custkey) AS VARCHAR) AS mx_ck,
                 CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS nn_tp,
                 CAST(count(DISTINCT CAST(round(o_totalprice * 100) AS BIGINT))
                   AS BIGINT) AS nd_tp,
                 CAST(min(CAST(round(o_totalprice * 100) AS BIGINT))
                   AS VARCHAR) AS mn_tp,
                 CAST(max(CAST(round(o_totalprice * 100) AS BIGINT))
                   AS VARCHAR) AS mx_tp,
                 CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS nn_od,
                 CAST(count(DISTINCT epoch_us(o_orderdate)) AS BIGINT) AS nd_od,
                 CAST(min(epoch_us(o_orderdate)) AS VARCHAR) AS mn_od,
                 CAST(max(epoch_us(o_orderdate)) AS VARCHAR) AS mx_od
          FROM orders)
        SELECT 'o_orderstatus' AS col_name, n, nn_st AS n_nulls,
               nd_st AS n_distinct, mn_st AS min_repr, mx_st AS max_repr
        FROM a
        UNION ALL
        SELECT 'o_custkey', n, nn_ck, nd_ck, mn_ck, mx_ck FROM a
        UNION ALL
        SELECT 'o_totalprice_cents', n, nn_tp, nd_tp, mn_tp, mx_tp FROM a
        UNION ALL
        SELECT 'o_orderdate_us', n, nn_od, nd_od, mn_od, mx_od FROM a"""

  /** q196/q198's robust outlier gate over the planted ×100 order
    * cents: per status the median, the median absolute deviation, and
    * the rows beyond 3 MADs. `median` spells the Spark median of a
    * column — exact `percentile` (q196) or the GK sketch (q198).
    */
  private def robustGate(
      s: SparkSession, d: String, median: String => String): DataFrame = {
    val c = t(s, d, "orders")
      .select(col("o_orderstatus").as("st"),
        (round(col("o_totalprice") * 100).cast("long") *
          when(col("o_orderkey") % 501 === 0, 100L).otherwise(1L))
          .as("cents"))
      .localCheckpoint() // one cents frame feeds all three folds
    val m = c.groupBy(col("st"))
      .agg(expr(median("cents")).as("med"))
    val a = c.join(broadcast(m), "st")
      .select(col("st"), col("cents"), col("med"),
        abs(col("cents") - col("med")).as("ad"))
    val md = a.groupBy(col("st"))
      .agg(expr(median("ad")).as("mad"))
    a.join(broadcast(md), "st")
      .groupBy(col("st"))
      .agg(count(lit(1)).as("n"),
        first(col("med")).as("med_cents"),
        first(col("mad")).as("mad_cents"),
        sum(when(col("ad") > col("mad") * 3, 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** robustGate's DuckDB mirror; `median` spells the DuckDB median */
  private def robustGateSql(median: String => String): String = s"""
        WITH c AS (SELECT o_orderstatus AS st,
                          CAST(round(o_totalprice * 100) AS BIGINT)
                            * CASE WHEN o_orderkey % 501 = 0
                                   THEN 100 ELSE 1 END AS cents
                   FROM orders),
        m AS (SELECT st, ${median("cents")} AS med FROM c GROUP BY 1),
        a AS (SELECT c.st, cents, med, abs(cents - med) AS ad
              FROM c JOIN m USING (st)),
        md AS (SELECT st, ${median("ad")} AS mad FROM a GROUP BY 1)
        SELECT a.st, count(*) AS n,
               any_value(a.med) AS med_cents,
               any_value(md.mad) AS mad_cents,
               CAST(sum(CASE WHEN ad > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_outliers
        FROM a JOIN md USING (st) GROUP BY 1"""

  /** q205/q213's daily event counts (event_type, d, x) with a planted
    * weekly season: on one weekday each type gets twice its mean added */
  private def seasonalDaily(s: SparkSession, d: String): DataFrame = {
    val daily0 = t(s, d, "events")
      .select(col("event_type"),
        expr("unix_micros(date_trunc('day', ts))").as("d"))
      .groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).as("x0"))
      .localCheckpoint() // one daily frame feeds the mean AND the series
    val ref = daily0.groupBy(col("event_type"))
      .agg(expr("sum(x0) DIV count(1)").as("mu"))
    daily0.join(broadcast(ref), "event_type")
      .select(col("event_type"), col("d"),
        (col("x0") + when(
          (col("d") / lit(86400000000L) + 4) % 7 === 6, col("mu") * 2)
          .otherwise(0L)).as("x"))
  }

  /** the planted-drift monitors' daily feed (q194's family): per event
    * type and day `d` (epoch µs) the event count, named by `x`, with
    * the corpus midpoint `cut` broadcast onto every row
    */
  private def driftCounts(s: SparkSession, d: String, x: String): DataFrame = {
    val ev = t(s, d, "events").select(col("event_type"),
      unix_micros(date_trunc("day", col("ts"))).as("d"))
    val span = ev.agg(expr("(min(d) + max(d)) DIV 2").as("cut"))
    ev.groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).as(x))
      .crossJoin(broadcast(span))
  }

  /** the plant itself, as column `x`: click volume doubles from `cut` on */
  private def plantedDrift(x: String): Column =
    when(col("event_type") === "click" && col("d") >= col("cut"),
      col(x) * 2).otherwise(col(x)).as("x")

  /** q194/q207's (event_type, d, cut, x), shared with their streaming
    * twins q199/q212 */
  private[queries] def driftDaily(s: SparkSession, d: String): DataFrame =
    driftCounts(s, d, "x")
      .select(col("event_type"), col("d"), col("cut"), plantedDrift("x"))
      .localCheckpoint() // one daily frame feeds the reference AND the scan

  /** q206/q218/q226's (event_type, dd, x), dd the day number */
  private def driftDays(s: SparkSession, d: String, x: String): DataFrame =
    driftCounts(s, d, x).select(col("event_type"),
      expr("d DIV 86400000000").as("dd"), plantedDrift(x))

  /** driftDays' DuckDB mirror: the ev/span/daily CTEs q206, q218 and
    * q226 open with; the caller appends its CTEs and SELECT */
  private val DriftDaysSql: String = """
        WITH ev AS (SELECT event_type,
                           epoch_us(date_trunc('day', ts::TIMESTAMP)) AS d
                    FROM events),
        span AS (SELECT (min(d) + max(d)) // 2 AS cut FROM ev),
        daily AS (
          SELECT event_type, d // 86400000000 AS dd,
                 CAST(CASE WHEN event_type = 'click'
                             AND d >= (SELECT cut FROM span)
                      THEN count(*) * 2 ELSE count(*) END AS BIGINT) AS x
          FROM ev GROUP BY event_type, d)"""

  override def queries: Map[String, Q] = Map(

    // ----- PIVOT: wide conditional aggregation ----------------------
    "q52_pivot" -> Q(
      fn = (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_linestatus"))
          .pivot("l_returnflag", Seq("A", "N", "R"))
          .agg(sum(col("l_quantity"))),
      sql = Some("""
        SELECT l_linestatus,
               sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS "A",
               sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS "N",
               sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS "R"
        FROM lineitem GROUP BY 1"""),
      scaleNote = "pivot with explicit values skips the value-discovery pre-pass; the input aggregates (two-phase) before pivoting, so the pivot exchange moves only |groups × values| rows"),

    // ----- exact interpolated percentiles ---------------------------
    "q53_percentiles" -> Q(
      fn = (s, d) =>
        // ONE percentile agg with an array of fractions: four separate
        // percentile(...) calls each maintain their own value-count
        // buffer over the whole column (measured 4× the cost)
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(expr(
            "percentile(l_extendedprice, array(0.25D, 0.50D, 0.75D, 0.99D))")
            .as("ps"))
          .select(col("l_returnflag"),
            round(element_at(col("ps"), 1), 4).as("p25"),
            round(element_at(col("ps"), 2), 4).as("p50"),
            round(element_at(col("ps"), 3), 4).as("p75"),
            round(element_at(col("ps"), 4), 4).as("p99")),
      // rounded on BOTH sides: the linear-interpolation arithmetic
      // (lower + (higher-lower)*f vs lower*(1-f) + higher*f) can differ
      // in the last ulp between engines. round(,4) is NOT tie-flaky
      // here — it relies on an invariant of this query, not luck:
      // l_extendedprice has exactly 2 decimals and every fraction has
      // exactly 2, so the true interpolated value is a multiple of
      // 10^-4 — always 5×10^-5 from the nearest rounding boundary,
      // while the cross-engine ulp disagreement is ~10^-10. Changing
      // the fractions or the column to >2 decimals breaks the
      // invariant; re-derive before editing.
      sql = Some("""
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
               round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
               round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
               round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        FROM lineitem GROUP BY 1"""),
      scaleNote = "exact percentile buffers per-group values — fine per bounded group; at 100 TB with huge groups switch to approx_percentile (t-digest, mergeable sketches)"),

    // ----- PSI distribution drift (feature-shift monitor) -----------
    // The fourth monitoring leg: population stability index of the
    // event-value distribution between the feed's first and second
    // fortnight — the standard "did the feature distribution move
    // under my model/filters" check. Fixed-width value buckets
    // (q144's quantizer), Laplace-smoothed shares (n+1)/(N+B) so an
    // empty-on-one-side bucket contributes a finite term instead of
    // ±∞, per-bucket contribution (pa−pb)·ln(pa/pb) ≥ 0 each. The
    // EMITTED share witnesses are exact integers — parts-per-billion
    // via integer division (the r8 q145 lesson: even an unrounded
    // exact-int-ratio double can trip a cross-version driver gate);
    // the double shares exist only INSIDE the ln term, whose ~1-ulp
    // wobble is genuinely transcendental and absorbed by round(,6) on
    // the contribution and on the TOTAL (summed UNROUNDED, rounded
    // once — mirror order).
    "q151_psi_drift" -> Q(
      fn = (s, d) => {
        val counts = t(s, d, "events")
          .select(
            (col("ts") < lit("2024-01-16").cast("timestamp")).as("is_a"),
            floor(col("value") / lit(50.0)).cast("long").as("b"))
          .groupBy(col("b"))
          .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("na"),
            sum(when(!col("is_a"), 1L).otherwise(0L)).as("nb"))
          .localCheckpoint() // feeds totals AND shares
        val tot = counts.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"),
          count(lit(1)).as("nbuckets"))
        val shares = counts.crossJoin(broadcast(tot)).select(col("b"),
          ((col("na") + 1).cast("double")
            / (col("ta") + col("nbuckets")).cast("double")).as("pa"),
          ((col("nb") + 1).cast("double")
            / (col("tb") + col("nbuckets")).cast("double")).as("pb"),
          expr("(na + 1) * CAST(1000000000 AS BIGINT) DIV (ta + nbuckets)")
            .as("pa_ppb"),
          expr("(nb + 1) * CAST(1000000000 AS BIGINT) DIV (tb + nbuckets)")
            .as("pb_ppb"))
        val term = (col("pa") - col("pb")) * log(col("pa") / col("pb"))
        shares
          .select(col("b").cast("string").as("bucket"),
            col("pa_ppb"), col("pb_ppb"), round(term, 6).as("contrib"))
          .unionByName(shares
            .agg(round(sum(term), 6).as("contrib"))
            .select(lit("TOTAL").as("bucket"),
              lit(null).cast("long").as("pa_ppb"),
              lit(null).cast("long").as("pb_ppb"), col("contrib")))
      },
      sql = Some("""
        WITH e AS (SELECT (ts < TIMESTAMP '2024-01-16') AS is_a,
                          CAST(floor(value / CAST(50.0 AS DOUBLE)) AS BIGINT)
                            AS b
                   FROM events),
        c AS MATERIALIZED (
          SELECT b, CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END)
                         AS BIGINT) AS na,
                    -- NOT is_a, not the is_a ELSE-branch: a NULL ts must
                    -- count in NEITHER period on both engines (the Spark
                    -- side's !is_a is NULL there and falls to otherwise 0)
                    CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END)
                         AS BIGINT) AS nb
          FROM e GROUP BY 1),
        t AS (SELECT CAST(sum(na) AS BIGINT) AS ta,
                     CAST(sum(nb) AS BIGINT) AS tb,
                     count(*) AS nbuckets FROM c),
        p AS (SELECT b,
                CAST(na + 1 AS DOUBLE) / CAST(ta + nbuckets AS DOUBLE) AS pa,
                CAST(nb + 1 AS DOUBLE) / CAST(tb + nbuckets AS DOUBLE) AS pb,
                ((na + 1) * CAST(1000000000 AS BIGINT)) // (ta + nbuckets)
                  AS pa_ppb,
                ((nb + 1) * CAST(1000000000 AS BIGINT)) // (tb + nbuckets)
                  AS pb_ppb
              FROM c, t)
        SELECT CAST(b AS VARCHAR) AS bucket, pa_ppb, pb_ppb,
               round((pa - pb) * ln(pa / pb), 6) AS contrib FROM p
        UNION ALL
        SELECT 'TOTAL', NULL, NULL,
               round(sum((pa - pb) * ln(pa / pb)), 6) FROM p"""),
      scaleNote = "counts partial-aggregate map-side into ≤ |buckets| rows and the totals are one broadcast row — one scan whatever the feed size; the bucket frames are mergeable across shards/days (counts add, the q144 rollup stance), so a daily PSI needs no rescan of history"),

    // ----- q194: CUSUM drift detector (r11) --------------------------
    // Page's cumulative-sum change detection — the sequential-looking
    // monitor every ops stack wants next to q149's pointwise z-score
    // (which only sees single-day spikes) and q151's two-window PSI
    // (which needs the windows chosen up front): CUSUM accumulates
    // small persistent shifts until they cross a threshold, detecting
    // drifts no single day reveals. The textbook recurrence
    // S_t = max(0, S_{t-1} + x_t − k) looks inherently sequential, but
    // it has the exact closed form S_t = P_t − min_{0≤j≤t} P_j with
    // P = cumsum(x − k) and the VIRTUAL empty prefix P_0 = 0 (dropping
    // it under-reports day one) — two ordinary prefix windows, fully
    // distributed per key (the spec pins the equivalence against a
    // sequential replica row by row). Reference k = pre-cut mean + 5%
    // slack, threshold h = 2·mean, all exact integer arithmetic. The
    // corpus has no organic drift, so the query plants one (the
    // q151/q192 stance): click volume doubles after the midpoint —
    // the detector must fire on clicks after the cut and the plant is
    // mirrored in the oracle.
    "q194_cusum_drift" -> Q(
      fn = (s, d) => {
        val daily = driftDaily(s, d)
        val ref = daily.filter(col("d") < col("cut"))
          .groupBy(col("event_type"))
          .agg(expr("sum(x) DIV count(1)").as("mu"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily.join(broadcast(ref), "event_type")
          .withColumn("p",
            sum(col("x") - (col("mu") + expr("mu DIV 20"))).over(w))
          // the prefix min must include the virtual P_0 = 0 (the empty
          // prefix) or day one under-reports: S_1 = max(0, P_1)
          .withColumn("s",
            (col("p") - least(lit(0L), min(col("p")).over(w))).cast("long"))
          .select(col("event_type"), col("d"), col("x"), col("s"),
            (col("s") > col("mu") * 2).cast("long").as("alarm"))
      },
      sql = Some(CusumOracleSql),
      scaleNote = "raw events collapse map-side to |types × days| daily rows before anything moves; the two prefix windows ride ONE event_type exchange of that tiny frame, and the 1-row cut plus |types|-row reference broadcast — the closed form is what makes CUSUM distributable at all (the recurrence would otherwise serialize on the driver); at 100 TB per-entity CUSUM (key = user/source/partition) is the same plan with the entity in the partition key, state O(|entities × days|)"),

    // ----- q206: Theil-Sen robust trend estimator (r12) --------------
    // The robust-regression companion to q196 (robust LOCATION via
    // median/MAD) and q194 (WHEN did it drift): the median of all
    // pairwise slopes (x_j−x_i)/(d_j−d_i) — Theil 1950 / Sen 1968 —
    // estimates the drift RATE with breakdown point ~29%, where the
    // OLS slope one corrupt day can drag arbitrarily. Runs on q194's
    // exact planted feed (click doubles after the midpoint), so the
    // expected readout is a decisively positive click slope and
    // near-zero everything else — the monitors compose: q194 fires
    // the alarm, q206 quantifies the trend the alarm sits on.
    // Exactness: slopes stay EXACT RATIONALS (num = Δcount,
    // den = Δdays > 0) end to end; the ONLY float is the ordering key
    // CAST(num AS DOUBLE)/den — a single IEEE division both engines
    // compute identically — with (num, den) tie-breaks so the
    // selected lower-median ROW is deterministic even across
    // equal-valued rationals (1/2 vs 2/4 order by num), and the
    // emitted columns are the exact integers, never the double.
    "q206_theil_sen_trend" -> Q(
      fn = (s, d) => {
        val daily = driftDays(s, d, "x")
          .localCheckpoint() // one daily frame feeds both pair sides
        val pairs = daily.as("a").join(daily.as("b"),
            col("a.event_type") === col("b.event_type") &&
            col("a.dd") < col("b.dd"))
          .select(col("a.event_type").as("event_type"),
            (col("b.x") - col("a.x")).as("num"),
            (col("b.dd") - col("a.dd")).as("den"))
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("num").cast("double") / col("den"),
            col("num"), col("den"))
        val cnt = pairs.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_pairs"))
        pairs.withColumn("rk", row_number().over(w))
          .join(broadcast(cnt), "event_type")
          // integer DIV, matching the oracle's `//` and the spec
          // replica — Spark's `/` is DOUBLE division, which would make
          // the rank filter fractional (and match nothing) whenever
          // n_pairs is even (e.g. a 28/29-day horizon)
          .filter(col("rk") === expr("(n_pairs + 1) DIV 2"))
          .select(col("event_type"), col("n_pairs"),
            col("num").as("med_slope_num"), col("den").as("med_slope_den"),
            (col("num") > 0).cast("long").as("rising"))
      },
      sql = Some(DriftDaysSql + """,
        pairs AS (
          SELECT a.event_type AS event_type,
                 b.x - a.x AS num, b.dd - a.dd AS den
          FROM daily a JOIN daily b
            ON a.event_type = b.event_type AND a.dd < b.dd),
        cnt AS (SELECT event_type, count(*) AS n_pairs
                FROM pairs GROUP BY 1),
        rk AS (
          SELECT event_type, num, den,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY CAST(num AS DOUBLE) / den, num, den) AS rk
          FROM pairs)
        SELECT rk.event_type AS event_type, n_pairs,
               num AS med_slope_num, den AS med_slope_den,
               CAST(num > 0 AS BIGINT) AS rising
        FROM rk JOIN cnt USING (event_type)
        WHERE rk = (n_pairs + 1) // 2"""),
      scaleNote = "the pair join runs on the ALREADY-COLLAPSED |types × days| daily frame — O(|days|²) rows per key regardless of event volume, and |days| is the monitoring horizon, not the corpus (a year is 66k pairs/key); the rank window rides one event_type exchange of that pair frame; at 100 TB per-entity trends key the same plan by (entity) with the horizon bounding per-key cost, and for very long horizons the documented refinements are pair SAMPLING (the median is estimable from O(n) random pairs — REGISTERED as q226) or Siegel's repeated median — same frame, same exchange"),

    // ----- q218: Mann-Kendall trend significance (r13) ----------------
    // The question q206 deliberately leaves open: Theil-Sen QUANTIFIES
    // the drift rate, but is the trend SIGNIFICANT or noise? The
    // Mann-Kendall test (Mann 1945, Kendall 1975) — the standard
    // nonparametric monotone-trend test hydrology/ops run beside the
    // Sen slope — answers with EXACT INTEGERS end to end: S = Σ_{i<j}
    // sign(x_j − x_i) over the same collapsed daily frame, Var(S) =
    // [n(n−1)(2n+5) − Σ_ties t(t−1)(2t+5)]/18 with the tie correction
    // (integer counts TIE often — skipping it overstates variance and
    // misses real trends), and the two-sided α = 0.05 z-test with
    // continuity correction |S|−1 > 1.96·√Var cross-multiplies to
    //   (|S|−1)² · 625 · 18 > 2401 · varnum        (1.96 = 49/25)
    // — no sqrt, no division, no float anywhere. The monitors now
    // compose three ways on one feed: q194 says WHEN it drifted, q206
    // says HOW FAST, q218 says WHETHER to believe it.
    "q218_mann_kendall_test" -> Q(
      fn = (s, d) => {
        val daily = driftDays(s, d, "x0")
          .localCheckpoint() // one daily frame feeds S, n AND the ties
        val sStat = daily.as("a").join(daily.as("b"),
            col("a.event_type") === col("b.event_type") &&
            col("a.dd") < col("b.dd"))
          .groupBy(col("a.event_type").as("event_type"))
          .agg(sum(when(col("b.x") > col("a.x"), 1L)
            .when(col("b.x") < col("a.x"), -1L)
            .otherwise(0L)).as("s_stat"))
        val nDays = daily.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"))
        val ties = daily.groupBy(col("event_type"), col("x"))
          .agg(count(lit(1)).as("t"))
          .filter(col("t") > 1)
          .groupBy(col("event_type"))
          .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tcorr"))
        // LEFT join + coalesce(0): a key with a single observed day has
        // no pairs, so an inner join here would silently drop it from
        // the report — exactly when its data is thinnest the monitor
        // must still emit (S = 0, varnum = 0 at n = 1 ⇒ significant =
        // rising = 0), mirrored in the oracle (ADVICE r13)
        nDays.join(sStat, Seq("event_type"), "left")
          .join(ties, Seq("event_type"), "left")
          .select(col("event_type"), col("n"),
            coalesce(col("s_stat"), lit(0L)).as("s_stat"),
            (expr("n * (n - 1) * (2 * n + 5)") -
              coalesce(col("tcorr"), lit(0L))).as("varnum"))
          .select(col("event_type"), col("n"), col("s_stat"), col("varnum"),
            (col("s_stat") > 0).cast("long").as("rising"),
            (abs(col("s_stat")) > 1 &&
              (abs(col("s_stat")) - 1) * (abs(col("s_stat")) - 1) *
                625L * 18L > lit(2401L) * col("varnum"))
              .cast("long").as("significant"))
      },
      sql = Some(DriftDaysSql + """,
        pairs AS (
          SELECT a.event_type AS event_type,
                 CAST(CASE WHEN b.x > a.x THEN 1
                           WHEN b.x < a.x THEN -1 ELSE 0 END AS BIGINT) AS sg
          FROM daily a JOIN daily b
            ON a.event_type = b.event_type AND a.dd < b.dd),
        s AS (SELECT event_type, CAST(sum(sg) AS BIGINT) AS s_stat
              FROM pairs GROUP BY 1),
        nn AS (SELECT event_type, count(*) AS n FROM daily GROUP BY 1),
        ties AS (SELECT event_type,
                        CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT)
                          AS tcorr
                 FROM (SELECT event_type, x, count(*) AS t
                       FROM daily GROUP BY 1, 2) g
                 WHERE t > 1 GROUP BY 1),
        v AS (SELECT nn.event_type AS event_type, n,
                     CAST(coalesce(s_stat, 0) AS BIGINT) AS s_stat,
                     CAST(n * (n - 1) * (2 * n + 5) - coalesce(tcorr, 0)
                       AS BIGINT) AS varnum
              FROM nn LEFT JOIN s USING (event_type)
              LEFT JOIN ties ON nn.event_type = ties.event_type)
        SELECT event_type, n, s_stat, varnum,
               CAST(s_stat > 0 AS BIGINT) AS rising,
               CAST(abs(s_stat) > 1 AND
                    (abs(s_stat) - 1) * (abs(s_stat) - 1) * 625 * 18
                      > 2401 * varnum AS BIGINT) AS significant
        FROM v"""),
      scaleNote = "identical cost envelope to q206 (whose scaleNote applies verbatim): the pair join runs on the ALREADY-COLLAPSED |types × days| frame — O(|days|²) rows per key bounded by the monitoring horizon, never the corpus — plus two cheap folds of the daily frame itself (n, tie groups); everything shuffles once on event_type; at 100 TB per-entity tests key the same plan by (entity), and the long-horizon refinement is the same pair sampling q206 names (S/n² is estimable from O(n) random pairs with its own binomial error bar) — REGISTERED as q226"),

    // ----- q226: pair-SAMPLED long-horizon trend estimator (r14) ------
    // The spelling q206 and q218 both promised for horizons where even
    // the collapsed |days|² pair frame is too big (a decade of
    // per-minute points is 10¹³ pairs/key): estimate Kendall's S and
    // the Theil-Sen median slope from m = 8n DETERMINISTIC pair
    // samples — md5-keyed, so both engines draw the IDENTICAL pairs
    // and every emitted statistic stays a pure function of the corpus.
    // Sample k of key t picks day indices i = h₇("pa:t:k") mod n and
    // j from h₇("pb:t:k") mod (n−1) skip-shifted past i (uniform over
    // ordered distinct pairs, with replacement across k — the iid
    // design the binomial bound needs). Emitted beside the estimates,
    // the test-SF exact witnesses (q206/q218's full-pair S and the
    // per-type day count) and the 2σ bound as an exact integer
    // cross-multiply: (sum_sg·C − S·m)² ≤ 4·m·C² where C = n(n−1)/2 —
    // Var(sum_sg) ≤ m, so the estimator Ŝ = sum_sg·C/m sits within
    // 2·C/√m of S. err_ok = 1 for every type at every test SF
    // (probe-verified sf0.001/0.01/0.1); the planted click trend's
    // SIGN is recovered by the sample at all three.
    "q226_pair_sampled_trend" -> Q(
      fn = (s, d) => {
        val daily = driftDays(s, d, "x0")
          .localCheckpoint() // feeds idx, the samples AND the exact witness
        // day index per key: a window over the bounded daily frame
        // (|days| rows/key — q206's own exchange), never the corpus
        val idx = daily.withColumn("idx",
          (row_number().over(Window.partitionBy(col("event_type"))
            .orderBy(col("dd"))) - 1).cast("long"))
        val cnt = daily.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"))
          .filter(col("n") >= 2) // a 1-day key has no pairs to sample
        val h7 = (salt: String, m: Column) => pmod(conv(substring(md5(
          concat(lit(salt), col("event_type"), lit(":"),
            col("k").cast("string"))), 1, 7), 16, 10).cast("long"), m)
        val hh = cnt.select(col("event_type"), col("n"),
            explode(sequence(lit(0L), col("n") * 8 - 1)).as("k"))
          .withColumn("ia", h7("pa:", col("n")))
          .withColumn("jr", h7("pb:", col("n") - 1))
          .withColumn("j",
            when(col("jr") >= col("ia"), col("jr") + 1).otherwise(col("jr")))
          .select(col("event_type"), col("n"),
            least(col("ia"), col("j")).as("lo"),
            greatest(col("ia"), col("j")).as("hi"))
        val a = idx.select(col("event_type"), col("idx").as("lo"),
          col("dd").as("dd_lo"), col("x").as("x_lo"))
        val b = idx.select(col("event_type"), col("idx").as("hi"),
          col("dd").as("dd_hi"), col("x").as("x_hi"))
        val sv = hh.join(a, Seq("event_type", "lo"))
          .join(b, Seq("event_type", "hi"))
          .select(col("event_type"), col("n"),
            (col("x_hi") - col("x_lo")).as("num"),
            (col("dd_hi") - col("dd_lo")).as("den"))
        val est = sv.groupBy(col("event_type"))
          .agg(max(col("n")).as("n"), count(lit(1)).as("m"),
            sum(when(col("num") > 0, 1L).when(col("num") < 0, -1L)
              .otherwise(0L)).as("sum_sg"))
        // sampled Theil-Sen median: q206's ordering discipline over
        // the m-row sample (the only window rides the bounded frame)
        val med = sv.select(col("event_type"), col("num"), col("den"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("event_type"))
              .orderBy(col("num").cast("double") / col("den"),
                col("num"), col("den"))))
        val sExact = daily.as("a").join(daily.as("b"),
            col("a.event_type") === col("b.event_type") &&
            col("a.dd") < col("b.dd"))
          .groupBy(col("a.event_type").as("event_type"))
          .agg(sum(when(col("b.x") > col("a.x"), 1L)
            .when(col("b.x") < col("a.x"), -1L)
            .otherwise(0L)).as("s_exact"))
        est.join(sExact, "event_type")
          .join(med, Seq("event_type"))
          .filter(col("rk") === expr("(m + 1) DIV 2"))
          .select(col("event_type"), col("n"),
            expr("n * (n - 1) DIV 2").as("n_pairs"),
            col("m"), col("sum_sg"), col("s_exact"),
            (col("sum_sg") > 0).cast("long").as("est_rising"),
            (col("s_exact") > 0).cast("long").as("rising_exact"),
            ((col("sum_sg") * expr("n * (n - 1) DIV 2")
                - col("s_exact") * col("m"))
              * (col("sum_sg") * expr("n * (n - 1) DIV 2")
                - col("s_exact") * col("m"))
              <= lit(4L) * col("m") * expr("n * (n - 1) DIV 2")
                * expr("n * (n - 1) DIV 2"))
              .cast("long").as("err_ok"),
            col("num").as("med_est_num"), col("den").as("med_est_den"))
      },
      sql = Some(DriftDaysSql + s""",
        idx AS (SELECT event_type, dd, x,
                       row_number() OVER (PARTITION BY event_type
                         ORDER BY dd) - 1 AS idx
                FROM daily),
        cnt AS (SELECT event_type, count(*) AS n FROM daily
                GROUP BY 1 HAVING count(*) >= 2),
        sm AS (SELECT event_type, n, unnest(range(8 * n)) AS k FROM cnt),
        hh AS (SELECT event_type, n, k,
                 ${OracleSql.hexN(
          "md5('pa:' || event_type || ':' || CAST(k AS VARCHAR))", 7)}
                   % n AS ia,
                 ${OracleSql.hexN(
          "md5('pb:' || event_type || ':' || CAST(k AS VARCHAR))", 7)}
                   % (n - 1) AS jr
               FROM sm),
        pr AS (SELECT event_type, n,
                      least(ia, CASE WHEN jr >= ia THEN jr + 1 ELSE jr END)
                        AS lo,
                      greatest(ia, CASE WHEN jr >= ia THEN jr + 1 ELSE jr END)
                        AS hi
               FROM hh),
        sv AS (SELECT p.event_type, p.n,
                      b.x - a.x AS num, b.dd - a.dd AS den
               FROM pr p
               JOIN idx a ON a.event_type = p.event_type AND a.idx = p.lo
               JOIN idx b ON b.event_type = p.event_type AND b.idx = p.hi),
        est AS (SELECT event_type, max(n) AS n, count(*) AS m,
                       CAST(sum(CASE WHEN num > 0 THEN 1
                                     WHEN num < 0 THEN -1
                                     ELSE 0 END) AS BIGINT) AS sum_sg
                FROM sv GROUP BY 1),
        pairs AS (SELECT a.event_type AS event_type,
                         CAST(CASE WHEN b.x > a.x THEN 1
                                   WHEN b.x < a.x THEN -1
                                   ELSE 0 END AS BIGINT) AS sg
                  FROM daily a JOIN daily b
                    ON a.event_type = b.event_type AND a.dd < b.dd),
        s AS (SELECT event_type, CAST(sum(sg) AS BIGINT) AS s_exact
              FROM pairs GROUP BY 1),
        mrank AS (SELECT event_type, num, den,
                         row_number() OVER (PARTITION BY event_type
                           ORDER BY CAST(num AS DOUBLE) / den, num, den)
                           AS rk
                  FROM sv)
        SELECT e.event_type AS event_type, e.n AS n,
               e.n * (e.n - 1) // 2 AS n_pairs, e.m AS m,
               e.sum_sg AS sum_sg, s.s_exact AS s_exact,
               CAST(e.sum_sg > 0 AS BIGINT) AS est_rising,
               CAST(s.s_exact > 0 AS BIGINT) AS rising_exact,
               CAST((e.sum_sg * (e.n * (e.n - 1) // 2) - s.s_exact * e.m)
                    * (e.sum_sg * (e.n * (e.n - 1) // 2) - s.s_exact * e.m)
                    <= 4 * e.m * (e.n * (e.n - 1) // 2)
                       * (e.n * (e.n - 1) // 2) AS BIGINT) AS err_ok,
               mr.num AS med_est_num, mr.den AS med_est_den
        FROM est e JOIN s USING (event_type)
        JOIN mrank mr ON mr.event_type = e.event_type
                     AND mr.rk = (e.m + 1) // 2"""),
      scaleNote = "the sample frame is O(m) = O(n) rows per key — generated map-side from the key's day count, fetched by two equi-joins against the (already bounded) indexed daily frame, so the decade-horizon case costs 8n lookups instead of n²/2 pairs; the day index is one window over the |days|-per-key frame (q206's own exchange — at extreme horizons swap it for the q222 value-threshold trick on dd itself since days are already dense integers); estimates, witnesses and the 2σ gate are exact BIGINT cross-multiplies end to end, and at 100 TB the witness columns (s_exact, err_ok) drop away with the full-pair join they certify — the REGISTERED query keeps them precisely so the sampling law is gated, not asserted"),

    // ----- q207: EWMA control chart (r12) ----------------------------
    // Roberts 1959 — the OTHER canonical sequential SPC chart beside
    // Page's CUSUM (q194): z_t = λx_t + (1−λ)z_{t−1} smoothed against
    // time-varying limits µ ± L·σ·√(λ/(2−λ)·(1−(1−λ)^{2t})) — the
    // limits WIDEN toward steady state as the smoother forgets its
    // seed, which is what lets an EWMA chart fire honestly from day
    // one where a fixed-limit chart over-alarms early. λ = 0.2,
    // L = 3, reference µ/σ² from the pre-cut window (q194's planted
    // click doubling is the shift under test — CUSUM and the EWMA
    // chart gate the SAME feed, the textbook pairing). Determinism:
    // the recurrence runs as q114's secondary-sort mapPartitions scan
    // (both engines execute the IDENTICAL double op chain — no
    // intermediate rounding needed, q114's proven stance), the limit
    // factor (1−λ)^{2t} is carried ITERATIVELY (g ← 0.64·g) in the
    // same recursion rather than through pow() (whose rounding is not
    // IEEE-pinned), µ/varnum = n₀Q−S² stay exact integers, and the
    // alarm compare is cross-multiplied to (z−µ)²·1.8·n₀² >
    // 9·0.2·varnum·(1−g) so no division ever happens; every DuckDB
    // literal is CAST to DOUBLE (the decimal trap).
    "q207_ewma_control_chart" -> Q(
      fn = (s, d) => {
        import s.implicits._
        val daily = driftDaily(s, d)
        val ref = daily.filter(col("d") < col("cut"))
          .groupBy(col("event_type"))
          .agg(expr("sum(x) DIV count(1)").as("mu"),
            expr("count(1) * sum(x * x) - sum(x) * sum(x)").as("varnum"),
            count(lit(1)).as("n0"))
        daily.join(broadcast(ref), "event_type")
          .select(col("event_type"), col("d"), col("x"),
            col("mu"), col("varnum"), col("n0"))
          .repartition(col("event_type"))
          .sortWithinPartitions(col("event_type"), col("d"))
          .as[(String, Long, Long, Long, Long, Long)]
          .mapPartitions { it =>
            var cur: String = null
            var z = 0.0
            var g = 1.0
            it.map { case (et, day, x, mu, varnum, n0) =>
              if (et != cur) { cur = et; z = mu.toDouble; g = 1.0 }
              z = 0.2 * x + 0.8 * z
              g = g * 0.64
              val dev = z - mu
              val alarm =
                if (dev * dev * 1.8 * n0 * n0 >
                  9.0 * 0.2 * varnum * (1.0 - g)) 1L else 0L
              (et, day, x, z, alarm)
            }
          }
          .toDF("event_type", "d", "x", "z", "alarm")
      },
      sql = Some(EwmaChartOracleSql),
      scaleNote = "the chart is q114's plan: raw events collapse map-side to the |types × days| frame, one exchange on the key, then a streaming constant-memory scan carrying THREE doubles of state (z, g, and the key) — no window materializes the series, no pow() enters the path; at 100 TB per-entity charts key the same scan by (entity) and the steady-state variant drops g entirely (fixed limits, two doubles of state) — this and q194 are the two sequential monitors a feed runs side by side: EWMA reacts faster to moderate shifts, CUSUM accumulates smaller ones"),


    // ----- partition freshness / gap audit (temporal completeness) --
    // The third leg of the monitoring trio (q148 structural, q149
    // statistical): per calendar day between the feed's min and max,
    // the row count and a status — 'missing' (a day with zero events:
    // the failed-ingest signature), 'sparse' (under half the mean
    // daily volume, by EXACT integer cross-multiplication — no float
    // threshold), else 'ok'. The calendar derives from ONE aggregate
    // row fanned through sequence(), so the audit never assumes the
    // feed is gapless — it measures it.
    "q150_freshness_audit" -> Q(
      fn = (s, d) => {
        val byDay = t(s, d, "events")
          .select(to_date(col("ts")).as("day"))
          .groupBy(col("day")).agg(count(lit(1)).as("n"))
          .localCheckpoint() // feeds the span row AND the per-day join
        val span = byDay.agg(min(col("day")).as("d0"), max(col("day")).as("d1"),
          sum(col("n")).as("total"))
        val cal = span.select(
          explode(sequence(col("d0"), col("d1"))).as("day"),
          col("total"),
          (datediff(col("d1"), col("d0")) + 1).cast("long").as("n_days"))
        cal.join(byDay, Seq("day"), "left")
          .select(col("day"), coalesce(col("n"), lit(0L)).as("n_events"),
            when(col("n").isNull, "missing")
              .when(col("n") * col("n_days") * 2 < col("total"), "sparse")
              .otherwise("ok").as("status"))
      },
      sql = Some("""
        WITH byday AS (SELECT ts::DATE AS day, count(*) AS n
                       FROM events GROUP BY 1),
        span AS (SELECT min(day) AS d0, max(day) AS d1, sum(n) AS total,
                        (max(day) - min(day) + 1) AS n_days FROM byday),
        cal AS (SELECT unnest(generate_series(d0, d1,
                         INTERVAL 1 DAY))::DATE AS day,
                       total, n_days FROM span)
        SELECT cal.day, coalesce(b.n, 0) AS n_events,
               CASE WHEN b.n IS NULL THEN 'missing'
                    WHEN b.n * n_days * 2 < total THEN 'sparse'
                    ELSE 'ok' END AS status
        FROM cal LEFT JOIN byday b USING (day)"""),
      scaleNote = "per-day counts partial-aggregate map-side into ≤ |days| rows; the calendar is one aggregate row exploded and broadcast back — cost is the one scan whatever the feed size, and with a date-partitioned layout the scan itself reduces to listing partition dirs (footer/metadata only)"),

    // ----- q205: seasonal-naive forecast backtest (r12) --------------
    // The catalog's first FORECASTING operator — the capacity-planning
    // question every ops stack asks after the monitors (q149/q151/
    // q194) say the feed is healthy: how predictable is tomorrow?
    // Methodology is the M-competition baseline discipline: the
    // seasonal-naive forecast x̂_t = x_{t−7} walk-forward-backtested
    // against the naive x̂_t = x_{t−1}, scored by MASE (Hyndman &
    // Koehler 2006) — the scale-free standard that needs NO division
    // until the final ppm emission. The synthetic feed has no organic
    // weekly cycle, so the query plants one (the q194 stance) —
    // ADDITIVELY: Saturdays gain 2× the type's mean daily volume,
    // via the PORTABLE integer day-of-week (epoch_days + 4) mod 7 and
    // an integer DIV mean. Additive is the load-bearing choice: a
    // multiplicative plant (×k) scales the Saturday-to-Saturday NOISE
    // by the same k it adds signal, so seasonal-naive gains nothing
    // when the base series' week-over-week variation is already high
    // (measured: ×4 still left click's MASE at 1.09 at sf0.001) —
    // whereas a constant additive offset cancels EXACTLY between
    // aligned Saturdays while hitting both Fri→Sat and Sat→Sun naive
    // steps, and 2·mean dominates day-to-day noise (~√2·sd ≪ 2·mean)
    // at EVERY SF. Expected honest result: mase_ppm < 1e6 everywhere
    // — the spec pins that, plus a no-plant control with no edge.
    // All arithmetic exact BIGINT; the one division is ppm of two
    // BIGINT sums, CASE-guarded against a constant series.
    "q205_seasonal_naive_backtest" -> Q(
      fn = (s, d) => {
        val daily = seasonalDaily(s, d)
        val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
        daily
          .withColumn("f_seasonal", lag(col("x"), 7).over(w))
          .withColumn("f_naive", lag(col("x"), 1).over(w))
          .filter(col("f_seasonal").isNotNull)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_eval"),
            sum(abs(col("x") - col("f_seasonal"))).as("sae_seasonal"),
            sum(abs(col("x") - col("f_naive"))).as("sae_naive"))
          .select(col("event_type"), col("n_eval"),
            col("sae_seasonal"), col("sae_naive"),
            when(col("sae_naive") === 0, lit(null).cast("long"))
              .otherwise(expr("sae_seasonal * 1000000 DIV sae_naive"))
              .as("mase_ppm"))
      },
      sql = Some("""
        WITH daily0 AS (
          SELECT event_type,
                 epoch_us(date_trunc('day', ts::TIMESTAMP)) AS d,
                 count(*) AS x0
          FROM events GROUP BY 1, 2),
        ref AS (SELECT event_type, CAST(sum(x0) AS BIGINT) // count(*) AS mu
                FROM daily0 GROUP BY 1),
        daily AS (
          SELECT daily0.event_type AS event_type, d,
                 CAST(x0 + CASE WHEN (d // 86400000000 + 4) % 7 = 6
                      THEN 2 * mu ELSE 0 END AS BIGINT) AS x
          FROM daily0 JOIN ref USING (event_type)),
        fc AS (
          SELECT event_type, x,
                 lag(x, 7) OVER w AS f_seasonal,
                 lag(x, 1) OVER w AS f_naive
          FROM daily
          WINDOW w AS (PARTITION BY event_type ORDER BY d))
        SELECT event_type, count(*) AS n_eval,
               CAST(sum(abs(x - f_seasonal)) AS BIGINT) AS sae_seasonal,
               CAST(sum(abs(x - f_naive)) AS BIGINT) AS sae_naive,
               CASE WHEN CAST(sum(abs(x - f_naive)) AS BIGINT) = 0 THEN NULL
                    ELSE CAST(sum(abs(x - f_seasonal)) AS BIGINT) * 1000000
                         // CAST(sum(abs(x - f_naive)) AS BIGINT)
               END AS mase_ppm
        FROM fc WHERE f_seasonal IS NOT NULL
        GROUP BY 1"""),
      scaleNote = "raw events collapse map-side to the |types × days| daily frame before anything moves (q194's shape); both forecast lags ride ONE event_type exchange of that tiny frame, and the scorecard is |types| rows of integer counters — at 100 TB the same plan backtests per-entity forecasts (key = source/tenant/partition) with the entity in the partition key, and longer-horizon or multi-seasonal variants are just more lag columns on the same exchange; the scorecard is what a pipeline gates autoscaling or budget alerts on"),

    // ----- q213: Holt-Winters additive forecaster (r13) --------------
    // The real forecaster above q205's baseline — the operator
    // capacity planning actually runs once seasonal-naive sets the
    // yardstick: triple exponential smoothing (Holt 1957, Winters
    // 1960), additive, period 7, walk-forward one-step backtested on
    // q205's EXACT planted feed so the two scorecards compare. The
    // recurrences
    //   fc  = (l + b) + s[slot]
    //   l' = α(x − s[slot]) + (1−α)(l + b)
    //   b' = β(l' − l) + (1−β)b
    //   s'[slot] = γ(x − (l + b)) + (1−γ)s[slot]
    // carry (l, b, s[7]) ITERATIVELY — no pow(), the q114/q207
    // discipline — through one secondary-sort scan, mirrored by a
    // recursive CTE that carries the seasonal vector as a DOUBLE[7]
    // list; coefficients α = 1/8, β = 1/16, γ = 1/4 (chosen by a cross-SF sweep: lower α/β stop the smoother chasing the high-CV daily noise; the aggregate MASE ratio vs seasonal-naive is 0.94/0.88/0.87 at sf0.001/0.01/0.1) are exact dyadic
    // rationals and every float op is order-matched between the scan
    // and the CTE, so the emitted forecasts are bit-identical (q207's
    // proven stance — no rounding anywhere). Seed: one week — l₀ =
    // week mean (the one division), b₀ = 0, s_i = x_i − l₀; forecasts
    // emit from day 8, exactly q205's evaluation window. slot cycles
    // by row number, not calendar, so a gapped feed degrades to
    // period-index seasonality instead of crashing.
    "q213_holt_winters_backtest" -> Q(
      fn = (s, d) => {
        import s.implicits._
        val daily = seasonalDaily(s, d)
        daily
          .repartition(col("event_type"))
          .sortWithinPartitions(col("event_type"), col("d"))
          .as[(String, Long, Long)]
          .mapPartitions { it =>
            var cur: String = null
            var l = 0.0
            var b = 0.0
            val sv = new Array[Double](7)
            val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
            var rn = 0
            it.flatMap { case (et, day, x) =>
              if (et != cur) { cur = et; rn = 0; buf.clear() }
              rn += 1
              if (rn <= 7) {
                buf += x
                if (rn == 7) {
                  l = buf.sum.toDouble / 7.0
                  b = 0.0
                  for (i <- 0 until 7) sv(i) = buf(i).toDouble - l
                }
                Iterator.empty
              } else {
                val slot = (rn - 1) % 7
                val sold = sv(slot)
                val fc = (l + b) + sold
                val lPrev = l
                val bPrev = b
                l = 0.125 * (x - sold) + 0.875 * (lPrev + bPrev)
                b = 0.0625 * (l - lPrev) + 0.9375 * bPrev
                sv(slot) = 0.25 * (x - (lPrev + bPrev)) + 0.75 * sold
                Iterator.single((et, day, x, fc))
              }
            }
          }
          .toDF("event_type", "d", "x", "fc")
      },
      sql = Some(HoltWintersOracleSql),
      scaleNote = "q207's plan with a 7-slot vector in place of two scalars: raw events collapse map-side to the |types × days| frame, one exchange on the key, then a streaming constant-memory scan carrying NINE doubles of state per key (l, b, s[7]) — no window materializes the series, no pow() enters the path, and the one-week seed buffer is bounded by the period, not the horizon; at 100 TB per-entity forecasts key the same scan by (entity), multi-seasonal variants widen the vector (7+24 slots for day×hour), and the streaming twin is the q212 processor with the same state tuple — the backtest emits the per-day forecast frame so any scorecard (q205's MASE, pinball, coverage) folds from it without rerunning the smoother"),

    // ----- rolling z-score anomaly flags (pipeline monitoring) ------
    // The drift/outlier monitor a production feed runs beside q148's
    // structural audit: per user, each event's value scored against
    // the mean/stddev of the 10 PRIOR rows; |z| > 3 flags the
    // anomaly. The frame must EXCLUDE the current row: an inclusive
    // n-row window bounds |z| at (n-1)/sqrt(n) ≈ 2.85, so a
    // self-including 10-row monitor can never fire at the textbook
    // 3-sigma cut — the spike would dilute its own baseline.
    // ALL arithmetic is exact integer: values are exact 2-decimal, so
    // in cents c the window's S = Σc and Q = Σc² are exact longs,
    // var_samp's numerator is 10Q - S², the degenerate-window cut is
    // the EXACT test 10Q - S² = 0 (no sd epsilon for the engines to
    // disagree on), the 3σ flag is the cross-multiplied
    // (10c-S)² > 10(10Q-S²) (z² > 9 without ever taking the sqrt —
    // q150's cross-multiplication stance), and the magnitude witness
    // is signed z² in permille via integer division. The previous
    // double z = (v-mu)/sd was a knife-edge for near-constant windows
    // (last-ulp stddev skew amplifies when sd is tiny); nothing here
    // computes a double at all. Warm-up rows (rn < 10) and degenerate
    // windows are excluded on both sides. Long-range contract: the z²
    // numerator 900·dev² needs |value| ≤ ~$50k to stay well inside
    // Long (the oracle rides HUGEINT and would NOT overflow with it) —
    // pinned by CorpusContractSpec's events.value range check.
    "q149_rolling_zscore" -> Q(
      fn = (s, d) => {
        val ord = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val frame = ord.rowsBetween(-10, -1)
        t(s, d, "events")
          .select(col("event_id"), col("user_id"), col("ts"),
            round(col("value") * 100).cast("long").as("c"))
          .withColumn("rn", row_number().over(ord))
          .withColumn("sc", sum(col("c")).over(frame))
          .withColumn("qc", sum(col("c") * col("c")).over(frame))
          .filter(col("rn") >= 11)
          .withColumn("dev", col("c") * 10 - col("sc"))
          .withColumn("varnum", col("qc") * 10 - col("sc") * col("sc"))
          .filter(col("varnum") > 0)
          .select(col("event_id"), col("user_id"),
            signum(col("dev")).cast("long").as("z_sign"),
            expr("900 * dev * dev DIV varnum").as("z2_permille"),
            (col("dev") * col("dev") > col("varnum") * 10)
              .cast("long").as("is_anomaly"))
      },
      sql = Some(RollingZscoreOracleSql),
      scaleNote = "one shuffle on user_id with in-partition secondary sort; the trailing frame is bounded (10 rows) so the window is constant-memory streaming — at 100 TB this is the q114 EWMA plan shape, and the streaming twin is transformWithState keeping a 10-deep ring buffer per key — REGISTERED as q223 under this oracle verbatim"),

    // ----- q203: one-pass multi-column profiler (r12) ----------------
    // The discovery operator that PRECEDES q148's declarative audit:
    // before you can assert constraints you must profile what's there
    // (Deequ's ColumnProfilerRunner / every catalog's "analyze table").
    // Per profiled column: row count, null count, EXACT distinct
    // count, min/max in a canonical string representation (doubles as
    // exact cents, timestamps as epoch micros, so every repr is an
    // integer or stored string — no float formatting in the gate).
    // The whole profile is ONE aggregate over ONE scan: Spark plans
    // the four COUNT(DISTINCT)s via a single Expand (×4 row fan-out,
    // map-side partials per branch), and the 1-row result unpivots to
    // profile rows via stack — the table is never rescanned per
    // column (PlanSpec pins exactly one orders scan in-plan).
    "q203_column_profiler" -> Q(
      fn = (s, d) => {
        // spread (r17): the four COUNT(DISTINCT)s expand every row x4
        // and partial-aggregate map-side; the profile is a global
        // aggregate, so any deterministic key distributes it
        // (o_orderkey spreads uniformly). The plan keeps exactly one
        // orders scan (PlanSpec's pin) — the spread is above the scan.
        val o = Tables.spread(t(s, d, "orders"), col("o_orderkey"))
        val cents = expr("CAST(round(o_totalprice * 100) AS BIGINT)")
        val dus = unix_micros(col("o_orderdate"))
        val a = o.agg(
          count(lit(1)).as("n"),
          sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L)).as("nn_st"),
          countDistinct(col("o_orderstatus")).as("nd_st"),
          min(col("o_orderstatus")).cast("string").as("mn_st"),
          max(col("o_orderstatus")).cast("string").as("mx_st"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("nn_ck"),
          countDistinct(col("o_custkey")).as("nd_ck"),
          min(col("o_custkey")).cast("string").as("mn_ck"),
          max(col("o_custkey")).cast("string").as("mx_ck"),
          sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("nn_tp"),
          countDistinct(cents).as("nd_tp"),
          min(cents).cast("string").as("mn_tp"),
          max(cents).cast("string").as("mx_tp"),
          sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("nn_od"),
          countDistinct(dus).as("nd_od"),
          min(dus).cast("string").as("mn_od"),
          max(dus).cast("string").as("mx_od"))
        a.selectExpr("""stack(4,
            'o_orderstatus', n, nn_st, nd_st, mn_st, mx_st,
            'o_custkey',     n, nn_ck, nd_ck, mn_ck, mx_ck,
            'o_totalprice_cents', n, nn_tp, nd_tp, mn_tp, mx_tp,
            'o_orderdate_us', n, nn_od, nd_od, mn_od, mx_od)
          AS (col_name, n, n_nulls, n_distinct, min_repr, max_repr)""")
      },
      sql = Some(ProfileOracleSql),
      scaleNote = "ONE scan whatever the column count: the multi-distinct plans as a single Expand (fan-out × |profiled columns|, each branch partial-aggregating map-side before one exchange), min/max/null-counts ride the same pass free, and the unpivot touches a 1-row frame — at 100 TB swap the exact distincts for approx_count_distinct (q43's HLL sketch, same Expand-free single pass) and the profile costs what one COUNT(*) costs; this is the discovery half that feeds q148's constraint gate and q127's drift monitor"),

    // ----- q208: the q203 profile as a MERGEABLE two-batch fold ------
    // The q185 precedent applied to profiling: a 100 TB profile is
    // never one job — yesterday's partials must FOLD with today's
    // batch without rescanning the base. Every q203 statistic is a
    // monoid: counts and null-counts ADD, min/max fold by least/
    // greatest (kept TYPED until emission — folding the string reprs
    // would compare "100" < "99"), and the exact distinct count's
    // mergeable partial is the per-batch DISTINCT VALUE frame (union,
    // then distinct — counts themselves do NOT add, the classic
    // re-aggregation trap; at 100 TB the value frames become q143's
    // portable HLL registers, which merge by bucket-max). The query
    // splits orders by key parity into two disjoint "daily batches",
    // computes each batch's partials independently, folds them, and
    // emits the EXACT q203 report — the oracle is q203's one-shot SQL
    // verbatim, so the gate is the fold theorem itself (the q185/q188
    // stance: same oracle, operational spelling).
    "q208_incremental_profile_fold" -> Q(
      fn = (s, d) => {
        val o = t(s, d, "orders")
        val cents = expr("CAST(round(o_totalprice * 100) AS BIGINT)")
        val dus = unix_micros(col("o_orderdate"))
        def scalars(df: DataFrame): DataFrame = df.agg(
          count(lit(1)).as("n"),
          sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L)).as("nn_st"),
          min(col("o_orderstatus")).as("mn_st"),
          max(col("o_orderstatus")).as("mx_st"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("nn_ck"),
          min(col("o_custkey")).as("mn_ck"),
          max(col("o_custkey")).as("mx_ck"),
          sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("nn_tp"),
          min(cents).as("mn_tp"),
          max(cents).as("mx_tp"),
          sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("nn_od"),
          min(dus).as("mn_od"),
          max(dus).as("mx_od"))
        def values(df: DataFrame): DataFrame = df.select(
          col("o_orderstatus").cast("string").as("v_st"),
          col("o_custkey").cast("string").as("v_ck"),
          cents.cast("string").as("v_tp"),
          dus.cast("string").as("v_od"))
        val a = o.filter(col("o_orderkey") % 2 === 0)
        val b = o.filter(col("o_orderkey") % 2 =!= 0)
        // fold the two batch partials: counts add, bounds fold typed
        val merged = scalars(a).unionByName(scalars(b)).agg(
          sum(col("n")).as("n"),
          sum(col("nn_st")).as("nn_st"), min(col("mn_st")).as("mn_st"),
          max(col("mx_st")).as("mx_st"),
          sum(col("nn_ck")).as("nn_ck"), min(col("mn_ck")).as("mn_ck"),
          max(col("mx_ck")).as("mx_ck"),
          sum(col("nn_tp")).as("nn_tp"), min(col("mn_tp")).as("mn_tp"),
          max(col("mx_tp")).as("mx_tp"),
          sum(col("nn_od")).as("nn_od"), min(col("mn_od")).as("mn_od"),
          max(col("mx_od")).as("mx_od"))
        // distinct partials: per-batch DISTINCT value frames (already
        // collapsed batch-side), folded by union + re-distinct — the
        // half that would be WRONG as count addition
        val dv = values(a).distinct().unionByName(values(b).distinct())
        val nd = dv.agg(
          countDistinct(col("v_st")).as("nd_st"),
          countDistinct(col("v_ck")).as("nd_ck"),
          countDistinct(col("v_tp")).as("nd_tp"),
          countDistinct(col("v_od")).as("nd_od"))
        merged.crossJoin(broadcast(nd)).selectExpr("""stack(4,
            'o_orderstatus', n, nn_st, nd_st,
              CAST(mn_st AS STRING), CAST(mx_st AS STRING),
            'o_custkey',     n, nn_ck, nd_ck,
              CAST(mn_ck AS STRING), CAST(mx_ck AS STRING),
            'o_totalprice_cents', n, nn_tp, nd_tp,
              CAST(mn_tp AS STRING), CAST(mx_tp AS STRING),
            'o_orderdate_us', n, nn_od, nd_od,
              CAST(mn_od AS STRING), CAST(mx_od AS STRING))
          AS (col_name, n, n_nulls, n_distinct, min_repr, max_repr)""")
      },
      sql = Some(ProfileOracleSql),
      scaleNote = "this is how q203 ships at 100 TB: each ingest batch computes its OWN |columns|-row scalar partial plus per-column distinct-value partials (both pure functions of the batch — overwrite-idempotent, the IvmSink property), and the served profile folds partials without touching the base; the distinct-value frames are the one component whose size tracks cardinality, and the documented swap is q143's portable HLL registers (bucket-max merge, fixed 512 cells) once a column's cardinality outgrows a frame — counts/bounds fold unchanged; the fold here deliberately routes through union+re-distinct because adding per-batch distinct COUNTS is the classic re-aggregation bug, and the oracle (q203's one-shot SQL verbatim) gates exactly that equivalence"),

    // ----- q210: the profile fold with HLL-REGISTER distincts (r13) --
    // q208 promised its own 100 TB spelling: the distinct-value frames
    // (the one fold component whose size tracks cardinality) swap for
    // q143's portable md5 HLL registers, folded by bucket-max. This
    // registers that spelling: each parity batch builds 512-register
    // sketches PER PROFILED COLUMN (hash input 'hp:<col>:<repr>' over
    // the batch's distinct reprs — the q143 discipline, so the DuckDB
    // twin rebuilds the SAME registers), the fold is a register-wise
    // max (associative ⇒ fold ≡ one-shot, which is exactly what the
    // oracle computes one-shot over the full table), and the profile
    // emits the HLL estimate beside the exact-distinct witness.
    // Counts/null-counts still fold as sums of batch partials. The
    // register sums Σ2^-m are exact doubles (512 terms, exponents in
    // [-40, 0]); only the estimate's ln()/division emits, under the
    // round(,6) transcendental discipline.
    "q210_profile_fold_hll" -> Q(
      fn = (s, d) => {
        val o = t(s, d, "orders")
        val a = o.filter(col("o_orderkey") % 2 === 0)
        val b = o.filter(col("o_orderkey") % 2 =!= 0)
        // fold the two batch sketches register-wise, then estimate
        val folded = profileHllRegs(a).unionByName(profileHllRegs(b))
          .groupBy(col("col_name"), col("bucket")).agg(max(col("m")).as("m"))
        val est = folded.groupBy(col("col_name"))
          .agg(sum(pow(lit(2.0), -col("m"))).as("sp"),
            count(lit(1)).as("present"))
          .select(col("col_name"), col("present").as("n_buckets"),
            ((lit(0.7213) / (lit(1.0) + lit(1.079) / lit(512.0)))
              * lit(262144.0)
              / (col("sp") + (lit(512) - col("present")).cast("double")))
              .as("raw"),
            (lit(512) - col("present")).as("v"))
          .select(col("col_name"), col("n_buckets"),
            when(col("raw") <= lit(1280.0) && col("v") > 0,
              round(lit(512.0) * log(lit(512.0) / col("v").cast("double")), 6))
              .otherwise(round(col("raw"), 6)).as("est_distinct"))
        // counts/nulls fold as sums of per-batch partials (q208's
        // monoid half, unchanged by the sketch swap)
        def cn(df: DataFrame): DataFrame = profileValues(df)
          .groupBy(col("col_name"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_nulls"))
        val counts = cn(a).unionByName(cn(b))
          .groupBy(col("col_name"))
          .agg(sum(col("n")).as("n"), sum(col("n_nulls")).as("n_nulls"))
        // exact-distinct witness (what the estimate will replace at
        // 100 TB — kept beside it so accuracy is a read-off, q143's
        // stance)
        val exact = profileValues(o).filter(col("v").isNotNull)
          .groupBy(col("col_name"))
          .agg(count_distinct(col("v")).as("n_exact"))
        counts.join(est, Seq("col_name")).join(exact, Seq("col_name"))
          .select(col("col_name"), col("n"), col("n_nulls"),
            col("est_distinct"), col("n_buckets"), col("n_exact"))
      },
      sql = Some(s"""
        WITH vf AS (
          SELECT 'o_orderstatus' AS col_name,
                 CAST(o_orderstatus AS VARCHAR) AS v FROM orders
          UNION ALL
          SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
          UNION ALL
          SELECT 'o_totalprice_cents',
                 CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)
          FROM orders
          UNION ALL
          SELECT 'o_orderdate_us', CAST(epoch_us(o_orderdate) AS VARCHAR)
          FROM orders),
        cnt AS (SELECT col_name, count(*) AS n,
                       CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_nulls
                FROM vf GROUP BY 1),
        nn AS (SELECT DISTINCT col_name, v FROM vf WHERE v IS NOT NULL),
        hm AS (SELECT col_name, md5('hp:' || col_name || ':' || v) AS hh
               FROM nn),
        hx AS (SELECT col_name, ${OracleSql.hex48("hh")} AS h FROM hm),
        br AS (SELECT col_name, h // ${1L << 39} AS bucket,
                      h % ${1L << 39} AS rem FROM hx),
        rg AS (SELECT col_name, bucket, max($profileRhoSqlCase) AS m
               FROM br GROUP BY 1, 2),
        eg AS (SELECT col_name, count(*) AS present,
                      sum(power(CAST(2 AS DOUBLE), -m)) AS sp
               FROM rg GROUP BY 1),
        es AS (SELECT col_name, present AS n_buckets,
                      (CAST(0.7213 AS DOUBLE)
                        / (1.0 + CAST(1.079 AS DOUBLE) / 512.0)) * 262144.0
                        / (sp + CAST(512 - present AS DOUBLE)) AS raw,
                      512 - present AS v
               FROM eg),
        fin AS (SELECT col_name, n_buckets,
                       CASE WHEN raw <= 1280.0 AND v > 0
                            THEN round(512.0 * ln(512.0 / CAST(v AS DOUBLE)), 6)
                            ELSE round(raw, 6) END AS est_distinct
                FROM es),
        ex AS (SELECT col_name, CAST(count(DISTINCT v) AS BIGINT) AS n_exact
               FROM vf GROUP BY 1)
        SELECT cnt.col_name AS col_name, cnt.n, cnt.n_nulls,
               fin.est_distinct, fin.n_buckets, ex.n_exact
        FROM cnt JOIN fin USING (col_name) JOIN ex USING (col_name)"""),
      scaleNote = "the shipped profile service: per-batch cost is one scan producing |columns| × ≤512 register rows (partial-aggregated map-side — the sketch IS the shuffle), the stored state per column is a fixed 512-cell frame regardless of cardinality (vs q208's value frames that grow with it), and the serve-time fold is bucket-max + O(m) estimate arithmetic — associativity makes daily→monthly→all rollups free (the q93/q143 modality); the exact witness column is test-SF-only instrumentation and is the one thing dropped at 100 TB"),

    // ----- declarative data-quality audit (Deequ-style) -------------
    // The constraint suite a warehouse/training pipeline runs before
    // trusting a snapshot (public shape: Amazon Deequ): completeness,
    // key uniqueness, value ranges, accepted values, and referential
    // integrity, each emitted as (constraint, metric, pass). The four
    // orders constraints compute in ONE aggregate pass (one scan, one
    // 1-row frame fanned out to constraint rows); the referential
    // check is the only join. Every metric value is INTEGER-VALUED or
    // a stored column value: completeness/uniqueness/accepted-values
    // ratios emit as parts-per-million via integer division (the r8
    // q145 lesson — a division-result double, however exact, is at
    // the mercy of the driver's DuckDB version), so the only doubles
    // in the output are min_price (a stored value, no arithmetic) and
    // exactly-representable integers.
    "q148_quality_audit" -> Q(
      fn = (s, d) => {
        val o = t(s, d, "orders")
        val li = t(s, d, "lineitem")
        val agg = o.agg(
          count(lit(1)).as("n"),
          count(col("o_custkey")).as("n_cust"),
          countDistinct(col("o_orderkey")).as("n_key"),
          min(col("o_totalprice")).as("min_price"),
          sum(when(col("o_orderstatus").isin("O", "F", "P"), 1L)
            .otherwise(0L)).as("n_status"))
          .localCheckpoint() // 1 row; fans out to 4 constraint rows
        def row(name: String, metric: org.apache.spark.sql.Column,
            pass: org.apache.spark.sql.Column) =
          agg.select(lit(name).as("check_name"), metric.as("metric"),
            pass.cast("long").as("pass"))
        val orphan = li.select(col("l_orderkey"))
          .join(o.select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("n_orphan"))
        row("orders.custkey_complete_ppm",
            expr("n_cust * CAST(1000000 AS BIGINT) DIV n").cast("double"),
            col("n_cust") === col("n"))
          .unionByName(row("orders.orderkey_unique_ppm",
            expr("n_key * CAST(1000000 AS BIGINT) DIV n").cast("double"),
            col("n_key") === col("n")))
          .unionByName(row("orders.totalprice_positive",
            col("min_price"), col("min_price") > 0.0))
          .unionByName(row("orders.status_accepted_ppm",
            expr("n_status * CAST(1000000 AS BIGINT) DIV n").cast("double"),
            col("n_status") === col("n")))
          .unionByName(orphan.select(
            lit("lineitem.orderkey_referential").as("check_name"),
            col("n_orphan").cast("double").as("metric"),
            (col("n_orphan") === 0).cast("long").as("pass")))
      },
      sql = Some("""
        WITH a AS (SELECT count(*) AS n,
                          count(o_custkey) AS n_cust,
                          count(DISTINCT o_orderkey) AS n_key,
                          min(o_totalprice) AS min_price,
                          CAST(sum(CASE WHEN o_orderstatus IN ('O','F','P')
                                        THEN 1 ELSE 0 END)
                               AS BIGINT) AS n_status
                   FROM orders),
        orphan AS (SELECT count(*) AS n_orphan FROM lineitem l
                   WHERE NOT EXISTS (SELECT 1 FROM orders o
                                     WHERE o.o_orderkey = l.l_orderkey))
        SELECT 'orders.custkey_complete_ppm' AS check_name,
               CAST((n_cust * CAST(1000000 AS BIGINT)) // n AS DOUBLE)
                 AS metric,
               CAST(n_cust = n AS BIGINT) AS pass FROM a
        UNION ALL
        SELECT 'orders.orderkey_unique_ppm',
               CAST((n_key * CAST(1000000 AS BIGINT)) // n AS DOUBLE),
               CAST(n_key = n AS BIGINT) FROM a
        UNION ALL
        SELECT 'orders.totalprice_positive', min_price,
               CAST(min_price > 0.0 AS BIGINT) FROM a
        UNION ALL
        SELECT 'orders.status_accepted_ppm',
               CAST((n_status * CAST(1000000 AS BIGINT)) // n AS DOUBLE),
               CAST(n_status = n AS BIGINT) FROM a
        UNION ALL
        SELECT 'lineitem.orderkey_referential', CAST(n_orphan AS DOUBLE),
               CAST(n_orphan = 0 AS BIGINT) FROM orphan"""),
      scaleNote = "N scalar constraints over one table = ONE scan (a single partial-agg pass computes every metric; the fan-out to rows touches a 1-row frame); referential integrity is the only join and runs as a broadcast/shuffle anti-join on the key alone — at 100 TB the audit costs one pass per audited table plus one semi-join per FK, and the (constraint, metric, pass) frame is the artifact a pipeline gates deploys on"),

    // ----- q196: median/MAD robust outlier gate (r11) ----------------
    // q149's rolling z-score uses mean/σ, which the outliers
    // themselves corrupt (one 100× row drags the mean and explodes σ,
    // masking its siblings); the robust-statistics answer is
    // median/MAD (Hampel): both have breakdown point 1/2, so the
    // planted errors can't move the yardstick they're measured
    // against. All arithmetic is EXACT: prices are exact cents, the
    // even-count median is (a+b)/2 — a half-integer double both
    // engines compute identically — and absolute deviations are then
    // half-integers too, so med/mad/flags are bit-equal with no
    // rounding discipline needed. The corpus has no organic tails, so
    // the query plants the classic data-entry error (×100 on every
    // 501st key, the q62 injection stance): the medians barely move —
    // the robustness on display — while every planted row flags.
    "q196_robust_outlier_gate" -> Q(
      fn = (s, d) => robustGate(s, d, x => s"percentile($x, 0.5D)"),
      sql = Some(robustGateSql(x => s"median($x)")),
      scaleNote = "exact per-group medians sort within groups — fine while a group fits a task (here |status| = 3 groups of n/3); at 100 TB swap `percentile` for `approx_percentile` (q64's mergeable GK sketch) and the plan becomes two skinny two-phase aggregates + two broadcasts with NO per-group sort — same report shape, rank-error-bounded yardstick, which a robust gate tolerates by construction (MAD only needs to be roughly right to dominate a 100× error) — q198 is that registered twin"),

    // ----- q198: the robust gate's promised 100 TB spelling (r12) ----
    // q196's scaleNote promises "swap percentile for approx_percentile
    // at 100 TB"; the house converts promises into registered queries
    // (q160→q186, q161→q166, q53→q144 precedent), so this IS that
    // query: the identical report off the identical contaminated
    // frame, with both medians computed by the mergeable
    // Greenwald-Khanna sketch (q64's operator). Oracle-able because
    // at accuracy 1e6 the sketch retains every sample below that
    // count and both engines agree on the discrete-percentile
    // convention (smallest element with cume_dist ≥ p ≡ DuckDB
    // quantile_disc — q64's verified pairing); the discrete median of
    // BIGINT cents is itself a BIGINT, so q198's arithmetic is exact
    // integers end to end — strictly simpler than q196's half-integer
    // doubles. The robustness spec re-proves the scaleNote's claim on
    // the sketch path: every planted ×100 row still flags, nothing
    // else does, because a rank-bounded median error moves the
    // yardstick by at most a few neighboring order totals while the
    // planted deviation is two orders of magnitude.
    "q198_robust_gate_approx" -> Q(
      fn = (s, d) =>
        robustGate(s, d, x => s"approx_percentile($x, 0.5D, 1000000)"),
      sql = Some(robustGateSql(x => s"quantile_disc($x, 0.5)")),
      scaleNote = "this IS q196's 100 TB plan, registered: the GK sketch is O(accuracy) memory per group and PARTIAL-AGGREGABLE, so each median is a two-phase ObjectHashAggregate (map-side sketches merge at the reducer — plan-asserted, with NO window and no per-group full sort anywhere), the two 3-row median frames broadcast, and the deviation compare + outlier count collapse map-side; at production scale drop accuracy to the memory budget — the gate's verdict is unchanged because a bounded rank error cannot close a 100× deviation gap (the spec proves exactly that claim on the sketch path)"),

    // ----- q195: Benford first-digit audit (r11) ---------------------
    // The fraud/fabrication detector (Benford 1938, Nigrini's audit
    // practice): naturally-occurring monetary amounts follow
    // P(d) = log10(1 + 1/d) for the first significant digit;
    // fabricated or synthetic feeds don't, and the deviation IS the
    // signal. Digit extraction stays exact: prices are exact cents, so
    // the first digit of CAST(round(p·100) AS BIGINT)'s decimal string
    // equals the price's first significant digit (×100 never changes
    // it), and integer-to-string is identical in both engines — no
    // log10 anywhere. Expected shares are inline ppm literals (the q50
    // constant-table stance); everything emitted is an exact integer.
    // On this corpus the audit FLAGS the feed — the prices are
    // synthetic, and a uniform-ish generator is exactly what Benford
    // catches — so the honest expected result is large deviations.
    "q195_benford_audit" -> Q(
      fn = (s, d) => {
        import s.implicits._
        val benford = Seq((1L, 301030L), (2L, 176091L), (3L, 124939L),
          (4L, 96910L), (5L, 79181L), (6L, 66947L), (7L, 57992L),
          (8L, 51153L), (9L, 45757L)).toDF("digit", "benford_ppm")
        val digits = t(s, d, "orders")
          .select(substring(round(col("o_totalprice") * 100)
            .cast("long").cast("string"), 1, 1).cast("long").as("digit"))
          .groupBy(col("digit")).agg(count(lit(1)).as("n"))
        val tot = digits.agg(sum(col("n")).as("total"))
        digits.join(broadcast(benford), "digit")
          .crossJoin(broadcast(tot))
          .select(col("digit"), col("n"),
            expr("CAST(n * 1000000 DIV total AS BIGINT)").as("obs_ppm"),
            col("benford_ppm"),
            expr("CAST(abs(n * 1000000 DIV total - benford_ppm) AS BIGINT)")
              .as("dev_ppm"))
      },
      sql = Some("""
        WITH benford(digit, benford_ppm) AS (VALUES
          (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
          (6, 66947), (7, 57992), (8, 51153), (9, 45757)),
        digits AS (
          SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                   AS VARCHAR), 1, 1) AS BIGINT) AS digit,
                 count(*) AS n
          FROM orders GROUP BY 1),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM digits)
        SELECT d.digit, d.n,
               d.n * 1000000 // t.total AS obs_ppm,
               CAST(b.benford_ppm AS BIGINT) AS benford_ppm,
               abs(d.n * 1000000 // t.total - b.benford_ppm) AS dev_ppm
        FROM digits d JOIN benford b ON d.digit = b.digit, tot t"""),
      scaleNote = "one map-side digit projection collapses to ≤ 9 partial rows before the only exchange; the 9-row expectation table and the 1-row total broadcast — the audit costs one scan at any corpus size and composes per-segment (group by source/partition before the digit fold) when the question is WHICH feed is fabricated"),


    // ----- mergeable histogram quantile sketch (q53's 100 TB path) --
    // q53's scaleNote prescribes "mergeable sketches" for unbounded
    // groups — this IS that operator, built portable (the q143
    // stance) so the oracle replays it: fixed-width value-domain
    // histograms (W = 5000 over o_totalprice, ~100 buckets), per
    // priority class, merged by ADDING counts into the 'ALL' row —
    // associativity is the whole point: daily histograms roll into
    // monthly/global without revisiting raw values. Quantiles read
    // off the merged histogram by cumulative-count crossing + linear
    // interpolation inside the bucket — in EXACT integer arithmetic:
    // each fraction q is carried as the rational k/20 (k in
    // {5,10,15,18}), the crossing cut is 20*cum >= k*n (a double
    // 0.9*n is half-an-ulp from the true rank when n is a multiple
    // of 10 — the cut itself was a latent cross-engine knife-edge),
    // and the estimate emits as integer milli-units
    // est_milli = 250000*(20bc + kn - 20*cumprev) div c (derivation:
    // est = W*(20bc + kn - 20*cumprev)/(20c), W = 5000). The exact
    // quantile_cont rides beside it (q53's round(,4)
    // invariant) as the accuracy witness; |est − exact| ≤ W by
    // construction when both land in the same bucket.
    "q144_histogram_quantiles" -> Q(
      fn = (s, d) => {
        val W = 5000.0
        val src = t(s, d, "orders")
          .select(col("o_orderpriority").as("grp"), col("o_totalprice").as("x"))
        val hist = src
          .groupBy(col("grp"),
            floor(col("x") / lit(W)).cast("long").as("b"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint() // reused by the merged ALL histogram
        val h = hist.unionByName(
          hist.groupBy(col("b")).agg(sum(col("c")).as("c"))
            .select(lit("ALL").as("grp"), col("b"), col("c")))
        val cum = h
          .withColumn("cum", sum(col("c")).over(
            Window.partitionBy(col("grp")).orderBy(col("b"))))
          .withColumn("n", sum(col("c")).over(Window.partitionBy(col("grp"))))
        val qdf = s.range(1).select(explode(array(
          struct(lit(0.25).as("q"), lit(5L).as("k")),
          struct(lit(0.5).as("q"), lit(10L).as("k")),
          struct(lit(0.75).as("q"), lit(15L).as("k")),
          struct(lit(0.9).as("q"), lit(18L).as("k")))).as("qk"))
          .select(col("qk.q").as("q"), col("qk.k").as("k"))
        val est = cum.crossJoin(broadcast(qdf))
          .filter(col("cum") * 20 >= col("k") * col("n"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("grp"), col("q")).orderBy(col("b"))))
          .filter(col("rk") === 1)
          .select(col("grp"), col("q"),
            expr("250000 * (20 * b * c + k * n - 20 * (cum - c)) DIV c")
              .as("est_milli"))
        val exWide = src.groupBy(col("grp"))
          .agg(expr("percentile(x, array(0.25D, 0.5D, 0.75D, 0.9D))").as("ps"))
          .unionByName(src
            .agg(expr("percentile(x, array(0.25D, 0.5D, 0.75D, 0.9D))").as("ps"))
            .select(lit("ALL").as("grp"), col("ps")))
        val ex = exWide.select(col("grp"),
          posexplode(col("ps")).as(Seq("i", "v")))
          .select(col("grp"),
            element_at(array(lit(0.25), lit(0.5), lit(0.75), lit(0.9)),
              col("i").cast("int") + 1).as("q"),
            round(col("v"), 4).as("exact"))
        est.join(ex, Seq("grp", "q"))
          .select(col("grp"), col("q"), col("est_milli"), col("exact"))
      },
      sql = Some("""
        WITH src AS (SELECT o_orderpriority AS grp, o_totalprice AS x
                     FROM orders),
        hist AS MATERIALIZED (
          SELECT grp, CAST(floor(x / CAST(5000.0 AS DOUBLE)) AS BIGINT) AS b,
                 count(*) AS c
          FROM src GROUP BY 1, 2),
        h AS (SELECT grp, b, CAST(c AS BIGINT) AS c FROM hist
              UNION ALL
              SELECT 'ALL', b, CAST(sum(c) AS BIGINT) FROM hist GROUP BY b),
        cum AS (SELECT grp, b, c,
                       CAST(sum(c) OVER (PARTITION BY grp ORDER BY b)
                            AS BIGINT) AS cum,
                       CAST(sum(c) OVER (PARTITION BY grp)
                            AS BIGINT) AS n
                FROM h),
        qs AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9]) AS DOUBLE) AS q,
                      unnest([5, 10, 15, 18]) AS k),
        pick AS (SELECT grp, q, b, c, cum, k, n,
                        row_number() OVER (PARTITION BY grp, q ORDER BY b) AS rk
                 FROM cum, qs WHERE cum * 20 >= k * n),
        est AS (SELECT grp, q,
                       (250000 * (20 * b * c + k * n - 20 * (cum - c))) // c
                         AS est_milli
                FROM pick WHERE rk = 1),
        exw AS (SELECT grp,
                       round(quantile_cont(x, 0.25), 4) AS e1,
                       round(quantile_cont(x, 0.50), 4) AS e2,
                       round(quantile_cont(x, 0.75), 4) AS e3,
                       round(quantile_cont(x, 0.90), 4) AS e4
                FROM src GROUP BY 1
                UNION ALL
                SELECT 'ALL',
                       round(quantile_cont(x, 0.25), 4),
                       round(quantile_cont(x, 0.50), 4),
                       round(quantile_cont(x, 0.75), 4),
                       round(quantile_cont(x, 0.90), 4)
                FROM src),
        ex AS (SELECT grp, CAST(0.25 AS DOUBLE) AS q, e1 AS exact FROM exw
               UNION ALL SELECT grp, CAST(0.5 AS DOUBLE), e2 FROM exw
               UNION ALL SELECT grp, CAST(0.75 AS DOUBLE), e3 FROM exw
               UNION ALL SELECT grp, CAST(0.9 AS DOUBLE), e4 FROM exw)
        SELECT est.grp, est.q, est.est_milli, ex.exact
        FROM est JOIN ex ON est.grp = ex.grp AND est.q = ex.q"""),
      scaleNote = "the histogram is the shuffle: each group moves ≤ ~100 (bucket, count) rows whatever its size, partial-aggregated map-side; merges ADD counts (associative/commutative), so per-shard histograms roll up without re-scanning — the fixed-W design trades t-digest's adaptive resolution for exact mergeability and replayability, and W is the explicit, documented error bound"),

    // ----- statistical aggregates -----------------------------------
    "q54_stats_agg" -> Q(
      fn = (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_linestatus"))
          // round(,6) both sides: moment aggregates merge partials in
          // partition order, so the raw doubles differ in the last
          // 1-2 ulp between engines (measured ~1e-15 relative) — the
          // q53/q117 canonicalization discipline
          .agg(
            round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
            round(covar_samp(col("l_quantity"), col("l_extendedprice")), 6).as("covar_s"),
            round(covar_pop(col("l_quantity"), col("l_extendedprice")), 6).as("covar_p"),
            round(stddev_samp(col("l_discount")), 6).as("sd_disc"),
            round(var_pop(col("l_tax")), 6).as("var_tax")),
      sql = Some("""
        SELECT l_linestatus,
               round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
               round(covar_samp(l_quantity, l_extendedprice), 6) AS covar_s,
               round(covar_pop(l_quantity, l_extendedprice), 6) AS covar_p,
               round(stddev_samp(l_discount), 6) AS sd_disc,
               round(var_pop(l_tax), 6) AS var_tax
        FROM lineitem GROUP BY 1"""),
      scaleNote = "all are single-pass mergeable moments (partial agg before the shuffle) — the shape that scales linearly"),

    // ----- distribution window functions ----------------------------
    "q55_window_dist" -> Q(
      fn = (s, d) => {
        // unique o_orderkey in the ordering: ntile is row-order
        // dependent on ties, so the tie-break makes it deterministic
        val w = Window.partitionBy(col("o_orderstatus"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        t(s, d, "orders").select(
          col("o_orderkey"), col("o_orderstatus"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
      },
      sql = Some("""
        SELECT o_orderkey, o_orderstatus,
               CAST(ntile(4) OVER w AS BIGINT) AS quartile,
               percent_rank() OVER w AS pr,
               cume_dist() OVER w AS cd
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)"""),
      scaleNote = "one shuffle on the partition key; distribution fns need the partition's row count but stream within the sorted partition"),

    // ----- time-series gap-fill (resample to hourly, zero-fill) -----
    "q56_gapfill" -> Q(
      fn = (s, d) => {
        val ev = t(s, d, "events")
        val bounds = ev.groupBy(col("event_type"))
          .agg(date_trunc("hour", min(col("ts"))).as("h0"),
            date_trunc("hour", max(col("ts"))).as("h1"))
        val hours = bounds.select(col("event_type"),
          explode(sequence(col("h0"), col("h1"), expr("interval 1 hour")))
            .as("hour"))
        val counts = ev
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
          .agg(count(lit(1)).as("n"))
        hours.join(counts, Seq("event_type", "hour"), "left")
          .select(col("event_type"), unix_micros(col("hour")).as("h_us"),
            coalesce(col("n"), lit(0L)).as("n"))
      },
      sql = Some("""
        WITH b AS (SELECT event_type,
                          time_bucket(INTERVAL 1 HOUR, min(ts::TIMESTAMP)) AS h0,
                          time_bucket(INTERVAL 1 HOUR, max(ts::TIMESTAMP)) AS h1
                   FROM events GROUP BY 1),
        h AS (SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
              FROM b),
        c AS (SELECT event_type, time_bucket(INTERVAL 1 HOUR, ts::TIMESTAMP) AS hour,
                     count(*) AS n
              FROM events GROUP BY 1, 2)
        SELECT h.event_type, epoch_us(h.hour) AS h_us, coalesce(c.n, 0) AS n
        FROM h LEFT JOIN c ON h.event_type = c.event_type AND h.hour = c.hour"""),
      scaleNote = "the dense hour spine is |types|×|hours| rows — tiny next to the events it joins; the join keys on (type, hour) so gap-fill shuffles the small aggregate, never raw events"),

    // ----- ordered string aggregation -------------------------------
    "q57_string_agg" -> Q(
      fn = (s, d) =>
        t(s, d, "customer")
          .join(t(s, d, "nation"),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(
            array_join(array_sort(collect_list(col("c_name"))), "|").as("names"),
            count(lit(1)).as("n")),
      // collect_list order is nondeterministic — array_sort pins it;
      // the oracle's ORDER BY inside string_agg is the same contract
      sql = Some("""
        SELECT n_name, string_agg(c_name, '|' ORDER BY c_name) AS names,
               count(*) AS n
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1"""),
      scaleNote = "per-group payload grows with group size — acceptable for bounded dimension groups; unbounded groups want a top-k slice before the concat"),

    // ----- sketch percentiles (the q53 scale path made concrete) ----
    "q64_approx_percentiles" -> Q(
      fn = (s, d) =>
        // approx_percentile is the mergeable-sketch (Greenwald-Khanna)
        // answer to q53's scaleNote: bounded memory per group at any
        // group size. Oracle-able because the sketch is EXACT while a
        // group holds fewer values than `accuracy` (it retains every
        // sample), and both engines then agree on the discrete-
        // percentile convention (smallest element with cume_dist ≥ p —
        // verified empirically against quantile_disc). At 100 TB you
        // drop accuracy to the memory budget and the gate becomes a
        // rank-error tolerance instead of equality.
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(expr(
            "approx_percentile(l_quantity, array(0.25D, 0.50D, 0.75D, 0.99D), 1000000)")
            .as("ps"))
          .select(col("l_returnflag"),
            element_at(col("ps"), 1).as("p25"),
            element_at(col("ps"), 2).as("p50"),
            element_at(col("ps"), 3).as("p75"),
            element_at(col("ps"), 4).as("p99")),
      sql = Some("""
        SELECT l_returnflag,
               quantile_disc(l_quantity, 0.25) AS p25,
               quantile_disc(l_quantity, 0.50) AS p50,
               quantile_disc(l_quantity, 0.75) AS p75,
               quantile_disc(l_quantity, 0.99) AS p99
        FROM lineitem GROUP BY 1"""),
      scaleNote = "GK sketch: O(accuracy) memory per group regardless of group size, partial-aggregable (map-side combine) — the unbounded-group percentile plan; q53 stays the exact small-group twin"),

    // ----- E8: value navigation windows (first/last/nth) ------------
    "q80_window_navigation" -> Q(
      fn = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // full-partition frame so last_value sees the real last row,
        // not the running default frame
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        t(s, d, "orders").select(
          col("o_orderkey"), col("o_custkey"),
          first_value(col("o_totalprice")).over(w).as("first_price"),
          last_value(col("o_totalprice")).over(w).as("last_price"),
          nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
      },
      sql = Some("""
        SELECT o_orderkey, o_custkey,
               first_value(o_totalprice) OVER w AS first_price,
               last_value(o_totalprice) OVER w AS last_price,
               nth_value(o_totalprice, 2) OVER w AS second_price
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"""),
      scaleNote = "one shuffle on o_custkey; all three navigation functions share the sorted partition, and the unbounded frame is evaluated once per partition, not per row"),

    // ----- SQL surface: correlated scalar subquery ------------------
    // Catalyst decorrelates this into an aggregate + join — asserting
    // the SQL text path produces the same plan family the DataFrame
    // API would, which is what makes the SQL surface usable at scale.
    "q81_correlated_scalar" -> Q.onViews("q81", Seq("orders"),
      sql = tb => s"""
        SELECT o_orderkey, o_custkey, o_totalprice,
               (SELECT avg(o2.o_totalprice) FROM ${tb("orders")} o2
                WHERE o2.o_custkey = o1.o_custkey) AS cust_avg
        FROM ${tb("orders")} o1
        WHERE o_totalprice > 100000""",
      scaleNote = "decorrelation rewrites the per-row subquery into ONE aggregate over orders joined back on o_custkey — O(n) instead of O(n²) re-execution; the filter pushes to the outer scan only, preserving the subquery's full-table aggregate semantics"),

    // ----- unpivot / melt (inverse of q52) --------------------------
    "q82_unpivot" -> Q(
      fn = (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_linestatus"))
          .agg(sum(col("l_quantity")).as("qty"),
            sum(col("l_extendedprice")).as("price"),
            sum(col("l_discount")).as("discount"))
          .unpivot(
            ids = Array(col("l_linestatus")),
            values = Array(col("qty"), col("price"), col("discount")),
            variableColumnName = "measure",
            valueColumnName = "total"),
      sql = Some("""
        WITH a AS (
          SELECT l_linestatus, sum(l_quantity) AS qty,
                 sum(l_extendedprice) AS price, sum(l_discount) AS discount
          FROM lineitem GROUP BY 1)
        SELECT l_linestatus, measure, total
        FROM a UNPIVOT (total FOR measure IN (qty, price, discount))"""),
      scaleNote = "unpivot is a zero-shuffle Expand over the aggregated (tiny) frame — wide-to-long reshaping never touches the fact table after the two-phase agg"),

    // ----- batch MERGE / upsert (SCD Type 1) ------------------------
    // Snapshot maintenance: a delta of changed rows (7% price+status
    // updates) and new rows (1% inserts under shifted keys) merges
    // into the orders snapshot in ONE full-outer join. The delta is
    // derived deterministically from the base so the oracle can
    // mirror it exactly.
    "q86_merge_upsert" -> Q(
      fn = (s, d) => ordersMerged(s, d),
      sql = Some(s"""
        WITH $OrdersMergedCtes
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM merged"""),
      scaleNote = "one full-outer shuffle join on the snapshot key; bucketed layouts co-locate it to zero exchange, AQE coalesces the tiny delta side — the MERGE primitive every incremental 100 TB snapshot rebuild reduces to"),

    // ----- partition-level MERGE (storage-level q86) ----------------
    // The SAME merge as q86, executed against a disk-backed snapshot
    // stored partitionBy(p) with p = o_orderkey % 8 (key-derived, so a
    // key's partition never moves): PartitionedUpsert prunes the
    // snapshot read to the delta's touched partitions and swaps only
    // those directories — the read-back must equal q86's in-memory
    // merge, on q86's oracle. A fresh snapshot dir per invocation: the
    // operator MUTATES its snapshot, so runs must not share state.
    "q103_partitioned_merge" -> Q(
      fn = (s, d) => {
        def withP(df: DataFrame): DataFrame =
          df.withColumn("p", pmod(col("o_orderkey"), lit(8)).cast("int"))
        val base = ordersBase(s, d)
        val dir = tempSnapshotDir("graft_q103_snap")
        val op = graft.operators.PartitionedUpsert
        op(s, dir, withP(base), Seq("o_orderkey"), "p")
        op(s, dir, withP(ordersDelta(base)), Seq("o_orderkey"), "p")
        s.read.parquet(dir)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      },
      sql = Some(s"""
        WITH $OrdersMergedCtes
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM merged"""),
      scaleNote = "the snapshot side of the merge join is the partition-PRUNED scan of touched directories only (PartitionFilters), and only those directories' files rewrite — at 100 TB a 0.1% delta costs ~0.1% of the I/O, where q86's DirSwap install would rewrite everything"),

    // ----- SCD Type 2 history build ---------------------------------
    // Change-tracking: collapse each user's event_type stream into
    // validity intervals [vf, vt) — change detection via lag, interval
    // close via lead over the surviving change rows. The open interval
    // (vt NULL) is the current state.
    "q87_scd2_history" -> Q(
      fn = (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        t(s, d, "events")
          .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
          .withColumn("prev", lag(col("event_type"), 1).over(w))
          .filter(col("prev").isNull || col("prev") =!= col("event_type"))
          .withColumn("vt_ts", lead(col("ts"), 1).over(w))
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("vf"),
            unix_micros(col("vt_ts")).as("vt"),
            col("vt_ts").isNull.cast("int").as("is_current"))
      },
      sql = Some("""
        WITH h AS (
          SELECT user_id, event_id, ts::TIMESTAMP AS ts, event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev
          FROM events),
        c AS (
          SELECT user_id, event_id, ts, event_type FROM h
          WHERE prev IS NULL OR prev <> event_type),
        iv AS (
          SELECT user_id, event_type, ts,
                 lead(ts) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS vt_ts
          FROM c)
        SELECT user_id, event_type, epoch_us(ts) AS vf, epoch_us(vt_ts) AS vt,
               CAST(vt_ts IS NULL AS INT) AS is_current
        FROM iv"""),
      scaleNote = "both windows share ONE shuffle+sort on user_id (same partition spec); change rows are a fraction of the input, so the second window sorts a shrunken frame — the standard distributed SCD2 build with no self-join"),

    // ----- funnel analysis (staged conversion with time bounds) -----
    // view → click-within-1h → purchase-within-1h: each stage is an
    // aggregate of the previous stage's users, so the plan is three
    // shrinking groupBys chained by equi-joins on user_id — never a
    // per-user subquery.
    "q88_funnel_stages" -> Q(
      fn = (s, d) => {
        val e = t(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_type"))
        val v = e.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
        val c = e.join(v, "user_id")
          .filter(col("event_type") === "click" &&
            col("ts") > col("t1") &&
            col("ts") <= col("t1") + expr("INTERVAL 1 HOUR"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
        val p = e.join(c, "user_id")
          .filter(col("event_type") === "purchase" &&
            col("ts") > col("t2") &&
            col("ts") <= col("t2") + expr("INTERVAL 1 HOUR"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
        v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
          .select((lit(1) + col("t2").isNotNull.cast("int")
            + col("t3").isNotNull.cast("int")).as("stage"))
          .groupBy(col("stage")).agg(count(lit(1)).as("n_users"))
      },
      sql = Some("""
        WITH v AS (
          SELECT user_id, min(ts::TIMESTAMP) AS t1 FROM events
          WHERE event_type = 'view' GROUP BY 1),
        c AS (
          SELECT e.user_id, min(e.ts::TIMESTAMP) AS t2
          FROM events e JOIN v USING (user_id)
          WHERE e.event_type = 'click' AND e.ts::TIMESTAMP > v.t1
            AND e.ts::TIMESTAMP <= v.t1 + INTERVAL 1 HOUR
          GROUP BY 1),
        p AS (
          SELECT e.user_id, min(e.ts::TIMESTAMP) AS t3
          FROM events e JOIN c USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts::TIMESTAMP > c.t2
            AND e.ts::TIMESTAMP <= c.t2 + INTERVAL 1 HOUR
          GROUP BY 1)
        SELECT CAST(1 + CAST(c.user_id IS NOT NULL AS INT)
                 + CAST(p.user_id IS NOT NULL AS INT) AS INT) AS stage,
               count(*) AS n_users
        FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        GROUP BY 1"""),
      scaleNote = "three chained shrinking aggregations on user_id — one shuffle key throughout, so AQE reuses the partitioning; stage populations fall monotonically, never a cross join or per-user re-scan"),

    // ----- CDC changelog apply (ordered I/U/D materialization) ------
    // The changelog is derived deterministically from orders: an
    // insert for every key (seq 0), an update for keys %3=0 (seq 1),
    // a delete for keys %5=0 (seq 2). Applying it must yield: %5 keys
    // gone, remaining %3 keys updated, everything else original.
    "q91_cdc_apply" -> Q(
      fn = (s, d) => {
        val (ins, upd, del) = cdcLog(s, d)
        graft.operators.CdcApply(
          ins.unionByName(upd).unionByName(del),
          Seq("o_orderkey"), "seq", "op")
      },
      sql = Some(CdcAppliedSql),
      scaleNote = "one shuffle on the key; keep-last is a rank-1 window Spark executes as WindowGroupLimit, compacting per-key histories inside the exchange — the changelog never sorts globally and the snapshot materializes in a single pass"),

    // ----- partition-level CDC apply (storage-level q91) ------------
    // q91's changelog replayed through the PARTITIONED SnapshotSink in
    // two micro-batch applications: the inserts install the snapshot,
    // then updates + deletes merge through PartitionedUpsert — the
    // delete path (broadcast anti-join inside touched partitions,
    // emptied-dir removal) under the same DuckDB oracle as q91. A
    // fresh snapshot dir per invocation (the sink MUTATES it),
    // reclaimed at JVM exit.
    "q104_partitioned_cdc" -> Q(
      fn = (s, d) => {
        def withP(df: DataFrame): DataFrame =
          df.withColumn("p", pmod(col("o_orderkey"), lit(8)).cast("int"))
        val (ins, upd, del) = cdcLog(s, d)
        val dir = tempSnapshotDir("graft_q104_snap")
        val sink = graft.pipeline.SnapshotSink
        sink.applyBatch(withP(ins),
          Seq("o_orderkey"), "seq", Some("op"), dir, Some("p"))
        sink.applyBatch(withP(upd.unionByName(del)),
          Seq("o_orderkey"), "seq", Some("op"), dir, Some("p"))
        s.read.parquet(dir)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      },
      sql = Some(CdcAppliedSql),
      scaleNote = "batch 2's merge reads and rewrites only the partitions its updates/deletes touch; deletes are a broadcast anti-join against the pruned snapshot slice — the CDC maintenance loop a 100 TB table actually runs, where q91 is its one-shot logical twin"),

    // ----- snapshot diff / reconciliation ---------------------------
    // The audit half of the q86/q91 maintenance story: given two table
    // versions (v2 = q86's merged snapshot), classify every key as
    // added / removed / changed / same in ONE full-outer join, payload
    // equality via null-safe comparison. At 100 TB this is the data-
    // reconciliation pass run after every backfill.
    "q95_table_diff" -> Q(
      fn = (s, d) => {
        val v1 = ordersBase(s, d)
        // v2 = the q86 upsert output (SHARED derivation — ordersMerged),
        // minus the %13 keys so every diff class (incl. removed) occurs
        val v2 = ordersMerged(s, d)
          .filter(col("o_orderkey") % 13 =!= 0)
        val a = v1.as("a")
        val b = v2.as("b")
        a.join(b, col("a.o_orderkey") === col("b.o_orderkey"), "full_outer")
          .select(
            coalesce(col("a.o_orderkey"), col("b.o_orderkey")).as("o_orderkey"),
            when(col("a.o_orderkey").isNull, "added")
              .when(col("b.o_orderkey").isNull, "removed")
              .when(col("a.o_orderstatus") <=> col("b.o_orderstatus") &&
                col("a.o_totalprice") <=> col("b.o_totalprice"), "same")
              .otherwise("changed").as("diff"))
          .groupBy(col("diff")).agg(count(lit(1)).as("n"))
      },
      sql = Some(TableDiffOracleSql),
      scaleNote = "one full-outer shuffle join keyed like the snapshots themselves (bucketed layouts co-locate it); payload equality stays inside the join's projection — at 100 TB compare xxhash64 of the payload struct instead of column-by-column, same plan — REGISTERED as q249 under this oracle VERBATIM"),

    // ----- q249: q95's hashed spelling (r15) --------------------------
    // The promise at q95's scaleNote, registered (the q222/q228/q243
    // convert-the-promise discipline): payload equality as ONE
    // xxhash64 of the payload struct per side instead of column-by-
    // column null-safe compares. Same full-outer plan, same oracle
    // VERBATIM — the gate proves hash-compare ≡ column-compare on
    // this corpus (a disagreement would be an xxhash64 collision or a
    // struct-canonicalization bug, either of which hash-mismatches
    // the driver). The win is schema-independence: a 100-column
    // snapshot diffs at the same per-row cost as this 2-column one,
    // and the hash can be PRECOMPUTED at write time (stored beside
    // the row, the content-addressing stance of q24/q36), turning
    // every future diff into a join on (key, hash) with zero payload
    // IO.
    "q249_table_diff_hashed" -> Q(
      fn = (s, d) => {
        val v1 = ordersBase(s, d)
        val v2 = ordersMerged(s, d)
          .filter(col("o_orderkey") % 13 =!= 0)
        // xxhash64 SKIPS null fields (a null leaves the running seed
        // unchanged), so hashing the bare payload struct would hash
        // (null, x) and (x, null) identically for same-typed adjacent
        // nullable columns — a real misclassification class on wide
        // snapshots, not a 2^-64 collision (ADVICE r15). Folding an
        // isnull flag in front of every nullable column restores
        // injectivity of the null bitmap: the flags are non-null
        // booleans, always hashed, so WHICH column is null always
        // perturbs the hash.
        def sig(side: String) = xxhash64(struct(
          isnull(col(s"$side.o_orderstatus")), col(s"$side.o_orderstatus"),
          isnull(col(s"$side.o_totalprice")), col(s"$side.o_totalprice")))
        val a = v1.as("a")
        val b = v2.as("b")
        a.join(b, col("a.o_orderkey") === col("b.o_orderkey"), "full_outer")
          .select(
            coalesce(col("a.o_orderkey"), col("b.o_orderkey")).as("o_orderkey"),
            when(col("a.o_orderkey").isNull, "added")
              .when(col("b.o_orderkey").isNull, "removed")
              .when(sig("a") === sig("b"), "same")
              .otherwise("changed").as("diff"))
          .groupBy(col("diff")).agg(count(lit(1)).as("n"))
      },
      sql = Some(TableDiffOracleSql),
      scaleNote = "identical join/shuffle shape to q95 — the hash is a row-local projection, so the plan, the exchanges, and the group fold are byte-for-byte the same; what changes at 100 TB is the CONSTANT: one 8-byte compare per row pair regardless of payload width, and precomputing the hash at snapshot-write time (content addressing) drops the diff's payload read entirely — the shared oracle makes 'hash diff ≡ column diff' a driver-gated theorem, not an assumption; CAVEAT for the 100-column recommendation: Spark's xxhash64 null-skips, so the struct MUST interleave isnull(c) flags (as here) or concat a null bitmap — a bare payload struct confuses (null,x) with (x,null) between same-typed neighbors"),

    // ----- retention cohorts ----------------------------------------
    // Product-analytics staple: bucket users by first-active week
    // (cohort), count how many are active k weeks later. Integer week
    // arithmetic on epoch micros (`div` — exact in both engines);
    // weeks are Monday-truncated identically by both date_trunc's.
    "q97_retention_cohorts" -> Q(
      fn = (s, d) => {
        val a = t(s, d, "events")
          .select(col("user_id"), date_trunc("week", col("ts")).as("w"))
          .distinct()
        val f = a.groupBy(col("user_id")).agg(min(col("w")).as("w0"))
        a.join(f, "user_id")
          .select(unix_micros(col("w0")).as("cohort_us"),
            expr("(unix_micros(w) - unix_micros(w0)) div 604800000000").as("wk"))
          .groupBy(col("cohort_us"), col("wk"))
          .agg(count(lit(1)).as("n_users"))
      },
      sql = Some("""
        WITH a AS (
          SELECT DISTINCT user_id,
                 date_trunc('week', ts::TIMESTAMP) AS w
          FROM events),
        f AS (SELECT user_id, min(w) AS w0 FROM a GROUP BY 1)
        SELECT epoch_us(w0) AS cohort_us,
               (epoch_us(w) - epoch_us(w0)) // 604800000000 AS wk,
               count(*) AS n_users
        FROM a JOIN f USING (user_id)
        GROUP BY 1, 2"""),
      scaleNote = "raw events collapse map-side into the (user, week) distinct before anything moves; every later exchange carries only user×week (then cohort×offset) rows and the first-week frame broadcasts back — the shuffled volume shrinks at each of the three stages, never re-touching raw events"),

    // ----- q113: weighted PageRank (iterative graph analytics) ------
    // The iterative-propagation modality ConnectedComponents (q61)
    // doesn't cover: fixed-point rank diffusion over a weighted graph,
    // expressed as the Pregel-on-DataFrames loop (join rank to edges,
    // aggregate incoming mass, damp). Graph: suppliers co-occurring in
    // the same order, edge weight = number of co-occurrences — the
    // graph is dense, so the WEIGHTS carry all the signal and ranks
    // are non-uniform. Fixed 5 iterations (not convergence-tested) so
    // both engines run the exact same arithmetic; per-iteration mass
    // is a sum of positive doubles (no cancellation) — 6-sig-fig safe.
    "q113_pagerank_suppliers" -> Q(
      fn = (s, d) => pagerankSuppliers(s, d, prePartition = false),
      sql = Some(PagerankOracleSql),
      scaleNote = "the Pregel pattern on DataFrames: per round ONE shuffle joining the rank frame to the (pre-partitioned, checkpointed) edge list and ONE groupBy on the destination — at 100 TB pre-partition edges by u so the rank join co-locates without re-shuffling edges each round (REGISTERED as q250 under this oracle VERBATIM), and the per-round localCheckpoint keeps lineage O(1) instead of O(iterations). Mass aggregation is map-side partial; the node-count scalar broadcasts. Fixed iteration count keeps the oracle arithmetic identical — a convergence-tested variant adds q61's signature probe, same plan"),

    // ----- q250: q113's pre-partitioned spelling (r15) -----------------
    // The promise at q113's scaleNote, registered (the q243/q249
    // convert-the-promise discipline): at graph scales where the rank
    // frame outgrows a broadcast, the loop's viability rests on the
    // EDGES never re-shuffling — so the edge frame is hash-partitioned
    // by u ONCE before its checkpoint (localCheckpoint preserves
    // outputPartitioning in the LogicalRDD), the per-round join runs
    // as a ShuffledHashJoin with the node-sized rank frame as the
    // build side (broadcast disabled via the q129 no-broadcast child
    // session — the at-scale premise, forced), and the only per-round
    // exchanges are the rank frame's (node-sized) and the groupBy on
    // v. PlanSpec probes every round's plan: no broadcast join, edges
    // stream from the checkpoint with ZERO exchange above them.
    // Gated by q113's oracle VERBATIM (per-round sums merge in a
    // different partition order — exactly the engine-vs-engine
    // variance the round(,6) final emit already canonicalizes).
    "q250_pagerank_prepartitioned" -> Q(
      fn = (s0, d) => {
        // AQE off for the loop session: adaptive wrapping re-plans
        // each round's tiny node-sized stages for no benefit, and an
        // AQE-executed repartition does not carry its partitioning
        // through the checkpoint into the next round's plan — the
        // exact property this spelling exists to exploit (observed
        // empirically: with AQE on, every round re-exchanged the
        // edges; PlanSpec pins the fixed plan per round)
        val s = ChildSessions.get(s0, "no-broadcast-no-aqe") { s2 =>
          s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
          s2.conf.set("spark.sql.adaptive.enabled", "false")
        }
        pagerankSuppliers(s, d, prePartition = true)
      },
      sql = Some(PagerankOracleSql),
      scaleNote = "the spelling that survives ranks too big to broadcast: edges carry HashPartitioning(u) through every round's checkpoint AND the rank frame arrives already partitioned (round 1 by the distinct, later rounds by the previous v-fold), so the per-round join moves NOTHING — PlanSpec pins ZERO exchanges inside every round's ShuffledHashJoin, leaving the v-grouped partials as the iteration's only wire traffic; on a real cluster that is O(rounds × |nodes|) network instead of O(rounds × |edges|); the rank side is the hash build (no per-round sort of edges, the SMJ trap), the node-sized broadcasts (out-strength, n_nodes) keep their explicit hints, AQE stays off in the loop session (adaptive re-planning discards checkpoint partitioning and buys nothing on node-sized stages — measured, documented in-code), and the shared oracle pins the arithmetic to q113's — same ranks, different physics"),

    // ----- q114: EWMA smoothing (sequential time-series state) ------
    // Exponentially-weighted moving average per user over the event
    // stream — the smoothing/anomaly-baseline primitive window
    // functions canNOT express (each row depends on the previous
    // OUTPUT, not a frame of inputs; the closed-form pow() rewrite
    // overflows for long series). So: q66's secondary-sort pattern —
    // one shuffle on user, in-partition sort by (ts, event_id), then a
    // constant-memory sequential scan. Both engines run the identical
    // left-to-right recurrence s' = 0.3·x + 0.7·s, so doubles are
    // bit-identical step by step.
    "q114_ewma_smoothing" -> Q(
      fn = (s, d) => {
        import s.implicits._
        // both as literals: (1.0 - 0.3) != 0.7 in IEEE doubles, and the
        // oracle's recurrence uses the literal — keep them bit-identical
        val Alpha = 0.3
        val Beta = 0.7
        t(s, d, "events")
          .select(col("user_id"), col("event_id"), col("ts"), col("value"))
          .repartition(col("user_id"))
          .sortWithinPartitions(col("user_id"), col("ts"), col("event_id"))
          .select(col("user_id"), col("value"))
          .as[(Long, Double)]
          .mapPartitions { it =>
            var cur = Long.MinValue
            var sm = 0.0
            var rn = 0L
            it.map { case (u, x) =>
              if (u != cur || rn == 0L) { cur = u; sm = x; rn = 1L }
              else { sm = Alpha * x + Beta * sm; rn += 1 }
              (u, rn, sm)
            }
          }
          .toDF("user_id", "rn", "ewma")
      },
      sql = Some("""
        WITH RECURSIVE b AS (
          SELECT user_id, value AS x,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS rn
          FROM events),
        r AS (
          SELECT user_id, rn, x AS s FROM b WHERE rn = 1
          UNION ALL
          SELECT b.user_id, b.rn, 0.3 * b.x + 0.7 * r.s
          FROM b JOIN r ON b.user_id = r.user_id AND b.rn = r.rn + 1)
        SELECT user_id, rn, s AS ewma FROM r"""),
      scaleNote = "q66's stance: one shuffle on the series key + in-partition secondary sort, then a streaming constant-memory scan — a user's history can exceed executor memory and this still streams; no window materializes the series and no pow() rewrite risks overflow. At 100 TB the same plan holds with (user, day-bucket) composite keys if single users grow pathological histories"),

    // ----- q115: triangle counting (multi-way graph join) -----------
    // Per-node triangle membership on the supplier co-purchase graph —
    // the canonical multi-way self-join analytic (clustering
    // coefficient's numerator). The dense co-occurrence graph is first
    // sparsified to its heaviest edges by the exact (count,u,v) total
    // order — an integer-deterministic selection at any SF (the graph
    // analytics analogue of q59's hot-list guard). The cap SCALES with
    // the node count (5·|supplier| ⇒ avg degree 10): a fixed cap made
    // the sf0.1 subgraph's average degree ~1 and the statistic
    // degenerated to zero triangles — a vacuous agreement with the
    // oracle. The count() is one driver-side scalar per run, the same
    // fixture-scale probe idiom as ConnectedComponents' convergence
    // check.
    "q115_triangle_counts" -> Q(
      fn = (s, d) => {
        // the edge list feeds all three join legs (checkpointed in
        // the shared builder)
        val e = sparsifiedSupplierEdges(s, d)
        val tri = e.as("e1")
          .join(e.as("e2"), col("e1.v") === col("e2.u"))
          .join(e.as("e3"),
            col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
          .select(col("e1.u").as("a"), col("e1.v").as("b"),
            col("e2.v").as("cc"))
        tri.select(explode(array(col("a"), col("b"), col("cc"))).as("supplier"))
          .groupBy(col("supplier"))
          .agg(count(lit(1)).as("n_triangles"))
      },
      sql = Some(TriangleOracleSql),
      scaleNote = "edges canonicalize u<v (each triangle enumerated exactly once) and the top-K sparsification is TakeOrderedAndProject over the co-occurrence agg — the two wedge/closure joins then run on the bounded edge list, which broadcasts. At true graph scale replace the weight cap with degree-ordered orientation (each edge points low→high degree), which bounds wedge fan-out at O(m^1.5) total work with the identical two-join plan — REGISTERED as q236 under this oracle VERBATIM"),

    // ----- q236: degree-ordered triangle orientation (r14) ------------
    // q115's scaleNote promised it; this registers it (the q220/q222
    // convert-the-promise discipline): the SAME sparsified edge list,
    // but each undirected edge ORIENTED from its (degree, id)-smaller
    // endpoint to the larger — the compact-forward / node-iterator++
    // orientation whose wedge enumeration is O(m^{3/2}) TOTAL
    // regardless of degree skew, because every wedge is centered on
    // its triangle's (degree, id)-MINIMUM vertex and an oriented
    // out-degree is bounded by √m where the u<v orientation's is
    // bounded only by the hub's degree. Each triangle is found
    // exactly once (two out-edges of the minimum vertex + the closure
    // edge probed in canonical u<v form), so the per-node counts are
    // BYTE-IDENTICAL to q115's — the shared oracle makes "same
    // statistic, skew-proof fan-out" a gated theorem, and the spec
    // additionally proves the wedge count genuinely shrinks on this
    // graph.
    "q236_triangles_oriented" -> Q(
      fn = (s, d) => {
        // "SAME edge list as q115" is true by construction: both read
        // the shared sparsifiedSupplierEdges builder
        val e = sparsifiedSupplierEdges(s, d)
        val deg = e.select(col("u").as("n"))
          .unionAll(e.select(col("v").as("n")))
          .groupBy(col("n")).agg(count(lit(1)).as("deg"))
        // orient low (deg, id) → high (deg, id); ties impossible on id
        val oe = e
          .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
          .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
          .select(
            when(col("du") < col("dv") ||
                 (col("du") === col("dv") && col("u") < col("v")),
              col("u")).otherwise(col("v")).as("src"),
            when(col("du") < col("dv") ||
                 (col("du") === col("dv") && col("u") < col("v")),
              col("v")).otherwise(col("u")).as("dst"))
          .localCheckpoint() // both wedge legs read it
        // wedges centered on the minimum vertex; dst1 < dst2 dedups
        // the unordered out-pair
        val tri = oe.as("o1")
          .join(oe.as("o2"),
            col("o1.src") === col("o2.src") &&
            col("o1.dst") < col("o2.dst"))
          // closure probe against the CANONICAL u<v list — oriented
          // edges lose undirected membership, the canonical list
          // keeps the probe one equi-join
          .join(e.as("e3"),
            col("e3.u") === least(col("o1.dst"), col("o2.dst")) &&
            col("e3.v") === greatest(col("o1.dst"), col("o2.dst")))
          .select(col("o1.src").as("a"), col("o1.dst").as("b"),
            col("o2.dst").as("cc"))
        tri.select(explode(array(col("a"), col("b"), col("cc"))).as("supplier"))
          .groupBy(col("supplier"))
          .agg(count(lit(1)).as("n_triangles"))
      },
      sql = Some(TriangleOracleSql),
      scaleNote = "the skew-proof triangle plan: orientation costs two broadcast joins against the |nodes|-row degree frame, and the wedge join's fan-out per center is the ORIENTED out-degree — ≤ √(2m) for every vertex, including the hub that makes the u<v spelling quadratic — so total wedge work is O(m^{3/2}) by the standard compact-forward argument, with the closure probe the identical equi-join q115 already pays; at a 100 TB co-occurrence graph the edge list shuffles on src for the wedge join and the canonical list broadcasts-or-shuffles on (u, v) for the probe — no stage sees a hub's full neighborhood squared, which is exactly the failure mode that kills the unoriented plan on power-law graphs"),

    // ----- q123: OHLC bar downsampling (time-series resample) -------
    // Per-hour open/high/low/close/volume bars per event_type — the
    // standard resample that turns a raw event/tick stream into a
    // fixed-cadence series. open/close pick the chronologically
    // first/last value WITHOUT a sort or window: min_by/max_by on the
    // bare ts. The ordering key is deliberately the SCALAR timestamp,
    // not a (ts, event_id) struct — a struct ordering key has a
    // var-size agg buffer and silently demotes the whole query to
    // SortAggregate (per-partition sorts); the scalar key keeps it
    // HashAggregate (PlanSpec asserts). Determinism precondition:
    // (event_type, ts) is unique in the corpus — verified at every SF
    // and asserted in RelationalSpec; under ties, pack a composite
    // scalar key or accept the SortAggregate demotion.
    "q123_ohlc_bars" -> Q(
      fn = (s, d) => graft.streaming.EventStreams.ohlcBars(
        t(s, d, "events"), withWatermarkCol = false),
      sql = Some("""
        WITH ranked AS (
          SELECT time_bucket(INTERVAL 1 HOUR, ts::TIMESTAMP) AS w,
                 event_type, value,
                 row_number() OVER (
                   PARTITION BY time_bucket(INTERVAL 1 HOUR, ts::TIMESTAMP), event_type
                   ORDER BY ts, event_id) AS rn_a,
                 row_number() OVER (
                   PARTITION BY time_bucket(INTERVAL 1 HOUR, ts::TIMESTAMP), event_type
                   ORDER BY ts DESC, event_id DESC) AS rn_d
          FROM events)
        SELECT epoch_us(w) AS bar_start, event_type,
               max(CASE WHEN rn_a = 1 THEN value END) AS open,
               max(value) AS high, min(value) AS low,
               max(CASE WHEN rn_d = 1 THEN value END) AS close,
               count(*) AS n, round(sum(value), 6) AS volume
        FROM ranked GROUP BY 1, 2"""),
      scaleNote = "one map-side-combinable shuffle on (window, type): min_by/max_by carry a single (value, orderkey) pair per group through partial aggregation — no sort, no per-series window materialization (the oracle's row_number twin is the plan this one avoids); the streaming form is q37's watermarked window with this agg"),

    // ----- q127: small-file compaction preserves the table ----------
    // The storage-maintenance pass behind every long-lived table:
    // accrete the pathology deliberately (documents shattered into 40
    // tiny part files), bin-pack it back with operators/Compact, and
    // prove through the DuckDB gate that not one row changed — count,
    // char mass, AND a per-row content digest per source. File-level
    // guarantees (threshold files byte-untouched, crash-resume
    // idempotency) are CompactSpec's.
    "q127_compaction" -> Q(
      fn = (s, d) => {
        val dir = tempSnapshotDir("graft_q127_compact")
        t(s, d, "documents").repartition(40)
          .write.mode("overwrite").parquet(dir)
        // thresholds derived from the ACTUAL shard sizes, not fixed
        // bytes: a fixed 8 MB cutoff stops matching once the corpus
        // grows the shards past it (the q115 fixed-cap lesson) — here
        // every shard is always "small" and bins pack ~5 shards each,
        // so the file count shrinks 40 → ~8 at any SF
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val lens = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .map(_.getLen)
        val stats = graft.operators.Compact(s, dir,
          smallBytes = lens.max + 1, targetBytes = math.max(lens.max + 1, lens.sum / 8))
        require(stats.filesAfter < stats.filesBefore,
          s"compaction must reduce the file count: $stats")
        s.read.parquet(dir)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("n_chars")).as("sum_chars"),
            countDistinct(md5(concat(col("doc_id").cast("string"), col("text"))))
              .as("content_digests"))
      },
      sql = Some("""
        SELECT source, count(*) AS n,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               count(DISTINCT md5(CAST(doc_id AS VARCHAR) || text)) AS content_digests
        FROM documents GROUP BY source"""),
      scaleNote = "compaction reads ONLY sub-threshold files (driver-side metadata binning decides from the file listing alone) — a kilobyte-file cleanup on a 100 TB table costs the small-file bytes, not a table rewrite; the three-phase manifest protocol keeps every row readable at every step and replays to the same end state after a crash"),

    // ----- q130: versioned snapshot read path -----------------------
    // operators/VersionedSnapshot through the gate: gen-0 is the base
    // orders projection, gen-1 commits the q86 upsert applied to it,
    // and the query reads whatever _LATEST resolves — so the oracle
    // (the same merged-state SQL as q86's family) verifies that the
    // pointer protocol serves exactly the last committed generation,
    // while VersionedSnapshotSpec owns isolation/retention/crash.
    "q130_versioned_read" -> Q(
      fn = (s, d) => {
        val root = tempSnapshotDir("graft_q130_vsnap")
        val base = ordersBase(s, d)
        graft.operators.VersionedSnapshot.commit(s, root, base)
        val shift = base.agg(max(col("o_orderkey")).as("m"))
        // reprice in integer CENTS: prices are exact cents stored as
        // doubles, so floor(p*100+0.5) recovers the integer exactly,
        // *11 DIV 10 is the 10% uplift in pure integer arithmetic,
        // and the result double is bit-identical on both engines.
        // round(x*1.1, 2) is NOT: Spark rounds the shortest decimal
        // repr HALF_UP while DuckDB rounds the binary value, and they
        // disagree on repr-ties (the round(2.675,2) problem — the r7
        // driver-hash failure was 5 such cents)
        val delta = base.filter(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey"), lit("R").as("o_orderstatus"),
            expr("CAST((CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 11) DIV 10 AS DOUBLE) / 100.0")
              .as("o_totalprice"))
          .unionByName(base.filter(col("o_orderkey") % 1000 === 1)
            .crossJoin(broadcast(shift))
            .select((col("o_orderkey") + col("m")).as("o_orderkey"),
              col("o_orderstatus"), col("o_totalprice")))
        graft.operators.VersionedSnapshot.commit(s, root,
          graft.operators.Upsert(
            graft.operators.VersionedSnapshot.read(s, root), delta,
            Seq("o_orderkey")))
        // every stored price is a double within one ulp of exact
        // cents, so floor(p*100+0.5) recovers the integer cents
        // exactly on both engines; the LONG sum is order-independent
        // and the final double division is then bit-stable
        graft.operators.VersionedSnapshot.read(s, root)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            (sum(floor(col("o_totalprice") * 100 + lit(0.5))).cast("double")
              / 100.0).as("total"))
      },
      sql = Some("""
        WITH base AS (
          SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        m AS (SELECT max(o_orderkey) AS m FROM base),
        delta AS (
          SELECT o_orderkey, 'R' AS o_orderstatus,
                 CAST((CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 11) // 10 AS DOUBLE) / 100.0
                   AS o_totalprice
          FROM base WHERE o_orderkey % 10 = 0
          UNION ALL
          SELECT o_orderkey + m.m, o_orderstatus, o_totalprice
          FROM base, m WHERE o_orderkey % 1000 = 1),
        merged AS (
          SELECT * FROM delta
          UNION ALL
          SELECT b.* FROM base b
          WHERE NOT EXISTS (SELECT 1 FROM delta d
                            WHERE d.o_orderkey = b.o_orderkey))
        SELECT o_orderstatus, count(*) AS n,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
                 AS total
        FROM merged GROUP BY 1"""),
      scaleNote = "each commit is one generation-dir write + one atomic pointer rename — cost identical to the plain rewrite, but readers resolve an immutable directory and a crash can only leave the pointer on the previous complete generation; at 100 TB pair it with PartitionedUpsert inside the generation for delta-sized writes"),

    // ---- q185: incremental materialized-view maintenance (IVM) -----
    // (feed and base aggregate are the shared ivmBaseAgg/ivmFeed
    // fixtures defined next to ordersMerged above — one definition
    // for q185's in-plan fold and q188's IvmSink service.)
    // The algebraic answer to "keep revenue-by-status current without
    // rescanning orders": a SUM/COUNT view is a group homomorphism,
    // so a change feed WITH BEFORE-IMAGES folds into the maintained
    // aggregate as (+1, +new) for the after-image and (−1, −old) for
    // the before-image — no base rescan, ever. The registered plan
    // folds q86's delta in TWO sequential halves (associativity is
    // exercised, not assumed) starting from the base aggregate, and
    // the ORACLE computes the view directly over the merged table —
    // the gate IS the IVM correctness theorem for this view. Money
    // stays in exact integer cents; the update's new value mirrors
    // the oracle's `price + 1000.0` double addition literally before
    // the cents cast, so both engines round the identical double.
    "q185_ivm_agg" -> Q(
      fn = (s, d) => {
        val baseAgg = ivmBaseAgg(s, d)
        val feed = ivmFeed(s, d)
        def contribs(half: DataFrame): DataFrame =
          half.select(col("nst").as("o_orderstatus"),
              lit(1L).as("n"), col("ncents").as("total_cents"))
            .unionByName(half.filter(col("ost").isNotNull)
              .select(col("ost").as("o_orderstatus"),
                lit(-1L).as("n"), (-col("ocents")).as("total_cents")))
        def fold(agg: DataFrame, half: DataFrame): DataFrame =
          agg.unionByName(contribs(half))
            .groupBy(col("o_orderstatus"))
            .agg(sum(col("n")).as("n"),
              sum(col("total_cents")).as("total_cents"))
            .localCheckpoint() // the maintained view between batches
        val afterBatch1 = fold(baseAgg, feed.filter(col("o_orderkey") % 2 === 0))
        fold(afterBatch1, feed.filter(col("o_orderkey") % 2 =!= 0))
          .select(col("o_orderstatus"), col("n"), col("total_cents"))
      },
      sql = Some(OrdersMergedAggSql),
      scaleNote = "the base aggregate is computed ONCE (or inherited from yesterday's view); each batch then touches only its own changes — contribution rows collapse map-side into |groups| partials and fold into the |groups|-row view, so maintenance cost tracks the DELTA, not the base, at any scale; this is the algebraic-view half of the warehouse story (q103's partitioned MERGE maintains the ROWS, this maintains the AGGREGATE, and sketches q143/q165 extend the same fold to non-algebraic stats)"),

    // ---- q188: the q185 fold as a maintained SERVICE ----------------
    // q185 proves the contribution-fold algebra; this routes the SAME
    // feed through pipeline.IvmSink — the streaming IVM service whose
    // replay/crash/compaction contract IvmSinkSpec owns — and reads
    // the view it serves, against q185's exact oracle (the q130
    // pattern: the operator runs inside the gate). Deliberately
    // exercised through the gate: batch 0 is applied TWICE (the
    // at-least-once redelivery the service must absorb) and the view
    // is compacted before the read — redelivery must be a no-op and
    // compaction content-preserving, or the oracle hash breaks.
    "q188_ivm_sink" -> Q(
      fn = (s, d) => {
        val viewDir = tempSnapshotDir("graft_q188_ivm")
        graft.pipeline.IvmSink.initBase(
          ivmBaseAgg(s, d).withColumnRenamed("total_cents", "total"),
          viewDir)
        val feed = ivmFeed(s, d)
        val b0 = feed.filter(col("o_orderkey") % 2 === 0)
        val b1 = feed.filter(col("o_orderkey") % 2 =!= 0)
        def apply(b: DataFrame, id: Long): Unit =
          graft.pipeline.IvmSink.applyBatch(b, "nst", "ncents",
            "ost", "ocents", "o_orderstatus", viewDir,
            runId = "q188", batchId = Some(id))
        apply(b0, 0L); apply(b0, 0L) // at-least-once redelivery: no-op
        apply(b1, 1L)
        graft.pipeline.IvmSink.compact(s, viewDir)
        graft.pipeline.IvmSink.readView(s, viewDir)
          .select(col("o_orderstatus"), col("n"),
            col("total").as("total_cents"))
      },
      sql = Some(OrdersMergedAggSql),
      scaleNote = "q185's scale story made operational: each micro-batch writes ONE |groups|-row partial to its own run-namespaced subdir (a pure function of the batch — no read-modify-write, so replay is overwrite-idempotent by construction), the served view folds N×|groups| rows, and compaction folds the partials back into the flat layer under DirSwap; maintenance cost tracks the delta at any base size"),

    // ---- q183: CUPED variance-reduced experiment readout -----------
    // The experimentation-analytics staple (Deng et al. 2013, "Improving
    // the Sensitivity of Online Controlled Experiments"): an A/B
    // metric's variance shrinks by regressing out each unit's
    // PRE-experiment behavior — adjusted_i = post_i − θ·(pre_i − x̄),
    // θ = cov(pre, post)/var(pre) pooled across arms. Here: the event
    // window splits at its exact midpoint (integer-microsecond
    // arithmetic), users split into arms by id parity, per-user
    // pre/post value sums feed the one OLS-style moment aggregate
    // (q172's form), and the readout emits per-arm means and
    // variances both raw and adjusted — the variance drop IS the
    // deliverable. θ is the POOLED minimizer, so the pooled adjusted
    // variance can only fall (spec-pinned); a single arm's can tick
    // up when its covariance differs from pooled — it does on this
    // corpus, and the readout shows it honestly. Transcendental-free;
    // round(,6) on emissions per the double-sum merge discipline.
    "q183_cuped_readout" -> Q(
      fn = (s, d) => {
        val ev = t(s, d, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("value"))
        val cut = ev.agg(
          ((min(col("us")) + max(col("us"))) / lit(2L)).cast("long")
            .as("cut"))
        val per = ev.crossJoin(broadcast(cut))
          .groupBy(col("user_id"))
          .agg(
            sum(when(col("us") < col("cut"), col("value")).otherwise(0.0))
              .as("pre"),
            sum(when(col("us") >= col("cut"), col("value")).otherwise(0.0))
              .as("post"))
          .withColumn("arm", pmod(col("user_id"), lit(2)))
          .localCheckpoint() // one event pass feeds theta AND readout
        val mom = per.agg(count(lit(1)).cast("double").as("n"),
          sum(col("pre")).as("sx"), sum(col("post")).as("sy"),
          sum(col("pre") * col("pre")).as("sxx"),
          sum(col("pre") * col("post")).as("sxy"))
          .select(col("n"),
            ((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx"))).as("theta"),
            (col("sx") / col("n")).as("mean_pre"))
        per.crossJoin(broadcast(mom))
          .withColumn("adj",
            col("post") - col("theta") * (col("pre") - col("mean_pre")))
          .groupBy(col("arm"))
          .agg(count(lit(1)).as("n_users"),
            round(avg(col("post")), 6).as("mean_post"),
            round(avg(col("adj")), 6).as("mean_adj"),
            round(avg(col("post") * col("post")) -
              avg(col("post")) * avg(col("post")), 6).as("var_post"),
            round(avg(col("adj") * col("adj")) -
              avg(col("adj")) * avg(col("adj")), 6).as("var_adj"))
      },
      sql = Some("""
        WITH ev AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
        cut AS (SELECT (min(us) + max(us)) // 2 AS cut FROM ev),
        per AS MATERIALIZED (
          SELECT user_id,
                 sum(CASE WHEN us < cut THEN value ELSE 0.0 END) AS pre,
                 sum(CASE WHEN us >= cut THEN value ELSE 0.0 END) AS post,
                 user_id % 2 AS arm
          FROM ev, cut GROUP BY user_id),
        mom AS (
          SELECT CAST(count(*) AS DOUBLE) AS n,
                 sum(pre) AS sx, sum(post) AS sy,
                 sum(pre * pre) AS sxx, sum(pre * post) AS sxy
          FROM per),
        th AS (SELECT n,
                      (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta,
                      sx / n AS mean_pre
               FROM mom),
        adj AS (SELECT arm, post,
                       post - theta * (pre - mean_pre) AS adj
                FROM per, th)
        SELECT arm, count(*) AS n_users,
               round(avg(post), 6) AS mean_post,
               round(avg(adj), 6) AS mean_adj,
               round(avg(post * post) - avg(post) * avg(post), 6) AS var_post,
               round(avg(adj * adj) - avg(adj) * avg(adj), 6) AS var_adj
        FROM adj GROUP BY 1"""),
      scaleNote = "events collapse map-side into per-user (pre, post) partials — ONE user_id shuffle for any event volume; the moment frame is 1 row and broadcasts back, so the adjustment is map-side and the per-arm readout is a 2-row aggregate; this is why CUPED is free at 100 TB — it reuses the per-unit aggregation the raw metric already pays, adding only the broadcast θ"),
  )
}
