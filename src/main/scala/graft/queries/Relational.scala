package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Relational operator catalog — SURVEY.md §2B E1–E16.
  *
  * Every entry is a declarative DataFrame plan: Catalyst gets predicate
  * pushdown, column pruning, partial aggregation and join-strategy
  * selection for free, so each of these plans survives a 100 TB input
  * as long as partitioning is respected (scaleNote per query).
  *
  * Reference semantics: the reference engine
  * (keyasuda/llm-batch-processor) implements NO relational operators
  * (SURVEY.md §2A, reference lib/job_processor.rb:15-53) — these are
  * the engine-extension set mandated for the DuckDB-oracle gate.
  *
  * Determinism rules observed throughout (oracle = hash compare):
  *  - every window orderBy / LIMIT has a total tie-break;
  *  - computed integer columns are cast to LONG so the dumped parquet
  *    schema matches DuckDB's BIGINT;
  *  - no raw timestamp output columns (Spark writes them
  *    adjusted-to-UTC which DuckDB reads as TIMESTAMPTZ) — dates or
  *    epoch numbers instead.
  */
object Relational extends Catalog {

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Tables.load(s, d, n)

  /** revenue expression used across TPC-H-ish queries */
  private val revenue: Column =
    col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  // ---- q216's oracle, shared verbatim with q220 ---------------------
  // The q186/q198 discipline: q220 is the manually pre-aggregated
  // spelling of the SAME semantics, so it carries the SAME gate.
  private[queries] val TpchQ17OracleSql: String = """
        SELECT p_brand,
               count(*) AS n_lines,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                 AS BIGINT) AS sum_price_cents
        FROM lineitem, part
        WHERE p_partkey = l_partkey AND p_size < 15
          AND CAST(l_quantity AS BIGINT) * 5
              * (SELECT count(*) FROM lineitem l3
                 WHERE l3.l_partkey = p_partkey)
              < (SELECT CAST(sum(CAST(l2.l_quantity AS BIGINT)) AS BIGINT)
                 FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
        GROUP BY p_brand"""

  /** q04/q11's line items joined to their order, customer and
    * (broadcast) nation */
  private def nationLines(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
    val o  = t(s, d, "orders")
    val c  = t(s, d, "customer")
    val n  = t(s, d, "nation")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
  }

  /** q09/q74's shared oracle: q74 is q09 through BinnedRangeJoin, so
    * both must return the same rows */
  private val FollowEventsSql: String = """
        SELECT e1.user_id, count(*) AS n_follow_events
        FROM events e1 JOIN events e2
          ON e1.user_id = e2.user_id
         AND e2.ts > e1.ts
         AND e2.ts <= e1.ts + INTERVAL 5 MINUTE
        GROUP BY e1.user_id"""

  override def queries: Map[String, Q] = Map(

    // ----- E6: hash aggregate, multiple keys — TPC-H Q1 shape -------
    "q01_agg_pricing_summary" -> Q(
      fn = (s, d) =>
        t(s, d, "lineitem")
          .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("l_quantity")).as("sum_qty"),
            sum(col("l_extendedprice")).as("sum_base_price"),
            sum(revenue).as("sum_disc_price"),
            avg(col("l_quantity")).as("avg_qty"),
            avg(col("l_discount")).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus")),
      sql = Some("""
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty,
               sum(l_extendedprice) AS sum_base_price,
               sum(l_extendedprice * (1.0 - l_discount)) AS sum_disc_price,
               avg(l_quantity) AS avg_qty,
               avg(l_discount) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus"""),
      scaleNote = "map-side partial agg; 6 output groups; shipdate filter pushed to parquet scan"),

    // ----- E2/E3: projection + computed col + range/IN filter -------
    "q02_filter_project" -> Q(
      fn = (s, d) =>
        t(s, d, "lineitem")
          .filter(
            col("l_shipdate").between(
              lit("1996-01-01").cast("timestamp"),
              lit("1996-12-31").cast("timestamp")) &&
            col("l_discount").between(0.05, 0.07) &&
            col("l_quantity").isin(10.0, 20.0, 30.0, 40.0, 50.0))
          .select(
            col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
            revenue.as("rev")),
      sql = Some("""
        SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
               l_extendedprice * (1.0 - l_discount) AS rev
        FROM lineitem
        WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity IN (10, 20, 30, 40, 50)"""),
      scaleNote = "pure scan-side work: all three predicates + 4-col projection push to parquet; no shuffle at all"),

    // ----- E3: LIKE / IN filters on strings --------------------------
    "q03_like_filter" -> Q(
      fn = (s, d) =>
        t(s, d, "part")
          .filter(
            (col("p_type").like("%ECONOMY%") || col("p_name").like("small%")) &&
            col("p_size").isin(1, 5, 10))
          .select(col("p_partkey"), col("p_name"), col("p_brand"),
            col("p_retailprice")),
      sql = Some("""
        SELECT p_partkey, p_name, p_brand, p_retailprice
        FROM part
        WHERE (p_type LIKE '%ECONOMY%' OR p_name LIKE 'small%')
          AND p_size IN (1, 5, 10)"""),
      scaleNote = "StartsWith + In push down to parquet; Contains-LIKE evaluated in scan stage; no shuffle"),

    // ----- E4: multi-way inner join + broadcast dims ----------------
    "q04_join_revenue_by_nation" -> Q(
      fn = (s, d) => {
        nationLines(s, d)
          .groupBy(col("n_name"), year(col("o_orderdate")).cast("long").as("o_year"))
          .agg(sum(revenue).as("revenue"),
               count(lit(1)).as("n_items"))
      },
      sql = Some("""
        SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
               sum(l_extendedprice * (1.0 - l_discount)) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY n_name, CAST(year(o_orderdate) AS BIGINT)"""),
      scaleNote = "fact-fact join shuffles on orderkey once; customer then nation are dim joins — nation/region broadcast at any SF, customer broadcast below ~1 GB"),

    // ----- E4: right outer join (oracle spelled as LEFT, same op) ---
    "q05_outer_join_counts" -> Q(
      fn = (s, d) => {
        val o = t(s, d, "orders")
        val c = t(s, d, "customer")
        // right outer: keep every customer, orders optional
        // money sums ACCUMULATE through DECIMAL (exact + associative,
        // so bit-stable at any scale factor and parallelism — double
        // accumulation order differs between engines and flips the
        // rounded 6th significant digit at sf0.1) but the OUTPUT is
        // BIGINT cents: the comparison hash is type-sensitive, and
        // integer cents agree bit-for-bit across engines while a
        // DECIMAL output column does not. o_totalprice has 2 decimal
        // places, so cents are exact; the *100 decimal is integral and
        // the long cast loses nothing.
        o.join(c, col("o_custkey") === col("c_custkey"), "right")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("n_orders"),
               (coalesce(sum(col("o_totalprice").cast("decimal(18,2)")),
                 lit(0).cast("decimal(18,2)")) * 100).cast("long")
                 .as("total_spent_cents"))
      },
      sql = Some("""
        SELECT c_custkey, count(o_orderkey) AS n_orders,
               CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) * 100
                 AS BIGINT) AS total_spent_cents
        FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        GROUP BY c_custkey"""),
      scaleNote = "outer join then agg on the same key — Catalyst reuses the hash partitioning; count(col) skips nulls from non-matches; decimal accumulation is exact at any partitioning, BIGINT-cents output is hash-portable"),

    // ----- E4: left-semi join (EXISTS) -------------------------------
    "q06_semi_join" -> Q(
      fn = (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders")
          .filter(col("o_totalprice") > 400000.0)
        c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      },
      sql = Some("""
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 400000.0)"""),
      scaleNote = "semi join never materializes the probe side's payload; price filter pushed below the join"),

    // ----- E4: left-anti join (NOT EXISTS) ---------------------------
    "q07_anti_join" -> Q(
      fn = (s, d) => {
        val c = t(s, d, "customer")
        // customers with no order since 2000-01-01 (plain no-orders-at-all
        // is empty on this data — every customer has orders)
        val o = t(s, d, "orders")
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"))
      },
      sql = Some("""
        SELECT c_custkey, c_name
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '2000-01-01')"""),
      scaleNote = "anti join; at 100 TB the orders side reduces to distinct custkeys before the shuffle (Catalyst aggregates build side of anti joins)"),

    // ----- E4: full outer join ---------------------------------------
    "q08_full_outer_join" -> Q(
      fn = (s, d) => {
        val c = t(s, d, "customer")
          .filter(col("c_acctbal") > 9000.0)
          .groupBy(col("c_nationkey").cast("long").as("nationkey"))
          .agg(count(lit(1)).as("rich_customers"))
        val sup = t(s, d, "supplier")
          .filter(col("s_acctbal") < -800.0)
          .groupBy(col("s_nationkey").cast("long").as("nationkey"))
          .agg(count(lit(1)).as("poor_suppliers"))
        c.join(sup, Seq("nationkey"), "full_outer")
      },
      sql = Some("""
        SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
               c.rich_customers, s.poor_suppliers
        FROM (SELECT CAST(c_nationkey AS BIGINT) AS nationkey, count(*) AS rich_customers
              FROM customer WHERE c_acctbal > 9000.0 GROUP BY 1) c
        FULL OUTER JOIN
             (SELECT CAST(s_nationkey AS BIGINT) AS nationkey, count(*) AS poor_suppliers
              FROM supplier WHERE s_acctbal < -800.0 GROUP BY 1) s
        USING (nationkey)"""),
      scaleNote = "aggregate-before-join shrinks both sides to |nations| rows; the outer join itself is then trivially broadcastable"),

    // ----- E4: the canonical analytic join tree (TPC-H Q5 shape) ----
    // Local-supplier revenue by nation for one region and year — the
    // textbook 6-table star query, including Q5's signature twist:
    // the supplier join carries the extra c_nationkey = s_nationkey
    // equality (revenue counts only when the customer's nation
    // supplied the part), so it is NOT a plain snowflake walk. The
    // shape matters because it exercises everything at once: a
    // half-open date RANGE on orders (>= / < literals, which Spark
    // pushes into the parquet scan as GreaterThanOrEqual/LessThan and
    // prunes row groups via footer min/max — a year(...) wrapper would
    // defeat pushdown entirely), two broadcast dims, fact-fact
    // shuffle joins, and a final skinny aggregate. Revenue is exact
    // integer cents × (100 − discount-percent) — q170's discipline —
    // so the 6-way join hashes bit-for-bit.
    "q184_tpch_q5_shape" -> Q(
      fn = (s, d) => {
        val li = t(s, d, "lineitem").select(col("l_orderkey"),
          col("l_suppkey"),
          (expr("CAST(round(l_extendedprice * 100) AS BIGINT)") *
            (lit(100L) - expr("CAST(round(l_discount * 100) AS BIGINT)")))
            .as("rev_e4"))
        val o = t(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1997-01-01") &&
            col("o_orderdate") < lit("1998-01-01"))
          .select(col("o_orderkey"), col("o_custkey"))
        val c = t(s, d, "customer")
          .select(col("c_custkey"), col("c_nationkey"))
        val su = t(s, d, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"))
        val n = t(s, d, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        val r = t(s, d, "region")
          .filter(col("r_name") === "ASIA").select(col("r_regionkey"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(su, col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_items"), sum(col("rev_e4")).as("revenue_e4"))
      },
      sql = Some("""
        SELECT n_name, count(*) AS n_items,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
                        (100 - CAST(round(l_discount * 100) AS BIGINT)))
                    AS BIGINT) AS revenue_e4
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
                     AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01'
              AND r_name = 'ASIA'
        GROUP BY 1"""),
      scaleNote = "the plan IS the 100 TB plan: the half-open date range pushes into the orders parquet scan (PushedFilters carries the >= / < bounds, plan-asserted in PlanSpec) so whole row groups outside 1997 are skipped via footer min/max stats before the join, nation/region broadcast (|dims| rows), the three fact joins shuffle on their own keys with AQE free to reorder/skew-split, and the aggregate is |nations| rows after map-side partials — the shape every warehouse benchmarks first, expressed declaratively so Catalyst owns the join order"),

    // ----- E4/SQL surface: the canonical TPC-H Q21 shape --------------
    // "Suppliers who kept orders waiting": per finished order, the
    // problem line (l_returnflag = 'R' — the corpus has no
    // receipt/commit dates, so the returned-line marker plays Q21's
    // late-delivery predicate) counts against its supplier only when
    // the order had ANOTHER supplier (correlated EXISTS) and no OTHER
    // supplier also had a problem line (correlated NOT EXISTS) — two
    // correlated subqueries with <> predicates against the SAME fact.
    // This is the one canonical join pattern q81's scalar-subquery
    // decorrelation doesn't cover: Catalyst must rewrite both
    // subqueries into semi/anti joins keyed on l_orderkey with the
    // l_suppkey <> residual attached — never a per-row re-execution,
    // never a cartesian (PlanSpec-asserted).
    "q187_tpch_q21_shape" -> Q.onViews("q187", Seq("supplier", "lineitem", "orders", "nation"),
      sql = tb => s"""
        SELECT n_name, s_name, count(*) AS numwait
        FROM ${tb("supplier")}, ${tb("lineitem")} l1, ${tb("orders")}, ${tb("nation")}
        WHERE s_suppkey = l1.l_suppkey
          AND o_orderkey = l1.l_orderkey
          AND o_orderstatus = 'F'
          AND l1.l_returnflag = 'R'
          AND EXISTS (SELECT * FROM ${tb("lineitem")} l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT * FROM ${tb("lineitem")} l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
          AND s_nationkey = n_nationkey
        GROUP BY n_name, s_name""",
      scaleNote = "decorrelation is the whole game: both EXISTS rewrite into ONE semi and ONE anti join each keyed on l_orderkey (the <> residual rides the equi key), so the fact joins itself twice on its natural key instead of re-running a subquery per row — three l_orderkey shuffles AQE can co-plan, nation broadcasts into supplier, the status/returnflag predicates push into the scans, and the aggregate is at most |suppliers| rows (grouped per nation — Q21's single-nation literal is a group key here so the query is non-empty at every test SF; at 100 TB add the nation predicate back and it prunes the broadcast side); the textbook worst-case correlated query runs as a linear join tree at any scale"),

    // ----- E4/SQL surface: the canonical TPC-H Q18 shape --------------
    // "Large-volume customers": orders whose TOTAL line quantity
    // exceeds a threshold — o_orderkey IN (SELECT l_orderkey FROM
    // lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 200) —
    // the third canonical decorrelation pattern after q81's scalar
    // subquery and q87/q187's EXISTS family: an IN over an AGGREGATED
    // subquery with a HAVING cut. Catalyst must plan the subquery as
    // its own two-phase aggregate, apply the HAVING filter to the
    // |qualifying orders| frame, and rewrite the IN into a LeftSemi
    // join on l_orderkey — never a per-row re-execution, never a
    // cartesian (PlanSpec-asserted). Quantities are integer-valued
    // doubles cast to BIGINT at birth so both sums are exact; price
    // emits as exact cents (q170's discipline), the date as epoch
    // micros. K = 200 keeps the result non-empty at every test SF
    // (99 / 874 / 9185 qualifying orders at sf0.001/0.01/0.1).
    "q197_tpch_q18_shape" -> Q(
      fn = (s, d) => {
        t(s, d, "customer").createOrReplaceTempView("q197_customer")
        t(s, d, "orders").createOrReplaceTempView("q197_orders")
        t(s, d, "lineitem").createOrReplaceTempView("q197_lineitem")
        s.sql("""
          SELECT c_name, c_custkey, o_orderkey,
                 unix_micros(o_orderdate) AS o_date_us,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                 CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
          FROM q197_customer, q197_orders, q197_lineitem
          WHERE o_orderkey IN (SELECT l_orderkey FROM q197_lineitem
                               GROUP BY l_orderkey
                               HAVING sum(CAST(l_quantity AS BIGINT)) > 200)
            AND c_custkey = o_custkey
            AND o_orderkey = l_orderkey
          GROUP BY 1, 2, 3, 4, 5""")
      },
      sql = Some("""
        SELECT c_name, c_custkey, o_orderkey,
               epoch_us(o_orderdate) AS o_date_us,
               CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM customer, orders, lineitem
        WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                             GROUP BY l_orderkey
                             HAVING sum(CAST(l_quantity AS BIGINT)) > 200)
          AND c_custkey = o_custkey
          AND o_orderkey = l_orderkey
        GROUP BY 1, 2, 3, 4, 5"""),
      scaleNote = "the IN-over-aggregate decorrelates into aggregate-then-semi-join: lineitem partial-aggregates map-side to |orders| quantity sums, the HAVING cut shrinks that to the qualifying-key frame BEFORE any join (the earliest possible reduction — at 100 TB the semi-join side is the rare heavy-order set, small enough for AQE to broadcast), and the semi + fact joins all ride the same l_orderkey/o_orderkey keys so AQE co-plans the exchanges; the outer aggregate is one row per qualifying order — the warehouse-staple 'big spender' report runs as a linear plan with the selective cut applied at the leaf"),

    // ----- E4/SQL surface: the canonical TPC-H Q20 shape --------------
    // "Suppliers with excess promo volume": a NESTED IN — the outer
    // membership test's subquery itself contains an IN against a
    // third table, plus a grouped HAVING cut — completing the
    // decorrelation family (q81 scalar, q187 EXISTS/NOT EXISTS, q197
    // IN-over-aggregate, and now CHAINED membership). Catalyst must
    // fold this into a LINEAR semi-join tree: part's filter
    // broadcast-semi-prunes lineitem, the pruned fact aggregates
    // per (supplier, part) with the HAVING cut, and the surviving
    // supplier keys semi-join supplier — two LeftSemi joins, zero
    // subquery re-execution, no cartesian (PlanSpec-asserted).
    // Quantities BIGINT at birth; threshold 80 per (supplier, part)
    // is SF-robust because lines-per-(part, supplier) is set by the
    // corpus SHAPE, not its size (both dimensions scale with SF):
    // 10/10 suppliers qualify at sf0.001, 59/100 at sf0.01, 63/1000
    // at sf0.1 — non-empty everywhere, selective where the gate runs.
    "q202_tpch_q20_shape" -> Q.onViews("q202", Seq("supplier", "lineitem", "part", "nation"),
      sql = tb => s"""
        SELECT n_name, count(*) AS n_qualified
        FROM ${tb("supplier")} JOIN ${tb("nation")} ON s_nationkey = n_nationkey
        WHERE s_suppkey IN (
          SELECT l_suppkey FROM ${tb("lineitem")}
          WHERE l_partkey IN (SELECT p_partkey FROM ${tb("part")}
                              WHERE p_type = 'PROMO' AND p_size > 25)
          GROUP BY l_suppkey, l_partkey
          HAVING sum(CAST(l_quantity AS BIGINT)) > 80)
        GROUP BY n_name""",
      scaleNote = "chained membership stays a LINEAR plan: the part predicate prunes the fact FIRST (a broadcast semi join — the filtered part-key set is dimension-sized), the per-(supplier, part) aggregate partial-aggregates map-side on the pruned fact, the HAVING cut shrinks it to the qualifying-supplier frame before the outer semi join touches supplier, and nation broadcasts for the final |nations|-row fold; nothing in the nesting depth adds a pass over the fact — the textbook risk (re-running the inner membership per outer row) is exactly what the decorrelation rewrite removes, and AQE can broadcast the shrunken semi sides at any corpus size"),

    // ----- E4/SQL surface: the canonical TPC-H Q22 shape (r13) --------
    // "Global sales opportunity": above-average-balance customers with
    // NO urgent orders — `c_custkey NOT IN (SELECT o_custkey …)` plus
    // the uncorrelated scalar AVG cut. This is the decorrelation
    // family's NULL-TRAP member (after q81 scalar, q187 EXISTS/NOT
    // EXISTS, q197 IN-over-aggregate, q202 nested IN): NOT IN over a
    // nullable key is NOT a plain anti join — one NULL in the subquery
    // makes the predicate UNKNOWN for every outer row and the result
    // EMPTY (the most common correctness trap in warehouse SQL, spec-
    // demonstrated against a planted NULL). o_custkey reads from
    // parquet as a nullable column, so Catalyst cannot strength-reduce
    // the rewrite: it must plan the NULL-AWARE anti join — a distinct
    // physical shape (single-key BroadcastHashJoin LeftAnti with
    // isNullAwareAntiJoin=true) that PlanSpec pins. (Faithful Q22
    // tests "no orders at all", but this corpus gives every customer
    // orders at test SFs; "no urgent orders" keeps the result
    // non-empty — 5/23/25 country rows at sf0.001/0.01/0.1 — with the
    // identical plan shape.) The AVG cut follows the r9 rational rule:
    // never compare against a double average — cross-multiply exact
    // integer cents, cents·n > total, via two scalar subqueries that
    // Catalyst plans as one-row subquery broadcasts.
    "q209_tpch_q22_shape" -> Q.onViews("q209", Seq("customer", "orders"),
      sql = tb => s"""
        WITH cust AS (
          SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS cntrycode,
                 CAST(round(c_acctbal * 100) AS BIGINT) AS cents
          FROM ${tb("customer")}
        )
        SELECT cntrycode,
               CAST(count(*) AS BIGINT) AS numcust,
               CAST(sum(cents) AS BIGINT) AS totacctbal_cents
        FROM cust
        WHERE cents * (SELECT count(*) FROM cust WHERE cents > 0)
              > (SELECT CAST(sum(cents) AS BIGINT) FROM cust
                 WHERE cents > 0)
          AND c_custkey NOT IN (SELECT o_custkey FROM ${tb("orders")}
                                WHERE o_orderpriority = '1-URGENT')
        GROUP BY cntrycode""",
      scaleNote = "the NOT IN plans as ONE null-aware anti join: the priority predicate pushes into the orders scan, the urgent-customer key set is dimension-sized (broadcastable at any corpus — it shrinks the fact to |urgent customers| before shipping), and the null-awareness costs one extra has-null flag on the broadcast side, not a second pass; the scalar AVG cut is two one-row subquery broadcasts over the same |customers| frame (exact integer cents, cross-multiplied — no double average crosses an engine boundary), and the final fold is |nations| rows; at 100 TB the build side must stay the SUBQUERY side — Spark refuses to shuffle a null-aware anti join, so a fact-sized NOT IN list is the one shape to avoid (rewrite to NOT EXISTS when the inner key is provably non-null, which IS a plain anti join — q187's path)"),

    // ----- E4/SQL surface: the canonical TPC-H Q17 shape (r13) --------
    // "Small-quantity-order revenue": lines whose quantity is below
    // 20% of their part's average — the decorrelation pattern the
    // family still lacked after q81 (uncorrelated scalar), q187
    // (EXISTS), q197 (IN-over-aggregate), q202 (nested IN), q209
    // (null-aware NOT IN): a CORRELATED scalar aggregate over the SAME
    // fact the outer query scans. The naive plan re-aggregates
    // lineitem once per outer row; Catalyst must decorrelate into ONE
    // per-partkey aggregate joined back on the key (and with
    // MergeScalarSubqueries, the count and sum subqueries fold into
    // the SAME aggregate) — PlanSpec pins no cartesian, no per-row
    // re-execution, both aggregates two-phase. The 0.2·avg cut follows
    // the r9 rational rule: qty < sum/(5·cnt) cross-multiplies to
    // qty·5·cnt < sum, exact BIGINTs end to end; revenue emits as
    // exact cents (Q17's /7.0 yearly average is the reader's division,
    // never the engine's).
    "q216_tpch_q17_shape" -> Q(
      fn = (s, d) => {
        t(s, d, "part").createOrReplaceTempView("q216_part")
        t(s, d, "lineitem").createOrReplaceTempView("q216_lineitem")
        s.sql("""
          SELECT p_brand,
                 count(*) AS n_lines,
                 CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                   AS BIGINT) AS sum_price_cents
          FROM q216_lineitem, q216_part
          WHERE p_partkey = l_partkey AND p_size < 15
            AND CAST(l_quantity AS BIGINT) * 5
                * (SELECT count(*) FROM q216_lineitem l3
                   WHERE l3.l_partkey = p_partkey)
                < (SELECT CAST(sum(CAST(l2.l_quantity AS BIGINT)) AS BIGINT)
                   FROM q216_lineitem l2 WHERE l2.l_partkey = p_partkey)
          GROUP BY p_brand""")
      },
      sql = Some(TpchQ17OracleSql),
      scaleNote = "decorrelation turns a per-row rescan of the fact into per-partkey aggregates (map-side partial — |parts| rows out of each shuffle) joined back on the very key the outer join already uses, so AQE co-plans the exchanges; Catalyst rewrites the count and sum subqueries independently (MergeScalarSubqueries only merges uncorrelated scalars), so the fact aggregates twice — at 100 TB the tuned spelling pre-joins ONE (sum, count) aggregate manually — REGISTERED as q220 under this oracle verbatim — but the automatic plan is already linear and re-execution-free, which is what this query gates; the p_size predicate pushes into the part scan, and the final fold is |brands| rows"),

    // ----- q220: Q17's TUNED spelling — ONE manual pre-aggregate ------
    // q216 gates what Catalyst does AUTOMATICALLY with the correlated
    // subqueries (two independent rewrites → the fact aggregates
    // twice); this registers the spelling its scaleNote promised for
    // 100 TB: compute (sum, count) per partkey in ONE aggregate,
    // broadcast-or-shuffle it back on the key, and apply the same
    // cross-multiplied cut — one fewer full pass over the fact, byte-
    // identical semantics. The oracle is q216's SQL VERBATIM (the
    // q186/q198/q199 stance: operational spelling, same gate), so the
    // two plans police each other every round; PlanSpec pins exactly
    // TWO lineitem scans here vs q216's three.
    "q220_tpch_q17_preagg" -> Q(
      fn = (s, d) => {
        val li = t(s, d, "lineitem").select(col("l_partkey"),
          expr("CAST(l_quantity AS BIGINT)").as("qty"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
        val per = li.groupBy(col("l_partkey"))
          .agg(sum(col("qty")).as("qsum"), count(lit(1)).as("qcnt"))
        val p = t(s, d, "part").filter(col("p_size") < 15)
          .select(col("p_partkey"), col("p_brand"))
        li.join(p, col("l_partkey") === col("p_partkey"))
          .join(per, "l_partkey")
          .filter(col("qty") * 5 * col("qcnt") < col("qsum"))
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n_lines"),
            sum(col("cents")).cast("long").as("sum_price_cents"))
      },
      sql = Some(TpchQ17OracleSql),
      scaleNote = "the tuned plan: one map-side-partial (sum, count) aggregate of the fact — |parts| rows out of the shuffle — joined back on the partkey the probe join already shuffles on (AQE co-plans, and at dimension-ish part counts the aggregate side broadcasts), then the row-local cross-multiplied cut and the |brands| fold; exactly one extra pass over the fact vs q216's two, which at 100 TB is the whole bill — the shared oracle makes 'same semantics, one fewer scan' a gated theorem instead of a code comment"),

    // ----- E4/SQL surface: the canonical TPC-H Q15 shape (r13) --------
    // "Top supplier": the supplier(s) whose quarter revenue equals the
    // MAXIMUM of a derived aggregate — a scalar subquery OVER an
    // aggregated view, the arg-max-with-ties idiom (faithful Q15 keeps
    // every tied supplier, which a top-1 LIMIT would silently break).
    // The view is referenced twice (probe + max); Catalyst evaluates
    // the max as a one-row subquery and the probe as a normal
    // aggregate-join — PlanSpec pins no cartesian and that revenue is
    // a two-phase aggregate. Revenue is q170's discipline — exact
    // cents × (100 − discount-percent), so the arg-max EQUALITY is an
    // integer compare (a double revenue here would make tie membership
    // engine-dependent, the exact failure Q15 exists to test); the
    // ship-date quarter is a half-open range that pushes into the
    // parquet scan.
    "q219_tpch_q15_shape" -> Q(
      fn = (s, d) => {
        t(s, d, "lineitem").createOrReplaceTempView("q219_lineitem")
        t(s, d, "supplier").createOrReplaceTempView("q219_supplier")
        s.sql("""
          WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                            * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                     AS BIGINT) AS total_rev_e4
            FROM q219_lineitem
            WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-04-01'
            GROUP BY l_suppkey)
          SELECT s_suppkey, s_name, total_rev_e4
          FROM q219_supplier, revenue
          WHERE s_suppkey = supplier_no
            AND total_rev_e4 = (SELECT max(total_rev_e4) FROM revenue)""")
      },
      sql = Some("""
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
                 CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                          * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                   AS BIGINT) AS total_rev_e4
          FROM lineitem
          WHERE l_shipdate >= DATE '1997-01-01'
            AND l_shipdate < DATE '1997-04-01'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_rev_e4
        FROM supplier, revenue
        WHERE s_suppkey = supplier_no
          AND total_rev_e4 = (SELECT max(total_rev_e4) FROM revenue)"""),
      scaleNote = "the revenue view is one map-side-partial aggregate of the date-pruned fact (the half-open range reaches the scan as row-group min/max pruning); the max is a 1-row subquery broadcast and the arg-max filter is a row-local integer compare on the |suppliers|-row frame, so the only data-sized work is the one aggregate — at 100 TB materialize the view once (Q15's original CREATE VIEW intent) when the same quarter serves many reports, which is exactly q185/q208's partial-reuse stance; keeping ties is free here where a global ORDER BY revenue LIMIT 1 would both break ties arbitrarily AND add a sort"),

    // ----- E4/SQL surface: the canonical TPC-H Q2 shape (r14) ---------
    // "Minimum-cost supplier": the decorrelation family's last
    // canonical member after q81 (uncorrelated scalar), q187 (EXISTS),
    // q197 (IN-over-aggregate), q202 (nested IN), q209 (null-aware NOT
    // IN), q216 (correlated agg over the SAME fact): a CORRELATED
    // scalar MIN whose subquery ranges over a MULTI-TABLE JOIN TREE
    // (cost offers ⋈ supplier ⋈ nation ⋈ region), correlated on the
    // outer part key — a distinct Catalyst rewrite from q216's, because
    // the decorrelated aggregate must be computed over the JOINED
    // inner tree (region filter applied INSIDE the min), not over one
    // fact scan. partsupp doesn't exist in this corpus; lineitem's
    // (l_partkey, l_suppkey, price) rows stand in as the cost offers
    // (VERDICT r13 item 1). Arg-MIN-with-ties emission is q219's
    // discipline applied to a correlated min: the equality filter
    // keeps EVERY (part, supplier) at the region minimum — never a
    // top-1 sort — and the compared cost is exact integer cents, so
    // tie membership is engine-independent. DISTINCT collapses
    // repeated identical offers from the same supplier (one supplier
    // may quote the same min price on several lines).
    "q221_tpch_q2_shape" -> Q.onViews("q221", Seq("part", "lineitem", "supplier", "nation", "region"),
      sql = tb => s"""
        SELECT DISTINCT p_partkey, p_name, s_name, n_name,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cost_cents
        FROM ${tb("part")}, ${tb("lineitem")}, ${tb("supplier")}, ${tb("nation")}, ${tb("region")}
        WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'EUROPE' AND p_size < 10
          AND CAST(round(l_extendedprice * 100) AS BIGINT) = (
            SELECT min(CAST(round(l2.l_extendedprice * 100) AS BIGINT))
            FROM ${tb("lineitem")} l2, ${tb("supplier")} s2, ${tb("nation")} n2, ${tb("region")} r2
            WHERE l2.l_partkey = p_partkey
              AND s2.s_suppkey = l2.l_suppkey
              AND s2.s_nationkey = n2.n_nationkey
              AND n2.n_regionkey = r2.r_regionkey
              AND r2.r_name = 'EUROPE')""",
      scaleNote = "decorrelation turns the per-row re-execution of a four-table join into ONE per-partkey min over the region-filtered offer tree, joined back on the very key the outer probe already shuffles on (PlanSpec pins exactly two fact scans — outer probe + decorrelated aggregate — and no cartesian); inside the aggregate the dimension chain (supplier ⋈ nation ⋈ region) broadcasts at any corpus size, the region predicate prunes suppliers BEFORE the fact join, and the min partial-aggregates map-side to |parts| rows; the arg-min equality is a row-local integer compare, so the only data-sized work is two passes over the offers — at 100 TB the region-filtered (partkey → min cost) frame is the natural materialization when many Q2-style lookups share a region, the same partial-reuse stance as q219"),

    // ----- E4/SQL surface: the canonical TPC-H Q19 shape (r14) --------
    // "Discounted revenue": the OR-of-conjunctions join — three
    // brand/type/quantity/size bands, each repeating the
    // p_partkey = l_partkey equi-conjunct and the common
    // l_returnflag = 'N' residual. Nothing else in the catalog
    // exercises DISJUNCTIVE pushdown: the planner must (a) extract
    // the common equality as the JOIN KEY (a hash join, never a BNLJ
    // over the OR), (b) derive each side's disjunction-of-local-
    // predicates and push it into the scan (part prunes to the three
    // brand/type/size bands, lineitem to the quantity/flag bands),
    // and (c) keep the full OR as the residual filter — the
    // partial-pushdown pattern (PlanSpec pins all three). Bands are
    // p_type-keyed stand-ins for Q19's containers (this corpus has
    // no p_container / l_shipmode); revenue is q219's exact
    // cents × (100 − discount-percent) discipline, folded per brand
    // so the gate checks membership of every band.
    "q225_tpch_q19_shape" -> Q.onViews("q225", Seq("part", "lineitem"),
      sql = tb => s"""
        SELECT p_brand,
               count(*) AS n_lines,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                 AS BIGINT) AS revenue_e4
        FROM ${tb("lineitem")}, ${tb("part")}
        WHERE (p_partkey = l_partkey
               AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3',
                               'Brand#4', 'Brand#5')
               AND p_type = 'SMALL' AND p_size BETWEEN 1 AND 10
               AND l_quantity >= 1 AND l_quantity <= 15
               AND l_returnflag = 'N')
           OR (p_partkey = l_partkey
               AND p_brand IN ('Brand#6', 'Brand#7', 'Brand#8',
                               'Brand#9', 'Brand#10')
               AND p_type = 'MEDIUM' AND p_size BETWEEN 1 AND 20
               AND l_quantity >= 10 AND l_quantity <= 25
               AND l_returnflag = 'N')
           OR (p_partkey = l_partkey
               AND p_brand IN ('Brand#11', 'Brand#12', 'Brand#13',
                               'Brand#14', 'Brand#15')
               AND p_type = 'LARGE' AND p_size BETWEEN 1 AND 30
               AND l_quantity >= 20 AND l_quantity <= 35
               AND l_returnflag = 'N')
        GROUP BY p_brand""",
      scaleNote = "the disjunction never reaches the join operator as its KEY: the common p_partkey = l_partkey conjunct factors out as the hash-join equality, each side's OR-of-local-bands pushes into its parquet scan (the part scan reads only the three brand/type/size bands, the lineitem scan only the quantity/flag bands — PushedFilters pinned by PlanSpec), and the residual OR evaluates row-locally on the join's survivors; at 100 TB the pushed lineitem disjunction is the whole game — row-group stats skip everything outside the quantity bands before a single join row materializes — and the filtered part side is dimension-sized, so AQE broadcasts it"),

    // ----- E4/SQL surface: the canonical TPC-H Q13 shape (r14) --------
    // "Customer distribution": the count-of-counts histogram over a
    // LEFT OUTER join whose filter lives in the ON CLAUSE — the one
    // join-semantics member the family still lacked. Q13 exists to
    // test two things nothing else in the catalog gates: (a) an outer
    // join must KEEP customers with zero qualifying orders (the
    // predicate filters the NULLABLE side only — moved to a WHERE it
    // would silently drop the zero class, the classic outer-join
    // rewrite bug), and (b) count(o_orderkey) over the null-extended
    // rows must produce 0, not 1 (count(*) here is the other classic
    // bug). The ON-clause predicate on the non-preserved side IS
    // pushable below the join — PlanSpec pins that it reaches the
    // orders parquet scan as a PushedFilter and never survives as a
    // post-join Filter, while the customer side scans unfiltered.
    // '5-LOW' stands in for Q13's NOT LIKE comment pattern (this
    // corpus has no o_comment); it keeps the zero-order class
    // non-empty at every SF (20/220/2053 customers at
    // sf0.001/0.01/0.1). Double aggregation: per-customer counts,
    // then the |distinct counts|-row distribution.
    "q230_tpch_q13_shape" -> Q.onViews("q230", Seq("customer", "orders"),
      sql = tb => s"""
        SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        FROM (
          SELECT c_custkey,
                 CAST(count(o_orderkey) AS BIGINT) AS c_count
          FROM ${tb("customer")} LEFT OUTER JOIN ${tb("orders")}
            ON c_custkey = o_custkey AND o_orderpriority = '5-LOW'
          GROUP BY c_custkey) c_orders
        GROUP BY c_count""",
      scaleNote = "the ON-clause predicate filters the NULLABLE side, so it pushes all the way into the orders scan (row-group pruning on the priority dictionary) BEFORE the join — the outer join then ships only qualifying orders, and the per-customer count partial-aggregates map-side on the join's own c_custkey partitioning (AQE co-plans the exchange); the second aggregate folds |customers| rows to the |distinct counts|-sized histogram, so the only fact-sized work is the one pruned scan + one shuffle; at 100 TB the customer side stays unfiltered by design (every customer must reach the zero class), which is why the pushdown asymmetry — prune the nullable side, never the preserved side — is the whole plan",
    ),

    // ----- E4/SQL surface: the canonical TPC-H Q7 shape (r14) ---------
    // "Volume shipping": the nation-PAIR disjunction —
    // (n1 = A AND n2 = B) OR (n1 = B AND n2 = A) — whose branches
    // span TWO DIFFERENT dimension tables. q225 (Q19) gated the
    // single-join disjunction; this gates what the planner must do
    // when no single scan can host the OR: derive each side's
    // IMPLIED disjunction (n_name IN {A, B}, per branch union) and
    // push it into BOTH nation scans, then keep the full
    // cross-dimension OR as a row-local residual after the joins —
    // partial pushdown across a join tree, the
    // extract-predicates-within-output-set rewrite nothing else in
    // the catalog exercises. Five-table star otherwise: supplier
    // nation via l_suppkey, customer nation via orders → customer;
    // revenue per (supp_nation, cust_nation, year) in q219's exact
    // cents × (100 − disc); both directions of the pair are non-empty
    // at every SF (NATION_3 ↔ NATION_8).
    "q234_tpch_q7_shape" -> Q.onViews("q234", Seq("lineitem", "orders", "customer", "supplier", "nation"),
      sql = tb => s"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS BIGINT) AS l_year,
               count(*) AS n_lines,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                 AS BIGINT) AS revenue_e4
        FROM ${tb("lineitem")}, ${tb("orders")}, ${tb("customer")}, ${tb("supplier")},
             ${tb("nation")} n1, ${tb("nation")} n2
        WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
          AND c_custkey = o_custkey
          AND n1.n_nationkey = s_nationkey
          AND n2.n_nationkey = c_nationkey
          AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
            OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
        GROUP BY n1.n_name, n2.n_name, year(l_shipdate)""",
      scaleNote = "the derived per-scan disjunctions are the whole plan at 100 TB: each nation scan prunes to the TWO named nations (pushed Or-filter, plan-pinned), which shrinks supplier and customer to the pair's members BEFORE the fact joins — so the fact shuffles only pair-member lines while the un-derivable cross-dimension OR evaluates row-locally on the survivors (a residual over an already-pair-pruned frame, nearly free); the dims broadcast at any corpus size, the fact keys ride l_suppkey/l_orderkey/o_custkey with AQE co-planning, and the fold is |2 directions × years| rows; the anti-pattern this gates against is planning the OR as a post-join filter WITHOUT the derived scans — correct but scanning every nation's lines through three joins first",
    ),

    // ----- E4/SQL surface: the canonical TPC-H Q8 shape (r14) ---------
    // "National market share": the conditional-aggregation ratio —
    // sum(CASE WHEN supplier-nation = target THEN rev END) / sum(rev)
    // per order year, over the region-and-part-filtered market. The
    // join tree is Q5/Q7's star (seven scans, nation twice); what's
    // new is the SHARE pattern: numerator and denominator are the
    // SAME aggregate pass (one CASE branch each — never two scans of
    // the market), and the ratio emits as exact-integer ppm
    // (num·10⁶ DIV den, the r9 rule) beside the exact num/den cents
    // so no double division crosses the engine boundary. The market
    // cuts (r_name on the CUSTOMER side's region, p_type on part)
    // push into their dimension scans; the target-nation test is a
    // row-local CASE on the already-joined frame, NOT a filter —
    // 2000 at sf0.001 proves the zero-share year emits 0, not a
    // dropped group.
    "q235_tpch_q8_shape" -> Q(
      fn = (s, d) => {
        t(s, d, "lineitem").createOrReplaceTempView("q235_lineitem")
        t(s, d, "orders").createOrReplaceTempView("q235_orders")
        t(s, d, "customer").createOrReplaceTempView("q235_customer")
        t(s, d, "supplier").createOrReplaceTempView("q235_supplier")
        t(s, d, "nation").createOrReplaceTempView("q235_nation")
        t(s, d, "region").createOrReplaceTempView("q235_region")
        t(s, d, "part").createOrReplaceTempView("q235_part")
        s.sql("""
          WITH mkt AS (
            SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   CAST(round(l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l_discount * 100) AS BIGINT))
                     AS rev_e4,
                   n1.n_name = 'NATION_3' AS is_target
            FROM q235_lineitem, q235_orders, q235_customer,
                 q235_supplier, q235_part,
                 q235_nation n1, q235_nation n2, q235_region
            WHERE o_orderkey = l_orderkey AND c_custkey = o_custkey
              AND s_suppkey = l_suppkey AND p_partkey = l_partkey
              AND n1.n_nationkey = s_nationkey
              AND n2.n_nationkey = c_nationkey
              AND r_regionkey = n2.n_regionkey
              AND r_name = 'AFRICA' AND p_type = 'SMALL')
          SELECT o_year,
                 count(*) AS n_lines,
                 CAST(sum(CASE WHEN is_target THEN rev_e4 ELSE 0 END)
                   AS BIGINT) AS target_rev_e4,
                 CAST(sum(rev_e4) AS BIGINT) AS total_rev_e4,
                 CAST(sum(CASE WHEN is_target THEN rev_e4 ELSE 0 END)
                      AS DECIMAL(38, 0)) * 1000000
                   DIV CAST(sum(rev_e4) AS DECIMAL(38, 0)) AS share_ppm
          FROM mkt GROUP BY o_year""")
      },
      sql = Some("""
        WITH mkt AS (
          SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                 CAST(round(l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(round(l_discount * 100) AS BIGINT))
                   AS rev_e4,
                 n1.n_name = 'NATION_3' AS is_target
          FROM lineitem, orders, customer, supplier, part,
               nation n1, nation n2, region
          WHERE o_orderkey = l_orderkey AND c_custkey = o_custkey
            AND s_suppkey = l_suppkey AND p_partkey = l_partkey
            AND n1.n_nationkey = s_nationkey
            AND n2.n_nationkey = c_nationkey
            AND r_regionkey = n2.n_regionkey
            AND r_name = 'AFRICA' AND p_type = 'SMALL')
        SELECT o_year,
               count(*) AS n_lines,
               CAST(sum(CASE WHEN is_target THEN rev_e4 ELSE 0 END)
                 AS BIGINT) AS target_rev_e4,
               CAST(sum(rev_e4) AS BIGINT) AS total_rev_e4,
               CAST(CAST(sum(CASE WHEN is_target THEN rev_e4 ELSE 0 END)
                   AS HUGEINT) * 1000000
                 // CAST(sum(rev_e4) AS HUGEINT) AS BIGINT) AS share_ppm
        FROM mkt GROUP BY o_year"""),
      scaleNote = "one pass over the market: numerator and denominator are CASE branches of the SAME two-phase aggregate (the naive spelling — a target-filtered subquery joined back to the total — would scan the market twice and re-join on year), the part cut prunes the fact via its broadcast join (dimension-sized filtered part side), the region cut prunes customers before the order join, and the year fold is |years| rows; at 100 TB the p_type predicate is the big lever (it reaches the part scan and shrinks the probe side of every subsequent join), the supplier-nation test stays a row-local CASE so adding target nations is free (one CASE branch each, same single pass), and the exact num/den emission means ANY downstream share convention (percent, bps, ppm) is the reader's division, never a re-aggregation",
    ),

    // ----- E4/SQL surface: the canonical TPC-H Q11 shape (r14) --------
    // "Important stock": groups whose aggregated value exceeds a
    // threshold derived from the GLOBAL aggregate — HAVING against
    // scalar subqueries that re-aggregate the same joined tree.
    // Distinct from q219 (scalar max over a named view, equality) in
    // where the scalars land: here Catalyst must plan a Filter ABOVE
    // the final HashAggregate whose condition references one-row
    // subqueries whose own plans repeat the join — and
    // MergeScalarSubqueries must fold the |parts| count and the total
    // into ONE shared subquery tree (Subquery + ReusedSubquery, both
    // plan-pinned along with the filter-above-aggregate placement and
    // exactly two fact scans). partsupp is stood in by lineitem's
    // (partkey, price,
    // qty) with supplier via l_suppkey (the q221 stance); NATION_12 is
    // the one nation with suppliers at every SF. Q11's FRACTION
    // (0.0001/SF — it shrinks as data grows) cannot be a fixed literal
    // across SFs, so the threshold is the scale-free equivalent:
    // value > 3× the average per-part value, spelled
    // value·|parts| > total·3 with |parts| and total as the two
    // scalars — exact integer cents cross-multiplied per the r9
    // rational rule, no double division crossing an engine boundary.
    // Selects 4/15/409 of 190/541/13719 parts at sf0.001/0.01/0.1.
    "q232_tpch_q11_shape" -> Q(
      fn = (s, d) => {
        t(s, d, "lineitem").createOrReplaceTempView("q232_lineitem")
        t(s, d, "supplier").createOrReplaceTempView("q232_supplier")
        t(s, d, "nation").createOrReplaceTempView("q232_nation")
        s.sql("""
          SELECT l_partkey,
                 CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                          * CAST(l_quantity AS BIGINT)) AS BIGINT)
                   AS value_cents
          FROM q232_lineitem, q232_supplier, q232_nation
          WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
            AND n_name = 'NATION_12'
          GROUP BY l_partkey
          HAVING CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                     * CAST(l_quantity AS BIGINT)) AS DECIMAL(38, 0))
                 * (SELECT count(DISTINCT l_partkey)
                    FROM q232_lineitem, q232_supplier, q232_nation
                    WHERE l_suppkey = s_suppkey
                      AND s_nationkey = n_nationkey
                      AND n_name = 'NATION_12')
               > (SELECT CAST(sum(CAST(round(l_extendedprice * 100)
                                       AS BIGINT)
                                  * CAST(l_quantity AS BIGINT))
                    AS DECIMAL(38, 0))
                  FROM q232_lineitem, q232_supplier, q232_nation
                  WHERE l_suppkey = s_suppkey
                    AND s_nationkey = n_nationkey
                    AND n_name = 'NATION_12') * 3""")
      },
      sql = Some("""
        SELECT l_partkey,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * CAST(l_quantity AS BIGINT)) AS BIGINT)
                 AS value_cents
        FROM lineitem, supplier, nation
        WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
          AND n_name = 'NATION_12'
        GROUP BY l_partkey
        HAVING sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                   * CAST(l_quantity AS BIGINT))
               * (SELECT count(DISTINCT l_partkey)
                  FROM lineitem, supplier, nation
                  WHERE l_suppkey = s_suppkey
                    AND s_nationkey = n_nationkey
                    AND n_name = 'NATION_12')
             > (SELECT CAST(sum(CAST(round(l_extendedprice * 100)
                                     AS BIGINT)
                                * CAST(l_quantity AS BIGINT)) AS HUGEINT)
                FROM lineitem, supplier, nation
                WHERE l_suppkey = s_suppkey
                  AND s_nationkey = n_nationkey
                  AND n_name = 'NATION_12') * 3"""),
      scaleNote = "every aggregate tree is the same linear plan — nation broadcasts to supplier (|suppliers in nation| keys, itself broadcastable), the fact joins on the broadcast key with the nation cut applied BEFORE any shuffle, and the per-partkey sum partial-aggregates map-side; MergeScalarSubqueries folds the |parts| count and the total into ONE shared 1-row subquery (the second reference is a ReusedSubquery, and its dimension broadcasts are ReusedExchange — both pinned), so Catalyst's automatic answer is exactly TWO passes over the pruned fact and the HAVING cut is a row-local integer compare on the |parts|-row frame (at 100 TB make it ONE pass by rolling the per-partkey frame up to (count, total) manually, q220's preagg stance); the 3×-average threshold is Q11's fraction made scale-free, so the slice stays selective and non-empty at every SF instead of emptying as |parts| grows",
    ),

    // ----- E4/SQL surface: the canonical TPC-H Q9 shape (r15) ---------
    // "Product-type profit": the ONE canonical aggregate member the
    // catalog was missing (VERDICT r14 item 1) — a computed measure
    // combining columns from TWO fact-grain measure sources in one
    // fold. Every other aggregate in the catalog folds measures born
    // on a single fact; Q9's amount = revenue − supplycost·qty makes
    // the planner join a SECOND per-(partkey, suppkey) measure source
    // onto the probe on a COMPOSITE key BEFORE the (nation, year)
    // rollup ever sees a row. partsupp doesn't exist in this corpus,
    // so the cost source is derived the q221 way: lineitem's min
    // extendedprice-cents per (l_partkey, l_suppkey) stands in for
    // ps_supplycost — which makes the measure join fact-to-aggregate
    // on the exact key both sides already shuffle on. All arithmetic
    // is exact integers: rev in e4 units (price-cents × (100 −
    // disc-pct)), cost·qty lifted to e4 by ×100 with l_quantity an
    // exact integer cast, so the profit fold never crosses an engine
    // boundary as a double. The '%widget%' cut is Q9's '%green%' on
    // this corpus's p_name vocabulary (27/190 parts at sf0.001).
    "q238_tpch_q9_shape" -> Q.onViews("q238", Seq("lineitem", "orders", "supplier", "nation", "part"),
      sql = tb => s"""
        WITH cost AS (
          SELECT l_partkey AS ck_part, l_suppkey AS ck_supp,
                 min(CAST(round(l_extendedprice * 100) AS BIGINT))
                   AS cost_cents
          FROM ${tb("lineitem")} GROUP BY 1, 2)
        SELECT n_name AS nation,
               CAST(year(o_orderdate) AS BIGINT) AS o_year,
               count(*) AS n_lines,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(round(l_discount * 100) AS BIGINT))
                        - cost_cents * CAST(l_quantity AS BIGINT) * 100)
                 AS BIGINT) AS profit_e4
        FROM ${tb("lineitem")}, ${tb("orders")}, ${tb("supplier")}, ${tb("nation")}, ${tb("part")}, cost
        WHERE o_orderkey = l_orderkey AND s_suppkey = l_suppkey
          AND s_nationkey = n_nationkey AND p_partkey = l_partkey
          AND ck_part = l_partkey AND ck_supp = l_suppkey
          AND p_name LIKE '%widget%'
        GROUP BY 1, 2""",
      scaleNote = "the measure join is the plan's center of gravity and it is already optimal: the cost source partial-aggregates map-side to |(part, supp)| rows and joins the probe on the SAME (l_partkey, l_suppkey) composite both sides shuffle on (PlanSpec pins exactly two fact scans — probe + cost fold — no cartesian, dims broadcast), so the second measure costs one extra pass + one co-keyed exchange, never a re-execution per row; the '%widget%' cut broadcasts through the part join and prunes the PROBE before its shuffle but deliberately NOT the cost fold (supplycost exists for every part, Q9's semantics) — at 100 TB the cost frame is partsupp-sized (|parts|×|supps per part|, ~1e4 smaller than the fact) and is the natural materialization when many Q9-style reports share it, q219/q221's partial-reuse stance; the (nation, year) rollup is |nations|×|years| rows off a map-side partial"),

    // ----- E4/SQL surface: the canonical TPC-H Q3 shape (r15) ---------
    // Top-k ON the aggregated measure — the most common interactive
    // warehouse query, and the one ordering member nothing in the
    // catalog exercised (VERDICT r14 item 2): q16 takes top-k on a
    // RAW column, q13 per-group top-k via window; here the ORDER BY
    // key is the aggregate itself, so the plan question is whether
    // TakeOrderedAndProject sits ABOVE the final HashAggregate (a
    // bounded heap over the |groups| frame) or the engine pays a
    // global sort of every group. Q3's "urgent unshipped orders":
    // revenue per order still unshipped at the cut date, BUILDING
    // segment, top 10 by revenue with the deterministic l_orderkey
    // tie-break (ORDER BY an aggregate alone is not a total order —
    // ties would make LIMIT nondeterministic across engines).
    "q239_tpch_q3_shape" -> Q(
      fn = (s, d) => {
        t(s, d, "customer").createOrReplaceTempView("q239_customer")
        t(s, d, "orders").createOrReplaceTempView("q239_orders")
        t(s, d, "lineitem").createOrReplaceTempView("q239_lineitem")
        s.sql("""
          SELECT l_orderkey,
                 unix_micros(o_orderdate) AS o_date_us,
                 CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                          * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                   AS BIGINT) AS revenue_e4
          FROM q239_customer, q239_orders, q239_lineitem
          WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
            AND c_mktsegment = 'BUILDING'
            AND o_orderdate < TIMESTAMP '1998-07-01'
            AND l_shipdate > TIMESTAMP '1998-07-01'
          GROUP BY 1, 2
          ORDER BY revenue_e4 DESC, l_orderkey
          LIMIT 10""")
      },
      sql = Some("""
        SELECT l_orderkey,
               epoch_us(o_orderdate::TIMESTAMP) AS o_date_us,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                 AS BIGINT) AS revenue_e4
        FROM customer, orders, lineitem
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-07-01'
          AND l_shipdate > TIMESTAMP '1998-07-01'
        GROUP BY 1, 2
        ORDER BY revenue_e4 DESC, l_orderkey
        LIMIT 10"""),
      scaleNote = "the cut is a TakeOrderedAndProject ABOVE the final HashAggregate (PlanSpec-pinned, with NO Sort anywhere above the aggregate): every partition keeps a 10-row heap of its groups and the driver merges |partitions|×10 rows, so the ordering cost is O(groups·log 10) row-local work regardless of corpus size — the global sort a naive ORDER BY would pay is the difference between touching |groups| rows once and shuffling them all to one task; upstream is Q5's star discipline (both date predicates reach their scans as row-group pruning, the segment cut prunes customers before the order join, the aggregate partial-folds map-side on l_orderkey), so the whole interactive query is one fact pass + a heap"),

    // ----- E4/SQL surface: the canonical TPC-H Q10 shape (r15) --------
    // Q3's sibling at CUSTOMER grain — top-k on the aggregate where
    // the group key is an entity (who to call about returns), not an
    // order: returned-line revenue per customer over one quarter,
    // top 20 with the c_custkey tie-break. Registered separately from
    // q239 because the grain changes the plan's risk: |customers| is
    // dimension-sized where |orders in window| shrinks with the date
    // cut, so THIS is the shape where skipping the heap for a global
    // sort actually hurts (sorting every customer group to read 20),
    // and where the group-by carries descriptive columns (c_name,
    // n_name) that must ride the aggregate key, not a post-join.
    "q240_tpch_q10_shape" -> Q.onViews("q240", Seq("customer", "orders", "lineitem", "nation"),
      sql = tb => s"""
        SELECT c_custkey, c_name, n_name,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                 AS BIGINT) AS revenue_e4
        FROM ${tb("customer")}, ${tb("orders")}, ${tb("lineitem")}, ${tb("nation")}
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND c_nationkey = n_nationkey
          AND l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1999-01-01'
          AND o_orderdate < TIMESTAMP '1999-04-01'
        GROUP BY 1, 2, 3
        ORDER BY revenue_e4 DESC, c_custkey
        LIMIT 20""",
      scaleNote = "same heap-above-aggregate contract as q239 (TakeOrderedAndProject over the final HashAggregate, PlanSpec-pinned) but at the grain where it matters most: the group frame is |active customers| — far too big to single-task sort, trivially cheap to heap — and the half-open quarter reaches the orders scan as row-group min/max pruning so the fact pass touches one quarter's rows; the descriptive columns (c_name, n_name) ride the group key (functionally dependent on c_custkey — zero extra groups, saves the post-limit join a 100 TB plan would otherwise re-shuffle for), nation broadcasts, and the returnflag cut prunes lineitem at its scan"),

    // ----- E4/SQL surface: the canonical TPC-H Q4 shape (r15) ---------
    // The EXISTS-then-COUNT member that completes the TPC-H canon's
    // decorrelation story from the AGGREGATION side: q187 decorrelates
    // EXISTS/NOT EXISTS as a row filter; Q4 counts the survivors per
    // category, so the semi join must land BELOW the aggregate and
    // the correlated non-equi conjunct (a late line: shipped > 60
    // days after ordering — the corpus's stand-in for Q4's
    // commitdate < receiptdate) rides the semi join as a residual,
    // never a re-executed subquery. 43/60 quarter orders qualify at
    // sf0.001 — selective, not vacuous.
    "q244_tpch_q4_shape" -> Q.onViews("q244", Seq("orders", "lineitem"),
      sql = tb => s"""
        SELECT o_orderpriority, count(*) AS order_count
        FROM ${tb("orders")}
        WHERE o_orderdate >= TIMESTAMP '1999-07-01'
          AND o_orderdate < TIMESTAMP '1999-10-01'
          AND EXISTS (
            SELECT 1 FROM ${tb("lineitem")}
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        GROUP BY 1""",
      scaleNote = "the EXISTS decorrelates to ONE LeftSemi hash join on o_orderkey with the 60-day lateness test as the join's residual condition (plan-pinned: semi join present, no cartesian, no per-row re-execution), so the whole query is quarter-pruned orders ⋈ semi lineitem + a 5-row priority fold; at 100 TB the quarter cut reaches the orders scan as row-group pruning and the semi join's build side is the quarter's orders — the lineitem side streams, keeps nothing, and the aggregate is a map-side partial over ≤5 groups"),

    // ----- E4/SQL surface: the canonical TPC-H Q6 shape (r15) ---------
    // The forecasting-revenue-change scan: no join at all — the
    // simplest member of the canon, registered because its entire
    // value IS the pushdown story: three predicates (date range,
    // discount band, quantity cap) must ALL reach the parquet scan,
    // and the answer is one map-side fold of price×discount in exact
    // e4 integers. The discount band compares INTEGER percent
    // (round(l_discount·100) BETWEEN 5 AND 7) — never a double
    // BETWEEN across an engine boundary.
    "q245_tpch_q6_shape" -> Q.onViews("q245", Seq("lineitem"),
      sql = tb => s"""
        SELECT count(*) AS n_lines,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * CAST(round(l_discount * 100) AS BIGINT))
                 AS BIGINT) AS revenue_e4
        FROM ${tb("lineitem")}
        WHERE l_shipdate >= TIMESTAMP '1999-01-01'
          AND l_shipdate < TIMESTAMP '2000-01-01'
          AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
          AND l_quantity < 24""",
      scaleNote = "the canonical scan-bound query: the date range and quantity cap push into the parquet scan as row-group min/max pruning (plan-pinned) and the whole answer is a 1-row map-side partial — zero shuffles of data, one of partials; the discount band is computed (round ×100) so it stays a post-scan codegen filter, the documented cost of exact integer semantics — at 100 TB the date predicate is the lever (a year of a decade-long table is ~10% of row groups) and this query IS the yardstick for scan throughput every engine bench leads with"),

    // ----- E4/SQL surface: the canonical TPC-H Q12 shape (r15) --------
    // Shipping-priority audit: the two-branch CONDITIONAL COUNT over a
    // fact-fact join — Q8/q235 proved conditional SUMS on one fact's
    // measure; Q12's fold counts by a predicate on the OTHER side of
    // the join (o_orderpriority), so the CASE must ride the joined
    // row, and both branches fold in the single pass (never two
    // priority-filtered scans). l_returnflag ∈ (R, N) stands in for
    // Q12's two ship modes (this corpus has no l_shipmode).
    "q246_tpch_q12_shape" -> Q.onViews("q246", Seq("orders", "lineitem"),
      sql = tb => s"""
        SELECT l_returnflag,
               CAST(sum(CASE WHEN o_orderpriority IN
                   ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
                 AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority NOT IN
                   ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
                 AS low_line_count
        FROM ${tb("orders")}, ${tb("lineitem")}
        WHERE o_orderkey = l_orderkey
          AND l_returnflag IN ('R', 'N')
          AND l_shipdate >= TIMESTAMP '1999-01-01'
          AND l_shipdate < TIMESTAMP '2000-01-01'
        GROUP BY 1""",
      scaleNote = "one pass, one join: the returnflag IN and the year range prune lineitem AT ITS SCAN before the o_orderkey shuffle, both priority branches are CASE columns of the same two-phase aggregate (a priority-filtered double-scan would pay the join twice), and the group frame is 2 rows; at 100 TB the join is the bill — co-locate it by bucketing both tables on the order key (q170's layout) and the query degenerates to a zipper merge + map-side fold with zero exchanges"),

    // ----- E4/SQL surface: the canonical TPC-H Q14 shape (r15) --------
    // Promotion-effect share: the SCALAR conditional-share member —
    // q235 computes shares per group; Q14's readout is ONE row where
    // the numerator predicate lives on the joined DIMENSION attribute
    // (p_name's promo class), so the part join must broadcast and the
    // share folds num and den in the same single aggregate. Exact
    // e4 integers + exact ppm (the r9 rational rule).
    "q247_tpch_q14_shape" -> Q(
      fn = (s, d) => {
        t(s, d, "lineitem").createOrReplaceTempView("q247_lineitem")
        t(s, d, "part").createOrReplaceTempView("q247_part")
        s.sql("""
          SELECT count(*) AS n_lines,
                 CAST(sum(CASE WHEN p_name LIKE '%widget%'
                     THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                          * (100 - CAST(round(l_discount * 100) AS BIGINT))
                     ELSE 0 END) AS BIGINT) AS promo_rev_e4,
                 CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                          * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                   AS BIGINT) AS total_rev_e4,
                 CAST(sum(CASE WHEN p_name LIKE '%widget%'
                     THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                          * (100 - CAST(round(l_discount * 100) AS BIGINT))
                     ELSE 0 END) AS DECIMAL(38, 0)) * 1000000
                   DIV CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                     AS DECIMAL(38, 0)) AS promo_ppm
          FROM q247_lineitem, q247_part
          WHERE l_partkey = p_partkey
            AND l_shipdate >= TIMESTAMP '1999-09-01'
            AND l_shipdate < TIMESTAMP '1999-10-01'""")
      },
      sql = Some("""
        SELECT count(*) AS n_lines,
               CAST(sum(CASE WHEN p_name LIKE '%widget%'
                   THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(round(l_discount * 100) AS BIGINT))
                   ELSE 0 END) AS BIGINT) AS promo_rev_e4,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                 AS BIGINT) AS total_rev_e4,
               CAST(
                 CAST(sum(CASE WHEN p_name LIKE '%widget%'
                     THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                          * (100 - CAST(round(l_discount * 100) AS BIGINT))
                     ELSE 0 END) AS HUGEINT) * 1000000
                 // CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                   AS HUGEINT)
                 AS BIGINT) AS promo_ppm
        FROM lineitem, part
        WHERE l_partkey = p_partkey
          AND l_shipdate >= TIMESTAMP '1999-09-01'
          AND l_shipdate < TIMESTAMP '1999-10-01'"""),
      scaleNote = "the month cut reaches the lineitem scan, part BROADCASTS (dimension-sized — plan-pinned, so the promo test is a row-local LIKE on the joined row, never a second scan or a filtered-subquery-joined-back), and num/den/count fold in ONE map-side-partial aggregate to a single row; the exact num/den emission beside the ppm means any share convention downstream is the reader's division — at 100 TB this is a one-fact-pass query whose only exchange carries 1-row partials"),

    // ----- E4/SQL surface: the canonical TPC-H Q16 shape (r15) --------
    // Supplier-relationship count: COUNT(DISTINCT) per multi-attribute
    // dimension group ABOVE an anti join — the canon's last member,
    // and the only one whose aggregate is a distinct-count keyed on
    // dimension attributes (brand, type, size) while the counted key
    // (the supplier) must first survive a NOT IN blacklist. The
    // blacklist subquery is non-nullable (s_suppkey), so Catalyst
    // plans a plain LeftAnti (q209 covered the null-aware trap);
    // supplier offers derive from lineitem the q221 way (no partsupp).
    "q248_tpch_q16_shape" -> Q.onViews("q248", Seq("part", "lineitem", "supplier"),
      sql = tb => s"""
        SELECT p_brand, p_type, p_size,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM ${tb("part")}, ${tb("lineitem")}
        WHERE p_partkey = l_partkey
          AND p_brand <> 'Brand#7'
          AND p_size IN (1, 4, 9, 16, 25, 36, 49)
          AND l_suppkey NOT IN (
            SELECT s_suppkey FROM ${tb("supplier")} WHERE s_name LIKE '%7')
        GROUP BY 1, 2, 3""",
      scaleNote = "the brand/size cuts prune PART at its scan and broadcast into the fact, the blacklist is a broadcast anti join (|suppliers|-row build — plan-pinned no cartesian), and the distinct-count runs as the standard two-exchange expand-free plan: partial distinct on (attrs, suppkey) collapses duplicate offers map-side BEFORE the attrs shuffle, then the final fold counts survivors — at 100 TB that first partial is what keeps the exchange offer-sized rather than fact-sized, and swapping count(DISTINCT) for approx_count_distinct (q43's HLL) makes the whole report one pass when ±2% suffices, the q203→q210 stance"),

    // ----- E5: range (theta) join — events self-join ------------------
    "q09_range_join_events" -> Q(
      fn = (s, d) => {
        val e  = t(s, d, "events")
        val e1 = e.select(col("user_id"), col("ts").as("ts1"))
        val e2 = e.select(col("user_id").as("user_id2"), col("ts").as("ts2"))
        e1.join(e2,
            col("user_id") === col("user_id2") &&
            col("ts2") > col("ts1") &&
            col("ts2") <= col("ts1") + expr("INTERVAL 5 MINUTES"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_follow_events"))
      },
      sql = Some(FollowEventsSql),
      scaleNote = "equi-key user_id makes this a hash/SMJ join with the range as residual — never a cartesian; at 100 TB add a coarse time-bucket key to bound per-key fan-out"),

    // ----- E5: the time-bucket scale path q09's note promises ---------
    // Same result as q09 through operators.BinnedRangeJoin: a synthetic
    // 5-minute bin column turns the interval predicate into a plain
    // equi-join on (user_id, bin), bounding per-group fan-out even when
    // one user dominates (the residual stays a filter, never a loop).
    "q74_range_join_binned" -> Q(
      fn = (s, d) => {
        val e = t(s, d, "events")
        val points = e.select(col("user_id").as("user_id2"), col("ts").as("ts2"))
        val intervals = e.select(col("user_id"), col("ts").as("ts1"))
          .withColumn("hi", col("ts1") + expr("INTERVAL 5 MINUTES"))
        graft.operators.BinnedRangeJoin.join(
            points, "ts2",
            intervals, "ts1", "hi",
            equi = Seq("user_id2" -> "user_id"),
            binMicros = 5L * 60 * 1000 * 1000,
            residual = col("ts2") > col("ts1") && col("ts2") <= col("hi"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_follow_events"))
      },
      sql = Some(FollowEventsSql),
      scaleNote = "each interval replicates into ≤2 bins (bin = interval length); the join shuffles once on (user_id, bin) with bounded groups — no per-key quadratic blowup, no nested loop, and identical output to q09 (same oracle row)"),

    // ----- E6: exact count distinct -----------------------------------
    "q10_count_distinct" -> Q(
      fn = (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            countDistinct(col("l_partkey")).as("n_parts"),
            countDistinct(col("l_suppkey")).as("n_supps"),
            count(lit(1)).as("n_rows")),
      sql = Some("""
        SELECT l_returnflag,
               count(DISTINCT l_partkey) AS n_parts,
               count(DISTINCT l_suppkey) AS n_supps,
               count(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag"""),
      scaleNote = "planned as expand + two-phase agg; at 100 TB prefer approx_count_distinct (HLL, no expand) when ±2% is acceptable"),

    // ----- E7: rollup ---------------------------------------------------
    "q11_rollup_revenue" -> Q(
      fn = (s, d) => {
        nationLines(s, d)
          .withColumn("o_year", year(col("o_orderdate")).cast("long"))
          .rollup(col("n_name"), col("o_year"))
          .agg(sum(revenue).as("revenue"))
      },
      sql = Some("""
        SELECT n_name, o_year,
               sum(l_extendedprice * (1.0 - l_discount)) AS revenue
        FROM (SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
                     l_extendedprice, l_discount
              FROM lineitem
              JOIN orders   ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation   ON c_nationkey = n_nationkey)
        GROUP BY ROLLUP (n_name, o_year)"""),
      scaleNote = "rollup = Expand(3 projections) over one shuffle — cheaper than 3 separate aggs; dims broadcast"),

    // ----- E7: cube ------------------------------------------------------
    "q12_cube_qty" -> Q(
      fn = (s, d) =>
        t(s, d, "lineitem")
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(col("l_quantity")).as("sum_qty"),
               count(lit(1)).as("n")),
      sql = Some("""
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty, count(*) AS n
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)"""),
      scaleNote = "cube expands 4 grouping sets before the shuffle; fine for low-cardinality keys, use explicit GROUPING SETS for wide cubes"),

    // ----- E8/E9: top-k per group (ranking window) ----------------------
    "q13_topk_per_group" -> Q(
      fn = (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, d, "orders")
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      },
      sql = Some("""
        SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 CAST(row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
          FROM orders) WHERE rn <= 3"""),
      scaleNote = "rank-limit pushes into the shuffle as a per-partition top-k (WindowGroupLimit in Spark 3.5+/4.x) — never materializes full per-group sorts"),

    // ----- E8: analytic window with running frame ------------------------
    "q14_running_revenue" -> Q(
      fn = (s, d) => {
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // decimal terms: window sums are NOT sequentially accumulated
        // everywhere (DuckDB uses segment-tree aggregation), so double
        // running sums differ in the last ulp between engines; decimal
        // addition is exact and association-independent. Output is
        // BIGINT fixed-point in 10^-4 units: revenue terms have
        // exactly 4 decimal places (2-decimal price × 2-decimal
        // discount factor), so sum*10000 is integral and the long
        // cast is lossless — NO rounding step anywhere (engines
        // disagree on decimal scale-down: Spark rounds HALF_UP,
        // DuckDB truncates), and the type-sensitive comparison hash
        // accepts integers where it rejects DECIMAL columns.
        t(s, d, "lineitem")
          .withColumn("running_rev_e4",
            (sum(revenue.cast("decimal(18,6)")).over(w)
              .cast("decimal(18,6)") * 10000).cast("long"))
          .select(col("l_suppkey"), col("l_orderkey"),
            col("l_linenumber").cast("long").as("l_linenumber"), col("running_rev_e4"))
      },
      sql = Some("""
        SELECT l_suppkey, l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
               CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) OVER (
                 PARTITION BY l_suppkey
                 ORDER BY l_shipdate, l_orderkey, l_linenumber
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,6)) * 10000
                 AS BIGINT) AS running_rev_e4
        FROM lineitem"""),
      scaleNote = "one shuffle on l_suppkey + in-partition sort; running frame is O(1) per row; decimal accumulation keeps the running values engine- and association-independent, BIGINT-cents output is hash-portable"),

    // ----- E8: lag/lead ---------------------------------------------------
    "q15_lag_orders" -> Q(
      fn = (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        t(s, d, "orders")
          .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
          .select(col("o_custkey"), col("o_orderkey"),
            datediff(col("o_orderdate"), col("prev_date")).cast("long")
              .as("days_since_prev"))
      },
      sql = Some("""
        SELECT o_custkey, o_orderkey,
               CAST(date_diff('day',
                 lag(o_orderdate, 1) OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey),
                 o_orderdate) AS BIGINT) AS days_since_prev
        FROM orders"""),
      scaleNote = "single window shuffle; lag is frame-free so whole-stage codegen keeps it in one pass"),

    // ----- E9: global sort + limit ----------------------------------------
    "q16_top10_orders" -> Q(
      fn = (s, d) =>
        t(s, d, "orders")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(10)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      sql = Some("""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""),
      scaleNote = "orderBy+limit plans as TakeOrderedAndProject: per-partition top-10 then driver merge — no global sort ever runs"),

    // ----- E10: set operations ---------------------------------------------
    "q17_set_ops" -> Q(
      fn = (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders")
        val building = c.filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"))
        val bigSpenders = o.filter(col("o_totalprice") > 300000.0)
          .select(col("o_custkey").as("c_custkey")).distinct()
        (building.union(bigSpenders).distinct())
          .except(building.intersect(bigSpenders))
      },
      sql = Some("""
        (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         UNION
         SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000.0)
        EXCEPT
        (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         INTERSECT
         SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000.0)"""),
      scaleNote = "symmetric difference via union/intersect/except; all hash-based, one shuffle per op on the single key column"),

    // ----- E13: string scalar functions --------------------------------------
    "q18_string_funcs" -> Q(
      fn = (s, d) =>
        t(s, d, "part")
          .filter(col("p_size") < 10)
          .select(
            col("p_partkey"),
            upper(col("p_name")).as("up_name"),
            length(col("p_name")).cast("long").as("name_len"),
            regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"),
            concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
            substring(col("p_name"), 1, 5).as("name5"),
            levenshtein(col("p_brand"), lit("Brand#10")).cast("long").as("brand_dist"),
            trim(lower(col("p_type"))).as("type_lc")),
      sql = Some("""
        SELECT p_partkey,
               upper(p_name) AS up_name,
               CAST(length(p_name) AS BIGINT) AS name_len,
               regexp_extract(p_name, '^(\w+)', 1) AS first_word,
               concat_ws('-', p_brand, p_type) AS brand_type,
               substring(p_name, 1, 5) AS name5,
               CAST(levenshtein(p_brand, 'Brand#10') AS BIGINT) AS brand_dist,
               trim(lower(p_type)) AS type_lc
        FROM part WHERE p_size < 10"""),
      scaleNote = "all codegen'd scalar expressions in the scan stage; zero shuffles"),

    // ----- E14: date/time scalar functions ------------------------------------
    "q19_date_funcs" -> Q(
      fn = (s, d) =>
        t(s, d, "orders")
          .groupBy(
            year(col("o_orderdate")).cast("long").as("o_year"),
            month(col("o_orderdate")).cast("long").as("o_month"))
          .agg(
            count(lit(1)).as("n_orders"),
            min(col("o_orderdate").cast("date")).as("first_day"),
            max(col("o_orderdate").cast("date")).as("last_day"),
            datediff(max(col("o_orderdate")), min(col("o_orderdate")))
              .cast("long").as("span_days")),
      sql = Some("""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               CAST(month(o_orderdate) AS BIGINT) AS o_month,
               count(*) AS n_orders,
               CAST(min(o_orderdate) AS DATE) AS first_day,
               CAST(max(o_orderdate) AS DATE) AS last_day,
               CAST(date_diff('day', min(o_orderdate), max(o_orderdate)) AS BIGINT) AS span_days
        FROM orders GROUP BY 1, 2"""),
      scaleNote = "group keys derived in the scan stage; dates (not timestamps) in output avoid TZ ambiguity across engines"),

    // ----- E15: math scalar functions -------------------------------------------
    "q20_math_funcs" -> Q(
      fn = (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_linenumber").cast("long").as("l_linenumber"))
          .agg(
            sum(floor(col("l_extendedprice")).cast("double")).as("sum_floor_price"),
            sum(ceil(col("l_tax") * 100.0).cast("double")).as("sum_ceil_tax"),
            sum(abs(col("l_discount") - 0.05)).as("sum_abs_disc"),
            avg(pow(col("l_quantity"), 2.0)).as("avg_qty_sq"),
            sum(log(col("l_extendedprice"))).as("sum_ln_price")),
      sql = Some("""
        SELECT CAST(l_linenumber AS BIGINT) AS l_linenumber,
               sum(CAST(floor(l_extendedprice) AS DOUBLE)) AS sum_floor_price,
               sum(CAST(ceil(l_tax * 100.0) AS DOUBLE)) AS sum_ceil_tax,
               sum(abs(l_discount - 0.05)) AS sum_abs_disc,
               avg(pow(l_quantity, 2.0)) AS avg_qty_sq,
               sum(ln(l_extendedprice)) AS sum_ln_price
        FROM lineitem GROUP BY 1"""),
      scaleNote = "scalar math fused into the scan stage by whole-stage codegen; 7 output groups"),

    // ----- E16: JSON extraction ----------------------------------------------------
    "q21_json_extract" -> Q(
      fn = (s, d) =>
        t(s, d, "events")
          // from_json with an explicit schema: ONE parse per row (each
          // get_json_object call re-parses the document)
          .select(col("event_type"),
            from_json(col("props"),
              org.apache.spark.sql.types.StructType.fromDDL("k LONG"))
              .getField("k").as("k"))
          .groupBy(col("event_type"))
          .agg(sum(col("k")).as("k_sum"),
               max(col("k")).as("k_max"),
               count(lit(1)).as("n")),
      sql = Some("""
        SELECT event_type,
               -- DuckDB sum(BIGINT) widens to HUGEINT (int128); the driver's
               -- hash gate is type-sensitive, so pin the oracle back to int64
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
               max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max,
               count(*) AS n
        FROM events GROUP BY event_type"""),
      scaleNote = "single from_json parse per row fused into the scan stage; schema'd extraction avoids re-parsing per extracted field"),

    // ----- E16: VariantType shredding (Spark 4 semi-structured) -----
    // q21 parses to a FIXED struct schema; real event payloads are
    // heterogeneous and schema-on-read. VariantType is Spark 4's
    // answer: parse_json ONCE into a binary variant, then typed
    // variant_get extractions navigate the encoded tree (nested
    // object, array index) without re-parsing text per field. The
    // nested payload is constructed deterministically from the raw
    // columns, so the DuckDB oracle computes the same aggregates from
    // first principles — any encode/shred defect hash-mismatches.
    "q125_variant_shred" -> Q(
      fn = (s, d) =>
        t(s, d, "events")
          .select(col("event_type"),
            parse_json(to_json(struct(
              get_json_object(col("props"), "$.k").cast("long").as("k"),
              struct(col("user_id").as("id"),
                (col("user_id") % 7).as("seg")).as("user"),
              array(col("value"), col("value") * 2).as("vals")))).as("v"))
          .groupBy(col("event_type"))
          .agg(
            sum(variant_get(col("v"), "$.k", "long")).as("k_sum"),
            sum(variant_get(col("v"), "$.user.seg", "long")).as("seg_sum"),
            sum(variant_get(col("v"), "$.vals[1]", "double")).as("vals1_sum"),
            count(lit(1)).as("n")),
      sql = Some("""
        SELECT event_type,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
               CAST(sum(user_id % 7) AS BIGINT) AS seg_sum,
               sum(value * 2) AS vals1_sum,
               count(*) AS n
        FROM events GROUP BY event_type"""),
      scaleNote = "variant is the schema-on-read scale path: one parse per document at ingest, then every downstream extraction is a binary-tree walk (no text re-parse, no fixed schema to migrate when producers add fields); shredded columns prune like any other — at 100 TB this replaces N get_json_object re-parses per row with one parse + N O(log fields) lookups"),

    // ----- E16: array explode + word count -------------------------------------------
    "q22_explode_wordcount" -> Q(
      fn = (s, d) =>
        t(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("word"))
          .filter(length(col("word")) > 0)
          .groupBy(col("word"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("word"))
          .limit(20),
      sql = Some("""
        SELECT word, count(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE length(word) > 0
        GROUP BY word ORDER BY n DESC, word LIMIT 20"""),
      scaleNote = "explode is pipelined (no materialization); partial agg collapses per-partition word counts before the shuffle; top-k via TakeOrdered"),

    // ----- E16: map/array construction + higher-order functions -----------------------
    "q23_higher_order_array" -> Q(
      fn = (s, d) =>
        t(s, d, "documents")
          .select(col("doc_id"),
            split(col("text"), " ").as("words"))
          .select(col("doc_id"),
            size(col("words")).cast("long").as("n_words"),
            size(filter(col("words"), w => length(w) > 5)).cast("long").as("n_long_words"),
            aggregate(col("words"), lit(0L),
              (acc, w) => acc + length(w).cast("long")).as("total_chars")),
      sql = Some("""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST(len(list_filter(string_split(text, ' '), w -> length(w) > 5)) AS BIGINT) AS n_long_words,
               CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS BIGINT) AS total_chars
        FROM documents"""),
      scaleNote = "higher-order functions run inside codegen with no UDF boundary and no explode-shuffle"),

    // ----- E7: explicit GROUPING SETS (SQL surface) ------------------
    "q47_grouping_sets" -> Q(
      fn = (s, d) => {
        t(s, d, "lineitem").createOrReplaceTempView("gs_lineitem")
        s.sql("""
          SELECT l_returnflag, l_linestatus,
                 sum(l_quantity) AS sum_qty, count(*) AS n
          FROM gs_lineitem
          GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""")
      },
      sql = Some("""
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty, count(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"""),
      scaleNote = "3 grouping sets = one Expand + one shuffle, same strategy as rollup/cube; also exercises the spark.sql text surface"),

    // ----- E8: rangeBetween (value-based) window frame ---------------
    "q48_range_frame" -> Q(
      fn = (s, d) => {
        // 30-day trailing spend per customer; epoch-seconds range frame
        // keeps Spark and DuckDB peer semantics identical
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").cast("timestamp").cast("long"))
          .rangeBetween(-30L * 86400, 0)
        // decimal terms, same reason as q14: sliding/segment-tree
        // window accumulation orders differ between engines, and a
        // double sum can flip the rounded 6th digit at larger SFs.
        // BIGINT-cents output for the type-sensitive comparison hash;
        // o_totalprice has 2 decimals so cents are exact.
        t(s, d, "orders")
          .withColumn("spend_30d_cents",
            (sum(col("o_totalprice").cast("decimal(18,2)")).over(w) * 100)
              .cast("long"))
          .select(col("o_orderkey"), col("o_custkey"), col("spend_30d_cents"))
      },
      sql = Some("""
        SELECT o_orderkey, o_custkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                 PARTITION BY o_custkey
                 ORDER BY epoch(o_orderdate::TIMESTAMP)
                 RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) * 100 AS BIGINT) AS spend_30d_cents
        FROM orders"""),
      scaleNote = "value-based frame evaluates with a sliding aggregate over the sorted partition — one shuffle on custkey, O(n) per partition; decimal accumulation + BIGINT-cents output (hash-portable)"),

    // ----- E5+: as-of join (graft.operators.AsOfJoin): each error
    // matched to the LAST click at or before it ----------------------
    "q46_asof_join" -> errorClickAsOf("backward"),

    // ----- point-in-time join against an SCD2 dimension -------------
    // The warehouse-join modality q87 (SCD2 build) points at: each
    // fact row joins the dimension VERSION valid at the fact's own
    // time. With contiguous validity intervals, PIT ≡ as-of backward
    // on valid_from — so the engine REUSES graft.operators.AsOfJoin
    // (streamed sorted-merge, no per-key interval fan-out), while
    // the oracle spells the textbook interval form (valid_from ≤ ts <
    // valid_to) — the gate proves the two formulations equivalent.
    // The versioned dimension derives deterministically from supplier
    // (3 rate versions every 2 years across the 1995–2001 shipdate
    // span); every arithmetic value is an exact small integer so the
    // weighted sum is exact in doubles at any partition order.
    "q152_pit_scd2_join" -> Q(
      fn = (s, d) => {
        val hist = t(s, d, "supplier")
          .select(col("s_suppkey"),
            explode(array(lit(0), lit(1), lit(2))).as("v"))
          .select(col("s_suppkey").as("l_suppkey"),
            col("v").cast("long").as("v"),
            // v0 anchors at a far-past sentinel, not 1995: the engine's
            // as-of is left-preserving while the oracle's interval join
            // is inner, and the two are equivalent only if EVERY fact
            // time has a covering version — a regenerated corpus with
            // pre-1995 shipdates must not open a null-v divergence
            when(col("v") === 0, lit("1900-01-01"))
              .otherwise(concat((lit(1995) + col("v") * 2).cast("string"),
                lit("-01-01")))
              .cast("timestamp").as("valid_from"),
            (pmod(col("s_suppkey"), lit(7)) + col("v") * 3 + 1).as("rate"))
        val li = t(s, d, "lineitem")
          .select(col("l_suppkey"), col("l_shipdate"), col("l_quantity"))
        graft.operators.AsOfJoin
          .asofJoin(li, hist, "l_suppkey", "l_shipdate", "valid_from",
            Seq("v", "rate"))
          .groupBy(col("asof_v").as("v"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity") * col("asof_rate")).as("weighted_qty"))
      },
      sql = Some("""
        WITH hist AS (
          SELECT s_suppkey, CAST(v AS BIGINT) AS v,
                 CASE WHEN v = 0 THEN TIMESTAMP '1900-01-01'
                      ELSE CAST((1995 + v*2) || '-01-01' AS TIMESTAMP)
                 END AS valid_from,
                 CAST((1997 + v*2) || '-01-01' AS TIMESTAMP) AS valid_to,
                 s_suppkey % 7 + v * 3 + 1 AS rate
          FROM supplier, (SELECT unnest([0, 1, 2]) AS v) t)
        SELECT h.v, count(*) AS n,
               sum(l.l_quantity * h.rate) AS weighted_qty
        FROM lineitem l JOIN hist h
          ON h.s_suppkey = l.l_suppkey
         AND l.l_shipdate >= h.valid_from
         AND (h.v = 2 OR l.l_shipdate < h.valid_to)
        GROUP BY h.v"""),
      scaleNote = "PIT-as-as-of is the 100 TB form: one hash exchange and one spillable sort per side on the key, then a streamed merge holding one buffered version row (graft.plans.AsOfJoinExec), no interval fan-out — the naive interval join replicates each fact row per candidate version and filters (|versions|× the I/O); dimension history stays version-count-sized. A version with a NULL valid_from never matches (DuckDB's ASOF rule); the derived valid_from and both suppkeys are never NULL"),

    // ----- SQL-string entry point (spark.sql, no DataFrame calls) ---
    // The second API surface: the whole query — scans included, via
    // `parquet.` table refs, so no temp-view registration that could
    // race Verify's concurrent catalog — is one SQL string through
    // spark.sql. Same Catalyst plan space as the DataFrame API
    // (broadcast dim, two-phase agg, TakeOrderedAndProject top-k).
    // Decimal accumulation + BIGINT fixed-point output per the q14
    // hash-portability stance.
    "q92_sql_entry" -> Q(
      fn = (s, d) => s.sql(s"""
        SELECT o_orderkey,
               CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                        AS DECIMAL(18,6))) AS DECIMAL(18,6)) * 10000
                 AS BIGINT) AS revenue_e4,
               CAST(year(o_orderdate) AS BIGINT) AS o_year
        FROM parquet.`$d/customer.parquet`
        JOIN parquet.`$d/orders.parquet` ON c_custkey = o_custkey
        JOIN parquet.`$d/lineitem.parquet` ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY o_orderkey, year(o_orderdate)
        ORDER BY revenue_e4 DESC, o_orderkey
        LIMIT 10"""),
      sql = Some("""
        SELECT o_orderkey,
               CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                        AS DECIMAL(18,6))) AS DECIMAL(18,6)) * 10000
                 AS BIGINT) AS revenue_e4,
               CAST(year(o_orderdate) AS BIGINT) AS o_year
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY o_orderkey, year(o_orderdate)
        ORDER BY revenue_e4 DESC, o_orderkey
        LIMIT 10"""),
      scaleNote = "SQL text and DataFrame calls meet in the same Catalyst plan: filter pushdown into all three scans, customer broadcasts, one fact-fact shuffle on orderkey, TakeOrderedAndProject for the top-10 — parity asserted in PlanSpec"),

    // ----- E16 depth: nested-JSON encode/decode round-trip ----------
    // Serialize each order into a NESTED document (struct-in-struct +
    // array), then recover scalars three ways: typed from_json over an
    // explicit schema, a get_json_object path probe, and an array
    // element. The oracle is the IDENTITY on the base columns — green
    // means the whole encode→decode path is lossless, including
    // doubles through JSON text (shortest-round-trip formatting).
    "q98_json_nested_roundtrip" -> Q(
      fn = (s, d) => {
        val j = to_json(struct(
          col("o_orderkey").as("id"),
          struct(col("o_orderstatus").as("st"),
            col("o_totalprice").as("price")).as("meta"),
          array(col("o_orderpriority"), col("o_orderstatus")).as("tags")))
        t(s, d, "orders")
          .select(col("o_orderkey"), j.as("doc"))
          .select(col("o_orderkey"),
            from_json(col("doc"), org.apache.spark.sql.types.StructType.fromDDL(
              "id BIGINT, meta STRUCT<st: STRING, price: DOUBLE>, tags ARRAY<STRING>"))
              .as("p"),
            get_json_object(col("doc"), "$.meta.price").cast("double")
              .as("price_by_path"))
          .select(col("o_orderkey"),
            col("p.id").as("id"),
            col("p.meta.st").as("st"),
            col("p.meta.price").as("price"),
            col("price_by_path"),
            element_at(col("p.tags"), 1).as("tag0"))
      },
      sql = Some("""
        SELECT o_orderkey, o_orderkey AS id, o_orderstatus AS st,
               o_totalprice AS price, o_totalprice AS price_by_path,
               o_orderpriority AS tag0
        FROM orders"""),
      scaleNote = "encode and decode are both codegen'd row-local projections — zero shuffle; at 100 TB this is the ETL boundary shape (nested event docs in, typed columns out) and the explicit from_json schema avoids any inference pass"),

    // ----- E5+: FORWARD as-of join ----------------------------------
    // The mirror of q46: each error matched to the FIRST click at or
    // after it — "what did the user do next".
    "q99_asof_forward" -> errorClickAsOf("forward"),

    // ----- E5/E19: q46/q99 registered again under the names of the
    // Catalyst extension route every as-of query takes (AsOfJoinPlan +
    // GraftStrategy + AsOfJoinExec via SparkSessionExtensions) --------
    "q121_asof_native" -> errorClickAsOf("backward"),
    "q122_asof_native_forward" -> errorClickAsOf("forward"),

    // ----- E4: salted skew join through the oracle gate -------------
    // operators/SkewJoin under planted skew: half of lineitem's rows
    // collapse onto ONE hot key, broadcast is disabled (q84's
    // newSession pattern — a broadcast join has no reducer to skew,
    // so salting would be vacuous), and the salted (key, _salt)
    // shuffle must still produce the row-identical result the plain
    // SQL join defines. PlanSpec asserts the exchange really carries
    // the salt.
    "q129_salted_skew_join" -> Q(
      fn = (s0, d) => {
        val s = ChildSessions.get(s0, "no-broadcast") { s2 =>
          s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        }
        skewJoinPlan(s, d)
      },
      sql = Some(SkewJoinOracleSql),
      scaleNote = "the manual fallback for when AQE's skew split cannot apply (bucketed/co-located inputs): the deterministic per-row salt spreads the hot key over 16 reducers and the small side replicates 16x — one hot key stops defining the stage's critical path; result is row-identical to the unsalted join by construction"),

    // ----- E4: AQE runtime skew split through the oracle gate (r17) ----
    // VERDICT r16 item 2 — the q250→q253 discipline applied to skew:
    // q129 gates the MANUAL salt; this sibling gates the operational
    // default at 100 TB, AQE's runtime mitigation, under the SAME
    // oracle. No query rewrite at all: the same planted half-corpus
    // hot key, broadcast disabled (a broadcast join has no reducer to
    // skew), and a child session whose skew thresholds are tuned to
    // the fixture (the AqeSkewSpec:17-48 recipe) — adaptive execution
    // detects the oversized partition at runtime and splits it across
    // tasks. PlanSpec pins `skew=true` on the join node of the FINAL
    // adaptive plan and zero SALT columns anywhere (this is the
    // rewrite-free path), with the aggregate's own exchange above the
    // split proving correctness survives re-partitioning.
    "q260_skew_join_adaptive" -> Q(
      fn = (s0, d) => {
        val s = ChildSessions.get(s0, "aqe-skew") { s2 =>
          s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
          s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
          // the fixture is small by test-data standards — scale the
          // detection thresholds down with it so the SAME mechanism
          // that fires on multi-GB partitions fires here (production
          // keeps the defaults: 5x median and 256 MB)
          s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
          // 8KB/4KB, not AqeSkewSpec's 64KB/32KB: the hot partition
          // here is ~half of sf0.001's lineitem projected to two
          // columns (~tens of KB compressed), and PlanSpec pins the
          // split at that scale — the threshold must sit under it
          s2.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
          s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4KB")
          s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
          // the aggregate above re-shuffles on grp regardless, so the
          // split introduces no extra exchange; force=true makes the
          // pin deterministic rather than dependent on that analysis
          s2.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        }
        skewJoinPlanAqe(s, d)
      },
      sql = Some(SkewJoinOracleSql),
      scaleNote = "the decision rule between the two registered skew answers: prefer THIS one (AQE detects and splits at runtime, zero rewrite, composes with every other adaptive optimization) whenever the skewed side arrives through a plain shuffle exchange — which is the common case; fall back to q129's deterministic salt only where the split cannot apply, i.e. the skewed side's partitioning is load-bearing (bucketed/co-located inputs AQE must not re-partition) or the engine predates runtime re-planning; both produce the row-identical result this one shared oracle defines, and at 100 TB the operational difference is that salting pays its 16x small-side replication on EVERY run while AQE pays a split only on the runs (and the partitions) that actually skew"),

    // ----- E4/E10: aggregate over a UNION of heterogeneous facts ------
    // (r16, VERDICT r15 item 4 — the TPC-DS Q5/Q71 "multi-channel"
    // class.) Every gated aggregate so far folds ONE fact lineage;
    // real warehouses fold revenue across channels whose fact tables
    // have DIFFERENT schemas. Channel 'store' is orders⋈lineitem
    // (1998+ orders only — a branch-local predicate), channel
    // 'online' is purchase events valued in the same e4 integer
    // currency; both branches align to the common (channel, nation,
    // yr, amount_e4) shape BELOW one UNION ALL, and exactly ONE
    // two-phase aggregate folds the union. The planner question this
    // gates (PlanSpec): each branch's filter reaches its OWN scan
    // (o_orderdate range → orders row groups, event_type = purchase →
    // events row groups) and the aggregate partial-folds each branch
    // map-side before the single exchange — never a per-branch
    // aggregate + re-merge, never a post-union filter.
    "q254_multichannel_revenue" -> Q(
      fn = (s, d) =>
        multiChannelRows(s, d)
          .groupBy(col("channel"), col("nation"), col("yr"))
          .agg(count(lit(1)).as("n_sales"),
            sum(col("amount_e4")).cast("long").as("amount_e4")),
      sql = Some(s"""
        WITH $MultiChannelSqlCte
        SELECT channel, nation, yr,
               CAST(count(*) AS BIGINT) AS n_sales,
               CAST(sum(amount_e4) AS BIGINT) AS amount_e4
        FROM ch GROUP BY 1, 2, 3"""),
      scaleNote = "Union is a zero-cost plan node — the two branches scan INDEPENDENTLY (each with its own pushed filters and its own dimension joins, nation broadcast in both) and their output partitions simply concatenate, so the single two-phase aggregate partial-folds store rows on store tasks and online rows on online tasks before one (channel, nation, yr)-keyed exchange moves only group partials; at 100 TB this is why multi-channel revenue costs the SUM of the channels' scan costs plus one dimension-sized shuffle — adding a channel adds a branch, never a re-aggregation of the others — and the e4 integer currency keeps the cross-channel fold exact and hash-portable"),

    // ----- E10 on E6: set ops on AGGREGATED frames (r16) --------------
    // (VERDICT r15 item 5 — segment algebra as users actually write
    // it.) q17 gates EXCEPT/INTERSECT on raw key frames; production
    // segment logic runs them on GROUP-BY RESULTS: 'big buyers' =
    // customers whose half-year order total clears a threshold, and
    // the three segments every retention dashboard tracks are
    // churned = H1 EXCEPT H2, retained = H1 INTERSECT H2,
    // new = H2 EXCEPT H1 — each a set op whose inputs are HAVING-
    // filtered aggregates, tagged and stacked into one frame. The
    // threshold compares EXACT decimal (never a float boundary), and
    // PlanSpec pins the physical algebra: the set ops lower to
    // hash-aggregated LeftAnti/LeftSemi joins on the segment key —
    // no cartesian, no window, no sort.
    "q255_segment_set_algebra" -> Q(
      fn = (s, d) => {
        def half(from: String, until: String) =
          t(s, d, "orders")
            .filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
              col("o_orderdate") < lit(until).cast("timestamp"))
            .groupBy(col("o_custkey"))
            .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"))
            .filter(col("spend") >= lit(150000))
            .select(col("o_custkey"))
        val h1 = half("1999-01-01", "1999-07-01")
        val h2 = half("1999-07-01", "2000-01-01")
        h1.except(h2).select(lit("churned").as("segment"), col("o_custkey"))
          .unionByName(h1.intersect(h2)
            .select(lit("retained").as("segment"), col("o_custkey")))
          .unionByName(h2.except(h1)
            .select(lit("new").as("segment"), col("o_custkey")))
      },
      sql = Some("""
        WITH h1 AS (
          SELECT o_custkey FROM orders
          WHERE o_orderdate >= TIMESTAMP '1999-01-01'
            AND o_orderdate < TIMESTAMP '1999-07-01'
          GROUP BY 1
          HAVING sum(CAST(o_totalprice AS DECIMAL(18,2))) >= 150000),
        h2 AS (
          SELECT o_custkey FROM orders
          WHERE o_orderdate >= TIMESTAMP '1999-07-01'
            AND o_orderdate < TIMESTAMP '2000-01-01'
          GROUP BY 1
          HAVING sum(CAST(o_totalprice AS DECIMAL(18,2))) >= 150000)
        SELECT 'churned' AS segment, o_custkey
        FROM (SELECT * FROM h1 EXCEPT SELECT * FROM h2)
        UNION ALL
        SELECT 'retained', o_custkey
        FROM (SELECT * FROM h1 INTERSECT SELECT * FROM h2)
        UNION ALL
        SELECT 'new', o_custkey
        FROM (SELECT * FROM h2 EXCEPT SELECT * FROM h1)"""),
      scaleNote = "each segment input is already a HAVING-filtered aggregate — customer-grain, orders-of-magnitude smaller than the fact — and EXCEPT/INTERSECT lower to distinct-aggregated anti/semi HASH joins on that key (PlanSpec-pinned: no cartesian, no sort), so the algebra costs |segments| joins and both half-year aggregates reuse the same date-pruned orders scan pattern; at 100 TB the segments land pre-partitioned on the same key (the aggregate's exchange), letting every set op run exchange-free on co-located partitions, and the exact-decimal threshold means segment membership never flips with partition merge order — the property that makes the EXCEPT frames stable enough to act on"),

    // ----- E4/E7: ROLLUP over the multi-channel union (r16) -----------
    // TPC-DS Q5's ACTUAL shape — q254 gates the union aggregate at one
    // grain; Q5 reports it WITH subtotals: per (channel, nation, yr),
    // per (channel, nation), per channel, and the grand total, in one
    // statement. The planner question this adds: the rollup's Expand
    // (4 grouping-set projections) must sit between the Union and ONE
    // two-phase aggregate — never four separate aggregations of the
    // union — while each branch's pushed filters survive untouched.
    // Group keys are never null in the data, so rollup NULLs are
    // unambiguous subtotal markers (q11's stance).
    "q257_multichannel_rollup" -> Q(
      fn = (s, d) =>
        multiChannelRows(s, d)
          .rollup(col("channel"), col("nation"), col("yr"))
          .agg(count(lit(1)).as("n_sales"),
            sum(col("amount_e4")).cast("long").as("amount_e4")),
      sql = Some(s"""
        WITH $MultiChannelSqlCte
        SELECT channel, nation, yr,
               CAST(count(*) AS BIGINT) AS n_sales,
               CAST(sum(amount_e4) AS BIGINT) AS amount_e4
        FROM ch GROUP BY ROLLUP (channel, nation, yr)"""),
      scaleNote = "rollup over a union costs ONE extra plan node vs q254: Expand replicates each branch's rows into the 4 grouping sets map-side and the same single two-phase aggregate folds them (PlanSpec pins exactly one Expand + two HashAggregates above the one Union) — at 100 TB this is 4× the aggregate's map-side input for zero extra scans, shuffles, or passes, which is why warehouse reports ask for subtotals in the statement instead of re-querying per grain; exact e4 integers keep every subtotal hash-portable, and the n_sales beside the sum makes each rollup row self-auditing (a subtotal must equal the sum of its children — checkable downstream in one pass)"),
  )

  /** q46/q121 (backward) and q99/q122 (forward): each error event
    * matched to the latest click at or before it, or the earliest click
    * at or after it, of the same user — inner as-of semantics against
    * DuckDB's native ASOF JOIN.
    */
  private def errorClickAsOf(direction: String): Q = {
    val cmp = if (direction == "forward") "<=" else ">="
    Q(
      fn = (s, d) => {
        val e = t(s, d, "events")
        val errors = e.filter(col("event_type") === "error")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"),
            col("value").as("click_value"))
        graft.operators.AsOfJoin
          .asofJoin(errors, clicks, "user_id", "ts", "click_ts",
            Seq("click_ts", "click_value"), direction)
          .filter(col("asof_click_ts").isNotNull) // inner as-of semantics
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("err_ts_us"),
            unix_micros(col("asof_click_ts")).as("click_ts_us"),
            col("asof_click_value").as("click_value"))
      },
      sql = Some(s"""
        SELECT e.event_id, e.user_id,
               epoch_us(e.ts::TIMESTAMP) AS err_ts_us,
               epoch_us(c.ts::TIMESTAMP) AS click_ts_us,
               c.value AS click_value
        FROM (SELECT * FROM events WHERE event_type = 'error') e
        ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON e.user_id = c.user_id AND e.ts $cmp c.ts"""),
      scaleNote = "streamed as-of merge (graft.plans.AsOfJoinExec): one " +
        "hash exchange and one spillable sort per side, then one pass " +
        "over both sorted partitions holding ONE buffered right row — " +
        "no union-wide window frame, never the per-key cross product a " +
        s"naive ts $cmp ts range join materializes; the output keeps the " +
        "left side's hash partitioning, so an op keyed on user_id " +
        "downstream skips its exchange. A click with a NULL ts or " +
        "user_id never matches (DuckDB's ASOF rule); both columns are " +
        "null-free in events")
  }

  /** q254/q257's shared multi-channel fact union: the 'store' lineage
    * (1998+ orders x lineitem through customer->nation) and the
    * 'online' lineage (purchase events valued in the same e4 integer
    * currency) aligned to one (channel, nation, yr, amount_e4) shape
    * BELOW one UNION ALL — branch filters written on each branch's
    * own scan so pushdown survives (PlanSpec-pinned via q254).
    */
  private def multiChannelRows(s: SparkSession, d: String): DataFrame = {
    val cust = t(s, d, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val nat = broadcast(t(s, d, "nation")
      .select(col("n_nationkey"), col("n_name")))
    val store = t(s, d, "lineitem")
      .join(t(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .select(
        lit("store").as("channel"),
        col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("yr"),
        (round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long")))
          .as("amount_e4"))
    val online = t(s, d, "events")
      .filter(col("event_type") === "purchase")
      .join(cust, col("user_id") === col("c_custkey"))
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .select(
        lit("online").as("channel"),
        col("n_name").as("nation"),
        year(col("ts")).cast("long").as("yr"),
        round(col("value") * 10000).cast("long").as("amount_e4"))
    store.unionByName(online)
  }

  /** the DuckDB spelling of [[multiChannelRows]] as CTE `ch`, composed
    * into q254's and q257's oracles so the channel definitions can
    * never drift
    */
  private val MultiChannelSqlCte: String = """ch AS (
          SELECT 'store' AS channel, n_name AS nation,
                 CAST(year(o_orderdate) AS BIGINT) AS yr,
                 CAST(round(l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(round(l_discount * 100) AS BIGINT))
                   AS amount_e4
          FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation   ON c_nationkey = n_nationkey
          WHERE o_orderdate >= TIMESTAMP '1998-01-01'
          UNION ALL
          SELECT 'online', n_name, CAST(year(ts) AS BIGINT),
                 CAST(round(value * 10000) AS BIGINT)
          FROM events
          JOIN customer ON user_id = c_custkey
          JOIN nation   ON c_nationkey = n_nationkey
          WHERE event_type = 'purchase')"""

  /** q129 AND q260's oracle — the manual salt and the AQE runtime
    * split are two physical answers to one logical join, so one SQL
    * defines both results (r17; the q250/q253 shared-oracle stance).
    */
  private[queries] val SkewJoinOracleSql: String = """
        WITH fact AS (
          SELECT CASE WHEN l_orderkey % 10 < 5 THEN 0
                      ELSE l_orderkey END AS k,
                 l_quantity
          FROM lineitem),
        dim AS (SELECT DISTINCT k, k % 7 AS grp FROM fact)
        SELECT grp, CAST(count(*) AS BIGINT) AS n, sum(l_quantity) AS qty
        FROM fact JOIN dim USING (k) GROUP BY grp"""

  /** the skew fixture's fact side (k, l_quantity): half the line
    * items collapse onto the hot key k = 0 */
  private def skewFact(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .select(
        when(col("l_orderkey") % 10 < 5, lit(0L))
          .otherwise(col("l_orderkey")).as("k"),
        col("l_quantity"))

  /** q129's plan, shared with PlanSpec (which asserts the salt reaches
    * the exchange). Skew is planted: keys ≡ 0–4 (mod 10) all collapse
    * to key 0 — ~half the fact on one key.
    */
  private[queries] def skewJoinPlan(
      s: SparkSession, d: String): DataFrame = {
    val fact = skewFact(s, d)
    val dim = fact.select(col("k")).distinct()
      .withColumn("grp", pmod(col("k"), lit(7L)))
      // the at-scale premise: the dim CANNOT broadcast — force the
      // shuffle join the salt exists for
      .hint("shuffle_hash")
    graft.operators.SkewJoin.saltedJoin(fact, dim, "k")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
  }

  /** q260's plan: the same skewed fact with NO salt — a plain shuffled
    * join whose hot partition AQE must split at runtime. Shared with
    * PlanSpec (which pins skew=true on the final adaptive plan).
    *
    * The dim side is its OWN scan (the orders PK), not q129's
    * distinct-over-fact: an aggregate on the join key leaves the dim
    * side already hash-partitioned, so no exchange sits under the
    * join there and OptimizeSkewedJoin's pattern —
    * SMJ(Sort(ShuffleQueryStage), Sort(ShuffleQueryStage)) — can
    * never match. That is faithful to production anyway (a dim IS its
    * own table) and exactly the decision rule in the scaleNote: AQE
    * applies when the skewed side arrives through a plain shuffle
    * exchange. Result-identical to the oracle's logical dim: orders
    * carries every lineitem orderkey (referential integrity), the PK
    * makes the filtered keys unique without a distinct, and any
    * orderless key a real corpus might add would be inert under the
    * inner join.
    */
  private[queries] def skewJoinPlanAqe(
      s: SparkSession, d: String): DataFrame = {
    val fact = skewFact(s, d)
      // fixture physics, NOT part of the operator: AQE splits a skewed
      // reduce partition at MAP-output boundaries, so the hot
      // partition is only splittable if its bytes arrive from several
      // mappers. At 100 TB the scan IS thousands of map tasks and
      // this line would never exist; a test-scale lineitem.parquet is
      // ONE task (one row group), which makes the hot partition one
      // indivisible chunk and the split structurally impossible. The
      // round-robin pass recreates the multi-mapper shape the
      // mechanism needs — 16 skinny-row map tasks — and is priced
      // only at fixture scale.
      .repartition(16)
    val dim = t(s, d, "orders")
      .filter(col("o_orderkey") % 10 >= 5)
      .select(col("o_orderkey").as("k"), pmod(col("o_orderkey"), lit(7L)).as("grp"))
      .unionByName(s.range(1)
        .select(lit(0L).as("k"), lit(0L).as("grp")))
    fact.join(dim, "k")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
  }
}
