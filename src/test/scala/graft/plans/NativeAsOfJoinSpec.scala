package graft.plans

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.AsOfJoin

/** The native-plan as-of join (graft.operators.AsOfJoin → AsOfJoinPlan
  * → GraftStrategy → AsOfJoinExec) against hand-computed truth and a
  * brute-force per-key reference over the collected rows — plus the
  * plan-shape assertions that make it a real physical operator, not a
  * decorated shuffle.
  */
class NativeAsOfJoinSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def trades: DataFrame = Seq(
    ("t1", "a", 10L), ("t2", "a", 20L), ("t3", "a", 5L),
    ("t4", "b", 7L), ("t5", "c", 100L)
  ).toDF("trade_id", "acct", "ts")

  private def quotes: DataFrame = Seq(
    ("a", 8L, 1.0), ("a", 10L, 2.0), ("a", 15L, 3.0),
    ("b", 9L, 4.0), ("d", 1L, 9.9)
  ).toDF("acct", "q_ts", "px")

  /** Brute-force as-of over collected rows: for each left (key, time),
    * the same-key right rows on the matching side of the time, the
    * nearest time first, then the largest payload. */
  private def bruteForce[K, P: Ordering](
      lefts: Seq[(K, Long)], rights: Seq[(K, Long, P)],
      forward: Boolean): Seq[Option[(Long, P)]] =
    lefts.map { case (k, ts) =>
      val cands = rights.collect {
        case (rk, rts, p) if rk == k && (if (forward) rts >= ts else rts <= ts) =>
          (rts, p)
      }
      if (cands.isEmpty) None
      else Some(cands.maxBy { case (rts, p) =>
        (if (forward) -rts else rts, p) })
    }

  test("native backward: latest right <= left time, per key, left-outer") {
    val out = AsOfJoin.asofJoin(trades, quotes, "acct", "ts", "q_ts",
      Seq("q_ts", "px"))
      .select("trade_id", "asof_px").as[(String, Option[Double])]
      .collect().toMap
    assert(out === Map(
      "t1" -> Some(2.0),  // q_ts=10 ties left ts → inclusive
      "t2" -> Some(3.0),
      "t3" -> None,       // no quote at or before 5
      "t4" -> None,       // b's only quote is at 9 > 7
      "t5" -> None))      // key c has no quotes
  }

  test("native forward: earliest right >= left time, per key") {
    val out = AsOfJoin.asofJoin(trades, quotes, "acct", "ts", "q_ts",
      Seq("q_ts", "px"), direction = "forward")
      .select("trade_id", "asof_px").as[(String, Option[Double])]
      .collect().toMap
    assert(out === Map(
      "t1" -> Some(2.0),  // inclusive at 10
      "t2" -> None,       // nothing at/after 20
      "t3" -> Some(1.0),
      "t4" -> Some(4.0),
      "t5" -> None))
  }

  test("duplicate right timestamps resolve to the payload-max row in both directions") {
    val dupQuotes = Seq(
      ("a", 10L, 1.0), ("a", 10L, 7.0), ("a", 10L, 3.0)
    ).toDF("acct", "q_ts", "px")
    for (dir <- Seq("backward", "forward")) {
      val px = AsOfJoin.asofJoin(
        trades.filter($"trade_id" === "t1"), dupQuotes,
        "acct", "ts", "q_ts", Seq("px"), dir)
        .select("asof_px").as[Option[Double]].head()
      assert(px === Some(7.0), s"dir=$dir")
    }
  }

  test("null keys and null left timestamps never match; null right timestamps never match (DuckDB ASOF semantics)") {
    val l = Seq(
      (Some("a"), Some(10L), "ok"),
      (None: Option[String], Some(10L), "nullkey"),
      (Some("a"), None: Option[Long], "nullts")
    ).toDF("k", "ts", "tag")
    val r = Seq(
      (Some("a"), Some(5L), 1.0),
      (Some("a"), None: Option[Long], 99.0), // null ts: must never match
      (None: Option[String], Some(1L), 50.0) // null key: must never match
    ).toDF("k", "q_ts", "px")
    val out = AsOfJoin.asofJoin(l, r, "k", "ts", "q_ts", Seq("px"))
      .select("tag", "asof_px").as[(String, Option[Double])]
      .collect().toMap
    assert(out === Map(
      "ok" -> Some(1.0), "nullkey" -> None, "nullts" -> None))
  }

  test("randomized parity with a brute-force per-key reference (20 seeds, both directions)") {
    for (seed <- 1 to 20; dir <- Seq("backward", "forward")) {
      val rnd = new Random(seed)
      // small key space + small time space → dense ties and misses
      val lRows = Seq.fill(60)(
        (rnd.nextInt(6).toString, rnd.nextInt(30).toLong, rnd.nextInt(1000)))
      val rRows = Seq.fill(60)(
        (rnd.nextInt(8).toString, rnd.nextInt(30).toLong, rnd.nextDouble()))
      val l = lRows.toDF("k", "ts", "tag")
      val r = rRows.toDF("k", "q_ts", "px")
      val got = AsOfJoin
        .asofJoin(l, r, "k", "ts", "q_ts", Seq("q_ts", "px"), dir)
        .select("k", "ts", "tag", "asof_q_ts", "asof_px")
        .as[(String, Long, Int, Option[Long], Option[Double])]
        .collect().toSeq.sortBy(_.toString)
      val want = lRows.zip(bruteForce(lRows.map(x => (x._1, x._2)), rRows,
          forward = dir == "forward"))
        .map { case ((k, ts, tag), m) => (k, ts, tag, m.map(_._1), m.map(_._2)) }
        .sortBy(_.toString)
      assert(got === want, s"seed=$seed dir=$dir")
    }
  }

  test("self-join on one source resolves (shared exprIds re-aliased)") {
    val e = graft.core.Tables.load(spark, sf0001, "events")
    val errors = e.filter($"event_type" === "error")
      .select($"event_id", $"user_id", $"ts")
    val clicks = e.filter($"event_type" === "click")
      .select($"user_id", $"ts".as("click_ts"), $"value".as("click_value"))
    val got = AsOfJoin.asofJoin(
      errors, clicks, "user_id", "ts", "click_ts",
      Seq("click_ts", "click_value"))
      .select($"event_id", unix_micros($"asof_click_ts"), $"asof_click_value")
      .as[(Long, Option[Long], Option[Double])]
      .collect().map(r => r._1 -> r._2.map(ts => (ts, r._3))).toMap
    val errs = errors.select($"event_id", $"user_id", unix_micros($"ts"))
      .as[(Long, Long, Long)].collect().toSeq
    val cks = clicks.select($"user_id", unix_micros($"click_ts"), $"click_value")
      .as[(Long, Long, Option[Double])].collect().toSeq
    val want = errs.map(_._1).zip(bruteForce(errs.map(x => (x._2, x._3)),
        cks, forward = false)).toMap
    assert(got.values.count(_.nonEmpty) > 0)
    assert(got === want)
  }

  test("plan shape: AsOfJoinExec present, exactly one exchange + one sort per side, output reusable") {
    val l = (1 to 100).map(i => (i % 7, i.toLong, i)).toDF("k", "ts", "v")
    val r = (1 to 100).map(i => (i % 5, i.toLong, i * 1.0)).toDF("k", "q_ts", "px")
    val df = AsOfJoin.asofJoin(l, r, "k", "ts", "q_ts", Seq("px"))
    df.collect()
    val plan = df.queryExecution.executedPlan
    val execs = collect(plan) { case e: AsOfJoinExec => e }
    assert(execs.size === 1, plan.toString)
    val shuffles = collect(plan) {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => s }
    assert(shuffles.size === 2, s"want the two key exchanges, got:\n$plan")
    val sorts = collect(plan) {
      case s: org.apache.spark.sql.execution.SortExec => s }
    assert(sorts.size === 2, s"want one spillable sort per side, got:\n$plan")
    // grouping downstream on the as-of key must NOT re-shuffle: the
    // exec declares left partitioning as its own
    val agg = df.groupBy("k").count()
    agg.collect()
    val aggShuffles = collect(agg.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => s }
    assert(aggShuffles.size === 2,
      s"agg on the join key must reuse the join's partitioning:\n${agg.queryExecution.executedPlan}")
  }
}
