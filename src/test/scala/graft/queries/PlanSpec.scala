package graft.queries

import graft.SparkSpec

/** Physical-plan shape enforcement — the 100 TB design rules from the
  * catalog scaleNotes, asserted so a regression in plan quality fails
  * CI, not just the benchmark:
  *  - filters and projections reach the parquet scan
  *  - dimension joins broadcast
  *  - top-k never global-sorts
  *  - rank-limit windows prune in-shuffle (WindowGroupLimit)
  *  - aggregates are two-phase (map-side partial)
  */
class PlanSpec extends SparkSpec {

  private def allQueries =
    Relational.queries ++ Dedup.queries ++ Similarity.queries ++
      Analytics.queries ++ TextAnalysis.queries ++ Curation.queries ++
      Sources.queries

  private def plan(name: String): String =
    allQueries(name).fn(spark, sf0001).queryExecution.executedPlan.toString

  /** the physical tree flattened, with AQE wrappers unwrapped so
    * node-type assertions see the whole plan */
  /** ONE plan-walker for every structural assert (r15 review fix —
    * five local copies had drifted into two variants): flattens the
    * physical tree, unwrapping BOTH AQE wrappers (AdaptiveSparkPlanExec
    * and materialized QueryStageExec subtrees), so node-type pins see
    * the whole plan regardless of execution state.
    */
  private def expandPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case qs: QueryStageExec => Seq(qs.plan)
      case o => o.children
    }
    p +: kids.flatMap(expandPlan)
  }

  private def planNodes(name: String)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    expandPlan(allQueries(name).fn(spark, sf0001).queryExecution.executedPlan)

  private def exchanges(p: String): Int =
    p.linesIterator.count(_.contains("Exchange hashpartitioning"))

  /** count parquet scans of `table` in the FINAL adaptive tree
    * (incl. subquery plans) — the plan STRING double-counts via its
    * Initial Plan sections, and QueryStageExec hides its materialized
    * subtree in .plan rather than .children
    */
  private def finalScanCount(
      df: org.apache.spark.sql.DataFrame, table: String): Int = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(n: SparkPlan): Seq[SparkPlan] = {
      val kids = n match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case qs: QueryStageExec => Seq(qs.plan)
        case o => o.children
      }
      n +: (kids.flatMap(nodes) ++ n.subqueries.flatMap(nodes))
    }
    nodes(df.queryExecution.executedPlan).count {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains(table))
      case _ => false
    }
  }

  test("q02: predicates and projection push into the parquet scan") {
    val p = plan("q02_filter_project")
    val scanLine = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(scanLine.contains("GreaterThanOrEqual(l_shipdate") ||
      scanLine.contains("GreaterThanOrEqual(l_discount"), scanLine)
    val readSchema = scanLine.substring(scanLine.indexOf("ReadSchema"))
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_tax"),
      s"projection not pruned: $readSchema")
  }

  test("q04: nation dimension joins via broadcast, never shuffled") {
    val p = plan("q04_join_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), p.take(400))
  }

  test("q16: top-10 plans as TakeOrderedAndProject (no global sort)") {
    val p = plan("q16_top10_orders")
    assert(p.contains("TakeOrderedAndProject"), p.take(400))
    assert(!p.contains("Sort ["), "global sort should not appear")
  }

  test("q13: rank-limit window prunes in-shuffle via WindowGroupLimit") {
    val p = plan("q13_topk_per_group")
    assert(p.contains("WindowGroupLimit"), p.take(600))
  }

  test("q01: aggregation is two-phase (map-side partial before exchange)") {
    val p = plan("q01_agg_pricing_summary")
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, s"expected partial+final HashAggregate, got $aggs:\n${p.take(600)}")
  }

  test("q26: near-dup join is an equi-join on shingle, not a cartesian product") {
    val p = plan("q26_dedup_ngram_jaccard")
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("q27: LSH candidate join keys on (band, bucket-hash)") {
    val p = plan("q27_dedup_minhash_lsh")
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(600))
  }

  /** `name`'s as-of join runs on ONE streamed AsOfJoinExec fed by
    * exactly one hash exchange per side: no union-window, no range-join
    * blowup. */
  private def assertStreamedAsOf(name: String): Unit = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{
      BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val nodes = planNodes(name)
    val shown = nodes.head.toString.take(1600)
    assert(!nodes.exists(n => n.isInstanceOf[CartesianProductExec] ||
      n.isInstanceOf[BroadcastNestedLoopJoinExec]), shown)
    assert(!nodes.exists(_.isInstanceOf[WindowExec]), shown)
    val execs = nodes.collect { case e: graft.plans.AsOfJoinExec => e }
    assert(execs.size == 1, shown)
    execs.head.children.foreach { side =>
      val hashExchanges = expandPlan(side).count {
        case e: ShuffleExchangeExec =>
          e.outputPartitioning.isInstanceOf[HashPartitioning]
        case _ => false
      }
      assert(hashExchanges == 1, s"expected 1 hash exchange per side:\n$shown")
    }
  }

  test("q46: as-of join is one AsOfJoinExec over one hash exchange per side, no range-join blowup") {
    assertStreamedAsOf("q46_asof_join")
  }

  test("q152: the point-in-time join is one AsOfJoinExec over one hash exchange per side") {
    assertStreamedAsOf("q152_pit_scd2_join")
  }

  test("q48: range frame runs as a single window after one shuffle") {
    val p = plan("q48_range_frame")
    assert(p.contains("Window"), p.take(400))
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1)
  }

  test("q49: embedding LSH candidates come from a bucket equi-join, never a cartesian") {
    val p = plan("q49_embedding_neardup_lsh")
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(600))
    // the signature pass is the native codegen'd expression, computed
    // once behind the checkpoint barrier — not re-inlined per join side
    assert(!p.contains("aggregate(") && !p.contains("zip_with("),
      "interpreted higher-order lambdas must not appear in the LSH plan")
  }

  test("q29: brute-force kernel broadcasts one side and stays codegen'd") {
    val p = plan("q29_embedding_near_dup")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(600))
    assert(p.contains("vec_dot"), "native vec_dot kernel expected in plan")
    assert(!p.contains("zip_with("), "interpreted lambdas must not appear")
  }

  test("q30: query vectors broadcast; corpus side never shuffles") {
    val p = plan("q30_knn_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(600))
    assert(!p.contains("SortMergeJoin"), "corpus must not shuffle for knn probe")
  }

  test("q35: token statistics run on the native one-pass expression, not regex") {
    val p = plan("q35_token_stats")
    assert(p.contains("token_stats"), p.take(600))
    assert(!p.contains("regexp_extract_all"), "regex tokenizer must be gone")
  }

  test("q56: gap-fill joins the hour spine on equi keys, never a cartesian") {
    val p = plan("q56_gapfill")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(800))
  }

  test("q59: the stop-shingle cap keeps a bounded plan — no cartesian, no shuffle blowup") {
    val p = plan("q59_dedup_jaccard_capped")
    assert(!p.contains("CartesianProduct"), p.take(600))
    val base = plan("q26_dedup_ngram_jaccard").linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    val capped = exchanges(p)
    // the stop-list costs at most its own shingle shuffle on top of
    // q26's plan (both keyed on shingle — constant, not data-dependent)
    assert(capped <= base + 2, s"q26=$base q59=$capped")
  }

  test("q117: occurrence index is the build side; the position frame is never broadcast") {
    val p = plan("q117_dup_ngram_coverage")
    // the probe join must be a shuffled join building from the
    // aggregated occ index — a BroadcastExchange directly over the
    // position explode would be the stats-misestimate hazard the
    // shuffle_hash hint exists to forbid
    assert(p.contains("ShuffledHashJoin"), p.take(800))
    val broadcastOverGenerate = p.linesIterator.sliding(6).exists(w =>
      w.head.contains("BroadcastExchange") &&
        w.tail.exists(_.contains("Generate explode")))
    assert(!broadcastOverGenerate,
      s"position frame must not broadcast:\n${p.take(1200)}")
  }

  test("q157: first-occurrence index is the build side, position frame " +
    "never broadcast (q117's stance)") {
    val p = plan("q157_ngram_novelty")
    assert(p.contains("ShuffledHashJoin"), p.take(800))
    val broadcastOverGenerate = p.linesIterator.sliding(6).exists(w =>
      w.head.contains("BroadcastExchange") &&
        w.tail.exists(_.contains("Generate explode")))
    assert(!broadcastOverGenerate,
      s"gram frame must not broadcast:\n${p.take(1200)}")
  }

  test("q59 stop-list: broadcast LEFT-ANTI join, one exchange on shingle") {
    // the registered query hides this behind its checkpoint barrier —
    // assert the pre-barrier plan directly
    val p = Dedup.cappedPostings(Dedup.shingleFrame(spark, sf0001), 100)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"stop-list must anti-join as a broadcast build:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin"),
      "the tiny stop-list must never shuffle the postings for the anti-join")
    // only the stop-list's own groupBy(shingle) shuffles; the postings
    // side flows through with zero exchanges
    assert(exchanges(p) == 1, s"expected 1 exchange:\n${p.take(800)}")
  }

  test("q52: explicit-values pivot aggregates before it pivots") {
    val p = plan("q52_pivot")
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"pivot must keep map-side partial aggregation:\n${p.take(600)}")
    // Spark plans pivot as aggregate-then-pivot_first: the first
    // exchange moves partial aggregates, the second only
    // |groups × pivot values| rows — bounded by the output, never the
    // input. A third exchange would mean a value-discovery pre-pass
    // (no explicit values) or a lost partial agg.
    assert(exchanges(p) == 2, s"got ${exchanges(p)}:\n${p.take(600)}")
  }

  test("q53: one fraction-array percentile agg, not one buffer per fraction") {
    val p = plan("q53_percentiles")
    assert(exchanges(p) == 1, p.take(600))
    val calls = "percentile\\(".r.findAllIn(p).size
    // partial + final phase = 2 mentions; four separate aggs would be 8
    assert(calls <= 2, s"expected a single percentile buffer, saw $calls:\n${p.take(800)}")
  }

  test("q54: moment aggregates stay single-pass and two-phase") {
    val p = plan("q54_stats_agg")
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2, p.take(600))
    assert(exchanges(p) == 1, p.take(600))
  }

  test("q55: three distribution functions share one window and one shuffle") {
    val p = plan("q55_window_dist")
    assert(p.linesIterator.count(_.contains("Window ")) == 1,
      s"ntile/percent_rank/cume_dist must share a single Window operator:\n${p.take(800)}")
    assert(exchanges(p) == 1, p.take(600))
  }

  test("q57: dimension join broadcasts; string agg keeps partial aggregation") {
    val p = plan("q57_string_agg")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(exchanges(p) == 1,
      "only the groupBy(n_name) may shuffle — the nation join must not")
  }

  test("q58: image near-dup candidates come from the banded equi-join") {
    val p = plan("q58_image_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(800))
  }

  test("q189: video near-dup rides the same banded equi-join (r11)") {
    val p = plan("q189_video_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(800))
  }

  test("r11 additions never degrade to cartesian plans") {
    // q190's rank loop, q192's candidate join, q193's posting join and
    // q194's detector must all stay equi-keyed — a CartesianProduct or
    // un-hinted BroadcastNestedLoopJoin here is the O(n²) regression
    // their scaleNotes rule out
    for (q <- Seq("q190_textrank_keywords", "q192_lsh_recall_curve",
        "q193_winnowing_fingerprints", "q194_cusum_drift")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n${p.take(800)}")
      // the only BNLJ allowed is a broadcast of a 1-row frame (q194's
      // cut) — prove it from the plan tree, not the string
      if (p.contains("BroadcastNestedLoopJoin")) {
        assert(q == "q194_cusum_drift", s"$q:\n${p.take(800)}")
        assertBnljBuildsAreOneRow(q)
      }
    }
  }

  test("r12 additions never degrade to cartesian plans") {
    // the forecast/trend/SPC monitors and the profile fold all join
    // only on event_type or fold 1-row broadcast frames — a
    // CartesianProduct (or a non-1-row nested loop) here is the O(n²)
    // regression their scaleNotes rule out. q205/q206/q207 carry
    // q194-style 1-row cut/stat broadcasts, so a BNLJ of a broadcast
    // 1-row frame is the one allowed shape (the q194 precedent).
    for (q <- Seq("q205_seasonal_naive_backtest", "q206_theil_sen_trend",
        "q207_ewma_control_chart", "q208_incremental_profile_fold",
        "q210_profile_fold_hll", "q213_holt_winters_backtest",
        "q218_mann_kendall_test")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n${p.take(800)}")
      // any nested loop must broadcast a PROVABLY-1-row side: its build
      // subtree must hold a global (grouping-key-free) aggregate, the
      // q194-style cut frame. (Checking for a BuildLeft/BuildRight
      // token is vacuous — every BNLJ prints one — so walk the real
      // plan tree instead of the string.)
      assertBnljBuildsAreOneRow(q)
    }
  }

  /** Every BroadcastNestedLoopJoin in `name`'s physical plan must build
    * (broadcast) a subtree containing a grouping-key-free aggregate —
    * such an aggregate emits exactly one row, so the nested loop is a
    * scalar-attach, never a data×data cartesian.
    */
  private def assertBnljBuildsAreOneRow(name: String): Unit = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.aggregate.{
      HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    def globalAgg(p: SparkPlan): Boolean = expandPlan(p).exists {
      case h: HashAggregateExec       => h.groupingExpressions.isEmpty
      case o: ObjectHashAggregateExec => o.groupingExpressions.isEmpty
      case s: SortAggregateExec       => s.groupingExpressions.isEmpty
      case _                          => false
    }
    planNodes(name).foreach {
      case b: BroadcastNestedLoopJoinExec =>
        val build = b.buildSide match {
          case BuildLeft  => b.left
          case BuildRight => b.right
        }
        assert(globalAgg(build),
          s"$name: BNLJ builds a side with no global aggregate " +
            s"(not provably 1-row):\n${build.toString.take(600)}")
      case _ =>
    }
  }

  test("q60: hash sampling is a pure map-side scan — zero exchanges") {
    val p = plan("q60_hash_sample")
    assert(!p.contains("Exchange"),
      s"sampling must not shuffle:\n${p.take(600)}")
  }

  test("q62/q63: scrub and quality gates are pure map-side — zero exchanges") {
    for (q <- Seq("q62_pii_scrub", "q63_quality_filter")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q must not shuffle:\n${p.take(600)}")
    }
  }

  test("q64: sketch percentiles keep two-phase aggregation (mergeable sketch)") {
    val p = plan("q64_approx_percentiles")
    // GK sketches merge, so Spark must plan partial + final (the whole
    // point of the sketch at 100 TB: map-side combine before one
    // skinny shuffle of sketch state, never raw rows)
    assert(p.linesIterator.count(l =>
      l.contains("ObjectHashAggregate") || l.contains("SortAggregate") ||
        l.contains("HashAggregate")) >= 2, p.take(800))
    assert(exchanges(p) == 1, s"expected 1 exchange:\n${p.take(800)}")
  }

  test("q65: df and corpus-count broadcast back to tf; rank prunes in-shuffle") {
    val p = plan("q65_tfidf_top_terms")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the 1-row corpus count must broadcast, not shuffle")
    assert(p.contains("WindowGroupLimit"), "rk<=3 must prune in-shuffle")
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("q66: packing is ONE exchange on source + in-partition sort, no global sort") {
    val p = plan("q66_sequence_packing")
    assert(p.linesIterator.count(_.contains("Exchange")) == 1,
      s"expected exactly the repartition(source) exchange:\n${p.take(800)}")
    assert(!p.contains("Exchange rangepartitioning"),
      "secondary sort must stay within partitions — a global sort would " +
        "serialize the corpus through one range shuffle")
  }

  test("q61: component labeling never degrades to a cartesian product") {
    val p = plan("q61_dedup_groups")
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("q67: eval-set shingles broadcast; corpus side never shuffles pre-agg") {
    val p = plan("q67_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"test-set shingles must broadcast:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin"),
      "the corpus side must stream map-only through the broadcast join")
  }

  test("q68/q70/q73: repetition removal, chunking, classifier are zero-exchange") {
    for (q <- Seq("q68_repetition_removal", "q70_token_chunks",
        "q73_classifier_filter")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q must not shuffle:\n${p.take(600)}")
    }
  }

  test("q69: domain cap prunes to K in-shuffle via WindowGroupLimit") {
    val p = plan("q69_domain_cap")
    assert(p.contains("WindowGroupLimit"), p.take(800))
    assert(exchanges(p) == 1, s"expected the one source exchange:\n${p.take(800)}")
  }

  test("q71: the scan under the ORC round-trip is an ORC columnar scan") {
    val p = plan("q71_orc_scan")
    assert(p.toLowerCase.contains("orc"), p.take(800))
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"two-phase agg expected over the ORC scan:\n${p.take(800)}")
  }

  test("q72: lang filter prunes partitions at plan time, not per-row") {
    val p = plan("q72_partitioned_scan")
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("lang") && scanLine.contains("en"),
      s"expected lang=en in PartitionFilters:\n$scanLine")
    // the partition column must NOT survive as a post-scan row filter
    val dataFilters = p.linesIterator.filter(_.trim.startsWith("+- Filter"))
    assert(!dataFilters.exists(_.contains("lang")),
      s"lang must be partition-pruned, not row-filtered:\n${p.take(800)}")
  }

  test("q75/q78: token-stat top-Ks take TakeOrderedAndProject after partial agg") {
    for (q <- Seq("q75_vocab_topk", "q78_skipgram_counts")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q:\n${p.take(600)}")
      assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
        s"$q must partial-aggregate map-side:\n${p.take(600)}")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("SortMergeJoin"), s"$q must not join row sets:\n${p.take(600)}")
    }
  }

  test("q78: the split happens once, in a projection below the explode") {
    val p = plan("q78_skipgram_counts")
    // the O(n²) trap: split(...) inlined into the HOF lambda re-tokenizes
    // per element; the guard is a single split in its own Project
    assert(p.linesIterator.count(_.contains("split(lower")) == 1,
      s"expected exactly one split site:\n$p")
  }

  test("q79: bounds broadcast back to the corpus — no corpus-side shuffle") {
    val p = plan("q79_embedding_quantization")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row bounds must broadcast:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus must not shuffle into the bounds join:\n${p.take(800)}")
  }

  test("q80: navigation functions share one window after one exchange") {
    val p = plan("q80_window_navigation")
    assert(p.linesIterator.count(_.contains("Window")) == 1,
      s"three navigation fns must share ONE Window operator:\n${p.take(800)}")
    assert(exchanges(p) == 1, s"expected one shuffle on o_custkey:\n${p.take(800)}")
  }

  test("q81: correlated scalar subquery decorrelates into agg + join") {
    val p = plan("q81_correlated_scalar")
    assert(p.contains("HashAggregate"),
      s"subquery must become a standalone aggregate:\n${p.take(800)}")
    assert(p.contains("Join") || p.contains("SortMergeJoin") ||
      p.contains("BroadcastHashJoin"), p.take(800))
    // the outer filter must not leak into the subquery's aggregate input
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("q83: the dim filter prunes fact partitions at runtime (DPP)") {
    val p = plan("q83_dynamic_partition_pruning")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamic-pruning subquery on the partitioned scan:\n${p.take(1200)}")
  }

  test("q84: the dim filter becomes a runtime bloom filter on the fact scan") {
    val p = plan("q84_bloom_filter_join").toLowerCase
    assert(p.contains("might_contain"),
      s"expected an injected runtime bloom filter on the probe side:\n${p.take(1200)}")
    // the probe must sit below the join (scan side), not above it —
    // cheap structural check: might_contain appears after the last
    // SortMergeJoin/ShuffledHashJoin header line in the tree dump
    val joinAt = math.max(p.lastIndexOf("sortmergejoin"), p.lastIndexOf("shuffledhashjoin"))
    assert(joinAt >= 0 && p.indexOf("might_contain") > joinAt,
      "bloom probe should be on the scan side, below the join")
  }

  test("q86: merge/upsert is one full-outer sort-merge join on the key") {
    val p = plan("q86_merge_upsert")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
      s"expected a full-outer SMJ (full outer cannot broadcast):\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"), p.take(800))
    // the single allowed nested-loop join is the BROADCAST of the
    // 1-row max-key shift frame into the insert branch — constant
    // size by construction, never a data×data loop
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1,
      s"only the 1-row shift broadcast may nested-loop:\n${p.take(800)}")
  }

  test("q87: SCD2's two windows share one shuffle on user_id") {
    val p = plan("q87_scd2_history")
    // lag (change detection) and lead (interval close) use the same
    // partitioning+ordering — Spark must not re-exchange between them
    assert(exchanges(p) == 1, s"expected 1 shuffle on user_id:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("q88: funnel stages chain aggregations — no nested loops, partial aggs kept") {
    val p = plan("q88_funnel_stages")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(800))
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"stage aggregations must stay two-phase:\n${p.take(800)}")
  }

  test("q89: chunk dedup shuffles on chunk then doc_id — nothing else") {
    val p = plan("q89_chunk_dedup")
    // one exchange for the keeper window (partition by chunk), one for
    // the per-doc survival agg (group by doc_id)
    assert(exchanges(p) == 2, s"expected 2 exchanges:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("q90: lang budgets broadcast back; selection is one rank window per lang") {
    val p = plan("q90_lang_mix_resample")
    assert(p.contains("BroadcastHashJoin"),
      s"the 5-row budget table must broadcast:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the corpus must not shuffle into the budget join:\n${p.take(800)}")
  }

  test("q91: CDC keep-last prunes per-key histories in-shuffle") {
    val p = plan("q91_cdc_apply")
    assert(p.contains("WindowGroupLimit"),
      s"rank-1 keep-last must compact inside the exchange:\n${p.take(800)}")
    assert(exchanges(p) == 1, s"expected one shuffle on the key:\n${p.take(800)}")
  }

  test("q92: the SQL-string entry plans exactly like the DataFrame API would") {
    val p = plan("q92_sql_entry")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 must not global-sort:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin"),
      s"the filtered customer dim must broadcast:\n${p.take(800)}")
    val scanLine = p.linesIterator.find(l =>
      l.contains("PushedFilters") && l.contains("c_mktsegment")).getOrElse("")
    assert(scanLine.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"segment filter must push into the customer scan:\n$scanLine")
  }

  test("q94: shard shuffle partitions by shard — never a single-partition global sort") {
    val p = plan("q94_shard_shuffle")
    assert(exchanges(p) == 1, s"expected one hash exchange on shard:\n${p.take(800)}")
    assert(!p.contains("Exchange rangepartitioning") &&
      !p.contains("Exchange SinglePartition"),
      s"a global sort would serialize the corpus through one partition:\n${p.take(800)}")
  }

  test("q98: JSON encode/decode is a pure map-side projection — zero exchanges") {
    val p = plan("q98_json_nested_roundtrip")
    assert(!p.contains("Exchange"), s"must not shuffle:\n${p.take(600)}")
  }

  test("q101: fuzzy match compares only blocked candidates — equi-join, no cartesian") {
    val p = plan("q101_fuzzy_match_blocked")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the edit-distance kernel must only see blocked pairs:\n${p.take(800)}")
  }

  test("q101 hot-block cap: broadcast LEFT-ANTI strip, one exchange on blk") {
    // the registered query hides the cap behind its checkpoint
    // barrier — assert the pre-barrier plan directly (q59's stop-list
    // shape, applied to the blocking key)
    val p = Dedup.cappedBlocks(Dedup.blockedFrame(spark, sf0001), 256)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"hot-block stop-list must anti-join as a broadcast build:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin"),
      "the tiny stop-list must never shuffle the blocked frame for the anti-join")
    // only the stop-list's own groupBy(blk) shuffles; the blocked
    // frame flows through with zero exchanges
    assert(exchanges(p) == 1, s"expected 1 exchange:\n${p.take(800)}")
  }

  test("q74: binned range join is a shuffled equi-join, never a nested loop") {
    val p = plan("q74_range_join_binned")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"binning must produce an equi-join:\n${p.take(800)}")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(800))
    assert(p.contains("__bin") || p.contains("Join"), p.take(400))
  }

  test("q107: the composed pipeline never cartesians across any stage") {
    // the pipeline's only BroadcastNestedLoopJoin is the 1-row shift
    // frame (q86's idiom); candidate generation must stay an equi-join
    val p = plan("q107_curation_pipeline")
    assert(!p.contains("CartesianProduct"), p.take(1000))
  }

  test("q108: PMI top-K is TakeOrdered over broadcast totals, no global sort") {
    val p = plan("q108_pmi_collocations")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("q105: PQ codebook broadcasts; the slice fanout never cartesians") {
    val p = plan("q105_embedding_pq")
    assert(p.contains("BroadcastHashJoin"),
      s"the |labels|x8 sub-codebook must broadcast to the slice stream:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"), p.take(800))
    // per-(vec,sub) argmin must collapse map-side before its exchange
    // (partial_min_by), or the x80 candidate fanout rides the shuffle
    assert(p.contains("partial_min_by") || p.contains("partial min_by"),
      s"argmin must aggregate partially before the shuffle:\n${p.take(1200)}")
  }

  test("q106: ADC search broadcasts queries; corpus codes never cartesian") {
    val p = plan("q106_knn_pq_adc")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 5-query probe side must broadcast:\n${p.take(800)}")
    // top-k per query prunes in-shuffle, as q30/q13 do
    assert(p.contains("WindowGroupLimit"), p.take(800))
  }

  test("q112: pair scoring is a posting equi-join; df frame broadcasts") {
    val p = plan("q112_sparse_cosine_pairs")
    assert(!p.contains("CartesianProduct"), p.take(800))
    // the vocab-sized df frame must broadcast back onto the tf frame
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    // dot products accumulate via two-phase agg on the pair key
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2, p.take(800))
  }

  test("q113: each PageRank round is one hash join + one agg, no cartesian") {
    val p = plan("q113_pagerank_suppliers")
    assert(!p.contains("CartesianProduct"), p.take(800))
    // lineage is checkpoint-truncated: the final plan must NOT contain
    // the 5-fold unrolled join tree (≤ one join visible post-barrier)
    assert(p.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("BroadcastHashJoin")) <= 2,
      s"lineage not truncated:\n${p.take(1200)}")
  }

  test("q123: OHLC bars are one two-phase agg shuffle — no sort, no window") {
    val p = plan("q123_ohlc_bars")
    // min_by/max_by fold open/close into the same partial agg as
    // high/low — the row_number twin's per-series sort never appears
    assert(exchanges(p) == 1, s"expected exactly one hash exchange:\n${p.take(800)}")
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"expected partial+final HashAggregate:\n${p.take(800)}")
    assert(!p.contains("Window") && !p.contains("Sort ["),
      s"no window/sort may materialize the series:\n${p.take(800)}")
  }

  test("q124: z-order witness is one agg shuffle; quantizer maxes broadcast") {
    val p = plan("q124_zorder_layout")
    assert(!p.contains("CartesianProduct"), p.take(800))
    // the 1-row max frame joins via broadcast nested loop (no key), and
    // the only hash exchange is the bucket group-by
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(exchanges(p) == 1, s"expected exactly one hash exchange:\n${p.take(800)}")
  }

  test("q129: the salt reaches the exchange; no broadcast sneaks in") {
    val all = Relational.queries
    val df = all("q129_salted_skew_join").fn(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastHashJoin"),
      s"a broadcast join has no reducer to skew — salting must face a shuffle:\n${p.take(600)}")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"), p.take(600))
    assert(p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("_salt")),
      s"the exchange must partition on (k, _salt):\n${p.take(900)}")
  }

  test("q260: AQE splits the planted hot partition at runtime — skew=true " +
      "on the FINAL adaptive join, zero salt columns") {
    val all = Relational.queries
    val df = all("q260_skew_join_adaptive").fn(spark, sf0001)
    df.collect() // the skew split exists only in the FINAL adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("_salt"),
      s"q260 is the rewrite-free path — no salt column may appear:\n${p.take(900)}")
    assert(!p.contains("BroadcastHashJoin"),
      s"a broadcast join has no reducer to skew:\n${p.take(600)}")
    val joinLine = p.linesIterator.find(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
    assert(joinLine.exists(_.contains("skew=true")),
      s"the join node must carry AQE's skew=true marker:\n${p.take(1200)}")
  }

  test("q125: variant parse + shred stays in the scan stage's codegen") {
    val p = plan("q125_variant_shred")
    assert(exchanges(p) == 1, s"expected exactly one hash exchange:\n${p.take(800)}")
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"variant extractions must partial-aggregate map-side:\n${p.take(800)}")
    // parse_json/variant_get are native expressions, not UDFs — once
    // AQE finalizes, the parse+shred stage compiles into whole-stage
    // codegen, shown as "*(n)" stage markers in the final plan (the
    // pre-execution adaptive plan doesn't show codegen spans, so
    // materialize first)
    val df = Relational.queries("q125_variant_shred").fn(spark, sf0001)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
    assert(fin.linesIterator.exists(l =>
      l.contains("*(") && l.contains("parseJson")),
      s"variant parse must sit inside a codegen stage:\n${fin.take(900)}")
  }

  test("q137: BM25 top-k plans as TakeOrdered with HOF tf (no posting explode)") {
    val p = plan("q137_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must not global-sort:\n${p.take(800)}")
    assert(!p.contains("Generate explode"),
      "tf must come from the per-row filter HOF, not a posting explode")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row stats frame must broadcast")
  }

  test("q138: canonicalization spreads off the 1-task scan, then only the dedup groupBy shuffles") {
    val p = plan("q138_url_canonical_dedup")
    // r17/r18: an explicit-count repartition sits between the
    // single-row-group events scan and the 8-regex canonicalization
    // chain (guide §2.5 — without it the whole chain runs in ONE scan
    // task), so the plan owns exactly TWO exchanges: the spread
    // repartition and the canon_url groupBy. The repartition must be
    // the explicit REPARTITION_BY_NUM spelling (AQE would coalesce the
    // ~3 MB pre-fanout input back to one partition otherwise).
    assert(exchanges(p) == 2,
      s"spread repartition + canon_url groupBy, nothing else:\n${p.take(1000)}")
    assert(p.contains("REPARTITION_BY_NUM"),
      "the scan spread must be the explicit-count repartition")
    assert(p.contains("partial_count") || p.contains("partial_min"),
      "dedup aggregate must be two-phase (map-side partial)")
  }

  test("q139: the per-doc top-1 2-gram prunes in-shuffle (WindowGroupLimit)") {
    val p = plan("q139_repetition_signals")
    assert(p.contains("WindowGroupLimit"), p.take(1000))
  }

  test("q142: GD rounds never shuffle the feature frame") {
    val p = plan("q142_logreg_distill")
    assert(exchanges(p) == 0,
      s"the trainer is agg-over-broadcast only — no hash exchange:\n${p.take(1000)}")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row weight frame must broadcast")
  }

  test("q145: the Bloom bit-set broadcasts to the probe side") {
    val p = plan("q145_bloom_portable")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the ~2KB filter frame must broadcast, never shuffle the probes:\n${p.take(900)}")
  }

  test("q146: weighted sample plans as TakeOrdered (no global sort)") {
    val p = plan("q146_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"K-smallest keys must run as per-partition heaps:\n${p.take(900)}")
  }

  test("q141: COUNT/MIN/MAX answered from parquet footers (PushedAggregation)") {
    val df = Sources.queries("q141_metadata_agg_pushdown").fn(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedAggregation: [COUNT(*)"),
      s"aggregate must push into the scan:\n${p.take(1200)}")
    assert(p.contains("MIN(l_orderkey)") && p.contains("MAX(l_quantity)"),
      s"min/max must push into the scan:\n${p.take(1200)}")
    // and the fast path computes exactly what the row-level plan does
    val got = df.collect().head
    val want = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.min("l_orderkey"),
        org.apache.spark.sql.functions.max("l_orderkey"),
        org.apache.spark.sql.functions.min("l_quantity"),
        org.apache.spark.sql.functions.max("l_quantity"))
      .collect().head
    assert(got == want, s"footer stats disagree with row scan: $got vs $want")
  }

  test("q164: per-key top-k sample prunes in-shuffle via WindowGroupLimit") {
    val all = Streaming.queries
    val p = all("q164_reservoir_sample").fn(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"),
      s"rank filter must prune before the exchange:\n${p.take(1200)}")
    assert(exchanges(p) == 1, s"expected one exchange:\n${p.take(1200)}")
  }

  test("q160: the 4096-bucket log-ratio frame broadcasts into map-side scoring") {
    val p = plan("q160_dsir_importance")
    // scoring must be a broadcast join against the B-row ratio frame —
    // a shuffled join here would move the corpus-sized gram frame a
    // second time; no cartesian anywhere
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("q167: id assignment is one range exchange — no single-partition Window") {
    val all = Relational.queries ++ Curation.queries
    val df = all("q167_global_row_ids").fn(spark, sf0001)
    // the naive row_number() OVER (ORDER BY …) would plan a Window fed
    // by Exchange SinglePartition — the whole corpus through one task
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"no Window operator allowed:\n${p.take(1200)}")
    assert(!p.contains("SinglePartition"),
      s"no single-partition exchange allowed:\n${p.take(1200)}")
    // the sort lives in the RDD lineage behind the createDataFrame hop
    // — the DataFrame plan shows only Scan ExistingRDD, so count the
    // physical shuffles in the lineage: exactly ONE (the range
    // exchange), and the labeling is a ZippedWithIndex, not a shuffle
    val lineage = df.rdd.toDebugString
    assert(lineage.linesIterator.count(_.contains("ShuffledRowRDD")) == 1,
      s"expected exactly one shuffle in the lineage:\n$lineage")
    assert(lineage.contains("ZippedWithIndexRDD"),
      s"expected zipWithIndex labeling:\n$lineage")
  }

  test("q173: the recall cut is TakeOrdered and the rerank never sees the corpus") {
    val p = plan("q173_hybrid_retrieval")
    // the 50-candidate recall must plan as TakeOrderedAndProject (heap
    // per partition), and the rerank joins candidates to embeddings —
    // an equi-join, never a cartesian sweep of the embedding table
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("q174: LM scoring joins by key — no cartesian, partial-agg bigram counts") {
    val p = plan("q174_backoff_lm")
    assert(!p.contains("CartesianProduct"), p.take(1200))
    // the (doc, w1, w2, k) collapse must be two-phase: map-side partial
    // before its exchange, so the bigram shuffle moves types not tokens
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, s"expected partial+final HashAggregate:\n${p.take(800)}")
  }

  test("q175: posting build prunes to the query vocabulary via broadcast; " +
    "per-query top-5 prunes in-shuffle") {
    val p = plan("q175_bm25_multiquery")
    // the term-set prune must be a broadcast join ahead of the posting
    // aggregate — a shuffled prune would move the whole token stream
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(p.contains("WindowGroupLimit"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("q176: every window shares the one user_id exchange") {
    val all = Relational.queries ++ Streaming.queries
    val p = all("q176_next_event_examples").fn(spark, sf0001)
      .queryExecution.executedPlan.toString
    // hash(user_id) satisfies the (user_id, sid) clustering of the
    // per-session windows, so the whole construction pays ONE shuffle
    assert(exchanges(p) == 1, s"expected one exchange:\n${p.take(1600)}")
    assert(!p.contains("SinglePartition"),
      s"no single-partition window allowed:\n${p.take(1600)}")
  }

  test("q184: the Q5 join tree broadcasts its dims and never goes cartesian") {
    val p = plan("q184_tpch_q5_shape")
    val bhj = p.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(bhj >= 2, s"nation and region must broadcast:\n${p.take(1600)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1600))
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, s"final agg must be two-phase:\n${p.take(800)}")
    // the half-open 1997 range must reach the orders parquet scan as
    // min/max-prunable bounds — a year(...) wrapper would leave only
    // IsNotNull here and force a full-year-span scan at 100 TB
    val ordersScan = p.linesIterator
      .find(l => l.contains("PushedFilters") && l.contains("o_orderdate"))
      .getOrElse("")
    assert(ordersScan.contains("GreaterThanOrEqual(o_orderdate") &&
      ordersScan.contains("LessThan(o_orderdate"),
      s"date bounds must push into the orders scan: $ordersScan")
  }

  test("q186: the DSIR threshold cut is windowless — selection survives " +
    "any corpus size") {
    val p = plan("q186_dsir_threshold")
    // q160's ground-truth spelling global-ranks in one partition; the
    // scale path must carry NO window operator at all — the cut is a
    // mergeable quantile sketch broadcast back over the scores
    assert(!p.contains("Window"), s"no window allowed:\n${p.take(1600)}")
    // threshold agg is two-phase (map-side partial GK sketches merge)
    val aggs = p.linesIterator.count(_.contains("ObjectHashAggregate"))
    assert(aggs >= 2, s"expected partial+final sketch agg:\n${p.take(1200)}")
    // the 1-row threshold frame broadcasts; scores are never shuffled
    // for the comparison
    assert(p.contains("BroadcastNestedLoopJoin BuildRight, Cross"),
      s"threshold must broadcast:\n${p.take(1200)}")
  }

  test("q187: both correlated EXISTS decorrelate into semi/anti joins — " +
    "never re-executed per row, never cartesian") {
    val p = plan("q187_tpch_q21_shape")
    assert(p.contains("LeftSemi"),
      s"EXISTS must become a semi join:\n${p.take(1600)}")
    assert(p.contains("LeftAnti"),
      s"NOT EXISTS must become an anti join:\n${p.take(1600)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the <> residual must ride the l_orderkey equi key:\n${p.take(1600)}")
    // the problem-line predicate reaches the fact scan
    val scan = p.linesIterator
      .find(l => l.contains("PushedFilters") && l.contains("l_returnflag,R"))
    assert(scan.nonEmpty || p.contains("EqualTo(l_returnflag,R)"),
      s"returnflag filter must push into the lineitem scan:\n${p.take(1600)}")
  }

  test("q203: the whole profile is one scan — multi-distinct via a " +
    "single Expand, never a rescan per column") {
    val p = plan("q203_column_profiler")
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("orders"))
    assert(scans == 1, s"profiler must scan orders exactly once:\n${p.take(1600)}")
    assert(p.contains("Expand"),
      s"the four exact distincts must share one Expand:\n${p.take(1600)}")
  }

  test("q201: the prefix-filter join rides the token equi key — " +
    "never all-pairs, length filter as residual") {
    val p = plan("q201_ppjoin_prefix_filter")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from the prefix-token equi join:\n${p.take(1600)}")
    // the df aggregate partial-aggregates map-side before its shuffle
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, s"df count must be two-phase:\n${p.take(1200)}")
  }

  /** `name`'s plan must cut with TakeOrderedAndProject (per-partition
    * heaps, never a global sort) and any WindowExec must sit ABOVE a
    * TakeOrdered/limit — i.e. the single-partition rank touches
    * exactly K rows, never the corpus.
    */
  private def assertTakeOrderedThenKRowWindow(name: String): Unit = {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.{GlobalLimitExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val nodes = planNodes(name)
    assert(nodes.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      s"$name: no TakeOrderedAndProject:\n${nodes.head.toString.take(1200)}")
    val windows = nodes.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"$name: rank window missing")
    windows.foreach { w =>
      val sub = w.children.flatMap(expandPlan)
      assert(sub.exists(n => n.isInstanceOf[TakeOrderedAndProjectExec] ||
          n.isInstanceOf[GlobalLimitExec]),
        s"$name: window ranks an un-limited frame:\n${w.toString.take(1200)}")
    }
  }

  test("q146: the weighted-sample cut plans as TakeOrderedAndProject and " +
    "the only window ranks the K-row frame (VERDICT r12 item 4)") {
    assertTakeOrderedThenKRowWindow("q146_weighted_sample")
  }

  test("q211: the bucketed calibration is WINDOWLESS — sketch aggregate, " +
    "broadcast boundaries, map-side bucketer (q155's 100 TB spelling)") {
    import org.apache.spark.sql.execution.window.WindowExec
    val nodes = planNodes("q211_calibration_bins_bucketed")
    assert(!nodes.exists(_.isInstanceOf[WindowExec]),
      s"no Window allowed:\n${plan("q211_calibration_bins_bucketed").take(1600)}")
    val p = plan("q211_calibration_bins_bucketed")
    assert(!p.contains("CartesianProduct"), p.take(1200))
    // the only nested loops are the 1-row weight/boundary broadcasts
    assertBnljBuildsAreOneRow("q211_calibration_bins_bucketed")
  }

  test("q222: the thresholded budget sampler is WINDOWLESS — broadcast " +
    "budgets, map-side hash compare (q90's 100 TB spelling, r14)") {
    import org.apache.spark.sql.execution.window.WindowExec
    val nodes = planNodes("q222_budget_sample_thresholded")
    assert(!nodes.exists(_.isInstanceOf[WindowExec]),
      s"no Window allowed:\n${plan("q222_budget_sample_thresholded").take(1600)}")
    val p = plan("q222_budget_sample_thresholded")
    assert(!p.contains("CartesianProduct"), p.take(1200))
    // the only nested loop is the 1-row total-weight broadcast
    assertBnljBuildsAreOneRow("q222_budget_sample_thresholded")
    // budgets broadcast to the docs side — the corpus never shuffles
    assert(p.contains("BroadcastHashJoin"),
      s"per-lang budgets must broadcast:\n${p.take(1600)}")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must not shuffle for the budget join:\n${p.take(1600)}")
  }

  test("q228: the exact-budget sampler's rank window sorts only the " +
    "materialized boundary slice — the corpus scan never sits under the " +
    "window (q90's exact 100 TB spelling)") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val nodes = planNodes("q228_budget_sample_exact_sliced")
    val windows = nodes.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "the slice rank window must exist")
    // under the window, the corpus parquet scan may appear ONLY inside
    // a broadcast build (the |langs|-row guarded-budget frame) — the
    // STREAMED side the window sorts must be the checkpointed slice
    def walk(p: SparkPlan, underBroadcast: Boolean): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, underBroadcast)
      case b: BroadcastExchangeExec => b.children.foreach(walk(_, true))
      case f: FileSourceScanExec =>
        assert(underBroadcast || !f.toString.contains("documents.parquet"),
          s"the corpus scan feeds the window's streamed side:\n" +
            f.toString.take(600))
      case other => other.children.foreach(walk(_, underBroadcast))
    }
    windows.foreach(w => w.children.foreach(walk(_, false)))
    val p = plan("q228_budget_sample_exact_sliced")
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assertBnljBuildsAreOneRow("q228_budget_sample_exact_sliced")
  }

  test("q215: bucketed Borda fusion has no corpus-sized window — the only " +
    "window ranks the TakeOrdered K-row frame (q158's 100 TB spelling)") {
    assertTakeOrderedThenKRowWindow("q215_rank_fusion_bucketed")
    val p = plan("q215_rank_fusion_bucketed")
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assertBnljBuildsAreOneRow("q215_rank_fusion_bucketed")
  }

  test("q198: the approx robust gate is sketch-only — two-phase mergeable " +
    "median aggregates, no window, no per-group exact sort") {
    val p = plan("q198_robust_gate_approx")
    assert(!p.contains("Window"), s"no window allowed:\n${p.take(1600)}")
    // each approx_percentile is a partial+final ObjectHashAggregate
    // pair (map-side GK sketches merge at the reducer)
    val aggs = p.linesIterator.count(_.contains("ObjectHashAggregate"))
    assert(aggs >= 4, s"expected two two-phase sketch aggs:\n${p.take(1600)}")
    assert(!p.contains("CartesianProduct"), p.take(1200))
    // the median frames reach the cents frame as broadcasts — the
    // data-sized side never shuffles for the compare
    assert(p.contains("BroadcastHashJoin"),
      s"yardsticks must broadcast:\n${p.take(1600)}")
  }

  test("q197: the IN-over-aggregated-subquery decorrelates to " +
    "aggregate-then-semi-join — never per-row, never cartesian") {
    val p = plan("q197_tpch_q18_shape")
    // the HAVING-cut subquery must become a semi join on the order key
    assert(p.contains("LeftSemi"),
      s"IN must become a semi join:\n${p.take(1600)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the IN rewrite must ride the l_orderkey equi key:\n${p.take(1600)}")
    // the subquery's quantity sum is its own two-phase aggregate that
    // runs BEFORE the semi join consumes it (aggregate-then-semi-join,
    // not a re-executed correlated probe)
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 4,
      s"subquery agg + outer agg must both be two-phase:\n${p.take(1600)}")
    assert(p.contains("sum_qty") || p.contains("sum(cast(l_quantity"),
      s"the HAVING aggregate must appear in-plan:\n${p.take(1600)}")
  }

  test("q202: the nested IN folds to a linear semi-join tree — two " +
    "LeftSemi, no re-execution, no cartesian") {
    val p = plan("q202_tpch_q20_shape")
    val semis = p.linesIterator.count(_.contains("LeftSemi"))
    assert(semis >= 2,
      s"both membership tests must become semi joins:\n${p.take(1600)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"chained INs must ride their equi keys:\n${p.take(1600)}")
    // the part predicate reaches the part scan (prune-first)
    assert(p.contains("EqualTo(p_type,PROMO)") || p.contains("p_type,PROMO"),
      s"part filter must push into the scan:\n${p.take(1600)}")
  }

  test("q209: NOT IN over the nullable order-key plans as a NULL-AWARE " +
    "anti join — not a plain LeftAnti (the Q22 trap shape, r13)") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    val nodes = planNodes("q209_tpch_q22_shape")
    val naaj = nodes.collect {
      case b: BroadcastHashJoinExec
        if b.joinType == LeftAnti && b.isNullAwareAntiJoin => b
    }
    assert(naaj.nonEmpty,
      "expected a single-key BroadcastHashJoin LeftAnti with " +
        s"isNullAwareAntiJoin=true:\n${plan("q209_tpch_q22_shape").take(1600)}")
    // and never the nested-loop fallback or a cartesian
    val p = plan("q209_tpch_q22_shape")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }

  test("q216: the correlated scalar aggregate decorrelates to ONE " +
    "per-key aggregate join — never a per-row rescan of the fact") {
    val p = plan("q216_tpch_q17_shape")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    // the per-partkey aggregate is two-phase, and the outer revenue
    // aggregate exists too — at least 2 distinct aggregates, each
    // partial+final
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 4, s"expected two two-phase aggregates:\n${p.take(1600)}")
    // RewriteCorrelatedScalarSubquery decorrelates the count and sum
    // subqueries INDEPENDENTLY (MergeScalarSubqueries only merges
    // uncorrelated ones), so the fact scans exactly three times —
    // outer + one per rewritten aggregate; a fourth scan would mean a
    // re-execution regression
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("lineitem"))
    assert(scans == 3,
      s"expected outer + two decorrelated aggregates = 3 lineitem " +
        s"scans, got $scans:\n${p.take(1600)}")
  }

  test("q220: the pre-aggregated Q17 spelling scans the fact exactly " +
    "twice — one fewer pass than q216's automatic decorrelation") {
    val p = plan("q220_tpch_q17_preagg")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("lineitem"))
    assert(scans == 2,
      s"expected outer + ONE manual aggregate = 2 lineitem scans, " +
        s"got $scans:\n${p.take(1600)}")
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 4, s"both aggregates must be two-phase:\n${p.take(1200)}")
  }

  test("q219: the arg-max-over-view plans as one two-phase aggregate + " +
    "a 1-row max subquery — no cartesian, no sort") {
    val p = plan("q219_tpch_q15_shape")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, s"revenue must be two-phase:\n${p.take(1200)}")
    // the ship-date quarter reaches the scan
    assert(p.contains("l_shipdate"), p.take(800))
    val scanLine = p.linesIterator.find(l =>
      l.contains("PushedFilters") && l.contains("l_shipdate")).getOrElse("")
    assert(scanLine.contains("GreaterThanOrEqual(l_shipdate") ||
      scanLine.contains("LessThan(l_shipdate"),
      s"date range not pushed: ${scanLine.take(400)}")
    // ties kept: no LIMIT/TakeOrdered anywhere (the arg-max is an
    // equality filter, not a top-1 sort)
    assert(!p.contains("TakeOrderedAndProject") && !p.contains("GlobalLimit"),
      p.take(800))
  }

  test("q221: the correlated scalar MIN over a multi-table subquery " +
    "decorrelates to ONE per-key aggregate over the joined inner tree — " +
    "two fact scans, no cartesian, no per-row re-execution (Q2 shape, r14)") {
    val p = plan("q221_tpch_q2_shape")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1600))
    // outer probe + the ONE decorrelated min-over-join-tree = exactly
    // two offer scans; a third would mean the rewrite re-executed
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("lineitem"))
    assert(scans == 2,
      s"expected outer + decorrelated aggregate = 2 lineitem scans, " +
        s"got $scans:\n${p.take(1600)}")
    // the min is a two-phase aggregate grouped by the correlation key
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, s"per-partkey min must be two-phase:\n${p.take(1600)}")
    // the region predicate prunes BOTH region scans — the outer chain
    // AND inside the decorrelated subquery (the filter lives in the
    // min's semantics, not just the outer join)
    val regionScans = p.linesIterator.filter(l =>
      l.contains("Scan parquet") && l.contains("region.parquet")).toList
    assert(regionScans.size == 2 &&
      regionScans.forall(_.contains("EqualTo(r_name,EUROPE)")),
      s"r_name must push into both region scans:\n${regionScans.mkString("\n")}")
    // arg-min-with-ties: equality filter, never a top-1 sort
    assert(!p.contains("TakeOrderedAndProject") && !p.contains("GlobalLimit"),
      p.take(800))
  }

  test("q250: every PageRank round joins WITHOUT re-shuffling the edge " +
    "frame — rank side builds a ShuffledHashJoin, edges stream from the " +
    "checkpoint (q113's 100 TB spelling, r15)") {
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{
      BroadcastHashJoinExec, ShuffledHashJoinExec}
    val s2 = ChildSessions.get(spark, "no-broadcast-no-aqe") { c =>
      c.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      c.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      c.conf.set("spark.sql.adaptive.enabled", "false")
    }
    var rounds = 0
    Analytics.pagerankSuppliers(s2, sf0001, prePartition = true,
      roundProbe = { df =>
        rounds += 1
        val nodes = expandPlan(df.queryExecution.executedPlan)
        val shj = nodes.collect { case j: ShuffledHashJoinExec => j }
        assert(shj.size == 1,
          s"round $rounds: rank join must be ONE ShuffledHashJoin:\n" +
            nodes.head.toString.take(1200))
        assert(!nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
          s"round $rounds: no broadcast under the at-scale premise")
        // the join's subtree holds ZERO shuffles: the edges carry
        // their staged HashPartitioning(u) through the checkpoint and
        // the rank frame arrives already partitioned by node (round 1:
        // the distinct; later rounds: the previous groupBy) — a
        // round's ONLY exchange is the v-grouped partials ABOVE the
        // join
        val exch = expandPlan(shj.head).count(_.isInstanceOf[ShuffleExchangeExec])
        assert(exch == 0,
          s"round $rounds: the join must move nothing, " +
            s"got $exch exchanges:\n${shj.head.toString.take(1200)}")
        assert(shj.head.children.forall(c =>
            expandPlan(c).exists(_.isInstanceOf[RDDScanExec])),
          s"round $rounds: both sides must stream from checkpoints:\n" +
            shj.head.toString.take(1200))
      }).collect()
    assert(rounds == 5, s"probe must see all 5 rounds, saw $rounds")
  }

  test("q253: bucketed edges keep every round's join exchange-free on " +
    "the EDGE side with AQE ON — the carrier that survives adaptive " +
    "re-planning (r16)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{
      BroadcastHashJoinExec, ShuffledHashJoinExec}
    val s2 = ChildSessions.get(spark, "no-broadcast") { c =>
      c.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      c.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    }
    assert(s2.conf.get("spark.sql.adaptive.enabled") == "true",
      "the whole point of q253 is AQE staying ON")
    val ew = Sources.bucketedFrame(s2, sf0001, "predges", "u",
      Analytics.supplierEdgeProbs(s2, sf0001))
    var rounds = 0
    Analytics.pagerankLoop(ew,
      (e, r) => e.join(r.hint("shuffle_hash"), e("u") === r("node")),
      roundProbe = { df =>
        rounds += 1
        // materialize first, then inspect the FINAL adaptive tree —
        // the assertion must hold after AQE has had its say
        df.collect()
        val root = df.queryExecution.executedPlan
        assert(expandPlan(root).exists(_.isInstanceOf[AdaptiveSparkPlanExec]),
          s"round $rounds must execute adaptively:\n${root.toString.take(600)}")
        val nodes = expandPlan(root)
        val shj = nodes.collect { case j: ShuffledHashJoinExec => j }
        assert(shj.size == 1,
          s"round $rounds: rank join must be ONE ShuffledHashJoin:\n" +
            root.toString.take(1200))
        assert(!nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
          s"round $rounds: no broadcast under the at-scale premise")
        // the edge side streams straight off the bucket files: its
        // subtree holds the bucketed scan and ZERO exchanges — AQE
        // cannot re-plan layout that is scan metadata
        val edgeSides = shj.head.children.filter(c =>
          expandPlan(c).exists {
            case f: FileSourceScanExec => f.bucketedScan
            case _ => false
          })
        assert(edgeSides.size == 1,
          s"round $rounds: exactly one side must be the bucketed scan:\n" +
            shj.head.toString.take(1200))
        assert(!expandPlan(edgeSides.head)
            .exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"round $rounds: the edge side must never re-shuffle:\n" +
            edgeSides.head.toString.take(1200))
      }).collect()
    assert(rounds == 5, s"probe must see all 5 rounds, saw $rounds")
  }

  test("q244: the EXISTS-then-COUNT decorrelates to one semi join with " +
    "the lateness residual — no cartesian, no re-execution (Q4 shape, r15)") {
    val p = plan("q244_tpch_q4_shape")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1600))
    assert(p.contains("LeftSemi"), s"EXISTS must plan as a semi join:\n${p.take(1600)}")
    // the quarter cut reaches the orders scan
    val scans = p.linesIterator.filter(_.contains("PushedFilters")).toList
    assert(scans.exists(s => s.contains("o_orderdate") &&
      s.contains("GreaterThanOrEqual")), scans.mkString("\n"))
  }

  test("q245: all three predicates reach the lineitem scan and the fold " +
    "is one two-phase aggregate (Q6 shape, r15)") {
    val p = plan("q245_tpch_q6_shape")
    // the plan STRING truncates the PushedFilters list — read the scan
    // node's untruncated metadata instead
    import org.apache.spark.sql.execution.FileSourceScanExec
    val pushed = planNodes("q245_tpch_q6_shape")
      .collect { case f: FileSourceScanExec => f.metadata("PushedFilters") }
      .mkString(" ")
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate") &&
      pushed.contains("LessThan(l_quantity,24"),
      s"date + quantity must push down: ${pushed.take(400)}")
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2, p.take(800))
    assert(!p.contains("Exchange hashpartitioning"),
      s"a scalar fold needs no hash exchange:\n${p.take(800)}")
  }

  test("q246: both priority branches fold in ONE pass over the joined " +
    "frame — single aggregate, returnflag pushed (Q12 shape, r15)") {
    val df = allQueries("q246_tpch_q12_shape").fn(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(1200))
    // one scan per table — the two CASE branches never fork the plan
    assert(finalScanCount(df, "lineitem") == 1 &&
      finalScanCount(df, "orders") == 1,
      s"conditional counts must not re-scan:\n${p.take(1200)}")
    val scans = p.linesIterator.filter(_.contains("PushedFilters")).toList
    assert(scans.exists(_.contains("In(l_returnflag")), scans.mkString("\n"))
  }

  test("q247: part broadcasts and num/den/count fold in one aggregate " +
    "(Q14 shape, r15)") {
    val df = allQueries("q247_tpch_q14_shape").fn(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"the part dimension must broadcast:\n${p.take(1200)}")
    assert(finalScanCount(df, "lineitem") == 1,
      s"the share must be one fact pass:\n${p.take(1200)}")
  }

  test("q248: the blacklist is an anti join and the distinct-count " +
    "partial-collapses before the attrs shuffle (Q16 shape, r15)") {
    val p = plan("q248_tpch_q16_shape")
    assert(!p.contains("CartesianProduct"), p.take(1600))
    assert(p.contains("LeftAnti"),
      s"NOT IN over a non-nullable key must plan as LeftAnti:\n${p.take(1600)}")
    // distinct-count = the two-aggregate expand-free plan: a partial
    // distinct on (attrs, suppkey) below the final count
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 3,
      s"distinct-count must partial-collapse map-side:\n${p.take(1600)}")
    val scans = p.linesIterator.filter(_.contains("PushedFilters")).toList
    assert(scans.exists(s => s.contains("In(p_size") ||
      s.contains("Not(EqualTo(p_brand")), scans.mkString("\n"))
  }

  test("q243: the windowless Zipf fit has NO Window — per-source heads " +
    "come from TakeOrderedAndProject legs (q172's 100 TB spelling, r15)") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.window.WindowExec
    val nodes = planNodes("q243_zipf_topk_windowless")
    assert(!nodes.exists(_.isInstanceOf[WindowExec]),
      "no Window allowed anywhere in the windowless spelling")
    assert(nodes.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      "per-source heads must plan as TakeOrderedAndProject")
    val p = plan("q243_zipf_topk_windowless")
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("q238: the two-measure profit fold scans the fact exactly twice " +
    "(probe + cost aggregate), broadcasts every dim, no cartesian " +
    "(Q9 shape, r15)") {
    val df = allQueries("q238_tpch_q9_shape").fn(spark, sf0001)
    df.collect() // materialize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1600))
    // probe + the one per-(partkey, suppkey) cost fold = exactly two
    // fact scans; a third would mean the measure source re-derived
    assert(finalScanCount(df, "lineitem") == 2,
      s"expected probe + cost fold = 2 lineitem scans:\n${p.take(1600)}")
    // dims broadcast; the cost join is the only co-keyed exchange pair
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    // the part cut reaches the part scan (probe pruning)
    val partScans = p.linesIterator.filter(l =>
      l.contains("Scan parquet") && l.contains("part.parquet")).toList
    assert(partScans.exists(_.contains("StringContains(p_name,widget)")),
      s"p_name LIKE must push into the part scan:\n${partScans.mkString("\n")}")
    // the profit fold is a two-phase aggregate
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      p.take(1200))
  }

  /** the q239/q240 contract: TakeOrderedAndProject sits ABOVE the
    * final HashAggregate (bounded per-partition heaps over the groups
    * frame) and NO Sort node sits above any aggregate — i.e. the
    * top-k never pays a global sort of the groups. Sorts BELOW the
    * aggregate (an SMJ's) are irrelevant and allowed.
    */
  private def assertHeapAboveAggregate(name: String): Unit = {
    import org.apache.spark.sql.execution.{SortExec, SparkPlan,
      TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    val df = allQueries(name).fn(spark, sf0001)
    df.collect()
    val nodes = expandPlan(df.queryExecution.executedPlan)
    val takes = nodes.collect { case t: TakeOrderedAndProjectExec => t }
    assert(takes.nonEmpty, s"$name: no TakeOrderedAndProject:\n" +
      nodes.head.toString.take(1200))
    assert(takes.exists(t =>
        expandPlan(t).exists(_.isInstanceOf[BaseAggregateExec])),
      s"$name: the heap must sit ABOVE the final aggregate")
    val sortsAboveAgg = nodes.collect {
      case s: SortExec
          if expandPlan(s).exists(_.isInstanceOf[BaseAggregateExec]) => s
    }
    assert(sortsAboveAgg.isEmpty,
      s"$name: global sort of the groups frame:\n" +
        sortsAboveAgg.map(_.toString.take(400)).mkString("\n"))
  }

  test("q239: top-10-by-revenue plans as a heap above the final " +
    "aggregate — never a global sort of the groups (Q3 shape, r15)") {
    assertHeapAboveAggregate("q239_tpch_q3_shape")
    // both date predicates reach their scans
    val p = plan("q239_tpch_q3_shape")
    val scans = p.linesIterator.filter(_.contains("PushedFilters")).toList
    assert(scans.exists(_.contains("LessThan(o_orderdate")) &&
      scans.exists(_.contains("GreaterThan(l_shipdate")),
      s"date cuts must push down:\n${scans.mkString("\n")}")
  }

  test("q240: customer-grain top-20 heaps the |customers| group frame " +
    "(Q10 shape, r15)") {
    assertHeapAboveAggregate("q240_tpch_q10_shape")
    val p = plan("q240_tpch_q10_shape")
    assert(!p.contains("CartesianProduct"), p.take(1200))
    val scans = p.linesIterator.filter(_.contains("PushedFilters")).toList
    assert(scans.exists(s => s.contains("EqualTo(l_returnflag,R)")),
      s"returnflag must push into the lineitem scan:\n${scans.mkString("\n")}")
  }

  test("q225: the OR-of-conjunctions join extracts the common equi-key " +
    "as a hash join and pushes each side's disjunction into its scan " +
    "(Q19 shape, r14)") {
    val p = plan("q225_tpch_q19_shape")
    // (a) the join must ride p_partkey = l_partkey — a hash join,
    // never a nested loop over the disjunction
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the common conjunct must become the join key:\n${p.take(1600)}")
    val joinLine = p.linesIterator.find(l =>
      l.contains("HashJoin") || l.contains("SortMergeJoin")).getOrElse("")
    assert(joinLine.contains("p_partkey") && joinLine.contains("l_partkey"),
      s"join key must be the partkey equality: ${joinLine.take(400)}")
    // (b) each side's OR-of-local-predicates reaches its parquet scan
    val partScan = p.linesIterator.find(l =>
      l.contains("Scan parquet") && l.contains("part.parquet")).getOrElse("")
    assert(partScan.contains("Or(") && partScan.contains("p_brand"),
      s"part disjunction not pushed: ${partScan.take(600)}")
    val liScan = p.linesIterator.find(l =>
      l.contains("Scan parquet") && l.contains("lineitem")).getOrElse("")
    assert(liScan.contains("Or(") && liScan.contains("l_quantity"),
      s"lineitem disjunction not pushed: ${liScan.take(600)}")
    // the common l_returnflag conjunct factors out of the OR and
    // pushes as a plain equality
    assert(liScan.contains("EqualTo(l_returnflag,N)"),
      s"common conjunct not factored: ${liScan.take(600)}")
    // (c) the full OR stays as the residual on the join's survivors
    assert(p.contains("Or(") || p.linesIterator.exists(l =>
      l.contains("Filter") && l.contains("||")),
      s"residual disjunction missing:\n${p.take(1600)}")
  }

  test("q230: the ON-clause predicate prunes the NULLABLE side's scan, " +
    "the outer join keeps the zero class, both aggregates two-phase " +
    "(Q13 shape, r14)") {
    val p = plan("q230_tpch_q13_shape")
    // the join stays an outer join — the zero-order class must survive
    val joinLine = p.linesIterator.find(_.contains("HashJoin")).getOrElse("")
    assert(joinLine.contains("LeftOuter") || joinLine.contains("RightOuter"),
      s"expected an outer hash join: ${joinLine.take(400)}")
    // the priority predicate pushes into the ORDERS parquet scan —
    // filtering the nullable side below an outer join is
    // semantics-preserving, and it is the whole plan at scale
    val ordersScan = p.linesIterator.find(l =>
      l.contains("Scan parquet") && l.contains("orders.parquet")).getOrElse("")
    assert(ordersScan.contains("EqualTo(o_orderpriority,5-LOW)"),
      s"ON-clause predicate not pushed to the orders scan: ${ordersScan.take(600)}")
    // the PRESERVED side scans unfiltered — every customer must reach
    // the zero class (pushing anything here would be the rewrite bug
    // this query exists to catch)
    val custScan = p.linesIterator.find(l =>
      l.contains("Scan parquet") && l.contains("customer.parquet")).getOrElse("")
    assert(custScan.contains("PushedFilters: []"),
      s"customer side must stay unfiltered: ${custScan.take(600)}")
    // count-of-counts: per-customer then per-count, each two-phase
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 4, s"expected two two-phase aggregates, got $aggs")
  }

  test("q232: the HAVING scalar subqueries merge into ONE shared tree " +
    "above the final aggregate (Q11 shape, r14)") {
    // the Reused* markers only appear in the final adaptive plan
    val df = allQueries("q232_tpch_q11_shape").fn(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1600))
    // the cut is a Filter ABOVE the final aggregate referencing the
    // 1-row scalar — HAVING placement, not a re-join
    val filterLine = p.linesIterator.find(l =>
      l.contains("Filter") && l.contains("Subquery")).getOrElse("")
    assert(filterLine.contains("sum("),
      s"expected the HAVING filter above the aggregate: ${filterLine.take(400)}")
    // MergeScalarSubqueries: |parts| count and the total are ONE
    // subquery tree, the second reference a ReusedSubquery
    assert(p.contains("ReusedSubquery"),
      s"the two HAVING scalars must merge into one subquery:\n${p.take(1600)}")
    // Catalyst's automatic answer is exactly two passes over the fact
    // (outer per-partkey agg + the merged scalar tree)
    val liScans = finalScanCount(df, "lineitem")
    assert(liScans == 2, s"expected 2 lineitem scans, got $liScans")
    // the dimension broadcasts are shared across the trees
    assert(p.contains("ReusedExchange"),
      s"dimension broadcasts must be reused:\n${p.take(1600)}")
    // nation cut reaches its scan
    val nScan = p.linesIterator.find(l =>
      l.contains("Scan parquet") && l.contains("nation.parquet")).getOrElse("")
    assert(nScan.contains("EqualTo(n_name,NATION_12)"), nScan.take(400))
  }

  test("q234: the cross-dimension pair disjunction derives per-scan " +
    "Or-filters and stays a residual on the dims join (Q7 shape, r14)") {
    val p = plan("q234_tpch_q7_shape")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1600))
    // the implied per-side disjunction reaches EVERY nation scan
    val nScans = p.linesIterator.filter(l =>
      l.contains("Scan parquet") && l.contains("nation.parquet")).toList
    // branch order differs per side (n1 pushes 3-then-8, n2 8-then-3)
    assert(nScans.nonEmpty &&
      nScans.forall(l => l.contains("Or(EqualTo(n_name,NATION_") &&
        l.contains("EqualTo(n_name,NATION_3)") &&
        l.contains("EqualTo(n_name,NATION_8)")),
      s"derived disjunction not pushed into the nation scans:\n${nScans.mkString("\n")}")
    // the full cross-dimension OR survives as the join's residual
    // condition (it references BOTH nations, so no scan can host it)
    val residualJoin = p.linesIterator.find(l =>
      l.contains("HashJoin") && l.contains("NATION_3") &&
        l.contains("NATION_8")).getOrElse("")
    assert(residualJoin.nonEmpty,
      s"cross-dimension OR must ride the join as a residual:\n${p.take(1600)}")
    // the fact scans stay clean — nothing nation-named leaks onto them
    val liScan = p.linesIterator.find(l =>
      l.contains("Scan parquet") && l.contains("lineitem.parquet")).getOrElse("")
    assert(!liScan.contains("NATION"), liScan.take(400))
  }

  test("q235: market share is ONE pass — num and den are CASE branches " +
    "of the same aggregate, market cuts pushed (Q8 shape, r14)") {
    val df = allQueries("q235_tpch_q8_shape").fn(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1600))
    // numerator = CASE branch inside the same partial aggregate as
    // the denominator — never a second scan of the market
    val aggLine = p.linesIterator.find(l =>
      l.contains("partial_sum(CASE WHEN")).getOrElse("")
    assert(aggLine.contains("partial_sum(rev_e4") ||
      aggLine.matches(".*partial_sum\\(CASE WHEN.*partial_sum\\(.*"),
      s"num/den must share one partial aggregate: ${aggLine.take(400)}")
    assert(finalScanCount(df, "lineitem") == 1,
      "the market must be scanned exactly once")
    // the target-nation test is a row-local CASE, not a filter
    assert(!p.linesIterator.exists(l =>
      l.contains("Filter") && l.contains("NATION_3")),
      "the target nation must never filter — zero-share years must emit")
    // market cuts reach their dimension scans
    val partScan = p.linesIterator.find(l =>
      l.contains("Scan parquet") && l.contains("part.parquet")).getOrElse("")
    assert(partScan.contains("EqualTo(p_type,SMALL)"), partScan.take(400))
    val regionScan = p.linesIterator.find(l =>
      l.contains("Scan parquet") && l.contains("region.parquet")).getOrElse("")
    assert(regionScan.contains("EqualTo(r_name,AFRICA)"), regionScan.take(400))
  }

  test("q254: each channel's filter pushes into its OWN scan below the " +
    "Union and exactly one two-phase aggregate folds the union (r16)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.UnionExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val df = allQueries("q254_multichannel_revenue").fn(spark, sf0001)
    df.collect()
    val nodes = expandPlan(df.queryExecution.executedPlan)
    // one Union, two branches scanning independently
    assert(nodes.count(_.isInstanceOf[UnionExec]) == 1,
      df.queryExecution.executedPlan.toString.take(1600))
    // branch-local predicates reach their own scans
    def pushed(table: String): String = nodes.collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains(table)) =>
        f.metadata("PushedFilters")
    }.mkString(" ")
    assert(pushed("orders").contains("GreaterThanOrEqual(o_orderdate"),
      s"store branch's date cut must reach the orders scan: ${pushed("orders")}")
    assert(pushed("events").contains("EqualTo(event_type,purchase)"),
      s"online branch's type cut must reach the events scan: ${pushed("events")}")
    // exactly ONE two-phase aggregate (partial above the Union +
    // final after the exchange) — never per-branch aggregates
    assert(nodes.count(_.isInstanceOf[HashAggregateExec]) == 2,
      df.queryExecution.executedPlan.toString.take(1600))
    // nation broadcasts in both branches
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
  }

  test("q257: the rollup's Expand sits between the one Union and ONE " +
    "two-phase aggregate — subtotals cost a plan node, not re-scans (r16)") {
    import org.apache.spark.sql.execution.{ExpandExec, UnionExec}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val df = allQueries("q257_multichannel_rollup").fn(spark, sf0001)
    df.collect()
    val nodes = expandPlan(df.queryExecution.executedPlan)
    assert(nodes.count(_.isInstanceOf[UnionExec]) == 1,
      df.queryExecution.executedPlan.toString.take(1600))
    assert(nodes.count(_.isInstanceOf[ExpandExec]) == 1,
      s"rollup must be ONE Expand, never per-grain aggregations:\n" +
        df.queryExecution.executedPlan.toString.take(1600))
    assert(nodes.count(_.isInstanceOf[HashAggregateExec]) == 2,
      df.queryExecution.executedPlan.toString.take(1600))
    // branch pushdown survives the rollup (same contract as q254)
    val p = df.queryExecution.executedPlan.toString
    val scans = p.linesIterator.filter(_.contains("PushedFilters")).toList
    assert(scans.exists(_.contains("GreaterThanOrEqual(o_orderdate")) &&
      scans.exists(_.contains("EqualTo(event_type,purchase)")),
      scans.mkString("\n"))
  }

  test("q255: EXCEPT/INTERSECT on aggregated segments lower to anti/semi " +
    "hash joins — no cartesian, no window, no global sort (r16)") {
    val df = allQueries("q255_segment_set_algebra").fn(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1600))
    assert(p.contains("LeftAnti"),
      s"EXCEPT must plan as an anti join:\n${p.take(1600)}")
    assert(p.contains("LeftSemi"),
      s"INTERSECT must plan as a semi join:\n${p.take(1600)}")
    assert(!p.contains("Window"), p.take(1600))
    // every half-year segment scan is date-pruned at the source
    val scans = p.linesIterator.filter(l =>
      l.contains("PushedFilters") && l.contains("orders.parquet")).toList
    assert(scans.nonEmpty && scans.forall(s =>
      s.contains("GreaterThanOrEqual(o_orderdate") ||
        s.contains("IsNotNull(o_orderdate")), scans.mkString("\n"))
  }

  test("q170: bucketed fact-fact join runs with no exchange on the join key") {
    val p = plan("q170_bucketed_join")
    assert(p.contains("SortMergeJoin"), p.take(1200))
    assert(!p.contains("Exchange hashpartitioning(l_orderkey") &&
      !p.contains("Exchange hashpartitioning(o_orderkey"),
      s"join key must never shuffle — buckets are co-located:\n${p.take(1600)}")
    // the only hash exchange is the final groupBy(o_orderstatus)
    assert(exchanges(p) == 1, s"expected one exchange:\n${p.take(1600)}")
    assert(p.contains("Bucketed: true"),
      s"scan must consume the bucket layout:\n${p.take(1600)}")
  }
}
