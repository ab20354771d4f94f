package graft

import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape guards: the properties that make these queries
  * scale (scan-level pushdown, column pruning, broadcast dim joins,
  * partial aggregation) must survive refactors. */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.explainString(FormattedMode)

  test("q2_filter pushes comparison/IN/LIKE into the parquet scan") {
    val p = plan("q2_filter")
    assert(p.contains("PushedFilters"))
    assert(p.contains("GreaterThanOrEqual(p_size,10)"), "comparison not pushed")
    assert(p.contains("In(p_type,"), "IN not pushed")
    assert(p.contains("StringContains(p_name,red)"), "LIKE not pushed")
  }

  test("q1_agg prunes the scan to the six referenced columns") {
    val p = plan("q1_agg")
    val schema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!schema.contains("l_orderkey") && !schema.contains("l_partkey"),
      s"unreferenced columns not pruned: $schema")
    assert(p.contains("HashAggregate"), "no hash aggregation")
  }

  test("q3_join_agg broadcasts the dimension side and partial-aggregates") {
    val p = plan("q3_join_agg")
    assert(p.contains("BroadcastHashJoin"), "dim join not broadcast")
    // partial + final pair: HashAggregate appears at least twice
    assert("HashAggregate".r.findAllIn(p).size >= 2, "no partial aggregation")
  }

  test("q4_join5 keeps every dimension join broadcast (no fact shuffle for dims)") {
    val p = plan("q4_join5")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      "expected region/nation/customer-style dims broadcast")
  }

  test("q19_asof and q20_range never fall back to nested-loop or cartesian joins") {
    Seq("q19_asof", "q20_range").foreach { q =>
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q plan degenerated to a pairwise join")
    }
  }

  test("t6_tfidf never broadcasts the vocabulary-sized term table") {
    // the df side is VOCABULARY-sized (10⁷–10⁹ terms at scale): a
    // broadcast hint here OOMs the driver on a real corpus. Catalyst may
    // still auto-broadcast from size STATS at fixture scale (correct —
    // stats scale with data); what must never reappear is the hint.
    val df = SparkEntry.queries("t6_tfidf")(spark, sf)
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, s"broadcast hint reintroduced on t6: $hints")
  }

  test("e8 joins the static dim with a broadcast, never a stream-side shuffle") {
    val p = plan("e8_stream_static_enrich")
    assert(p.contains("BroadcastHashJoin"), "dim join not broadcast")
    assert(!p.contains("SortMergeJoin"),
      "events shuffled for a dimension join")
  }

  test("d10's bloom prefilter survives below the verification join") {
    val df = SparkEntry.queries("d10_bloom_decontaminate")(spark, sf)
    val udfFilters = df.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF]) => f
    }
    assert(udfFilters.nonEmpty,
      "might-contain prefilter optimized away — train side ships unpruned")
  }

  test("t13's exact recount filters to the candidate InSet before aggregating") {
    // 227 candidates at sf0.01 (> the In→InSet threshold of 10): the
    // recount pass must plan a compiled set-membership filter, so only
    // candidate-matching rows reach the aggregate exchange
    val p = plan("t13_boilerplate")
    assert(p.contains("INSET"), "candidate prefilter missing from recount plan")
  }

  test("q39 profiles without Expand: two pruned scans, no multi-distinct blowup") {
    // k distinct-aggregates in one agg would plan Catalyst's Expand —
    // (k+1)× row replication with a 4k-wide buffer (measured 3.4s vs
    // 0.9s at sf0.1). The adopted shape pays a second column-pruned
    // scan instead: one Expand-free pass for counts/min/max, one
    // narrow unpivot pass for the exact distinct counts.
    val p = plan("q39_profile")
    val scans = p.linesIterator.count(_.matches("""\(\d+\) Scan parquet.*"""))
    assert(scans <= 2, s"profile plans $scans scans, expected at most 2")
    assert(!p.contains("Expand"),
      "q39 regressed to the Expand multi-distinct plan")
  }

  test("q43 scans lineitem ONCE (total reuses the per-part exchange)") {
    // the global total is a second aggregate over the per-part frame;
    // both consumers must share the same shuffle exchange, or the fact
    // table is scanned and aggregated twice (a full extra pass at
    // 100 TB). AQE dedupes identical stages at materialization, so the
    // guard reads the FINAL adaptive plan after execution.
    val df = SparkEntry.queries("q43_important_parts")(spark, sf)
    df.collect()
    // toString includes the pre-AQE "Initial Plan" section — count only
    // the final (current) plan above it
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"per-part aggregate exchange not reused by the total branch:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"q43 executed $scans lineitem scans, expected 1")
  }

  test("q47 computes the distinct-pairs frame once; top-20 is TakeOrdered") {
    // both sides of the pair self-join are the same (orderkey, partkey)
    // distinct aggregate. Round-16: the frame is scope-persisted (AQE
    // stage dedup is racy — both sides can submit the identical stage
    // before either registers in the stage cache, which made the old
    // ReusedExchange assertion flaky under suite load), so the guard is
    // now: both sides read the cached frame, no second scan+distinct.
    val df = SparkEntry.queries("q47_copurchase")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
      s"distinct-pairs frame not shared across the self-join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      "q47 top-20 fell back to a global sort")
    graft.CacheScope.drain()
  }

  test("q49's day fan-out is a map-side Generate under a semi join") {
    val p = plan("q49_trailing_dau")
    assert(p.contains("Generate"), "day explode lost")
    assert(p.contains("LeftSemi"), "observed-days restriction not a semi join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "q49 degenerated to a pairwise join")
  }

  test("g1's top-20 is a distributed TakeOrdered, not a global sort") {
    val p = plan("g1_pagerank")
    assert(p.contains("TakeOrderedAndProject"), "top-k fell back to a global sort")
  }

  test("d7_decontaminate carries no broadcast hint and no pairwise join") {
    // the DF-capped shingle set is vocabulary-sized at scale — a
    // broadcast hint would OOM the driver on a real corpus (same story
    // as t6); stats-based auto-broadcast at fixture scale is fine.
    val df = SparkEntry.queries("d7_decontaminate")(spark, sf)
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, s"broadcast hint on d7: $hints")
    val p = plan("d7_decontaminate")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "d7 degenerated to a pairwise join")
  }

  test("t8_repetition joins its two aggregates co-partitioned (no extra exchange)") {
    // 4 exchanges for the two two-level aggregations + 1 range exchange
    // for the final orderBy; a 6th would mean the doc_id join stopped
    // reusing the aggregate partitioning (e.g. a stray repartition)
    val p = plan("t8_repetition")
    // formatted mode prints each node once as a "(id) NodeName" detail
    val n = p.linesIterator.count(_.matches("""\(\d+\) Exchange.*"""))
    assert(n > 0 && n <= 5,
      s"t8 plans $n exchanges, expected 1–5 (co-partitioned join lost)")
  }

  test("s1_knn_brute ranks only salted local top-k survivors in the final window") {
    // the final 5-key window must sit ABOVE the rk_local filter, which
    // sits above the (query_id, salt) window — otherwise 5 tasks sort
    // the whole corpus×query score set (the q9 serialization trap)
    val s = SparkEntry.queries("s1_knn_brute")(spark, sf)
      .queryExecution.sparkPlan.toString
    val ls = s.linesIterator.toVector
    val finalW = ls.indexWhere(l => l.contains("Window") && !l.contains("salt"))
    val localF = ls.indexWhere(l => l.contains("Filter") && l.contains("rk_local"))
    val saltedW = ls.indexWhere(l => l.contains("Window") && l.contains("salt"))
    assert(finalW >= 0 && localF >= 0 && saltedW >= 0,
      s"expected two windows + rk_local filter, got:\n$s")
    // physical tree prints root-first: final window, then the filter,
    // then the salted window it consumes
    assert(finalW < localF && localF < saltedW,
      s"final window not above the salted local top-k:\n$s")
  }

  test("e6_funnel runs sessionization, window chain, and aggregate under one hash exchange") {
    // sid is computed under hash(user_id); the (user_id, sid) windows and
    // the final (user_id, sid) aggregate are all satisfied by that same
    // coarser partitioning — a second hash exchange means a window or the
    // aggregate stopped reusing it (e.g. an explicit repartition crept in)
    val p = plan("e6_funnel")
    val hashEx = p.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(hashEx == 1,
      s"e6 plans $hashEx hash exchanges, expected 1 (partitioning reuse lost)")
  }

  test("t9_unigram_nll carries no broadcast hint (vocabulary-sized freq table)") {
    // same story as t6: the per-term frequency table is 10⁷–10⁹ rows on
    // a real corpus; only stats-based auto-broadcast is acceptable
    val df = SparkEntry.queries("t9_unigram_nll")(spark, sf)
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, s"broadcast hint on t9: $hints")
  }

  test("q24 grouping sets expand map-side, below the partial aggregate") {
    // Expand must feed the partial HashAggregate (shuffle carries
    // ≤ |groups|·|sets| rows); Expand above the exchange would ship
    // |rows|·|sets| through the shuffle
    val s = SparkEntry.queries("q24_grouping_sets")(spark, sf)
      .queryExecution.sparkPlan.toString
    val ls = s.linesIterator.toVector
    val expand = ls.indexWhere(_.contains("Expand"))
    val partial = ls.indexWhere(_.contains("partial_count"))
    assert(expand >= 0 && partial >= 0, s"expected Expand + partial agg:\n$s")
    // root-first print: the partial aggregate consumes the Expand from
    // below, so the exchange EnsureRequirements inserts above it only
    // ever carries ≤ |groups|·|sets| aggregated rows
    assert(partial < expand, s"Expand sits above the partial aggregate:\n$s")
  }

  test("no registered query plans a pairwise join, except the bounded-by-design set") {
    // s1/s7/s9 broadcast a ≤5-row query set against the corpus (s9's
    // later pairwise stage is additionally ≤ pool² rows per query), s3
    // is explicitly id-bounded, and q43/t17 cross-join a ONE-row
    // global-total/corpus-stats aggregate — those replicate a BOUNDED
    // side by design. Everything else must stay an equi/semi/anti
    // join: a CartesianProduct or BroadcastNestedLoopJoin anywhere
    // else is a corpus×corpus scale bug, whatever query it sneaks
    // into.
    // s11 composes s1, so it carries s1's bounded broadcast cross-join;
    // t21 joins two dimension/mask-census-sized frames on bit tests;
    // t22 crosses the vocabulary with the broadcast |languages|-row
    // totals frame (bounded ×|L| fan-out, the model grid); q63 crosses
    // the census with a ONE-row max-revenue aggregate (the q43 shape);
    // q75 crosses its two ONE-row result frames; q76/q81/t28 cross a
    // ONE-row global-total/midpoint/doc-count aggregate (q43 shape);
    // s13 broadcasts the ≤10-row anchor set against the corpus (s1
    // shape)
    val boundedByDesign = Set("s1_knn_brute", "s3_neardup_pairs", "s7_knn_pq",
      "s9_mmr_rerank", "s10_range_search", "s11_recall_eval",
      "q43_important_parts", "t17_bm25", "t21_source_drift",
      "t22_nb_lang", "q63_abc", "q66_skew_census", "t24_vocab_coverage",
      "q75_pr_auc", "q76_ks_test", "q81_segment_migration",
      "s13_triplet_mining", "t28_burstiness",
      // g8 crosses five ONE-row audit aggregates (q43 shape);
      // c11 crosses the ONE-row raw-totals frame for retained fractions;
      // g9 crosses the ONE-row moment frame with the ONE-row node census
      "g8_modularity", "c11_stage_funnel", "g9_assortativity",
      // s16 crosses the k-row census with its ONE-row totals frame;
      // c12 crosses per-source rows with the ONE-row token totals;
      // t33 composes t22's confusion matrix, so it inherits t22's
      // bounded vocab×|L| model-grid cross
      "s16_ivf_stats", "c12_dedup_mixture", "t33_langid_eval",
      // t35 crosses its two ONE-row scalar frames (q43 shape) and
      // inherits t22's bounded model-grid cross through nbLangPred;
      // m12 crosses the census with its ONE-row grand-total frame;
      // q99 crosses the ONE-row pooled tie census; t37 crosses the
      // ONE-row corpus-total frame
      "t35_kappa", "m12_token_budget", "q99_kruskal_wallis",
      "t37_js_sources",
      // s18 composes s1/s2/s6/s7/s15 (inheriting their bounded query
      // broadcasts) and crosses the 4-row method list
      "s18_index_leaderboard",
      // g13 crosses each half-step's ONE-row max-normalization frame
      // (q43 shape — replaced the former blocking driver .head())
      "g13_hits",
      // q104 crosses the ONE-row grand-total frame (q43 shape)
      "q104_theil",
      // e20 crosses the ONE-row lateness-census totals frame (q43
      // shape) against the bounded lateness-domain census
      "e20_watermark_advisor",
      // s21 crosses the ≤k-row cell census with its ONE-row totals
      // frame (the s16 shape)
      "s21_incremental_index",
      // s22 crosses the ≤k-row distinct-cell frame with the 3-row
      // epoch list (constant grid) and the ONE-row old-total frame
      "s22_index_ingest",
      // g15 crosses the degree census with the 3-row threshold list
      // and the ONE-row node-total frame
      "g15_powerlaw",
      // s23 embeds the s1 brute-truth plan (5 fixed queries x corpus
      // — the same bounded-query-set shape s1/s11 are allowed for)
      "s23_nprobe_sweep",
      // q109 crosses the <=20-row rank census with its ONE-row
      // first-cohort base (the q43 scalar-fold shape)
      "q109_repeat_purchase",
      // p17 crosses the domain-bounded bin histogram with its ONE-row
      // total frame (q43 shape); q112 crosses the |nation|-row test
      // census with its ONE-row totals frame (q43 shape); p18 crosses
      // the scoring scan with its ONE-row score-range frame (q43 shape)
      "p17_stump", "q112_bh_fdr", "p18_calibration",
      // s27 crosses the two-long code scan with the broadcast ≤5-row
      // query-code set (the s1 bounded-query-set shape)
      "s27_knn_binary",
      // p19 crosses the domain-bounded bin histogram with the 1-row
      // root-threshold frame and per-node totals (q43 shape)
      "p19_tree2",
      // p20 joins the bin histogram with its ≤2^depth-row per-node
      // totals frame per level (the p19 shape at depth 3); its output
      // is a driver-assembled ≤7-row split table
      "p20_tree3",
      // e23 reads the feed of a scratch snapshot table built from
      // bounded fixture commits (the c20 real-table-I/O shape)
      "e23_snapshot_feed",
      // q113 crosses the calendar-bounded rolled frame with its 1-row
      // grand-total level (q43 shape)
      "q113_drilldown",
      // p22/p23 cross each level's/round's domain-bounded per-feature
      // histogram with its ≤2^depth-row (resp. ONE-row) totals frame
      // (the p20/p21 shape); their outputs are driver-assembled ≤7-
      // and 3-row tables
      "p22_tree_multi", "p23_gbt_multi")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      if (boundedByDesign(name)) None
      else {
        val p = fn(spark, sf).queryExecution.explainString(FormattedMode)
        if (p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"))
          Some(name)
        else None
      }
    }
    assert(offenders.isEmpty,
      s"queries planning a pairwise join: ${offenders.mkString(", ")}")
  }

  test("q63's census prefix-sum windows are partitioned or provably bounded") {
    val p = plan("q63_abc")
    // every Window over the census must be either partitioned by the
    // range bucket (the within-bucket prefix) or sit on the ≤1024-row
    // offsets frame; a partition-less window whose child reads the
    // census directly would be the single-partition cumsum this
    // operator exists to avoid
    assert(p.contains("Window"), "expected window operators in q63")
    val partitioned = p.linesIterator
      .count(l => l.contains("windowspecdefinition") && l.contains("bucket"))
    assert(partitioned >= 1,
      s"within-bucket window lost its bucket partitioning:\n${p.take(3000)}")
  }

  test("t22 only ever HINTS broadcast on the |L|-row frames, never the grid") {
    // the vocab×L grid is vocabulary-sized at corpus scale: a broadcast
    // HINT on it would OOM the driver (t6 rule).
    // Catalyst may auto-broadcast from size stats at fixture scale
    // (correct — stats scale with data); what must never appear is a
    // broadcast HINT on anything wider than the two |L|-row frames
    val df = SparkEntry.queries("t22_nb_lang")(spark, sf)
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.size == 2,
      s"expected exactly the two |L|-row broadcast hints, got ${hints.size}")
    hints.foreach { h =>
      val cols = h.child.output.map(_.name).toSet
      assert(cols.contains("model_lang") && !cols.contains("term"),
        s"broadcast hint on a non-|L|-row frame: $cols")
    }
  }

  test("d3_minhash shuffles signatures, not text") {
    val p = plan("d3_minhash")
    // the exchange below the final aggregate must carry doc_id + partial
    // mins, never the text/shingle strings
    val exchanges = p.linesIterator.filter(_.contains("Arguments: hashpartitioning")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text")), "text reached a shuffle")
  }
}
