package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Plan-shape assertions for the headline relational queries — the
  * properties that make them scale are facts about the physical plan,
  * so pin them like TemporalPlanSpec/RankingSpec do: a regression that
  * un-pushes a filter or degrades a broadcast to a nested loop passes
  * row checks and only surfaces as a blow-up at 100 TB.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfSmoke).queryExecution.executedPlan.toString

  test("q6: every predicate reaches the parquet scan as a pushed filter") {
    // read the scan node's metadata directly — the plan STRING truncates
    // long PushedFilters lists, which would make substring checks lie
    val exec = SparkEntry.queries("q6_forecast_revenue")(spark, sfSmoke)
      .queryExecution.executedPlan
    val inner = exec match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val pushed = inner.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metadata.getOrElse("PushedFilters", "")
    }.mkString("; ")
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate"), s"shipdate lower not pushed: $pushed")
    assert(pushed.contains("LessThan(l_shipdate"), s"shipdate upper not pushed: $pushed")
    assert(pushed.contains("GreaterThanOrEqual(l_discount,0.05)"), s"discount band not pushed: $pushed")
    assert(pushed.contains("LessThan(l_quantity"), s"quantity cap not pushed: $pushed")
  }

  test("q3/q5/q14: dimension joins broadcast (no shuffle for small sides)") {
    for (q <- Seq("q3_revenue_by_nation", "q5_local_supplier_volume", "q14_promo_revenue"))
      assert(plan(q).contains("BroadcastHashJoin"), s"$q lost its broadcast join")
  }

  test("ordered pages compile to TakeOrderedAndProject, never a full sort") {
    for (q <- Seq("o1_ordered_page", "o2_recent_topk"))
      assert(plan(q).contains("TakeOrderedAndProject"), s"$q plans a full sort")
  }

  test("pf1: profiling all columns is ONE scan with one Expand, not N scans") {
    val p = plan("pf1_column_profile")
    val scans = "FileScan parquet".r.findAllIn(p).length +
      "Scan parquet".r.findAllIn(p).length
    assert(scans <= 2, s"profile re-scans the table:\n$p") // matcher overlap tolerance
    assert(p.contains("Expand"), s"expected Expand for multi-distinct:\n$p")
  }

  test("q7/q19: nation/part dims broadcast; q10 cuts via TakeOrderedAndProject") {
    for (q <- Seq("q7_volume_shipping", "q19_bracket_revenue"))
      assert(plan(q).contains("BroadcastHashJoin"), s"$q lost its broadcast dim join")
    assert(plan("q10_returned_items").contains("TakeOrderedAndProject"),
      "q10 must rank via TakeOrderedAndProject, not a full sort")
    // q19's common brand factor must prune the part scan, not just the join
    val exec = SparkEntry.queries("q19_bracket_revenue")(spark, sfSmoke)
      .queryExecution.executedPlan
    val inner = exec match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val pushed = inner.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metadata.getOrElse("PushedFilters", "")
    }.mkString("; ")
    assert(pushed.contains("In(p_brand"), s"brand factor not pushed to part scan: $pushed")
  }

  test("dd8/sd1/q13: new pipeline queries keep keyed joins and partitioned windows") {
    for (q <- Seq("dd8_dup_spans", "sd1_semdedup", "q13_order_distribution")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
    }
    // dd8's interval merge must be a doc-partitioned window, and its
    // gram self-correlation must be keyed joins (hash on the gram hash)
    val dd8 = plan("dd8_dup_spans")
    assert(!dd8.contains("BroadcastNestedLoopJoin"), "dd8 degraded to a nested loop")
    assert(dd8.contains("Window"), "dd8 lost its interval-merge window")
    // sd1's only non-keyed join is the deliberate broadcast centroid
    // attach (hidden behind the checkpoint); the within-cluster pair
    // join must stay keyed on the block
    val sd1 = plan("sd1_semdedup")
    assert(sd1.contains("SortMergeJoin") || sd1.contains("ShuffledHashJoin") ||
      sd1.contains("BroadcastHashJoin"), "sd1 pair join is not keyed")
  }

  test("banded pair operators never degrade to cartesian/nested-loop joins") {
    for (q <- Seq("dd3_simhash_pairs", "sn1_sorted_neighborhood",
      "ed2_near_strings", "cp1_curation_pipeline", "cp2_dedup_ladder",
      "er1_entity_resolution")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested loop")
    }
  }

  test("minhash band join (behind dd2's cache) never degrades to cartesian/nested-loop") {
    // dd2_minhash_pairs serves from an eagerly-checkpointed cache, so
    // ITS executed plan is just a scan of materialized blocks — the
    // join shape must be asserted on the operator directly or the
    // guard is vacuous
    val p = graft.ops.Dedup.minHashNearDupPairs(
        graft.Tables.load(spark, sfSmoke, "documents"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"minhash pair join plans a cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"minhash pair join plans a nested loop:\n$p")
  }

  test("ivf assignment: packed argmin — corpus side exchange-free, no aggregate, no window") {
    // round 15: assignment is ONE whole-stage-codegen projection over a
    // broadcast centroid ARRAY (nearest_centroids kernel). The corpus
    // side may not shuffle, sort, aggregate, or window at all — the
    // only legitimate exchange in the WHOLE plan is the C-row
    // collect_list that packs the centroid array on the broadcast side
    // (the pre-round-15 min_by shape paid a corpus×C explode + partial
    // SortAggregate sort + a corpus-sized exchange of the partials)
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.load(spark, sfSmoke, "embeddings")
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_e"))
    val exec = graft.ops.Similarity.assignToCentroids(emb, cents, "m_id", "me")
      .queryExecution.executedPlan
    val inner = exec match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(inner.toString.contains("nearest_centroids"),
      s"assignment lost the packed-argmin kernel:\n$inner")
    // walk the plan OUTSIDE broadcast subtrees: no shuffle/sort/agg/
    // window may touch the corpus-sized side
    def corpusSide(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = p match {
      case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeLike => Nil
      case other => other.nodeName +: other.children.flatMap(corpusSide)
    }
    val names = corpusSide(inner)
    for (bad <- Seq("Exchange", "Window", "Aggregate", "Sort"))
      assert(!names.exists(_.contains(bad)),
        s"assignment's corpus side regained a $bad:\n$inner")
  }

  test("q4/q21: semi and anti joins stay keyed — no cartesian/nested-loop") {
    for (q <- Seq("q4_late_orders", "q21_sole_supplier")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested loop")
      assert(p.contains("LeftSemi"), s"$q lost its semi join:\n$p")
    }
    assert(plan("q21_sole_supplier").contains("LeftAnti"),
      "q21 lost its anti self-join")
  }

  test("q17/q20: correlated subqueries decorrelate to joins — never per-row re-execution") {
    // the correlated scalar aggregates must rewrite to aggregate +
    // equi-join (RewriteCorrelatedScalarSubquery); a plan that keeps a
    // subquery node re-executes the inner aggregate per outer row —
    // correct on 60k rows, dead at 100 TB
    for (q <- Seq("q17_small_quantity", "q20_part_suppliers")) {
      val p = plan(q)
      assert(!p.contains("Subquery"), s"$q kept a per-row subquery:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q degraded to cartesian/nested-loop:\n$p")
    }
    // q20's two IN-subqueries must both plan as semi joins
    assert(plan("q20_part_suppliers").contains("LeftSemi"),
      "q20 lost its semi joins")
  }

  test("q2: correlated MIN decorrelates; q22's NOT EXISTS plans as anti join") {
    // q2's per-part scalar MIN must rewrite to aggregate + equi-join —
    // the plan may not re-execute the cost relation per outer row
    val p2 = plan("q2_min_cost_supplier")
    assert(!p2.contains("Subquery"), s"q2 kept a per-row subquery:\n$p2")
    assert(!p2.contains("CartesianProduct") && !p2.contains("BroadcastNestedLoopJoin"),
      s"q2 degraded to cartesian/nested-loop:\n$p2")
    // q22: the correlated NOT EXISTS must become a LEFT ANTI join; its
    // UNCORRELATED scalar avg legitimately stays a Subquery (it runs
    // exactly once, not per row), so only the anti shape is pinned
    val p22 = plan("q22_idle_customers")
    assert(p22.contains("LeftAnti"), s"q22 lost its anti join:\n$p22")
    assert(!p22.contains("BroadcastNestedLoopJoin") && !p22.contains("CartesianProduct"),
      s"q22 degraded to nested-loop:\n$p22")
  }

  test("q11/q15/q16: scalar guards stay one-shot; the exclusion is an anti join") {
    // q11/q15 carry uncorrelated scalar subqueries — fine at scale
    // (one execution) as long as nothing degrades to a nested loop
    for (q <- Seq("q11_important_stock", "q15_top_supplier")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q degraded to nested-loop:\n$p")
    }
    // q16's NOT IN exclusion list must plan as an anti join
    assert(plan("q16_supplier_counts").contains("LeftAnti"),
      "q16 lost its anti-join exclusion")
  }

  test("sim6/ann/di query family never degrades to cartesian/nested-loop joins") {
    for (q <- Seq("sim6_ivf_pq", "ann1_lsh_index", "ann2_ivf_index", "di1_dedup_index")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
    }
  }

  test("sim7: top-k rank is a bounded PARTIAL aggregation, not a window sort") {
    // the exchange must carry k-row partial buffers, not the full
    // scored candidate set — the property that lets per-query top-k
    // survive millions of candidates
    val exec = SparkEntry.queries("sim7_agg_topk")(spark, sfSmoke)
      .queryExecution.executedPlan
    val inner = exec match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val p = inner.toString
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      s"sim7 lost its typed aggregation:\n$p")
    assert(p.contains("partial_topkbyscore"),
      s"sim7 lost the map-side partial top-k:\n$p")
    assert(!p.contains("Window"), s"sim7 regressed to a window:\n$p")
  }

  test("hh1: candidates broadcast into the second pass; MG partials are map-side") {
    val p = plan("hh1_heavy_hitters")
    // the ≤k candidate set must BROADCAST against the value scan — a
    // shuffled semi-join would move the full column twice
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"hh1 lost its broadcast candidate semi-join:\n$p")
    // pass 1 sits behind a localCheckpoint in hh1's final plan (it
    // materializes once and feeds candidates + total), so pin its
    // map-side partial on the aggregation shape itself: the MG pass
    // must combine per-partition, never ship raw values to one reducer
    import spark.implicits._
    val mgPlan = (1 to 10).map(_.toString).toDF("v")
      .agg(graft.functions.FreqSketch.misraGries(4)(org.apache.spark.sql.functions.col("v")))
      .queryExecution.executedPlan.toString
    assert(mgPlan.contains("partial_misragries"),
      s"misra_gries lost its map-side partial:\n$mgPlan")
  }

  test("cov1: pair sums partial-aggregate below the exchange") {
    val p = plan("cov1_embedding_covariance")
    // O(n·d²) generated rows must fold map-side: the exchange carries
    // ≤ d²/2 aggregate buffers per partition, not the pair stream
    assert(p.contains("partial_sum"), s"cov1 lost map-side partial aggregation:\n$p")
    assert(p.contains("Generate"), s"cov1 lost its explode pipeline:\n$p")
  }

  test("pa1: the sequence window is user-partitioned; the cut is a TakeOrdered") {
    val exec = SparkEntry.queries("pa1_event_paths")(spark, sfSmoke)
      .queryExecution.executedPlan
    val inner = exec match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val windows = inner.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w.partitionSpec
    }
    assert(windows.nonEmpty && windows.forall(_.nonEmpty),
      s"pa1's window must be partitioned (by user), got $windows")
    assert(inner.toString.contains("TakeOrderedAndProject"),
      "pa1 must cut via TakeOrderedAndProject, not a full sort")
  }

  test("sim4: the probe side broadcasts; the corpus side never explodes") {
    // the multi-probe query set (5 vectors × 3 probes) is the broadcast
    // side of an equi-join on bucket — a regression that shuffles the
    // corpus or cross-joins probes would pass row checks and die at scale
    val p = plan("sim4_lsh_multiprobe")
    assert(p.contains("BroadcastHashJoin"), s"sim4 lost its broadcast bucket join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"sim4 degraded to an unbucketed join:\n$p")
  }

  test("cus1: one sorted exchange drives both CUSUM windows; rollup adds no shuffle") {
    // the prefix-sum and running-min windows share (partition, order),
    // so the plan must sort ONCE and stack both Window nodes on that
    // single hashpartitioning exchange — and the final per-group rollup
    // must reuse the window partitioning (same key) instead of
    // re-shuffling. The only other hash exchange is the tiny per-group
    // mean, which then BROADCASTS into the data side.
    val p = plan("cus1_cusum_drift")
    val windows = "Window \\[".r.findAllIn(p).length
    assert(windows == 2, s"expected the two stacked CUSUM windows, got $windows:\n$p")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 2,
      s"CUSUM must shuffle exactly twice (window input + mean agg), got $hashExchanges:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"the mean side lost its broadcast:\n$p")
  }

  test("dsir1: ratio table broadcasts into the scoring join; the cut is a TakeOrdered") {
    // the B-row importance-ratio table must BROADCAST into the
    // data-sized feature join (a shuffle there moves the corpus), and
    // the top-50 must plan as TakeOrderedAndProject, not a global sort.
    // The one nested-loop join allowed is the 1-row totals scalar
    // attach (IdentityBroadcastMode) — a real cartesian is a regression.
    val p = plan("dsir1_importance_select")
    assert(p.contains("TakeOrderedAndProject"), s"dsir1 plans a full sort:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"dsir1's ratio join lost its broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"dsir1 degraded to a cartesian:\n$p")
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnl <= 1 && (bnl == 0 || p.contains("IdentityBroadcastMode")),
      s"only the 1-row totals attach may nested-loop:\n$p")
  }

  test("hn1: bounded partial top-k under the label filter; query side broadcasts") {
    // sim7's property under the different-label join: the exchange
    // carries k-row partial heaps, never the scored candidate set, and
    // the corpus streams once against the BROADCAST query side (the
    // label-inequality join is nested-loop by nature, but only over
    // the broadcast queries — a CartesianProduct would move the corpus)
    val p = plan("hn1_hard_negatives")
    assert(p.contains("partial_topkbyscore"),
      s"hn1 lost the map-side partial top-k:\n$p")
    assert(!p.contains("CartesianProduct"), s"hn1 degraded to a cartesian:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"hn1's query side lost its broadcast:\n$p")
  }

  test("im1: no unpartitioned window anywhere; the prefix cut is a TakeOrdered") {
    // the grouped rank must keep its zipWithIndex shape — a regression
    // to row_number over Window.partitionBy(source) alone would
    // serialize a dominant source into one task (correct at test
    // scale, fatal at 100 TB), and the 300-row prefix must plan as
    // TakeOrderedAndProject, not a global sort
    val df = SparkEntry.queries("im1_interleaved_mix")(spark, sfSmoke)
    val unpart = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
    assert(unpart.isEmpty, "im1 plans an unpartitioned window")
    val p = plan("im1_interleaved_mix")
    assert(p.contains("TakeOrderedAndProject"), s"im1 plans a full sort:\n$p")
  }

  test("at1: ONE user-partitioned window pass computes both touch picks; no self-join") {
    val p = plan("at1_attribution")
    // WindowExec renders as "Window [exprs], [partition], [order]" —
    // count node signatures, not substring noise
    val windows = "Window \\[".r.findAllIn(p).length
    assert(windows == 1,
      s"at1 must compute both touch picks in ONE Window pass, saw $windows:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"at1 must not plan a conversion-by-touch join:\n$p")
  }

  test("ld1: word-count shape — partial aggregation below the line exchange, no cartesian, no window") {
    val p = plan("ld1_line_dedup")
    // the boilerplate census must partial-aggregate map-side: a
    // partial_count(distinct id) under the exchange is what collapses
    // a corpus-hot banner line before it crosses the wire
    assert(p.contains("partial_count(distinct"),
      s"ld1 lost its map-side partial distinct:\n$p")
    assert(!p.contains("CartesianProduct"), s"ld1 plans a cartesian:\n$p")
    // reassembly is a per-doc aggregate, never a window over the corpus
    assert(!p.contains("WindowExec"), s"ld1 plans a window:\n$p")
  }
}
