package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the properties that make these operators scale
  * (pushdown, pruning, broadcast, top-k) must be visible in the plan, not
  * assumed.
  */
class PlanSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, TestSpark.Sf)
      .queryExecution.executedPlan.toString

  test("scan_pruned pushes the shipdate predicate into the parquet scan") {
    val p = planOf("scan_pruned")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
  }

  test("scan_pruned prunes columns to the 3 selected") {
    val p = planOf("scan_pruned")
    val readSchema = p.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") &&
      readSchema.contains("l_shipdate") &&
      !readSchema.contains("l_extendedprice"), readSchema)
  }

  test("join_broadcast uses broadcast hash joins, no sort-merge") {
    val p = planOf("join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("topk_global compiles to TakeOrderedAndProject (no global sort)") {
    val p = planOf("topk_global")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q6 pushes all three selective predicates down to the scan") {
    val p = planOf("q6_forecast_revenue")
    // the PushedFilters list is elided in toString, so assert the scan
    // carries pushed filters at all plus the full predicate set on the
    // post-scan Filter (date range, discount band, quantity cap)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    assert(p.contains(">= 1997-01-01") && p.contains("< 1998-01-01"), p)
    assert(p.contains(">= 0.05") && p.contains("<= 0.07"), p)
    assert(p.contains("< 24.0"), p)
  }

  test("q14 broadcasts the part dimension (no sort-merge)") {
    val p = planOf("q14_promo_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q18 top-50 compiles to TakeOrderedAndProject") {
    val p = planOf("q18_large_customers")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("win_topk_native plans two-phase heaps with NO sort and NO window") {
    import org.apache.spark.sql.functions.col
    val df = graft.plans.TopK.perGroup(
      T(spark, TestSpark.Sf, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice"),
      Seq("o_custkey"),
      Seq("o_totalprice" -> false, "o_orderkey" -> true), 3)
    val p = df.queryExecution.executedPlan.toString
    val phases = "TopKPerGroup \\[".r.findAllIn(p).size
    assert(phases == 2, s"expected partial+final TopKPerGroupExec:\n$p")
    assert(p.contains("Exchange hashpartitioning(o_custkey"), p)
    assert(!p.contains("Sort "), s"full sort defeats the operator:\n$p")
    assert(!p.contains("Window"), p)
    // and it agrees with the window-rank formulation
    val viaWindow = SparkEntry.queries("win_rank_topn_per_group")(
      spark, TestSpark.Sf).select("o_custkey", "o_orderkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaTopK = df.select("o_custkey", "o_orderkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaTopK == viaWindow)
  }

  test("agg_filtered computes all filtered aggregates in ONE scan") {
    val p = planOf("agg_filtered")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 scan, got $scans:\n$p")
  }

  test("join_theta_range broadcasts the small part slice (BNLJ)") {
    val p = planOf("join_theta_range")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("bucketed join plans with no shuffle exchange on either side") {
    // materialize the bucketed tables, then inspect the join-only plan
    SparkEntry.queries("sink_bucketed_join")(spark, TestSpark.Sf).count()
    val p = graft.ops.Extras.bucketedJoin(spark)
      .queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p)
    val joinPart = p.split("TakeOrdered").head
    // the only exchange allowed is the post-join aggregation's
    val exchanges = "Exchange hashpartitioning\\(\\w*[oc]_custkey"
      .r.findAllIn(joinPart).size
    assert(exchanges == 0,
      s"join keys re-shuffled despite bucketing:\n$p")
  }

  test("partitioned layout prunes to the matching partition directory") {
    val p = graft.ops.Extras.prunedScan(spark, TestSpark.Sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(o_orderstatus"), p)
    assert(p.contains("(o_orderstatus") && p.contains("= O"), p)
  }

  test("q3 pushes both date filters and the segment filter into the scans") {
    val p = planOf("q3_shipping_priority")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), p)
    assert(p.contains("LessThan(o_orderdate"), p)
    assert(p.contains("GreaterThan(l_shipdate"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q5 broadcasts the small dimensions") {
    val p = planOf("q5_local_supplier")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("EqualTo(r_name,EUROPE)"), p)
  }

  test("agg_pricing_summary plans a partial aggregate before the exchange") {
    val p = planOf("agg_pricing_summary")
    assert(p.contains("HashAggregate"), p)
    // partial + final pairs around one shuffle
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("join_fuzzy_levenshtein broadcasts the block side, no shuffle join") {
    val p = planOf("join_fuzzy_levenshtein")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the edit distance runs inside the join condition, once per pair
    assert(p.contains("levenshtein"), p)
  }

  test("text_dup_spans has no join: explode -> window -> aggregate") {
    val p = planOf("text_dup_spans")
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
    assert(p.contains("Generate explode"), p)
  }

  test("vec_knn_join broadcasts the query batch and keeps fvdot codegen'd") {
    val p = planOf("vec_knn_join")
    assert(p.contains("Broadcast"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("fvdot") || p.contains("floatvecdot"), p)
  }

  test("vec_knn_cosine scores with codegen'd fvdot into a heap top-k") {
    val p = planOf("vec_knn_cosine")
    assert(p.contains("fvdot"), p)
    assert(!p.contains("zip_with") && !p.contains("aggregate("), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("vec_neardup_cosine scores with codegen'd fvdot, no HOF idiom") {
    val p = planOf("vec_neardup_cosine")
    assert(p.contains("fvdot"), p)
    assert(!p.contains("zip_with"), p)
  }

  test("data_kanon_suppress is two hash aggregates, no join") {
    val p = planOf("data_kanon_suppress")
    assert(!p.contains("Join"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 4, p) // 2x partial+final
  }

  test("events_user_journey is one window pass, no self-join") {
    val p = planOf("events_user_journey")
    assert(!p.contains("Join"), p)
    assert("Window".r.findAllIn(p).size >= 1, p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }
}
