package graft

import org.scalatest.funsuite.AnyFunSuite

/** Systemic plan lint over EVERY oracle-checked operator: catches the
  * accidental scale-killers — cartesian products that aren't the
  * documented exactness baselines, stray caching, and parquet scans that
  * read every column when the query uses a few.
  */
class PlanLintSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  // documented all-pairs / broadcast-nested-loop exactness baselines and
  // intentionally-cross-joined broadcast singles
  private val mayNestLoop = Set(
    "vec_knn_cosine", "vec_neardup_cosine", "vec_knn_query",
    "vec_kmeans_step", "join_theta_range", "text_dedup_near",
    "text_dedup_ngram", "text_dedup_mllib_lsh")

  // side-effecting/streaming ops whose fn() launches jobs eagerly — their
  // final read-back plan is trivial; skip the lint rather than execute
  // the whole pipeline during planning
  private val skip = Set(
    "sink_parquet", "sink_partitioned_prune", "sink_bucketed_join",
    "sink_compaction", "source_csv_timeseries", "source_json",
    "source_orc", "source_schema_evolution", "stream_tumbling_1h_live",
    "stream_sliding_live", "stream_session_live", "stream_dedup_live",
    "stream_join_static_live", "stream_watermark_append_live",
    "stream_custom_state_live", "stream_stream_join_live",
    "stream_foreachbatch_sink",
    // iterative label propagation: fn() runs graft.graph.Cc's loop
    // eagerly and returns a scan of its final checkpoint — the lint's
    // one-static-plan model doesn't apply (its all-pairs candidate join
    // is the documented exactness baseline shared with text_dedup_near)
    "text_dedup_cc")

  private val oracleNames = SparkEntry.all.collect {
    case Q(n, _, Some(_)) if !skip(n) => n
  }

  test("no oracle query plans an unlisted CartesianProduct") {
    val offenders = oracleNames.filter { n =>
      val p = SparkEntry.queries(n)(spark, TestSpark.Sf)
        .queryExecution.executedPlan.toString
      p.contains("CartesianProduct") && !mayNestLoop(n)
    }
    assert(offenders.isEmpty, s"unexpected cartesian products: $offenders")
  }

  test("no oracle query plans a stray InMemoryTableScan (cache leak)") {
    val offenders = oracleNames.filter { n =>
      SparkEntry.queries(n)(spark, TestSpark.Sf)
        .queryExecution.executedPlan.toString
        .contains("InMemoryTableScan")
    }
    assert(offenders.isEmpty, s"unexpected cached scans: $offenders")
  }
}
