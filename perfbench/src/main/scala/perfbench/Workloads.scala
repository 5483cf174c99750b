package perfbench

import java.io.File

import graft.rc.Esn
import org.apache.spark.sql.{Row, SparkSession}

/** The workloads. Each one prepares harness-only state (untimed),
  * sets up (timed as `setup_s`), runs a timed phase and verifies. */
trait Workload {
  def prepare(s: SparkSession, work: String): Any = null
  def setup(s: SparkSession, work: String, prepared: Any): Any
  def phase(s: SparkSession, work: String, state: Any, seed: Long,
      seconds: Double, trace: Option[Trace]): Main.Phase
  def verify(s: SparkSession, state: Any): Seq[String] = Nil
  /** Releases what `setup` started, before its session stops. */
  def close(state: Any): Unit = ()
}

object Workloads {
  /** `analytic_mix`: read-only relational ops across the TPC-H, agg, join,
    * window, stats, time-series, events, scalar-fn, batch-RC and ML
    * families, on the sf0.01 corpus; warm-up on the sf0.001 corpus. */
  val AnalyticOps: Seq[String] = Seq(
    "q3_shipping_priority", "q6_forecast_revenue", "q10_returned_items",
    "q12_late_shipping", "q18_large_customers", "agg_pricing_summary",
    "agg_rollup", "join_inner_hash", "join_broadcast", "join_asof",
    "win_rank_topn_per_group", "win_running_sum", "stats_ttest_welch",
    "ts_ewma", "ts_autocorr", "events_retention", "events_markov",
    "fn_json", "rc_reservoir_states", "ml_auc_roc")

  /** Offered rate of `rc_stream`, events/s: half of the measured
    * saturation rate (see LAYERS.md). `-Dperfbench.rate=N` overrides it
    * for a saturation sweep. */
  val StreamRate: Int =
    sys.props.get("perfbench.rate").map(_.toInt).getOrElse(64000)

  /** The closed loops do fixed work that depends on `--seconds` only,
    * never on how fast the host is: one `analytic_mix` pass per
    * [[PassSeconds]] and one `table_commit` cycle per [[CycleSeconds]]
    * (at least one). */
  val PassSeconds = 5.0
  val CycleSeconds = 3.0
  def units(seconds: Double, per: Double): Int =
    math.max(1, (seconds / per + 1e-9).toInt)

  /** Set-up runs one untimed pass over the ops on the small warm-up
    * corpus (a different path, so per-path memos are still paid in the
    * timed pass).
    * A traced run also takes the `graft.text` counters on the Zipf twin. */
  final class OpWorkload(ops: Seq[String], timedData: String,
      warmData: String) extends Workload {
    def setup(s: SparkSession, work: String, p: Any): Any =
      ops.foreach(n => OpMix.runOne(s, n, s"$work/data/$warmData", -1, None))
    def phase(s: SparkSession, work: String, state: Any, seed: Long,
        seconds: Double, trace: Option[Trace]): Main.Phase = {
      val (recs, walls) =
        OpMix.run(s, ops, s"$work/data/$timedData", seed,
          units(seconds, PassSeconds), trace)
      Main.Phase(recs.map(_.toMap), walls, Nil, walls.sum,
        trace.map(t => OpMix.layerMetrics(recs, walls, t, Main.Cpus) ++
          TextLayer.metrics(s, s"$work/data/twin"))
          .getOrElse(Map.empty))
    }
  }

  object TableWorkload extends Workload {
    /** The base `orders` rows (the model's start) and bytes per row. */
    private var base: (Seq[Row], Double) = _

    private def orders(s: SparkSession, work: String) =
      s.read.parquet(s"$work/data/sf001/orders.parquet")

    override def prepare(s: SparkSession, work: String): Any = {
      val rows = orders(s, work).collect().toSeq
      base = (rows, new File(s"$work/data/sf001/orders.parquet").length
        .toDouble / rows.size)
      val dir = s"$work/tables"
      org.apache.commons.io.FileUtils.deleteQuietly(new File(dir))
      dir
    }

    def setup(s: SparkSession, work: String, p: Any): Any = {
      val dir = p.asInstanceOf[String]
      // warm-up: one whole cycle on a small table
      val small = base._1.take(2000)
      val warm = TableCommit.setup(s, s.createDataFrame(
        java.util.Arrays.asList(small: _*), orders(s, work).schema), small,
        s"$dir/warm")
      TableCommit.runPairs(s, warm, 7L, TableCommit.Writes.size)
      TableCommit.setup(s, orders(s, work), base._1, s"$dir/main")
    }

    def phase(s: SparkSession, work: String, state: Any, seed: Long,
        seconds: Double, trace: Option[Trace]): Main.Phase = {
      val st = state.asInstanceOf[TableCommit.State]
      val (recs, walls) = TableCommit.run(s, st, seed,
        units(seconds, CycleSeconds), trace)
      Main.Phase(recs.map(_.toMap), walls,
        recs.filter(_.error != null).map(r => s"${r.op}: ${r.error}"),
        walls.sum,
        trace.map(t => TableCommit.layerMetrics(s, recs, st, t, Main.Cpus,
          base._2)).getOrElse(Map.empty))
    }

    override def verify(s: SparkSession, state: Any): Seq[String] =
      TableCommit.verify(s, state.asInstanceOf[TableCommit.State])
  }

  object StreamWorkload extends Workload {
    private val mats = Esn.matrices()
    /** Seconds of offered load in the set-up's warm-up. */
    val WarmSeconds = 2.0

    def setup(s: SparkSession, work: String, p: Any): Any = {
      RcStream.configure(s)
      val dir = s"$work/stream"
      org.apache.commons.io.FileUtils.deleteQuietly(new File(dir))
      val pipe = new RcStream.Pipeline(s, dir, mats)
      pipe.offer(-1L, WarmSeconds, StreamRate, timeRc = false)
      pipe
    }

    def phase(s: SparkSession, work: String, state: Any, seed: Long,
        seconds: Double, trace: Option[Trace]): Main.Phase = {
      val pipe = state.asInstanceOf[RcStream.Pipeline]
      val t0 = System.currentTimeMillis()
      val r = pipe.offer(seed, seconds, StreamRate, trace.isDefined)
      val t1 = System.currentTimeMillis()
      val items = r.sink.synchronized(r.evs.map(e => Map[String, Any](
        "id" -> e.id, "sched_ms" -> e.schedMs,
        "done_ms" -> r.sink.doneMs.get(e.id))))
      Main.Phase(items, Nil, r.failures,
        r.busyMs / math.max(1.0, r.evs.size.toDouble),
        trace.map(t => RcStream.layerMetrics(r, t, Main.Cpus, t0, t1))
          .getOrElse(Map.empty))
    }

    override def close(state: Any): Unit =
      state.asInstanceOf[RcStream.Pipeline].close()
  }

  val byName: Map[String, Workload] = Map(
    "analytic_mix" -> new OpWorkload(AnalyticOps, "sf001", "sf0001"),
    "table_commit" -> TableWorkload,
    "rc_stream" -> StreamWorkload)
}

/** `graft.text` counters: one incremental near-dup round on the twin's
  * documents (the last tenth probes an index of the first nine tenths)
  * through `IncNeardup.featurize/candidates/verify`. */
object TextLayer {
  def metrics(s: SparkSession, dir: String): Map[String, Double] = {
    import org.apache.spark.sql.functions.col
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val n = docs.count()
    val old = graft.ops.IncNeardup.featurize(
      docs.filter(col("doc_id") < n * 9 / 10)).cache()
    val delta = graft.ops.IncNeardup.featurize(
      docs.filter(col("doc_id") >= n * 9 / 10)).cache()
    val cand = graft.ops.IncNeardup.candidates(delta,
      graft.ops.IncNeardup.bucketRows(old)).cache()
    val nc = cand.count()
    val nv = graft.ops.IncNeardup.verify(cand, delta, old).count()
    Seq(old, delta, cand).foreach(_.unpersist())
    Map("text.candidate_pairs" -> nc.toDouble,
      "text.verified_pairs" -> nv.toDouble,
      "text.verify_yield" -> (if (nc > 0) nv.toDouble / nc else 0.0))
  }
}
