package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components: graft's one label-propagation kernel. Every op
  * that needs components (`graph_connected_components`, `text_dedup_cc`,
  * the crossmodal decision, the curation funnel and its live cadence)
  * calls [[minLabel]].
  */
object Cc {

  /** Connected components by min-label propagation WITH pointer
    * jumping over an undirected edge set. `nodes(id)`, `edges(a, b)`
    * (any orientation; symmetrized here). Returns a CLEAN
    * checkpoint-backed `(id, comp)` frame, `comp` the smallest id of
    * the component (a LogicalRDD with truncated lineage and honest
    * stats): the iterative lineage is never re-executed by consumers —
    * re-execution is a cached-block scan — and the blocks are
    * ContextCleaner-reclaimed once the frame is unreachable.
    *
    * Loop discipline (all three are load-bearing — this kernel first
    * shipped as a persist/unpersist union loop and OOM'd the driver at
    * sf0.1 on the dense near-dup slice: the round-k plan nests every
    * previous round's union/join tree TWICE, so plan size doubles per
    * round — persist caches data, not plan size):
    *  - every round-carried frame goes through
    *    `Bridge.localCheckpointHonestStats` — lineage truncated AND
    *    the materialized block size swapped in for the parent's
    *    estimated stats (a bare localCheckpoint carries estimates that
    *    SQUARE through the pointer-jump self-join — the round-12
    *    rehearsal's exponential-driver-cost bug);
    *  - pointer jumping (comp(x) ← comp(comp(x))) halves label-chain
    *    depth per round, so rounds stay O(log diameter) — a within-
    *    cell cosine chain can have diameter ~cell size, which a plain
    *    min-label loop would pay linearly;
    *  - no size-threshold broadcasts inside the loop: both loop frames
    *    are |V|-sized and scale with the corpus. Shuffle width follows
    *    the DATA, never a pinned constant (~125k symmetrized edge rows
    *    per partition, floor 4): 4 partitions are right at fixture
    *    scale and a straight parallelism cap at 100 TB. The edge count
    *    is an observation on the edge checkpoint, not a recompute.
    * RE-ENTRANT: the loop runs in an ISOLATED CLONED SESSION —
    * `Bridge.isolatedSession` snapshots the caller's conf, the input
    * plans are rebound into the clone (`Bridge.inSession`), and the
    * width/broadcast overrides mutate only the clone. The caller's
    * session conf is never touched, so concurrent calls (or any
    * concurrent query on the caller's session) cannot observe or stomp
    * each other's overrides — Wave66Spec races calls on one session to
    * pin it.
    *
    * CERTIFICATE: the edge count and the per-round label sums are
    * `observe()` metrics on the checkpoints the loop already pays for.
    * The `CollectMetrics` node sits on top of each observed plan, above
    * its last exchange, so it runs in the RESULT stage of the eager
    * checkpoint job (the plan is symmetrize → observe for the edges,
    * exchange → min-agg → observe for the propagate step, exchanges →
    * sort-merge join → observe for the jump). Spark applies a result
    * task's accumulator update once per partition, however often the
    * task is retried or speculated, so both scalars are exact on a
    * cluster too, not only in local mode; CcSpec pins the stage. A
    * `CollectMetrics` moved below an exchange would run in a shuffle-map
    * stage, whose re-executions do double-count.
    *
    * DURABILITY (cluster caveat): the returned frame is
    * localCheckpoint-backed — blocks are non-replicated and
    * executor-local, so on executor loss the frame is unrecoverable; a
    * cluster deployment should swap in reliable checkpointing. */
  private[graft] def minLabel(s: SparkSession, nodes: DataFrame,
      edges: DataFrame, what: String): DataFrame = {
    val cp = org.apache.spark.sql.graftx.Bridge
      .localCheckpointHonestStats _
    val iso = org.apache.spark.sql.graftx.Bridge.isolatedSession(s)
    def bind(df: DataFrame): DataFrame =
      org.apache.spark.sql.graftx.Bridge.inSession(iso, df)
    val partsKey = "spark.sql.shuffle.partitions"
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    locally {
      iso.conf.set(bcKey, "-1")
      // every scalar this loop needs (edge count for the shuffle width,
      // the per-round convergence sum) rides as an observe() metric on
      // the checkpoint materialization it already pays for — no
      // separate count()/first() job per round. localCheckpoint is
      // eager, so the observation is always delivered by the time it is
      // read.
      def obsSum = sum(col("comp").cast("decimal(38,0)")).as("s")
      def sumOf(o: org.apache.spark.sql.Observation)
          : java.math.BigDecimal =
        o.get.get("s").filter(_ != null)
          .map(_.asInstanceOf[java.math.BigDecimal])
          .getOrElse(java.math.BigDecimal.ZERO)
      val eObs = org.apache.spark.sql.Observation()
      val e = cp(bind(edges.select(col("a").as("src"),
          col("b").as("dst"))
        .union(edges.select(col("b").as("src"), col("a").as("dst"))))
        .observe(eObs, count(lit(1)).as("n")))
      val eRows = eObs.get.apply("n").asInstanceOf[Long]

      // EDGELESS graph — every node is its own component, no
      // propagation round can change anything. The delta-CC callers
      // (live funnel, crossmodal incr) routinely pass empty
      // perturbation subgraphs; skip the loop, its convergence jobs
      // and the final materialization outright.
      if (eRows == 0L)
        return org.apache.spark.sql.graftx.Bridge.inSession(s,
          cp(bind(nodes.select(col("id"), col("id").as("comp")))))
      iso.conf.set(partsKey, math.max(4L, eRows / 125000L).toString)
      // the initial labels are a NARROW projection over the caller's
      // node frame — round 1 references it twice (union side + message
      // join side), both cheap re-scans, so an eager checkpoint +
      // initial-sum job would buy nothing: with eRows > 0 (the
      // edgeless case short-circuited above) every edge (a, b), a ≠ b,
      // strictly lowers the round-1 sum, so round 1 can never be the
      // fixed point — seed `total` null and skip the first comparison.
      var labels = bind(nodes.select(col("id"), col("id").as("comp")))
      // convergence certificate: exact DECIMAL(38,0) label sum —
      // labels decrease monotonically so sum equality IS a fixed
      // point, but a Long sum wraps past ~1e10 64-bit ids (false
      // convergence / spurious non-convergence at corpus scale);
      // 38 digits hold sum(2^63 · 1e10 rows) ≈ 9e28 with room
      var total: java.math.BigDecimal = null
      var converged = false
      var iters = 0
      while (!converged && iters < 25) {
        val msgs = e.join(labels, col("src") === col("id"))
          .select(col("dst").as("id"), col("comp"))
        val mObs = org.apache.spark.sql.Observation()
        val mins = cp(labels.select("id", "comp").union(msgs)
          .groupBy(col("id"))
          .agg(min(col("comp")).as("comp"))
          .observe(mObs, obsSum))
        val mTotal = sumOf(mObs)
        if (total != null && mTotal.compareTo(total) == 0) {
          // fixed point detected on the PROPAGATE step — labels are
          // monotone non-increasing, so an unchanged sum means
          // mins == labels pointwise, i.e. every edge's endpoints
          // already share a label and that label is the component min
          // (it propagated from the min id). The pointer jump maps a
          // fixed point to itself, so the final round's jump
          // checkpoint (one driver job per call) is provably a no-op:
          // skip it.
          labels = mins
          converged = true
        } else {
          val nObs = org.apache.spark.sql.Observation()
          // pointer jump: comp(id) ← comp(comp(id))
          val next = cp(mins.as("a")
            .join(mins.select(col("id").as("cid"),
              col("comp").as("ccomp")).as("b"),
              col("a.comp") === col("cid"), "left")
            .select(col("a.id").as("id"),
              coalesce(col("ccomp"), col("a.comp")).as("comp"))
            .observe(nObs, obsSum))
          total = sumOf(nObs)
          labels = next
        }
        iters += 1
      }
      if (!converged) throw new IllegalStateException(
        s"$what: label propagation not converged after $iters " +
          "iterations — component diameter exceeds the cap")
      // return the final CHECKPOINTED frame (rebound to the caller's
      // session), not a parquet write + re-read round-trip — the
      // LogicalRDD already has truncated lineage and honest stats, so
      // consumers re-execute only a cached-block scan. The blocks are
      // session-scoped like every localCheckpoint and are reclaimed by
      // the ContextCleaner once the frame is unreachable.
      org.apache.spark.sql.graftx.Bridge.inSession(s, labels)
    }
  }
}
