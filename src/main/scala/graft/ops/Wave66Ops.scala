package graft.ops

import graft.{Q, QueryModule, T, Tmp}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Round-14 continuation, wave 66: HOT-GROUP SPLITTING for the prefix
  * candidate rule (SURVEY §18.1 #3) — the non-failing alternative to
  * [[Wave64Ops.fencePrefixGroups]].
  *
  * The fence turns a hot (block…, ptok) collision group into a loud
  * failure before the quadratic join launches. That is the right
  * default for the exactness twins, but a 100-TB pipeline sometimes
  * has to EAT a hot group (a stop-word-like prefix token that survives
  * even df-ascending ordering on a pathological shard) rather than
  * abort the run. The classic remedy is triangle salting — the
  * skew-join replication scheme applied to a SELF-join:
  *
  *   - every member of a group of size g gets a deterministic salt
  *     s = hash(doc_id) mod S, where S = ⌈g / cap⌉;
  *   - the probe side (x) replicates each row to buckets
  *     (pi = s, pj ∈ [s, S)), the build side (y) to buckets
  *     (pi ∈ [0, s], pj = s);
  *   - the join key becomes (block…, ptok, pi, pj).
  *
  * COMPLETENESS: for any two members u (salt su) and v (salt sv) with
  * su ≤ sv, x=u emits bucket (su, sv) (since sv ≥ su) and y=v emits
  * bucket (su, sv) (since su ≤ sv) — every pair meets in EXACTLY one
  * bucket (plus the mirrored roles when su = sv, collapsed by the
  * least/greatest canonicalization + distinct). Salts are independent
  * of id order, so the pair can surface with either member in either
  * role — the join must NOT assume x.doc_id < y.doc_id (the
  * Wave65 live-funnel lesson, same fix: canonicalize, don't order).
  *
  * COST: a group of size g splits into S(S+1)/2 buckets of ≈ cap
  * members per side (hash-balanced, not exact — the HotSplit
  * rehearsal measured ≤ 4% jitter at cap 1000) — each bucket's
  * candidate count is ≈ cap², a bounded task, while the TOTAL
  * candidate count is unchanged (the
  * filter is the same; salting only re-partitions the work). The
  * replication factor per row is ≤ (S+1)/2 ≈ g/(2·cap) — sublinear in
  * the g²/2 pair work it spreads, and exactly 1 (no replication: S=1,
  * one bucket (0,0)) for every group at or under the cap, so cool
  * groups pay only two extra int join-key columns. Group sizing is one
  * count aggregation over the token-row-bounded pref frame — the same
  * scan the fence already paid.
  *
  * The graded op runs the rule with a deliberately SMALL cap (4) so
  * the splitting machinery genuinely engages at every graded SF (the
  * en/src0+src1 slice's hottest df-ascending prefix group holds 10
  * docs at sf0.001 and 15 at sf0.01 → S up to 4): result-identical to
  * the fenced rule by construction, which is exactly what the shared
  * lexPrefixSql oracle proves. Production callers keep the
  * [[Wave64Ops.PrefixGroupCap]] default, where splitting engages only
  * past the fence's former failure threshold.
  */
object Wave66Ops extends QueryModule {

  /** Boundary-complete triangle-salted candidate pairs over a
    * [[Wave64Ops.prefixRowsDf]]-shaped frame `(doc_id, len, <block>,
    * ptok)`: same candidate set as the direct self-join (every pair
    * sharing a block + prefix token and passing the AllPairs length
    * bound), with no collision group ever producing a join bucket
    * larger than `cap` per side. Output `(a, b)`, a < b, distinct. */
  private[graft] def saltedCandidates(pref: DataFrame,
      block: Seq[String], cap: Long): DataFrame = {
    require(cap >= 2, s"saltedCandidates: cap $cap < 2")
    val key = block :+ "ptok"
    val gsz = pref.groupBy(key.map(col): _*)
      .agg(count(lit(1)).as("gsz"))
    val pg = pref.join(gsz, key)
      .withColumn("nsalt",
        expr(s"CAST((gsz + ${cap - 1}) div $cap AS INT)"))
      .withColumn("salt",
        pmod(xxhash64(col("doc_id")), col("nsalt")).cast("int"))
    val x = pg.select(key.map(col) ++ Seq(
      col("doc_id").as("xid"), col("len").as("xlen"),
      col("salt").as("pi"),
      explode(expr("sequence(salt, nsalt - 1)")).as("pj")): _*)
    val y = pg.select(key.map(col) ++ Seq(
      col("doc_id").as("yid"), col("len").as("ylen"),
      explode(expr("sequence(0, salt)")).as("pi"),
      col("salt").as("pj")): _*)
    x.join(y, key ++ Seq("pi", "pj"))
      .filter(col("xid") =!= col("yid") &&
        col("xlen") * 5 >= col("ylen") * 4 &&
        col("ylen") * 5 >= col("xlen") * 4)
      .select(least(col("xid"), col("yid")).as("a"),
        greatest(col("xid"), col("yid")).as("b"))
      .distinct()
  }

  /** The ASYMMETRIC (probe vs index) form of [[saltedCandidates]] —
    * the live funnel's candidate join shape, where a landing wave's
    * prefix rows probe the accumulated index. A self-join triangle
    * does not apply (the sides differ), so this is the full bipartite
    * GRID: per collision group, probe rows split into Sx = ⌈gx/cap⌉
    * salt buckets and index rows into Sy = ⌈gy/cap⌉; a probe row with
    * salt sx replicates to buckets (sx, j ∈ [0, Sy)), an index row
    * with salt sy to (i ∈ [0, Sx), sy) — the pair (x, y) meets in
    * EXACTLY bucket (sx, sy), so completeness is structural and no
    * dedup beyond the existing distinct is needed. Per-bucket work is
    * ≈ cap² (hash-balanced salts, not an exact bound); a probe row's
    * replication factor is Sy ≈ gy/cap — exactly
    * proportional to the gy comparisons that row owes anyway, i.e. the
    * replication never exceeds a constant fraction of the join work it
    * distributes. Group sizes come from one count aggregation per side,
    * and the inner size-join prunes index groups no probe row touches
    * (the direct join's ptok equality did that pruning implicitly).
    * Pairs INSIDE the probe side (probe ⊆ index, the funnel's shape)
    * surface in both role orders and collapse under the least/greatest
    * canonicalization + distinct, same as the direct rule. */
  private[graft] def gridSaltedProbeCandidates(probe: DataFrame,
      index: DataFrame, block: Seq[String], cap: Long): DataFrame = {
    require(cap >= 2, s"gridSaltedProbeCandidates: cap $cap < 2")
    val key = block :+ "ptok"
    // r15 (ADVICE-r14): checkpoint the group-size frame BEFORE the
    // fast-path max() probe — the r14 shape executed the uncached
    // two-groupBy-plus-join plan once for the probe and then AGAIN on
    // both salt replications in the slow path. One materialization now
    // serves all three reads (the fast path pays what the probe always
    // cost; candidate semantics unchanged) — and the fast-path maxima
    // ride as observe() metrics on that materialization, so the
    // separate .first() probe job is gone too.
    val szObs = org.apache.spark.sql.Observation()
    val sizes = org.apache.spark.sql.graftx.Bridge
      .localCheckpointHonestStats(probe.groupBy(key.map(col): _*)
      .agg(count(lit(1)).as("gx"))
      .join(index.groupBy(key.map(col): _*)
        .agg(count(lit(1)).as("gy")), key)
      .withColumn("nx", expr(s"CAST((gx + ${cap - 1}) div $cap AS INT)"))
      .withColumn("ny", expr(s"CAST((gy + ${cap - 1}) div $cap AS INT)"))
      .select(key.map(col) :+ col("nx") :+ col("ny"): _*)
      .observe(szObs, max(col("nx")).as("mx"), max(col("ny")).as("my")))
    // FAST PATH (r14 optimization round): when NO collision group on
    // either side exceeds the cap, every group has nx = ny = 1 — the
    // salted join degenerates to the direct bipartite join with a
    // constant (0, 0) bucket on every row, so the candidate set is the
    // direct join's BY CONSTRUCTION. Skip the salt machinery: the
    // size-join against both sides, the two explode replications, the
    // two extra join-key columns and the wider distinct input all
    // vanish, leaving one size aggregation (the fence-class cost this
    // rule always pays) + one hash join. This is the every-wave case at
    // graded scale (hottest group ≈ 15 docs vs cap 20k) and the common
    // case at 100 TB under the df-ascending order — the split machinery
    // engages exactly when a group is genuinely hot (and is separately
    // graded at cap 4 by text_dedup_near_split, where it always runs).
    val mx = szObs.get
    def m(k: String): Int = mx.get(k) match {
      case Some(null) | None => 0
      case Some(v) => v.asInstanceOf[Int]
    }
    if (m("mx") <= 1 && m("my") <= 1)
      return probe
        .select(key.map(col) ++ Seq(col("doc_id").as("xid"),
          col("len").as("xlen")): _*)
        .join(index.select(key.map(col) ++ Seq(col("doc_id").as("yid"),
          col("len").as("ylen")): _*), key)
        .filter(col("xid") =!= col("yid") &&
          col("xlen") * 5 >= col("ylen") * 4 &&
          col("ylen") * 5 >= col("xlen") * 4)
        .select(least(col("xid"), col("yid")).as("a"),
          greatest(col("xid"), col("yid")).as("b"))
        .distinct()
    val x = probe.join(sizes, key)
      .withColumn("sx", pmod(xxhash64(col("doc_id")), col("nx"))
        .cast("int"))
      .select(key.map(col) ++ Seq(
        col("doc_id").as("xid"), col("len").as("xlen"),
        col("sx").as("pi"),
        explode(expr("sequence(0, ny - 1)")).as("pj")): _*)
    val y = index.join(sizes, key)
      .withColumn("sy", pmod(xxhash64(col("doc_id")), col("ny"))
        .cast("int"))
      .select(key.map(col) ++ Seq(
        col("doc_id").as("yid"), col("len").as("ylen"),
        explode(expr("sequence(0, nx - 1)")).as("pi"),
        col("sy").as("pj")): _*)
    x.join(y, key ++ Seq("pi", "pj"))
      .filter(col("xid") =!= col("yid") &&
        col("xlen") * 5 >= col("ylen") * 4 &&
        col("ylen") * 5 >= col("xlen") * 4)
      .select(least(col("xid"), col("yid")).as("a"),
        greatest(col("xid"), col("yid")).as("b"))
      .distinct()
  }

  /** [[Wave64Ops.prefixJaccardPairs]] through the salted candidate
    * rule: identical output (the candidate set is identical and the
    * exact verify is shared), no fence — hot groups split instead of
    * failing. `cap` bounds the per-bucket join side. */
  private[graft] def saltedPrefixJaccardPairs(t4: DataFrame,
      block: Seq[String],
      cap: Long = Wave64Ops.PrefixGroupCap): DataFrame = {
    // r15: one materialization each for the token sets and the prefix
    // frame (the prefixJaccardPairs fix applied to the salted twin —
    // the pref plan otherwise re-executes for the group sizing and both
    // salt replications, and t4 for the two verify set joins)
    val cp = org.apache.spark.sql.graftx.Bridge
      .localCheckpointHonestStats _
    val t4c = cp(t4)
    val pref = cp(Wave64Ops.prefixRowsDf(t4c, block))
    Wave64Ops.jaccardVerify(saltedCandidates(pref, block, cap),
      t4c.select("doc_id", "ts"))
  }

  /** The graded cap — small enough that the triangle split genuinely
    * runs at every graded SF (see object scaladoc). */
  val SplitGradeCap = 4L

  def queries: Seq[Q] = Seq(
    Q(
      "text_dedup_near_split",
      // the hot-group SPLIT near-dup rule: exact token-set Jaccard
      // >= 0.8 pairs on the blocked en/src0+src1 slice (lexPairs'
      // semantics) with the candidate join triangle-salted at cap 4 —
      // result-identical to the fenced rule, proven by replaying the
      // SAME df-ascending prefix oracle chain. Guard: the exact verify
      // stays collision-bounded; the split bounds the BUCKET, not the
      // total, so the exactness fence still applies to the input.
      (s, dir) => {
        graft.Guard.quadratic(T(s, dir, "documents"),
          "text_dedup_near_split")
        saltedPrefixJaccardPairs(
          T(s, dir, "documents")
            .filter(col("lang") === "en" &&
              col("source").isin("src0", "src1"))
            .select(col("doc_id"),
              array_sort(array_distinct(split(col("text"), " ")))
                .as("ts")),
          Nil, cap = SplitGradeCap)
          .orderBy("a", "b")
      },
      Some(
        "WITH " + Wave64Ops.lexPrefixSql +
          "res AS (SELECT a, b FROM lp) " +
          "SELECT a, b FROM res ORDER BY a, b")
    ),
    Q(
      "pipe_curation_refreeze",
      // the frozen-token-order REFREEZE as a graded mid-stream
      // maintenance cadence: setup bootstraps `tokord` from a STARVED
      // corpus (25 docs — most of the live vocabulary lands unseen,
      // the maximal-drift scenario the §18 handoff note describes),
      // the upper id half lands as wave 0, LiveFunnel.refreeze
      // atomically rebuilds tokord + the ENTIRE pref index from the
      // accumulated stage-4 universe in ONE maintenance tx, and the
      // lower half lands as wave 1 (non-monotone order — real keeper
      // demotions cross the refreeze). The oracle is the batch ledger
      // SQL VERBATIM: funnel decisions must be INVARIANT under both
      // the degenerate bootstrap order and the mid-stream order swap
      // (any ONE total order is complete, and the verify filter makes
      // the output order-independent) — what drifts is collision
      // economics, never results.
      (s, dir) => {
        import graft.sources.SnapTable
        import Wave65Ops.LiveFunnel
        graft.Guard.quadratic(T(s, dir, "documents"),
          "pipe_curation_refreeze stage-4 exact near-dedup")
        val docs = T(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"),
            col("text"), col("n_chars"))
        val (route, gridded, _) = Wave62Ops.semdedupGeometry(s, dir)
        val landingDf = docs.join(
          gridded.withColumnRenamed("vec_id", "doc_id"),
          Seq("doc_id"), "left")
        val landing = Tmp.dir("graft_refreeze_landing")
        val txroot = Tmp.dir("graft_refreeze_tx")
        val ckpt = Tmp.dir("graft_refreeze_ckpt")
        LiveFunnel.setup(s, txroot, landingDf.limit(0), route,
          docs.filter(col("doc_id") < 25))
        TableOps.sqlWarehouse(s)
        def drain(): Unit = {
          val q = s.readStream.table(s"snap.`$landing`")
            .writeStream
            .option("checkpointLocation", ckpt)
            .foreachBatch { (b: DataFrame, id: Long) =>
              LiveFunnel.ingest(s, txroot, b, id, route); ()
            }
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        val maxId = docs.agg(max("doc_id")).first().getLong(0)
        val mid = (maxId + 1) / 2
        SnapTable.create(s, landing,
          landingDf.filter(col("doc_id") >= mid), "doc_id")
        drain()
        LiveFunnel.refreeze(s, txroot)
        SnapTable.append(s, landing,
          landingDf.filter(col("doc_id") < mid))
        drain()
        LiveFunnel.serve(s, txroot).orderBy("doc_id")
      },
      Some(Wave64Ops.ledgerOracleSql)
    )
  )
}
