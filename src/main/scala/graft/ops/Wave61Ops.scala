package graft.ops

import graft.{Q, QueryModule, T}
import graft.Det.{dround, droundSql}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessorWithInitialState, TTLConfig, TimeMode, TimerValues, ValueState}

/** Round-12 wave 61: the two serving-layer closers from VERDICT-r11.
  *
  *  - `stream_semdedup_live` is the VECTOR twin of `stream_neardup_live`
  *    (VERDICT-r11 #3): embeddings arrive on a stream, are quantized to
  *    the house 1e7 integer grid, routed to their coarse IVF cell
  *    against FROZEN batch geometry (the k lowest-id centroids — the
  *    same invariant the incremental batch ops pin: a stream must never
  *    re-derive routing geometry mid-flight), and each arrival
  *    exact-cosine-verifies against the cell's CURRENT members inside
  *    one `transformWithState` processor. Per-cell state is BOUNDED by
  *    the same event-time dedup horizon as the text twin (lazy evict on
  *    arrival + one event-time timer per cell). Unlike the MinHash twin
  *    the whole pipeline is deterministic (integer-grid geometry,
  *    integer dot products, 1e9-grid rounding), so the LIVE stream is
  *    oracle-checked end-to-end: DuckDB replays routing + within-cell
  *    pair cosines. At 100 TB/day the state is the horizon's worth of
  *    vectors spread over >= ⌈√n⌉ cells — the LSH-bucket argument with
  *    cells instead of band buckets.
  *  - `hybrid_rrf_serve` (VERDICT-r11 #4) is the production retrieval
  *    shape: BM25 top-5 (the text_bm25_topk machinery — shared body,
  *    broadcast query set, postings-only shuffle) ∪ IVF-probe ANN top-5
  *    (the vec_knn_probe machinery — driver-ranked coarse cells,
  *    partition-pruned index read) fused by reciprocal-rank fusion
  *    (k=60) on doc_id ≅ vec_id, top-5 per query by (rrf, id) — a total
  *    order. A candidate absent from one ranker contributes 0 from it,
  *    per standard RRF. Both rankers and the fusion are replayed by the
  *    oracle.
  */
object Wave61Ops extends QueryModule {

  // ------------------------------------------------------ streaming twin

  final case class VecIn(cell: Long, vec_id: Long, g: Seq[Long],
      tsMs: Long)
  final case class CellState(ids: Seq[Long], tss: Seq[Long],
      gs: Seq[Seq[Long]], timerMs: Long)
  final case class SimHit(vec_a: Long, vec_b: Long, cos: Double)

  /** Default dedup horizon: 30 days of event time (the text twin's). */
  val DefaultHorizonMs: Long = 30L * 24 * 3600 * 1000

  /** The house grid quantization (shared definition — see VecAlgs). */
  private[graft] val GridExpr = graft.vec.VecAlgs.GridExpr

  /** Nearest coarse centroid by exact int64 squared L2, ties to the
    * lowest cid — the scalar twin of IvfRouting.assignCoarse (equality
    * on the fixture is pinned by StreamSemdedupSpec). `cents` must be
    * the <= cap broadcast-bounded centroid array. */
  private[graft] def nearestCell(g: Array[Long],
      cents: Array[(Long, Array[Long])]): Long = {
    var best = Long.MaxValue
    var bid = Long.MaxValue
    cents.foreach { case (cid, cg) =>
      var d = 0L
      var i = 0
      while (i < g.length) { val x = g(i) - cg(i); d += x * x; i += 1 }
      if (d < best || (d == best && cid < bid)) { best = d; bid = cid }
    }
    bid
  }

  /** round(x·1e9)/1e9 with Spark's semantics (BigDecimal.valueOf —
    * shortest decimal representation — HALF_UP), so the stream's cosine
    * equals the batch ops' `round(col * 1e9) / 1e9` bit-for-bit. */
  private def cos9(a: Seq[Long], b: Seq[Long]): Double = {
    var dot = 0L; var na = 0L; var nb = 0L; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    val x = dot.toDouble / math.sqrt(na.toDouble * nb.toDouble) * 1e9
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue() / 1e9
  }

  /** Cosine threshold shared with the batch semdedup family. */
  val CosThreshold = 0.3

  /** The grid routing oracle CTE chain, name-prefixed so its
    * consumers — stream_semdedup_live (p = ""), the index/bootstrap
    * oracles (Wave62, p = ""), the hybrid index-serving oracles
    * (Wave63/64, p = "v"/per-pin) and the crossmodal/funnel dedups
    * (Wave64) — share ONE definition of the 1e7 quantization, the
    * footer-sized k, and the nearest-cell assignment. The final CTE
    * `${p}a` carries (vec_id, g, cell) for every non-zero-norm vector
    * satisfying `vecWhere`. The GEOMETRY (k, centroids) always derives
    * from the FULL table — exactly the frozen-bootstrap invariant of
    * the Scala side: restricting the member set (an index pin that has
    * absorbed only some waves) must never re-derive routing. */
  private[ops] def gridCellChain(p: String,
      vecWhere: String = "TRUE"): String =
    s"${p}g0 AS (SELECT vec_id, list_transform(embedding, " +
      "x -> CAST(round(CAST(x AS DOUBLE) * 1e7) AS BIGINT)) AS g " +
      "FROM embeddings), " +
      s"${p}kk AS (SELECT LEAST(65536, GREATEST(1, CAST(ceil(sqrt(" +
      s"CAST((SELECT count(*) FROM ${p}g0) AS DOUBLE))) AS BIGINT))) " +
      "AS k), " +
      s"${p}c AS (SELECT vec_id AS cid, g AS cg FROM ${p}g0 " +
      s"WHERE vec_id < (SELECT k FROM ${p}kk)), " +
      s"${p}g AS (SELECT * FROM ${p}g0 " +
      "WHERE list_sum(list_transform(g, x -> x * x)) > 0 " +
      s"AND ($vecWhere)), " +
      s"${p}a AS (SELECT vec_id, g, (SELECT cid FROM ${p}c ORDER BY " +
      s"list_sum(list_transform(list_zip(${p}g.g, ${p}c.cg), " +
      "p -> (p[1] - p[2]) * (p[1] - p[2]))), cid LIMIT 1) AS cell " +
      s"FROM ${p}g)"

  /** Per-cell membership + verification: state carried across batches
    * and EVICTED past the event-time horizon — the Wave58 lifecycle
    * applied to IVF cells. Within a micro-batch rows process in vec_id
    * order, so "arrived before" is deterministic.
    *
    * Extends `StatefulProcessorWithInitialState` so a FRESH query can
    * bootstrap its per-cell membership from the ACID index
    * (`stream_semdedup_bootstrap` seeds it from the SnapTxn-pinned
    * cell index — the batch→live handoff); used through the plain
    * `transformWithState` overload it behaves exactly as before
    * (`handleInitialState` is never invoked — StreamSemdedupSpec's
    * replay pins are unchanged). Bootstrapped members are sorted by id
    * and get the same one-timer-per-cell lifecycle as arrivals. */
  class SemdedupProcessor(horizonMs: Long)
      extends StatefulProcessorWithInitialState[
        Long, VecIn, SimHit, CellState] {
    @transient private var st: ValueState[CellState] = _

    override def handleInitialState(key: Long, s0: CellState,
        tv: TimerValues): Unit = {
      // members arrive in index order — normalize to the id order the
      // arrival path maintains, and register the cell's ONE timer
      val ord = s0.ids.indices.sortBy(s0.ids(_))
      val tss = ord.map(s0.tss(_))
      val timer = if (tss.isEmpty) Long.MinValue else tss.min + horizonMs
      if (timer != Long.MinValue) getHandle.registerTimer(timer)
      st.update(CellState(ord.map(s0.ids(_)), tss,
        ord.map(s0.gs(_)), timer))
    }

    // TTLConfig.NONE is DELIBERATE: TTL is a processing-time clock, the
    // dedup horizon is an event-time contract — eviction runs against
    // the watermark and replays identically (see Wave58Ops).
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[CellState]("cell",
        Encoders.product[CellState], TTLConfig.NONE)

    private def expired(tsMs: Long, wm: Long): Boolean =
      tsMs + horizonMs <= wm

    override def handleInputRows(key: Long, rows: Iterator[VecIn],
        tv: TimerValues): Iterator[SimHit] = {
      val wm = tv.getCurrentWatermarkInMs()
      val cur =
        if (st.exists()) st.get()
        else CellState(Nil, Nil, Nil, Long.MinValue)
      val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
      val tss = scala.collection.mutable.ArrayBuffer.empty[Long]
      val gs = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
      var i = 0
      while (i < cur.ids.length) {
        if (!expired(cur.tss(i), wm)) {
          ids += cur.ids(i); tss += cur.tss(i); gs += cur.gs(i)
        }
        i += 1
      }
      val out = Seq.newBuilder[SimHit]
      rows.toArray.sortBy(_.vec_id).foreach { r =>
        var j = 0
        while (j < ids.length) {
          val c = cos9(gs(j), r.g)
          // id-ordered canonical pair (the oracle's u < v contract):
          // arrival order equals id order on the shipped op (ts = id·1s),
          // but a caller feeding out-of-order ids across micro-batches
          // must not flip the pair
          if (c > CosThreshold) {
            if (ids(j) < r.vec_id) out += SimHit(ids(j), r.vec_id, c)
            else out += SimHit(r.vec_id, ids(j), c)
          }
          j += 1
        }
        ids += r.vec_id
        tss += r.tsMs
        gs += r.g
      }
      // one live timer per cell at the OLDEST member's expiry, so an
      // untouched cell still purges when the watermark passes it
      val newTimer =
        if (tss.isEmpty) Long.MinValue else tss.min + horizonMs
      if (cur.timerMs != Long.MinValue && cur.timerMs != newTimer)
        getHandle.deleteTimer(cur.timerMs)
      if (newTimer != Long.MinValue && newTimer != cur.timerMs)
        getHandle.registerTimer(newTimer)
      st.update(CellState(ids.toSeq, tss.toSeq, gs.toSeq, newTimer))
      out.result().iterator
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[SimHit] = {
      if (!st.exists()) return Iterator.empty
      val wm = tv.getCurrentWatermarkInMs()
      val cur = st.get()
      val keep = cur.ids.indices.filterNot(i => expired(cur.tss(i), wm))
      if (keep.isEmpty) st.clear()
      else {
        val tss = keep.map(cur.tss(_))
        val next = tss.min + horizonMs
        if (next != info.getExpiryTimeInMs()) getHandle.registerTimer(next)
        st.update(CellState(keep.map(cur.ids(_)), tss,
          keep.map(cur.gs(_)), next))
      }
      Iterator.empty
    }
  }

  /** The keyed streaming pipeline (shared with the spec's MemoryStream
    * twin test). Watermark on `tsMs` (0s delay: fixture stream is
    * in-order); input rows must already carry their frozen-geometry
    * cell. */
  def semdedupStream(in: Dataset[VecIn],
      horizonMs: Long = DefaultHorizonMs): Dataset[SimHit] = {
    import in.sparkSession.implicits._
    in.withColumn("ts", timestamp_millis(col("tsMs")))
      .withWatermark("ts", "0 seconds")
      .select(col("cell"), col("vec_id"), col("g"), col("tsMs"))
      .as[VecIn]
      .groupByKey(_.cell)
      .transformWithState(new SemdedupProcessor(horizonMs),
        TimeMode.EventTime(), OutputMode.Append())(
        Encoders.product[SimHit])
  }

  // ----------------------------------------------------------- queries

  def queries: Seq[Q] = Seq(
    Q(
      "stream_semdedup_live",
      (s, dir) => {
        import org.apache.spark.sql.types._
        import s.implicits._
        // FROZEN routing geometry from the batch table: footer-sized k,
        // k lowest-id centroids on the integer grid (<= cap — the only
        // driver-bounded structure, same bound as every IVF op)
        val k = graft.vec.VecAlgs
          .cellSplit(T.rows(s, dir, "embeddings"))._1
        val cents = T(s, dir, "embeddings")
          .filter(col("vec_id") < k)
          .select(col("vec_id"), expr(GridExpr).as("g"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
          .sortBy(_._1)
        val name = s"live_semdedup_${System.nanoTime()}"
        graft.StreamRun.withStateParts(s) {
          graft.StreamRun.withRocksDb(s) {
            val schema = StructType(Seq(
              StructField("vec_id", LongType),
              StructField("embedding", ArrayType(FloatType)),
              StructField("label", IntegerType)))
            val in = s.readStream.schema(schema)
              .option("pathGlobFilter", "embeddings.parquet")
              .parquet(dir)
              // deterministic event time: 1 vector/second by id; the
              // fixture spans minutes, the horizon 30 days, so nothing
              // expires here — the lifecycle is pinned in the spec
              .select(col("vec_id"), expr(GridExpr).as("g"),
                (col("vec_id") * 1000L).as("tsMs"))
              // zero-norm vectors have no cosine — excluded in BOTH
              // engines with the same predicate
              .filter(expr("aggregate(g, CAST(0 AS BIGINT), " +
                "(acc, x) -> acc + x * x) > 0"))
              .as[(Long, Seq[Long], Long)]
              .map { case (id, g, ts) =>
                VecIn(nearestCell(g.toArray, cents), id, g, ts)
              }
            val q = semdedupStream(in).toDF()
              .writeStream.format("memory").queryName(name)
              .outputMode("append")
              .trigger(
                org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
          }
        }
        // one key per pair (unlike the 16-band text twin): no distinct
        s.table(name).orderBy("vec_a", "vec_b")
      },
      Some(
        "WITH " + gridCellChain("") + ", " +
          "p AS (SELECT u.vec_id AS vec_a, v.vec_id AS vec_b, " +
          "round(list_sum(list_transform(list_zip(u.g, v.g), " +
          "p -> p[1] * p[2])) / sqrt(" +
          "CAST(list_sum(list_transform(u.g, x -> x * x)) AS DOUBLE) * " +
          "CAST(list_sum(list_transform(v.g, x -> x * x)) AS DOUBLE)) " +
          "* 1e9) / 1e9 AS cos " +
          "FROM a u JOIN a v ON u.cell = v.cell " +
          "AND u.vec_id < v.vec_id) " +
          "SELECT vec_a, vec_b, cos FROM p WHERE cos > 0.3 " +
          "ORDER BY vec_a, vec_b")
    ),
    Q(
      "hybrid_rrf_serve",
      (s, dir) => {
        val qids = Wave59Ops.QuerySet.map(_._1).distinct.sorted
        val lex = Wave59Ops.bm25TopK(s, dir)
          .select(col("q_id"), col("doc_id").as("id"),
            col("rnk").as("r_lex"))
        val vec = VectorOps.knnProbeBody(s, dir, qids = qids)
          .select(col("q_id"), col("vec_id").as("id"),
            col("rnk").as("r_vec"))
        val w = Window.partitionBy("q_id")
          .orderBy(col("rrf").desc, col("id"))
        lex.join(vec, Seq("q_id", "id"), "full_outer")
          .withColumn("rrf", dround(
            coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("r_vec")), lit(0.0)),
            6))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 5)
          .select("q_id", "rnk", "id", "r_lex", "r_vec", "rrf")
          .orderBy("q_id", "rnk")
      },
      Some {
        val qidList = Wave59Ops.QuerySet.map(_._1).distinct.sorted
          .mkString(", ")
        def l2(a: String, b: String): String =
          s"(SELECT sum((CAST(z.x AS DOUBLE) - z.y)*" +
            s"(CAST(z.x AS DOUBLE) - z.y)) " +
            s"FROM (SELECT unnest($a) AS x, unnest($b) AS y) z)"
        // lexical ranker: the SHARED text_bm25_topk chain, prefixed l*
        "WITH " + Wave59Ops.bm25CteChain("l") + ", " +
          // vector ranker: the vec_knn_probe oracle, CTEs prefixed v*
          "vc AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings " +
          "WHERE vec_id < LEAST(65536, GREATEST(1, " +
          "CAST(ceil(sqrt((SELECT count(*) FROM embeddings))) " +
          "AS BIGINT)))), " +
          "vv0 AS (SELECT vec_id, embedding, " +
          "sqrt((SELECT sum(CAST(x.a AS DOUBLE)*x.a) " +
          "FROM (SELECT unnest(embedding) AS a) x)) AS nrm " +
          "FROM embeddings), " +
          "vv AS (SELECT * FROM vv0 WHERE nrm > 0), " +
          "vd AS (SELECT vv.vec_id, vc.cid, " +
          l2("vv.embedding", "vc.ce") + " AS d2 FROM vv, vc), " +
          "va AS (SELECT vec_id, (min({'d': d2, 'c': cid})).c AS cid " +
          "FROM vd GROUP BY vec_id), " +
          "vq AS (SELECT vec_id AS q_id, embedding AS qe, nrm AS qnrm " +
          s"FROM vv WHERE vec_id IN ($qidList)), " +
          "vqd AS (SELECT vq.q_id, vc.cid, " + l2("vq.qe", "vc.ce") +
          " AS d2 FROM vq, vc), " +
          "vpr AS (SELECT q_id, cid FROM (SELECT q_id, cid, " +
          "row_number() OVER (PARTITION BY q_id ORDER BY d2, cid) AS rn " +
          "FROM vqd) t WHERE rn <= 2), " +
          "vcand AS (SELECT vq.q_id, vv.vec_id, " +
          droundSql("(SELECT sum(CAST(z.x AS DOUBLE)*z.y) FROM " +
            "(SELECT unnest(vv.embedding) AS x, unnest(vq.qe) AS y) z) " +
            "/ (vv.nrm*vq.qnrm)", 6) +
          " AS sim FROM vpr JOIN vq ON vq.q_id = vpr.q_id " +
          "JOIN va ON va.cid = vpr.cid JOIN vv ON vv.vec_id = va.vec_id " +
          "WHERE vv.vec_id <> vq.q_id), " +
          "vr AS (SELECT q_id, vec_id, CAST(row_number() OVER " +
          "(PARTITION BY q_id ORDER BY sim DESC, vec_id) AS BIGINT) " +
          "AS rnk FROM vcand), " +
          // RRF fusion over the two top-5 lists
          "f AS (SELECT COALESCE(la.q_id, vb.q_id) AS q_id, " +
          "COALESCE(la.doc_id, vb.vec_id) AS id, " +
          "la.rnk AS r_lex, vb.rnk AS r_vec " +
          "FROM (SELECT * FROM lr WHERE rnk <= 5) la " +
          "FULL OUTER JOIN (SELECT * FROM vr WHERE rnk <= 5) vb " +
          "ON la.q_id = vb.q_id AND la.doc_id = vb.vec_id), " +
          "fs AS (SELECT q_id, id, r_lex, r_vec, " +
          droundSql("COALESCE(1.0 / (60 + r_lex), 0.0) + " +
            "COALESCE(1.0 / (60 + r_vec), 0.0)", 6) + " AS rrf FROM f), " +
          "fr AS (SELECT q_id, id, r_lex, r_vec, rrf, " +
          "CAST(row_number() OVER (PARTITION BY q_id " +
          "ORDER BY rrf DESC, id) AS BIGINT) AS rnk FROM fs) " +
          "SELECT q_id, rnk, id, r_lex, r_vec, rrf FROM fr " +
          "WHERE rnk <= 5 ORDER BY q_id, rnk"
      }
    )
  )
}
