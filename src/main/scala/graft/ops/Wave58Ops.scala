package graft.ops

import graft.{Q, QueryModule}
import graft.text.TextAlgs
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessorWithInitialState, TTLConfig, TimeMode, TimerValues, ValueState}

/** Round-10 wave 58: ONLINE near-duplicate detection — the streaming
  * twin of the `data_incremental_neardup` index, i.e. the shape a live
  * LLM-ingest pipeline runs: documents arrive on a stream, and each one
  * is checked against everything that arrived BEFORE it (within the
  * dedup horizon), in one pass, with no batch re-scans.
  *
  * Dataflow: each document fans out to its 16 MinHash LSH band keys; the
  * stream is keyed by (band, bandhash) and a `transformWithState`
  * processor holds that bucket's members (id + event-time ms + sorted
  * 64-bit token-hash set) in typed ValueState. An arriving doc
  * exact-verifies (merge-intersect Jaccard, rounded 1e-6) against the
  * CURRENT members, emits any >= 0.8 matches, and joins the bucket — so
  * state grows only with bucket population (the LSH guarantee) and every
  * emitted pair is cross-arrival by construction. A pair colliding in
  * several bands is emitted per band; the read-back dedups. Within a
  * micro-batch, bucket rows process in doc_id order, so "arrived before"
  * is deterministic.
  *
  * STATE LIFECYCLE (VERDICT-r10 #2): membership is BOUNDED by an
  * event-time dedup horizon, not the stream's lifetime. Members whose
  * event time has fallen `horizonMs` behind the watermark are evicted —
  * lazily at the next arrival into their bucket, and eagerly by ONE live
  * event-time timer per bucket (registered at the oldest member's
  * expiry, re-registered on change, state CLEARED when the last member
  * expires) — the `stream_idle_timeout_live` lifecycle applied to the
  * near-dup index. So per-bucket state holds only the horizon's worth of
  * documents on an unbounded stream. The shipped op derives event time
  * deterministically from doc_id (1 doc/second) with a 30-day horizon —
  * nothing expires at fixture scale, keeping the output identical to the
  * unbounded form; StreamNeardupSpec pins eviction with a tight horizon
  * (a stale member no longer matches, a fresh pair still does).
  *
  * No oracle (seeded MinHash banding, per the SURVEY §2.10 declaration);
  * StreamNeardupSpec pins (a) equality with a driver-side replay of the
  * same banding + verification and (b) state carrying across
  * micro-batches (a batch-2 doc matches a batch-1 doc).
  *
  * MEASURED LIMITATION (same as text_dedup_mllib_lsh): this synthetic
  * corpus is LSH-adversarial — one shared vocabulary puts ~25% of ALL
  * pairs above 0.8 Jaccard, so buckets are dense and the within-bucket
  * verify degenerates quadratic (measured 207 s at sf0.1 unblocked,
  * ~30k true pairs at sf0.01). The op therefore streams the same
  * blocked slice as text_dedup_near; on a real corpus (sparse near-dup
  * structure) the unblocked form is the production shape.
  */
object Wave58Ops extends QueryModule {

  final case class DocIn(doc_id: Long, text: String, tsMs: Long)
  final case class BandRow(band: Int, bhash: Long, doc_id: Long,
      tsMs: Long, toks: Seq[Long])
  final case class BucketState(ids: Seq[Long], tss: Seq[Long],
      toks: Seq[Seq[Long]], timerMs: Long)
  final case class DupHit(doc_a: Long, doc_b: Long, jac: Double)

  /** Default dedup horizon for the shipped op: 30 days of event time. */
  val DefaultHorizonMs: Long = 30L * 24 * 3600 * 1000

  /** Merge-intersect size of two sorted distinct long arrays. */
  private def lix(a: Seq[Long], b: Seq[Long]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      val c = java.lang.Long.compare(a(i), b(j))
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    n
  }

  private def jac6(a: Seq[Long], b: Seq[Long]): Double = {
    val inter = lix(a, b).toDouble
    math.round(inter / (a.length + b.length - inter) * 1e6) / 1e6
  }

  /** Per-bucket membership + verification, state carried across batches
    * and EVICTED past the event-time horizon (see object scaladoc).
    *
    * Extends `StatefulProcessorWithInitialState` so a FRESH query can
    * bootstrap bucket membership from the ACID index
    * (`stream_neardup_bootstrap` seeds it from the SnapTxn-pinned
    * buckets ⋈ toksets — the batch→live handoff); through the plain
    * `transformWithState` overload it behaves exactly as before
    * (`handleInitialState` never runs — StreamNeardupSpec unchanged).
    * Seeded members are sorted to the arrival path's id order and get
    * the same one-timer-per-bucket lifecycle. */
  class NeardupProcessor(horizonMs: Long)
      extends StatefulProcessorWithInitialState[
        (Int, Long), BandRow, DupHit, BucketState] {
    @transient private var st: ValueState[BucketState] = _

    override def handleInitialState(key: (Int, Long), s0: BucketState,
        tv: TimerValues): Unit = {
      val ord = s0.ids.indices.sortBy(s0.ids(_))
      val tss = ord.map(s0.tss(_))
      val timer = if (tss.isEmpty) Long.MinValue else tss.min + horizonMs
      if (timer != Long.MinValue) getHandle.registerTimer(timer)
      st.update(BucketState(ord.map(s0.ids(_)), tss,
        ord.map(s0.toks(_)), timer))
    }

    // TTLConfig.NONE is DELIBERATE, not an unbounded-state bug: TTL is a
    // PROCESSING-time clock, and the dedup horizon is an EVENT-time
    // contract — eviction runs against the watermark (expired + the
    // event-time timer below), which replays identically and never
    // depends on wall-clock batch cadence. Enabling TTL on top would
    // add a second, non-replayable expiry path.
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[BucketState]("bucket",
        Encoders.product[BucketState], TTLConfig.NONE)

    /** A member is dead once the watermark has passed its expiry. */
    private def expired(tsMs: Long, wm: Long): Boolean =
      tsMs + horizonMs <= wm

    override def handleInputRows(key: (Int, Long),
        rows: Iterator[BandRow], tv: TimerValues): Iterator[DupHit] = {
      val wm = tv.getCurrentWatermarkInMs()
      val cur =
        if (st.exists()) st.get()
        else BucketState(Nil, Nil, Nil, Long.MinValue)
      // mutable in-batch membership (an immutable :+ per row would copy
      // the bucket quadratically); lazily evict horizon-expired members
      // on the way in — their docs can no longer match anything new
      val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
      val tss = scala.collection.mutable.ArrayBuffer.empty[Long]
      val toks = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
      var i = 0
      while (i < cur.ids.length) {
        if (!expired(cur.tss(i), wm)) {
          ids += cur.ids(i); tss += cur.tss(i); toks += cur.toks(i)
        }
        i += 1
      }
      val out = Seq.newBuilder[DupHit]
      rows.toArray.sortBy(_.doc_id).foreach { r =>
        var i = 0
        while (i < ids.length) {
          // size-ratio prune: J <= min/max, so len-skewed pairs cannot
          // reach 0.8 — the exactness-preserving filter the batch
          // minhash op uses
          val (lo, hi) =
            if (r.toks.length < toks(i).length)
              (r.toks.length.toLong, toks(i).length.toLong)
            else (toks(i).length.toLong, r.toks.length.toLong)
          if (lo * 10000000L >= hi * 7999995L) {
            val j = jac6(r.toks, toks(i))
            // id-ordered canonical pair: in-order arrivals already
            // satisfy ids(i) < doc_id, but a SEEDED bucket (the
            // bootstrap handoff) can hold members with higher ids than
            // an arrival — the orientation must not flip (the Wave61
            // convention)
            if (j >= 0.8) {
              if (ids(i) < r.doc_id) out += DupHit(ids(i), r.doc_id, j)
              else out += DupHit(r.doc_id, ids(i), j)
            }
          }
          i += 1
        }
        ids += r.doc_id
        tss += r.tsMs
        toks += r.toks
      }
      // one live timer per bucket at the OLDEST member's expiry, so an
      // untouched bucket still purges when the watermark passes it
      val newTimer =
        if (tss.isEmpty) Long.MinValue else tss.min + horizonMs
      if (cur.timerMs != Long.MinValue && cur.timerMs != newTimer)
        getHandle.deleteTimer(cur.timerMs)
      if (newTimer != Long.MinValue && newTimer != cur.timerMs)
        getHandle.registerTimer(newTimer)
      st.update(BucketState(ids.toSeq, tss.toSeq, toks.toSeq, newTimer))
      out.result().iterator
    }

    override def handleExpiredTimer(key: (Int, Long), tv: TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[DupHit] = {
      if (!st.exists()) return Iterator.empty
      val wm = tv.getCurrentWatermarkInMs()
      val cur = st.get()
      val keep = cur.ids.indices.filterNot(i => expired(cur.tss(i), wm))
      if (keep.isEmpty) st.clear()
      else {
        val tss = keep.map(cur.tss(_))
        val next = tss.min + horizonMs
        if (next != info.getExpiryTimeInMs()) getHandle.registerTimer(next)
        st.update(BucketState(keep.map(cur.ids(_)), tss,
          keep.map(cur.toks(_)), next))
      }
      Iterator.empty
    }
  }

  /** The keyed streaming pipeline (shared with the spec's MemoryStream
    * twin test). The watermark rides on `tsMs` (0s delay: the fixture
    * stream is in-order) and is selected away after registration — the
    * query-level watermark is what drives timers and eviction. */
  def neardupStream(in: Dataset[DocIn],
      horizonMs: Long = DefaultHorizonMs): Dataset[DupHit] =
    banded(in).transformWithState(new NeardupProcessor(horizonMs),
      TimeMode.EventTime(), OutputMode.Append())(
      Encoders.product[DupHit])

  /** The SEEDED twin of [[neardupStream]]: identical fanout and
    * processor, but bucket membership bootstraps from `initKV` (the
    * SnapTxn-pinned buckets ⋈ toksets) — stream_neardup_bootstrap's
    * entry (Wave63). */
  def neardupStreamSeeded(in: Dataset[DocIn],
      initKV: org.apache.spark.sql
        .KeyValueGroupedDataset[(Int, Long), BucketState],
      horizonMs: Long = DefaultHorizonMs): Dataset[DupHit] =
    banded(in).transformWithState(new NeardupProcessor(horizonMs),
      TimeMode.EventTime(), OutputMode.Append(), initKV)(
      Encoders.product[DupHit], Encoders.product[BucketState])

  /** Shared band fanout + keying: watermark on `tsMs`, one BandRow per
    * (doc, LSH band), keyed by (band, bhash). */
  private def banded(in: Dataset[DocIn])
      : org.apache.spark.sql.KeyValueGroupedDataset[(Int, Long), BandRow] = {
    import in.sparkSession.implicits._
    in.withColumn("ts", timestamp_millis(col("tsMs")))
      .withWatermark("ts", "0 seconds")
      .select(col("doc_id"), col("text"), col("tsMs")).as[DocIn]
      .flatMap { d =>
        val dist = d.text.split(" ").toSeq.distinct
        val toks = dist.map(TextAlgs.tokenHash64).sorted
        TextAlgs.lshBands(TextAlgs.minhash(dist)).map { case (b, h) =>
          BandRow(b, h, d.doc_id, d.tsMs, toks)
        }
      }
      .groupByKey(r => (r.band, r.bhash))
  }

  def queries: Seq[Q] = Seq(
    Q(
      "stream_neardup_live",
      (s, dir) => {
        import org.apache.spark.sql.types._
        import s.implicits._
        val name = s"live_neardup_${System.nanoTime()}"
        graft.StreamRun.withStateParts(s) {
          graft.StreamRun.withRocksDb(s) {
            val schema = StructType(Seq(
              StructField("doc_id", LongType),
              StructField("text", StringType),
              StructField("lang", StringType),
              StructField("source", StringType),
              StructField("n_chars", LongType)))
            val in = s.readStream.schema(schema)
              .option("pathGlobFilter", "documents.parquet")
              .parquet(dir)
              // blocked slice (see MEASURED LIMITATION above)
              .filter(col("lang") === "en" &&
                col("source").isin("src0", "src1"))
              // deterministic event time: 1 doc/second by id — the
              // fixture spans hours, the horizon 30 days, so nothing
              // expires here; the lifecycle is pinned in the spec
              .select(col("doc_id"), col("text"),
                (col("doc_id") * 1000L).as("tsMs")).as[DocIn]
            val q = neardupStream(in).toDF()
              .writeStream.format("memory").queryName(name)
              .outputMode("append")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
          }
        }
        // a pair colliding in several bands emits once per band
        s.table(name).distinct().orderBy("doc_a", "doc_b")
      },
      None
    )
  )
}
