package graft.ops

import graft.{Q, QueryModule, StreamRun, T}
import graft.Det._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2.8 — streaming semantics, batch-equivalent formulations on the
  * bounded `events` table (the DuckDB-checkable half of the contract; the
  * Structured Streaming twins live in `graft.streaming` and are asserted
  * equal to these in StreamingTwinSpec).
  *
  * Scale notes: tumbling/sliding window aggregation is a plain hash
  * aggregate on (window, key) — fully parallel. Sessionization shuffles once
  * on user_id then runs two per-partition window passes. `stream_late_data`
  * is the one inherently sequential op (running max in arrival order == the
  * watermark); in streaming it's O(1) state — the batch twin's single-
  * partition window is test-scale only.
  */
object EventOps extends QueryModule {

  /** events as an unbounded stream: file source over the fixture dir with
    * the raw-nanos schema, converted to µs NTZ like the batch loader.
    */
  /** File-source streaming read of the events table (raw nanos → µs NTZ);
    * shared by every *_live query (RcOps reuses it for the streaming ESN).
    */
  def liveEvents(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    // the fixture's ts footer type varies by testdata generation (NANOS
    // read as raw long vs native MICROS) — take it from the footer, as
    // the batch loader does, and mirror its shape in the streaming schema
    val path = s"$dir/events.parquet"
    val footer = graft.sources.ParquetMeta.fileFooter(s, path).getOrElse(
      throw new java.io.FileNotFoundException(s"$path: not a parquet file"))
    val nanos = graft.sources.ParquetMeta.timestampNanos(footer, "ts")
    if (nanos) T.readNanosAsLong(s)
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", if (nanos) LongType else TimestampNTZType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    val raw = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    if (nanos)
      raw.withColumn("ts",
        expr("CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)"))
    else raw
  }

  def queries: Seq[Q] = Seq(
    Q(
      "stream_tumbling_1h",
      (s, dir) =>
        T(s, dir, "events")
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            dsum(col("value"), 2).as("sum_val"))
          .select(col("w.start").cast("timestamp_ntz").as("win_start"),
            col("event_type"), col("n"), col("sum_val"))
          .orderBy("win_start", "event_type"),
      Some(
        "SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS win_start, event_type, " +
          "CAST(count(*) AS BIGINT) AS n, " + dsumSql("value", 2) + " AS sum_val " +
          "FROM events GROUP BY 1, 2 ORDER BY win_start, event_type")
    ),
    Q(
      "stream_tumbling_1h_live",
      // The same tumbling aggregation executed as a REAL Structured
      // Streaming job: file source → incremental stateful aggregation
      // (complete mode) → memory sink, AvailableNow trigger. Shares the
      // batch twin's oracle — streaming and batch must agree exactly.
      (s, dir) => {
        val name = s"live_tumbling_${System.nanoTime()}"
        StreamRun.withStateParts(s) {
          val q = liveEvents(s, dir)
            .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
            .agg(
              count(lit(1)).as("n"),
              dsum(col("value"), 2).as("sum_val"))
            .select(col("w.start").cast("timestamp_ntz").as("win_start"),
              col("event_type"), col("n"), col("sum_val"))
            .writeStream.format("memory").queryName(name)
            .outputMode("complete")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        s.table(name).orderBy("win_start", "event_type")
      },
      Some(
        "SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS win_start, event_type, " +
          "CAST(count(*) AS BIGINT) AS n, " + dsumSql("value", 2) + " AS sum_val " +
          "FROM events GROUP BY 1, 2 ORDER BY win_start, event_type")
    ),
    Q(
      "stream_sliding",
      // 1h windows sliding every 30m: each event lands in exactly two
      // epoch-aligned windows — mirrored in the oracle as a 2-way UNION ALL
      // of 30-minute buckets.
      (s, dir) =>
        T(s, dir, "events")
          .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
          .agg(
            count(lit(1)).as("n"),
            dsum(col("value"), 2).as("sum_val"))
          .select(col("w.start").cast("timestamp_ntz").as("win_start"),
            col("n"), col("sum_val"))
          .orderBy("win_start"),
      Some(
        "WITH b AS (SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) " +
          "AS tb, value FROM events), " +
          "u AS (SELECT tb AS win_start, value FROM b " +
          "UNION ALL SELECT tb - INTERVAL '30 minutes' AS win_start, value FROM b) " +
          "SELECT win_start, CAST(count(*) AS BIGINT) AS n, " +
          dsumSql("value", 2) + " AS sum_val FROM u GROUP BY win_start " +
          "ORDER BY win_start")
    ),
    Q(
      "stream_sliding_live",
      // the sliding-window aggregation as a REAL streaming job (file
      // source → overlapping-window stateful agg → memory sink), graded
      // against the batch twin's UNION-ALL oracle
      (s, dir) => {
        val name = s"live_sliding_${System.nanoTime()}"
        StreamRun.withStateParts(s) {
          val q = liveEvents(s, dir)
            .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
            .agg(
              count(lit(1)).as("n"),
              dsum(col("value"), 2).as("sum_val"))
            .select(col("w.start").cast("timestamp_ntz").as("win_start"),
              col("n"), col("sum_val"))
            .writeStream.format("memory").queryName(name)
            .outputMode("complete")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        s.table(name).orderBy("win_start")
      },
      Some(
        "WITH b AS (SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) " +
          "AS tb, value FROM events), " +
          "u AS (SELECT tb AS win_start, value FROM b " +
          "UNION ALL SELECT tb - INTERVAL '30 minutes' AS win_start, value FROM b) " +
          "SELECT win_start, CAST(count(*) AS BIGINT) AS n, " +
          dsumSql("value", 2) + " AS sum_val FROM u GROUP BY win_start " +
          "ORDER BY win_start")
    ),
    Q(
      "ts_funnel",
      // funnel analysis: click → purchase conversion per user — first
      // click, first purchase at-or-after it, conversion flag and latency.
      // Two tiny aggregates + one join; at scale both group by user_id so
      // they share a shuffle partitioning.
      (s, dir) => {
        val ev = T(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy("user_id").agg(min("ts").as("first_click"))
        val buys = ev.filter(col("event_type") === "purchase")
          .join(clicks, Seq("user_id"))
          .filter(col("ts") >= col("first_click"))
          .groupBy("user_id").agg(min("ts").as("first_purchase"))
        clicks.join(buys, Seq("user_id"), "left")
          .select(
            col("user_id"), col("first_click"), col("first_purchase"),
            col("first_purchase").isNotNull.cast("long").as("converted"),
            (unix_micros(col("first_purchase").cast("timestamp"))
              - unix_micros(col("first_click").cast("timestamp")))
              .as("latency_us"))
          .orderBy("user_id")
      },
      Some(
        "WITH c AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) " +
          "AS first_click FROM events WHERE event_type = 'click' " +
          "GROUP BY 1), " +
          "p AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) " +
          "AS first_purchase FROM events e JOIN c ON e.user_id = c.user_id " +
          "WHERE e.event_type = 'purchase' " +
          "AND CAST(e.ts AS TIMESTAMP) >= c.first_click GROUP BY 1) " +
          "SELECT c.user_id, c.first_click, p.first_purchase, " +
          "CAST(p.first_purchase IS NOT NULL AS BIGINT) AS converted, " +
          "CAST(date_diff('microsecond', c.first_click, p.first_purchase) " +
          "AS BIGINT) AS latency_us " +
          "FROM c LEFT JOIN p ON c.user_id = p.user_id ORDER BY c.user_id")
    ),
    Q(
      "events_anomaly",
      // z-score outlier detection per event_type, with mean/std derived
      // from EXACT decimal power sums (order-proof — the agg_corr
      // pattern); the closed-form mean/sd and the 2σ comparison run on
      // identical doubles in both engines.
      (s, dir) => {
        val dv = col("value").cast("decimal(18,2)")
        val stats = T(s, dir, "events")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(dv).as("sxd"), sum(dv * dv).as("sxxd"))
          .select(col("event_type"),
            col("sxd").cast("double").as("sx"),
            col("sxxd").cast("double").as("sxx"),
            col("n").cast("double").as("nd"))
          .select(col("event_type"),
            (col("sx") / col("nd")).as("mean"),
            sqrt((col("sxx") - col("sx") * col("sx") / col("nd"))
              / (col("nd") - 1.0)).as("sd"))
        T(s, dir, "events")
          .join(broadcast(stats), Seq("event_type"))
          .filter(abs(col("value") - col("mean")) > lit(2.0) * col("sd"))
          .select(col("event_id"), col("event_type"), col("value"),
            graft.Det.dround((col("value") - col("mean")) / col("sd"), 4)
              .as("z"))
          .orderBy("event_id")
      },
      Some(
        "WITH s AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS nd, " +
          "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx, " +
          "CAST(sum(CAST(value AS DECIMAL(18,2)) * " +
          "CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxx " +
          "FROM events GROUP BY 1), " +
          "m AS (SELECT event_type, sx / nd AS mean, " +
          "sqrt((sxx - sx * sx / nd) / (nd - 1.0)) AS sd FROM s) " +
          "SELECT event_id, e.event_type, value, " +
          graft.Det.droundSql("(value - mean) / sd", 4) + " AS z " +
          "FROM events e JOIN m ON e.event_type = m.event_type " +
          "WHERE abs(value - mean) > 2.0 * sd ORDER BY event_id")
    ),
    Q(
      "stream_watermark_append_live",
      // APPEND-mode windowed aggregation with a real 10-minute watermark:
      // only windows whose end falls at or below the final watermark
      // (max event time − 10 min) are emitted — true streaming
      // finalization semantics, mirrored in the oracle by the same
      // window-end cutoff.
      (s, dir) => {
        val name = s"live_wm_${System.nanoTime()}"
        StreamRun.withStateParts(s) {
          val q = liveEvents(s, dir)
            // watermarks require TIMESTAMP (not NTZ); session TZ is UTC so
            // the cast is value-identical
            .withColumn("ts", col("ts").cast("timestamp"))
            .withWatermark("ts", "10 minutes")
            .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
            .agg(
              count(lit(1)).as("n"),
              dsum(col("value"), 2).as("sum_val"))
            .select(col("w.start").cast("timestamp_ntz").as("win_start"),
              col("event_type"), col("n"), col("sum_val"))
            .writeStream.format("memory").queryName(name)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        s.table(name).orderBy("win_start", "event_type")
      },
      Some(
        "WITH mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS m FROM events) " +
          "SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS win_start, " +
          "event_type, CAST(count(*) AS BIGINT) AS n, " +
          dsumSql("value", 2) + " AS sum_val FROM events, mx " +
          "WHERE date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR " +
          "<= m - INTERVAL 10 MINUTE " +
          "GROUP BY win_start, event_type ORDER BY win_start, event_type")
    ),
    Q(
      "stream_stream_join_live",
      // REAL stream⋈stream interval join: clicks joined to the same
      // user's purchases within the following hour, both sides
      // watermarked (bounds the join state) — the hardest streaming join
      // shape. Batch oracle = the identical interval join on the bounded
      // table; per-user pair counts keep the output small.
      (s, dir) => {
        val name = s"live_ssj_${System.nanoTime()}"
        val ev = liveEvents(s, dir)
          .withColumn("ts", col("ts").cast("timestamp"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("cu"), col("ts").as("cts"),
            col("event_id").as("cid"))
          .withWatermark("cts", "1 hour")
        val buys = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("pu"), col("ts").as("pts"),
            col("event_id").as("pid"))
          .withWatermark("pts", "1 hour")
        // stream-stream joins emit append-only: sink the matched PAIRS,
        // then aggregate the sink table in batch (a keyed aggregation
        // after the join would never finalize in append mode)
        StreamRun.withStateParts(s) {
          val q = clicks.join(buys,
              col("cu") === col("pu") &&
                col("pts") >= col("cts") &&
                col("pts") <= col("cts") + expr("INTERVAL 1 HOUR"))
            .select(col("cu"), col("cid"), col("pid"))
            .writeStream.format("memory").queryName(name)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        s.table(name)
          .groupBy(col("cu").as("user_id"))
          .agg(count(lit(1)).as("n_pairs"),
            min("cid").as("first_click_id"),
            min("pid").as("first_purchase_id"))
          .orderBy("user_id")
      },
      Some(
        "SELECT c.user_id, CAST(count(*) AS BIGINT) AS n_pairs, " +
          "min(c.event_id) AS first_click_id, " +
          "min(p.event_id) AS first_purchase_id " +
          "FROM events c JOIN events p ON c.user_id = p.user_id " +
          "AND c.event_type = 'click' AND p.event_type = 'purchase' " +
          "AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP) " +
          "AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) " +
          "+ INTERVAL 1 HOUR " +
          "GROUP BY c.user_id ORDER BY c.user_id")
    ),
    Q(
      "stream_custom_state_live",
      // ARBITRARY keyed state in a live stream: mapGroupsWithState carries
      // (count, scaled-int sum, min event id) per user across micro-batches
      // and emits the updated state each batch — the custom-state tier
      // below built-in windowed aggs. Oracle = the batch per-user summary.
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.streaming.GroupStateTimeout
        val name = s"live_state_${System.nanoTime()}"
        StreamRun.withStateParts(s) {
          val q = liveEvents(s, dir)
            .select(col("user_id"), col("event_id"), col("value"))
            .as[(Long, Long, Double)]
            .groupByKey(_._1)
            .mapGroupsWithState[(Long, Long, Long), (Long, Long, Long, Double)](
              GroupStateTimeout.NoTimeout) { case (uid, it, state) =>
              var (n, sum100, firstId) =
                state.getOption.getOrElse((0L, 0L, Long.MaxValue))
              it.foreach { case (_, eid, v) =>
                n += 1
                // half-away-from-zero, matching the oracle's round()
                val sc = v * 100
                sum100 += (if (sc >= 0) math.floor(sc + 0.5)
                  else math.ceil(sc - 0.5)).toLong
                if (eid < firstId) firstId = eid
              }
              state.update((n, sum100, firstId))
              (uid, n, firstId, sum100 / 100.0)
            }
            .toDF("user_id", "n", "first_id", "sum_val")
            .writeStream.format("memory").queryName(name)
            .outputMode("update")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        // update mode appends one row per key per batch; keep the LAST
        // state per key (max n wins — counts only grow)
        s.table(name)
          .groupBy("user_id")
          .agg(max(struct(col("n"), col("first_id"), col("sum_val")))
            .as("m"))
          .select(col("user_id"), col("m.n").as("n"),
            col("m.first_id").as("first_id"),
            col("m.sum_val").as("sum_val"))
          .orderBy("user_id")
      },
      Some(
        "SELECT user_id, CAST(count(*) AS BIGINT) AS n, " +
          "min(event_id) AS first_id, " + dsumSql("value", 2) +
          " AS sum_val FROM events GROUP BY user_id ORDER BY user_id")
    ),
    Q(
      "stream_foreachbatch_sink",
      // foreachBatch sink: the escape hatch for writing micro-batches with
      // arbitrary batch logic (upserts, multi-sink fanout). Here each
      // batch appends to a parquet dir; the re-read aggregate must equal
      // the direct batch aggregate — exactly-once at the batch level.
      (s, dir) => {
        val out = graft.Tmp.dir("graft_feb")
        val q = liveEvents(s, dir)
          .select("event_id", "event_type", "value")
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
              _: Long) =>
            batch.write.mode("append").parquet(out)
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.read.parquet(out)
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n"),
            min("event_id").as("first_id"),
            dsum(col("value"), 2).as("sum_val"))
          .orderBy("event_type")
      },
      Some(
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
          "min(event_id) AS first_id, " + dsumSql("value", 2) +
          " AS sum_val FROM events GROUP BY event_type ORDER BY event_type")
    ),
    Q(
      "stream_join_static_live",
      // stream ⋈ static-dimension join as a REAL streaming job: the events
      // file stream joins a broadcast customer dim map-side (no shuffle of
      // the stream), then aggregates per segment — the enrichment shape of
      // every production event pipeline
      (s, dir) => {
        val name = s"live_joinstatic_${System.nanoTime()}"
        val dim = broadcast(T(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")))
        StreamRun.withStateParts(s) {
          val q = liveEvents(s, dir)
            .join(dim, col("user_id") === col("c_custkey"))
            .groupBy("c_mktsegment")
            .agg(
              count(lit(1)).as("n"),
              dsum(col("value"), 2).as("sum_val"))
            .writeStream.format("memory").queryName(name)
            .outputMode("complete")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        s.table(name).orderBy("c_mktsegment")
      },
      Some(
        "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n, " +
          dsumSql("value", 2) + " AS sum_val " +
          "FROM events JOIN customer ON user_id = c_custkey " +
          "GROUP BY c_mktsegment ORDER BY c_mktsegment")
    ),
    Q(
      "stream_session_30m",
      // Session windows, 30-min gap: lag-flag session starts, running-sum a
      // session id, then aggregate per session. Durations in exact µs.
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val wRun =
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val lagTs = lag("ts", 1).over(w)
        T(s, dir, "events")
          .withColumn("new_sess",
            when(lagTs.isNull ||
              unix_micros(col("ts").cast("timestamp")) -
                unix_micros(lagTs.cast("timestamp")) > 1800000000L,
              lit(1L)).otherwise(lit(0L)))
          .withColumn("sess_id", sum("new_sess").over(wRun))
          .groupBy("user_id", "sess_id")
          .agg(
            count(lit(1)).as("n_events"),
            (unix_micros(max(col("ts").cast("timestamp"))) -
              unix_micros(min(col("ts").cast("timestamp")))).as("dur_us"),
            dsum(col("value"), 2).as("sum_val"))
          .orderBy("user_id", "sess_id")
      },
      Some(
        "WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value " +
          "FROM events), " +
          "f AS (SELECT user_id, event_id, ts, value, CASE WHEN lag(ts, 1) OVER w IS NULL " +
          "OR date_diff('microsecond', lag(ts, 1) OVER w, ts) > 1800000000 " +
          "THEN 1 ELSE 0 END AS new_sess FROM e " +
          "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
          "s AS (SELECT user_id, event_id, ts, value, sum(new_sess) OVER " +
          "(PARTITION BY user_id ORDER BY ts, event_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id FROM f) " +
          "SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id, " +
          "CAST(count(*) AS BIGINT) AS n_events, " +
          "CAST(date_diff('microsecond', min(ts), max(ts)) AS BIGINT) AS dur_us, " +
          dsumSql("value", 2) + " AS sum_val FROM s GROUP BY user_id, sess_id " +
          "ORDER BY user_id, sess_id")
    ),
    Q(
      "stream_session_live",
      // Real streaming session windows: session_window() with complete-mode
      // state. Oracle derives the same sessions via gap-flag window SQL and
      // reports each session's start (= min ts).
      (s, dir) => {
        val name = s"live_session_${System.nanoTime()}"
        StreamRun.withStateParts(s) {
          val q = liveEvents(s, dir)
            .groupBy(col("user_id"),
              session_window(col("ts"), "30 minutes").as("sw"))
            .agg(
              count(lit(1)).as("n_events"),
              dsum(col("value"), 2).as("sum_val"))
            .select(col("user_id"),
              col("sw.start").cast("timestamp_ntz").as("sess_start"),
              col("n_events"), col("sum_val"))
            .writeStream.format("memory").queryName(name)
            .outputMode("complete")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        s.table(name).orderBy("user_id", "sess_start")
      },
      Some(
        "WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value " +
          "FROM events), " +
          "f AS (SELECT user_id, event_id, ts, value, CASE WHEN lag(ts, 1) OVER w IS NULL " +
          "OR date_diff('microsecond', lag(ts, 1) OVER w, ts) > 1800000000 " +
          "THEN 1 ELSE 0 END AS new_sess FROM e " +
          "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
          "s AS (SELECT user_id, ts, value, sum(new_sess) OVER " +
          "(PARTITION BY user_id ORDER BY ts, event_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id FROM f) " +
          "SELECT user_id, min(ts) AS sess_start, " +
          "CAST(count(*) AS BIGINT) AS n_events, " +
          dsumSql("value", 2) + " AS sum_val FROM s GROUP BY user_id, sess_id " +
          "ORDER BY user_id, sess_start")
    ),
    Q(
      "stream_dedup_live",
      // Real streaming dedup (dropDuplicates state). The kept ROW per key
      // depends on processing order, so the deterministic output is the
      // per-type count of distinct keys, not the rows.
      (s, dir) => {
        val name = s"live_dedup_${System.nanoTime()}"
        StreamRun.withStateParts(s) {
          val q = liveEvents(s, dir)
            .withColumn("minute_bucket", date_trunc("minute", col("ts")))
            .dropDuplicates("user_id", "event_type", "minute_bucket")
            .writeStream.format("memory").queryName(name)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        s.table(name)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_keys"))
          .orderBy("event_type")
      },
      Some(
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n_keys FROM " +
          "(SELECT DISTINCT user_id, event_type, " +
          "date_trunc('minute', CAST(ts AS TIMESTAMP)) FROM events) t " +
          "GROUP BY event_type ORDER BY event_type")
    ),
    Q(
      "stream_late_data",
      // Watermark semantics: an event is late if it is >10 min older than
      // the max event time seen so far in arrival order. The fixture's
      // generation order is time-sorted (no event would ever be late), so
      // arrival is a deterministic simulated out-of-order replay ordered
      // by (props.k, event_id).
      //
      // The running max decomposes over contiguous ranges of the arrival
      // order, so NO global-order window exists in the plan (a
      // no-partition Window is a single-task sort — the driver-of-one
      // bottleneck): shard = k (the leading order key), per-shard running
      // max via a partitioned window, cross-shard carry-in via a tiny
      // per-shard max aggregate collected (|k| rows) and broadcast back —
      // the data_assign_ids two-level pattern. wm(row) =
      // max(shard-running-max, prefix-max of all earlier shards).
      (s, dir) => {
        val ev = T(s, dir, "events")
          .withColumn("k",
            get_json_object(col("props"), "$.k").cast("long"))
          .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
        // per-shard max, collected in shard order → exclusive prefix max
        val shardMax = ev.groupBy("k")
          .agg(max("ts_us").as("mx"))
          .orderBy("k").collect()
        var run = Long.MinValue
        val prefix = shardMax.map { r =>
          val out = (r.getLong(0), run)
          run = math.max(run, r.getLong(1))
          out
        }.toSeq
        val prefDf = broadcast(
          s.createDataFrame(prefix).toDF("k", "pref_us"))
        val wShard = Window.partitionBy("k").orderBy("event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev.join(prefDf, Seq("k"))
          .withColumn("wm_us",
            greatest(max("ts_us").over(wShard), col("pref_us")))
          .filter(col("wm_us") - col("ts_us") > 600000000L)
          .select(
            col("event_id"),
            col("user_id"),
            date_trunc("second", col("ts")).cast("timestamp_ntz")
              .as("ts_sec"),
            date_trunc("second", timestamp_micros(col("wm_us")))
              .cast("timestamp_ntz").as("wm_sec"))
          .orderBy("event_id")
      },
      Some(
        "WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, " +
          "CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events), " +
          "m AS (SELECT event_id, user_id, ts, max(ts) OVER (ORDER BY k, event_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wm FROM e) " +
          "SELECT event_id, user_id, date_trunc('second', ts) AS ts_sec, " +
          "date_trunc('second', wm) AS wm_sec FROM m " +
          "WHERE date_diff('microsecond', ts, wm) > 600000000 ORDER BY event_id")
    ),
    Q(
      "stream_stateful_dedup",
      // Exactly-once-style dedup: first event per (user, type, minute).
      (s, dir) =>
        T(s, dir, "events")
          .groupBy(
            col("user_id"),
            col("event_type"),
            date_trunc("minute", col("ts")).cast("timestamp_ntz")
              .as("minute_bucket"))
          .agg(
            min("event_id").as("first_event_id"),
            count(lit(1)).as("n_in_bucket"))
          .orderBy("user_id", "event_type", "minute_bucket"),
      Some(
        "SELECT user_id, event_type, date_trunc('minute', CAST(ts AS TIMESTAMP)) " +
          "AS minute_bucket, min(event_id) AS first_event_id, " +
          "CAST(count(*) AS BIGINT) AS n_in_bucket FROM events " +
          "GROUP BY 1, 2, 3 ORDER BY user_id, event_type, minute_bucket")
    ),
    Q(
      "stream_idle_timeout_live",
      // Event-time TIMERS on transformWithState: per-user running summary
      // finalized (emitted + state DELETED) when the watermark passes
      // lastEvent + 30 min — the state-lifecycle pattern that keeps
      // unbounded-key streams at bounded state. On this bounded input the
      // stream ends at watermark = max(ts) - 10 min, so exactly the users
      // idle >= 30 min before that point finalize — which is the oracle:
      // users with max(ts_ms) + 30 min <= global max(ts_ms) - 10 min
      // (watermark and timers are millisecond-floored, so the oracle
      // floors µs to ms the same way).
      (s, dir) => {
        import s.implicits._
        val name = s"live_idle_${System.nanoTime()}"
        StreamRun.withStateParts(s) {
          StreamRun.withRocksDb(s) {
            val in = liveEvents(s, dir)
              // watermarks require TIMESTAMP (LTZ); session tz is UTC so
              // the µs values are unchanged by the cast
              .withColumn("ts", col("ts").cast("timestamp"))
              .withWatermark("ts", "10 minutes")
              .select(col("user_id"), col("event_id"),
                unix_micros(col("ts")).as("tsUs"), col("value"))
              .as[graft.streaming.StreamingTwins.IdleIn]
            val q = graft.streaming.StreamingTwins
              .idleFinalize(in, gapMs = 30L * 60 * 1000)
              .toDF()
              .writeStream.format("memory").queryName(name)
              .outputMode("append")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
          }
        }
        s.table(name).orderBy("user_id")
      },
      Some(
        "WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value " +
          "FROM events), " +
          "m AS (SELECT epoch_us(max(ts)) // 1000 AS mx FROM e), " +
          "g AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, " +
          "sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_val, " +
          "epoch_us(max(ts)) // 1000 AS last_ms FROM e GROUP BY user_id) " +
          "SELECT user_id, n_events, sum_val FROM g, m " +
          "WHERE last_ms + 1800000 <= mx - 600000 ORDER BY user_id")
    )
  )
}
