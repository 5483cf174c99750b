package graft.rc

import graft.{Q, QueryModule, T}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2.10 — time-series / reservoir-computing operators (the
  * flink-rc core semantics, Spark-first). The graded queries are thin
  * wrappers over the public `RcPipeline` API applied to the events table
  * (key = user_id, order = (ts µs, event_id), input scaled by 1/500).
  *
  * The ESN recurrence is the one genuinely sequential computation in the
  * engine: it parallelizes ACROSS keys, not within one. At 100 TB with long
  * per-key series, swap the in-group sort for secondary sort and carry the
  * state in the streaming twin (graft.streaming.StreamingTwins.esnStates).
  */
object RcOps extends QueryModule {

  private val Lambda = 1e-2

  private def round6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** events as (user_id, ts_us, event_id, value) — an RcPipeline.Sample */
  private def series(s: SparkSession, dir: String): Dataset[RcPipeline.Sample] = {
    import s.implicits._
    T(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")),
        col("event_id"), col("value"))
      .as[RcPipeline.Sample]
  }

  /** NARMA-10 target fold over a bounded input sequence u ∈ [0, 0.5):
    * y(t+1) = 0.3·y(t) + 0.05·y(t)·Σ_{i=0..9} y(t−i) + 1.5·u(t−9)·u(t)
    * + 0.1 — the standard nonlinear-autoregressive ESN benchmark
    * (10th-order memory). Returns y aligned with u (y(0) = 0).
    */
  private[graft] def narma10(u: Array[Double]): Array[Double] = {
    val y = new Array[Double](u.length)
    var t = 9
    while (t < u.length - 1) {
      var s10 = 0.0
      var i = t - 9
      while (i <= t) { s10 += y(i); i += 1 }
      y(t + 1) = 0.3 * y(t) + 0.05 * y(t) * s10 + 1.5 * u(t - 9) * u(t) + 0.1
      t += 1
    }
    y
  }

  /** deterministic NARMA drive signal from an event value: [0, 0.5) */
  private[graft] def narmaInput(value: Double): Double =
    (math.abs(math.round(value * 100)) % 50) / 100.0

  def queries: Seq[Q] = Seq(
    Q(
      "ts_align_horizon",
      // RC input/target alignment: pair u(t) with y(t+h), h = 3.
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        T(s, dir, "events")
          .select(col("user_id"), col("event_id"),
            col("value").as("u_val"),
            lead("value", 3).over(w).as("y_val"))
          .orderBy("event_id")
      },
      Some(
        "SELECT user_id, event_id, value AS u_val, lead(value, 3) OVER " +
          "(PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS y_val " +
          "FROM events ORDER BY event_id")
    ),
    Q(
      "ts_train_test_split",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val wAll = Window.partitionBy("user_id")
        T(s, dir, "events")
          .select(col("user_id"), col("event_id"),
            row_number().over(w).cast("long").as("rn"),
            count(lit(1)).over(wAll).as("n"))
          .withColumn("split",
            when(col("rn") <= floor(col("n") * 0.8), "train")
              .otherwise("test"))
          .select("user_id", "event_id", "rn", "split")
          .orderBy("event_id")
      },
      Some(
        "WITH t AS (SELECT user_id, event_id, " +
          "CAST(row_number() OVER (PARTITION BY user_id ORDER BY " +
          "CAST(ts AS TIMESTAMP), event_id) AS BIGINT) AS rn, " +
          "count(*) OVER (PARTITION BY user_id) AS n FROM events) " +
          "SELECT user_id, event_id, rn, CASE WHEN rn <= floor(n * 0.8) " +
          "THEN 'train' ELSE 'test' END AS split FROM t ORDER BY event_id")
    ),
    Q(
      "rc_reservoir_states",
      // The ESN recurrence itself; first 4 state dims, rounded.
      (s, dir) => {
        import s.implicits._
        RcPipeline
          .design(series(s, dir), Esn.matrices(), Esn.InputScale, horizon = 1)
          .map { case (uid, step, _, phi, _) =>
            // phi = [1, u, x0..]; states start at index 2
            (uid, step, round6(phi(2)), round6(phi(3)), round6(phi(4)),
              round6(phi(5)))
          }
          .toDF("user_id", "step", "x0", "x1", "x2", "x3")
          .orderBy("user_id", "step")
      },
      None
    ),
    Q(
      "rc_leaky_esn",
      // Leaky-integrator reservoir (x' = (1−α)x + α·tanh(W_in u + W x),
      // α = 0.5): the timescale-matched ESN variant. Same parallel-
      // across-keys shape as rc_reservoir_states; LeakyEsnSpec pins the
      // pure-Scala replay, the α=1 reduction to the plain step, and the
      // slower state dynamics.
      (s, dir) => {
        import s.implicits._
        val mats = Esn.matrices()
        series(s, dir)
          .groupByKey(_._1)
          .flatMapGroups { (key, it) =>
            val rows = it.toArray.sortBy(r => (r._2, r._3))
            var x = new Array[Double](Esn.Nx)
            rows.iterator.zipWithIndex.map { case ((_, _, _, v), i) =>
              x = Esn.stepLeaky(mats, x, v / Esn.InputScale, 0.5)
              (key, i.toLong, round6(x(0)), round6(x(1)), round6(x(2)),
                round6(x(3)))
            }
          }
          .toDF("user_id", "step", "x0", "x1", "x2", "x3")
          .orderBy("user_id", "step")
      },
      None
    ),
    Q(
      "rc_readout_train",
      // Ridge readout W_out = (XᵀX + λI)⁻¹ Xᵀy over the train split.
      (s, dir) => {
        import s.implicits._
        val model = RcPipeline.fit(series(s, dir), Lambda,
          inputScale = Esn.InputScale)
        s.createDataset(model.w.toSeq.zipWithIndex
            .map { case (wi, i) => (i.toLong, round6(wi)) })
          .toDF("idx", "weight")
          .orderBy("idx")
      },
      None
    ),
    Q(
      "rc_predict_mse",
      // Score the held-out 20% with the trained readout; per-user MSE.
      // The design rows feed two jobs (Gram aggregation, then scoring);
      // measured at sf0.1, re-running the fold is CHEAPER than persisting
      // the 34-double design arrays (serialization dominates), so no cache.
      // Round-4 in-JVM min-of-3 at sf0.1 local[8] (re-measure with
      // SPARK_GRAFT_ONLY=rc_predict_mse graft.Bench, which records its
      // `mink`): 1.25 s warm (first run 7.6 s pays ESN codegen) — at/below
      // the round-2 anchor of 1.33 s.
      // The 3.41 s in BENCH_r03 was a single cold run, not a regression.
      (s, dir) => {
        import s.implicits._
        val mats = Esn.matrices()
        val rows = RcPipeline
          .design(series(s, dir), mats, Esn.InputScale, horizon = 1)
        val model = RcPipeline.fitDesigned(rows, mats, Lambda,
          Esn.InputScale, horizon = 1, trainFrac = 0.8)
        RcPipeline.scoreDesigned(rows, model)
          .map { case (uid, n, mse) => (uid, n, round6(mse)) }
          .toDF("user_id", "n_test", "mse")
          .orderBy("user_id")
      },
      None
    ),
    Q(
      "rc_model_roundtrip",
      // Model persistence — the workflow boundary a production RC user
      // crosses every day: FIT the ridge readout, SAVE it (weights +
      // hyperparams as a one-row parquet; the reservoir matrices are
      // regenerated from their seed, which is the right persistence
      // story for deterministic seeded state), LOAD it back in a fresh
      // Model, and SCORE the holdout with the LOADED model. Output is
      // per-user MSE — byte-identical to rc_predict_mse's direct path
      // (RcModelSpec pins the equality), which is the whole claim: a
      // persisted model loses nothing. No oracle (sequential recurrence).
      (s, dir) => {
        import s.implicits._
        val mats = Esn.matrices()
        val rows = RcPipeline
          .design(series(s, dir), mats, Esn.InputScale, horizon = 1)
        val fitted = RcPipeline.fitDesigned(rows, mats, Lambda,
          Esn.InputScale, horizon = 1, trainFrac = 0.8)
        val store = graft.Tmp.dir("graft_rc_model")
        s.createDataset(Seq((fitted.w.toSeq, fitted.inputScale,
            fitted.horizon, fitted.trainFrac, 42L)))
          .toDF("w", "input_scale", "horizon", "train_frac", "mats_seed")
          .write.mode("overwrite").parquet(store)
        val r = s.read.parquet(store).collect().head
        val loaded = RcPipeline.Model(
          Esn.matrices(seed = r.getAs[Long]("mats_seed")),
          r.getAs[Seq[Double]]("w").toArray,
          r.getAs[Double]("input_scale"), r.getAs[Int]("horizon"),
          r.getAs[Double]("train_frac"))
        RcPipeline.scoreDesigned(rows, loaded)
          .map { case (uid, n, mse) => (uid, n, round6(mse)) }
          .toDF("user_id", "n_test", "mse")
          .orderBy("user_id")
      },
      None
    ),
    Q(
      "rc_stream_states_live",
      // The reference's DEFINING shape as a first-class live query: the
      // keyed ESN reservoir update running INSIDE a Structured Streaming
      // job (flatMapGroupsWithState carries one 32-double state vector
      // per user across micro-batches), file source → memory sink.
      // RcPipelineSpec asserts equality with the batch recurrence.
      (s, dir) => {
        import s.implicits._
        val name = s"live_esn_${System.nanoTime()}"
        val mats = Esn.matrices()
        graft.StreamRun.withStateParts(s) {
          val in = graft.ops.EventOps.liveEvents(s, dir)
            .select(col("event_id"),
              unix_micros(col("ts").cast("timestamp")).as("tsUs"),
              col("user_id"), col("value"))
            .as[graft.streaming.StreamingTwins.EsnIn]
          val q = graft.streaming.StreamingTwins.esnStates(in, mats)
            .toDF()
            .writeStream.format("memory").queryName(name)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        // same round6 (BigDecimal HALF_UP) as the batch query so the
        // twin-equality spec compares identical representations
        s.table(name)
          .as[(Long, Long, Long, Double, Double)]
          .map { case (uid, step, eid, x0, x1) =>
            (uid, step, eid, round6(x0), round6(x1)) }
          .toDF("user_id", "step", "event_id", "x0", "x1")
          .orderBy("user_id", "step")
      },
      None
    ),
    Q(
      "rc_stream_states_tws",
      // The same keyed reservoir on the transformWithState API (arbitrary-
      // state v2, typed ValueState per key, RocksDB state store) — the
      // forward-looking state surface next to flatMapGroupsWithState.
      // Round3Spec asserts row-identical output with rc_stream_states_live.
      (s, dir) => {
        import s.implicits._
        val name = s"live_esn_tws_${System.nanoTime()}"
        val mats = Esn.matrices()
        graft.StreamRun.withStateParts(s) {
          graft.StreamRun.withRocksDb(s) {
            val in = graft.ops.EventOps.liveEvents(s, dir)
              .select(col("event_id"),
                unix_micros(col("ts").cast("timestamp")).as("tsUs"),
                col("user_id"), col("value"))
              .as[graft.streaming.StreamingTwins.EsnIn]
            val q = graft.streaming.StreamingTwins.esnStatesTws(in, mats)
              .toDF()
              .writeStream.format("memory").queryName(name)
              .outputMode("append")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
          }
        }
        s.table(name)
          .as[(Long, Long, Long, Double, Double)]
          .map { case (uid, step, eid, x0, x1) =>
            (uid, step, eid, round6(x0), round6(x1)) }
          .toDF("user_id", "step", "event_id", "x0", "x1")
          .orderBy("user_id", "step")
      },
      None
    ),
    Q(
      "rc_forecast_series",
      // The forecast itself (what a reference user consumes): per user,
      // each held-out step's (y_true, y_pred, error) from the trained
      // readout — not just the aggregate MSE.
      (s, dir) => {
        import s.implicits._
        val mats = Esn.matrices()
        val rows = RcPipeline
          .design(series(s, dir), mats, Esn.InputScale, horizon = 1)
        val model = RcPipeline.fitDesigned(rows, mats, Lambda,
          Esn.InputScale, horizon = 1, trainFrac = 0.8)
        val w = model.w
        rows
          .filter(r => r._5.isDefined &&
            r._2 >= RcPipeline.trainCut(r._3, 1, 0.8))
          .map { case (uid, step, _, phi, tOpt) =>
            var pred = 0.0
            var i = 0
            while (i < phi.length) { pred += w(i) * phi(i); i += 1 }
            val y = tOpt.get
            (uid, step, round6(y), round6(pred), round6(pred - y))
          }
          .toDF("user_id", "step", "y_true", "y_pred", "err")
          .orderBy("user_id", "step")
      },
      None
    ),
    Q(
      "rc_multi_input",
      // VECTOR-input ESN (the reference's (index, value-vector) records):
      // u(t) = [value/scale, hour-of-day/24] — the exogenous time feature
      // rides along with the series. Per-user held-out MSE of the
      // multivariate readout.
      (s, dir) => {
        import s.implicits._
        val vs = T(s, dir, "events")
          .select(col("user_id"),
            unix_micros(col("ts").cast("timestamp")).as("tsu"),
            col("event_id"),
            array(col("value") / Esn.InputScale,
              (hour(col("ts")).cast("double") / 24.0)).as("u"))
          .as[(Long, Long, Long, Array[Double])]
        val model = RcPipeline.fitM(vs, nu = 2, lambda = Lambda)
        RcPipeline.scoreM(vs, model)
          .map { case (uid, n, mse) => (uid, n, round6(mse)) }
          .toDF("user_id", "n_test", "mse")
          .orderBy("user_id")
      },
      None
    ),
    Q(
      "rc_narma",
      // The NARMA-10 benchmark (the reference domain's standard task): a
      // deterministic drive signal u ∈ [0, 0.5) is derived from each
      // user's event values, the 10th-order NARMA recurrence produces the
      // target, and the multivariate ESN ([y(t), u(t)] → y(t+1)) is fit
      // and scored held-out per user. Sequential per key (the NARMA fold
      // and the reservoir both), parallel across keys — the same scale
      // shape as every rc_* op. Spec-pinned to a driver-side reference
      // fold; no oracle (sequential recurrence).
      (s, dir) => {
        import s.implicits._
        val vs: Dataset[RcPipeline.VSample] = T(s, dir, "events")
          .select(col("user_id"),
            unix_micros(col("ts").cast("timestamp")).as("tsu"),
            col("event_id"), col("value"))
          .as[(Long, Long, Long, Double)]
          .groupByKey(_._1)
          .flatMapGroups { (uid, it) =>
            val rows = it.toArray.sortBy(r => (r._2, r._3))
            val u = rows.map(r => narmaInput(r._4))
            val y = narma10(u)
            rows.indices.iterator.map { i =>
              (uid, rows(i)._2, rows(i)._3, Array(y(i), u(i)))
            }
          }
        val model = RcPipeline.fitM(vs, nu = 2, lambda = Lambda)
        RcPipeline.scoreM(vs, model)
          .map { case (uid, n, mse) => (uid, n, round6(mse)) }
          .toDF("user_id", "n_test", "mse")
          .orderBy("user_id")
      },
      None
    ),
    Q(
      "rc_lambda_sweep",
      // Ridge-regularization model selection: fit the readout at three λ
      // values over the SAME design rows and report held-out global MSE
      // per λ — the hyperparameter-sweep shape (each fit is one
      // treeAggregate over constant-size Gram partials; the candidate
      // models then score in parallel).
      (s, dir) => {
        import s.implicits._
        val mats = Esn.matrices()
        // 6 jobs share these rows (3 fits + 3 scores): persisting pays
        // here, unlike the 2-pass rc_predict_mse (see its note)
        val rows = RcPipeline
          .design(series(s, dir), mats, Esn.InputScale, horizon = 1)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val out = Seq(1e-6, 1e-3, 1e-1).map { lam =>
          val model = RcPipeline.fitDesigned(rows, mats, lam,
            Esn.InputScale, horizon = 1, trainFrac = 0.8)
          val (se, n) = RcPipeline.scoreDesigned(rows, model)
            .map { case (_, cnt, mse) => (mse * cnt, cnt) }
            .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
          (lam, n, round6(se / n))
        }
        rows.unpersist(blocking = false)
        s.createDataset(out).toDF("lambda", "n_test", "mse")
          .orderBy("lambda")
      },
      None
    ),
    Q(
      "lm_online_sgd",
      // flink-rc's online linear model: per-user sequential SGD
      // w ← w + η(y − w·x)x over the ordered stream (normalized series).
      (s, dir) => {
        import s.implicits._
        series(s, dir)
          .groupByKey(_._1)
          .mapGroups { (uid, it) =>
            val rows = it.toArray.sortBy(r => (r._2, r._3))
            var wgt = 0.0
            val eta = 0.1
            var i = 0
            while (i + 1 < rows.length) {
              val x = rows(i)._4 / Esn.InputScale
              val y = rows(i + 1)._4 / Esn.InputScale
              wgt += eta * (y - wgt * x) * x
              i += 1
            }
            (uid, (rows.length - 1).toLong, round6(wgt))
          }
          .toDF("user_id", "n_updates", "w")
          .orderBy("user_id")
      },
      None
    ),
    Q(
      "rc_readout_rls",
      // flink-rc's ONLINE readout training in its exact formulation:
      // per-user recursive least squares over the reservoir design rows
      // (horizon 1: each value is first the target of the previous step's
      // phi, then extends the reservoir). With P0 = I/λ the weights equal
      // the per-user batch ridge solution over the processed prefix at
      // EVERY step — Rls scaladoc; RlsSpec pins it on Mackey-Glass and
      // pins the transformWithState twin row-identical across batches.
      // O(d²)/update, bounded per-key state. No oracle (sequential
      // recurrence, SURVEY §2.10); emits final weights per user.
      (s, dir) => {
        import s.implicits._
        val mats = Esn.matrices()
        series(s, dir)
          .groupByKey(_._1)
          .mapGroups { (uid, it) =>
            val rows = it.toArray.sortBy(r => (r._2, r._3))
            var x = new Array[Double](Esn.Nx)
            var rls = Rls.init(2 + Esn.Nx, Lambda)
            var pending: Array[Double] = null
            rows.foreach { case (_, _, _, v) =>
              val u = v / Esn.InputScale
              if (pending != null) rls = Rls.update(rls, pending, u)
              x = Esn.step(mats, x, u)
              pending = Esn.designRow(u, x)
            }
            (uid, rls.n, round6(rls.w(0)), round6(rls.w(1)),
              round6(rls.w(2)))
          }
          .toDF("user_id", "n_updates", "w0", "w1", "w2")
          .orderBy("user_id")
      },
      None
    ),
    Q(
      "rc_stream_rls_tws",
      // The same online RLS readout as a LIVE stream (transformWithState,
      // RocksDB state store): per-key inverse-Gram + weights carried
      // across micro-batches, one weight snapshot emitted per update.
      // RlsSpec asserts row-identity with the batch fold including the
      // multi-batch state carry.
      (s, dir) => {
        import s.implicits._
        val name = s"live_rls_tws_${System.nanoTime()}"
        val mats = Esn.matrices()
        graft.StreamRun.withStateParts(s) {
          graft.StreamRun.withRocksDb(s) {
            val in = graft.ops.EventOps.liveEvents(s, dir)
              .select(col("event_id"),
                unix_micros(col("ts").cast("timestamp")).as("tsUs"),
                col("user_id"), col("value"))
              .as[graft.streaming.StreamingTwins.EsnIn]
            val q = graft.streaming.StreamingTwins.rlsTws(in, mats, Lambda)
              .toDF()
              .writeStream.format("memory").queryName(name)
              .outputMode("append")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
          }
        }
        s.table(name)
          .as[(Long, Long, Double, Double)]
          .map { case (uid, step, w0, w1) =>
            (uid, step, round6(w0), round6(w1)) }
          .toDF("user_id", "step", "w0", "w1")
          .orderBy("user_id", "step")
      },
      None
    ),
    Q(
      "rc_deep_esn",
      // Deep ESN (stacked reservoirs, after Gallicchio & Micheli's
      // DeepESN): layer 2 is a reservoir whose INPUT is layer 1's full
      // state vector — the multivariate machinery (MatsM, nu = Nx)
      // drives it unchanged, so the deep variant is pure composition.
      // One per-key fold advances both layers in lockstep; different
      // seeds decorrelate the two recurrent matrices. Emits the first
      // two dims of each layer per step, rounded. No oracle (sequential
      // tanh recurrence); EsnSpec pins the fold row-identical to an
      // independently-computed driver reference and checks the layers
      // decorrelate.
      (s, dir) => {
        import s.implicits._
        val m1 = Esn.matrices()
        val m2 = Esn.matricesM(nu = Esn.Nx, seed = 43L)
        series(s, dir)
          .groupByKey(_._1)
          .flatMapGroups { (uid, it) =>
            val rows = it.toArray.sortBy(r => (r._2, r._3))
            var x1 = new Array[Double](Esn.Nx)
            var x2 = new Array[Double](Esn.Nx)
            rows.iterator.zipWithIndex.map { case ((_, _, _, v), i) =>
              x1 = Esn.step(m1, x1, v / Esn.InputScale)
              x2 = Esn.stepM(m2, x2, x1)
              (uid, i.toLong, round6(x1(0)), round6(x1(1)),
                round6(x2(0)), round6(x2(1)))
            }
          }
          .toDF("user_id", "step", "l1_x0", "l1_x1", "l2_x0", "l2_x1")
          .orderBy("user_id", "step")
      },
      None
    ),
    Q(
      "rc_ingest_partitioned",
      // The reference's end-to-end ingest shape: a DIRECTORY of per-key
      // series files (hive-partitioned key=…/part-*.csv, several part
      // files per key), read back schema-on-read with the key recovered
      // from the partition path, then the full RC pipeline (reservoir
      // fold → ridge readout → held-out MSE) on top. This is how 100 TB
      // of series actually arrives — thousands of files, not one fixture;
      // the partition layout means the per-key fold's shuffle reads
      // colocated file groups. CSV doubles round-trip exactly
      // (shortest-repr printing), so RcIngestSpec pins the ingested
      // model bit-identical to the direct in-memory path. No oracle
      // (sequential tanh recurrence, per SURVEY §2.10 note).
      (s, dir) => {
        import s.implicits._
        val out = graft.Tmp.dir("rc_ingest")
        // materialize the generator series as a partitioned multi-file
        // CSV landing zone: 6 key directories × up to 4 part files each
        s.read.format("rcseries")
          .option("keys", 6).option("n", 400).load()
          .repartition(4)
          .write.mode("overwrite").partitionBy("key")
          .option("header", "true").csv(out)
        val series = s.read
          .option("header", "true")
          .schema("t LONG, value DOUBLE, key LONG")
          .csv(out)
          .select(col("key"), col("t"), lit(0L), col("value"))
          .as[RcPipeline.Sample]
        val model = RcPipeline.fit(series, lambda = 1e-6)
        RcPipeline.score(series, model)
          .map { case (k, n, mse) => (k, n, round6(mse)) }
          .toDF("key", "n_test", "mse")
          .orderBy("key")
      },
      None
    )
  )
}
