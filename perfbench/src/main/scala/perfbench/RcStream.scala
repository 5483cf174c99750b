package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import graft.rc.{Esn, Rls}
import graft.streaming.StreamingTwins
import graft.streaming.StreamingTwins.EsnIn
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** `rc_stream`: an open loop at a fixed offered rate. One generator thread
  * writes an event file every [[TickMs]] ms on a fixed schedule; each
  * event carries a Zipf-distributed key over [[Users]] users, a per-key
  * increasing `ts` and (in the harness) its scheduled creation time. A
  * `readStream` over those files feeds the keyed ESN reservoir
  * (`StreamingTwins.esnStatesTws`) and the online RLS readout
  * (`StreamingTwins.rlsTws`), each into a `foreachBatch` sink on a
  * [[TriggerMs]] processing-time trigger.
  *
  * An event's latency runs from its scheduled creation to the end of the
  * `foreachBatch` that emitted its reservoir state, so a stalled consumer
  * inflates the latency of every event queued behind it.
  */
object RcStream {
  val TickMs = 100
  /** Both queries run on this processing-time trigger. Back-to-back
    * micro-batches at this rate settle at a run-dependent cadence (a slow
    * batch makes the next one bigger), which spread `p50_s` by up to a
    * quarter between runs; a fixed interval keeps every batch the same
    * size. */
  val TriggerMs = 2000L
  val Users = 200
  val Lambda = 1e-2
  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("tsUs", LongType),
    StructField("user_id", LongType), StructField("value", DoubleType)))

  final case class Event(id: Long, tsUs: Long, user: Long, value: Double,
      schedMs: Long)

  /** The seeded event schedule: `ticks` files of `perTick` events, ids
    * from `firstId`, Zipf keys over [[Users]] users from `userBase`. */
  def events(seed: Long, ticks: Int, perTick: Int, firstId: Long,
      userBase: Long): Seq[Seq[Event]] = {
    val rng = new scala.util.Random(seed)
    (0 until ticks).map { t =>
      (0 until perTick).map { j =>
        val id = firstId + t.toLong * perTick + j
        val u = math.exp(rng.nextDouble() * math.log(Users.toDouble)).toLong
        Event(id, 1704067200000000L + id * 1000L,
          userBase + math.max(1L, math.min(Users.toLong, u)) - 1L,
          math.round((1.0 + rng.nextDouble() * 489.0) * 100) / 100.0,
          0L)
      }
    }
  }

  /** Writes one event file atomically (staged, then renamed in). */
  def writeFile(dir: String, stage: String, name: String,
      evs: Seq[Event]): Unit = {
    val tmp = Paths.get(stage, name)
    Files.writeString(tmp, evs.map(e =>
      s"${e.id},${e.tsUs},${e.user},${e.value}").mkString("", "\n", "\n"))
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Emissions seen by the two sinks (guarded by the sink's lock). */
  final class Sink {
    val doneMs = mutable.Map[Long, Long]()            // event -> emitted at
    val esnLast = mutable.Map[Long, (Long, Double, Double)]() // user -> state
    val rlsLast = mutable.Map[Long, (Long, Double, Double)]()
    val batches = ArrayBuffer[(Long, Long, Seq[Long])]() // start, end, events
    var busyMs = 0L
    var rlsRows = 0L
  }

  def start(s: SparkSession, inDir: String, ck: String, mats: Esn.Mats,
      sink: Sink): Seq[StreamingQuery] = {
    import s.implicits._
    val in = s.readStream.schema(Schema).csv(inDir).as[EsnIn]
    val esnSink: (DataFrame, Long) => Unit = (df, _) => {
      val b0 = System.currentTimeMillis()
      val rows = df.select("event_id", "user_id", "step", "x0", "x1")
        .collect()
      val done = System.currentTimeMillis()
      sink.synchronized {
        rows.foreach { r =>
          sink.doneMs(r.getLong(0)) = done
          val u = r.getLong(1)
          if (sink.esnLast.get(u).forall(_._1 < r.getLong(2)))
            sink.esnLast(u) = (r.getLong(2), r.getDouble(3), r.getDouble(4))
        }
        sink.batches += ((b0, done, rows.map(_.getLong(0)).toSeq))
        sink.busyMs += done - b0
      }
    }
    val rlsSink: (DataFrame, Long) => Unit = (df, _) => {
      val b0 = System.currentTimeMillis()
      val rows = df.select("user_id", "step", "w0", "w1").collect()
      val done = System.currentTimeMillis()
      sink.synchronized {
        rows.foreach { r =>
          val u = r.getLong(0)
          if (sink.rlsLast.get(u).forall(_._1 < r.getLong(1)))
            sink.rlsLast(u) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
        }
        sink.rlsRows += rows.length
        sink.busyMs += done - b0
      }
    }
    Seq(
      StreamingTwins.esnStatesTws(in, mats).toDF().writeStream
        .option("checkpointLocation", s"$ck/esn")
        .trigger(Trigger.ProcessingTime(TriggerMs))
        .foreachBatch(esnSink).start(),
      StreamingTwins.rlsTws(in, mats, Lambda).toDF().writeStream
        .option("checkpointLocation", s"$ck/rls")
        .trigger(Trigger.ProcessingTime(TriggerMs))
        .foreachBatch(rlsSink).start())
  }

  def configure(s: SparkSession): Unit =
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")

  /** Result of one offered phase. */
  final case class Result(evs: Seq[Event], sink: Sink, lateMs: Seq[Long],
      failures: Seq[String], esnUs: Double, rlsUs: Double, busyMs: Long)

  /** The two running queries over one input directory. Each [[offer]]
    * is one open-loop phase on its own key range, so phases (and the
    * warm-up) never share reservoir state. */
  final class Pipeline(s: SparkSession, dir: String, mats: Esn.Mats) {
    private val inDir = s"$dir/in"
    private val stage = s"$dir/stage"
    Files.createDirectories(Paths.get(inDir))
    Files.createDirectories(Paths.get(stage))
    val sink = new Sink
    private val qs = start(s, inDir, s"$dir/ck", mats, sink)
    private var nextId = 0L
    private var nextFile = 0
    private var phases = 0

    def close(): Unit =
      qs.foreach(q => try q.stop() catch { case _: Throwable => () })

    /** Offers `rate` events/s for `seconds` on a fixed schedule, waits
      * until every event is emitted (or 30 s), and checks each key's final
      * state against the batch recurrence. */
    def offer(seed: Long, seconds: Double, rate: Int, timeRc: Boolean)
        : Result = {
      phases += 1
      val perTick = math.max(1, rate * TickMs / 1000)
      val ticks = math.max(1, (seconds * 1000 / TickMs).toInt)
      val plan = events(seed, ticks, perTick, nextId, phases * 1000000L)
      nextId += ticks.toLong * perTick
      val (rlsBefore, busyBefore) =
        sink.synchronized((sink.rlsRows, sink.busyMs))
      val lateMs = ArrayBuffer[Long]()
      val sched = new Array[Long](ticks)
      val gen = new Thread(() => {
        // start on a trigger boundary (processing-time triggers fire at
        // multiples of the interval), so every run sees the same phase
        val t0 = (System.currentTimeMillis() / TriggerMs + 1) * TriggerMs + 50
        plan.indices.foreach { t =>
          val due = t0 + t.toLong * TickMs
          val wait = due - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          sched(t) = due
          writeFile(inDir, stage, f"ev-${nextFile + t}%07d.csv", plan(t))
          lateMs += System.currentTimeMillis() - due
        }
      }, "perfbench-generator")
      gen.start()
      gen.join()
      nextFile += ticks
      val evs = plan.indices.flatMap(t =>
        plan(t).map(_.copy(schedMs = sched(t))))
      val expectRls = evs.size - evs.map(_.user).distinct.size
      def pending = sink.synchronized(
        evs.exists(e => !sink.doneMs.contains(e.id)) ||
          sink.rlsRows - rlsBefore < expectRls)
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline && pending &&
        qs.forall(_.isActive)) Thread.sleep(20)
      val failures = ArrayBuffer[String]()
      qs.foreach(q => q.exception.foreach(e =>
        failures += s"query ${q.name} failed: ${e.getMessage.take(200)}"))
      sink.synchronized {
        val missing = evs.count(e => !sink.doneMs.contains(e.id))
        if (missing > 0) failures += s"$missing events never emitted"
        if (sink.rlsRows - rlsBefore != expectRls)
          failures += s"RLS emitted ${sink.rlsRows - rlsBefore} updates, " +
            s"expected $expectRls"
      }
      val (checks, esnUs, rlsUs) = check(evs, sink, mats)
      Result(evs, sink, lateMs.toSeq, failures.toSeq ++ checks,
        if (timeRc) esnUs else 0.0, if (timeRc) rlsUs else 0.0,
        sink.synchronized(sink.busyMs) - busyBefore)
    }
  }

  /** The batch recurrence over `evs`, per key in (ts, id) order, against
    * each key's last emitted state. Returns the mismatches and the mean
    * `Esn.step` / `Rls.update` cost in microseconds. */
  def check(evs: Seq[Event], sink: Sink, mats: Esn.Mats)
      : (Seq[String], Double, Double) = {
    val failures = ArrayBuffer[String]()
    val byUser = evs.groupBy(_.user).view.mapValues(_.sortBy(e =>
      (e.tsUs, e.id))).toMap
    val d = 2 + Esn.Nx
    var esnNs = 0L; var rlsNs = 0L; var steps = 0L; var updates = 0L
    byUser.toSeq.sortBy(_._1).foreach { case (u, es) =>
      var x = new Array[Double](Esn.Nx)
      var pending: Array[Double] = null
      var st = Rls.init(d, Lambda)
      es.foreach { e =>
        val v = e.value / Esn.InputScale
        if (pending != null) {
          val r0 = System.nanoTime()
          st = Rls.update(st, pending, v)
          rlsNs += System.nanoTime() - r0; updates += 1
        }
        val e0 = System.nanoTime()
        x = Esn.step(mats, x, v)
        esnNs += System.nanoTime() - e0; steps += 1
        pending = Esn.designRow(v, x)
      }
      def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9
      sink.synchronized(sink.esnLast.get(u)) match {
        case Some((step, x0, x1)) if step == es.size - 1 && close(x0, x(0)) &&
            close(x1, x(1)) => ()
        case got => failures += s"ESN state of user $u: got $got, " +
          s"batch recurrence (${es.size - 1}, ${x(0)}, ${x(1)})"
      }
      if (es.size > 1) sink.synchronized(sink.rlsLast.get(u)) match {
        case Some((step, w0, w1)) if step == es.size - 1 &&
            close(w0, st.w(0)) && close(w1, st.w(1)) => ()
        case got => failures += s"RLS weights of user $u: got $got, " +
          s"batch recurrence (${es.size - 1}, ${st.w(0)}, ${st.w(1)})"
      }
    }
    (failures.toSeq, if (steps > 0) esnNs / 1e3 / steps else 0.0,
      if (updates > 0) rlsNs / 1e3 / updates else 0.0)
  }

  /** Per-layer counters of a traced run. */
  def layerMetrics(r: Result, t: Trace, cores: Int, startMs: Long,
      endMs: Long): Map[String, Double] = {
    t.drain()
    val ps = t.progress.toSeq.filter(_.rows > 0)
    def dur(p: Trace.Progress, ks: String*) =
      ks.map(k => p.durations.getOrElse(k, 0L)).sum / 1e3
    val trig = ps.map(p => dur(p, "triggerExecution"))
    val schedOf = r.evs.map(e => e.id -> e.schedMs).toMap
    val batches = r.sink.synchronized(r.sink.batches.toSeq)
      .filter(_._3.exists(schedOf.contains))
    batches.foreach { case (b0, b1, _) =>
      t.addSpan("batch", "trigger", b0, b1) }
    val lags = batches.map {
      case (b0, _, ids) => (b0 - ids.flatMap(schedOf.get).max) / 1e3 }
    Map(
      "stream.batches" -> ps.size.toDouble,
      "stream.trigger_s" -> Stats.median(trig),
      "stream.add_batch_s" -> Stats.median(ps.map(p => dur(p, "addBatch"))),
      "stream.offsets_s" -> Stats.median(ps.map(p =>
        dur(p, "latestOffset", "getBatch"))),
      "stream.wal_commit_s" -> Stats.median(ps.map(p =>
        dur(p, "walCommit", "commitOffsets"))),
      "stream.state_rows" -> (if (ps.isEmpty) 0.0 else
        ps.takeRight(2).map(_.stateRows).sum.toDouble),
      "stream.state_mb" -> (if (ps.isEmpty) 0.0 else
        ps.takeRight(2).map(_.stateBytes).sum / 1048576.0),
      "stream.state_commit_s" -> Stats.median(ps.map(_.stateCommitMs / 1e3)),
      "stream.rows_per_s" -> ps.map(_.rows).sum / math.max(1e-9, trig.sum),
      "stream.read_lag_s" -> Stats.median(lags),
      "rc.esn_step_us" -> r.esnUs,
      "rc.rls_update_us" -> r.rlsUs,
      "harness.gen_late_s" -> Stats.quantile(r.lateMs.map(_ / 1e3), 0.99)) ++
      t.sparkCounters(Seq((startMs, endMs)), cores) ++
      t.catalystCounters(Seq((startMs, endMs)))
  }
}
