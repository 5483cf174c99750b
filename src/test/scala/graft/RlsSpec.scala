package graft

import graft.rc.{Esn, RcPipeline, Rls}
import graft.streaming.StreamingTwins
import graft.streaming.StreamingTwins.{EsnIn, RlsOut}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Online RLS readout (SURVEY §0 "Readout training, online"):
  *  1. with P0 = I/λ, the RLS weights after folding the train rows equal
  *     the BATCH ridge solution `RcPipeline.fitDesigned` computes over the
  *     same rows — exact algebra, pinned to 1e-6 on Mackey-Glass;
  *  2. the `transformWithState` twin is row-identical to the driver-side
  *     fold, INCLUDING state carried across micro-batches.
  */
class RlsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def mackeyGlass(n: Int): Array[Double] = {
    val tau = 17
    val hist = Array.fill(tau + 1)(1.2)
    val out = new Array[Double](n)
    var x = 1.2
    val buf = collection.mutable.Queue(hist.toIndexedSeq: _*)
    (0 until n).foreach { i =>
      val xTau = buf.dequeue()
      x = x + 0.2 * xTau / (1.0 + math.pow(xTau, 10.0)) - 0.1 * x
      buf.enqueue(x)
      out(i) = x
    }
    out
  }

  test("RLS over the train rows equals the batch ridge solution (1e-6)") {
    val n = 500
    val lambda = 1e-2
    val mg = mackeyGlass(n)
    val series = spark.createDataset(
      mg.toSeq.zipWithIndex.map { case (v, t) => (1L, t.toLong, 0L, v) })
    val mats = Esn.matrices()
    val rows = RcPipeline.design(series, mats, 1.0, horizon = 1).persist()
    try {
      val batch = RcPipeline
        .fitDesigned(rows, mats, lambda, 1.0, horizon = 1, trainFrac = 0.8)
      // fold RLS over EXACTLY the rows gramSolve trains on, in step order
      val cut = RcPipeline.trainCut(n.toLong, 1, 0.8)
      val train = rows.collect()
        .filter(r => r._5.isDefined && r._2 < cut)
        .sortBy(_._2)
      var rls = Rls.init(2 + Esn.Nx, lambda)
      train.foreach { case (_, _, _, phi, y) =>
        rls = Rls.update(rls, phi, y.get)
      }
      assert(rls.n === train.length.toLong)
      val maxDiff = batch.w.zip(rls.w).map { case (a, b) =>
        math.abs(a - b) }.max
      assert(maxDiff < 1e-6, s"max |w_batch - w_rls| = $maxDiff")
    } finally rows.unpersist(blocking = false)
  }

  test("transformWithState twin is row-identical across micro-batches") {
    val lambda = 1e-2
    val mats = Esn.matrices()
    // two users, interleaved arrivals, split over TWO micro-batches
    val evs = (0 until 60).map { i =>
      EsnIn(event_id = i.toLong, tsUs = i.toLong * 1000000L,
        user_id = (i % 2).toLong, value = math.sin(i * 0.37) * 200 + 250)
    }
    // driver-side reference fold, per user in (tsUs, event_id) order
    val expected = evs.groupBy(_.user_id).toSeq.flatMap { case (uid, rs) =>
      var x = new Array[Double](Esn.Nx)
      var rls = Rls.init(2 + Esn.Nx, lambda)
      var pending: Array[Double] = null
      rs.sortBy(r => (r.tsUs, r.event_id)).flatMap { r =>
        val u = r.value / Esn.InputScale
        val emitted = if (pending != null) {
          rls = Rls.update(rls, pending, u)
          Some((uid, rls.n, rls.w(0), rls.w(1)))
        } else None
        x = Esn.step(mats, x, u)
        pending = Esn.designRow(u, x)
        emitted
      }
    }.toSet

    implicit val sq = spark.sqlContext
    StreamRun.withRocksDb(spark) {
      val mem = MemoryStream[EsnIn]
      val sink = s"rls_twin_${System.nanoTime()}"
      val q = StreamingTwins.rlsTws(mem.toDS(), mats, lambda)
        .toDF()
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        mem.addData(evs.take(31)); q.processAllAvailable()
        mem.addData(evs.drop(31)); q.processAllAvailable()
        val got = spark.table(sink).as[RlsOut].collect()
          .map(o => (o.user_id, o.step, o.w0, o.w1)).toSet
        assert(got === expected)
      } finally q.stop()
    }
  }
}
