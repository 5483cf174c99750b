package graft.examples

import graft.Session
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only: the DRIFT rehearsal for `pipe_curation_refreeze` —
  * measures whether the mid-stream tokord refreeze actually buys back
  * the df-ordering's collision economics (the 2.3×-at-10× Zipfian win
  * prefixRowsDf measured for the batch ops) once the bootstrap order
  * has drifted.
  *
  * Protocol: two IDENTICAL live funnels on the Zipfian twin corpus
  * (ScaleFixture.documentsZipf — head tokens appear in most docs, the
  * stop-word analogue), both bootstrapped STARVED (25 docs, so almost
  * the whole vocabulary is unseen → the fallback order ≈ lexicographic
  * → Zipf-head tokens 'w1', 'w10'… sort small and flood prefixes).
  * Both absorb the upper id half as wave 0; funnel B then runs
  * `LiveFunnel.refreeze` (tokord + pref rebuilt from the accumulated
  * universe under the true df order); both absorb the lower half as
  * wave 1. The reported numbers are the wave-1 ingest walls — same
  * state, same batch, only the order differs — plus the decision-set
  * equality check (refreeze must be invisible in results).
  *
  * No vectors land (g = null throughout): stage 5 is empty by
  * construction, so the walls isolate stage-4 candidate economics.
  * Usage: runMain graft.examples.RefreezeDrift MULT[,MULT...]
  */
object RefreezeDrift {
  def main(args: Array[String]): Unit = {
    val mults = args(0).split(",").map(_.trim.toInt).toSeq
    val s = Session.local(Session.cpus)
    val route = (df: DataFrame) => df
      .withColumn("cell", lit(0).cast("int"))
      .withColumn("scell", lit(0).cast("int"))
      .select(col("vec_id"), col("cell"), col("scell"), col("g"))
    mults.foreach { m =>
      val docs = ScaleFixture.documentsZipf(s, 5000L * m)
        .withColumn("g", lit(null).cast("array<bigint>"))
        .persist()
      docs.count()
      val n = 5000L * m
      val mid = n / 2
      val w0 = docs.filter(col("doc_id") >= mid)
      val w1 = docs.filter(col("doc_id") < mid)
      def build(): String = {
        val tx = graft.Tmp.dir("graft_drift_tx")
        graft.ops.Wave65Ops.LiveFunnel.setup(s, tx, docs.limit(0),
          route, docs.filter(col("doc_id") < 25))
        tx
      }
      def ingest(tx: String, b: DataFrame, id: Long): Double = {
        val t0 = System.nanoTime()
        graft.ops.Wave65Ops.LiveFunnel.ingest(s, tx, b, id, route)
        (System.nanoTime() - t0) / 1e9
      }
      val txA = build(); val txB = build()
      val a0 = ingest(txA, w0, 0L); val b0 = ingest(txB, w0, 0L)
      val t0 = System.nanoTime()
      graft.ops.Wave65Ops.LiveFunnel.refreeze(s, txB)
      val tRefreeze = (System.nanoTime() - t0) / 1e9
      val a1 = ingest(txA, w1, 1L); val b1 = ingest(txB, w1, 1L)
      val servedA = graft.ops.Wave65Ops.LiveFunnel.serve(s, txA)
        .orderBy("doc_id").collect().map(_.toSeq)
      val servedB = graft.ops.Wave65Ops.LiveFunnel.serve(s, txB)
        .orderBy("doc_id").collect().map(_.toSeq)
      println(f"DRIFT m=$m%-2d wave0 stale=$a0%7.2fs fresh=$b0%7.2fs " +
        f"refreeze=$tRefreeze%6.2fs " +
        f"wave1 stale=$a1%7.2fs refrozen=$b1%7.2fs " +
        f"speedup=${a1 / b1}%5.2fx equal=${servedA.sameElements(servedB)}")
      docs.unpersist(blocking = false)
    }
    s.stop()
  }
}
