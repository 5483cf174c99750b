package graft

import graft.ops.Wave58Ops
import graft.ops.Wave58Ops.{DocIn, DupHit}
import graft.text.TextAlgs
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Online near-dup (stream_neardup_live): the streaming pipeline must
  * find exactly the pairs a driver-side replay of the same banding +
  * exact-Jaccard verification finds, its bucket state must carry
  * across micro-batches, and members older than the event-time dedup
  * horizon must be EVICTED (the bounded-state lifecycle).
  */
class StreamNeardupSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Driver-side replay: all (a<b) pairs sharing >= 1 LSH band bucket
    * with exact token-set Jaccard >= 0.8 — compared at the SAME 1e-6
    * rounding the stream applies (jac6), so a pair landing in
    * [0.7999995, 0.8) is accepted by both sides, never just one. */
  private def replay(docs: Seq[(Long, String)]): Set[(Long, Long)] = {
    val feats = docs.map { case (id, t) =>
      val dist = t.split(" ").toSeq.distinct
      (id, TextAlgs.lshBands(TextAlgs.minhash(dist)).toSet,
        dist.toSet)
    }
    (for {
      a <- feats; b <- feats
      if a._1 < b._1 && (a._2 intersect b._2).nonEmpty
      if math.round(TextAlgs.jaccard(a._3, b._3) * 1e6) / 1e6 >= 0.8
    } yield (a._1, b._1)).toSet
  }

  private def runStream(batches: Seq[Seq[DocIn]],
      horizonMs: Long = Wave58Ops.DefaultHorizonMs): Set[(Long, Long)] = {
    implicit val sq = spark.sqlContext
    StreamRun.withRocksDb(spark) {
      val mem = MemoryStream[DocIn]
      val sink = s"neardup_twin_${System.nanoTime()}"
      val q = Wave58Ops.neardupStream(mem.toDS(), horizonMs).toDF()
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        batches.foreach { b => mem.addData(b); q.processAllAvailable() }
        spark.table(sink).as[DupHit].collect()
          .map(h => (h.doc_a, h.doc_b)).toSet
      } finally q.stop()
    }
  }

  test("stream pairs equal the driver-side banded replay (fixture corpus)") {
    val docs = T(spark, TestSpark.Sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val got = runStream(Seq(docs.map { case (id, t) =>
      DocIn(id, t, id * 1000L) }))
    assert(got === replay(docs))
    assert(got.nonEmpty, "fixture corpus has no near-dups — test is vacuous")
  }

  test("bucket state carries across micro-batches") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = ((1 to 39).map(i => s"tok$i") :+ "novel").mkString(" ")
    val other = (100 to 140).map(i => s"w$i").mkString(" ")
    val got = runStream(Seq(
      Seq(DocIn(1L, base, 1000L), DocIn(2L, other, 1000L)), // batch 1
      Seq(DocIn(3L, near, 2000L))))           // batch 2: dup of doc 1
    assert(got === Set((1L, 3L)))
  }

  test("horizon eviction: a stale member no longer matches, fresh ones do") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near1 = ((1 to 39).map(i => s"tok$i") :+ "novel").mkString(" ")
    val near2 = ((1 to 39).map(i => s"tok$i") :+ "fresh").mkString(" ")
    val other = (100 to 140).map(i => s"w$i").mkString(" ")
    val other2 = (200 to 240).map(i => s"v$i").mkString(" ")
    val got = runStream(
      Seq(
        // batch 1: doc 1 at t=0 (will expire), unrelated doc
        Seq(DocIn(1L, base, 0L), DocIn(2L, other, 0L)),
        // batch 2: unrelated doc far in the future — after this batch the
        // watermark (0s delay) passes 0 + horizon, expiring doc 1
        Seq(DocIn(5L, other2, 1000000L)),
        // batch 3: near-dup of doc 1 — doc 1 is evicted, NO pair; it
        // seeds the bucket fresh
        Seq(DocIn(6L, near1, 1000001L)),
        // batch 4: near-dup of doc 6 within the horizon — still detected
        Seq(DocIn(7L, near2, 1000500L))),
      horizonMs = 100000L)
    assert(!got.exists(p => p._1 == 1L || p._2 == 1L),
      s"expired doc 1 must not match: $got")
    assert(got === Set((6L, 7L)), s"fresh pair must still match: $got")
  }

  test("timer eviction clears an untouched bucket (state bounded)") {
    // doc 1's buckets receive no further input; the per-bucket timer must
    // still purge them once the watermark passes the horizon, so a
    // later identical doc matches NOTHING (state was cleared, not merely
    // filtered on arrival — observable because an arrival-time-only
    // eviction would behave the same; the cleared state is additionally
    // visible in the state store, which drops the bucket rows entirely).
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val other = (100 to 140).map(i => s"w$i").mkString(" ")
    val other2 = (200 to 240).map(i => s"v$i").mkString(" ")
    val got = runStream(
      Seq(
        Seq(DocIn(1L, base, 0L)),
        // two watermark-advancing batches on DIFFERENT buckets: batch 2
        // advances wm past doc 1's expiry, batch 3 fires its timer
        Seq(DocIn(2L, other, 500000L)),
        Seq(DocIn(3L, other2, 600000L)),
        // identical doc after expiry: no pair
        Seq(DocIn(4L, base, 600001L))),
      horizonMs = 100000L)
    assert(got === Set.empty[(Long, Long)], s"expected no pairs: $got")
  }
}
