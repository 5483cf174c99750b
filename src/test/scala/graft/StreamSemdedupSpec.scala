package graft

import graft.ops.Wave61Ops
import graft.ops.Wave61Ops.{SimHit, VecIn}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Online vector semdedup (stream_semdedup_live): the streaming pipeline
  * must find exactly the pairs a driver-side replay of the same frozen
  * routing + integer-grid cosine finds (at the SAME 1e-9 rounding), the
  * scalar cell router must equal the DataFrame routing machinery
  * (IvfRouting.assignCoarse) on the fixture, per-cell state must carry
  * across micro-batches, and members older than the event-time horizon
  * must be EVICTED (the bounded-state lifecycle shared with the text
  * twin).
  */
class StreamSemdedupSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Spark round(x·1e9)/1e9 (BigDecimal shortest-repr HALF_UP). */
  private def rnd9(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue() / 1e9

  private def cos9(a: Seq[Long], b: Seq[Long]): Double = {
    var dot = 0L; var na = 0L; var nb = 0L; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    rnd9(dot.toDouble / math.sqrt(na.toDouble * nb.toDouble) * 1e9)
  }

  private def runStream(batches: Seq[Seq[VecIn]],
      horizonMs: Long = Wave61Ops.DefaultHorizonMs)
      : Set[(Long, Long)] = {
    implicit val sq = spark.sqlContext
    StreamRun.withRocksDb(spark) {
      val mem = MemoryStream[VecIn]
      val sink = s"semdedup_twin_${System.nanoTime()}"
      val q = Wave61Ops.semdedupStream(mem.toDS(), horizonMs).toDF()
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        batches.foreach { b => mem.addData(b); q.processAllAvailable() }
        spark.table(sink).as[SimHit].collect()
          .map(h => (h.vec_a, h.vec_b)).toSet
      } finally q.stop()
    }
  }

  /** Fixture embeddings on the integer grid, with their frozen-geometry
    * coarse cell (the op's own router). */
  private lazy val fixture: Seq[(Long, Long, Seq[Long])] = {
    val gridded = T(spark, TestSpark.Sf, "embeddings")
      .selectExpr("vec_id", Wave61Ops.GridExpr + " AS g")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq.sortBy(_._1)
    val k = graft.vec.VecAlgs.cellSplit(gridded.size.toLong)._1
    val cents = gridded.filter(_._1 < k)
      .map(v => (v._1, v._2.toArray)).toArray
    gridded.map { case (id, g) =>
      (Wave61Ops.nearestCell(g.toArray, cents), id, g)
    }
  }

  test("scalar cell router equals IvfRouting.assignCoarse on the fixture") {
    import org.apache.spark.sql.functions._
    val g = T(spark, TestSpark.Sf, "embeddings")
      .selectExpr("vec_id", Wave61Ops.GridExpr + " AS g")
    val k = graft.vec.VecAlgs.cellSplit(
      T.rows(spark, TestSpark.Sf, "embeddings"))._1
    val cents = g.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("g").as("cg"))
    val df = graft.vec.IvfRouting.assignCoarse(g, cents)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scalar = fixture.map { case (cell, id, _) => id -> cell }.toMap
    assert(scalar === df,
      "the stream's scalar router and the batch DataFrame router " +
        "disagree — the oracle would grade the wrong geometry")
  }

  test("stream pairs equal the driver-side replay (fixture corpus)") {
    val expect = (for {
      (ca, ia, ga) <- fixture; (cb, ib, gb) <- fixture
      if ca == cb && ia < ib && cos9(ga, gb) > Wave61Ops.CosThreshold
    } yield (ia, ib)).toSet
    val got = runStream(Seq(fixture.map { case (cell, id, g) =>
      VecIn(cell, id, g, id * 1000L) }))
    assert(got === expect)
    assert(got.nonEmpty, "fixture has no semantic dups — test is vacuous")
  }

  test("cell state carries across micro-batches") {
    val got = runStream(Seq(
      Seq(VecIn(0L, 1L, Seq(10L, 0L), 1000L),
        VecIn(0L, 2L, Seq(0L, 10L), 1000L)), // orthogonal: no pair
      Seq(VecIn(0L, 3L, Seq(10L, 1L), 2000L)))) // batch 2: near vec 1
    assert(got === Set((1L, 3L)))
  }

  test("different cells never compare, even with identical vectors") {
    val got = runStream(Seq(Seq(
      VecIn(0L, 1L, Seq(10L, 0L), 1000L),
      VecIn(1L, 2L, Seq(10L, 0L), 1000L))))
    assert(got === Set.empty[(Long, Long)])
  }

  test("horizon eviction: a stale member no longer matches, fresh ones do") {
    val v = Seq(10L, 0L)
    val got = runStream(
      Seq(
        // t=0: will expire
        Seq(VecIn(0L, 1L, v, 0L)),
        // watermark jumps past 0 + horizon (other cell)
        Seq(VecIn(7L, 5L, Seq(0L, 10L), 1000000L)),
        // identical vector after expiry: NO pair; seeds the cell fresh
        Seq(VecIn(0L, 6L, v, 1000001L)),
        // within-horizon near-dup of vec 6: still detected
        Seq(VecIn(0L, 7L, Seq(10L, 1L), 1000500L))),
      horizonMs = 100000L)
    assert(!got.exists(p => p._1 == 1L || p._2 == 1L),
      s"expired vec 1 must not match: $got")
    assert(got === Set((6L, 7L)), s"fresh pair must still match: $got")
  }

  test("timer eviction clears an untouched cell (state bounded)") {
    val v = Seq(10L, 0L)
    val got = runStream(
      Seq(
        Seq(VecIn(0L, 1L, v, 0L)),
        // two watermark-advancing batches on DIFFERENT cells: batch 2
        // advances wm past vec 1's expiry, batch 3 fires its timer
        Seq(VecIn(3L, 2L, Seq(0L, 10L), 500000L)),
        Seq(VecIn(4L, 3L, Seq(0L, 10L), 600000L)),
        // identical vector after expiry: no pair
        Seq(VecIn(0L, 4L, v, 600001L))),
      horizonMs = 100000L)
    assert(got === Set.empty[(Long, Long)], s"expected no pairs: $got")
  }
}
