package graft

import graft.ops.Wave61Ops
import graft.ops.Wave61Ops.{CellState, SimHit, VecIn}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the batch→live handoff (`stream_semdedup_bootstrap`): a fresh
  * query seeded through `SemdedupProcessor.handleInitialState` detects
  * bootstrapped-vs-arrival and arrival-vs-arrival pairs, NEVER
  * bootstrapped-vs-bootstrapped (state members don't compare to each
  * other — the oracle's parity contract), normalizes an unsorted seed
  * to the arrival path's id order, and applies the same event-time
  * horizon to seeded members (a stale bootstrapped member is evicted
  * before it can match).
  */
class BootstrapSemdedupSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def runBootstrap(seed: Seq[(Long, CellState)],
      batches: Seq[Seq[VecIn]],
      horizonMs: Long = Wave61Ops.DefaultHorizonMs)
      : Set[(Long, Long)] = {
    implicit val sq = spark.sqlContext
    StreamRun.withRocksDb(spark) {
      val mem = MemoryStream[VecIn]
      val initKV = seed.toDS().groupByKey(_._1).mapValues(_._2)
      val sink = s"bootstrap_twin_${System.nanoTime()}"
      import org.apache.spark.sql.functions._
      val q = mem.toDS()
        .withColumn("ts", timestamp_millis(col("tsMs")))
        .withWatermark("ts", "0 seconds")
        .select(col("cell"), col("vec_id"), col("g"), col("tsMs"))
        .as[VecIn]
        .groupByKey(_.cell)
        .transformWithState(
          new Wave61Ops.SemdedupProcessor(horizonMs),
          TimeMode.EventTime(), OutputMode.Append(), initKV)(
          Encoders.product[SimHit], Encoders.product[CellState])
        .toDF()
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        batches.foreach { b => mem.addData(b); q.processAllAvailable() }
        spark.table(sink).as[SimHit].collect()
          .map(h => (h.vec_a, h.vec_b)).toSet
      } finally q.stop()
    }
  }

  private def st(members: (Long, Seq[Long])*): CellState =
    CellState(members.map(_._1), members.map(_._1 * 1000L),
      members.map(_._2), Long.MinValue)

  test("arrival matches a bootstrapped member; bootstrapped members " +
      "never match each other") {
    // cell 0 seeded with two IDENTICAL vectors (2 and 4): if state
    // members compared to each other this would emit (2,4)
    val seed = Seq(0L -> st(2L -> Seq(10L, 0L), 4L -> Seq(10L, 0L)))
    val got = runBootstrap(seed,
      Seq(Seq(VecIn(0L, 11L, Seq(10L, 1L), 11000L))))
    assert(got === Set((2L, 11L), (4L, 11L)))
  }

  test("arrivals still match earlier arrivals on top of the seed") {
    val seed = Seq(0L -> st(2L -> Seq(10L, 0L)))
    val got = runBootstrap(seed, Seq(
      Seq(VecIn(0L, 11L, Seq(10L, 1L), 11000L)),
      Seq(VecIn(0L, 13L, Seq(10L, 2L), 13000L))))
    assert(got === Set((2L, 11L), (2L, 13L), (11L, 13L)))
  }

  test("an unsorted seed is normalized to id order (canonical pairs)") {
    // members deliberately out of id order in the seed
    val seed = Seq(0L -> CellState(Seq(8L, 2L), Seq(8000L, 2000L),
      Seq(Seq(10L, 0L), Seq(0L, 10L)), Long.MinValue))
    val got = runBootstrap(seed,
      Seq(Seq(VecIn(0L, 11L, Seq(10L, 1L), 11000L))))
    // 11 matches member 8 (same direction), not member 2 (orthogonal)
    assert(got === Set((8L, 11L)))
  }

  test("a seeded cell unknown to the stream stays silent; unseeded " +
      "cells work from empty") {
    val seed = Seq(7L -> st(2L -> Seq(10L, 0L)))
    val got = runBootstrap(seed, Seq(Seq(
      VecIn(0L, 11L, Seq(10L, 0L), 11000L),
      VecIn(0L, 13L, Seq(10L, 1L), 13000L))))
    assert(got === Set((11L, 13L)))
  }

  test("the event-time horizon applies to bootstrapped members: a stale " +
      "seed member is evicted before it can match") {
    val h = 10000L // 10 s horizon
    // seed member at ts 1 s; watermark will pass 11 s with the first
    // arrival (ts 30 s -> wm advances; 1 s + 10 s <= wm)
    val seed = Seq(0L -> st(2L -> Seq(10L, 0L)))
    val got = runBootstrap(seed, Seq(
      // batch 1 only advances the watermark (different cell)
      Seq(VecIn(1L, 5L, Seq(0L, 10L), 30000L)),
      // batch 2: same direction as the stale seed member — must NOT pair
      Seq(VecIn(0L, 40L, Seq(10L, 1L), 40000L))), horizonMs = h)
    assert(got === Set.empty[(Long, Long)])
  }
}
