package graft

import graft.ops.{IncNeardup, Wave58Ops}
import graft.ops.Wave58Ops.{BucketState, DocIn, DupHit}
import graft.ops.Wave62Ops.StreamIndex
import graft.sources.SnapTxn
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Pins the TEXT batch→live handoff (`stream_neardup_bootstrap`): a
  * fresh query seeded through `NeardupProcessor.handleInitialState`
  * from the SnapTxn-pinned buckets ⋈ toksets detects seed↔arrival and
  * arrival↔arrival pairs, never seed↔seed; the seed↔arrival half
  * equals the IncNeardup library probe at the same commit boundary.
  */
class NeardupBootstrapSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val baseText = (1 to 40).map(i => s"tok$i").mkString(" ")
  private val b1 = Seq(
    (2L, "en", baseText),
    (4L, "en", baseText), // exact copy of 2 INSIDE the seed
    (6L, "en", (100 to 140).map(i => s"w$i").mkString(" ")))
  private val arrivals = Seq(
    (11L, ((1 to 39).map(i => s"tok$i") :+ "novel").mkString(" ")),
    (13L, baseText))

  private def df(rows: Seq[(Long, String, String)]) =
    rows.toDF("doc_id", "lang", "text")

  /** The op's OWN seed construction (shared helper — the spec pins the
    * code the op runs, not a copy). */
  private def seedFromIndex(txroot: String) =
    graft.ops.Wave63Ops.neardupSeed(spark, txroot)

  private def runSeeded(txroot: String, batches: Seq[Seq[DocIn]])
      : Set[(Long, Long)] = {
    implicit val sq = spark.sqlContext
    StreamRun.withRocksDb(spark) {
      val mem = MemoryStream[DocIn]
      val sink = s"bootnd_twin_${System.nanoTime()}"
      val q = Wave58Ops.neardupStreamSeeded(mem.toDS(),
          seedFromIndex(txroot)).toDF()
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        batches.foreach { b => mem.addData(b); q.processAllAvailable() }
        spark.table(sink).as[DupHit].collect()
          .map(h => (h.doc_a, h.doc_b)).toSet
      } finally q.stop()
    }
  }

  private def freshIndex(): String = {
    val txroot = Tmp.dir("neardupboot_spec")
    StreamIndex.setup(spark, txroot, df(b1))
    StreamIndex.ingest(spark, txroot, df(b1), 0L)
    txroot
  }

  test("seeded members match arrivals but never each other; arrivals " +
      "match earlier arrivals") {
    val txroot = freshIndex()
    val got = runSeeded(txroot, Seq(arrivals.map { case (id, t) =>
      DocIn(id, t, id * 1000L) }))
    // 2 and 4 are EXACT copies inside the seed: a (2,4) emission would
    // mean state members compared to each other
    assert(got === Set(
      (2L, 11L), (4L, 11L),      // seed ↔ arrival (near-dup)
      (2L, 13L), (4L, 13L),      // seed ↔ arrival (exact)
      (11L, 13L)))               // arrival ↔ earlier arrival
  }

  test("the seed↔arrival half equals the IncNeardup library probe at " +
      "the same commit boundary") {
    val txroot = freshIndex()
    val got = runSeeded(txroot, Seq(arrivals.map { case (id, t) =>
      DocIn(id, t, id * 1000L) }))
    val fd = IncNeardup.featurize(
      arrivals.map { case (id, t) => (id, "en", t) }
        .toDF("doc_id", "lang", "text"))
    val lib = IncNeardup.verify(
        IncNeardup.candidates(fd, SnapTxn.read(spark, txroot, "buckets")),
        fd, SnapTxn.read(spark, txroot, "toksets"))
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet
    // restrict the stream result to cross-boundary pairs (seed ids are
    // the b1 ids) and compare
    val seedIds = b1.map(_._1).toSet
    assert(got.filter(p => seedIds.contains(p._1)) === lib)
  }

  test("an arrival into a bucket the seed never saw works from empty") {
    val txroot = freshIndex()
    val got = runSeeded(txroot, Seq(Seq(
      DocIn(21L, (300 to 340).map(i => s"x$i").mkString(" "), 21000L),
      DocIn(23L, (300 to 340).map(i => s"x$i").mkString(" "), 23000L))))
    assert(got === Set((21L, 23L)))
  }
}
