package graft

import graft.graph.Cc
import graft.ops.{Wave62Ops, Wave63Ops, Wave64Ops}
import graft.sources.SnapTxn
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-13 composed ops:
  *
  *  - crossmodal components: a doc tied to its cluster by only ONE
  *    modality still lands in the right component (the whole point of
  *    unioning the match graphs before CC);
  *  - Cc.minLabel semantics on a hand-built graph (chain bridging,
  *    singletons, convergence);
  *  - the funnel's lineage arithmetic: stage k's rows_in equals stage
  *    k-1's rows_out, drops are non-negative, token mass only shrinks;
  *  - incremental serving: a reader holding pin 1 reproduces pin 1's
  *    results EXACTLY after the wave-1 absorbs moved the head
  *    (snapshot isolation), while the head serve differs
  *    (read-your-writes actually observed something new).
  */
class Wave64Spec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("crossmodal CC: lex ties 1-2, sem ties 2-3 — doc 3 (never seen " +
      "by lex) and doc 1 (never seen by sem) share one component") {
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("id")
    val lex = Seq((1L, 2L)).toDF("a", "b")
    val sem = Seq((2L, 3L)).toDF("a", "b")
    val comp = Cc.minLabel(spark, nodes, lex.union(sem), "spec")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
  }

  test("ccMinLabel: a 5-node chain converges to one component; edge " +
      "orientation does not matter") {
    val nodes = (10L to 14L).toDF("id")
    // deliberately mixed orientation and a diameter-4 chain
    val edges = Seq((11L, 10L), (11L, 12L), (13L, 12L), (13L, 14L))
      .toDF("a", "b")
    val comp = Cc.minLabel(spark, nodes, edges, "spec")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.values.toSet === Set(10L))
  }

  test("semPairs: only same-bucket pairs above the cosine threshold " +
      "emit, id-ordered") {
    // cell 1: ids 5 and 7 colinear (cos 1.0); cell 2: id 9 alone;
    // cell 1 also holds id 8, orthogonal to both
    val f = Seq(
      (5L, 1L, 1L, Seq(1000000L, 0L)),
      (7L, 1L, 1L, Seq(2000000L, 0L)),
      (8L, 1L, 1L, Seq(0L, 3000000L)),
      (9L, 2L, 1L, Seq(1000000L, 0L)))
      .toDF("vec_id", "cell", "scell", "g")
    val got = Wave64Ops.semPairs(f)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((5L, 7L)))
  }

  test("funnel lineage arithmetic holds at sf0.001") {
    val rows = graft.SparkEntry.queries("pipe_curation_funnel")(
      spark, TestSpark.Sf).collect()
    assert(rows.length === 6)
    assert(rows.map(_.getString(1)).toSeq === Seq("input", "lang_id",
      "quality", "dedup_exact", "dedup_near", "dedup_sem"))
    rows.sliding(2).foreach { case Array(prev, cur) =>
      assert(cur.getLong(2) === prev.getLong(4),
        s"rows_in(${cur.getString(1)}) != rows_out(${prev.getString(1)})")
      assert(cur.getLong(5) <= prev.getLong(5), "token mass grew")
    }
    rows.foreach { r =>
      assert(r.getLong(3) >= 0L && r.getLong(3) ===
        r.getLong(2) - r.getLong(4))
    }
    // the funnel actually dropped something at fixture scale
    assert(rows.last.getLong(4) < rows.head.getLong(2))
  }

  test("star-compressed incremental CC equals the from-scratch CC: " +
      "old components collapse to links, new edges bridge across them") {
    val all = (1L to 6L).toDF("id")
    val w0 = Seq((2L, 4L), (4L, 6L)).toDF("a", "b") // even-only wave
    val l0 = Cc.minLabel(spark, all.filter($"id" % 2 === 0),
      w0, "spec:w0")
    // star links: one id→comp edge per previously-labeled non-root
    val links = l0.filter($"id" =!= $"comp")
      .select($"id".as("a"), $"comp".as("b"))
    val w1 = Seq((1L, 3L), (3L, 6L)).toDF("a", "b") // odd + bridge
    val incr = Cc.minLabel(spark, all, w1.union(links),
      "spec:w1")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Cc.minLabel(spark, all, w0.union(w1),
      "spec:full")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incr === full)
    assert(incr(6L) === 1L && incr(2L) === 1L) // bridged across waves
    assert(incr(5L) === 5L) // untouched singleton
  }

  test("ledger and funnel artifacts agree at sf0.001: per-stage drop " +
      "counts match, survivors match, kept_by points at an earlier " +
      "surviving doc exactly for the dedup stages") {
    val funnel = graft.SparkEntry.queries("pipe_curation_funnel")(
      spark, TestSpark.Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap // stage -> dropped
    val ledger = graft.SparkEntry.queries("pipe_curation_ledger")(
      spark, TestSpark.Sf).collect()
    (1L to 5L).foreach { st =>
      assert(ledger.count(_.getLong(1) == st) === funnel(st),
        s"stage $st drop count disagrees between ledger and funnel")
    }
    ledger.foreach { r =>
      val (st, kb) = (r.getLong(1), if (r.isNullAt(3)) None
        else Some(r.getLong(3)))
      if (st >= 3L) {
        assert(kb.isDefined && kb.get < r.getLong(0),
          s"dedup drop ${r.getLong(0)} must point at an earlier keeper")
      } else assert(kb.isEmpty)
    }
    // every kept_by is itself a survivor or was dropped LATER — it
    // survived at least through the stage that deduped into it
    val droppedAt = ledger.map(r => r.getLong(0) -> r.getLong(1)).toMap
    ledger.filter(r => !r.isNullAt(3)).foreach { r =>
      val kb = r.getLong(3)
      assert(droppedAt(kb) == 0L || droppedAt(kb) > r.getLong(1),
        s"keeper $kb of ${r.getLong(0)} fell at an earlier stage")
    }
  }

  test("incremental serving: a held pin-1 reader reproduces pin 1 " +
      "after the head moved; the head serve reflects the new wave") {
    val dir = TestSpark.Sf
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val btx = Tmp.dir("serveincr_bm25")
    Wave63Ops.Bm25Index.setup(spark, btx)
    Wave63Ops.Bm25Index.ingest(spark, btx,
      docs.filter(col("doc_id") % 2 === 0), 0L)
    val pin1 = SnapTxn.latestTx(btx)
    val serve1 = Wave63Ops.Bm25Index.serveAt(spark, btx, pin1)
      .collect().map(_.toSeq)
    // wave 1 moves the head
    Wave63Ops.Bm25Index.ingest(spark, btx,
      docs.filter(col("doc_id") % 2 === 1), 1L)
    assert(SnapTxn.latestTx(btx) > pin1)
    // snapshot isolation: the old pin re-reads EXACTLY its old answer
    val replay = Wave63Ops.Bm25Index.serveAt(spark, btx, pin1)
      .collect().map(_.toSeq)
    assert(replay.toSeq === serve1.toSeq)
    // read-your-writes: the head serve sees the doubled corpus (nd
    // doubled shifts every bm25 score, and odd docs become rankable)
    val head = Wave63Ops.Bm25Index.serve(spark, btx)
      .collect().map(_.toSeq)
    assert(head.toSeq !== serve1.toSeq)
    assert(head.exists(r => r(2).asInstanceOf[Long] % 2 === 1L))
  }
}
