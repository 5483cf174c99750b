package graft

import graft.sources.{SnapTable, SnapTxn}
import org.apache.spark.GraftTestHooks
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

/** Multi-table transaction contracts the logical oracle can't see:
  * atomic cross-table visibility, crash atomicity (orphaned prepares are
  * invisible), first-committer-wins conflict detection, disjoint-table
  * concurrency, tx-level time travel, and orphan vacuum.
  */
class SnapTxnSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def df(ks: Range, tag: String) =
    ks.map(k => (k.toLong, tag)).toDF("k", "v")

  private def setup(): String = {
    val txroot = Tmp.dir("snaptxn_spec")
    SnapTable.create(spark, s"$txroot/a", df(0 until 10, "a1"), "k")
    SnapTable.create(spark, s"$txroot/b", df(0 until 10, "b1"), "k")
    SnapTxn.init(txroot, Seq("a", "b"))
    txroot
  }

  private def ks(txroot: String, t: String): Set[Long] =
    SnapTxn.read(spark, txroot, t).select("k").collect()
      .map(_.getLong(0)).toSet

  test("commit makes both tables' writes visible atomically; " +
      "tx time travel sees the consistent pair") {
    val txroot = setup()
    val tx = SnapTxn.commit(spark, txroot, Seq(
      "a" -> df(10 until 20, "a2"), "b" -> df(10 until 20, "b2")))
    assert(tx == 2)
    assert(ks(txroot, "a") == (0L until 20L).toSet)
    assert(ks(txroot, "b") == (0L until 20L).toSet)
    // as of tx 1: NEITHER write exists (never one without the other)
    assert(SnapTxn.readAt(spark, txroot, "a", 1).count() == 10)
    assert(SnapTxn.readAt(spark, txroot, "b", 1).count() == 10)
  }

  test("a crashed transaction (prepare without publish) is invisible " +
      "and does not leak into later commits") {
    val txroot = setup()
    // simulate the crash: per-table snapshot linked, no tx record
    val orphan = SnapTable.prepareAppend(spark, s"$txroot/a",
      df(900 until 910, "crash"), pin = 1)
    assert(SnapTable.versions(s"$txroot/a").contains(orphan))
    assert(ks(txroot, "a") == (0L until 10L).toSet, "orphan leaked")
    // the next real tx builds from the PIN, not the orphan head
    SnapTxn.commit(spark, txroot, Seq("a" -> df(10 until 20, "a2")))
    assert(ks(txroot, "a") == (0L until 20L).toSet)
  }

  test("conflicting transactions: first committer wins, loser aborts") {
    val txroot = setup()
    val stale = SnapTxn.head(txroot) // both txns start from tx 1
    SnapTxn.commit(spark, txroot, Seq("a" -> df(10 until 20, "winner")))
    val prepared = Map("a" -> SnapTable.prepareAppend(
      spark, s"$txroot/a", df(20 until 30, "loser"), pin = 1))
    val e = intercept[SnapTable.ConcurrentCommitException] {
      SnapTxn.publish(txroot, stale, prepared, "loser")
    }
    assert(e.getMessage.contains("first committer wins"))
    assert(ks(txroot, "a") == (0L until 20L).toSet) // loser left no trace
  }

  test("transactions on disjoint tables both land") {
    val txroot = setup()
    val stale = SnapTxn.head(txroot)
    SnapTxn.commit(spark, txroot, Seq("a" -> df(10 until 20, "a2")))
    // a tx prepared against the OLD head but touching only table b
    val prepared = Map("b" -> SnapTable.prepareAppend(
      spark, s"$txroot/b", df(10 until 20, "b2"), pin = 1))
    val tx = SnapTxn.publish(txroot, stale, prepared, "disjoint")
    assert(tx == 3)
    assert(ks(txroot, "a") == (0L until 20L).toSet) // winner's pin carried
    assert(ks(txroot, "b") == (0L until 20L).toSet)
  }

  test("vacuumOrphans reclaims aborted snapshots; pinned history survives") {
    val txroot = setup()
    SnapTable.prepareAppend(spark, s"$txroot/a",
      df(900 until 910, "crash"), pin = 1)
    SnapTxn.commit(spark, txroot, Seq("a" -> df(10 until 20, "a2")))
    val removed = SnapTxn.vacuumOrphans(txroot)
    assert(removed >= 1)
    assert(ks(txroot, "a") == (0L until 20L).toSet)
    assert(SnapTxn.readAt(spark, txroot, "a", 1).count() == 10)
    // every surviving per-table version is pinned by some tx
    val pinnedA = SnapTxn.txVersions(txroot)
      .map(v => SnapTxn.load(txroot, v).pins("a")).toSet
    assert(SnapTable.versions(s"$txroot/a").toSet == pinnedA)
  }

  test("vacuumOrphans keeps pre-init history and pinned versions") {
    val txroot = Tmp.dir("snaptxn_spec")
    // the table has real history BEFORE tx management begins
    SnapTable.create(spark, s"$txroot/a", df(0 until 10, "v1"), "k")
    SnapTable.append(spark, s"$txroot/a", df(10 until 20, "v2"))
    SnapTable.create(spark, s"$txroot/b", df(0 until 10, "b1"), "k")
    SnapTxn.init(txroot, Seq("a", "b")) // pins a=2, b=1
    SnapTable.prepareAppend(spark, s"$txroot/a",
      df(900 until 910, "crash"), pin = 2) // orphan v3
    SnapTxn.commit(spark, txroot, Seq("a" -> df(20 until 30, "a3"))) // v4
    assert(SnapTxn.vacuumOrphans(txroot) == 1) // ONLY the orphan
    // pre-init lineage intact: v1 still time-travels
    assert(SnapTable.versions(s"$txroot/a") == Seq(1, 2, 4))
    assert(SnapTable.readVersion(spark, s"$txroot/a", 1).count() == 10)
    assert(ks(txroot, "a") == (0L until 30L).toSet)
  }

  test("a note with quotes and newlines round-trips the tx log") {
    val txroot = setup()
    val note = "load \"q4\" batch\nwith newline \\ backslash"
    SnapTxn.commit(spark, txroot,
      Seq("a" -> df(10 until 20, "a2")), note = note)
    assert(SnapTxn.head(txroot).note == note)
    assert(ks(txroot, "a") == (0L until 20L).toSet) // log still readable
  }

  test("register brings a late table under tx management; earlier tx " +
      "versions refuse it") {
    val txroot = setup()
    SnapTable.create(spark, s"$txroot/c", df(0 until 5, "c1"), "k")
    val tx = SnapTxn.register(txroot, "c")
    assert(tx == 2)
    intercept[IllegalArgumentException] {
      SnapTxn.register(txroot, "c") // already managed
    }
    // cross-table commit including the late table is atomic
    SnapTxn.commit(spark, txroot, Seq(
      "a" -> df(10 until 20, "a2"), "c" -> df(5 until 10, "c2")))
    assert(ks(txroot, "c") == (0L until 10L).toSet)
    assert(ks(txroot, "a") == (0L until 20L).toSet)
    // tx 1 predates the registration: honest refusal, not empty data
    intercept[IllegalArgumentException] {
      SnapTxn.readAt(spark, txroot, "c", 1)
    }
    // direct writes to c between registration and commit are orphans
    // relative to the pins, exactly like any non-tx write
    assert(SnapTxn.readAt(spark, txroot, "c", 2).count() == 5)
  }

  test("history lists one row per (tx, table) pin") {
    val txroot = setup()
    SnapTxn.commit(spark, txroot, Seq("a" -> df(10 until 20, "a2")))
    val h = SnapTxn.history(spark, txroot).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
    assert(h.length == 4) // 2 txs × 2 tables
    assert(h.contains((1L, "a", 1L)) && h.contains((1L, "b", 1L)))
    assert(h.count(_._1 == 2L) == 2)
  }

  test("a failed prepare aborts the commit: the original exception, an " +
      "unchanged head, and no sibling prepare job left running") {
    val txroot = setup()
    val before = SnapTxn.head(txroot)
    // both frames are parallelized RDDs, so each UDF runs in a task
    // (never folded on the driver) and a cancelled task ends within one
    // row. The failing prepare fails about 1 s in, while the slow one
    // (about 3 s per task, on 3 of the 4 local cores) is running.
    val boom = udf { (k: Long) =>
      Thread.sleep(1000)
      if (k >= 0) throw new IllegalStateException("prepare boom")
      k
    }
    val slow = udf { (k: Long) => Thread.sleep(100); k }
    def rows(ks: Range, tag: String, tasks: Int) = spark.sparkContext
      .parallelize(ks.map(k => (k.toLong, tag)), tasks).toDF("k", "v")
    val failing = rows(20 until 30, "x", 1).withColumn("k", boom(col("k")))
    val slowRows = rows(100 until 190, "slow", 3)
      .withColumn("k", slow(col("k")))
    val group = "snaptxn-abort"
    spark.sparkContext.setJobGroup(group, group)
    val e =
      try intercept[Exception] {
        SnapTxn.commit(spark, txroot, Seq("a" -> failing, "b" -> slowRows))
      } finally spark.sparkContext.clearJobGroup()
    val running = GraftTestHooks.activeJobs(spark.sparkContext, group)
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(e).exists(c => Option(c.getMessage)
      .exists(_.contains("prepare boom"))), s"not the original: $e")
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException])
    assert(SnapTxn.head(txroot) == before)
    assert(running.isEmpty, s"prepare jobs still running: $running")
    // any prepared orphan is reclaimed: every surviving version is pinned
    SnapTxn.vacuumOrphans(txroot)
    Seq("a", "b").foreach { t =>
      val pinned = SnapTxn.txVersions(txroot)
        .map(v => SnapTxn.load(txroot, v).pins(t)).toSet
      assert(SnapTable.versions(s"$txroot/$t").toSet == pinned)
      assert(ks(txroot, t) == (0L until 10L).toSet)
    }
  }
}
