package graft

import graft.sources.{SnapMicroBatchStream, SnapOffset, SnapTable}
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.scalatest.funsuite.AnyFunSuite

/** The streaming read of a SnapTable (`readStream.table`, planned by
  * SnapMicroBatchStream): version-offset tailing of the commit log —
  * snapshot-consistent first batch, incremental exactly-once resumption
  * from the checkpoint, the rewrite guard — plus the native sinks and the
  * `.changes` feed. Path-only tables stream by their absolute path as the
  * identifier.
  */
class SnapStreamSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  graft.ops.TableOps.sqlWarehouse(spark)

  /** The catalog name of a path-only table. */
  private def byPath(root: String): String = s"snap.`$root`"

  /** A native stream over `root` driven directly, as the planner would. */
  private def microBatch(root: String, startingVersion: Option[Int] = None,
      maxVersionsPerTrigger: Option[Int] = None): SnapMicroBatchStream = {
    val snap = SnapTable.load(root, SnapTable.latestVersion(root))
    new SnapMicroBatchStream(spark, root,
      SnapTable.schemaOf(snap.schemaJson), Seq.empty, identity,
      ignoreChanges = false, startingVersion, maxVersionsPerTrigger)
  }

  private def df(ks: Range, tag: String) =
    ks.map(k => (k.toLong, tag)).toDF("k", "v")

  /** Drain the table into a parquet sink with AvailableNow; reusing
    * `sink`/`ckpt` resumes from the checkpoint.
    */
  private def drain(root: String, sink: String, ckpt: String,
      ignoreChanges: Boolean = false): Unit =
    StreamRun.withStateParts(spark) {
      val q = spark.readStream
        .option("ignoreChanges", ignoreChanges.toString)
        .table(byPath(root))
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

  private def sunk(sink: String): Seq[(Long, String)] =
    spark.read.parquet(sink).as[(Long, String)].collect().toSeq.sorted

  test("first batch is the full snapshot; later appends resume " +
      "incrementally and exactly once from the checkpoint") {
    val root = Tmp.dir("snapstream_t1")
    val sink = Tmp.dir("snapstream_t1_sink")
    val ckpt = Tmp.dir("snapstream_t1_ckpt")
    SnapTable.create(spark, root, df(0 until 10, "v1"), "k")
    SnapTable.append(spark, root, df(10 until 20, "v2"))
    drain(root, sink, ckpt)
    assert(sunk(sink).map(_._1) == (0L until 20L))

    // two more commits, then resume: ONLY the new rows arrive
    SnapTable.append(spark, root, df(20 until 25, "v3"))
    SnapTable.append(spark, root, df(25 until 30, "v4"))
    drain(root, sink, ckpt)
    assert(sunk(sink).map(_._1) == (0L until 30L), "lost or duplicated rows")

    // no new commits: resuming adds nothing
    drain(root, sink, ckpt)
    assert(sunk(sink).map(_._1) == (0L until 30L))
  }

  test("startingVersion=2 streams changes only, no initial snapshot") {
    val root = Tmp.dir("snapstream_t2")
    SnapTable.create(spark, root, df(0 until 10, "v1"), "k")
    SnapTable.append(spark, root, df(10 until 15, "v2"))
    val name = s"snapstream_sv_${System.nanoTime()}"
    StreamRun.withStateParts(spark) {
      val q = spark.readStream
        .option("startingVersion", "2").table(byPath(root))
        .writeStream.format("memory").queryName(name)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(spark.table(name).as[(Long, String)].collect().toSeq.sorted
      == (10L until 15L).map((_, "v2")))
  }

  test("a rewriting commit fails the tail unless ignoreChanges is set") {
    val root = Tmp.dir("snapstream_t3")
    val sink = Tmp.dir("snapstream_t3_sink")
    val ckpt = Tmp.dir("snapstream_t3_ckpt")
    SnapTable.create(spark, root, df(0 until 10, "v1"), "k")
    drain(root, sink, ckpt)
    // delete rewrites the files containing k < 3
    SnapTable.deleteWhere(spark, root, col("k") < 3)
    val e = intercept[StreamingQueryException] {
      drain(root, sink, ckpt)
    }
    assert(e.getCause.getMessage.contains("rewritten, not appended"))
    // with ignoreChanges the rewritten file's SURVIVING rows re-emit
    drain(root, sink, ckpt, ignoreChanges = true)
    val rows = sunk(sink).map(_._1)
    assert(rows.toSet == (0L until 10L).toSet) // nothing lost
    assert(rows.size > 10, "rewritten files re-emit (at-least-once)")
  }

  test("a column-mapped table streams (physical-name reads, logical " +
      "aliases); a mapping change MID-stream fails with restart advice") {
    val root = Tmp.dir("snapstream_cm")
    val sink = Tmp.dir("snapstream_cm_sink")
    val ckpt = Tmp.dir("snapstream_cm_ckpt")
    SnapTable.create(spark, root, df(0 until 10, "v1"), "k")
    SnapTable.renameColumn(root, "v", "tag") // colmap now non-empty
    drain(root, sink, ckpt)
    // pre-rename files resolve through the mapping under the NEW name
    val first = spark.read.parquet(sink)
    assert(first.columns.toSeq == Seq("k", "tag"))
    assert(first.as[(Long, String)].collect().toSeq.sorted ==
      (0L until 10L).map((_, "v1")))
    // appends under the mapped schema keep streaming incrementally
    SnapTable.append(spark, root,
      (10 until 15).map(k => (k.toLong, "v2")).toDF("k", "tag"))
    drain(root, sink, ckpt)
    assert(sunk(sink).map(_._1) == (0L until 15L))
    // a mapping change WITHIN one source lifetime (rename lands between
    // offset discovery and the batch plan) fails with restart advice —
    // a restarted stream re-captures the new mapping and proceeds
    val src = microBatch(root)
    SnapTable.renameColumn(root, "tag", "label")
    val e = intercept[IllegalArgumentException] {
      src.planInputPartitions(SnapOffset(0),
        SnapOffset(SnapTable.latestVersion(root)))
    }
    assert(e.getMessage.contains("column mapping changed"))
  }

  test("maxVersionsPerTrigger caps each batch's commit window; the " +
      "next trigger resumes at the cap (nothing lost)") {
    val root = Tmp.dir("snapstream_throttle")
    SnapTable.create(spark, root, df(0 until 4, "v1"), "k")    // v1
    (1 to 4).foreach(i =>
      SnapTable.append(spark, root,
        df(i * 4 until (i + 1) * 4, s"v${i + 1}")))            // v2..v5
    val src = microBatch(root, startingVersion = Some(2),
      maxVersionsPerTrigger = Some(2))
    def end(from: SnapOffset): SnapOffset =
      src.latestOffset(from, src.getDefaultReadLimit)
        .asInstanceOf[SnapOffset]
    // rows a batch plans, counted through its partitions' file set
    def rows(from: SnapOffset, to: SnapOffset): Long = {
      val fs = src.planInputPartitions(from, to).flatMap(
        _.asInstanceOf[graft.sources.SnapInputPartition].slices.map(_.abs))
        .distinct
      if (fs.isEmpty) 0L else spark.read.parquet(fs.toIndexedSeq: _*).count()
    }
    // floor = base below startingVersion (v1); cap = 1 + 2 = 3
    val start = src.initialOffset().asInstanceOf[SnapOffset]
    assert(start == SnapOffset(1))
    val e1 = end(start)
    assert(e1 == SnapOffset(3), s"first window must cap at v3, got $e1")
    assert(rows(start, e1) == 8) // v2 + v3 files
    // the consumed end anchors the next window
    val e2 = end(e1)
    assert(e2 == SnapOffset(5))
    assert(rows(e1, e2) == 8) // v4 + v5 — nothing lost, nothing repeated
    assert(end(e2) == e2) // caught up: offset stable, no empty batches
  }

  test("admission across a log gap stays BOUNDED: an empty throttle " +
      "window advances to the first retained version, not the head") {
    val root = Tmp.dir("snapstream_gap")
    SnapTable.create(spark, root, df(0 until 4, "v1"), "k")      // v1
    (1 until 6).foreach(i =>
      SnapTable.append(spark, root,
        df(i * 4 until (i + 1) * 4, s"v${i + 1}")))              // v2..v6
    // orphan gap: aborted-tx slots vacuumed away — v2..v4 manifests
    // gone, log = [1, 5, 6]; the consumed floor (v1) is retained
    (2 to 4).foreach { v =>
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(root, "_log", f"v$v%08d.json"))
    }
    assert(SnapTable.versions(root) == Seq(1, 5, 6))
    // V2 native source: window (1, 1+1] holds no retained version; the
    // cap must fall to v5 (first retained above the floor), NOT v6
    // (which would silently admit the entire backlog in one batch)
    val mb = microBatch(root, maxVersionsPerTrigger = Some(1))
    val end1 = mb.latestOffset(SnapOffset(1), ReadLimit.allAvailable())
    assert(end1 == SnapOffset(5),
      s"bounded catch-up: expected v5, got $end1")
    // the NEXT window then admits v6 — progress continues
    val end2 = mb.latestOffset(SnapOffset(5), ReadLimit.allAvailable())
    assert(end2 == SnapOffset(6))
  }

  test("native streaming sink: toTable appends one ACID commit per " +
      "epoch, resumes from the checkpoint, and a replayed epoch is a " +
      "no-op (exactly-once)") {
    val base = Tmp.dir("snapsink_wh")
    spark.conf.set("spark.sql.catalog.snapsink",
      classOf[graft.sources.SnapCatalog].getName)
    spark.conf.set("spark.sql.catalog.snapsink.root", base)
    val src = Tmp.dir("snapsink_src")
    val ckpt = Tmp.dir("snapsink_ckpt")
    SnapTable.create(spark, src, df(0 until 10, "v1"), "k")
    spark.sql("CREATE TABLE snapsink.db.t (k BIGINT, v STRING)")
    val dst = s"$base/db/t"
    def drainTo(): Unit = StreamRun.withStateParts(spark) {
      val q = spark.readStream.table(byPath(src))
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .toTable("snapsink.db.t")
      q.awaitTermination()
    }
    drainTo()
    assert(spark.table("snapsink.db.t").as[(Long, String)]
      .collect().toSeq.sorted == (0L until 10L).map((_, "v1")))
    val vAfterFirst = SnapTable.latestVersion(dst)
    // incremental resume: only the new source commit's rows append
    SnapTable.append(spark, src, df(10 until 15, "v2"))
    drainTo()
    assert(spark.table("snapsink.db.t").count() == 15)
    // each non-empty epoch = exactly one commit, txn-stamped
    assert(SnapTable.latestVersion(dst) == vAfterFirst + 1)
    val head = SnapTable.load(dst, SnapTable.latestVersion(dst))
    assert(head.txn.exists(_.startsWith("snapsink:")), s"txn=${head.txn}")
    // REPLAYED epoch (crash after commit, before checkpoint ack): the
    // same txn resolves to the committed version, nothing re-links
    val replay = SnapTable.load(dst, SnapTable.latestVersion(dst))
    val v = SnapTable.streamingEpochCommit(spark, dst, Seq.empty,
      spark.table("snapsink.db.t").schema, replay.txn.get, replay.colmap)
    assert(v == SnapTable.latestVersion(dst),
      "replayed epoch must resolve to the recorded commit")
    assert(spark.table("snapsink.db.t").count() == 15, "double append")
    // drain with no new data: no spurious version
    val vBefore = SnapTable.latestVersion(dst)
    drainTo()
    assert(SnapTable.latestVersion(dst) == vBefore)
  }

  test("native sink into a BUCKETED table: fanout writer keeps the " +
      "one-bucket-per-file invariant, SPJ joins stay zero-shuffle") {
    val base = Tmp.dir("snapsink_bkt_wh")
    spark.conf.set("spark.sql.catalog.snapbkt",
      classOf[graft.sources.SnapCatalog].getName)
    spark.conf.set("spark.sql.catalog.snapbkt.root", base)
    val src = Tmp.dir("snapsink_bkt_src")
    val ckpt = Tmp.dir("snapsink_bkt_ckpt")
    SnapTable.create(spark, src,
      (0 until 200).map(k => (k.toLong, s"v$k")).toDF("k", "v"), "k")
    // the streamed-INTO table is hash-bucketed on k
    val dst = s"$base/db/bt"
    SnapTable.createBucketed(spark, dst,
      spark.range(0).selectExpr("id AS k", "CAST(NULL AS STRING) AS v"),
      "k", "k", 4)
    StreamRun.withStateParts(spark) {
      val q = spark.readStream.table(byPath(src))
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .toTable("snapbkt.db.bt")
      q.awaitTermination()
    }
    // every streamed file carries exactly one bucket id in its stats
    val head = SnapTable.load(dst, SnapTable.latestVersion(dst))
    val streamed = head.files.filter(_.path.contains("/s"))
    assert(streamed.nonEmpty)
    streamed.foreach { f =>
      val st = f.stats.get(SnapTable.BucketStatsCol)
      assert(st.isDefined && st.get._1 == st.get._2,
        s"${f.path} lacks a single-bucket stat: $st")
    }
    assert(spark.table("snapbkt.db.bt").count() == 200)
    // rows landed in the RIGHT buckets: a co-bucketed SPJ join against
    // a batch-written twin plans with zero exchanges and agrees
    val twin = s"$base/db/tw"
    SnapTable.createBucketed(spark, twin,
      (0 until 200).map(k => (k.toLong, k * 2L)).toDF("k", "w"),
      "k", "k", 4)
    val keys = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.take(2).foreach(spark.conf.set(_, "true"))
    spark.conf.set(keys(2), "-1")
    spark.conf.set(keys(3), "false")
    try {
      val j = spark.sql("SELECT b.k, b.v, t.w FROM snapbkt.db.bt b " +
        "JOIN snapbkt.db.tw t ON b.k = t.k")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning") &&
        !plan.contains("BroadcastExchange"),
        s"streamed bucket layout must SPJ shuffle-free:\n$plan")
      assert(j.count() == 200, "mis-routed bucket rows")
    } finally saved.foreach {
      case (k, Some(x)) => spark.conf.set(k, x)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("native readStream.table (DSv2): AvailableNow + " +
      "maxVersionsPerTrigger drains the WHOLE backlog in multiple " +
      "rate-limited batches in one run, then resumes incrementally") {
    val base = Tmp.dir("snapv2src_wh")
    spark.conf.set("spark.sql.catalog.snapv2",
      classOf[graft.sources.SnapCatalog].getName)
    spark.conf.set("spark.sql.catalog.snapv2.root", base)
    val dst = s"$base/db/s"
    val sink = Tmp.dir("snapv2src_sink")
    val ckpt = Tmp.dir("snapv2src_ckpt")
    // a 5-commit backlog before the stream ever starts
    SnapTable.create(spark, dst, df(0 until 4, "v1"), "k")
    (1 until 5).foreach(i =>
      SnapTable.append(spark, dst, df(i * 4 until (i + 1) * 4, s"v${i + 1}")))
    def drainTable(): Unit = StreamRun.withStateParts(spark) {
      val q = spark.readStream
        .option("maxVersionsPerTrigger", "1")
        .table("snapv2.db.s")
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drainTable()
    // the MicroBatchStream drains the entire captured backlog
    assert(sunk(sink).map(_._1) == (0L until 20L),
      "one AvailableNow run must drain the whole backlog")
    // ...and in RATE-LIMITED batches: one committed offset per consumed
    // version window (first batch = snapshot at v1, then v2..v5)
    val batches = {
      val st = java.nio.file.Files.list(
        java.nio.file.Paths.get(ckpt, "offsets"))
      try st.count() finally st.close()
    }
    assert(batches >= 4, s"expected >=4 rate-limited batches, got $batches")
    // incremental resume: a later commit arrives alone
    SnapTable.append(spark, dst, df(20 until 23, "v6"))
    drainTable()
    assert(sunk(sink).map(_._1) == (0L until 23L), "lost or duplicated")
    // no new commits: no spurious batches
    drainTable()
    assert(sunk(sink).map(_._1) == (0L until 23L))
  }

  test("native readStream.table: maxRowsPerTrigger admits whole " +
      "versions up to the row budget; an oversized commit still admits") {
    val base = Tmp.dir("snapv2rows_wh")
    spark.conf.set("spark.sql.catalog.snapv2r",
      classOf[graft.sources.SnapCatalog].getName)
    spark.conf.set("spark.sql.catalog.snapv2r.root", base)
    val dst = s"$base/db/r"
    val sink = Tmp.dir("snapv2rows_sink")
    val ckpt = Tmp.dir("snapv2rows_ckpt")
    // 5-commit backlog, 4 rows per commit (manifest row counts drive
    // admission — no data read)
    SnapTable.create(spark, dst, df(0 until 4, "v1"), "k")
    (1 until 5).foreach(i =>
      SnapTable.append(spark, dst, df(i * 4 until (i + 1) * 4, s"v${i + 1}")))
    def drainRows(): Unit = StreamRun.withStateParts(spark) {
      val q = spark.readStream
        .option("maxRowsPerTrigger", "8")
        .table("snapv2r.db.r")
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drainRows()
    assert(sunk(sink).map(_._1) == (0L until 20L),
      "row-capped drain must still deliver the whole backlog")
    // 20 rows at <=8 rows (2 versions) per batch: at least 3 batches
    val batches = {
      val st = java.nio.file.Files.list(
        java.nio.file.Paths.get(ckpt, "offsets"))
      try st.count() finally st.close()
    }
    assert(batches >= 3, s"expected >=3 row-capped batches, got $batches")
    // a single commit BIGGER than the cap admits alone (no stall)
    SnapTable.append(spark, dst, df(20 until 40, "big"))
    drainRows()
    assert(sunk(sink).map(_._1) == (0L until 40L),
      "an oversized commit must admit as its own batch")
  }

  test("native readStream.table: column pruning reaches the batch " +
      "readers, and a rewriting commit fails the tail like the V1 twin") {
    val base = Tmp.dir("snapv2prj_wh")
    spark.conf.set("spark.sql.catalog.snapv2b",
      classOf[graft.sources.SnapCatalog].getName)
    spark.conf.set("spark.sql.catalog.snapv2b.root", base)
    val dst = s"$base/db/p"
    SnapTable.create(spark, dst, df(0 until 10, "v1"), "k")
    val name = s"snapv2_prj_${System.nanoTime()}"
    StreamRun.withStateParts(spark) {
      val q = spark.readStream.table("snapv2b.db.p")
        .select($"k") // projection must prune the scan, not just rows
        .writeStream.format("memory").queryName(name)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(spark.table(name).as[Long].collect().toSeq.sorted
      == (0L until 10L))
    // rewrite guard: a delete between runs fails the next batch
    SnapTable.deleteWhere(spark, dst, col("k") < 3)
    val ckpt2 = Tmp.dir("snapv2prj_ckpt2")
    val sink2 = Tmp.dir("snapv2prj_sink2")
    StreamRun.withStateParts(spark) { // fresh checkpoint: snapshot ok
      val q = spark.readStream.table("snapv2b.db.p")
        .writeStream.format("parquet").option("path", sink2)
        .option("checkpointLocation", ckpt2)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    SnapTable.deleteWhere(spark, dst, col("k") >= 8)
    val e = intercept[StreamingQueryException] {
      StreamRun.withStateParts(spark) {
        val q = spark.readStream.table("snapv2b.db.p")
          .writeStream.format("parquet").option("path", sink2)
          .option("checkpointLocation", ckpt2)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
    }
    assert(e.getCause.getMessage.contains("rewritten, not appended"))
  }

  test("startingTimestamp resolves to the earliest version committed " +
      "at-or-after it") {
    val root = Tmp.dir("snapstream_ts")
    SnapTable.create(spark, root, df(0 until 5, "v1"), "k")
    Thread.sleep(10) // distinct commit timestamps
    SnapTable.append(spark, root, df(5 until 9, "v2"))
    val cut = SnapTable.load(root, 2).ts
    val name = s"snapstream_ts_${System.nanoTime()}"
    StreamRun.withStateParts(spark) {
      val q = spark.readStream
        .option("startingTimestamp", cut.toString).table(byPath(root))
        .writeStream.format("memory").queryName(name)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(spark.table(name).as[(Long, String)].collect().toSeq.sorted
      == (5L until 9L).map((_, "v2")),
      "only the at-or-after-cutoff commit must stream")
  }

  test("Complete-mode native sink: each epoch REPLACES the table in one " +
      "commit, history stays time-travelable, replayed epochs are no-ops") {
    val base = Tmp.dir("snapsink_cmpl_wh")
    spark.conf.set("spark.sql.catalog.snapcmpl",
      classOf[graft.sources.SnapCatalog].getName)
    spark.conf.set("spark.sql.catalog.snapcmpl.root", base)
    val src = Tmp.dir("snapsink_cmpl_src")
    val ckpt = Tmp.dir("snapsink_cmpl_ckpt")
    SnapTable.create(spark, src, df(0 until 10, "a"), "k")
    spark.sql("CREATE TABLE snapcmpl.db.t (v STRING, n BIGINT)")
    val dst = s"$base/db/t"
    def refresh(): Unit = StreamRun.withStateParts(spark) {
      val q = spark.readStream.table(byPath(src))
        .groupBy($"v").agg(count(lit(1)).as("n"))
        .writeStream.option("checkpointLocation", ckpt)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .toTable("snapcmpl.db.t")
      q.awaitTermination()
    }
    refresh()
    assert(spark.table("snapcmpl.db.t").as[(String, Long)]
      .collect().toSeq.sorted == Seq(("a", 10L)))
    val v1 = SnapTable.latestVersion(dst)
    // second epoch replaces, not appends: the old group's count UPDATES
    SnapTable.append(spark, src, df(10 until 15, "a"))
    SnapTable.append(spark, src, df(15 until 18, "b"))
    refresh()
    assert(spark.table("snapcmpl.db.t").as[(String, Long)]
      .collect().toSeq.sorted == Seq(("a", 15L), ("b", 3L)),
      "epoch must replace the previous result wholesale")
    val head = SnapTable.load(dst, SnapTable.latestVersion(dst))
    assert(head.op == "stream-overwrite")
    assert(head.txn.exists(_.startsWith("snapsink:")))
    // the first materialization remains readable AS OF its version
    assert(SnapTable.readVersion(spark, dst, v1).as[(String, Long)]
      .collect().toSeq == Seq(("a", 10L)))
    // replayed epoch (crash between commit and checkpoint ack): the
    // txn resolves to the recorded version — nothing is replaced twice
    val v = SnapTable.streamingEpochReplace(spark, dst, Seq.empty,
      spark.table("snapcmpl.db.t").schema, head.txn.get, head.colmap)
    assert(v == head.version, "replay must resolve to the recorded commit")
    assert(spark.table("snapcmpl.db.t").count() == 2)
    // no new source data: no epoch, no spurious version
    val vBefore = SnapTable.latestVersion(dst)
    refresh()
    assert(SnapTable.latestVersion(dst) == vBefore)
  }

  test("the .changes feed maintains a view through deletes: signed " +
      "deltas net to the live table") {
    val root = Tmp.dir("snapstream_cdc")
    val sink = Tmp.dir("snapstream_cdc_sink")
    val ckpt = Tmp.dir("snapstream_cdc_ckpt")
    def drainCdc(): Unit = StreamRun.withStateParts(spark) {
      val q = spark.readStream.table(s"${byPath(root)}.changes")
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    SnapTable.create(spark, root, df(0 until 10, "v1"), "k")
    drainCdc() // initial load: all +1
    SnapTable.append(spark, root, df(10 until 20, "v2"))
    drainCdc() // incremental +1s
    SnapTable.deleteWhere(spark, root, col("k") < 5)
    drainCdc() // removed file -1s, rewritten survivors +1
    val feed = spark.read.parquet(sink).select("k", "v", "_sign")
      .as[(Long, String, Int)].collect()
    assert(feed.exists(_._3 == -1), "delete emitted no negative deltas")
    // the NET of the signed feed is exactly the live table
    val net = feed.groupBy(r => (r._1, r._2))
      .view.mapValues(_.map(_._3).sum).filter(_._2 != 0).keys
      .map(_._1).toSeq.sorted
    assert(net == (5L until 20L))
  }
}
