package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Multi-table TRANSACTIONS over SnapTable — the manifest-of-manifests
  * layer (SURVEY §11.2 item 4). The same idea Iceberg reaches with a
  * catalog-level commit: per-table snapshots stay exactly what they are,
  * and one higher-level, atomically-swapped record PINS a consistent set
  * of table versions.
  *
  * Layout:
  * {{{
  *   txroot/<table>/...                // ordinary SnapTables
  *   txroot/_txlog/t00000001.json     // {"version":1,"note":"init",
  *                                     //  "pins":{"ord":1,"li":1}}
  * }}}
  *
  * Contract:
  *
  *  - **Atomic cross-table visibility.** A transaction PREPARES a new
  *    per-table snapshot for every table it writes (data files + manifest,
  *    built from the table version the tx head pins), then PUBLISHES one tx
  *    record pinning all the new versions at once with the same
  *    create-exclusive link primitive SnapTable commits use. Readers
  *    resolve the tx head and time-travel every table to its pinned
  *    version — they can never observe table A's new version with table
  *    B's old one.
  *  - **Crash atomicity.** A crash between prepare and publish leaves
  *    per-table manifests referenced by NO tx record. They are invisible
  *    (reads go through pins only) and harmless — the orphaned snapshot is
  *    garbage, not corruption; `vacuumOrphans` reclaims it.
  *  - **Optimistic conflict detection.** Publishing retries on a lost tx
  *    slot after re-reading the head, and aborts with
  *    `ConcurrentCommitException` iff the new head moved a pin of a table
  *    THIS tx wrote — first-committer-wins per table, exactly Delta's
  *    conflict rule lifted one level. Transactions touching disjoint
  *    tables both land.
  *  - **Tx-level time travel.** `readAt(tx)` reads any table as of any past
  *    transaction — the pinned sets are immutable history.
  *
  * In tx mode the tx log is the AUTHORITY and per-table logs are storage:
  * per-table version numbers may skip (an aborted tx's orphans occupy
  * slots), which is fine because lineage is defined by the pinned chain,
  * not by slot adjacency — the same way an Iceberg table's metadata files
  * are only authoritative through the catalog pointer.
  */
object SnapTxn {

  /** One committed transaction: the pinned version of EVERY table. */
  final case class TxRecord(version: Int, note: String,
      pins: Map[String, Int])

  // ------------------------------------------------------------- lifecycle

  /** Start transactional management over existing SnapTables under
    * `txroot`: tx v1 pins each table's current head.
    */
  def init(txroot: String, tables: Seq[String]): Int = {
    Files.createDirectories(Paths.get(txroot, "_txlog"))
    val pins = tables.map(t =>
      t -> SnapTable.latestVersion(s"$txroot/$t")).toMap
    if (!tryLink(txroot, TxRecord(1, "init", pins)))
      throw new SnapTable.ConcurrentCommitException(
        s"tx log at $txroot already initialized")
    1
  }

  /** Atomically append `writes` (table → frame) across tables: all of the
    * appends become visible in the SAME transaction or none do. Returns
    * the new tx version.
    */
  def commit(s: SparkSession, txroot: String,
      writes: Seq[(String, DataFrame)], note: String = "txn"): Int = {
    require(writes.nonEmpty, "empty transaction")
    require(writes.map(_._1).distinct.size == writes.size,
      "one write per table per transaction")
    val base = head(txroot)
    writes.foreach { case (t, _) =>
      require(base.pins.contains(t), s"table '$t' is not tx-managed") }
    // PREPARE: per-table snapshots built from the PINNED parents (never
    // from the per-table head — that may be another tx's orphan).
    // Tables are independent (disjoint roots, stateless write path), so
    // the prepares run CONCURRENTLY as Par forks — the write jobs
    // overlap instead of serializing their per-job latency (an 8-table
    // live-funnel commit is 8 tiny writes whose wall was pure
    // job-scheduling serialization). A failed prepare ABORTS the commit
    // before publish: the Par scope cancels the sibling prepares' Spark
    // jobs and waits them out before the original exception propagates,
    // so an aborted commit implies no prepare, and no job of one, is
    // still running (vacuumOrphans/rewritePinned require exactly that).
    // Finished siblings' snapshots are unpinned orphans.
    val prepared = graft.Par.scope(s) { sc =>
      writes.map { case (t, df) =>
        t -> sc.fork(
          SnapTable.prepareAppend(s, s"$txroot/$t", df, base.pins(t)))
      }.map { case (t, f) => t -> f.join() }.toMap
    }
    publish(txroot, base, prepared, note)
  }

  /** Bring an EXISTING SnapTable under transactional management after
    * init — the tx log gains a pin at the table's current head in its
    * own tx record, so every earlier tx version is honest about not
    * covering it (readAt before the registration refuses the table).
    * A lost slot rebases onto the winner's pins and retries; two racing
    * registrations of the same table resolve to one winner (the loser
    * sees the pin appear and aborts).
    */
  def register(txroot: String, table: String): Int = {
    var h = head(txroot)
    while (true) {
      require(!h.pins.contains(table),
        s"table '$table' is already tx-managed")
      val v = SnapTable.latestVersion(s"$txroot/$table")
      if (tryLink(txroot, TxRecord(h.version + 1, s"register:$table",
          h.pins + (table -> v))))
        return h.version + 1
      h = head(txroot)
    }
    -1 // unreachable
  }

  /** PUBLISH: link the tx record pinning `prepared` on top of `base`.
    * Lost slot → re-read the head; abort iff it moved a pin this tx
    * wrote, else retry carrying the winner's pins for other tables.
    * Package-private so the conflict branches are deterministically
    * unit-testable (pass a deliberately stale `base`).
    */
  private[graft] def publish(txroot: String, base: TxRecord,
      prepared: Map[String, Int], note: String): Int = {
    var h = base
    while (true) {
      if (tryLink(txroot, TxRecord(h.version + 1, note, h.pins ++ prepared)))
        return h.version + 1
      val nh = head(txroot)
      prepared.keys.foreach { t =>
        if (nh.pins.get(t) != base.pins.get(t))
          throw new SnapTable.ConcurrentCommitException(
            s"txn '$note' prepared table '$t' against pin " +
              s"${base.pins(t)} but a concurrent txn moved it to " +
              s"${nh.pins(t)} — first committer wins; re-run the txn")
      }
      h = nh
    }
    -1 // unreachable
  }

  // ----------------------------------------------------------------- reads

  /** The table as of the CURRENT transaction head. */
  def read(s: SparkSession, txroot: String, table: String): DataFrame =
    readAt(s, txroot, table, latestTx(txroot))

  /** The table as of transaction `txVersion` — cross-table-consistent
    * time travel.
    */
  def readAt(s: SparkSession, txroot: String, table: String,
      txVersion: Int): DataFrame = {
    val rec = load(txroot, txVersion)
    require(rec.pins.contains(table),
      s"table '$table' is not pinned by tx v$txVersion")
    SnapTable.readVersion(s, s"$txroot/$table", rec.pins(table))
  }

  def head(txroot: String): TxRecord = load(txroot, latestTx(txroot))

  // ------------------------------------------- stream-ingest ledger

  /** The txn-note format the streaming-ACID ingest family uses as its
    * exactly-once ledger (Wave62/Wave63): one absorb note per
    * micro-batch id. */
  def batchNote(batchId: Long): String = s"absorb:b$batchId"

  /** True iff `batchId`'s absorb already published — the foreachBatch
    * replay guard. The streaming checkpoint guarantees the only batch
    * that can be re-delivered is the most recent possibly-uncommitted
    * one (batches are serialized: batch N+1 never starts before N's
    * checkpoint commit lands), so the LAST absorb note in the log is
    * the latest absorbed batch: an arriving id equal to it is the
    * replay (skip), a LARGER id is new work (absorb). Maintenance
    * records (compact / erase / register) may land ON TOP of it while
    * the pipeline is down — the walk skips them, so a maintenance
    * commit can never make a published absorb look unpublished (which
    * would double-absorb the replayed batch). Cost: O(maintenance
    * records since the last absorb) — effectively O(1); a full-log
    * membership scan would be quadratic over a stream's lifetime.
    *
    * A SMALLER id than the last absorbed one is refused loudly: under
    * one serialized stream it is impossible, so it can only mean the
    * txroot was reattached to a FRESH checkpoint (batch ids restart at
    * 0). Treating the restarted b0 as new work would re-absorb every
    * already-absorbed batch as duplicate index rows; treating it as
    * absorbed would silently drop whatever new files the fresh
    * checkpoint drains first. Neither is recoverable here — the
    * operator must keep the original checkpoint with its txroot (or
    * start a new txroot), so the ledger refuses the mismatched stream
    * identity instead of guessing. */
  def batchAbsorbed(txroot: String, batchId: Long): Boolean =
    txVersions(txroot).sorted.reverseIterator
      .map(v => load(txroot, v).note)
      .collectFirst { case n if n.startsWith("absorb:b") =>
        n.stripPrefix("absorb:b").toLong } match {
      case None => false
      case Some(last) if batchId == last => true
      case Some(last) if batchId > last => false
      case Some(last) => throw new IllegalStateException(
        s"absorb ledger at $txroot last published batch $last but " +
          s"batch $batchId arrived — a smaller id means the stream was " +
          "reattached to a fresh checkpoint (batch ids restart at 0); " +
          "absorbing it would duplicate every replayed batch's rows. " +
          "Keep the original checkpoint with this txroot, or start a " +
          "new txroot for the new stream identity.")
    }

  // ------------------------------------------------------- maintenance

  /** OPTIMIZE a tx-managed table: compact the PINNED snapshot into
    * `targetFiles` and pin the rewritten (content-identical) version
    * with one maintenance tx record — small-file repair for the
    * streaming-ingest indexes without ever breaking snapshot isolation
    * (readers switch atomically at the pin; the pre-compaction pin
    * chain stays time-travelable; an unpinned compact — a crash after
    * the rewrite but before the pin — is an invisible orphan, exactly
    * like a torn absorb).
    *
    * `SnapTable.compact` rewrites from the PER-TABLE head, which under
    * tx management may be another transaction's orphan — refused here:
    * run `vacuumOrphans` first so head == pin. A commit racing between
    * the rewrite and the pin moves the table's pin and aborts the
    * publish (first-committer-wins), never pins stale content. */
  def compactPinned(s: SparkSession, txroot: String, table: String,
      targetFiles: Int): Int =
    rewritePinned(s, txroot, Seq(table), s"maintain:compact:$table") {
      (_, root) => SnapTable.compact(s, root, targetFiles)
    }

  /** The general MAINTENANCE/GOVERNANCE commit shape: run a rewrite
    * verb (compact, deleteWhere, …) against each named table's PINNED
    * head and pin ALL the new versions with one tx record — the
    * multi-table form of [[compactPinned]] (and the GDPR shape: erase
    * a subject from corpus + every index table atomically — readers
    * can never observe the subject gone from one table and present in
    * another). `rewrite(table, root)` must commit one new per-table
    * version built from the current head and return it. Crash between
    * rewrites → the already-rewritten tables' versions are unpinned
    * orphans (invisible, vacuumable), exactly like a torn absorb.
    * Refuses orphaned per-table heads — the rewrite verbs build from
    * the per-table head, which must BE the pin (vacuumOrphans first);
    * the check re-runs immediately before EACH rewrite, so a
    * transaction that prepared a per-table version mid-maintenance
    * (then crashed or lost the publish race) aborts this rewrite
    * instead of getting its never-committed rows folded into the
    * version we would pin. A commit that instead PUBLISHES while the
    * rewrites run moves a pin and aborts our publish
    * (first-committer-wins) — stale content is never pinned from that
    * side either.
    *
    * SINGLE-WRITER MAINTENANCE (same discipline as [[vacuumOrphans]]):
    * the re-check narrows the check-then-act window to one rewrite but
    * cannot close it — a prepare landing BETWEEN a table's re-check
    * and its rewrite verb reading the head is folded in undetected
    * (the rewrite verbs build from the per-table head; only
    * prepareAppend takes an explicit parent). Run maintenance with no
    * concurrent PREPARE in flight on the named tables; concurrent
    * PUBLISHED commits are safe (they abort this maintenance, which
    * simply re-runs). */
  def rewritePinned(s: SparkSession, txroot: String,
      tables: Seq[String], note: String)
      (rewrite: (String, String) => Int): Int = {
    require(tables.nonEmpty, "empty rewrite")
    require(tables.distinct.size == tables.size,
      "one rewrite per table per maintenance commit")
    val base = head(txroot)
    tables.foreach { t =>
      require(base.pins.contains(t), s"table '$t' is not tx-managed")
    }
    val prepared = tables.map { t =>
      // immediately-before-this-rewrite, not only up front: the window
      // between check and rewrite must not span other tables' rewrites
      require(SnapTable.latestVersion(s"$txroot/$t") == base.pins(t),
        s"'$t' per-table head is not the pinned version (an orphan or " +
          "a concurrent prepare is present) — run vacuumOrphans / " +
          "re-run the maintenance with no writer in flight")
      t -> rewrite(t, s"$txroot/$t")
    }.toMap
    publish(txroot, base, prepared, note)
  }

  def latestTx(txroot: String): Int = txVersions(txroot).max

  def txVersions(txroot: String): Seq[Int] = {
    val st = Files.list(Paths.get(txroot, "_txlog"))
    try st.iterator().asScala.map(_.getFileName.toString)
      .collect { case TxName(v) => v.toInt }.toSeq.sorted
    finally st.close()
  }

  /** Audit surface: one row per (transaction, table) pin. */
  def history(s: SparkSession, txroot: String): DataFrame = {
    val rows = txVersions(txroot).flatMap { v =>
      val rec = load(txroot, v)
      rec.pins.toSeq.sortBy(_._1).map { case (t, pv) =>
        org.apache.spark.sql.Row(v.toLong, rec.note, t, pv.toLong) }
    }
    s.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("tx_version",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("note",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("table",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("pinned_version",
          org.apache.spark.sql.types.LongType))))
  }

  /** Drop per-table snapshots created UNDER tx management but referenced
    * by NO retained tx record (aborted or crashed transactions' orphans),
    * then vacuum each table's unreferenced data dirs. Pre-init history
    * (versions at or below the init pins) is legitimate SnapTable
    * lineage, not orphan garbage, and is kept.
    *
    * MAINTENANCE op: run it with no transaction in flight — a concurrent
    * prepare that has not yet published is indistinguishable from a
    * crashed one (the same reason Delta's VACUUM documents a retention
    * horizon no running writer may straddle). Returns manifests removed.
    */
  def vacuumOrphans(txroot: String): Int = {
    val txs = txVersions(txroot)
    var removed = 0
    val initPins = load(txroot, txs.min).pins
    head(txroot).pins.keys.foreach { t =>
      val root = s"$txroot/$t"
      val pinned = txs.map(v => load(txroot, v).pins.getOrElse(t, -1)).toSet
      val floor = initPins.getOrElse(t, Int.MaxValue)
      SnapTable.versions(root)
        .filter(v => v > floor && !pinned.contains(v))
        .foreach { v =>
          Files.delete(Paths.get(root, "_log", f"v$v%08d.json"))
          removed += 1
        }
      SnapTable.vacuum(root, retainVersions =
        SnapTable.versions(root).size)
    }
    removed
  }

  /** Drop transaction history STRICTLY BEFORE `keepFromTx` — the legal
    * erasure point (SnapTable's documented GDPR split: the ACID erasure
    * point is the pin move, the LEGAL one is this vacuum). Every
    * per-table version NOT pinned by a retained tx record loses its
    * manifest and its now-unreferenced data files — deliberately
    * broader than [[vacuumOrphans]]: pre-init/pre-register lineage
    * (which vacuumOrphans preserves as legitimate history) is swept
    * too, because under an ERASURE the subject's bytes may live
    * anywhere below the keep point. Then the tx records below
    * `keepFromTx` are deleted — after which `readAt` of any
    * pre-`keepFromTx` transaction fails (the chain is gone, not just
    * hidden) and the erased subject's bytes are physically reclaimed.
    * Retained transactions are untouched: versions they pin (including
    * ones ALSO pinned by dropped records — CoW carries files forward)
    * keep their manifests and files, so the current head reads
    * byte-identically before and after.
    *
    * CRASH IDEMPOTENCE: the physical sweep runs FIRST and the
    * tx-record drop LAST. A crash anywhere in the sweep leaves the
    * dropped records in place, so a re-run recomputes the same
    * retained set and completes the reclaim (the reverse order would
    * make the re-run return 0 immediately — dropped already empty —
    * and strand the unswept tables' manifests and data at/below
    * vacuumOrphans' init floor: a silent erasure failure). All
    * deletes are deleteIfExists for the same reason.
    *
    * A SnapTable TAG pinning a to-be-swept version is refused loudly
    * (keeping it would retain the erased subject's bytes; deleting
    * under it would dangle the tag and abort the data vacuum) — the
    * operator must [[SnapTable.dropTag]] first, an explicit act.
    *
    * MAINTENANCE op, single-writer like [[vacuumOrphans]] (which it
    * also subsumes for the dropped range). Returns tx records removed.
    */
  def vacuumHistory(txroot: String, keepFromTx: Int): Int = {
    val txs = txVersions(txroot)
    require(txs.contains(keepFromTx),
      s"tx v$keepFromTx does not exist at $txroot (have ${txs.mkString(",")})")
    val dropped = txs.filter(_ < keepFromTx)
    if (dropped.isEmpty) return 0
    val retained = txs.filter(_ >= keepFromTx)
    // per-table versions the RETAINED chain still pins — everything
    // else under tx management is garbage after the drop
    val keepPins: Map[String, Set[Int]] = retained
      .flatMap(v => load(txroot, v).pins.toSeq)
      .groupBy(_._1).map { case (t, vs) => t -> vs.map(_._2).toSet }
    val tables = head(txroot).pins.keys.toSeq.sorted
    // refuse EVERY offending tag across ALL tables up front, before
    // the first byte is reclaimed — a mid-sweep refusal would leave a
    // half-erased root for the operator to reason about
    tables.foreach { t =>
      val root = s"$txroot/$t"
      val pinned = SnapTable.versions(root)
        .filter(keepPins.getOrElse(t, Set.empty).contains)
      val keep = (pinned ++
        pinned.map(v => SnapTable.load(root, v).filesFrom)
          .filter(_ > 0)).toSet
      val offending = SnapTable.tags(root).filterNot(tv => keep(tv._2))
      require(offending.isEmpty,
        s"vacuumHistory: tag(s) ${offending.map(_._1).mkString(", ")} " +
          s"pin pre-v$keepFromTx versions of '$t' — drop them first " +
          "(a tag on an erased version would retain the subject's " +
          "bytes)")
    }
    tables.foreach { t =>
      val root = s"$txroot/$t"
      // a retained filesRef manifest (a no-op rewrite commits by
      // reference) needs its depth-1 referent manifest to stay
      // loadable — same closure rule as SnapTable.vacuumScope. The
      // referent's CONTENT is identical to the retained version, so
      // keeping it never retains erased bytes.
      val pinned = SnapTable.versions(root)
        .filter(keepPins.getOrElse(t, Set.empty).contains)
      val keep = (pinned ++
        pinned.map(v => SnapTable.load(root, v).filesFrom)
          .filter(_ > 0)).toSet
      SnapTable.versions(root).filterNot(keep.contains)
        .foreach(v =>
          Files.deleteIfExists(Paths.get(root, "_log", f"v$v%08d.json")))
      // retain every surviving manifest; reclaim data files referenced
      // by none of them (the erased subject's bytes go here)
      SnapTable.vacuum(root,
        retainVersions = SnapTable.versions(root).size)
    }
    // LAST: the record drop — the re-run trigger stays armed until the
    // physical reclaim has fully completed
    dropped.foreach(v => Files.deleteIfExists(txPath(txroot, v)))
    dropped.size
  }

  // ------------------------------------------------------------- internals

  private val TxName = """t(\d{8})\.json""".r

  private def txPath(txroot: String, v: Int): Path =
    Paths.get(txroot, "_txlog", f"t$v%08d.json")

  // the shared create-exclusive link primitive: the slot claim fails
  // with EEXIST instead of silently replacing
  private def tryLink(txroot: String, rec: TxRecord): Boolean =
    SnapTable.linkExclusive(Paths.get(txroot, "_txlog"),
      txPath(txroot, rec.version), render(rec))

  private[graft] def load(txroot: String, v: Int): TxRecord = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(txPath(txroot, v)))
    TxRecord(v, node.get("note").asText(),
      node.get("pins").properties().asScala
        .map(e => e.getKey -> e.getValue.asInt()).toMap)
  }

  // table names are caller-chosen identifiers; keep them JSON-trivial.
  // The free-text note is ESCAPED — an unescaped quote would link a
  // syntactically-broken record and permanently wedge the log.
  private def render(rec: TxRecord): String = {
    rec.pins.keys.foreach(t => require(t.matches("[A-Za-z0-9_]+"),
      s"tx-managed table name '$t' must be [A-Za-z0-9_]+"))
    val pins = rec.pins.toSeq.sortBy(_._1)
      .map { case (t, v) => s""""$t":$v""" }.mkString("{", ",", "}")
    val note = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(rec.note) // includes the surrounding quotes
    s"""{"version":${rec.version},"note":$note,"pins":$pins}"""
  }
}
