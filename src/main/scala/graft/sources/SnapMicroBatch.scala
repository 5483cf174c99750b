package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Version offset of the native streaming read: "consumed through table
  * version v" (0 = nothing consumed yet). The JSON form in the
  * checkpoint is just the number, so offsets stay human-auditable
  * against DESCRIBE HISTORY.
  */
private[graft] final case class SnapOffset(v: Int) extends Offset {
  override def json(): String = v.toString
}

/** THE streaming read of a [[SnapTable]] —
  * `spark.readStream.table("snap.db.t")`, no format string. A table
  * outside the warehouse streams by its absolute path as the identifier
  * (``readStream.table("snap.`/abs/path`")``; the catalog resolves an
  * absolute name to that directory), so path-only tables need no
  * second source:
  *
  * {{{
  *   spark.readStream
  *     .option("maxVersionsPerTrigger", 2)     // admission by commits
  *     .option("maxRowsPerTrigger", 100000)    // …or by manifest rows
  *     .table("snap.db.t")
  *     .writeStream...trigger(Trigger.AvailableNow())...
  * }}}
  *
  * Offsets are table versions: the first batch is the full snapshot,
  * later batches are manifest-diff increments ([[SnapTail]], shared with
  * the change feed), with the rewrite guard, `startingVersion` /
  * `startingTimestamp` and `ignoreChanges`. Planned as a real
  * `MicroBatchStream`, which buys:
  *
  *  - **`SupportsTriggerAvailableNow`**: the run captures the log head
  *    at start and drains up to it in MULTIPLE rate-limited batches —
  *    with `maxVersionsPerTrigger=m` a weekend backlog of n commits
  *    becomes ⌈n/m⌉ bounded batches in ONE `Trigger.AvailableNow()`
  *    run.
  *  - **`SupportsAdmissionControl`**: rate limiting is a first-class
  *    planner contract instead of a `getOffset` side effect, and
  *    commits that land DURING the run are excluded by the captured
  *    end — the drain provably terminates.
  *  - **Scan pushdown**: the builder's column pruning and static
  *    predicates reach every batch — manifest [min,max] file pruning
  *    applies PER MICRO-BATCH (`pruneFiles`), so a filtered stream
  *    over a day-clustered table skips non-matching ingest files from
  *    the driver, and the parquet readers decode only required
  *    columns.
  *
  * Batches read through the same machinery as batch scans
  * ([[SnapBatchScan]]'s split/bin-pack partitioning and vectorized
  * parquet readers, column mapping and initial-default fill included),
  * so streaming inherits every reader-side invariant from one code
  * path. The signed change feed streams from the `<table>.changes`
  * companion ([[SnapChangesStream]]).
  *
  * Restart contract: schema, column mapping and defaults are captured
  * when the stream is created; a mapping or defaults change while the
  * stream runs fails the batch (restart from a fresh checkpoint), like
  * Delta.
  */
private[graft] class SnapMicroBatchStream(
    spark: SparkSession, root: String,
    required: StructType, pushed: Seq[Filter],
    pruneFiles: Seq[SnapTable.FileEntry] => Seq[SnapTable.FileEntry],
    ignoreChanges: Boolean, startingVersion: Option[Int],
    maxVersionsPerTrigger: Option[Int],
    maxRowsPerTrigger: Option[Long] = None)
  extends MicroBatchStream with SupportsAdmissionControl
  with SupportsTriggerAvailableNow {

  private val snapAtStart =
    SnapTable.load(root, SnapTable.latestVersion(root))

  /** `Trigger.AvailableNow`: the end of THIS run, captured once —
    * batches drain up to it and no further, so commits landing during
    * the drain can't keep it alive forever.
    */
  @volatile private var preparedEnd: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    preparedEnd = Some(SnapTable.latestVersion(root))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def initialOffset(): Offset =
    SnapOffset(startingVersion
      .flatMap(sv => SnapTail.baseBelow(root, sv)).getOrElse(0))

  override def deserializeOffset(json: String): Offset =
    SnapOffset(json.trim.toInt)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is the admission-control entry point")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val floor = start.asInstanceOf[SnapOffset].v
    val hardEnd = preparedEnd
      .map(e => math.min(e, SnapTable.latestVersion(root)))
      .getOrElse(SnapTable.latestVersion(root))
    val capped = maxVersionsPerTrigger match {
      case Some(m) =>
        // cap to an EXISTING slot in (floor, floor+m] (the log may
        // have gaps: orphaned txn slots, vacuumed versions); an empty
        // window advances to the FIRST retained version above the
        // floor — progress continues past a vacuum gap while the
        // batch stays bounded (falling to hardEnd would silently
        // drop the throttle and admit the whole backlog at once)
        val retained = SnapTable.versions(root)
          .filter(v => v > floor && v <= hardEnd)
        retained.filter(_ <= floor + m).lastOption
          .orElse(retained.sorted.headOption)
          .getOrElse(hardEnd)
      case None => hardEnd
    }
    // ROWS-based admission (`maxRowsPerTrigger`): extend the window one
    // version at a time while the cumulative added-row count (manifest
    // footer counts — no data read) stays under the cap; the first
    // version always admits so a single oversized commit can't stall
    // the stream. Composes with the version cap: both bounds hold.
    val rowCapped = maxRowsPerTrigger match {
      case Some(maxRows) =>
        val vs = SnapTable.versions(root)
          .filter(v => v > floor && v <= capped).sorted
        var rows = 0L
        var end = floor
        var prev = if (floor == 0) Seq.empty[SnapTable.FileEntry]
          else SnapTable.load(root, floor).files
        val it = vs.iterator
        var stop = false
        while (it.hasNext && !stop) {
          val v = it.next()
          val cur = SnapTable.load(root, v).files
          val prevPaths = prev.map(_.path).toSet
          val added = cur.filterNot(f => prevPaths.contains(f.path))
            .map(_.rows).sum
          if (end != floor && rows + added > maxRows) stop = true
          else { rows += added; end = v; prev = cur }
        }
        end
      case None => capped
    }
    SnapOffset(math.max(floor, rowCapped))
  }

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[SnapOffset].v
    val endV = end.asInstanceOf[SnapOffset].v
    val endSnap = SnapTable.load(root, endV)
    require(endSnap.colmap == snapAtStart.colmap,
      "streaming read: the table's column mapping changed while the " +
        "stream ran (RENAME/DROP/re-ADD COLUMN) — restart from a fresh " +
        "checkpoint to adopt the new schema")
    require(endSnap.defaults == snapAtStart.defaults,
      "streaming read: the table's initial column defaults changed " +
        "while the stream ran (ADD COLUMN ... DEFAULT) — restart from " +
        "a fresh checkpoint to adopt the new schema")
    val files = SnapTail.addedBetween(root,
      if (from == 0) None else Some(from), endV, ignoreChanges)
    // the batch plans through the SAME scan machinery as batch reads:
    // static-predicate manifest pruning over just this batch's files,
    // then byte-range split + bin-pack into byte-targeted partitions
    batchScan(pruneFiles(files)).planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    batchScan(Seq.empty).createReaderFactory()

  /** A per-batch [[SnapBatchScan]] under the CAPTURED schema/mapping/
    * defaults. `dvs` is always empty: a DV-bearing history either
    * refused the tail (default) or reads file contents wholesale
    * (`ignoreChanges`, at-least-once).
    * `bucket` is None — a micro-batch is an ingest increment, not the
    * keyed whole table, so it must not claim KeyGroupedPartitioning.
    */
  private def batchScan(files: Seq[SnapTable.FileEntry]): SnapBatchScan =
    new SnapBatchScan(spark, root, files, snapAtStart.schemaJson,
      required, pushed, None, Seq.empty, snapAtStart.colmap, Seq.empty,
      snapAtStart.defaults)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** The tail-diff arithmetic both streaming reads share (the
  * [[SnapMicroBatchStream]] tail above and the [[SnapChangesStream]]
  * change feed): which files a consumed-version window delivers, and
  * which histories refuse to tail.
  */
private[sources] object SnapTail {

  /** Files added between snapshot `from` and snapshot `to`, as a
    * HEAD-TO-HEAD manifest diff (files(to) minus files(from)) — not a
    * per-intermediate-version walk. That makes the batch a pure function
    * of the two consumed offsets: intermediate slots a SnapTxn prepare
    * orphaned (or a vacuum dropped) can't distort it, and an
    * added-then-rewritten file WITHIN the range coalesces to its final
    * form instead of emitting stale rows. The rewrite guard compares the
    * same two endpoints: a file of `from` missing in `to` means history
    * was rewritten, which needs `ignoreChanges` to stream through.
    * `from = None` is the initial load: the whole snapshot at `to`.
    */
  def addedBetween(root: String, from: Option[Int], to: Int,
      ignoreChanges: Boolean): Seq[SnapTable.FileEntry] = {
    val fromFiles = from match {
      case None => Seq.empty[SnapTable.FileEntry]
      case Some(v) =>
        if (!SnapTable.versions(root).contains(v))
          throw new IllegalStateException(
            s"streaming read: consumed version $v was vacuumed from the " +
              "log — the stream can no longer prove what it has read; " +
              "restart from a fresh checkpoint (and retain at least the " +
              "consumed version when vacuuming a tailed table)")
        SnapTable.load(root, v).files
    }
    val toSnap = SnapTable.load(root, to)
    if (toSnap.dvs.nonEmpty && !ignoreChanges)
      throw new IllegalStateException(
        "streaming read: the snapshot carries merge-on-read deletion " +
          "vectors, which file-level tailing cannot see — compact() to " +
          "materialize them, or set ignoreChanges=true to stream the " +
          "file contents (deleted rows included, at-least-once)")
    val fromPaths = fromFiles.map(_.path).toSet
    val removed = fromPaths.diff(toSnap.files.map(_.path).toSet)
    if (removed.nonEmpty && !ignoreChanges)
      throw new IllegalStateException(
        s"streaming read: between versions ${from.get} and $to (head op " +
          s"'${toSnap.op}') ${removed.size} file(s) were removed — the " +
          "table was rewritten, not appended to. Restart from a fresh " +
          "checkpoint for a new snapshot, set ignoreChanges=true to " +
          "re-emit rewritten files (at-least-once for their rows), or " +
          "tail the signed feed of the `<table>.changes` companion")
    toSnap.files.filterNot(f => fromPaths.contains(f.path))
  }

  /** The latest retained version STRICTLY below `v` (None when none is —
    * then the base is the empty table): the changes-only anchor for
    * `startingVersion`, tolerant of vacuumed/skipped slots below it.
    */
  def baseBelow(root: String, v: Int): Option[Int] =
    SnapTable.versions(root).filter(_ < v).lastOption

  /** `startingTimestamp` → the earliest version committed AT OR AFTER
    * it (Delta's startingTimestamp contract) — all older → one past
    * the head, i.e. only future commits stream. Accepts epoch millis
    * or `yyyy-MM-dd HH:mm:ss[.f]`.
    */
  def startingVersionAt(root: String, ts: String): Int = {
    val ms =
      if (ts.forall(_.isDigit)) ts.toLong
      else java.sql.Timestamp.valueOf(ts).getTime
    SnapTable.versions(root)
      .find(v => SnapTable.load(root, v).ts >= ms)
      .getOrElse(SnapTable.latestVersion(root) + 1)
  }
}
