package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The CHANGES companion table — `snap.db.t.changes`: the table's
  * change feed as a first-class DSv2 relation, batch AND streaming
  * (`spark.read.table("snap.db.t.changes")` /
  * `spark.readStream.table("snap.db.t.changes")`).
  *
  * Schema = the base table's columns plus `_sign INT` (+1 added row,
  * −1 removed row) and `_version BIGINT` (the commit that changed it) —
  * the SIGNED delta form (SnapTable.changesDelta): rows a rewrite
  * merely copied cancel under any linear aggregate, so a downstream
  * sum/count view is maintained incrementally through merges, deletes
  * and compactions.
  *
  * A companion TABLE carries the widened schema through analysis, which
  * reader OPTIONS on the base table never could — the Iceberg
  * metadata-table idea. A path-only table's feed is
  * ``readStream.table("snap.`/abs/path`.changes")``.
  *
  * Layout/scale: each (version, sign) leg plans through the SAME
  * [[SnapBatchScan]] machinery as batch reads (byte-range splits,
  * bin-packing, vectorized parquet, column mapping + era defaults), and
  * the sign/version ride each partition as CONSTANTS appended by a
  * zero-copy JoinedRow — no per-row branching, no union plan of 2·v
  * scans on the driver.
  *
  * Contracts: merge-on-read DV snapshots are fully supported — file
  * legs read only the rows VISIBLE at their endpoint (endpoint DVs
  * skip), and a DV change on a CARRIED file surfaces as a
  * position-diff leg (newly-DV'd position → −1 delete with no file
  * diff; un-DV'd via RESTORE → +1 resurrect), the same classification
  * the `changes()` API uses; vacuum must retain the
  * window being read (removed files are read for their −1 rows);
  * streaming requires the column mapping and defaults to stay stable
  * across the run (restart from a fresh checkpoint to adopt changes).
  */
private[sources] class SnapChangesTable(ident: Identifier, root: String)
  extends Table with SupportsRead {

  private val headV = SnapTable.latestVersion(root)
  private val snap = SnapTable.load(root, headV)
  private[sources] val base: StructType = SnapTable.schemaOf(snap.schemaJson)

  override def name(): String = ident.toString

  override def schema(): StructType = StructType(base.fields ++ Seq(
    org.apache.spark.sql.types.StructField("_sign", IntegerType,
      nullable = false),
    org.apache.spark.sql.types.StructField("_version", LongType,
      nullable = false)))

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = { () =>
    new SnapChangesScan(SparkSession.active, root, schema(), base,
      snap, options)
  }
}

private[sources] class SnapChangesScan(spark: SparkSession, root: String,
    full: StructType, base: StructType, snap: SnapTable.Snapshot,
    options: CaseInsensitiveStringMap) extends Scan with Batch {

  override def readSchema(): StructType = full

  override def toBatch: Batch = this

  /** Batch form: the per-version signed changelog across the retained
    * log (or the `startingVersion`/`endingVersion` option window). The
    * earliest version in the window contributes its whole snapshot as
    * +1 (the initial load); every later version contributes its
    * head-to-head file diff.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val sv = Option(options.get("startingVersion")).map(_.toInt)
    val ev = Option(options.get("endingVersion")).map(_.toInt)
      .getOrElse(SnapTable.latestVersion(root))
    val vs = SnapTable.versions(root)
      .filter(v => v <= ev && sv.forall(v >= _)).sorted
    require(vs.nonEmpty, s"no retained versions in the requested window")
    val legs = SnapChanges.initialLeg(root, vs.head) +:
      SnapChanges.signedDiffs(spark, root, vs.head, ev)
    legs.flatMap { leg =>
      SnapChanges.innerPartitions(spark, root, snap, base, leg)
        .map(p =>
          SnapSignedPartition(p, leg.sign, leg.v.toLong): InputPartition)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    SnapChanges.readerFactory(spark, root, snap, base, full)

  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream =
    new SnapChangesStream(spark, root, snap, base, full,
      Option(options.get("startingVersion")).map(_.toInt))
}

/** Streaming form: offsets are consumed table versions (same
  * [[SnapOffset]] as the native read). The FIRST batch is the
  * discovered snapshot, all +1 (initial load of the downstream view);
  * every later batch is the per-version signed diff up to the current
  * head. `startingVersion` skips the initial load and starts the diff
  * feed at that commit, like the tail's `startingVersion`.
  */
private[sources] class SnapChangesStream(spark: SparkSession,
    root: String, snapAtStart: SnapTable.Snapshot, base: StructType,
    full: StructType, startingVersion: Option[Int])
  extends MicroBatchStream with SupportsTriggerAvailableNow {

  /** `Trigger.AvailableNow`: the end of THIS run, captured once, so
    * commits landing during the drain can't keep it alive forever.
    */
  @volatile private var preparedEnd: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    preparedEnd = Some(SnapTable.latestVersion(root))

  override def initialOffset(): Offset =
    SnapOffset(startingVersion
      .flatMap(sv => SnapTail.baseBelow(root, sv)).getOrElse(0))

  override def deserializeOffset(json: String): Offset =
    SnapOffset(json.trim.toInt)

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit
      .allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is the admission-control entry point")

  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : Offset =
    SnapOffset(preparedEnd
      .map(e => math.min(e, SnapTable.latestVersion(root)))
      .getOrElse(SnapTable.latestVersion(root)))

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[SnapOffset].v
    val endV = end.asInstanceOf[SnapOffset].v
    val endSnap = SnapTable.load(root, endV)
    require(endSnap.colmap == snapAtStart.colmap,
      "changes stream: the table's column mapping changed while the " +
        "stream ran — restart from a fresh checkpoint")
    require(endSnap.defaults == snapAtStart.defaults,
      "changes stream: the table's initial column defaults changed " +
        "while the stream ran — restart from a fresh checkpoint")
    val legs =
      if (from == 0)
        // initial load: the whole discovered snapshot as +1 (vacuumed
        // intermediate history is irrelevant — only live files read,
        // under the snapshot's own DVs)
        Seq(SnapChanges.initialLeg(root, endV))
      else SnapChanges.signedDiffs(spark, root, from, endV)
    legs.flatMap { leg =>
      SnapChanges.innerPartitions(spark, root, snapAtStart, base, leg)
        .map(p =>
          SnapSignedPartition(p, leg.sign, leg.v.toLong): InputPartition)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    SnapChanges.readerFactory(spark, root, snapAtStart, base, full)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** The FILES companion table — `snap.db.t.files`: the head snapshot's
  * manifest as a queryable relation (the Iceberg `.files` metadata
  * table): one row per data file with its path, footer row count,
  * on-disk size, write era, and the table's stats-column bounds. A
  * driver-local scan — the manifest is already in memory; no data file
  * opens.
  */
private[sources] class SnapFilesTable(ident: Identifier, root: String)
  extends Table with SupportsRead {

  private val snap =
    SnapTable.load(root, SnapTable.latestVersion(root))

  override def name(): String = ident.toString

  override def schema(): StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("path",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("rows", LongType,
      nullable = false),
    org.apache.spark.sql.types.StructField("size_bytes", LongType,
      nullable = false),
    org.apache.spark.sql.types.StructField("stats_min", LongType,
      nullable = true),
    org.apache.spark.sql.types.StructField("stats_max", LongType,
      nullable = true)))

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = { () =>
    val out = schema()
    val pc = SnapTable.physName(snap.colmap, snap.statsCol)
    val fileRows = snap.files.map { f =>
      val abs = java.nio.file.Paths.get(root).toAbsolutePath
        .resolve(f.path).normalize()
      val sz =
        if (java.nio.file.Files.exists(abs))
          java.nio.file.Files.size(abs)
        else 0L
      val st = f.stats.get(pc)
      new GenericInternalRow(Array[Any](
        org.apache.spark.unsafe.types.UTF8String.fromString(f.path),
        f.rows, sz,
        st.map(_._1).orNull, st.map(_._2).orNull)): InternalRow
    }.toArray
    new Scan with org.apache.spark.sql.connector.read.LocalScan {
      override def readSchema(): StructType = out
      override def rows(): Array[InternalRow] = fileRows
    }
  }
}

/** The HISTORY companion table — `snap.db.t.history`: the commit log
  * as a relation (version, op, file/row counts, commit timestamp) —
  * the metadata-table twin of DESCRIBE HISTORY / the snap_history TVF.
  */
private[sources] class SnapHistoryTable(ident: Identifier, root: String)
  extends Table with SupportsRead {

  override def name(): String = ident.toString

  override def schema(): StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("version", LongType,
      nullable = false),
    org.apache.spark.sql.types.StructField("op",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("n_files", LongType,
      nullable = false),
    org.apache.spark.sql.types.StructField("n_rows", LongType,
      nullable = false),
    org.apache.spark.sql.types.StructField("ts", LongType,
      nullable = false)))

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = { () =>
    val out = schema()
    val hist = SnapTable.versions(root).sorted.map { v =>
      val s = SnapTable.load(root, v)
      new GenericInternalRow(Array[Any](v.toLong,
        org.apache.spark.unsafe.types.UTF8String.fromString(s.op),
        s.files.size.toLong, s.files.map(_.rows).sum,
        s.ts)): InternalRow
    }.toArray
    new Scan with org.apache.spark.sql.connector.read.LocalScan {
      override def readSchema(): StructType = out
      override def rows(): Array[InternalRow] = hist
    }
  }
}

/** The REFS companion table — `snap.db.t.refs`: branches and tags as a
  * relation (kind, name, pinned/head version).
  */
private[sources] class SnapRefsTable(ident: Identifier, root: String)
  extends Table with SupportsRead {

  override def name(): String = ident.toString

  override def schema(): StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("kind",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("name",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("version", LongType,
      nullable = false)))

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = { () =>
    val out = schema()
    def str(x: String) =
      org.apache.spark.unsafe.types.UTF8String.fromString(x)
    val refRows: Array[InternalRow] =
      (SnapTable.tags(root).sortBy(_._1).map { case (n, v) =>
        new GenericInternalRow(
          Array[Any](str("tag"), str(n), v.toLong)): InternalRow
      } ++ SnapTable.branches(root).sorted.map { b =>
        val head = SnapTable
          .latestVersion(SnapTable.branchRoot(root, b))
        new GenericInternalRow(
          Array[Any](str("branch"), str(b), head.toLong)): InternalRow
      }).toArray
    new Scan with org.apache.spark.sql.connector.read.LocalScan {
      override def readSchema(): StructType = out
      override def rows(): Array[InternalRow] = refRows
    }
  }
}

/** A data partition plus the (sign, version) constants its rows carry. */
private[sources] final case class SnapSignedPartition(
    inner: InputPartition, sign: Int, version: Long)
  extends InputPartition

private[sources] object SnapChanges {

  /** One signed changelog leg: `files` read at version `v` with sign
    * `sign`, under the `dvs` of the endpoint the rows were visible at.
    * `keep = Some(positions)` inverts the DV filter — the leg emits
    * ONLY those row positions (a MoR position-diff on carried files);
    * `keep = None` emits the files' rows MINUS the `dvs` positions
    * (an ordinary endpoint-visible file read).
    */
  private[sources] final case class SignedLeg(v: Int, sign: Int,
      files: Seq[SnapTable.FileEntry], dvs: Seq[String],
      keep: Option[Map[String, Array[Long]]] = None)

  /** The initial-load leg: the whole snapshot at `v`, all +1, read
    * under its own DVs (only rows VISIBLE at `v`).
    */
  private[sources] def initialLeg(root: String, v: Int): SignedLeg = {
    val s = SnapTable.load(root, v)
    SignedLeg(v, 1, s.files, s.dvs)
  }

  private def absOf(root: String, rel: String): String =
    java.nio.file.Paths.get(root).toAbsolutePath.resolve(rel)
      .normalize().toString

  /** Per-version signed diffs over (`from`, `to`]: for each retained
    * version, the files it added (+1, visible rows only) and removed
    * (−1, rows visible at the predecessor) — and, when the version
    * changed the DV set on CARRIED files, position-diff legs: a
    * position DV'd at `v` but not before is a −1 (merge-on-read delete
    * with no file diff), one un-DV'd (RESTORE past a MoR delete) a +1
    * resurrect. Empty legs are dropped. Position maps are restricted
    * to the leg's own files so the per-partition payload stays
    * bounded by that version's actual deletes.
    */
  private[sources] def signedDiffs(spark: SparkSession, root: String,
      from: Int, to: Int): Seq[SignedLeg] = {
    val vs = SnapTable.versions(root).filter(v => v > from && v <= to)
      .sorted
    var prev = SnapTable.load(root, from)
    vs.flatMap { v =>
      val cur = SnapTable.load(root, v)
      val prevP = prev.files.map(_.path).toSet
      val curP = cur.files.map(_.path).toSet
      val adds = cur.files.filterNot(f => prevP.contains(f.path))
      val removes = prev.files.filterNot(f => curP.contains(f.path))
      val carried = cur.files.filter(f => prevP.contains(f.path))
      val fileLegs = Seq(
        SignedLeg(v, 1, adds, cur.dvs),
        SignedLeg(v, -1, removes, prev.dvs)).filter(_.files.nonEmpty)
      val dvLegs =
        if (cur.dvs == prev.dvs || carried.isEmpty) Seq.empty
        else {
          def posOf(dvs: Seq[String]): Map[String, Array[Long]] =
            if (dvs.isEmpty) Map.empty
            else SnapTable.dvPositionsByFile(spark, root, dvs)
          val pCur = posOf(cur.dvs)
          val pPrev = posOf(prev.dvs)
          def diff(a: Map[String, Array[Long]],
              b: Map[String, Array[Long]]): Map[String, Array[Long]] =
            a.map { case (k, ps) =>
              val bs = b.getOrElse(k, Array.empty[Long]).toSet
              k -> ps.filterNot(bs) // stays ascending: filter of sorted
            }.filter(_._2.nonEmpty)
          // positions on added/removed files are already accounted for
          // by the file legs reading under endpoint DVs — only CARRIED
          // files surface as position-diff rows
          def carriedLeg(sign: Int, m: Map[String, Array[Long]],
              planDvs: Seq[String]): Option[SignedLeg] = {
            val fs = carried.filter(f =>
              m.contains(f.path) || m.contains(absOf(root, f.path)))
            if (fs.isEmpty) None
            else Some(SignedLeg(v, sign, fs, planDvs, Some(m)))
          }
          Seq(
            carriedLeg(-1, diff(pCur, pPrev), cur.dvs),
            carriedLeg(1, diff(pPrev, pCur), prev.dvs)).flatten
        }
      prev = cur
      fileLegs ++ dvLegs
    }
  }

  /** Plan one leg's files through the ordinary batch-scan machinery
    * (byte-range splits + bin-packing under the captured schema; DV'd
    * legs read whole files — positional integrity). The leg's DV
    * positions ride each partition as an override (restricted to that
    * leg's files) because different legs read under DIFFERENT endpoint
    * DV sets — one scan-level broadcast can't serve them all.
    */
  private[sources] def innerPartitions(spark: SparkSession, root: String,
      snap: SnapTable.Snapshot, base: StructType,
      leg: SignedLeg): Array[InputPartition] = {
    val parts = new SnapBatchScan(spark, root, leg.files,
      snap.schemaJson, base, Seq.empty, None, leg.dvs, snap.colmap,
      Seq.empty, snap.defaults).planInputPartitions()
    val posMap: Option[Map[String, Array[Long]]] = leg.keep.orElse {
      if (leg.dvs.isEmpty) None
      else {
        val all = SnapTable.dvPositionsByFile(spark, root, leg.dvs)
        val rel = leg.files.map(_.path).toSet
        val abs = leg.files.map(f => absOf(root, f.path)).toSet
        Some(all.filter { case (k, _) => rel(k) || abs(k) })
      }
    }
    if (posMap.isEmpty) parts
    else parts.map { p =>
      val sp = p.asInstanceOf[SnapInputPartition]
      new SnapInputPartition(sp.slices, sp.bucketId, posMap,
        leg.keep.isDefined): InputPartition
    }
  }

  private[sources] def readerFactory(spark: SparkSession, root: String,
      snap: SnapTable.Snapshot, base: StructType, full: StructType)
      : PartitionReaderFactory = {
    val inner = new SnapBatchScan(spark, root, Seq.empty,
      snap.schemaJson, base, Seq.empty, None, Seq.empty, snap.colmap,
      Seq.empty, snap.defaults).createReaderFactory()
    new SnapSignedReaderFactory(inner, full)
  }
}

/** Wraps the ordinary row reader and appends the partition's
  * (sign, version) constants — one JoinedRow + unsafe projection, no
  * per-row allocation.
  */
private[sources] class SnapSignedReaderFactory(
    inner: PartitionReaderFactory, full: StructType)
  extends PartitionReaderFactory {

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    val sp = p.asInstanceOf[SnapSignedPartition]
    val r = inner.createReader(sp.inner)
    new PartitionReader[InternalRow] {
      private val proj = UnsafeProjection.create(full)
      private val joined = new JoinedRow
      private val tail = new GenericInternalRow(
        Array[Any](sp.sign, sp.version))
      override def next(): Boolean = r.next()
      override def get(): InternalRow = proj(joined(r.get(), tail))
      override def close(): Unit = r.close()
    }
  }
}
