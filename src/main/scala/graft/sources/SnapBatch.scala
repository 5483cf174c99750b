package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, Statistics, SupportsReportPartitioning, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.graftx.ParquetBridge
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataTypes, IntegerType, LongType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** THE batch read path of the snapshot table format: a real DSv2
  * `Batch` whose `InputPartition`s are manifest file groups and whose
  * reader is Spark's own vectorized parquet reader (via
  * [[ParquetBridge]]). Every catalog read routes here (the V1 bridge
  * was retired: Spark wraps a `V1Scan` in `V1ScanWrapper` during
  * pushdown, which hides `SupportsReportStatistics`, so a V1-bridged
  * table was un-broadcastable no matter its stats). What one scan shape
  * buys, all consulted by the planner:
  *
  *  - **Statistics** ([[estimateStatistics]]): post-pruning manifest
  *    bytes/rows — small tables auto-broadcast with no hint.
  *  - **Storage-partitioned joins**: a bucket-layout table reports
  *    `KeyGroupedPartitioning(bucket(n, col))` with one input partition
  *    per bucket id, so Spark joins two co-bucketed tables with NO
  *    shuffle on either side — at 100 TB the single biggest cost of a
  *    fact-fact join is that exchange, and it disappears at plan time.
  *  - **Row-level operations** (SQL MERGE/UPDATE): the group-based
  *    rewrite needs a scan that can expose a `_file` column and accept a
  *    runtime `IN (files…)` group filter ([[SnapRowLevelScan]]).
  *  - **Merge-on-read**: deleted positions ride a broadcast and the
  *    per-file readers skip them (see [[SnapReaderFactory]]).
  *  - **Split + pack**: unbucketed reads split big files into byte
  *    ranges and bin-pack small ones into byte-targeted partitions.
  *
  * Reader notes: each slice becomes one `PartitionedFile` handed to
  * Spark's parquet reader function, so row-group pruning and the
  * vectorized decoder still apply. Rows are materialized through an
  * `UnsafeProjection` — the same per-row conversion `FileSourceScanExec`
  * plans for a non-batch parquet read.
  */
private[graft] class SnapBatchScan(
    spark: SparkSession, root: String,
    private[graft] var files: Seq[SnapTable.FileEntry],
    schemaJson: String, required: StructType,
    pushed: Seq[Filter], bucket: Option[(String, Int)],
    dvs: Seq[String] = Seq.empty,
    colmap: Map[String, String] = Map.empty,
    runtimePrunable: Seq[String] = Seq.empty,
    defaults: Map[String, (String, Int)] = Map.empty,
    streamOptions: Option[org.apache.spark.sql.util
      .CaseInsensitiveStringMap] = None,
    filePruner: Seq[SnapTable.FileEntry] => Seq[SnapTable.FileEntry] =
      identity)
  extends Scan with Batch with SupportsReportPartitioning
  with SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsReportOrdering
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  /** `spark.readStream.table("snap.db.t")` — the native micro-batch
    * tail of the commit log (see [[SnapMicroBatchStream]]). Available
    * only through the catalog path, where the reader's options arrive.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    val o = streamOptions.getOrElse(
      throw new UnsupportedOperationException(
        "streaming read requires the catalog scan path"))
    new SnapMicroBatchStream(spark, root, required, pushed, filePruner,
      ignoreChanges = o.getBoolean("ignoreChanges", false),
      startingVersion = Option(o.get("startingVersion")).map(_.toInt)
        .orElse(Option(o.get("startingTimestamp"))
          .map(SnapTail.startingVersionAt(root, _))),
      maxVersionsPerTrigger =
        Option(o.get("maxVersionsPerTrigger")).map(_.toInt),
      maxRowsPerTrigger =
        Option(o.get("maxRowsPerTrigger")).map(_.toLong))
  }

  /** Runtime (DPP-style) FILE pruning: the layout columns — bucket,
    * partition spec, or the stats/cluster column — are declared
    * prunable, and a selective join build side arrives as `IN`/`=`
    * values which manifest [min,max] stats (or bucket ids) turn into a
    * smaller file list before any task launches. At 100 TB this is
    * dynamic partition pruning for the table format: a star join whose
    * dim filter keeps 3 of 300 days reads 1% of the fact files with no
    * static predicate anywhere. Unparseable predicates prune nothing
    * (conservative; row-level filters still apply above).
    */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    runtimePrunable
      // only columns the scan still OUTPUTS: Spark resolves these
      // against the pruned schema and throws (not skips) on a miss —
      // a layout column projected away simply isn't runtime-prunable
      // for that query
      .filter(required.fieldNames.contains(_))
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit =
    predicates.foreach { p =>
      SnapBatchScan.eqValues(p).foreach { case (c, vs) =>
        val longs = vs.collect { case l: java.lang.Long => l.longValue() }
        if (longs.size == vs.size && runtimePrunable.contains(c)) {
          val pc = SnapTable.physName(colmap, c)
          val bucketIds = bucket.collect { case (bc, n) if bc == c =>
            longs.map(v => GraftBucketFunction.bucketId(v, n).toLong)
              .toSet
          }
          files = files.filter { f =>
            val statsOk = f.stats.get(pc).forall { case (mn, mx) =>
              longs.exists(v => v >= mn && v <= mx)
            }
            val bucketOk = bucketIds.forall(ids =>
              f.stats.get(SnapTable.BucketStatsCol)
                .forall { case (id, _) => ids.contains(id) })
            statsOk && bucketOk
          }
        }
      }
    }

  /** Manifest-derived statistics AFTER file pruning: byte size from the
    * surviving files on disk, row count from their footer counts (both
    * already driver-side metadata). Without this Spark costs the scan at
    * `defaultSizeInBytes` (effectively ∞), so a join against a bucketed
    * SnapTable could never choose broadcast over a shuffle/SPJ on its
    * own — the single decision that matters most when one side is a
    * 100-row dimension and the other is 100 TB.
    *
    * COLUMN statistics ride along for the CBO (`spark.sql.cbo.enabled`):
    * per-column global [min,max] and null counts folded from the same
    * manifest entries, for every required LONG column with full stats
    * coverage. With them Spark's filter/join estimation sees real value
    * ranges instead of guessing default selectivities — which reorders
    * multi-join queries correctly at sizes where a wrong build side is
    * a spilled shuffle.
    */
  override def estimateStatistics(): Statistics = {
    val colStats = required.fields.iterator.flatMap { f =>
      val pc = SnapTable.physName(colmap, f.name)
      if (f.dataType != LongType || files.isEmpty ||
          !files.forall(_.stats.contains(pc))) None
      else Some(
        (Expressions.column(f.name)
            : org.apache.spark.sql.connector.expressions.NamedReference) ->
          (SnapColStats(
            files.map(_.stats(pc)._1).min, files.map(_.stats(pc)._2).max,
            if (files.forall(_.nulls.contains(pc)))
              Some(files.map(_.nulls(pc)).sum)
            else None)
            : org.apache.spark.sql.connector.read.colstats
              .ColumnStatistics))
    }.toMap
    SnapStats(files.map(f => Files.size(
      Paths.get(root).toAbsolutePath.resolve(f.path).normalize())).sum,
      files.map(_.rows).sum, colStats)
  }

  /** `_file` (when present) must be the TRAILING field — Spark appends
    * metadata columns after data columns, so a pruned schema preserves
    * that order; the reader splices the constant in via a JoinedRow.
    */
  private def fileColLast: Boolean =
    required.fieldNames.lastOption.contains(SnapBatchScan.FileCol)

  /** Parquet-facing required schema: the `_file` metadata column
    * stripped, and every field at its PHYSICAL name (rows come back
    * positionally, so the logical-named `required` projects them as-is).
    */
  private def parquetRequired: StructType = {
    val data =
      if (fileColLast) StructType(required.fields.dropRight(1))
      else {
        require(!required.fieldNames.contains(SnapBatchScan.FileCol),
          s"${SnapBatchScan.FileCol} must be the trailing scan column")
        required
      }
    if (colmap.isEmpty) data
    else StructType(data.fields.map(f =>
      f.copy(name = SnapTable.physName(colmap, f.name))))
  }

  override def outputPartitioning(): Partitioning = bucket match {
    case Some((c, n)) =>
      new KeyGroupedPartitioning(Array(Expressions.bucket(n, c)),
        bucketGroups.size)
    case None => new UnknownPartitioning(files.size)
  }

  /** Per-partition ordering report: the bucket WRITE path sorts every
    * file by the bucket column before it lands
    * (`sortWithinPartitions(bc)` in SnapTable.writeData), so a bucket
    * group made of ONE file is already ordered — reported here, a
    * co-bucketed storage-partitioned join plans SortMergeJoin with NO
    * SortExec on either side (zero-Exchange AND zero-Sort). Multi-file
    * groups (post-append) concatenate overlapping ranges and claim
    * nothing; OPTIMIZE restores the one-file-per-bucket state and with
    * it the claim. ASC with default NULLS FIRST matches the write sort.
    */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    bucket match {
      case Some((c, _)) if required.fieldNames.contains(c) &&
          bucketGroups.forall(_._2.size == 1) =>
        Array(Expressions.sort(Expressions.column(c),
          org.apache.spark.sql.connector.expressions
            .SortDirection.ASCENDING))
      case _ => Array.empty
    }

  /** Present bucket ids → their files, sorted by id so both sides of a
    * co-bucketed join enumerate partitions in the same key order.
    */
  private def bucketGroups: Seq[(Long, Seq[SnapTable.FileEntry])] = {
    files.groupBy { f =>
      f.stats.getOrElse(SnapTable.BucketStatsCol,
        throw new IllegalStateException(
          s"bucketed table file ${f.path} lacks " +
            s"${SnapTable.BucketStatsCol} stats"))._1
    }.toSeq.sortBy(_._1)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    def slices(fs: Seq[SnapTable.FileEntry]): Array[SnapFileSlice] =
      fs.map { f =>
        val abs = Paths.get(root).toAbsolutePath.resolve(f.path)
          .normalize()
        SnapFileSlice(abs.toString, Files.size(abs), f.path)
      }.toArray
    bucket match {
      case Some(_) =>
        bucketGroups.map { case (id, fs) =>
          new SnapInputPartition(slices(fs), Some(id)): InputPartition
        }.toArray
      case None =>
        // SPLIT big files into byte ranges (row-group-aligned by the
        // reader contract: a row group belongs to the range holding its
        // midpoint), then BIN-PACK ranges into byte-targeted partitions
        // (the same knobs Spark's file scan uses): a 100k-small-file
        // table must not become 100k tasks, a single 10 GB file must
        // not become ONE. DV'd snapshots read whole files — the
        // position-skip counts rows from the file start, so a split
        // would shift every later index. Sizes follow Spark's file scan
        // (`FilePartition`): every file also costs `openCost` bytes, and
        // the target is bytes per core floored at `openCost`, so a small
        // file stays one task instead of `parallelism` mostly empty
        // ranges, while many small files still spread across cores.
        val all = slices(files)
        val conf = spark.sessionState.conf
        val openCost = conf.filesOpenCostInBytes
        val target = math.max(1L, math.min(conf.filesMaxPartitionBytes,
          math.max(openCost, all.map(_.size + openCost).sum /
            math.max(1, spark.sparkContext.defaultParallelism))))
        val split: Seq[SnapFileSlice] =
          if (dvs.nonEmpty) all.toSeq
          else all.toSeq.flatMap { f =>
            if (f.size <= target) Seq(f)
            else (0L until f.size by target).map(off =>
              f.copy(start = off, len = math.min(target, f.size - off)))
          }
        val bins = Seq.newBuilder[Array[SnapFileSlice]]
        var bin = Vector.empty[SnapFileSlice]
        var binBytes = 0L
        split.sortBy(-_.length).foreach { f =>
          if (bin.nonEmpty && binBytes + f.length > target) {
            bins += bin.toArray; bin = Vector.empty; binBytes = 0L
          }
          bin :+= f; binBytes += f.length + openCost
        }
        if (bin.nonEmpty) bins += bin.toArray
        bins.result()
          .map(fs => new SnapInputPartition(fs, None): InputPartition)
          .toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // pushed filters reference LOGICAL names; under a column mapping
    // they are dropped here (they're all residual — Spark re-evaluates
    // them row-exactly; only parquet row-group pruning is lost)
    val effPushed = if (colmap.isEmpty) pushed else Seq.empty
    val readFunc = ParquetBridge.readerFunc(spark,
      SnapTable.physSchemaOf(schemaJson, colmap), parquetRequired,
      effPushed)
    // merge-on-read: deleted positions ride a broadcast keyed by file
    // path; a DV'd file is read WITHOUT parquet filter pushdown (a
    // skipped row group would shift every later row index — positional
    // integrity beats row-group pruning for exactly those files; the
    // pushed filters are all residual, so Spark still applies them) and
    // its reader drops the marked row indexes with one advancing pointer
    val dvPos =
      if (dvs.isEmpty) Map.empty[String, Array[Long]]
      else SnapTable.dvPositionsByFile(spark, root, dvs)
    val plainFunc =
      if (dvPos.isEmpty || effPushed.isEmpty) readFunc
      else ParquetBridge.readerFunc(spark,
        SnapTable.physSchemaOf(schemaJson, colmap), parquetRequired,
        Seq.empty)
    // INITIAL-DEFAULT fill specs, positional over the data fields: a
    // file whose write era predates a column's add physically lacks it
    // (the reader yields null for every row), so the reader substitutes
    // the declared literal — evaluated ONCE here, per-file applicability
    // decided from the era in the file's dir name
    val dataFields =
      if (fileColLast) required.fields.dropRight(1) else required.fields
    val fillSpecs: Array[(Int, Int, Any)] =
      dataFields.zipWithIndex.flatMap { case (f, i) =>
        defaults.get(f.name).map { case (litSql, at) =>
          val v = org.apache.spark.sql.catalyst.expressions.Cast(
            org.apache.spark.sql.catalyst.parser.CatalystSqlParser
              .parseExpression(litSql), f.dataType).eval(null)
          (i, at, v)
        }
      }
    new SnapReaderFactory(readFunc, plainFunc,
      spark.sparkContext.broadcast(dvPos), required, fileColLast,
      fillSpecs)
  }
}

/** Pruned-scan statistics both scan flavors report to the planner. */
private[graft] final case class SnapStats(bytes: Long, rows: Long,
    cols: Map[org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
      Map.empty)
  extends Statistics {
  override def sizeInBytes(): java.util.OptionalLong =
    java.util.OptionalLong.of(bytes)
  override def numRows(): java.util.OptionalLong =
    java.util.OptionalLong.of(rows)
  override def columnStats(): java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    import scala.jdk.CollectionConverters._
    cols.asJava
  }
}

/** One column's manifest-folded statistics, in the CBO's V2 shape. */
private[graft] final case class SnapColStats(mn: Long, mx: Long,
    nulls: Option[Long])
  extends org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
  override def min(): java.util.Optional[Object] =
    java.util.Optional.of(java.lang.Long.valueOf(mn))
  override def max(): java.util.Optional[Object] =
    java.util.Optional.of(java.lang.Long.valueOf(mx))
  override def nullCount(): java.util.OptionalLong =
    nulls.map(java.util.OptionalLong.of)
      .getOrElse(java.util.OptionalLong.empty())
}

private[graft] object SnapBatchScan {
  /** The metadata column naming the data file a row lives in (manifest-
    * relative path) — the group-rewrite granularity of MERGE/UPDATE.
    */
  val FileCol = "_file"

  /** `(column, values)` of a runtime `IN(col, …)` / `=(col, v)` V2
    * predicate over a single top-level column; `None` otherwise.
    */
  def eqValues(p: org.apache.spark.sql.connector.expressions.filter
      .Predicate): Option[(String, Seq[Any])] = {
    import org.apache.spark.sql.connector.expressions.{Literal, NamedReference}
    val children = p.children().toSeq
    val colName = children.headOption.collect {
      case r: NamedReference if r.fieldNames.length == 1 =>
        r.fieldNames()(0)
    }
    colName.flatMap { c =>
      p.name() match {
        case "IN" | "=" =>
          val vs = children.drop(1).collect {
            case l: Literal[_] => l.value.asInstanceOf[Any]
          }
          if (vs.length == children.length - 1) Some(c -> vs) else None
        case _ => None
      }
    }
  }
}

/** One data file — or one byte RANGE of it — of an input partition:
  * absolute path for the reader, manifest-relative path for the `_file`
  * column and commit bookkeeping. `len < 0` means the whole file.
  */
private[graft] final case class SnapFileSlice(abs: String, size: Long,
    rel: String, start: Long = 0L, len: Long = -1L) {
  def length: Long = if (len < 0) size else len
}

private[graft] class SnapInputPartition(
    val slices: Array[SnapFileSlice], val bucketId: Option[Long],
    val dvOverride: Option[Map[String, Array[Long]]] = None,
    val dvKeepOnly: Boolean = false)
  extends InputPartition with HasPartitionKey {

  override def partitionKey(): InternalRow = bucketId match {
    case Some(id) => new GenericInternalRow(Array[Any](id.toInt))
    case None => InternalRow.empty
  }
}

private[graft] class SnapReaderFactory(
    readFunc: org.apache.spark.sql.execution.datasources.PartitionedFile
      => Iterator[InternalRow],
    plainFunc: org.apache.spark.sql.execution.datasources.PartitionedFile
      => Iterator[InternalRow],
    dvPos: org.apache.spark.broadcast
      .Broadcast[Map[String, Array[Long]]],
    required: StructType, fileCol: Boolean,
    fillSpecs: Array[(Int, Int, Any)] = Array.empty)
  extends PartitionReaderFactory {

  /** Write era from a manifest-relative path (`data/c<era>-…`); 0 for
    * pre-era dirs and converted-in files — same contract as
    * SnapTable.eraExpr on the SQL side.
    */
  private def eraOf(rel: String): Int =
    SnapReaderFactory.EraRx.findFirstMatchIn(rel)
      .map(_.group(1).toInt).getOrElse(0)

  /** Drop `pos` (ascending row indexes) from a full-file row iterator —
    * one pointer advance per row, never a per-row search.
    */
  private def skipPositions(raw: Iterator[InternalRow],
      pos: Array[Long]): Iterator[InternalRow] = {
    var idx = -1L
    var p = 0
    raw.filter { _ =>
      idx += 1
      while (p < pos.length && pos(p) < idx) p += 1
      !(p < pos.length && pos(p) == idx)
    }
  }

  /** Keep ONLY `pos` (ascending row indexes) from a full-file row
    * iterator — the inverse of [[skipPositions]], used by the change
    * feed's DV position-diff legs (a MoR delete's pre-image rows are
    * exactly the newly-DV'd positions of a carried file).
    */
  private def keepPositions(raw: Iterator[InternalRow],
      pos: Array[Long]): Iterator[InternalRow] = {
    var idx = -1L
    var p = 0
    raw.filter { _ =>
      idx += 1
      while (p < pos.length && pos(p) < idx) p += 1
      p < pos.length && pos(p) == idx
    }
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[SnapInputPartition]
    new PartitionReader[InternalRow] {
      private val proj = UnsafeProjection.create(required)
      private val joined = new JoinedRow
      private val iter: Iterator[InternalRow] =
        part.slices.iterator.flatMap { f =>
          // DV paths are canonical: manifest-relative for the table's
          // own files, absolute for a clone's foreign files. A
          // partition-level override (the change feed's per-version
          // endpoint DVs / position-diff legs) beats the scan-level
          // broadcast.
          val posSrc = part.dvOverride.getOrElse(dvPos.value)
          val pos = posSrc.get(f.rel).orElse(posSrc.get(f.abs))
          val pf = ParquetBridge.partitionedFile(f.abs, f.start,
            f.length, f.size)
          val raw0 =
            if (part.dvKeepOnly) pos match {
              case Some(ps) if ps.nonEmpty =>
                keepPositions(ParquetBridge.rows(plainFunc(pf)), ps)
              case _ => Iterator.empty[InternalRow]
            }
            else pos match {
              case None => ParquetBridge.rows(readFunc(pf))
              case Some(ps) =>
                skipPositions(ParquetBridge.rows(plainFunc(pf)), ps)
            }
          // initial-default fill for files predating the column's add
          val era = eraOf(f.rel)
          val fills = fillSpecs.filter(_._2 > era)
          val raw =
            if (fills.isEmpty) raw0
            else {
              val dataFields =
                if (fileCol) required.fields.dropRight(1)
                else required.fields
              val exprs = dataFields.zipWithIndex.map { case (fd, i) =>
                fills.find(_._1 == i) match {
                  case Some((_, _, v)) =>
                    org.apache.spark.sql.catalyst.expressions
                      .Literal(v, fd.dataType)
                      : org.apache.spark.sql.catalyst.expressions.Expression
                  case None =>
                    org.apache.spark.sql.catalyst.expressions
                      .BoundReference(i, fd.dataType, fd.nullable)
                }
              }.toIndexedSeq
              val fillProj = UnsafeProjection.create(exprs)
              raw0.map(fillProj)
            }
          if (!fileCol) raw.map(proj)
          else {
            val tail = new GenericInternalRow(
              Array[Any](UTF8String.fromString(f.rel)))
            raw.map(r => proj(joined(r, tail)))
          }
        }
      private var row: InternalRow = _
      override def next(): Boolean =
        if (iter.hasNext) { row = iter.next(); true } else false
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}

/** The catalog's V2 `bucket(n, col)` function — the SAME hash the bucket
  * write layout uses (`pmod(murmur3_32(long), n)`, seed 42, i.e. Spark's
  * `hash()` for a LONG column). Registering it is what lets Spark resolve
  * the `bucket` transform both scans report and conclude the two sides of
  * a join are co-partitioned.
  */
private[graft] object SnapReaderFactory {
  /** `data/c<era>-…` or `data/s<era>-…`, at path start or after a
    * slash (clone-shared entries are `../src/data/c<era>-…`).
    */
  val EraRx = "(?:^|/)data/[cs](\\d+)-".r
}

private[graft] object GraftBucketFunction extends UnboundFunction {

  override def name(): String = "bucket"

  override def description(): String =
    "bucket(n, col): pmod(murmur3(col), n) — the snapshot-table bucket " +
      "layout hash (longs only, seed 42)"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2 &&
      inputType.fields(0).dataType == IntegerType &&
      inputType.fields(1).dataType == LongType,
      s"bucket expects (INT numBuckets, BIGINT col), got $inputType")
    Bound
  }

  /** Exactly `pmod(hash(v), n)` for a long `v`. */
  def bucketId(v: Long, n: Int): Int = {
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(v, 42)
    ((h % n) + n) % n
  }

  object Bound extends ScalarFunction[java.lang.Integer] {
    override def inputTypes(): Array[org.apache.spark.sql.types.DataType] =
      Array(IntegerType, LongType)
    override def resultType(): org.apache.spark.sql.types.DataType =
      DataTypes.IntegerType
    override def name(): String = "bucket"
    override def canonicalName(): String = "graft.bucket"
    override def isResultNullable: Boolean = false
    override def produceResult(input: InternalRow): java.lang.Integer =
      bucketId(input.getLong(1), input.getInt(0))
  }
}
