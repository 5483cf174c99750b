package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.graftx.ParquetBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Native Structured-Streaming SINK for the snapshot table format — the
  * other half of the streaming story ([[SnapMicroBatchStream]] is the
  * read half): `df.writeStream.toTable("snap.db.t")` appends one ACID commit
  * per micro-batch with EXACTLY-ONCE semantics, no foreachBatch glue.
  *
  * How exactly-once falls out of machinery the format already has:
  * every epoch's commit carries the idempotency txn
  * `snapsink:<queryId>:<epochId>`. A restart that replays a committed
  * epoch re-writes its files, but the commit resolves to the recorded
  * txn's version and links nothing — the replayed files orphan in their
  * own data dir and vacuum reclaims them. This is the Delta
  * `txnAppId/txnVersion` idea, keyed by Spark's streaming (queryId,
  * epochId) pair, which the checkpoint holds stable across restarts.
  *
  * Scale shape: executors stream rows straight into parquet via Spark's
  * own `OutputWriter` (no per-batch DataFrame materialization, no extra
  * shuffle — whatever partitioning the query plan ends with is the file
  * layout); the driver's commit cost is one footer read per written
  * file plus one manifest link. CHECK constraints and provided
  * generated columns are validated over just the epoch's files before
  * the link, like every other append.
  *
  * Bucketed targets stream too (see the fanout writer below); spec-
  * clustered targets accept the stream as-is — their new files carry
  * full-range stats until OPTIMIZE re-clusters (correct, just
  * unpruned, the usual streaming-ingest trade).
  *
  * Complete output mode streams too (`replace = true`): each epoch
  * REPLACES the table with the full streamed result in one commit —
  * the streaming materialized-view shape (`df.groupBy(...).agg(...)
  * .writeStream.outputMode("complete").toTable(...)`), with history
  * and time travel across epochs for free. Empty epochs commit in
  * replace mode (the result genuinely became empty) but are skipped
  * in append mode (nothing to add).
  *
  * Not supported (fail-fast, restart-shaped like Delta's contracts):
  * generated columns ABSENT from the streamed frame (nothing can
  * compute them after the executor-side write), and a column mapping
  * or bucket layout that changes while the stream runs.
  */
private[sources] class SnapStreamingWrite(root: String,
    schema: StructType, queryId: String,
    replace: Boolean = false) extends StreamingWrite {

  private val spark = SparkSession.active
  private val parent0 =
    SnapTable.load(root, SnapTable.latestVersion(root))
  parent0.gen.keys.foreach(c =>
    require(schema.fieldNames.contains(c),
      s"generated column '$c' must be included in the streamed frame " +
        "(the sink cannot compute it after the executor-side write)"))
  parent0.idents.foreach { case (c, (_, _, allow)) =>
    require(allow && schema.fieldNames.contains(c),
      s"identity column '$c': the streaming sink cannot assign values " +
        "(executor-side writes see no table-wide high-water mark) — " +
        "declare it BY DEFAULT and stream explicit values")
  }

  /** Captured at query start; epoch commits refuse a changed mapping
    * (mid-stream RENAME/DROP/re-ADD = schema change under a running
    * stream; restart from a fresh checkpoint).
    */
  private val colmapAtStart = parent0.colmap

  private val physSchema = StructType(schema.fields.map(f =>
    f.copy(name = SnapTable.physName(colmapAtStart, f.name))))

  /** BUCKETED targets stream too: the writer FANS OUT per bucket id
    * (one open file per id per task, the dynamic-partition-write
    * shape), preserving the one-bucket-per-file invariant storage-
    * partitioned joins need — with no per-epoch shuffle. More files
    * per epoch than a clustered batch write, but SPJ groups files BY
    * ID across any count, and OPTIMIZE consolidates.
    */
  private val bucketAtStart: Option[(Int, Int)] = // (field idx, n)
    parent0.bucket.map { case (bc, n) =>
      val pc = SnapTable.physName(colmapAtStart, bc)
      val i = physSchema.fieldNames.indexOf(pc)
      require(i >= 0, s"bucket column '$bc' must be in the streamed frame")
      (i, n)
    }

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val (owf, prepared) = ParquetBridge.writerFactory(spark, physSchema,
      spark.sessionState.newHadoopConf())
    // era-stamped dir (initial-default boundary): epochs write explicit
    // values for every streamed column; a concurrent ADD COLUMN lands
    // strictly later and its default applies only above this era (the
    // epoch commits refuse a defaults map that changed mid-stream)
    new SnapStreamingWriterFactory(owf, root,
      s"data/s${SnapTable.eraHiOf(SnapTable.load(root,
        SnapTable.latestVersion(root))) + 1}-" +
        java.util.UUID.randomUUID().toString.take(8),
      physSchema, new SerializableConfiguration(prepared),
      bucketAtStart)
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val fresh = messages.toSeq.collect {
      case SnapWriteMessage(p) =>
        SnapTable.footerEntry(spark, root, Paths.get(p)).toSeq
      case SnapFanoutMessage(ms) =>
        // each file holds exactly one bucket id — record it as the
        // [id,id] _gfb stats every bucket-layout consumer keys on
        ms.flatMap { case SnapBucketWriteMessage(p, id) =>
          SnapTable.footerEntry(spark, root, Paths.get(p)).map(e =>
            e.copy(stats = e.stats +
              (SnapTable.BucketStatsCol -> (id.toLong, id.toLong))))
        }
    }.flatten.sortBy(_.path)
    if (replace)
      // Complete mode: the epoch IS the whole result — even empty
      SnapTable.streamingEpochReplace(spark, root, fresh, schema,
        s"snapsink:$queryId:$epochId", colmapAtStart, parent0.bucket,
        parent0.defaults)
    // an all-empty append epoch commits nothing: replaying it is also
    // empty, so skipping keeps exactly-once without burning a version
    else if (fresh.nonEmpty)
      SnapTable.streamingEpochCommit(spark, root, fresh, schema,
        s"snapsink:$queryId:$epochId", colmapAtStart, parent0.bucket,
        parent0.defaults)
    ()
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case SnapWriteMessage(p) => Files.deleteIfExists(Paths.get(p)); ()
      case SnapFanoutMessage(ms) =>
        ms.foreach(m => Files.deleteIfExists(Paths.get(m.path))); ()
      case _ => ()
    }
}

/** A written file plus the ONE bucket id every row of it carries. */
private[sources] final case class SnapBucketWriteMessage(path: String,
  bucketId: Int) extends WriterCommitMessage

/** A batch of commit messages from one fanout task. */
private[sources] final case class SnapFanoutMessage(
  msgs: Seq[SnapBucketWriteMessage]) extends WriterCommitMessage

/** One parquet `OutputWriter` per (task, epoch) — or, for a BUCKETED
  * target, one per (task, epoch, bucket id) with rows routed by the
  * same murmur3-of-long hash the batch layout uses. The epoch id keys
  * the file path so a factory reused across epochs can never collide,
  * and a speculative attempt's path differs by taskId (its abort
  * deletes it).
  */
private[sources] class SnapStreamingWriterFactory(
    owf: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    root: String, dirRel: String, schema: StructType,
    conf: SerializableConfiguration,
    bucket: Option[(Int, Int)] = None)
  extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val dir = Paths.get(root, s"$dirRel-e$epochId")
    Files.createDirectories(dir)
    val tac = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf.value,
      new org.apache.hadoop.mapreduce.TaskAttemptID("graft", 0,
        org.apache.hadoop.mapreduce.TaskType.MAP, partitionId,
        taskId.toInt))
    val ext = owf.getFileExtension(tac)
    bucket match {
      case None =>
        val path = s"$dir/part-$partitionId-$taskId$ext"
        val w = owf.newInstance(path, schema, tac)
        new DataWriter[InternalRow] {
          override def write(r: InternalRow): Unit = w.write(r)
          override def commit(): WriterCommitMessage = {
            w.close(); SnapWriteMessage(path)
          }
          override def abort(): Unit = {
            w.close(); Files.deleteIfExists(Paths.get(path)); ()
          }
          override def close(): Unit = ()
        }
      case Some((idx, n)) =>
        new DataWriter[InternalRow] {
          private val open = scala.collection.mutable.Map.empty[Int,
            (String, org.apache.spark.sql.execution.datasources
              .OutputWriter)]
          private def writerFor(id: Int) =
            open.getOrElseUpdate(id, {
              val p = s"$dir/part-$partitionId-$taskId-b$id$ext"
              (p, owf.newInstance(p, schema, tac))
            })._2
          override def write(r: InternalRow): Unit = {
            // hash(null) is the murmur seed — identical to the batch
            // layout's pmod(hash(col), n) on a NULL bucket value
            val id =
              if (r.isNullAt(idx)) ((42 % n) + n) % n
              else GraftBucketFunction.bucketId(r.getLong(idx), n)
            writerFor(id).write(r)
          }
          override def commit(): WriterCommitMessage = {
            open.foreach(_._2._2.close())
            SnapFanoutMessage(open.toSeq.sortBy(_._1).map {
              case (id, (p, _)) => SnapBucketWriteMessage(p, id)
            })
          }
          override def abort(): Unit = {
            open.foreach { case (_, (p, w)) =>
              w.close(); Files.deleteIfExists(Paths.get(p)); ()
            }
          }
          override def close(): Unit = ()
        }
    }
  }
}
