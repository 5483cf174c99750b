package perfbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import graft.sources.{SnapTable, SnapTxn}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** `table_commit`: a closed loop with one client issuing a seeded sequence
  * of SnapTable/SnapTxn calls, alternating one write and one read, on a
  * table seeded from the sf0.01 `orders` (plus a 2-table transaction root).
  * The calls run in whole cycles of the [[Writes]]/[[Reads]] schedules.
  * Writes are append, merge on Zipf-skewed keys, deleteWhere, a 2-table
  * SnapTxn commit, and compact every 8th write; reads are
  * read, readVersion, readPoint, changes and latestVersion. Batches hold
  * 10² to 10³ rows and the log grows across the run.
  *
  * A plain in-memory model of the same writes checks every read that is
  * cheap to check and, at the end, the whole table.
  */
object TableCommit {
  /** The write and read schedules, cycled in step: 1:1 writes to reads,
    * compact every 8th write, each write with its batch size (rows; for
    * delete, four times the key range). The seed picks keys and values,
    * never the mix or the sizes, so every run does the same work. The mix
    * puts ten of each cycle's sixteen calls in the cheap cluster (reads,
    * point lookups, small appends), so the median call never falls in the
    * gap between the cheap and the costly calls. */
  val Writes: Seq[String] = Seq("append", "merge", "append", "delete",
    "txn_commit", "append", "merge", "compact")
  val Batches: Seq[Int] = Seq(100, 300, 200, 400, 1000, 300, 500, 0)
  val Reads: Seq[String] = Seq("read", "time_travel", "point", "changes",
    "head", "point", "time_travel", "read")
  final case class CallRec(kind: String, op: String, startMs: Long,
      endMs: Long, s: Double, error: String) {
    def toMap: Map[String, Any] = Map("kind" -> kind, "op" -> op,
      "start_ms" -> startMs, "end_ms" -> endMs, "s" -> s,
      "error" -> Option(error))
  }

  /** The state of one run: the table, the transaction root and the model. */
  final class State(val root: String, val txroot: String,
      val schema: StructType, base: Seq[Row]) {
    val model = mutable.LinkedHashMap[Long, Row]()
    base.foreach(r => model(r.getLong(0)) = r)
    var nextKey: Long = (model.keys.max + 1L)
    val sizeAt = mutable.Map[Int, Int]() // table version -> row count
    var txRows = 0L
    var rowsWritten = 0L
    var bytesAtStart = 0.0
  }

  /** Creates the table from `df` (whose rows are `base`) and the
    * transaction root: the set-up work. */
  def setup(s: SparkSession, df: DataFrame, base: Seq[Row],
      dir: String): State = {
    val root = s"$dir/orders"
    val txroot = s"$dir/tx"
    val schema = df.schema
    SnapTable.create(s, root, df, "o_orderkey")
    Seq("a", "b").foreach(t =>
      SnapTable.create(s, s"$txroot/$t", df.limit(100), "o_orderkey"))
    SnapTxn.init(txroot, Seq("a", "b"))
    val st = new State(root, txroot, schema, base)
    st.sizeAt(SnapTable.latestVersion(root)) = st.model.size
    st.bytesAtStart = dataBytes(root)
    st
  }

  private def zipfKey(rng: scala.util.Random, n: Int): Int = {
    // continuous Zipf(1) rank over 1..n
    val r = math.exp(rng.nextDouble() * math.log(n.toDouble)).toInt
    math.max(1, math.min(n, r)) - 1
  }

  private def row(st: State, key: Long, rng: scala.util.Random): Row =
    Row(key, rng.nextInt(15000).toLong,
      Seq("O", "F", "P")(rng.nextInt(3)),
      math.round(rng.nextDouble() * 49899127 + 100191) / 100.0,
      java.time.LocalDateTime.of(1995, 1, 1, 0, 0)
        .plusDays(rng.nextInt(2404).toLong),
      Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")(rng.nextInt(5)))

  private def frame(s: SparkSession, st: State, rows: Seq[Row]) =
    s.createDataFrame(java.util.Arrays.asList(rows: _*), st.schema)

  /** One write call; returns its op name. Keeps the model in step. */
  private def write(s: SparkSession, st: State, rng: scala.util.Random,
      nWrite: Int): String = {
    val op = Writes(nWrite % Writes.size)
    val batch = Batches(nWrite % Writes.size)
    op match {
      case "append" =>
        val rows = (0 until batch).map(i => row(st, st.nextKey + i, rng))
        st.nextKey += batch
        SnapTable.append(s, st.root, frame(s, st, rows))
        rows.foreach(r => st.model(r.getLong(0)) = r)
      case "merge" =>
        val keys = st.model.keysIterator.toIndexedSeq
        val picked = (0 until batch).map(_ => keys(zipfKey(rng, keys.size)))
          .distinct
        val rows = picked.map(k => row(st, k, rng))
        SnapTable.merge(s, st.root, frame(s, st, rows), "o_orderkey")
        rows.foreach(r => st.model(r.getLong(0)) = r)
      case "delete" =>
        val lo = rng.nextInt(math.max(1, st.nextKey.toInt - batch)).toLong
        val hi = lo + batch / 4
        SnapTable.deleteWhere(s, st.root,
          col("o_orderkey").between(lo, hi))
        st.model.keys.filter(k => k >= lo && k <= hi).toSeq
          .foreach(st.model.remove)
      case "txn_commit" =>
        val rows = (0 until batch).map(i => row(st, 10000000L + i, rng))
        SnapTxn.commit(s, st.txroot, Seq(
          "a" -> frame(s, st, rows.take(batch / 2)),
          "b" -> frame(s, st, rows.drop(batch / 2))))
        st.txRows += batch
      case "compact" =>
        SnapTable.compact(s, st.root, 4)
    }
    if (op != "compact" && op != "delete") st.rowsWritten += batch
    if (op != "txn_commit")
      st.sizeAt(SnapTable.latestVersion(st.root)) = st.model.size
    op
  }

  /** One read call; returns (op name, error if its result is wrong). */
  private def read(s: SparkSession, st: State, rng: scala.util.Random,
      nRead: Int): (String, String) = {
    val v = SnapTable.latestVersion(st.root)
    Reads(nRead % Reads.size) match {
      case "read" =>
        val d = Digest.of(SnapTable.read(s, st.root))
        val n = d.takeWhile(_ != ':').toLong
        ("read", if (n == st.model.size) null
          else s"read saw $n rows, model has ${st.model.size}")
      case "time_travel" =>
        val old = st.sizeAt.keys.toSeq.sorted
        val ver = old(rng.nextInt(old.size))
        val d = Digest.of(SnapTable.readVersion(s, st.root, ver))
        val n = d.takeWhile(_ != ':').toLong
        ("time_travel", if (n == st.sizeAt(ver)) null
          else s"version $ver has $n rows, model had ${st.sizeAt(ver)}")
      case "point" =>
        val keys = st.model.keysIterator.toIndexedSeq
        val k = keys(zipfKey(rng, keys.size))
        val got = SnapTable.readPoint(s, st.root, "o_orderkey", k)._1
          .collect().toSeq
        ("point", if (got == Seq(st.model(k))) null
          else s"point $k read ${got.mkString(";")}, model ${st.model(k)}")
      case "changes" =>
        val from = math.max(1, v - 3)
        Digest.of(SnapTable.changes(s, st.root, from, v, "o_orderkey"))
        ("changes", null)
      case "head" =>
        val h = SnapTable.latestVersion(st.root)
        ("head", if (h == v) null else s"head moved from $v to $h")
    }
  }

  /** Runs `cycles` whole cycles of the schedule. Returns the calls and
    * each cycle's wall time. */
  def run(s: SparkSession, st: State, seed: Long, cycles: Int,
      trace: Option[Trace]): (Seq[CallRec], Seq[Double]) = {
    val walls = ArrayBuffer[Double]()
    var c0 = Clock.now()
    val recs = loop(s, st, seed, trace) { n =>
      if (n % Writes.size != 0) true
      else {
        if (n > 0) { walls += Clock.now() - c0; c0 = Clock.now() }
        n < cycles * Writes.size
      }
    }
    (recs, walls.toSeq)
  }

  /** Runs exactly `pairs` write/read pairs. */
  def runPairs(s: SparkSession, st: State, seed: Long, pairs: Int)
      : Seq[CallRec] = loop(s, st, seed, None)(_ < pairs)

  private def loop(s: SparkSession, st: State, seed: Long,
      trace: Option[Trace])(more: Int => Boolean): Seq[CallRec] = {
    val rng = new scala.util.Random(seed)
    val recs = ArrayBuffer[CallRec]()
    var nWrite = 0
    def call(kind: String)(f: => (String, String)): Unit = {
      val a = System.currentTimeMillis()
      val c0 = Clock.now()
      val (op, err) =
        try trace match {
          case Some(t) => t.span(kind, "call")(_ => f)
          case None => f
        } catch {
          case e: Throwable => (kind, s"${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(300).replace('\n', ' '))
        }
      recs += CallRec(kind, op, a, System.currentTimeMillis(),
        Clock.now() - c0, err)
    }
    while (more(nWrite)) {
      call("write")((write(s, st, rng, nWrite), null))
      nWrite += 1
      call("read")(read(s, st, rng, nWrite - 1))
    }
    recs.toSeq
  }

  /** Final check: the table equals the model; the transaction tables hold
    * every committed row. Returns the mismatches. */
  def verify(s: SparkSession, st: State): Seq[String] = {
    val got = Digest.of(SnapTable.read(s, st.root))
    val want = Digest.of(frame(s, st, st.model.values.toSeq))
    val txGot = Seq("a", "b").map(t =>
      SnapTxn.read(s, st.txroot, t).count()).sum
    Seq(
      if (got == want) None
      else Some(s"final table digest $got != model $want"),
      if (txGot == st.txRows + 200) None
      else Some(s"tx tables hold $txGot rows, expected ${st.txRows + 200}"))
      .flatten
  }

  private def tree(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(tree)
    else Seq(f)

  private def dataBytes(root: String): Double =
    tree(new File(root)).filter(_.getName.endsWith(".parquet"))
      .map(_.length).sum.toDouble

  /** Per-layer counters of a traced run. */
  def layerMetrics(s: SparkSession, recs: Seq[CallRec], st: State,
      t: Trace, cores: Int, rowBytes: Double): Map[String, Double] = {
    t.drain()
    def p50(op: String) = Stats.median(recs.filter(_.op == op).map(_.s))
    val heads = recs.filter(_.op == "head").map(_.s)
    val tenth = math.max(1, heads.size / 10)
    val headGrowth =
      if (heads.size < 2) 1.0
      else Stats.median(heads.takeRight(tenth)) /
        math.max(1e-9, Stats.median(heads.take(tenth)))
    val writes = recs.filter(_.kind == "write")
    val writeJobs = writes.map(r => t.jobsIn(r.startMs, r.endMs).size).sum
    val files = tree(new File(st.root))
    val logFiles = files.count(_.getPath.contains(s"${File.separator}_log"))
    val onDisk = dataBytes(st.root)
    val live = SnapTable.read(s, st.root).inputFiles
      .map(p => new File(new java.net.URI(p)).length).sum.toDouble
    Map(
      "sources.append_s" -> p50("append"), "sources.merge_s" -> p50("merge"),
      "sources.delete_s" -> p50("delete"),
      "sources.compact_s" -> p50("compact"),
      "sources.txn_commit_s" -> p50("txn_commit"),
      "sources.head_s" -> p50("head"), "sources.read_s" -> p50("read"),
      "sources.time_travel_s" -> p50("time_travel"),
      "sources.point_s" -> p50("point"), "sources.changes_s" -> p50("changes"),
      "sources.head_growth" -> headGrowth,
      "sources.jobs_per_write" ->
        (if (writes.isEmpty) 0.0 else writeJobs.toDouble / writes.size),
      "sources.log_files" -> logFiles.toDouble,
      "sources.write_amp" -> (onDisk - st.bytesAtStart) /
        math.max(1.0, st.rowsWritten * rowBytes),
      "sources.space_amp" -> onDisk / math.max(1.0, live)) ++
      t.sparkCounters(recs.map(r => (r.startMs, r.endMs)), cores) ++
      t.catalystCounters(recs.map(r => (r.startMs, r.endMs)))
  }
}
