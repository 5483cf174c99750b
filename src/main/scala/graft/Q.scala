package graft

import graft.sources.ParquetMeta
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.LongType

/** One declared operator: a Spark pipeline plus (when SQL-expressible) the
  * equivalent DuckDB oracle statement the driver replays on the same parquet
  * files. Determinism contract (SURVEY.md §2): every query ends in a total
  * ORDER BY over a unique key, every floating aggregate is rounded to a fixed
  * scale on BOTH sides, every derived integer is cast to BIGINT on BOTH
  * sides, and `events.ts` (ns in parquet, µs in Spark) is compared only
  * after `CAST(ts AS TIMESTAMP)` in the oracle / `date_trunc` in outputs.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

trait QueryModule {
  def queries: Seq[Q]
}

/** Table loader. One parquet file per table per scale factor; schema comes
  * from the footer (schema-on-read). For a regular file the footer is read
  * on the driver ([[graft.sources.ParquetMeta]]) and the frame is read
  * with that schema, so building it schedules zero Spark jobs; without
  * one, Spark would run a schema-inference job per call. A directory (the
  * cluster-scale layout, e.g. `ScaleFixture`'s) keeps Spark's inference,
  * with partition discovery and summary files; so does a missing path,
  * which then fails with Spark's own `AnalysisException`.
  *
  * `events.ts` has shipped as TIMESTAMP(NANOS) in some testdata
  * generations and TIMESTAMP(MICROS) in others, so the loader adapts to
  * the footer: NANOS is unreadable as a timestamp in Spark 4, so it is
  * read as raw nanos (`nanosAsLong`, set on the session only for a NANOS
  * footer — a directory's is read from one of its part files) and
  * truncated to µs — exactly
  * DuckDB's `CAST(ts AS TIMESTAMP)` semantics (verified: DuckDB
  * truncates, and `ts div 1000` on positive longs truncates
  * identically); MICROS reads natively and only needs the NTZ cast.
  * Either way downstream sees `ts TIMESTAMP_NTZ` at µs precision.
  */
object T {
  def apply(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = ParquetMeta.fileFooter(s, path) match {
      case Some(footer) =>
        // before the conversion: the converter rejects NANOS without it
        if (name == "events" && ParquetMeta.timestampNanos(footer, "ts"))
          readNanosAsLong(s)
        s.read.schema(ParquetMeta.schema(s, path, footer)).parquet(path)
      case None =>
        if (name == "events" && ParquetMeta.partFooter(s, path)
            .exists(ParquetMeta.timestampNanos(_, "ts")))
          readNanosAsLong(s)
        s.read.parquet(path)
    }
    if (name != "events") df
    else df.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS)
        df.withColumn("ts",
          expr("CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)"))
      case _ => // native timestamp footer (µs)
        df.withColumn("ts", col("ts").cast("timestamp_ntz"))
    }
  }

  /** Lets Spark read TIMESTAMP(NANOS) parquet columns, as raw longs. Both
    * the schema conversion and the scan itself need it on the session. */
  private[graft] def readNanosAsLong(s: SparkSession): Unit =
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Exact row count of a fixture table from parquet footers only —
    * zero Spark jobs (see [[graft.sources.ParquetMeta]]). The sizing
    * input for the IVF/ANN cell splits. */
  def rows(s: SparkSession, dir: String, name: String): Long =
    ParquetMeta.rowCount(s, s"$dir/$name.parquet")
}

/** Per-JVM scratch space for the side-effecting source/sink operators.
  * Everything lives under one session root that a shutdown hook deletes
  * recursively — repeated bench/verify runs no longer leak temp dirs.
  */
object Tmp {
  private lazy val root: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_session")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
      catch { case _: Throwable => () }))
    p
  }
  def dir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(root, prefix).toString
}

/** Sizing for live Structured Streaming runs.
  *
  * A streaming query captures `spark.sql.shuffle.partitions` at its first
  * batch and that fixes the StateStore partition count for the checkpoint's
  * lifetime. Sizing it to input parallelism (the batch default) is wrong for
  * state: every micro-batch commits EVERY state partition (delta file +
  * maintenance bookkeeping; a stream-stream join keeps four stores per
  * partition), so an oversized count multiplies fixed per-batch I/O while
  * each partition holds a sliver of state. Production practice is to size
  * state partitions to state VOLUME, not core count — the fixture streams
  * carry at most a few thousand keys, so 4 partitions keeps the per-batch
  * commit cost flat while the stateless file-scan side still parallelizes
  * at the source. The session conf is restored afterward so the post-stream
  * batch aggregations run at full width.
  */
object StreamRun {
  def withStateParts[A](s: SparkSession, n: Int = 4)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  /** Runs `body` with the RocksDB state store provider, then restores the
    * session's previous provider (or unsets it). `transformWithState`
    * needs RocksDB: its timers and list/map state use multiple column
    * families, which the default HDFS-backed store does not have. */
  def withRocksDb[A](s: SparkSession)(body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    try body finally prev match {
      case Some(p) => s.conf.set(key, p)
      case None => s.conf.unset(key)
    }
  }
}

/** Pack an ordered (a, b) id pair into ONE long — ids must fit 32 bits.
  * The bound is ENFORCED per row (a negative or >= 2^32 id raises instead
  * of silently merging distinct pairs in the downstream distinct() and
  * emitting corrupted ids from left/right); at >2^32 rows switch to a
  * struct key. Halves the shuffle width of pair-dedup exchanges; used by
  * the LSH candidate dedups.
  */
object Pack {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{concat_ws, lit, raise_error, shiftleft, shiftrightunsigned, when}
  def pair(a: Column, b: Column): Column =
    // one integer compare per row in codegen; the error branch's string
    // concat is only evaluated when it fires
    when((a.bitwiseOR(b)).bitwiseAND(lit(0xffffffff00000000L)) =!= 0L,
        raise_error(concat_ws(",",
          lit("Pack.pair: id outside [0, 2^32):"), a, b)))
      .otherwise(shiftleft(a, 32).bitwiseOR(b))
  // unsigned shift: an id >= 2^31 sets the sign bit after packing, and an
  // arithmetic >> would sign-extend it (AlgProperties pins the roundtrip
  // over the full unsigned-32-bit range)
  def left(pk: Column): Column = shiftrightunsigned(pk, 32)
  def right(pk: Column): Column = pk.bitwiseAND(lit(0xffffffffL))
}

/** Guard for the O(n²) exactness baselines (pair-cosine, exact Jaccard,
  * bounded cross joins). Those ops ARE the oracles for the LSH/IVF scale
  * paths and are only defensible on a bounded slice — this makes the bound
  * an enforced invariant instead of a scaladoc promise: point one at an
  * unbounded table and it fails fast instead of melting a cluster with a
  * quadratic join. The count is a parquet-footer read when `df` is a bare
  * table scan — keep the guard on the RAW table, before any projection.
  */
object Guard {
  val MaxQuadraticRows = 100000L
  def quadratic(
      df: DataFrame, what: String,
      cap: Long = MaxQuadraticRows): Unit = {
    val n = df.count()
    require(n <= cap,
      s"$what: $n input rows exceed the O(n²) exactness-baseline cap " +
        s"$cap — use the bucketed scale path (MinHash/SimHash LSH, IVF) " +
        "instead")
  }
}

/** Deterministic cross-engine floating-point policy.
  *
  * `round(x, s)` is NOT portable: on the same double, Spark rounds the
  * shortest decimal representation (BigDecimal.valueOf → HALF_UP) while
  * DuckDB scales in binary — they disagree at decimal tie boundaries
  * (observed on sf0.001). And `round(sum(double), s)` is not even stable
  * within one engine: partial-aggregation order varies per run.
  *
  * Policy:
  *  - dround: scale to an integer, round at scale 0 (half-away-from-zero —
  *    identical in both engines on identical doubles), divide back.
  *  - dsum: per-row scale-to-int (deterministic), then an INTEGER sum
  *    (associative — immune to aggregation order), divide back. Money
  *    columns here have ≤2 decimal digits, products ≤6 — int64 holds
  *    ~9.2e18, fine to petabyte-scale sums; beyond that switch to
  *    sum(DECIMAL).
  */
object Det {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{round, sum, lit}
  def dround(c: Column, s: Int): Column = {
    val f = math.pow(10, s)
    round(c * f) / f
  }
  def dsum(c: Column, s: Int): Column = {
    val f = math.pow(10, s)
    sum(round(c * f).cast("long")) / f
  }
  /** Deterministic average of a NON-integral double column: per-row
    * scale-to-int at 1e8, integer sum (associative — immune to partial-agg
    * order), divide by count, round to `s` decimals. Integral-valued double
    * columns don't need this: their double sums are exact below 2^53, so
    * plain round(avg(x), s) is already portable.
    */
  def davg(c: Column, s: Int): Column = {
    val out = math.pow(10, s)
    round(sum(round(c * 1e8).cast("long")) / org.apache.spark.sql.functions
      .count(c) / math.pow(10, 8 - s)) / out
  }
  /** oracle-SQL texts for the same three (identical semantics in DuckDB) */
  def droundSql(x: String, s: Int): String =
    s"round(($x) * 1e$s) / 1e$s"
  def dsumSql(x: String, s: Int): String =
    s"sum(CAST(round(($x) * 1e$s) AS BIGINT)) / 1e$s"
  def davgSql(x: String, s: Int): String =
    s"round(sum(CAST(round(($x) * 1e8) AS BIGINT)) / count($x) / 1e${8 - s}) / 1e$s"
}
