package graft

import graft.ops.EventOps
import graft.sources.ParquetMeta
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.TimestampNTZType
import org.scalatest.funsuite.AnyFunSuite

/** Pins the two properties the ANN sizing path relies on
  * (VERDICT-r10 #3): ParquetMeta.rowCount equals the scan-based count,
  * and computing it schedules ZERO Spark jobs — the op's first job is
  * the pipeline itself, never a sizing pass. The same two properties
  * hold for the table loader `T`: its footer-derived schema equals
  * Spark's inferred one, and building a fixture frame runs no job.
  */
class ParquetMetaSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("footer rowCount equals df.count() on single-file fixtures") {
    for (t <- Seq("embeddings", "documents", "nation")) {
      val expect = spark.read.parquet(s"${TestSpark.Sf}/$t.parquet").count()
      assert(ParquetMeta.rowCount(spark, s"${TestSpark.Sf}/$t.parquet")
        === expect, t)
      assert(T.rows(spark, TestSpark.Sf, t) === expect, t)
    }
  }

  test("footer rowCount sums a partitioned multi-file directory") {
    val dir = Tmp.dir("pqmeta_part")
    spark.range(0, 1000)
      .selectExpr("id", "id % 7 AS p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    assert(ParquetMeta.rowCount(spark, dir) === 1000L)
    // stale committer debris (a parquet file under a _temporary/ or
    // .hidden/ subdir) must not inflate the count — filtering is by
    // path component, like Spark's own file index
    val tmp = new java.io.File(s"$dir/_temporary/0")
    tmp.mkdirs()
    spark.range(0, 50).coalesce(1).write
      .parquet(s"$dir/_temporary/0/attempt")
    val hid = new java.io.File(s"$dir/.staging")
    hid.mkdirs()
    spark.range(0, 30).coalesce(1).write.parquet(s"$dir/.staging/x")
    assert(ParquetMeta.rowCount(spark, dir) === 1000L,
      "hidden-subdir parquet files leaked into the count")
  }

  test("longStats equals scan-based min/max and proves id density") {
    import org.apache.spark.sql.functions._
    for (t <- Seq("embeddings", "documents")) {
      val idCol = if (t == "embeddings") "vec_id" else "doc_id"
      val df = spark.read.parquet(s"${TestSpark.Sf}/$t.parquet")
      val r = df.agg(min(idCol), max(idCol)).first()
      assert(ParquetMeta.longStats(spark, s"${TestSpark.Sf}/$t.parquet",
        idCol) === ((r.getLong(0), r.getLong(1))), t)
    }
    // the density derivation the incremental IVF sizing relies on:
    // n rows spanning exactly [0, n-1] with zero Spark jobs
    val n = ParquetMeta.rowCount(spark, s"${TestSpark.Sf}/embeddings.parquet")
    val (lo, hi) = ParquetMeta.longStats(spark,
      s"${TestSpark.Sf}/embeddings.parquet", "vec_id")
    assert(lo === 0L && hi === n - 1)
  }

  test("longStats spans multi-file partitioned layouts; unknown column fails") {
    val dir = Tmp.dir("pqmeta_stats_part")
    spark.range(5, 505)
      .selectExpr("id", "id % 7 AS p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    assert(ParquetMeta.longStats(spark, dir, "id") === ((5L, 504L)))
    val e = intercept[IllegalArgumentException] {
      ParquetMeta.longStats(spark, dir, "nope")
    }
    assert(e.getMessage.contains("no column"))
  }

  test("longStats schedules zero Spark jobs") {
    assertZeroJobs("pqmeta-stats-zero-jobs") {
      ParquetMeta.longStats(spark,
        s"${TestSpark.Sf}/embeddings.parquet", "vec_id")
    }
  }

  test("rowCount refuses a visible non-parquet data file (ADVICE-r11)") {
    val dir = Tmp.dir("pqmeta_mixed")
    spark.range(0, 100).write.mode("overwrite").parquet(dir)
    // a non-Spark writer's suffix-less data file: silently skipping it
    // would undercount and skew IVF sizing with no error
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "data-0001.orc"), "not parquet")
    val e = intercept[IllegalArgumentException] {
      ParquetMeta.rowCount(spark, dir)
    }
    assert(e.getMessage.contains("non-parquet data file"))
  }

  test("rowCount schedules zero Spark jobs") {
    assertZeroJobs("pqmeta-zero-jobs") {
      ParquetMeta.rowCount(spark, s"${TestSpark.Sf}/embeddings.parquet")
    }
  }

  private val fixtures = new java.io.File(TestSpark.Sf).list().toSeq
    .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted

  test("T builds every fixture frame with zero Spark jobs") {
    assert(fixtures.contains("events"), fixtures)
    for (t <- fixtures)
      assertZeroJobs(s"pqmeta-t-zero-jobs-$t")(T(spark, TestSpark.Sf, t))
  }

  test("T's schema equals Spark's inferred schema for every fixture") {
    for (t <- fixtures) {
      val inferred = spark.read.parquet(s"${TestSpark.Sf}/$t.parquet")
      // events.ts is the loader's one conversion: µs TIMESTAMP_NTZ
      val expect =
        if (t == "events") inferred.withColumn("ts",
          col("ts").cast("timestamp_ntz")).schema
        else inferred.schema
      assert(T(spark, TestSpark.Sf, t).schema === expect, t)
    }
  }

  test("T keeps Spark's inference for directory tables") {
    val dir = Tmp.dir("pqmeta_t_dir")
    spark.range(0, 100).selectExpr("id", "CAST(id AS STRING) AS s")
      .write.parquet(s"$dir/plain.parquet")
    spark.range(0, 100).selectExpr("id", "id % 3 AS p")
      .write.partitionBy("p").parquet(s"$dir/parted.parquet")
    for (t <- Seq("plain", "parted")) {
      val df = T(spark, dir, t)
      assert(df.schema === spark.read.parquet(s"$dir/$t.parquet").schema, t)
      assert(df.count() === 100L, t)
    }
    assert(T(spark, dir, "parted").columns.contains("p"),
      "partition discovery")
  }

  test("T of a missing table fails with Spark's AnalysisException") {
    val dir = Tmp.dir("pqmeta_t_missing")
    for (t <- Seq("nope", "events")) {
      val e = intercept[AnalysisException](T(spark, dir, t))
      assert(e.getClass === classOf[AnalysisException], t)
    }
  }

  test("T(events) leaves the session conf alone for a MICROS footer") {
    val s = spark.newSession()
    assert(s.conf.get(NanosAsLong) === "false")
    val df = T(s, TestSpark.Sf, "events")
    assert(df.schema("ts").dataType === TimestampNTZType)
    assert(s.conf.get(NanosAsLong) === "false",
      "nanosAsLong set for a MICROS footer")
    EventOps.liveEvents(s, TestSpark.Sf)
    assert(s.conf.get(NanosAsLong) === "false",
      "liveEvents set nanosAsLong for a MICROS footer")
  }

  test("T(events) leaves the session conf alone for a MICROS directory") {
    val dir = Tmp.dir("pqmeta_t_micros_dir")
    // Spark writes TIMESTAMP_NTZ as INT64 TIMESTAMP(MICROS)
    T(spark, TestSpark.Sf, "events").write.parquet(s"$dir/events.parquet")
    assert(new java.io.File(s"$dir/events.parquet").isDirectory)
    val footer = ParquetMeta.partFooter(spark, s"$dir/events.parquet")
    assert(footer.exists(!ParquetMeta.timestampNanos(_, "ts")))
    val s = spark.newSession()
    val df = T(s, dir, "events")
    assert(s.conf.get(NanosAsLong) === "false",
      "nanosAsLong set for a MICROS directory")
    assert(df.schema("ts").dataType === TimestampNTZType)
    assert(df.count() === T(spark, TestSpark.Sf, "events").count())
  }

  test("T(events) reads a TIMESTAMP(NANOS) footer as truncated µs") {
    val dir = Tmp.dir("pqmeta_t_nanos")
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,false));
        |}""".stripMargin)
    val conf = new Configuration()
    val w = ExampleParquetWriter
      .builder(new Path(s"$dir/events.parquet"))
      .withConf(conf).withType(schema).build()
    val nanos = Seq(1700000000123456789L, 1700000000999999999L)
    val groups = new SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      w.write(groups.newGroup().append("event_id", i.toLong)
        .append("ts", ns))
    } finally w.close()
    val footer =
      ParquetMeta.fileFooter(spark, s"$dir/events.parquet").get
    assert(ParquetMeta.timestampNanos(footer, "ts"))
    assert(!ParquetMeta.timestampNanos(footer, "event_id"))

    val s = spark.newSession()
    val df = T(s, dir, "events")
    assert(s.conf.get(NanosAsLong) === "true")
    assert(df.schema("ts").dataType === TimestampNTZType)
    assert(EventOps.liveEvents(s, dir).schema("ts").dataType ===
      TimestampNTZType)
    val got = df.orderBy("event_id").collect()
      .map(_.getAs[java.time.LocalDateTime]("ts")).toSeq
    val expect = nanos.map { ns =>
      java.time.LocalDateTime.ofEpochSecond(ns / 1000000000L,
        (ns % 1000000000L / 1000 * 1000).toInt, java.time.ZoneOffset.UTC)
    }
    assert(got === expect)
  }

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Asserts that `body` schedules no Spark job. Jobs are counted per job
    * group, so late bus events from earlier tests cannot leak in. A
    * sentinel action follows `body` (a bare RDD count is exactly ONE job;
    * an AQE DataFrame action can run several): the listener bus is FIFO,
    * so once the sentinel's job arrives, any job `body` had scheduled
    * would already be here. */
  private def assertZeroJobs(group: String)(body: => Any): Unit = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
          group == j.properties.getProperty("spark.jobGroup.id"))
          jobs.add(j.jobId)
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(group, "zero-jobs pin")
    try {
      body
      spark.sparkContext.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (jobs.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(jobs.size === 1,
        s"$group: expected only the sentinel job, saw ${jobs.size}")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
  }
}
