package graft

import graft.rc.Esn
import graft.streaming.StreamingTwins
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** top-level so Spark can derive an Encoder */
case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Structured Streaming twins produce the same results as the batch
  * formulations on identical rows (SURVEY §5.6), including state carried
  * across micro-batches.
  */
class StreamingTwinSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** first 600 events of sf0.001 in arrival (event_id) order */
  private lazy val sample: Array[Ev] =
    T(spark, TestSpark.Sf, "events")
      .select(col("event_id"), col("ts").cast("timestamp"), col("user_id"),
        col("event_type"), col("value"))
      .orderBy("event_id").limit(600)
      .as[Ev].collect()

  private def runStream(twin: DataFrame => DataFrame,
      mode: String, batches: Seq[Seq[Ev]]): Array[org.apache.spark.sql.Row] = {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    val sinkName = s"twin_sink_${System.nanoTime()}"
    val query = twin(mem.toDF())
      .writeStream.format("memory").queryName(sinkName)
      .outputMode(mode).start()
    try {
      batches.foreach { b => mem.addData(b); query.processAllAvailable() }
      spark.table(sinkName).collect()
    } finally query.stop()
  }

  test("tumbling window twin equals batch result (complete mode)") {
    val batch = StreamingTwins.tumbling1h(sample.toSeq.toDF())
      .collect().map(_.toSeq).toSet
    val streamed = runStream(StreamingTwins.tumbling1h, "complete",
      Seq(sample.take(300).toSeq, sample.drop(300).toSeq))
      .map(_.toSeq).toSet
    assert(streamed == batch)
  }

  test("session window twin equals batch session aggregation (complete)") {
    val batch = StreamingTwins.session30m(sample.toSeq.toDF())
      .collect().map(_.toSeq).toSet
    val streamed = runStream(StreamingTwins.session30m, "complete",
      Seq(sample.take(300).toSeq, sample.drop(300).toSeq))
      .map(_.toSeq).toSet
    assert(streamed == batch)
  }

  test("streaming dedup keeps the first (min event_id) per key") {
    // single ordered batch: first-seen == min event_id
    val streamed = runStream(StreamingTwins.dedupFirst, "append",
      Seq(sample.toSeq))
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
        r.getAs[java.sql.Timestamp]("minute_bucket"),
        r.getAs[Long]("event_id"))).toSet
    val expected = sample.toSeq.toDF()
      .withColumn("minute_bucket", date_trunc("minute", col("ts")))
      .groupBy("user_id", "event_type", "minute_bucket")
      .agg(min("event_id").as("event_id"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
        r.getAs[java.sql.Timestamp]("minute_bucket"),
        r.getAs[Long]("event_id"))).toSet
    assert(streamed == expected)
  }

  test("watermarked tumbling twin runs in append mode and emits closed windows") {
    val rows = runStream(StreamingTwins.tumbling1hWatermarked, "append",
      Seq(sample.take(300).toSeq, sample.drop(300).toSeq))
    // append emits only watermark-closed windows: subset of the batch result
    val batch = StreamingTwins.tumbling1h(sample.toSeq.toDF())
      .collect().map(_.toSeq).toSet
    assert(rows.map(_.toSeq).toSet.subsetOf(batch))
  }

  test("transformWithState ESN twin matches flatMapGroupsWithState") {
    val m = Esn.matrices()
    val in = sample.take(300).map(e => StreamingTwins.EsnIn(e.event_id,
      e.ts.getTime * 1000, e.user_id, e.value))
    implicit val sq = spark.sqlContext
    StreamRun.withRocksDb(spark) {
      val mem = MemoryStream[StreamingTwins.EsnIn]
      val q = StreamingTwins.esnStatesTws(mem.toDS(), m)
        .writeStream.format("memory").queryName("esn_tws")
        .outputMode("append").start()
      mem.addData(in.take(150).toSeq); q.processAllAvailable()
      mem.addData(in.drop(150).toSeq); q.processAllAvailable(); q.stop()
    }
    val tws = spark.table("esn_tws").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(r => (r._1, r._2))

    val memF = MemoryStream[StreamingTwins.EsnIn]
    val qf = StreamingTwins.esnStates(memF.toDS(), m)
      .writeStream.format("memory").queryName("esn_fmg")
      .outputMode("append").start()
    memF.addData(in.toSeq); qf.processAllAvailable(); qf.stop()
    val fmg = spark.table("esn_fmg").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(r => (r._1, r._2))

    assert(tws.nonEmpty && tws.sameElements(fmg))
  }

  test("ESN state survives micro-batch boundaries identically to batch") {
    val m = Esn.matrices()
    val in = sample.map(e => StreamingTwins.EsnIn(e.event_id,
      e.ts.getTime * 1000, e.user_id, e.value))
    // batch: one pass over everything
    implicit val sq = spark.sqlContext
    val memB = MemoryStream[StreamingTwins.EsnIn]
    val q1 = StreamingTwins.esnStates(memB.toDS(), m)
      .writeStream.format("memory").queryName("esn_one").outputMode("append")
      .start()
    memB.addData(in.toSeq); q1.processAllAvailable(); q1.stop()
    val one = spark.table("esn_one").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(r => (r._1, r._2))

    // two micro-batches split mid-stream: state must carry over
    val memT = MemoryStream[StreamingTwins.EsnIn]
    val q2 = StreamingTwins.esnStates(memT.toDS(), m)
      .writeStream.format("memory").queryName("esn_two").outputMode("append")
      .start()
    memT.addData(in.take(300).toSeq); q2.processAllAvailable()
    memT.addData(in.drop(300).toSeq); q2.processAllAvailable(); q2.stop()
    val two = spark.table("esn_two").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(r => (r._1, r._2))

    assert(one.length == in.length)
    assert(one.sameElements(two),
      "streaming ESN diverges when state crosses batch boundaries")
  }
}
