package graft

import graft.graph.Cc
import graft.text.TextAlgs
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.CollectMetricsExec
import org.scalatest.funsuite.AnyFunSuite

/** Pins the one connected-components kernel, `graft.graph.Cc`:
  *
  *  - `text_dedup_cc`, a thin caller, equals a driver-side union-find
  *    over its Jaccard >= 0.8 edges at sf0.001;
  *  - the convergence certificate's `CollectMetrics` runs only in
  *    result tasks, whose accumulator updates Spark applies once per
  *    partition — the reason the certificate is exact under task
  *    retries and speculation.
  */
class CcSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("text_dedup_cc equals a driver-side union-find over its Jaccard " +
      ">= 0.8 edges") {
    val docs = T(spark, TestSpark.Sf, "documents")
      .filter($"lang" === "en" && $"source".isin("src0", "src1"))
      .select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split(" ", -1).toSet }.toSeq
    val edges = for {
      (a, sa) <- docs
      (b, sb) <- docs
      if a < b
      if math.round(TextAlgs.jaccard(sa, sb) * 1e6) / 1e6 >= 0.8
    } yield (a, b)
    val want = CcSpec.components(docs.map(_._1), edges)
    val got = SparkEntry.queries("text_dedup_cc")(spark, TestSpark.Sf)
      .as[(Long, Long)].collect().toSeq
    assert(got.map(_._1) === got.map(_._1).sorted, "not ordered by doc_id")
    assert(got.toMap === want)
    // the slice really has duplicate clusters to merge
    assert(want.exists { case (d, c) => d != c })
  }

  test("the certificate's CollectMetrics runs only in result tasks") {
    val sc = spark.sparkContext
    val group = s"cc_cert_${System.nanoTime()}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val taskTypes = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.jobGroup.id") == group))
          e.stageIds.foreach(stages.add)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskInfo.accumulables.exists(
            _.name.contains(CollectMetricsExec.ACCUMULATOR_NAME)))
          taskTypes.add(e.taskType)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "Cc certificate stages")
    try {
      // a 6-node chain: several propagate + jump rounds before the
      // fixed point
      val nodes = (1L to 6L).toDF("id")
      val edges = (1L to 5L).map(i => (i, i + 1)).toDF("a", "b")
      val comp = Cc.minLabel(spark, nodes, edges, "spec:cert")
        .as[(Long, Long)].collect().toMap
      assert(comp === (1L to 6L).map(_ -> 1L).toMap)
      org.apache.spark.GraftTestHooks.drainEvents(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(taskTypes.contains("ResultTask"),
      "no task of the kernel's jobs reported the certificate's metrics")
    assert(taskTypes.size === 1,
      s"CollectMetrics ran in ${taskTypes}: a shuffle-map task's " +
        "re-execution double-counts its update")
  }
}

object CcSpec {

  /** Min-id connected components of `edges` over `nodes`, by a
    * driver-side union-find whose root is always the component's
    * smallest id. */
  def components(nodes: Iterable[Long],
      edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    nodes.foreach(n => parent(n) = n)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    nodes.map(n => n -> find(n)).toMap
  }
}
