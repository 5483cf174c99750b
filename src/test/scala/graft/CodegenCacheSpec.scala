package graft

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.graftx.Bridge
import org.scalatest.funsuite.AnyFunSuite

/** `GraftExtensions` sizes Spark's JVM-wide generated-class cache, so a
  * query shape that ran before reuses its compiled class instead of
  * paying Janino again. At Spark's default of 100 entries a round of
  * 150 shapes evicts each class before its next use.
  */
class CodegenCacheSpec extends AnyFunSuite {
  private val key = "spark.sql.codegen.cache.maxEntries"
  private val size = Bridge.CodegenCacheEntries.toString

  test("the Bridge helper sets the size when absent and keeps a set one") {
    val absent = new SparkConf(false)
    Bridge.sizeCodegenCache(absent)
    assert(absent.get(key) === size)
    val explicit = new SparkConf(false).set(key, "42")
    Bridge.sizeCodegenCache(explicit)
    assert(explicit.get(key) === "42")
  }

  test("a session built with GraftExtensions carries the cache size") {
    assert(TestSpark.spark.conf.get(key) === size)
  }

  test("150 generated projections compile once, not again on a rerun") {
    val spark = TestSpark.spark
    // the literal is inlined into the generated source: 150 classes
    val shapes = (1 to 150).map(i =>
      spark.range(2).selectExpr(s"id * 3 + $i AS v"))
    def round(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      shapes.zipWithIndex.foreach { case (df, i) =>
        assert(df.collect().map(_.getLong(0)).toSeq === Seq(i + 1L, i + 4L))
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val first = round()
    assert(first >= shapes.size, "each shape compiles its own class")
    assert(round() === 0L, s"recompiled after $first first-round compiles")
  }
}
