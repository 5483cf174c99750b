package graft

import org.apache.spark.sql.internal.StaticSQLConf
import org.scalatest.funsuite.AnyFunSuite

/** The suite's session comes from `graft.Session.local`, so every spec
  * runs under the settings the engine ships with. */
class SessionSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("the suite's session carries every shared session setting") {
    val sc = spark.sparkContext.getConf
    assert(sc.get("spark.master") === "local[4]")
    assert(spark.conf.get(StaticSQLConf.SPARK_SESSION_EXTENSIONS.key) ===
      "graft.GraftExtensions")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst") === "false")
    assert(sc.get("spark.locality.wait") === "0s")
    assert(sc.get("spark.ui.enabled") === "false")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
  }

  test("the session settings come from the factory, not the JVM") {
    // a -Dspark.* system property would reach every SparkConf in the
    // JVM and mask a setting the factory lost
    Seq("spark.sql.session.timeZone", "spark.ui.enabled").foreach { k =>
      assert(sys.props.get(k) === None, s"$k is a JVM system property")
    }
  }

  test("a caller's own settings ride along") {
    assert(spark.sparkContext.appName === "graft-test")
  }
}
