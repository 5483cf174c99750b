package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite, built by the engine's
  * own factory so the suite runs under the settings graft ships. */
object TestSpark {
  lazy val spark: SparkSession = Session.local(4,
    "spark.app.name" -> "graft-test")
  val Sf = "/root/testdata/sf0.001"
}
