package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds a `SparkSession`: the mains, the examples
  * and the test suite all run under the settings below, so they cannot
  * drift apart. A caller adds only the settings that belong to it (an
  * app name, an output format) as `extra`, which are applied last.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, default 8: the fastest full sf0.1 bench of
    * {4,8,16,32} local cores. Above 8 the per-task scheduling overhead of
    * toy-scale partitions dominates; at 4 the wide ops are
    * parallelism-starved (192 s vs ~125 s). */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt

  /** A `local[cpus]` session with graft's extensions, `cpus` shuffle
    * partitions and the UTC session time zone, log level WARN. */
  def local(cpus: Int, extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // size-targeted AQE coalescing (the production setting for big
      // inputs too): with the default parallelismFirst=true AQE refuses
      // to coalesce below the parallelism, so at bench scale every tiny
      // shuffle pays `cpus` task launches
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      // single-JVM locality is meaningless; don't wait for it
      .config("spark.locality.wait", "0s")
      .config("spark.ui.enabled", "false")
      // one time zone for every run, whatever the host's: timestamp
      // casts, watermarks and the oracle compare all assume UTC
      .config("spark.sql.session.timeZone", "UTC")
    val s = extra.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
