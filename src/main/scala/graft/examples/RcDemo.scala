package graft.examples

import graft.rc.RcPipeline
import graft.Session
import org.apache.spark.sql.functions._

/** End-to-end reservoir-computing example (the reference's "example
  * runner" shape): generate chaotic series from the custom `rcseries`
  * source, train the ESN ridge readout, score the held-out tails, print
  * one JSON line per key.
  *
  * Usage: runMain graft.examples.RcDemo [keys] [n] [horizon]
  */
object RcDemo {
  def main(args: Array[String]): Unit = {
    val keys = args.headOption.map(_.toInt).getOrElse(8)
    val n = args.lift(1).map(_.toInt).getOrElse(1000)
    val horizon = args.lift(2).map(_.toInt).getOrElse(1)
    val spark = Session.local(Session.cpus)
    import spark.implicits._

    val series = spark.read.format("rcseries")
      .option("keys", keys).option("n", n).load()
      .select(col("key"), col("t"), lit(0L), col("value"))
      .as[RcPipeline.Sample]

    val model = RcPipeline.fit(series, lambda = 1e-6, horizon = horizon)
    RcPipeline.score(series, model)
      .collect().sortBy(_._1)
      .foreach { case (k, nTest, mse) =>
        println(
          f"""{"key":$k,"n_test":$nTest,"horizon":$horizon,"mse":$mse%.8f}""")
      }
    spark.stop()
  }
}
