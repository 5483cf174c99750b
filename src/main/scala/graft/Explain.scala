package graft

/** Dev tool: print the formatted physical plan of named queries (all oracle
  * queries if none named). `SPARK_GRAFT_SF_DIR` selects the fixture dir.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Session.local(Session.cpus)
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.all.map(_.name)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: $e") }
    }
    spark.stop()
  }
}
