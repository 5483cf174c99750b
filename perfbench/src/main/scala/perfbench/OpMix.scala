package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The op-list workload (`analytic_mix`): a closed loop with one client
  * that runs a fixed list of declared ops in whole passes, each pass in a
  * seeded order, and times each op from calling its `fn` to the end of the
  * digest of its result.
  */
object OpMix {
  final case class OpRec(name: String, pass: Int, startMs: Long,
      endMs: Long, buildS: Double, actionS: Double, planS: Double,
      digest: String, error: String) {
    def totalS: Double = buildS + actionS
    def toMap: Map[String, Any] = Map("name" -> name, "pass" -> pass,
      "start_ms" -> startMs, "end_ms" -> endMs, "build_s" -> buildS,
      "action_s" -> actionS, "plan_s" -> planS, "digest" -> digest,
      "error" -> Option(error))
  }

  private val byName = graft.SparkEntry.all.map(q => q.name -> q.fn).toMap

  def runOne(s: SparkSession, name: String, dir: String, pass: Int,
      trace: Option[Trace]): OpRec = {
    val start = System.currentTimeMillis()
    var buildS = 0.0; var actionS = 0.0; var planS = 0.0
    var digest: String = null; var error: String = null
    def body(parent: Int): Unit = {
      val t0 = Clock.now()
      val df = trace match {
        case Some(t) => t.span(s"$name.fn", "fn", parent)(_ =>
          byName(name)(s, dir))
        case None => byName(name)(s, dir)
      }
      val t1 = Clock.now()
      buildS = t1 - t0
      if (trace.isDefined) {
        // a timed executedPlan of the op's own frame (traced run only)
        planS = Clock.time(df.queryExecution.executedPlan)._2
      }
      val t2 = Clock.now()
      digest = trace match {
        case Some(t) => t.span(s"$name.action", "action", parent)(_ =>
          Digest.of(df))
        case None => Digest.of(df)
      }
      actionS = Clock.now() - t2
    }
    try trace match {
      case Some(t) => t.span(name, "op")(body)
      case None => body(-1)
    } catch {
      case e: Throwable =>
        error = s"${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300).replace('\n', ' ')
    }
    OpRec(name, pass, start, System.currentTimeMillis(), buildS, actionS,
      planS, digest, error)
  }

  /** Runs `passes` seeded-order passes over `ops`. Returns the op records
    * and each pass's wall time. */
  def run(s: SparkSession, ops: Seq[String], dir: String, seed: Long,
      passes: Int, trace: Option[Trace]): (Seq[OpRec], Seq[Double]) = {
    val recs = ArrayBuffer[OpRec]()
    val walls = (0 until passes).map { pass =>
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(ops)
      val p0 = Clock.now()
      order.foreach(n => recs += runOne(s, n, dir, pass, trace))
      Clock.now() - p0
    }
    (recs.toSeq, walls)
  }

  /** Per-layer counters of a traced run (per pass). */
  def layerMetrics(recs: Seq[OpRec], walls: Seq[Double], t: Trace,
      cores: Int): Map[String, Double] = {
    t.drain()
    val passes = walls.size.toDouble
    val iv = recs.map(r => (r.startMs, r.endMs))
    val sparkC = t.sparkCounters(iv, cores)
    val perPass = Set("spark.jobs", "spark.stages", "spark.tasks",
      "spark.broadcast_jobs", "spark.job_busy_s", "spark.driver_gap_s",
      "spark.sched_delay_s", "spark.task_run_s", "spark.task_cpu_s",
      "spark.task_gc_s", "spark.shuffle_write_mb", "spark.shuffle_read_mb",
      "spark.spill_mb", "spark.input_mb")
    val cat = t.catalystCounters(iv).map { case (k, v) => k -> v / passes }
    sparkC.map { case (k, v) => k -> (if (perPass(k)) v / passes else v) } ++
      cat ++ Map(
        "catalyst.plan_s" -> recs.map(_.planS).sum / passes,
        "ops.build_s" -> recs.map(_.buildS).sum / passes,
        "ops.action_s" -> recs.map(_.actionS).sum / passes)
  }
}
