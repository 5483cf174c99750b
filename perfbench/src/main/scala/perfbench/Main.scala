package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by `run.py`).
  *
  * Modes:
  *  - `gen WORK`: write the generated input corpora under `WORK/data`.
  *  - `selftest WORK`: the JVM-side self-test of the digest.
  *  - `run WORK WORKLOAD SEED SECONDS TRACE OUT`: run one workload and
  *    write its raw record (samples, digests, failures, trace counters) to
  *    `OUT` as JSON; `run.py` turns it into metrics.
  */
object Main {
  val Cpus = 4
  /** Generation key of the fixed corpora (independent of the run seed so
    * that golden digests stay comparable across runs). */
  val CorpusKey = 20261017L

  /** The generated corpora, by directory name under `WORK/data`. */
  val Datasets: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "sf001" -> ((s, d) => Gen.tpch(s, d, 0.1, CorpusKey)),
    "sf0001" -> ((s, d) => Gen.tpch(s, d, 0.01, CorpusKey)),
    "twin" -> ((s, d) => Gen.twin(s, d, 0.25, CorpusKey)))

  /** Writes every corpus, then the `WORK/data/_DONE` marker. */
  def gen(work: String): Unit = {
    val s = Session.build(Cpus, work)
    try {
      Datasets.foreach { case (name, write) => write(s, s"$work/data/$name") }
      Files.writeString(Paths.get(work, "data", "_DONE"), "")
    } finally Session.stop(s)
  }

  /** One timed phase of a workload: the raw items it produced, its
    * failures, its `wall_s` (the whole wall of a closed loop's fixed work;
    * batch busy time per 1,000 events of a stream), and (traced) its
    * layers. */
  final case class Phase(items: Seq[Map[String, Any]], walls: Seq[Double],
      failures: Seq[String], wallS: Double, layers: Map[String, Double])

  /** Sets up once (a fresh session), then runs the timed phase.
    * `setup_s` runs from the JVM's start to the first timed call, so it
    * holds class loading, JIT warm-up, the first session and the warm-up
    * work; only the harness's own `prepare` is taken out. A traced run
    * instead runs three phases, untraced / traced / untraced, so that
    * warm-up trends cancel out of the tracing overhead; its layer metrics
    * come from the traced phase. */
  def run(work: String, workload: String, seed: Long, seconds: Double,
      traced: Boolean, out: String): Unit = {
    val launchMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val w = Workloads.byName(workload)
    val s = Session.build(Cpus, work)
    val p0 = Clock.now()
    val prepared = w.prepare(s, work)   // harness-only work, untimed
    val prepareS = Clock.now() - p0
    val state = w.setup(s, work, prepared)
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3 - prepareS
    val (phases, spans) =
      if (!traced) (Seq(w.phase(s, work, state, seed, seconds, None)), None)
      else {
        val u1 = w.phase(s, work, state, seed, seconds / 3, None)
        val t = new Trace(s)
        t.start()
        val tp =
          try w.phase(s, work, state, seed + 1, seconds / 3, Some(t))
          finally t.stop()
        val u2 = w.phase(s, work, state, seed + 2, seconds / 3, None)
        val untraced = (u1.wallS + u2.wallS) / 2
        val overhead = tp.wallS / math.max(1e-9, untraced) - 1.0
        (Seq(u1, u2, tp.copy(layers = tp.layers +
          ("harness.trace_overhead" -> overhead))), Some(t.spanRecords))
      }
    val checks = w.verify(s, state)
    val rec = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "setup_s" -> setupS,
      "peak_rss_mb" -> Rss.peakMb(),
      "items" -> phases.head.items, "walls" -> phases.head.walls,
      "wall_s" -> phases.head.wallS,
      "failures" -> (phases.flatMap(_.failures) ++ checks),
      "layers" -> phases.last.layers,
      "spans" -> spans)
    Files.writeString(Paths.get(out), Json(rec))
    w.close(state)
    Session.stop(s)
  }

  def main(args: Array[String]): Unit = {
    args.toList match {
      case "gen" :: work :: Nil => gen(work)
      case "selftest" :: work :: Nil => SelfTest.run(work)
      case "run" :: work :: workload :: seed :: secs :: tr :: out :: Nil =>
        run(work, workload, seed.toLong, secs.toDouble, tr == "1", out)
      case other =>
        System.err.println(s"usage: gen|selftest|run ... (got $other)")
        sys.exit(2)
    }
  }
}
