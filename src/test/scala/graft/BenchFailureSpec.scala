package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** A bench op that throws must not be reported as a timing: its time to
  * failure would read as a fast op. It is named in bench_full.json's
  * `failed` list and kept out of the single-shot and min-of-k maps.
  */
class BenchFailureSpec extends AnyFunSuite {

  test("a throwing op times as None; a completing op as its wall seconds") {
    assert(Bench.timed("boom")(throw new IllegalStateException("x")).isEmpty)
    val t = Bench.timed("ok")(Thread.sleep(5))
    assert(t.exists(_ >= 0.005), s"completed op must be timed, got $t")
  }

  test("bench_full.json names a thrown op in `failed` and in neither map") {
    val ops = Seq[(String, () => Unit)](
      "ok_a" -> (() => ()),
      "boom" -> (() => throw new RuntimeException("op failed")),
      "ok_b" -> (() => ()))
    val runs = ops.map { case (n, op) => n -> Bench.timed(n)(op()) }
    val single = runs.collect { case (n, Some(t)) => n -> t }
    val failed = runs.collect { case (n, None) => n }
    val rec = new ObjectMapper().readTree(Bench.fullRecord(
      single.map(_._2).sum, single, Some(single), failed, "sf0.1"))
    assert(rec.get("failed").size() == 1)
    assert(rec.get("failed").get(0).asText() == "boom")
    assert(rec.get("n").asInt() == 2)
    Seq("queries", "mink").foreach { m =>
      assert(!rec.get(m).has("boom"), s"thrown op timed in `$m`")
      assert(rec.get(m).has("ok_a") && rec.get(m).has("ok_b"))
    }
    // the single-shot record written before the reruns has no min-of-k
    val first = new ObjectMapper().readTree(Bench.fullRecord(
      0.0, single, None, Seq.empty, "sf0.1"))
    assert(!first.has("mink") && first.get("failed").size() == 0)
  }

  test("bench_full.json carries each op's Janino census") {
    val single = Seq("ok_a" -> 1.0, "ok_b" -> 2.0)
    val rec = new ObjectMapper().readTree(Bench.fullRecord(3.0, single,
      Some(single.take(1)), Seq("boom"), "sf0.1",
      codegenSingle = Map("ok_a" -> Bench.Codegen(12, 0.5),
        "ok_b" -> Bench.Codegen(3, 0.0625)),
      codegenRerun = Map("ok_a" -> Bench.Codegen(0, 0.0))))
    val cg = rec.get("codegen")
    assert(cg.size() == 2 && !cg.has("boom"))
    def pair(op: String, run: String) = {
      val p = cg.get(op).get(run)
      (p.get(0).asLong(), p.get(1).asDouble())
    }
    assert(pair("ok_a", "single") == ((12L, 0.5)))
    assert(pair("ok_a", "rerun") == ((0L, 0.0)))
    assert(pair("ok_b", "single") == ((3L, 0.063)))
    assert(!cg.get("ok_b").has("rerun"), "ok_b was never re-run")
    assert(Bench.Codegen(5, 1.5) - Bench.Codegen(2, 0.5) ==
      Bench.Codegen(3, 1.0))
  }
}
