package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse

/** [[Bench.run]] at sf0.001: the build/plan/exec layers add up to each
  * published line exactly, and the drain group gets its own line in a
  * subset run too, or its failure. */
class BenchSpec extends SparkSpec {

  private def timings(only: String): Bench.Timings =
    Bench.run(spark, sf, SparkEntry.select(Some(only)), minIters = 2, maxIters = 2)

  test("every line's layers sum exactly to its warm and cold values") {
    val t = timings("q_count,q_sort")
    assert(t.errors.isEmpty, t.errors)
    assert(t.iters == 2)
    assert(t.lines == Seq("q_count", "q_sort"), "a selection with no stream query drained")
    val (full, _, file) = Bench.outputs(
      Bench.Report(t, JNull, JNull, JNull, JNull, JNull, 0L, 0L, sf, 4))
    for ((out, warmKey) <- Seq(parse(full) -> "queries", parse(file) -> "warm"); q <- t.lines) {
      def part(k: String): Double = (out \ "layers" \ q \ k).asInstanceOf[JDouble].num
      assert(out \ warmKey \ q == JDouble(part("build") + part("plan") + part("exec")), q)
      assert(out \ "cold" \ q ==
        JDouble(part("cold_build") + part("cold_plan") + part("cold_exec")), q)
      assert(part("exec") > 0.0, q)
    }
  }

  test("a subset with a stream query times the drain group as its own line") {
    val t = timings("q_count,q_stream_pipeline")
    assert(t.errors.isEmpty, t.errors)
    assert(t.lines == Seq(Bench.DrainLine, "q_count", "q_stream_pipeline"))
    for (m <- Seq(t.warm, t.cold)) {
      val group = m(Bench.DrainLine).total
      assert(group > 0.0)
      assert(m("q_stream_pipeline").total < group,
        "the first consumer still carries the group's wall")
      assert(m("q_stream_pipeline").build >= 0.0)
    }
  }

  test("a failed drain group reads -1 on its own line and is every consumer's error") {
    val t = Bench.run(spark, "/nonexistent/sf", SparkEntry.select(Some(
      "q_stream_dedup,q_stream_pipeline")), minIters = 1, maxIters = 1)
    assert(t.lines == Seq(Bench.DrainLine, "q_stream_dedup", "q_stream_pipeline"))
    assert(t.warm.isEmpty)
    assert(t.errors.keySet == t.lines.toSet)
    assert(t.errors.values.toSet.size == 1, "a consumer re-ran the failed group")
    val (full, _, _) = Bench.outputs(
      Bench.Report(t, JNull, JNull, JNull, JNull, JNull, 0L, 0L, sf, 4))
    assert(parse(full) \ "queries" \ Bench.DrainLine == JDouble(-1.0))
  }
}
