package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** The bench SUMMARY line is the driver's truncation-proof artifact
  * (rounds 6/7 lost the full line to log-tail capture), so the rendering
  * of all three outputs is pinned here without a Spark session. */
class BenchFormatSpec extends AnyFunSuite {
  /** A fixed report: q_count and the drain line timed, q_sort failed. */
  private def report(streamPanel: JValue = JNull,
      errors: Map[String, String] = Map("q_sort" -> "boom")): Bench.Report = {
    val timed = Map(
      Bench.DrainLine -> Bench.Split(5.0, 0.0, 0.0),
      "q_count" -> Bench.Split(0.01, 0.02, 0.03))
    Bench.Report(
      Bench.Timings(Seq(Bench.DrainLine, "q_count", "q_sort"), timed, timed, errors, 2),
      streamPanel, JNull, JNull, JDouble(1.5), JDouble(5.8), 0L, 3L,
      "/data/sf0.1", 4)
  }

  test("a skipped probe yields a literal null") {
    val (_, summary, file) = Bench.outputs(report(streamPanel = JNull))
    assert(parse(summary) \ "stream_batch_ms_mean" == JNull)
    assert(parse(file) \ "summary" \ "stream_batch_ms_mean" == JNull)
  }

  test("the extracted value embeds into parseable summary JSON") {
    val panel = JObject("n_batches" -> JInt(100), "mean_ms" -> JDouble(272.11),
      "phase_means_ms" -> JObject("plan" -> JDouble(7.0)))
    val (_, summary, file) = Bench.outputs(report(streamPanel = panel))
    assert(parse(summary) \ "stream_batch_ms_mean" == JDouble(272.11))
    assert(parse(file) \ "summary" \ "stream_batch_ms_mean" == JDouble(272.11))
    assert(parse(file) \ "stream_batch_ms" == panel)
  }

  test("rendered JSON round-trips quote, backslash and every control char") {
    val raw = "a\"b\\c" + (0 until 0x20).map(_.toChar).mkString + "plain SELECT 1"
    val (full, summary, file) = Bench.outputs(report(errors = Map("q_sort" -> raw)))
    assert(parse(full) \ "errors" \ "q_sort" == JString(raw))
    assert(parse(file) \ "errors" \ "q_sort" == JString(raw))
    // each stdout output stays one line: no raw control char survives
    assert(!(full + summary).exists(_ < ' '))
  }

  test("the three rendered outputs carry the fixed key sets, layers in the total line and the file only") {
    val (full, summary, file) = Bench.outputs(report())
    def keys(v: JValue): Set[String] = v.asInstanceOf[JObject].obj.map(_._1).toSet
    assert(keys(parse(full)) == Set("metric", "value", "unit", "queries", "cold",
      "cold_total", "layers", "stream_batch_ms", "stream_curve", "stream_floor_ms",
      "errors", "n_errors", "n_ok", "iters", "probe", "sched_probe_ms",
      "mem_probe_gbps", "artifact_disk_hits", "artifact_builds", "sf"))
    assert(keys(parse(summary)) == Set("metric", "warm_total", "cold_total", "n_ok",
      "n_errors", "iters", "probe_sum", "sched_probe_ms", "mem_probe_gbps",
      "artifact_disk_hits", "artifact_builds", "stream_batch_ms_mean", "unit", "sf"))
    assert(keys(parse(file)) == Set("summary", "probe", "sched_probe_ms",
      "mem_probe_gbps", "warm", "cold", "layers", "stream_batch_ms", "stream_curve",
      "stream_floor_ms", "errors"))
    assert(keys(parse(file) \ "summary") == Set("warm_total", "cold_total", "n_ok",
      "n_errors", "probe_sum", "artifact_disk_hits", "artifact_builds",
      "stream_batch_ms_mean", "unit", "sf", "cpus", "iters"))
    assert(keys(parse(full) \ "layers" \ "q_count") ==
      Set("build", "plan", "exec", "cold_build", "cold_plan", "cold_exec"))
    // a line that failed every pass reads -1 and carries no layers
    assert(parse(full) \ "queries" \ "q_sort" == JDouble(-1.0))
    assert(parse(full) \ "layers" \ "q_sort" == JNothing)
    assert(parse(summary) \ "n_ok" == JInt(2))
  }

  test("only a full-suite run writes the default artifact; a subset writes only where told") {
    assert(Bench.artifactPath(None, None) == Some("bench_summary.json"))
    assert(Bench.artifactPath(None, Some("q_count,q_sort")) == None)
    assert(Bench.artifactPath(Some("/tmp/subset.json"), Some("q_count")) == Some("/tmp/subset.json"))
    assert(Bench.artifactPath(Some("/tmp/full.json"), None) == Some("/tmp/full.json"))
  }
}
