package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench SUMMARY line is the driver's truncation-proof artifact
  * (rounds 6/7 lost the full line to log-tail capture), so the string
  * surgery that builds it is pinned here without a Spark session. */
class BenchFormatSpec extends AnyFunSuite {

  test("mean_ms extraction survives fields after it (phase_means_ms)") {
    val panel = """{"n_batches":100,"rows_per_batch":20.0,"min_ms":183,"max_ms":346,"mean_ms":222.8,"phase_means_ms":{"latest_offset":32.7,"get_batch":4.3,"plan":3.1,"wal_commit":32.1,"commit_offsets":32.2,"add_batch":117.1}}"""
    assert(Bench.extractMeanMs(panel) == "222.8")
  }

  test("mean_ms extraction works when mean_ms is the last field") {
    val panel = """{"n_batches":12,"min_ms":215,"max_ms":281,"mean_ms":234.25}"""
    assert(Bench.extractMeanMs(panel) == "234.25")
  }

  test("a skipped probe yields a literal null") {
    assert(Bench.extractMeanMs("null") == "null")
  }

  test("the extracted value embeds into parseable summary JSON") {
    val panel = """{"mean_ms":272.11,"phase_means_ms":{"plan":7.0}}"""
    val line =
      s"""{"metric":"summary","warm_total":1.0,"stream_batch_ms_mean":${Bench.extractMeanMs(panel)}}"""
    // minimal structural check without a JSON library: balanced braces,
    // and the numeric value sits bare before the closing brace
    assert(line.count(_ == '{') == line.count(_ == '}'))
    assert(line.endsWith(""""stream_batch_ms_mean":272.11}"""))
  }

  test("jsonEscape escapes quote, backslash and every control char") {
    val raw = "a\"b\\c\nd\re\tf\u0001g"
    assert(Bench.jsonEscape(raw) == "a\\\"b\\\\c\\nd\\re\\tf\\u0001g")
    assert(Bench.jsonEscape("plain SELECT 1") == "plain SELECT 1")
  }

  test("only a full-suite run writes the default artifact; a subset writes only where told") {
    assert(Bench.artifactPath(None, None) == Some("bench_summary.json"))
    assert(Bench.artifactPath(None, Some("q_count,q_sort")) == None)
    assert(Bench.artifactPath(Some("/tmp/subset.json"), Some("q_count")) == Some("/tmp/subset.json"))
    assert(Bench.artifactPath(Some("/tmp/full.json"), None) == Some("/tmp/full.json"))
  }
}
