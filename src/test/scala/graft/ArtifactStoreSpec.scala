package graft

import graft.ops.{Chunked, Predict, Relational}
import graft.streaming.Pipeline

/** Scopes of the one artifact store ([[Tables.artifact]]): what
  * [[Tables.beginIteration]] drops, what it keeps, and what the size
  * bound may evict. */
class ArtifactStoreSpec extends SparkSpec {

  test("after beginIteration the GRU, LSTM-ref and drain-group entries each rebuild exactly once") {
    val builds = Seq[(String, () => AnyRef)](
      "q_predict_gru" -> (() => Predict.gruPredictionsDir(spark, sf)),
      "q_predict_lstm_ref" -> (() => Predict.lstmRefPredictionsDir(spark, sf)),
      "drain group" -> (() => Pipeline.drainGroup(spark, sf)))
    val first = builds.map { case (n, f) => n -> f() }.toMap
    builds.foreach { case (n, f) =>
      assert(f() === first(n), s"$n rebuilt within one iteration") }
    Tables.beginIteration()
    val second = builds.map { case (n, f) => n -> f() }.toMap
    builds.foreach { case (n, f) =>
      assert(second(n) !== first(n), s"$n survived beginIteration")
      assert(f() === second(n), s"$n rebuilt twice in one iteration")
    }
  }

  test("Corpus entries (window arrays, staged copies) survive beginIteration") {
    val windows = Chunked.windowArrays(spark, sf, 60)
    val staged = Pipeline.prestage(spark, sf)
    val partitioned = Relational.partitionedEventsDir(spark, sf)
    Tables.beginIteration()
    assert(Chunked.windowArrays(spark, sf, 60) eq windows)
    assert(Pipeline.prestage(spark, sf) === staged)
    assert(Relational.partitionedEventsDir(spark, sf) === partitioned)
  }

  test("filling the store past its bound evicts Corpus entries, never an Iteration entry") {
    var builds = 0
    def iteration(): String =
      Tables.artifact(spark, "spec-scope", Nil, "iteration", Tables.Iteration) {
        builds += 1
        s"build $builds"
      }
    def filler(i: Int): String =
      Tables.artifact(spark, "spec-scope", Nil, ("filler", i))(s"filler $i")
    iteration()
    (0 until 1000).foreach(filler)
    assert(iteration() === "build 1", "the size bound evicted an Iteration entry")
    assert((0 until 1000).count(i => Tables.artifactPeek[String](
      spark, "spec-scope", Nil, ("filler", i)).isEmpty) > 0,
      "1000 Corpus entries fit under the bound: this test no longer overfills it")
    Tables.beginIteration()
    assert(iteration() === "build 2")
  }

  test("no ConcurrentHashMap memo outside Tables.scala in src/main/scala") {
    val root = java.nio.file.Paths.get("src", "main", "scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root (cwd has no $root)")
    val memo = """new\s+(java\.util\.concurrent\.)?ConcurrentHashMap\b""".r
    val offenders = scala.util.Using.resource(java.nio.file.Files.walk(root)) { files =>
      import scala.jdk.CollectionConverters._
      files.iterator().asScala.toSeq
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Tables.scala")
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if memo.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
          }
        }
    }
    assert(offenders.isEmpty,
      "store memos in Tables.artifact, not in a module-level map:\n" + offenders.mkString("\n"))
  }
}
