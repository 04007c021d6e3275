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

  /** `path:line: text` of every src/main/scala line matching `pattern`
    * in a file whose name `file` accepts. */
  private def mainSourceLines(pattern: scala.util.matching.Regex,
      file: String => Boolean = _ => true): Seq[String] = {
    val root = java.nio.file.Paths.get("src", "main", "scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root (cwd has no $root)")
    scala.util.Using.resource(java.nio.file.Files.walk(root)) { files =>
      import scala.jdk.CollectionConverters._
      files.iterator().asScala.toSeq
        .filter(p => p.toString.endsWith(".scala") && file(p.getFileName.toString))
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if pattern.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
          }
        }
    }
  }

  test("no ConcurrentHashMap memo outside Tables.scala in src/main/scala") {
    val offenders = mainSourceLines(
      """new\s+(java\.util\.concurrent\.)?ConcurrentHashMap\b""".r, _ != "Tables.scala")
    assert(offenders.isEmpty,
      "store memos in Tables.artifact, not in a module-level map:\n" + offenders.mkString("\n"))
  }

  test("no Java serialization streams in src/main/scala") {
    val offenders = mainSourceLines("""\bObject(Input|Output)Stream\b""".r)
    assert(offenders.isEmpty,
      "persist artifacts as parquet sidecars (Tables.dfArtifact / corpusValue):\n" +
        offenders.mkString("\n"))
  }

  test("functions are registered only by Native.register") {
    val sites = mainSourceLines("""\bcreateOrReplaceTempFunction\b""".r)
    assert(sites.size === 1 && sites.head.contains("functions/Native.scala"),
      "add the function to Native.functions (constants as literal arguments) " +
        "instead of registering it per call:\n" + sites.mkString("\n"))
  }

  /** `File.scala.def` of the object-level def (2-space indent) enclosing
    * each `mainSourceLines` site, or the site itself outside any def. */
  private def enclosingDefs(sites: Seq[String]): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val member = """^  (?:private(?:\[\w+\])? )?def (\w+)""".r
    sites.map { site =>
      val Array(path, line, _) = site.split(":", 3)
      val file = java.nio.file.Paths.get(path)
      java.nio.file.Files.readAllLines(file).asScala.take(line.toInt).reverseIterator
        .flatMap(member.findFirstMatchIn(_)).nextOption()
        .fold(site)(m => s"${file.getFileName}.${m.group(1)}")
    }
  }

  test("streams are started only by Pipeline.drain and continuousFloorProbe") {
    val sites = mainSourceLines("""\bwriteStream\b""".r)
    assert(enclosingDefs(sites).sorted == Seq("Pipeline.scala.continuousFloorProbe", "Pipeline.scala.drain"),
      "run a bounded drain through Pipeline.drain (and Pipeline.solo to await it alone):\n" +
        sites.mkString("\n"))
  }

  test("the events' last-k group-by is built only by Predict.lastK") {
    val sites = mainSourceLines("""\btopKBy\(col\("ts"\),\s*col\("event_id"\)""".r)
    assert(enclosingDefs(sites) == Seq("Predict.scala.lastK"),
      "take each series' last k events through Predict.lastK:\n" + sites.mkString("\n"))
  }

  test("predictBatch is called only by Predict.inferBatched") {
    val sites = mainSourceLines("""\bpredictBatch\(""".r)
      .filterNot(_.contains("def predictBatch("))
    assert(enclosingDefs(sites) == Seq("Predict.scala.inferBatched"),
      "run batched inference through Predict.inferBatched:\n" + sites.mkString("\n"))
  }

  test("append-mode writes occur only in Sinks.jdbcAppend") {
    val sites = mainSourceLines("""\bmode\("append"\)""".r)
    assert(enclosingDefs(sites) == Seq("Sinks.scala.jdbcAppend"),
      "publish a micro-batch through Sinks.parquetBatchOverwrite, which a replay " +
        "overwrites instead of duplicating:\n" + sites.mkString("\n"))
  }

  /** The sites that are code, not doc or line comments. */
  private def codeOnly(sites: Seq[String]): Seq[String] =
    sites.filterNot { site =>
      val text = site.split(":", 3)(2).trim
      text.startsWith("*") || text.startsWith("/*") || text.startsWith("//")
    }

  test("the ANN query side is built only by Similarity.querySide") {
    val sites = codeOnly(mainSourceLines("""col\("vec_id"\)\s*<\s*nQueries\b""".r))
    assert(enclosingDefs(sites) == Seq("Similarity.scala.querySide"),
      "take a search's queries through Similarity.querySide:\n" + sites.mkString("\n"))
  }

  test("no crossJoin(broadcast(centroids)) probe remains in Similarity") {
    val sites = codeOnly(mainSourceLines("""crossJoin\(broadcast\(centroids\)\)""".r,
      _ == "Similarity.scala"))
    assert(sites.isEmpty,
      "probe cells through Similarity.topCentroidIds:\n" + sites.mkString("\n"))
  }

  test("pqEncodeOne is wrapped in a UDF only by Similarity.pqEncoder") {
    val sites = codeOnly(mainSourceLines("""\bpqEncodeOne\(""".r))
      .filterNot(_.contains("def pqEncodeOne("))
    assert(enclosingDefs(sites) == Seq("Similarity.scala.pqEncoder"),
      "encode a code column through Similarity.pqEncoder:\n" + sites.mkString("\n"))
  }

  test("no Array.tabulate(PqM, PqK) lookup table: only the codebook init tabulates") {
    val sites = codeOnly(mainSourceLines("""Array\.tabulate\(PqM,\s*PqK\)""".r))
    assert(enclosingDefs(sites) == Seq("Similarity.scala.trainPqCodebooks"),
      "build a query's ADC lookup table with Similarity.adcTable:\n" + sites.mkString("\n"))
  }

  test("drained sinks are read only by Pipeline.drainedSink") {
    val sites = mainSourceLines("""\bdrainGroup\([^)]*\)\(""".r)
    assert(enclosingDefs(sites) == Seq("Pipeline.scala.drainedSink"),
      "read a drained sink through Pipeline.drainedSink:\n" + sites.mkString("\n"))
  }
}
