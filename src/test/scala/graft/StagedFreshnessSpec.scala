package graft

import graft.ops.{Maintain, Relational, TextOps}
import graft.streaming.Pipeline
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Every staged copy and stored scalar derived from `events` or
  * `documents` must follow an IN-PLACE rewrite of its source: same file
  * names, mtimes pinned back ([[TablesCacheSpec.rewriteInPlace]]), so
  * only the content fingerprint can tell. Each row builds over a private
  * copy of sf0.001, the copy's tables are rewritten in place, and the
  * row's result must then equal a fresh build over a second copy of the
  * rewritten corpus (a new path, so nothing stored can answer for it). */
class StagedFreshnessSpec extends SparkSpec {
  import StagedFreshnessSpec.copyCorpus

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def parquetRows(s: SparkSession, dir: String): Seq[String] =
    rows(s.read.parquet(dir))

  private val cases: Seq[(String, (SparkSession, String) => Seq[String])] = Seq(
    "partitionedEventsDir" -> ((s, d) => parquetRows(s, Relational.partitionedEventsDir(s, d))),
    "jsonlEventsDir" -> ((s, d) => rows(s.read.json(Relational.jsonlEventsDir(s, d)))),
    "evolvedEventsDirs" -> { (s, d) =>
      val (legacy, evolved) = Relational.evolvedEventsDirs(s, d)
      parquetRows(s, legacy) ++ parquetRows(s, evolved)
    },
    "csvEventsDir" -> ((s, d) => rows(s.read.text(Relational.csvEventsDir(s, d)))),
    "orcEventsDir" -> ((s, d) => rows(s.read.orc(Relational.orcEventsDir(s, d)))),
    "weightedSample kMax" -> ((s, d) => rows(Relational.weightedSample(s, d))),
    "smallFilesDir" -> ((s, d) => parquetRows(s, Maintain.smallFilesDir(s, d))),
    "compactedDir" -> ((s, d) => parquetRows(s, Maintain.compactedDir(s, d))),
    "budgetSelect scored docs" -> ((s, d) => rows(TextOps.budgetSelect(s, d))),
    "prestage" -> ((s, d) => parquetRows(s, Pipeline.prestage(s, d))),
    "prestageOrdered" -> ((s, d) => parquetRows(s, Pipeline.prestageOrdered(s, d))),
    "prestageDocs" -> ((s, d) => parquetRows(s, Pipeline.prestageDocs(s, d))))

  /** Rewrite dir/name.parquet (one file) in place with `keep` applied. */
  private def rewrite(dir: Path, name: String, df: DataFrame): Unit = {
    val part = dir.resolve(s"$name.parquet")
    require(Files.isRegularFile(part), s"$part is expected to be a single parquet file")
    val stage = Files.createTempDirectory("graft_fresh_stage_")
    TablesCacheSpec.rewriteInPlace(part,
      TablesCacheSpec.writeSinglePart(df, stage.resolve(s"$name.parquet")))
  }

  /** (rewritten corpus, each row's result before the rewrite, fresh copy) */
  private lazy val corpora: (String, Map[String, Seq[String]], String) = {
    val a = copyCorpus(java.nio.file.Paths.get(sf))
    val before = cases.map { case (n, f) => n -> f(spark, a.toString) }.toMap
    // drop a third of each table, and every event in the upper half of
    // the weights: the stored kMax halves, which moves weightedSample's
    // keep threshold for every remaining row
    val k = get_json_object(col("props"), "$.k").cast("long")
    val ev = Tables.events(spark, a.toString)
    val kMax = ev.agg(max(k)).head().getLong(0)
    rewrite(a, "events", ev.filter(col("event_id") % 3 =!= 0 && k <= kMax / 2))
    rewrite(a, "documents",
      Tables.documents(spark, a.toString).filter(col("doc_id") % 3 =!= 0))
    (a.toString, before, copyCorpus(a).toString)
  }

  cases.foreach { case (name, result) =>
    test(s"$name follows an in-place rewrite of its source") {
      val (rewritten, before, fresh) = corpora
      // compared as booleans: the row lists are too long for a failure message
      val got = result(spark, rewritten)
      val changed = got != before(name)
      assert(changed, s"the rewrite does not change $name's result")
      val matchesFresh = got == result(spark, fresh)
      assert(matchesFresh, s"$name served a stale copy after an in-place rewrite")
    }
  }
}

object StagedFreshnessSpec {
  /** A writable copy of a fixture dir under a new temp path, so nothing
    * stored for the original can answer for it. */
  def copyCorpus(from: Path): Path = {
    val to = Files.createTempDirectory("graft_fresh_")
    Files.walk(from).forEach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
      t.toFile.setWritable(true)
    }
    to
  }
}
