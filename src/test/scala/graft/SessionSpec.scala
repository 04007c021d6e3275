package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every runner and the suite build their session through
  * [[Tuning.localSession]], so the conf they measure under is one set. */
class SessionSpec extends SparkSpec {

  test("localSession applies Bench's conf set, WARN logging and the requested parallelism") {
    val conf = Tuning.sessionConf(8).toMap
    val warehouse = Paths.get(conf("spark.sql.warehouse.dir"))
    assert(conf - "spark.sql.warehouse.dir" == Map(
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.codegen.cache.maxEntries" -> "4000",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
    assert(warehouse.getFileName.toString.startsWith("graft_wh_"))
    assert(warehouse.getParent == Paths.get(System.getProperty("java.io.tmpdir")))
    // the suite's own session came from the helper with (4, Some(8))
    assert(spark.sparkContext.master == "local[4]")
    (conf - "spark.sql.warehouse.dir").foreach { case (k, v) =>
      assert(spark.sparkContext.getConf.get(k) == v, k) }
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel ==
      org.apache.logging.log4j.Level.WARN)
  }

  test("no session is built outside Tuning.localSession and Drive's two bare sessions") {
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val roots = Seq(Paths.get("src", "main", "scala"), Paths.get("src", "test", "scala"))
    roots.foreach(r => assert(Files.isDirectory(r), s"run from the repo root (cwd has no $r)"))
    val sites: Seq[(Path, String)] = roots.flatMap { root =>
      scala.util.Using.resource(Files.walk(root)) { files =>
        files.iterator().asScala.toSeq.filter(_.toString.endsWith(".scala")).flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if builder.findFirstIn(line).isDefined =>
              p.getFileName -> s"$p:${i + 1}: ${line.trim}"
          }
        }
      }
    }
    val allowed = Map(Paths.get("Tuning.scala") -> 1, Paths.get("Drive.scala") -> 2)
    val byFile = sites.groupBy(_._1)
    val offenders = byFile.filter { case (f, s) => s.size > allowed.getOrElse(f, 0) }
    assert(offenders.isEmpty, "build sessions with Tuning.localSession:\n" +
      offenders.values.flatten.map(_._2).mkString("\n"))
    assert(byFile.get(Paths.get("Tuning.scala")).map(_.size).contains(1),
      "the helper itself no longer builds a session")
  }
}
