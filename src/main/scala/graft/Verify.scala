package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Tuning.localSession()
    new java.io.File(outDir).mkdirs()
    // local-iteration filter: GRAFT_ONLY=q_a,q_b runs just those queries
    // (unset for driver runs → all queries)
    val only = sys.env.get("GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    // A thrown query must stay VISIBLE in the artifact set (round 6: 86
    // queries silently vanished from the correctness compare because the
    // dump was simply absent) — collect per-query errors and write them
    // as errors.json next to oracle_sql.json, one entry per failed query,
    // so the driver/judge can distinguish "not registered" from "threw".
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) =
          s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
      }
    }
    def q(s: String): String = "\"" + Bench.jsonEscape(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // always written (possibly {}), so its absence is itself a signal
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.keys.mkString(", "))
    spark.stop()
  }
}
