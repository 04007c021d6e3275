package graft
import java.nio.file.{Files, Paths}
import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods.{compact, render}
/** Driver-run correctness dump: each registered query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The queries a run dumps. Local-iteration filter: GRAFT_ONLY=q_a,q_b
    * runs just those (unset for driver runs → all queries). Only
    * GRAFT_ONLY subsets: a SPARK_GRAFT_BENCH_ONLY left in the shell must
    * never shrink the oracle dump. */
  def selection(env: Map[String, String]): Seq[SparkEntry.QuerySpec] =
    SparkEntry.select(env.get("GRAFT_ONLY"))

  /** oracle_sql.json over the selected queries' oracles, in
    * [[SparkEntry.oracleSql]]'s order — the whole map for a full run, so
    * a subset run's compare never reports the queries it skipped. */
  def oracleJson(specs: Seq[SparkEntry.QuerySpec]): String = {
    val names = specs.map(_.name).toSet
    stringMap(SparkEntry.oracleSql.filter { case (k, _) => names(k) })
  }

  /** A JSON object of strings, in `kv`'s order, rendered by json4s like
    * Bench's artifacts: a tab or CR in builder-authored SQL must never
    * make the consumer's json.load fail and silently zero the compare. */
  private def stringMap(kv: Iterable[(String, String)]): String =
    compact(render(JObject(kv.toList.map { case (k, v) => k -> JString(v) })))

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val specs = selection(sys.env)
    val spark = Tuning.localSession()
    new java.io.File(outDir).mkdirs()
    // A thrown query must stay VISIBLE in the artifact set (round 6: 86
    // queries silently vanished from the correctness compare because the
    // dump was simply absent) — collect per-query errors and write them
    // as errors.json next to oracle_sql.json, one entry per failed query,
    // so the driver/judge can distinguish "not registered" from "threw".
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    for (SparkEntry.QuerySpec(name, fn, _) <- specs) {
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) =
          s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(specs))
    // always written (possibly {}), so its absence is itself a signal
    Files.writeString(Paths.get(s"$outDir/errors.json"), stringMap(errors))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.keys.mkString(", "))
    spark.stop()
  }
}
