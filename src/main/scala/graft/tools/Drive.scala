package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev runner for the checks that sit outside the SparkEntry.queries
  * contract. Usage: `Drive <op> <sfDir> [args]`, one of
  *
  *   sbt 'runMain graft.tools.Drive entrySmoke <sfDir>'
  *   sbt 'runMain graft.tools.Drive extensions <sfDir>'
  *   sbt 'runMain graft.tools.Drive explainFmt <sfDir> <outDir> [q_a,q_b,...]'
  *   sbt 'runMain graft.tools.Drive endToEnd <sfDir>'
  *
  * The earlier one-off phase probes and A/B knobs are gone; their
  * conclusions live in SCALING.md under the round that ran them. */
object Drive {
  def main(args: Array[String]): Unit = {
    val usage = "usage: Drive <op> <sfDir> [args]; op is one of entrySmoke, " +
      "extensions, explainFmt, endToEnd (explainFmt takes <outDir> [q_a,q_b,...])"
    if (args.length < 2) sys.error(usage)
    val Array(op, sfDir) = args.take(2)
    op match {
      case "entrySmoke" => entrySmoke()
      case "extensions" => extensions()
      case "explainFmt" =>
        if (args.length < 3) sys.error(usage)
        val specs = graft.SparkEntry.select(args.lift(3))
        val spark = graft.Tuning.localSession()
        explainFmt(spark, sfDir, java.nio.file.Paths.get(args(2)), specs)
        spark.stop()
      case "endToEnd" =>
        val spark = graft.Tuning.localSession()
        val df = endToEnd(spark)
        df.printSchema()
        df.show(20, truncate = false)
        println(s"ROWS=${df.count()}")
        spark.stop()
      case other => sys.error(s"unknown op '$other'; $usage")
    }
  }

  /** Smoke-check [[graft.SparkEntry.entry]] as an outside caller would:
    * a bare session with NO graft configs (no UTC, no shuffle tuning),
    * then entry() must work. */
  private def entrySmoke(): Unit = {
    val s = SparkSession.builder().master("local[4]").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val df = graft.SparkEntry.entry(s)
    df.show(10, truncate = false)
    println(s"ENTRY_ROWS=${df.count()}")
    s.stop()
  }

  /** Exercise the production registration path: functions resolved by
    * SQL name through spark.sql.extensions, no manual register(). */
  private def extensions(): Unit = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sql("SELECT graft_rolling_hash('abc') AS rh, graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dot, graft_xor_fold(encode('abc', 'UTF-8')) AS xf").show()
    s.sql("""SELECT k, graft_topk_by(o, tb, v, 2) AS top2
             FROM VALUES (0, 1L, 1L, 10.0d), (0, 3L, 2L, 30.0d), (0, 2L, 3L, 20.0d)
             AS t(k, o, tb, v) GROUP BY k""").show(truncate = false)
    s.sql("""SELECT k, size(graft_minhash(h)) AS sig_len,
             element_at(graft_minhash(h), 1) AS slot0
             FROM VALUES (0, 11L), (0, 22L), (1, 33L) AS t(k, h)
             GROUP BY k ORDER BY k""").show()
    s.stop()
  }

  /** Full `.explain("formatted")` dump per registered query, one file per
    * query — the optimization rounds' plan-evidence artifact (their
    * plans/rNN/<query>.txt dumps are kept at commit 7eb8182, not in the
    * tree). With no name list, every registered query
    * is dumped. Plans only — nothing executes, so a full dump is
    * driver-cheap. */
  private def explainFmt(spark: SparkSession, sfDir: String,
      outDir: java.nio.file.Path, specs: Seq[graft.SparkEntry.QuerySpec]): Unit = {
    java.nio.file.Files.createDirectories(outDir)
    for (graft.SparkEntry.QuerySpec(name, fn, _) <- specs) {
      val txt =
        try fn(spark, sfDir)
          .queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable =>
          s"PLAN_ERROR ${e.getClass.getName}: ${e.getMessage}" }
      java.nio.file.Files.write(outDir.resolve(s"$name.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"explained $name")
    }
  }

  /** The reference's full loop in one command: producer → wire format →
    * streaming consume (sink + metrics) → batch windows → batched
    * prediction → summary (producer.py / stream_consumer.py /
    * batch_processor.py composed). */
  private def endToEnd(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    val wireDir = graft.Tuning.fastTmpDir("graft_e2e_src_").toString
    // producer: deterministic ticks, JSON wire format, 4 files = 4 batches
    graft.gen.Ticks.asJson(
      graft.gen.Ticks.generate(spark, Seq("AAPL", "MSFT", "GOOG"), 2000L))
      .repartition(4).write.mode("overwrite").text(wireDir)
    // streaming consumer: parse envelope, publish each micro-batch to the
    // raw table, listener captures (and echoes) per-batch metrics
    val ticks = spark.readStream.schema("value STRING")
      .option("maxFilesPerTrigger", "1").text(wireDir)
      .select(from_json(col("value"), graft.Tables.tickSchema).as("t"))
      .select(col("t.*"))
    val (sinkDir, _) = graft.streaming.Pipeline.solo(spark, echo = true)(
      graft.streaming.Pipeline.drain(ticks, "append", "graft_e2e_sink_")(
        graft.sources.Sinks.parquetBatchOverwrite))
    // batch path: stride-1 windows over the persisted table (each keyed
    // by its tick's timestamp), batched GRU inference, per-symbol summary
    val frame = org.apache.spark.sql.expressions.Window
      .partitionBy(col("symbol")).orderBy(col("timestamp"))
      .rowsBetween(-59, 0)
    val wins = spark.read.parquet(sinkDir)
      .select(unix_micros(col("timestamp")).as("ts_us"), col("symbol"),
        collect_list(col("price")).over(frame).as("w"))
      .filter(size(col("w")) === 60)
    graft.ops.Predict.inferBatched(wins, graft.ops.Predict.seededGru)
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_windows"), avg(col("predicted")).as("avg_pred"))
      .orderBy(col("symbol"))
  }
}
