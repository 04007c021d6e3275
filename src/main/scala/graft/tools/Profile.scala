package graft.tools

/** Per-query overhead profiler for the bench floor: shares Bench's
  * session ([[graft.Tuning.localSession]]) and warm-up, then for each
  * named query splits the warm wall into BUILD (the `queries(name)`
  * call — driver-side plan construction), PLAN (analysis +
  * optimization + physical planning, forced via `executedPlan`), and
  * EXEC (`toRdd.count()` on the already-planned query). The suite total is floor-dominated (~197
  * queries averaging ~0.49 s in round 9), so knowing whether the floor
  * is Catalyst time, job-scheduling time, or genuine compute decides
  * the whole round-10 attack.
  *
  * Knobs (env): SPARK_GRAFT_BENCH_ONLY (comma list; default = a floor
  * sample), SPARK_GRAFT_CPUS, SPARK_GRAFT_SHUFFLE_PARTITIONS. Each
  * phase is the min over 3 warm iterations.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val specs = graft.SparkEntry.select(Some(sys.env.getOrElse("SPARK_GRAFT_BENCH_ONLY",
      "q_count,q_scan_filter,q_agg_groupby,q_sort,q_join_broadcast," +
        "q_token_count,q_parse_json,q_window_rank,q_dedup_exact,q_text_quality")))
    val spark = graft.Tuning.localSession()
    graft.Bench.warmUp(spark, sfDir, stageFixtures = true)

    println(f"${"query"}%-32s ${"build"}%8s ${"plan"}%8s ${"exec"}%8s ${"total"}%8s")
    var sb, sp, se = 0.0
    for (graft.SparkEntry.QuerySpec(name, fn, _) <- specs) {
      var bb, bp, be = Double.MaxValue
      for (_ <- 1 to 3) {
        // per-iteration entries (GRU/LSTM passes, drain group) rebuild
        // each pass, exactly as Bench re-pays them
        graft.Tables.beginIteration()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        val qe = df.queryExecution
        qe.executedPlan // force analysis/optimize/physical planning
        val t2 = System.nanoTime()
        qe.toRdd.count()
        val t3 = System.nanoTime()
        bb = math.min(bb, (t1 - t0) / 1e9)
        bp = math.min(bp, (t2 - t1) / 1e9)
        be = math.min(be, (t3 - t2) / 1e9)
      }
      sb += bb; sp += bp; se += be
      println(f"$name%-32s $bb%8.3f $bp%8.3f $be%8.3f ${bb + bp + be}%8.3f")
    }
    println(f"${"TOTAL"}%-32s $sb%8.3f $sp%8.3f $se%8.3f ${sb + sp + se}%8.3f")
    spark.stop()
  }
}
