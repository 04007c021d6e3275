package graft.tools

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Per-query overhead profiler for the bench floor: mirrors Bench's
  * session config bit-for-bit, then for each named query splits the
  * warm wall into BUILD (the `queries(name)` call — driver-side plan
  * construction), PLAN (analysis + optimization + physical planning,
  * forced via `executedPlan`), and EXEC (`toRdd.count()` on the
  * already-planned query). The suite total is floor-dominated (~197
  * queries averaging ~0.49 s in round 9), so knowing whether the floor
  * is Catalyst time, job-scheduling time, or genuine compute decides
  * the whole round-10 attack.
  *
  * Knobs (env): SPARK_GRAFT_BENCH_ONLY (comma list; default = a floor
  * sample), SPARK_GRAFT_CPUS, SPARK_GRAFT_SHUFFLE_PARTITIONS,
  * SPARK_GRAFT_AQE (default true — A/B the adaptive re-planning cost),
  * SPARK_GRAFT_PROFILE_ITERS (default 3; min over warm iters).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val aqe = sys.env.getOrElse("SPARK_GRAFT_AQE", "true")
    val iters = sys.env.getOrElse("SPARK_GRAFT_PROFILE_ITERS", "3").toInt
    // scan-split geometry knobs for the floor A/B: openCostInBytes caps
    // effective scan parallelism on small fixtures (maxSplitBytes =
    // min(maxPartitionBytes, max(openCost, bytesPerCore)); an 11 MB
    // lineitem under the 4 MB default packs into ~3 splits on 32 cores)
    val openCost = sys.env.getOrElse("SPARK_GRAFT_OPEN_COST", "4194304")
    val maxPart = sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "134217728")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.files.openCostInBytes", openCost)
      .config("spark.sql.files.maxPartitionBytes", maxPart)
      .config("spark.sql.adaptive.enabled", aqe)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        graft.Tuning.diskTmpDir("graft_wh_").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // generated scale fixtures carry only events/documents/embeddings —
    // warm-ups are individually best-effort like Bench's
    try graft.Tables.lineitem(spark, sfDir).count() catch { case NonFatal(_) => }
    try graft.Tables.events(spark, sfDir).count() catch { case NonFatal(_) => }
    try graft.streaming.Pipeline.prestage(spark, sfDir) catch { case NonFatal(_) => }
    try graft.streaming.Pipeline.prestageOrdered(spark, sfDir) catch { case NonFatal(_) => }
    try graft.ops.Relational.partitionedEventsDir(spark, sfDir) catch { case NonFatal(_) => }
    try graft.ops.Relational.jsonlEventsDir(spark, sfDir) catch { case NonFatal(_) => }
    try graft.ops.Relational.evolvedEventsDirs(spark, sfDir) catch { case NonFatal(_) => }
    try graft.ops.Joins.bucketedTables(spark, sfDir) catch { case NonFatal(_) => }

    val names = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("q_count", "q_scan_filter", "q_agg_groupby", "q_sort",
        "q_join_broadcast", "q_token_count", "q_parse_json", "q_window_rank",
        "q_dedup_exact", "q_text_quality"))
    println(f"${"query"}%-32s ${"build"}%8s ${"plan"}%8s ${"exec"}%8s ${"total"}%8s")
    var sb, sp, se = 0.0
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      var bb, bp, be = Double.MaxValue
      for (_ <- 1 to iters) {
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
