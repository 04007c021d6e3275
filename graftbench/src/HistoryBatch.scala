package graft.perf

import org.apache.spark.sql.SparkSession

/** `history-batch`: a closed loop, one query at a time, over a fixed
  * corpus. The seed draws one query order that every pass repeats.
  *
  * Set-up is the session plus one untimed cold pass, which also takes
  * each query's output digest. Then `timed_passes` passes are timed. The count is fixed before the run, not by a clock, so every run
  * has the same number of samples and the tail is the same percentile.
  * Before every pass the benchmark resets exactly what `graft.Bench`
  * resets, so each pass re-pays the shared GRU/LSTM recurrences.
  *
  * `p50_ms` is the median over queries of each query's median time. The
  * median of all samples would average two samples from different
  * queries whenever it falls between two of them, and move with their
  * order from run to run. `job_s` is the wall of a typical pass: the
  * median reset plus each query's median time, so a slow spell of the
  * host that hits part of one pass moves it less than it moves that
  * pass's wall. */
object HistoryBatch {

  private def resetPass(): Unit = {
    graft.streaming.Pipeline.resetDrains()
    graft.ops.Predict.resetGruDirs()
    graft.ops.Predict.resetLstmDirs()
  }

  def run(s: SparkSession, a: Args): Map[String, Any] = {
    val d = a("corpus")
    val queries = a("queries").split(",").toSeq
    val order = new scala.util.Random(a.long("seed")).shuffle(queries)
    val trace = new Tracer(a.flag("trace"))
    val listener = new OpListener
    if (trace.enabled) { s.sparkContext.addSparkListener(listener); GcWatch.install() }
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    val expected = Expected.load(a("expected"))

    // cold pass: untimed, and the correctness gate on every output
    resetPass()
    val coldMs = scala.collection.mutable.LinkedHashMap[String, Double]()
    val digests = order.map { q =>
      val fn = graft.SparkEntry.queries(q)
      val c0 = System.nanoTime()
      val dg = try Some(Digest.of(fn(s, d)))
      catch { case e: Throwable =>
        failures += s"$q warm-up: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
      }
      coldMs(q) = (System.nanoTime() - c0) / 1e6
      q -> dg
    }.toMap
    Harness.mark("cold_pass")
    val digestOut = digests.collect { case (q, Some((n, h))) =>
      q -> Map("rows" -> n, "digest" -> h) }
    digests.foreach {
      case (q, Some((n, h))) if !expected.get(q).contains((n, h)) =>
        failures += s"$q digest rows=$n $h, expected ${expected.get(q).getOrElse("none")}"
      case _ => ()
    }

    val firstTimedMs = Harness.epochMs()
    val t0 = System.nanoTime()
    val samplesMs = scala.collection.mutable.ArrayBuffer[Double]()
    val passWallS = scala.collection.mutable.ArrayBuffer[Double]()
    val phaseMs = scala.collection.mutable.Map[String, List[Double]]().withDefaultValue(Nil)
    val queryMs = scala.collection.mutable.Map[String, List[Double]]().withDefaultValue(Nil)
    val resetMs = scala.collection.mutable.ArrayBuffer[Double]()
    val passLayers = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    var attempted = 0L
    var pass = 0
    while (pass < a.int("timed_passes")) {
      pass += 1
      if (pass == 1) HostProbe.sample()
      val hits0 = graft.Tables.artifactDiskHits.get()
      val builds0 = graft.Tables.artifactBuilds.get()
      val gc0 = GcWatch.totalMs()
      val p0 = System.nanoTime()
      resetPass()
      resetMs += (System.nanoTime() - p0) / 1e6
      for (q <- order) {
        val fn = graft.SparkEntry.queries(q)
        attempted += 1
        val op = s"p$pass|$q"
        try {
          val q0 = System.nanoTime()
          OpListener.tag(s, s"$op|build")
          val df = trace.span("build", op)(fn(s, d))
          val q1 = System.nanoTime()
          OpListener.tag(s, s"$op|plan")
          trace.span("plan", op)(df.queryExecution.executedPlan)
          val q2 = System.nanoTime()
          OpListener.tag(s, s"$op|exec")
          val n = trace.span("exec", op)(df.queryExecution.toRdd.count())
          val q3 = System.nanoTime()
          samplesMs += (q3 - q0) / 1e6
          queryMs(q) ::= (q3 - q0) / 1e6
          phaseMs(s"$q.build_ms") ::= (q1 - q0) / 1e6
          phaseMs(s"$q.plan_ms") ::= (q2 - q1) / 1e6
          phaseMs(s"$q.exec_ms") ::= (q3 - q2) / 1e6
          digests.get(q).flatten.foreach { case (rows, _) =>
            if (rows != n) failures += s"$q pass $pass returned $n rows, warm-up $rows"
          }
        } catch { case e: Throwable =>
          failures += s"$q pass $pass: ${e.getClass.getSimpleName}: ${e.getMessage}"
        } finally OpListener.tag(s, null)
      }
      val wallS = (System.nanoTime() - p0) / 1e9
      passWallS += wallS
      if (trace.enabled) {
        listener.fence(s)
        val t = listener.totals(_.startsWith(s"p$pass|"))
        passLayers += Map(
          "spark.jobs" -> t("jobs"), "spark.tasks" -> t("tasks"),
          "spark.task_busy_ms" -> t("busy_ms"),
          "spark.util" -> t("busy_ms") / (a.int("cpus") * wallS * 1000),
          "spark.shuffle_mb" -> t("shuffle_mb"), "spark.spill_mb" -> t("spill_mb"),
          "spark.task_skew" -> t("task_skew"),
          "jvm.gc_ms" -> (GcWatch.totalMs() - gc0),
          "tables.artifact_builds" -> (graft.Tables.artifactBuilds.get() - builds0).toDouble,
          "tables.artifact_disk_hits" -> (graft.Tables.artifactDiskHits.get() - hits0).toDouble)
      }
    }
    val endNs = System.nanoTime()
    HostProbe.sample()

    val layers: Map[String, Double] =
      if (!trace.enabled) Map.empty
      else {
        val perPass = passLayers.flatMap(_.keys).distinct
          .map(k => k -> Harness.median(passLayers.map(_(k)).toSeq)).toMap
        val perQuery = phaseMs.map { case (k, v) => s"query.$k" -> Harness.median(v) }
        perPass ++ perQuery + ("jvm.gc_pause_max_ms" -> GcWatch.maxPauseMs(t0, endNs))
      }
    Map(
      "first_timed_epoch_ms" -> firstTimedMs,
      "samples_ms" -> samplesMs.toSeq,
      "p50_ms" -> Harness.median(queryMs.values.map(Harness.median).toSeq),
      "p50_samples" -> queryMs.size,
      "job_s" -> (Harness.median(resetMs.toSeq) + queryMs.values.map(Harness.median).sum) / 1000,
      "unit_walls_s" -> passWallS.toSeq,
      "passes" -> pass,
      "order" -> order,
      "attempted" -> attempted,
      "failures" -> failures.toSeq,
      "digests" -> digestOut,
      "cold_ms" -> coldMs.toMap,
      "layers" -> layers,
      "spans" -> trace.all,
      "ops" -> (if (trace.enabled) listener.perOp else Map.empty),
      "retained_mb" -> Harness.retainedMb(),
      "heap_max_mb" -> Harness.heapMaxMb(),
      "cores" -> Runtime.getRuntime.availableProcessors)
  }
}

/** Expected outputs recorded from a known-good build: `query<TAB>rows<TAB>digest`. */
object Expected {
  def load(path: String): Map[String, (Long, String)] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isRegularFile(p)) Map.empty
    else scala.io.Source.fromFile(p.toFile, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val f = l.split("\t"); f(0) -> ((f(1).toLong, f(2))) }.toMap
  }
}
