package graft.streaming

import graft.Tables
import graft.ops.{Aggregates, Predict}
import graft.sources.Sinks
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import scala.util.Try

/** Structured Streaming pipelines (SURVEY §2.1 S1/S4, §2.9 T1-T8).
  *
  * The reference consumes Kafka, parses the JSON envelope, and per
  * micro-batch appends raw rows to MySQL and predicts from the batch's
  * last 5 prices (`stream_consumer.py:56-103`). Sandbox transports:
  * file-stream source over the events parquet (same schema discipline),
  * parquet sink for the raw-tick table. Semantics preserved: append
  * output mode, stateless per-batch prediction (T5 parity),
  * checkpointing added (T8 — the reference has none). The reference's
  * JDBC append is at-least-once; every parquet sink here writes each
  * micro-batch through one batch-keyed overwrite, so a replayed batch
  * leaves exactly-once contents.
  */
object Pipeline {

  case class E(event_type: String, ts: java.sql.Timestamp, event_id: Long, value: Double)

  /** Ephemeral per-run scratch (checkpoints, staged sources, drain
    * sinks) on the fast tmp root — see [[graft.Tuning.fastTmpRoot]]. */
  private def tmp(prefix: String): String =
    graft.Tuning.fastTmpDir(prefix).toString

  /** Streaming drains run at 4 shuffle partitions: each stateful
    * micro-batch pays per-partition state-store open/commit overhead,
    * and these AvailableNow drains process bounded data where 4 state
    * partitions saturate the work (measured: 4 beats both 8 and 2 on
    * the full streaming family — below 4 the lost parallelism costs
    * more than the saved commits; see graft.Tuning). Production streams
    * with wide key spaces keep the session default. */
  private def withStreamShuffle[A](s: SparkSession)(f: => A): A =
    graft.Tuning.withShufflePartitions(s, 4)(f)

  /** Streaming source over the events table, arriving in MULTIPLE
    * micro-batches: the single events.parquet is split into four files in
    * a temp dir and streamed with maxFilesPerTrigger=1, so every
    * downstream consumer (foreachBatch, dropDuplicates state, windowed
    * aggs, flatMapGroupsWithState) genuinely exercises cross-batch
    * behavior instead of a one-batch degenerate run. File sources need an
    * explicit schema; staged files carry ts already normalized to
    * TimestampType (see Tables.events / Tables.eventsSchema).
    *
    * Staged once per events fingerprint. Bench calls this during
    * warm-up so no TIMED query pays the one-time staging write;
    * first-use inside a query still works. */
  def prestage(s: SparkSession, d: String): String =
    Tables.artifact(s, d, Seq("events"), "prestage") {
      val out = tmp("graft_src_")
      // Normalize ts to TimestampType AT WRITE TIME (Tables.events is
      // schema-adaptive over the fixture's physical encoding), so every
      // staged file carries the declared stream schema and stream reads
      // need no per-stream fix-up.
      Tables.events(s, d)
        .repartition(4)
        .write.mode("overwrite").parquet(out)
      pinPartFiles(out)
      out
    }

  /** The 4 files of a staged copy are written concurrently: pin them to
    * arrive in part-file order ([[pinArrivalOrder]]). */
  private def pinPartFiles(dir: String): Unit =
    pinArrivalOrder(new java.io.File(dir).listFiles().toSeq
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName).map(_.toPath))

  /** Pins a staged replay's micro-batch composition: the file source
    * takes files oldest first, so `files` get strictly increasing
    * modification times in their given order. Left as written, which
    * files form micro-batch 0 can change from one staging to the next. */
  private def pinArrivalOrder(files: Seq[java.nio.file.Path]): Unit =
    files.zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }

  /** Default 2 files/trigger: the 4-file staged replay then drains in 2
    * micro-batches — still genuinely cross-batch (state handoff, late
    * arrivals between batches 1 and 2) at half the per-batch machinery
    * (offset log + WAL + planning, ~70 ms/batch measured). Consumers
    * whose semantics want a longer batch sequence pass their own value. */
  private def eventsStream(s: SparkSession, d: String,
      filesPerTrigger: Int = 2): DataFrame =
    // transport is config (graft.stream.source): the staged file replay
    // by default; a Kafka deployment swaps in via --conf, zero code
    // (sources.TickTransport — staging is lazy, Kafka never pays it)
    graft.sources.TickTransport.source(s, prestage(s, d), filesPerTrigger)
      .read(s)

  /** Watermark delay for the staged replay source, DERIVED from the data
    * (one stored min/max pass per staged copy): the staged files are
    * hash-split, so a later micro-batch can carry the corpus's OLDEST
    * event — the only delay that can never evict still-live state is the
    * full corpus span (+1 day slack for the daily-window bucket edge).
    * A hard-coded delay sized to one fixture would silently drop late
    * rows the moment a wider corpus arrives — the worst failure mode for
    * an oracle-checked pipeline. A time-ordered production source would
    * use its real disorder bound (minutes) instead. */
  private def watermarkDelay(s: SparkSession, d: String): String =
    Tables.artifact(s, d, Seq("events"), "watermarkDelay") {
      val r = s.read.schema(Tables.eventsSchema).parquet(prestage(s, d))
        .agg(min(col("ts")).as("mn"), max(col("ts")).as("mx")).head()
      val days =
        if (r.isNullAt(0)) 1L
        else (r.getTimestamp(1).getTime - r.getTimestamp(0).getTime) / 86400000L + 2L
      s"$days days"
    }

  /** Time-ORDERED staged replay + watermark heartbeat — the production
    * arrival shape, staged once per corpus: the events split into 4
    * contiguous time-range files (so cross-batch disorder is zero and a
    * minutes-scale watermark delay is honest, unlike the hash-split
    * replay whose only safe delay is the corpus span), plus two
    * single-row HEARTBEAT files 90/180 days past the corpus max. The
    * heartbeat is the standard punctuation pattern for finite replays
    * and idle sources: it advances the watermark past every real
    * event, so append-mode operators (merging session windows, outer
    * join null-side emission) FINALIZE their tail state before the
    * drain terminates instead of holding it forever. Consumers keep the
    * heartbeats upstream of the watermark node and filter them before
    * any aggregate (user_id = -1 marks them). File order is pinned by
    * [[pinArrivalOrder]]. */
  def prestageOrdered(s: SparkSession, d: String): String =
    Tables.artifact(s, d, Seq("events"), "prestageOrdered") {
      val out = graft.Tuning.fastTmpDir("graft_osrc_")
      // ts arrives normalized to TimestampType (Tables.events); slice
      // bounds are computed in epoch micros, which is exact for
      // micro-encoded timestamps.
      val raw = Tables.events(s, d).withColumn("ts_us", unix_micros(col("ts")))
      val Array(mn, mx) = raw.agg(min(col("ts_us")), max(col("ts_us"))).head() match {
        case r => Array(r.getLong(0), r.getLong(1))
      }
      // 4 contiguous time ranges (equal spans — balance is irrelevant,
      // contiguity is the contract) + the heartbeat row
      val span = math.max(1L, mx - mn)
      val bounds = (0 to 4).map(i => mn + span / 4 * i).updated(4, mx + 1)
      val slices = (0 until 4).map { i =>
        raw.filter(col("ts_us") >= bounds(i) && col("ts_us") < bounds(i + 1))
          .drop("ts_us")
      }
      // THREE heartbeat files, because emission lags the watermark by
      // one micro-batch: batch N emits with the watermark computed from
      // batches 1..N-1, and an AvailableNow drain terminates after the
      // last file with no trailing no-data batch (observed: a single
      // heartbeat leaves the final session — whose end lies inside the
      // last delay window — stranded in state). The first heartbeat
      // advances the watermark past every real event; a LATER batch
      // performs the flush that watermark finalized. Three files keep
      // that guarantee at maxFilesPerTrigger=2 (batches {0,1} {2,3}
      // {hb1,hb2} {hb3} — the hb3 batch plans with hb2's watermark),
      // which halves the per-batch state machinery vs one file per
      // trigger.
      val heartbeats = (1 to 3).map { h =>
        val hbUs = mx + h * 90L * 86400L * 1000000L // 90·h days past max, µs
        s.createDataFrame(
          java.util.Arrays.asList(org.apache.spark.sql.Row(
            -h.toLong,
            java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
              hbUs / 1000000L, (hbUs % 1000000L) * 1000L)),
            -1L, "heartbeat", 0.0, null.asInstanceOf[String])),
          Tables.eventsSchema)
      }
      pinArrivalOrder((slices ++ heartbeats).zipWithIndex.map { case (df, i) =>
        val stage = graft.Tuning.fastTmpDir("graft_oslice_")
        df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = scala.util.Using.resource(Files.list(stage)) {
          _.filter(_.toString.endsWith(".parquet")).findFirst().get()
        }
        val target = out.resolve(f"$i%02d.parquet")
        Files.move(part, target)
        graft.Tuning.dropTmpDir(stage)
        target
      })
      out.toString
    }

  private def orderedEventsStream(s: SparkSession, d: String,
      filesPerTrigger: Int = 1): DataFrame = {
    val staged = prestageOrdered(s, d)
    s.readStream.schema(Tables.eventsSchema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
      .parquet(staged)
  }

  // ————————————————— consolidated drain group ——————————————————————
  //
  // Every bounded drain below launches CONCURRENTLY as one group per
  // corpus: each streaming query keeps its own source checkpoint, sink,
  // trigger pacing, and state — concurrency changes WHEN micro-batches
  // run, never what they compute, so every drained table (and its
  // oracle hash) is identical to the one a solo drain produces. What
  // changes is the wall clock: a bounded AvailableNow drain's cost is
  // dominated by the per-micro-batch floor (trigger scheduling +
  // state-store open/commit), ~2 s/drain on this host, and those floors
  // are almost pure waiting — run one after another, 13 drains cost
  // ~13 × the floor; run together they cost ~max(drain) because the
  // micro-batch machinery of one query overlaps the idle floor of the
  // others. The drains do contend on the single driver (one
  // DAGScheduler event loop + listener bus: ~3 s of the ~5 s group wall
  // at sf0.1, PROFILE_r11), yet splitting the group into sequential
  // waves measured slower — 1 wave 5.0 s, 2 waves 6.8 s, 3 waves 8.6 s
  // (sf0.1, best of 3, PROFILE_r12): the overlapped idle floors are
  // worth more than the contention costs. This is also the production
  // shape: one Spark app runs its streaming queries side by side off
  // the shared source, not as a serial chain of separate drains.
  //
  // The group result is one Tables.Iteration entry per corpus: the
  // drained sinks are consumed by multiple queries (e.g. the stateful
  // emission log feeds both q_stateful_predict and q_stateful_final),
  // and Tables.beginIteration drops it, so every bench pass — warm
  // included — re-pays one full concurrent group drain: the warm number
  // measures the real consolidated drain, not a parquet read of a
  // stale sink.
  //
  // A shared GraftQueryListener rides the group, so the per-drain
  // micro-batch counts are observable ([[groupBatchCounts]]); the spec
  // asserts every drain in the group stays genuinely multi-batch
  // (≥ 2 micro-batches) — consolidation must not quietly degenerate a
  // cross-batch test into a one-batch one.

  /** One drained group: drain name → sink dir, drain name → run id, the
    * shared listener's per-micro-batch rows, and the group's own wall. */
  private case class DrainGroup(sinks: Map[String, String],
      runIds: Map[String, String], metrics: Seq[BatchMetric], wallNanos: Long)

  /** Delegate of [[Tables.beginIteration]] (which drops the drain group,
    * the stateful sinks and the GRU/LSTM passes alike), kept for callers
    * built against this name: the graftbench harness calls it. */
  def resetDrains(): Unit = Tables.beginIteration()

  private val drainLaunchers: Seq[(String, (SparkSession, String) => (String, StreamingQuery))] = Seq(
    "pipeline"     -> (launchPipeline(_, _)),
    "event_window" -> (launchEventWindow(_, _)),
    "drift"        -> (launchDriftMonitor(_, _)),
    "sliding"      -> (launchSliding(_, _)),
    "vwap"         -> (launchVwap(_, _)),
    "enrich"       -> (launchEnrich(_, _)),
    "dedup"        -> (launchDedup(_, _)),
    "dedup_wm"     -> (launchDedupBounded(_, _)),
    "ss_join"      -> (launchStreamStreamJoin(_, _)),
    "session"      -> (launchSessionWindows(_, _)),
    "outer_join"   -> (launchOuterJoin(_, _)),
    "metrics"      -> (launchMetricsAppend(_, _)),
    "stateful"     -> (launchStateful(_, _, DefaultLastK)),
    "index"        -> (launchIndexAppend(_, _)))

  def drainGroup(s: SparkSession, d: String): Map[String, String] =
    drained(s, d).sinks

  /** THE read of a drained sink: group drain `name`'s rows ([[readSink]]). */
  private[graft] def drainedSink(s: SparkSession, d: String, name: String,
      batchIds: Boolean = false): DataFrame =
    readSink(s, drainGroup(s, d)(name), batchIds)

  /** The rows of the sink at `dir`. Each micro-batch is its own
    * `batch_id=N` dir ([[Sinks.parquetBatchOverwrite]]), which partition
    * discovery reads as a trailing `int` column: with `batchIds` it stays
    * there as the bigint that [[Sinks.readLatest]] and the stateful
    * emission log order by, otherwise it is dropped, so the sink reads
    * back with exactly the drained query's schema. */
  private[graft] def readSink(s: SparkSession, dir: String,
      batchIds: Boolean = false): DataFrame = {
    val rows = s.read.parquet(dir)
    if (batchIds) rows.withColumn("batch_id", col("batch_id").cast(LongType))
    else rows.drop("batch_id")
  }

  private def drained(s: SparkSession, d: String): DrainGroup =
    Tables.artifact(s, d, DrainTables, "drainGroup", Tables.Iteration)(
      Try(runDrainGroup(s, d))).get

  private val DrainTables = Seq("events", "documents")

  /** This iteration's drain of the group without running it: None until
    * a consumer drained it, then the group's wall in nanoseconds, or its
    * failure — a failed drain is kept, so every consumer in the
    * iteration reports that error and none re-runs the group. Bench
    * gives the wall its own line. */
  private[graft] def drainOutcome(s: SparkSession, d: String): Option[Try[Long]] =
    Tables.artifactPeek[Try[DrainGroup]](s, d, DrainTables, "drainGroup")
      .map(_.map(_.wallNanos))

  private def runDrainGroup(s: SparkSession, d: String): DrainGroup = {
    val t0 = System.nanoTime()
    // both staged replays exist before any query starts (cached; Bench
    // additionally pre-stages them in its untimed warm-up)
    prestage(s, d)
    prestageOrdered(s, d)
    val lst = new GraftQueryListener()
    s.streams.addListener(lst)
    try withStreamShuffle(s) {
      val started = scala.collection.mutable.ArrayBuffer[(String, String, StreamingQuery)]()
      try {
        drainLaunchers.foreach { case (name, launch) =>
          val (sink, q) = launch(s, d)
          started += ((name, sink, q))
        }
        started.foreach(_._3.awaitTermination())
      } catch {
        case e: Throwable =>
          // stop the survivors so a failed group never leaks running
          // queries into the next attempt
          started.foreach(t => try t._3.stop() catch { case _: Throwable => () })
          throw e
      }
      started.foreach { case (name, _, q) => requireTerminated(lst, q, s"drain '$name'") }
      DrainGroup(started.map(t => t._1 -> t._2).toMap,
        started.map(t => t._1 -> t._3.runId.toString).toMap, lst.collected,
        System.nanoTime() - t0)
    } finally s.streams.removeListener(lst)
  }

  /** Micro-batches each group drain actually ran (from the shared
    * listener) — the spec's ≥2-batch consolidation guard. */
  def groupBatchCounts(s: SparkSession, d: String): Map[String, Long] = {
    val g = drained(s, d)
    g.runIds.map { case (n, rid) => n -> g.metrics.count(_.run_id == rid).toLong }
  }

  /** THE bounded drain every engine stream runs through: `stream` drains
    * AvailableNow into a fresh `sinkPrefix` dir, and each micro-batch
    * calls `write(batch, sinkDir, batchId)`. foreachBatch is
    * at-least-once — a batch that fails before its commit replays under
    * the same id from the offset WAL — so exactly-once CONTENTS come
    * from the sink: every engine drain writes through the idempotent
    * Sinks.parquetBatchOverwrite (directly, or through
    * TickTransport.sink), which converges under replay; StreamingSpec T8
    * crashes this path at both sides of the write. `checkpoint`
    * defaults to a fresh dir; T8 passes a fixed one to restart a crashed
    * drain from its offsets. */
  private[graft] def drain(stream: DataFrame, mode: String, sinkPrefix: String,
      checkpoint: String = tmp("graft_ckpt_"))(
      write: (DataFrame, String, Long) => Unit): (String, StreamingQuery) = {
    val sinkDir = tmp(sinkPrefix)
    val q = stream.writeStream.outputMode(mode)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch((batch: DataFrame, batchId: Long) => write(batch, sinkDir, batchId))
      .start()
    (sinkDir, q)
  }

  /** Runs one drain ALONE, outside the group: its own listener (echoing
    * one line per micro-batch when `echo`), awaited to completion.
    * Returns the sink dir and the drain's per-micro-batch metrics. */
  private[graft] def solo(s: SparkSession, echo: Boolean = false)(
      launch: => (String, StreamingQuery)): (String, DataFrame) = {
    val lst = new GraftQueryListener(echo)
    s.streams.addListener(lst)
    try {
      val (sinkDir, q) = withStreamShuffle(s) {
        val (dir, q) = launch
        q.awaitTermination()
        (dir, q)
      }
      requireTerminated(lst, q, s"run ${q.runId}")
      (sinkDir, lst.metricsDf(s, q.runId.toString))
    } finally s.streams.removeListener(lst)
  }

  /** Listener events are async relative to awaitTermination: fail loudly
    * if `q`'s terminated event never lands, so an incomplete metrics
    * buffer can't masquerade as a successful run. */
  private def requireTerminated(lst: GraftQueryListener, q: StreamingQuery,
      what: String): Unit =
    require(lst.awaitTerminated(q.runId.toString),
      s"listener terminated event for $what not received in time")

  // ————————————————— the drains ————————————————————————————————————

  /** The reference's full stream pipeline (S1→P1-P3→S4: source → JSON
    * envelope round-trip → foreachBatch {append sink + last-5 predict}).
    * Drained via the group; returns the prediction rows computed over
    * the persisted tick table. The JSON serialize→parse round trip
    * mirrors producer `json.dumps` → consumer `from_json`
    * (`producer.py:9` / `stream_consumer.py:96-98`). */
  private def launchPipeline(s: SparkSession, d: String): (String, StreamingQuery) = {
    val envelopeSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val parsed = eventsStream(s, d)
      .select(to_json(struct(col("event_id"), col("ts"), col("event_type"),
        col("value"))).as("value"))                       // wire format
      .select(from_json(col("value").cast(StringType), envelopeSchema).as("data"))
      .select(col("data.*"))                              // struct flatten
    drain(parsed, "append", "graft_sink_") { (batch, sinkDir, batchId) =>
      // S2 parity: append the raw micro-batch to the tick table,
      // through the config-selected transport (parquet default, JDBC
      // via graft.stream.sink — sources.TickTransport). No isEmpty
      // pre-check (P4): an AvailableNow file source never delivers an
      // empty batch, and the guard itself costs one extra Spark job
      // per micro-batch; an empty batch would just append zero rows,
      // which is already correct.
      graft.sources.TickTransport.sink(s, sinkDir).append(batch, batchId)
    }
  }

  /** M1 parity on the persisted table: the batch last-5 prediction
    * ([[Predict.predictNext]]) over the drained sink — a stream's result
    * is the batch query over the same input (prefix consistency). */
  def streamPipeline(s: SparkSession, d: String): DataFrame =
    Predict.predictNext(drainedSink(s, d, "pipeline"), 5)

  /** Generalized event-time windowed aggregation (T3/T4 — absent in the
    * reference, standard Spark streaming surface): tumbling daily
    * count+sum per event_type with a watermark. Oracle-equivalent to a
    * date_trunc GROUP BY over the same data.
    *
    * Sink shape (scale-critical): update-mode foreachBatch publishing the
    * changed windows of each micro-batch to parquet under its batch id,
    * compacted latest-wins on read. A complete/memory sink would
    * materialize the FULL aggregate on the driver every batch — a
    * driver-side cliff once days×series stops being tiny; the update log
    * only ever moves the windows a batch actually touched, written by
    * executors. */
  private def launchEventWindow(s: SparkSession, d: String): (String, StreamingQuery) = {
    // watermark delay must cover the source's arrival DISORDER: the
    // staged files are hash-partitioned, so a micro-batch can carry
    // events older than any previous batch's max. In update mode a
    // window whose state was watermark-evicted silently drops late
    // rows, so the delay derives from the corpus's actual span
    // (watermarkDelay); with a time-ordered production source this
    // would be minutes. The default 2-file triggers give 2 data
    // micro-batches — the canonical multi-batch update-mode demo.
    val agg = eventsStream(s, d)
      .withWatermark("ts", watermarkDelay(s, d))
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("total"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"), col("total"))
    drain(agg, "update", "graft_evw_")(Sinks.parquetBatchOverwrite)
  }

  /** STREAMING DRIFT MONITOR (the drift family's production shape):
    * per-day, per-series PSI against the FROZEN reference bins of
    * [[graft.ops.Drift]] — computed as a streaming query so the score
    * exists the moment a day's traffic lands, not at the next batch
    * job. The frozen ranges arrive as a stream-static broadcast join
    * (what a deployed monitor does with the constants persisted at
    * model-ship time), the per-(day, series, bin) counts maintain
    * incrementally under the watermark, and the same update-log sink
    * as the window drains keeps state off the driver. The PSI algebra
    * itself runs on the drained counts at read time — integer counts
    * stream; the transcendental scoring stays a batch projection. */
  private def launchDriftMonitor(s: SparkSession, d: String): (String, StreamingQuery) = {
    val ranges = graft.ops.Drift.psiRanges(s, d)
    val agg = eventsStream(s, d)
      .withWatermark("ts", watermarkDelay(s, d))
      .join(broadcast(ranges), Seq("event_type"))
      .withColumn("bin",
        graft.ops.Drift.binCol(col("value"), col("vmn"), col("vmx"), 10))
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("bin"), col("n"))
    drain(agg, "update", "graft_drm_")(Sinks.parquetBatchOverwrite)
  }

  def streamDrift(s: SparkSession, d: String): DataFrame = {
    val counts = Sinks.readLatest(drainedSink(s, d, "drift", batchIds = true),
        Seq("day", "event_type", "bin"))
      .select(col("day"), col("event_type"), col("bin"), col("n"))
    // dense 10-bin frame per DRAINED (day, series): a bin no event hit
    // still contributes its smoothed term, exactly like the batch PSI
    val frame = counts.select(col("day"), col("event_type")).distinct()
      .crossJoin(broadcast(s.range(0, 10).select(col("id").as("bin"))))
    val totals = counts.groupBy(col("day"), col("event_type"))
      .agg(sum(col("n")).as("nd"))
    val pref = graft.ops.Drift.psiReference(s, d)
    frame
      .join(counts, Seq("day", "event_type", "bin"), "left")
      .na.fill(0L, Seq("n"))
      .join(totals, Seq("day", "event_type"))
      .join(broadcast(pref), Seq("event_type", "bin"))
      .withColumn("p_cur", (col("n") + lit(0.5)) / (col("nd") + lit(5.0)))
      .withColumn("psi_term",
        ((col("p_cur") - col("p_ref")) * log(col("p_cur") / col("p_ref")))
          .cast(DecimalType(18, 8)))
      .groupBy(col("day"), col("event_type"))
      .agg(max(col("nd")).as("n_day"),
        sum(col("psi_term")).cast(DecimalType(18, 8))
          .cast(DoubleType).as("psi"))
      .orderBy(col("day"), col("event_type"))
  }

  def eventTimeWindow(s: SparkSession, d: String): DataFrame =
    // latest-wins compaction: the final value of each window key is its
    // last emitted update (the streaming-upsert read path, Sinks.readLatest)
    Sinks.readLatest(drainedSink(s, d, "event_window", batchIds = true), Seq("day", "event_type"))
      .select(col("day"), col("event_type"), col("n"), col("total"))
      .orderBy(col("day"), col("event_type"))

  /** SLIDING event-time window (1-day width, 12-hour slide): each event
    * lands in exactly width/slide = 2 overlapping windows, maintained
    * incrementally with the same update-log sink as [[eventTimeWindow]].
    * The overlap factor is the published cost model — state and output
    * scale by width/slide, never by re-reading the source — and decimal
    * sums keep the drained table equal to the batch equivalent bit for
    * bit (the oracle enumerates both windows per row in SQL). */
  private def launchSliding(s: SparkSession, d: String): (String, StreamingQuery) = {
    // 2-file triggers: still a genuine cross-batch incremental update
    // (the second batch rewrites windows the first opened) at half the
    // per-batch state-store machinery of 1-file triggers
    val agg = eventsStream(s, d, filesPerTrigger = 2)
      .withWatermark("ts", watermarkDelay(s, d))
      .groupBy(window(col("ts"), "1 day", "12 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("total"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"), col("total"))
    drain(agg, "update", "graft_slw_")(Sinks.parquetBatchOverwrite)
  }

  def slidingEventWindow(s: SparkSession, d: String): DataFrame =
    Sinks.readLatest(drainedSink(s, d, "sliding", batchIds = true), Seq("win_start", "event_type"))
      .select(col("win_start"), col("event_type"), col("n"), col("total"))
      .orderBy(col("win_start"), col("event_type"))

  /** STREAMING merging session windows (T5 — the native session_window
    * operator under streaming state), in APPEND mode: a session emits
    * exactly once, when the watermark proves no future event can merge
    * into it. Merging state is why this needs the ordered replay: in
    * append mode nothing would emit until the watermark passes, and
    * with hash-split arrival the only safe delay is the corpus span —
    * under which NO session ever finalizes in a finite drain. With
    * contiguous files + the heartbeat, sessions finalize progressively
    * and the tail flushes before termination, so the drained table
    * equals the batch session_window oracle row for row. */
  private def launchSessionWindows(s: SparkSession, d: String): (String, StreamingQuery) = {
    // NO pre-aggregate heartbeat filter: Catalyst pushes filters BELOW
    // the EventTimeWatermark node, so a `user_id >= 0` here would kill
    // the heartbeat before it reaches the watermark collector and the
    // tail session would never finalize (observed). The heartbeats form
    // their own user=-1 sessions (90 days clear of any real one) and
    // are dropped AFTER the drain.
    val agg = orderedEventsStream(s, d, filesPerTrigger = 3)
      .withWatermark("ts", "1 minute")          // real disorder bound: 0 across files
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_micros(col("sw.start")).as("start_us"),
        unix_micros(col("sw.end")).as("end_us"), col("n_events"))
    drain(agg, "append", "graft_ssw_")(Sinks.parquetBatchOverwrite)
  }

  def streamSessionWindows(s: SparkSession, d: String): DataFrame =
    drainedSink(s, d, "session")
      .filter(col("user_id") >= 0)              // drop the heartbeat sessions
      .orderBy(col("user_id"), col("start_us"))

  /** Stream-stream LEFT OUTER interval join: purchases with their
    * same-user clicks of the preceding hour, null-extended when no
    * click exists. The null side of an outer stream-stream join can
    * only emit once the watermark proves no matching click will ever
    * arrive — exactly the tail-flush problem the heartbeat solves; the
    * inner variant ([[streamStreamJoin]]) never waits, which is why it
    * runs fine on the hash-split replay while this one needs the
    * ordered one. Drained result == the batch LEFT JOIN oracle. */
  private def launchOuterJoin(s: SparkSession, d: String): (String, StreamingQuery) = {
    // rename FIRST so each branch carries exactly one watermark (on
    // the join's event-time column). The event-type filters KEEP the
    // heartbeat rows: Catalyst pushes predicates below the
    // EventTimeWatermark node, so a filter that killed them would
    // stop the watermark from ever passing the real tail. Heartbeats
    // only ever join each other (user -1, 90 days clear of real
    // data) and are dropped after the drain by p_id. Three files per
    // trigger → batches {0,1,2} {3,hb1} {hb2,hb3}: the real tail
    // (file 3) is followed by hb1 in the SAME batch, so the NEXT
    // batch already plans with a watermark past every real event and
    // performs the flush — the post-watermark-flush guarantee (see
    // prestageOrdered) holds at a third of the per-batch state
    // machinery of one-file triggers.
    val clicks = orderedEventsStream(s, d, filesPerTrigger = 3)
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"), col("value").as("click_value"),
        col("event_type").as("c_type"))
      .withWatermark("c_ts", "1 minute")
      .filter(col("c_type").isin("click", "heartbeat")).drop("c_type")
    val purchases = orderedEventsStream(s, d, filesPerTrigger = 3)
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"), col("event_type").as("p_type"))
      .withWatermark("p_ts", "1 minute")
      .filter(col("p_type").isin("purchase", "heartbeat")).drop("p_type")
    val joined = purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"),
      "left_outer")
      .select(col("p_id"), col("c_id"), col("click_value"))
    drain(joined, "append", "graft_soj_")(Sinks.parquetBatchOverwrite)
  }

  def streamOuterJoin(s: SparkSession, d: String): DataFrame =
    drainedSink(s, d, "outer_join")
      .filter(col("p_id") >= 0)                 // drop the heartbeat pairs
      .orderBy(col("p_id"), col("c_id"))

  /** Streaming VWAP — [[graft.ops.Market.vwap]] as an event-time
    * windowed streaming aggregate: the same (symbol, day) grain, the
    * same exact decimal Σ(price·size), maintained incrementally in
    * update mode and drained through the update-log sink. The oracle is
    * the BATCH VWAP SQL — streaming and batch must converge to the
    * identical table (the lambda-architecture unification claim, proved
    * by hash). Decimal sums make the convergence exact: partial
    * per-batch state + final merge cannot perturb bits. */
  private def launchVwap(s: SparkSession, d: String): (String, StreamingQuery) = {
    val propsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    val agg = eventsStream(s, d, filesPerTrigger = 2)
      .withWatermark("ts", watermarkDelay(s, d))
      .withColumn("k", from_json(col("props"), propsSchema).getField("k"))
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type").as("symbol"))
      .agg(
        sum(col("k")).as("size_sum"),
        sum(col("value").cast(DecimalType(18, 2)) * col("k")).as("pv"))
      .select(col("symbol"), date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("size_sum"), col("pv"))
    drain(agg, "update", "graft_svwap_")(Sinks.parquetBatchOverwrite)
  }

  def streamingVwap(s: SparkSession, d: String): DataFrame =
    Sinks.readLatest(drainedSink(s, d, "vwap", batchIds = true), Seq("symbol", "day"))
      .select(col("symbol"), col("day"), col("size_sum"),
        (col("pv").cast(DoubleType) / col("size_sum").cast(DoubleType)).as("vwap"))
      .orderBy(col("symbol"), col("day"))

  /** Stream–static enrichment join: each micro-batch broadcast-joins a
    * STATIC dimension (here a deterministic per-type weight table —
    * production: a reference/dimension table reloaded per restart) and
    * the weighted values aggregate incrementally. The static side never
    * holds join state — Spark re-plans it as a broadcast per
    * micro-batch, the canonical cheap enrichment at any scale. Decimal
    * sums ⇒ the drained table equals the batch equivalent exactly
    * (oracle = batch SQL). */
  private def launchEnrich(s: SparkSession, d: String): (String, StreamingQuery) = {
    val dim = Tables.events(s, d).select(col("event_type")).distinct()
      .withColumn("weight", length(col("event_type")).cast(LongType))
    val agg = eventsStream(s, d, filesPerTrigger = 2)
      .withWatermark("ts", watermarkDelay(s, d))
      .join(broadcast(dim), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2)) * col("weight")).as("wsum"))
    drain(agg, "update", "graft_senrich_")(Sinks.parquetBatchOverwrite)
  }

  def streamEnrich(s: SparkSession, d: String): DataFrame =
    Sinks.readLatest(drainedSink(s, d, "enrich", batchIds = true), Seq("event_type"))
      .select(col("event_type"), col("n"),
        col("wsum").cast(DoubleType).as("weighted_sum"))
      .orderBy(col("event_type"))

  /** Streaming deduplication: dropDuplicates over the key columns with
    * state kept across micro-batches — the streaming face of the
    * dedup suite (each key emitted on first sight only). In production
    * pair with withWatermark to bound the state store; here the key
    * domain is small so state is bounded by construction. Output keys ==
    * batch DISTINCT over the same data, which is what the oracle checks. */
  private def launchDedup(s: SparkSession, d: String): (String, StreamingQuery) = {
    val keys = eventsStream(s, d)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
    // executor-side parquet sink, one batch-keyed overwrite per
    // micro-batch — a memory sink would funnel every first-seen key
    // through the driver (the scale cliff the other drains already avoid)
    drain(keys, "append", "graft_ddsink_")(Sinks.parquetBatchOverwrite)
  }

  def streamDedup(s: SparkSession, d: String): DataFrame =
    drainedSink(s, d, "dedup").orderBy(col("user_id"), col("event_type"))

  /** Streaming dedup with WATERMARK-BOUNDED state
    * (`dropDuplicatesWithinWatermark`) — the form that actually survives
    * 100 TB: plain dropDuplicates keeps every key seen forever, while
    * this one evicts a key's state once the watermark passes its event
    * time + delay, so the state store is bounded by the disorder window,
    * not by key cardinality. Here the derived delay spans the whole
    * staged corpus (the hash-split replay's disorder bound), so no
    * eviction can fire mid-drain and the output keys equal the batch
    * DISTINCT — which is exactly what the oracle checks; in production
    * the same code with a minutes-scale delay is the bounded-state
    * dedupe. */
  private def launchDedupBounded(s: SparkSession, d: String): (String, StreamingQuery) = {
    val keys = eventsStream(s, d)
      .withWatermark("ts", watermarkDelay(s, d))
      .select(col("user_id"), col("event_type"), col("ts"))
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    drain(keys, "append", "graft_ddwsink_")(Sinks.parquetBatchOverwrite)
  }

  def streamDedupBounded(s: SparkSession, d: String): DataFrame =
    drainedSink(s, d, "dedup_wm").orderBy(col("user_id"), col("event_type"))

  /** Stream-STREAM interval join (T4/T6 extension — the remaining core
    * Structured Streaming surface): purchases joined to the same user's
    * clicks within the preceding hour, both sides streaming. Spark
    * buffers both sides in join state keyed by user and prunes it with
    * the watermark + time-range condition; pairs whose halves arrive in
    * DIFFERENT micro-batches are emitted when the second half lands, so
    * the drained result equals the batch interval join exactly (the
    * oracle states it in SQL). Watermark sized past the staged files'
    * arrival disorder, as in [[eventTimeWindow]]. */
  private def launchStreamStreamJoin(s: SparkSession, d: String): (String, StreamingQuery) = {
    // 2-file triggers: still a genuine multi-batch drain (pairs split
    // across batches exercise the cross-batch join state) at half the
    // per-batch state machinery of the 1-file drains
    val clicks = eventsStream(s, d, filesPerTrigger = 2)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"), col("value").as("click_value"))
      .withWatermark("c_ts", watermarkDelay(s, d))
    val purchases = eventsStream(s, d, filesPerTrigger = 2)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .withWatermark("p_ts", watermarkDelay(s, d))
    val joined = purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
      .select(col("p_id"), col("c_id"), col("click_value"))
    drain(joined, "append", "graft_ssj_")(Sinks.parquetBatchOverwrite)
  }

  def streamStreamJoin(s: SparkSession, d: String): DataFrame =
    drainedSink(s, d, "ss_join").orderBy(col("p_id"), col("c_id"))

  /** Staged 4-file DOCUMENTS replay for the streaming-index drain
    * (staged once per documents fingerprint, like [[prestage]]): hash-split, so
    * micro-batch cuts are ARBITRARY relative to index blocks — a
    * block's documents spread across batches, which is exactly what the
    * read-side segment merge must (and does) restore. */
  private[graft] def prestageDocs(s: SparkSession, d: String): String =
    Tables.artifact(s, d, Seq("documents"), "prestageDocs") {
      val out = tmp("graft_docsrc_")
      Tables.documents(s, d).repartition(4).write.mode("overwrite").parquet(out)
      pinPartFiles(out)
      out
    }

  /** STREAMING INDEX MAINTENANCE drain: each micro-batch of documents
    * builds its PARTIAL segment table (token, block_id, sorted plist —
    * [[graft.ops.TextOps.partialSegments]]) and adds it to the
    * segment store, executor-side. This is the ingestion half of the
    * production index lifecycle: writers append small sorted segments
    * per batch (the Lucene flush), and readers merge at read
    * ([[graft.ops.TextOps.mergeSegments]]) — `q_stream_index` serves
    * the merged table and carries the full-rebuild oracle, proving the
    * merge restores the single-pass build bit for bit REGARDLESS of
    * where the batch cuts fell. 2-file triggers: 2 micro-batches, each
    * a genuine partial index. Each batch publishes through the
    * IDEMPOTENT batch-keyed overwrite ([[Sinks.parquetBatchOverwrite]]):
    * foreachBatch is at-least-once, and with a plain append a replayed
    * batch would silently double its segments' tf counts after the
    * merge — the r16 ADVICE item; the batch-id-keyed directory makes a
    * retry overwrite its own previous attempt instead. */
  private def launchIndexAppend(s: SparkSession, d: String): (String, StreamingQuery) = {
    val staged = prestageDocs(s, d)
    val docs = s.readStream.schema(s.read.parquet(staged).schema)
      .option("maxFilesPerTrigger", "2").parquet(staged)
    drain(docs, "append", "graft_idxsink_") { (batch, sinkDir, batchId) =>
      Sinks.parquetBatchOverwrite(
        graft.ops.TextOps.partialSegments(batch), sinkDir, batchId)
    }
  }

  /** T7 — a driven stream instrumented with [[GraftQueryListener]]:
    * writes the parsed events to a parquet sink while the listener
    * captures one metrics row per micro-batch (rows/latency) off the
    * listener bus — zero instrumentation cost inside the streaming plan.
    * In the group, the SHARED listener captures this drain's progress
    * rows (keyed by run id); [[streamWithMetrics]] returns them as the
    * per-batch metrics table. Latencies are wall-clock, so the query is
    * rows-only by design (StreamingSpec pins the deterministic parts:
    * one row per micro-batch, rows summing to the source count). At the
    * default 2-file triggers: the 2-row metrics table is the spec's
    * contract. */
  private def launchMetricsAppend(s: SparkSession, d: String): (String, StreamingQuery) =
    drain(eventsStream(s, d).select(col("event_id"), col("event_type"), col("value")),
      "append", "graft_msink_")(Sinks.parquetBatchOverwrite)

  def streamWithMetrics(s: SparkSession, d: String,
      echo: Boolean = false): DataFrame =
    if (echo) standaloneMetricsDrain(s, d, echo = true)
    else {
      import s.implicits._
      val g = drained(s, d)
      val rid = g.runIds("metrics")
      g.metrics.filter(_.run_id == rid).toDS().toDF()
        .select(col("batch_id"), col("input_rows"), col("duration_ms"))
        .orderBy(col("batch_id"))
    }

  /** The SOLO metrics drain — its own listener, its own uncontended
    * micro-batches. Used for the console echo (S6) and as Bench's
    * per-micro-batch LATENCY PROBE against the reference's stream panel
    * (`stream_consumer.py:57,77-78`): inside the concurrent group a
    * batch's wall latency includes scheduling overlap with 11 other
    * drains, so the like-for-like per-batch number must come from a
    * drain that runs alone. */
  def standaloneMetricsDrain(s: SparkSession, d: String,
      echo: Boolean = false): DataFrame =
    solo(s, echo)(launchMetricsAppend(s, d))._2

  /** Per-micro-batch LATENCY PROBE against the reference's stream panel
    * (BASELINE.md: ~18–41 ms/batch, mean ≈ 30 ms, ~100 plotted batches
    * at 10 msg/s — timer at `stream_consumer.py:57,77-78`): replays
    * nBatches files of ~rowsPerBatch time-ordered events one file per
    * trigger, doing the reference's per-batch work in foreachBatch —
    * write the raw batch (its JDBC insert) plus the last-5 collect and
    * linear predict (its per-batch prediction) — and returns the
    * listener's per-batch metrics table. Runs SOLO (own listener, never
    * through the group) so each batch's wall latency is uncontended,
    * which is the only number comparable to the reference's
    * single-query chart. Bench summarizes this next to BASELINE's
    * stream metric. */
  def streamLatencyProbe(s: SparkSession, d: String,
      rowsPerBatch: Int = 10, nBatches: Int = 100): DataFrame = {
    val src = tmp("graft_lat_src_")
    // one staging job: the oldest nBatches·rowsPerBatch events hashed
    // into nBatches files (batch composition is irrelevant to latency;
    // only the ~rows-per-trigger grain needs to match the reference)
    Tables.events(s, d)
      .orderBy(col("ts")).limit(rowsPerBatch * nBatches)
      .repartition(nBatches)
      .write.mode("overwrite").parquet(src)
    val ticks = s.readStream.schema(Tables.eventsSchema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    solo(s)(drain(ticks, "append", "graft_lat_sink_") { (batch, sinkDir, batchId) =>
      Sinks.parquetBatchOverwrite(batch, sinkDir, batchId)
      // the reference's per-batch predict: ORDER BY ts DESC LIMIT 5,
      // driver-side collect, one forward pass (stream_consumer.py:51,75)
      val last5 = batch.orderBy(col("ts").desc).limit(5)
        .collect().map(_.getAs[Double]("value")).reverse
      if (last5.length == 5) { Predict.LinearPredictor.predict(last5.toSeq); () }
    })._2
  }

  /** In-JVM sink for [[continuousFloorProbe]]: accumulators only report
    * at task COMPLETION, and continuous-mode tasks are long-running
    * until the query is stopped (their updates die with the kill), so
    * the probe collects into driver-shared static state — valid exactly
    * because local[*] runs executors in the driver JVM. */
  private object FloorCollector {
    private val cnt = new java.util.concurrent.atomic.AtomicLong(0)
    private val sum = new java.util.concurrent.atomic.AtomicLong(0)
    def reset(): Unit = { cnt.set(0); sum.set(0) }
    def add(latMs: Long): Unit = { cnt.incrementAndGet(); sum.addAndGet(latMs) }
    def snapshot(): (Long, Long) = (cnt.get(), sum.get())
  }

  /** LOW-LATENCY MODE floor: per-record end-to-end latency of a
    * rate-source → map → ForeachWriter pipeline under the given trigger
    * (default Trigger.Continuous — Spark's epoch-based continuous
    * engine, at-least-once, map-only operators). This is the measured
    * adjudication of the stream panel (SCALING.md round 11): the ~200 ms
    * micro-batch per-batch mean is the price of exactly-once
    * checkpointed state, NOT an engine latency floor — where map-only
    * semantics suffice, continuous mode delivers tens of ms on the same
    * box (54 ms measured round 11 vs 607 ms micro-batch end-to-end).
    * Registered as the `stream_floor_ms` bench artifact line so the
    * claim is regression-guarded, not a one-time prose note.
    *
    * Per-record latency = wall clock at ForeachWriter.process() minus
    * the rate source's own event timestamp. Returns (records, mean ms);
    * (0, -1) if nothing arrived. */
  def continuousFloorProbe(s: SparkSession, durationMs: Long = 10000,
      rowsPerSecond: Int = 200,
      trigger: Trigger = Trigger.Continuous("1 second")): (Long, Double) =
    // the collector is JVM-global by necessity (see its doc); the probe
    // itself serializes so two concurrent invocations (parallel suites)
    // can't cross-contaminate each other's counts — a probe is seconds
    // long and rare, so the lock costs nothing
    FloorCollector.synchronized {
    import org.apache.spark.sql.{ForeachWriter, Row}
    FloorCollector.reset()
    val writer = new ForeachWriter[Row] {
      def open(partitionId: Long, epochId: Long): Boolean = true
      def process(r: Row): Unit = {
        val ts = r.getAs[java.sql.Timestamp]("timestamp").getTime
        FloorCollector.add(System.currentTimeMillis() - ts)
      }
      def close(errorOrNull: Throwable): Unit = ()
    }
    val q = s.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString).load()
      .selectExpr("timestamp", "value", "value % 97 AS bucket")
      .writeStream.outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", tmp("graft_cont_"))
      .foreach(writer)
      .start()
    Thread.sleep(durationMs)
    val err = q.exception
    // stopping a continuous query KILLS its long-running epoch tasks;
    // TaskSetManager logs each kill as a WARN with a stack trace, and
    // those arrive asynchronously — AFTER the caller has moved on. In
    // round 13 that spam landed after Bench's summary lines and evicted
    // them from the driver's log tail ("parsed": null). The kills are
    // expected shutdown mechanics here, never actionable: silence the
    // kill-path loggers for good before stopping, then await the
    // query's full termination so no task-end event can trail the stop.
    try {
      import org.apache.logging.log4j.{Level => L4jLevel}
      import org.apache.logging.log4j.core.config.Configurator
      Configurator.setLevel("org.apache.spark.scheduler.TaskSetManager", L4jLevel.ERROR)
      Configurator.setLevel("org.apache.spark.executor.Executor", L4jLevel.ERROR)
    } catch { case _: Throwable => () }
    q.stop()
    try q.awaitTermination(30000) catch { case _: Throwable => () }
    err.foreach(e => throw new IllegalStateException(
      s"continuous floor probe query failed: ${e.getMessage}", e))
    val (cnt, sum) = FloorCollector.snapshot()
    (cnt, if (cnt == 0) -1.0 else sum.toDouble / cnt)
    }

  /** The drained sink is shared by BOTH q_stateful_predict and
    * q_stateful_final (which only post-processes the same emission
    * log): at the default k it rides the drain group; other k values
    * drain standalone into a per-(corpus, k) [[Tables.Iteration]] entry. */
  val DefaultLastK = 5

  def statefulPredictions(s: SparkSession, d: String, k: Int = DefaultLastK): DataFrame = {
    val emissions =
      if (k == DefaultLastK) drainedSink(s, d, "stateful", batchIds = true)
      else readSink(s, Tables.artifact(s, d, Seq("events"), ("statefulSink", k), Tables.Iteration)(
        solo(s)(launchStateful(s, d, k))._1), batchIds = true)
    emissions.orderBy(col("event_type"), col("batch_id"))
  }

  // executor-side sink like every other drain here; its batch id
  // partition identifies the FINAL emission per series (statefulFinal)
  private def launchStateful(s: SparkSession, d: String, k: Int): (String, StreamingQuery) =
    drain(lastKEmissions(eventsStream(s, d), k), "append", "graft_stsink_")(
      Sinks.parquetBatchOverwrite)

  /** Stateful streaming (T5 extension, explicitly beyond parity — the
    * reference is stateless per batch): carry the last-k prices per
    * series across micro-batches with flatMapGroupsWithState so every
    * batch emits a prediction even when it holds fewer than k rows.
    *
    * State is ARRIVAL-ORDER-ROBUST: it keeps the k rows with the
    * largest (event time, event_id) keys seen so far, and each batch
    * MERGES into that by key rather than appending. The staged replay
    * is hash-split, so a later micro-batch can deliver events OLDER
    * than anything in state; an append-and-truncate state (values
    * only) would let those stale rows evict genuinely newer ones. With
    * the keyed merge, the state after the final batch is exactly the
    * global event-time last-k — so the last emission per series equals
    * the batch last-k prediction, which is what gives
    * [[statefulFinal]] its DuckDB oracle. `events` is a stream in the
    * events schema; the result is (event_type, predicted, n_obs), one
    * row per series a micro-batch touched. */
  private[graft] def lastKEmissions(events: DataFrame, k: Int): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val src = events.select($"event_type", $"ts", $"event_id", $"value").as[E]
    val fn = (key: String, rows: Iterator[E],
        state: GroupState[Seq[(Long, Long, Double)]]) => {
      // only the k newest rows of state ∪ batch can matter for a last-k
      // state, so reduce both through one bounded top-k buffer (O(n·k),
      // no batch materialization — a micro-batch group can be
      // arbitrarily large) instead of sorting the whole group
      val buf = new graft.functions.TopKBuf(k)
      state.getOption.getOrElse(Seq.empty)
        .foreach { case (t, id, v) => buf.insert(t, id, v) }
      rows.foreach(e => buf.insert(e.ts.getTime, e.event_id, e.value))
      val hist = buf.sortedEntriesDesc.reverse   // ascending event time
      state.update(hist.toSeq)
      if (hist.nonEmpty)
        Iterator((key, Predict.LinearPredictor.predict(hist.map(_._3)), hist.size))
      else Iterator.empty
    }
    src.groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
      .toDF("event_type", "predicted", "n_obs")
  }

  /** The stateful drain's FINAL prediction per series: the emission from
    * the last micro-batch each series appeared in. Because the state
    * merges by (event time, event_id), that emission is computed from
    * the global last-k rows regardless of the replay's arrival order —
    * so for series with ≥k observations it equals the BATCH last-k
    * prediction exactly, and the whole stateful path gets a DuckDB
    * oracle (stream==batch parity as a hash row, not just a spec). */
  def statefulFinal(s: SparkSession, d: String, k: Int = DefaultLastK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = statefulPredictions(s, d, k)
    val w = Window.partitionBy(col("event_type")).orderBy(col("batch_id").desc)
    all.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col("n_obs") === k)
      .select(col("event_type"), col("predicted"))
      .orderBy(col("event_type"))
  }
}
