package graft.perf

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `live-ticks`: an open loop over the reference's stream path
  * (`stream_consumer.py:56-103`).
  *
  * Set-up stages `warmup_files` + rate x seconds tick files of
  * `ticks_per_file` ticks (from `graft.gen.Ticks`, five seeded symbols)
  * and starts the engine's
  * query: a `FileTickSource` with no per-trigger file cap, the JSON
  * envelope round trip, and a `foreachBatch` that appends the batch to
  * the raw tick sink and predicts each symbol's next price from its last
  * five ticks with the reference's trained LSTM. The main thread is the
  * generator. The first `warmup_files` files warm the engine up, each
  * moved into the watched directory once the previous one's batch has
  * emitted. The next rate x seconds files are timed: each is moved when
  * it is due, `rate` files/s, without waiting for the engine, and timed
  * from its due time to the moment its batch's predictions are emitted. */
object LiveTicks {
  private final case class Batch(id: Long, startNs: Long, emitNs: Long,
      preds: Map[String, Double])

  def run(s: SparkSession, a: Args): Map[String, Any] = {
    val scratch = Paths.get(a("scratch"))
    val rate = a.int("rate")
    val perFile = a.int("ticks_per_file")
    val warmup = a.int("warmup_files")
    val timed = rate * a.int("seconds")
    val maxStealPct = a("max_steal_pct").toDouble
    // a second timed window is staged for a rerun when the host took more
    // than maxStealPct of the cores' time away during the first
    val nFiles = warmup + 2 * timed
    val trace = new Tracer(a.flag("trace"))
    val listener = new OpListener
    if (trace.enabled) { s.sparkContext.addSparkListener(listener); GcWatch.install() }

    // ---- staging: one parquet file per tick file, then the watched dir
    val rnd = new scala.util.Random(a.long("seed"))
    val symbols = Seq.tabulate(5)(i => f"S${rnd.nextInt(100000)}%05d$i")
    val perSymbol = perFile / symbols.size
    val generated = graft.gen.Ticks.generate(s, symbols, nFiles.toLong * perSymbol)
      .withColumn("i", ((unix_micros(col("timestamp")) - lit(1704067200000000L)) / 100000L).cast(LongType))
      .select(
        (col("i") * symbols.size + array_position(typedLit(symbols), col("symbol")) - 1).as("event_id"),
        col("timestamp").as("ts"), col("symbol").as("event_type"), col("price").as("value"))
    val tickRows = generated.collect()
    Harness.mark("generate")
    val stagedRows = tickRows.map(r => r.getLong(0) -> r).toMap
    val ticks = s.createDataFrame(java.util.Arrays.asList(tickRows: _*), generated.schema)
    // one writer task over the ticks in event-id order, rolling over every
    // perFile rows: its file c holds tick file c, the next perSymbol
    // ticks of every symbol
    val stage = scratch.resolve("stage")
    ticks.coalesce(1).sortWithinPartitions(col("event_id"))
      .write.option("maxRecordsPerFile", perFile.toLong).parquet(stage.toString)
    val fileNo = "[-.]c(\\d+)\\.".r
    def counter(p: Path): Int = fileNo.findFirstMatchIn(p.getFileName.toString)
      .map(_.group(1).toInt).getOrElse(sys.error(s"unexpected staged file name $p"))
    val staged: Array[Path] = Files.list(stage).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toArray.sortBy(counter)
    require(staged.length == nFiles, s"staged ${staged.length} tick files, wanted $nFiles")
    Harness.mark("stage")
    val watch = Files.createDirectories(scratch.resolve("watch"))
    val sinkRoot = scratch.resolve("sink").toString

    // ---- the engine's query
    HostProbe.sample()
    val batches = new ConcurrentLinkedQueue[Batch]()
    val progress = new graft.streaming.GraftQueryListener()
    s.streams.addListener(progress)
    val envelope = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val last5 = Window.partitionBy(col("event_type")).orderBy(col("ts").desc)
    val query = graft.sources.FileTickSource(watch.toString, Int.MaxValue).read(s)
      .select(to_json(struct(col("event_id"), col("ts"), col("event_type"), col("value"))).as("value"))
      .select(from_json(col("value"), envelope).as("data"))
      .select(col("data.*"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", scratch.resolve("checkpoint").toString)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val start = System.nanoTime()
        val op = s"b$id"
        OpListener.tag(s, op)
        trace.span("sink_append", op) {
          graft.sources.TickTransport.sink(s, s"$sinkRoot/batch_id=$id").append(batch, id)
        }
        val preds = trace.span("predict", op) {
          batch.select(col("event_type"), col("ts"), col("value"))
            .withColumn("rn", row_number().over(last5)).filter(col("rn") <= 5)
            .collect().groupBy(_.getString(0)).collect { case (sym, rows) if rows.length == 5 =>
              sym -> graft.ops.Predict.LstmPredictor.reference
                .predict(rows.sortBy(_.getTimestamp(1).getTime).map(_.getDouble(2)).toSeq)
            }
        }
        batches.add(Batch(id, start, System.nanoTime(), preds))
        ()
      }
      .start()

    Harness.mark("query_start")

    // ---- generator
    // warm-up: a closed loop, each file moved once the batch of the one
    // before it has emitted, so the engine runs one trigger per file and
    // is idle when the timed files start; timed files: an open loop
    def move(k: Int): Long = {
      Files.move(staged(k), watch.resolve(f"tick-$k%06d.parquet"), StandardCopyOption.ATOMIC_MOVE)
      System.nanoTime()
    }
    val periodNs = 1000000000L / rate
    val due = new Array[Long](nFiles)
    val moved = new Array[Long](nFiles)
    for (k <- 0 until warmup) {
      val emitted = batches.size
      due(k) = System.nanoTime()
      moved(k) = move(k)
      val deadline = moved(k) + 60000000000L
      while (batches.size == emitted && query.isActive && System.nanoTime() < deadline)
        LockSupport.parkNanos(1000000L)
    }
    final case class TimedWindow(first: Int, stealPct: Double, gcMs: Double, endNs: Long)
    def window(first: Int): TimedWindow = {
      val cpu0 = HostStat.read()
      val gc0 = GcWatch.totalMs()
      val t0 = System.nanoTime() + periodNs
      for (k <- first until first + timed) due(k) = t0 + (k - first) * periodNs
      for (k <- first until first + timed) {
        var now = System.nanoTime()
        while (now < due(k)) { LockSupport.parkNanos(due(k) - now); now = System.nanoTime() }
        moved(k) = move(k)
      }
      // every file of the window is in the source now; wait until the
      // engine committed them all (a failed query is reported below
      // through query.exception)
      try query.processAllAvailable() catch { case _: Throwable => () }
      TimedWindow(first, HostStat.stealPct(cpu0, HostStat.read()), GcWatch.totalMs() - gc0,
        due(first + timed - 1) + periodNs)
    }
    val (startNs, startMs) = (System.nanoTime(), Harness.epochMs())
    val first = window(warmup)
    val firstTimedMs = startMs + (due(warmup) - startNs) / 1e6
    val windows =
      if (first.stealPct <= maxStealPct || !query.isActive) Seq(first)
      else Seq(first, window(warmup + timed))
    val chosen = windows.minBy(_.stealPct)
    val nMoved = warmup + windows.size * timed
    val endTimedNs = chosen.endNs
    HostProbe.sample()
    query.stop()
    progress.awaitTerminated(query.runId.toString)
    s.streams.removeListener(progress)
    if (trace.enabled) listener.fence(s)

    // ---- correctness gate and samples, outside the timing
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    query.exception.foreach(e => failures += s"query failed: ${e.getMessage}")
    val sink = s.read.parquet(sinkRoot).select(col("event_id"), col("ts"), col("event_type"), col("value"), col("batch_id").cast(LongType)).collect()
    val byBatch = batches.asScala.map(b => b.id -> b).toMap
    val seen = sink.groupBy(_.getLong(0))
    val sinkRows = sink.groupBy(_.getLong(4)).map { case (id, rs) => id -> rs.length }
    val fileBatch = Array.fill(nFiles)(-1L)
    val movedRows = stagedRows.filter(_._1 < nMoved.toLong * perFile)
    movedRows.foreach { case (eid, r) =>
      val k = (eid / perFile).toInt
      seen.get(eid) match {
        case Some(Array(x)) if x.getTimestamp(1) == r.getTimestamp(1) &&
            x.getString(2) == r.getString(2) && x.getDouble(3) == r.getDouble(3) =>
          fileBatch(k) = math.max(fileBatch(k), x.getLong(4))
        case Some(xs) => failures += s"tick $eid reached the sink ${xs.length} times or altered"
        case None => ()
      }
    }
    for (k <- 0 until nMoved) {
      val bs = (k.toLong * perFile until (k + 1L) * perFile).flatMap(seen.get).flatten.map(_.getLong(4)).distinct
      if (bs.size > 1) failures += s"tick file $k was split across batches ${bs.mkString(",")}"
    }
    if (seen.size != movedRows.size)
      failures += s"sink holds ${seen.size} distinct ticks, ${movedRows.size} moved"
    sink.groupBy(_.getLong(4)).foreach { case (id, rows) =>
      val want = rows.groupBy(_.getString(2)).collect { case (sym, rs) if rs.length >= 5 =>
        sym -> graft.ops.Predict.LstmPredictor.reference
          .predict(rs.sortBy(_.getTimestamp(1).getTime).takeRight(5).map(_.getDouble(3)).toSeq)
      }
      byBatch.get(id) match {
        case Some(b) if b.preds == want => ()
        case Some(b) => failures += s"batch $id predictions ${b.preds} != reference $want"
        case None => failures += s"batch $id in the sink but never emitted"
      }
    }
    for (k <- fileBatch.indices if !byBatch.contains(fileBatch(k))) fileBatch(k) = -1L
    // a batch lists its files before it starts, so none can predate its move
    for (k <- fileBatch.indices if fileBatch(k) >= 0 && byBatch(fileBatch(k)).startNs < moved(k))
      failures += s"tick file $k reached batch ${fileBatch(k)} before it was moved"
    for (k <- warmup until nMoved if fileBatch(k) < 0) failures += s"tick file $k never emitted"
    // samples come from the window the host disturbed least
    val timedFiles = chosen.first until chosen.first + timed
    val latMs = timedFiles.filter(fileBatch(_) >= 0).map(k => (byBatch(fileBatch(k)).emitNs - due(k)) / 1e6)
    val lateMs = timedFiles.map(k => (moved(k) - due(k)) / 1e6)

    // trigger-level numbers over the batches that emitted timed files
    val timedBatchIds = timedFiles.map(fileBatch(_)).filter(_ >= 0).distinct.sorted
    val metrics = progress.collected.filter(_.run_id == query.runId.toString)
      .map(m => m.batch_id -> m).toMap
    val tm = timedBatchIds.flatMap(metrics.get)
    val triggerMs = tm.map(_.duration_ms.toDouble)

    val layers: Map[String, Double] =
      if (!trace.enabled) Map.empty
      else {
        def phase(f: graft.streaming.BatchMetric => Long) = Harness.mean(tm.map(f(_).toDouble))
        val waits = timedFiles.filter(fileBatch(_) >= 0).flatMap { k =>
          metrics.get(fileBatch(k)).map { m =>
            val pre = m.latest_offset_ms + m.wal_commit_ms + m.get_batch_ms + m.plan_ms
            (byBatch(fileBatch(k)).startNs - due(k)) / 1e6 - pre
          }
        }
        val backlog = timedFiles.map { k =>
          timedFiles.count(j => due(j) <= due(k) && fileBatch(j) >= 0 && byBatch(fileBatch(j)).emitNs > due(k))
        }
        val quarters = tm.grouped(math.max(1, (tm.size + 3) / 4)).toSeq.padTo(4, Seq.empty)
        val spark = listener.totals(op => timedBatchIds.contains(op.drop(1).toLongOption.getOrElse(-1L)))
        val windowMs = (endTimedNs - due(chosen.first)) / 1e6
        val sinkFiles = timedBatchIds.map { id =>
          val dir = Paths.get(sinkRoot, s"batch_id=$id")
          Files.list(dir).iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")).toDouble
        }
        val perTrigger = math.max(1, tm.size).toDouble
        val timedOps = timedBatchIds.map(id => s"b$id").toSet
        Map(
          "generator.late_p99_ms" -> lateMs.sorted.apply(math.ceil(lateMs.size * 0.99).toInt - 1),
          "generator.backlog_max" -> backlog.max.toDouble,
          "streaming.wait_ms" -> Harness.median(waits),
          "streaming.trigger_ms" -> Harness.mean(triggerMs),
          "streaming.triggers" -> tm.size.toDouble,
          "streaming.rows_per_trigger" -> Harness.mean(timedBatchIds.map(id => sinkRows.getOrElse(id, 0).toDouble)),
          "sources.latest_offset_ms" -> phase(_.latest_offset_ms),
          "sources.get_batch_ms" -> phase(_.get_batch_ms),
          "streaming.plan_ms" -> phase(_.plan_ms),
          "streaming.add_batch_ms" -> phase(_.add_batch_ms),
          "streaming.wal_commit_ms" -> phase(_.wal_commit_ms),
          "streaming.commit_offsets_ms" -> phase(_.commit_offsets_ms),
          "sources.sink_append_ms" -> Harness.mean(trace.durationsMs("sink_append", timedOps)),
          "predict.ms" -> Harness.mean(trace.durationsMs("predict", timedOps)),
          "sources.sink_files" -> Harness.mean(sinkFiles),
          "spark.jobs" -> spark("jobs") / perTrigger,
          "spark.tasks" -> spark("tasks") / perTrigger,
          "spark.task_busy_ms" -> spark("busy_ms") / perTrigger,
          "spark.util" -> spark("busy_ms") / (a.int("cpus") * windowMs),
          "spark.shuffle_mb" -> spark("shuffle_mb") / perTrigger,
          "spark.spill_mb" -> spark("spill_mb") / perTrigger,
          "spark.task_skew" -> spark("task_skew"),
          "jvm.gc_ms" -> chosen.gcMs,
          "jvm.gc_pause_max_ms" -> GcWatch.maxPauseMs(due(chosen.first), endTimedNs + 1000000000L)) ++
          quarters.zipWithIndex.map { case (q, i) =>
            s"sources.latest_offset_ms.q${i + 1}" -> Harness.mean(q.map(_.latest_offset_ms.toDouble))
          }
      }
    Map(
      "first_timed_epoch_ms" -> firstTimedMs,
      "samples_ms" -> latMs,
      "job_s" -> Harness.median(triggerMs) / 1000,
      "unit_walls_s" -> triggerMs.map(_ / 1000),
      "attempted" -> (nMoved - warmup).toLong,
      "windows" -> windows.map(w => Map("first_file" -> w.first, "steal_pct" -> w.stealPct,
        "reported" -> (w == chosen))),
      "failures" -> failures.toSeq,
      "generator_late_ms" -> Map(
        "p50" -> Harness.median(lateMs), "max" -> (if (lateMs.isEmpty) 0.0 else lateMs.max)),
      "layers" -> layers,
      "spans" -> trace.all,
      "ops" -> (if (trace.enabled) listener.perOp else Map.empty),
      "retained_mb" -> Harness.retainedMb(),
      "heap_max_mb" -> Harness.heapMaxMb(),
      "cores" -> Runtime.getRuntime.availableProcessors)
  }
}
