package graft

import graft.gen.Ticks
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming pipelines + generator (SURVEY §2.1, §2.9). */
class StreamingSpec extends SparkSpec {

  test("stream pipeline predictions equal the batch predict path") {
    val stream = q("q_stream_pipeline").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val batch = q("q_predict_next").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(stream == batch)
  }

  test("event-time window equals batch date_trunc groupBy") {
    val streamed = q("q_event_window").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n"), r.getAs[Double]("total"))).toMap
    val batch = Tables.events(spark, sf)
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("total"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n"), r.getAs[Double]("total"))).toMap
    assert(streamed == batch)
  }

  test("streaming dedup emits exactly the distinct key set") {
    val streamed = q("q_stream_dedup").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = Tables.events(spark, sf).select("user_id", "event_type").distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == batch)
  }

  test("watermark-bounded streaming dedup equals the unbounded one on an in-span corpus") {
    val bounded = q("q_stream_dedup_wm").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val unbounded = q("q_stream_dedup").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(bounded == unbounded,
      "corpus span fits inside the derived watermark delay, so no key state may evict mid-drain")
  }

  test("stateful predictions emit one row per series per micro-batch") {
    val rows = q("q_stateful_predict").collect()
    val series = Tables.events(spark, sf).select("event_type").distinct()
      .collect().map(_.getString(0)).toSet
    // the source stages the data into 4 files with maxFilesPerTrigger=1,
    // so each series predicts once per micro-batch (reference semantics:
    // per-batch prediction, state carried across batches)
    assert(rows.length % series.size == 0 && rows.length >= series.size)
    assert(rows.map(_.getString(0)).toSet == series)
    rows.foreach(r => assert(r.getAs[Int]("n_obs") == 5))
  }

  test("stateful final emission equals the batch last-5 prediction per series") {
    // the keyed state merge makes the final state the global event-time
    // last-5 regardless of the hash-split replay's arrival order, so the
    // last emission per series must equal the batch-side prediction
    // bit-for-bit (also pinned by the q_stateful_final DuckDB oracle)
    val streamed = q("q_stateful_final").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val batch = q("q_predict_next").collect()
      .map(r => r.getString(0) -> r.getAs[Double]("predicted")).toMap
    assert(streamed == batch)
  }

  test("stream-stream interval join equals the batch join across micro-batches") {
    val streamed = q("q_stream_join").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = Tables.events(spark, sf)
    val batch = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("p_ts"), col("event_id").as("p_id"))
      .join(e.filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("ts").as("c_ts"), col("event_id").as("c_id")),
        col("pu") === col("cu") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"))
      .select(col("p_id"), col("c_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("query listener captures one metrics row per micro-batch (T7)") {
    val mdf = q("q_stream_metrics") // stream runs eagerly at construction
    val rows = mdf.collect()
    // 4 staged files x maxFilesPerTrigger=2 → exactly 2 micro-batches
    assert(rows.length == 2, s"expected 2 micro-batch metric rows, got ${rows.length}")
    assert(rows.map(_.getAs[Long]("input_rows")).sum ==
      Tables.events(spark, sf).count())
    assert(rows.map(_.getAs[Long]("batch_id")).distinct.length == rows.length)
    assert(rows.forall(_.getAs[Long]("duration_ms") >= 0L))
    val sm = graft.streaming.Metrics.summarize(mdf).head()
    assert(sm.getAs[Long]("n_batches") == 2L)
    assert(sm.getAs[Long]("total_rows") == Tables.events(spark, sf).count())
  }

  test("every consolidated drain runs genuinely multi-batch (≥2 micro-batches)") {
    // the concurrent drain group must not quietly degenerate any
    // cross-batch test into a one-batch run: the shared listener's
    // per-run progress counts prove each member drained ≥2 micro-batches
    val counts = graft.streaming.Pipeline.groupBatchCounts(spark, sf)
    assert(counts.size == 14, s"expected 14 group drains, got ${counts.keys.toSeq.sorted}")
    counts.foreach { case (name, c) =>
      assert(c >= 2L, s"drain '$name' ran only $c micro-batch(es)")
    }
    // the canonical 2-files-per-trigger drains run the full 2 data
    // batches (stateful update-mode drains may add a trailing no-data
    // finalization batch)
    assert(counts("metrics") == 2L && counts("event_window") >= 2L)
  }

  test("console metrics echo emits one line per micro-batch (S6)") {
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    val lst = new graft.streaming.GraftQueryListener(echo = true,
      echoSink = s => lines.synchronized { lines += s; () })
    spark.streams.addListener(lst)
    try {
      // the solo drain: the group-cached metrics path reruns no stream
      // once the group has drained, so the echo listener needs a query
      // that actually fires micro-batches on this session now
      graft.streaming.Pipeline.standaloneMetricsDrain(spark, sf).collect()
      val deadline = System.nanoTime() + 15e9.toLong
      while (lines.synchronized(lines.size) < 2 && System.nanoTime() < deadline)
        Thread.sleep(20)
      val got = lines.synchronized(lines.toList)
      assert(got.count(_.startsWith("[graft-metrics]")) >= 2, got.mkString("\n"))
    } finally spark.streams.removeListener(lst)
  }

  test("tick generator is deterministic and respects reference domains") {
    val a = Ticks.generate(spark, Seq("AAPL", "MSFT"), 500).collect()
    val b = Ticks.generate(spark, Seq("AAPL", "MSFT"), 500).collect()
    assert(a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted))
    assert(a.length == 1000)
    a.foreach { r =>
      val vol = r.getAs[Long]("volume")
      assert(vol >= 100000L && vol <= 500000L) // producer.py:25 domain
      assert(r.getAs[Double]("price") > 0.0)
    }
  }

  test("tick generator: chunked cumulative walk is bit-identical at any chunk size") {
    // decimal accumulation makes the log-walk sum exact, hence
    // associative: regrouping the prefix sums across chunk boundaries
    // cannot move a bit. chunkRows=64 forces 500/64 ≈ 8 chunks per
    // symbol (the bounded-task path); chunkRows=1<<20 degenerates to
    // one chunk (the plain single-window sum). Equality must be EXACT
    // on every column, not within-epsilon.
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getString(0), r.getTimestamp(1).getTime)
    val chunked = Ticks.generate(spark, Seq("AAPL", "MSFT"), 500, chunkRows = 64)
      .collect().map(r => key(r) -> (r.getDouble(2), r.getLong(3))).toMap
    val single = Ticks.generate(spark, Seq("AAPL", "MSFT"), 500, chunkRows = 1L << 20)
      .collect().map(r => key(r) -> (r.getDouble(2), r.getLong(3))).toMap
    assert(chunked.size == 1000)
    assert(chunked == single)
  }

  test("generator json wire format round-trips through from_json") {
    import org.apache.spark.sql.types._
    val wire = Ticks.asJson(Ticks.generate(spark, Seq("AAPL"), 50))
    val parsed = wire.select(from_json(col("value"), Tables.tickSchema).as("d"))
      .select(col("d.*"))
    assert(parsed.filter(col("symbol").isNull || col("price").isNull).count() == 0)
    assert(parsed.count() == 50)
    assert(parsed.schema == Tables.tickSchema)
  }

  test("streaming VWAP converges to the batch VWAP table bit-for-bit") {
    val streamed = q("q_stream_vwap").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val batch = q("q_market_vwap").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(streamed == batch, "incremental decimal state must equal the one-shot aggregate")
  }

  test("stream-static enrichment equals the batch weighted aggregate") {
    val streamed = q("q_stream_enrich").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val batch = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) *
          length(col("event_type")).cast("long"))
          .cast("double").as("ws"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(streamed == batch)
  }

  test("sliding windows: every event lands in exactly 2 windows; totals equal batch") {
    val rows = q("q_stream_sliding").collect()
    val n = Tables.events(spark, sf).count()
    // width/slide = 2 → Σ per-window counts double-counts the corpus
    assert(rows.map(_.getAs[Long]("n")).sum == 2 * n)
    val batch = Tables.events(spark, sf)
      .select(explode(array(
        (floor(unix_timestamp(col("ts")) / 43200) * 43200).cast("long"),
        (floor(unix_timestamp(col("ts")) / 43200) * 43200 - 43200).cast("long")))
        .as("ws"), col("event_type"), col("value"))
      .groupBy(from_unixtime(col("ws"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("total"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n"), r.getAs[Double]("total"))).toMap
    val streamed = rows.map(r => (r.getString(0), r.getString(1)) ->
      (r.getAs[Long]("n"), r.getAs[Double]("total"))).toMap
    assert(streamed == batch)
  }

  test("streaming session windows finalize in APPEND mode and equal the batch table") {
    val streamed = q("q_stream_session").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = q("q_session_window").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // the heartbeat must have flushed EVERY session, including the tail
    // ones whose end lies within the last watermark delay of the corpus
    assert(streamed == batch && streamed.nonEmpty)
    // and no heartbeat session leaked into the sink
    assert(streamed.forall(_._1 >= 0))
  }

  test("stream-stream LEFT OUTER join emits null-extended purchases after watermark") {
    val streamed = q("q_stream_outer_join").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    val inner = q("q_stream_join").collect()
      .map(r => (r.getLong(0), Some(r.getLong(1)))).toSet
    val allPurchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    // outer = inner plus exactly one null row per matchless purchase
    assert(streamed.filter(_._2.isDefined) == inner)
    val matchless = streamed.filter(_._2.isEmpty).map(_._1)
    val matched = inner.map(_._1)
    assert(matchless.intersect(matched).isEmpty)
    assert((matchless ++ matched).size == allPurchases,
      "every purchase appears: matched with clicks or null-extended")
  }

  // T8 runs the engine's own drain path (Pipeline.drain) on a fixed
  // checkpoint: n events in 4 files, one file per micro-batch
  private val t8Rows = 400
  private lazy val t8Source: String = {
    val src = Tuning.fastTmpDir("graft_t8_src_").toString
    Tables.events(spark, sf).orderBy(col("event_id")).limit(t8Rows)
      .repartition(4).write.mode("overwrite").parquet(src)
    src
  }
  private def t8Stream = spark.readStream.schema(Tables.eventsSchema)
    .option("maxFilesPerTrigger", "1").parquet(t8Source)

  /** Starts `stream` through Pipeline.drain on checkpoint `ckpt`, each
    * batch written by `write` into the fixed `sink`; batch `crashAt`
    * throws before or after its write (a crash after the write is one
    * between the sink and the commit log, so the batch replays). */
  private def t8Drain(stream: DataFrame, mode: String,
      ckpt: String, sink: String, crashAt: Long, afterWrite: Boolean)(
      write: (DataFrame, String, Long) => Unit) =
    graft.streaming.Pipeline.drain(stream, mode, "graft_t8_sink_", checkpoint = ckpt) {
      (batch, _, id) =>
        if (id == crashAt && !afterWrite) sys.error(s"injected crash before the write of batch $id")
        write(batch, sink, id)
        if (id == crashAt && afterWrite) sys.error(s"injected crash after the write of batch $id")
    }._2

  /** Crashes a drain at batch 1, restarts it on the same checkpoint and
    * returns its sink, after `afterCrash` has seen the crashed run's sink. */
  private def t8CrashAndResume(stream: => DataFrame, mode: String,
      afterWrite: Boolean, afterCrash: String => Unit = _ => ())(
      write: (DataFrame, String, Long) => Unit): String = {
    val ckpt = Tuning.fastTmpDir("graft_t8_ckpt_").toString
    val sink = Tuning.fastTmpDir("graft_t8_out_").toString
    val crashed = t8Drain(stream, mode, ckpt, sink, crashAt = 1L, afterWrite)(write)
    intercept[Exception] { crashed.awaitTermination() }
    afterCrash(sink)
    // resumes from the checkpoint: the uncommitted batch 1 replays, then the rest
    t8Drain(stream, mode, ckpt, sink, crashAt = -1L, afterWrite)(write).awaitTermination()
    sink
  }

  /** The same drain with no crash, into its own sink. */
  private def t8Clean(stream: DataFrame, mode: String)(
      write: (DataFrame, String, Long) => Unit): String = {
    val sink = Tuning.fastTmpDir("graft_t8_out_").toString
    t8Drain(stream, mode, Tuning.fastTmpDir("graft_t8_ckpt_").toString, sink,
      crashAt = -1L, afterWrite = false)(write).awaitTermination()
    sink
  }

  test("checkpoint recovery (T8): a crashed stream resumes from offsets, no loss, no dupes") {
    // crash BEFORE the sink write, so the failed batch leaves no partial
    // output — the restart must re-deliver it exactly once
    val sink = t8CrashAndResume(t8Stream, "append", afterWrite = false, afterCrash = { sink =>
      val mid = spark.read.parquet(sink).count()
      assert(mid > 0 && mid < t8Rows, s"first run committed a strict prefix, got $mid")
    })(graft.sources.Sinks.parquetBatchOverwrite)
    val fin = spark.read.parquet(sink)
    assert(fin.count() == t8Rows, "no loss across the crash/restart boundary")
    assert(fin.select(col("event_id")).distinct().count() == t8Rows,
      "no duplicates: the crashed batch re-delivered exactly once")
  }

  test("checkpoint recovery (T8): after a crash between sink write and commit, the idempotent sinks equal a clean run") {
    import graft.sources.Sinks
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    // batch-keyed overwrite: the replayed batch rewrites its own batch_id=1 dir
    val replayed = t8CrashAndResume(t8Stream, "append", afterWrite = true)(Sinks.parquetBatchOverwrite)
    val clean = t8Clean(t8Stream, "append")(Sinks.parquetBatchOverwrite)
    assert(spark.read.parquet(clean).count() == t8Rows)
    assert(rows(spark.read.parquet(replayed)) == rows(spark.read.parquet(clean)))
    // update-log upsert of a stateful aggregate: the replay rewrites
    // batch 1's rows under the same batch id, and readLatest keeps one
    def counts = t8Stream.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))).as("total"))
    val replayedLog = t8CrashAndResume(counts, "update", afterWrite = true)(Sinks.parquetBatchOverwrite)
    val cleanLog = t8Clean(counts, "update")(Sinks.parquetBatchOverwrite)
    val latest = (dir: String) => rows(Sinks.readLatest(spark.read.parquet(dir), Seq("event_type")))
    assert(latest(replayedLog) == latest(cleanLog))
    assert(Sinks.readLatest(spark.read.parquet(cleanLog), Seq("event_type"))
      .agg(sum(col("n"))).head().getLong(0) == t8Rows)
  }

  /** Crashes `stream` after its write of batch 1 and resumes it, then
    * asserts that `read` of the resumed sink equals `read` of a clean
    * run's: the replayed batch left no duplicate. */
  private def t8ReplayEqualsClean(stream: => DataFrame, mode: String)(
      write: (DataFrame, String, Long) => Unit)(read: String => DataFrame): Unit = {
    def rows(dir: String) = read(dir).collect().map(_.toString).sorted.toSeq
    val replayed = rows(t8CrashAndResume(stream, mode, afterWrite = true)(write))
    val clean = rows(t8Clean(stream, mode)(write))
    assert(replayed.size == clean.size,
      s"the replayed batch duplicated ${replayed.size - clean.size} rows")
    assert(replayed == clean)
  }

  test("checkpoint recovery (T8): after a crash between sink write and commit, the pipeline's tick sink equals a clean run") {
    t8ReplayEqualsClean(t8Stream, "append") { (batch, dir, id) =>
      graft.sources.TickTransport.sink(spark, dir).append(batch, id)
    }(spark.read.parquet(_))
  }

  test("checkpoint recovery (T8): after a crash between sink write and commit, a dropDuplicates drain equals a clean run") {
    t8ReplayEqualsClean(
      t8Stream.select(col("user_id"), col("event_type")).dropDuplicates("user_id", "event_type"),
      "append")(graft.sources.Sinks.parquetBatchOverwrite)(
      graft.streaming.Pipeline.readSink(spark, _))
  }

  test("checkpoint recovery (T8): after a crash between sink write and commit, the stateful emission log equals a clean run") {
    t8ReplayEqualsClean(graft.streaming.Pipeline.lastKEmissions(t8Stream, 5), "append")(
      graft.sources.Sinks.parquetBatchOverwrite)(
      graft.streaming.Pipeline.readSink(spark, _, batchIds = true))
  }

  test("the stateful emission log reads back as (event_type, predicted, n_obs, batch_id bigint)") {
    val schema = graft.streaming.Pipeline.statefulPredictions(spark, sf).schema
    assert(schema.map(f => f.name -> f.dataType.simpleString) == Seq(
      "event_type" -> "string", "predicted" -> "double", "n_obs" -> "int",
      "batch_id" -> "bigint"))
  }

  test("streaming drift: one PSI per (day, series), psi ≥ 0, day totals conserve") {
    val rows = q("q_stream_drift").collect()
    val e = Tables.events(spark, sf)
    val dayTypes = e.select(
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type")).distinct().count()
    assert(rows.length == dayTypes)
    // (x−y)·ln(x/y) ≥ 0 termwise, so the drained statistic is too
    // (up to the DECIMAL(18,8) term quantization)
    rows.foreach(r => assert(r.getAs[Double]("psi") >= -1e-7))
    // the drained per-day totals conserve the corpus: Σ n_day == rows
    assert(rows.map(_.getAs[Long]("n_day")).sum == e.count())
  }

  test("continuous-trigger pipeline drains: the stream_floor_ms probe delivers records") {
    // regression guard for the low-latency mode behind Bench's
    // stream_floor_ms line: the epoch-based continuous engine must still
    // run the rate→map→foreach pipeline and deliver records end-to-end.
    // Short horizon (4 s at 200 rows/s) — the spec pins LIVENESS, not
    // the latency number itself (that is the bench artifact's job).
    val (records, meanMs) = graft.streaming.Pipeline.continuousFloorProbe(
      spark, durationMs = 4000, rowsPerSecond = 200)
    assert(records > 0, "continuous engine delivered no records")
    assert(meanMs > 0.0)
  }

  test("a cold prestageOrdered build leaves no graft_oslice_ staging dir behind") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import scala.util.Using
    def slices(): Set[String] = Using.resource(Files.list(Tuning.fastTmpRoot)) {
      _.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft_oslice_")).toSet
    }
    val before = slices()
    val corpus = StagedFreshnessSpec.copyCorpus(Paths.get(sf))
    val staged = Paths.get(graft.streaming.Pipeline.prestageOrdered(spark, corpus.toString))
    assert(Using.resource(Files.list(staged))(_.count()) == 7, "4 slices + 3 heartbeats")
    val left = slices() -- before
    assert(left.isEmpty, s"staging dirs outlived the build: ${left.mkString(", ")}")
  }

  test("prestage pins its part files' modification times, strictly increasing in name order") {
    // the file source takes files oldest first: pinned times fix which
    // files form each micro-batch, whatever times the concurrent write left
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import scala.util.Using
    val corpus = StagedFreshnessSpec.copyCorpus(Paths.get(sf))
    val stagings = Seq[(String, (org.apache.spark.sql.SparkSession, String) => String)](
      "prestage" -> graft.streaming.Pipeline.prestage,
      "prestageDocs" -> graft.streaming.Pipeline.prestageDocs)
    for ((name, stage) <- stagings) {
      val staged = Paths.get(stage(spark, corpus.toString))
      val parts = Using.resource(Files.list(staged)) {
        _.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).toSeq.sorted
      }
      assert(parts.size == 4, s"$name: expected 4 staged part files, got ${parts.mkString(", ")}")
      val times = parts.map(n => Files.getLastModifiedTime(staged.resolve(n)).toMillis)
      assert(times.sliding(2).forall { case Seq(a, b) => a < b },
        s"$name: modification times not strictly increasing in name order: ${parts.zip(times)}")
      assert(times == parts.indices.map(i => 1000000000000L + i * 60000L),
        s"$name: modification times not pinned: ${parts.zip(times)}")
    }
  }
}
