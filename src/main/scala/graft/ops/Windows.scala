package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Window-function operators — the heart of the reference (SURVEY.md §2.5).
  *
  * The reference collects the whole series to the driver and slices Python
  * lists (`stream_consumer.py:72-76` last-5; `batch_processor.py:89-97`
  * stride-1 length-60 windows). Here every window is a Catalyst Window
  * operator partitioned by the series key (event_type ≈ symbol): one
  * shuffle on the key, per-partition sort, streaming frame evaluation.
  * Nothing ever collects to the driver, so the operator scales with
  * executors × series, not with total rows.
  */
object Windows {

  /** W5 — ranking/analytic functions over per-user event streams. */
  def rankPerUser(s: SparkSession, d: String): DataFrame = {
    val wTime  = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wValue = Window.partitionBy(col("user_id")).orderBy(col("value"))
    Tables.events(s, d)
      .select(col("event_id"),
        row_number().over(wTime).as("rn"),
        rank().over(wValue).as("rk"),
        dense_rank().over(wValue).as("drk"))
      .orderBy(col("event_id"))
  }

  /** W5 — lag/lead neighbors in event-time order per user. Values pass
    * through raw (no arithmetic) so the oracle compare is bit-exact. */
  def lagLeadPerUser(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("event_id"), col("value"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"))
      .orderBy(col("event_id"))
  }

  /** W1 — last-k lookback stats per series (reference `prices[-5:]`,
    * `stream_consumer.py:51`): the two-phase [[Predict.lastK]] survivors
    * explode into the exact decimal-routed stats the oracle states. */
  def lastKStats(s: SparkSession, d: String, k: Int = 5): DataFrame =
    Predict.lastK(Tables.events(s, d), k)
      .select(col("event_type"), explode(col("vals")).as("value"))
      .groupBy(col("event_type"))
      .agg(
        Aggregates.dsum(col("value")).as("sum_lastk"),
        min(col("value")).as("min_lastk"),
        max(col("value")).as("max_lastk"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** W2 — stride-1 sliding windows of length k per series (reference
    * `batch_processor.py:89-97`, k=60). Emits per-window frame stats, not
    * raw lists (deterministic, oracle-comparable — SURVEY §7 R2). The sum
    * runs through decimal so the frame-evaluation order (Spark streaming
    * frame vs DuckDB segment tree) cannot perturb bits.
    *
    * Frames evaluate through [[Chunked.frames]] (overlapped time-chunk
    * repartitioning): a hot series spreads over many bounded tasks
    * instead of funnelling through one sort task — row-identical output
    * to the plain `Window.partitionBy(event_type)` formulation (the
    * oracle pins it). */
  def slidingWindowStats(s: SparkSession, d: String, k: Int = 60,
      artifactMaxRows: Long = Chunked.WindowArtifactMaxRows): DataFrame = {
    if (Tables.rowCount(s, d, "events") > artifactMaxRows) {
      // Past the window-array artifact's size gate the arrays are not
      // materialized (48 GB at 100M events × k=60) — and this query
      // never needed them: its three stats are native frame aggregates,
      // so the direct form runs the SAME chunked one-exchange WindowExec
      // with ONE scalar-buffer aggregate instead of building a
      // 60-double array per row first. Spark's sliding-frame processor
      // replays the whole frame per output row ONCE PER AGGREGATE, so
      // the stat count — not the stat kind — is the wall: the round-14
      // variant A/B at the 100M-event decade (SCALING.md round 14)
      // read three decimal/double frame aggregates 116.9 s, three with
      // the sum as long cents 103.9 s, one-aggregate collect_list (the
      // r11 form) 55.1 s — same host, same conditions, so the ORDERING
      // is the measurement even where absolute seconds carry that
      // host's memory-bandwidth deficit. FrameStatsAgg folds all three
      // stats into one replay with no per-row allocation (the
      // collect_list form's remaining cost); the committed round-14
      // single-replay reading is 86.0 s warm on the bandwidth-starved
      // host (r12 basis: 71.2 s on a full-bandwidth host, ratio ~ the
      // hosts' measured memory-probe gap). Exactness is unchanged: the
      // same cents
      // conversion as the below-gate CentsArraySum path, long addition
      // exactly associative, cents/100.0 = Decimal(18,2).toDouble.
      graft.functions.Native.register(s)
      Chunked.frames(Tables.events(s, d)
          .select(col("event_id"), col("event_type"), col("ts"), col("value")),
        d, "event_type", "ts", "event_id", k) { w =>
        Seq(graft.functions.Native.frameStats(col("value")).over(w).as("_fs"))
      }
        .select(col("event_id"),
          (col("_fs.cs") / lit(100.0)).as("w_sum"),
          col("_fs.mn").as("w_min"),
          col("_fs.mx").as("w_max"))
        .orderBy(col("event_id"))
    } else {
      // stats fold over the shared per-(corpus, k) window-array artifact
      // (Chunked.windowArrays) instead of re-running the chunked frame
      // WindowExec — below the gate the artifact is ALSO what the
      // predict/GRU/LSTM family reads, so this query's frame pass is
      // genuinely shared work there. w_sum rides the codegen'd
      // CentsArraySum — per-element semantics identical to the windowed
      // Σ cast(value AS DECIMAL(18,2)) (see the expression's doc; an
      // interpreted aggregate() HOF fold measured SLOWER than the
      // WindowExec it replaced); min/max are order-free.
      graft.functions.Native.register(s)
      Chunked.windowArrays(s, d, k)
        .select(col("event_id"),
          // collect_list drops nulls, so an all-null frame arrives as an
          // empty array; SQL sum over all nulls is NULL, not 0 — guard the
          // empty case explicitly (w_min/w_max are already null there)
          when(size(col("w")) === 0, lit(null).cast(DoubleType))
            .otherwise(graft.functions.Native.centsArraySum(col("w")) / 100.0)
            .as("w_sum"),
          array_min(col("w")).as("w_min"),
          array_max(col("w")).as("w_max"))
        .orderBy(col("event_id"))
    }
  }

  /** W5 — running (cumulative) aggregates per user in event-time order:
    * the unbounded-preceding frame. Decimal-routed running sum so the
    * cumulative values are exact at any prefix. */
  def runningTotals(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables.events(s, d)
      .select(col("event_id"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .over(w).cast(DoubleType).as("running_sum"),
        count(lit(1)).over(w).as("running_n"))
      .orderBy(col("event_id"))
  }

  /** W5 — ntile bucketing per series (the reference's chunked iteration
    * W4, `batch_processor.py:126-132`, done declaratively and usefully). */
  def ntileBuckets(s: SparkSession, d: String, buckets: Int = 10): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("event_id"),
        ntile(buckets).over(w).cast(org.apache.spark.sql.types.LongType).as("bucket"))
      .orderBy(col("event_id"))
  }

  /** W5 breadth — relative-position analytics: percent_rank (rank−1 over
    * n−1) and cume_dist (rows ≤ current over n) per series by value.
    * Both are integer-ratio divisions of the same sort, bit-identical
    * across engines. */
  def percentRankDist(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
    Tables.events(s, d)
      .select(col("event_id"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
      .orderBy(col("event_id"))
  }

  /** Sessionization (gaps-and-islands): a new session opens when a
    * user's inactivity gap exceeds `gapMinutes`. ONE shuffle on user_id
    * + one in-partition sort covers the lag, the running session index,
    * and (via partial aggregation) the per-session rollup — the
    * canonical event-time segmentation of a clickstream at scale (user
    * cardinality is high, so partitions stay balanced; contrast the hot
    * 5-value event_type keys that need [[Chunked.frames]]). */
  def sessionizeDf(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("new_sess",
        when(lag(col("us"), 1).over(w).isNull ||
          col("us") - lag(col("us"), 1).over(w) > gapUs, 1L).otherwise(0L))
      .withColumn("sess_idx",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sess_idx"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("us")) - min(col("us"))).as("duration_us"))
      .orderBy(col("user_id"), col("sess_idx"))
  }

  def sessionize(s: SparkSession, d: String, gapMinutes: Int = 30): DataFrame =
    sessionizeDf(Tables.events(s, d), gapMinutes)

  /** The same segmentation through Spark's NATIVE session_window
    * operator (one `groupBy(session_window(ts, gap), user)` — Spark
    * plans the merge of overlapping per-event windows itself, the same
    * state machinery Structured Streaming uses for streaming sessions).
    * Semantics differ from [[sessionizeDf]] at exactly one edge: a gap
    * of EXACTLY `gap` starts a new session here (window end is
    * exclusive), while the lag formulation splits only on strictly
    * greater — the oracle mirrors the ≥ edge. Output start/end are the
    * session bounds in epoch micros (end = last event + gap). */
  def sessionWindowNative(s: SparkSession, d: String, gapMinutes: Int = 30): DataFrame =
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), s"$gapMinutes minutes").as("sw"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("start_us"),
        unix_micros(col("sw.end")).as("end_us"),
        col("n_events"))
      .orderBy(col("user_id"), col("start_us"))

  /** Top-k rows per group by a measure — the canonical window+filter
    * pattern (per-partition heap, no global sort). */
  def topKPerGroup(s: SparkSession, d: String, k: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id"))
    Tables.events(s, d)
      .select(col("event_type"), col("event_id"), col("value"),
        row_number().over(w).cast(org.apache.spark.sql.types.LongType).as("rnk"))
      .filter(col("rnk") <= k)
      .orderBy(col("event_type"), col("rnk"))
  }

  /** W3/A3 — global min-max normalization (reference scaler semantics,
    * `stream_consumer.py:51,54`: (p−min)/(max−min) with frozen constants).
    * The 2-row stats frame is broadcast and cross-joined — never a
    * single-partition global Window, which would serialize all data
    * through one task at scale. Pure IEEE arithmetic on identical inputs
    * → bit-exact across engines, no rounding needed. */
  def minMaxScale(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val stats = e.agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
    e.crossJoin(broadcast(stats))
      .select(col("event_id"),
        ((col("value") - col("mn")) / (col("mx") - col("mn"))).as("scaled"))
      .orderBy(col("event_id"))
  }

  /** GROUP-WISE Z-SCORE normalization — the other standard feature
    * scaler next to [[minMaxScale]], per group. The per-group stats are
    * a partial/final aggregate broadcast back onto the fact rows
    * (never a per-group window over the corpus).
    *
    * Oracle-exact variance without a tolerance: a float `stddev` is
    * summation-order-dependent across engines, so the moments are
    * accumulated as DECIMALS — Σx over DECIMAL(18,2) and Σx² over its
    * exact 4-decimal square — which are order-independent, fit a
    * double losslessly at these magnitudes (≪2⁵³), and cast back
    * exactly. The final mean/var/z algebra is then the IDENTICAL
    * double expression on both engines: bit-exact, like every other
    * compared float here. */
  def zscoreScale(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val vd = col("value").cast(DecimalType(18, 2))
    val stats = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(vd).cast(DoubleType).as("sx"),
        sum(vd * vd).cast(DoubleType).as("sxx"))
      .select(col("event_type"),
        (col("sx") / col("n")).as("mean"),
        sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1))
          .as("sd"))
    e.join(broadcast(stats), Seq("event_type"))
      .select(col("event_id"), col("event_type"),
        ((col("value") - col("mean")) / col("sd")).as("z"))
      .orderBy(col("event_id"))
  }

  /** Percentile WINSORIZATION per group — the outlier-clipping
    * feature-prep step: values clamp into the group's [lo, hi]
    * percentile band. The two cut points per group come from the exact
    * interpolated percentile (bitwise equal to DuckDB's quantile_cont,
    * proven by q_agg_percentile) and broadcast onto the fact rows;
    * greatest/least are exact — so the whole operator hash-compares
    * with no tolerance. At 100 TB swap the cut computation for
    * approx_percentile and freeze the cuts like the min-max scaler. */
  def winsorize(s: SparkSession, d: String,
      lo: Double = 0.05, hi: Double = 0.95): DataFrame = {
    val e = Tables.events(s, d)
    val cuts = e.groupBy(col("event_type"))
      .agg(expr(s"percentile(value, $lo)").as("plo"),
        expr(s"percentile(value, $hi)").as("phi"))
    e.join(broadcast(cuts), Seq("event_type"))
      .select(col("event_id"), col("event_type"),
        greatest(least(col("value"), col("phi")), col("plo")).as("clipped"))
      .orderBy(col("event_id"))
  }

  /** ROBUST (median/IQR) scaling per group — the outlier-immune
    * sibling of the z-score scaler: (x − median) / (q3 − q1). A
    * heavy-tailed series wrecks mean/stddev scaling (one spike shifts
    * every scaled value); the median and interquartile range ignore
    * the tails entirely, which is why sklearn's RobustScaler is the
    * default for sensor-style data like the reference's price feed.
    * Same plan shape as [[winsorize]]: three exact interpolated
    * percentiles per group (bitwise equal to DuckDB's quantile_cont),
    * broadcast onto the fact rows, one codegen'd projection —
    * hash-compares with no tolerance. At 100 TB the cuts come from
    * approx_percentile and freeze like the min-max scaler. */
  def robustScale(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val cuts = e.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("med"),
        expr("percentile(value, 0.25)").as("q1"),
        expr("percentile(value, 0.75)").as("q3"))
    e.join(broadcast(cuts), Seq("event_type"))
      .select(col("event_id"), col("event_type"),
        ((col("value") - col("med")) / (col("q3") - col("q1")))
          .as("robust_z"))
      .orderBy(col("event_id"))
  }

  /** Forward fill (last-observation-carried-forward) — the standard
    * missing-data imputation for event streams: each row takes the most
    * recent non-null observation of its user's series. One shuffle on
    * `user_id` (high-cardinality — balanced under the plain window; a
    * hot low-cardinality series key would route through a chunked
    * prefix-combine instead, carry-forward is associative). The fixture
    * has no nulls, so sparsity is DERIVED deterministically (every 7th
    * event keeps its reading) — the same rule in the oracle — giving
    * the operator real gaps to fill at any scale. */
  def forwardFill(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables.events(s, d)
      .withColumn("reading",
        when(pmod(col("event_id"), lit(7)) === 0, col("value")))
      .select(col("event_id"),
        col("reading"),
        last(col("reading"), ignoreNulls = true).over(w).as("filled"))
      .orderBy(col("event_id"))
  }

  /** RESAMPLE onto a regular grid with linear interpolation — the
    * imputation step that turns an irregular event series into the
    * fixed-step feature matrix a model trains on. Per user, one grid
    * point per day over the corpus span: the interpolated value is
    * v1 + (v2 − v1)·(g − t1)/(t2 − t1) between the user's bracketing
    * events, back-/forward-filled at the edges. Implemented by
    * UNIONING the grid rows (value NULL) into the event stream and
    * running one IGNORE NULLS carry window in each direction — so the
    * whole operator is two window passes over ONE exchange on the
    * high-cardinality user key (no per-grid-point join, no range
    * join); task width is bounded by one user's history + grid. Both
    * engines evaluate the identical double formula on identical
    * integer-microsecond operands, so the oracle is bit-exact. */
  def resampleGrid(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val span = e.agg(to_date(min(col("ts"))).as("d0"), to_date(max(col("ts"))).as("d1"))
    val grid = e.select(col("user_id")).distinct()
      .crossJoin(broadcast(span))
      .select(col("user_id"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      .select(col("user_id"), unix_micros(col("day").cast("timestamp")).as("us"),
        lit(null).cast(DoubleType).as("v"), lit(1).as("is_grid"))
    val ev = e.select(col("user_id"), unix_micros(col("ts")).as("us"),
      col("value").as("v"), lit(0).as("is_grid"))
    val ord = Seq(col("us"), col("is_grid"))
    val wPrev = Window.partitionBy(col("user_id")).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy(col("user_id")).orderBy(ord: _*)
      .rowsBetween(0, Window.unboundedFollowing)
    val evUs = when(col("is_grid") === 0, col("us"))
    ev.unionByName(grid)
      .withColumn("v1", last(col("v"), ignoreNulls = true).over(wPrev))
      .withColumn("t1", last(evUs, ignoreNulls = true).over(wPrev))
      .withColumn("v2", first(col("v"), ignoreNulls = true).over(wNext))
      .withColumn("t2", first(evUs, ignoreNulls = true).over(wNext))
      .filter(col("is_grid") === 1)
      .select(col("user_id"),
        date_format(expr("timestamp_micros(us)"), "yyyy-MM-dd").as("day"),
        when(col("v1").isNull, col("v2"))
          .when(col("v2").isNull, col("v1"))
          .when(col("t2") === col("t1"), col("v1"))
          .otherwise(col("v1") + (col("v2") - col("v1")) *
            ((col("us") - col("t1")).cast(DoubleType) /
             (col("t2") - col("t1")).cast(DoubleType)))
          .as("value_interp"))
      .orderBy(col("user_id"), col("day"))
  }

  /** W3 frozen-constants overload — the reference's ACTUAL scaler
    * semantics: `scaler.pkl` is a min/max frozen at training time
    * (`stream_consumer.py:44-45,51,54`), so serving-time values outside
    * [mn, mx] scale outside [0, 1] rather than re-fitting. Pure IEEE
    * arithmetic with literal constants → bit-exact vs the oracle, and at
    * scale a zero-shuffle map (no stats pass at all). */
  def minMaxScaleFrozen(s: SparkSession, d: String,
      mn: Double, mx: Double): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"),
        ((col("value") - lit(mn)) / lit(mx - mn)).as("scaled"))
      .orderBy(col("event_id"))

  /** Inverse of [[minMaxScale]] given the same stats — the reference's
    * denormalize step (`stream_consumer.py:54`). Used by tests to check
    * scale∘inverse ≈ identity. */
  def minMaxInverse(scaled: DataFrame, mn: Double, mx: Double): DataFrame =
    scaled.withColumn("restored", col("scaled") * (mx - mn) + mn)

  /** Trailing 24-hour MOVING AVERAGE via a time-RANGE window frame —
    * the frame is bounded by event-time distance (epoch micros), not
    * row count, so sparse and bursty series both get the same temporal
    * semantics (a ROWS frame would mean "last N events", a different
    * query). One user-keyed exchange+sort; the range frame is evaluated
    * in a single pass with a sliding aggregate buffer. The mean is
    * decimal-sum / count with ONE double division at the end — bit-exact
    * against the oracle (a running double sum would re-associate). */
  def movingAverage24h(s: SparkSession, d: String): DataFrame = {
    val us = unix_micros(col("ts"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-86400000000L, 0L)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), us.as("us"), col("value"))
      .withColumn("n_24h", count(lit(1)).over(w))
      .withColumn("sum_24h",
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))).over(w))
      .select(col("event_id"), col("n_24h"),
        (col("sum_24h").cast(org.apache.spark.sql.types.DoubleType) / col("n_24h"))
          .as("mav_24h"))
      .orderBy(col("event_id"))
  }
}
