package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StructField, StructType}

import graft.Tables

/** Market-bar analytics over the tick stream — the reference's own
  * domain (a stock-price pipeline: random-walk ticks with price and
  * volume, `producer.py:16-26`; per-symbol price series consumed by
  * `batch_processor.py:89-97`). The reference stops at raw sliding
  * windows + model predict; these are the standard exchange-side
  * aggregations any production deployment of that pipeline runs next
  * to it: OHLC candlestick bars, VWAP, drawdown from running peak,
  * per-tick returns, Bollinger bands, and RSI.
  *
  * The fixture mapping: `events.event_type` is the symbol (5 hot
  * values — exactly the low-cardinality skew shape the reference's 5
  * tickers have), `events.value` the trade price, and `props.k` the
  * trade size. Every per-symbol sequential computation here routes
  * through chunked evaluation ([[Chunked.frames]] for fixed lookbacks,
  * a prefix-combine for the running max) so no symbol ever funnels
  * through a single task — the same scale discipline as the rest of
  * the window family.
  *
  * Float parity with the DuckDB oracles uses the repo's decimal-moments
  * technique throughout: sums accumulate in DECIMAL (exact, therefore
  * order- and chunking-independent), and only the final mean/ratio
  * algebra runs in doubles — the identical IEEE expression on both
  * engines. */
object Market {

  private val vd = col("value").cast(DecimalType(18, 2))

  /** Trade size parsed out of the props JSON — same extraction as
    * [[Scalars.parseJson]] (P2), reused as a join-free weight column. */
  private val sizeK: org.apache.spark.sql.Column = {
    val propsSchema = StructType(Seq(StructField("k", LongType)))
    from_json(col("props"), propsSchema).getField("k")
  }

  private def dayCol = date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day")

  /** OHLC candlestick bars per (symbol, day): open/close are the first/
    * last trade price by event time (`min_by`/`max_by` — single-pass
    * partial aggregates, no window sort), high/low the extrema, plus
    * trade count and summed size. One shuffle on the (symbol, day)
    * grain; (event_type, ts) is unique in the fixture (spec-asserted),
    * so the by-time selection is deterministic. */
  def ohlcBars(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type").as("symbol"), dayCol, col("ts"), col("value"),
        sizeK.as("k"))
      .groupBy(col("symbol"), col("day"))
      .agg(
        min_by(col("value"), col("ts")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("ts")).as("close"),
        count(lit(1)).as("n_trades"),
        sum(col("k")).as("size_sum"))
      .orderBy(col("symbol"), col("day"))

  /** LEVEL-SHIFT (changepoint) detector per symbol: for each day, the
    * difference between the mean daily price of the NEXT w days and the
    * PREVIOUS w days — the two-window mean-shift statistic whose peaks
    * locate regime changes. Emitted only where both windows are full.
    *
    * Determinism: daily means come from the exact DECIMAL(18,2) price
    * sum over each day; the sliding w-day sums then accumulate the
    * DECIMAL(18,8)-quantized daily means — decimal addition is
    * association-free, so it does not matter that Spark evaluates
    * sliding frames incrementally while other engines use segment
    * trees. The only double ops are the final divisions and the
    * subtraction, fixed-association on both engines. One shuffle to
    * the (symbol, day) grain; the windows run over ~days rows per
    * symbol — at any corpus scale the shuffled volume is symbols ×
    * days, not ticks. */
  def levelShift(s: SparkSession, d: String, w: Int = 7): DataFrame = {
    val daily = Tables.events(s, d)
      .select(col("event_type").as("symbol"), dayCol, col("value"))
      .groupBy(col("symbol"), col("day"))
      .agg((sum(col("value").cast(DecimalType(18, 2)))
        .cast(DoubleType) / count(lit(1))).as("dmean"))
      .withColumn("dq", col("dmean").cast(DecimalType(18, 8)))
    val prevW = Window.partitionBy(col("symbol")).orderBy(col("day"))
      .rowsBetween(-w, -1)
    val nextW = Window.partitionBy(col("symbol")).orderBy(col("day"))
      .rowsBetween(1, w)
    daily
      .withColumn("n_prev", count(lit(1)).over(prevW))
      .withColumn("n_next", count(lit(1)).over(nextW))
      .withColumn("prev_mean", sum(col("dq")).over(prevW).cast(DoubleType) / col("n_prev"))
      .withColumn("next_mean", sum(col("dq")).over(nextW).cast(DoubleType) / col("n_next"))
      .filter(col("n_prev") === w && col("n_next") === w)
      .select(col("symbol"), col("day"), col("dmean"),
        col("prev_mean"), col("next_mean"),
        (col("next_mean") - col("prev_mean")).as("shift"))
      .orderBy(col("symbol"), col("day"))
  }

  /** Volume-weighted average price per (symbol, day):
    * Σ(price·size) / Σ(size). The weighted sum accumulates in DECIMAL
    * (price at 2 dp × integer size — exact at any grouping), so the
    * final double division is bit-identical across engines. Same
    * single-shuffle grain as [[ohlcBars]]. */
  def vwap(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type").as("symbol"), dayCol, vd.as("pd"), sizeK.as("k"))
      .groupBy(col("symbol"), col("day"))
      .agg(
        sum(col("k")).as("size_sum"),
        (sum(col("pd") * col("k")).cast(DoubleType) /
          sum(col("k")).cast(DoubleType)).as("vwap"))
      .orderBy(col("symbol"), col("day"))

  /** Drawdown from the running peak: dd = price / max(price so far) − 1
    * per symbol in event-time order. The running max is an associative
    * prefix scan, so it chunk-combines exactly like the tick
    * generator's cumulative sum ([[graft.gen.Ticks.generate]]): each
    * chunk computes its local running max (bounded task), the per-chunk
    * maxima prefix-scan on the tiny (symbol, chunk) table, and the
    * predecessor offset broadcast-joins back — `greatest` is the
    * combine instead of `+`, and max over doubles is exact, so chunked
    * == sequential bit for bit (spec-pinned against the plain window).
    * Chunk assignment reuses [[Chunked.chunkPlanCached]] (shared with
    * the whole window family on this corpus). Without this, 5 symbols
    * = 5 tasks forever, no matter the corpus size. */
  def drawdown(s: SparkSession, d: String): DataFrame =
    drawdownOf(Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("ts"), col("value")), d)

  private[graft] def drawdownOf(df: DataFrame, corpus: String): DataFrame = {
    val (ccExpr, mapping) = Chunked.chunkPlanCached(df, corpus, "event_type", "ts",
      minRows = 8192L, nBoundaries = 32)
    val based = df.withColumn("_cc", ccExpr)
      .join(broadcast(mapping), Seq("event_type", "_cc"))
    val wIn = Window.partitionBy(col("event_type"), col("_fc"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wOff = Window.partitionBy(col("event_type")).orderBy(col("_fc"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = based.groupBy(col("event_type"), col("_fc"))
      .agg(max(col("value")).as("_cmax"))
      .select(col("event_type"), col("_fc"),
        max(col("_cmax")).over(wOff).as("_off"))
    based
      .withColumn("_lmax", max(col("value")).over(wIn))
      .join(broadcast(offsets), Seq("event_type", "_fc"))
      .withColumn("run_max",
        when(col("_off").isNull, col("_lmax"))
          .otherwise(greatest(col("_off"), col("_lmax"))))
      .select(col("event_id"),
        col("run_max"),
        // all-zero prefix ⇒ run_max 0 ⇒ undefined drawdown: NULL on
        // both engines (nullif in the oracle)
        when(col("run_max") =!= 0.0,
          col("value") / col("run_max") - lit(1.0)).as("drawdown"))
      .orderBy(col("event_id"))
  }

  /** Bollinger bands: rolling k-trade mean ± nSigma sample standard
    * deviations per symbol. Runs through [[Chunked.frames]] (bounded
    * tasks, complete windows only).
    *
    * Σx and Σx² accumulate as INTEGER CENTS longs, not decimals: a
    * sliding-frame SUM re-evaluates the whole frame per row (no
    * retraction in WindowExec), so a decimal accumulator allocates
    * k Decimal objects per OUTPUT row — measured 1.67 s → 18.3 s
    * super-linear from 100k to 1M rows (GC-bound; the typed-moments
    * lesson in window form). Long sums are primitive and flat. The
    * emitted doubles are BIT-IDENTICAL to the decimal formulation the
    * oracle still runs — WITHIN the guarded domain: exactness of the
    * Long→Double cast needs Σcents² ≤ 2⁵³, i.e. max |price| ≤
    * √(2⁵³/k)/100 ≈ \$212k at k=20. (The earlier claim "k·10¹⁶ < 2⁵³"
    * was arithmetically wrong — k·10¹⁶ ≈ 2·10¹⁷ ≫ 9·10¹⁵; prices above
    * ~\$950k would have silently lost bit-parity.) [[centsGuarded]]
    * raises per-row past \$200k — codegen'd, zero extra pass — so
    * divergence is loud, never silent. */
  // exact-domain guard for the squared-cents frame sums, derived PER
  // WINDOW LENGTH: exactness of the Long→Double cast of Σcents² needs
  // k·(100·|price|)² ≤ 2⁵³, i.e. |price| ≤ √(2⁵³/k)/100 (≈ $212k at
  // k=20, ≈ $95k at k=100 — a fixed $200k bound would have silently
  // broken bit-parity for public k > ~22). Past the derived bound the
  // row fails loudly instead of diverging quietly; codegen'd, zero
  // extra pass.
  private[graft] def centsExactBound(k: Int): Double =
    math.floor(math.sqrt(math.pow(2.0, 53) / k) / 100.0)
  private[graft] def centsGuarded(k: Int) = {
    val bound = centsExactBound(k)
    when(abs(col("value")) > lit(bound), expr(
      s"raise_error(concat('integer-cents window path exact only for |price| <= $bound at k=$k; got ', CAST(value AS STRING)))")
      .cast(LongType))
      .otherwise(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
  }
  def bollinger(s: SparkSession, d: String, k: Int = 20,
      nSigma: Double = 2.0): DataFrame = {
    val kd = lit(k.toDouble)
    Chunked.frames(
      Tables.events(s, d).select(col("event_id"), col("event_type"),
        col("ts"), col("value"),
        centsGuarded(k).as("_cx"))
        .withColumn("_cxx", col("_cx") * col("_cx")),
      d, "event_type", "ts", "event_id", k) { w =>
      Seq(
        (sum(col("_cx")).over(w).cast(DoubleType) / lit(100.0)).as("_sx"),
        (sum(col("_cxx")).over(w).cast(DoubleType) / lit(10000.0)).as("_sxx"))
    }
      .withColumn("bb_mid", col("_sx") / kd)
      .withColumn("_sd",
        sqrt((col("_sxx") - col("_sx") * col("_sx") / kd) / (kd - lit(1.0))))
      .select(col("event_id"), col("bb_mid"),
        (col("bb_mid") + lit(nSigma) * col("_sd")).as("bb_up"),
        (col("bb_mid") - lit(nSigma) * col("_sd")).as("bb_dn"))
      .orderBy(col("event_id"))
  }

  /** Band-breakout detection: ticks whose price closes outside the
    * Bollinger band of their own trailing k-window — the streaming
    * anomaly flag of the [[bollinger]] family. Identical frame moments
    * (and therefore the SAME cached chunk plan + boundary set) as
    * [[bollinger]]; the flag is a codegen'd filter on top, so the
    * incremental cost of the second query is one more pass over the
    * frames, never a new shuffle. */
  def breakouts(s: SparkSession, d: String, k: Int = 20,
      nSigma: Double = 2.0): DataFrame = {
    val kd = lit(k.toDouble)
    Chunked.frames(
      Tables.events(s, d).select(col("event_id"), col("event_type"),
        col("ts"), col("value"),
        centsGuarded(k).as("_cx"))
        .withColumn("_cxx", col("_cx") * col("_cx")),
      d, "event_type", "ts", "event_id", k) { w =>
      Seq(
        (sum(col("_cx")).over(w).cast(DoubleType) / lit(100.0)).as("_sx"),
        (sum(col("_cxx")).over(w).cast(DoubleType) / lit(10000.0)).as("_sxx"))
    }
      .withColumn("bb_mid", col("_sx") / kd)
      .withColumn("_sd",
        sqrt((col("_sxx") - col("_sx") * col("_sx") / kd) / (kd - lit(1.0))))
      .withColumn("bb_up", col("bb_mid") + lit(nSigma) * col("_sd"))
      .withColumn("bb_dn", col("bb_mid") - lit(nSigma) * col("_sd"))
      .filter(col("value") > col("bb_up") || col("value") < col("bb_dn"))
      .select(col("event_id"), col("value").as("px"),
        col("bb_up"), col("bb_dn"),
        when(col("value") > col("bb_up"), lit("up")).otherwise(lit("dn")).as("side"))
      .orderBy(col("event_id"))
  }

  /** Per-tick returns: previous price, exact decimal price delta, and
    * simple return per symbol in event-time order. The 1-row lookback
    * is [[Chunked.frames]] at k=2 (complete frames only, so the first
    * trade of each symbol drops — exactly the rows where `lag` is
    * null). Build-once lifecycle: the table checkpoint-caches per
    * corpus fingerprint because downstream indicators
    * ([[rsi]]) re-consume it; at 100 TB this is the staged returns
    * table every indicator job reads. */
  def returns(s: SparkSession, d: String): DataFrame =
    graft.Tables.artifact(s, d, Seq("events"), "returns")(
      Chunked.frames(
        Tables.events(s, d).select(col("event_id"), col("event_type"),
          col("ts"), col("value")),
        d, "event_type", "ts", "event_id", 2) { w =>
        Seq(first(col("value")).over(w).as("prev"))
      }
        .select(col("event_id"), col("event_type"), col("ts"),
          // the delta is computed in DECIMAL (exact) and stored as the
          // double it fits losslessly — raw decimals don't compare
          // across engines' client dtypes
          (vd - col("prev").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("diff"),
          // a zero prior price has no defined return: NULL, matching
          // the oracle's nullif (DuckDB nulls double x/0; ANSI Spark throws)
          when(col("prev") =!= 0.0, col("value") / col("prev") - lit(1.0))
            .as("ret"))
        .localCheckpoint(true))

  /** Ordered output view of [[returns]] for the driver contract (the
    * raw event-time column stays internal — timestamps never compare
    * raw against the oracle). */
  def returnsQuery(s: SparkSession, d: String): DataFrame =
    returns(s, d).select(col("event_id"), col("event_type"),
      col("diff"), col("ret")).orderBy(col("event_id"))

  /** Truncated exponentially-weighted moving average: the last k prices
    * fold against fixed decay weights (α = 2/(k+1), normalized in the
    * driver and inlined as literals). The frame's price list rides
    * [[Chunked.frames]] in event-time order and the weighted fold is the
    * codegen'd [[graft.functions.DotProduct]] — one multiply-add per
    * element, left-to-right, bit-identical to the oracle's
    * list_transform fold. No interpreted HOF anywhere (the
    * inlining trap); the weight array is a single literal, never
    * re-built per row. */
  def ewma(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    graft.functions.Native.register(s)
    val weights = ewmaWeights(k)
    val wLit = array(weights.map(lit): _*)
    Chunked.frames(
      Tables.events(s, d).select(col("event_id"), col("event_type"),
        col("ts"), col("value")),
      d, "event_type", "ts", "event_id", k) { w =>
      Seq(collect_list(col("value")).over(w).as("_xs"))
    }
      .select(col("event_id"),
        graft.functions.Native.dot(col("_xs"), wLit).as("ewma"))
      .orderBy(col("event_id"))
  }

  /** MACD (moving-average convergence/divergence) over the daily bar
    * closes — the classic trend-following indicator triple: macd =
    * EWMA₁₂(close) − EWMA₂₆(close), signal = EWMA₉(macd), histogram =
    * macd − signal. All three EWMAs use the truncated-window weighted
    * fold of [[ewma]] (normalized decay weights inlined as literals,
    * the codegen'd DotProduct doing one left-to-right multiply-add per
    * element — bit-identical to the oracle's list fold). Runs on the
    * BAR table, so the per-symbol windows are calendar-bounded (the
    * ATR contract), and rows emit once the slow window is complete,
    * with signal NULL until 9 macd values exist — the same warm-up
    * semantics a charting library shows. */
  def macd(s: SparkSession, d: String,
      kFast: Int = 12, kSlow: Int = 26, kSig: Int = 9): DataFrame = {
    graft.functions.Native.register(s)
    def wLit(k: Int) = array(ewmaWeights(k).map(lit): _*)
    val w = Window.partitionBy(col("symbol")).orderBy(col("day"))
    def over(k: Int) = w.rowsBetween(-(k - 1), 0)
    val withMacd = ohlcBars(s, d)
      .select(col("symbol"), col("day"), col("close"))
      .withColumn("_n", count(lit(1)).over(over(kSlow)))
      .withColumn("_xf", collect_list(col("close")).over(over(kFast)))
      .withColumn("_xs", collect_list(col("close")).over(over(kSlow)))
      .filter(col("_n") === kSlow)
      .withColumn("macd",
        graft.functions.Native.dot(col("_xf"), wLit(kFast)) -
          graft.functions.Native.dot(col("_xs"), wLit(kSlow)))
    withMacd
      .withColumn("_nm", count(lit(1)).over(over(kSig)))
      .withColumn("_xm", collect_list(col("macd")).over(over(kSig)))
      .withColumn("signal",
        when(col("_nm") === kSig,
          graft.functions.Native.dot(col("_xm"), wLit(kSig))))
      .select(col("symbol"), col("day"), col("macd"), col("signal"),
        (col("macd") - col("signal")).as("hist"))
      .orderBy(col("symbol"), col("day"))
  }

  /** STOCHASTIC OSCILLATOR %K/%D over the daily bars: %K = 100·(close −
    * low₁₄)/(high₁₄ − low₁₄) against the rolling k-day channel, %D =
    * the 3-day average of %K (computed as a uniform-weight DotProduct
    * fold — fixed association, bit-identical both engines). Rows with
    * a FLAT channel (high₁₄ == low₁₄ — %K undefined) drop before the
    * %D stage in both engines, so the %D window always sees defined
    * neighbors. Bar-table windows: calendar-bounded per symbol. */
  def stochastic(s: SparkSession, d: String,
      k: Int = 14, dAvg: Int = 3): DataFrame = {
    graft.functions.Native.register(s)
    val w = Window.partitionBy(col("symbol")).orderBy(col("day"))
    val wk = w.rowsBetween(-(k - 1), 0)
    val wd = w.rowsBetween(-(dAvg - 1), 0)
    val uni = array(Seq.fill(dAvg)(lit(1.0 / dAvg)): _*)
    ohlcBars(s, d)
      .select(col("symbol"), col("day"), col("close"),
        min(col("low")).over(wk).as("lo"),
        max(col("high")).over(wk).as("hi"),
        count(lit(1)).over(wk).as("_n"))
      .filter(col("_n") === k && col("hi") > col("lo"))
      .withColumn("pct_k",
        lit(100.0) * (col("close") - col("lo")) / (col("hi") - col("lo")))
      .withColumn("_nd", count(lit(1)).over(wd))
      .withColumn("_xd", collect_list(col("pct_k")).over(wd))
      .withColumn("pct_d",
        when(col("_nd") === dAvg, graft.functions.Native.dot(col("_xd"), uni)))
      .select(col("symbol"), col("day"), col("pct_k"), col("pct_d"))
      .orderBy(col("symbol"), col("day"))
  }

  /** Normalized oldest→newest decay weights, computed once driver-side.
    * Shared with the oracle builder so both engines fold the SAME
    * doubles. */
  private[graft] def ewmaWeights(k: Int, alpha: Double = -1.0): Seq[Double] = {
    val a = if (alpha > 0) alpha else 2.0 / (k + 1)
    val raw = (0 until k).map(j => math.pow(1.0 - a, (k - 1 - j).toDouble))
    val norm = raw.sum
    raw.map(_ / norm)
  }

  /** ATR (average true range) over the daily [[ohlcBars]]: true range =
    * max(high−low, |high−prevClose|, |low−prevClose|), averaged over the
    * last k complete bars. Runs on the BAR table — symbols × days rows,
    * thousands of partitions' worth of ticks already collapsed by the
    * bar aggregate — so the plain per-symbol window is bounded by the
    * calendar, not the corpus (documented contract; the tick-level ops
    * are the ones that chunk). True ranges round to DECIMAL(18,2) (they
    * are differences of 2-dp prices) so the rolling mean is exact. */
  def atr(s: SparkSession, d: String, k: Int = 14): DataFrame = {
    val w = Window.partitionBy(col("symbol")).orderBy(col("day"))
    val wk = w.rowsBetween(-(k - 1), 0)
    ohlcBars(s, d)
      .select(col("symbol"), col("day"), col("high"), col("low"),
        lag(col("close"), 1).over(w).as("pc"))
      .filter(col("pc").isNotNull)
      .withColumn("_tr",
        greatest(col("high") - col("low"), abs(col("high") - col("pc")),
          abs(col("low") - col("pc"))).cast(DecimalType(18, 2)))
      .select(col("symbol"), col("day"),
        count(lit(1)).over(wk).as("_n"),
        (sum(col("_tr")).over(wk).cast(DoubleType) / lit(k.toDouble)).as("atr"))
      .filter(col("_n") === k)
      .select(col("symbol"), col("day"), col("atr"))
      .orderBy(col("symbol"), col("day"))
  }

  /** Per-symbol beta against the aggregate market move: daily close
    * deltas per symbol (exact 2-dp decimals off the [[ohlcBars]] close),
    * the market index as their per-day SUM (pure decimal addition —
    * exact, unlike an averaged float return), then
    * β = (nΣdm − ΣdΣm) / (nΣmm − (Σm)²) from decimal moments cast to
    * double at the last step — [[Aggregates.corrDaily]]'s parity
    * technique. Bar-table sized throughout (symbols × days).
    *
    * The market index rides a WINDOW over the deltas (sum per day),
    * not a `deltas ⋈ agg(deltas)` self-join: a DataFrame referenced
    * twice re-executes its whole subtree, so the join form paid the
    * tick scan + bar aggregate TWICE (r17 plan audit: two complete
    * Scan→HashAggregate→Window chains, 8 exchanges). The window form
    * is one scan and one extra bar-grain exchange — decimal window
    * sums equal the grouped sums exactly, so values are unchanged. */
  def beta(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("symbol")).orderBy(col("day"))
    val deltas = ohlcBars(s, d)
      .select(col("symbol"), col("day"),
        (col("close").cast(DecimalType(18, 2)) -
          lag(col("close"), 1).over(w).cast(DecimalType(18, 2))).as("dd"))
      .filter(col("dd").isNotNull)
    deltas
      .withColumn("dm", sum(col("dd")).over(Window.partitionBy(col("day")))
        .cast(DecimalType(18, 2)))
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("dd")).cast(DoubleType).as("sd"),
        sum(col("dm")).cast(DoubleType).as("sm"),
        sum(col("dd") * col("dm")).cast(DoubleType).as("sdm"),
        sum(col("dm") * col("dm")).cast(DoubleType).as("smm"))
      .select(col("symbol"), col("n_days"),
        ((col("n_days") * col("sdm") - col("sd") * col("sm")) /
          (col("n_days") * col("smm") - col("sm") * col("sm"))).as("beta"))
      .orderBy(col("symbol"))
  }

  /** RSI (Cutler's simple-moving-average form): 100 − 100/(1 + G/L)
    * where G and L are the summed gains and losses over the last k
    * price deltas. Consumes the checkpointed [[returns]] table and
    * chunk-frames it again at k — two bounded corpus passes total per
    * corpus, both shared across the family via the caches. Gains and
    * losses stay DECIMAL until the final ratio; an all-gain window
    * (L = 0) pins to RSI 100 exactly, both engines. */
  def rsi(s: SparkSession, d: String, k: Int = 14): DataFrame = {
    val zero = lit(0).cast(DecimalType(18, 2))
    // diff is stored as a (losslessly) doubled 2-dp delta; cast back to
    // DECIMAL so the frame sums below stay exact
    val dd = col("diff").cast(DecimalType(18, 2))
    val framed = Chunked.frames(
      returns(s, d).select(col("event_id"), col("event_type"), col("ts"),
        greatest(dd, zero).as("gain"),
        greatest(-dd, zero).as("loss")),
      d + "#returns", "event_type", "ts", "event_id", k) { w =>
      Seq(
        // integer-cents frame sums (see bollinger's doc): primitive
        // long accumulation, value-identical doubles
        (sum((col("gain") * 100).cast(LongType)).over(w)
          .cast(DoubleType) / lit(100.0)).as("_g"),
        (sum((col("loss") * 100).cast(LongType)).over(w)
          .cast(DoubleType) / lit(100.0)).as("_l"))
    }
    framed
      .select(col("event_id"),
        when(col("_l") === 0.0, lit(100.0))
          .otherwise(lit(100.0) - lit(100.0) / (lit(1.0) + col("_g") / col("_l")))
          .as("rsi"))
      .orderBy(col("event_id"))
  }
}
