package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** Overlapped time-chunk repartitioning for the stride-1 window family.
  *
  * The plain formulation — `Window.partitionBy(series).orderBy(time)`
  * with a `rowsBetween(-(k-1), 0)` frame — funnels EVERY row of a series
  * through one sort task: with a handful of hot series (the reference
  * domain has ~5 symbols, `batch_processor.py:89-97`) a 100× corpus
  * still runs on ~5 tasks, each materializing a k× row amplification.
  * That is the last scale-killer of the window family.
  *
  * Fix: split each series into row-count-bounded chunks that respect
  * event-time order, replicate each chunk's trailing k−1 rows into its
  * successor chunk (the "warm-up" overlap), evaluate the frames WITHIN
  * chunks — where the warm-up rows make every native frame complete —
  * and drop the warm-up rows' own outputs. Output is row-identical to
  * the plain window (the oracle hashes must not move), but the work is
  * spread over (total rows / chunk size) bounded tasks instead of one
  * task per series.
  *
  * Chunk assignment never globally sorts either; it is three cheap,
  * fully distributed steps:
  *   1. one `percentile_approx` pass over the time column → B global
  *      time boundaries (collected once, re-embedded as literals; the
  *      boundary VALUES only steer balance, never correctness);
  *   2. one tiny count per (series, candidate-chunk) → a driver-side
  *      greedy merge ([[mergeChunks]]) guaranteeing every non-final
  *      chunk holds ≥ max(k−1, minChunkRows) rows (so the k−1 warm-up
  *      rows always cover the lookback across a boundary — checked by
  *      construction, not hoped for);
  *   3. the main pass: a broadcast-joined (series, candidate → chunk)
  *      map, a per-chunk bounded sort tagging the trailing k−1 rows,
  *      the union with their warm-up copies, and the framed window over
  *      (series, chunk).
  *
  * Known limit: rows tie-break by time first, so a series concentrated
  * on ONE timestamp value cannot be split (boundaries compare on time
  * alone to keep the candidate key a pure codegen'd column). Real tick
  * streams disperse in time; the degenerate case degrades to the old
  * one-task behavior, never to wrong results.
  *
  * Driver-side budget: the merge step collects one count row per
  * (series, candidate chunk) — O(|series| · nBoundaries). Chunking
  * exists for LOW-cardinality hot series keys (the skew case this file
  * solves); a high-cardinality series key already balances under the
  * plain window and should not route through [[frames]].
  */
object Chunked {

  /** Greedy merge of candidate-chunk counts into final chunks, in
    * candidate order: close a chunk once it holds ≥ minRows, fold an
    * undersized trailing chunk into its predecessor (it has no
    * successor needing warm-up; tiny tasks are not worth scheduling).
    * Returns candidate → final chunk id (0-based, order-preserving).
    * Pure function, unit-tested directly in WindowSpec. */
  private[graft] def mergeChunks(counts: Seq[(Int, Long)], minRows: Long): Map[Int, Int] = {
    val sorted = counts.sortBy(_._1)
    val out = scala.collection.mutable.LinkedHashMap[Int, Int]()
    var fc = 0
    var acc = 0L
    var started = false
    for ((cc, n) <- sorted) {
      if (started && acc >= minRows) { fc += 1; acc = 0L }
      out(cc) = fc
      acc += n
      started = true
    }
    if (fc > 0 && acc < minRows) {
      val trailing = out.collect { case (cc, f) if f == fc => cc }.toList
      trailing.foreach(out(_) = fc - 1)
    }
    out.toMap
  }

  /** Chunk plans are stored per (corpus identity, columns, series, time,
    * minRows, nBoundaries) — the quantile pass and the per-(series,
    * chunk) counts are PROPERTIES OF THE DATA, not of the query, so the
    * whole stride-1 family (sliding stats, batched predict, GRU, shape
    * search) over the same corpus shares one plan instead of each query
    * paying the two planning jobs again.
    *
    * The corpus key is the caller-supplied identity STRING (the staged
    * corpus path), never a plan hash: a 32-bit semanticHash collision
    * between two corpora would silently serve the wrong chunk mapping
    * (inner join → dropped rows) with no error. The input's column list
    * rides along so two different projections under one corpus string
    * can never share a boundary set. Freshness is the events
    * fingerprint of the corpus's BASE dir: derived corpora
    * ("dir#returns" — Market.rsi and friends) name a derivation of the
    * same file set, so their plans must invalidate when it is rewritten
    * (non-path tags — tests — fingerprint to a constant and rely on the
    * corpus-string identity contract). */
  private def chunkArtifact[T <: AnyRef](df: DataFrame, corpus: String, key: Any)(
      build: => T)(implicit b: graft.Tables.Binding[T]): T =
    graft.Tables.artifact(df.sparkSession, corpus.takeWhile(_ != '#'), Seq("events"),
      (corpus, df.columns.mkString(","), key))(build)

  /** Above this many events the artifact is NOT materialized — k×8
    * bytes per row (48 GB at 100M events × k=60) stops being a
    * storage win over recomputing the frame pass per consumer, and a
    * checkpoint that size would evict/spill through the executor
    * storage pool. Below it (every driver fixture, gen fixtures
    * through ~20M rows) the shared checkpoint is the right trade. */
  val WindowArtifactMaxRows = 20000000L

  /** Materialized complete-window table — (event_id, event_type,
    * w: array<double> of length k) in (ts, event_id) frame order — per
    * (corpus, k), checkpointed once per events fingerprint and shared by every
    * consumer of the 60-length frames: the sliding stats, the linear
    * batch predict, and the GRU/LSTM passes each re-ran the chunked
    * collect_list WindowExec over the corpus to produce the IDENTICAL
    * array column (4 copies of the same frame build per bench
    * iteration). Build-once like the dedup pair index: cold carries
    * one frame pass, warm consumers read 48 MB of checkpointed arrays.
    * At 100 TB this is the storage/recompute trade a production
    * training pipeline makes explicitly (windows written once,
    * consumed by N trainers). */
  def windowArrays(s: org.apache.spark.sql.SparkSession, d: String, k: Int): DataFrame = {
    def build: DataFrame =
      frames(graft.Tables.events(s, d).select(col("event_id"), col("event_type"),
          col("ts"), col("value")),
        d, "event_type", "ts", "event_id", k) { w =>
        Seq(collect_list(col("value")).over(w).as("w"))
      }
        .select(col("event_id"), col("event_type"), col("w"))
    if (graft.Tables.rowCount(s, d, "events") > WindowArtifactMaxRows) build
    else graft.Tables.artifact(s, d, Seq("events"), s"windowArrays:$k")(
      build.localCheckpoint(true))
  }

  private[graft] def chunkPlanCached(df: DataFrame, corpus: String, series: String,
      time: String, minRows: Long, nBoundaries: Int): (Column, DataFrame) =
    chunkArtifact(df, corpus, ("chunkPlan", series, time, minRows, nBoundaries))(
      chunkPlan(df, series, time, minRows, nBoundaries))

  /** The (series, candidateChunk) → finalChunk assignment as a tiny
    * broadcastable DataFrame, plus the candidate-chunk column expression
    * (a codegen'd sum of boundary comparisons — no UDF, no HOF).
    * Exposed package-private so the skew spec can assert a hot series
    * actually splits into >1 chunk. */
  private[graft] def chunkPlan(df: DataFrame, series: String, time: String,
      minRows: Long, nBoundaries: Int): (Column, DataFrame) = {
    val s = df.sparkSession
    val micros = unix_micros(col(time))
    val probs = (1 until nBoundaries).map(_.toDouble / nBoundaries)
    val bRow = df.select(percentile_approx(micros,
      array(probs.map(lit): _*), lit(10000)).as("bs")).head()
    val bs: Seq[Long] =
      if (bRow.isNullAt(0)) Seq.empty
      else bRow.getSeq[Long](0).distinct.sorted
    val ccExpr: Column =
      if (bs.isEmpty) lit(0)
      else bs.map(b => when(micros > lit(b), 1).otherwise(0)).reduce(_ + _)
    val counts = df.groupBy(col(series).as("_s"), ccExpr.as("_cc"))
      .count().collect()
    val bySeries = counts.groupBy(_.get(0))
    val sField = df.schema(series)
    val mapSchema = StructType(Seq(
      StructField(series, sField.dataType, sField.nullable),
      StructField("_cc", IntegerType, nullable = false),
      StructField("_fc", IntegerType, nullable = false)))
    val mapRows = bySeries.toSeq.flatMap { case (sv, rows) =>
      val m = mergeChunks(rows.map(r => (r.getInt(1), r.getLong(2))).toSeq, minRows)
      m.toSeq.map { case (cc, fc) => Row(sv, cc, fc) }
    }
    val mapping = s.createDataFrame(
      s.sparkContext.parallelize(mapRows, 1), mapSchema)
    (ccExpr, mapping)
  }

  /** Evaluate `rowsBetween(-(k-1), 0)` frame columns over each series in
    * (time, id) order with bounded task sizes. `frameCols` builds the
    * caller's frame columns from the chunked WindowSpec; an internal
    * frame count keeps only COMPLETE windows (the family's shared
    * `w_cnt === k` filter), so callers get exactly the plain window's
    * qualifying rows plus their frame columns.
    *
    * `corpus` is the cache-identity contract: a string that uniquely
    * names the input ROWS (the staged corpus path for production
    * callers; a per-fixture tag in tests). Two calls with the same
    * (corpus, columns, series, time, id, k, sizing) are assumed to read
    * identical data and share the cached chunk plan + boundary set.
    *
    * Cost shape (the r2 version shuffled the corpus twice and sorted it
    * three times; this one matches the PLAIN window's data motion): one
    * exchange + sort of the corpus, with ONE WindowExec computing the
    * caller's frames plus two marker counts over different frames of the
    * same sort — `_n` (trailing frame size: `_n === k` ⇔ the frame is
    * complete within the chunk) and `_nf` (leading frame size: `_nf < k`
    * ⇔ the row is one of the chunk's last k−1, i.e. successor warm-up).
    * Rows with in-chunk-complete frames emit straight off that pass.
    * Only the BOUNDARY set — chunk heads (incomplete in-chunk frame) and
    * chunk tails (warm-up context, ≤ 2(k−1) rows per chunk in total) —
    * goes through a second, checkpointed mini-pass that re-evaluates the
    * heads' frames with the predecessor's tail rows present and discards
    * the warm copies. The checkpoint bounds lineage AND stops the big
    * subtree re-executing for each tiny branch; its size is boundary
    * rows, never the corpus. */
  def frames(df: DataFrame, corpus: String, series: String, time: String, id: String,
      k: Int, minChunkRows: Long = 8192, nBoundaries: Int = 32)
      (frameCols: WindowSpec => Seq[Column]): DataFrame = {
    require(k >= 1, "window length must be >= 1")
    val minRows = math.max((k - 1).toLong, minChunkRows)
    val (ccExpr, mapping) = chunkPlanCached(df, corpus, series, time, minRows, nBoundaries)
    val based = df.withColumn("_cc", ccExpr)
      .join(broadcast(mapping), Seq(series, "_cc"))
    val wp = Window.partitionBy(col(series), col("_fc"))
      .orderBy(col(time), col(id))
    val w  = wp.rowsBetween(-(k - 1), 0)
    val fcols = frameCols(w)
    // frame-completeness bookkeeping rides O(1) window functions, NOT
    // sliding-frame counts: count(1) over a ROWS frame is a full frame
    // REPLAY per output row in Spark's SlidingWindowFunctionFrame, so
    // the two old completeness counts (trailing [-(k-1),0] and forward
    // [0,k-1]) cost two extra k-row replays per row in EVERY frames()
    // consumer — at the 100M-event decade they were ~40% of the whole
    // WindowExec (SCALING.md round 14). row_number is an offset
    // function (O(1)/row) and the unbounded count aggregates each
    // partition once; the predicates are equivalent:
    //   trailing count == k  ⇔  rn ≥ k
    //   forward  count <  k  ⇔  np − rn < k − 1  (np = partition size)
    val windowed = based.select((df.columns.map(col).toSeq :+ col("_fc")) ++
      fcols :+ row_number().over(wp).as("_rn") :+
      count(lit(1)).over(wp.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)).as("_np"): _*)
    val frameNames = windowed.columns
      .slice(df.columns.length + 1, df.columns.length + 1 + fcols.length)
    val outCols = (df.columns ++ frameNames).map(col).toSeq
    val mainOut = windowed.filter(col("_rn") >= k).select(outCols: _*)
    // boundary mini-pass: heads (frame incomplete in-chunk) re-evaluate
    // with the predecessor chunk's last k−1 rows replicated in as warm-up.
    // The boundary SET depends only on (corpus, series, time, id, k) —
    // never on the caller's frame columns — so the checkpointed rows are
    // cached and shared across the whole family (sliding stats, batched
    // predict, GRU all chunk the same corpus at the same k): each query
    // pays ONE corpus-sized pass, not two. The cached branch prunes the
    // frame columns out of its WindowExec (only _rn/_np are referenced),
    // so even the first computation skips the collect_list work.
    val boundary = chunkArtifact(df, corpus,
        ("boundary", series, time, id, k, minRows, nBoundaries))(
      windowed
        .filter(col("_rn") < k || col("_np") - col("_rn") < k - 1)
        .select((df.columns.map(col) :+ col("_fc") :+ col("_rn") :+ col("_np")): _*)
        .localCheckpoint(true))
    val heads = boundary.filter(col("_rn") < k).withColumn("_warm", lit(false))
    val tails = boundary.filter(col("_np") - col("_rn") < k - 1)
      .withColumn("_fc", col("_fc") + 1).withColumn("_warm", lit(true))
    val tiny = heads.unionByName(tails).drop("_rn", "_np")
    val tinyCols = (df.columns.map(col).toSeq :+ col("_warm")) ++
      frameCols(w) :+ count(lit(1)).over(w).as("_n")
    val tinyOut = tiny.select(tinyCols: _*)
      .filter(!col("_warm") && col("_n") === k)
      .select(outCols: _*)
    mainOut.unionByName(tinyOut)
  }

  /** Exact 1-based RANK of every row within its series under
    * (value asc, id asc) — the scalable replacement for
    * `row_number().over(partitionBy(series).orderBy(value, id))`,
    * which funnels each series through ONE sort task (the frames
    * family's scale-killer, here for the RANKED window family:
    * measured 19–21 s for gini/equi-depth at the 10M-row gen100x
    * fixture because 5 series = 5 busy tasks on 32 cores).
    *
    * Mechanism (the zipWithIndex offset pattern, kept declarative):
    *   1. `percentile_approx` per series → ≈`chunks` value boundaries
    *      (approximate values steer BALANCE only, never correctness);
    *   2. chunk id = count of boundaries strictly below the value —
    *      ties share one chunk by construction, so chunk order is
    *      consistent with (value, id) order;
    *   3. per-(series, chunk) counts → running offsets via a window
    *      over series×chunks METADATA rows;
    *   4. local row_number within (series, chunk) + offset = the exact
    *      global rank. Per-task work is one chunk's bounded sort.
    *
    * Series at or under `threshold` rows take the plain single-window
    * path (the chunked plan costs two extra tiny jobs — pointless when
    * one task handles the series comfortably); a spec forces
    * threshold=0 and pins the chunked ranks row-identical to the plain
    * window's. The returned frame is the input plus `i` (LongType). */
  def seriesRanks(df: DataFrame, series: String, value: String, id: String,
      chunks: Int = 32, threshold: Long = 1L << 20): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val plainW = Window.partitionBy(col(series)).orderBy(col(value), col(id))
    // bounded driver scalar (1 row): the widest series decides the path
    // (max over zero groups is NULL — an empty frame ranks via the
    // plain path rather than NPE-ing on getLong)
    val maxRow = df.groupBy(col(series)).agg(count(lit(1)).as("_nn"))
      .agg(max(col("_nn"))).head
    val maxN = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    if (maxN <= threshold)
      df.withColumn("i", row_number().over(plainW).cast(LongType))
    else {
      val qs = (1 until chunks).map(i => i.toDouble / chunks).mkString(",")
      val bounds = df.groupBy(col(series))
        .agg(expr(s"percentile_approx($value, array($qs), 10000)").as("_bs"))
      val withChunk = df.join(broadcast(bounds), series)
        .withColumn("_ck", expr(s"size(filter(_bs, b -> b < $value))"))
        .drop("_bs")
      val wo = Window.partitionBy(col(series)).orderBy(col("_ck"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = withChunk.groupBy(col(series), col("_ck"))
        .agg(count(lit(1)).as("_cn"))
        .withColumn("_off", coalesce(sum(col("_cn")).over(wo), lit(0L)))
        .select(col(series), col("_ck"), col("_off"))
      val wl = Window.partitionBy(col(series), col("_ck"))
        .orderBy(col(value), col(id))
      withChunk.join(broadcast(offs), Seq(series, "_ck"))
        .withColumn("i", row_number().over(wl).cast(LongType) + col("_off"))
        .drop("_ck", "_off")
    }
  }
}
