package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-inference surface (SURVEY.md §2.10 M1-M3).
  *
  * The reference runs a Keras LSTM on the driver over collected series
  * (`stream_consumer.py:50-54`, `batch_processor.py:88-101`). The LSTM
  * weights can't be exported in this sandbox (SURVEY §7 R1), so the
  * predictor is a pluggable trait with a deterministic linear-extrapolation
  * default that has the exact same dataflow signature: last-k ordered
  * prices in → one predicted price out. The predictor runs INSIDE the plan
  * as a UDF over a window-collected array — executors each predict their
  * own series; only final prediction rows move, never raw series
  * (eliminates the reference's driver-collect cliff at
  * `stream_consumer.py:72` / `batch_processor.py:114`).
  */
object Predict {

  /** last-k scaled prices → next price. Same shape as the reference's
    * `predict_next_price` (`stream_consumer.py:50-54`). */
  trait Predictor extends Serializable {
    def predict(lastK: Seq[Double]): Double

    /** Called once per PARTITION before any predict/predictBatch — the
      * hook where a real model binding loads weights into an inference
      * session (the analog of the reference's one-time model load,
      * `stream_consumer.py:43-45`). Default no-op; specs use it to
      * assert inits happen per partition, never per row. */
    def prepare(): Unit = ()

    /** Batched entry point — ONE call per buffered batch of windows,
      * the reference's `model.predict(sequences)` shape
      * (`batch_processor.py:100`: all windows in one vectorized call).
      * Default delegates per-window; matrix-backed models override. */
    def predictBatch(windows: Array[Array[Double]]): Array[Double] =
      windows.map(w => predict(w.toIndexedSeq))
  }

  /** Deterministic default: linear extrapolation of the lookback window,
    * next = last + (last − first)/(k−1). Bit-reproducible, so it stays
    * oracle-comparable (the DuckDB oracle states the same IEEE ops). */
  object LinearPredictor extends Predictor {
    override def predict(lastK: Seq[Double]): Double = {
      val lastV = lastK.last
      if (lastK.size < 2) lastV
      else lastV + (lastV - lastK.head) / (lastK.size - 1).toDouble
    }
  }

  /** GRU cell weights, row-major (`u*` are hidden×hidden). A plain data
    * holder so TRAINED weights drop in without code changes — see
    * [[GruPredictor.fromFile]] for the on-disk format. */
  final case class GruWeights(hidden: Int,
      wz: Array[Double], uz: Array[Double], bz: Array[Double],
      wr: Array[Double], ur: Array[Double], br: Array[Double],
      wh: Array[Double], uh: Array[Double], bh: Array[Double],
      wOut: Array[Double]) {
    require(hidden > 0, s"hidden must be positive, got $hidden")
    for ((n, a) <- Seq("wz" -> wz, "bz" -> bz, "wr" -> wr, "br" -> br,
        "wh" -> wh, "bh" -> bh, "wOut" -> wOut))
      require(a.length == hidden, s"$n must have $hidden values, got ${a.length}")
    for ((n, a) <- Seq("uz" -> uz, "ur" -> ur, "uh" -> uh))
      require(a.length == hidden * hidden,
        s"$n must have ${hidden * hidden} values, got ${a.length}")
  }

  /** Recurrent-cell predictor with the reference's OPERATOR SHAPE (an
    * RNN forward pass over the lookback window — the reference runs a
    * Keras LSTM, `stream_consumer.py:50-54`): a single GRU cell (standard
    * public formulation — update/reset gates + candidate state) unrolled
    * over the window, hidden state read out through a linear head. The
    * sandbox has no trained weights (SURVEY §7 R1), so the default
    * constructor fills [[GruWeights]] from a seeded PRNG — the POINT is
    * the batched dataflow (weights broadcast once, one matrix-style pass
    * per buffered batch), not the learned function; a REAL trained model
    * swaps in via [[GruPredictor.fromFile]] with no other code change.
    * Values are deterministic and spec-verified batch == row-at-a-time
    * (and file-loaded == hand-computed); not SQL-expressible, so its
    * query is rows-only by design. */
  class GruPredictor(val weights: GruWeights) extends Predictor {
    def this(hidden: Int = 4, seed: Long = 7L) =
      this(GruPredictor.seededWeights(hidden, seed))

    @inline private def sigmoid(x: Double): Double = 1.0 / (1.0 + math.exp(-x))

    override def predict(lastK: Seq[Double]): Double = {
      import weights._
      // scale-free input: predict the RELATIVE next step around the last
      // observation so untrained weights still yield price-magnitude output
      val base = lastK.last
      var h = new Array[Double](hidden)
      lastK.foreach { x0 =>
        val x = if (base != 0.0) x0 / base - 1.0 else x0
        val hNew = new Array[Double](hidden)
        var i = 0
        while (i < hidden) {
          var accZ = 0.0; var accR = 0.0
          var j = 0
          while (j < hidden) {
            accZ += uz(i * hidden + j) * h(j)
            accR += ur(i * hidden + j) * h(j)
            j += 1
          }
          val z = sigmoid(wz(i) * x + accZ + bz(i))
          val r = sigmoid(wr(i) * x + accR + br(i))
          var accH = 0.0
          j = 0
          while (j < hidden) { accH += uh(i * hidden + j) * r * h(j); j += 1 }
          val cand = math.tanh(wh(i) * x + accH + bh(i))
          hNew(i) = (1.0 - z) * h(i) + z * cand
          i += 1
        }
        h = hNew
      }
      var out = 0.0
      var i = 0
      while (i < hidden) { out += wOut(i) * h(i); i += 1 }
      base * (1.0 + out)
    }
  }

  object GruPredictor {
    /** Deterministic stand-in weights (no trained model in the sandbox). */
    def seededWeights(hidden: Int, seed: Long): GruWeights = {
      val rnd = new scala.util.Random(seed)
      def mat(n: Int): Array[Double] = Array.fill(n)(rnd.nextGaussian() * 0.3)
      GruWeights(hidden,
        mat(hidden), mat(hidden * hidden), mat(hidden),
        mat(hidden), mat(hidden * hidden), mat(hidden),
        mat(hidden), mat(hidden * hidden), mat(hidden),
        mat(hidden))
    }

    /** Load trained weights from a plain text file — the export hook for
      * a model trained elsewhere (any framework can dump this format):
      * one `name:v1,v2,...` line per tensor, row-major, `#` comments and
      * blank lines ignored. Required names: `hidden` (one int) and the
      * ten tensors of [[GruWeights]]; sizes are validated on load and
      * misshapen files fail loudly. */
    def fromFile(path: String): GruPredictor =
      new GruPredictor(parseWeights(new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
        java.nio.charset.StandardCharsets.UTF_8)))

    private[graft] def parseWeights(text: String): GruWeights = {
      val m: Map[String, Array[Double]] = text.linesIterator
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l =>
          val parts = l.split(":", 2)
          require(parts.length == 2, s"malformed weight line: '$l'")
          parts(0).trim -> parts(1).split(",").map(_.trim).filter(_.nonEmpty).map(_.toDouble)
        }.toMap
      def g(name: String): Array[Double] =
        m.getOrElse(name, throw new IllegalArgumentException(s"missing tensor '$name'"))
      val hidden = g("hidden").head.toInt
      GruWeights(hidden,
        g("wz"), g("uz"), g("bz"),
        g("wr"), g("ur"), g("br"),
        g("wh"), g("uh"), g("bh"),
        g("wOut"))
    }
  }

  /** One stacked-LSTM layer's weights, row-major (`w*` are hidden×input,
    * `u*` hidden×hidden, `b*` hidden). Gate order follows the standard
    * public LSTM formulation (input / forget / candidate / output). */
  final case class LstmLayerWeights(input: Int, hidden: Int,
      wi: Array[Double], ui: Array[Double], bi: Array[Double],
      wf: Array[Double], uf: Array[Double], bf: Array[Double],
      wg: Array[Double], ug: Array[Double], bg: Array[Double],
      wo: Array[Double], uo: Array[Double], bo: Array[Double]) {
    require(input > 0 && hidden > 0, s"bad layer dims ${input}x$hidden")
    for ((n, a) <- Seq("wi" -> wi, "wf" -> wf, "wg" -> wg, "wo" -> wo))
      require(a.length == hidden * input,
        s"$n must have ${hidden * input} values, got ${a.length}")
    for ((n, a) <- Seq("ui" -> ui, "uf" -> uf, "ug" -> ug, "uo" -> uo))
      require(a.length == hidden * hidden,
        s"$n must have ${hidden * hidden} values, got ${a.length}")
    for ((n, a) <- Seq("bi" -> bi, "bf" -> bf, "bg" -> bg, "bo" -> bo))
      require(a.length == hidden, s"$n must have $hidden values, got ${a.length}")
  }

  /** Stacked-LSTM weights + linear readout. `activation` is the cell /
    * candidate activation ("tanh" = the textbook cell; "relu" = the
    * reference artifact's choice — `lstm_model.keras` config.json declares
    * LSTM(64, activation=relu) → LSTM(32, activation=relu) → Dense(1),
    * recurrent_activation=sigmoid). Layer chaining is validated here so a
    * misshapen stack fails at construction, not mid-job. */
  final case class LstmWeights(layers: Seq[LstmLayerWeights],
      wOut: Array[Double], activation: String = "relu",
      bOut: Double = 0.0, scaler: Option[(Double, Double)] = None) {
    require(layers.nonEmpty, "need at least one LSTM layer")
    require(layers.head.input == 1, "first layer consumes the scalar series")
    layers.sliding(2).foreach {
      case Seq(a, b) => require(b.input == a.hidden,
        s"layer chain mismatch: ${a.hidden} -> ${b.input}")
      case _ => ()
    }
    require(wOut.length == layers.last.hidden,
      s"wOut must have ${layers.last.hidden} values, got ${wOut.length}")
    require(activation == "tanh" || activation == "relu",
      s"unsupported activation '$activation'")
    scaler.foreach { case (mn, mx) =>
      require(mx > mn, s"degenerate scaler [$mn, $mx]") }
  }

  /** LSTM forward pass with the reference's ARCHITECTURE
    * (`lstm_model.keras`: stacked LSTM(64)→LSTM(32)→Dense(1), the model
    * `batch_processor.py:45-46` loads once and `stream_consumer.py:43-45`
    * serves per batch): standard public cell equations
    *   i=σ(Wi·x+Ui·h+bi)  f=σ(Wf·x+Uf·h+bf)  g=act(Wg·x+Ug·h+bg)
    *   o=σ(Wo·x+Uo·h+bo)  c′=f⊙c+i⊙g        h′=o⊙act(c′)
    * unrolled over the window, layer l+1 consuming layer l's hidden
    * sequence, linear head on the last layer's final h. Same scale-free
    * input convention as [[GruPredictor]] (x = v/base − 1, output =
    * base·(1+out)) so untrained weights still emit price-magnitude
    * values. No trained weights in the sandbox (SURVEY §7 R1): the
    * default constructor seeds the reference's 64→32 shape
    * deterministically; trained weights drop in via
    * [[LstmPredictor.fromFile]] with no other code change. */
  class LstmPredictor(val weights: LstmWeights) extends Predictor {
    def this(hidden: Seq[Int] = Seq(64, 32), seed: Long = 7L,
        activation: String = "relu") =
      this(LstmPredictor.seededWeights(hidden, seed, activation))

    @inline private def sigmoid(x: Double): Double = 1.0 / (1.0 + math.exp(-x))
    @inline private def act(x: Double): Double =
      if (weights.activation == "relu") math.max(0.0, x) else math.tanh(x)

    override def predict(lastK: Seq[Double]): Double = {
      val base = lastK.last
      // layer 0 input, one scalar per step. Two conventions:
      //  - frozen scaler (the reference's MinMaxScaler: scaler.pkl holds
      //    {min, max}; stream_consumer.py scales, predicts, then
      //    inverse-transforms) when `weights.scaler` is set;
      //  - scale-free (x = v/base − 1, output = base·(1+out)) otherwise,
      //    so untrained seeded weights still emit price-magnitude values.
      var seq: Array[Array[Double]] = weights.scaler match {
        case Some((mn, mx)) =>
          lastK.iterator.map(v => Array((v - mn) / (mx - mn))).toArray
        case None =>
          lastK.iterator.map { v =>
            Array(if (base != 0.0) v / base - 1.0 else v)
          }.toArray
      }
      weights.layers.foreach { L =>
        val n = L.hidden; val m = L.input
        var h = new Array[Double](n)
        var c = new Array[Double](n)
        val outSeq = new Array[Array[Double]](seq.length)
        var t = 0
        while (t < seq.length) {
          val x = seq(t)
          val hN = new Array[Double](n); val cN = new Array[Double](n)
          var i = 0
          while (i < n) {
            var ai = L.bi(i); var af = L.bf(i); var ag = L.bg(i); var ao = L.bo(i)
            var j = 0
            while (j < m) {
              val xj = x(j)
              ai += L.wi(i * m + j) * xj; af += L.wf(i * m + j) * xj
              ag += L.wg(i * m + j) * xj; ao += L.wo(i * m + j) * xj
              j += 1
            }
            j = 0
            while (j < n) {
              val hj = h(j)
              ai += L.ui(i * n + j) * hj; af += L.uf(i * n + j) * hj
              ag += L.ug(i * n + j) * hj; ao += L.uo(i * n + j) * hj
              j += 1
            }
            val ci = sigmoid(af) * c(i) + sigmoid(ai) * act(ag)
            cN(i) = ci
            hN(i) = sigmoid(ao) * act(ci)
            i += 1
          }
          h = hN; c = cN; outSeq(t) = hN
          t += 1
        }
        seq = outSeq
      }
      val hLast = seq.last
      var out = weights.bOut
      var i = 0
      while (i < hLast.length) { out += weights.wOut(i) * hLast(i); i += 1 }
      weights.scaler match {
        case Some((mn, mx)) => out * (mx - mn) + mn // inverse_transform
        case None           => base * (1.0 + out)
      }
    }
  }

  object LstmPredictor {
    /** Deterministic stand-in weights, fan-in-scaled so deep stacks stay
      * numerically tame under the unbounded relu cell. */
    def seededWeights(hidden: Seq[Int], seed: Long,
        activation: String): LstmWeights = {
      val rnd = new scala.util.Random(seed)
      def mat(n: Int, fanIn: Int): Array[Double] =
        Array.fill(n)(rnd.nextGaussian() / math.sqrt(math.max(1, fanIn)))
      val layers = hidden.zip(1 +: hidden.dropRight(1)).map { case (n, m) =>
        LstmLayerWeights(m, n,
          mat(n * m, m + n), mat(n * n, m + n), mat(n, m + n),
          mat(n * m, m + n), mat(n * n, m + n), mat(n, m + n),
          mat(n * m, m + n), mat(n * n, m + n), mat(n, m + n),
          mat(n * m, m + n), mat(n * n, m + n), mat(n, m + n))
      }
      LstmWeights(layers, mat(hidden.last, hidden.last), activation)
    }

    /** Load trained weights from the same plain-text format as
      * [[GruPredictor.fromFile]]: `hidden:64,32`, optional
      * `activation:relu|tanh` (default relu, the reference artifact's),
      * then per-layer tensors `l<idx>_{wi,ui,bi,wf,uf,bf,wg,ug,bg,wo,uo,bo}`
      * row-major, and `wOut`; optional `bOut` (readout bias, default 0)
      * and `scaler_min`/`scaler_max` (frozen MinMaxScaler constants —
      * when present the predictor uses the reference's scale/predict/
      * inverse-transform convention instead of the scale-free one).
      * Sizes validate on load. */
    def fromFile(path: String): LstmPredictor =
      new LstmPredictor(parseWeights(new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
        java.nio.charset.StandardCharsets.UTF_8)))

    /** THE REFERENCE ARTIFACT'S TRAINED WEIGHTS — `lstm_model.keras`
      * (keras 3.9.2: LSTM(64, relu, return_sequences) → LSTM(32, relu)
      * → Dense(1), input window (5, 1)), extracted from the public HDF5
      * container by `tools/dump_keras_weights.py` into the text tensor
      * format above and shipped as a classpath resource, with the
      * sibling `scaler.pkl`'s frozen MinMaxScaler pair
      * (min 170.75782116164527, max 189.0292566483142) riding along as
      * `scaler_min`/`scaler_max`. Loaded once per JVM; the extraction
      * is pinned by LstmRefWeightsSpec's independent hand-unrolled
      * forward pass and cross-language golden values. */
    lazy val reference: LstmPredictor = {
      val in = getClass.getResourceAsStream("/graft/lstm_ref_weights.txt")
      require(in != null, "missing resource graft/lstm_ref_weights.txt")
      try new LstmPredictor(parseWeights(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)))
      finally in.close()
    }

    /** Load a Keras-3 `.keras` archive DIRECTLY (in-engine HDF5 reader —
      * [[graft.ops.KerasH5]]): a user of the reference points this at
      * their own trained artifact and runs, no export step. `scaler` is
      * the frozen MinMaxScaler pair the reference ships separately as
      * scaler.pkl; None selects the scale-free convention.
      * KerasH5Spec pins this loader bit-identical to the shipped
      * resource on the reference's own artifact. */
    def fromKeras(path: String, scaler: Option[(Double, Double)],
        layerNames: Seq[String] = Seq("lstm", "lstm_1"),
        denseName: String = "dense"): LstmPredictor =
      new LstmPredictor(KerasH5.lstmWeights(
        KerasH5.readKerasArchive(path), layerNames, denseName, scaler))

    private[graft] def parseWeights(text: String): LstmWeights = {
      val m: Map[String, String] = text.linesIterator
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l =>
          val parts = l.split(":", 2)
          require(parts.length == 2, s"malformed weight line: '$l'")
          parts(0).trim -> parts(1).trim
        }.toMap
      def nums(name: String): Array[Double] =
        m.getOrElse(name, throw new IllegalArgumentException(
          s"missing tensor '$name'"))
          .split(",").map(_.trim).filter(_.nonEmpty).map(_.toDouble)
      val hidden = nums("hidden").map(_.toInt).toSeq
      val layers = hidden.zip(1 +: hidden.dropRight(1)).zipWithIndex.map {
        case ((n, in), idx) =>
          def g(t: String) = nums(s"l${idx}_$t")
          LstmLayerWeights(in, n,
            g("wi"), g("ui"), g("bi"), g("wf"), g("uf"), g("bf"),
            g("wg"), g("ug"), g("bg"), g("wo"), g("uo"), g("bo"))
      }
      val scaler = (m.get("scaler_min"), m.get("scaler_max")) match {
        case (Some(mn), Some(mx)) => Some((mn.toDouble, mx.toDouble))
        case (None, None)         => None
        case _ => throw new IllegalArgumentException(
          "scaler_min/scaler_max must be given together")
      }
      LstmWeights(layers, nums("wOut"), m.getOrElse("activation", "relu"),
        m.get("bOut").map(_.toDouble).getOrElse(0.0), scaler)
    }
  }

  /** M2's REAL shape — batched inference over every stride-1 length-k
    * window: windows are materialized by the (deterministic, ordered)
    * frame exactly as [[predictAllWindows]], then a mapPartitions stage
    * buffers each partition's windows and calls the predictor ONCE per
    * buffer (`predictor.predictBatch` — the analog of the reference
    * batching every sequence into one `model.predict(sequences)` call,
    * `batch_processor.py:88-101`). The predictor rides an explicit
    * broadcast, so weights ship once per executor, not per task
    * (`stream_consumer.py:43-45` loads the model once per process);
    * `prepare()` fires once per partition. */
  def predictAllWindowsBatched(s: SparkSession, d: String, k: Int = 60,
      predictor: Predictor = LinearPredictor, batchSize: Int = 1024,
      spread: Boolean = false): DataFrame =
    predictAllWindowsBatchedRaw(s, d, k, predictor, batchSize, spread)
      .orderBy(col("event_id"))

  /** [[predictAllWindowsBatched]] WITHOUT the final global sort. The
    * sort exists for the presented result; a caller that materializes
    * to parquet must not pay it — a global orderBy range-partitions,
    * and range partitioning SAMPLES its child, which would execute the
    * whole inference pipeline twice (measured: the sorted write cost
    * ~2× the pass; under a bare count() the optimizer eliminates the
    * sort, which is why the query form never showed it). */
  private def predictAllWindowsBatchedRaw(s: SparkSession, d: String, k: Int,
      predictor: Predictor, batchSize: Int, spread: Boolean): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(predictor)
    // windows come from the shared per-(corpus, k) artifact
    // (Chunked.windowArrays): one chunked collect_list frame pass per
    // JVM, consumed here and by the sliding stats + GRU/LSTM passes.
    // `spread` REPARTITIONS to the session's parallelism before the
    // inference stage, but ONLY for recurrence-cost predictors (the
    // GRU/LSTM passes set it): the artifact rides the frame pass's
    // (series, chunk) partitioning — at sf0.1 that is 5 populated
    // partitions, so a ~3.5 MFLOP/window recurrence ran near-serial
    // (r17: q_predict_gru 2.0 s warm ≈ the single-thread cost of 100k
    // window forwards; after spreading, 0.66 s). For the CHEAP linear
    // predictor the exchange of 100k × k-double window arrays costs
    // more than the compute it parallelizes (r17 same-context A/B:
    // q_predict_windows 0.21 s riding the artifact partitioning vs
    // 0.94 s behind the unconditional repartition), so the default
    // keeps the artifact's layout. Per-row map work is
    // partition-invariant, so values are unchanged either way.
    val base = Chunked.windowArrays(s, d, k)
    val windows = (if (spread) base.repartition(s.sparkContext.defaultParallelism)
                   else base)
      .as[(Long, String, Array[Double])]
    windows.mapPartitions { it =>
      val p = bc.value
      p.prepare()
      it.grouped(batchSize).flatMap { chunk =>
        val preds = p.predictBatch(chunk.map(_._3).toArray)
        chunk.iterator.zip(preds.iterator).map { case ((id, et, _), pred) =>
          (id, et, pred)
        }
      }
    }.toDF("event_id", "event_type", "predicted")
  }

  /** The GRU inference pass ([[predictAllWindowsBatched]] with the
    * seeded [[GruPredictor]]) materialized ONCE per (corpus, window
    * size) as a parquet dir and shared by `q_predict_gru` and its
    * hash-gated companion (`Checks.gruPredictCheck`) — the same
    * share-the-intermediate discipline as the stateful drain sink,
    * which both `q_stateful_predict` and `q_stateful_final`
    * post-process. An [[Tables.Iteration]] entry: every iteration —
    * warm included — re-pays exactly ONE recurrence pass (carried by
    * whichever consumer runs first), never zero and never one per
    * consumer. */
  def gruPredictionsDir(s: SparkSession, d: String, k: Int = 60): String =
    Tables.artifact(s, d, Seq("events"), ("gruPredictionsDir", k), Tables.Iteration) {
      // ephemeral shared intermediate, re-built per bench iteration —
      // rides the tmpfs lever like the streaming scratch (Tuning doc)
      val out = graft.Tuning.fastTmpDir("graft_gru_").toString
      predictAllWindowsBatchedRaw(s, d, k, new GruPredictor(), 1024,
          spread = true)
        .write.mode("overwrite").parquet(out)
      out
    }

  /** `q_predict_gru`'s registered form: the cached pass, re-sorted on
    * read (parquet does not preserve the operator's event_id order). */
  def gruPredictions(s: SparkSession, d: String, k: Int = 60): DataFrame =
    s.read.parquet(gruPredictionsDir(s, d, k)).orderBy(col("event_id"))

  /** Delegate of [[Tables.beginIteration]] (which drops the GRU, LSTM
    * and drain entries alike), kept for callers built against this name:
    * the graftbench harness calls it. */
  def resetGruDirs(): Unit = Tables.beginIteration()

  /** The stacked-LSTM inference pass at the REFERENCE'S OPERATING POINT:
    * the reference never runs its LSTM(64)→LSTM(32) over the whole
    * corpus — its batch chain fetches `ORDER BY timestamp DESC LIMIT
    * 10000` and predicts the ~9,940 windows inside that slice
    * (`batch_processor.py:76,88-101`), a CONSTANT amount of model
    * compute at any corpus size. The engine mirrors that bound: top-k
    * fetch (TakeOrderedAndProject — the `q_orderby_limit` plan), windows
    * derived WITHIN the slice per series, batched inference over the
    * ≤fetch window set. At 100 TB the scan behind the fetch is the only
    * thing that grows; the ~3.5 MFLOP/window recurrence stays a fixed
    * ~35 GFLOP job. (The corpus-wide stress path is still one call away:
    * [[predictAllWindowsBatched]] with an [[LstmPredictor]] — the GRU
    * query keeps exercising that all-windows shape cheaply.)
    *
    * Materialized once per (corpus, window size) and shared by
    * `q_predict_lstm` and its hash-gated companion — the same
    * per-iteration lifecycle as [[gruPredictionsDir]]. Keyed by every
    * parameter that changes the slice (k, fetch, predictor), so a
    * non-default fetch or the trained-weights variant never aliases the
    * default run. */
  def lstmPredictionsDir(s: SparkSession, d: String, k: Int = 60,
      fetch: Int = 10000): String =
    Tables.artifact(s, d, Seq("events"), ("lstmPredictionsDir", k, fetch, "seeded"),
        Tables.Iteration) {
      val out = graft.Tuning.fastTmpDir("graft_lstm_").toString
      predictFetchWindowsBatchedRaw(s, d, k, fetch, new LstmPredictor(), 1024)
        .write.mode("overwrite").parquet(out)
      out
    }

  /** [[lstmPredictionsDir]] under the reference artifact's TRAINED
    * weights and frozen scaler ([[LstmPredictor.reference]]), at the
    * artifact's true operating point: `config.json` declares input
    * (5, 1) — the last-5 window `stream_consumer.py:50-54` feeds it —
    * so k defaults to 5 here, not the batch chain's 60 (which the
    * shipped model could never have accepted; SURVEY Q1). Same bounded
    * top-`fetch` slice and build-once lifecycle as the seeded variant. */
  def lstmRefPredictionsDir(s: SparkSession, d: String, k: Int = 5,
      fetch: Int = 10000): String =
    Tables.artifact(s, d, Seq("events"), ("lstmPredictionsDir", k, fetch, "reference"),
        Tables.Iteration) {
      val out = graft.Tuning.fastTmpDir("graft_lstm_ref_").toString
      predictFetchWindowsBatchedRaw(s, d, k, fetch,
        LstmPredictor.reference, 1024)
        .write.mode("overwrite").parquet(out)
      out
    }

  /** `q_predict_lstm_ref`'s registered form: the cached trained-weights
    * pass, re-sorted on read. */
  def lstmRefPredictions(s: SparkSession, d: String, k: Int = 5): DataFrame =
    s.read.parquet(lstmRefPredictionsDir(s, d, k)).orderBy(col("event_id"))

  /** Windows within the reference's bounded fetch slice → batched
    * inference. The slice is ≤fetch rows, so its per-series window sort
    * is trivially small — but the INFERENCE is not (reference shape ≈
    * 3.5 MFLOP/window), so the window rows are explicitly repartitioned
    * to the session's parallelism before the predict stage: without it
    * the ≤fetch rows sit in a handful of per-series sort outputs and the
    * recurrence runs nearly serial (measured 112 s for the unbounded ×
    * underparallelized variant at sf0.1 vs ~2 s bounded + spread). */
  private def predictFetchWindowsBatchedRaw(s: SparkSession, d: String,
      k: Int, fetch: Int, predictor: Predictor, batchSize: Int): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(predictor)
    val slice = Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("ts"), col("value"))
      .orderBy(col("ts").desc, col("event_id").desc).limit(fetch)
    val frame = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-(k - 1), 0)
    slice
      .select(col("event_id"), col("event_type"),
        collect_list(col("value")).over(frame).as("w"))
      .filter(size(col("w")) === k)
      .repartition(s.sparkContext.defaultParallelism)
      .as[(Long, String, Array[Double])]
      .mapPartitions { it =>
        val p = bc.value
        p.prepare()
        it.grouped(batchSize).flatMap { chunk =>
          val preds = p.predictBatch(chunk.map(_._3).toArray)
          chunk.iterator.zip(preds.iterator).map { case ((id, et, _), pred) =>
            (id, et, pred)
          }
        }
      }.toDF("event_id", "event_type", "predicted")
  }

  /** `q_predict_lstm`'s registered form: the cached pass, re-sorted on
    * read (parquet does not preserve the operator's event_id order). */
  def lstmPredictions(s: SparkSession, d: String, k: Int = 60): DataFrame =
    s.read.parquet(lstmPredictionsDir(s, d, k)).orderBy(col("event_id"))

  /** Delegate of [[Tables.beginIteration]], kept for callers built
    * against this name: the graftbench harness calls it. */
  def resetLstmDirs(): Unit = Tables.beginIteration()

  /** M1 — next-value prediction per series from the last k observations,
    * TWO-PHASE: the bounded [[graft.functions.TopKByAgg]] reduces each
    * map task to its k newest values (partial aggregation — k×partitions
    * tiny buffers shuffle, no per-series sort task), then the predictor
    * fires once per series on the chronological lookback. Same reference
    * semantics as before (`stream_consumer.py:50-54`): series with fewer
    * than k observations emit nothing. */
  def predictNext(s: SparkSession, d: String, k: Int = 5,
      predictor: Predictor = LinearPredictor): DataFrame = {
    import graft.functions.Native
    Native.register(s)
    val predictUdf = udf((xs: Seq[Double]) => predictor.predict(xs))
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(Native.topKBy(col("ts"), col("event_id"), col("value"), k).as("vals"))
      .filter(size(col("vals")) === k)
      // topKBy emits newest-first; the predictor wants chronological
      .select(col("event_type"), predictUdf(reverse(col("vals"))).as("predicted"))
      .orderBy(col("event_type"))
  }

  /** M2 — batch inference over every stride-1 length-k window (reference
    * `make_predictions`, `batch_processor.py:88-101`): one prediction per
    * complete window, fully distributed. */
  def predictAllWindows(s: SparkSession, d: String, k: Int = 60,
      predictor: Predictor = LinearPredictor): DataFrame = {
    val predictUdf = udf((xs: Seq[Double]) => predictor.predict(xs))
    val frame = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-(k - 1), 0)
    Tables.events(s, d)
      .select(col("event_id"), col("event_type"),
        collect_list(col("value")).over(frame).as("w"))
      .filter(size(col("w")) === k)
      .select(col("event_id"), col("event_type"),
        predictUdf(col("w")).as("predicted"))
      .orderBy(col("event_id"))
  }
}
