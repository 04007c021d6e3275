package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev utility: drive a named library operator that is not part of the
  * SparkEntry.queries contract, from the command line.
  *
  *   sbt 'runMain graft.tools.Drive simhashPairs /root/testdata/sf0.01'
  */
object Drive {
  def main(args: Array[String]): Unit = {
    val Array(op, sfDir) = args.take(2)
    if (op == "entrySmoke") {
      // mimic the driver's smoke check: a bare session with NO graft
      // configs (no UTC, no shuffle tuning), then entry() must work
      val s = SparkSession.builder().master("local[4]").getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      val df = graft.SparkEntry.entry(s)
      df.show(10, truncate = false)
      println(s"ENTRY_ROWS=${df.count()}")
      s.stop()
      return
    }
    if (op == "extensions") {
      // exercise the production registration path: functions resolved by
      // SQL name through spark.sql.extensions, no manual register()
      val s = SparkSession.builder().master("local[2]")
        .config("spark.sql.extensions", "graft.functions.GraftExtensions")
        .config("spark.ui.enabled", "false").getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s.sql("SELECT graft_rolling_hash('abc') AS rh, graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dot, graft_xor_fold(encode('abc', 'UTF-8')) AS xf").show()
      s.sql("""SELECT k, graft_topk_by(o, tb, v, 2) AS top2
               FROM VALUES (0, 1L, 1L, 10.0d), (0, 3L, 2L, 30.0d), (0, 2L, 3L, 20.0d)
               AS t(k, o, tb, v) GROUP BY k""").show(truncate = false)
      s.sql("""SELECT k, size(graft_minhash(h)) AS sig_len,
               element_at(graft_minhash(h), 1) AS slot0
               FROM VALUES (0, 11L), (0, 22L), (1, 33L) AS t(k, h)
               GROUP BY k ORDER BY k""").show()
      s.stop()
      return
    }
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        graft.Tuning.diskTmpDir("graft_wh_").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = op match {
      case "simhashPairs"   => graft.ops.Dedup.simhashPairs(spark, sfDir)
      case "ngramJaccard"   => graft.ops.Dedup.ngramJaccardConsecutive(spark, sfDir)
      case "minhashPairs"   => graft.ops.Dedup.minhashLshPairs(spark, sfDir)
      case "shingleCount"   =>
        import org.apache.spark.sql.functions._
        graft.Tables.documents(spark, sfDir)
          .select(size(graft.ops.Dedup.shingles(col("text"))).as("ns"))
          .agg(sum(col("ns")), max(col("ns")), count(lit(1)))
      case "phases" =>
        import org.apache.spark.sql.functions._
        def time[A](label: String)(f: => A): A = {
          val t0 = System.nanoTime(); val r = f
          println(f"PHASE $label ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
        }
        val docs = graft.Tables.documents(spark, sfDir)
          .select(col("doc_id"), graft.ops.Dedup.shingles(col("text")).as("sh"))
        time("shingle-arrays")(docs.count())
        val j = docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
          .join(docs.select(col("doc_id").as("id_b"), col("sh").as("sh_b")),
            col("id_b") === col("id_a") + 1)
        time("join-only")(j.count())
        time("intersect")(j.select(size(array_intersect(col("sh_a"), col("sh_b")))).count())
        time("full")(graft.ops.Dedup.ngramJaccardConsecutive(spark, sfDir).count())
        val proj = j.filter(size(col("sh_a")) > 0 && size(col("sh_b")) > 0)
          .select(col("id_a"), col("id_b"),
            size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("n_common"),
            size(col("sh_a")).cast("long").as("n_a"),
            size(col("sh_b")).cast("long").as("n_b"))
        time("proj-no-jaccard")(proj.count())
        time("proj-jaccard")(proj.withColumn("jaccard",
          col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common"))).count())
        time("proj-jaccard-sort")(proj.withColumn("jaccard",
          col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
          .orderBy(col("id_a")).count())
        println(proj.queryExecution.executedPlan.toString.take(4000))
        spark.range(1).toDF("x")
      case "embedIvfPhases" =>
        // where does the √n-cell dedup wall actually sit at 200k vectors:
        // the n·√n assignment scoring, the candidate pair space, or the
        // verify? Prints each leg's cardinality + wall.
        import org.apache.spark.sql.functions._
        def time[A](label: String)(f: => A): A = {
          val t0 = System.nanoTime(); val r = f
          println(f"PHASE $label ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
        }
        val S = graft.ops.Similarity
        val e = graft.Tables.embeddings(spark, sfDir)
        graft.functions.Native.register(spark)
        val en = e.withColumn("nrm", S.l2norm(col("embedding")))
        val n = en.count()
        val cells = if (n <= 4000L) S.NumCentroids
          else math.min(4096L, math.round(math.sqrt(n.toDouble))).toInt
        println(s"n=$n cells=$cells")
        val cents = time("train-centroids")(
          S.trainedCentroids(spark, sfDir, cells).localCheckpoint(true))
        val assigned = time("assign")(
          S.assignToCentroids(en, cents.withColumn("c_nrm", S.l2norm(col("c_emb"))))
            .select(col("c_id"), col("vec_id")).localCheckpoint(true))
        time("cell-pair-count")(println("cellPairs=" +
          assigned.groupBy("c_id").count()
            .agg(sum(col("count") * (col("count") - 1) / 2)).head().get(0)))
        val b = assigned.join(en.select(col("vec_id"), col("embedding")), Seq("vec_id"))
          .select(col("c_id"), col("vec_id"),
            posexplode(S.signBandKeysPublic(wide = false)).as(Seq("t", "key")))
        time("subblock-cand-count")(println("subblockPairs=" +
          b.groupBy("c_id", "t", "key").count()
            .agg(sum(col("count") * (col("count") - 1) / 2)).head().get(0)))
        time("full-query")(println("final=" +
          S.embedNearDupIvf(spark, sfDir).count()))
        spark.range(1).toDF("x")
      case "streamFloor" =>
        // The round-8 floor experiment: is the ~200 ms micro-batch mean a
        // micro-batch-machinery floor, or could Spark's continuous engine
        // beat it on the append-only leg? Both modes run the SAME
        // rate-source → map → ForeachWriter pipeline (no files, no
        // state), so the comparison isolates trigger machinery from
        // source/sink costs. The probe itself now lives in
        // Pipeline.continuousFloorProbe (it is also Bench's
        // stream_floor_ms artifact line); this tool keeps the
        // side-by-side comparison at the longer 20 s horizon.
        import org.apache.spark.sql.streaming.Trigger
        def run(label: String, trigger: Trigger): Unit = {
          val (cnt, mean) = graft.streaming.Pipeline.continuousFloorProbe(
            spark, durationMs = 20000, trigger = trigger)
          println(f"$label%-12s records=$cnt mean_record_latency_ms=$mean%.1f")
        }
        run("continuous", Trigger.Continuous("1 second"))
        run("microbatch", Trigger.ProcessingTime("0 seconds"))
        spark.range(1).toDF("x")
      case "adcAgree" =>
        // ADC-vs-exact prediction agreement AT THE ENGAGED SCALE: the
        // spec and the oracled companion force the ADC regime on driver
        // fixtures (where cells are pool-sized and agreement is 1.000);
        // this runs BOTH regimes on a generated corpus past the gate so
        // the pool approximation is measured where it actually deploys.
        import graft.ops.{Similarity => S}
        import org.apache.spark.sql.functions.col
        def side(label: String, adcMin: Long, pool: Int = 0) = {
          val t0 = System.nanoTime()
          val r = S.knnClassifyIvf(spark, sfDir, adcMinLabeled = adcMin,
              adcPool = pool)
            .select(col("vec_id"), col("pred_label").as(label))
            .localCheckpoint(true)
          println(f"$label%-8s wall ${(System.nanoTime() - t0) / 1e9}%.1f s")
          r
        }
        val exact = side("exact", Long.MaxValue)
        def report(adc: org.apache.spark.sql.DataFrame, tag: String): Unit = {
          val j = exact.join(adc, Seq("vec_id")).localCheckpoint(true)
          val n = j.count()
          val covMismatch = j.filter(col("exact").isNull =!= col(tag).isNull).count()
          val both = j.filter(col("exact").isNotNull && col(tag).isNotNull)
          val nBoth = both.count()
          val agree = both.filter(col("exact") === col(tag)).count()
          println(f"$tag: queries=$n coverage_mismatch=$covMismatch " +
            f"agree=${agree.toDouble / math.max(1L, nBoth)}%.4f over $nBoth covered")
        }
        // pool 0 = the production AUTO sizing (constant fraction of the
        // average cell); fixed points span the r12 curve for comparison
        for (pool <- Seq(0, 64, 256, 1024)) {
          val tag = if (pool == 0) "adcAuto" else s"adc$pool"
          report(side(tag, S.KnnAdcMinLabeled, pool), tag)
        }
        spark.range(1).toDF("x")
      case "sdcError" =>
        // Distortion of the SDC (code-to-code) score vs exact cosine —
        // the measurement that sizes Similarity.SdcMargin. Three pair
        // regimes: (a) random corpus pairs (where the band blocker's
        // collisions mostly live), (b) synthesized pairs at exact target
        // cosines around the dedup threshold (the boundary the margin
        // protects), built as v = t·a + √(1−t²)·ĝ⊥ so cos(v,a) = t by
        // construction. All driver-side plain Scala over a bounded
        // sample — a measurement, not an operator.
        import graft.ops.{Similarity => S}
        import org.apache.spark.sql.functions.col
        val rows = graft.Tables.embeddings(spark, sfDir)
          .select(col("vec_id"), col("embedding")).limit(4000).collect()
        val cb = S.pqCodebooks(spark, sfDir)
        val sym = S.sdcFlatTable(cb)
        def unit(v: Array[Double]): Array[Double] = {
          val n = math.sqrt(v.map(x => x * x).sum)
          if (n == 0) v else v.map(_ / n)
        }
        def sdc(a: Array[Double], b: Array[Double]): Double = {
          val ca = S.packCodes(S.pqEncodeOne(cb, a.map(_.toFloat).toSeq))
          val cbb = S.packCodes(S.pqEncodeOne(cb, b.map(_.toFloat).toSeq))
          (0 until S.PqM).map(m => sym((m * S.PqK +
            ((ca >>> (4 * m)) & 0xFL).toInt) * S.PqK +
            ((cbb >>> (4 * m)) & 0xFL).toInt)).sum
        }
        def stats(label: String, errs: Seq[Double]): Unit = {
          val s0 = errs.sorted
          println(f"$label%-28s n=${s0.size} p50=${s0(s0.size / 2)}%.4f " +
            f"p99=${s0((s0.size * 99) / 100)}%.4f max=${s0.last}%.4f")
        }
        val es = rows.map(r => unit(r.getSeq[Float](1).map(_.toDouble).toArray))
        val rand = (0 until es.length - 1).map { i =>
          val (a, b) = (es(i), es(i + 1))
          val exact = a.zip(b).map { case (x, y) => x * y }.sum
          math.abs(sdc(a, b) - exact)
        }
        stats("random-pairs", rand)
        for (t <- Seq(0.3, 0.4, 0.5)) {
          val errs = (0 until math.min(1000, es.length - 1)).map { i =>
            val a = es(i)
            val g = es(i + 1)
            val proj = a.zip(g).map { case (x, y) => x * y }.sum
            val gp = unit(g.zipWithIndex.map { case (y, j) => y - proj * a(j) })
            val v = a.zipWithIndex.map { case (x, j) => t * x + math.sqrt(1 - t * t) * gp(j) }
            math.abs(sdc(a, v) - t)
          }
          stats(f"planted-cos-$t%.1f", errs)
        }
        spark.range(1).toDF("x")
      case "dedupWidePhases" =>
        // bisect the wide-regime cell-cogroup dedup: projection alone vs
        // the grouped scorer (perf attribution for the map-stage wall)
        import graft.ops.{Similarity => S}
        import org.apache.spark.sql.functions.col
        graft.functions.Native.register(spark)
        def phase[A](label: String)(f: => A): A = {
          val t0 = System.nanoTime()
          val r = f
          println(f"PHASE $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
          r
        }
        val e0 = graft.Tables.embeddings(spark, sfDir)
          .withColumn("nrm", S.l2norm(col("embedding")))
        val cents = phase("train")(S.trainedCentroids(spark, sfDir, 447)
          .withColumn("c_nrm", S.l2norm(col("c_emb"))).localCheckpoint(true))
        val assigned = S.assignToCentroids(e0, cents)
        phase("assign-count")(println(assigned.count()))
        val members = assigned.select(col("c_id"), col("vec_id"), col("embedding"),
          col("nrm"))
        import org.apache.spark.sql.functions.{sum => fsum}
        phase("cid-only-agg")(println(assigned.select(col("c_id"))
          .agg(fsum(col("c_id"))).head()))
        phase("cogroup-count")(println(
          S.cellBandVerifiedPairsPublic(members, 0.4).count()))
        spark.range(1).toDF("x")
      case "drainTime" =>
        // Attribution for the stream_drain_group bench line: the wall of
        // the 14-query CONCURRENT drain vs one solo single-stream drain.
        // The gap above (batch-layers × solo-batch cost) is cross-stream
        // contention on the shared driver machinery (one DAGScheduler
        // event loop, one SessionState) — the number that decides
        // whether per-drain child sessions are worth their complexity.
        graft.streaming.Pipeline.prestage(spark, sfDir)
        graft.streaming.Pipeline.prestageOrdered(spark, sfDir)
        for (i <- 1 to 3) {
          graft.Tables.beginIteration()
          val t0 = System.nanoTime()
          graft.streaming.Pipeline.drainGroup(spark, sfDir)
          println(f"group drain $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
        for (i <- 1 to 2) {
          val t1 = System.nanoTime()
          graft.streaming.Pipeline.standaloneMetricsDrain(spark, sfDir).count()
          println(f"solo metrics drain $i: ${(System.nanoTime() - t1) / 1e9}%.2f s")
        }
        spark.range(1).toDF("x")
      case "simjoinPhases" =>
        // tuning probe for the SSJoin: candidate volume + per-phase wall
        import org.apache.spark.sql.functions._
        def time[A](label: String)(f: => A): A = {
          val t0 = System.nanoTime(); val r = f
          println(f"PHASE $label ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
        }
        val docs = graft.Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("source"),
            array_distinct(graft.ops.TextOps.tokens(col("text"))).as("tk"))
          .filter(size(col("tk")) > 0)
          .select(col("doc_id"), col("source"), col("tk"),
            size(col("tk")).cast("long").as("n"),
            array_sort(transform(col("tk"),
              t => struct(xxhash64(t).as("h"), t.as("t")))).as("st"))
          .localCheckpoint(true)
        println("docs=" + docs.count())
        println("avg_tokens=" + docs.agg(avg(col("n"))).head().getDouble(0))
        val tNum = 9; val tDen = 10
        val ceilTn = floor((lit(tNum.toLong) * col("n") + (tDen - 1)) / lit(tDen))
        val prefLen = (col("n") - ceilTn + 1).cast("int")
        val pref = docs.select(col("doc_id"), col("source"), col("n"),
          explode(slice(col("st"), lit(1), prefLen)).as("p"))
          .select(col("doc_id"), col("source"), col("n"), col("p.t").as("token"))
        time("prefix-postings")(println("postings=" + pref.count()))
        val cands = pref.select(col("source"), col("token"),
            col("doc_id").as("id_a"), col("n").as("n_a"))
          .join(pref.select(col("source"), col("token"),
            col("doc_id").as("id_b"), col("n").as("n_b")),
            Seq("source", "token"))
          .filter(col("id_a") < col("id_b") &&
            col("n_b") * tDen >= col("n_a") * tNum &&
            col("n_a") * tDen >= col("n_b") * tNum)
        time("raw-cands")(println("raw=" + cands.count()))
        val dd = cands.select(col("id_a"), col("id_b")).distinct()
          .localCheckpoint(true)
        time("distinct-pairs")(println("pairs=" + dd.count()))
        time("full-query")(
          println("final=" + graft.ops.Dedup.prefixSimJoin(spark, sfDir).count()))
        spark.range(1).toDF("x")
      case "pqRecall" =>
        // tuning probe for the PQ/IVFPQ rerank pool and probe width:
        // recall@k vs the exact brute force at several operating points
        import org.apache.spark.sql.functions._
        val truth = graft.ops.Similarity.bruteForceTopK(spark, sfDir)
          .select(col("q_id"), col("n_id")).localCheckpoint(true)
        val nTrue = truth.count()
        for (pool <- Seq(4, 8, 16, 32)) {
          val t0 = System.nanoTime()
          val pq = graft.ops.Similarity.pqTopK(spark, sfDir, pool = pool)
            .select(col("q_id"), col("n_id"))
          val hit = truth.intersect(pq).count()
          println(f"PQ pool=$pool%2d recall=${hit.toDouble / nTrue}%.3f " +
            f"wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
        for ((nProbe, pool) <- Seq((4, 4), (4, 16), (4, 32), (6, 32), (8, 32),
            (8, 64), (10, 32), (10, 64), (12, 64))) {
          val t0 = System.nanoTime()
          val c = graft.ops.Similarity.ivfPqTopK(spark, sfDir,
            nProbe = nProbe, pool = pool).select(col("q_id"), col("n_id"))
          val hit = truth.intersect(c).count()
          println(f"IVFPQ nProbe=$nProbe%2d pool=$pool%2d " +
            f"recall=${hit.toDouble / nTrue}%.3f " +
            f"wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
        spark.range(1).toDF("x")
      case "predictWindows" => graft.ops.Predict.predictAllWindows(spark, sfDir)
      case "ticksJson"      => graft.gen.Ticks.asJson(graft.gen.Ticks.generate(spark))
      case "statefulPredict" => graft.streaming.Pipeline.statefulPredictions(spark, sfDir)
      case "streamDedupTwice" =>
        val a = graft.streaming.Pipeline.streamDedup(spark, sfDir).count()
        val b = graft.streaming.Pipeline.streamDedup(spark, sfDir).count()
        println(s"RUN1=$a RUN2=$b")
        spark.range(1).toDF("x")
      case "arrayEdge" => graft.ops.Scalars.arrayFunctions(spark, sfDir)
      case "eqdPhases" =>
        // phase probe for q_equidepth_bins vs q_gini at scale fixtures
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        def time[A](label: String)(f: => A): A = {
          val t0 = System.nanoTime(); val r = f
          println(f"PHASE $label ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
        }
        val e = graft.Tables.events(spark, sfDir)
          .select(col("event_type"), col("value"), col("event_id"))
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("value"), col("event_id"))
        time("scan-only")(e.count())
        time("window-rownum-only")(
          e.withColumn("i", row_number().over(w)).filter(col("i") === 1).count())
        time("window-rownum-agg")(
          e.withColumn("i", row_number().over(w))
            .groupBy(col("event_type")).agg(max(col("i"))).count())
        val counts = e.groupBy(col("event_type")).agg(count(lit(1)).as("nn"))
        time("join-window")(
          e.join(broadcast(counts), "event_type")
            .withColumn("i", row_number().over(w)).filter(col("i") === 1).count())
        time("full-op")(graft.ops.Aggregates.equidepthBins(spark, sfDir).count())
        time("full-op-again")(graft.ops.Aggregates.equidepthBins(spark, sfDir).count())
        time("gini")(graft.ops.Aggregates.giniValue(spark, sfDir).count())
        val joined = e.join(broadcast(counts), "event_type")
          .withColumn("i", row_number().over(w).cast("long"))
        time("join-window-bin-filter")(
          joined.withColumn("bin", expr(
            """CASE WHEN i <= (nn % 10) * (nn DIV 10 + 1)
               THEN (i - 1) DIV (nn DIV 10 + 1) + 1
               ELSE (nn % 10) + (i - (nn % 10) * (nn DIV 10 + 1) - 1) DIV (nn DIV 10) + 1 END"""))
            .filter(col("bin") === 1).count())
        time("window-agg-minmax")(
          e.withColumn("i", row_number().over(w))
            .groupBy(col("event_type"), col("i") % 10)
            .agg(count(lit(1)), min(col("value")), max(col("value"))).count())
        val eL = e.withColumn("vl", (col("value") * 100).cast("long"))
        val wL = Window.partitionBy(col("event_type"))
          .orderBy(col("vl"), col("event_id"))
        time("window-long-keys")(
          eL.withColumn("i", row_number().over(wL)).filter(col("i") === 1).count())
        time("window-long-keys-agg")(
          eL.withColumn("i", row_number().over(wL))
            .groupBy(col("event_type"), col("i") % 10)
            .agg(count(lit(1)), min(col("value")), max(col("value"))).count())
        graft.functions.Native.register(spark)
        val eS = e.withColumn("vs",
          graft.functions.Native.sortableDouble(col("value") + lit(0.0)))
        val wS = Window.partitionBy(col("event_type"))
          .orderBy(col("vs"), col("event_id"))
        time("window-sortable-agg")(
          eS.withColumn("i", row_number().over(wS))
            .groupBy(col("event_type"), col("i") % 10)
            .agg(count(lit(1)), min(col("value")), max(col("value"))).count())
        spark.range(1).toDF("x")
      case "olsMoments" =>
        // moment-parity probe for q_trend_ols: dump the five sums the
        // closed form consumes, for eyeball diff against the oracle's m
        // CTE (this probe caught the long×decimal(18,8) precision-loss
        // trap — Spark drops to scale 7 past precision 38)
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.types._
        val d8 = DecimalType(18, 8)
        val daily = graft.Tables.events(spark, sfDir)
          .select(col("event_type"),
            (unix_micros(date_trunc("DAY", col("ts"))) / lit(86400000000L))
              .cast(LongType).as("x"),
            col("value").cast(DecimalType(18, 2)).as("v"))
          .groupBy(col("event_type"), col("x"))
          .agg((sum(col("v")).cast(DoubleType) / count(lit(1)).cast(DoubleType))
            .as("y"))
        daily.groupBy(col("event_type")).agg(
          count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y").cast(d8)).as("sy"),
          sum((col("x").cast(DoubleType) * col("y")).cast(d8)).as("sxy"),
          sum((col("y") * col("y")).cast(d8)).as("syy"))
          .orderBy(col("event_type"))
      case "frames" =>
        import org.apache.spark.sql.functions._
        graft.ops.Multimodal.frameSample(spark, sfDir)
          .filter(col("doc_id") === 0)
          .select(col("frame_idx"), col("frame_len"),
            decode(col("frame"), "UTF-8").as("frame_text"))
      case "endToEnd" =>
        // the reference's full loop in one command: producer → wire
        // format → streaming consume (sink + metrics) → batch windows →
        // batched prediction → summary (producer.py / stream_consumer.py
        // / batch_processor.py composed)
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.streaming.Trigger
        val wireDir = java.nio.file.Files.createTempDirectory("graft_e2e_src_").toString
        val sinkDir = java.nio.file.Files.createTempDirectory("graft_e2e_sink_").toString
        // producer: deterministic ticks, JSON wire format, 4 files = 4 batches
        graft.gen.Ticks.asJson(
          graft.gen.Ticks.generate(spark, Seq("AAPL", "MSFT", "GOOG"), 2000L))
          .repartition(4).write.mode("overwrite").text(wireDir)
        // streaming consumer: parse envelope, append to the raw table,
        // listener captures per-batch metrics
        val lst = new graft.streaming.GraftQueryListener(echo = true)
        spark.streams.addListener(lst)
        val q = spark.readStream.schema("value STRING")
          .option("maxFilesPerTrigger", "1").text(wireDir)
          .select(from_json(col("value"), graft.Tables.tickSchema).as("t"))
          .select(col("t.*"))
          .writeStream.outputMode("append")
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("graft_e2e_ckpt_").toString)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            graft.sources.Sinks.parquetAppend(b, sinkDir); ()
          }.start()
        q.awaitTermination()
        lst.awaitTerminated(q.runId.toString)
        spark.streams.removeListener(lst)
        // batch path: stride-1 windows over the persisted table, batched
        // GRU inference, per-symbol summary
        val raw = spark.read.parquet(sinkDir)
        val frame = org.apache.spark.sql.expressions.Window
          .partitionBy(col("symbol")).orderBy(col("timestamp"))
          .rowsBetween(-59, 0)
        import spark.implicits._
        val wins = raw
          .select(col("symbol"), collect_list(col("price")).over(frame).as("w"))
          .filter(size(col("w")) === 60)
          .as[(String, Array[Double])]
        val bc = spark.sparkContext.broadcast(
          new graft.ops.Predict.GruPredictor(): graft.ops.Predict.Predictor)
        val preds = wins.mapPartitions { it =>
          val p = bc.value; p.prepare()
          it.grouped(1024).flatMap { chunk =>
            chunk.iterator.zip(p.predictBatch(chunk.map(_._2).toArray).iterator)
              .map { case ((sym, _), pr) => (sym, pr) }
          }
        }.toDF("symbol", "predicted")
        preds.groupBy(col("symbol"))
          .agg(count(lit(1)).as("n_windows"), avg(col("predicted")).as("avg_pred"))
          .orderBy(col("symbol"))
      case "timeQuery" =>
        // time any registered SparkEntry query N times in one JVM —
        // the quickest way to see whether a query's repeat cost reuses
        // the per-corpus build-once artifacts (iter 2+ should drop to
        // steady state) without a full Bench run
        if (args.length < 3)
          sys.error("usage: Drive <sfDir> timeQuery <queryName> [iters]")
        val name = args(2)
        val fn = graft.SparkEntry.queries.getOrElse(name, sys.error(
          s"unknown query '$name'; valid names: " +
            graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", ")))
        val n = if (args.length > 3) args(3).toInt else 3
        for (i <- 1 to n) {
          val t0 = System.nanoTime()
          fn(spark, sfDir).queryExecution.toRdd.count()
          println(f"RUN $i ${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
        spark.range(1).toDF("x")
      case "xwideKnob2M" =>
        // the 2M-decade band-width knob demonstration (r15 verdict #3):
        // a 2.1M-vector sign-uniform fixture + 50 sign-stable planted
        // copies + 50 two-sign-flip planted near-dups; the blocker
        // auto-selects the xwide 6x24 geometry past SignXWideThreshold.
        // Reports candidate volume (the bounded-candidates claim: held
        // ~constant vs the 200k decade's wide geometry, NOT grown n²),
        // recall on both plant classes (the held-floor claim), and the
        // max bucket size (per-task boundedness).
        import org.apache.spark.sql.functions.{col, count => cnt, expr, lit, posexplode}
        graft.functions.Native.register(spark)
        val nBig = 2100000L
        val nPl = 50L
        val base2 = spark.range(nBig).select(col("id").as("vec_id"),
          expr("transform(sequence(0, 63), j -> " +
            "CAST(pmod(xxhash64(id * 64 + j), 2001) - 1000 AS FLOAT))").as("embedding"))
        val exact2 = spark.range(nPl).select((col("id") + nBig).as("vec_id"),
          expr("transform(sequence(0, 63), j -> " +
            "CAST((pmod(xxhash64(id * 64 + j), 2001) - 1000) * 1.0001 AS FLOAT))")
            .as("embedding"))
        // two deterministic sign flips per planted near-dup, twinning
        // base ids nPl..2nPl-1 (so exact and flip2 plants twin DISJOINT
        // base rows): member vec_id = nBig + nPl + k copies base id
        // nPl + k with dims pmod(xxhash64(vec_id),64) and
        // pmod(xxhash64(vec_id+7),64) sign-flipped
        val flip2 = spark.range(nPl).select((col("id") + nBig + nPl).as("vec_id"),
          expr("transform(sequence(0, 63), j -> CAST((pmod(xxhash64((vec_id - " +
            s"${nBig}L) * 64 + j), 2001) - 1000) * (CASE WHEN " +
            "j = pmod(xxhash64(vec_id), 64) OR " +
            "j = pmod(xxhash64(vec_id + 7), 64) " +
            "THEN -1.0 ELSE 1.0 END) AS FLOAT))").as("embedding"))
        val fixture2 = base2.unionByName(exact2).unionByName(flip2)
          .localCheckpoint(true)
        val t0k = System.nanoTime()
        val cands2 = graft.ops.Similarity.signBandCandidates(fixture2)
          .select(col("id_a"), col("id_b")).localCheckpoint(true)
        val vol = cands2.count()
        println(f"CAND_VOLUME $vol (wall ${(System.nanoTime() - t0k) / 1e9}%.1f s)")
        val exHits = cands2.filter(col("id_a") < nPl &&
          col("id_b") === col("id_a") + nBig).count()
        val flHits = cands2.filter(col("id_a") >= nPl && col("id_a") < 2 * nPl &&
          col("id_b") === col("id_a") + nBig).count()
        println(s"RECALL_EXACT $exHits/$nPl")
        println(s"RECALL_FLIP2 $flHits/$nPl")
        val maxBucket = fixture2.select(col("vec_id"),
            posexplode(graft.ops.Similarity.signBandKeysGeom(2)).as(Seq("t", "key")))
          .groupBy(col("t"), col("key")).agg(cnt(lit(1)).as("m"))
          .agg(org.apache.spark.sql.functions.max(col("m"))).head().getLong(0)
        println(s"MAX_BUCKET $maxBucket")
        spark.range(1).toDF("x")
      case "stageClusteredEmbeddings" =>
        // stage a CLUSTERED embeddings fixture (mixture of Gaussians,
        // deterministic): args(2) = output dir, optional args(3) = n.
        // 32 xxhash64-seeded centers; each vector = its center + 5%-
        // scale noise. The regime real embedding stores live in — the
        // uniform driver fixture is the ANN sketches' documented worst
        // case; recall floors are recorded on BOTH (SCALING.md r16).
        import org.apache.spark.sql.functions.{col, expr}
        val outC = sfDir // the sfDir slot IS the output dir here
        val nVec = if (args.length > 2) args(2).toLong else 100000L
        // noise half-width relative to the ±1000 center-coordinate
        // scale. 400 ⇒ within-cluster cosine ≈ 0.86 (the realistic
        // "neighbors are same-cluster with meaningful spread" regime);
        // 50 ⇒ ≈ 0.999 (the near-tie regime where top-k is beneath PQ
        // code resolution — recorded as its own reading)
        val noiseW = if (args.length > 3) args(3).toInt else 400
        val kC = if (args.length > 4) args(4).toInt else 32
        graft.ops.Similarity.syntheticClusteredEmbeddings(spark, nVec, kC, noiseW)
          .write.mode("overwrite").parquet(s"$outC/embeddings.parquet")
        println(s"STAGED $outC n=$nVec centers=$kC noise=$noiseW")
        spark.range(1).toDF("x")
      case "ivfCellsKnob" =>
        // the IVF cell-count knob at the same decade: nCells = n/450
        // (holds per-cell size ~ the 200k decade's) vs the auto sqrt(n)
        // sizing. Trade made explicit: pair enumeration is ~n²/c, the
        // quantizer assignment is n·c — c grows, enumeration shrinks,
        // training/assignment grows. Three passes each, min is the
        // statistic (artifact store should be a fresh scratch dir so
        // centroid sidecars rebuild per setting honestly on pass 1 and
        // serve on passes 2-3).
        for ((label, cells) <- Seq("AUTO" -> 0, "RETUNED" -> 4474); i <- 1 to 3) {
          val t0 = System.nanoTime()
          graft.ops.Similarity.embedNearDupIvf(spark, sfDir, nCells = cells)
            .queryExecution.toRdd.count()
          println(f"IVF_$label pass$i ${(System.nanoTime() - t0) / 1e9}%8.2f s")
        }
        spark.range(1).toDF("x")
      case "stageOrderedDocs" =>
        // stage a doc_id-RANGE-CLUSTERED copy of the documents table
        // (args(2) = output fixture dir): each output file covers a
        // tight doc_id range, so file/row-group stats prune a doc_id
        // predicate — the physical layout that makes the delta-segment
        // lifecycle O(delta). The scattered fixture layout is the
        // honest counter-measurement (indexDeltaPhases on both).
        val out = args(2)
        graft.Tables.documents(spark, sfDir)
          .repartitionByRange(16, org.apache.spark.sql.functions.col("doc_id"))
          .sortWithinPartitions("doc_id")
          .write.mode("overwrite").parquet(s"$out/documents.parquet")
        println(s"STAGED $out")
        spark.range(1).toDF("x")
      case "indexDeltaScan" =>
        // diagnostic: raw buildSegments plan cost (no sidecar publish),
        // two passes each so codegen warm-up is visible, plus the bare
        // filtered-scan cost to see whether the doc_id predicate prunes
        import org.apache.spark.sql.functions.{col, length, sum}
        val docs = graft.Tables.documents(spark, sfDir)
        docs.count() // untimed
        val cut2 = graft.ops.TextOps.indexDeltaCut(spark, sfDir)
        println(s"CUT=$cut2")
        def t2(label: String)(df: => org.apache.spark.sql.DataFrame): Unit =
          for (i <- 1 to 2) {
            val t0 = System.nanoTime()
            df.queryExecution.toRdd.count()
            println(f"$label%-12s pass$i ${(System.nanoTime() - t0) / 1e9}%8.2f s")
          }
        t2("SCAN_DELTA") { docs.filter(col("doc_id") >= cut2)
          .agg(sum(length(col("text")))) }
        t2("SCAN_FULL")  { docs.agg(sum(length(col("text")))) }
        t2("SEG_DELTA")  { graft.ops.TextOps.buildSegmentsForDiag(
          docs.filter(col("doc_id") >= cut2)) }
        t2("SEG_FULL")   { graft.ops.TextOps.buildSegmentsForDiag(docs) }
        spark.range(1).toDF("x")
      case "postingsDecodeAB" =>
        // serve-side decode A/B over the SAME v2 segment sidecar (it
        // carries both posting representations): typed explode of
        // array<struct> vs string split/re-parse of the display blob.
        // Three timed passes each, min is the statistic. Two regimes:
        // query-vocabulary-pruned (the bm25FromIndex shape) and
        // whole-index (the worst case the string parse pays at scale).
        import org.apache.spark.sql.functions.{col, count, explode, expr, lit, split}
        import org.apache.spark.sql.types.LongType
        // materialize BOTH representations (the v3 sidecar is typed-
        // only, so the string blob is derived once here): the A/B then
        // times pure decode work, not sidecar reads
        val segs = graft.ops.TextOps.postingSegments(spark, sfDir)
          .withColumn("postings", expr("array_join(transform(plist, " +
            "x -> cast(x.doc_id as string) || ':' || cast(x.pos as string)), ' ')"))
          .localCheckpoint(true)
        val qtoks = Seq("vector", "hash", "dup")
        def tfTyped(df: org.apache.spark.sql.DataFrame) = df
          .select(col("token"), explode(col("plist.doc_id")).as("doc_id"))
          .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
        def tfString(df: org.apache.spark.sql.DataFrame) = df
          .select(col("token"), explode(split(col("postings"), " ")).as("e"))
          .select(col("token"),
            split(col("e"), ":").getItem(0).cast(LongType).as("doc_id"))
          .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
        val pruned = segs.filter(col("token").isin(qtoks: _*))
        // presentation-string cost: read the stored blob vs derive it
        // from the typed list at read time (the store-typed-only design)
        val presStored = segs.select(col("token"), col("block_id"),
          col("df_block"), col("n_postings"), col("postings"))
        val presDerived = segs.select(col("token"), col("block_id"),
          col("df_block"), col("n_postings"),
          expr("array_join(transform(plist, " +
            "x -> cast(x.doc_id as string) || ':' || cast(x.pos as string)), ' ')")
            .as("postings"))
        for ((label, df) <- Seq(
            "TYPED_PRUNED" -> tfTyped(pruned), "STRING_PRUNED" -> tfString(pruned),
            "TYPED_FULL" -> tfTyped(segs), "STRING_FULL" -> tfString(segs),
            "PRES_STORED" -> presStored, "PRES_DERIVED" -> presDerived);
            i <- 1 to 3) {
          val t0 = System.nanoTime()
          df.queryExecution.toRdd.count()
          println(f"$label%-14s pass$i ${(System.nanoTime() - t0) / 1e9}%8.2f s")
        }
        spark.range(1).toDF("x")
      case "indexDeltaPhases" =>
        // delta-segment lifecycle cost decomposition (round 16): time
        // the appended-delta build alone vs the full index rebuild —
        // the O(delta) maintenance claim. Run with a WIPED artifact
        // root; each phase's sidecar has a distinct key so no phase
        // reads another's output.
        graft.Tables.documents(spark, sfDir).count() // untimed warm-up
        def phase(label: String)(f: => Long): Unit = {
          val t0 = System.nanoTime()
          val n = f
          println(f"$label%-14s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($n rows)")
        }
        val cut = graft.ops.TextOps.indexDeltaCut(spark, sfDir)
        println(s"CUT=$cut")
        phase("DELTA_BUILD") {
          graft.ops.TextOps.deltaSegments(spark, sfDir)
            .queryExecution.toRdd.count() }
        phase("BASE_BUILD") {
          graft.ops.TextOps.baseSegments(spark, sfDir)
            .queryExecution.toRdd.count() }
        phase("FULL_REBUILD") {
          graft.ops.TextOps.postingSegments(spark, sfDir)
            .queryExecution.toRdd.count() }
        phase("MERGED_WARM") {
          graft.SparkEntry.queries("q_index_delta")(spark, sfDir)
            .queryExecution.toRdd.count() }
        spark.range(1).toDF("x")
      case "streamCompactAB" =>
        // compact-vs-merge-at-read serve A/B (round 17) over the stream
        // store SHAPE at generated-fixture scale: 4 hash-split partial
        // segment tables appended to one store dir — exactly what the
        // index drain's micro-batches flush (arbitrary batch cuts
        // relative to index blocks), built batch-style here because the
        // A/B under test is the READ side, not micro-batch latency.
        // Three timed passes per leg, min is the statistic.
        import org.apache.spark.sql.functions.{col, pmod, xxhash64}
        val docs = graft.Tables.documents(spark, sfDir)
        docs.count() // untimed warm-up
        val store = java.nio.file.Files.createTempDirectory("graft_abstore_").toString
        val t0 = System.nanoTime()
        (0 until 4).foreach { i =>
          graft.ops.TextOps.partialSegments(
            docs.filter(pmod(xxhash64(col("doc_id")), org.apache.spark.sql.functions.lit(4)) === i))
            .write.mode("append").parquet(store)
        }
        println(f"STAGE_FLUSH   ${(System.nanoTime() - t0) / 1e9}%8.2f s")
        def ab(label: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
          val times = (1 to 3).map { _ =>
            val t = System.nanoTime()
            df.queryExecution.toRdd.count()
            (System.nanoTime() - t) / 1e9
          }
          println(f"$label%-14s min ${times.min}%8.2f s  (passes ${times.map(x => f"$x%.2f").mkString(" ")})")
        }
        // A: merge on every read
        ab("MERGE_FULL") { graft.ops.TextOps.mergeSegments(spark.read.parquet(store)) }
        ab("MERGE_BM25") { graft.ops.TextOps.bm25FromSegmentsDiag(spark, sfDir,
          graft.ops.TextOps.mergeSegments(spark.read.parquet(store))) }
        // B: compact once (timed), then serve from the compacted store
        val compacted = java.nio.file.Files.createTempDirectory("graft_abcomp_").toString + "/seg.parquet"
        val t1 = System.nanoTime()
        graft.ops.TextOps.mergeSegments(spark.read.parquet(store))
          .write.parquet(compacted)
        println(f"COMPACT_ONCE  ${(System.nanoTime() - t1) / 1e9}%8.2f s")
        ab("COMPACT_FULL") { spark.read.parquet(compacted).select(col("*")) }
        ab("COMPACT_BM25") { graft.ops.TextOps.bm25FromSegmentsDiag(spark, sfDir,
          spark.read.parquet(compacted)) }
        spark.range(1).toDF("x")
      case "pqDeltaPhases" =>
        // embedding-index append-vs-retrain cost decomposition (round
        // 17): the FAISS add step (encode ONLY the appended slice under
        // the frozen base codebooks) vs the one-shot rebuild (train on
        // the full corpus + encode everything). Run with a WIPED
        // artifact root; distinct sidecar keys keep phases independent.
        // ADD = BASE_TRAIN is amortized (the snapshot's published
        // artifact) — the marginal append cost is DELTA_ENCODE alone.
        graft.Tables.embeddings(spark, sfDir).count() // untimed warm-up
        def pqPhase(label: String)(f: => Long): Unit = {
          val t0 = System.nanoTime()
          val n = f
          println(f"$label%-14s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($n rows)")
        }
        println(s"CUT=${graft.ops.Similarity.embedDeltaCut(spark, sfDir)}")
        pqPhase("BASE_TRAIN") {
          graft.ops.Similarity.pqCodebooksBase(spark, sfDir).length.toLong }
        pqPhase("BASE_ENCODE") {
          graft.ops.Similarity.pqCodesBase(spark, sfDir)
            .queryExecution.toRdd.count() }
        pqPhase("DELTA_ENCODE") {
          graft.ops.Similarity.pqCodesDelta(spark, sfDir)
            .queryExecution.toRdd.count() }
        pqPhase("FULL_RETRAIN") {
          graft.ops.Similarity.pqCodebooks(spark, sfDir).length.toLong }
        pqPhase("FULL_ENCODE") {
          graft.ops.Similarity.pqCodes(spark, sfDir)
            .queryExecution.toRdd.count() }
        pqPhase("DELTA_SEARCH") {
          graft.ops.Similarity.pqTopKDelta(spark, sfDir)
            .queryExecution.toRdd.count() }
        spark.range(1).toDF("x")
      case "kafkaProbe" =>
        try graft.sources.Sinks.kafkaReader(spark, "localhost:9092", "stock_ticks").load()
        catch { case e: Throwable => println(s"KAFKA_ERR ${e.getClass.getSimpleName}: ${e.getMessage.take(160)}") }
        spark.range(1).toDF("x")
      case "explainFmt" =>
        // full `.explain("formatted")` dump per registered query, one
        // file per query — the optimization rounds' plan-evidence
        // artifact (plans/rNN/<query>_{before,after}.txt). Usage:
        //   Drive <sfDir> explainFmt <outDir> [q_a,q_b,...]
        // With no name list, every registered query is dumped. Plans
        // only — nothing executes, so a full dump is driver-cheap.
        if (args.length < 3)
          sys.error("usage: Drive <sfDir> explainFmt <outDir> [names]")
        val outDir = java.nio.file.Paths.get(args(2))
        java.nio.file.Files.createDirectories(outDir)
        val wanted =
          if (args.length > 3) args(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq
          else graft.SparkEntry.queries.keys.toSeq.sorted
        wanted.foreach { name =>
          val txt =
            try graft.SparkEntry.queries(name)(spark, sfDir)
              .queryExecution.explainString(
                org.apache.spark.sql.execution.FormattedMode)
            catch { case e: Throwable =>
              s"PLAN_ERROR ${e.getClass.getName}: ${e.getMessage}" }
          java.nio.file.Files.write(outDir.resolve(s"$name.txt"),
            txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"explained $name")
        }
        spark.range(1).toDF("x")
      case "explain" =>
        Seq("q_scan_filter", "q_orderby_limit", "q_agg_groupby", "q_join_shuffle",
          "q_join_broadcast", "q_join_bucketed", "q_sliding_windows",
          "q_minmax_scale", "q_last5_window", "q_predict_next", "q_ann_ivf",
          "q_dedup_embed", "q_predict_windows", "q_top_tokens",
          "q_scan_partitioned", "q_ts_search", "q_join_skew_salted",
          "q_sql_correlated", "q_sample_stratified", "q_sessionize",
          "q_session_window", "q_text_novelty", "q_text_repetition",
          "q_text_rarity", "q_market_ohlc", "q_market_drawdown",
          "q_market_rsi", "q_histogram", "q_profile", "q_retention",
          "q_funnel", "q_scd2", "q_merge_upsert", "q_incr_rollup",
          "q_zorder", "q_index_postings", "q_resample",
          "q_sample_weighted", "q_skyline", "q_simjoin_prefix",
          "q_graph_triangles", "q_pagerank", "q_lm_counts",
          "q_snapshot_diff", "q_window_movavg", "q_dq_checks",
          "q_bm25_topk", "q_graph_components",
          "q_negative_sample", "q_embed_quantize", "q_knn_classify",
          "q_source_orc", "q_ann_quantized", "q_text_dupspans",
          "q_budget_select", "q_predict_lstm", "q_knn_classify_ivf",
          "q_mixture_sample", "q_shard_manifest", "q_dedup_keep_best",
          "q_text_pmi", "q_ann_range", "q_knn_centroid", "q_rag_retrieve",
          "q_contamination", "q_split_balance", "q_sample_quality",
          "q_ks_drift", "q_psi_drift", "q_robust_scale", "q_ts_acf",
          "q_attribution", "q_text_keywords", "q_source_entropy",
          "q_embed_drift", "q_lm_perplexity", "q_join_bloom",
          "q_group_sample", "q_typed_moments", "q_typed_cogroup",
          "q_parse_variant", "q_market_macd", "q_sql_disjunctive",
          "q_source_overlap", "q_funnel_time", "q_embed_outliers",
          "q_sql_late_orders", "q_sql_nation_value", "q_sql_promo_share",
          "q_sql_supplier_parts", "q_sql_waiting_supplier",
          "q_target_encode", "q_feature_hash", "q_degree_dist",
          "q_seasonality", "q_text_tfidf",
          "q_ab_ttest", "q_trend_ols", "q_funnel_paths", "q_lateness",
          "q_key_skew", "q_equidepth_bins", "q_skew_kurtosis", "q_gini",
          "q_zipf_fit")
          .foreach { name =>
          println(s"===== $name")
          println(graft.SparkEntry.queries(name)(spark, sfDir)
            .queryExecution.executedPlan.toString.take(2500))
        }
        spark.range(1).toDF("x")
      case other            => sys.error(s"unknown op: $other")
    }
    df.printSchema()
    df.show(20, truncate = false)
    println(s"ROWS=${df.count()}")
    spark.stop()
  }
}

