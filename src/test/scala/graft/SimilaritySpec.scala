package graft

import graft.ops.Similarity
import org.apache.spark.sql.functions._

/** Similarity search (north-star): brute force exactness, LSH recall. */
class SimilaritySpec extends SparkSpec {

  // plain-Scala folds in the operators' order: left-to-right
  // float→double dot, norm = sqrt(self-dot)
  private def dotFD(a: Array[Float], b: Array[Double]): Double = {
    var s0 = 0.0; var i = 0
    while (i < math.min(a.length, b.length)) { s0 += a(i).toDouble * b(i); i += 1 }; s0
  }
  private def dotFF(a: Array[Float], b: Array[Float]): Double = {
    var s0 = 0.0; var i = 0
    while (i < math.min(a.length, b.length)) { s0 += a(i).toDouble * b(i).toDouble; i += 1 }; s0
  }
  private def nrmF(a: Array[Float]) = math.sqrt(dotFF(a, a))
  private def nrmD(a: Array[Double]) = { var s0 = 0.0; a.foreach(x => s0 += x * x); math.sqrt(s0) }

  test("cosine is 1.0 against itself, within [-1,1] across pairs") {
    val e = Tables.embeddings(spark, sf).limit(20)
    val self = e.select(Similarity.cosine(col("embedding"), col("embedding")).as("c"))
      .collect().map(_.getDouble(0))
    self.foreach(c => assert(math.abs(c - 1.0) < 1e-12))
    q("q_embed_cosine_pairs").collect().foreach { r =>
      val c = r.getAs[Double]("cos")
      assert(c >= -1.0 - 1e-12 && c <= 1.0 + 1e-12)
    }
  }

  test("k-means quantizer: k centroids, deterministic, full dimension") {
    val e = Tables.embeddings(spark, sf)
    val c1 = Similarity.kmeansCentroids(e, 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toVector).toMap
    val c2 = Similarity.kmeansCentroids(e, 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toVector).toMap
    assert(c1.size == 8)
    assert(c1.values.forall(_.length == 64))
    // same init + same data → same centroids (tolerance: double-sum
    // merge order across partials is scheduler-dependent)
    assert(c1.keySet == c2.keySet)
    c1.foreach { case (k, v) =>
      v.lazyZip(c2(k)).foreach((a, b) => assert(math.abs(a - b) < 1e-9))
    }
  }

  test("bruteforce top-k: k rows per query, descending cosine, no self") {
    val df = q("q_ann_bruteforce").collect()
    df.groupBy(_.getAs[Long]("q_id")).foreach { case (qid, rows) =>
      assert(rows.length == 5)
      val cs = rows.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
      assert(!rows.exists(_.getAs[Long]("n_id") == qid))
    }
  }

  test("sign-band dedup blocking: candidates well below all-pairs, verify is exact") {
    val e = Tables.embeddings(spark, sf)
    val n = e.count()
    val allPairs = n * (n - 1) / 2
    val cands = Similarity.signBandCandidates(e)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // a random pair collides in a band with p = 2^-8; L=8 bands keeps
    // candidates a few percent of the pair space
    assert(cands.size < allPairs / 5,
      s"blocking degenerated: ${cands.size} candidates of $allPairs pairs")
    // exact-verify correctness: result == (all-pairs truth) ∩ candidates
    val ea = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
    val eb = e.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
    val truth = ea.join(eb, col("id_b") > col("id_a"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosineNative(col("ea"), col("eb")).as("cos"))
      .filter(col("cos") >= 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Similarity.embedNearDupLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == (truth & cands))
    info(s"candidates ${cands.size}/$allPairs, recall ${found.size}/${truth.size}")
  }

  test("IVF-cluster-blocked dedup: subset of truth, bounded candidates") {
    val e = Tables.embeddings(spark, sf)
    val n = e.count()
    val found = Similarity.embedNearDupIvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("cos")))
    // exact verify: every emitted pair genuinely clears the threshold
    found.foreach { case (_, _, c) => assert(c >= 0.4) }
    // subset of the global all-pairs truth
    val ea = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
    val eb = e.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
    val truth = ea.join(eb, col("id_b") > col("id_a"))
      .filter(Similarity.cosineNative(col("ea"), col("eb")) >= 0.4)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.map(p => (p._1, p._2)).toSet.subsetOf(truth))
    info(s"ivf-blocked recall ${found.size}/${truth.size} over $n vectors")
  }

  test("IVF dedup wide regime: the in-cell band cogroup emits exactly the band-colliding subset") {
    // wideThreshold = 0 forces the >20k-vector regime (in-cell sign-band
    // sub-blocking verified inside a cell cogroup) on the fixture, where
    // its contract is checkable against the narrow regime's full
    // in-cell truth: same cells (the per-(corpus, k) centroid cache),
    // so wide = { narrow pairs whose members share ≥1 sign-band key },
    // with bit-identical cosines.
    val narrow = Similarity.embedNearDupIvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("cos")))
    val wide = Similarity.embedNearDupIvf(spark, sf, wideThreshold = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("cos")))
    val keys = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map { r =>
        val e = r.getSeq[Float](1)
        r.getLong(0) -> Array.tabulate(8)(t =>
          (0 until 8).map(j => (if (e(8 * t + j) >= 0) 1 else 0) << j).sum)
      }.toMap
    val expect = narrow.filter { case (a, b, _) =>
      (0 until 8).exists(t => keys(a)(t) == keys(b)(t)) }
    assert(wide.map(p => (p._1, p._2)).toSet ==
      expect.map(p => (p._1, p._2)).toSet)
    val wmap = wide.map(p => (p._1, p._2) -> p._3).toMap
    expect.foreach { case (a, b, c) => assert(wmap((a, b)) == c) }
    info(s"wide-regime pairs ${wide.length} of ${narrow.length} in-cell truth pairs")
  }

  test("column-blocked dedup equals the in-block all-pairs truth") {
    val e = Tables.embeddings(spark, sf)
    val found = Similarity.embedNearDupBlocked(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = e.select(col("label"), col("vec_id").as("id_a"), col("embedding").as("ea"))
      .join(e.select(col("label"), col("vec_id").as("id_b"), col("embedding").as("eb")),
        Seq("label"))
      .filter(col("id_b") > col("id_a"))
      .filter(Similarity.cosineNative(col("ea"), col("eb")) >= 0.4)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(found == truth)
  }

  test("candidate distinct shuffles id pairs only — no array payload through an Aggregate") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.types.ArrayType
    val plans = Seq(
      Similarity.signBandCandidates(Tables.embeddings(spark, sf)),
      SparkEntry.queries("q_ann_lsh")(spark, sf))
    plans.foreach { df =>
      val aggs = df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }
      assert(aggs.nonEmpty, "expected a pair-distinct Aggregate in the plan")
      aggs.foreach { a =>
        assert(!a.output.exists(_.dataType.isInstanceOf[ArrayType]),
          s"embedding payload traveling through the distinct: ${a.output.map(_.name)}")
      }
    }
  }

  test("int8 quantization: codes bounded, error within half a step, exact round-trip of extremes") {
    val rows = q("q_embed_quantize").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val scale  = r.getAs[Double]("scale")
      val qMin   = r.getAs[Long]("q_min")
      val qMax   = r.getAs[Long]("q_max")
      val maxErr = r.getAs[Double]("max_err")
      assert(scale > 0.0) // random-float fixture has no zero vectors
      // |x| <= 127*scale by construction, so codes never clip
      assert(qMin >= -127 && qMax <= 127)
      // round-to-nearest: dequantization error is at most half a step
      assert(maxErr <= scale / 2.0 + 1e-15)
    }
    // the max-magnitude coordinate quantizes to exactly ±127 somewhere
    assert(rows.exists(r => r.getAs[Long]("q_min") == -127L ||
      r.getAs[Long]("q_max") == 127L))
  }

  test("quantized top-k: descending scores, high recall vs the float brute force") {
    val qz = q("q_ann_quantized").collect()
    qz.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rows) =>
      assert(rows.length == 5)
      val cs = rows.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Double]("qcos"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
    val truth = q("q_ann_bruteforce").collect()
      .groupBy(_.getAs[Long]("q_id"))
      .view.mapValues(_.map(_.getAs[Long]("n_id")).toSet).toMap
    val got = qz.groupBy(_.getAs[Long]("q_id"))
      .view.mapValues(_.map(_.getAs[Long]("n_id")).toSet).toMap
    val recalls = truth.keys.map(k => (truth(k) & got(k)).size.toDouble / truth(k).size)
    // int8 perturbs cosine by ~1e-3; neighbors separated less than that
    // can swap, everything else survives (measured 0.98 at sf0.01)
    assert(recalls.sum / recalls.size >= 0.7)
  }

  test("kNN classify: bounded-aggregate plan matches the naive window reference") {
    val k = 10
    val e = Tables.embeddings(spark, sf)
      .withColumn("nrm", Similarity.l2norm(col("embedding")))
    val labeled = e.filter(col("vec_id") % 5 =!= 0)
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
        col("nrm").as("n_nrm"), col("label").as("n_label"))
    val qs = e.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("label").as("true_label"))
    // reference: full row_number window over the scored cross product
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("cos").desc, col("n_id"))
    val ref = qs.crossJoin(broadcast(labeled))
      .withColumn("cos", Similarity.cosineFromNorms(col("embedding"),
        col("n_emb"), col("nrm"), col("n_nrm")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .groupBy(col("vec_id"), col("n_label")).agg(count(lit(1)).as("votes"))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("n_label"), col("votes")),
        struct(col("votes"), -col("n_label"))).as("p"))
      .select(col("vec_id"), col("p.n_label").cast("long").as("pred"),
        col("p.votes").as("votes"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = q("q_knn_classify").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("pred_label"), r.getAs[Long]("votes"))).toMap
    assert(got.nonEmpty)
    assert(got == ref)
    // and every vote count is within [1, k]
    got.values.foreach { case (_, v) => assert(v >= 1 && v <= k) }
  }

  test("IVF-pruned classify equals a plain-Scala recompute of the probed-cell semantics") {
    val k = 10; val nProbe = 4
    // raw data + the SAME trained centroids the operator uses
    val vecs = Tables.embeddings(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val cents = Similarity.trainedCentroids(spark, sf, Similarity.NumCentroids)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val cn = cents.map { case (id, c) => (id, c, nrmD(c)) }
    def cellOf(e: Array[Float]): Long =
      cn.maxBy { case (id, c, n) => (dotFD(e, c) / (nrmF(e) * n), -id) }._1
    val labeled = vecs.filter(_._1 % 5 != 0).map { case (id, e, l) => (id, e, l, cellOf(e)) }
    val expect = vecs.filter(_._1 % 5 == 0).map { case (qid, qe, _) =>
      val probes = cn.map { case (id, c, n) => (id, dotFD(qe, c) / (nrmF(qe) * n)) }
        .sortBy { case (id, cos) => (-cos, id) }.take(nProbe).map(_._1).toSet
      val top = labeled.filter(t => probes.contains(t._4))
        .map { case (nid, ne, nl, _) => (nid, nl, dotFF(qe, ne) / (nrmF(qe) * nrmF(ne))) }
        .sortBy { case (nid, _, cos) => (-cos, nid) }.take(k)
      val pred: Option[Long] =
        if (top.isEmpty) None // holdout-only probed cells → null prediction
        else Some(top.groupBy(_._2).view.mapValues(_.size).toSeq
          .maxBy { case (lab, votes) => (votes, -lab) }._1.toLong)
      qid -> pred
    }.toMap
    val rows = Similarity.knnClassifyIvf(spark, sf, k, 5, nProbe).collect()
    // EVERY holdout query surfaces — uncovered ones as explicit nulls
    assert(rows.length == expect.size)
    val got = rows.map(r => r.getAs[Long]("vec_id") ->
      (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got == expect)
  }

  test("IVF ANN top-k equals a plain-Scala recompute of the probed-cell semantics") {
    val k = 5; val nProbe = 4; val nQueries = 10
    val vecs = Tables.embeddings(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val cn = Similarity.trainedCentroids(spark, sf, Similarity.NumCentroids)
      .collect().map { r =>
        val c = r.getSeq[Double](1).toArray
        (r.getLong(0), c, nrmD(c))
      }
    def cellCos(e: Array[Float]): Seq[(Long, Double)] =
      cn.toSeq.map { case (id, c, n) => (id, dotFD(e, c) / (nrmF(e) * n)) }
    // a vector's cell: best cosine, ties to the lower c_id
    val cellOf = vecs.map { case (id, e) =>
      id -> cellCos(e).maxBy { case (cid, cos) => (cos, -cid) }._1 }.toMap
    val expect = vecs.filter(_._1 < nQueries).toSeq.sortBy(_._1).flatMap { case (qid, qe) =>
      // nProbe best cells by (cos desc, c_id asc), then the k best
      // non-self members of those cells by (cos desc, n_id asc)
      val probed = cellCos(qe).sortBy { case (cid, cos) => (-cos, cid) }
        .take(nProbe).map(_._1).toSet
      vecs.toSeq.filter { case (nid, _) => nid != qid && probed(cellOf(nid)) }
        .map { case (nid, ne) => (nid, dotFF(qe, ne) / (nrmF(qe) * nrmF(ne))) }
        .sortBy { case (nid, cos) => (-cos, nid) }.take(k)
        .zipWithIndex.map { case ((nid, cos), i) => (qid, i + 1L, nid, cos) }
    }
    val got = Similarity.ivfTopK(spark, sf, nQueries, k, nProbe).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(expect.length == nQueries * k)
    assert(got == expect)
  }

  test("IVF classify companion: every invariant boolean holds on the fixture") {
    val r = q("q_knn_classify_ivf_check").head()
    val holdout = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 5 === 0).count()
    assert(r.getAs[Long]("n_queries") == holdout)
    assert(r.getAs[Boolean]("nulls_accounted"))
    assert(r.getAs[Boolean]("agree_ok"))
    assert(r.getAs[Boolean]("coverage_ok"))
  }

  test("kNN self-routing: labeled count past the budget degrades to the IVF plan") {
    // Force BOTH regimes on the fixture via the injectable budget. The
    // default budget keeps the fixture (1.6k labeled) on the exact
    // all-pairs plan — pinned by the all-pairs-reference test above —
    // and a budget below the labeled count must re-route to EXACTLY the
    // knnClassifyIvf result (same k, same holdout, default probes), so
    // the exact API can never launch the unbounded NL join at scale.
    val k = 10
    val routed = Similarity.knnClassify(spark, sf, k, 5, maxExactLabeled = 100L)
      .collect().map(r => (r.getAs[Long]("vec_id"),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getAs[Long]("votes"))).toSeq
    val ivf = Similarity.knnClassifyIvf(spark, sf, k, 5)
      .collect().map(r => (r.getAs[Long]("vec_id"),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getAs[Long]("votes"))).toSeq
    assert(routed.nonEmpty)
    assert(routed == ivf)
    // and the exact regime (default budget) differs from a degenerate
    // empty answer AND carries every holdout query — the regime switch
    // is observable but both sides answer the same query set
    val exact = Similarity.knnClassify(spark, sf, k, 5)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(exact == routed.map(_._1).toSet)
    // covered-query agreement, same floor as the oracled companion
    // (Checks.knnIvfCheck agreeFloor = 0.25): fixture labels are random,
    // so absolute agreement is inherently modest — the pin is that the
    // pruned plan stays correlated with the exact one (measured 0.40 on
    // the fixture) rather than an independent classifier
    val exactPred = Similarity.knnClassify(spark, sf, k, 5).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("pred_label")).toMap
    val covered = routed.collect { case (id, Some(p), _) => id -> p }
    val agree = covered.count { case (id, p) => exactPred(id) == p }
    assert(covered.nonEmpty)
    assert(agree.toDouble / covered.size >= 0.3,
      s"covered-query agreement ${agree}/${covered.size} below 0.3")
  }

  test("clustered-regime PQ/IVFPQ recall: pool covers the cluster ⇒ near-perfect") {
    // the driver fixture is uniform — the sketches' documented worst
    // case. This pins the CLUSTERED regime (mixture of Gaussians, 50-
    // member clusters, within-cluster cos ≈ 0.86): when the rerank pool
    // covers the query's cluster population, ADC only has to find the
    // right neighborhood (coarse structure PQ preserves) and the exact
    // rerank orders it — recall ≥ 0.9 expected ≈ 1.0. SCALING.md r16
    // records the inverse regime too (3125-member clusters → recall
    // collapses beneath code resolution; pool is the governing knob).
    val dir = graft.Tuning.diskTmpDir("graft_clustered_spec_").toString
    Similarity.syntheticClusteredEmbeddings(spark, 20000L, 400, 400)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val truth = Similarity.bruteForceTopK(spark, dir)
      .select(col("q_id"), col("n_id")).localCheckpoint(true)
    val nTrue = truth.count()
    assert(nTrue == 50L)
    val pq = Similarity.pqTopK(spark, dir).select(col("q_id"), col("n_id"))
    val pqRecall = truth.intersect(pq).count().toDouble / nTrue
    assert(pqRecall >= 0.9, s"clustered PQ recall $pqRecall below 0.9")
    val ivfpq = Similarity.ivfPqTopK(spark, dir).select(col("q_id"), col("n_id"))
    val ivfpqRecall = truth.intersect(ivfpq).count().toDouble / nTrue
    assert(ivfpqRecall >= 0.9, s"clustered IVFPQ recall $ivfpqRecall below 0.9")
  }

  test("scala band keys are bit-identical to the column form in ALL THREE geometries") {
    // the bucket-cogroup dedup computes its (band, key) grouping keys
    // in-task (scalaBandKeysFor); the oracle and the wideband companion
    // pin the COLUMN form (signBandKeys), so the two must agree bit for
    // bit in the narrow (8 bands x 8 bits), wide (4 bands x 16 bits,
    // past SignWideThreshold), and xwide (6 overlapping bands x 24
    // bits, past SignXWideThreshold) geometries — the non-narrow
    // geometries otherwise only run on generated large corpora no spec
    // scans.
    for (geom <- Seq(0, 1, 2)) {
      val rows = Tables.embeddings(spark, sf)
        .select(col("embedding"),
          Similarity.signBandKeys(geom).as("keys")).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val emb = r.getSeq[Float](0).toArray
        val colKeys = r.getSeq[Int](1)
        val scalaKeys = Similarity.scalaBandKeysFor(emb, geom).toSeq
        assert(scalaKeys == colKeys, s"geom=$geom keys diverge: $scalaKeys vs $colKeys")
      }
    }
  }

  test("ADC classify regime: same query set and coverage, high agreement with the exact scan") {
    // Force the ADC regime on the fixture via the injectable labeled
    // budget (default keeps every fixture and the 200k decade on the
    // exact in-cell scan — bit-stable with prior rounds). Two pool
    // regimes: the production AUTO sizing (floor 256 ≥ the fixture's
    // ~100-member cells, so pools cover whole cells and the exact
    // rerank makes agreement exactly 1.0), and a deliberately
    // undersized pool=8 that genuinely engages the approximation (the
    // pool is the recall lever; coverage must stay scoring-independent
    // even when the approximation bites).
    val exact = Similarity.knnClassifyIvf(spark, sf)
      .collect().map(r => (r.getAs[Long]("vec_id"),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq
    for ((pool, floor, label) <- Seq((0, 1.0, "auto"), (8, 0.2, "pool=8"))) {
      val adc = Similarity.knnClassifyIvf(spark, sf, adcMinLabeled = 0L,
          adcPool = pool)
        .collect().map(r => (r.getAs[Long]("vec_id"),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq
      // identical query set AND identical coverage: whether a query's
      // probed cells hold labeled members is scoring-independent
      assert(adc.map(_._1) == exact.map(_._1))
      assert(adc.map(_._2.isDefined) == exact.map(_._2.isDefined))
      val both = adc.zip(exact).collect {
        case ((_, Some(a)), (_, Some(e))) => a == e }
      val agree = both.count(identity).toDouble / both.size
      assert(agree >= floor,
        f"ADC/exact agreement ($label) $agree%.3f below $floor")
      info(f"ADC/exact agreement ($label) $agree%.3f over ${both.size} covered")
    }
  }

  test("autoAdcPool: floor at fixture scale, cell-fraction at engaged scale, cap past the cell cap") {
    // fixture scale (16 cells, ~100-member cells): the floor covers
    // whole cells, making the ADC path exact there
    assert(Similarity.autoAdcPool(1600L, 16) == Similarity.KnnAdcPoolFloor)
    // gen1000x (1.6M labeled, √n cells): a constant 1/4 of the average
    // cell — the measured 0.83-agreement / 56 s operating point
    // (SCALING.md round 13)
    assert(Similarity.autoAdcPool(1600000L, 1265) == 317)
    // past the 4096-cell cap avgCell grows linearly; the cap bounds the
    // rerank and agreement becomes the deployment's explicit knob
    assert(Similarity.autoAdcPool(100000000L, 4096) == Similarity.KnnAdcPoolCap)
  }

  test("LSH and IVF ANN recall vs bruteforce is substantial on unclustered data") {
    val truth = q("q_ann_bruteforce").select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    for (name <- Seq("q_ann_lsh", "q_ann_ivf")) {
      val approx = q(name).select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (truth & approx).size.toDouble / truth.size
      // cluster-free random 64-dim embeddings: ~0.4-0.6 is the honest
      // regime for both sketches (see Similarity scaladoc)
      assert(recall >= 0.3, s"$name recall@5 = $recall")
    }
  }

  test("PQ codes: operator output equals a plain-Scala argmin recompute") {
    val cb = graft.ops.Similarity.pqCodebooks(spark, sf)
    assert(cb.length == graft.ops.Similarity.PqM &&
      cb.forall(_.length == graft.ops.Similarity.PqK))
    val got = graft.ops.Similarity.pqCodes(spark, sf)
      .filter(col("vec_id") < 20).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toVector).toMap
    val embs = Tables.embeddings(spark, sf).filter(col("vec_id") < 20)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(got.nonEmpty && got.keySet == embs.keySet)
    // independent recompute: normalize, per-subspace L2 argmin (first
    // minimum wins — the tie-break pqEncodeOne's strict < implements)
    for ((id, emb) <- embs) {
      val nrm = math.sqrt(emb.map(x => x.toDouble * x.toDouble).sum)
      val nv = emb.map(x => if (nrm == 0.0) 0.0 else x.toDouble / nrm)
      val ds = 64 / graft.ops.Similarity.PqM
      val want = (0 until graft.ops.Similarity.PqM).map { m =>
        val sub = nv.slice(m * ds, m * ds + ds)
        cb(m).zipWithIndex.map { case (c, k) =>
          (sub.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, k)
        }.minBy(x => (x._1, x._2))._2
      }.toVector
      assert(got(id) == want, s"vec $id: ${got(id)} != $want")
    }
  }

  test("append lifecycle: delta codes encode under FROZEN base codebooks; base ⊎ delta partitions the corpus") {
    val S = graft.ops.Similarity
    val cut = S.embedDeltaCut(spark, sf)
    val maxId = Tables.embeddings(spark, sf)
      .agg(org.apache.spark.sql.functions.max("vec_id")).head().getLong(0)
    assert(cut > 0 && cut <= maxId, s"degenerate append cut $cut (max vec $maxId)")
    val cbBase = S.pqCodebooksBase(spark, sf)
    // the add step: every delta code is pqEncodeOne under the BASE
    // codebooks — not under codebooks that saw the delta
    val deltaCodes = S.pqCodesDelta(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toVector).toMap
    assert(deltaCodes.nonEmpty && deltaCodes.keySet.forall(_ >= cut))
    val deltaEmbs = Tables.embeddings(spark, sf).filter(col("vec_id") >= cut)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(deltaCodes.keySet == deltaEmbs.keySet,
      "delta code sidecar does not cover exactly the appended slice")
    for ((id, emb) <- deltaEmbs.take(20))
      assert(deltaCodes(id) == S.pqEncodeOne(cbBase, emb).toVector,
        s"delta vec $id not encoded under the frozen base codebooks")
    // coverage: base ⊎ delta = corpus, disjoint
    val baseIds = S.pqCodesBase(spark, sf).collect().map(_.getLong(0)).toSet
    assert(baseIds.forall(_ < cut))
    assert((baseIds.size + deltaCodes.size).toLong ==
      Tables.embeddings(spark, sf).count())
    // the combined-store search has the proven shape: k rows per query,
    // rank-contiguous
    val res = q("q_ann_pq_delta").collect()
    val byQ = res.groupBy(_.getLong(0))
    assert(byQ.values.forall(_.length == 5))
    byQ.values.foreach(rows =>
      assert(rows.map(_.getLong(1)).sorted.toSeq == (1L to 5L)))
  }

  test("delete lifecycle: tombstones are exactly the near-dup losers; masked search never serves a dead vector") {
    val S = graft.ops.Similarity
    // tombstone rule: distinct greater id of each verified near-dup pair
    val pairs = q("q_dedup_embed").collect()
    val expectTomb = pairs.map(_.getAs[Long]("id_b")).toSet
    val tomb = S.embedTombstones(spark, sf).collect().map(_.getLong(0)).toSet
    assert(tomb == expectTomb, "tombstone sidecar is not the dedup loser set")
    assert(tomb.nonEmpty, "fixture has no planted near-dups — delete path vacuous")
    // survivor truth: same exact body, masked corpus — no dead query, no
    // dead neighbor, k rows per surviving query
    val live = q("q_ann_live").collect()
    assert(live.nonEmpty)
    live.foreach { r =>
      assert(!tomb.contains(r.getAs[Long]("q_id")), "dead query served")
      assert(!tomb.contains(r.getAs[Long]("n_id")), "dead neighbor served")
    }
    val nLiveQ = (0L until 10L).count(!tomb.contains(_))
    assert(live.map(_.getAs[Long]("q_id")).distinct.length == nLiveQ)
    // masked ADC search: same invariants, and its candidate store is
    // exactly corpus − tombstones (asserted again cross-engine by the
    // companion's mask_cover_ok)
    val pqLive = q("q_ann_pq_live").collect()
    pqLive.foreach { r =>
      assert(!tomb.contains(r.getAs[Long]("q_id")))
      assert(!tomb.contains(r.getAs[Long]("n_id")))
    }
    assert(pqLive.map(_.getAs[Long]("q_id")).distinct.length == nLiveQ)
    // companion verdict: every boolean true
    val v = q("q_ann_pq_live_check").collect().head
    assert(v.getAs[Boolean]("live_recall_ok"))
    assert(v.getAs[Boolean]("no_tomb_ok"))
    assert(v.getAs[Boolean]("mask_cover_ok"))
    assert(v.getAs[Long]("n_true") == 5L * nLiveQ)
  }

  test("PQ ANN: deterministic, schema-conformant, recall with rerank beats the floor") {
    val a = q("q_ann_pq").collect()
    val b = q("q_ann_pq").collect()
    assert(a.toSeq == b.toSeq, "PQ search must be deterministic")
    assert(a.length == 50, s"10 queries x top-5, got ${a.length}")
    assert(q("q_ann_pq").columns.toSeq == Seq("q_id", "rnk", "n_id", "cos"))
    val truth = q("q_ann_bruteforce").select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = a.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (truth & approx).size.toDouble / truth.size
    // 8x16 PQ on cluster-free random vectors is a coarse sketch; the
    // 16xk exact-rerank pool (free — the ADC scan is pool-independent)
    // pulls recall to 0.84-0.90 on the fixtures
    assert(recall >= 0.7, s"PQ recall@5 = $recall")
    // and the companion's booleans hold
    val chk = q("q_ann_pq_check").head()
    assert(chk.getLong(0) == 50 && chk.getBoolean(1) && chk.getBoolean(2))
  }

  test("IVF+PQ: candidates come only from probed cells, recall beats the composed floor") {
    val rows = q("q_ann_ivfpq").collect()
    assert(rows.nonEmpty && rows.length <= 50)
    assert(q("q_ann_ivfpq").columns.toSeq == Seq("q_id", "rnk", "n_id", "cos"))
    // determinism
    assert(rows.toSeq == q("q_ann_ivfpq").collect().toSeq)
    // every candidate's cell must be among its query's probed cells —
    // the pruning is real, not decorative
    val e = Tables.embeddings(spark, sf)
      .withColumn("nrm", graft.ops.Similarity.l2norm(col("embedding")))
    val cents = graft.ops.Similarity.trainedCentroids(spark, sf,
        graft.ops.Similarity.NumCentroids)
      .withColumn("c_nrm", graft.ops.Similarity.l2norm(col("c_emb")))
    val cellOf = graft.ops.Similarity.assignToCentroids(e, cents)
      .select("vec_id", "c_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val centRows = cents.collect().map { r =>
      (r.getLong(0), r.getSeq[Double](1).toArray)
    }
    val qEmb = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i) }
      if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    val probedOf = qEmb.map { case (qid, emb) =>
      val qd = emb.map(_.toDouble)
      qid -> centRows.map { case (cid, c) => (cos(qd, c), cid) }
        .sortBy { case (c, id) => (-c, id) }.take(8).map(_._2).toSet
    }
    rows.foreach { r =>
      val qid = r.getLong(0); val nid = r.getLong(2)
      assert(probedOf(qid).contains(cellOf(nid)),
        s"candidate $nid of query $qid came from an unprobed cell")
    }
  }

  test("range search equals a plain-Scala threshold scan and contains the top-k above tau") {
    val tau = 0.2
    val vecs = Tables.embeddings(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getSeq[Float](r.fieldIndex("embedding")).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val queries = vecs.filter(_._1 < 10)
    val want = (for {
      (qid, qe) <- queries; (nid, ne) <- vecs if nid != qid
      c = cos(qe, ne) if c >= tau
    } yield (qid, nid)).toSet
    val got = Similarity.rangeSearch(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id")))
    assert(got.toSet == want && got.length == want.size)
    // top-k rows above tau are range rows (family consistency)
    val topAbove = q("q_ann_bruteforce").collect()
      .filter(_.getAs[Double]("cos") >= tau)
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id")))
    assert(topAbove.forall(want.contains))
  }

  test("centroid classify: plain-Scala recompute of quantized prototypes and argmax agrees") {
    val rows = Tables.embeddings(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getSeq[Float](r.fieldIndex("embedding")).toArray,
        r.getAs[Int]("label").toLong))
    val labeled = rows.filter(_._1 % 5 != 0)
    val dim = rows.head._2.length
    val protos = labeled.groupBy(_._3).map { case (lab, members) =>
      lab -> Array.tabulate(dim) { i =>
        val m = members.map(_._2(i).toDouble).sum / members.size
        BigDecimal(m).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    def cosFD(a: Array[Float], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i).toDouble
        nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = rows.filter(_._1 % 5 == 0).map { case (id, e, trueLab) =>
      val (bestLab, _) = protos.toSeq
        .map { case (lab, c) => (lab, cosFD(e, c)) }
        .minBy { case (lab, c) => (-c, lab) }
      id -> (bestLab, trueLab)
    }.toMap
    val got = Similarity.centroidClassify(spark, sf).collect()
    assert(got.length == want.size) // one row per holdout query
    got.foreach { r =>
      val (plab, tlab) = want(r.getAs[Long]("vec_id"))
      assert(r.getAs[Long]("pred_label") == plab)
      assert(r.getAs[Long]("true_label") == tlab)
      assert(!r.getAs[Double]("score").isNaN)
    }
  }
}
