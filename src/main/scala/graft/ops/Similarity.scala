package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over embedding columns (north-star extensions):
  * brute-force cosine top-k as the exact baseline, and a random-hyperplane
  * LSH-bucketed variant as the scale path.
  *
  * Scale design: the query set is small and broadcast — the corpus never
  * shuffles for brute force. The LSH path buckets both sides on a 16-bit
  * signature equi-join key so candidate generation is a hash join over
  * ~1/65536 of the cross product per table, then exact-reranks candidates.
  */
/** One per-cell per-query candidate row surviving the IVF classifier's
  * local top-k ([[Similarity.cellScoredCandidates]]). TOP-LEVEL and
  * non-private deliberately: as a private nested class the Dataset
  * encoder's GENERATED deserializer could not reference it — every
  * execution logged a Janino "Failed to compile" and silently ran the
  * interpreted fallback (a failed whole-stage compile per run plus an
  * interpreted exec, repeated because compile failures are not cached). */
private[graft] case class ScoredCand(vec_id: Long, true_label: Long,
    ord1: Long, ord2: Long, lab: Double)

object Similarity {

  /** Elementwise-deterministic cosine: left-to-right double fold (same
    * IEEE evaluation order as the DuckDB oracle's list_sum fold, so
    * results are bit-exact across engines). Interpreted HOF shape — kept
    * as the dependency-free reference; the query paths use
    * [[cosineNative]] (identical fold order, whole-stage codegen). */
  def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    val ad = a.cast(ArrayType(DoubleType))
    val bd = b.cast(ArrayType(DoubleType))
    dot(ad, bd) / (sqrt(dot(ad, ad)) * sqrt(dot(bd, bd)))
  }

  /** Codegen'd cosine over graft.functions.DotProduct — bit-identical to
    * [[cosine]] (same multiply/add order). Requires Native.register on
    * the session. */
  def cosineNative(a: Column, b: Column): Column = {
    import graft.functions.Native
    Native.dot(a, b) / (sqrt(Native.dot(a, a)) * sqrt(Native.dot(b, b)))
  }

  /** L2 norm of an embedding — computed ONCE PER VECTOR by the rerank
    * paths below, instead of twice per candidate pair inside the cosine:
    * at 100 TB the rerank's dot products drop 3× (dot(a,b) only). Values
    * are bit-identical to [[cosineNative]] because the final expression
    * keeps the same shape: dot / (sqrt(A) * sqrt(B)). */
  def l2norm(e: Column): Column = {
    import graft.functions.Native
    sqrt(Native.dot(e, e))
  }

  /** Cosine from a raw dot product and precomputed per-side norms.
    * [[graft.functions.DotProduct]] dispatches each side's element type
    * natively, so float embeddings score with ZERO per-pair allocation —
    * the `cast(array<float> as array<double>)` the generic form used to
    * need allocated two 64-slot arrays per scored pair, which turned a
    * 64M-pair join GC-bound (measured 423 s cold → 6.6 s without it). */
  def cosineFromNorms(a: Column, b: Column, na: Column, nb: Column): Column = {
    import graft.functions.Native
    Native.dot(a, b) / (na * nb)
  }

  private def corpus(s: SparkSession, d: String): DataFrame = {
    graft.functions.Native.register(s)
    Tables.embeddings(s, d)
  }

  /** VECTOR TOMBSTONES — the delete half of the EMBEDDING store's
    * lifecycle (the text index gained its delete path the same round;
    * FAISS calls this `remove_ids`). The deleted set is the real
    * pipeline's, mirroring [[graft.ops.TextOps.tombstones]]: the
    * near-dup LOSERS of [[embedNearDupLsh]] — for every verified
    * near-dup pair the greater vec_id is a dedup removal (the lesser
    * survives as the pair's canonical representative; a vector that
    * loses any pairing is dead). Published as a content-addressed
    * sidecar: takedowns and dedup removals are corpus-snapshot facts
    * reads must not re-run the dedup pipeline to learn. */
  private[graft] def embedTombstones(s: SparkSession, d: String): DataFrame =
    Tables.dfArtifact(s, d, Seq("embeddings"), "embedTombstones:v1")(
      embedNearDupLsh(s, d).select(col("id_b").as("vec_id")).distinct())

  /** The survivor corpus: embeddings minus the tombstone set — one
    * broadcast anti-join (tombstones are dedup-loser METADATA, ≪ corpus),
    * the vector-side liveDocs mask. */
  private[graft] def liveVectors(s: SparkSession, d: String): DataFrame =
    corpus(s, d).join(broadcast(embedTombstones(s, d)), Seq("vec_id"), "left_anti")

  /** Exact brute-force top-k cosine neighbors for a small query set
    * (vec_id < nQueries), excluding self. Queries broadcast; per-query
    * top-k via window rank — at scale this is one corpus scan, no corpus
    * shuffle except the final tiny top-k rows. */
  def bruteForceTopK(s: SparkSession, d: String, nQueries: Int = 10,
      k: Int = 5): DataFrame =
    bruteForceTopKOn(corpus(s, d), nQueries, k)

  /** Brute-force truth over the SURVIVOR corpus (`q_ann_live`): the
    * tombstone mask applied to queries AND neighbors, then the identical
    * exact scoring body — "mask at read ≡ rebuild over survivors" for
    * vectors, value-oracled (the mask rule is the same sign-band pair
    * SQL as `q_dedup_embed`, so the oracle expresses the survivor set
    * exactly and the result hash-matches row for row). */
  def bruteForceTopKLive(s: SparkSession, d: String, nQueries: Int = 10,
      k: Int = 5): DataFrame =
    bruteForceTopKOn(liveVectors(s, d), nQueries, k)

  /** The one exact-scoring body behind [[bruteForceTopK]] and
    * [[bruteForceTopKLive]] — parameterized by the corpus relation so
    * the masked and unmasked reads cannot drift semantically. */
  private def bruteForceTopKOn(e0: DataFrame, nQueries: Int,
      k: Int): DataFrame = {
    val e = e0.withColumn("nrm", l2norm(col("embedding")))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        cosineFromNorms(col("q_emb"), col("embedding"),
          col("q_nrm"), col("nrm")).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk").cast(LongType).as("rnk"), col("n_id"), col("cos"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Threshold RANGE SEARCH — the "all neighbors above τ" dual of
    * top-k: every corpus vector whose cosine with a query meets the
    * threshold, exact. Same plan shape as [[bruteForceTopK]]: queries
    * broadcast, ONE corpus scan, and — unlike top-k — no window at all;
    * the τ-filter runs inside the scan projection, so the only rows
    * that ever shuffle are the matches themselves (presentation sort).
    * At 100 TB with a large query SET the same LSH/IVF candidate
    * generators bound the scan (a τ-threshold maps to a probe radius);
    * the exact form here is the truth this family's checks rerank
    * against. */
  def rangeSearch(s: SparkSession, d: String, nQueries: Int = 10,
      minCos: Double = 0.2): DataFrame = {
    val e = corpus(s, d).withColumn("nrm", l2norm(col("embedding")))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        cosineFromNorms(col("q_emb"), col("embedding"),
          col("q_nrm"), col("nrm")).as("cos"))
      .filter(col("cos") >= minCos)
      .orderBy(col("q_id"), col("n_id"))
  }

  /** Nearest-CLASS-CENTROID classification (Rocchio / prototype
    * classifier) — the cheap sibling of kNN every labeled-corpus
    * pipeline keeps around: one mean embedding per label, each holdout
    * query scored against the |labels| broadcast prototypes. Training
    * is a single partial-aggregating (label, pos) average — map-side
    * combined, |labels|×dim rows shuffle regardless of corpus size —
    * and inference is one scan with a broadcast of |labels| rows; at
    * any scale this is strictly lighter than kNN (no per-query
    * candidate set at all).
    *
    * Centroid coordinates are quantized to 6 decimals on BOTH engines
    * before scoring: a distributed double `avg` is summation-order
    * sensitive in its last bits, and the quantization absorbs that
    * (same DECIMAL-quantization precedent as BM25's per-term scores);
    * cosines over the identical quantized prototypes then match
    * bit-exactly. */
  def centroidClassify(s: SparkSession, d: String,
      holdoutMod: Int = 5): DataFrame = {
    val e = corpus(s, d)
    // the prototype table IS the shipped model artifact (a per-label
    // mean vector trained once per corpus snapshot) — build-once per
    // (session, corpus fingerprint) like the k-means centroids; the
    // labeled-mass explode+aggregate (|labeled|·dim rows — 102M at the
    // 2M decade) runs on the cold leg only, and the artifact itself is
    // nLabels tiny rows
    val protos = Tables.dfArtifact(s, d, Seq("embeddings"),
        s"centroidProtos:$holdoutMod")(
      e.filter(col("vec_id") % holdoutMod =!= 0)
        .select(col("label"), posexplode(col("embedding").cast(ArrayType(DoubleType))))
        .groupBy(col("label"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .withColumn("mq", round(col("m"), 6))
        .groupBy(col("label"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mq")))).as("pm"))
        .select(col("label").cast(LongType).as("c_label"),
          expr("transform(pm, x -> x.mq)").as("c_emb"))
        .withColumn("c_nrm", l2norm(col("c_emb"))))
    val q = e.filter(col("vec_id") % holdoutMod === 0)
      .withColumn("nrm", l2norm(col("embedding")))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("label").cast(LongType).as("true_label"))
    q.crossJoin(broadcast(protos))
      .withColumn("cos", cosineFromNorms(col("embedding"), col("c_emb"),
        col("nrm"), col("c_nrm")))
      .groupBy(col("vec_id"), col("true_label"))
      .agg(max_by(struct(col("c_label"), col("cos")),
        struct(col("cos"), -col("c_label"))).as("w"))
      .select(col("vec_id"), col("w.c_label").as("pred_label"),
        col("true_label"), col("w.cos").as("score"))
      .orderBy(col("vec_id"))
  }

  /** Multi-table random-hyperplane LSH. Each table hashes to a short
    * m-bit signature; a pair is a candidate if ANY table agrees exactly
    * (OR-construction). Planes are derived from a fixed seed — fully
    * deterministic, reproducible plans.
    *
    * Tuning for this corpus: true top-5 neighbors sit at cosine
    * 0.26-0.49 (θ≈60-75°, per-plane agreement p=1−θ/π ≈ 0.58-0.67), so
    * long signatures never collide. With m=7, L=24: per-table match
    * p^7, union recall ≈ 0.6-0.9 for true neighbors while a random pair
    * (p≈0.5) drags in ~17% of the corpus — the honest trade on
    * cluster-free data. On clustered production embeddings the same
    * operator sharpens dramatically; swap params per corpus. */
  val NumTables     = 24
  val PlanesPerTable = 7

  private def tablePlanes(dim: Int): IndexedSeq[Array[Array[Double]]] =
    (0 until NumTables).map { t =>
      val rnd = new scala.util.Random(42L + t)
      Array.fill(PlanesPerTable, dim)(rnd.nextGaussian())
    }

  /** All L table signatures for one embedding, as a tight JVM loop.
    * A pure-expression formulation of L×m plane dots builds a plan with
    * thousands of nodes (codegen blowup dominates runtime); a single UDF
    * evaluating the precomputed plane matrix is the faster shape here —
    * the signature is a rows-only sketch, never oracle-compared, so UDF
    * opacity costs nothing. */
  private def lshSigUdf(dim: Int) = {
    val ps = tablePlanes(dim).map(_.map(_.clone())).toArray
    udf { (emb: Seq[Float]) =>
      val v = emb.toArray
      val out = new Array[Int](NumTables)
      var t = 0
      while (t < NumTables) {
        var sig = 0
        var p = 0
        while (p < PlanesPerTable) {
          val plane = ps(t)(p)
          var dot = 0.0
          var i = 0
          val n = math.min(plane.length, v.length)
          while (i < n) { dot += v(i) * plane(i); i += 1 }
          if (dot >= 0) sig |= 1 << p
          p += 1
        }
        out(t) = sig
        t += 1
      }
      out
    }
  }

  /** ANN via multi-table LSH: explode each side into its L (table, sig)
    * bucket keys, equi-join on the key (hash join — never a cross
    * product), distinct candidates, exact cosine rerank, top-k. The
    * bucketed index is an L× row amplification of fixed-width keys — at
    * 100 TB it shuffles 24 longs per vector, not the vectors themselves
    * (embeddings travel only for surviving candidates). Approximate by
    * construction → rows-only check; SimilaritySpec measures recall
    * against [[bruteForceTopK]]. */
  def lshTopK(s: SparkSession, d: String, nQueries: Int = 10, k: Int = 5,
      dim: Int = 64): DataFrame = {
    val e = corpus(s, d)
    val en = e.select(col("vec_id"), col("embedding"),
      l2norm(col("embedding")).as("nrm"))
    val buckets = en
      .select(col("vec_id"), posexplode(lshSigUdf(dim)(col("embedding"))).as(Seq("t", "sig")))
    val qb = buckets.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("t"), col("sig"))
    // candidate ids first (the distinct shuffles 16-byte pairs only);
    // vectors join back AFTER — corpus side by equi-join, query side by
    // broadcast — so each surviving candidate moves its payload once
    val candIds = buckets.join(broadcast(qb), Seq("t", "sig"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"))
      .distinct()
    val q = en.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val cands = candIds
      .join(en.select(col("vec_id").as("n_id"),
        col("embedding"), col("nrm")), Seq("n_id"))
      .join(broadcast(q), Seq("q_id"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    cands.withColumn("cos", cosineFromNorms(col("q_emb"), col("embedding"),
        col("q_nrm"), col("nrm")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk").cast(LongType).as("rnk"), col("n_id"), col("cos"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Coarse-quantizer TRAINING: Lloyd's k-means over the corpus.
    * Init = deterministic seeded sample (lowest xxhash64(vec_id) via
    * TakeOrderedAndProject); each round broadcasts the centroids,
    * assigns every vector with the partial-aggregating max_by reduction,
    * and recomputes centroids as the elementwise mean (posexplode →
    * per-(centroid, dim) avg → rebuild array). Work per round is one
    * corpus scan + one k×dim-row aggregate — no iteration-growing
    * lineage (the tiny centroid table is collected and re-broadcast).
    * Empty clusters keep their previous centroid. */
  def kmeansCentroids(e: DataFrame, k: Int, iters: Int = 2): DataFrame = {
    // self-register the native functions: this entry point takes a raw
    // DataFrame (not a corpus dir), so callers — specs included — may
    // reach it before any corpus-loading path has registered them
    graft.functions.Native.register(e.sparkSession)
    val en = e.withColumn("nrm", l2norm(col("embedding")))
    var centroids = e
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("c_id"), col("embedding").cast(ArrayType(DoubleType)).as("c_emb"))
    for (_ <- 1 to iters) {
      val cn = centroids.withColumn("c_nrm", l2norm(col("c_emb")))
      val assigned = en.crossJoin(broadcast(cn))
        .withColumn("c_cos", cosineFromNorms(col("embedding"), col("c_emb"),
          col("nrm"), col("c_nrm")))
        .groupBy(col("vec_id"))
        .agg(first(col("embedding")).as("embedding"),
          max_by(col("c_id"), struct(col("c_cos"), -col("c_id"))).as("c_id"))
      val means = assigned
        .select(col("c_id"), posexplode(col("embedding").cast(ArrayType(DoubleType))))
        .groupBy(col("c_id"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .groupBy(col("c_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("c_id"), expr("transform(pm, x -> x.m)").as("c_emb"))
      // keep previous centroid for clusters that lost all members
      centroids = centroids.select(col("c_id"), col("c_emb").as("prev"))
        .join(means, Seq("c_id"), "left")
        .select(col("c_id"), coalesce(col("c_emb"), col("prev")).as("c_emb"))
        .localCheckpoint(true)
    }
    centroids
  }

  /** IVF (inverted-file) ANN — the clustered scale path alongside LSH.
    * Coarse quantizer: [[kmeansCentroids]] (Lloyd-trained from a seeded
    * deterministic init). Index: each corpus vector is assigned to its
    * nearest centroid (one broadcast pass, max_by reduction). Search:
    * each query probes its nProbe nearest centroid lists only —
    * candidates ≈ nProbe/NumCentroids of the corpus — then exact
    * cosine rerank. Approximate → rows-only check; SimilaritySpec
    * measures recall vs brute force. */
  val NumCentroids = 16

  /** Trained centroids stored per (corpus fingerprint, k) —
    * the production shape: a coarse quantizer is trained once per corpus
    * snapshot and REUSED by every index/search/dedup query against it,
    * not re-trained per query. The centroid table is k×dim doubles
    * (tiny), so it round-trips through the driver safely. */

  /** Coarse-quantizer TRAINING CAP (mirrors [[PqTrainCap]]): Lloyd's
    * rounds broadcast k centroids against every training row, so
    * training on the full corpus would cost n×k dots per round — at
    * 10⁹ vectors with √n cells that is the one quadratic left in the
    * index build. Capping the training sample (deterministic
    * `pmod(hash, n) < cap` — an EXPECTED size, like PQ's) bounds
    * training at cap×k while the actual index assignment stays one
    * full-corpus broadcast pass, which is the irreducible build cost.
    * Fixtures at/below the cap train on everything — behavior at the
    * driver's correctness scales is unchanged. */
  val KmTrainCap = 65536L

  def trainedCentroids(s: SparkSession, d: String, k: Int): DataFrame = {
    // freshness-keyed per (corpus fingerprint, k): regenerating the
    // fixture in place must retrain, not serve the old snapshot's model
    val rows = graft.Tables.corpusValue(d, Seq("embeddings"), s"centroids:$k") {
      val e = corpus(s, d)
      val n = e.count()
      val sample =
        if (n <= KmTrainCap) e
        else e.filter(pmod(xxhash64(col("vec_id")), lit(n)) < lit(KmTrainCap))
      kmeansCentroids(sample, k).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toVector)).toSeq
    }
    import s.implicits._
    rows.toDF("c_id", "c_emb")
  }

  /** Nearest-centroid assignment (the IVF index build) as ONE codegen'd
    * projection: the centroid table (bounded — k ≤ 4096 by the sizing
    * rule) collects to the driver and rides the scan as a constant
    * inside [[graft.functions.NearestCentroidId]], so the corpus is
    * read once and NOTHING shuffles. The earlier crossJoin +
    * max_by-aggregate shape pushed |corpus|·k rows (each carrying the
    * full embedding payload) through a hash aggregate — measured 55 s
    * at 200k×447, pure row machinery. Arithmetic, tie-break (lowest
    * c_id) and NaN semantics are bit-identical to the old
    * max_by(struct(c_cos, -c_id)) reduction. Expects `e` to carry a
    * precomputed `nrm` column and `centroids` a `c_nrm`; the output is
    * `e`'s columns plus `c_id` (carry columns ride through untouched,
    * so `carry` is accepted for API stability but no longer needed to
    * preserve them). */
  def assignToCentroids(e: DataFrame, centroids: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    val rows = centroids.select(col("c_id"), col("c_emb"), col("c_nrm"))
      .collect()
      .sortBy(_.getLong(0))
    val ids = rows.map(_.getLong(0))
    val embs = rows.map(_.getSeq[Double](1).toArray)
    val norms = rows.map(_.getDouble(2))
    // the expression captures the centroid constants, so it can't route
    // through the static Native.functions table — register a
    // content-addressed builder on the session instead (same registry
    // mechanism; the hash key makes re-registration idempotent and keeps
    // two coexisting centroid tables from colliding)
    val fname = "graft_nearest_centroid_" +
      ((scala.util.hashing.MurmurHash3.orderedHash(ids.toSeq) ^
        scala.util.hashing.MurmurHash3.orderedHash(norms.toSeq)) & 0x7fffffff)
    e.sparkSession.sessionState.functionRegistry.createOrReplaceTempFunction(
      fname,
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.NearestCentroidId(exprs(0), exprs(1), ids, embs, norms),
      "built-in")
    e.withColumn("c_id", call_function(fname, col("embedding"), col("nrm")))
  }

  /** Top-nProbe nearest cells per row as ONE codegen'd projection — the
    * probe-side sibling of [[assignToCentroids]]: the window shape
    * (crossJoin(broadcast(centroids)) → row_number ≤ nProbe) explodes
    * |rows|·|cells| embedding-wide rows through an exchange+sort to
    * answer with nProbe ids. Adds `c_ids` (best-first, ordering
    * bit-identical to the window's (c_cos desc, c_id asc)). */
  def topCentroidIds(e: DataFrame, centroids: DataFrame,
      nProbe: Int): DataFrame = {
    val rows = centroids.select(col("c_id"), col("c_emb"), col("c_nrm"))
      .collect()
      .sortBy(_.getLong(0))
    val ids = rows.map(_.getLong(0))
    val embs = rows.map(_.getSeq[Double](1).toArray)
    val norms = rows.map(_.getDouble(2))
    val fname = "graft_top_centroids_" +
      ((scala.util.hashing.MurmurHash3.orderedHash(ids.toSeq) ^
        scala.util.hashing.MurmurHash3.orderedHash(norms.toSeq) ^
        nProbe) & 0x7fffffff)
    e.sparkSession.sessionState.functionRegistry.createOrReplaceTempFunction(
      fname,
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.NearestCentroidIds(exprs(0), exprs(1), ids, embs, norms, nProbe),
      "built-in")
    e.withColumn("c_ids", call_function(fname, col("embedding"), col("nrm")))
  }

  def ivfTopK(s: SparkSession, d: String, nQueries: Int = 10, k: Int = 5,
      nProbe: Int = 4): DataFrame = {
    val e = corpus(s, d).withColumn("nrm", l2norm(col("embedding")))
    val centroids = trainedCentroids(s, d, NumCentroids)
      .withColumn("c_nrm", l2norm(col("c_emb")))
    val assigned = assignToCentroids(e, centroids)
    // search: queries probe their nProbe nearest centroid lists
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("c_cos").desc, col("c_id"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("c_cos", cosineFromNorms(col("q_emb"), col("c_emb"),
        col("q_nrm"), col("c_nrm")))
      .withColumn("prnk", row_number().over(wProbe))
      .filter(col("prnk") <= nProbe)
      .select(col("q_id"), col("q_emb"), col("q_nrm"), col("c_id"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    assigned.join(broadcast(probes), Seq("c_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("q_emb"), col("q_nrm"),
        col("vec_id").as("n_id"), col("embedding"), col("nrm"))
      .withColumn("cos", cosineFromNorms(col("q_emb"), col("embedding"),
        col("q_nrm"), col("nrm")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk").cast(LongType).as("rnk"), col("n_id"), col("cos"))
      .orderBy(col("q_id"), col("rnk"))
  }

  // ---------------- Product quantization (PQ) ANN ----------------

  /** PQ geometry: 64 dims → [[PqM]]=8 subspaces of 8 dims, [[PqK]]=16
    * codes per subspace (4 bits). A vector compresses to 8 nibbles —
    * 4 bytes instead of 256 — which is the technique's point at 100 TB:
    * the ANN scan reads a 4-byte code column, not the embedding column,
    * a 64× scan-width reduction on top of any cell pruning (public
    * method: Jégou/Douze/Schmid, "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011). */
  val PqM = 8
  val PqK = 16

  /** Per-corpus PQ codebooks, `cb(m)(k)` = the 8-dim centroid for code k
    * of subspace m — trained ONCE per corpus and cached like
    * [[trainedCentroids]] (the table is 8×16×8 doubles, trivially
    * driver-held and closure-shipped).
    *
    * Training is Lloyd's per subspace, all M subspaces in ONE pass per
    * round: explode each (deterministically hash-sampled to
    * approximately [[PqTrainCap]] — the `pmod(hash, n) < cap` filter
    * yields an EXPECTED size, not an exact bound)
    * normalized vector into its (m, subvector) rows, assign each row to
    * its L2-nearest code of ITS OWN subspace's codebook (broadcast join
    * on m + min_by — partial-aggregating, no sort), recompute each
    * (m, k) centroid as the elementwise mean. Init = the subvectors of
    * the [[PqK]] lowest-hash sampled vectors (same seeded-sample shape
    * as [[kmeansCentroids]]); empty codes keep their previous centroid.
    * Vectors are L2-NORMALIZED before training and encoding, so the ADC
    * inner product approximates cosine directly.
    *
    * DETERMINISM is per-JVM, not per-run (same caveat as
    * [[kmeansCentroids]]): the centroid update is a distributed `avg()`
    * over doubles, so float summation order — hence the trained
    * codebook's last bits — can differ across JVMs/partitionings. The
    * cache pins one codebook per JVM (codes, check, and recall all see
    * the same one); cross-run stability is by recall-floor margin, not
    * bit-identical codes. */
  val PqTrainCap = 65536L

  private[graft] def pqCodebooks(s: SparkSession, d: String): Array[Array[Array[Double]]] =
    graft.Tables.corpusValue(d, Seq("embeddings"), "pqCodebooks") {
      trainPqCodebooks(s, corpus(s, d), d)
    }

  /** The Lloyd's training body behind [[pqCodebooks]], parameterized by
    * the training slice — the full corpus for the one-shot build, the
    * BASE slice for the append lifecycle ([[pqCodebooksBase]]), where
    * appended vectors must encode under codebooks FROZEN at the base
    * snapshot (the FAISS train-once / add-many contract). */
  private def trainPqCodebooks(s: SparkSession, e: DataFrame,
      label: String): Array[Array[Array[Double]]] = {
      val ds = 64 / PqM
      val n = e.count()
      val sampled =
        if (n <= PqTrainCap) e
        else e.filter(pmod(xxhash64(col("vec_id")), lit(n)) < lit(PqTrainCap))
      val en = sampled
        .withColumn("nrm", l2norm(col("embedding")))
        .withColumn("nemb", expr(
          "transform(embedding, x -> CASE WHEN nrm = 0 THEN 0.0D ELSE CAST(x AS DOUBLE) / nrm END)"))
        .select(col("vec_id"), col("nemb"))
      // init: subvectors of the PqK lowest-hash sampled vectors; a tiny
      // corpus (< PqK vectors) wraps around rather than out-of-bounds —
      // duplicate init centroids are legal Lloyd's input (empty codes
      // keep their previous centroid, see the round loop)
      val seed = en.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(PqK)
        .select(col("nemb")).collect()
        .map(_.getSeq[Double](0).toArray)
      require(seed.nonEmpty, s"PQ training needs at least one vector in $label")
      var cb: Array[Array[Array[Double]]] =
        Array.tabulate(PqM, PqK)((m, k) =>
          seed(k % seed.length).slice(m * ds, m * ds + ds))
      val subRows = en.select(col("vec_id"), explode(array(
          (0 until PqM).map(m => struct(lit(m).as("m"),
            slice(col("nemb"), m * ds + 1, ds).as("sub"))): _*)).as("e"))
        .select(col("vec_id"), col("e.m").as("m"), col("e.sub").as("sub"))
        .localCheckpoint(true)   // two Lloyd rounds re-read it; never re-derive
      for (_ <- 1 to 2) {
        import s.implicits._
        val cbDf = cb.zipWithIndex.flatMap { case (codes, m) =>
          codes.zipWithIndex.map { case (c, k) => (m, k, c.toSeq) }
        }.toSeq.toDF("m", "k", "c_sub")
        val dist = graft.functions.Native.dot(col("sub"), col("sub")) -
          lit(2.0) * graft.functions.Native.dot(col("sub"), col("c_sub")) +
          graft.functions.Native.dot(col("c_sub"), col("c_sub"))
        val assigned = subRows.join(broadcast(cbDf), Seq("m"))
          .groupBy(col("vec_id"), col("m"))
          .agg(first(col("sub")).as("sub"),
            min_by(col("k"), struct(dist, col("k"))).as("k"))
        val means = assigned
          .select(col("m"), col("k"), posexplode(col("sub")))
          .groupBy(col("m"), col("k"), col("pos"))
          .agg(avg(col("col")).as("v"))
          .collect()
        val next = cb.map(_.map(_.clone()))
        means.foreach { r =>
          next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
        }
        cb = next
      }
      cb
    }

  /** PQ encoder (the index build): normalized vector → [[PqM]] 4-bit
    * codes, each the L2-nearest codebook entry of its subspace. A UDF
    * over the closure-shipped codebooks, same justification as
    * [[lshSigUdf]]: the code is a rows-only sketch, never
    * oracle-compared, and the tight JVM loop beats a thousand-node
    * expression tree. Exposed for the spec's plain-Scala parity check. */
  private[graft] def pqEncodeOne(cb: Array[Array[Array[Double]]],
      emb: Seq[Float]): Array[Int] = {
    val ds = cb(0)(0).length
    var nrm = 0.0
    emb.foreach(x => nrm += x.toDouble * x.toDouble)
    nrm = math.sqrt(nrm)
    val v = emb.toArray
    Array.tabulate(cb.length) { m =>
      var bestK = 0
      var bestD = Double.MaxValue
      var k = 0
      while (k < cb(m).length) {
        val c = cb(m)(k)
        var dd = 0.0
        var i = 0
        while (i < ds) {
          val x = if (nrm == 0.0) 0.0 else v(m * ds + i).toDouble / nrm
          val diff = x - c(i)
          dd += diff * diff
          i += 1
        }
        if (dd < bestD) { bestD = dd; bestK = k }
        k += 1
      }
      bestK
    }
  }

  /** (vec_id, codes) for the whole corpus. At 100 TB this IS the index
    * table, materialized once next to the embeddings and re-read by
    * every search (4 bytes/vector) — so it is a build-once corpus
    * artifact here too (fingerprint-keyed, like the dedup pair index):
    * the r13 gen1000x sweep caught every ivfpq execution re-encoding
    * the 2M-vector corpus through the boxed UDF (~30 s/iteration on
    * that host), exactly the per-query derivation the 100 TB story
    * says not to do. Cold carries the one encode pass; warm reads the
    * ~4-byte-per-vector checkpoint. */
  private[graft] def pqCodes(s: SparkSession, d: String): DataFrame =
    // parquet-sidecar-persisted (round 14): with the codebook already a
    // disk sidecar, the code TABLE was the remaining per-JVM encode
    // pass — a cold JVM now reads 4 bytes/vector instead of pushing the
    // whole corpus through the boxed encode UDF
    Tables.dfArtifact(s, d, Seq("embeddings"), "pqCodes") {
      val cb = pqCodebooks(s, d)
      val enc = udf((emb: Seq[Float]) => pqEncodeOne(cb, emb))
      corpus(s, d).select(col("vec_id"), enc(col("embedding")).as("codes"))
    }

  /** Vec-id cut for the embedding APPEND lifecycle: the last ~10% of
    * vec_ids are "added since the base snapshot" — same fraction and
    * same snapshot framing as [[graft.ops.TextOps.indexDeltaCut]]. */
  private[graft] def embedDeltaCut(s: SparkSession, d: String): Long = {
    val mx = graft.Tables.corpusValue[java.lang.Long](d, Seq("embeddings"), "maxVecId") {
      java.lang.Long.valueOf(
        corpus(s, d).agg(max(col("vec_id"))).head().getLong(0))
    }.longValue
    math.max(1L, (mx + 1) * 9 / 10)
  }

  /** Codebooks trained ONLY on the base slice and FROZEN there — the
    * FAISS `train` half of train-once/add-many. The append path never
    * retrains; staleness is the documented trade: appended vectors are
    * quantized by cells fitted to the base distribution, so recall on
    * the combined store degrades only as far as the append drifts from
    * that distribution (the companion pins the floor). */
  private[graft] def pqCodebooksBase(s: SparkSession, d: String): Array[Array[Array[Double]]] = {
    val cut = embedDeltaCut(s, d)
    graft.Tables.corpusValue(d, Seq("embeddings"), s"pqCodebooksBase:lt=$cut") {
      trainPqCodebooks(s, corpus(s, d).filter(col("vec_id") < cut), s"$d base<$cut")
    }
  }

  /** Base-slice code sidecar: base vectors encoded under the frozen
    * base codebooks — the index as published at the snapshot. */
  private[graft] def pqCodesBase(s: SparkSession, d: String): DataFrame = {
    val cut = embedDeltaCut(s, d)
    Tables.dfArtifact(s, d, Seq("embeddings"), s"pqCodesBase:lt=$cut") {
      val cb = pqCodebooksBase(s, d)
      val enc = udf((emb: Seq[Float]) => pqEncodeOne(cb, emb))
      corpus(s, d).filter(col("vec_id") < cut)
        .select(col("vec_id"), enc(col("embedding")).as("codes"))
    }
  }

  /** The FAISS `add` step (`q_ann_pq_delta`'s O(delta) half): encode
    * ONLY the appended vectors, under the FROZEN base codebooks, into
    * their own code sidecar. The build scans the delta slice (vec_id
    * range predicate pushes to the parquet scan) and reads the codebook
    * constant — nothing touches the base vectors or their codes, which
    * is what makes appending to a 100 TB embedding index affordable:
    * add cost ∝ appended rows, retrain cost ∝ corpus. */
  private[graft] def pqCodesDelta(s: SparkSession, d: String): DataFrame = {
    val cut = embedDeltaCut(s, d)
    Tables.dfArtifact(s, d, Seq("embeddings"), s"pqCodesDelta:ge=$cut") {
      val cb = pqCodebooksBase(s, d)
      val enc = udf((emb: Seq[Float]) => pqEncodeOne(cb, emb))
      corpus(s, d).filter(col("vec_id") >= cut)
        .select(col("vec_id"), enc(col("embedding")).as("codes"))
    }
  }

  /** ANN SEARCH OVER THE APPENDED STORE (`q_ann_pq_delta`): the same
    * ADC+rerank body as [[pqTopK]] fed base ⊎ delta codes and the
    * frozen base codebooks — vectors added after the snapshot are
    * searchable WITHOUT retraining or re-encoding the base (FAISS
    * `IndexIVFPQ.add` economics). Approximate by construction →
    * rows-only; `q_ann_pq_delta_check` pins the combined-store recall
    * floor against the oracled brute-force truth plus exact-coverage
    * invariants (base ⊎ delta partitions the corpus, no vector lost or
    * doubled). */
  def pqTopKDelta(s: SparkSession, d: String, nQueries: Int = 10, k: Int = 5,
      pool: Int = 16): DataFrame =
    pqTopKWith(s, d, pqCodebooksBase(s, d),
      pqCodesBase(s, d).unionByName(pqCodesDelta(s, d)), nQueries, k, pool)

  /** ANN SEARCH OVER THE APPENDED-AND-DELETED STORE (`q_ann_pq_live`) —
    * the full mutation lifecycle composed: base codes ⊎ delta codes
    * (FAISS `add`, frozen codebooks) ⊖ tombstones (FAISS `remove_ids`),
    * searched through the identical ADC+rerank body. The mask is ONE
    * broadcast anti-join on the 4-byte code table before the ADC scan —
    * dead vectors never enter a heap, the rerank join, or a result; no
    * code rewrite, no re-encode, no retrain (Lucene's liveDocs
    * economics applied to vectors: a delete costs a sidecar row).
    * Queries draw from the survivor corpus too (a deleted vector can't
    * ask questions). Approximate by construction → rows-only;
    * `q_ann_pq_live_check` pins recall against the value-ORACLED
    * survivor truth (`q_ann_live`) plus the zero-tombstones-served and
    * mask-cardinality invariants. */
  def pqTopKLive(s: SparkSession, d: String, nQueries: Int = 10, k: Int = 5,
      pool: Int = 16): DataFrame =
    pqTopKWith(s, d, pqCodebooksBase(s, d),
      pqCodesBase(s, d).unionByName(pqCodesDelta(s, d))
        .join(broadcast(embedTombstones(s, d)), Seq("vec_id"), "left_anti"),
      nQueries, k, pool, Some(liveVectors(s, d)))

  /** PQ ANN search with ADC (asymmetric distance computation) + exact
    * rerank. The queries' per-(subspace, code) inner-product lookup
    * tables (nQueries × M × K doubles — tiny) are computed driver-side
    * from the trained codebooks and closure-shipped; the corpus-wide
    * scoring pass then reads ONLY the 4-byte code column and sums M
    * table lookups per (vector, query) — never touching the embedding
    * column. Per-partition bounded heaps (pool·k per query, approx-desc
    * with id tie-break) reduce each task to its candidate slice, a
    * global window over the ≤ partitions·pool·k·nQueries surviving rows
    * picks the rerank pool, and the exact cosine rerank joins embedding
    * payloads back by id for pool members only — the same
    * ids-first-payloads-later discipline as [[lshTopK]]. Approximate by
    * construction → rows-only; `q_ann_pq_check` pins the recall floor
    * vs the oracled brute force, and the spec pins encode parity.
    *
    * POOL SIZING: the ADC scan cost is pool-INDEPENDENT (the heaps and
    * rerank grow, the corpus pass doesn't), so the rerank pool is the
    * free recall lever — measured on the cluster-free fixtures (the
    * sketch's worst case): pool 4 → 0.44 recall@5, 8 → 0.64-0.74,
    * 16 → 0.84-0.90, 32 → 0.96, all at the same ~1.4 s warm wall
    * (tools/Drive pqRecall). Default 16 clears the companion's 0.7
    * floor with margin while keeping the rerank join at 80 ids/query;
    * at 100 TB pool·k rows per query is still negligible next to the
    * code scan. */
  def pqTopK(s: SparkSession, d: String, nQueries: Int = 10, k: Int = 5,
      pool: Int = 16): DataFrame =
    pqTopKWith(s, d, pqCodebooks(s, d), pqCodes(s, d), nQueries, k, pool)

  /** The ADC+rerank body behind [[pqTopK]], parameterized by codebooks
    * and code table — one scoring plan for the one-shot index and the
    * base ⊎ delta appended store ([[pqTopKDelta]]), so the append
    * lifecycle's search semantics cannot drift from the proven path. */
  private def pqTopKWith(s: SparkSession, d: String,
      cb: Array[Array[Array[Double]]], codes: DataFrame,
      nQueries: Int, k: Int, pool: Int,
      corpusDf: Option[DataFrame] = None): DataFrame = {
    import s.implicits._
    val ds = cb(0)(0).length
    val e = corpusDf.getOrElse(corpus(s, d))
      .withColumn("nrm", l2norm(col("embedding")))
    // bounded collect (precedent: trainedCentroids) — the query set is
    // nQueries rows by construction
    val qRows = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding"), col("nrm")).collect()
      .map { r =>
        val id = r.getLong(0)
        val emb = r.getSeq[Float](1)
        val nrm = r.getDouble(2)
        val lut = Array.tabulate(PqM, PqK) { (m, kk) =>
          var acc = 0.0
          var i = 0
          while (i < ds) {
            val x = if (nrm == 0.0) 0.0 else emb(m * ds + i).toDouble / nrm
            acc += x * cb(m)(kk)(i)
            i += 1
          }
          acc
        }
        (id, lut)
      }
    val heapCap = pool * k
    val scored = codes.as[(Long, Seq[Int])].mapPartitions { it =>
      // one bounded (approx-desc, id-asc) heap per query, per partition
      val heaps = qRows.map { case (qid, _) =>
        qid -> scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
          Ordering.by[(Double, Long), (Double, Long)] { case (sc, id) => (-sc, id) })
      }.toMap
      it.foreach { case (vid, codes) =>
        qRows.foreach { case (qid, lut) =>
          if (vid != qid) {
            var acc = 0.0
            var m = 0
            while (m < PqM) { acc += lut(m)(codes(m)); m += 1 }
            val h = heaps(qid)
            if (h.size < heapCap) h.enqueue((acc, vid))
            else {
              val worst = h.head // max of PQ under inverted ordering = worst kept
              if (acc > worst._1 || (acc == worst._1 && vid < worst._2)) {
                h.dequeue(); h.enqueue((acc, vid))
              }
            }
          }
        }
      }
      heaps.iterator.flatMap { case (qid, h) =>
        h.iterator.map { case (sc, vid) => (qid, vid, sc) }
      }
    }.toDF("q_id", "n_id", "approx")
    val wPool = Window.partitionBy(col("q_id"))
      .orderBy(col("approx").desc, col("n_id"))
    val candIds = scored.withColumn("prnk", row_number().over(wPool))
      .filter(col("prnk") <= heapCap)
      .select(col("q_id"), col("n_id"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    candIds
      .join(e.select(col("vec_id").as("n_id"), col("embedding"), col("nrm")),
        Seq("n_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("cos", cosineFromNorms(col("q_emb"), col("embedding"),
        col("q_nrm"), col("nrm")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk").cast(LongType).as("rnk"), col("n_id"), col("cos"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** IVF+PQ — the two scale paths COMPOSED, the published billion-scale
    * index layout (FAISS IVFPQ; Jégou et al. 2011 §IV): the coarse
    * quantizer prunes the corpus to the query's nProbe nearest cells,
    * and WITHIN probed cells the scan reads 4-byte PQ codes instead of
    * 256-byte embeddings, scored by the same ADC lookup tables as
    * [[pqTopK]]. At 100 TB the multiplicative effect is the point:
    * nProbe/nCells of the corpus touched × 64× narrower rows touched,
    * then the exact rerank joins full payloads for the pool only.
    * Candidates are output-sensitive (cell-pruned) rows, the ADC score
    * is one UDF over the closure-shipped per-query tables (sketch-only,
    * never oracle-compared — the [[lshSigUdf]] justification), and the
    * tail is the shared pool-window + rerank shape. Recall compounds
    * the two sketches' losses; `q_ann_pq_check` pins both floors.
    *
    * TUNING (tools/Drive pqRecall, cluster-free fixtures): the wide
    * pool recovers the code-distortion loss but NOT the cell-pruning
    * loss — (nProbe=4, pool=32) plateaus at 0.42-0.60 recall@5 where
    * PQ-alone reaches 0.96; multi-probe is what moves it, and a wider
    * rerank pool is nearly free (320 full-precision candidates per
    * query). Measured recall@5 at (nProbe=8, pool=64): 0.74 (sf0.1) /
    * 0.84+ (sf0.01, sf0.001) — floor 0.6 with margin. The 8-of-16
    * probe fraction is a FIXTURE artifact: the coarse quantizer is
    * pinned at NumCentroids=16 for bit-stability, while production
    * sizing is √n cells, where 8 probes of √n cells stays highly
    * selective (8/√n of the corpus scanned, at 4-byte code width). */
  def ivfPqTopK(s: SparkSession, d: String, nQueries: Int = 10, k: Int = 5,
      nProbe: Int = 8, pool: Int = 64): DataFrame = {
    val cb = pqCodebooks(s, d)
    val ds = cb(0)(0).length
    val e = corpus(s, d).withColumn("nrm", l2norm(col("embedding")))
    val centroids = trainedCentroids(s, d, NumCentroids)
      .withColumn("c_nrm", l2norm(col("c_emb")))
    val assigned = assignToCentroids(e, centroids)
      .select(col("vec_id"), col("c_id"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("c_cos").desc, col("c_id"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("c_cos", cosineFromNorms(col("q_emb"), col("c_emb"),
        col("q_nrm"), col("c_nrm")))
      .withColumn("prnk", row_number().over(wProbe))
      .filter(col("prnk") <= nProbe)
      .select(col("q_id"), col("c_id"))
    // per-query ADC tables, keyed by q_id (bounded collect, as in pqTopK)
    val luts: Map[Long, Array[Array[Double]]] = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding"), col("nrm")).collect()
      .map { r =>
        val emb = r.getSeq[Float](1)
        val nrm = r.getDouble(2)
        r.getLong(0) -> Array.tabulate(PqM, PqK) { (m, kk) =>
          var acc = 0.0
          var i = 0
          while (i < ds) {
            val x = if (nrm == 0.0) 0.0 else emb(m * ds + i).toDouble / nrm
            acc += x * cb(m)(kk)(i)
            i += 1
          }
          acc
        }
      }.toMap
    val adc = udf { (qid: Long, codes: Seq[Int]) =>
      val lut = luts(qid)
      var acc = 0.0
      var m = 0
      while (m < PqM) { acc += lut(m)(codes(m)); m += 1 }
      acc
    }
    val wPool = Window.partitionBy(col("q_id"))
      .orderBy(col("approx").desc, col("n_id"))
    val candIds = assigned.join(broadcast(probes), Seq("c_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .join(pqCodes(s, d), Seq("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        adc(col("q_id"), col("codes")).as("approx"))
      .withColumn("prnk", row_number().over(wPool))
      .filter(col("prnk") <= pool * k)
      .select(col("q_id"), col("n_id"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    candIds
      .join(e.select(col("vec_id").as("n_id"), col("embedding"), col("nrm")),
        Seq("n_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("cos", cosineFromNorms(col("q_emb"), col("embedding"),
        col("q_nrm"), col("nrm")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk").cast(LongType).as("rnk"), col("n_id"), col("cos"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Sign-band LSH for near-dup blocking: band t packs the sign bits of
    * embedding coordinates [mt, mt+m) into an m-bit bucket key — random-
    * hyperplane LSH with axis-aligned hyperplanes. Two properties make
    * this the DEDUP blocker (vs the gaussian-plane [[lshSigUdf]] used for
    * ANN): the key is a pure column expression (codegen'd, no UDF), and
    * it is exactly mirrorable in portable SQL, so the blocked-dedup
    * semantics are oracle-checkable end to end. L=8 tables x m=8 bits
    * covers all 64 dims; a random pair collides in a band with p=2^-8,
    * so candidates ~ L/256 ≈ 3% of all pairs (measured 3.9k of 125k at
    * sf0.01) while sign-correlated near-dups collide with p^m, p=1-θ/π. */
  val SignBands   = 8
  val SignBitsPerBand = 8

  /** Corpus size above which the blocker COMPOSES adjacent bands into
    * L=4 tables of 16 bits: expected random collisions are L·n²/2^m
    * pairs, so 8×8-bit banding is quadratic-with-a-small-constant —
    * fine at fixture scale (measured ~3% of pairs at sf0.01), a wall
    * at 200k uniform vectors (≈625M candidate pairs, measured 450 s).
    * Composed 16-bit keys cut random collisions 256× while true
    * near-dups (cos ≥ 0.99 planted copies: p_bit ≈ 0.97) still collide
    * in ≥1 of the 4 wide bands with p ≈ 0.98. Below the threshold the
    * 8×8 geometry is kept so driver-scale results stay bit-stable. */
  val SignWideThreshold = 20000L

  /** Corpus size above which the blocker switches to the THIRD
    * geometry, L=6 OVERLAPPING bands × 24 bits (round 16 — the
    * candidate-geometry knob demonstrated at the 2M-vector decade):
    * expected random collisions are L·n²/2^m, so the 4×16 geometry that
    * holds ~2.4M candidates at 200k vectors holds ~240M at 2M — the
    * r15 dashboard's 13.9× decade step IS that term emerging. Scaling
    * the band width with the corpus (m: 16 → 24 adds 8 bits = 256× on
    * the collision constant) holds the candidate volume at the 2M
    * decade to ~1.4M — BELOW the 200k decade's — per the design rule
    * "per-task candidates held ~constant". 64 sign bits cannot
    * partition into 6×24, so bands SAMPLE overlapping 24-dim windows at
    * offsets ⌊t·64/6⌋ (wrapping) — the standard LSH move of banding
    * over sampled bits rather than a partition; overlap correlates
    * bands, which only raises same-key recall. Recall floor: a
    * cos ≥ 0.99 near-dup (p_bit ≈ 0.955 uniform) collides in ≥1 band
    * with p ≈ 1−(1−0.955²⁴)⁶ ≈ 0.91, and sign-stable copies with
    * p = 1 — the regime the forced-geometry companion booleans pin;
    * moderate-cos pairs are deliberately lossier still, the documented
    * blocker contract. */
  val SignXWideThreshold = 1000000L
  private val SignXBands = 6
  private val SignXBitsPerBand = 24
  private val SignXOffsets = Array.tabulate(SignXBands)(t => t * 64 / SignXBands)

  /** Geometry picker: 0 = narrow 8×8, 1 = wide 4×16 (past
    * [[SignWideThreshold]]), 2 = xwide 6×24 (past [[SignXWideThreshold]]). */
  private[graft] def signGeometry(n: Long): Int =
    if (n > SignXWideThreshold) 2 else if (n > SignWideThreshold) 1 else 0

  /** Deterministic mixture-of-Gaussians embeddings fixture (round 16):
    * `centers` xxhash64-seeded cluster centers with coordinates in
    * ±1000, each vector = its (hash-assigned) center + uniform ±noiseW
    * per-coordinate noise. The regime lever for the ANN recall
    * readings: cluster population = n/centers is what governs PQ/IVFPQ
    * recall (SCALING.md round 16 — recall ≈ 1 when the rerank pool
    * covers the query's cluster, collapses when thousands of near-peers
    * exceed code resolution; the uniform driver fixture sits between).
    * Shared by the Drive staging tool and the clustered-regime spec. */
  private[graft] def syntheticClusteredEmbeddings(s: SparkSession, n: Long,
      centers: Int, noiseW: Int): DataFrame =
    s.range(n).select(col("id").as("vec_id"),
      expr(s"transform(sequence(0, 63), j -> CAST(" +
        s"(pmod(xxhash64(pmod(xxhash64(id), $centers) * 64 + j), 2001) - 1000) + " +
        s"(pmod(xxhash64(id * 64 + j + 999983), ${2 * noiseW + 1}) - $noiseW) " +
        "AS FLOAT))").as("embedding"),
      expr(s"CAST(pmod(xxhash64(id), $centers) AS INT)").as("label"))

  /** Exact-kNN broadcast budget: above this many labeled rows
    * [[knnClassify]] routes itself to [[knnClassifyIvf]]. 100k rows of
    * 64-float embeddings ≈ 30 MB broadcast (the classic 8 GB-executor
    * comfort bound) and |q|·|labeled| pair counts beyond it put the NL
    * join in the documented non-completing regime (SCALING.md: 6.4e9
    * pairs at 200k labeled). */
  val KnnExactMaxLabeled = 100000L

  /** Probe-visible alias for [[signBandKeys]] (tools/Drive embedIvfPhases). */
  private[graft] def signBandKeysPublic(wide: Boolean): Column =
    signBandKeys(if (wide) 1 else 0)

  /** Probe/spec-visible alias taking the 3-valued geometry. */
  private[graft] def signBandKeysGeom(geom: Int): Column = signBandKeys(geom)

  private def signBandKeys(geom: Int): Column = geom match {
    case 0 =>
      array((0 until SignBands).map { t =>
        (0 until SignBitsPerBand).map { j =>
          (col("embedding").getItem(SignBitsPerBand * t + j) >= 0)
            .cast(IntegerType) * lit(1 << j)
        }.reduce(_ + _)
      }: _*)
    case 1 =>
      array((0 until SignBands / 2).map { t =>
        (0 until 2 * SignBitsPerBand).map { j =>
          (col("embedding").getItem(2 * SignBitsPerBand * t + j) >= 0)
            .cast(IntegerType) * lit(1 << j)
        }.reduce(_ + _)
      }: _*)
    case _ =>
      array((0 until SignXBands).map { t =>
        (0 until SignXBitsPerBand).map { j =>
          (col("embedding").getItem((SignXOffsets(t) + j) % 64) >= 0)
            .cast(IntegerType) * lit(1 << j)
        }.reduce(_ + _)
      }: _*)
  }

  /** Candidate pairs from sign-band LSH: explode each vector into its L
    * (band, key) bucket rows, equi-join on the bucket — a hash join over
    * fixed-width keys, never a cross product — and dedupe pairs. The
    * bucket join and the pair-distinct shuffle ONLY 16-byte id pairs;
    * embedding payloads join back in AFTER the distinct, so each
    * surviving pair moves its two vectors exactly once (at 100 TB the
    * pre-distinct duplicate factor — one copy per shared band — would
    * otherwise multiply the candidate-stage shuffle bytes). */
  /** Freshness-keyed cardinality: count() the frame once per (plan,
    * input-file-set) and serve repeats from the store — the regime
    * pickers (band geometry, exact-vs-IVF kNN routing) each need one
    * scalar per corpus and are invoked per query. The frame names no
    * corpus dir, so its freshness rides in the key: the analyzed plan's
    * semantic hash COMBINED with a hash of its input-file listing — a
    * parquet rewrite/append under the same root changes the file set
    * (part files carry fresh UUIDs), and the file-list hash makes an
    * Int semanticHash collision between unrelated plans harmless.
    * Hashing the sorted paths rather than retaining the listing keeps
    * the key O(bytes) even for a million-file listing. */
  private def cachedCount(df: DataFrame): Long =
    Tables.artifact(df.sparkSession, "", Nil, ("cachedCount",
        df.queryExecution.analyzed.semanticHash(),
        scala.util.hashing.MurmurHash3.orderedHash(df.inputFiles.sorted.toSeq)))(
      java.lang.Long.valueOf(df.count())).longValue()

  def signBandCandidates(e: DataFrame): DataFrame =
    signBandCandidates(e, forcedGeom = -1)

  /** forcedGeom ≥ 0 pins the band geometry regardless of corpus size —
    * the lever the forced-geometry companion booleans and the 2M-decade
    * knob measurements use; -1 (the public entry) picks by size. */
  private[graft] def signBandCandidates(e: DataFrame, forcedGeom: Int): DataFrame = {
    val en = e.select(col("vec_id"), col("embedding"),
      l2norm(col("embedding")).as("nrm"))
    // bounded driver scalar (1 row): band width follows corpus size.
    // NOTE the regime switch is PROBABILISTIC above SignWideThreshold
    // (wide bands catch a true near-dup with p ≈ 0.98, not 1.0): a
    // corpus crossing 20k vectors changes the emitted candidate set by
    // design — SimilaritySpec's wide-band spec pins the recall floor on
    // planted near-dups, and the threshold is a named constant so the
    // switch point is auditable.
    val geom = if (forcedGeom >= 0) forcedGeom else signGeometry(cachedCount(e))
    val b = en.select(col("vec_id"),
      posexplode(signBandKeys(geom)).as(Seq("t", "key")))
    val pairs = b.select(col("t"), col("key"), col("vec_id").as("id_a"))
      .join(b.select(col("t"), col("key"), col("vec_id").as("id_b")), Seq("t", "key"))
      .filter(col("id_b") > col("id_a"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    pairs
      .join(en.select(col("vec_id").as("id_a"),
        col("embedding").as("ea"), col("nrm").as("na")), Seq("id_a"))
      .join(en.select(col("vec_id").as("id_b"),
        col("embedding").as("eb"), col("nrm").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("ea"), col("eb"), col("na"), col("nb"))
  }

  /** Plain-Scala band keys for ANY geometry — bit-for-bit the
    * [[signBandKeys]] column (narrow: 8 bands × 8 bits; wide past
    * [[SignWideThreshold]]: 4 bands × 16 bits; xwide past
    * [[SignXWideThreshold]]: 6 overlapping bands × 24 bits). */
  private[graft] def scalaBandKeysFor(e: Array[Float], geom: Int): Array[Int] =
    geom match {
      case 0 => scalaBandKeys(e)
      case 1 => Array.tabulate(SignBands / 2) { t =>
        var k = 0
        var j = 0
        while (j < 2 * SignBitsPerBand) {
          val idx = 2 * SignBitsPerBand * t + j
          if (idx < e.length && e(idx) >= 0) k |= 1 << j
          j += 1
        }
        k
      }
      case _ => Array.tabulate(SignXBands) { t =>
        var k = 0
        var j = 0
        while (j < SignXBitsPerBand) {
          val idx = (SignXOffsets(t) + j) % 64
          if (idx < e.length && e(idx) >= 0) k |= 1 << j
          j += 1
        }
        k
      }
    }

  /** The sign-band dedup's verify as ONE BUCKET COGROUP — the cell-free
    * sibling of [[cellBandVerifiedPairs]], with the (band, key) bucket
    * itself as the grouping key. Each member ships L = 4-8 replicated
    * rows (one per band) through a single exchange; within a bucket
    * every id-ordered pair whose FIRST shared band is this bucket's
    * band gets the exact cosine (the standard LSH exactly-once rule —
    * the emitted pair SET equals "shares ≥ 1 bucket", each pair once),
    * and only survivors ≥ threshold leave the task. The join shape this
    * replaces — bucket self-join → 16-byte pair distinct → TWO
    * embedding join-backs — materialized ~120M candidate pairs each
    * dragging 560 bytes of vector payload at the 2M decade (~67 GB of
    * join rows for 64 multiplies each): measured 130 s vs this shape's
    * in-task loop. Worst case remains the bucket histogram (a key
    * holding k members costs k²/2 in ITS task — same quadratic the
    * old hash join had, minus AQE's skew splitting); the wide 16-bit
    * geometry keeps buckets ~n/65536, and the IVF-cell variant is the
    * deliberate scale path past that. */
  private def bucketBandVerifiedPairs(en: DataFrame, threshold: Double,
      geom: Int): org.apache.spark.sql.Dataset[(Long, Long, Double)] = {
    val s = en.sparkSession
    import s.implicits._
    en.as[(Long, Array[Float], Double)]
      .flatMap { m =>
        val keys = scalaBandKeysFor(m._2, geom)
        (0 until keys.length).iterator.map(t =>
          ((t.toLong << 32) | (keys(t).toLong & 0xffffffffL), m._1, m._2, m._3))
      }
      .groupByKey(_._1)
      .flatMapGroups { (gk, it) =>
        val t = (gk >>> 32).toInt
        val raw = it.toArray
        if (raw.length < 2) Iterator.empty
        else {
          val mem = raw.map(r => (r._2, r._3, r._4, scalaBandKeysFor(r._3, geom)))
          val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
          var a = 0
          while (a < mem.length - 1) {
            var b = a + 1
            while (b < mem.length) {
              val ma = mem(a)
              val mb = mem(b)
              // exactly-once: skip if any EARLIER band already paired them
              var tp = 0
              var dup = false
              while (tp < t && !dup) {
                if (ma._4(tp) == mb._4(tp)) dup = true
                tp += 1
              }
              if (!dup && ma._1 != mb._1) {
                // same left-to-right float→double fold as the codegen'd
                // cosineFromNorms (spec-pinned bit-identical)
                val (ea, eb) = (ma._2, mb._2)
                val n = math.min(ea.length, eb.length)
                var acc = 0.0
                var k = 0
                while (k < n) { acc += ea(k).toDouble * eb(k).toDouble; k += 1 }
                val cos = acc / (ma._3 * mb._3)
                if (cos >= threshold) {
                  if (ma._1 < mb._1) out += ((ma._1, mb._1, cos))
                  else out += ((mb._1, ma._1, cos))
                }
              }
              b += 1
            }
            a += 1
          }
          out.iterator
        }
      }
  }

  /** Embedding-cosine near-duplicate DEDUP, blocked on sign-band LSH
    * buckets: same bucket definition as [[signBandCandidates]] (which
    * stays as the candidate-generation contract the wideband companion
    * and the spec's plan assertion pin), with candidate generation,
    * exactly-once cross-band dedup and the exact cosine verify fused
    * into one bucket cogroup ([[bucketBandVerifiedPairs]]). Recall is
    * the LSH collision curve — near-total for true near-dups
    * (cos ≥ 0.8 → p ≥ 0.8 per bit) and deliberately lossy for
    * barely-similar pairs; SimilaritySpec measures it against the
    * all-pairs truth. Oracle-exact because the oracle mirrors the same
    * bucket definition in SQL. */
  def embedNearDupLsh(s: SparkSession, d: String,
      threshold: Double = 0.4): DataFrame = {
    val e = corpus(s, d)
    val en = e.select(col("vec_id"), col("embedding"),
      l2norm(col("embedding")).as("nrm"))
    bucketBandVerifiedPairs(en, threshold, signGeometry(cachedCount(e)))
      .toDF("id_a", "id_b", "cos")
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Embedding-cosine near-dup DEDUP blocked on IVF CLUSTERS: candidates
    * are pairs sharing a trained k-means cell — the similarity-AWARE
    * blocker (cells follow the data's density, unlike fixed sign-band
    * cuts), demonstrating the swappable-candidate-generator contract.
    * Pair space ~ Σ|cell|² ≈ n²/k for balanced cells; exact cosine
    * verify on candidates only. Centroids aren't SQL-expressible →
    * rows-only; SimilaritySpec checks result ⊆ all-pairs truth and the
    * candidate-count bound. */
  /** `nCells` is the tuning contract at scale: candidate pairs grow as
    * Σ|cell|² ≈ n²/nCells for balanced cells, so the cell count must
    * grow WITH the corpus (k ∝ n keeps expected cell size — and so
    * per-cell pair work — constant). The registered query keeps the
    * default; SCALING.md measures a retuned run at 100× fixture scale. */
  def embedNearDupIvf(s: SparkSession, d: String,
      threshold: Double = 0.4, nCells: Int = 0,
      wideThreshold: Long = SignWideThreshold): DataFrame = {
    val e = corpus(s, d).withColumn("nrm", l2norm(col("embedding")))
    // nCells = 0 means AUTO, the knnClassifyIvf sizing rule: fixed
    // cells make Σ|cell|² quadratic in the corpus (measured 67.7 s at
    // 200k vectors with 16 cells); √n cells bound the pair space at
    // ~n^1.5. Below the classifier's small-fixture bound the 16-cell
    // default keeps driver-scale results bit-stable.
    val n = cachedCount(e.select(col("vec_id")))
    val c =
      if (nCells > 0) nCells
      else if (n <= 4000L) NumCentroids
      else math.min(4096L, math.round(math.sqrt(n.toDouble))).toInt
    val centroids = trainedCentroids(s, d, c)
      .withColumn("c_nrm", l2norm(col("c_emb")))
    val assigned = assignToCentroids(e, centroids)
    // Past SignWideThreshold the √n-cell geometry alone is still ~n^1.5
    // candidate pairs (measured 18.9 s at 200k vectors): COMPOSE the
    // 8×8 sign-band sub-blocker WITHIN cells, so a candidate must share
    // (cell, band key) — random in-cell collisions drop to ~L/2^m = 3%
    // of the cell pair space while sign-correlated near-dups still
    // collide in ≥1 of the 8 bands (p ≈ 1 at cos ≥ 0.99; the planted-
    // near-dup recall regime the wide-band spec pins). Below the
    // threshold the pure cell join is kept, so fixture-scale results —
    // and the oracled companion — are bit-identical to earlier rounds.
    val verified =
      if (n <= wideThreshold) {
        assigned.select(col("c_id"), col("vec_id").as("id_a"),
            col("embedding").as("ea"), col("nrm").as("na"))
          .join(assigned.select(col("c_id"), col("vec_id").as("id_b"),
            col("embedding").as("eb"), col("nrm").as("nb")), Seq("c_id"))
          .filter(col("id_b") > col("id_a"))
          .withColumn("cos", cosineFromNorms(col("ea"), col("eb"), col("na"), col("nb")))
      } else {
        // in-cell band blocking + verify as ONE CELL COGROUP: a pair
        // lives in exactly one cell (each vector has one assignment),
        // so candidate generation, cross-band dedup and the exact
        // cosine verify can all run in-task over the cell's members —
        // the previous shape shuffled ~190M 16-byte id pairs at the
        // 2M-vector decade and then joined both 256-byte embeddings
        // back per pair (~100 GB of join rows) to do 64 multiplies
        // each. Band keys are computed IN-TASK ([[scalaBandKeys]] —
        // spec-pinned bit-identical to the column form); a pair found
        // in band t is scored only if the two members share NO earlier
        // band — the standard LSH exactly-once trick, no seen-set
        // memory. Survivors ≥ threshold are the only rows that leave
        // the task. (An SDC pre-filter on the 4-bit PQ codes was
        // measured and REJECTED here: code-to-code scores lose
        // 0.25-0.45 of true cosine at the threshold boundary on this
        // profile — tools/Drive sdcError — so a loss-free margin
        // filters nothing. The classifier's ADC+exact-rerank composes
        // because it only needs ranking within a pool; threshold
        // semantics need the exact dot.)
        cellBandVerifiedPairs(
          assigned.select(col("c_id"), col("vec_id"), col("embedding"),
            col("nrm")),
          threshold)
          .toDF("id_a", "id_b", "cos")
      }
    verified
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Sign-band keys of one embedding, in plain Scala — bit-for-bit the
    * [[signBandKeys]] column (bit j of band t set iff coordinate
    * 8t+j ≥ 0), computed IN-TASK by the wide-regime cogroup. Carrying
    * the keys as a 64-GetArrayItem array column next to the centroid
    * scan pushed the generated map-stage method past HotSpot's
    * 8 KB-bytecode JIT ceiling — the stage stayed whole-stage-codegen
    * but ran at INTERPRETER speed (measured 428 s for the combined
    * projection at 200k rows vs 1.3 s + 1.6 s for the same two
    * column sets projected separately). Eight integer ops per member
    * inside the task cost nothing and keep the map projection at the
    * classifier's proven shape. */
  private def scalaBandKeys(e: Array[Float]): Array[Int] =
    Array.tabulate(SignBands) { t =>
      var k = 0
      var j = 0
      while (j < SignBitsPerBand) {
        val idx = SignBitsPerBand * t + j
        if (idx < e.length && e(idx) >= 0) k |= 1 << j
        j += 1
      }
      k
    }

  /** The in-cell blocked-verify loop of [[embedNearDupIvf]]'s wide
    * regime. Members arrive (c_id, vec_id, embedding, nrm); per cell,
    * each band buckets members by key ([[scalaBandKeys]]) and every
    * same-bucket id-ordered pair whose FIRST shared band is this one
    * gets the exact cosine (same left-to-right float→double fold as
    * the codegen'd expression). Emits pairs at or above the
    * threshold. */
  /** Probe-visible alias (tools/Drive dedupWidePhases). */
  private[graft] def cellBandVerifiedPairsPublic(members: DataFrame,
      threshold: Double): org.apache.spark.sql.Dataset[(Long, Long, Double)] =
    cellBandVerifiedPairs(members, threshold)

  private def cellBandVerifiedPairs(members: DataFrame,
      threshold: Double): org.apache.spark.sql.Dataset[(Long, Long, Double)] = {
    val s = members.sparkSession
    import s.implicits._
    members.as[(Long, Long, Array[Float], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val raw = it.toArray
        if (raw.length < 2) Iterator.empty
        else {
          val mem = raw.map(m => (m._1, m._2, m._3, m._4, scalaBandKeys(m._3)))
          val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
          val nBands = mem(0)._5.length
          var t = 0
          while (t < nBands) {
            val buckets = new java.util.HashMap[Integer, java.util.ArrayList[Integer]]()
            var i = 0
            while (i < mem.length) {
              buckets.computeIfAbsent(mem(i)._5(t), _ => new java.util.ArrayList[Integer]())
                .add(i)
              i += 1
            }
            val bit = buckets.values().iterator()
            while (bit.hasNext) {
              val bucket = bit.next()
              var a = 0
              while (a < bucket.size() - 1) {
                var b = a + 1
                while (b < bucket.size()) {
                  val ma = mem(bucket.get(a))
                  val mb = mem(bucket.get(b))
                  // exactly-once: skip if any EARLIER band already paired them
                  var tp = 0
                  var dup = false
                  while (tp < t && !dup) {
                    if (ma._5(tp) == mb._5(tp)) dup = true
                    tp += 1
                  }
                  if (!dup) {
                    val (ea, eb) = (ma._3, mb._3)
                    val n = math.min(ea.length, eb.length)
                    var acc = 0.0
                    var k = 0
                    while (k < n) { acc += ea(k).toDouble * eb(k).toDouble; k += 1 }
                    val cos = acc / (ma._4 * mb._4)
                    if (cos >= threshold) {
                      if (ma._2 < mb._2) out += ((ma._2, mb._2, cos))
                      else out += ((mb._2, ma._2, cos))
                    }
                  }
                  b += 1
                }
                a += 1
              }
            }
            t += 1
          }
          out.iterator
        }
      }
  }

  /** Symmetric (code, code) inner-product table from the corpus
    * codebooks, flat ((m·K + i)·K + j): SDC pair score =
    * Σ_m sym(m, code_m(a), code_m(b)) ≈ cos(a, b) (both sides encode
    * normalized vectors; subspaces decompose the dot). Unlike ADC there
    * is no per-query table build — 8 lookups per PAIR, nothing
    * amortized — which is what a pair-scan (not a query-scan) needs. */
  private[graft] def sdcFlatTable(cb: Array[Array[Array[Double]]]): Array[Double] = {
    val mC = cb.length
    val kC = cb(0).length
    val ds = cb(0)(0).length
    val t = new Array[Double](mC * kC * kC)
    var m = 0
    while (m < mC) {
      var i = 0
      while (i < kC) {
        var j = 0
        while (j < kC) {
          var acc = 0.0
          var x = 0
          while (x < ds) { acc += cb(m)(i)(x) * cb(m)(j)(x); x += 1 }
          t((m * kC + i) * kC + j) = acc
          j += 1
        }
        i += 1
      }
      m += 1
    }
    t
  }

  /** Embedding-cosine near-duplicate DEDUP blocked on a coarse COLUMN key
    * (label here — a cluster id / partition date in production): pair
    * space is |block|² per block instead of n². Kept as the
    * user-supplied-block variant alongside [[embedNearDupLsh]], which
    * derives the block from the vectors themselves. */
  def embedNearDupBlocked(s: SparkSession, d: String,
      threshold: Double = 0.4): DataFrame = {
    val e = corpus(s, d)
    e.select(col("label"), col("vec_id").as("id_a"), col("embedding").as("ea"))
      .join(e.select(col("label"), col("vec_id").as("id_b"), col("embedding").as("eb")),
        Seq("label"))
      .filter(col("id_b") > col("id_a"))
      .withColumn("cos", cosineNative(col("ea"), col("eb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Embedding-cosine near-duplicate pairs among consecutive vec_ids —
    * the embedding analog of Dedup.ngramJaccardConsecutive, oracle-exact
    * by the deterministic fold. */
  def cosineConsecutive(s: SparkSession, d: String): DataFrame = {
    val e = corpus(s, d)
    e.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("eb")),
        col("id_b") === col("id_a") + 1)
      .select(col("id_a"), col("id_b"), cosineNative(col("ea"), col("eb")).as("cos"))
      .orderBy(col("id_a"))
  }

  /** Symmetric per-vector INT8 quantization — the 4× storage/bandwidth
    * lever for an embedding store (float32 → int8 at 100 TB is 75 TB
    * saved before similarity search even starts). Per vector:
    * scale = max|x|/127, q_i = round(x_i/scale) ∈ [-127, 127] (no
    * clipping by construction — |x_i| ≤ 127·scale). Everything is a
    * per-row array expression (codegen'd, zero shuffle, scan-parallel);
    * the emitted summary (exact integer sum/min/max of the codes plus
    * the max dequantization error) is hash-exact against the oracle
    * because every step — float→double cast, division, HALF_UP round,
    * long arithmetic — is deterministic IEEE/decimal arithmetic that
    * DuckDB computes identically. */
  /** Per-vector symmetric int8 CODES (+ scale): the shared builder for
    * the quantization summary and the quantized search path. Codes are
    * kept as doubles (round() is already a double, every code is an
    * integer ≤ 127 — exactly representable), so downstream dot products
    * run on the arrays as stored with zero per-pair conversion. */
  private def int8Codes(s: SparkSession, d: String): DataFrame = {
    val emb = transform(col("embedding"), x => x.cast(DoubleType))
    corpus(s, d)
      .withColumn("scale", array_max(transform(emb, x => abs(x))) / lit(127.0))
      .withColumn("q",
        when(col("scale") === 0.0, transform(emb, _ => lit(0.0)))
          .otherwise(transform(emb, x => round(x / col("scale")))))
  }

  def quantizeInt8(s: SparkSession, d: String): DataFrame = {
    val emb = transform(col("embedding"), x => x.cast(DoubleType))
    int8Codes(s, d)
      .withColumn("q", transform(col("q"), x => x.cast(LongType)))
      .select(col("vec_id"), col("scale"),
        aggregate(col("q"), lit(0L), (acc, v) => acc + v).as("q_sum"),
        array_min(col("q")).as("q_min"),
        array_max(col("q")).as("q_max"),
        when(col("scale") === 0.0, lit(0.0))
          .otherwise(array_max(zip_with(emb, col("q"),
            (x, qv) => abs(x - qv.cast(DoubleType) * col("scale")))))
          .as("max_err"))
      .orderBy(col("vec_id"))
  }

  /** Top-k search OVER THE QUANTIZED STORE — the production read path
    * once embeddings live as int8 codes. The key identity: per-vector
    * scales cancel out of the quantized cosine,
    *   cos_q(a,b) = (sa·sb·dot(qa,qb)) / (sa·|qa| · sb·|qb|)
    *             =  dot(qa,qb) / (|qa|·|qb|),
    * so ranking needs ONLY the integer codes — scales are never read
    * at search time, and every dot term is a sum of products of ints
    * ≤ 127 over the dimension (≤ 2²⁰·dim, exactly representable in
    * double), which is why this approximate index can still carry a
    * VALUE-EXACT DuckDB oracle: both engines rank on identical
    * integer-ratio arithmetic. Same plan shape as [[bruteForceTopK]]
    * (queries broadcast, one corpus scan, allocation-free dot); the
    * spec pins recall vs the float brute force. */
  def quantizedTopK(s: SparkSession, d: String, nQueries: Int = 10,
      k: Int = 5): DataFrame = {
    import graft.functions.Native
    val e = int8Codes(s, d)
      .select(col("vec_id"), col("q"),
        sqrt(Native.dot(col("q"), col("q"))).as("qn"))
    val qs = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("q").as("q_q"), col("qn").as("q_qn"))
    val scored = e.join(broadcast(qs), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (Native.dot(col("q_q"), col("q")) / (col("q_qn") * col("qn"))).as("qcos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("qcos").desc, col("n_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk").cast(LongType).as("rnk"), col("n_id"), col("qcos"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** kNN label propagation: classify held-out vectors by the majority
    * label of their k nearest LABELED neighbors (cosine; ties on
    * distance break toward the smaller neighbor id, ties on votes
    * toward the smaller label) — the embedding-proxy quality-classifier
    * pattern of a training-data pipeline, where a small human-labeled
    * seed set fans out over an unlabeled corpus.
    *
    * Scale design: the labeled seed set is the SMALL side and is
    * broadcast; the unlabeled mass streams through ONE scan. The
    * per-query top-k runs as the bounded [[graft.functions.TopKByAgg]]
    * hash aggregate — cosine rides as an order-preserving sortable long
    * ([[graft.functions.DoubleSortableLong]]) so each map task reduces
    * its slice to a k-entry buffer and only k·partitions tiny rows
    * shuffle (a row_number window here would sort |labeled| rows per
    * query). Votes then aggregate over ≤ k rows per query. Past a
    * broadcastable seed set, [[knnClassifyIvf]] is the scale path —
    * same vote pipeline over IVF-probed cells only. */
  def knnClassify(s: SparkSession, d: String, k: Int = 10,
      holdoutMod: Int = 5,
      maxExactLabeled: Long = KnnExactMaxLabeled): DataFrame = {
    import graft.functions.Native
    val e = corpus(s, d).withColumn("nrm", l2norm(col("embedding")))
    // SELF-ROUTING past the broadcast regime: the exact all-pairs plan
    // below is |q|·|labeled| scoring work behind a broadcast of the whole
    // labeled side — correct and fastest while the seed set is genuinely
    // small, a documented non-completer at 200k labeled (SCALING.md:
    // 6.4e9 pairs). The API must not be able to launch that by accident,
    // so the labeled cardinality (one column-pruned count, cached per
    // corpus by the same freshness-keyed cache the band blocker uses)
    // picks the plan: past KnnExactMaxLabeled rows the call degrades
    // GRACEFULLY to the IVF-probed path — same vote pipeline, candidates
    // bounded per query — instead of hanging the cluster.
    val nLab = cachedCount(e.filter(col("vec_id") % holdoutMod =!= 0)
      .select(col("vec_id")))
    if (nLab > maxExactLabeled)
      return knnClassifyIvf(s, d, k, holdoutMod)
    val labeled = e.filter(col("vec_id") % holdoutMod =!= 0)
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
        col("nrm").as("n_nrm"), col("label").as("n_label"))
    val q = e.filter(col("vec_id") % holdoutMod === 0)
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("label").as("true_label"))
    // top-k labels per query: ord = (cos desc, n_id asc) via sortable
    // bits + negated id (ids ≥ 0, so -n_id never overflows)
    // NL-join parallelism equals the STREAMED side's partition count — a
    // compact parquet source reads as a handful of splits, which would
    // serialize the whole |q|·|labeled| scoring loop onto a few tasks.
    // Widen ONLY when the scan is actually narrow: at corpus scale the
    // source yields splits ≥ cores and the repartition would be a
    // pointless full shuffle of the unlabeled mass.
    val target = s.sparkContext.defaultParallelism
    val qSpread = if (q.rdd.getNumPartitions >= target) q
                  else q.repartition(target)
    voteTopK(qSpread.crossJoin(broadcast(labeled)), k)
  }

  /** The shared classify tail: score each (query, labeled) candidate
    * row, keep the k best per query with the bounded [[graft.functions.TopKByAgg]]
    * (cosine desc via sortable bits, then smaller n_id), and majority-
    * vote the surviving labels (ties toward the smaller label). Input
    * must carry vec_id/true_label/embedding/nrm on the query side and
    * n_id/n_emb/n_nrm/n_label on the candidate side. */
  private def voteTopK(cands: DataFrame, k: Int): DataFrame =
    voteTail(cands
      .select(col("vec_id"), col("true_label").cast(LongType).as("true_label"),
        graft.functions.Native.sortableDouble(
          cosineFromNorms(col("embedding"), col("n_emb"),
            col("nrm"), col("n_nrm"))).as("ord1"),
        (-col("n_id")).as("ord2"),
        col("n_label").cast(DoubleType).as("lab")), k)

  /** Vote over already-scored candidate rows (vec_id, true_label,
    * ord1 = sortable cosine bits, ord2 = −n_id, lab): bounded top-k
    * per query, then majority with ties toward the smaller label. */
  private def voteTail(scored: DataFrame, k: Int): DataFrame = {
    import graft.functions.Native
    scored
      .groupBy(col("vec_id"), col("true_label"))
      .agg(Native.topKBy(col("ord1"), col("ord2"), col("lab"), k).as("labs"))
      .select(col("vec_id"), col("true_label"), explode(col("labs")).as("lab"))
      .groupBy(col("vec_id"), col("true_label"), col("lab"))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col("vec_id"), col("true_label"))
      .agg(max_by(struct(col("lab"), col("votes")),
        struct(col("votes"), -col("lab"))).as("w"))
      .select(col("vec_id"),
        col("w.lab").cast(LongType).as("pred_label"),
        col("true_label").cast(LongType).as("true_label"),
        col("w.votes").as("votes"))
      .orderBy(col("vec_id"))
  }

  /** [[knnClassify]]'s SCALE PATH: past ~10⁵ labeled rows the seed set
    * stops being broadcastable and all-pairs scoring stops being the
    * plan — here the labeled side is IVF-partitioned once
    * ([[assignToCentroids]], the same coarse quantizer the ANN index
    * trains per corpus) and each query scores ONLY the labeled rows in
    * its nProbe nearest cells: candidates shrink |labeled| →
    * ~|labeled|·nProbe/cells per query, and the join key is the cell
    * id, not a pair. `cells` is the caller's scale knob — size it
    * ≈ √|labeled| so the cell join fans out over thousands of keys
    * (the 16-cell default matches the test corpus; the quantizer cache
    * is already keyed per (corpus, cells)). Same vote pipeline; the
    * spec pins EXACT parity with a plain-Scala recompute of the
    * probed-cell semantics. */

  /** Cell-COGROUP candidate scoring — the IVF classifier's hot loop
    * without pair-row materialization. The join shape
    * (probes ⋈ labCells on c_id → project → partial TopKByAgg) is
    * plan-correct but makes Spark CONSTRUCT one row per (query,
    * labeled-in-cell) pair, each dragging both 256-byte embeddings —
    * ~2B × ~0.5 KB of row machinery at the 2M-vector decade for work
    * that is arithmetically 130 GFLOP. Here each cell's labeled rows
    * are held once per task as primitive arrays and the queries
    * probing that cell stream through a tight dot-product loop that
    * keeps the k best per (query, cell); only those k survivors become
    * rows. top-k over the union of per-cell top-k equals top-k over
    * all candidates, and the arithmetic (left-to-right float→double
    * dot, cos = dot/(nrm·n_nrm)), the sortable-bits order and the
    * −n_id tie all replicate the codegen'd expressions bit-for-bit —
    * the plain-Scala parity spec pins the whole path. */
  private def cellScoredCandidates(probes: DataFrame, labCells: DataFrame,
      k: Int): DataFrame = {
    val s = probes.sparkSession
    import s.implicits._
    val qds = probes.select(col("c_id"), col("vec_id"),
        col("embedding"), col("nrm"), col("true_label").cast(LongType))
      .as[(Long, Long, Array[Float], Double, Long)]
    val lds = labCells.select(col("c_id"), col("n_id"),
        col("n_emb"), col("n_nrm"), col("n_label").cast(DoubleType))
      .as[(Long, Long, Array[Float], Double, Double)]
    qds.groupByKey(_._1).cogroup(lds.groupByKey(_._1)) { (_, qs, ls) =>
      val lab = ls.toArray
      if (lab.isEmpty) Iterator.empty
      else qs.flatMap { case (_, vid, qe, qn, tl) =>
        val m = math.min(k, lab.length)
        val bo = new Array[Long](m)   // ord1 (sortable cosine bits), best-first
        val bi = new Array[Long](m)   // n_id
        val bl = new Array[Double](m) // label
        var filled = 0
        var c = 0
        while (c < lab.length) {
          val (_, nid, ne, nn, nl) = lab(c)
          val n = math.min(qe.length, ne.length)
          var acc = 0.0
          var i = 0
          while (i < n) { acc += qe(i).toDouble * ne(i).toDouble; i += 1 }
          val bits = java.lang.Double.doubleToLongBits(acc / (qn * nn))
          val ord1 = bits ^ ((bits >> 63) & Long.MaxValue)
          // keep k best by (ord1 desc, n_id asc); labeled rows arrive in
          // no particular id order, so equal-ord1 entries order by id
          var p = filled
          while (p > 0 && (bo(p - 1) < ord1 ||
              (bo(p - 1) == ord1 && bi(p - 1) > nid))) p -= 1
          if (p < m) {
            var j = math.min(filled, m - 1)
            while (j > p) { bo(j) = bo(j - 1); bi(j) = bi(j - 1); bl(j) = bl(j - 1); j -= 1 }
            bo(p) = ord1; bi(p) = nid; bl(p) = nl
            if (filled < m) filled += 1
          }
          c += 1
        }
        (0 until filled).iterator.map(idx =>
          ScoredCand(vid, tl, bo(idx), -bi(idx), bl(idx)))
      }
    }.toDF()
  }

  /** Labeled-side threshold above which the IVF classifier's in-cell
    * candidate scan switches from exact 64-float dots to ADC code
    * scoring with an exact-cosine rerank pool ([[cellScoredCandidatesAdc]]).
    * Sized so every driver fixture AND the 200k-vector scale decade stay
    * on the exact scan (bit-stable results, specs and companions
    * untouched); the regime engages at the 2M decade where the scan is
    * the measured wall. Injectable so the spec can force both regimes
    * on one fixture and pin their agreement. */
  val KnnAdcMinLabeled = 400000L

  /** Bounds for the AUTO-sized exact-rerank pool per (query, cell) in
    * the ADC regime ([[autoAdcPool]]). The r12 curve at the engaged
    * scale (2M vectors, cluster-free worst case, tools/Drive adcAgree)
    * measured pool 64 → 0.42 prediction agreement vs the exact scan,
    * 256 → 0.77, 1024 → 0.9993 — a fixed small default silently
    * degrades the moment the gate engages, so the pool now tracks the
    * cell geometry instead:
    *
    *   pool = clamp(Floor, Cap, ⌈avgCell / CellFrac⌉),  avgCell = nLab/cells
    *
    * With cells ∝ √nLab (the IVF sizing rule) avgCell is also ∝ √nLab,
    * so the pool covers a CONSTANT fraction (1/CellFrac) of the average
    * cell as the corpus grows — agreement holds roughly flat per decade
    * instead of collapsing. The Floor means every corpus small enough
    * that cells fit inside it (driver fixtures: ~100-member cells) gets
    * whole-cell pools, where the exact-cosine rerank makes the ADC path
    * agree exactly with the exact scan unless a probed cell exceeds the
    * pool. The Cap bounds the rerank flops at the decade where the
    * 4096-cell cap makes avgCell grow linearly; past it, agreement
    * becomes the deployment's explicit knob (knnClassifyIvf(adcPool=)).
    * Engaged-scale agreement with this rule is measured per round at
    * gen1000x (tools/Drive adcAgree; SCALING.md round-13). */
  val KnnAdcPoolFloor = 256
  val KnnAdcPoolCap = 1024
  val KnnAdcPoolCellFrac = 4

  /** Auto pool size for the ADC regime — see [[KnnAdcPoolFloor]]. */
  def autoAdcPool(nLabeled: Long, cells: Int): Int = {
    val avgCell = nLabeled.toDouble / math.max(1, cells)
    math.max(KnnAdcPoolFloor,
      math.min(KnnAdcPoolCap.toDouble, math.ceil(avgCell / KnnAdcPoolCellFrac)).toInt)
  }

  /** PqM 4-bit codes packed into one long (nibble m at bits 4m..4m+3):
    * the "4-byte code" the 100 TB story ships per vector — the in-task
    * scan reads one long per member instead of a 256-byte float array. */
  private[graft] def packCodes(codes: Array[Int]): Long = {
    var p = 0L
    var m = 0
    while (m < codes.length) { p |= (codes(m).toLong & 0xFL) << (4 * m); m += 1 }
    p
  }

  /** ADC lookup table of one query against the corpus codebooks, flat
    * (m * PqK + code): entry = dot(normalized query subvector,
    * codebook centroid). Σ_m table(m, code_m(x)) then approximates
    * cos(q, x) directly, because codes encode the NORMALIZED member
    * vector (pqCodebooks doc). */
  private def adcTable(cb: Array[Array[Array[Double]]], qe: Array[Float],
      qn: Double): Array[Double] = {
    val mCount = cb.length
    val kCount = cb(0).length
    val ds = cb(0)(0).length
    val t = new Array[Double](mCount * kCount)
    var m = 0
    while (m < mCount) {
      var c = 0
      while (c < kCount) {
        val cent = cb(m)(c)
        var acc = 0.0
        var i = 0
        while (i < ds) {
          val idx = m * ds + i
          if (idx < qe.length && qn != 0.0) acc += (qe(idx).toDouble / qn) * cent(i)
          i += 1
        }
        t(m * kCount + c) = acc
        c += 1
      }
      m += 1
    }
    t
  }

  /** [[cellScoredCandidates]] with ADC code scoring — the composition
    * the 2M-vector decade asked for (SCALING.md round 11: everything
    * that scans 256-byte floats inside its blocks pays the decade;
    * q_ann_ivfpq's 4-byte ADC codes make it the only 3×-per-decade
    * member). Per (query, cell): one M×K lookup table from the query's
    * normalized vector (1024 mults, amortized over the cell's members),
    * then each labeled member costs M=8 table lookups instead of a
    * 64-float dot; the `pool` best by approximate score rerank by EXACT
    * cosine and only the exact top-k leave the task — so emitted
    * cosines/orders are bit-identical to the exact scan's WHENEVER the
    * true top-k survives the ADC pool (guaranteed when pool ≥ cell
    * size, the spec's small-fixture case; at scale the pool is the
    * recall lever, floor-pinned by the agreement spec and the
    * `_check` companion). */
  private def cellScoredCandidatesAdc(probes: DataFrame, labCells: DataFrame,
      k: Int, pool: Int, cb: Array[Array[Array[Double]]]): DataFrame = {
    val s = probes.sparkSession
    import s.implicits._
    val kCount = cb(0).length
    val qds = probes.select(col("c_id"), col("vec_id"),
        col("embedding"), col("nrm"), col("true_label").cast(LongType))
      .as[(Long, Long, Array[Float], Double, Long)]
    val lds = labCells.select(col("c_id"), col("n_id"),
        col("n_emb"), col("n_nrm"), col("n_label").cast(DoubleType),
        col("n_codes"))
      .as[(Long, Long, Array[Float], Double, Double, Long)]
    qds.groupByKey(_._1).cogroup(lds.groupByKey(_._1)) { (_, qs, ls) =>
      val lab = ls.toArray
      if (lab.isEmpty) Iterator.empty
      else {
        // hoist the cell's members into primitive arrays ONCE — every
        // query probing the cell then scans unboxed longs/doubles
        // instead of re-unboxing Tuple6 fields per (query, member)
        val nMem = lab.length
        val ids = new Array[Long](nMem)
        val embs = new Array[Array[Float]](nMem)
        val nrms = new Array[Double](nMem)
        val labs = new Array[Double](nMem)
        val codes = new Array[Long](nMem)
        var x = 0
        while (x < nMem) {
          val t6 = lab(x)
          ids(x) = t6._2; embs(x) = t6._3; nrms(x) = t6._4
          labs(x) = t6._5; codes(x) = t6._6
          x += 1
        }
        qs.flatMap { case (_, vid, qe, qn, tl) =>
          val t = adcTable(cb, qe, qn)
          val pm = math.min(pool, nMem)
          // ADC pool: keep pm best by (approx bits desc, n_id asc).
          // Bounded MIN-heap on that order (root = worst kept member):
          // the old insertion-sorted array cost O(pool) shifts per
          // accepted candidate, which made the pool knob itself the
          // wall (the r12 curve's 46→134 s between pool 256 and 1024
          // was mostly memmove); the heap admits at O(log pool) and
          // rejects at O(1), and keeps an IDENTICAL member set (total
          // order, ties by id) — the exact rerank below re-sorts, so
          // emitted rows are bit-identical to the sorted-array pool.
          val po = new Array[Long](pm)  // sortable approx bits
          val px = new Array[Int](pm)   // member index
          // heap order: entry i WORSE than j iff po(i) < po(j) or
          // (po(i) == po(j) && ids(px(i)) > ids(px(j)))
          @inline def worse(o1: Long, i1: Long, o2: Long, i2: Long): Boolean =
            o1 < o2 || (o1 == o2 && i1 > i2)
          var filled = 0
          var c = 0
          while (c < nMem) {
            val cd = codes(c)
            var acc = 0.0
            var m = 0
            while (m < cb.length) {
              acc += t(m * kCount + ((cd >>> (4 * m)) & 0xFL).toInt)
              m += 1
            }
            val bits = java.lang.Double.doubleToLongBits(acc)
            val ord = bits ^ ((bits >> 63) & Long.MaxValue)
            val nid = ids(c)
            if (filled < pm) {
              // sift up
              var i = filled
              po(i) = ord; px(i) = c
              filled += 1
              while (i > 0 && worse(po(i), ids(px(i)),
                  po((i - 1) / 2), ids(px((i - 1) / 2)))) {
                val par = (i - 1) / 2
                val to = po(i); val tx = px(i)
                po(i) = po(par); px(i) = px(par)
                po(par) = to; px(par) = tx
                i = par
              }
            } else if (worse(po(0), ids(px(0)), ord, nid)) {
              // replace root, sift down
              po(0) = ord; px(0) = c
              var i = 0
              var done = false
              while (!done) {
                val l = 2 * i + 1
                val r = l + 1
                var w = i
                if (l < pm && worse(po(l), ids(px(l)), po(w), ids(px(w)))) w = l
                if (r < pm && worse(po(r), ids(px(r)), po(w), ids(px(w)))) w = r
                if (w == i) done = true
                else {
                  val to = po(i); val tx = px(i)
                  po(i) = po(w); px(i) = px(w)
                  po(w) = to; px(w) = tx
                  i = w
                }
              }
            }
            c += 1
          }
          // exact-cosine rerank of the pool — same fold/order/tie rules as
          // the exact scan, so survivors carry bit-identical ord1/ord2
          val km = math.min(k, filled)
          val bo = new Array[Long](km)
          val bi = new Array[Long](km)
          val bl = new Array[Double](km)
          var kept = 0
          var pi = 0
          while (pi < filled) {
            val mi = px(pi)
            val ne = embs(mi)
            val n = math.min(qe.length, ne.length)
            var acc = 0.0
            var i = 0
            while (i < n) { acc += qe(i).toDouble * ne(i).toDouble; i += 1 }
            val bits = java.lang.Double.doubleToLongBits(acc / (qn * nrms(mi)))
            val ord1 = bits ^ ((bits >> 63) & Long.MaxValue)
            val nid = ids(mi)
            var p = kept
            while (p > 0 && (bo(p - 1) < ord1 ||
                (bo(p - 1) == ord1 && bi(p - 1) > nid))) p -= 1
            if (p < km) {
              var j = math.min(kept, km - 1)
              while (j > p) { bo(j) = bo(j - 1); bi(j) = bi(j - 1); bl(j) = bl(j - 1); j -= 1 }
              bo(p) = ord1; bi(p) = nid; bl(p) = labs(mi)
              if (kept < km) kept += 1
            }
            pi += 1
          }
          (0 until kept).iterator.map(idx =>
            ScoredCand(vid, tl, bo(idx), -bi(idx), bl(idx)))
        }
      }
    }.toDF()
  }

  /** IVF-routed kNN classification (the scale path [[knnClassify]]
    * switches to past its broadcast budget). `cells = 0` and
    * `adcPool = 0` are both AUTO sentinels: cells AUTO picks
    * √|labeled| past the fixture regime; adcPool AUTO sizes the
    * per-cell exact-rerank pool from cell geometry via [[autoAdcPool]]
    * (clamp(256, 1024, ⌈avgCell/4⌉)). Negative values are rejected —
    * a caller passing a nonsense pool must fail loudly, not be
    * silently routed to AUTO. The ADC regime itself engages only past
    * `adcMinLabeled` labeled rows; below it every candidate is scored
    * exactly and `adcPool` is unused. */
  def knnClassifyIvf(s: SparkSession, d: String, k: Int = 10,
      holdoutMod: Int = 5, nProbe: Int = 4,
      cells: Int = 0, adcMinLabeled: Long = KnnAdcMinLabeled,
      adcPool: Int = 0): DataFrame = {
    require(adcPool >= 0, s"adcPool must be >= 0 (0 = AUTO), got $adcPool")
    require(cells >= 0, s"cells must be >= 0 (0 = AUTO), got $cells")
    val e = corpus(s, d).withColumn("nrm", l2norm(col("embedding")))
    val labeled = e.filter(col("vec_id") % holdoutMod =!= 0)
    val nLab = cachedCount(labeled.select(col("vec_id")))
    // cells = 0 means AUTO: per-query candidate work is
    // |labeled|·nProbe/cells, so a fixed cell count makes the whole
    // query quadratic in corpus size (measured super-linear on the
    // generated 100× fixture before this scaled). √|labeled| cells
    // keeps candidates/query at ~nProbe·√|labeled| — the standard IVF
    // sizing — once the corpus outgrows the small-fixture regime
    // (below it, the 16-cell default is kept so driver-scale results
    // are bit-stable with earlier rounds; the 4k guard must sit BELOW
    // the first generated decade — at 16k labeled the 16-cell regime
    // already costs ~4k candidates/query, measured 19.7 s at gen10x).
    val c =
      if (cells > 0) cells
      else if (nLab <= 4000L) NumCentroids
      else math.min(4096L, math.round(math.sqrt(nLab.toDouble))).toInt
    val centroids = trainedCentroids(s, d, c)
      .withColumn("c_nrm", l2norm(col("c_emb")))
    val useAdc = nLab > adcMinLabeled
    // label rides the assignment aggregate (carry) — a separate
    // label-recovery self-join would re-shuffle the labeled mass
    val assignedLab = assignToCentroids(labeled, centroids, carry = Seq("label"))
    val labCells =
      if (!useAdc)
        assignedLab.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
          col("nrm").as("n_nrm"), col("label").as("n_label"), col("c_id"))
      else {
        // ADC regime: members additionally carry their packed 4-byte PQ
        // codes (one encode pass over the labeled mass — the index-build
        // cost IVFPQ already pays; at 100 TB the code column is a stored
        // index table, not a per-query derivation)
        val cb = pqCodebooks(s, d)
        val enc = udf((emb: Seq[Float]) => packCodes(pqEncodeOne(cb, emb)))
        assignedLab.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
          col("nrm").as("n_nrm"), col("label").as("n_label"), col("c_id"),
          enc(col("embedding")).as("n_codes"))
      }
    val q = e.filter(col("vec_id") % holdoutMod === 0)
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("label").as("true_label"))
    // probe selection rides the query scan (codegen'd top-nProbe cells);
    // the old crossJoin(broadcast(centroids)) → row_number shape
    // exploded |q|·cells embedding-wide rows through an exchange+sort —
    // 565M rows at the 2M-vector decade — to pick 4 ids per query
    val probes = topCentroidIds(q, centroids, nProbe)
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("true_label"), explode(col("c_ids")).as("c_id"))
    // adcPool = 0 means AUTO: a constant fraction of the average cell
    // (floor/cap bounds in KnnAdcPoolFloor's doc) — the r12 fixed-64
    // default measured 0.42 agreement vs the exact scan at the engaged
    // 2M-vector scale, which is the wrong production posture for a
    // silent regime switch
    val pool = if (adcPool > 0) adcPool else autoAdcPool(nLab, c)
    val scored =
      if (useAdc) cellScoredCandidatesAdc(probes, labCells, k, pool,
        pqCodebooks(s, d))
      else cellScoredCandidates(probes, labCells, k)
    val voted = voteTail(scored, k)
    // a query whose probed cells hold NO labeled rows must surface as
    // an explicit null prediction, not silently vanish from the output
    // (possible once cells ≈ √|labeled| leaves some cells holdout-only)
    q.select(col("vec_id"), col("true_label").cast(LongType).as("true_label"))
      .join(voted.drop("true_label"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("pred_label"), col("true_label"),
        coalesce(col("votes"), lit(0L)).as("votes"))
      .orderBy(col("vec_id"))
  }
}
