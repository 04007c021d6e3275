package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines (north-star
  * extensions): exact hash dedup, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design: every pipeline hashes/sketches FIRST so raw text never
  * shuffles — only fixed-width signatures do. Candidate generation is
  * always a bucket equi-join (shuffle on the bucket key), never an
  * all-pairs comparison; exact similarity runs only on candidates.
  */
object Dedup {

  /** Exact dedup via content hash: group on md5(text), keep the lowest
    * doc_id. Shuffles 16-byte hashes, not documents. */
  def exact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))

  /** 3-token shingles (n-gram units for Jaccard/MinHash), distinct per doc.
    *
    * Deliberately a UDF over the split-once token array rather than a
    * transform/element_at HOF expression: higher-order functions are
    * interpreted (no codegen, no subexpression elimination) and inline
    * their argument expression at every use site, so the HOF shape
    * re-splits the text O(tokens) times per row — quadratic per document
    * and re-evaluated again in every pushed-down filter. The UDF splits
    * once and shingles in a linear JVM loop. Only set membership of the
    * result is ever consumed (sizes, intersections, min-hashes), so the
    * UDF is semantics-identical to the declarative form. */
  private val shingleUdf = udf { (toks: Seq[String]) =>
    if (toks.length < 3) Seq.empty[String]
    else toks.sliding(3).map(_.mkString(" ")).toVector.distinct
  }

  def shingles(text: Column): Column = shingleUdf(TextOps.tokens(text))

  /** doc_id → distinct shingle ARRAY, checkpointed per corpus: the
    * staged shingling artifact every n-gram pass consumes (consecutive
    * Jaccard/containment, the minhash index build). Without it each
    * self-join evaluates the tokenize+slide+distinct UDF twice over the
    * corpus, per query — the same build-once lifecycle as the SSJoin's
    * tokenizedDocs. */
  private def shingleDocs(s: SparkSession, d: String): DataFrame =
    Tables.artifact(s, d, Seq("documents"), "shingleDocs")(
      Tables.documents(s, d)
        .select(col("doc_id"), shingles(col("text")).as("sh"))
        .filter(size(col("sh")) > 0)
        .localCheckpoint(true))

  /** doc_id → exploded distinct shingle rows (off the cached arrays). */
  private def shingleRows(s: SparkSession, d: String): DataFrame =
    shingleDocs(s, d).select(col("doc_id"), explode(col("sh")).as("shingle"))

  /** doc_id → distinct shingle HASH array (xxhash64 per shingle) — the
    * payload the consecutive-overlap calibration queries actually
    * consume. Set-overlap counts need only set IDENTITY, and an 8-byte
    * hash replaces a ~100-byte string object: the checkpointed artifact
    * shrinks ~10x (at 5M docs the string-array checkpoint is tens of
    * GB — it overflows the storage pool and every repeat pass streams
    * it back through a bandwidth-limited memory subsystem; round 14
    * measured the join leg at 43-87 s there vs ~14 s on earlier
    * full-bandwidth hosts, and the hashed form divides that payload by
    * ~10). Collisions only matter WITHIN one consecutive pair
    * (~10^4 cross-hashes per pair at 2^-64 each — vanishing), so the
    * Jaccard/containment values are bit-identical to the string form
    * and the DuckDB oracle (which intersects strings) still matches.
    * Strings stay in [[shingleDocs]] for the consumers whose contracts
    * need them: simhash's oracle-reproducible rolling hash and the
    * minhash verify's exact string tiebreak. */
  private def shingleHashDocs(s: SparkSession, d: String): DataFrame =
    Tables.artifact(s, d, Seq("documents"), "shingleHashDocs")(
      // a run that already materialized the STRING artifact (simhash /
      // minhash ran first) derives the hashes with one projection over
      // that checkpoint instead of paying the corpus tokenize+shingle
      // UDF pass a second time; the peek never forces the string
      // artifact into existence, so a hash-only run still takes the
      // documents-rooted branch and never builds the ~10x-larger table
      Tables.artifactPeek[DataFrame](s, d, Seq("documents"), "shingleDocs")
        .map(_.select(col("doc_id"),
          transform(col("sh"), x => xxhash64(x)).as("sh")))
        .getOrElse(
          Tables.documents(s, d)
            .select(col("doc_id"),
              transform(shingles(col("text")), x => xxhash64(x)).as("sh"))
            .filter(size(col("sh")) > 0))
        .localCheckpoint(true))

  /** Exact n-gram Jaccard between consecutive doc pairs (a calibration /
    * oracle query for the sketch-based paths): |A∩B| / |A∪B| over 3-token
    * shingle sets. Computed with array_intersect on the paired shingle
    * arrays — one equi-join on doc_id, no shingle-keyed shuffle (a join
    * on shingle text degenerates on hot shingles; arrays stay bounded by
    * document length). */
  /** Shared consecutive-pair overlap counts for the Jaccard and
    * containment calibration queries: one id-equi-join of per-doc
    * shingle arrays, `array_intersect` per pair. These queries emit
    * EVERY consecutive pair (no threshold filter), so the intersect is
    * evaluated exactly once per pair and the hash-set probe is the
    * right tool — the sorted-struct two-pointer walk pays a per-doc
    * (hash + interpreted struct array_sort) cost that measured LARGER
    * than the intersect it saves here (1.37 → 1.77 s); it wins only
    * where a pushed-down threshold re-evaluates the intersect per pair
    * (the SSJoin and minhash verifies keep it). */
  private def consecutivePairCounts(s: SparkSession, d: String): DataFrame = {
    val docs = shingleHashDocs(s, d)
    docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      .join(docs.select(col("doc_id").as("id_b"), col("sh").as("sh_b")),
        col("id_b") === col("id_a") + 1)
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(LongType).as("n_common"),
        size(col("sh_a")).cast(LongType).as("n_a"),
        size(col("sh_b")).cast(LongType).as("n_b"))
  }

  def ngramJaccardConsecutive(s: SparkSession, d: String): DataFrame =
    consecutivePairCounts(s, d)
      .withColumn("jaccard",
        col("n_common").cast(DoubleType) / (col("n_a") + col("n_b") - col("n_common")))
      .orderBy(col("id_a"))

  /** Asymmetric CONTAINMENT between consecutive doc pairs — the
    * quote/sub-document detector Jaccard misses: a short doc fully
    * embedded in a long one scores containment(A→B) = |A∩B|/|A| ≈ 1
    * while its Jaccard stays near |A|/|B| ≈ 0. Both directions emitted
    * (the asymmetry IS the signal: which side is the fragment). Same
    * plan as the Jaccard calibration query — one id-equi-join of
    * shingle ARRAYS, array_intersect per pair, no shingle-keyed
    * shuffle; at scale the pair stream comes from the LSH blocker and
    * this scoring runs on survivors only. */
  def containmentConsecutive(s: SparkSession, d: String): DataFrame =
    consecutivePairCounts(s, d)
      .withColumn("contain_ab", col("n_common").cast(DoubleType) / col("n_a"))
      .withColumn("contain_ba", col("n_common").cast(DoubleType) / col("n_b"))
      .orderBy(col("id_a"))

  /** MinHash signatures: NUM_HASHES permutations simulated by seeded
    * xxhash64 re-hashes of each shingle; signature slot i = min hash
    * under seed i. One pass over the shingle rows with NUM_HASHES min
    * aggregates — map-side partial aggregation leaves one row per doc per
    * partition in the shuffle; no row amplification. */
  val NumHashes = 64
  val BandRows  = 2   // rows per band → 32 bands: P(candidate | j=0.5) ≈ 0.9999

  /** doc_id → sig array<long>(NumHashes). The shingle string is hashed
    * once per row; graft.functions.MinHashAgg derives all signature slots
    * in one buffer-update loop (a custom TypedImperativeAggregate — see
    * its scaladoc for the merge/partial-aggregation properties). */
  def minhashSignatures(sh: DataFrame): DataFrame = {
    graft.functions.Native.register(sh.sparkSession)
    sh.withColumn("h0", xxhash64(col("shingle")))
      .groupBy(col("doc_id"))
      .agg(graft.functions.Native.minhash(col("h0")).as("sig"))
  }

  /** MinHash + LSH banding near-dup pairs, exact-Jaccard verified.
    * Pipeline: shingle → signature → band-bucket equi-join for candidates
    * → exact Jaccard on candidates only → threshold. Output = all pairs
    * with true Jaccard ≥ 0.5 (banding at these params has ~1e-4 miss
    * probability at j=0.5, vanishing above it). Only 8-byte bucket keys
    * shuffle for candidate generation; shingle arrays travel once, for
    * the surviving candidates. */
  /** Near-dup PAIR SETS are stored per (corpus fingerprint, threshold)
    * — the signature/banding pipeline is an INDEX over the
    * corpus, built once and consumed by every downstream client
    * (near-dup listing, cluster components, decontamination), the same
    * build-once lifecycle as [[Similarity.trainedCentroids]]. The
    * checkpointed result is tiny (matched pairs only), so the cache
    * stores kilobytes while saving the shingle+signature scans. */
  def minhashLshPairs(s: SparkSession, d: String, threshold: Double = 0.5): DataFrame =
    Tables.dfArtifact(s, d, Seq("documents"), s"minhashLshPairs:$threshold")(
      minhashLshPairsUncached(s, d, threshold))

  private def minhashLshPairsUncached(s: SparkSession, d: String, threshold: Double): DataFrame = {
    val docs = shingleDocs(s, d)
    val sig = minhashSignatures(
      docs.select(col("doc_id"), explode(col("sh")).as("shingle")))
    // bucket key per band = hash of the band's signature slots
    val bandCols = (0 until NumHashes / BandRows).map { b =>
      val slots = (0 until BandRows).map(r =>
        element_at(col("sig"), b * BandRows + r + 1))
      struct(lit(b).as("band"), xxhash64(slots: _*).as("bucket"))
    }
    val bands = sig.select(col("doc_id"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
    val cands = bands.select(col("band"), col("bucket"), col("doc_id").as("id_a"))
      .join(bands.select(col("band"), col("bucket"), col("doc_id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    // exact verify on candidates only: join the shingle sets back in as
    // hash-ordered structs and count the intersection with the
    // allocation-free two-pointer walk (exact — string compare on hash
    // ties; array_intersect built a hash set per pair and got
    // re-evaluated wherever Catalyst inlined the threshold filter)
    graft.functions.Native.register(s)
    val docsSS = docs.select(col("doc_id"),
      size(col("sh")).cast(LongType).as("n"),
      array_sort(transform(col("sh"),
        x => struct(xxhash64(x).as("h"), x.as("t")))).as("ss"))
    cands
      .join(docsSS.select(col("doc_id").as("id_a"), col("ss").as("ss_a"),
        col("n").as("n_a")), Seq("id_a"))
      .join(docsSS.select(col("doc_id").as("id_b"), col("ss").as("ss_b"),
        col("n").as("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.Native.sortedStructIntersectCount(
          col("ss_a"), col("ss_b")).as("ni"),
        col("n_a"), col("n_b"))
      .withColumn("jaccard",
        col("ni").cast(DoubleType) / (col("n_a") + col("n_b") - col("ni")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Connected components over near-dup PAIRS — the last stage of a
    * production dedup pipeline: pairwise matches become clusters and
    * each cluster keeps exactly one document. Iterative min-label
    * propagation: each round joins the (symmetrized) edge list against
    * the current labels, takes the per-node minimum of own + neighbor
    * labels, and stops when no label changed — `diameter` rounds, one
    * shuffle-join + partial-aggregating min per round, lineage truncated
    * with localCheckpoint so the plan doesn't grow with iterations.
    * Each round ALSO shortcuts labels through their own label
    * (pointer jumping: component := component(component)), which halves
    * the remaining path length — convergence in O(log diameter) rounds,
    * so maxIters=20 covers chains up to ~2^20 even though near-dup
    * clusters are shallow in practice. Throws if not converged (silent
    * partial labels would be a correctness bug, not a degradation). */
  def components(nodes: DataFrame, edges: DataFrame, maxIters: Int = 20): DataFrame =
    // the per-round joins/aggregates move label rows (16 bytes each) —
    // at the session's shuffle width the per-task fixed costs dominate;
    // size rounds at 8 partitions (results are partition-invariant)
    graft.Tuning.withShufflePartitions(nodes.sparkSession, 8) {
    val sym = edges
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(true)
    var comp = nodes.select(col("doc_id"), col("doc_id").as("component"))
      .localCheckpoint(true)
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIters) {
      val nbr = sym
        .join(comp.select(col("doc_id").as("dst"), col("component")), Seq("dst"))
        .groupBy(col("src"))
        .agg(min(col("component")).as("nbr_component"))
      // carry the pre-round label as `prev` so convergence is decided
      // INSIDE this round's single action (below) — no separate
      // join+count job per round
      val propagated = comp
        .join(nbr.select(col("src").as("doc_id"), col("nbr_component")), Seq("doc_id"), "left")
        .select(col("doc_id"), col("component").as("prev"),
          least(col("component"),
            coalesce(col("nbr_component"), col("component"))).as("component"))
      // pointer jumping: follow one's label to ITS label (labels are
      // doc_ids, so this is a self-join), halving chain depth per round
      val jumped = propagated
        .join(propagated.select(col("doc_id").as("component"),
          col("component").as("jumped")), Seq("component"), "left")
        .select(col("doc_id"), col("prev"),
          least(col("component"),
            coalesce(col("jumped"), col("component"))).as("component"))
      // the changed-row count rides the checkpoint materialization as an
      // observed metric: ONE action (and its shuffles) per round total,
      // instead of checkpoint + a second join/count job over the result
      val obs = org.apache.spark.sql.Observation(s"components_r$it")
      val next = jumped
        .observe(obs,
          sum(when(col("component") < col("prev"), 1L).otherwise(0L)).as("n_changed"))
        .select(col("doc_id"), col("component"))
        .localCheckpoint(true)
      changed = obs.get("n_changed") match {
        case n: java.lang.Long => n.longValue
        case _                 => 0L // null sum ⇔ zero rows ⇔ converged
      }
      comp = next
      it += 1
    }
    require(changed == 0,
      s"components did not converge within $maxIters rounds")
    comp
    }

  /** Near-dup dedup CLUSTERS on the documents table: MinHash+LSH pairs
    * as edges (deterministic; equals the exact ≥0.5-Jaccard truth on the
    * fixtures — see minhashLshPairs), components via min-label
    * propagation, keeper = the cluster's minimum doc_id. Oracle: the
    * same pair set from exact SQL + a recursive-CTE transitive closure. */
  /** Cross-source DUPLICATION MATRIX — the curation dashboard built on
    * the near-dup pair index: how many verified near-dup pairs join
    * each (source, source) cell. A hot off-diagonal cell means one
    * domain is mirroring another (scraped mirrors, syndication) and
    * its mixture weight is overstated; a hot diagonal means intra-site
    * boilerplate. Reads the cached pair index (ids only), joins the
    * doc→source map twice, reduces to a sources² matrix — everything
    * after the index is metadata scale. */
  def sourceOverlap(s: SparkSession, d: String): DataFrame = {
    val pairs = minhashLshPairs(s, d).select(col("id_a"), col("id_b"))
    val srcs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    pairs
      .join(srcs.select(col("doc_id").as("id_a"), col("source").as("src_a")), Seq("id_a"))
      .join(srcs.select(col("doc_id").as("id_b"), col("source").as("src_b")), Seq("id_b"))
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  def nearDupComponents(s: SparkSession, d: String): DataFrame =
    components(
      Tables.documents(s, d).select(col("doc_id")),
      minhashLshPairs(s, d).select(col("id_a"), col("id_b")))
      .withColumn("is_keeper", col("doc_id") === col("component"))
      .orderBy(col("doc_id"))

  /** Near-dup cluster RETENTION — the keep-the-best policy real
    * pipelines layer over [[nearDupComponents]]'s keeper = min-doc_id
    * default: within each near-dup cluster keep the HIGHEST-QUALITY
    * member (ties to the lowest doc_id), reporting the cluster, the
    * survivor, its score, and the cluster size. One doc_id equi-join of
    * the component labels against the once-per-corpus scored table,
    * then a partial-aggregating `max_by` over a (quality, −doc_id)
    * struct ordering — the argmax never sorts the cluster, and the
    * output is one row per cluster (metadata scale at 100 TB; the
    * deletion list is the complement, same join shape). */
  def keepBestPerCluster(s: SparkSession, d: String): DataFrame =
    keepBestUnordered(s, d).orderBy(col("cluster_id"))

  /** The unordered keep-best table behind [[keepBestPerCluster]] —
    * consumed directly by the index tombstone derivation
    * ([[TextOps.tombstones]]) so "no presentation sort under the
    * anti-join" is structural, not an EliminateSorts outcome. */
  private[graft] def keepBestUnordered(s: SparkSession, d: String): DataFrame =
    // the unsorted component labels: nearDupComponents' presentation
    // orderBy would be dead weight under the join + aggregate here
    components(
      Tables.documents(s, d).select(col("doc_id")),
      minhashLshPairs(s, d).select(col("id_a"), col("id_b")))
      .join(TextOps.scoredDocs(s, d)
        .select(col("doc_id"), col("quality_score")), Seq("doc_id"))
      .groupBy(col("component").as("cluster_id"))
      .agg(
        max_by(struct(col("doc_id"), col("quality_score")),
          struct(col("quality_score"), (-col("doc_id")).as("nid"))).as("best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), col("best.doc_id").as("kept_doc_id"),
        col("best.quality_score").as("kept_quality"), col("n_members"))

  /** Train/test DECONTAMINATION — the corpus-hygiene op every training
    * pipeline runs before eval: find test-split documents whose content
    * leaks from the train split, either verbatim (same content hash) or
    * as a near-duplicate (≥0.5 shingle Jaccard via the LSH pair set).
    * Pure composition of already-proven parts: [[TextOps.hashSplit]]
    * (coordination-free split) ⋈ content fingerprints ⋈
    * [[minhashLshPairs]] — every join an equi-join on hashes/ids, no
    * new shuffle shape. One row per contaminated (test, train) pair,
    * reason = 'exact' before 'neardup' when both hold. */
  def decontaminate(s: SparkSession, d: String): DataFrame = {
    // The split is a PURE FUNCTION of doc_id (TextOps.splitOf — the
    // same coordination-free property contaminationFraction pushes
    // into its scan), so it is computed as a column expression, never
    // joined: the previous shape joined the materialized hashSplit
    // table FOUR times (once per fp side, once per pair side), and
    // since a referenced DataFrame re-executes its subtree that was
    // four extra corpus scans + four doc-keyed shuffles carrying
    // nothing but a value derivable from the join key itself. The
    // exact-dup self-join keeps one pruned scan per side (filters
    // pushed into each scan); the near-dup side is a single pass over
    // the checkpointed LSH pair index with both split tags evaluated
    // in place and the two direction cases folded into one projection.
    val sp = (id: Column) => TextOps.splitOf(id)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("fp"), sp(col("doc_id")).as("split"))
    val exactPairs = docs.filter(col("split") === "train")
      .select(col("doc_id").as("train_id"), col("fp"))
      .join(docs.filter(col("split") === "test")
        .select(col("doc_id").as("test_id"), col("fp")), Seq("fp"))
      .select(col("test_id"), col("train_id"), lit("exact").as("reason"))
    val nearPairs = minhashLshPairs(s, d)
      .select(col("id_a"), col("id_b"),
        sp(col("id_a")).as("sp_a"), sp(col("id_b")).as("sp_b"))
      .filter((col("sp_a") === "train" && col("sp_b") === "test") ||
        (col("sp_a") === "test" && col("sp_b") === "train"))
      .select(
        when(col("sp_a") === "test", col("id_a")).otherwise(col("id_b")).as("test_id"),
        when(col("sp_a") === "test", col("id_b")).otherwise(col("id_a")).as("train_id"),
        lit("neardup").as("reason"))
    exactPairs.unionByName(nearPairs)
      .groupBy(col("test_id"), col("train_id"))
      .agg(min(col("reason")).as("reason"))
      .orderBy(col("test_id"), col("train_id"))
  }

  /** Per-test-document CONTAMINATION FRACTION — the standard n-gram
    * overlap metric (the k-gram membership test of published LLM eval
    * decontamination): for each test-split document, the fraction of
    * its DISTINCT k-token grams that occur anywhere in the train
    * split. [[decontaminate]] lists leaked pairs; this scores every
    * test doc on the continuous [0,1] scale eval reports use.
    *
    * Scale shape: grams key as the dupspans 128-bit xxhash64 pair
    * (fixed-width shuffle, gram strings never travel; collision-union
    * bound W²/2¹²⁹). The train side reduces to ONE row per distinct
    * gram before the join, so a corpus-hot boilerplate gram cannot
    * amplify — the test⋈train semi-join is 1:≤1 per test gram row.
    * Short test docs (no complete gram) surface with frac 0, not
    * silently dropped. */
  def contaminationFraction(s: SparkSession, d: String, k: Int = 8): DataFrame = {
    require(k >= 2, s"contaminationFraction needs k >= 2, got $k")
    val split = TextOps.hashSplit(s, d)
    // Per-split gram derivation with the split PUSHED INTO THE SCAN:
    // the split is a pure function of doc_id (TextOps.splitOf), so each
    // side explodes ONLY its own documents. The previous shape derived
    // a full-corpus distinct-gram table and semi-joined the split in
    // AFTER it — and because Spark shares no subtree without
    // materialization, that ~100-grams-per-doc explode+distinct
    // re-executed once for the train branch, once for the test branch,
    // and twice more for the matched/totals consumers of the test
    // branch: ~4 full-corpus gram passes per run (the round-14 gen1000x
    // sweep read 179.6 s, almost all of it this). Now the train pass
    // runs once over its 13/16 of the corpus and the test pass over its
    // 1/16, checkpointed below so its two consumers read instead of
    // re-deriving — at 100 TB the train side is the corpus-scale pass
    // and the test side is a small table, which is exactly how an eval
    // decontamination job shapes its IO.
    def gramsOf(subset: String): DataFrame = Tables.documents(s, d)
      .filter(TextOps.splitOf(col("doc_id")) === subset)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .withColumn("n_windows",
        greatest(size(col("toks")) - (k - 1), lit(0)).cast(LongType))
      .filter(col("n_windows") > 0)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1L), col("n_windows")),
          i => array_join(slice(col("toks"), i.cast(IntegerType), lit(k)), " ")))
          .as("gram"))
      .select(col("doc_id"),
        xxhash64(col("gram")).as("h1"),
        xxhash64(lit(17L), col("gram")).as("h2"))
      .distinct() // membership is per distinct gram, per doc
    // The train-gram TYPE TABLE is the corpus-scale pass (380M distinct
    // gram hashes at 5M docs — the round-14 gen1000x wall was almost
    // entirely this distinct, re-run every execution) and it is a pure
    // function of the corpus snapshot + k, i.e. index-shaped: persist
    // it as a content-addressed parquet sidecar exactly like pqCodes /
    // the pair indexes. A later run — warm OR a cold JVM — reads two
    // 8-byte hash columns instead of re-exploding 13/16 of the corpus.
    // Row order is irrelevant (semi-join probe side only), matching the
    // dfArtifact contract.
    val trainGrams = Tables.dfArtifact(s, d, Seq("documents"),
      s"contamTrainGrams:k=$k")(
      gramsOf("train").select(col("h1"), col("h2")).distinct())
    // the test side is 1/16 of the corpus — small enough to pin for its
    // two consumers (matched + totals) without a size gate. LAZY
    // checkpoint inside the artifact memo: building the plan (explain /
    // plan-audit tooling) triggers no scan; the first ACTION
    // materializes it once per (session, corpus, k) and repeat calls
    // reuse the memoized frame instead of re-checkpointing.
    val testGrams = Tables.artifact(s, d, Seq("documents"),
      s"contamTestGrams:k=$k")(gramsOf("test").localCheckpoint(false))
    val matched = testGrams.join(trainGrams, Seq("h1", "h2"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_matched"))
    val totals = testGrams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    split.filter(col("split") === "test").select(col("doc_id"))
      .join(totals, Seq("doc_id"), "left")
      .join(matched, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"))
      .withColumn("contam_frac",
        when(col("n_grams") === 0L, lit(0.0))
          .otherwise(col("n_matched").cast(DoubleType) / col("n_grams")))
      .orderBy(col("doc_id"))
  }

  /** 64-bit SimHash per document: per bit j, sum ±1 weighted by whether
    * bit j of each shingle hash is set; bit j of the signature = sign.
    * One explode + one 64-column aggregate — no shuffle of text.
    * The per-shingle hash is the native RollingHash (not xxhash64) so
    * the ENTIRE signature is reproducible in the DuckDB oracle via the
    * same HUGEINT mod-2^64 fold proven for q_text_rollhash — hash
    * quality is equivalent for sketching (avalanche per byte via the
    * 1000003 multiplier), and the sketch becomes hash-checkable. */
  def simhashSignatures(s: SparkSession, d: String): DataFrame = {
    graft.functions.Native.register(s)
    val sh = shingleRows(s, d)
      .withColumn("h", graft.functions.Native.rollingHash(col("shingle")))
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftrightunsigned(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"b$j")
    }
    val agg = sh.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 64).map { j =>
      when(col(s"b$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    agg.select(col("doc_id"), sig.as("simhash")).orderBy(col("doc_id"))
  }

  /** SimHash near-dup pairs: bucket by each of the four 16-bit chunks
    * (any pair within Hamming distance ≤ 3 of a 64-bit hash must agree on
    * at least one chunk — pigeonhole), then verify Hamming ≤ maxDist. */
  def simhashPairs(s: SparkSession, d: String, maxDist: Int = 3): DataFrame = {
    val sig = simhashSignatures(s, d)
    val chunks = sig.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk"),
          shiftrightunsigned(col("simhash"), c * 16).bitwiseAND(lit(0xFFFFL))
            .as("key"))): _*)).as("ck"))
      .select(col("doc_id"), col("simhash"), col("ck.chunk"), col("ck.key"))
    val cands = chunks.select(col("chunk"), col("key"),
        col("doc_id").as("id_a"), col("simhash").as("sh_a"))
      .join(chunks.select(col("chunk"), col("key"),
        col("doc_id").as("id_b"), col("simhash").as("sh_b")), Seq("chunk", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b")).distinct()
    cands
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast(LongType))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** EXACT set-similarity self-join via PREFIX FILTERING (the
    * SSJoin/PPJoin family): ALL same-source document pairs with
    * token-set Jaccard ≥ tNum/tDen, with no approximation — the exact
    * counterpart of the MinHash path, for thresholds high enough that
    * candidates stay sparse. Scoped WITHIN source (the crawl-dedup
    * shape: re-fetched snapshots of one domain) by carrying source in
    * the candidate join key; the global variant is the identical plan
    * minus that key.
    *
    * Prefix-filter lemma: fix any global total order on tokens and sort
    * each doc's distinct tokens by it. If |A∩B| ≥ α, the first
    * |A|−α+1 tokens of A must contain an intersection token (removing
    * them leaves only α−1 < |A∩B| slots), and symmetrically for B; in
    * particular the order-SMALLEST common token sits in both prefixes.
    * J(A,B) ≥ t implies |A∩B| ≥ ⌈t·|A|⌉, so joining on prefix tokens of
    * length |A|−⌈t·|A|⌉+1 misses no qualifying pair. At t=0.9 the
    * prefix is ~10% of each doc — candidate generation touches a tenth
    * of the postings an all-token join would.
    *
    * The global order here is xxhash64(token), not corpus frequency:
    * ANY total order is correct (the lemma above never uses frequency),
    * and the hash order is computable per row with no df-table join or
    * broadcast-the-vocabulary step — the df-keyed join is exactly the
    * hot-token funnel the novelty fix removed, and a 100 TB vocabulary
    * doesn't broadcast. The price is rarity-optimality: frequency order
    * would put the rarest tokens in prefixes and generate fewer
    * candidates. Candidates carry 16-byte ids only; token arrays join
    * back for exact verification (array_intersect) after the pair set
    * is distinct. The size filter tDen·|B| ≥ tNum·|A| (integer, no
    * float boundary) prunes length-incompatible pairs pre-verify; the
    * final threshold test is integer too (tDen·common ≥ tNum·union), so
    * the oracle is rows-exact. */
  /** Tokenized + hash-order-sorted docs, checkpointed per corpus: the
    * staged tokenization artifact every set-similarity pass consumes.
    * Without it the parse + array_sort subtree re-executes once per use
    * site (the candidate self-join alone plans it twice). */
  private def tokenizedDocs(s: SparkSession, d: String): DataFrame =
    Tables.artifact(s, d, Seq("documents"), "tokenizedDocs")(
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          array_distinct(TextOps.tokens(col("text"))).as("tk"))
        .filter(size(col("tk")) > 0)
        .select(col("doc_id"), col("source"), col("tk"),
          size(col("tk")).cast(LongType).as("n"),
          array_sort(transform(col("tk"), t => struct(xxhash64(t).as("h"), t.as("t"))))
            .as("st"))
        .localCheckpoint(true))

  def prefixSimJoin(s: SparkSession, d: String,
      tNum: Int = 9, tDen: Int = 10): DataFrame = {
    // tokens pre-sorted by the global hash order (checkpointed);
    // prefix = first n-ceil(t*n)+1 of them
    val docs = tokenizedDocs(s, d)
    // ⌈tNum·n/tDen⌉ = floor((tNum·n + tDen−1)/tDen): quotient doubles are
    // exact at integer values and can't cross the next integer otherwise,
    // so floor() is the exact integer ceiling (Column `/` is double division)
    val ceilTn = floor((lit(tNum.toLong) * col("n") + (tDen - 1)) / lit(tDen))
    val prefLen = (col("n") - ceilTn + 1).cast(IntegerType)
    val pref = docs.select(col("doc_id"), col("source"), col("n"),
      explode(slice(col("st"), lit(1), prefLen)).as("p"))
      .select(col("doc_id"), col("source"), col("n"), col("p.t").as("token"))
    val cands = pref.select(col("source"), col("token"),
        col("doc_id").as("id_a"), col("n").as("n_a"))
      .join(pref.select(col("source"), col("token"),
        col("doc_id").as("id_b"), col("n").as("n_b")),
        Seq("source", "token"))
      .filter(col("id_a") < col("id_b") &&
        col("n_b") * tDen >= col("n_a") * tNum &&
        col("n_a") * tDen >= col("n_b") * tNum)
      .select(col("id_a"), col("id_b")).distinct()
    // verify rides the hash-ordered token structs the prefix filter
    // already materialized: the two-pointer SortedStructIntersectCount
    // is exact (string compare on hash ties) and allocation-free, where
    // size(array_intersect(...)) built a hash set per evaluation — and
    // Catalyst pushes the Jaccard filter into the join condition, so
    // each candidate pair paid that three times (measured 4.8 s → see
    // bench; the intersect was the whole verify cost at 184k candidates)
    graft.functions.Native.register(s)
    val verify = cands
      .join(docs.select(col("doc_id").as("id_a"), col("st").as("st_a"),
        col("n").as("n_a")), Seq("id_a"))
      .join(docs.select(col("doc_id").as("id_b"), col("st").as("st_b"),
        col("n").as("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.Native.sortedStructIntersectCount(
          col("st_a"), col("st_b")).as("n_common"),
        col("n_a"), col("n_b"))
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_common"))
    verify
      .filter(col("n_common") * tDen >= col("n_union") * tNum)
      .select(col("id_a"), col("id_b"), col("n_common"), col("n_union"),
        (col("n_common").cast(DoubleType) / col("n_union")).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }
}
