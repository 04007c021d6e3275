package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines
  * (north-star extensions beyond the reference surface; BASELINE.json).
  *
  * All pure column expressions (codegen'd, no UDFs): every op is
  * embarrassingly parallel per document — no shuffle at all until an
  * explicit aggregate, so the ops scale linearly with executors at 100 TB.
  */
object TextOps {

  /** Whitespace tokens of the lowercased, trimmed text. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** TOKENIZED VIEW of the documents table — one (doc_id, source,
    * token) row per token occurrence, empty tokens dropped. Nine
    * token-frequency operators (vocab top-k, Zipf, rarity, entropy,
    * TF-IDF both directions, BM25/RAG, the LM vocab) each re-read and
    * re-split the raw text; at 100 TB re-tokenizing the corpus per
    * query is the anti-pattern — a production pipeline materializes
    * the tokenized view once and every frequency job reads it (the
    * returns-table lifecycle). Build-once per (session, corpus);
    * Bench's cold leg carries the build. Size-gated like the window
    * arrays: past [[TokenArtifactMaxDocs]] the checkpoint (token rows
    * ≈ avg-doc-length × docs) stops being a storage win and consumers
    * recompute the split inline — the pre-artifact plan. */
  private[graft] val TokenArtifactMaxDocs = 1000000L

  private[graft] def docTokens(s: SparkSession, d: String): DataFrame = {
    def build: DataFrame = {
      val docs = Tables.documents(s, d)
      // source rides along when the fixture carries it (the per-source
      // consumers need it); minimal synthetic fixtures may not
      val cols = Seq(col("doc_id")) ++
        (if (docs.columns.contains("source")) Seq(col("source")) else Nil) ++
        Seq(explode(tokens(col("text"))).as("token"))
      docs.select(cols: _*).filter(length(col("token")) > 0)
    }
    if (Tables.rowCount(s, d, "documents") > TokenArtifactMaxDocs) build
    else Tables.artifact(s, d, Seq("documents"), "docTokens")(
      build.localCheckpoint(true))
  }

  /** Deterministic content-hash train/val/test split: the first hex
    * digit of md5(key) buckets each document 13/2/1 sixteenths — a
    * coordination-free, reproducible dataset split (any worker computes
    * the same assignment from the key alone; no sampling state, no
    * shuffle). The standard way training corpora are split at scale. */
  /** The split assignment as a pure COLUMN over a doc_id column — the
    * coordination-free property that makes the split usable as a scan
    * PREDICATE: a consumer that needs only one split's documents
    * filters before any explode/join instead of joining the full split
    * table after (contaminationFraction pushes it into the gram scan). */
  private[graft] def splitOf(docId: Column): Column = {
    val h1 = substring(md5(docId.cast(StringType)), 1, 1)
    when(h1 <= "c", "train").when(h1 <= "e", "val").otherwise("test")
  }

  def hashSplit(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), splitOf(col("doc_id")).as("split"))
      .orderBy(col("doc_id"))

  /** End-to-end CORPUS CURATION — the composition a training-data user
    * actually runs: keep a document iff it (a) passes the quality
    * threshold, (b) is identified as the target language, and (c) is its
    * exact-dup group's keeper (lowest doc_id per content hash). Pure
    * composition of the existing operators via equi-joins on doc_id —
    * each input is embarrassingly parallel, the joins are same-key hash
    * joins, and at 100 TB each stage is independently checkpointable.
    * Near-dup curation swaps (c) for Dedup.nearDupComponents keepers —
    * same join shape. */
  def curateCorpus(s: SparkSession, d: String, minQuality: Double = 0.5,
      lang: String = "en"): DataFrame = {
    // ONE text scan: the quality and language projections are per-row
    // column expressions over the same text ([[withQualityCols]] /
    // [[withLangCols]] — the exact builders behind q_text_quality and
    // q_text_langid, so the values cannot drift), and the exact-dup
    // keeper test is a min-doc_id window over the content hash instead
    // of a groupBy + semi-join back. The previous three-way composition
    // (quality ⋈ langId ⋈semi keepers) re-scanned and RE-TOKENIZED the
    // corpus once per input — three full text parses and two doc-keyed
    // join shuffles for one row-local predicate. Here the corpus text
    // is parsed once and the only shuffle is the content-hash window
    // (narrow post-projection rows, no text travels).
    withLangCols(withQualityCols(Tables.documents(s, d)))
      .select(col("doc_id"), col("n_tokens"), col("quality_score"),
        col("predicted"), md5(col("text")).as("h"))
      .withColumn("keep_id", min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .filter(col("doc_id") === col("keep_id") &&
        col("quality_score") >= minQuality && col("predicted") === lang)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
      .orderBy(col("doc_id"))
  }

  /** Vocabulary pass: global top-k tokens by frequency (tokenizer-
    * training prep). Explode → partial/final count aggregate (map-side
    * combine: one row per distinct token per partition shuffles) →
    * TakeOrderedAndProject for the top-k; ties broken by token text so
    * the result is deterministic. */
  def topTokens(s: SparkSession, d: String, k: Int = 20): DataFrame =
    docTokens(s, d)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(k)

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** [[quality]]'s projection WITHOUT the presentation sort — staging
    * paths (the once-per-corpus scored table) write this directly so
    * the corpus-wide range sort never runs where on-disk order is
    * irrelevant; [[quality]] adds the orderBy for its oracle contract. */
  /** Append the per-row quality columns to a DF that carries `text` —
    * the ONE definition of the quality metrics, consumed by
    * [[quality]] (via [[qualityScored]]) and fused into
    * [[curateCorpus]]'s single-scan plan. Other columns pass through. */
  private[ops] def withQualityCols(df: DataFrame): DataFrame = {
    val nTokens = when(length(trim(col("text"))) === 0, lit(0L))
      .otherwise(size(tokens(col("text"))).cast(LongType))
    val nPunct = (length(col("text")) -
      length(regexp_replace(col("text"), "[.,;:!?]", ""))).cast(LongType)
    val nStop = size(filter(tokens(col("text")),
      t => t.isInCollection(stopwords))).cast(LongType)
    df
      .withColumn("n_chars2", length(col("text")).cast(LongType))
      .withColumn("n_tokens", nTokens)
      .withColumn("n_punct", nPunct)
      .withColumn("n_stop", nStop)
      .withColumn("punct_ratio",
        when(col("n_chars2") > 0, col("n_punct").cast(DoubleType) / col("n_chars2"))
          .otherwise(lit(0.0)))
      .withColumn("stop_ratio",
        when(col("n_tokens") > 0, col("n_stop").cast(DoubleType) / col("n_tokens"))
          .otherwise(lit(0.0)))
      .withColumn("quality_score",
        col("stop_ratio") * 0.5 +
          least(lit(1.0), col("n_tokens").cast(DoubleType) / 100.0) * 0.3 +
          (lit(1.0) - col("punct_ratio")) * 0.2)
  }

  private def qualityScored(s: SparkSession, d: String): DataFrame =
    withQualityCols(Tables.documents(s, d))
      .select(col("doc_id"), col("n_chars2"), col("n_tokens"), col("n_punct"),
        col("n_stop"), col("punct_ratio"), col("stop_ratio"), col("quality_score"))

  /** Document quality scoring: length, token count, punctuation ratio,
    * stopword ratio, and a deterministic composite score. */
  def quality(s: SparkSession, d: String): DataFrame =
    qualityScored(s, d).orderBy(col("doc_id"))

  /** Token counting two ways: whitespace tokens and a BPE-ish regex
    * lexer (letter runs / digit runs / single non-space symbols) — the
    * standard pre-tokenizer shape for LLM data work. */
  def tokenCounts(s: SparkSession, d: String): DataFrame = {
    val bpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
    val nWs = when(length(trim(col("text"))) === 0, lit(0L))
      .otherwise(size(tokens(col("text"))).cast(LongType))
    Tables.documents(s, d)
      .select(col("doc_id"), nWs.as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit(bpePattern), lit(0)))
          .cast(LongType).as("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Marker-token language ID (n-gram-heuristic family): score each
    * language by its marker-word hits, pick the argmax with a fixed
    * tie-break order. Deterministic, so it stays oracle-comparable. */
  private val langMarkers = Seq(
    "s_en" -> Seq("the", "and", "of", "to", "in"),
    "s_fr" -> Seq("le", "la", "les", "et", "des"),
    "s_de" -> Seq("der", "die", "und", "das", "ein"),
    "s_es" -> Seq("el", "los", "las", "que", "una"))

  /** Append the marker scores + `predicted` to a DF that carries
    * `text` — the ONE definition of the language heuristic, consumed
    * by [[langId]] and fused into [[curateCorpus]]'s single-scan plan. */
  private[ops] def withLangCols(df: DataFrame): DataFrame =
    langMarkers.foldLeft(df) { case (acc, (name, ws)) =>
      acc.withColumn(name,
        size(filter(tokens(col("text")), t => t.isInCollection(ws))).cast(LongType))
    }
      .withColumn("predicted",
        when(col("s_en") >= col("s_fr") && col("s_en") >= col("s_de") &&
          col("s_en") >= col("s_es"), lit("en"))
          .when(col("s_fr") >= col("s_de") && col("s_fr") >= col("s_es"), lit("fr"))
          .when(col("s_de") >= col("s_es"), lit("de"))
          .otherwise(lit("es")))

  def langId(s: SparkSession, d: String): DataFrame =
    withLangCols(Tables.documents(s, d))
      .select(col("doc_id"), col("s_en"), col("s_fr"), col("s_de"), col("s_es"),
        col("predicted"))
      .orderBy(col("doc_id"))

  /** Document fingerprinting: whitespace-normalized lowercase text → md5.
    * The canonical cheap content fingerprint for exact-dup detection at
    * scale (hash first, never shuffle raw text). */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp"))
      .orderBy(col("doc_id"))

  /** Rolling-hash fingerprint via the native codegen expression
    * (graft.functions.RollingHash): one multiply-add per byte inside
    * whole-stage codegen — an order of magnitude cheaper than md5 when
    * only collision-resistance-against-accident is needed. */
  def rollingFingerprint(s: SparkSession, d: String): DataFrame = {
    graft.functions.Native.register(s)
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.Native.rollingHash(
          regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("rh"))
      .orderBy(col("doc_id"))
  }

  /** Distinct 2-token bigrams per document (UDF over the split-once
    * token array for the same interpreted-HOF-inlining reason as
    * Dedup.shingles — see that scaladoc; only set membership is
    * consumed downstream). */
  private val bigramUdf = org.apache.spark.sql.functions.udf { (toks: Seq[String]) =>
    if (toks.length < 2) Seq.empty[String]
    else toks.sliding(2).map(_.mkString(" ")).toVector.distinct
  }

  /** Bigram NOVELTY — the fraction of a document's distinct bigrams
    * that occur in NO other document: a corpus-level
    * diversity/boilerplate signal (template-heavy docs score ≈0, novel
    * prose ≈1). The only floating-point op is one final division of
    * exact counts, so the oracle is value-exact with no decimal routing.
    *
    * Skew-proof by construction: NO join ever runs on the bigram key.
    * Bigrams are distinct per document, so a df==1 bigram has exactly
    * one occurrence row — its owning doc_id rides the same partial-
    * aggregating groupBy that computes df (min(doc_id) over a single
    * row IS that row). A stop-bigram like "of the" (present in nearly
    * every document at 100 TB) contributes one row per map partition to
    * the shuffle (map-side combine), then dies at the df==1 filter.
    * The denominator `n_bigrams` is a plain per-doc count of the
    * exploded bigrams; the final assembly is a left join on doc_id —
    * unique on both sides, skew-free. */
  def bigramNovelty(s: SparkSession, d: String): DataFrame = {
    val bg = Tables.documents(s, d)
      .select(col("doc_id"), explode(bigramUdf(tokens(col("text")))).as("bigram"))
    val perDoc = bg.groupBy(col("doc_id")).agg(count(lit(1)).as("n_bigrams"))
    val uniquePerDoc = bg.groupBy(col("bigram"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("doc_id"))
      .filter(col("df") === 1L)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_unique"))
    perDoc.join(uniquePerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_bigrams"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"))
      .withColumn("novelty",
        col("n_unique").cast(org.apache.spark.sql.types.DoubleType) / col("n_bigrams"))
      .orderBy(col("doc_id"))
  }

  /** ALL bigrams of the token array, repeats included — [[bigramUdf]]'s
    * multiset cousin for repetition measurement (same UDF justification:
    * the sliding window over a split-once array; an interpreted-HOF
    * formulation would re-inline the split per use). */
  private val bigramAllUdf = org.apache.spark.sql.functions.udf { (toks: Seq[String]) =>
    if (toks.length < 2) Seq.empty[String]
    else toks.sliding(2).map(_.mkString(" ")).toVector
  }

  /** Intra-document REPETITION scoring (Gopher-style quality signals):
    * the fraction of a document's bigram occurrences taken by its
    * single most-repeated bigram (`rep_frac` — boilerplate and
    * keyword-stuffed docs score high), plus the distinct-token ratio
    * (`ttr`, type-token ratio — degenerate repetition scores low).
    * Every number is a ratio of exact integer counts, so the oracle is
    * value-exact with no decimal routing.
    *
    * Scale shape: the only shuffles key on (doc_id, bigram) and doc_id
    * — the document id is always in the key, so a corpus-wide hot
    * bigram never funnels one reducer (unlike a raw-bigram key); task
    * width is bounded by document length. */
  def repetition(s: SparkSession, d: String): DataFrame = {
    // r18 NEGATIVE, kept as the two-pass shape: a single-scan fusion
    // (explode_outer carrying n_tokens/n_distinct through the two
    // bigram aggregations) measured 0.67x warm and 0.24x cold in a
    // same-host back-to-back A/B at sf0.1 — the carried columns widen
    // every (doc, bigram) shuffle row and the NULL-group plumbing adds
    // an aggregate, costing more than the saved re-tokenize. Two
    // linear parses is the better trade at every scale measured.
    val t = Tables.documents(s, d).select(col("doc_id"), tokens(col("text")).as("toks"))
    val perTok = t.select(col("doc_id"),
      size(col("toks")).cast(LongType).as("n_tokens"),
      size(array_distinct(col("toks"))).cast(LongType).as("n_distinct"))
    val bg = t.select(col("doc_id"), explode(bigramAllUdf(col("toks"))).as("bigram"))
    val rep = bg.groupBy(col("doc_id"), col("bigram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_count"))
    perTok.join(rep, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_distinct").cast(DoubleType) / col("n_tokens")).as("ttr"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("top_count"), lit(0L)).as("top_count"),
        when(col("n_bigrams").isNull, lit(0.0))
          .otherwise(col("top_count").cast(DoubleType) / col("n_bigrams"))
          .as("rep_frac"))
      .orderBy(col("doc_id"))
  }

  /** Corpus-frequency RARITY scoring: annotate each document with the
    * mean and minimum CORPUS frequency of its tokens — the
    * frequency-based filter of a curation pipeline (docs dominated by
    * near-unique garbage tokens sit at low min/mean; pure-boilerplate
    * docs at high mean). Two passes: the corpus vocabulary aggregate
    * (map-side combined), then a BROADCAST join of the vocab onto the
    * exploded tokens — broadcast is the skew story: a hot token like
    * "the" joins map-side everywhere, no token-keyed shuffle exists.
    * At 100 TB a full vocab can exceed broadcast budgets; the
    * production variant broadcasts the top-K head and coalesces the
    * long tail to a default count — same plan shape. Sums and counts
    * are exact integers; the one division is oracle-exact. */
  def tokenRarity(s: SparkSession, d: String): DataFrame = {
    val tok = docTokens(s, d).select(col("doc_id"), col("token"))
    val vocab = tok.groupBy(col("token")).agg(count(lit(1)).as("tf"))
    tok.join(broadcast(vocab), Seq("token"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("tf")).as("sum_tf"),
        min(col("tf")).as("min_tf"))
      .select(col("doc_id"), col("n_tokens"),
        (col("sum_tf").cast(DoubleType) / col("n_tokens")).as("mean_tf"),
        col("min_tf"))
      .orderBy(col("doc_id"))
  }

  /** Text scrubbing: mask emails then digit runs — the privacy/cleaning
    * pass of a corpus pipeline. Pure per-row regexp_replace (codegen'd,
    * zero shuffle); patterns are RE2-safe so the identical regexes run
    * in the DuckDB oracle (with its 'g' flag matching Spark's
    * replace-all default). */
  def scrub(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        regexp_replace(
          regexp_replace(col("text"),
            "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
          "[0-9]+", "<NUM>").as("scrubbed"))
      .orderBy(col("doc_id"))

  /** RAG-style document chunking: overlapping token windows of `size`
    * tokens at `stride` (size − stride = overlap), one output row per
    * chunk. Pure per-document expressions — `sequence` + `posexplode`
    * generate the chunk indices, `slice`/`array_join` cut each window
    * (builtin array functions, NOT lambda HOFs — no interpreted
    * inlining) — so the op is embarrassingly parallel and its output
    * volume is rows × (1 + overlap fraction), the exact shape a
    * context-window ingest wants at 100 TB. Whitespace-empty documents
    * produce no chunks (same filter in the oracle). */
  def chunkDocs(s: SparkSession, d: String, chunkSize: Int = 64,
      stride: Int = 48): DataFrame = {
    require(stride >= 1 && chunkSize >= stride, "need 1 <= stride <= chunkSize")
    val toks = tokens(col("text"))
    val n = size0(toks)
    val nChunks = when(n <= chunkSize, lit(1L))
      .otherwise(floor((n - lit(chunkSize) + lit(stride - 1)) / lit(stride.toDouble))
        .cast(LongType) + lit(1L))
    val chunk = slice(col("_toks"),
      (col("chunk_idx") * stride + 1).cast(IntegerType), lit(chunkSize))
    Tables.documents(s, d)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), toks.as("_toks"), nChunks.as("_nc"))
      .select(col("doc_id"), col("_toks"),
        posexplode(sequence(lit(0L), col("_nc") - 1)))
      .withColumnRenamed("col", "chunk_idx")
      .select(col("doc_id"), col("chunk_idx"),
        size(chunk).cast(LongType).as("n_chunk_tokens"),
        array_join(chunk, " ").as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  private def size0(toks: Column): Column = size(toks).cast(LongType)

  /** Concatenation packing: documents pack greedily into fixed token
    * budgets, GPT-style — per stream, documents concatenate in doc_id
    * order and context windows cut every `budget` tokens; each document
    * records the pack its first token lands in and its offset there.
    * All-integer prefix sums (exact at any grouping). Parallelism is
    * the `nStreams` parameter itself: each stream packs independently
    * (one in-partition sort per stream), so at 100 TB nStreams scales
    * with the cluster — there is no global sequential order to respect,
    * only within-stream order, which is the packing contract. */
  def packDocs(s: SparkSession, d: String, budget: Int = 512,
      nStreams: Int = 32): DataFrame = {
    val n = when(length(trim(col("text"))) === 0, lit(0L))
      .otherwise(size0(tokens(col("text"))))
    val w = Window.partitionBy(col("stream")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables.documents(s, d)
      .select(col("doc_id"), pmod(col("doc_id"), lit(nStreams.toLong)).as("stream"),
        n.as("n_tokens"))
      .withColumn("_cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("stream"), col("n_tokens"),
        floor((col("_cum") - col("n_tokens")) / lit(budget.toDouble))
          .cast(LongType).as("pack_id"),
        pmod(col("_cum") - col("n_tokens"), lit(budget.toLong)).as("pack_offset"))
      .orderBy(col("doc_id"))
  }

  /** BM25 top-k retrieval (Okapi, k1 = 1.2, b = 0.75) for a fixed
    * query-token set — the ranking stage of a retrieval/RAG pipeline,
    * straight from the public Robertson–Walker formula. Scale shape:
    * the exploded token stream is filtered to the tiny query
    * vocabulary BEFORE any aggregation (an `isin` on the scan side; at
    * 100 TB the block-sharded [[invertedPostings]] index serves the
    * same candidate stream by (token, block) pruning instead of a
    * corpus re-scan); tf and df aggregate map-side combined over
    * output-sensitive keys (only docs containing a query token ever
    * shuffle, as slim (doc_id, token, count) rows); per-doc length is
    * a scan-side expression (no shuffle to compute); and the two
    * corpus constants (N, Σdl) are ONE aggregate row cross-joined as a
    * broadcast. The floating-point trap of distributed BM25 is the
    * per-doc score SUM — double addition is partition-order-dependent
    * — so each per-term score is cast to DECIMAL(18,8) FIRST and the
    * decimals are summed: bit-identical under any partitioning, which
    * is what lets a floating-point ranking function carry a
    * value-exact DuckDB oracle. Final top-k is TakeOrderedAndProject
    * (per-partition heaps), never a global sort. */
  def bm25TopK(s: SparkSession, d: String,
      queryTokens: Seq[String] = Seq("vector", "hash", "dup"),
      k: Int = 10): DataFrame = {
    // per-doc length reads the once-per-corpus scored table: n_tokens
    // there is when(trim(text)='',0).otherwise(size(tokens(text))), and
    // tokens() trims before splitting on \s+, so the only possible empty
    // token is the single "" that split('') yields — exactly the case
    // the 0-branch covers. n_tokens ≡ size(filter(tokens, len>0)) for
    // EVERY input, so reading it replaces a full corpus re-tokenize
    // (this dl subtree executes twice: stats + the norms join) with two
    // scans of the 3-column numeric sidecar.
    val dl = scoredDocs(s, d).select(col("doc_id"), col("n_tokens").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val toks = docTokens(s, d).select(col("doc_id"), col("token"))
      .filter(col("token").isin(queryTokens: _*))
    val dfTok = toks.groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val avgdl = col("sum_dl").cast(DoubleType) / col("n_docs")
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tscore = (idf * (col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl)))
      .cast(DecimalType(18, 8))
    tf.join(broadcast(dfTok), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), tscore.as("tscore"))
      .groupBy(col("doc_id"))
      // decimal-exact sum, surfaced as the nearest double (the repo's
      // oracle-parity discipline: both engines quantize identically,
      // then emit identical float64)
      .agg(sum(col("tscore")).cast(DecimalType(18, 8))
        .cast(DoubleType).as("score"),
        count(lit(1)).as("n_hits"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Block-sharded INVERTED INDEX build: token → sorted posting list of
    * (doc_id:position), sharded by document block (doc_id div
    * blockSize) — the Lucene-segment shape. The shard key is the
    * 100 TB design: a plain groupBy(token) + collect_list funnels every
    * occurrence of a stop token like "the" (O(corpus) rows) through ONE
    * reducer and materializes one giant list — the same hot-key cliff
    * the dedup/novelty family engineers around. Keying on (token,
    * block) bounds every task and every posting string by blockSize
    * documents, shards of one token spread across reducers, and the
    * global posting list is the block-order concatenation (spec-pinned)
    * — which is how segmented search indexes actually store it. */
  def invertedPostings(s: SparkSession, d: String, blockSize: Int = 100): DataFrame =
    // presentation order + display projection re-imposed OUTSIDE the
    // artifact (the parquet round trip does not preserve row order, per
    // the dfArtifact contract); O(segment rows), not O(occurrences).
    // Derive ABOVE the sort: the range-exchange's sampling pass
    // re-executes the sort's child, so a derive below the sort runs
    // twice — and the sort itself then carries the slim typed payload
    // instead of megabyte string blobs.
    withPostingsString(
      postingSegments(s, d, blockSize).orderBy(col("token"), col("block_id")))

  /** Derive the human/oracle-facing "doc:pos doc:pos" blob from the
    * typed posting list at READ time. The sidecar stores typed-only
    * (v3): at gen1000x the string column measured 1353 MB compressed vs
    * 891 MB for the packed numeric structs carrying the same
    * information — storing both was +150% of the typed size, and the
    * serve paths never touch the string. The derive costs ~4.6 s per
    * FULL-index presentation read at gen1000x (SCALING.md round 16,
    * PRES_DERIVED vs PRES_STORED) — paid only by the
    * display shape, never by retrieval. Bounded per row: a posting
    * list covers ≤ blockSize documents. */
  private def withPostingsString(segs: DataFrame): DataFrame =
    segs.select(col("token"), col("block_id"), col("df_block"),
      col("n_postings"),
      expr("array_join(transform(plist, " +
        "x -> cast(x.doc_id as string) || ':' || cast(x.pos as string)), ' ')")
        .as("postings"))

  /** The UNORDERED, TYPED segment table behind [[invertedPostings]] —
    * the accessor the serving paths read (r15 ADVICE: consuming the
    * public view made the no-sort-in-the-serve-path property depend on
    * Catalyst's EliminateSorts; reading the sidecar directly makes it
    * structural). Persists the TYPED-ONLY representation per (token,
    * block) segment: `plist: array<struct<doc_id,pos>>`, (doc_id,
    * pos)-sorted. Serving decodes it with one `explode` of struct
    * fields — zero string work — and parquet encodes the doc_id/pos
    * streams as packed numeric columns instead of one text blob (the
    * Lucene delta-packed-postings shape; r15 verdict defect #2 —
    * measured at gen1000x: 891 MB typed vs 1353 MB for the same
    * information as a string column, and the pruned serve-path decode
    * is 2.3× faster, SCALING.md round 16). The display string is
    * DERIVED at read ([[withPostingsString]]) by the presentation
    * shapes only.
    *
    * Sidecar key carries v3 so pre-typed (v1) and dual-representation
    * (v2) artifacts are unreachable, not misread
    * (Tables.ArtifactFormatVersion discipline, locally).
    *
    * The build PERSISTS as a content-addressed parquet sidecar (same
    * lifecycle as pqCodes / the pair indexes): the index is a pure
    * function of the corpus snapshot + blockSize, so later runs — warm
    * or a cold JVM — read segment rows instead of re-paying the
    * corpus-scale occurrence exchange (~1B occurrence rows / the
    * dominant ~19 GB shuffle at the 5M-doc decade; the round-14
    * gen1000x wall was 115.7 s of exactly this, re-run every
    * execution). That is how segmented search indexes deploy: built
    * once per snapshot, SERVED from storage. Build-once cost stays
    * honestly attributed to the cold leg. */
  private[graft] def postingSegments(s: SparkSession, d: String,
      blockSize: Int = 100): DataFrame =
    Tables.dfArtifact(s, d, Seq("documents"),
      s"invertedPostings:v3:block=$blockSize")(
      buildSegments(Tables.documents(s, d), blockSize))

  /** The segment-building plan over any slice of the documents table —
    * shared by the full build ([[postingSegments]]) and the base/delta
    * builds ([[indexDeltaMerge]]), so a delta segment is BY
    * CONSTRUCTION the same table the full rebuild would produce over
    * those documents. */
  /** Spec-visible alias for [[buildSegments]] at the default block size. */
  private[graft] def buildSegmentsForDiag(docs: DataFrame): DataFrame =
    buildSegments(docs, 100)

  private def buildSegments(docs: DataFrame, blockSize: Int): DataFrame =
    segmentStats(partialSegments(docs, blockSize))

  /** The bare (token, block_id, plist) posting lists over any document
    * slice — the PARTIAL segment shape: what a streaming micro-batch
    * appends to the segment store ([[graft.streaming.Pipeline]]'s index
    * drain), and what the full/base/delta builds derive their stats
    * from. NO countDistinct in the aggregate: a distinct aggregate
    * mixed with plain ones plans an Expand that DOUBLES the occurrence
    * stream (~1B rows at the 5M-doc decade) through the partial
    * aggregate and the exchange; every per-segment statistic is instead
    * a bounded expression over the ≤ blockSize-doc posting array
    * ([[segmentStats]]). */
  private[graft] def partialSegments(docs: DataFrame, blockSize: Int = 100): DataFrame =
    docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "token")))
      .filter(length(col("token")) > 0)
      .withColumn("block_id", expr(s"doc_id div $blockSize"))
      .groupBy(col("token"), col("block_id"))
      .agg(expr("array_sort(collect_list(struct(doc_id, pos)))").as("plist"))

  /** Per-segment statistics derived from the sorted posting list —
    * df_block (distinct doc_ids) and n_postings as bounded per-row
    * expressions, zero extra shuffled rows. */
  private def segmentStats(segs: DataFrame): DataFrame =
    segs.select(col("token"), col("block_id"),
      expr("size(array_distinct(transform(plist, x -> x.doc_id)))")
        .cast(LongType).as("df_block"),
      expr("size(plist)").cast(LongType).as("n_postings"),
      col("plist"))

  /** SEGMENT MERGE — combine partial posting lists for the same (token,
    * block) into the single sorted list the full rebuild would produce:
    * `array_sort(flatten(collect_list(plist)))`. Unlike
    * [[indexDeltaMerge]]'s block-aligned union (where no segment row
    * straddles a cut and merge is pure concatenation of DISJOINT rows),
    * this handles ARBITRARY segment splits — a block's documents spread
    * across any number of partial segments, e.g. streaming micro-batch
    * cuts — because array_sort restores the exact (doc_id, pos) order a
    * single-pass build emits. This is the Lucene segment-merge shape as
    * one aggregate. */
  private[graft] def mergeSegments(partials: DataFrame): DataFrame =
    segmentStats(
      partials.groupBy(col("token"), col("block_id"))
        .agg(expr("array_sort(flatten(collect_list(plist)))").as("plist")))

  /** Block-aligned corpus cut for the delta-segment lifecycle: the last
    * ~10% of doc_ids are "appended since the base snapshot". Aligning
    * the cut to a block boundary is what makes delta segments
    * SELF-CONTAINED: blocks partition documents, so no (token, block)
    * segment row can straddle the cut, and base ⊎ delta is exactly the
    * full rebuild's row set — no merge-combine step at read. (Lucene
    * has the same invariant: a segment indexes whole documents; merges
    * rewrite segments, never split postings across them.) */
  private[graft] def indexDeltaCut(s: SparkSession, d: String,
      blockSize: Int = 100): Long = {
    val mx = Tables.artifact(s, d, Seq("documents"), "maxDocId") {
      java.lang.Long.valueOf(
        Tables.documents(s, d).agg(max(col("doc_id"))).head().getLong(0))
    }.longValue
    math.max(blockSize.toLong,
      (mx + 1) * 9 / 10 / blockSize * blockSize)
  }

  /** INCREMENTAL INDEX MAINTENANCE — the delta-segment lifecycle
    * (VERDICT r15 #5): the corpus is split at a block-aligned doc_id
    * cut into a BASE snapshot and an appended DELTA slice; each side
    * builds and publishes its own content-addressed segment sidecar
    * (the delta build tokenizes and exchanges ONLY delta occurrences —
    * the doc_id range predicate pushes to the scan, so the dominant
    * cost, the occurrence exchange + posting aggregate, is O(delta):
    * measured at gen1000x, appending the last 10% of a 5M-doc corpus
    * cost 17.0 s vs 92.6 s for the full rebuild — 5.4× cheaper, the gap
    * bounded below by fixed job overhead + the raw scan, which the
    * hash-scattered fixture layout cannot prune; a doc_id-clustered
    * layout prunes the scan too), and reads serve the
    * UNION of the two segment tables. Because the cut is block-aligned
    * the union is bit-for-bit the full rebuild ([[buildSegments]] over
    * everything) — which is exactly what the oracle checks: this query
    * carries the SAME full-rebuild SQL as `q_index_postings`
    * (shared-constant discipline), plus a row-identity spec. At 100 TB
    * this is the O(delta) refresh that makes maintaining a corpus
    * index affordable at all (the `q_incr_rollup` argument, applied to
    * the heaviest sidecar in the repo). */
  def indexDeltaMerge(s: SparkSession, d: String, blockSize: Int = 100): DataFrame =
    withPostingsString(
      baseSegments(s, d, blockSize).unionByName(deltaSegments(s, d, blockSize))
        .orderBy(col("token"), col("block_id")))

  /** SNAPSHOT MANIFEST — the Iceberg-shaped atomic pointer that makes
    * the index lifecycle's pieces a TRANSACTION: one content-addressed
    * record listing every artifact generation a consistent read binds —
    * the base segment sidecar, the appended delta sidecar, and the
    * tombstone sidecar (kind, artifact key, on-disk path, row count).
    * Readers resolve THE MANIFEST, not "latest sidecars": at 100 TB a
    * writer publishes segments/deltas/deletes over minutes, and without
    * a manifest a concurrent reader can observe the new delta with the
    * old tombstones (a torn snapshot). Building the manifest forces its
    * children to publish first, so the record never names an artifact
    * that was not durable when the manifest itself became readable —
    * Iceberg's commit ordering. Metadata-scale by construction: three
    * rows, whatever the corpus size. */
  private[graft] def indexManifest(s: SparkSession, d: String,
      blockSize: Int = 100): DataFrame = {
    val cut = indexDeltaCut(s, d, blockSize)
    val comps = Seq(
      ("segments-base", s"invertedPostings:v3:block=$blockSize:lt=$cut",
        baseSegments(s, d, blockSize)),
      ("segments-delta", s"invertedPostings:v3:block=$blockSize:ge=$cut",
        deltaSegments(s, d, blockSize)),
      ("tombstones", "indexTombstones:v1", tombstones(s, d)))
    Tables.dfArtifact(s, d, Seq("documents"),
      s"indexManifest:v1:block=$blockSize") {
      import s.implicits._
      comps.map { case (kind, key, df) =>
        // df.count() forces the child build (and so its sidecar publish)
        // BEFORE the manifest row exists — the commit-order invariant
        (kind, key, Tables.dfArtifactDir(d, Seq("documents"), key), df.count())
      }.toDF("component", "artifact_key", "path", "n_rows")
    }
  }

  /** SNAPSHOT READ (`q_index_snapshot`) — the full mutation lifecycle
    * composed through the manifest: resolve the three-row manifest
    * (driver-side, metadata scale), open each named segment generation
    * FROM ITS MANIFEST PATH (falling back to the content-addressed
    * builder only if a sidecar publish was lost — best-effort IO
    * degrades, never errors), union base ⊎ delta (block-aligned, so
    * concatenation IS the merge), and mask through the tombstone
    * generation ([[liveSegmentsOver]]). Because base ⊎ delta is
    * bit-for-bit the full build and the mask ≡ rebuilding without the
    * dead docs, the composed read carries the SAME rebuild-over-
    * survivors oracle as `q_index_delete` — append and delete verified
    * THROUGH one consistent snapshot, not in isolation. */
  def indexFromSnapshot(s: SparkSession, d: String,
      blockSize: Int = 100): DataFrame =
    withPostingsString(
      snapshotSegments(s, d, blockSize)
        .orderBy(col("token"), col("block_id")))

  /** Resolve one component of the manifest to its published sidecar
    * (falling back to the content-addressed builder only if a publish
    * was lost — best-effort IO degrades, never errors). */
  private def snapshotComponent(s: SparkSession, d: String, blockSize: Int,
      kind: String)(rebuild: => DataFrame): DataFrame =
    indexManifest(s, d, blockSize).collect()
      .find(_.getAs[String]("component") == kind) match {
      case Some(r) => Tables.readSidecar(s, r.getAs[String]("path")).getOrElse(rebuild)
      case None => rebuild
    }

  /** The snapshot's live segment table: manifest-resolved base ⊎ delta
    * masked through the manifest-resolved tombstones — the table every
    * snapshot-bound consumer (presentation read, BM25 serve) shares. */
  private[graft] def snapshotSegments(s: SparkSession, d: String,
      blockSize: Int = 100): DataFrame = {
    val segs =
      snapshotComponent(s, d, blockSize, "segments-base")(
          baseSegments(s, d, blockSize))
        .unionByName(snapshotComponent(s, d, blockSize, "segments-delta")(
          deltaSegments(s, d, blockSize)))
        .select(col("token"), col("block_id"), col("plist"))
    liveSegmentsOver(segs,
      snapshotComponent(s, d, blockSize, "tombstones")(tombstones(s, d)),
      blockSize)
  }

  /** BM25 BOUND TO THE SNAPSHOT (`q_bm25_snapshot_served`): retrieval
    * resolves the SAME manifest as the presentation read — candidate
    * segments from [[snapshotSegments]], norms/stats anti-joined
    * against the manifest's tombstone generation — so a query batch
    * can never score against a torn store (new delta, old deletes).
    * Value-identical to `q_bm25_live_served` by construction (the
    * snapshot is base ⊎ delta ⊖ tombstones == full ⊖ tombstones), and
    * pinned there by carrying the SAME survivor-scoped parameterized
    * BM25 oracle — the shared constant's second consumer. */
  def bm25FromSnapshot(s: SparkSession, d: String,
      queryTokens: Seq[String] = Seq("vector", "hash", "dup"),
      k: Int = 10, blockSize: Int = 100): DataFrame = {
    val liveNorms = docNorms(s, d)
      .join(broadcast(snapshotComponent(s, d, blockSize, "tombstones")(
        tombstones(s, d))), Seq("doc_id"), "left_anti")
    bm25FromSegments(s, d, snapshotSegments(s, d, blockSize), queryTokens, k,
      normsOverride = Some(liveNorms))
  }

  /** TIME-TRAVEL READ (`q_index_asof`): the index AS OF the base
    * snapshot — before the delta was appended and before the delete
    * batch landed. Because segments are immutable and the manifest
    * names generations by durable path, serving a PAST state costs one
    * sidecar scan of the base generation; nothing was rewritten by the
    * append or the delete, so the old state never stopped being
    * addressable (the Iceberg AS OF economics; Lucene's point-in-time
    * readers hold the same property via immutable segment files).
    * Fully value-oracled: the rebuild SQL over `doc_id < cut`, with
    * the block-aligned cut recomputed IN SQL from the same integer
    * arithmetic as [[indexDeltaCut]] — both engines derive the
    * snapshot boundary independently and must agree bit for bit. */
  def indexAsOfBase(s: SparkSession, d: String,
      blockSize: Int = 100): DataFrame =
    withPostingsString(
      snapshotComponent(s, d, blockSize, "segments-base")(
          baseSegments(s, d, blockSize))
        .orderBy(col("token"), col("block_id")))

  /** STREAMING INDEX MAINTENANCE, read side (`q_stream_index`): the
    * index drain ([[graft.streaming.Pipeline]] "index") published one
    * PARTIAL segment table per micro-batch of the staged hash-split
    * documents replay — batch cuts arbitrary relative to index blocks,
    * so the same (token, block) appears in several partial segments.
    * This read serves [[mergeSegments]] over the store and presents it
    * exactly like [[invertedPostings]] — and carries the SAME
    * full-rebuild oracle SQL, proving the flush-small-segments /
    * merge-at-read lifecycle reproduces the single-pass build bit for
    * bit regardless of where the stream's batch boundaries fell. */
  def streamIndexMerged(s: SparkSession, d: String): DataFrame = {
    withPostingsString(
      mergeSegments(graft.streaming.Pipeline.drainedSink(s, d, "index"))
        .orderBy(col("token"), col("block_id")))
  }

  /** STREAM-SEGMENT COMPACTION, store side: fold the streamed
    * partial-segment store through [[mergeSegments]] ONCE and publish
    * the result as a content-addressed sidecar — the Lucene background
    * merge that turns many small flushed segments into one serving
    * segment set. [[streamIndexMerged]] pays the merge aggregate on
    * EVERY read; after compaction, reads scan the published sidecar
    * directly (no aggregate anywhere in the read plan — spec-pinned),
    * which is the economics that make a streaming-built index servable
    * at 100 TB: the merge cost is paid once per ingest epoch, not per
    * query. Keyed to the corpus snapshot like every index artifact —
    * the drain replays the staged corpus, so its compaction is a pure
    * function of the same snapshot. */
  private[graft] def compactedStreamSegments(s: SparkSession, d: String): DataFrame = {
    val partials = graft.streaming.Pipeline.drainedSink(s, d, "index")
    Tables.dfArtifact(s, d, Seq("documents"), "streamCompact:v1")(
      mergeSegments(partials))
  }

  /** STREAM-SEGMENT COMPACTION, read side (`q_stream_compact`): the
    * compacted sidecar presented exactly like [[invertedPostings]], and
    * carrying the SAME full-rebuild oracle SQL — streamed flush →
    * compact → serve reproduces the single-pass batch build bit for
    * bit, with the per-read merge aggregate gone. */
  def streamIndexCompacted(s: SparkSession, d: String): DataFrame =
    withPostingsString(
      compactedStreamSegments(s, d).orderBy(col("token"), col("block_id")))

  /** BM25 SERVED FROM THE COMPACTED STREAM STORE
    * (`q_bm25_compact_served`): same scoring body as [[bm25FromIndex]],
    * candidate segments from the compacted sidecar — the full
    * production lineage (micro-batch flush → compaction → pruned
    * segment serve) pinned value-identical to a corpus scan by the
    * shared BM25 oracle constant. */
  def bm25FromCompactedIndex(s: SparkSession, d: String,
      queryTokens: Seq[String] = Seq("vector", "hash", "dup"),
      k: Int = 10): DataFrame =
    bm25FromSegments(s, d, compactedStreamSegments(s, d), queryTokens, k)

  /** TOMBSTONE SIDECAR — the delete half of the index lifecycle
    * (VERDICT r16 #1; Lucene: flush ✓, merge ✓, append ✓, and THIS).
    * The deleted-doc set is the real pipeline's: the near-dup LOSERS of
    * [[graft.ops.Dedup.keepBestPerCluster]] — every document that is
    * not its cluster's highest-quality member (singletons keep
    * themselves, so losers come only from multi-member clusters).
    * Derived with one left-anti join of the corpus doc_ids against the
    * kept set (one row per cluster — metadata scale), published as a
    * content-addressed sidecar like every other index artifact: takedowns
    * and dedup removals are corpus-snapshot facts, and reads must not
    * re-run the dedup pipeline to learn them. */
  private[graft] def tombstones(s: SparkSession, d: String): DataFrame =
    Tables.dfArtifact(s, d, Seq("documents"), "indexTombstones:v1")(
      Tables.documents(s, d).select(col("doc_id"))
        .join(graft.ops.Dedup.keepBestUnordered(s, d)
          .select(col("kept_doc_id").as("doc_id")), Seq("doc_id"), "left_anti"))

  /** INDEX DELETE, serve side (`q_index_delete`): the persisted FULL
    * index read through the tombstone set — Lucene's liveDocs shape.
    * Deletes never rewrite segments; reads mask them: the per-block
    * tombstone arrays (≤ blockSize entries each, grouped once from the
    * sidecar) BROADCAST-join the segment table on block_id — the
    * segment store streams through a broadcast probe, zero shuffle of
    * index bytes — and each posting list drops its dead entries with a
    * bounded `filter(plist, …)` expression; segments left empty
    * disappear, per-segment stats are re-derived from the surviving
    * list. The result is oracled BIT FOR BIT against the full rebuild
    * over the surviving documents (the parameterized shared rebuild
    * SQL): masking at read ≡ rebuilding without the dead docs.
    * At 100 TB the delete set is cluster-loser metadata (≪ corpus) and
    * the mask is Lucene's in-memory liveDocs economics — a delete
    * costs a sidecar row, not an index rewrite; compaction folds the
    * mask in whenever a merge rewrites the segment anyway. */
  def indexWithDeletes(s: SparkSession, d: String, blockSize: Int = 100): DataFrame =
    withPostingsString(
      liveSegments(s, d, blockSize).orderBy(col("token"), col("block_id")))

  /** The tombstone-masked segment table behind [[indexWithDeletes]]. */
  private[graft] def liveSegments(s: SparkSession, d: String,
      blockSize: Int = 100): DataFrame =
    liveSegmentsOver(postingSegments(s, d, blockSize), tombstones(s, d), blockSize)

  /** The liveDocs mask over ANY segment table — one body for the
    * one-shot-sidecar read ([[liveSegments]]) and the snapshot-manifest
    * read ([[indexFromSnapshot]]), so the delete semantics cannot drift
    * between serve paths. */
  private[graft] def liveSegmentsOver(segs: DataFrame, tomb: DataFrame,
      blockSize: Int): DataFrame = {
    val tombByBlock = tomb
      .groupBy(expr(s"doc_id div $blockSize").as("block_id"))
      .agg(collect_set(col("doc_id")).as("tomb"))
    segmentStats(
      segs
        .join(broadcast(tombByBlock), Seq("block_id"), "left")
        .select(col("token"), col("block_id"),
          when(col("tomb").isNull, col("plist"))
            .otherwise(expr("filter(plist, x -> NOT array_contains(tomb, x.doc_id))"))
            .as("plist"))
        .filter(size(col("plist")) > 0))
  }

  /** The base-snapshot segment sidecar (doc_id < cut). */
  private[graft] def baseSegments(s: SparkSession, d: String,
      blockSize: Int = 100): DataFrame = {
    val cut = indexDeltaCut(s, d, blockSize)
    Tables.dfArtifact(s, d, Seq("documents"),
      s"invertedPostings:v3:block=$blockSize:lt=$cut")(
      buildSegments(Tables.documents(s, d).filter(col("doc_id") < cut), blockSize))
  }

  /** The appended-delta segment sidecar (doc_id >= cut) — the O(delta)
    * refresh: its build scans only the delta documents (the doc_id
    * range predicate pushes to the parquet scan). */
  private[graft] def deltaSegments(s: SparkSession, d: String,
      blockSize: Int = 100): DataFrame = {
    val cut = indexDeltaCut(s, d, blockSize)
    Tables.dfArtifact(s, d, Seq("documents"),
      s"invertedPostings:v3:block=$blockSize:ge=$cut")(
      buildSegments(Tables.documents(s, d).filter(col("doc_id") >= cut), blockSize))
  }

  /** Per-document token-count norms — Lucene's "norms" file as a
    * content-addressed parquet sidecar: doc_id → dl (count of non-empty
    * tokens), built once per corpus snapshot via [[graft.Tables.dfArtifact]]
    * and READ by every retrieval run thereafter. Same dl expression as
    * [[bm25TopK]]'s scan-side length, so index-served scores are
    * value-identical to scan-served ones. */
  private[graft] def docNorms(s: SparkSession, d: String): DataFrame =
    Tables.dfArtifact(s, d, Seq("documents"), "docNorms")(
      Tables.documents(s, d).select(col("doc_id"),
        size(filter(tokens(col("text")), t => length(t) > 0))
          .cast(LongType).as("dl")))

  /** BM25 top-k SERVED FROM THE PERSISTED INDEX — the production
    * retrieval shape [[bm25TopK]]'s doc promises: the candidate stream
    * comes from the [[invertedPostings]] sidecar pruned to the query
    * vocabulary (a (token, block) segment read — O(query postings), no
    * corpus scan anywhere), per-doc tf is recovered from the posting
    * lists themselves, per-token df is the sum of per-block df (blocks
    * partition documents, so the block dfs add exactly), and document
    * lengths come from the [[docNorms]] sidecar. Scoring is the
    * identical Okapi formula and DECIMAL(18,8) per-term quantization
    * as [[bm25TopK]], so the two paths are value-identical row for row
    * (spec-pinned) and this query carries the SAME value-exact DuckDB
    * oracle. At 100 TB this is the difference between a query cost of
    * (query-vocabulary posting rows + a norms-table join) and
    * re-tokenizing the corpus per query batch. */
  def bm25FromIndex(s: SparkSession, d: String,
      queryTokens: Seq[String] = Seq("vector", "hash", "dup"),
      k: Int = 10): DataFrame =
    // unordered typed segments (no presentation sort in the serve path,
    // structurally); parquet prunes to (token, df_block, plist) and the
    // token filter prunes to the query vocabulary before any explode
    bm25FromSegments(s, d, postingSegments(s, d), queryTokens, k)

  /** BM25 SERVED FROM THE STREAMED INDEX (`q_bm25_stream_served`): the
    * same scoring as [[bm25FromIndex]] fed from the segment store the
    * streaming drain flushed, merged at read ([[mergeSegments]]) — the
    * end-to-end proof that retrieval can ride an index built ENTIRELY
    * by micro-batch ingestion, no batch build anywhere in the lineage.
    * Same oracle SQL as `q_bm25_topk` (the shared constant), so the
    * stream-built index is pinned value-identical to a corpus scan. */
  def bm25FromStreamedIndex(s: SparkSession, d: String,
      queryTokens: Seq[String] = Seq("vector", "hash", "dup"),
      k: Int = 10): DataFrame = {
    bm25FromSegments(s, d,
      mergeSegments(graft.streaming.Pipeline.drainedSink(s, d, "index")),
      queryTokens, k)
  }

  /** BM25 OVER THE TOMBSTONE-MASKED INDEX (`q_bm25_live_served`): the
    * delete path's serving consequence — retrieval over [[liveSegments]]
    * must behave as if the dead documents never existed. tf and df come
    * from the masked posting lists (dead postings already filtered);
    * the norms/stats side anti-joins the broadcast tombstone set so
    * n_docs/avgdl are survivor statistics too. (Lucene famously does
    * NOT do the second half until segments merge — docFreq and norms
    * include deleted docs, an accepted scoring skew; here the exact
    * form is one broadcast anti-join, so serve the exact one and pin it
    * to the rebuild-over-survivors oracle: the SAME parameterized BM25
    * SQL as the scan path, over the kept documents.) */
  def bm25FromLiveIndex(s: SparkSession, d: String,
      queryTokens: Seq[String] = Seq("vector", "hash", "dup"),
      k: Int = 10): DataFrame = {
    val liveNorms = docNorms(s, d)
      .join(broadcast(tombstones(s, d)), Seq("doc_id"), "left_anti")
    bm25FromSegments(s, d, liveSegments(s, d), queryTokens, k,
      normsOverride = Some(liveNorms))
  }

  /** The segment-served Okapi scoring body, parameterized by the
    * segment source — one body for the sidecar-served and
    * stream-built-index paths, so their parity is structural. */
  private def bm25FromSegments(s: SparkSession, d: String, segments: DataFrame,
      queryTokens: Seq[String], k: Int,
      normsOverride: Option[DataFrame] = None): DataFrame = {
    val post = segments.filter(col("token").isin(queryTokens: _*))
    // one posting struct per occurrence, so the per-doc entry count IS
    // tf — a typed explode of parquet-packed numerics, zero string work
    val tf = post
      .select(col("token"), explode(col("plist.doc_id")).as("doc_id"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfTok = post.groupBy(col("token")).agg(sum(col("df_block")).as("df"))
    val dl = normsOverride.getOrElse(docNorms(s, d))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val avgdl = col("sum_dl").cast(DoubleType) / col("n_docs")
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tscore = (idf * (col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl)))
      .cast(DecimalType(18, 8))
    // the tf side is O(query-vocabulary postings); dl is one row per
    // CORPUS document — broadcast tf STRUCTURALLY (r16 verdict #2) so
    // the norms table streams through a broadcast-hash probe and never
    // shuffles. Leaving it to AQE means trusting a runtime estimate on
    // a derived aggregate to protect the serve path from a corpus-scale
    // exchange at 100 TB; the hint makes the intended plan the only
    // plan (IndexServePlanSpec asserts no Exchange above the norms scan).
    broadcast(tf.join(broadcast(dfTok), "token"))
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), tscore.as("tscore"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tscore")).cast(DecimalType(18, 8))
        .cast(DoubleType).as("score"),
        count(lit(1)).as("n_hits"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Edit-distance between consecutive documents' prefixes — the fuzzy
    * VERIFY stage of a dedup pipeline (levenshtein is O(len²) per pair,
    * so at scale it only ever runs on blocked candidates, here the
    * consecutive-pair calibration set, and on bounded prefixes). Uses
    * the built-in codegen'd `levenshtein`. */
  def editDistanceConsecutive(s: SparkSession, d: String, prefix: Int = 80): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), substring(col("text"), 1, prefix).as("p"))
    docs.select(col("doc_id").as("id_a"), col("p").as("pa"))
      .join(docs.select(col("doc_id").as("id_b"), col("p").as("pb")),
        col("id_b") === col("id_a") + 1)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("pa"), col("pb")).cast(LongType).as("edit_dist"))
      .orderBy(col("id_a"))
  }

  /** N-GRAM LANGUAGE-MODEL count-of-counts (Good–Turing frequency of
    * frequencies): N_c = how many distinct corpus bigrams occur exactly
    * c times, plus the Good–Turing adjusted count
    * c* = (c+1)·N_{c+1}/N_c wherever the next count class exists — the
    * smoothing table of count-based LM estimation (the KenLM-shape
    * corpus pass). Two-level aggregation: bigram→count is map-side
    * combined, so a corpus-hot bigram contributes one partial row per
    * map partition (the same no-funnel argument as novelty); count→N_c
    * runs over O(distinct bigrams) rows keyed by c (tens of thousands
    * of count classes at most — Zipf collapses the key space). The
    * final lead() window orders O(count classes) rows — metadata scale,
    * not data scale. The only double op is one multiply of exact
    * integers (< 2⁵³) and one division, so the oracle is value-exact. */
  def bigramCountOfCounts(s: SparkSession, d: String): DataFrame = {
    val bg = Tables.documents(s, d)
      .select(explode(bigramAllUdf(tokens(col("text")))).as("bigram"))
    val counts = bg.groupBy(col("bigram")).agg(count(lit(1)).as("c"))
    val noc = counts.groupBy(col("c")).agg(count(lit(1)).as("n_c"))
    val w = Window.orderBy(col("c"))
    noc
      .withColumn("next_c", lead(col("c"), 1).over(w))
      .withColumn("next_n", lead(col("n_c"), 1).over(w))
      .withColumn("gt_cstar",
        when(col("next_c") === col("c") + 1,
          (col("c") + 1).cast(DoubleType) * col("next_n") / col("n_c")))
      .select(col("c"), col("n_c"), col("gt_cstar"))
      .orderBy(col("c"))
  }

  /** (doc_id, n_tokens, quality_score) staged ONCE per documents
    * fingerprint — the text is tokenized and scored exactly once, and every
    * selection pass (the histogram AND both keep branches of
    * [[budgetSelect]], [[duplicatedSpans]]' denominator, or a budget
    * sweep across runs) reads the tiny 3-column numeric table instead
    * of re-parsing the corpus. Without this the plan tree repeats the
    * scoring subtree in three branches and Catalyst additionally
    * inlines it into a pushed join-key filter — ~6 text parses per
    * document per query (measured 6× slower end to end at gen10x).
    * Doubles round-trip parquet bit-exactly, so semantics are
    * unchanged. */
  private def scoredDocsDir(s: SparkSession, d: String): String =
    Tables.artifact(s, d, Seq("documents"), "scoredDocsDir") {
      val out = graft.Tuning.diskTmpDir("graft_scored_").toString
      // the UNSORTED projection: a global range sort before a staging
      // write is pure waste (parquet order is irrelevant downstream)
      qualityScored(s, d)
        .select(col("doc_id"), col("n_tokens"), col("quality_score"))
        .write.mode("overwrite").parquet(out)
      out
    }

  /** TOKEN-BUDGET curation: keep the maximal quality-ordered prefix of
    * the corpus whose cumulative token count fits a global budget — the
    * "best N billion tokens" selection every training run starts with.
    * Semantically identical to sorting the whole corpus by
    * (quality desc, doc_id) and cutting the running token sum at the
    * budget; structurally it NEVER globally sorts the corpus:
    *
    *  1. one scan scores docs and buckets them by floor(quality·B);
    *  2. a B-row histogram (partial-aggregated) takes the running sum
    *     from the top — metadata scale, its window sort is over ≤B rows;
    *  3. buckets wholly under budget pass with a broadcast-joined
    *     filter (no sort, no shuffle of kept docs);
    *  4. ONLY the single boundary bucket — ~1/B of the corpus, the
    *     knob that trades task width for histogram size — is exactly
    *     ordered to place the cut within it.
    *
    * Equivalence to the flat prefix is exact, not approximate: floor
    * is monotone in quality, so bucket order refines the global order,
    * full-bucket cumulative sums bound every member's global running
    * sum, and the boundary bucket's local cumsum plus its bucket-prefix
    * total IS the global running sum. All arithmetic is integer token
    * counts; the quality score reuses [[quality]]'s exact-ratio form. */
  def budgetSelect(s: SparkSession, d: String, budget: Long = 15000L,
      buckets: Int = 64): DataFrame = {
    val sc = s.read.parquet(scoredDocsDir(s, d))
      .withColumn("bucket",
        floor(col("quality_score") * buckets).cast(IntegerType))
    val wb = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the ≤B-row histogram MATERIALIZES (localCheckpoint — metadata
    // scale, recomputed per execution): it is consumed by BOTH the
    // full-bucket branch and the boundary branch below, and an
    // unmaterialized DataFrame re-executes its subtree per reference —
    // the r17 plan audit showed four scored-table scans (each branch
    // re-derived the histogram AND its own probe side) where two
    // remain: one histogram pass + one filter pass per branch over the
    // same broadcast.
    val status = sc.groupBy(col("bucket")).agg(sum(col("n_tokens")).as("btok"))
      .withColumn("cum", sum(col("btok")).over(wb))
      .withColumn("cum_before", col("cum") - col("btok"))
      .select(col("bucket"), col("cum"), col("cum_before"))
      .localCheckpoint(true)
    val joined = sc.join(broadcast(status), Seq("bucket"))
    val full = joined.filter(col("cum") <= budget)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
    val wq = Window.partitionBy(col("bucket"))
      .orderBy(col("quality_score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // cum_before <= budget, NOT <: when the kept buckets sum EXACTLY to
    // the budget, the next bucket's zero-token head docs still have
    // global running sum == budget and the oracle keeps them — the
    // strict form would drop the whole bucket including that prefix
    val boundary = joined
      .filter(col("cum") > budget && col("cum_before") <= budget)
      .withColumn("pcum", sum(col("n_tokens")).over(wq))
      .filter(col("cum_before") + col("pcum") <= budget)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
    full.union(boundary).orderBy(col("doc_id"))
  }

  /** Cross-document REPEATED-SPAN detection (the exact-substring-dedup
    * signal of training-data pipelines): per document, the fraction of
    * its k-token windows whose content occurs anywhere else in the
    * corpus — another position in the same document included. Docs with
    * high `dup_frac` carry boilerplate/templated spans worth stripping
    * before training.
    *
    * Skew-proof by the inverted novelty trick: dup_windows =
    * n_windows − unique_windows, and a globally-UNIQUE window has
    * exactly one occurrence row, so its owning doc_id rides the same
    * partial-aggregating groupBy that computes the occurrence count
    * (min(doc_id) over one row IS that row). NO join ever runs on the
    * window key — a corpus-hot boilerplate span contributes one
    * map-side-combined row per partition and then dies at the occ==1
    * filter. The denominator needs no explode and no second text
    * parse: n_windows = max(n_tokens−k+1, 0) straight off the
    * once-per-corpus scored table. The shuffle key is a 128-bit pair
    * of xxhash64s under genuinely different seeds (the second hash
    * leads with a constant so the seed chain differs — appending it
    * would make h2 a pure function of h1) — fixed-width, the window
    * strings never travel, corpus-wide collision-union bound W²/2¹²⁹
    * (≈1e-15 even at 10¹² windows); the oracle groups by the window
    * string itself, identical semantics absent such a collision. */
  def duplicatedSpans(s: SparkSession, d: String, k: Int = 8): DataFrame = {
    // k >= 2 lets the denominator ride the staged scored table: its
    // n_tokens counts whitespace-only text as 0 where tokens() yields
    // [""] (size 1) — max(n-(k-1), 0) erases that difference for k >= 2
    require(k >= 2, s"duplicatedSpans needs k >= 2, got $k")
    val grams = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n_windows",
        greatest(size(col("toks")) - (k - 1), lit(0)).cast(LongType))
      .filter(col("n_windows") > 0)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1L), col("n_windows")),
          i => array_join(slice(col("toks"), i.cast(IntegerType), lit(k)), " ")))
          .as("gram"))
      // h2 hashes with a DIFFERENT SEED CHAIN (constant first): Spark's
      // multi-arg xxhash64 threads the running hash as the seed, so
      // xxhash64(gram, 17) would be a pure function of h1 (64-bit
      // resistance only) while xxhash64(17, gram) is XXH64(gram, s')
      // with s' = XXH64(17, 42) ≠ 42 — an independent second hash
      .select(col("doc_id"),
        xxhash64(col("gram")).as("h1"),
        xxhash64(lit(17L), col("gram")).as("h2"))
    val uniquePerDoc = grams.groupBy(col("h1"), col("h2"))
      .agg(count(lit(1)).as("occ"), min(col("doc_id")).as("doc_id"))
      .filter(col("occ") === 1L)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_unique"))
    // denominator from the once-per-corpus scored table — the text is
    // parsed exactly once per query (the gram branch above); a second
    // tokenizing scan for a per-row arithmetic column would double the
    // parse cost at corpus scale
    val base = s.read.parquet(scoredDocsDir(s, d))
      .select(col("doc_id"),
        greatest(col("n_tokens") - (k - 1), lit(0L)).as("n_windows"))
    base.join(uniquePerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        (col("n_windows") - coalesce(col("n_unique"), lit(0L))).as("dup_windows"))
      .withColumn("dup_frac",
        when(col("n_windows") === 0L, lit(0.0))
          .otherwise(col("dup_windows").cast(DoubleType) / col("n_windows")))
      .orderBy(col("doc_id"))
  }

  /** QUALITY-PROPORTIONAL sampling ("soft curation") — instead of the
    * hard quality threshold of [[curateCorpus]], keep each document
    * with probability equal to its quality score, the CCNet/FineWeb-
    * style soft filter that preserves a long tail of lower-quality
    * data at reduced rate. The "draw" is deterministic and
    * coordination-free: u = the first 52 md5 bits of the doc_id as a
    * uniform double in [0,1) (52 bits ⇒ exactly representable, and
    * md5 keeps the draw independent of the xxhash64 family used by
    * shuffles and samplers elsewhere); keep iff u < quality_score.
    * Any worker recomputes a document's fate from its id alone — no
    * RNG state, no sampling pass, reproducible across runs and
    * engines. One scan, embarrassingly parallel. */
  def sampleByQuality(s: SparkSession, d: String): DataFrame = {
    val u = conv(substring(md5(col("doc_id").cast(StringType)), 1, 13), 16, 10)
      .cast(DoubleType) / lit(4503599627370496.0) // 2^52
    scoredDocs(s, d)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
      .withColumn("u", u)
      .filter(col("u") < col("quality_score"))
      .orderBy(col("doc_id"))
  }

  /** SPLIT-BALANCE AUDIT — the distribution-shift check run after any
    * dataset split: the split × source contingency table with each
    * cell's chi-square contribution (observed vs expected under
    * independence) and the global statistic. A skewed cell means the
    * hash split accidentally under/over-sampled a domain in one split —
    * the thing that silently biases eval. ONE partial-aggregating
    * groupBy over the corpus builds the contingency table (splits ×
    * sources rows — metadata scale), and every subsequent margin/
    * expected/statistic step is a window over that tiny table, so the
    * audit costs one scan at any corpus size.
    *
    * Determinism: o, row/col totals and N are exact integers; e and the
    * per-cell contribution are fixed-association IEEE expressions of
    * them (bit-exact on both engines); only the cross-cell SUM for the
    * global statistic is order-sensitive, so contributions quantize
    * through DECIMAL(18,8) before it (the BM25 precedent). */
  def splitBalance(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.documents(s, d).select(col("doc_id"), col("source"))
      .join(hashSplit(s, d), Seq("doc_id"))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("o"))
    val wSplit = Window.partitionBy(col("split"))
    val wSource = Window.partitionBy(col("source"))
    val wAll = Window.partitionBy()
    val e = sum(col("o")).over(wSplit).cast(DoubleType) *
      sum(col("o")).over(wSource).cast(DoubleType) /
      sum(col("o")).over(wAll).cast(DoubleType)
    cells
      .withColumn("expected", e)
      .withColumn("contrib",
        (col("o").cast(DoubleType) - col("expected")) *
          (col("o").cast(DoubleType) - col("expected")) / col("expected"))
      .withColumn("chisq",
        sum(col("contrib").cast(DecimalType(18, 8))).over(wAll)
          .cast(DecimalType(18, 8)).cast(DoubleType))
      .select(col("split"), col("source"), col("o"), col("expected"),
        col("contrib"), col("chisq"))
      .orderBy(col("split"), col("source"))
  }

  /** RAG RETRIEVAL + CONTEXT ASSEMBLY — the serving-side composition a
    * retrieval pipeline runs per batch of queries: multi-query BM25
    * scoring (same constants and DECIMAL(18,8) per-term quantization as
    * [[bm25TopK]], generalized with a query dimension), per-query top-k
    * WITHOUT a per-query sort (the bounded [[graft.functions.TopKByAgg]]
    * heap — k×partitions rows shuffle even when a common token matches
    * the whole corpus), then greedy rank-order context packing under a
    * token budget (the prefix of the ranked list whose cumulative
    * n_tokens fits — read off the once-per-corpus scored table, never a
    * re-parse). The query panel is a fixed literal table here (mirrored
    * in the oracle); production passes any (query_id, token) DataFrame.
    * Every join is an equi-join on token/doc_id with the tiny sides
    * broadcast; the packing window runs over ≤ k rows per query. */
  def ragRetrieve(s: SparkSession, d: String, k: Int = 5,
      budget: Long = 300L): DataFrame = {
    val (qmap, allTokens) = ragPanel(s)
    // doc lengths from the once-per-corpus scored table (n_tokens ≡ the
    // filtered token count for every input — see [[bm25TopK]]): the dl
    // subtree executes twice downstream (stats + norms join), so this
    // removes TWO corpus re-tokenizes from the retrieval path.
    val dl = scoredDocs(s, d).select(col("doc_id"), col("n_tokens").as("dl"))
    val toks = docTokens(s, d).select(col("doc_id"), col("token"))
      .filter(col("token").isin(allTokens: _*))
    val dfTok = toks.groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    ragAssemble(s, d, qmap, tf, dfTok, dl, k, budget)
  }

  /** RAG retrieval SERVED FROM THE PERSISTED INDEX — the production
    * shape of [[ragRetrieve]] (r15 verdict #1): the multi-query panel's
    * candidate stream comes from the [[postingSegments]] sidecar pruned
    * to the query vocabulary (a (token, block) segment read —
    * O(query-vocabulary postings), no corpus scan or re-tokenize
    * anywhere in the retrieval path), per-doc tf decodes from the typed
    * posting lists, per-token df = Σ per-block df (blocks partition
    * documents, so block dfs add exactly), and document lengths come
    * from the [[docNorms]] sidecar. Scoring, ranking, and budget
    * packing are the SAME code as [[ragRetrieve]] ([[ragAssemble]]), so
    * parity with the scan-served form is structural, not coincidental —
    * spec-pinned row-identical, same value-exact DuckDB oracle. At
    * 100 TB this is the retrieval serving tier: per query batch, the
    * cost is the pruned posting rows + a norms join, while the corpus
    * text is never touched. */
  def ragFromIndex(s: SparkSession, d: String, k: Int = 5,
      budget: Long = 300L): DataFrame = {
    val (qmap, allTokens) = ragPanel(s)
    val post = postingSegments(s, d).filter(col("token").isin(allTokens: _*))
    val tf = post
      .select(col("token"), explode(col("plist.doc_id")).as("doc_id"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfTok = post.groupBy(col("token")).agg(sum(col("df_block")).as("df"))
    ragAssemble(s, d, qmap, tf, dfTok, docNorms(s, d), k, budget)
  }

  /** The fixed literal query panel both RAG paths retrieve for
    * (mirrored in the oracle); production passes any (query_id, token)
    * DataFrame. Returns (panel table, distinct token vocabulary). */
  private def ragPanel(s: SparkSession): (DataFrame, Seq[String]) = {
    import s.implicits._
    val panel: Seq[(Long, String)] = Seq(
      1L -> "vector", 1L -> "hash", 1L -> "dup",
      2L -> "stream", 2L -> "batch", 2L -> "window",
      3L -> "customer", 3L -> "order", 3L -> "join")
    (panel.toDF("query_id", "token"), panel.map(_._2).distinct)
  }

  /** Shared scoring + ranking + packing tail of [[ragRetrieve]] /
    * [[ragFromIndex]]: Okapi BM25 with DECIMAL(18,8) per-term
    * quantization (the [[bm25TopK]] discipline), per-query top-k via
    * the bounded [[graft.functions.TopKByAgg]] heap (k×partitions rows
    * shuffle even when a common token matches the whole corpus), then
    * greedy rank-order context packing under the token budget off the
    * once-per-corpus scored table. One body, two candidate sources —
    * the scan path and the index path cannot drift apart. */
  private def ragAssemble(s: SparkSession, d: String, qmap: DataFrame,
      tf: DataFrame, dfTok: DataFrame, dl: DataFrame,
      k: Int, budget: Long): DataFrame = {
    graft.functions.Native.register(s)
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val avgdl = col("sum_dl").cast(DoubleType) / col("n_docs")
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tscore = (idf * (col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl)))
      .cast(DecimalType(18, 8))
    // same structural broadcast as bm25FromSegments (r16 verdict #2):
    // tf is O(panel-vocabulary postings), dl is corpus-scale — the hint
    // keeps the norms join a broadcast probe on BOTH candidate sources
    // (scan-served and index-served), never a corpus exchange
    val scored = broadcast(tf.join(broadcast(dfTok), "token"))
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .join(broadcast(qmap), Seq("token"))
      .select(col("query_id"), col("doc_id"), tscore.as("tscore"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("tscore")).cast(DecimalType(18, 8))
        .cast(DoubleType).as("score"))
    import graft.functions.Native
    // TWO topKBy aggs over one pass — same (ord1, ord2) key pair, so
    // both heaps make identical keep/evict decisions and the emitted
    // arrays align positionally: the score rides OUT of the aggregation
    // instead of re-joining the ranked ids back against `scored`, which
    // re-executed the ENTIRE scoring subtree (tf⋈df⋈dl⋈stats⋈panel +
    // groupBy) a second time in every consumer of this tail (r18: the
    // scan-served path paid 2 extra corpus-scale passes for a ≤ k·queries
    // lookup).
    val sortKey = Native.sortableDouble(col("score"))
    val top = scored.groupBy(col("query_id"))
      .agg(
        Native.topKBy(sortKey, -col("doc_id"),
          col("doc_id").cast(DoubleType), k).as("docs"),
        Native.topKBy(sortKey, -col("doc_id"), col("score"), k).as("scores"))
      .select(col("query_id"),
        posexplode(arrays_zip(col("docs"), col("scores"))).as(Seq("pos", "z")))
      .select(col("query_id"), (col("pos") + 1).cast(LongType).as("rnk"),
        col("z.docs").cast(LongType).as("doc_id"), col("z.scores").as("score"))
    val wc = Window.partitionBy(col("query_id")).orderBy(col("rnk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // ≤ k·queries ranked rows join the corpus-scale scored-docs table:
    // broadcast the tiny ranked side, same structural reason as the
    // norms join above
    broadcast(top)
      .join(scoredDocs(s, d).select(col("doc_id"), col("n_tokens")), Seq("doc_id"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(wc))
      .filter(col("cum_tokens") <= budget)
      .select(col("query_id"), col("rnk"), col("doc_id"), col("score"),
        col("n_tokens"), col("cum_tokens"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** PMI COLLOCATIONS — pointwise mutual information over corpus
    * bigrams, the classic collocation-extraction / phrase-mining op
    * (and the adjacency test behind learned tokenizer merges):
    * PMI(a,b) = ln(c_ab·N / (c_a·c_b)) for bigram counts c_ab over N
    * total bigram occurrences. Three partial-aggregating passes that
    * all map-side combine (bigram counts, unigram counts, and the
    * N scalar — whose groupBy exchange Catalyst REUSES from the bigram
    * branch, so the corpus is bigram-parsed once), then two equi-joins
    * on the token key and one broadcast of the 1-row N. The minCount
    * support filter runs before the joins, so only surviving bigram
    * TYPES (not occurrences) travel.
    *
    * The PMI value is quantized to 6 decimals on BOTH engines: ln is
    * only 1-ulp-reproducible across libms, and the quantization
    * absorbs that (the BM25/centroid precedent); everything inside the
    * ln is integer-exact math in IEEE doubles with identical
    * association on both sides. */
  def pmiCollocations(s: SparkSession, d: String, minCount: Long = 5L,
      k: Int = 50): DataFrame = {
    val toks = Tables.documents(s, d).select(tokens(col("text")).as("toks"))
    val uni = toks.select(explode(col("toks")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("c_tok"))
    val bgAll = toks.select(explode(bigramAllUdf(col("toks"))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c_ab"))
    val nDf = bgAll.agg(sum(col("c_ab")).as("n_bg"))
    // tokens never contain whitespace, so the single space is an
    // unambiguous separator
    val bg = bgAll.filter(col("c_ab") >= minCount)
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
    bg
      .join(uni.select(col("tok").as("w1"), col("c_tok").as("c_a")), Seq("w1"))
      .join(uni.select(col("tok").as("w2"), col("c_tok").as("c_b")), Seq("w2"))
      .crossJoin(broadcast(nDf))
      .withColumn("pmi", round(log(
        col("c_ab").cast(DoubleType) * col("n_bg").cast(DoubleType) /
          (col("c_a").cast(DoubleType) * col("c_b").cast(DoubleType))), 6))
      .select(col("bigram"), col("c_ab"), col("c_a"), col("c_b"), col("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(k)
  }

  /** The once-per-corpus (doc_id, n_tokens, quality_score) table, for
    * operators in sibling objects that compose with quality/token
    * counts without re-parsing the corpus text. */
  private[ops] def scoredDocs(s: SparkSession, d: String): DataFrame =
    s.read.parquet(scoredDocsDir(s, d))

  /** DOMAIN-MIXTURE sampling — the "data mixing" step of LLM pretraining:
    * allocate a global token budget across sources by temperature-
    * flattened share (T=2, i.e. weight ∝ √tokens — the standard
    * upweight-the-tail mixture of multilingual/multi-domain training),
    * then keep each source's deterministic hash-ordered document prefix
    * up to its allocation. Hash order (md5 of doc_id) makes the sample
    * reproducible and coordination-free: any worker knows a document's
    * fate from the allocation table alone.
    *
    * Scale shape mirrors [[budgetSelect]]'s histogram-prefix trick, per
    * source: documents land in 256 md5-prefix buckets, a sources×256
    * histogram (metadata scale, broadcast) takes each bucket's running
    * token sum, whole buckets under the allocation pass with a broadcast
    * filter, and ONLY each source's single boundary bucket (~1/256 of
    * that source) is exactly sorted to place the cut. No corpus-wide or
    * per-source global sort ever runs; equivalence to the flat
    * per-source md5-order prefix is exact because the bucket is the md5
    * string's own 2-hex-char prefix — hex chars sort lexicographically
    * as their numeric value, so bucket order refines md5 order.
    *
    * Allocation arithmetic is quantized through DECIMAL(28,6) before the
    * cross-source sum so both engines add exactly representable values
    * (float-sum order independence), then one IEEE multiply/divide/floor
    * lands the per-source budget identically. */
  def mixtureSample(s: SparkSession, d: String, budget: Long = 20000L): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"), col("source"))
      .join(scoredDocs(s, d).select(col("doc_id"), col("n_tokens")), Seq("doc_id"))
    val md5c = md5(col("doc_id").cast(StringType))
    val withB = base.withColumn("bucket",
      conv(substring(md5c, 1, 2), 16, 10).cast(IntegerType))
    // The sources×256 bucket histogram MATERIALIZES (localCheckpoint,
    // metadata scale, recomputed per execution) and the per-source
    // allocation derives FROM it (t_s = Σ btok — long addition, the
    // identical totals): previously `alloc` re-aggregated `base` and
    // each of the full/boundary branches re-derived `withB` + `hist` +
    // `alloc` from scratch — SIX documents∪scored passes per run
    // (r17 plan audit). Now the corpus feeds the histogram once and
    // each branch pays exactly one more probe pass (the irreducible
    // two-branch shape: only the boundary bucket may sort).
    val hist0 = withB.groupBy(col("source"), col("bucket"))
      .agg(sum(col("n_tokens")).as("btok"))
      .localCheckpoint(true)
    val alloc = hist0.groupBy(col("source"))
      .agg(sum(col("btok")).as("t_s"))
      .withColumn("wsd",
        round(sqrt(col("t_s").cast(DoubleType)), 6).cast(DecimalType(28, 6)))
      .withColumn("budget",
        floor(lit(budget).cast(DoubleType) * col("wsd").cast(DoubleType) /
          sum(col("wsd")).over(Window.partitionBy()).cast(DoubleType))
          .cast(LongType))
      .select(col("source"), col("budget"))
    val wb = Window.partitionBy(col("source")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hist = hist0
      .withColumn("cum", sum(col("btok")).over(wb))
      .withColumn("cum_before", col("cum") - col("btok"))
      .join(alloc, Seq("source"))
      .select(col("source"), col("bucket"), col("cum"), col("cum_before"), col("budget"))
      .localCheckpoint(true)
    val joined = withB.join(broadcast(hist), Seq("source", "bucket"))
    val full = joined.filter(col("cum") <= col("budget"))
      .select(col("source"), col("doc_id"), col("n_tokens"))
    // boundary-bucket-only exact sort; cum_before <= budget (not <) for
    // the zero-token-head edge, same reasoning as budgetSelect
    val wq = Window.partitionBy(col("source"), col("bucket"))
      .orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = joined
      .filter(col("cum") > col("budget") && col("cum_before") <= col("budget"))
      .withColumn("pcum", sum(col("n_tokens")).over(wq))
      .filter(col("cum_before") + col("pcum") <= col("budget"))
      .select(col("source"), col("doc_id"), col("n_tokens"))
    full.union(boundary).orderBy(col("source"), col("doc_id"))
  }

  /** Deterministic SHARD MANIFEST — the write-side layout step of a
    * training pipeline: every document hash-routes to one of `nShards`
    * output shards (md5-based, so any worker computes the assignment
    * statelessly), and the manifest reports per-shard balance (docs,
    * tokens, bytes, id range). At 100 TB this IS the partitioner for the
    * final `partitionBy(shard)` write; the manifest is one partial-
    * aggregated groupBy over nShards keys — metadata-scale output, the
    * balance check that decides whether the shard count needs widening
    * before the write job runs. */
  def shardManifest(s: SparkSession, d: String, nShards: Int = 32): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), length(col("text")).cast(LongType).as("n_bytes"))
      .join(scoredDocs(s, d).select(col("doc_id"), col("n_tokens")), Seq("doc_id"))
      .withColumn("shard",
        pmod(conv(substring(md5(col("doc_id").cast(StringType)), 1, 4), 16, 10)
          .cast(LongType), lit(nShards.toLong)))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_bytes")).as("n_bytes"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .orderBy(col("shard"))

  /** Top-k TF-IDF KEYWORDS per document — the classic salient-term
    * extractor (tagging, retrieval snippets, topic seeds): score =
    * tf · ln((N+1)/(df+1)), smoothed so corpus-universal terms score
    * exactly 0 rather than dividing by anything.
    *
    * Shape: tf partial-aggregates on (doc_id, token) — a stop word
    * contributes one row per (doc × partition), never a token-keyed
    * funnel; df reduces THE TF TABLE (already one row per doc×token)
    * on token with map-side combine and joins back broadcast — at
    * 100 TB that broadcast carries the vocabulary head with the long
    * tail coalesced to a default, the q_text_rarity shape; N is a
    * 1-row broadcast. The per-doc keep-k plans as WindowGroupLimit
    * partial → final: each map task truncates to k rows per doc
    * BEFORE the window exchange.
    *
    * Determinism: tf, df, N are integers; the score is one
    * fixed-association IEEE expression of them (identical bits both
    * engines), so the (score desc, token asc) rank order — token
    * breaking exact-score ties — is identical too. */
  def tfidfKeywords(s: SparkSession, d: String, k: Int = 3): DataFrame = {
    val docs = Tables.documents(s, d)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val tf = docTokens(s, d)
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    tf.join(broadcast(df), Seq("token"))
      .crossJoin(broadcast(nDocs))
      // ln differs by 1 ulp between the JVM and DuckDB's libm for some
      // arguments — the score quantizes through DECIMAL(18,8) (the BM25
      // precedent) so ranking and hash compare exactly
      .withColumn("score",
        (col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)))
          .cast(DecimalType(18, 8)).cast(DoubleType))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("token"),
        col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** Per-document BIGRAM-LM PERPLEXITY — the CCNet-style quality
    * filter: score each document under an add-one-smoothed bigram
    * language model trained on the corpus itself, p(w₂|w₁) =
    * (C(w₁w₂)+1)/(C(w₁)+V). Boilerplate and in-domain text scores low
    * perplexity; noise, wrong-language and shuffled text score high —
    * the standard pretraining-corpus triage signal.
    *
    * Shape: occurrences reduce DOC-SIDE first (groupBy (doc_id,
    * bigram) — doc id in the key, so a corpus-hot bigram never
    * funnels); the LM tables derive from that already-reduced table
    * with map-side combine and join back BROADCAST while the corpus
    * is under [[LmBroadcastMaxDocs]] (bigram-type scale); past it the
    * LM joins plan as regular exchanges on bigram/w1 — output-linear,
    * no driver-built hash relation (a production filter would instead
    * ship a PRUNED head with the long tail coalesced to the
    * unseen-bigram default, the q_text_rarity shape — an approximation
    * this exact-oracled query does not take); V is a 1-row broadcast.
    * Per-doc NLL terms quantize
    * through DECIMAL(18,8) before the order-sensitive sum, and the
    * final exp quantizes too (1-ulp JVM/libm divergence). */
  /** Broadcast budget for the LM tables, in DOCUMENTS (a metadata-free
    * cost proxy: bigram-type count grows with the corpus, and the only
    * number available without an extra job is the doc count). Below it
    * the c12/c1 tables broadcast — they are bigram-type scale, far
    * smaller than the occurrence table. Past it the full LM no longer
    * fits a driver-built hash relation (measured: the forced broadcast
    * at 5M docs / ~30M bigram types made the gen1000x step 12× for 10×
    * data — the build is single-threaded driver work) and the joins
    * plan as regular exchanges on bigram/w1, which is output-linear.
    * Injectable so the spec can force both regimes on one fixture. */
  private[graft] val LmBroadcastMaxDocs = 1000000L

  def lmPerplexity(s: SparkSession, d: String,
      broadcastMaxDocs: Long = LmBroadcastMaxDocs): DataFrame = {
    val docs = Tables.documents(s, d)
    val occ = docs.select(col("doc_id"),
      explode(bigramAllUdf(tokens(col("text")))).as("bigram"))
    // LM tables reduce the RAW occurrence stream with map-side combine:
    // each map task emits at most one row per bigram type it saw, so
    // the exchange is TYPE-scale (~30M rows at 5M docs) even though the
    // input is ~1.3B occurrences, and no per-doc pre-reduction is
    // needed to keep a corpus-hot bigram from funnelling (the hot key's
    // final reducer receives ≤ one partial row per map task).
    // c12 MATERIALIZES per execution (bigram-TYPE scale — ~30M rows at
    // 5M docs, metadata next to the occurrence stream): the plan
    // otherwise re-runs the full corpus bigram parse once per c12
    // consumer — c12 itself, c1 (derived from it), i.e. THREE
    // occurrence-scale tokenize+explode passes for one LM table
    // (verified in plans/r18/before/q_lm_perplexity.txt, kept at commit
    // 7eb8182: 3 Generate-over-parquet branches). Same per-execution
    // discipline as psi_drift's cells — inside the timed region, never
    // cross-run.
    val c12 = occ.groupBy(col("bigram")).agg(count(lit(1)).as("c12"))
      .localCheckpoint(true)
    val c1 = c12
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val v = docTokens(s, d)
      .agg(countDistinct(col("token")).as("vocab"))
    val small = Tables.rowCount(s, d, "documents") <= broadcastMaxDocs
    def lm(t: DataFrame): DataFrame = if (small) broadcast(t) else t
    // ONE bigram-keyed LM table: c1 folds into c12 at BIGRAM-TYPE scale,
    // then the occurrence stream pays exactly ONE occurrence-scale
    // exchange — the LM join on bigram. The previous shape paid three:
    // a per-(doc, bigram) pre-reduction, the c12 join, and a w1
    // re-exchange of the joined occurrence table. Per-occurrence NLL
    // terms quantize through DECIMAL(18,8) individually (k identical
    // terms sum to exactly k·term in decimal, so dropping the k-grouped
    // form only moves WHERE the quantization happens — the oracle SQL
    // computes the identical per-occurrence form), and the final per-doc
    // reduction map-side combines to doc scale before its exchange.
    val lmTable = c12
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .join(c1, Seq("w1"))
      .select(col("bigram"), col("c12"), col("c1"))
    occ
      .join(lm(lmTable), Seq("bigram"))
      .crossJoin(broadcast(v))
      .withColumn("nll_term",
        (-log((col("c12") + 1.0) / (col("c1") + col("vocab"))))
          .cast(DecimalType(18, 8)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("nll_term")).cast(DecimalType(18, 8))
          .cast(DoubleType).as("nll_sum"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("nll_sum") / col("n_bigrams")).as("avg_nll"),
        exp(col("nll_sum") / col("n_bigrams"))
          .cast(DecimalType(18, 8)).cast(DoubleType).as("ppl"))
      .orderBy(col("doc_id"))
  }

  /** Per-source unigram SHANNON ENTROPY — the corpus-diversity probe a
    * data-mixing pipeline reads before weighting sources: a source
    * whose token distribution has collapsed (boilerplate, template
    * spam) shows low entropy and gets down-weighted. H = ln(N) −
    * (Σ c·ln c)/N over the source's token counts — the algebraically
    * equivalent form of −Σ p·ln p that needs only integer counts and
    * one corrective term.
    *
    * Shape: ONE partial-aggregating groupBy on (source, token) — the
    * only corpus-wide shuffle, hot tokens pre-combined map-side — then
    * a per-source reduction over distinct-token rows. The
    * order-sensitive Σ c·ln c quantizes each term through
    * DECIMAL(18,8) (the chi-square / BM25 precedent) so the statistic
    * hash-compares exactly. */
  def sourceEntropy(s: SparkSession, d: String): DataFrame =
    docTokens(s, d)
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum((col("c") * log(col("c"))).cast(DecimalType(18, 8)))
          .cast(DecimalType(18, 8)).cast(DoubleType).as("sclc"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        // ln(N) quantizes like the terms (1-ulp JVM/libm divergence)
        (log(col("n_tokens")) - col("sclc") / col("n_tokens"))
          .cast(DecimalType(18, 8)).cast(DoubleType).as("entropy_nats"))
      .orderBy(col("source"))

  /** Top TF-IDF terms for a BOUNDED document slice with corpus-wide
    * document frequencies — the SCALE-VARIANT counterpart of
    * [[tfidfKeywords]] (which keys every document and broadcasts the
    * df table): same operator family, the OPPOSITE join direction for
    * the regime where the vocabulary does NOT fit a broadcast. Here
    * df is per-VOCABULARY-term (unbounded — never broadcast; the
    * SSJoin family's rule) and STREAMS, while the tf side is bounded
    * by the requested doc slice and broadcasts — the "score a feed of
    * query documents against corpus statistics" retrieval shape. Also
    * uses the smooth sklearn idf (ln((N+1)/(df+1)) + 1) so
    * corpus-universal terms keep a nonzero tf weight instead of
    * zeroing out. Scores quantize through DECIMAL(18,8) before
    * ranking (BM25 precedent) so the per-doc row_number tie-break
    * (score desc, token asc) picks identical terms on both engines. */
  def tfidfTop(s: SparkSession, d: String, perDoc: Int = 3,
      maxDoc: Long = 200): DataFrame = {
    val docs = Tables.documents(s, d)
    val toks = docTokens(s, d).select(col("doc_id"), col("token"))
    val dfTok = toks.groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val tf = toks.filter(col("doc_id") < maxDoc)
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val score = (col("tf") *
        (log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0)))
      .cast(DecimalType(18, 8))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    dfTok.join(broadcast(tf), "token")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("token"), score.as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= perDoc)
      .select(col("doc_id"), col("rnk"), col("token"),
        col("score").cast(DoubleType).as("score"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** ZIPF rank-frequency fit — the corpus-health diagnostic: OLS of
    * ln(frequency) on ln(rank) over the top `maxRank` vocabulary
    * terms. Natural text sits near slope −1; a synthetic or
    * template-collapsed corpus (like this fixture's uniform ~30-word
    * vocabulary — measured slope ≈ −0.18, R² 0.06) flattens toward 0, and a
    * boilerplate-dominated crawl steepens past −1.5. The deviation IS
    * the signal, which is why the fit belongs in the engine next to
    * entropy/repetition rather than in a notebook.
    *
    * Shape: the vocabulary count table (metadata-scale next to the
    * corpus; the inverted-index block-shard note applies if a
    * vocabulary ever outgrows one rank-sort task) ranks under a
    * row_number whose ≤maxRank filter lowers to WindowGroupLimit;
    * ln terms quantize through DECIMAL(18,8) (BM25 precedent) and
    * their pairwise products stay exact at DECIMAL(38,16), so the
    * five moment sums hash-compare and one shared IEEE tree yields
    * slope/R². */
  def zipfFit(s: SparkSession, d: String, maxRank: Int = 1000): DataFrame = {
    val d8 = DecimalType(18, 8)
    val d3816 = DecimalType(38, 16)
    val counts = docTokens(s, d)
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("c").desc, col("token"))
    val ranked = counts.withColumn("r", row_number().over(w))
      .filter(col("r") <= maxRank)
      .select(log(col("r")).cast(d8).as("x"), log(col("c")).cast(d8).as("y"))
    val g = ranked.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum((col("x") * col("x")).cast(d3816)).as("sxx"),
      sum((col("x") * col("y")).cast(d3816)).as("sxy"),
      sum((col("y") * col("y")).cast(d3816)).as("syy"))
    val n = col("n").cast(DoubleType)
    val sx = col("sx").cast(DoubleType); val sy = col("sy").cast(DoubleType)
    val sxx = col("sxx").cast(DoubleType); val sxy = col("sxy").cast(DoubleType)
    val syy = col("syy").cast(DoubleType)
    val covn = n * sxy - sx * sy
    val varx = n * sxx - sx * sx
    val vary = n * syy - sy * sy
    g.select(col("n").as("n_ranks"),
        (covn / varx).as("slope"),
        (covn * covn / (varx * vary)).as("r2"))
  }
}
