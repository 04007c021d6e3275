package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic scale-fixture generator for the third point of the
  * SCALING.md curve (VERDICT r3 item 5): the sandbox has no sf1
  * fixtures, so this writes events/documents/embeddings parquet that
  * MIRROR the sf0.1 tables' distributions (schema, 30-day event span,
  * events-per-user density, 30-word document vocab with the rare `dup`
  * marker on planted near-copies, ~0.16% exact-dup rate, 64-dim
  * embeddings with 10 labels and planted near-identical vectors) at a
  * chosen multiplier:
  *
  *   sbt 'runMain graft.tools.ScaleFixture /tmp/genfix_10x 10'
  *
  * Everything is a pure function of the row index via xxhash64 (the
  * same partition-invariant seeding as gen.Ticks): no driver loops, no
  * RNG state, any executor layout writes identical bytes. Generating
  * the SAME distribution at 1x and 10x gives a matched pair whose
  * per-query time ratio isolates data growth from content drift —
  * the driver's sf0.01→sf0.1 pair plus the generated 1x→10x pair
  * spans 10k→1M events (three decades) for the scale curve. */
object ScaleFixture {

  private val vocab = Seq(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch")

  private def h(cols: org.apache.spark.sql.Column*) = xxhash64(cols: _*)

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val mult = if (args.length > 1) args(1).toInt else 10
    val s = graft.Tuning.localSession()

    val nEvents = 100000L * mult
    val nDocs = 5000L * mult
    val nEmb = 2000L * mult

    // ---- events: 30-day span, ~67 events/user, 5 types, value in
    // [0, 560] rounded to cents, one-key JSON props ----
    val spanMicros = 30L * 86400L * 1000000L
    val nUsers = 1500L * mult // constant per-user density => session sizes hold
    s.range(nEvents).toDF("event_id")
      .select(
        col("event_id"),
        // stored as raw NANOS long, matching the driver fixture's
        // TIMESTAMP(NANOS) physical layout that Tables.events undoes
        ((lit(1704067200000000L) +
          col("event_id") * lit(spanMicros / nEvents) +
          pmod(h(lit("ts"), col("event_id")), lit(2000000L))) * 1000L).as("ts"),
        pmod(h(lit("user"), col("event_id")), lit(nUsers)).as("user_id"),
        element_at(
          array(lit("view"), lit("click"), lit("purchase"), lit("signup"), lit("error")),
          (pmod(h(lit("type"), col("event_id")), lit(5L)) + 1).cast(IntegerType))
          .as("event_type"),
        round(pmod(h(lit("value"), col("event_id")), lit(56021L))
          .cast(DoubleType) / 100.0, 2).as("value"),
        concat(lit("{\"k\": "),
          pmod(h(lit("props"), col("event_id")), lit(100L)), lit("}")).as("props"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")

    // ---- documents: 10-100 tokens from the 30-word vocab; ~1% are
    // near-copies of their predecessor with the `dup` marker appended
    // (LSH/minhash candidate structure); ~0.16% are EXACT copies ----
    val base = s.range(nDocs).toDF("doc_id")
      .withColumn("_exact", pmod(h(lit("exact"), col("doc_id")), lit(625L)) === 0 &&
        col("doc_id") > 0)
      .withColumn("_near", pmod(h(lit("near"), col("doc_id")), lit(100L)) === 0 &&
        col("doc_id") > 0)
      // content seed: exact/near copies draw their tokens from the
      // PREDECESSOR's seed, so duplicate structure is by construction
      .withColumn("_seed",
        when(col("_exact") || col("_near"), col("doc_id") - 1).otherwise(col("doc_id")))
    val nTok = (pmod(h(lit("ntok"), col("_seed")), lit(91L)) + 10L).cast(IntegerType)
    val toks = transform(sequence(lit(0), nTok - 1),
      j => element_at(array(vocab.map(lit): _*),
        (pmod(h(lit("tok"), col("_seed"), j), lit(vocab.length.toLong)) + 1)
          .cast(IntegerType)))
    base
      .withColumn("text",
        when(col("_near"), concat(array_join(toks, " "), lit(" dup")))
          .otherwise(array_join(toks, " ")))
      .select(
        col("doc_id"),
        col("text"),
        element_at(array(lit("en"), lit("de"), lit("zh"), lit("fr"), lit("es")),
          (pmod(h(lit("lang"), col("doc_id")), lit(5L)) + 1).cast(IntegerType))
          .as("lang"),
        concat(lit("src"), pmod(h(lit("src"), col("doc_id")), lit(20L))).as("source"),
        length(col("text")).cast(LongType).as("n_chars"))
      .repartition(16)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    // ---- embeddings: 64-dim uniform [-1,1] floats, 10 labels, 0.2%
    // planted near-identical neighbors (embed near-dup structure) ----
    val dim = 64
    val near = pmod(h(lit("enear"), col("vec_id")), lit(500L)) === 0 && col("vec_id") > 0
    val eseed = when(near, col("vec_id") - 1).otherwise(col("vec_id"))
    val vec = transform(sequence(lit(0), lit(dim - 1)),
      j => (pmod(h(lit("emb"), eseed, j), lit(2000001L)).cast(DoubleType) / 1000000.0
        - 1.0 +
        when(near, (pmod(h(lit("jit"), col("vec_id"), j), lit(101L))
          .cast(DoubleType) - 50.0) / 100000.0).otherwise(lit(0.0)))
        .cast(FloatType))
    s.range(nEmb).toDF("vec_id")
      .select(col("vec_id"), vec.as("embedding"),
        pmod(h(lit("lbl"), col("vec_id")), lit(10L)).cast(IntegerType).as("label"))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    println(s"SCALEFIX rows: events=$nEvents docs=$nDocs emb=$nEmb -> $outDir")
    s.stop()
  }
}
