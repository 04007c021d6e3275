package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Source/sink surface of the reference (SURVEY §2.1), transport-pluggable.
  *
  * The reference's transports are Kafka in (`stream_consumer.py:89-93`)
  * and MySQL-over-JDBC out (`stream_consumer.py:61-69`,
  * `batch_processor.py:72-79`). This sandbox has neither broker nor
  * database nor their connector jars, so the tested paths run on the
  * parquet stand-ins; the Kafka/JDBC constructors below carry the exact
  * production configuration and activate when the standard connector
  * jars (spark-sql-kafka-0-10, a JDBC driver) are on the classpath.
  */
object Sinks {

  /** The Kafka source option surface as PURE DATA: the exact keys Spark's
    * kafka-0-10 connector documents. Both the production reader
    * ([[graft.sources.KafkaTickSource]]) and TransportSpec consume THIS
    * map, so a wiring typo (the class of bug
    * a compile can't catch on stringly-typed options) fails the spec,
    * not the first production deployment. */
  def kafkaSourceOptions(bootstrap: String, topic: String,
      startingOffsets: String = "latest"): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrap,
    "subscribe" -> topic,
    "startingOffsets" -> startingOffsets)

  /** The JDBC option surface as pure data — same contract as
    * [[kafkaSourceOptions]]. `dbtable` carries either a bare table name
    * (sink append) or a pushdown subquery (source top-k). */
  def jdbcOptions(url: String, dbtable: String,
      user: String, password: String): Map[String, String] = Map(
    "url" -> url,
    "dbtable" -> dbtable,
    "user" -> user,
    "password" -> password)

  /** S2 stand-in used by the streaming pipeline: append-mode parquet
    * "raw tick table" (same append-only, at-least-once semantics as the
    * reference's JDBC append). */
  def parquetAppend(df: DataFrame, dir: String): Unit =
    df.write.mode("append").parquet(dir)

  /** IDEMPOTENT per-batch segment publish: each micro-batch writes its
    * whole output under a batch-id-named partition directory with
    * overwrite semantics. foreachBatch is at-least-once — a failed
    * commit replays the batch — and a plain append would then duplicate
    * the batch's rows silently (for the index drain: doubled tf counts
    * after the segment merge). Keying the directory by batch id makes
    * the retry overwrite its own previous attempt instead: the store
    * converges to exactly-once CONTENTS under any number of replays,
    * the same idempotent-overwrite trick Spark's own file sink plays
    * with its per-batch manifest. Readers list the store root; the
    * `batch_id=N` layout surfaces as an ordinary partition column they
    * are free to ignore. */
  def parquetBatchOverwrite(batch: DataFrame, dir: String, batchId: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$dir/batch_id=$batchId")

  /** Streaming UPSERT over an append-only store, as a write/read pair:
    * [[upsertAppend]] logs each micro-batch's changed rows with the
    * batch id (executor-side append — nothing materializes on the
    * driver); [[readLatest]] compacts latest-wins per key at read time.
    * This is the standard keyed-sink pattern when the store can't update
    * in place (parquet/object storage): an update-mode stream writes
    * only the rows a batch touched, and any reader reconstructs current
    * state. Used by the update-mode drains and the stateful emission
    * log; replay-safe because re-appending a batch rewrites the same
    * (key, batch_id) verdicts. */
  def upsertAppend(batch: DataFrame, dir: String, batchId: Long): Unit =
    parquetAppend(batch.withColumn("batch_id",
      org.apache.spark.sql.functions.lit(batchId)), dir)

  def readLatest(s: SparkSession, dir: String, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val latest = Window.partitionBy(keys.map(col): _*).orderBy(col("batch_id").desc)
    s.read.parquet(dir)
      .withColumn("rn", row_number().over(latest))
      .filter(col("rn") === 1)
      .drop("rn", "batch_id")
  }

  /** S2 — the reference's JDBC append sink (MySQL
    * `stock_prediction.stock_ticks_raw`). Requires a JDBC driver jar.
    * At-least-once under retries, exactly like the reference (no
    * transactional sink there either — SURVEY T8). */
  def jdbcAppend(df: DataFrame, url: String, table: String,
      user: String, password: String): Unit =
    df.write.format("jdbc")
      .options(jdbcOptions(url, table, user, password))
      .mode("append")
      .save()

  /** S3 — the reference's manual JDBC pushdown subquery
    * (`batch_processor.py:72-79`): sort+limit executed inside the
    * database. Kept for API parity; on parquet the same plan shape comes
    * from `orderBy(desc).limit(n)` via Catalyst's TakeOrderedAndProject
    * (see ops.Relational.orderByLimit). */
  /** The pushdown subquery [[jdbcTopK]] sends as `dbtable` — exposed so
    * the spec can pin its shape against `batch_processor.py:72-79`. */
  def jdbcTopKSubquery(table: String, tsCol: String, limit: Int): String =
    s"(SELECT * FROM $table ORDER BY $tsCol DESC LIMIT $limit) AS tmp"

  def jdbcTopK(s: SparkSession, url: String, table: String, tsCol: String,
      limit: Int, user: String, password: String): DataFrame =
    s.read.format("jdbc")
      .options(jdbcOptions(url, jdbcTopKSubquery(table, tsCol, limit),
        user, password))
      .load()
}
