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
  * The parquet sinks are exactly-once in contents (one batch-keyed
  * overwrite); the JDBC append is at-least-once, like the reference's.
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

  /** THE parquet write of every stream micro-batch, IDEMPOTENT per batch
    * id: the batch overwrites its own `batch_id=N` partition dir under
    * `dir`. foreachBatch is at-least-once — a batch that fails before its
    * commit replays under the same id — and a plain append would then
    * duplicate its rows silently; keyed by batch id, the retry overwrites
    * its own previous attempt, so the store converges to exactly-once
    * CONTENTS (*Structured Streaming*, SIGMOD 2018, §6: replayable source
    * plus a sink idempotent per batch id). Readers see `batch_id` as a
    * partition column. A `dir` that already is the batch's partition (a
    * caller keying its own dir per batch) is written in place: a nested
    * `batch_id=N/batch_id=N` would make the table unreadable. */
  def parquetBatchOverwrite(batch: DataFrame, dir: String, batchId: Long): Unit = {
    val part = s"batch_id=$batchId"
    batch.write.mode("overwrite")
      .parquet(if (dir.endsWith(s"/$part")) dir else s"$dir/$part")
  }

  /** Streaming UPSERT, read side: an update-mode drain writes only the
    * rows a micro-batch changed, each batch under its own batch id
    * ([[parquetBatchOverwrite]]), and this compacts the log latest-wins
    * per key — the standard keyed-sink pattern when the store can't
    * update in place (parquet/object storage). `rows` carry the
    * `batch_id` column; the result drops it. */
  def readLatest(rows: DataFrame, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val latest = Window.partitionBy(keys.map(col): _*).orderBy(col("batch_id").desc)
    rows
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

  /** The pushdown subquery [[jdbcTopK]] sends as `dbtable` — exposed so
    * the spec can pin its shape against `batch_processor.py:72-79`. */
  def jdbcTopKSubquery(table: String, tsCol: String, limit: Int): String =
    s"(SELECT * FROM $table ORDER BY $tsCol DESC LIMIT $limit) AS tmp"

  /** S3 — the reference's manual JDBC pushdown subquery
    * (`batch_processor.py:72-79`): sort+limit executed inside the
    * database. Kept for API parity; on parquet the same plan shape comes
    * from `orderBy(desc).limit(n)` via Catalyst's TakeOrderedAndProject
    * (see ops.Relational.orderByLimit). */
  def jdbcTopK(s: SparkSession, url: String, table: String, tsCol: String,
      limit: Int, user: String, password: String): DataFrame =
    s.read.format("jdbc")
      .options(jdbcOptions(url, jdbcTopKSubquery(table, tsCol, limit),
        user, password))
      .load()
}
