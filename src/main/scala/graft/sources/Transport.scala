package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Transport abstraction for the streaming pipeline (SURVEY §2.1 S1/S2):
  * WHERE ticks come from and WHERE the raw tick table lands is config,
  * not code. The engine's pipelines consume [[TickSource]]/[[TickSink]]
  * and never name a concrete transport; [[TickTransport]] picks the
  * implementation from session conf.
  *
  * The reference's production pair is Kafka in (topic `stock_ticks`,
  * bootstrap `localhost:9092` — `stream_consumer.py:89-93`) and
  * MySQL-over-JDBC out (`stream_consumer.py:61-69`). This sandbox has
  * neither broker nor database, so the DEFAULT implementations replay
  * staged parquet and write parquet, exercised by the whole streaming
  * suite; that sink is exactly-once in contents, the JDBC one
  * at-least-once like the reference's. The Kafka/JDBC implementations
  * below compile against the standard Spark option surface and activate
  * by setting the conf keys, with the connector jars
  * (spark-sql-kafka-0-10, a JDBC driver) on the production classpath.
  */
trait TickSource {
  /** A STREAMING DataFrame of tick rows in the engine's event schema
    * ([[graft.Tables.eventsSchema]]): event_id, ts (TimestampType),
    * event_type, value, plus fixture columns where the source carries
    * them. Downstream pipelines add watermarks/windows/state on top. */
  def read(s: SparkSession): DataFrame
}

/** Default source: replay a staged directory of parquet files,
  * `filesPerTrigger` files per micro-batch (the engine's multi-batch
  * test harness — see Pipeline.prestage for the staging contract). */
final case class FileTickSource(stagedDir: String, filesPerTrigger: Int = 1)
    extends TickSource {
  def read(s: SparkSession): DataFrame =
    s.readStream.schema(graft.Tables.eventsSchema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
      .parquet(stagedDir)
}

/** The reference's Kafka source shape. The broker delivers the
  * producer's JSON wire envelope in the Kafka `value` column
  * (`producer.py:28-34` json.dumps); parsing it with the event schema
  * yields the same rows the file replay stages. `startingOffsets`
  * defaults to the reference consumer's `latest`. */
final case class KafkaTickSource(bootstrap: String, topic: String,
    startingOffsets: String = "latest") extends TickSource {
  def read(s: SparkSession): DataFrame =
    s.readStream.format("kafka")
      .options(Sinks.kafkaSourceOptions(bootstrap, topic, startingOffsets))
      .load()
      .select(from_json(col("value").cast(StringType),
        graft.Tables.eventsSchema).as("e"))
      .select(col("e.*"))
}

trait TickSink {
  /** Add one micro-batch of raw tick rows to the tick table (S2: the
    * reference's tick-table insert). Called from foreachBatch, which
    * replays a batch that failed before its commit under the same id. */
  def append(batch: DataFrame, batchId: Long): Unit
}

/** Default sink: the parquet "raw tick table" under `dir`, one
  * `batch_id=N` partition per micro-batch ([[Sinks.parquetBatchOverwrite]]):
  * a replayed batch overwrites its previous attempt, so every tick lands once. */
final case class ParquetTickSink(dir: String) extends TickSink {
  def append(batch: DataFrame, batchId: Long): Unit =
    Sinks.parquetBatchOverwrite(batch, dir, batchId)
}

/** The reference's JDBC append sink (MySQL
  * `stock_prediction.stock_ticks_raw`). AT-LEAST-ONCE under retries,
  * exactly like the reference (no transactional sink there either —
  * SURVEY T8): a replayed batch inserts its rows again. */
final case class JdbcTickSink(url: String, table: String,
    user: String, password: String) extends TickSink {
  def append(batch: DataFrame, batchId: Long): Unit =
    Sinks.jdbcAppend(batch, url, table, user, password)
}

/** Config-driven transport selection. Keys (all in session conf, so a
  * production deployment swaps transports with `--conf`, zero code):
  *
  *   graft.stream.source            file (default) | kafka
  *   graft.stream.kafka.bootstrap   default localhost:9092
  *   graft.stream.kafka.topic       default stock_ticks
  *   graft.stream.kafka.startingOffsets  default latest
  *   graft.stream.sink              parquet (default) | jdbc
  *   graft.stream.jdbc.url / .table / .user / .password
  */
object TickTransport {

  /** The pipeline's source: `stagedFile` is the lazily-staged replay
    * dir, only forced when the file transport is selected (a Kafka
    * deployment must not pay fixture staging). */
  def source(s: SparkSession, stagedFile: => String,
      filesPerTrigger: Int = 1): TickSource =
    s.conf.get("graft.stream.source", "file") match {
      case "file" => FileTickSource(stagedFile, filesPerTrigger)
      case "kafka" => KafkaTickSource(
        s.conf.get("graft.stream.kafka.bootstrap", "localhost:9092"),
        s.conf.get("graft.stream.kafka.topic", "stock_ticks"),
        s.conf.get("graft.stream.kafka.startingOffsets", "latest"))
      case other => throw new IllegalArgumentException(
        s"unknown graft.stream.source '$other' (file|kafka)")
    }

  /** The pipeline's raw-table sink: `parquetDir` is the engine-managed
    * sink dir, only forced for the parquet transport. */
  def sink(s: SparkSession, parquetDir: => String): TickSink =
    s.conf.get("graft.stream.sink", "parquet") match {
      case "parquet" => ParquetTickSink(parquetDir)
      case "jdbc" => JdbcTickSink(
        s.conf.get("graft.stream.jdbc.url"),
        s.conf.get("graft.stream.jdbc.table"),
        s.conf.get("graft.stream.jdbc.user"),
        s.conf.get("graft.stream.jdbc.password"))
      case other => throw new IllegalArgumentException(
        s"unknown graft.stream.sink '$other' (parquet|jdbc)")
    }
}
