package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table-MAINTENANCE operators: the upsert/merge and incremental-
  * aggregation shapes a warehouse runs continuously. At 100 TB these
  * are what make a pipeline affordable — the alternative to each is a
  * full rescan of the base table.
  */
object Maintain {

  // day-3 cut: early enough that the change stream carries keys the
  // base has never seen (inserts), late enough that most base keys get
  // changes (updates); the delete threshold hits at every fixture SF
  private val splitDay = "2024-01-04"
  private val deleteBelow = 3.0

  /** MERGE (upsert + delete) of a change batch into a base table, as
    * one declarative plan: base FULL OUTER JOIN the latest change per
    * business key (user_id, event_type); matched rows take the change's
    * value, unmatched changes insert, change rows flagged delete
    * tombstone the key. The join is a plain equi-join on the business
    * key — at scale it shuffles once on that key (or zero times if the
    * base is bucketed by it, see Joins.bucketedTables), and the
    * "latest change per key" pre-step is the bounded dedup that keeps
    * the merge deterministic under out-of-order change capture. Fixture
    * split: events before the splitDay cut are the base state (latest value
    * per key), events after are the change stream; a change with
    * value < deleteBelow is a delete marker (deterministic from data). */
  def mergeUpsert(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        col("value"))
    val latest = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val base = e.filter(col("ts") < lit(splitDay).cast(TimestampType))
      .withColumn("_rn", row_number().over(latest)).filter(col("_rn") === 1)
      .select(col("user_id"), col("event_type"), col("value").as("base_value"))
    val changes = e.filter(col("ts") >= lit(splitDay).cast(TimestampType))
      .withColumn("_rn", row_number().over(latest)).filter(col("_rn") === 1)
      .select(col("user_id"), col("event_type"), col("value").as("chg_value"),
        (col("value") < deleteBelow).as("is_delete"))
    base.join(changes, Seq("user_id", "event_type"), "full_outer")
      .filter(!coalesce(col("is_delete"), lit(false)))   // tombstones drop the key
      .select(col("user_id"), col("event_type"),
        coalesce(col("chg_value"), col("base_value")).as("value"),
        (col("base_value").isNotNull && col("chg_value").isNotNull).as("updated"),
        (col("base_value").isNull).as("inserted"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** INCREMENTAL aggregate maintenance: a materialized per-type daily
    * rollup is refreshed by merging the delta slice's partial aggregate
    * into the base — never by rescanning the base. Works because the
    * aggregate state (count, decimal sum) is a commutative monoid:
    * merge(base, delta) == full recompute, bit for bit, which is
    * exactly what the oracle checks (its SQL recomputes from scratch).
    * The refresh cost is O(delta), the 100 TB point of maintaining the
    * rollup at all; both partial aggregates are map-side combined. */
  def incrementalRollup(s: SparkSession, d: String): DataFrame = {
    def slice(pred: org.apache.spark.sql.Column): DataFrame =
      Tables.events(s, d).filter(pred)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).as("total"))
    val cut = lit(splitDay).cast(TimestampType)
    val base  = slice(col("ts") < cut)
    val delta = slice(col("ts") >= cut)
    base.select(col("event_type"), col("n"), col("total"))
      .join(delta.select(col("event_type"), col("n").as("dn"),
        col("total").as("dtotal")), Seq("event_type"), "full_outer")
      .select(col("event_type"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("total"), lit(java.math.BigDecimal.ZERO).cast(DecimalType(18, 2)))
          + coalesce(col("dtotal"), lit(java.math.BigDecimal.ZERO).cast(DecimalType(18, 2))))
          .cast(DoubleType).as("total"))
      .orderBy(col("event_type"))
  }

  /** SNAPSHOT DIFF (change-data derivation): given two materialized
    * key→value states — "latest value per (user, event_type) over a
    * trailing activity window" at two points in time — emit the change
    * stream that transforms one into the other: inserts (key only in
    * the new snapshot), deletes (only in the old), updates (value
    * changed). The inverse of [[mergeUpsert]], and the op a warehouse
    * runs to publish incremental feeds from full snapshots. One
    * business-key full outer join (equi-key, single shuffle — or zero
    * shuffles against bucketed snapshots); the two snapshot builds are
    * window-dedups keyed the same way, so AQE coalesces them into the
    * same exchange key. Trailing windows (not cumulative prefixes) so
    * an append-only log still produces genuine deletes. */
  def snapshotDiff(s: SparkSession, d: String): DataFrame = {
    def snap(lo: String, hi: String): DataFrame = {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, d)
        .filter(col("ts") >= lit(lo).cast(TimestampType) &&
          col("ts") < lit(hi).cast(TimestampType))
        .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .select(col("user_id"), col("event_type"), col("value"))
    }
    val a = snap("2024-01-01", "2024-01-11")
    val b = snap("2024-01-20", "2024-01-30")
    a.select(col("user_id"), col("event_type"), col("value").as("old_value"))
      .join(b.select(col("user_id"), col("event_type"), col("value").as("new_value")),
        Seq("user_id", "event_type"), "full_outer")
      .withColumn("change",
        when(col("old_value").isNull, "insert")
          .when(col("new_value").isNull, "delete")
          .when(col("old_value") =!= col("new_value"), "update")
          .otherwise("unchanged"))
      .filter(col("change") =!= "unchanged")
      .orderBy(col("user_id"), col("event_type"))
  }

  /** SMALL-FILE COMPACTION: rewrite a directory of many small files
    * into ceil(bytes / targetFileBytes) right-sized files — the
    * maintenance op that keeps scan task counts (and NameNode/manifest
    * pressure) sane under streaming ingest, which lands one small file
    * per micro-batch per partition. The planner LISTS file metadata
    * only (what real compactors do — size decisions never read data);
    * the data moves once through a coalesce write. coalesce(), not
    * repartition(): compaction must not pay a full shuffle just to
    * merge files. Content identity (the oracle) is the whole contract:
    * compaction may change layout, never rows. MaintainSpec pins the
    * before/after file counts. */
  val SmallFileCount = 48

  def smallFilesDir(s: SparkSession, d: String): String =
    Tables.artifact(s, d, Seq("events"), "smallFilesDir") {
      val out = graft.Tuning.diskTmpDir("graft_small_").toString
      Tables.events(s, d)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"))
        .repartition(SmallFileCount)   // simulate per-micro-batch landing files
        .write.mode("overwrite").parquet(out)
      out
    }

  /** Lists the dir's parquet part-files via the Hadoop FS API. */
  def partFiles(s: SparkSession, dir: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.listStatus(path).toSeq.filter(_.getPath.getName.startsWith("part-"))
  }

  /** Keyed by the target file size too: a second caller with a
    * different compaction target must NOT get the first one's layout. */
  def compactedDir(s: SparkSession, d: String,
      targetFileBytes: Long = 128L * 1024 * 1024): String =
    Tables.artifact(s, d, Seq("events"), ("compactedDir", targetFileBytes)) {
      val in = smallFilesDir(s, d)
      val bytes = partFiles(s, in).map(_.getLen).sum
      val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      val out = graft.Tuning.diskTmpDir("graft_compact_").toString
      s.read.parquet(in).coalesce(nFiles).write.mode("overwrite").parquet(out)
      out
    }

  def compactedEvents(s: SparkSession, d: String): DataFrame =
    s.read.parquet(compactedDir(s, d))
      .select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"))
      .orderBy(col("event_id"))
}
