package graft

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet table loaders over the driver corpus (TESTDATA.md).
  *
  * Stand-in for the reference's two sources: the Kafka tick stream
  * (reference `stream_consumer.py:89-93`) and the MySQL raw-tick table
  * (reference `batch_processor.py:72-79`). In the sandbox both are parquet;
  * the schemas are fixed (FIXTURES.md §B) so scans stay prunable —
  * column projection and predicate pushdown reach the parquet reader.
  *
  * Also the engine's one artifact store ([[artifact]]): every derived
  * value it reuses — loader plans, staged copies, checkpointed
  * artifacts, trained models, counts — lives in one map keyed by
  * content fingerprint, and the values that outlive the JVM
  * ([[dfArtifact]], [[corpusValue]]) persist in one format, parquet
  * sidecars published with `_SUCCESS` under [[artifactRoot]].
  */
object Tables {

  /** Per-session tag via the session-scoped SQLConf (public API; each
    * SparkSession carries its own conf even under a shared context).
    * Used to key session-bound cached DataFrames — a Dataset handed
    * across sessions (or out of a stopped one) is a runtime error. */
  private[graft] def sessionTag(spark: SparkSession): String =
    spark.conf.getOption("graft.session.tag").getOrElse {
      val t = java.util.UUID.randomUUID().toString
      spark.conf.set("graft.session.tag", t); t
    }

  /** Content fingerprint of one parquet table directory: a fold of
    * (path, size, mtime) over every regular file under it, in sorted
    * path order. This — not the directory's own mtime — is the
    * freshness key for every cached plan/count/artifact: an in-place
    * part-file rewrite (same file names, so the directory entry set and
    * its mtime are unchanged) still moves the file's size or mtime, so
    * the fingerprint moves and the stale cache entry is unreachable.
    * Same discipline as Similarity.cachedCount's inputFiles hash.
    * Listing a table dir is tens of entries (hundreds at the generated
    * scale fixtures) — microseconds against the queries it keys.
    *
    * IO-FAULT posture: a file vanishing mid-walk (the concurrent
    * in-place rewrite this fingerprint exists to catch) or any other
    * stat/walk failure must DEGRADE, not propagate — the callers are
    * load()/rowCount()/artifact(), none of which should fail because a
    * freshness probe hiccuped. Per-file stat errors skip that file;
    * anything else returns an always-fresh sentinel (monotonic, never
    * equal to a real hash of this fold nor to a prior sentinel), so the
    * caches MISS and rebuild rather than serve a stale entry — the
    * conservative direction for a freshness key. */
  private[graft] def tableFingerprint(path: String): Long =
    try {
      val p = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.exists(p)) return -1L
      var h = 1125899906842597L
      def mix(x: Long): Unit = h = h * 31 + x
      val st = java.nio.file.Files.walk(p)
      try {
        val it = st.sorted().iterator()
        while (it.hasNext) {
          val f = it.next()
          try {
            if (java.nio.file.Files.isRegularFile(f)) {
              mix(f.toString.hashCode.toLong)
              mix(java.nio.file.Files.size(f))
              mix(java.nio.file.Files.getLastModifiedTime(f).toMillis)
            }
          } catch {
            // vanished between walk and stat: the rewrite itself moves
            // sibling mtimes, so skipping the ghost still changes the fold
            case scala.util.control.NonFatal(_) => ()
          }
        }
      } finally st.close()
      h
    } catch {
      case scala.util.control.NonFatal(_) =>
        // walk itself failed (UncheckedIOException, InvalidPathException
        // on non-path tags, …): unique negative sentinel = forced miss
        -math.abs(freshSentinel.incrementAndGet())
    }

  private val freshSentinel =
    new java.util.concurrent.atomic.AtomicLong(System.nanoTime())

  /** Lifetime of a stored entry. Every entry is also keyed by the content
    * fingerprint of the tables it declares, so a rewritten input makes
    * any scope's entry unreachable. */
  sealed trait Scope
  /** Lives as long as its fingerprint: staged copies, checkpointed
    * artifacts, trained models, counts. May be evicted by the size bound
    * (a rebuild after eviction is correct, just one extra build). */
  case object Corpus extends Scope
  /** Shared by the consumers of ONE bench iteration (the GRU/LSTM
    * passes, the drain group, the stateful sink): dropped by
    * [[beginIteration]], so every iteration re-pays exactly one build,
    * and never evicted by the size bound, so no iteration pays two. */
  case object Iteration extends Scope

  /** Whether a value kind is bound to the session that built it — a
    * Dataset handed to a second session in the same JVM (or out of a
    * stopped one) fails at runtime, so the store adds the session tag to
    * the key of exactly these kinds. Resolved from the value's static
    * type: Datasets and pairs carrying a DataFrame are session-bound,
    * every other value (paths, counts, models) is shared across
    * sessions. */
  final class Binding[T](val sessionBound: Boolean)
  trait DetachedBinding {
    implicit def detached[T]: Binding[T] = new Binding[T](false)
  }
  object Binding extends DetachedBinding {
    implicit def dataset[A]: Binding[Dataset[A]] = new Binding[Dataset[A]](true)
    implicit def framed[A]: Binding[(A, DataFrame)] = new Binding[(A, DataFrame)](true)
  }

  /** One slot of the store. The build runs under the slot's own monitor,
    * so concurrent callers of one key build it once, while builds of
    * different keys nest freely (a verdict builds on the truth index
    * which builds on the corpus scan — nesting inside one map's
    * computeIfAbsent is a documented ConcurrentHashMap hazard). A build
    * that throws leaves the slot empty for the next caller to retry. */
  private final class Cell(val scope: Scope) {
    @volatile private var value: AnyRef = _
    def peek: Option[AnyRef] = Option(value)
    def apply(build: => AnyRef): AnyRef = {
      if (value == null) synchronized { if (value == null) value = build }
      value
    }
  }

  /** The engine's one memo: (session tag or "", corpus dir, per-table
    * content fingerprints, params) → slot. */
  private val store = new java.util.concurrent.ConcurrentHashMap[(String, String, String, Any), Cell]()

  /** Past this many entries, one arbitrary [[Corpus]] entry is evicted
    * per insert, so dead sessions' and stale fingerprints' entries age
    * out; [[Iteration]] entries are never chosen. */
  private val StoreBound = 256

  private def fingerprints(d: String, tables: Seq[String]): String =
    tables.map(t => tableFingerprint(s"$d/$t.parquet")).mkString(",")

  private def slot(tag: String, d: String, fp: String, key: Any, scope: Scope): Cell = {
    val k = (tag, d, fp, key)
    val hit = store.get(k)
    if (hit != null) return hit
    if (store.size > StoreBound) {
      val it = store.values().iterator()
      var evicted = false
      while (!evicted && it.hasNext)
        if (it.next().scope == Corpus) { it.remove(); evicted = true }
    }
    val fresh = new Cell(scope)
    val prev = store.putIfAbsent(k, fresh)
    if (prev != null) prev else fresh
  }

  private def tagFor[T](s: SparkSession, b: Binding[T]): String =
    if (b.sessionBound) sessionTag(s) else ""

  /** Build `key` over corpus `d` once per content fingerprint of the
    * declared `tables` (and per session when the value is session-bound,
    * see [[Binding]]), then serve it from memory. `scope` sets how long
    * the entry lives. Every build must be a deterministic function of
    * the declared tables and the key. */
  private[graft] def artifact[T <: AnyRef](s: SparkSession, d: String,
      tables: Seq[String], key: Any, scope: Scope = Corpus)(build: => T)(
      implicit b: Binding[T]): T =
    slot(tagFor(s, b), d, fingerprints(d, tables), key, scope)(build).asInstanceOf[T]

  /** Non-building lookup: Some only when the [[artifact]] is already
    * built for this fingerprint. Lets a derived artifact choose the
    * cheaper of two equivalent builds (the hashed-shingle table projects
    * off an existing string-shingle table) without forcing either. */
  private[graft] def artifactPeek[T <: AnyRef](s: SparkSession, d: String,
      tables: Seq[String], key: Any)(implicit b: Binding[T]): Option[T] =
    Option(store.get((tagFor(s, b), d, fingerprints(d, tables), key)))
      .flatMap(_.peek).map(_.asInstanceOf[T])

  /** Drop every [[Iteration]] entry: the next consumer of each rebuilds
    * it once. Bench and graftbench call this before each timed
    * iteration. */
  def beginIteration(): Unit = store.values().removeIf(_.scope == Iteration)

  /** Test hook: simulate a fresh JVM (cold in-memory store) so the
    * disk-sidecar paths of [[corpusValue]] and [[dfArtifact]] can be
    * exercised in-process. */
  private[graft] def clearMemoryArtifactsForTest(): Unit = store.clear()

  /** [[artifact]] for session-free driver values (trained centroids, PQ
    * codebooks): `build` returns the value as a small table, which is
    * published as a parquet sidecar exactly like a [[dfArtifact]], and
    * the store keeps `decode` of its rows, sorted by the `keys` columns.
    * The production shape: an index model is trained once per corpus
    * SNAPSHOT and shipped next to the data, not retrained by every JVM
    * that opens the table. Measured at 2M vectors (SCALING.md round
    * 14): a fresh-store cold JVM pays 70.0 s, a sidecar-reading one
    * 31.3 s against a 25.4 s warm leg. The decoded value is keyed
    * without the session, so every session in one JVM sees the same
    * value (PQ training is not bit-deterministic across partitionings);
    * parquet DOUBLE round-trips exactly, so a cold JVM decodes the very
    * value the building JVM stored. */
  private[graft] def corpusValue[T <: AnyRef](s: SparkSession, d: String,
      tables: Seq[String], key: Any, keys: Seq[String])(build: => DataFrame)(
      decode: Array[Row] => T): T = {
    val fp = fingerprints(d, tables)
    slot("", d, fp, key, Corpus) {
      val rows = sidecar(s, corpusValueDir(d, tables, key))(build).collect()
      decode(rows.sortBy(r => keys.map(r.getAs[Number](_).longValue))(
        Ordering.Implicits.seqOrdering))
    }.asInstanceOf[T]
  }

  /** The on-disk directory a [[corpusValue]] publishes to. */
  private[graft] def corpusValueDir(d: String, tables: Seq[String],
      key: Any): String =
    sidecarDir(d, fingerprints(d, tables), s"value:$key")

  /** How many sidecar resolutions ([[dfArtifact]], [[corpusValue]]) this
    * JVM served from disk vs built fresh. Bench and graftbench report
    * both, so a "cold" total that rode pre-built sidecars says so
    * (nonzero hits). */
  private[graft] val artifactDiskHits = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] val artifactBuilds   = new java.util.concurrent.atomic.AtomicLong(0)

  /** The on-disk directory a [[dfArtifact]] with this (corpus, tables,
    * key) publishes to — the address a snapshot MANIFEST records, so a
    * reader can bind a specific artifact GENERATION by path instead of
    * re-deriving "latest" (the Iceberg manifest-entry shape). Pure
    * function of the same content fingerprint as [[dfArtifact]]; no IO. */
  private[graft] def dfArtifactDir(d: String, tables: Seq[String],
      key: Any): String =
    sidecarDir(d, fingerprints(d, tables), s"df:$key")

  /** [[artifact]] for DataFrame-shaped corpus artifacts (pair indexes,
    * truth sets, check verdicts, PQ code tables), ALSO persisted as a
    * PARQUET SIDECAR at [[dfArtifactDir]]: a cold JVM reads the
    * artifact instead of re-paying its scans and shuffles (an index
    * table ships with the corpus snapshot, it is not re-derived by
    * every reader).
    *
    * Contract for callers: row ORDER is not preserved across the
    * parquet round trip (consumers must join/aggregate/sort
    * downstream), the build must NOT localCheckpoint (dfArtifact
    * materializes either way), and the schema must be
    * parquet-representable (no void/interval columns). */
  private[graft] def dfArtifact(s: SparkSession, d: String,
      tables: Seq[String], key: Any)(build: => DataFrame): DataFrame =
    artifact(s, d, tables, key)(sidecar(s, dfArtifactDir(d, tables, key))(build))

  /** The sidecar at `dir` when it is published and whole, else `build`,
    * checkpointed and published there. Spark writes to a unique temp
    * sibling, then ONE rename publishes it — concurrent builders race
    * benignly (equal contents; the loser keeps its in-JVM copy). All IO
    * is best-effort: any failure degrades to the in-JVM checkpointed
    * build. */
  private def sidecar(s: SparkSession, dir: String)(build: => DataFrame): DataFrame =
    readSidecar(s, dir) match {
      case Some(df) =>
        artifactDiskHits.incrementAndGet()
        df
      case None =>
        artifactBuilds.incrementAndGet()
        val built = build.localCheckpoint(true)
        try {
          val tmpDir = dir + "." + java.util.UUID.randomUUID() + ".tmp"
          built.write.parquet(tmpDir)
          try java.nio.file.Files.move(
            java.nio.file.Paths.get(tmpDir), java.nio.file.Paths.get(dir),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          catch { case scala.util.control.NonFatal(_) =>
            // another JVM published first, or the rename failed: keep
            // the in-JVM checkpoint, drop the orphaned temp dir
            deleteDirBestEffort(java.nio.file.Paths.get(tmpDir))
          }
        } catch { case scala.util.control.NonFatal(_) => () }
        built
    }

  /** The published sidecar at `dir`, or None when it is absent or
    * damaged: no `_SUCCESS`, no part file, or a part whose footer does
    * not read. Every footer is read here, on the cold path only, because
    * Spark resolves the schema from ONE footer — a truncated later part
    * would otherwise be served and fail the first query that scans it.
    * A damaged sidecar is deleted, so the rebuild publishes in its
    * place instead of every later cold JVM rebuilding again. */
  private[graft] def readSidecar(s: SparkSession, dir: String): Option[DataFrame] = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(p)) return None
    try {
      require(java.nio.file.Files.isRegularFile(p.resolve("_SUCCESS")), "no _SUCCESS")
      val parts = scala.util.Using.resource(java.nio.file.Files.list(p)) { ls =>
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).toSeq
      }
      require(parts.nonEmpty, "no part file")
      val conf = s.sessionState.newHadoopConf()
      parts.foreach { n =>
        org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(p.resolve(n).toUri), conf)).close()
      }
      val df = s.read.parquet(dir)
      df.schema // force schema resolution now, fail early
      Some(df)
    } catch { case scala.util.control.NonFatal(_) =>
      deleteDirBestEffort(p)
      None
    }
  }

  private def deleteDirBestEffort(p: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverseIterator
          .foreach(f => try java.nio.file.Files.deleteIfExists(f) catch {
            case scala.util.control.NonFatal(_) => () })
      else java.nio.file.Files.deleteIfExists(p)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Bump when the stored shape OR the producing algorithm of any
    * disk-persisted corpus value changes — old sidecars must become
    * unreachable, not read into a shape the new code misreads. */
  private val ArtifactFormatVersion = 1

  /** Sidecar root for cross-JVM corpus artifacts (the corpus dirs are
    * read-only, so the sidecar cannot live beside the data here — at
    * 100 TB it would be a path in the same object store as the table,
    * keyed by the snapshot id). Resolution order: the `graft.artifact.dir`
    * SYSTEM PROPERTY (set by Bench to a run-unique dir so its cold leg
    * can never ride sidecars a previous JVM published), then the
    * SPARK_GRAFT_ARTIFACT_DIR env var (explicit cross-JVM reuse, the
    * "sidecar ships with the snapshot" lifecycle), then the shared tmp
    * default. */
  private[graft] def artifactRoot: java.nio.file.Path =
    java.nio.file.Paths.get(
      sys.props.get("graft.artifact.dir")
        .orElse(sys.env.get("SPARK_GRAFT_ARTIFACT_DIR"))
        .getOrElse(sys.props("java.io.tmpdir") + "/graft_artifacts"))

  /** Content-addressed sidecar directory: the fingerprint (and key, and
    * format version) is IN the name, so freshness needs no
    * invalidation protocol — a rewrite changes the name, and a stale
    * sidecar is never opened. */
  private def sidecarDir(d: String, fp: String, key: Any): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val bytes = md.digest(
      s"v$ArtifactFormatVersion|$d|$fp|$key".getBytes("UTF-8"))
    artifactRoot.resolve(
      bytes.take(16).map(b => f"$b%02x").mkString + ".parquet").toString
  }

  /** A table's DataFrame, one per (session, path, content fingerprint).
    * `spark.read.parquet` is not free on the driver: every call re-lists
    * the path and re-reads parquet footers for the schema (~40-50 ms
    * of a query's build layer at sf0.1), and the 217-query bench calls
    * the loaders 300+ times — ~15 s of duplicated driver work per
    * iteration. A DataFrame is an immutable logical plan, so handing the
    * SAME plan to every query is semantically identical to re-reading;
    * each query still plans, prunes and executes its own tree on top.
    * The fingerprint key makes any rewrite of a fixture — an in-place
    * part-file rewrite included — invalidate the entry, whose file
    * listing would otherwise go stale. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    artifact(spark, sfDir, Seq(name), "load")(
      spark.read.parquet(s"$sfDir/$name.parquet"))

  /** Table row count, stored per content fingerprint — size-regime
    * gates (artifact materialization, exact-vs-blocked routing) and
    * samplers consult the corpus size repeatedly; the count itself is
    * one metadata-cheap scan. */
  def rowCount(s: SparkSession, d: String, name: String): Long =
    artifact(s, d, Seq(name), "rowCount")(
      java.lang.Long.valueOf(load(s, d, name).count())).longValue()

  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  /** events.ts loader, SCHEMA-ADAPTIVE over the physical encodings a sane
    * fixture generator may emit. The tick timestamp is semantically just a
    * timestamp column (reference `stream_consumer.py:82-87` declares
    * TimestampType); the engine must not care how parquet stores it:
    *
    *  - parquet TIMESTAMP(NANOS): Spark's reader rejects it by default;
    *    with the legacy conf it arrives as a raw nanos LongType → truncate
    *    nanos → micros, exactly like DuckDB does on its side of the oracle
    *    compare, so both engines see identical microsecond values.
    *  - parquet timestamp[us] (isAdjustedToUTC=false): arrives as
    *    TIMESTAMP_NTZ → cast to TimestampType. The session timezone is
    *    pinned UTC everywhere (Verify/Bench/specs), so the cast is
    *    value-stable and downstream window/date_trunc code and DuckDB
    *    hashes are unchanged.
    *  - parquet timestamp[us/ms] adjusted to UTC: already TimestampType.
    *
    * Anything else (string, int32 days, …) fails loudly with the observed
    * dtype rather than producing silently-wrong timestamps. */
  def events(s: SparkSession, d: String): DataFrame =
    artifact(s, d, Seq("events"), "load#normalized") {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = s.read.parquet(s"$d/events.parquet")
      normalizeTs(raw)
    }

  /** ts-dtype branch shared by the batch loader and the stream prestage. */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>            // raw nanos (legacy TIMESTAMP(NANOS) read)
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>    // timestamp[us], not UTC-adjusted
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df    // already what downstream expects
      case other => throw new IllegalArgumentException(
        s"events.ts has unsupported dtype $other — expected parquet " +
          "TIMESTAMP(NANOS) (read as raw long), timestamp[us] (NTZ), or a " +
          "UTC-adjusted timestamp; extend Tables.normalizeTs for new encodings")
    }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Tick schema, identical to the reference's declared stream schema
    * (`stream_consumer.py:82-87`). */
  val tickSchema: StructType = StructType(Seq(
    StructField("symbol", StringType),
    StructField("timestamp", TimestampType),
    StructField("price", DoubleType),
    StructField("volume", LongType)))

  /** NORMALIZED events schema — what every consumer downstream of
    * [[events]] / the stream prestage sees, independent of the fixture's
    * physical ts encoding. Streaming file sources require an explicit
    * schema; the prestage writes its staged files with ts already
    * normalized to TimestampType ([[normalizeTs]] at write time), so
    * stream reads declare this schema directly and need no per-stream
    * fix-up. */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))
}
