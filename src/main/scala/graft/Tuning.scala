package graft

import org.apache.spark.sql.SparkSession

/** Scoped execution-tuning helpers. */
object Tuning {

  /** Root for EPHEMERAL per-run scratch (streaming checkpoints, staged
    * replay sources, bounded-drain sinks): tmpfs when the host offers it,
    * else the JVM temp dir. The per-micro-batch floor decomposition
    * (SCALING.md stream addendum, round-7 per-phase table) shows every
    * checkpoint-log phase and the per-batch sink append paying the
    * backing filesystem — RAM-backed dirs cut the measured solo-drain
    * floor ~30% end to end. Durability is NOT lost where it matters:
    * these dirs are created fresh per run and never survive the process
    * by design (bounded AvailableNow drains over staged replays); the
    * production constructors (Kafka/JDBC, caller-provided
    * checkpointLocation) are untouched — a real deployment points its
    * checkpoints at durable cluster storage and its state at
    * local-SSD-backed RocksDB, which is exactly this trade expressed
    * with cluster primitives. */
  val fastTmpRoot: java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm)) shm
    else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
  }

  /** Dirs created here are deleted by a JVM shutdown hook, making the
    * "never survive the process" contract above literal — without it a
    * long-lived host accumulates per-run scratch under /dev/shm (739
    * stale dirs observed after a day of bench runs). Deletion is
    * best-effort: a dir busy at exit is skipped, never an error. */
  private val createdTmpDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      createdTmpDirs.forEach(deleteTree(_))
    }, "graft-tmp-cleanup"))
  }

  private def deleteTree(root: java.nio.file.Path): Unit =
    try {
      import java.nio.file._
      scala.util.Using.resource(Files.walk(root)) {
        _.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => try Files.deleteIfExists(p) catch { case _: Throwable => () })
      }
    } catch { case _: Throwable => () }

  /** Delete a [[fastTmpDir]]/[[diskTmpDir]] dir now, for scratch whose
    * useful output has already moved out — a long-lived JVM would
    * otherwise hold it until exit. */
  def dropTmpDir(p: java.nio.file.Path): Unit = {
    deleteTree(p)
    createdTmpDirs.remove(p)
  }

  def fastTmpDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(fastTmpRoot, prefix)
    createdTmpDirs.add(p)
    p
  }

  /** Like [[fastTmpDir]] but on the DISK-backed JVM temp dir — for
    * staged table copies (jsonl/partitioned/evolved events) too large
    * for tmpfs. Registered with the same exit cleanup: at gen1000x one
    * JSONL events copy is ~10 GB, and without the hook every bench JVM
    * leaks its copies until the host disk fills (observed at 95%). */
  def diskTmpDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    createdTmpDirs.add(p)
    p
  }

  /** The one local-mode session builder: Bench, Verify, Drive,
    * ScaleFixture and the test suite all start here, so a knob added for
    * one measures the same system as the others. `cpus` defaults to
    * SPARK_GRAFT_CPUS, else the host's processor count; `shufflePartitions`
    * to SPARK_GRAFT_SHUFFLE_PARTITIONS, else `cpus`. Partitions are the
    * knob that must SCALE WITH DATA: the frame-materializing families hold
    * rows/partition × frame-width transient state per task, so at 100×
    * the fixture scale the partition count, not the heap, is the right
    * lever (SCALING.md). */
  def localSession(
      cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors),
      shufflePartitions: Option[Int] = None): SparkSession = {
    val parts = shufflePartitions
      .orElse(sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").map(_.toInt))
      .getOrElse(cpus)
    val b = SparkSession.builder().master(s"local[$cpus]")
    sessionConf(parts).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The conf [[localSession]] applies on top of the master URL. The
    * default 100-entry codegen class cache is smaller than one suite
    * iteration (217 plans × several codegen units), so a "warm" pass
    * would re-Janino-compile every query's generated code after LRU
    * eviction; 4000 holds the whole suite. The warehouse dir dies with
    * the JVM ([[diskTmpDir]]). */
  private[graft] def sessionConf(shufflePartitions: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.codegen.cache.maxEntries" -> "4000",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.warehouse.dir" -> diskTmpDir("graft_wh_").toString,
    "spark.ui.enabled" -> "false")

  /** Run `f` with `spark.sql.shuffle.partitions` set to n, restoring the
    * previous value after. For bounded drains and small iterative steps
    * whose per-partition fixed costs (state-store commits, task
    * dispatch) dominate at the session default. Results of the shapes
    * used here are partition-count invariant (associative aggregates,
    * keyed state, deterministic ORDER BY), so a concurrently planned
    * query sees only a different parallelism, never different values. */
  /** Scopes are serialized under a REENTRANT lock: session conf is
    * shared mutable state, so without it two concurrent scopes could
    * restore a stale value or leak the override to unrelated queries.
    * Reentrancy keeps nested scopes (e.g. Dedup.components inside a
    * scoped drain) correct — inner save/restore is LIFO on one thread.
    * The cost is that concurrent scoped sections run one at a time;
    * every scope here is a bounded drain or a small iterative round, so
    * serializing them is cheaper than cloning sessions per scope. */
  private val scopeLock = new java.util.concurrent.locks.ReentrantLock()

  def withShufflePartitions[A](s: SparkSession, n: Int)(f: => A): A =
    withConf(s, "spark.sql.shuffle.partitions", n.toString)(f)

  /** Run `f` with one session conf key overridden, restoring (or
    * unsetting) the previous value after, under the same scope lock.
    * The query consuming the override must EXECUTE inside the scope
    * (eager actions like localCheckpoint), not merely be planned there:
    * execution-time confs (e.g. the ObjectHashAggregate fallback
    * threshold) are read when the stage runs. */
  def withConf[A](s: SparkSession, key: String, value: String)(f: => A): A = {
    scopeLock.lock()
    try {
      val prev = s.conf.getOption(key)
      s.conf.set(key, value)
      try f finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None    => s.conf.unset(key)
      }
    } finally scopeLock.unlock()
  }
}
