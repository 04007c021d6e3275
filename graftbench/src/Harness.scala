package graft.perf

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark JVM. `run.py` launches it once per run
  * with `key=value` arguments and reads back the JSON record it writes
  * to `out=`; percentiles, set-up time and the host record are
  * assembled on the Python side. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args(argv.map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"argument '$kv' is not key=value")
      kv.take(i) -> kv.drop(i + 1)
    }.toMap)
    val s = Harness.session(a.int("cpus"), a("scratch"))
    Harness.mark("session")
    val record =
      try a("workload") match {
        case "live-ticks"    => LiveTicks.run(s, a)
        case "history-batch" => HistoryBatch.run(s, a)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally s.stop()
    Json.write(a("out"), record + ("setup_marks" -> Harness.setupMarks.toMap) + ("host_probe_ms" -> HostProbe.all))
  }
}

final case class Args(kv: Map[String, String]) {
  def apply(k: String): String =
    kv.getOrElse(k, throw new IllegalArgumentException(s"missing argument $k"))
  def int(k: String): Int = apply(k).toInt
  def long(k: String): Long = apply(k).toLong
  def flag(k: String): Boolean = apply(k) == "1"
}

object Harness {

  /** Same session settings as the program's own `graft.Bench`, with
    * every scratch location inside the run's directory. */
  def session(cpus: Int, scratch: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def epochMs(): Double = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000.0 + t.getNano / 1e6
  }

  /** Live heap after a forced full collection, in MB. */
  def retainedMb(): Double = {
    // Spark's ContextCleaner drops blocks of collected RDDs only after a
    // collection has enqueued them; give it a beat before the last one
    System.gc(); Thread.sleep(500); System.gc(); Thread.sleep(200); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private val marks = new ConcurrentLinkedQueue[(String, Double)]()

  /** Records how far into the JVM's life a set-up phase ended. */
  def mark(label: String): Unit =
    marks.add(label -> ManagementFactory.getRuntimeMXBean.getUptime / 1000.0)

  def setupMarks: Seq[(String, Double)] = marks.asScala.toSeq

  def heapMaxMb(): Double = Runtime.getRuntime.maxMemory / 1048576.0

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val v = xs.sorted
      val n = v.size
      if (n % 2 == 1) v(n / 2) else (v(n / 2 - 1) + v(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** In-memory spans around the benchmark's calls into the program's
  * layers. Disabled tracers record nothing, so untraced runs pay only
  * the call itself. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()

  def span[A](name: String, op: String)(f: => A): A =
    if (!enabled) f
    else {
      val t0 = System.nanoTime()
      try f
      finally spans.add(Map("name" -> name, "op" -> op,
        "start_ns" -> t0, "end_ns" -> System.nanoTime()))
    }

  def all: Seq[Map[String, Any]] = spans.asScala.toSeq

  def durationsMs(name: String, op: String => Boolean): Seq[Double] = all.collect {
    case m if m("name") == name && op(m("op").toString) =>
      (m("end_ns").asInstanceOf[Long] - m("start_ns").asInstanceOf[Long]) / 1e6
  }
}

/** Task- and job-level counters, attributed to the operation id that
  * the benchmark sets as a job local property before each call. */
final class OpListener extends SparkListener {
  final class Acc {
    var jobs = 0L; var tasks = 0L; var busyMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var gcMs = 0L
    val taskMsByStage = scala.collection.mutable.Map[Int, List[Long]]()
  }
  private val stageOp = scala.collection.mutable.Map[Int, String]()
  private val byOp = scala.collection.mutable.Map[String, Acc]()
  private var fences = 0L

  private def acc(op: String): Acc = byOp.getOrElseUpdate(op, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpListener.Key)))
      .getOrElse("untagged")
    if (op == OpListener.Fence) fences += 1
    else {
      acc(op).jobs += 1
      e.stageIds.foreach(stageOp(_) = op)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val a = acc(op)
      a.tasks += 1
      a.taskMsByStage(e.stageId) = e.taskInfo.duration :: a.taskMsByStage.getOrElse(e.stageId, Nil)
      Option(e.taskMetrics).foreach { m =>
        a.busyMs += m.executorRunTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
        a.gcMs += m.jvmGCTime
      }
    }
  }

  /** Runs one tagged no-op job and waits until the listener has seen it:
    * listener events arrive in order, so every earlier job's tasks have
    * been counted once the fence's job start is seen. */
  def fence(s: SparkSession): Unit = {
    val seen = synchronized(fences)
    val sc = s.sparkContext
    val prev = sc.getLocalProperty(OpListener.Key)
    sc.setLocalProperty(OpListener.Key, OpListener.Fence)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(OpListener.Key, prev)
    val deadline = System.nanoTime() + 30000000000L
    while (synchronized(fences) == seen && System.nanoTime() < deadline) Thread.sleep(2)
  }

  /** Totals over every operation id accepted by `ops`. */
  def totals(ops: String => Boolean): Map[String, Double] = synchronized {
    val sel = byOp.collect { case (k, v) if ops(k) => v }
    val skews = sel.flatMap(_.taskMsByStage.values).filter(_.size >= 2).map { ts =>
      val med = Harness.median(ts.map(_.toDouble))
      if (med > 0) ts.max / med else 1.0
    }.toSeq
    Map(
      "jobs" -> sel.map(_.jobs).sum.toDouble,
      "tasks" -> sel.map(_.tasks).sum.toDouble,
      "busy_ms" -> sel.map(_.busyMs).sum.toDouble,
      "shuffle_mb" -> sel.map(_.shuffleBytes).sum / 1048576.0,
      "spill_mb" -> sel.map(_.spillBytes).sum / 1048576.0,
      "task_gc_ms" -> sel.map(_.gcMs).sum.toDouble,
      "task_skew" -> (if (skews.isEmpty) 1.0 else Harness.median(skews)))
  }

  def perOp: Map[String, Map[String, Double]] = synchronized {
    byOp.keys.toSeq.map(k => k -> totals(_ == k)).toMap
  }
}

object OpListener {
  val Key = "graft.perf.op"
  val Fence = "fence"
  def tag(s: SparkSession, op: String): Unit = s.sparkContext.setLocalProperty(Key, op)
}

/** Stop-the-world collector pauses, with the time each was reported. */
object GcWatch {
  private val pauses = new ConcurrentLinkedQueue[(Long, Double)]()
  @volatile private var installed = false

  private def pauseBeans =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.filterNot(_.getName.contains("Concurrent"))

  def install(): Unit = synchronized {
    if (!installed) {
      installed = true
      val l = new NotificationListener {
        def handleNotification(n: Notification, hb: AnyRef): Unit =
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[CompositeData])
            if (!info.getGcName.contains("Concurrent"))
              pauses.add((System.nanoTime(), info.getGcInfo.getDuration.toDouble))
          }
      }
      pauseBeans.foreach {
        case em: NotificationEmitter => em.addNotificationListener(l, null, null)
        case _ => ()
      }
    }
  }

  /** Cumulative collector time of the pause collectors, in ms. */
  def totalMs(): Double = pauseBeans.map(_.getCollectionTime.toDouble).sum

  def maxPauseMs(fromNs: Long, toNs: Long): Double =
    pauses.asScala.collect { case (t, d) if t >= fromNs && t <= toNs => d }
      .foldLeft(0.0)(math.max)
}

/** Minimal JSON writer for the run record (maps, sequences, numbers,
  * strings, booleans). */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(render).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      render(v).getBytes(java.nio.charset.StandardCharsets.UTF_8))
}

/** Host-speed record: a fixed single-threaded kernel of multiplies and
  * dependent loads over an 8 MB table, independent of the program under
  * test, timed before and after the timed window. A run whose probe reads
  * far above its neighbours' ran on a slow or contended host. */
object HostProbe {
  private val table = Array.tabulate(1 << 20)(i => i * 0x9E3779B97F4A7C15L)
  @volatile private var sink = 0L
  private val samples = new ConcurrentLinkedQueue[Double]()

  /** Median wall time of three kernel runs, in ms; also kept for the record. */
  def sample(): Double = {
    val ts = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      var x = 1L
      var i = 0
      while (i < 1000000) {
        x = x * 6364136223846793005L + table((x >>> 44).toInt & ((1 << 20) - 1))
        i += 1
      }
      sink = x
      (System.nanoTime() - t0) / 1e6
    }
    val m = Harness.median(ts)
    samples.add(m)
    m
  }

  def all: Seq[Double] = samples.asScala.toSeq
}

/** Aggregate CPU time counters of the host from /proc/stat (user, nice,
  * system, idle, iowait, irq, softirq, steal, ...), in clock ticks. */
object HostStat {
  def read(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
    finally src.close()
  }

  /** Share of all CPU time between two readings that the hypervisor
    * took away (steal), in percent. */
  def stealPct(from: Array[Long], to: Array[Long]): Double = {
    val d = to.zip(from).map { case (b, a) => b - a }
    val total = d.sum
    if (total <= 0 || d.length < 8) 0.0 else 100.0 * d(7) / total
  }
}
