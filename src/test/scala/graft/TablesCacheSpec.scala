package graft

import graft.ops.Similarity
import org.apache.spark.sql.functions._

/** Freshness contract of the table/plan/artifact caches: every cache key
  * carries [[Tables.tableFingerprint]] — per-file (path, size, mtime) —
  * not the table directory's own mtime. The distinction matters for the
  * in-place rewrite: replacing a part file's CONTENT keeps the directory
  * entry set (and so the directory mtime) unchanged, and this suite even
  * pins the rewritten file's mtime back to the original value, so only a
  * size-sensitive fingerprint can notice. A cache keyed on dir mtime
  * serves the stale pre-rewrite listing snapshot here. */
class TablesCacheSpec extends SparkSpec {

  import TablesCacheSpec.rewriteInPlace

  /** Write a 1-part-file parquet table of `n` rows at dir/name.parquet,
    * returning the single part file's path. */
  private def writeTable(dir: java.nio.file.Path, name: String, n: Long): java.nio.file.Path =
    TablesCacheSpec.writeSinglePart(
      spark.range(n).select(col("id"), (col("id") * 2).as("v")), dir.resolve(s"$name.parquet"))

  test("in-place part-file rewrite invalidates the cached plan and count") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fp_")
    val part = writeTable(dir, "tbl", 100L)

    assert(Tables.load(spark, dir.toString, "tbl").count() === 100L)
    assert(Tables.rowCount(spark, dir.toString, "tbl") === 100L)

    // build replacement CONTENT elsewhere (clearly different size), then
    // rewrite the original part file in place: same file names — the dir
    // entry set never changes — and the mtimes pinned back to the
    // original, so only the sizes move
    val stage = java.nio.file.Files.createTempDirectory("graft_fp_stage_")
    rewriteInPlace(part, writeTable(stage, "tbl", 5000L))

    assert(Tables.load(spark, dir.toString, "tbl").count() === 5000L,
      "load served a stale file-listing snapshot after an in-place rewrite")
    assert(Tables.rowCount(spark, dir.toString, "tbl") === 5000L,
      "rowCount served a stale count after an in-place rewrite")
  }

  test("tableFingerprint moves on size-only change and is stable otherwise") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fp2_")
    val part = writeTable(dir, "tbl", 10L)
    val fp1 = Tables.tableFingerprint(dir.resolve("tbl.parquet").toString)
    assert(fp1 === Tables.tableFingerprint(dir.resolve("tbl.parquet").toString))

    val stage = java.nio.file.Files.createTempDirectory("graft_fp2_stage_")
    rewriteInPlace(part, writeTable(stage, "tbl", 2000L))
    assert(Tables.tableFingerprint(dir.resolve("tbl.parquet").toString) !== fp1)

    // missing table: constant sentinel, never a crash
    assert(Tables.tableFingerprint(dir.resolve("nope.parquet").toString) === -1L)
  }

  test("artifact memo rebuilds when a named input table is rewritten in place") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fp3_")
    val part = writeTable(dir, "documents", 7L)

    var builds = 0
    def get(): Long = {
      val df = Tables.artifact(spark, dir.toString, Seq("documents"), "spec") {
        builds += 1
        Tables.load(spark, dir.toString, "documents").localCheckpoint(true)
      }
      df.count()
    }
    assert(get() === 7L)
    assert(get() === 7L)
    assert(builds === 1, "artifact memo must serve repeats from the cache")

    val stage = java.nio.file.Files.createTempDirectory("graft_fp3_stage_")
    rewriteInPlace(part, writeTable(stage, "documents", 31L))

    assert(get() === 31L, "artifact memo served a stale Dataset after an in-place rewrite")
    assert(builds === 2)
  }

  test("corpusValue disk sidecar survives a cold JVM and dies with an in-place rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fp4_")
    val part = writeTable(dir, "embeddings", 9L)

    var builds = 0
    def get(): Long = Tables.corpusValue(spark, dir.toString, Seq("embeddings"), "spec-v", Nil) {
      builds += 1
      Tables.load(spark, dir.toString, "embeddings").agg(count(lit(1)).as("n"))
    }(rows => java.lang.Long.valueOf(rows.head.getLong(0))).longValue()

    assert(get() === 9L)
    assert(builds === 1)

    // fresh-JVM simulation: memory caches gone, the sidecar must answer
    Tables.clearMemoryArtifactsForTest()
    assert(get() === 9L)
    assert(builds === 1,
      "corpusValue retrained on a cold JVM instead of loading the disk sidecar")

    // in-place rewrite (same names, pinned mtimes): the fingerprint moves,
    // so the sidecar's content-addressed NAME moves — the stale file is
    // unreachable and the value retrains against the new content
    val stage = java.nio.file.Files.createTempDirectory("graft_fp4_stage_")
    rewriteInPlace(part, writeTable(stage, "embeddings", 23L))
    Tables.clearMemoryArtifactsForTest()
    assert(get() === 23L,
      "corpusValue served a stale disk sidecar after an in-place rewrite")
    assert(builds === 2)
  }

  test("dfArtifact parquet sidecar survives a cold JVM and dies with an in-place rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fp5_")
    val part = writeTable(dir, "documents", 11L)

    var builds = 0
    def get(): (Long, Long) = {
      val df = Tables.dfArtifact(spark, dir.toString, Seq("documents"), "spec-df") {
        builds += 1
        Tables.load(spark, dir.toString, "documents")
      }
      (df.count(), df.agg(sum(col("v"))).head().getLong(0))
    }
    // v = 2*id, so sum(v) over range(n) = n*(n-1)
    assert(get() === ((11L, 110L)))
    assert(builds === 1)

    // fresh-JVM simulation: in-memory memo gone, the parquet sidecar
    // must answer — with the same CONTENTS, not just the same count
    Tables.clearMemoryArtifactsForTest()
    assert(get() === ((11L, 110L)),
      "dfArtifact's parquet sidecar round trip changed the artifact's contents")
    assert(builds === 1,
      "dfArtifact rebuilt on a cold JVM instead of reading the parquet sidecar")

    // in-place rewrite moves the fingerprint, which moves the sidecar
    // directory name: the stale sidecar is unreachable, the artifact
    // rebuilds against the new content
    val stage = java.nio.file.Files.createTempDirectory("graft_fp5_stage_")
    rewriteInPlace(part, writeTable(stage, "documents", 29L))
    Tables.clearMemoryArtifactsForTest()
    assert(get() === ((29L, 812L)),
      "dfArtifact served a stale parquet sidecar after an in-place rewrite")
    assert(builds === 2)
  }

  test("corpusValue round-trips the stored centroid and codebook shapes through a cold JVM") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_fp6_")
    writeTable(dir, "embeddings", 3L)
    // the shapes the engine stores: k-means centroids (40 wide) and PQ
    // codebooks, with doubles that have no short decimal form
    val centroids = Seq.tabulate(3)(i => (i.toLong, Vector.tabulate(40)(j => (i * 40 + j) / 7.0)))
    val codebooks = Array.tabulate(2, 3, 4)((m, k, j) => m * 100.0 + k * 10 + j / 3.0)
    def deep(cb: Array[Array[Array[Double]]]) = cb.map(_.map(_.toSeq).toSeq).toSeq
    var builds = 0
    def getCentroids() = Similarity.storedCentroids(spark, dir.toString, "spec-centroids") {
      builds += 1
      centroids.reverse.toDF("c_id", "c_emb") // decoded in c_id order regardless
    }
    def getCodebooks() = deep(Similarity.storedCodebooks(spark, dir.toString, "spec-codebooks") {
      builds += 1
      codebooks
    })
    assert(getCentroids() === centroids)
    assert(getCodebooks() === deep(codebooks))
    Tables.clearMemoryArtifactsForTest()
    assert(getCentroids() === centroids)
    assert(getCodebooks() === deep(codebooks))
    assert(builds === 2, "a stored value was rebuilt on a cold read instead of read from its sidecar")
  }

  /** The ways a published sidecar can be damaged on disk. */
  private val faults: Seq[(String, java.nio.file.Path => Unit)] = Seq(
    "no _SUCCESS" -> (dir => java.nio.file.Files.delete(dir.resolve("_SUCCESS"))),
    "a truncated part file that is not the first" -> { dir =>
      val parts = TablesCacheSpec.files(dir).filter(_.getFileName.toString.startsWith("part-"))
      assert(parts.size >= 2, s"the sidecar has one part file: $parts")
      val last = parts.max
      java.nio.file.Files.write(last,
        java.util.Arrays.copyOf(java.nio.file.Files.readAllBytes(last),
          (java.nio.file.Files.size(last) / 2).toInt))
    },
    "only a _SUCCESS file" -> { dir =>
      TablesCacheSpec.files(dir).filter(_.getFileName.toString != "_SUCCESS")
        .foreach(java.nio.file.Files.delete)
    })

  /** Build once, damage the published sidecar, then read on a cold JVM:
    * the store must rebuild and return the built contents, and publish
    * a whole sidecar the next cold read is served from. */
  private def damagedSidecarRebuilds[T](sidecar: String,
      damage: java.nio.file.Path => Unit)(get: (() => Unit) => T, want: T): Unit = {
    var builds = 0
    val count = () => builds += 1
    assert(get(count) === want)
    assert(builds === 1)
    damage(java.nio.file.Paths.get(sidecar))
    Tables.clearMemoryArtifactsForTest()
    assert(get(count) === want, "a damaged sidecar was served")
    assert(builds === 2, "a damaged sidecar was not rebuilt")
    Tables.clearMemoryArtifactsForTest()
    assert(get(count) === want)
    assert(builds === 2, "the rebuild did not replace the damaged sidecar")
  }

  private def fourParts = spark.range(0, 40, 1, 4).select(col("id"), (col("id") * 3).as("v"))
  private val fourPartsRows = Seq.tabulate(40)(i => (i.toLong, i * 3L))

  for (((fault, damage), i) <- faults.zipWithIndex) {
    test(s"dfArtifact rebuilds over a sidecar with $fault") {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_fault_df${i}_")
      writeTable(dir, "documents", 5L)
      damagedSidecarRebuilds(Tables.dfArtifactDir(dir.toString, Seq("documents"), "spec-fault"),
        damage)(built => Tables.dfArtifact(spark, dir.toString, Seq("documents"), "spec-fault") {
          built()
          fourParts
        }.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq, fourPartsRows)
    }

    test(s"corpusValue rebuilds over a sidecar with $fault") {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_fault_cv${i}_")
      writeTable(dir, "embeddings", 5L)
      damagedSidecarRebuilds(Tables.corpusValueDir(dir.toString, Seq("embeddings"), "spec-fault"),
        damage)(built => Tables.corpusValue(spark, dir.toString, Seq("embeddings"), "spec-fault",
          Seq("id")) {
          built()
          fourParts
        }(_.map(r => (r.getLong(0), r.getLong(1))).toSeq), fourPartsRows)
    }
  }
}

object TablesCacheSpec {

  /** The regular files directly under `dir`. */
  def files(dir: java.nio.file.Path): Seq[java.nio.file.Path] =
    scala.util.Using.resource(java.nio.file.Files.list(dir)) { ls =>
      import scala.jdk.CollectionConverters._
      ls.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toList
    }

  /** Write `df` as ONE parquet part file under `out`, returning it. */
  def writeSinglePart(df: org.apache.spark.sql.DataFrame,
      out: java.nio.file.Path): java.nio.file.Path = {
    df.coalesce(1).write.mode("overwrite").parquet(out.toString)
    val parts = java.nio.file.Files.list(out).iterator()
    var part: java.nio.file.Path = null
    while (parts.hasNext) {
      val p = parts.next()
      if (p.getFileName.toString.endsWith(".parquet")) part = p
    }
    require(part != null, s"no part file under $out")
    part
  }

  /** Rewrite `part`'s CONTENT (and its Hadoop local-FS `.crc` sidecar —
    * checksum verification would reject mismatched bytes otherwise) in
    * place from `from`, pinning both mtimes back to the original part's,
    * so ONLY the file sizes distinguish old from new. */
  def rewriteInPlace(part: java.nio.file.Path, from: java.nio.file.Path): Unit = {
    val origMtime = java.nio.file.Files.getLastModifiedTime(part)
    def crcOf(p: java.nio.file.Path) =
      p.getParent.resolve("." + p.getFileName.toString + ".crc")
    java.nio.file.Files.write(part, java.nio.file.Files.readAllBytes(from))
    java.nio.file.Files.setLastModifiedTime(part, origMtime)
    if (java.nio.file.Files.exists(crcOf(part)) &&
        java.nio.file.Files.exists(crcOf(from))) {
      java.nio.file.Files.write(crcOf(part), java.nio.file.Files.readAllBytes(crcOf(from)))
      java.nio.file.Files.setLastModifiedTime(crcOf(part), origMtime)
    }
  }
}
