package graft

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
      "planCache served a stale file-listing snapshot after an in-place rewrite")
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
    def get(): Long = Tables.corpusValue(dir.toString, Seq("embeddings"), "spec-v") {
      builds += 1
      java.lang.Long.valueOf(Tables.load(spark, dir.toString, "embeddings").count())
    }.longValue()

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

  test("corpusValue sidecars of the stored value types pass the deserialization filter") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fp6_")
    writeTable(dir, "embeddings", 3L)
    // the shapes the engine stores: k-means centroids (an ArraySeq of
    // (id, Vector) — 40 wide, past Vector's one-block encoding) and PQ
    // codebooks
    val centroids = Array.tabulate(3)(i => (i.toLong, Vector.fill(40)(i + 0.5))).toSeq
    val codebooks = Array.tabulate(2, 3, 4)((m, k, j) => m * 100.0 + k * 10 + j)
    var builds = 0
    def get[T <: AnyRef](key: String, v: T): T =
      Tables.corpusValue(dir.toString, Seq("embeddings"), key) { builds += 1; v }
    get("spec-centroids", centroids)
    get("spec-codebooks", codebooks)
    Tables.clearMemoryArtifactsForTest()
    assert(get("spec-centroids", centroids) === centroids)
    assert(get("spec-codebooks", codebooks).map(_.map(_.toSeq).toSeq).toSeq ===
      codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    assert(builds === 2, "an allowed sidecar was rejected and rebuilt on a cold read")
  }

  test("a corpusValue sidecar of a disallowed class is never instantiated and rebuilds") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fp7_")
    writeTable(dir, "embeddings", 4L)
    val planted = Tables.corpusValuePath(dir.toString, Seq("embeddings"), "spec-planted")
    java.nio.file.Files.createDirectories(planted.getParent)
    val out = new java.io.ObjectOutputStream(java.nio.file.Files.newOutputStream(planted))
    try out.writeObject(new PlantedSidecar) finally out.close()
    PlantedSidecar.deserialized.set(false)

    var builds = 0
    val v = Tables.corpusValue(dir.toString, Seq("embeddings"), "spec-planted") {
      builds += 1
      java.lang.Long.valueOf(42L)
    }
    assert(v === java.lang.Long.valueOf(42L))
    assert(builds === 1, "the rejected sidecar must degrade to a rebuild")
    assert(!PlantedSidecar.deserialized.get, "the filter let a disallowed class be instantiated")

    // control: without the filter the same bytes DO run the class's hook
    val bos = new java.io.ByteArrayOutputStream()
    val o2 = new java.io.ObjectOutputStream(bos)
    o2.writeObject(new PlantedSidecar); o2.close()
    new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bos.toByteArray)).readObject()
    assert(PlantedSidecar.deserialized.get)
  }
}

/** A serializable class outside the sidecar allow-list; its readObject
  * hook records that deserialization reached it. */
class PlantedSidecar extends Serializable {
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    PlantedSidecar.deserialized.set(true)
    in.defaultReadObject()
  }
}

object PlantedSidecar {
  val deserialized = new java.util.concurrent.atomic.AtomicBoolean(false)
}

object TablesCacheSpec {

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
