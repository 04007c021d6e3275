package graft

import graft.functions.Native
import graft.ops.Similarity
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._

/** Native codegen expressions: bit-parity with the declarative forms. */
class NativeSpec extends SparkSpec {

  test("native dot product is bit-identical to the HOF fold") {
    Native.register(spark)
    val e = Tables.embeddings(spark, sf)
    val both = e.select(
      Similarity.cosine(col("embedding"), col("embedding")).as("hof"),
      Similarity.cosineNative(col("embedding"), col("embedding")).as("native"))
    assert(both.filter(col("hof") =!= col("native")).count() == 0)
    val pairs = e.select(col("vec_id"), col("embedding"))
      .crossJoin(e.select(col("vec_id").as("v2"), col("embedding").as("e2")).limit(3))
      .select(Similarity.cosine(col("embedding"), col("e2")).as("hof"),
        Similarity.cosineNative(col("embedding"), col("e2")).as("native"))
    assert(pairs.filter(col("hof") =!= col("native")).count() == 0)
  }

  test("register is idempotent: a second call keeps every registered function") {
    Native.register(spark)
    val reg = spark.sessionState.functionRegistry
    def infos = Native.functions.map { case (n, _) =>
      reg.lookupFunction(FunctionIdentifier(n)).get }
    val before = infos
    Native.register(spark)
    before.zip(infos).foreach { case (a, b) => assert(a eq b, a.getName) }
  }

  test("rolling hash: deterministic, sensitive to content and order") {
    Native.register(spark)
    val df = spark.createDataFrame(Seq(
      Tuple1("abc"), Tuple1("acb"), Tuple1("abc"), Tuple1(""))).toDF("s")
    val hs = df.select(Native.rollingHash(col("s"))).collect().map(_.getLong(0))
    assert(hs(0) == hs(2))      // same content, same hash
    assert(hs(0) != hs(1))      // order matters
    assert(hs(3) == 0L)         // empty string hashes to 0
    // matches the scalar recurrence
    val expected = "abc".getBytes("UTF-8").foldLeft(0L)((h, b) => h * 1000003L + (b & 0xFF))
    assert(hs(0) == expected)
  }

  test("xor-fold: matches scalar fold, 1-byte slice extracts the byte") {
    Native.register(spark)
    val df = spark.createDataFrame(Seq(
      Tuple1("graft"), Tuple1("a"), Tuple1(""))).toDF("s")
    val got = df.select(
      Native.xorFold(encode(col("s"), "UTF-8")).as("x"),
      Native.xorFold(substring(encode(col("s"), "UTF-8"), 1, 1)).as("first"))
      .collect()
    val expected = "graft".getBytes("UTF-8").foldLeft(0L)((h, b) => h ^ (b & 0xFF))
    assert(got(0).getLong(0) == expected)
    assert(got(0).getLong(1) == 'g'.toLong)
    assert(got(1).getLong(0) == 'a'.toLong)
    assert(got(2).getLong(0) == 0L) // empty payload
  }

  test("sorted-intersect count property: equals Set intersection size") {
    Native.register(spark)
    import org.scalacheck.Prop.forAll
    import org.scalacheck.{Gen, Test => SCTest}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def lit(xs: Set[Long]) =
      Literal.create(xs.toSeq.sorted, ArrayType(LongType))
    val sets = Gen.containerOf[Set, Long](Gen.choose(-50L, 50L))
    // interpreted eval path, arbitrary sets
    val prop = forAll(sets, sets) { (xs: Set[Long], ys: Set[Long]) =>
      graft.functions.SortedIntersectCount(lit(xs), lit(ys))
        .eval(null) == (xs & ys).size.toLong
    }
    assert(SCTest.check(SCTest.Parameters.default, prop).passed)
    // codegen'd path through a real plan agrees (one batch, many rows)
    val rows = (0 until 64).map { i =>
      val xs = (0L to 50L).filter(v => ((v + i) % 3) == 0)
      val ys = (0L to 50L).filter(v => ((v * i) % 4) == 1)
      (xs, ys, xs.toSet.intersect(ys.toSet).size.toLong)
    }
    val df = spark.createDataFrame(rows).toDF("a", "b", "expect")
    assert(df.filter(
      Native.sortedIntersectCount(col("a"), col("b")) =!= col("expect"))
      .count() == 0)
  }

  test("TopKBuf property: equals sort-desc-take-k for arbitrary inputs") {
    import org.scalacheck.Prop.forAll
    import org.scalacheck.{Gen, Test => SCTest}
    val rows = Gen.listOf(Gen.zip(
      Gen.choose(-1000L, 1000L), Gen.choose(Long.MinValue, Long.MaxValue),
      Gen.choose(-1e9, 1e9)))
    val prop = forAll(rows, Gen.choose(1, 8)) { (xs, k) =>
      // unique tiebreaker per row, as the aggregate contract requires
      val uniq = xs.zipWithIndex.map { case ((o1, _, v), i) => (o1, i.toLong, v) }
      val buf = new graft.functions.TopKBuf(k)
      uniq.foreach { case (o1, o2, v) => buf.insert(o1, o2, v) }
      // overflow-safe descending sort (NOT arithmetic negation, which
      // maps Long.MinValue to itself)
      val expected = uniq.sortBy { case (o1, o2, _) => (o1, o2) }
        .reverse.take(k).map(_._3)
      buf.sortedValuesDesc.toSeq == expected
    }
    assert(SCTest.check(SCTest.Parameters.default, prop).passed)
  }

  test("TopKBuf handles Long.MinValue/MaxValue ordering keys without overflow") {
    val buf = new graft.functions.TopKBuf(2)
    buf.insert(Long.MinValue, 0L, 1.0) // extreme OLDEST — must lose
    buf.insert(0L, 1L, 2.0)
    buf.insert(Long.MaxValue, 2L, 3.0) // extreme NEWEST — must rank first
    assert(buf.sortedValuesDesc.toSeq == Seq(3.0, 2.0))
  }

  test("TopKBuf merge is order-insensitive (partial aggregation law)") {
    import org.scalacheck.Prop.forAll
    import org.scalacheck.{Gen, Test => SCTest}
    val rows = Gen.listOf(Gen.zip(Gen.choose(-50L, 50L), Gen.choose(-1e6, 1e6)))
    val prop = forAll(rows, Gen.choose(0, 20)) { (xs, split) =>
      val uniq = xs.zipWithIndex.map { case ((o1, v), i) => (o1, i.toLong, v) }
      val (l, r) = uniq.splitAt(split.min(uniq.size))
      def fill(part: Seq[(Long, Long, Double)]): graft.functions.TopKBuf = {
        val b = new graft.functions.TopKBuf(5)
        part.foreach { case (o1, o2, v) => b.insert(o1, o2, v) }
        b
      }
      val whole = fill(uniq)
      val merged = fill(l)
      val rb = fill(r)
      (0 until rb.n).foreach(i => merged.insert(rb.o1(i), rb.o2(i), rb.v(i)))
      merged.sortedValuesDesc.toSeq == whole.sortedValuesDesc.toSeq
    }
    assert(SCTest.check(SCTest.Parameters.default, prop).passed)
  }

  test("dot product on raw float arrays is bit-identical to the cast-to-double form") {
    Native.register(spark)
    val e = Tables.embeddings(spark, sf)
    val pairs = e.select(col("embedding"))
      .crossJoin(e.select(col("embedding").as("e2")).limit(5))
      .select(
        Native.dot(col("embedding").cast("array<double>"),
          col("e2").cast("array<double>")).as("cast_form"),
        Native.dot(col("embedding"), col("e2")).as("float_form"),
        Native.dot(col("embedding").cast("array<double>"), col("e2"))
          .as("mixed_form"))
    assert(pairs.filter(col("cast_form") =!= col("float_form") ||
      col("cast_form") =!= col("mixed_form")).count() == 0)
  }

  test("sortable-double: signed-long order matches Double.compare, codegen == scalar") {
    Native.register(spark)
    val vals = Seq(Double.MinValue, -1e300, -2.0, -1.0, -1e-300,
      java.lang.Double.MIN_VALUE * -1, -0.0, 0.0,
      java.lang.Double.MIN_VALUE, 1e-300, 0.5, 1.0, 2.5, 1e300, Double.MaxValue)
    val df = spark.createDataFrame(vals.map(Tuple1(_))).toDF("d")
      .select(col("d"), Native.sortableDouble(col("d")).as("s"))
    val rows = df.collect().map(r => r.getDouble(0) -> r.getLong(1))
    // codegen output equals the scalar transform
    rows.foreach { case (d, s) =>
      val bits = java.lang.Double.doubleToLongBits(d)
      assert(s == (bits ^ ((bits >> 63) & Long.MaxValue)))
    }
    // order-preserving: for every pair, long order == Double.compare order
    for ((a, sa) <- rows; (b, sb) <- rows) {
      assert(java.lang.Long.compare(sa, sb).sign ==
        java.lang.Double.compare(a, b).sign)
    }
  }

  test("as-of join returns the latest prior click, salted agg matches plain groupBy") {
    val asof = q("q_join_asof")
    assert(asof.count() ==
      Tables.events(spark, sf).filter(col("event_type") === "purchase").count())
    val salted = q("q_agg_salted").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val plain = Tables.events(spark, sf).groupBy(col("user_id"))
      .agg(graft.ops.Aggregates.dsum(col("value")).as("t"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(salted == plain)
  }

  test("bloom bits: no false negatives ever, FP rate near theory on a 2^14 filter") {
    val words = new Array[Long](1 << 14 >> 6)
    val keys = (1L to 1000L).map(k => k * 0x9E3779B97F4A7C15L)
    keys.foreach(graft.functions.BloomBits.set(words, _, 4))
    val bytes = {
      val bb = java.nio.ByteBuffer.allocate(words.length * 8)
      words.foreach(bb.putLong); bb.array()
    }
    // every inserted key answers true — the safety law pruning rests on
    keys.foreach(k => assert(graft.functions.BloomBits.contains(bytes, k, 4)))
    // non-members: FPR ≈ (1-e^{-kn/m})^k ≈ 0.3% at n=1000, m=16384, k=4
    val fps = (100001L to 110000L)
      .map(k => k * 0x9E3779B97F4A7C15L + 17L)
      .count(graft.functions.BloomBits.contains(bytes, _, 4))
    assert(fps < 200, s"false-positive count $fps out of theoretical ~30")
  }

  test("bloom-pruned join: probe drops most fact rows, result equals the plain join") {
    import graft.functions.Native
    Native.register(spark)
    val orders = Tables.orders(spark, sf)
    val li = Tables.lineitem(spark, sf)
    val sel = orders
      .filter(col("o_orderdate") >= lit("1995-01-01").cast(org.apache.spark.sql.types.TimestampType) &&
        col("o_orderdate") < lit("1995-04-01").cast(org.apache.spark.sql.types.TimestampType))
      .select(col("o_orderkey"))
    val bfBytes = sel.agg(Native.bloom(xxhash64(col("o_orderkey"))).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val kept = li
      .filter(Native.bloomContains(lit(bfBytes), xxhash64(col("l_orderkey"))))
    val joined = li.join(sel, col("l_orderkey") === col("o_orderkey")).count()
    // safety: the probe keeps a superset of the true matches...
    assert(kept.count() >= joined)
    // ...and actually prunes (selectivity ~ one quarter of 80 months)
    assert(kept.count() < li.count() / 2)
    // the registered query's result is gated by the plain-join oracle;
    // here just re-assert the bloom path loses no group
    assert(q("q_join_bloom").count() ==
      li.join(orders.filter(col("o_orderdate") < lit("1995-04-01").cast(org.apache.spark.sql.types.TimestampType))
          .filter(col("o_orderdate") >= lit("1995-01-01").cast(org.apache.spark.sql.types.TimestampType)),
        col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority")).distinct().count())
  }
  test("CentsArraySum equals Spark's cast-to-decimal(18,2) sum on adversarial doubles") {
    import graft.functions.Native
    Native.register(spark)
    import spark.implicits._
    // adversarial set: shortest-decimal rounding cases (2.675 stores as
    // 2.6749999…), negatives at the .5 boundary, many-digit doubles,
    // non-finite values (cast→null, which a decimal sum SKIPS), zeros
    val arrays = Seq(
      Seq(2.675, -2.675, 0.005, -0.005, 1.0 / 3.0, 123456.789),
      Seq(Double.NaN, 1.25, Double.PositiveInfinity, -7.115, 0.0, -0.0),
      Seq.tabulate(60)(i => 100.0 + i * 0.345 + i / 7.0),
      Seq.empty[Double])
    val df = arrays.zipWithIndex.map { case (a, i) => (i.toLong, a) }.toDF("id", "w")
    val got = df.select(col("id"),
        (Native.centsArraySum(col("w")) / 100.0).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ref = df.select(col("id"),
        expr("aggregate(w, CAST(NULL AS DECIMAL(28,2)), (acc, x) -> " +
          "CAST(coalesce(acc, CAST(0 AS DECIMAL(28,2))) + " +
          "coalesce(CAST(x AS DECIMAL(18,2)), CAST(0 AS DECIMAL(18,2))) AS DECIMAL(28,2)))").as("dec"))
      .collect().map { r =>
        r.getLong(0) -> (if (r.isNullAt(1)) 0.0 else r.getDecimal(1).doubleValue) }.toMap
    arrays.indices.foreach { i =>
      assert(got(i.toLong) == ref(i.toLong),
        s"cents mismatch on array $i: ${got(i.toLong)} vs ${ref(i.toLong)}")
    }
  }

  test("FrameStatsAgg equals sum(cents)/min/max, null-skipping, through partial+merge") {
    import graft.functions.Native
    Native.register(spark)
    import spark.implicits._
    // groups exercise: plain values, nulls mixed in, an ALL-null group
    // (every stat must be null), and a single row; repartition(7)
    // forces partial buffers through the MERGE path
    val rows = Seq[(Long, java.lang.Double)](
      (1L, 2.675), (1L, -0.005), (1L, 7.25), (1L, null),
      (2L, null), (2L, null),
      (3L, 41.37))
    val df = rows.toDF("g", "v").repartition(7)
    val got = df.groupBy(col("g"))
      .agg(Native.frameStats(col("v")).as("fs"))
      .select(col("g"), (col("fs.cs") / 100.0).as("s"), col("fs.mn"), col("fs.mx"))
    val ref = df.groupBy(col("g"))
      .agg((sum(Native.cents(col("v"))) / 100.0).as("s"),
        min(col("v")).as("mn"), max(col("v")).as("mx"))
    val g = got.orderBy(col("g")).collect()
    val r = ref.orderBy(col("g")).collect()
    assert(g.length == r.length)
    g.zip(r).foreach { case (a, b) =>
      (1 to 3).foreach { i =>
        assert((a.isNullAt(i) && b.isNullAt(i)) ||
          (!a.isNullAt(i) && !b.isNullAt(i) && a.getDouble(i) == b.getDouble(i)),
          s"group ${a.getLong(0)} col $i: $a vs $b")
      }
    }
  }

  test("centroid functions: two centroid tables in one session, one registered name each") {
    import spark.implicits._
    val vecs = Seq.tabulate(40)(i => i.toLong -> Array.tabulate(4)(j => math.sin(i * 4.0 + j)))
    val e = vecs.toDF("vec_id", "embedding")
      .withColumn("nrm", Similarity.l2norm(col("embedding")))
    // table b repeats one embedding under c_id 7 and 2: every tie must
    // go to the lower id
    val a = Seq(0L -> Array(1.0, 0, 0, 0), 1L -> Array(0, 1.0, 0, 0),
      2L -> Array(0, 0, 1.0, -1.0))
    val b = Seq(7L -> Array(0.5, 0.5, 0, 0), 2L -> Array(0.5, 0.5, 0, 0),
      3L -> Array(-1.0, 0, 0, 1.0), 9L -> Array(0, 0, -1.0, 0.25))
    for (cs <- Seq(a, b)) {
      val cents = cs.toDF("c_id", "c_emb")
        .withColumn("c_nrm", Similarity.l2norm(col("c_emb")))
      val cn = cents.collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      // plain-Scala reference: same left-to-right dot and norms, centroids
      // in ascending c_id, (cos desc, c_id asc) order
      def ranked(v: Array[Double], nv: Double): Seq[Long] =
        cs.sortBy(_._1).map { case (id, c) =>
          var acc = 0.0
          for (i <- v.indices) acc += v(i) * c(i)
          id -> acc / (nv * cn(id))
        }.sortWith { case ((i1, c1), (i2, c2)) =>
          val o = java.lang.Double.compare(c1, c2)
          o > 0 || (o == 0 && i1 < i2)
        }.map(_._1)
      val got = Similarity.topCentroidIds(Similarity.assignToCentroids(e, cents), cents, 2)
        .select(col("embedding"), col("nrm"), col("c_id"), col("c_ids")).collect()
      assert(got.length === vecs.length)
      got.foreach { r =>
        val want = ranked(r.getSeq[Double](0).toArray, r.getDouble(1))
        assert(r.getLong(2) === want.head)
        assert(r.getSeq[Long](3) === want.take(2))
      }
      if (cs eq b) assert(got.exists(_.getLong(2) == 2L), "no row reached the tied pair")
    }
    val perTable = spark.sessionState.functionRegistry.listFunction().map(_.funcName)
      .filter(n => n.startsWith("graft_nearest_centroid_") || n.startsWith("graft_top_centroids_"))
    assert(perTable.isEmpty, s"per-table centroid functions registered: $perTable")
  }
}
