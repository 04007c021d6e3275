package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, typedLit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions (SURVEY §7.3 preference order (b): a custom
  * `Expression` with codegen beats a Scala UDF). Both participate in
  * whole-stage codegen — no serialization boundary, no boxed closures in
  * the hot loop.
  */

/** Left-to-right dot product over two float or double arrays (each
  * side's element type dispatched independently at bind time — float
  * elements widen to double AT MULTIPLY TIME, which is bit-identical
  * to casting the whole array to array<double> first because
  * float→double widening is exact). The fold order is part of the
  * contract: identical IEEE evaluation order to the DuckDB oracle's
  * list_sum fold, so cosine results stay bit-exact across engines
  * while running ~10× faster than the interpreted HOF
  * (`aggregate(zip_with(...))`) it replaces.
  *
  * The native float path matters structurally, not just locally: a
  * `cast(array<float> as array<double>)` materializes a fresh
  * 64-slot array per side per ROW, which is invisible at corpus-scan
  * cardinality and ruinous inside a pair join — N·M pairs × two
  * allocations each turned a 64M-pair scoring loop GC-bound (423 s
  * cold → 6.6 s once allocation-free). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  // accepts array<float> or array<double> per side; no ExpectsInputTypes
  // because AbstractDataType is private[sql] in Spark 4
  override def dataType: DataType = DoubleType

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  @transient private lazy val leftFloat  = isFloat(left)
  @transient private lazy val rightFloat = isFloat(right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xv = if (leftFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rightFloat) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val xGet = if (leftFloat) s"(double) $x.getFloat($i)" else s"$x.getDouble($i)"
      val yGet = if (rightFloat) s"(double) $y.getFloat($i)" else s"$y.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $xGet * $yGet;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** Intersection cardinality of two SORTED, DISTINCT long arrays by a
  * two-pointer walk — O(|a|+|b|), codegen'd, no allocation. The pair
  * scorer for sparse set-overlap joins (co-occurrence weights): at
  * per-key densities well below span/32 a sorted index array walks
  * faster than a dense bitmap AND+popcount (and both beat a join that
  * re-enumerates each pair once per common element). Callers own the
  * sorted-distinct precondition (sort_array(collect_set(...))); on
  * unsorted input the count is merely undercounted, never a crash. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (nx, ny) = (x.numElements(), y.numElements())
    var i = 0; var j = 0; var c = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $nx = $x.numElements();
         |int $ny = $y.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $x.getLong($i);
         |  long $yv = $y.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectCount =
    copy(left = l, right = r)
}

/** Intersection cardinality of two SORTED, DISTINCT arrays of
  * struct(h: long, t: string) by the same two-pointer walk as
  * [[SortedIntersectCount]], comparing the hash first and the string
  * only on hash ties — EXACT set intersection (collisions fall through
  * to the byte-wise string compare) at long-compare speed for the
  * non-colliding 1-2^-64 of steps. Built for the SSJoin verify leg:
  * `size(array_intersect(tk_a, tk_b))` allocates and probes a hash set
  * per evaluation — and Catalyst pushes the Jaccard threshold into the
  * join condition, so each candidate pair pays that three times — while
  * this walk is allocation-free and rides the hash-ordered token
  * structs the prefix filter already materializes. Callers own the
  * sorted-distinct precondition (array_sort over (xxhash64(t), t));
  * element order inside each struct must be (h, t). Spark's default
  * string ordering is the same byte-wise UTF8String compare used here,
  * so the walk's order agrees with array_sort's. */
case class SortedStructIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (nx, ny) = (x.numElements(), y.numElements())
    var i = 0; var j = 0; var c = 0L
    while (i < nx && j < ny) {
      val xs = x.getStruct(i, 2); val ys = y.getStruct(j, 2)
      val xh = xs.getLong(0); val yh = ys.getLong(0)
      if (xh < yh) i += 1
      else if (xh > yh) j += 1
      else {
        val cmp = xs.getUTF8String(1).binaryCompare(ys.getUTF8String(1))
        if (cmp == 0) { c += 1; i += 1; j += 1 }
        else if (cmp < 0) i += 1
        else j += 1
      }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val c = ctx.freshName("c")
      val xs = ctx.freshName("xs")
      val ys = ctx.freshName("ys")
      val xh = ctx.freshName("xh")
      val yh = ctx.freshName("yh")
      val cmp = ctx.freshName("cmp")
      s"""
         |int $nx = $x.numElements();
         |int $ny = $y.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $nx && $j < $ny) {
         |  org.apache.spark.sql.catalyst.InternalRow $xs = $x.getStruct($i, 2);
         |  org.apache.spark.sql.catalyst.InternalRow $ys = $y.getStruct($j, 2);
         |  long $xh = $xs.getLong(0);
         |  long $yh = $ys.getLong(0);
         |  if ($xh < $yh) { $i++; }
         |  else if ($xh > $yh) { $j++; }
         |  else {
         |    int $cmp = $xs.getUTF8String(1).binaryCompare($ys.getUTF8String(1));
         |    if ($cmp == 0) { $c++; $i++; $j++; }
         |    else if ($cmp < 0) { $i++; } else { $j++; }
         |  }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedStructIntersectCount =
    copy(left = l, right = r)
}

/** Exact Σ cast(x AS DECIMAL(18,2)) over a double array, returned as
  * integer CENTS — the codegen'd replacement for an interpreted
  * `aggregate()` HOF folding Decimal boxes per element (measured slower
  * than the WindowExec it was meant to replace). Per-element semantics
  * REPLICATE Spark's double→decimal(18,2) cast exactly:
  * BigDecimal.valueOf(x) (the double's shortest decimal string, not
  * x·100 float arithmetic — 2.675 stored as 2.67499… still rounds to
  * 2.68) then setScale(2, HALF_UP); non-finite values cast to null and
  * a decimal sum SKIPS nulls, so they are skipped here. Long-cents
  * addition is exactly associative, and the caller's cents/100.0 double
  * division equals Decimal.toDouble (both are the correctly-rounded
  * double nearest sum/100). */
case class CentsArraySum(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var i = 0; var c = 0L
    while (i < n) {
      c += CentsArraySum.cents(x.getDouble(i))
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      s"""
         |int $n = $x.numElements();
         |long $c = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $c += graft.functions.CentsArraySum.cents($x.getDouble($i));
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): CentsArraySum =
    copy(child = c)
}

/** Scalar sibling of [[CentsArraySum]]: Spark-cast-faithful integer
  * cents of ONE double (same [[CentsArraySum.cents]] conversion, same
  * non-finite → 0 = the cast-to-null → sum-skips-null equivalence under
  * a later sum). Exists so a sliding-frame SUM can run over
  * pre-converted longs: Spark's SlidingWindowFunctionFrame RE-EVALUATES
  * the whole frame per output row, so a k=60 frame pays 60 aggregate
  * updates per row — with sum(DECIMAL) each update allocates and
  * scale-checks a Decimal (measured 116.9 s for q_sliding_windows at
  * the 100M-event decade, 2× the r11-basis array form), while
  * sum(LONG) over a cents column projected ONCE before the window is a
  * bare long add (the conversion itself is paid n times, not n·k). */
case class CentsValue(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any): Any =
    CentsArraySum.cents(a.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x => s"graft.functions.CentsArraySum.cents($x)")

  override protected def withNewChildInternal(c: Expression): CentsValue =
    copy(child = c)
}

object CentsArraySum {
  /** Spark-cast-faithful cents of one double; 0 for non-finite (the
    * cast-to-null → sum-skips-null path). Fast path: when x IS exactly
    * the double nearest c/100 (the overwhelming case for money-like
    * data), c = round(x·100) and the roundtrip check `c/100.0 == x`
    * proves it — IEEE division is correctly rounded, so double(c)/100.0
    * is the nearest double to c/100, and below 10^10 two distinct cent
    * values can never collapse onto one double (cent spacing 0.01 ≫
    * ulp). Everything else — .005 boundaries stored low, huge values —
    * takes the exact BigDecimal shortest-string path Spark's cast
    * uses. */
  def cents(x: Double): Long =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) 0L
    else if (math.abs(x) < 1e10) {
      val c = java.lang.Math.round(x * 100.0)
      if (c / 100.0 == x) c else slowCents(x)
    } else slowCents(x)

  private def slowCents(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(2, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()
}

/** Nearest-centroid id (argmax cosine) over a CONSTANT centroid table —
  * the IVF assignment as a single codegen'd projection. The previous
  * plan exploded the corpus × centroids through a crossJoin into a
  * vec_id-keyed hash aggregate: at 200k vectors × 447 cells that is 89M
  * rows each carrying a 256-byte embedding payload through the
  * aggregation — measured 55 s, all row machinery, ~0 flop-bound. This
  * expression loops the (collected, bounded — k ≤ 4096 by the sizing
  * rule) centroids per row instead: one corpus scan, NO shuffle, the
  * same arithmetic in the same order (left-to-right dot, cos =
  * dot/(nrm·c_nrm)) and the same tie/NaN semantics as
  * max_by(struct(c_cos, -c_id)) (Double.compare: NaN above all, ties →
  * the earliest = lowest c_id), so assignments are bit-identical.
  * At 100 TB this is the difference between an index build that
  * re-shuffles the corpus and one that rides the scan. */
case class NearestCentroidId(emb: Expression, nrm: Expression,
    centIds: Array[Long], centEmbs: Array[Array[Double]],
    centNorms: Array[Double]) extends BinaryExpression {
  override def left: Expression = emb
  override def right: Expression = nrm
  override def dataType: DataType = LongType

  private def isFloat: Boolean = emb.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val nv = b.asInstanceOf[Double]
    val ne = x.numElements()
    // hoist the row's coordinates into a primitive array ONCE: the
    // centroid loop otherwise pays an ArrayData virtual get per
    // (centroid, coordinate) — |cells|×dim calls per row, the measured
    // wall of the 2M-vector assignment phase (same fix in codegen)
    val xv = new Array[Double](ne)
    var h = 0
    while (h < ne) {
      xv(h) = if (isFloat) x.getFloat(h).toDouble else x.getDouble(h)
      h += 1
    }
    var best = Double.NegativeInfinity
    var bestId = -1L
    var c = 0
    while (c < centEmbs.length) {
      val ce = centEmbs(c)
      val n = math.min(ne, ce.length)
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += xv(i) * ce(i)
        i += 1
      }
      val cos = acc / (nv * centNorms(c))
      if (java.lang.Double.compare(cos, best) > 0) { best = cos; bestId = centIds(c) }
      c += 1
    }
    bestId
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ids = ctx.addReferenceObj("centIds", centIds, "long[]")
    val embs = ctx.addReferenceObj("centEmbs", centEmbs, "double[][]")
    val norms = ctx.addReferenceObj("centNorms", centNorms, "double[]")
    // per-partition scratch buffer: copying the row's coordinates out of
    // ArrayData once per row replaces |cells|×dim virtual getFloat calls
    // with a primitive-array inner loop the JIT can vectorize — the
    // assignment phase is a dense (rows×dim)·(dim×cells) product and was
    // measured access-bound, not flop-bound, without this
    val scratch = ctx.addMutableState("double[]", "ncidScratch",
      v => s"$v = new double[0];")
    nullSafeCodeGen(ctx, ev, (x, nv) => {
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val n = ctx.freshName("n")
      val ne = ctx.freshName("ne")
      val ce = ctx.freshName("ce")
      val acc = ctx.freshName("acc")
      val cos = ctx.freshName("cos")
      val best = ctx.freshName("best")
      val bestId = ctx.freshName("bestId")
      val xGet = if (isFloat) s"(double) $x.getFloat($h)" else s"$x.getDouble($h)"
      s"""
         |int $ne = $x.numElements();
         |if ($scratch.length < $ne) $scratch = new double[$ne];
         |for (int $h = 0; $h < $ne; $h++) $scratch[$h] = $xGet;
         |double $best = Double.NEGATIVE_INFINITY;
         |long $bestId = -1L;
         |for (int $c = 0; $c < $embs.length; $c++) {
         |  double[] $ce = $embs[$c];
         |  int $n = java.lang.Math.min($ne, $ce.length);
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $scratch[$i] * $ce[$i];
         |  }
         |  double $cos = $acc / ($nv * $norms[$c]);
         |  if (java.lang.Double.compare($cos, $best) > 0) { $best = $cos; $bestId = $ids[$c]; }
         |}
         |${ev.value} = $bestId;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): NearestCentroidId =
    copy(emb = l, nrm = r)
}

/** Top-N nearest centroids per row — [[NearestCentroidId]] generalized
  * to the PROBE side of an IVF query. The window formulation
  * (crossJoin(broadcast(centroids)) → row_number ≤ nProbe) explodes
  * |queries|·|cells| rows each dragging the query's full embedding
  * payload through an exchange and a sort — at 400k holdout queries ×
  * 1414 cells that is 565M wide rows for a 4-id answer. This
  * expression selects the nProbe best cells in one pass over the
  * (collected, bounded) centroid table per scanned row: NO shuffle,
  * no sort, and the ordering is bit-identical to the window's
  * (c_cos desc, c_id asc) under Spark's NaN-largest double order
  * (Double.compare; centroids iterate in ascending c_id, and equal
  * cosines never displace an earlier id). Returns the ids ordered
  * best-first, length min(nProbe, cells). */
case class NearestCentroidIds(emb: Expression, nrm: Expression,
    centIds: Array[Long], centEmbs: Array[Array[Double]],
    centNorms: Array[Double], nProbe: Int) extends BinaryExpression {
  override def left: Expression = emb
  override def right: Expression = nrm
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def isFloat: Boolean = emb.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val nv = b.asInstanceOf[Double]
    val ne = x.numElements()
    // same per-row coordinate hoist as NearestCentroidId
    val xv = new Array[Double](ne)
    var h = 0
    while (h < ne) {
      xv(h) = if (isFloat) x.getFloat(h).toDouble else x.getDouble(h)
      h += 1
    }
    val m = math.min(nProbe, centEmbs.length)
    val bc = new Array[Double](m)
    val bi = new Array[Long](m)
    var filled = 0
    var c = 0
    while (c < centEmbs.length) {
      val ce = centEmbs(c)
      val n = math.min(ne, ce.length)
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += xv(i) * ce(i)
        i += 1
      }
      val cos = acc / (nv * centNorms(c))
      // insertion position: after every kept entry with cos >= this one
      // (equal ties keep the earlier = smaller c_id first)
      var p = filled
      while (p > 0 && java.lang.Double.compare(bc(p - 1), cos) < 0) p -= 1
      if (p < m) {
        var j = math.min(filled, m - 1)
        while (j > p) { bc(j) = bc(j - 1); bi(j) = bi(j - 1); j -= 1 }
        bc(p) = cos
        bi(p) = centIds(c)
        if (filled < m) filled += 1
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(bi, filled))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ids = ctx.addReferenceObj("centIds", centIds, "long[]")
    val embs = ctx.addReferenceObj("centEmbs", centEmbs, "double[][]")
    val norms = ctx.addReferenceObj("centNorms", centNorms, "double[]")
    val scratch = ctx.addMutableState("double[]", "ncidsScratch",
      v => s"$v = new double[0];")
    nullSafeCodeGen(ctx, ev, (x, nv) => {
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val p = ctx.freshName("p")
      val n = ctx.freshName("n")
      val ne = ctx.freshName("ne")
      val ce = ctx.freshName("ce")
      val acc = ctx.freshName("acc")
      val cos = ctx.freshName("cos")
      val m = ctx.freshName("m")
      val bc = ctx.freshName("bc")
      val bi = ctx.freshName("bi")
      val filled = ctx.freshName("filled")
      val h = ctx.freshName("h")
      val xGet = if (isFloat) s"(double) $x.getFloat($h)" else s"$x.getDouble($h)"
      s"""
         |int $ne = $x.numElements();
         |if ($scratch.length < $ne) $scratch = new double[$ne];
         |for (int $h = 0; $h < $ne; $h++) $scratch[$h] = $xGet;
         |int $m = java.lang.Math.min($nProbe, $embs.length);
         |double[] $bc = new double[$m];
         |long[] $bi = new long[$m];
         |int $filled = 0;
         |for (int $c = 0; $c < $embs.length; $c++) {
         |  double[] $ce = $embs[$c];
         |  int $n = java.lang.Math.min($ne, $ce.length);
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $scratch[$i] * $ce[$i];
         |  }
         |  double $cos = $acc / ($nv * $norms[$c]);
         |  int $p = $filled;
         |  while ($p > 0 && java.lang.Double.compare($bc[$p - 1], $cos) < 0) $p--;
         |  if ($p < $m) {
         |    for (int $j = java.lang.Math.min($filled, $m - 1); $j > $p; $j--) {
         |      $bc[$j] = $bc[$j - 1]; $bi[$j] = $bi[$j - 1];
         |    }
         |    $bc[$p] = $cos;
         |    $bi[$p] = $ids[$c];
         |    if ($filled < $m) $filled++;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  java.util.Arrays.copyOf($bi, $filled));
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): NearestCentroidIds =
    copy(emb = l, nrm = r)
}

/** 64-bit polynomial rolling hash of a string's UTF-8 bytes:
  * h = Σ byte_i · B^(n−1−i) (wrapping mod 2^64). The classic cheap
  * content fingerprint — one multiply-add per byte, codegen'd. */
case class RollingHash(child: Expression, base: Long)
    extends UnaryExpression {
  def this(child: Expression) = this(child, 1000003L)
  override def dataType: DataType = LongType

  override def nullSafeEval(s: Any): Any = {
    val bytes = s.asInstanceOf[UTF8String].getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = h * base + (bytes(i) & 0xFF); i += 1 }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |byte[] $bytes = $s.getBytes();
         |long $h = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = $h * ${base}L + ($bytes[$i] & 0xFF);
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): RollingHash =
    copy(child = c)
}

/** XOR-fold of a binary payload's bytes into a long — the cheapest
  * whole-blob checksum (one XOR per byte, codegen'd, no allocation).
  * Used by the multimodal feature stub; on a 1-byte slice it degenerates
  * to "the byte value", which also gives first-byte/last-byte extraction
  * without a dedicated expression. */
case class XorFoldBytes(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def nullSafeEval(b: Any): Any = {
    val bytes = b.asInstanceOf[Array[Byte]]
    var h = 0L
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xFF).toLong; i += 1 }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |long $h = 0L;
         |for (int $i = 0; $i < $b.length; $i++) {
         |  $h ^= (long) ($b[$i] & 0xFF);
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): XorFoldBytes =
    copy(child = c)
}

/** Order-preserving double→long transform: for finite doubles a < b
  * iff sortable(a) < sortable(b) as SIGNED longs (the classic IEEE-754
  * bits trick: flip the low 63 bits of negatives so the negative range
  * sorts ascending instead of descending). Lets long-keyed machinery —
  * [[TopKByAgg]] in particular — rank by a double score (cosine
  * similarity) without a double-keyed buffer variant. Total-order edge
  * cases follow `java.lang.Double.compare` (-0.0 < 0.0, NaN above all),
  * which is also Spark SQL's double sort order. */
case class DoubleSortableLong(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def nullSafeEval(d: Any): Any = {
    val bits = java.lang.Double.doubleToLongBits(d.asInstanceOf[Double])
    bits ^ ((bits >> 63) & Long.MaxValue)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, d => {
      val bits = ctx.freshName("bits")
      s"""
         |long $bits = Double.doubleToLongBits($d);
         |${ev.value} = $bits ^ (($bits >> 63) & Long.MAX_VALUE);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): DoubleSortableLong =
    copy(child = c)
}

/** Session registration for the native expressions, plus a
  * SparkSessionExtensions hook for production use via
  * `spark.sql.extensions=graft.functions.GraftExtensions`. */
object Native {
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> (exprs => DotProduct(exprs(0), exprs(1))),
    "graft_sorted_intersect" -> (exprs => SortedIntersectCount(exprs(0), exprs(1))),
    "graft_sorted_struct_intersect" -> (exprs => SortedStructIntersectCount(exprs(0), exprs(1))),
    "graft_cents_array_sum" -> (exprs => CentsArraySum(exprs.head)),
    "graft_cents" -> (exprs => CentsValue(exprs.head)),
    "graft_frame_stats" -> (exprs => FrameStatsAgg(exprs.head)),
    "graft_rolling_hash" -> (exprs => new RollingHash(exprs.head)),
    "graft_xor_fold" -> (exprs => XorFoldBytes(exprs.head)),
    "graft_sortable_double" -> (exprs => DoubleSortableLong(exprs.head)),
    "graft_bloom_contains" -> (exprs => BloomMightContain(exprs(0), exprs(1),
      exprs(2).eval().asInstanceOf[Int])),
    // aggregates: the analyzer wraps the AggregateFunction itself
    "graft_minhash" -> (exprs => MinHashAgg(exprs.head, 64)),
    "graft_bloom" -> (exprs => BloomAgg(exprs(0),
      exprs(1).eval().asInstanceOf[Int], exprs(2).eval().asInstanceOf[Int])),
    "graft_topk_by" -> (exprs => TopKByAgg(exprs(0), exprs(1), exprs(2),
      exprs(3).eval().asInstanceOf[Int])),
    // the centroid table arrives as literal (ids, embeddings, norms)
    // arguments, evaluated here into the expression's constants, so one
    // registered name serves every centroid table
    "graft_nearest_centroid" -> (exprs => NearestCentroidId(exprs(0), exprs(1),
      longs(exprs(2)), vectors(exprs(3)), doubles(exprs(4)))),
    "graft_top_centroids" -> (exprs => NearestCentroidIds(exprs(0), exprs(1),
      longs(exprs(2)), vectors(exprs(3)), doubles(exprs(4)),
      exprs(5).eval().asInstanceOf[Int])))

  private def constArray(e: Expression): ArrayData = e.eval().asInstanceOf[ArrayData]
  private def longs(e: Expression): Array[Long] = constArray(e).toLongArray()
  private def doubles(e: Expression): Array[Double] = constArray(e).toDoubleArray()
  private def vectors(e: Expression): Array[Array[Double]] = {
    val a = constArray(e)
    Array.tabulate(a.numElements())(a.getArray(_).toDoubleArray())
  }

  /** Idempotent per session: only names the session's registry lacks are
    * registered, so the operators that call this on every build neither
    * replace a function nor log Spark's replacement warning. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  /** Dot product column — float or double arrays, no cast needed
    * (register(spark) must have run in this session). */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** |a ∩ b| for sorted distinct long arrays (see [[SortedIntersectCount]]). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    call_function("graft_sorted_intersect", a, b)

  /** |a ∩ b| for sorted distinct (h: long, t: string) struct arrays
    * (see [[SortedStructIntersectCount]]). */
  def sortedStructIntersectCount(a: Column, b: Column): Column =
    call_function("graft_sorted_struct_intersect", a, b)

  /** Σ cast(x AS DECIMAL(18,2)) over a double array, as integer cents
    * (see [[CentsArraySum]]). */
  def centsArraySum(a: Column): Column = call_function("graft_cents_array_sum", a)

  /** Integer cents of one double (see [[CentsValue]]). */
  def cents(c: Column): Column = call_function("graft_cents", c)

  /** One-pass (cents sum, min, max) frame aggregate — struct(cs, mn, mx)
    * (see [[FrameStatsAgg]]). */
  def frameStats(c: Column): Column = call_function("graft_frame_stats", c)

  def rollingHash(c: Column): Column = call_function("graft_rolling_hash", c)

  /** XOR-fold of a binary column's bytes (long). */
  def xorFold(c: Column): Column = call_function("graft_xor_fold", c)

  /** 64-slot MinHash signature aggregate over a base-hash column. */
  def minhash(c: Column): Column = call_function("graft_minhash", c)

  /** Bloom bitset aggregate over a 64-bit hash column (binary). */
  def bloom(c: Column, numBits: Int = 1 << 20, numHashes: Int = 4): Column =
    call_function("graft_bloom", c,
      org.apache.spark.sql.functions.lit(numBits),
      org.apache.spark.sql.functions.lit(numHashes))

  /** Membership probe of a hash against a [[BloomAgg]] bitset. */
  def bloomContains(bloom: Column, hash: Column, numHashes: Int = 4): Column =
    call_function("graft_bloom_contains", bloom, hash,
      org.apache.spark.sql.functions.lit(numHashes))

  /** Id of the nearest (highest-cosine, lowest id on ties) of a constant
    * centroid table (see [[NearestCentroidId]]); `nrm` is the row's
    * norm, `norms` the centroids'. */
  def nearestCentroid(emb: Column, nrm: Column, ids: Array[Long],
      embs: Array[Array[Double]], norms: Array[Double]): Column =
    call_function("graft_nearest_centroid", emb, nrm,
      typedLit(ids), typedLit(embs), typedLit(norms))

  /** The `nProbe` nearest centroid ids, best first (see
    * [[NearestCentroidIds]]). */
  def topCentroids(emb: Column, nrm: Column, ids: Array[Long],
      embs: Array[Array[Double]], norms: Array[Double], nProbe: Int): Column =
    call_function("graft_top_centroids", emb, nrm,
      typedLit(ids), typedLit(embs), typedLit(norms),
      org.apache.spark.sql.functions.lit(nProbe))

  /** Signed-long key with the same total order as the double input. */
  def sortableDouble(c: Column): Column =
    call_function("graft_sortable_double", c)

  /** Values of the k rows with the largest (ord1, ord2), newest-first.
    * ord1/ord2 must be long-backed (long or timestamp); k a literal. */
  def topKBy(ord1: Column, ord2: Column, value: Column, k: Int): Column =
    call_function("graft_topk_by", ord1, ord2, value,
      org.apache.spark.sql.functions.lit(k))
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    Native.functions.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.Native", name), builder))
    }
}
