package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions (with codegen) for the hot inner loops
  * of the dedup/similarity operators. Both are order-preserving scalar
  * kernels, so they slot into whole-stage codegen next to the built-in
  * expressions around them.
  */

/** Count of common elements between two SORTED arrays of longs —
  * two-pointer merge, O(|a|+|b|), no per-row hash set. Replaces
  * `size(array_intersect(a, b))` in the set-similarity verify stage
  * (array_intersect builds a hash set per row; on millions of
  * candidate pairs with ~200-element arrays the difference is large).
  * Inputs MUST be sorted and deduplicated (array_sort ∘ array_distinct).
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _                      => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_count expects array<bigint> inputs, got ${left.dataType}, ${right.dataType}")
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0
    val an = a.numElements(); val bn = b.numElements()
    while (i < an && j < bn) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val an = ctx.freshName("an"); val bn = ctx.freshName("bn")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $i = 0, $j = 0;
         |final int $an = $a.numElements(), $bn = $b.numElements();
         |int ${ev.value}Acc = 0;
         |while ($i < $an && $j < $bn) {
         |  final long $x = $a.getLong($i);
         |  final long $y = $b.getLong($j);
         |  if ($x == $y) { ${ev.value}Acc++; $i++; $j++; }
         |  else if ($x < $y) { $i++; } else { $j++; }
         |}
         |${ev.value} = ${ev.value}Acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** [[SortedIntersectCount]] with a required-overlap early exit: returns
  * the exact intersection count when it is ≥ `required`, or -1 the
  * moment `count-so-far + min(remaining_a, remaining_b)` drops below
  * `required` (the true count is then provably < required, so a
  * `inter >= required` filter downstream sees identical survivors).
  * This is the PPJoin verify-stage bound: with Jaccard ≥ t ⟺
  * intersection ≥ t/(1+t)·(|a|+|b|), most FAILING candidate pairs bail
  * after a few dozen elements instead of walking both arrays — the
  * verify stage's cost concentrates on near-qualifying pairs only.
  * Inputs MUST be sorted and deduplicated; `required` is evaluated
  * per row (it depends on the pair's sizes). */
case class SortedIntersectAtLeast(left: Expression, right: Expression, required: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def first: Expression = left
  override def second: Expression = right
  override def third: Expression = required

  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val arraysOk = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _                      => false
    })
    if (arraysOk && required.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_at_least expects (array<bigint>, array<bigint>, int), " +
        s"got (${left.dataType}, ${right.dataType}, ${required.dataType})")
  }

  override protected def nullSafeEval(l: Any, r: Any, req: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val need = req.asInstanceOf[Int]
    var i = 0; var j = 0; var c = 0
    val an = a.numElements(); val bn = b.numElements()
    while (i < an && j < bn) {
      if (c + math.min(an - i, bn - j) < need) return -1
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    if (c < need) -1 else c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, req) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val an = ctx.freshName("an"); val bn = ctx.freshName("bn")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val c = ctx.freshName("c"); val rem = ctx.freshName("rem")
      s"""
         |int $i = 0, $j = 0, $c = 0;
         |final int $an = $a.numElements(), $bn = $b.numElements();
         |while ($i < $an && $j < $bn) {
         |  final int $rem = ($an - $i < $bn - $j) ? ($an - $i) : ($bn - $j);
         |  if ($c + $rem < $req) { $c = -1; break; }
         |  final long $x = $a.getLong($i);
         |  final long $y = $b.getLong($j);
         |  if ($x == $y) { $c++; $i++; $j++; }
         |  else if ($x < $y) { $i++; } else { $j++; }
         |}
         |${ev.value} = ($c < $req) ? -1 : $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(left = newFirst, right = newSecond, required = newThird)
}

/** Dot product of two equal-length arrays of doubles — a tight fused
  * loop instead of zip_with + aggregate (which materializes an
  * intermediate array per row). Sequential left-to-right accumulation,
  * so results are bit-identical to the higher-order-function form (and
  * to DuckDB's list_cosine_similarity numerator). */
case class VecDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects array<double> inputs, got ${left.dataType}, ${right.dataType}")
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Single-pass n-gram kernels shared by [[CharNgrams]] / [[WordNgrams]]
  * interpreted eval and their generated code (whole-stage codegen calls
  * these via the Scala static forwarders, exactly like Spark's own
  * expressions call UTF8String statics).
  *
  * Why these exist: the higher-order-function form
  * `array_distinct(transform(sequence(...), i => substr(i, n)))` is
  * interpreted per element (HigherOrderFunction is CodegenFallback) and
  * `substr(i, n)` rescans the string from byte 0 to find code point `i`
  * — O(L²) work per document plus per-element boxing. These kernels do
  * one forward pass (code-point offsets computed once), O(L·n) bytes
  * copied, distinct via an order-preserving hash set: measured ~30 s →
  * sub-second per corpus pass on the sf0.1 documents fixture. */
object NgramImpl {

  /** Distinct character n-grams of `s`, first-occurrence order —
    * byte-identical to `array_distinct(transform(sequence(1,
    * greatest(len-n+1, 1)), i => substr(s, i, n)))`, including the
    * short-string edge: a string with fewer than `n` chars yields one
    * shingle, the whole string (and "" yields [""]). */
  def charNgrams(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val numBytes = bytes.length
    // code-point start offsets in ONE pass (vs substr's per-call scan)
    val starts = new Array[Int](s.numChars() + 1)
    var i = 0
    var c = 0
    while (i < numBytes) {
      starts(c) = i
      c += 1
      i += UTF8String.numBytesForFirstByte(bytes(i))
    }
    starts(c) = numBytes
    val m = math.max(c - n + 1, 1)
    val seen = new java.util.LinkedHashSet[UTF8String](math.max(m * 2, 8))
    var k = 0
    while (k < m) {
      val from = starts(k)
      val until = starts(math.min(k + n, c))
      seen.add(UTF8String.fromBytes(bytes, from, until - from))
      k += 1
    }
    new GenericArrayData(seen.toArray(new Array[AnyRef](seen.size)))
  }

  /** Distinct word n-grams (tokens joined by a single space),
    * first-occurrence order — byte-identical to the
    * split/slice/concat_ws form over an already lower+trimmed string:
    * tokens are maximal runs of non-whitespace (Java regex `\s` class:
    * space, tab, LF, VT, FF, CR — same class `split` uses), and fewer
    * than `n` tokens yields an empty array. */
  def wordNgrams(s: UTF8String, n: Int): ArrayData = {
    val str = s.toString
    val L = str.length
    val toks = new java.util.ArrayList[String]()
    var i = 0
    while (i < L) {
      while (i < L && isSplitSpace(str.charAt(i))) i += 1
      val st = i
      while (i < L && !isSplitSpace(str.charAt(i))) i += 1
      if (i > st) toks.add(str.substring(st, i))
    }
    val t = toks.size
    if (t < n) return new GenericArrayData(new Array[AnyRef](0))
    val seen = new java.util.LinkedHashSet[UTF8String](math.max((t - n + 1) * 2, 8))
    val sb = new java.lang.StringBuilder()
    var k = 0
    while (k <= t - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks.get(k + j))
        j += 1
      }
      seen.add(UTF8String.fromString(sb.toString))
      k += 1
    }
    new GenericArrayData(seen.toArray(new Array[AnyRef](seen.size)))
  }

  private def isSplitSpace(ch: Char): Boolean =
    ch == ' ' || ch == '\t' || ch == '\n' || ch == '\u000B' || ch == '\f' || ch == '\r'
}

/** The product-quantization encode inner loop shared by [[PqEncodeCodes]]
  * interpreted eval and its generated code (one static call, like
  * [[NgramImpl]]).
  *
  * Why this exists: the expression-tree form of PQ encode — m unrolled
  * `least()` argmins over k literal distance chains — is ~m·k·dsub
  * arithmetic nodes (1024 at the 8×16×8 defaults). Correct and
  * data-independent, but Janino spends ~20 s compiling the
  * expression-split projection per stage (round-5 bench: emb_pq 22.6 s,
  * ~90 % compile). This kernel is the same arithmetic as a loop: the
  * generated code is a single static call, compiled instantly.
  *
  * Exactness contract (the emb_pq oracle hashes code assignment with NO
  * rounding): per-entry distance accumulates (vec[i]−cb[i])² with j
  * ascending from +0.0 — bit-identical to the left-assoc literal chain
  * (x + 0.0 ≡ x for the non-negative squares) and to the DuckDB replay;
  * argmin keeps the FIRST strictly-smaller entry, entries in codebook
  * order (cid ascending) — identical to `least(struct(d, cid))` /
  * `ORDER BY dist, cid`. NaN never beats a non-NaN best (struct
  * ordering treats NaN as greatest). */
object PqImpl {

  /** `codes[s] = cids[argmin_e Σ_j (vec[s·dsub+j] − cb[e·dim + s·dsub+j])²]`
    * for each of the `m` subspaces; `cb` is laid out entry-major over
    * the FULL dim (entry e's subspace s slice starts at e·dim + s·dsub).
    * Returns null for a vector shorter than m·dsub (malformed input —
    * mirrors the unrolled form's null propagation). */
  def encode(vec: ArrayData, cb: Array[Double], cids: Array[Int],
      m: Int, dsub: Int, isFloat: Boolean): ArrayData = {
    val dim = m * dsub
    if (vec.numElements() < dim) return null
    // null-propagate on null ELEMENTS too: getFloat on a null slot reads
    // garbage, and the element_at form this kernel replaced would have
    // returned null for the whole code array
    var p = 0
    while (p < dim) { if (vec.isNullAt(p)) return null; p += 1 }
    val k = cids.length
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val base = s * dsub
      var bestD = 0.0
      var bestC = 0
      var e = 0
      while (e < k) {
        var d = 0.0
        var j = 0
        while (j < dsub) {
          val i = base + j
          val v = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
          val t = v - cb(e * dim + i)
          d += t * t
          j += 1
        }
        if (e == 0 || d < bestD ||
            (java.lang.Double.isNaN(bestD) && !java.lang.Double.isNaN(d))) {
          bestD = d; bestC = cids(e)
        }
        e += 1
      }
      out(s) = bestC
      s += 1
    }
    new GenericArrayData(out)
  }
}

/** PQ code assignment as a single codegen'd kernel call — see
  * [[PqImpl.encode]] for the exact-semantics contract. The codebook
  * (k·dim doubles) and entry ids ride along as reference objects, so
  * the generated projection stays tiny regardless of m·k. */
case class PqEncodeCodes(child: Expression, codebook: Seq[Double],
    cids: Seq[Int], m: Int, dsub: Int) extends UnaryExpression {
  require(m >= 1 && dsub >= 1, s"need m >= 1 and dsub >= 1, got m=$m dsub=$dsub")
  require(codebook.size == cids.size * m * dsub,
    s"codebook size ${codebook.size} != k·m·dsub = ${cids.size * m * dsub}")

  @transient private lazy val cbArr = codebook.toArray
  @transient private lazy val cidArr = cids.toArray
  private def isFloat: Boolean = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => true
    case _                                                  => false
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  // the kernel can return null even for a non-null input (short vector /
  // null element); without this override a non-nullable child makes
  // nullSafeCodeGen emit `false = true;` against the FalseLiteral isNull
  // slot — a Janino compile error forcing interpreted fallback
  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.FloatType, _) |
           ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_encode expects array<float> or array<double>, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    PqImpl.encode(input.asInstanceOf[ArrayData], cbArr, cidArr, m, dsub, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", cbArr, "double[]")
    val cidRef = ctx.addReferenceObj("pqCids", cidArr, "int[]")
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.PqImpl.encode($c, $cbRef, $cidRef, $m, $dsub, $isFloat);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SRP signature kernel — the whole per-vector loop nest as one static
  * call so the signature projection stays a MAP-ONLY stage inside
  * whole-stage codegen. The previous form (posexplode dims → nbits
  * `sum` aggregates) paid an explode shuffle and, at nbits ≥ 192, fell
  * out of whole-stage codegen entirely (the aggregate exceeds the
  * codegen field budget): 2.7 s at sf0.1 for arithmetic this kernel
  * does in <0.1 s. */
object SrpImpl {
  /** `words[b/64] bit (b%64) = (Σ_i vec[i]·signs[i·nbits + b]) > 0` for
    * b in [0, nbits); `signs` is dim-major. The inner sum accumulates
    * i-ascending from +0.0 — a fixed left-assoc chain; cross-engine
    * agreement needs only the measured |proj| floor (~1e-6 on the
    * fixtures) to exceed sum-order ulp noise (~1e-13), documented at
    * [[graft.ext.Similarity.srpSignatures]]. Returns null for a vector
    * shorter than `dim` or containing null elements (malformed input —
    * same contract as [[PqImpl.encode]]). */
  def signature(vec: ArrayData, signs: Array[Double], dim: Int, nbits: Int,
      isFloat: Boolean): ArrayData = {
    if (vec.numElements() < dim) return null
    var p = 0
    while (p < dim) { if (vec.isNullAt(p)) return null; p += 1 }
    val words = new Array[Long]((nbits + 63) / 64)
    var b = 0
    while (b < nbits) {
      var s = 0.0
      var i = 0
      while (i < dim) {
        val v = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
        s += v * signs(i * nbits + b)
        i += 1
      }
      if (s > 0) words(b >> 6) |= (1L << (b & 63))
      b += 1
    }
    new GenericArrayData(words)
  }
}

/** SRP signature as a single codegen'd kernel call — see
  * [[SrpImpl.signature]] for the exact-semantics contract. The sign
  * table (dim·nbits doubles, a few hundred KB at most) rides along as
  * a reference object, so the generated projection stays tiny. */
case class SrpSignatureExpr(child: Expression, signs: Seq[Double],
    dim: Int, nbits: Int) extends UnaryExpression {
  require(dim >= 1 && nbits >= 1, s"need dim >= 1 and nbits >= 1, got dim=$dim nbits=$nbits")
  require(signs.size == dim * nbits,
    s"signs size ${signs.size} != dim·nbits = ${dim * nbits}")

  @transient private lazy val signArr = signs.toArray
  private def isFloat: Boolean = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => true
    case _                                                  => false
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // the kernel returns null for short vectors / null elements even when
  // the input itself is non-null (see PqEncodeCodes for the FalseLiteral
  // codegen hazard this override avoids)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.FloatType, _) |
           ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"srp_signature expects array<float> or array<double>, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    SrpImpl.signature(input.asInstanceOf[ArrayData], signArr, dim, nbits, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val signRef = ctx.addReferenceObj("srpSigns", signArr, "double[]")
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.SrpImpl.signature($c, $signRef, $dim, $nbits, $isFloat);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distinct character n-grams in one pass — see [[NgramImpl.charNgrams]]
  * for the exact semantics contract. Stays inside whole-stage codegen:
  * the generated code is a single static call. */
case class CharNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"char n-gram width must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"char_ngrams expects a string input, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    NgramImpl.charNgrams(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.functions.NgramImpl.charNgrams($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Nearest-centroid kernel shared by [[NearestCentroid]] interpreted
  * eval and its generated code (static-forwarder pattern). */
object CentroidImpl {

  /** Replica of Spark's `round(x, 6)` for DoubleType (RoundBase):
    * BigDecimal.valueOf string path, HALF_UP — bit-identical to the
    * builtin the literal-struct form used. */
  def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Argmin over centroids of (round(-dot(vec, cent), 6), cent id),
    * lexicographic with ties to the LOWEST id — exactly
    * `least(struct(round(-vecDot(v, c_0), 6), id_0), …)` evaluated as
    * one fused loop. `flat` is centroid-major (centroid c's dims at
    * [c·d, (c+1)·d)); the dot accumulates left-to-right over
    * min(|vec|, d) elements like [[VecDotProduct]]. Returns a
    * (negcos: double, cent_id: long) row. */
  def nearest(vec: ArrayData, flat: Array[Double], ids: Array[Long],
      d: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val k = ids.length
    val n = math.min(vec.numElements(), d)
    var bestNeg = java.lang.Double.POSITIVE_INFINITY
    var bestId = java.lang.Long.MAX_VALUE
    var first = true
    var c = 0
    while (c < k) {
      var s = 0.0
      val off = c * d
      var i = 0
      while (i < n) { s += vec.getDouble(i) * flat(off + i); i += 1 }
      val neg = round6(-s)
      val cmp = java.lang.Double.compare(neg, bestNeg)
      if (first || cmp < 0 || (cmp == 0 && ids(c) < bestId)) {
        bestNeg = neg; bestId = ids(c); first = false
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestNeg, bestId))
  }
}

/** Nearest-centroid argmin as ONE fused-loop expression with the
  * centroid matrix as a plan constant — replaces the k unrolled
  * `round(-vecDot(v, <64-double literal>), 6)` structs + `least(...)`
  * (r18): that form generated k·d literal expression trees, so every
  * k-means iteration (fresh centroid literals each round) paid a
  * multi-hundred-millisecond Janino compile before touching any data.
  * Semantics are byte-identical — see [[CentroidImpl.nearest]]. */
case class NearestCentroid(child: Expression, flat: Seq[Double],
    ids: Seq[Long], d: Int) extends UnaryExpression {
  require(d >= 1, s"need d >= 1, got $d")
  require(flat.size == ids.size * d,
    s"flat centroid matrix size ${flat.size} != k·d = ${ids.size * d}")
  require(ids.nonEmpty, "need at least one centroid")

  @transient private lazy val flatArr = flat.toArray
  @transient private lazy val idArr = ids.toArray

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("negcos", DoubleType, nullable = false),
    org.apache.spark.sql.types.StructField("cent_id", LongType, nullable = false)))
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nearest_centroid expects array<double> input, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    CentroidImpl.nearest(input.asInstanceOf[ArrayData], flatArr, idArr, d)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fRef = ctx.addReferenceObj("centFlat", flatArr, "double[]")
    val iRef = ctx.addReferenceObj("centIds", idArr, "long[]")
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.functions.CentroidImpl.nearest($c, $fRef, $iRef, $d);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** MinHash-signature kernel shared by [[MinhashSigFromHashes]]
  * interpreted eval and its generated code (static-forwarder pattern,
  * see [[NgramImpl]]). */
object MinhashImpl {

  /** The universal-hash modulus of [[graft.functions.affineHash]]. */
  val P: Long = 2862933555777941757L

  /** k-element MinHash signature from a document's DISTINCT 64-bit
    * shingle hashes: element i = min over h of pmod(h·a_i + b_i, P),
    * with the identical affine family (a_i, b_i) and modulus as
    * [[graft.ext.Dedup]]'s explode-then-aggregate signature path —
    * a min over a set is order- and multiplicity-insensitive, so the
    * two forms are bit-identical on the same shingle set. One fused
    * loop per row (no explode, no aggregation exchange). */
  def sigFromHashes(hs: ArrayData, k: Int): ArrayData = {
    val out = new Array[Long](k)
    val n = hs.numElements()
    var i = 0
    while (i < k) {
      val a = (P ^ (i.toLong * 0x9E3779B97F4A7C15L)) | 1L
      val b = 0xD1B54A32D192ED03L + i.toLong * 0x2545F4914F6CDD1DL
      var m = Long.MaxValue
      var j = 0
      while (j < n) {
        val v = hs.getLong(j) * a + b
        var r = v % P
        if (r < 0L) r += P
        if (r < m) m = r
        j += 1
      }
      out(i) = m
      i += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** Per-row MinHash signature over pre-hashed shingles — see
  * [[MinhashImpl.sigFromHashes]] for the exact-equivalence contract
  * with the aggregate signature path. */
case class MinhashSigFromHashes(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"signature length must be >= 1, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sig expects array<bigint> input, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    MinhashImpl.sigFromHashes(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.functions.MinhashImpl.sigFromHashes($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** L2-normalize kernel shared by [[NormalizeVec]] interpreted eval and
  * its generated code (static-forwarder pattern). */
object NormalizeImpl {

  /** Exact replica of `transform(a, v => v.cast(double) /
    * sqrt(aggregate(a, 0.0, (acc, v) => acc + v.cast(double) *
    * v.cast(double))))` as ONE fused loop: the sum of squares
    * accumulates left-to-right in doubles, the norm is `Math.sqrt`
    * (Spark's Sqrt), each output element is `(double) x / norm`. A
    * null ELEMENT null-poisons the aggregate in the original (Add
    * propagates null), making the norm — and therefore EVERY output
    * element — null; replicated here. A zero norm divides through like
    * the original (±Infinity/NaN, IEEE-identical). */
  def normalize(vec: ArrayData, isFloat: Boolean): ArrayData = {
    val n = vec.numElements()
    val out = new Array[Any](n)
    var anyNull = false
    var i = 0
    while (i < n && !anyNull) {
      if (vec.isNullAt(i)) anyNull = true
      i += 1
    }
    if (!anyNull) {
      var s = 0.0
      var j = 0
      while (j < n) {
        val x = if (isFloat) vec.getFloat(j).toDouble else vec.getDouble(j)
        s += x * x
        j += 1
      }
      val norm = java.lang.Math.sqrt(s)
      var k = 0
      while (k < n) {
        val x = if (isFloat) vec.getFloat(k).toDouble else vec.getDouble(k)
        out(k) = x / norm
        k += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** L2 normalization as ONE fused-loop expression (r18): the
  * higher-order form `transform(a, v => v / norm2(a))` embeds the
  * whole-array `aggregate` INSIDE the per-element lambda, so Catalyst
  * re-evaluates the norm for every element — O(d²) interpreted-lambda
  * work per row (measured ~0.9 s of executor CPU for a single scan of
  * 2 000 × 64-dim vectors; this kernel is the corpus-side projection of
  * every embedding query). Semantics are byte-identical — see
  * [[NormalizeImpl.normalize]]. */
case class NormalizeVec(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"normalize_vec expects array<float|double> input, got $other")
    }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(input: Any): Any =
    NormalizeImpl.normalize(input.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.functions.NormalizeImpl.normalize($c, $isFloat);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQ8-quantize kernel shared by [[Quantize8Codes]] interpreted eval
  * and its generated code (static-forwarder pattern). */
object Quantize8Impl {

  /** Exact replica of `transform(v, x => when(mx === mn, 0)
    * .otherwise(floor((x.cast(double) - mn) * 255.0 / (mx - mn))
    * .cast(int)))` with `mn = array_min(v).cast(double)`,
    * `mx = array_max(v).cast(double)` — as ONE fused loop. The
    * higher-order form re-evaluated the whole-array min AND max for
    * every element (O(d²) interpreted work per row). min/max skip null
    * elements (ArrayMin/ArrayMax semantics, NaN the largest value).
    * Edge cases, each as the original has them:
    *   - constant vector (`mx === mn`, which holds for NaN == NaN):
    *     EVERY element codes 0, null elements too — the `when` branch
    *     never looks at the element;
    *   - otherwise a null element codes null;
    *   - a NaN range (a NaN among finite values) makes every quotient
    *     NaN, and the non-ANSI double → int cast maps NaN to 0;
    *   - all-null arrays give null codes (null mn/mx), empty → empty.
    * Arithmetic is ((x − mn) · 255.0) / (mx − mn), Math.floor, (int) —
    * bit-identical IEEE in the same order. */
  def quantize(vec: ArrayData, isFloat: Boolean): ArrayData = {
    val n = vec.numElements()
    val out = new Array[Any](n)
    var mn = java.lang.Double.NaN
    var mx = java.lang.Double.NaN
    var seen = false
    var i = 0
    while (i < n) {
      if (!vec.isNullAt(i)) {
        val x = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
        // primitive </> mirror Spark's nan-safe ordering for the values
        // that can reach here; NaN handled explicitly as the largest
        if (!seen) { mn = x; mx = x; seen = true }
        else {
          if (x < mn || (java.lang.Double.isNaN(mn) && !java.lang.Double.isNaN(x))) mn = x
          if (x > mx || (java.lang.Double.isNaN(x) && !java.lang.Double.isNaN(mx))) mx = x
        }
      }
      i += 1
    }
    val constant = seen &&
      (mx == mn || (java.lang.Double.isNaN(mx) && java.lang.Double.isNaN(mn)))
    var j = 0
    while (j < n) {
      if (constant) out(j) = 0
      else if (seen && !vec.isNullAt(j)) {
        val x = if (isFloat) vec.getFloat(j).toDouble else vec.getDouble(j)
        val q = java.lang.Math.floor((x - mn) * 255.0 / (mx - mn))
        out(j) = if (java.lang.Double.isNaN(q)) 0 else q.toInt
      } // else: null element, or null mn/mx (all-null array) → null code
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Per-vector SQ8 quantization as ONE fused-loop expression (r18) —
  * replaces the `transform` form whose lambda embedded `array_min` /
  * `array_max`, re-scanning the whole array per element. Semantics are
  * byte-identical — see [[Quantize8Impl.quantize]]. */
case class Quantize8Codes(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"quantize8 expects array<float|double> input, got $other")
    }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(input: Any): Any =
    Quantize8Impl.quantize(input.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.functions.Quantize8Impl.quantize($c, $isFloat);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distinct word n-grams in one pass — see [[NgramImpl.wordNgrams]] for
  * the exact semantics contract. */
case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"word n-gram width must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"word_ngrams expects a string input, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    NgramImpl.wordNgrams(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.functions.NgramImpl.wordNgrams($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object fx {
  import org.apache.spark.sql.GraftColumnBridge.{column, expression}

  /** Column API for [[SortedIntersectCount]]. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    column(SortedIntersectCount(expression(a), expression(b)))

  /** Column API for [[VecDotProduct]]. */
  def vecDot(a: Column, b: Column): Column =
    column(VecDotProduct(expression(a), expression(b)))

  /** Column API for [[SortedIntersectAtLeast]]. */
  def sortedIntersectAtLeast(a: Column, b: Column, required: Column): Column =
    column(SortedIntersectAtLeast(expression(a), expression(b),
      expression(required.cast("int"))))

  /** Column API for [[CharNgrams]]. */
  def charNgrams(text: Column, n: Int): Column =
    column(CharNgrams(expression(text), n))

  /** Column API for [[MinhashSigFromHashes]]. */
  def minhashSigFromHashes(hs: Column, k: Int): Column =
    column(MinhashSigFromHashes(expression(hs), k))

  /** Column API for [[NearestCentroid]]: `cents` as (cid, centroid)
    * pairs, any order (the argmin is order-insensitive). */
  def nearestCentroid(vec: Column, cents: Seq[(Long, Seq[Double])]): Column = {
    val d = cents.head._2.size
    column(NearestCentroid(expression(vec),
      cents.flatMap(_._2), cents.map(_._1), d))
  }

  /** Column API for [[WordNgrams]]. */
  def wordNgrams(text: Column, n: Int): Column =
    column(WordNgrams(expression(text), n))

  /** Column API for [[NormalizeVec]]. */
  def normalizeVec(a: Column): Column =
    column(NormalizeVec(expression(a)))

  /** Column API for [[Quantize8Codes]]. */
  def quantize8Codes(a: Column): Column =
    column(Quantize8Codes(expression(a)))

  /** Column API for [[SrpSignatureExpr]]: `signs` is dim-major
    * (signs(i·nbits + b) = hyperplane sign for dim i, bit b). */
  def srpSignature(vec: Column, signs: Seq[Double], dim: Int, nbits: Int): Column =
    column(SrpSignatureExpr(expression(vec), signs, dim, nbits))

  /** Column API for [[PqEncodeCodes]]: `codebook` is (cid, full-dim
    * centroid) in cid-ascending order, as produced by
    * [[graft.ext.Similarity]]'s codebook builders. */
  def pqEncodeCodes(vec: Column, codebook: Seq[(Long, Seq[Double])],
      m: Int, dsub: Int): Column =
    column(PqEncodeCodes(expression(vec),
      codebook.flatMap(_._2), codebook.map(_._1.toInt), m, dsub))

  /** Column API for [[TopKByScore]] (aggregate): top `k` (score, id)
    * pairs per group, best first, map-side combinable. The id column
    * must be integral (output id is bigint); non-integral ids fail at
    * analysis time — see [[TopKByScore]]. */
  def topKByScore(score: Column, id: Column, k: Int): Column =
    column(TopKByScore(
      expression(score.cast("double")), expression(id), k)
      .toAggregateExpression())

  /** Column API for [[CappedLongList]] (aggregate): collect up to
    * `cap` distinct-by-construction longs per group, NULL the moment
    * the group exceeds the cap — the single-pass hot-key guard (the
    * buffer never holds more than `cap` entries, map-side partials
    * included). */
  def cappedLongList(id: Column, cap: Int): Column =
    column(CappedLongList(expression(id), cap).toAggregateExpression())
}
