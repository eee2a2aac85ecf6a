package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the dedup hot path.
  *
  * Why native: Spark's higher-order functions (transform/aggregate/filter)
  * are CodegenFallback — every lambda element evaluation is interpreted,
  * and any non-attribute child of a lambda is re-evaluated per element.
  * The MinHash/SimHash kernels are tight per-row loops over ~100-element
  * arrays; as interpreted lambdas they cost ~10M expression evals per 5k
  * documents (measured ~19 s at sf0.1), as compiled kernels they are
  * sub-second. Each expression implements doGenCode (a static call into
  * the compiled kernel), so the surrounding projection stays inside
  * WholeStageCodegen.
  *
  * Semantics are IDENTICAL to the declarative formulations in
  * graft.ops.Dedup (the DuckDB oracles validate this end-to-end): the
  * portable 60-bit md5 hash (PortableHash), (a*h+b) mod P MinHash, and
  * the ±1 bit-vote SimHash.
  */
object TextHashImpl {
  final val P: Long = PortableHash.P

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** 60-bit portable hash of a UTF8String: value of the first 15 hex chars
    * of md5 = (big-endian first 8 digest bytes) >>> 4. Matches
    * conv(substring(md5(s),1,15),16,10). */
  def phash(s: UTF8String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** True iff any element is null. All kernels PROPAGATE NULL when the
    * input array contains a null element (Spark's null-propagation idiom;
    * reading through a primitive ArrayData accessor would silently yield
    * garbage, and getUTF8String would NPE). The arrays the kernels
    * THEMSELVES produce never contain nulls, so output containsNull stays
    * false. */
  private def hasNullElement(arr: ArrayData): Boolean = {
    val n = arr.numElements()
    var i = 0
    while (i < n) { if (arr.isNullAt(i)) return true; i += 1 }
    false
  }

  /** Per-element 60-bit phash of a string array; null if any element is
    * null. */
  def phashArray(arr: ArrayData): ArrayData = {
    if (hasNullElement(arr)) return null
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = phash(arr.getUTF8String(i)); i += 1 }
    new GenericArrayData(out)
  }

  /** Per-element phash reduced mod P (the universal-hash domain); null if
    * any element is null. */
  def phashModArray(arr: ArrayData): ArrayData = {
    if (hasNullElement(arr)) return null
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = phash(arr.getUTF8String(i)) % P; i += 1 }
    new GenericArrayData(out)
  }

  /** Sorted distinct word n-gram shingles of a token array; empty when
    * fewer than n tokens, null if any token is null. Matches
    * shinglesOfTokens (array_sort uses UTF8String binary order = TreeSet
    * natural order). */
  def shingles(arr: ArrayData, n: Int): ArrayData = {
    if (hasNullElement(arr)) return null
    val len = arr.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val set = new java.util.TreeSet[UTF8String]()
    val sep = UTF8String.fromString(" ")
    var i = 0
    while (i + n <= len) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = arr.getUTF8String(i + j); j += 1 }
      set.add(UTF8String.concatWs(sep, parts: _*))
      i += 1
    }
    new GenericArrayData(set.toArray[AnyRef](new Array[AnyRef](set.size())))
  }

  /** MinHash signature over pre-hashed (mod P) elements; null for empty
    * input (callers filter empties — mirrors array_min's null) and for
    * arrays containing null elements. */
  def minhashSig(hashes: ArrayData): ArrayData = {
    if (hasNullElement(hashes)) return null
    val m = hashes.numElements()
    if (m == 0) return null
    val k = Dedup16.NumHashes
    val out = new Array[Long](k)
    var j = 0
    while (j < k) {
      val a = Dedup16.HashA(j); val b = Dedup16.HashB(j)
      var mn = Long.MaxValue
      var i = 0
      while (i < m) {
        val v = (a * hashes.getLong(i) + b) % P
        if (v < mn) mn = v
        i += 1
      }
      out(j) = mn; j += 1
    }
    new GenericArrayData(out)
  }

  /** Exact Jaccard of two SORTED-DISTINCT string arrays (the invariant
    * [[shingles]] guarantees: TreeSet natural order = UTF8String binary
    * order) as ONE merge scan — no hash-set builds, no union array
    * materialization. Bit-identical to
    * `round(size(array_intersect(a,b)) / size(array_union(a,b)), 6)` on
    * such inputs: |∪| = |a|+|b|−|∩| exactly for distinct arrays, the
    * division is the same IEEE op, and the rounding is Spark round's own
    * BigDecimal HALF_UP. Null when either side has null elements or is
    * empty (callers filter empties; the builtin's 0/0 NaN never feeds a
    * downstream round here). UNDEFINED on unsorted input — callers own
    * the precondition. */
  def jaccardSorted(a: ArrayData, b: ArrayData): java.lang.Double = {
    if (hasNullElement(a) || hasNullElement(b)) return null
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0 || nb == 0) return null
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    val union = na + nb - c
    java.lang.Double.valueOf(BigDecimal(c.toDouble / union)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  /** Poisson(1) CDF at k = 0..7 — the distributed-bootstrap weight
    * thresholds (Chamandy et al. 2012). Computed with the same Scala
    * expression the SQL oracle embeds as literals, so the draws replay. */
  val PoissonCdf: Array[Double] = (0 to 7).scanLeft(0.0) { case (acc, k) =>
    acc + math.exp(-1.0) / (1 to k).foldLeft(1.0)(_ * _)
  }.tail.toArray

  /** All `b` Poisson(1) bootstrap weights of one row in ONE compiled
    * call: weight i counts CDF thresholds below
    * u_i = (phash("salt|i|id") mod 1e6 + 0.5) / 1e6 — bit-identical to
    * the declarative per-(row, b) form (same md5-derived phash, same
    * IEEE chain), but 32 raw digests instead of 32 full
    * concat_ws→md5→hex→conv→pmod expression trees per row (the q245
    * hot loop: ~5 M rows × b at sf0.1 bench scale). */
  def poissonWeights(salt: UTF8String, id: UTF8String, b: Int): ArrayData = {
    val prefix = salt.toString + "|"
    val suffix = "|" + id.toString
    val out = new Array[Long](b)
    var i = 0
    while (i < b) {
      val h = phash(UTF8String.fromString(prefix + i + suffix))
      val u = (h % 1000000L + 0.5) / 1000000.0
      var w = 0L
      var k = 0
      while (k < 8) { if (u > PoissonCdf(k)) w += 1; k += 1 }
      out(i) = w
      i += 1
    }
    new GenericArrayData(out)
  }

  /** 32-bit SimHash over pre-hashed (60-bit) token hashes; null (boxed)
    * if any element is null. */
  def simhash(hashes: ArrayData): java.lang.Long = {
    if (hasNullElement(hashes)) return null
    val votes = new Array[Int](32)
    val m = hashes.numElements()
    var i = 0
    while (i < m) {
      val h = hashes.getLong(i)
      var k = 0
      while (k < 32) {
        if (((h >> k) & 1L) == 1L) votes(k) += 1 else votes(k) -= 1
        k += 1
      }
      i += 1
    }
    var r = 0L
    var k = 0
    while (k < 32) { if (votes(k) > 0) r |= (1L << k); k += 1 }
    java.lang.Long.valueOf(r)
  }

  /** Cosine similarity with index-ordered double accumulation — the same
    * arithmetic (and therefore bit-identical result) as the declarative
    * zip_with/aggregate formulation over Similarity.dot.
    * `aFloat`/`bFloat` select the element reader (array<float> embeddings
    * vs array<double> centroids). Null (boxed) if either array contains a
    * null element; dimension mismatch still throws (a wrong-shape corpus
    * is a data bug, not missing data). */
  def cosine(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    require(b.numElements() == n,
      s"cosine: dimension mismatch ${n} vs ${b.numElements()}")
    if (hasNullElement(a) || hasNullElement(b)) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** Spark-`round(x, 0)` semantics on a double — bit-identical to
    * `BigDecimal.valueOf(v).setScale(0, HALF_UP)` but allocation-free
    * (the BigDecimal form routes through Double.toString per call and
    * took a 64-dim pair from sub-µs to ~30× that — q119 0.8→23 s).
    * Why it's exactly equivalent: `v - floor(v)` is EXACT everywhere
    * EXCEPT v ∈ (−0.5, 0) — Sterbenz (b/2 ≤ a ≤ 2b ⇒ a−b exact) covers
    * v ≥ 0 (v and floor(v) share high bits) and v ≤ −0.5 (there
    * floor(v) ≥ 2v), but for v ∈ (−0.5, 0) the true fraction 1+v lies
    * in (0.5, 1) and the computed sum can round DOWN to exactly 0.5
    * (e.g. v = −0.49999999999999994 → diff = 0.5 while the true
    * fraction is 0.5 + 2⁻⁵³), which would take the tie branch and
    * return −1 where DuckDB's `round(x, 0)` (half away from zero on
    * the binary value) returns 0. That one region is handled by an
    * exact comparison: any v > −0.5 with a seeming tie is really
    * above-half and rounds to 0. Outside it, diff is exact, |v| ≥ 2^52
    * is already integral, and the binary tie test matches decimal
    * HALF_UP (the only doubles rendering "….5" are exact halves) — the
    * pairing every existing micro protocol has proven in production. */
  private def roundHalfUp(v: Double): Long = {
    val f = Math.floor(v)
    val diff = v - f
    if (diff > 0.5) f.toLong + 1
    else if (diff < 0.5) f.toLong
    else if (v >= 0) f.toLong + 1 // exact tie: away from zero
    else if (v > -0.5) 0L         // inexact-subtraction region: true
                                  // fraction > 0.5, rounds up to 0
    else f.toLong                 // negative tie: floor IS away from zero
  }

  /** Per-term micro-quantized dot product: Σ_i round(a_i·b_i·1e8) as a
    * LONG — integer addition is associative, so the result is identical
    * under ANY fold/partition order and replayable by any SQL engine as
    * an integer sum (the q80 protocol, lifted to vectors). This is the
    * determinism-safe replacement for raw-double dot folds whose 6-dp
    * edge rounding can flip on last-ulp associativity differences
    * between engines (the r13 q299 gate-red channel). Null (boxed) on
    * null elements; dimension mismatch throws. */
  def dotMicro8(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): java.lang.Long = {
    val n = a.numElements()
    require(b.numElements() == n,
      s"dotMicro8: dimension mismatch ${n} vs ${b.numElements()}")
    if (hasNullElement(a) || hasNullElement(b)) return null
    var s = 0L
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      s += roundHalfUp(x * y * 1e8)
      i += 1
    }
    java.lang.Long.valueOf(s)
  }

  /** [[dotMicro8]]'s squared-L2 sibling: Σ_i round((a_i − b_i)²·1e8) as
    * a LONG — the order-free integer protocol for distance chains (PQ
    * sub-distances, IVF routing, exact refine), replacing 9-dp-rounded
    * double folds whose last-ulp accumulation order two engines can
    * disagree about. Null (boxed) on null elements; dimension mismatch
    * throws. */
  def l2Micro8(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): java.lang.Long = {
    val n = a.numElements()
    require(b.numElements() == n,
      s"l2Micro8: dimension mismatch ${n} vs ${b.numElements()}")
    if (hasNullElement(a) || hasNullElement(b)) return null
    var s = 0L
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      val d = x - y
      s += roundHalfUp(d * d * 1e8)
      i += 1
    }
    java.lang.Long.valueOf(s)
  }

  /** [[dotMicro8]]'s cosine sibling: micro-quantized dot AND squared-norm
    * integer sums, then ONE double division/sqrt at the edge, rounded to
    * 6 dp — order-free by construction, so the value is bit-identical on
    * any engine that replays `round(term·1e8)` integer sums (no reliance
    * on a SQL builtin's fold order). Null (boxed) on null elements or a
    * zero-norm side; dimension mismatch throws. */
  def cosineMicro8(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    require(b.numElements() == n,
      s"cosineMicro8: dimension mismatch ${n} vs ${b.numElements()}")
    if (hasNullElement(a) || hasNullElement(b)) return null
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += roundHalfUp(x * y * 1e8)
      na += roundHalfUp(x * x * 1e8)
      nb += roundHalfUp(y * y * 1e8)
      i += 1
    }
    if (na == 0L || nb == 0L) return null
    val c = (dot.toDouble / 1e8) /
      (math.sqrt(na.toDouble / 1e8) * math.sqrt(nb.toDouble / 1e8))
    java.lang.Double.valueOf(java.math.BigDecimal.valueOf(c)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
  }

  /** MinHash constants mirrored from Dedup (kept here so the compiled
    * kernel has no Column-world dependency). */
  object Dedup16 {
    val NumHashes = 16
    val HashA: Array[Long] = Array.tabulate(NumHashes)(j => 2L * j + 1001L)
    val HashB: Array[Long] = Array.tabulate(NumHashes)(j => 3L * j + 17L)
  }
}

/** Unicode text canonicalization kernel: NFC-normalize, replace
  * ASCII control chars with spaces, collapse whitespace runs, trim,
  * ROOT-locale lowercase — IN THAT ORDER (the oracle replays the same
  * chain as nfc_normalize + regexp_replace + trim + lower). The compiled
  * pattern instances are shared per JVM; the kernel is a static call so
  * the surrounding projection stays in WholeStageCodegen. */
object TextNormImpl {
  private val Ctrl = java.util.regex.Pattern.compile("[\\x00-\\x1f\\x7f]")
  private val Ws = java.util.regex.Pattern.compile("\\s+")
  def normalize(s: UTF8String): UTF8String = {
    val nfc = java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC)
    val collapsed = Ws.matcher(Ctrl.matcher(nfc).replaceAll(" ")).replaceAll(" ").trim
    UTF8String.fromString(collapsed.toLowerCase(java.util.Locale.ROOT))
  }
}

case class GraftNormalizeText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    TextNormImpl.normalize(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextNormImpl.normalize($c)")
  override protected def withNewChildInternal(newChild: Expression): GraftNormalizeText =
    copy(child = newChild)
}

case class GraftPHashArray(child: Expression, modP: Boolean)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // null result when the input array contains null elements
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    if (modP) TextHashImpl.phashModArray(input.asInstanceOf[ArrayData])
    else TextHashImpl.phashArray(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val fn = if (modP) "phashModArray" else "phashArray"
      s"""
         |${ev.value} = graft.functions.TextHashImpl.$fn($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): GraftPHashArray =
    copy(child = newChild)
}

case class GraftShingles(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  // null result when the token array contains null elements
  override def nullable: Boolean = true
  override def nullSafeEval(toks: Any, n: Any): Any =
    TextHashImpl.shingles(toks.asInstanceOf[ArrayData], n.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, n) =>
      s"""
         |${ev.value} = graft.functions.TextHashImpl.shingles($t, $n);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): GraftShingles =
    copy(left = newLeft, right = newRight)
}

case class GraftMinHashSig(child: Expression)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // minhashSig returns null (not a null element) for empty arrays
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    TextHashImpl.minhashSig(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val code = nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.TextHashImpl.minhashSig($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
    code
  }
  override protected def withNewChildInternal(newChild: Expression): GraftMinHashSig =
    copy(child = newChild)
}

case class GraftSimHash(child: Expression)
  extends UnaryExpression {
  override def dataType: DataType = LongType
  // null result when the hash array contains null elements
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    TextHashImpl.simhash(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val boxed = ctx.freshName("boxed")
      s"""
         |java.lang.Long $boxed = graft.functions.TextHashImpl.simhash($c);
         |${ev.isNull} = $boxed == null;
         |${ev.value} = ${ev.isNull} ? -1L : $boxed.longValue();
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): GraftSimHash =
    copy(child = newChild)
}

/** See [[TextHashImpl.poissonWeights]]. Args: (salt, id, b). */
case class GraftPoissonWeights(first: Expression, second: Expression,
                               third: Expression)
  extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(salt: Any, id: Any, b: Any): Any =
    TextHashImpl.poissonWeights(salt.asInstanceOf[UTF8String],
      id.asInstanceOf[UTF8String], b.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, i, b) =>
      s"""
         |${ev.value} = graft.functions.TextHashImpl.poissonWeights($s, $i, $b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): GraftPoissonWeights =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** See [[TextHashImpl.jaccardSorted]] — callers own the sorted-distinct
  * precondition (shingle arrays are TreeSet-ordered by construction). */
case class GraftJaccardSorted(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  // null on empty inputs or null elements
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    TextHashImpl.jaccardSorted(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val boxed = ctx.freshName("boxed")
      s"""
         |java.lang.Double $boxed = graft.functions.TextHashImpl.jaccardSorted($a, $b);
         |${ev.isNull} = $boxed == null;
         |${ev.value} = ${ev.isNull} ? Double.NaN : $boxed.doubleValue();
       """.stripMargin
    })
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): GraftJaccardSorted =
    copy(left = newLeft, right = newRight)
}

case class GraftCosine(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  // fail loudly on unsupported element types instead of reading garbage
  // bytes through the wrong-width ArrayData accessor
  private def isFloatArr(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType match {
      case org.apache.spark.sql.types.FloatType => true
      case org.apache.spark.sql.types.DoubleType => false
      case other => throw new IllegalArgumentException(
        s"graft_cosine expects array<float|double>, got array<$other>")
    }
  private lazy val leftFloat: Boolean = isFloatArr(left)
  private lazy val rightFloat: Boolean = isFloatArr(right)
  // null result when either array contains null elements
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    TextHashImpl.cosine(a.asInstanceOf[ArrayData], leftFloat,
      b.asInstanceOf[ArrayData], rightFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val boxed = ctx.freshName("boxed")
      s"""
         |java.lang.Double $boxed = graft.functions.TextHashImpl.cosine($a, $leftFloat, $b, $rightFloat);
         |${ev.isNull} = $boxed == null;
         |${ev.value} = ${ev.isNull} ? Double.NaN : $boxed.doubleValue();
       """.stripMargin
    })
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): GraftCosine =
    copy(left = newLeft, right = newRight)
}

/** See [[TextHashImpl.dotMicro8]] — the order-free integer-micro dot. */
case class GraftDotMicro8(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  private def isFloatArr(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType match {
      case org.apache.spark.sql.types.FloatType => true
      case org.apache.spark.sql.types.DoubleType => false
      case other => throw new IllegalArgumentException(
        s"graft_dot_micro8 expects array<float|double>, got array<$other>")
    }
  private lazy val leftFloat: Boolean = isFloatArr(left)
  private lazy val rightFloat: Boolean = isFloatArr(right)
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    TextHashImpl.dotMicro8(a.asInstanceOf[ArrayData], leftFloat,
      b.asInstanceOf[ArrayData], rightFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val boxed = ctx.freshName("boxed")
      s"""
         |java.lang.Long $boxed = graft.functions.TextHashImpl.dotMicro8($a, $leftFloat, $b, $rightFloat);
         |${ev.isNull} = $boxed == null;
         |${ev.value} = ${ev.isNull} ? -1L : $boxed.longValue();
       """.stripMargin
    })
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): GraftDotMicro8 =
    copy(left = newLeft, right = newRight)
}

/** See [[TextHashImpl.l2Micro8]] — the order-free integer-micro
  * squared L2. */
case class GraftL2Micro8(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  private def isFloatArr(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType match {
      case org.apache.spark.sql.types.FloatType => true
      case org.apache.spark.sql.types.DoubleType => false
      case other => throw new IllegalArgumentException(
        s"graft_l2_micro8 expects array<float|double>, got array<$other>")
    }
  private lazy val leftFloat: Boolean = isFloatArr(left)
  private lazy val rightFloat: Boolean = isFloatArr(right)
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    TextHashImpl.l2Micro8(a.asInstanceOf[ArrayData], leftFloat,
      b.asInstanceOf[ArrayData], rightFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val boxed = ctx.freshName("boxed")
      s"""
         |java.lang.Long $boxed = graft.functions.TextHashImpl.l2Micro8($a, $leftFloat, $b, $rightFloat);
         |${ev.isNull} = $boxed == null;
         |${ev.value} = ${ev.isNull} ? -1L : $boxed.longValue();
       """.stripMargin
    })
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): GraftL2Micro8 =
    copy(left = newLeft, right = newRight)
}

/** See [[TextHashImpl.cosineMicro8]] — the order-free integer-micro
  * cosine (6-dp, engine-replayable as integer sums). */
case class GraftCosineMicro8(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  private def isFloatArr(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType match {
      case org.apache.spark.sql.types.FloatType => true
      case org.apache.spark.sql.types.DoubleType => false
      case other => throw new IllegalArgumentException(
        s"graft_cosine_micro8 expects array<float|double>, got array<$other>")
    }
  private lazy val leftFloat: Boolean = isFloatArr(left)
  private lazy val rightFloat: Boolean = isFloatArr(right)
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    TextHashImpl.cosineMicro8(a.asInstanceOf[ArrayData], leftFloat,
      b.asInstanceOf[ArrayData], rightFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val boxed = ctx.freshName("boxed")
      s"""
         |java.lang.Double $boxed = graft.functions.TextHashImpl.cosineMicro8($a, $leftFloat, $b, $rightFloat);
         |${ev.isNull} = $boxed == null;
         |${ev.value} = ${ev.isNull} ? Double.NaN : $boxed.doubleValue();
       """.stripMargin
    })
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): GraftCosineMicro8 =
    copy(left = newLeft, right = newRight)
}

/** Jaro–Winkler similarity (Winkler 1990), the record-linkage standard:
  * Jaro match-window similarity plus a 0.1-per-char boost for up to 4
  * common prefix chars, applied only above the classic 0.7 threshold.
  * Edge semantics pinned empirically against DuckDB's
  * `jaro_winkler_similarity` (5121-case exact sweep): empty-vs-empty is
  * 0.0, equal non-empty is 1.0. Operates on UTF-16 chars — identical to
  * byte-wise engines on ASCII inputs (the oracle's tables).
  */
object JaroWinklerImpl {
  def sim(ua: UTF8String, ub: UTF8String): Double = {
    val a = ua.toString; val b = ub.toString
    val la = a.length; val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val sj = jaro(a, b, la, lb)
    if (sj <= 0.7) return sj
    var l = 0
    val maxP = math.min(4, math.min(la, lb))
    while (l < maxP && a.charAt(l) == b.charAt(l)) l += 1
    sj + l * 0.1 * (1.0 - sj)
  }

  private def jaro(a: String, b: String, la: Int, lb: Int): Double = {
    if (a == b) return 1.0
    val w = math.max(math.max(la, lb) / 2 - 1, 0)
    val am = new Array[Boolean](la)
    val bm = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val hi = math.min(lb, i + w + 1)
      var j = math.max(0, i - w)
      var found = false
      while (j < hi && !found) {
        if (!bm(j) && a.charAt(i) == b.charAt(j)) {
          am(i) = true; bm(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0; var j = 0
    i = 0
    while (i < la) {
      if (am(i)) {
        while (!bm(j)) j += 1
        if (a.charAt(i) != b.charAt(j)) t += 1
        j += 1
      }
      i += 1
    }
    val tr = t / 2
    (m.toDouble / la + m.toDouble / lb + (m - tr).toDouble / m) / 3.0
  }
}

case class GraftJaroWinkler(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinklerImpl.sim(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.JaroWinklerImpl.sim($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): GraftJaroWinkler =
    copy(left = newLeft, right = newRight)
}

/** Bloom-filter membership probe as a COMPILED predicate — the codegen
  * replacement for a Scala `udf` wrapper, which would break the
  * WholeStageCodegen span of the probe side's scan+filter stage (the one
  * place [[graft.ops.Skew.bloomSemiJoin]] saves its shuffle bytes). The
  * filter object rides the plan via `addReferenceObj` (task binaries are
  * broadcast once per stage, so a megabyte filter ships once per
  * executor, not per task). Not registry-registered — it closes over a
  * runtime object, so callers bind it through a per-invocation closure
  * builder (see bloomSemiJoin). NULL keys are absent by definition
  * (false, matching `k != null && mightContain(k)`).
  *
  * Key encodings match `DataFrameStatFunctions.bloomFilter`'s puts:
  * string keys probe the UTF-8 bytes (≡ mightContainString), integral
  * keys probe mightContainLong. */
case class GraftBloomMightContain(child: Expression,
    bloom: org.apache.spark.util.sketch.BloomFilter)
  extends UnaryExpression {
  import org.apache.spark.sql.types._
  private val isString: Boolean = child.dataType match {
    case StringType => true
    case LongType => false
    case other => throw new IllegalArgumentException(
      s"GraftBloomMightContain expects string or long key, got $other")
  }
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) false
    else if (isString) bloom.mightContainBinary(v.asInstanceOf[UTF8String].getBytes)
    else bloom.mightContainLong(v.asInstanceOf[Long])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val bf = ctx.addReferenceObj("graftBloom", bloom,
      classOf[org.apache.spark.util.sketch.BloomFilter].getName)
    val childGen = child.genCode(ctx)
    val call =
      if (isString) s"$bf.mightContainBinary(${childGen.value}.getBytes())"
      else s"$bf.mightContainLong(${childGen.value})"
    ev.copy(code =
      code"""
        ${childGen.code}
        boolean ${ev.value} = false;
        if (!${childGen.isNull}) { ${ev.value} = $call; }
      """,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): GraftBloomMightContain =
    copy(child = newChild)
}

/** Registration: either imperatively (`GraftFunctions.ensureRegistered`)
  * on a live session, or declaratively via
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
object GraftFunctions {
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_phash_array" -> (args => GraftPHashArray(args.head, modP = false)),
    "graft_phash_mod_array" -> (args => GraftPHashArray(args.head, modP = true)),
    "graft_shingles" -> (args => GraftShingles(args(0), args(1))),
    "graft_minhash_sig" -> (args => GraftMinHashSig(args.head)),
    "graft_simhash" -> (args => GraftSimHash(args.head)),
    "graft_cosine" -> (args => GraftCosine(args(0), args(1))),
    "graft_dot_micro8" -> (args => GraftDotMicro8(args(0), args(1))),
    "graft_l2_micro8" -> (args => GraftL2Micro8(args(0), args(1))),
    "graft_cosine_micro8" -> (args => GraftCosineMicro8(args(0), args(1))),
    "graft_jaccard_sorted" -> (args => GraftJaccardSorted(args(0), args(1))),
    "graft_poisson_weights" -> (args => GraftPoissonWeights(args(0), args(1), args(2))),
    "graft_normalize_text" -> (args => GraftNormalizeText(args.head)),
    "graft_jaro_winkler" -> (args => GraftJaroWinkler(args(0), args(1))),
    "graft_bpe_count" -> (args => GraftBpeCount(args.head)),
    // aggregate: the analyzer wraps AggregateFunction builders in an
    // AggregateExpression automatically
    "graft_topk" -> (args => TopKPairs(args(0), args(1), args(2))))

  /** Idempotently register the native functions on a session. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  // Column-level sugar (requires ensureRegistered on the session).
  def phashArr(toks: Column): Column = call_function("graft_phash_array", toks)
  def phashModArr(toks: Column): Column = call_function("graft_phash_mod_array", toks)
  def shinglesNative(toks: Column, n: Column): Column = call_function("graft_shingles", toks, n)
  def minhashSigNative(hashes: Column): Column = call_function("graft_minhash_sig", hashes)
  def simhashNative(hashes: Column): Column = call_function("graft_simhash", hashes)
  def cosineNative(a: Column, b: Column): Column = call_function("graft_cosine", a, b)
  def dotMicro8Native(a: Column, b: Column): Column = call_function("graft_dot_micro8", a, b)
  def l2Micro8Native(a: Column, b: Column): Column = call_function("graft_l2_micro8", a, b)
  def cosineMicro8Native(a: Column, b: Column): Column = call_function("graft_cosine_micro8", a, b)
  def jaccardSortedNative(a: Column, b: Column): Column =
    call_function("graft_jaccard_sorted", a, b)
  def poissonWeightsNative(salt: Column, id: Column, b: Column): Column =
    call_function("graft_poisson_weights", salt, id, b)
  def topKNative(sim: Column, id: Column, k: Int): Column =
    call_function("graft_topk", sim, id, org.apache.spark.sql.functions.lit(k))
  def normalizeTextNative(text: Column): Column =
    call_function("graft_normalize_text", text)
  def jaroWinklerNative(a: Column, b: Column): Column =
    call_function("graft_jaro_winkler", a, b)
  def bpeCountNative(text: Column): Column = call_function("graft_bpe_count", text)
}

/** SparkSessionExtensions injection point (spark.sql.extensions). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.GraftExpressions", name), builder))
    }
}
