package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the sketch/similarity kernels.
  *
  * These replace composed `functions._` expression trees that were
  * correct but catastrophically slow to PLAN: e.g. an 8-table x 8-bit x
  * 64-dim hyperplane signature built from `element_at` nodes is a ~4096
  * node tree that Catalyst re-walks per optimizer rule (~60 s of driver
  * time before the first row moves). Each kernel here is ONE expression
  * node evaluating a tight JVM loop; `doGenCode` emits a direct call via
  * a reference object, so the surrounding operators stay inside
  * whole-stage codegen and no per-row boxing or intermediate arrays are
  * allocated (the zip_with/aggregate formulation allocated one
  * intermediate array per pair — GC death on an all-pairs join).
  *
  * Numeric contract: identical fold order and operations to the
  * declarative versions they replace (left-to-right over array order,
  * float widened to double before multiply), so results are bit-equal
  * and the DuckDB oracle twins keep matching.
  */
private[graft] object kernels {
  def toCol(e: Expression): Column = GraftSqlBridge.column(e)
  def toExpr(c: Column): Expression = GraftSqlBridge.expression(c)

  /** splitmix64's finalizer: a 64-bit bijection with full avalanche. */
  def mix64(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** splitmix64-style deterministic pseudo-random double in [-1, 1). */
  def mixWeight(seed: Long, i: Int, j: Int): Double = {
    val z = mix64(
      seed + i.toLong * 0x9E3779B97F4A7C15L + j.toLong * 0xBF58476D1CE4E5B9L)
    (z >>> 11).toDouble / (1L << 52).toDouble * 2.0 - 1.0
  }

  private def mixU01(seed: Long, i: Int, j: Int, salt: Long): Double = {
    // murmur3 finalizer over a NON-Weyl input combination: the seed
    // multiplies an odd constant (so seed, seed+1, ... decorrelate
    // structurally, not just by avalanche) and i/j use constants
    // unrelated to the golden-ratio steps common in data generators
    var z = seed * 0x632BE59BD9B4E019L + i.toLong * 0xFF51AFD7ED558CCDL +
      j.toLong * 0xC4CEB9FE1A85EC53L + salt
    z = (z ^ (z >>> 33)) * 0xFF51AFD7ED558CCDL
    z = (z ^ (z >>> 33)) * 0xC4CEB9FE1A85EC53L
    z = z ^ (z >>> 33)
    // (0, 1] — never 0, so log() below is always finite
    ((z >>> 11) + 1).toDouble / (1L << 53).toDouble
  }

  /** Deterministic STANDARD-GAUSSIAN weight (Box-Muller over two
    * decorrelated uniforms). Sign-LSH's collision probability equals
    * theta/pi ONLY under a rotation-invariant weight distribution;
    * uniform-cube weights are approximately Gaussian by CLT on dense
    * unstructured vectors but can deviate badly when the data carries
    * algebraic structure — the sf0.1 replay caught a real near-dup
    * pair whose measured split rate under the old splitmix-uniform
    * weights was 0.75 against a true theta/pi of 0.35 (72 of 96 fixed
    * hyperplanes split it; binomially impossible for independent
    * planes), so 48-table amplification still missed it. Gaussian
    * weights make the theta/pi contract hold for EVERY pair by
    * rotation invariance, independent of how the embeddings were
    * produced. */
  def mixGaussWeight(seed: Long, i: Int, j: Int): Double = {
    val u1 = mixU01(seed, i, j, 0x9E3779B97F4A7C15L)
    val u2 = mixU01(seed, i, j, 0x2545F4914F6CDD1DL)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }
}

private[expressions] trait FloatOrDoubleArray { self: Expression =>
  protected def vecType(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @inline protected final def elem(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
}

/** Exact cosine similarity between two float/double array columns.
  * 0.0 when either norm is zero. One pass, no allocation.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with FloatOrDoubleArray {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  @transient private lazy val lFloat = vecType(left)
  @transient private lazy val rFloat = vecType(right)

  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = elem(a, i, lFloat); val y = elem(b, i, rFloat)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val sa = math.sqrt(na); val sb = math.sqrt(nb)
    if (sa == 0.0 || sb == 0.0) 0.0 else dot / (sa * sb)
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cosExpr", this, classOf[CosineSimilarity].getName)
    defineCodeGen(ctx, ev, (a, b) => s"$ref.compute($a, $b)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Random-hyperplane LSH signatures: `tables` independent signatures of
  * `bits` sign bits each, packed into longs, returned as array<long>.
  * Hyperplane weights derive deterministically from (seed + table, bit,
  * dim) — reproducible on any executor, no RNG state, no broadcast
  * needed. Weights are materialized once per (executor, dim) and reused
  * across rows.
  *
  * WEIGHTING v2 (compatibility): the weights are standard GAUSSIAN
  * (Box-Muller — see [[kernels.mixGaussWeight]]); earlier releases used
  * splitmix-uniform weights, whose signatures for the same (vec, bits,
  * tables, seed) DO NOT match v2's. Signatures persisted under the old
  * weighting must be recomputed before joining against newly computed
  * ones — a mixed join would silently mismatch, not fail. The sign-LSH
  * theta/pi collision contract only holds under the Gaussian weighting
  * (rotation invariance), which is why the old scheme was retired
  * rather than kept as an option.
  */
case class HyperplaneSignatures(child: Expression, bits: Int, tables: Int, seed: Long)
    extends UnaryExpression with FloatOrDoubleArray {
  require(bits <= 63, "signature must fit a long")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_sigs"

  @transient private lazy val isFloat = vecType(child)
  // benign-race cache: both racers compute identical content
  @transient private var wDim: Int = -1
  @transient private var weights: Array[Array[Double]] = _

  private def ensureWeights(dim: Int): Array[Array[Double]] = {
    if (wDim != dim) {
      val w = Array.tabulate(tables * bits) { ti =>
        val t = ti / bits; val i = ti % bits
        // GAUSSIAN weights (rotation-invariant sign-LSH — see
        // mixGaussWeight): theta/pi capture holds for every pair
        Array.tabulate(dim)(j => kernels.mixGaussWeight(seed + t, i, j))
      }
      weights = w; wDim = dim
    }
    weights
  }

  def compute(vec: ArrayData): ArrayData = {
    val dim = vec.numElements()
    val w = ensureWeights(dim)
    val sigs = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var sig = 0L
      var i = 0
      while (i < bits) {
        val row = w(t * bits + i)
        var proj = 0.0
        var j = 0
        while (j < dim) { proj += elem(vec, j, isFloat) * row(j); j += 1 }
        if (proj >= 0.0) sig |= (1L << i)
        i += 1
      }
      sigs(t) = sig
      t += 1
    }
    new GenericArrayData(sigs)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hpExpr", this, classOf[HyperplaneSignatures].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 64-bit SimHash over a token array: bit i = sign of the sum over tokens
  * of +-1 by the token-hash's bit i. Token hash = xxhash64(token, seed 42)
  * — identical to `functions.xxhash64`, so fingerprints match the
  * declarative formulation this replaces.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  def compute(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val counts = new Array[Int](64)
    var k = 0
    while (k < n) {
      // xxhash64(null) passes the seed through — match that
      val h = if (tokens.isNullAt(k)) 42L
        else XxHash64Function.hash(tokens.getUTF8String(k), StringType, 42L)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
        i += 1
      }
      k += 1
    }
    var fp = 0L
    var i = 0
    while (i < 64) { if (counts(i) > 0) fp |= (1L << i); i += 1 }
    fp
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shExpr", this, classOf[SimHash64].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The MinHash core of [[MinHashSignature]] and
  * [[MinHashSignatureHashed]]: `numHashes` minima of universal hashes
  * h_i(x) = (a_i*x + b_i) mod p over a base value in [0, p) per
  * non-null array element ([[base]]). One pass over the array;
  * O(elements * numHashes) with zero allocation beyond the signature.
  */
sealed abstract class MinHashCore extends UnaryExpression {
  def numHashes: Int
  def seed: Long

  protected final val Prime = 2147483647L // 2^31 - 1, Mersenne

  /** Element `k` of `xs` (non-null) mapped into [0, p). */
  protected def base(xs: ArrayData, k: Int): Long

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  /** (a_i, b_i) from splitmix64 draws over (seed, i). Coefficients
    * linear in `i` correlate the hash functions, and the LSH bands
    * then miss J = 0.88 pairs far above the independent-hash rate. */
  @transient private lazy val coeffs: (Array[Long], Array[Long]) = {
    val as = new Array[Long](numHashes); val bs = new Array[Long](numHashes)
    val s = kernels.mix64(seed)
    var i = 0
    while (i < numHashes) {
      as(i) = 1L + 2L * math.floorMod(
        kernels.mix64(s + (2L * i + 1) * 0x9E3779B97F4A7C15L), Prime / 2 - 1)
      bs(i) = math.floorMod(
        kernels.mix64(s + (2L * i + 2) * 0x9E3779B97F4A7C15L), Prime)
      i += 1
    }
    (as, bs)
  }

  def compute(xs: ArrayData): ArrayData = {
    val (as, bs) = coeffs
    val n = xs.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var k = 0
    while (k < n) {
      if (!xs.isNullAt(k)) {
        val b = base(xs, k)
        var i = 0
        while (i < numHashes) {
          val v = (b * as(i) + bs(i)) % Prime
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      k += 1
    }
    new GenericArrayData(mins)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mhExpr", this, classOf[MinHashCore].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c);")
  }
}

/** MinHash signature over PRE-HASHED shingles (array<long>): the base
  * value is the 64-bit shingle hash folded into [0, p) — for pipelines
  * that carry 8-byte shingle hashes through the shuffle instead of the
  * strings (the at-scale layout).
  */
case class MinHashSignatureHashed(child: Expression, numHashes: Int, seed: Long)
    extends MinHashCore {

  override def prettyName: String = "minhash_signature_hashed"

  override protected def base(xs: ArrayData, k: Int): Long =
    math.floorMod(xs.getLong(k), Prime)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Intersection size of two SORTED long arrays (one merge pass, no
  * allocation) — the verify kernel for hashed-shingle Jaccard:
  * J = inter / (|a| + |b| - inter). Duplicate values (hash collisions
  * inside one document's set) advance both cursors once.
  */
case class SortedLongIntersect(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_long_intersect"

  def compute(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sliExpr", this, classOf[SortedLongIntersect].getName)
    defineCodeGen(ctx, ev, (a, b) => s"$ref.compute($a, $b)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** 60-bit SimHash over a token array, built from two independent
  * polynomial rolling hashes of each token's code points:
  *   h1 = fold (a*31 + cp) mod 1000000007, h2 = fold (a*131 + cp) mod 998244353
  * Bit b<30 votes by h1's bit b; bit 30+b by h2's bit b. Unlike the
  * xxhash64-based [[SimHash64]] (the scale default), every piece of this
  * is plain integer arithmetic reproducible in ANY engine — the DuckDB
  * oracle recomputes fingerprints exactly (same trick as t04's
  * fingerprint twin: unicode(c) == Spark ascii == codePointAt).
  */
case class PolySimHash60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "poly_simhash60"

  def compute(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val counts = new Array[Int](60)
    var k = 0
    while (k < n) {
      var h1 = 0L; var h2 = 0L
      if (!tokens.isNullAt(k)) {
        val str = tokens.getUTF8String(k).toString
        var i = 0
        while (i < str.length) {
          val cp = str.codePointAt(i)
          h1 = (h1 * 31L + cp) % 1000000007L
          h2 = (h2 * 131L + cp) % 998244353L
          i += Character.charCount(cp)
        }
      }
      var b = 0
      while (b < 30) {
        if (((h1 >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        if (((h2 >>> b) & 1L) == 1L) counts(30 + b) += 1 else counts(30 + b) -= 1
        b += 1
      }
      k += 1
    }
    var fp = 0L
    var b = 0
    while (b < 60) { if (counts(b) > 0) fp |= (1L << b); b += 1 }
    fp
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pshExpr", this, classOf[PolySimHash60].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** MinHash signature over a shingle array: each non-null shingle's
  * base value is its murmur3 hash (identical to `functions.hash`, seed
  * 42) shifted into [0, 2^32) — so it equals [[MinHashSignatureHashed]]
  * over `cast(hash(x) as bigint) + 2147483648`.
  */
case class MinHashSignature(child: Expression, numHashes: Int, seed: Long)
    extends MinHashCore {

  override def prettyName: String = "minhash_signature"

  override protected def base(xs: ArrayData, k: Int): Long =
    (Murmur3HashFunction.hash(xs.getUTF8String(k), StringType, 42L).toInt
      .toLong + 2147483648L) % Prime

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
