package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Custom codegen'd sketch expressions.
  *
  * Both MinHash signatures and SimHash folds are per-row loops over a hash
  * array. Expressed with built-in higher-order functions they evaluate
  * interpreted (measured: 128-perm MinHash over sf0.1 = ~30 s of pure
  * lambda interpretation; SimHash similar) — as native expressions the
  * same loops run inside WholeStageCodegen in well under a second.
  *
  * Inputs are array<long> base hashes (produced with the built-in
  * xxhash64 in a normal projection); null elements are not supported.
  */

/** 128-perm MinHash signature: perm_i(h) = (a_i*h + b_i) mod P over the
  * 31-bit Mersenne prime P, with a_i in [1, P-1] and b_i in [0, P-1]
  * drawn from a SplitMix64 stream ([[MinHashSignature.A]],
  * [[MinHashSignature.B]]). Independent constants matter: the affine
  * family a_i = 2i+1 has strongly correlated minima, so a near-copy that
  * lacks the lowest-hash elements changes every LSH band at once. Output:
  * array<long> of NumPerms minima. a_i * h + b_i < 2^62, so the
  * arithmetic stays within a Long. */
case class MinHashSignature(child: Expression) extends UnaryExpression {
  import MinHashSignature._

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val sig = Array.fill(NumPerms)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = Math.floorMod(hs.getLong(i), P)
      var j = 0
      while (j < NumPerms) {
        val v = (h * A(j) + B(j)) % P
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val a = ctx.addReferenceObj("minhashA", A, "long[]")
      val b = ctx.addReferenceObj("minhashB", B, "long[]")
      val sig = ctx.freshName("sig")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      s"""
         |long[] $sig = new long[$NumPerms];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  long $h = java.lang.Math.floorMod($c.getLong($i), ${P}L);
         |  for (int $j = 0; $j < $NumPerms; $j++) {
         |    long $v = ($h * $a[$j] + $b[$j]) % ${P}L;
         |    if ($v < $sig[$j]) $sig[$j] = $v;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(newChild)
}

object MinHashSignature {
  val NumPerms = 128
  val P = 2147483647L // 2^31 - 1
  private val Seed = 0x6d696e68617368L // "minhash"

  /** SplitMix64 from [[Seed]]: 2·NumPerms draws, a_i then b_i in turn. */
  private val draws: Array[Long] = {
    var state = Seed
    Array.fill(2 * NumPerms) {
      state += 0x9e3779b97f4a7c15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
  }
  /** Multipliers a_i ∈ [1, P−1]. */
  val A: Array[Long] = Array.tabulate(NumPerms)(i => 1L + Math.floorMod(draws(2 * i), P - 1))
  /** Offsets b_i ∈ [0, P−1]. */
  val B: Array[Long] = Array.tabulate(NumPerms)(i => Math.floorMod(draws(2 * i + 1), P))

  /** Names the permutation family. Artifacts holding signatures or band
    * keys stamp it, so an index built under another family reads as
    * stale. */
  val SchemeId = s"splitmix64-$Seed-$NumPerms"
}

/** 64-bit SimHash over an array of element hashes: bit j of the result is
  * 1 iff the count of set j-bits across elements >= half (sum of +/-1
  * votes >= 0). */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val cnt = new Array[Int](64)
    var i = 0
    while (i < hs.numElements()) {
      val h = hs.getLong(i)
      var j = 0
      while (j < 64) {
        cnt(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (cnt(j) >= 0) out |= (1L << j); j += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val cnt = ctx.freshName("cnt")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val out = ctx.freshName("out")
      s"""
         |int[] $cnt = new int[64];
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  long $h = $c.getLong($i);
         |  for (int $j = 0; $j < 64; $j++) {
         |    $cnt[$j] += ((($h >>> $j) & 1L) == 1L) ? 1 : -1;
         |  }
         |}
         |long $out = 0L;
         |for (int $j = 0; $j < 64; $j++) {
         |  if ($cnt[$j] >= 0) $out |= (1L << $j);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(newChild)
}

/** Winnowed Rabin-Karp fingerprints of a string: hash every k-char gram
  * with a TRUE rolling hash (O(1) per step: h' = (h - c_out*B^(k-1))*B +
  * c_in over 64-bit arithmetic), then keep the minimum hash of every
  * w-gram window via a monotonic deque — O(n) total per document. Output:
  * sorted distinct minima (array<long>).
  *
  * Why a native expression: the HOF formulation (transform over sequence +
  * slice + array_min) inlines the gram-array computation into EVERY window
  * lambda under CollapseProject, which turned a 500-doc dataset into an
  * effectively unbounded interpreted O(n^3) evaluation (observed as a hung
  * Verify run). Single-pass native eval is exact and linear.
  */
case class WinnowFingerprint(child: Expression, k: Int, w: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fingerprint"

  private val B = 1000003L
  private val bPow = { var p = 1L; (1 until k).foreach(_ => p *= B); p } // B^(k-1)

  override def nullSafeEval(input: Any): Any = {
    val s = input.toString
    val n = s.length
    if (n < k) return new GenericArrayData(Array.emptyLongArray)
    val m = n - k + 1
    val hashes = new Array[Long](m)
    var h = 0L
    var i = 0
    while (i < k) { h = h * B + s.charAt(i); i += 1 }
    hashes(0) = h
    i = 1
    while (i < m) {
      h = (h - s.charAt(i - 1) * bPow) * B + s.charAt(i + k - 1)
      hashes(i) = h
      i += 1
    }
    // winnow: min per sliding window of size w (monotonic deque)
    val out = scala.collection.mutable.SortedSet.empty[Long]
    if (m <= w) out += hashes.min
    else {
      val deque = new java.util.ArrayDeque[Int]()
      var j = 0
      while (j < m) {
        while (!deque.isEmpty && hashes(deque.peekLast()) >= hashes(j))
          deque.pollLast()
        deque.addLast(j)
        if (deque.peekFirst() <= j - w) deque.pollFirst()
        if (j >= w - 1) out += hashes(deque.peekFirst())
        j += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprint =
    copy(child = newChild)
}

object SketchFunctions {
  /** Winnowed rolling-hash fingerprints over a string column. */
  def winnowFingerprint(text: Column, k: Int, w: Int): Column =
    GraftBridge.column(WinnowFingerprint(
      GraftBridge.expression(text.cast("string")), k, w))

  /** MinHash signature column over an array<long> of base hashes. */
  def minhashSignature(baseHashes: Column): Column =
    GraftBridge.column(MinHashSignature(GraftBridge.expression(baseHashes)))

  /** 64-bit SimHash column over an array<long> of element hashes. */
  def simhash64(elementHashes: Column): Column =
    GraftBridge.column(SimHash64(GraftBridge.expression(elementHashes)))
}
