package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass array kernels backing [[CosineSimilarity]], [[LshBucket]],
  * [[MinhashFromHashes]] and [[NgramShingles]] — the hot expressions of
  * the similarity / dedup operators. Each replaces a chain of
  * higher-order-function expressions (`zip_with` + `aggregate` +
  * `transform`) that Catalyst evaluates interpreted, one lambda call per
  * element, with one tight JIT-compiled loop per row inside whole-stage
  * codegen.
  *
  * FLOATING-POINT CONTRACT: every accumulator reproduces the exact IEEE
  * op order of the higher-order-function form it replaces (left fold from
  * 0.0 in element order), so results are bit-identical and the frozen
  * DuckDB oracles keep matching.
  */
object VecKernels {

  @inline private def elem(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** Cosine similarity; same op order as
    * `dot(a,b) / (norm(a) * norm(b))` with each factor a separate left
    * fold (dot = Σ a_i·b_i, norm² = Σ x_i²). Elements must be non-null;
    * arrays of different lengths throw (the HOF form's `zip_with` would
    * pad with nulls and yield a null cosine, never a score).
    */
  def cosine(a: ArrayData, b: ArrayData, aFloat: Boolean,
             bFloat: Boolean): Double = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"cosine of embeddings of different lengths: $n vs ${b.numElements()}")
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = elem(a, i, aFloat)
      val y = elem(b, i, bFloat)
      d += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0)
      // a zero-norm vector: the Column form's Divide throws under ANSI
      // mode (Spark 4 default) — preserve the fail-loud contract rather
      // than returning NaN, which Spark would sort ABOVE every real
      // cosine in a descending top-k window
      throw new ArithmeticException(
        "[DIVIDE_BY_ZERO] cosine of a zero-norm embedding")
    d / denom
  }

  /** Sign-random-projection bucket id: for plane p, proj = left fold of
    * acc + x_i · m[p*dims + i]; bit p set iff proj >= 0 (NaN -> unset,
    * matching `when(proj >= 0, ...)`). Returns Σ_p bit_p — identical to
    * the `bits.reduce(_ + _)` sum (bits are disjoint powers of two).
    * An embedding whose length is not `dims` throws.
    */
  def lshBucket(x: ArrayData, m: Array[Double], planes: Int, dims: Int,
                isFloat: Boolean): Long = {
    val n = x.numElements()
    if (n != dims)
      throw new IllegalArgumentException(
        s"LSH bucket of an embedding of length $n, expected $dims")
    var bucket = 0L
    var p = 0
    while (p < planes) {
      val base = p * dims
      var acc = 0.0
      var i = 0
      while (i < n) { acc += elem(x, i, isFloat) * m(base + i); i += 1 }
      if (acc >= 0) bucket += (1L << p)
      p += 1
    }
    bucket
  }

  /** All-null k-slot signature (the null-input value of the HOF form). */
  def minhashNulls(k: Int): ArrayData = new GenericArrayData(new Array[Any](k))

  /** MinHash signature from the per-shingle xxhash64 array: slot i is
    * min over h of rot_{r_i}(h) ^ b_i (rotate-xor bijection family,
    * r_i/b_i derived from splitmix64 exactly as the Column form).
    * Null elements are skipped and an array with no non-null element
    * yields all-null slots, as `array_min(transform(...))` does — so a
    * shingle-less document keeps the HOF form's signature.
    */
  def minhashSig(hashes: ArrayData, rots: Array[Int],
                 xors: Array[Long]): ArrayData = {
    val k = rots.length
    val n = hashes.numElements()
    var first = 0
    while (first < n && hashes.isNullAt(first)) first += 1
    if (first == n) return minhashNulls(k)
    val out = new Array[Long](k)
    var i = 0
    while (i < k) {
      val r = rots(i)
      val b = xors(i)
      var best = Long.MaxValue
      var j = 0
      while (j < n) {
        if (!hashes.isNullAt(j)) {
          val h = hashes.getLong(j)
          val v = ((h << r) | (h >>> (64 - r))) ^ b
          if (v < best) best = v
        }
        j += 1
      }
      out(i) = best
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Jaccard coefficient of two DISTINCT string arrays in one pass:
    * |I| / (|a| + |b| - |I|). Bit-identical to
    * `size(array_intersect(a,b)) / size(array_union(a,b))` for distinct
    * inputs (|union| = |a| + |b| - |common|, and the division operands
    * are the same exact integers widened to double).
    */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0)
      // |union| = 0: the Column form divides by zero, which under ANSI
      // mode (Spark 4 default) is an error — preserve the fail-loud
      // contract (exception class differs; no input with a defined
      // result is affected)
      throw new ArithmeticException(
        "[DIVIDE_BY_ZERO] jaccard of two empty shingle arrays")
    val (small, big, ns) =
      if (na <= nb) (a, b, na) else (b, a, nb)
    val set = new java.util.HashSet[UTF8String](math.max(4, ns * 2))
    var i = 0
    while (i < ns) { set.add(small.getUTF8String(i)); i += 1 }
    var inter = 0
    val nbig = big.numElements()
    var j = 0
    while (j < nbig) {
      if (set.contains(big.getUTF8String(j))) inter += 1
      j += 1
    }
    inter.toDouble / (na + nb - inter).toDouble
  }

  /** xxhash64(seed 42) of every string element — the `transform(sh,
    * s => xxhash64(s))` chain as one loop, delegating to the exact
    * hash the built-in expression uses (a null element hashes to the
    * unchanged seed, exactly like `xxhash64(null)`).
    */
  def hashStrings(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (a.isNullAt(i)) 42L
        else org.apache.spark.sql.catalyst.expressions.XxHash64Function
          .hash(a.getUTF8String(i), org.apache.spark.sql.types.StringType, 42L)
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Distinct word n-grams of a token array in one pass: window i joins
    * tokens i..i+n-1 with " " (`UTF8String.concatWs`, the `concat_ws`
    * kernel, so a null token is skipped alike) and only the first
    * occurrence of each n-gram is kept, in window order — the order
    * `array_distinct` keeps. n = 1 is `array_distinct(tokens)`; fewer
    * than n tokens yield an empty array.
    */
  def ngramShingles(tokens: ArrayData, n: Int): ArrayData = {
    val windows = tokens.numElements() - n + 1
    if (windows <= 0) return new GenericArrayData(new Array[Any](0))
    val sep = UTF8String.fromString(" ")
    val parts = new Array[UTF8String](n)
    val seen = new java.util.HashSet[UTF8String](math.max(4, windows * 2))
    val out = new Array[Any](windows)
    var m = 0
    var i = 0
    while (i < windows) {
      val g =
        if (n == 1) tokens.getUTF8String(i)
        else {
          var j = 0
          while (j < n) { parts(j) = tokens.getUTF8String(i + j); j += 1 }
          UTF8String.concatWs(sep, parts: _*)
        }
      // java.util.HashSet admits one null, so a null token (n = 1) is
      // kept once, like array_distinct
      if (seen.add(g)) { out(m) = g; m += 1 }
      i += 1
    }
    new GenericArrayData(if (m == windows) out else out.take(m))
  }
}
