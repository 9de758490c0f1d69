package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{coalesce, lit, when}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic 64-bit mixing (splitmix64 finalizer) — the seed schedule for
  * the minhash family and hyperplane generation. Self-contained: no RNG, no
  * external data, identical on every executor.
  */
object Mix64 {
  @inline def mix(zIn: Long): Long = {
    var z = zIn + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** FNV-1a 64 over UTF8 bytes — stable base hash for shingles/tokens. */
  def hashUtf8(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }
}

/** The sketch kernels: static methods that [[SketchExprs]] puts in a plan
  * with [[Bridge.invoke]]. The vector kernels read `array<float>` or
  * `array<double>` input, as their `isFloat` flag says.
  */
object SketchKernels {
  def minhash(arr: ArrayData, numHashes: Int): ArrayData = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val base = Mix64.hashUtf8(arr.getUTF8String(i))
        var j = 0
        while (j < numHashes) {
          val h = Mix64.mix(base ^ Mix64.mix(j.toLong))
          if (h < sig(j)) sig(j) = h
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  def simhash(tokens: ArrayData): Long = {
    val acc = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = Mix64.hashUtf8(tokens.getUTF8String(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Flat (bands*rows) x dims plane-weight table of [[hyperplaneBands]],
    * row-major: weight of (plane p = b*rows + r, dim d) is
    * Mix64(Mix64(p) ^ Mix64(d)) / 2^63, in [-1, 1).
    */
  def planes(bands: Int, rows: Int, dims: Int): Array[Double] =
    Array.tabulate(bands * rows * dims) { idx =>
      val planeSeed = Mix64.mix((idx / dims).toLong)
      Mix64.mix(planeSeed ^ Mix64.mix((idx % dims).toLong)).toDouble / 9.223372036854776e18
    }

  def hyperplaneBands(vec: ArrayData, bands: Int, rows: Int, dims: Int,
      isFloat: Boolean, planes: Array[Double]): ArrayData = {
    val n = vec.numElements()
    if (n != dims)
      throw new IllegalArgumentException(
        s"hyperplane_bands: expected $dims-dim vector, got $n")
    val out = new Array[Long](bands)
    var b = 0
    var p = 0 // flat (plane, dim) cursor into the precomputed weight table
    while (b < bands) {
      var key = 0L
      var r = 0
      while (r < rows) {
        var dot = 0.0
        var d = 0
        while (d < dims) {
          val x =
            if (vec.isNullAt(d)) 0.0
            else if (isFloat) vec.getFloat(d).toDouble
            else vec.getDouble(d)
          dot += x * planes(p)
          p += 1
          d += 1
        }
        key = (key << 1) | (if (dot >= 0) 1L else 0L)
        r += 1
      }
      out(b) = Mix64.mix(Mix64.mix(b.toLong) ^ key)
      b += 1
    }
    new GenericArrayData(out)
  }

  def minhashBandKeys(sig: ArrayData, bands: Int, rows: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = XXH64.hashInt(b, 42L)
      var j = b * rows
      val end = j + rows
      while (j < end) { h = XXH64.hashLong(sig.getLong(j), h); j += 1 }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  private val Und = UTF8String.fromString("und")

  def langIdNgram(t: UTF8String, langs: Array[UTF8String],
      grams: Array[Array[UTF8String]]): UTF8String = {
    var bestScore = 0
    var bestLang: UTF8String = null
    var i = 0
    while (i < langs.length) {
      var s = 0
      val gs = grams(i)
      var gi = 0
      while (gi < gs.length) {
        val g = gs(gi)
        var from = 0
        var pos = t.indexOf(g, from)
        while (pos >= 0) {
          s += 1
          from = pos + g.numChars
          pos = t.indexOf(g, from)
        }
        gi += 1
      }
      // struct-greatest semantics: max score, ties to the larger code
      if (bestLang == null || s > bestScore ||
          (s == bestScore && langs(i).compareTo(bestLang) > 0)) {
        bestScore = s
        bestLang = langs(i)
      }
      i += 1
    }
    if (bestScore > 0) bestLang else Und
  }

  def rankCosine(vec: ArrayData, centroids: Array[Array[Float]],
      isFloat: Boolean, n: Int): ArrayData = {
    val k = centroids.length
    val dims = centroids(0).length
    val out = new Array[Int](n)
    if (vec.numElements() != dims) {
      // dimension mismatch: no cosine is defined, so every cluster ties
      var r = 0
      while (r < n) { out(r) = r; r += 1 }
      return UnsafeArrayData.fromPrimitiveArray(out)
    }
    val neg = new Array[Double](k)
    var j = 0
    while (j < k) {
      val c = centroids(j)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < dims) {
        val x = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
        val y = c(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      neg(j) = -(if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb))
      j += 1
    }
    // n selection passes, min NEGATED cosine by Double.compare: a NaN
    // cosine ranks LAST (Double.compare(NaN, x) > 0), so one bad vector or
    // centroid never takes a finite row's rank 1; the strict `<` keeps ties
    // on the lower index
    val taken = new Array[Boolean](k)
    var r = 0
    while (r < n) {
      var best = -1
      j = 0
      while (j < k) {
        if (!taken(j) && (best < 0 || java.lang.Double.compare(neg(j), neg(best)) < 0))
          best = j
        j += 1
      }
      taken(best) = true
      out(r) = best
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  def cosine(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) java.lang.Double.valueOf(0.0)
    else java.lang.Double.valueOf(dot / math.sqrt(na * nb))
  }
}

/** Column forms of the sketch kernels, each one [[Bridge.invoke]] call. A
  * null input gives a null result.
  */
object SketchExprs {
  private val LongArray = ArrayType(LongType, containsNull = false)

  /** The vector kernels' float flag, true when `v` is an array of floats; a
    * literal once constant folding has run. `coalesce` turns 0.1f into
    * `v`'s element type, and only a float prints as "0.1" (a double prints
    * 0.10000000149011612). `typeof(v) === "array<float>"` would read simpler,
    * but Spark 4.1 generates Java for `typeof` that does not compile, and a
    * filter over a local relation compiles the flag before folding it.
    */
  private def isFloat(v: Column): Column =
    coalesce(when(lit(false), v)(0), lit(0.1f)).cast("string") === "0.1"

  /** minhash_sig(shingles, k) -> array<bigint>: k min-hash values over a
    * string array, one pass (O(shingles * k) mixes, no per-hash string
    * re-hash). An empty array gives k sentinel Long.MaxValue values, which
    * match no band.
    */
  def minhashSig(c: Column, numHashes: Int = 64): Column =
    Bridge.invoke(SketchKernels, "minhash", LongArray, Seq(c, lit(numHashes)))

  /** fnv64(s) -> bigint: FNV-1a 64 over the string's UTF-8 bytes, the base
    * hash of the minhash/simhash family ([[Mix64.hashUtf8]]). Operators
    * whose outputs the oracle reproduces (winnowing fingerprints, hash
    * sampling) use it because DuckDB recomputes it in plain SQL (xor plus
    * modular multiply), unlike xxhash64's stripe algorithm.
    */
  def fnv64(c: Column): Column = Bridge.invoke(Mix64, "hashUtf8", LongType, Seq(c))

  /** simhash64(tokens) -> bigint: 64-bit SimHash over a string array (sign
    * of the per-bit weighted sums of the token hashes).
    */
  def simhash64(c: Column): Column =
    Bridge.invoke(SketchKernels, "simhash", LongType, Seq(c))

  /** cosine_sim(a, b) -> double over two float or double arrays, the ANN
    * hot path: one fused loop instead of zip_with+aggregate lambda towers.
    * 0.0 when either norm is 0; null on a length mismatch.
    */
  def cosineSim(a: Column, b: Column): Column =
    Bridge.invoke(SketchKernels, "cosine", DoubleType,
      Seq(a, b, isFloat(a), isFloat(b)), returnsNull = true)

  /** hyperplane_bands(vec) -> array<bigint>: per-band random-hyperplane LSH
    * bucket keys over a `dims`-long vector; any other length throws, since
    * silent null-padding corrupted signatures in an earlier formulation.
    * Plane weights come from [[SketchKernels.planes]], built once per plan
    * instead of two Mix64 calls per multiply-add (measured ~2.4x kernel
    * speedup, see BENCH/BASELINE.md; values pinned in OpsSpec). Band key =
    * Mix64(Mix64(band) ^ packed sign bits), so keys from different bands
    * never share a bucket space. This replaces an interpreted tower of
    * nested transform/aggregate lambdas (minutes for a few hundred rows)
    * with one loop of ~bands*rows*dims multiply-adds per row.
    */
  def hyperplaneBands(vec: Column, bands: Int, rowsPerBand: Int, dims: Int): Column = {
    require(bands > 0 && rowsPerBand > 0 && rowsPerBand <= 62 && dims > 0)
    Bridge.invoke(SketchKernels, "hyperplaneBands", LongArray,
      Seq(vec, lit(bands), lit(rowsPerBand), lit(dims), isFloat(vec),
        Bridge.constant(SketchKernels.planes(bands, rowsPerBand, dims))))
  }

  /** cosine_rank(vec) -> array<int>: the `n` best rows of `centroids` for
    * `vec`, best first, the one IVF cluster-ranking kernel: assignment is
    * rank 1 ([[graft.ops.Ivf.clusterOf]]) and probing the first nProbe
    * ([[graft.ops.Ivf.probeClusters]]), so a partial probe always reaches
    * the cluster a vector was assigned to. Order: `Double.compare` on the
    * negated cosine (accumulated as in [[SketchKernels.cosine]]), ties to
    * the lower index, so a NaN cosine ranks last; on a dimension mismatch
    * the clusters come back in index order. The centroids are a plan
    * constant, so the generated code is the same for every model.
    */
  def cosineRank(vec: Column, centroids: Array[Array[Float]], n: Int): Column = {
    require(centroids.nonEmpty && n >= 1 && n <= centroids.length)
    Bridge.invoke(SketchKernels, "rankCosine", ArrayType(IntegerType, containsNull = false),
      Seq(vec, Bridge.constant(centroids), isFloat(vec), lit(n)))
  }

  /** langid_ngram(lowered_text) -> string: argmax over per-language
    * profile-gram occurrence totals, the kernel behind
    * [[graft.ops.TextAnalysis.langIdNgram]]. Value-identical to the
    * `greatest()` over per-gram replace()-count columns it replaces: a
    * gram's count is its non-overlapping left-to-right occurrence count
    * (what (len - len(replace(t, g, ''))) / len(g) measures), the winner is
    * the max (score, lang) pair with ties to the larger code, and a zero
    * total gives "und". It makes no rewritten copy of the text per gram.
    */
  def langIdNgram(loweredText: Column, profiles: Seq[(String, Seq[String])]): Column = {
    require(profiles.nonEmpty && profiles.forall(_._2.nonEmpty))
    Bridge.invoke(SketchKernels, "langIdNgram", StringType, Seq(loweredText,
      Bridge.constant(profiles.map(p => UTF8String.fromString(p._1)).toArray),
      Bridge.constant(profiles.map(_._2.map(UTF8String.fromString).toArray).toArray)))
  }

  /** minhash_band_keys(sig) -> array<bigint>: per-band LSH bucket keys of a
    * [[minhashSig]] signature, bit-identical to
    * `array(xxhash64(lit(b), slice(sig, b*rows+1, rows)) for b < bands)`:
    * Spark's XxHash64 chains its children left to right from seed 42 (an
    * int via XXH64.hashInt, array elements via XXH64.hashLong, both reused
    * here), so the loop gives the same keys. The point is code size: the
    * 32-slice SQL array generated ~32 inlined hashers for janino to compile.
    */
  def minhashBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column = {
    require(bands > 0 && rowsPerBand > 0)
    Bridge.invoke(SketchKernels, "minhashBandKeys", LongArray,
      Seq(sig, lit(bands), lit(rowsPerBand)))
  }
}
