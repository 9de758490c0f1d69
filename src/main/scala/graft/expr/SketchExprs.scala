package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
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

/** minhash_sig(shingles, k) -> array<bigint>: k min-hash values over a string
  * array, one pass (O(shingles * k) mixes, no per-hash string re-hash).
  * Empty/null input -> k sentinel Long.MaxValue values (matches no band).
  */
case class MinHashSig(child: Expression, numHashes: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any =
    SketchKernels.minhash(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData) graft.expr.SketchKernels.minhash($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** simhash64(tokens) -> bigint: 64-bit SimHash over a string array (sign of
  * per-bit weighted sums of token hashes).
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    SketchKernels.simhash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.SketchKernels.simhash($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** fnv64(s) -> bigint: FNV-1a 64 over the string's UTF-8 bytes — the same
  * base hash the minhash/simhash family uses ([[Mix64.hashUtf8]]). Exposed
  * as a Column so operators whose outputs must be ORACLE-reproducible
  * (winnowing fingerprints) can use a hash DuckDB can recompute in plain
  * SQL (xor + modular multiply), unlike xxhash64's stripe algorithm.
  */
case class Fnv64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "fnv64"

  override def nullSafeEval(input: Any): Any =
    Mix64.hashUtf8(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.Mix64.hashUtf8($c)")

  override protected def withNewChildInternal(newChild: Expression): Fnv64 =
    copy(child = newChild)
}

/** cosine_rank(vec) -> array<int>: the `n` best centroids (rows of the
  * constant `centroids` matrix) for `vec`, best first — the one IVF
  * cluster-ranking kernel: assignment is rank 1 ([[graft.ops.Ivf.clusterOf]]),
  * probing is the first nProbe ([[graft.ops.Ivf.probeClusters]]), so a
  * partial probe always reaches the cluster a vector was assigned to. Order:
  * `Double.compare` on the negated cosine (the cosine uses the same double
  * accumulation order as [[SketchKernels.cosine]]), ties to the lower
  * index, so a NaN cosine ranks LAST; on a dimension mismatch the clusters
  * come back in index order. One fused codegen'd loop (k·dims multiply-adds
  * plus an n·k selection); the centroid matrix rides a codegen reference
  * object, so the generated source is identical across models and the
  * codegen cache hits.
  */
case class CosineRank(child: Expression, centroids: Array[Array[Float]], n: Int)
    extends UnaryExpression {
  require(centroids.nonEmpty && n >= 1 && n <= centroids.length)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "cosine_rank"

  @transient private lazy val isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def nullSafeEval(input: Any): Any =
    SketchKernels.rankCosine(input.asInstanceOf[ArrayData], centroids, isFloat, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("centroids", centroids, "float[][]")
    defineCodeGen(ctx, ev, c =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData) " +
        s"graft.expr.SketchKernels.rankCosine($c, $cRef, $isFloat, $n)")
  }

  override protected def withNewChildInternal(newChild: Expression): CosineRank =
    copy(child = newChild)
}

/** minhash_band_keys(sig) -> array<bigint>: per-band LSH bucket keys over a
  * minhash signature, bit-identical to the SQL formulation
  * `array(xxhash64(lit(b), slice(sig, b*rows+1, rows)) for b < bands)` it
  * replaces: Spark's XxHash64 chains its children left-to-right from seed
  * 42 (int via XXH64.hashInt, array elements via XXH64.hashLong — both
  * public statics reused here verbatim), so the fused loop reproduces the
  * exact key values. The point is code size, not hashing speed: the
  * 32-slice SQL array generated ~32 inlined xxhash64-over-slice hashers,
  * which the first minhash query of every session paid as janino compile
  * time. Requires a non-null LongType signature with containsNull=false
  * ([[MinHashSig]]'s output contract).
  */
case class MinhashBandKeys(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  require(bands > 0 && rowsPerBand > 0)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_band_keys"

  override def nullSafeEval(input: Any): Any =
    SketchKernels.minhashBandKeys(input.asInstanceOf[ArrayData], bands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData) " +
        s"graft.expr.SketchKernels.minhashBandKeys($c, $bands, $rowsPerBand)")

  override protected def withNewChildInternal(newChild: Expression): MinhashBandKeys =
    copy(child = newChild)
}

/** langid_ngram(lowered_text) -> string: argmax over per-language
  * profile-gram occurrence totals — the fused kernel behind
  * [[graft.ops.TextAnalysis.langIdNgram]]. Value-identical to the
  * `greatest()` over per-gram replace()-count columns it replaces: each
  * gram's count is its non-overlapping left-to-right occurrence count
  * (indexOf stepping by the gram length — exactly what the
  * (len - len(replace(t, g, ''))) / len(g) formulation measures), the
  * winner is the max (score, lang) pair with ties to the
  * lexicographically larger code (struct-greatest semantics), and a zero
  * total yields "und". One pass per gram without the per-gram full-string
  * replace ALLOCATION (the old form materialized ~31 rewritten copies of
  * the text per row).
  */
case class LangIdNgram(child: Expression, profiles: Seq[(String, Seq[String])])
    extends UnaryExpression {
  require(profiles.nonEmpty && profiles.forall(_._2.nonEmpty))
  override def dataType: DataType = StringType
  override def prettyName: String = "langid_ngram"

  @transient private lazy val langsU: Array[UTF8String] =
    profiles.map(p => UTF8String.fromString(p._1)).toArray
  @transient private lazy val gramsU: Array[Array[UTF8String]] =
    profiles.map(_._2.map(UTF8String.fromString).toArray).toArray

  override def nullSafeEval(input: Any): Any =
    SketchKernels.langIdNgram(input.asInstanceOf[UTF8String], langsU, gramsU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lRef = ctx.addReferenceObj("langs", langsU,
      "org.apache.spark.unsafe.types.UTF8String[]")
    val gRef = ctx.addReferenceObj("grams", gramsU,
      "org.apache.spark.unsafe.types.UTF8String[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.expr.SketchKernels.langIdNgram($c, $lRef, $gRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): LangIdNgram =
    copy(child = newChild)
}

/** cosine_sim(a, b) -> double over two float/double arrays — the ANN hot
  * path; a tight fused loop instead of zip_with+aggregate lambda towers.
  * Returns 0.0 when either norm is 0; null on length mismatch.
  */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  override def nullable: Boolean = true

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  @transient private lazy val lf = isFloat(left)
  @transient private lazy val rf = isFloat(right)

  override def nullSafeEval(a: Any, b: Any): Any =
    SketchKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], lf, rf)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val res = ctx.freshName("cos")
      s"""
         |java.lang.Double $res = graft.expr.SketchKernels.cosine($a, $b, $lf, $rf);
         |if ($res == null) { ${ev.isNull} = true; } else { ${ev.value} = $res.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
}

/** hyperplane_bands(vec, bands, rowsPerBand, dims) -> array<bigint>: per-band
  * random-hyperplane LSH bucket keys. Plane weights derive from
  * Mix64(planeSeed ^ Mix64(dim)) scaled to [-1,1) — deterministic on every
  * executor, no materialized plane table, any dimensionality. `dims` is a
  * loud-fail contract check: a vector of any other length throws (silent
  * null-padding corrupted signatures in an earlier formulation). Band key =
  * Mix64(Mix64(band) ^ packed sign bits), so keys from different bands never
  * share a bucket space.
  *
  * This replaces an interpreted higher-order-function tower (nested
  * transform/aggregate lambdas: bands x rows x dims interpreted closures per
  * row — measured minutes for a few hundred rows) with one fused codegen'd
  * loop: ~bands*rows*dims multiply-adds per row.
  */
case class HyperplaneBands(child: Expression, bands: Int, rowsPerBand: Int,
    dims: Int) extends UnaryExpression {
  require(bands > 0 && rowsPerBand > 0 && rowsPerBand <= 62 && dims > 0)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_bands"

  @transient private lazy val isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  // Plane weights are pure functions of (band, row, dim): precompute them
  // ONCE per expression instance (per task after deserialization; ~128 KB at
  // 16x16x64) instead of re-deriving 2 Mix64 calls per multiply-add in the
  // row kernel — measured ~2.4x kernel speedup (see BENCH/BASELINE.md).
  // Values identical to the in-loop derivation (pinned in OpsSpec), so
  // signatures (and every persisted LSH key) are unchanged.
  @transient private lazy val planeTable: Array[Double] =
    HyperplaneBands.planes(bands, rowsPerBand, dims)

  override def nullSafeEval(input: Any): Any =
    SketchKernels.hyperplaneBands(input.asInstanceOf[ArrayData],
      bands, rowsPerBand, dims, isFloat, planeTable)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planeTable, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData) " +
        s"graft.expr.SketchKernels.hyperplaneBands($c, $bands, $rowsPerBand, $dims, $isFloat, $planesRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBands =
    copy(child = newChild)
}

object HyperplaneBands {
  /** Flat (bands*rows) x dims plane-weight table, row-major; weight of
    * (plane p = b*rows + r, dim d) = Mix64(Mix64(p) ^ Mix64(d)) / 2^63,
    * in [-1, 1) — byte-identical to the previous per-row derivation.
    */
  def planes(bands: Int, rows: Int, dims: Int): Array[Double] =
    Array.tabulate(bands * rows * dims) { idx =>
      val planeSeed = Mix64.mix((idx / dims).toLong)
      Mix64.mix(planeSeed ^ Mix64.mix((idx % dims).toLong)).toDouble / 9.223372036854776e18
    }
}

/** Static kernels callable from generated java code. */
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

object SketchExprs {
  def minhashSig(c: Column, numHashes: Int = 64): Column =
    Bridge.column(MinHashSig(Bridge.expression(c), numHashes))
  def fnv64(c: Column): Column =
    Bridge.column(Fnv64(Bridge.expression(c)))
  def simhash64(c: Column): Column =
    Bridge.column(SimHash64(Bridge.expression(c)))
  def cosineSim(a: Column, b: Column): Column =
    Bridge.column(CosineSim(Bridge.expression(a), Bridge.expression(b)))
  def hyperplaneBands(vec: Column, bands: Int, rowsPerBand: Int, dims: Int): Column =
    Bridge.column(HyperplaneBands(Bridge.expression(vec), bands, rowsPerBand, dims))
  def cosineRank(vec: Column, centroids: Array[Array[Float]], n: Int): Column =
    Bridge.column(CosineRank(Bridge.expression(vec), centroids, n))
  def langIdNgram(loweredText: Column, profiles: Seq[(String, Seq[String])]): Column =
    Bridge.column(LangIdNgram(Bridge.expression(loweredText), profiles))
  def minhashBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    Bridge.column(MinhashBandKeys(Bridge.expression(sig), bands, rowsPerBand))
}
