package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression,
  XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Native Catalyst expressions for the signature / assignment inner
  * loops of the mining and ANN operators.
  *
  * Before these kernels, every one of these computations ran as
  * `posexplode` + N simple aggregates — correct and codegen-friendly,
  * but each one paid a FULL SHUFFLE of the exploded rows (guide §2.4:
  * remove shuffles outright): a corpus of T tokens shuffled T×16-byte
  * rows just to compute per-doc mins/sums that a single pass over the
  * in-row array computes for free. At 100-TB these exploded exchanges
  * were the dominant shuffle of the whole dedup family; with the
  * kernels, signature computation is a MAP-ONLY projection inside
  * whole-stage codegen and the first exchange of every miner carries
  * one narrow row per (doc, band) instead of one per token.
  *
  * Arithmetic is bit-exact with the aggregate formulations replaced
  * (ascending-index folds, same overflow/wrap semantics, same
  * strict-< argmin tie-breaks, null elements skipped exactly like
  * `sum`/`min` skip null rows) — pinned by OpsSpec golden tests.
  *
  * All coefficient/centroid constants are carried as structural
  * `IndexedSeq` case-class fields (plan canonicalization compares
  * them by VALUE), flattened to primitive
  * arrays once per plan via transient lazy vals and shipped to
  * generated code as codegen reference objects.
  */
object MiningKernels {

  /** Index of the nearest centroid (squared Euclidean, strict-< scan →
    * first-index tie-break, the Spark-ML prediction rule). Null when
    * the vector is null or its length differs from the centroid dims. */
  def nearestCentroid(vec: Column, centroids: Seq[Array[Double]]): Column =
    Bridge.column(NearestCentroidExpr(
      Bridge.expression(vec.cast("array<double>")),
      centroids.map(_.toIndexedSeq).toIndexedSeq))

  /** PQ residual codes through stored centroids+codebooks: subtract
    * the row's coarse centroid (`cell`), then per subspace the
    * strict-< argmin over `codeK` codes of the exact squared distance,
    * stored as `code − 128` tinyint — bit-exact with the
    * zip_with + HOF-argmin formulation it replaces. */
  def pqCodes(vec: Column, cell: Column, centroids: Seq[Array[Double]],
      codebooks: Seq[Seq[Array[Double]]]): Column =
    Bridge.column(PqCodesExpr(
      Bridge.expression(vec.cast("array<double>")),
      Bridge.expression(cell.cast("int")),
      centroids.map(_.toIndexedSeq).toIndexedSeq,
      codebooks.map(_.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq))

  /** Sign-LSH band hashes of a vector against fixed hyperplanes: one
    * ascending-index dot per plane (left fold from 0.0 — bit-identical
    * to the driver-side [[graft.ops.Similarity.signatureOf]]), sign
    * bits packed `bandBits` per band, each band tagged `b << bandBits`. */
  def lshBands(vec: Column, planes: Seq[Seq[Double]], bandBits: Int): Column =
    Bridge.column(LshBandsExpr(
      Bridge.expression(vec.cast("array<double>")),
      planes.map(_.toIndexedSeq).toIndexedSeq, bandBits))

  /** MinHash signature over a shingle-hash array: per permutation j,
    * `min_h (h * a_j + b_j)` (wrapping 64-bit arithmetic, exactly the
    * `min` aggregate it replaces; null elements skipped). Null when
    * the array is null or has no non-null element. */
  def minhashMins(hashes: Column, coefs: Seq[(Long, Long)]): Column =
    Bridge.column(MinhashMinsExpr(Bridge.expression(hashes),
      coefs.map(_._1).toIndexedSeq, coefs.map(_._2).toIndexedSeq))

  /** LSH band keys of a MinHash signature: band `b` packs mins
    * `b × rowsPerBand + r` (r < rowsPerBand) as XXH64 (seed 42) of their
    * decimal strings joined by commas, `numBands` keys per row. That is
    * `xxhash64(concat_ws(",", element_at(mins, i).cast("string")…))`
    * byte for byte (a null or missing element is skipped, as
    * `concat_ws` skips it), so the keys of existing corpus indexes stay
    * valid. Null when `mins` is null. */
  def bandHashes(mins: Column, numBands: Int, rowsPerBand: Int): Column =
    Bridge.column(BandHashesExpr(Bridge.expression(mins), numBands, rowsPerBand))

  /** SimHash over a token-hash array: per-bit majority vote
    * (bit b set iff `2 × ones_b > n`), the aggregate-pipeline rule. */
  def simhashBits(hashes: Column, numBits: Int): Column =
    Bridge.column(SimhashBitsExpr(Bridge.expression(hashes), numBits))

  // ---------------------------------------------------------------- impl
  // Public static entry points — invoked from generated code.

  /** -1 encodes null (vector/dim mismatch or a null element). */
  def nearestCentroidOf(vec: ArrayData, cents: Array[Double], k: Int,
      d: Int): Int = {
    if (vec.numElements() != d) return -1
    var best = -1
    var bestD = Double.PositiveInfinity
    val x = new Array[Double](d)
    var i = 0
    while (i < d) {
      if (vec.isNullAt(i)) return -1
      x(i) = vec.getDouble(i)
      i += 1
    }
    var c = 0
    while (c < k) {
      var dist = 0.0
      var j = 0
      val off = c * d
      while (j < d) {
        val diff = x(j) - cents(off + j)
        dist += diff * diff
        j += 1
      }
      if (dist < bestD) { bestD = dist; best = c }
      c += 1
    }
    best
  }

  /** Null is encoded as a null return. `cb` is flattened
    * [subspace][code][dim]; argmin per subspace with strict <. */
  def pqCodesOf(vec: ArrayData, cell: Int, cents: Array[Double],
      cb: Array[Double], d: Int, m: Int, codeK: Int): ArrayData = {
    if (vec.numElements() != d || cell < 0) return null
    val dsub = d / m
    val res = new Array[Double](d)
    var i = 0
    val off = cell * d
    while (i < d) {
      if (vec.isNullAt(i)) return null
      res(i) = vec.getDouble(i) - cents(off + i)
      i += 1
    }
    val out = new Array[Byte](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestD = Double.PositiveInfinity
      var ci = 0
      while (ci < codeK) {
        var dist = 0.0
        var t = 0
        val cOff = (j * codeK + ci) * dsub
        val rOff = j * dsub
        while (t < dsub) {
          val x = res(rOff + t) - cb(cOff + t)
          dist += x * x
          t += 1
        }
        if (dist < bestD) { bestD = dist; best = ci }
        ci += 1
      }
      out(j) = (best - 128).toByte
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Dot per plane over `min(vecLen, dims)` positions with null
    * elements skipped — the exact semantics of the
    * `sum(x * element_at(plane, pos+1))` aggregate this replaces.
    * Null for an empty vector (the explode pipeline emitted no row
    * for those docs). */
  def lshBandsOf(vec: ArrayData, planes: Array[Double], numPlanes: Int,
      dims: Int, bandBits: Int): ArrayData = {
    if (vec.numElements() == 0) return null
    val n = math.min(vec.numElements(), dims)
    val bits = new Array[Long](numPlanes)
    var p = 0
    while (p < numPlanes) {
      var acc = 0.0
      var i = 0
      val off = p * dims
      while (i < n) {
        if (!vec.isNullAt(i)) acc += vec.getDouble(i) * planes(off + i)
        i += 1
      }
      bits(p) = if (acc >= 0) 1L else 0L
      p += 1
    }
    val numBands = numPlanes / bandBits
    val out = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      var h = 0L
      var i = 0
      while (i < bandBits) {
        h += bits(b * bandBits + i) << i
        i += 1
      }
      out(b) = (b.toLong << bandBits) + h
      b += 1
    }
    new GenericArrayData(out)
  }

  def minhashMinsOf(hashes: ArrayData, as: Array[Long],
      bs: Array[Long]): ArrayData = {
    val n = hashes.numElements()
    val k = as.length
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var any = false
    var i = 0
    while (i < n) {
      if (!hashes.isNullAt(i)) {
        any = true
        val h = hashes.getLong(i)
        var j = 0
        while (j < k) {
          val v = h * as(j) + bs(j)
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (!any) null else new GenericArrayData(mins)
  }

  /** Spark's `xxhash64` seed. */
  private val HashSeed = 42L

  def bandHashesOf(mins: ArrayData, numBands: Int, rowsPerBand: Int): ArrayData = {
    val n = mins.numElements()
    // a long is at most 20 characters, plus its comma
    val buf = new Array[Byte](rowsPerBand * 21)
    val out = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      var len = 0
      var r = 0
      while (r < rowsPerBand) {
        val i = b * rowsPerBand + r
        if (i < n && !mins.isNullAt(i)) {
          if (len > 0) { buf(len) = ','.toByte; len += 1 }
          len = putDecimal(buf, len, mins.getLong(i))
        }
        r += 1
      }
      out(b) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, HashSeed)
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Writes `v` in decimal (`Long.toString`'s ASCII bytes) at `at`;
    * returns the position after it. Digits come from the non-positive
    * magnitude, which also holds `Long.MinValue`. */
  private def putDecimal(buf: Array[Byte], at: Int, v: Long): Int = {
    var p = at
    if (v < 0) { buf(p) = '-'.toByte; p += 1 }
    var q = if (v < 0) v else -v
    var digits = 1
    var t = q / 10
    while (t != 0) { digits += 1; t /= 10 }
    var i = p + digits - 1
    while (i >= p) {
      buf(i) = ('0' - (q % 10)).toByte
      q /= 10
      i -= 1
    }
    p + digits
  }

  def simhashBitsOf(hashes: ArrayData, numBits: Int): Long = {
    val n = hashes.numElements()
    val ones = new Array[Long](numBits)
    var i = 0
    while (i < n) {
      if (!hashes.isNullAt(i)) {
        val h = hashes.getLong(i)
        var b = 0
        while (b < numBits) {
          ones(b) += (h >>> b) & 1L
          b += 1
        }
      }
      i += 1
    }
    var sh = 0L
    var b = 0
    while (b < numBits) {
      if (ones(b) * 2 > n) sh |= 1L << b
      b += 1
    }
    sh
  }
}

/** See [[MiningKernels.nearestCentroid]]. */
case class NearestCentroidExpr(child: Expression,
    centroids: IndexedSeq[IndexedSeq[Double]]) extends UnaryExpression {
  require(centroids.nonEmpty, "nearestCentroid needs at least one centroid")
  @transient private lazy val flat: Array[Double] = centroids.flatten.toArray
  private def k = centroids.length
  private def d = centroids.head.length
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nearest_centroid"

  override def nullSafeEval(v: Any): Any = {
    val r = MiningKernels.nearestCentroidOf(v.asInstanceOf[ArrayData], flat, k, d)
    if (r < 0) null else r
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cents", flat, "double[]")
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""
         |final int $r = graft.functions.MiningKernels.nearestCentroidOf($c, $ref, $k, $d);
         |if ($r < 0) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidExpr =
    copy(child = newChild)
}

/** See [[MiningKernels.pqCodes]]. */
case class PqCodesExpr(left: Expression, right: Expression,
    centroids: IndexedSeq[IndexedSeq[Double]],
    codebooks: IndexedSeq[IndexedSeq[IndexedSeq[Double]]])
    extends BinaryExpression {
  require(centroids.nonEmpty && codebooks.nonEmpty, "empty PQ model")
  @transient private lazy val flatCents: Array[Double] = centroids.flatten.toArray
  @transient private lazy val flatCb: Array[Double] =
    codebooks.flatten.flatten.toArray
  private def d = centroids.head.length
  private def m = codebooks.length
  private def codeK = codebooks.head.length
  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_codes"

  override def nullSafeEval(v: Any, c: Any): Any =
    MiningKernels.pqCodesOf(v.asInstanceOf[ArrayData],
      c.asInstanceOf[Int], flatCents, flatCb, d, m, codeK)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ce = ctx.addReferenceObj("cents", flatCents, "double[]")
    val cb = ctx.addReferenceObj("cb", flatCb, "double[]")
    nullSafeCodeGen(ctx, ev, (v, c) => {
      val r = ctx.freshName("r")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $r =
         |  graft.functions.MiningKernels.pqCodesOf($v, $c, $ce, $cb, $d, $m, $codeK);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqCodesExpr =
    copy(left = newLeft, right = newRight)
}

/** See [[MiningKernels.lshBands]]. */
case class LshBandsExpr(child: Expression,
    planes: IndexedSeq[IndexedSeq[Double]], bandBits: Int)
    extends UnaryExpression {
  require(planes.nonEmpty && planes.length % bandBits == 0,
    "numPlanes must be a positive multiple of bandBits")
  @transient private lazy val flat: Array[Double] = planes.flatten.toArray
  private def numPlanes = planes.length
  private def dims = planes.head.length
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "lsh_bands"

  override def nullSafeEval(v: Any): Any =
    MiningKernels.lshBandsOf(v.asInstanceOf[ArrayData], flat, numPlanes,
      dims, bandBits)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", flat, "double[]")
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $r =
         |  graft.functions.MiningKernels.lshBandsOf($c, $ref, $numPlanes, $dims, $bandBits);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): LshBandsExpr =
    copy(child = newChild)
}

/** See [[MiningKernels.minhashMins]]. */
case class MinhashMinsExpr(child: Expression, coefA: IndexedSeq[Long],
    coefB: IndexedSeq[Long]) extends UnaryExpression {
  require(coefA.nonEmpty && coefA.length == coefB.length,
    "minhash coefficient arrays must be non-empty and equal length")
  @transient private lazy val as: Array[Long] = coefA.toArray
  @transient private lazy val bs: Array[Long] = coefB.toArray
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_mins"

  override def nullSafeEval(v: Any): Any =
    MiningKernels.minhashMinsOf(v.asInstanceOf[ArrayData], as, bs)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ra = ctx.addReferenceObj("coefA", as, "long[]")
    val rb = ctx.addReferenceObj("coefB", bs, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $r =
         |  graft.functions.MiningKernels.minhashMinsOf($c, $ra, $rb);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashMinsExpr =
    copy(child = newChild)
}

/** See [[MiningKernels.bandHashes]]. */
case class BandHashesExpr(child: Expression, numBands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  require(numBands >= 1 && rowsPerBand >= 0,
    s"bad banding: $numBands bands of $rowsPerBand rows")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "band_hashes"

  override def nullSafeEval(v: Any): Any =
    MiningKernels.bandHashesOf(v.asInstanceOf[ArrayData], numBands, rowsPerBand)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MiningKernels.bandHashesOf($c, $numBands, $rowsPerBand)")

  override protected def withNewChildInternal(newChild: Expression): BandHashesExpr =
    copy(child = newChild)
}

/** See [[MiningKernels.simhashBits]]. */
case class SimhashBitsExpr(child: Expression, numBits: Int)
    extends UnaryExpression {
  require(numBits >= 1 && numBits <= 64, s"numBits out of range: $numBits")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash_bits"

  override def nullSafeEval(v: Any): Any =
    MiningKernels.simhashBitsOf(v.asInstanceOf[ArrayData], numBits)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MiningKernels.simhashBitsOf($c, $numBits)")

  override protected def withNewChildInternal(newChild: Expression): SimhashBitsExpr =
    copy(child = newChild)
}
