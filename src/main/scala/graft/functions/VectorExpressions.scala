package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{
  BinaryExpression, Expression, ExpressionInfo
}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the similarity-search hot path.
  *
  * `F.dot` (zip_with + aggregate) materializes an intermediate 64-element
  * array per evaluation — at 12.5M candidate pairs that allocation dominates
  * the brute-force scorers. This expression evaluates the dot product in a
  * tight codegen loop over the two ArrayData buffers, no allocation.
  *
  * Semantics are IDENTICAL to the fold form: products and accumulation in
  * double, index order — so results stay bit-identical to the DuckDB oracle
  * computation. Assumes non-null elements (embedding vectors).
  */
case class DotProductFloat(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall {
      _.dataType match {
        case ArrayType(FloatType, _) => true
        case _ => false
      }
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"graft_dot expects two array<float> arguments, got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})"
      )
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      // freshName, not fixed locals: cosine scoring expands THREE
      // graft_dot instances into one generated function (q·v, q·q, v·v);
      // fixed names collide ("Redefinition of local variable"), and
      // Janino's compile failure silently drops the WHOLE stage to
      // interpreted mode — found by the round-9b full-sf1 sweep log
      (a, b) => {
        val n = ctx.freshName("dotN")
        val acc = ctx.freshName("dotAcc")
        val i = ctx.freshName("dotI")
        s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $acc = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
        }
        ${ev.value} = $acc;
      """
      }
    )

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): DotProductFloat = copy(left = newLeft, right = newRight)
}

/** Squared Euclidean distance between two float vectors, computed as
  * Σ ((double)a_i − (double)b_i)² in index order — the SAME algebraic form
  * the DuckDB oracles use (`sum((v−c)^2)`), so centroid-assignment
  * tie-breaks are bit-identical across engines rather than merely
  * mathematically equal. (The expanded form v·v − 2v·c + c·c differs in
  * rounding and can flip near-equidistant assignments.) Same codegen shape
  * as [[DotProductFloat]]: tight loop, no allocation.
  */
case class DistanceSquaredFloat(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall {
      _.dataType match {
        case ArrayType(FloatType, _) => true
        case _ => false
      }
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"graft_dist2 expects two array<float> arguments, got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})"
      )
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dist2"

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => {
        val n = ctx.freshName("gdN")
        val acc = ctx.freshName("gdAcc")
        val i = ctx.freshName("gdI")
        val d = ctx.freshName("gdD")
        s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $acc = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
          $acc += $d * $d;
        }
        ${ev.value} = $acc;
        """
      }
    )

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): DistanceSquaredFloat = copy(left = newLeft, right = newRight)
}

/** Symmetric int8 quantization of an embedding vector — the storage/compute
  * compression step an embedding pipeline runs before writing an ANN index
  * (4x smaller than float32, SIMD-friendly dot products downstream).
  *
  * scale = max(|x|)/127; q_i = round_half_away_from_zero(x_i/scale), all in
  * double; an all-zero vector quantizes to all zeros. One codegen loop, no
  * allocation beyond the output array — the HOF formulation
  * (transform+array_max lambdas) would be CodegenFallback like the dot
  * product this file exists to replace. Rounding is half-AWAY-FROM-ZERO
  * (not JVM Math.round's half-up) to match the SQL round() the DuckDB
  * oracle uses.
  */
case class QuantizeInt8(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_quantize_int8 expects array<float>, got ${other.simpleString}"
        )
    }

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.ByteType, containsNull = false)

  override def prettyName: String = "graft_quantize_int8"

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    var mx = 0.0
    var i = 0
    while (i < n) {
      val v = math.abs(a.getFloat(i).toDouble)
      if (v > mx) mx = v
      i += 1
    }
    val scale = mx / 127.0
    val out = new Array[Byte](n)
    if (scale != 0.0) {
      i = 0
      while (i < n) {
        val d = a.getFloat(i).toDouble / scale
        out(i) =
          (if (d >= 0) math.floor(d + 0.5) else math.ceil(d - 0.5)).toByte
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      a => {
        val n = ctx.freshName("qN")
        val mx = ctx.freshName("qMx")
        val scale = ctx.freshName("qScale")
        val arr = ctx.freshName("qArr")
        val i = ctx.freshName("qI")
        val d = ctx.freshName("qD")
        s"""
        int $n = $a.numElements();
        double $mx = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $d = java.lang.Math.abs((double) $a.getFloat($i));
          if ($d > $mx) $mx = $d;
        }
        double $scale = $mx / 127.0;
        byte[] $arr = new byte[$n];
        if ($scale != 0.0) {
          for (int $i = 0; $i < $n; $i++) {
            double $d = (double) $a.getFloat($i) / $scale;
            $arr[$i] = (byte)(long)($d >= 0
              ? java.lang.Math.floor($d + 0.5)
              : java.lang.Math.ceil($d - 0.5));
          }
        }
        ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
          .fromPrimitiveArray($arr);
        """
      }
    )

  override protected def withNewChildInternal(newChild: Expression): QuantizeInt8 =
    copy(child = newChild)
}

/** The deterministic ±1 hyperplane table shared by the LSH operators
  * (v3 signatures, v12b/v12c banding) and their DuckDB oracles —
  * splitmix64-style bit mix on (plane, dim). ±1 is exact in every float
  * width, so the plane side contributes no rounding on either engine.
  * Canonical definition; `VectorOps` and the oracle literal generators
  * both read it from here. */
object Planes {
  def sign(j: Int, k: Int): Float = {
    var z = (j.toLong << 32 | k.toLong) + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    if ((z & 1L) == 0L) 1.0f else -1.0f
  }

  /** Flattened sign matrix for planes [0, nPlanes) over `dims` dimensions —
    * the executor-side constant [[BandHashesFloat]] loops over. */
  def table(nPlanes: Int, dims: Int): Array[Float] =
    Array.tabulate(nPlanes * dims)(idx => sign(idx / dims, idx % dims))
}

/** All LSH band hashes of an embedding in ONE pass —
  * `graft_band_hashes(embedding, nBands, bandBits)` returns an
  * array<long> of length nBands where element b packs the sign bits of
  * planes [b·bits, (b+1)·bits) (bit k set iff dot(embedding,
  * plane_{b·bits+k}) ≥ 0, accumulated in double, index order — the exact
  * arithmetic of `graft_dot` against the ±1 plane literal, so results are
  * bit-identical to the composed form and to the DuckDB oracles).
  *
  * Why an expression: the composed form is nBands·bandBits separate
  * `graft_dot`-against-constant columns — at v12c's solver geometries
  * (429 planes at sf0.1, 1054 at sf1) that is hundreds of expression-tree
  * nodes per row and a codegen method-size hazard. Here the plane matrix
  * is one executor-local float[] (rebuilt per executor, never serialized
  * per row) and the whole signature is one fused loop. */
case class BandHashesFloat(
    child: Expression,
    nBands: Int,
    bandBits: Int,
    dims: Int = 64)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(nBands > 0 && bandBits > 0 && bandBits <= 64 && dims > 0,
    s"graft_band_hashes: bad geometry ${nBands}x$bandBits over $dims dims")

  @transient private lazy val planes: Array[Float] =
    Planes.table(nBands * bandBits, dims)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_band_hashes expects array<float>, got ${other.simpleString}"
        )
    }

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override def prettyName: String = "graft_band_hashes"

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), dims)
    val out = new Array[Long](nBands)
    var b = 0
    while (b < nBands) {
      var h = 0L
      var k = 0
      while (k < bandBits) {
        val base = (b * bandBits + k) * dims
        var acc = 0.0
        var i = 0
        while (i < n) {
          acc += a.getFloat(i).toDouble * planes(base + i).toDouble
          i += 1
        }
        if (acc >= 0.0) h |= 1L << k
        k += 1
      }
      out(b) = h
      b += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      a => {
        val pl = ctx.addReferenceObj("graftPlanes", planes, "float[]")
        val n = ctx.freshName("bhN")
        val out = ctx.freshName("bhOut")
        val b = ctx.freshName("bhB")
        val h = ctx.freshName("bhH")
        val k = ctx.freshName("bhK")
        val base = ctx.freshName("bhBase")
        val acc = ctx.freshName("bhAcc")
        val i = ctx.freshName("bhI")
        s"""
        int $n = java.lang.Math.min($a.numElements(), $dims);
        long[] $out = new long[$nBands];
        for (int $b = 0; $b < $nBands; $b++) {
          long $h = 0L;
          for (int $k = 0; $k < $bandBits; $k++) {
            int $base = ($b * $bandBits + $k) * $dims;
            double $acc = 0.0;
            for (int $i = 0; $i < $n; $i++) {
              $acc += (double) $a.getFloat($i) * (double) $pl[$base + $i];
            }
            if ($acc >= 0.0) $h |= 1L << $k;
          }
          $out[$b] = $h;
        }
        ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
          .fromPrimitiveArray($out);
        """
      }
    )

  override protected def withNewChildInternal(newChild: Expression): BandHashesFloat =
    copy(child = newChild)
}

/** Stub media featurizer as ONE native expression —
  * `graft_byte_embed(payload)` returns the 64-dim float embedding whose
  * dim i is payload byte ⌊i·n/64⌋ (unsigned) scaled by b/63.5 − 1 —
  * [-1, 1] for the 7-bit (ASCII) payloads the stub corpus ships, up to
  * 3.02 for real 8-bit bytes (an [-1, 1] contract over full bytes would
  * need 127.5, but 63.5 is BAKED into the m7 oracle's SQL and the
  * hash-parity contract; a real featurizer replaces this stub wholesale,
  * so the divisor documents history rather than inviting a fix).
  * Bit-identical to the composed form it replaces (64
  * separate `conv(hex(substring(...)))` columns — each a per-byte string
  * round-trip): same double arithmetic, same float cast. An empty
  * payload reads as all-zero bytes → all −1.0 dims (the composed form
  * was undefined there; callers filter n > 0 either way). */
case class ByteEmbed(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  private val dims = 64

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.BinaryType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_byte_embed expects binary, got ${other.simpleString}"
        )
    }

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def prettyName: String = "graft_byte_embed"

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[Array[Byte]]
    val n = a.length
    val out = new Array[Float](dims)
    var i = 0
    while (i < dims) {
      // long arithmetic: i * n overflows Int past ~34 MB payloads
      val b = if (n == 0) 0 else a(((i.toLong * n) / dims).toInt) & 0xff
      out(i) = (b.toDouble / 63.5 - 1.0).toFloat
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      a => {
        val n = ctx.freshName("beN")
        val out = ctx.freshName("beOut")
        val i = ctx.freshName("beI")
        val b = ctx.freshName("beB")
        s"""
        int $n = $a.length;
        float[] $out = new float[$dims];
        for (int $i = 0; $i < $dims; $i++) {
          int $b = $n == 0 ? 0 : ($a[(int) (((long) $i * $n) / $dims)] & 0xff);
          $out[$i] = (float) ((double) $b / 63.5 - 1.0);
        }
        ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
          .fromPrimitiveArray($out);
        """
      }
    )

  override protected def withNewChildInternal(newChild: Expression): ByteEmbed =
    copy(child = newChild)
}

/** 32 sign bits of a float vector packed into one long —
  * `graft_sign_pack(embedding, offset)` sets bit i (0-based, bits 0..31
  * only, so the long's sign bit is never touched and overflow-checked
  * engines agree) iff element `offset + i` is strictly > 0. Two calls
  * (offset 0 and 32) binarize a 64-dim embedding into the 8-byte
  * serving form v24 scans. Bit-identical to the SQL fold
  * `aggregate(sequence(0,31), 0L, (acc,i) -> acc + IF(elem > 0, 1L<<i,
  * 0L))` it replaces — that higher-order function evaluates an
  * interpreted lambda 32 times per row; this is one codegen loop over
  * the ArrayData buffer. The comparison is written `!(x <= 0)` so NaN
  * reads as a 1 bit — matching SQL comparison semantics (both Spark's
  * nan-safe ordering and DuckDB evaluate `NaN > 0` to TRUE), where
  * Java's primitive `>` would silently disagree on NaN inputs. */
case class SignPack(child: Expression, offset: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_sign_pack expects array<float>, got ${other.simpleString}"
      )
  }

  require(offset >= 0, s"graft_sign_pack: negative offset $offset")

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def prettyName: String = "graft_sign_pack"

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < 32 && offset + i < n) {
      if (!(a.getFloat(offset + i) <= 0f)) acc |= (1L << i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      a => {
        val n = ctx.freshName("graftSpN")
        val acc = ctx.freshName("graftSpAcc")
        val i = ctx.freshName("graftSpI")
        s"""
        int $n = $a.numElements();
        long $acc = 0L;
        for (int $i = 0; $i < 32 && $offset + $i < $n; $i++) {
          if (!($a.getFloat($offset + $i) <= 0f)) $acc |= (1L << $i);
        }
        ${ev.value} = $acc;
      """
      }
    )

  override protected def withNewChildInternal(newChild: Expression): SignPack =
    copy(child = newChild)
}

/** Signed random projection as ONE native expression —
  * `graft_project(embedding, nDims)` returns the nDims-dim float vector
  * whose dim j is the raw plane-dot Σ_i v_i·plane_j_i over the shared
  * deterministic ±1 table ([[Planes]] — the same rows `graft_band_hashes`
  * takes signs of, so the oracle replays it from the same literals).
  * Double accumulation in index order, each sum cast to float (the m6
  * REAL-cast convention) so downstream consumers reuse the float-typed
  * `graft_dot`/`graft_dist2` natives unchanged. One codegen loop per row
  * vs nDims interpreted lambda folds for the composed SQL form. */
case class ProjectPlanes(child: Expression, nDims: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(nDims > 0 && nDims <= 512, s"graft_project: bad output dims $nDims")

  private val dims = 64

  @transient private lazy val planes: Array[Float] = Planes.table(nDims, dims)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_project expects array<float>, got ${other.simpleString}"
        )
    }

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def prettyName: String = "graft_project"

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), dims)
    val out = new Array[Float](nDims)
    var j = 0
    while (j < nDims) {
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += a.getFloat(i).toDouble * planes(j * dims + i).toDouble
        i += 1
      }
      out(j) = acc.toFloat
      j += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      a => {
        val pl = ctx.addReferenceObj("graftProjPlanes", planes, "float[]")
        val n = ctx.freshName("pjN")
        val out = ctx.freshName("pjOut")
        val j = ctx.freshName("pjJ")
        val acc = ctx.freshName("pjAcc")
        val i = ctx.freshName("pjI")
        s"""
        int $n = java.lang.Math.min($a.numElements(), $dims);
        float[] $out = new float[$nDims];
        for (int $j = 0; $j < $nDims; $j++) {
          double $acc = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            $acc += (double) $a.getFloat($i) * (double) $pl[$j * $dims + $i];
          }
          $out[$j] = (float) $acc;
        }
        ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
          .fromPrimitiveArray($out);
        """
      }
    )

  override protected def withNewChildInternal(newChild: Expression): ProjectPlanes =
    copy(child = newChild)
}

/** Registration for the native functions — either per-session at runtime
  * ([[GraftFunctions.register]]) or via `spark.sql.extensions=
  * graft.functions.GraftExtensions` for cluster-wide injection. Both read
  * the one table below.
  */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder

  private def intArg(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()

  /** Every graft function: name, implementing class, builder. */
  val builders: Seq[(String, Class[_], FunctionBuilder)] = Seq(
    ("graft_sign_pack", classOf[SignPack],
      exprs => SignPack(exprs(0), intArg(exprs(1)))),
    ("graft_dot", classOf[DotProductFloat],
      exprs => DotProductFloat(exprs(0), exprs(1))),
    ("graft_quantize_int8", classOf[QuantizeInt8],
      exprs => QuantizeInt8(exprs(0))),
    ("graft_dist2", classOf[DistanceSquaredFloat],
      exprs => DistanceSquaredFloat(exprs(0), exprs(1))),
    // geometry args must be literals — they size the plane table at plan
    // time (matching how the DuckDB oracles bake their literals)
    ("graft_band_hashes", classOf[BandHashesFloat],
      exprs => BandHashesFloat(
        exprs(0), intArg(exprs(1)), intArg(exprs(2)),
        if (exprs.length > 3) intArg(exprs(3)) else 64)),
    ("graft_byte_embed", classOf[ByteEmbed],
      exprs => ByteEmbed(exprs(0))),
    ("graft_shingles", classOf[ShingleHashes],
      exprs => {
        require(exprs.length == 1, s"graft_shingles takes 1 argument (got ${exprs.length}); the 3-gram width is fixed — extra args were previously IGNORED silently")
        ShingleHashes(exprs(0), 3)
      }),
    ("graft_winnow", classOf[WinnowFingerprints],
      exprs => {
        require(exprs.length == 1, s"graft_winnow takes 1 argument (got ${exprs.length}); the (3,4) geometry is fixed — extra args were previously IGNORED silently")
        WinnowFingerprints(exprs(0), 3, 4)
      }),
    ("graft_gram_embed", classOf[GramEmbed],
      exprs => GramEmbed.fromArgs(exprs)),
    ("graft_pq_encode", classOf[PqEncode],
      exprs => PqEncode(exprs(0), exprs(1), exprs(2))),
    ("graft_pq_adc", classOf[PqAdcDistance],
      exprs => PqAdcDistance(exprs(0), exprs(1), exprs(2), exprs(3))),
    ("graft_bloom_might_contain", classOf[BloomMightContainLong],
      exprs => BloomMightContainLong(exprs(0), exprs(1))),
    ("graft_mmr", classOf[MmrSelect],
      exprs => {
        require(exprs.length == 1, s"graft_mmr takes 1 argument (got ${exprs.length}); (k=8, lambda=0.7) are fixed — extra args were previously IGNORED silently")
        MmrSelect(exprs(0), 8, 0.7)
      }),
    ("graft_bitmap_and_count", classOf[BitmapAndCount],
      exprs => {
        require(exprs.length == 2, s"graft_bitmap_and_count takes 2 arguments (got ${exprs.length})")
        BitmapAndCount(exprs(0), exprs(1))
      }),
    // nDims must be a literal — it sizes the plane table at plan time
    ("graft_project", classOf[ProjectPlanes],
      exprs => ProjectPlanes(exprs(0), intArg(exprs(1)))),
    ("graft_bpe_encode", classOf[GraftBpeEncode],
      exprs => GraftBpeEncode.build(exprs))
  )

  /** Registers every graft function in the session's own registry, once:
    * every query calls this, and re-registering a name logs "replaced a
    * previously registered function" at WARN each time. The check is per
    * registry, so a new session (its own registry) still registers. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!builders.forall { case (name, _, _) => registry.functionExists(FunctionIdentifier(name)) })
      builders.foreach { case (name, _, builder) =>
        registry.createOrReplaceTempFunction(name, builder, "built-in")
      }
  }
}

class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.builders.foreach { case (name, cls, builder) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
}
