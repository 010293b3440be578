package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused PRODUCT-QUANTIZATION encoder, the per-row hot path of the PQ
  * rows (q216/q217 in queries/Llm.scala).
  *
  * `pq_encode_micro(em: array<double>, cbs: array<struct<j:int,
  * code:int, cw:array<double>>>) → struct<codes: array<int>,
  * dv: array<double>>`
  *
  * `em` is a PRE-SCALED micro vector (integer-valued doubles — the
  * repo-wide exact bridge); `cbs` is the flattened per-subspace
  * codebook, a QUERY CONSTANT (a literal or an uncorrelated scalar
  * subquery — analysis rejects one that reads input columns). For each
  * subspace j (ascending), the expression argmins the subvector
  * `em[off_j .. off_j+d_j)` against that subspace's codewords —
  * micro-L2 distance, ties toward the smaller code, element-for-element
  * the arithmetic of the oracle's `ROW_NUMBER() OVER (PARTITION BY
  * vec_id, j ORDER BY dist ASC, code ASC)` — and emits the selected
  * code ids plus the concatenated reconstruction `dv` (the picked
  * codewords, in subspace order).
  *
  * Why an expression: the HOF/`filter`+`aggregate` formulation
  * allocates per candidate per row; at 8 subspaces × 256 codewords
  * that is ~2k lambda frames per vector and was the allocation-bound
  * shape of the ×100 self-bench. Here each expression instance decodes
  * the constant codebook ONCE into primitive arrays ([[PqEncodeCore]]),
  * and the per-row loop is 8·256·8 multiply-adds with early exit
  * against the subspace's best-so-far.
  *
  * Subspace layout is derived from the codebook itself: offsets are
  * the prefix sums of each present subspace's codeword length (in
  * ascending j), so non-uniform splits work unchanged. Null inputs or
  * an empty codebook → null; a subspace whose codewords were all
  * dropped by training never occurs (every training point assigns
  * somewhere), but a missing j would simply be skipped with its
  * offset advanced by zero. Interpreted ([[CodegenFallback]]): the
  * k·d loop on primitive arrays dominates; fallback costs one boxed
  * call per row.
  *
  * The decoded codebook + encode loop live in [[PqEncodeCore]] (one
  * instance per expression instance — single-threaded per task), so
  * the RESIDUAL variant [[PqEncodeShiftMicro]] shares them verbatim.
  */
private[functions] final class PqEncodeCore(cbs: ArrayData) {
  // Decoded codebook, grouped by ascending subspace j:
  //   subJ(s)     — the subspace's j value (ascending)
  //   subDim(s)   — its codeword length d_j
  //   subCodes(s) — code ids, scan order
  //   subVecs(s)  — codewords, scan order
  private val (subJ, subDim, subCodes, subVecs) = {
    val entries = (0 until cbs.numElements()).map { x =>
      val s = cbs.getStruct(x, 3)
      (s.getInt(0), s.getInt(1), s.getArray(2).toDoubleArray())
    }
    val groups = entries.groupBy(_._1).toArray.sortBy(_._1)
    (groups.map(_._1), groups.map(_._2.head._3.length),
      groups.map(_._2.map(_._2).toArray), groups.map(_._2.map(_._3).toArray))
  }
  private var exBuf: Array[Double] = _

  /** Load the input vector into the reused micro buffer: array<double>
    * embeddings are PRE-SCALED micro vectors copied as-is; array<float>
    * embeddings are raw and get the repo's ±0.5 micro rounding here —
    * same arithmetic as [[Sq8QuantizeMicro]] / [[ArgminL2Micro]]'s
    * float arm. Returns the buffer (length ≥ n, reused across rows). */
  def loadMicro(emb: ArrayData, n: Int, preScaled: Boolean): Array[Double] = {
    if (exBuf == null || exBuf.length < n) exBuf = new Array[Double](n)
    val ex = exBuf
    var i = 0
    if (preScaled) {
      while (i < n) { ex(i) = emb.getDouble(i); i += 1 }
    } else {
      while (i < n) {
        val m = emb.getFloat(i).toDouble * 1000000.0
        ex(i) = if (m >= 0) math.floor(m + 0.5) else math.ceil(m - 0.5)
        i += 1
      }
    }
    ex
  }

  /** Encode the first `n` elements of `ex` (micro domain) against the
    * decoded codebook. */
  def encode(ex: Array[Double], n: Int): InternalRow = {
    val m = subJ.length
    val codes = new Array[Int](m)
    var dvLen = 0
    var g = 0
    while (g < m) { dvLen += subDim(g); g += 1 }
    val dv = new Array[Double](dvLen)
    var offIdx = 0
    g = 0
    while (g < m) {
      val d = subDim(g)
      val cands = subVecs(g)
      val ids = subCodes(g)
      val kk = cands.length
      var bestD = Double.PositiveInfinity
      var bestC = Int.MaxValue
      var bestV: Array[Double] = null
      var j2 = 0
      while (j2 < kk) {
        val cv = cands(j2)
        var acc = 0.0
        var i2 = 0
        val lim = math.min(d, n - offIdx)
        while (i2 < lim && acc <= bestD) {
          val dd = ex(offIdx + i2) - cv(i2)
          acc += dd * dd
          i2 += 1
        }
        if (i2 == lim && (acc < bestD || (acc == bestD && ids(j2) < bestC))) {
          bestD = acc; bestC = ids(j2); bestV = cv
        }
        j2 += 1
      }
      codes(g) = bestC
      var i3 = 0
      while (i3 < d) { dv(offIdx + i3) = bestV(i3); i3 += 1 }
      offIdx += d
      g += 1
    }
    // UnsafeArrayData, not GenericArrayData: boxing codes+dv per row is
    // pure GC drag at the ×1000 self-bench, and the unsafe layout lets
    // the downstream argmin/ADC read primitives.
    InternalRow(UnsafeArrayData.fromPrimitiveArray(codes),
      UnsafeArrayData.fromPrimitiveArray(dv))
  }
}

private[functions] object PqEncodeCore {
  /** The decoded codebook constant; null for a null or empty one. */
  def decode(v: Any): PqEncodeCore = v match {
    case cbs: ArrayData if cbs.numElements() > 0 => new PqEncodeCore(cbs)
    case _ => null
  }

  val outType: DataType = StructType(Seq(
    StructField("codes", ArrayType(IntegerType)),
    StructField("dv", ArrayType(DoubleType))))

  val cbType: DataType = ArrayType(StructType(Seq(
    StructField("j", IntegerType), StructField("code", IntegerType),
    StructField("cw", ArrayType(DoubleType)))))

  def cbTypeOk(dt: DataType): Boolean = dt match {
    case ArrayType(StructType(Array(StructField(_, IntegerType, _, _),
                                    StructField(_, IntegerType, _, _),
                                    StructField(_, ArrayType(DoubleType, _), _, _))), _) => true
    case _ => false
  }
}

case class PqEncodeMicro(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = PqEncodeCore.outType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType | FloatType, _), cb) if PqEncodeCore.cbTypeOk(cb) =>
      MicroArgmin.constantOnly(prettyName, right)
    case _ => TypeCheckResult.TypeCheckFailure(
      s"pq_encode_micro expects (array<double> | array<float>, ${PqEncodeCore.cbType.sql}), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }

  @transient private lazy val embPreScaled: Boolean = left.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def nullable: Boolean = true

  @transient private lazy val core: PqEncodeCore = PqEncodeCore.decode(right.eval(null))

  override def eval(input: InternalRow): Any = {
    val c = core
    if (c == null) return null
    val a = left.eval(input)
    if (a == null) return null
    val emb = a.asInstanceOf[ArrayData]
    val n = emb.numElements()
    c.encode(c.loadMicro(emb, n, embPreScaled), n)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "pq_encode_micro"
}

/** RESIDUAL variant of [[PqEncodeMicro]] — the q223/q224/q227 corpus
  * scan's hot path:
  *
  * `pq_encode_shift_micro(em, shift: array<double>, cbs) →
  * struct<codes, dv>` ≡ `pq_encode_micro(zip_with(micro(em), shift,
  * (a, b) -> a - b), cbs)`
  *
  * i.e. the vector is micro-scaled, the (integer-valued) `shift` — the
  * coarse centroid of the vector's cell — is subtracted element-wise,
  * and the RESIDUAL is PQ-encoded. Fused because the composed HOF form
  * allocates two 64-element arrays and runs two interpreted lambdas
  * per row BEFORE the encode even starts — measured as most of the
  * residual family's ~2× scan-cost premium over the raw q220 encode at
  * sf0.1 (the repo-wide HOF-allocation lesson). Arithmetic is
  * element-for-element identical to the composed form (exact integer
  * subtraction in doubles), so the oracle CTEs are unchanged.
  *
  * A shift shorter than the vector leaves the tail unshifted
  * (subtracting a missing element as 0); in contract both are d=64.
  * Divergences from raw zip_with are LOUD, not silent: a shift LONGER
  * than the vector (zip_with would pad the vector side with nulls) and
  * a NULL shift element (zip_with would yield a null residual element,
  * which no encode can consume) both throw — a silently-dropped or
  * garbage-encoded row would vanish from the index under an inner
  * join, the silent-data-loss trap this codebase guards everywhere. */
case class PqEncodeShiftMicro(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {

  override def dataType: DataType = PqEncodeCore.outType

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(DoubleType | FloatType, _), ArrayType(DoubleType, _), cb)
          if PqEncodeCore.cbTypeOk(cb) =>
        MicroArgmin.constantOnly(prettyName, third)
      case _ => TypeCheckResult.TypeCheckFailure(
        s"pq_encode_shift_micro expects (array<double> | array<float>, array<double>, " +
          s"${PqEncodeCore.cbType.sql}), got (${first.dataType.sql}, ${second.dataType.sql}, " +
          s"${third.dataType.sql})")
    }

  @transient private lazy val embPreScaled: Boolean = first.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def nullable: Boolean = true

  @transient private lazy val core: PqEncodeCore = PqEncodeCore.decode(third.eval(null))

  override def eval(input: InternalRow): Any = {
    val c = core
    if (c == null) return null
    val a = first.eval(input)
    if (a == null) return null
    val b = second.eval(input)
    if (b == null) return null
    val emb = a.asInstanceOf[ArrayData]
    val shift = b.asInstanceOf[ArrayData]
    val n = emb.numElements()
    val ex = c.loadMicro(emb, n, embPreScaled)
    val sn = shift.numElements()
    require(sn <= n,
      s"pq_encode_shift_micro: shift length $sn exceeds vector length $n " +
        "(zip_with would null-pad the vector side; in contract both are d=64)")
    var i = 0
    while (i < sn) {
      require(!shift.isNullAt(i),
        s"pq_encode_shift_micro: null shift element at $i " +
          "(would silently encode garbage / drop the row from the index)")
      ex(i) -= shift.getDouble(i); i += 1
    }
    c.encode(ex, n)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "pq_encode_shift_micro"
}

object PqEncodeMicro {
  /** Idempotently registers `pq_encode_micro(em, cbs)` and
    * `pq_encode_shift_micro(em, shift, cbs)`. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "pq_encode_micro", exprs => PqEncodeMicro(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "pq_encode_shift_micro",
      exprs => PqEncodeShiftMicro(exprs(0), exprs(1), exprs(2)), "built-in")
  }
}
