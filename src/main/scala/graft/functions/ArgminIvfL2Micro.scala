package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** A candidate set decoded from its query constant: `ids(j)` is the
  * j-th `cand`, `vecs(j)` its `cvec`. Public because generated code
  * (outside `graft.functions`) reads it through [[ArgminL2Micro]]. */
final class Cands(val ids: Array[Int], val vecs: Array[Array[Double]])

object Cands {
  /** Decodes an `array<struct<cand:int, cvec:array<double>>>` value;
    * null stays null. */
  def decode(v: Any): Cands = v match {
    case null => null
    case arr: ArrayData =>
      val k = arr.numElements()
      val ids = new Array[Int](k)
      val vecs = new Array[Array[Double]](k)
      var j = 0
      while (j < k) {
        val s = arr.getStruct(j, 2)
        ids(j) = s.getInt(0)
        vecs(j) = s.getArray(1).toDoubleArray()
        j += 1
      }
      new Cands(ids, vecs)
  }
}

/** The IVF members table decoded from its query constant
  * `array<struct<cell:int, cands:array<struct<cand:int,
  * cvec:array<double>>>>>`: cell ids sorted ascending, each with its
  * member [[Cands]]. A cell id may appear once. */
final class Members(cells: Array[Int], sets: Array[Cands]) {
  /** The members of `cell`, or null when the table has no such cell. */
  def of(cell: Int): Cands = {
    val i = java.util.Arrays.binarySearch(cells, cell)
    if (i < 0) null else sets(i)
  }
}

object Members {
  def decode(v: Any): Members = v match {
    case null => null
    case arr: ArrayData =>
      val rows = (0 until arr.numElements()).map { x =>
        val s = arr.getStruct(x, 2)
        (s.getInt(0), Cands.decode(s.getArray(1)))
      }.sortBy(_._1)
      val cells = rows.map(_._1).toArray
      require(cells.distinct.length == cells.length,
        "members table lists a cell more than once")
      new Members(cells, rows.map(_._2).toArray)
  }
}

/** The IVF family on top of [[ArgminL2Micro]]:
  *
  *  - [[ArgminTop2L2Micro]]   best and second-best candidate, one scan;
  *  - [[ArgminTopNL2Micro]]   the n best candidates, one scan;
  *  - [[ArgminPairL2Micro]]   argmin over the union of two cells' members;
  *  - [[ArgminStructL2Micro]] argmin over one cell's members, with its
  *    distance.
  *
  * Arithmetic is element-for-element identical to [[L2Micro]] /
  * [[ArgminL2Micro]] (±0.5-truncate micro rounding, left-to-right
  * accumulation, early exit against the current bound, ties toward the
  * smaller cand), so all of them agree bit-for-bit with the oracle's
  * `ROW_NUMBER() OVER (ORDER BY dist, cand)`.
  *
  * Every candidate-side argument is a QUERY CONSTANT (a literal or an
  * uncorrelated scalar subquery); analysis rejects one that references
  * input columns ([[constantOnly]]). The pair and struct forms take the
  * whole members table as that constant and index it by cell-id
  * columns, so no per-row join carries member arrays. Each expression
  * instance decodes its constant once into primitive arrays.
  *
  * All are interpreted ([[CodegenFallback]]): the k·d multiply-add loop
  * dominates per-row cost, and it runs on primitive arrays either way;
  * fallback costs one boxed call per row.
  */
private[functions] object MicroArgmin {

  val candType: DataType = ArrayType(StructType(Seq(
    StructField("cand", IntegerType), StructField("cvec", ArrayType(DoubleType)))))

  val membersType: DataType = ArrayType(StructType(Seq(
    StructField("cell", IntegerType), StructField("cands", candType))))

  def isCandType(dt: DataType): Boolean = dt match {
    case ArrayType(StructType(Array(StructField(_, IntegerType, _, _),
                                    StructField(_, ArrayType(DoubleType, _), _, _))), _) => true
    case _ => false
  }

  def isMembersType(dt: DataType): Boolean = dt match {
    case ArrayType(StructType(Array(StructField(_, IntegerType, _, _),
                                    StructField(_, c, _, _))), _) => isCandType(c)
    case _ => false
  }

  /** Success iff `arg` reads no input column: a literal or an
    * uncorrelated scalar subquery. A correlated subquery references its
    * outer columns and fails too. */
  def constantOnly(fn: String, arg: Expression): TypeCheckResult =
    if (arg.references.isEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fn: the candidate argument must be a query constant (a literal or an " +
        s"uncorrelated scalar subquery), but ${arg.sql} reads input columns")

  /** emb floats → micro units, the exact ArgminL2Micro/L2Micro rounding. */
  def microRound(emb: ArrayData): Array[Double] = {
    val n = emb.numElements()
    val ex = new Array[Double](n)
    var i = 0
    while (i < n) {
      val m = emb.getFloat(i).toDouble * 1000000.0
      ex(i) = if (m >= 0) math.floor(m + 0.5) else math.ceil(m - 0.5)
      i += 1
    }
    ex
  }

  /** Best-so-far (dist, cand) under the family's order. */
  final class Best {
    var d: Double = Double.PositiveInfinity
    var c: Int = Int.MaxValue
    var found: Boolean = false

    /** Folds every candidate of `cs` into the best-so-far, early-exiting
      * each accumulation once it passes the current bound. */
    def scan(ex: Array[Double], cs: Cands): Unit = {
      val n = ex.length
      val ids = cs.ids
      val vecs = cs.vecs
      var j = 0
      while (j < ids.length) {
        val cand = ids(j)
        val cv = vecs(j)
        val nn = math.min(n, cv.length)
        var acc = 0.0
        var i = 0
        while (i < nn && acc <= d) {
          val dd = ex(i) - cv(i)
          acc += dd * dd
          i += 1
        }
        if (i == nn && (acc < d || (acc == d && cand < c))) {
          d = acc; c = cand; found = true
        }
        j += 1
      }
    }
  }
}

/** TOP-2 candidates by (micro-L2 dist, cand) in ONE scan —
  * `argmin_top2_l2_micro(emb, cands) → struct<c1:int, c2:int>` where
  * c1 ≡ argmin_l2_micro and c2 is the second row of the (dist, cand)
  * order (c2 null when fewer than 2 candidates; whole struct null when
  * none). The IVF probe's coarse stage needs both. See [[MicroArgmin]]. */
case class ArgminTop2L2Micro(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  import MicroArgmin._

  override def dataType: DataType = StructType(Seq(
    StructField("c1", IntegerType, nullable = false),
    StructField("c2", IntegerType, nullable = true)))
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), r) if isCandType(r) => constantOnly(prettyName, right)
    case _ => TypeCheckResult.TypeCheckFailure(
      s"argmin_top2_l2_micro expects (array<float>, ${candType.sql}), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }

  @transient private lazy val cands: Cands = Cands.decode(right.eval(null))

  override def eval(input: InternalRow): Any = {
    val cs = cands
    if (cs == null || cs.ids.isEmpty) return null
    val a = left.eval(input)
    if (a == null) return null
    val ex = microRound(a.asInstanceOf[ArrayData])
    val n = ex.length
    val ids = cs.ids
    val vecs = cs.vecs
    // top-2 tracking under the (dist, cand) order; early exit against
    // the SECOND bound (a candidate beaten by both slots cannot place)
    var bd = Double.PositiveInfinity; var bc = Int.MaxValue; var bFound = false
    var sd = Double.PositiveInfinity; var sc = Int.MaxValue; var sFound = false
    var j = 0
    while (j < ids.length) {
      val c = ids(j)
      val cv = vecs(j)
      val nn = math.min(n, cv.length)
      var acc = 0.0
      var i = 0
      while (i < nn && acc <= sd) {
        val d = ex(i) - cv(i)
        acc += d * d
        i += 1
      }
      if (i == nn) {
        if (acc < bd || (acc == bd && c < bc)) {
          sd = bd; sc = bc; sFound = bFound
          bd = acc; bc = c; bFound = true
        } else if (acc < sd || (acc == sd && c < sc)) {
          sd = acc; sc = c; sFound = true
        }
      }
      j += 1
    }
    if (!bFound) return null
    InternalRow(bc, if (sFound) sc else null)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ArgminTop2L2Micro =
    copy(left = l, right = r)
  override def prettyName: String = "argmin_top2_l2_micro"
}

object ArgminTop2L2Micro {
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "argmin_top2_l2_micro", exprs => ArgminTop2L2Micro(exprs(0), exprs(1)), "built-in")
}

/** Argmin over the UNION of two cells' members —
  * `argmin_pair_l2_micro(emb, members, cell1, cell2) → int`, one scan
  * with a shared bound. `members` is the constant members table; a null
  * or absent `cell2` adds nothing, so the scan covers `cell1` only. A
  * `cell1` that is null or absent from the table yields null: callers
  * drop such rows before the call (the IVF probe semi-joins `cell1`
  * against the table's cells). See [[MicroArgmin]]. */
case class ArgminPairL2Micro(first: Expression, second: Expression, third: Expression,
    fourth: Expression) extends QuaternaryExpression with CodegenFallback {
  import MicroArgmin._

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (ArrayType(FloatType, _), mt, IntegerType, IntegerType) if isMembersType(mt) =>
        constantOnly(prettyName, second)
      case _ => TypeCheckResult.TypeCheckFailure(
        s"argmin_pair_l2_micro expects (array<float>, ${membersType.sql}, int, int), " +
          s"got (${first.dataType.sql}, ${second.dataType.sql}, ${third.dataType.sql}, " +
          s"${fourth.dataType.sql})")
    }

  @transient private lazy val members: Members = Members.decode(second.eval(null))

  override def eval(input: InternalRow): Any = {
    val ms = members
    if (ms == null) return null
    val embV = first.eval(input)
    val cell1 = third.eval(input)
    if (embV == null || cell1 == null) return null
    val c1 = ms.of(cell1.asInstanceOf[Int])
    if (c1 == null) return null
    val ex = microRound(embV.asInstanceOf[ArrayData])
    val best = new Best
    best.scan(ex, c1)
    val cell2 = fourth.eval(input)
    if (cell2 != null) {
      val c2 = ms.of(cell2.asInstanceOf[Int])
      if (c2 != null) best.scan(ex, c2)
    }
    if (best.found) best.c else null
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression,
      fo: Expression): ArgminPairL2Micro =
    copy(first = f, second = s, third = t, fourth = fo)
  override def prettyName: String = "argmin_pair_l2_micro"
}

object ArgminPairL2Micro {
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "argmin_pair_l2_micro",
      exprs => ArgminPairL2Micro(exprs(0), exprs(1), exprs(2), exprs(3)), "built-in")
}

/** TOP-N candidates by (micro-L2 dist, cand) in one scan —
  * `argmin_topn_l2_micro(emb, cands, n) → array<int>` (best-first, up to
  * n entries; empty candidates → null). Generalizes [[ArgminTop2L2Micro]]
  * for the `spark.graft.ivf.nprobe` operating knob: the probe stage
  * explodes the returned cells. The early-exit bound is the CURRENT n-th
  * best once the list is full — same monotone-partial-sum argument as
  * top-2. n is a foldable literal (the knob), small by construction; a
  * simple insertion array beats a heap at these sizes. See
  * [[MicroArgmin]]. */
case class ArgminTopNL2Micro(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  import MicroArgmin._

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(FloatType, _), r, IntegerType) if isCandType(r) =>
        if (third.foldable) constantOnly(prettyName, second)
        else TypeCheckResult.TypeCheckFailure("argmin_topn_l2_micro: n must be foldable")
      case _ => TypeCheckResult.TypeCheckFailure(
        s"argmin_topn_l2_micro expects (array<float>, ${candType.sql}, int), " +
          s"got (${first.dataType.sql}, ${second.dataType.sql}, ${third.dataType.sql})")
    }

  @transient private lazy val cands: Cands = Cands.decode(second.eval(null))

  override def eval(input: InternalRow): Any = {
    val cs = cands
    if (cs == null || cs.ids.isEmpty) return null
    val a = first.eval(input)
    val nV = third.eval(input)
    if (a == null || nV == null) return null
    val n = nV.asInstanceOf[Int]
    if (n <= 0) return null
    val ex = microRound(a.asInstanceOf[ArrayData])
    val ids = cs.ids
    val vecs = cs.vecs
    val k = ids.length
    val dims = ex.length
    val cap = math.min(n, k)
    val topD = new Array[Double](cap)
    val topC = new Array[Int](cap)
    var filled = 0
    var j = 0
    while (j < k) {
      val cand = ids(j)
      val cv = vecs(j)
      val nn = math.min(dims, cv.length)
      val bound = if (filled < cap) Double.PositiveInfinity else topD(cap - 1)
      var acc = 0.0
      var i = 0
      while (i < nn && acc <= bound) {
        val d = ex(i) - cv(i)
        acc += d * d
        i += 1
      }
      if (i == nn) {
        // insertion position under (dist, cand); skip if it falls off
        var p = filled
        while (p > 0 && (topD(p - 1) > acc || (topD(p - 1) == acc && topC(p - 1) > cand))) p -= 1
        if (p < cap) {
          val last = math.min(filled, cap - 1)
          var q = last
          while (q > p) { topD(q) = topD(q - 1); topC(q) = topC(q - 1); q -= 1 }
          topD(p) = acc; topC(p) = cand
          if (filled < cap) filled += 1
        }
      }
      j += 1
    }
    if (filled == 0) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(topC, filled))
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): ArgminTopNL2Micro =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "argmin_topn_l2_micro"
}

object ArgminTopNL2Micro {
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "argmin_topn_l2_micro",
      exprs => ArgminTopNL2Micro(exprs(0), exprs(1), exprs(2)), "built-in")
}

/** Argmin over one cell's members WITH its distance —
  * `argmin_struct_l2_micro(emb, members, cell) → struct<dist:double,
  * cand:int>`, null when `cell` is null or absent from the constant
  * members table. The general-nprobe probe path computes a per-(vector,
  * probed-cell) best and reduces across cells with
  * `min(struct(dist, cand))` — that aggregate needs the distance, which
  * [[ArgminL2Micro]] discards. Arithmetic identical to the family (see
  * [[MicroArgmin]]). */
case class ArgminStructL2Micro(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  import MicroArgmin._

  override def dataType: DataType = StructType(Seq(
    StructField("dist", DoubleType, nullable = false),
    StructField("cand", IntegerType, nullable = false)))
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(FloatType, _), mt, IntegerType) if isMembersType(mt) =>
        constantOnly(prettyName, second)
      case _ => TypeCheckResult.TypeCheckFailure(
        s"argmin_struct_l2_micro expects (array<float>, ${membersType.sql}, int), " +
          s"got (${first.dataType.sql}, ${second.dataType.sql}, ${third.dataType.sql})")
    }

  @transient private lazy val members: Members = Members.decode(second.eval(null))

  override def eval(input: InternalRow): Any = {
    val ms = members
    if (ms == null) return null
    val a = first.eval(input)
    val cell = third.eval(input)
    if (a == null || cell == null) return null
    val cs = ms.of(cell.asInstanceOf[Int])
    if (cs == null) return null
    val best = new Best
    best.scan(microRound(a.asInstanceOf[ArrayData]), cs)
    if (best.found) InternalRow(best.d, best.c) else null
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): ArgminStructL2Micro =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "argmin_struct_l2_micro"
}

object ArgminStructL2Micro {
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "argmin_struct_l2_micro", exprs => ArgminStructL2Micro(exprs(0), exprs(1), exprs(2)), "built-in")
}
