package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: nearest-centroid ARGMIN, fused.
  *
  * `argmin_l2_micro(emb: array<float>, cands: array<struct<cand:int,
  * cvec:array<double>>>) → int` returns the `cand` minimizing the
  * micro-scaled squared L2 distance [[L2Micro]] computes, with ties
  * broken toward the smaller `cand` — element-wise arithmetic identical
  * to `l2_micro` (same `±0.5`-truncate rounding, same left-to-right
  * accumulation), so the selected candidate matches the oracle's
  * `ORDER BY dist, cand LIMIT 1` bit-for-bit.
  *
  * Why an expression and not a plan: the straightforward shape —
  * crossJoin the centroid relation, compute k distances per vector,
  * reduce with an argmin aggregate — materializes n·k ROWS through the
  * whole-stage pipeline. The per-row machinery (~µs) costs more than
  * the 64 multiply-adds inside, and at the ×1000 self-bench (2M×10k)
  * those 2·10¹⁰ rows dominated q99/q177 wall-clock even after the
  * aggregation was made hash-based. Fusing the candidate loop into ONE
  * expression evaluates n rows total; per row it:
  *   - pre-rounds the embedding's micro units once (the fan-out re-rounds
  *     them k times), and
  *   - early-exits each candidate's accumulation once it exceeds the
  *     best-so-far (monotone partial sums — cannot change the argmin).
  *
  * `cands` is a QUERY CONSTANT: a literal or an uncorrelated scalar
  * subquery (`candsDf.scalar()`, `(SELECT collect_list(...) FROM ...)`
  * in SQL). Analysis rejects a candidate argument that references input
  * columns. Each expression instance decodes the constant once, from
  * `right.eval`, into primitive arrays ([[Cands]]); no row is read to do
  * it, so no decode can be stale.
  *
  * Null: a null embedding, a null constant or an empty candidate array
  * → null. The candidate array is scan-order-independent (explicit tie
  * handling), so callers need not sort the collect_list.
  */
case class ArgminL2Micro(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), r) if MicroArgmin.isCandType(r) =>
      MicroArgmin.constantOnly(prettyName, right)
    case _ => TypeCheckResult.TypeCheckFailure(
      s"argmin_l2_micro expects (array<float> | array<double>, ${MicroArgmin.candType.sql}), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }

  /** array<float> embeddings are raw and get the ×1e6 micro rounding;
    * array<double> embeddings are PRE-SCALED micro vectors (the SQ8/PQ
    * dequantized domain — already integer-valued) and are consumed
    * as-is. The distance arithmetic downstream is identical. */
  @transient private lazy val embPreScaled: Boolean = left.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def nullable: Boolean = true

  /** The decoded candidate constant (null for a null constant). Public:
    * the generated loop reads it through the expression reference. */
  @transient lazy val cands: Cands = Cands.decode(right.eval(null))

  override def eval(input: InternalRow): Any = {
    val cs = cands
    if (cs == null || cs.ids.isEmpty) return null
    val a = left.eval(input)
    if (a == null) return null
    val emb = a.asInstanceOf[ArrayData]
    val ex =
      if (embPreScaled) emb.toDoubleArray() else MicroArgmin.microRound(emb)
    val best = new MicroArgmin.Best
    best.scan(ex, cs)
    if (best.found) best.c else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the constant is never generated as code: the loop reads the decoded
    // arrays from this instance, which the executor decodes once
    val self = ctx.addReferenceObj("argmin", this)
    val exBuf = ctx.addMutableState("double[]", "argminEx")
    val a = left.genCode(ctx)
    val cs = ctx.freshName("cs")
    val ids = ctx.freshName("ids")
    val vecs = ctx.freshName("vecs")
    val k = ctx.freshName("k")
    val n = ctx.freshName("n")
    val i = ctx.freshName("i")
    val j = ctx.freshName("j")
    val i2 = ctx.freshName("i2")
    val m = ctx.freshName("m")
    val c = ctx.freshName("c")
    val cv = ctx.freshName("cv")
    val nn = ctx.freshName("nn")
    val acc = ctx.freshName("acc")
    val d = ctx.freshName("d")
    val bestD = ctx.freshName("bestD")
    val bestC = ctx.freshName("bestC")
    val found = ctx.freshName("found")
    val load =
      if (embPreScaled) s"$exBuf[$i] = ${a.value}.getDouble($i);"
      else
        s"""double $m = ((double) ${a.value}.getFloat($i)) * 1000000.0;
           |      $exBuf[$i] = ($m >= 0) ? java.lang.Math.floor($m + 0.5) : java.lang.Math.ceil($m - 0.5);""".stripMargin
    ev.copy(code = code"""
       |${a.code}
       |boolean ${ev.isNull} = true;
       |${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
       |graft.functions.Cands $cs = $self.cands();
       |if (!${a.isNull} && $cs != null && $cs.ids().length > 0) {
       |  int[] $ids = $cs.ids();
       |  double[][] $vecs = $cs.vecs();
       |  int $k = $ids.length;
       |  int $n = ${a.value}.numElements();
       |  if ($exBuf == null || $exBuf.length < $n) $exBuf = new double[$n];
       |  for (int $i = 0; $i < $n; $i++) {
       |    $load
       |  }
       |  double $bestD = Double.POSITIVE_INFINITY;
       |  int $bestC = Integer.MAX_VALUE;
       |  boolean $found = false;
       |  for (int $j = 0; $j < $k; $j++) {
       |    int $c = $ids[$j];
       |    double[] $cv = $vecs[$j];
       |    int $nn = java.lang.Math.min($n, $cv.length);
       |    double $acc = 0.0;
       |    int $i2 = 0;
       |    for (; $i2 < $nn && $acc <= $bestD; $i2++) {
       |      double $d = $exBuf[$i2] - $cv[$i2];
       |      $acc += $d * $d;
       |    }
       |    if ($i2 == $nn && ($acc < $bestD || ($acc == $bestD && $c < $bestC))) {
       |      $bestD = $acc; $bestC = $c; $found = true;
       |    }
       |  }
       |  if ($found) { ${ev.isNull} = false; ${ev.value} = $bestC; }
       |}
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "argmin_l2_micro"
}

object ArgminL2Micro {
  /** Idempotently registers `argmin_l2_micro(emb, cands)`. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "argmin_l2_micro", exprs => ArgminL2Micro(exprs(0), exprs(1)), "built-in")
}
