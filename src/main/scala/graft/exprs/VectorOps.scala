package graft.exprs

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.DataTypeMismatch
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Fused cosine similarity over two float-array columns (guide §1.2 step 2:
  * per-task work) — replaces the triple interpreted HOF fold
  * (`aggregate(zip_with(a, b, x*y))`, `aggregate(a, v*v)`,
  * `aggregate(b, v*v)`) with one loop per row while reproducing its
  * semantics EXACTLY:
  *
  *  - double precision, strict left-to-right accumulation (the fold order —
  *    bit-identical to DuckDB's list_cosine_similarity on DOUBLE[], which
  *    the ANN oracles depend on),
  *  - zip_with pads the shorter array with nulls, a null×y product nulls
  *    the whole dot fold (acc + null = null); a null element likewise nulls
  *    its norm fold; any null component nulls the result,
  *  - zero-length / zero-norm inputs follow the fold's Divide exactly:
  *    raise under ANSI mode (the session default), null with ANSI off —
  *    the flag is captured at construction like Spark's own arithmetic.
  *
  * VectorOpsSpec asserts value-equality against the replaced fold on
  * adversarial inputs; the ANN oracles (q_ann_topk/lsh/ivf*, q_embed_dups)
  * pin it end-to-end.
  */
object VectorOps {

  /** Cosine of two float/double arrays per the fold semantics above;
    * `aDouble`/`bDouble` say whether the element type is double (else
    * float, widened exactly as `cast("double")` does). Returns
    * java.lang.Double or null. */
  def cosineSim(a: ArrayData, b: ArrayData,
      aDouble: Boolean, bDouble: Boolean, failOnZero: Boolean): java.lang.Double = {
    if (a == null || b == null) return null
    val la = a.numElements()
    val lb = b.numElements()
    val n = math.max(la, lb)
    def elemA(i: Int): Double = if (aDouble) a.getDouble(i) else a.getFloat(i).toDouble
    def elemB(i: Int): Double = if (bDouble) b.getDouble(i) else b.getFloat(i).toDouble
    // dot: fold over zip_with(a, b) — null product (padding or null
    // element) nulls the accumulator permanently
    var dot = 0.0
    var dotNull = false
    var i = 0
    while (i < n && !dotNull) {
      if (i >= la || i >= lb || a.isNullAt(i) || b.isNullAt(i)) dotNull = true
      else dot += elemA(i) * elemB(i)
      i += 1
    }
    // norms: fold over each array alone — any null element nulls the fold
    var na = 0.0
    var naNull = false
    i = 0
    while (i < la && !naNull) {
      if (a.isNullAt(i)) naNull = true
      else { val v = elemA(i); na += v * v }
      i += 1
    }
    var nb = 0.0
    var nbNull = false
    i = 0
    while (i < lb && !nbNull) {
      if (b.isNullAt(i)) nbNull = true
      else { val v = elemB(i); nb += v * v }
      i += 1
    }
    if (dotNull || naNull || nbNull) null
    else {
      val denom = math.sqrt(na) * math.sqrt(nb)
      // mirror Divide on a zero divisor (zero-norm or empty vectors): ANSI
      // raises, non-ANSI yields null — never a silent Inf/NaN. The oracled
      // data never produces this input class.
      if (denom == 0.0) {
        if (failOnZero)
          throw new ArithmeticException(
            "[DIVIDE_BY_ZERO] Division by zero in cosine_sim (zero-norm or empty vector)")
        null
      } else java.lang.Double.valueOf(dot / denom)
    }
  }

  def cosineSim(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.toColumn(
      CosineSim(ColumnBridge.toExpression(a), ColumnBridge.toExpression(b)))
  }
}

/** array<float> × array<float> → cosine similarity (double, null on null
  * input/elements — see [[VectorOps.cosineSim]]). */
case class CosineSim(left: Expression, right: Expression,
    failOnZero: Boolean = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
  extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  /** Both arguments must be float or double arrays, checked at analysis
    * so misuse fails before any codegen or execution. */
  override def checkInputDataTypes(): TypeCheckResult =
    Seq(left, right).zipWithIndex.collectFirst {
      case (e, i) if !isVector(e.dataType) =>
        DataTypeMismatch(
          errorSubClass = "UNEXPECTED_INPUT_TYPE",
          messageParameters = Map(
            "paramIndex" -> (if (i == 0) "first" else "second"),
            "requiredType" -> "(\"ARRAY<FLOAT>\" or \"ARRAY<DOUBLE>\")",
            "inputSql" -> s"\"${e.sql}\"",
            "inputType" -> s"\"${e.dataType.sql}\""))
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)

  private def isVector(t: DataType): Boolean = t match {
    case ArrayType(DoubleType | FloatType, _) => true
    case _ => false
  }

  private def isDouble(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == DoubleType
  // resolved once, not per row (the interpreted path matters under
  // codegen fallback / wholeStage=false)
  private lazy val leftIsDouble = isDouble(left)
  private lazy val rightIsDouble = isDouble(right)

  override def eval(input: InternalRow): Any = {
    val r = VectorOps.cosineSim(
      left.eval(input).asInstanceOf[ArrayData],
      right.eval(input).asInstanceOf[ArrayData],
      leftIsDouble, rightIsDouble, failOnZero)
    if (r == null) null else r.doubleValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = VectorOps.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val leftGen = left.genCode(ctx)
    val rightGen = right.genCode(ctx)
    val boxed = ctx.freshName("cosBoxed")
    val resultCode =
      s"""java.lang.Double $boxed = $cls.cosineSim(
         |  ${leftGen.isNull} ? null : ${leftGen.value},
         |  ${rightGen.isNull} ? null : ${rightGen.value},
         |  $leftIsDouble, $rightIsDouble, $failOnZero);
         |boolean ${ev.isNull} = ($boxed == null);
         |double ${ev.value} = ${ev.isNull} ? 0.0 : $boxed.doubleValue();
         |""".stripMargin
    ev.copy(code = code"${leftGen.code}\n${rightGen.code}\n$resultCode")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_sim"
}
