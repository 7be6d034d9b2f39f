package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Codegen'd vector kernels: the hot path for pairwise similarity at scale.
  *
  * The higher-order-function formulation (VectorFunctions.cosine) is
  * declarative but interpreted per element; on an O(n²) pair join that
  * dominates wall-clock. `VecCosine` fuses dot + both norms into ONE
  * whole-stage-codegen loop over primitive double arrays — no boxing, no
  * per-element lambda dispatch. Identical math (sequential left-to-right
  * accumulation), so results are bit-compatible with the HOF version and the
  * DuckDB oracle.
  *
  * The builders at the end return Columns that wrap the expressions
  * directly; the HOF forms in [[VectorFunctions]] stay as the reference the
  * specs compare against.
  */
object NativeVectorExpressions {

  case class VecCosine(left: Expression, right: Expression)
      extends BinaryExpression {

    override def checkInputDataTypes(): TypeCheckResult =
      if (Seq(left, right).forall(_.dataType == ArrayType(DoubleType)) ||
          Seq(left, right).forall(e => e.dataType.isInstanceOf[ArrayType] &&
            e.dataType.asInstanceOf[ArrayType].elementType == DoubleType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<double> inputs, got ${left.dataType} / ${right.dataType}")
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "vec_cosine"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val xs = a.asInstanceOf[ArrayData].toDoubleArray()
      val ys = b.asInstanceOf[ArrayData].toDoubleArray()
      val n = math.min(xs.length, ys.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) { dot += xs(i) * ys(i); na += xs(i) * xs(i); nb += ys(i) * ys(i); i += 1 }
      if (na > 0 && nb > 0) dot / (math.sqrt(na) * math.sqrt(nb)) else null
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val xs = ctx.freshName("xs"); val ys = ctx.freshName("ys")
        val n = ctx.freshName("n"); val i = ctx.freshName("i")
        val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
        s"""
          double[] $xs = $a.toDoubleArray();
          double[] $ys = $b.toDoubleArray();
          int $n = Math.min($xs.length, $ys.length);
          double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            $dot += $xs[$i] * $ys[$i];
            $na += $xs[$i] * $xs[$i];
            $nb += $ys[$i] * $ys[$i];
          }
          if ($na > 0.0 && $nb > 0.0) {
            ${ev.value} = $dot / (Math.sqrt($na) * Math.sqrt($nb));
          } else {
            ${ev.isNull} = true;
          }
        """
      })

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  case class VecDot(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (Seq(left, right).forall(e => e.dataType.isInstanceOf[ArrayType] &&
          e.dataType.asInstanceOf[ArrayType].elementType == DoubleType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<double> inputs, got ${left.dataType} / ${right.dataType}")
    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_dot"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val xs = a.asInstanceOf[ArrayData].toDoubleArray()
      val ys = b.asInstanceOf[ArrayData].toDoubleArray()
      val n = math.min(xs.length, ys.length)
      var dot = 0.0; var i = 0
      while (i < n) { dot += xs(i) * ys(i); i += 1 }
      dot
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val xs = ctx.freshName("xs"); val ys = ctx.freshName("ys")
        val n = ctx.freshName("n"); val i = ctx.freshName("i")
        s"""
          double[] $xs = $a.toDoubleArray();
          double[] $ys = $b.toDoubleArray();
          int $n = Math.min($xs.length, $ys.length);
          double ${ev.value}_acc = 0.0;
          for (int $i = 0; $i < $n; $i++) ${ev.value}_acc += $xs[$i] * $ys[$i];
          ${ev.value} = ${ev.value}_acc;
        """
      })

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** All `nBits` hyperplane sign bits in ONE pass over the vector (the HOF
    * formulation evaluates nBits separate interpreted dot products per row).
    * The seeded Gaussian planes are drawn in the identical RNG order as
    * VectorFunctions.hyperplaneBits, so the two paths are bit-identical. */
  case class HyperplaneBits(child: Expression, dim: Int, nBits: Int, seed: Long)
      extends UnaryExpression {

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<double>, got $t")
    }
    override def dataType: DataType = LongType
    override def prettyName: String = "hyperplane_bits"

    @transient private lazy val planes: Array[Array[Double]] = {
      val rnd = new scala.util.Random(seed)
      Array.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
    }

    override def nullSafeEval(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData].toDoubleArray()
      var bits = 0L
      var i = 0
      while (i < nBits) {
        val p = planes(i)
        val n = math.min(v.length, p.length)
        var d = 0.0; var j = 0
        while (j < n) { d += v(j) * p(j); j += 1 }
        if (d > 0) bits |= (1L << i)
        i += 1
      }
      bits
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("hyperplaneKernel", this, classOf[HyperplaneBits].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = ((java.lang.Long) $self.nullSafeEval($c)).longValue();")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Fused cosine similarity (`vec_cosine`). */
  def cosineFast(a: Column, b: Column): Column =
    column(VecCosine(expression(a), expression(b)))

  /** Fused dot product (`vec_dot`). */
  def dotFast(a: Column, b: Column): Column =
    column(VecDot(expression(a), expression(b)))

  /** Fused hyperplane signature (`hyperplane_bits`). */
  def hyperplaneBitsFast(v: Column, dim: Int, nBits: Int, seed: Long): Column =
    column(HyperplaneBits(expression(v), dim, nBits, seed))
}
