package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd cosine similarity over two float-array columns.
  *
  * The composable equivalent (aggregate ∘ zip_with ∘ transform,
  * graft.operators.Similarity.cosine) materializes intermediate arrays
  * per row; this expression is a single fused loop — no allocations, one
  * pass, whole-stage-codegen friendly. Accumulation is double,
  * element-order identical to the composed version, so results are
  * bit-equal and oracle-compatible.
  *
  * Preference order per the engine's design rules: compose built-ins
  * first; drop to a native Expression only for a measured hot path —
  * this is the ANN scoring kernel (SURVEY: similarity search at scale).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // no ExpectsInputTypes: AbstractDataType is private[sql] in Spark 4.
  // Inputs must be array<float>; wrong types surface as a cast error at
  // execution (the engine's Column-API entry point guarantees the type).
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  // ragged inputs and null ELEMENTS yield NULL — matching the composed
  // zip_with version, where the null pad/element poisons the whole
  // aggregate. Truncating ragged arrays or reading a null slot as 0.0
  // would silently score corrupt vectors. The element-null check is only
  // emitted when the static type admits null elements, so provably
  // null-free arrays keep the tight three-accumulator loop.
  override def nullable: Boolean = true

  private lazy val elementsNullable: Boolean =
    Seq(left.dataType, right.dataType).exists {
      case ArrayType(_, containsNull) => containsNull
      case _ => true // unresolved/unknown — take the safe path
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      if (elementsNullable && (x.isNullAt(i) || y.isNullAt(i))) return null
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val nullCheck = if (elementsNullable)
        s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
      else ""
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    double $xv = (double) $a.getFloat($i);
         |    double $yv = (double) $b.getFloat($i);
         |    $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}
