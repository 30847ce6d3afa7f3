package graft.functions.native

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Hilbert curve index of a 2-D integer point — the space-filling
  * layout key with strictly better locality than the Morton/z-value
  * ([[graft.ops.ZOrder.zValue]]): every step of the Hilbert curve
  * moves to a 4-neighbor cell (|Δx|+|Δy| = 1, a property HilbertSpec
  * pins exhaustively), where the z-curve's quadrant seams jump
  * arbitrarily far — so a box predicate over Hilbert-clustered files
  * touches fewer, tighter index ranges (the layout behind
  * Delta/Iceberg's OPTIMIZE ... HILBERT and Amazon DynamoDB's
  * geo-hashing).
  *
  * Algorithm: the classic per-level quadrant rotate/flip fold
  * (Hilbert 1891; iterative form as in Warren, Hacker's Delight §16 /
  * the public xy2d form): for each level s = 2^k descending, the
  * quadrant bit pair (rx, ry) contributes s²·((3·rx) XOR ry) to the
  * index and the sub-square is rotated so the curve's entry/exit
  * corners line up. Flips complement around the FULL grid (n-1-v) —
  * equivalent below level k to the s-1-v form but never negative, so
  * the loop is branch-light and codegen-friendly.
  *
  * The expression is a native Catalyst node with `doGenCode` — an
  * unrolled Column-expression tree would duplicate the x/y subtrees
  * 3× per level (3^bits growth); here the loop is O(bits) generated
  * code inside WholeStageCodegen. Inputs are masked to `bits` bits
  * (the [[graft.ops.ZOrder.zValue]] convention: rank-normalize skewed
  * domains first). 2·bits ≤ 62 keeps the index in a signed long.
  */
case class HilbertIndexExpr(left: Expression, right: Expression, bits: Int)
  extends BinaryExpression with ExpectsInputTypes {

  require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")

  override def inputTypes: Seq[DataType] = Seq(LongType, LongType)

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_hilbert"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val n1 = (1L << bits) - 1L
    var x = a.asInstanceOf[Long] & n1
    var y = b.asInstanceOf[Long] & n1
    var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) != 0L) 1L else 0L
      val ry = if ((y & s) != 0L) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0L) {
        if (rx == 1L) { x = n1 - x; y = n1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("hx")
      val y = ctx.freshName("hy")
      val d = ctx.freshName("hd")
      val s = ctx.freshName("hs")
      val rx = ctx.freshName("hrx")
      val ry = ctx.freshName("hry")
      val t = ctx.freshName("ht")
      val n1 = (1L << bits) - 1L
      s"""
         |long $x = $a & ${n1}L;
         |long $y = $b & ${n1}L;
         |long $d = 0L;
         |for (long $s = ${1L << (bits - 1)}L; $s > 0L; $s >>= 1) {
         |  long $rx = (($x & $s) != 0L) ? 1L : 0L;
         |  long $ry = (($y & $s) != 0L) ? 1L : 0L;
         |  $d += $s * $s * ((3L * $rx) ^ $ry);
         |  if ($ry == 0L) {
         |    if ($rx == 1L) { $x = ${n1}L - $x; $y = ${n1}L - $y; }
         |    long $t = $x; $x = $y; $y = $t;
         |  }
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
