package graft.functions.native

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Count-Min cell projection: string key → array<long>(depth)
  * with element d = hash32("cm<d>:" ++ key) % width, where hash32 is
  * the portable md5-fold (first 4 digest bytes as an unsigned 32-bit
  * value — exactly `conv(substring(md5(s), 1, 8), 16, 10)`).
  *
  * Replaces the expression-chain form in [[graft.ops.Sketches]]
  * (`explode(array(struct(lit(d), hash32(concat(...)) % width)))`),
  * whose per-occurrence cost was `depth` × (UTF8String concat → md5 →
  * 32-char HEX STRING materialization → substring → base-16 string
  * parse). Here: ONE bytes conversion per key, `depth` raw digests
  * over (prefix bytes ++ key bytes), no hex round-trip — the n-gram
  * occurrence stream is this sketch's whole CPU (57.9 CPU-s on
  * x_count_min_incr at sf0.1, the suite's heaviest CPU row). Cells are
  * bit-identical: same bytes hashed, same unsigned fold, same
  * non-negative `% width`.
  *
  * A null key yields an array of `depth` nulls — posexplode then emits
  * (d, null) rows, exactly what the old chain's null-propagating
  * struct produced (a null key must keep contributing `depth` grouped
  * rows, not silently vanish).
  *
  * CodegenFallback: the md5 digest dominates; the loop shell is noise.
  */
case class CmCellsExpr(child: Expression, depth: Int, width: Int)
  extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  require(depth >= 1 && width >= 2,
    s"need depth >= 1 and width >= 2, got d=$depth w=$width")

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def prettyName: String = "graft_cm_cells"

  @transient private lazy val digest: java.security.MessageDigest =
    java.security.MessageDigest.getInstance("MD5")

  @transient private lazy val prefixes: Array[Array[Byte]] =
    (0 until depth).map(d =>
      s"cm$d:".getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray

  override def nullSafeEval(input: Any): Any = {
    val key = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      .getBytes
    val out = new Array[Any](depth)
    var d = 0
    while (d < depth) {
      digest.reset()
      digest.update(prefixes(d))
      val h = digest.digest(key)
      val v = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
      out(d) = v % width
      d += 1
    }
    new GenericArrayData(out)
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) {
      // null key → depth null cells (see class doc)
      new GenericArrayData(new Array[Any](depth))
    } else nullSafeEval(v)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
