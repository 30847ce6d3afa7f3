package graft.functions.native

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries heavy-hitters summary as a mergeable distributed
  * aggregate: `graft_heavy_hitters(item, k)` returns the candidate item
  * set (array&lt;string&gt;, sorted) of a k-counter MG sketch over the
  * item stream.
  *
  * Guarantee (the classic MG bound, preserved under the
  * mergeable-summaries merge of Agarwal et al., PODS'12): every item
  * whose true frequency exceeds n/k appears in the result, regardless
  * of partitioning or merge order. The CANDIDATE set beyond that bound
  * is merge-order-dependent — by design the caller re-counts candidates
  * exactly (a cheap semi-join pass) and takes its top-N from exact
  * counts, so the end-to-end result is deterministic whenever the true
  * top-N all clear the n/k bound.
  *
  * Why this beats `groupBy(item).count` at 100 TB: the full group-by
  * shuffles the entire universe of distinct items (for n-grams, ~the
  * corpus itself) to build counts that are then thrown away for all but
  * the head. The sketch carries at most k-1 counters per partition
  * through the partial/final merge — O(k) bytes per task, one narrow
  * final merge — and the follow-up exact pass shuffles only rows
  * matching the ≤k-1 candidates.
  *
  * Update is amortized O(1): a decrement round costs O(k) but retires
  * ≥k-1 units of inserted weight, so total decrement work is bounded by
  * the stream length.
  */
case class HeavyHittersAgg(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]]
  with UnaryLike[Expression] with ExpectsInputTypes {

  require(k >= 2, s"heavy-hitters sketch needs k >= 2, got $k")

  override def prettyName: String = "graft_heavy_hitters"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[String, Long],
                      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v == null) return buf
    val item = v.asInstanceOf[UTF8String].toString
    buf.get(item) match {
      case Some(c) => buf.update(item, c + 1L)
      case None if buf.size < k - 1 => buf.update(item, 1L)
      case None =>
        // full and absent: the arriving unit cancels one unit of every
        // counter (the MG decrement); entries at zero vacate their slot
        val dead = mutable.ArrayBuffer.empty[String]
        buf.keysIterator.foreach { key =>
          val nc = buf(key) - 1L
          if (nc <= 0L) dead += key else buf.update(key, nc)
        }
        dead.foreach(buf.remove)
    }
    buf
  }

  override def merge(buf: mutable.HashMap[String, Long],
                     other: mutable.HashMap[String, Long])
      : mutable.HashMap[String, Long] = {
    other.foreach { case (item, c) =>
      buf.update(item, buf.getOrElse(item, 0L) + c)
    }
    if (buf.size > k - 1) {
      // mergeable-summaries reduction: subtract the k-th largest count
      // from every counter; ≤ k-1 strictly-positive counters survive
      // and the per-item undercount stays bounded by n/k overall
      val counts = buf.values.toArray
      java.util.Arrays.sort(counts)
      val kth = counts(counts.length - (k - 1) - 1)
      val dead = mutable.ArrayBuffer.empty[String]
      buf.keysIterator.foreach { key =>
        val nc = buf(key) - kth
        if (nc <= 0L) dead += key else buf.update(key, nc)
      }
      dead.foreach(buf.remove)
    }
    buf
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    val items = buf.keysIterator.map(UTF8String.fromString).toArray
    java.util.Arrays.sort(items.asInstanceOf[Array[AnyRef]])
    new GenericArrayData(items.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (item, c) =>
      val b = item.getBytes("UTF-8")
      out.writeInt(b.length)
      out.write(b)
      out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf.update(new String(b, "UTF-8"), in.readLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HeavyHittersAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HeavyHittersAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
