package graft.functions

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries heavy-hitter summary (Misra & Gries 1982) as a native
  * bounded-state aggregate — the frequency sketch the relational
  * count-min (Skew.countMin) cannot be: count-min answers "how often is
  * item X" for items you already hold; Misra–Gries SURFACES the heavy
  * items themselves without a vocabulary-sized groupBy.
  *
  * This is the repo's first `TypedImperativeAggregate`: the aggregation
  * state is a counter map hard-capped at `k` entries, updated in O(1)
  * amortized per row, partially aggregated map-side like any Spark agg —
  * so the exchange carries ONE serialized ≤k-entry summary per partition
  * (a few KB), regardless of corpus size or vocabulary. Merge is the
  * mergeable-summaries combine (Agarwal et al. 2013): add counters
  * pairwise, then subtract the (k+1)-th largest count from every counter
  * and drop the non-positive — which preserves the MG guarantee across
  * any merge tree.
  *
  * Guarantee (spec-pinned): for every item, `est ≤ true ≤ est + floor(
  * n/(k+1))` where n is the stream length — so every item with true
  * count > n/(k+1) is IN the final summary no matter how partitions
  * were split or merged. Estimates and summary membership BELOW that
  * threshold are partition-order-dependent (like every MG
  * implementation); deterministic pipelines confirm candidates exactly
  * ([[graft.operators.Skew.heavyHittersExact]] — the bloomNewIds
  * posture: the sketch changes the plan, never the answer).
  *
  * Output: `array<struct<item string, est bigint>>` sorted by
  * (est desc, item asc). Null items are skipped (SQL agg convention).
  */
case class MisraGriesAgg(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  require(k >= 1 && k <= 100000, s"mg_topk capacity k ($k) must be in [1, 100000]")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("est", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"mg_topk requires STRING, got ${other.catalogString}")
  }

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[String, Long],
      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val key = v.asInstanceOf[UTF8String].toString
      buf.get(key) match {
        case Some(n) => buf.update(key, n + 1)
        case None if buf.size < k => buf.update(key, 1L)
        case None =>
          // classic MG step: pair the new item with one occurrence of
          // each tracked item — decrement all, drop zeros, discard the
          // new item. Amortized O(1): each decrement pass removes k
          // counts and each row adds at most one.
          val dead = mutable.ArrayBuffer.empty[String]
          buf.foreach { case (ki, vi) =>
            if (vi == 1L) dead += ki else buf.update(ki, vi - 1)
          }
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(buf: mutable.HashMap[String, Long],
      other: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    other.foreach { case (ki, vi) =>
      buf.update(ki, buf.getOrElse(ki, 0L) + vi)
    }
    if (buf.size > k) {
      // subtract the (k+1)-th largest count from everything, drop ≤0 —
      // the error this injects is bounded by the counts the two inputs
      // had already absorbed, keeping est ≤ true ≤ est + n/(k+1)
      val counts = buf.values.toArray
      java.util.Arrays.sort(counts)
      val cut = counts(buf.size - k - 1)
      val dead = mutable.ArrayBuffer.empty[String]
      buf.foreach { case (ki, vi) =>
        if (vi <= cut) dead += ki else buf.update(ki, vi - cut)
      }
      dead.foreach(buf.remove)
    }
    buf
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    val sorted = buf.toArray.sortBy { case (item, est) => (-est, item) }
    new GenericArrayData(sorted.map { case (item, est) =>
      InternalRow(UTF8String.fromString(item), est)
    })
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (ki, vi) =>
      val b = ki.getBytes("UTF-8")
      out.writeInt(b.length)
      out.write(b)
      out.writeLong(vi)
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

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGriesAgg =
    copy(child = newChildren.head)
  override def prettyName: String = "mg_topk"
}

object MisraGries {
  /** Column-level entry: `mg_topk(item, k)` — usable in `agg(...)` and in
    * SQL once registered (the analyzer wraps the bare AggregateFunction
    * in its AggregateExpression on resolution).
    */
  def mg_topk(item: Column, k: Int): Column = Registry.call("mg_topk", item, lit(k))
}
