package graft.functions

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType}

/** Bounded top-K as a first-class aggregate: `topk_min(e, k)` returns the K
  * smallest values of `e` per group as an ascending array, with aggregation
  * state CAPPED AT K ELEMENTS in every phase.
  *
  * This is the scale-correct form of "keep K rows per key" (per-source
  * frequency capping, domain capping in web-corpus curation — q97;
  * reference behavior class: curation-time selection, readme.md data
  * curation tier). The naive form is a `row_number() OVER (PARTITION BY
  * key ORDER BY …) <= K` window, which shuffles EVERY row of a key to one
  * task and sorts it there — a source holding 30 % of a 100 TB corpus
  * serializes through one reducer. This aggregate instead rides Spark's
  * two-phase aggregation: the partial (map-side) instance sees only its
  * input partition and keeps at most K elements, the shuffle then carries
  * ≤ K·partitions tiny rows per key instead of the key's full row set, and
  * the final merge folds partials in O(K) each. A hot key costs the same
  * shuffle bytes as a cold one.
  *
  * Implementation: a [[TypedImperativeAggregate]] over a bounded max-heap
  * (`PriorityQueue` under the type's interpreted ordering — head is the
  * LARGEST kept value, evicted when a smaller candidate arrives). Elements
  * are any orderable type incl. structs (lexicographic), so callers pack
  * `struct(orderCol, tieBreaker, payload…)` exactly like `max(struct(…))`
  * argmax. Serialization between phases is one UnsafeRow per element,
  * length-prefixed. [[TopKAggregate.topKMin]] is the Column entry.
  */
object TopKAggregate {

  /** K smallest values of `e` per group, ascending. `e` must be an
    * orderable type (atomic, struct, array). */
  def topKMin(e: Column, k: Int): Column =
    column(TopKMin(expression(e), k).toAggregateExpression())
}

/** The aggregate function behind `topk_min(e, k)` — see [[TopKAggregate]]. */
case class TopKMin(child: Expression, k: Int,
                   mutableAggBufferOffset: Int = 0,
                   inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.PriorityQueue[Any]] {

  require(k > 0, s"topk_min: k must be positive, got $k")

  override def children: Seq[Expression] = Seq(child)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKMin =
    copy(child = newChildren.head)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TypeUtils.checkForOrderingExpr(child.dataType, prettyName)

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def prettyName: String = "topk_min"

  /** Natural ascending ordering of the element type (lexicographic for
    * structs) — the same ordering ORDER BY would use. */
  @transient private lazy val ord: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(child.dataType)

  /** One-field UnsafeRow codec for inter-phase serialization. */
  @transient private lazy val codec: UnsafeProjection =
    UnsafeProjection.create(Array(child.dataType))

  override def createAggregationBuffer(): mutable.PriorityQueue[Any] =
    new mutable.PriorityQueue[Any]()(ord) // max-heap: head = largest kept

  /** Insert with copy-on-enqueue: `v` may point into the scanner's reused
    * row, so it is deep-copied ONLY when it actually enters the heap — once
    * the buffer is full, the overwhelmingly common full-scan case is a
    * rejected candidate, which must stay allocation-free. */
  private def insert(buf: mutable.PriorityQueue[Any], v: Any): Unit =
    if (buf.size < k) buf.enqueue(InternalRow.copyValue(v))
    else if (ord.lt(v, buf.head)) { buf.dequeue(); buf.enqueue(InternalRow.copyValue(v)) }

  /** Merge-side insert: `v` is already detached (deserialized or copied). */
  private def insertOwned(buf: mutable.PriorityQueue[Any], v: Any): Unit =
    if (buf.size < k) buf.enqueue(v)
    else if (ord.lt(v, buf.head)) { buf.dequeue(); buf.enqueue(v) }

  override def update(buf: mutable.PriorityQueue[Any],
                      input: InternalRow): mutable.PriorityQueue[Any] = {
    val v = child.eval(input)
    if (v != null) insert(buf, v)
    buf
  }

  override def merge(buf: mutable.PriorityQueue[Any],
                     other: mutable.PriorityQueue[Any]): mutable.PriorityQueue[Any] = {
    other.foreach(insertOwned(buf, _))
    buf
  }

  override def eval(buf: mutable.PriorityQueue[Any]): Any =
    new GenericArrayData(buf.toArray.sorted(ord))

  override def serialize(buf: mutable.PriorityQueue[Any]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { v =>
      val row = codec(InternalRow(v))
      out.writeInt(row.getSizeInBytes)
      row.writeToStream(out, null)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[Any] = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val rowBytes = new Array[Byte](len)
      in.readFully(rowBytes)
      val row = new UnsafeRow(1)
      row.pointTo(rowBytes, len)
      buf.enqueue(InternalRow.copyValue(row.get(0, child.dataType)))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKMin =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): TopKMin =
    copy(inputAggBufferOffset = newOffset)
}
