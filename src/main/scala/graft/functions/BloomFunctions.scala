package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}

/** Column access to Spark's native Bloom-filter expressions
  * (`BloomFilterAggregate` / `BloomFilterMightContain` — the same kernels
  * Catalyst's runtime row-level filtering injects into shuffle joins).
  *
  * Why expose them directly instead of relying on
  * `spark.sql.optimizer.runtime.bloomFilter.enabled`: the optimizer's
  * injection is heuristic (creation-side size thresholds, selectivity
  * estimates) and silently declines when its cost model says no. A
  * decontamination join KNOWS its shape — the eval corpus is orders of
  * magnitude smaller than the training corpus — so building the filter
  * explicitly makes the map-side pruning deterministic, plan-assertable,
  * and available to any operator, not just the shapes the rule covers.
  *
  * Both functions stay inside whole-stage codegen; the serialized filter is
  * a reference-object field on [[BloomProbe]] (shipped once per stage via
  * the task closure, never a plan literal), bounded by `numBits/8` bytes
  * regardless of data volume.
  */
object BloomFunctions {

  /** Membership probe whose serialized filter is a REFERENCE-OBJECT FIELD,
    * not a child `Literal`. A literal-carried filter (the
    * `BloomFilterMightContain` contract) embeds numBits/8 bytes — ~1 MB at
    * the decontamination default — into the expression tree: every
    * optimizer/canonicalization pass walks it, the task binary re-ships it
    * per stage, and plan strings explode to MBs. Measured on q93: ~1.2 s of
    * the 1.9 s warm run was this driver-side plan handling. Here the bytes
    * live on the expression instance (shipped once via the task closure's
    * reference object, exactly like the NativeTextExpressions kernels), the
    * filter deserializes lazily once per executor instance, and probe
    * results are bit-identical — same spark-sketch `BloomFilter`, same
    * `mightContainLong`. */
  case class BloomProbe(child: Expression, bytes: Array[Byte])
      extends UnaryExpression {

    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a bigint key")
    override def dataType: DataType = BooleanType
    override def prettyName: String = "graft_bloom_probe"
    // keep the plan string small: never print the payload
    override def toString: String = s"graft_bloom_probe($child, ${bytes.length}B)"

    @transient private lazy val filter =
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bytes))

    override def nullSafeEval(input: Any): Any =
      filter.mightContainLong(input.asInstanceOf[Long])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("bloomProbe", this, classOf[BloomProbe].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = ((java.lang.Boolean) $self.nullSafeEval($c)).booleanValue();")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Aggregate a LongType column into a serialized Bloom filter (binary)
    * of `numBits` bits sized for `expectedItems` keys; 8 bits/item gives
    * a ~2% false-positive rate. */
  def bloomAgg(keys: Column, expectedItems: Long, numBits: Long): Column =
    column(BloomFilterAggregate(expression(keys), Literal(expectedItems),
      Literal(numBits), 0, 0).toAggregateExpression())

  /** Membership probe for a driver-held serialized filter: the bytes are a
    * reference-object field on [[BloomProbe]], so the plan never carries
    * the payload. Results are identical to `BloomFilterMightContain`. */
  def probe(bytes: Array[Byte], key: Column): Column =
    column(BloomProbe(expression(key), bytes))
}
