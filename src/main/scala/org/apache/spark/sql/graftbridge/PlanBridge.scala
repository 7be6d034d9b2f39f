package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** graft's door to a `private[sql]` Spark API (the other is
  * [[ColumnBridge]]): wrapping a Catalyst [[LogicalPlan]] back into a
  * [[DataFrame]]. The workload advisor
  * observes Join subtrees inside analyzed plans and must later *profile* a
  * join's child (one key-distribution aggregation over its rows) and *rebuild*
  * the join salted — both need the subtree as a queryable frame, and
  * `Dataset.ofRows` is the supported-in-practice door every Spark extension
  * library (Delta Lake, Iceberg's Spark runtime) opens the same way: a helper
  * object inside the `org.apache.spark.sql` package hierarchy.
  *
  * `graft.pipeline` opens it for the other direction: a statement Spark's
  * parser read, with snapshot-bound names bound to their stores, becomes
  * the frame a script statement returns.
  *
  * Nothing else may import this from outside `graft.plans`,
  * `graft.streaming` and `graft.pipeline`.
  */
object PlanBridge {

  /** `Dataset.ofRows(spark, plan)` — the analyzed/queryable frame for a plan
    * subtree captured from another query's analyzed plan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The same frame with `isStreaming = true` on every leaf relation — what
    * a v1 streaming [[org.apache.spark.sql.execution.streaming.Source]]
    * must hand back from `getBatch` (MicroBatchExecution asserts it). This
    * is `FileStreamSource`'s own recipe (it builds `LogicalRelation(...,
    * isStreaming = true)` for each file batch); flipping the flag on an
    * already-planned frame keeps the batch DECLARATIVE, so filter pushdown
    * and column pruning from the streaming query still reach the scan. */
  def asStreaming(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val plan = df.queryExecution.analyzed.transform {
      case lr: LogicalRelation if !lr.isStreaming => lr.copy(isStreaming = true)
      case lr: LocalRelation if !lr.isStreaming => lr.copy(isStreaming = true)
      // LogicalRDD's copy takes a second (session, stats, constraints) list
      // with no public accessors; the only LogicalRDD the callers build is
      // `createDataFrame(emptyRDD, schema)` (an empty commit's frame), so a
      // provably-empty one rewrites to an empty streaming LocalRelation and
      // anything else is a misuse to fail loudly, not silently pass through
      // (MicroBatchExecution would then assert with a worse message).
      case lr: LogicalRDD if !lr.isStreaming =>
        require(lr.rdd.partitions.isEmpty,
          "asStreaming cannot retag a non-empty LogicalRDD leaf — build the " +
            "batch from relations (read paths) or local rows instead")
        LocalRelation(lr.output, Seq.empty, isStreaming = true)
    }
    ofRows(df.sparkSession, plan)
  }

  /** The frame as an OPAQUE streaming leaf: the batch plan compiles as-is
    * (joins stay batch joins) and its row RDD is wrapped `isStreaming =
    * true` — the MemoryStream/Kafka recipe. Use this when the batch
    * CONTAINS joins/aggregates: [[asStreaming]]'s leaf-flip would hand
    * those to the incremental planner, which treats them as stateful
    * stream-stream operators (and e.g. rejects LeftAnti). The plan is
    * recompiled from its (immutable) inputs on every call, so checkpoint
    * replay stays deterministic; the cost is that downstream streaming
    * operators can no longer push into it — fine for an already-computed
    * diff. */
  def asStreamingOpaque(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
      isStreaming = true)
  }

  /** An EMPTY streaming frame with `schema` — what a streaming `getBatch`
    * returns for a range that contains no payload commits. */
  def emptyStreaming(spark: SparkSession, schema: org.apache.spark.sql.types.StructType): DataFrame =
    ofRows(spark, org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema),
      Seq.empty, isStreaming = true))
}
