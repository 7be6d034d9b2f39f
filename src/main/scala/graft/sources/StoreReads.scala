package graft.sources

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Plan-walk seam for the autonomous tier: which snapshot stores does a
  * query read? A store's manifest-backed relation plans as a
  * `HadoopFsRelation` over a [[ManifestFileIndex]], which carries its root —
  * so the workload monitor can attribute queries to stores from the plan
  * alone (driver-side metadata, no data touched), exactly how it already
  * attributes aggregate shapes to reflections. */
object StoreReads {

  /** Distinct snapshot-store roots `plan` reads through manifest-backed
    * relations. Every store data dir has a manifest; a dir whose partition
    * layout the manifest relation declines reads through a plain parquet
    * scan and is invisible here. */
  def rootsOf(plan: LogicalPlan): Seq[String] =
    plan.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location match {
          case m: ManifestFileIndex => Seq(m.root)
          case _ => Nil
        }
        case _ => Nil
      }
    }.flatten.distinct
}
