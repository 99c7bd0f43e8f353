package org.apache.spark.sql.graftshim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}

/** A DataFrame over an already-built logical plan. The SQL front end
  * reads registered lakehouse names through a `DataSourceV2Relation`
  * it constructs itself (no catalog conf to mutate per statement), and
  * the public API offers no way to wrap a plan — `Dataset.ofRows` is
  * `private[sql]`, hence this subpackage, as for [[StreamingShim]]. */
object RelationShim {
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)
}
