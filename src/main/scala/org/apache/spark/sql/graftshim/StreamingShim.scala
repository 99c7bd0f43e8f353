package org.apache.spark.sql.graftshim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The Spark-internal touchpoint the lakehouse streaming source
  * needs: a v1 `Source.getBatch` must return a DataFrame whose plan
  * is flagged `isStreaming` (MicroBatchExecution asserts it), and the
  * public API offers no way to flag a derived batch plan. This shim
  * re-leafs the batch plan as a `LogicalRDD(isStreaming = true)` over
  * its lazily-planned RDD — the same move Spark's own FileStreamSource
  * and MemoryStream make through their `private[sql]`
  * `internalCreateDataFrame(…, isStreaming = true)`. The object lives
  * in an `org.apache.spark.sql` subpackage solely to satisfy that
  * `private[sql]` boundary, as [[RelationShim]] does. Collapsing
  * to a single opaque leaf also keeps any joins inside the batch plan
  * (tombstone anti-joins of a full-snapshot read) invisible to the
  * streaming planner's stream-stream join checks — correct, because
  * the rows are fixed at getBatch time by the immutable snapshot. */
object StreamingShim {
  def asStreaming(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[ClassicSession]
    val qe = df.queryExecution
    Dataset.ofRows(spark,
      LogicalRDD(qe.analyzed.output, qe.toRdd, isStreaming = true)(spark))
  }
}
