package lakebench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{JsonDocSource, Lakehouse, MaterializedView}
import graft.sources.MaterializedView.{CountAll, SumCol, ViewDef}

/** `medallion_ingest`: the reference bronze → silver → gold pipeline run
  * as repeated ingest. Each operation lands one generated batch of order
  * documents: read with [[JsonDocSource]] (malformed lines quarantined),
  * orders not landed before enriched into silver by `appendOnce`, the
  * whole batch upserted into bronze by parsed `MERGE INTO` on the
  * registered table (re-sent orders update their status), and the gold
  * revenue-by-(city, country) view folded forward by `refresh`. */
final class Ingest(spark: SparkSession, inputs: String, t: Tracer) extends Workload {
  private val batches = new java.io.File(s"$inputs/ingest").listFiles()
    .map(_.getPath).filter(_.endsWith(".json")).sorted.toIndexedSeq
  private val gold = ViewDef("gold_revenue", "silver_orders", Seq("city", "country"),
    Seq(SumCol("amount", "total_revenue"), CountAll("order_count")))
  private var lake: Lakehouse = _
  private val landed = mutable.ArrayBuffer.empty[Int]
  private val quarantined = mutable.ArrayBuffer.empty[Long]

  val opsPerRound = 1
  override val warmRounds = 4

  /** Silver: the reference's struct rebuild with the `country` literal,
    * plus flat group keys and an exact decimal amount for gold. */
  private def silver(docs: DataFrame): DataFrame = docs.select(
    col("order_id"), col("customer_id"), col("order_date"),
    col("total_amount").cast("decimal(12,2)").as("amount"),
    col("shipping_address.city").as("city"),
    lit("INDIA").as("country"),
    struct(col("shipping_address.city"), col("shipping_address.state"),
      col("shipping_address.zip"), lit("INDIA").as("country")).as("shipping_address"))

  def setup(l: Lakehouse): Unit = {
    lake = l
    landed.clear()
    quarantined.clear()
    val docs = JsonDocSource.readValid(spark, batches(0)).localCheckpoint(true)
    lake.createOrReplace(docs, "bronze_orders")
    lake.registerView("bronze_orders")
    lake.createOrReplace(silver(docs), "silver_orders")
    MaterializedView.create(lake, gold)
    landed += 0
    quarantined += 0L
  }

  def hasRound(round: Int): Boolean = round + 1 < batches.size

  def op(round: Int, i: Int): (String, String, () => Unit) = ("ingest", "", () => {
    val batch = round + 1
    val docs = t.span("docsrc.read") {
      JsonDocSource.read(spark, batches(batch)).localCheckpoint(true)
    }
    val bad = t.span("docsrc.read")(docs.where(col("_corrupt").isNotNull).count())
    t.count("docsrc.quarantined_rows", bad.toDouble)
    val valid = docs.where(col("_corrupt").isNull && col("order_id").isNotNull).drop("_corrupt")
    val fresh = valid.join(lake.read("bronze_orders").select("order_id"), Seq("order_id"), "left_anti")
    t.span("lake.write")(lake.appendOnce(silver(fresh), "silver_orders", batchId = batch.toLong))
    valid.createOrReplaceTempView("ingest_batch")
    t.span("lake.write")(spark.sql(
      """MERGE INTO bronze_orders USING ingest_batch
        |ON bronze_orders.order_id = ingest_batch.order_id
        |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    t.span("mview.refresh")(MaterializedView.refresh(lake, gold))
    landed += batch
    quarantined += bad
  })

  def checkData(): Map[String, Any] = Map(
    "batches" -> landed.toSeq,
    "quarantined" -> quarantined.toSeq,
    "gold" -> lake.read(gold.view)
      .select("city", "country", "total_revenue", "order_count")
      .collect().map(Main.cells).toSeq,
    "bronze" -> lake.read("bronze_orders").select("order_id", "status")
      .collect().map(Main.cells).toSeq)
}
