package lakebench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.Lakehouse
import graft.sources.spj.GraftSpjCatalog

/** `catalog_query`: SQL over the catalog. The set-up commits a long
  * history (sliced appends with merge-on-read deletes between them) to
  * `q_orders`, a one-commit `q_customers`, and a catalog-only
  * `q_travel` with more snapshots than the catalog's layout cache
  * holds. Each operation is one statement of a seeded mix, read from
  * `statements.tsv`: half through the session-registered names, half
  * through [[GraftSpjCatalog]] as `lakecat.<table>`. */
final class CatalogQuery(spark: SparkSession, inputs: String, t: Tracer) extends Workload {
  private val dir = s"$inputs/catalog"
  private val plan: Map[String, Int] = lines("plan.txt").map { l =>
    val Array(k, v) = l.split("=", 2)
    k -> v.toInt
  }.toMap
  /** (id, path, kind, sql) in execution order. */
  private val statements = lines("statements.tsv").map(_.split("\t", 4)).map(a => (a(0), a(1), a(2), a(3)))
  private val results = mutable.ArrayBuffer.empty[Map[String, Any]]

  val opsPerRound: Int = plan("per_round")

  private def lines(name: String): IndexedSeq[String] =
    Files.readAllLines(Paths.get(dir, name)).asScala.filter(_.nonEmpty).toIndexedSeq

  def setup(lake: Lakehouse): Unit = {
    results.clear()
    val orders = spark.read
      .schema("order_id STRING, customer_id LONG, city STRING, country STRING, " +
        "status STRING, amount STRING, batch INT")
      .json(s"$dir/orders-*.json")
      .withColumn("amount", col("amount").cast("decimal(12,2)"))
      .localCheckpoint(true)
    val slices = plan("slices")
    (0 until plan("groups")).foreach { g =>
      lake.appendSlices(orders.where(col("batch").between(g * slices, (g + 1) * slices - 1)),
        col("batch") - g * slices, slices, "q_orders", replaceFirst = g == 0)
      val ids = lines(s"deletes-$g.txt")
      lake.deleteWhereMor(col("order_id").isin(ids: _*), "q_orders")
    }
    lake.createOrReplace(
      spark.read.schema("customer_id LONG, segment STRING").json(s"$dir/customers.json"),
      "q_customers")
    lake.appendSlices(
      spark.read.schema("k LONG, v LONG, batch INT").json(s"$dir/travel.json"),
      col("batch"), plan("travel"), "q_travel", replaceFirst = true)
    lake.registerView("q_orders")
    lake.registerView("q_customers")
    spark.conf.set("spark.sql.catalog.lakecat", classOf[GraftSpjCatalog].getName)
    spark.conf.set("spark.sql.catalog.lakecat.root", lake.tableRoot("q_orders").getParent.toString)
  }

  def hasRound(round: Int): Boolean = (round + 1) * opsPerRound <= statements.size

  def op(round: Int, i: Int): (String, String, () => Unit) = {
    val (id, path, kind, sql) = statements(round * opsPerRound + i)
    (kind, path, () => {
      try {
        val rows = spark.sql(sql).collect().map(Main.cells).toSeq
        results += Map("id" -> id, "rows" -> rows)
      } catch {
        case e: Exception =>
          results += Map("id" -> id, "err" -> String.valueOf(e.getMessage).linesIterator.nextOption().orNull)
          throw e
      }
    })
  }

  def checkData(): Map[String, Any] = Map("statements" -> results.toSeq)
}
