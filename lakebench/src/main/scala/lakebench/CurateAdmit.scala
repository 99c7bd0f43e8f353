package lakebench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Curate, Dedup}
import graft.sources.Lakehouse

/** `curate_admit`: training-data admission. The set-up lands a corpus
  * of generated text and builds its near-duplicate index. Each
  * operation appends one batch to the corpus, refreshes the index
  * (which reports every near-duplicate pair with a side in the batch),
  * scores the batch with the quality and language gates, and appends
  * the admitted documents — gates passed and not the later side of a
  * reported pair — to the training table. */
final class CurateAdmit(spark: SparkSession, inputs: String, t: Tracer) extends Workload {
  private val dir = s"$inputs/curate"
  private val batches = new java.io.File(dir).listFiles()
    .map(_.getPath).filter(p => p.contains("batch-") && p.endsWith(".json")).sorted.toIndexedSeq
  private var lake: Lakehouse = _
  private val outcomes = mutable.ArrayBuffer.empty[Map[String, Any]]

  val opsPerRound = 1
  val Tau = 0.5
  val MinQuality = 0.5

  private def docs(path: String) = spark.read.schema("doc_id LONG, text STRING").json(path)

  def setup(l: Lakehouse): Unit = {
    lake = l
    outcomes.clear()
    lake.createOrReplace(docs(s"$dir/corpus.json"), "corpus")
    Dedup.indexCreate(lake, "corpus", Tau)
  }

  def hasRound(round: Int): Boolean = round < batches.size

  def op(round: Int, i: Int): (String, String, () => Unit) = ("admit", "", () => {
    val batch = docs(batches(round)).localCheckpoint(true)
    t.span("lake.write")(lake.append(batch, "corpus"))
    val pairs = t.span("dedup.refresh") {
      Dedup.indexRefresh(lake, "corpus", Tau).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    val gated = t.span("curate.gates") {
      Curate.gates(batch).select("doc_id", "quality", "pred_lang").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    }
    val later = pairs.map(_._2).toSet
    val admitted = gated.collect {
      case (id, q, lang) if q >= MinQuality && lang == "en" && !later(id) => id
    }
    t.span("lake.write")(lake.append(batch.where(col("doc_id").isin(admitted: _*)), "train"))
    t.count("dedup.pairs", pairs.size.toDouble)
    t.count("curate.admitted", admitted.size.toDouble)
    outcomes += Map(
      "batch" -> round,
      "pairs" -> pairs.map(p => Seq(p._1, p._2, p._3)),
      "gated" -> gated.map(_._1),
      "admitted" -> admitted)
  })

  def checkData(): Map[String, Any] = Map(
    "ops" -> outcomes.toSeq,
    "train_rows" -> (if (outcomes.isEmpty) 0L else lake.read("train").count()))

  override def endMetrics(): Map[String, Double] = Map(
    "dedup.index_bytes" -> lake.tableNames().filter(_.startsWith("corpus_nd_"))
      .map(tb => Main.listFiles(java.nio.file.Paths.get(lake.tableRoot(tb).toUri.getPath)).values.sum)
      .sum.toDouble)
}
