package lakebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.sources.Lakehouse

/** A workload: a set-up that builds the initial lake state, and rounds
  * of operations run by one client in a closed loop. */
trait Workload {
  /** Operations per round; a run attempts whole rounds only. */
  def opsPerRound: Int
  /** Rounds run before measuring, left out of every statistic: enough
    * for the round latency to stop falling as the JIT catches up. */
  def warmRounds: Int = 1
  /** Build the initial state in `lake`. Called once per set-up
    * repetition, each time on a fresh root; the last one is used. */
  def setup(lake: Lakehouse): Unit
  /** Whether the inputs hold round `round`. */
  def hasRound(round: Int): Boolean
  /** Operation `i` of round `round`: (kind, read path, body). */
  def op(round: Int, i: Int): (String, String, () => Unit)
  /** What the runner checks against the generator's own records. */
  def checkData(): Map[String, Any]
  /** End-of-run per-layer figures of the workload's own layers. */
  def endMetrics(): Map[String, Double] = Map.empty
}

/** Runs one workload and writes its timings, check data and (traced)
  * per-layer metrics as one JSON file for `run.py`.
  *
  * Arguments: --workload --inputs --work --seconds --trace --out --cores.
  * A traced run also writes the raw trace (see [[Tracer.dump]]). */
object Main {
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val spark = GraftSession.builder(opt("cores").toInt)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t = new Tracer(spark, traced)
    val inputs = opt("inputs")
    val w: Workload = opt("workload") match {
      case "catalog_query" => new CatalogQuery(spark, inputs, t)
      case "medallion_ingest" => new Ingest(spark, inputs, t)
      case "curate_admit" => new CurateAdmit(spark, inputs, t)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    try Files.writeString(Paths.get(opt("out")), json.writeValueAsString(run(spark, w, t, work, seconds)))
    finally spark.stop()
  }

  private def run(spark: SparkSession, w: Workload, t: Tracer, work: String,
      seconds: Double): Map[String, Any] = {
    val startS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val jit0 = Tracer.jitMs()
    val roots = (0 until SetupRepeats).map(i => s"$work/lake-$i")
    val setupS = roots.map { root =>
      val t0 = System.nanoTime()
      w.setup(new Lakehouse(spark, root))
      (System.nanoTime() - t0) / 1e9
    }
    val jitPerSetup = (Tracer.jitMs() - jit0).toDouble / SetupRepeats
    roots.init.foreach(r => deleteTree(Paths.get(r)))
    val root = Paths.get(roots.last)

    var files = if (t.enabled) listFiles(root) else Map.empty[String, Long]
    def runRound(r: Int, warm: Boolean): Unit = (0 until w.opsPerRound).foreach { i =>
      val (kind, path, body) = w.op(r, i)
      val rec = t.op(r, kind, path, warm)(body())
      if (t.enabled) {
        val now = listFiles(root)
        val added = now.filter { case (f, n) => !files.get(f).contains(n) }
        val (data, meta) = added.partition(_._1.contains(".parquet"))
        rec.counts("lake.data_files_written") = data.size.toDouble
        rec.counts("lake.data_bytes_written") = data.values.sum.toDouble
        rec.counts("lake.meta_files_written") = meta.size.toDouble
        rec.counts("lake.meta_bytes_written") = meta.values.sum.toDouble
        files = now
      }
    }
    val w0 = System.nanoTime()
    (0 until w.warmRounds).foreach(r => runRound(r, warm = true))
    val warmS = (System.nanoTime() - w0) / 1e9
    // storage and memory are read after a fixed amount of work, the
    // set-up and warm-up, so they do not depend on how many rounds fit
    // in the run; the full collections fall before the measured time
    val probeBytes = listFiles(root).values.sum
    val probeHeapMb = liveHeapMb(spark)
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var r = w.warmRounds
    while (System.nanoTime() < deadline && w.hasRound(r)) {
      runRound(r, warm = false)
      r += 1
    }
    val measureS = (System.nanoTime() - t0) / 1e9
    val exhausted = System.nanoTime() < deadline

    val base = Map[String, Any](
      "start_s" -> startS,
      "setup_s" -> setupS,
      "warm_s" -> warmS,
      "measure_s" -> measureS,
      "inputs_exhausted" -> exhausted,
      "lake_bytes" -> probeBytes,
      "live_heap_mb" -> probeHeapMb,
      "probe_rounds" -> w.warmRounds,
      "ops" -> t.ops.map(o => Map(
        "round" -> o.round, "kind" -> o.kind, "path" -> o.path, "warm" -> o.warm,
        "ok" -> o.ok, "err" -> o.err, "ms" -> o.ms, "cpu_ms" -> o.cpuMs)),
      "check" -> w.checkData())
    if (!t.enabled) base
    else {
      val lake = new Lakehouse(spark, root.toString)
      val live = lake.tableNames().map(tb => lake.filesDf(tb).count()).sum
      val layers = t.layerMetrics(w.endMetrics() ++ Map(
        "lake.live_files" -> live.toDouble,
        "jvm.jit_ms" -> jitPerSetup))
      base + ("layers" -> layers) + ("trace" -> t.dump())
    }
  }

  /** The heap the JVM's live data holds: the heap in use after a full
    * collection. Spark frees the blocks of datasets that are no longer
    * referenced from its cleaner thread, only after a collection has
    * found them unreachable, so the collection is repeated until those
    * are gone too (three rounds settle within 0.1 MB). */
  def liveHeapMb(spark: SparkSession): Double = {
    (0 until 3).foreach { _ =>
      org.apache.spark.LakebenchBus.drain(spark.sparkContext)
      System.gc()
      Thread.sleep(300)
    }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Relative path → size of every regular file under `root`. */
  def listFiles(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  /** Canonical string form of a result row, as the runner formats its
    * independent answers: decimals in plain notation, nulls as null. */
  def cells(r: org.apache.spark.sql.Row): Seq[Any] = (0 until r.length).map { i =>
    r.get(i) match {
      case null => null
      case d: java.math.BigDecimal => d.toPlainString
      case v => v.toString
    }
  }
}
