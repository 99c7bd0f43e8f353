package lakebench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One operation of a workload: its timing, outcome and the counters
  * the workload recorded while it ran. */
final class OpRec(val id: Int, val round: Int, val kind: String, val path: String,
    val warm: Boolean) {
  var ok = true
  var err: String = null
  var ms = 0.0
  var cpuMs = 0.0
  var startMs = 0L
  var endMs = 0L
  var gcMs = 0L
  val counts: mutable.Map[String, Double] = mutable.Map.empty
}

/** A span around one call the benchmark makes into a layer. */
final class SpanRec(val id: Int, val name: String, val op: Int, val parent: Int,
    val startNs: Long, val startMs: Long) {
  var endNs = 0L
  var endMs = 0L
  def ms: Double = (endNs - startNs) / 1e6
}

final class JobRec(val span: Int, val startMs: Long) {
  @volatile var endMs: Long = -1L
}

final class StageAcc {
  var completed = false
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
}

/** Operation bookkeeping for every run, and — in a traced run only —
  * spans, Spark jobs, tasks and query-planning phases.
  *
  * Spans are opened on the client thread; the innermost open span's id
  * rides on the Spark local property [[Tracer.SpanProp]], so each job
  * is attributed to the span that submitted it. Jobs submitted from a
  * thread that did not inherit the property fall back to the innermost
  * span whose interval holds the job's start. Query-planning phases
  * (which carry no local properties) are attributed to the operation
  * whose interval holds them; the client runs one operation at a time.
  * Everything stays in memory until [[layerMetrics]] aggregates it. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val ops: mutable.ArrayBuffer[OpRec] = mutable.ArrayBuffer.empty
  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var stack: List[SpanRec] = Nil
  private var current: OpRec = null

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageAcc]()
  private val queries = new ConcurrentLinkedQueue[Map[String, (Long, Long)]]()

  private def stage(id: Int): StageAcc = stages.computeIfAbsent(id, _ => new StageAcc)

  private object listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
        .map(_.toInt).getOrElse(-1)
      jobs.put(e.jobId, new JobRec(span, e.time))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stage(e.stageInfo.stageId).completed = true
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = stage(e.stageId)
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        a.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  private object queryListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit =
      queries.add(qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) })
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  /** Run one operation, recording its wall time and outcome. A failure
    * is recorded, not thrown: the caller counts it against attempts. */
  def op(round: Int, kind: String, path: String, warm: Boolean)(body: => Unit): OpRec = {
    val rec = new OpRec(ops.size, round, kind, path, warm)
    ops += rec
    current = rec
    val gc0 = Tracer.gcMs()
    val cpu0 = Tracer.threadCpuNs()
    rec.startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try span("op")(body)
    catch {
      case NonFatal(e) =>
        rec.ok = false
        rec.err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"
    }
    rec.ms = (System.nanoTime() - t0) / 1e6
    rec.endMs = System.currentTimeMillis()
    rec.gcMs = Tracer.gcMs() - gc0
    val cpu1 = Tracer.threadCpuNs()
    rec.cpuMs = cpu1.map { case (id, ns) => ns - cpu0.getOrElse(id, 0L) }.sum / 1e6
    current = null
    rec
  }

  /** A span around a call into one layer (a no-op when not tracing). */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val s = new SpanRec(spans.size, name, if (current == null) -1 else current.id,
        stack.headOption.map(_.id).getOrElse(-1), System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Add to a counter of the running operation. */
  def count(name: String, v: Double): Unit =
    if (current != null) current.counts(name) = current.counts.getOrElse(name, 0.0) + v

  /** The raw trace: operations, spans (with self time: duration minus
    * the child spans it encloses) and Spark jobs, in milliseconds from
    * the start of the run. Call after [[layerMetrics]], which drains the
    * listener bus. */
  def dump(): Map[String, Any] = {
    val t0 = ops.headOption.map(_.startMs).getOrElse(0L)
    val childMs = spans.filter(_.parent >= 0).groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    Map(
      "ops" -> ops.map(o => Map("id" -> o.id, "round" -> o.round, "kind" -> o.kind, "path" -> o.path,
        "warm" -> o.warm, "ok" -> o.ok, "err" -> o.err, "ms" -> o.ms, "start_ms" -> (o.startMs - t0),
        "counts" -> o.counts)),
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_ms" -> (s.startMs - t0), "end_ms" -> (s.endMs - t0), "ms" -> s.ms,
        "self_ms" -> (s.ms - childMs.getOrElse(s.id, 0.0)))),
      "jobs" -> jobs.asScala.toSeq.sortBy(_._1).map { case (id, j) => Map("id" -> id, "span" -> j.span,
        "start_ms" -> (j.startMs - t0), "end_ms" -> (if (j.endMs < 0) -1L else j.endMs - t0)) })
  }

  /** Per-layer metrics over the measured, successful operations: means
    * per operation (per operation that calls the layer, for a layer's
    * own spans and counters), except the statement medians. `extra`
    * holds the end-of-run and set-up figures the runner measured itself. */
  def layerMetrics(extra: Map[String, Double]): Map[String, Double] = {
    org.apache.spark.LakebenchBus.drain(spark.sparkContext)
    val measured = ops.filter(o => !o.warm && o.ok).toSeq
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0
      else {
        val s = xs.sorted
        if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
      }
    def opAt(ms: Long): Option[OpRec] = ops.find(o => o.startMs <= ms && ms <= o.endMs)
    def spanAt(ms: Long): Int =
      spans.filter(s => s.startMs <= ms && ms <= s.endMs).sortBy(-_.startNs)
        .headOption.map(_.id).getOrElse(-1)

    // jobs with their attributed span and operation
    val jobList = jobs.asScala.toSeq.map { case (id, j) =>
      val span = if (j.span >= 0) j.span else spanAt(j.startMs)
      val op = if (span >= 0) spans(span).op else opAt(j.startMs).map(_.id).getOrElse(-1)
      (id, j, span, op)
    }
    val jobStages = stageJob.asScala.toSeq.groupBy(_._2).map { case (j, ss) => j -> ss.map(_._1) }
    def union(iv: Seq[(Long, Long)]): Double = {
      var total = 0L
      var end = Long.MinValue
      iv.filter(_._2 >= 0).sortBy(_._1).foreach { case (s, e) =>
        if (s > end) { total += e - s; end = e }
        else if (e > end) { total += e - end; end = e }
      }
      total.toDouble
    }
    val jobsByOp = jobList.groupBy(_._4)
    val jobsBySpan = jobList.groupBy(_._3)
    val phasesByOp: Map[Int, Seq[Map[String, (Long, Long)]]] = queries.asScala.toSeq
      .flatMap { q =>
        val t0 = q.values.map(_._1).minOption
        t0.flatMap(opAt).map(o => o.id -> q)
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    def phase(op: Int, name: String): Double =
      phasesByOp.getOrElse(op, Nil).flatMap(_.get(name)).map(p => (p._2 - p._1).toDouble).sum
    def planMs(op: Int): Double =
      Seq("parsing", "analysis", "optimization", "planning").map(phase(op, _)).sum
    def stageSum(op: Int)(f: StageAcc => Double): Double =
      jobsByOp.getOrElse(op, Nil).flatMap(j => jobStages.getOrElse(j._1, Nil))
        .flatMap(s => Option(stages.get(s))).filter(_.completed).map(f).sum
    def jobWall(op: Int): Double =
      union(jobsByOp.getOrElse(op, Nil).map(j => (j._2.startMs, j._2.endMs)))
    def spansNamed(op: Int, name: String): Seq[SpanRec] =
      spans.filter(s => s.op == op && s.name == name).toSeq
    // a layer's figures are per operation that calls the layer
    def calling(name: String): Seq[OpRec] = measured.filter(o => spansNamed(o.id, name).nonEmpty)
    def spanMs(name: String): Double =
      mean(calling(name).map(o => spansNamed(o.id, name).map(_.ms).sum))
    def spanJobs(name: String): Double =
      mean(calling(name).map(o =>
        spansNamed(o.id, name).map(s => jobsBySpan.getOrElse(s.id, Nil).size.toDouble).sum))
    def counter(name: String): Double = mean(measured.flatMap(_.counts.get(name)))
    val view = measured.filter(_.path == "view")
    val (dsv2Cold, dsv2) = measured.filter(_.path == "dsv2").partition(_.kind == "travel_cold")

    Map(
      "plan.parse_ms" -> mean(measured.map(o => phase(o.id, "parsing"))),
      "plan.analysis_ms" -> mean(measured.map(o => phase(o.id, "analysis"))),
      "plan.optimization_ms" -> mean(measured.map(o => phase(o.id, "optimization"))),
      "plan.planning_ms" -> mean(measured.map(o => phase(o.id, "planning"))),
      "plan.actions" -> mean(measured.map(o => phasesByOp.getOrElse(o.id, Nil).size.toDouble)),
      "view.plan_ms" -> mean(view.map(o => planMs(o.id))),
      "view.exec_ms" -> mean(view.map(o => o.ms - planMs(o.id))),
      "view.stmt_p50_ms" -> median(view.map(_.ms)),
      "dsv2.plan_ms" -> mean(dsv2.map(o => planMs(o.id))),
      "dsv2.exec_ms" -> mean(dsv2.map(o => o.ms - planMs(o.id))),
      "dsv2.stmt_p50_ms" -> median((dsv2 ++ dsv2Cold).map(_.ms)),
      "dsv2_cold.plan_ms" -> mean(dsv2Cold.map(o => planMs(o.id))),
      "lake.commit_ms" -> mean(calling("lake.write").map(o => spansNamed(o.id, "lake.write").map { s =>
        s.ms - union(jobsBySpan.getOrElse(s.id, Nil).map(j => (j._2.startMs, j._2.endMs)))
      }.sum)),
      "lake.data_files_written" -> counter("lake.data_files_written"),
      "lake.data_bytes_written" -> counter("lake.data_bytes_written"),
      "lake.meta_files_written" -> counter("lake.meta_files_written"),
      "lake.meta_bytes_written" -> counter("lake.meta_bytes_written"),
      "docsrc.read_ms" -> spanMs("docsrc.read"),
      "docsrc.quarantined_rows" -> counter("docsrc.quarantined_rows"),
      "mview.refresh_ms" -> spanMs("mview.refresh"),
      "mview.refresh_jobs" -> spanJobs("mview.refresh"),
      "dedup.refresh_ms" -> spanMs("dedup.refresh"),
      "dedup.refresh_jobs" -> spanJobs("dedup.refresh"),
      "dedup.pairs" -> counter("dedup.pairs"),
      "dedup.index_bytes" -> 0.0, // end of run, from the workload when it has an index
      "curate.gates_ms" -> spanMs("curate.gates"),
      "curate.admitted" -> counter("curate.admitted"),
      "spark.jobs" -> mean(measured.map(o => jobsByOp.getOrElse(o.id, Nil).size.toDouble)),
      "spark.stages" -> mean(measured.map(o => stageSum(o.id)(_ => 1.0))),
      "spark.tasks" -> mean(measured.map(o => stageSum(o.id)(_.tasks.toDouble))),
      "spark.task_cpu_ms" -> mean(measured.map(o => stageSum(o.id)(_.cpuNs / 1e6))),
      "spark.task_run_ms" -> mean(measured.map(o => stageSum(o.id)(_.runMs.toDouble))),
      "spark.shuffle_bytes" -> mean(measured.map(o => stageSum(o.id)(_.shuffleBytes.toDouble))),
      "spark.input_bytes" -> mean(measured.map(o => stageSum(o.id)(_.inputBytes.toDouble))),
      "spark.job_wall_ms" -> mean(measured.map(o => jobWall(o.id))),
      "unattributed_ms" -> mean(measured.map(o => o.ms - planMs(o.id) - jobWall(o.id))),
      "jvm.gc_ms" -> mean(measured.map(_.gcMs.toDouble))
    ) ++ extra
  }
}

object Tracer {
  val SpanProp = "lakebench.span"

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum

  private val threads =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU time of each live Java thread: the client, Spark's task and
    * scheduler threads. The JIT compiler and GC threads are not Java
    * threads, and CPU time leaves out what the hypervisor stole. */
  def threadCpuNs(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 > 0).toMap
  }

  def jitMs(): Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
  }
}
