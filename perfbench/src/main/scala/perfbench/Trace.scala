package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `parent` is the index of the
  * span that caused it (-1 for an op's root span); all spans of one op
  * share `op`. Times are wall-clock milliseconds (fractional), so they can
  * be intersected with the scheduler's job timestamps. */
final case class Span(op: Int, parent: Int, layer: String,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Scheduler, executor and shuffle counters, summed over every task,
  * stage and job the listener saw; per-op values are snapshot differences. */
final class SchedListener extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)] // (start, end) ms
  private val jobStart = mutable.Map.empty[Int, Long]
  val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c("sched.stages") += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c("sched.tasks") += 1
    if (e.reason != Success) c("sched.task_failures") += 1
    val m = e.taskMetrics
    if (m != null) {
      val i = e.taskInfo
      val delay = i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime
      c("sched.delay_ms") += math.max(0L, delay)
      c("exec.run_ms") += m.executorRunTime
      c("exec.cpu_ms") += m.executorCpuTime / 1e6
      c("exec.gc_ms") += m.jvmGCTime
      c("exec.spill_mb") += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0
      c("shuffle.write_mb") += m.shuffleWriteMetrics.bytesWritten / 1048576.0
      c("shuffle.write_ms") += m.shuffleWriteMetrics.writeTime / 1e6
      c("shuffle.fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
    }
  }
  def snapshot: Map[String, Double] = synchronized { c.toMap }
}

/** Catalyst phase times of every query execution that finished. */
final class PhaseListener extends QueryExecutionListener {
  val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private def add(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    c("plan.analyze_ms") += ms(QueryPlanningTracker.ANALYSIS)
    c("plan.optimize_ms") += ms(QueryPlanningTracker.OPTIMIZATION)
    c("plan.physical_ms") += ms(QueryPlanningTracker.PLANNING)
  }
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = add(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  def snapshot: Map[String, Double] = synchronized { c.toMap }
}

/** The traced run's recorder. Spans are kept in memory and summarised
  * when the run ends. The listeners are attached only while a traced op
  * runs, after the listener bus has drained, and detached after it has
  * drained again: every event of a traced op is attributed to it, and an
  * untraced op between them runs with no tracing at all. */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val ops = new AtomicLong
  private val sched = new SchedListener
  private val phases = new PhaseListener
  val chunks = new graft.compaction.ChunkMetrics()
  private val totals = mutable.Map.empty[String, Double]
  totals ++= Tracer.Counters.map(_ -> 0.0)
  /** Op time covered by at least one job (jobs may run concurrently). */
  private var jobMs = 0.0
  private var cur = -1
  private var root = -1
  private var before: Map[String, Double] = Map.empty

  private def nowMs: Double = System.nanoTime() / 1e6 + Tracer.epochOffsetMs
  private def flush(): Unit = PerfbenchBus.flush(spark.sparkContext)

  private def counters: Map[String, Double] = {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    sched.snapshot ++ phases.snapshot ++
      Map("codegen.compiles" ->
            CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
          "codegen.compile_ms" -> CodeGenerator.compileTime / 1e6,
          "sched.jobs" -> sched.jobs.synchronized(sched.jobs.size.toDouble))
  }

  private def attach(): Unit = {
    spark.sparkContext.addSparkListener(sched)
    spark.sparkContext.addSparkListener(chunks)
    spark.listenerManager.register(phases)
  }

  private def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sched)
    spark.sparkContext.removeSparkListener(chunks)
    spark.listenerManager.unregister(phases)
  }

  /** Run `f` as one op's root span. */
  def op[T](f: => T): T = {
    flush()
    attach()
    before = counters
    cur = ops.getAndIncrement().toInt
    root = spans.size
    val t0 = nowMs
    spans += Span(cur, -1, "op", t0, t0)
    try f
    finally {
      spans(root) = spans(root).copy(endMs = nowMs)
      flush()
      detach()
      counters.foreach { case (k, v) => totals(k) = totals.getOrElse(k, 0.0) + v - before.getOrElse(k, 0.0) }
      val r = spans(root)
      val jobs = sched.jobs.synchronized(sched.jobs.toList)
        .filter { case (s, e) => s >= r.startMs - 1 && e <= r.endMs + 1 }
      jobs.foreach { case (s, e) => spans += Span(cur, root, "job", s.toDouble, e.toDouble) }
      val mine = spans.drop(root)
      mine.find(_.layer == "build").foreach { b =>
        totals("build.eager_jobs") += jobs.count { case (s, _) => s >= b.startMs - 1 && s <= b.endMs + 1 }
      }
      mine.find(_.layer == "execute").foreach { x =>
        totals("sched.between_jobs_ms") += x.ms - Tracer.covered(x, jobs)
      }
      jobMs += Tracer.covered(r, jobs)
    }
  }

  /** Time `f` as a child span of the current op. */
  def span[T](layer: String)(f: => T): T = {
    val t0 = nowMs
    try f
    finally spans += Span(cur, root, layer, t0, nowMs)
  }

  def opCount: Int = ops.get.toInt

  /** Per-op means of every counter, each span layer's share of op wall
    * time, and the compaction layer's task-size profile. */
  def summary: Map[String, Double] = {
    val n = math.max(1, opCount).toDouble
    val opMs = spans.filter(_.layer == "op").map(_.ms).sum
    val byLayer = spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(_.ms).sum } +
      ("job" -> jobMs)
    // Share of op wall time per layer; sources.* and sql.* spans pool.
    val shares = Tracer.Shares.map(c => s"share.$c" -> 0.0).toMap ++
      byLayer.toSeq.collect { case (l, ms) if l != "op" && opMs > 0 =>
        s"share.${l.takeWhile(_ != '.')}" -> ms / opMs
      }.groupMapReduce(_._1)(_._2)(_ + _)
    val meanMs = spans.groupBy(_.layer).collect { case (l, ss) if l != "op" =>
      s"span.${l.replace('.', '_')}_ms" -> ss.map(_.ms).sum / ss.size
    }
    val perOp = totals.toMap.map { case (k, v) => k -> v / n }
    val snap = chunks.snapshot.values.toSeq
    val hist = snap.map(_.histogram).foldLeft(new Array[Long](64)) { (a, h) =>
      a.indices.foreach(i => a(i) += h(i)); a }
    val tasks = hist.sum
    val p50Bucket = if (tasks == 0) 0
      else hist.indices.find(i => hist.take(i + 1).sum * 2 >= tasks).getOrElse(0)
    val postShuffle = snap.filter(_.shuffleReadRecords > 0).map(_.tasks).sum
    perOp ++ shares ++ meanMs ++ Map(
      "build.ms" -> byLayer.getOrElse("build", 0.0) / n,
      "compaction.small_task_frac" -> chunks.smallTaskFraction(1024),
      "compaction.chunk_factor_max" ->
        chunks.snapshot.keys.flatMap(chunks.chunkFactor).maxOption.getOrElse(0.0),
      "compaction.records_per_task_p50" -> math.pow(2, p50Bucket),
      "compaction.post_shuffle_tasks" -> postShuffle / n)
  }
}

object Tracer {
  /** Every counter the summary reports, present even when it stayed 0. */
  val Counters: Seq[String] = Seq(
    "plan.analyze_ms", "plan.optimize_ms", "plan.physical_ms",
    "codegen.compiles", "codegen.compile_ms", "build.eager_jobs",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.delay_ms",
    "sched.between_jobs_ms", "sched.task_failures",
    "exec.run_ms", "exec.cpu_ms", "exec.gc_ms", "exec.spill_mb",
    "shuffle.write_mb", "shuffle.write_ms", "shuffle.fetch_wait_ms")

  /** Span layers whose share of op wall time is reported. */
  val Shares: Seq[String] = Seq("build", "plan", "execute", "job", "sql", "sources")

  /** Offset turning `System.nanoTime` into epoch milliseconds, fixed once
    * so span times are monotonic yet comparable to listener timestamps. */
  val epochOffsetMs: Double = System.currentTimeMillis() - System.nanoTime() / 1e6

  /** Milliseconds of `s` covered by the union of the job intervals. */
  def covered(s: Span, jobs: Seq[(Long, Long)]): Double = {
    val clipped = jobs.map { case (a, b) =>
      (math.max(a.toDouble, s.startMs), math.min(b.toDouble, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var end = Double.MinValue
    clipped.foreach { case (a, b) =>
      if (b > end) { total += b - math.max(a, end); end = b }
    }
    total
  }
}
