package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{EngineSession, Tables}
import graft.sources.GraftTable
import graft.sql.{DuckDialect, DuckDml}

/** One JVM per benchmark run: sets the engine up (several times, to time
  * set-up), drives one workload closed-loop with a single client, and
  * writes `result.json` plus each op's first output for the checker.
  *
  * Usage: Harness --workload W --data DIR --out DIR --seconds S
  *          --trace 0|1 --threads N --seed N [--stream FILE --cycle N]
  */
object Harness {
  val Setups = 3
  /** Stream cycles the DML traced run replays in pairs: four samples of
    * each write kind, and a traced run that still ends well inside the
    * time limit (each paired statement runs twice). */
  val TracedCycles = 4
  /** Files the DML table is created with, clustered on its key. */
  val TableFiles = 16

  final case class Result(name: String, kind: String, ms: Double,
      rows: Long, error: Option[String], output: Option[String])

  /** Peak heap occupancy right after a collection, over the measured
    * window: the live set a run needs, without the garbage between GCs. */
  final class HeapPeak {
    @volatile var peak = 0L
    @volatile var on = false
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(
        (n: Notification, _: Any) =>
          if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            if (used > peak) peak = used
          }, null, null)
      case _ =>
    }
    /** Starts the window with a full collection. A young collection
      * leaves the old generation's garbage in place, so without it every
      * reading in the window would also hold whatever garbage set-up and
      * warm-up promoted, an amount that varies from run to run. */
    def start(): Unit = { System.gc(); peak = 0L; on = true }
    /** Ends the window with a full collection, so a run whose heap never
      * filled up still reports its live set. */
    def stop(): Double = {
      System.gc()
      on = false
      math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed) / 1048576.0
    }
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val data = a("data")
    val out = a("out")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val threads = a("threads").toInt
    Files.createDirectories(Paths.get(out, "outputs"))
    val heap = new HeapPeak
    val dml = workload == "dml_mixed"

    // Set-up: start the shipped session and make the workload's tables
    // ready, from cold caches each time; the last session is kept.
    var spark: SparkSession = null
    val setupS = (1 to Setups).map { i =>
      if (spark != null) spark.stop()
      Tables.clearCaches()
      val t0 = System.nanoTime()
      spark = EngineSession.local(threads)
      if (dml) createTable(spark, data, s"$out/table$i")
      else Tables.names.foreach(n => Tables.t(spark, data, n))
      (System.nanoTime() - t0) / 1e9
    }
    val root = s"$out/table$Setups"

    warm(spark, data, dml)
    var t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val fields = mutable.LinkedHashMap.empty[String, String]
    val results = mutable.ArrayBuffer.empty[Result]
    // With --trace 1: each timed op (statement) once more traced and once
    // more untraced, back to back, after the measured window.
    val traced = mutable.ArrayBuffer.empty[Result]
    val paired = mutable.ArrayBuffer.empty[Result]
    var tracer: Option[Tracer] = None

    if (!dml) {
      val w = workload match {
        case "analytic_sf0.1" => Ops.analytic
        case "scale_10x" => Ops.scale
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val ops = w.timed.map(Ops.resolve)
      val checked = w.checked(a("seed").toLong).map(Ops.resolve)
      // Untimed first: the run's share of checked ops, then one pass of the
      // timed ops. An op's first execution in a JVM compiles its generated
      // code and is 30-60% slower than later ones; timed, that cold share
      // would depend on how many passes fit in the window. Then the timed
      // ops run in turn until the run time is used up, and at least once
      // each, so every run times all of them.
      results ++= (checked ++ ops).map(op => runOp(spark, data, op, None, out, record = true, "untimed"))
      heap.start()
      t0 = System.nanoTime()
      var n = 0
      while (n < ops.size || elapsed < seconds) {
        results += runOp(spark, data, ops(n % ops.size), None, out, record = false)
        n += 1
      }
      fields("passes") = Json.num(n.toDouble / ops.size)
      fields("measured_s") = Json.num(elapsed)
      fields("heap_peak_mb") = Json.num(heap.stop())
      fields("oracle") = Json.obj((ops ++ checked).map(o =>
        o.name -> o.oracle.map(Json.str).getOrElse("null")))
      if (trace) {
        val t = new Tracer(spark)
        tracer = Some(t)
        ops.zipWithIndex.foreach { case (op, k) =>
          pair(k)(paired += runOp(spark, data, op, None, out, record = false),
                  traced += runOp(spark, data, op, Some(t), out, record = false))
        }
      }
    } else {
      val stream = Files.readAllLines(Paths.get(a("stream"))).asScala.toSeq
        .filter(_.nonEmpty).map { l => val Array(k, s) = l.split("\t", 2); (k, s) }
      val cycle = a("cycle").toInt
      // Warm the statement paths on a spare table, then time whole cycles
      // of the stream, so every run executes the same statement mix.
      (0 until cycle).foreach(j =>
        runStmt(spark, s"$out/table1", j, stream(j), None, out, record = false))
      heap.start()
      t0 = System.nanoTime()
      var i = 0
      while (i < stream.size && (i % cycle != 0 || elapsed < seconds)) {
        results += runStmt(spark, root, i, stream(i), None, out, record = true)
        i += 1
      }
      fields("measured_s") = Json.num(elapsed)
      fields("heap_peak_mb") = Json.num(heap.stop())
      if (trace) {
        // Replay the measured run's first cycles on two fresh copies of the
        // table, one traced, so both see the table states it saw.
        val plain = s"$out/table_paired"
        val copy = s"$out/table_traced"
        createTable(spark, data, plain)
        createTable(spark, data, copy)
        val t = new Tracer(spark)
        tracer = Some(t)
        (0 until math.min(i, TracedCycles * cycle)).foreach { j =>
          pair(j)(paired += runStmt(spark, plain, j, stream(j), None, out, record = false),
                  traced += runStmt(spark, copy, j, stream(j), Some(t), out, record = false))
        }
      }
      // The final rows written once, with the engine's own writer: the
      // denominator of space amplification.
      GraftTable.create(spark, s"$out/fresh", GraftTable.read(spark, root))
      fields("table_root") = Json.str(root)
      fields("fresh_root") = Json.str(s"$out/fresh")
    }

    tracer.foreach { t =>
      // Traced against untraced executions of the same ops, run in pairs
      // in the same warm state.
      val untracedMs = paired.map(_.ms).sum
      val tracedMs = traced.map(_.ms).sum
      val layers = t.summary ++ Map(
        "trace.overhead_frac" -> (if (untracedMs > 0) tracedMs / untracedMs - 1 else 0.0))
      fields("layers") = Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
      fields("traced_ops") = resultsJson(traced.toSeq)
      fields("paired_ops") = resultsJson(paired.toSeq)
    }
    fields("setup_s") = Json.arr(setupS.map(Json.num))
    fields("threads") = threads.toString
    fields("heap_max_mb") = Json.num(Runtime.getRuntime.maxMemory / 1048576.0)
    fields("ops") = resultsJson(results.toSeq)
    Files.writeString(Paths.get(out, "result.json"), Json.obj(fields))
    spark.stop()
  }

  private def resultsJson(rs: Seq[Result]): String =
    Json.arr(rs.map(r => Json.obj(Seq(
      "name" -> Json.str(r.name), "kind" -> Json.str(r.kind), "ms" -> Json.num(r.ms),
      "rows" -> r.rows.toString, "error" -> r.error.map(Json.str).getOrElse("null"),
      "output" -> r.output.map(Json.str).getOrElse("null")))))

  /** Runs `untraced` and `traced` back to back, the untraced one first
    * when `k` is even, so neither side of the pairs is always the warmer. */
  private def pair(k: Int)(untraced: => Unit, traced: => Unit): Unit =
    if (k % 2 == 0) { untraced; traced } else { traced; untraced }

  /** One small aggregate before timing starts: the first query of a JVM
    * pays for loading the execution path's classes, whichever it is. */
  private def warm(spark: SparkSession, data: String, dml: Boolean): Unit =
    Tables.t(spark, data, if (dml) "orders" else "lineitem").groupBy().count().collect()

  /** The DML table: the staged `orders`, range-clustered on its key. */
  private def createTable(spark: SparkSession, data: String, root: String): Unit =
    GraftTable.create(spark, root,
      Tables.t(spark, data, "orders").repartitionByRange(TableFiles, col("o_orderkey")))

  private def timed(name: String, kind: String, out: String, record: Boolean)(
      f: => (Array[String], Array[Row])): Result = {
    val t0 = System.nanoTime()
    val r = try Right(f) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    r match {
      case Right((cols, rows)) =>
        val output = if (!record) None else {
          val p = Paths.get(out, "outputs", s"$name.jsonl")
          Files.writeString(p, Json.rows(cols.toSeq, rows))
          Some(p.toString)
        }
        Result(name, kind, ms, rows.length, None, output)
      case Left(e) =>
        System.err.println(s"[perfbench] $name failed: $e")
        Result(name, kind, ms, -1, Some(String.valueOf(e)), None)
    }
  }

  /** One query op: build the DataFrame through the engine's API, then
    * collect its result. Traced, each step is its own span. */
  private def runOp(spark: SparkSession, data: String, op: Ops.Op,
      tracer: Option[Tracer], out: String, record: Boolean,
      kind: String = "query"): Result =
    timed(op.name, kind, out, record) {
      tracer match {
        case None =>
          val df = op.fn(spark, data)
          (df.columns, df.collect())
        case Some(t) => t.op {
          val df = t.span("build")(op.fn(spark, data))
          t.span("plan")(df.queryExecution.executedPlan)
          (df.columns, t.span("execute")(df.collect()))
        }
      }
    }

  /** One statement of the DML stream: a read re-registers the table's
    * current snapshot and runs the DuckDB-dialect text through the
    * translator; a write goes through the DML front-end. */
  private def runStmt(spark: SparkSession, root: String, i: Int,
      stmt: (String, String), tracer: Option[Tracer], out: String,
      record: Boolean): Result = {
    val (kind, sql) = stmt
    def sp[T](layer: String)(f: => T): T = tracer.map(_.span(layer)(f)).getOrElse(f)
    def body: (Array[String], Array[Row]) =
      if (kind == "read") {
        sp("sources.read")(GraftTable.read(spark, root).createOrReplaceTempView("orders"))
        val text = sp("sql.translate")(DuckDialect.translate(sql))
        val df = sp("build")(spark.sql(text))
        sp("plan")(df.queryExecution.executedPlan)
        (df.columns, sp("execute")(df.collect()))
      } else {
        sp(s"sources.$kind")(DuckDml.exec(spark, Map("orders" -> root), sql))
        (Array.empty, Array.empty)
      }
    timed(f"s$i%05d", kind, out, record && kind == "read") {
      tracer.map(_.op(body)).getOrElse(body)
    }
  }
}
