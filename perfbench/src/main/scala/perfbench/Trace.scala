package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.ExecutionEnd

/** One timed interval. `parent` 0 marks a top-level (operation) span; all
  * spans of one operation share `op`. The layer is the name's prefix. */
final case class Span(id: Long, parent: Long, op: Long, name: String, start: Long, end: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def dur: Long = end - start
}

/** What Spark reports for the jobs started under one span. */
final class Counts {
  var jobs, stages, tasks, cpuNs, scanBytes, shuffleWrite, shuffleRead, spill, output = 0L
  var analysisNs, optimizationNs, planningNs = 0L
  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    scanBytes += o.scanBytes; shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; output += o.output
    analysisNs += o.analysisNs; optimizationNs += o.optimizationNs; planningNs += o.planningNs
  }
}

/** Spans around the benchmark's calls into the program, kept in memory.
  * When disabled every call is a plain pass-through: no job groups, no
  * listeners, nothing recorded.
  *
  * Each span sets the calling thread's Spark job group to its own id, so
  * the jobs a call starts (including broadcast jobs, which inherit the
  * thread's properties) become its child spans. A SparkListener attributes
  * stages, tasks and task metrics to spans through the job group, and
  * each SQL execution's planning phases through the execution id its
  * jobs carry. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)
  private val originMs = System.currentTimeMillis()
  private val originNs = System.nanoTime()
  private def nsOf(ms: Long): Long = originNs + (ms - originMs) * 1000000L
  /** Wall-clock millis of a span timestamp. */
  def msOf(ns: Long): Long = originMs + (ns - originNs) / 1000000L

  private val jobSpan = new ConcurrentHashMap[Int, java.lang.Long]
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]
  private val execSpan = new ConcurrentHashMap[Long, java.lang.Long]
  private val pendingQe = new ConcurrentLinkedQueue[(Long, QueryExecution)]
  private val counts = new ConcurrentHashMap[Long, Counts]
  private val lastEvent = new AtomicLong(System.nanoTime())
  private def c(span: Long): Counts = counts.computeIfAbsent(span, _ => new Counts)

  private def groupSpan(p: java.util.Properties): Option[Long] =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb-")).map(_.drop(3).toLong)

  private object listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEvent.set(System.nanoTime())
      groupSpan(e.properties).foreach { sid =>
        jobSpan.put(e.jobId, sid)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(stageSpan.put(_, sid))
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(x => execSpan.putIfAbsent(x.toLong, sid))
        c(sid).synchronized(c(sid).jobs += 1)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(s => c(s).synchronized(c(s).stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEvent.set(System.nanoTime())
      val m = e.taskMetrics
      Option(stageSpan.get(e.stageId)).filter(_ => m != null).foreach { s =>
        val k = c(s)
        k.synchronized {
          k.tasks += 1
          k.cpuNs += m.executorCpuTime
          k.scanBytes += m.inputMetrics.bytesRead
          k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          k.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          k.output += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionEnd =>
        lastEvent.set(System.nanoTime())
        ExecutionEnd.queryExecution(x).foreach(qe => pendingQe.add(x.executionId -> qe))
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEvent.set(System.nanoTime())
      Option(jobSpan.remove(e.jobId)).foreach { sid =>
        val t0 = jobStart.remove(e.jobId)
        spans.add(Span(ids.incrementAndGet(), sid, 0L, "spark.job", nsOf(t0), nsOf(e.time)))
      }
    }
  }

  if (enabled) sc.addSparkListener(listener)

  /** Codegen compile time (ns) and compile count, process-wide. */
  def codegen: (Long, Long) =
    (CodeGenerator.compileTime,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** A top-level span: one operation of the workload. */
  def op[T](name: String)(body: => T): T =
    if (!enabled) body else within(name, top = true)(body)

  /** A child span of the innermost open span on this thread. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body else within(name, top = false)(body)

  private def within[T](name: String, top: Boolean)(body: => T): T = {
    val outer = stack.get
    val id = ids.incrementAndGet()
    val (parent, op) = outer.headOption match {
      case Some((p, o)) if !top => (p, o)
      case _ => (0L, id)
    }
    stack.set((id, op) :: outer)
    sc.setJobGroup(s"pb-$id", name)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, op, name, t0, System.nanoTime()))
      stack.set(outer)
      outer.headOption match {
        case Some((p, _)) => sc.setJobGroup(s"pb-$p", "")
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Waits until the listener bus has delivered every job and query end
    * for the spans recorded so far (no event for 300 ms, no job open). */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (System.nanoTime() < deadline &&
      (!jobSpan.isEmpty || System.nanoTime() - lastEvent.get < 300L * 1000000L))
      Thread.sleep(50)
    var done = pendingQe.poll()
    while (done != null) {
      val (exec, qe) = done
      Option(execSpan.get(exec)).foreach { s =>
        val ph = qe.tracker.phases
        def ns(p: String) = ph.get(p).map(x => (x.endTimeMs - x.startTimeMs) * 1000000L).getOrElse(0L)
        val k = c(s)
        k.synchronized {
          k.analysisNs += ns(QueryPlanningTracker.ANALYSIS)
          k.optimizationNs += ns(QueryPlanningTracker.OPTIMIZATION)
          k.planningNs += ns(QueryPlanningTracker.PLANNING)
        }
      }
      done = pendingQe.poll()
    }
  }

  /** Every span recorded so far, job spans carrying their parent's op. */
  def all: Seq[Span] = {
    val xs = spans.asScala.toSeq
    val opOf = xs.filter(_.op != 0L).map(s => s.id -> s.op).toMap
    xs.map(s => if (s.op == 0L) s.copy(op = opOf.getOrElse(s.parent, 0L)) else s)
  }

  /** Counts of the given spans, summed. */
  def opCounts(spansOfOp: Seq[Span]): Counts = {
    val k = new Counts
    spansOfOp.foreach(s => Option(counts.get(s.id)).foreach(k.add))
    k
  }

  def countsOf(span: Long): Counts = Option(counts.get(span)).getOrElse(new Counts)

  def write(path: String): Unit = {
    val lines = all.sortBy(_.start).map(s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": "${s.name}", """ +
        s""""start_ns": ${s.start - originNs}, "end_ns": ${s.end - originNs}}""")
    Files.write(Paths.get(path), lines.asJava)
  }
}

object Trace {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (open && s <= curE) curE = math.max(curE, e)
        else { if (open) total += curE - curS; curS = s; curE = e; open = true }
      }
    if (open) total += curE - curS
    total
  }

  /** Self time per layer (ns): each span's duration minus the part of it
    * its child spans cover, summed by the span's layer. */
  def selfByLayer(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    val acc = mutable.Map[String, Long]().withDefaultValue(0L)
    spans.foreach { s =>
      val ch = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      acc(s.layer) += s.dur - covered(ch, s.start, s.end)
    }
    acc.toMap
  }

  /** Wall of a span not covered by any Spark job started under it. */
  def driverGap(op: Span, spansOfOp: Seq[Span]): Long =
    op.dur - covered(spansOfOp.filter(_.name == "spark.job").map(s => (s.start, s.end)), op.start, op.end)

  /** Per-layer metrics every workload reports from its traced segment:
    * self time per layer and Spark's counts, each a mean per operation.
    * `wallNs` is the traced segment's wall and `clients` its concurrency. */
  def sparkLayer(t: Tracer, r: Result, wallNs: Long, clients: Int, codegen: (Long, Long)): Unit = {
    val spans = t.all
    val ops = spans.filter(_.parent == 0L)
    val n = math.max(1, ops.size).toDouble
    val byOp = spans.groupBy(_.op)
    val tot = new Counts
    ops.foreach(o => tot.add(t.opCounts(byOp.getOrElse(o.id, Nil))))
    val ms = 1e6
    r.metric("spark.jobs", tot.jobs / n, "count")
    r.metric("spark.stages", tot.stages / n, "count")
    r.metric("spark.tasks", tot.tasks / n, "count")
    r.metric("spark.analysis_ms", tot.analysisNs / ms / n, "ms")
    r.metric("spark.optimization_ms", tot.optimizationNs / ms / n, "ms")
    r.metric("spark.planning_ms", tot.planningNs / ms / n, "ms")
    r.metric("spark.codegen_compile_ms", codegen._1 / ms / n, "ms")
    r.metric("spark.codegen_compiles", codegen._2 / n, "count")
    r.metric("spark.driver_gap_ms",
      ops.map(o => driverGap(o, byOp.getOrElse(o.id, Nil)).toDouble).sum / ms / n, "ms")
    r.metric("spark.scan_bytes", tot.scanBytes / n, "bytes")
    r.metric("spark.shuffle_write_bytes", tot.shuffleWrite / n, "bytes")
    r.metric("spark.shuffle_read_bytes", tot.shuffleRead / n, "bytes")
    r.metric("spark.spill_bytes", tot.spill / n, "bytes")
    val cores = Runtime.getRuntime.availableProcessors()
    r.metric("spark.task_cpu_frac", tot.cpuNs.toDouble / (wallNs.toDouble * cores), "fraction")
    val self = selfByLayer(spans)
    Seq("bench", "engine", "catalog", "operators", "functions", "spark").foreach { l =>
      r.metric(s"self.${l}_ms", self.getOrElse(l, 0L) / ms / n, "ms")
    }
    r.metric("trace.ops", ops.size, "count")
    // top-level spans tile each client's timeline; what they leave
    // uncovered is time the benchmark spent outside any operation
    r.metric("trace.unaccounted_frac",
      1.0 - ops.map(_.dur).sum.toDouble / (wallNs.toDouble * clients), "fraction")
  }
}
