package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.mmeds.Catalog

/** Spans around the benchmark's calls into each layer, and the Spark
  * counters attributed to them.
  *
  * A span marks itself as the thread's `perfbench.span` local property,
  * so every job the call submits carries its id; the listener folds job,
  * stage and task events back onto that span, and a
  * `QueryExecutionListener` adds each SQL execution's planning phases
  * (`QueryPlanningTracker`) to the span its jobs ran under. Codegen compiles
  * are a process-wide counter read at span edges. Spans stay in memory
  * and are written out when the run ends. */
object Trace {
  val Layers: Seq[String] = Seq("tsv", "validator", "normalizer", "catalog", "engine",
    "idgen", "lex", "ann", "manifest", "maintenance")

  final class Span(val id: Long, val layer: String, val parent: Long,
      val t0: Long, val ms0: Long, val cg0: Long) {
    @volatile var t1 = 0L; @volatile var ms1 = 0L; @volatile var cg1 = 0L
    @volatile var failed = false
  }
  final class Counts {
    val jobs = new AtomicLong; val planNs = new AtomicLong
    val shuffle = new AtomicLong; val rowsOut = new AtomicLong
    val bytesOut = new AtomicLong; val rowsIn = new AtomicLong
    val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  }

  @volatile private var sc: org.apache.spark.SparkContext = _
  private val ids = new AtomicLong
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val counts = new ConcurrentHashMap[Long, Counts]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue = Nil }
  private val on = new ThreadLocal[java.lang.Boolean] { override def initialValue = false }

  /** Bytes written by every task, traced or not (`write_amp`). */
  val bytesWritten = new AtomicLong

  private def codegenCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def install(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    val stageSpan = new ConcurrentHashMap[Int, Long]()
    val jobStart = new ConcurrentHashMap[Int, (Long, Long)]()
    val execSpan = new ConcurrentHashMap[Long, Long]()
    // Both listeners sit on the shared listener queue, which hands each
    // event to its listeners one at a time in the order they joined. The
    // session's query-execution listener joins first, so for every
    // execution-end event it leaves the planning time here and the span
    // listener below takes it for that event's execution id. Executions
    // the session does not report leave nothing.
    @volatile var planned: Option[Long] = None
    spark.listenerManager.register(new QueryExecutionListener {
      private def plan(qe: QueryExecution): Unit =
        planned = Some(qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plan(qe)
    })
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        p.flatMap(x => Option(x.getProperty("perfbench.span"))).map(_.toLong).foreach { s =>
          e.stageIds.foreach(stageSpan.put(_, s))
          jobStart.put(e.jobId, (s, e.time))
          p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
            .foreach(x => execSpan.put(x.toLong, s))
          countsOf(s).jobs.incrementAndGet()
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobStart.remove(e.jobId)).foreach { case (s, t) =>
          countsOf(s).jobSpans.add((t, e.time))
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
          val ns = planned
          planned = None
          Option(execSpan.remove(end.executionId)).zip(ns).foreach { case (s, n) =>
            countsOf(s).planNs.addAndGet(n)
          }
        case _ =>
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
        bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
        Option(stageSpan.get(e.stageId)).foreach { s =>
          val c = countsOf(s)
          c.shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          c.rowsOut.addAndGet(m.outputMetrics.recordsWritten)
          c.bytesOut.addAndGet(m.outputMetrics.bytesWritten)
          c.rowsIn.addAndGet(m.inputMetrics.recordsRead)
        }
      }
    })
  }

  private def countsOf(s: Long): Counts = counts.computeIfAbsent(s, _ => new Counts)

  /** Trace the calls this thread makes until `traced(false)`. */
  def traced(flag: Boolean): Unit = on.set(flag)

  def span[A](layer: String)(body: => A): A =
    if (!on.get) body
    else {
      val parents = stack.get
      val s = new Span(ids.incrementAndGet(), layer, parents.headOption.map(_.id).getOrElse(0L),
        System.nanoTime, System.currentTimeMillis, codegenCount)
      spans.add(s)
      stack.set(s :: parents)
      sc.setLocalProperty("perfbench.span", s.id.toString)
      try body
      catch { case e: Throwable => s.failed = true; throw e }
      finally {
        s.t1 = System.nanoTime; s.ms1 = System.currentTimeMillis; s.cg1 = codegenCount
        stack.set(parents)
        sc.setLocalProperty("perfbench.span", parents.headOption.map(_.id.toString).orNull)
      }
    }

  /** Measure of the union of [lo, hi) intervals clipped to [a, b). */
  private def covered(a: Long, b: Long, ivs: Seq[(Long, Long)]): Long = {
    var end = a; var sum = 0L
    for ((lo0, hi0) <- ivs.sortBy(_._1)) {
      val lo = math.max(lo0, end); val hi = math.min(hi0, b)
      if (hi > lo) { sum += hi - lo; end = hi }
    }
    sum
  }

  /** Layers whose jobs read the mmeds catalog. */
  private val CatalogReaders = Set("catalog", "engine", "idgen", "normalizer")

  /** Per-layer metrics over every span recorded so far, plus
    * `catalog.rows_read`: task input rows of jobs run by the layers that
    * read the catalog. */
  def layerMetrics(): Map[String, Double] = {
    val all = spans.asScala.toSeq.filter(_.t1 > 0)
    val kids = all.groupBy(_.parent)
    val out = scala.collection.mutable.LinkedHashMap[String, Double]()
    for (l <- Layers; k <- Seq("ms", "calls", "jobs", "driver_gap_ms", "plan_ms",
        "codegen_compiles", "shuffle_bytes", "rows_written", "bytes_written", "failed"))
      out(s"$l.$k") = 0.0
    out("catalog.rows_read") = 0.0
    def add(k: String, v: Double): Unit = out(k) = out(k) + v
    for (s <- all if Layers.contains(s.layer)) {
      val ch = kids.getOrElse(s.id, Nil)
      val c = Option(counts.get(s.id)).getOrElse(new Counts)
      val l = s.layer
      add(s"$l.ms", ((s.t1 - s.t0) - ch.map(x => x.t1 - x.t0).sum) / 1e6)
      add(s"$l.calls", 1)
      add(s"$l.jobs", c.jobs.get.toDouble)
      add(s"$l.driver_gap_ms", (s.ms1 - s.ms0) -
        covered(s.ms0, s.ms1, ch.map(x => (x.ms0, x.ms1)) ++ c.jobSpans.asScala.toSeq))
      add(s"$l.plan_ms", c.planNs.get / 1e6)
      add(s"$l.codegen_compiles", (s.cg1 - s.cg0) - ch.map(x => x.cg1 - x.cg0).sum)
      add(s"$l.shuffle_bytes", c.shuffle.get.toDouble)
      add(s"$l.rows_written", c.rowsOut.get.toDouble)
      add(s"$l.bytes_written", c.bytesOut.get.toDouble)
      if (s.failed && !ch.exists(_.failed)) add(s"$l.failed", 1)
      if (CatalogReaders(l)) add("catalog.rows_read", c.rowsIn.get.toDouble)
    }
    out.toMap
  }

  /** Spans as JSON lines: id, parent, layer, start/end (epoch ms),
    * failed. */
  def writeSpans(path: String): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.id).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","start_ms":${s.ms0},""" +
        s""""end_ms":${s.ms1},"self_codegen":${s.cg1 - s.cg0},"failed":${s.failed}}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}

/** Catalog decorator that puts each call in a `catalog` span: exactly
  * one inner call per call, nothing memoized, so the program sees the
  * catalog it was given. */
final class TracingCatalog(inner: Catalog) extends Catalog {
  def table(name: String): Option[DataFrame] = Trace.span("catalog")(inner.table(name))
  def append(name: String, df: DataFrame): Unit = Trace.span("catalog")(inner.append(name, df))
  def overwrite(name: String, df: DataFrame): Unit =
    Trace.span("catalog")(inner.overwrite(name, df))
  def tableNames: Seq[String] = Trace.span("catalog")(inner.tableNames)
}
