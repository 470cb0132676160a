package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run.
  *
  * Driver code opens `query`, `build`, `write` and `row` spans; a
  * SparkListener hangs `job` and `stage` spans under them (the open span
  * id travels to the scheduler as a job-local property), and a
  * StreamingQueryListener hangs one `trigger` span per micro-batch under
  * the current query or row. A QueryExecutionListener adds Catalyst planning
  * time to the query, and codegen compile count and time are taken as
  * deltas of Spark's global codegen counters around each query.
  *
  * Listener events arrive on Spark's asynchronous bus; [[drain]] waits
  * until they are all delivered, so counters read after it are complete.
  */
final class Trace(spark: SparkSession) {
  final case class Span(id: Int, parent: Int, kind: String, name: String,
      startMs: Double, var endMs: Double,
      attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty)

  private val SpanKey = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private val jobSpan = mutable.HashMap.empty[Int, Int]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageAttrs = mutable.HashMap.empty[(Int, Int),
    mutable.LinkedHashMap[String, Double]]
  private val stateRows = mutable.LinkedHashMap.empty[java.util.UUID, Long]
  private val triggerMs = mutable.ArrayBuffer.empty[Double]
  @volatile private var currentQuery = -1
  private var open = List.empty[Int] // driver-side spans, innermost first

  private val epochMs = System.currentTimeMillis().toDouble
  private val epochNs = System.nanoTime()
  private def nowMs: Double = epochMs + (System.nanoTime() - epochNs) / 1e6

  private def add(key: String, v: Double): Unit = synchronized {
    counters(key) = counters.getOrElse(key, 0.0) + v
  }
  def counter(key: String): Double = synchronized(counters.getOrElse(key, 0.0))

  private def newSpan(parent: Int, kind: String, name: String,
      start: Double): Span = synchronized {
    val s = Span(spans.size, parent, kind, name, start, start)
    spans += s
    s
  }

  /** Runs `body` inside a driver-side span nested in the innermost open
    * one; jobs it submits become its children.
    */
  def within[A](kind: String, name: String)(body: => A): A = {
    val s = newSpan(open.headOption.getOrElse(-1), kind, name, nowMs)
    open = s.id :: open
    val topLevel = kind == "query" || kind == "row"
    if (topLevel) currentQuery = s.id
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s.id.toString)
    val codegen0 = Trace.codegen()
    try body
    finally {
      open = open.tail
      sc.setLocalProperty(SpanKey, outer)
      s.endMs = nowMs
      if (topLevel) {
        drain()
        val codegen1 = Trace.codegen()
        s.attrs("codegen_compiles") = codegen1._1 - codegen0._1
        s.attrs("codegen_ms") = (codegen1._2 - codegen0._2) / 1e6
        add("codegen_compiles", codegen1._1 - codegen0._1)
        add("codegen_ms", (codegen1._2 - codegen0._2) / 1e6)
        currentQuery = -1
      }
    }
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  private def parentOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toInt).getOrElse(currentQuery)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = newSpan(parentOf(e.properties), "job", s"job ${e.jobId}",
        e.time.toDouble)
      Trace.this.synchronized {
        jobSpan(e.jobId) = s.id
        e.stageIds.foreach(st => if (!stageJob.contains(st)) stageJob(st) = e.jobId)
      }
      add("jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobSpan.get(e.jobId).foreach(id => spans(id).endMs = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val vals = Seq(
        "tasks" -> 1.0,
        "executor_run_ms" -> m.executorRunTime.toDouble,
        "executor_cpu_ms" -> m.executorCpuTime / 1e6,
        "shuffle_write_mb" -> m.shuffleWriteMetrics.bytesWritten / 1048576.0,
        "shuffle_read_mb" -> (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead) / 1048576.0,
        "spill_mb" -> (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
      Trace.this.synchronized {
        val a = stageAttrs.getOrElseUpdate((e.stageId, e.stageAttemptId),
          mutable.LinkedHashMap.empty)
        vals.foreach { case (k, v) => a(k) = a.getOrElse(k, 0.0) + v; add(k, v) }
        val peak = m.peakExecutionMemory / 1048576.0
        counters("peak_exec_mem_mb") =
          math.max(counters.getOrElse("peak_exec_mem_mb", 0.0), peak)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val start = info.submissionTime.getOrElse(0L).toDouble
      val parent = Trace.this.synchronized(stageJob.get(info.stageId)
        .flatMap(jobSpan.get).getOrElse(currentQuery))
      val s = newSpan(parent, "stage", s"stage ${info.stageId}", start)
      s.endMs = info.completionTime.map(_.toDouble).getOrElse(start)
      Trace.this.synchronized {
        stageAttrs.remove((info.stageId, info.attemptNumber()))
          .foreach(a => s.attrs ++= a)
      }
      add("stages", 1)
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      add("plan_ms", ms)
      if (currentQuery >= 0) Trace.this.synchronized {
        val a = spans(currentQuery).attrs
        a("plan_ms") = a.getOrElse("plan_ms", 0.0) + ms
      }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val total = d("triggerExecution")
      val s = newSpan(currentQuery, "trigger", s"batch ${p.batchId}", nowMs - total)
      s.endMs = s.startMs + total
      val stateCommit = p.stateOperators.map(_.commitTimeMs.toDouble).sum
      s.attrs ++= Seq("add_batch_ms" -> d("addBatch"),
        "commit_ms" -> d("commitOffsets"), "planning_ms" -> d("queryPlanning"),
        "state_commit_ms" -> stateCommit)
      add("triggers", 1); add("add_batch_ms", d("addBatch"))
      add("commit_ms", d("commitOffsets")); add("planning_ms", d("queryPlanning"))
      add("state_commit_ms", stateCommit)
      Trace.this.synchronized {
        triggerMs += total
        stateRows(p.id) = p.stateOperators.map(_.numRowsTotal).sum
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  def triggerP50: Double = synchronized(Stats.quantile(triggerMs.toSeq, 0.5))
  def stateRowsTotal: Double = synchronized(stateRows.values.sum.toDouble)

  /** Sum of a span kind's durations (ms), and its self time: duration
    * minus the time covered by its children, floored at zero.
    */
  def kindTotals: Seq[(String, Int, Double, Double)] = synchronized {
    val childMs = mutable.HashMap.empty[Int, Double]
    spans.foreach { s =>
      if (s.parent >= 0)
        childMs(s.parent) = childMs.getOrElse(s.parent, 0.0) + (s.endMs - s.startMs)
    }
    spans.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, ss) =>
      val dur = ss.map(s => s.endMs - s.startMs).sum
      val self = ss.map(s => math.max(0.0,
        (s.endMs - s.startMs) - childMs.getOrElse(s.id, 0.0))).sum
      (k, ss.size, dur, self)
    }
  }

  /** Spans (with start times relative to the first span) plus per-kind
    * totals and the run-level counters, as one JSON document.
    */
  def toJson(extra: Seq[(String, String)]): String = synchronized {
    val t0 = if (spans.isEmpty) 0.0 else spans.map(_.startMs).min
    val ss = spans.map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
        .mkString("{", ",", "}")
      s"""{"id":${s.id},"parent":${s.parent},"kind":${Json.str(s.kind)},""" +
        s""""name":${Json.str(s.name)},"start_ms":${Json.num(s.startMs - t0)},""" +
        s""""dur_ms":${Json.num(s.endMs - s.startMs)},"attrs":$attrs}"""
    }
    val kinds = kindTotals.map { case (k, n, dur, self) =>
      s"""${Json.str(k)}:{"spans":$n,"total_ms":${Json.num(dur)},"self_ms":${Json.num(self)}}"""
    }
    val cs = counters.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
    (extra.map { case (k, v) => s"${Json.str(k)}:$v" } ++ Seq(
      s""""counters":${cs.mkString("{", ",", "}")}""",
      s""""layers":${kinds.mkString("{", ",", "}")}""",
      s""""spans":${ss.mkString("[", ",\n", "]")}""")).mkString("{", ",\n", "}\n")
  }
}

object Trace {
  /** (compiles, compile ns) so far in this JVM. */
  def codegen(): (Double, Double) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime.toDouble)
}
