package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the benchmark learns from outside the engine: Spark
  * listener events, query-planning phases, streaming progress, and
  * layer spans timed around calls into the engine's modules.
  *
  * Streaming progress is always on, because a curate operation is one
  * micro-batch and its latency comes from there. Everything else
  * records only while `enabled`. Spans are
  * kept in memory and summarised or written out when the run ends. */
final class Trace(spark: SparkSession) {
  import Trace._

  @volatile var enabled = false

  /** Nanoseconds the listeners below spent handling events while
    * tracing was on: the benchmark's own tracing work. */
  val callbackNs = new java.util.concurrent.atomic.AtomicLong()
  private def counted(body: => Unit): Unit =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body finally callbackNs.addAndGet(System.nanoTime() - t0)
    }

  /** Spark local property the benchmark thread sets to the current
    * operation's tag; jobs submitted under it carry it. */
  def tagOps(tag: Option[String]): Unit =
    spark.sparkContext.setLocalProperty(OpTagKey, tag.orNull)

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val stagesDone = new ConcurrentHashMap[Int, Integer]()
  val tasks = new ConcurrentHashMap[Int, TaskAgg]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()
  val layers = new ConcurrentLinkedQueue[LayerRec]()

  /** Times `body` as a span of `layer` when tracing is on. */
  def layer[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      try body
      finally layers.add(LayerRec(name, t0,
        (System.nanoTime() - n0) / 1e6))
    }

  /** Records a layer measurement made outside any operation. */
  def record(name: String, ms: Double): Unit =
    if (enabled) layers.add(LayerRec(name, -1L, ms))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = counted {
      if (enabled) {
        val p = Option(e.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
        val stream = for (q <- prop(QueryIdKey); b <- prop(BatchIdKey))
          yield s"$q:$b"
        jobs.put(e.jobId, JobRec(e.jobId, stream.orElse(prop(OpTagKey)),
          e.time, -1L))
        e.stageIds.foreach(stageJob.put(_, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = counted {
      val j = jobs.get(e.jobId)
      if (j != null) jobs.put(e.jobId, j.copy(end = e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        counted {
      val job = stageJob.get(e.stageInfo.stageId)
      if (jobs.containsKey(job))
        stagesDone.merge(job, 1, (a: Integer, b: Integer) => a + b)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = counted {
      val job = stageJob.getOrDefault(e.stageId, -1)
      if (jobs.containsKey(job)) {
        val agg = tasks.computeIfAbsent(job, _ => new TaskAgg)
        agg.synchronized(agg.add(e))
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = counted {
      if (enabled) {
        val ph = qe.tracker.phases
        def ms(k: String) = ph.get(k).map(_.durationMs.toDouble)
          .getOrElse(0.0)
        val end = if (ph.isEmpty) System.currentTimeMillis()
          else ph.values.map(_.endTimeMs).max
        plans.add(PlanRec(end, ms("analysis"), ms("optimization"),
          ms("planning")))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      rec(qe)
    override def onFailure(f: String, qe: QueryExecution,
        ex: Exception): Unit = rec(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
        .toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      if (p.numInputRows > 0)
        batches.add(BatchRec(p.id.toString, p.batchId, start, d,
          p.numInputRows))
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Blocks until every event posted so far has reached the listeners. */
  def drain(): Unit =
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  /** Writes one JSON line per operation span: its label, interval, the
    * Spark jobs and layer spans attributed to it, and its task totals. */
  def writeSpans(path: String, traces: Seq[OpTrace],
      labels: Map[Int, String]): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = traces.map { t =>
      val jobsJs = t.jobs.sortBy(_.start).map(j =>
        s"""{"id": ${j.id}, "start": ${j.start}, "end": ${j.end}}""")
        .mkString("[", ", ", "]")
      val layersJs = t.layers.toSeq.sortBy(_._1).map { case (k, v) =>
        s"${q(k)}: $v" }.mkString("{", ", ", "}")
      s"""{"op": ${t.op.id}, "label": ${q(labels.getOrElse(t.op.id, ""))}, """ +
        s""""start": ${t.op.start}, "end": ${t.op.end}, "jobs": $jobsJs, """ +
        s""""stages": ${t.stages}, "tasks": ${t.tasks.tasks}, """ +
        s""""task_ms": ${t.tasks.runMs}, "gap_ms": ${t.driverGapMs}, """ +
        s""""layers": $layersJs}"""
    }
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, lines.asJava)
  }

  /** Per-operation view of everything recorded, for `ops`. */
  def perOp(ops: Seq[Stats.Op]): Seq[OpTrace] = {
    drain()
    val out = ops.map(o => o.id -> new OpTrace(o)).toMap
    jobs.values.asScala.foreach { j =>
      Stats.attribute(ops, j.tag, j.start).foreach { id =>
        val t = out(id)
        t.jobs += j
        t.stages += Option(stagesDone.get(j.id)).map(_.intValue).getOrElse(0)
        Option(tasks.get(j.id)).foreach(t.tasks.merge)
      }
    }
    plans.asScala.foreach { p =>
      Stats.attribute(ops, None, p.end).foreach(out(_).plans += p)
    }
    layers.asScala.filter(_.start >= 0).foreach { l =>
      Stats.attribute(ops, None, l.start).foreach { id =>
        val t = out(id)
        t.layers(l.name) = t.layers.getOrElse(l.name, 0.0) + l.ms
      }
    }
    ops.map(o => out(o.id))
  }
}

object Trace {
  val OpTagKey = "graftbench.op"
  val QueryIdKey = "sql.streaming.queryId"
  val BatchIdKey = "streaming.sql.batchId"

  final case class JobRec(id: Int, tag: Option[String], start: Long,
      end: Long)
  final case class PlanRec(end: Long, analysisMs: Double,
      optimizationMs: Double, planningMs: Double)
  final case class BatchRec(queryId: String, batchId: Long,
      start: Long, durations: Map[String, Double], rows: Long) {
    def tag: String = s"$queryId:$batchId"
    def ms(k: String): Double = durations.getOrElse(k, 0.0)
  }
  final case class LayerRec(name: String, start: Long, ms: Double)

  /** Task metrics summed over the tasks of one job. */
  final class TaskAgg {
    var tasks = 0L; var failures = 0L
    var runMs = 0.0; var cpuMs = 0.0; var gcMs = 0.0
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var input = 0L; var output = 0L
    def add(e: SparkListenerTaskEnd): Unit = {
      tasks += 1
      if (e.reason != org.apache.spark.Success || e.taskInfo.attemptNumber > 0)
        failures += 1
      val m = e.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime
        cpuMs += m.executorCpuTime / 1e6
        gcMs += m.jvmGCTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        input += m.inputMetrics.bytesRead
        output += m.outputMetrics.bytesWritten
      }
    }
    def merge(o: TaskAgg): Unit = {
      tasks += o.tasks; failures += o.failures
      runMs += o.runMs; cpuMs += o.cpuMs; gcMs += o.gcMs
      shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
      spill += o.spill; input += o.input; output += o.output
    }
  }

  /** What one operation caused: its jobs, stages, tasks, plans, layers. */
  final class OpTrace(val op: Stats.Op) {
    val jobs = scala.collection.mutable.ArrayBuffer.empty[JobRec]
    var stages = 0
    val tasks = new TaskAgg
    val plans = scala.collection.mutable.ArrayBuffer.empty[PlanRec]
    val layers = scala.collection.mutable.Map.empty[String, Double]
    def wallMs: Long = op.end - op.start
    def jobIntervals: Seq[(Long, Long)] =
      jobs.toSeq.map(j => (j.start, if (j.end < 0) op.end else j.end))
    def jobMs: Long =
      Stats.unionLength(Stats.clip(jobIntervals, op.start, op.end))
    def driverGapMs: Long = Stats.driverGap(op.start, op.end, jobIntervals)
  }
}
