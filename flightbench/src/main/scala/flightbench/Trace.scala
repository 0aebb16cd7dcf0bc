package flightbench

import java.time.Instant
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{BenchBridge, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a call the benchmark made into a layer. */
final case class Span(
    id: Int, name: String, parent: Int, day: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Executor-side work of a set of Spark jobs. */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var outputBytes = 0L
  /** Stages that scan the JSON input (schema inference or parse). */
  var jsonScanRunMs = 0L
  var jsonScanBytes = 0L
  /** Rows written by the stage that writes the stitched two-day frame. */
  var stitchRows = 0L
  /** Summed job-submit to first-task-start waits. */
  var waitMs = 0L
  /** Files written by write commands / scanned by file scans. */
  var filesWritten = 0L
  var filesScanned = 0L

  def copy(): Work = {
    val c = new Work
    c.jobs = jobs; c.tasks = tasks; c.runMs = runMs; c.cpuNs = cpuNs
    c.gcMs = gcMs; c.shuffleWriteBytes = shuffleWriteBytes
    c.outputBytes = outputBytes; c.jsonScanRunMs = jsonScanRunMs
    c.jsonScanBytes = jsonScanBytes; c.stitchRows = stitchRows
    c.waitMs = waitMs; c.filesWritten = filesWritten
    c.filesScanned = filesScanned
    c
  }

  /** This minus an earlier copy of the same counters. */
  def minus(o: Work): Work = {
    val c = new Work
    c.jobs = jobs - o.jobs; c.tasks = tasks - o.tasks
    c.runMs = runMs - o.runMs; c.cpuNs = cpuNs - o.cpuNs
    c.gcMs = gcMs - o.gcMs
    c.shuffleWriteBytes = shuffleWriteBytes - o.shuffleWriteBytes
    c.outputBytes = outputBytes - o.outputBytes
    c.jsonScanRunMs = jsonScanRunMs - o.jsonScanRunMs
    c.jsonScanBytes = jsonScanBytes - o.jsonScanBytes
    c.stitchRows = stitchRows - o.stitchRows; c.waitMs = waitMs - o.waitMs
    c.filesWritten = filesWritten - o.filesWritten
    c.filesScanned = filesScanned - o.filesScanned
    c
  }
}

/** One micro-batch of the streaming query that read input rows. */
final case class Batch(
    id: Long, startMs: Long, triggerMs: Long, latestOffsetMs: Long, rows: Long)

/**
 * Spans and Spark counters collected from outside the engine.
 *
 * A span sets the calling thread's Spark job group to its own id, so
 * every job the enclosed call starts (including broadcast jobs Spark
 * starts on helper threads, which inherit the group) is attributed to
 * the innermost open span. Jobs of the streaming query run under the
 * query's own group and are attributed to `streaming`.
 *
 * With tracing off no span is opened and no job group set; the
 * listeners still run, since streaming day latency comes from the
 * query's progress events.
 */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val current = new ThreadLocal[Int] { override def initialValue(): Int = -1 }

  private val work = new ConcurrentHashMap[String, Work]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val batches = mutable.ArrayBuffer.empty[Batch]
  @volatile private var streamGroup: String = ""

  private val GroupKey = "spark.jobGroup.id"

  /** Every stage and plan of the session, whatever its group. */
  private val total = new Work

  private def workOf(group: String): Work = work.computeIfAbsent(group, _ => new Work)

  /** A copy of the session totals, after draining pending events. */
  def totals(): Work = {
    drain()
    total.synchronized(total.copy())
  }

  /** Run `body` inside span `name` (with tracing off, just run it). */
  def span[T](name: String, day: Int = -1)(body: => T): T =
    if (!enabled) body
    else {
      val parent = current.get()
      val id = nextId.getAndIncrement()
      val prevGroup = sc.getLocalProperty(GroupKey)
      sc.setJobGroup(s"span-$id", name)
      current.set(id)
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        current.set(parent)
        if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevGroup)
        spans.synchronized(spans += Span(id, name, parent, day, start, end))
      }
    }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  def spansNamed(name: String): Seq[Span] = allSpans.filter(_.name == name)

  /** Work attributed to one span (traced runs). */
  def workOfSpan(s: Span): Work = workOf(s"span-${s.id}")

  /** Work of every span named `name`. */
  def workNamed(name: String): Seq[Work] = spansNamed(name).map(workOfSpan)

  def streamingWork: Work = workOf(streamGroup)

  def streamBatches: Seq[Batch] = batches.synchronized(batches.toList)

  def drain(): Unit = BenchBridge.drainListeners(sc)

  /** Spans as JSON lines (name, start, end, parent, day). */
  def spansJsonLines: Iterator[String] = allSpans.iterator.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"day":${s.day},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
        .getOrElse("")
      jobGroup.put(e.jobId, group)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      for (w <- Seq(workOf(group), total)) w.synchronized(w.jobs += 1)
    }

    override def onTaskStart(e: SparkListenerTaskStart): Unit = {
      val job = stageJob.getOrDefault(e.stageId, -1)
      // First task of the job: how long the job queued for a slot.
      val submitted = jobStart.remove(job)
      if (submitted != null) {
        val wait = math.max(0L, e.taskInfo.launchTime - submitted)
        val w = workOf(jobGroup.getOrDefault(job, ""))
        w.synchronized(w.waitMs += wait)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val group = jobGroup.getOrDefault(stageJob.getOrDefault(info.stageId, -1), "")
      val m = info.taskMetrics
      if (m == null) return
      val scopes = info.rddInfos.flatMap(_.scope.map(_.name)).toSet
      val scansJson = scopes.exists(s => s.startsWith("Scan json") || s.startsWith("Scan text"))
      val scansParquet = scopes.exists(_.startsWith("Scan parquet"))
      for (w <- Seq(workOf(group), total)) w.synchronized {
        w.tasks += info.numTasks
        w.runMs += m.executorRunTime
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.outputBytes += m.outputMetrics.bytesWritten
        if (scansJson && !scansParquet) {
          w.jsonScanRunMs += m.executorRunTime
          w.jsonScanBytes += m.inputMetrics.bytesRead
        }
        if (scopes.contains("Union") && scopes.contains("WriteFiles"))
          w.stitchRows += m.outputMetrics.recordsWritten
      }
    }
  }

  /** File counts are SQL metrics of the physical plan, read once the
    * query has finished. Plans carry no job group: files written are
    * those of the engine's write commands, files scanned those of the
    * analyst queries, which alone finish with `collect`. */
  private object Plans extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      var written = 0L
      var scanned = 0L
      nodes(qe.executedPlan).foreach {
        case w: DataWritingCommandExec =>
          written += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
        case s: FileSourceScanExec =>
          scanned += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        case _ =>
      }
      total.synchronized {
        total.filesWritten += written
        if (funcName == "collect") total.filesScanned += scanned
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec        => q +: nodes(q.plan)
    case other                    =>
      other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private object Stream extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamGroup = e.runId.toString
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs.asScala
        batches.synchronized {
          batches += Batch(p.batchId, Instant.parse(p.timestamp).toEpochMilli,
            d.get("triggerExecution").map(_.longValue).getOrElse(0L),
            d.get("latestOffset").map(_.longValue).getOrElse(0L),
            p.numInputRows)
        }
      }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  sc.addSparkListener(Jobs)
  spark.listenerManager.register(Plans)
  spark.streams.addListener(Stream)
}
