package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed interval around a call into a layer. Spans nest on the
  * benchmark's single driver thread; `parent` is 0 for a root span. */
final case class Span(id: Long, name: String, parent: Long, runId: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What one finished task reported, reduced to the fields the layer
  * metrics use. Times are seconds, sizes bytes. */
final case class TaskRec(stageId: Int, failed: Boolean, runS: Double,
    cpuS: Double, gcS: Double, schedDelayS: Double, fetchWaitS: Double,
    shuffleWriteBytes: Long, shuffleWriteRecords: Long,
    shuffleReadBytes: Long, shuffleReadRecords: Long, spillBytes: Long,
    inputBytes: Long, inputRecords: Long, outputBytes: Long)

final case class StageRec(stageId: Int, group: Option[String], submitMs: Long)

final case class JobRec(jobId: Int, group: Option[String], execId: Option[Long],
    timeMs: Long)

final case class BatchRec(startMs: Long, triggerMs: Long, stateRows: Long,
    stateBytes: Long, commitMs: Long)

final case class QueryRec(execId: Long, receivedMs: Long)

/** Records spans from the benchmark's own files and, while installed,
  * collects counters from Spark's public listener APIs: a
  * [[SparkListener]] (jobs, stages, task metrics), a
  * [[QueryExecutionListener]] (SQL actions) and a
  * [[StreamingQueryListener]] (micro-batches and state). Everything is
  * kept in memory; [[attribute]] assigns each counter to the innermost
  * span it ran under once the run has ended. Each span sets a job group,
  * so jobs started from the driver thread name their span; jobs from
  * threads Spark owns (micro-batch threads) are placed by their start
  * time. */
final class Tracer(val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Long, String, Long, Long)] = Nil
  private var nextId = 1L

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()
  val queries = new ConcurrentLinkedQueue[QueryRec]()
  @volatile private var lastEventMs = System.currentTimeMillis()
  private val jobsOpen = new java.util.concurrent.atomic.AtomicInteger()

  def groupOf(spanId: Long): String = s"perfbench-$runId-$spanId"

  /** Run `body` inside a span named `layer.what`. */
  def span[T](sc: SparkContext, name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(0L)
    val startNs = System.nanoTime()
    val startMs = System.currentTimeMillis()
    stack = (id, name, startNs, startMs) :: stack
    sc.setJobGroup(groupOf(id), name, interruptOnCancel = false)
    try body
    finally {
      val endNs = System.nanoTime()
      spans += Span(id, name, parent, runId, startNs, endNs, startMs,
        System.currentTimeMillis())
      stack = stack.tail
      stack.headOption match {
        case Some((pid, pname, _, _)) =>
          sc.setJobGroup(groupOf(pid), pname, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def allSpans: Seq[Span] = spans.toSeq

  private val sparkListener = new SparkListener {
    private def group(p: java.util.Properties): Option[String] =
      Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsOpen.incrementAndGet()
      jobs.add(JobRec(e.jobId, group(e.properties),
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id"))).flatMap(_.toLongOption),
        e.time))
      lastEventMs = System.currentTimeMillis()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobsOpen.decrementAndGet()
      lastEventMs = System.currentTimeMillis()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      stages.add(StageRec(e.stageInfo.stageId,
        group(e.properties), e.stageInfo.submissionTime.getOrElse(
          System.currentTimeMillis())))
      lastEventMs = System.currentTimeMillis()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      val failed = !info.successful
      tasks.add(if (m == null) TaskRec(e.stageId, failed, 0, 0, 0, 0, 0,
          0, 0, 0, 0, 0, 0, 0, 0)
        else {
          val sched = math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            info.gettingResultTime)
          TaskRec(e.stageId, failed, m.executorRunTime / 1e3,
            m.executorCpuTime / 1e9, m.jvmGCTime / 1e3, sched / 1e3,
            m.shuffleReadMetrics.fetchWaitTime / 1e3,
            m.shuffleWriteMetrics.bytesWritten,
            m.shuffleWriteMetrics.recordsWritten,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleReadMetrics.recordsRead,
            m.memoryBytesSpilled + m.diskBytesSpilled,
            m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
            m.outputMetrics.bytesWritten)
        })
      lastEventMs = System.currentTimeMillis()
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit =
      queries.add(QueryRec(qe.id, System.currentTimeMillis()))
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit =
      queries.add(QueryRec(qe.id, System.currentTimeMillis()))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(event: QueryStartedEvent): Unit = ()
    override def onQueryIdle(event: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(event: QueryProgressEvent): Unit = {
      val p = event.progress
      val ops = p.stateOperators
      batches.add(BatchRec(java.time.Instant.parse(p.timestamp).toEpochMilli,
        Option(p.durationMs.get("triggerExecution")).map(_.longValue)
          .getOrElse(0L),
        ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum, ops.map(_.commitTimeMs).sum))
      lastEventMs = System.currentTimeMillis()
    }
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until the listener bus has delivered every job end and gone
    * quiet, then detach. */
  def uninstall(spark: SparkSession): Unit = {
    val deadline = System.currentTimeMillis() + 15000L
    while (System.currentTimeMillis() < deadline &&
      (jobsOpen.get() > 0 || System.currentTimeMillis() - lastEventMs < 300L))
      Thread.sleep(20L)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** The innermost span containing wall-clock time `ms`, or 0. */
  private def spanAt(ms: Long, sorted: Seq[Span]): Long =
    sorted.filter(s => s.startMs <= ms && ms <= s.endMs)
      .sortBy(s => s.endNs - s.startNs).headOption.map(_.id).getOrElse(0L)

  /** Counters of one run, each assigned to the span it ran under. */
  def attribute(): Attributed = {
    val ss = allSpans
    val byGroup = ss.map(s => groupOf(s.id) -> s.id).toMap
    def place(group: Option[String], ms: Long): Long =
      group.flatMap(byGroup.get).getOrElse(spanAt(ms, ss))
    val jobSpan = jobs.asScala.map(j => j.jobId -> place(j.group, j.timeMs)).toMap
    val execSpan = jobs.asScala.flatMap(j =>
      j.execId.map(_ -> place(j.group, j.timeMs))).toMap
    val stageSpan = stages.asScala.map(s => s.stageId -> place(s.group, s.submitMs)).toMap
    Attributed(ss,
      jobs.asScala.toSeq.map(j => jobSpan(j.jobId) -> j),
      stages.asScala.toSeq.map(s => stageSpan(s.stageId) -> s),
      tasks.asScala.toSeq.map(t => stageSpan.getOrElse(t.stageId, 0L) -> t),
      batches.asScala.toSeq.map(b => spanAt(b.startMs, ss) -> b),
      queries.asScala.toSeq.map(q =>
        execSpan.getOrElse(q.execId, spanAt(q.receivedMs, ss)) -> q))
  }
}

/** A run's counters keyed by the span they ran under. */
final case class Attributed(spans: Seq[Span], jobs: Seq[(Long, JobRec)],
    stages: Seq[(Long, StageRec)], tasks: Seq[(Long, TaskRec)],
    batches: Seq[(Long, BatchRec)], queries: Seq[(Long, QueryRec)]) {

  /** Span ids under `root` (itself included). */
  def subtree(root: Long): Set[Long] = {
    val kids = spans.groupBy(_.parent)
    @annotation.tailrec
    def go(todo: List[Long], acc: Set[Long]): Set[Long] = todo match {
      case Nil => acc
      case h :: t => go(kids.getOrElse(h, Nil).map(_.id).toList ::: t, acc + h)
    }
    go(List(root), Set.empty)
  }

  /** Ids of every span named `name` and of everything under them. */
  def under(name: String): Set[Long] =
    spans.filter(_.name == name).flatMap(s => subtree(s.id)).toSet

  def tasksIn(ids: Set[Long]): Seq[TaskRec] =
    tasks.collect { case (s, t) if ids(s) => t }
  def jobsIn(ids: Set[Long]): Int = jobs.count { case (s, _) => ids(s) }
  def stagesIn(ids: Set[Long]): Seq[StageRec] =
    stages.collect { case (s, st) if ids(s) => st }
  def batchesIn(ids: Set[Long]): Seq[BatchRec] =
    batches.collect { case (s, b) if ids(s) => b }

  /** Wall seconds of every span named `name`, summed. */
  def wall(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum

  /** Self time per layer: each span's duration minus the part of it
    * that its child spans cover. */
  def selfByLayer: Map[String, Double] = {
    val childTime = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(_.seconds).sum }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum }
  }

  def json: String = {
    val sp = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""run_id":"${s.runId}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""jobs":${jobsIn(Set(s.id))},"tasks":${tasksIn(Set(s.id)).size}}"""
    }
    s"""{"spans":[${sp.mkString(",")}]}"""
  }
}
