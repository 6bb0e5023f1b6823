package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into the program: name, wall-clock bounds (epoch ms
  * for matching listener events, nanos for durations), the enclosing
  * span and the run it belongs to.
  */
final case class Span(id: Long, parent: Long, name: String,
                      startMs: Long, endMs: Long, startNs: Long, endNs: Long,
                      runId: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into each layer, kept in memory
  * and written at exit. Untraced runs still time every call (the
  * end-to-end metrics need the durations) but record no spans and
  * install no listeners.
  *
  * Jobs are tied to spans through a SparkContext local property: Spark
  * copies local properties into every job the calling thread submits,
  * including the stream-execution and broadcast threads it spawns, so
  * attribution is exact and needs no clock matching.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  val SpanProperty = "perfbench.span"
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var nextId = 1L
  private var sc: Option[SparkContext] = None

  def bind(spark: SparkSession): Unit = sc = Some(spark.sparkContext)

  /** Run `body` as span `name`; returns its result and wall seconds. */
  def timed[T](name: String)(body: => T): (T, Double) = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0L)
    val prevProp = if (enabled) sc.map(_.getLocalProperty(SpanProperty)) else None
    if (enabled) sc.foreach(_.setLocalProperty(SpanProperty, id.toString))
    stack = id :: stack
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = body
      val t1 = System.nanoTime()
      if (enabled)
        done += Span(id, parent, name, startMs, System.currentTimeMillis(), t0, t1, runId)
      (r, (t1 - t0) / 1e9)
    } finally {
      stack = stack.tail
      if (enabled) sc.foreach(_.setLocalProperty(SpanProperty, prevProp.orNull))
    }
  }

  def spans: Seq[Span] = done.toSeq
}

/** Per-job record from the scheduler listener: the span that submitted
  * it, its SQL execution and its own result-stage name (`ownSite`). */
final case class JobRec(span: Long, execId: Option[Long], ownSite: String,
                        startMs: Long, endMs: Long, stages: Seq[Int])

final case class StageRec(tasks: Int, runMs: Long, shuffleRead: Long, shuffleWrite: Long,
                          spill: Long, taskRunMs: Seq[Long])

final case class TriggerRec(startMs: Long, inputRows: Long, phases: Map[String, Long],
                            stateCommitMs: Long)

/** Scheduler + streaming listener installed only in traced runs. */
final class Meter(spanProperty: String) extends SparkListener {
  private val jobStart = mutable.Map.empty[Int, SparkListenerJobStart]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.Map.empty[Int, StageRec]
  private val taskRun = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val execSite = mutable.Map.empty[Long, String]
  private val triggers = mutable.ArrayBuffer.empty[TriggerRec]

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val phases = mutable.Map.empty[String, Long]
      p.durationMs.forEach((k, v) => phases(k) = v.longValue)
      Meter.this.synchronized {
        triggers += TriggerRec(java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.numInputRows, phases.toMap, p.stateOperators.map(_.commitTimeMs).sum)
      }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { s =>
      val props = Option(s.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val site = if (s.stageInfos.isEmpty) "" else s.stageInfos.maxBy(_.stageId).name
      jobs += JobRec(prop(spanProperty).map(_.toLong).getOrElse(0L),
        prop("spark.sql.execution.id").map(_.toLong), site, s.time, e.time,
        s.stageInfos.map(_.stageId))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) taskRun.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null)
      stages(i.stageId) = StageRec(i.numTasks, m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        taskRun.remove(i.stageId).map(_.toSeq).getOrElse(Nil))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execSite(s.executionId) = s.description }
    case _ => ()
  }

  /** The call site a job is attributed to: its SQL execution's (AQE
    * stage jobs, broadcast jobs), else its own, e.g. `isEmpty at
    * Jobs.scala:58`. An execution description that is not a call site
    * (a micro-batch names its query and batch) is passed over. */
  def site(j: JobRec): String = synchronized {
    j.execId.flatMap(execSite.get).filter(Meter.CallSite.matches).getOrElse(j.ownSite)
  }
  def jobsSnapshot: Seq[JobRec] = synchronized(jobs.toSeq)
  def stage(id: Int): Option[StageRec] = synchronized(stages.get(id))
  def triggersSnapshot: Seq[TriggerRec] = synchronized(triggers.toSeq)
}

object Meter {
  val CallSite = """\S+ at \S+:\d+""".r

  def install(spark: SparkSession, tracer: Tracer): Meter = {
    val m = new Meter(tracer.SpanProperty)
    spark.sparkContext.addSparkListener(m)
    spark.streams.addListener(m.streams)
    m
  }

  /** Block until every posted listener event has been handled. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
}
