package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Spans of one op share `op`; `parent` is the span
  * that caused this one (-1 for an op's root span). Times are epoch ms. */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
    name: String, start: Double, end: Double,
    attrs: Map[String, Double] = Map.empty) {
  def dur: Double = end - start
}

/** Spans and Spark listener events of a traced run, kept in memory and
  * written out when the run ends.
  *
  * Everything is observed from outside graft: the harness opens a span
  * around each call it makes into a layer, and Spark's public listeners
  * report jobs, stages, tasks, query-planning phases and streaming
  * progress. Jobs belong to the op whose job group (`op-<id>`, or
  * `op-<id>.build` while a query is being built) was set on the client
  * thread when they were submitted; planning phases and streaming
  * progress belong to the op whose interval contains them. */
final class Recorder(spark: SparkSession) {
  private val lock = new Object
  private var nextId = 0L
  val spans = mutable.ArrayBuffer.empty[Span]

  final case class Job(id: Int, group: String, start: Double, var end: Double,
      stages: Seq[Int])
  final case class Stage(id: Int, start: Double, end: Double)
  final case class Task(stage: Int, dur: Double, run: Double, cpu: Double,
      gc: Double, sched: Double, shWrite: Long, shRead: Long, shRecords: Long,
      spill: Long, inBytes: Long, inRecords: Long, outBytes: Long,
      outRecords: Long)
  final case class Phases(at: Double, analysis: Double, optimization: Double,
      physical: Double)
  final case class Progress(at: Double, durations: Map[String, Double],
      inputRows: Long, stateRows: Long, stateBytes: Long, dropped: Long)

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  val tasks = mutable.ArrayBuffer.empty[Task]
  val phases = mutable.ArrayBuffer.empty[Phases]
  val progress = mutable.ArrayBuffer.empty[Progress]
  @volatile private var sentinelSeen = false
  private val sentinelGroup = "perfbench-drain"

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs(e.jobId) = Job(e.jobId, group, e.time.toDouble, e.time.toDouble,
        e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.end = e.time.toDouble
        if (j.group == sentinelGroup) sentinelSeen = true
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        val s = e.stageInfo
        for (a <- s.submissionTime; b <- s.completionTime)
          stages += Stage(s.stageId, a.toDouble, b.toDouble)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null && i != null) {
        val dur = i.duration.toDouble
        val run = m.executorRunTime.toDouble
        val overhead = m.executorDeserializeTime + m.resultSerializationTime +
          i.gettingResultTime
        tasks += Task(e.stageId, dur, run, m.executorCpuTime / 1e6,
          m.jvmGCTime.toDouble, math.max(0.0, dur - run - overhead),
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.recordsWritten + m.shuffleReadMetrics.recordsRead,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      val at = ph.values.map(_.startTimeMs).minOption
        .getOrElse(System.currentTimeMillis()).toDouble
      lock.synchronized {
        phases += Phases(at, ms("analysis"), ms("optimization"), ms("planning"))
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
      val d = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
        .map { case (k, v) => k -> v.toDouble }.toMap
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
        d.getOrElse("triggerExecution", 0.0)
      lock.synchronized {
        progress += Progress(end, d, p.numInputRows,
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum,
          p.stateOperators.map(_.numRowsDroppedByWatermark).sum)
      }
    }
  }

  private var attached = false

  /** Register the listeners; events are recorded only while attached. */
  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Wait until the listener bus has delivered every event posted so far:
    * events reach a listener in order, so once a sentinel job's end is
    * seen, every earlier job, stage and task event has been seen too. The
    * query-execution and streaming buses are separate queues; a short
    * settle covers them. */
  def drain(): Unit = {
    sentinelSeen = false
    val sc = spark.sparkContext
    sc.setJobGroup(sentinelGroup, "drain listener bus")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 10000
    while (!sentinelSeen && System.currentTimeMillis() < deadline) Thread.sleep(5)
    Thread.sleep(50)
  }

  def span(parent: Long, op: Long, layer: String, name: String, start: Double,
      end: Double, attrs: Map[String, Double] = Map.empty): Long =
    lock.synchronized {
      val id = nextId
      nextId += 1
      spans += Span(id, parent, op, layer, name, start, end, attrs)
      id
    }

  def newId(): Long = lock.synchronized { val id = nextId; nextId += 1; id }
}

object Intervals {
  /** Total length of the union of [start, end) intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Union length of `iv` clipped to [lo, hi). */
  def within(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double =
    union(iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) })
}
