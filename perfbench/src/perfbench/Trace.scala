package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into the engine. */
final case class Span(id: Int, name: String, pass: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What a finished stage cost. `scan` marks a stage that reads files,
  * `shuffleIn` one that reads a shuffle. */
final case class StageCost(span: Int, tasks: Int, wallMs: Long, taskMs: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long, scan: Boolean, shuffleIn: Boolean)

/** Spans around every engine call the benchmark makes. Untraced, a span
  * only times its body. Traced (`setOn(true)`), each span tags the jobs
  * it launches (a local property), waits for the listener bus after the
  * body, and the listeners below attribute jobs, stages and planning
  * time to it.
  */
final class Trace(spark: SparkSession) {
  @volatile private var on = false
  private val sc = spark.sparkContext
  private val Key = "perfbench.span"
  private var nextId = 0
  @volatile private var current = -1
  var pass = 0

  val spans = mutable.ArrayBuffer.empty[Span]
  val stages = mutable.ArrayBuffer.empty[StageCost]
  /** (span, start ms, end ms) of every job. */
  val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  val planningMs = mutable.Map.empty[Int, Long].withDefaultValue(0L)

  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, (Int, Long)]

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .map(_.toInt).getOrElse(-1)
      jobStart(e.jobId) = (span, e.time)
      e.stageInfos.foreach(s => stageSpan.getOrElseUpdate(s.stageId, span))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (span, t0) => jobs += ((span, t0, e.time)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      val wall = (for (a <- i.submissionTime; b <- i.completionTime) yield b - a).getOrElse(0L)
      val rdds = i.rddInfos.map(_.name)
      stages += StageCost(stageSpan.getOrElse(i.stageId, -1), i.numTasks, wall,
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
        rdds.exists(_.contains("FileScanRDD")), rdds.exists(_.contains("ShuffledRowRDD")))
    }
  }

  private object Planning extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Trace.this.synchronized {
        planningMs(current) += qe.tracker.phases.values.map(_.durationMs).sum
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def isOn: Boolean = on

  /** Attaches (or detaches) the listeners for the passes that follow. */
  def setOn(b: Boolean): Unit = if (b != on) {
    if (b) {
      sc.addSparkListener(Jobs)
      spark.listenerManager.register(Planning)
    } else {
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(Jobs)
      spark.listenerManager.unregister(Planning)
    }
    on = b
  }

  /** Times `body` as one call named `name`. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    // events of untimed work before this call must not land in it
    if (on) PerfbenchBus.drain(sc)
    current = id
    sc.setLocalProperty(Key, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(Key, null)
      if (on) PerfbenchBus.drain(sc)
      current = -1
      spans += Span(id, name, pass, t0, t1)
    }
  }

  def planningOf(span: Int): Long = synchronized(planningMs(span))
  def jobsOf(span: Int): Int = synchronized(jobs.count(_._1 == span))
  def stagesOf(span: Int): Seq[StageCost] = synchronized(stages.filter(_.span == span).toSeq)
}
