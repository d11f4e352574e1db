package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine totals of one timed operation, gathered from the listener bus. */
final class OpStats {
  var jobs = 0
  val jobStartMs = ArrayBuffer[Long]()
  /** (submitted, completed, tasks) per stage. */
  val stages = ArrayBuffer[(Long, Long, Int)]()
  val taskMs = mutable.HashMap[Int, ArrayBuffer[Long]]()
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var shuffleRecords = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var compileNs = 0L
  var compilations = 0L

  /** Wall time of [t0, t1] not covered by any stage of the operation. */
  def driverGapMs(t0: Long, t1: Long): Long = {
    val iv = stages.map { case (s, e, _) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    math.max(0L, (t1 - t0) - covered)
  }

  /** Longest over median task time of the stage with the most tasks. */
  def taskSkew: Double = {
    if (taskMs.isEmpty) 0.0
    else {
      val widest = taskMs.values.maxBy(_.size)
      val sorted = widest.sorted
      val med = sorted(sorted.size / 2)
      if (med <= 0) 1.0 else sorted.last.toDouble / med
    }
  }
}

/** Listener scoped to the benchmark's job group: every job, stage and task
  * of the current operation, plus Catalyst phase times of every action the
  * operation ran. Attached only in the traced run.
  */
final class EngineTracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val lock = new Object
  private val stageGroup = mutable.HashMap[Int, String]()
  private var current: String = null
  private var stats = new OpStats

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(): Unit =
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)

  def begin(group: String): Unit = lock.synchronized {
    current = group
    stats = new OpStats
  }

  /** Waits for the bus to deliver the operation's events, then hands over
    * its totals.
    */
  def end(): OpStats = {
    drain()
    lock.synchronized {
      val s = stats
      current = null
      stats = new OpStats
      stageGroup.clear()
      s
    }
  }

  private def mine(props: java.util.Properties): Boolean =
    current != null && props != null &&
      props.getProperty("spark.jobGroup.id") == current

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    if (mine(e.properties)) {
      stats.jobs += 1
      stats.jobStartMs += e.time
      e.stageIds.foreach(id => stageGroup(id) = current)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    lock.synchronized {
      val info = e.stageInfo
      if (stageGroup.get(info.stageId).contains(current)) {
        for (s <- info.submissionTime; c <- info.completionTime)
          stats.stages += ((s, c, info.numTasks))
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    if (stageGroup.get(e.stageId).contains(current)) {
      stats.tasks += 1
      stats.taskMs.getOrElseUpdate(e.stageId, ArrayBuffer[Long]()) +=
        e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        stats.runMs += m.executorRunTime
        stats.cpuNs += m.executorCpuTime
        stats.gcMs += m.jvmGCTime
        stats.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        stats.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        stats.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        stats.spillBytes += m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = lock.synchronized {
    if (current != null) {
      val p = qe.tracker.phases
      def ms(name: String): Long = p.get(name).map(_.durationMs).getOrElse(0L)
      stats.analysisMs += ms("analysis")
      stats.optimizationMs += ms("optimization")
      stats.planningMs += ms("planning")
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}

/** Spans kept in memory and written as JSON when the run ends. */
final class Spans {
  final case class Span(id: Int, name: String, startMs: Long, var endMs: Long,
                        parent: Int, iter: Int)
  private val spans = ArrayBuffer[Span]()

  def add(name: String, startMs: Long, endMs: Long, parent: Int,
          iter: Int): Int = synchronized {
    val id = spans.size + 1
    spans += Span(id, name, startMs, endMs, parent, iter)
    id
  }

  /** Sets the end of a span opened with an end of 0. */
  def close(id: Int, endMs: Long): Unit = synchronized {
    spans(id - 1).endMs = endMs
  }

  def toJson: String = synchronized {
    spans.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"parent":${s.parent},"iter":${s.iter}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}
