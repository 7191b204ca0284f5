package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: a name, a start and an end, the span that was open when
  * it started (-1 for none), and the operation it belongs to.
  */
final case class Span(id: Int, op: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark's own counters for one traced pass, filled by a `SparkListener`
  * and a `QueryExecutionListener`. Jobs are attributed to every span that
  * was open when they started, through a local property on the caller's
  * thread (Spark copies local properties into the threads the engine's
  * parallel plan builds fork).
  */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  var jobs = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskBusyMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var planningMs = 0L
  var exchanges = 0L
  val jobsBySpan: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)

  def reset(): Unit = synchronized {
    jobs = 0; tasks = 0; failedTasks = 0; taskBusyMs = 0
    shuffleWriteBytes = 0; spillBytes = 0; planningMs = 0; exchanges = 0
    jobsBySpan.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .foreach(_.split(',').filter(_.nonEmpty).foreach(s => jobsBySpan(s) += 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (!e.taskInfo.successful) failedTasks += 1
    Option(e.taskMetrics).foreach { m =>
      taskBusyMs += m.executorRunTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Exchanges are counted as the shuffle stages that ran, so that those
    * inside a persisted plan count once, when the cache fills.
    */
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (PerfbenchAccess.writesShuffle(e.stageInfo)) exchanges += 1
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    synchronized { planningMs += ms }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Spans of the traced passes, kept in memory and written out at the end. */
final class Tracer(spark: SparkSession) {
  val counters = new SparkCounters
  spark.sparkContext.addSparkListener(counters)
  spark.listenerManager.register(counters)

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var open: List[(Int, String)] = Nil
  private var nextId = 0
  /** The operation the next spans belong to. */
  var op = 0

  private def markJobs(): Unit =
    spark.sparkContext.setLocalProperty(Tracer.SpanProperty,
      if (open.isEmpty) null else open.map(_._2).mkString(","))

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open = (id, name) :: open
    markJobs()
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, op, name, parent, t0, System.nanoTime())
      open = open.tail
      markJobs()
    }
  }

  /** Waits for every listener event of the work done so far. */
  def drain(): Unit = PerfbenchAccess.drainListeners(spark.sparkContext)

  /** Seconds spent in spans of each name, for spans that started at or
    * after `fromNs`.
    */
  def secondsByName(fromNs: Long): Map[String, Double] =
    spans.filter(_.startNs >= fromNs).groupMapReduce(_.name)(_.seconds)(_ + _)

  def writeJsonLines(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      out.println(s"""{"id":${s.id},"op":${s.op},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally out.close()
  }
}

object Tracer {
  val SpanProperty = "perfbench.spans"
}
