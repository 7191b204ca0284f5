package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.local(2)

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** A fresh temp directory named `prefix…`, deleted when the suite ends. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  // The state-store maintenance task is JVM-wide and outlives the
  // session (EventStreamsSpec and StreamGateSpec run stateful streams):
  // stop it with the session, or it keeps failing to reach the stopped
  // session's coordinator during later suites of the test JVM.
  override def afterAll(): Unit =
    try StateStore.stop()
    finally try spark.stop()
    finally tempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))

  /** Every physical node of `df`'s plan, descending through AQE wrappers
    * (into the initial plan), subqueries and the plans of persisted
    * frames. With AQE on, the top node is a leaf `AdaptiveSparkPlanExec`,
    * and a cached frame is a leaf `InMemoryTableScanExec`, so a plain
    * `executedPlan.collect` finds nothing beneath either.
    */
  def planNodes(df: DataFrame): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.initialPlan)
        case c: InMemoryTableScanExec => Seq(c.relation.cachedPlan)
        case _                        => Nil
      }
      p +: (p.children ++ p.subqueries ++ inner).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** `body`'s result and the number of Spark jobs it started. A listener
    * counts the jobs started between two marker jobs run before and after
    * `body`; the listener bus delivers events in order, so once the second
    * marker arrives every job of `body` has been counted.
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val key = "graft.test.marker"
    val jobs = new AtomicInteger
    val begun = new CountDownLatch(1)
    val ended = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some("begin") => begun.countDown()
          case Some("end")   => ended.countDown()
          case _ => if (begun.getCount == 0 && ended.getCount == 1) jobs.incrementAndGet()
        }
    }
    def marker(name: String): Unit = {
      sc.setLocalProperty(key, name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
    }
    sc.addSparkListener(listener)
    try {
      marker("begin")
      assert(begun.await(30, TimeUnit.SECONDS), "the begin marker never reached the listener")
      val result = body
      marker("end")
      assert(ended.await(30, TimeUnit.SECONDS), "the end marker never reached the listener")
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** `body`'s result and the number of streaming queries it started.
    * Spark posts a query's started event to the session's listeners
    * synchronously inside `start()`, so the count is complete when `body`
    * returns.
    */
  def streamsStartedDuring[T](body: => T): (T, Int) = {
    val started = new AtomicInteger
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.incrementAndGet(): Unit
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try (body, started.get) finally spark.streams.removeListener(listener)
  }
}
