package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import graft.SparkSpec
import graft.streaming.StreamGate._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The streaming-row runner: staging, cleanup, the start-free plan, and
  * the rule that keeps it the only place that starts a stream.
  */
class StreamGateSpec extends SparkSpec {

  /** A fixture dir whose `events.parquet` is a Spark-written DIRECTORY of
    * 3 part files, 60 events 10 minutes apart. */
  private lazy val fixture: String = {
    val dir = tempDir("graft_streamgate_spec")
    spark.range(0, 60, 1, 3).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(1700000000L) + col("id") * 600).as("ts"),
      (col("id") % 4).as("user_id"),
      when(col("id") % 2 === 0, "view").otherwise("purchase").as("event_type"),
      col("id").cast("double").as("value"))
      .write.parquet(s"$dir/events.parquet")
    dir.toString
  }

  private def eventCount(src: Source): DataFrame = src.events().groupBy().count()

  test("staging a directory of part files stages every part") {
    var staged = -1
    val gate = new StreamGate(Copies(1), MemorySink, eventCount, check = r => staged = r.nFiles)
    assert(gate.run(spark, fixture).head().getLong(0) == 60L)
    assert(staged == 3)
  }

  test("a run whose post-run check throws still deletes its staged dir") {
    var source: String = null
    val gate = new StreamGate(Sentinel(3, (_, _) => lit(true)), FileSink,
      src => { source = src.path; src.events().select("event_id", "ts") },
      check = _ => throw new IllegalStateException("post-run check failed"))
    val e = intercept[IllegalStateException](gate.run(spark, fixture))
    assert(e.getMessage == "post-run check failed")
    val root = Paths.get(source).getParent
    assert(root.getFileName.toString.startsWith("graft_stream_"), s"$source is not a staged dir")
    assert(!Files.exists(root), s"$root left behind")
  }

  test("plan starts no StreamingQuery") {
    var source: String = null
    val gate = new StreamGate(Sentinel(3, (_, _) => lit(true)), FileSink,
      src => { source = src.path; EventStreams.windowedCounts(src.events()) })
    val (df, started) = streamsStartedDuring(gate.plan(spark, fixture))
    assert(df.isStreaming)
    df.queryExecution.assertAnalyzed()
    assert(started == 0 && spark.streams.active.isEmpty)
    assert(source == s"$fixture/events.parquet", "plan staged its input")
  }

  test("no main source but StreamGate.scala starts a stream") {
    val main = Paths.get(sys.props("user.dir"), "src", "main")
    val files = Using.resource(Files.walk(main))(_.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toList)
    val home = main.resolve("scala/graft/streaming/StreamGate.scala")
    assert(files.contains(home), s"$home not found under $main")
    val offenders = files.filter { p =>
      val src = Files.readString(p)
      p != home && (src.contains(".writeStream") || src.contains("Trigger.AvailableNow"))
    }
    assert(offenders.isEmpty, s"run streams through StreamGate instead: ${offenders.mkString(", ")}")
  }
}
