package graft.streaming

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructType, TimestampType}

/** Runs one streaming catalog row as a real AvailableNow Structured
  * Streaming query over the fixture's `events` table. The row declares
  * what is its own: how the input is staged ([[StreamGate.Input]]), its
  * source → result `stream`, its sink ([[StreamGate.Sink]]), a post-run
  * `check` and a `readback`. [[run]] does the rest: stage the input into
  * a fresh directory, start the stream and await it, check, read the
  * sink back (the memory table, or the parquet directory through its
  * `_spark_metadata` manifest, with the sentinel's rows dropped), and
  * delete the staged input in a `finally`, so a failed stream or check
  * leaves no temp dir behind. [[plan]] builds the same streaming
  * DataFrame over the fixture and starts nothing: no `StreamingQuery`,
  * no staging, no sink or checkpoint. Its analysed plan is the one
  * [[run]] starts, up to the source path.
  *
  * Sinks: aggregate-bounded results use a complete-mode memory sink.
  * Corpus- or population-bounded ones use an append-mode parquet FILE
  * sink with a checkpoint, because a memory sink funnels every row
  * through the driver: at 100× the design corpus the sf10 bench tripped
  * `spark.driver.maxResultSize` (1.1 GiB of task results). A file sink
  * writes to a [[graft.engine.Scratch]] dir, as the returned readback
  * reads it lazily.
  *
  * State partitions: a stream freezes its state-store count from
  * `spark.sql.shuffle.partitions` at its FIRST start (the checkpoint
  * keeps it), and every micro-batch commits each store, so the count is
  * sized to the stream's key volume (8), not to the batch default. The
  * stream clones the session conf when it starts, so the setting is held
  * only around `start()`. SINGLE-THREADED ASSUMPTION: that mutates the
  * SHARED session conf. Verify and Bench run catalog queries one at a
  * time; a harness running queries concurrently on one session would
  * have a batch query planned inside the window inherit the count (no
  * per-query conf path exists to scope it).
  */
final class StreamGate(
    input: StreamGate.Input,
    sink: StreamGate.Sink,
    stream: StreamGate.Source => DataFrame,
    check: StreamGate.Run => Unit = _ => (),
    readback: DataFrame => DataFrame = identity) {
  import StreamGate._

  private val key = "graft_stream_" + java.util.UUID.randomUUID.toString.take(8)

  /** The row's result: a real AvailableNow run, checked and read back. */
  def run(s: SparkSession, dir: String): DataFrame = staged(s, dir) { st =>
    val at = st.freshSink()
    check(new Run(st, at, st.drain(at)))
    st.read(at)
  }

  /** The unstarted streaming DataFrame of the row, over the fixture. */
  def plan(s: SparkSession, dir: String): DataFrame = stream(source(s, dir, eventsPath(dir)))

  /** Stage the input, hand it to `body`, and delete it afterwards whatever
    * `body` does. [[run]] is the one-start lifecycle over this; a row whose
    * property is a different start sequence (a kill and a resume) drives
    * [[Staged]] itself.
    */
  def staged[T](s: SparkSession, dir: String)(body: Staged => T): T = {
    val root = Files.createTempDirectory(key)
    try body(stage(s, dir, root))
    finally FileUtils.deleteDirectory(root.toFile)
  }

  /** The row's reader over `path`; multi-batch staging replays one file
    * per trigger. */
  private def source(s: SparkSession, dir: String, path: String): Source =
    new Source(s, dir, path, s.read.parquet(eventsPath(dir)).schema, input match {
      case Sentinel(timeSplits, _) if timeSplits > 1 => Some(1)
      case _ => None
    })

  private def stage(s: SparkSession, dir: String, root: Path): Staged = {
    val path = Paths.get(eventsPath(dir))
    val in = Files.createDirectory(root.resolve("in"))
    input match {
      case Copies(n) => (1 to n).foreach(i => stageParquet(path, in, s"copy_$i"))
      case Sentinel(timeSplits, _) => stageWithSentinel(s, path, root, in, timeSplits)
    }
    val nFiles = in.toFile.listFiles().count(_.getName.endsWith(".parquet"))
    new Staged(s, dir, nFiles, source(s, dir, in.toString))
  }

  /** A staged input of `nFiles` parquet files (the sentinel included) and
    * the sinks started over it. A sink location is a memory table name or
    * a directory holding `out/` and `ckpt/`.
    */
  final class Staged private[StreamGate] (s: SparkSession, dir: String,
      val nFiles: Int, source: Source) {

    /** A fresh sink location; `tag` tells apart the sinks of one staging. */
    def freshSink(tag: String = "run"): String = sink match {
      case MemorySink => key + "_" + java.util.UUID.randomUUID.toString.replace("-", "")
      case FileSink =>
        val at = s"${graft.engine.Scratch.dir(s"$key:$dir")}/$tag"
        FileUtils.deleteDirectory(new File(at))
        at
    }

    /** Start the row's stream AvailableNow into `at`; on a file sink's
      * existing checkpoint this resumes. */
    def start(at: String): StreamingQuery = {
      val w = stream(source).writeStream.trigger(Trigger.AvailableNow())
      val prev = s.conf.get(ShufflePartitions)
      s.conf.set(ShufflePartitions, "8")
      try sink match {
        case MemorySink => w.format("memory").queryName(at).outputMode("complete").start()
        case FileSink => w.format("parquet").option("path", s"$at/out")
          .option("checkpointLocation", s"$at/ckpt").outputMode("append").start()
      } finally s.conf.set(ShufflePartitions, prev)
    }

    /** [[start]] and await the end of the run. */
    def drain(at: String): StreamingQuery = {
      val q = start(at)
      q.awaitTermination()
      q
    }

    /** The file sink at `at` committed a `_spark_metadata` manifest. */
    def manifested(at: String): Boolean = new File(s"$at/out/_spark_metadata").exists()

    /** Every row `at` holds, before the sentinel drop and the readback. */
    private[StreamGate] def rows(at: String): DataFrame = sink match {
      case MemorySink => s.table(at)
      case FileSink => s.read.parquet(s"$at/out")
    }

    /** The row's result from `at`. A memory table is released at once:
      * the resolved plan holds its rows, and repeated runs must not pile
      * up sink tables.
      */
    def read(at: String): DataFrame = {
      if (sink == FileSink) require(manifested(at),
        "file sink wrote no _spark_metadata manifest — exactly-once readback contract missing")
      val raw = rows(at)
      if (sink == MemorySink) s.catalog.dropTempView(at)
      readback(input match {
        case Sentinel(_, keep) => raw.where(keep(s, dir))
        case _ => raw
      })
    }
  }
}

object StreamGate {

  /** How the events table is staged into the stream-source directory. */
  sealed trait Input

  /** `n` whole copies of the events table: with 2, every event arrives
    * twice. */
  final case class Copies(n: Int) extends Input

  /** The events table plus one far-future sentinel event (corpus max ts
    * + 1 day, user_id -1), the drain of the append-mode rows: their
    * windows and sessions emit only once the watermark passes their end,
    * and the sentinel advances the watermark past every real one on the
    * no-data flush batch. At scale this is how a backfill drains: the
    * watermark, not the job's end, releases state. The sentinel's own
    * window stays unemitted (its end is beyond the final watermark);
    * `keep`, a predicate over the sink rows given the session and the
    * fixture dir, drops it defensively on readback.
    *
    * `timeSplits` > 1 stages the corpus as that many TIME-ORDERED files
    * with increasing modification times (the file source admits the
    * oldest first), read one file per trigger: ≥ timeSplits+1 real
    * micro-batches, early windows emitting and evicting MID-RUN. Time
    * order keeps the result exact: chunk i+1's min event time is ≥ chunk
    * i's max, so nothing lands behind the watermark.
    */
  final case class Sentinel(timeSplits: Int, keep: (SparkSession, String) => Column)
    extends Input

  sealed trait Sink
  /** Complete-mode memory table. */
  case object MemorySink extends Sink
  /** Append-mode parquet directory with a checkpoint. */
  case object FileSink extends Sink

  /** What a row's `stream` is built from: the session, the fixture dir,
    * and the stream-source `path` (the staged dir, or the fixture itself
    * in [[StreamGate.plan]]). */
  final class Source private[StreamGate] (val s: SparkSession, val dir: String,
      val path: String, schema: StructType, maxFilesPerTrigger: Option[Int]) {
    /** A new file-stream reader over the events. Each call is a separate
      * source with its own lineage, so one input can feed both sides of a
      * stream-stream join. */
    def events(): DataFrame = {
      val r = s.readStream.schema(schema)
      maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n.toString)).parquet(path)
    }
  }

  /** A finished run, as the row's check sees it. */
  final class Run private[StreamGate] (st: StreamGate#Staged, at: String,
      val query: StreamingQuery) {
    /** Parquet files staged, the sentinel included. */
    def nFiles: Int = st.nFiles
    /** Every row the sink holds now. */
    def sinkRows: DataFrame = st.rows(at)
    /** Start the stream again on the same sink and checkpoint, and await it. */
    def restart(): Unit = st.drain(at): Unit
  }

  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  private def eventsPath(dir: String): String = s"$dir/events.parquet"

  /** Stage a parquet input — a single FILE or a Spark-written DIRECTORY
    * of part files — into `dstDir` as `prefix…` files. `Files.copy` on a
    * directory copies only the (empty) directory entry, which at inflated
    * SFs (fixture tables are directories there) once staged ZERO input
    * files: every single-file streaming gate returned 0 rows in the sf1
    * oracle sweep. Returns the staged paths.
    */
  private[streaming] def stageParquet(src: Path, dstDir: Path, prefix: String): Seq[Path] =
    if (Files.isDirectory(src)) {
      val parts = src.toFile.listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).sortBy(_.getName)
      require(parts.nonEmpty, s"$src contains no parquet part files")
      parts.zipWithIndex.toSeq.map { case (f, i) =>
        Files.copy(f.toPath, dstDir.resolve(f"${prefix}_$i%04d.parquet"))
      }
    } else Seq(Files.copy(src, dstDir.resolve(s"$prefix.parquet")))

  /** [[Sentinel]] staging into `in`. Spark's writes land under `root`
    * first; [[stageParquet]] copies their part files sorted by name, which
    * is task order. */
  private def stageWithSentinel(s: SparkSession, path: Path, root: Path, in: Path,
      timeSplits: Int): Unit = {
    val batch = s.read.parquet(path.toString)
    // an empty fixture would stage an empty sentinel file: the watermark
    // would never advance and the gate would silently return zero rows
    require(!batch.isEmpty, s"$path is empty: sentinel watermark drain needs at least one event")
    def stamp(p: Path, seq: Int): Unit =
      Files.setLastModifiedTime(p, FileTime.fromMillis(1700000000000L + seq * 60000L))
    def written(df: DataFrame, name: String): Path = {
      val d = root.resolve(name)
      df.write.parquet(d.toString)
      d
    }
    if (timeSplits <= 1) {
      // one batch need not be time-ordered: the data files share one
      // stamp, only the sentinel must sort last
      stageParquet(path, in, "events").foreach(stamp(_, 0))
    } else {
      // PARALLEL time-range chunking: repartitionByRange assigns ascending
      // ts ranges to ascending partition ids, and each task writes one file
      // — a distributed range sort, not a single-partition ntile window
      // (which at 1M+ events made staging dominate the gate)
      stageParquet(written(batch.repartitionByRange(timeSplits, col("ts")), "chunks"), in, "events")
        .zipWithIndex.foreach { case (p, i) => stamp(p, i + 1) }
    }
    val schema = batch.schema
    val bumped = schema("ts").dataType match {
      case LongType => (max(col("ts")) + lit(86400L * 1000000000L)).as("ts")
      case dt       => (max(col("ts")).cast(TimestampType) + expr("INTERVAL 1 DAY")).cast(dt).as("ts")
    }
    val sentinel = batch.limit(1).drop("ts").crossJoin(batch.agg(bumped))
      .withColumn("user_id", lit(-1L))
      .select(schema.fieldNames.map(col).toSeq: _*)
    stageParquet(written(sentinel.coalesce(1), "sentinel"), in, "zz_sentinel")
      .foreach(stamp(_, timeSplits + 1))
  }
}
