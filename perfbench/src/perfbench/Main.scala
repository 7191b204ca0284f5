package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

import Workloads.{median, _}

/** The benchmark's entry point: one workload, one closed loop with a single
  * client issuing the workload's operations back to back.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <dir>
  * }}}
  *
  * With `--trace 0` it times every operation and prints the end-to-end
  * metrics; with `--trace 1` it alternates untraced passes with traced ones,
  * in which every call's output is persisted so that each span covers its
  * own layer's execution, and prints the per-layer metrics. The last line
  * of standard output is the result, as one JSON object.
  */
object Main {
  val PerLayer: Seq[(String, String)] = Seq(
    "api.build_s" -> "s", "api.build_jobs" -> "count", "api.exec_s" -> "s",
    "engine.plan_build_s" -> "s", "engine.plan_nodes" -> "count",
    "engine.cache_write_s" -> "s", "engine.bytes_written_per_input_byte" -> "ratio",
    "engine.cache_read_s" -> "s",
    "sources.bucketed_write_s" -> "s",
    "meta.parse_s" -> "s", "meta.resolve_s" -> "s",
    "ops.pipeline.clean_s" -> "s",
    "ops.decoders.classify_s" -> "s", "ops.decoders.attribute_s" -> "s",
    "ops.decoders.dict_rows" -> "count",
    "ops.stats.average_s" -> "s", "ops.stats.quantile_s" -> "s",
    "ops.dedup.census_s" -> "s", "ops.dedup.candidates_s" -> "s", "ops.dedup.verify_s" -> "s",
    "ops.dedup.clusters_s" -> "s",
    "ops.dedup.candidates" -> "count", "ops.dedup.verified_pairs" -> "count",
    "ops.dedup.useful_ratio" -> "ratio", "ops.dedup.cluster_jobs" -> "count",
    "ops.dedup.route" -> "label",
    "plans.minhash_rows_per_s" -> "rows/s", "plans.simhash_rows_per_s" -> "rows/s",
    "plans.shingle_rows_per_s" -> "rows/s", "plans.jaccard_pairs_per_s" -> "pairs/s",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_busy_s" -> "s",
    "spark.core_idle_s" -> "s", "spark.shuffle_write_bytes" -> "B", "spark.exchanges" -> "count",
    "spark.spill_bytes" -> "B", "spark.planning_s" -> "s", "spark.gc_s" -> "s",
    "spark.failed_tasks" -> "count",
    "trace.wall_s" -> "s", "trace.untraced_wall_s" -> "s", "trace.overhead_s" -> "s",
  )

  /** Fixture builds per run; `setup_s` takes their median. */
  val SetupRepeats = 3

  /** `op_tail_s` is taken over the operations of the last whole passes that
    * number at least this many, and the timed phase runs at least those
    * passes, so that the tail stands at the same percentile (p63 with 9
    * operations a pass) in every run of a workload.
    */
  val TailSamples = 27

  final class Args(a: Array[String]) {
    private val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def apply(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  }

  private var attempted = 0L
  private var failed = 0L

  def main(argv: Array[String]): Unit = {
    val args = new Args(argv)
    val workloadName = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = args("work")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val workload = Workloads(workloadName, Env(spark, cores, seed))
    val fixtureS = (0 until SetupRepeats).map { i =>
      if (i > 0) deleteRecursively(new java.io.File(s"$work/fixture-${i - 1}"))
      timeS(workload.setup(s"$work/fixture-$i"))._2
    }
    workload.prepareChecks()
    val (_, warmS) = timeS(pass(workload, None))
    val setupS = sessionS + median(fixtureS) + warmS
    log(f"setup: session $sessionS%.2f s, fixtures ${fixtureS.map(s => f"$s%.2f").mkString(" ")} s, warm-up $warmS%.2f s")

    val metrics: Seq[(String, String, Double)] =
      if (!traced) {
        val walls = mutable.ArrayBuffer.empty[Double]
        val latencies = mutable.ArrayBuffer.empty[Seq[Double]]
        val tailPasses = (TailSamples + workload.ops.size - 1) / workload.ops.size
        val t0 = System.nanoTime()
        while (walls.size < tailPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
          val (lat, wall) = timeS(pass(workload, None))
          walls += wall
          latencies += lat
        }
        val (tail, pct) = tailLatency(latencies.takeRight(tailPasses).flatten.toSeq)
        log(f"${walls.size} passes, ${latencies.map(_.size).sum} operations; op_tail_s is p$pct%.1f " +
          s"of the last $tailPasses passes")
        Seq(
          ("setup_s", "s", setupS),
          ("wall_s", "s", median(walls.toSeq)),
          ("op_p50_s", "s", median(latencies.flatten.toSeq)),
          ("op_tail_s", "s", tail),
          ("peak_rss_mb", "MB", peakRssMb()),
        )
      } else traceRun(spark, workload, cores, seconds, s"${args("out")}/spans-$workloadName-$seed.jsonl")

    val json = metrics.map { case (n, u, v) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s""""$n": {"value": $v, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $json}""")
    System.out.flush()
    spark.stop()
  }

  def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  /** Runs one pass of the workload's operations and returns each
    * operation's latency in seconds.
    */
  def pass(w: Workload, tracer: Option[Tracer]): Seq[Double] = {
    val persisted = mutable.ArrayBuffer.empty[DataFrame]
    val latencies = w.ops.map { op =>
      attempted += 1
      try {
        val obs = Observation()
        def force(df: DataFrame): Unit =
          noop(if (op.observe.isEmpty) df else df.observe(obs, op.observe.head, op.observe.tail: _*))
        val t0 = System.nanoTime()
        tracer match {
          case None =>
            val df = op.build()
            force(df)
            op.keep(df)
          case Some(t) =>
            t.op += 1
            t.span(op.layer) {
              val df = t.span("api.build")(op.build()).persist()
              persisted += df
              t.span("api.exec")(force(df))
              op.keep(df)
            }
        }
        val lat = (System.nanoTime() - t0) / 1e9
        log(f"${op.name}%-22s $lat%.3f s")
        op.check(if (op.observe.isEmpty) Map.empty else obs.get)
        lat
      } catch {
        case NonFatal(e) =>
          failed += 1
          log(s"operation ${op.name} failed: $e")
          Double.NaN
      }
    }
    w.endPass()
    persisted.foreach(_.unpersist())
    latencies.filterNot(_.isNaN)
  }

  /** The highest latency percentile with at least ten samples beyond it:
    * the 11th-slowest sample, and the percentile it stands at.
    */
  def tailLatency(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size <= 10) (s.last, 0.0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  /** Alternates untraced and traced passes for `seconds`, then returns the
    * median of each per-layer figure over the traced passes.
    */
  def traceRun(spark: SparkSession, w: Workload, cores: Int, seconds: Double,
               spansPath: String): Seq[(String, String, Double)] = {
    val tracer = new Tracer(spark)
    val untracedWalls = mutable.ArrayBuffer.empty[Double]
    val perPass = mutable.ArrayBuffer.empty[Map[String, Double]]
    val t0 = System.nanoTime()
    while (perPass.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      untracedWalls += timeS(pass(w, None))._2
      tracer.drain()
      tracer.counters.reset()
      val gc0 = gcSeconds()
      val start = System.nanoTime()
      pass(w, Some(tracer))
      val wall = (System.nanoTime() - start) / 1e9
      val gc = gcSeconds() - gc0
      tracer.drain()
      val c = tracer.counters
      val secs = tracer.secondsByName(start).withDefaultValue(0.0)
      perPass += c.synchronized(Map(
        "api.build_s" -> secs("api.build"),
        "api.build_jobs" -> c.jobsBySpan("api.build").toDouble,
        "api.exec_s" -> secs("api.exec"),
        "engine.cache_read_s" -> secs("engine.cache_read"),
        "ops.decoders.classify_s" -> secs("ops.decoders.classify"),
        "ops.decoders.attribute_s" -> secs("ops.decoders.attribute"),
        "ops.stats.average_s" -> secs("ops.stats.average"),
        "ops.stats.quantile_s" -> secs("ops.stats.quantile"),
        "ops.dedup.census_s" -> secs("ops.dedup.census"),
        "ops.dedup.candidates_s" -> secs("ops.dedup.candidates"),
        "ops.dedup.verify_s" -> secs("ops.dedup.verify"),
        "ops.dedup.clusters_s" -> secs("ops.dedup.clusters"),
        "ops.dedup.cluster_jobs" -> c.jobsBySpan("ops.dedup.clusters").toDouble,
        "spark.jobs" -> c.jobs.toDouble,
        "spark.tasks" -> c.tasks.toDouble,
        "spark.task_busy_s" -> c.taskBusyMs / 1e3,
        "spark.core_idle_s" -> (cores * wall - c.taskBusyMs / 1e3),
        "spark.shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
        "spark.exchanges" -> c.exchanges.toDouble,
        "spark.spill_bytes" -> c.spillBytes.toDouble,
        "spark.planning_s" -> c.planningMs / 1e3,
        "spark.gc_s" -> gc,
        "spark.failed_tasks" -> c.failedTasks.toDouble,
        "trace.wall_s" -> wall,
      ))
    }
    val extraStart = System.nanoTime()
    val extras =
      try {
        val measured = w.traceExtras(tracer)
        tracer.secondsByName(extraStart).map { case (k, v) => s"${k}_s" -> v } ++ measured
      }
      catch {
        case NonFatal(e) =>
          attempted += 1
          failed += 1
          log(s"traced layer measurements failed: $e")
          Map.empty[String, Double]
      }
    tracer.writeJsonLines(spansPath)
    val untraced = median(untracedWalls.toSeq)
    val layered = perPass.head.keys.map(k => k -> median(perPass.map(_(k)).toSeq)).toMap ++
      extras ++ Map("trace.untraced_wall_s" -> untraced)
    val all = layered + ("trace.overhead_s" -> (layered("trace.wall_s") - untraced))
    log(s"${perPass.size} traced passes; spans in $spansPath")
    PerLayer.map { case (n, u) => (n, u, all.getOrElse(n, 0.0)) }
  }
}
