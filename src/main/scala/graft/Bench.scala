package graft
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap

import graft.Json.fixed

/** Benchmark main: runs the headline queries ([[Queries.benchNames]]) on
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * Each query is forced to FULL evaluation with a noop-format write —
  * every operator and projection executes (a bare .count() would let
  * Catalyst prune compute columns). Failures are recorded per query in an
  * `errors` map instead of being silently folded into the total.
  * Catalog rows that cannot run here (the corpus-dependent rows while the
  * reference metadata corpus is absent) are not timed; they are listed
  * under `unavailable` with the reason instead.
  */
object Bench {

  /** Idle-load control baselines: min-of-3 seconds for each control on
    * THIS box, measured at recorded 1-min load 1.2-1.6 on 32 cores —
    * the quietest state observed (round 17). Ratios of a
    * run's controls to these self-normalize cross-round wall-clock
    * drift — SCALE.md's round-12 control experiment measured
    * tens-of-percent ambient noise here, and every round since has
    * re-derived it by hand from load samples. Controls are fixed
    * iteration counts with no I/O, so on unchanged hardware any ratio
    * > 1 is ambient contention, not a plan change.
    */
  private val recordedBaseline: Map[String, Double] = Map(
    "ctl_jvm_spin" -> 0.336,
    "ctl_codegen_agg" -> 0.101,
    "ctl_shuffle" -> 0.330,
  )

  /** Core count of the box the recorded baselines were measured on —
    * the cheap host fingerprint. On different hardware a sec/baseline
    * ratio measures machine speed, not ambient contention, so drift is
    * emitted as null there unless the operator supplies this host's own
    * baselines via `SPARK_GRAFT_CTL_BASELINE`
    * (`ctl_jvm_spin=0.34,ctl_codegen_agg=0.10,ctl_shuffle=0.33`).
    */
  private val recordedBaselineCores = 32

  private lazy val controlBaseline: Map[String, Double] =
    sys.env.get("SPARK_GRAFT_CTL_BASELINE") match {
      case Some(s) =>
        s.split(',').iterator.map(_.trim).filter(_.nonEmpty).flatMap { kv =>
          kv.split('=') match {
            case Array(k, v) => scala.util.Try(k.trim -> v.trim.toDouble).toOption
            case _ => None
          }
        }.toMap
      case None =>
        if (Runtime.getRuntime.availableProcessors == recordedBaselineCores) recordedBaseline
        else Map.empty // unknown hardware: drift reads null, not nonsense
    }

  /** One min-of-3 pass over the three controls (same discipline as the
    * query timings: min measures the machine's best, the spread shows
    * contention).
    */
  private def runControls(spark: SparkSession): ListMap[String, Double] = {
    import org.apache.spark.sql.functions._
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def minOf3(f: => Unit): Double = Seq.fill(3)(time(f)).min
    // single-core driver spin: ambient contention on one core, no Spark
    val jvm = minOf3 {
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 200000000) {
        x = java.lang.Long.rotateLeft(x * 0xC2B2AE3D27D4EB4FL, 31) ^ (x >>> 29)
        i += 1
      }
      if (x == 42L) System.err.println(x) // defeat dead-code elimination
    }
    // whole-stage-codegen aggregate over range: all cores, zero I/O
    // (bit_xor, not sum: a 2e8-row sum of 64-bit hashes overflows ANSI)
    val agg = minOf3 {
      spark.range(200000000L).select(expr("bit_xor(xxhash64(id))"))
        .write.mode("overwrite").format("noop").save()
    }
    // in-memory exchange: the shuffle machinery without any scan
    val shuffle = minOf3 {
      spark.range(20000000L)
        .groupBy(pmod(xxhash64(col("id")), lit(1024)).as("k"))
        .agg(count(lit(1))).write.mode("overwrite").format("noop").save()
    }
    ListMap("ctl_jvm_spin" -> jvm, "ctl_codegen_agg" -> agg, "ctl_shuffle" -> shuffle)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCpus
    val spark = GraftSession.local(cpus)
    val byName = SparkEntry.queries ++ Queries.benchExtra
    // optional dev filter: `runMain graft.Bench name1,name2` times just
    // those queries (same shape as Verify's filter)
    val filter = args.headOption.map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val unavailable: Map[String, String] =
      Queries.catalog.flatMap(e => e.unavailableReason.map(e.name -> _)).toMap
    val (skipped, names) = Queries.benchNames.filter(byName.contains)
      .filter(n => filter.forall(_.contains(n)))
      .partition(unavailable.contains)
    skipped.foreach(n => System.err.println(s"[bench] $n unavailable: ${unavailable(n)}"))
    // untimed warmup: initializes parquet reader, codegen, and the noop
    // committer so the first timed query measures the query, not JVM
    // startup (reads one row, not the dataset)
    try spark.read.parquet(s"$sfDir/region.parquet").limit(1)
      .write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => }
    var errors = ListMap.empty[String, String]
    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      try byName(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
      catch {
        case e: Throwable =>
          errors += name -> Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }
      val sec = (System.nanoTime() - t0) / 1e9
      // drop any persisted intermediates (LSH signature caches) so the
      // next run starts cold and memory doesn't accumulate across queries
      spark.catalog.clearCache()
      sec
    }
    // each query runs three times and reports the min: single runs at
    // this scale are dominated by JIT/GC/scheduler noise (round 2
    // recorded a 39.7s outlier for a 5s hash aggregate; round 7's
    // driver runs showed 10s first-run outliers on a 0.2s query under
    // machine load), and min-of-three measures the plan, not the
    // hiccup — two samples were not enough when BOTH landed under
    // contention. All raw runs are kept in the output so a contaminated
    // run (min >> other runs' typical cost, or runs wildly apart) is
    // diagnosable from the artifact alone.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadBefore = osBean.getSystemLoadAverage
    // two untimed control passes first: the codegen/shuffle controls JIT
    // on first execution (measured 1.8x between a cold start pass and
    // the end pass, and a residual 1.25x after a single warmup pass),
    // which would masquerade as start-of-run contention
    runControls(spark); runControls(spark)
    val controlsStart = runControls(spark)
    System.err.println(s"[bench] controls(start): " +
      controlsStart.map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
    // Per-query load sampling: BENCH_r08 recorded 2-11x "regressions"
    // that were pure machine contention (load_avg 2->11.7 across the
    // whole run, regressed queries contiguous in run order) — whole-run
    // before/after load could not localize it. Each run records the
    // 1-min load average sampled right after it, for diagnosis only:
    // the run count is fixed at three. A 1-min load sampled before the
    // first query still carries whatever ran just before the bench (an
    // `sbt compile` alone tripped a cpus/4 gate), so it cannot decide
    // how many runs a query gets.
    // whole-stage classes compiled over each query's timed runs: Spark's
    // codegen cache holds 100 classes, so a query whose classes do not fit
    // compiles again on every run
    val compileCount = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val compiles = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val results: Seq[(String, (Seq[Double], Seq[Double]))] = names.map { name =>
      val runs = scala.collection.mutable.ArrayBuffer.empty[Double]
      val loads = scala.collection.mutable.ArrayBuffer.empty[Double]
      def run(): Unit = { runs += runOnce(name); loads += osBean.getSystemLoadAverage }
      val compiled0 = compileCount.getCount
      for (_ <- 1 to 3) run()
      compiles(name) = compileCount.getCount - compiled0
      System.err.println(f"[bench] $name%-24s ${runs.min}%8.2fs  (runs: ${runs.map(r => f"$r%.2f").mkString(", ")}; load: ${loads.map(l => f"$l%.1f").mkString(", ")})")
      name -> (runs.toSeq, loads.toSeq)
    }
    val controlsEnd = runControls(spark)
    System.err.println(s"[bench] controls(end):   " +
      controlsEnd.map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
    val loadAfter = osBean.getSystemLoadAverage
    def byQuery[V](f: (Seq[Double], Seq[Double]) => V) =
      ListMap(results.map { case (k, (runs, loads)) => k -> f(runs, loads) }: _*)
    val total = results.map(_._2._1.min).sum
    // controls block: raw start/end seconds, the recorded baselines,
    // and the drift ratio (geometric mean of sec/baseline across the
    // controls, per end) — the self-normalizing ambient-load record
    // that replaces per-round load archaeology.
    def drift(m: ListMap[String, Double]): Option[Double] = {
      val rs = m.toSeq.flatMap { case (k, v) => controlBaseline.get(k).map(v / _) }
      if (rs.isEmpty) None
      else Some(math.exp(rs.map(math.log).sum / rs.size))
    }
    def ctlJson(m: Iterable[(String, Double)]) =
      ListMap(m.toSeq.map { case (k, v) => k -> fixed(v, 3) }: _*)
    // drift across the run itself: the geometric mean of end/start per
    // control, which needs no baseline for this host
    val driftRun = {
      val rs = controlsEnd.toSeq.flatMap { case (k, v) => controlsStart.get(k).filter(_ > 0).map(v / _) }
      if (rs.isEmpty) None else Some(math.exp(rs.map(math.log).sum / rs.size))
    }
    val ctl = ListMap(
      "start" -> ctlJson(controlsStart),
      "end" -> ctlJson(controlsEnd),
      "baseline" -> ctlJson(controlBaseline),
      "drift_start" -> drift(controlsStart).map(fixed(_, 3)),
      "drift_end" -> drift(controlsEnd).map(fixed(_, 3)),
      "drift_run" -> driftRun.map(fixed(_, 3)))
    spark.stop()
    // Full artifact first (complete per-query mins + raw runs + load
    // samples) for any consumer capturing whole stdout...
    val fullJson = Json.write(ListMap(
      "metric" -> "total", "value" -> total, "unit" -> "sec",
      "queries" -> byQuery((runs, _) => fixed(runs.min, 3)),
      "runs" -> byQuery((runs, _) => runs.map(fixed(_, 3))),
      "load" -> byQuery((_, loads) => loads.map(fixed(_, 2))),
      "compiles" -> ListMap(compiles.toSeq: _*),
      "controls" -> ctl,
      "load_avg_before" -> loadBefore, "load_avg_after" -> loadAfter,
      "errors" -> errors,
      "unavailable" -> ListMap(skipped.map(k => k -> unavailable(k)): _*),
      "sf" -> sfDir))
    println(fullJson)
    // ...and the same artifact as a SIDECAR FILE (launcher-independent
    // machine-readable contract: BENCH_r01..r18 all record parsed=null
    // because sbt's logger prefixed the stdout line — see build.sbt's
    // outputStrategy fix; the file works under any launcher). Path from
    // SPARK_GRAFT_BENCH_OUT, default ./bench_last.json; best-effort (a
    // read-only cwd must not fail the bench).
    val sidecar = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_last.json")
    try {
      val w = new java.io.PrintWriter(sidecar, "UTF-8")
      try w.println(fullJson) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] sidecar write failed ($sidecar): ${e.getMessage}")
    }
    // ...then ONE compact summary as the FINAL stdout line. The driver
    // snapshots only the last 2000 bytes of stdout (BENCH_r01..r14 all
    // show tail=2000, parsed=null: the detailed line above is several KB,
    // so its head was always cut mid-JSON). This line stays well under
    // that budget (total + count + errors + the slowest rows), so the
    // tail capture always contains at least one complete JSON object.
    // Nothing may print to stdout after it (Spark logs go to stderr;
    // spark.stop() already ran above).
    val topN = results.map { case (k, (v, _)) => k -> v.min }.sortBy(-_._2).take(15)
    // every timed query's min, positionally in Queries.benchNames order
    // (null: not timed in this run), so per-query geomeans compute from
    // this line; a name-keyed map of all ~93 rows would not fit the
    // 2000-byte tail
    val mins = results.map { case (k, (v, _)) => k -> v.min }.toMap
    println(Json.write(ListMap(
      "metric" -> "total", "value" -> fixed(total, 2), "unit" -> "sec",
      "n" -> results.size, "error_count" -> errors.size,
      // error NAMES only here (full messages live in the detailed line
      // above) — a handful of 200-char messages would blow the 2000-byte
      // tail budget this line exists to respect
      "errored" -> errors.keys.take(10),
      "unavailable" -> skipped.take(10),
      "drift" -> drift(controlsEnd).map(fixed(_, 2)),
      "top_slowest" -> ListMap(topN.map { case (k, v) => k -> fixed(v, 2) }: _*),
      "mins" -> Queries.benchNames.map(n => mins.get(n).map(fixed(_, 2))),
      "sf" -> sfDir)))
  }
}
