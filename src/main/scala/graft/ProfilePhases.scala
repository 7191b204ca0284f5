package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round-18 phase attribution for the near-dup family (guide §1):
  * times each sub-pipeline of simhash_near_dups / near_dups_auto with
  * the noop sink so the optimization targets the phase that actually
  * costs, not the one that looks expensive.
  *
  * Usage: runMain graft.ProfilePhases [sfDir] [reps]
  */
object ProfilePhases {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.ops.Dedup
    def bench(name: String)(f: => org.apache.spark.sql.DataFrame): Unit = {
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        f.write.mode("overwrite").format("noop").save()
        val s = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        s
      }
      println(f"[phase] $name%-34s min=${times.min}%7.2fs  runs=${times.map(t => f"$t%.2f").mkString(", ")}")
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // warmup
    docs.limit(1).write.mode("overwrite").format("noop").save()

    bench("simhashes (kernel only)") {
      Dedup.simHashes(docs)
    }
    bench("shingleHashes (kernel only)") {
      docs.select(col("doc_id"), Dedup.shingleHashes(col("text")).as("_sh"))
    }
    bench("candidates (gen only)") {
      Dedup.simHashCandidates(docs, maxDistance = 16, bands = 8, maxBucketSize = 1000)
    }
    bench("full simhash_near_dups") {
      SparkEntry.queries("simhash_near_dups")(spark, sfDir)
    }
    // pass-level attribution inside candidate generation: rebuild the
    // banded frame exactly as Dedup.bandedSlices does and time each
    // union branch of simHashCandidatesFromBanded separately
    locally {
      val bands = 8; val width = 64 / bands; val mask = (1L << width) - 1
      val banded = Dedup.simHashes(docs).select(col("doc_id"), col("_sh"),
        explode(array((0 until bands).map { q =>
          struct(lit(q).as("q"),
            call_function("shiftright", col("_sh"), lit(q * width)).bitwiseAND(lit(mask)).as("key"))
        }: _*)).as("_band"))
        .select(col("doc_id"), col("_sh"), col("_band.q").as("_q"), col("_band.key").as("_k"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      banded.count()
      val counts = banded.groupBy("_q", "_k").agg(count(lit(1)).as("_n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println("[phase] census rows = " + counts.count() +
        ", hot(>1000) = " + counts.where(col("_n") > 1000).count() +
        ", hot members = " + banded.join(counts.where(col("_n") > 1000), Seq("_q", "_k"), "left_semi").count())
      val maxBucketSize = 1000
      def timeIt(name: String)(f: => org.apache.spark.sql.DataFrame): Unit = {
        val ts = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          f.write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"[phase] $name%-34s min=${ts.min}%7.2fs  runs=${ts.map(t => f"$t%.2f").mkString(", ")}")
      }
      val joinable = banded.join(counts.where(col("_n") <= maxBucketSize), Seq("_q", "_k"), "left_semi")
      val a2 = joinable.select(col("doc_id").as("id_a"), col("_sh").as("_sh_a"), col("_q"), col("_k"))
      val b2 = joinable.select(col("doc_id").as("id_b"), col("_sh").as("_sh_b"), col("_q"), col("_k"))
      val joined = a2.join(b2, Seq("_q", "_k"))
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          Dedup.hammingDistance(col("_sh_a"), col("_sh_b")).as("hamming"))
      timeIt("A main capped join (no dedup)") { joined.where(col("hamming") <= 16) }
      timeIt("B main join + dedup agg") {
        joined.where(col("hamming") <= 16).groupBy("id_a", "id_b").agg(min(col("hamming")))
      }
      timeIt("C full candidates from cache") {
        Dedup.simHashCandidatesFromBanded(banded, counts, "doc_id", 16, bands, maxBucketSize, 8)
      }
      banded.unpersist(); counts.unpersist()
    }

    // verify-only: candidates persisted first so the timed region is the
    // shingle+join+jaccard stage alone
    val cands = Dedup.simHashCandidates(docs, maxDistance = 16, bands = 8,
      maxBucketSize = 1000).select("id_a", "id_b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[phase] candidate pairs = ${cands.count()}")
    val sh = docs.select(col("doc_id"), Dedup.shingleHashes(col("text")).as("_sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[phase] docs = ${sh.count()}, mean shingles = ${sh.select(avg(size(col("_sh")))).head().getDouble(0)}")
    val times = (1 to reps).map { _ =>
      val a = sh.select(col("doc_id").as("id_a"), col("_sh").as("_sha"))
      val b = sh.select(col("doc_id").as("id_b"), col("_sh").as("_shb"))
      val t0 = System.nanoTime()
      cands.join(a, Seq("id_a")).join(b, Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          round(Dedup.jaccardHashes(col("_sha"), col("_shb")), 6).as("jaccard"))
        .where(col("jaccard") >= 0.6)
        .orderBy("id_a", "id_b")
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    println(f"[phase] verify-only (cands+sh cached)  min=${times.min}%7.2fs  runs=${times.map(t => f"$t%.2f").mkString(", ")}")
    spark.stop()
  }
}
