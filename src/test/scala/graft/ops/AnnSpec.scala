package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AnnSpec extends SparkSpec {

  private val dim = 16

  /** `df` written to parquet and read back. Over an in-memory relation the
    * optimizer's `ConvertToLocalRelation` evaluates a per-row projection
    * at plan time, in interpreted mode, so the codegen'd kernels would not
    * run.
    */
  private def viaParquet(df: org.apache.spark.sql.DataFrame) = {
    val path = tempDir("graft_ann_corpus").toString + "/corpus"
    df.write.parquet(path)
    spark.read.parquet(path)
  }

  /** Deterministic pseudo-random vectors, read from parquet. */
  private def vecs(n: Int) = {
    import spark.implicits._
    viaParquet((0 until n).map { i =>
      val v = Array.tabulate(dim) { d =>
        var x = 77L + i * 131L + d * 31L
        x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
        ((x * 0x2545F4914F6CDD1DL >>> 11).toFloat / (1L << 53).toFloat) * 2f - 1f
      }
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding"))
  }

  /** The names of the native kernels left in `df`'s optimized plan. */
  private def kernels(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case e if e.getClass.getPackage.getName == "graft.plans" => e.getClass.getSimpleName
    })).toSet

  test("brute-force top-k: self excluded, ranks dense, cosine descending") {
    val df = vecs(50)
    val out = Ann.bruteForceTopK(df, df.where(col("vec_id") < 2), k = 5).collect()
    assert(out.length == 10)
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to 5))
      val cos = sorted.map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
      assert(!rows.exists(r => r.getAs[Long]("neighbor_id") == r.getAs[Long]("query_id")))
    }
  }

  test("LSH top-k achieves reasonable recall vs brute force") {
    val df = vecs(200)
    val q = df.where(col("vec_id") < 5)
    val exact = Ann.bruteForceTopK(df, q, k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = Ann.lshTopK(df, q, k = 10, dim = dim, numPlanes = 16, bands = 8).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall > 0.4, s"LSH recall too low: $recall")
  }

  test("int8 quantization: bounds, max-abs element saturation, zero vector") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val q = df.select(col("vec_id"), col("embedding"), Ann.maxAbs(col("embedding")).as("_m"))
      .select(col("vec_id"), Ann.quantizeInt8(col("embedding"), col("_m")).as("q"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getSeq[Byte](1)).toMap
    // max-abs element maps to ±127; others scale proportionally; exact halves round away from zero
    assert(q(1L) == Seq[Byte](64, -127, 32, 0), s"got ${q(1L)}")
    assert(q(2L) == Seq[Byte](0, 0, 0, 0))
  }

  test("int8 top-k: high recall vs float brute force, scores within rounding error") {
    val df = vecs(200)
    val q = df.where(col("vec_id") < 5)
    val exact = Ann.bruteForceTopK(df, q, k = 10).collect()
      .map(r => ((r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")), r.getAs[Double]("cosine")))
      .toMap
    val quant = Ann.int8TopK(df, q, k = 10).collect()
      .map(r => ((r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")), r.getAs[Double]("cosine")))
      .toMap
    val recall = (exact.keySet intersect quant.keySet).size.toDouble / exact.size
    assert(recall >= 0.8, s"int8 recall too low: $recall")
    // where both paths agree on a neighbor, the quantized cosine is close
    (exact.keySet intersect quant.keySet).foreach { k =>
      assert(math.abs(exact(k) - quant(k)) < 0.05,
        s"quantized cosine drifted: $k ${exact(k)} vs ${quant(k)}")
    }
  }

  test("int8 IVF layout: full probe equals int8 brute force; pruned probe is a subset scan") {
    val df = vecs(120)
    val q = df.where(col("vec_id") < 3)
    val centroids = Ann.hyperplanes(4, dim, seed = 7L)
    val tmp = tempDir("graft_ivf_i8_spec").toString
    try {
      Ann.ivfWriteInt8(df, tmp, centroids)
      // the stored payload really is int8
      val stored = spark.read.parquet(tmp)
      assert(stored.schema("embedding").dataType ==
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType, true))
      val full = Ann.ivfTopKInt8(tmp, q, centroids, k = 5, nProbe = 4).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
          (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).toMap
      val brute = Ann.int8TopK(df, q, k = 5).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
          (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).toMap
      assert(full == brute, "full-probe int8 IVF must equal int8 brute force")
      // pruned probe returns k rows per query drawn from the probed clusters only
      val pruned = Ann.ivfTopKInt8(tmp, q, centroids, k = 5, nProbe = 1).collect()
      assert(pruned.groupBy(_.getAs[Long]("query_id")).values.forall(_.length == 5))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("cosine near-dup pairs finds planted duplicate vectors") {
    import spark.implicits._
    val base = vecs(60)
    // plant: vector 1000 = copy of vector 3 with tiny noise, 1001 = exact copy of 7
    val planted = base.collect().collectFirst {
      case r if r.getLong(0) == 3L => r.getSeq[Float](1)
    }.get
    val noisy = planted.zipWithIndex.map { case (v, i) => if (i == 0) v + 0.01f else v }
    val exact7 = base.where(col("vec_id") === 7).collect()(0).getSeq[Float](1)
    val df = base.union(Seq((1000L, noisy), (1001L, exact7)).toDF("vec_id", "embedding"))
    val pairs = Ann.cosineNearDupPairs(df, threshold = 0.95, dim = dim).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((3L, 1000L)), s"planted near-dup missing from $pairs")
    assert(pairs.contains((7L, 1001L)))
    // and keepRepresentatives drops the copies, keeps originals
    val kept = Dedup.keepRepresentatives(df,
      Ann.cosineNearDupPairs(df, 0.95, dim).select("id_a", "id_b"), "vec_id")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(3L) && kept.contains(7L))
    assert(!kept.contains(1000L) && !kept.contains(1001L))
  }

  test("IVF layout: cluster-partitioned write, pruned probe, correct neighbors") {
    import spark.implicits._
    val df = vecs(300)
    val centroids = Ann.hyperplanes(8, dim, seed = 5)
    val path = tempDir("graft_ivf").toString + "/corpus"
    Ann.ivfWrite(df, path, centroids)
    // partition layout on disk: one dir per cluster
    val dirs = new java.io.File(path).listFiles().filter(_.getName.startsWith("cluster="))
    assert(dirs.nonEmpty)

    val queries = df.where(col("vec_id") < 3)
    val ivf = Ann.ivfTopK(path, queries, centroids, k = 5, nProbe = 8) // all clusters -> exact
    val exact = Ann.bruteForceTopK(df, queries, k = 5)
    val a = ivf.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = exact.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b) // probing every cluster must reproduce brute force

    // with nProbe=2 the corpus scan is partition-pruned
    val pruned = Ann.ivfTopK(path, queries, centroids, k = 5, nProbe = 2)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"))
    val recall = (pruned.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet intersect b).size.toDouble / b.size
    assert(recall > 0.2, s"ivf nProbe=2 recall $recall")
  }

  test("no embedding vector ever enters a shuffle exchange (lshTopK slim-join invariant)") {
    // the scale property behind lshTopK: candidate generation shuffles
    // only (id, band, key) rows; vectors re-attach via broadcast of the
    // bounded query-derived pair set. A vector-typed attribute inside
    // any Exchange's output would silently multiply shuffle volume by
    // the vector width.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def shuffledTypes(df: org.apache.spark.sql.DataFrame): Seq[String] =
      planNodes(df).collect {
        case e: ShuffleExchangeExec => e.output.map(_.dataType.simpleString)
      }.flatten
    val corpus = vecs(40)
    val queries = vecs(3)
    val lsh = Ann.lshTopK(corpus, queries, k = 3, dim = dim)
    assert(shuffledTypes(lsh).nonEmpty, "the plan walk found no exchange")
    assert(!shuffledTypes(lsh).exists(_.startsWith("array")),
      s"lshTopK shuffles an array column: ${shuffledTypes(lsh)}")
  }

  test("cosineNearDupPairs: vectors ride only the bounded band exchanges, never a candidate exchange") {
    // the 100×-probe contract (see the cosineNearDupPairs Scaladoc):
    // each of the two pre-join band sides may shuffle ITS vector column
    // (an O(n·bands) exchange), but no exchange may carry BOTH sides'
    // vectors or follow the join — candidates must be generated, cosine-
    // verified, and filtered inside the join stage, so the only post-join
    // exchange is the slim (id_a, id_b, cosine) distinct.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val dedup = Ann.cosineNearDupPairs(vecs(40), threshold = 0.2, dim = dim)
    val exchanges = planNodes(dedup).collect {
      case e: ShuffleExchangeExec =>
        e.output.filter(_.dataType.simpleString.startsWith("array")).map(_.name)
    }
    assert(exchanges.nonEmpty, "the plan walk found no exchange")
    val vectorCarrying = exchanges.filter(_.nonEmpty)
    assert(vectorCarrying.size <= 2,
      s"more than the two band-side exchanges carry vectors: $vectorCarrying")
    assert(vectorCarrying.forall(_.size == 1),
      s"an exchange carries both sides' vectors (candidates were shuffled): $vectorCarrying")
    // (the post-join distinct exchange is slim by construction — its
    // output is (id_a, id_b, cosine); asserting its presence here is
    // AQE/broadcast-dependent at this corpus size, so the invariant
    // pinned is the vector-side one above)
  }

  test("cosineNearDupPairs never force-broadcasts a vector-carrying side") {
    // pair count is unbounded at corpus scale, so an explicit broadcast
    // hint on any pair-derived side that carries vectors is a driver OOM
    // waiting for 100×. Planner-chosen broadcasts stay legal — they are
    // size-guarded by autoBroadcastJoinThreshold — but no hint in the
    // plan may FORCE one. (lshTopK is exempt: its broadcast sides derive
    // from the user-provided query set, which is bounded by contract.)
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val dedup = Ann.cosineNearDupPairs(vecs(40), threshold = 0.2, dim = dim)
    val hinted = dedup.queryExecution.analyzed.collect {
      case h: ResolvedHint if h.child.output.exists(_.dataType.simpleString.startsWith("array")) =>
        h.child.output.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(",")
    }
    assert(hinted.isEmpty, s"vector-carrying side is broadcast-hinted: $hinted")
  }

  test("kmeansStep moves centroids to cluster means; trainCentroids converges") {
    import spark.implicits._
    // two tight groups on opposite axes (cosine separates them cleanly)
    def around(base: Array[Double], i: Int) =
      base.zipWithIndex.map { case (v, d) => (v + (if (d == i % dim) 0.001 * i else 0.0)).toFloat }.toSeq
    val cA = Array.tabulate(dim)(d => if (d == 0) 1.0 else 0.01)
    val cB = Array.tabulate(dim)(d => if (d == 1) 1.0 else 0.01)
    val df = viaParquet(((0 until 20).map(i => (i.toLong, around(cA, i))) ++
      (20 until 40).map(i => (i.toLong, around(cB, i)))).toDF("vec_id", "embedding"))
    // init centroids NEAR the groups but off their means
    val init = Array(cA.map(_ * 0.5), cB.map(_ * 0.5))
    assert(kernels(Ann.kmeansMeans(df, init))("NearestCentroid"))
    val step1 = Ann.kmeansStep(df, init)
    // each new centroid ~ its group mean: dominant axis ≈ 1.0, not 0.5
    assert(math.abs(step1(0)(0) - 1.0) < 0.01, s"centroid 0 axis0 = ${step1(0)(0)}")
    assert(math.abs(step1(1)(1) - 1.0) < 0.01, s"centroid 1 axis1 = ${step1(1)(1)}")
    // a further iteration is a fixed point (assignment unchanged)
    val step2 = Ann.kmeansStep(df, step1)
    def flat(c: Array[Array[Double]]): Seq[Double] = c.toSeq.flatMap(_.toSeq)
    assert(flat(step1).zip(flat(step2)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    assert(flat(Ann.trainCentroids(df, init, 3)).zip(flat(step2))
      .forall { case (a, b) => math.abs(a - b) < 1e-12 })
  }

  test("cluster assignment is deterministic and in range") {
    val centroids = Ann.hyperplanes(4, dim, seed = 7)
    val df = vecs(30).withColumn("cluster", Ann.assignCluster(col("embedding"), centroids))
    val clusters = df.select("cluster").collect().map(_.getInt(0))
    assert(clusters.forall(c => c >= 0 && c < 4))
    val again = vecs(30).withColumn("cluster", Ann.assignCluster(col("embedding"), centroids))
      .select("cluster").collect().map(_.getInt(0))
    assert(clusters.toSeq == again.toSeq)
  }

  test("nearest_centroid kernel is bit-identical to the greatest(struct(cosine)) expression") {
    import org.apache.spark.sql.functions.{array, greatest, lit, struct}
    // 40 random centroids (the kernel's raison d'être is large k) with
    // non-contiguous labels, plus a planted exact TIE: centroid 91 is a
    // copy of centroid 17 — the higher label must win in both paths
    val base = Ann.hyperplanes(40, dim, seed = 31)
    val labeled = base.zipWithIndex.map { case (c, i) => (i * 2 + 1, c) } :+ (91, base(8))
    val expr = greatest(labeled.map { case (cid, ctr) =>
      val c = array(ctr.map(lit): _*)
      struct(Ann.cosine(col("embedding"), c).as("sim"), lit(cid).as("id"))
    }: _*)
    val both = vecs(200)
      .withColumn("k", Ann.nearestCentroid(col("embedding"), labeled))
      .withColumn("e", expr)
      .select(col("vec_id"),
        col("k.sim").as("ks"), col("k.id").as("ki"),
        col("e.sim").as("es"), col("e.id").as("ei"))
      .collect()
    both.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(3) && r.getInt(2) == r.getInt(4),
        s"kernel/expression divergence at vec ${r.get(0)}: " +
          s"kernel=(${r.getDouble(1)}, ${r.getInt(2)}) expr=(${r.getDouble(3)}, ${r.getInt(4)})")
    }
    // the tie landed somewhere: label 17's copy pair means any vector
    // nearest to base(8) must report id 91, never 17
    assert(both.forall(r => r.getInt(2) != 17))
  }

  test("random projection: shape, determinism, exact replay, zero vector") {
    val outDim = 4
    val projected = vecs(10)
      .withColumn("p", Ann.randomProject(col("embedding"), dim, outDim, seed = 7L))
      .select("vec_id", "embedding", "p").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getSeq[Double](2)))
    val planes = Ann.hyperplanes(outDim, dim, seed = 7L)
    projected.foreach { case (_, v, p) =>
      assert(p.length == outDim)
      // the projection is exactly the left-to-right double dot per plane
      val expect = planes.map(_.zip(v).foldLeft(0.0) { case (acc, (a, b)) => acc + a * b.toDouble })
      assert(p.toArray.toSeq == expect.toSeq)
    }
    // determinism across evaluations
    val again = vecs(10)
      .withColumn("p", Ann.randomProject(col("embedding"), dim, outDim, seed = 7L))
      .select("p").collect().map(_.getSeq[Double](0))
    assert(projected.map(_._3.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // zero in, zero out; and perfect self-similarity survives projection
    import spark.implicits._
    val z = Seq((0L, Seq.fill(dim)(0f))).toDF("vec_id", "embedding")
      .select(Ann.randomProject(col("embedding"), dim, outDim, seed = 7L).as("p"))
      .collect()(0).getSeq[Double](0)
    assert(z.forall(_ == 0.0))
  }

  // driver-side reference replay of semanticDedup's documented rule:
  // nearest-centroid assignment (ties to higher label), then drop any
  // row with a same-cluster, lower-(csim, id) neighbor at >= threshold.
  // Pure left-to-right double arithmetic — the exact op order vec_dot
  // and cosine() execute — so membership decisions are bit-identical.
  private def semanticReference(
      rows: Seq[(Long, Seq[Float])],
      centroids: Seq[(Int, Array[Double])],
      threshold: Double,
  ): Map[Long, (Int, Double)] = {
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val d = math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))
      if (d > 0) dot(a, b) / d else 0.0
    }
    val asg = rows.map { case (id, vf) =>
      val v = vf.map(_.toDouble)
      val (cid, sim) = centroids.map { case (c, ctr) => (c, cos(v, ctr.toSeq)) }
        .maxBy { case (c, sim) => (sim, c) }
      id -> (v, cid, sim)
    }.toMap
    val dropped = (for {
      (ia, (va, ca, sa)) <- asg.toSeq
      (ib, (vb, cb, sb)) <- asg.toSeq
      if ia < ib && ca == cb && cos(va, vb) >= threshold
    } yield if (sa < sb || (sa == sb && ia < ib)) ib else ia).toSet
    asg.collect { case (id, (_, c, s)) if !dropped(id) => id -> (c, s) }
  }

  test("semanticDedup drops the more-central side of every planted duplicate pair") {
    import spark.implicits._
    val base = vecs(60)
    val rows = base.collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val v3 = rows.find(_._1 == 3L).get._2
    val noisy = v3.zipWithIndex.map { case (v, i) => if (i == 0) v + 0.01f else v }
    val exact7 = rows.find(_._1 == 7L).get._2
    val all = rows ++ Seq((1000L, noisy), (1001L, exact7))
    val df = base.union(Seq((1000L, noisy.toSeq), (1001L, exact7)).toDF("vec_id", "embedding"))
    // centroids: labeled corpus vectors (labels deliberately non-contiguous)
    val ctrs = Seq(5L, 11L, 23L, 40L).map { id =>
      id.toInt -> rows.find(_._1 == id).get._2.map(_.toDouble).toArray
    }
    val expect = semanticReference(all, ctrs, threshold = 0.95)
    val got = Ann.semanticDedup(df, ctrs, threshold = 0.95, dim = dim).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Int]("cluster"), r.getAs[Double]("centroid_sim"))).toMap
    assert(got.keySet == expect.keySet,
      s"retained sets differ: only-spark=${got.keySet -- expect.keySet} only-ref=${expect.keySet -- got.keySet}")
    got.foreach { case (id, (c, s)) =>
      assert(c == expect(id)._1, s"cluster mismatch for $id")
      assert(math.abs(s - expect(id)._2) < 1e-12, s"centroid_sim mismatch for $id")
    }
    // the planted rows lost exactly one side per pair
    assert(got.contains(3L) ^ got.contains(1000L))
    assert(got.contains(7L) ^ got.contains(1001L))
  }

  test("semanticDedup: vectors ride only the band exchanges; high threshold keeps everything") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = vecs(40)
    val ctrs = Seq(0 -> Ann.hyperplanes(1, dim, seed = 9L)(0),
      1 -> Ann.hyperplanes(1, dim, seed = 10L)(0))
    val out = Ann.semanticDedup(df, ctrs, threshold = 0.999999, dim = dim)
    // no exact copies in vecs(40) -> nothing dropped, schema as documented
    val rows = out.collect()
    assert(rows.length == 40)
    assert(out.columns.toSeq == Seq("vec_id", "cluster", "centroid_sim"))
    // same in-join contract as cosineNearDupPairs: each band side may
    // shuffle its own vector column; no exchange carries both sides'
    // vectors (candidates stay inside the join stage)
    val exchanges = planNodes(out).collect {
      case e: ShuffleExchangeExec =>
        e.output.filter(_.dataType.simpleString.startsWith("array")).map(_.name)
    }
    assert(exchanges.nonEmpty, "the plan walk found no exchange")
    val vectorCarrying = exchanges.filter(_.nonEmpty)
    assert(vectorCarrying.size <= 2,
      s"more than the two band-side exchanges carry vectors: $vectorCarrying")
    assert(vectorCarrying.forall(_.size == 1),
      s"an exchange carries both sides' vectors: $vectorCarrying")
    // duplicate centroid labels are refused loudly
    intercept[IllegalArgumentException] {
      Ann.semanticDedup(df, Seq(0 -> ctrs(0)._2, 0 -> ctrs(1)._2), 0.9, dim)
    }
  }

  test("trainToConvergence stops on zero movement at the separable fixed point") {
    import spark.implicits._
    // two cosine-separable groups on orthogonal axes, slight within-group spread
    val pts = Seq(
      (0L, Array(10.0, 0.1, 0.0)), (2L, Array(10.0, -0.1, 0.0)), (4L, Array(9.8, 0.0, 0.1)),
      (1L, Array(0.0, 10.0, 0.1)), (3L, Array(0.1, 9.9, 0.0)), (5L, Array(0.0, 10.2, -0.1)),
    ).toDF("vec_id", "vec")
    val seeds = Array(Array(10.0, 0.1, 0.0), Array(0.0, 10.0, 0.1))
    val handle = StorageHandle()
    val (c, iters) = Ann.trainToConvergence(pts, seeds, tol = 0.0,
      maxIterations = 10, vecCol = "vec", handle = handle)
    handle.release(blocking = true)
    // stable assignment reproduces integer-scaled means exactly -> one
    // improving step + one confirming step
    assert(iters == 2, s"expected exactly 2 iterations, got $iters")
    // converged centroids are the group means (within the 2^-24 grid)
    def approx(a: Array[Double], b: Array[Double]) =
      a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-6 }
    assert(approx(c(0), Array((10.0 + 10.0 + 9.8) / 3, 0.0, 0.1 / 3)), c(0).mkString(","))
    assert(approx(c(1), Array(0.1 / 3, (10.0 + 9.9 + 10.2) / 3, 0.0)), c(1).mkString(","))
    // maxIterations still bounds the loop when tol is unreachable
    val (_, capped) = Ann.trainToConvergence(pts, seeds, tol = -1.0,
      maxIterations = 3, vecCol = "vec")
    assert(capped == 3)
  }

  // --- distributed-centroid assignment (round-18: the k-ceiling path) ---

  private def testCentroids(k: Int): Seq[(Int, Array[Double])] =
    (0 until k).map { i =>
      val v = Array.tabulate(dim) { d =>
        var x = 991L + i * 257L + d * 53L
        x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
        ((x * 0x2545F4914F6CDD1DL >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
      }
      (i * 3 + 1, v) // non-contiguous labels: the tie/order contract is on labels
    }

  /** Largest centroid payload baked into the PLAN (rather than carried
    * as data): array literals AND the [[graft.plans.NearestCentroid]]
    * kernel's constructor-held flat matrix both count — either form is
    * driver state shipped with every task closure.
    */
  private def maxPlanBakedElems(df: org.apache.spark.sql.DataFrame): Long = {
    var mx = 0L
    df.queryExecution.optimizedPlan.foreach { node =>
      node.expressions.foreach(_.foreach {
        case l: org.apache.spark.sql.catalyst.expressions.Literal =>
          l.value match {
            case a: org.apache.spark.sql.catalyst.util.ArrayData =>
              mx = math.max(mx, a.numElements().toLong)
            case _ =>
          }
        case nc: graft.plans.NearestCentroid =>
          mx = math.max(mx, nc.flat.length.toLong)
        case _ =>
      })
    }
    mx
  }

  test("assignClustersAuto: frame route at full probe is bit-identical to the literal kernel") {
    val df = vecs(150)
    val ctrs = testCentroids(40)
    def asMap(out: org.apache.spark.sql.DataFrame) = out.collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Int]("cluster"), r.getAs[Double]("centroid_sim"))).toMap
    val flatDf = Ann.assignClustersAuto(df, ctrs, kThreshold = 4096)
    // kThreshold below k forces the two-level frame route; full probe
    val routedDf = Ann.assignClustersAuto(df, ctrs, kThreshold = 8)
    // the frame route assigns its k-row centroid frame in memory; its
    // corpus side scores through the dot-product kernel
    assert(kernels(flatDf)("NearestCentroid") && kernels(routedDf)("VecDot"))
    val flat = asMap(flatDf)
    val routed = asMap(routedDf)
    assert(flat.size == 150 && routed.size == 150)
    assert(routed == flat, {
      val bad = flat.keys.filter(k => routed.get(k) != flat.get(k)).take(3)
      s"routes diverge at ids $bad: flat=${bad.map(flat.get)}, routed=${bad.map(routed.get)}"
    })
  }

  test("frame route carries no k-proportional literal in its plan; the flat route does") {
    val df = vecs(50)
    val k = 40
    val ctrs = testCentroids(k)
    val flatPlanMax = maxPlanBakedElems(Ann.assignClustersAuto(df, ctrs, kThreshold = 4096))
    assert(flatPlanMax >= k.toLong * dim,
      s"flat route should bake the k×dim matrix ($flatPlanMax < ${k * dim})")
    val cells = math.ceil(math.sqrt(k.toDouble)).toInt
    val framePlanMax = maxPlanBakedElems(Ann.assignClustersAuto(df, ctrs, kThreshold = 8))
    assert(framePlanMax <= cells.toLong * dim,
      s"frame route must hold only the √k coarse codebook as a literal " +
        s"(max literal $framePlanMax > cells·dim ${cells * dim})")
  }

  test("bounded probes are the stated approximation: never better than exact, equal when probed") {
    val df = vecs(80)
    val ctrs = testCentroids(36)
    val exact = Ann.assignClustersAuto(df, ctrs, kThreshold = 4096).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Int]("cluster"), r.getAs[Double]("centroid_sim"))).toMap
    val approx = Ann.assignClustersAuto(df, ctrs, kThreshold = 8, coarseProbes = 2).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Int]("cluster"), r.getAs[Double]("centroid_sim"))).toMap
    assert(approx.nonEmpty)
    approx.foreach { case (id, (cl, sim)) =>
      val (ecl, esim) = exact(id)
      assert(sim <= esim + 1e-12, s"id=$id approx sim $sim beats exact $esim")
      if (cl == ecl) assert(sim == esim, s"id=$id same cluster but different sim")
    }
    // most vectors' true cell is among the 2 nearest probes on this data
    val agree = approx.count { case (id, v) => exact(id) == v }
    assert(agree.toDouble / approx.size > 0.5, s"probe-2 agreement too low: $agree/${approx.size}")
  }

  test("semanticDedupDistributed at full probe equals semanticDedup (same centroids)") {
    import spark.implicits._
    val base = vecs(90)
    // planted near-duplicates: copy of rows 0-4 with a tiny first-coord nudge
    val planted = base.where(col("vec_id") < 5).select(
      (col("vec_id") + lit(1000L)).as("vec_id"),
      concat(array(lit(0.0f)), slice(col("embedding"), 2, dim - 1)).as("embedding"))
    val corpus = base.unionByName(planted)
    val ctrs = testCentroids(24)
    val lit0 = Ann.semanticDedup(corpus, ctrs, threshold = 0.8, dim = dim).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cluster"),
        r.getAs[Double]("centroid_sim"))).toSet
    val sorted = ctrs.sortBy(_._1)
    val cells = math.ceil(math.sqrt(sorted.size.toDouble)).toInt
    val stride = math.max(1, sorted.size / cells)
    val coarse = sorted.indices.by(stride).take(cells).map(i => sorted(i)._2).toArray
    val dist = Ann.semanticDedupDistributed(corpus, sorted.toDF("cluster", "centroid"),
      coarse, threshold = 0.8, dim = dim).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cluster"),
        r.getAs[Double]("centroid_sim"))).toSet
    assert(dist == lit0,
      s"only-literal ${(lit0 -- dist).take(3)}; only-distributed ${(dist -- lit0).take(3)}")
    assert(lit0.size < corpus.count(), "fixture must actually drop planted duplicates")
  }

  test("no embedding vector enters a shuffle exchange on a single-file corpus (top-k, assignment, k-means)") {
    // a one-file corpus has fewer partitions than cores, which is where a
    // round-robin scatter would shuffle every (id, embedding) row
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val path = tempDir("graft_ann_onefile").toString + "/corpus"
    vecs(60).coalesce(1).write.parquet(path)
    val corpus = spark.read.parquet(path)
    assert(corpus.rdd.getNumPartitions < spark.sparkContext.defaultParallelism)
    def vectorExchanges(df: DataFrame): Seq[String] =
      planNodes(df).collect {
        case e: ShuffleExchangeExec if e.output.exists(_.dataType.simpleString.startsWith("array")) =>
          e.output.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(",")
      }
    val ctrs = testCentroids(12)
    val plans = Seq(
      "bruteForceTopK" -> Ann.bruteForceTopK(corpus, corpus.where(col("vec_id") < 2), k = 3),
      "int8TopK" -> Ann.int8TopK(corpus, corpus.where(col("vec_id") < 2), k = 3),
      "assignClustersAuto (flat)" -> Ann.assignClustersAuto(corpus, ctrs, kThreshold = 4096),
      "assignClustersAuto (frame)" -> Ann.assignClustersAuto(corpus, ctrs, kThreshold = 4),
      "kmeansMeans" -> Ann.kmeansMeans(corpus, ctrs.map(_._2).toArray))
    for ((name, df) <- plans) assert(df.count() > 0, s"$name returned nothing")
    val offenders = plans.map { case (name, df) => name -> vectorExchanges(df) }.filter(_._2.nonEmpty)
    assert(offenders.isEmpty, s"vectors shuffled: ${offenders.mkString("; ")}")
  }
}
