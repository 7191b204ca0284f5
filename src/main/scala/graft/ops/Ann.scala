package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *   - [[bruteForceTopK]] — exact cosine top-k: broadcast the (small)
  *     query set against the corpus, one pass, no corpus shuffle. The
  *     correctness baseline.
  *   - [[lshTopK]] — random-hyperplane LSH bucketing: corpus and queries
  *     hashed to sign-bit buckets; candidates = bucket collisions (with
  *     multi-probe via band splitting), exact cosine only on candidates.
  *     The 100 TB path: the corpus is touched once to build bucketed
  *     signatures (which can be persisted/bucketed-by on disk), and each
  *     query probes O(buckets hit), never the full corpus.
  *
  * Vector math in hot paths resolves to the native `vec_dot` Catalyst
  * kernel (see [[graft.plans.VecDot]], registered by GraftExtensions) —
  * the zip_with/aggregate formulation, kept as the documented fallback
  * shape, evaluates interpreted and is avoided in candidate scoring. No
  * Scala UDFs anywhere.
  */
object Ann {

  /** dot(a, b) with double accumulation (left-to-right). Resolves to the
    * native vec_dot kernel (GraftExtensions) — the zip_with/aggregate
    * formulation evaluates interpreted and dominates brute-force ANN.
    * IEEE-identical results to the fold formulation.
    */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d > 0, dot(a, b) / d).otherwise(lit(0.0))
  }

  /** Per-query top-k by descending cosine, neighbor id breaking ties —
    * the shared tail of every ANN query path.
    */
  private def topKByCosine(scored: DataFrame, k: Int, queryIdCol: String): DataFrame = {
    val win = Window.partitionBy(queryIdCol)
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(win))
      .where(col("rank") <= k)
  }

  /** Shared all-pairs spine of [[bruteForceTopK]] / [[int8TopK]]:
    * `corpus` (idCol, _cvec) is scanned exactly once and no vector is
    * shuffled (no scatter: on a single-file corpus it would shuffle
    * every vector to spread the scoring); `q` (queryIdCol, _qvec) must
    * be small — it is broadcast.
    */
  private def crossScoreTopK(
      corpus: DataFrame,
      q: DataFrame,
      k: Int,
      idCol: String,
      queryIdCol: String,
  ): DataFrame = {
    val scored = corpus
      .crossJoin(broadcast(q))
      .where(col(idCol) =!= col(queryIdCol))
      .select(col(queryIdCol), col(idCol).as("neighbor_id"),
        cosine(col("_qvec"), col("_cvec")).as("cosine"))
    topKByCosine(scored, k, queryIdCol)
  }

  /** Exact top-k cosine neighbors for each query vector.
    * `queries` must be small (it is broadcast); the corpus is scanned
    * exactly once with no shuffle before the per-query top-k, which
    * aggregates only k rows per query.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      queryIdCol: String = "query_id",
  ): DataFrame = crossScoreTopK(
    corpus.select(col(idCol), col(vecCol).as("_cvec")),
    queries.select(col(idCol).as(queryIdCol), col(vecCol).as("_qvec")),
    k, idCol, queryIdCol)

  /** Deterministic pseudo-random unit hyperplanes (driver-side constants;
    * xorshift64* seeded by (plane, dim) so results are reproducible).
    */
  private[graft] def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] =
    Array.tabulate(numPlanes, dim) { (p, d) =>
      var x = seed + p.toLong * 1000003L + d.toLong * 7919L
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      val u = (x * 0x2545F4914F6CDD1DL >>> 11).toDouble / (1L << 53).toDouble
      u * 2.0 - 1.0
    }

  /** Johnson–Lindenstrauss random projection: `dim`-dimensional vectors
    * down to `outDim` dimensions through a deterministic pseudo-random
    * matrix (the [[hyperplanes]] generator, so the matrix is a pure
    * function of (seed, outDim, dim) — reproducible across executors,
    * retries, and engines with no broadcast state). Distances/angles are
    * preserved within the JL distortion bound, so downstream cosine
    * ranking in projected space approximates full-space ranking at
    * outDim/dim of the compute and shuffle width.
    *
    * Pure projection — one codegen'd [[dot]] kernel call per output
    * dimension, no shuffle, no UDF. At 100 TB this is the standard
    * embedding-compaction step before banding/bucketing: project once at
    * write time, keep the full vector at rest for re-scoring.
    *
    * Unscaled (no 1/sqrt(outDim) factor): cosine is scale-invariant and
    * omitting the factor keeps the oracle replay a plain dot product.
    */
  def randomProject(vec: Column, dim: Int, outDim: Int, seed: Long = 42L): Column =
    array(hyperplanes(outDim, dim, seed).map(row => dot(vec, array(row.map(lit): _*))): _*)

  /** Sign-bit signature of a vector against the planes: bit p = 1 iff
    * dot(v, plane_p) >= 0, folded into a long (numPlanes <= 63).
    */
  def signBits(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (plane, p) =>
      val d = dot(vec, array(plane.map(lit): _*))
      when(d >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce[Column]((a, b) => a.bitwiseOR(b))

  /** LSH-bucketed approximate top-k: signatures split into `bands` bands
    * of bits; query and corpus rows sharing ANY band key become
    * candidates; exact cosine + top-k on candidates only. Recall grows
    * with bands (multi-probe); cost stays bucket-local.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      dim: Int,
      numPlanes: Int = 16,
      bands: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      queryIdCol: String = "query_id",
      seed: Long = 42L,
  ): DataFrame = {
    require(numPlanes % bands == 0, "bands must divide numPlanes")
    val planes = hyperplanes(numPlanes, dim, seed)
    // candidate generation on SLIM (id, band, key) rows: the corpus pass
    // computes signatures and bucket keys only — no vectors ride the
    // collision rows or the distinct shuffle (the minHashPairs shape).
    // No scatter: on an under-partitioned corpus it would shuffle every
    // vector to spread the signature work.
    def bandedSlim(df: DataFrame, id: String): DataFrame =
      df.select(col(idCol).as(id), signBits(col(vecCol), planes).as("_sig"))
        .select(col(id), posexplode(array(
          Dedup.bitSlices(col("_sig"), bands, numPlanes / bands): _*)).as(Seq("_b", "_k")))
    val pairs = bandedSlim(corpus, "neighbor_id")
      .join(broadcast(bandedSlim(queries, queryIdCol)), Seq("_b", "_k"))
      .where(col("neighbor_id") =!= col(queryIdCol))
      .select(queryIdCol, "neighbor_id").distinct()
    // vectors re-attach via broadcast of the (small: |queries| × bucket
    // collisions) pair set — the corpus is re-scanned pruned to
    // (id, vector) with no shuffle at all
    val scored = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("_cvec"))
      .join(broadcast(pairs), Seq("neighbor_id"))
      .join(broadcast(queries.select(col(idCol).as(queryIdCol), col(vecCol).as("_qvec"))),
        Seq(queryIdCol))
      .select(col(queryIdCol), col("neighbor_id"),
        cosine(col("_qvec"), col("_cvec")).as("cosine"))
    topKByCosine(scored, k, queryIdCol)
  }

  /** Embedding-cosine near-duplicate pairs: sign-bucket LSH self-join
    * (corpus vs corpus, equi shuffle join on (band, key) — never
    * all-pairs), exact cosine verification at `threshold` evaluated
    * INSIDE the banded join stage. The embedding-space sibling of
    * Dedup.minHashPairs.
    *
    * Shape rationale (revised after the 100× probe): the previous shape
    * kept vectors out of the band shuffle by joining SLIM (id, band,
    * key) rows, materializing the distinct candidate-pair set, and
    * re-attaching vectors per surviving pair. That optimizes the regime
    * where candidates ≈ pairs — but candidate volume is Σ bucket² ≈
    * n²·bands/2^(planes/bands), and at 100× the design corpus (2M
    * vectors against the default 16-bucket band keys) it reached ~10¹⁰
    * rows: the candidate distinct became a multi-minute shuffle with
    * 2 GiB page-allocation failures. Growing the key width instead is
    * not an out: a 64-bit signature budget caps planes·bands, and at
    * the near-dup grade this data pins (planted cosines ≥ 0.9449, plane
    * agreement p ≈ 0.894) every (wider-key, enough-bands-for-recall)
    * point re-inflates collisions as fast as the keys cut them.
    *
    * So the vectors now ride the BANDED join sides — a bounded
    * O(n·bands) shuffle, ~4× the corpus vector volume — and every
    * candidate is cosine-verified in the join's own projection:
    * generated, scored, and filtered inside one whole-stage-codegen
    * pipeline, never materialized, never shuffled. The only post-join
    * exchange is the distinct over surviving (id_a, id_b, cosine) rows
    * — output-bounded, and duplicates collapse exactly because cosine
    * is a pure function of the two vectors (each shared band emits a
    * bit-identical copy). Compute stays Σ bucket²·dim multiply-adds —
    * inherent to exact LSH-bucketed verification — but it streams at
    * memory-flat cost at any scale. AnnSpec pins the contract: vectors
    * appear only in the two pre-join band exchanges (one side each),
    * never in any exchange above the join.
    *
    * OPERATING GUIDANCE — centroids are REQUIRED at corpus scale. The
    * cluster-free form is the oracled fixed point and fine to ~10⁴–10⁵
    * vectors, but its banded-bucket residue is quadratic in n at a
    * fixed operating point: measured 0.35 s at 20k vectors (sf0.1,
    * where the two forms tie) vs 81–122 s at 200k (sf10) — while the
    * centroid split with k ∝ n (the [[graft.Queries.semanticDedupScaled]]
    * k-growth rule, k ≈ n/2500) holds 2.9–4.3 s at 200k, a 30–40×
    * win that widens with every decade. Production use above ~50k
    * vectors should pass `centroids` (k lowest-id corpus vectors, or a
    * trained codebook) and accept the stated SemDeDup recall scope;
    * the cluster-free gate row exists to pin exact semantics, not as
    * the at-scale configuration. Crossover and measurements: SCALE.md
    * rounds 15–16.
    *
    * Cache lifecycle: the persisted (id, vector, signature, norm) set —
    * the operator's largest intermediate — follows the [[StorageHandle]]
    * contract. On the default `unmanaged` handle it stays cached until
    * the session's next cache clear (Bench/Verify clear between
    * queries); there is no eager unpersist, because both self-join
    * sides and any downstream reuse read it. A LONG-LIVED session
    * calling this repeatedly should pass a managed handle
    * (`StorageHandle()`) and `release()` it after consuming the result
    * — see [[graft.api.Api]]'s managed-handle walkthrough.
    */
  def cosineNearDupPairs(
      corpus: DataFrame,
      threshold: Double,
      dim: Int,
      numPlanes: Int = 16,
      bands: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      seed: Long = 42L,
      handle: StorageHandle = StorageHandle.unmanaged,
      centroids: Option[Seq[(Int, Array[Double])]] = None,
  ): DataFrame = {
    require(centroids.forall(_.nonEmpty), "centroid list, when given, must be non-empty")
    // Optional centroid split (the semanticDedup candidate bound,
    // reusable here because a sign-LSH band bucket's quadratic residue
    // at a FIXED operating point grows with n² — the measured sf10
    // wall): candidates must additionally share the nearest-centroid
    // cluster, cutting each bucket's residue by the cluster count. The
    // trade is RECALL SCOPE, stated explicitly: only within-cluster
    // pairs surface (a near-dup pair straddling a cluster boundary is
    // invisible), which is the SemDeDup semantics — near-identical
    // vectors co-assign except exactly at boundary ties, and k ∝ n
    // keeps the per-cluster residue constant as the corpus grows. The
    // default (None) remains the cluster-free oracled fixed point.
    val clusterCol = centroids.map(cs => nearestCentroid(col(vecCol), cs).getField("id").as("_cl"))
    // No scatter: on an under-partitioned corpus it would shuffle every
    // vector inside the persisted signature pass (the lshTopK rule)
    val rows = corpus.select(Seq(col(idCol), col(vecCol)) ++ clusterCol: _*)
    val (_, pairs) = bandedCosinePairs(rows, clusterCol.map(_ => "_cl").toSeq, Nil,
      threshold, dim, numPlanes, bands, idCol, vecCol, seed, handle)
    pairs.select("id_a", "id_b", "cosine").distinct()
  }

  /** The banded cosine self-join of [[cosineNearDupPairs]] and
    * [[semanticDedupCore]]. `rows` carries (idCol, vecCol) plus the extra
    * equi-join `keys` and the `carry` columns. Signature and norm are
    * computed in ONE persisted pass (returned first) that both join sides
    * read; pairs sharing a band key and every `keys` value come back as
    * (id_a, id_b, cosine, carry c_a / c_b …), cosine ≥ `threshold` —
    * once per shared band, so callers dedup.
    *
    * Norms are precomputed in the persisted pass, once per vector: the
    * join projection then pays one vec_dot per candidate instead of three
    * (dot + both norms), cutting the dominant Σ bucket² compute 3× — with
    * bit-identical results, since norm(a)·norm(b) runs the exact same
    * operations in the same order as the inline cosine() form. The
    * threshold filter sits in the join's own projection, so no candidate
    * row is materialized or shuffled.
    */
  private def bandedCosinePairs(
      rows: DataFrame,
      keys: Seq[String],
      carry: Seq[String],
      threshold: Double,
      dim: Int,
      numPlanes: Int,
      bands: Int,
      idCol: String,
      vecCol: String,
      seed: Long,
      handle: StorageHandle,
  ): (DataFrame, DataFrame) = {
    require(numPlanes % bands == 0, "bands must divide numPlanes")
    val planes = hyperplanes(numPlanes, dim, seed)
    val sigs = handle.persist(rows.select(rows.columns.map(col) ++ Seq(
      signBits(col(vecCol), planes).as("_sig"), norm(col(vecCol)).as("_n")): _*))
    val banded = sigs.select((Seq(idCol, vecCol, "_n") ++ keys ++ carry).map(col) :+
      posexplode(array(Dedup.bitSlices(col("_sig"), bands, numPlanes / bands): _*))
        .as(Seq("_b", "_k")): _*)
    val denom = col("_n_a") * col("_n_b")
    val pairs = Dedup.bandSelfJoin(banded, idCol, keys ++ Seq("_b", "_k"),
      Seq(vecCol, "_n") ++ carry)
      .withColumn("cosine", when(denom > 0, dot(col(s"${vecCol}_a"), col(s"${vecCol}_b")) / denom)
        .otherwise(lit(0.0)))
      .where(col("cosine") >= threshold)
    (sigs, pairs)
  }

  /** Per-vector max-abs scale for int8 quantization (double). */
  def maxAbs(vec: Column): Column =
    array_max(transform(vec, x => abs(x))).cast(DoubleType)

  /** Symmetric per-vector int8 scalar quantization: q_i = round(v_i *
    * 127 / maxAbs), stored as `array<tinyint>` — 4× smaller than
    * float32 at rest and in every shuffle, the storage-layer half of
    * ANN at 100 TB (IVF prunes what is READ; int8 shrinks every byte
    * that remains). Cosine survives quantization because the per-vector
    * scale cancels in the ratio — only the ±0.5 rounding error remains.
    *
    * `m` is [[maxAbs]] computed in a PRIOR projection so it evaluates
    * once per row, not once per element (transform re-evaluates its
    * outer references per element). A zero vector quantizes to zeros.
    *
    * Exactness contract: quantized dots are sums of integer products
    * (≤ 127² · dim — exact in double well past dim 10⁶), so scores are
    * bit-identical across engines, partitionings, and retries; the
    * quantization itself is one deterministic round() both Spark and
    * DuckDB reproduce. This is what makes the int8 path exactly
    * oracle-able rather than tolerance-compared.
    */
  def quantizeInt8(vec: Column, m: Column): Column =
    transform(vec, x =>
      when(m > 0, round(x.cast(DoubleType) * lit(127.0) / m))
        .otherwise(lit(0.0)).cast(ByteType))

  /** Brute-force top-k over int8-quantized vectors: same join/top-k
    * shape as [[bruteForceTopK]] (corpus scanned once, queries
    * broadcast), but candidates are scored on `array<tinyint>` columns
    * cast to double for the native vec_dot kernel — the cast is
    * codegen'd and the integer-valued products stay exact. At scale the
    * corpus side carries 1/4 the bytes of the float path through scan,
    * cache, and (in the LSH/IVF variants) shuffle.
    */
  def int8TopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      queryIdCol: String = "query_id",
  ): DataFrame = {
    def quantized(df: DataFrame, id: String, outVec: String): DataFrame =
      df.select(col(idCol).as(id), col(vecCol), maxAbs(col(vecCol)).as("_m"))
        .select(col(id), quantizeInt8(col(vecCol), col("_m"))
          .cast(ArrayType(DoubleType)).as(outVec))
    crossScoreTopK(quantized(corpus, idCol, "_cvec"),
      quantized(queries, queryIdCol, "_qvec"), k, idCol, queryIdCol)
  }

  /** Argmax-cosine centroid assignment as struct(sim, id), via the
    * native [[graft.plans.NearestCentroid]] kernel: the k×dim matrix is
    * ONE plan reference object and the loop runs inside whole-stage
    * codegen — the expression formulation (greatest over k
    * cosine-struct branches) is linear in k at the AST level and k must
    * grow with the corpus (k ∝ n / target-cluster-size), so assignment
    * cost per row must not carry a per-centroid expression-tree tax.
    * Exact arithmetic parity with the expression path (same vec_dot
    * accumulation, same greatest(struct) tie order) is pinned in
    * AnnSpec.
    */
  def nearestCentroid(vec: Column, centroids: Seq[(Int, Array[Double])]): Column = {
    require(centroids.nonEmpty, "need at least one centroid")
    require(centroids.map(_._2.length).distinct.size == 1,
      "all centroids must share one dimension")
    call_function("nearest_centroid", vec,
      lit(centroids.flatMap(_._2).toArray), lit(centroids.map(_._1).toArray))
  }

  /** IVF-style coarse quantization: assign each vector to its nearest of
    * `centroids` (broadcast literal), giving a partitionable `cluster`
    * column — the disk-layout primitive for ANN at rest (write bucketed
    * by cluster; probe only nProbe clusters at query time).
    */
  def assignCluster(vec: Column, centroids: Array[Array[Double]]): Column = {
    nearestCentroid(vec, centroids.zipWithIndex.map { case (c, i) => (i, c) })
      .getField("id")
  }

  /** The nProbe nearest centroid ids for a vector, as an array column. */
  def probeClusters(vec: Column, centroids: Array[Array[Double]], nProbe: Int): Column = {
    val scored = centroids.zipWithIndex.map { case (ctr, i) =>
      val c = array(ctr.map(lit): _*)
      // negate similarity: array_sort ascends, so most-similar first
      struct((-cosine(vec, c)).as("neg"), lit(i).as("id"))
    }
    transform(slice(array_sort(array(scored: _*)), 1, nProbe), s => s.getField("id"))
  }

  /** Two-level centroid assignment with the FINE centroids carried as a
    * DataFrame — the past-the-k-ceiling path (round-17 verdict task 4).
    *
    * [[nearestCentroid]]/[[assignCluster]] bake the k×dim matrix into a
    * plan literal and [[kmeansStep]] collects means driver-side — at
    * k ≤ a few thousand that is genuinely metadata, but the k ∝ n rule
    * ([[graft.Queries.semanticDedupScaled]], k = n/2500) reaches
    * k ~ 10⁵–10⁷ at 100 TB, where a k×dim literal is an unplannable
    * multi-GB expression, a codegen hazard, and a driver bottleneck.
    * Here centroids stay DATA:
    *
    *   1. a small COARSE codebook (≈ √k rows — back under the literal
    *      kernel's comfort zone) partitions space; each fine centroid is
    *      tagged with its coarse cell by one distributed pass;
    *   2. each corpus vector probes its `coarseProbes` nearest coarse
    *      cells ([[probeClusters]]) and joins — equi, on the cell id —
    *      against only those cells' fine centroids (AQE broadcasts the
    *      fine frame while it fits, shuffle-hash past that);
    *   3. argmax-cosine over the probed candidates via one partial
    *      aggregate: max(struct(sim, id)) collapses map-side to one row
    *      per vector, so the only full shuffle carries n slim rows.
    *
    * Per-row compute is O(cells·dim + probes·(k/cells)·dim) ≈
    * O(√k·dim) at probes ≪ cells — versus the flat path's O(k·dim).
    * EXACTNESS CONTRACT: with `coarseProbes <= 0` (probe every cell)
    * every fine centroid is scored and the result is bit-identical to
    * the flat argmax (same vec_dot accumulation, same ties-to-higher-id
    * order — property-pinned in AnnSpec); with a bounded probe count
    * the result is the standard IVF approximation — a vector whose true
    * centroid lives in an unprobed cell gets its best PROBED centroid
    * (and a vector all of whose probed cells hold no centroid is
    * dropped — impossible at full probe with a non-empty codebook).
    *
    * Returns (idCol, cluster, centroid_sim).
    */
  def assignClustersFrame(
      corpus: DataFrame,
      centroids: DataFrame,
      coarse: Array[Array[Double]],
      coarseProbes: Int = 0,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      centroidIdCol: String = "cluster",
      centroidVecCol: String = "centroid",
  ): DataFrame =
    assignClustersFrameImpl(corpus, centroids, coarse, coarseProbes,
      idCol, vecCol, centroidIdCol, centroidVecCol, keepVec = false)

  /** [[assignClustersFrame]] with `keepVec`: when true the corpus vector
    * rides the argmax aggregation (`first` over the per-id group, whose
    * rows all replicate the same vector — deterministic) and is returned
    * alongside the verdict. Consumers that need (id, vec, cluster, sim)
    * — [[semanticDedupDistributed]] — thereby skip a second corpus scan
    * AND the id-keyed join-back shuffle of n vectors; the vector is
    * already in flight through the candidate join to compute the cosine,
    * so carrying it to the output costs nothing new. The shuffle for the
    * final argmax carries one (id, vec, cand) row per map partition
    * after partial aggregation.
    */
  private[ops] def assignClustersFrameImpl(
      corpus: DataFrame,
      centroids: DataFrame,
      coarse: Array[Array[Double]],
      coarseProbes: Int,
      idCol: String,
      vecCol: String,
      centroidIdCol: String,
      centroidVecCol: String,
      keepVec: Boolean,
  ): DataFrame = {
    require(coarse.nonEmpty, "need at least one coarse cell")
    val probes = if (coarseProbes <= 0) coarse.length else math.min(coarseProbes, coarse.length)
    // one distributed pass tags each fine centroid with its coarse cell
    // — the k-row analogue of ivfWrite's corpus assignment
    val fine = centroids
      .select(col(centroidIdCol).as("_fid"), col(centroidVecCol).as("_fvec"))
      .withColumn("_cell", assignCluster(col("_fvec"), coarse))
    // no scatter, as in crossScoreTopK
    val probed = corpus
      .select(col(idCol), col(vecCol),
        probeClusters(col(vecCol), coarse, probes).as("_probes"))
      .select(col(idCol), col(vecCol), explode(col("_probes")).as("_cell"))
    val cands = probed.join(fine, Seq("_cell"))
      .select(col(idCol), col(vecCol),
        struct(cosine(col(vecCol), col("_fvec")).as("sim"), col("_fid").as("id")).as("_cand"))
    val agged =
      if (keepVec)
        cands.groupBy(col(idCol))
          .agg(max(col("_cand")).as("_best"), first(col(vecCol)).as(vecCol))
      else
        cands.groupBy(col(idCol)).agg(max(col("_cand")).as("_best"))
    val out = agged.select((col(idCol) +:
      (if (keepVec) Seq(col(vecCol)) else Nil)) ++ Seq(
      col("_best").getField("id").as("cluster"),
      col("_best").getField("sim").as("centroid_sim")): _*)
    out
  }

  /** Threshold-dispatched assignment — the public argmax entry point
    * that picks the literal kernel at small k and the DataFrame-centroid
    * two-level route ([[assignClustersFrame]]) past `kThreshold`, where
    * the k×dim literal stops being metadata. The coarse codebook is
    * every ⌈k/√k⌉-th centroid of the label-sorted list (deterministic —
    * no RNG, engine-replayable); `coarseProbes <= 0` probes every cell,
    * keeping the routed result bit-equal to the flat argmax at ANY k
    * (the property AnnSpec pins across the threshold).
    *
    * Returns (idCol, cluster, centroid_sim) on both routes.
    */
  def assignClustersAuto(
      corpus: DataFrame,
      centroids: Seq[(Int, Array[Double])],
      kThreshold: Int = 4096,
      coarseProbes: Int = 0,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
  ): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    if (centroids.size <= kThreshold) {
      val best = nearestCentroid(col(vecCol), centroids)
      corpus.select(col(idCol), best.as("_best"))
        .select(col(idCol), col("_best").getField("id").as("cluster"),
          col("_best").getField("sim").as("centroid_sim"))
    } else {
      val spark = corpus.sparkSession
      import spark.implicits._
      val sorted = centroids.sortBy(_._1)
      val cells = math.max(1, math.ceil(math.sqrt(sorted.size.toDouble)).toInt)
      val stride = math.max(1, sorted.size / cells)
      val coarse = sorted.indices.by(stride).take(cells).map(i => sorted(i)._2).toArray
      assignClustersFrame(corpus, sorted.toDF("cluster", "centroid"), coarse,
        coarseProbes, idCol, vecCol)
    }
  }

  /** [[semanticDedup]] with DataFrame-carried centroids: assignment runs
    * the two-level [[assignClustersFrame]] route (no k×dim literal
    * anywhere in the plan) with the vector CARRIED THROUGH the argmax
    * aggregation (`keepVec` — one corpus scan, no id-keyed join-back of
    * n vectors; the r18-shipped shape scanned the corpus twice and
    * shuffled the vectors a second time to re-attach them), and the
    * pair/drop spine is the exact same [[semanticDedupCore]] the literal
    * form runs. At full probe (`coarseProbes <= 0`) output is
    * bit-identical to [[semanticDedup]] with the same centroid set; at
    * bounded probes the assignment is the stated IVF approximation and
    * the drop rule applies to it verbatim.
    */
  def semanticDedupDistributed(
      corpus: DataFrame,
      centroids: DataFrame,
      coarse: Array[Array[Double]],
      threshold: Double,
      dim: Int,
      coarseProbes: Int = 0,
      numPlanes: Int = 16,
      bands: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      centroidIdCol: String = "cluster",
      centroidVecCol: String = "centroid",
      seed: Long = 42L,
      handle: StorageHandle = StorageHandle.unmanaged,
  ): DataFrame = {
    val assigned = assignClustersFrameImpl(corpus, centroids, coarse, coarseProbes,
      idCol, vecCol, centroidIdCol, centroidVecCol, keepVec = true)
      .select(col(idCol), col(vecCol), col("cluster"), col("centroid_sim").as("_csim"))
    semanticDedupCore(assigned, threshold, dim, numPlanes, bands, idCol, vecCol, seed, handle)
  }

  /** Per-dimension cluster means after one Lloyd assignment — the IVF
    * centroid-training step, exploded as (cluster, pos, n, mean).
    *
    * Plan shape: assignment is the codegen'd [[assignCluster]]
    * projection; the mean runs EXPLODED — posexplode(vec) -> hash agg on
    * (cluster, pos) with map-side combine — so no vector array rides
    * the shuffle, no higher-order aggregate evaluates interpreted, and
    * the shuffle carries k x dim rows per map partition. Sums are over
    * SCALED INTEGERS (x 2^24): integer addition is order-independent,
    * so the result is bit-identical across partitionings and retries —
    * floating-point accumulation would drift with shuffle order.
    */
  def kmeansMeans(
      corpus: DataFrame,
      centroids: Array[Array[Double]],
      vecCol: String = "embedding",
  ): DataFrame = {
    val scale = 1L << 24
    // no scatter, as in crossScoreTopK
    corpus
      // assignment in its own projection: a generator select strips the
      // struct-field aliases assignCluster's argmax relies on
      .select(assignCluster(col(vecCol), centroids).as("cluster"), col(vecCol))
      .select(col("cluster"), posexplode(col(vecCol)).as(Seq("pos", "_v")))
      .groupBy("cluster", "pos")
      .agg(count(lit(1)).as("n"),
        sum(round(col("_v").cast(DoubleType) * lit(scale.toDouble)).cast(LongType)).as("_s"))
      .select(col("cluster"), col("pos"), col("n"),
        (col("_s").cast(DoubleType) / col("n") / lit(scale.toDouble)).as("mean"))
  }

  /** One Lloyd iteration: new centroid array per cluster (clusters that
    * lost every member keep their previous centroid, the standard
    * empty-cluster fallback). The collect is k x dim rows — centroid
    * metadata, not data.
    */
  def kmeansStep(
      corpus: DataFrame,
      centroids: Array[Array[Double]],
      vecCol: String = "embedding",
  ): Array[Array[Double]] = {
    val dim = centroids.head.length
    val k = centroids.length
    val means = kmeansMeans(corpus, centroids, vecCol).collect()
    require(means.isEmpty || means.map(_.getAs[Int]("pos")).max < dim, "dim mismatch")
    require(means.isEmpty || means.map(_.getAs[Int]("cluster")).max < k, "cluster index out of range")
    val out = centroids.map(_.clone())
    means.foreach { r =>
      out(r.getAs[Int]("cluster"))(r.getAs[Int]("pos")) = r.getAs[Double]("mean")
    }
    out
  }

  /** Iterated [[kmeansStep]] — train IVF centroids from a (sampled)
    * corpus; pair with [[ivfWrite]] for the at-rest layout.
    */
  def trainCentroids(
      corpus: DataFrame,
      init: Array[Array[Double]],
      iterations: Int,
      vecCol: String = "embedding",
  ): Array[Array[Double]] =
    (1 to iterations).foldLeft(init)((c, _) => kmeansStep(corpus, c, vecCol))

  /** Full Lloyd: iterate [[kmeansStep]] until the largest per-dimension
    * centroid movement (L∞ over every cluster and position) is ≤ `tol`,
    * or `maxIterations`. At 100 TB the TRAINING loop, not the probe, is
    * IVF's expensive phase — a fixed small iteration count either
    * under-trains or over-pays, while movement-based stopping pays
    * exactly until the assignment stabilizes. Because each step's means
    * run over scaled integers (bit-deterministic — see [[kmeansMeans]]),
    * a fully stabilized assignment reproduces centroids EXACTLY, so
    * `tol = 0.0` is a meaningful operating point, not a float trap.
    *
    * The corpus is persisted through `handle` for the duration of the
    * loop (each iteration is one full scan + one k·dim-row collect;
    * centroids live driver-side, so lineage never grows — no
    * checkpointing needed, unlike dedup_clusters' frame-carried
    * rounds). Returns (centroids, iterationsRun).
    */
  def trainToConvergence(
      corpus: DataFrame,
      init: Array[Array[Double]],
      tol: Double = 0.0,
      maxIterations: Int = 25,
      vecCol: String = "embedding",
      handle: StorageHandle = StorageHandle.unmanaged,
  ): (Array[Array[Double]], Int) = {
    require(maxIterations >= 1, s"need at least one iteration, got $maxIterations")
    val cached = handle.persist(corpus.select(col(vecCol)))
    var centroids = init
    var it = 0
    var moved = Double.PositiveInfinity
    while (it < maxIterations && moved > tol) {
      val next = kmeansStep(cached, centroids, vecCol)
      moved = centroids.zip(next).map { case (a, b) =>
        a.zip(b).map { case (x, y) => math.abs(x - y) }.max
      }.max
      centroids = next
      it += 1
    }
    (centroids, it)
  }

  /** Write the corpus partitioned by IVF cluster — ANN's at-rest layout:
    * query-time probes become partition-pruned scans.
    */
  def ivfWrite(
      corpus: DataFrame,
      path: String,
      centroids: Array[Array[Double]],
      vecCol: String = "embedding",
  ): Unit =
    corpus.withColumn("cluster", assignCluster(col(vecCol), centroids))
      .write.mode("overwrite").partitionBy("cluster").parquet(path)

  /** Write the corpus IVF-partitioned AND int8-quantized — the two
    * halves of ANN at rest composed: cluster pruning bounds what a probe
    * READS, int8 shrinks every byte that remains (¼ the scan cost of
    * the float layout per probed partition). Cluster assignment runs on
    * the ORIGINAL float vector (assignment quality is not quantized);
    * only the stored payload is.
    */
  def ivfWriteInt8(
      corpus: DataFrame,
      path: String,
      centroids: Array[Array[Double]],
      idCol: String = "vec_id",
      vecCol: String = "embedding",
  ): Unit =
    corpus
      .select(col(idCol), col(vecCol), maxAbs(col(vecCol)).as("_m"))
      .select(col(idCol),
        quantizeInt8(col(vecCol), col("_m")).as(vecCol),
        assignCluster(col(vecCol), centroids).as("cluster"))
      .write.mode("overwrite").partitionBy("cluster").parquet(path)

  /** IVF query over an [[ivfWriteInt8]] layout: probe selection uses the
    * float query vectors ([[probeClusters]]); scoring quantizes the
    * queries the same way the corpus was quantized and runs the exact
    * integer-dot cosine of [[int8TopK]] on the partition-pruned scan.
    * At full probe this returns exactly the [[int8TopK]] result — the
    * equality that gates the layout end-to-end.
    */
  def ivfTopKInt8(
      corpusPath: String,
      queries: DataFrame,
      centroids: Array[Array[Double]],
      k: Int,
      nProbe: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      queryIdCol: String = "query_id",
  ): DataFrame = {
    val q = queries
      .select(col(idCol).as(queryIdCol), col(vecCol), maxAbs(col(vecCol)).as("_m"))
      .select(col(queryIdCol),
        quantizeInt8(col(vecCol), col("_m")).cast(ArrayType(DoubleType)).as("_qvec"),
        probeClusters(col(vecCol), centroids, nProbe).as("_probes"))
    ivfProbeTopK(corpusPath, q, k, idCol, queryIdCol,
      c => c.select(col(idCol), col(vecCol).cast(ArrayType(DoubleType)).as("_cvec"),
        col("cluster")))
  }

  /** IVF query: each query probes its nProbe nearest clusters; the union
    * of probed clusters becomes a STATIC partition filter on the
    * cluster-partitioned corpus (driver-side collect bounded by
    * |queries| × nProbe), so only probed partitions are read. Exact
    * cosine + top-k on the candidates.
    */
  def ivfTopK(
      corpusPath: String,
      queries: DataFrame,
      centroids: Array[Array[Double]],
      k: Int,
      nProbe: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      queryIdCol: String = "query_id",
  ): DataFrame = {
    val q = queries.select(col(idCol).as(queryIdCol), col(vecCol).as("_qvec"),
      probeClusters(col(vecCol), centroids, nProbe).as("_probes"))
    ivfProbeTopK(corpusPath, q, k, idCol, queryIdCol,
      c => c.select(col(idCol), col(vecCol).as("_cvec"), col("cluster")))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): assign every vector to its nearest of the
    * labeled `centroids`, find within-cluster near-duplicate pairs
    * (cosine >= `threshold`), and drop, from every such pair, the MORE
    * centroid-typical side — the paper's keep-the-least-central rule,
    * which preserves each semantic cluster's diverse tail while
    * collapsing its redundant core. Returns the retained corpus as
    * (idCol, cluster, centroid_sim).
    *
    * Keep rule, stated relationally so it is a pure function of the
    * data (deterministic, engine-replayable, no sequential sweep): row
    * v is dropped iff some same-cluster row u with (centroid_sim, id)
    * strictly below v's has cosine(u, v) >= threshold. For duplicate
    * CHAINS this pairwise form can retain one row fewer than a
    * sequential greedy that re-checks only against survivors — the
    * standard trade distributed SemDeDup implementations make for a
    * shuffle-free, order-independent rule.
    *
    * Scale shape: candidates are DOUBLY bounded — a pair must share
    * (cluster, band, key), composing IVF-style cluster partitioning
    * with [[cosineNearDupPairs]]'s sign-LSH band bound — and cosine
    * verification runs INSIDE the join projection with precomputed
    * norms (the same in-join contract AnnSpec pins for the near-dup
    * pairs: vectors ride only the two O(n·bands) band exchanges, no
    * candidate row is ever materialized or shuffled). Cluster count is
    * the operating knob: k ∝ n / target-cluster-size keeps Σ cluster²
    * linear, and the banding bounds each cluster's residual quadratic
    * exactly as it bounds the global one. The dropped-id set is
    * output-bounded (≤ duplicate pairs) and slim (ids only); its
    * anti-join is deliberately UNHINTED so AQE broadcasts while it
    * fits under autoBroadcastJoinThreshold and degrades to a shuffle
    * join past it. `centroids` are bounded metadata — explicit labeled
    * literals, the same contract as [[ivfTopK]]'s centroid argument.
    *
    * Cache lifecycle: the persisted assignment/signature/norm set obeys
    * the [[StorageHandle]] contract — on the default `unmanaged` handle
    * it stays cached until the session's next cache clear (no eager
    * unpersist: both join sides and the final anti-join read it).
    * Long-lived sessions should pass a managed handle and `release()`
    * after consuming the result, as [[cosineNearDupPairs]] documents.
    */
  def semanticDedup(
      corpus: DataFrame,
      centroids: Seq[(Int, Array[Double])],
      threshold: Double,
      dim: Int,
      numPlanes: Int = 16,
      bands: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      seed: Long = 42L,
      handle: StorageHandle = StorageHandle.unmanaged,
  ): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    require(centroids.map(_._1).distinct.size == centroids.size,
      s"centroid labels must be distinct: ${centroids.map(_._1)}")
    // argmax over labeled centroids: highest sim wins, ties to the
    // higher label — the native kernel, so assignment cost per row is
    // a compiled loop over the k×dim matrix, not k expression branches
    // (k grows with the corpus here; see nearestCentroid)
    val best = nearestCentroid(col(vecCol), centroids)
    // no scatter, as in cosineNearDupPairs
    val assigned = corpus
      .select(col(idCol), col(vecCol), best.as("_best"))
      .select(col(idCol), col(vecCol), col("_best").getField("id").as("cluster"),
        col("_best").getField("sim").as("_csim"))
    semanticDedupCore(assigned, threshold, dim, numPlanes, bands, idCol, vecCol, seed, handle)
  }

  /** The SemDeDup pair/drop spine shared by [[semanticDedup]] (literal
    * centroids) and [[semanticDedupDistributed]] (DataFrame centroids):
    * `assigned` carries (idCol, vecCol, cluster, _csim); signature and
    * norm are computed here in the one persisted pass both self-join
    * sides and the final anti-join read.
    */
  private def semanticDedupCore(
      assigned: DataFrame,
      threshold: Double,
      dim: Int,
      numPlanes: Int,
      bands: Int,
      idCol: String,
      vecCol: String,
      seed: Long,
      handle: StorageHandle,
  ): DataFrame = {
    val (rows, pairs) = bandedCosinePairs(assigned, Seq("cluster"), Seq("_csim"),
      threshold, dim, numPlanes, bands, idCol, vecCol, seed, handle)
    val dropped = pairs
      .select(when(struct(col("_csim_a"), col("id_a")) < struct(col("_csim_b"), col("id_b")),
        col("id_b")).otherwise(col("id_a")).as("_drop"))
      .distinct()
    rows.join(dropped, col(idCol) === col("_drop"), "left_anti")
      .select(col(idCol), col("cluster"), col("_csim").as("centroid_sim"))
  }

  /** Shared probe/scan/score spine of [[ivfTopK]] / [[ivfTopKInt8]].
    * `q` carries (queryIdCol, _qvec, _probes); `projectCorpus` maps the
    * partition-pruned parquet scan to (idCol, _cvec, cluster). The
    * probe-set collect is bounded by |queries| × nProbe. Probes are
    * exploded to (query, cluster) rows so the candidate join is a
    * broadcast HASH join on the cluster key — the array_contains
    * formulation planned a nested-loop join scanning every query's
    * probe list per corpus row.
    */
  private def ivfProbeTopK(
      corpusPath: String,
      q: DataFrame,
      k: Int,
      idCol: String,
      queryIdCol: String,
      projectCorpus: DataFrame => DataFrame,
  ): DataFrame = {
    val spark = q.sparkSession
    val probeSet = q.select(explode(col("_probes")).as("c")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val corpus = projectCorpus(spark.read.parquet(corpusPath)
      .where(col("cluster").isin(probeSet: _*))) // partition pruning
    val qe = q.select(col(queryIdCol), col("_qvec"), explode(col("_probes")).as("cluster"))
    val cand = corpus.join(broadcast(qe), Seq("cluster"))
      .where(col(idCol) =!= col(queryIdCol))
    topKByCosine(cand.select(col(queryIdCol), col(idCol).as("neighbor_id"),
      cosine(col("_qvec"), col("_cvec")).as("cosine")), k, queryIdCol)
  }
}
