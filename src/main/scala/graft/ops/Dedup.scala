package graft.ops

import graft.plans.{BandedHash, HashPair, SimHashBuckets}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Near-duplicate detection at corpus scale: MinHash+LSH banding, SimHash,
  * and exact n-gram Jaccard verification. Everything is built from native
  * higher-order functions (transform/aggregate/zip_with + xxhash64) so the
  * hot path stays in codegen — no UDFs, no driver loops, and crucially
  * NEVER an all-pairs comparison: candidate generation is a hash-bucket
  * self-join on LSH band keys, so cost is O(n·bands + Σ bucket²) with
  * bucket sizes bounded by collision probability, not O(n²).
  */
object Dedup {

  /** Compute-heavy projections (signatures) are CPU-bound per row; when
    * the input arrives as a handful of small files (fewer partitions than
    * cores) the work serializes onto one task. Scatter to the session's
    * parallelism first — at real corpus scale the input already has
    * enough partitions and this no-ops.
    *
    * The partition estimate comes from the optimizer's size statistics
    * (sizeInBytes / files.maxPartitionBytes — exactly how the file scan
    * itself splits), NOT from `df.rdd`: building the RDD materializes a
    * physical plan + lineage per call, which round-4/5 profiling showed
    * as pure overhead on every signature stage.
    */
  private[graft] def scatter(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val maxPartBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val sizeBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // Plans without real stats report defaultSizeInBytes (Long.MaxValue):
    // the estimate is meaningless there, so fall back to the physical
    // partition-count probe (costs an RDD lineage, but file scans always
    // carry real stats so this branch is rare). Compare as BigInt: join
    // estimates can exceed Long range and .toLong would wrap negative.
    val few =
      if (sizeBytes >= BigInt(spark.sessionState.conf.defaultSizeInBytes))
        df.rdd.getNumPartitions < target
      else sizeBytes / maxPartBytes + 1 < target
    if (few) df.repartition(target) else df
  }

  /** MinHash signature: `numHashes` independent permutations approximated
    * by seeded xxhash64; signature[i] = min over shingles of
    * hash(shingle, i).
    *
    * Computed as explode(shingles) -> hash aggregate with `numHashes`
    * partial-min aggregates — NOT as `numHashes` array-transforms over the
    * shingle expression (which duplicates the tokenize+concat subtree 64×
    * and blows codegen out of whole-stage limits). Map-side partial mins
    * make the shuffle tiny (one row per doc), so this scales linearly.
    */
  def minHashSignatures(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      numHashes: Int = 64,
      k: Int = 3,
  ): DataFrame = {
    // One native kernel per row (graft.plans.MinHashText via
    // GraftExtensions): normalize -> tokenize -> rolling k-shingle
    // hashes -> numHashes running minima, zero shuffles. The
    // higher-order-function formulations (transform/aggregate) evaluate
    // INTERPRETED in Spark and were measured ~100× slower at sf0.1.
    scatter(df).select(col(idCol),
      call_function("minhash_text", col(textCol), lit(numHashes), lit(k)).as("_sig"))
  }

  /** LSH band keys: the signature split into `bands` bands of
    * `numHashes/bands` rows each; each band hashed to one bucket key.
    * Two documents share a band key iff that band of their signatures
    * matches exactly — P(candidate) ≈ 1-(1-j^r)^b for Jaccard j.
    */
  def bandKeys(signature: Column, numHashes: Int, bands: Int): Column = {
    val r = numHashes / bands
    require(bands * r == numHashes, s"bands=$bands must divide numHashes=$numHashes")
    // static unrolling with element_at keeps this in codegen — a
    // transform/slice formulation evaluates interpreted (higher-order
    // functions have no doGenCode)
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(((b * r) until ((b + 1) * r)).map(i => element_at(signature, i + 1)) :+ lit(b): _*).as("key"))
    }: _*)
  }

  /** Candidate near-duplicate pairs via banded LSH: distinct
    * (id_a, id_b) with id_a < id_b, persisted through `handle`. The
    * self-join is on (band, key) — an equi shuffle join on a
    * high-cardinality key, the 100 TB-safe shape. Unmanaged mode fills
    * the pair cache at once and releases the full-corpus signature
    * cache behind it.
    */
  def minHashCandidates(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      numHashes: Int = 64,
      bands: Int = 16,
      k: Int = 3,
      handle: StorageHandle = StorageHandle.unmanaged,
  ): DataFrame = {
    val (sigs, candidates) = minHashBanding(df, textCol, idCol, numHashes, bands, k, handle)
    if (!handle.managed) {
      candidates.count()
      sigs.unpersist()
    }
    candidates
  }

  /** Candidate pairs with the MinHash Jaccard estimate (fraction of
    * agreeing signature positions).
    */
  def minHashPairs(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      numHashes: Int = 64,
      bands: Int = 16,
      k: Int = 3,
      handle: StorageHandle = StorageHandle.unmanaged,
  ): DataFrame = {
    val (sigs, candidates) = minHashBanding(df, textCol, idCol, numHashes, bands, k, handle)
    // signature agreement, statically unrolled (numHashes is a plan-time
    // constant): the aggregate(zip_with(...)) form runs BOTH lambdas
    // interpreted per surviving pair — this chain of element_at
    // comparisons stays in whole-stage codegen
    val agree = (0 until numHashes).map { i =>
      when(element_at(col("_f_a"), i + 1) === element_at(col("_f_b"), i + 1), 1L)
        .otherwise(0L)
    }.reduce(_ + _)
    // only for surviving distinct pairs, over signatures pruned to their
    // participants. Unmanaged mode releases the FULL-CORPUS signature
    // cache as soon as the pair-bounded one is filled (the largest cached
    // intermediate — same discipline as Ann.cosineNearDupPairs); a
    // managed handle stays lazy and defers every release to the caller.
    onBothSides(candidates, sigs, col("_sig"), idCol, handle, releaseDocs = true)
      .select(col("id_a"), col("id_b"), (agree / lit(numHashes.toDouble)).as("est_jaccard"))
  }

  /** The persisted signatures `(idCol, _sig)` and distinct candidate
    * pairs `(id_a, id_b)` of [[minHashCandidates]] and [[minHashPairs]].
    */
  private def minHashBanding(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int,
      bands: Int,
      k: Int,
      handle: StorageHandle,
  ): (DataFrame, DataFrame) = {
    // persist signatures: computed once, reused by banding and the
    // estimate join (one small row per document — the thing you'd
    // write to disk at corpus scale)
    val sigs = handle.persist(minHashSignatures(df, textCol, idCol, numHashes, k))
    // candidate generation on SLIM rows (id, band, key) only: band
    // collisions at low jaccard can be ~1000× the final pair count, so
    // the wide signature arrays must not ride through this join
    val banded = sigs.select(col(idCol),
      explode(bandKeys(col("_sig"), numHashes, bands)).as("_band"))
      .select(col(idCol), col("_band.band").as("_b"), col("_band.key").as("_k"))
    // persist: the pair set feeds the participant prune and the join
    // that follow it
    (sigs, handle.persist(bandSelfJoin(banded, idCol, Seq("_b", "_k"))
      .select("id_a", "id_b").distinct()))
  }

  /** `pairs` (id_a, id_b, …) with a per-document `feature` of `docs` joined
    * onto both sides as `_f_a` / `_f_b` — the verify tail behind every
    * candidate filter. `docs` is pruned to the pair participants before
    * `feature` is computed, and the pruned frame is persisted through
    * `handle`, so each participant is featurized once for both sides and
    * non-participants never are. `pairs` is persisted too: it feeds both
    * the participant prune and the join. With an unmanaged handle and
    * `releaseDocs`, the pruned cache is filled at once and `docs` — then
    * a full-corpus cache — released.
    */
  private def onBothSides(
      pairs: DataFrame,
      docs: DataFrame,
      feature: Column,
      idCol: String,
      handle: StorageHandle,
      releaseDocs: Boolean = false,
  ): DataFrame = {
    val kept = handle.persist(pairs)
    val ids = kept.select(col("id_a").as(idCol))
      .union(kept.select(col("id_b").as(idCol))).distinct()
    val pruned = handle.persist(
      docs.join(ids, Seq(idCol), "left_semi").select(col(idCol), feature.as("_f")))
    if (releaseDocs && !handle.managed) {
      pruned.count()
      docs.unpersist()
    }
    kept
      .join(pruned.select(col(idCol).as("id_a"), col("_f").as("_f_a")), Seq("id_a"))
      .join(pruned.select(col(idCol).as("id_b"), col("_f").as("_f_b")), Seq("id_b"))
  }

  /** Exact n-gram Jaccard of every candidate pair: `(id_a, id_b,
    * jaccard)` for each row of `pairs` (id_a, id_b) whose two documents
    * are in `df` — the verify step behind every near-dup filter. Each
    * participating document is shingled once ([[shingleHashes]], k = 3),
    * its shingles persisted through `handle`, and each pair scored with
    * the [[jaccardHashes]] merge walk; documents in no pair are never
    * shingled. A pair listed twice is scored twice.
    */
  def pairJaccard(
      df: DataFrame,
      pairs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      handle: StorageHandle = StorageHandle.unmanaged,
  ): DataFrame =
    onBothSides(pairs, df, shingleHashes(col(textCol)), idCol, handle)
      .select(col("id_a"), col("id_b"), jaccardHashes(col("_f_a"), col("_f_b")).as("jaccard"))

  /** 64-bit SimHash per document: bit i of the result is the sign of
    * Σ_tokens (bit i of the token hash ? +1 : -1). One native kernel
    * call per row (graft.plans.SimHashText via GraftExtensions) — no
    * shuffle, no interpreted higher-order functions.
    */
  def simHashes(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
  ): DataFrame =
    scatter(df).select(col(idCol),
      call_function("simhash_text", col(textCol)).as("_sh"))

  /** The `bands` `width`-bit slices of a 64-bit signature, lowest slice
    * first: `(sig >> b·width) & mask` — the band keys of every banded
    * projection in Dedup and Ann. Static unrolling (bands is a plan-time
    * constant): a transform(sequence(...)) form would evaluate its lambda
    * interpreted per row (higher-order functions have no doGenCode).
    */
  private[ops] def bitSlices(sig: Column, bands: Int, width: Int): Seq[Column] = {
    val mask = if (width == 64) -1L else (1L << width) - 1
    (0 until bands).map(b => shiftright(sig, b * width).bitwiseAND(lit(mask)))
  }

  /** The banded self-join: each side renames `idCol` to id_a / id_b and
    * every `carry` column c to c_a / c_b, the sides equi-join on the
    * bucket `keys` (a shuffle join on high-cardinality keys, never
    * all-pairs), and each unordered pair is kept as id_a < id_b — once
    * per shared bucket, so callers dedup.
    */
  private[ops] def bandSelfJoin(
      rows: DataFrame,
      idCol: String,
      keys: Seq[String],
      carry: Seq[String] = Nil,
  ): DataFrame = {
    def side(s: String) = rows.select(
      (col(idCol).as(s"id_$s") +: carry.map(c => col(c).as(s"${c}_$s"))) ++ keys.map(col): _*)
    side("a").join(side("b"), keys).where(col("id_a") < col("id_b"))
  }

  /** Members per bucket: `(keys…, _n)`. */
  private def bucketCounts(rows: DataFrame, keys: String*): DataFrame =
    rows.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_n"))

  /** The banding projection shared by [[simHashCandidates]] and
    * [[simHashBucketCensus]]: one row per (doc, band) carrying the
    * band's [[bitSlices]] key, as `(idCol, _sh, _q, _k)`.
    */
  private def bandedSlices(hashed: DataFrame, idCol: String, bands: Int): DataFrame = {
    require(64 % bands == 0, s"bands=$bands must divide 64")
    hashed.select(col(idCol), col("_sh"),
      posexplode(array(bitSlices(col("_sh"), bands, 64 / bands): _*)).as(Seq("_q", "_k")))
  }

  /** Per-(band, key) bucket census of [[simHashCandidates]]'s banding:
    * `(_q, _k, _n)` rows, at most bands·2^(64/bands) of them.
    * Introspection for gates and specs that pin WHICH hot-bucket
    * regime a corpus puts the operator in (cool / cap-adjacent /
    * saturated past 8·cap) and derive candidate-volume bounds from the
    * same bit algebra the operator runs — without replicating it.
    */
  def simHashBucketCensus(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      bands: Int = 4,
  ): DataFrame =
    bucketCounts(bandedSlices(simHashes(df, textCol, idCol), idCol, bands), "_q", "_k")

  /** Census-driven near-dup candidate routing — the engine ACTING on
    * the saturation boundary round 16 measured instead of documenting
    * the hand-off: run the SimHash bucket census; if the corpus is
    * COOL (no (band, key) bucket holds more than 8·maxBucketSize
    * members — the regime [[simHashCandidates]]' sub-band pass is gated
    * to, past which no SimHash pass guarantees recall) use banded SimHash
    * candidates (one 64-bit hash per doc — the cheaper signature); if
    * SATURATED, the 8-bit band keyspace has collapsed under corpus
    * density and the recall contract belongs to MinHash banding, whose
    * 2^64-keyed buckets track TRUE shingle-similarity groups rather
    * than corpus/2^8 — hash-exact at sf100 where SimHash measured
    * 65.2 % (`minhash_near_dups_sample`, CORRECTNESS_sf100_r16).
    *
    * Returns (route, candidate pairs (id_a, id_b)); callers verify
    * candidates with exact Jaccard exactly as with either operator
    * alone. The corpus is hashed and banded ONCE (persisted via
    * `handle`): the routing census and, on the cool route, candidate
    * generation both read that single pass — at 100 TB the census is
    * then a near-free aggregate over cached slim rows, the price of
    * not discovering mid-job that the bucket pass's hot buckets have
    * quadratic mass.
    */
  def nearDupsAuto(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxDistance: Int = 16,
      bands: Int = 8,
      maxBucketSize: Int = 1000,
      minhashBands: Int = 32,
      handle: StorageHandle = StorageHandle.unmanaged,
  ): (String, DataFrame) = {
    val (route, cands, _) = nearDupsAutoDetail(df, textCol, idCol, maxDistance,
      bands, maxBucketSize, minhashBands, handle)
    (route, cands)
  }

  /** [[nearDupsAuto]] plus the routing census itself —
    * (route, candidate pairs, (_q, _k, _n) census). The census is the
    * persisted ≤ bands·2^(64/bands)-row frame the routing decision
    * read, handed out so callers that need a saturation readout (the
    * gate queries) don't re-hash the corpus a second time to
    * reconstruct it (guide §2.4: the census costs a full corpus-hash
    * pass at scale).
    *
    * The routing readout is ONE job: a `collect` of the census rows
    * over `maxBucketSize`. It decides the route (any row past
    * 8·maxBucketSize means saturated) and, on the SimHash route, is the
    * over-cap set [[simHashCandidates]]' kernel classifies buckets and
    * pairs by — shipped with the kernel's tasks, so candidate
    * generation needs no census join and no dedup shuffle.
    */
  def nearDupsAutoDetail(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxDistance: Int = 16,
      bands: Int = 8,
      maxBucketSize: Int = 1000,
      minhashBands: Int = 32,
      handle: StorageHandle = StorageHandle.unmanaged,
  ): (String, DataFrame, DataFrame) = {
    require(maxBucketSize > 0, "saturation is defined relative to a positive cap")
    val banded = handle.persist(bandedSlices(simHashes(df, textCol, idCol), idCol, bands))
    val census = handle.persist(bucketCounts(banded, "_q", "_k"))
    // a full collect, not a limit-1 probe: it materializes every census
    // partition, so the census cache stays complete after banded is
    // dropped on the saturated route (un-filled partitions would
    // recompute through a fresh corpus-hash pass)
    val overCap = census.where(col("_n") > maxBucketSize).collect()
    if (overCap.exists(_.getLong(2) > 8L * maxBucketSize)) {
      // MinHash keys on shingle content, not SimHash slices — the
      // banded cache is useless on that route; drop it before the
      // heavy pass rather than letting it squat on executor memory.
      banded.unpersist()
      ("minhash",
        minHashCandidates(df, textCol, idCol, bands = minhashBands, handle = handle),
        census)
    } else
      ("simhash", simHashKernelPairs(banded, hotBuckets(overCap), idCol, maxDistance, bands,
        maxBucketSize, neighborWindow = 8).select("id_a", "id_b"),
        census)
  }

  /** Over-cap `(_q, _k, _n)` census rows as the kernel's
    * `(band, key, members)` set. A null-hash bucket (null text) stays
    * out: its documents never pair.
    */
  private def hotBuckets(rows: Array[Row]): Seq[(Int, Long, Long)] =
    rows.toSeq.filterNot(_.isNullAt(1)).map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))

  /** SimHash near-dup candidates: bucket by the `bands` equal bit-slices
    * of the 64-bit hash (any pair within Hamming distance `bands - 1`
    * shares at least one exact slice — pigeonhole), then verify distance
    * ≤ maxDistance inside each bucket. Never all-pairs. Returns
    * `(id_a, id_b, hamming)` with id_a < id_b, each pair once. Ids must
    * be integral; null ids and null hashes never pair.
    *
    * Pick `bands` from the distance bound you need: 4×16-bit slices
    * guarantee recall to distance 3; 8×8-bit to distance 7. More bands
    * = stronger guarantee but smaller key space (2^(64/bands)) and so
    * quadratically more bucket collisions.
    *
    * The work is one sorted pass per bucket ([[graft.plans.SimHashBuckets]]):
    * the banded rows are hash-partitioned on (band, key) and sorted by
    * (band, key, hash, id), and the kernel walks each bucket in hash
    * order. A pair that shares several bands meets in several buckets;
    * it is EMITTED only from the LOWEST cool band it shares, which the
    * kernel decides from the two full hashes and the over-cap bucket
    * set alone. So no bucket needs another's output and no dedup
    * shuffle runs.
    *
    * `maxBucketSize` (> 0 to enable) is the hot-bucket cap that makes
    * the pass safe at corpus scale: templated corpora concentrate
    * SimHash bytes (the sf0.1 testdata puts 22% of all documents into
    * ONE (band,key) bucket at bands=8), so Σ bucket² grows quadratically
    * with corpus size unless bounded. A census `collect` (one job over
    * the ≤ bands·2^width census rows) names the buckets over the cap.
    * Buckets within it compare every two members — Σ bucket² ≤ n·cap,
    * linear in n. Each larger bucket is recovered by linear rules over
    * its members, sorted by full hash:
    *
    *   1. a FULL-HASH STAR: each run of equal hashes linked to its min
    *      id — hamming-0 recall inside hot buckets is COMPLETE (as
    *      rep->member links, which close transitively);
    *   2. a SORTED-NEIGHBOR window: each member compared to its next
    *      `neighborWindow` neighbors (the sorted-window technique of
    *      Manku et al.'s SimHash dedup) — recovers hamming
    *      1..maxDistance pairs whose remaining bits sort nearby;
    *   3. a SUB-BAND pass, in CAP-ADJACENT buckets (≤ 8·maxBucketSize
    *      members) when maxDistance > 0: the members regroup by each of
    *      8 slices of the REMAINING 64−width bits (7-bit slices at
    *      bands = 8), exactly inside their parent bucket; sub-buckets
    *      within the cap compare every two members, larger ones run the
    *      sorted-neighbor window. This keeps the pigeonhole guarantee
    *      alive INSIDE hot buckets: a pair at hamming ≤ 7 total has ≤ 7
    *      differing bits in the 56 non-band bits, which cannot corrupt
    *      all 8 sub-slices — so it shares a clean sub-slice and meets
    *      in that sub-bucket (unless the sub-bucket is itself still
    *      hot, where the window applies within the refined group).
    *      Added after the 100× sweep measured the residual: at 500k
    *      docs the agreeing-band buckets crossed the cap (1603–2541
    *      members vs cap 1000) and 61/255 true pairs fell into the
    *      sacrificed tail; all 61 carried an agreeing sub-slice, and
    *      this pass restores them (SCALE.md round 15).
    *
    * Recovered pairs that share a cool band are dropped (the cool
    * pass emits them); the rest — pairs meeting only in hot buckets —
    * can be recovered in several buckets and take the operator's only
    * `distinct()`, over that small set.
    *
    * The sub-band gate is load-shedding at SimHash's semantic boundary,
    * measured on both sides at sf100 (5M docs, ALL 2048 (band,key)
    * buckets saturated, max 29,095 members; SCALE.md round 16): with
    * the gate, recall vs the exact All-Pairs truth is 65.2% (167/256
    * window pairs, zero false positives); without it, the refined
    * sub-buckets are individually cool but on a templated corpus their
    * ~5·10¹⁰ sub-pair evaluations pass the hamming filter in bulk
    * (shared-template tokens pin hashes together regardless of true
    * Jaccard), and two runs exhausted 47 GB and then 60 GB of shuffle
    * spill. Past saturation density the 64-bit signal no longer
    * discriminates; the recall contract there belongs to MinHash
    * banding ([[nearDupsAuto]] routes to it).
    *
    * The residual sacrificed tail, in the cap-adjacent regime, is pairs
    * at distance 1..maxDistance that meet ONLY inside over-cap buckets,
    * disagree on EVERY sub-slice there (possible only at hamming ≥ 8 —
    * outside the banding guarantee to begin with), and sort more than
    * `neighborWindow` apart in every hot (sub-)bucket. Buckets hotter
    * than 8·maxBucketSize run star + window alone, where pairs at any
    * hamming 1..maxDistance can be sacrificed if their hashes sort
    * more than `neighborWindow` apart. With the cap the output is this
    * documented subset; with maxBucketSize = 0 it is exact.
    *
    * Memory per bucket, in one task: a cool bucket buffers its ≤ cap
    * members (the whole bucket when uncapped); a cap-adjacent bucket
    * its ≤ 8·cap members plus one sort key each; a saturated bucket
    * streams through a ring of `neighborWindow` members.
    */
  def simHashCandidates(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxDistance: Int = 3,
      bands: Int = 4,
      maxBucketSize: Int = 0,
      neighborWindow: Int = 8,
      handle: StorageHandle = StorageHandle.unmanaged,
  ): DataFrame = {
    val hashed = bandedSlices(simHashes(df, textCol, idCol), idCol, bands)
    if (maxBucketSize <= 0)
      simHashKernelPairs(hashed, Nil, idCol, maxDistance, bands, 0, neighborWindow)
    else {
      // persisted: the census readout and the kernel both read it
      val banded = handle.persist(hashed)
      val overCap = bucketCounts(banded, "_q", "_k").where(col("_n") > maxBucketSize).collect()
      simHashKernelPairs(banded, hotBuckets(overCap), idCol, maxDistance, bands,
        maxBucketSize, neighborWindow)
    }
  }

  /** [[simHashCandidates]] over an already-banded `(idCol, _sh, _q, _k)`
    * frame and its over-cap bucket set (empty when uncapped): the
    * shared entry point [[nearDupsAuto]] routes through, so the corpus
    * is hashed once for both the routing census and the candidates.
    * The banded rows are shuffled once on (band, key); the cool and the
    * hot kernel passes read that one exchange.
    */
  private def simHashKernelPairs(
      banded: DataFrame,
      overCap: Seq[(Int, Long, Long)],
      idCol: String,
      maxDistance: Int,
      bands: Int,
      maxBucketSize: Int,
      neighborWindow: Int,
  ): DataFrame = {
    val idType = banded.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"simhash candidates need an integral id column; $idCol is $idType")
    val rows = banded.where(col(idCol).isNotNull && col("_sh").isNotNull)
      .select(col(idCol).cast(LongType).as("id"), col("_sh").as("sh"),
        col("_q").as("q"), col("_k").as("k"))
      .repartition(col("q"), col("k"))
      .sortWithinPartitions("q", "k", "sh", "id")
      .as(Encoders.product[BandedHash])
    def pass(hot: Boolean): DataFrame = rows.mapPartitions { it =>
      val kernel = new SimHashBuckets(bands, maxDistance, maxBucketSize, neighborWindow, overCap)
      if (hot) kernel.hotPairs(it) else kernel.coolPairs(it)
    }(Encoders.product[HashPair]).toDF("id_a", "id_b", "hamming")
    val pairs =
      if (overCap.isEmpty) pass(hot = false)
      else pass(hot = false).union(pass(hot = true).distinct())
    pairs.select(col("id_a").cast(idType).as("id_a"), col("id_b").cast(idType).as("id_b"),
      col("hamming"))
  }

  /** Keep one representative per near-duplicate cluster: drop every row
    * whose id appears as the GREATER side of a candidate pair. For a
    * chain a<b<c with pairs (a,b),(b,c) this keeps only a — the standard
    * single-pass approximation of connected-component dedup (exact CC
    * needs iterative label propagation; at corpus scale the 1-hop rule
    * removes ≥ the pairwise duplicates without iteration).
    */
  def keepRepresentatives(df: DataFrame, pairs: DataFrame, idCol: String = "doc_id"): DataFrame =
    df.join(pairs.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** One large-star round: every node u links each STRICTLY LARGER
    * neighbor to the minimum of its closed neighborhood
    * min(Γ(u) ∪ {u}). Edges come in canonical (big, small) orientation
    * and leave the same way (the emitted (v, m) always has m < v).
    *
    * Shape: ONE exchange (the per-node window min), not the
    * groupBy + join + distinct formulation's three. The bidirectional
    * view is an explode (one input scan, not a two-scan union), the
    * neighborhood min rides the window, and the output is NOT deduped
    * here — duplicate (v, m) rows (same pair reachable via different
    * centers) are bounded by the degree sum 2|E| and fall out in
    * [[smallStar]]'s terminal distinct, one exchange later. Min
    * aggregation is insensitive to duplicate edges, so correctness is
    * untouched; only the probe needs distinct edges, and it runs on
    * smallStar's output.
    */
  private def largeStar(edges: DataFrame): DataFrame = {
    val bidir = edges.select(explode(array(
      struct(col("_eu").as("u"), col("_ev").as("v")),
      struct(col("_ev").as("u"), col("_eu").as("v")))).as("_e"))
      .select(col("_e.u").as("u"), col("_e.v").as("v"))
    val m = least(min(col("v")).over(Window.partitionBy("u")), col("u"))
    bidir.withColumn("m", m)
      .where(col("v") > col("u"))
      .select(col("v").as("_eu"), col("m").as("_ev"))
      .where(col("_eu") =!= col("_ev"))
  }

  /** One small-star round: every node u links its SMALLER neighbors —
    * and itself — to the minimum of those neighbors. Input and output
    * are canonical (big, small) edges.
    *
    * Two exchanges: the per-node window min and the terminal distinct
    * (which also dedups [[largeStar]]'s undeduped output — the round's
    * ONLY dedup, and the probe's precondition: duplicate (leaf, center)
    * rows would falsely read as two parents).
    */
  private def smallStar(edges: DataFrame): DataFrame = {
    // canonical edges already point big -> small, so the smaller
    // neighborhood of u is exactly its outgoing edge list
    val withM = edges
      .withColumn("m", min(col("_ev")).over(Window.partitionBy("_eu")))
    withM.select(explode(array(
      struct(col("_ev").as("a"), col("m").as("b")),
      struct(col("_eu").as("a"), col("m").as("b")))).as("_e"))
      .select(col("_e.a").as("_eu"), col("_e.b").as("_ev"))
      .where(col("_eu") =!= col("_ev"))
      .distinct()
  }

  /** Exact duplicate-cluster labeling via alternating
    * LARGE-STAR / SMALL-STAR rounds over the candidate-pair graph
    * (Kiveris et al., "Connected Components in MapReduce and Beyond"):
    * each round rewires edges toward the component minimum while
    * preserving connectivity, and the edge set converges to a star
    * forest — every node linked directly to its component's minimum id —
    * in O(log² n) rounds REGARDLESS OF DIAMETER (plain neighbor-min
    * propagation needs O(diameter) rounds, which silently truncates on
    * chain-shaped crawl-boilerplate clusters). Returns
    * (idCol, cluster_id). Use when chains matter (a~b~c must collapse to
    * ONE representative exactly); [[keepRepresentatives]] is the cheaper
    * single-pass approximation.
    *
    * Each round is a constant number of shuffles bounded by the CURRENT
    * edge count — which only shrinks: both operations map every edge to
    * (node, smaller-label) and dedup, so hot components collapse toward
    * their star early. Intermediate edge sets are persisted and
    * unpersisted per round, and each round's result is RE-ROOTED as a
    * fresh leaf plan: the star-contraction expression references its
    * input ~5× per round, so chaining rounds symbolically grows the
    * Catalyst tree EXPONENTIALLY — canonicalization alone OOMs the
    * driver near round 10, long before any data moves. The re-root
    * (row-roundtrip to a LogicalRDD leaf) keeps every round's plan
    * constant-size; unlike `localCheckpoint` its backing blocks are the
    * explicit per-round persists, released deterministically, not on GC.
    * Cache-backed rounds CHAIN RDD lineage: a lost block recomputes
    * through every earlier round.
    *
    * Convergence is tested as the correctness property ITSELF: a round's
    * output is checked to be a STAR FOREST (no center appears as a leaf,
    * no leaf has two parents) — connectivity preservation per round
    * keeps each star a full component, and the canonical orientation
    * makes each center its star's minimum, so star forest ⇒ labels
    * exact. This needs no extra confirmation round the way a
    * fixed-point (next == edges) test does, and it can never falsely
    * converge. If `maxIter` rounds pass without a star forest this
    * THROWS rather than returning partially-merged labels — at the
    * default 24 rounds the O(log² n) bound makes that unreachable for
    * any physically storable graph, so a throw means a logic bug, never
    * data scale.
    */
  def duplicateClusters(
      ids: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id",
      maxIter: Int = 24,
      handle: StorageHandle = StorageHandle.unmanaged,
  ): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val spark = ids.sparkSession
    // re-root: truncate the symbolic plan at a LogicalRDD leaf (see
    // scaladoc). `.rdd` is lazy — no job runs until the round's count.
    def reRoot(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema)
    // Convergence/validity probe: the edge set IS a star forest iff no
    // center appears as a leaf (a node on both edge sides) and no leaf
    // has two parents. Computed as ONE map-combined aggregation over
    // exploded per-side markers — a single scan of the input (the
    // union-of-two-selects formulation this replaced scanned it twice)
    // and a single shuffle of (node, 2 longs) rows. The single scan is
    // load-bearing for the round loop below: the probe over a
    // just-persisted frame IS the action that fills its cache, so one
    // pass materializes AND probes (the separate count() it replaced
    // cost a full extra pass through the round's shuffle chain).
    def starForestViolations(df: DataFrame): Long = {
      val sides = df.select(explode(array(
        struct(col("_eu").as("_n"), lit(1L).as("_leaf"), lit(0L).as("_ctr")),
        struct(col("_ev").as("_n"), lit(0L).as("_leaf"), lit(1L).as("_ctr")))).as("_s"))
        .select(col("_s._n").as("_n"), col("_s._leaf").as("_leaf"), col("_s._ctr").as("_ctr"))
      sides.groupBy("_n")
        .agg(sum(col("_leaf")).as("_leaves"), sum(col("_ctr")).as("_ctrs"))
        .where(col("_leaves") > 1 || (col("_leaves") > 0 && col("_ctrs") > 0))
        .count()
    }
    // canonical (big, small) edge list, self-loops dropped
    var edges = pairs
      .select(greatest(col("id_a"), col("id_b")).as("_eu"),
        least(col("id_a"), col("id_b")).as("_ev"))
      .where(col("_eu") =!= col("_ev"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var iter = 0
    // round-0 fast path: near-dup pair sets are often ALREADY star
    // forests (isolated (a, b) duplicate pairs are one-leaf stars under
    // the canonical orientation) — probe before contracting and skip
    // the machinery entirely for the common case. Bounded: on
    // non-forest inputs it short-circuits, and the initial cache fills
    // during round 1's contraction regardless.
    var converged = starForestViolations(edges) == 0
    try {
      while (iter < maxIter && !converged) {
        val next = reRoot(smallStar(largeStar(edges))).persist(StorageLevel.MEMORY_AND_DISK)
        // the probe's single scan (see starForestViolations) fully
        // materializes the fresh persist before the previous round's is
        // dropped — one action per round does both jobs
        converged = starForestViolations(next) == 0
        edges.unpersist()
        edges = next
        iter += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"duplicateClusters did not reach a star forest in $maxIter " +
            "large-star/small-star rounds — this indicates a logic bug, not " +
            "data scale (the bound is O(log² n) rounds)")
    } catch {
      case e: Throwable =>
        // no surviving consumer on ANY failure (mid-round job error or
        // the non-convergence throw): release the current frame
        edges.unpersist()
        throw e
    }
    // The converged star forest backs the returned (lazy) plan, so it
    // must STAY persisted past this call: hand it to the caller's handle
    // (managed mode releases it on handle.release(); the unmanaged
    // default keeps it for the session — it is already materialized and
    // pair-bounded, far smaller than the iteration inputs just dropped).
    val stars = handle.persist(edges).groupBy(col("_eu").as(idCol))
      .agg(min(col("_ev")).as("_root"))
    ids.select(col(idCol))
      .join(stars, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("_root"), col(idCol)).as("cluster_id"))
  }

  /** Exact n-gram Jaccard similarity between two text columns —
    * |A∩B| / |A∪B| over distinct k-shingles, per row. To verify
    * candidate pairs use [[pairJaccard]], which shingles each document
    * once instead of once per pair.
    */
  def ngramJaccard(textA: Column, textB: Column, k: Int = 3): Column =
    jaccardHashes(shingleHashes(textA, k), shingleHashes(textB, k))

  /** The sorted-distinct k-shingle hash array of a text — the
    * verify-side input for [[jaccardHashes]]. One codegen'd kernel call
    * per row (graft.plans.ShingleText).
    */
  def shingleHashes(text: Column, k: Int = 3): Column =
    call_function("shingle_hashes", text, lit(k))

  /** Exact Jaccard over two [[shingleHashes]] arrays: a merge walk, no
    * per-pair tokenization (graft.plans.JaccardHashes).
    */
  def jaccardHashes(a: Column, b: Column): Column =
    call_function("jaccard_hashes", a, b)

  /** Paragraph-level exact dedup across the corpus (the sub-document
    * granularity web-scale curation dedupes at — boilerplate headers,
    * navigation blocks, and license texts repeat across documents whose
    * full texts never match): each document is split into newline
    * paragraphs, every non-blank paragraph that already occurred at an
    * earlier (doc, position) is dropped, and documents are reassembled
    * from their surviving paragraphs in order. Blank paragraphs are
    * never treated as duplicates (deduping them would collapse
    * unrelated blank lines corpus-wide). A document whose every
    * paragraph was seen earlier drops out of the result entirely — it
    * carries no content; callers that must preserve doc rows can
    * left-join the output back onto the input ids.
    *
    * Scale shape: shuffle volume is LINEAR in total paragraphs — one
    * exchange keyed by paragraph content for the first-occurrence
    * window, one keyed by document id for reassembly. No all-pairs
    * anything; skew (one paragraph duplicated across millions of docs)
    * bounds a single window partition by that paragraph's occurrence
    * count, the same exposure as the exact-dedup groupBy.
    */
  def dedupParagraphs(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      out: String = "text",
  ): DataFrame = {
    val paras = df
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("_pos", "_para")))
    val firstWin = Window.partitionBy(col("_para"))
      .orderBy(col(idCol).asc, col("_pos").asc)
    val kept = paras
      .withColumn("_occ", row_number().over(firstWin))
      .where(trim(col("_para")) === "" || col("_occ") === 1)
    kept
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("_pos"), col("_para")))).as("_sorted"))
      // GetArrayStructFields, not transform(...): the lambda evaluates
      // interpreted; the field pull over the sorted array stays codegen'd
      .select(col(idCol), concat_ws("\n", col("_sorted").getField("_para")).as(out))
  }

  /** Corpus-frequency boilerplate removal (the C4/RefinedWeb line rule):
    * drop EVERY occurrence of any line whose document frequency — the
    * number of DISTINCT documents containing that trimmed line — exceeds
    * `maxDf`, and reassemble each document from its surviving lines in
    * order. The complement of [[dedupParagraphs]]: first-occurrence
    * dedup keeps one canonical copy of a repeated block, while a
    * frequency threshold treats the block as boilerplate and removes
    * ALL copies, including the first — the semantics web-crawl
    * curation wants for navigation chrome, cookie banners, and license
    * footers that are noise wherever they appear. Lines at exactly
    * `maxDf` documents survive (strict >): legitimate short quotations
    * repeat across a few documents, so the threshold is the caller's
    * boilerplate prior, not a dedup rule.
    *
    * Frequency is per-DOCUMENT, not per-occurrence — a line repeated
    * inside one document is intra-document repetition (see
    * TextOps.repetitionSignals), not corpus boilerplate. Matching keys
    * on the TRIMMED line (indentation-insensitive) but reassembles the
    * original text; blank lines are exempt, as in [[dedupParagraphs]].
    * A document whose every line was boilerplate drops out entirely;
    * callers that must preserve doc rows left-join back onto the input.
    *
    * Scale shape: one explode (linear in lines), one distinct on
    * (line, doc) + partial-agg count (linear shuffle, the same volume
    * bound as the paragraph window), and the frequent-line set is
    * OUTPUT-BOUNDED — boilerplate vocabularies are tiny relative to
    * the corpus — so its anti-join is deliberately UNHINTED: AQE
    * broadcasts while it fits under autoBroadcastJoinThreshold and
    * degrades to a shuffle join past it. Skew (one line in millions of
    * docs) is absorbed by the partial aggregation; no per-key window
    * partition ever materializes the occurrence list.
    */
  def removeFrequentLines(
      df: DataFrame,
      maxDf: Long,
      idCol: String = "doc_id",
      textCol: String = "text",
      out: String = "text",
  ): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val lines = df
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("_pos", "_line")))
    val frequent = lines
      .where(trim(col("_line")) =!= "")
      .select(trim(col("_line")).as("_key"), col(idCol))
      .distinct()
      .groupBy("_key").agg(count(lit(1)).as("_df"))
      .where(col("_df") > maxDf)
      .select("_key")
    // reassembly stays codegen'd: GetArrayStructFields (the `._line`
    // field pull over the sorted array) has doGenCode, where a
    // transform(...) lambda would evaluate interpreted
    lines
      .join(frequent, trim(col("_line")) === col("_key"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("_pos"), col("_line")))).as("_sorted"))
      .select(col(idCol),
        concat_ws("\n", col("_sorted").getField("_line")).as(out))
  }

  /** Sliding k-token windows of a token array as window strings —
    * `sliding_windows(tokens, k, sep)`, the [[graft.plans.SlidingWindows]]
    * codegen kernel (requires [[graft.plans.GraftExtensions]]).
    */
  def slidingWindows(tokens: Column, k: Int, sep: String = " "): Column =
    call_function("sliding_windows", tokens, lit(k), lit(sep))

  /** Exact substring-span deduplication (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * ExactSubstr rule, re-expressed relationally): any k-token window
    * that occurs MORE THAN ONCE in the corpus — across documents or
    * within one — is removed from every occurrence except the corpus-
    * first (minimal `(doc_id, position)`), by deleting the token
    * positions the duplicate occurrences cover. Overlapping duplicated
    * windows merge naturally through the per-position deletion marks, so
    * a long repeated passage disappears as one contiguous span.
    * Documents are reassembled from the surviving tokens in order.
    *
    * The reference implementation builds a corpus suffix array — a
    * global sorted structure with no good distributed analogue. The
    * relational form trades the suffix array's arbitrary-length match
    * for a fixed window granularity k (the paper's 50-token threshold ≈
    * the k here): every duplicated run of ≥ k tokens is caught (it
    * contains a duplicated k-window); runs shorter than k are kept,
    * which IS the threshold semantic.
    *
    * Tokenization is whitespace-normalizing (`\s+` → single space, ends
    * trimmed), and reassembly joins surviving tokens with single spaces
    * — output text is whitespace-normalized even for untouched
    * documents, the standard pre-dedup canonicalization. Every input
    * row survives (a fully-deduplicated document keeps its row with
    * empty text).
    *
    * Scale shape, at 100 TB: window materialization is a per-row
    * codegen projection (no shuffle), and the corpus-wide duplicate
    * search runs ENTIRELY on 8-byte `xxhash64(window)` keys — one
    * partial-aggregated count keyed by hash over slim (id, pos, hash)
    * rows (a boilerplate window in millions of docs partial-aggs to
    * one row per map task). The sf100 probe forced this shape: keying
    * the corpus-wide aggregation by window STRING intermittently OOMed
    * the 32-thread sort at 5M docs (~6·k bytes per key through
    * exchange + sort buffers) while the identical run on hashes
    * completed. The exact path (default) then re-derives window text
    * ONLY for rows whose hash is duplicated — a pruned second scan,
    * the [[graft.ops.Ann]].cosineNearDupPairs re-attach shape — and
    * re-verifies the duplicate count on the true text, so hash
    * collisions cost a little extra work, never a wrong deletion;
    * hash-unique rows are provably text-unique and never touch a
    * string exchange. `hashKeys = true` skips the verification pass
    * and trusts the hash (collision risk ≈ (#windows)²/2⁶⁵ of one
    * extra span wrongly deleted — the configuration for corpora where
    * the duplicate volume itself is corpus-scale, e.g. crawl snapshots
    * with mirror sites).
    *
    * PRECONDITION — deterministic input: `df` is re-scanned up to four
    * times (token explode, window pass, the exact path's token
    * re-derivation, the final re-join), deliberately UNPERSISTED — at
    * 5M docs the (id, tokens) projection is multi-GB and caching it
    * traded the sf100 probe's scan-bound linearity for eviction churn;
    * re-reading columnar text is cheaper than materializing token
    * arrays. A non-deterministic source (upstream `sample`/`limit`/
    * non-deterministic UDF) could present different rows to different
    * passes and mark wrong spans — persist such inputs (or land them
    * via [[graft.ops.StorageHandle]]) before calling. Every shipped
    * caller reads at-rest parquet, which is deterministic.
    *
    * Deletion marks are OUTPUT-BOUNDED by the
    * duplicated-token volume (explode of `sequence` sits after the
    * duplicate filter, the [[removeFrequentLines]] precedent); the
    * final anti-join + reassembly are linear shuffles on
    * `(doc, position)` / doc. The gate runs both configurations
    * against one oracle; the spec pins their identity on a
    * collision-free fixture.
    */
  def dedupSpans(
      df: DataFrame,
      k: Int,
      idCol: String = "doc_id",
      textCol: String = "text",
      out: String = "text",
      hashKeys: Boolean = false,
  ): DataFrame = {
    require(k >= 2, s"window size must be >= 2 tokens, got $k")
    val toksOf = {
      // normalize BEFORE trimming: trim() strips spaces only, so a
      // leading tab must first collapse to a space or it yields a
      // phantom empty first token
      val norm = trim(regexp_replace(coalesce(col(textCol), lit("")), "\\s+", " "))
      when(norm === "", array().cast("array<string>")).otherwise(split(norm, " "))
    }
    // scatter each tokenize/window pass: they are per-row kernel work
    // with no upstream exchange, so an under-partitioned input (the sf
    // fixtures are one row group) serializes them onto a single task.
    // Deterministic (round-robin repartition local-sorts its input, so
    // every re-scan places rows identically); no-ops at corpus scale.
    val sdf = scatter(df)
    val toks = sdf
      .select(col(idCol), posexplode(toksOf).as(Seq("_pos", "_tok")))
    // hash AFTER the explode — a scalar codegen'd xxhash64 in the same
    // stage (no interpreted transform(...) lambda); the window string
    // is a transient between generator and projection and — on the slim
    // pass — never reaches the exchange
    val occSlim = sdf
      .select(col(idCol), posexplode(slidingWindows(toksOf, k)).as(Seq("_pos", "_w")))
      .select(col(idCol), col("_pos"), xxhash64(col("_w")).as("_h"))
    // duplicate occurrences + the (doc, pos)-minimal first per window.
    // BOTH paths count on the 8-byte hash first: the corpus-wide
    // exchange/aggregation only ever carries (id, pos, hash) rows. The
    // sf100 probe showed why — grouping 5M docs' window STRINGS
    // intermittently OOMed the 32-thread sort, while the identical run
    // on hashes completed: string keys cost ~6·k bytes each through
    // exchange + sort buffers. The exact path re-derives strings ONLY
    // for rows whose hash is duplicated (a pruned second scan, the
    // Ann.cosineNearDupPairs re-attach shape) and verifies the
    // duplicate count on the true window text — hash-unique rows are
    // provably string-unique, so exact semantics are preserved with the
    // hashed path's memory profile.
    val dupH = occSlim
      .groupBy(col("_h")).agg(count(lit(1)).as("_nh"))
      .where(col("_nh") > 1)
      .select(col("_h"))
    // occurrences whose key is (hash-)duplicated, carrying the FINAL
    // identity column: the hash itself (hashKeys) or the re-derived
    // window text (exact — a pruned second scan). dupH is unhinted:
    // AQE broadcasts while it fits, so the common case has NO
    // corpus-wide join shuffle at all.
    val occDup =
      if (hashKeys)
        occSlim.join(dupH, Seq("_h"))
          .select(col(idCol), col("_pos"), col("_h").as("_win"))
      else {
        // the slim rows join FIRST; window text is then re-derived per
        // flagged position from the owning doc's token array
        // (slice + concat_ws — both codegen'd, no lambda), so string
        // bytes exist ONLY for dup-hash occurrences. A full-window
        // string projection feeding the join instead would put the
        // corpus-wide string stream one AQE degradation (dup-hash set
        // past the broadcast threshold → SMJ) away from a sort/spill
        // of every window string — the sf100 disk-wall.
        val flagged = occSlim.join(dupH, Seq("_h")).select(col(idCol), col("_pos"))
        val docToks = sdf.select(col(idCol), toksOf.as("_toks"))
        flagged.join(docToks, Seq(idCol))
          .select(col(idCol), col("_pos"),
            concat_ws(" ", slice(col("_toks"), col("_pos") + 1, lit(k))).as("_win"))
      }
    // first = min (doc, pos) per surviving window; the exact path's
    // string count here drops hash-duplicated-but-text-unique rows, so
    // collisions cost a little extra work, never a wrong deletion. The
    // min(struct) SortAggregate now runs over the dup-bounded subset
    // only, never corpus-wide.
    val firsts = occDup
      .groupBy(col("_win"))
      .agg(count(lit(1)).as("_n"),
        min(struct(col(idCol), col("_pos"))).as("_first"))
      .where(col("_n") > 1)
      .select(col("_win"), col("_first"))
    val dupOcc = occDup
      .join(firsts, "_win")
      .where(struct(col(idCol), col("_pos")) =!= col("_first"))
    // deletion marks: explode AFTER the duplicate filter (bounded by
    // duplicated-token volume, not corpus volume)
    val deleted = dupOcc
      .select(col(idCol), explode(sequence(col("_pos"), col("_pos") + lit(k - 1))).as("_pos"))
    val rebuilt = toks
      .join(deleted, Seq(idCol, "_pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("_pos"), col("_tok")))).as("_sorted"))
      // GetArrayStructFields, not transform(...): stays codegen'd
      .select(col(idCol), concat_ws(" ", col("_sorted").getField("_tok")).as("_rebuilt"))
    df.join(rebuilt, Seq(idCol), "left")
      .select(df.columns.filter(c => c != textCol && c != out).map(col) :+
        coalesce(col("_rebuilt"), lit("")).as(out): _*)
  }
}
