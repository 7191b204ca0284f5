package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import Dedup._

  private def docs() = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the old river bank " +
      "while birds sing in the tall green trees beside the quiet water"
    val nearDup = base.replace("quick", "fast") // one-token mutation
    val other = "completely different content about database engines and query " +
      "optimization with columnar storage formats and vectorized execution models"
    Seq(
      (1L, base), (2L, nearDup), (3L, other), (4L, base), // 4 = exact dup of 1
    ).toDF("doc_id", "text")
  }

  test("exact dedup groups identical normalized content") {
    val d = TextOps.exactDedup(docs())
    val byId = d.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_count")).toMap
    assert(byId(1L) == 2L) // docs 1 and 4 collapse, min id kept
    assert(d.count() == 3)
  }

  test("minhash LSH finds planted near-duplicate pair") {
    val pairs = minHashPairs(docs(), numHashes = 64, bands = 16)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("est_jaccard")).toMap
    assert(pairs.contains((1L, 2L)), s"near-dup pair missing from $pairs")
    assert(pairs((1L, 2L)) > 0.5)
    assert(pairs.contains((1L, 4L)) && pairs((1L, 4L)) == 1.0)
    assert(!pairs.keySet.exists { case (a, b) => b == 3L || a == 3L })
  }

  test("minhash signatures are deterministic across runs") {
    val s1 = minHashSignatures(docs()).collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getSeq[Long](1)).toMap
    val s2 = minHashSignatures(docs()).collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getSeq[Long](1)).toMap
    assert(s1 == s2)
    assert(s1(1L) == s1(4L)) // identical docs, identical signatures
  }

  test("simhash: identical docs distance 0, near-dups close, unrelated far") {
    val sh = simHashes(docs()).collect().map(r => r.getAs[Long]("doc_id") -> r.getLong(1)).toMap
    assert(sh(1L) == sh(4L))
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(2L)) < 16)
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(3L)) > 16)
  }

  test("simhash candidates include the near-dup pair") {
    val c = simHashCandidates(docs(), maxDistance = 16).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(c.contains((1L, 2L)))
    assert(c.contains((1L, 4L)))
  }

  test("simhash banding pigeonhole: candidates cover ALL pairs within distance bands-1") {
    import spark.implicits._
    // random-ish corpus: brute-force every pair's Hamming distance and
    // assert the uncapped banded candidate set is exactly the pairs
    // within the guaranteed bound (bands-1) that share a band, for both
    // 4x16 and 8x8 configurations
    val corpus = (1 to 60).map(i =>
      (i.toLong, s"shared base text ${"word " * (i % 7)} plus variant token$i and tail ${i % 5}"))
      .toDF("doc_id", "text")
    val sh = simHashes(corpus).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val allPairs = for {
      a <- sh.keys.toSeq; b <- sh.keys.toSeq if a < b
    } yield (a, b, java.lang.Long.bitCount(sh(a) ^ sh(b)))
    for (bands <- Seq(4, 8)) {
      val bound = bands - 1
      val width = 64 / bands
      def shareBand(a: Long, b: Long) = (0 until bands).exists(q =>
        ((sh(a) ^ sh(b)) >>> (q * width) & ((1L << width) - 1)) == 0)
      val expected = allPairs.collect { case (a, b, d) if d <= bound && shareBand(a, b) => (a, b) }
      val got = simHashCandidates(corpus, maxDistance = bound, bands = bands)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got.sorted == expected.sorted,
        s"bands=$bands missed ${expected.diff(got)}, extra ${got.diff(expected)}")
    }
  }

  test("hot-bucket cap: all-identical corpus yields a linear star, not a quadratic bucket") {
    import spark.implicits._
    // 300 identical docs put ALL rows in one (band,key) bucket per band;
    // uncapped that is a 300²/2-pair self-join per band. With the cap the
    // oversized buckets are excluded from the pairwise join and recovered
    // by the full-hash star pass: exactly n-1 pairs, every doc linked to
    // the min id — downstream keepRepresentatives / duplicateClusters
    // still collapse the whole group.
    val same = "tuesday report all systems nominal and no anomalies were observed overnight"
    val distinct1 = "the quick brown fox jumps over the lazy dog near the river bank today"
    val distinct2 = distinct1.replace("quick", "fast")
    val corpus = ((1 to 300).map(i => (i.toLong, same)) ++
      Seq((900L, distinct1), (901L, distinct2))).toDF("doc_id", "text")
    val window = 8
    val out = simHashCandidates(corpus, maxDistance = 63, bands = 8, maxBucketSize = 50,
      neighborWindow = window)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Int]("hamming")))
    // the star links EVERY identical doc to the min id at hamming 0
    val stars = out.filter { case (a, b, _) => a == 1L && b <= 300L }
    assert(stars.length == 299, s"expected 299 star links, got ${stars.length}")
    assert(stars.forall(_._3 == 0), "star links must be hamming 0")
    // the distinct near-dup pair lives in small buckets and is still found pairwise
    assert(out.exists { case (a, b, _) => a == 900L && b == 901L },
      s"near-dup pair lost to the cap: ${out.length} pairs")
    // nothing quadratic leaked through: star (n-1) + sorted-neighbor
    // (≤ n·window) + the pairwise pair — linear in n, NOT 300²/2 = 44850
    assert(out.length <= 299 + 302 * window + 1,
      s"cap failed to bound the join: ${out.length} pairs")
  }

  test("hot-bucket sorted-neighbor pass recovers a hamming 1..k pair the cap would sacrifice") {
    import spark.implicits._
    // 300 identical docs make every one of their 8 (band,key) buckets hot
    // (> cap). A near-variant doc shares the hot buckets on its unchanged
    // bands and is ALONE in its others — so the capped pairwise join can
    // never see it, and the full-hash star skips it (different hash).
    // Only the sorted-neighbor pass inside the hot buckets can link it.
    val same = "tuesday report all systems nominal and no anomalies were observed overnight"
    val variant = same + " almost"
    val corpus = ((1 to 300).map(i => (i.toLong, same)) :+ (500L, variant))
      .toDF("doc_id", "text")
    // deterministic kernel -> the variant's hamming distance is a fixed
    // property of the two texts; measure it rather than hardcode
    val hashes = simHashes(corpus).where(col("doc_id").isin(1L, 500L))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("_sh")).toMap
    val h = java.lang.Long.bitCount(hashes(1L) ^ hashes(500L))
    assert(h >= 1, "variant text must not simhash-collide for this test to bite")
    val out = simHashCandidates(corpus, maxDistance = h, bands = 8, maxBucketSize = 50,
      neighborWindow = 4)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Int]("hamming")))
    val variantPairs = out.filter { case (a, b, _) => a == 500L || b == 500L }
    assert(variantPairs.nonEmpty, s"hamming-$h pair inside the hot bucket was sacrificed")
    assert(variantPairs.forall(_._3 == h), s"recovered pair must carry hamming $h")
  }

  test("plan shape: capped simHashCandidates with the sub-band pass, and minHashPairs") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    // cached frames of earlier tests would change which scans read a cache
    spark.catalog.clearCache()
    // 20 copies make cap-adjacent buckets (5 < 20 <= 8·5), 60 copies hot
    // buckets past 8·cap, and the distinct documents cool ones
    val warm = "weekly status report all services healthy and no incidents logged"
    val hot = "tuesday report all systems nominal and no anomalies were observed overnight"
    val corpus = ((1 to 20).map(i => (i.toLong, warm)) ++
      (101 to 160).map(i => (i.toLong, hot)) ++
      (201 to 230).map(i => (i.toLong, s"distinct document $i about topic ${i * 7} and more"))
    ).toDF("doc_id", "text")
    val sizes = simHashBucketCensus(corpus, bands = 8).collect().map(_.getLong(2))
    assert(sizes.contains(20L) && sizes.contains(60L) && sizes.exists(_ <= 5L),
      s"corpus lacks a bucket regime: ${sizes.sorted.toSeq}")
    def shape(df: DataFrame): Map[String, Int] = {
      val nodes = planNodes(df)
      Map(
        "exchange" -> nodes.count(_.isInstanceOf[ShuffleExchangeExec]),
        "join" -> nodes.count(_.isInstanceOf[BaseJoinExec]),
        "window" -> nodes.count(_.isInstanceOf[WindowExec]),
        "generate" -> nodes.count(_.isInstanceOf[GenerateExec]),
        "cacheScan" -> nodes.count(_.isInstanceOf[InMemoryTableScanExec]))
    }
    val simhash = shape(simHashCandidates(corpus, maxDistance = 3, bands = 8, maxBucketSize = 5))
    val minhash = shape(minHashPairs(corpus))
    info(s"simHashCandidates: $simhash; minHashPairs: $minhash")
    // planNodes re-walks a persisted plan under every scan of it, so
    // nodes inside shared persisted passes count once per scan. SimHash:
    // the banded cache (its scatter exchange) read by the cool and hot
    // kernel passes, one (band, key) exchange per pass (the second is
    // reused at run time) and the hot pairs' distinct — no join, no window
    assert(simhash == Map("exchange" -> 5, "join" -> 0, "window" -> 0, "generate" -> 2,
      "cacheScan" -> 2), s"simHashCandidates plan shape moved: $simhash")
    assert(simhash("window") == 0, "the SimHash path must not plan a WindowExec")
    assert(minhash == Map("exchange" -> 19, "join" -> 9, "window" -> 0, "generate" -> 10,
      "cacheScan" -> 19), s"minHashPairs plan shape moved: $minhash")
  }

  test("keepRepresentatives drops near-dup copies, keeps first") {
    val pairs = minHashPairs(docs(), numHashes = 64, bands = 16)
      .where(col("est_jaccard") > 0.5).select("id_a", "id_b")
    val kept = keepRepresentatives(docs(), pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(1L) && kept.contains(3L))
    assert(!kept.contains(2L) && !kept.contains(4L))
  }

  test("duplicate clusters: chains collapse to the minimum id exactly") {
    import spark.implicits._
    // components: {1,2,3,4} via chain 1-2, 2-3, 3-4; {10,11}; singleton 20
    val ids = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val clusters = Dedup.duplicateClusters(ids, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("duplicate clusters: diameter far beyond the round count still labels exactly") {
    import spark.implicits._
    // a path graph of diameter 40 (0-1-2-...-40) — the shape that breaks
    // O(diameter) neighbor-min propagation capped at ~10 rounds; the
    // large-star/small-star alternation must collapse it in O(log² n)
    // rounds to the single minimum. Ids are presented in reversed pair
    // order so no accident of initial orientation can shortcut the test.
    val n = 40
    val ids = (0 to n).map(_.toLong).toDF("doc_id")
    val pairs = (0 until n).map(i => ((i + 1).toLong, i.toLong)).toDF("id_a", "id_b")
    val clusters = Dedup.duplicateClusters(ids, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.size == n + 1)
    assert(clusters.values.forall(_ == 0L),
      s"every node of the path must label 0, got: ${clusters.filter(_._2 != 0L)}")
  }

  test("hot-bucket cap on a random corpus: no false pairs; hamming-0 components preserved") {
    import spark.implicits._
    // tiny vocabulary => many identical/near-identical docs => hot
    // (band, key) buckets well past the cap, exercising the star +
    // sorted-neighbor recovery passes on arbitrary data
    val rnd = new scala.util.Random(424242)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")
    val docs = (0 until 80).map { i =>
      val n = 3 + rnd.nextInt(4)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }.toDF("doc_id", "text")
    def run(cap: Int) = Dedup.simHashCandidates(docs, maxDistance = 3, bands = 4,
      maxBucketSize = cap, neighborWindow = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = run(0)
    val capped = run(5)
    // the cap may SACRIFICE distant pairs but must never invent one
    assert(capped.subsetOf(exact),
      s"capped emitted pairs outside exact semantics: ${capped.diff(exact)}")
    // hamming-0 recall contract: star links close transitively, so the
    // capped distance-0 edge set must induce EXACTLY the equal-hash
    // components the exact run induces
    def components(ps: Set[(Long, Long, Int)]): Map[Long, Long] = {
      val parent = Array.tabulate(80)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      ps.filter(_._3 == 0).foreach { case (a, b, _) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      (0 until 80).map(i => i.toLong -> find(i).toLong).toMap
    }
    assert(components(capped) == components(exact))
  }

  test("duplicate clusters: random graph matches a union-find oracle") {
    import spark.implicits._
    // arbitrary topology (cycles, stars, chains, isolated nodes mixed) —
    // fixed seed for reproducibility; the oracle is driver-side
    // union-find with union-by-min, whose roots are exactly the
    // component minima the distributed labeling must produce
    val rnd = new scala.util.Random(12345)
    val n = 300
    val edges = Seq.fill(400)((rnd.nextInt(n), rnd.nextInt(n))).filter(p => p._1 != p._2)
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val ids = (0 until n).map(_.toLong).toDF("doc_id")
    val pairs = edges.map { case (a, b) => (a.toLong, b.toLong) }.toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(ids, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    assert(got == expected)
  }

  test("duplicate clusters: managed handle releases the star-forest cache") {
    import spark.implicits._
    // earlier tests run unmanaged pipelines whose caches are session-
    // lifetime BY DESIGN; drop them so the emptiness assertion below
    // sees only what THIS test's handle pinned
    spark.catalog.clearCache()
    val ids = Seq(1L, 2L, 3L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val handle = StorageHandle()
    val out = Dedup.duplicateClusters(ids, pairs, handle = handle).collect()
    assert(out.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    handle.release(blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "release() must drop every cached frame the clustering pinned")
  }

  test("paragraph dedup: first occurrence wins, blanks exempt, empty docs drop out") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha\n\nshared footer"),
      (2L, "beta\nshared footer\n\nbeta"),   // footer dup'd from doc 1; 2nd "beta" dups its own 1st
      (3L, "alpha"),                          // fully duplicated -> drops out
      (4L, " \ngamma"),                       // blank-ish paragraph kept even though doc 1 had a blank
    ).toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(df).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(
      1L -> "alpha\n\nshared footer",
      2L -> "beta\n",                          // trailing blank survives, dup'd footer + repeat beta gone
      4L -> " \ngamma",
    ), s"got $out")
  }

  test("frequent-line removal: df > maxDf drops ALL copies, boundary survives, blanks exempt") {
    import spark.implicits._
    // "boiler" appears in 3 distinct docs (doc 2 twice — still df 3);
    // "edge" in exactly 2; "  boiler  " trims to the frequent key.
    val df = Seq(
      (1L, "alpha\nboiler\nedge"),
      (2L, "boiler\nbeta\nboiler"),
      (3L, "  boiler  \n\ngamma"),
      (4L, "edge\ndelta"),
      (5L, "boiler"),                 // only-boilerplate doc -> vanishes
    ).toDF("doc_id", "text")
    val out = Dedup.removeFrequentLines(df, maxDf = 2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(
      1L -> "alpha\nedge",            // edge df=2 = maxDf -> survives (strict >)
      2L -> "beta",
      3L -> "\ngamma",                // blank kept; trimmed-match drops the padded copy
      4L -> "edge\ndelta",
    ), s"got $out")
  }

  test("frequent-line removal differs from first-occurrence dedup on the first copy") {
    import spark.implicits._
    val df = Seq((1L, "footer\na"), (2L, "footer\nb"), (3L, "footer\nc"))
      .toDF("doc_id", "text")
    val freq = Dedup.removeFrequentLines(df, maxDf = 2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val first = Dedup.dedupParagraphs(df).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(freq == Map(1L -> "a", 2L -> "b", 3L -> "c"), s"got $freq")
    assert(first(1L) == "footer\na", s"got $first") // first copy survives there
  }

  test("exact ngram jaccard verifies candidates") {
    import spark.implicits._
    val df = docs().as("a").join(docs().as("b"),
      col("a.doc_id") === 1 && col("b.doc_id") === 2)
      .select(ngramJaccard(col("a.text"), col("b.text")).as("j"))
    val j = df.collect()(0).getDouble(0)
    assert(j > 0.7 && j < 1.0)
  }

  test("pairJaccard: set Jaccard of the shingle arrays per listed pair; only participants are shingled") {
    import spark.implicits._
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    // earlier tests leave session-lifetime caches; the count below reads
    // only this test's
    spark.catalog.clearCache()
    val rnd = new scala.util.Random(13)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta", "iota")
    val corpus = (1 to 40).map { i =>
      (i.toLong, Seq.fill(2 + rnd.nextInt(12))(words(rnd.nextInt(words.size))).mkString(" "))
    }.toDF("doc_id", "text")
    // (1, 2) listed twice; doc 100 is not in the corpus; docs 13..39 are
    // in no pair
    val listed = Seq((1L, 2L), (1L, 2L), (3L, 7L), (5L, 9L), (2L, 9L), (10L, 11L),
      (12L, 40L), (7L, 100L)) ++ (1 to 20).map(_ => (1L + rnd.nextInt(12), 1L + rnd.nextInt(12)))
    val shingles = corpus.select(col("doc_id"), shingleHashes(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val expected = listed.filter { case (a, b) => shingles.contains(a) && shingles.contains(b) }
      .map { case (a, b) =>
        val (x, y) = (shingles(a), shingles(b))
        (a, b, (x & y).size.toDouble / (x | y).size)
      }.sorted
    val out = pairJaccard(corpus, listed.toDF("id_a", "id_b"))
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(got == expected)
    // the shingle cache, counted as it filled: one row per distinct
    // participant in the corpus, not one per corpus document
    val cachedRows = out.queryExecution.withCachedData
      .collect { case r: InMemoryRelation if r.output.exists(_.name.startsWith("_f")) => r.cacheBuilder }
      .distinct
      .filter(_.isCachedColumnBuffersLoaded)
      .map(_.rowCountStats.value)
    val participants = listed.flatMap { case (a, b) => Seq(a, b) }.toSet.filter(shingles.contains)
    assert(cachedRows == Seq(participants.size.toLong), s"shingle cache rows $cachedRows")
    assert(participants.size < shingles.size)
    // a managed handle owns every cache the operator pinned
    spark.catalog.clearCache()
    val handle = StorageHandle()
    assert(pairJaccard(corpus, listed.toDF("id_a", "id_b"), handle = handle).count() == expected.size)
    handle.release(blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty, "release() must drop the pair and shingle caches")
  }

  test("no main source but ops/Dedup.scala scores Jaccard") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import scala.util.Using
    val main = Paths.get(sys.props("user.dir"), "src", "main")
    val files = Using.resource(Files.walk(main))(_.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toList)
    val home = main.resolve("scala/graft/ops/Dedup.scala")
    assert(files.contains(home), s"$home not found under $main")
    // a call of the Column helper or of the SQL function; the function's
    // registration row in GraftExtensions names it without calling it
    val call = """jaccardHashes\s*\(|jaccard_hashes\s*\(|call_function\(\s*"jaccard_hashes"""".r
    val offenders = files.filter(p => p != home && call.findFirstIn(Files.readString(p)).isDefined)
    assert(offenders.isEmpty, s"verify pairs with Dedup.pairJaccard instead: ${offenders.mkString(", ")}")
  }

  test("near-dup auto-routing: cool corpus routes simhash, saturated routes minhash") {
    import spark.implicits._
    // cool: 4 docs — every census bucket is tiny at any positive cap
    val (coolRoute, coolCands) = nearDupsAuto(docs(), maxBucketSize = 10)
    assert(coolRoute == "simhash")
    val coolPairs = coolCands.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(coolPairs.contains((1L, 4L)), s"exact-dup pair missing from $coolPairs")
    // saturated by DENSITY: 3000 distinct docs spread over the 2048
    // (band, key) buckets put the mean bucket at 3000·8/2048 ≈ 11.7,
    // and max ≥ mean > 8 = 8·cap at cap = 1 — the pigeonhole makes the
    // verdict deterministic, no tuning
    val sat = (1 to 3000).map(i => (i.toLong, s"token$i alpha beta gamma delta sample text $i"))
      .toDF("doc_id", "text")
    assert(nearDupsAutoDetail(sat, maxBucketSize = 1)._1 == "minhash")
    // the threshold is the sub-band regime bound (8·cap), derived not
    // tuned: the same corpus under a cap that absorbs its buckets is cool
    assert(nearDupsAutoDetail(sat, maxBucketSize = 3000)._1 == "simhash")
  }
}
