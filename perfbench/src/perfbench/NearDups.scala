package perfbench

import scala.util.Random

import graft.ops.{Dedup, StorageHandle}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Workloads.{median, _}

/** Near-duplicate detection over a generated corpus with the measured shape
  * of the repository's `sf0.1/documents.parquet` fixture (see the README):
  * the SimHash census, census-routed candidates, MinHash signatures and
  * pairs, exact-Jaccard verification, duplicate clusters and one
  * representative per cluster. The survey engine stays idle.
  */
final class NearDups(env: Env) extends Workload {
  import env.spark
  /** Documents of 10–100 words, uniformly, each word drawn uniformly from
    * the fixture's 30-word vocabulary.
    */
  val originals = 4750
  /** Copies of distinct originals with the word `dup` appended, as in the
    * fixture (5 % of its 5000 documents). They take the ids after the
    * originals, so the expected pairs, clusters and representatives are
    * known up front.
    */
  val planted = 250
  val documents: Int = originals + planted
  val words: IndexedSeq[String] = ("a agg batch big column customer data fast filter group hash join " +
    "key line merge order part query row scan slow small sort spark stream table the value vector " +
    "window").split(' ').toIndexedSeq

  private var docs: DataFrame = _
  /** copy id -> original id */
  private var copies: Map[Long, Long] = _
  private var handle = StorageHandle()
  private var route = ""
  private var candidates, verified = 0L
  private var pairs, verifiedPairs, clusters: DataFrame = _

  def setup(dir: String): Unit = {
    val rnd = new Random(env.seed)
    val texts = Array.fill(originals)(Seq.fill(10 + rnd.nextInt(91))(words(rnd.nextInt(words.size))))
    val sources = rnd.shuffle(texts.indices.toVector).take(planted)
    copies = sources.zipWithIndex.map { case (o, i) => (originals + i).toLong -> o.toLong }.toMap
    val rows = (texts.map(_.mkString(" ")) ++ sources.map(o => texts(o).mkString(" ") + " dup"))
      .zipWithIndex.map { case (text, id) => Row(id.toLong, text, "en", s"src${id % 20}", text.length.toLong) }
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    docs = spark.read.parquet(s"$dir/documents.parquet")
  }

  /** copy id -> original id, for the copies whose SimHash lies within 7 bits
    * of their original's: the pairs `nearDupsAuto`'s 8-band route
    * guarantees to find in this regime (see `Dedup.simHashCandidates`);
    * farther pairs it may drop. The hashes come from the program's SimHash
    * kernel, so this checks the candidate generation, not the hash.
    */
  private var guaranteed: Map[Long, Long] = _

  override def prepareChecks(): Unit = {
    val h = Dedup.simHashes(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    guaranteed = copies.filter { case (c, o) => java.lang.Long.bitCount(h(c) ^ h(o)) <= 7 }
  }

  /** Pairs of `among` in the result, in either order. */
  private def found(among: Map[Long, Long]): Column = {
    val m = typedlit(among)
    sum(when(element_at(m, col("id_b")) === col("id_a") || element_at(m, col("id_a")) === col("id_b"), 1)
      .otherwise(0)).as("planted")
  }

  private def allPlanted(obs: Map[String, Any]): Unit =
    expectEq("planted copies found", num(obs, "planted").toLong, planted.toLong)

  private val rows = Seq(count(lit(1)).as("rows"))

  def ops: Seq[Op] = Seq(
    Op("simhash_census", "ops.dedup.census",
      () => Dedup.simHashBucketCensus(docs),
      Seq(sum(col("_n")).as("banded")),
      // every document lands in one bucket of each of the 4 bands
      obs => expectEq("banded rows", num(obs, "banded").toLong, 4L * documents)),
    Op("near_dups_auto", "ops.dedup.candidates",
      () => { val (r, c) = Dedup.nearDupsAuto(docs, handle = handle); route = r; c },
      rows :+ found(guaranteed),
      obs => expectEq("planted copies within 7 bits found", num(obs, "planted").toLong, guaranteed.size.toLong)),
    Op("simhash_signatures", "ops.dedup.signatures",
      () => Dedup.simHashes(docs),
      rows, obs => expectEq("simhashes", num(obs, "rows").toLong, documents.toLong)),
    Op("shingle_hashes", "ops.dedup.signatures",
      () => docs.select(col("doc_id"), Dedup.shingleHashes(col("text")).as("sh")),
      rows :+ count(when(size(col("sh")) < 1, 1)).as("empty"),
      obs => {
        expectEq("shingled documents", num(obs, "rows").toLong, documents.toLong)
        expectEq("documents without shingles", num(obs, "empty").toLong, 0L)
      }),
    Op("minhash_signatures", "ops.dedup.signatures",
      () => Dedup.minHashSignatures(docs),
      rows, obs => expectEq("signatures", num(obs, "rows").toLong, documents.toLong)),
    Op("minhash_pairs", "ops.dedup.candidates",
      () => Dedup.minHashPairs(docs, handle = handle),
      rows :+ found(copies),
      obs => { candidates = num(obs, "rows").toLong; allPlanted(obs) }, pairs = _),
    Op("exact_verify", "ops.dedup.verify",
      () => {
        val sh = docs.select(col("doc_id"), Dedup.shingleHashes(col("text")).as("sh"))
        pairs
          .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
          .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
          .select(col("id_a"), col("id_b"), Dedup.jaccardHashes(col("sh_a"), col("sh_b")).as("jaccard"))
          .where(col("jaccard") >= 0.8)
      },
      rows :+ found(copies),
      // the planted pairs and nothing else: random documents of 10 or more
      // words over 30 words do not come near a Jaccard of 0.8
      obs => {
        verified = num(obs, "rows").toLong
        allPlanted(obs)
        expectEq("verified pairs", verified, planted.toLong)
      },
      verifiedPairs = _),
    Op("duplicate_clusters", "ops.dedup.clusters",
      () => Dedup.duplicateClusters(docs.select("doc_id"), verifiedPairs.select("id_a", "id_b"),
        handle = handle),
      check = _ => {
        val label = clusters.collect().map(r => r.getLong(0) -> r.getLong(1))
        expectEq("cluster rows", label.length, documents)
        val byId = label.toMap
        expectEq("clustered documents", byId.size, documents)
        // every copy joins its original and nothing else merges
        expectEq("clusters", byId.values.toSet.size, originals)
        for ((c, o) <- copies) expectEq(s"cluster of copy $c", byId.get(c), byId.get(o))
      },
      keep = clusters = _),
    Op("keep_representatives", "ops.dedup.representatives",
      () => Dedup.keepRepresentatives(docs, verifiedPairs),
      Seq(count(lit(1)).as("rows"), sum(when(col("doc_id") < originals, col("doc_id"))).as("ids")),
      // exactly the originals: each verified pair drops its copy
      obs => {
        expectEq("documents kept", num(obs, "rows").toLong, originals.toLong)
        expectEq("sum of kept original ids", num(obs, "ids").toLong, originals.toLong * (originals - 1) / 2)
      }),
  )

  override def endPass(): Unit = {
    handle.release()
    handle = StorageHandle()
  }

  /** Rows per second per core of one kernel over a persisted input: the
    * median of three timed `noop` writes.
    */
  private def perCore(rows: Long, df: => DataFrame): Double =
    rows / median(Seq.fill(3)(timeS(noop(df))._2)) / env.cores

  override def traceExtras(t: Tracer): Map[String, Double] = {
    // the corpus ten times over, so that each kernel call runs long enough
    // to time
    val texts = (1 to 10).map(_ => docs.select("text")).reduce(_ union _).persist()
    val n = texts.count()
    val sh = texts.select(Dedup.shingleHashes(col("text")).as("a"))
      .select(col("a"), col("a").as("b")).persist()
    sh.count()
    val rates = Map(
      "plans.minhash_rows_per_s" ->
        perCore(n, texts.select(call_function("minhash_text", col("text"), lit(64), lit(3)))),
      "plans.simhash_rows_per_s" -> perCore(n, texts.select(call_function("simhash_text", col("text")))),
      "plans.shingle_rows_per_s" -> perCore(n, texts.select(Dedup.shingleHashes(col("text")))),
      "plans.jaccard_pairs_per_s" -> perCore(n, sh.select(Dedup.jaccardHashes(col("a"), col("b")))),
    )
    texts.unpersist()
    sh.unpersist()
    rates ++ Map(
      "ops.dedup.route" -> (if (route == "simhash") 1.0 else 2.0),
      "ops.dedup.candidates" -> candidates.toDouble,
      "ops.dedup.verified_pairs" -> verified.toDouble,
      "ops.dedup.useful_ratio" -> verified.toDouble / math.max(1L, candidates),
    )
  }
}
