package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, LongType}

/** Dev tool: deterministic N× inflation of a testdata SF dir (default
  * sf0.1 → ~sf1) into a repo-local dir, for the scale-cliff probe
  * recorded in SCALE.md. NOT a correctness-gate input — gates run only
  * on the driver's official fixtures.
  *
  * Inflation preserves the properties the bench queries rely on:
  *  - referential integrity: every key column shifts by replica·STRIDE,
  *    so joins (orders↔customer, lineitem↔part/supplier/orders) stay
  *    within-replica consistent and fan-out is unchanged;
  *  - STRIDE is divisible by 25 so `user_id % 25` nation enrichment
  *    keeps its distribution;
  *  - event time-series density: user_id shifts, ts stays — 10× users
  *    over the same 30 days, sessions-per-user unchanged;
  *  - text-dedup structure: replica tokens get a per-replica suffix, so
  *    shingle sets are disjoint ACROSS replicas (no artificial 10-doc
  *    near-dup cliques) while planted near-dup structure survives
  *    WITHIN each replica;
  *  - embedding geometry: one replica-dependent coordinate perturbation
  *    breaks exact cross-replica cosine ties while keeping the
  *    clustered layout.
  *
  * Usage: runMain graft.InflateSf [srcDir] [dstDir] [factor]
  */
object InflateSf {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("target/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val STRIDE = 100000000L // > any sf0.1 key; % 25 == 0

    val spark = GraftSession.local()

    def copy(name: String): Unit =
      spark.read.parquet(s"$src/$name.parquet")
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")

    def inflate(name: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      (0 until factor).map(i => f(base, i)).reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      val n = spark.read.parquet(s"$dst/$name.parquet").count()
      println(s"[inflate] $name -> $n rows")
    }

    def shift(c: String, i: Int): Column = (col(c) + lit(i * STRIDE)).cast(LongType)

    copy("region"); copy("nation")
    inflate("customer")((df, i) => df.withColumn("c_custkey", shift("c_custkey", i)))
    inflate("supplier")((df, i) => df.withColumn("s_suppkey", shift("s_suppkey", i)))
    inflate("part")((df, i) => df.withColumn("p_partkey", shift("p_partkey", i)))
    inflate("orders")((df, i) => df
      .withColumn("o_orderkey", shift("o_orderkey", i))
      .withColumn("o_custkey", shift("o_custkey", i)))
    inflate("lineitem")((df, i) => df
      .withColumn("l_orderkey", shift("l_orderkey", i))
      .withColumn("l_partkey", shift("l_partkey", i))
      .withColumn("l_suppkey", shift("l_suppkey", i)))
    inflate("events")((df, i) => df
      .withColumn("event_id", shift("event_id", i))
      .withColumn("user_id", shift("user_id", i)))
    inflate("documents")((df, i) =>
      if (i == 0) df
      else df
        .withColumn("doc_id", shift("doc_id", i))
        // replica AND doc-salted token suffix: the replica part keeps
        // shingle sets disjoint ACROSS replicas; the per-doc salt makes
        // texts unique WITHIN a replica, so the official corpus's natural
        // equal-text/equal-simhash pairs (e.g. (107, 387) at sf0.1) do
        // not replicate into id territory that the planted-pair gates'
        // isolation precondition reserves (>= 10000) — simhash_pairs
        // previously REFUSED the inflated corpus on exactly this
        // (SCALE.md round-12 notes). Planted near-dup structure is
        // unaffected: the gates plant copies at QUERY time from the
        // corpus they read, so copies stay exact. Replica 0 is the
        // official corpus verbatim, natural pairs intact.
        // salt modulus MUST exceed the max official doc id (~10k): a
        // modulus below it (9973 originally) leaves id pairs exactly
        // `modulus` apart salting identically, re-creating the refusal
        // class for any natural equal-text pair at that distance
        .withColumn("text", concat_ws(" ",
          transform(split(col("text"), "\\s+"),
            x => concat(x, lit(s"x$i"), pmod(col("doc_id"), lit(100003L))))))
        .withColumn("n_chars", length(col("text")).cast(LongType)))
    inflate("embeddings")((df, i) =>
      if (i == 0) df
      else df
        .withColumn("vec_id", shift("vec_id", i))
        // per-replica ORTHOGONAL transform: deterministically flip ~half
        // the coordinate signs (murmur3 of (replica, position)). Sign
        // flips preserve within-replica cosines EXACTLY — planted-pair
        // margins and the natural-noise ceiling survive verbatim — while
        // cross-replica cosines collapse toward 0. The previous
        // single-coordinate nudge left replica copies at cosine ~0.999,
        // planting 10-cliques of genuine near-dups that made the LSH
        // operating point's exact-recall precondition unsatisfiable at
        // 10x (ann_cosine_dedup sf1 mismatch; SCALE.md round-12 notes).
        .withColumn("embedding", transform(col("embedding"),
          (x, j) => when(pmod(hash(lit(i), j), lit(2)) === 0, -x).otherwise(x)
            .cast(FloatType))))

    spark.stop()
  }
}
