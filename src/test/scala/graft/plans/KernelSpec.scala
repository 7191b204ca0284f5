package graft.plans

import graft.SparkSpec
import graft.ops.{Ann, Dedup}
import org.apache.spark.sql.functions._

/** Edge cases for the native expression kernels (registered through
  * GraftExtensions).
  */
class KernelSpec extends SparkSpec {

  test("ngram jaccard kernel: identity, disjoint, empty, null") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox", "the quick brown fox"),
      (2L, "alpha beta gamma delta", "completely different words here"),
      (3L, "", "some words at all"),
      (4L, "", ""),
      (5L, null.asInstanceOf[String], "x y z"),
    ).toDF("id", "a", "b")
    val out = df.select(col("id"), Dedup.ngramJaccard(col("a"), col("b")).as("j"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(1L) == Some(1.0))
    assert(out(2L) == Some(0.0))
    assert(out(3L) == Some(0.0))
    assert(out(4L) == Some(1.0)) // both empty -> identical (empty) shingle sets
    assert(out(5L) == None) // null input -> null (nullIntolerant)
  }

  test("ngram jaccard kernel ignores case and punctuation like the column version") {
    import spark.implicits._
    val df = Seq((1L, "Hello, World! Again & again", "hello world again again")).toDF("id", "a", "b")
    val j = df.select(Dedup.ngramJaccard(col("a"), col("b"))).collect()(0).getDouble(0)
    assert(j == 1.0)
  }

  test("minhash/simhash kernels: null text yields null, empty text deterministic") {
    import spark.implicits._
    val df = Seq((1L, ""), (2L, "a b c d e")).toDF("doc_id", "text")
      .union(Seq((3L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val sigs = Dedup.minHashSignatures(df).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(sigs(1L).isDefined && sigs(2L).isDefined)
    assert(sigs(3L).isEmpty)
    val sh = Dedup.simHashes(df).collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(sh(3L).isEmpty)
  }

  test("vec_dot kernel: mixed float/double sides, empty arrays") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(2.0, 0.5, 1.0))).toDF("f", "d")
    val dot = df.select(Ann.dot(col("f"), col("d"))).collect()(0).getDouble(0)
    assert(dot == 1.0 * 2.0 + 2.0 * 0.5 + 3.0 * 1.0)
    val empty = Seq((Seq.empty[Float], Seq.empty[Float])).toDF("a", "b")
      .select(Ann.dot(col("a"), col("b"))).collect()(0).getDouble(0)
    assert(empty == 0.0)
  }

  /** `body` with the session confs `kv` set, restoring the previous
    * values afterwards. */
  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  // With fallback off a compile failure throws instead of silently
  // knocking the stage out of whole-stage codegen.
  private val strictCodegen = Seq(
    "spark.sql.codegen.fallback" -> "false",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
  private val interpretedOnly = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  test("every registered kernel compiles under strict codegen") {
    import spark.implicits._
    // Regression for the MODULE$ Janino bug: doGenCode must emit a call
    // the generated Java can compile (static forwarder on the companion
    // class).
    withConfs(strictCodegen: _*) {
      // repartition forces an exchange so the projection above it is
      // planned inside WholeStageCodegen (local relations get collapsed)
      // NB: count() would prune the kernel column and never run it —
      // aggregate over the computed value so the kernel must evaluate
      val docs = (1 to 20).map(i => (i.toLong, s"alpha beta gamma doc $i body"))
        .toDF("doc_id", "text").repartition(2)
      assert(Dedup.minHashSignatures(docs)
        .agg(count(xxhash64(col("_sig")))).collect()(0).getLong(0) == 20)
      assert(Dedup.simHashes(docs)
        .agg(count(col("_sh"))).collect()(0).getLong(0) == 20)
      assert(docs.select(Dedup.ngramJaccard(col("text"), col("text")).as("j"))
        .agg(sum(col("j"))).collect()(0).getDouble(0) == 20.0)
      val vecs = (1 to 20).map(i => (i.toLong, Seq(i.toFloat, 1.0f), Seq(1.0, i.toDouble)))
        .toDF("id", "f", "d").repartition(2)
      assert(vecs.select(Ann.dot(col("f"), col("d")).as("dot"))
        .agg(count(col("dot"))).collect()(0).getLong(0) == 20)
      val sh = call_function("shingle_hashes", col("text"), lit(3))
      assert(docs.select(sh.as("sh"))
        .agg(count(xxhash64(col("sh")))).collect()(0).getLong(0) == 20)
      assert(docs.select(call_function("jaccard_hashes", sh, sh).as("j"))
        .agg(sum(col("j"))).collect()(0).getDouble(0) == 20.0)
      // 6 tokens -> 4 shingles -> at least 2 windows of w = 2 selected
      assert(docs.select(size(call_function("winnow_text", col("text"), lit(3), lit(2))).as("n"))
        .agg(min(col("n"))).collect()(0).getInt(0) >= 2)
      // 6 tokens -> 5 windows of 2
      assert(docs.select(size(call_function("sliding_windows",
          split(col("text"), " "), lit(2), lit("_"))).as("n"))
        .agg(sum(col("n"))).collect()(0).getLong(0) == 100)
      // (i, 1) is nearer the x axis (label 7) from i = 2 on; (1, 1) ties
      // and goes to the higher label (9)
      val centroid = call_function("nearest_centroid", col("f"),
        array(lit(1.0), lit(0.0), lit(0.0), lit(1.0)), array(lit(7), lit(9)))
      assert(vecs.select(centroid.getField("id").as("c"))
        .agg(sum(col("c"))).collect()(0).getLong(0) == 19 * 7 + 9)
      // [0, 5) -> 0 for ids 1..4, [10, 15) -> 1 for ids 10..14, else null
      val range = call_function("range_set_search", col("doc_id"),
        array(lit(0L), lit(10L)), array(lit(5L), lit(15L)))
      assert(docs.select(range.as("r"))
        .agg(count(col("r")), sum(col("r"))).collect()(0).toSeq == Seq(9L, 5L))
    }
  }

  /** Rows of the kernel output pins. They cover upper case and ASCII
    * punctuation, multibyte UTF-8, the Kelvin sign (U+212A: its Unicode
    * lowercase is ASCII k, but the byte-level tokenizer keeps its three
    * bytes as token bytes), the empty string, a whitespace-only string,
    * and texts with fewer than, exactly and more than k = 3 tokens.
    * `b` is the partner text of the Jaccard column.
    */
  private val pinRows = Seq(
    (1, "The Quick, BROWN fox -- jumps over the lazy dog!!", "the quick brown fox jumps over a lazy dog"),
    (2, "\u00dcn\u00efc\u00f6d\u00e9 na\u00efve caf\u00e9: \u6587\u5b57 \u30c6\u30ad\u30b9\u30c8 \u00fcber",
      "\u00dcN\u00cfC\u00d6D\u00c9 NA\u00cfVE CAF\u00c9: \u6587\u5b57 \u30c6\u30ad\u30b9\u30c8 \u00dcBER"),
    (3, "300\u212a Kelvin \u212aelvin k", "300k kelvin kelvin k"),
    (4, "", ""),
    (5, " \t\n  ", ""),
    (6, "two Words", "TWO, words."),
    (7, "exactly three tokens", "exactly three tokens more"),
    (8, "a-b c.d e,f g;h", "a b c d e f g h i"),
  )

  /** id -> (simhash_text(a), xxhash64(minhash_text(a, 64, 3)),
    * xxhash64(shingle_hashes(a, 3)), size(shingle_hashes(a, 3)),
    * jaccard_hashes(shingle_hashes(a, 3), shingle_hashes(b, 3))).
    * Measured before the kernels shared one text-hash core (the Jaccard
    * column then through a per-pair text kernel); any change here
    * changes every stored signature. */
  private val pinned: Map[Int, (Long, Long, Long, Int, Double)] = Map(
    1 -> (5157910130007421081L, -1820110402592627152L, -267627422666032005L, 7, 0.4),
    2 -> (5631218898600577L, -5109123150871578928L, -3965786100782625471L, 4, 0.0),
    3 -> (6964052257409724416L, 1756858128985820250L, -4650595174687321435L, 2, 0.0),
    4 -> (0L, -5516179108782424059L, 1742940667637589801L, 1, 1.0),
    5 -> (0L, -5516179108782424059L, 1742940667637589801L, 1, 1.0),
    6 -> (2401544668859901993L, -5957424301399041747L, 3255380060503722432L, 1, 1.0),
    7 -> (8123663669692070786L, 855350762239965488L, -4285619448807537583L, 1, 0.5),
    8 -> (2405515004201141446L, 6915181451190034788L, 1463443723168829568L, 6, 0.8571428571428571),
  )

  test("kernel outputs are pinned bit-exact in the codegen and interpreted paths") {
    import spark.implicits._
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    for ((mode, confs) <- Seq("codegen" -> strictCodegen, "interpreted" -> interpretedOnly))
      withConfs(confs: _*) {
        // built inside the conf block: a Dataset plans once, on first use
        val out = pinRows.toDF("id", "a", "b").repartition(2).select(col("id"),
          call_function("simhash_text", col("a")),
          xxhash64(call_function("minhash_text", col("a"), lit(64), lit(3))),
          xxhash64(call_function("shingle_hashes", col("a"), lit(3))),
          size(call_function("shingle_hashes", col("a"), lit(3))),
          call_function("jaccard_hashes", call_function("shingle_hashes", col("a"), lit(3)),
            call_function("shingle_hashes", col("b"), lit(3))))
        val got = out.collect().map(r => r.getInt(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4), r.getDouble(5))).toMap
        assert(got == pinned, s"$mode path:\n${got.toSeq.sortBy(_._1).mkString("\n")}")
        // the final (post-AQE) plan: the kernels ran in generated code
        // exactly when the mode says so
        val ran = out.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec]
          .executedPlan match {
          case s: QueryStageExec => s.plan
          case p                 => p
        }
        assert(ran.exists(_.isInstanceOf[WholeStageCodegenExec]) == (mode == "codegen"), s"$mode path:\n$ran")
      }
  }

  test("shingle_hashes kernel agrees with ngram_jaccard's sets") {
    import spark.implicits._
    // |A∩B|/|A∪B| computed from the exploded hash arrays must equal the
    // pairwise kernel — same tokenizer, same rolling hash
    val a = "the quick brown fox jumps over the lazy dog"
    val b = "a quick brown fox jumps over a sleeping dog"
    val df = Seq((a, b)).toDF("a", "b")
    val j = df.select(Dedup.ngramJaccard(col("a"), col("b"))).collect()(0).getDouble(0)
    val Array(sa, sb) = df.select(
      call_function("shingle_hashes", col("a"), lit(3)),
      call_function("shingle_hashes", col("b"), lit(3))).collect()(0)
      .toSeq.map(_.asInstanceOf[scala.collection.Seq[Long]].toSet).toArray
    assert(j == (sa & sb).size.toDouble / (sa | sb).size)
    // arrays are distinct + sorted (deterministic dumps)
    val arr = df.select(call_function("shingle_hashes", col("a"), lit(3)))
      .collect()(0).getSeq[Long](0)
    assert(arr == arr.distinct.sorted)
  }

  test("kernels work in both codegen and interpreted paths") {
    import spark.implicits._
    // local relations exercise interpreted eval; a shuffled frame
    // exercises whole-stage codegen
    val docs = (1 to 50).map(i => (i.toLong, s"token$i shared words across docs number $i"))
      .toDF("doc_id", "text")
    val local = Dedup.minHashSignatures(docs).collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val shuffled = Dedup.minHashSignatures(docs.repartition(4)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(local == shuffled)
  }
}
