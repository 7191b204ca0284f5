package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, language-ID heuristics, quality scoring, document
  * fingerprinting, and exact deduplication. All are single-projection
  * Column expressions (whole-stage codegen, no UDFs) or one-shuffle hash
  * aggregates — every one of them scales linearly to 100 TB.
  */
object TextOps {

  /** Strip ALL leading/trailing whitespace. Spark's `trim` removes only
    * ASCII spaces (0x20); text edged with tabs/newlines would survive it
    * and `split` on \s+ (limit=-1) would then emit phantom empty edge
    * tokens. One regexp_replace stays in codegen.
    */
  private def trimWs(text: Column): Column =
    regexp_replace(text, "^\\s+|\\s+$", "")

  /** Whitespace tokenization as a Column (split on runs of whitespace,
    * dropping empty edge tokens so "a  b " -> ["a","b"]).
    *
    * Split of fully-TRIMMED text on \s+ can never produce empty tokens
    * except for the empty string, so the empty-filter is a cheap CASE,
    * not a higher-order `filter` lambda — HOFs have no doGenCode and
    * would knock the whole projection out of whole-stage codegen
    * (measured ~40× CPU on the text pre-filters at sf0.1). Repeated
    * `tokens(t)` subtrees in one projection are shared by codegen
    * subexpression elimination.
    */
  def tokens(text: Column): Column = {
    val t = trimWs(text)
    when(length(t) === 0, array().cast(ArrayType(StringType)))
      .otherwise(split(t, "\\s+"))
  }

  /** Token count without materializing the token array. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** A BPE-ish subword proxy: counts alternating letter/digit/punct runs —
    * cheap, deterministic, and a stable stand-in for tokenizer-cost
    * estimation at scale. Same trimmed-split shape as [[tokens]]: stays
    * in codegen (boundary lookarounds can't emit interior empties, and
    * trimming removes the edge ones).
    */
  def subwordCount(text: Column): Column = {
    val t = trimWs(text)
    when(length(t) === 0, lit(0))
      .otherwise(size(split(t, "(?<=[a-zA-Z])(?=[^a-zA-Z])|(?<=[0-9])(?=[^0-9])|\\s+")))
  }

  /** Core per-document statistics in one projection. */
  def textStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    // scatter (Dedup.scatter): per-row regex/tokenize work serializes
    // onto one task when the input has fewer partitions than cores (the
    // sf fixtures are one row group); no-ops at corpus scale
    Dedup.scatter(df).withColumn("n_chars_calc", length(t))
      .withColumn("n_tokens", size(toks))
      .withColumn("n_distinct_tokens", size(array_distinct(toks)))
      .withColumn("n_digits", length(t) - length(regexp_replace(t, "[0-9]", "")))
      .withColumn("n_punct", length(t) - length(regexp_replace(t, "[\\.,;:!\\?]", "")))
  }

  /** Language-ID by stopword-hit scoring: for each candidate language,
    * count distinct marker-word hits; argmax wins, ties broken by list
    * order, zero hits -> "und". One projection, no shuffle.
    */
  def languageId(
      text: Column,
      markers: Seq[(String, Seq[String])] = defaultMarkers,
  ): Column = {
    // Scores run over coalesce(text, "") so the expensive
    // tokenize/distinct/intersect subtrees sit inside `total` — the FIRST
    // CaseWhen condition, which codegen treats as always-evaluated and
    // therefore eligible for subexpression sharing with bestLang. A
    // leading `when(text.isNull, …)` guard instead pushes the scores into
    // conditional branches where they re-evaluate per language (measured
    // 5.6× at sf0.1).
    val toks = array_distinct(tokens(lower(coalesce(text, lit("")))))
    val scored = markers.map { case (lang, words) =>
      lang -> size(array_intersect(toks, array(words.map(lit): _*)))
    }
    // argmax with first-wins tie-break: fold keeping (bestLang, bestScore)
    val (bestLang, _) = scored.tail.foldLeft((lit(scored.head._1), scored.head._2)) {
      case ((bl, bs), (lang, s)) => (when(s > bs, lit(lang)).otherwise(bl), greatest(s, bs))
    }
    val total = scored.map(_._2).reduce(_ + _)
    // null text scores zero on every marker list, so it lands in the
    // total===0 branch, where nvl2 restores null-in/null-out (a non-null
    // text with no marker hits stays "und")
    when(total === 0, nvl2(text, lit("und"), lit(null).cast(StringType)))
      .otherwise(bestLang)
  }

  /** Tiny built-in stopword lists (public common words). */
  val defaultMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "es"),
    "fr" -> Seq("le", "la", "les", "et", "des", "est", "une", "dans"),
  )

  /** Quality score in [0,1] from length/punct/digit/diversity ratios —
    * the standard cheap pre-filter for web-scale corpora. Deterministic,
    * one projection.
    */
  def qualityScore(text: Column): Column = {
    val len = length(text).cast(DoubleType)
    val toks = tokens(text)
    val nToks = size(toks).cast(DoubleType)
    val diversity = when(nToks > 0, size(array_distinct(toks)) / nToks).otherwise(lit(0.0))
    val digitRatio = when(len > 0,
      (len - length(regexp_replace(text, "[0-9]", ""))) / len).otherwise(lit(0.0))
    val lengthScore = least(len / lit(500.0), lit(1.0))
    val meanTokLen = when(nToks > 0, len / nToks).otherwise(lit(0.0))
    val tokLenScore = when(meanTokLen >= 3 && meanTokLen <= 12, lit(1.0)).otherwise(lit(0.5))
    // 6-digit rounding via floor(x*1e6 + 0.5): pure double ops that any
    // engine evaluates bit-identically. Spark's round() goes through
    // BigDecimal on the value's DECIMAL string while DuckDB rounds the
    // scaled double — the two disagree on half-ties, and quality values
    // (sums of small ratios) land on such ties often enough that sf0.1
    // hit two. Scores are >= 0, so floor(+0.5) is exactly half-up.
    val raw = greatest(lit(0.0),
      lit(0.4) * lengthScore + lit(0.3) * diversity +
        lit(0.2) * tokLenScore - lit(0.3) * digitRatio)
    floor(raw * lit(1000000.0) + lit(0.5)).cast(DoubleType) / lit(1000000.0)
  }

  /** Content fingerprint: hash of the punctuation/whitespace/case
    * normalized text — robust exact-dup key (near-dup detection is
    * Dedup.minHash*).
    */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")))

  /** Exact deduplication: one hash aggregate over the fingerprint —
    * map-side partial agg, single shuffle on the hash key, no O(n²)
    * anywhere. Returns one row per distinct fingerprint with the minimal
    * id as the kept representative and the duplicate count.
    */
  def exactDedup(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    df.withColumn("_fp", fingerprint(col(textCol)))
      .groupBy("_fp")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))
      .withColumnRenamed("_fp", "fingerprint")

  /** The fingerprint/shingle text normalization as a token array:
    * lower-case, non-alphanumerics to spaces, whitespace-split. The
    * shared vocabulary view for corpus statistics ([[tfidfTopTerms]],
    * [[topNgrams]]).
    */
  private def normTokens(text: Column): Column =
    tokens(regexp_replace(lower(coalesce(text, lit(""))), "[^a-z0-9]+", " "))

  /** Per-document top-k terms by TF-IDF — the classic keyword-extraction
    * / document-representation primitive. For each document: term
    * frequency over normalized tokens; document frequency over the
    * corpus; idf = ln((N+1)/(df+1)) (always >= 0 since df <= N);
    * score = tf·idf. The top `k` terms per document by (score desc,
    * term asc) survive.
    *
    * Determinism across engines: idf is frozen to the half-up 6-decimal
    * grid (floor(ln·1e6 + 0.5) — an integer), so score_scaled = tf ·
    * idf_scaled is INTEGER arithmetic and ranking never depends on
    * float summation order; the exported score divides back to a
    * double at the end.
    *
    * Scale shape: explode → ONE map-combined hash aggregation on (doc,
    * term), then the document frequency as a `count(*) OVER (PARTITION
    * BY term)` window on the SAME tf rows (each (doc, term) row is one
    * distinct document containing the term, so the per-term row count
    * IS df — no second aggregation, no equi-join, no second read of the
    * exploded frame), then one row_number window bounded per document.
    * The corpus total N rides a broadcast single-row cross join (no
    * driver action, stays lazy). One scan of the corpus and three
    * exchanges ((doc,term) agg → term window → doc window) versus the
    * five (and two scans) of the aggregate-then-self-join formulation
    * this replaced. Nothing is ever all-pairs.
    */
  def tfidfTopTerms(
      df: DataFrame,
      k: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id",
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val termRows = df.select(col(idCol), explode(normTokens(col(textCol))).as("term"))
    val tf = termRows.groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val dfWin = Window.partitionBy("term")
    val n = df.select(count(lit(1)).as("_n"))
    val idfScaled = floor(
      log((col("_n") + 1.0) / (col("n_docs_with_term") + 1.0)) * 1e6 + 0.5).cast(LongType)
    val win = Window.partitionBy(idCol).orderBy(col("_score_scaled").desc, col("term").asc)
    tf.withColumn("n_docs_with_term", count(lit(1)).over(dfWin))
      .crossJoin(broadcast(n))
      .withColumn("_score_scaled", col("tf") * idfScaled)
      .withColumn("_rk", row_number().over(win))
      .where(col("_rk") <= k)
      .select(col(idCol), col("term"), col("tf"), col("n_docs_with_term"),
        (col("_score_scaled").cast(DoubleType) / 1e6).as("score"))
  }

  /** Corpus-level top-k word n-grams: the frequency table a tokenizer /
    * LM-data analysis pass starts from. N-grams are built per document
    * with window `lead`s over positionally-exploded normalized tokens
    * (the [[repetitionSignals]] shape: the shuffle is by document, state
    * bounded per document — no interpreted higher-order lambda in the
    * per-row path), then ONE map-combined hash aggregation counts each
    * n-gram corpus-wide. The result is top-k by (count desc, n-gram
    * asc) — a deterministic boundary, so the LIMIT is engine-stable.
    */
  def topNgrams(
      df: DataFrame,
      n: Int = 2,
      k: Int = 20,
      textCol: String = "text",
      idCol: String = "doc_id",
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1, "n >= 1")
    val tokRows = Dedup.scatter(df)
      .select(col(idCol), posexplode(normTokens(col(textCol))).as(Seq("_p", "_t")))
    val w = Window.partitionBy(idCol).orderBy(col("_p"))
    val parts = (0 until n).map(i => if (i == 0) col("_t") else lead(col("_t"), i).over(w))
    tokRows
      // window expressions must land in a projection before the filter
      // can reference them (no window calls inside WHERE)
      .select((col(idCol) +: parts.zipWithIndex.map { case (c, i) => c.as(s"_t$i") }): _*)
      // a short tail window (any lead null) must not emit a truncated n-gram
      .where((0 until n).map(i => col(s"_t$i").isNotNull).reduce(_ && _))
      .select(concat_ws(" ", (0 until n).map(i => col(s"_t$i")): _*).as("_ng"))
      .groupBy(col("_ng").as("ngram"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("ngram").asc)
      .limit(k)
  }

  /** Intra-document repetition signals (the Gopher-style quality
    * filters of Rae et al. 2021, §A1.1 — public):
    *
    *   - `dup_line_frac`: fraction of line characters inside lines that
    *     occur more than once in the document;
    *   - `top_bigram_frac`: fraction of document characters covered by
    *     occurrences of its most frequent word bigram (count × bigram
    *     length / text length; ties broken toward the lexicographically
    *     smallest bigram).
    *
    * Documents with no lines / fewer than two tokens score 0. Shapes at
    * scale: both signals are explode → map-combined hash aggregations
    * keyed by (doc, unit); the bigram build is a per-document window
    * lead over exploded tokens (partition = the document, so state is
    * doc-bounded), never a higher-order lambda in the hot path.
    */
  def repetitionSignals(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = coalesce(col(textCol), lit(""))
    val lineCounts = df
      .select(col(idCol), explode(split(t, "\n")).as("_line"))
      .groupBy(idCol, "_line").agg(count(lit(1)).as("_n"))
    val lineSig = lineCounts.groupBy(idCol).agg(
      sum(col("_n") * length(col("_line"))).as("_all"),
      sum(when(col("_n") > 1, col("_n") * length(col("_line"))).otherwise(lit(0L))).as("_dup"))
    val tokRows = df.select(col(idCol), length(t).as("_nc"),
        posexplode(tokens(t)).as(Seq("_p", "_t")))
    val w = Window.partitionBy(idCol).orderBy(col("_p"))
    val bigramCounts = tokRows
      .withColumn("_t2", lead(col("_t"), 1).over(w))
      .where(col("_t2").isNotNull)
      .select(col(idCol), col("_nc"), concat(col("_t"), lit(" "), col("_t2")).as("_bg"))
      .groupBy(idCol, "_nc", "_bg").agg(count(lit(1)).as("_n"))
    val topRank = Window.partitionBy(idCol).orderBy(col("_n").desc, col("_bg").asc)
    val topSig = bigramCounts
      .withColumn("_rk", row_number().over(topRank)).where(col("_rk") === 1)
      .select(col(idCol), col("_n").as("_topN"), col("_bg").as("_topBg"), col("_nc"))
    df.select(col(idCol))
      .join(lineSig, Seq(idCol), "left")
      .join(topSig, Seq(idCol), "left")
      .select(col(idCol),
        round(coalesce(col("_dup").cast(DoubleType) / nullif(col("_all"), lit(0L)), lit(0.0)), 6)
          .as("dup_line_frac"),
        round(coalesce((col("_topN") * length(col("_topBg"))).cast(DoubleType) /
          nullif(col("_nc"), lit(0)), lit(0.0)), 6).as("top_bigram_frac"))
  }

  // -------------------------------------------------------- winnowing

  /** Winnowing document fingerprints (the MOSS local-fingerprinting
    * algorithm, Schleimer–Wilkerson–Aiken SIGMOD'03). Every k-token
    * shingle gets an md5-prefix hash; a window of `w` consecutive
    * shingle hashes slides over the document and the MINIMUM hash of
    * each window (rightmost on ties — "robust winnowing") is selected.
    * The selected (position, hash) rows are the document's fingerprint
    * set: any two documents sharing a run of w + k - 1 tokens are
    * GUARANTEED to share a selected hash, at roughly 2/(w+1) the
    * density of the full shingle set — the rolling-hash fingerprint
    * primitive of source-plagiarism and training-corpus overlap
    * detection.
    *
    * Scale shape: posexplode → per-doc window lead (shingle assembly,
    * exactly [[topNgrams]]'s move) → ONE more bounded window pass
    * (`rowsBetween(current, w-1)`) whose `min(struct(hash, -pos))`
    * picks each window's rightmost-minimal shingle. All three window
    * specs share the (doc, pos) shuffle+sort, so the whole operator is
    * ONE exchange on the id; output density is a fixed fraction of
    * token count. The md5-prefix hash is the engine-portable decision
    * idiom ([[Curation.hashSample]]): fixed-width hex-string order ==
    * numeric order, so DuckDB replays the selection bit-identically.
    *
    * Docs with fewer than k tokens yield no fingerprints; docs with
    * fewer than w shingles yield exactly one window (the whole doc).
    *
    * PRECONDITION — `idCol` values must be distinct (one row per
    * document). The kernel fingerprints each ROW independently, while
    * [[winnowFingerprintsWindowed]] merges all rows sharing an id into
    * one token stream through its (doc_id, pos) partition — on
    * duplicate ids the two forms legitimately diverge, so the
    * bit-identical kernel≡windowed contract (TextOpsSpec) is stated,
    * and holds, only for distinct ids.
    */
  def winnowFingerprints(df: DataFrame, k: Int = 3, w: Int = 4,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(k >= 1 && w >= 1, s"shingle size and window must be positive (k=$k, w=$w)")
    // winnowing is document-local: the native kernel
    // (plans/WinnowText.scala) computes the whole selection per row, so
    // the corpus fingerprint pass is scan -> project -> explode with NO
    // exchange at all (the windowed sibling below pays a (doc, pos)
    // shuffle+sort only to route per-document state through posexplode).
    // Output rows are distinct by construction for distinct input ids.
    // Deliberately NOT scattered: the zero-exchange plan is this
    // operator's pinned contract (TextOpsSpec), and the round-18
    // measurement showed no gain from a repartition here.
    df.select(col(idCol),
        explode(call_function("winnow_text", col(textCol), lit(k), lit(w))).as("_sel"))
      .select(col(idCol), col("_sel.pos").as("pos"), col("_sel.fp").as("fp"))
  }

  /** The window-function formulation of [[winnowFingerprints]] — same
    * algorithm routed through posexplode + three (doc, pos) window specs
    * sharing one shuffle+sort. Kept as the independent in-engine
    * cross-check of the native kernel (TextOpsSpec asserts bit-identical
    * output on fixtures and hostile inputs); the kernel path is the
    * production default because it needs no exchange. Same distinct-id
    * precondition as [[winnowFingerprints]]: duplicate `idCol` values
    * are merged into one token stream here but fingerprinted per-row by
    * the kernel, so equivalence holds only for distinct ids.
    */
  def winnowFingerprintsWindowed(df: DataFrame, k: Int = 3, w: Int = 4,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(k >= 1 && w >= 1, s"shingle size and window must be positive (k=$k, w=$w)")
    import org.apache.spark.sql.expressions.Window
    val toks = Dedup.scatter(df)
      .select(col(idCol), posexplode(normTokens(col(textCol))).as(Seq("pos", "_t")))
    val byPos = Window.partitionBy(idCol).orderBy("pos")
    val gramParts = col("_t") +: (1 until k).map(j => lead(col("_t"), j).over(byPos))
    // the k-th token's lead marks incomplete edge shingles (concat_ws
    // would silently skip the null and emit a short gram)
    val grams = toks
      .withColumn("_gram", concat_ws(" ", gramParts: _*))
      .withColumn("_edge", if (k == 1) col("_t") else lead(col("_t"), k - 1).over(byPos))
      .where(col("_edge").isNotNull)
      .select(col(idCol), col("pos"), substring(md5(col("_gram")), 1, 16).as("fp"))
    // shingle positions stay consecutive 0..m-1 per doc, so the ROWS
    // frame below is exactly the w-shingle positional window
    val winSel = Window.partitionBy(idCol).orderBy("pos").rowsBetween(Window.currentRow, w - 1)
    val perDoc = Window.partitionBy(idCol)
    grams
      .withColumn("_m", count(lit(1)).over(perDoc))
      .withColumn("_sel", min(struct(col("fp"), (-col("pos")).as("np"))).over(winSel))
      .where(col("pos") <= greatest(col("_m") - w, lit(0)))
      .select(col(idCol), (-col("_sel.np")).as("pos"), col("_sel.fp").as("fp"))
      .distinct()
  }

  /** Fingerprint-overlap near-duplicates: document pairs sharing at
    * least `minShared` distinct winnowed fingerprints. Fingerprints
    * present in more than `maxDf` documents (ubiquitous boilerplate)
    * are dropped BEFORE the pair join — the same bucket-bounding move
    * as the SimHash hot-bucket cap — so the fp equi-join costs
    * O(Σ df²) with df ≤ maxDf, never O(n²). Unlike MinHash banding
    * (probabilistic recall) this path is exact w.r.t. its guarantee:
    * every pair sharing a w+k-1 token run surfaces.
    */
  def winnowNearDups(df: DataFrame, k: Int = 3, w: Int = 4, minShared: Int = 3,
      maxDf: Int = 20, textCol: String = "text", idCol: String = "doc_id",
      handle: StorageHandle = StorageHandle.unmanaged): DataFrame = {
    require(minShared >= 1 && maxDf >= 2, s"need minShared >= 1, maxDf >= 2 (got $minShared, $maxDf)")
    // persist the slim (id, fp) rows: they feed the df-count, and both
    // sides of the pair join — without the cache the 3-window
    // fingerprint pipeline re-runs once per consumer (measured 8 full
    // recomputations in the un-persisted plan)
    val sel = handle.persist(winnowIndex(df, k, w, textCol, idCol))
    val dfc = sel.groupBy("fp").agg(count(lit(1)).as("_ndocs"))
    val kept = sel.join(dfc.where(col("_ndocs") <= maxDf), Seq("fp"))
      .select(col("fp"), col(idCol))
    val a = kept.select(col("fp"), col(idCol).as("doc_a"))
    val b = kept.select(col("fp"), col(idCol).as("doc_b"))
    a.join(b, Seq("fp")).where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
  }

  /** The slim at-rest fingerprint index of a corpus: one (id, fp) row
    * per distinct selected winnowed fingerprint. THIS is what a 100 TB
    * pipeline persists next to the corpus — a few percent of the text
    * bytes — so that corpus growth never pays a rescan (see
    * [[incrementalNearDups]]).
    */
  def winnowIndex(df: DataFrame, k: Int = 3, w: Int = 4,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    winnowFingerprints(df, k, w, textCol, idCol)
      .select(col(idCol), col("fp")).distinct()

  /** Incremental near-dup detection: pairs between an INCREMENT of new
    * documents and a base corpus represented ONLY by its at-rest
    * [[winnowIndex]]. The base text is never read, never fingerprinted
    * again, never shuffled — fingerprinting cost is O(increment), and
    * the pair join moves slim (fp, id) rows on both sides. Run per
    * ingest batch, this maintains corpus-wide near-dup knowledge at
    * marginal cost; the same composition works with the index stored
    * bucketed by fp, which removes the index side's shuffle too.
    *
    * Semantics match the one-shot [[winnowNearDups]] exactly, restricted
    * to (base, increment) pairs: the df-cap counts a fingerprint's
    * documents across base ∪ increment (the union is of slim fp rows,
    * not text), so boilerplate that only becomes ubiquitous once the
    * increment lands is still capped.
    */
  def incrementalNearDups(
      increment: DataFrame,
      index: DataFrame,
      k: Int = 3, w: Int = 4, minShared: Int = 3, maxDf: Int = 20,
      textCol: String = "text", idCol: String = "doc_id",
      handle: StorageHandle = StorageHandle.unmanaged,
  ): DataFrame = {
    require(minShared >= 1 && maxDf >= 2, s"need minShared >= 1, maxDf >= 2 (got $minShared, $maxDf)")
    // the increment's fingerprints feed the df-count and the pair join;
    // persist so the fingerprint windows run once (same rationale as
    // winnowNearDups — the index side is an at-rest scan and stays lazy)
    val newFps = handle.persist(winnowIndex(increment, k, w, textCol, idCol))
    val allFps = index.select(col(idCol), col("fp"))
      .unionByName(newFps)
    val dfc = allFps.groupBy("fp").agg(count(lit(1)).as("_ndocs"))
      .where(col("_ndocs") <= maxDf)
    val a = index.join(dfc, Seq("fp")).select(col("fp"), col(idCol).as("doc_a"))
    val b = newFps.join(dfc, Seq("fp")).select(col("fp"), col(idCol).as("doc_b"))
    a.join(b, Seq("fp"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
  }

  /** Bigram language-model quality scoring — the CCNet-style "LM
    * filter" step (Wenzek et al. 2020: score each document under a
    * reference-corpus LM, then keep/bucket by score): per document, the
    * mean add-1-smoothed bigram log-probability under a bigram model
    * counted from `model`:
    *
    *   P(cur | prev) = (c(prev cur) + 1) / (c(prev) + V)
    *
    * with c(·) occurrence counts over `model`'s normalized tokens and V
    * its distinct-unigram vocabulary size. Tokens use the shared
    * [[tfidfTopTerms]]/[[topNgrams]] normalization (lower-case,
    * non-alphanumerics to spaces); bigrams come from the
    * [[graft.plans.SlidingWindows]] kernel, not a per-row lambda or a
    * window `lead` (no shuffle to build them). Unseen bigrams/contexts
    * score ln(1 / (c(prev) + V)) — meaningful when `model` differs
    * from `df` (the CCNet configuration: clean reference corpus scores
    * a crawl).
    *
    * Determinism across engines (the [[tfidfTopTerms]] rule): each
    * bigram's log-probability is frozen to the half-up 1e-6 grid —
    * `floor(ln(p)·1e6 + 0.5)` as BIGINT — so the per-document sum is
    * INTEGER aggregation, immune to float summation order; the exported
    * mean divides back to a double after aggregation. Returns one row
    * per input row: (idCol, n_bigrams, lm_micro, lm_logprob) with
    * lm_micro/lm_logprob null for documents under two tokens.
    *
    * Scale shape: model counts are two map-combined hash aggregations
    * (bigram, unigram) over exploded slim rows; V rides a broadcast
    * single-row cross join (lazy, no driver action); scoring is two
    * equi-joins of slim count rows onto the document bigram stream
    * (probe-side hot-key skew absorbed by AQE) and one per-document
    * aggregation. Linear shuffles only; nothing all-pairs.
    */
  def lmScore(
      df: DataFrame,
      model: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      modelTextCol: String = "text",
  ): DataFrame = {
    val mToks = normTokens(col(modelTextCol))
    val mBigrams = model
      .select(explode(Dedup.slidingWindows(mToks, 2)).as("_bg"))
      .groupBy("_bg").agg(count(lit(1)).as("_c2"))
    val mUnigrams = model
      .select(explode(mToks).as("_u"))
      .groupBy("_u").agg(count(lit(1)).as("_c1"))
    val vocab = mUnigrams.agg(count(lit(1)).as("_V"))
    val docBg = df
      .select(col(idCol), explode(Dedup.slidingWindows(normTokens(col(textCol)), 2)).as("_bg"))
      .withColumn("_prev", substring_index(col("_bg"), " ", 1))
    val scored = docBg
      .join(mBigrams, Seq("_bg"), "left")
      .join(mUnigrams, col("_prev") === col("_u"), "left")
      .crossJoin(broadcast(vocab))
      .select(col(idCol),
        floor(log(
          (coalesce(col("_c2"), lit(0L)) + lit(1)).cast(DoubleType) /
            (coalesce(col("_c1"), lit(0L)) + col("_V")).cast(DoubleType)) * lit(1e6) +
          lit(0.5)).cast(LongType).as("_lp"))
    val agg = scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_lp")).as("lm_micro"))
    df.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("lm_micro"),
        (col("lm_micro").cast(DoubleType) / lit(1e6) / col("n_bigrams"))
          .as("lm_logprob"))
  }
}
