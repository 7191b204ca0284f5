package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.AnalysisException

/** Argument validation of the function builders registered by
  * [[GraftExtensions]]: literal folding, positivity, arity and the
  * kernels' input type checks.
  */
class GraftExtensionsSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq((1L, "alpha beta gamma delta"), (2L, "one two")).toDF("doc_id", "text")
  }

  /** The messages of `t` and its causes, joined. */
  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")

  private def rejected(sql: String): String =
    messages(intercept[Exception](docs.selectExpr(sql).collect()))

  test("integer literal arguments accept any integral type, and k must be a positive literal") {
    val sigs = docs.selectExpr("minhash_text(text, CAST(64 AS BIGINT), 3) AS sig")
      .collect().map(_.getSeq[Long](0))
    assert(sigs.forall(_.size == 64))
    assert(rejected("minhash_text(text, 64, 0)").contains("k must be positive"))
    assert(rejected("minhash_text(text, 64, length(text))").contains("k must be a literal"))
    assert(rejected("minhash_text(text, 64)").contains("minhash_text(text, numHashes, k)"))
  }

  test("a non-string argument to simhash_text fails analysis") {
    intercept[AnalysisException](docs.selectExpr("simhash_text(doc_id)").collect())
  }

  test("nearest_centroid refuses a matrix not divisible by the label count") {
    import spark.implicits._
    val vecs = Seq(Seq(1.0, 0.0)).toDF("v")
    val msg = messages(intercept[Exception](vecs.selectExpr(
      "nearest_centroid(v, array(1.0D, 0.0D, 0.0D), array(1, 2))").collect()))
    assert(msg.contains("not divisible"), msg)
  }

  test("wq_percentiles refuses a non-literal percentile list") {
    import spark.implicits._
    val df = Seq((1.0, 1.0, 0.5)).toDF("x", "w", "p")
    val msg = messages(intercept[Exception](
      df.selectExpr("wq_percentiles(x, w, array(p), 100)").collect()))
    assert(msg.contains("percentile list must be a literal array"), msg)
  }
}
