package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

final class CheckFailed(msg: String) extends RuntimeException(msg)

/** One public call of an analyst's session. The harness times `build`
  * (the call itself, which may run jobs while it builds its plan) plus a
  * `noop` write of its result with `observe`'s aggregates attached, then
  * hands the aggregates to `check`. `keep` receives the result, so later
  * operations can chain on it; in a traced pass it is the persisted result.
  */
final case class Op(
    name: String,
    layer: String,
    build: () => DataFrame,
    observe: Seq[Column] = Nil,
    check: Map[String, Any] => Unit = _ => (),
    keep: DataFrame => Unit = _ => (),
)

final case class Env(spark: SparkSession, cores: Int, seed: Long)

trait Workload {
  /** Generates the inputs under `dir` (a fresh directory) and builds what
    * the operations need from them. Runs more than once; the last call's
    * state is the one measured.
    */
  def setup(dir: String): Unit
  /** Computes, independently of the measured code, what the operations'
    * results are checked against. Runs once, after the last [[setup]].
    */
  def prepareChecks(): Unit = ()
  /** One pass: the operations, in the order the analyst issues them. */
  def ops: Seq[Op]
  def endPass(): Unit = ()
  /** Per-layer figures measured outside the operation list, in a traced run. */
  def traceExtras(t: Tracer): Map[String, Double] = Map.empty
}

object Workloads {
  def apply(name: String, env: Env): Workload = name match {
    case "survey_analysis" => new SurveyAnalysis(env)
    case "near_dups"       => new NearDups(env)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def num(obs: Map[String, Any], key: String): Double =
    obs.get(key) match {
      case Some(n: Number) => n.doubleValue
      case other => throw new CheckFailed(s"observed $key is $other")
    }

  /** Equal up to the rounding of a different summation order. */
  def expectClose(what: String, got: Double, want: Double): Unit =
    if (!(math.abs(got - want) <= 1e-9 * math.max(1.0, math.abs(want))))
      throw new CheckFailed(s"$what: got $got, expected $want")

  def expectEq(what: String, got: Any, want: Any): Unit =
    if (got != want) throw new CheckFailed(s"$what: got $got, expected $want")

  def timeS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  /** Per-year count and sum of `value`, as observed aggregates. */
  def perYear(years: Seq[Int], value: String): Seq[Column] =
    years.flatMap(y => Seq(
      count(when(col("Year") === y, 1)).as(s"n_$y"),
      sum(when(col("Year") === y, col(value))).as(s"s_$y")))
}
