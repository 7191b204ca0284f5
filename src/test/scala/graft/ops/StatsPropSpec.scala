package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Algebraic properties of the weighted-statistics layer (SURVEY §5d),
  * checked over deterministic pseudo-random cases.
  */
class StatsPropSpec extends SparkSpec {

  private def cases(n: Int): Seq[List[(Long, Double, Long)]] =
    (1 to n).map { seed =>
      val rnd = new scala.util.Random(seed * 7919)
      val size = 2 + rnd.nextInt(24)
      List.tabulate(size)(i =>
        (i.toLong, (rnd.nextInt(2001) - 1000).toDouble, 1L + rnd.nextInt(20)))
    }

  test("weighted mean lies within [min, max] of values") {
    import spark.implicits._
    cases(8).foreach { rows =>
      val df = rows.toDF("ID", "x", "Weight")
      val m = Stats.weightedAverage(df, Seq("x")).collect()(0).getDouble(0)
      val vals = rows.map(_._2)
      assert(m >= vals.min - 1e-9 && m <= vals.max + 1e-9, s"mean $m outside range for $rows")
    }
  }

  test("quantiles are monotone in value and end at 1.0") {
    import spark.implicits._
    cases(8).foreach { rows =>
      val df = rows.toDF("ID", "x", "Weight").withColumn("Year", lit(1400))
      val q = Stats.addQuantile(df, "x", "Weight", Seq("Year"))
        .orderBy(col("x"), col("ID"))
        .select("x", "Quantile").collect().map(r => (r.getDouble(0), r.getDouble(1)))
      q.zip(q.tail).foreach { case ((_, q1), (_, q2)) => assert(q1 <= q2 + 1e-12) }
      assert(math.abs(q.last._2 - 1.0) < 1e-12)
      q.foreach { case (_, qq) => assert(qq > 0.0 && qq <= 1.0 + 1e-12) }
    }
  }

  test("decile binning stays in [1,10] and is monotone in quantile") {
    import spark.implicits._
    cases(8).foreach { rows =>
      val df = rows.toDF("ID", "x", "Weight").withColumn("Year", lit(1400))
      val d = Stats.addDecile(df, "x", "Weight", Seq("Year"))
        .orderBy(col("x"), col("ID"))
        .select("Decile").collect().map(_.getInt(0))
      assert(d.forall(x => x >= 1 && x <= 10))
      d.zip(d.tail).foreach { case (a, b) => assert(a <= b) }
      assert(d.last == 10)
    }
  }

  test("weighted mean with unit weights equals plain mean") {
    import spark.implicits._
    cases(8).foreach { rows =>
      val df = rows.toDF("ID", "x", "w").withColumn("Weight", lit(1L))
      val m = Stats.weightedAverage(df, Seq("x")).collect()(0).getDouble(0)
      val plain = rows.map(_._2).sum / rows.size
      assert(math.abs(m - plain) < 1e-9)
    }
  }

  test("null values do not move the numerator but keep weight in denominator") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(10.0), 1L), (2L, None, 3L), (3L, Some(20.0), 1L),
    ).toDF("ID", "x", "Weight")
    val m = Stats.weightedAverage(df, Seq("x")).collect()(0).getDouble(0)
    // reference semantics: (10*1 + 20*1) / (1+3+1) = 6, NOT 15
    assert(m == 6.0)
  }

  test("weighted median splits the weight mass") {
    import spark.implicits._
    val df = Seq(
      (1400, 1L, 10.0, 1L), (1400, 2L, 20.0, 1L), (1400, 3L, 30.0, 8L),
    ).toDF("Year", "ID", "x", "Weight")
    // cum shares: 10 -> .1, 20 -> .2, 30 -> 1.0; first value reaching .5 is 30
    val m = Stats.quantileTable(df, "x", "Weight", Seq("Year"), Seq(0.5))
      .collect()(0).getDouble(1)
    assert(m == 30.0)
    // unweighted median of the same values would be 20
    val unw = Stats.quantileTable(
      df.withColumn("Weight", lit(1L)), "x", "Weight", Seq("Year"), Seq(0.5))
      .collect()(0).getDouble(1)
    assert(unw == 20.0)
  }

  test("quantile partitions by group independently") {
    import spark.implicits._
    val df = Seq(
      (1400, 1L, 10.0, 1L), (1400, 2L, 20.0, 1L),
      (1401, 3L, 5.0, 1L), (1401, 4L, 50.0, 3L),
    ).toDF("Year", "ID", "x", "Weight")
    val q = Stats.addQuantile(df, "x", "Weight", Seq("Year")).collect()
      .map(r => r.getAs[Long]("ID") -> r.getAs[Double]("Quantile")).toMap
    assert(q(1L) == 0.5 && q(2L) == 1.0)
    assert(q(3L) == 0.25 && q(4L) == 1.0)
  }

  test("equivalence-scale broadcast escape hatch: identical results, no broadcast hint") {
    import spark.implicits._
    val df = Seq((1400, 1L, 100.0), (1400, 2L, 90.0)).toDF("Year", "ID", "x")
    val scale = Seq((1400, 1L, 2.0), (1400, 2L, 3.0)).toDF("Year", "ID", "Per_Capita")
    def rows(bc: Boolean) =
      Stats.adjustByEquivalenceScale(df, scale, Seq("x"), broadcastScale = bc)
        .collect().map(r => r.getAs[Long]("ID") -> r.getAs[Double]("x")).toMap
    assert(rows(bc = true) == rows(bc = false))
    val plan = Stats.adjustByEquivalenceScale(df, scale, Seq("x"), broadcastScale = false)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("ResolvedHint"), "broadcast hint must be absent when disabled")
  }
}
