package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class WeightedQuantileSketchSpec extends SparkSpec {

  private def windowMedian(df: org.apache.spark.sql.DataFrame): Map[Int, Double] =
    Stats.quantileTable(df, "v", "w", Seq("g"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap

  private def sketchMedian(df: org.apache.spark.sql.DataFrame, k: Int = 128): Map[Int, Double] =
    Stats.quantileTable(df, "v", "w", Seq("g"), useSketch = true, maxCentroids = k)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap

  test("exact when distinct values fit the centroid capacity — equals the window path") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // 2 groups, 40 distinct values, integer weights, deliberately shuffled
    val rows = rnd.shuffle(for {
      g <- Seq(1, 2); v <- 1 to 40
    } yield (g, v.toDouble, (rnd.nextInt(9) + 1).toDouble))
    val df = rows.toDF("g", "v", "w")
    assert(sketchMedian(df) == windowMedian(df))
  }

  test("merge is partition-invariant for integer weights within capacity") {
    import spark.implicits._
    val rows = (1 to 500).map(i => (1, (i % 60).toDouble, ((i * 7) % 5 + 1).toDouble))
    val base = rows.toDF("g", "v", "w")
    val expected = sketchMedian(base.repartition(1))
    // different partitionings exercise different merge orders/shapes
    for (parts <- Seq(2, 7, 16)) {
      assert(sketchMedian(base.repartition(parts)) == expected,
        s"partitioning $parts changed the exact sketch result")
    }
  }

  test("nulls and non-positive weights are dropped like the window path") {
    import spark.implicits._
    val df = Seq(
      (1, Some(1.0), Some(1.0)), (1, Some(2.0), Some(1.0)), (1, Some(3.0), Some(1.0)),
      (1, None, Some(99.0)), (1, Some(100.0), None), (1, Some(100.0), Some(0.0)),
    ).toDF("g", "v", "w")
    assert(sketchMedian(df) == Map(1 -> 2.0))
    assert(windowMedian(df) == Map(1 -> 2.0))
  }

  test("compression keeps the estimate close when distinct values exceed capacity") {
    import spark.implicits._
    // 10_000 distinct uniform values, capacity 64: estimate must land
    // near the true weighted median (uniform -> ~0.5 quantile value)
    val rnd = new scala.util.Random(7)
    val rows = (1 to 10000).map(_ => (1, rnd.nextDouble() * 1000.0, 1.0))
    val df = rows.toDF("g", "v", "w")
    val exact = windowMedian(df)(1)
    val est = sketchMedian(df, k = 64)(1)
    assert(math.abs(est - exact) < 50.0, // 5% of the range for k=64
      s"sketch estimate $est too far from exact $exact")
  }

  test("multi-percentile output matches repeated single-percentile calls") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (1 to 300).map(i => (i % 3, (rnd.nextInt(50) + 1).toDouble, (rnd.nextInt(5) + 1).toDouble))
    val df = rows.toDF("g", "v", "w")
    val multi = WeightedQuantileSketch.weightedPercentilesAgg(Seq(0.25, 0.5, 0.75))
    val got = df.groupBy("g").agg(multi(col("v"), col("w")).as("q")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    for (p <- Seq(0.25, 0.5, 0.75)) {
      val single = Stats.quantileTable(df, "v", "w", Seq("g"), Seq(p), useSketch = true)
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val idx = Seq(0.25, 0.5, 0.75).indexOf(p)
      single.foreach { case (g, m) => assert(got(g)(idx) == m, s"g=$g p=$p") }
    }
    // quartiles are monotone
    got.values.foreach(q => assert(q(0) <= q(1) && q(1) <= q(2)))
  }

  test("native TypedImperativeAggregate form agrees with the udaf form bit-for-bit") {
    import spark.implicits._
    // both above AND below capacity, several merge shapes: the two
    // forms share the buffer kernels, so any divergence is a wiring
    // bug (input order, null handling, serialization)
    val rnd = new scala.util.Random(23)
    val rows = (1 to 4000).map(i =>
      (i % 13, rnd.nextDouble() * 100.0, (rnd.nextInt(7) + 1).toDouble))
    for (parts <- Seq(1, 3, 8); k <- Seq(16, 128)) {
      val df = rows.toDF("g", "v", "w").repartition(parts)
      val ps = Seq(0.1, 0.5, 0.9)
      val udafAgg = WeightedQuantileSketch.weightedPercentilesAgg(ps, k)
      val natAgg = WeightedQuantileSketch.weightedPercentilesNativeAgg(ps, k)
      val both = df.groupBy("g").agg(
        udafAgg(col("v"), col("w")).as("u"),
        natAgg(col("v"), col("w")).as("n"))
      val rowsOut = both.collect()
      assert(rowsOut.nonEmpty)
      rowsOut.foreach { r =>
        assert(r.getSeq[Double](1) == r.getSeq[Double](2),
          s"parts=$parts k=$k g=${r.get(0)}: udaf ${r.getSeq[Double](1)} vs native ${r.getSeq[Double](2)}")
      }
    }
  }

  test("native form drops nulls and non-positive weights row-side") {
    import spark.implicits._
    val df = Seq(
      (1, Some(1.0), Some(1.0)), (1, Some(2.0), Some(1.0)), (1, Some(3.0), Some(1.0)),
      (1, None, Some(99.0)), (1, Some(100.0), None), (1, Some(100.0), Some(-5.0)),
    ).toDF("g", "v", "w")
    // no pre-filter here — the aggregate itself must drop the bad rows
    val natAgg = WeightedQuantileSketch.weightedPercentilesNativeAgg(Seq(0.5))
    val out = df.groupBy("g")
      .agg(element_at(natAgg(col("v"), col("w")), 1).as("m")).collect()
    assert(out.map(r => r.getInt(0) -> r.getDouble(1)).toMap == Map(1 -> 2.0))
  }

  test("property: native ≡ udaf over generated corpora (values, weights, caps, percentiles)") {
    import spark.implicits._
    // deterministic pseudo-random sweep in the StatsPropSpec style:
    // varied group counts, duplicate-heavy and unique-heavy value
    // distributions, capacities below AND above the distinct count,
    // percentile endpoints included
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed * 104729)
      val nGroups = 1 + rnd.nextInt(6)
      val valSpace = if (seed % 2 == 0) 12 else 4000 // force/avoid coalescing
      val rows = List.tabulate(400 + rnd.nextInt(600)) { _ =>
        (rnd.nextInt(nGroups), rnd.nextInt(valSpace).toDouble,
          (rnd.nextInt(9) + 1).toDouble)
      }
      val df = rows.toDF("g", "v", "w").repartition(1 + rnd.nextInt(7))
      val k = Seq(8, 32, 256)(rnd.nextInt(3))
      val ps = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
      val u = WeightedQuantileSketch.weightedPercentilesAgg(ps, k)
      val nat = WeightedQuantileSketch.weightedPercentilesNativeAgg(ps, k)
      df.groupBy("g")
        .agg(u(col("v"), col("w")).as("u"), nat(col("v"), col("w")).as("n"))
        .collect().foreach { r =>
          assert(r.getSeq[Double](1) == r.getSeq[Double](2),
            s"seed=$seed k=$k g=${r.get(0)}: ${r.getSeq[Double](1)} vs ${r.getSeq[Double](2)}")
        }
    }
  }

  test("empty group input yields no rows; single value is its own median") {
    import spark.implicits._
    val df = Seq((1, 42.0, 3.0)).toDF("g", "v", "w")
    assert(sketchMedian(df) == Map(1 -> 42.0))
    val empty = df.where(col("v") < 0)
    assert(Stats.quantileTable(empty, "v", "w", Seq("g"), useSketch = true).count() == 0)
  }

  test("Stats.quantileTable: window and sketch paths agree within capacity, same schema") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val rows = (1 to 800).map(i =>
      (i % 4, (rnd.nextInt(60) + 1).toDouble, (rnd.nextInt(9) + 1).toDouble))
    val df = rows.toDF("g", "v", "w").repartition(5)
    val ps = Seq(0.25, 0.5, 0.75)
    val win = Stats.quantileTable(df, "v", "w", Seq("g"), ps)
    val skc = Stats.quantileTable(df, "v", "w", Seq("g"), ps, useSketch = true)
    assert(win.columns.toSeq == Seq("g", "p25", "p50", "p75"))
    assert(skc.columns.toSeq == win.columns.toSeq)
    val wm = win.collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val sm = skc.collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(wm == sm, s"window $wm vs sketch $sm")
    // custom out names thread through on both paths
    val named = Stats.quantileTable(df, "v", "w", Seq("g"), Seq(0.5), outs = Seq("med"))
    assert(named.columns.toSeq == Seq("g", "med"))
    // fractional percentile gets an underscore name
    assert(Stats.quantileTable(df, "v", "w", Seq("g"), Seq(0.125)).columns.contains("p12_5"))
  }

  test("quantileTable: all-invalid group is dropped identically on native, udaf, and window routes") {
    // group 1 is healthy; group 2's every row has a null value or a
    // null/non-positive weight. All three routes must emit ONLY group 1
    // (round-17 verdict item: the unfiltered native scan used to emit
    // group 2 with NaN percentiles while the other routes dropped it).
    def fixture(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      Seq(
        (1, Some(1.0), Some(1.0)), (1, Some(2.0), Some(1.0)), (1, Some(3.0), Some(1.0)),
        (2, None, Some(5.0)), (2, Some(7.0), None), (2, Some(7.0), Some(0.0)),
        (2, Some(7.0), Some(-3.0)),
      ).toDF("g", "v", "w")
    }
    def groups(df: org.apache.spark.sql.DataFrame): Map[Int, Double] =
      df.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // native route (GraftExtensions installed on the shared session)
    assert(spark.sessionState.catalog.isRegisteredFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("wq_percentiles")))
    val nat = groups(Stats.quantileTable(fixture(spark), "v", "w", Seq("g"), Seq(0.5), useSketch = true))
    // window route
    val win = groups(Stats.quantileTable(fixture(spark), "v", "w", Seq("g"), Seq(0.5)))
    // udaf fallback route (registry without wq_percentiles)
    val s2 = spark.newSession()
    s2.sessionState.functionRegistry.dropFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("wq_percentiles"))
    val ud = groups(Stats.quantileTable(fixture(s2), "v", "w", Seq("g"), Seq(0.5), useSketch = true))
    assert(nat == Map(1 -> 2.0), s"native route emitted $nat")
    assert(win == nat, s"window $win vs native $nat")
    assert(ud == nat, s"udaf $ud vs native $nat")
  }

  test("quantileTable sketch path works without GraftExtensions (udaf fallback)") {
    // simulate a plain SparkSession: a new session with wq_percentiles
    // dropped from the registry — quantileTable must route to the
    // Aggregator/udaf twin instead of failing analysis
    val s2 = spark.newSession()
    s2.sessionState.functionRegistry.dropFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("wq_percentiles"))
    assert(!s2.sessionState.catalog.isRegisteredFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("wq_percentiles")))
    import s2.implicits._
    val df = Seq((1, 1.0, 1.0), (1, 2.0, 1.0), (1, 3.0, 1.0)).toDF("g", "v", "w")
    val out = Stats.quantileTable(df, "v", "w", Seq("g"), Seq(0.5), useSketch = true)
    assert(out.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap == Map(1 -> 2.0))
  }
}
