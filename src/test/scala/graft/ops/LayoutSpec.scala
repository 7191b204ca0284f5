package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {

  private def z2(x: Int, y: Int, bits: Int): Long = {
    import spark.implicits._
    Seq((x, y)).toDF("x", "y")
      .select(Layout.zValue(Seq(col("x"), col("y")), bits).as("z"))
      .collect()(0).getLong(0)
  }

  test("zValue interleaves bits: hand-computed Morton codes") {
    // col 0 owns even bit positions, col 1 odd
    assert(z2(0, 0, 2) == 0L)
    assert(z2(1, 0, 2) == 1L)
    assert(z2(0, 1, 2) == 2L)
    assert(z2(1, 1, 2) == 3L)
    assert(z2(2, 1, 2) == 6L) // x bit1 -> pos 2, y bit0 -> pos 1
    assert(z2(3, 3, 2) == 15L)
    // masking: only the low `bits` bits participate
    assert(z2(4 + 1, 0, 2) == 1L)
    assert(z2(-1 & 3, 2, 2) == z2(3, 2, 2))
  }

  test("zValue is a bijection on the grid and matches its SQL twin") {
    import spark.implicits._
    val grid = for { x <- 0 until 8; y <- 0 until 8 } yield (x, y)
    val df = grid.toDF("x", "y")
      .select(col("x"), col("y"), Layout.zValue(Seq(col("x"), col("y")), 3).as("z"))
    val zs = df.collect().map(_.getAs[Long]("z"))
    assert(zs.toSet == (0L until 64L).toSet)
    // the spliced-SQL twin evaluates identically through Spark SQL's parser,
    // pinning the text the DuckDB oracle runs
    val viaSql = grid.toDF("x", "y")
      .selectExpr("x", "y", s"CAST(${Layout.zValueSql(Seq("x", "y"), 3)} AS BIGINT) AS z")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaSql == df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet)
  }

  test("zValue rejects shapes that overflow a long") {
    intercept[IllegalArgumentException](Layout.zValue(Seq(col("x")), 64))
    intercept[IllegalArgumentException](Layout.zValue(Seq(col("x"), col("y")), 32))
    intercept[IllegalArgumentException](Layout.zValue(Seq.empty))
  }

  test("writeZOrdered: disjoint per-file z-ranges, z-sorted rows, narrow 2-D envelopes") {
    import spark.implicits._
    val dir = tempDir("graft_zorder").toString + "/t"
    val grid = for { x <- 0 until 32; y <- 0 until 32 } yield (x, y)
    val df = grid.toDF("x", "y")
    Layout.writeZOrdered(df, dir, Seq(col("x"), col("y")), bits = 5, numFiles = 8)

    // losslessness
    val back = spark.read.parquet(dir)
    assert(back.count() == 1024)
    assert(back.collect().map(r => (r.getInt(0), r.getInt(1))).toSet == grid.toSet)

    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-")).map(_.getPath).sorted
    assert(files.length > 1)
    val perFile = files.map { f =>
      val rows = spark.read.parquet(f)
        .select(col("x"), col("y"), Layout.zValue(Seq(col("x"), col("y")), 5).as("z"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      // rows within a file are z-sorted (sortWithinPartitions survives the
      // projection that drops the helper column)
      assert(rows.map(_._3).toSeq == rows.map(_._3).sortBy(identity).toSeq, s"$f not z-sorted")
      (rows.map(_._3).min, rows.map(_._3).max,
        rows.map(_._1).max - rows.map(_._1).min, // x spread
        rows.map(_._2).max - rows.map(_._2).min) // y spread
    }
    // range partitioning: pairwise-disjoint z intervals
    perFile.sortBy(_._1).sliding(2).foreach {
      case Array((_, hiA, _, _), (loB, _, _, _)) => assert(hiA < loB, "z ranges overlap")
      case _                                     =>
    }
    // the property that makes multi-dim pruning work: every file's min/max
    // envelope is materially narrower than the global 0..31 range in BOTH
    // dimensions (a single-column sort would leave the other dim at ~31)
    val avgX = perFile.map(_._3).sum.toDouble / perFile.length
    val avgY = perFile.map(_._4).sum.toDouble / perFile.length
    assert(avgX < 24 && avgY < 24, s"envelopes too wide: avgX=$avgX avgY=$avgY")
  }

  test("compact rewrites many small files into the byte-budgeted count, losslessly") {
    import spark.implicits._
    val base = tempDir("graft_compact").toString
    val df = (1L to 5000L).map(i => (i, s"row $i " + ("x" * 100))).toDF("id", "text")
    df.repartition(40).write.parquet(s"$base/src")
    def files(p: String) = new java.io.File(p).listFiles()
      .filter(f => f.getName.startsWith("part-")).length
    assert(files(s"$base/src") == 40)
    val n = Layout.compact(spark, s"$base/src", s"$base/dst", targetFileBytes = 256L * 1024)
    assert(files(s"$base/dst") == n && n < 40 && n >= 1)
    val back = spark.read.parquet(s"$base/dst")
    assert(back.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
    // shuffle-free rewrite: coalesce, not an exchange
    val plan = spark.read.parquet(s"$base/src").coalesce(n).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // guardrail: in-place compaction is refused
    intercept[IllegalArgumentException](Layout.compact(spark, s"$base/src", s"$base/src"))
  }

  /** Per-row-group (min, max) envelope of each named column, read from
    * the parquet FOOTER STATS of every part-file under `path` — the
    * exact metadata a consumer (Spark's vectorized reader, DuckDB,
    * Trino) uses to decide which row groups a predicate can skip.
    */
  private def rowGroupEnvelopes(path: String, cols: Seq[String]): Seq[Map[String, (Long, Long)]] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val files = new java.io.File(path).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    files.toSeq.flatMap { f =>
      val rdr = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.getPath), conf))
      try rdr.getFooter.getBlocks.asScala.toSeq.map { b =>
        cols.map { c =>
          val cc = b.getColumns.asScala.find(_.getPath.toDotString == c)
            .getOrElse(fail(s"column $c missing from ${f.getName} footer"))
          val st = cc.getStatistics
          assert(st != null && !st.isEmpty, s"$c: no stats in ${f.getName}")
          c -> (st.genericGetMin.asInstanceOf[Number].longValue,
            st.genericGetMax.asInstanceOf[Number].longValue)
        }.toMap
      } finally rdr.close()
    }
  }

  test("z-order pruning proof: row-group stats skip scans on EVERY dimension") {
    import spark.implicits._
    val base = tempDir("graft_zprune").toString
    // 128x128 grid; z-ordered vs x-sorted control — the control prunes
    // only its sort key, which is exactly the deficiency z-order fixes
    val grid = for { x <- 0 until 128; y <- 0 until 128 } yield (x, y)
    val df = grid.toDF("x", "y")
    Layout.writeZOrdered(df, s"$base/z", Seq(col("x"), col("y")), bits = 7, numFiles = 16)
    df.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.parquet(s"$base/xsort")

    def matching(path: String, c: String, lo: Long, hi: Long): (Int, Int) = {
      val envs = rowGroupEnvelopes(path, Seq("x", "y"))
      (envs.count { e => val (mn, mx) = e(c); mx >= lo && mn <= hi }, envs.size)
    }
    // selective slice on each dimension: x in [0,15], y in [0,15]
    val (zx, zTotal) = matching(s"$base/z", "x", 0, 15)
    val (zy, _)      = matching(s"$base/z", "y", 0, 15)
    val (sx, sTotal) = matching(s"$base/xsort", "x", 0, 15)
    val (sy, _)      = matching(s"$base/xsort", "y", 0, 15)
    assert(zTotal >= 16 && sTotal >= 16, s"too few row groups: z=$zTotal xsort=$sTotal")
    // the control behaves as expected: prunes its sort key, reads
    // EVERYTHING for the other dimension
    assert(sx < sTotal, s"x-sorted layout failed to prune x: $sx/$sTotal")
    assert(sy == sTotal, s"x-sorted layout unexpectedly pruned y: $sy/$sTotal")
    // the claim under test: the z-ordered layout prunes BOTH dimensions —
    // a 1/8-wide slice on either axis skips at least half the row groups
    assert(zx <= zTotal / 2, s"z layout reads too many row groups for x-slice: $zx/$zTotal")
    assert(zy <= zTotal / 2, s"z layout reads too many row groups for y-slice: $zy/$zTotal")
    // and the skipped row groups were genuinely skippable: the slice's
    // answer is still complete through a real scan
    assert(spark.read.parquet(s"$base/z").where(col("y") <= 15).count() == 128L * 16)
    assert(spark.read.parquet(s"$base/z").where(col("x") <= 15).count() == 128L * 16)
  }

  test("compact sizing feedback: recompression-shifted output lands within 2x of target") {
    import spark.implicits._
    val base = tempDir("graft_compact_fb").toString
    // uncompressed source, snappy destination: the first-pass estimate
    // (from SOURCE bytes) overshoots the file count badly — the measured
    // rewrite must correct it
    val rnd = new scala.util.Random(7)
    val df = (1L to 60000L).map(i => (i, rnd.alphanumeric.take(64).mkString * 4)).toDF("id", "text")
    df.repartition(50).write.option("compression", "uncompressed").parquet(s"$base/src")
    val target = 512L * 1024
    val n = Layout.compact(spark, s"$base/src", s"$base/dst", targetFileBytes = target)
    val outFiles = new java.io.File(s"$base/dst").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(outFiles.length == n)
    val mean = outFiles.map(_.length).sum.toDouble / outFiles.length
    assert(n == 1 || (mean >= target / 2.0 && mean <= 2.0 * target),
      s"mean output file size $mean not within 2x of $target across $n files")
    // losslessness through the corrective second pass
    assert(spark.read.parquet(s"$base/dst").count() == 60000L)
  }

  test("zValue properties on random grids: bijective, range-bounded, recursively local") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 3) {
      val bits = 2 + rnd.nextInt(4) // 2..5
      val side = 1 << bits
      val pts = rnd.shuffle((for { x <- 0 until side; y <- 0 until side } yield (x, y)).toList)
      val zs = pts.toDF("x", "y")
        .select(col("x"), col("y"), Layout.zValue(Seq(col("x"), col("y")), bits).as("z"))
        .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getAs[Long]("z"))).toMap
      // bijection onto [0, 4^bits)
      assert(zs.values.toSet == (0L until (1L << (2 * bits))).toSet, s"trial $trial bits $bits")
      // quadrant recursion: the top interleaved bits ARE the quadrant id,
      // so all points of a quadrant occupy one contiguous z quarter
      val quarter = 1L << (2 * bits - 2)
      pts.foreach { case (x, y) =>
        val q = 2 * (y >> (bits - 1)) + (x >> (bits - 1))
        assert(zs((x, y)) / quarter == q, s"($x,$y) not in z-quarter $q")
      }
    }
  }
}
