package graft.sources

import graft.SparkSpec
import graft.meta._
import org.apache.spark.sql.functions._
import java.nio.file.Files

class RawSourcesSpec extends SparkSpec {

  private val tableMeta = Meta.fromYaml("""
file_code:
  1380: "001"
  1390: "002"
urban:
  file_code: "U01"
  columns:
    ADDRESS: {new_name: ID, type: unsigned}
    VAL: {new_name: Value, type: float}
rural:
  file_code: "R01"
  columns:
    ADDRESS: {new_name: ID, type: unsigned}
""")

  test("csv path follows the reference naming convention") {
    val simple = Meta.fromYaml("""
file_code:
  1380: "001"
  1390: "002"
columns: {}
""")
    assert(RawSources.csvPath("/base", simple, "food", 1385, urban = true)
      == "/base/1385/U85001.csv")
    assert(RawSources.csvPath("/base", simple, "food", 1401, urban = false)
      == "/base/1401/R1401002.csv")
  }

  test("urban/rural csv clean-then-union end to end") {
    val dir = tempDir("graft_csv").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/1400"))
    Files.writeString(java.nio.file.Paths.get(s"$dir/1400/U1400U01.csv"),
      "ADDRESS,VAL\n10000001,1.5\n10000002,2.5\n")
    Files.writeString(java.nio.file.Paths.get(s"$dir/1400/R1400R01.csv"),
      "ADDRESS\n20000001\n")
    val out = RawSources.openAndCleanTable(spark, dir, tableMeta, "food", 1400)
    assert(out.columns.toSet == Set("ID", "Value"))
    assert(out.count() == 3)
    // rural side has no Value column -> null-filled
    assert(out.where(col("Value").isNull).count() == 1)
  }

  test("partitioned write + year-pruned read") {
    import spark.implicits._
    val dir = tempDir("graft_part").toString + "/t"
    val df = Seq((1399, 1L), (1399, 2L), (1400, 3L)).toDF("Year", "ID")
    RawSources.writePartitioned(df, dir)
    val pruned = RawSources.readPartitioned(spark, dir, Seq(1400))
    assert(pruned.count() == 1)
    // the year filter must reach the scan as a partition filter
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("Year"))
  }

  test("csv sink round-trips") {
    import spark.implicits._
    val dir = tempDir("graft_csvout").toString + "/out"
    RawSources.writeCsv(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), dir)
    val back = spark.read.option("header", "true").csv(dir)
    assert(back.count() == 2)
  }

  test("jsonl sink + declared-schema scan round-trips hostile content losslessly") {
    import spark.implicits._
    val dir = tempDir("graft_jsonl").toString + "/out"
    // newlines, quotes, backslashes, unicode, empty string, nulls — the
    // content a real scraped corpus contains
    val docs = Seq(
      (1L, "line one\nline two", "en"),
      (2L, "quote \" and \\ backslash", "en"),
      (3L, "unicode éü中文 tab\there", "zh"),
      (4L, "", "en"),
      (5L, null: String, null: String),
    ).toDF("doc_id", "text", "lang")
    RawSources.writeJsonl(docs, dir)
    val back = RawSources.readJsonl(spark, dir, docs.schema)
      .select("doc_id", "text", "lang")
    // a JSON scan is always nullable (any line may omit a key), so
    // compare names+types, not nullability
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      docs.schema.map(f => (f.name, f.dataType)))
    val got = back.collect().map(r => (r.get(0), r.get(1), r.get(2))).toSet
    val exp = docs.collect().map(r => (r.get(0), r.get(1), r.get(2))).toSet
    assert(got == exp)
    // the sink really wrote gzip'd line files
    val files = new java.io.File(dir).listFiles().map(_.getName)
    assert(files.exists(_.endsWith(".json.gz")), files.mkString(","))
    // a corrupt line must not kill the scan (PERMISSIVE null-fill)
    val bad = tempDir("graft_jsonl_bad").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(bad, "part-0.json"),
      "{\"doc_id\": 9, \"text\": \"ok\", \"lang\": \"en\"}\nnot json at all\n".getBytes("UTF-8"))
    val tolerant = RawSources.readJsonl(spark, bad, docs.schema)
    assert(tolerant.count() == 2)
    assert(tolerant.where($"doc_id" === 9).count() == 1)
  }

  test("orc sink + declared-schema scan round-trips losslessly and prunes/pushes down") {
    import spark.implicits._
    val dir = tempDir("graft_orc").toString + "/out"
    val docs = Seq(
      (1L, "line one\nline two", 1.5),
      (2L, "unicode éü中文", 2.5),
      (3L, null: String, 3.5),
    ).toDF("doc_id", "text", "score")
    RawSources.writeOrc(docs, dir)
    val back = RawSources.readOrc(spark, dir, docs.schema)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      docs.schema.map(f => (f.name, f.dataType)))
    assert(back.collect().map(r => (r.get(0), r.get(1), r.get(2))).toSet ==
      docs.collect().map(r => (r.get(0), r.get(1), r.get(2))).toSet)
    // filters and projection must reach the ORC scan
    val plan = back.where($"doc_id" === 2L).select("text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,2)")
      || plan.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,2)]"), plan)
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"), plan)
  }

  test("A3: parquet over HTTP reads losslessly via ranged requests, pushdown intact") {
    import spark.implicits._
    val dir = tempDir("graft_http").toString + "/served"
    val docs = (1L to 500L).map(i => (i, s"doc $i " + ("x" * (i % 37).toInt), i * 1.5))
      .toDF("doc_id", "text", "score")
    docs.repartition(3).write.parquet(dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(parts.length == 3)
    val (port, counters) = LoopbackHttpServer.serve(dir)
    val urls = parts.map(f => s"http://127.0.0.1:$port/${f.getName}").toSeq
    val remote = RawSources.readRemote(spark, urls)
    // losslessness against the local read
    val local = spark.read.parquet(dir)
    assert(remote.schema.map(f => (f.name, f.dataType)) ==
      local.schema.map(f => (f.name, f.dataType)))
    assert(remote.collect().map(_.toSeq).toSet == local.collect().map(_.toSeq).toSet)
    // the client must be SEEKING (footer + column chunks as bounded
    // range GETs), not downloading files wholesale per touch
    assert(counters.rangedGets.get() > 0, "no ranged GETs — the seekable path didn't run")
    assert(counters.headRequests.get() > 0, "no HEAD — file length not probed")
    // served bytes stay in the same order of magnitude as the data
    val onDisk = parts.map(_.length()).sum
    assert(counters.bytesServed.get() < 20L * onDisk,
      s"served ${counters.bytesServed.get()} bytes for $onDisk on disk — wholesale re-downloads?")
    // column pruning + predicate pushdown reach the remote scan exactly
    // as they do the local one
    val plan = remote.where($"doc_id" === 2L).select("text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,2)"), plan)
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"), plan)
    // projected remote read must fetch LESS than the full files: prune
    // to one narrow column and compare served bytes before/after
    val before = counters.bytesServed.get()
    remote.select("doc_id").agg(sum("doc_id")).collect()
    val fetched = counters.bytesServed.get() - before
    assert(fetched < onDisk,
      s"single-column scan fetched $fetched of $onDisk total — no range pruning")
    // read-only contract
    intercept[UnsupportedOperationException] {
      val fs = new HttpRangeFileSystem
      fs.initialize(java.net.URI.create(s"http://127.0.0.1:$port"),
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path("/x"), false)
    }
  }
}
