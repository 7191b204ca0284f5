package graft.sources

import java.io.FileNotFoundException
import java.net.{HttpURLConnection, URI, URL}
import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.fs.Path

/** Protocol-level edge cases of the A3 stack: the loopback server's
  * RFC 7233 behavior and the filesystem's seek/positioned-read/error
  * semantics, independent of any Spark scan (RawSourcesSpec covers the
  * end-to-end parquet path).
  */
class HttpRangeSpec extends SparkSpec {

  private lazy val (root, port, counters) = {
    val dir = tempDir("graft_httprange")
    Files.write(dir.resolve("blob.bin"), Array.tabulate[Byte](10000)(i => (i % 251).toByte))
    val (p, c) = LoopbackHttpServer.serve(dir.toString)
    (dir, p, c)
  }

  private def fs = {
    val f = new HttpRangeFileSystem
    f.initialize(URI.create(s"http://127.0.0.1:$port"),
      spark.sparkContext.hadoopConfiguration)
    f
  }

  test("getFileStatus: length from HEAD; missing file is FileNotFoundException") {
    assert(fs.getFileStatus(new Path(s"http://127.0.0.1:$port/blob.bin")).getLen == 10000L)
    intercept[FileNotFoundException] {
      fs.getFileStatus(new Path(s"http://127.0.0.1:$port/nope.bin"))
    }
  }

  test("path traversal out of the served root is a 404, not a file read") {
    val conn = new URL(s"http://127.0.0.1:$port/../../etc/hostname")
      .openConnection().asInstanceOf[HttpURLConnection]
    // raw request: URL normalization would strip the dots client-side
    conn.setRequestProperty("Accept", "*/*")
    assert(conn.getResponseCode == 404)
  }

  test("out-of-range request answers 416 with a Content-Range total") {
    val conn = new URL(s"http://127.0.0.1:$port/blob.bin")
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestProperty("Range", "bytes=999999-")
    assert(conn.getResponseCode == 416)
    assert(conn.getHeaderField("Content-Range") == "bytes */10000")
  }

  test("seek + sequential read and positioned read return the right bytes") {
    val in = fs.open(new Path(s"http://127.0.0.1:$port/blob.bin"), 4096)
    try {
      // forward seek, sequential read
      in.seek(5000)
      val buf = new Array[Byte](16)
      in.readFully(buf)
      assert(buf.toSeq == (5000 until 5016).map(i => (i % 251).toByte))
      assert(in.getPos == 5016)
      // positioned read must not disturb the stream position
      val pbuf = new Array[Byte](8)
      in.readFully(123L, pbuf)
      assert(pbuf.toSeq == (123 until 131).map(i => (i % 251).toByte))
      assert(in.getPos == 5016)
      // backward seek re-opens transparently
      in.seek(0)
      assert(in.read() == 0)
      // EOF: reads at/after length answer -1
      in.seek(10000)
      assert(in.read() == -1)
    } finally in.close()
  }

  test("listStatus of a file is the file itself (explicit-URL file index contract)") {
    val st = fs.listStatus(new Path(s"http://127.0.0.1:$port/blob.bin"))
    assert(st.length == 1 && st(0).getLen == 10000L && !st(0).isDirectory)
  }

  test("transient 503s on ranged GETs are absorbed by bounded retry (positioned + sequential)") {
    val in = fs.open(new Path(s"http://127.0.0.1:$port/blob.bin"), 4096)
    try {
      val before = counters.injectedFailures.get()
      // positioned read: 2 consecutive 503s, then success — within the
      // default budget of 3 retries
      counters.injectRangedFailures(2)
      val pbuf = new Array[Byte](8)
      in.readFully(200L, pbuf)
      assert(pbuf.toSeq == (200 until 208).map(i => (i % 251).toByte))
      assert(counters.injectedFailures.get() == before + 2, "faults must actually be served")
      assert(counters.failNextRangedGets.get() <= 0)
      // sequential read from a seek is a `bytes=pos-` ranged GET: same path
      counters.injectRangedFailures(1)
      in.seek(7000)
      assert(in.read() == (7000 % 251))
      assert(counters.injectedFailures.get() == before + 3)
    } finally {
      counters.injectRangedFailures(0)
      in.close()
    }
  }

  test("retry budget exhausted surfaces the IOException; 4xx is never retried") {
    val in = fs.open(new Path(s"http://127.0.0.1:$port/blob.bin"), 4096)
    try {
      // default budget = 1 attempt + 3 retries = 4 requests; 4 faults exhaust it
      counters.injectRangedFailures(4)
      val pbuf = new Array[Byte](8)
      intercept[java.io.IOException] { in.readFully(200L, pbuf) }
      assert(counters.failNextRangedGets.get() <= 0, "all 4 faults consumed — exactly 4 attempts")
      // a later read succeeds (the failure left no broken state behind)
      in.readFully(200L, pbuf)
      assert(pbuf.toSeq == (200 until 208).map(i => (i % 251).toByte))
    } finally {
      counters.injectRangedFailures(0)
      in.close()
    }
    // 404 is deterministic: exactly ONE request reaches the server
    val misses = counters.notFound.get()
    intercept[FileNotFoundException] {
      fs.getFileStatus(new Path(s"http://127.0.0.1:$port/nope.bin"))
    }
    assert(counters.notFound.get() == misses + 1, "404 must not be retried")
  }

  test("retry budget is conf-driven (fs.graft.http.retries = 0 fails on the first 503)") {
    val conf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    conf.setInt("fs.graft.http.retries", 0)
    conf.setLong("fs.graft.http.retry.interval.ms", 1L)
    val f0 = new HttpRangeFileSystem
    f0.initialize(URI.create(s"http://127.0.0.1:$port"), conf)
    val in = f0.open(new Path(s"http://127.0.0.1:$port/blob.bin"), 4096)
    try {
      counters.injectRangedFailures(1)
      intercept[java.io.IOException] { in.readFully(300L, new Array[Byte](4)) }
      assert(counters.failNextRangedGets.get() <= 0)
    } finally {
      counters.injectRangedFailures(0)
      in.close()
    }
  }

  test("every connection carries conf-driven connect/read timeouts") {
    // a wedged server can't be simulated on loopback without flaking the
    // suite, so pin the wiring instead: the policy the conf produces is
    // what connect() stamps onto the connection
    val conf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    conf.setInt("fs.graft.http.connect.timeout.ms", 1234)
    conf.setInt("fs.graft.http.read.timeout.ms", 5678)
    val p = HttpRetryPolicy(
      conf.getInt("fs.graft.http.connect.timeout.ms", 30000),
      conf.getInt("fs.graft.http.read.timeout.ms", 60000),
      conf.getInt("fs.graft.http.retries", 3),
      conf.getLong("fs.graft.http.retry.interval.ms", 100L))
    val conn = p.connect(new URL(s"http://127.0.0.1:$port/blob.bin"))
    try {
      assert(conn.getConnectTimeout == 1234)
      assert(conn.getReadTimeout == 5678)
    } finally conn.disconnect()
  }
}
