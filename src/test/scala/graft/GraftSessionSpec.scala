package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The one session config ([[GraftSession]]) and the rule that keeps it
  * the only one: mains, tests and the bench all run the engine it
  * configures.
  */
class GraftSessionSpec extends SparkSpec {

  test("the session carries the co-partition flag, GraftExtensions and UTC") {
    assert(spark.conf.get("spark.sql.requireAllClusterKeysForCoPartition") == "false")
    assert(spark.sessionState.catalog.isRegisteredFunction(FunctionIdentifier("wq_percentiles")))
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("no source file but GraftSession.scala builds a SparkSession") {
    val src = Paths.get(sys.props("user.dir"), "src")
    val files = Using.resource(Files.walk(src))(_.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toList)
    val home: Path = src.resolve("main/scala/graft/GraftSession.scala")
    assert(files.contains(home), s"$home not found under $src")
    val builder = """SparkSession\s*\.\s*builder""".r
    val offenders = files.filter(p => p != home &&
      builder.findFirstIn(Files.readString(p)).isDefined)
    assert(offenders.isEmpty,
      s"build sessions with GraftSession.local instead: ${offenders.mkString(", ")}")
  }
}
