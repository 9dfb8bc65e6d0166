package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** One way to build a session: `Graft.session` is the only builder in
  * the tree, and specs run under the gate's config through it. */
class SessionConfigSpec extends AnyFunSuite with SparkSpec {

  test("Graft.scala is the only source file that builds a session") {
    val builder = """SparkSession\s*\.\s*builder""".r
    val files = Using.resource(Files.walk(Paths.get("src")))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
    assert(files.nonEmpty)
    val callers = files.filter(p => builder.findFirstIn(Files.readString(p)).isDefined).map(_.toString)
    assert(callers == Seq("src/main/scala/graft/Graft.scala"))
  }

  test("the SparkSpec session runs under the gate config") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }
}
