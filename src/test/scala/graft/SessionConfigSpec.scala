package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Drift guard for session settings: [[GraftSession]] is the only
  * place a session is built, so the mains, the probes and the specs
  * cannot drift apart again. */
class SessionConfigSpec extends AnyFunSuite {

  private def scalaFiles(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("a session is built only in GraftSession.scala") {
    val roots = Seq("src/main/scala", "src/test/scala")
    roots.foreach(r => assert(Files.isDirectory(Paths.get(r)),
      s"$r not found — run from the project root"))
    val builder = """SparkSession\s*\.\s*builder""".r
    val hits = roots.flatMap(scalaFiles).filter { f =>
      builder.findFirstIn(Files.readString(f)).isDefined
    }.map(_.getFileName.toString)
    assert(hits == Seq("GraftSession.scala"),
      s"session built outside GraftSession: ${hits.mkString(", ")}")
  }

  test("the shared test session carries the factory's settings") {
    val conf = SparkSuite.session.conf
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "2000")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(SparkSuite.session.sparkContext.master == "local[4]")
  }
}
