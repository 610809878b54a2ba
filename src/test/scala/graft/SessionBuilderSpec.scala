package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One local-session builder: the dev mains take [[Sessions.local]];
  * only the frozen driver surfaces [[Bench]] and [[Verify]] build their
  * own sessions. Stops per-main builder copies from growing back. */
class SessionBuilderSpec extends AnyFunSuite {

  test("SparkSession.builder() appears only in Sessions, Bench and Verify") {
    val root = Paths.get(sys.props.getOrElse("user.dir", "."), "src", "main", "scala")
    assert(Files.isDirectory(root), s"no sources under $root")
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val walk = Files.walk(root)
    val found = try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
        .map(p => root.relativize(p).toString.replace('\\', '/'))
        .toSet
      finally walk.close()
    val allowed = Set("graft/Sessions.scala", "graft/Bench.scala", "graft/Verify.scala")
    assert(found.contains("graft/Sessions.scala"))
    assert((found -- allowed).isEmpty,
      s"build the session with graft.Sessions.local instead: ${(found -- allowed).toSeq.sorted}")
  }
}
