package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** One local-session builder: the dev mains take [[Sessions.local]];
  * only the frozen driver surfaces [[Bench]] and [[Verify]] build their
  * own sessions. One gradient step: the distributed trainers reduce,
  * quantize and take the plain TransE hinge through
  * [[graft.sim.MicroGrad]] only. Stops per-file copies from growing
  * back. */
class SessionBuilderSpec extends AnyFunSuite {

  /** Paths, relative to `src/main/scala`, of the sources matching `re`. */
  private def scan(re: Regex): Set[String] = {
    val root = Paths.get(sys.props.getOrElse("user.dir", "."), "src", "main", "scala")
    assert(Files.isDirectory(root), s"no sources under $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => re.findFirstIn(Files.readString(p)).isDefined)
        .map(p => root.relativize(p).toString.replace('\\', '/'))
        .toSet
      finally walk.close()
  }

  test("SparkSession.builder() appears only in Sessions, Bench and Verify") {
    val found = scan("""SparkSession\s*\.\s*builder\b""".r)
    val allowed = Set("graft/Sessions.scala", "graft/Bench.scala", "graft/Verify.scala")
    assert(found.contains("graft/Sessions.scala"))
    assert((found -- allowed).isEmpty,
      s"build the session with graft.Sessions.local instead: ${(found -- allowed).toSeq.sorted}")
  }

  test("reduceByKey and the micro-unit scale appear under sim/ only in MicroGrad") {
    val found = scan("""reduceByKey\(|Micro = 1e6""".r).filter(_.startsWith("graft/sim/"))
    val home = "graft/sim/MicroGrad.scala"
    assert(found.contains(home))
    assert((found - home).isEmpty,
      s"step through graft.sim.MicroGrad instead: ${(found - home).toSeq.sorted}")
  }

  test("the plain TransE hinge term appears under sim/ only in MicroGrad") {
    val found = scan(Regex.quote("eh(i).toDouble + er(i) - et(i)").r)
      .filter(_.startsWith("graft/sim/"))
    val home = "graft/sim/MicroGrad.scala"
    assert(found.contains(home))
    assert((found - home).isEmpty,
      s"call graft.sim.MicroGrad.hinge instead: ${(found - home).toSeq.sorted}")
  }
}
