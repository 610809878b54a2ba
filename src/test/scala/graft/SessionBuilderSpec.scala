package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** One local-session builder: the dev mains take [[Sessions.local]];
  * only the frozen driver surfaces [[Bench]] and [[Verify]] build their
  * own sessions. One gradient step: the distributed trainers reduce,
  * quantize and take the plain TransE hinge through
  * [[graft.sim.MicroGrad]] only. One RLTransE value table with its
  * offset term in `RLTransE.Model`, and one balanced-GD fit site in
  * `Weights`. One commit-record writer under `ckpt/`: [[graft.ckpt.Checkpoint]].
  * Stops per-file copies from growing back. */
class SessionBuilderSpec extends AnyFunSuite {

  /** Paths, relative to `src/main/scala`, of the sources matching `re`. */
  private def scan(re: Regex): Set[String] = counts(re).keySet

  /** Matches of `re` per source, keyed as in [[scan]]; sources without
    * a match are left out. */
  private def counts(re: Regex): Map[String, Int] = {
    val root = Paths.get(sys.props.getOrElse("user.dir", "."), "src", "main", "scala")
    assert(Files.isDirectory(root), s"no sources under $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .map(p => root.relativize(p).toString.replace('\\', '/') ->
          re.findAllIn(Files.readString(p)).size)
        .filter(_._2 > 0)
        .toMap
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

  test("the RLTransE value table, its offset term and the balanced-GD fit have one site each") {
    val rlt = "graft/sim/RLTransE.scala"
    val vocab = counts("""(?<!def )\bvocabulary\(""".r).getOrElse(rlt, 0)
    val fits = counts(Regex.quote("EmbedLogistic.fitBalancedOn(").r)
      .getOrElse("graft/ml/Weights.scala", 0)
    val offset = scan("""\*\s*(?:\w+\.)?maxValCount\s*\+""".r)
    assert(offset.contains(rlt))
    val faults = Seq(
      (vocab > 1) -> s"$vocab vocabulary( calls in $rlt: build the value table once",
      (fits > 1) -> s"$fits EmbedLogistic.fitBalancedOn( sites in Weights: fit through one helper",
      (offset - rlt).nonEmpty ->
        s"offset term in ${(offset - rlt).toSeq.sorted}: address value rows through RLTransE.Model")
      .collect { case (true, msg) => msg }
    assert(faults.isEmpty, faults.mkString("; "))
  }

  test("only Checkpoint writes commit records under ckpt/") {
    val home = "graft/ckpt/Checkpoint.scala"
    val found = scan("""Files\.writeString\(|ATOMIC_MOVE""".r).filter(_.startsWith("graft/ckpt/"))
    assert(found.contains(home))
    assert((found - home).isEmpty,
      s"commit through graft.ckpt.Checkpoint.stage instead: ${(found - home).toSeq.sorted}")
  }
}
