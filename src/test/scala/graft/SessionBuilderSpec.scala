package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** One local-session builder: every main but [[Verify]] takes
  * [[Sessions.local]]. One warm-up, [[Pipeline.warm]], so no builder
  * runs hidden work. One gradient step: the distributed trainers reduce,
  * quantize and take the plain TransE hinge through
  * [[graft.sim.MicroGrad]] only. One RLTransE value table with its
  * offset term in `RLTransE.Model`, and one balanced-GD fit site in
  * `Weights`. One commit-record writer under `ckpt/`: [[graft.ckpt.Checkpoint]].
  * One maker of spec temp directories: [[TempRoot]], which deletes them.
  * One ranking window and one of each ratio projection in `Metrics`, and
  * one candidate-pair cosine pass, `GraphBuild.cosinePairs`, for the
  * embedding trainers. Stops per-file copies from growing back. */
class SessionBuilderSpec extends AnyFunSuite {

  /** Paths, relative to `src/<tree>/scala`, of the sources matching `re`. */
  private def scan(re: Regex, tree: String = "main"): Set[String] = counts(re, tree).keySet

  /** Matches of `re` per source, keyed as in [[scan]]; sources without
    * a match are left out. */
  private def counts(re: Regex, tree: String = "main"): Map[String, Int] = {
    val root = Paths.get(sys.props.getOrElse("user.dir", "."), "src", tree, "scala")
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

  test("SparkSession.builder() appears only in Sessions and Verify") {
    val found = scan("""SparkSession\s*\.\s*builder\b""".r)
    val allowed = Set("graft/Sessions.scala", "graft/Verify.scala")
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

  test("the noop warm sink and the kernel warm appear only in Pipeline") {
    val home = "graft/Pipeline.scala"
    val found = scan("""format\("noop"\)|(?<!def )\bwarmKernels\(""".r)
    assert(found.contains(home))
    assert((found - home).isEmpty,
      s"warm up through graft.Pipeline.warm, untimed, instead: ${(found - home).toSeq.sorted}")
  }

  test("Metrics writes its ranking window, per-query reduction and ratio projections once each") {
    val home = "graft/eval/Metrics.scala"
    val once = Seq(
      """Window\s*\.\s*partitionBy\(\s*"idA"\s*\)""" -> "the ranking window",
      """groupBy\(\s*"idA"\s*\)""" -> "the per-query IR reduction",
      """\.as\(\s*"precision"\s*\)""" -> "the P/R/F1 projection",
      """\.as\(\s*"mrr"\s*\)""" -> "the MRR/MAP/P@1 projection")
    val faults = once.collect {
      case (re, what) if counts(re.r).getOrElse(home, 0) != 1 =>
        s"$what appears ${counts(re.r).getOrElse(home, 0)} times in $home"
    }
    assert(faults.isEmpty, faults.mkString("; "))
  }

  test("an entity-row cosine over candidateEntities appears only in GraphBuild") {
    val home = "graft/graph/GraphBuild.scala"
    val found = scan("""candidateEntities\(""".r) intersect scan("""Embed\.cosine\(""".r)
    assert(found.contains(home))
    assert((found - home).isEmpty,
      s"score the pairs with GraphBuild.cosinePairs instead: ${(found - home).toSeq.sorted}")
  }

  test("specs make temp directories only through TempRoot") {
    val home = "graft/TempRoot.scala"
    val found = scan("""Files\.createTempDirectory\(""".r, "test")
    assert(found.contains(home))
    assert((found - home).isEmpty,
      s"make spec temp directories with graft.TempRoot instead: ${(found - home).toSeq.sorted}")
  }
}
