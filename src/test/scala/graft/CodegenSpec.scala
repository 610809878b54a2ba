package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.FnvMixFunctions.fnv_mix
import graft.functions.StringSim
import graft.functions.GraftFunctions.{graft_levenshtein, jaro_winkler}

/**
 * Every native Catalyst expression compiles under whole-stage codegen.
 * With `spark.sql.codegen.fallback` off, a `doGenCode` whose Java does
 * not compile fails the query instead of silently dropping the plan to
 * interpreted mode. The frames sit on `spark.range`, not on local rows,
 * so the optimizer cannot fold the expressions away before codegen.
 */
class CodegenSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val FallbackKey = "spark.sql.codegen.fallback"

  private def withoutFallback[T](f: => T): T = {
    val saved = spark.conf.getOption(FallbackKey)
    spark.conf.set(FallbackKey, "false")
    try f
    finally saved match {
      case Some(v) => spark.conf.set(FallbackKey, v)
      case None => spark.conf.unset(FallbackKey)
    }
  }

  test("fnv_mix, jaro_winkler and graft_levenshtein compile under whole-stage codegen") {
    val ids = spark.range(0, 64, 1, 2)
    val (mix, jw, lev) = withoutFallback {
      val mix = ids.select(col("id"), fnv_mix(col("id"), lit(77L)))
        .as[(Long, Long)].collect()
      val words = ids.select(
        concat(lit("martha"), (col("id") % 7).cast("string")).as("a"),
        concat(lit("marhta"), (col("id") % 5).cast("string")).as("b"))
      val jw = words.select(col("a"), col("b"), jaro_winkler(col("a"), col("b")))
        .as[(String, String, Double)].collect()
      val lev = words.select(col("a"), col("b"), graft_levenshtein(col("a"), col("b")))
        .as[(String, String, Int)].collect()
      (mix, jw, lev)
    }
    assert(mix.length == 64 && jw.length == 64 && lev.length == 64)
    // the generated code calls the same kernels as the interpreted path
    mix.foreach { case (id, h) => assert(h == graft.sim.NegativeSampler.fnvMix(id, 77L)) }
    jw.foreach { case (a, b, s) => assert(s == StringSim.jaroWinkler(a, b)) }
    lev.foreach { case (a, b, d) => assert(d == StringSim.levenshtein(a, b)) }
    assert(spark.conf.getOption(FallbackKey).forall(_ != "false"))
  }
}
