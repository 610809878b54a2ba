package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType}

/**
 * Native Catalyst expression `fnv_mix(a, b): Long` — the engine's
 * seeded 64-bit FNV-1a mix ([[graft.sim.NegativeSampler.fnvMix]]: the
 * 16 little-endian bytes of a then b folded through FNV-1a) as a
 * whole-stage-codegen scalar, for hash-gated row decisions at scan
 * speed (deterministic stratified sampling, seeded draws).
 *
 * Spark's built-in `xxhash64`/`hash` would serve the same purpose but
 * are not replayable in the DuckDB oracle; this kernel already has a
 * bit-exact SQL replay (OracleSql.fnvMixChainW). A custom expression
 * rather than a UDF: Long arithmetic wraps in JVM semantics regardless
 * of ANSI mode, no boxing, stays inside WholeStageCodegen.
 */
case class FnvMix(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"fnv_mix expects (bigint, bigint), got (${left.dataType}, ${right.dataType})")

  override protected def nullSafeEval(l: Any, r: Any): Any =
    graft.sim.NegativeSampler.fnvMix(
      l.asInstanceOf[Long], r.asInstanceOf[Long])

  // `fnvMix` is `private[graft]`, so Scala emits no static forwarder:
  // the generated Java calls it on the module instance.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.sim.NegativeSampler$$.MODULE$$.fnvMix($l, $r);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FnvMix =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "fnv_mix"
}

object FnvMixFunctions {
  /** `fnv_mix(a, b)` as a `Column` over two bigint columns. */
  def fnv_mix(a: Column, b: Column): Column =
    Bridge.column(FnvMix(Bridge.expression(a), Bridge.expression(b)))
}
