package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.DataType

/** Calls a compiled kernel — a static helper on a Scala object — as a
  * Catalyst expression, through Spark's own [[StaticInvoke]]: the
  * generated code of the enclosing whole-stage-codegen stage is one
  * direct call into the helper, and interpreted evaluation reflects on
  * the same method. No kernel needs a hand-written `Expression`.
  *
  * A compiled kernel is justified only where composing Spark built-ins
  * is measurably slow at corpus scale:
  *  - the built-in form needs higher-order functions (`transform`,
  *    `filter`, `aggregate`, `zip_with`), which are `CodegenFallback`:
  *    interpreted per row, with lambda frames and intermediate arrays;
  *  - the built-in form inlines one loop per plane, centroid or
  *    substring into a single generated method, which passes the JIT's
  *    8 KB method-size ceiling so the whole stage runs interpreted;
  *  - a pure per-document value was computed by exploding rows and
  *    re-aggregating them (row expansion, a hash-aggregate probe per
  *    row, an exchange).
  * Otherwise compose built-ins ([[Portable]]). Each kernel is pinned
  * bit-identical to the composition it replaced (KernelEquivalenceSpec)
  * and, on the query paths, to the DuckDB oracle.
  *
  * Arguments: the helper's parameters are the columns in order, then
  * the consts. Every column comes with the input type the helper
  * accepts (the analyzer casts implicitly where it can, and rejects the
  * call otherwise); per-call constants go as `lit` columns; constant
  * state goes last, as `consts`. A const is an immutable holder with
  * value equality and a compact `toString`, passed as an object
  * literal — so two kernels built independently from equal state are
  * `semanticEquals` (subexpression elimination evaluates them once) and
  * plans stay readable.
  *
  * `nullSafe = true` (the default): a null column argument yields null
  * without calling the helper. Kernels that define their own result for
  * a null input pass `false`: the helper then receives the null and the
  * result is never null. A primitive parameter (long, double, …) cannot
  * receive a null, so a nullable column bound to one still nulls the
  * result; coalesce it first.
  */
private[graft] object Kernel {

  def apply(helper: AnyRef, fn: String, dataType: DataType,
            args: Seq[(Column, DataType)],
            consts: Seq[AnyRef] = Nil, nullSafe: Boolean = true): Column = {
    val lits = consts.map(Literal.fromObject)
    GraftColumnBridge.column(StaticInvoke(helper.getClass, dataType, fn,
      args.map(a => GraftColumnBridge.expression(a._1)) ++ lits,
      args.map(_._2) ++ lits.map(_.dataType),
      propagateNull = nullSafe, returnNullable = false))
  }
}
