package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}

package functions {

  /** A request value bound by reference: a [[Literal]] to everything
    * that reads the plan, but its generated code reads the value from the
    * class's references into a primitive field set once at init, where a
    * plain Literal inlines it. Generated code is then the same text for
    * every value, and Spark's code cache serves it without a compile.
    * Null and types other than Long/Int/Double generate as a plain
    * Literal (the others already bind by reference, or are not request
    * values). Build it through [[functions.param]]. */
  private[functions] final class BoundLiteral(v: Any, t: DataType)
      extends Literal(v, t) {
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      t match {
        case LongType | IntegerType | DoubleType if v != null =>
          val javaType = CodeGenerator.javaType(t)
          val ref = ctx.addReferenceObj("param", v, CodeGenerator.boxedType(t))
          val field = ctx.addMutableState(javaType, "param",
            f => s"$f = $ref.${javaType}Value();", forceInline = true)
          ExprCode.forNonNullValue(JavaCode.global(field, t))
        case _ => super.doGenCode(ctx, ev)
      }
  }
}

package object functions {

  /** A request value (a query id, a probed partition id, a score
    * threshold) as a Column that stays one compiled class across
    * requests. It is a [[org.apache.spark.sql.catalyst.expressions.Literal]]
    * of `v`'s type to the analyzer, the optimizer and filter pushdown:
    * `PushedFilters`, `PartitionFilters`, constant folding, `OptimizeIn`
    * and plan strings read exactly as with `lit(v)`. Only its generated
    * code differs: `lit(v)` inlines the value, so each new value compiles
    * new classes (milliseconds of Janino per request); `param(v)` reads it
    * by reference.
    *
    * Build it at the call site, typed like the column it meets: a cast
    * around it folds into a plain inlined Literal, and no rewrite rule can
    * substitute it later, since `Literal.equals` compares only value and
    * type and a transform that swaps an equal node is discarded.
    * `OptimizeIn` turns an Int `IN` list of more than 10 values into an
    * `InSet` switch, which inlines its values whatever they were built as. */
  def param(v: Any): Column = {
    val l = Literal(v)
    Bridge.col(new BoundLiteral(l.value, l.dataType))
  }
}
