package graft.core

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.types.DataType

/** A [[Literal]] whose generated code reads a primitive value from the
  * codegen references array instead of writing it into the Java source.
  *
  * Spark's `Literal.doGenCode` spells Long, Int, Date, Double, … values
  * out as source text (`4242L`), so two plans that differ only in such a
  * value generate two different classes: every new value misses the
  * codegen cache and pays a Janino compile, class loading and JIT warm-up.
  * Read through `ctx.addReferenceObj`, every value of one query shape
  * shares one compiled class. Null and non-primitive values (UTF8String,
  * Decimal, …) are already referenced by `Literal` itself.
  *
  * The node is still a `Literal`, so the optimizer, parquet filter
  * pushdown and cached-batch stats pruning treat it exactly as one.
  */
class ParamLiteral(v: Any, dt: DataType) extends Literal(v, dt) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (value == null || !CodeGenerator.isPrimitiveType(dataType)) super.doGenCode(ctx, ev)
    else {
      val boxed = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
      val unboxed = s"$boxed.${CodeGenerator.javaType(dataType)}Value()"
      ExprCode.forNonNullValue(JavaCode.expression(unboxed, dataType))
    }
}
