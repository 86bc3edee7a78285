package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral, JavaCode, TrueLiteral}
import org.apache.spark.sql.graftshim.GraftSqlInternals
import org.apache.spark.sql.types.DataType

/** A per-call constant bound as a PARAMETER of the generated code.
  *
  * Whole-stage codegen writes a literal's value into the Java source, so
  * a filter on a new date or box is new source: it misses the JVM-wide
  * compiled-class cache and Janino compiles it again. `param(c)` holds
  * the same value, but its code reads it from the generated class's
  * `references` array, so the source (and the compiled class) is the
  * same for every value of `c`.
  *
  * `c` must be constant. The expression is not foldable, so the
  * optimizer keeps it in the plan, but ConstantFolding still turns its
  * child into a literal first: a `lit("2016-01-08").cast("timestamp")`
  * child is parsed in the session time zone exactly as without the
  * wrapper. The value is evaluated once per instance.
  *
  * What it gives up: a predicate on a parameter is not a literal
  * predicate, so it is not pushed into a data source's filters and it
  * does not prune an in-memory relation's cached batches.
  */
case class Param(child: Expression) extends UnaryExpression {

  override def foldable: Boolean = false
  override def dataType: DataType = child.dataType
  override def prettyName: String = "param"

  @transient private lazy val value: Any = child.eval()

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (value == null)
      ev.copy(isNull = TrueLiteral, value = JavaCode.defaultLiteral(dataType))
    else {
      val javaType = CodeGenerator.javaType(dataType)
      val boxed = CodeGenerator.boxedType(dataType)
      val ref = ctx.addReferenceObj("param", value, boxed)
      val read =
        if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()"
        else ref
      // read once per generated instance, not once per row
      val field = ctx.addMutableState(javaType, "param", v => s"$v = $read;")
      ev.copy(isNull = FalseLiteral, value = JavaCode.global(field, dataType))
    }

  override protected def withNewChildInternal(newChild: Expression): Param =
    copy(child = newChild)
}

object Param {
  /** `value` (a constant column) as a parameter column. Goes through the
    * SQL shim, so a session without [[GraftExtensions]] can use it.
    */
  def column(value: Column): Column =
    GraftSqlInternals.column(Param(GraftSqlInternals.expression(value)))
}
