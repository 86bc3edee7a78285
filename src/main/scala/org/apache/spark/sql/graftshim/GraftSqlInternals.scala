package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.{internal => cn}

/** The one `private[sql]` doorway this engine needs (the standard
  * connector-shim pattern — Delta and Iceberg carry the same kind of
  * bridge): catalyst expressions to and from Columns, and the Column
  * DSL's API-level NODE tree, converted to the
  * catalyst comparison shapes the DELETE-pruning translator matches,
  * WITHOUT an analyzer roundtrip — spinning up an empty DataFrame and
  * a full analysis pass per DELETE was measurable per-commit overhead
  * on commit-dense lifecycles. Conversion is best-effort by design:
  * any unrecognized subtree yields None for its conjunct (that
  * conjunct prunes nothing; the engine re-checks every row anyway).
  */
object GraftSqlInternals {

  /** `cond` split on its AND spine, each conjunct converted — one
    * untranslatable conjunct never poisons its siblings.
    */
  def predicateConjuncts(cond: Column): Seq[Option[Expression]] =
    conjunctsOf(cond.node).map(conv)

  /** A catalyst expression as a Column, and back: how an engine-defined
    * expression ([[graft.functions.Param]]) enters the Column DSL
    * without being registered as a function in the session.
    */
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  private def conjunctsOf(n: cn.ColumnNode): Seq[cn.ColumnNode] =
    n match {
      case f: cn.UnresolvedFunction if !f.isDistinct &&
          f.functionName.equalsIgnoreCase("and") &&
          f.arguments.length == 2 =>
        conjunctsOf(f.arguments(0)) ++ conjunctsOf(f.arguments(1))
      case other => Seq(other)
    }

  private def conv(n: cn.ColumnNode): Option[Expression] = n match {
    case a: cn.UnresolvedAttribute if a.nameParts.length == 1 =>
      Some(AttributeReference(a.nameParts.head,
        org.apache.spark.sql.types.NullType)())
    case l: cn.Literal =>
      // Literal.apply converts EXTERNAL values (java.sql.Date, String,
      // boxed numerics) to catalyst form + type
      scala.util.Try(Literal(l.value)).toOption
    case f: cn.UnresolvedFunction if !f.isDistinct =>
      def a(i: Int): Option[Expression] =
        if (i < f.arguments.length) conv(f.arguments(i)) else None
      (f.functionName.toLowerCase(java.util.Locale.ROOT),
        f.arguments.length) match {
        case ("=" | "==" | "equalto", 2) =>
          for (x <- a(0); y <- a(1)) yield EqualTo(x, y)
        case ("<", 2) => for (x <- a(0); y <- a(1)) yield LessThan(x, y)
        case ("<=", 2) =>
          for (x <- a(0); y <- a(1)) yield LessThanOrEqual(x, y)
        case (">", 2) =>
          for (x <- a(0); y <- a(1)) yield GreaterThan(x, y)
        case (">=", 2) =>
          for (x <- a(0); y <- a(1)) yield GreaterThanOrEqual(x, y)
        case ("and", 2) => for (x <- a(0); y <- a(1)) yield And(x, y)
        case ("or", 2) => for (x <- a(0); y <- a(1)) yield Or(x, y)
        case ("not" | "!", 1) => a(0).map(Not)
        case ("isnull", 1) => a(0).map(IsNull)
        case ("isnotnull", 1) => a(0).map(IsNotNull)
        case ("in", m) if m >= 2 =>
          val all = f.arguments.map(conv)
          if (all.forall(_.isDefined))
            Some(In(all.head.get, all.tail.map(_.get).toSeq))
          else None
        case _ => None
      }
    case _ => None
  }
}
