package graft.scan

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression => CExpr, _}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Thin SQL-condition -> Pred compiler for the DML API's `tableFilterSql`
  * strings (the surviving sliver of the reference's 1,672-LoC JSQLParser
  * machinery, SqlQueryProcessor.java:580-932 — everything else is
  * Catalyst's job). Unconvertible subtrees degrade to [[Opaque]]: pruning
  * skips them, row filtering still applies the full condition.
  */
object PredSql {
  def compile(spark: SparkSession, sql: String): Pred =
    try convert(spark.sessionState.sqlParser.parseExpression(sql))
    catch { case _: Throwable => Opaque(sql) }

  /** Compile + coerce comparison literals to the referenced column's type
    * (the reference's typed literal conversion, P7 — without it a SQL
    * literal 1.1 is DECIMAL(2,1) and never equals a FLOAT 1.1f). */
  def compile(spark: SparkSession, sql: String, schema: StructType): Pred =
    coerce(compile(spark, sql), schema)

  private def coerceVal(dt: DataType, v: Any): Any = (dt, v) match {
    // scala.BigDecimal extends java.lang.Number too
    case (FloatType, n: java.lang.Number)  => n.floatValue()
    case (DoubleType, n: java.lang.Number) => n.doubleValue()
    case _ => v
  }

  def coerce(p: Pred, schema: StructType): Pred = {
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    def c(col: String, v: Any): Any = types.get(col).map(coerceVal(_, v)).getOrElse(v)
    p match {
      case graft.scan.And(l, r) => graft.scan.And(coerce(l, schema), coerce(r, schema))
      case graft.scan.Or(l, r)  => graft.scan.Or(coerce(l, schema), coerce(r, schema))
      case Eq(k, v)  => Eq(k, c(k, v)); case Ne(k, v) => Ne(k, c(k, v))
      case Lt(k, v)  => Lt(k, c(k, v)); case Le(k, v) => Le(k, c(k, v))
      case Gt(k, v)  => Gt(k, c(k, v)); case Ge(k, v) => Ge(k, c(k, v))
      case graft.scan.In(k, vs)    => graft.scan.In(k, vs.map(c(k, _)))
      case NotIn(k, vs)            => NotIn(k, vs.map(c(k, _)))
      case other => other
    }
  }

  private def attr(e: CExpr): Option[String] = e match {
    case a: UnresolvedAttribute => Some(a.name)
    case Cast(a: UnresolvedAttribute, _, _, _) => Some(a.name)
    case _ => None
  }

  private def litVal(e: CExpr): Option[Any] = e match {
    case Literal(v, dt) => Some(external(v, dt))
    case Cast(Literal(v, dt), _, _, _) => Some(external(v, dt))
    case _ => None
  }

  private def external(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (s: UTF8String, _) => s.toString
    case (micros: Long, TimestampType) =>
      java.time.LocalDateTime.ofEpochSecond(
        java.lang.Math.floorDiv(micros, 1000000L),
        (java.lang.Math.floorMod(micros, 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC)
    case (micros: Long, TimestampNTZType) =>
      java.time.LocalDateTime.ofEpochSecond(
        java.lang.Math.floorDiv(micros, 1000000L),
        (java.lang.Math.floorMod(micros, 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC)
    case (days: Int, DateType) => java.time.LocalDate.ofEpochDay(days.toLong)
    case (d: org.apache.spark.sql.types.Decimal, _) => d.toBigDecimal
    case (other, _) => other
  }

  private def convert(e: CExpr): Pred = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) => graft.scan.And(convert(l), convert(r))
    case org.apache.spark.sql.catalyst.expressions.Or(l, r)  => graft.scan.Or(convert(l), convert(r))
    // NOT(a <=> b) is TRUE for rows where a IS NULL and b isn't (and vice
    // versa) — negate(Eq) would compile to Ne and silently drop those rows,
    // so the negated null-safe compare must stay exact or degrade to Opaque.
    case Not(x @ EqualNullSafe(l, r)) =>
      (attr(l), litVal(r), attr(r), litVal(l)) match {
        case (Some(c), Some(null), _, _) => NotNull(c)
        case (_, _, Some(c), Some(null)) => NotNull(c)
        case _ => Opaque(Not(x).sql)
      }
    case Not(c) => Pred.negate(convert(c))
    case Literal(true, BooleanType)  => AlwaysTrue
    case Literal(false, BooleanType) => AlwaysFalse
    case x @ EqualTo(l, r)        => cmp(x, l, r, Eq.apply, Eq.apply)
    case EqualNullSafe(l, r)      =>
      // x <=> NULL is IsNull; otherwise same as Eq for pruning purposes
      (attr(l), litVal(r), attr(r), litVal(l)) match {
        case (Some(c), Some(null), _, _) => graft.scan.IsNull(c)
        case (_, _, Some(c), Some(null)) => graft.scan.IsNull(c)
        case _ => cmp(e, l, r, Eq.apply, Eq.apply)
      }
    case x @ LessThan(l, r)           => cmp(x, l, r, Lt.apply, Gt.apply)
    case x @ LessThanOrEqual(l, r)    => cmp(x, l, r, Le.apply, Ge.apply)
    case x @ GreaterThan(l, r)        => cmp(x, l, r, Gt.apply, Lt.apply)
    case x @ GreaterThanOrEqual(l, r) => cmp(x, l, r, Ge.apply, Le.apply)
    case org.apache.spark.sql.catalyst.expressions.In(a, list) =>
      (attr(a), seqLits(list)) match {
        case (Some(c), Some(vs)) => graft.scan.In(c, vs)
        case _ => Opaque(e.sql)
      }
    case org.apache.spark.sql.catalyst.expressions.IsNull(a) =>
      attr(a).map(graft.scan.IsNull.apply).getOrElse(Opaque(e.sql))
    case IsNotNull(a) => attr(a).map(NotNull.apply).getOrElse(Opaque(e.sql))
    case org.apache.spark.sql.catalyst.expressions.StartsWith(a, p) =>
      (attr(a), litVal(p)) match {
        case (Some(c), Some(s: String)) => graft.scan.StartsWith(c, s)
        case _ => Opaque(e.sql)
      }
    case IsNaN(a)      => attr(a).map(IsNan.apply).getOrElse(Opaque(e.sql))
    case Not(IsNaN(a)) => attr(a).map(NotNan.apply).getOrElse(Opaque(e.sql))
    case UnresolvedFunction(parts, Seq(a), _, _, _, _, _) if parts.mkString(".") == "isnan" =>
      attr(a).map(IsNan.apply).getOrElse(Opaque(e.sql))
    // the parser leaves `a BETWEEN lo AND hi` an unresolved function; it
    // means lo <= a AND a <= hi (NOT BETWEEN negates through the Not case)
    case UnresolvedFunction(parts, Seq(a, lo, hi), _, _, _, _, _)
        if parts.mkString(".").equalsIgnoreCase("between") =>
      convert(org.apache.spark.sql.catalyst.expressions.And(
        GreaterThanOrEqual(a, lo), LessThanOrEqual(a, hi)))
    case a: UnresolvedAttribute => Eq(a.name, true) // bare boolean column
    case other => Opaque(other.sql)
  }

  /** col-vs-literal comparison, flipping the operator when the literal is
    * on the left (reference "column-side normalization"). A NULL literal
    * must compile to Opaque, NOT AlwaysFalse: `col = NULL` is indeed never
    * TRUE, but the Pred algebra negates structurally — under NOT,
    * AlwaysFalse would flip to AlwaysTrue while SQL `NOT (col = NULL)` is
    * still never true, turning e.g. a no-op DELETE into a full-table wipe.
    * Opaque degrades safely through negate / mayTrue / notTrue /
    * provablyAll. */
  private def cmp(orig: CExpr, l: CExpr, r: CExpr,
      direct: (String, Any) => Pred, flipped: (String, Any) => Pred): Pred =
    (attr(l), litVal(r)) match {
      case (Some(c), Some(v)) => if (v == null) Opaque(orig.sql) else direct(c, v)
      case _ => (attr(r), litVal(l)) match {
        case (Some(c), Some(v)) => if (v == null) Opaque(orig.sql) else flipped(c, v)
        case _ => Opaque(orig.sql)
      }
    }

  private def seqLits(es: Seq[CExpr]): Option[Seq[Any]] = {
    val vs = es.map(litVal)
    if (vs.forall(_.isDefined)) Some(vs.map(_.get)) else None
  }
}
