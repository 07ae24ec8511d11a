package graft.core

import org.apache.spark.sql.{Column, DataFrame, GraftShims}
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StringType

/** Executes a parsed [[Query]] against a DataFrame by handing a declarative
  * plan to Catalyst: `df.filter(pred).select(cols)`.
  *
  * The reference evaluates the filter to a row-id set first and then
  * projects (/root/reference/src/query_engine.rs:26-33); Catalyst gets the
  * same effect (and more) for free via predicate pushdown and column
  * pruning — filters and the projected column set reach the data source
  * scan, which the reference never does (SURVEY.md §4).
  *
  * Column names are pre-validated against the schema so unknown columns
  * fail with the reference's exact error text (table.rs:141-144), in the
  * reference's order: the FILTER column is resolved before the projection
  * list (query_engine.rs:26-33 runs apply_filter first).
  *
  * Comparison semantics: the literal is cast to the column's data type and
  * compared with Spark semantics — numeric on Long columns, lexicographic
  * on String columns. The cast is a TRY cast evaluated once on the driver
  * in the session time zone: a literal that does not cast (e.g. text vs a
  * Long column) becomes null and matches nothing, instead of an ANSI
  * runtime error. The typed value is bound as a [[ParamLiteral]], which
  * generated code reads by reference rather than as source text, so
  * queries that differ only in the literal share one compiled class
  * instead of paying a Janino compile per new value (a REPL session
  * mostly re-asks one shape with new values). It is still a `Literal`,
  * so parquet filter pushdown and cached-batch stats pruning see it as
  * one. A column type that a string cannot be cast to (array, struct,
  * map) is refused with an error. We deliberately do NOT
  * reproduce the reference's mixed-type debug-string ordering or its
  * `=`-at-index-0 defects (SURVEY.md §7.4.1-2).
  *
  * Result ordering: results are unordered sets (standard relational
  * semantics); the reference's value-sorted `>` output is an index
  * artifact we do not chase (SURVEY.md §7.4.1).
  */
object Executor {

  def execute(query: Query, df: DataFrame): Either[String, DataFrame] = {
    val existing = df.columns
    def resolve(name: String): Either[String, String] =
      if (existing.contains(name)) Right(name)
      else
        Left(
          s"Cannot find column $name, it does not exist in the table, existing columns ${existing.mkString(", ")}")

    for {
      filtered <- query.filter match {
        case Some(f) =>
          resolve(f.columnName).flatMap { c =>
            val dt = df.schema(c).dataType
            if (!Cast.canTryCast(StringType, dt))
              Left(s"Cannot compare column $c of type ${dt.simpleString} with a literal")
            else {
              val tz = df.sparkSession.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key)
              val value =
                Cast(Literal(f.value.render), dt, Some(tz), EvalMode.TRY).eval()
              val typedLit = GraftShims.toColumn(new ParamLiteral(value, dt))
              val pred = f.op match {
                case FilterOp.Greater => col(c) > typedLit
                case FilterOp.Equal   => col(c) === typedLit
              }
              Right(df.filter(pred))
            }
          }
        case None => Right(df)
      }
      projected <- query.columnNames.foldLeft[Either[String, Vector[Column]]](
        Right(Vector.empty)) { (acc, name) =>
        acc.flatMap(cols => resolve(name).map(cols :+ col(_)))
      }
    } yield filtered.select(projected: _*)
  }
}
