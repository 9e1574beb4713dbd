package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, StructType}

/** Session-extension packaging of the engine: with
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`), plain `spark.sql(...)`
  * accepts the reference dialect — no `Engine.query` wrapper needed — and
  * the native kernel expressions are session-registered SQL functions.
  *
  *   - Parser injection: [[DialectParser]] applies [[Dialect.rewrite]]
  *     (pandas CAST type names, `today()`, two-arg `timestamp()`, set-op
  *     branch parenthesization) in front of Spark's ANTLR parser. Only
  *     `parsePlan`/`parseQuery` — the query entry points — rewrite;
  *     identifier/schema/type parsing delegates untouched.
  *   - Function injection: every `GraftFunctions.sqlFunctions` entry
  *     (`graft_dot`, `graft_minhash`, `graft_redact_pii`, …) becomes a
  *     catalog function, usable from SQL without any registration call.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectParser { case (_, delegate) => new DialectParser(delegate) }

    graft.functions.GraftFunctions.sqlFunctions.foreach {
      case (name, usage, builder) =>
        e.injectFunction((FunctionIdentifier(name),
          graft.functions.GraftFunctions.info(name, usage), builder))
    }
  }
}

/** Applies the graft dialect pre-pass to query text, then delegates to
  * Spark's parser. Non-query entry points (identifiers, schemas, types)
  * pass through untouched — the dialect only concerns query text. */
class DialectParser(delegate: ParserInterface) extends ParserInterface {

  // finalSetOpBranchLocal=false: the session-wide parser only rewrites
  // constructs stock Spark would reject (per-branch ORDER BY/LIMIT on
  // non-final set-op inputs, pandas cast names, today()); a trailing
  // ORDER BY + LIMIT keeps its ANSI whole-result meaning, so injecting
  // this parser never changes the result of a valid Spark query. The
  // reference's branch-local trailing-LIMIT grammar lives only behind
  // Engine.query.
  override def parsePlan(sqlText: String): LogicalPlan =
    delegate.parsePlan(Dialect.rewrite(sqlText, finalSetOpBranchLocal = false))

  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(Dialect.rewrite(sqlText, finalSetOpBranchLocal = false))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)

  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)

  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)

  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)

  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)

  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)

  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}
