package graft.engine

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Config-driven session extension: registers every graft function
  * (Trino-dialect parity names + native kernels) at session build time,
  * and the rules below:
  *  - [[graft.catalog.GraftDmlRule]] (resolution): SQL UPDATE / DELETE /
  *    MERGE INTO on graft catalog tables;
  *  - [[graft.serve.PolicyEnforcementRule]] (resolution): row-level
  *    security and masking over catalog tables in served sessions;
  *  - [[graft.sql.GraftSqlParser]] (parser): Trino clauses rewritten
  *    before Spark's parser runs;
  *  - [[ParamLiteral.LiftRule]] (physical, before the columnar
  *    transitions): comparison and arithmetic literals in filters and
  *    projections become [[ParamLiteral]]s, so generated code depends on
  *    a statement's shape, not its values.
  *
  * This is the injection point Spark gives libraries for sessions the
  * library does not itself construct — `spark-submit`, the Thrift
  * server, Spark Connect:
  *
  *   spark.sql.extensions = graft.engine.GraftExtensions
  *
  * (walden's equivalent "always-on surface" is Trino's built-in
  * function library reaching every client, `docker/devserver/
  * Dockerfile:24-26`.) GraftSession sets this config too, so sessions
  * forked from ours inherit the functions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.GraftFunctions.injections.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(graft.functions.GraftFunctions.GraftInfoClass, name),
        builder))
    }
    graft.functions.GraftFunctions.tableInjections.foreach { case (name, builder) =>
      ext.injectTableFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(graft.functions.GraftFunctions.GraftInfoClass, name),
        builder))
    }
    // SQL UPDATE / DELETE / MERGE INTO for graft catalog tables: rewrite the
    // resolved statements onto the store's copy-on-write engine
    // (see graft.catalog.GraftDmlRule for why not SupportsRowLevelOperations)
    ext.injectResolutionRule(session => new graft.catalog.GraftDmlRule(session))
    // Row-level security + masking over CATALOG tables: fires only in
    // sessions carrying an impersonated user + a policy namespace
    // (set by graft.serve.QueryService); inert everywhere else
    ext.injectResolutionRule(session => new graft.serve.PolicyEnforcementRule(session))
    // Trino MATCH_RECOGNIZE clause for plain spark.sql text: rewritten
    // onto the graft_match_recognize TVF before Spark's parser runs
    ext.injectParser((_, delegate) => new graft.sql.GraftSqlParser(delegate))
    // literal-stable generated code: one compiled class per statement
    // shape, whatever its filter values
    ext.injectColumnar(_ => ParamLiteral.Columnar)
  }
}
