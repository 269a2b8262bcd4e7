package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: installs graft's native functions
  * into any session built with
  * `.withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions` —
  * the deployment path for a cluster where users only touch SQL.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  // 11-arg ExpressionInfo signature is (className, db, name, usage, ...)
  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[SimHash].getName, "", name, usage, "", "", "", "", "4.0.0", "", "scala_udf")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("simhash"),
      info("simhash", "simhash(array<string>) - 60-bit (md5-top-60) SimHash of a token array"),
      (exprs: Seq[Expression]) => SimHash(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("min_rolling_hash"),
      info("min_rolling_hash", "min_rolling_hash(string) - winnowing fingerprint (k=16)"),
      (exprs: Seq[Expression]) => MinRollingHash(exprs.head, 16)))
    ext.injectFunction((
      FunctionIdentifier("long_dot"),
      info("long_dot", "long_dot(array<long>, array<long>) - exact integer dot product"),
      (exprs: Seq[Expression]) => LongDot(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("srp_bits"),
      info("srp_bits", "srp_bits(array<float>) - 16-plane sign-random-projection signature"),
      (exprs: Seq[Expression]) => SrpSig(exprs.head, 16)))
    ext.injectFunction((
      FunctionIdentifier("sign_project"),
      info("sign_project",
        "sign_project(array<long>) - 64->16 JL sign projection (md5-parity matrix, q197 geometry)"),
      (exprs: Seq[Expression]) =>
        SignProject(exprs.head, GraftFunctions.DefaultJlSigns, 16)))
    ext.injectFunction((
      FunctionIdentifier("bloom_bits"),
      info("bloom_bits", "bloom_bits(string, m, k) - the k bloom bit positions of a value under an m-bit filter (m/k must be integer literals)"),
      (exprs: Seq[Expression]) => {
        // The builder runs at resolution time, so bad arity / a non-literal
        // m or k must surface as a clean AnalysisException (the documented
        // contract), not an IndexOutOfBounds / opaque eval cast failure.
        def litInt(e: Expression, pos: String): Int = {
          val v = if (e.foldable) e.eval() else null
          v match {
            case n: Number => n.intValue
            case _ =>
              throw new org.apache.spark.sql.AnalysisException(
                errorClass = "NON_FOLDABLE_ARGUMENT",
                messageParameters = Map(
                  "funcName" -> "`bloom_bits`",
                  "paramName" -> s"`$pos`",
                  "paramType" -> "\"INT\""))
          }
        }
        if (exprs.length != 3)
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
            messageParameters = Map(
              "functionName" -> "`bloom_bits`",
              "expectedNum" -> "3",
              "actualNum" -> exprs.length.toString,
              "docroot" -> "https://spark.apache.org/docs/latest"))
        BloomBits(exprs.head, litInt(exprs(1), "m"), litInt(exprs(2), "k"))
      }))
    // plan rewrite: naive interval joins → bucketed equi-joins (active
    // only when spark.graft.rangeJoin.bucketWidth is set)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite())
    // physical planning for the TopKPerKey logical operator
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    // SQL time travel over BucketedTableStore versions: `t VERSION AS OF n`
    // (active only when spark.graft.store.root is set)
    ext.injectParser((session, delegate) =>
      new graft.plans.TimeTravelParser(session, delegate))
  }
}
