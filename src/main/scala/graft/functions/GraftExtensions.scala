package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.execution.{ColumnarRule, DriverRows}

/** Session extensions registering graft's native Catalyst expressions and
  * the job-free broadcast and global sort of driver-held rows
  * (`DriverRows`).
  * Install with `SparkSession.builder().withExtensions(new GraftExtensions)`
  * or `spark.sql.extensions=graft.functions.GraftExtensions`; call sites
  * then reach the functions via `functions.call_function("graft_dot", ...)`
  * or SQL.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // AQE plans stage by stage; a plan made with AQE off (e.g. inside a
    // ScopedConf scope) meets the rule just before its columnar pass
    ext.injectQueryStagePrepRule(_ => DriverRows.broadcastRule)
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions = DriverRows.broadcastRule
    })
    ext.injectOptimizerRule(_ => DriverRows.sortRule)
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProductD].getName, "graft_dot"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "graft_dot(arrayA, arrayB) takes 2 arguments")
        DotProductD(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "graft_bloom_contains"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2,
          "graft_bloom_contains(filterBytes, hash) takes 2 arguments")
        BloomMightContain(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1, "graft_nfc(text) takes 1 argument")
        NfcNormalize(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash32].getName, "graft_simhash"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1, "graft_simhash(tokenHashes) takes 1 argument")
        SimHash32(children.head)
      }))
  }
}
