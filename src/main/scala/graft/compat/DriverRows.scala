// Lives in Spark's execution package to override the private[spark]
// `executeCollectIterator` and reach the private[sql] Dataset constructor
// (same access level as CleanCheckpoint).
package org.apache.spark.sql.execution

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.types.StructType

/** Rows the driver already holds: frames over them, and broadcasts and
  * global sorts of them that start no Spark job.
  *
  * `BroadcastExchangeExec` reads its child through
  * `executeCollectIterator`, which `LocalTableScanExec` does not
  * override: the default collects `getByteArrayRdd()`, one job that
  * ships the scan's own rows out to tasks and back. [[broadcastRule]]
  * gives every broadcast of a local scan a [[DriverRowsExec]] source
  * instead, which hands the broadcast the scan's rows; Spark's
  * HashedRelation build and `sparkContext.broadcast` then run on the
  * driver alone. `GraftExtensions` installs the rule both as an AQE
  * query-stage preparation rule and, for plans made with AQE off, as a
  * pre-columnar-transition rule (after `EnsureRequirements` has placed
  * the exchanges). [[sortRule]], an optimizer rule, sorts a local
  * relation where it is.
  */
object DriverRows {

  /** A frame over `rows` (Catalyst's internal form, laid out as
    * `schema`) with fresh attributes, so it joins with itself like any
    * other relation. The rows are not copied.
    */
  def frame(spark: org.apache.spark.sql.SparkSession, schema: StructType,
            rows: Seq[InternalRow]): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** A global sort directly over a (batch) local relation becomes the
    * local relation with its rows sorted on the driver, by Spark's own
    * ordering of the `SortOrder`s (direction and null order kept). The
    * distributed sort of rows the driver holds ships them out and back
    * in three jobs (sample, range exchange, collect).
    */
  val sortRule: Rule[LogicalPlan] = new Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
      case Sort(order, true, l: LocalRelation, _)
          if !l.isStreaming && order.forall(o =>
            o.deterministic && !SubqueryExpression.hasSubquery(o)) =>
        l.copy(data = l.data.sorted(new LazilyGeneratedOrdering(order, l.output)))
    }
  }

  val broadcastRule: Rule[SparkPlan] = new Rule[SparkPlan] {
    override def apply(plan: SparkPlan): SparkPlan = plan.transform {
      case b @ BroadcastExchangeExec(_, scan: LocalTableScanExec) =>
        val src = DriverRowsExec(scan)
        // AQE finds a new stage's logical plan through this link
        src.copyTagsFrom(scan)
        b.withNewChildren(Seq(src))
    }
  }
}

/** `scan` with a job-free `executeCollectIterator` (see [[DriverRows]]). */
case class DriverRowsExec(scan: LocalTableScanExec) extends LeafExecNode {
  override def output: Seq[Attribute] = scan.output
  override lazy val metrics: Map[String, SQLMetric] = scan.metrics
  override protected def doExecute(): RDD[InternalRow] = scan.execute()
  override private[spark] def executeCollectIterator(): (Long, Iterator[InternalRow]) = {
    val rows = scan.executeCollect()
    (rows.length.toLong, rows.iterator)
  }
}
