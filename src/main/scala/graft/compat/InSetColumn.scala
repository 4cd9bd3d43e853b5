// Lives in Spark's execution package to reach the private[sql] bridge
// between Catalyst expressions and Columns (same access level as
// CleanCheckpoint).
package org.apache.spark.sql.execution

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.classic.ExpressionUtils

/** `c IN values` as one `InSet` over a driver-side hash set.
  *
  * `Column.isin(values: _*)` builds an `In` with one literal child per
  * value and only becomes an `InSet` in the optimizer; every analyzer
  * rule walks those children first. Filtering a 100k-row dictionary by
  * 50k ids and collecting took ~1.7 s that way, ~0.3 s with this
  * (4-core host). A broadcast semi-join against a driver-side id
  * relation starts no extra job either (`DriverRows`), but took ~20 ms
  * longer per probe of that dictionary at 24, 2,000 and 50,000 ids.
  */
object InSetColumn {
  /** `values` must be in Catalyst's internal form (boxed longs for a
    * LongType column).
    */
  def apply(c: Column, values: Set[Any]): Column =
    ExpressionUtils.column(InSet(ExpressionUtils.expression(c), values))
}
