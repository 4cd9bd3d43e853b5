// Lives in Spark's execution package to reach the private[sql]
// `cloneSession` and Dataset constructor (same access level as
// CleanCheckpoint).
package org.apache.spark.sql.execution

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{Dataset, SparkSession}

/** SQL settings scoped to one call, without writing to the caller's
  * session.
  *
  * `withConf` clones the caller's session, sets the overrides on the
  * clone and hands the body a [[ScopedConf.Scope]]. A frame's actions
  * plan and run under the session it is bound to, so the body re-binds
  * its inputs to the clone with `in`, and every frame that outlives the
  * scope goes back through `out`. A clone-bound frame that escaped
  * would drag the scope's settings into whatever later joins it: a
  * mixed plan takes the session of its left side.
  *
  * The clone shares the SparkContext, block manager and checkpoints,
  * and it copies the caller's runtime confs and temp views (a
  * `newSession()` would drop both). Other queries on the caller's
  * session, on any thread, keep their settings, and nothing is
  * restored on exit.
  */
object ScopedConf {

  /** `session` is the clone, for work that must start there (e.g. a read
    * whose schema inference depends on the scope's settings). */
  final class Scope private[ScopedConf] (val session: SparkSession,
                                         caller: SparkSession) {
    /** `df` bound to the clone: its actions see the scope's settings. */
    def in(df: DataFrame): DataFrame = rebind(df, session)

    /** `df` bound back to the caller's session. */
    def out(df: DataFrame): DataFrame = rebind(df, caller)
  }

  def withConf[A](spark: org.apache.spark.sql.SparkSession,
                  conf: (String, String)*)(body: Scope => A): A = {
    val caller = spark.asInstanceOf[SparkSession]
    body(new Scope(cloneFor(caller, conf), caller))
  }

  /** Clones by caller session and overrides, each with the caller confs
    * it copied. Every new session gets its own artifact state, so the
    * first queries of a clone load a new executor class loader and
    * recompile their generated code: a clone per call made the
    * maintenance gates 6-9% slower (sf0.01, local[4]). A clone is reused
    * while the caller's confs still equal the ones it copied, and it is
    * never changed after it is made, so threads share it. Temp views
    * the caller creates later are not seen by a reused clone.
    */
  private val clones = new java.util.LinkedHashMap[
      (String, Seq[(String, String)]), (Map[String, String], SparkSession)](
      16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[
        (String, Seq[(String, String)]),
        (Map[String, String], SparkSession)]): Boolean = size() > 16
  }

  private def cloneFor(caller: SparkSession,
                       conf: Seq[(String, String)]): SparkSession = {
    val key = (caller.sessionUUID, conf)
    val callerConf = caller.conf.getAll
    clones.synchronized {
      Option(clones.get(key)).filter(_._1 == callerConf).map(_._2)
        .getOrElse {
          val clone = caller.cloneSession()
          conf.foreach { case (k, v) => clone.conf.set(k, v) }
          clones.put(key, (callerConf, clone))
          clone
        }
    }
  }

  private def rebind(df: DataFrame, to: SparkSession): DataFrame =
    if (df.sparkSession eq to) df
    else Dataset.ofRows(to, df.queryExecution.analyzed)
}
