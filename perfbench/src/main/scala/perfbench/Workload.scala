package perfbench

import org.apache.spark.sql.SparkSession

/** One operation a client sends. `run` is the timed call into the
  * program; `evidence` turns its output into what `verify` checks, after
  * the timer has stopped. `key` names the inputs, so ops with equal keys
  * must give equal answers.
  */
final class Op(val template: String, val write: Boolean, val key: String,
               val run: Tracer => Any, val evidence: Any => Any)

/** A finished op of the timed phase. `out` is the evidence, or the error. */
final case class Done(id: Long, client: Int, op: Op, start: Long, end: Long,
                      out: Either[Throwable, Any]) {
  def ms: Double = (end - start) / 1e6
}

/** The runner's view of a workload. It builds its state cold in `setup`,
  * hands the runner ops in closed-loop order, and checks the results
  * against answers it computes without the program.
  */
abstract class Workload {
  type State
  def clients: Int = 1
  /** Ops per round; the timed phase ends on a round boundary. */
  def roundSize: Int
  /** Samples the phase must hold before it may end, besides its time. */
  def minReads: Int = 24

  /** Cold build of the store handle and the artifacts the ops read, in a
    * fresh session. Returns the state and each built part's seconds.
    */
  def setup(spark: SparkSession): (State, Seq[(String, Double)])

  /** The untimed ops each client runs before the phase, which starts at
    * `k = roundSize`: by default the whole first round.
    */
  def warmup: Seq[Long] = 0L until roundSize

  /** Untimed inputs the ops need beyond the setup artifacts. */
  def prepare(st: State): Unit = ()

  /** Client `client`'s `k`-th op. */
  def op(st: State, client: Int, k: Long): Op

  /** Failure reason per failed op id (outside the timed phase). */
  def verify(st: State, done: Seq[Done]): Map[Long, String]

  /** A check of the whole run after the phase (e.g. a maintained closure
    * against a full rebuild); `Some(reason)` on mismatch.
    */
  def finalCheck(st: State): Option[String] = None
}
