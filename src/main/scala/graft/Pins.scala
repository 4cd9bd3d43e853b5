package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Lifecycle tracker for eager checkpoints inside fixpoint loops.
  *
  * Iterative operators (path closures, blank-node closures, dictionary
  * repair, graph iterations) checkpoint each round to cut lineage; the
  * superseded rounds' blocks otherwise stay pinned in the block manager
  * until a driver GC lets ContextCleaner reap them — under a throughput
  * collector that can be a whole bench run, and the accumulated blocks
  * eventually crowd the old generation (observed as progressive slowdown
  * late in long many-query sessions). `Pins` makes the release explicit:
  * `pin` tracks each intermediate checkpoint, `seal` materializes the
  * loop's final result ONCE and then frees every tracked intermediate
  * immediately.
  *
  * CHECKPOINT STRATEGY (pluggable, per session): a LOCAL checkpoint
  * stores blocks on executors — fastest, but on a real cluster one lost
  * executor kills the lineage-truncated job mid-loop. A RELIABLE
  * checkpoint writes to the fault-tolerant `spark.checkpoint.dir`
  * filesystem and survives executor loss. The strategy is chosen by the
  * `spark.graft.pins.reliable` conf: `true`/`false` force it, anything
  * else (the default) selects reliable exactly when a checkpoint dir is
  * configured AND the master is non-local — at `local[*]` executor loss
  * cannot happen, so the local strategy is strictly better there.
  *
  * Only checkpoints that are truly superseded may be released — a
  * checkpointed RDD has no lineage to recompute from — which is exactly
  * the contract `seal` enforces by materializing the result first.
  * Released RELIABLE checkpoints also delete their checkpoint files
  * (best-effort), so long-lived sessions don't leak the checkpoint dir.
  */
final class Pins {
  // synchronized: update scripts pin hazard-free ops' deltas from
  // CONCURRENT prefetch threads (Sparql.update*)
  private val tracked = scala.collection.mutable.ListBuffer.empty[DataFrame]
  private def add(df: DataFrame): DataFrame =
    synchronized { tracked += df; df }

  /** Eagerly checkpoint `df` (strategy above) and track it for release. */
  def pin(df: DataFrame): DataFrame = add(Pins.checkpoint(df))

  /** Track an already-checkpointed frame for release. */
  def track(df: DataFrame): DataFrame = add(df)

  /** Checkpoint `df` and return its row count, in ONE job: the
    * checkpoint is created lazily and the count action materializes it.
    * The separate pin-then-count sequence pays the per-job scheduling
    * floor twice — measured ~0.15 s per extra job at local[32] — for
    * work the count job already does.
    */
  def pinCounted(df: DataFrame): (DataFrame, Long) = {
    val c = add(Pins.checkpointLazy(df))
    (c, c.count())
  }

  /** Materialize `result` into its own (untracked) checkpoint, then free
    * every tracked intermediate. The returned frame owns its blocks and
    * no longer references any released one.
    */
  def seal(result: DataFrame): DataFrame = {
    val out = Pins.checkpoint(result)
    release()
    out
  }

  /** Free all tracked checkpoints (callers must not use them afterwards). */
  def release(): Unit = {
    val t = synchronized { val l = tracked.toList; tracked.clear(); l }
    t.foreach(Pins.unpin)
  }
}

object Pins {
  /** Eager checkpoint under the session's strategy (see class doc). */
  private[graft] def checkpoint(df: DataFrame): DataFrame =
    if (reliable(df)) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** LAZY checkpoint under the session's strategy — materialized by the
    * caller's next action (see [[Pins.pinCounted]]).
    */
  private[graft] def checkpointLazy(df: DataFrame): DataFrame =
    if (reliable(df)) df.checkpoint(eager = false)
    else df.localCheckpoint(eager = false)

  /** Does `df`'s session checkpoint reliably (see class doc)? */
  private def reliable(df: DataFrame): Boolean = {
    val sc = df.sparkSession.sparkContext
    val r = df.sparkSession.conf.get("spark.graft.pins.reliable", "auto") match {
      case "true"  => true
      case "false" => false
      case _       => sc.getCheckpointDir.isDefined && !sc.isLocal
    }
    require(!r || sc.getCheckpointDir.isDefined,
      "spark.graft.pins.reliable=true needs sparkContext.setCheckpointDir")
    r
  }

  /** Drop the storage behind an eager checkpoint: block-manager blocks
    * always, plus the checkpoint files when the frame was reliably
    * checkpointed (it is superseded — nothing may read it again).
    * A checkpointed Dataset's plan is a `LogicalRDD` over the
    * materialized RDD; anything else is left alone (nothing to free).
    */
  def unpin(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: LogicalRDD =>
        l.rdd.unpersist(blocking = false)
        l.rdd.getCheckpointFile.foreach { f =>
          try {
            val p = new org.apache.hadoop.fs.Path(f)
            p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
              .delete(p, true)
          } catch { case _: Throwable => () }
        }
      case _ => ()
    }

  /** Is this frame already a materialized checkpoint? */
  def isPinned(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LogicalRDD]

  /** Is this frame already materialized — a checkpoint OR a persisted
    * (cached) frame? Fixpoint loops use this to leave caller-managed
    * frames alone: re-checkpointing a CACHED frame would not only waste
    * a materialization, it would REPLACE the InMemoryRelation (whose
    * outputPartitioning the per-round joins rely on to skip the big-side
    * exchange) with a partitioning-blind LogicalRDD.
    */
  def isMaterialized(df: DataFrame): Boolean =
    isPinned(df) ||
      df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
}
