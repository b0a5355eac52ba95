package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The round loop of the iterative operators in [[Graph]] and [[Dedup]].
  * Each round's state is an eager `localCheckpoint`, so a round's plan is
  * one step deep however many rounds run, and the round before it is
  * released as soon as the new one is materialized. This is the one place
  * that releases such a checkpoint.
  */
private[ops] object Rounds {

  /** The final state, an eager checkpoint the caller's result reads, and
    * whether `done` ended the loop before the round budget did.
    */
  final case class Result(state: DataFrame, done: Boolean)

  /** Checkpoint `init`, then set `state = step(state, r)` for
    * `r = 1 .. maxRounds`, checkpointing each new state and releasing the
    * one before it. The loop stops early once `done(prev, next)` holds;
    * `done` runs before `prev` is released. `inputs` are checkpoints the
    * steps read and the final state does not: they are released when the
    * loop ends. Runs one job per checkpoint plus the jobs `done` runs.
    */
  def run(init: DataFrame, maxRounds: Int, inputs: Seq[DataFrame] = Nil,
      done: (DataFrame, DataFrame) => Boolean = (_, _) => false)(
      step: (DataFrame, Int) => DataFrame): Result = {
    var state = init.localCheckpoint(true)
    var round = 0
    var stop = false
    while (!stop && round < maxRounds) {
      round += 1
      val next = step(state, round).localCheckpoint(true)
      stop = done(state, next)
      release(state)
      state = next
    }
    release(inputs: _*)
    Result(state, stop)
  }

  /** Drop the cached blocks behind checkpoints no plan reads again. */
  def release(checkpoints: DataFrame*): Unit =
    checkpoints.foreach(_.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ =>
    })
}
