package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}

/** The loop-lineage rule (SCALE.md "Iterative operators") for every loop in
  * `ops` that local-checkpoints its rounds. A local checkpoint truncates
  * lineage, so its blocks ARE the round's data — nothing can recompute them
  * once released. Hence, for every round:
  *
  *   - it materializes with ONE full-scan job before anything it replaces
  *     is released. The round's probe is given as aggregate columns, so it
  *     is always a full scan: a partial action (`isEmpty`, `take`) leaves
  *     partitions unmaterialized, and Spark then computes them in a second
  *     job at checkpoint time;
  *   - release is `unpersist` (cached frames) PLUS
  *     `bridge.unpersistLocalCheckpoint` (checkpoint blocks, which
  *     `Dataset.unpersist` does not touch — a loop without it keeps one dead
  *     frame's blocks per round until GC);
  *   - a result that reads rounds (a union of frontiers, a join onto the
  *     last round) is checkpointed itself before those rounds are released.
  *
  * Every checkpointed loop in `ops` goes through here; nothing else calls
  * `bridge.unpersistLocalCheckpoint`.
  */
private[graft] object Rounds {

  /** Checkpoint `next` as a new round. With probe columns, one aggregate of
    * them over the lazily checkpointed rows both materializes the checkpoint
    * and answers the round's question (emptiness, size, fingerprint); the
    * row holds the probes in order. Without probes the checkpoint is eager
    * and the row is empty.
    */
  def checkpoint(next: DataFrame, probes: Column*): (DataFrame, Row) =
    if (probes.isEmpty) (next.localCheckpoint(true), Row.empty)
    else {
      val cp = next.localCheckpoint(false)
      (cp, cp.agg(probes.head, probes.tail: _*).collect()(0))
    }

  /** [[checkpoint]] `next`, then release the frames it replaces. */
  def advance(replaced: Seq[DataFrame], next: DataFrame,
      probes: Column*): (DataFrame, Row) = {
    val round = checkpoint(next, probes: _*)
    release(replaced)
    round
  }

  /** Checkpoint the loop's result eagerly, then release the rounds it was
    * built from.
    */
  def finish(result: DataFrame, rounds: Seq[DataFrame]): DataFrame = {
    val out = result.localCheckpoint(true)
    release(rounds)
    out
  }

  private def release(frames: Seq[DataFrame]): Unit = frames.foreach { f =>
    f.unpersist()
    org.apache.spark.sql.graft.bridge.unpersistLocalCheckpoint(f)
  }
}
