package graft.pipeline

import org.apache.spark.sql.DataFrame

/** Iteration-checkpoint policy shared by the iterative operators
  * ([[Graph]]'s star/PageRank rounds, [[SemDedup]]'s post-Lloyd frame,
  * [[graft.frontier.Redirects]]' pointer-doubling rounds):
  * with a checkpoint dir configured, persist + EAGER reliable checkpoint
  * (executor-loss survivable — a truncated local lineage cannot be
  * recomputed); otherwise a lazy local checkpoint, which caps Catalyst
  * plan growth at bench scale without paying a write. */
private[graft] object Checkpoints {

  /** Round-boundary lineage break. Reliable mode needs both halves: a lazy
    * reliable checkpoint only marks the RDD, and the eventual action writes
    * just the first marked ancestor, so intermediates would never be
    * written; the persist lets the checkpoint-write job read the partitions
    * the materializing job just produced instead of recomputing them. */
  private[graft] def step(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val c = p.checkpoint(eager = true)
      p.unpersist(blocking = false)
      c
    } else df.localCheckpoint(eager = false)

  /** Release a SUPERSEDED step's checkpoint: delete its reliable
    * checkpoint files (if any) and free its storage blocks. Must only be
    * called once every consumer of the frame has run — the data is
    * unrecoverable afterwards. */
  private[graft] def drop(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.getCheckpointFile.foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
            .delete(p, true)
        }
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
