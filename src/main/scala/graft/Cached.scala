package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of Spark materialization: every `.persist(`, `.cache()`,
  * `.unpersist(` and checkpoint call in `src/main` is in this file
  * (EntrySpec holds the code to that).
  *
  * CACHE CONTRACT
  *  - [[hold]] persists at MEMORY_AND_DISK, the level `Dataset.cache()`
  *    defaults to, and lazily: the cache fills during the first action
  *    over the frame, so holding adds no job.
  *  - A plan that is already cached (Spark matches plans by equality,
  *    not by object) is not cached again. Its second holder gets a
  *    release that does nothing: the cache stays its first owner's, and
  *    two owners of an equal plan never drop each other's cache.
  *  - `release` unpersists, without blocking, only what its own hold
  *    cached, and only once. Frames derived from a released one stay
  *    correct: they recompute instead of reading the cache. Release
  *    after the last action that should read the cache.
  *  - Handles release downstream first. A model or index that owns
  *    caches keeps them in its `release()`, which runs its handles;
  *    [[graft.pipeline.Pipeline.Result]] does the same for a run.
  *  - Every exit releases: [[using]] releases in `finally`, and a
  *    refusal releases what it held before it throws ([[guard]]).
  *  - A lazy plan owns no action, so it cannot release what it reads.
  *    An entry point that returns one over a held frame (the near-dup
  *    pair and dedup entry points, `Hll.overlap`, `VocabDrift`) says
  *    so and leaves the frame cached; long-lived sessions clear the
  *    cache between calls, as the Verify/Bench/Determinism harnesses do
  *    between queries.
  *  - [[truncate]] cuts an iterative plan's lineage: a reliable
  *    checkpoint when the session has a checkpoint dir (it survives
  *    executor loss), else a localCheckpoint. [[drop]] frees one once
  *    its successor is materialized: `unpersist` alone is a no-op for
  *    both kinds.
  */
object Cached {

  /** A frame and the release of whatever [[hold]] cached for it. */
  final case class Held(df: DataFrame, release: () => Unit)

  def hold(df: DataFrame): Held =
    if (df.storageLevel != StorageLevel.NONE) Held(df, () => ())
    else {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      var held = true
      Held(df, () => if (held) { held = false; df.unpersist(blocking = false): Unit })
    }

  /** `body` over the held frame, released on every exit. */
  def using[A](df: DataFrame)(body: DataFrame => A): A = {
    val h = hold(df)
    try body(h.df) finally h.release()
  }

  /** `body`'s value; if it throws, `held` are released first, in order. */
  def guard[A](held: Held*)(body: => A): A =
    try body catch { case t: Throwable => held.foreach(_.release()); throw t }

  /** `df` with its lineage cut. The reliable checkpoint is always eager:
    * nothing downstream may trust it before the write completes. A lazy
    * localCheckpoint fills during the first action over it. */
  def truncate(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)
    else df.localCheckpoint(eager)

  /** Free a [[truncate]]d frame that nothing reads any more: delete its
    * reliable checkpoint files (`spark.cleaner.referenceTracking
    * .cleanCheckpoints` defaults off) and unpersist its localCheckpoint
    * blocks. The RDD comes from the `LogicalRDD` leaf the checkpoint
    * made: `queryExecution.toRdd` derives a fresh RDD with no checkpoint
    * file. Best effort: a failure costs storage, not correctness. */
  def drop(df: DataFrame): Unit =
    try df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }.foreach { r =>
      r.getCheckpointFile.foreach { p =>
        val path = new org.apache.hadoop.fs.Path(p)
        path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
          .delete(path, true): Unit
      }
      r.unpersist(blocking = false): Unit
    } catch { case scala.util.control.NonFatal(_) => () }
}
