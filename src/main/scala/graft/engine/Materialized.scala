package graft.engine

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/** A frame plus the exact checkpointed RDDs backing it — the one release
  * handle of every operator that materializes internally (the resolve
  * passes, the strip/span family's candidate pairs, the source-overlap
  * shingle set).
  *
  * Read `df`; call [[close]] ONLY after `df` has been fully materialized
  * (written to a sink, collected, or staged through a further
  * checkpoint): checkpointing truncates lineage, so once the backing is
  * released any further action on `df` fails. One-shot callers may
  * never close — the ContextCleaner reclaims the blocks once the frame
  * is unreferenced — but a long-lived caller (a streaming sink, a
  * driver loop) must, or the checkpoints accumulate for the session.
  */
final class Materialized private (val df: DataFrame, private val backing: Seq[RDD[_]])
    extends AutoCloseable {

  /** A new frame derived from `df` over the same backing; closing either
    * handle releases the same RDDs. */
  def map(f: DataFrame => DataFrame): Materialized =
    new Materialized(f(df), backing)

  /** Merge backings: the handle `f` builds from `df` (typically a further
    * checkpoint that reads it) plus this handle's backing, released by
    * one [[close]]. If `f` throws, this backing is released first — no
    * handle escapes that could release it later. */
  def flatMap(f: DataFrame => Materialized): Materialized = {
    val next =
      try f(df)
      catch { case t: Throwable => close(); throw t }
    new Materialized(next.df, backing ++ next.backing)
  }

  /** Release the backing: unpersist each RDD and delete a reliable
    * checkpoint's files. Idempotent and best-effort. */
  override def close(): Unit = backing.foreach(Materialized.free)
}

object Materialized {

  /** Checkpoint `df` eagerly — `localCheckpoint` by default, the reliable
    * checkpoint dir with `reliable = true` — and hold the RDD it wrote.
    *
    * localCheckpoint persists its backing RDD OUTSIDE the CacheManager, so
    * Dataset.unpersist() can't release the blocks and the ContextCleaner
    * only reclaims them at some future GC. An iterative loop that leaks one
    * checkpoint per pass degrades every LATER query in the session (storage
    * pool pressure) — so each pass frees its predecessor explicitly. The
    * checkpointed RDD is captured PRECISELY from the returned Dataset's own
    * analyzed plan (a LogicalRDD wrapping exactly the RDD localCheckpoint
    * persisted) — never by diffing global sc.getPersistentRDDs, which races
    * with lazy cache registration in this thread (e.g. resolveMinLabel's
    * edges persist) and with concurrent jobs, and unpersisting a FOREIGN
    * local checkpoint is fatal (lineage is truncated; later actions on it
    * cannot recompute). */
  def checkpoint(df: DataFrame, reliable: Boolean = false): Materialized = {
    if (reliable) require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
      "reliableCheckpoints = true requires spark.sparkContext.setCheckpointDir " +
        "(an HDFS/object-store path on a real cluster)")
    val cp = if (reliable) df.checkpoint() else df.localCheckpoint()
    new Materialized(cp, cp.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.toSeq)
  }

  private def free(r: RDD[_]): Unit = {
    r.unpersist(blocking = false)
    // reliable checkpoints additionally leave files in the checkpoint dir;
    // Spark only deletes them via the ContextCleaner (and only with
    // cleanCheckpoints=true, at some future GC) — an iterative loop must
    // reclaim each superseded pass eagerly or a long resolve accumulates
    // one full edge/label snapshot per pass in durable storage.
    // Best-effort: a failed delete costs disk, never correctness.
    r.getCheckpointFile.foreach { p =>
      try {
        val path = new org.apache.hadoop.fs.Path(p)
        path.getFileSystem(r.context.hadoopConfiguration).delete(path, true)
      } catch {
        // genuinely best-effort: Path/getFileSystem can throw non-IO
        // exceptions (malformed URI, unbound scheme) and a cleanup
        // failure must never abort the resolve mid-iteration
        case scala.util.control.NonFatal(_) => ()
      }
    }
  }
}
