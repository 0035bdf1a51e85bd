package graft

import org.apache.spark.sql.DataFrame

/** The lifetime of every intermediate graft materializes: nothing else
  * in graft persists, checkpoints or creates a temporary directory.
  *
  *  - [[truncate]] is the only eager materialization. It cuts the
  *    lineage of iteration state and of results that must outlive a
  *    scope below.
  *  - [[cached]] persists a frame for the length of a block.
  *  - [[tempDir]] creates a directory for the length of a block.
  *
  * A scope releases on EVERY exit, normal or thrown, so an operator
  * that fails mid-flight leaves no cache entry and no directory
  * behind. The one condition on the caller: a result that still reads
  * the scoped cache or directory must be materialized (with
  * [[truncate]] or a driver action) before the scope closes. Nested
  * scopes release innermost first, which is how an operator drops a
  * large intermediate before the next step runs.
  *
  * `truncate` materializes to executor block storage
  * (`localCheckpoint`) — fast, but on a real cluster a lost executor
  * takes its blocks with it, and truncated lineage means there is
  * nothing to recompute from. Reliable `checkpoint` writes the state
  * to the fault-tolerant checkpoint directory (HDFS / object store)
  * and survives executor loss — the right trade for a 1000-executor
  * run where some loss per hour is the expected case. The knob is the
  * session's own checkpoint dir: when
  * `spark.sparkContext.setCheckpointDir(...)` has been called (every
  * production cluster submission should), state checkpoints reliably;
  * local/dev sessions without one fall back to `localCheckpoint`. Both
  * paths are EAGER, so a scope's release order behaves identically
  * under either strategy (spec-asserted: both converge to
  * bit-identical results).
  */
object Checkpoints {
  /** Materialize `df` now and return it with its lineage cut. */
  def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint()
    else df.localCheckpoint()

  /** Persist `df`, run `body` on the persisted frame, and unpersist it
    * on every exit.
    */
  def cached[T](df: DataFrame)(body: DataFrame => T): T = {
    val c = df.persist()
    try body(c) finally { c.unpersist(); () }
  }

  /** Create a temporary directory, run `body` on its path, and delete
    * it recursively on every exit. Populate the directory inside
    * `body`, so a failed copy cannot leak it.
    */
  def tempDir[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(dir.toString) finally rmTree(dir)
  }

  /** Recursive delete; a missing path is a no-op. */
  def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }
}
