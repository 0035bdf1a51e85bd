package graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The lifetime of every intermediate graft materializes: nothing else
  * in graft persists, checkpoints or creates a temporary directory.
  *
  *  - [[truncate]] is the only eager materialization. It cuts the
  *    lineage of iteration state and of results that must outlive a
  *    scope below.
  *  - [[cached]] persists a frame for the length of a block, and
  *    [[cachedRows]] its rows.
  *  - [[broadcast]] ships a driver value to the executors for the
  *    length of a block.
  *  - [[tempDir]] creates a directory for the length of a block.
  *
  * A scope releases on EVERY exit, normal or thrown, so an operator
  * that fails mid-flight leaves no cache entry, persisted RDD,
  * broadcast or directory behind. The one condition on the caller: a result that still reads
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

  /** Persist `df`'s rows, run `body` on a frame over them, and
    * unpersist them on every exit. To the planner the frame is a plain
    * RDD scan, so the first action that reads it builds the rows inside
    * its own job; a [[cached]] frame that no job has built yet is built
    * by a job of its own under AQE. Meant for a plan with no exchange.
    */
  def cachedRows[T](df: DataFrame)(body: DataFrame => T): T = {
    val rows = df.queryExecution.toRdd.map(_.copy())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try body(org.apache.spark.sql.GraftSqlBridge.ofRows(df.sparkSession,
      rows, df.schema))
    finally { rows.unpersist(blocking = false); () }
  }

  /** Broadcast `value` from the driver (no job), run `body` on the
    * handle, and destroy the broadcast on every exit, blocking until
    * its blocks are gone (`Broadcast.destroy()` only schedules that).
    * A result that still reads the broadcast must be materialized
    * inside `body`.
    */
  def broadcast[V: scala.reflect.ClassTag, T](spark: SparkSession, value: V)
                                            (body: Broadcast[V] => T): T = {
    val b = spark.sparkContext.broadcast(value)
    try body(b)
    finally org.apache.spark.sql.GraftSqlBridge.destroyBlocking(b)
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
