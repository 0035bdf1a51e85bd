package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** A local file system that counts the calls made on it. The traced
  * run installs it as `fs.file.impl` (see `trace-site.xml`), so every
  * file-system request graft and Spark make is counted at the Hadoop
  * API boundary: Hadoop's own statistics count bytes but no operations
  * for the local file system.
  */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._
  override def open(f: Path, bufferSize: Int) = {
    readOps.incrementAndGet(); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    readOps.incrementAndGet(); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    listOps.incrementAndGet(); super.listStatus(f)
  }
  override def create(f: Path, permission: FsPermission,
                      overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable) = {
    writeOps.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writeOps.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writeOps.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writeOps.incrementAndGet(); super.mkdirs(f, permission)
  }
}

object CountingLocalFileSystem {
  val readOps, listOps, writeOps = new AtomicLong
}

/** Spark-side counters, fed by the scheduler's listener bus. */
class SparkCounters extends SparkListener {
  val jobs, stages, tasks, busyMs, gcMs, shuffleBytes, spillBytes,
    inputBytes, cachedBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    stages.incrementAndGet()
    tasks.addAndGet(s.numTasks)
    val m = s.taskMetrics
    if (m != null) {
      busyMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      cachedBytes.addAndGet(b.memSize + b.diskSize)
  }
}

/** One timed call into graft. `counters` holds deltas over the call,
  * plus levels sampled right after it returns (store.*, cache.*).
  */
final case class Span(id: Int, parent: Int, name: String, day: Int,
                      startNs: Long, var endNs: Long = 0L,
                      var ok: Boolean = true,
                      counters: mutable.LinkedHashMap[String, Double] =
                        mutable.LinkedHashMap.empty) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** The span recorder. Untraced, it only times calls; traced, it also
  * snapshots the Spark, file-system and cache counters at each span's
  * boundaries. Spans stay in memory until [[write]].
  */
final class Tracer(spark: SparkSession, val traced: Boolean,
                   val runId: String, storeRoot: String) {
  val t0: Long = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack[Span]()
  private val counters = new SparkCounters
  /** Time spent inside the tracer's own bookkeeping. */
  var hookNs = 0L
  if (traced) spark.sparkContext.addSparkListener(counters)

  private def sample(): Map[String, Double] = {
    val h0 = System.nanoTime()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val c = counters
    val fsStats = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    val m = Map(
      "spark.jobs" -> c.jobs.get.toDouble,
      "spark.stages" -> c.stages.get.toDouble,
      "spark.tasks" -> c.tasks.get.toDouble,
      "spark.task_busy_s" -> c.busyMs.get / 1e3,
      "spark.shuffle_mb" -> c.shuffleBytes.get / 1e6,
      "spark.spill_mb" -> c.spillBytes.get / 1e6,
      "spark.gc_s" -> c.gcMs.get / 1e3,
      "spark.input_mb" -> c.inputBytes.get / 1e6,
      "fs.read_ops" -> CountingLocalFileSystem.readOps.get.toDouble,
      "fs.list_ops" -> CountingLocalFileSystem.listOps.get.toDouble,
      "fs.write_ops" -> CountingLocalFileSystem.writeOps.get.toDouble,
      "fs.written_mb" -> fsStats.map(_.getBytesWritten).sum / 1e6,
      "cache.materialized_mb" -> c.cachedBytes.get / 1e6)
    hookNs += System.nanoTime() - h0
    m
  }

  private def persistedIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Times `body` as span `name`, a child of the innermost open span.
    * A throwing body marks the span failed and rethrows.
    */
  def span[T](name: String, day: Int = 0,
              levels: Boolean = false)(body: => T): T = {
    val before = if (traced) sample() else Map.empty[String, Double]
    val rddsBefore = if (traced) persistedIds() else Set.empty[Int]
    val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1),
      name, day, System.nanoTime())
    spans += s
    open.push(s)
    try body
    catch { case e: Throwable => s.ok = false; throw e }
    finally {
      s.endNs = System.nanoTime()
      open.pop()
      if (traced) {
        val after = sample()
        after.foreach { case (k, v) => s.counters(k) = v - before(k) }
        val h0 = System.nanoTime()
        s.counters("spark.parallelism") =
          s.counters("spark.task_busy_s") / math.max(s.wallS, 1e-9)
        s.counters("cache.leaked_rdds") =
          (persistedIds() -- rddsBefore).size.toDouble
        s.counters("cache.resident_mb") = spark.sparkContext
          .getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
        if (levels) {
          val (files, bytes) = Tracer.treeSize(storeRoot)
          s.counters("store.files") = files.toDouble
          s.counters("store.mb") = bytes / 1e6
        }
        hookNs += System.nanoTime() - h0
      }
    }
  }

  /** Wall time of `s` not covered by its child spans. */
  def selfS(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id)
      .map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var reach = s.startNs
    kids.foreach { case (a, b) =>
      val lo = math.max(a, reach)
      if (b > lo) { covered += b - lo; reach = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** Writes every span as one JSON line. */
  def write(path: String): Unit = {
    val lines = spans.map { s =>
      val cs = (s.counters ++ Seq("_s" -> s.wallS, "self_s" -> selfS(s)))
        .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
      s"""{"run":${Json.str(runId)},"id":${s.id},"parent":${s.parent},""" +
        s""""name":${Json.str(s.name)},"day":${s.day},""" +
        s""""start_s":${Json.num((s.startNs - t0) / 1e9)},""" +
        s""""end_s":${Json.num((s.endNs - t0) / 1e9)},"ok":${s.ok},""" +
        s""""counters":{${cs.mkString(",")}}}"""
    }
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  /** (files, bytes) under `root`, checksum files included. */
  def treeSize(root: String): (Long, Long) = {
    val dir = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(dir)) return (0L, 0L)
    val files = java.nio.file.Files.walk(dir)
    try {
      val sizes = files.iterator.asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).toSeq
      (sizes.size.toLong, sizes.sum)
    } finally files.close()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
}
