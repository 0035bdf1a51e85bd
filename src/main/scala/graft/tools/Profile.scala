package graft.tools

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Dev profiler for the SparkEntry queries, built on one
  * [[org.apache.spark.scheduler.SparkListener]]. Spark already records
  * the call stack and plan of every SQL execution and tags each job
  * with its execution id, so the listener attributes every job to the
  * graft frame that caused it without instrumenting the library.
  *
  * {{{
  * runMain graft.tools.Profile time <reps> <q>...
  * runMain graft.tools.Profile plans <out.md> [q...]
  * }}}
  *
  *  - `time` runs each query `reps` times under [[graft.Bench]]'s
  *    discipline (clear the cache, write to the `noop` sink) and
  *    prints one JSON line per rep: wall time, jobs, stages, tasks,
  *    task time, shuffle and spill bytes, and the per-site job table
  *    (jobs, job seconds, and the driver gap before them).
  *  - `plans` writes each query's formatted plan as a `## <q>` section
  *    of `out.md`, followed by one `### truncate at <site>` subsection
  *    per [[graft.Checkpoints.truncate]] the query ran: the plan that
  *    execution materialized, which the query's own plan shows only as
  *    an `ExistingRDD` scan. With no names given it re-runs the file's
  *    own query headings; see [[rewritePlans]].
  *
  * Reads the data from `SPARK_GRAFT_SF_DIR` (default: the sf0.1 data
  * [[graft.Bench]] reads) and builds its session through
  * [[graft.GraftSession.local]].
  */
object Profile {
  /** The jobs one call site ran, their summed wall time, and the
    * summed driver time before them: per job, the time from the end of
    * the previous job (or from the last [[Recorder.take]]) to its start
    * — planning, listing, commits — and 0 for a job that starts while
    * another runs, so the gaps of a snapshot never overlap.
    */
  final case class Site(site: String, jobs: Int, jobS: Double,
                        gapS: Double)

  /** What the listener saw between two [[Recorder.take]] calls. */
  final case class Snapshot(stages: Int, tasks: Long, taskS: Double,
                            shuffleReadBytes: Long,
                            shuffleWriteBytes: Long, spillBytes: Long,
                            sites: Seq[Site],
                            executions: Seq[SparkListenerSQLExecutionStart]) {
    def jobs: Int = sites.map(_.jobs).sum
  }

  /** A job's site: the first `graft.` frame of its call stack outside
    * [[graft.Checkpoints]] and the tools, else the first `graft.`
    * frame (a tool's own sink write).
    */
  def siteOf(stack: String): String = {
    val graftFrames = stack.linesIterator.map(_.trim)
      .filter(_.startsWith("graft.")).toSeq
    graftFrames.find(f => !f.startsWith("graft.Checkpoints") &&
        !f.startsWith("graft.tools."))
      .orElse(graftFrames.headOption).getOrElse("<no graft frame>")
  }

  /** Records SQL executions, per-site jobs and per-stage metrics. */
  final class Recorder extends SparkListener {
    private val execs =
      mutable.LinkedHashMap.empty[Long, SparkListenerSQLExecutionStart]
    private val running = mutable.Map.empty[Int, (String, Long)]
    private val sites = mutable.Map.empty[String, (Int, Long, Long)]
    private var lastEnd = System.currentTimeMillis()
    private var stages = 0
    private var tasks, runMs, shRead, shWrite, spill = 0L

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        synchronized { execs(s.executionId) = s }
      case _ =>
    }

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      val stack = Option(j.properties)
        .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .flatMap(id => execs.get(id.toLong)).map(_.details)
        .orElse(j.stageInfos.sortBy(_.stageId).headOption.map(_.details))
        .getOrElse("")
      val site = siteOf(stack)
      val (n, ms, gap) = sites.getOrElse(site, (0, 0L, 0L))
      val before = if (running.isEmpty) math.max(0L, j.time - lastEnd) else 0L
      sites(site) = (n, ms, gap + before)
      running(j.jobId) = (site, j.time)
    }

    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      running.remove(j.jobId).foreach { case (site, t0) =>
        val (n, ms, gap) = sites(site)
        sites(site) = (n + 1, ms + j.time - t0, gap)
      }
      lastEnd = math.max(lastEnd, j.time)
    }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized {
        stages += 1
        tasks += s.stageInfo.numTasks
        Option(s.stageInfo.taskMetrics).foreach { m =>
          runMs += m.executorRunTime
          shRead += m.shuffleReadMetrics.totalBytesRead
          shWrite += m.shuffleWriteMetrics.bytesWritten
          spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }

    /** Everything recorded since the last call; call it after
      * [[GraftSqlBridge.drainListeners]].
      */
    def take(): Snapshot = synchronized {
      val snap = Snapshot(stages, tasks, runMs / 1e3, shRead, shWrite,
        spill,
        sites.toSeq.filter(_._2._1 > 0).map { case (s, (n, ms, gap)) =>
            Site(s, n, ms / 1e3, gap / 1e3) }
          .sortBy(s => (-s.jobS, s.site)),
        execs.values.toSeq)
      execs.clear(); running.clear(); sites.clear()
      lastEnd = System.currentTimeMillis()
      stages = 0; tasks = 0; runMs = 0; shRead = 0; shWrite = 0; spill = 0
      snap
    }
  }

  /** Run `body` with a [[Recorder]] registered on `spark`. */
  def recording[T](spark: SparkSession)(body: Recorder => T): T = {
    val r = new Recorder
    spark.sparkContext.addSparkListener(r)
    try body(r) finally spark.sparkContext.removeSparkListener(r)
  }

  private def fresh(spark: SparkSession, r: Recorder): Unit = {
    GraftSqlBridge.drainListeners(spark); r.take(); ()
  }

  /** One rep of `q` under Bench's discipline: wall seconds and what
    * the rep ran.
    */
  def timeRep(spark: SparkSession, sfDir: String, q: String,
              r: Recorder): (Double, Snapshot) = {
    spark.catalog.clearCache()
    fresh(spark, r)
    val t0 = System.nanoTime()
    graft.SparkEntry.queries(q)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    GraftSqlBridge.drainListeners(spark)
    (wall, r.take())
  }

  /** `q`'s formatted plan, and per truncate it ran while building it
    * the truncate's site and the plan that execution materialized.
    */
  def plan(spark: SparkSession, sfDir: String, q: String,
           r: Recorder): (String, Seq[(String, String)]) = {
    fresh(spark, r)
    val text = graft.SparkEntry.queries(q)(spark, sfDir)
      .queryExecution.explainString(FormattedMode)
    GraftSqlBridge.drainListeners(spark)
    val truncates = r.take().executions
      .filter(_.details.contains("graft.Checkpoints$.truncate"))
      .map(e => siteOf(e.details) -> e.physicalPlanDescription)
    (text, truncates)
  }

  /** `doc` with its plan sections rewritten. A section runs from a
    * `## ` line to the next; the text before the first is kept. The
    * sections for `names` are regenerated (appended when missing) —
    * or, with no names, every section whose heading is exactly a
    * declared query. Any other section is kept as written.
    */
  def rewritePlans(spark: SparkSession, sfDir: String, r: Recorder,
                   doc: String, names: Seq[String]): String = {
    val starts = "(?m)^## ".r.findAllMatchIn(doc).map(_.start).toList
    val sections = starts.zip(starts.drop(1) :+ doc.length)
      .map { case (a, b) => doc.substring(a, b) }
    val keys = sections.map(_.linesIterator.next().drop(3).trim)
    val todo =
      if (names.nonEmpty) names
      else keys.filter(graft.SparkEntry.queries.contains)
    def section(q: String): String = {
      val (text, truncates) = plan(spark, sfDir, q, r)
      s"## $q\n\n${fence(text)}" + truncates.map { case (site, p) =>
        s"\n### truncate at $site\n\n${fence(p)}"
      }.mkString + "\n"
    }
    val kept = keys.zip(sections).map { case (k, sec) =>
      if (todo.contains(k)) section(k) else sec
    }
    val added = todo.filterNot(keys.contains).map(section)
    (doc.take(starts.headOption.getOrElse(doc.length)) +
      (kept ++ added).mkString).stripTrailing + "\n"
  }

  private def fence(text: String): String =
    s"```\n${text.stripTrailing}\n```\n"

  private def json(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def main(args: Array[String]): Unit = {
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()
    try recording(spark) { r =>
      args.toList match {
        case "time" :: reps :: names =>
          for (q <- names; rep <- 1 to reps.toInt) {
            val (wall, s) = timeRep(spark, sfDir, q, r)
            val sites = s.sites.map(x =>
              f"""{"site":${json(x.site)},"jobs":${x.jobs},"job_s":${x.jobS}%.3f,""" +
                f""""gap_s":${x.gapS}%.3f}""")
            println(f"""{"query":${json(q)},"rep":$rep,"wall_s":$wall%.3f,""" +
              f""""jobs":${s.jobs},"stages":${s.stages},"tasks":${s.tasks},""" +
              f""""task_s":${s.taskS}%.3f,"shuffle_read_bytes":${s.shuffleReadBytes},""" +
              s""""shuffle_write_bytes":${s.shuffleWriteBytes},""" +
              s""""spill_bytes":${s.spillBytes},"sites":[${sites.mkString(",")}]}""")
          }
        case "plans" :: out :: names =>
          val path = Paths.get(out)
          val old = if (Files.exists(path)) Files.readString(path) else ""
          Option(path.getParent).foreach(Files.createDirectories(_))
          Files.writeString(path, rewritePlans(spark, sfDir, r, old, names))
          System.err.println(s"[profile] wrote $out")
        case _ =>
          System.err.println(
            "usage: Profile time <reps> <q>... | Profile plans <out.md> [q...]")
      }
    } finally spark.stop()
  }
}
