package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.Profile

/** The profiler attributes every job of a query to a graft call site,
  * and captures the plan behind each `Checkpoints.truncate`.
  */
class ProfileSpec extends AnyFunSuite {
  import SparkTestSession._

  test("time: every job of a truncating query has a graft call site") {
    val (wall, s) = Profile.recording(spark) { r =>
      Profile.timeRep(spark, sf, "q_dedup_incremental", r)
    }
    assert(wall > 0)
    assert(s.jobs > 0)
    assert(s.stages > 0 && s.tasks > 0)
    assert(s.sites.forall(_.site.startsWith("graft.")), s.sites.mkString("\n"))
    assert(s.sites.exists(_.site.startsWith("graft.operators.")),
      s.sites.mkString("\n"))
  }

  test("time: each site's driver gap is the time before its jobs") {
    val (wall, s) = Profile.recording(spark) { r =>
      Profile.timeRep(spark, sf, "q_dedup_incremental", r)
    }
    assert(s.sites.forall(x => x.gapS >= 0 && x.jobs > 0), s.sites)
    // the gaps are disjoint stretches of the rep
    assert(s.sites.map(_.gapS).sum <= wall + 0.01,
      s"$wall s wall vs ${s.sites.mkString("\n")}")
    assert(s.sites.map(_.gapS).sum > 0)
  }

  test("plans: each truncate's pre-truncation plan is captured") {
    val (text, truncates) = Profile.recording(spark) { r =>
      Profile.plan(spark, sf, "q_dedup_incremental", r)
    }
    assert(text.contains("== Physical Plan =="))
    assert(truncates.nonEmpty)
    assert(truncates.forall(_._1.startsWith("graft.")))
    // the query's own plan reads the truncated result as an
    // ExistingRDD; the captured plan is what produced it
    assert(truncates.exists { case (_, p) =>
      p.linesIterator.exists(l => l.contains("Scan ") &&
        !l.contains("ExistingRDD")) || p.contains("Exchange")
    }, truncates.map(_._2).mkString("\n----\n"))
  }

  test("a job's site skips Checkpoints and the tools") {
    val stack = Seq(
      "org.apache.spark.sql.Dataset.localCheckpoint(Dataset.scala:1)",
      "graft.Checkpoints$.truncate(Checkpoints.scala:40)",
      "graft.operators.Dedup$.minhashDedup(Dedup.scala:100)",
      "graft.tools.Profile$.timeRep(Profile.scala:138)").mkString("\n")
    assert(Profile.siteOf(stack) ==
      "graft.operators.Dedup$.minhashDedup(Dedup.scala:100)")
    assert(Profile.siteOf(
      "graft.tools.Profile$.timeRep(Profile.scala:138)") ==
      "graft.tools.Profile$.timeRep(Profile.scala:138)")
  }
}
