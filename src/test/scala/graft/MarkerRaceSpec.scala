package graft

import java.util.concurrent.CyclicBarrier
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{MetaSwap, StagingLock, Tables}

/** Real threads race each marker primitive thousands of times: 2 to 4
  * threads released together by a barrier per trial. Every trial must
  * have EXACTLY one winner — one creator, one compare-and-set swapper,
  * one lock owner — every loser must fail typed
  * ([[MetaSwap.CasFailed]]), no other throwable may escape, and no
  * stage or claim file may survive the trial.
  */
class MarkerRaceSpec extends AnyFunSuite {
  import SparkTestSession._

  private val Trials = 2000

  private def threadsFor(trial: Int): Int = 2 + trial % 3

  /** One trial: `n` threads run `body(i)` together. Right(true) is a
    * win, Right(false) a typed loss, Left an untyped throwable.
    */
  private def race(n: Int)(body: Int => Unit): Seq[Either[Throwable, Boolean]] = {
    val barrier = new CyclicBarrier(n)
    val out = new Array[Either[Throwable, Boolean]](n)
    val threads = (0 until n).map { i =>
      new Thread(() => {
        out(i) =
          try { barrier.await(); body(i); Right(true) }
          catch {
            case _: MetaSwap.CasFailed => Right(false)
            case t: Throwable => Left(t)
          }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.toSeq
  }

  /** Run `Trials` trials; `setup` prepares each, `body(trial, i)` is
    * thread i's attempt, `check(trial, winner)` inspects the marker.
    */
  private def trials(setup: Int => Unit)(body: (Int, Int) => Unit)(
      check: (Int, Int) => Unit): Unit = {
    var untyped = Seq.empty[Throwable]
    (0 until Trials).foreach { t =>
      setup(t)
      val res = race(threadsFor(t))(i => body(t, i))
      untyped ++= res.collect { case Left(e) => e }
      val winners = res.zipWithIndex.collect { case (Right(true), i) => i }
      assert(winners.size == 1,
        s"trial $t: ${winners.size} winners of ${res.size} threads")
      check(t, winners.head)
    }
    assert(untyped.isEmpty,
      s"${untyped.size} untyped throwables, first: ${untyped.headOption}")
  }

  private lazy val fs = Tables.fsFor(spark, "file:///")

  /** A fresh marker path under its own temp directory. */
  private def withMarker(name: String)(body: Path => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-race").toFile
    try body(new Path(s"$dir/$name")) finally rmTree(dir)
  }

  private def bytes(s: String) = s.getBytes("UTF-8")
  private def text(marker: Path) =
    new String(MetaSwap.readCommitted(fs, marker), "UTF-8")
  private def assertNoResidue(marker: Path): Unit = {
    val left = MetaSwap.residue(fs, marker)
    assert(left.isEmpty, s"stage residue: ${left.mkString(", ")}")
  }

  test("the session's file system is the file: scheme the marker " +
      "primitives run raw on") {
    assert(fs.getUri.getScheme == "file", fs.getClass.getName)
  }

  test("create: racing put-if-absent creators — exactly one commits " +
      "its bytes, the rest fail typed") {
    withMarker("_m") { marker =>
      trials(_ => fs.delete(marker, false)) { (t, i) =>
        MetaSwap.create(fs, marker, bytes(s"$t-$i"))
      } { (t, w) =>
        assert(text(marker) == s"$t-$w")
        assertNoResidue(marker)
      }
    }
  }

  test("compare-and-set swap: racers expecting the same bytes — " +
      "exactly one transition commits, the rest fail typed") {
    withMarker("_m") { marker =>
      trials(t => MetaSwap.swap(fs, marker, bytes(s"v$t"))) { (t, i) =>
        MetaSwap.swap(fs, marker, bytes(s"$t-$i"), bytes(s"v$t"))
      } { (t, w) =>
        assert(text(marker) == s"$t-$w")
        assertNoResidue(marker)
      }
    }
  }

  test("StagingLock.acquire: racers on a free lock and on an expired " +
      "one — exactly one owner per trial, and it releases cleanly") {
    withMarker(".lock-1") { lock =>
      val owners =
        new java.util.concurrent.ConcurrentHashMap[Int, Array[Byte]]()
      // odd trials start from a crashed stager's expired lock (the
      // steal race), even trials from a free one (the create race)
      trials { t =>
        owners.clear()
        if (t % 2 == 1) {
          MetaSwap.swap(fs, lock, bytes(s"ts=0\nowner=crashed-$t\n"))
          fs.setTimes(lock,
            System.currentTimeMillis() - StagingLock.LeaseMs - 60000L, -1L)
        }
      } { (t, i) =>
        owners.put(i, StagingLock.acquire(fs, lock, s"trial $t"))
      } { (t, w) =>
        StagingLock.verify(fs, lock, owners.get(w), s"trial $t")
        StagingLock.release(fs, lock, owners.get(w))
        assert(!fs.exists(lock), s"trial $t: the release kept the lock")
        assertNoResidue(lock)
      }
    }
  }
}
