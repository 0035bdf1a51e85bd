package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{ManifestStore, MetaSwap, Tables}
import scala.jdk.CollectionConverters._

/** TRUE concurrent-writer stress on one manifest table: N real JVM
  * threads race publish / merge / update / insert+delete /
  * OPTIMIZE / expire with NO deterministic hooks — the race windows
  * are whatever the scheduler produces — and a serializability model
  * checks every committed generation afterwards:
  *
  *  - each committed op returns its generation; generations are
  *    unique (the pointer CAS allocates them), so the commit order IS
  *    the serial order;
  *  - replaying the committed ops in generation order against a pure
  *    model must reproduce EXACTLY the rows `readAt(g)` serves for
  *    every generation — i.e. each commit behaves as if it ran alone
  *    against its predecessor (serializable);
  *  - generations claimed by no recorded op are maintenance commits
  *    (OPTIMIZE) and must be row-identical to their predecessor;
  *  - losing racers must fail TYPED ([[MetaSwap.CasFailed]]) — any
  *    other throwable fails the spec.
  *
  * Op design keeps claims unambiguous: partitions "0".."3" take only
  * always-committing ops (full-partition replace, keyed merge,
  * predicate update — their targets can never be empty because
  * nothing else removes those keys), and the insert→delete pair runs
  * against its own fresh key in the dedicated partition "x" that no
  * replace ever targets, so a committed delete always had its row.
  */
class ConcurrencySpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmp(tag: String): java.io.File =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toFile

  private type RowT = (Long, Long, String)

  private sealed trait Op
  private case class Replace(pi: Int, tag: Long) extends Op
  private case class Merge(pi: Int, tag: Long) extends Op
  private case class Update(pi: Int) extends Op
  private case class Insert(uk: Long, tag: Long) extends Op
  private case class Delete(uk: Long) extends Op

  /** The pure model of one op against the full row set. */
  private def applyOp(state: Set[RowT], op: Op): Set[RowT] = op match {
    case Replace(pi, tag) =>
      state.filterNot(_._3 == pi.toString) ++
        (0L until 40L).filter(_ % 4 == pi)
          .map(k => (k, tag, pi.toString))
    case Merge(pi, tag) =>
      // batch = this partition's keys with k % 8 == pi, restamped
      val batchKeys = (0L until 40L)
        .filter(k => k % 4 == pi && k % 8 == pi).toSet
      state.filterNot(r => r._3 == pi.toString && batchKeys(r._1)) ++
        batchKeys.map(k => (k, tag, pi.toString))
    case Update(pi) =>
      state.map(r =>
        if (r._3 == pi.toString) (r._1, r._2 + 1000L, r._3) else r)
    case Insert(uk, tag) => state + ((uk, tag, "x"))
    case Delete(uk)      => state.filterNot(_._1 == uk)
  }

  test("N real threads race publish/merge/update/insert+delete/" +
      "OPTIMIZE/expire: every committed generation is a " +
      "serializable outcome, losers fail typed — 112 randomized " +
      "racing ops across 7 seeded schedules") {
    val dir = tmp("race")
    try {
      import spark.implicits._
      (1 to 7).foreach { seed =>
        val root = s"$dir/t$seed"
        val base = (0L until 40L).map(k => (k, 0L, (k % 4).toString))
        ManifestStore.publish(spark, base.toDF("k", "v", "p"), root,
          "p", keep = 100)
        val claims = new java.util.concurrent.ConcurrentHashMap[
          Long, Op]()
        val aborted = new java.util.concurrent.atomic.AtomicInteger(0)
        // a throwable inside a racer thread kills only that thread; it is
        // collected here and the spec fails on it after the join
        val failures =
          new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        def claim(gen: Long, op: Op): Unit = {
          val prev = claims.putIfAbsent(gen, op)
          assert(prev == null,
            s"two ops claim generation $gen: $prev and $op — " +
              "generations must be CAS-unique")
        }
        val threads = (0 until 4).map { t =>
          new Thread(() => try {
            val rnd = new scala.util.Random(seed * 1000 + t)
            (0 until 4).foreach { i =>
              val tag = (seed.toLong * 1000000L) + t * 1000L + i
              try rnd.nextInt(6) match {
                case 0 =>
                  val pi = rnd.nextInt(4)
                  claim(ManifestStore.publish(spark,
                    (0L until 40L).filter(_ % 4 == pi)
                      .map(k => (k, tag, pi.toString))
                      .toDF("k", "v", "p"),
                    root, "p", keep = 100), Replace(pi, tag))
                case 1 =>
                  val pi = rnd.nextInt(4)
                  claim(ManifestStore.mergePartitions(spark,
                    (0L until 40L)
                      .filter(k => k % 4 == pi && k % 8 == pi)
                      .map(k => (k, tag, pi.toString))
                      .toDF("k", "v", "p"),
                    root, Seq("k"), keep = 100), Merge(pi, tag))
                case 2 =>
                  val pi = rnd.nextInt(4)
                  claim(ManifestStore.updateWhere(spark, root,
                    col("p") === pi.toString,
                    Seq("v" -> (col("v") + 1000L)), keep = 100),
                    Update(pi))
                case 3 =>
                  // insert a fresh key into the dedicated partition,
                  // then delete it — both always-committing, and the
                  // delete skips if its insert lost the race
                  val uk = 1000000L + tag
                  val g1 =
                    try ManifestStore.mergePartitions(spark,
                      Seq((uk, tag, "x")).toDF("k", "v", "p"),
                      root, Seq("k"), keep = 100)
                    catch { case _: MetaSwap.CasFailed =>
                      aborted.incrementAndGet(); -1L }
                  if (g1 > 0) {
                    claim(g1, Insert(uk, tag))
                    claim(ManifestStore.deleteWhere(spark, root,
                      col("k") === uk, keep = 100), Delete(uk))
                  }
                case 4 =>
                  // OPTIMIZE: row-preserving; its generation (if it
                  // commits one) stays unclaimed and must equal its
                  // predecessor in the replay
                  ManifestStore.compactSmallPartitions(spark, root,
                    targetBytesPerFile = 1L << 30, keep = 100)
                  ()
                case 5 =>
                  ManifestStore.expire(spark, root)
              } catch {
                case _: MetaSwap.CasFailed =>
                  aborted.incrementAndGet()
              }
            }
          } catch { case e: Throwable => failures.add(e); () })
        }
        threads.foreach(_.start())
        threads.foreach(_.join(300000))
        assert(threads.forall(!_.isAlive), "a racer hung")
        assert(failures.isEmpty, s"seed $seed racer threads threw: " +
          failures.asScala.mkString("; "))

        // ---- the serializability replay ----
        val maxGen = ManifestStore.currentGen(spark, root).get
        var model: Set[RowT] = base.toSet
        (2L to maxGen).foreach { g =>
          Option(claims.get(g)).foreach(op => model = applyOp(model, op))
          val served = ManifestStore.readAt(spark, root, g)
            .collect().map(r =>
              (r.getLong(0), r.getLong(1), r.getString(2))).toSet
          assert(served == model,
            s"seed $seed generation $g (op ${claims.get(g)}) is not " +
              s"the serial outcome: served-model=${served -- model} " +
              s"model-served=${model -- served}")
        }
        System.err.println(s"[race] seed $seed: ${claims.size()} " +
          s"committed, ${aborted.get()} typed aborts, " +
          s"maxGen $maxGen")
      }
      ()
    } finally rmTree(dir)
  }

  test("snapshot-layout racers: real threads race full-copy " +
      "publishes + OPTIMIZE + expire; every committed generation " +
      "is one publish's rows (serializable), losers fail typed") {
    import graft.sources.SnapshotStore
    val dir = tmp("snaprace")
    try {
      import spark.implicits._
      (1 to 3).foreach { seed =>
        val root = s"$dir/s$seed"
        val base = (0L until 20L).map(k => (k, 0L))
        SnapshotStore.publish(spark, base.toDF("k", "v"), root,
          keep = 100)
        // boxed keys and values: with scala.Long, putIfAbsent's null
        // would unbox to 0L and the claim check below could never pass
        val claims = new java.util.concurrent.ConcurrentHashMap[
          java.lang.Long, java.lang.Long]() // gen -> the publish's tag
        val aborted = new java.util.concurrent.atomic.AtomicInteger(0)
        val failures =
          new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val threads = (0 until 4).map { t =>
          new Thread(() => try {
            val rnd = new scala.util.Random(seed * 77 + t)
            (0 until 3).foreach { i =>
              val tag = seed * 1000L + t * 100L + i
              try rnd.nextInt(3) match {
                case 0 =>
                  val g = SnapshotStore.publish(spark,
                    (0L until 20L).map(k => (k, tag)).toDF("k", "v"),
                    root, keep = 100)
                  val prev = claims.putIfAbsent(g, tag)
                  assert(prev == null,
                    s"two publishes claim generation $g: tags $prev and $tag")
                case 1 =>
                  SnapshotStore.compactCurrentBytes(spark, root,
                    targetBytesPerFile = 1L << 30, keep = 100)
                  ()
                case 2 =>
                  SnapshotStore.expire(spark, root)
              } catch {
                case _: MetaSwap.CasFailed =>
                  aborted.incrementAndGet()
              }
            }
          } catch { case e: Throwable => failures.add(e); () })
        }
        threads.foreach(_.start())
        threads.foreach(_.join(300000))
        assert(threads.forall(!_.isAlive), "a racer hung")
        assert(failures.isEmpty, s"seed $seed racer threads threw: " +
          failures.asScala.mkString("; "))
        val maxGen = SnapshotStore.currentGen(spark, root).get
        var lastTag = 0L
        (1L to maxGen).foreach { g =>
          Option(claims.get(g)).foreach(t => lastTag = t.longValue)
          val served = SnapshotStore.readAt(spark, root, g)
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          val model = (0L until 20L).map(k => (k, lastTag)).toSet
          assert(served == model,
            s"seed $seed snapshot generation $g is not the serial " +
              s"outcome (expected tag $lastTag)")
        }
        System.err.println(s"[race] snapshot seed $seed: " +
          s"${claims.size()} committed, ${aborted.get()} typed " +
          s"aborts, maxGen $maxGen")
      }
      ()
    } finally rmTree(dir)
  }

  // ---- staging-lock lease-steal races (seam-driven, deterministic) --
  // The r17 verdict's one defect: two recoverers of an EXPIRED lock
  // could both delete-then-create and both proceed. The steal is now
  // an atomic rename to a unique tombstone + content verify; these
  // schedules force the exact interleavings through the stealSeam.

  import graft.sources.StagingLock
  import org.apache.hadoop.fs.Path

  private def localFs(): org.apache.hadoop.fs.FileSystem =
    org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)

  /** Plant a lock whose mtime is past the lease — a crashed stager. */
  private def plantExpiredLock(fs: org.apache.hadoop.fs.FileSystem,
                               lock: Path): Unit = {
    val out = fs.create(lock, true)
    try out.write("ts=0\nowner=crashed\n".getBytes("UTF-8"))
    finally out.close()
    fs.setTimes(lock,
      System.currentTimeMillis() - StagingLock.LeaseMs - 60000L, -1L)
  }

  test("double-steal of an expired staging lock: the recoverer that " +
      "arrives second grabs the winner's FRESH lock, detects the " +
      "mismatch, restores it, and loses typed — one owner survives") {
    val dir = tmp("steal")
    try {
      val fs = localFs()
      val lock = new Path(s"$dir/_writes/.lock-7")
      plantExpiredLock(fs, lock)
      // the late recoverer (this thread) observes the expired lock,
      // then parks at the seam while a FAST recoverer completes the
      // whole steal + re-create; on resume it must lose typed and
      // leave the fast recoverer's lock untouched
      var fastOwner: Array[Byte] = null
      val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      StagingLock.stealSeam = { p =>
        if (fired.compareAndSet(false, true)) {
          // the fast recoverer runs INSIDE the late one's window
          fastOwner = StagingLock.acquire(fs, p, "gen 7 (fast)")
        }
      }
      try {
        val e = intercept[MetaSwap.CasFailed] {
          StagingLock.acquire(fs, lock, "gen 7 (late)")
        }
        assert(e.getMessage.contains("re-read and re-run"))
      } finally StagingLock.stealSeam = _ => ()
      assert(fastOwner != null, "the fast recoverer never acquired")
      // the surviving lock is the fast recoverer's, byte-exact, and
      // its pre-commit verify still passes; no tombstone residue
      StagingLock.verify(fs, lock, fastOwner, "gen 7 (fast)")
      val residue = fs.listStatus(new Path(s"$dir/_writes"))
        .map(_.getPath.getName).filter(_.contains(".tomb-"))
      assert(residue.isEmpty,
        s"tombstone residue after the race: ${residue.mkString(",")}")
    } finally rmTree(dir)
  }

  test("lease exceeded MID-STAGE: a recoverer steals the expired " +
      "lock; the original holder's pre-commit verify refuses typed " +
      "instead of committing over the new owner") {
    val dir = tmp("lease")
    try {
      val fs = localFs()
      val lock = new Path(s"$dir/_writes/.lock-9")
      val victim = StagingLock.acquire(fs, lock, "gen 9 (victim)")
      // the victim's stage outlives the lease (simulated by aging the
      // lock), and a recoverer legitimately steals it
      fs.setTimes(lock,
        System.currentTimeMillis() - StagingLock.LeaseMs - 60000L, -1L)
      val thief = StagingLock.acquire(fs, lock, "gen 9 (recoverer)")
      // the victim must now fail TYPED at its commit gate
      val e = intercept[MetaSwap.CasFailed] {
        StagingLock.verify(fs, lock, victim, "gen 9 (victim)")
      }
      assert(e.getMessage.contains("taken over"))
      // ... while the recoverer's ownership stands
      StagingLock.verify(fs, lock, thief, "gen 9 (recoverer)")
    } finally rmTree(dir)
  }

  test("publish onto a crashed stager's expired lock while a seam-" +
      "injected competitor steals it first: the publish fails typed " +
      "with NOTHING staged; after the competitor releases, the " +
      "retry commits normally") {
    val dir = tmp("stealpub")
    try {
      import spark.implicits._
      val root = s"$dir/t"
      val fs = localFs()
      ManifestStore.publish(spark,
        Seq((1L, "a"), (2L, "b")).toDF("k", "p"), root, "p",
        keep = 10)
      // a crashed stager of generation 2 left an expired lock
      val lock = new Path(s"$root/_writes/.lock-2")
      plantExpiredLock(fs, lock)
      var competitor: Array[Byte] = null
      val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      StagingLock.stealSeam = { p =>
        if (fired.compareAndSet(false, true))
          competitor = StagingLock.acquire(fs, p, "gen 2 (competitor)")
      }
      val e = try intercept[MetaSwap.CasFailed] {
        ManifestStore.publish(spark,
          Seq((1L, "a")).toDF("k", "p"), root, "p", keep = 10)
      } finally StagingLock.stealSeam = _ => ()
      assert(e.getMessage.contains("re-read and re-run"))
      // NOTHING staged by the loser, pointer unmoved
      assert(!fs.exists(new Path(s"$root/_writes/2")),
        "the losing publish staged files")
      assert(ManifestStore.currentGen(spark, root).contains(1L))
      // competitor done → release; the retry serves generation 2
      StagingLock.release(fs, lock)
      assert(competitor != null)
      val g = ManifestStore.publish(spark,
        Seq((9L, "a")).toDF("k", "p"), root, "p", keep = 10)
      assert(g == 2L)
      assert(ManifestStore.readCurrent(spark, root).where("p = 'a'")
        .collect().map(_.getLong(0)).toSeq == Seq(9L))
    } finally rmTree(dir)
  }
}
