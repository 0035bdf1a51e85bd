package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Generations, MetaSwap, SnapshotStore, Tables}

/** S19 — the snapshot-table pointer protocol: zero-downtime
  * promotion, time travel, bounded retention, audit-gated publish,
  * CAS'd single-promoter contract, and crash honesty at every seam.
  * The availability claim ("a probe never sees a missing table") is
  * DRIVEN here through the crash-injection hook, not asserted.
  */
class SnapshotStoreSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmp(tag: String): java.io.File =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toFile

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("publish → readCurrent → time travel → retention window") {
    val dir = tmp("snap")
    try {
      val root = dir.toString + "/t"
      val nation = Tables.table(spark, sf, "nation")
      assert(SnapshotStore.currentGen(spark, root).isEmpty)
      intercept[IllegalStateException] {
        SnapshotStore.readCurrent(spark, root)
      }
      val v1 = nation.filter(col("n_regionkey") === 0)
      val v2 = nation
      assert(SnapshotStore.publish(spark, v1, root) == 1L)
      assert(SnapshotStore.currentGen(spark, root).contains(1L))
      assert(rows(SnapshotStore.readCurrent(spark, root)) == rows(v1))
      assert(SnapshotStore.publish(spark, v2, root) == 2L)
      assert(rows(SnapshotStore.readCurrent(spark, root)) == rows(v2))
      // time travel within the window (keep=3: both gens live)
      assert(rows(SnapshotStore.readAt(spark, root, 1L)) == rows(v1))
      assert(rows(SnapshotStore.readAt(spark, root, 2L)) == rows(v2))
      // a never-committed gen refuses with the A6c type
      intercept[SnapshotUnavailable] {
        SnapshotStore.readAt(spark, root, 3L)
      }
      // keep=2 on the next publishes prunes gen 1 then gen 2
      assert(SnapshotStore.publish(spark, v1, root, keep = 2) == 3L)
      assert(SnapshotStore.publish(spark, v2, root, keep = 2) == 4L)
      val e = intercept[SnapshotUnavailable] {
        SnapshotStore.readAt(spark, root, 2L)
      }
      assert(e.getMessage.contains("retention"))
      assert(rows(SnapshotStore.readAt(spark, root, 3L)) == rows(v1))
      assert(rows(SnapshotStore.readCurrent(spark, root)) == rows(v2))
    } finally rmTree(dir)
  }

  test("tags pin snapshot generations against retention; the fsck " +
      "classifies ref_pinned; repair never reclaims; drop releases") {
    val dir = tmp("snaptag")
    try {
      val root = dir.toString + "/t"
      import spark.implicits._
      def df(v: Int) = (1 to 10).map(i => (i, s"v$v-$i"))
        .toDF("id", "payload")
      SnapshotStore.publish(spark, df(1), root, Nil, keep = 1)
      val v1 = rows(SnapshotStore.readCurrent(spark, root))
      assert(SnapshotStore.tag(spark, root, "v1") == 1L)
      // keep = 1 would sweep gen 1 on each publish — the tag pins it
      SnapshotStore.publish(spark, df(2), root, Nil, keep = 1)
      SnapshotStore.publish(spark, df(3), root, Nil, keep = 1)
      intercept[graft.SnapshotUnavailable] {
        SnapshotStore.readAt(spark, root, 2L)
      }
      assert(rows(SnapshotStore.readRef(spark, root, "v1")) == v1)
      assert(SnapshotStore.refs(spark, root) == Map("v1" -> 1L))
      // the SQL source resolves the tag on the snapshot layout too
      assert(rows(spark.read.format("graft-snapshot")
        .option("ref", "v1").load(root)) == v1)
      // fsck: pinned ≠ over_retained; repair reclaims nothing pinned
      val findings = graft.operators.IndexAudit
        .auditSnapshots(spark, root)
      assert(findings.exists(f => f.kind == "gen" &&
        f.name == "1" && f.status == "ref_pinned" && f.healthy))
      assert(findings.exists(f => f.kind == "ref" &&
        f.name == "v1" && f.status == "tag_ok" && f.healthy))
      assert(graft.operators.IndexAudit.isSnapshotsHealthy(spark, root))
      val repaired = graft.operators.IndexAudit
        .repairSnapshots(spark, root).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      assert(!repaired.exists(a => a._2 == "1" &&
        a._3.contains("pruned")), s"repair touched the pin: ${repaired.toSeq}")
      assert(rows(SnapshotStore.readRef(spark, root, "v1")) == v1)
      // immutability + release
      intercept[IllegalStateException] {
        SnapshotStore.tag(spark, root, "v1")
      }
      SnapshotStore.dropRef(spark, root, "v1")
      SnapshotStore.publish(spark, df(4), root, Nil, keep = 1)
      intercept[graft.SnapshotUnavailable] {
        SnapshotStore.readAt(spark, root, 1L)
      }
      intercept[graft.SnapshotUnavailable] {
        SnapshotStore.readRef(spark, root, "v1")
      }
      assert(graft.operators.IndexAudit.isSnapshotsHealthy(spark, root))
    } finally rmTree(dir)
  }

  test("restore republishes a retained generation; expire reclaims " +
      "grace-expired generations on a quiet table") {
    val dir = tmp("snaprestore")
    try {
      val root = dir.toString + "/t"
      import spark.implicits._
      def df(v: Int) = (1 to 10).map(i => (i, s"v$v-$i"))
        .toDF("id", "payload")
      SnapshotStore.publish(spark, df(1), root)
      val good = rows(SnapshotStore.readCurrent(spark, root))
      SnapshotStore.publish(spark, df(2), root)
      assert(SnapshotStore.restore(spark, root, 1L) == 3L)
      assert(rows(SnapshotStore.readCurrent(spark, root)) == good)
      // history intact inside the window
      assert(rows(SnapshotStore.readAt(spark, root, 2L))
        == rows(df(2)))
      // EXPIRE: keep=1 with a short grace keeps gen 3 alive at the
      // publish of gen 4; after the grace lapses, only expire (no
      // further publish) reclaims it
      SnapshotStore.publish(spark, df(3), root, Nil, keep = 1,
        retainMs = 5000L)
      val fs = Tables.fsFor(spark, root)
      val g3 = new org.apache.hadoop.fs.Path(s"$root/_snapshots/3")
      assert(fs.exists(g3), "gen 3 must survive inside the grace")
      // expire inside the grace is a no-op for the protected gen
      SnapshotStore.expire(spark, root)
      assert(fs.exists(g3), "expire must honor the grace floor")
      Thread.sleep(5200L)
      SnapshotStore.expire(spark, root)
      assert(!fs.exists(g3),
        "expire must reclaim the grace-expired gen without a publish")
      assert(graft.operators.IndexAudit.isSnapshotsHealthy(spark, root))
    } finally rmTree(dir)
  }

  test("a publish crash before the repoint never disturbs the serving " +
      "table; the retry consumes the residue generation") {
    val dir = tmp("snapcrash")
    try {
      val root = dir.toString + "/t"
      val nation = Tables.table(spark, sf, "nation")
      val v1 = nation.filter(col("n_regionkey") < 2)
      val v2 = nation
      SnapshotStore.publish(spark, v1, root)
      class Boom extends RuntimeException("injected crash")
      // the kill lands AFTER the new generation is fully written and
      // audited, BEFORE the pointer moves — the exact window where
      // the old delete-then-rename gold promotion served nothing.
      // Mid-crash, the table must still serve gen 1 in full.
      intercept[Boom] {
        SnapshotStore.publishImpl(spark, v2, root, Nil, 3, () => {
          assert(rows(SnapshotStore.readCurrent(spark, root)) ==
            rows(v1), "a reader mid-publish must see the old gen")
          throw new Boom
        })
      }
      assert(SnapshotStore.currentGen(spark, root).contains(1L))
      assert(rows(SnapshotStore.readCurrent(spark, root)) == rows(v1))
      // the residue generation is NOT a snapshot: it never served
      intercept[SnapshotUnavailable] {
        SnapshotStore.readAt(spark, root, 2L)
      }
      // the retry targets the same gen, overwrites the residue, and
      // commits
      assert(SnapshotStore.publish(spark, v2, root) == 2L)
      assert(rows(SnapshotStore.readCurrent(spark, root)) == rows(v2))
    } finally rmTree(dir)
  }

  test("a failing audit leaves the staged generation for inspection " +
      "and the pointer unmoved; the corrected re-run publishes") {
    import graft.operators.Cleaning
    val dir = tmp("snapaudit")
    try {
      val root = dir.toString + "/t"
      val nation = Tables.table(spark, sf, "nation")
      SnapshotStore.publish(spark, nation, root,
        Seq(Cleaning.ExpectNotNull("n_nationkey")))
      // n_regionkey spans 0..4, so this range fails rows loudly
      val e = intercept[AuditFailed] {
        SnapshotStore.publish(spark, nation, root,
          Seq(Cleaning.ExpectRange("n_regionkey", -9.0, -1.0)))
      }
      assert(e.getMessage.contains("n_regionkey"))
      assert(SnapshotStore.currentGen(spark, root).contains(1L),
        "a failed audit moved the pointer")
      assert(rows(SnapshotStore.readCurrent(spark, root)) ==
        rows(nation))
      // staged bytes inspectable at the un-pointed gen directory
      assert(spark.read.parquet(s"$root/_snapshots/2").count() ==
        nation.count())
      // corrected re-run consumes the residue and commits gen 2
      assert(SnapshotStore.publish(spark, nation, root,
        Seq(Cleaning.ExpectNotNull("n_nationkey"))) == 2L)
    } finally rmTree(dir)
  }

  test("two racing promotions: the interleaved stager fails TYPED at " +
      "the staging lock with nothing staged — it can no longer " +
      "overwrite the in-flight writer's files (the pre-lock hazard)") {
    val dir = tmp("snapcas")
    try {
      val root = dir.toString + "/t"
      val nation = Tables.table(spark, sf, "nation")
      val vA = nation.filter(col("n_regionkey") === 1)
      val vB = nation.filter(col("n_regionkey") === 2)
      SnapshotStore.publish(spark, nation, root)
      // the interleaved promotion lands between the first writer's
      // staged write and its repoint. Pre-lock, it would OVERWRITE
      // the staged files of the same generation number; now it fails
      // typed at the staging lock, having staged nothing — and the
      // refusal propagates through the hook, aborting the outer
      // publish too (its residue is consumed by the next retry).
      val e = intercept[MetaSwap.CasFailed] {
        SnapshotStore.publishImpl(spark, vA, root, Nil, 3, () => {
          SnapshotStore.publish(spark, vB, root); ()
        })
      }
      assert(e.getMessage.contains("STAGING"),
        s"expected the staging-lock refusal, got $e")
      // nothing committed: the table still serves generation 1
      assert(SnapshotStore.currentGen(spark, root).contains(1L))
      assert(rows(SnapshotStore.readCurrent(spark, root)) ==
        rows(nation))
      // both writers retry cleanly: the lock was released, the
      // residue is overwritten, generations allocate serially
      assert(SnapshotStore.publish(spark, vB, root) == 2L)
      assert(SnapshotStore.publish(spark, vA, root) == 3L)
      assert(rows(SnapshotStore.readCurrent(spark, root)) == rows(vA))
    } finally rmTree(dir)
  }

  test("compactCurrent: zero-downtime OPTIMIZE — fewer files, same " +
      "rows, superseded layout still time-travelable") {
    val dir = tmp("snapopt")
    try {
      val root = dir.toString + "/t"
      val src = Tables.table(spark, sf, "orders")
        .select("o_orderkey", "o_totalprice").limit(900)
      // a scattered first generation (the per-API-call landing shape)
      SnapshotStore.publish(spark, src.repartition(32), root)
      val before = rows(SnapshotStore.readCurrent(spark, root))
      def genFiles(g: Long) = Option(new java.io.File(
          s"$root/_snapshots/$g").listFiles()).get
        .count(_.getName.endsWith(".parquet"))
      assert(genFiles(1L) == 32)
      assert(SnapshotStore.compactCurrent(spark, root,
        targetRowsPerFile = 450L) == 2)
      assert(genFiles(2L) == 2)
      assert(rows(SnapshotStore.readCurrent(spark, root)) == before)
      // the scattered layout is a superseded gen, not a gap risk: a
      // reader that resolved gen 1 mid-compaction still reads it
      assert(rows(SnapshotStore.readAt(spark, root, 1L)) == before)
    } finally rmTree(dir)
  }

  test("compactCurrentBytes sizes output from the generation's file " +
      "LISTING — no count scan — same pointer and retention contract") {
    val dir = tmp("snapoptb")
    try {
      val root = dir.toString + "/t"
      val fs = Tables.fsFor(spark, root)
      val src = Tables.table(spark, sf, "orders")
        .select("o_orderkey", "o_totalprice").limit(900)
      SnapshotStore.publish(spark, src.repartition(32), root)
      val before = rows(SnapshotStore.readCurrent(spark, root))
      def genBytes(g: Long) = {
        val it = fs.listFiles(
          new org.apache.hadoop.fs.Path(s"$root/_snapshots/$g"), true)
        var t = 0L
        while (it.hasNext) {
          val st = it.next()
          if (st.getPath.getName.endsWith(".parquet")) t += st.getLen
        }
        t
      }
      // target = half the current gen's bytes → exactly 2 output
      // files, sized from metadata alone; the rewrite is the ONLY
      // data pass
      val target = (genBytes(1L) + 1) / 2
      assert(SnapshotStore.compactCurrentBytes(spark, root, target) == 2)
      assert(SnapshotStore.currentGen(spark, root).contains(2L))
      assert(Option(new java.io.File(s"$root/_snapshots/2")
        .listFiles()).get.count(_.getName.endsWith(".parquet")) == 2)
      assert(rows(SnapshotStore.readCurrent(spark, root)) == before)
      // superseded layout still time-travelable under retention
      assert(rows(SnapshotStore.readAt(spark, root, 1L)) == before)
      // an unpublished root refuses like compactCurrent
      intercept[IllegalStateException] {
        SnapshotStore.compactCurrentBytes(spark,
          dir.toString + "/none", target)
      }
    } finally rmTree(dir)
  }

  test("diff between two served generations: the S12 statuses per " +
      "key, refusals inherited from readAt") {
    val dir = tmp("snapdiff")
    try {
      val root = dir.toString + "/t"
      val nation = Tables.table(spark, sf, "nation")
      SnapshotStore.publish(spark, nation, root)
      val v2 = nation.filter(col("n_regionkey") < 2)
        .withColumn("n_name", when(col("n_nationkey") === 0,
          lit("RENAMED")).otherwise(col("n_name")))
      SnapshotStore.publish(spark, v2, root)
      val byChange = SnapshotStore
        .diff(spark, root, 1L, 2L, Seq("n_nationkey"))
        .groupBy(col("change")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val kept = nation.filter(col("n_regionkey") < 2).count()
      val dropped = nation.filter(col("n_regionkey") >= 2).count()
      assert(byChange == Map("changed" -> 1L, "removed" -> dropped,
        "unchanged" -> (kept - 1L)), byChange.toString)
      // the reverse direction swaps added/removed, same counts
      val rev = SnapshotStore
        .diff(spark, root, 2L, 1L, Seq("n_nationkey"))
        .groupBy(col("change")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rev("added") == dropped && rev("changed") == 1L)
      // refusals are readAt's: a never-committed gen refuses typed
      intercept[SnapshotUnavailable] {
        SnapshotStore.diff(spark, root, 1L, 9L, Seq("n_nationkey"))
      }
    } finally rmTree(dir)
  }

  // ---- the fsck family on the pointer protocol (S19b) --------------

  test("auditSnapshots classifies every pointer-protocol state; " +
      "repair reclaims residue, reports tampering, never touches " +
      "the serving gen") {
    import graft.operators.IndexAudit
    val dir = tmp("snapfsck")
    try {
      val root = dir.toString + "/t"
      val fs = Tables.fsFor(spark, root)
      val nation = Tables.table(spark, sf, "nation")
      // an empty root audits to nothing at all
      assert(IndexAudit.auditSnapshots(spark, root).isEmpty)
      SnapshotStore.publish(spark, nation, root, keep = 3) // gen 1
      SnapshotStore.publish(spark,
        nation.filter(col("n_regionkey") < 2), root, keep = 3) // gen 2
      assert(IndexAudit.isSnapshotsHealthy(spark, root))
      // plants: crashed-publish residue (cur+1), impossible future
      // gen, a pointer swap that crashed before its rename (its stage
      // file beside the intact pointer)
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/_snapshots/3"))
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/_snapshots/9"))
      val stage = MetaSwap.stagePath(Generations.pointer(root))
      val out = fs.create(stage, true)
      try out.write("gen=3\n".getBytes("UTF-8")) finally out.close()
      // readers ignore the stage: the pointer still serves gen 2
      assert(SnapshotStore.currentGen(spark, root).contains(2L))
      val got = IndexAudit.auditSnapshots(spark, root, keep = 1)
        .map(f => (f.kind, f.name, f.status, f.healthy)).toSet
      assert(got == Set(
        ("pointer", "_current", "swap_residue", true),
        ("pointer", "2", "current_ok", true),
        ("gen", "1", "over_retained", true), // keep=1 vs keep=3 write
        ("gen", "2", "serving", true),
        ("gen", "3", "publish_residue", true),
        ("gen", "9", "orphan_future", false)), got.toString)
      // without a known keep, gen 1 is just the time-travel inventory
      assert(IndexAudit.auditSnapshots(spark, root).exists(f =>
        f.name == "1" && f.status == "superseded_retained" && f.healthy))
      assert(!IndexAudit.isSnapshotsHealthy(spark, root))
      val served = rows(SnapshotStore.readCurrent(spark, root))
      val acts = IndexAudit.repairSnapshots(spark, root, keep = 1)
        .collect().map(r => (r.getString(1), r.getString(2))).toSet
      assert(acts == Set(
        ("3", "reclaimed_residue"),
        ("1", "pruned_over_retained"),
        ("_current", "reclaimed_swap_residue"),
        ("9", "unrepairable_orphan_future")), acts.toString)
      // residue physically reclaimed; evidence preserved; serving
      // generation untouched
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$root/_snapshots/3")))
      assert(!fs.exists(stage))
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$root/_snapshots/9")))
      assert(rows(SnapshotStore.readCurrent(spark, root)) == served)
      // lifting the tampering restores a healthy audit; repair is
      // then idempotent (nothing left to do)
      assert(fs.delete(new org.apache.hadoop.fs.Path(
        s"$root/_snapshots/9"), true))
      assert(IndexAudit.isSnapshotsHealthy(spark, root, keep = 1))
      assert(IndexAudit.repairSnapshots(spark, root, keep = 1)
        .count() == 0)
    } finally rmTree(dir)
  }

  test("auditSnapshots: lost pointer and missing serving target are " +
      "reported unrepairable — repair never repoints or deletes") {
    import graft.operators.IndexAudit
    val dir = tmp("snapfsck2")
    try {
      val root = dir.toString + "/t"
      val fs = Tables.fsFor(spark, root)
      val nation = Tables.table(spark, sf, "nation")
      SnapshotStore.publish(spark, nation, root, keep = 3)
      SnapshotStore.publish(spark,
        nation.filter(col("n_regionkey") < 2), root, keep = 3)
      // a pointer swap that crashed before its rename leaves its stage
      // beside the intact pointer: reported as residue, never read,
      // and reclaimed by repair
      val stage = MetaSwap.stagePath(Generations.pointer(root))
      val st = fs.create(stage, true)
      try st.write("gen=3\n".getBytes("UTF-8")) finally st.close()
      val crashed = IndexAudit.auditSnapshots(spark, root)
      assert(crashed.exists(f => f.status == "swap_residue" && f.healthy))
      assert(crashed.exists(f => f.status == "current_ok"))
      assert(SnapshotStore.currentGen(spark, root).contains(2L))
      assert(IndexAudit.repairSnapshots(spark, root).collect()
        .map(_.getString(2)).toSeq == Seq("reclaimed_swap_residue"))
      assert(!fs.exists(stage))
      // the serving target vanishes: reported, never repointed-around
      assert(fs.delete(new org.apache.hadoop.fs.Path(
        s"$root/_snapshots/2"), true))
      assert(IndexAudit.auditSnapshots(spark, root).exists(f =>
        f.status == "missing_target" && !f.healthy))
      val acts = IndexAudit.repairSnapshots(spark, root).collect()
        .map(_.getString(2)).toSeq
      assert(acts == Seq("unrepairable_missing_current"))
      // gen 1 (the operator's recovery candidate) is untouched
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$root/_snapshots/1")))
      // the pointer itself vanishes with gens beyond the first on
      // disk: lost-pointer alarm, gens reported as the stranded
      // recovery inventory, nothing deleted
      assert(fs.mkdirs(new org.apache.hadoop.fs.Path(
        s"$root/_snapshots/2")))
      assert(fs.delete(new org.apache.hadoop.fs.Path(s"$root/_current"),
        false))
      val lost = IndexAudit.auditSnapshots(spark, root)
        .map(f => (f.kind, f.status, f.healthy)).toSet
      assert(lost == Set(
        ("pointer", "lost", false),
        ("gen", "stranded", true)), lost.toString)
      val acts2 = IndexAudit.repairSnapshots(spark, root).collect()
        .map(_.getString(2)).toSeq
      assert(acts2 == Seq("unrepairable_lost_pointer"))
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$root/_snapshots/1")))
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$root/_snapshots/2")))
      // a SOLE gen 1 with no pointer is the crashed-first-publish
      // shape — healthy residue, but repair only reports it (it is
      // indistinguishable from a pointer lost after one publish, so
      // deleting would risk the only copy)
      val fresh = s"${dir.toString}/fresh"
      Tables.fsFor(spark, fresh).mkdirs(
        new org.apache.hadoop.fs.Path(s"$fresh/_snapshots/1"))
      val firstRes = IndexAudit.auditSnapshots(spark, fresh)
      assert(firstRes.map(f => (f.kind, f.status, f.healthy)) ==
        Seq(("gen", "first_publish_residue", true)))
      assert(IndexAudit.repairSnapshots(spark, fresh).collect()
        .map(_.getString(2)).toSeq ==
        Seq("needs_republish_or_repoint"))
      assert(Tables.fsFor(spark, fresh).exists(
        new org.apache.hadoop.fs.Path(s"$fresh/_snapshots/1")))
    } finally rmTree(dir)
  }

  test("the retention window rides the pointer: the audit classifies " +
      "a crashed prune's leftover with no out-of-band keep") {
    import graft.operators.IndexAudit
    val dir = tmp("snapkeep")
    try {
      val root = dir.toString + "/t"
      val fs = Tables.fsFor(spark, root)
      val nation = Tables.table(spark, sf, "nation")
      SnapshotStore.publish(spark, nation, root, keep = 3) // gen 1
      SnapshotStore.publish(spark, nation, root, keep = 3) // gen 2
      SnapshotStore.publish(spark, nation, root, keep = 3) // gen 3
      // the fourth publish narrows the window to 2 and prunes 1..2
      SnapshotStore.publish(spark, nation, root, keep = 2) // gen 4
      intercept[SnapshotUnavailable] {
        SnapshotStore.readAt(spark, root, 2L)
      }
      // a crashed prune's leftover reappears (planted): with keep=2
      // persisted in the pointer, the parameterless audit classifies
      // it over_retained — no out-of-band window needed
      assert(fs.mkdirs(new org.apache.hadoop.fs.Path(
        s"$root/_snapshots/1")))
      def statusOf(gen: String, k: Int = 0) =
        IndexAudit.auditSnapshots(spark, root, k)
          .collectFirst { case f if f.name == gen => f.status }
      assert(statusOf("1").contains("over_retained"))
      assert(statusOf("3").contains("superseded_retained"))
      // an explicit caller keep still overrides (audit the same table
      // against a wider window: gen 1 is then just retained)
      assert(statusOf("1", k = 4).contains("superseded_retained"))
      // the parameterless repair finishes the crashed prune
      val acts = IndexAudit.repairSnapshots(spark, root).collect()
        .map(r => (r.getString(1), r.getString(2))).toSet
      assert(acts == Set(("1", "pruned_over_retained")), acts.toString)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$root/_snapshots/1")))
      // a LEGACY gen-only pointer leaves the window unknown: every
      // superseded gen reports retained (the pre-r13 behavior)
      val out = fs.create(
        new org.apache.hadoop.fs.Path(s"$root/_current"), true)
      try out.write("gen=4\n".getBytes("UTF-8")) finally out.close()
      assert(statusOf("3").contains("superseded_retained"))
      assert(fs.mkdirs(new org.apache.hadoop.fs.Path(
        s"$root/_snapshots/1")))
      assert(statusOf("1").contains("superseded_retained"))
    } finally rmTree(dir)
  }

  test("SQL surface: generations queryable via CREATE TEMPORARY VIEW " +
      "USING the snapshot source and the DataFrameReader, with native " +
      "pushdown; the manifest table rides the same source") {
    val dir = tmp("snapsql")
    try {
      val root = dir.toString + "/t"
      val nation = Tables.table(spark, sf, "nation")
      val v2 = nation.filter(col("n_regionkey") < 2)
      SnapshotStore.publish(spark, nation, root) // gen 1
      SnapshotStore.publish(spark, v2, root)     // gen 2
      // pure SQL: a pinned time-travel view and a serving view
      spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW snap_v1 " +
        s"USING graft.sources.SnapshotSource " +
        s"OPTIONS (path '$root', versionAsOf '1')")
      spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW snap_cur " +
        s"USING graft.sources.SnapshotSource OPTIONS (path '$root')")
      assert(spark.sql("SELECT count(*) FROM snap_v1").head()
        .getLong(0) == nation.count())
      assert(spark.sql("SELECT count(*) FROM snap_cur").head()
        .getLong(0) == v2.count())
      // DataFrameReader form by short name, rows exact
      val viaReader = spark.read.format("graft-snapshot")
        .option("versionAsOf", "1").load(root)
      assert(rows(viaReader) == rows(nation))
      // the relation is the generation's REAL parquet relation:
      // filters reach the scan (PushedFilters), nothing is wrapped
      val plan = viaReader.filter(col("n_regionkey") === 2)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") &&
        plan.contains("n_regionkey"), plan.takeWhile(_ != '\n'))
      // refusals stay typed through the SQL surface
      intercept[SnapshotUnavailable] {
        spark.read.format("graft-snapshot").option("versionAsOf", "9")
          .load(root)
      }
      // the S20 manifest table serves through the SAME source name
      // (layout probed from the root)
      val mroot = dir.toString + "/m"
      graft.sources.ManifestStore.publish(spark, nation, mroot,
        "n_regionkey")
      graft.sources.ManifestStore.publish(spark,
        v2.withColumn("n_name", lit("CHANGED")), mroot, "n_regionkey")
      assert(spark.read.format("graft-snapshot")
        .option("versionAsOf", "1").load(mroot).count() ==
        nation.count())
      spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW mani_cur " +
        s"USING graft.sources.SnapshotSource OPTIONS (path '$mroot')")
      assert(spark.sql(
        "SELECT count(*) FROM mani_cur WHERE n_name = 'CHANGED'")
        .head().getLong(0) == v2.count())
      spark.catalog.dropTempView("snap_v1")
      spark.catalog.dropTempView("snap_cur")
      spark.catalog.dropTempView("mani_cur")
    } finally rmTree(dir)
  }

  test("retainMs: a wall-clock grace floor keeps a superseded gen " +
      "servable past the generation window until the floor expires") {
    import graft.operators.IndexAudit
    val dir = tmp("snapgrace")
    try {
      val root = dir.toString + "/t"
      val nation = Tables.table(spark, sf, "nation")
      val v1 = nation.filter(col("n_regionkey") < 2)
      val hour = 3600L * 1000
      SnapshotStore.publish(spark, v1, root, Nil, keep = 1,
        retainMs = hour) // gen 1
      // keep=1 would prune gen 1 here — the grace floor saves it: a
      // reader that resolved gen 1 seconds ago keeps a servable dir
      SnapshotStore.publish(spark, nation, root, Nil, keep = 1,
        retainMs = hour) // gen 2
      assert(SnapshotStore.readAt(spark, root, 1L).count() ==
        v1.count(), "a gen inside the grace window must stay servable")
      // the audit knows the difference: grace_retained (the reader
      // contract), never over_retained (a crashed prune's leftover)
      val st = IndexAudit.auditSnapshots(spark, root)
        .collectFirst { case f if f.name == "1" => f.status }
      assert(st.contains("grace_retained"), st.toString)
      // and repair leaves it alone
      assert(IndexAudit.repairSnapshots(spark, root).collect()
        .forall(_.getString(1) != "1"))
      // once the floor expires, the next publish's prune reclaims:
      // republish with a 1 ms floor after letting it lapse
      Thread.sleep(10)
      SnapshotStore.publish(spark, nation, root, Nil, keep = 1,
        retainMs = 1L) // gen 3
      intercept[SnapshotUnavailable] {
        SnapshotStore.readAt(spark, root, 1L)
      }
      intercept[SnapshotUnavailable] {
        SnapshotStore.readAt(spark, root, 2L)
      }
      assert(SnapshotStore.readCurrent(spark, root).count() ==
        nation.count())
      assert(IndexAudit.isSnapshotsHealthy(spark, root))
    } finally rmTree(dir)
  }

  test("an unhealthy pointer suspends gen reclaims: residue and " +
      "over-retained gens are preserved as recovery candidates") {
    import graft.operators.IndexAudit
    val dir = tmp("snappreserve")
    try {
      val root = dir.toString + "/t"
      val fs = Tables.fsFor(spark, root)
      val nation = Tables.table(spark, sf, "nation")
      SnapshotStore.publish(spark, nation, root, keep = 2) // gen 1
      SnapshotStore.publish(spark, nation, root, keep = 2) // gen 2
      SnapshotStore.publish(spark,
        nation.filter(col("n_regionkey") < 2), root, keep = 2) // gen 3
      // plant a crashed prune's leftover and a crashed publish's
      // residue, then LOSE the serving target: either leftover may now
      // be the only surviving copy of the table
      assert(fs.mkdirs(new org.apache.hadoop.fs.Path(
        s"$root/_snapshots/1")))
      assert(fs.mkdirs(new org.apache.hadoop.fs.Path(
        s"$root/_snapshots/4")))
      assert(fs.delete(new org.apache.hadoop.fs.Path(
        s"$root/_snapshots/3"), true))
      val statuses = IndexAudit.auditSnapshots(spark, root)
        .map(f => (f.status, f.healthy)).toSet
      assert(statuses == Set(("missing_target", false),
        ("over_retained", true), ("publish_residue", true),
        ("superseded_retained", true)), statuses.toString)
      // repair deletes NOTHING while the pointer is unhealthy — the
      // gen reclaims are reported as preserved recovery inventory
      val acts = IndexAudit.repairSnapshots(spark, root).collect()
        .map(r => (r.getString(1), r.getString(2))).toSet
      assert(acts == Set(
        ("1", "preserved_recovery_candidate"),
        ("4", "preserved_recovery_candidate"),
        ("3", "unrepairable_missing_current")), acts.toString)
      Seq(1, 2, 4).foreach(g => assert(fs.exists(
        new org.apache.hadoop.fs.Path(s"$root/_snapshots/$g")),
        s"gen $g must survive repair under an unhealthy pointer"))
      // the operator restores the serving target (here: republish from
      // the surviving gen 2 copy into gen 3's slot) — with the pointer
      // current_ok again, the SAME repair finishes the suspended
      // reclaims
      Tables.table(spark, sf, "nation").filter(col("n_regionkey") < 2)
        .write.mode("overwrite").parquet(s"$root/_snapshots/3")
      val acts2 = IndexAudit.repairSnapshots(spark, root).collect()
        .map(r => (r.getString(1), r.getString(2))).toSet
      assert(acts2 == Set(("1", "pruned_over_retained"),
        ("4", "reclaimed_residue")), acts2.toString)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$root/_snapshots/1")))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$root/_snapshots/4")))
      assert(SnapshotStore.readCurrent(spark, root).count() ==
        nation.filter(col("n_regionkey") < 2).count())
    } finally rmTree(dir)
  }

  test("auditSnapshots classifies a CORRUPT pointer instead of " +
      "crashing; repair reports it and preserves the .next evidence") {
    import graft.operators.IndexAudit
    val dir = tmp("snapfsck3")
    try {
      val root = dir.toString + "/t"
      val fs = Tables.fsFor(spark, root)
      val nation = Tables.table(spark, sf, "nation")
      SnapshotStore.publish(spark, nation, root, keep = 3)
      SnapshotStore.publish(spark,
        nation.filter(col("n_regionkey") < 2), root, keep = 3)
      // the last good bytes survive in a crashed swap's stage file;
      // then the committed pointer is corrupted
      val stage = MetaSwap.stagePath(Generations.pointer(root))
      val next = fs.create(stage, true)
      try next.write("gen=2\n".getBytes("UTF-8")) finally next.close()
      val out = fs.create(
        new org.apache.hadoop.fs.Path(s"$root/_current"), true)
      try out.write("garbage bytes no gen line".getBytes("UTF-8"))
      finally out.close()
      // the fsck classifies — never throws — and every gen becomes
      // the stranded recovery inventory (one of them is probably the
      // serving table; classification needs a readable pointer)
      val got = IndexAudit.auditSnapshots(spark, root)
        .map(f => (f.kind, f.status, f.healthy)).toSet
      assert(got == Set(
        ("pointer", "swap_residue", true),
        ("pointer", "corrupt", false),
        ("gen", "stranded", true)), got.toString)
      assert(!IndexAudit.isSnapshotsHealthy(spark, root))
      val acts = IndexAudit.repairSnapshots(spark, root).collect()
        .map(_.getString(2)).toSet
      assert(acts == Set("unrepairable_corrupt_pointer"), acts.toString)
      // the stage evidence (the last good bytes) and every gen dir
      // survive the repair — rewriting the pointer is the operator's
      // explicit call
      assert(fs.exists(stage))
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$root/_snapshots/1")))
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$root/_snapshots/2")))
      // a non-numeric gen value corrupts the same way (toLongOption,
      // not a NumberFormatException crash)
      val out2 = fs.create(
        new org.apache.hadoop.fs.Path(s"$root/_current"), true)
      try out2.write("gen=abc\n".getBytes("UTF-8")) finally out2.close()
      assert(IndexAudit.auditSnapshots(spark, root).exists(f =>
        f.status == "corrupt" && !f.healthy))
    } finally rmTree(dir)
  }

  test("timestampAsOf: an instant resolves to the newest generation " +
      "published at-or-before it, on both table kinds and in SQL; " +
      "out-of-window instants refuse typed") {
    val dir = tmp("snapts")
    try {
      val root = dir.toString + "/t"
      val nation = Tables.table(spark, sf, "nation")
      val preT = System.currentTimeMillis() - 1L
      SnapshotStore.publish(spark, nation, root) // gen 1
      Thread.sleep(5)
      val t1 = System.currentTimeMillis()
      Thread.sleep(5)
      SnapshotStore.publish(spark,
        nation.filter(col("n_regionkey") < 2), root) // gen 2
      assert(SnapshotStore.genAsOfTimestamp(spark, root, t1) == 1L)
      assert(rows(SnapshotStore.readAsOfTimestamp(spark, root, t1)) ==
        rows(nation))
      assert(SnapshotStore.genAsOfTimestamp(spark, root,
        System.currentTimeMillis()) == 2L)
      intercept[SnapshotUnavailable] {
        SnapshotStore.readAsOfTimestamp(spark, root, preT)
      }
      // SQL: timestampAsOf pins the resolved generation; epoch millis
      // and versionAsOf are mutually exclusive
      spark.sql("CREATE OR REPLACE TEMPORARY VIEW graft_ts_v " +
        s"USING graft.sources.SnapshotSource " +
        s"OPTIONS (path '$root', timestampAsOf '$t1')")
      assert(spark.sql("SELECT count(*) FROM graft_ts_v")
        .head().getLong(0) == nation.count())
      spark.catalog.dropTempView("graft_ts_v")
      intercept[Exception] {
        spark.sql("CREATE OR REPLACE TEMPORARY VIEW graft_ts_bad " +
          s"USING graft.sources.SnapshotSource " +
          s"OPTIONS (path '$root', timestampAsOf '$t1', " +
          "versionAsOf '1')")
      }
      // manifest kind: published= headers answer the same question
      val mroot = dir.toString + "/m"
      graft.sources.ManifestStore.publish(spark, nation, mroot,
        "n_regionkey")
      Thread.sleep(5)
      val t2 = System.currentTimeMillis()
      Thread.sleep(5)
      graft.sources.ManifestStore.publish(spark,
        nation.filter(col("n_regionkey") === 2)
          .withColumn("n_name", lit("X")), mroot, "n_regionkey")
      assert(graft.sources.ManifestStore
        .genAsOfTimestamp(spark, mroot, t2) == 1L)
      assert(rows(graft.sources.ManifestStore
        .readAsOfTimestamp(spark, mroot, t2)) == rows(nation))
      intercept[SnapshotUnavailable] {
        graft.sources.ManifestStore.readAsOfTimestamp(spark, mroot,
          preT)
      }
    } finally rmTree(dir)
  }

  test("snapshot-table branches: WAP at dimension scale — isolated " +
      "branch publishes, audited fast-forward by RENAME (zero data " +
      "bytes copied), refusal when main moved, prune-safe") {
    import graft.sources.SnapshotStore
    val dir = tmp("snapbranch")
    try {
      val root = dir.toString + "/t"
      val nation = Tables.table(spark, sf, "nation")
      SnapshotStore.publish(spark, nation, root) // gen 1
      SnapshotStore.branch(spark, root, "wap")
      // head 0: the branch serves its base
      assert(SnapshotStore.readRef(spark, root, "wap").count() ==
        nation.count())
      // an isolated branch publish: main untouched
      val v2 = nation.withColumn("n_name", upper(col("n_name")))
      val seq = SnapshotStore.publishToBranch(spark, v2, root, "wap")
      assert(seq == 1L)
      assert(SnapshotStore.currentGen(spark, root).contains(1L))
      assert(SnapshotStore.readRef(spark, root, "wap")
        .filter(col("n_name") =!= upper(col("n_name"))).count() == 0)
      // the head copy's data files, by (name, mtime) — the rename
      // must carry THESE, not rewrite them
      val fs = Tables.fsFor(spark, root)
      val headDir = new org.apache.hadoop.fs.Path(
        s"$root/_snapshots/r-wap-1")
      val beforeFiles = fs.listStatus(headDir)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(f => f.getPath.getName -> f.getModificationTime).toMap
      // a failing audit refuses with main untouched
      intercept[graft.AuditFailed] {
        SnapshotStore.fastForwardBranch(spark, root, "wap",
          Seq(graft.operators.Cleaning.ExpectRange("n_regionkey",
            1000, 2000)))
      }
      assert(SnapshotStore.currentGen(spark, root).contains(1L))
      // the audited fast-forward: metadata-only promotion
      val g = SnapshotStore.fastForwardBranch(spark, root, "wap",
        Seq(graft.operators.Cleaning.ExpectMatches("n_name",
          "^[^a-z]*$")))
      assert(g == 2L)
      val afterFiles = fs.listStatus(new org.apache.hadoop.fs.Path(
        s"$root/_snapshots/2"))
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(f => f.getPath.getName -> f.getModificationTime).toMap
      assert(afterFiles == beforeFiles,
        "fast-forward must RENAME the head copy, not rewrite it")
      assert(SnapshotStore.readCurrent(spark, root)
        .filter(col("n_name") =!= upper(col("n_name"))).count() == 0)
      // the ref rebased onto the new main
      assert(SnapshotStore.refAt(spark, root, "wap") match {
        case graft.sources.ManifestStore.BranchRef(0L, 2L, _) => true
        case _ => false
      })
      // the fsck stays healthy through the whole cycle
      assert(graft.operators.IndexAudit.isSnapshotsHealthy(spark, root))
      // a branch whose base main has moved past refuses un-forced
      SnapshotStore.branch(spark, root, "late", Some(2L))
      SnapshotStore.publishToBranch(spark, nation.limit(5), root,
        "late")
      SnapshotStore.publish(spark, nation, root) // main moves to 3
      intercept[IllegalStateException] {
        SnapshotStore.fastForwardBranch(spark, root, "late")
      }
      // dropped branch: its private copy reclaims on the next prune
      SnapshotStore.dropRef(spark, root, "late")
      SnapshotStore.expire(spark, root)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$root/_snapshots/r-late-1")))
      assert(graft.operators.IndexAudit.isSnapshotsHealthy(spark, root))
      ()
    } finally rmTree(dir)
  }

  test("fast-forward sweeps the branch's SUPERSEDED head copies: " +
      "out-of-grace seqs delete in the call, grace-held seqs are " +
      "marked and reclaimed by a later prune — never retained as " +
      "in-flight forever") {
    import graft.sources.SnapshotStore
    val dir = tmp("snapffsweep")
    try {
      val fs = Tables.fsFor(spark, dir.toString)
      def copies(root: String) =
        fs.listStatus(new org.apache.hadoop.fs.Path(
          s"$root/_snapshots")).map(_.getPath.getName)
          .filter(_.startsWith("r-")).toSet
      val nation = Tables.table(spark, sf, "nation")

      // no grace: seqs 1..2 sweep inside the fast-forward call
      val root = dir.toString + "/t"
      SnapshotStore.publish(spark, nation, root)
      SnapshotStore.branch(spark, root, "b")
      (1 to 3).foreach { i =>
        SnapshotStore.publishToBranch(spark,
          nation.withColumn("n_name", concat(col("n_name"),
            lit(s"-$i"))), root, "b")
      }
      assert(copies(root) == Set("r-b-1", "r-b-2", "r-b-3"))
      SnapshotStore.fastForwardBranch(spark, root, "b")
      assert(copies(root).isEmpty,
        "superseded seqs 1..2 must sweep; 3 was renamed to main")
      assert(graft.operators.IndexAudit.isSnapshotsHealthy(spark, root))

      // with grace: superseded seqs survive the call MARKED, and a
      // later prune (after the grace lapses) reclaims them
      val root2 = dir.toString + "/t2"
      SnapshotStore.publish(spark, nation, root2, keep = 3,
        retainMs = 60000L)
      SnapshotStore.branch(spark, root2, "b")
      (1 to 2).foreach { i =>
        SnapshotStore.publishToBranch(spark,
          nation.withColumn("n_name", concat(col("n_name"),
            lit(s"-$i"))), root2, "b")
      }
      SnapshotStore.fastForwardBranch(spark, root2, "b")
      val held = new org.apache.hadoop.fs.Path(
        s"$root2/_snapshots/r-b-1")
      assert(fs.exists(held), "grace must hold the superseded copy")
      assert(fs.exists(new org.apache.hadoop.fs.Path(held,
        "_superseded")), "the held copy must be MARKED superseded")
      // age the copy past grace (backdate its publish instant), then
      // any prune-carrying op reclaims it — here an expire
      val stamp = fs.create(new org.apache.hadoop.fs.Path(held,
        "_published_at"), true)
      try stamp.write("1000".getBytes("UTF-8")) finally stamp.close()
      SnapshotStore.expire(spark, root2)
      assert(!fs.exists(held),
        "a marked superseded copy must reclaim once grace lapses")
      assert(graft.operators.IndexAudit.isSnapshotsHealthy(spark,
        root2))
      ()
    } finally rmTree(dir)
  }

  // ---- carry-forward: an unchanged publish copies the serving gen ----

  /** Spark jobs `body` ran, counted by a listener. */
  private def jobsIn(body: => Any): Int =
    graft.tools.Profile.recording(spark) { r =>
      org.apache.spark.sql.GraftSqlBridge.drainListeners(spark); r.take()
      body
      org.apache.spark.sql.GraftSqlBridge.drainListeners(spark)
      r.take().jobs
    }

  /** A dimension-shaped frame over a private copy of the nation file,
    * built fresh on each call (a new plan, the same inputs).
    */
  private def dimOver(src: String) =
    graft.operators.StarSchema.dimension(Tables.readParquet(spark, src),
      Seq("n_regionkey", "n_name"), Seq("n_name"), "id_nation")

  private def copyNation(dir: java.io.File): String = {
    val src = new java.io.File(dir, "src/nation.parquet")
    src.getParentFile.mkdirs()
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/nation.parquet"),
      src.toPath)
    src.toString
  }

  private def dataFiles(root: String, gen: Long): Map[String, Long] =
    new java.io.File(s"$root/_snapshots/$gen").listFiles().toSeq
      .filter(f => f.getName.startsWith("part-"))
      .map(f => f.getName -> f.length()).toMap

  private val dimRules = Seq(
    graft.operators.Cleaning.ExpectNotNull("id_nation"),
    graft.operators.Cleaning.ExpectUnique("id_nation"))

  test("an unchanged file-sourced publish carries the serving " +
      "generation forward with no Spark job; its rows equal a forced " +
      "rewrite") {
    val dir = tmp("snapcarry")
    try {
      val src = copyNation(dir)
      val root = dir.toString + "/t"
      assert(SnapshotStore.publish(spark, dimOver(src), root, dimRules) == 1L)
      var gen = 0L
      assert(jobsIn {
        gen = SnapshotStore.publish(spark, dimOver(src), root, dimRules)
      } == 0, "the carry ran a Spark job")
      // the generation still advances, as a byte copy of the serving one
      assert(gen == 2L)
      assert(SnapshotStore.currentGen(spark, root).contains(2L))
      assert(dataFiles(root, 2L) == dataFiles(root, 1L))
      assert(dataFiles(root, 2L).nonEmpty)
      assert(SnapshotStore.publishedAt(
        Tables.fsFor(spark, root), root, 2L).isDefined)
      // the reference: the same rows through a frame the fingerprint
      // cannot see (an RDD leaf), which always rewrites
      val ref = dir.toString + "/ref"
      val d = dimOver(src)
      SnapshotStore.publish(spark, spark.createDataFrame(d.rdd, d.schema),
        ref, dimRules)
      assert(jobsIn(SnapshotStore.publish(spark,
        spark.createDataFrame(d.rdd, d.schema), ref, dimRules)) > 0)
      assert(rows(SnapshotStore.readCurrent(spark, root)) ==
        rows(SnapshotStore.readCurrent(spark, ref)))
      assert(rows(SnapshotStore.readCurrent(spark, root)) == rows(d))
    } finally rmTree(dir)
  }

  test("a touched source file, changed expectations and a non-file " +
      "leaf each rewrite instead of carrying") {
    import graft.operators.Cleaning
    val dir = tmp("snaprewrite")
    try {
      val src = copyNation(dir)
      val root = dir.toString + "/t"
      SnapshotStore.publish(spark, dimOver(src), root, dimRules)
      // a touched source: same bytes, new mtime — the publish rewrites
      val f = new java.io.File(src)
      assert(f.setLastModified(f.lastModified() - 60000L))
      assert(jobsIn(SnapshotStore.publish(spark, dimOver(src), root,
        dimRules)) > 0)
      assert(SnapshotStore.currentGen(spark, root).contains(2L))
      // changed expectations: the audit runs, so a planted failing rule
      // still refuses typed and the pointer stays
      val e = intercept[AuditFailed] {
        SnapshotStore.publish(spark, dimOver(src), root,
          dimRules :+ Cleaning.ExpectRange("n_regionkey", -9.0, -1.0))
      }
      assert(e.getMessage.contains("n_regionkey"))
      assert(SnapshotStore.currentGen(spark, root).contains(2L))
      // leaves the fingerprint cannot see: range, toDF, an RDD
      import spark.implicits._
      Seq[() => org.apache.spark.sql.DataFrame](
        () => spark.range(5).toDF("id_nation"),
        () => Seq(1L, 2L).toDF("id_nation")).foreach { mk =>
        val r = dir.toString + s"/leaf${mk.hashCode}"
        SnapshotStore.publish(spark, mk(), r, dimRules)
        assert(jobsIn(SnapshotStore.publish(spark, mk(), r, dimRules)) > 0)
        assert(SnapshotStore.currentGen(spark, r).contains(2L))
      }
      // what the fingerprint refuses, and what it sees as equal
      val fp = SnapshotStore.fingerprint(_, dimRules)
      assert(fp(dimOver(src)).isDefined)
      assert(fp(dimOver(src)) == fp(dimOver(src)))
      assert(fp(dimOver(src)) != SnapshotStore.fingerprint(dimOver(src),
        Nil))
      assert(fp(dimOver(src).filter(col("n_regionkey") > 0)) !=
        fp(dimOver(src)))
      assert(fp(dimOver(src).withColumn("r", rand())).isEmpty)
      assert(fp(dimOver(src).withColumn("u",
        udf((s: String) => s.length).apply(col("n_name")))).isEmpty)
      assert(fp(spark.read.option("mergeSchema", "true").parquet(src))
        .isEmpty)
      assert(fp(spark.range(3).toDF()).isEmpty)
      assert(fp(Seq(1).toDF("a")).isEmpty)
    } finally rmTree(dir)
  }

  test("the crash hook fires on the carry path; the retry carries") {
    val dir = tmp("snapcarrycrash")
    try {
      val src = copyNation(dir)
      val root = dir.toString + "/t"
      SnapshotStore.publish(spark, dimOver(src), root, dimRules)
      class Boom extends RuntimeException("injected crash")
      var fired = false
      intercept[Boom] {
        SnapshotStore.publishImpl(spark, dimOver(src), root, dimRules, 3,
          () => {
            fired = true
            // the carried copy is staged, the old gen still serves
            assert(dataFiles(root, 2L) == dataFiles(root, 1L))
            assert(rows(SnapshotStore.readCurrent(spark, root)) ==
              rows(dimOver(src)))
            throw new Boom
          })
      }
      assert(fired)
      assert(SnapshotStore.currentGen(spark, root).contains(1L))
      intercept[SnapshotUnavailable](SnapshotStore.readAt(spark, root, 2L))
      // the retry clears the residue and carries again
      assert(jobsIn(SnapshotStore.publish(spark, dimOver(src), root,
        dimRules)) == 0)
      assert(SnapshotStore.currentGen(spark, root).contains(2L))
      assert(rows(SnapshotStore.readCurrent(spark, root)) ==
        rows(dimOver(src)))
    } finally rmTree(dir)
  }

  test("one generation protocol: neither layout mentions the other, " +
      "and only Generations writes the pointer bytes") {
    val src = java.nio.file.Paths.get("src/main/scala/graft")
    assert(java.nio.file.Files.isDirectory(src),
      s"run from the project root: $src not found")
    def lines(rel: String): Seq[(String, Int)] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(src.resolve(rel)).asScala.toSeq
        .zipWithIndex
    }
    def offenders(rel: String, word: String): Seq[String] =
      lines(rel).collect { case (l, i) if l.contains(word) =>
        s"$rel:${i + 1}: ${l.trim}" }
    val crossRefs =
      offenders("sources/SnapshotStore.scala", "ManifestStore") ++
        offenders("sources/ManifestStore.scala", "SnapshotStore")
    assert(crossRefs.isEmpty, crossRefs.mkString("\n"))
    val pointerWriters = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(src).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .map(p => src.relativize(p).toString)
        .filterNot(_ == "sources/Generations.scala")
        .flatMap(offenders(_, "keep=$")).toList
    }
    assert(pointerWriters.isEmpty, pointerWriters.mkString("\n"))
  }

  test("one marker primitive: no main file but MetaSwap names a " +
      "marker's stage protocol or creates a file non-overwriting") {
    import scala.jdk.CollectionConverters._
    val src = java.nio.file.Paths.get("src/main/scala/graft")
    assert(java.nio.file.Files.isDirectory(src),
      s"run from the project root: $src not found")
    // `.next` as a name (not an iterator's `next()`), the old swap's
    // `heal`, and a create-exclusive by `create(…, false)`
    val forbidden = Seq(
      """\.next\b(?!\s*\()""".r,
      """\bheal\b""".r,
      """\.create\((?:[^()]|\([^()]*\))*,\s*false\s*\)""".r)
    val offenders = java.nio.file.Files.walk(src).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "MetaSwap.scala")
      .flatMap { p =>
        val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        forbidden.flatMap(_.findAllMatchIn(text)).map { m =>
          val line = text.substring(0, m.start).count(_ == '\n') + 1
          s"${src.relativize(p)}:$line: ${m.matched}"
        }
      }.toList
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
