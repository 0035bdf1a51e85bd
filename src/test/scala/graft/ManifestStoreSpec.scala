package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.IndexAudit
import graft.sources.{ManifestStore, MetaSwap, Tables}

/** S20 — the manifest table: generations as FILE LISTS over an
  * immutable pool, so partition-scoped promotions write only changed
  * partitions, retention holds deltas (never N full copies), and
  * OPTIMIZE rewrites only small-file partitions. The file-reuse
  * claims are asserted on the literal on-disk paths and mtimes — not
  * on row counts.
  */
class ManifestStoreSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmp(tag: String): java.io.File =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toFile

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  /** (relPath, mtime) of every file a generation's manifest names. */
  private def fileState(root: String, gen: Long)
      : Map[String, Long] = {
    val fs = Tables.fsFor(spark, root)
    ManifestStore.manifestAt(spark, root, gen).entries.map { e =>
      e.relPath -> fs.getFileStatus(
        new org.apache.hadoop.fs.Path(s"$root/${e.relPath}")).getModificationTime
    }.toMap
  }

  test("partition-scoped promotion reuses untouched partitions' " +
      "files byte-for-byte; time travel stays exact") {
    val dir = tmp("mani")
    try {
      val root = dir.toString + "/t"
      val nation = Tables.table(spark, sf, "nation")
      val g1 = ManifestStore.publish(spark, nation, root,
        "n_regionkey",
        Seq(graft.operators.Cleaning.ExpectNotNull("n_nationkey")))
      assert(g1 == 1L)
      assert(rows(ManifestStore.readCurrent(spark, root)) ==
        rows(nation))
      val before = fileState(root, 1L)
      // promote ONLY region 2's partition, renamed rows
      val v2part = nation.filter(col("n_regionkey") === 2)
        .withColumn("n_name", lit("CHANGED"))
      val g2 = ManifestStore.publish(spark, v2part, root,
        "n_regionkey")
      assert(g2 == 2L)
      val after = fileState(root, 2L)
      // every untouched partition's files: SAME paths, SAME mtimes —
      // nothing was rewritten, moved, or copied
      val untouchedBefore = ManifestStore.manifestAt(spark, root, 1L)
        .entries.filter(_.partition != "2").map(_.relPath).toSet
      val untouchedAfter = ManifestStore.manifestAt(spark, root, 2L)
        .entries.filter(_.partition != "2").map(_.relPath).toSet
      assert(untouchedBefore == untouchedAfter)
      untouchedAfter.foreach(p => assert(before(p) == after(p),
        s"untouched file $p was rewritten"))
      // the changed partition's entries are NEW files in gen 2's
      // write dir
      assert(ManifestStore.manifestAt(spark, root, 2L).entries
        .filter(_.partition == "2")
        .forall(_.relPath.startsWith("_writes/2/")))
      // serving view = old table with region 2 replaced
      val expect = nation.filter(col("n_regionkey") =!= 2)
        .unionByName(v2part)
      assert(rows(ManifestStore.readCurrent(spark, root)) ==
        rows(expect))
      // time travel: gen 1 is still the original, exactly
      assert(rows(ManifestStore.readAt(spark, root, 1L)) ==
        rows(nation))
      // structural pruning reads only the asked partition's files
      assert(rows(ManifestStore.readPartitions(spark, root, Seq("2")))
        == rows(v2part))
      assert(IndexAudit.isManifestTableHealthy(spark, root))
    } finally rmTree(dir)
  }

  test("retention holds DELTAS: pruning drops only files no " +
      "surviving manifest references") {
    val dir = tmp("manikeep")
    try {
      val root = dir.toString + "/t"
      val fs = Tables.fsFor(spark, root)
      val nation = Tables.table(spark, sf, "nation")
      ManifestStore.publish(spark, nation, root, "n_regionkey",
        keep = 2) // gen 1: all partitions
      def touch(i: Int) = ManifestStore.publish(spark,
        nation.filter(col("n_regionkey") === 0)
          .withColumn("n_name", lit(s"v$i")),
        root, "n_regionkey", keep = 2)
      touch(2) // gen 2: region 0 only
      touch(3) // gen 3: region 0 only → manifest 1 pruned
      // gen 1's manifest is gone (window = 2) …
      intercept[SnapshotUnavailable] {
        ManifestStore.readAt(spark, root, 1L)
      }
      // … but gen 1's UNTOUCHED partition files still serve gens 2+3
      // (file-level reuse means pruning a manifest must NOT drop
      // files later manifests still reference)
      val m3 = ManifestStore.manifestAt(spark, root, 3L)
      assert(m3.entries.exists(_.relPath.startsWith("_writes/1/")),
        "untouched partitions must still ride gen 1's files")
      m3.entries.foreach(e => assert(fs.exists(
        new org.apache.hadoop.fs.Path(s"$root/${e.relPath}"))))
      // gen 2's region-0 delta survives (gen 2 is in the window);
      // gen 1's region-0 ORIGINAL file is gone — no manifest in the
      // window references it: keep=N retained a delta, not 3 copies
      val m1Region0Gone = !fs.exists(new org.apache.hadoop.fs.Path(
        s"$root/_writes/1/graft_p=0"))
      assert(m1Region0Gone, "the superseded region-0 file must be " +
        "pruned once no surviving manifest references it")
      assert(rows(ManifestStore.readCurrent(spark, root)) ==
        rows(nation.filter(col("n_regionkey") =!= 0).unionByName(
          nation.filter(col("n_regionkey") === 0)
            .withColumn("n_name", lit("v3")))))
      assert(IndexAudit.isManifestTableHealthy(spark, root))
    } finally rmTree(dir)
  }

  test("mergePartitions: partition-scoped upsert — batch wins on key " +
      "collision, other partitions untouched on disk") {
    val dir = tmp("manimerge")
    try {
      val root = dir.toString + "/t"
      val nation = Tables.table(spark, sf, "nation")
      ManifestStore.publish(spark, nation, root, "n_regionkey")
      val before = fileState(root, 1L)
      // batch: one UPDATE of an existing key in region 1 plus one
      // INSERT of a new key in region 1
      import spark.implicits._
      val existingKey = nation.filter(col("n_regionkey") === 1)
        .select("n_nationkey").head().getInt(0)
      val batch = Seq(
        (existingKey, "UPDATED", 1),
        (9999, "BRANDNEW", 1))
        .toDF("n_nationkey", "n_name", "n_regionkey")
      ManifestStore.mergePartitions(spark, batch, root,
        Seq("n_nationkey"))
      val expect = nation
        .filter(col("n_nationkey") =!= existingKey)
        .unionByName(batch.filter(col("n_nationkey") === existingKey))
        .unionByName(batch.filter(col("n_nationkey") === 9999))
      assert(rows(ManifestStore.readCurrent(spark, root)) ==
        rows(expect))
      // partitions the batch never touched kept their gen-1 files
      val after = fileState(root, 2L)
      ManifestStore.manifestAt(spark, root, 2L).entries
        .filter(_.partition != "1").foreach { e =>
          assert(e.relPath.startsWith("_writes/1/"))
          assert(before(e.relPath) == after(e.relPath))
        }
    } finally rmTree(dir)
  }

  test("crash honesty: mid-publish the serving view is intact, the " +
      "residue manifest refuses, retry overwrites it; fsck classifies " +
      "and repair reclaims") {
    val dir = tmp("manicrash")
    try {
      val root = dir.toString + "/t"
      val fs = Tables.fsFor(spark, root)
      val nation = Tables.table(spark, sf, "nation")
      ManifestStore.publish(spark, nation, root, "n_regionkey")
      val v2 = nation.filter(col("n_regionkey") === 0)
        .withColumn("n_name", lit("V2"))
      class Boom extends RuntimeException("injected")
      var midServed = false
      intercept[Boom] {
        ManifestStore.publishImpl(spark, v2, root, "n_regionkey",
          Nil, 3, false, true, () => {
            // staged + manifest written, NOT repointed: the serving
            // view is still gen 1 in full
            midServed = rows(ManifestStore.readCurrent(spark, root)) ==
              rows(nation)
            throw new Boom
          })
      }
      assert(midServed)
      // the residue manifest (gen 2) never committed: refused typed
      intercept[SnapshotUnavailable] {
        ManifestStore.readAt(spark, root, 2L)
      }
      // fsck: residue manifest + its orphan staged files, all healthy
      // residue classes; pointer still current_ok
      // the residue manifest's staged files count as referenced (a
      // retry consumes them), so there is no orphan-files row yet
      val statuses = IndexAudit.auditManifestTable(spark, root)
        .map(f => (f.kind, f.status)).toSet
      assert(statuses == Set(("pointer", "current_ok"),
        ("manifest", "serving"), ("manifest", "publish_residue")),
        statuses.toString)
      // the RETRY allocates the same gen and overwrites the residue
      val g2 = ManifestStore.publish(spark, v2, root, "n_regionkey")
      assert(g2 == 2L)
      assert(rows(ManifestStore.readAt(spark, root, 2L)) ==
        rows(nation.filter(col("n_regionkey") =!= 0).unionByName(v2)))
      assert(IndexAudit.isManifestTableHealthy(spark, root))
      // plant a fresh crash residue, then let REPAIR (not a retry)
      // reclaim it: manifest deleted, orphan files swept
      intercept[Boom] {
        ManifestStore.publishImpl(spark, v2, root, "n_regionkey",
          Nil, 3, false, true, () => throw new Boom)
      }
      val acts = IndexAudit.repairManifestTable(spark, root).collect()
        .map(r => (r.getString(0), r.getString(2))).toSet
      assert(acts == Set(("manifest", "reclaimed_residue"),
        ("writes", "reclaimed_write_dir")), acts.toString)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$root/_manifests/3")))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$root/_writes/3")))
      assert(IndexAudit.isManifestTableHealthy(spark, root))
    } finally rmTree(dir)
  }

  test("a manifest naming a missing file is UNHEALTHY and repair " +
      "reports it unrepairable; an unhealthy pointer suspends reclaims") {
    val dir = tmp("manimiss")
    try {
      val root = dir.toString + "/t"
      val fs = Tables.fsFor(spark, root)
      val nation = Tables.table(spark, sf, "nation")
      ManifestStore.publish(spark, nation, root, "n_regionkey")
      val victim = ManifestStore.manifestAt(spark, root, 1L)
        .entries.head.relPath
      assert(fs.delete(
        new org.apache.hadoop.fs.Path(s"$root/$victim"), false))
      val bad = IndexAudit.auditManifestTable(spark, root)
        .filter(!_.healthy)
      assert(bad.map(_.status) == Seq("manifest_missing_file"),
        bad.toString)
      assert(bad.head.name == s"1:$victim")
      val acts = IndexAudit.repairManifestTable(spark, root).collect()
        .map(_.getString(2)).toSeq
      assert(acts == Seq("unrepairable_missing_file"))
      // now ALSO lose the pointer's target manifest, with a planted
      // residue manifest on disk: reclaims suspend (the residue may
      // be the only record), mirroring the snapshot-table discipline
      val mBytes = graft.sources.MetaSwap.readCommitted(fs,
        new org.apache.hadoop.fs.Path(s"$root/_manifests/1"))
      val out = fs.create(new org.apache.hadoop.fs.Path(
        s"$root/_manifests/2"), true)
      try out.write(mBytes) finally out.close()
      assert(fs.delete(new org.apache.hadoop.fs.Path(
        s"$root/_manifests/1"), false))
      val acts2 = IndexAudit.repairManifestTable(spark, root).collect()
        .map(r => (r.getString(1), r.getString(2))).toSet
      assert(acts2.contains(("1", "unrepairable_missing_current")))
      assert(acts2.contains(("2", "preserved_recovery_candidate")))
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$root/_manifests/2")),
        "the residue manifest must survive under an unhealthy pointer")
    } finally rmTree(dir)
  }

  test("compactSmallPartitions rewrites ONLY offending partitions; " +
      "well-laid-out partitions' files are untouched") {
    val dir = tmp("manicompact")
    try {
      val root = dir.toString + "/t"
      val nation = Tables.table(spark, sf, "nation")
      // region 0 lands FRAGMENTED (one file per row), the rest as one
      // file each: publish region 0 with coalescing off from a
      // many-partition layout
      ManifestStore.publish(spark,
        nation.filter(col("n_regionkey") =!= 0), root, "n_regionkey")
      ManifestStore.publish(spark,
        nation.filter(col("n_regionkey") === 0).repartition(4),
        root, "n_regionkey", coalescePartitions = false)
      val m2 = ManifestStore.manifestAt(spark, root, 2L)
      val fragBefore = m2.entries.count(_.partition == "0")
      assert(fragBefore > 1, "setup: region 0 must be fragmented")
      val before = fileState(root, 2L)
      // a byte target far above any partition's size → every
      // fragmented partition compacts to 1 file
      val rewritten = ManifestStore.compactSmallPartitions(spark, root,
        targetBytesPerFile = 1L << 30)
      assert(rewritten == 1)
      val m3 = ManifestStore.manifestAt(spark, root, 3L)
      assert(m3.entries.count(_.partition == "0") == 1)
      // untouched partitions: same files, same mtimes
      val after = fileState(root, 3L)
      m3.entries.filter(_.partition != "0").foreach { e =>
        assert(before(e.relPath) == after(e.relPath),
          s"untouched file ${e.relPath} was rewritten by OPTIMIZE")
      }
      assert(rows(ManifestStore.readCurrent(spark, root)) ==
        rows(nation))
      // idempotent: nothing left to compact, no new generation
      assert(ManifestStore.compactSmallPartitions(spark, root,
        targetBytesPerFile = 1L << 30) == 0)
      assert(ManifestStore.currentGen(spark, root).contains(3L))
    } finally rmTree(dir)
  }

  test("compaction preflight: an unhealthy manifest table refuses " +
      "typed before any rewrite; the repaired table compacts clean") {
    val dir = tmp("manipre")
    try {
      val root = dir.toString + "/t"
      val fs = Tables.fsFor(spark, root)
      val nation = Tables.table(spark, sf, "nation")
      ManifestStore.publish(spark,
        nation.filter(col("n_regionkey") =!= 0), root, "n_regionkey")
      ManifestStore.publish(spark,
        nation.filter(col("n_regionkey") === 0).repartition(4),
        root, "n_regionkey", coalescePartitions = false)
      // the incident: a served file vanishes
      val victim = ManifestStore.manifestAt(spark, root, 2L)
        .entries.head.relPath
      val victimPath = new org.apache.hadoop.fs.Path(s"$root/$victim")
      val bytes = {
        val in = fs.open(victimPath)
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val b = new Array[Byte](8192)
          var n = in.read(b)
          while (n >= 0) { buf.write(b, 0, n); n = in.read(b) }
          buf.toByteArray
        } finally in.close()
      }
      assert(fs.delete(victimPath, false))
      // OPTIMIZE refuses TYPED at entry — nothing sized, nothing
      // rewritten, no new generation
      val e = intercept[IndexUnhealthy] {
        ManifestStore.compactSmallPartitions(spark, root, 1L << 30)
      }
      assert(e.getMessage.contains("manifest_missing_file"))
      assert(ManifestStore.currentGen(spark, root).contains(2L))
      // the operator restores the file; compaction then runs clean
      val out = fs.create(victimPath, true)
      try out.write(bytes) finally out.close()
      assert(ManifestStore.compactSmallPartitions(spark, root,
        1L << 30) == 1)
      assert(rows(ManifestStore.readCurrent(spark, root)) ==
        rows(nation))
    } finally rmTree(dir)
  }

  test("retainMs: a grace-retained manifest keeps EVERY file it " +
      "references servable until the floor expires") {
    val dir = tmp("manigrace")
    try {
      val root = dir.toString + "/t"
      val nation = Tables.table(spark, sf, "nation")
      val hour = 3600L * 1000
      ManifestStore.publish(spark, nation, root, "n_regionkey",
        keep = 1, retainMs = hour) // gen 1
      // keep=1 would prune manifest 1 AND region 0's superseded file
      // here — the grace floor keeps the whole generation servable
      ManifestStore.publish(spark,
        nation.filter(col("n_regionkey") === 0)
          .withColumn("n_name", lit("V2")),
        root, "n_regionkey", keep = 1, retainMs = hour) // gen 2
      assert(rows(ManifestStore.readAt(spark, root, 1L)) ==
        rows(nation),
        "a grace-retained generation must serve IN FULL — its " +
          "replaced partitions' files survive with it")
      // the audit classifies the reader-contract inventory, and the
      // grace-retained manifest's files are integrity-checked too
      val st = graft.operators.IndexAudit
        .auditManifestTable(spark, root)
        .collectFirst { case f if f.kind == "manifest" &&
          f.name == "1" => f.status }
      assert(st.contains("grace_retained"), st.toString)
      assert(graft.operators.IndexAudit
        .isManifestTableHealthy(spark, root))
      // expired floor: the next publish's prune reclaims manifest 1
      // and exactly the files only it referenced
      Thread.sleep(10)
      ManifestStore.publish(spark,
        nation.filter(col("n_regionkey") === 0)
          .withColumn("n_name", lit("V3")),
        root, "n_regionkey", keep = 1, retainMs = 1L) // gen 3
      intercept[SnapshotUnavailable] {
        ManifestStore.readAt(spark, root, 1L)
      }
      intercept[SnapshotUnavailable] {
        ManifestStore.readAt(spark, root, 2L)
      }
      val fs = Tables.fsFor(spark, root)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$root/_writes/1/graft_p=0")),
        "gen 1's superseded region-0 file must go once no surviving " +
          "manifest references it")
      assert(rows(ManifestStore.readCurrent(spark, root)) ==
        rows(nation.filter(col("n_regionkey") =!= 0).unionByName(
          nation.filter(col("n_regionkey") === 0)
            .withColumn("n_name", lit("V3")))))
      assert(graft.operators.IndexAudit
        .isManifestTableHealthy(spark, root))
    } finally rmTree(dir)
  }

  test("full rebuild (replaceAll) stops serving partitions absent " +
      "from the rebuild; racing promotions CAS-fail loudly") {
    val dir = tmp("manifull")
    try {
      val root = dir.toString + "/t"
      val nation = Tables.table(spark, sf, "nation")
      ManifestStore.publish(spark, nation, root, "n_regionkey")
      // full rebuild with region 4 dropped
      val rebuilt = nation.filter(col("n_regionkey") < 4)
      ManifestStore.publish(spark, rebuilt, root, "n_regionkey",
        replaceAll = true)
      assert(rows(ManifestStore.readCurrent(spark, root)) ==
        rows(rebuilt))
      assert(ManifestStore.manifestAt(spark, root, 2L).entries
        .forall(_.partition != "4"))
      // the CAS: a promotion planned from a stale pointer read fails
      // loudly once another promotion lands in between
      val fs = Tables.fsFor(spark, root)
      intercept[graft.sources.MetaSwap.CasFailed] {
        ManifestStore.publishImpl(spark, rebuilt, root, "n_regionkey",
          Nil, 3, false, true, () => {
            ManifestStore.publish(spark, rebuilt, root, "n_regionkey")
            ()
          })
      }
      assert(fs.exists(new org.apache.hadoop.fs.Path(root)))
    } finally rmTree(dir)
  }

  test("grace RATCHET: a maintenance publish with the default " +
      "retainMs preserves the configured reader window") {
    val dir = tmp("maniratchet")
    try {
      val root = dir.toString + "/t"
      val nation = Tables.table(spark, sf, "nation")
      val hour = 3600L * 1000
      ManifestStore.publish(spark, nation, root, "n_regionkey",
        keep = 1, retainMs = hour) // gen 1, grace configured
      import spark.implicits._
      val batch = Seq((9999, "NEW", 0))
        .toDF("n_nationkey", "n_name", "n_regionkey")
      // the routine daily merge passes NO retainMs — before the
      // ratchet this pruned gen 1 inside the promised hour
      ManifestStore.mergePartitions(spark, batch, root,
        Seq("n_nationkey"), keep = 1)
      assert(rows(ManifestStore.readAt(spark, root, 1L)) ==
        rows(nation),
        "a default-retainMs merge pruned inside the configured grace")
      // and an OPTIMIZE (also default retainMs) keeps honoring it
      ManifestStore.compactSmallPartitions(spark, root, 1L)
      assert(rows(ManifestStore.readAt(spark, root, 1L)) ==
        rows(nation),
        "a default-retainMs OPTIMIZE pruned inside the configured grace")
      // the ratcheted floor is PERSISTED: the latest pointer still
      // carries grace=hour even though no caller re-passed it
      val fs = Tables.fsFor(spark, root)
      val raw = graft.sources.MetaSwap.readCommitted(fs,
        new org.apache.hadoop.fs.Path(s"$root/_current"))
      assert(graft.sources.Generations.parsedGrace(raw)
        .contains(hour))
    } finally rmTree(dir)
  }

  test("empty-string partition values address the hive sentinel: a " +
      "merge of an empty-string batch MERGES instead of replacing") {
    val dir = tmp("maniempty")
    try {
      val root = dir.toString + "/t"
      import spark.implicits._
      // base table: one null-partition row, one empty-string row, one
      // normal partition — null and "" both land in the sentinel dir
      val base = Seq((1, "nullpart", null.asInstanceOf[String]),
        (2, "emptypart", ""), (3, "xpart", "x"))
        .toDF("id", "name", "p")
      ManifestStore.publish(spark, base, root, "p")
      val batch = Seq((4, "emptynew", "")).toDF("id", "name", "p")
      ManifestStore.mergePartitions(spark, batch, root, Seq("id"))
      // the existing sentinel rows (null AND "") survived the merge
      assert(rows(ManifestStore.readCurrent(spark, root)) ==
        rows(base.unionByName(batch)),
        "an empty-string batch must merge with the sentinel " +
          "partition's existing rows, not replace them")
      // and readPartitions addresses the sentinel for "" like null
      assert(ManifestStore.readPartitions(spark, root, Seq(""))
        .count() == 3L)
    } finally rmTree(dir)
  }

  test("racing promotions: a DISJOINT-partition race rebases and " +
      "both land; a same-partition race refuses typed") {
    val dir = tmp("manirace")
    try {
      val root = dir.toString + "/t"
      val nation = Tables.table(spark, sf, "nation")
      ManifestStore.publish(spark, nation, root, "n_regionkey")
      import spark.implicits._
      val mergeBatch = Seq((9999, "MERGED", 1))
        .toDF("n_nationkey", "n_name", "n_regionkey")
      // DISJOINT: a racing promotion of region 3 lands between the
      // merge's planning read and its publish — the merge loses the
      // CAS, proves disjointness, rebases, and BOTH changes serve
      val racer3 = nation.filter(col("n_regionkey") === 3)
        .withColumn("n_name", lit("RACER"))
      var fired = false
      ManifestStore.mergePartitionsImpl(spark, mergeBatch, root,
        Seq("n_nationkey"), Nil, 3, 0L, () => {
          if (!fired) {
            fired = true
            ManifestStore.publish(spark, racer3, root, "n_regionkey")
            ()
          }
        })
      val served = ManifestStore.readCurrent(spark, root)
      assert(served.filter(col("n_name") === "MERGED").count() == 1L)
      assert(served.filter(col("n_name") === "RACER").count() ==
        racer3.count())
      // equal to either sequential order
      assert(rows(served) == rows(
        nation.filter(col("n_regionkey") =!= 3).unionByName(racer3)
          .unionByName(mergeBatch)))
      // SAME partition: the winner replaced rows the merge was
      // computed from — rebase is impossible, the race stays loud
      var fired2 = false
      intercept[graft.sources.MetaSwap.CasFailed] {
        ManifestStore.mergePartitionsImpl(spark,
          Seq((9998, "LOSER", 1))
            .toDF("n_nationkey", "n_name", "n_regionkey"),
          root, Seq("n_nationkey"), Nil, 3, 0L, () => {
            if (!fired2) {
              fired2 = true
              ManifestStore.publish(spark,
                nation.filter(col("n_regionkey") === 1)
                  .withColumn("n_name", lit("WINNER")),
                root, "n_regionkey")
              ()
            }
          })
      }
      // the winner's promotion was never overwritten
      assert(ManifestStore.readCurrent(spark, root)
        .filter(col("n_name") === "WINNER").count() ==
        nation.filter(col("n_regionkey") === 1).count())
    } finally rmTree(dir)
  }

  test("deleteWhere: only matching rows go, only affected partitions " +
      "rewrite, emptied partitions leave the manifest, NULL " +
      "predicates keep their rows") {
    val dir = tmp("manidel")
    try {
      val root = dir.toString + "/t"
      import spark.implicits._
      // 100 rows over 4 partitions, plus one row whose predicate
      // column is NULL (SQL DELETE must keep it)
      val base = (1 to 100).map(i =>
          (i, s"r$i", (i - 1) / 25, java.lang.Integer.valueOf(i)))
        .toDF("id", "name", "p", "v")
        .unionByName(Seq((101, "nullv", 2,
          null.asInstanceOf[java.lang.Integer]))
          .toDF("id", "name", "p", "v"))
      ManifestStore.publish(spark, base, root, "p")
      val before = fileState(root, 1L)
      // delete ALL of partition 1 (v in 26..50) and one row of
      // partition 2 (v = 60); the null-v row's predicate is NULL
      val g = ManifestStore.deleteWhere(spark, root,
        col("v").between(26, 50) || col("v") === 60)
      assert(g == 2L)
      val served = ManifestStore.readCurrent(spark, root)
      assert(served.count() == 101L - 25L - 1L)
      assert(served.filter(col("v").between(26, 50)).count() == 0L)
      assert(served.filter(col("id") === 101).count() == 1L,
        "a NULL predicate must KEEP the row (SQL DELETE semantics)")
      val m2 = ManifestStore.manifestAt(spark, root, 2L)
      // the emptied partition left the manifest — its old files did
      // not resurrect through entry carrying
      assert(m2.entries.forall(_.partition != "1"))
      // untouched partitions: same files, same mtimes
      val after = fileState(root, 2L)
      m2.entries.filter(e => e.partition == "0" || e.partition == "3")
        .foreach { e =>
          assert(e.relPath.startsWith("_writes/1/"))
          assert(before(e.relPath) == after(e.relPath))
        }
      // partition 2 was rewritten (new files)
      assert(m2.entries.filter(_.partition == "2")
        .forall(_.relPath.startsWith("_writes/2/")))
      // the pre-delete generation still time-travels in full
      assert(ManifestStore.readAt(spark, root, 1L).count() == 101L)
      // nothing matched → no new generation
      assert(ManifestStore.deleteWhere(spark, root,
        col("v") === -1) == 2L)
      assert(graft.operators.IndexAudit
        .isManifestTableHealthy(spark, root))
    } finally rmTree(dir)
  }

  test("updateWhere: SQL UPDATE semantics — RHS reads OLD values " +
      "(swap works), NULL predicates keep rows unchanged, only " +
      "affected partitions rewrite, partition column unassignable") {
    val dir = tmp("maniupd")
    try {
      val root = dir.toString + "/t"
      import spark.implicits._
      val base = (1 to 100).map(i =>
          (i, (i - 1) / 25, java.lang.Integer.valueOf(i),
            java.lang.Integer.valueOf(1000 + i)))
        .toDF("id", "p", "a", "b")
        .unionByName(Seq((101, 2,
          null.asInstanceOf[java.lang.Integer],
          java.lang.Integer.valueOf(7)))
          .toDF("id", "p", "a", "b"))
      ManifestStore.publish(spark, base, root, "p")
      val before = fileState(root, 1L)
      // SET a = b, b = a on partition-1 rows (a in 26..50): must SWAP
      // — each RHS evaluated against the OLD row. The null-a row's
      // predicate is NULL → unchanged (SQL UPDATE semantics).
      val g = ManifestStore.updateWhere(spark, root,
        col("a").between(26, 50) || col("a") === 60,
        Seq("a" -> col("b"), "b" -> col("a")))
      assert(g == 2L)
      val served = ManifestStore.readCurrent(spark, root)
      val r30 = served.filter(col("id") === 30).head()
      assert(r30.getAs[Int]("a") == 1030 &&
        r30.getAs[Int]("b") == 30, "SET a=b, b=a must swap")
      val r60 = served.filter(col("id") === 60).head()
      assert(r60.getAs[Int]("a") == 1060 && r60.getAs[Int]("b") == 60)
      val r10 = served.filter(col("id") === 10).head()
      assert(r10.getAs[Int]("a") == 10 && r10.getAs[Int]("b") == 1010,
        "unmatched rows unchanged")
      val r101 = served.filter(col("id") === 101).head()
      assert(r101.isNullAt(r101.fieldIndex("a")) &&
        r101.getAs[Int]("b") == 7,
        "a NULL predicate must leave the row unchanged")
      // untouched partitions (0 and 3): same files, same mtimes;
      // partitions 1 and 2 rewrote
      val m2 = ManifestStore.manifestAt(spark, root, 2L)
      val after = fileState(root, 2L)
      m2.entries.filter(e => e.partition == "0" || e.partition == "3")
        .foreach { e =>
          assert(e.relPath.startsWith("_writes/1/"))
          assert(before(e.relPath) == after(e.relPath))
        }
      assert(m2.entries.filter(_.partition == "1")
        .forall(_.relPath.startsWith("_writes/2/")))
      // schema invariant: names and types unchanged (nullability is
      // a parquet round-trip artifact, not an update effect)
      assert(served.schema.fields.map(f => (f.name, f.dataType)).toSeq
        == base.schema.fields.map(f => (f.name, f.dataType)).toSeq)
      // time travel serves the pre-update rows
      assert(ManifestStore.readAt(spark, root, 1L)
        .filter(col("id") === 30).head().getAs[Int]("a") == 30)
      // nothing matched → no new generation
      assert(ManifestStore.updateWhere(spark, root,
        col("a") === -1, Seq("b" -> lit(0))) == 2L)
      // the partition column is unassignable (cross-partition moves
      // must be explicit DELETE + append)
      val e = intercept[IllegalArgumentException] {
        ManifestStore.updateWhere(spark, root, col("a") === 1,
          Seq("p" -> lit(9)))
      }
      assert(e.getMessage.contains("partition column"))
      assert(graft.operators.IndexAudit
        .isManifestTableHealthy(spark, root))
    } finally rmTree(dir)
  }

  test("refs/tags: a tag PINS its generation (and every file) " +
      "against retention; dropRef releases the pin; tags are " +
      "immutable; repair never reclaims a pinned gen") {
    val dir = tmp("manitag")
    try {
      val root = dir.toString + "/t"
      import spark.implicits._
      def batch(tag: String, ps: Seq[Int]) =
        ps.flatMap(p => (1 to 5).map(i => (s"$tag-$p-$i", p)))
          .toDF("id", "p")
      ManifestStore.publish(spark, batch("g1", 0 to 3), root, "p",
        keep = 1)
      val v1Rows = rows(ManifestStore.readCurrent(spark, root))
      assert(ManifestStore.tag(spark, root, "v1") == 1L)
      // keep = 1 would normally sweep gen 1 on the next publish —
      // the tag must pin the manifest AND its files
      ManifestStore.publish(spark, batch("g2", Seq(0)), root, "p",
        keep = 1)
      ManifestStore.publish(spark, batch("g3", Seq(1)), root, "p",
        keep = 1)
      // gen 2 (untagged, superseded) is gone; gen 1 (tagged) serves
      intercept[graft.SnapshotUnavailable] {
        ManifestStore.readAt(spark, root, 2L)
      }
      assert(rows(ManifestStore.readAt(spark, root, 1L)) == v1Rows)
      assert(rows(ManifestStore.readRef(spark, root, "v1")) == v1Rows)
      assert(ManifestStore.refs(spark, root).keySet == Set("v1"))
      // pinned ≠ over-retained: audit stays healthy and repair
      // reclaims NOTHING of the pinned gen
      assert(IndexAudit.isManifestTableHealthy(spark, root))
      val repaired = IndexAudit.repairManifestTable(spark, root)
        .collect().map(r => (r.getString(0), r.getString(2))).toSet
      assert(!repaired.exists(_._2.contains("pruned")),
        s"repair must not touch the pinned gen: $repaired")
      assert(rows(ManifestStore.readRef(spark, root, "v1")) == v1Rows)
      // immutability: re-tagging the name refuses
      intercept[IllegalStateException] {
        ManifestStore.tag(spark, root, "v1", Some(3L))
      }
      // drop the pin: the next publish sweeps gen 1
      ManifestStore.dropRef(spark, root, "v1")
      ManifestStore.publish(spark, batch("g4", Seq(2)), root, "p",
        keep = 1)
      intercept[graft.SnapshotUnavailable] {
        ManifestStore.readAt(spark, root, 1L)
      }
      intercept[graft.SnapshotUnavailable] {
        ManifestStore.readRef(spark, root, "v1")
      }
      assert(IndexAudit.isManifestTableHealthy(spark, root))
    } finally rmTree(dir)
  }

  test("refs/branches: WAP on a branch — isolation from main, " +
      "file-level sharing, metadata-only fast-forward, divergence " +
      "refused, dropped branches reclaimed") {
    val dir = tmp("manibr")
    try {
      val root = dir.toString + "/t"
      val fs = Tables.fsFor(spark, root)
      import spark.implicits._
      def batch(tag: String, ps: Seq[Int]) =
        ps.flatMap(p => (1 to 5).map(i => (s"$tag-$p-$i", p)))
          .toDF("id", "p")
      ManifestStore.publish(spark, batch("g1", 0 to 3), root, "p")
      val mainRows = rows(ManifestStore.readCurrent(spark, root))
      val mainState = fileState(root, 1L)

      // a fresh branch serves its base — and PINS it while head = 0
      ManifestStore.branch(spark, root, "wap")
      assert(rows(ManifestStore.readRef(spark, root, "wap"))
        == mainRows)

      // branch publish: replaces partition 2 on the BRANCH only
      val seq = ManifestStore.publishToBranch(spark,
        batch("b1", Seq(2)), root, "wap")
      assert(seq == 1L)
      // main is untouched — bit-identical serving view
      assert(rows(ManifestStore.readCurrent(spark, root)) == mainRows)
      // the branch serves base partitions 0,1,3 + its own 2 — via the
      // Scala API and the SQL source's ref option alike
      val branchRows = rows(ManifestStore.readRef(spark, root, "wap"))
      assert(rows(spark.read.format("graft-snapshot")
        .option("ref", "wap").load(root)) == branchRows)
      assert(branchRows != mainRows)
      assert(branchRows.count(_.last == 2) == 5)
      assert(branchRows.filter(_.last != 2) ==
        mainRows.filter(_.last != 2))
      // FILE-LEVEL SHARING: untouched partitions' entries in the
      // branch head are main's files, byte-identical (path + mtime)
      val head = graft.sources.MetaSwap.readCommitted(fs,
        new org.apache.hadoop.fs.Path(s"$root/_manifests/r-wap-1"))
      val headEntries = ManifestStore.parseManifest(head).entries
      headEntries.filter(_.partition != "2").foreach { e =>
        assert(e.relPath.startsWith("_writes/1/"))
        assert(fs.getFileStatus(new org.apache.hadoop.fs.Path(
          s"$root/${e.relPath}")).getModificationTime
          == mainState(e.relPath))
      }
      assert(headEntries.filter(_.partition == "2")
        .forall(_.relPath.startsWith("_writes/r-wap-1/")))

      // a failing audit refuses the fast-forward with main untouched
      // (the branch's partition-2 ids are b1-*, violating the rule)
      intercept[graft.AuditFailed] {
        ManifestStore.fastForward(spark, root, "wap", Seq(
          graft.operators.Cleaning.ExpectMatches("id", "^g1-")))
      }
      assert(ManifestStore.currentGen(spark, root).contains(1L))

      // METADATA-ONLY fast-forward: main's new gen carries the branch
      // head's entries verbatim — zero data files rewritten
      val g2 = ManifestStore.fastForward(spark, root, "wap")
      assert(g2 == 2L)
      val promoted = ManifestStore.manifestAt(spark, root, 2L).entries
      assert(promoted.map(e => e.partition -> e.relPath).toSet ==
        headEntries.map(e => e.partition -> e.relPath).toSet,
        "fast-forward must promote the branch head's file list verbatim")
      assert(rows(ManifestStore.readCurrent(spark, root))
        == branchRows)
      // the branch ref survives, rebased onto the new main gen
      ManifestStore.refs(spark, root)("wap") match {
        case ManifestStore.BranchRef(h, base, _) =>
          assert(h == 1L && base == 2L)
        case other => fail(s"expected a branch ref, got $other")
      }
      assert(IndexAudit.isManifestTableHealthy(spark, root))

      // DIVERGENCE: main advances past the branch base → refuse typed
      ManifestStore.branch(spark, root, "stale", Some(2L))
      ManifestStore.publishToBranch(spark, batch("s1", Seq(0)), root,
        "stale")
      ManifestStore.publish(spark, batch("g3", Seq(1)), root, "p")
      val e = intercept[IllegalStateException] {
        ManifestStore.fastForward(spark, root, "stale")
      }
      assert(e.getMessage.contains("fast-forward"))
      // a tag refuses branch operations
      ManifestStore.tag(spark, root, "rel", Some(3L))
      intercept[IllegalStateException] {
        ManifestStore.publishToBranch(spark, batch("x", Seq(0)), root,
          "rel")
      }
      intercept[IllegalStateException] {
        ManifestStore.fastForward(spark, root, "rel")
      }

      // DROP + RECLAIM: the dropped branch's private manifests and
      // files are swept by the next main publish; files shared with
      // main survive
      val staleFiles = ManifestStore.parseManifest(
        graft.sources.MetaSwap.readCommitted(fs,
          new org.apache.hadoop.fs.Path(
            s"$root/_manifests/r-stale-1"))).entries
        .filter(_.relPath.startsWith("_writes/r-stale-1/"))
      assert(staleFiles.nonEmpty)
      ManifestStore.dropRef(spark, root, "stale")
      ManifestStore.dropRef(spark, root, "wap")
      ManifestStore.publish(spark, batch("g4", Seq(3)), root, "p")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$root/_manifests/r-stale-1")))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$root/_writes/r-stale-1")))
      // wap's branch files were fast-forwarded into main: still live
      assert(ManifestStore.readCurrent(spark, root)
        .filter(col("id").startsWith("b1-")).count() == 5L)
      assert(IndexAudit.isManifestTableHealthy(spark, root))
    } finally rmTree(dir)
  }

  test("per-file stats: readWhere prunes the ENTRY LIST driver-side, " +
      "stats ride carried entries, results equal the unpruned read") {
    val dir = tmp("manistats")
    try {
      val root = dir.toString + "/t"
      import spark.implicits._
      val base = (1 to 100).map(i => (i, s"r$i", (i - 1) / 25))
        .toDF("id", "name", "p")
      ManifestStore.publish(spark, base, root, "p",
        statsCols = Seq("id"))
      val m1 = ManifestStore.manifestAt(spark, root, 1L)
      assert(m1.statsCols == Seq("id"))
      assert(m1.entries.forall(_.stats.contains("id")))
      // the range 30..40 lives entirely in partition 1's file: the
      // driver prune keeps exactly that entry
      val (_, kept) = ManifestStore.statsPrunedEntries(spark, root,
        "id", 30, 40)
      assert(kept.size == 1 && kept.head.partition == "1",
        kept.toString)
      val pruned = ManifestStore.readWhere(spark, root, "id", 30, 40)
      assert(rows(pruned) ==
        rows(base.filter(col("id").between(30, 40))))
      // a partial publish CARRIES the untouched entries' stats and
      // inherits the declared stat columns for the rewritten files
      val batch = Seq((26, "UPDATED", 1)).toDF("id", "name", "p")
      ManifestStore.mergePartitions(spark, batch, root, Seq("id"))
      val m2 = ManifestStore.manifestAt(spark, root, 2L)
      assert(m2.statsCols == Seq("id"))
      assert(m2.entries.forall(_.stats.contains("id")),
        "carried AND rewritten entries must both carry stats")
      val (_, kept2) = ManifestStore.statsPrunedEntries(spark, root,
        "id", 80, 90)
      assert(kept2.size == 1 && kept2.head.partition == "3")
      assert(rows(ManifestStore.readWhere(spark, root, "id", 80, 90)) ==
        rows(base.filter(col("id").between(80, 90))))
      // typed compare: numeric stats never prune lexicographically
      // ("9" > "10" would wrongly drop partition 0 for lo=9)
      val (_, kept3) = ManifestStore.statsPrunedEntries(spark, root,
        "id", 9, 10)
      assert(kept3.size == 1 && kept3.head.partition == "0")
    } finally rmTree(dir)
  }

  test("refs/branches crash honesty: a crashed branch publish's " +
      "residue (seq beyond the committed head) survives main's " +
      "prune and is overwritten by the retry") {
    val dir = tmp("manibrcrash")
    try {
      val root = dir.toString + "/t"
      val fs = Tables.fsFor(spark, root)
      import spark.implicits._
      def batch(tag: String, ps: Seq[Int]) =
        ps.flatMap(p => (1 to 5).map(i => (s"$tag-$p-$i", p)))
          .toDF("id", "p")
      ManifestStore.publish(spark, batch("g1", 0 to 2), root, "p")
      ManifestStore.branch(spark, root, "b")
      ManifestStore.publishToBranch(spark, batch("b1", Seq(0)), root,
        "b")
      // fabricate a crashed seq-2 publish: staged write dir + written
      // manifest, ref still at head 1 (the crash window is between
      // the manifest write and the ref CAS)
      val m1 = new org.apache.hadoop.fs.Path(s"$root/_manifests/r-b-1")
      val m2 = new org.apache.hadoop.fs.Path(s"$root/_manifests/r-b-2")
      org.apache.hadoop.fs.FileUtil.copy(fs, m1, fs, m2, false,
        spark.sparkContext.hadoopConfiguration)
      val w2 = new org.apache.hadoop.fs.Path(s"$root/_writes/r-b-2")
      fs.mkdirs(w2)
      val residueFile = new org.apache.hadoop.fs.Path(
        s"$root/_writes/r-b-2/graft_p=0/part-residue.parquet")
      fs.mkdirs(residueFile.getParent)
      val out = fs.create(residueFile, true)
      out.write(Array[Byte](1, 2, 3)); out.close()
      // a main promotion prunes — the in-flight branch residue is the
      // retry's business, exactly like main's own residue gens
      ManifestStore.publish(spark, batch("g2", Seq(1)), root, "p")
      assert(fs.exists(m2), "residue branch manifest must survive")
      assert(fs.exists(residueFile),
        "residue branch staging must survive")
      // the retry (the next publishToBranch commits seq 2) overwrites
      // the residue and serves correctly
      val seq = ManifestStore.publishToBranch(spark,
        batch("b2", Seq(1)), root, "b")
      assert(seq == 2L)
      val served = rows(ManifestStore.readRef(spark, root, "b"))
      assert(served.count(_.head.toString.startsWith("b2-")) == 5)
      assert(served.count(_.head.toString.startsWith("b1-")) == 5)
      // the fabricated junk file is gone (the retry's staged
      // overwrite + the next prune reclaim the residue)
      ManifestStore.publish(spark, batch("g3", Seq(2)), root, "p")
      assert(!fs.exists(residueFile))
      assert(IndexAudit.isManifestTableHealthy(spark, root))
    } finally rmTree(dir)
  }

  /** The ref surface both table layouts share through
    * graft.sources.Generations: the ref specs below run once per
    * layout.
    */
  private case class RefLayout(
      name: String,
      publish: (org.apache.spark.sql.DataFrame, String, String) => Long,
      branch: (String, String) => Unit,
      publishToBranch: (org.apache.spark.sql.DataFrame, String,
        String) => Long,
      readRef: (String, String) => org.apache.spark.sql.DataFrame,
      tag: (String, String) => Long,
      healthy: String => Boolean,
      repair: String => Seq[String])

  private lazy val refLayouts = {
    import graft.sources.SnapshotStore
    Seq(
      RefLayout("manifest",
        (df, root, partCol) => ManifestStore.publish(spark, df, root,
          partCol),
        (root, n) => ManifestStore.branch(spark, root, n),
        (df, root, n) => ManifestStore.publishToBranch(spark, df, root, n),
        (root, n) => ManifestStore.readRef(spark, root, n),
        (root, n) => ManifestStore.tag(spark, root, n),
        root => IndexAudit.isManifestTableHealthy(spark, root),
        root => IndexAudit.repairManifestTable(spark, root).collect()
          .map(_.getString(2)).toSeq),
      RefLayout("snapshot",
        (df, root, _) => SnapshotStore.publish(spark, df, root),
        (root, n) => SnapshotStore.branch(spark, root, n),
        (df, root, n) => SnapshotStore.publishToBranch(spark, df, root, n),
        (root, n) => SnapshotStore.readRef(spark, root, n),
        (root, n) => SnapshotStore.tag(spark, root, n),
        root => IndexAudit.isSnapshotsHealthy(spark, root),
        root => IndexAudit.repairSnapshots(spark, root).collect()
          .map(_.getString(2)).toSeq))
  }

  test("refs crash honesty: a ref CAS that died mid-swap (only " +
      ".next present) is healed by every full-ref-set reader — " +
      "prune must not treat the branch as dropped and sweep its " +
      "live files") {
    refLayouts.foreach { L =>
    val dir = tmp("manirefswap")
    try {
      val root = dir.toString + "/t"
      val fs = Tables.fsFor(spark, root)
      import spark.implicits._
      def batch(tag: String, ps: Seq[Int]) =
        ps.flatMap(p => (1 to 5).map(i => (s"$tag-$p-$i", p)))
          .toDF("id", "p")
      L.publish(batch("g1", 0 to 2), root, "p")
      L.branch(root, "b")
      L.publishToBranch(batch("b1", Seq(0)), root, "b")
      val branchRows = rows(L.readRef(root, "b"))
      // the crash state of a ref swap: a writer died after staging
      // its bytes, before the rename — the committed marker intact,
      // its stage file beside it
      val marker = new org.apache.hadoop.fs.Path(s"$root/_refs/b")
      val stage = MetaSwap.stagePath(marker)
      org.apache.hadoop.fs.FileUtil.copy(fs, marker, fs, stage, false,
        spark.sparkContext.hadoopConfiguration)
      // a main publish prunes — the stage is not a ref: the branch
      // head and the branch's unique files stay
      L.publish(batch("g2", Seq(1)), root, "p")
      assert(graft.sources.Generations.refs(fs, root).keySet == Set("b"),
        L.name)
      assert(rows(L.readRef(root, "b")) == branchRows,
        s"${L.name}: the branch must serve in full after the prune")
      assert(L.healthy(root), L.name)
      // the fsck reclaims the stage and leaves the ref
      assert(L.repair(root).contains("reclaimed_swap_residue"), L.name)
      assert(!fs.exists(stage) && fs.exists(marker), L.name)
    } finally rmTree(dir)
    }
  }

  test("restore: metadata-only rollback republishes a retained " +
      "generation's file list verbatim; expire reclaims a quiet " +
      "table's garbage without publishing") {
    val dir = tmp("manirestore")
    try {
      val root = dir.toString + "/t"
      val fs = Tables.fsFor(spark, root)
      import spark.implicits._
      def batch(tag: String, ps: Seq[Int]) =
        ps.flatMap(p => (1 to 5).map(i => (s"$tag-$p-$i", p)))
          .toDF("id", "p")
      ManifestStore.publish(spark, batch("g1", 0 to 2), root, "p")
      val good = rows(ManifestStore.readCurrent(spark, root))
      val goodEntries = ManifestStore.manifestAt(spark, root, 1L)
        .entries.map(e => e.partition -> e.relPath).toSet
      val goodState = fileState(root, 1L)
      // two bad promotions land
      ManifestStore.publish(spark, batch("bad", Seq(0)), root, "p")
      ManifestStore.publish(spark, batch("worse", Seq(1)), root, "p")
      // ROLLBACK: gen 4 carries gen 1's file list verbatim — zero
      // data files rewritten (path + mtime identical)
      val g = ManifestStore.restore(spark, root, 1L)
      assert(g == 4L)
      val restored = ManifestStore.manifestAt(spark, root, 4L).entries
      assert(restored.map(e => e.partition -> e.relPath).toSet
        == goodEntries)
      restored.foreach(e => assert(goodState(e.relPath) ==
        fs.getFileStatus(new org.apache.hadoop.fs.Path(
          s"$root/${e.relPath}")).getModificationTime))
      assert(rows(ManifestStore.readCurrent(spark, root)) == good)
      // history is not renumbered: the bad gens stay time-travelable
      // inside the window
      assert(ManifestStore.readAt(spark, root, 3L)
        .filter(col("id").startsWith("worse-")).count() == 5L)
      // residue/aged gens refuse typed
      intercept[graft.SnapshotUnavailable] {
        ManifestStore.restore(spark, root, 9L)
      }
      // EXPIRE: a dropped branch's garbage lingers on a quiet table
      // (prune only runs inside publishes) — expire reclaims it now
      ManifestStore.branch(spark, root, "tmp")
      ManifestStore.publishToBranch(spark, batch("b", Seq(2)), root,
        "tmp")
      ManifestStore.dropRef(spark, root, "tmp")
      val bm = new org.apache.hadoop.fs.Path(s"$root/_manifests/r-tmp-1")
      val bw = new org.apache.hadoop.fs.Path(s"$root/_writes/r-tmp-1")
      assert(fs.exists(bm) && fs.exists(bw))
      ManifestStore.expire(spark, root)
      assert(!fs.exists(bm) && !fs.exists(bw),
        "expire must reclaim the dropped branch without a publish")
      assert(rows(ManifestStore.readCurrent(spark, root)) == good)
      assert(IndexAudit.isManifestTableHealthy(spark, root))
      // restore commits under the staging lock: run inside a publish
      // that holds gen 3's lock, it must lose typed, and the lock
      // holder commits its own gen 3
      val race = dir.toString + "/race"
      val nation = Tables.table(spark, sf, "nation")
      ManifestStore.publish(spark, nation, race, "n_regionkey")
      ManifestStore.publish(spark, nation, race, "n_regionkey")
      val published = nation.filter(col("n_nationkey") < 3)
      var lost: Option[Throwable] = None
      val g3 = ManifestStore.publishImpl(spark, published, race,
        "n_regionkey", Nil, 3, true, true, () => {
          lost = scala.util.Try(ManifestStore.restore(spark, race, 1L))
            .failed.toOption
        })
      assert(lost.exists(_.isInstanceOf[graft.sources.MetaSwap.CasFailed]),
        s"restore inside a held staging lock must fail typed: $lost")
      assert(g3 == 3L)
      assert(rows(ManifestStore.readCurrent(spark, race)) ==
        rows(published))
    } finally rmTree(dir)
  }

  test("clusterPartitions: range-clustered files make entry-stats " +
      "skipping actually prune; scoped clustering reuses untouched " +
      "partitions; rows identical") {
    val dir = tmp("maniclus")
    try {
      val root = dir.toString + "/t"
      val fs = Tables.fsFor(spark, root)
      import spark.implicits._
      // v is SCRAMBLED within each partition, so a single-file layout
      // has whole-range stats and a range read can prune nothing
      val base = (1 to 4000).map(i =>
          (i, i % 2, (i * 1117) % 4000)).toDF("id", "p", "v")
      ManifestStore.publish(spark, base, root, "p",
        statsCols = Seq("v"))
      def keptBytes(): (Int, Long) = {
        val (_, kept) = ManifestStore.statsPrunedEntries(spark, root,
          "v", 100, 299)
        (kept.size, kept.map(e => fs.getFileStatus(
          new org.apache.hadoop.fs.Path(s"$root/${e.relPath}"))
          .getLen).sum)
      }
      val expect = rows(ManifestStore.readWhere(spark, root, "v",
        100, 299))
      val (preN, preBytes) = keptBytes()
      val total = ManifestStore.manifestAt(spark, root, 1L).entries
        .map(e => fs.getFileStatus(new org.apache.hadoop.fs.Path(
          s"$root/${e.relPath}")).getLen).sum
      // cluster on v into ~8 files: each file now covers a narrow,
      // disjoint v-slice, so the same range read opens a fraction
      val rewrote = ManifestStore.clusterPartitions(spark, root,
        Seq("v"), targetBytesPerFile = math.max(1L, total / 8))
      assert(rewrote == 2)
      val (postN, postBytes) = keptBytes()
      assert(rows(ManifestStore.readWhere(spark, root, "v", 100, 299))
        == expect, "clustering must not change results")
      assert(rows(ManifestStore.readCurrent(spark, root))
        == rows(base))
      assert(postBytes * 2 < preBytes,
        s"clustered read must open < half the bytes " +
          s"(pre $preN/$preBytes post $postN/$postBytes)")
      // scoped clustering: only the named partition rewrites
      val st2 = fileState(root, 2L)
      ManifestStore.clusterPartitions(spark, root, Seq("v"),
        targetBytesPerFile = math.max(1L, total / 8),
        partitions = Some(Seq("0")))
      val m3 = ManifestStore.manifestAt(spark, root, 3L)
      m3.entries.filter(_.partition == "1").foreach { e =>
        assert(st2.get(e.relPath).contains(fs.getFileStatus(
          new org.apache.hadoop.fs.Path(s"$root/${e.relPath}"))
          .getModificationTime), "partition 1 must ride untouched")
      }
      assert(rows(ManifestStore.readCurrent(spark, root))
        == rows(base))
      assert(IndexAudit.isManifestTableHealthy(spark, root))
    } finally rmTree(dir)
  }

  test("manifest-list layout: untouched GROUP manifests are reused " +
      "by reference, a single-partition read parses ONE group file, " +
      "retention sweeps only unreferenced groups, fsck classifies a " +
      "missing group") {
    val dir = tmp("manilist")
    try {
      val root = dir.toString + "/t"
      val fs = Tables.fsFor(spark, root)
      val nation = Tables.table(spark, sf, "nation")
      ManifestStore.publish(spark, nation, root, "n_regionkey",
        keep = 2, manifestGroups = 4)
      val gf1 = ManifestStore.genFileAt(spark, root, 1L)
      val lg1 = gf1.asInstanceOf[ManifestStore.ListGen]
      assert(lg1.nGroups == 4 && lg1.refs.nonEmpty)
      assert(rows(ManifestStore.readCurrent(spark, root)) ==
        rows(nation))
      // partial promotion: ONLY region 2's group manifest is written;
      // every other group's REFERENCE carries verbatim (still
      // pointing into gen 1's .d dir — metadata-level reuse)
      val v2part = nation.filter(col("n_regionkey") === 2)
        .withColumn("n_name", lit("CHANGED"))
      ManifestStore.publish(spark, v2part, root, "n_regionkey",
        keep = 2)
      val lg2 = ManifestStore.genFileAt(spark, root, 2L)
        .asInstanceOf[ManifestStore.ListGen]
      assert(lg2.nGroups == 4, "layout must inherit")
      val g2 = ManifestStore.groupOf("2", 4)
      val (touched, carried) = lg2.refs.partition(_.group == g2)
      assert(touched.map(_.relPath) == Seq(s"_manifests/2.d/$g2"))
      carried.foreach { r =>
        assert(r.relPath.startsWith("_manifests/1.d/"),
          s"untouched group ${r.group} was rewritten: ${r.relPath}")
        assert(lg1.refs.find(_.group == r.group)
          .exists(_.relPath == r.relPath))
      }
      // the metadata-pruning contract, literal: a single-partition
      // read resolves exactly ONE group manifest
      assert(ManifestStore.scopedGroupPaths(lg2, Seq("2")).size == 1)
      assert(rows(ManifestStore.readPartitions(spark, root, Seq("2")))
        == rows(v2part))
      // full reads and time travel stay exact across the layout
      val expect2 = nation.filter(col("n_regionkey") =!= 2)
        .unionByName(v2part)
      assert(rows(ManifestStore.readCurrent(spark, root)) ==
        rows(expect2))
      assert(rows(ManifestStore.readAt(spark, root, 1L)) ==
        rows(nation))
      assert(IndexAudit.isManifestTableHealthy(spark, root))
      // retention: the third promotion prunes gen 1's LIST under
      // keep=2, but every group file a surviving list references —
      // including gen 1's untouched groups — survives; only gen 1's
      // REPLACED group (superseded twice) is swept
      ManifestStore.publish(spark,
        nation.filter(col("n_regionkey") === 2), root, "n_regionkey",
        keep = 2)
      intercept[SnapshotUnavailable] {
        ManifestStore.readAt(spark, root, 1L)
      }
      val lg3 = ManifestStore.genFileAt(spark, root, 3L)
        .asInstanceOf[ManifestStore.ListGen]
      lg3.refs.filter(_.group != g2).foreach(r =>
        assert(fs.exists(new org.apache.hadoop.fs.Path(
          s"$root/${r.relPath}")) &&
          r.relPath.startsWith("_manifests/1.d/")))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$root/_manifests/1.d/$g2")),
        "gen 1's twice-superseded group file must be swept")
      assert(rows(ManifestStore.readAt(spark, root, 2L)) ==
        rows(expect2), "a retained gen must stay FULLY servable")
      // grouped maintenance: merge + deleteWhere keep the layout and
      // the rows
      import spark.implicits._
      ManifestStore.mergePartitions(spark,
        Seq((9999, "NEW", 1)).toDF("n_nationkey", "n_name",
          "n_regionkey"), root, Seq("n_nationkey"), keep = 2)
      assert(ManifestStore.genFileAt(spark, root, 4L)
        .isInstanceOf[ManifestStore.ListGen])
      assert(ManifestStore.readCurrent(spark, root).count() ==
        nation.count() + 1)
      ManifestStore.deleteWhere(spark, root,
        col("n_nationkey") === 9999, keep = 2)
      assert(rows(ManifestStore.readCurrent(spark, root)) ==
        rows(nation))
      assert(IndexAudit.isManifestTableHealthy(spark, root))
      // fsck: a LIST referencing a gone group file is UNHEALTHY and
      // repair reports it unrepairable; restoring it heals
      val victimRef = ManifestStore.genFileAt(spark, root, 5L)
        .asInstanceOf[ManifestStore.ListGen].refs.head.relPath
      val victimPath = new org.apache.hadoop.fs.Path(
        s"$root/$victimRef")
      val bytes = {
        val in = fs.open(victimPath)
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val b = new Array[Byte](8192)
          var n = in.read(b)
          while (n >= 0) { buf.write(b, 0, n); n = in.read(b) }
          buf.toByteArray
        } finally in.close()
      }
      require(fs.delete(victimPath, false))
      assert(IndexAudit.auditManifestTable(spark, root).exists(f =>
        f.kind == "group" && f.status == "manifest_missing_group" &&
          !f.healthy))
      assert(IndexAudit.repairManifestTable(spark, root).collect()
        .exists(_.getString(2) == "unrepairable_missing_group"))
      intercept[SnapshotUnavailable] {
        ManifestStore.readCurrent(spark, root).count()
      }
      val out = fs.create(victimPath, true)
      try out.write(bytes) finally out.close()
      assert(IndexAudit.isManifestTableHealthy(spark, root))
      assert(rows(ManifestStore.readCurrent(spark, root)) ==
        rows(nation))
      // flat → grouped migration on a live table preserves every row
      val froot = dir.toString + "/flat"
      ManifestStore.publish(spark, nation, froot, "n_regionkey")
      ManifestStore.publish(spark, v2part, froot, "n_regionkey",
        manifestGroups = 4)
      assert(ManifestStore.genFileAt(spark, froot, 2L)
        .isInstanceOf[ManifestStore.ListGen])
      assert(rows(ManifestStore.readCurrent(spark, froot)) ==
        rows(expect2))
    } finally rmTree(dir)
  }

  test("a zero-entry generation serves the recorded schema — " +
      "including through the SQL source") {
    val dir = tmp("manizero")
    try {
      val root = dir.toString + "/t"
      val nation = Tables.table(spark, sf, "nation")
      ManifestStore.publish(spark, nation, root, "n_regionkey")
      // a full rebuild from an empty frame: zero entries, schema kept
      ManifestStore.publish(spark, nation.limit(0), root,
        "n_regionkey", replaceAll = true)
      val cur = ManifestStore.readCurrent(spark, root)
      assert(cur.count() == 0L)
      assert(cur.schema == nation.schema)
      // the SQL surface serves it as an empty relation instead of
      // refusing with "no file relation in plan"
      spark.sql("CREATE OR REPLACE TEMPORARY VIEW graft_zero_mani " +
        s"USING graft.sources.SnapshotSource OPTIONS (path '$root')")
      assert(spark.sql(
        "SELECT count(*) AS n, count(n_name) AS nn " +
          "FROM graft_zero_mani").head().getLong(0) == 0L)
      spark.catalog.dropTempView("graft_zero_mani")
      ()
    } finally rmTree(dir)
  }

  test("ref-name hygiene: a leading dot refuses (it is the marker " +
      "protocol's stage-file namespace), and a TAG pinning a " +
      "zero-entry generation serves empty through the SQL ref view") {
    val dir = tmp("manirefhyg")
    try {
      val root = dir.toString + "/t"
      val nation = Tables.table(spark, sf, "nation")
      ManifestStore.publish(spark, nation, root, "n_regionkey")
      // a ref named like a stage file would be skipped by every
      // ref-set reader and reclaimed by the fsck
      val stageName = MetaSwap.stagePath(
        new org.apache.hadoop.fs.Path(s"$root/_refs/foo")).getName
      intercept[IllegalArgumentException] {
        ManifestStore.tag(spark, root, stageName)
      }
      intercept[IllegalArgumentException] {
        ManifestStore.branch(spark, root, stageName)
      }
      // a tag on a generation that a later full-table delete emptied:
      // the ref=<tag> SQL path serves schema-with-no-rows, exactly
      // like the plain-generation and branch paths
      ManifestStore.publish(spark, nation.limit(0), root,
        "n_regionkey", replaceAll = true)
      ManifestStore.tag(spark, root, "empty-pin", Some(2L))
      spark.sql("CREATE OR REPLACE TEMPORARY VIEW graft_tag_empty " +
        s"USING graft.sources.SnapshotSource OPTIONS (path '$root', " +
        "ref 'empty-pin')")
      assert(spark.sql("SELECT count(*) FROM graft_tag_empty")
        .head().getLong(0) == 0L)
      spark.catalog.dropTempView("graft_tag_empty")
      ()
    } finally rmTree(dir)
  }

  test("schema evolution: a WIDENED partial publish serves carried " +
      "old-schema files null-backfilled through the new DDL; drops, " +
      "renames and re-types refuse typed (replaceAll is the rebuild)") {
    val dir = tmp("manievol")
    try {
      val root = dir.toString + "/t"
      val nation = Tables.table(spark, sf, "nation")
      ManifestStore.publish(spark, nation, root, "n_regionkey")
      val before = fileState(root, 1L)
      // widen: only region 2 re-publishes, carrying a new column
      val widened = nation.filter(col("n_regionkey") === 2)
        .withColumn("note", lit("W"))
      ManifestStore.publish(spark, widened, root, "n_regionkey")
      // carried partitions' files untouched on disk
      val after = fileState(root, 2L)
      val untouched = ManifestStore.manifestAt(spark, root, 2L)
        .entries.filter(_.partition != "2").map(_.relPath)
      assert(untouched.nonEmpty && untouched.forall(p =>
        before.get(p).contains(after(p))))
      // the serving read: ONE schema (the new DDL); old-era rows
      // null-backfill the new column, the widened partition carries it
      val cur = ManifestStore.readCurrent(spark, root)
      assert(cur.columns.contains("note"))
      assert(cur.count() == nation.count())
      assert(cur.filter(col("n_regionkey") === 2)
        .filter(col("note") =!= "W").count() == 0L)
      assert(cur.filter(col("n_regionkey") =!= 2)
        .filter(col("note").isNotNull).count() == 0L)
      // time travel serves the OLD schema exactly
      assert(ManifestStore.readAt(spark, root, 1L).schema ==
        nation.schema)
      // a partial publish DROPPING a recorded column refuses typed
      intercept[graft.SchemaMismatch] {
        ManifestStore.publish(spark,
          widened.drop("n_name"), root, "n_regionkey")
      }
      // ... as does a RENAME (drop + add reads as a drop) ...
      intercept[graft.SchemaMismatch] {
        ManifestStore.publish(spark,
          widened.withColumnRenamed("n_name", "name2"), root,
          "n_regionkey")
      }
      // ... and a RE-TYPE of a recorded column
      intercept[graft.SchemaMismatch] {
        ManifestStore.publish(spark,
          widened.withColumn("n_nationkey",
            col("n_nationkey").cast("string")), root, "n_regionkey")
      }
      // the honest drop: an explicit replaceAll rebuild
      ManifestStore.publish(spark, nation.drop("n_name"), root,
        "n_regionkey", replaceAll = true)
      assert(!ManifestStore.readCurrent(spark, root).columns
        .contains("n_name"))
      ()
    } finally rmTree(dir)
  }

  test("updateWhere refuses a table carrying reserved __graft_ " +
      "columns instead of silently overwriting them") {
    val dir = tmp("maniupdres")
    try {
      val root = dir.toString + "/t"
      val nation = Tables.table(spark, sf, "nation")
        .withColumn("__graft_upd", lit("user data"))
      ManifestStore.publish(spark, nation, root, "n_regionkey")
      val e = intercept[IllegalArgumentException] {
        ManifestStore.updateWhere(spark, root,
          col("n_regionkey") === 1,
          Seq("n_name" -> lit("X")))
      }
      assert(e.getMessage.contains("__graft_"))
      ()
    } finally rmTree(dir)
  }

  test("hierarchical partitioning: a (year, month) table merges and " +
      "deletes at cell scope — only the touched cell's files " +
      "rewrite — and prefix reads open exactly the prefix's files") {
    val dir = tmp("manimulti")
    try {
      val root = dir.toString + "/t"
      val orders = Tables.table(spark, sf, "orders")
        .withColumn("o_year", date_format(col("o_orderdate"), "yyyy"))
        .withColumn("o_month", date_format(col("o_orderdate"), "MM"))
      ManifestStore.publish(spark, orders, root, "o_year,o_month")
      val cellKey = ManifestStore.tupleKey(Seq("1996", "03"))
      val before = fileState(root, 1L)
      // a cell-scoped MERGE: reprice a key-sampled slice of 1996-03
      val batch = orders.filter(col("o_year") === "1996" &&
        col("o_month") === "03" && col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      ManifestStore.mergePartitions(spark, batch, root,
        Seq("o_orderkey"))
      val after = fileState(root, 2L)
      val untouched = ManifestStore.manifestAt(spark, root, 2L)
        .entries.filter(_.partition != cellKey).map(_.relPath)
      assert(untouched.nonEmpty && untouched.forall(p =>
        before.get(p).contains(after(p))),
        "a cell merge must rewrite ONLY the (year, month) cell")
      // the cell read is exact vs the recomputed expectation
      val cell = ManifestStore.readPartitions(spark, root, Seq(cellKey))
      val expectCell = orders.filter(col("o_year") === "1996" &&
        col("o_month") === "03")
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")))
      assert(cell.count() == expectCell.count() &&
        cell.exceptAll(expectCell).isEmpty &&
        expectCell.exceptAll(cell).isEmpty)
      // prefix read: all of 1996, across its months, nothing else —
      // and the opened files are exactly the prefix's entries
      val prefix = ManifestStore.readPartitionPrefix(spark, root,
        Seq("1996"))
      assert(prefix.count() ==
        orders.filter(col("o_year") === "1996").count())
      assert(prefix.inputFiles.forall(_.contains("graft_p=1996")))
      // cell-scoped DELETE rides the same keys
      ManifestStore.deleteWhere(spark, root,
        col("o_year") === "1997" && col("o_month") === "05")
      val g3 = ManifestStore.manifestAt(spark, root, 3L)
      assert(!g3.entries.exists(_.partition ==
        ManifestStore.tupleKey(Seq("1997", "05"))))
      assert(graft.operators.IndexAudit
        .isManifestTableHealthy(spark, root))
      ()
    } finally rmTree(dir)
  }

  test("hierarchical partitioning: tuple components containing the " +
      "separator, '%', empties and nulls round-trip (escaping, " +
      "per-component sentinel)") {
    val dir = tmp("manituple")
    try {
      import spark.implicits._
      val root = dir.toString + "/t"
      val df = Seq(
        (Option("a%b"), "x\u001fy", 1), (Option("a%b"), "plain", 2),
        (Option(""), "empty-first", 3), (Option("plain"), "", 4),
        (None: Option[String], "nullv", 9))
        .toDF("k1", "k2", "v")
      ManifestStore.publish(spark, df, root, "k1,k2")
      val m = ManifestStore.manifestAt(spark, root, 1L)
      // five distinct cells — no two tuples collapsed by escaping,
      // including a component CONTAINING the tuple separator itself
      assert(m.entries.map(_.partition).distinct.size == 5)
      // each cell reads back exactly its row
      def cellOf(k1: String, k2: String) =
        ManifestStore.readPartitions(spark, root,
          Seq(ManifestStore.tupleKey(Seq(k1, k2))))
      assert(cellOf("a%b", "x\u001fy").select("v").head().getInt(0) == 1)
      assert(cellOf("a%b", "plain").select("v").head().getInt(0) == 2)
      assert(cellOf("", "empty-first").select("v").head().getInt(0) == 3)
      assert(cellOf("plain", "").select("v").head().getInt(0) == 4)
      assert(cellOf(null, "nullv").select("v").head().getInt(0) == 9)
      // prefix read on the escaped component
      assert(ManifestStore.readPartitionPrefix(spark, root,
        Seq("a%b")).count() == 2)
      ()
    } finally rmTree(dir)
  }

  test("entry-stats pruning reaches the SQL surface: a pushed range " +
      "filter opens fewer than half the files at planning time, " +
      "results identical to the unpruned read") {
    val dir = tmp("manisqlstats")
    try {
      val root = dir.toString + "/t"
      val orders = Tables.table(spark, sf, "orders")
        .withColumn("o_year", date_format(col("o_orderdate"), "yyyy"))
      ManifestStore.publish(spark, orders, root, "o_year",
        statsCols = Seq("o_custkey"))
      // range-cluster on the stat column so per-file ranges are
      // narrow and disjoint — the layout that makes stats prune
      ManifestStore.clusterPartitions(spark, root, Seq("o_custkey"),
        targetBytesPerFile = 2L * 1024)
      val m = ManifestStore.manifestAt(spark, root,
        ManifestStore.currentGen(spark, root).get)
      assert(m.entries.size >= 4,
        s"need several files to prove pruning, got ${m.entries.size}")
      spark.sql("CREATE OR REPLACE TEMPORARY VIEW stats_sql_t USING " +
        s"`graft-snapshot` OPTIONS (path '$root')")
      val q = spark.sql("SELECT o_orderkey, o_custkey, o_totalprice " +
        "FROM stats_sql_t WHERE o_custkey BETWEEN 100 AND 119")
      val got = q.collect()
      // the scan's planned file count, post-execution (AQE-aware)
      val plan = q.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val scan = plan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.getOrElse(fail("no FileSourceScanExec in the SQL plan"))
      val opened = scan.metrics("numFiles").value
      assert(opened > 0 && opened < m.entries.size / 2,
        s"stats must prune the SQL scan: opened $opened of " +
          s"${m.entries.size} files")
      // identical rows vs the unpruned structural read
      val expect = ManifestStore.readCurrent(spark, root)
        .filter(col("o_custkey").between(100, 119))
        .select("o_orderkey", "o_custkey", "o_totalprice").collect()
      assert(got.toSet == expect.toSet && got.length == expect.length)
      // IN-lists prune too (point lookups are the other common shape)
      val qIn = spark.sql("SELECT count(*) FROM stats_sql_t " +
        "WHERE o_custkey IN (101, 102, 103)")
      val nIn = qIn.head().getLong(0)
      val planIn = qIn.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val openedIn = planIn.collectFirst {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
          sc.metrics("numFiles").value
      }.getOrElse(fail("no scan in the IN plan"))
      assert(openedIn < m.entries.size / 2,
        s"IN must prune: opened $openedIn of ${m.entries.size}")
      assert(nIn == ManifestStore.readCurrent(spark, root)
        .filter(col("o_custkey").isin(101, 102, 103)).count())
      spark.catalog.dropTempView("stats_sql_t")
      ()
    } finally rmTree(dir)
  }

  test("disjoint-rebase on DML and maintenance: a racing promotion " +
      "on OTHER partitions rebases and both land; a same-partition " +
      "race refuses typed") {
    val dir = tmp("manidmlrace")
    try {
      val root = dir.toString + "/t"
      val orders = Tables.table(spark, sf, "orders")
        .withColumn("o_year", date_format(col("o_orderdate"), "yyyy"))
      ManifestStore.publish(spark, orders, root, "o_year")
      // DISJOINT: a publish touching 1998 lands while a delete of
      // 1996's F rows is staged — the delete rebases and commits
      var fired = false
      val gDel = ManifestStore.deleteWhereImpl(spark, root,
        col("o_year") === "1996" && col("o_orderstatus") === "F",
        Nil, 3, 0L, () => if (!fired) {
          fired = true
          ManifestStore.publish(spark,
            orders.filter(col("o_year") === "1998")
              .withColumn("o_orderpriority", lit("RACED")),
            root, "o_year")
        })
      assert(gDel == 3L, "the rebased delete lands after the winner")
      val cur = ManifestStore.readCurrent(spark, root)
      assert(cur.filter(col("o_year") === "1996" &&
        col("o_orderstatus") === "F").count() == 0L)
      assert(cur.filter(col("o_year") === "1998")
        .filter(col("o_orderpriority") =!= "RACED").count() == 0L,
        "the racing winner's promotion must survive the rebase")
      // SAME-PARTITION: an update racing a publish on the same year
      // refuses typed — the op was computed against replaced rows
      var fired2 = false
      intercept[graft.sources.MetaSwap.CasFailed] {
        ManifestStore.updateWhereImpl(spark, root,
          col("o_year") === "1997",
          Seq("o_orderpriority" -> lit("X")), Nil, 3, 0L,
          () => if (!fired2) {
            fired2 = true
            ManifestStore.publish(spark,
              orders.filter(col("o_year") === "1997"), root, "o_year")
          })
      }
      // MAINTENANCE: clustering rebases over a disjoint promotion too
      var fired3 = false
      val n = ManifestStore.clusterPartitionsImpl(spark, root,
        Seq("o_custkey"), 64L * 1024 * 1024, Some(Seq("1995")), 3, 0L,
        () => if (!fired3) {
          fired3 = true
          ManifestStore.publish(spark,
            orders.filter(col("o_year") === "1994"), root, "o_year")
        })
      assert(n == 1, "the rebased clustering lands after the winner")
      assert(graft.operators.IndexAudit
        .isManifestTableHealthy(spark, root))
      ()
    } finally rmTree(dir)
  }

  test("racing creations of the same ref name: exactly one side " +
      "commits, the loser fails typed (create-exclusive, not " +
      "last-writer-wins)") {
    refLayouts.foreach { L =>
    val dir = tmp("manirefrace")
    try {
      val root = dir.toString + "/t"
      val nation = Tables.table(spark, sf, "nation")
      L.publish(nation, root, "n_regionkey")
      val fs = Tables.fsFor(spark, root)
      // drive the race at the MetaSwap layer (the tag/branch calls
      // both sit on create): two creators of one marker — the second
      // must fail typed even though it never saw the first's marker
      val p = new org.apache.hadoop.fs.Path(s"$root/_refs/winner")
      graft.sources.MetaSwap.create(fs, p, "kind=tag\ngen=1\ncreated=1\n"
        .getBytes("UTF-8"))
      intercept[graft.sources.MetaSwap.CasFailed] {
        graft.sources.MetaSwap.create(fs, p,
          "kind=tag\ngen=1\ncreated=2\n".getBytes("UTF-8"))
      }
      // the committed marker is the winner's, verbatim
      assert(new String(graft.sources.MetaSwap.readCommitted(fs, p),
        "UTF-8").contains("created=1"), L.name)
      // and the API-level duplicate refuses loudly too
      L.tag(root, "t1")
      intercept[IllegalStateException] {
        L.tag(root, "t1")
      }
      ()
    } finally rmTree(dir)
    }
  }

  test("prefix-aware list grouping: a (year,month) list table " +
      "parses ONE group per prefix read, cells stay one-group, " +
      "reuse survives steady state, legacy full-tuple generations " +
      "keep their recorded assignment") {
    val dir = tmp("maniprefixgrp")
    try {
      val root = dir.toString + "/orders"
      val orders = Tables.table(spark, sf, "orders")
        .withColumn("o_year", date_format(col("o_orderdate"), "yyyy"))
        .withColumn("o_month", date_format(col("o_orderdate"), "MM"))
      ManifestStore.publish(spark, orders, root, "o_year,o_month",
        manifestGroups = 8)
      val lg1 = ManifestStore.genFileAt(spark, root, 1L)
        .asInstanceOf[ManifestStore.ListGen]
      assert(lg1.groupByPrefix,
        "new list layouts must group by the leading component")
      assert(lg1.refs.size > 1, "the fixture needs several groups")
      // ALL of a leading value's cells hash to ONE group — the
      // group-parse count a prefix read pays
      val refs96 = ManifestStore.prefixGroupRefs(lg1, Seq("1996"))
      assert(refs96.size == 1,
        s"a prefix read must parse ONE group, got ${refs96.size}")
      // and the prefix read is row-exact vs the predicate
      assert(rows(ManifestStore.readPartitionPrefix(spark, root,
        Seq("1996"))) ==
        rows(orders.filter(col("o_year") === "1996")))
      // a full-tuple cell read still resolves exactly one group
      assert(ManifestStore.scopedGroupPaths(lg1,
        Seq(ManifestStore.tupleKey(Seq("1996", "03")))).size == 1)
      assert(rows(ManifestStore.readPartitions(spark, root,
        Seq(ManifestStore.tupleKey(Seq("1996", "03"))))) ==
        rows(orders.filter(col("o_year") === "1996" &&
          col("o_month") === "03")))
      // steady state: a cell-scoped promotion touches ONLY its
      // leading value's group; every other group's ref carries
      // verbatim into gen 1's .d dir
      val cell = orders.filter(col("o_year") === "1996" &&
        col("o_month") === "03").withColumn("o_orderpriority",
        lit("X"))
      ManifestStore.publish(spark, cell, root, "o_year,o_month")
      val lg2 = ManifestStore.genFileAt(spark, root, 2L)
        .asInstanceOf[ManifestStore.ListGen]
      assert(lg2.groupByPrefix, "the mode must inherit")
      val touchedGroup = refs96.head.group
      val (touched, carried) =
        lg2.refs.partition(_.group == touchedGroup)
      assert(touched.map(_.relPath) ==
        Seq(s"_manifests/2.d/$touchedGroup"))
      carried.foreach { r =>
        assert(r.relPath.startsWith("_manifests/1.d/"),
          s"untouched group ${r.group} was rewritten: ${r.relPath}")
      }
      // LEGACY generations (no groupkey header) parse with full-tuple
      // hashing and keep their recorded assignment — round-trip the
      // header absence and the scoping through the serializer
      val legacy = lg1.copy(groupByPrefix = false)
      val reparsed = ManifestStore
        .parseGenFile(ManifestStore.serializeList(legacy))
        .asInstanceOf[ManifestStore.ListGen]
      assert(!reparsed.groupByPrefix,
        "a list gen without the header must stay full-tuple-hashed")
      val cellKey = ManifestStore.tupleKey(Seq("1996", "03"))
      val legacyGroup = ManifestStore.groupOf(cellKey, 8)
      assert(ManifestStore.scopedGroupPaths(reparsed, Seq(cellKey))
        .forall(_.group == legacyGroup))
      // a legacy gen's prefix read declares ALL groups (it cannot
      // prefix-select) — correctness over optimization
      assert(ManifestStore.prefixGroupRefs(reparsed, Seq("1996"))
        .size == reparsed.refs.size)
      assert(graft.operators.IndexAudit
        .isManifestTableHealthy(spark, root))
      ()
    } finally rmTree(dir)
  }

  test("single-column list table with a partition VALUE containing " +
      "the tuple-separator byte: reader and writer hash the same " +
      "group key, so the prefix read serves the rows (not silently " +
      "none)") {
    val dir = tmp("manisep")
    try {
      import spark.implicits._
      val root = dir.toString + "/t"
      // single-column values are stored unescaped — "a\u001Fb" keeps
      // its raw separator byte; the writer groups it under its
      // pre-separator head ("a"), and the reader must probe the same
      val weird = "a\u001Fb"
      val df = Seq((1L, weird), (2L, weird), (3L, "plain"),
        (4L, "other")).toDF("k", "p")
      ManifestStore.publish(spark, df, root, "p", manifestGroups = 8)
      val got = ManifestStore.readPartitionPrefix(spark, root,
        Seq(weird)).collect().map(_.getLong(0)).sorted.toSeq
      assert(got == Seq(1L, 2L),
        s"the separator-bearing partition must serve its rows, got $got")
      // the scoped read agrees (full-value path)
      assert(ManifestStore.readPartitions(spark, root, Seq(weird))
        .count() == 2L)
      ()
    } finally rmTree(dir)
  }

  test("deletion vectors (S37): a MOR delete rewrites NO data file, " +
      "stacks, is idempotent, serves DV-applied rows through " +
      "reads/time travel/SQL, and COW update / OPTIMIZE fold the " +
      "vectors; a fully-masked partition serves zero rows and is " +
      "reclaimed by compaction") {
    val dir = tmp("manidv")
    try {
      import spark.implicits._
      val root = dir.toString + "/t"
      val M = ManifestStore
      val df = (0L until 400L).map(k => (k, k * 10L, (k % 4).toString))
        .toDF("k", "v", "p")
      M.publish(spark, df, root, "p")
      val fs = Tables.fsFor(spark, root)
      def mtime(rel: String) = fs.getFileStatus(
        new org.apache.hadoop.fs.Path(s"$root/$rel"))
        .getModificationTime
      val before = M.manifestAt(spark, root, 1L).entries
        .map(e => e.relPath -> mtime(e.relPath)).toMap
      // ---- sparse MOR delete across partitions ----
      val g2 = M.deleteWhereMor(spark, root, col("k") % 100L === 7L)
      assert(g2 == 2L)
      val m2 = M.manifestAt(spark, root, 2L)
      val (dv2, data2) = m2.entries.partition(M.isDeleteEntry)
      assert(dv2.nonEmpty, "no delete entries recorded")
      assert(data2.map(_.relPath).toSet == before.keySet &&
        data2.forall(e => before(e.relPath) == mtime(e.relPath)),
        "a MOR delete must leave every data file byte-identical")
      assert(M.readCurrent(spark, root).count() == 396L)
      assert(M.readCurrent(spark, root)
        .filter(col("k") % 100L === 7L).count() == 0L)
      // partition-scoped reads are DV-applied too (k=7,107,207,307
      // all live in p=3)
      assert(M.readPartitions(spark, root, Seq("3")).count() == 96L)
      assert(M.readAt(spark, root, 1L).count() == 400L,
        "pre-DV generations must time-travel intact")
      // ---- idempotence: re-deleting the same rows commits nothing
      assert(M.deleteWhereMor(spark, root,
        col("k") % 100L === 7L) == 2L)
      // ---- stacking: a second DV on top of the first ----
      val g3 = M.deleteWhereMor(spark, root,
        col("p") === "2" && col("k") < 100L)
      assert(g3 == 3L)
      // first DV removed k=7,107,207,307 (4); second removes p=2's
      // k<100 rows (k=2,6,...,98 — 25, disjoint from the first set)
      assert(M.readCurrent(spark, root).count() == 371L,
        s"stacked DV count, got ${M.readCurrent(spark, root).count()}")
      assert(graft.operators.IndexAudit
        .isManifestTableHealthy(spark, root))
      // ---- SQL reads route through the DV-applied relation ----
      spark.sql("CREATE OR REPLACE TEMPORARY VIEW dv_t USING " +
        s"`graft-snapshot` OPTIONS (path '$root')")
      assert(spark.sql("SELECT count(*) FROM dv_t").head().getLong(0)
        == 371L)
      assert(spark.sql(
        "SELECT count(*) FROM dv_t WHERE k % 100 = 7").head()
        .getLong(0) == 0L)
      // DML through the view still works (COW folds as it goes)
      val g4 = spark.sql("DELETE FROM dv_t WHERE k = 11")
        .head().getLong(0)
      assert(g4 == 4L)
      assert(M.readCurrent(spark, root).count() == 370L)
      // the COW rewrite folded partition 3's vectors (k=11 lives in
      // p=3; its rewrite replaced ALL of p=3's entries, DVs included)
      val m4 = M.manifestAt(spark, root, 4L)
      assert(m4.entries.filter(_.partition == "3")
        .forall(e => !M.isDeleteEntry(e)))
      spark.catalog.dropTempView("dv_t")
      // ---- COW update folds ONLY its partition's vectors ----
      val g5 = M.updateWhere(spark, root, col("p") === "0",
        Seq("v" -> (col("v") + 1L)))
      assert(g5 == 5L)
      val m5 = M.manifestAt(spark, root, 5L)
      assert(m5.entries.filter(_.partition == "0")
        .forall(e => !M.isDeleteEntry(e)))
      assert(m5.entries.filter(_.partition == "2")
        .exists(M.isDeleteEntry), "p=2 vectors must still stand")
      // ---- fully-masked partition: serves zero, compaction " +
      // reclaims it ----
      val g6 = M.deleteWhereMor(spark, root, col("p") === "1")
      assert(M.readPartitions(spark, root, Seq("1")).count() == 0L)
      assert(M.readCurrent(spark, root)
        .filter(col("p") === "1").count() == 0L)
      val folded = M.compactSmallPartitions(spark, root,
        targetBytesPerFile = 1L << 30)
      assert(folded > 0)
      val curGen = M.currentGen(spark, root).get
      val mF = M.manifestAt(spark, root, curGen)
      assert(mF.entries.forall(e => !M.isDeleteEntry(e)),
        "compaction must fold every vector")
      assert(mF.entries.forall(_.partition != "1"),
        "a fully-masked partition must be reclaimed by the fold")
      assert(M.readCurrent(spark, root).count() ==
        M.readAt(spark, root, g6).count(),
        "the fold must not change served rows")
      assert(graft.operators.IndexAudit
        .isManifestTableHealthy(spark, root))
      ()
    } finally rmTree(dir)
  }

  test("deletion vectors on the LIST layout: untouched groups' " +
      "manifests carry VERBATIM through a DV commit; prefix and " +
      "scoped reads stay DV-applied") {
    val dir = tmp("manidvlist")
    try {
      import spark.implicits._
      val root = dir.toString + "/t"
      val M = ManifestStore
      val df = (0L until 400L).map(k => (k, (k % 8).toString))
        .toDF("k", "p")
      M.publish(spark, df, root, "p", manifestGroups = 8)
      val lg1 = M.genFileAt(spark, root, 1L)
        .asInstanceOf[M.ListGen]
      // DV-delete rows of ONE partition: only its group's manifest
      // may be rewritten
      val g2 = M.deleteWhereMor(spark, root,
        col("p") === "5" && col("k") < 100L)
      assert(g2 == 2L)
      val lg2 = M.genFileAt(spark, root, 2L)
        .asInstanceOf[M.ListGen]
      val touchedGroup = M.prefixGroupRefs(lg1, Seq("5")).head.group
      val (touched, carried) =
        lg2.refs.partition(_.group == touchedGroup)
      assert(touched.map(_.relPath) ==
        Seq(s"_manifests/2.d/$touchedGroup"))
      carried.foreach(r => assert(
        r.relPath.startsWith("_manifests/1.d/"),
        s"group ${r.group} must carry verbatim, got ${r.relPath}"))
      // 12 rows gone (k=5,13,...,93)
      assert(M.readCurrent(spark, root).count() == 400L - 12L)
      assert(M.readPartitions(spark, root, Seq("5")).count() ==
        50L - 12L)
      assert(M.readPartitionPrefix(spark, root, Seq("5")).count() ==
        50L - 12L)
      assert(graft.operators.IndexAudit
        .isManifestTableHealthy(spark, root))
      ()
    } finally rmTree(dir)
  }

  test("metadata-only column RENAME (S40): one manifest publish, " +
      "every data file byte-identical; old files serve under the " +
      "new name across mixed eras, DML works on the new name, time " +
      "travel serves each era's own schema, chains compose, and a " +
      "replaceAll rebuild clears the mapping") {
    val dir = tmp("manirename")
    try {
      import spark.implicits._
      val root = dir.toString + "/t"
      val M = ManifestStore
      M.publish(spark, (0L until 100L)
        .map(k => (k, k * 2L, (k % 4).toString)).toDF("k", "v", "p"),
        root, "p")
      val fs = Tables.fsFor(spark, root)
      def mtimes(g: Long) = M.manifestAt(spark, root, g).entries
        .map(e => e.relPath -> fs.getFileStatus(
          new org.apache.hadoop.fs.Path(s"$root/${e.relPath}"))
          .getModificationTime).toMap
      val before = mtimes(1L)
      // ---- the rename: pure metadata ----
      val g2 = M.renameColumn(spark, root, "v", "val2")
      assert(g2 == 2L)
      assert(mtimes(2L) == before,
        "a rename must carry every data file verbatim")
      val cur = M.readCurrent(spark, root)
      assert(cur.columns.toSeq == Seq("k", "val2", "p"))
      assert(cur.selectExpr("sum(val2)").head().getLong(0) ==
        (0L until 100L).map(_ * 2L).sum)
      // scoped + predicate reads resolve the old physical name
      assert(M.readPartitions(spark, root, Seq("1"))
        .filter(col("val2") === 2L).count() == 1L)
      // time travel: the old era under its own schema
      assert(M.readAt(spark, root, 1L).columns.toSeq ==
        Seq("k", "v", "p"))
      // ---- mixed eras: a partial publish under the NEW name ----
      val g3 = M.publish(spark, Seq((1000L, 7L, "0"))
        .toDF("k", "val2", "p"), root, "p")
      assert(g3 == 3L)
      val mixed = M.readCurrent(spark, root)
      assert(mixed.count() == 76L) // p=0 replaced (25 rows) + 1 new
      assert(mixed.filter(col("k") === 1000L)
        .head().getLong(1) == 7L)
      assert(mixed.filter(col("p") === "1")
        .selectExpr("sum(val2)").head().getLong(0) ==
        (0L until 100L).filter(_ % 4 == 1).map(_ * 2L).sum)
      // DML binds the new name across eras
      val g4 = M.updateWhere(spark, root, col("p") === "1",
        Seq("val2" -> (col("val2") + 1L)))
      assert(g4 == 4L)
      assert(M.readCurrent(spark, root).filter(col("p") === "1")
        .selectExpr("sum(val2)").head().getLong(0) ==
        (0L until 100L).filter(_ % 4 == 1).map(_ * 2L + 1L).sum)
      // ---- chain: rename AGAIN; three eras serve coherently ----
      val g5 = M.renameColumn(spark, root, "val2", "w")
      assert(g5 == 5L)
      val chained = M.readCurrent(spark, root)
      assert(chained.columns.toSeq == Seq("k", "w", "p"))
      assert(chained.filter(col("p") === "2")
        .selectExpr("sum(w)").head().getLong(0) ==
        (0L until 100L).filter(_ % 4 == 2).map(_ * 2L).sum)
      // SQL serves the renamed table
      spark.sql("CREATE OR REPLACE TEMPORARY VIEW ren_t USING " +
        s"`graft-snapshot` OPTIONS (path '$root')")
      assert(spark.sql("SELECT sum(w) FROM ren_t WHERE p = '2'")
        .head().getLong(0) ==
        (0L until 100L).filter(_ % 4 == 2).map(_ * 2L).sum)
      spark.catalog.dropTempView("ren_t")
      // ---- refusals ----
      val e1 = intercept[IllegalArgumentException] {
        M.renameColumn(spark, root, "p", "part")
      }
      assert(e1.getMessage.contains("partition column"))
      val e2 = intercept[IllegalArgumentException] {
        M.renameColumn(spark, root, "k", "w")
      }
      assert(e2.getMessage.contains("already exists"))
      // resurrecting a retired name refuses — rename target AND
      // widening publish
      val e3 = intercept[IllegalArgumentException] {
        M.renameColumn(spark, root, "k", "val2")
      }
      assert(e3.getMessage.contains("retired"))
      val e4 = intercept[graft.SchemaMismatch] {
        M.publish(spark, Seq((1L, 2L, "0", "x"))
          .toDF("k", "w", "p", "v"), root, "p")
      }
      assert(e4.getMessage.contains("RENAME"))
      // keep = 0 refuses before anything commits: the table keeps
      // serving (a committed rename pruning its own manifest would
      // leave it unreadable)
      val small = dir.toString + "/keep0"
      M.publish(spark, Tables.table(spark, sf, "nation"), small,
        "n_regionkey")
      intercept[IllegalArgumentException] {
        M.renameColumn(spark, small, "n_name", "nm", keep = 0)
      }
      assert(M.readCurrent(spark, small).count() == 25L)
      // ---- DV on a renamed table ----
      val g6 = M.deleteWhereMor(spark, root, col("w") === 4L)
      assert(M.readCurrent(spark, root)
        .filter(col("w") === 4L).count() == 0L)
      assert(g6 == 6L)
      // ---- replaceAll clears the mapping ----
      val g7 = M.publish(spark,
        M.readCurrent(spark, root).toDF(), root, "p",
        replaceAll = true)
      assert(M.genFileAt(spark, root, g7).renames.isEmpty,
        "a replaceAll rebuild must clear the rename mapping")
      assert(M.readCurrent(spark, root).columns.toSeq ==
        Seq("k", "w", "p"))
      assert(graft.operators.IndexAudit
        .isManifestTableHealthy(spark, root))
      ()
    } finally rmTree(dir)
  }

  test("column RENAME on the LIST layout is one gen-file write: " +
      "every group reference carries VERBATIM; reads stay exact") {
    val dir = tmp("manirenlist")
    try {
      import spark.implicits._
      val root = dir.toString + "/t"
      val M = ManifestStore
      M.publish(spark, (0L until 200L)
        .map(k => (k, k.toString, (k % 8).toString))
        .toDF("k", "txt", "p"), root, "p", manifestGroups = 8)
      val lg1 = M.genFileAt(spark, root, 1L).asInstanceOf[M.ListGen]
      val g2 = M.renameColumn(spark, root, "txt", "body")
      assert(g2 == 2L)
      val lg2 = M.genFileAt(spark, root, 2L).asInstanceOf[M.ListGen]
      assert(lg2.refs == lg1.refs,
        "a rename must carry every group reference verbatim")
      assert(lg2.renames == Seq("txt" -> "body"))
      assert(M.readCurrent(spark, root).columns.toSeq ==
        Seq("k", "body", "p"))
      assert(M.readPartitionPrefix(spark, root, Seq("3"))
        .filter(col("body") === "3").count() == 1L)
      ()
    } finally rmTree(dir)
  }

  test("partition-spec migration: repartitionTable rebuilds under " +
      "the new spec in one generation; partial publishes still " +
      "refuse a spec change; old generations time-travel under " +
      "their own recorded spec") {
    val dir = tmp("manirepart")
    try {
      val root = dir.toString + "/orders"
      val orders = Tables.table(spark, sf, "orders")
        .withColumn("o_year", date_format(col("o_orderdate"), "yyyy"))
        .withColumn("o_month", date_format(col("o_orderdate"), "MM"))
      ManifestStore.publish(spark, orders, root, "o_year")
      // a PARTIAL publish must not smuggle a spec change in
      val e = intercept[IllegalArgumentException] {
        ManifestStore.publish(spark,
          orders.filter(col("o_year") === "1996"), root,
          "o_year,o_month")
      }
      assert(e.getMessage.contains("repartitionTable"))
      // the migration: one replaceAll generation under the new spec
      val g = ManifestStore.repartitionTable(spark, root,
        "o_year,o_month")
      assert(g == 2L)
      assert(ManifestStore.manifestAt(spark, root, 2L).partCol ==
        "o_year,o_month")
      assert(ManifestStore.manifestAt(spark, root, 1L).partCol ==
        "o_year")
      assert(rows(ManifestStore.readCurrent(spark, root)) ==
        rows(orders))
      // old gen: scoped reads under ITS spec
      assert(rows(ManifestStore.readPartitions(spark, root,
        Seq("1996"), Some(1L))) ==
        rows(orders.filter(col("o_year") === "1996")))
      // new spec: a cell-scoped DML rewrites only its cell
      val delGen = ManifestStore.deleteWhere(spark, root,
        col("o_year") === "1996" && col("o_month") === "03")
      assert(delGen == 3L)
      assert(ManifestStore.readCurrent(spark, root).count() ==
        orders.filter(!(col("o_year") === "1996" &&
          col("o_month") === "03")).count())
      // re-running with the same spec refuses
      val e2 = intercept[IllegalArgumentException] {
        ManifestStore.repartitionTable(spark, root, "o_year,o_month")
      }
      assert(e2.getMessage.contains("already partitioned"))
      assert(graft.operators.IndexAudit
        .isManifestTableHealthy(spark, root))
      ()
    } finally rmTree(dir)
  }
}
