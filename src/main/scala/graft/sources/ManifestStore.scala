package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** S20 — MANIFEST TABLE: the S19 snapshot table with FILE-LEVEL
  * REUSE between generations — the Iceberg trick, on the shared
  * [[Generations]] protocol (pointer, commit, refs, expire); this
  * object is the layout. The snapshot table writes every generation
  * as a complete physical copy, which is the right cost for a bounded
  * dimension but the wrong one for a large fact:
  * a daily promotion that changes one partition pays an O(table)
  * write, and `keep = N` retains N full copies. Here a generation is
  * a MANIFEST — a small text file listing, per partition value, the
  * immutable data files that make up the table — so:
  *
  *  - a partition-scoped promotion WRITES only the changed
  *    partitions' files; every untouched partition's entry is carried
  *    from the prior manifest byte-for-byte, and its files are never
  *    rewritten, moved, or re-read (the reference's own fact load is
  *    append-by-partition — bigquery.py:141's WRITE_APPEND — and
  *    never rewrites history);
  *  - `keep = N` retains N manifests plus the DELTA files between
  *    them, not N table copies: retention prunes exactly the files no
  *    surviving manifest references;
  *  - OPTIMIZE can rewrite only the small-file partitions
  *    ([[compactSmallPartitions]]), leaving well-laid-out partitions'
  *    files untouched.
  *
  * Layout under `root` (all underscore-prefixed — a naive parquet
  * read of the root sees nothing; readers resolve the pointer):
  *
  *  - `_writes/<gen>/graft_p=<value>/part-*.parquet` — each publish's
  *    own immutable write directory holding ONLY the partitions that
  *    publish rewrote. `graft_p` is a string COPY of the partition
  *    column made at write time, so the real column stays in the data
  *    files and a manifest read never depends on directory-name
  *    inference.
  *  - `_manifests/<gen>` — the generation: a header (partition
  *    column, schema DDL) plus one `(value, relative file path)` line
  *    per data file, possibly spanning MANY write directories.
  *  - `_current` — the serving pointer, committed through the
  *    [[Generations]] CAS: racing promotions fail loudly
  *    (single-logical-promoter), readers never see a gap.
  *
  * Crash honesty (the snapshot table's contract, file-granular): a
  * publish stages its write directory, audits the staged bytes
  * (C11, blocking), writes the manifest, and only then repoints — a
  * crash anywhere before the repoint leaves residue nothing points
  * at (the retried publish allocates the same gen and overwrites it;
  * retention sweeps unreferenced files). A failed audit leaves the
  * staged files for inspection and throws the typed
  * [[graft.AuditFailed]] with the serving manifest untouched.
  *
  * Scale shape: the publish write is O(changed partitions); the
  * manifest is metadata (one line per file — bounded by file count,
  * which [[compactSmallPartitions]] bounds); the repoint is one
  * small-file swap; retention is listings + verified deletes of the
  * delta. Reads are EXPLICIT-path parquet scans of the manifest's
  * files — partition pruning ([[readPartitions]]) is structural
  * (driver filters the entry list), not optimizer-dependent, the
  * same discipline as the corpus gold's shard reads
  * (Pipeline.scala) and the vector index's probed `cell=` dirs.
  */
object ManifestStore {

  /** The staged partition-directory prefix. Deliberately NOT
    * underscore-prefixed: Spark's listing hides `_`/`.` directories,
    * and the staged AUDIT reads the write directory as a normal
    * partitioned table.
    */
  private[graft] val PartDirPrefix = "graft_p="

  /** One data file of one partition. `partition` is the RAW value
    * string (directory-name escaping already undone); `relPath` is
    * the file's path relative to the table root — immutable once a
    * manifest names it. `stats` carries the file's per-column
    * `(min, max)` for the table's declared stat columns (the S16
    * data-skipping index folded INTO the metadata layer): recorded
    * once at staged-write time, it rides every manifest the file is
    * carried into, so a range read prunes the ENTRY LIST driver-side
    * before opening anything. A column absent from the map means "no
    * stats" (all-null file, or recorded before the column was
    * declared) — never pruned on, always read; values are canonical
    * strings compared TYPED via the schema ([[statCompare]]).
    */
  final case class ManifestEntry(partition: String, relPath: String,
                                 stats: Map[String, (String, String)] =
                                   Map.empty)

  /** A generation: the partition column, the data schema (DDL — what
    * makes a zero-entry manifest servable), the file list, the
    * publish instant (0 on a pre-grace manifest — treated as
    * grace-expired, the pre-r14 prune behavior), and the table's
    * declared stat columns (inherited by every later publish unless
    * re-declared, the grace-inheritance pattern).
    */
  final case class Manifest(partCol: String, schemaDdl: String,
                            entries: Seq[ManifestEntry],
                            publishedMs: Long = 0L,
                            statsCols: Seq[String] = Nil,
                            nGroups: Int = 0,
                            renames: Seq[(String, String)] = Nil)

  // ---- the MANIFEST-LIST layer (S24) ------------------------------
  // A generation's metadata file is either FLAT (header + every entry
  // line — the small-table default) or a LIST: header + `list=v1` +
  // one `(group, relative group-manifest path)` line per non-empty
  // partition GROUP, where a group manifest holds only its
  // partitions' entry lines under `_manifests/<gen>.d/<group>`. The
  // point is the data layer's reuse trick applied to the METADATA
  // layer: a partition-scoped promotion writes only the touched
  // groups' manifests and carries every other group's REFERENCE
  // byte-identical (possibly pointing into an earlier generation's
  // `.d` directory), so at crawl scale a partition-scoped read parses
  // O(touched groups) of metadata instead of O(table files), and the
  // daily promotion's metadata write is O(touched groups) too.

  /** One list line: partition group → the group manifest's path
    * relative to the table root (possibly an earlier generation's —
    * reuse is the point).
    */
  private[graft] final case class GroupRef(group: Int, relPath: String)

  /** A parsed generation file, layout made explicit. `renames` is
    * the COLUMN NAME MAPPING (S40): the chronological `(old, new)`
    * chain of metadata-only column renames this generation serves
    * under — carried files written before a rename still hold the
    * old physical name, and the read path resolves each staging
    * token's files by the name its footers actually carry
    * ([[readEntries]]); empty on tables that never renamed (zero
    * cost), cleared by a replaceAll rebuild (fresh files carry
    * current names only).
    */
  private[graft] sealed trait GenFile {
    def partCol: String
    def schemaDdl: String
    def publishedMs: Long
    def statsCols: Seq[String]
    def renames: Seq[(String, String)]
  }
  private[graft] final case class FlatGen(manifest: Manifest)
      extends GenFile {
    def partCol: String = manifest.partCol
    def schemaDdl: String = manifest.schemaDdl
    def publishedMs: Long = manifest.publishedMs
    def statsCols: Seq[String] = manifest.statsCols
    def renames: Seq[(String, String)] = manifest.renames
  }
  private[graft] final case class ListGen(partCol: String,
                                          schemaDdl: String,
                                          publishedMs: Long,
                                          statsCols: Seq[String],
                                          nGroups: Int,
                                          refs: Seq[GroupRef],
                                          groupByPrefix: Boolean = false,
                                          renames: Seq[(String, String)] =
                                            Nil)
      extends GenFile

  /** The partition group of a raw partition-value string. Stability
    * contract: `String.hashCode` is specified by the JLS (31-polynomial),
    * so the assignment is identical across JVMs and releases —
    * required, since group membership is baked into persisted layout.
    */
  private[graft] def groupOf(value: String, nGroups: Int): Int =
    math.floorMod(value.hashCode, nGroups)

  /** The string a partition value is GROUPED on. Prefix-aware list
    * layouts (`groupkey=prefix` — every list generation this library
    * now writes) hash the LEADING tuple component, so all of a
    * leading value's partitions share a group and
    * [[readPartitionPrefix]] parses O(1) group manifests instead of
    * all of them; legacy list generations hash the full tuple and
    * keep their recorded assignment (each generation file is
    * self-describing). Single-column tables have no separator, so
    * both modes group identically there.
    */
  private[graft] def groupKeyOf(partition: String,
                                byPrefix: Boolean): String =
    if (!byPrefix) partition
    else partition.split(TupleSep, -1).head

  // Staging locks live beside the write directories
  // (`_writes/.lock-<token>`): two writers that both planned from
  // generation N stage into the SAME `_writes/<N+1>` — the shared
  // commit ([[Generations]]) holds the token's lock across stage +
  // pointer swap and re-validates the planned-from pointer inside it.
  private val layout = Generations.Layout("_writes", "manifest table",
    "IndexAudit.auditManifestTable",
    (fs, root, g) => fs.exists(manifestPath(root, g)), prune)

  private def manifestPath(root: String, gen: Long) =
    new Path(s"$root/_manifests/$gen")
  private def writesDir(root: String, gen: Long) =
    s"$root/_writes/$gen"

  /** The committed generation the pointer serves, if the table has
    * ever been published.
    */
  def currentGen(spark: SparkSession, root: String): Option[Long] =
    Generations.currentGen(Tables.fsFor(spark, root), root, layout)

  /** The serving generation and the pointer bytes it was read from —
    * the CAS expectation of a writer that plans from this read.
    */
  private def servingPointer(spark: SparkSession,
                             root: String): (Long, Array[Byte]) = {
    val raw = MetaSwap.read(Tables.fsFor(spark, root),
      Generations.pointer(root)).getOrElse(throw new IllegalStateException(
        s"no published manifest table at $root — bootstrap with " +
          "ManifestStore.publish first"))
    (Generations.genOf(raw, layout), raw)
  }

  // ---- manifest (de)serialization --------------------------------
  // One header line per field, then one tab-separated line per file.
  // The partition VALUE is URL-encoded so a value containing tabs or
  // newlines cannot corrupt the line format; relPaths are the
  // writer's own `gen/graft_p=…/part-….parquet` names (path-safe by
  // construction).

  private def enc(v: String): String =
    java.net.URLEncoder.encode(v, "UTF-8")

  private def dec(v: String): String =
    java.net.URLDecoder.decode(v, "UTF-8")

  private def serializeEntry(sb: StringBuilder,
                             e: ManifestEntry): Unit = {
    sb.append(enc(e.partition)).append('\t').append(e.relPath)
    if (e.stats.nonEmpty)
      sb.append('\t').append(e.stats.toSeq.sortBy(_._1).map {
        case (c, (mn, mx)) => s"${enc(c)}=${enc(mn)}..${enc(mx)}"
      }.mkString(";"))
    sb.append('\n')
    ()
  }

  private def parseEntryLine(l: String): ManifestEntry =
    // 2 fields (pre-stats) or 3 (with the stats block) — the
    // partition value and every stats token are URL-encoded, and
    // relPaths are the writer's own path-safe names, so the tab
    // split is unambiguous
    l.split('\t') match {
      case Array(p, r) => ManifestEntry(dec(p), r)
      case Array(p, r, st) =>
        val stats = st.split(';').filter(_.nonEmpty).flatMap { tok =>
          val eq = tok.indexOf('=')
          val dots = tok.indexOf("..", eq + 1)
          if (eq < 0 || dots < 0) None
          else Some(dec(tok.take(eq)) ->
            (dec(tok.slice(eq + 1, dots)), dec(tok.drop(dots + 2))))
        }.toMap
        ManifestEntry(dec(p), r, stats)
      case other => throw new IllegalStateException(
        s"malformed manifest entry line: ${other.mkString("\\t")}")
    }

  private def headerBlock(partCol: String, schemaDdl: String,
                          publishedMs: Long,
                          statsCols: Seq[String],
                          renames: Seq[(String, String)])
      : StringBuilder = {
    val sb = new StringBuilder
    sb.append("partcol=").append(partCol).append('\n')
    sb.append("schema=").append(schemaDdl).append('\n')
    sb.append("published=").append(publishedMs).append('\n')
    if (statsCols.nonEmpty)
      sb.append("statscols=").append(statsCols.map(enc).mkString(","))
        .append('\n')
    if (renames.nonEmpty)
      sb.append("renames=").append(renames
        .map { case (o, n) => s"${enc(o)}>${enc(n)}" }.mkString(";"))
        .append('\n')
    sb
  }

  private[graft] def serializeManifest(m: Manifest): Array[Byte] = {
    val sb = headerBlock(m.partCol, m.schemaDdl, m.publishedMs,
      m.statsCols, m.renames)
    m.entries.foreach(serializeEntry(sb, _))
    sb.toString.getBytes("UTF-8")
  }

  private[graft] def serializeList(g: ListGen): Array[Byte] = {
    val sb = headerBlock(g.partCol, g.schemaDdl, g.publishedMs,
      g.statsCols, g.renames)
    sb.append("list=v1\n")
    sb.append("groups=").append(g.nGroups).append('\n')
    if (g.groupByPrefix) sb.append("groupkey=prefix\n")
    g.refs.sortBy(_.group).foreach { r =>
      sb.append(r.group).append('\t').append(r.relPath).append('\n')
    }
    sb.toString.getBytes("UTF-8")
  }

  private[graft] def serializeGroup(entries: Seq[ManifestEntry])
      : Array[Byte] = {
    val sb = new StringBuilder
    sb.append("group=v1\n") // never header-less: an empty group file
    entries.foreach(serializeEntry(sb, _)) // must still parse as one
    sb.toString.getBytes("UTF-8")
  }

  private[graft] def parseGroup(bytes: Array[Byte]): Seq[ManifestEntry] =
    new String(bytes, "UTF-8").linesIterator
      .filter(_.contains('\t')).map(parseEntryLine).toSeq

  /** Parse a generation FILE without resolving group references —
    * what publish/prune/audit need to reason about layout and reuse.
    */
  private[graft] def parseGenFile(bytes: Array[Byte]): GenFile = {
    val lines = new String(bytes, "UTF-8").linesIterator.toSeq
    def header(key: String): String = lines
      .collectFirst { case s if s.startsWith(s"$key=") =>
        s.stripPrefix(s"$key=") }
      .getOrElse(throw new IllegalStateException(
        s"malformed manifest: no $key= header"))
    // `published=` is optional: a pre-grace manifest parses with 0
    // (grace-expired), so old tables keep their exact prune behavior
    val published = lines.collectFirst {
      case s if s.startsWith("published=") =>
        s.stripPrefix("published=").trim
    }.flatMap(_.toLongOption).getOrElse(0L)
    val statsCols = lines.collectFirst {
      case s if s.startsWith("statscols=") =>
        s.stripPrefix("statscols=").split(',').toSeq
          .filter(_.nonEmpty).map(dec)
    }.getOrElse(Nil)
    val renames = lines.collectFirst {
      case s if s.startsWith("renames=") =>
        s.stripPrefix("renames=").split(';').toSeq
          .filter(_.nonEmpty).map { pair =>
            val i = pair.indexOf('>')
            require(i > 0, s"malformed renames header token: $pair")
            (dec(pair.take(i)), dec(pair.drop(i + 1)))
          }
    }.getOrElse(Nil)
    if (lines.contains("list=v1")) {
      val n = header("groups").toInt
      require(n >= 1, s"malformed manifest list: groups=$n")
      val refs = lines.filter(_.contains('\t')).map { l =>
        val i = l.indexOf('\t')
        GroupRef(l.take(i).toInt, l.drop(i + 1))
      }
      ListGen(header("partcol"), header("schema"), published,
        statsCols, n, refs,
        groupByPrefix = lines.contains("groupkey=prefix"),
        renames = renames)
    } else {
      val entries = lines.filter(_.contains('\t')).map(parseEntryLine)
      FlatGen(Manifest(header("partcol"), header("schema"), entries,
        published, statsCols, renames = renames))
    }
  }

  /** Assemble the FULL manifest of a parsed generation file —
    * resolving group references for the list layout. A missing group
    * file throws typed ([[graft.SnapshotUnavailable]]): the
    * generation cannot be served in full; the fsck reports the same
    * state without throwing.
    */
  private[graft] def assemble(fs: org.apache.hadoop.fs.FileSystem,
                              root: String, gf: GenFile): Manifest =
    gf match {
      case FlatGen(m) => m
      case lg: ListGen =>
        val entries = lg.refs.sortBy(_.group).flatMap { r =>
          val p = new Path(s"$root/${r.relPath}")
          if (!fs.exists(p)) throw new graft.SnapshotUnavailable(
            s"manifest group ${r.group} of $root is missing its " +
              s"group file ${r.relPath} — the generation cannot be " +
              "served in full; run IndexAudit.auditManifestTable")
          parseGroup(MetaSwap.readCommitted(fs, p))
        }
        Manifest(lg.partCol, lg.schemaDdl, entries, lg.publishedMs,
          lg.statsCols, lg.nGroups, lg.renames)
    }

  /** [[assemble]] for the fsck: reports missing group files instead
    * of throwing, returning the entries of the groups that ARE
    * readable plus the refs that are not — damage is classified,
    * never crashed on.
    */
  private[graft] def assembleLenient(fs: org.apache.hadoop.fs.FileSystem,
                                     root: String, gf: GenFile)
      : (Seq[ManifestEntry], Seq[GroupRef]) = gf match {
    case FlatGen(m) => (m.entries, Seq.empty)
    case lg: ListGen =>
      val (ok, missing) = lg.refs.sortBy(_.group).partition(r =>
        fs.exists(new Path(s"$root/${r.relPath}")))
      (ok.flatMap(r => parseGroup(MetaSwap.readCommitted(fs,
        new Path(s"$root/${r.relPath}")))), missing)
  }

  /** Back-compatible helper (flat layout only — kept because specs
    * and the fsck use it for byte-level assertions).
    */
  private[graft] def parseManifest(bytes: Array[Byte]): Manifest =
    parseGenFile(bytes) match {
      case FlatGen(m) => m
      case _: ListGen => throw new IllegalStateException(
        "parseManifest on a LIST generation file — use parseGenFile " +
          "+ assemble")
    }

  /** Generation `gen`'s manifest. Refuses with the typed
    * [[graft.SnapshotUnavailable]] when `gen` never committed (a
    * crashed publish's manifest residue is NOT readable) or aged past
    * the retention window — the snapshot table's `readAt` contract.
    */
  def manifestAt(spark: SparkSession, root: String,
                 gen: Long): Manifest = {
    val fs = Tables.fsFor(spark, root)
    assemble(fs, root, genFileAt(spark, root, gen))
  }

  /** The parsed (unresolved) generation file, with [[manifestAt]]'s
    * refusal semantics — the layout-aware entry point the scoped
    * reads and the publish path share.
    */
  private[graft] def genFileAt(spark: SparkSession, root: String,
                               gen: Long): GenFile = {
    val cur = currentGen(spark, root).getOrElse(
      throw new graft.SnapshotUnavailable(
        s"no published manifest table at $root"))
    if (gen > cur) throw new graft.SnapshotUnavailable(
      s"generation $gen of $root never committed (current is $cur) — " +
        "a crashed publish's manifest residue is not a snapshot")
    val fs = Tables.fsFor(spark, root)
    val p = manifestPath(root, gen)
    if (!fs.exists(p)) throw new graft.SnapshotUnavailable(
      s"generation $gen of $root aged past the retention window " +
        "(keep) — snapshots are a bounded window by design")
    parseGenFile(MetaSwap.readCommitted(fs, p))
  }

  /** The group-manifest paths a read of `values`' partitions must
    * parse — O(touched groups), exposed so the metadata-pruning
    * contract is spec-assertable on the literal path list. Empty for
    * a flat generation (everything is in the generation file itself).
    */
  private[graft] def scopedGroupPaths(gf: GenFile,
                                      values: Seq[String])
      : Seq[GroupRef] = gf match {
    case _: FlatGen => Seq.empty
    case lg: ListGen =>
      val wanted = values.map(v =>
        groupOf(groupKeyOf(nullSafe(v), lg.groupByPrefix), lg.nGroups))
        .toSet
      lg.refs.filter(r => wanted(r.group))
  }

  /** The entries that can hold `values`' partitions, parsing ONLY the
    * covering group manifests on a list-layout generation — the
    * metadata twin of [[readPartitions]]' structural file pruning.
    */
  private[graft] def scopedEntries(spark: SparkSession, root: String,
                                   gf: GenFile, values: Seq[String])
      : Seq[ManifestEntry] = gf match {
    case FlatGen(m) =>
      val want = values.map(nullSafe).toSet
      m.entries.filter(e => want(e.partition))
    case lg: ListGen =>
      val fs = Tables.fsFor(spark, root)
      val want = values.map(nullSafe).toSet
      scopedGroupPaths(gf, values).flatMap { r =>
        val p = new Path(s"$root/${r.relPath}")
        if (!fs.exists(p)) throw new graft.SnapshotUnavailable(
          s"manifest group ${r.group} of $root is missing its group " +
            s"file ${r.relPath} — run IndexAudit.auditManifestTable")
        parseGroup(MetaSwap.readCommitted(fs, p))
          .filter(e => want(e.partition))
      }
  }

  /** Schema posture across generations (the S14 discipline on the
    * file-reuse layout): a partial publish may carry a WIDER or
    * REORDERED schema than the files it reuses — the manifest records
    * the publishing df's DDL and the read pins it, so parquet's
    * by-name resolution null-fills added columns in older files and
    * ignores dropped ones. A TYPE change of an existing column needs
    * a `replaceAll` rebuild, exactly like any parquet table.
    */
  private[sources] def readEntries(spark: SparkSession, root: String,
                                   schemaDdl: String,
                                   entries: Seq[ManifestEntry],
                                   renames: Seq[(String, String)] =
                                     Nil): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL(schemaDdl)
    val (dels, datas) = entries.partition(isDeleteEntry)
    if (datas.isEmpty)
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    else {
      // explicit FILE paths: each file's parent is its own base path,
      // so no directory-name partition inference runs (the partition
      // column is IN the data); the declared schema pins column order
      // across write directories from different publishes. With a
      // RENAME MAPPING (S40) the scan splits into one branch per
      // physical-name VARIANT (almost always two: pre- and
      // post-rename files), each read under the names its footers
      // carry and aliased to the current names — renames.isEmpty
      // keeps the single-scan fast path bit-for-bit.
      val withDv = dels.nonEmpty
      val unioned = dataScan(spark, root, schema, datas, renames,
        withDv)
      if (!withDv) unioned
      else {
        // MERGE-ON-READ (S37): anti-join the recorded deletion
        // vectors out on (file key, row position). The DV side is
        // delete-file-sized (tiny until compaction folds it), so
        // Catalyst broadcasts it and the data-side scan plan is
        // unchanged — filters/pruning still reach parquet; only the
        // final projection pays the join
        val dv = spark.read.parquet(
          dels.map(e => s"$root/${e.relPath}"): _*)
          .select(col(DvFileCol), col(DvPosCol))
        unioned.join(dv, Seq(DvFileCol, DvPosCol), "left_anti")
          .select(schema.fieldNames.toSeq.map(col): _*)
      }
    }
  }

  /** The union-of-variants DATA scan shared by [[readEntries]] and
    * the DV planning pass ([[deleteWhereMorImpl]]): each
    * physical-name variant reads under the names its footers carry
    * and aliases to the CURRENT names; `dvCols = true` additionally
    * carries the (file key, row position) pair the deletion-vector
    * machinery joins on. One scan, bit-for-bit the old plan, when
    * the table never renamed.
    */
  private def dataScan(spark: SparkSession, root: String,
                       schema: org.apache.spark.sql.types.StructType,
                       datas: Seq[ManifestEntry],
                       renames: Seq[(String, String)],
                       dvCols: Boolean): DataFrame = {
    val variants: Seq[(org.apache.spark.sql.types.StructType,
        Seq[ManifestEntry])] =
      if (renames.isEmpty) Seq((schema, datas))
      else renameVariants(spark, root, schema, datas, renames)
    variants.map { case (readSchema, es) =>
      val base = spark.read.schema(readSchema)
        .parquet(es.map(e => s"$root/${e.relPath}"): _*)
      val keyed =
        if (!dvCols) base
        else base.withColumn(DvFileCol, dvFileKeyExpr)
          .withColumn(DvPosCol, col("_metadata.row_index"))
      // physical -> current names, positionally (same field count
      // and order — only names differ between variants)
      val aliased = schema.fields.toSeq.zip(readSchema.fields.toSeq)
        .map { case (cur, rd) => col(rd.name).as(cur.name) }
      val extras =
        if (!dvCols) Seq.empty
        else Seq(col(DvFileCol), col(DvPosCol))
      keyed.select(aliased ++ extras: _*)
    }.reduce(_.unionByName(_))
  }

  /** Group `datas` into physical-name VARIANTS under the rename
    * mapping: per STAGING TOKEN (the write directory — one per
    * publish), ONE file's parquet footer is probed on the driver for
    * which name each renamed column actually carries (current name
    * preferred; else the newest historical name present; else the
    * column predates the era entirely and null-backfills through
    * by-name absence). Cost: O(distinct tokens) footer metadata
    * reads, only on tables that ever renamed.
    */
  private def renameVariants(spark: SparkSession, root: String,
                             schema: org.apache.spark.sql.types.StructType,
                             datas: Seq[ManifestEntry],
                             renames: Seq[(String, String)])
      : Seq[(org.apache.spark.sql.types.StructType,
          Seq[ManifestEntry])] = {
    // historical names of each current column, NEWEST first — walk
    // the chronological chain backwards from the current name
    // (a→b→c gives c the history [b, a])
    def historyOf(current: String): Seq[String] = {
      var names = List(current) // oldest-first accumulator
      renames.reverse.foreach { case (o, n) =>
        if (n == names.head) names = o :: names
      }
      names.init.reverse // all but the current name, newest first
    }
    val histories: Map[String, Seq[String]] = schema.fieldNames
      .map(c => c -> historyOf(c)).toMap
      .filter(_._2.nonEmpty)
    val conf = spark.sessionState.newHadoopConf()
    def tokenOf(e: ManifestEntry): String =
      e.relPath.split('/')(1)
    val byToken = datas.groupBy(tokenOf)
    val variantOf: Map[String, Map[String, String]] =
      byToken.map { case (tok, es) =>
        val probe = new Path(s"$root/${es.head.relPath}")
        val footer = org.apache.parquet.hadoop.ParquetFileReader
          .readFooter(conf, probe,
            org.apache.parquet.format.converter
              .ParquetMetadataConverter.NO_FILTER)
          .getFileMetaData.getSchema
        val present = footer.getFields.toArray.map(
          _.asInstanceOf[org.apache.parquet.schema.Type].getName)
          .toSet
        val mapping = schema.fieldNames.map { c =>
          val physical =
            if (present(c)) c
            else histories.getOrElse(c, Nil).find(present)
              .getOrElse(c) // absent era: by-name null-backfill
          c -> physical
        }.toMap
        tok -> mapping
      }
    byToken.groupBy { case (tok, _) => variantOf(tok) }.toSeq
      .map { case (mapping, toks) =>
        val readSchema = org.apache.spark.sql.types.StructType(
          schema.fields.map(f => f.copy(name = mapping(f.name))))
        (readSchema, toks.values.flatten.toSeq)
      }
  }

  /** The serving view: resolve the pointer once, read that immutable
    * manifest's files. Concurrent publishes never disturb this read.
    */
  def readCurrent(spark: SparkSession, root: String): DataFrame = {
    val gen = currentGen(spark, root).getOrElse(
      throw new IllegalStateException(
        s"no published manifest table at $root — nothing has been " +
          "promoted yet (ManifestStore.publish)"))
    readAt(spark, root, gen)
  }

  /** Time travel: the table exactly as generation `gen` served it —
    * answerable because data files are immutable and retention keeps
    * every file some surviving manifest references.
    */
  def readAt(spark: SparkSession, root: String, gen: Long): DataFrame = {
    val m = manifestAt(spark, root, gen)
    readEntries(spark, root, m.schemaDdl, m.entries, m.renames)
  }

  /** TIME-based travel (the snapshot table's `genAsOfTimestamp` on
    * the manifest layout): the newest retained generation whose
    * manifest's `published=` instant is at-or-before `tsMs`.
    * Resolution parses the retained manifests' headers — bounded by
    * `keep`, metadata only. Typed refusal when T predates every
    * retained generation or only pre-instant (published=0) manifests
    * remain.
    */
  def genAsOfTimestamp(spark: SparkSession, root: String,
                       tsMs: Long): Long = {
    val cur = currentGen(spark, root).getOrElse(
      throw new graft.SnapshotUnavailable(
        s"no published manifest table at $root"))
    val fs = Tables.fsFor(spark, root)
    val base = new Path(s"$root/_manifests")
    val candidates =
      if (!fs.exists(base)) Seq.empty
      else fs.listStatus(base).toSeq
        .flatMap(_.getPath.getName.toLongOption)
        .filter(_ <= cur) // residue manifests never served
        .map(g => g -> parseGenFile(MetaSwap.readCommitted(fs,
          manifestPath(root, g))).publishedMs)
        .filter(_._2 > 0L) // pre-instant manifests cannot answer
    if (candidates.isEmpty) throw new graft.SnapshotUnavailable(
      s"no generation of $root carries a publish instant — the table " +
        "predates the published= header; time travel needs at least " +
        "one marked publish")
    candidates.filter(_._2 <= tsMs)
      .sortBy(_._1).lastOption.map(_._1)
      .getOrElse(throw new graft.SnapshotUnavailable(
        s"no retained generation of $root was published at or before " +
          s"$tsMs — the state at that instant aged past the " +
          "retention window (keep/grace)"))
  }

  /** [[readAt]] addressed by TIME instead of generation. */
  def readAsOfTimestamp(spark: SparkSession, root: String,
                        tsMs: Long): DataFrame =
    readAt(spark, root, genAsOfTimestamp(spark, root, tsMs))

  /** STRUCTURAL partition pruning: read only `values`' partitions of
    * generation `gen` (default: the serving generation) — the driver
    * filters the manifest's entry list and the scan opens exactly
    * those files; nothing else is listed or read. A null partition
    * value is addressed by the hive default-partition sentinel.
    */
  def readPartitions(spark: SparkSession, root: String,
                     values: Seq[String],
                     gen: Option[Long] = None): DataFrame = {
    val g = gen.orElse(currentGen(spark, root)).getOrElse(
      throw new IllegalStateException(
        s"no published manifest table at $root"))
    // layout-aware: on a LIST generation only the covering group
    // manifests are parsed (O(touched groups) metadata), mirroring
    // the file-level pruning below
    val gf = genFileAt(spark, root, g)
    readEntries(spark, root, gf.schemaDdl,
      scopedEntries(spark, root, gf, values), gf.renames)
  }

  /** Is `value` a served partition of generation `gen`? One group
    * parse on a list layout — the O(metadata) replay-guard probe the
    * streaming snapshot sink uses.
    */
  private[graft] def partitionServed(spark: SparkSession, root: String,
                                     gen: Long, value: String): Boolean =
    scopedEntries(spark, root, genFileAt(spark, root, gen),
      Seq(value)).nonEmpty

  /** The partition-value key a row addresses on disk. Spark writes
    * BOTH null and empty-string partition values into the hive
    * default-partition directory
    * (ExternalCatalogUtils.getPartitionPathString), so both must map
    * to the sentinel here — mapping only null would make a merge of
    * an empty-string batch compute affected="" while its staged files
    * landed under the sentinel, silently replacing that partition's
    * existing rows instead of merging them.
    */
  private def nullSafe(v: String): String =
    if (v == null || v.isEmpty)
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .DEFAULT_PARTITION_NAME
    else v

  // ---- HIERARCHICAL (multi-column) partitioning -------------------
  // `partCol` accepts a comma-separated column list ("o_year,o_month")
  // — the standard 100 TB fact layout (date × region). The manifest
  // format is UNCHANGED: a partition value is ONE string, which for
  // the hierarchical form is the escaped tuple of the components
  // joined on the unit separator; every scoped read/merge/DML keyed
  // on full tuples works verbatim, and [[readPartitionPrefix]] adds
  // the prefix-scoped read (all months of 1996). Encoding, not
  // redesign: groupOf/stats/retention/refs all operate on the one
  // partition string.

  private[graft] val TupleSep = "\u001f"

  /** The partition column NAMES of a spec (size 1 = the classic
    * single-column table; >1 = hierarchical).
    */
  private[graft] def partColsOf(spec: String): Seq[String] =
    spec.split(',').toSeq.map(_.trim).filter(_.nonEmpty)

  /** One tuple component, escaped so a value containing the
    * separator (or '%') cannot forge tuple boundaries; null/empty map
    * to the hive sentinel PER COMPONENT (the [[nullSafe]] rule,
    * applied before joining because concat drops nulls).
    */
  private def escComp(v: String): String =
    if (v == null || v.isEmpty)
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .DEFAULT_PARTITION_NAME
    else v.replace("%", "%25").replace(TupleSep, "%1F")

  /** The partition-value KEY of a row with these component values —
    * what [[readPartitions]]/[[mergePartitions]] callers pass for a
    * hierarchical table. Single-column tables keep the raw
    * (null-safe) value, so existing callers are untouched.
    */
  def tupleKey(values: Seq[String]): String =
    if (values.size <= 1) nullSafe(values.headOption.orNull)
    else values.map(escComp).mkString(TupleSep)

  /** The row-side twin of [[tupleKey]]: the Column whose value is the
    * staged `graft_p` / affected-partition key under `spec`.
    */
  private def partKeyExpr(spec: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{concat_ws, lit, regexp_replace, when}
    val cols = partColsOf(spec)
    if (cols.size == 1) col(cols.head).cast("string")
    else concat_ws(TupleSep, cols.map { c =>
      val s = col(c).cast("string")
      when(s.isNull || s === lit(""),
        lit(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .DEFAULT_PARTITION_NAME))
        .otherwise(regexp_replace(
          regexp_replace(s, "%", "%25"), TupleSep, "%1F"))
    }: _*)
  }

  /** [[partKeyExpr]] with the single-column null/empty → sentinel
    * mapping applied IN the expression — what must equal the
    * manifest-recorded partition value exactly (the OPTIMIZE join
    * key; the staged write keeps the raw cast for single columns and
    * lets Spark's own dir escaping produce the sentinel).
    */
  private def partValueExpr(spec: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, when}
    val cols = partColsOf(spec)
    if (cols.size == 1) {
      val s = col(cols.head).cast("string")
      when(s.isNull || s === lit(""),
        lit(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .DEFAULT_PARTITION_NAME)).otherwise(s)
    } else partKeyExpr(spec)
  }

  /** STRUCTURAL PREFIX pruning on a hierarchical table: read only the
    * partitions whose first `prefix.size` components equal `prefix`
    * ("all of 1996" on a (year, month) table). The decision is a
    * driver pass over the entry list — files outside the prefix are
    * never listed or opened. On a PREFIX-GROUPED list layout
    * (`groupkey=prefix` — the default for every list generation this
    * library writes) the leading component selects its ONE group, so
    * only O(prefix) group manifests parse; a legacy full-tuple-hashed
    * list generation parses all groups (metadata-sized) while the
    * file scan stays prefix-bounded either way.
    */
  def readPartitionPrefix(spark: SparkSession, root: String,
                          prefix: Seq[String],
                          gen: Option[Long] = None): DataFrame = {
    val g = gen.orElse(currentGen(spark, root)).getOrElse(
      throw new IllegalStateException(
        s"no published manifest table at $root"))
    val gf = genFileAt(spark, root, g)
    val nCols = partColsOf(gf.partCol).size
    require(prefix.nonEmpty && prefix.size <= nCols,
      s"prefix must name 1..$nCols leading components of " +
        s"(${gf.partCol}), got ${prefix.size}")
    val fs = Tables.fsFor(spark, root)
    val want = prefix.map(escComp)
    val candidates = gf match {
      case lg: ListGen =>
        prefixGroupRefs(lg, prefix).flatMap { r =>
          val p = new Path(s"$root/${r.relPath}")
          if (!fs.exists(p)) throw new graft.SnapshotUnavailable(
            s"manifest group ${r.group} of $root is missing its " +
              s"group file ${r.relPath} — run " +
              "IndexAudit.auditManifestTable")
          parseGroup(MetaSwap.readCommitted(fs, p))
        }
      case _ => assemble(fs, root, gf).entries
    }
    val entries = candidates.filter { e =>
      if (nCols == 1) e.partition == nullSafe(prefix.head)
      else e.partition.split(TupleSep, -1).take(want.size)
        .toSeq == want
    }
    readEntries(spark, root, gf.schemaDdl, entries, gf.renames)
  }

  /** The group references a prefix read must parse: ONE group on a
    * prefix-grouped layout (the leading component's hash), all of
    * them on a legacy full-tuple layout. Factored out so the
    * group-parse count is spec-assertable on the literal ref list.
    */
  private[graft] def prefixGroupRefs(lg: ListGen,
                                     prefix: Seq[String])
      : Seq[GroupRef] =
    if (!lg.groupByPrefix) lg.refs
    else {
      val nCols = partColsOf(lg.partCol).size
      // the reader must hash EXACTLY what the writer grouped on:
      // writers run groupKeyOf over the STORED value, which splits on
      // TupleSep even for single-column tables (whose values are
      // stored unescaped, so a value containing the separator byte
      // groups under its pre-separator head) — probing the full raw
      // string here would parse the wrong group and serve no rows
      val headKey =
        if (nCols == 1)
          groupKeyOf(nullSafe(prefix.head), byPrefix = true)
        else escComp(prefix.head)
      val grp = groupOf(headKey, lg.nGroups)
      lg.refs.filter(_.group == grp)
    }

  /** TYPED comparison of two canonical stat strings under the
    * column's schema type: numerics and decimals parse (lexicographic
    * "9" > "10" would mis-prune), booleans parse, dates/timestamps/
    * strings compare as recorded (ISO date and `java.sql.Timestamp`
    * renderings are order-preserving lexicographically).
    */
  private[graft] def statCompare(dt: org.apache.spark.sql.types.DataType)
      : (String, String) => Int = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | _: DecimalType =>
        (a, b) => BigDecimal(a).compare(BigDecimal(b))
      case BooleanType => (a, b) => a.toBoolean.compareTo(b.toBoolean)
      case _ => (a, b) => a.compareTo(b)
    }
  }

  /** The entries of generation `gen` (default serving) that can hold
    * a row with `column` in `[lo, hi]` — the driver-side skipping
    * decision, exposed so the opened-file contract is assertable on
    * the literal entry list. An entry with no stats for the column is
    * KEPT (cannot be proven empty of matches).
    */
  private[graft] def statsPrunedEntries(spark: SparkSession,
                                        root: String, column: String,
                                        lo: Any, hi: Any,
                                        gen: Option[Long] = None)
      : (Manifest, Seq[ManifestEntry]) = {
    val g = gen.orElse(currentGen(spark, root)).getOrElse(
      throw new IllegalStateException(
        s"no published manifest table at $root"))
    val m = manifestAt(spark, root, g)
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL(m.schemaDdl)
    require(schema.fieldNames.contains(column),
      s"column $column not in the manifest schema " +
        s"(${schema.fieldNames.mkString(",")})")
    val cmp = statCompare(schema(column).dataType)
    val kept = m.entries.filter { e =>
      e.stats.get(column) match {
        case Some((mn, mx)) =>
          !(cmp(mx, lo.toString) < 0 || cmp(mn, hi.toString) > 0)
        case None => true
      }
    }
    (m, kept)
  }

  /** SCAN-PRUNED range read (S16 composed into S20): open only the
    * files whose recorded `[min, max]` for `column` intersects
    * `[lo, hi]`, then apply the exact predicate as a residual filter
    * (stats are file-granular; the residual still pushes into the
    * pruned parquet scan). The pruning is a driver pass over the
    * ENTRY LIST — pure metadata, no listing, no footer opens — so a
    * narrow range read of a 100 TB fact costs the matching files
    * plus one manifest parse.
    */
  def readWhere(spark: SparkSession, root: String, column: String,
                lo: Any, hi: Any, gen: Option[Long] = None)
      : DataFrame = {
    import org.apache.spark.sql.functions.lit
    val (m, kept) = statsPrunedEntries(spark, root, column, lo, hi, gen)
    readEntries(spark, root, m.schemaDdl, kept, m.renames)
      .filter(col(column).between(lit(lo), lit(hi)))
  }

  /** Row-level DELETE (the reference's only delete is the
    * WRITE_TRUNCATE full replace, bigquery.py:141 — this is the
    * partition-scoped form a takedown/opt-out path needs): remove
    * every row where `predicate` is TRUE (SQL DELETE semantics — a
    * NULL predicate keeps the row) and publish the result as a new
    * generation. Only the partitions that actually contain matching
    * rows are rewritten; every other partition's files ride into the
    * new manifest byte-identical (the S17 merge contract), and a
    * partition deleted EMPTY leaves the manifest entirely instead of
    * resurrecting its old files. Time travel keeps serving the
    * pre-delete generations until retention/grace lapse them — for a
    * hard take-down, follow with publishes that age the window out
    * (or use `keep = 1` with no grace).
    *
    * Cost: one column-pruned predicate scan to find the affected
    * partitions (at most one pass over the table — with a partition-
    * or stats-aligned predicate, parquet pushdown makes it a
    * footer-bounded read), then a rewrite of ONLY those partitions'
    * surviving rows. The publish CAS-checks against the generation
    * the delete was computed from — a racing promotion fails loudly.
    * Returns the committed generation (the serving one when nothing
    * matched — no empty generation is published).
    */
  def deleteWhere(spark: SparkSession, root: String,
                  predicate: org.apache.spark.sql.Column,
                  expectations: Seq[graft.operators.Cleaning.Expectation] =
                    Nil,
                  keep: Int = 3, retainMs: Long = 0L): Long =
    deleteWhereImpl(spark, root, predicate, expectations, keep,
      retainMs, () => ())

  /** [[deleteWhere]] with a hook fired between the planning read and
    * the publish — the window a racing promotion can land in — so the
    * disjoint-rebase and overlapping-refusal contracts are TESTED.
    * A lost CAS against a DISJOINT winner replans from the winner's
    * manifest and retries once ([[withDisjointRebase]]); the retry
    * re-evaluates the predicate against the winner's rows, which is
    * exactly the serial delete-after-winner semantics.
    */
  private[graft] def deleteWhereImpl(spark: SparkSession, root: String,
                                     predicate: org.apache.spark.sql.Column,
                                     expectations: Seq[graft.operators.Cleaning.Expectation],
                                     keep: Int, retainMs: Long,
                                     beforePublish: () => Unit): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val fs = Tables.fsFor(spark, root)
    def attempt(): Long = {
      val (gen, raw) = servingPointer(spark, root)
      val m = manifestAt(spark, root, gen)
      val affected = readAt(spark, root, gen).filter(predicate)
        .select(partKeyExpr(m.partCol)).distinct()
        .collect().map(r => nullSafe(r.getString(0))).toSet
      if (affected.isEmpty) return gen
      val remaining = readPartitions(spark, root, affected.toSeq,
          Some(gen))
        .filter(not(coalesce(predicate, lit(false))))
      beforePublish()
      try publishImpl(spark, remaining, root, m.partCol, expectations,
        keep, replaceAll = false, coalescePartitions = true, () => (),
        retainMs, Some(raw), replacedPartitions = affected)
      catch {
        case e: MetaSwap.CasFailed =>
          throw new RebaseSignal(gen, affected, e)
      }
    }
    withDisjointRebase(spark, root)(() => attempt())
  }

  // ---- MERGE-ON-READ DELETE: deletion vectors (S37) ----------------
  // Copy-on-write DELETE ([[deleteWhere]]) rewrites every affected
  // partition — the right cost when deletes are partition-dense, the
  // wrong one for a 10-row takedown across 10 hot partitions of a
  // 100 TB fact. A DV delete instead lands O(matched rows) of
  // POSITION DELETE FILES (the Iceberg v2 / Delta deletion-vector
  // discipline) as ordinary manifest entries under the generation's
  // `_writes/<gen>/_deletes/` directory: not one data file is
  // rewritten, moved, or re-read by the commit; reads anti-join the
  // recorded positions out ([[readEntries]]); every partition-scoped
  // REWRITE (COW delete/update/merge/OPTIMIZE) folds its partitions'
  // vectors into plain data files because it reads DV-applied rows
  // and replaces the partition's whole entry set. Retention, fsck,
  // time travel, and the change feed see delete files as entries and
  // DV generations as ordinary generations — no special cases.

  private[graft] val DeleteDirName = "_deletes"

  /** A position-delete manifest entry, recognized structurally: its
    * file lives under the generation's `_deletes/` subdirectory. The
    * entry format itself is unchanged (partition + relPath), so every
    * manifest/list/group serializer, the retention sweep, and the
    * fsck existence checks handle DVs with zero format changes.
    */
  private[graft] def isDeleteEntry(e: ManifestEntry): Boolean =
    e.relPath.contains(s"/$DeleteDirName/")

  private[graft] val DvFileCol = "__graft_dv_file"
  private[graft] val DvPosCol = "__graft_dv_pos"

  /** The file-identity key a deletion vector records: the last three
    * path segments of the scan's `_metadata.file_path` —
    * `<token>/graft_p=<escaped>/<file>`, unique within a table
    * because staged tokens are unique and file names are unique
    * within their directory. Writer and reader derive it from the
    * SAME metadata column of the same scan machinery, so the key is
    * self-consistent by construction and independent of filesystem
    * scheme/authority renderings (the [[GraftStatsFileIndex]] keyOf
    * posture, one segment deeper).
    */
  private def dvFileKeyExpr: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{concat_ws, slice, split}
    concat_ws("/",
      slice(split(col("_metadata.file_path"), "/"), -3, 3))
  }

  /** MERGE-ON-READ row-level DELETE: mark every row where `predicate`
    * is TRUE deleted by recording its (file, position) in a position
    * delete file, committed as a new generation that carries EVERY
    * prior entry verbatim — data files byte-identical, the commit
    * writes only the delete files and the manifest. Cost: one
    * column-pruned predicate scan (the COW planning pass) plus
    * O(matched rows) of delete bytes — no partition rewrite.
    *
    * Reads of the new generation anti-join the vectors out; rows
    * already deleted by an earlier vector cannot re-record (the scan
    * that plans this delete is itself DV-applied). An emptied
    * partition keeps its (fully-masked) files until a COW rewrite or
    * [[compactSmallPartitions]] folds it. Returns the committed
    * generation (the serving one when nothing matches). Disjoint
    * races rebase once, the [[deleteWhereImpl]] contract.
    */
  def deleteWhereMor(spark: SparkSession, root: String,
                     predicate: org.apache.spark.sql.Column,
                     keep: Int = 3, retainMs: Long = 0L): Long =
    deleteWhereMorImpl(spark, root, predicate, keep, retainMs,
      () => ())

  /** [[deleteWhereMor]] with the race-window hook (the
    * [[deleteWhereImpl]] pattern).
    */
  private[graft] def deleteWhereMorImpl(spark: SparkSession,
                                        root: String,
                                        predicate: org.apache.spark.sql.Column,
                                        keep: Int, retainMs: Long,
                                        beforePublish: () => Unit): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val fs = Tables.fsFor(spark, root)
    def attempt(): Long = {
      val (gen, raw) = servingPointer(spark, root)
      val gf = genFileAt(spark, root, gen)
      val m = assemble(fs, root, gf)
      val (dels, datas) = m.entries.partition(isDeleteEntry)
      if (datas.isEmpty) return gen
      val schema = org.apache.spark.sql.types.StructType
        .fromDDL(m.schemaDdl)
      // the planning scan carries (file key, position) alongside the
      // data columns (rename-aware — old files resolve under their
      // physical names) and is itself DV-APPLIED, so an
      // already-deleted row can never re-record its position
      val keyed = dataScan(spark, root, schema, datas, m.renames,
        dvCols = true)
      val live =
        if (dels.isEmpty) keyed
        else keyed.join(
          spark.read.parquet(dels.map(e => s"$root/${e.relPath}"): _*)
            .select(col(DvFileCol), col(DvPosCol)),
          Seq(DvFileCol, DvPosCol), "left_anti")
      // SQL DELETE semantics: a NULL predicate keeps the row
      val matched = live.filter(coalesce(predicate, lit(false)))
      if (matched.head(1).isEmpty) return gen
      var affected = Set.empty[String]
      def rebase(lost: MetaSwap.CasFailed) =
        new RebaseSignal(gen, affected, lost)
      Generations.commitGeneration(fs, root, layout, Some(raw), keep,
        retainMs, beforePublish, rebase) { staging =>
        val newGen = staging.gen
        // stage the vectors: one partitioned write of O(matched)
        // rows under the generation's _deletes dir
        val dvDir = s"${writesDir(root, newGen)}/$DeleteDirName"
        matched
          .select(partKeyExpr(m.partCol).as("graft_p"),
            col(DvFileCol), col(DvPosCol))
          .repartition(col("graft_p"))
          .write.mode("overwrite").partitionBy("graft_p")
          .parquet(dvDir)
        val dvEntries = fs.listStatus(new Path(dvDir)).toSeq
          .filter(st => st.isDirectory &&
            st.getPath.getName.startsWith(PartDirPrefix))
          .sortBy(_.getPath.getName)
          .flatMap { dir =>
            val value = org.apache.spark.sql.catalyst.catalog
              .ExternalCatalogUtils.unescapePathName(
                dir.getPath.getName.stripPrefix(PartDirPrefix))
            fs.listStatus(dir.getPath).toSeq
              .filter(f => f.isFile &&
                f.getPath.getName.endsWith(".parquet") &&
                !f.getPath.getName.startsWith("_") &&
                !f.getPath.getName.startsWith("."))
              .sortBy(_.getPath.getName)
              .map(f => ManifestEntry(value,
                s"_writes/$newGen/$DeleteDirName/" +
                  s"${dir.getPath.getName}/${f.getPath.getName}"))
          }
        if (dvEntries.isEmpty)
          // the predicate matched between plan and stage only via
          // race — nothing staged: serve the current generation (the
          // return leaves the commit uncommitted; its finally releases
          // the lock)
          return gen
        val publishedMs = System.currentTimeMillis()
        // the new generation carries EVERY prior entry verbatim and
        // appends the vectors — flat or list, the layout is kept
        gf match {
          case FlatGen(mm) =>
            MetaSwap.swap(fs, manifestPath(root, newGen),
              serializeManifest(mm.copy(
                entries = mm.entries ++ dvEntries,
                publishedMs = publishedMs)))
          case lg: ListGen =>
            def grpOf(p: String): Int =
              groupOf(groupKeyOf(p, lg.groupByPrefix), lg.nGroups)
            val byGroup = dvEntries.groupBy(e => grpOf(e.partition))
            val newRefs = byGroup.toSeq.sortBy(_._1).map {
              case (g, es) =>
                val carried = lg.refs.find(_.group == g).map { r =>
                  val p = new Path(s"$root/${r.relPath}")
                  if (!fs.exists(p))
                    throw new graft.SnapshotUnavailable(
                      s"manifest group $g of $root is missing its " +
                        s"group file ${r.relPath} — run " +
                        "IndexAudit.auditManifestTable")
                  parseGroup(MetaSwap.readCommitted(fs, p))
                }.getOrElse(Seq.empty)
                val rel = s"_manifests/$newGen.d/$g"
                MetaSwap.swap(fs, new Path(s"$root/$rel"),
                  serializeGroup(carried ++ es))
                GroupRef(g, rel)
            }
            val refs = lg.refs.filterNot(r =>
              byGroup.contains(r.group)) ++ newRefs
            MetaSwap.swap(fs, manifestPath(root, newGen),
              serializeList(lg.copy(publishedMs = publishedMs,
                refs = refs.sortBy(_.group))))
        }
        affected = dvEntries.map(_.partition).toSet
      }
    }
    withDisjointRebase(spark, root)(() => attempt())
  }

  /** Row-level UPDATE (S21b — the third leg of the DML triad beside
    * the S17 partition-scoped MERGE and the S21 DELETE): for every
    * row where `predicate` is TRUE (SQL UPDATE semantics — a NULL
    * predicate leaves the row unchanged), replace the columns named
    * in `set` with their assignment expressions and publish the
    * result as a new generation. Assignments follow the SQL rule:
    * every right-hand side is evaluated against the ROW'S OLD VALUES
    * (so `SET a = b, b = a` swaps), and each is cast to its target
    * column's existing type so the table schema is invariant under
    * updates (a widened column is a schema-evolution publish, not an
    * UPDATE side effect — carried entries keep their footers, so a
    * type drift here would split the table's schema mid-manifest).
    *
    * The partition column cannot be assigned: an update that moved a
    * row across partitions would have to rewrite the TARGET
    * partition too — and a target outside the affected set would
    * have its carried entries silently replaced by the staged write
    * (the same instability the S17 merge contract forbids). Model a
    * partition move as DELETE + append, which names both sides
    * explicitly.
    *
    * Cost shape is [[deleteWhere]]'s: one column-pruned predicate
    * scan finds the affected partitions, then ONLY those partitions'
    * rows rewrite (matched rows updated, unmatched carried within
    * the rewritten files); every other partition's files ride into
    * the new manifest byte-identical, per-file stats re-record for
    * the rewritten files, and the publish CAS-checks against the
    * generation the update was computed from. Returns the committed
    * generation (the serving one when nothing matched).
    */
  def updateWhere(spark: SparkSession, root: String,
                  predicate: org.apache.spark.sql.Column,
                  set: Seq[(String, org.apache.spark.sql.Column)],
                  expectations: Seq[graft.operators.Cleaning.Expectation] =
                    Nil,
                  keep: Int = 3, retainMs: Long = 0L): Long =
    updateWhereImpl(spark, root, predicate, set, expectations, keep,
      retainMs, () => ())

  /** [[updateWhere]] with the race-window hook — the
    * [[deleteWhereImpl]] pattern: disjoint races rebase once (the
    * retry re-evaluates predicate and RHSs against the winner's
    * rows — serial semantics), overlapping races stay loud.
    */
  private[graft] def updateWhereImpl(spark: SparkSession, root: String,
                                     predicate: org.apache.spark.sql.Column,
                                     set: Seq[(String, org.apache.spark.sql.Column)],
                                     expectations: Seq[graft.operators.Cleaning.Expectation],
                                     keep: Int, retainMs: Long,
                                     beforePublish: () => Unit): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, when}
    require(set.nonEmpty, "updateWhere needs at least one assignment")
    require(set.map(_._1).distinct.size == set.size,
      s"duplicate assignment targets: ${set.map(_._1).mkString(",")}")
    val fs = Tables.fsFor(spark, root)
    def attempt(): Long = {
    val (gen, raw) = servingPointer(spark, root)
    val m = manifestAt(spark, root, gen)
    require(!set.exists(kv => partColsOf(m.partCol).contains(kv._1)),
      s"cannot assign a partition column (${m.partCol}): a " +
        "cross-partition move must be an explicit DELETE + append")
    val cur = readAt(spark, root, gen)
    // the update path injects __graft_upd / __graft_new_<i> temp
    // columns below; a table already carrying a __graft_-prefixed
    // column would be silently overwritten and dropped — refuse, the
    // same reservation the publish path makes for graft_p
    require(!cur.columns.exists(_.startsWith("__graft_")),
      "column names starting with __graft_ are reserved for the " +
        s"update path: ${cur.columns.filter(_.startsWith("__graft_"))
          .mkString(",")}")
    val fields = cur.schema.fields.map(f => f.name -> f.dataType).toMap
    set.foreach { case (c, _) => require(fields.contains(c),
      s"assignment target $c not in ${cur.columns.mkString(",")}") }
    val affected = cur.filter(predicate)
      .select(partKeyExpr(m.partCol)).distinct()
      .collect().map(r => nullSafe(r.getString(0))).toSet
    if (affected.isEmpty) return gen
    val part = readPartitions(spark, root, affected.toSeq, Some(gen))
    // evaluate the predicate and every RHS against the OLD row once
    // (temp columns), then swap — later assignments must not see
    // earlier ones' results, and the flag must not drift as columns
    // change under it
    val flagged = part.withColumn("__graft_upd",
      coalesce(predicate, lit(false)))
    val withNew = set.zipWithIndex.foldLeft(flagged) {
      case (df, ((c, rhs), i)) =>
        df.withColumn(s"__graft_new_$i", rhs.cast(fields(c)))
    }
    val applied = set.zipWithIndex.foldLeft(withNew) {
      case (df, ((c, _), i)) =>
        df.withColumn(c, when(col("__graft_upd"),
          col(s"__graft_new_$i")).otherwise(col(c)))
    }
    val updated = applied.drop(
      "__graft_upd" +: set.indices.map(i => s"__graft_new_$i"): _*)
    beforePublish()
    try publishImpl(spark, updated, root, m.partCol, expectations,
      keep, replaceAll = false, coalescePartitions = true, () => (),
      retainMs, Some(raw), replacedPartitions = affected)
    catch {
      case e: MetaSwap.CasFailed =>
        throw new RebaseSignal(gen, affected, e)
    }
    }
    withDisjointRebase(spark, root)(() => attempt())
  }

  /** Publish `df` as the next generation. `replaceAll = false` (the
    * steady-state promotion) REPLACES only the partitions `df`
    * contains rows for and CARRIES every other partition's file
    * entries from the prior manifest — those files are not rewritten,
    * moved, or read; `replaceAll = true` (bootstrap / full rebuild)
    * makes the new manifest list exactly `df`'s partitions, so a
    * partition absent from a full rebuild stops being served (the
    * corpusGold stale-shard rule). Returns the committed generation.
    *
    * `partCol` accepts a comma-separated list for HIERARCHICAL
    * partitioning ("o_year,o_region" — the standard date × region
    * fact layout): a partition is then the escaped component tuple
    * ([[tupleKey]] builds scoped-read/merge keys;
    * [[readPartitionPrefix]] reads a leading-component slice).
    *
    * `coalescePartitions = true` (default) shuffles once on the
    * partition value so each partition lands as ONE file per publish
    * — the layout a manifest table wants (entries stay bounded).
    * Disable it for a promotion whose single partition is too large
    * for one task, pre-repartitioning upstream instead.
    *
    * `keep` is the retention window in generations (current counts
    * as one): older manifests are pruned, then every file no
    * surviving manifest references is deleted — so retention holds
    * deltas, never `keep` full copies. `retainMs` is the WALL-CLOCK
    * grace floor beside it (the r14 reader contract of
    * [[Generations]]): a superseded manifest also survives until at least
    * that many ms after its publish instant (recorded in the
    * manifest's own `published=` header), and while it survives,
    * every file it references survives with it. The floor is a table
    * PROPERTY: an explicit `retainMs > 0` sets it (raise or lower);
    * the default 0 INHERITS the prior pointer's `grace=` — so a
    * maintenance publish (merge, OPTIMIZE, streaming promotion) that
    * passes no retainMs preserves the configured grace instead of
    * silently pruning inside the promised reader window.
    */
  def publish(spark: SparkSession, df: DataFrame, root: String,
              partCol: String,
              expectations: Seq[graft.operators.Cleaning.Expectation] =
                Nil,
              keep: Int = 3, replaceAll: Boolean = false,
              coalescePartitions: Boolean = true,
              retainMs: Long = 0L,
              statsCols: Seq[String] = Nil,
              manifestGroups: Int = 0): Long =
    publishImpl(spark, df, root, partCol, expectations, keep,
      replaceAll, coalescePartitions, () => (), retainMs,
      statsCols = statsCols, manifestGroups = manifestGroups)

  /** [[publish]] with a crash-injection hook fired between the staged
    * write+audit+manifest and the pointer swap, so the no-serving-gap and
    * residue-refusal contracts are TESTED, not asserted.
    *
    * `expectPointer` is a CAS expectation captured when the CALLER
    * read the table it planned this publish from
    * ([[mergePartitions]]/[[compactSmallPartitions]] pass it): the
    * final swap then compare-and-sets against the generation the
    * caller computed from, so a promotion landing between the
    * caller's read and this publish fails loudly
    * ([[MetaSwap.CasFailed]]) instead of silently overwriting the
    * winner's partitions. The expectation is ALSO checked before any
    * staging: the staged write targets `_writes/<expectedGen+1>`,
    * which a racing winner may have committed, and overwriting it
    * would destroy committed files — the fail-fast check turns that
    * destructive window into the microseconds [[MetaSwap]] documents.
    */
  private[graft] def publishImpl(spark: SparkSession, df: DataFrame,
                                 root: String, partCol: String,
                                 expectations: Seq[graft.operators.Cleaning.Expectation],
                                 keep: Int, replaceAll: Boolean,
                                 coalescePartitions: Boolean,
                                 beforeRepoint: () => Unit,
                                 retainMs: Long = 0L,
                                 expectPointer: Option[Array[Byte]] =
                                   None,
                                 replacedPartitions: Set[String] =
                                   Set.empty,
                                 statsCols: Seq[String] = Nil,
                                 manifestGroups: Int = 0): Long = {
    val fs = Tables.fsFor(spark, root)
    val planned = Generations.plannedFrom(fs, root, expectPointer)
    val priorFile = planned.map(b => parseGenFile(MetaSwap.readCommitted(
      fs, manifestPath(root, Generations.genOf(b, layout)))))
    Generations.commitGeneration(fs, root, layout, planned, keep,
      retainMs, beforeRepoint) { staging =>
      stageGeneration(spark, df, root, partCol, expectations,
        replaceAll, coalescePartitions, staging.token, priorFile,
        replacedPartitions, statsCols, manifestGroups)
    }
  }

  /** Stage `df` and write the generation file for `token` — the
    * shared middle of every manifest-table publish: the partitioned
    * staged write under `_writes/<token>`, the blocking C11 audit,
    * the per-file stats pass, and the flat-or-list generation file
    * at `_manifests/<token>` carrying untouched entries (or group
    * references) from `priorFile`. The MAIN publish calls this with
    * the numeric next gen as token then swaps the serving pointer;
    * a BRANCH publish ([[publishToBranch]]) calls it with its
    * `r-<name>-<seq>` token then CASes the ref marker — same staged
    * layout, same manifest format, different commit target.
    */
  private def stageGeneration(spark: SparkSession, df: DataFrame,
                              root: String, partCol: String,
                              expectations: Seq[graft.operators.Cleaning.Expectation],
                              replaceAll: Boolean,
                              coalescePartitions: Boolean,
                              token: String,
                              priorFile: Option[GenFile],
                              replacedPartitions: Set[String],
                              statsCols: Seq[String],
                              manifestGroups: Int): Unit = {
    partColsOf(partCol).foreach(c => require(df.columns.contains(c),
      s"partition column $c not in ${df.columns.mkString(",")}"))
    require(partColsOf(partCol).nonEmpty,
      s"empty partition-column spec: '$partCol'")
    require(!df.columns.contains("graft_p"),
      "column name graft_p is reserved for the staged layout")
    // PARTITION-SPEC EVOLUTION: a PARTIAL publish must keep the
    // recorded spec (carried entries' partition keys live in the old
    // spec's key space — mixing specs would corrupt every scoped
    // read); a replaceAll rebuild carries NOTHING, so it may change
    // the spec — that is the documented one-call migration
    // ([[repartitionTable]]). Old generations keep their own
    // recorded spec and stay time-travelable under it.
    priorFile.filter(_ => !replaceAll).foreach(pf =>
      require(pf.partCol == partCol,
        s"partition column mismatch: table is partitioned by " +
          s"${pf.partCol}, publish got $partCol — change the spec " +
          "with a replaceAll rebuild (ManifestStore.repartitionTable)"))
    // SCHEMA-EVOLUTION CONTRACT (S14 inside S20), enforced before
    // anything stages: a partial publish may WIDEN (carried old-
    // schema files serve null-backfilled through the new recorded
    // DDL — parquet's by-name resolution) and may reorder; dropping,
    // renaming, or re-typing a recorded column refuses TYPED — the
    // carried entries would silently lose or split that column, and
    // the honest path is the explicit replaceAll rebuild.
    priorFile.filter(_ => !replaceAll).foreach { pf =>
      val prior = org.apache.spark.sql.types.StructType
        .fromDDL(pf.schemaDdl)
      val curTypes = df.schema.fields
        .map(f => f.name -> f.dataType).toMap
      val dropped = prior.fields.map(_.name)
        .filterNot(curTypes.contains)
      if (dropped.nonEmpty) throw new graft.SchemaMismatch(
        s"partial publish to $root drops/renames recorded column(s) " +
          s"${dropped.mkString(",")} — carried partitions still hold " +
          "them and one generation serves ONE schema; rebuild with " +
          "replaceAll = true to drop columns for real")
      val retyped = prior.fields.filter(f =>
        curTypes.get(f.name).exists(_ != f.dataType))
      if (retyped.nonEmpty) throw new graft.SchemaMismatch(
        s"partial publish to $root re-types recorded column(s) " +
          retyped.map(f => s"${f.name}: ${f.dataType.sql} -> " +
            s"${curTypes(f.name).sql}").mkString(", ") +
          " — carried files keep their footers, so a type drift " +
          "would split the table's schema mid-manifest; rebuild " +
          "with replaceAll = true")
      // a WIDENING column may not resurrect a name a rename retired
      // (S40): the per-era footer resolution would find the old name
      // in new files and mis-map carried ones
      val retired = pf.renames.map(_._1).toSet
      val resurrected = df.columns.filter(retired)
      if (resurrected.nonEmpty) throw new graft.SchemaMismatch(
        s"partial publish to $root adds column(s) " +
          s"${resurrected.mkString(",")} whose name a previous " +
          "RENAME retired — re-using it would make per-era file " +
          "resolution ambiguous; pick another name or rebuild with " +
          "replaceAll = true")
    }
    val fs = Tables.fsFor(spark, root)
    val stagingDir = s"$root/_writes/$token"
    // mode=overwrite consumes the one possible residue here: a prior
    // publish of THIS gen that crashed (or failed its audit) before
    // the repoint — nothing ever pointed at it
    val staged0 = df.withColumn("graft_p", partKeyExpr(partCol))
    val staged = if (coalescePartitions)
      staged0.repartition(col("graft_p")) else staged0
    staged.write.mode("overwrite").partitionBy("graft_p")
      .parquet(stagingDir)
    if (expectations.nonEmpty) {
      Tables.auditStaged(spark, stagingDir, expectations)
      ()
    }
    // staged entries from the write directory's own listing — the
    // dir-name escaping undone once here, so the manifest holds RAW
    // partition values and nothing downstream ever re-encodes
    val stagedEntries = fs.listStatus(new Path(stagingDir)).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(PartDirPrefix))
      .sortBy(_.getPath.getName)
      .flatMap { dir =>
        val value = org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.unescapePathName(
            dir.getPath.getName.stripPrefix(PartDirPrefix))
        fs.listStatus(dir.getPath).toSeq
          .filter(f => f.isFile &&
            f.getPath.getName.endsWith(".parquet") &&
            !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith("."))
          .sortBy(_.getPath.getName)
          .map(f => ManifestEntry(value,
            s"_writes/$token/${dir.getPath.getName}/${f.getPath.getName}"))
      }
    // stat columns: explicit declaration wins, the default inherits
    // the table's declared set (the grace-inheritance pattern) — so
    // merge/OPTIMIZE/delete rewrites re-record stats without every
    // caller re-passing the column list
    val effStatsCols =
      if (statsCols.nonEmpty) statsCols
      else priorFile.map(_.statsCols).getOrElse(Nil)
    effStatsCols.foreach(c => require(df.columns.contains(c),
      s"stats column $c not in ${df.columns.mkString(",")}"))
    val statsByFile: Map[String, Map[String, (String, String)]] =
      if (effStatsCols.isEmpty || stagedEntries.isEmpty) Map.empty
      else {
        import org.apache.spark.sql.functions.{min, max,
          input_file_name}
        // ONE column-pruned aggregation over the just-staged bytes,
        // grouped by file — O(changed files), the writeStatsIndex
        // plan folded into the publish
        val aggs = effStatsCols.flatMap(c =>
          Seq(min(col(c)).as(s"__mn_$c"), max(col(c)).as(s"__mx_$c")))
        spark.read.parquet(stagingDir)
          .groupBy(input_file_name().as("__f"))
          .agg(aggs.head, aggs.tail: _*)
          .collect().map { r =>
            // key on the file's last two path segments (the staged
            // graft_p dir + file name), URI-decoded so exotic
            // partition values match the listing-derived relPaths
            val raw = r.getString(0)
            val pathOnly =
              try new java.net.URI(raw).getPath
              catch { case _: java.net.URISyntaxException => raw }
            val key = pathOnly.split('/').takeRight(2).mkString("/")
            key -> effStatsCols.zipWithIndex.flatMap { case (c, i) =>
              val mn = r.get(1 + 2 * i)
              val mx = r.get(2 + 2 * i)
              // an all-null file has no (min, max): no stats for the
              // column — never pruned on, always read
              if (mn == null || mx == null) None
              else Some(c -> (mn.toString, mx.toString))
            }.toMap
          }.toMap
      }
    val stagedWithStats =
      if (statsByFile.isEmpty) stagedEntries
      else stagedEntries.map { e =>
        e.copy(stats = statsByFile.getOrElse(
          e.relPath.split('/').takeRight(2).mkString("/"), Map.empty))
      }
    val stagedValues = stagedEntries.map(_.partition).toSet
    val dropped = (v: String) =>
      stagedValues(v) || replacedPartitions(v)
    val schemaDdl = df.drop("graft_p").schema.toDDL
    val publishedMs = System.currentTimeMillis()
    // the RENAME MAPPING (S40) inherits on a partial publish (carried
    // files still hold historical names) and CLEARS on a replaceAll
    // rebuild (fresh files carry current names only)
    val effRenames =
      if (replaceAll) Nil
      else priorFile.map(_.renames).getOrElse(Nil)
    // layout: explicit manifestGroups wins; the default inherits the
    // prior generation's layout (flat stays flat, a grouped table
    // keeps its group count) — the statsCols/grace inheritance
    // pattern. Once grouped, a table stays grouped (re-group by
    // publishing with a different manifestGroups).
    val priorList = priorFile.collect { case lg: ListGen => lg }
    val effGroups =
      if (manifestGroups > 0) manifestGroups
      else priorList.map(_.nGroups).getOrElse(0)
    // the GROUPING KEY mode: a table keeping its layout INHERITS its
    // recorded mode (verbatim group reuse depends on identical
    // assignment); a fresh or re-grouped list layout adopts the
    // prefix-aware default (leading-component hashing — prefix reads
    // parse O(prefix groups) instead of all of them)
    val effPrefix = priorList match {
      case Some(lg) if lg.nGroups == effGroups => lg.groupByPrefix
      case _                                   => true
    }
    def grpOf(partition: String): Int =
      groupOf(groupKeyOf(partition, effPrefix), effGroups)
    if (effGroups == 0) {
      // FLAT: one generation file carrying every entry line
      val entries =
        if (replaceAll || priorFile.isEmpty) stagedWithStats
        else assemble(fs, root, priorFile.get).entries
          .filterNot(e => dropped(e.partition)) ++ stagedWithStats
      MetaSwap.swap(fs, new Path(s"$root/_manifests/$token"),
        serializeManifest(Manifest(partCol, schemaDdl, entries,
          publishedMs, effStatsCols, renames = effRenames)))
    } else {
      // LIST: write ONLY the touched groups' manifests under this
      // generation's `.d` dir; every untouched group's REFERENCE is
      // carried verbatim (metadata-level reuse — the group file may
      // live in an earlier generation's `.d`). A layout migration
      // (flat → grouped, or a group-count change) touches every
      // group once, by construction.
      val priorRefs: Map[Int, String] = priorFile match {
        case Some(lg: ListGen) if !replaceAll &&
            lg.nGroups == effGroups =>
          lg.refs.map(r => r.group -> r.relPath).toMap
        case _ => Map.empty
      }
      val priorByGroup: Map[Int, Seq[ManifestEntry]] =
        if (replaceAll || priorFile.isEmpty) Map.empty
        else if (priorRefs.nonEmpty) Map.empty // loaded lazily below
        else assemble(fs, root, priorFile.get).entries
          .groupBy(e => grpOf(e.partition))
      val touched: Set[Int] =
        if (priorRefs.isEmpty)
          // migration/bootstrap/replaceAll: every group is fresh
          (stagedValues.map(grpOf) ++
            priorByGroup.keySet).toSet
        else (stagedValues ++ replacedPartitions).map(grpOf)
      val stagedByGroup = stagedWithStats
        .groupBy(e => grpOf(e.partition))
      val newRefs = touched.toSeq.sorted.flatMap { g =>
        val carried: Seq[ManifestEntry] =
          if (priorRefs.contains(g)) {
            val p = new Path(s"$root/${priorRefs(g)}")
            if (!fs.exists(p)) throw new graft.SnapshotUnavailable(
              s"manifest group $g of $root is missing its group " +
                s"file ${priorRefs(g)} — run " +
                "IndexAudit.auditManifestTable before publishing")
            parseGroup(MetaSwap.readCommitted(fs, p))
              .filterNot(e => dropped(e.partition))
          } else priorByGroup.getOrElse(g, Seq.empty)
            .filterNot(e => dropped(e.partition))
        val entries = carried ++ stagedByGroup.getOrElse(g, Seq.empty)
        if (entries.isEmpty) None // an emptied group leaves the list
        else {
          val rel = s"_manifests/$token.d/$g"
          MetaSwap.swap(fs, new Path(s"$root/$rel"),
            serializeGroup(entries))
          Some(GroupRef(g, rel))
        }
      }
      val refs = priorRefs.view
        .filterKeys(g => !touched(g))
        .map { case (g, rel) => GroupRef(g, rel) }.toSeq ++ newRefs
      MetaSwap.swap(fs, new Path(s"$root/_manifests/$token"),
        serializeList(ListGen(partCol, schemaDdl, publishedMs,
          effStatsCols, effGroups, refs.sortBy(_.group), effPrefix,
          renames = effRenames)))
    }
  }

  // ---- NAMED REFS: tags and branches (S25) -------------------------
  // The manifest table's file-level indirection makes refs METADATA-
  // ONLY (the Iceberg insight): a TAG pins a committed generation
  // against retention under a stable name; a BRANCH is an independent
  // line of manifests sharing the same immutable file pool, so a
  // write-audit-publish cycle can stage whole promotions on a branch
  // (readable, auditable, time-shared files) and FAST-FORWARD main to
  // the branch head without rewriting a byte of data. The `_refs/`
  // markers, their codec and the branch commit are [[Generations]]';
  // branch generations are `_manifests/r-<name>-<seq>` over staged
  // writes in `_writes/r-<name>-<seq>` — namespaced so they can NEVER
  // collide with main's numeric gen allocation, which is what lets a
  // branch publish run concurrently with a main promotion (disjoint
  // commit targets, disjoint staging). Retention treats ref-reachable
  // manifests as surviving: tagged gens (and a fresh branch's base)
  // are pinned, branch heads join the reference set for the file and
  // group sweeps, and a DROPPED ref's private files are reclaimed by
  // the next main publish's prune.

  type Ref = Generations.Ref
  type TagRef = Generations.TagRef
  val TagRef = Generations.TagRef
  type BranchRef = Generations.BranchRef
  val BranchRef = Generations.BranchRef

  /** Every ref of the table, parsed. Corrupt markers are
    * OMITTED here (the fsck reports them); the retention sweeps
    * SUSPEND on damage instead.
    */
  def refs(spark: SparkSession, root: String): Map[String, Ref] =
    Generations.refs(Tables.fsFor(spark, root), root)

  /** TAG `gen` (default: the serving generation) as `name`: the
    * generation's manifest — and every file it references — is
    * PINNED against retention until [[dropRef]]. Tags are immutable
    * by contract: an existing ref under the name refuses.
    */
  def tag(spark: SparkSession, root: String, name: String,
          gen: Option[Long] = None): Long =
    Generations.createRef(Tables.fsFor(spark, root), root, layout, name,
      gen)(g => TagRef(g, System.currentTimeMillis()))

  /** Create BRANCH `name` forked from `fromGen` (default: the serving
    * generation). Metadata-only — nothing is copied; until the first
    * [[publishToBranch]] the branch serves its base generation (which
    * is pinned against retention while the branch sits at head 0).
    */
  def branch(spark: SparkSession, root: String, name: String,
             fromGen: Option[Long] = None): Unit = {
    Generations.createRef(Tables.fsFor(spark, root), root, layout, name,
      fromGen)(g => BranchRef(0L, g, System.currentTimeMillis()))
    ()
  }

  /** Drop ref `name`. A dropped TAG un-pins its generation (the
    * normal window applies again); a dropped BRANCH's private
    * manifests and files are reclaimed by the next main publish's
    * prune — unless main fast-forwarded onto them, in which case the
    * file-level reference sweep keeps exactly the referenced ones.
    */
  def dropRef(spark: SparkSession, root: String, name: String): Unit =
    Generations.dropRef(Tables.fsFor(spark, root), root, name)

  private[sources] def refAt(spark: SparkSession, root: String,
                             name: String): Ref =
    Generations.refAt(Tables.fsFor(spark, root), root, name, layout)

  /** The branch's generation file: its own head manifest, or the base
    * generation's while head = 0.
    */
  private[sources] def branchGenFile(spark: SparkSession, root: String,
                                     name: String, b: BranchRef): GenFile =
    if (b.head == 0L) genFileAt(spark, root, b.base)
    else {
      val fs = Tables.fsFor(spark, root)
      val p = new Path(
        s"$root/_manifests/${Generations.branchToken(name, b.head)}")
      if (!fs.exists(p)) throw new graft.SnapshotUnavailable(
        s"branch '$name' of $root is missing its head manifest " +
          s"${p.getName} — run IndexAudit.auditManifestTable")
      parseGenFile(MetaSwap.readCommitted(fs, p))
    }

  /** Read the table a ref serves: a TAG reads its pinned generation,
    * a BRANCH reads its head (the base generation while head = 0).
    */
  def readRef(spark: SparkSession, root: String,
              name: String): DataFrame = refAt(spark, root, name) match {
    case TagRef(g, _) => readAt(spark, root, g)
    case b: BranchRef =>
      val fs = Tables.fsFor(spark, root)
      val m = assemble(fs, root, branchGenFile(spark, root, name, b))
      readEntries(spark, root, m.schemaDdl, m.entries, m.renames)
  }

  /** Publish `df` onto BRANCH `name` — the staged-promotion half of
    * write-audit-publish on a branch: partition-replace semantics
    * exactly like [[publish]]`(replaceAll = false)` (staged
    * partitions replace, untouched entries carry byte-identical from
    * the branch head), the same blocking C11 audit over the staged
    * bytes, but the commit is a CAS of the REF marker, not the
    * serving pointer — main's readers cannot see any of it until
    * [[fastForward]]. Runs concurrently with main promotions by
    * construction (disjoint staging `_writes/r-<name>-<seq>`,
    * disjoint commit targets); two publishes racing on the SAME
    * branch fail loudly ([[MetaSwap.CasFailed]]). Returns the new
    * branch head sequence. No pruning here: branch garbage is the
    * next main publish's business (single-pruner discipline).
    */
  def publishToBranch(spark: SparkSession, df: DataFrame,
                      root: String, name: String,
                      expectations: Seq[graft.operators.Cleaning.Expectation] =
                        Nil,
                      coalescePartitions: Boolean = true,
                      statsCols: Seq[String] = Nil,
                      manifestGroups: Int = 0): Long =
    Generations.commitToBranch(Tables.fsFor(spark, root), root, layout,
      name) { (b, staging) =>
      val priorFile = branchGenFile(spark, root, name, b)
      stageGeneration(spark, df, root, priorFile.partCol, expectations,
        replaceAll = false, coalescePartitions, staging.token,
        Some(priorFile), replacedPartitions = Set.empty, statsCols,
        manifestGroups)
    }

  /** Write `gf` as generation `gen`'s file, restamped with the commit
    * instant — the metadata-only commits (fast-forward, restore,
    * rename) carry entry lines or group REFERENCES verbatim; those
    * group files are immutable, so sharing them is free.
    */
  private def writeGenFile(fs: org.apache.hadoop.fs.FileSystem,
                           root: String, gen: Long, gf: GenFile): Unit = {
    val now = System.currentTimeMillis()
    MetaSwap.swap(fs, manifestPath(root, gen), gf match {
      case FlatGen(m) => serializeManifest(m.copy(publishedMs = now))
      case lg: ListGen => serializeList(lg.copy(publishedMs = now))
    })
  }

  /** FAST-FORWARD main to branch `name`'s head — the publish half of
    * write-audit-publish on a branch, and it is METADATA-ONLY: the
    * new main generation's manifest carries the branch head's entry
    * list (or its group references, on a list layout) verbatim; not
    * one data file is rewritten, moved, or read — except by the
    * optional `expectations`, which audit the WHOLE branch table
    * (one C11 scan) before the repoint, refusing typed
    * ([[graft.AuditFailed]]) with main untouched.
    *
    * True fast-forward only: if main has advanced past the branch's
    * base, the branch no longer contains those promotions and
    * repointing would silently drop them — refused typed unless
    * `force = true` (an explicit "replace main with the branch
    * state"). The branch ref survives (drop it when done); its base
    * is advanced to the new main generation so a later publish
    * continues from what main now serves.
    */
  def fastForward(spark: SparkSession, root: String, name: String,
                  expectations: Seq[graft.operators.Cleaning.Expectation] =
                    Nil,
                  keep: Int = 3, retainMs: Long = 0L,
                  force: Boolean = false): Long = {
    val fs = Tables.fsFor(spark, root)
    val (mainGen, prior) = servingPointer(spark, root)
    val (b, refBytes) =
      Generations.fastForwardSource(fs, root, name, layout, mainGen, force)
    val headFile = branchGenFile(spark, root, name, b)
    if (expectations.nonEmpty) {
      val m = assemble(fs, root, headFile)
      val report = graft.operators.Cleaning.validateExpectations(
        readEntries(spark, root, m.schemaDdl, m.entries, m.renames), expectations)
      val failed = report.collect().filter(!_.getBoolean(5))
      if (failed.nonEmpty) throw new graft.AuditFailed(
        s"audit failed for branch '$name' of $root: " +
          failed.map(r => s"${r.getString(0)}/${r.getString(1)}=" +
            s"${r.getLong(4)} violations").mkString(", ") +
          "; main untouched, branch left for inspection")
    }
    val gen = Generations.commitGeneration(fs, root, layout, Some(prior),
      keep, retainMs)(staging => writeGenFile(fs, root, staging.gen, headFile))
    // rebase the branch onto what main now serves, so the ref's
    // retention claims stay minimal and a later branch publish
    // continues from the promoted state
    Generations.rebaseBranch(fs, root, name, refBytes,
      BranchRef(b.head, gen, b.createdMs), gen)
    gen
  }

  /** METADATA-ONLY RESTORE (Delta's RESTORE semantics on the
    * manifest layout): republish retained generation `gen`'s file
    * list as the table's NEXT generation — a rollback that never
    * rewrites, moves, or reads a data file, never renumbers history
    * (time travel over the bad generations keeps working until
    * retention lapses them), and commits like every promotion (the
    * staging lock, then the pointer CAS). The restored generation
    * carries the old manifest's entries (or group references)
    * verbatim, exactly the [[fastForward]] mechanism pointed at the
    * past instead of a branch. Refuses typed when `gen` is residue or
    * aged out ([[genFileAt]]'s contract).
    */
  def restore(spark: SparkSession, root: String, gen: Long,
              keep: Int = 3, retainMs: Long = 0L): Long = {
    val fs = Tables.fsFor(spark, root)
    val (_, prior) = servingPointer(spark, root)
    val past = genFileAt(spark, root, gen)
    Generations.commitGeneration(fs, root, layout, Some(prior), keep,
      retainMs)(staging => writeGenFile(fs, root, staging.gen, past))
  }

  /** Explicit retention maintenance: run the prune NOW, against the
    * SERVING generation and the pointer's recorded keep/grace —
    * without publishing anything. Prune otherwise runs only inside
    * publishes, so a table that stops being promoted never reclaims
    * its grace-expired generations, dropped branches, or stale
    * branch manifests; this is the quiet-table janitor (Iceberg's
    * expire_snapshots, under the same single-maintainer contract as
    * every maintenance entry).
    */
  def expire(spark: SparkSession, root: String): Unit =
    Generations.expire(Tables.fsFor(spark, root), root, layout)

  /** Retention: drop manifests older than the window, then every
    * data file NO surviving manifest references — this is what makes
    * `keep = N` hold deltas instead of N table copies, and it also
    * sweeps crashed-publish residue (files nothing ever pointed at).
    * Verified deletes throughout (the protocol-wide discipline).
    */
  private def prune(fs: org.apache.hadoop.fs.FileSystem, root: String,
                    gen: Long, keep: Int, retainMs: Long): Unit = {
    val mBase = new Path(s"$root/_manifests")
    if (!fs.exists(mBase)) return
    val allGens = fs.listStatus(mBase).toSeq
      .flatMap(_.getPath.getName.toLongOption)
    def verifiedDelete(p: Path, what: String): Unit =
      if (!fs.delete(p, true)) throw new IllegalStateException(
        s"cannot prune $what ${p} — the pointer has moved (the " +
          "publish IS committed); remove it manually or let the " +
          "next publish retry")
    val now = System.currentTimeMillis()
    def genFile(g: Long): GenFile =
      parseGenFile(MetaSwap.readCommitted(fs, manifestPath(root, g)))
    def inGrace(g: Long): Boolean = retainMs > 0 &&
      now - genFile(g).publishedMs < retainMs
    // REFS participate in retention: tagged generations (and a fresh
    // branch's base) are PINNED, branch heads join the surviving set
    // for the reference sweeps. A corrupt ref marker makes the
    // reference set unknowable → SUSPEND everything (the r14 rule:
    // over-retention is the safe failure; fsck reports the damage).
    val refByName = Generations.refsForPrune(fs, root).getOrElse(return)
    val pinned = Generations.pinned(refByName.values)
    // the kept set is decided FIRST (generation window, wall-clock
    // grace, or a ref pin), and the file sweep is railed on exactly
    // that set — a retained manifest keeps every file it references,
    // so it stays SERVABLE, not just present. An UNREADABLE kept
    // manifest (corrupt bytes, a pinned gen whose file is gone —
    // fsck territory) makes the kept set's reference claims
    // unknowable: SUSPEND the whole prune instead of crashing a
    // publish that already committed, or deleting on a guess.
    val partitioned =
      try {
        val (kept, doomedGens) = allGens.partition(g =>
          g > gen - keep || (g <= gen && inGrace(g)) || pinned(g))
        Some((kept.map(g => g -> genFile(g)).toMap, doomedGens))
      } catch { case scala.util.control.NonFatal(_) => None }
    if (partitioned.isEmpty) return
    val (keptFiles, doomedGens) = partitioned.get
    doomedGens.foreach(g =>
      verifiedDelete(manifestPath(root, g), "superseded manifest"))
    // BRANCH manifests (`r-<name>-<seq>`): the ref's head survives;
    // a seq BEYOND the head is a crashed/in-flight publish's business
    // (left whole, exactly like main's residue gens); stale heads and
    // dropped branches' manifests go unless the wall-clock grace
    // still covers an in-flight reader. Survivors join the reference
    // sweeps; a corrupt survivor suspends them.
    val branchManifests = fs.listStatus(mBase).toSeq
      .filter(_.isFile)
      .flatMap(st => Generations.parseBranchToken(st.getPath.getName)
        .map { case (n, k) => (st.getPath, n, k) })
    var suspendSweeps = false
    val branchSurvivors = scala.collection.mutable
      .ArrayBuffer[GenFile]()
    branchManifests.foreach { case (p, n, k) =>
      val head = refByName.get(n).collect { case BranchRef(h, _, _) => h }
      lazy val parsedBm =
        try Some(parseGenFile(MetaSwap.readCommitted(fs, p)))
        catch { case scala.util.control.NonFatal(_) => None }
      if (head.exists(k > _)) {
        // in-flight/residue branch publish: leave it AND its staging
        // alone (the retry overwrites); its unique files live under
        // its own `_writes/r-…` token, which the sweep skips below
      } else if (head.contains(k)) parsedBm match {
        case Some(gfile) => branchSurvivors += gfile
        case None => suspendSweeps = true // serving head corrupt
      } else {
        // stale (superseded head or dropped branch): wall-clock grace
        // still applies — an unparseable stale manifest's grace claim
        // is unknowable, so it suspends instead of being deleted on a
        // guess
        parsedBm match {
          case Some(gfile) =>
            if (retainMs > 0 && now - gfile.publishedMs < retainMs)
              branchSurvivors += gfile
            else verifiedDelete(p, "stale branch manifest")
          case None => suspendSweeps = true
        }
      }
    }
    if (suspendSweeps) return
    // if ANY surviving generation's reference set is unknowable (a
    // list referencing a gone group file — fsck territory), SKIP the
    // sweeps: "unreferenced" cannot be proven and deleting on a guess
    // would destroy live data; over-retention until the table is
    // repaired is the safe failure mode
    val lenient = keptFiles.view.mapValues(gf =>
      assembleLenient(fs, root, gf)).toMap
    val branchLenient = branchSurvivors.toSeq.map(gf =>
      assembleLenient(fs, root, gf))
    if (lenient.values.exists(_._2.nonEmpty) ||
        branchLenient.exists(_._2.nonEmpty)) return
    // group-manifest retention (the list layer): a surviving list may
    // reference an OLDER generation's group files (metadata reuse),
    // so group files sweep individually against the set every
    // surviving list references — never by owning generation
    val referencedGroups =
      (keptFiles.values ++ branchSurvivors).collect {
        case lg: ListGen => lg.refs.map(_.relPath)
      }.flatten.toSet
    // does an existing branch ref hold a residue at this owner token?
    def inFlightBranchToken(token: String): Boolean =
      Generations.parseBranchToken(token).exists { case (n, k) =>
        refByName.get(n) match {
          case Some(BranchRef(h, _, _)) => k > h
          case _ => false
        }
      }
    fs.listStatus(mBase).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.endsWith(".d"))
      .foreach { d =>
        val token = d.getPath.getName.stripSuffix(".d")
        // residue owners' group dirs are the retried publish's
        // business, exactly like residue manifests — numeric gens
        // beyond the serving one, and branch seqs beyond the head
        val sweepable = token.toLongOption match {
          case Some(owner) => owner <= gen
          case None => Generations.parseBranchToken(token).isDefined &&
            !inFlightBranchToken(token)
        }
        if (sweepable) {
          fs.listStatus(d.getPath)
            .filter(f => f.isFile && !MetaSwap.isStage(f.getPath.getName))
            .foreach { f =>
              val rel = s"_manifests/${d.getPath.getName}/" +
                f.getPath.getName
              if (!referencedGroups(rel))
                verifiedDelete(f.getPath, "unreferenced group manifest")
            }
          if (fs.listStatus(d.getPath).isEmpty)
            verifiedDelete(d.getPath, "emptied group dir")
        }
      }
    val referenced = (lenient.collect {
      case (g, (entries, _)) if g <= gen => entries.map(_.relPath)
    }.flatten ++ branchLenient.flatMap(_._1.map(_.relPath))).toSet
    val wBase = new Path(s"$root/_writes")
    if (!fs.exists(wBase)) return
    fs.listStatus(wBase).foreach { wd =>
      val token = wd.getPath.getName
      // a crashed stager's EXPIRED lock is residue; a live one is a
      // writer mid-staging and stays (its own finally releases it).
      // Lock markers are files, never write dirs — they skip the
      // reference sweep below entirely.
      if (token.startsWith(".lock-"))
        StagingLock.reclaimExpired(fs, wd.getPath)
      else {
      // numeric tokens sweep up to this prune's generation: a higher
      // one is a publish planned after it — in flight, or committed
      // since `referenced` was read, whose files that set cannot
      // name (the next publish of a crashed token overwrites its
      // residue); branch tokens sweep unless they are an existing
      // ref's in-flight residue (beyond head)
      val sweepable = token.toLongOption match {
        case Some(t) => t <= gen
        case None => Generations.parseBranchToken(token).isDefined &&
          !inFlightBranchToken(token)
      }
      // the sweep itself takes the token's STAGING LOCK (try-lock:
      // contention = a writer is staging this token right now, whose
      // files are unreferenced by construction — sweeping them is the
      // concurrent-prune corruption the stress spec caught; skip and
      // let a later prune reclaim). A crashed stager's lock expires
      // after the lease and the next prune proceeds.
      val lock = new Path(s"$root/_writes/.lock-$token")
      val what = s"generation $token of $root (_writes/.lock-$token)"
      val sweepOwner: Option[Array[Byte]] =
        if (!sweepable) None
        else try Some(StagingLock.acquire(fs, lock, what))
        catch { case _: MetaSwap.CasFailed => None }
      if (sweepOwner.isDefined) try {
        var kept = false
        val it = Tables.filesUnder(fs, wd.getPath)
        val doomed = scala.collection.mutable.ArrayBuffer[Path]()
        while (it.hasNext) {
          val f = it.next()
          val rel = s"_writes/$token/" + f.getPath.toString
            .split(s"/_writes/$token/", 2).last
          val hidden = f.getPath.getName.startsWith("_") ||
            f.getPath.getName.startsWith(".")
          if (referenced(rel)) kept = true
          else if (!hidden) doomed += f.getPath
        }
        // re-verify lock ownership before anything destructive: a
        // sweep that somehow outlived the lease and lost its lock to
        // a stager must not delete that stager's in-flight files
        sweepOwner.foreach(StagingLock.verify(fs, lock, _, what))
        if (!kept)
          // no surviving manifest references this publish at all:
          // reclaim the whole write directory (markers included)
          verifiedDelete(wd.getPath, "unreferenced write directory")
        else if (doomed.nonEmpty) {
          doomed.foreach(verifiedDelete(_, "unreferenced file"))
          // partition dirs left empty by the file sweep go too — a
          // stale `graft_p=` husk would read as a live partition to
          // anyone listing the pool
          fs.listStatus(wd.getPath)
            .filter(st => st.isDirectory &&
              st.getPath.getName.startsWith(PartDirPrefix) &&
              fs.listStatus(st.getPath).isEmpty)
            .foreach(st =>
              verifiedDelete(st.getPath, "emptied partition dir"))
        }
      } finally sweepOwner.foreach(StagingLock.release(fs, lock, _))
      }
    }
  }

  /** Partition-scoped MERGE (S17 restated on the manifest table):
    * upsert `batch` by `keys` into only the partitions the batch
    * touches — existing rows in those partitions survive unless a
    * batch row carries their key; every OTHER partition's files are
    * untouched on disk. The affected-partition list is a bounded
    * driver scalar (≤ the table's partition count); the read side is
    * [[readPartitions]]' structural pruning, so the daily cost is
    * O(touched partitions), never O(table).
    *
    * Preconditions (the S17 contract): the partition key is stable
    * under updates for a given row key, and merge `keys` are
    * non-null — SQL null-semantics make a null key unmatchable by
    * the anti-join, so a null-keyed existing row would survive
    * alongside its null-keyed replacement; gate such rows out
    * upstream (C1) or via `expectations`.
    */
  def mergePartitions(spark: SparkSession, batch: DataFrame,
                      root: String, keys: Seq[String],
                      expectations: Seq[graft.operators.Cleaning.Expectation] =
                        Nil,
                      keep: Int = 3, retainMs: Long = 0L): Long =
    mergePartitionsImpl(spark, batch, root, keys, expectations, keep,
      retainMs, () => ())

  /** [[mergePartitions]] with a hook fired between the planning read
    * and the publish — the window a racing promotion can land in — so
    * the CAS-loss and disjoint-rebase contracts are TESTED, not
    * asserted.
    */
  private[graft] def mergePartitionsImpl(spark: SparkSession,
                                         batch: DataFrame, root: String,
                                         keys: Seq[String],
                                         expectations: Seq[graft.operators.Cleaning.Expectation],
                                         keep: Int, retainMs: Long,
                                         beforePublish: () => Unit)
      : Long = {
    val fs = Tables.fsFor(spark, root)
    def plan(): (Long, Array[Byte], GenFile) = {
      // the CAS expectation is the bytes THIS plan read — publish
      // compare-and-sets against them, so a promotion landing between
      // here and the swap fails loudly instead of being overwritten
      val (gen, raw) = servingPointer(spark, root)
      (gen, raw, genFileAt(spark, root, gen))
    }
    def attempt(gen: Long, raw: Array[Byte], gf: GenFile): Long = {
      val partCol = gf.partCol
      val affected = batch
        .select(partKeyExpr(partCol)).distinct()
        .collect().map(r => nullSafe(r.getString(0))).toSeq
      // an empty batch touches nothing: no staged write, no new
      // generation (the corpusGold no-shard-touched discipline)
      if (affected.isEmpty) return gen
      val existing = readPartitions(spark, root, affected, Some(gen))
      val merged = batch.unionByName(
        existing.join(batch.select(keys.map(col): _*).distinct(),
          keys, "left_anti"))
      beforePublish()
      try publishImpl(spark, merged, root, partCol, expectations,
        keep, replaceAll = false, coalescePartitions = true,
        () => (), retainMs, Some(raw))
      catch {
        case e: MetaSwap.CasFailed =>
          throw new RebaseSignal(gen, affected.toSet, e)
      }
    }
    withDisjointRebase(spark, root) { () =>
      val (gen0, raw0, m0) = plan()
      attempt(gen0, raw0, m0)
    }
  }

  /** A general-merge clause ([[mergeInto]]). Conditions and
    * assignment right-hand sides are late-bound Columns over the
    * MERGE evaluation frame: target columns under their own names,
    * source columns under the [[srcCol]] prefix (matched clauses);
    * INSERT clauses bind over the source rows alone (bare source
    * names); BY SOURCE clauses over the target alone.
    */
  sealed trait MergeClause {
    def cond: Option[org.apache.spark.sql.Column]
  }
  /** UPDATE SET — `set = None` is `SET *`: every source column that
    * exists in the target by name, minus the partition columns
    * (assigning those would move rows across partitions, which the
    * S21b contract refuses — model a move as DELETE + append).
    */
  final case class MergeUpdate(
      set: Option[Seq[(String, org.apache.spark.sql.Column)]],
      cond: Option[org.apache.spark.sql.Column] = None)
      extends MergeClause
  final case class MergeDelete(
      cond: Option[org.apache.spark.sql.Column] = None)
      extends MergeClause
  /** INSERT — `values = None` is `INSERT *` (same-name source
    * columns; target columns absent from the source land NULL).
    */
  final case class MergeInsert(
      values: Option[Seq[(String, org.apache.spark.sql.Column)]],
      cond: Option[org.apache.spark.sql.Column] = None)
      extends MergeClause

  /** A SOURCE column inside a matched-clause condition or assignment
    * RHS: the evaluation frame carries source columns under this
    * prefix so `price = srcCol("price") * 2` reads unambiguously next
    * to the target's own `col("price")`.
    */
  def srcCol(name: String): org.apache.spark.sql.Column =
    col(s"__graft_src_$name")

  /** GENERAL MERGE (the CDC-apply shape — conditional WHEN clauses,
    * column-list assignments, `WHEN NOT MATCHED BY SOURCE`), executed
    * as ONE generation commit over the partition-scoped publish:
    *
    *  - `matched` clauses ([[MergeUpdate]]/[[MergeDelete]]) apply to
    *    target rows whose `keys` match a source row — FIRST clause
    *    whose condition passes wins (SQL MERGE order semantics); no
    *    clause firing carries the row unchanged.
    *  - `notMatched` clauses ([[MergeInsert]]) apply to source rows
    *    matching no target row.
    *  - `notMatchedBySource` clauses apply to target rows matching no
    *    source row — the clause family that makes one MERGE statement
    *    a full CDC apply (`WHEN NOT MATCHED BY SOURCE THEN DELETE`
    *    retires rows the upstream no longer has).
    *
    * Matching is GLOBAL (a key matches wherever the row lives), but
    * the REWRITE is partition-scoped: a planning pass finds the
    * partitions where at least one clause actually fires (plus the
    * partitions insert rows land in), and only those rewrite — every
    * other partition's files ride into the new generation
    * byte-identical. Without BY SOURCE clauses the planning pass
    * scans only the key-matched join (inner, broadcast-able when the
    * source is batch-sized); with them it is one full pass — the
    * semantics read every row, so that cost is inherent. All
    * assignment RHSs evaluate against the row's OLD values (the
    * [[updateWhere]] rule: `SET a = b, b = a` swaps) and cast to the
    * target column's existing type; the partition column is
    * unassignable.
    *
    * The SQL cardinality rule is enforced: a source carrying
    * duplicate keys that match the target refuses (which source row's
    * values such a target row takes would be arbitrary). Returns the
    * committed generation (the serving one when nothing fires).
    * Commits CAS against the planned-from pointer; disjoint races
    * rebase once ([[withDisjointRebase]]).
    */
  def mergeInto(spark: SparkSession, source: DataFrame, root: String,
                keys: Seq[String],
                matched: Seq[MergeClause] = Nil,
                notMatched: Seq[MergeClause] = Nil,
                notMatchedBySource: Seq[MergeClause] = Nil,
                expectations: Seq[graft.operators.Cleaning.Expectation] =
                  Nil,
                keep: Int = 3, retainMs: Long = 0L): Long =
    mergeIntoImpl(spark, source, root, keys, matched, notMatched,
      notMatchedBySource, expectations, keep, retainMs, () => ())

  /** [[mergeInto]] with the race-window hook (the [[deleteWhereImpl]]
    * pattern: disjoint races rebase once, overlapping races stay
    * loud).
    */
  private[graft] def mergeIntoImpl(spark: SparkSession,
                                   source: DataFrame, root: String,
                                   keys: Seq[String],
                                   matched: Seq[MergeClause],
                                   notMatched: Seq[MergeClause],
                                   notMatchedBySource: Seq[MergeClause],
                                   expectations: Seq[graft.operators.Cleaning.Expectation],
                                   keep: Int, retainMs: Long,
                                   beforePublish: () => Unit): Long = {
    import org.apache.spark.sql.functions.{coalesce, count, lit, when}
    import org.apache.spark.sql.Column
    require(keys.nonEmpty, "mergeInto needs at least one key column")
    matched.foreach {
      case _: MergeInsert => throw new IllegalArgumentException(
        "WHEN MATCHED takes UPDATE or DELETE clauses, not INSERT")
      case _ => ()
    }
    notMatched.foreach {
      case _: MergeInsert => ()
      case _ => throw new IllegalArgumentException(
        "WHEN NOT MATCHED takes INSERT clauses only")
    }
    notMatchedBySource.foreach {
      case _: MergeInsert => throw new IllegalArgumentException(
        "WHEN NOT MATCHED BY SOURCE takes UPDATE or DELETE clauses, " +
          "not INSERT (there is no source row to insert)")
      case _ => ()
    }
    if (matched.isEmpty && notMatched.isEmpty &&
        notMatchedBySource.isEmpty)
      throw new IllegalArgumentException(
        "mergeInto needs at least one WHEN clause")
    val fs = Tables.fsFor(spark, root)
    val srcPrefix = "__graft_src_"

    def attempt(): Long = {
      val (gen, raw) = servingPointer(spark, root)
      val m = manifestAt(spark, root, gen)
      val partCol = m.partCol
      val partCols = partColsOf(partCol)
      val schema =
        org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
      val fieldType =
        schema.fields.map(f => f.name -> f.dataType).toMap
      // source columns resolve under the session's rules: Spark is
      // case-insensitive by default, so a source column differing
      // only in case from a target column (or key) IS that column —
      // an exact-case probe would silently skip it on UPDATE SET *
      // and NULL-fill it on INSERT *
      val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
      def sourceHas(target: String): Boolean =
        if (caseSensitive) source.columns.contains(target)
        else source.columns.exists(_.equalsIgnoreCase(target))
      keys.foreach { k =>
        require(fieldType.contains(k),
          s"merge key $k not in target ${schema.fieldNames.mkString(",")}")
        require(sourceHas(k),
          s"merge key $k not in source ${source.columns.mkString(",")}")
      }
      require(!schema.fieldNames.exists(_.startsWith("__graft_")),
        "column names starting with __graft_ are reserved for the " +
          "merge evaluation frame")
      // expand SET * / validate explicit SETs; star excludes the
      // partition columns (unassignable), explicit SETs refuse them
      def expandedSet(set: Option[Seq[(String, Column)]])
          : Seq[(String, Column)] = set match {
        case Some(s) =>
          s.foreach { case (c, _) =>
            require(fieldType.contains(c),
              s"assignment target $c not in " +
                schema.fieldNames.mkString(","))
            require(!partCols.contains(c),
              s"cannot assign partition column $c: a cross-partition " +
                "move must be an explicit DELETE + append")
          }
          require(s.map(_._1).distinct.size == s.size,
            s"duplicate assignment targets: ${s.map(_._1).mkString(",")}")
          s
        case None =>
          schema.fieldNames.toSeq
            .filter(c => sourceHas(c) && !partCols.contains(c))
            .map(c => c -> srcCol(c))
      }
      val matchedX: Seq[(Option[Column], Option[Seq[(String, Column)]])] =
        matched.map {
          case MergeUpdate(set, cond) => (cond, Some(expandedSet(set)))
          case MergeDelete(cond)      => (cond, None)
          case _: MergeInsert => throw new IllegalStateException(
            "unreachable: validated above")
        }
      val bySourceX: Seq[(Option[Column], Option[Seq[(String, Column)]])] =
        notMatchedBySource.map {
          case MergeUpdate(set, cond) => (cond, Some(expandedSet(set)))
          case MergeDelete(cond)      => (cond, None)
          case _: MergeInsert => throw new IllegalStateException(
            "unreachable: validated above")
        }

      val cur = readAt(spark, root, gen)
      val srcP = source.select(source.columns.toSeq
        .map(c => col(c).as(s"$srcPrefix$c")): _*)

      // the SQL cardinality rule: duplicate source keys that MATCH a
      // target row make the matched result arbitrary — refuse. The
      // duplicate probe is source-sized; the target semi-join runs
      // only when duplicates exist at all.
      if (matched.nonEmpty) {
        val dup = source.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("__graft_cnt"))
          .filter(col("__graft_cnt") > 1)
        if (dup.limit(1).count() > 0) {
          val hit = dup.join(cur.select(keys.map(col): _*).distinct(),
            keys, "left_semi").limit(1).count()
          if (hit > 0) throw new IllegalArgumentException(
            "MERGE source has multiple rows per key matching one " +
              "target row (SQL cardinality violation) — dedupe the " +
              s"source on (${keys.mkString(",")}) first")
        }
      }

      // ---- the per-row action chain, shared by both passes ----
      // matched clause i fires as action i; BY SOURCE clause j as
      // 1000 + j; -1 carries the row. First match wins: fold from
      // the LAST clause so earlier clauses sit outermost.
      val mFlag = srcCol(keys.head).isNotNull
      def actionCol: Column = {
        val entries: Seq[(Int, Column)] =
          matchedX.zipWithIndex.map { case ((cond, _), i) =>
            i -> (mFlag &&
              coalesce(cond.getOrElse(lit(true)), lit(false)))
          } ++
            bySourceX.zipWithIndex.map { case ((cond, _), j) =>
              (1000 + j) -> (!mFlag &&
                coalesce(cond.getOrElse(lit(true)), lit(false)))
            }
        entries.reverse.foldLeft(lit(-1)) { case (acc, (idx, pred)) =>
          when(pred, lit(idx)).otherwise(acc)
        }
      }
      val deleteIdx: Seq[Int] =
        matchedX.zipWithIndex.collect { case ((_, None), i) => i } ++
          bySourceX.zipWithIndex.collect {
            case ((_, None), j) => 1000 + j }
      val updates: Seq[(Int, Seq[(String, Column)])] =
        matchedX.zipWithIndex.collect {
          case ((_, Some(s)), i) => i -> s } ++
          bySourceX.zipWithIndex.collect {
            case ((_, Some(s)), j) => (1000 + j) -> s }

      def joinKeys(left: DataFrame, src: DataFrame): Column =
        keys.map(k => left(k) === src(s"$srcPrefix$k"))
          .reduce(_ && _)

      // ---- INSERT rows (source rows matching no target row) ----
      val inserts: Option[DataFrame] =
        if (notMatched.isEmpty) None
        else {
          val anti = source.join(
            cur.select(keys.map(col): _*).distinct(), keys,
            "left_anti")
          val insAct = notMatched.reverse.zip(
            (0 until notMatched.size).reverse)
            .foldLeft(lit(-1)) { case (acc, (cl, i)) =>
              when(coalesce(cl.cond.getOrElse(lit(true)), lit(false)),
                lit(i)).otherwise(acc)
            }
          val flagged = anti.withColumn("__graft_ins", insAct)
          val perClause = notMatched.zipWithIndex.map {
            case (MergeInsert(values, _), i) =>
              val vals: Map[String, Column] = values match {
                case Some(vs) =>
                  vs.foreach { case (c, _) =>
                    require(fieldType.contains(c),
                      s"INSERT target $c not in " +
                        schema.fieldNames.mkString(",")) }
                  require(vs.map(_._1).distinct.size == vs.size,
                    "duplicate INSERT targets: " +
                      vs.map(_._1).mkString(","))
                  vs.toMap
                case None =>
                  schema.fieldNames.toSeq
                    .filter(sourceHas)
                    .map(c => c -> col(c)).toMap
              }
              flagged.filter(col("__graft_ins") === i)
                .select(schema.fields.toSeq.map(f =>
                  vals.get(f.name)
                    .map(_.cast(f.dataType))
                    .getOrElse(lit(null).cast(f.dataType))
                    .as(f.name)): _*)
            case (other, _) => throw new IllegalStateException(
              s"unreachable: $other validated above")
          }
          Some(perClause.reduce(_.unionByName(_)))
        }

      // ---- planning pass: partitions where anything fires ----
      // without BY SOURCE clauses only key-matched rows can fire, so
      // the scan is the inner join (batch-sized source broadcast);
      // with them the semantics read every target row — one full pass
      val planFrame =
        if (bySourceX.isEmpty)
          cur.join(srcP, joinKeys(cur, srcP), "inner")
        else cur.join(srcP, joinKeys(cur, srcP), "left")
      val firedParts: Set[String] =
        if (matchedX.isEmpty && bySourceX.isEmpty) Set.empty
        else planFrame.withColumn("__graft_act", actionCol)
          .filter(col("__graft_act") =!= -1)
          .select(partKeyExpr(partCol)).distinct()
          .collect().map(r => nullSafe(r.getString(0))).toSet
      val insertParts: Set[String] = inserts match {
        case None => Set.empty
        case Some(ins) => ins.select(partKeyExpr(partCol)).distinct()
          .collect().map(r => nullSafe(r.getString(0))).toSet
      }
      val affected = firedParts ++ insertParts
      if (affected.isEmpty) return gen

      // ---- rewrite pass: ONLY the affected partitions ----
      // the left join must stay 1:<=1 per target row. With MATCHED
      // clauses the cardinality probe above refused duplicate keys
      // that match a target row; WITHOUT them duplicates are legal
      // SQL (an insert-only merge simply skips its matched copies),
      // so collapse the source to one row per key here — the join
      // consults only the match flag, and BY SOURCE clauses cannot
      // reference source columns (they are NULL on every fired row)
      val srcJ =
        if (matchedX.nonEmpty) srcP
        else srcP.dropDuplicates(keys.map(k => s"$srcPrefix$k"))
      val part = readPartitions(spark, root, affected.toSeq, Some(gen))
      val j = part.join(srcJ, joinKeys(part, srcJ), "left")
        .withColumn("__graft_act", actionCol)
      // every assignment RHS evaluates against the OLD row (computed
      // as fresh columns in one pass, then swapped in by select)
      val assigned = updates.flatMap(_._2.map(_._1)).distinct
      val withNew = assigned.foldLeft(j) { case (df, c) =>
        val chain = updates.filter(_._2.exists(_._1 == c))
          .foldRight(col(c): Column) { case ((idx, set), acc) =>
            val rhs = set.find(_._1 == c).get._2
            when(col("__graft_act") === idx,
              rhs.cast(fieldType(c))).otherwise(acc)
          }
        df.withColumn(s"__graft_new_$c", chain)
      }
      val kept =
        if (deleteIdx.isEmpty) withNew
        else withNew.filter(!col("__graft_act")
          .isin(deleteIdx.map(Integer.valueOf): _*))
      val rewritten = kept.select(schema.fields.toSeq.map { f =>
        (if (assigned.contains(f.name)) col(s"__graft_new_${f.name}")
         else col(f.name)).as(f.name)
      }: _*)
      val out = inserts match {
        case Some(ins) => rewritten.unionByName(ins)
        case None      => rewritten
      }
      beforePublish()
      try publishImpl(spark, out, root, partCol, expectations, keep,
        replaceAll = false, coalescePartitions = true, () => (),
        retainMs, Some(raw), replacedPartitions = affected)
      catch {
        case e: MetaSwap.CasFailed =>
          throw new RebaseSignal(gen, affected, e)
      }
    }
    withDisjointRebase(spark, root)(() => attempt())
  }

  /** APPEND (SQL `INSERT INTO` semantics): add `df`'s rows to the
    * table without touching any existing row — the fourth DML verb
    * beside DELETE/UPDATE/MERGE. Only the partitions `df` lands rows
    * in rewrite (their existing rows union the new ones); every
    * other partition's files ride byte-identical. `df` must match
    * the table schema BY NAME (each column casts to its recorded
    * type; extra or missing columns refuse — widening is a publish,
    * not an append side effect). Returns the committed generation
    * (the serving one for an empty `df`). CAS + disjoint rebase as
    * every partition-scoped writer.
    */
  def append(spark: SparkSession, df: DataFrame, root: String,
             expectations: Seq[graft.operators.Cleaning.Expectation] =
               Nil,
             keep: Int = 3, retainMs: Long = 0L): Long =
    appendImpl(spark, df, root, expectations, keep, retainMs, () => ())

  private[graft] def appendImpl(spark: SparkSession, df: DataFrame,
                                root: String,
                                expectations: Seq[graft.operators.Cleaning.Expectation],
                                keep: Int, retainMs: Long,
                                beforePublish: () => Unit): Long = {
    val fs = Tables.fsFor(spark, root)
    def attempt(): Long = {
      val (gen, raw) = servingPointer(spark, root)
      val m = manifestAt(spark, root, gen)
      val schema =
        org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
      val extra = df.columns.filterNot(schema.fieldNames.contains)
      val missing = schema.fieldNames.filterNot(df.columns.contains)
      require(extra.isEmpty && missing.isEmpty,
        s"append must match the table schema by name: " +
          (if (extra.nonEmpty) s"unknown [${extra.mkString(",")}] "
           else "") +
          (if (missing.nonEmpty) s"missing [${missing.mkString(",")}]"
           else "") +
          " — widen or project first (schema evolution is a publish)")
      val aligned = df.select(schema.fields.toSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*)
      val affected = aligned.select(partKeyExpr(m.partCol)).distinct()
        .collect().map(r => nullSafe(r.getString(0))).toSet
      if (affected.isEmpty) return gen
      val existing = readPartitions(spark, root, affected.toSeq,
        Some(gen))
      beforePublish()
      try publishImpl(spark, existing.unionByName(aligned), root,
        m.partCol, expectations, keep, replaceAll = false,
        coalescePartitions = true, () => (), retainMs, Some(raw))
      catch {
        case e: MetaSwap.CasFailed =>
          throw new RebaseSignal(gen, affected, e)
      }
    }
    withDisjointRebase(spark, root)(() => attempt())
  }

  /** PARTITION-SPEC MIGRATION, one call: republish the serving rows
    * under `newPartCol` as a `replaceAll` generation — the honest
    * form of spec evolution on a file-reuse layout (a lazy
    * two-spec manifest would make every scoped read consult two key
    * spaces forever; one bounded rewrite makes the steady state
    * simple). Old generations keep their recorded spec and stay
    * time-travelable under it (each manifest is self-describing);
    * every scoped op picks up the new spec from the serving manifest
    * on its next plan. Cost: one full read + partitioned write of
    * the CURRENT rows (bounded by table size, metadata excluded) —
    * the same bill as Iceberg's rewrite-data-files after a spec
    * change, paid once, up front, explicitly. Retention then ages
    * the old layout out normally. Returns the committed generation.
    * The commit CASes against the generation the rows were read
    * from, so a racing promotion fails loudly rather than being
    * silently dropped from the rebuilt table.
    */
  def repartitionTable(spark: SparkSession, root: String,
                       newPartCol: String,
                       expectations: Seq[graft.operators.Cleaning.Expectation] =
                         Nil,
                       keep: Int = 3, retainMs: Long = 0L,
                       statsCols: Seq[String] = Nil,
                       manifestGroups: Int = 0): Long = {
    val fs = Tables.fsFor(spark, root)
    val (gen, raw) = servingPointer(spark, root)
    val m = manifestAt(spark, root, gen)
    require(partColsOf(newPartCol).nonEmpty,
      s"empty partition-column spec: '$newPartCol'")
    val schema =
      org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    partColsOf(newPartCol).foreach(c =>
      require(schema.fieldNames.contains(c),
        s"partition column $c not in ${schema.fieldNames.mkString(",")}"))
    require(newPartCol != m.partCol,
      s"$root is already partitioned by $newPartCol")
    publishImpl(spark, readAt(spark, root, gen), root, newPartCol,
      expectations, keep, replaceAll = true,
      coalescePartitions = true, () => (), retainMs, Some(raw),
      statsCols = statsCols, manifestGroups = manifestGroups)
  }

  /** METADATA-ONLY COLUMN RENAME (S40 — the lakehouse formats' name
    * mapping, on the manifest layout): commit ONE new generation
    * whose entries (and, on a list layout, whose GROUP REFERENCES)
    * carry verbatim, whose recorded DDL renames the column, and
    * whose rename mapping gains `(old, new)` — not one data byte
    * moves, lists, or re-reads. Reads resolve each file era by the
    * physical name its parquet footers carry ([[readEntries]]'s
    * per-staging-token probe), so old files serve under the NEW name
    * and every pre-rename generation time-travels under its own
    * recorded schema.
    *
    * Refusals (all typed, nothing staged): unknown/duplicate names;
    * a PARTITION column (its name is baked into the recorded spec
    * and every scoped read — migrate with [[repartitionTable]]); a
    * HISTORICAL name (re-using a name a previous rename retired
    * would make the per-era footer resolution ambiguous). Declared
    * stat columns follow the rename; per-file stats recorded under
    * the old name stay conservative (never pruned on) until the
    * files rewrite. The mapping clears on a replaceAll rebuild —
    * fresh files carry current names only.
    */
  def renameColumn(spark: SparkSession, root: String,
                   oldName: String, newName: String,
                   keep: Int = 3, retainMs: Long = 0L): Long = {
    val fs = Tables.fsFor(spark, root)
    val (gen, raw) = servingPointer(spark, root)
    val gf = genFileAt(spark, root, gen)
    val schema =
      org.apache.spark.sql.types.StructType.fromDDL(gf.schemaDdl)
    require(schema.fieldNames.contains(oldName),
      s"column $oldName not in ${schema.fieldNames.mkString(",")}")
    require(!schema.fieldNames.contains(newName),
      s"column $newName already exists in " +
        schema.fieldNames.mkString(","))
    require(!partColsOf(gf.partCol).contains(oldName),
      s"cannot rename partition column $oldName: the recorded spec " +
        "and every scoped read key on it — migrate the spec with " +
        "repartitionTable")
    require(!gf.renames.exists(_._1 == newName),
      s"cannot rename to $newName: a previous rename retired that " +
        "name, and re-using it would make the per-era file " +
        "resolution ambiguous — pick another name or rebuild with " +
        "repartitionTable/replaceAll")
    val newDdl = org.apache.spark.sql.types.StructType(
      schema.fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f)).toDDL
    val newStats = gf.statsCols.map(c =>
      if (c == oldName) newName else c)
    val newRenames = gf.renames :+ (oldName -> newName)
    val renamed = gf match {
      case FlatGen(m) => FlatGen(m.copy(schemaDdl = newDdl,
        statsCols = newStats, renames = newRenames))
      case lg: ListGen => lg.copy(schemaDdl = newDdl,
        statsCols = newStats, renames = newRenames)
    }
    Generations.commitGeneration(fs, root, layout, Some(raw), keep,
      retainMs)(staging => writeGenFile(fs, root, staging.gen, renamed))
  }

  /** OPTIMISTIC REBASE (the Iceberg commit-conflict rule), shared by
    * every partition-scoped writer — merge, DELETE, UPDATE, and the
    * two OPTIMIZE forms: run `attempt` (which plans from the serving
    * generation and throws [[RebaseSignal]] on a lost pointer CAS);
    * when the racing winner's promotion touched a DISJOINT partition
    * set, re-running the attempt against the winner's manifest once
    * is equal to either sequential order — the carried entries rebase
    * for free because publish derives them from the NEW prior
    * manifest, and the DML predicate/sizing re-evaluates against the
    * winner's rows. An OVERLAPPING race rethrows the typed
    * [[MetaSwap.CasFailed]]: the op was computed against rows the
    * winner replaced, and only the caller can decide whether its
    * intent still holds. One bounded retry — a second loss stays
    * loud (pathological contention should page, not loop).
    */
  private def withDisjointRebase[T](spark: SparkSession, root: String)
                                   (attempt: () => T): T = {
    val fs = Tables.fsFor(spark, root)
    try attempt()
    catch {
      case rs: RebaseSignal =>
        // the planned-from manifest may have aged out under keep=1 —
        // then disjointness is unprovable and the race stays loud
        val plannedM =
          try manifestAt(spark, root, rs.plannedGen)
          catch { case _: graft.SnapshotUnavailable => throw rs.cause }
        val nowGen = currentGen(spark, root).getOrElse(throw rs.cause)
        val nowM = assemble(fs, root, genFileAt(spark, root, nowGen))
        if ((touchedBetween(plannedM, nowM) & rs.affected).nonEmpty)
          throw rs.cause
        try attempt()
        catch { case rs2: RebaseSignal => throw rs2.cause }
    }
  }

  /** Carrier for a lost CAS inside [[mergePartitionsImpl]]'s attempt:
    * the planned-from generation and the batch's partition set, so
    * the rebase decision runs outside the attempt.
    */
  private final class RebaseSignal(val plannedGen: Long,
                                   val affected: Set[String],
                                   val cause: MetaSwap.CasFailed)
      extends RuntimeException(cause)

  /** The partitions whose file-entry sets differ between two
    * manifests — what a racing winner's promotion touched.
    */
  private def touchedBetween(a: Manifest, b: Manifest): Set[String] = {
    def byPart(m: Manifest) =
      m.entries.groupBy(_.partition)
        .view.mapValues(_.map(_.relPath).toSet).toMap
    val (pa, pb) = (byPart(a), byPart(b))
    (pa.keySet | pb.keySet).filter(p => pa.get(p) != pb.get(p))
  }

  /** Zero-downtime OPTIMIZE, file-level: rewrite ONLY the partitions
    * whose current layout has more files than
    * `ceil(bytes / targetBytesPerFile)` — well-laid-out partitions'
    * files ride into the new generation untouched. Sizing is pure
    * metadata (one stat per manifest entry); the rewrite reads and
    * writes only the offending partitions. Returns the number of
    * partitions rewritten (0 = nothing to do, no new generation).
    */
  def compactSmallPartitions(spark: SparkSession, root: String,
                             targetBytesPerFile: Long,
                             keep: Int = 3, retainMs: Long = 0L): Int =
    compactSmallPartitionsImpl(spark, root, targetBytesPerFile, keep,
      retainMs, () => ())

  /** [[compactSmallPartitions]] with the race-window hook — disjoint
    * races rebase once (the retry re-sizes against the winner's
    * manifest), overlapping races stay loud
    * ([[withDisjointRebase]]).
    */
  private[graft] def compactSmallPartitionsImpl(spark: SparkSession,
                                                root: String,
                                                targetBytesPerFile: Long,
                                                keep: Int,
                                                retainMs: Long,
                                                beforePublish: () => Unit)
      : Int = {
    require(targetBytesPerFile > 0)
    // maintenance PREFLIGHT (the compaction-entry discipline every
    // persisted store carries): an unhealthy table — a manifest
    // naming a missing file, a damaged pointer — refuses TYPED
    // before any sizing or rewrite, naming the finding and the
    // remedy surface, rather than baking a partial table into a
    // fresh generation or crashing mid-rewrite on the damage the
    // fsck exists to diagnose
    graft.operators.IndexAudit.auditManifestTable(spark, root)
      .find(!_.healthy)
      .foreach(f => throw new graft.IndexUnhealthy(
        s"manifest table at $root is unhealthy " +
          s"(${f.kind}/${f.name}: ${f.status}) — compaction would " +
          "republish damaged state; run IndexAudit.auditManifestTable " +
          "for the full report and repairManifestTable / restore the " +
          "named file, then retry"))
    def attempt(): Int = {
    val fs = Tables.fsFor(spark, root)
    // CAS expectation captured with the sizing read: a promotion
    // landing mid-OPTIMIZE fails this publish loudly (re-run the
    // maintenance) instead of being silently overwritten
    val (gen, raw) = servingPointer(spark, root)
    val m = manifestAt(spark, root, gen)
    val byPart = m.entries.groupBy(_.partition)
    val offenders = byPart.filter { case (_, es) =>
      val bytes = es.map(e =>
        fs.getFileStatus(new Path(s"$root/${e.relPath}")).getLen).sum
      val want = math.max(1L,
        (bytes + targetBytesPerFile - 1) / targetBytesPerFile)
      es.size > want
    }.keys.toSeq.sorted
    if (offenders.isEmpty) 0
    else {
      // each offender re-splits to its own target file count: a tiny
      // (partition → want) table broadcast onto the rows, a salt in
      // [0, want), and a shuffle keyed (partition, salt) so each
      // partition lands in ≈want tasks → ≈want files
      import org.apache.spark.sql.functions.{broadcast, lit,
        monotonically_increasing_id, pmod}
      import spark.implicits._
      val want = offenders.map { p =>
        val es = byPart(p)
        val bytes = es.map(e =>
          fs.getFileStatus(new Path(s"$root/${e.relPath}")).getLen).sum
        (p, math.max(1L,
          (bytes + targetBytesPerFile - 1) / targetBytesPerFile))
      }.toDF("__pv", "__want")
      val rows = readPartitions(spark, root, offenders, Some(gen))
      val resized = rows
        // null AND empty-string partition rows land in the sentinel
        // directory (nullSafe's contract), so both must join their
        // sentinel-keyed want row; hierarchical tables key on the
        // escaped tuple — partValueExpr matches the manifest-recorded
        // value in both layouts
        .withColumn("__pv", partValueExpr(m.partCol))
        .join(broadcast(want), Seq("__pv"))
        .withColumn("__salt",
          pmod(monotonically_increasing_id(), col("__want")))
        .repartition(col("__pv"), col("__salt"))
        .drop("__pv", "__want", "__salt")
      beforePublish()
      // replacedPartitions names every offender explicitly: a
      // partition whose rows are FULLY masked by deletion vectors
      // (S37) stages no rows, and without the explicit drop its old
      // entries (data + vectors) would carry forever — naming it
      // reclaims it (it serves zero rows either way)
      try publishImpl(spark, resized, root, m.partCol, Nil, keep,
        replaceAll = false, coalescePartitions = false, () => (),
        retainMs, Some(raw), replacedPartitions = offenders.toSet)
      catch {
        case e: MetaSwap.CasFailed =>
          throw new RebaseSignal(gen, offenders.toSet, e)
      }
      offenders.size
    }
    }
    withDisjointRebase(spark, root)(() => attempt())
  }

  /** CLUSTERED OPTIMIZE (S26): rewrite partitions with rows
    * RANGE-CLUSTERED on `sortCols`, so each data file covers a
    * narrow, disjoint slice of the sort key — which is what makes
    * the S22 per-file stats actually PRUNE: a fresh append's files
    * each span the whole key range (every file overlaps every
    * predicate → nothing skips), while after clustering a range
    * read's [lo, hi] intersects only the files whose slice overlaps
    * it. The Z-ORDER/SORT-BY table maintenance of the big table
    * formats, restated on the manifest layer (single-key clustering;
    * for multi-key locality compose with [[Tables]]' S11 z-value as
    * a derived sort column).
    *
    * `partitions = None` clusters the whole table; pass a list to
    * cluster only hot partitions — every other partition's files
    * ride into the new generation byte-identical (the S17 contract),
    * so the maintenance cost is O(clustered partitions), never
    * O(table). File sizing: the clustered rows split into
    * ≈`targetBytesPerFile`-input-bytes files via one
    * `repartitionByRange` over (partition, sortCols…) — Spark's
    * range sampler draws the boundaries, each output task holds one
    * contiguous slice, and a boundary task spanning two partition
    * values still writes per-value files with disjoint slices. Rows
    * are additionally sorted WITHIN files, so parquet row-group
    * stats tighten too (min/max per page/group — the engine-level
    * skip a pushed-down range filter uses on top of the entry-level
    * prune).
    *
    * Same maintenance contract as [[compactSmallPartitions]]:
    * fsck preflight (refuses typed on an unhealthy table), CAS
    * against the generation the sizing was computed from, stats
    * re-recorded for the rewritten files (statsCols inherit), grace
    * honored. Returns the number of partitions rewritten.
    */
  def clusterPartitions(spark: SparkSession, root: String,
                        sortCols: Seq[String],
                        targetBytesPerFile: Long,
                        partitions: Option[Seq[String]] = None,
                        keep: Int = 3, retainMs: Long = 0L): Int =
    clusterPartitionsImpl(spark, root, sortCols, targetBytesPerFile,
      partitions, keep, retainMs, () => ())

  /** [[clusterPartitions]] with the race-window hook — disjoint races
    * rebase once, overlapping races stay loud
    * ([[withDisjointRebase]]).
    */
  private[graft] def clusterPartitionsImpl(spark: SparkSession,
                                           root: String,
                                           sortCols: Seq[String],
                                           targetBytesPerFile: Long,
                                           partitions: Option[Seq[String]],
                                           keep: Int, retainMs: Long,
                                           beforePublish: () => Unit)
      : Int = {
    require(sortCols.nonEmpty, "clusterPartitions needs sort columns")
    require(targetBytesPerFile > 0)
    graft.operators.IndexAudit.auditManifestTable(spark, root)
      .find(!_.healthy)
      .foreach(f => throw new graft.IndexUnhealthy(
        s"manifest table at $root is unhealthy " +
          s"(${f.kind}/${f.name}: ${f.status}) — clustering would " +
          "republish damaged state; run IndexAudit.auditManifestTable " +
          "for the full report and repairManifestTable / restore the " +
          "named file, then retry"))
    def attempt(): Int = {
    val (gen, raw) = servingPointer(spark, root)
    val fs = Tables.fsFor(spark, root)
    val m = manifestAt(spark, root, gen)
    sortCols.foreach(c => require(
      org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
        .fieldNames.contains(c),
      s"sort column $c not in the table schema"))
    val served = m.entries.map(_.partition).distinct
    val affected = partitions.map(_.map(nullSafe))
      .getOrElse(served).filter(served.toSet)
    if (affected.isEmpty) return 0
    val bytes = m.entries.filter(e => affected.toSet(e.partition))
      .map(e => fs.getFileStatus(new Path(s"$root/${e.relPath}"))
        .getLen).sum
    val nFiles = math.max(1L,
      (bytes + targetBytesPerFile - 1) / targetBytesPerFile).toInt
    val rows = readPartitions(spark, root, affected, Some(gen))
    val keyCols = partColsOf(m.partCol).map(col) ++ sortCols.map(col)
    val clustered = rows
      .repartitionByRange(nFiles, keyCols: _*)
      .sortWithinPartitions(keyCols: _*)
    beforePublish()
    try publishImpl(spark, clustered, root, m.partCol, Nil, keep,
      replaceAll = false, coalescePartitions = false, () => (),
      retainMs, Some(raw), replacedPartitions = affected.toSet)
    catch {
      case e: MetaSwap.CasFailed =>
        throw new RebaseSignal(gen, affected.toSet, e)
    }
    affected.size
    }
    withDisjointRebase(spark, root)(() => attempt())
  }
}
