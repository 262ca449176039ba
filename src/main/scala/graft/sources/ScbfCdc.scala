package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Row-level CHANGE DATA CAPTURE for SCBF tables — the consumer shape
 * the netting feed (`changesSince`, rows-ADDED contract) cannot
 * serve: a window spanning a DELETE/UPDATE/MERGE enumerated as rows
 * with a `_change_type`, Delta-CDF style, instead of gating on
 * `onChangeCommit`. An incremental consumer downstream of a takedown
 * applies the delete rows; it no longer full-resyncs.
 *
 * The frozen reference format records nothing row-level (reference:
 * writer.py, reader.py — storage only), so CDC works the way every
 * sidecar feature here does: OUTSIDE the `.scbf` bytes, in a
 * dot-prefixed area reference tooling never sees.
 *
 * Layout — `<table>/.scbf.cdc/`:
 *  - `_enabled` — the opt-in marker ([[enable]]); mutations probe it
 *    once per commit. CDC retention costs disk (victims are RETAINED,
 *    not deleted) so it is opt-in, exactly like Delta's
 *    `enableChangeDataFeed`.
 *  - `<tag>/pre/<root-relative-name>` — every victim file a captured
 *    rewrite replaced, RENAMED here (plus its stats/bloom sidecars):
 *    zero-copy retention — at 100 TB a takedown stays O(files)
 *    metadata ops, never a second write of the bytes. Retention is
 *    what keeps (a) an in-window add enumerable after a later rewrite
 *    and (b) `TIMESTAMP AS OF` exact across physical rewrites
 *    (ScbfDiscovery.filesAsOf recovers victims from here).
 *  - `<tag>/rows/<change_type>/` — .scbf files: the commit's MATERIALIZED
 *    change rows (change_type ∈ delete | update_pre | update_post |
 *    insert), written at mutation commit while both victim and
 *    replacement bytes are addressable — sized by the rewrite's
 *    scope, not the table.
 *  - `<tag>/_whole` — victim names whose EVERY row is a delete row
 *    (the whole-file fast paths): their delete rows are served
 *    straight from `pre/` — the zero-IO takedown stays zero-IO.
 *
 * The commit's discovery-log entries carry the tag (`D:<tag>`,
 * [[ScbfDiscovery.Entry.cdcTag]] — trailing-tag compatible: old
 * readers ignore it). Tag = `<kind>-<uuid8>`, kind ∈ delete | update
 * | merge | compact | overwrite; `compact` tags retain bytes but
 * enumerate nothing (rows unchanged).
 *
 * Exactness, stated honestly:
 *  - API DELETE/UPDATE ([[ScbfDelete]]) materialize EXACT rows — the
 *    condition and SET expressions are in hand, so `update_pre`/
 *    `update_post` pair exactly (no-op updates included, like Delta).
 *  - SQL COW ops ([[ScbfRowLevelOp]]) materialize VALUE-LEVEL deltas
 *    (victims ∖ replacements / replacements ∖ victims, multiset):
 *    Spark's group-based ReplaceData hands the writer finished rows
 *    with the per-row operation marker projected away (the metadata-
 *    attribute path), so row lineage is not observable. An UPDATE
 *    that swaps two rows' values, or rewrites a row to a value it
 *    already had, nets out of the delta. MERGE changes enumerate as
 *    delete + insert pairs (an updated row's pre-image cannot be told
 *    from a deleted row's without lineage).
 *  - Mutations committed while CDC was OFF have no retained bytes:
 *    a window spanning one REFUSES loudly, naming the cure.
 *
 * Unlike the netting feed, CDC is a change LOG: an in-window add that
 * is deleted in-window yields BOTH its insert rows and its delete
 * rows (the feed nets them to zero) — per-commit enumeration, Delta
 * `table_changes` semantics. `_commit_timestamp` carries each change
 * commit's instant (the monotonic commit clock makes it a total
 * order; ordinals folded by compaction stay renderable this way —
 * timestamps are the finest durable axis).
 *
 * Scale shape of [[changes]]: the log replay is the feed's bounded
 * strict replay (deltas named after `lo` only); the result is built
 * as ONE scan per change type (not per commit) over the resolved
 * file lists, stamped via a broadcast path→commit-instant join — the
 * plan stays a handful of scans regardless of how many commits the
 * window spans, and every scan is the connector's own (stats
 * skipping, column pruning, codegen all apply).
 */
object ScbfCdc extends org.apache.spark.internal.Logging {

  val DirName = ".scbf.cdc"
  private val EnabledMarker = "_enabled"
  private val WholeList = "_whole"

  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"
  val CommitTsCol = "_commit_timestamp"
  /** The materialized change types a tag's `rows/` area may hold. */
  val ChangeTypes: Seq[String] = Seq("delete", "update_pre", "update_post", "insert")

  /** One enumerated change file: every row in `path` (length `len`,
   * for planning) is one `changeType` row of the commit at `ts`
   * (ordinal `version` — None only when the commit was folded by a
   * pre-version-recording engine; see [[ScbfDiscovery.Entry
   * .commitVersion]]). */
  private[sources] final case class ChangeFile(path: String, len: Long,
      ts: Long, version: Option[Int], changeType: String)

  def dir(root: Path): Path = new Path(root, DirName)

  /** Opt in to CDC capture: mutations on this table will retain their
   * victims and materialize row-level changes from now on. */
  def enable(root: Path, conf: Configuration): Unit = {
    val fs = root.getFileSystem(conf)
    val marker = new Path(dir(root), EnabledMarker)
    fs.mkdirs(dir(root))
    if (!fs.exists(marker)) {
      val out = fs.create(marker, true)
      try out.write("cdc\t1\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  /** Capture probe, once per mutation commit. Errors degrade to FALSE:
   * retention is lost for that commit, which a later CDC window
   * REFUSES loudly (never wrong rows) — whereas failing the mutation
   * itself over a CDC probe would hold correctness hostage to an
   * optional feature. */
  def enabled(root: Path, conf: Configuration): Boolean =
    try root.getFileSystem(conf).exists(new Path(dir(root), EnabledMarker))
    catch { case NonFatal(_) => false }

  /** One tag per captured commit: `<kind>-<uuid8>`. */
  def newTag(kind: String): String = {
    require(Set("delete", "update", "merge", "compact", "overwrite")(kind),
      s"unknown CDC kind $kind")
    s"$kind-${java.util.UUID.randomUUID().toString.take(8)}"
  }

  def kindOf(tag: String): String = tag.takeWhile(_ != '-')

  /** Where a retained victim's bytes live: root-relative name under
   * the tag's `pre/` area (partition subpaths preserved — names stay
   * collision-free and self-describing). */
  def preservedPath(root: Path, tag: String, relName: String): Path =
    new Path(dir(root), s"$tag/pre/$relName")

  def rowsDir(root: Path, tag: String, changeType: String): Path =
    new Path(dir(root), s"$tag/rows/$changeType")

  private def wholePath(root: Path, tag: String): Path =
    new Path(dir(root), s"$tag/$WholeList")

  /** Root-relative name of a file under `qroot`. */
  def relName(fs: org.apache.hadoop.fs.FileSystem, qroot: Path, p: Path): String =
    qroot.toUri.relativize(fs.makeQualified(p).toUri).getPath.stripPrefix("/")

  /**
   * Retain victims: RENAME each data file (and its stats/bloom
   * sidecars — retained reads keep stats skipping) into the tag's
   * `pre/` area, parallel on the shared IO pool like every bulk
   * file-op here (a whole-partition takedown can move 10⁵ files; the
   * latencies must overlap). Zero-copy on filesystems with native
   * rename; object stores pay a server-side copy — the price of
   * retention, documented.
   *
   * A failed rename falls back to DELETE: the mutation's contract
   * (victims stop being part of the table) must hold even when
   * retention cannot — the gap surfaces as a loud CDC-read refusal
   * later, never as resurrected rows.
   */
  def retain(fs: org.apache.hadoop.fs.FileSystem, qroot: Path, tag: String,
      victims: Seq[Path]): Unit = {
    victims.map(p => ScbfStats.ioPool.submit(
      new java.util.concurrent.Callable[Unit] {
        override def call(): Unit = {
          val dest = preservedPath(qroot, tag, relName(fs, qroot, p))
          fs.mkdirs(dest.getParent)
          val ok = try fs.rename(p, dest) catch { case NonFatal(_) => false }
          if (ok) {
            // sidecar renames CHECKED (ADVICE r13): a failed one would
            // silently orphan the sidecar at the old path and cost
            // retained reads their stats skipping — log, then delete
            // the orphan (an absent sidecar is always correct; a
            // wrong-keyed one is listing litter)
            def moveSidecar(src: Path, dst: Path, what: String): Unit =
              if (fs.exists(src)) {
                val moved = try fs.rename(src, dst)
                  catch { case NonFatal(_) => false }
                if (!moved) {
                  logWarning(s"CDC retention: could not rename $what " +
                    s"sidecar $src to $dst — retained reads of $dest lose " +
                    s"$what skipping; deleting the orphan")
                  try fs.delete(src, false) catch { case NonFatal(_) => () }
                }
              }
            moveSidecar(ScbfStats.sidecarPath(p), ScbfStats.sidecarPath(dest), "stats")
            moveSidecar(ScbfBloom.bloomPath(p), ScbfBloom.bloomPath(dest), "bloom")
          } else if (fs.exists(p)) { // a victim already gone has nothing to retain
            logWarning(s"CDC retention: could not rename $p to $dest — " +
              "deleting instead; a CDC window over this commit will refuse")
            ScbfOcc.deleteWithSidecars(fs, p)
          }
        }
      })).foreach(_.get())
  }

  /** Record victims whose EVERY row is a delete row (whole-file fast
   * paths) — their delete rows serve straight from `pre/`. */
  def recordWhole(fs: org.apache.hadoop.fs.FileSystem, qroot: Path, tag: String,
      relNames: Seq[String]): Unit =
    if (relNames.nonEmpty) {
      val p = wholePath(qroot, tag)
      fs.mkdirs(p.getParent)
      val out = fs.create(p, true)
      try out.write((relNames.sorted.mkString("\n") + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }

  private def readWhole(fs: org.apache.hadoop.fs.FileSystem, qroot: Path,
      tag: String): Seq[String] = {
    val p = wholePath(qroot, tag)
    if (!fs.exists(p)) return Seq.empty
    val len = fs.getFileStatus(p).getLen.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    new String(buf, java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").toSeq.filter(_.nonEmpty)
  }

  /**
   * The CDC enumeration: every row-level change committed in
   * `(lo, hi]`, exclusive-start/inclusive-end like the netting feed,
   * with `_change_type`, `_commit_version` and `_commit_timestamp`
   * appended to the table schema (Delta CDF's three axes).
   * `_commit_version` is the change commit's DESCRIBE HISTORY COMMITS
   * ordinal — exact for live deltas (derived from the chain) and
   * across folds written by this engine (folds stamp each folded
   * commit's ordinal into its entries — `V:` tag); NULL only for
   * history folded by a pre-version-recording build, where the
   * boundary is genuinely unrecorded (timestamps remain the durable
   * axis, exactly the VERSION-AS-OF contract). Start/end accept the
   * same two spellings as the feed: epoch millis or a commit ordinal
   * (resolved through `versionTs` — same refusals).
   */
  def changes(spark: SparkSession, rootDir: String,
      since: Option[Long] = None, sinceVersion: Option[Int] = None,
      until: Option[Long] = None, untilVersion: Option[Int] = None,
      // bypassed-producer trust check, same default and same bill as
      // the netting feed's (ONE table listing): a data file newer
      // than the start point that the log never announced makes the
      // enumeration refuse rather than silently omit its rows
      reconcile: Boolean = true): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(rootDir)
    val fs = root.getFileSystem(conf)
    val qroot = fs.makeQualified(root)
    def refuse(why: String): Nothing =
      throw new graft.scbf.ScbfFormatException(s"CDC read on $qroot: $why")
    require(since.isDefined ^ sinceVersion.isDefined,
      "set exactly one of since / sinceVersion")
    require(!(until.isDefined && untilVersion.isDefined),
      "set at most one of until / untilVersion")
    if (!ScbfDiscovery.exists(qroot, conf))
      refuse(if (ScbfClone.isClone(qroot, conf))
        "the SHALLOW CLONE has no commits of its own yet — a clone's " +
          "recorded history begins with its first append (the ref list IS " +
          "the branch point). Read CDC from the SOURCE table for " +
          "pre-branch history."
      else "the table has no discovery log — CDC replays the log's " +
        "version chain. Tables written by this connector keep one " +
        "automatically; foreign/reference-tool directories have no " +
        "recorded history.")
    val lo = since.getOrElse(ScbfDiscovery.versionTs(qroot, conf, sinceVersion.get))
    val hi = until.orElse(untilVersion.map(v => ScbfDiscovery.versionTs(qroot, conf, v)))
      .getOrElse(Long.MaxValue)
    if (lo >= hi)
      refuse(s"the start point ($lo) is not before the end point ($hi) — " +
        "the window is exclusive-start/inclusive-end.")
    assemble(spark, rootDir, enumerateBetween(conf, rootDir, lo, hi, reconcile))
  }

  /**
   * Driver-side (pure metadata) half of the CDC read, shared by the
   * batch [[changes]] and the streaming source ([[ScbfCdcMicroBatchStream]]):
   * resolve the window `(lo, hi]` to the exact file set whose rows ARE
   * the changes, each stamped with its change type, commit instant and
   * commit ordinal. All the fail-closed refusals live here so every
   * consumer gets them: clone / no-log / overwrite-boundary /
   * uncaptured-mutation / swept-retention / bypassed-producer.
   */
  private[sources] def enumerateBetween(conf: Configuration, rootDir: String,
      lo: Long, hi: Long, reconcile: Boolean,
      // audit floor override: a PERIODIC (every-Nth-trigger) stream
      // audit must cover every file written since the LAST audit, not
      // just since this trigger's start — a sliding per-trigger bound
      // would let a bypassed file written between audits age out of
      // every window it is checked against
      auditSince: Option[Long] = None): Seq[ChangeFile] = {
    val root = new Path(rootDir)
    val fs = root.getFileSystem(conf)
    val qroot = fs.makeQualified(root)
    def refuse(why: String): Nothing =
      throw new graft.scbf.ScbfFormatException(s"CDC read on $qroot: $why")

    // SHALLOW CLONE: the branch's own post-clone commits ARE recorded
    // (its appends commit to its own log), so a window inside them
    // serves normally with branch-LOCAL ordinals; a window reaching
    // past the branch point would claim source history the clone never
    // recorded — refuse, naming the source-table cure.
    if (ScbfClone.isClone(qroot, conf)) {
      // the branch point: the ref list's mtime — floored by the first
      // RECORDED entry stamp, so an mtime-resetting copy (cp -r,
      // distcp, object-store migration) can never make genuinely
      // recorded branch-local history refuse. An unreadable ref file
      // refuses with the REAL error, not a misleading window message.
      val refTs =
        try fs.getFileStatus(ScbfClone.refPath(qroot)).getModificationTime
        catch { case NonFatal(ex) =>
          refuse(s"cannot verify the clone's branch point (${ex.getMessage}); " +
            "retry, or read CDC from the SOURCE table.")
        }
      val firstRecorded = ScbfDiscovery.listDeltas(qroot, conf).sorted.headOption
        .flatMap(n => ScbfDiscovery.readDelta(qroot, conf, n)
          .map(_.ts).minOption)
      val branchTs = math.min(refTs, firstRecorded.getOrElse(Long.MaxValue))
      if (lo < branchTs)
        refuse(s"the window starts ($lo) before the clone's branch point " +
          s"($branchTs) — a SHALLOW CLONE records only its own post-clone " +
          "commits (the ref list IS the branch point). Read CDC from the " +
          "SOURCE table for pre-branch history, or start the window at or " +
          "after the branch point.")
    }

    // ts → commit ordinal over the CURRENT chain: an entry stamped t
    // belongs to the first chain delta whose publication instant is
    // ≥ t (the commit clock separates successive commits strictly, and
    // a delta's instant — v1 name millis / v2 tsb- marker — bounds its
    // own entry stamps from above; a markerless crashed delta falls
    // back to one small read of its max entry stamp). Exact for
    // span-1 deltas; a fold's interior resolves through the entry's own
    // V: tag instead (folds stamp ordinals as they fold — see compact).
    val chainListing = ScbfDiscovery.listLog(qroot, conf)
    val chainBounds: Seq[(Long, Int, Int)] =
      ScbfDiscovery.versionedChain(qroot, conf).flatMap { case (n, f, l) =>
        chainListing.instants.get(n)
          .orElse(ScbfDiscovery.readDelta(qroot, conf, n)
            .iterator.map(_.ts).maxOption)
          .map(m => (m, l, l - f + 1))
      }
    def versionOf(e: ScbfDiscovery.Entry): Option[Int] =
      e.commitVersion.orElse(chainBounds.find(_._1 >= e.ts) match {
        case Some((_, last, 1)) => Some(last)
        case _ => None
      })

    val entries = ScbfDiscovery.replayEntriesAfter(qroot, conf, lo, refuse)
      .values.toSeq
    // a full INSERT OVERWRITE restarted the log: records before it are
    // GONE (uncaptured — reset retains nothing), so any window that
    // must see past it is unknowable. The boundary entry is durable
    // across folds; refuse whether it lands in- or post-window (a
    // post-window overwrite deleted the window's log records too).
    entries.find(_.name.startsWith(ScbfDiscovery.OverwriteBoundaryPrefix))
      .foreach(b => refuse(s"the table was fully overwritten (INSERT " +
        s"OVERWRITE, at ${b.ts}) after the start point — every pre-existing " +
        "row was replaced and the restarted log retains no records from " +
        "before it; the window cannot be enumerated. Resync from a full " +
        "read and feed from a post-overwrite point."))

    // fail CLOSED on a producer writing around the connector — a CDC
    // mirror that silently omitted such a file's rows would claim a
    // sync it does not have (identical contract and identical cost to
    // changedFilesBetween's reconcile; connector-only pipelines can
    // opt out and keep planning at O(changes))
    if (reconcile) {
      val auditLo = auditSince.getOrElse(lo)
      val announced = entries.map(_.name).toSet ++ (
        // a widened audit floor reaches back across already-delivered
        // triggers, whose announced files this replay no longer holds
        // — re-list the chain's announcements for the widened span so
        // legitimately-announced files don't read as bypassed
        if (auditLo < lo)
          ScbfDiscovery.replayEntriesAfter(qroot, conf, auditLo, refuse).keySet
        else Set.empty[String])
      val bypassed = ScbfDataSource.resolveFiles(Seq(qroot.toString), conf)
        .filter(_.getModificationTime > auditLo)
        .map(f => relName(fs, qroot, f.getPath))
        .filterNot(announced)
      if (bypassed.nonEmpty)
        refuse(s"data files newer than the start point exist that the " +
          s"discovery log never announced (${bypassed.take(3).mkString(", ")}" +
          s"${if (bypassed.size > 3) ", …" else ""}) — a producer bypassed " +
          "the connector (or file clocks are skewed); the enumeration " +
          "cannot be trusted. Resync from a full read, or pass " +
          "reconcile=false if these files are intentionally foreign.")
    }

    // victim → retaining tag, from every post-lo captured rewrite: how
    // an in-window add's bytes are found after a later rewrite moved them
    val victimTag = scala.collection.mutable.HashMap.empty[String, String]
    entries.foreach(e => e.cdcTag.foreach(t =>
      e.rewriteOf.foreach(v => victimTag.getOrElseUpdate(v, t))))

    def inWindow(t: Long): Boolean = t > lo && t <= hi
    def isRemoval(e: ScbfDiscovery.Entry): Boolean =
      e.len < 0 || e.name.endsWith(ScbfDiscovery.RemovalSuffix)

    // ---- inserts: plain adds committed in the window --------------
    val adds = entries.filter(e =>
      inWindow(e.ts) && e.rewriteOf.isEmpty && !isRemoval(e))
    val addStatuses = ScbfDiscovery.statPooled(fs, qroot,
      adds.map(e => victimTag.get(e.name) match {
        // a later CAPTURED rewrite moved the bytes into retention:
        // serve them from there, under the retained (relative) name
        case Some(tag) => e.copy(
          name = s"$DirName/$tag/pre/${e.name}")
        case None => e
      }).sortBy(_.name),
      onMissing = e =>
        refuse(s"file ${e.name} holds rows added in the window but its " +
          "bytes are gone — a rewrite that predates CDC capture removed " +
          "them without retention, ScbfCdc.vacuum (or an external sweep) " +
          "reclaimed the retained copy, or a producer bypassed the " +
          "connector. Enable CDC before mutations and keep retention " +
          "beyond your widest window, or resync from a full read."),
      onResized = (e, len) =>
        refuse(s"file ${e.name} changed length ($len != recorded " +
          s"${e.len}) without a log entry — a producer bypassed the " +
          "connector; the enumeration cannot be trusted."))
    // path → commit instant for the stamp join (adds keep their own
    // commit's ts even when served from a later rewrite's retention)
    val addFiles = addStatuses.zip(adds.sortBy(a =>
        victimTag.get(a.name).fold(a.name)(t => s"$DirName/$t/pre/${a.name}")))
      .map { case (st, e) =>
        ChangeFile(st.getPath.toString, st.getLen, e.ts, versionOf(e), "insert") }

    // ---- changes: captured row-changing commits in the window -----
    val changed = entries.filter(e => inWindow(e.ts) && e.rowsChanged)
    changed.filter(_.cdcTag.isEmpty).sortBy(_.ts).headOption.foreach(e =>
      refuse(s"a ${if (isRemoval(e)) "takedown" else "DELETE/UPDATE/MERGE"} " +
        s"at ${e.ts} (${e.name}) was committed without CDC capture — its " +
        "removed/changed rows were not retained and cannot be enumerated. " +
        "Enable CDC (ScbfCdc.enable / TBLPROPERTIES 'cdc'='true') before " +
        "mutations, or resync via the rows-added feed (changesSince with " +
        "an onChangeCommit policy)."))
    val byTag = changed.filter(_.cdcTag.isDefined)
      .groupBy(_.cdcTag.get)
    val changeFiles = byTag.toSeq.flatMap { case (tag, es) =>
      val ts = es.head.ts
      val ver = versionOf(es.head)
      if (kindOf(tag) == "compact") Seq.empty // rows unchanged; retention only
      else {
        // fail CLOSED on swept retention: a tagged commit whose CDC
        // area is gone (vacuum, external sweep) must refuse, never
        // silently enumerate zero rows for a change that had some
        if (!fs.exists(new Path(dir(qroot), tag)))
          refuse(s"the CDC area for the change commit at $ts (tag $tag) " +
            "is missing — swept (ScbfCdc.vacuum or an external cleanup), " +
            "or the capture crashed between the log append and retention " +
            "(the tagged entry publishes first) — its rows can no longer " +
            "be enumerated; resync from a full read and feed from a later " +
            "point.")
        // whole-file delete rows serve straight from pre/: a removal
        // entry (metadata-only takedown) and an overwrite victim set
        // are whole by construction; a mixed partial round lists its
        // whole victims in _whole
        val wholeRel: Seq[String] =
          if (es.exists(isRemoval) || kindOf(tag) == "overwrite")
            es.flatMap(_.rewriteOf).distinct
          else readWhole(fs, qroot, tag)
        val wholeFiles = wholeRel.map(r => preservedPath(qroot, tag, r))
          .map { p =>
            val st =
              try fs.getFileStatus(p)
              catch { case _: java.io.FileNotFoundException =>
                refuse(s"CDC area for commit at $ts (tag $tag) is missing " +
                  s"retained victim $p — a crashed capture or an external " +
                  "sweep; resync from a full read.")
              }
            ChangeFile(p.toString, st.getLen, ts, ver, "delete")
          }
        val rowFiles = ChangeTypes.flatMap { ct =>
          val d = rowsDir(qroot, tag, ct)
          val listed =
            try {
              if (!fs.exists(d)) Seq.empty
              else fs.listStatus(d).toSeq.filter(f =>
                f.isFile && ScbfDataSource.isDataFile(f.getPath))
            } catch { case NonFatal(ex) =>
              refuse(s"CDC rows area $d is unlistable (${ex.getMessage}); " +
                "resync from a full read.")
            }
          listed.map(f => ChangeFile(f.getPath.toString, f.getLen, ts, ver, ct))
        }
        wholeFiles ++ rowFiles
      }
    }
    // deterministic order: the streaming source replans (start, end]
    // windows on restart and must enumerate the identical sequence
    (addFiles ++ changeFiles).sortBy(c => (c.ts, c.changeType, c.path))
  }

  /** The three CDC metadata fields appended to a table's schema. */
  def metaFields: Seq[org.apache.spark.sql.types.StructField] = Seq(
    org.apache.spark.sql.types.StructField(ChangeTypeCol,
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField(CommitVersionCol,
      org.apache.spark.sql.types.IntegerType, nullable = true),
    org.apache.spark.sql.types.StructField(CommitTsCol,
      org.apache.spark.sql.types.TimestampType, nullable = false))

  /** DataFrame half of the batch CDC read: one scan per change type
   * over the enumerated file set (not per commit), stamped via a
   * broadcast path→(instant, ordinal) join — the plan stays a handful
   * of scans regardless of how many commits the window spans. */
  private def assemble(spark: SparkSession, rootDir: String,
      all: Seq[ChangeFile]): DataFrame = {
    val tableSchema = spark.read.format("scbf").load(rootDir).schema
    val outSchema = org.apache.spark.sql.types.StructType(
      tableSchema.fields ++ metaFields)
    if (all.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    val tableCols = tableSchema.fieldNames.toSeq
    import spark.implicits._
    val parts = all.groupBy(_.changeType).toSeq.sortBy(_._1).map { case (ct, cfs) =>
      val lookup = broadcast(cfs.map(c => (c.path, c.ts, c.version))
        .toDF("_cdc_path", "_cdc_ts", "_cdc_v"))
      spark.read.format("scbf").load(cfs.map(_.path): _*)
        .withColumn("_cdc_fp", col(ScbfDataSource.FilePathCol))
        .join(lookup, col("_cdc_fp") === col("_cdc_path"), "left")
        .select(tableCols.map(col) ++ Seq(
          lit(ct).as(ChangeTypeCol),
          col("_cdc_v").as(CommitVersionCol),
          // the stamp join is by exact scan-path string; a miss means
          // the path rendering drifted from the scan's — fail loudly
          // rather than emit a null commit instant
          when(col("_cdc_ts").isNotNull, timestamp_millis(col("_cdc_ts")))
            .otherwise(raise_error(concat(lit("CDC stamp join missed "),
              col("_cdc_fp")))).as(CommitTsCol)): _*)
    }
    parts.reduce(_.unionByName(_))
  }

  /**
   * Sweep CDC areas older than `retainMs` (tag-dir mtime) — retention
   * is disk the operator reclaims on their audit horizon, exactly
   * like Delta's VACUUM: windows (and AS OF points) that need swept
   * tags refuse loudly afterwards. Returns tags removed.
   */
  def vacuum(root: Path, conf: Configuration, retainMs: Long): Int = {
    val fs = root.getFileSystem(conf)
    val d = dir(fs.makeQualified(root))
    if (!fs.exists(d)) return 0
    val cutoff = System.currentTimeMillis() - retainMs
    val tags = fs.listStatus(d).toSeq.filter(s => s.isDirectory &&
      s.getModificationTime < cutoff)
    tags.foreach(s => fs.delete(s.getPath, true))
    tags.size
  }
}
