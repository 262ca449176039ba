package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{AlwaysTrue, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import graft.scbf._

/**
 * Write side of the SCBF connector. Each task buffers rows column-major
 * and rolls to a new `.scbf` file whenever the buffered estimate passes
 * `maxBufferedBytes` (write option, default 128 MiB) — the reference
 * writer also materializes every compressed block before writing
 * (reference: writer.py:79-136), so per-FILE buffering is the spec'd
 * behavior, but the roll bounds per-TASK memory: a skewed 100× input
 * partition becomes many files, not one OOM.
 *
 * Crash safety: every file is written under a dot-prefixed temp name
 * (the scan's isHidden filter skips those) and renamed to its final
 * name only in DataWriter.commit(). A hard executor crash mid-write —
 * where abort() never runs — leaves only invisible temps, never a
 * truncated readable `.scbf`; a lost task attempt's fully-written temps
 * never surface as duplicate rows. Job-level commit/abort sweep any
 * orphaned temps.
 *
 * Null semantics follow SURVEY §7.4: a null in a numeric column aborts
 * the write (the reference has no numeric null representation and
 * crashes, reference: writer.py:84); a null string is written as the
 * empty string (indistinguishable in the reference's CSV world).
 */
class ScbfWriteBuilder(
    dir: String, schema: StructType, conf: Configuration, maxBufferedBytes: Long,
    filePrefix: Option[String] = None, replaceOnly: Option[Set[String]] = None,
    partitionCols: Seq[String] = Seq.empty, rewriteOf: Seq[String] = Seq.empty,
    bucketSpec: Option[(String, Int)] = None,
    cdcTag: Option[String] = None, cdcRoot: Option[String] = None,
    // OCC snapshot instant (ScbfOcc) a snapshot rewrite (OPTIMIZE/
    // cluster/zorder) planned its replaceOnly set at — checked at the
    // COMMIT INSTANT, so the whole rewrite job is guarded
    occSnapTs: Option[Long] = None)
  extends WriteBuilder with SupportsOverwrite
  with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {

  private var doTruncate = false
  private var scopeFilters: Option[Seq[Filter]] = None
  private var dynamicOverwrite = false

  /** `INSERT OVERWRITE`: `AlwaysTrue` = full-table truncate (the
   * original surface); anything else must be the STATIC PARTITION
   * OVERWRITE shape — a conjunction of equalities on partition
   * columns (`INSERT OVERWRITE t PARTITION (grp='x')`) — which
   * replaces exactly the in-scope partitions' files (delete-then-
   * insert, scoped by path cells, commit-time atomicity per file).
   * A row-scoped overwrite on data columns is refused loudly: that is
   * DELETE + INSERT, two statements with honest semantics. */
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    def flat(f: Filter): Seq[Filter] = f match {
      case org.apache.spark.sql.sources.And(l, r) => flat(l) ++ flat(r)
      case other => Seq(other)
    }
    val fl = filters.toSeq.flatMap(flat).filterNot(_.isInstanceOf[AlwaysTrue])
    if (fl.isEmpty) doTruncate = true
    else {
      val pc = partitionCols.toSet
      // Spark emits the static partition spec as null-safe equalities;
      // SCBF stores no nulls, so <=> with a non-null literal IS =
      val norm = fl.map {
        case org.apache.spark.sql.sources.EqualNullSafe(c, v) if v != null =>
          org.apache.spark.sql.sources.EqualTo(c, v)
        case other => other
      }
      val ok = norm.forall {
        case org.apache.spark.sql.sources.EqualTo(c, _) => pc.contains(c)
        case _ => false
      }
      require(ok,
        s"SCBF overwrite scope must be partition-column equalities " +
          s"(INSERT OVERWRITE ... PARTITION) or the whole table; got: " +
          s"${fl.mkString(", ")} — for row-scoped replacement run DELETE " +
          "then INSERT")
      scopeFilters = Some(norm)
    }
    this
  }

  /** `partitionOverwriteMode=dynamic`: replace exactly the partitions
   * this write produces rows for — victims are computed at COMMIT from
   * the produced files' directories. The standard dynamic-overwrite
   * race applies (a concurrent append to a touched partition between
   * job start and commit is replaced along with the old contents). */
  override def overwriteDynamicPartitions(): WriteBuilder = {
    require(partitionCols.nonEmpty,
      "dynamic partition overwrite needs a partitioned table")
    dynamicOverwrite = true
    this
  }

  override def build(): Write = new Write {
    // appends are the clone contract; anything that REPLACES contents
    // would leave the refs visible (a half-overwritten table) or imply
    // deleting shared source bytes — refuse at build, before any task
    if (doTruncate || scopeFilters.nonEmpty || dynamicOverwrite)
      ScbfClone.refuseIfClone(new org.apache.hadoop.fs.Path(dir), conf,
        "INSERT OVERWRITE / truncate")
    override def toBatch: BatchWrite =
      new ScbfBatchWrite(dir, schema, doTruncate,
        conf, maxBufferedBytes, filePrefix, replaceOnly,
        partitionCols, rewriteOf,
        scopeFilters = scopeFilters, dynamicPartitionOverwrite = dynamicOverwrite,
        bucketSpec = bucketSpec, cdcTag = cdcTag, cdcRoot = cdcRoot,
        occSnapTs = occSnapTs)
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      // Complete/update modes would need per-epoch truncation semantics;
      // the sink is append-only (the natural mode for a file sink)
      require(!doTruncate && scopeFilters.isEmpty && !dynamicOverwrite,
        "SCBF streaming sink supports append output mode only")
      require(partitionCols.isEmpty && bucketSpec.isEmpty,
        "SCBF streaming sink does not support partitioned tables yet — " +
          "stream into the partition directory directly")
      new ScbfStreamingWrite(dir, schema, conf, maxBufferedBytes)
    }
  }
}

object ScbfWrite {
  /** Default per-task buffer cap before rolling to a new file. */
  val DefaultMaxBufferedBytes: Long = 128L << 20

  /** Test seam (ConcurrentWriteSpec): fires at the head of every
   * streaming epoch commit — after the epoch's tasks staged their
   * temps, before any publication — the window a concurrent
   * maintenance rewrite would race. */
  private[sources] var epochCommitHook: () => Unit = () => ()

  /** Streaming manifest-merge cadence (every Nth epoch, including
   * epoch 0 so a new query's directory gets a manifest immediately);
   * files committed between merges are covered by their sidecars. */
  val ManifestEpochInterval: Long = 10L

  /** Matches both temp spellings: batch `.<final>.tmp` and streaming
   * `.<final>.<attempt>.tmp` (the final name always carries the
   * extension, so `.scbf` appears inside the temp name). */
  private[sources] def isTemp(name: String): Boolean =
    name.startsWith(".") && name.endsWith(".tmp") &&
      name.contains(Scbf.FileExtension)

  /**
   * Fail an APPEND whose schema doesn't match the directory's existing
   * files — at write start on the driver, not at some later read.
   * Without this, a mismatched append succeeds and creates a
   * heterogeneous directory that every subsequent scan rejects
   * (ScbfScan's per-file check is correct but LATE: the bad bytes are
   * already published and interleaved with good files). One header read
   * per append job (the first live file is authoritative — the
   * directory is homogeneous by induction under this very check),
   * found by the lazy walk that stops at it
   * ([[ScbfDataSource.dataFilesLazily]]) — an append into one partition
   * lists the root and one partition, not the table.
   * Overwrites skip it: they replace the contents wholesale.
   */
  private[sources] def validateAppendSchema(
      dir: String, schema: StructType, conf: Configuration): Unit = {
    // List-then-read races a concurrent snapshot-scoped OPTIMIZE/DELETE
    // commit that may delete the chosen file between the two calls —
    // the exact append-concurrent-with-rewrite interleaving this guard
    // legitimizes — so a vanished file is a retry (next live file, then
    // a fresh walk), not a spurious job failure. Any OTHER read
    // error propagates: a corrupt header is a real mismatch signal.
    var have: ScbfSchema = null
    var round = 0
    while (have == null) {
      val it = ScbfDataSource.dataFilesLazily(Seq(dir), conf)
      if (!it.hasNext) return
      while (have == null && it.hasNext) {
        val f = it.next()
        try have = ScbfUtil.readHeader(f, conf).schema
        catch { case _: java.io.FileNotFoundException => /* rewritten away — next */ }
      }
      round += 1
      if (have == null && round >= 3)
        // every file found vanished three walks in a row: something
        // is actively emptying the directory — treat as empty table
        return
    }
    val incoming = ScbfDataSource.sparkToScbf(schema)
    if (have != incoming) {
      val haveMap = have.columns.map(c => c.name -> c.tpe.typeName).toMap
      val incMap = incoming.columns.map(c => c.name -> c.tpe.typeName).toMap
      val missing = have.columns.map(_.name).filterNot(incMap.contains)
      val extra = incoming.columns.map(_.name).filterNot(haveMap.contains)
      val retyped = have.columns.map(_.name).filter(n =>
        incMap.get(n).exists(_ != haveMap(n)))
      val reordered =
        if (missing.isEmpty && extra.isEmpty && retyped.isEmpty)
          Seq("column order differs: table has " +
            have.columns.map(_.name).mkString("(", ", ", ")") +
            ", append has " + incoming.columns.map(_.name).mkString("(", ", ", ")"))
        else Seq.empty
      val diffs =
        missing.map(n => s"missing column '$n' (${haveMap(n)})") ++
          extra.map(n => s"unknown column '$n' (${incMap(n)})") ++
          retyped.map(n => s"column '$n' is ${haveMap(n)} in the table but ${incMap(n)} in the append") ++
          reordered
      throw new ScbfFormatException(
        s"cannot append to SCBF directory $dir: schema mismatch — ${diffs.mkString("; ")}. " +
          "Align the append's schema or overwrite the directory.")
    }
  }
}

class ScbfBatchWrite(
    dir: String, schema: StructType, truncate: Boolean,
    conf: Configuration, maxBufferedBytes: Long,
    filePrefix: Option[String] = None, replaceOnly: Option[Set[String]] = None,
    partitionCols: Seq[String] = Seq.empty,
    // a var: the SQL row-level path (ScbfRowLevelBatchWrite) learns the
    // replaced names only when its scan plans, and sets them just
    // before delegating commit — always on the driver, before commit
    // reads the field
    private[sources] var rewriteOfNames: Seq[String] = Seq.empty,
    emitEmptyFiles: Boolean = true,
    // static partition overwrite: replace exactly the files whose
    // partition-path cells satisfy these equalities (see
    // ScbfWriteBuilder.overwrite); mutually exclusive with truncate
    scopeFilters: Option[Seq[Filter]] = None,
    // dynamic partition overwrite: victims are the pre-existing files
    // of exactly the partitions this commit publishes into
    dynamicPartitionOverwrite: Boolean = false,
    // bucket(n, intCol) routing: rows land in <col>_bucket=<id>/
    // directories below the identity cells (ScbfPartitions.bucketId)
    bucketSpec: Option[(String, Int)] = None,
    // CDC capture (ScbfCdc): when set, this commit's entries carry the
    // tag and its victims are RETAINED under `.scbf.cdc/<tag>/pre/`
    // instead of deleted. A var like rewriteOfNames — the SQL
    // row-level path learns its scope at commit time. OPTIMIZE and
    // scoped overwrites self-tag when the table has CDC enabled.
    private[sources] var cdcTag: Option[String] = None,
    // table root the CDC area and the root log live under
    // (per-partition maintenance rewrites pass it and re-announce to
    // its log; defaults to this write's own directory)
    cdcRoot: Option[String] = None,
    // OCC snapshot instant of a snapshot rewrite's planning listing —
    // see the commit-instant check in commit()
    occSnapTs: Option[Long] = None)
  extends BatchWrite {

  // Old files are captured at job start but deleted only in commit() —
  // deleting them up-front would destroy the previous table contents if
  // any task then failed (abort() removes only the new part files, so a
  // failed overwrite leaves the old data intact).
  private var toReplace: Seq[Path] = Seq.empty

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val path = new Path(dir)
    val fs = path.getFileSystem(conf)
    if (!truncate) ScbfWrite.validateAppendSchema(dir, schema, conf)
    // STATIC partition overwrite: capture the exact in-scope victims
    // now (deleted only at commit, like truncate's). Path cells decide
    // EXACTLY (point values); a file no cell can decide — a stray
    // root-level file that might hold in-scope rows — fails the job
    // loudly rather than silently surviving an overwrite that claims
    // to replace its rows (DELETE covers that shape exactly).
    scopeFilters.foreach { sf =>
      require(!truncate, "overwrite scope and truncate are exclusive")
      if (fs.exists(path)) {
        val qroots = ScbfPartitions.qualifiedRoots(Seq(dir), conf)
        val listed = ScbfDataSource.resolveFiles(Seq(dir), conf)
        toReplace = listed.flatMap { f =>
          ScbfPartitions.decideByCells(f.getPath, schema, sf, qroots) match {
            case Some(true)  => Some(f.getPath)
            case Some(false) => None
            case None => throw new ScbfFormatException(
              s"static partition overwrite cannot decide ${f.getPath} " +
                s"against scope ${sf.mkString(" AND ")}: the file's path " +
                "carries no partition cells for the scoped column(s). " +
                "Move or delete the stray file, or use DELETE + INSERT.")
          }
        }
      }
    }
    if (truncate && fs.exists(path)) toReplace = replaceOnly match {
      // a SNAPSHOT-scoped overwrite (OPTIMIZE rewrites pass the exact
      // files they read, all directly in `dir`) replaces only that
      // snapshot: a file a concurrent append publishes between the
      // rewrite's read and this commit is NOT the rewrite's to destroy
      // — it survives, and the next maintenance pass folds it in. A
      // victim already gone by the commit is skipped by the removal
      case Some(names) =>
        val qdir = fs.makeQualified(path)
        names.toSeq.sorted.map(new Path(qdir, _))
      // recursive over partition subdirectories, so a partitioned
      // overwrite replaces the WHOLE table, not just root
      case None => ScbfDataSource.resolveFiles(Seq(dir), conf).map(_.getPath)
    }
    fs.mkdirs(path)
    val taskConf = ScbfUtil.broadcastConf(conf)
    if (partitionCols.isEmpty && bucketSpec.isEmpty)
      new ScbfDataWriterFactory(dir, schema, taskConf, maxBufferedBytes, filePrefix,
        emitEmptyFiles)
    else
      new ScbfPartitionedDataWriterFactory(
        dir, schema, taskConf, maxBufferedBytes, partitionCols, bucketSpec)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(dir).getFileSystem(conf)
    // compare by file NAME: listStatus paths are fully qualified
    // (file:/...), task-side staged names are not — path-string
    // comparison would never match. Names are unique (uuid suffix).
    val entries = messages.collect { case ScbfCommitMessage(es) => es }.flatten.toIndexedSeq
    val newNames = entries.map(_.name).toSet
    val qroot = fs.makeQualified(new Path(dir))
    def subdirOf(n: String): String = {
      val i = n.lastIndexOf('/'); if (i < 0) "" else n.substring(0, i)
    }
    def dirOf(sub: String): Path = if (sub.isEmpty) qroot else new Path(qroot, sub)
    def relOf(p: Path): String = ScbfCdc.relName(fs, qroot, p)
    def localized(es: Seq[ScbfStats.FileEntry], sub: String): Seq[ScbfStats.FileEntry] =
      if (sub.isEmpty) es else es.map(e => e.copy(name = e.name.substring(sub.length + 1)))
    val bySub = entries.groupBy(e => subdirOf(e.name))
    // DYNAMIC partition overwrite: victims are the pre-existing files
    // of exactly the partitions this commit published into — computed
    // here (the produced set is only known now), excluding the just-
    // published files by bare name
    if (dynamicPartitionOverwrite) {
      val newBare = entries.map { e =>
        val i = e.name.lastIndexOf('/'); if (i < 0) e.name else e.name.substring(i + 1)
      }.toSet
      toReplace = bySub.keySet.toSeq.flatMap(sub =>
          ScbfDataSource.resolveFiles(Seq(dirOf(sub).toString), conf)
            .map(_.getPath))
        .filterNot(p => newBare.contains(p.getName))
    }
    val scopedOverwrite = scopeFilters.isDefined || dynamicPartitionOverwrite
    // OCC at the COMMIT INSTANT for snapshot rewrites (OPTIMIZE/
    // cluster/zorder — shared rule: ScbfOcc): nothing may have
    // rewritten/removed one of the snapshot's files since the rewrite
    // planned it, or the rewrite's output would RESURRECT rows a
    // concurrent DELETE/UPDATE removed (the rewrite read them before
    // the mutation landed). Placed BEFORE any side effect of this
    // commit — a throw here makes Spark abort the job, which removes
    // only the task-committed replacement files; victims stay, and the
    // table renders exactly the concurrent mutation's state. This
    // guards the WHOLE rewrite job, not just its planning window. The
    // same replay says whether anything else committed here since the
    // snapshot (`raced`), which decides the manifest rebuild below.
    val raced = replaceOnly.exists(victims =>
      new ScbfRewrite.Occ(s"snapshot rewrite on $dir", qroot, conf, occSnapTs)
        .checkBeforePublish(victims, isSelf = newNames.contains,
          "detected at commit; the rewrite aborted, originals untouched")
        .nonEmpty)
    // scoped overwrite emptying a directory the insert does not
    // repopulate (static scope with no rows for it): the 0-row keeper
    // goes in BEFORE the deletions (ScbfRewrite)
    if (scopedOverwrite)
      ScbfRewrite.keepEmptiedDirsReadable(fs, toReplace,
        repopulated = p => bySub.contains(relOf(p)), schema, "ow-keeper-",
        announceRoot = new Path(dir))
    // CDC retention (ScbfCdc): a snapshot rewrite (OPTIMIZE) or scoped
    // overwrite on a CDC-enabled table RETAINS its victims instead of
    // deleting them — self-tagged here when the caller did not pass a
    // tag (SQL INSERT OVERWRITE PARTITION has no option channel; a
    // partition's maintenance rewrite carries this tag into its root
    // re-announcement below). Full truncate stays uncaptured: it
    // restarts the log, and the overwrite BOUNDARY is what gates feeds
    // across it.
    val victims = toReplace.filterNot(p => newNames.contains(p.getName))
    val cdcRootQ = fs.makeQualified(new Path(cdcRoot.getOrElse(dir)))
    val captureTag: Option[String] = cdcTag.orElse {
      if (victims.nonEmpty && (replaceOnly.isDefined || scopedOverwrite) &&
          ScbfCdc.enabled(cdcRootQ, conf))
        Some(ScbfCdc.newTag(if (replaceOnly.isDefined) "compact" else "overwrite"))
      else None
    }
    ScbfRewrite.removeVictims(fs, victims,
      retainAt = captureTag.filter(_ => victims.nonEmpty).map((cdcRootQ, _)))
    // compact per-file stats into the directory manifest so planning
    // reads one stats file, not one per data file. Overwrite starts
    // fresh (stale entries for replaced files must not survive); append
    // merges. The race/merge discipline lives in ScbfStats.mergeManifest.
    // PARTITIONED writes carry subdir-prefixed entry names: each
    // partition subdirectory gets ITS OWN manifest (it is a complete
    // standalone SCBF directory — the whole point of the layout), so
    // entries group by subdir and localize before merging.
    replaceOnly match {
      case None =>
        // full overwrite owns the directory: dead-attempt temps are
        // safe to sweep (no concurrent writer can be harmed — its
        // contents are being replaced anyway)
        if (truncate) sweepTemps()
        // scoped overwrites drop their victims' manifest entries per
        // directory (truncate rebuilds fresh instead); directories
        // with victims but no new entries still need the drop cycle
        val victimBySub: Map[String, Set[String]] =
          if (!scopedOverwrite) Map.empty
          else toReplace.groupBy(p => relOf(p.getParent))
            .map { case (s, ps) => s -> ps.map(_.getName).toSet }
        // distinct directories merge CONCURRENTLY on the shared IO
        // pool (optimization r15): each partition subdirectory's
        // manifest cycle is an independent read-merge-publish on its
        // own file, and a partitioned INSERT was paying the cycles
        // serially — O(partitions) driver round-trips per commit (the
        // profiled ~0.2 s post-INSERT gap at 8 partitions; on an
        // object store it is partitions × RPC latency). In-dir merge
        // races are already mergeManifest's own discipline.
        val subs = (bySub.keySet ++ victimBySub.keySet).toSeq
        subs.map { sub =>
          ScbfStats.ioPool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit = {
              val es = bySub.getOrElse(sub, Seq.empty)
              ScbfStats.mergeManifest(dirOf(sub), conf,
                localized(es.toIndexedSeq, sub),
                fresh = truncate, drop = victimBySub.getOrElse(sub, Set.empty))
            }
          })
        }.foreach(f =>
          try f.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause })
        if (truncate) {
          // partition subdirectories the overwrite emptied but did not
          // repopulate: their manifests describe only deleted files
          // (length-guarded, so harmless — but clear them anyway)
          val touched = bySub.keySet.map(dirOf(_).toString)
          toReplace.map(_.getParent).distinct
            .filterNot(p => touched.contains(p.toString))
            .foreach(p => ScbfStats.mergeManifest(p, conf, Seq.empty, fresh = true))
        }
      case Some(snapshot) =>
        // snapshot-scoped overwrite COEXISTS with concurrent appends:
        // never sweep temps (a live append's staged files would die),
        // and rebuild the manifest fresh only when the log shows no
        // other commit since the snapshot — otherwise ONE merge cycle
        // that adds this job's entries and drops exactly the names it
        // replaced (a newcomer appending mid-merge keeps its entries:
        // its names can never be in the drop set, where a
        // retain-the-live-listing prune would race its commit)
        if (!raced)
          ScbfStats.mergeManifest(new Path(dir), conf, entries, fresh = true)
        else
          ScbfStats.mergeManifest(new Path(dir), conf, entries, fresh = false,
            drop = snapshot -- newNames)
    }
    // announce the published files to the streaming discovery log
    // (ScbfDiscovery): a full overwrite restarts the log (its previous
    // announcements describe replaced files), everything else appends.
    // A SNAPSHOT-SCOPED rewrite (OPTIMIZE) announces its files with
    // the replaced names attached (Entry.rewriteOf) — their content is
    // the snapshot's surviving rows, so a log-path streaming consumer
    // that already delivered every replaced file marks them seen
    // WITHOUT re-delivering (maintenance becomes invisible to the
    // stream). Best-effort by design — the data is committed above.
    val now = System.currentTimeMillis()
    // snapshot rewrites mark with the snapshot; DELETE/UPDATE appends
    // mark with the caller-supplied rewriteOfNames (announce-only).
    // The two paths also carry Delta's dataChange distinction: a
    // snapshot rewrite (OPTIMIZE/cluster) preserves rows exactly,
    // while a rewriteOfNames append is a DELETE/UPDATE replacement —
    // its rows differ, so the entry is tagged rowsChanged and the
    // reader's onChangeCommit policy can see it
    val rewriteOf = replaceOnly.fold(rewriteOfNames.sorted)(_.toSeq.sorted)
    val rowsChanged = replaceOnly.isEmpty && rewriteOf.nonEmpty
    // rewrite commits carry the CDC tag (if captured) so readers can
    // find the retained victims and materialized rows — but ONLY in
    // the log that lives AT the CDC root: a per-partition rewrite's
    // own log would resolve the tag against a partition-local CDC
    // area that does not exist (the bytes are retained at the TABLE
    // root, and the root re-announcement below carries the tag
    // there); an untagged partition entry refuses with the
    // honest no-retention message instead of a phantom-sweep one
    val entryTag =
      if (rewriteOf.nonEmpty && cdcRootQ == qroot)
        captureTag
      else None
    val announced =
      entries.map(e => ScbfDiscovery.Entry(e.name, e.dataLen, now, rewriteOf, rowsChanged,
        entryTag))
    if (truncate && replaceOnly.isEmpty)
      ScbfDiscovery.reset(new Path(dir), conf, announced)
    else ScbfDiscovery.append(new Path(dir), conf, announced)
    // a PARTITION's snapshot rewrite (a table-level OPTIMIZE passes the
    // table root as cdcRoot) re-announces its outputs to the root's log
    // too, carrying the same tag; a no-op when this directory is the root
    if (replaceOnly.isDefined)
      ScbfRewrite.announceToRoot(cdcRootQ, conf, qroot,
        entries.map(e => e.name -> e.dataLen), rewriteOf, rowsChanged = false, captureTag)
    // scoped overwrite = delete-old-rows + insert-new: the new files
    // announced above are PLAIN entries (they are new data, not the
    // victims' surviving rows — marking them rewriteOf would make a
    // caught-up skip-policy stream hide them), so the victims'
    // disappearance gets its own REMOVAL entry, C:1 like any
    // row-changing commit (same record a metadata-only DELETE leaves)
    if (scopedOverwrite && toReplace.nonEmpty &&
        ScbfDiscovery.exists(new Path(dir), conf)) {
      ScbfDiscovery.append(new Path(dir), conf, Seq(ScbfRewrite.removalEntry(
        s"ow-${java.util.UUID.randomUUID().toString.take(8)}",
        toReplace.map(relOf), captureTag)))
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(dir).getFileSystem(conf)
    messages.collect { case ScbfCommitMessage(entries) =>
      entries.foreach { e =>
        ScbfOcc.deleteWithSidecars(fs, new Path(dir, e.name))
      }
    }
    // no sweep here: an ABORTED overwrite leaves the old table contents
    // in place, so the "contents are being replaced anyway" argument
    // below does not hold and a concurrent append's temps must survive
  }

  /** Remove temps left by dead task attempts — but only on COMMITTED
   * overwrite jobs: a successful overwrite replaces the directory's
   * contents, so no concurrent writer can be harmed, while sweeping on
   * APPEND (or on abort) could delete a concurrently-running append
   * job's staged temps out from under it (its rename would then fail
   * the job). Orphans from hard crashes are invisible to readers
   * (dot-prefix) and get cleared by the next successful overwrite. */
  private def sweepTemps(): Unit = {
    val fs = new Path(dir).getFileSystem(conf)
    // partition subdirectories stage their own temps
    ScbfPartitions.walk(new Path(dir), conf).flatMap(_.children)
      .filter(f => f.isFile && ScbfWrite.isTemp(f.getPath.getName))
      .foreach(f => fs.delete(f.getPath, false))
  }
}

/** Batch task result: published files with their stats (the driver
 * compacts the stats into the directory manifest at job commit). */
case class ScbfCommitMessage(entries: Seq[ScbfStats.FileEntry])
  extends WriterCommitMessage

/** Streaming task result: files staged but not yet published, plus
 * their stats — the epoch-level committer publishes BOTH (tasks never
 * touch final names on the streaming path). */
case class ScbfStagedCommitMessage(
    pairs: Seq[(String, String)], entries: Seq[ScbfStats.FileEntry])
  extends WriterCommitMessage

/**
 * Epoch-level streaming write: `df.writeStream.format("scbf")` —
 * the native sink half of the connector's streaming story (the read
 * half is [[ScbfMicroBatchStream]]).
 *
 * Exactly-once across failures WITHOUT a sink-side metadata log (the
 * scan lists the directory, so a log would be invisible to readers):
 *
 *  - Final names are a deterministic function of (epoch, partition,
 *    file sequence). The source replays a failed epoch from its own
 *    checkpoint logs with identical partitions and row order, so a
 *    replay STAGES byte-identical files under the SAME final names.
 *  - Tasks only stage (attempt-unique dot-temps, invisible to the
 *    scan); publication happens here in `commit(epoch)`, rename-over
 *    per file. A crash mid-commit exposes a prefix of the epoch's
 *    files; the engine re-runs the epoch, and the re-publication
 *    overwrites those same names with identical bytes — convergent,
 *    never duplicated.
 *  - `abort(epoch)` removes this run's temps only. Published files
 *    from a half-committed earlier run stay: the replay owns them.
 *
 * One streaming query per output directory (epoch ids restart at 0 for
 * a NEW query writing into the same directory — same single-writer
 * contract as Spark's own FileStreamSink, which enforces it via its
 * metadata log; here it is a documented contract).
 *
 * The exactly-once story above requires a DETERMINISTIC plan between
 * the replayable source and the sink: a shuffle whose reduce-side
 * row order depends on block-fetch arrival (or a round-robin
 * repartition, whose partition assignment can change on a mid-epoch
 * task retry) can make a replayed epoch stage different bytes under
 * the same deterministic name. The commit path byte-compares any
 * staged file against an already-published namesake — identical
 * content converges silently, divergent content fails the query
 * loudly (never silently keeps either side) — but a deterministic,
 * ideally shuffle-free, epoch plan is what makes replays actually
 * converge rather than die on restart.
 */
class ScbfStreamingWrite(
    dir: String, schema: StructType,
    conf: Configuration, maxBufferedBytes: Long)
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val path = new Path(dir)
    // append-only sink: the same write-time schema guard as batch
    // appends, checked once per query (epoch 2+ would only re-validate
    // this query's own files — skip the header read per trigger)
    if (!appendValidated) {
      ScbfWrite.validateAppendSchema(dir, schema, conf)
      appendValidated = true
    }
    path.getFileSystem(conf).mkdirs(path)
    new ScbfStreamingDataWriterFactory(dir, schema, ScbfUtil.broadcastConf(conf),
      maxBufferedBytes)
  }

  @volatile private var appendValidated = false

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    ScbfWrite.epochCommitHook()
    val fs = new Path(dir).getFileSystem(conf)
    messages.collect { case ScbfStagedCommitMessage(pairs, _) => pairs }.flatten
      .foreach { case (tmp, dst) =>
        val (t, d) = (new Path(tmp), new Path(dst))
        // replay: a final name that already exists was published by an
        // earlier run of THIS epoch with identical bytes (deterministic
        // names + deterministic source replay) — keep it and drop our
        // temp. Delete-then-rename would open a window where a
        // previously-visible file is briefly absent for concurrent
        // readers. The byte-identity assumption is CHECKED by comparing
        // FULL CONTENT, not just length: a nondeterministic epoch plan
        // (shuffle row order, round-robin repartition on a retry) can
        // reorder fixed-width rows into a same-length, different-bytes
        // file, which a length check would silently keep. If the
        // contents differ (nondeterministic plan, changed write options
        // across the restart, or two queries sharing one output
        // directory), silently keeping either side would lose or
        // corrupt rows — fail the query instead. Replay collisions are
        // rare (failure recovery only), so the extra read is off the
        // steady-state path.
        if (fs.exists(d)) {
          if (!sameContent(fs, t, d)) throw new ScbfFormatException(
            s"epoch $epochId replay staged different content for $dst than is " +
              "already published — the deterministic-replay contract is broken " +
              "(nondeterministic epoch plan, changed write options across a " +
              "restart, or two queries sharing one output directory)")
          fs.delete(t, false)
        }
        else if (!fs.rename(t, d)) throw new ScbfFormatException(
          s"failed to publish $tmp as $dst for epoch $epochId")
      }
    // Stats publication, AFTER the epoch's data files: tasks never
    // touch final names on this path, so sidecars are driver-published
    // here too — without this, a streaming-ingest directory would never
    // file-skip under the batch scan or a backfill readStream. Replay-
    // idempotent like the data files: a replayed epoch stages identical
    // content (checked above), so it recomputes identical stats, and
    // both sidecar and manifest publish by whole-file rename. A crash
    // between data and stats publication leaves data without stats —
    // readable, just not skippable until the epoch replays.
    val entries = messages.collect { case ScbfStagedCommitMessage(_, es) => es }.flatten
    if (entries.nonEmpty) {
      entries.foreach { e =>
        ScbfStats.write(new Path(dir, e.name), conf, e.stats, e.dataLen)
      }
      // Manifest merges are THROTTLED (every ManifestEpochInterval-th
      // epoch, epoch-id-keyed so replays stay deterministic): merging
      // per epoch re-reads and rewrites the whole manifest on the
      // driver every trigger — O(total files) per epoch, quadratic
      // over a long-running ingest, exactly at the file counts the
      // manifest exists to serve. Between merges the accumulated tail
      // (≤ interval epochs of files) is covered by the per-file
      // sidecars published above — planning's fallback path, bounded.
      // A restart drops the in-memory tail: those files simply stay
      // sidecar-covered (skipping intact, one extra read each).
      pendingManifest ++= entries
      if (epochId % ScbfWrite.ManifestEpochInterval == 0) {
        ScbfStats.mergeManifest(new Path(dir), conf,
          pendingManifest.toSeq, fresh = false)
        pendingManifest.clear()
      }
      // per-epoch discovery announcement (a downstream readStream of
      // this directory then discovers the epoch's files from the log
      // delta, never from a 10⁵-file listing). A replayed epoch appends
      // a duplicate delta naming the same files — consumers dedup by
      // path, harmless.
      val now = System.currentTimeMillis()
      ScbfDiscovery.append(new Path(dir), conf,
        entries.toSeq.map(e => ScbfDiscovery.Entry(e.name, e.dataLen, now)))
    }
  }

  // entries awaiting the next throttled manifest merge (driver-side,
  // one streaming query = one instance, epochs commit sequentially)
  private val pendingManifest =
    new scala.collection.mutable.ArrayBuffer[ScbfStats.FileEntry]()

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(dir).getFileSystem(conf)
    messages.collect { case ScbfStagedCommitMessage(pairs, _) => pairs }.flatten
      .foreach { case (tmp, _) =>
        val t = new Path(tmp)
        if (fs.exists(t)) fs.delete(t, false)
      }
  }

  /** Exact byte equality of two files (length fast-path, then chunked
   * positioned reads). Preferred over a stored checksum: the SCBF
   * layout is frozen by reference interop (no trailer to put a CRC
   * in), and an exact compare has no collision caveat. */
  private def sameContent(fs: org.apache.hadoop.fs.FileSystem,
      a: Path, b: Path): Boolean = {
    val len = fs.getFileStatus(a).getLen
    if (len != fs.getFileStatus(b).getLen) return false
    val (ia, ib) = (fs.open(a), fs.open(b))
    try {
      val bufA = new Array[Byte](1 << 16)
      val bufB = new Array[Byte](1 << 16)
      var off = 0L
      while (off < len) {
        val n = math.min(bufA.length.toLong, len - off).toInt
        ia.readFully(off, bufA, 0, n)
        ib.readFully(off, bufB, 0, n)
        if (!java.util.Arrays.equals(bufA, 0, n, bufB, 0, n)) return false
        off += n
      }
      true
    } finally { ia.close(); ib.close() }
  }
}

class ScbfStreamingDataWriterFactory(
    dir: String, schema: StructType, conf: Broadcast[SerializableConfiguration], maxBufferedBytes: Long)
  extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new ScbfDataWriter(dir, schema, conf.value.value, maxBufferedBytes,
      // deterministic: replayed epochs regenerate the same names
      seq => f"part-$epochId%05d-$partitionId%05d-$seq%03d${Scbf.FileExtension}",
      publishOnTaskCommit = false, emitEmptyFile = false)
}

class ScbfDataWriterFactory(
    dir: String, schema: StructType, conf: Broadcast[SerializableConfiguration],
    maxBufferedBytes: Long, filePrefix: Option[String] = None,
    // INSERT/overwrite keeps the empty-partition file (an empty table
    // stays readable — schema lives in the header); the row-level
    // rewrite path turns it off so a no-op UPDATE publishes NOTHING
    emitEmptyFiles: Boolean = true)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    // attempt-unique FINAL names: concurrent attempts can never publish
    // over each other, and the plain `.<final>.tmp` temp is already
    // attempt-unique too. The optional prefix marks a rewrite job's
    // files so it can distinguish them from a concurrent append's.
    val attempt = java.util.UUID.randomUUID().toString.take(8)
    val pre = filePrefix.getOrElse("")
    new ScbfDataWriter(dir, schema, conf.value.value, maxBufferedBytes,
      seq => f"${pre}part-$partitionId%05d-$taskId-$attempt-$seq%03d${Scbf.FileExtension}",
      publishOnTaskCommit = true, emitEmptyFile = emitEmptyFiles)
  }
}

class ScbfPartitionedDataWriterFactory(
    dir: String, schema: StructType, conf: Broadcast[SerializableConfiguration],
    maxBufferedBytes: Long, partitionCols: Seq[String],
    bucketSpec: Option[(String, Int)] = None)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ScbfPartitionedDataWriter(
      dir, schema, conf.value.value, maxBufferedBytes, partitionCols, partitionId, taskId,
      bucketSpec)
}

/**
 * Routes each row to a per-partition-value [[ScbfDataWriter]] writing
 * into `dir/col=value/…` (see [[ScbfPartitions]]). The task holds one
 * open inner writer per distinct partition value it sees — but total
 * buffered bytes across ALL of them are capped at `maxBufferedBytes`
 * by flushing the largest buffer when the sum crosses the cap, so a
 * task seeing many partition values cannot multiply its memory
 * footprint by the value count (the per-writer roll alone would allow
 * values × cap). Writes benefit from pre-clustering the input on the
 * partition columns (`REPARTITION(source)` hint or repartition()) —
 * fewer values per task, fewer+larger files — but remain correct and
 * memory-bounded without it.
 *
 * Inner writers keep the full schema: partition columns are stored in
 * the data files too, making every subdirectory a complete standalone
 * SCBF directory (reference-readable, independently streamable).
 * Commit prefixes each inner entry with its subdirectory so the job
 * committer can group manifest merges per partition.
 */
class ScbfPartitionedDataWriter(
    dir: String, schema: StructType, conf: Configuration, maxBufferedBytes: Long,
    partitionCols: Seq[String], partitionId: Int, taskId: Long,
    bucketSpec: Option[(String, Int)] = None)
  extends DataWriter[InternalRow] {

  private val partIdx: Seq[(String, Int)] =
    partitionCols.map(c => c -> schema.fieldIndex(c))
  // bucket routing: (col, numBuckets, field index) — the innermost
  // directory level, below the identity cells
  private val bucketIdx: Option[(String, Int, Int)] =
    bucketSpec.map { case (c, n) => (c, n, schema.fieldIndex(c)) }
  private val attempt = java.util.UUID.randomUUID().toString.take(8)
  private val inner =
    scala.collection.mutable.LinkedHashMap.empty[String, ScbfDataWriter]

  private def cellString(row: InternalRow, i: Int): String =
    schema.fields(i).dataType match {
      case org.apache.spark.sql.types.IntegerType => row.getInt(i).toString
      // -0.0 routes to the 0.0 directory: group/join keys treat the two
      // zeros as one value (ScbfPartitions.parseCell normalizes the
      // same way on read, so legacy -0.0 directories still merge)
      case org.apache.spark.sql.types.DoubleType =>
        val d = row.getDouble(i)
        (if (d == 0.0) 0.0 else d).toString
      // null string → "" (the format contract; numeric nulls abort in
      // the inner writer exactly like unpartitioned writes)
      case _ => if (row.isNullAt(i)) "" else row.getUTF8String(i).toString
    }

  override def write(row: InternalRow): Unit = {
    val sub = (partIdx.map { case (c, i) =>
      ScbfPartitions.dirName(c, cellString(row, i))
    } ++ bucketIdx.map { case (c, n, i) =>
      ScbfPartitions.bucketDirName(c, ScbfPartitions.bucketId(row.getInt(i), n))
    }).mkString("/")
    val w = inner.getOrElseUpdate(sub,
      new ScbfDataWriter(s"$dir/$sub", schema, conf, maxBufferedBytes,
        seq => f"part-$partitionId%05d-$taskId-$attempt-$seq%03d${Scbf.FileExtension}",
        publishOnTaskCommit = true, emitEmptyFile = false))
    // task-wide memory cap, O(1) per row: a running total tracked by
    // deltas (an inner self-roll shows up as a negative delta); when
    // the SUM crosses the limit, flush the fattest buffer. Each inner
    // writer also rolls itself at the limit, so this only matters when
    // many values share one task.
    val before = w.bufferedSize
    w.write(row)
    totalBuffered += w.bufferedSize - before
    if (totalBuffered >= maxBufferedBytes) {
      val fattest = inner.values.maxBy(_.bufferedSize)
      totalBuffered -= fattest.bufferedSize
      fattest.flushBuffered()
    }
  }

  private var totalBuffered = 0L

  override def commit(): WriterCommitMessage = {
    val all = inner.toSeq.flatMap { case (sub, w) =>
      w.commit() match {
        case ScbfCommitMessage(entries) =>
          entries.map(e => e.copy(name = s"$sub/${e.name}"))
        case other => throw new ScbfFormatException(
          s"unexpected inner commit message: $other")
      }
    }
    ScbfCommitMessage(all)
  }

  override def abort(): Unit = inner.values.foreach(_.abort())

  override def close(): Unit = inner.values.foreach(_.close())
}

/**
 * Buffers rows column-major, rolling staged files at `maxBufferedBytes`.
 *
 * `finalName` maps the rolling file sequence number to the published
 * name; batch writes bake an attempt-unique id into it, streaming
 * writes use a deterministic (epoch, partition, seq) name so an epoch
 * replay regenerates byte-identical files under the same names.
 *
 * `publishOnTaskCommit`: batch tasks rename temp → final in their own
 * commit (Spark's batch commit coordinator has already arbitrated task
 * attempts); streaming tasks leave files staged and report (temp,
 * final) pairs — the epoch-level [[ScbfStreamingWrite]] publishes at
 * driver commit so replayed epochs converge instead of duplicating.
 *
 * `emitEmptyFile`: batch writes emit one 0-row file for an empty
 * partition (an empty table stays readable — schema lives in the
 * header); streaming appends skip them so idle triggers don't litter
 * the directory.
 */
class ScbfDataWriter(
    dir: String, schema: StructType,
    conf: Configuration, maxBufferedBytes: Long,
    finalName: Int => String,
    publishOnTaskCommit: Boolean, emitEmptyFile: Boolean)
  extends DataWriter[InternalRow] {

  private val scbfSchema = ScbfDataSource.sparkToScbf(schema)
  // zlib level for data blocks, riding the task-bound Hadoop conf like
  // the stats knobs above (session confs land in newHadoopConf()).
  // Default = zlib default level 6, the reference-parity bytes —
  // see ScbfWriter.write and GraftConf.ScbfDeflateLevel.
  private val deflateLevel = conf.getInt(graft.GraftConf.ScbfDeflateLevel,
    java.util.zip.Deflater.DEFAULT_COMPRESSION)

  /** append returns the buffered-byte estimate added by the row's cell. */
  private sealed trait Builder {
    def append(row: InternalRow, ordinal: Int): Int
    def clear(): Unit
  }
  private final class IntBuilder extends Builder {
    val values = new ArrayBuffer[Int]()
    def append(row: InternalRow, i: Int): Int = {
      if (row.isNullAt(i)) throw new ScbfFormatException(
        s"NULL in int32 column '${schema.fields(i).name}': SCBF has no numeric nulls")
      values += row.getInt(i)
      4
    }
    def clear(): Unit = values.clear()
  }
  private final class DoubleBuilder extends Builder {
    val values = new ArrayBuffer[Double]()
    def append(row: InternalRow, i: Int): Int = {
      if (row.isNullAt(i)) throw new ScbfFormatException(
        s"NULL in float64 column '${schema.fields(i).name}': SCBF has no numeric nulls")
      values += row.getDouble(i)
      8
    }
    def clear(): Unit = values.clear()
  }
  private final class Utf8Builder extends Builder {
    val values = new ArrayBuffer[Array[Byte]]()
    def append(row: InternalRow, i: Int): Int = {
      val b = if (row.isNullAt(i)) Array.emptyByteArray else row.getUTF8String(i).getBytes
      values += b
      b.length + 4 // blob bytes + u32 offset entry
    }
    def clear(): Unit = values.clear()
  }

  private val builders: Array[Builder] = scbfSchema.columns.map {
    case ScbfColumn(_, ScbfType.Int32)   => new IntBuilder
    case ScbfColumn(_, ScbfType.Float64) => new DoubleBuilder
    case ScbfColumn(_, ScbfType.Utf8)    => new Utf8Builder
  }.toArray

  // attempt-unique temp suffix: two attempts staging the same
  // deterministic streaming name must not write through one temp file
  private val attemptUuid = java.util.UUID.randomUUID().toString.take(8)
  // (temp, final) pairs for every file this attempt has rolled so far
  private val staged = new ArrayBuffer[(Path, Path)]()
  // per-file column stats + written length (the manifest's staleness
  // guard). Batch: published as sidecars AFTER the data files at task
  // commit — a crash between the two leaves data without a sidecar,
  // readable just not skippable. Streaming: these ride the commit
  // message; the epoch-level committer publishes them driver-side.
  private val stagedStats = new ArrayBuffer[ScbfStats.FileEntry]()
  private var fileSeq = 0
  private var bufferedRows = 0L
  private var bufferedBytes = 0L

  override def write(row: InternalRow): Unit = {
    var i = 0
    var added = 0
    while (i < builders.length) { added += builders(i).append(row, i); i += 1 }
    bufferedRows += 1
    bufferedBytes += added
    if (bufferedBytes >= maxBufferedBytes) flush()
  }

  /** Current buffered estimate — the partitioned router reads this to
   * enforce a TASK-wide cap across its inner writers. */
  private[sources] def bufferedSize: Long = bufferedBytes

  /** Early roll on the router's demand (no-op when empty). */
  private[sources] def flushBuffered(): Unit = if (bufferedRows > 0) flush()

  /** Write the buffered columns to the next dot-temp file and reset. */
  private def flush(): Unit = {
    val fn = finalName(fileSeq)
    val tmp = new Path(dir,
      if (publishOnTaskCommit) s".$fn.tmp" else s".$fn.$attemptUuid.tmp")
    val dst = new Path(dir, fn)
    val data: Seq[ColumnData] = builders.toSeq.map {
      case b: IntBuilder    => IntColumnData(b.values.toArray)
      case b: DoubleBuilder => DoubleColumnData(b.values.toArray)
      case b: Utf8Builder   => Utf8ColumnData(b.values.toArray)
    }
    val out = tmp.getFileSystem(conf).create(tmp, true)
    // explicit row count: a zero-column projection (count(*) write) has
    // no columns to derive it from
    val written =
      try { ScbfWriter.write(out, scbfSchema, data, Some(bufferedRows),
        deflateLevel); out.getPos }
      finally out.close()
    staged += ((tmp, dst))
    // file-skipping stats for the scan (ScbfStats scaladoc): numeric
    // min/max exact; utf8 bounds truncated Parquet-style (strRange). A
    // double column containing NaN is omitted (NaN breaks interval
    // reasoning). Computed on BOTH paths — batch publishes at task
    // commit, streaming ships them to the epoch-level committer.
    val cols = schema.fields.map(_.name).zip(builders).flatMap {
      case (n, b: IntBuilder) if b.values.nonEmpty =>
        // exact Long sum (order-independent for integers) — feeds
        // aggregate pushdown; max |sum| ≤ 2^31 rows × 2^31 < 2^63
        var sum = 0L
        b.values.foreach(sum += _)
        Some(n -> ScbfStats.ColRange(
          b.values.min.toDouble, b.values.max.toDouble, Some(sum)))
      case (n, b: DoubleBuilder)
          if b.values.nonEmpty && !b.values.exists(_.isNaN) =>
        Some(n -> ScbfStats.ColRange(b.values.min, b.values.max))
      case _ => None
    }.toMap
    val strCols = schema.fields.map(_.name).zip(builders).flatMap {
      case (n, b: Utf8Builder) if b.values.nonEmpty =>
        var mn = b.values.head
        var mx = b.values.head
        b.values.foreach { v =>
          if (ScbfStats.cmp(v, mn) < 0) mn = v
          if (ScbfStats.cmp(v, mx) > 0) mx = v
        }
        Some(n -> ScbfStats.strRange(mn, mx))
      case _ => None
    }.toMap
    // utf8 length stats → CBO avgLen/maxLen (row-size estimation)
    val strLens = schema.fields.map(_.name).zip(builders).flatMap {
      case (n, b: Utf8Builder) if b.values.nonEmpty =>
        var sum = 0L
        var mx = 0
        b.values.foreach { v => sum += v.length; if (v.length > mx) mx = v.length }
        Some(n -> ((sum, mx)))
      case _ => None
    }.toMap
    // per-column NDV registers (ScbfNdv): one XXH64 per cell at write
    // buys the CBO a distinct-count estimate at read — rides the
    // sidecar; the manifest merge folds files into one directory sketch
    val ndvs =
      if (bufferedRows == 0) Map.empty[String, Array[Byte]]
      else schema.fields.map(_.name).zip(builders).map {
        case (n, b: IntBuilder) =>
          val h = new ScbfNdv.Builder; b.values.foreach(h.addInt); n -> h.regs
        case (n, b: DoubleBuilder) =>
          val h = new ScbfNdv.Builder; b.values.foreach(h.addDouble); n -> h.regs
        case (n, b: Utf8Builder) =>
          val h = new ScbfNdv.Builder; b.values.foreach(h.addBytes); n -> h.regs
      }.toMap
    // per-column equi-height histograms (ScbfHistogram): skew-aware
    // selectivity for the CBO. Exact up to SampleCap values, then a
    // deterministic stride sample bounds the sort; NaN-bearing double
    // columns are omitted (the ColRange contract). Bin count rides the
    // Hadoop conf (`histogramBins` write option; 0 disables).
    val histBins = conf.getInt(ScbfHistogram.BinsKey, ScbfHistogram.DefaultBins)
    // stride-sample straight off the builders (no full-width Double
    // copy of a multi-MB buffer per column — only the ≤64Ki sample is
    // ever materialized; deterministic, so streaming replays match).
    // ScbfHistogram.sample's accessor form IS the one stride-sampling
    // definition — byte-identical replay sidecars depend on it.
    val hists =
      if (bufferedRows == 0 || histBins <= 0) Map.empty[String, ScbfHistogram.Hist]
      else schema.fields.map(_.name).zip(builders).flatMap {
        case (n, b: IntBuilder) if b.values.nonEmpty =>
          ScbfHistogram.fromValues(
            ScbfHistogram.sample(b.values.length)(b.values(_).toDouble),
            b.values.length, histBins).map(n -> _)
        case (n, b: DoubleBuilder)
            if b.values.nonEmpty && !b.values.exists(_.isNaN) =>
          ScbfHistogram.fromValues(
            ScbfHistogram.sample(b.values.length)(b.values(_)),
            b.values.length, histBins).map(n -> _)
        // utf8 columns histogram their PREFIX KEYS (first-8-bytes
        // big-endian — the monotone embedding of the lexicographic
        // order the truncated bounds already live in): equi-height
        // mass over the string ordering, consumed ONLY by the
        // connector's own string-range selectivity (ScbfStrTopK) —
        // the scan never reports a string column's histogram to
        // Catalyst, whose histogram path is numeric
        case (n, b: Utf8Builder) if b.values.nonEmpty =>
          ScbfHistogram.fromValues(
            ScbfHistogram.sample(b.values.length)(
              i => ScbfStrTopK.prefixKey(b.values(i))),
            b.values.length, histBins).map(n -> _)
        case _ => None
      }.toMap
    // per-utf8-column top-K frequency summaries (ScbfStrTopK): string
    // skew for the planner's selectivity scaling, off the same
    // deterministic stride sample. K rides the Hadoop conf (`topkK`
    // write option; 0 disables).
    val topkK = conf.getInt(ScbfStrTopK.KKey, ScbfStrTopK.DefaultK)
    val topks =
      if (bufferedRows == 0 || topkK <= 0) Map.empty[String, ScbfStrTopK.TopK]
      else schema.fields.map(_.name).zip(builders).flatMap {
        case (n, b: Utf8Builder) if b.values.nonEmpty =>
          ScbfStrTopK.fromValues(b.values.length, b.values.length, topkK)(
            b.values(_)).map(n -> _)
        case _ => None
      }.toMap
    stagedStats += ScbfStats.FileEntry(fn, written,
      ScbfStats.FileStats(bufferedRows, cols, strCols, ndvs, strLens, hists, topks))
    // Bloom sidecar (equality/IN skipping on unclustered keys — see
    // ScbfBloom): staged as a (temp, final) pair like the data file, so
    // both publish paths (task commit / epoch-level driver commit) and
    // both abort paths handle it with zero extra machinery. Replay-safe
    // on the streaming path: a replayed epoch stages byte-identical
    // data, hence byte-identical blooms, and the committer's content
    // check accepts identical re-stages. Length-guarded against
    // `written` so a bloom can never vouch for a replaced file.
    val bloomCap = conf.getInt(ScbfBloom.MaxBytesKey, ScbfBloom.DefaultMaxBytes)
    if (bloomCap > 0 && bufferedRows > 0) {
      val blooms = schema.fields.map(_.name).zip(builders).flatMap {
        case (n, b: IntBuilder) =>
          val bb = new ScbfBloom.Builder(bufferedRows, bloomCap)
          b.values.foreach(v => bb.add(ScbfBloom.encodeInt(v)))
          Some(n -> bb.result)
        case (n, b: Utf8Builder) =>
          val bb = new ScbfBloom.Builder(bufferedRows, bloomCap)
          b.values.foreach(bb.add)
          Some(n -> bb.result)
        case _ => None // doubles: equality point-lookups don't happen on measures
      }.toMap
      if (blooms.nonEmpty) {
        val bDst = ScbfBloom.bloomPath(dst)
        val bTmp = new Path(dir, s"${bDst.getName}.$attemptUuid.tmp")
        val bOut = bTmp.getFileSystem(conf).create(bTmp, true)
        try bOut.write(
          ScbfBloom.render(written, ScbfBloom.FileBloom(blooms)).getBytes(
            java.nio.charset.StandardCharsets.UTF_8))
        finally bOut.close()
        staged += ((bTmp, bDst))
      }
    }
    builders.foreach(_.clear())
    fileSeq += 1
    bufferedRows = 0L
    bufferedBytes = 0L
  }

  override def commit(): WriterCommitMessage = {
    // flush the tail; an empty partition still emits one (0-row) file so
    // an empty table stays readable (schema lives in the file header)
    if (bufferedRows > 0 || (staged.isEmpty && emitEmptyFile)) flush()
    if (publishOnTaskCommit) {
      val fs = new Path(dir).getFileSystem(conf)
      staged.foreach { case (tmp, dst) =>
        if (!fs.rename(tmp, dst)) throw new ScbfFormatException(
          s"failed to publish $tmp as $dst")
      }
      // sidecars after the data: a half-committed task can leave data
      // without stats (fine) but never stats without data
      stagedStats.foreach(e =>
        ScbfStats.write(new Path(dir, e.name), conf, e.stats, e.dataLen))
      ScbfCommitMessage(stagedStats.toSeq)
    } else
      ScbfStagedCommitMessage(
        staged.toSeq.map { case (t, d) => (t.toString, d.toString) },
        stagedStats.toSeq)
  }

  override def abort(): Unit = {
    val fs = new Path(dir).getFileSystem(conf)
    staged.foreach { case (tmp, dst) =>
      if (fs.exists(tmp)) fs.delete(tmp, false)
      // batch final names are attempt-unique, so a half-published file is
      // ours to remove; a streaming final name may be a PREVIOUS run of
      // this epoch's published file — not this attempt's to delete (the
      // epoch replay will converge on it)
      if (publishOnTaskCommit && fs.exists(dst)) fs.delete(dst, false)
      // a commit that threw between data and sidecar publication may
      // have left a sidecar for a now-deleted data file
      if (publishOnTaskCommit) {
        val sc = ScbfStats.sidecarPath(dst)
        if (fs.exists(sc)) fs.delete(sc, false)
      }
    }
  }

  override def close(): Unit = ()
}
