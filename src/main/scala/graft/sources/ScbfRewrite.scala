package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import graft.scbf.ScbfFormatException

/**
 * The copy-on-write COMMIT PATH every rewriting front end shares — the
 * API DELETE/UPDATE rounds ([[ScbfDelete]]), SQL UPDATE/MERGE/subquery
 * DELETE ([[ScbfRowLevelBatchWrite]]), OPTIMIZE ([[ScbfMaintenance]]
 * plans, [[ScbfBatchWrite]] checks at its commit instant) and scoped
 * overwrites. One copy of each step, so the surfaces cannot diverge:
 *
 *  - [[snapshot]]: what a rewrite plans from — its OCC position, the
 *    live data files and the log's recorded victims, taken in one
 *    order by one function on the TABLE ROOT's log (a partitioned
 *    table has one log, at its root); OPTIMIZE and the API rounds list
 *    the directory's own files ([[ownFiles]]), the SQL scan its pruned
 *    table listing;
 *  - [[liveListing]]: the rewrite-transparent view, and its heal;
 *  - [[Occ]]: the pre-publish conflict check and the post-publish
 *    recheck with single-loser arbitration, rollback and refusal;
 *  - [[removeVictims]] / [[dropFromManifests]]: the replaced originals
 *    retained under CDC or deleted with their sidecars, then dropped
 *    from their directories' manifests;
 *  - [[keepEmptiedDirsReadable]]: the 0-row keeper of a directory a
 *    commit empties.
 *
 * The front ends keep what really differs: how victims are scoped
 * (bounded re-list rounds, Spark's ReplaceData scan, one snapshot),
 * how replacements are written, and how CDC rows are captured. The
 * rules themselves — conflict, deadness, arbitration, rollback — are
 * [[ScbfOcc]]'s.
 *
 * Failure contract, common to every front end: a crash before the
 * replacement commits aborts cleanly (originals untouched); a crash
 * after it and before [[removeVictims]] leaves original + replacement
 * coexisting, which the next [[liveListing]] hides and, once stale,
 * heals. Concurrent rewriters of one directory are arbitrated by
 * [[Occ]]: of two overlapping commits exactly one keeps its result.
 */
private[graft] object ScbfRewrite {

  private def occRefusal(where: String)(why: String): Nothing =
    throw new ScbfFormatException(
      s"$where: cannot verify concurrent-commit safety — $why")

  private def listingRefusal(where: String)(why: String): Nothing =
    throw new ScbfFormatException(
      s"$where: cannot verify the listing's rewrite-transparency — $why")

  /** The OCC position: the newest persisted commit instant of `qroot`'s
   * log, taken BEFORE the listing a rewrite plans from. None = the log
   * has no chain (a log-less table has nothing announced to conflict
   * with — OCC is skipped). A FAILED read refuses: the lost-update
   * protection must not silently lapse on a transient filesystem
   * error — fail the rewrite closed and let the re-run take a real
   * position. */
  def position(where: String, qroot: Path, conf: Configuration): Option[Long] =
    ScbfDiscovery.newestCommitInstant(qroot, conf).fold(e => occRefusal(where)(
      s"the discovery log could not be read at snapshot time (${e.getMessage}) — " +
        "without a snapshot the write-write conflict check cannot run; retry the operation."),
      identity)

  /**
   * One copy-on-write rewrite's SNAPSHOT of the table whose log is at
   * `qroot`:
   *  - `position`: the OCC point, taken BEFORE the listing, so a commit
   *    the listing missed is stamped after it and the commit's
   *    [[Occ]] checks it (None: no chain at snapshot time);
   *  - `files`: the listed data files, rewrite-transparent
   *    ([[liveListing]]);
   *  - `victims`: the log's recorded victims that view was taken under,
   *    named relative to `qroot`.
   */
  final case class Snapshot(position: Option[Long], files: Seq[FileStatus],
      victims: Map[String, Seq[ScbfOcc.VictimRec]])

  /**
   * The one way a rewrite snapshot is taken, always in the safe order:
   * the OCC position, then `list`, then the log's recorded victims
   * ([[ScbfOcc.recordedVictims]]; an unreadable chain refuses), then
   * the rewrite-transparent view ([[liveListing]], healing when `heal`).
   * `qroot` is the table root, whose log every commit into the table
   * checks and announces on; `list` may list one partition of it. The
   * replays run from the root's replay cursor ([[ScbfDiscovery]]), so
   * a snapshot costs the deltas published since the last one.
   */
  def snapshot(where: String, qroot: Path, conf: Configuration,
      list: () => Seq[FileStatus], probeFs: Boolean, heal: Boolean): Snapshot = {
    val position = ScbfRewrite.position(where, qroot, conf)
    val listed = list()
    val victims = ScbfOcc.recordedVictims(qroot, conf, listingRefusal(where))
    Snapshot(position, liveListing(where, qroot.getFileSystem(conf), qroot, conf,
      listed, victims, probeFs, heal), victims)
  }

  /** The data files directly in `dir` — never those of its `k=v`
   * children, which a table-level pass rewrites as directories of
   * their own. One recorded listing ([[ScbfPartitions.walk]] descending
   * nowhere); a missing directory lists empty. */
  def ownFiles(dir: Path, conf: Configuration): Seq[FileStatus] =
    ScbfPartitions.walk(dir, conf, _ => false).next().dataFiles

  /**
   * The rewrite-transparent VIEW of `listed`: a file the log records as
   * another commit's victim, whose replacement is accounted for (or
   * whose takedown is recorded), is a dead original pending removal —
   * its rows already live in the replacement, so planning it would
   * bake every coexisting row into the rewrite twice (or resurrect rows
   * a committed DELETE removed). A crashed arbitration loser's outputs
   * are dead the same way ([[ScbfOcc.deadAmong]]).
   *
   * `probeFs`: replacement existence probes the FILESYSTEM instead of
   * `listed` — required when `listed` is stats-pruned (the SQL scan), so
   * a pruned-away replacement still kills its original; a failed probe
   * refuses (fail closed). `heal`: complete stale pending ROLLBACKS,
   * then stale pending REMOVALS (rollbacks first: with a crashed
   * loser's replacement still on disk, the removal heal's tag
   * preference could retain a victim under the loser's tag — the very
   * area the rollback heal then deletes).
   */
  def liveListing(where: String, fs: FileSystem, qroot: Path,
      conf: Configuration, listed: Seq[FileStatus],
      victims: Map[String, Seq[ScbfOcc.VictimRec]],
      probeFs: Boolean, heal: Boolean): Seq[FileStatus] =
    if (victims.isEmpty) listed
    else {
      def rel(f: FileStatus): String = ScbfCdc.relName(fs, qroot, f.getPath)
      val names = listed.iterator.flatMap(f => Seq(f.getPath.getName, rel(f))).toSet
      val exists: String => Boolean =
        if (!probeFs) names.contains
        else n =>
          try fs.exists(new Path(qroot, n))
          catch { case scala.util.control.NonFatal(e) =>
            listingRefusal(where)(
              s"replacement existence probe failed for $n (${e.getMessage})")
          }
      val dead = ScbfOcc.deadAmong(names, victims, exists)
      def in(set: Set[String])(f: FileStatus): Boolean =
        set.contains(f.getPath.getName) || set.contains(rel(f))
      if (heal) {
        ScbfOcc.completePendingRollbacks(fs, qroot, conf,
          listed.filter(in(dead.loserOutputs)), victims)
        ScbfOcc.completePendingRemovals(fs, qroot, conf,
          listed.filter(in(dead.originals)), victims)
      }
      listed.filterNot(in(dead.all))
    }

  /**
   * One commit's write-write conflict checks (Delta's
   * ConcurrentDeleteRead contract) against the log at `qroot`, for the
   * commits stamped after `snapTs` (None — no chain, or nothing to
   * protect — runs no check). Victim and output names are relative to
   * `qroot`, as the log spells them; `isSelf` recognizes this commit's
   * own entries.
   */
  final class Occ(where: String, qroot: Path, conf: Configuration,
      snapTs: Option[Long]) {

    /** The commits that raced this one (a failed replay refuses). */
    def entries(): Seq[(ScbfDiscovery.Entry, String)] =
      snapTs.fold(Seq.empty[(ScbfDiscovery.Entry, String)])(
        ScbfOcc.entriesAfter(qroot, conf, _, occRefusal(where)))

    /** Before any side effect: refuse if a raced commit already
     * rewrote or removed one of `victims`. Returns the commits it
     * checked. */
    def checkBeforePublish(victims: Set[String], isSelf: String => Boolean,
        phase: String = "detected before publish"): Seq[(ScbfDiscovery.Entry, String)] = {
      val raced = entries()
      val found = ScbfOcc.conflicts(raced, victims, isSelf)
      if (found.nonEmpty)
        throw new ScbfFormatException(ScbfOcc.refusalMessage(where, found, phase))
      raced
    }

    /**
     * After the replacement published, before the originals go: the
     * publish happened-before this replay, so of two blind overlapping
     * racers at least one sees the other here, and of two that both
     * published exactly the HIGHER ordinal loses (single-loser
     * arbitration). A commit that names only our published outputs
     * serialized behind us and is not a conflict. The loser rolls its
     * replacement back — log entries first, then files + sidecars, then
     * its CDC rows area — and refuses; the originals stay with the
     * winner's state. An UNVERIFIABLE replay refuses too, treating every
     * output as consumed: nothing destructive happens on a state we
     * could not read, and the fork heal completes the rollback once
     * stale.
     *
     * `published` names our outputs from the replay (None when it
     * failed); `alsoScrub` are our other entries (a removal sentinel),
     * which also carry our ordinal; `cdc` is the (CDC root, tag) our
     * change rows were captured under. Returns the replay it passed.
     */
    def recheckAfterPublish(victims: Set[String], isSelf: String => Boolean,
        published: Option[Seq[(ScbfDiscovery.Entry, String)]] => Set[String],
        alsoScrub: Set[String], cdc: Option[(Path, String)])
        : Seq[(ScbfDiscovery.Entry, String)] = {
      val post =
        try Right(entries())
        catch { case e: ScbfFormatException => Left(e) }
      val ours = published(post.toOption)
      val late = post match {
        case Right(p) => ScbfOcc.conflicts(p, victims, isSelf, ourOutputs = ours,
          ourOrd = ScbfOcc.ourOrdinal(p, ours ++ alsoScrub))
        case Left(e) => Seq(s"UNVERIFIABLE (${e.getMessage})")
      }
      if (late.nonEmpty) {
        // outputs a later commit already consumed are load-bearing
        // lineage and stay (ScbfOcc.rollbackPublished)
        val consumed = post.fold(_ => ours, ScbfOcc.consumedOf(_, isSelf, ours))
        val scrubbed = ScbfOcc.rollbackPublished(qroot.getFileSystem(conf),
          qroot, conf, ours, alsoScrub,
          cdcTagDir = cdc.map { case (r, t) => new Path(ScbfCdc.dir(r), t) },
          consumed = consumed)
        throw new ScbfFormatException(
          ScbfOcc.refusalMessage(where, late,
            "detected after publish; replacement rolled back") +
            ScbfOcc.scrubCaveat(scrubbed))
      }
      post.getOrElse(Seq.empty)
    }
  }

  /** Remove replaced originals — only AFTER their replacement
   * committed. Under CDC capture (`retainAt` = (CDC root, tag)) they
   * RENAME into the tag's pre/ area instead ([[ScbfCdc.retain]]);
   * otherwise data + sidecars are deleted in parallel on the shared
   * driver IO pool (a partition takedown can remove 10⁵ files, and on
   * an object store the delete latencies must overlap). */
  def removeVictims(fs: FileSystem, victims: Seq[Path],
      retainAt: Option[(Path, String)]): Unit = retainAt match {
    case Some((root, tag)) => ScbfCdc.retain(fs, root, tag, victims)
    case None =>
      victims.map(p => ScbfStats.ioPool.submit(
        new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = ScbfOcc.deleteWithSidecars(fs, p)
        })).foreach(f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause })
  }

  /** Drop removed files' manifest entries: one merge cycle per
   * directory dropping exactly their names, so a concurrent append's
   * just-merged entries survive (a retain-the-live-listing prune would
   * race its commit). */
  def dropFromManifests(conf: Configuration, removed: Seq[Path]): Unit =
    removed.groupBy(_.getParent).foreach { case (parent, ps) =>
      ScbfStats.mergeManifest(parent, conf, Seq.empty, fresh = false,
        drop = ps.map(_.getName).toSet)
    }

  /** The 0-row KEEPER: a directory holding `victims` that this commit
   * does not repopulate, and that would be left without a live data
   * file, gets a codec-written 0-row file BEFORE the removals — it stays
   * a readable standalone SCBF table (the schema lives in file headers),
   * with no unreadable window. */
  def keepEmptiedDirsReadable(fs: FileSystem, victims: Seq[Path],
      repopulated: Path => Boolean, schema: org.apache.spark.sql.types.StructType,
      keeperPrefix: String, announceRoot: Path): Unit =
    victims.groupBy(p => fs.makeQualified(p).getParent).foreach { case (parent, ps) =>
      if (!repopulated(parent)) {
        val gone = ps.map(_.getName).toSet
        val left =
          try fs.listStatus(parent).exists(f => f.isFile &&
            ScbfDataSource.isDataFile(f.getPath) && !gone(f.getPath.getName))
          catch { case _: java.io.FileNotFoundException => false }
        if (!left)
          ScbfUtil.writeEmptyScbf(fs, parent, schema, keeperPrefix,
            announceRoot = Some(announceRoot))
      }
    }

  /** A REMOVAL entry: the log record of a row-changing commit that
   * published no replacement (synthetic name, length −1, C:1), so
   * log-path consumers apply their onChangeCommit policy to it exactly
   * as to a replacement entry. */
  def removalEntry(id: String, replaced: Seq[String],
      cdcTag: Option[String]): ScbfDiscovery.Entry =
    ScbfDiscovery.Entry(s"$id${ScbfDiscovery.RemovalSuffix}",
      ScbfDiscovery.RemovedLen, System.currentTimeMillis(),
      rewriteOf = replaced.sorted, rowsChanged = true, cdcTag = cdcTag)
}
