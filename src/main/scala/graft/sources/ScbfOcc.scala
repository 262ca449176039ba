package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/**
 * The write-write CONFLICT RULES (OCC — Delta's ConcurrentDeleteRead
 * contract) behind the shared copy-on-write commit path
 * ([[ScbfRewrite]], through which the API rewrites, SQL row-level
 * operations and OPTIMIZE all commit): the replay, the conflict
 * rule, recorded-victim deadness, the refusal text and the rollback
 * file-cleanup. A table has ONE log, at its root: every commit into
 * any of its partition directories checks and announces there, under
 * root-relative names, so every writer's check sees every other's
 * commits.
 *
 * The rule: a commit stamped after the mutation's snapshot that names
 * one of its VICTIMS in `rewriteOf` raced it. A commit that names the
 * mutation's PUBLISHED OUTPUTS — and none of its victims — listed
 * after the publish and serialized BEHIND it (it consumed the
 * replacement): not a race. A commit naming BOTH (it listed during the
 * publish-to-removal coexistence window and planned the original AND
 * its replacement as independent victims) IS a conflict — letting it
 * pass would persist every coexisting row twice.
 *
 * ARBITRATION (round 15, on the ordinal-CAS protocol): commits are
 * totally ordered by their delta ordinals, so of two racers that both
 * published, exactly ONE — the higher ordinal — rolls back; the lower
 * keeps its commit and ignores the conflict (the other surface's own
 * recheck is what rolls it back). The API DELETE/UPDATE rounds and
 * the SQL row-level commit recheck post-publish; OPTIMIZE does not:
 * it checks once, at its commit instant, before it publishes, so a
 * racer announcing between that check and OPTIMIZE's announce wins
 * its own recheck and both commits stay. Conflicts whose ordinal is
 * unknowable (v1 deltas, untagged fold interiors) and INSERT
 * OVERWRITE boundaries stay unconditional, the pre-round-15
 * both-abort behavior.
 */
private[sources] object ScbfOcc extends org.apache.spark.internal.Logging {

  /** Entries committed after `snapTs` on `qroot`'s log, each with its
   * SOURCE delta name (the ordinal carrier) — the commits that raced
   * the mutation. Empty when the table has no log (log-less
   * directories announce nothing to conflict on). Replay failures
   * (torn deltas, concurrent-compaction churn exhausting retries,
   * a reset emptying the chain mid-check) REFUSE via `refuse` —
   * unverifiable is not safe. */
  def entriesAfter(qroot: Path, conf: Configuration, snapTs: Long,
      refuse: String => Nothing): Seq[(ScbfDiscovery.Entry, String)] =
    if (!ScbfDiscovery.exists(qroot, conf)) Seq.empty
    else ScbfDiscovery.occReplay(qroot, conf, snapTs, refuse)

  /** A post-snapshot entry's commit ordinal: its source delta's
   * claimed ordinal (v2 names), or — when a concurrent compaction
   * already folded it — the entry's own `V:` tag. None on v1 chains
   * and untagged fold interiors (callers fall back to unconditional
   * conflict). */
  private def ordinalOf(e: ScbfDiscovery.Entry, delta: String): Option[Int] =
    if (ScbfDiscovery.isFold(delta)) e.commitVersion
    else ScbfDiscovery.claimedLast(delta)

  /** A [[VictimRec]] from a replayed (entry, source delta) pair. */
  def recOf(e: ScbfDiscovery.Entry, delta: String): VictimRec =
    VictimRec(e, ordinalOf(e, delta))

  /** The ordinal OUR published commit landed at, resolved from the
   * same replay: the source delta of any of our output entries. */
  def ourOrdinal(post: Seq[(ScbfDiscovery.Entry, String)],
      ourOutputs: Set[String]): Option[Int] =
    post.collectFirst { case (e, d) if ourOutputs.contains(e.name) =>
      ordinalOf(e, d) }.flatten

  /** The conflicts among `post` (see object scaladoc for the rule),
   * rendered as operator-readable descriptions. `ourOrd` (known only
   * at the post-publish recheck) enables single-loser arbitration: a
   * conflicting commit that serialized AFTER ours is ITS recheck's
   * problem — we won the slot and keep the commit. */
  def conflicts(post: Seq[(ScbfDiscovery.Entry, String)], victims: Set[String],
      selfName: String => Boolean,
      ourOutputs: Set[String] = Set.empty,
      ourOrd: Option[Int] = None): Seq[String] =
    post.filterNot { case (e, d) => selfName(e.name) ||
      // serialized-behind-us exclusion — ONLY when it does not also
      // name a victim (naming both = it double-planned the
      // coexistence window; must conflict unless it provably
      // serialized after us, below)
      (e.rewriteOf.exists(ourOutputs) && !e.rewriteOf.exists(victims)) ||
      // single-loser: a conflicting commit at a HIGHER ordinal than
      // ours rolls ITSELF back (every mutating surface rechecks);
      // overwrite boundaries are never excused (a reset restarts the
      // ordinal axis, so its ordinals don't compare)
      (ourOrd.isDefined &&
        !e.name.startsWith(ScbfDiscovery.OverwriteBoundaryPrefix) &&
        ordinalOf(e, d).exists(_ > ourOrd.get))
    }
      .collect {
        case (e, _) if e.name.startsWith(ScbfDiscovery.OverwriteBoundaryPrefix) =>
          s"INSERT OVERWRITE at ${e.ts}"
        case (e, _) if e.rewriteOf.exists(victims) =>
          s"${e.name} (rewrites ${e.rewriteOf.filter(victims).take(3).mkString(", ")})"
      }

  /** Recorded-victim EXCLUSION for mutation planners — the structural
   * fix for the publish-to-removal COEXISTENCE window (the round-14
   * residual this module's scaladoc used to carry): a listed file the
   * log records as a `rewriteOf` VICTIM of another commit is a dead
   * original pending physical removal (or a crashed removal's
   * remnant) — its surviving rows already live in its replacement.
   * A planner that kept it alongside the replacement would bake every
   * coexisting row into its own output TWICE, and a racer that fully
   * committed inside the window evaded the OCC checks entirely (the
   * rewrite entry predates the racer's snapshot). Exclusion by the
   * log's own record closes it exactly.
   *
   * Cost: a strict replay of the chain, served from the root's replay
   * cursor ([[ScbfDiscovery.occReplay]]): only the deltas published
   * since this process last replayed or wrote the log are consulted,
   * and the whole chain (compaction bounds it at
   * ~[[ScbfDiscovery.CompactThreshold]] deltas; the fold read is
   * O(history entries) — Delta's checkpoint-read bill, paid by
   * mutations only, never by reads) only after a fold, scrub or reset.
   * Empty on a log-less table. Unreadable chains REFUSE — a mutation
   * must not plan over a window it cannot rule out.
   *
   * Returns victim name → the records of its rewrite/removal (entry +
   * the recording commit's ordinal, when knowable); [[deadAmong]]
   * applies the liveness refinement and fork arbitration. */
  final case class VictimRec(entry: ScbfDiscovery.Entry, ordinal: Option[Int])

  def recordedVictims(qroot: Path, conf: Configuration,
      refuse: String => Nothing): Map[String, Seq[VictimRec]] =
    if (!ScbfDiscovery.exists(qroot, conf)) Map.empty
    else {
      val m = scala.collection.mutable.HashMap
        .empty[String, List[VictimRec]]
      ScbfDiscovery.occReplay(qroot, conf, Long.MinValue, refuse).foreach {
        case (e, d) =>
          val rec = recOf(e, d)
          e.rewriteOf.foreach(v => m(v) = rec :: m.getOrElse(v, Nil))
      }
      m.toMap
    }

  /** [[deadAmong]]'s verdict, split by the HEAL each kind needs:
   * `originals` are victims whose pending removal should complete;
   * `loserOutputs` are a crashed arbitration loser's replacements,
   * whose pending ROLLBACK should complete. Planning excludes both. */
  final case class DeadListing(originals: Set[String],
      loserOutputs: Set[String]) {
    def all: Set[String] = originals ++ loserOutputs
  }

  /** The subset of `listed` names that are DEAD under `victims`.
   *
   * ORIGINALS: named by a removal sentinel (the log says the bytes
   * are garbage pending deletion — filesAsOf's crashed-takedown
   * stance), or by a rewrite whose replacement is itself ACCOUNTED
   * FOR — its bytes exist, or the log records it rewritten/removed by
   * an accounted successor (rewrite chains are multi-hop: a mutation
   * that consumed a replacement and removed it must not UN-DEADEN the
   * original two links back, or it would rewrite the same rows
   * through two containers and duplicate them — the exact bug this
   * rule's first cut had). `replacementExists` must consult an
   * UNPRUNED universe (a stats-pruned listing could hide a
   * replacement whose original still matches — exactly the rows the
   * racer changed). A victim whose chain dead-ends unaccounted stays
   * LIVE — that is a rolled-back rewrite whose log scrub failed, and
   * excluding it would silently exempt live rows from the mutation.
   *
   * LOSER OUTPUTS (fork arbitration): a victim named by rewrites from
   * two or more DISTINCT commits is a write-write race exactly one
   * side of which may keep its commit — the LOWEST ordinal (the
   * single-loser rule). A higher-ordinal side still present crashed
   * before its own recheck rolled it back; its outputs are
   * rolled-back-pending garbage that would double every coexisting
   * row. They are dead — UNLESS a later commit consumed them (they
   * are then load-bearing lineage; that three-way race's
   * reconciliation is manual and loud, never silent). Forks with any
   * unknowable ordinal (v1 deltas, untagged fold interiors) are left
   * alone — arbitration must not guess. */
  def deadAmong(listed: Set[String],
      victims: Map[String, Seq[VictimRec]],
      replacementExists: String => Boolean): DeadListing = {
    // chains are acyclic (names are never reused; rewrites move
    // strictly forward in time) — the seen-set is pure defense
    def accounted(n: String, seen: Set[String]): Boolean =
      !seen(n) && (replacementExists(n) ||
        victims.get(n).exists(_.exists(r => deadBy(r.entry, seen + n))))
    def deadBy(e: ScbfDiscovery.Entry, seen: Set[String]): Boolean =
      e.len < 0 || e.name.endsWith(ScbfDiscovery.RemovalSuffix) ||
        accounted(e.name, seen)
    val originals = listed.filter(n =>
      victims.get(n).exists(_.exists(r => deadBy(r.entry, Set(n)))))
    val losers = victims.iterator.flatMap { case (_, recs) =>
      // ONE record per distinct OUTPUT name first: the same entry can
      // be recorded twice with different ordinal spellings (a raw
      // delta's claimed ordinal vs a concurrent fold's positional V:
      // tag) — a duplicate must never read as a two-commit fork
      val byOutput = recs.groupBy(_.entry.name).values
        .map(rs => rs.find(_.ordinal.isDefined).getOrElse(rs.head)).toSeq
      val byOrd = byOutput.groupBy(_.ordinal)
      if (byOrd.size < 2 || byOrd.contains(None)) Nil
      else {
        val winner = byOrd.keys.flatten.min
        byOutput.filter(_.ordinal.exists(_ != winner)).map(_.entry.name)
          .filterNot(victims.contains) // consumed = load-bearing lineage
      }
    }.toSet
    DeadListing(originals, losers.intersect(listed))
  }

  /** Our published outputs a LATER commit consumed (its rewriteOf
   * names them) — ONE copy of the rule both rollback call sites use
   * (divergent self-filters here would silently split the surfaces'
   * semantics). */
  def consumedOf(post: Seq[(ScbfDiscovery.Entry, String)],
      isSelf: String => Boolean, published: Set[String]): Set[String] =
    post.iterator.filterNot(p => isSelf(p._1.name))
      .flatMap(_._1.rewriteOf).toSet.intersect(published)

  /** How old (ms) a recorded rewrite must be before another operation
   * may COMPLETE its pending removal: a fresh one may belong to a LIVE
   * owner that could still roll its replacement back (deleting the
   * original under it would turn that rollback into data loss), so
   * fresh dead originals are excluded-but-left for their owner. An
   * hour matches the claim-sweep staleness convention; the residual —
   * an owner pausing 1h+ mid-window, then resuming AND losing its
   * recheck — is accepted and stated. Test seam. */
  private[sources] var healGraceMs: Long = 3600000L

  /** Complete a PENDING removal the log already records — the
   * crashed-mid-removal remnants [[deadAmong]] detects, once they are
   * [[healGraceMs]] stale. Does exactly what the recording commit
   * would have: retention-RENAME into its cdcTag's pre/ area when it
   * carried one (CDC windows over that commit keep serving), plain
   * delete otherwise, plus the per-dir manifest drop. Idempotent
   * against the owning commit finishing concurrently: rename
   * tolerates the other side having moved the bytes (destination
   * holds them either way, source delete no-ops), and deletes of
   * already-deleted files no-op. Without this, a crashed takedown's
   * original would double every listing-based read forever AND the
   * re-run cure could never finish the removal. */
  def completePendingRemovals(fs: FileSystem, qroot: Path,
      conf: Configuration,
      deadFiles: Seq[org.apache.hadoop.fs.FileStatus],
      victims: Map[String, Seq[VictimRec]]): Unit = {
    if (deadFiles.isEmpty) return
    val staleBefore = System.currentTimeMillis() - healGraceMs
    def recsOf(f: org.apache.hadoop.fs.FileStatus): Seq[VictimRec] =
      victims.getOrElse(f.getPath.getName,
        victims.getOrElse(ScbfCdc.relName(fs, qroot, f.getPath), Nil))
    val healable = deadFiles.filter { f =>
      val recs = recsOf(f)
      recs.nonEmpty && recs.forall(_.entry.ts < staleBefore)
    }
    if (healable.isEmpty) return
    healable.foreach { f =>
      // prefer the SURVIVING commit's tag: existence of its
      // replacement bytes first, then LOWEST ordinal (the arbitration
      // winner — a crashed loser's replacement can still exist in the
      // same heal pass, and retaining under ITS tag would hand the
      // bytes to the tag dir the rollback heal deletes)
      val recs = recsOf(f).sortBy(r =>
        (try if (fs.exists(new Path(qroot, r.entry.name))) 0 else 1
         catch { case scala.util.control.NonFatal(_) => 1 },
          r.ordinal.getOrElse(Int.MaxValue)))
      recs.flatMap(_.entry.cdcTag).headOption match {
        case Some(tag) => ScbfCdc.retain(fs, qroot, tag, Seq(f.getPath))
        case None => deleteWithSidecars(fs, f.getPath)
      }
    }
    ScbfRewrite.dropFromManifests(conf, healable.map(_.getPath))
  }

  /** Complete a PENDING ROLLBACK: a crashed arbitration loser's
   * replacements ([[DeadListing.loserOutputs]]), once [[healGraceMs]]
   * stale, get exactly what the loser's own recheck would have done —
   * entries scrubbed, files + sidecars deleted, its CDC rows area
   * dropped. Without this, a loser that died between publish and
   * recheck would double every coexisting row FOREVER (the winner's
   * replacement and the dead loser's both serve the shared victims'
   * rows). */
  def completePendingRollbacks(fs: FileSystem, qroot: Path,
      conf: Configuration,
      loserFiles: Seq[org.apache.hadoop.fs.FileStatus],
      victims: Map[String, Seq[VictimRec]]): Unit = {
    if (loserFiles.isEmpty) return
    val staleBefore = System.currentTimeMillis() - healGraceMs
    // the loser's own announce entries (the records that NAME victims)
    val recByOutput: Map[String, VictimRec] =
      victims.valuesIterator.flatten.map(r => r.entry.name -> r).toMap
    val healable = loserFiles.filter { f =>
      val rec = recByOutput.get(f.getPath.getName)
        .orElse(recByOutput.get(ScbfCdc.relName(fs, qroot, f.getPath)))
      rec.exists(_.entry.ts < staleBefore)
    }
    if (healable.isEmpty) return
    val names = healable.map(f =>
      recByOutput.get(f.getPath.getName).map(_ => f.getPath.getName)
        .getOrElse(ScbfCdc.relName(fs, qroot, f.getPath))).toSet
    val tagDirs = names.flatMap(n =>
      recByOutput.get(n).flatMap(_.entry.cdcTag))
      .map(t => new Path(ScbfCdc.dir(qroot), t))
    val scrubbed = rollbackPublished(fs, qroot, conf, names,
      alsoScrub = Set.empty, cdcTagDir = None)
    tagDirs.foreach(t =>
      try fs.delete(t, true)
      catch { case scala.util.control.NonFatal(_) => () })
    logWarning(s"completed the pending rollback of a crashed " +
      s"arbitration loser on $qroot: removed ${names.take(3).mkString(", ")}" +
      s"${if (names.size > 3) ", …" else ""} (scrubbed=$scrubbed)")
  }

  /** One spelling of the refusal for every surface. */
  def refusalMessage(where: String, found: Seq[String], phase: String): String =
    s"$where: concurrent mutation conflict ($phase) — files this " +
      s"operation planned to rewrite were concurrently rewritten or " +
      s"removed by another commit: ${found.take(3).mkString("; ")}" +
      s"${if (found.size > 3) "; …" else ""}. The table is consistent " +
      "(this operation did not remove originals); re-run it."

  /** One file's data + stats + bloom removal — the rollback/takedown
   * triple, one copy to keep in sync when a new sidecar kind appears. */
  def deleteWithSidecars(fs: FileSystem, p: Path): Unit = {
    fs.delete(p, false)
    val sc = ScbfStats.sidecarPath(p)
    if (fs.exists(sc)) fs.delete(sc, false)
    val bl = ScbfBloom.bloomPath(p)
    if (fs.exists(bl)) fs.delete(bl, false)
  }

  /**
   * Roll a PUBLISHED replacement back: scrub the log entries FIRST
   * (a partial rollback must leave inert orphan files, never live log
   * entries naming deleted bytes — the poisoned-log order), then
   * delete the files + sidecars, then the CDC rows area. Returns
   * whether the log scrub took; the caller folds that into its
   * refusal text instead of claiming consistency unconditionally.
   *
   * `consumed`: outputs of ours a LATER commit already consumed (its
   * rewriteOf names them). Those are load-bearing lineage — their
   * bytes are gone (the consumer removed them) and scrubbing their
   * entries would break the victims' deadness chain, un-deadening the
   * originals into row duplication. They are LEFT IN PLACE: the
   * rollback retracts only the unconsumed outputs (whose rows still
   * live in the untouched originals), and the refusal stays loud —
   * the consumed part of this aborted commit has effectively
   * serialized, stated in the log (three-way races of this shape
   * reconcile manually, never silently).
   */
  def rollbackPublished(fs: FileSystem, qroot: Path, conf: Configuration,
      publishedNames: Set[String], alsoScrub: Set[String],
      cdcTagDir: Option[Path],
      consumed: Set[String] = Set.empty): Boolean = {
    val retract = publishedNames -- consumed
    if (consumed.nonEmpty)
      logWarning(s"rollback on $qroot: ${consumed.size} published " +
        s"replacement(s) were already consumed by a later commit " +
        s"(${consumed.take(3).mkString(", ")}) — their entries stay " +
        "(load-bearing lineage); only the unconsumed outputs retract.")
    val scrubbed = ScbfDiscovery.scrubEntries(qroot, conf,
      retract ++ alsoScrub)
    val retracted = retract.toSeq.map(n => new Path(qroot, n))
    ScbfRewrite.removeVictims(fs, retracted, retainAt = None)
    ScbfRewrite.dropFromManifests(conf, retracted)
    // the tag area drops even on a partial (consumed) rollback: its
    // materialized change rows cover the WHOLE aborted scope, and a
    // CDC window served from them would report phantom changes for
    // rows whose mutation retracted. With the area gone, a consumed
    // entry's dangling D:tag makes that window REFUSE loudly
    // (swept-retention) — loud beats silently wrong.
    cdcTagDir.foreach(t =>
      try fs.delete(t, true)
      catch { case scala.util.control.NonFatal(_) => () })
    scrubbed
  }

  /** The honesty suffix for a rollback whose log scrub failed. */
  def scrubCaveat(scrubbed: Boolean): String =
    if (scrubbed) ""
    else " CAUTION: the rolled-back replacement's log entries could " +
      "not be scrubbed (transient filesystem error) — log-trusting " +
      "reads (CDC, time travel) over this window may refuse with " +
      "'physically removed' until the log is repaired; the table's " +
      "LIVE contents are correct."
}
