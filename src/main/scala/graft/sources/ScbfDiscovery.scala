package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/**
 * Per-directory file-discovery log — the streaming rendering of the
 * connector's metadata-first design (the manifest kills per-file stats
 * reads at plan time; this kills the per-trigger DIRECTORY LISTING,
 * which at 10⁵ files costs seconds of driver wall-clock re-paid every
 * trigger forever, see BENCH_NOTES round-6 "listing-bound" measurement).
 *
 * Layout: `<table>/.scbf.discovery/` (dot-prefixed — invisible to the
 * data-file listing and to reference tooling, like the stats sidecars;
 * a partitioned table has one, at its root, naming files relative to
 * it) holding small immutable DELTA files, one appended per committing
 * write (batch job commit, streaming epoch commit). Each delta lists
 * the files that commit published as `name\tlen\tmtime` lines under a
 * `discovery\t1` header, published via an atomic exclusive-create of
 * the ordinal-carrying name itself (the round-15 ordinal-CAS
 * protocol — see the name-format section below; pre-round-15 chains
 * keep their millis+uuid names and read unchanged). Delta names are
 * never reused.
 *
 * Consumer contract ([[ScbfMicroBatchStream]]): a stream's FIRST
 * trigger takes a full directory listing as its baseline and marks
 * every then-visible delta consumed (commit order is data-files-then-
 * delta, so a visible delta's files are always in a later listing —
 * consuming it unread loses nothing). Subsequent triggers list only
 * this small directory and read only unconsumed deltas — per-trigger
 * planning IO is O(new files), independent of table file count. A
 * periodic reconcile listing (option `reconcileEvery`) catches files
 * from producers that bypass the connector.
 *
 * Compaction: the appender folds the log into one union snapshot delta
 * whenever the directory exceeds [[CompactThreshold]] files, then
 * deletes the folded deltas. Entries are preserved, never dropped —
 * an incremental consumer that missed a folded delta reads the (new,
 * unconsumed) snapshot instead and its seen-set dedups the rest, so
 * compaction can never lose it a file. Two writers compacting
 * concurrently each delete only the deltas they folded; both snapshots
 * survive and their union still covers everything.
 *
 * The log is append-only truth about file PUBLICATION, not liveness:
 * maintenance rewrites (DELETE/UPDATE/OPTIMIZE) announce their new
 * files here but removed files are not recorded. That matches the
 * consumer above — old deltas are only ever read by a consumer that
 * was alive when they were fresh — and keeps the same contract as
 * listing-based discovery: table-rewriting maintenance under an active
 * streaming read is the documented single-rewriter hazard either way
 * (listing mode silently skips the removed file's rows, discovery mode
 * fails the read loudly).
 *
 * Everything here is a best-effort OPTIMIZATION: a missing, corrupt, or
 * torn discovery log only ever degrades the stream to full-listing
 * discovery (correct, just slower) — never to wrong results.
 */
object ScbfDiscovery extends org.apache.spark.internal.Logging {

  val DirName = ".scbf.discovery"

  /** Format evolution rule: a delta line is `name\tlen\tmtime` plus
   * zero or more TAGGED trailing fields (`R:<names>` today); readers
   * MUST accept any line with ≥3 parseable leading fields and ignore
   * unrecognized trailing tags, so adding a tag is compatible in both
   * directions (an old reader sees the file, just not the tag's
   * refinement — for `R:` that means a rewrite output is treated as a
   * plain new file, the pre-tag behavior). The header version bumps
   * ONLY on changes that break the first three fields; version-2
   * deltas would be skipped whole by this reader (→ reconcile catches
   * the files, the documented degraded mode). */
  private val Header = "discovery\t1"

  /** Delta-file count that triggers an appender-side fold. */
  val CompactThreshold = 64

  /** One published data file: `name` relative to the table directory.
   * `rewriteOf` (non-empty on snapshot-scoped OPTIMIZE/rewrite
   * commits) lists the replaced files' names: the file's CONTENT is
   * exactly those files' surviving rows, so a streaming consumer that
   * has already delivered every replaced file may admit this one as
   * seen-without-delivery — rewrites become invisible to log-path
   * streams instead of re-delivering old rows. `rowsChanged` (the
   * `C:1` tag) marks a rewrite whose rows DIFFER from the replaced
   * files' (DELETE/UPDATE replacements; false for pure compaction —
   * OPTIMIZE/cluster): the reader's `onChangeCommit` policy keys on
   * it, Delta's dataChange distinction. Readers that predate the tag
   * ignore it (the format evolution rule) and treat every covered
   * rewrite as skippable — the pre-tag contract. `cdcTag` (the `D:`
   * tag, CDC-enabled tables only) names the `.scbf.cdc/<tag>/` area
   * where this commit RETAINED its victims' bytes and materialized
   * its row-level changes ([[ScbfCdc]]) — what lets the CDC read
   * enumerate a DELETE/UPDATE/MERGE's rows and lets time travel stay
   * exact across physical rewrites. */
  final case class Entry(name: String, len: Long, ts: Long,
      rewriteOf: Seq[String] = Nil, rowsChanged: Boolean = false,
      cdcTag: Option[String] = None,
      // the announcing commit's ordinal (`V:` tag) — recorded ONLY by
      // compaction folds, which are the one place per-commit
      // boundaries would otherwise be lost (a live delta's ordinal is
      // derivable from the chain; a fold's interior is not). What
      // keeps CDC's `_commit_version` exact across folds. None on
      // live-delta entries and on folds written before round 14.
      commitVersion: Option[Int] = None)

  /** Reserved suffix for REMOVAL entries — announce-only log lines a
   * metadata-only DELETE appends when its whole-file fast path drops
   * every victim without publishing a replacement (ScbfDelete's
   * `mustMatchAll` rounds). The entry's `name` is synthetic (no such
   * file ever exists; the suffix is disjoint from the `.scbf` data
   * extension), its `len` is [[RemovedLen]] so the stream admits it
   * seen-without-delivery and never plans it, and its `rewriteOf` +
   * `rowsChanged=true` carry exactly the information a replacement
   * file's entry would: which delivered files changed, so a caught-up
   * consumer's `onChangeCommit` policy (skip-with-warning / deliver /
   * fail) fires for a pure takedown just as it does for a rewrite.
   * Old readers see a plain entry they can't open — but its sentinel
   * length keeps it out of planning on this reader, and the format
   * evolution rule covers the tags. */
  val RemovalSuffix = ".removed"

  /** Sentinel length for removal entries: planning skips negative
   * lengths (the same −1 the stream uses to admit covered rewrites
   * seen-without-delivery), so a removal entry is never opened. */
  val RemovedLen = -1L

  /** Name prefix of the OVERWRITE-BOUNDARY entry a data-truncating
   * [[reset]] records (a victims-empty removal sentinel): a full
   * INSERT OVERWRITE restarts the log, which deletes every earlier
   * record — without a durable boundary, a restarted chain is
   * indistinguishable from a brand-new table, and a change-feed window
   * spanning the overwrite would silently serve the replacement as
   * plain adds while the consumer keeps its stale copy. The boundary
   * is an ENTRY (not a delta-name marker) so compaction folds preserve
   * it verbatim forever; being a removal sentinel, every existing
   * reader already handles it: planning skips it (negative length),
   * liveness ignores it (no victims), DESCRIBE HISTORY shows it as the
   * explicit `remove` record of the overwrite. */
  val OverwriteBoundaryPrefix = "full-overwrite-"

  /** The action kind both `DESCRIBE HISTORY` and the distributed
   * history relation render for an entry — ONE definition, so the
   * relation's pinned parity with the command cannot drift. */
  def actionOf(e: Entry): String =
    if (e.name.endsWith(RemovalSuffix)) "remove"
    else if (e.rewriteOf.nonEmpty) "rewrite"
    else "append"

  /** Line-level access for EXECUTOR-side readers: the distributed
   * history relation streams a delta line by line (a fold snapshot
   * holds ~the whole log — materializing it in one task's heap before
   * serving the first row would defeat the relation's purpose). */
  def isHeaderLine(l: String): Boolean = l == Header
  def parseEntryLine(l: String): Option[Entry] = parseLine(l)

  // test hooks, PlanningScale-style: what did discovery actually cost?
  val deltaReads = new AtomicLong(0)
  val deltaAppends = new AtomicLong(0)

  def dir(table: Path): Path = new Path(table, DirName)

  def exists(table: Path, conf: Configuration): Boolean =
    try dir(table).getFileSystem(conf).exists(dir(table))
    catch { case NonFatal(_) => false }

  /** Names of the current delta files (unordered). Empty on a missing
   * or unlistable log directory. */
  def listDeltas(table: Path, conf: Configuration): Seq[String] =
    try {
      val d = dir(table)
      val fs = d.getFileSystem(conf)
      if (!fs.exists(d)) Seq.empty
      else fs.listStatus(d).toSeq.map(_.getPath.getName)
        .filter(n => n.startsWith("delta-") && !n.endsWith(".tmp"))
    } catch { case NonFatal(_) => Seq.empty }

  /** A delta's entries; empty when the file vanished (compacted away —
   * its entries live in the union snapshot) or is unparsable. Torn or
   * alien lines are skipped per line: discovery is an optimization and
   * the reconcile listing is the safety net, so degrading to
   * fewer-entries is always preferable to failing the stream. */
  def readDelta(table: Path, conf: Configuration, name: String): Seq[Entry] =
    try {
      val p = new Path(dir(table), name)
      val fs = p.getFileSystem(conf)
      deltaReads.incrementAndGet()
      val len = fs.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      val in = fs.open(p)
      try in.readFully(0, buf) finally in.close()
      parse(new String(buf, UTF_8))
    } catch { case NonFatal(_) => Seq.empty }

  /** Streaming [[readDelta]]: `f` per entry, ONE line resident at a
   * time — so a consumer that keeps a bounded selection (DESCRIBE
   * HISTORY LIMIT's n-entry heap, a commit-summary fold over counts)
   * never materializes a fold snapshot's 10⁶ entries as a Seq. Same
   * per-line resilience and same swallow-to-nothing failure mode as
   * the buffered read — unless `strict`: a consumer whose CORRECTNESS
   * (not just freshness) depends on the chain, like the change feed's
   * "must not silently drop" contract, must REFUSE on an unreadable
   * or alien-headed delta instead of quietly serving a partial
   * replay. Under strict EVERY failure propagates — including a delta
   * VANISHING mid-read (a concurrent compaction folding it away): the
   * entries now live in a fold the caller's stale listing may
   * predate, so a strict caller must RE-LIST AND RETRY rather than
   * skip (changedFilesBetween's bounded retry loop is the pattern). */
  def readDeltaStream(table: Path, conf: Configuration, name: String,
      strict: Boolean = false)
      (f: Entry => Unit): Unit = {
    def run(): Unit = {
      val p = new Path(dir(table), name)
      val fs = p.getFileSystem(conf)
      deltaReads.incrementAndGet()
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(fs.open(p), UTF_8))
      try {
        if (in.readLine() != Header) {
          if (strict)
            throw new graft.scbf.ScbfFormatException(
              s"discovery delta $name at $table has an unrecognized header " +
                "— the chain cannot be replayed exactly; repair or remove " +
                "the foreign file and re-run.")
        } else {
          var l = in.readLine()
          while (l != null) {
            if (l.nonEmpty) parseLine(l) match {
              case Some(e) => f(e)
              case None if strict =>
                // a torn LINE loses an entry (possibly the overwrite
                // boundary) — under strict that is silent row loss
                throw new graft.scbf.ScbfFormatException(
                  s"discovery delta $name at $table has an unparsable " +
                    "entry line — the chain cannot be replayed exactly; " +
                    "repair or remove the torn delta and re-run.")
              case None => ()
            }
            l = in.readLine()
          }
        }
      } finally in.close()
    }
    if (strict) run() // propagate everything, FileNotFound included — a
                      // concurrently-compacted delta's entries live in a
                      // fold the caller's LISTING may predate, so the
                      // caller must re-list and retry, not skip
    else
      try run()
      catch { case NonFatal(_) => () }
  }

  /**
   * Stream a SORTED fold's entries starting at the first line stamped
   * AFTER `lo`: binary search over byte offsets (seek to mid, align
   * to the next full line, parse its stamp) finds the boundary in
   * O(log size) seeks, then one sequential read serves the tail —
   * O(post-lo bytes), never O(fold bytes). This is what keeps a
   * bounded feed window O(changes) even when a compaction fold lands
   * inside it (the ADVICE r12 caveat: a fold re-announces the whole
   * history verbatim, and the plain streamed pass had to read it all
   * to drop it). STRICT like the feed's other reads: IO errors and
   * torn lines propagate wherever the read touches (bisect probes and
   * the sequential tail). The pre-boundary region it SKIPS is trusted
   * on the sorted-fold promise — sound because folds publish
   * atomically (temp + rename, never appended to), so unlike live
   * logs they cannot be crash-torn; only external corruption could
   * hide there, and that defeats a full read's line checks equally.
   *
   * Callers guard with [[isSortedFold]]; pre-round-13 (unmarked)
   * folds keep the whole-file streamed pass.
   */
  private[sources] def readSortedFoldFrom(table: Path, conf: Configuration,
      name: String, lo: Long)(f: Entry => Unit): Unit = {
    val p = new Path(dir(table), name)
    val fs = p.getFileSystem(conf)
    deltaReads.incrementAndGet()
    val len = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    def tornFold(): Nothing =
      throw new graft.scbf.ScbfFormatException(
        s"discovery fold $name at $table has an unparsable entry " +
          "line — the chain cannot be replayed exactly; repair or " +
          "remove the torn fold and re-run.")
    try {
      val header = new org.apache.hadoop.io.Text()
      val hr = new org.apache.hadoop.util.LineReader(in)
      val headerBytes = hr.readLine(header)
      if (header.toString != Header)
        throw new graft.scbf.ScbfFormatException(
          s"discovery delta $name at $table has an unrecognized header " +
            "— the chain cannot be replayed exactly; repair or remove " +
            "the foreign file and re-run.")
      // ts of the first FULL line at or after byte offset `off`
      // (None = no full line between off and EOF)
      def firstTsAt(off: Long): Option[Long] = {
        in.seek(off)
        val lr = new org.apache.hadoop.util.LineReader(in)
        val t = new org.apache.hadoop.io.Text()
        if (off > 0 && lr.readLine(t) == 0) return None // partial tail
        if (lr.readLine(t) == 0) return None
        parseLine(t.toString).map(_.ts)
          // a torn line mid-file breaks the bisect invariant — strict
          .orElse(tornFold())
      }
      // invariant: every full line starting at or after `hi` has
      // ts > lo (or none exist); lines before `lo_` may not. Start
      // hi at EOF (vacuously true), bisect down.
      var loOff = headerBytes.toLong
      var hiOff = len
      while (hiOff - loOff > 4096) {
        val mid = loOff + (hiOff - loOff) / 2
        firstTsAt(mid) match {
          case Some(ts) if ts > lo => hiOff = mid
          case Some(_) => loOff = mid
          case None => hiOff = mid // only a partial tail after mid
        }
      }
      // sequential tail: align like the probe, then serve post-lo
      // entries one line resident at a time (strict on torn lines).
      // loOff == headerBytes is already a line boundary (the start of
      // the first entry) — only a probed (raw) offset needs alignment
      in.seek(loOff)
      val lr = new org.apache.hadoop.util.LineReader(in)
      val t = new org.apache.hadoop.io.Text()
      if (loOff > headerBytes && lr.readLine(t) == 0) return
      while (lr.readLine(t) > 0) {
        val l = t.toString
        if (l.nonEmpty) parseLine(l) match {
          case Some(e) => if (e.ts > lo) f(e)
          case None => tornFold()
        }
      }
    } finally in.close()
  }

  private def parse(text: String): Seq[Entry] = {
    val lines = text.split("\n").toSeq.filter(_.nonEmpty)
    if (!lines.headOption.contains(Header)) Seq.empty
    else lines.tail.flatMap(parseLine)
  }

  private def parseLine(l: String): Option[Entry] =
    // ≥3 fields, unrecognized trailing tags ignored — the format
    // evolution rule (see Header): dropping a line over an unknown
    // tag would hide newly published files from a mixed-version
    // incremental consumer until its next reconcile
    l.split('\t') match {
      case a if a.length >= 3 =>
        for (ln <- a(1).toLongOption; t <- a(2).toLongOption) yield {
          val tags = a.iterator.drop(3).toSeq
          val rewriteOf = tags.find(_.startsWith("R:"))
            .map(_.drop(2).split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
          Entry(a(0), ln, t, rewriteOf, tags.contains("C:1"),
            tags.find(_.startsWith("D:")).map(_.drop(2)).filter(_.nonEmpty),
            tags.find(_.startsWith("V:")).flatMap(_.drop(2).toIntOption))
        }
      case _ => None
    }

  /** Append one delta announcing `entries`, then fold the log if it has
   * grown past [[CompactThreshold]] (counted on the listing the append
   * won its ordinal on: a delta another writer published meanwhile
   * triggers the fold at its own append). Failures are swallowed (log
   * scaladoc: discovery must never fail a committed write — the files
   * ARE published; a missed announcement is repaired by the consumer's
   * reconcile listing). */
  def append(table: Path, conf: Configuration, entries: Seq[Entry]): Unit =
    try {
      if (entries.nonEmpty) writeDelta(table, conf, entries).foreach { deltas =>
        deltaAppends.incrementAndGet()
        if (deltas > CompactThreshold) compact(table, conf)
      }
    } catch { case NonFatal(_) => /* best-effort — see scaladoc */ }

  /** Full-overwrite commit: the directory's contents were replaced, so
   * the log restarts — old announcements describe deleted files. Order
   * is delete-then-write: a crash in between leaves an EMPTY log (new
   * files surface at the next reconcile), never stale announcements of
   * dead files. `preserveTs` is the scrub/rollback spelling: entry
   * timestamps are HISTORY being rewritten in place and must pass
   * through verbatim (clamping them would shift `logStart` and every
   * recorded announce instant); the default (new announcements) rides
   * the monotonic commit clock like [[append]]. */
  def reset(table: Path, conf: Configuration, entries: Seq[Entry],
      preserveTs: Boolean = false): Unit =
    try {
      val d = dir(table)
      val fs = d.getFileSystem(conf)
      // direct FS probe, errors → TRUE: the boundary exists to keep a
      // change-feed window from silently serving an overwrite's
      // replacement as plain adds, so an UNVERIFIABLE history must be
      // treated as history (a spurious boundary on a fresh table only
      // makes a pre-creation feed window gate — loud, never wrong rows)
      val hadLog =
        try fs.exists(d) && fs.listStatus(d).exists(f =>
          f.getPath.getName.startsWith("delta-") &&
            !f.getPath.getName.endsWith(".tmp"))
        catch { case NonFatal(_) => true }
      if (fs.exists(d)) fs.listStatus(d).foreach(f => fs.delete(f.getPath, false))
      // a data-truncating reset of a table WITH recorded history leaves
      // a durable overwrite-boundary entry (see OverwriteBoundaryPrefix)
      // — folds carry it verbatim, so a change feed can always tell a
      // restarted chain from a brand-new table. History rewrites in
      // place (preserveTs — scrub/rollback) pass through unmarked: they
      // preserve history, they don't truncate it.
      val announced =
        if (preserveTs || !hadLog) entries
        else Entry(
          s"$OverwriteBoundaryPrefix${java.util.UUID.randomUUID().toString.take(8)}$RemovalSuffix",
          RemovedLen, entries.headOption.fold(System.currentTimeMillis())(_.ts),
          rowsChanged = true) +: entries
      if (announced.nonEmpty &&
          writeDelta(table, conf, announced, preserveTs = preserveTs).isDefined)
        deltaAppends.incrementAndGet()
    } catch { case NonFatal(_) => () }

  // ---- delta NAME formats -------------------------------------------
  //
  // v1 (rounds ≤14): `delta-<millis13>-[fold-<span>-s-]<uuid8>` — the
  //   sort axis is the publication millisecond; ordinals are DERIVED
  //   from stamp order (the documented distinct-millisecond interleave
  //   residual). Still read everywhere; never written again.
  // v2 (round 15, the ordinal-CAS protocol — Delta's `N.json` shape):
  //   `delta-v<last>%010d` for a plain commit at ordinal <last>, and
  //   `delta-v<last>%010df<span>%010ds[<gen>]` for a fold covering
  //   ordinals [last-span+1, last] (folds always fold the whole prefix,
  //   so first = 0 in practice; <gen> disambiguates a same-range
  //   re-fold — the scrub path). The ORDINAL is the name: publication
  //   is an atomic exclusive-create of the name itself, so two racers
  //   for one slot get consecutive ordinals with a retrying (not
  //   aborting) loser, and readers sort by commit order directly.
  //   'v' > any digit, so every v2 name sorts AFTER every v1 name —
  //   mixed chains (an old table's new commits) order correctly with
  //   no migration step; the next compaction folds the whole chain
  //   into one v2 fold.
  //   A v2 delta's publication INSTANT lives in a sibling marker file
  //   `tsb-<nameSuffix>-<millis13>` (see [[listLog]]) — name-only
  //   instants are what keep early-stop bounds, the commit-clock
  //   floor and CDC stream offsets O(0 reads); a lost marker (crash
  //   between publish and marker) only degrades those to one small
  //   delta read, never to wrong results.

  private val V2Re = """^delta-v(\d{10})(?:f(\d{10})s(\d*))?$""".r

  /** v2 name → the LAST ordinal the delta renders (a plain commit's
   * own ordinal; a fold's newest covered ordinal). None on v1 names.
   * This is the name's SORT/claim key; actual ordinals remain the
   * positional walk of [[versionedChain]] (the two agree on every
   * healthy chain — publication is atomic, so claimed slots cannot be
   * left torn; only external corruption could make them diverge, and
   * then position order is still well-defined). */
  def claimedLast(name: String): Option[Int] = name match {
    case V2Re(v, _, _) => Some(v.toInt)
    case _ => None
  }

  /** v2 name → the claimed ordinal range [first, last] it covers.
   * Folds always fold the ENTIRE chain prefix (compact and scrub both
   * do), so a fold's claimed range is structurally [0, last] — using
   * last-span+1 would mis-range a fold whose claimed `last` ran ahead
   * of its positional span (claimed/positional drift), breaking
   * subsumption containment. */
  def claimedRange(name: String): Option[(Int, Int)] = name match {
    case V2Re(v, null, _) => Some((v.toInt, v.toInt))
    case V2Re(v, _, _) => Some((0, v.toInt))
    case _ => None
  }

  /** `true` for a compaction-snapshot delta — v1's `-fold-` marker or
   * a v2 `f<span>s` name. Lets the commit view ([[commitChain]]
   * consumers) distinguish "one commit" from "the union of every
   * commit folded so far". */
  def isFold(name: String): Boolean = name match {
    case V2Re(_, sp, _) => sp != null
    case _ => name.contains("-fold-")
  }

  /** `true` for a fold written with its entries SORTED by (ts, name)
   * (round 13's `-s-` segment; every v2 fold — sorting is part of the
   * v2 fold contract). Sorting is what makes a fold BISECTABLE: the
   * bounded feed replay seeks to the first post-`lo` line instead of
   * streaming the whole snapshot, turning the fold-containing
   * window's byte cost from O(table history) into O(log n seeks +
   * post-lo bytes). Entry order inside a delta never carried meaning
   * (readers build maps), so the change is compatible both ways. */
  def isSortedFold(name: String): Boolean = name match {
    case V2Re(_, sp, _) => sp != null
    case _ => isFold(name) && name.contains("-s-")
  }

  /** The number of versions a fold snapshot REPRESENTS, recorded in
   * its name (v1 `delta-<millis>-fold-<span>-<uuid>`, v2 `f<span>s`)
   * so commit ordinals stay durable across compaction: a fold
   * covering spans [v, v+span) keeps every later commit's ordinal
   * exactly what it was before the fold. None on a pre-span v1 fold
   * name (`delta-<millis>-fold-<uuid>` — the uuid never contains a
   * dash, so `-fold-<digits>-` cannot false-match it); those degrade
   * to span 1, the historical renumbering behavior. */
  def foldedSpan(name: String): Option[Int] = name match {
    case V2Re(_, sp, _) if sp != null => Some(sp.toInt)
    case _ => FoldSpanRe.findFirstMatchIn(name).map(_.group(1).toInt)
  }

  private val FoldSpanRe = """-fold-(\d+)-""".r

  /** How many ordinals one chain delta occupies: a plain commit is 1;
   * a span-recorded fold is the number of commits it folded (counted
   * through earlier folds' own spans). */
  def versionSpan(name: String): Int =
    if (isFold(name)) foldedSpan(name).getOrElse(1) else 1

  /** A v1 delta name's creation-millis prefix (used for newest-first
   * early-stop bounds: every entry in a delta was stamped at or before
   * the delta's own publication). None on v2 and alien names — v2
   * instants come from the `tsb-` markers via [[listLog]]. */
  def deltaMillis(name: String): Option[Long] =
    if (name.startsWith("delta-v")) None
    else name.split('-').lift(1).flatMap(_.toLongOption)

  // ---- log-directory listing with per-delta instants ----------------

  /** Publication-instant marker name for a v2 delta (best-effort
   * sibling file, created right after the delta publishes). */
  private def markerName(delta: String, millis: Long): String =
    f"tsb-${delta.stripPrefix("delta-")}-$millis%013d"

  /** One listing of the log dir: the chain's delta names plus each
   * delta's publication-instant upper bound where one is knowable
   * without a content read — v1 names carry it in the name, v2 names
   * in their `tsb-` marker. A delta absent from `instants` (marker
   * lost to a crash between publish and marker) has no free bound:
   * early-stops read it, the commit-clock floor reads its max entry
   * stamp — degraded cost, identical results. `mtimes` carries the
   * raw file modification times (free from the same listStatus) — the
   * last-resort bound for a delta with neither marker nor entries. */
  final case class LogListing(deltas: Seq[String], instants: Map[String, Long],
      mtimes: Map[String, Long] = Map.empty,
      lens: Map[String, Long] = Map.empty)

  /** [[LogListing]] as a Try — the one listing variant that can tell
   * "the log dir is genuinely absent" (Success with no deltas) from
   * "the listing FAILED" (Failure). OCC snapshots need the
   * distinction: a transient listing error must fail the mutation
   * closed, not silently skip the write-write conflict check. */
  def tryListLog(table: Path, conf: Configuration): scala.util.Try[LogListing] =
    scala.util.Try {
      val d = dir(table)
      val fs = d.getFileSystem(conf)
      if (!fs.exists(d)) LogListing(Seq.empty, Map.empty)
      else {
        val statuses = fs.listStatus(d).toSeq
        val names = statuses.map(_.getPath.getName)
        val deltas = names.filter(n =>
          n.startsWith("delta-") && !n.endsWith(".tmp"))
        val mtimes = statuses.iterator
          .map(s => s.getPath.getName -> s.getModificationTime).toMap
        val lens = statuses.iterator
          .map(s => s.getPath.getName -> s.getLen).toMap
        val markers = names.iterator.filter(_.startsWith("tsb-")).flatMap { n =>
          // tsb-<suffix>-<millis13>: millis after the LAST dash (v2
          // name suffixes contain no dash)
          val cut = n.lastIndexOf('-')
          if (cut <= 4) None
          else n.drop(cut + 1).toLongOption
            .map(m => s"delta-${n.substring(4, cut)}" -> m)
        }.toMap
        val instants = deltas.iterator.flatMap(n =>
          deltaMillis(n).orElse(markers.get(n)).map(n -> _)).toMap
        LogListing(deltas, instants, mtimes, lens)
      }
    }

  /** [[tryListLog]] degraded to empty on failure — for the best-effort
   * surfaces where a missed listing only costs freshness. */
  def listLog(table: Path, conf: Configuration): LogListing =
    tryListLog(table, conf).getOrElse(LogListing(Seq.empty, Map.empty))

  /** The newest persisted commit instant — the OCC snapshot point.
   * Success(None) = the table has no chain (nothing announced to
   * conflict with); Failure = the listing (or a markerless delta's
   * fallback read) failed and the caller must fail CLOSED. The bound
   * is ≥ every published entry stamp and < every future commit's
   * stamps (the commit-clock floor), exactly the replay contract. */
  def newestCommitInstant(table: Path, conf: Configuration): scala.util.Try[Option[Long]] =
    tryListLog(table, conf).flatMap { l =>
      if (l.deltas.isEmpty) scala.util.Success(None)
      else scala.util.Try {
        val known = l.deltas.flatMap(l.instants.get)
        val unknown = l.deltas.filterNot(l.instants.contains).flatMap { n =>
          // markerless delta (crashed writer): its max entry stamp is
          // a valid bound — the floor guarantees later commits stamp
          // strictly past it. STRICT read: an unreadable/torn delta
          // throws (caller fails closed), while a genuinely EMPTY one
          // (a scrub's entry-less span fold whose marker was crash-
          // lost) holds no stamps to bound and is skipped — throwing
          // there would brick every mutation on the table durably.
          var max = Long.MinValue
          readDeltaStream(table, conf, n, strict = true)(e =>
            if (e.ts > max) max = e.ts)
          if (max == Long.MinValue) None else Some(max)
        }
        val all = known ++ unknown
        if (all.nonEmpty) Some(all.max)
        else
          // chain exists but holds NO stamps anywhere (every delta is
          // an entry-less fold with a crash-lost marker): returning
          // None here would read as "no chain" and silently DISABLE
          // OCC — instead bound by the newest delta FILE MTIME (set at
          // publication, so ≥ any stamp that could have existed and
          // < every future commit's stamps, modulo remote-FS clock
          // skew the 1h heal grace already tolerates). OCC stays ON.
          Some(l.deltas.flatMap(l.mtimes.get).maxOption.getOrElse(0L))
      }
    }

  /** The current commit chain, oldest-first — the total order
   * `VERSION AS OF n` indexes (version n = the state after the n-th
   * commit). Compaction folds pre-history into one `-fold-` snapshot
   * that RECORDS how many versions it covers ([[foldedSpan]]), so
   * ordinals are durable: `VERSION AS OF 7` names the same state
   * before and after any number of folds — a fold only changes which
   * ordinals are individually RENDERABLE (interior folded ordinals
   * refuse loudly; the fold's last ordinal and everything after it
   * render exactly as before). Timestamps remain the finest axis. */
  def commitChain(table: Path, conf: Configuration): Seq[String] =
    subsume(listDeltas(table, conf).sorted)

  /** Drop v2 deltas whose claimed ordinal range another v2 delta's
   * range covers — the transient fold window (a fold published, its
   * folded deltas not yet deleted), concurrent folds that saw chains
   * of different lengths, and a scrub's same-range re-fold (larger
   * generation wins; its entries are the rewritten truth) all resolve
   * deterministically instead of double-counting spans. v1 names have
   * no claimed range and keep their historical (transient-double-
   * count) behavior. Input must be sorted; order is preserved. */
  private[sources] def subsume(sorted: Seq[String]): Seq[String] = {
    val ranged = sorted.flatMap(n => claimedRange(n).map(n -> _))
    if (ranged.size <= 1) sorted
    else sorted.filter { n =>
      claimedRange(n) match {
        case None => true
        case Some((f, l)) => !ranged.exists { case (m, (f2, l2)) =>
          m != n && f2 <= f && l <= l2 &&
            (l2 - f2 > l - f ||
              (f2 == f && l2 == l &&
                // equal ranges: the LARGER re-fold GENERATION wins,
                // compared NUMERICALLY (a raw string compare would
                // rank legacy unpadded "s2" above "s0003" and invert
                // again at 5 digits), name order as the final tie
                (foldGen(m) > foldGen(n) ||
                  (foldGen(m) == foldGen(n) && m > n)))) }
      }
    }
  }

  /** A v2 fold name's re-fold generation (1 when unmarked); 0 for
   * anything else. */
  private def foldGen(name: String): Int = name match {
    case V2Re(_, sp, g) if sp != null =>
      if (g == null || g.isEmpty) 1 else g.toIntOption.getOrElse(1)
    case _ => 0
  }

  /** The chain with each delta's ordinal span: (name, firstVersion,
   * lastVersion), oldest-first. `lastVersion` is the state the delta
   * renders; a fold's interior ordinals [first, last) are folded away. */
  def versionedChain(table: Path, conf: Configuration): Seq[(String, Int, Int)] = {
    var v = 0
    commitChain(table, conf).map { n =>
      val span = versionSpan(n)
      val t = (n, v, v + span - 1)
      v += span
      t
    }
  }

  /** The instant "the state after commit `version`" names: the max
   * entry timestamp in that delta — feed it to the TIMESTAMP AS OF
   * machinery ([[filesAsOf]]) and the rendering is exactly the chain
   * prefix 0..version. Sound because [[append]] enforces strictly-
   * increasing entry timestamps per table (the monotonic commit
   * clock): commit n+1's entries are stamped strictly after commit
   * n's, so the time axis separates every pair of commits. Loud
   * refusals for an out-of-range version, an ordinal folded away by
   * compaction (the state still EXISTED — it just has no standalone
   * delta to bound it; the refusal names the timestamp cure), and an
   * unreadable delta. */
  def versionTs(table: Path, conf: Configuration, version: Int): Long = {
    val chain = versionedChain(table, conf)
    if (chain.isEmpty)
      throw new graft.scbf.ScbfFormatException(
        s"VERSION AS OF $version on $table: the table has no discovery log — " +
          "no recorded history.")
    val total = chain.last._3 + 1
    if (version < 0 || version >= total)
      throw new graft.scbf.ScbfFormatException(
        s"VERSION AS OF $version on $table: the table has $total recorded " +
          s"commits (valid versions 0..${total - 1} — see DESCRIBE HISTORY " +
          "<tbl> COMMITS). Ordinals are durable across compaction; for " +
          "points older than the log records, use TIMESTAMP AS OF <ts>.")
    val (name, _, last) = chain.find { case (_, f, l) =>
      version >= f && version <= l }.get
    if (version != last)
      throw new graft.scbf.ScbfFormatException(
        s"VERSION AS OF $version on $table: that commit was folded into " +
          s"compaction snapshot $name (which renders version $last, the " +
          "state after its newest folded commit) — its per-commit boundary " +
          "no longer has a standalone delta. Use TIMESTAMP AS OF <ts> " +
          "(timestamps are the finest durable axis; entries keep their " +
          "original stamps through folds), or a renderable ordinal from " +
          "DESCRIBE HISTORY <tbl> COMMITS.")
    var maxTs = Long.MinValue
    readDeltaStream(table, conf, name)(e =>
      if (e.ts > maxTs) maxTs = e.ts)
    if (maxTs == Long.MinValue)
      throw new graft.scbf.ScbfFormatException(
        s"VERSION AS OF $version on $table: commit $name is " +
          "unreadable or empty — use TIMESTAMP AS OF <ts> from " +
          "DESCRIBE HISTORY instead.")
    maxTs
  }

  /** Per-table monotonic commit clock (this process): the newest entry
   * timestamp any commit has published. [[writeDelta]] shifts a new
   * commit's entries past it, so two commits can never share a
   * millisecond — which is what makes `versionTs`'s max-entry-ts → the
   * time axis mapping EXACT instead of "exact up to ms granularity".
   *
   * CROSS-PROCESS enforcement (round 15 — the ordinal-CAS protocol
   * replaces round 13's millisecond claims):
   *  1. the PERSISTED floor: every commit raises the clock to the
   *     newest persisted commit instant (v1 name millis + v2 `tsb-`
   *     markers from ONE listing of the small, compaction-bounded log
   *     dir; a markerless crashed head is bounded by one read of its
   *     max entry stamp) — so ANY sequentially-interleaved writers,
   *     separate JVMs, restarts, NTP-stepped wall clocks produce
   *     strictly increasing stamps.
   *  2. the ordinal CAS itself: two processes stamping CONCURRENTLY
   *     collide on the same `delta-v<K>` name; exactly one publishes,
   *     and the loser raises its clock past the winner's ACTUAL max
   *     entry stamp (one small read of the winning delta) before
   *     restamping and retrying at K+1 — so entry stamps follow the
   *     ordinal serialization order exactly. The round-13 residual
   *     (two processes stamping distinct milliseconds inside one
   *     listing-latency window could interleave the time axis) is
   *     closed: every concurrent pair hits the CAS. */
  private val commitClock =
    new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  private val MaxCasAttempts = 64

  /** The claimed ordinal of the NEXT commit: one past the newest
   * claimed ordinal any v2 name records (name-only — no content
   * reads), or the v1 chain's total span when no v2 commit exists yet
   * (the first CAS commit of an upgraded table continues the old
   * numbering). */
  private def nextOrdinal(deltas: Seq[String]): Int = {
    val v2 = deltas.flatMap(claimedLast)
    if (v2.nonEmpty) v2.max + 1
    else deltas.map(versionSpan).sum
  }

  /** Publish `tmp` at `target` EXCLUSIVELY or fail — the CAS
   * primitive. Local filesystems use a java.nio hard link (atomic
   * O_EXCL at the syscall layer; Hadoop's local rename silently
   * overwrites and its create(overwrite=false) is check-then-act).
   * Everything else uses rename, atomic no-overwrite on HDFS; object
   * stores degrade to a best-effort exists check — the same trust
   * level Delta needs a commit service for there, documented. True =
   * this process owns the name and the content is fully visible;
   * false = another writer owns it (retry at the next ordinal). */
  private def publishExclusive(fs: org.apache.hadoop.fs.FileSystem,
      tmp: Path, target: Path): Boolean = {
    val local = Option(fs.getUri.getScheme).forall(_ == "file")
    if (local) {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(target.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else
      try fs.rename(tmp, target)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      }
  }

  /** Test seam: simulate a driver restart (clears every in-memory
   * clock, forcing the next commit to re-seed from the chain). */
  private[sources] def resetCommitClocks(): Unit = commitClock.clear()

  /** Test seam: invoked between ordinal computation and the CAS
   * publish — the window a racing writer's commit lands in. */
  private[sources] var casRaceHook: () => Unit = () => ()

  /** Max existing generation among same-range fold names, so a
   * re-fold NEVER reuses a generation a stale leftover still holds
   * (subsumption prefers the larger generation — a reused smaller one
   * would lose to poisoned garbage). */
  private def nextFoldGen(deltas: Seq[String], last: Int, span: Int): Int = {
    val base = f"delta-v$last%010df$span%010ds"
    deltas.filter(_.startsWith(base)).map { n =>
      val suffix = n.drop(base.length)
      if (suffix.isEmpty) 1 else suffix.toIntOption.getOrElse(1)
    }.maxOption.getOrElse(0) + 1
  }

  /** Write one delta via the ordinal-CAS protocol. Returns the number
   * of deltas the log holds with it, as the listing it won on showed
   * them, or None when the CAS lost [[MaxCasAttempts]]
   * times (pathological contention — the best-effort announce
   * contract applies: files are published, reconcile repairs).
   * `foldLast` (folds only): the max CLAIMED ordinal the fold covers —
   * the name must claim it even when it runs ahead of the positional
   * span, or the next commit's `nextOrdinal` would re-issue an
   * already-used name (names are never reused: streams track consumed
   * deltas by name). */
  private def writeDelta(table: Path, conf: Configuration, entries: Seq[Entry],
      foldSpan: Int = 0, preserveTs: Boolean = false,
      foldLast: Int = -1): Option[Int] = {
    val d = dir(table)
    val fs = d.getFileSystem(conf)
    fs.mkdirs(d)
    // folds and history rewrites preserve entry stamps VERBATIM (they
    // re-announce old history); only genuinely new commits ride the
    // monotonic clock
    val isNewCommit = !preserveTs && foldSpan == 0 && entries.nonEmpty
    val clock = commitClock.computeIfAbsent(
      fs.makeQualified(d).toString, _ => new AtomicLong(Long.MinValue))
    def raiseTo(v: Long): Unit = {
      var done = false
      while (!done) {
        val f = clock.get()
        done = f >= v || clock.compareAndSet(f, v)
      }
    }
    var attempt = 0
    var gen = 0 // folds: initialized from the listing on first attempt
    while (attempt < MaxCasAttempts) {
      attempt += 1
      val listing = listLog(table, conf)
      val stamped =
        if (!isNewCommit) entries
        else {
          // persisted cross-process floor (see commitClock scaladoc)
          listing.deltas.flatMap(listing.instants.get)
            .maxOption.foreach(raiseTo)
          listing.deltas.filterNot(listing.instants.contains).foreach(n =>
            readDelta(table, conf, n).iterator.map(_.ts).maxOption
              .foreach(raiseTo))
          var out = entries
          var done = false
          while (!done) {
            val floor = clock.get()
            val minIn = entries.iterator.map(_.ts).min
            val shift = if (floor == Long.MinValue || minIn > floor) 0L
              else floor + 1 - minIn
            out = if (shift == 0L) entries
              else entries.map(e => e.copy(ts = e.ts + shift))
            val newMax = out.iterator.map(_.ts).max
            done = clock.compareAndSet(floor, math.max(floor, newMax))
          }
          out
        }
      // the ordinal IS the name (v2): a plain commit claims the next
      // slot; a fold claims its covered range (same-range re-folds —
      // the scrub path — disambiguate by a zero-padded generation,
      // always past any stale leftover's)
      val name =
        if (foldSpan > 0) {
          val last = math.max(foldLast, foldSpan - 1)
          if (gen == 0) gen = nextFoldGen(listing.deltas, last, foldSpan)
          f"delta-v$last%010df$foldSpan%010ds${if (gen == 1) "" else f"$gen%04d"}"
        }
        else f"delta-v${nextOrdinal(listing.deltas)}%010d"
      // publication-instant: ≥ every entry stamp (the early-stop and
      // floor invariant) — a clock-shifted commit can run ahead of the
      // wall clock
      val millis = math.max(System.currentTimeMillis(),
        if (stamped.isEmpty) 0L else stamped.iterator.map(_.ts).max)
      // folds write SORTED by (ts, name) — the bisect promise
      // (readSortedFoldFrom); enforced HERE, the one fold-byte writer
      val body = if (foldSpan > 0) stamped.sortBy(e => (e.ts, e.name)) else stamped
      val tmp = new Path(d,
        s".$name.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
      val bytes = (Header +: body.map(e => s"${e.name}\t${e.len}\t${e.ts}" +
          (if (e.rewriteOf.isEmpty) "" else s"\tR:${e.rewriteOf.mkString(",")}") +
          (if (e.rowsChanged) "\tC:1" else "") +
          e.cdcTag.fold("")(t => s"\tD:$t") +
          e.commitVersion.fold("")(v => s"\tV:$v")))
          .mkString("\n").getBytes(UTF_8)
      val out = fs.create(tmp, true)
      try out.write(bytes)
      finally out.close()
      if (attempt == 1) casRaceHook()
      val won = publishExclusive(fs, tmp, new Path(d, name))
      try fs.delete(tmp, false) catch { case NonFatal(_) => () }
      if (won) {
        // the instant marker: what gives this delta its publication
        // bound in every LISTING (early-stop, floor, CDC offsets,
        // DESCRIBE instants) without a content read. Best-effort — a
        // lost marker degrades those to one small read, never to
        // wrong results.
        val marked =
          try { fs.create(new Path(d, markerName(name, millis)), true).close(); true }
          catch { case NonFatal(_) => false }
        if (isNewCommit)
          extendCursor(table, conf, listing, name, bytes.length,
            Some(millis).filter(_ => marked), stamped)
        return Some(listing.deltas.size + 1)
      }
      // lost the CAS: another writer owns this name
      if (foldSpan > 0) gen += 1 // an identical-range fold exists
      else if (isNewCommit)
        // serialize the TIME axis behind the winner too: restamp past
        // the winner's actual stamps so ordinal order and stamp order
        // agree by construction
        readDelta(table, conf, name).iterator.map(_.ts).maxOption
          .foreach(raiseTo)
    }
    logWarning(s"discovery commit on $table: lost the ordinal CAS " +
      s"$MaxCasAttempts times — giving up (another writer is racing this " +
      "table hard; the files are published and reconcile listings repair " +
      "the missed announcement)")
    None
  }

  /**
   * Read-only TIME TRAVEL from the log — `graft` batch read option
   * `asOfTimestamp` (epoch millis): the set of data files LIVE at `ts`.
   *
   * The log is already a version chain: every commit appends entries
   * stamped with the publication time, rewrites/deletes name their
   * victims in `rewriteOf`, and file names are never reused — so
   * liveness needs no replay order at all:
   *   live(ts) = {published at ≤ ts} − {named as replaced at ≤ ts}.
   * Compaction preserves entries (and their original `ts`), so history
   * survives folding; only a full-overwrite `reset` truncates it, and
   * that boundary is refused loudly below.
   *
   * Three REFUSALS keep this honest (each names its cure):
   *  - no log, or `ts` before the log's first entry — history simply
   *    is not recorded that far back;
   *  - a currently-listed data file the log never announced (producer
   *    bypassed the connector) — the chain cannot be trusted;
   *  - a live-at-ts file that no longer exists on disk — a later
   *    DELETE/UPDATE/OPTIMIZE physically removed it (SCBF retains no
   *    tombstoned bytes; see README). AS OF is exact for any point
   *    whose files still live — the append-only ingest history, which
   *    at 100 TB is almost all of it.
   */
  def filesAsOf(root: Path, conf: Configuration, ts: Long,
      currentListing: Seq[org.apache.hadoop.fs.FileStatus]): Seq[org.apache.hadoop.fs.FileStatus] = {
    val fs = root.getFileSystem(conf)
    val qroot = fs.makeQualified(root)
    def refuse(why: String): Nothing =
      throw new graft.scbf.ScbfFormatException(
        s"asOfTimestamp=$ts on $qroot: $why")
    if (!exists(qroot, conf))
      refuse("the table has no discovery log — time travel replays the " +
        "log's version chain. Tables written by this connector keep one " +
        "automatically; foreign/reference-tool directories have no " +
        "recorded history.")
    // one streamed pass over the chain builds the liveness relation —
    // first announcement per name (compaction snapshots duplicate
    // entries verbatim; names are never reused) and earliest removal
    // per name — without ever materializing the 10⁶-entry history as
    // a Seq or paying double groupBys over it (HistoryScale)
    val byName = scala.collection.mutable.HashMap.empty[String, Entry]
    val removedAt = scala.collection.mutable.HashMap.empty[String, Long]
    // victim → the CDC tag of the commit that retained its bytes
    // (ScbfCdc): on a CDC-enabled table a physically-rewritten file's
    // bytes live on under `.scbf.cdc/<tag>/pre/<name>`, which is what
    // keeps AS OF exact ACROSS rewrites instead of refusing
    val victimTag = scala.collection.mutable.HashMap.empty[String, String]
    commitChain(qroot, conf).foreach { n =>
      readDeltaStream(qroot, conf, n) { e =>
        val cur = byName.get(e.name)
        if (cur.isEmpty || cur.get.ts > e.ts) byName(e.name) = e
        e.rewriteOf.foreach { victim =>
          val r = removedAt.get(victim)
          if (r.isEmpty || r.get > e.ts) removedAt(victim) = e.ts
          e.cdcTag.foreach(t => victimTag.getOrElseUpdate(victim, t))
        }
      }
    }
    if (byName.isEmpty) refuse("the discovery log is empty — no recorded history.")
    val logStart = byName.valuesIterator.map(_.ts).min
    if (ts < logStart)
      refuse(s"history starts at $logStart (the log's first entry — a full " +
        "INSERT OVERWRITE resets the chain, and nothing before the first " +
        "connector write was ever recorded).")
    def liveAt(t: Long): Seq[Entry] = byName.values.toSeq
      .filter(e => e.len >= 0 && e.ts <= t &&
        removedAt.get(e.name).forall(_ > t))
    // reconcile: every CURRENTLY listed data file must have been
    // ANNOUNCED to the log, else a producer bypassed it and the chain
    // cannot be trusted for any timestamp. A listed file the log marks
    // REMOVED is a different, recognizable state: a crashed RESTORE /
    // metadata-only DELETE that announced its removal entry but died
    // before the physical deletes (announce-then-remove is the
    // documented commit order). The log is the truth — those bytes are
    // garbage pending deletion — so the chain stays trusted, reads at
    // any ts keep their log-derived answer, and RE-RUNNING the same
    // RESTORE completes the half-finished removal instead of being
    // refused with a misleading bypassed-producer error.
    val announced = byName.keySet
    val unannounced = currentListing.map { f =>
      qroot.toUri.relativize(fs.makeQualified(f.getPath).toUri)
        .getPath.stripPrefix("/")
    }.filterNot(announced)
    if (unannounced.nonEmpty)
      refuse(s"the discovery log is incomplete — data files exist that it " +
        s"never announced (${unannounced.take(3).mkString(", ")}" +
        s"${if (unannounced.size > 3) ", …" else ""}). A producer bypassed " +
        "the connector; the version chain cannot be trusted.")
    // per-file stat on the shared IO pool ([[statPooled]]): an as-of
    // rendering can be 10⁵+ files — overlap the HEADs, keep name
    // order, and surface the removed-file refusal unwrapped
    statPooled(fs, qroot, liveAt(ts).sortBy(_.name),
      onMissing = e => {
        // CDC retention first: the rewrite that removed this file may
        // have RETAINED its bytes (length-verified — retention renames
        // the original, so the announced length must match exactly)
        val retained = victimTag.get(e.name).flatMap { tag =>
          val p = ScbfCdc.preservedPath(qroot, tag, e.name)
          try {
            val st = p.getFileSystem(conf).getFileStatus(p)
            if (st.getLen == e.len) Some(st) else None
          } catch { case NonFatal(_) => None }
        }
        retained.getOrElse(
          refuse(s"file ${e.name} (published at ${e.ts}) was live at this " +
            "timestamp but has been physically removed by a later " +
            "DELETE/UPDATE/OPTIMIZE rewrite — SCBF retains no tombstoned " +
            "bytes (the frozen reference format has no retention layer) " +
            "and the table had no CDC retention at the rewrite. Pick a " +
            "timestamp at or after the rewrite, enable CDC retention " +
            "(ScbfCdc.enable) before mutations, or keep explicit CTAS " +
            "snapshots for long-horizon audits (README 'Time travel')."))
      },
      // announced lengths are FINAL (names are never reused; a rewrite
      // publishes a NEW name) — a same-name length change is a producer
      // that bypassed the connector and swapped bytes in place, and a
      // historical rendering over those bytes would serve rows the
      // chain never announced. Same trust boundary as the change feed.
      onResized = (e, len) =>
        refuse(s"file ${e.name} changed length ($len != announced " +
          s"${e.len}) without a log entry — a producer swapped its bytes " +
          "in place, bypassing the connector; the version chain cannot " +
          "be trusted for this file's history."))
  }

  /**
   * Row-level CHANGE FEED between two instants — batch read options
   * `changesSince[Version]` / `changesUntil[Version]`: the data files
   * holding exactly the ROWS ADDED in `(lo, hi]`, resolved from the
   * delta chain. The resync primitive incremental consumers lack under
   * `onChangeCommit=skip`: feed your last-seen point, read forward,
   * union the result into your copy. Exclusive-start/inclusive-end
   * like the file-level `DESCRIBE HISTORY … BETWEEN` feed this serves
   * rows for — `changesSinceVersion v1` + `changesUntilVersion v2`
   * is exactly commits v1+1..v2.
   *
   * Scale contract (HistoryScale): deltas NAMED at or before `lo` are
   * never read (entries are stamped at or before their delta's
   * publication, and fold re-announcements are verbatim copies
   * carrying the original stamp), and entries stamped at or before
   * `lo` are dropped on sight — the LOG replay is O(changes after
   * lo) DELTA READS, not O(table history). Fold caveat, stated
   * honestly: a compaction fold published AFTER `lo` re-announces the
   * entire pre-fold history verbatim, so the one strict streamed pass
   * over that fold reads O(table-history) BYTES for the window even
   * though every pre-lo entry is dropped on sight (deltaReads stays
   * small; byte cost does not). HistoryScale's O(changes) bracket
   * holds for fold-free windows — the common shape, since a feed
   * consumer's `lo` usually trails the head by less than one
   * compaction cycle ([[CompactThreshold]] commits). The default trust reconcile
   * (`reconcileListing`) additionally pays ONE table listing per feed
   * read — the bill any batch scan's planning pays — to catch files a
   * producer wrote around the connector; connector-only pipelines can
   * opt out (`feedReconcile=false`) and keep planning at O(changes).
   * The selected files then ride the NORMAL scan: stats skipping,
   * column pruning and `_file_path` lineage all apply to a feed read
   * (only manifest-served aggregate pushdown is off — manifests
   * describe the present table, not a window).
   *
   * Rows — not files — is the contract, so rewrites touching window
   * bytes are handled by EXACT SUBSTITUTION where the log proves it
   * sound, and by the `onChangeCommit` policy where it cannot:
   *  - a pure compaction (rowsChanged=false) whose victims are ALL in
   *    the selection replaces them with its output — same rows, new
   *    container, exact (even when the compaction lands after `hi`);
   *  - an IN-window DELETE/UPDATE/takedown whose victims are ALL
   *    in-window adds nets out — the replacement (or nothing, for a
   *    removal) IS the window's net row contribution, exact;
   *  - anything mixing window rows with pre-window rows, or changing
   *    them after the end point, cannot be expressed as "rows added
   *    in the window" without CDC the frozen format does not retain:
   *    policy `fail` (the feed's DEFAULT — a resync primitive must
   *    not silently drop) refuses naming the cure; `skip` warns and
   *    serves the unaffected adds; `deliver` admits the replacement
   *    file's rows (over-delivery — the stream's deliver contract).
   */
  def changedFilesBetween(root: Path, conf: Configuration, lo: Long, hi: Long,
      policy: String, reconcileListing: Boolean = true)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    require(Set("skip", "deliver", "fail").contains(policy),
      s"onChangeCommit must be skip, deliver or fail, got $policy")
    val fs = root.getFileSystem(conf)
    val qroot = fs.makeQualified(root)
    def refuse(why: String): Nothing =
      throw new graft.scbf.ScbfFormatException(
        s"changesSince=$lo on $qroot: $why")
    if (lo >= hi)
      refuse(s"the start point is not before the end point ($hi). The feed " +
        "is exclusive-start/inclusive-end — rows added AFTER the first " +
        "point up to the second; swap the points or widen the window.")
    if (!exists(qroot, conf))
      refuse("the table has no discovery log — the change feed replays the " +
        "log's version chain. Tables written by this connector keep one " +
        "automatically; foreign/reference-tool directories have no " +
        "recorded history.")
    // the feed's contract is "must not silently drop", so unlike the
    // best-effort optimization layers it REFUSES what it cannot
    // verify: an empty/unlistable chain (listDeltas degrades errors to
    // empty — for a stream that only costs freshness; here it would
    // cost rows) and, below, unreadable deltas (strict reads) and
    // unannounced files.
    val firstAt = replayEntriesAfter(qroot, conf, lo, refuse)
    def inWindow(t: Long): Boolean = t > lo && t <= hi
    // replay in publication order (the monotonic commit clock makes ts
    // a total order across commits), maintaining the selected net adds
    val selected = scala.collection.mutable.LinkedHashMap.empty[String, Entry]
    // a full INSERT OVERWRITE after `lo` restarted the log: every
    // record before it is GONE (the reset deleted the old deltas), so
    // "rows added in (lo, overwrite)" is unknowable and every
    // pre-overwrite row was replaced — gate BEFORE serving anything.
    // The boundary entry is durable across folds (OverwriteBoundaryPrefix).
    // Under `deliver`, a POST-window overwrite admits the overwrite
    // commit's own files (the replacement bytes — they share the
    // boundary's stamp); an IN-window overwrite's replacements are the
    // post-overwrite adds the window already serves.
    var admitOverwriteAt: Option[Long] = None
    firstAt.values.filter(e =>
        e.name.startsWith(OverwriteBoundaryPrefix) && e.ts > lo)
      .toSeq.sortBy(_.ts).headOption.foreach { b =>
      if (b.ts <= hi)
        gate(s"the table was fully overwritten (INSERT OVERWRITE, at " +
          s"${b.ts}) inside the window — every pre-existing row was " +
          "replaced, and records before the overwrite are gone from the " +
          "restarted log, so rows added between the start point and the " +
          "overwrite are unknowable; under skip AND deliver the feed " +
          "serves the post-overwrite adds (they ARE the replacement rows)")
      else if (gate(s"the table was fully overwritten (INSERT OVERWRITE, " +
          s"at ${b.ts}) after the end point — the window's bytes were " +
          "replaced wholesale and records before the overwrite are gone " +
          "from the restarted log"))
        admitOverwriteAt = Some(b.ts)
    }
    // policy gate for a change the feed cannot express exactly.
    // Returns true when the replacement bytes should be ADMITTED
    // (deliver), false when the affected adds should be dropped with a
    // warning (skip); refuses under fail, naming the cure.
    def gate(what: String): Boolean = policy match {
      case "fail" =>
        refuse(s"$what — the feed cannot express this as rows added in " +
          "the window (the netting feed's contract; the frozen reference " +
          "format retains no row-level change data). For exact " +
          "enumeration of DELETE/UPDATE/MERGE rows, enable CDC on the " +
          "table (ScbfCdc.enable / TBLPROPERTIES 'cdc'='true') and read " +
          "ScbfCdc.changes — mutations captured from then on serve " +
          "windows like this one with _change_type rows. Otherwise " +
          "resync from a TIMESTAMP AS OF read, or read the feed with " +
          "onChangeCommit=skip (serves the unaffected adds, hides this " +
          "change) or =deliver (admits the replacement file's rows).")
      case "skip" =>
        logWarning(s"changesSince=$lo on $qroot: onChangeCommit=skip — " +
          s"$what; serving the unaffected adds and hiding this change.")
        false
      case _ =>
        logWarning(s"changesSince=$lo on $qroot: onChangeCommit=deliver — " +
          s"$what; admitting the replacement file's rows (over-delivery).")
        true
    }
    firstAt.values.toSeq.sortBy(e => (e.ts, e.name))
      .filterNot(_.name.startsWith(OverwriteBoundaryPrefix)) // gated above
      .foreach { e =>
      val isRemoval = e.len < 0 || e.name.endsWith(RemovalSuffix)
      if (e.rewriteOf.isEmpty && !isRemoval) {
        // deliver's post-window-overwrite admission enters HERE (the
        // overwrite commit's own adds share the boundary's stamp), so
        // later rewrites of the admitted files substitute normally
        // instead of leaving dangling names for statPooled to trip on
        if (inWindow(e.ts) || admitOverwriteAt.contains(e.ts))
          selected(e.name) = e
      } else {
        val victims = e.rewriteOf
        val selVictims = victims.filter(selected.contains)
        val allSelected = victims.nonEmpty && victims.forall(selected.contains)
        if (isRemoval) {
          if (inWindow(e.ts) && allSelected) {
            selected --= victims // added then removed inside the window: net zero
          } else if (inWindow(e.ts)) {
            gate("a takedown in the window removed rows that predate it " +
              s"(removal ${e.name} at ${e.ts})")
            selected --= selVictims // their in-window rows were removed in-window too
          } else if (selVictims.nonEmpty) {
            gate("rows added in the window were removed AFTER the end " +
              s"point (removal ${e.name} at ${e.ts}) and their bytes are gone")
            selected --= selVictims
          } // else: a post-window removal of pre-window rows — the next window's feed
        } else if (!e.rowsChanged) { // pure compaction: same rows, new container
          if (selVictims.isEmpty) {
            // a rearrangement of pre-window rows only — not a row change
          } else if (allSelected) {
            selected --= victims; selected(e.name) = e // exact substitution
          } else if (gate("a compaction folded window rows together with " +
              s"rows outside the window (${e.name} at ${e.ts})")) {
            selected --= selVictims; selected(e.name) = e
          } else selected --= selVictims
        } else { // rowsChanged rewrite: DELETE/UPDATE/MERGE replacement
          if (inWindow(e.ts) && allSelected) {
            selected --= victims; selected(e.name) = e // in-window net state: exact
          } else if (inWindow(e.ts)) {
            if (gate("a DELETE/UPDATE in the window rewrote rows that " +
                s"predate it (${e.name} at ${e.ts})")) {
              selected --= selVictims; selected(e.name) = e
            } else selected --= selVictims
          } else if (selVictims.nonEmpty) {
            if (gate("rows added in the window were rewritten AFTER the " +
                s"end point (${e.name} at ${e.ts})")) {
              selected --= selVictims; selected(e.name) = e
            } else selected --= selVictims
          } // else: a post-window rewrite of pre-window rows — the next window's feed
        }
      }
    }
    // bypassed-producer reconcile (default ON, `feedReconcile=false`
    // opts out): a currently-listed data file whose modification time
    // is after `lo` must have been ANNOUNCED after `lo` (data lands
    // before its delta, and fold copies keep original stamps) — one
    // the replay never saw was written around the connector, and a
    // feed that silently omitted its rows would claim a sync it does
    // not have. Files older than the window are the baseline read's
    // business, not this window's (checking them would cost the full
    // chain). This check pays ONE table listing — the same bill any
    // batch scan's planning pays, but MORE than the pure log replay;
    // pipelines whose producers are known connector-only can opt out
    // and keep the feed's planning at O(changes).
    if (reconcileListing) {
      val announced = firstAt.keySet
      val bypassed = ScbfDataSource.resolveFiles(Seq(qroot.toString), conf)
        .filter(_.getModificationTime > lo)
        .map(f => qroot.toUri.relativize(
          fs.makeQualified(f.getPath).toUri).getPath.stripPrefix("/"))
        .filterNot(announced)
      if (bypassed.nonEmpty)
        refuse(s"data files newer than the start point exist that the " +
          s"discovery log never announced (${bypassed.take(3).mkString(", ")}" +
          s"${if (bypassed.size > 3) ", …" else ""}) — a producer bypassed " +
          "the connector (or file clocks are skewed); the feed cannot be " +
          "trusted. Resync from a full read, or read with " +
          "feedReconcile=false if these files are intentionally foreign.")
    }
    // pooled per-file stats (a large window can select 10⁵ files) —
    // each length-guarded: the log says these bytes are the window's
    // rows, so a missing or resized file is a loud stop
    statPooled(fs, qroot, selected.values.toSeq.sortBy(_.name),
      onMissing = e =>
        refuse(s"file ${e.name} (published at ${e.ts}) holds rows added " +
          "in the window but has been physically removed without a log " +
          "entry — a producer bypassed the connector, or retention " +
          "swept bytes the chain still names; the feed cannot be " +
          "trusted. Resync from a full read."),
      onResized = (e, len) =>
        refuse(s"file ${e.name} changed length ($len != recorded " +
          s"${e.len}) without a log entry — a producer bypassed the " +
          "connector; the feed cannot be trusted. Resync from a full read."))
  }

  /** STRICT bounded replay of the post-`lo` chain, shared by the
   * netting feed ([[changedFilesBetween]]) and the CDC enumeration
   * ([[ScbfCdc.changes]]): one streamed pass over the deltas NAMED
   * after `lo` builds the first announcement per name among entries
   * STAMPED after `lo` (names are never reused; fold copies are
   * verbatim, so every copy of a name carries the same stamp — min-ts
   * kept defensively). A delta VANISHING mid-replay is a concurrent
   * compaction: its entries now live in a fold the stale listing
   * predates, so re-list and replay again (bounded retries) instead
   * of silently skipping what could be the only copy of an overwrite
   * boundary. Any IO shape a mid-read deletion can take (raw FNF on
   * local FS; BlockMissingException-style IOExceptions on HDFS/object
   * stores) retries; a PERSISTENT error exhausts the retries and
   * refuses loudly — these replays back contracts that must never
   * silently under-deliver. */
  private[sources] def replayEntriesAfter(qroot: Path, conf: Configuration,
      lo: Long, refuse: String => Nothing)
      : scala.collection.mutable.HashMap[String, Entry] =
    replayAfterWithSources(qroot, conf, lo, refuse).firstAt

  /** [[replayEntriesAfter]]'s result plus each name's SOURCE delta —
   * what lets OCC read a conflicting commit's ordinal off its v2 name
   * (single-loser arbitration). */
  private[sources] final case class Replay(
      firstAt: scala.collection.mutable.HashMap[String, Entry],
      deltaOf: scala.collection.mutable.HashMap[String, String])

  // ---- per-delta PARSE cache (optimization r15) ----------------------
  //
  // A published delta is content-immutable: every log write creates a
  // NEW file (tmp + exclusive publish; names are never reused — v2
  // ordinal-CAS names by construction, v1 uuid-suffixed names by
  // draw), and folds/scrubs publish new names then delete the old. So
  // one strict, complete parse of a delta can be reused by every later
  // replay — which is what turns a mutation fixture's per-statement
  // full-chain replays (recordedVictims once per op + OCC snapshot +
  // OCC recheck, each a chain read) from O(chain) content reads into
  // O(new deltas): at 100 TB the chain read is the Delta
  // checkpoint-read bill on an object store, paid per statement.
  //
  // NOT a result cache: no query output, row, or aggregate is ever
  // stored — only parsed lines of immutable log files, exactly the
  // bytes a re-read would produce. Keyed by (qualified path, length,
  // mtime) as defense-in-depth against out-of-band tampering; a
  // changed file misses and re-reads. Only STRICT complete parses are
  // cached (a non-strict read may skip torn lines). Bounded two ways:
  // per-delta by byte length (CacheMaxDeltaBytes — a 10⁶-entry
  // HistoryScale fold stays on the O(log) bisect path and out of
  // driver memory) and in total by accumulated bytes with LRU
  // eviction (CacheMaxTotalBytes).
  private[sources] val CacheMaxDeltaBytes: Long = 512L * 1024
  private[sources] val CacheMaxTotalBytes: Long = 32L * 1024 * 1024
  // test hook: replays served entirely from cache (PlanningScale-style)
  val deltaCacheHits = new AtomicLong(0)
  private val cachedBytes = new AtomicLong(0)
  private val entryCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, (Long, Vector[Entry])](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, (Long, Vector[Entry])]): Boolean =
          if (cachedBytes.get > CacheMaxTotalBytes) {
            cachedBytes.addAndGet(-e.getValue._1); true
          } else false
      })

  private def cacheKey(qroot: Path, name: String, listing: LogListing): Option[String] =
    for {
      len <- listing.lens.get(name) if len <= CacheMaxDeltaBytes
      mt <- listing.mtimes.get(name)
    } yield s"$qroot#$name@$len:$mt"

  /** Strict whole-delta read that populates the cache, serving entries
   * through `f` (post-filtering is the caller's admit). Returns after
   * caching; any read/parse failure propagates BEFORE the cache is
   * touched, so a torn delta can never poison it. */
  private def readThroughCache(qroot: Path, conf: Configuration, name: String,
      key: String)(f: Entry => Unit): Unit = {
    val buf = Vector.newBuilder[Entry]
    readDeltaStream(qroot, conf, name, strict = true)(buf += _)
    val es = buf.result()
    val bytes = listingLenOf(key)
    if (entryCache.put(key, (bytes, es)) == null) cachedBytes.addAndGet(bytes)
    es.foreach(f)
  }

  private def listingLenOf(key: String): Long = {
    val at = key.lastIndexOf('@'); val colon = key.lastIndexOf(':')
    if (at < 0 || colon < at) 0L else key.substring(at + 1, colon).toLong
  }

  /** One listing of `qroot`'s log handed to `replay`, re-listed and
   * retried when a delta vanishes mid-replay (a concurrent compaction
   * folded it into a delta this listing predates). An empty log, or a
   * chain still unreadable after 3 attempts, refuses. */
  private def withListing[T](qroot: Path, conf: Configuration,
      refuse: String => Nothing, attempt: Int = 1)(replay: LogListing => T): T = {
    val listing = listLog(qroot, conf)
    if (listing.deltas.isEmpty)
      refuse("the discovery log is empty or unlistable — there is no " +
        "recorded history to replay (a crashed overwrite, a swept log, or " +
        "a transient filesystem error). Retry, or resync from a full read.")
    try replay(listing)
    catch {
      case _: java.io.IOException if attempt < 3 =>
        withListing(qroot, conf, refuse, attempt + 1)(replay)
      case e: java.io.IOException =>
        refuse("the delta chain could not be replayed after 3 attempts " +
          s"(${e.getClass.getSimpleName}: ${e.getMessage}) — concurrent " +
          "compactions kept changing it, or the filesystem is failing; " +
          "retry the read.")
    }
  }

  /** Serve listed delta `n`'s entries to `f`, strictly. Small deltas
   * (≤ CacheMaxDeltaBytes) serve from / fill the per-delta parse cache:
   * deltas are content-immutable once published, so repeated replays
   * stop re-reading the same bytes. An oversized SORTED fold bisects
   * to its first line stamped after `lo` instead of streaming the
   * whole re-announced history — the replay's BYTE cost stays
   * O(changes) even across compactions (pre-round-13 unmarked folds
   * read whole) — and stays out of driver memory. */
  private def consult(qroot: Path, conf: Configuration, listing: LogListing,
      n: String, lo: Long)(f: Entry => Unit): Unit =
    cacheKey(qroot, n, listing) match {
      case Some(key) =>
        val hit = entryCache.get(key)
        if (hit != null) {
          // a cache hit still counts as a delta CONSULTATION:
          // deltaReads is the bounded-access contract every REQUIRE
          // pin and scale spec asserts on ("read ONLY the N post-start
          // deltas"), and that contract is about which deltas a replay
          // touches, not whether the bytes came from disk —
          // deltaCacheHits carries the physical-IO saving separately
          deltaReads.incrementAndGet()
          deltaCacheHits.incrementAndGet()
          hit._2.foreach(f)
        } else readThroughCache(qroot, conf, n, key)(f)
      case None =>
        if (isSortedFold(n)) readSortedFoldFrom(qroot, conf, n, lo)(f)
        else readDeltaStream(qroot, conf, n, strict = true)(f)
    }

  private[sources] def replayAfterWithSources(qroot: Path, conf: Configuration,
      lo: Long, refuse: String => Nothing): Replay =
    withListing(qroot, conf, refuse) { listing =>
      val firstAt = scala.collection.mutable.HashMap.empty[String, Entry]
      val deltaOf = scala.collection.mutable.HashMap.empty[String, String]
      // subsume: a delta whose claimed range another covers is pending
      // deletion; its only divergent content is entries a scrub
      // REMOVED — reading it would resurrect them
      subsume(listing.deltas.sorted)
        // early-stop: a delta published at or before `lo` cannot hold
        // post-lo entries (v1: name millis; v2: the tsb- marker; a
        // markerless crashed delta has no bound → read it)
        .filter(n => listing.instants.get(n).forall(_ > lo))
        .foreach { n =>
          consult(qroot, conf, listing, n, lo) { e =>
            if (e.ts > lo) {
              val cur = firstAt.get(e.name)
              if (cur.isEmpty || cur.get.ts > e.ts) {
                firstAt(e.name) = e
                deltaOf(e.name) = n
              }
            }
          }
        }
      Replay(firstAt, deltaOf)
    }

  // ---- per-root REPLAY CURSOR (OCC) ----------------------------------
  //
  // Every copy-on-write statement replays its table root's log two to
  // four times (the snapshot's recorded victims, the pre-publish check,
  // the post-publish recheck, a later round's snapshot). The chain a
  // replay has seen is kept per qualified root, so the next replay
  // consults only the deltas published since, and this process's own
  // commits extend it without a read (reuse what the session already
  // knows). A chain is identified delta by delta by (name, length,
  // publication instant): a fold, scrub or reset changes some delta's
  // identity — a reset even reuses ordinal names, which the instant
  // tells apart — and the replay then starts over. Only the OCC
  // replays use it; change-feed, CDC and history replays keep
  // [[replayAfterWithSources]]. Bounded in total by CacheMaxTotalBytes
  // of delta bytes (least recently used cursors go first); a root
  // whose chain alone exceeds it replays as above.

  /** A replayed chain: its deltas' identities, oldest-first, and each
   * name's first announcement with its source delta. */
  private final case class Cursor(chain: Vector[(String, Long, Option[Long])],
      firstAt: Map[String, (Entry, String)]) {
    val bytes: Long = chain.iterator.map(_._2).sum
  }

  private def admit(firstAt: Map[String, (Entry, String)], e: Entry,
      delta: String): Map[String, (Entry, String)] =
    if (firstAt.get(e.name).exists(_._1.ts <= e.ts)) firstAt
    else firstAt.updated(e.name, (e, delta))

  private val cursorBytes = new AtomicLong(0)
  private val cursors =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Cursor](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Cursor]): Boolean =
          if (cursorBytes.get > CacheMaxTotalBytes) {
            cursorBytes.addAndGet(-e.getValue.bytes); true
          } else false
      })

  private def cursorKey(table: Path, conf: Configuration): String =
    table.getFileSystem(conf).makeQualified(table).toString

  private def chainOf(listing: LogListing): Vector[(String, Long, Option[Long])] =
    subsume(listing.deltas.sorted).iterator
      .map(n => (n, listing.lens.getOrElse(n, 0L), listing.instants.get(n))).toVector

  private def keep(key: String, c: Cursor): Unit =
    if (c.bytes > CacheMaxTotalBytes)
      Option(cursors.remove(key)).foreach(old => cursorBytes.addAndGet(-old.bytes))
    else {
      cursorBytes.addAndGet(c.bytes)
      Option(cursors.put(key, c)).foreach(old => cursorBytes.addAndGet(-old.bytes))
    }

  /** The entries of `qroot`'s log stamped after `lo`, each with its
   * source delta — [[replayAfterWithSources]]'s answer, from the root's
   * replay cursor: when the cursor's chain is a prefix of the listed
   * one, only the deltas past it are consulted (and counted in
   * `deltaReads`); otherwise the chain replays whole and replaces the
   * cursor. A name announced twice keeps its first announcement, after
   * `lo` or not (names are never reused). Refuses like
   * [[replayAfterWithSources]]. */
  private[sources] def occReplay(qroot: Path, conf: Configuration, lo: Long,
      refuse: String => Nothing): Seq[(Entry, String)] = {
    val key = cursorKey(qroot, conf)
    withListing(qroot, conf, refuse) { listing =>
      val chain = chainOf(listing)
      if (chain.iterator.map(_._2).sum > CacheMaxTotalBytes) None
      else {
        val base = Option(cursors.get(key)).filter(c => chain.startsWith(c.chain))
          .getOrElse(Cursor(Vector.empty, Map.empty))
        var firstAt = base.firstAt
        chain.drop(base.chain.size).foreach { case (n, _, _) =>
          consult(qroot, conf, listing, n, Long.MinValue)(e => firstAt = admit(firstAt, e, n))
        }
        keep(key, Cursor(chain, firstAt))
        Some(firstAt.valuesIterator.filter(_._1.ts > lo).toSeq)
      }
    }.getOrElse {
      val r = replayAfterWithSources(qroot, conf, lo, refuse)
      r.firstAt.iterator.map { case (n, e) => (e, r.deltaOf(n)) }.toSeq
    }
  }

  /** A new commit this process published as `name` on top of the chain
   * `listing` showed: when that chain is the cursor's (an empty log's
   * is the empty cursor), the cursor takes the commit's entries without
   * reading them back. */
  private def extendCursor(table: Path, conf: Configuration, listing: LogListing,
      name: String, len: Long, instant: Option[Long], entries: Seq[Entry]): Unit = {
    val key = cursorKey(table, conf)
    val c = Option(cursors.get(key)).getOrElse(Cursor(Vector.empty, Map.empty))
    if (c.chain == chainOf(listing))
      keep(key, Cursor(c.chain :+ ((name, len, instant)),
        entries.foldLeft(c.firstAt)(admit(_, _, name))))
  }

  /** Pooled per-file stats over log entries (an as-of rendering or a
   * feed window can be 10⁵+ files; on an object store serial HEAD
   * latencies would dominate the replay — overlap them on the shared
   * IO pool, keep name order). `onResized` fires when the live length
   * differs from the announced one — announced lengths are FINAL
   * (names are never reused), so both log-trusting callers (the feed
   * and filesAsOf) pass it: a same-name length change is a bypassed
   * producer, refused loudly rather than silently served. */
  private[sources] def statPooled(fs: org.apache.hadoop.fs.FileSystem, qroot: Path,
      entries: Seq[Entry],
      // returns a SUBSTITUTE status (CDC retention recovery) or throws
      onMissing: Entry => org.apache.hadoop.fs.FileStatus,
      onResized: (Entry, Long) => Nothing = null)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val futures = entries.map { e =>
      e -> ScbfStats.ioPool.submit(
        new java.util.concurrent.Callable[org.apache.hadoop.fs.FileStatus] {
          override def call(): org.apache.hadoop.fs.FileStatus =
            fs.getFileStatus(new Path(qroot, e.name))
        })
    }
    futures.map { case (e, f) =>
      val st =
        try f.get()
        catch {
          case ee: java.util.concurrent.ExecutionException
              if ee.getCause.isInstanceOf[java.io.FileNotFoundException] =>
            onMissing(e)
          case ee: java.util.concurrent.ExecutionException => throw ee.getCause
        }
      if (onResized != null && st.getLen != e.len) onResized(e, st.getLen)
      st
    }
  }

  /** Remove every entry naming one of `names` from the log — the
   * aborted-rewrite rollback path: a managed schema rewrite announces
   * its successor files to the (moved) log BEFORE the final swap rename
   * so streams never race a visibility gap, but if the swap then aborts
   * (concurrent root re-creation) those entries describe files that are
   * about to be deleted with the successor — left behind they would
   * poison every later time travel with a phantom "physically removed"
   * refusal. Rewrites the whole log as ONE span-recording fold (entry
   * timestamps pass through verbatim and the chain's total ordinal
   * span is preserved, so history, `logStart`, VERSION AS OF and
   * `_commit_version` are all unchanged); only ever runs on the rare
   * abort path. Best-effort like all log writes — but RETURNS whether
   * the rewrite took, so a rollback caller can report an incomplete
   * scrub honestly instead of claiming consistency. */
  def scrubEntries(table: Path, conf: Configuration, names: Set[String]): Boolean =
    try {
      if (names.isEmpty) return true
      // rewrite through the FOLD machinery, not a bare reset: the
      // replacement delta must record the chain's full ordinal span
      // (and V: tags, like compaction) or the scrub would silently
      // collapse every commit ordinal to 0 — corrupting VERSION AS OF,
      // startingVersion and CDC's _commit_version for the whole table
      // (the /code-review r14 catch). Entry timestamps pass through
      // verbatim either way, so the time axis is unchanged.
      val raw = listDeltas(table, conf)
      val chain = subsume(raw.sorted)
      val kept = scala.collection.mutable.LinkedHashMap.empty[String, Entry]
      var ord = 0
      chain.foreach { n =>
        val span = versionSpan(n)
        val last = ord + span - 1
        readDelta(table, conf, n).foreach { e0 =>
          if (!names.contains(e0.name)) {
            val e = if (span == 1 && e0.commitVersion.isEmpty)
              e0.copy(commitVersion = Some(last)) else e0
            kept(e.name) = e
          }
        }
        ord += span
      }
      val d = dir(table)
      val fs = d.getFileSystem(conf)
      // when the scrub empties the chain entirely, still publish an
      // entry-less span-recording fold: deleting the chain bare would
      // erase the recorded ordinal span and any overwrite boundary —
      // the exact version-collapse the fold rewrite exists to prevent
      // (ADVICE r14). The empty fold renders no standalone state
      // (versionTs refuses it, naming the timestamp cure) but keeps
      // every LATER commit's ordinal durable.
      if (kept.nonEmpty || ord > 0) {
        val published = writeDelta(table, conf, kept.values.toSeq,
          foldSpan = math.max(ord, 1),
          foldLast = math.max(ord - 1,
            raw.flatMap(claimedLast).maxOption.getOrElse(-1)))
        if (published.isEmpty) return false // CAS exhausted — chain intact
      }
      // delete exactly the deltas that were folded (same discipline as
      // compact — the new snapshot is already published), markers too
      val listing = listLog(table, conf)
      raw.foreach { n =>
        fs.delete(new Path(d, n), false)
        listing.instants.get(n).filter(_ => deltaMillis(n).isEmpty)
          .foreach(m => fs.delete(new Path(d, markerName(n, m)), false))
      }
      true
    } catch { case NonFatal(_) => false }

  /** Fold every current delta into one union snapshot (last entry per
   * file name wins — replayed-epoch duplicates are identical anyway),
   * then delete exactly the deltas that were folded. The snapshot
   * records the total ordinal span it covers ([[foldedSpan]] — folds
   * of folds accumulate through [[versionSpan]]), which is what keeps
   * `VERSION AS OF` ordinals durable across any number of folds. Two
   * concurrent compactions of the same chain collide on the fold's
   * v2 NAME — exactly one publishes, the other skips (the round-14
   * both-snapshots-survive double-count is gone on v2 chains). */
  private def compact(table: Path, conf: Configuration): Unit = {
    val raw = listDeltas(table, conf)
    if (raw.size <= 1) return
    // fold the SUBSUMED view (a subsumed delta's surviving entries
    // already live in its subsumer — reading it could resurrect
    // scrubbed entries); delete the raw listing (subsumed garbage too)
    val names = subsume(raw.sorted)
    val union = scala.collection.mutable.LinkedHashMap.empty[String, Entry]
    // sorted names are commit order, so later announcements win.
    // Each LIVE (span-1) delta's entries are stamped with its commit
    // ordinal (`V:` tag) as they fold — the one moment per-commit
    // boundaries would otherwise be lost; earlier folds' entries keep
    // the tags they already carry (or stay untagged if the fold
    // predates version recording). This is what keeps CDC's
    // `_commit_version` exact across any number of folds.
    var ord = 0
    names.foreach { n =>
      val span = versionSpan(n)
      val last = ord + span - 1
      readDelta(table, conf, n).foreach { e0 =>
        val e = if (span == 1 && e0.commitVersion.isEmpty)
          e0.copy(commitVersion = Some(last)) else e0
        union(e.name) = e
      }
      ord += span
    }
    val span = names.iterator.map(versionSpan).sum
    val published = union.isEmpty ||
      writeDelta(table, conf, union.values.toSeq,
        foldSpan = math.max(span, 1),
        foldLast = math.max(span - 1,
          raw.flatMap(claimedLast).maxOption.getOrElse(-1))).isDefined
    if (!published) return // lost the fold CAS — someone else folded
    val d = dir(table)
    val fs = d.getFileSystem(conf)
    val listing = listLog(table, conf)
    raw.foreach { n =>
      fs.delete(new Path(d, n), false)
      // the folded delta's instant marker goes with it
      listing.instants.get(n).filter(_ => deltaMillis(n).isEmpty)
        .foreach(m => fs.delete(new Path(d, markerName(n, m)), false))
    }
    raw.flatMap(n => listing.instants.get(n)).maxOption
      .foreach(newest => sweepStale(fs, d, newest))
  }

  /** Sweep log-dir litter a crash can leave: legacy round-13/14
   * millisecond CLAIMS (no longer written) and ORPHAN instant markers
   * (`tsb-` files whose delta was deleted by a fold this sweeper
   * missed) — each only once an hour stale relative to
   * `newestCommitMillis` (a fresh marker may belong to a delta
   * publishing right now). Called from compaction; guarded on a
   * parseable bound — subtracting from a missing maximum would
   * underflow into sweep-everything. */
  private def sweepStale(fs: org.apache.hadoop.fs.FileSystem,
      d: Path, newestCommitMillis: Long): Unit =
    try {
      val staleBefore = newestCommitMillis - 3600000L
      val names = fs.listStatus(d).map(_.getPath.getName).toSet
      names.foreach { n =>
        if (n.startsWith("claim-") &&
            n.drop(6).toLongOption.exists(_ < staleBefore))
          fs.delete(new Path(d, n), false)
        else if (n.startsWith("tsb-")) {
          val cut = n.lastIndexOf('-')
          if (cut > 4 &&
              n.drop(cut + 1).toLongOption.exists(_ < staleBefore) &&
              !names.contains(s"delta-${n.substring(4, cut)}"))
            fs.delete(new Path(d, n), false)
        }
      }
    } catch { case NonFatal(_) => () }
}
