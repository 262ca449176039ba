package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType

import graft.scbf.ScbfFormatException

/** Stream offset: the number of file batches committed so far. */
case class ScbfOffset(batch: Long) extends Offset {
  override def json(): String = batch.toString
}

/**
 * Micro-batch streaming source over a growing SCBF directory — the read
 * half of the connector's streaming story (the write half is
 * `EventStreams.scbfSink`). `spark.readStream.format("scbf").schema(s)
 * .load(dir)` then behaves like Spark's file sources: each trigger
 * picks up files that appeared since the last one.
 *
 * Correctness at the file level rides on two properties: (1) the SCBF
 * writer stages under dot-prefixed temp names and renames at task
 * commit, and the listing skips hidden files — so a file is either
 * invisible or complete, never half-written; (2) each discovered batch
 * is persisted as a JSON-lines log under the query's checkpoint
 * location BEFORE its offset is returned, so a restarted query replays
 * exactly the same file→batch assignment instead of depending on
 * driver memory (the same recovery contract as Spark's own
 * FileStreamSource metadata log).
 *
 * Files are assumed IMMUTABLE once visible (Spark's file-source
 * contract): admission keys on path, with length captured at admission,
 * so a file overwritten or appended in place after admission is never
 * re-read and replays at its admitted length. External SCBF producers
 * must write through the staged-rename protocol (or equivalent
 * write-then-rename), never append to a published file.
 *
 * Log growth is bounded by compaction, mirroring FileStreamSource's
 * compact interval: every `compactInterval` batches (option, default
 * 10) the full seen-path set is snapshotted to `<batch>.compact`, and
 * once a compacted batch is committed the per-batch delta logs at or
 * below it (and older snapshots) are deleted. Recovery therefore reads
 * one snapshot plus at most `compactInterval` deltas — not every log
 * ever written — and a month-long stream's checkpoint directory stays
 * O(interval) files.
 *
 * Seen-set growth is bounded by `maxFileAge` (option, e.g. "7d" —
 * unset means keep forever, FileStreamSource's default is the same
 * mechanism): files whose modification time lags the newest listed
 * file by more than the age are not admitted, which makes it safe to
 * EVICT seen entries older than that horizon at snapshot time — a
 * re-listed evicted path is re-rejected by the age filter, never
 * re-read. With it set, driver memory holds only the paths inside the
 * age window at any stream length. (Corollary of the immutability
 * contract: REPLACING an evicted path with a fresh-mtime file would
 * re-admit it — that was already a contract violation.)
 *
 * Scale — file discovery is MANIFEST-STYLE INCREMENTAL, not per-trigger
 * listing: for a single-directory table the connector's writers
 * announce every committed file in the [[ScbfDiscovery]] log, so a
 * trigger reads only the log's new deltas — O(new files) planning IO,
 * independent of how many files the table has accumulated (a 10⁵-file
 * directory's OS listing alone costs seconds, re-paid every trigger
 * forever under listing discovery). The FIRST trigger takes one full
 * listing as the baseline (and marks all then-visible deltas consumed —
 * commit order guarantees their files are in that listing), and every
 * `reconcileEvery`-th trigger (option, default 10, 0 = never) re-lists
 * to catch files from producers that bypass the connector; multi-path
 * and glob tables, and directories without a discovery log, stay on
 * per-trigger listing. Admitted files go one-per-partition to
 * executors exactly like the batch scan, with the same column pruning.
 */
class ScbfMicroBatchStream(
    required: StructType,
    tablePaths: Seq[String],
    conf: Configuration,
    checkpointLocation: String,
    maxFilesPerTrigger: Option[Int] = None,
    compactInterval: Int = ScbfMicroBatchStream.DefaultCompactInterval,
    maxFileAgeMs: Option[Long] = None,
    pushedFilters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty,
    reconcileEvery: Int = ScbfMicroBatchStream.DefaultReconcileEvery,
    onChangeCommit: String = ScbfMicroBatchStream.DefaultOnChangeCommit,
    // stream entry point (startingVersion/startingTimestamp — Delta's
    // spelling): Left = exclusive epoch millis, Right = exclusive
    // commit ordinal. A FRESH checkpoint's first trigger delivers only
    // the post-point files (resolved through the feed's bounded strict
    // replay, gated by this stream's onChangeCommit); everything older
    // is admitted seen-without-delivery, then normal incremental
    // discovery takes over. Restarts recover from the seen set.
    streamStart: Option[Either[Long, Int]] = None,
    // the feed's bypassed-producer trust check during the streamStart
    // baseline (the same `feedReconcile` option the batch feed reads):
    // false = intentionally-foreign files are tolerated and, being
    // unannounced, skipped by the start-point demotion
    feedReconcile: Boolean = true)
  extends MicroBatchStream with SupportsAdmissionControl
  with org.apache.spark.internal.Logging {

  require(tablePaths.nonEmpty, "SCBF streaming read requires a directory path")
  require(Set("skip", "deliver", "fail").contains(onChangeCommit),
    s"onChangeCommit must be skip, deliver or fail, got $onChangeCommit")
  maxFilesPerTrigger.foreach(n =>
    require(n > 0, s"maxFilesPerTrigger must be positive, got $n"))
  require(compactInterval > 0,
    s"compactInterval must be positive, got $compactInterval")
  maxFileAgeMs.foreach(a =>
    require(a > 0, s"maxFileAge must be positive, got $a ms"))
  require(reconcileEvery >= 0,
    s"reconcileEvery must be >= 0 (0 disables reconcile listings), got $reconcileEvery")

  private val logDir = new Path(checkpointLocation, "scbf-file-batches")
  private def fs = logDir.getFileSystem(conf)

  /** Driver-side (maxBatch, seen paths) state: replayed from the
   * checkpoint logs ONCE (recovery), then maintained in memory — per
   * trigger the driver does one source-directory listing and O(new
   * files) work, not O(all batches ever) log re-reads (the same split
   * Spark's FileStreamSource makes between its in-memory map and its
   * metadata log). Recovery reads the latest `.compact` snapshot plus
   * only the deltas after it. */
  /** path → modification time at admission (Long.MaxValue for entries
   * recovered from logs written before ages were recorded: "unknown,
   * keep forever" — never mis-evicted). */
  private var cachedState: Option[(Long, Map[String, Long])] = None
  // latest snapshot written/seen, and the one retention last purged up
  // to — session-local cursors; both re-derived from the listing on
  // recovery
  private var lastCompactBatch = 0L
  private var lastPurgedCompact = 0L

  // ---- incremental (discovery-log) file discovery ----
  // The log only describes a SINGLE plain directory (the write side's
  // unit); multi-path and glob tables keep per-trigger listing.
  private val discoveryDir: Option[Path] =
    if (tablePaths.size == 1 && !tablePaths.head.exists("*?[{".contains(_)))
      Some(new Path(tablePaths.head))
    else None
  /** Triggers this instance has planned (drives first-trigger baseline
   * and the reconcile cadence — session-local: a restart re-baselines
   * with one full listing, which is exactly the paranoid thing). */
  private var triggerCount = 0L
  /** Delta files already folded into admission state; pruned to the
   * log's live names each trigger so it stays O(log size). */
  private var consumedDeltas: Set[String] = Set.empty
  /** Delta entries past a maxFilesPerTrigger cut: a listing re-presents
   * them next trigger for free, a consumed delta does not — carry them
   * here so a capped trigger never strands a backlog until reconcile. */
  private var pendingFromLog: Seq[(String, Long, Long)] = Seq.empty

  /** The resolved exclusive start instant (see streamStart). Lazy: the
   * version spelling is a delta read and its refusals (no chain,
   * folded ordinal) belong to the first trigger, not construction. */
  private lazy val startAfterMs: Option[Long] = streamStart.map { s =>
    val d = discoveryDir.getOrElse(throw new ScbfFormatException(
      "startingVersion/startingTimestamp need a single-directory table " +
        "with a discovery log — multi-path/glob streams have no version " +
        "chain to start from."))
    val qd = d.getFileSystem(conf).makeQualified(d)
    s match {
      case Right(v) => ScbfDiscovery.versionTs(qd, conf, v)
      case Left(ms) =>
        if (ms > System.currentTimeMillis())
          throw new ScbfFormatException(
            s"startingTimestamp ($ms) is in the future — nothing can have " +
              "been committed after it yet; pick a recorded instant " +
              "(DESCRIBE HISTORY <tbl>).")
        ms
    }
  }

  private def state(): (Long, Map[String, Long]) = cachedState.getOrElse {
    val loaded = if (!fs.exists(logDir)) (0L, Map.empty[String, Long])
    else {
      val names = fs.listStatus(logDir).toSeq.map(_.getPath.getName)
      val deltas = names.flatMap(_.toLongOption)
      val compacts = names.filter(_.endsWith(ScbfMicroBatchStream.CompactSuffix))
        .flatMap(_.stripSuffix(ScbfMicroBatchStream.CompactSuffix).toLongOption)
      val c = compacts.maxOption.getOrElse(0L)
      lastCompactBatch = c
      lastPurgedCompact = 0L // retention re-runs from scratch; deletes are idempotent
      val fromCompact: Map[String, Long] =
        if (c > 0) readCompact(c) else Map.empty
      val fromDeltas = deltas.filter(_ > c).sorted
        .flatMap(readLog(_).map { case (p, _, ts) => p -> ts })
      ((deltas ++ compacts).maxOption.getOrElse(0L), fromCompact ++ fromDeltas)
    }
    cachedState = Some(loaded)
    loaded
  }

  /** One log entry per admitted batch: `path\tlength\tmodTime` lines
   * (modTime optional — logs from before ages were recorded load as
   * Long.MaxValue, "keep forever"). Lengths are captured at admission
   * so planning never re-stats source files — and a file deleted by
   * retention after admission still replays. */
  private def readLog(batch: Long): Seq[(String, Long, Long)] = {
    val p = new Path(logDir, batch.toString)
    val len = fs.getFileStatus(p).getLen.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, buf)
    finally in.close()
    new String(buf, StandardCharsets.UTF_8).split("\n").toSeq.filter(_.nonEmpty)
      .map { line =>
        def bad = corruptEntry(s"stream log entry in batch $batch", line)
        line.split('\t') match {
          case Array(path, l, ts) =>
            (path, l.toLongOption.getOrElse(throw bad),
              ts.toLongOption.getOrElse(throw bad))
          case Array(path, l) =>
            (path, l.toLongOption.getOrElse(throw bad), Long.MaxValue)
          case _ => throw bad
        }
      }
  }

  /** One spelling of the log-corruption contract for both the delta
   * and snapshot parsers: corrupt structure OR corrupt numerics raise
   * the format error, never a bare NumberFormatException. */
  private def corruptEntry(where: String, line: String): ScbfFormatException =
    new ScbfFormatException(s"corrupt $where: '$line'")

  private def writeLog(batch: Long, files: Seq[(String, Long, Long)]): Unit =
    writeAtomic(batch.toString, files.map { case (p, l, ts) => s"$p\t$l\t$ts" })

  /** Full seen-path snapshot as `path\tmodTime` lines (bare-path lines
   * from older snapshots load as Long.MaxValue). Snapshots rebuild the
   * seen map; planInputPartitions replays lengths from delta logs,
   * which retention keeps for every batch after the committed
   * snapshot. */
  private def readCompact(batch: Long): Map[String, Long] = {
    val p = new Path(logDir, batch.toString + ScbfMicroBatchStream.CompactSuffix)
    val len = fs.getFileStatus(p).getLen.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, buf)
    finally in.close()
    new String(buf, StandardCharsets.UTF_8).split("\n").toSeq.filter(_.nonEmpty)
      .map { line =>
        def bad = corruptEntry(s"snapshot entry in compact $batch", line)
        line.split('\t') match {
          case Array(path, ts) =>
            path -> ts.toLongOption.getOrElse(throw bad)
          case Array(path) => path -> Long.MaxValue
          case _ => throw bad
        }
      }.toMap
  }

  private def writeCompact(batch: Long, seen: Map[String, Long]): Unit = {
    writeAtomic(batch.toString + ScbfMicroBatchStream.CompactSuffix,
      seen.toSeq.sortBy(_._1).map { case (p, ts) => s"$p\t$ts" })
    lastCompactBatch = batch
  }

  private def writeAtomic(name: String, lines: Seq[String]): Unit = {
    fs.mkdirs(logDir)
    val tmp = new Path(logDir, s".$name.tmp")
    val out = fs.create(tmp, true)
    try out.write(lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, new Path(logDir, name)))
      throw new ScbfFormatException(s"could not commit stream log file $name")
  }

  /** Transitive rewrite coverage: a marked path (rewrite output) is
   * COVERED — its content fully accounted for by this stream — when
   * every name it replaces is already in the seen set or is itself a
   * covered rewrite. The closure handles maintenance chains between
   * two triggers (OPTIMIZE produces f, a DELETE then rewrites f: the
   * DELETE's output is covered through the OPTIMIZE's, even though
   * neither is in `seen` yet). Marks are bounded by the discovery
   * log's compaction threshold, so the fixpoint is tiny. */
  private def coveredRewrites(marks: Map[String, Seq[String]],
      seen: Map[String, Long]): Set[String] = {
    val covered = scala.collection.mutable.Set.empty[String]
    var changed = true
    while (changed) {
      changed = false
      marks.foreach { case (p, reps) =>
        if (!covered.contains(p) &&
            reps.forall(r => seen.contains(r) || covered.contains(r))) {
          covered += p
          changed = true
        }
      }
    }
    covered.toSet
  }

  /** Admission length for a COVERED rewrite under the onChangeCommit
   * policy. Pure compaction (rowsChanged=false) always takes the −1
   * sentinel — its rows are identical by construction, skipping can
   * never hide data. A row-changing rewrite (DELETE/UPDATE
   * replacement) skips with a warning (default: the pinned no-CDC
   * contract, but now detectable in the logs), delivers (changed rows
   * reach the stream, surviving rows re-deliver), or fails the stream
   * loudly (Delta's default for change commits). */
  private def coveredLen(path: String, realLen: Long, rowsChanged: Boolean): Long =
    if (!rowsChanged) -1L
    else onChangeCommit match {
      case "deliver" => realLen
      case "fail" => throw new ScbfFormatException(
        s"onChangeCommit=fail: $path is a DELETE/UPDATE replacement of files " +
          "this stream already delivered — the changed rows cannot reach an " +
          "append-only stream without re-delivery. Restart from a fresh " +
          "checkpoint for a complete view, or read with onChangeCommit=skip " +
          "(default; hides the change) or onChangeCommit=deliver (admits the " +
          "replacement, re-delivering its surviving rows).")
      case _ =>
        logWarning(s"onChangeCommit=skip: admitting $path seen-without-delivery — " +
          "it rewrites already-delivered files with CHANGED rows (DELETE/UPDATE); " +
          "downstream consumers will not observe the change (no-CDC contract). " +
          "Read with onChangeCommit=deliver or =fail to surface changes.")
        -1L
    }

  /** One-time fail-closed guard: a streaming plan that demands the
   * `_file_path` metadata column would crash deep in codegen — Spark's
   * streaming column pruning never forwards metadata columns to the
   * scan, so `required` here can never carry it while the plan's
   * relation output still does. The GraftExtensions check rule fails
   * the shape at ANALYSIS with guidance, but the connector must not
   * depend on an optional extension for a crash-vs-error distinction:
   * the first trigger re-checks from inside by locating the owning
   * StreamExecution's analyzed plan (reflection — the executor classes
   * are private[sql]) and throwing the same guidance error when its
   * relation output demands the column this scan cannot serve.
   * Best-effort by construction: any reflection surprise skips the
   * guard (the extension rule and the documented caveat still stand) —
   * it can only ever turn an opaque codegen crash into a clear error,
   * never fail a healthy stream. */
  @volatile private var filePathGuardDone = false

  private def guardFilePathDemand(): Unit = {
    if (filePathGuardDone ||
        required.fieldNames.contains(ScbfDataSource.FilePathCol)) {
      filePathGuardDone = true
      return
    }
    val demanded =
      try {
        val sessions = Seq(
          org.apache.spark.sql.SparkSession.getActiveSession,
          org.apache.spark.sql.SparkSession.getDefaultSession).flatten.distinct
        sessions.flatMap(_.streams.active.toSeq).exists { q =>
          // unwrap StreamingQueryWrapper -> StreamExecution, then read
          // its analyzed logicalPlan — all public in bytecode
          val se = q.getClass.getMethods.find(m =>
            m.getName == "streamingQuery" && m.getParameterCount == 0)
            .map(_.invoke(q)).getOrElse(q)
          se.getClass.getMethods.find(m =>
            m.getName == "logicalPlan" && m.getParameterCount == 0)
            .map(_.invoke(se)).toSeq
            .collect { case lp: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan => lp }
            .exists { lp =>
              var hit = false
              lp.foreach { node =>
                if (!hit) {
                  val streamM = node.getClass.getMethods.find(m =>
                    m.getName == "stream" && m.getParameterCount == 0)
                  if (streamM.exists(_.invoke(node).asInstanceOf[AnyRef] eq this))
                    hit = node.output.exists(a =>
                      a.name == ScbfDataSource.FilePathCol &&
                        a.metadata.contains("__metadata_col"))
                }
              }
              hit
            }
        }
      } catch { case scala.util.control.NonFatal(_) => false }
    if (demanded)
      throw new ScbfFormatException(
        "the _file_path metadata column is batch-only: Spark's streaming " +
          "column pruning does not forward metadata columns to the scan. " +
          "Read the directory in BATCH for lineage, or join the stream to " +
          "a batch lineage snapshot on the table's key.")
    filePathGuardDone = true
  }

  override def initialOffset(): Offset = { guardFilePathDemand(); ScbfOffset(0L) }

  /** Backfill throttling: with `maxFilesPerTrigger` set, a directory
   * with a deep backlog drains over several right-sized micro-batches
   * instead of one giant one — Spark keeps triggering until caught up. */
  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n): ReadLimit)
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    // Spark routes SupportsAdmissionControl sources through the
    // (start, limit) overload; reaching this one is a harness bug
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is used for admission-control sources")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    guardFilePathDemand()
    val (maxBatch, seen) = state()
    // a batch logged before a crash but never planned (offset WAL not
    // yet written) replays FIRST — admitting more files here would fold
    // two batches into one plan and break the admission bound
    if (maxBatch > start.asInstanceOf[ScbfOffset].batch) return ScbfOffset(maxBatch)
    // Timestamps are CLAMPED to driver-now + slack everywhere they are
    // observed (admission filter, stored seen entries, horizon inputs):
    // without the clamp, ONE file with a far-future mtime (skewed
    // producer clock, stray touch) would ratchet the horizon past every
    // normally-timestamped file and permanently stall admission — and
    // the poison would survive restarts via the snapshots. Clamped, the
    // horizon can never exceed now + slack - age, so ingestion recovers
    // as the wall clock advances. Consistent clamping preserves the
    // eviction-safety invariant: filter and stored values are compared
    // in the same clamped domain.
    val tsCap = System.currentTimeMillis() + ScbfMicroBatchStream.FutureSlackMs
    triggerCount += 1
    val useLog = discoveryDir.exists(d => ScbfDiscovery.exists(d, conf))
    // full listing on: no usable log, the first trigger (baseline), and
    // the periodic reconcile (catches non-connector producers + runs
    // age eviction, which needs a real listing to be safe — see below)
    val full = !useLog || triggerCount == 1L ||
      (reconcileEvery > 0 && triggerCount % reconcileEvery == 0)
    // Rewrite transparency: an entry whose delta marks it the REWRITE
    // of files this consumer has fully accounted for (transitively —
    // see coveredRewrites) carries only already-delivered rows — by
    // default it is admitted with the SENTINEL length −1: it enters
    // the seen set and the batch log like any file (so restarts
    // replay the skip exactly), but planInputPartitions never opens
    // it. Row-CHANGING rewrites (DELETE/UPDATE replacements) honor
    // the onChangeCommit policy instead (coveredLen). A consumer that
    // has NOT accounted for every replaced file (fresh checkpoint,
    // partial history) admits the rewrite normally — completeness
    // beats dedup, the pre-transparency behavior.
    // removal entries admitted by THIS full-listing trigger whose
    // onChangeCommit policy must fire at admission (covered = the
    // consumer delivered every removed file) — applied after the
    // age/seen filters below so an age-rejected or replayed entry
    // never warns/fails again on every reconcile
    var deferredRemovalPolicy: Map[String, Boolean] = Map.empty
    val listed: Seq[(String, Long, Long)] =
      if (full) {
        // snapshot the delta names BEFORE listing: writers publish data
        // files, then append their delta — so a delta visible here has
        // all its files visible to the listing below, and consuming it
        // unread loses nothing; a delta landing after this snapshot is
        // read (and its already-listed files seen-filtered) next trigger
        val preDeltas = discoveryDir.filter(_ => useLog)
          .map(d => ScbfDiscovery.listDeltas(d, conf).toSet).getOrElse(Set.empty)
        // rewrite markers from the live deltas (≤ the compaction bound
        // of files, one small read each): listing triggers — baseline,
        // reconcile, restart — must make the SAME skip decision the
        // incremental path would, or a reconcile would re-deliver every
        // rewritten file the log path just skipped
        val logEntries: Seq[(String, ScbfDiscovery.Entry)] = discoveryDir
          .filter(_ => useLog).map { d =>
            val qual = d.getFileSystem(conf).makeQualified(d)
            preDeltas.toSeq.sorted.flatMap(n =>
                ScbfDiscovery.readDelta(d, conf, n))
              .map(e => new Path(qual, e.name).toString ->
                e.copy(rewriteOf =
                  e.rewriteOf.map(r => new Path(qual, r).toString)))
          }.getOrElse(Seq.empty)
        val rewriteMarks: Map[String, (Seq[String], Boolean)] =
          logEntries.collect { case (p, e) if e.rewriteOf.nonEmpty =>
            p -> ((e.rewriteOf, e.rowsChanged)) }.toMap
        val covered = coveredRewrites(
          rewriteMarks.map { case (p, (reps, _)) => p -> reps }, seen)
        val l = ScbfDataSource.resolveFiles(tablePaths, conf)
          .map { f =>
            val p = f.getPath.toString
            val len =
              if (covered.contains(p)) coveredLen(p, f.getLen, rewriteMarks(p)._2)
              else f.getLen
            (p, len, math.min(f.getModificationTime, tsCap))
          }
        // REMOVAL entries (metadata-only DELETE fast path) never appear
        // in a listing — the synthetic name has no file — so a listing
        // trigger must admit them from the log itself or a reconcile
        // would silently swallow the one record of the change. Un-seen
        // ones enter with the sentinel length (never planned, replayed
        // as the skip they are); the covered ones' policy decision is
        // deferred to admission time (see deferredRemovalPolicy).
        val removals = logEntries.filter { case (p, e) =>
          p.endsWith(ScbfDiscovery.RemovalSuffix) && e.rewriteOf.nonEmpty &&
            !seen.contains(p) }
        deferredRemovalPolicy = removals.collect {
          case (p, e) if covered.contains(p) => p -> e.rowsChanged }.toMap
        consumedDeltas = preDeltas
        // stream entry point: a FRESH checkpoint's baseline demotes
        // every pre-point file to the sentinel length (admitted
        // seen-without-delivery — the covered-rewrite mechanism, so
        // the checkpoint replays the skip exactly); the post-point set
        // comes from the feed's bounded strict replay under this
        // stream's onChangeCommit policy, and its refusals (no log,
        // overwrite boundary, folded ordinal, future point) surface
        // HERE, at the first trigger, loudly. Sentinel entries are
        // CAP-EXEMPT at admission (they cost no read), so the whole
        // demotion lands in the seen set in THIS batch — which is what
        // makes later reconciles and restarts safe via the ordinary
        // seen filter. `seen.nonEmpty` short-circuits FIRST: a restart
        // must never re-resolve the point (a folded starting ordinal
        // would refuse a previously healthy stream).
        val lStarted =
          if (seen.nonEmpty || startAfterMs.isEmpty) l
          else {
            val d = discoveryDir.get // startAfterMs resolution proved it
            val qd = d.getFileSystem(conf).makeQualified(d)
            val post = ScbfDiscovery.changedFilesBetween(qd, conf,
              startAfterMs.get, Long.MaxValue, onChangeCommit,
              reconcileListing = feedReconcile)
              .map(_.getPath.toString).toSet
            l.map { case (p, len, ts) =>
              if (len == ScbfDiscovery.RemovedLen || post.contains(p)) (p, len, ts)
              else (p, ScbfDiscovery.RemovedLen, ts)
            }
          }
        lStarted ++ removals.map { case (p, e) =>
          (p, ScbfDiscovery.RemovedLen, math.min(e.ts, tsCap)) }
      } else {
        val d = discoveryDir.get
        val current = ScbfDiscovery.listDeltas(d, conf).toSet
        val freshDeltas = (current -- consumedDeltas).toSeq.sorted
        // names are qualified against the table FS so they compare equal
        // to resolveFiles' listing paths (the seen-set's key domain)
        val qual = d.getFileSystem(conf).makeQualified(d)
        def qualify(n: String): String = new Path(qual, n).toString
        val raw = freshDeltas.flatMap(n => ScbfDiscovery.readDelta(d, conf, n))
        val marks = raw.filter(_.rewriteOf.nonEmpty)
          .map(e => qualify(e.name) -> ((e.rewriteOf.map(qualify), e.rowsChanged)))
          .toMap
        // transitive coverage spans this trigger's own announcements
        // too: a lagging consumer can pick up an OPTIMIZE output AND
        // the later rewrite of that output in one trigger
        val covered = coveredRewrites(
          marks.map { case (p, (reps, _)) => p -> reps }, seen)
        // Same-trigger rewrite preference (narrowing the documented
        // single-rewriter hazard): a NOT-covered rewrite's replaced
        // names that are only now being announced (or still sit in the
        // pending tail) were never delivered, and maintenance has
        // already deleted their data files. Deliver the rewrite — its
        // content is exactly their surviving rows — and drop the
        // replaced names from admission: delivering both would
        // duplicate rows, and planning a deleted original fails the
        // read.
        val pendingNames = pendingFromLog.map(_._1).toSet
        val freshNames = raw.map(e => qualify(e.name)).toSet
        val replacedNow = marks.iterator
          .filter { case (p, _) => !covered.contains(p) }
          .flatMap(_._2._1)
          .filter(p => (freshNames.contains(p) || pendingNames.contains(p)) &&
            !seen.contains(p))
          .toSet
        val entries = raw.flatMap { e =>
          val p = qualify(e.name)
          if (replacedNow.contains(p)) None
          else Some((p,
            if (covered.contains(p)) coveredLen(p, e.len, e.rowsChanged) else e.len,
            math.min(e.ts, tsCap)))
        }
        // prune to live log names so the set tracks the compacted log
        consumedDeltas = (consumedDeltas intersect current) ++ freshDeltas
        (pendingFromLog.filterNot(f => replacedNow.contains(f._1)) ++ entries)
          .distinctBy(_._1)
      }
    // Age horizon rides the newest file timestamp OBSERVED SO FAR (the
    // max over the listing AND the admitted seen entries), not the
    // current listing alone: the eviction-safety invariant ("a
    // re-listed evicted path is re-rejected") needs the horizon to be
    // MONOTONIC, and a listing can shrink — the newest file can be
    // deleted by external cleanup, or one of several table paths can
    // be transiently unlistable. Seen entries survive recovery, so the
    // floor survives restarts too. (Event-ish time, not the driver
    // clock: a paused-then-resumed stream doesn't mass-expire.)
    val horizon = maxFileAgeMs.map { age =>
      (listed.map(_._3) ++ seen.valuesIterator.filter(_ != Long.MaxValue))
        .maxOption.getOrElse(Long.MinValue) - age
    }.getOrElse(Long.MinValue)
    val current = listed.filter(_._3 >= horizon)
    val notSeen = current.filterNot(f => seen.contains(f._1))
    // sentinel-length entries are pure metadata (planned never,
    // delivered never): exempt them ALL from the file cap — removal
    // entries so a capped backlog can't strand one in the pending tail
    // (where a full-listing trigger's deferred policy decision would
    // be lost), and startingVersion/covered-rewrite demotions so the
    // ENTIRE skip decision lands in the seen set in one batch (a
    // capped demotion would leak pre-point files to the next
    // full-listing trigger as unseen-with-real-length)
    val (removalFresh, rowNotSeen) = notSeen.partition(f =>
      f._1.endsWith(ScbfDiscovery.RemovalSuffix) ||
        f._2 == ScbfDiscovery.RemovedLen)
    val freshRows = limit match {
      case mf: ReadMaxFiles => rowNotSeen.take(mf.maxFiles())
      case _                => rowNotSeen
    }
    val fresh = removalFresh ++ freshRows
    // deferred onChangeCommit for removal entries admitted by a
    // full-listing trigger (the incremental path applies coveredLen
    // when it reads the delta): fires exactly once, at admission
    fresh.foreach { case (p, len, _) =>
      deferredRemovalPolicy.get(p).foreach(rc => coveredLen(p, len, rc)) }
    // carry the capped tail: a listing re-presents it next trigger, a
    // consumed delta does not — without this an incremental trigger
    // would strand a backlog until the next reconcile listing. (A full
    // trigger's tail is carried too: the NEXT trigger may be
    // incremental.) Age-rejected entries are dropped — the horizon
    // only advances, so they'd be re-rejected forever anyway.
    pendingFromLog = rowNotSeen.drop(freshRows.size)
    // Eviction retention rule (both branches): drop an entry only when
    // it is BELOW the horizon AND its path is absent from the current
    // listing. Age alone is not safe to evict on: a known file whose
    // mtime is touched past the horizon would lose its (old-ts) entry
    // and then re-list with a fresh mtime ≥ horizon — re-admitted as
    // new, duplicating its rows (the hazard Spark's own
    // FileStreamSource carries). A still-listed path keeps its entry,
    // so the admission filter keeps rejecting it no matter what its
    // mtime does; memory stays bounded by the live listing plus the
    // in-horizon tail, both already materialized per trigger. Residual
    // caveat (inherent to mtime-based admission): a path that is
    // touched while ALSO absent from the listing at eviction time
    // (external cleanup races, transiently unlistable table path) can
    // still be re-admitted when it reappears.
    def keepEntry(path: String, ts: Long, listedPaths: Set[String]): Boolean =
      ts >= horizon || listedPaths.contains(path)
    if (fresh.isEmpty) {
      // Empty-trigger eviction: normally a no-op (the event-time
      // horizon only advances with newly observed timestamps, and the
      // admit path already evicted everything behind it) — but a
      // re-listed KNOWN path with a touched (newer) mtime advances the
      // horizon without producing fresh files, so evict in memory here
      // too and driver footprint tracks the horizon even while no new
      // files arrive. Snapshots stay admit-path-only: log names are
      // batch-numbered and the batch counter doesn't advance on an
      // empty trigger; recovery simply re-evicts.
      // (evict only on FULL-listing triggers: the retention rule needs
      // real listing membership — an incremental trigger's `listed` is
      // just the new delta entries, and treating everything else as
      // delisted would evict entries for files still on disk)
      if (full && horizon != Long.MinValue) {
        val listedPaths = listed.map(_._1).toSet
        val retained = seen.filter { case (p, ts) => keepEntry(p, ts, listedPaths) }
        if (retained.size != seen.size) cachedState = Some((maxBatch, retained))
      }
      ScbfOffset(maxBatch)
    } else {
      val next = maxBatch + 1
      val nextSeen = seen ++ fresh.map(f => f._1 -> f._3)
      writeLog(next, fresh) // log BEFORE exposing the offset
      // snapshot after the delta: if the snapshot write crashes midway,
      // recovery falls back to the previous snapshot + deltas (which
      // include this one) — never a torn view. Eviction happens here
      // (see class doc): entries past the age horizon AND out of the
      // listing leave both the snapshot and driver memory.
      val retained =
        if (!full || horizon == Long.MinValue) nextSeen
        else {
          val listedPaths = listed.map(_._1).toSet
          nextSeen.filter { case (p, ts) => keepEntry(p, ts, listedPaths) }
        }
      if (next % compactInterval == 0) writeCompact(next, retained)
      cachedState = Some((next, retained))
      ScbfOffset(next)
    }
  }

  override def deserializeOffset(json: String): Offset =
    ScbfOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ScbfOffset].batch
    val e = end.asInstanceOf[ScbfOffset].batch
    val pruner = new ScbfStats.Pruner(conf, pushedFilters)
    // stats-based file skipping — ScbfStats.Pruner, the SAME
    // predicate object (and batched keepAll path) the batch scan uses
    // (manifest-first, per-file sidecar fallback; the logged admission
    // length doubles as the manifest staleness guard). Offsets/logs
    // are untouched — a skipped file is still admitted and logged; and
    // because every pushed filter remains residual in the query plan,
    // a skip decision that differs on replay (stats appeared/vanished)
    // only removes rows the filter would drop — results identical.
    // sentinel entries (length −1: rewrite files admitted as
    // seen-without-delivery) are logged for replay but never planned
    pruner.keepAll(((s + 1) to e).flatMap(readLog).filter(_._2 >= 0))(
        f => new Path(f._1), _._2)
      .map { case (p, len, _) => ScbfFilePartition(p, len): InputPartition }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ScbfPartitionReaderFactory(required, ScbfUtil.broadcastConf(conf))

  /** Logs are the source of truth; commit only runs retention. Once a
   * snapshot's batch is committed, Spark will never re-plan batches at
   * or below it (its own offset WAL is ahead), and the snapshot covers
   * seen-set recovery — so deltas ≤ that snapshot and older snapshots
   * are garbage. Deletes are idempotent; a crash mid-purge just leaves
   * files the next purge removes. */
  override def commit(end: Offset): Unit = {
    val committed = end.asInstanceOf[ScbfOffset].batch
    if (lastCompactBatch > lastPurgedCompact && committed >= lastCompactBatch) {
      val c = lastCompactBatch
      if (fs.exists(logDir)) fs.listStatus(logDir).foreach { f =>
        val name = f.getPath.getName
        val deletable =
          name.toLongOption.exists(_ <= c) ||
            name.stripSuffix(ScbfMicroBatchStream.CompactSuffix).toLongOption
              .exists(b => name.endsWith(ScbfMicroBatchStream.CompactSuffix) && b < c) ||
            // orphaned atomic-write temps (crash between create and
            // rename) — but only STALE ones: this instance's engine
            // serializes latestOffset/commit, yet during driver
            // failover a zombie instance may still have an in-flight
            // writeAtomic against the same directory, and sweeping its
            // fresh temp (or it sweeping ours) would fail a healthy
            // query. A temp older than TempSweepAgeMs is dead for sure.
            (name.endsWith(".tmp") && f.getModificationTime <
              System.currentTimeMillis() - ScbfMicroBatchStream.TempSweepAgeMs)
        if (deletable) fs.delete(f.getPath, false)
      }
      lastPurgedCompact = c
    }
  }

  override def stop(): Unit = ()
}

object ScbfMicroBatchStream {
  val DefaultCompactInterval = 10
  val CompactSuffix = ".compact"
  /** What a caught-up stream does with a row-CHANGING rewrite
   * (DELETE/UPDATE replacement — discovery `C:1` tag) whose replaced
   * files it has fully delivered: `skip` (default — the pinned no-CDC
   * contract: mark seen without delivery, so the stream stays
   * duplicate-free but never sees the changed rows; logged per
   * trigger so operators can detect hidden changes), `deliver`
   * (admit the replacement normally: changed rows reach the stream at
   * the cost of re-delivering every surviving row of the rewritten
   * files), or `fail` (stop the stream loudly, Delta's default for
   * change commits — restart from a fresh checkpoint for a complete
   * view). Pure compaction (OPTIMIZE/cluster, no `C:1`) is always
   * transparent regardless of this option: its rows are identical by
   * construction. */
  val DefaultOnChangeCommit = "skip"
  /** Every Nth trigger falls back to a full directory listing even when
   * the discovery log is active — the safety net for producers that
   * publish files without announcing them, and the only trigger kind
   * that runs maxFileAge eviction (which needs listing membership). */
  val DefaultReconcileEvery = 10
  /** Max tolerated clock skew for file mtimes: timestamps beyond
   * driver-now + this are clamped so one future-dated file cannot
   * ratchet the maxFileAge horizon past all real files forever. */
  val FutureSlackMs: Long = 60L * 60 * 1000
  /** Orphaned .tmp files in the log dir are swept only once they are
   * at least this old: a fresh .tmp may be a concurrent zombie-driver
   * instance's in-flight atomic write (the failover window Spark's
   * checkpoint managers are hardened for); a stale one is dead. */
  val TempSweepAgeMs: Long = 10L * 60 * 1000
}
