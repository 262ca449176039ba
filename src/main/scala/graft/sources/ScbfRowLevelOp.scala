package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.{InputPartition, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * SQL `UPDATE` / `MERGE INTO` (and subquery-conditioned `DELETE`) for
 * SCBF tables, wired through Spark's group-based row-level-operation
 * machinery ([[org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations]]
 * — the same copy-on-write contract Iceberg/Delta implement). This is
 * the redaction path a SQL-only 100 TB operator runs: with it, every
 * takedown/remediation primitive — DELETE, UPDATE, MERGE — is pure
 * SQL end-to-end, no `graft.*` API required.
 *
 * How the plumbing composes with what already exists:
 *
 *  - **Scan side**: Spark rewrites `UPDATE t SET ... WHERE c` into a
 *    `ReplaceData` plan that scans the affected GROUPS (for SCBF:
 *    files) and re-writes every row of those groups with the
 *    assignments applied. The group-selection contract — "use pushed
 *    filters to pick groups, but return EVERY row of each kept
 *    group" — is exactly how the SCBF scan already treats filters
 *    (file skipping via stats/blooms/partition paths; all filters
 *    stay residual, rows are never dropped by the source), so the
 *    row-level scan is the normal [[ScbfScan]] with two deltas: it
 *    reports the file set it planned to the operation (those are the
 *    groups being replaced — the commit deletes exactly them), and it
 *    opts out of runtime group filtering (`filterAttributes` empty:
 *    the matching-rows pre-scan Spark would otherwise run duplicates
 *    work our static stats pruning already does, and its build keys
 *    would be every column of the table).
 *
 *  - **Write side**: the replacement rows ride the connector's own
 *    append path ([[ScbfBatchWrite]]: task-commit publish, partition
 *    routing, stats/bloom sidecars, per-directory manifest merge,
 *    discovery-log announcement). At job commit the append publishes
 *    first, then the scanned originals (plus sidecars) are removed
 *    and their manifest entries dropped — the same
 *    append-then-remove failure contract [[ScbfDelete]] documents: a
 *    crash before the append commits aborts cleanly (originals
 *    untouched), a crash in the removal window leaves
 *    original+replacement coexisting, re-runnable.
 *
 *  - **Streams**: replacement files are announced with
 *    `Entry.rewriteOf` = the replaced names (root-relative on
 *    partitioned tables) and the row-changing tag, so a caught-up
 *    discovery-log stream applies its `onChangeCommit` policy
 *    (skip/deliver/fail) to a SQL UPDATE exactly as it does to the
 *    API path.
 *
 * Semantics notes, stated honestly:
 *
 *  - **Snapshot scope.** The SQL path operates on the scan's planned
 *    snapshot (standard COW semantics): a file a concurrent append
 *    publishes mid-operation is not folded in and fully survives —
 *    its rows land "after" this operation. The API path
 *    ([[ScbfDelete.deleteWhere]]) additionally re-lists in bounded
 *    rounds; SQL matches Iceberg/Delta snapshot isolation instead.
 *  - **Partition-column UPDATE moves rows.** Copy-on-write makes
 *    `UPDATE t SET part = ...` safe: replacement rows route to their
 *    NEW `part=value/` directories by value, originals are removed
 *    from the old ones. (The API path refuses this; SQL handles it.)
 *  - **DELETE routing.** A DELETE whose condition translates to
 *    pushable filters still takes the metadata/stats-scoped
 *    [[ScbfDelete]] path (Spark's OptimizeMetadataOnlyDeleteFromTable
 *    converts it back because [[ScbfTable.canDeleteWhere]] accepts
 *    it); only conditions that path cannot express — subqueries,
 *    unknown expressions — fall through to this copy-on-write plan.
 *
 * Reference tie-in: the reference format is storage-only
 * (reference: writer.py, reader.py — no mutation surface at all);
 * row-level SQL is part of the query-engine north star built on top,
 * with the file layout staying bit-compatible throughout.
 */
private[sources] class ScbfRowLevelOperation(
    table: ScbfTable,
    rootDir: String,
    listFiles: Seq[org.apache.spark.sql.sources.Filter] => Seq[org.apache.hadoop.fs.FileStatus],
    schema: StructType,
    conf: org.apache.hadoop.conf.Configuration,
    partitionCols: Seq[String],
    cmd: RowLevelOperation.Command,
    bucketSpec: Option[(String, Int)] = None)
  extends RowLevelOperation {

  /** File paths the executed ReplaceData scan planned — the groups
   * being replaced. Written by the scan at plan time (driver-side,
   * before write tasks launch), read by the write at commit. Starts
   * None so a commit can tell "scan planned nothing" (delete nothing)
   * from "scan never ran" (also delete nothing — a plan that never
   * executed its scan read no rows, so there is nothing to replace). */
  @volatile private[sources] var scannedPaths: Option[Seq[String]] = None

  /** OCC snapshot (same contract as ScbfDelete's rewrite rounds): the
   * root log's newest commit instant, captured just BEFORE the
   * ReplaceData scan lists its groups — any commit stamped after it
   * ran concurrently with this operation and is checked for victim
   * overlap at commit time. None = no usable chain at plan time
   * (ScbfOcc.snapshot) — the checks are skipped. */
  @volatile private[sources] var occSnapTs: Option[Long] = None

  /** Once-per-operation cache of the log's recorded-victim map (the
   * strict full-chain replay): Spark invokes the scan's listing
   * several times per row-level op (planning, EXPLAIN, retries) and
   * the O(history) fold read must not be re-paid each time. */
  @volatile private[sources] var victimsCache: Option[Map[String, Seq[ScbfOcc.VictimRec]]] = None

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"ScbfRowLevelOperation[$cmd, $rootDir]"

  /** The `_file_path` metadata column rides every row-level read (an
   * O(1)-per-batch constant vector), which is what lets a condition
   * REFERENCE it — `DELETE FROM t WHERE _file_path = '...'` is the
   * literal file takedown, and the scan's exact path pruning scopes
   * the rewrite to just that file. Declaring it also flips
   * ReplaceDataExec onto its projection path, which hands the writer
   * table-width rows (the stripping factory accepts both layouts). */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(ScbfDataSource.FilePathCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScbfRowLevelScanBuilder(schema, listFiles, conf, Seq(rootDir), this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    ScbfDataSource.sparkToScbf(info.schema()) // fail fast on unsupported types
    val maxBuf = Option(info.options.get("maxBufferedBytes")).map(_.toLong)
      .getOrElse(ScbfWrite.DefaultMaxBufferedBytes)
    val op = this
    new WriteBuilder {
      override def build(): Write =
        // bucketed tables skip the clustered-distribution request (the
        // bucket expression would need catalog function resolution in
        // the distribution; replacement rows still route correctly —
        // the cost is only more small files per rewrite)
        if (partitionCols.isEmpty || bucketSpec.isDefined) new Write {
          override def toBatch: BatchWrite =
            new ScbfRowLevelBatchWrite(rootDir, info.schema(),
              conf, maxBuf, partitionCols, op,
              bucketSpec)
        }
        else new Write with RequiresDistributionAndOrdering {
          // partitioned replacements CLUSTER by the partition columns —
          // a wide UPDATE/MERGE otherwise has every task holding a
          // writer per partition value it sees, emitting tasks×values
          // small files. NOT strictly required: Spark then plans a
          // RebalancePartitions, and AQE splits an oversized group
          // (the single-partition scoped update — its rows must not
          // collapse to one task) and coalesces tiny ones — few large
          // files without serializing per-partition writes.
          override def requiredDistribution()
              : org.apache.spark.sql.connector.distributions.Distribution =
            org.apache.spark.sql.connector.distributions.Distributions.clustered(
              partitionCols.map(c =>
                org.apache.spark.sql.connector.expressions.Expressions.column(c)
                  : org.apache.spark.sql.connector.expressions.Expression).toArray)
          override def distributionStrictlyRequired(): Boolean = false
          override def requiredOrdering()
              : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
            Array.empty
          override def toBatch: BatchWrite =
            new ScbfRowLevelBatchWrite(rootDir, info.schema(),
              conf, maxBuf, partitionCols, op,
              bucketSpec)
        }
    }
  }
}

private[sources] class ScbfRowLevelOperationBuilder(
    table: ScbfTable,
    rootDir: String,
    listFiles: Seq[org.apache.spark.sql.sources.Filter] => Seq[org.apache.hadoop.fs.FileStatus],
    schema: StructType,
    conf: org.apache.hadoop.conf.Configuration,
    partitionCols: Seq[String],
    info: RowLevelOperationInfo,
    bucketSpec: Option[(String, Int)] = None)
  extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new ScbfRowLevelOperation(table, rootDir, listFiles, schema, conf,
      partitionCols, info.command, bucketSpec)
}

/**
 * Scan builder for the ReplaceData scan: filter pushdown only (for
 * group/file skipping — same residual-only contract as the main
 * builder), no aggregate/limit/topN surface (none can appear in a
 * rewrite plan), and the built scan reports its planned file set to
 * the operation.
 */
private[sources] class ScbfRowLevelScanBuilder(
    schema: StructType,
    listFiles: Seq[org.apache.spark.sql.sources.Filter] => Seq[org.apache.hadoop.fs.FileStatus],
    conf: org.apache.hadoop.conf.Configuration,
    tablePaths: Seq[String],
    op: ScbfRowLevelOperation)
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns {

  private var required: StructType = schema
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters.filter(ScbfStats.usable)
    filters // all residual: pruning picks groups, Spark re-checks rows
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  /** The mutation's listing, rewrite-transparent (the coexistence fix
   * — ScbfOcc.recordedVictims): a listed file the log records as
   * another commit's victim whose replacement bytes exist is a dead
   * original pending removal; planning it alongside the replacement
   * would bake every coexisting row into the rewrite's output twice.
   * Replacement existence probes the FILESYSTEM, not this (pruned)
   * listing — a stats-pruned replacement must still kill its original. */
  private def transparentListFiles(
      filters: Seq[org.apache.spark.sql.sources.Filter])
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val listedRaw = listFiles(filters)
    val rp = new org.apache.hadoop.fs.Path(tablePaths.head)
    val rfs = rp.getFileSystem(conf)
    val rq = rfs.makeQualified(rp)
    def refuse(why: String): Nothing =
      throw new graft.scbf.ScbfFormatException(
        s"row-level SQL on $rq: cannot verify the listing's " +
          s"rewrite-transparency — $why")
    val victims = op.victimsCache.getOrElse {
      val v = ScbfOcc.recordedVictims(rq, conf, refuse)
      op.victimsCache = Some(v)
      v
    }
    if (victims.isEmpty) listedRaw
    else {
      def rel(f: org.apache.hadoop.fs.FileStatus): String =
        ScbfCdc.relName(rfs, rq, f.getPath)
      val names = listedRaw.iterator.flatMap(f =>
        Seq(f.getPath.getName, rel(f))).toSet
      val dead = ScbfOcc.deadAmong(names, victims, n =>
        try rfs.exists(new org.apache.hadoop.fs.Path(rq, n))
        catch { case scala.util.control.NonFatal(e) =>
          // fail CLOSED, like the chain replay: an unverifiable
          // replacement could hide exactly the double-planned rows
          // this exclusion exists to prevent
          refuse(s"replacement existence probe failed for $n " +
            s"(${e.getMessage})")
        }).all
      listedRaw.filterNot(f =>
        dead.contains(f.getPath.getName) || dead.contains(rel(f)))
    }
  }

  override def build(): Scan =
    // deferred, filter-driven listing here too: a partition-scoped
    // UPDATE/MERGE's rewrite scan lists root + touched partitions only
    new ScbfScan(schema, required, Seq.empty, conf, tablePaths,
      pushedFilters = pushed.toSeq, listFilesOpt = Some(transparentListFiles)) {
      // no runtime group filtering: Spark's matching-rows pre-scan
      // would re-scan the table to build In-keys over EVERY column;
      // static stats/partition pruning already scopes the groups
      override def filterAttributes()
          : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
        Array.empty
      override def planInputPartitions(): Array[InputPartition] = {
        // OCC snapshot BEFORE the listing the plan rides on: commits
        // stamped after this instant raced the operation; a FAILED
        // listing refuses (fail closed — ADVICE r14)
        val rp = new org.apache.hadoop.fs.Path(tablePaths.head)
        val rq = rp.getFileSystem(conf).makeQualified(rp)
        op.occSnapTs = ScbfOcc.snapshot(rq, conf,
          why => throw new graft.scbf.ScbfFormatException(
            s"row-level SQL on $rq: cannot verify concurrent-commit " +
              s"safety — $why"))
        val parts = super.planInputPartitions()
        op.scannedPaths =
          Some(parts.toSeq.collect { case ScbfFilePartition(p, _, _) => p })
        parts
      }
    }
}

/**
 * Commit = the connector's own append commit, then group removal:
 * publish replacement files (manifests merged per partition
 * directory, discovery entries announced with `rewriteOf` = the
 * root-relative replaced names, row-changing tag set), then delete
 * the scanned originals + sidecars and drop their manifest entries
 * per directory. Abort delegates to the append's abort (originals
 * untouched).
 */
private[sources] object ScbfRowLevelBatchWrite {
  /** Test seam for the OCC race windows: invoked with "pre" at commit
   * start (before the pre-publish check) and "post" right after the
   * replacement announce (before the recheck). Specs inject a
   * conflicting commit here. */
  @volatile private[sources] var occHook: String => Unit = _ => ()
}

private[sources] class ScbfRowLevelBatchWrite(
    dir: String,
    schema: StructType,
    hconf: org.apache.hadoop.conf.Configuration,
    maxBufferedBytes: Long,
    partitionCols: Seq[String],
    op: ScbfRowLevelOperation,
    bucketSpec: Option[(String, Int)] = None)
  extends BatchWrite {

  private val inner = new ScbfBatchWrite(dir, schema, truncate = false,
    hconf, maxBufferedBytes, filePrefix = None, replaceOnly = None,
    partitionCols = partitionCols, emitEmptyFiles = false,
    bucketSpec = bucketSpec)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ScbfRowOpStrippingFactory(inner.createBatchWriterFactory(info),
      schema.length)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(hconf)
    val qroot = fs.makeQualified(root)
    val scanned = op.scannedPaths.getOrElse(Seq.empty).map(new Path(_))
    // root-relative qualified names ("part=x/file.scbf" / "file.scbf")
    // — the discovery-log naming tableRewrite uses, so root streams
    // match the rewriteOf against entries they have actually seen
    def qualify(p: Path): String = ScbfCdc.relName(fs, qroot, p)
    val publishedEntries =
      messages.collect { case m: ScbfCommitMessage => m.entries }.flatten.toSeq
    // ---- OCC (same contract as ScbfDelete's rewrite rounds): no
    // concurrent commit may have rewritten/removed this operation's
    // victim groups since its scan's snapshot. Checked twice: here,
    // BEFORE any side effect (the inner commit hasn't announced —
    // Spark's abort cleans the task-committed files), and again after
    // the announce, before originals are removed (the loser rolls its
    // replacement back and refuses — see below). A foreign commit
    // naming our published replacements serialized BEHIND us and is
    // not a conflict.
    val victimNames = scanned.map(qualify).toSet
    val publishedNames = publishedEntries.map(_.name).toSet
    def occEntries(): Seq[(ScbfDiscovery.Entry, String)] =
      if (victimNames.isEmpty || op.occSnapTs.isEmpty) Seq.empty
      else ScbfOcc.entriesAfter(qroot, hconf, op.occSnapTs.get,
        why => throw new graft.scbf.ScbfFormatException(
          s"row-level SQL on $qroot: cannot verify concurrent-commit " +
            s"safety — $why"))
    def refuseOcc(found: Seq[String], phase: String): Unit =
      if (found.nonEmpty) throw new graft.scbf.ScbfFormatException(
        ScbfOcc.refusalMessage(s"row-level SQL on $qroot", found, phase))
    ScbfRowLevelBatchWrite.occHook("pre")
    refuseOcc(ScbfOcc.conflicts(occEntries(), victimNames,
      publishedNames.contains), "detected before publish")
    // CDC capture (ScbfCdc) — value-level by necessity: the group-based
    // ReplaceData rows reach the writer with the per-row operation
    // marker projected away (the metadata-attribute path), so the
    // change rows are computed HERE, while both sides' bytes are
    // addressable (replacements published by task commit, originals
    // not yet removed), as multiset differences sized by the rewrite's
    // scope. Materialized BEFORE the inner commit announces the tag:
    // a crash before the announce is a clean abort (the stray tag dir
    // is inert and vacuumable), never a tagged commit missing rows.
    val cdcTag =
      if (scanned.nonEmpty && ScbfCdc.enabled(qroot, hconf)) {
        val kind = op.command() match {
          case RowLevelOperation.Command.DELETE => "delete"
          case RowLevelOperation.Command.UPDATE => "update"
          case _ => "merge"
        }
        Some(ScbfCdc.newTag(kind))
      } else None
    cdcTag.foreach { t =>
      val spark = org.apache.spark.sql.SparkSession.active
      if (publishedEntries.nonEmpty) {
        import org.apache.spark.sql.functions._
        val preDf = spark.read.format("scbf")
          .load(scanned.map(_.toString): _*)
        val replDf = spark.read.format("scbf")
          .load(publishedEntries.map(e => new Path(qroot, e.name).toString): _*)
        op.command() match {
          case RowLevelOperation.Command.DELETE =>
            // one direction needed: exceptAll already plans as a single
            // count-diff shuffle (RewriteExceptAll), each side scanned
            // exactly once — nothing to persist or fuse
            preDf.exceptAll(replDf).write.format("scbf").mode("append")
              .save(ScbfCdc.rowsDir(qroot, t, "delete").toString)
          case cmd =>
            // UPDATE/MERGE need BOTH multiset differences. Two
            // exceptAll jobs are two full count-diff shuffles of
            // (pre ∪ repl) — and persisting both sides to avoid the
            // double scan pinned the mutation's whole scope in
            // executor memory. One two-sided count diff instead
            // (optimization r16, guide §2.4): union with a side tag,
            // group by the row value (map-side partial aggregation
            // collapses duplicates before the one exchange), keep rows
            // whose per-side counts differ, and replicate each
            // direction from that — only the CHANGED distinct rows —
            // persist. Null-safe/NaN-normalized grouping matches
            // exceptAll's row-equality semantics (both plan as an
            // aggregate over all columns).
            val cols = preDf.columns.map(col)
            val diff = preDf
              .withColumn("__graft_pre", lit(1L))
              .withColumn("__graft_post", lit(0L))
              .unionAll(replDf
                .withColumn("__graft_pre", lit(0L))
                .withColumn("__graft_post", lit(1L)))
              .groupBy(cols: _*)
              .agg(sum(col("__graft_pre")).as("__graft_cp"),
                sum(col("__graft_post")).as("__graft_cq"))
              .filter(col("__graft_cp") =!= col("__graft_cq"))
              .persist()
            try {
              def replicate(a: String, b: String) = diff
                .filter(col(a) > col(b))
                .withColumn("__graft_k",
                  explode(sequence(lit(1L), col(a) - col(b))))
                .select(cols: _*)
              val (preName, postName) =
                if (cmd == RowLevelOperation.Command.UPDATE)
                  ("update_pre", "update_post")
                else ("delete", "insert") // MERGE: value pairs, no lineage
              replicate("__graft_cp", "__graft_cq")
                .write.format("scbf").mode("append")
                .save(ScbfCdc.rowsDir(qroot, t, preName).toString)
              replicate("__graft_cq", "__graft_cp")
                .write.format("scbf").mode("append")
                .save(ScbfCdc.rowsDir(qroot, t, postName).toString)
            } finally diff.unpersist()
        }
      }
      // publishedEntries empty = every victim's rows removed: the
      // removal entry below is whole-by-construction, rows serve
      // straight from the retained bytes
    }
    inner.rewriteOfNames = scanned.map(qualify)
    inner.cdcTag = cdcTag
    inner.commit(messages)
    ScbfRowLevelBatchWrite.occHook("post")
    // OCC post-publish recheck (before originals are removed): the
    // announce above happened-before this replay, so of two blind
    // overlapping racers at least one sees the other here; the loser
    // rolls its published replacement back (files + sidecars + log
    // entries + CDC rows area) and refuses — originals stay with the
    // winner's state.
    // an UNVERIFIABLE recheck rolls back too (fail closed): the
    // announce already happened, so throwing WITHOUT the rollback
    // would let Spark's abort delete the files while their log and
    // manifest entries stay live — the poisoned-log shape
    var latePost: Option[Seq[(ScbfDiscovery.Entry, String)]] = None
    val lateOcc =
      try {
        val post = occEntries()
        latePost = Some(post)
        ScbfOcc.conflicts(post, victimNames,
          publishedNames.contains, ourOutputs = publishedNames,
          // single-loser arbitration: our commit's ordinal off the
          // same replay
          ourOrd = ScbfOcc.ourOrdinal(post, publishedNames))
      }
      catch { case e: graft.scbf.ScbfFormatException =>
        Seq(s"UNVERIFIABLE (${e.getMessage})")
      }
    if (lateOcc.nonEmpty) {
      // outputs a later commit already consumed stay (load-bearing
      // lineage); an UNVERIFIABLE replay treats everything as
      // consumed — nothing destructive on a state we could not read,
      // the fork machinery completes the rollback once stale (same
      // contract as ScbfDelete's rollback)
      val consumed = latePost match {
        case Some(post) =>
          ScbfOcc.consumedOf(post, publishedNames.contains, publishedNames)
        case None => publishedNames
      }
      val scrubbed = ScbfOcc.rollbackPublished(fs, qroot, hconf,
        publishedNames, alsoScrub = Set.empty,
        cdcTagDir = cdcTag.map(t => new Path(ScbfCdc.dir(qroot), t)),
        consumed = consumed)
      throw new graft.scbf.ScbfFormatException(
        ScbfOcc.refusalMessage(s"row-level SQL on $qroot", lateOcc,
          "detected after publish; replacement rolled back") +
          ScbfOcc.scrubCaveat(scrubbed))
    }
    // EMPTY-REPLACEMENT coverage. A rewrite can legitimately publish
    // NOTHING for some (or all) of its groups — a subquery DELETE or
    // MERGE matched-DELETE that removes every row, or a partition-
    // column UPDATE that moves a whole directory's rows elsewhere
    // (emitEmptyFiles=false keeps no-op tasks from littering). Two
    // consequences need handling before/alongside the removals:
    //  1) a directory losing its LAST data file gets a 0-row KEEPER
    //     (codec-written, before the removals) so it stays a readable
    //     standalone SCBF table — the same contract ScbfDelete's
    //     empty-table guard keeps;
    //  2) if nothing was published at all, no replacement entry exists
    //     to carry the rewriteOf announcement — append the same
    //     REMOVAL entry the whole-file DELETE fast path uses, or the
    //     log's live entries keep claiming the removed files: silent
    //     under every onChangeCommit policy, and read-crashing for a
    //     lagging consumer with those entries still pending.
    val published = publishedEntries
    val publishedDirs = published
      .map(e => fs.makeQualified(new Path(root, e.name)).getParent).toSet
    val byDir = scanned.groupBy(p => fs.makeQualified(p).getParent)
    byDir.foreach { case (parent, ps) =>
      if (!publishedDirs.contains(parent)) {
        val removedNames = ps.map(_.getName).toSet
        val liveLeft =
          try fs.listStatus(parent).toSeq.filter(f => f.isFile && {
            val n = f.getPath.getName
            n.endsWith(graft.scbf.Scbf.FileExtension) && !n.startsWith(".")
          }).map(_.getPath.getName).filterNot(removedNames)
          catch { case _: java.io.FileNotFoundException => Seq.empty }
        if (liveLeft.isEmpty)
          ScbfUtil.writeEmptyScbf(fs, parent, schema, "rl-keeper-",
            announceRoot = Some(qroot))
      }
    }
    if (published.isEmpty && scanned.nonEmpty &&
        ScbfDiscovery.exists(qroot, hconf))
      ScbfDiscovery.append(qroot, hconf, Seq(ScbfDiscovery.Entry(
        s"rl-${java.util.UUID.randomUUID().toString.take(8)}${ScbfDiscovery.RemovalSuffix}",
        ScbfDiscovery.RemovedLen, System.currentTimeMillis(),
        rewriteOf = scanned.map(qualify).sorted, rowsChanged = true,
        cdcTag = cdcTag)))
    // remove the replaced groups — only AFTER the replacement append
    // committed (crash before here = clean abort, originals intact).
    // Under CDC capture the originals RETAIN (rename into the tag's
    // pre/ area) instead — same commit point, same manifest drops.
    cdcTag.foreach(t => ScbfCdc.retain(fs, qroot, t, scanned))
    scanned.groupBy(_.getParent).foreach { case (parent, ps) =>
      if (cdcTag.isEmpty) ps.foreach { p =>
        fs.delete(p, false)
        val sc = ScbfStats.sidecarPath(p)
        if (fs.exists(sc)) fs.delete(sc, false)
        val bl = ScbfBloom.bloomPath(p)
        if (fs.exists(bl)) fs.delete(bl, false)
      }
      // one merge cycle per directory dropping exactly the removed
      // names — same discipline as ScbfDelete.removeOriginals: a
      // concurrent append's just-merged entries survive
      ScbfStats.mergeManifest(parent, hconf, Seq.empty, fresh = false,
        drop = ps.map(_.getName).toSet)
    }
  }


  override def abort(messages: Array[WriterCommitMessage]): Unit =
    inner.abort(messages)
}

/**
 * Strips the leading `__row_operation` marker Spark prepends to every
 * group-based ReplaceData row (RewriteRowLevelCommand emits
 * `[__row_operation] ++ rowAttrs`; with no metadata attributes
 * declared, ReplaceDataExec's DataWritingSparkTask hands the writer
 * the RAW query rows — the row projection in ReplaceDataProjections
 * is only applied on the metadata-attribute path). The inner SCBF
 * writer reads fields positionally against the table schema, so the
 * marker must go. Defensive: rows already at the declared width pass
 * through untouched, any other width fails loudly.
 */
private[sources] object ScbfRowOpStrippingFactory {
  /** Probe seam: observe each stripped `__row_operation` marker value
   * (executor-side in local mode — the tests run one JVM). Guarded by
   * [[probeEnabled]], captured ONCE per writer — production rows pay
   * a single predictable null-check, never a per-row volatile read. */
  @volatile private[sources] var markerProbe: Int => Unit = _ => ()
  @volatile private[sources] var probeEnabled: Boolean = false
}

private[sources] class ScbfRowOpStrippingFactory(
    inner: DataWriterFactory, tableWidth: Int) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[org.apache.spark.sql.catalyst.InternalRow] = {
    val w = inner.createWriter(partitionId, taskId)
    // capture the probe once per writer (test seam — null in production
    // so the hot loop pays no volatile read per row)
    val probe: Int => Unit =
      if (ScbfRowOpStrippingFactory.probeEnabled)
        ScbfRowOpStrippingFactory.markerProbe
      else null
    new DataWriter[org.apache.spark.sql.catalyst.InternalRow] {
      private val view = new ScbfShiftedRow(1)
      override def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit =
        if (row.numFields == tableWidth) w.write(row)
        else if (row.numFields == tableWidth + 1) {
          if (probe != null) probe(row.getInt(0))
          view.target = row
          w.write(view)
        }
        else throw new graft.scbf.ScbfFormatException(
          s"row-level write: got a ${row.numFields}-field row for a " +
            s"$tableWidth-column table — unexpected ReplaceData row layout")
      override def commit(): WriterCommitMessage = w.commit()
      override def abort(): Unit = w.abort()
      override def close(): Unit = w.close()
    }
  }
}

/** Zero-copy view of an InternalRow with the first `shift` fields
 * dropped. Reused across rows (the consumer extracts values
 * immediately — ScbfDataWriter buffers column VALUES, not rows). */
private[sources] final class ScbfShiftedRow(shift: Int)
  extends org.apache.spark.sql.catalyst.InternalRow {
  var target: org.apache.spark.sql.catalyst.InternalRow = _
  override def numFields: Int = target.numFields - shift
  override def setNullAt(i: Int): Unit = target.setNullAt(i + shift)
  override def update(i: Int, v: Any): Unit = target.update(i + shift, v)
  override def copy(): org.apache.spark.sql.catalyst.InternalRow =
    // fail-fast by design: the SCBF writer extracts values immediately
    // and never retains rows, so a copy() call means a consumer this
    // view was not built for — surface that instead of guessing types
    throw new UnsupportedOperationException(
      "ScbfShiftedRow.copy: the SCBF writer never retains rows")
  override def isNullAt(i: Int): Boolean = target.isNullAt(i + shift)
  override def getBoolean(i: Int): Boolean = target.getBoolean(i + shift)
  override def getByte(i: Int): Byte = target.getByte(i + shift)
  override def getShort(i: Int): Short = target.getShort(i + shift)
  override def getInt(i: Int): Int = target.getInt(i + shift)
  override def getLong(i: Int): Long = target.getLong(i + shift)
  override def getFloat(i: Int): Float = target.getFloat(i + shift)
  override def getDouble(i: Int): Double = target.getDouble(i + shift)
  override def getDecimal(i: Int, p: Int, s: Int): org.apache.spark.sql.types.Decimal =
    target.getDecimal(i + shift, p, s)
  override def getUTF8String(i: Int): org.apache.spark.unsafe.types.UTF8String =
    target.getUTF8String(i + shift)
  override def getBinary(i: Int): Array[Byte] = target.getBinary(i + shift)
  override def getGeography(i: Int): org.apache.spark.unsafe.types.GeographyVal =
    target.getGeography(i + shift)
  override def getGeometry(i: Int): org.apache.spark.unsafe.types.GeometryVal =
    target.getGeometry(i + shift)
  override def getInterval(i: Int): org.apache.spark.unsafe.types.CalendarInterval =
    target.getInterval(i + shift)
  override def getVariant(i: Int): org.apache.spark.unsafe.types.VariantVal =
    target.getVariant(i + shift)
  override def getStruct(i: Int, numFields: Int): org.apache.spark.sql.catalyst.InternalRow =
    target.getStruct(i + shift, numFields)
  override def getArray(i: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    target.getArray(i + shift)
  override def getMap(i: Int): org.apache.spark.sql.catalyst.util.MapData =
    target.getMap(i + shift)
  override def get(i: Int, dt: org.apache.spark.sql.types.DataType): AnyRef =
    target.get(i + shift, dt)
}
