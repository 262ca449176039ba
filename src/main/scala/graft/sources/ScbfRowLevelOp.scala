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
 *    discovery-log announcement); the commit then runs the shared
 *    copy-on-write commit path ([[ScbfRewrite]]: OCC check and recheck,
 *    0-row keepers, victim removal) — with its failure contract.
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

  /** The operation's rewrite snapshot ([[ScbfRewrite.snapshot]]),
   * taken at its FIRST listing, whichever plan step asks first (Spark
   * asks the scan for its output partitioning before it plans
   * partitions): the OCC position precedes every listing the plan
   * rides on, and the O(history) recorded-victims replay is paid once
   * however often Spark lists (planning, EXPLAIN, retries). */
  @volatile private[sources] var snapshot: Option[ScbfRewrite.Snapshot] = None

  /** The table root, qualified — where the log, the CDC area and the
   * root-relative victim names live. */
  private[sources] lazy val qroot: Path = {
    val p = new Path(rootDir)
    p.getFileSystem(conf).makeQualified(p)
  }

  /** How refusals name this operation. */
  private[sources] def where: String = s"row-level SQL on $qroot"

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

  /** The mutation's listing, rewrite-transparent: the first one
   * takes the operation's snapshot, a later one is viewed under its
   * victims ([[ScbfRewrite.liveListing]]). The listing is stats-pruned,
   * so a replacement's existence probes the FILESYSTEM (a pruned-away
   * replacement must still kill its original), and it does not heal at
   * plan time. */
  private def transparentListFiles(
      filters: Seq[org.apache.spark.sql.sources.Filter])
      : Seq[org.apache.hadoop.fs.FileStatus] = op.synchronized {
    op.snapshot match {
      case Some(snap) =>
        ScbfRewrite.liveListing(op.where, op.qroot.getFileSystem(conf), op.qroot, conf,
          listFiles(filters), snap.victims, probeFs = true, heal = false)
      case None =>
        val snap = ScbfRewrite.snapshot(op.where, op.qroot, conf,
          () => listFiles(filters), probeFs = true, heal = false)
        op.snapshot = Some(snap)
        ScbfRowLevelBatchWrite.occHook("snapshot")
        snap.files
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
        val parts = super.planInputPartitions()
        op.scannedPaths =
          Some(parts.toSeq.collect { case ScbfFilePartition(p, _, _) => p })
        parts
      }
    }
}

/**
 * Commit = the connector's own append commit inside the shared
 * copy-on-write commit path ([[ScbfRewrite]]), plus the value-diff CDC
 * capture only this path needs. Abort delegates to the append's abort
 * (originals untouched).
 */
private[sources] object ScbfRowLevelBatchWrite {
  /** Test seam for the OCC race windows: invoked with "snapshot" once
   * the operation's snapshot is taken (the scan has listed), "pre" at
   * commit start (before the pre-publish check) and "post" right after
   * the replacement announce (before the recheck). Specs inject a
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
    new ScbfRowOpStrippingFactory(inner.createBatchWriterFactory(info), schema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(hconf)
    val qroot = op.qroot
    val scanned = op.scannedPaths.getOrElse(Seq.empty).map(new Path(_))
    // root-relative qualified names ("part=x/file.scbf" / "file.scbf")
    // — the discovery-log naming tableRewrite uses, so root streams
    // match the rewriteOf against entries they have actually seen
    def qualify(p: Path): String = ScbfCdc.relName(fs, qroot, p)
    val publishedEntries =
      messages.collect { case m: ScbfCommitMessage => m.entries }.flatten.toSeq
    val victimNames = scanned.map(qualify).toSet
    val publishedNames = publishedEntries.map(_.name).toSet
    // OCC against the scan's snapshot (ScbfRewrite.Occ): checked before
    // any side effect — Spark's abort then cleans the task-committed
    // files — and rechecked after the announce, before the originals go
    val occ = new ScbfRewrite.Occ(op.where, qroot, hconf,
      op.snapshot.flatMap(_.position).filter(_ => victimNames.nonEmpty))
    ScbfRowLevelBatchWrite.occHook("pre")
    occ.checkBeforePublish(victimNames, publishedNames.contains)
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
    occ.recheckAfterPublish(victimNames, publishedNames.contains,
      published = _ => publishedNames, alsoScrub = Set.empty,
      cdc = cdcTag.map((qroot, _)))
    // A rewrite can legitimately publish NOTHING for some (or all) of
    // its groups — a subquery DELETE or MERGE matched-DELETE removing
    // every row, or a partition-column UPDATE moving a directory's rows
    // elsewhere (emitEmptyFiles=false keeps no-op tasks from
    // littering): a directory losing its LAST data file gets the 0-row
    // keeper, and when nothing was published at all the REMOVAL entry
    // carries the rewriteOf announcement (otherwise the log's live
    // entries keep claiming the removed files — silent under every
    // onChangeCommit policy, read-crashing for a lagging consumer).
    val publishedDirs = publishedEntries
      .map(e => fs.makeQualified(new Path(root, e.name)).getParent).toSet
    ScbfRewrite.keepEmptiedDirsReadable(fs, scanned, publishedDirs.contains,
      schema, "rl-keeper-", announceRoot = qroot)
    if (publishedEntries.isEmpty && scanned.nonEmpty &&
        ScbfDiscovery.exists(qroot, hconf))
      ScbfDiscovery.append(qroot, hconf, Seq(ScbfRewrite.removalEntry(
        s"rl-${java.util.UUID.randomUUID().toString.take(8)}",
        scanned.map(qualify), cdcTag)))
    ScbfRewrite.removeVictims(fs, scanned, retainAt = cdcTag.map((qroot, _)))
    ScbfRewrite.dropFromManifests(hconf, scanned)
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
    inner: DataWriterFactory, schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[org.apache.spark.sql.catalyst.InternalRow] = {
    val w = inner.createWriter(partitionId, taskId)
    val tableWidth = schema.length
    // capture the probe once per writer (test seam — null in production
    // so the hot loop pays no volatile read per row)
    val probe: Int => Unit =
      if (ScbfRowOpStrippingFactory.probeEnabled)
        ScbfRowOpStrippingFactory.markerProbe
      else null
    new DataWriter[org.apache.spark.sql.catalyst.InternalRow] {
      // zero-copy view of the row without its leading marker, reused
      // across rows (the SCBF writer buffers column VALUES, not rows)
      private val view =
        org.apache.spark.sql.catalyst.ProjectingInternalRow(schema, 1 to tableWidth)
      override def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit =
        if (row.numFields == tableWidth) w.write(row)
        else if (row.numFields == tableWidth + 1) {
          if (probe != null) probe(row.getInt(0))
          view.project(row)
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
