package graft.sources

import java.util.OptionalLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.scbf._

/**
 * Read side of the SCBF connector.
 *
 * Column pruning: Catalyst pushes the required columns via
 * `SupportsPushDownRequiredColumns`; the partition reader then seeks to
 * and inflates ONLY those columns' blocks — the Spark-native rendering of
 * the reference's `read_columns` selective scan (reference:
 * reader.py:111-133, SPEC.md:101-108).
 *
 * Execution is vectorized: blocks decode straight into
 * `OnHeapColumnVector`s (SCBF's utf8 layout is already Arrow-style
 * offsets+blob, so decode is a bulk copy), emitted as `ColumnarBatch`es
 * that feed whole-stage codegen through Spark's ColumnarToRow.
 */
class ScbfScanBuilder(schema: StructType, files: Seq[FileStatus], conf: Configuration,
    tablePaths: Seq[String] = Seq.empty, maxFilesPerTrigger: Option[Int] = None,
    compactInterval: Int = ScbfMicroBatchStream.DefaultCompactInterval,
    maxFileAgeMs: Option[Long] = None, aggPushdown: Boolean = true,
    reconcileEvery: Int = ScbfMicroBatchStream.DefaultReconcileEvery,
    onChangeCommit: String = ScbfMicroBatchStream.DefaultOnChangeCommit,
    partitionCols: Seq[String] = Seq.empty,
    // deferred, filter-driven listing (ScbfTable.listFiles): when set,
    // `files` is ignored and every file set is resolved at build time
    // through the directory-first pruned walk. The eager `files` form
    // stays for direct (test/tool) construction over a known list —
    // and for time travel (`asOf`), whose file set the discovery log
    // already resolved.
    listFilesOpt: Option[Seq[org.apache.spark.sql.sources.Filter] => Seq[FileStatus]] = None,
    asOf: Option[Long] = None,
    bucketSpec: Option[(String, Int)] = None,
    // row-level change feed (changesSince[Version]): the file set
    // resolves LAZILY through listFilesOpt (so stream planning never
    // pays — or refuses on — the replay); this carries only the raw
    // window spelling for the plan description and the batch-only
    // stream refusal. Manifest-served aggregate pushdown stays off.
    feed: Option[String] = None,
    // stream entry point (startingVersion/startingTimestamp): Left =
    // exclusive epoch millis, Right = exclusive commit ordinal —
    // resolved at stream planning (ScbfMicroBatchStream baselines at
    // the point); batch reads refuse it. feedReconcile rides along
    // for the baseline's trust check.
    streamStart: Option[Either[Long, Int]] = None,
    feedReconcile: Boolean = true)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownFilters
  with SupportsPushDownAggregates with SupportsPushDownLimit
  with SupportsPushDownTopN {

  /** Full (unfiltered) listing — only the stats-answered aggregate
   * pushdown needs it, and only when actually attempted. */
  private lazy val allFiles: Seq[FileStatus] =
    listFilesOpt.map(_(Seq.empty)).getOrElse(files)

  private var required: StructType = schema
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var anyFilter = false
  private var aggregated: Option[ScbfAgg.Result] = None
  // (aggregation, answer) of the last attempt: Spark probes
  // supportCompletePushDown then pushes the same Aggregation — one
  // manifest read serves both calls
  private var lastAgg: Option[(Aggregation, Option[ScbfAgg.Result])] = None

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  /** Filters prune whole FILES via the stats sidecars (ScbfStats); row-
   * level evaluation stays with Spark — we return every filter as
   * residual, so correctness never depends on a sidecar's presence. */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters.filter(ScbfStats.usable)
    anyFilter = filters.nonEmpty
    filters
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  /** Complete-only aggregate pushdown answered from the stats manifest
   * (see [[ScbfAgg]]): a global COUNT/MIN/MAX/SUM(int) — or the same
   * GROUPED BY partition columns, one row per live partition — never
   * opens a data file. Anything not provably answerable — a filter
   * present, a group-by on a non-partition column, a file without
   * trusted stats or a parseable cell, a truncated/suppressed bound —
   * declines, and Spark runs the normal scan + aggregate. */
  private def computeAgg(agg: Aggregation): Option[ScbfAgg.Result] = {
    if (!aggPushdown || anyFilter) return None
    lastAgg match {
      case Some((a, r)) if a eq agg => r
      case _ =>
        // rootsWithSources: a SHALLOW CLONE's refs live under the
        // SOURCE root — including it gives them parseable cells, so
        // the partition-rollup fast path serves branches too
        val r = ScbfAgg.compute(agg, schema, allFiles, conf,
          ScbfClone.rootsWithSources(tablePaths, conf))
        lastAgg = Some((agg, r))
        r
    }
  }

  /** LIMIT n plans only a prefix of the file list whose stats already
   * guarantee ≥ n rows (ScbfScan.planInputPartitions) — `df.limit(20)`
   * over a 10⁵-file directory plans ~1 file instead of all of them.
   * PARTIALLY pushed: Spark keeps its own limit operator, so planning
   * extra files (unknown stats) or extra rows is always safe. Catalyst
   * only pushes a limit when no post-scan filter exists; SCBF filters
   * are all residual, so a filtered scan never carries one. */
  private var limitRows: Option[Int] = None

  override def pushLimit(n: Int): Boolean = { limitRows = Some(n); true }

  /** ORDER BY col LIMIT k plans only files that can hold one of the k
   * extreme rows (the sound bound B — see [[ScbfTopN]]). PARTIALLY
   * pushed: Spark keeps its Sort + Limit, so extra planned files are
   * safe. Accepted only for a plain single-column first sort key
   * (later keys are tie-breakers the bound argument never needs). */
  private var topN: Option[(String, Boolean, Int)] = None

  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    if (anyFilter || orders.isEmpty) return false
    orders.head.expression() match {
      case ref: org.apache.spark.sql.connector.expressions.NamedReference
          if ref.fieldNames.length == 1 &&
            schema.fieldNames.contains(ref.fieldNames()(0)) =>
        topN = Some((ref.fieldNames()(0),
          orders.head.direction() ==
            org.apache.spark.sql.connector.expressions.SortDirection.DESCENDING,
          limit))
        true
      case _ => false
    }
  }

  override def isPartiallyPushed(): Boolean = true

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    computeAgg(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    // complete-or-nothing: a `true` on Spark's PARTIAL path would make
    // it merge our single total row as if it were per-partition partials
    // (idempotent for min/max/sum/count, but complete is the contract
    // we verify), so only accept what computeAgg fully answered
    aggregated = computeAgg(agg)
    aggregated.isDefined
  }

  override def build(): Scan =
    new ScbfScan(schema, required, files, conf, tablePaths, maxFilesPerTrigger,
      compactInterval, maxFileAgeMs, pushed.toSeq, aggregated, limitRows, topN,
      reconcileEvery, onChangeCommit, partitionCols, listFilesOpt, asOf, bucketSpec,
      feed, streamStart, feedReconcile)
}

class ScbfScan(
    tableSchema: StructType,
    required: StructType,
    files: Seq[FileStatus],
    conf: Configuration,
    tablePaths: Seq[String] = Seq.empty,
    maxFilesPerTrigger: Option[Int] = None,
    compactInterval: Int = ScbfMicroBatchStream.DefaultCompactInterval,
    maxFileAgeMs: Option[Long] = None,
    pushedFilters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty,
    aggregated: Option[ScbfAgg.Result] = None,
    limitRows: Option[Int] = None,
    topN: Option[(String, Boolean, Int)] = None,
    reconcileEvery: Int = ScbfMicroBatchStream.DefaultReconcileEvery,
    onChangeCommit: String = ScbfMicroBatchStream.DefaultOnChangeCommit,
    partitionCols: Seq[String] = Seq.empty,
    listFilesOpt: Option[Seq[org.apache.spark.sql.sources.Filter] => Seq[FileStatus]] = None,
    asOf: Option[Long] = None,
    bucketSpec: Option[(String, Int)] = None,
    feed: Option[String] = None,
    streamStart: Option[Either[Long, Int]] = None,
    feedReconcile: Boolean = true)
  extends Scan with Batch with SupportsReportStatistics
  with SupportsRuntimeFiltering with SupportsReportPartitioning {

  /** Runtime (join-driven) filters — Spark's dynamic partition pruning
   * applied to SCBF files: a broadcast join's build-side keys arrive at
   * execution as an `In` filter, and `planInputPartitions` re-plans
   * against the same stats machinery the static filters use. At 100 TB
   * a `fact JOIN dim ON key` with a selective dim predicate reads only
   * the fact files whose key range intersects the surviving dim keys —
   * without the user spelling the fact-side predicate at all. Purely
   * best-effort (the join re-verifies every row), so an absent stats
   * file or an unusable filter just disables the pruning. */
  private var runtimeFilters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty

  /** Every column this scan OUTPUTS (Catalyst resolves these against
   * the pruned relation output, so table-schema columns projected away
   * must not appear): stats may exist for any of them, and an unusable
   * runtime filter is simply ignored at planning. */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    required.fieldNames.map(
      org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    runtimeFilters = filters.toSeq.filter(ScbfStats.usable)

  override def readSchema(): StructType =
    aggregated.map(_.schema).getOrElse(required)

  override def toBatch: Batch = this

  /** Streaming read: each micro-batch is the set of newly-appeared
   * `.scbf` files (see [[ScbfMicroBatchStream]]); column pruning AND
   * the pushed stats-skip filters carry over (a backfill readStream
   * over a batch-written directory prunes files exactly like the batch
   * scan — and since every filter stays residual, a skip decision that
   * differs on epoch replay can only drop rows the query's own filter
   * discards, so replay results are unchanged). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // Catalyst pushes aggregates on the batch path only; a streaming
    // scan carrying one would silently replay a frozen answer
    require(aggregated.isEmpty, "aggregate pushdown is batch-only")
    // a stream is by definition the LIVE table; a frozen historical
    // file set would silently pin every trigger to the past
    require(asOf.isEmpty,
      "asOfTimestamp is batch-only: a stream reads the live table. " +
        "Read the historical snapshot in batch instead.")
    // same frozen-file-set argument as asOf: a stream wanting "changes
    // since" is just… a stream — readStream from the checkpoint instead
    require(feed.isEmpty,
      "changesSince[Version] is batch-only: a stream IS an incremental " +
        "read — readStream the table with a checkpoint instead (a stream " +
        "that should BEGIN at a recorded point spells it " +
        "startingVersion/startingTimestamp), or run the feed as periodic " +
        "batch reads advancing the start point.")
    new ScbfMicroBatchStream(required, tablePaths, conf, checkpointLocation,
      maxFilesPerTrigger, compactInterval, maxFileAgeMs, pushedFilters,
      reconcileEvery, onChangeCommit, streamStart, feedReconcile)
  }

  override def description(): String =
    s"SCBF scan, columns [${required.fieldNames.mkString(", ")}]" +
      (if (pushedFilters.nonEmpty)
        s", PushedFilters: [${pushedFilters.mkString(", ")}]" else "") +
      aggregated.map(a => s", PushedAggregation: [${a.description}]").getOrElse("") +
      limitRows.map(n => s", PushedLimit: $n").getOrElse("") +
      topN.map { case (c, d, k) =>
        s", PushedTopN: [$c ${if (d) "DESC" else "ASC"}, $k]" }.getOrElse("") +
      asOf.map(t => s", AsOfTimestamp: $t").getOrElse("") +
      feed.map(w => s", ChangesBetween: [$w]").getOrElse("")

  /** File skipping: a file whose stats PROVE no row can pass the
   * pushed filters is never planned (never opened, never shuffled
   * past — the SCBF rendering of partition pruning). Stats come from
   * the per-directory manifest — ONE driver read per directory, not
   * one per file, which is what survives ~10⁵-file directories at
   * 100 TB — with per-file sidecars as the fallback for files the
   * manifest misses or got stale on (ScbfStats.Pruner). Stats are
   * read only when a usable filter exists; a file without stats
   * always plans. */
  /** One Lookup per scan: manifests (and their dirndv blocks) cache
   * across planInputPartitions AND every estimateStatistics call. */
  private lazy val lookup = new ScbfStats.Lookup(conf)

  /** Table roots PLUS any SHALLOW CLONE source root (one streamed
   * 2-line probe per path, once per scan): refs then carry their
   * source `k=v` cells into the prune, the SPJ keys and the runtime
   * (DPP) re-plan — partition-grade branches. */
  private lazy val partitionRoots: Seq[String] =
    ScbfClone.rootsWithSources(tablePaths, conf)

  /** Partition-directory pruning FIRST (ScbfPartitions): pure path
   * arithmetic against `col=value` components — so a pruned
   * partition's manifest is never even opened. On the deferred-listing
   * path (table reads) the pruning happens DURING the walk
   * ([[ScbfPartitions.walk]]): a pruned partition's directory
   * is never LISTED either, which is what bounds a partition-pruned
   * SELECT's metadata bill at root + touched partitions on a 10⁶-file
   * table. Eager (test/tool) construction keeps the post-hoc prune of
   * the supplied list — identical kept set, listing already paid. The
   * per-file stats pass below then only sees surviving files. */
  private lazy val partitionKept: Seq[FileStatus] = listFilesOpt match {
    case Some(lf) => lf(pushedFilters)
    case None => ScbfPartitions.prune(files, tableSchema, pushedFilters, partitionRoots)
  }

  /** The static prune (pushed filters only), computed ONCE per scan:
   * Catalyst asks for statistics (possibly several times) and then
   * plans partitions, and each ask used to re-run the full stats +
   * bloom pass — at the 10⁵-file bloom-storm worst case that
   * multiplied a multi-second planning step. Sound to share: the
   * pushed filters are fixed at build time. Runtime (DPP) filters
   * arrive later and prune FROM this set (conjunctive semantics:
   * kept(pushed ∧ runtime) = kept(runtime) ∩ kept(pushed)). */
  // `_file_path` predicates prune exactly inside the Pruner itself
  // (path truth is a per-file constant — see ScbfStats.Pruner and
  // ScbfPartitions.filePathTruth): `WHERE _file_path = '…'` plans ONE
  // file here, and the same evidence makes the DELETE fast path a
  // zero-read takedown.
  private lazy val staticKept: Seq[FileStatus] =
    if (pushedFilters.isEmpty) partitionKept
    else new ScbfStats.Pruner(conf, pushedFilters, lookup)
      .keepAll(partitionKept)(_.getPath, _.getLen)

  /** Storage-partitioned join (SPJ) support: when every file of a
   * partitioned table carries a full, parseable set of `k=v` cells,
   * the scan can report `KeyGroupedPartitioning` over the partition
   * columns and attach each file's typed partition values as its
   * split's `partitionKey()`. Spark then co-locates two such scans'
   * splits by key — a `fact JOIN dim ON partition-cols` or a
   * `GROUP BY partition-cols` runs with ZERO shuffle on either side,
   * which at 100 TB deletes the single largest network cost a
   * co-partitioned layout can avoid. Missing partitions on one side
   * are padded by Spark (`v2.bucketing.pushPartValues.enabled`) and
   * skewed partitions re-split (`partiallyClusteredDistribution`), so
   * the plan survives asymmetric layouts.
   *
   * The column ORDER is the catalog's `PARTITIONED BY` order when this
   * scan came through a catalog table, else the path order of the
   * first file (path reads) — both are the physical directory order.
   * None (no SPJ) when any file lies outside the `k=v` tree or a cell
   * fails to parse to its column type: a reported key-grouping is a
   * hard contract (every split must carry a key), never a guess. */
  private lazy val spjKeyed: Option[(Seq[StructField], Map[String, InternalRow])] = {
    // PLANNED files only (post-partition-prune): the key-grouping
    // contract is per planned split, so unplanned files' layout is
    // irrelevant — and the deferred-listing path never lists them.
    // Path reads of an undeclared layout infer identity columns from
    // the first file's cells; a declared bucket transform is never
    // inferred (it needs the catalog's V2 bucket function to resolve).
    val declared =
      if (partitionCols.nonEmpty || bucketSpec.isDefined) partitionCols
      else partitionKept.headOption
        .map(f => ScbfPartitions.orderedCells(f.getPath, tableSchema, partitionRoots)
          .map(_._1))
        .getOrElse(Seq.empty)
    val fields = declared.flatMap(c => tableSchema.fields.find(_.name == c))
    if (fields.size != declared.size || (fields.isEmpty && bucketSpec.isEmpty) ||
        partitionKept.isEmpty) None
    else {
      val keys = Map.newBuilder[String, InternalRow]
      val ok = partitionKept.forall { f =>
        val cells = ScbfPartitions.partValues(f.getPath, tableSchema, partitionRoots)
        val vals = fields.map(fld =>
          cells.get(fld.name).flatMap(ScbfPartitions.parseCell(fld.dataType, _)))
        // the bucket id rides the synthetic <col>_bucket=<id> cell —
        // a raw (non-schema) component the identity layers ignore
        val bucketVal: Option[Seq[Any]] = bucketSpec match {
          case None => Some(Seq.empty)
          case Some((c, _)) =>
            ScbfPartitions.rawCells(f.getPath, partitionRoots)
              .get(s"${c}_bucket").flatMap(_.toIntOption).map(Seq(_))
        }
        vals.forall(_.isDefined) && bucketVal.isDefined && {
          keys += f.getPath.toString ->
            new GenericInternalRow(
              (vals.map(_.get) ++ bucketVal.get).toArray[Any])
          true
        }
      }
      if (ok) Some((fields, keys.result())) else None
    }
  }

  /** The reported key-grouping expressions: identity transforms over
   * the declared partition columns, plus the bucket transform (Spark
   * resolves it against the table's catalog `bucket` function —
   * [[GraftCatalog]]; path-based reads have no function catalog, so a
   * bucket layout reports unknown there and the plan simply shuffles). */
  private def spjExpressions(fields: Seq[StructField])
      : Array[org.apache.spark.sql.connector.expressions.Expression] =
    (fields.map(f => org.apache.spark.sql.connector.expressions.Expressions
      .identity(f.name): org.apache.spark.sql.connector.expressions.Expression) ++
      bucketSpec.map { case (c, n) =>
        org.apache.spark.sql.connector.expressions.Expressions
          .bucket(n, c): org.apache.spark.sql.connector.expressions.Expression
      }).toArray

  /** Report key-grouping only when SPJ is enabled — Spark's own
   * `spark.sql.sources.v2.bucketing.enabled` (default TRUE since
   * Spark 4) AND the graft-side escape hatch [[GraftConf.SpjEnabled]]
   * (default true; resolution mirrors GraftConf: session conf →
   * system property → default). Under a reported key-grouping Spark
   * also GROUPS a scan's splits one-task-per-partition-value, which
   * trades scan parallelism for shuffle elimination — the right trade
   * whenever partitions outnumber cores (always at 100 TB), and the
   * knob is the per-session exit for small-partition-count tables
   * where it isn't. With either conf off, plans are byte-identical to
   * the pre-SPJ connector. The pushed-aggregate single-row path and
   * projections that drop a partition column report unknown (Spark
   * could not resolve the keys anyway). */
  /** Both SPJ switches resolved at planning time — Spark's v2 bucketing
   * conf AND the graft escape hatch. Checked BEFORE [[spjKeyed]] is
   * forced anywhere, so a disabled session never pays the O(files)
   * cell-parse/key-map build. */
  private def spjConfEnabled: Boolean =
    try {
      val sc = org.apache.spark.sql.internal.SQLConf.get
      val graftOn = Option(sc.getConfString(graft.GraftConf.SpjEnabled, null))
        .orElse(sys.props.get(graft.GraftConf.SpjEnabled))
        .forall(_.trim.toBoolean)
      sc.v2BucketingEnabled && graftOn
    } catch { case scala.util.control.NonFatal(_) => false }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    // conf first: with SPJ off, spjKeyed is never forced (no O(files)
    // key-map build for a disabled session)
    val keyed = if (spjConfEnabled) spjKeyed else None
    keyed match {
      case Some((fields, keys)) if aggregated.isEmpty &&
          (fields.map(_.name) ++ bucketSpec.map(_._1))
            .forall(required.fieldNames.contains) =>
        val n = staticKept.map(f => keys(f.getPath.toString)).distinct.size
        // the parallelism-trade gate (GraftConf.SpjMinPartitions,
        // default 1 = always report): below the threshold the scan
        // keeps per-file tasks — Spark only groups splits one-task-
        // per-partition-value under a REPORTED key-grouping, so
        // withholding the report here restores scan parallelism for
        // small-key-count tables without touching the feature switch
        val minParts =
          try {
            val sc = org.apache.spark.sql.internal.SQLConf.get
            Option(sc.getConfString(graft.GraftConf.SpjMinPartitions, null))
              .orElse(sys.props.get(graft.GraftConf.SpjMinPartitions))
              .fold(1)(_.trim.toInt)
          } catch { case scala.util.control.NonFatal(_) => 1 }
        if (n < minParts)
          new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
            partitionKept.size)
        else
          new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
            spjExpressions(fields), math.max(n, 1))
      case _ =>
        // a pushed aggregation plans exactly one partition; otherwise
        // the kept-file count (the hint is advisory — Spark derives the
        // real partitioning from the planned splits)
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
          if (aggregated.isDefined) 1 else partitionKept.size)
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    require(streamStart.isEmpty,
      "startingVersion/startingTimestamp are readStream options (a " +
        "stream's entry point); for a batch window read use " +
        "changesSince[Version] / changesUntil[Version].")
    // a pushed aggregation IS the result: one partition, one row,
    // zero data files opened
    aggregated match {
      case Some(a) => Array(ScbfAggPartition(a.schema, a.rows.map(_.toArray).toArray))
      case None =>
        // static prune computed once (staticKept); any runtime (DPP)
        // filters narrow it further through the same conjunctive check
        val kept =
          if (runtimeFilters.isEmpty) staticKept
          else new ScbfStats.Pruner(conf, runtimeFilters, lookup)
            .keepAll(ScbfPartitions.prune(
              staticKept, tableSchema, runtimeFilters, partitionRoots))(
              _.getPath, _.getLen)
        // A pushed LIMIT keeps only a prefix of files whose stats
        // GUARANTEE ≥ n rows: a file without trusted stats still plans
        // (counts 0 toward the guarantee), so the planned set can only
        // over-deliver — Spark's retained limit operator trims it.
        // Restricted to the filterless case: a filter would make stats
        // row counts an over-estimate of surviving rows (Catalyst
        // doesn't push limits past residual filters anyway — defense
        // in depth).
        val limited = (limitRows, topN) match {
          // ORDER BY col LIMIT k: only files that can hold one of the
          // k extreme rows (ScbfTopN's bound argument)
          case (_, Some((colName, desc, k)))
              if pushedFilters.isEmpty && runtimeFilters.isEmpty =>
            tableSchema.fields.find(_.name == colName) match {
              case Some(field) =>
                ScbfTopN.prune(kept, lookup, field, desc, k)
              case None => kept
            }
          // plain LIMIT n: any prefix of files guaranteeing ≥ n rows
          case (Some(n), None)
              if pushedFilters.isEmpty && runtimeFilters.isEmpty =>
            var known = 0L
            kept.takeWhile { f =>
              val need = known < n
              if (need) lookup.stats(f.getPath, f.getLen).foreach(known += _.rows)
              need
            }
          case _ => kept
        }
        // partition keys ride along whenever SPJ is on and the layout
        // keys (null otherwise): Spark only reads them under a reported
        // key-grouping, where spjKeyed guarantees every planned file
        // has one — and with SPJ off the key map is never built
        val keyOf: String => InternalRow =
          (if (spjConfEnabled) spjKeyed else None) match {
            case Some((_, keys)) => p => keys.getOrElse(p, null)
            case None            => _ => null
          }
        limited
          .map(f => ScbfFilePartition(f.getPath.toString, f.getLen,
            keyOf(f.getPath.toString)): InputPartition)
          .toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ScbfPartitionReaderFactory(required, ScbfUtil.broadcastConf(conf))

  /** Planner statistics (broadcast decisions, AQE, join reorder hinge
   * on these). Sizes come from the file listing (free) but over the
   * files the pushed filters actually KEEP — a scan whose stats prune
   * 999 of 1000 files reports the one surviving file's size, so a
   * pruned fact side can become broadcast-able. Row counts come from
   * the stats manifest — ONE driver read per directory at any file
   * count; only files the manifest misses fall back to header reads,
   * and only while the missing set is small (at 100 TB reading
   * thousands of headers serially on the driver would stall planning —
   * rows go unreported instead, never guessed). */
  override def estimateStatistics(): Statistics = new Statistics {
    // lazy: a pushed aggregation's statistics come from its result
    // rows alone — no file set (and on the deferred path, no LISTING)
    // may be forced for it
    private lazy val kept = staticKept
    private val lookup = ScbfScan.this.lookup

    /** Post-partition-prune, PRE-stats-prune listing: the anchor the
     * selectivity estimate multiplies. [[pushedSel]] is derived from
     * DIRECTORY-wide summaries, whose mass still includes the files
     * the per-file stats prune dropped — applying it to the pruned
     * (`kept`) size would count the same predicate twice: on a
     * CLUSTERED table a 10%-keep range first prunes ~90% of files and
     * would then shrink by ~10% again, reporting ~1% of the true
     * post-filter size and wrongly broadcasting a ~10× larger side.
     * The two independent estimates of the post-filter size — kept
     * bytes (file pruning, a sound upper bound) and directory mass ×
     * keep-fraction — combine by MIN instead. Partition pruning stays
     * outside the anchor: a pruned partition's summaries never load,
     * so its mass is in neither factor. */
    private lazy val anchor: Seq[FileStatus] = partitionKept

    /** Keep-fraction of the pushed predicates, estimated from the
     * kept directories' merged statistics and folded into the
     * reported numRows/sizeInBytes — the same authority the scan
     * already exercises by reporting kept-file sizes under pruning.
     * This is where SKEW reaches join planning in a DEFAULT
     * deployment: Catalyst's FilterEstimation runs only under
     * spark.sql.cbo.enabled (off by default) and has no string path
     * at all, and file-level pruning can't narrow a rare-value filter
     * when every file holds a few matching rows. STRING predicates
     * estimate through the top-K frequency summaries
     * ([[ScbfStrTopK]]; residual ranges through the utf8 prefix-key
     * histograms); NUMERIC ranges interpolate the merged equi-height
     * histograms, and numeric equality shrinks only on point-bin
     * evidence ([[ScbfHistogram.keepFraction]]). A fact scan filtered
     * to `lang = 'kw'` (0.1% of a 95%-'en' column) or to the sparse
     * tail of a skewed numeric range reports that fraction of its
     * size here, dropping below the broadcast threshold, CBO on or
     * off. Estimates floor at one row and only ever come from real
     * frequency evidence; columns or filter shapes the stats can't
     * judge contribute 1.0 (never shrink on a guess). */
    private lazy val pushedSel: Double =
      if (aggregated.isDefined || pushedFilters.isEmpty) 1.0
      else {
        val dirs = kept.map(_.getPath.getParent).distinct
        val topks: Map[String, ScbfStrTopK.TopK] = dirs
          .flatMap(d => lookup.dirTopK(d).toSeq)
          .groupBy(_._1).view.mapValues(v => ScbfStrTopK.merge(v.map(_._2)))
          .collect { case (n, Some(t)) => n -> t }.toMap
        // folded utf8 bounds over the kept files (max only when every
        // kept file reports one — the fold is unsound otherwise),
        // anchoring the range interpolation of the non-top-K mass
        def boundsFor(c: String): Option[(Array[Byte], Option[Array[Byte]])] =
          allStats.flatMap { sts =>
            val nonEmpty = sts.filter(_.rows > 0)
            val rs = nonEmpty.map(_.strCols.get(c))
            if (nonEmpty.isEmpty || rs.exists(_.isEmpty)) None
            else {
              val ranges = rs.flatten
              val mn = ranges.map(_.min).min(ScbfScan.byteOrdering)
              val mx =
                if (ranges.forall(_.max.isDefined))
                  Some(ranges.flatMap(_.max).max(ScbfScan.byteOrdering))
                else None
              Some((mn, mx))
            }
          }
        import org.apache.spark.sql.sources._
        def colOf(f: Filter): Option[String] = f match {
          case EqualTo(a, _)            => Some(a)
          case EqualNullSafe(a, _)      => Some(a)
          case In(a, _)                 => Some(a)
          case StringStartsWith(a, _)   => Some(a)
          case GreaterThan(a, _)        => Some(a)
          case GreaterThanOrEqual(a, _) => Some(a)
          case LessThan(a, _)           => Some(a)
          case LessThanOrEqual(a, _)    => Some(a)
          case _                        => None
        }
        // merged per-column histograms: utf8 prefix-key histograms
        // refine the string residual-range model, numeric histograms
        // estimate numeric predicates directly (same dirhist lines)
        val histCache = scala.collection.mutable.Map.empty[String, Option[ScbfHistogram.Hist]]
        def histFor(c: String): Option[ScbfHistogram.Hist] =
          histCache.getOrElseUpdate(c, {
            val hs = dirs.flatMap(d => lookup.dirHist(d).get(c))
            if (hs.isEmpty) None else ScbfHistogram.merge(hs)
          })
        def isStringCol(c: String): Boolean = // full schema: a filter
          // column may be pruned from the scan's output
          tableSchema.fields.find(_.name == c).exists(_.dataType == StringType)
        // Under CBO, Catalyst's FilterEstimation re-applies the
        // residual filters' selectivity from the reported column stats
        // — for NUMERIC predicates it holds the very histogram we'd
        // use, so pre-scaling here would SQUARE the selectivity (a 1%
        // filter reported at 0.01% flips joins the wrong way). Numeric
        // estimation defers to Catalyst when cbo is on. STRING
        // predicates keep scaling either way: FilterEstimation has no
        // string-histogram path (ranges/prefixes get no estimate at
        // all; equality's 1/NDV overlap is bounded and pushes the
        // estimate below a value we already believe small).
        // conf via the session, not bare SQLConf.get: outside an
        // active query-execution scope (direct estimateStatistics
        // calls) SQLConf.get falls back to a static default
        val cboOwnsNumerics = org.apache.spark.sql.SparkSession.getActiveSession
          .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
          .map(_.sessionState.conf.cboEnabled)
          .getOrElse(org.apache.spark.sql.internal.SQLConf.get.cboEnabled)
        // Same-column numeric RANGE conjunctions (the BETWEEN shape —
        // date/id bands are the most common analytic filter) estimate
        // as ONE interval: the sides are perfectly correlated through
        // the column value, so multiplying them assumes independence
        // and overestimates (a 20% mid-band multiplies to 36%), and
        // contradictory bounds would report a product where the truth
        // is zero. Bounds fold to the tightest of each side.
        def numLit(v: Any): Option[Double] = v match {
          case n: java.lang.Number => Some(n.doubleValue())
          case _                   => None
        }
        def rangeBound(f: Filter): Option[(String, Either[(Double, Boolean), (Double, Boolean)])] =
          f match {
            case GreaterThan(a, v) => numLit(v).map(x => a -> Left((x, false)))
            case GreaterThanOrEqual(a, v) => numLit(v).map(x => a -> Left((x, true)))
            case LessThan(a, v) => numLit(v).map(x => a -> Right((x, false)))
            case LessThanOrEqual(a, v) => numLit(v).map(x => a -> Right((x, true)))
            case _ => None
          }
        def asInterval(f: Filter): Option[(String, Either[(Double, Boolean), (Double, Boolean)])] =
          if (cboOwnsNumerics) None
          else rangeBound(f).filter { case (c, _) =>
            !isStringCol(c) && topks.get(c).isEmpty && histFor(c).isDefined
          }
        val (intervalFs, rest1) = pushedFilters.partition(asInterval(_).isDefined)
        val intervalSel = intervalFs.flatMap(asInterval)
          .groupBy(_._1).values.map { bs =>
            val c = bs.head._1
            // tightest lower bound: larger value, exclusive on ties
            val lo = bs.collect { case (_, Left(b)) => b }
              .reduceOption((a, b) =>
                if (a._1 > b._1 || (a._1 == b._1 && !a._2)) a else b)
            val hi = bs.collect { case (_, Right(b)) => b }
              .reduceOption((a, b) =>
                if (a._1 < b._1 || (a._1 == b._1 && !a._2)) a else b)
            ScbfHistogram.intervalFraction(histFor(c).get, lo, hi)
              .fold(1.0)(v => math.max(v, 1e-9)) // None: no evidence, no shrink
          }.product
        // … and the STRING analog: utf8 range conjunctions on a
        // summarized column (the scbf date-range shape — timestamps
        // are utf8 in the 3-type format) estimate as one prefix-key
        // interval through the top-K + residual model
        def strLit(v: Any): Option[String] = v match {
          case s: String                                   => Some(s)
          case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
          case _                                           => None
        }
        def strRange(f: Filter): Option[(String, Either[(String, Boolean), (String, Boolean)])] =
          f match {
            case GreaterThan(a, v) => strLit(v).map(x => a -> Left((x, false)))
            case GreaterThanOrEqual(a, v) => strLit(v).map(x => a -> Left((x, true)))
            case LessThan(a, v) => strLit(v).map(x => a -> Right((x, false)))
            case LessThanOrEqual(a, v) => strLit(v).map(x => a -> Right((x, true)))
            case _ => None
          }
        def asStrInterval(f: Filter): Option[(String, Either[(String, Boolean), (String, Boolean)])] =
          strRange(f).filter { case (c, _) => topks.contains(c) }
        val (strIntervalFs, restFs) = rest1.partition(asStrInterval(_).isDefined)
        val strIntervalSel = strIntervalFs.flatMap(asStrInterval)
          .groupBy(_._1).map { case (c, bs) =>
            val los = bs.collect { case (_, Left(b)) => b }
            val his = bs.collect { case (_, Right(b)) => b }
            ScbfStrTopK.selectivityInterval(topks(c),
              boundsFor(c), los, his, histFor(c))
              .fold(1.0)(v => math.max(v, 1e-9))
          }.product
        restFs.foldLeft(intervalSel * strIntervalSel) { (acc, f) =>
          val s = colOf(f).flatMap { c =>
            topks.get(c) match {
              case Some(t) =>
                // under CBO, string equality/In scaling COMPOUNDS with
                // FilterEstimation's own 1/NDV re-application on the
                // residual predicate (DefaultRange.contains is always
                // true for strings, so Catalyst never skips it). For a
                // value the top-K has EXACT frequency evidence on, the
                // compound is our-exact × 1/NDV — still far better than
                // 1/NDV alone for skew (the broadcast-flip spec pins
                // it). For a value OUTSIDE the top-K our own estimate
                // is itself ~1/NDV-shaped, so the compound squares to
                // 1/NDV² — an extra NDV-factor under-estimate in the
                // wrongly-broadcast direction. Defer exactly those to
                // Catalyst, mirroring the numeric deferral; ranges,
                // prefixes and contains (no Catalyst string path at
                // all) always scale.
                val cboOwnsStringEq = cboOwnsNumerics && dirNdv.contains(c) && {
                  lazy val topVals = t.entries.iterator.map(_._1).toSet
                  f match {
                    case EqualTo(_, v) => strLit(v).exists(!topVals.contains(_))
                    case EqualNullSafe(_, v) => strLit(v).exists(!topVals.contains(_))
                    case In(_, vs) =>
                      val lits = vs.toSeq.flatMap(strLit)
                      lits.size < vs.length || lits.exists(!topVals.contains(_))
                    case _ => false
                  }
                }
                if (cboOwnsStringEq) None
                else ScbfStrTopK.selectivity(t, dirNdv.get(c), boundsFor(c), f, histFor(c))
              case None if !isStringCol(c) && !cboOwnsNumerics =>
                histFor(c).flatMap(h => ScbfHistogram.keepFraction(h, f))
              case None => None
            }
          }
          acc * s.fold(1.0)(v => math.max(v, 1e-9))
        }
      }

    override val sizeInBytes: OptionalLong =
      if (aggregated.isDefined)
        OptionalLong.of(1024L * math.max(1, aggregated.get.rows.size))
      else OptionalLong.of(math.max(1L, math.min(
        kept.map(_.getLen).sum,
        math.round(anchor.map(_.getLen).sum * pushedSel))))
    private lazy val allStats: Option[Seq[ScbfStats.FileStats]] = {
      val perFile = kept.map(f => lookup.stats(f.getPath, f.getLen))
      if (perFile.forall(_.isDefined)) Some(perFile.flatten) else None
    }
    private lazy val dirNdv: Map[String, Long] = {
      // KEPT files' directories only: a partition-pruned directory's
      // manifest must not load here (manifest reads == touched
      // partitions), and the NDV estimate is tighter for it too
      val dirs = kept.map(_.getPath.getParent).distinct
      val merged = dirs.foldLeft(Map.empty[String, Array[Byte]]) { (acc, d) =>
        lookup.dirNdv(d).foldLeft(acc) { case (m, (n, regs)) =>
          m.updated(n, m.get(n).map(ScbfNdv.merge(_, regs)).getOrElse(regs))
        }
      }
      merged.map { case (n, regs) => n -> ScbfNdv.estimate(regs) }
    }
    override val numRows: OptionalLong =
      if (aggregated.isDefined)
        OptionalLong.of(math.max(1L, aggregated.get.rows.size.toLong))
      else {
        // Directory-summary fast path per FULLY-kept directory: when a
        // directory's fingerprinted dirsum covers exactly its kept
        // files, its total rows come from one ~200 B head-read — no
        // per-file lookups, no 10⁴-entry manifest parse. Partially
        // kept or divergent directories fall through to the per-file
        // path below (an unfiltered 10⁶-file fact scan's join-planning
        // row count is O(partitions), not O(files)).
        def dirRows(fs: Seq[FileStatus]): (Long, Seq[FileStatus]) = {
          val (summed, leftover) = fs.groupBy(_.getPath.getParent).values
            .partitionMap { dirFiles =>
              lookup.dirSummary(dirFiles.head.getPath.getParent) match {
                case Some(s) if s.matches(dirFiles) => Left(s.rows)
                case _                              => Right(dirFiles)
              }
            }
          (summed.sum, leftover.flatten.toSeq)
        }
        val (keptSummed, keptRest) = dirRows(kept)
        // missing-stats budget over the residual files only: a table
        // with many stats-less files the pruning dropped must not lose
        // its estimate, and header reads never happen for pruned files
        val perKept = keptRest.map(f => lookup.stats(f.getPath, f.getLen).map(_.rows))
        if (perKept.count(_.isEmpty) > 64) OptionalLong.empty()
        else {
          val keptRows = keptSummed + keptRest.iterator.zip(perKept.iterator).map {
            case (f, r) => r.getOrElse(ScbfUtil.readHeader(f, conf).totalRows)
          }.sum
          // the directory-mass × keep-fraction term needs the
          // PRE-stats-prune anchor totals — materialized only when the
          // selectivity actually shrinks, from the manifest alone (the
          // Pruner already loaded these directories' manifests; a
          // stats-less anchor file would need a header read for a file
          // the scan never opens, so the term is skipped instead and
          // the sound keptRows upper bound stands)
          val est =
            if (pushedSel >= 1.0) keptRows
            else {
              val (anchorSummed, anchorRest) = dirRows(anchor)
              val perAnchor = anchorRest.map(f => lookup.stats(f.getPath, f.getLen).map(_.rows))
              if (perAnchor.forall(_.isDefined))
                math.min(keptRows,
                  math.round((anchorSummed + perAnchor.flatten.sum) * pushedSel))
              else keptRows
            }
          OptionalLong.of(math.max(1L, est))
        }
      }

    /**
     * Per-column stats for the CBO (filter-selectivity and
     * join-cardinality estimation — `spark.sql.cbo.enabled`): min/max
     * folded over the KEPT files' manifest entries, NDV from the
     * directory-level HLL sketch (ScbfNdv), nullCount 0 by format
     * contract (SCBF stores no nulls). All from data planning already
     * read — the manifest — so this costs no extra IO. min/max are
     * reported only when EVERY kept file has trusted stats for the
     * column (a single stats-less file makes the fold unsound); NDV is
     * directory-scoped, so under pruning it over-estimates the kept
     * subset — capped at numRows, and fine for an estimator.
     */
    override def columnStats()
        : java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val out = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      if (aggregated.isDefined) return out
      // merged per-column histograms over the SAME kept directories —
      // skew-aware selectivity for FilterEstimation/JoinEstimation.
      // Per-bin NDVs are rescaled so their sum agrees with the HLL
      // directory estimate (a straight merge sums each file's distinct
      // counts, over-counting values shared across files; the HLL
      // union counts them once).
      val dirHist: Map[String, ScbfHistogram.Hist] = {
        val dirs = kept.map(_.getPath.getParent).distinct
        val byCol = dirs.flatMap(d => lookup.dirHist(d).toSeq)
          .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        byCol.flatMap { case (n, hists) =>
          ScbfHistogram.merge(hists).map { h =>
            val scaled = dirNdv.get(n) match {
              case Some(hll) =>
                val s = h.bins.iterator.map(_.ndv).sum
                if (s > hll && s > 0) {
                  val f = hll.toDouble / s
                  h.copy(bins = h.bins.map(b =>
                    b.copy(ndv = math.max(1L, math.round(b.ndv * f)))))
                } else h
              case None => h
            }
            n -> scaled
          }
        }
      }
      val rowCap = if (numRows.isPresent) Some(numRows.getAsLong) else None
      required.fields.foreach { field =>
        val minMax: Option[(Any, Any)] = field.dataType match {
          case IntegerType | DoubleType =>
            allStats.flatMap { sts =>
              val nonEmpty = sts.filter(_.rows > 0)
              val ranges = nonEmpty.map(_.cols.get(field.name))
              if (nonEmpty.isEmpty || ranges.exists(_.isEmpty)) None
              else {
                val rs = ranges.flatten
                val (mn, mx) = (rs.map(_.min).min, rs.map(_.max).max)
                Some(if (field.dataType == IntegerType)
                  (Int.box(mn.toInt), Int.box(mx.toInt))
                else (Double.box(mn), Double.box(mx)))
              }
            }
          case _ => None // utf8 bounds are truncated; not reported
        }
        val ndv: Option[Long] = dirNdv.get(field.name)
          .map(n => rowCap.fold(n)(math.min(n, _)))
        // utf8 length stats: average folded as Σbytes/Σrows, max as max —
        // sound only when every kept file reports them
        val lens: Option[(Long, Long)] = field.dataType match {
          case StringType =>
            allStats.flatMap { sts =>
              val nonEmpty = sts.filter(_.rows > 0)
              val ls = nonEmpty.map(_.strLens.get(field.name))
              if (nonEmpty.isEmpty || ls.exists(_.isEmpty)) None
              else {
                val totalRows = nonEmpty.map(_.rows).sum
                val totalBytes = ls.flatten.map(_._1).sum
                val maxLen = ls.flatten.map(_._2).max
                Some((math.max(1L, math.round(totalBytes.toDouble / totalRows)),
                  maxLen.toLong))
              }
            }
          case _ => None
        }
        // equi-height histogram (numeric columns): reported alongside
        // min/max so the estimator can weigh skewed predicates; the
        // DSv2 → Catalyst conversion (transformV2Stats) hands it to
        // FilterEstimation's computeComparisonPossibilityByHistogram
        val hist: Option[ScbfHistogram.Hist] = field.dataType match {
          case IntegerType | DoubleType => dirHist.get(field.name)
          case _                        => None
        }
        if (minMax.isDefined || ndv.isDefined || lens.isDefined || hist.isDefined) {
          out.put(
            org.apache.spark.sql.connector.expressions.Expressions.column(field.name),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): OptionalLong =
                ndv.map(OptionalLong.of).getOrElse(OptionalLong.empty())
              override def min(): java.util.Optional[Object] =
                minMax.map(p => java.util.Optional.of(p._1.asInstanceOf[Object]))
                  .getOrElse(java.util.Optional.empty())
              override def max(): java.util.Optional[Object] =
                minMax.map(p => java.util.Optional.of(p._2.asInstanceOf[Object]))
                  .getOrElse(java.util.Optional.empty())
              override def nullCount(): OptionalLong = OptionalLong.of(0L)
              override def avgLen(): OptionalLong = field.dataType match {
                case IntegerType => OptionalLong.of(4L)
                case DoubleType  => OptionalLong.of(8L)
                case _ => lens.map(l => OptionalLong.of(l._1))
                  .getOrElse(OptionalLong.empty())
              }
              override def maxLen(): OptionalLong = field.dataType match {
                case IntegerType => OptionalLong.of(4L)
                case DoubleType  => OptionalLong.of(8L)
                case _ => lens.map(l => OptionalLong.of(l._2))
                  .getOrElse(OptionalLong.empty())
              }
              override def histogram(): java.util.Optional[
                  org.apache.spark.sql.connector.read.colstats.Histogram] =
                hist.map { h =>
                  java.util.Optional.of(
                    new org.apache.spark.sql.connector.read.colstats.Histogram {
                      override def height(): Double = h.height
                      override def bins(): Array[
                          org.apache.spark.sql.connector.read.colstats.HistogramBin] =
                        h.bins.map { b =>
                          new org.apache.spark.sql.connector.read.colstats.HistogramBin {
                            override def lo(): Double = b.lo
                            override def hi(): Double = b.hi
                            override def ndv(): Long = b.ndv
                          }: org.apache.spark.sql.connector.read.colstats.HistogramBin
                        }.toArray
                    }: org.apache.spark.sql.connector.read.colstats.Histogram)
                }.getOrElse(java.util.Optional.empty())
            })
        }
      }
      out
    }
  }
}

object ScbfScan {

  /** Lexicographic unsigned byte order — the utf8 bound domain
   * ([[ScbfStats.StrRange]]'s comparison convention). */
  val byteOrdering: Ordering[Array[Byte]] = (a: Array[Byte], b: Array[Byte]) => {
    var i = 0
    val n = math.min(a.length, b.length)
    var r = 0
    while (r == 0 && i < n) {
      r = (a(i) & 0xff) - (b(i) & 0xff)
      i += 1
    }
    if (r != 0) r else a.length - b.length
  }
}

/** One SCBF data file = one split. `key` is the file's typed partition
 * values (declared order) when the table's layout supports storage-
 * partitioned joins, else null — Spark reads it driver-side only, and
 * only under a reported `KeyGroupedPartitioning` (see
 * [[ScbfScan.outputPartitioning]]). */
case class ScbfFilePartition(path: String, length: Long, key: InternalRow = null)
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** A fully stats-answered aggregation: the partition carries the
 * result rows' values (one row global, one per live partition value
 * grouped); no file IO happens on the executor at all. */
case class ScbfAggPartition(schema: StructType, rows: Array[Array[Any]]) extends InputPartition

class ScbfPartitionReaderFactory(
    required: StructType, private[sources] val conf: Broadcast[SerializableConfiguration])
  extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean =
    partition.isInstanceOf[ScbfFilePartition]

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] =
    new ScbfColumnarReader(p.asInstanceOf[ScbfFilePartition], required, conf.value.value)

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = p match {
    case f: ScbfFilePartition => new ScbfRowReader(f, required, conf.value.value)
    case a: ScbfAggPartition  => new ScbfAggReader(a)
  }
}

/** Emits a pushed aggregation's pre-computed result rows. */
class ScbfAggReader(partition: ScbfAggPartition) extends PartitionReader[InternalRow] {
  private var i = -1
  override def next(): Boolean = { i += 1; i < partition.rows.length }
  override def get(): InternalRow = {
    val values = partition.rows(i)
    val row = new GenericInternalRow(values.length)
    values.indices.foreach(j => row.update(j, values(j)))
    row
  }
  override def close(): Unit = ()
}

/** Decoded required columns of one file, shared by both reader shapes.
 * The constructor closes the input on ANY decode failure — otherwise a
 * corrupt file would leak an open stream per task attempt. */
private[sources] class ScbfFileColumns(
    partition: ScbfFilePartition, required: StructType, conf: Configuration) {

  ScbfUtil.dataFileOpens.incrementAndGet()
  private val input = ScbfUtil.open(new Path(partition.path), conf)

  val (header: ScbfHeader, totalRows: Int, columns: Array[AnyRef]) =
    try {
      val hdr = ScbfReader.readHeader(input)
      require(hdr.totalRows <= Int.MaxValue, s"file ${partition.path} too many rows")
      val metaByName = ScbfReader.readMeta(input, hdr, partition.length)
        .map(m => m.name -> m).toMap
      val cols: Array[AnyRef] = required.fields.map { field =>
        // the _file_path METADATA column is a per-split constant — no
        // bytes decoded. Only a field MARKED as a metadata column
        // qualifies (a user-declared DATA column of the same name that
        // is missing from the file must keep failing loudly below, not
        // get fabricated paths), and a data column present in the file
        // wins either way.
        if (field.name == ScbfDataSource.FilePathCol &&
            field.metadata.contains("__metadata_col") &&
            !metaByName.contains(field.name)) {
          UTF8String.fromString(partition.path): AnyRef
        } else {
        val meta = metaByName.getOrElse(field.name, throw new ScbfFormatException(
          s"Column not found: ${field.name} in ${partition.path} " +
            s"(has: ${metaByName.keys.mkString(", ")})"))
        val expected = ScbfDataSource.scbfToSpark(ScbfSchema(Seq(ScbfColumn(field.name, meta.tpe))))
          .fields.head.dataType
        if (expected != field.dataType)
          throw new ScbfFormatException(
            s"Column ${field.name} in ${partition.path} is ${meta.tpe.typeName}, " +
              s"query expects ${field.dataType.simpleString}")
        (meta.tpe match {
          case ScbfType.Int32   => ScbfReader.readIntColumn(input, meta)
          case ScbfType.Float64 => ScbfReader.readDoubleColumn(input, meta)
          case ScbfType.Utf8    => ScbfReader.readUtf8Column(input, meta)
        }): AnyRef
        }
      }
      (hdr, hdr.totalRows.toInt, cols)
    } catch {
      case t: Throwable =>
        try input.close() catch { case suppressed: Throwable => t.addSuppressed(suppressed) }
        throw t
    }

  def close(): Unit = input.close()
}

/**
 * Emits the file as ColumnarBatches of at most `batchSize` rows. Decoding
 * happens once (whole columns, as the format dictates — blocks are
 * monolithic zlib streams); batching only slices the decoded arrays.
 */
class ScbfColumnarReader(
    partition: ScbfFilePartition,
    required: StructType,
    conf: Configuration,
    batchSize: Int = 1 << 16)
  extends PartitionReader[ColumnarBatch] {

  // not a lazy val: close() must not re-run a failed initializer
  private var decodedOpt: Option[ScbfFileColumns] = None
  private def decoded: ScbfFileColumns = {
    if (decodedOpt.isEmpty) decodedOpt = Some(new ScbfFileColumns(partition, required, conf))
    decodedOpt.get
  }
  private var cursor = 0
  private var batch: ColumnarBatch = _
  private var first = true

  override def next(): Boolean = {
    if (batch != null) { batch.close(); batch = null }
    // Emit at least one (possibly empty) batch so zero-column counts and
    // empty files still report their row count downstream.
    if (!first && cursor >= decoded.totalRows) return false
    first = false
    val n = math.min(batchSize, decoded.totalRows - cursor)
    val vectors: Array[ColumnVector] = required.fields.indices.map { i =>
      decoded.columns(i) match {
        // per-split constant (the _file_path metadata column): O(1)
        // storage per batch, the same vector Spark's own file-source
        // metadata columns ride
        case const: UTF8String =>
          val vec = new org.apache.spark.sql.execution.vectorized
            .ConstantColumnVector(math.max(n, 1), required.fields(i).dataType)
          vec.setUtf8String(const)
          vec: ColumnVector
        case other =>
          val vec = new OnHeapColumnVector(math.max(n, 1), required.fields(i).dataType)
          other match {
            case ints: Array[Int] => vec.putInts(0, n, ints, cursor)
            case doubles: Array[Double] => vec.putDoubles(0, n, doubles, cursor)
            case utf8: Utf8Raw =>
              var r = 0
              while (r < n) {
                val a = utf8.offsets(cursor + r)
                vec.putByteArray(r, utf8.blob, a, utf8.offsets(cursor + r + 1) - a)
                r += 1
              }
          }
          vec: ColumnVector
      }
    }.toArray
    batch = new ColumnarBatch(vectors, n)
    cursor += n
    true
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    if (batch != null) { batch.close(); batch = null }
    decodedOpt.foreach(_.close())
  }
}

/** Row-shaped fallback (Spark may request it when columnar is disabled). */
class ScbfRowReader(partition: ScbfFilePartition, required: StructType, conf: Configuration)
  extends PartitionReader[InternalRow] {

  // not a lazy val: close() must not re-run a failed initializer
  private var decodedOpt: Option[ScbfFileColumns] = None
  private def decoded: ScbfFileColumns = {
    if (decodedOpt.isEmpty) decodedOpt = Some(new ScbfFileColumns(partition, required, conf))
    decodedOpt.get
  }
  private var row = -1

  override def next(): Boolean = { row += 1; row < decoded.totalRows }

  override def get(): InternalRow = {
    val out = new GenericInternalRow(required.length)
    var i = 0
    while (i < required.length) {
      decoded.columns(i) match {
        case ints: Array[Int]       => out.setInt(i, ints(row))
        case doubles: Array[Double] => out.setDouble(i, doubles(row))
        case utf8: Utf8Raw =>
          val a = utf8.offsets(row)
          out.update(i, UTF8String.fromBytes(utf8.blob, a, utf8.offsets(row + 1) - a))
        // per-split constant (the _file_path metadata column)
        case const: UTF8String => out.update(i, const)
      }
      i += 1
    }
    out
  }

  override def close(): Unit = decodedOpt.foreach(_.close())
}
