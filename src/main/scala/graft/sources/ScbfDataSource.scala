package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsDelete, SupportsMetadataColumns, SupportsPartitionManagement, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.scbf._

/**
 * Spark DataSource V2 provider for the SCBF columnar format, registered
 * under the short name `"scbf"`:
 * {{{
 *   df.write.format("scbf").save(dir)
 *   spark.read.format("scbf").load(dir).select("id")   // prunes to id's blocks
 * }}}
 *
 * Design (SURVEY.md §1.6/§7): the reference's selective column read
 * (reference: reader.py:111-133) surfaces as Catalyst column pruning via
 * `SupportsPushDownRequiredColumns`; only the pruned columns' compressed
 * blocks are ever fetched or inflated. Files are NOT splittable (block
 * offsets are absolute and zlib streams contiguous), so parallelism is
 * one input partition per file — at scale a dataset is many moderate
 * files, the standard layout Spark writes anyway (one per task).
 */
class ScbfDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "scbf"

  override def supportsExternalMetadata(): Boolean = true

  /** Schema inference reads ONE file header, found by an early-exit
   * walk — never a full-table leaf LIST. Every SCBF file of a table
   * carries the full schema in its header, so the tree size is
   * irrelevant to inference; at 10⁶ files on an object store this is
   * the difference between milliseconds and minutes of driver time
   * before a single filter has even been seen. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // history=entries: the relation IS the discovery log (path
    // spelling only — a catalog table's relation output is its data
    // schema), so the inferred schema is the history row shape
    if (ScbfHistoryRead.requested(options)) return ScbfHistoryRead.schema
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val first = ScbfDataSource.findFirstFile(ScbfDataSource.paths(options), conf)
      .getOrElse(throw new ScbfFormatException(
        s"No .scbf files found at ${ScbfDataSource.paths(options).mkString(", ")}"))
    val base = ScbfDataSource.scbfToSpark(ScbfUtil.readHeader(first, conf).schema)
    // readChangeFeed: the relation is the table's rows PLUS the three
    // CDC metadata columns (_change_type, _commit_version,
    // _commit_timestamp) — Delta CDF's shape
    if (ScbfDataSource.changeFeedRequested(options)) {
      base.fieldNames.find(ScbfCdcStreamSupport.MetaNames).foreach(n =>
        throw new ScbfFormatException(
          s"readChangeFeed: the table already has a DATA column named $n — " +
            "the CDC metadata columns cannot be appended; rename the column."))
      StructType(base.fields ++ ScbfCdc.metaFields)
    } else base
  }

  /** No listing here AT ALL: file resolution is deferred to scan/write
   * build time, where the pushed partition filters can drive the
   * directory-first pruned walk ([[ScbfDataSource.resolveFilesPruned]])
   * — so resolving a catalog table is pure metadata work. */
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    new ScbfTable(ScbfDataSource.paths(options), schema, conf, partitioning,
      options)
  }
}

object ScbfDataSource {

  /** The `_file_path` metadata column's name (see
   * [[ScbfTable.metadataColumns]]). */
  val FilePathCol = "_file_path"

  /** `readChangeFeed=true` — the STREAM spelling of the CDC read
   * (see [[ScbfCdcMicroBatchStream]]). */
  def changeFeedRequested(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("readChangeFeed")).exists { v =>
      v.toBooleanOption.getOrElse(throw new ScbfFormatException(
        s"readChangeFeed must be true or false, got '$v'"))
    }

  /** Path options as DataFrameReader/Writer set them: single `path`, or
   * `paths` as a JSON string array. */
  def paths(options: CaseInsensitiveStringMap): Seq[String] = {
    val multi = Option(options.get("paths")).map { json =>
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      (0 until node.size()).map(node.get(_).asText())
    }.getOrElse(Seq.empty)
    val single = Option(options.get("path")).toSeq
    (single ++ multi).distinct
  }

  /** Expand each path: glob patterns honored, directories list their
   * `*.scbf` children (non-hidden), plain files taken as-is. */
  def resolveFiles(options: CaseInsensitiveStringMap): (Seq[FileStatus], Configuration) = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    (resolveFiles(paths(options), conf), conf)
  }

  /** Test hook (PlanningScale-style): how many full directory listings
   * were taken? The discovery-log streaming path pins this at zero for
   * incremental triggers. */
  val listings = new java.util.concurrent.atomic.AtomicLong(0)

  /** Path-based core of the listing — re-invoked by the streaming
   * source on baseline/reconcile triggers (incremental triggers read
   * the [[ScbfDiscovery]] log instead of re-listing): the unfiltered
   * [[resolveFilesPruned]]. */
  def resolveFiles(tablePaths: Seq[String], conf: Configuration): Seq[FileStatus] = {
    listings.incrementAndGet()
    resolveFilesPruned(tablePaths, conf, new StructType(), Seq.empty)
  }

  /** A LIVE data file's name: the `.scbf` extension, not hidden
   * ([[ScbfPartitions.isHidden]]: temps, sidecars and foreign files).
   * The one predicate for every leaf listing that scopes data, so a
   * rewrite never takes as a victim a file its re-read would drop as
   * hidden. */
  def isDataFile(p: Path): Boolean =
    p.getName.endsWith(Scbf.FileExtension) && !ScbfPartitions.isHidden(p.getName)

  /** ONE data file — what schema inference needs (every file's header
   * carries the full schema): the first of [[dataFilesLazily]]. */
  def findFirstFile(tablePaths: Seq[String], conf: Configuration): Option[FileStatus] =
    dataFilesLazily(tablePaths, conf).nextOption()

  /** The data files of the lazy [[ScbfPartitions.walk]], which lists a
   * directory only once the iterator reaches it — a caller that stops
   * at the first file it can use lists nothing further. A directory's
   * walk ends with its first clone ref: a fresh clone holds no local
   * data files, and every SCBF file carries the schema. */
  def dataFilesLazily(tablePaths: Seq[String], conf: Configuration): Iterator[FileStatus] =
    tablePaths.iterator.flatMap { p =>
      val hp = new Path(p)
      Option(hp.getFileSystem(conf).globStatus(hp)).map(_.toSeq).getOrElse(Seq.empty)
        .sortBy(_.getPath.toString).iterator.flatMap {
          case d if d.isDirectory =>
            ScbfPartitions.walk(d.getPath, conf).flatMap(_.dataFiles) ++
              ScbfClone.firstRef(d.getPath, conf)
          case f if ScbfPartitions.isHidden(f.getPath.getName) => None
          case f                                               => Some(f)
        }
    }

  /** Expand each path for scan planning: glob patterns honored,
   * directories walk through [[ScbfPartitions.walk]] with the
   * partition-cell prune, plain files taken as-is. A pruned
   * partition's directory is never listed, so a partition-pruned read
   * of a 10⁶-file table lists the root plus the touched partitions
   * only. A SHALLOW CLONE directory's data is its ref list (pruned by
   * the refs' SOURCE-rooted cells, [[ScbfClone.resolvePruned]]) ∪ its
   * own files; detection reads the root's own listing, so a non-clone
   * table pays no extra RPC for the feature. Output is path-sorted. */
  def resolveFilesPruned(tablePaths: Seq[String], conf: Configuration,
      schema: StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter]): Seq[FileStatus] = {
    val keep = ScbfPartitions.cellPrune(schema, filters,
      ScbfPartitions.qualifiedRoots(tablePaths, conf))
    val statuses = tablePaths.flatMap { p =>
      val hp = new Path(p)
      val globbed = Option(hp.getFileSystem(conf).globStatus(hp)).map(_.toSeq)
        .getOrElse(Seq.empty)
      globbed.flatMap {
        case d if d.isDirectory =>
          val tree = ScbfPartitions.walk(d.getPath, conf, keep).toSeq
          val refs =
            if (tree.head.children.exists(c => c.isFile &&
                c.getPath.getName == ScbfClone.RefFile))
              ScbfClone.resolvePruned(d.getPath, conf, schema, filters)
            else Seq.empty
          refs ++ tree.flatMap(_.dataFiles)
        case f if ScbfPartitions.isHidden(f.getPath.getName) => Seq.empty
        case f                                               => Seq(f)
      }
    }
    statuses.sortBy(_.getPath.toString)
  }

  def scbfToSpark(schema: ScbfSchema): StructType =
    StructType(schema.columns.map { c =>
      // nullable=false: the format has no null representation (SURVEY §1.2)
      StructField(c.name, c.tpe match {
        case ScbfType.Int32   => IntegerType
        case ScbfType.Float64 => DoubleType
        case ScbfType.Utf8    => StringType
      }, nullable = false)
    })

  def sparkToScbf(schema: StructType): ScbfSchema =
    ScbfSchema(schema.fields.toSeq.map { f =>
      ScbfColumn(f.name, f.dataType match {
        case IntegerType => ScbfType.Int32
        case DoubleType  => ScbfType.Float64
        case StringType  => ScbfType.Utf8
        case other => throw new ScbfFormatException(
          s"SCBF cannot store column '${f.name}' of type ${other.simpleString}: " +
            "only int (int32), double (float64) and string (utf8) are representable. " +
            "Cast or drop the column before writing.")
      })
    })
}

class ScbfTable(
    tablePaths: Seq[String],
    schema: StructType,
    conf: Configuration,
    partitionTransforms: Array[Transform] = Array.empty,
    tableProps: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
  extends Table with SupportsRead with SupportsWrite with SupportsDelete
  with SupportsRowLevelOperations with SupportsPartitionManagement
  with SupportsMetadataColumns {

  override def partitioning(): Array[Transform] = partitionTransforms

  /** Set only on the read-only rendering a catalog time-travel load
   * produces (`TIMESTAMP AS OF` → GraftCatalog.loadTable(ident, ts));
   * every mutation surface refuses on it — the past is immutable. */
  private def travelledAsOf: Option[Long] =
    Option(tableProps.get("asOfTimestamp")).map(_.toLong)

  private def refuseMutationIfTravelled(op: String): Unit =
    travelledAsOf.foreach { ts =>
      throw new ScbfFormatException(
        s"$op on a TIMESTAMP AS OF ($ts) rendering of ${name()}: a " +
          "time-travelled relation is read-only. Run the statement " +
          "against the live table instead.")
    }

  /** `TBLPROPERTIES('cdc'='true')` — the SQL spelling of
   * [[ScbfCdc.enable]]: materialized as the on-disk marker the
   * mutation commits probe, at the first mutation-capable entry
   * point (a lazy val: once per table instance). Best-effort — a
   * mutation must not fail over CDC plumbing; a lost enable surfaces
   * as a loud CDC-read refusal, never as wrong rows. */
  private lazy val cdcFromProps: Unit =
    if (Option(tableProps.get("cdc")).exists(_.equalsIgnoreCase("true")))
      tablePaths match {
        case Seq(one) =>
          try ScbfCdc.enable(new Path(one), conf)
          catch { case scala.util.control.NonFatal(_) => () }
        case _ => ()
      }

  /** Filter-driven deferred listing — the table NEVER lists eagerly
   * (resolution is pure metadata work); each scan/rewrite lists at
   * build time through the directory-first pruned walk, driven by its
   * own pushed filters. */
  private[sources] def listFiles(
      filters: Seq[org.apache.spark.sql.sources.Filter]): Seq[FileStatus] =
    ScbfDataSource.resolveFilesPruned(tablePaths, conf, schema, filters)

  /** `_file_path` — the absolute path of the SCBF data file each row
   * came from, surfaced only when explicitly selected (never in
   * `SELECT *`). The 100 TB lineage/incident primitive: a bad row's
   * `_file_path` turns "somewhere in the table" into one file, which
   * the takedown path (DELETE, OPTIMIZE of one partition) can then
   * target. Served as a per-split constant by the readers — zero
   * decode cost. A DATA column of the same name wins (Spark excludes
   * conflicting metadata columns, and the readers prefer the file's
   * own column). */
  override def metadataColumns(): Array[MetadataColumn] =
    // the history relation's rows come from LOG entries, not data
    // files — advertising _file_path there would resolve a column the
    // history scan cannot produce (a confusing planner mismatch
    // instead of Spark's clean unresolved-column error)
    if (ScbfHistoryRead.requested(tableProps)) Array.empty
    else Array(
      new MetadataColumn {
        override def name: String = ScbfDataSource.FilePathCol
        override def dataType: DataType = StringType
        override def comment: String =
          "absolute path of the SCBF data file this row was read from"
      })

  /** SQL UPDATE / MERGE INTO / subquery-DELETE via group-based
   * copy-on-write (see [[ScbfRowLevelOperation]]). Filter-translatable
   * DELETEs still take the stats-scoped [[ScbfDelete]] path — Spark's
   * OptimizeMetadataOnlyDeleteFromTable converts them back because
   * [[canDeleteWhere]] accepts them. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    refuseMutationIfTravelled("row-level SQL (UPDATE/MERGE/DELETE)")
    cdcFromProps
    val dir = tablePaths match {
      case Seq(one) => one
      case other => throw new ScbfFormatException(
        s"SCBF row-level SQL requires exactly one table path, got: $other")
    }
    ScbfClone.refuseIfClone(new Path(dir), conf, "row-level SQL (UPDATE/MERGE/DELETE)")
    new ScbfRowLevelOperationBuilder(this, dir, listFiles, schema, conf,
      ScbfPartitions.partitionCols(partitionTransforms, schema), info,
      ScbfPartitions.bucketSpec(partitionTransforms, schema))
  }

  private def partitionColNames: Seq[String] =
    partitionTransforms.toSeq
      .flatMap(_.references().toSeq.flatMap(_.fieldNames().toSeq))

  /** DELETE FROM ... WHERE — stats-scoped rewrite (see ScbfDelete).
   * Partitioned tables route through [[ScbfDelete.deleteWhereTable]]:
   * the FULL condition is enforced by every per-directory rewrite
   * (partition columns are stored in the data files), partition
   * pruning is a pure optimization, and replacements re-announce to
   * the root discovery log so root streams keep the onChangeCommit
   * semantics — so the accepted predicate surface is identical to the
   * flat-directory case. */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    tablePaths.size == 1 && ScbfDelete.canDelete(filters) &&
      // data columns, plus the _file_path metadata column: its
      // predicates decide per file EXACTLY (the column IS the file's
      // path — Pruner path evidence), so `DELETE WHERE _file_path='…'`
      // is a zero-read whole-file drop on this path, and a mixed
      // condition's exact rewrite resolves _file_path as a metadata
      // column on the re-read. Any OTHER non-schema reference routes
      // to the row-level copy-on-write plan.
      filters.flatMap(_.references).forall(r =>
        schema.fieldNames.contains(r) || r == ScbfDataSource.FilePathCol)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    refuseMutationIfTravelled("DELETE")
    cdcFromProps
    tablePaths.foreach(p => ScbfClone.refuseIfClone(new Path(p), conf, "DELETE"))
    if (partitionTransforms.isEmpty) {
      ScbfDelete.deleteWhere(SparkSession.active, tablePaths.head, conf, filters)
      ()
    } else ScbfDelete.deleteWhereTable(SparkSession.active, tablePaths.head,
      conf, schema, filters,
      parallelism = graft.GraftConf.int(SparkSession.active,
        graft.GraftConf.SweepParallelism, 8))
  }

  override def name(): String = s"scbf:${tablePaths.mkString(",")}"

  // ---- SupportsPartitionManagement: SHOW PARTITIONS, ALTER TABLE
  // ADD/DROP PARTITION, TRUNCATE TABLE ... PARTITION. A partition IS
  // its k=v directory (no metastore to sync — see ScbfPartitionMgmt);
  // DROP/TRUNCATE announce removal entries to the root discovery log
  // first (the metadata-only DELETE record), so streams keep their
  // onChangeCommit semantics, and TRUNCATE leaves a 0-row keeper (the
  // readable-empty-table contract). Multi-partition ALTER statements
  // need the atomic interface (deliberately not claimed: a directory
  // loop is not atomic); Spark's error says to go one at a time.

  private def pmRoot: Path = {
    require(tablePaths.size == 1 && partitionTransforms.nonEmpty,
      s"partition management needs one partitioned table path, got $tablePaths")
    val r = new Path(tablePaths.head)
    val q = r.getFileSystem(conf).makeQualified(r)
    // a branch's partitions are the SOURCE's: dropping/truncating one
    // here would sweep only the clone-local files while the refs into
    // the source partition survive (a silently half-dropped
    // partition), and SHOW PARTITIONS over the local tree alone would
    // omit every ref-only partition — partition management stays a
    // source-table operation (reads, appends and partition PRUNING are
    // the branch contract)
    if (ScbfClone.isClone(q, conf))
      throw new graft.scbf.ScbfFormatException(
        s"partition management on $q: the table is a SHALLOW CLONE — its " +
          "partitions live in the SOURCE table (the refs carry the k=v " +
          "layout; only local appends sit under the clone root). Manage " +
          "partitions on the source, or materialize the branch with CTAS " +
          "first.")
    q
  }

  override def partitionSchema(): StructType =
    StructType(partitionColNames.map(n => schema.fields(schema.fieldIndex(n))))

  override def createPartition(ident: InternalRow,
      props: java.util.Map[String, String]): Unit = {
    // a custom LOCATION would detach the partition from the k=v tree
    // the scan/write/maintenance paths all walk — refuse loudly
    // rather than silently planting it in the default directory
    require(!props.containsKey("location"),
      s"SCBF partitions live under the table root's k=v layout; " +
        s"a custom partition LOCATION (${props.get("location")}) is not supported")
    val qroot = pmRoot
    val fs = qroot.getFileSystem(conf)
    val d = ScbfPartitionMgmt.dirOf(qroot, partitionSchema(), ident)
    if (fs.exists(d))
      throw new org.apache.spark.sql.catalyst.analysis.PartitionsAlreadyExistException(
        name(), ident, partitionSchema())
    fs.mkdirs(d)
    // the keeper makes the fresh partition a readable standalone SCBF
    // directory immediately (schema lives in file headers)
    ScbfUtil.writeEmptyScbf(fs, d, schema, "pm-keeper-",
      announceRoot = Some(qroot))
    ()
  }

  override def dropPartition(ident: InternalRow): Boolean = {
    val qroot = pmRoot
    val fs = qroot.getFileSystem(conf)
    val d = ScbfPartitionMgmt.dirOf(qroot, partitionSchema(), ident)
    if (!fs.exists(d)) false
    else {
      ScbfPartitionMgmt.announceRemoval(qroot, d, conf)
      fs.delete(d, true)
      true
    }
  }

  override def truncatePartition(ident: InternalRow): Boolean = {
    val qroot = pmRoot
    val fs = qroot.getFileSystem(conf)
    val d = ScbfPartitionMgmt.dirOf(qroot, partitionSchema(), ident)
    if (!fs.exists(d))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchPartitionException(
        name(), ident, partitionSchema())
    ScbfPartitionMgmt.announceRemoval(qroot, d, conf)
    // keeper FIRST (no unreadable window), then remove the data files
    // + sidecars and drop their manifest entries in one merge cycle
    val victims = ScbfDataSource.resolveFiles(Seq(d.toString), conf)
    ScbfUtil.writeEmptyScbf(fs, d, schema, "pm-keeper-",
      announceRoot = Some(qroot))
    ScbfRewrite.removeVictims(fs, victims.map(_.getPath), retainAt = None)
    ScbfRewrite.dropFromManifests(conf, victims.map(_.getPath))
    true
  }

  /** `RENAME PARTITION` is a documented DECLINE: SCBF stores partition
   * columns IN the data files (that is what makes every partition
   * directory a complete standalone table, and what lets partition
   * predicates evaluate as ordinary column predicates), so a
   * directory rename would leave stored values contradicting the
   * path — `WHERE grp = '<new>'` would match nothing. Changing a
   * partition VALUE is a row rewrite by definition here; the
   * copy-on-write SQL path already does exactly that, routing rows
   * to their new directory. */
  override def renamePartition(from: InternalRow, to: InternalRow): Boolean =
    throw new UnsupportedOperationException(
      "SCBF stores partition values in the data files, so renaming a " +
        "partition is a row rewrite, not a directory move. Run " +
        "UPDATE <table> SET <partition-col> = <new value> WHERE " +
        "<partition-col> = <old value> — copy-on-write moves the rows " +
        "to their new directory and announces the change to streams.")

  override def replacePartitionMetadata(ident: InternalRow,
      props: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "SCBF partitions carry no partition-level metadata (the k=v " +
        "directory is the partition)")

  override def loadPartitionMetadata(ident: InternalRow)
      : java.util.Map[String, String] =
    java.util.Collections.emptyMap()

  override def listPartitionIdentifiers(names: Array[String],
      ident: InternalRow): Array[InternalRow] = {
    val qroot = pmRoot
    ScbfPartitionMgmt.listIdents(qroot, qroot.getFileSystem(conf),
      partitionSchema(), names, ident)
  }

  override def schema(): StructType = schema

  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // distributed history relation (ScbfHistoryRead): the scan output
    // is log ENTRIES, parsed executor-side, one partition per delta
    if (ScbfHistoryRead.requested(options)) {
      if (Seq("asOfTimestamp", "changesSince", "changesSinceVersion",
          "changesUntil", "changesUntilVersion", "readChangeFeed")
          .exists(k => Option(options.get(k)).nonEmpty))
        throw new ScbfFormatException(
          "history=entries is its own relation (the log's rows) — " +
            "asOfTimestamp/changesSince[Version]/changesUntil[Version]/" +
            "readChangeFeed read the TABLE; set one or the other.")
      // a CATALOG table's relation output is its data schema (fixed at
      // load), so the option only composes with the PATH spelling —
      // refusing here beats a confusing schema-mismatch error later
      if (schema != ScbfHistoryRead.schema)
        throw new ScbfFormatException(
          "history=entries is a PATH read: spark.read.format(\"scbf\")" +
            ".option(\"history\", \"entries\").load(<table directory>) — " +
            "a catalog table's relation carries its data schema, which " +
            "cannot also be the history rows.")
      val root = tablePaths match {
        case Seq(one) => one
        case other => throw new ScbfFormatException(
          s"history=entries needs exactly one table directory, got: $other")
      }
      val p = new Path(root)
      return new ScbfHistoryScanBuilder(
        p.getFileSystem(conf).makeQualified(p), conf)
    }
    val maxFiles = Option(options.get("maxFilesPerTrigger")).map(_.toInt)
    val compactInterval = Option(options.get("compactInterval")).map(_.toInt)
      .getOrElse(ScbfMicroBatchStream.DefaultCompactInterval)
    // duration strings ("7d", "12h", bare ms) via Spark's own parser
    val maxFileAge = Option(options.get("maxFileAge"))
      .map(org.apache.spark.network.util.JavaUtils.timeStringAsMs)
    // escape hatch + fallback-parity testing: stats-answered aggregate
    // pushdown (ScbfAgg) can be disabled per read
    val aggPushdown = Option(options.get("aggPushdown")).forall(_.toBoolean)
    // discovery-log streaming: every Nth trigger re-lists the directory
    // (0 = never; 1 = list every trigger, i.e. disable the log path)
    val reconcileEvery = Option(options.get("reconcileEvery")).map(_.toInt)
      .getOrElse(ScbfMicroBatchStream.DefaultReconcileEvery)
    // what a caught-up stream does with DELETE/UPDATE replacement
    // files: skip (default, no-CDC) | deliver | fail — see
    // ScbfMicroBatchStream.DefaultOnChangeCommit
    val onChangeCommit = Option(options.get("onChangeCommit"))
      .map(_.toLowerCase(java.util.Locale.ROOT))
      .getOrElse(ScbfMicroBatchStream.DefaultOnChangeCommit)
    // time travel: `asOfTimestamp` (epoch millis) resolves the file
    // set from the discovery log's version chain (ScbfDiscovery
    // .filesAsOf — loud refusals for unrecorded or swept history) and
    // plans it EAGERLY: stats pruning still applies per file, but
    // aggregate pushdown is disabled (manifests describe the present
    // table, not the past one)
    // the option spelling (DataFrame reads) or the table-level pin a
    // catalog time-travel load planted (SQL `TIMESTAMP AS OF`,
    // GraftCatalog.loadTable(ident, timestamp)) — same plan either way
    val asOfOpt = Option(options.get("asOfTimestamp"))
      .orElse(Option(tableProps.get("asOfTimestamp"))).map(_.toLong)
    // row-level CHANGE FEED: `changesSince` (epoch millis) or
    // `changesSinceVersion` (commit ordinal) mark the EXCLUSIVE start;
    // `changesUntil`/`changesUntilVersion` the INCLUSIVE end (default:
    // everything since). Resolved to a file set by ScbfDiscovery
    // .changedFilesBetween and planned eagerly like AS OF — stats
    // pruning still applies per file; manifest-served aggregate
    // pushdown is off (manifests describe the present table, not a
    // window). `onChangeCommit` gates in-window rewrites — note the
    // feed DEFAULTS to fail (a resync primitive must not silently
    // drop), unlike the stream's skip.
    val sinceMs = Option(options.get("changesSince")).map(_.toLong)
    val sinceV = Option(options.get("changesSinceVersion")).map(_.toInt)
    val untilMs = Option(options.get("changesUntil")).map(_.toLong)
    val untilV = Option(options.get("changesUntilVersion")).map(_.toInt)
    // STREAM entry into the feed (Delta's spelling): a readStream that
    // begins at a recorded point instead of the table's full state —
    // `startingVersion` (exclusive commit ordinal, the feed's
    // changesSinceVersion semantics) or `startingTimestamp` (epoch
    // millis, exclusive). Resolved at stream planning through the same
    // bounded replay; the first trigger delivers exactly the post-point
    // files and marks everything older seen-without-delivery, then
    // normal incremental discovery takes over.
    // feedReconcile=false skips the O(listing) bypassed-producer trust
    // check — read by BOTH feed spellings (the batch window below and
    // the stream's startingVersion baseline)
    val feedReconcile = Option(options.get("feedReconcile")).forall { v =>
      v.toBooleanOption.getOrElse(throw new ScbfFormatException(
        s"feedReconcile must be true or false, got '$v'"))
    }
    val startV = Option(options.get("startingVersion")).map(_.toInt)
    val startMs = Option(options.get("startingTimestamp")).map(_.toLong)
    if (startV.nonEmpty && startMs.nonEmpty)
      throw new ScbfFormatException(
        "set ONE of startingVersion / startingTimestamp, not both.")
    if ((startV.nonEmpty || startMs.nonEmpty) &&
        (sinceMs.nonEmpty || sinceV.nonEmpty))
      throw new ScbfFormatException(
        "startingVersion/startingTimestamp are the STREAM entry into the " +
          "feed; changesSince[Version] is the batch one — set one or the " +
          "other.")
    val streamStart: Option[Either[Long, Int]] =
      startMs.map(Left(_)).orElse(startV.map(Right(_)))
    // CDC STREAM (readChangeFeed=true): the per-trigger spelling of
    // TABLE CHANGES — rows + _change_type/_commit_version/
    // _commit_timestamp per trigger (see ScbfCdcMicroBatchStream).
    // startingVersion/startingTimestamp pick the entry point; batch
    // execution refuses at Scan.toBatch, naming the batch cures.
    if (ScbfDataSource.changeFeedRequested(options)) {
      if (sinceMs.nonEmpty || sinceV.nonEmpty)
        throw new ScbfFormatException(
          "readChangeFeed (the stream CDC read) and changesSince[Version] " +
            "(the batch rows-added feed) cannot combine — a batch CDC " +
            "window is spelled TABLE CHANGES / ScbfCdc.changes.")
      if (asOfOpt.nonEmpty)
        throw new ScbfFormatException(
          "readChangeFeed and asOfTimestamp cannot combine — a change " +
            "stream has no single frozen instant.")
      if (untilMs.nonEmpty || untilV.nonEmpty)
        throw new ScbfFormatException(
          "readChangeFeed and changesUntil[Version] cannot combine — a " +
            "stream has no end point (silently ignoring the bound would " +
            "run past it); for a bounded window use TABLE CHANGES / " +
            "ScbfCdc.changes in batch.")
      if (!ScbfCdcStreamSupport.MetaNames.subsetOf(schema.fieldNames.toSet))
        throw new ScbfFormatException(
          "readChangeFeed is a PATH read: spark.readStream.format(\"scbf\")" +
            ".option(\"readChangeFeed\", \"true\").load(<table directory>) — " +
            "a catalog table's relation carries its data schema, which " +
            "cannot also carry the CDC metadata columns.")
      val rootDir = tablePaths match {
        case Seq(one) => one
        case other => throw new ScbfFormatException(
          s"readChangeFeed needs exactly one table directory, got: $other")
      }
      // SHALLOW CLONE: allowed — the stream serves the branch's own
      // post-clone commits (default start = latest; an explicit start
      // before the branch point refuses in the enumeration)
      val cdcReconcile = Option(options.get("cdcReconcile")).exists { v =>
        v.toBooleanOption.getOrElse(throw new ScbfFormatException(
          s"cdcReconcile must be true or false, got '$v'"))
      }
      // every-Nth-trigger cadence for the bypassed-producer audit —
      // the long-lived-mirror middle ground between per-trigger
      // cdcReconcile (a table listing every trigger) and none (trust
      // the connector-only pipeline forever); same knob shape as the
      // main stream's reconcileEvery
      val cdcReconcileEvery = Option(options.get("cdcReconcileEvery"))
        .map { v =>
          val n = v.toIntOption.getOrElse(throw new ScbfFormatException(
            s"cdcReconcileEvery must be a positive integer, got '$v'"))
          if (n <= 0) throw new ScbfFormatException(
            s"cdcReconcileEvery must be positive, got $n")
          n
        }
      return new ScbfCdcScanBuilder(schema, rootDir, conf, streamStart,
        maxFiles, cdcReconcile, cdcReconcileEvery)
    }
    if ((sinceMs.isEmpty && sinceV.isEmpty) &&
        (untilMs.nonEmpty || untilV.nonEmpty))
      throw new ScbfFormatException(
        "changesUntil[Version] needs a start point — set changesSince " +
          "(epoch millis) or changesSinceVersion (commit ordinal).")
    if (sinceMs.nonEmpty && sinceV.nonEmpty)
      throw new ScbfFormatException(
        "set ONE of changesSince / changesSinceVersion, not both.")
    if (untilMs.nonEmpty && untilV.nonEmpty)
      throw new ScbfFormatException(
        "set ONE of changesUntil / changesUntilVersion, not both.")
    if ((sinceMs.nonEmpty || sinceV.nonEmpty) && asOfOpt.nonEmpty)
      throw new ScbfFormatException(
        "changesSince[Version] and asOfTimestamp are different reads — a " +
          "window of added rows vs a full rendering at one instant; set one.")
    if (streamStart.nonEmpty && asOfOpt.nonEmpty)
      throw new ScbfFormatException(
        "startingVersion/startingTimestamp (a stream's entry point) and " +
          "asOfTimestamp (a frozen batch rendering) cannot combine — set one.")
    if (sinceMs.nonEmpty || sinceV.nonEmpty) {
      val root = tablePaths match {
        case Seq(one) => one
        case other => throw new ScbfFormatException(
          s"changesSince needs exactly one table directory, got: $other")
      }
      val p = new Path(root)
      val qroot = p.getFileSystem(conf).makeQualified(p)
      val feedPolicy = Option(options.get("onChangeCommit"))
        .map(_.toLowerCase(java.util.Locale.ROOT)).getOrElse("fail")
      // LAZY window resolution — ALL of it: a stream must hit
      // ScbfScan's clean "changesSince[Version] is batch-only"
      // refusal, not a policy gate, a versionTs refusal (a folded
      // ordinal resolving a version spelling is a DELTA READ), or the
      // clone probe fired during stream planning — so the eager part
      // here is only the PRESENCE of a window (and its raw spelling,
      // for the plan description); bounds, the clone check and the
      // replay all resolve at batch build time, once per scan builder.
      lazy val bounds: (Long, Long) = {
        if (ScbfClone.isClone(p, conf))
          throw new ScbfFormatException(
            s"changesSince on $root: the table is a SHALLOW CLONE — it records " +
              "no version chain of its own (the ref list IS the branch " +
              "point). Feed from the SOURCE table; the clone's own history " +
              "begins with its first append.")
        val lo = sinceMs.getOrElse(
          ScbfDiscovery.versionTs(qroot, conf, sinceV.get))
        val hi = untilMs.orElse(
          untilV.map(v => ScbfDiscovery.versionTs(qroot, conf, v)))
          .getOrElse(Long.MaxValue)
        (lo, hi)
      }
      lazy val feedFiles = ScbfDiscovery.changedFilesBetween(qroot, conf,
        bounds._1, bounds._2, feedPolicy, feedReconcile)
      val feedDisplay = sinceMs.map(m => s"since ts $m")
        .getOrElse(s"since version ${sinceV.get}") +
        untilMs.map(m => s", until ts $m")
          .orElse(untilV.map(v => s", until version $v")).getOrElse("")
      val roots = ScbfPartitions.qualifiedRoots(tablePaths, conf)
      return new ScbfScanBuilder(schema, Seq.empty, conf, tablePaths,
        aggPushdown = false, feed = Some(feedDisplay),
        listFilesOpt = Some(filters =>
          ScbfPartitions.prune(feedFiles, schema, filters, roots)),
        partitionCols = ScbfPartitions.partitionCols(partitionTransforms, schema))
    }
    asOfOpt match {
      case Some(ts) =>
        val root = tablePaths match {
          case Seq(one) => one
          case other => throw new ScbfFormatException(
            s"asOfTimestamp needs exactly one table directory, got: $other")
        }
        // a clone has no chain of its own (the refs ARE a frozen AS OF
        // rendering of the source) — the generic no-log/unannounced
        // refusals would mislead, so name the clone contract directly
        if (ScbfClone.isClone(new Path(root), conf))
          throw new ScbfFormatException(
            s"asOfTimestamp=$ts on $root: the table is a SHALLOW CLONE — " +
              "it IS a frozen rendering (its ref list is the branch " +
              "point) and records no version chain of its own. Time " +
              "travel the SOURCE table, or create another clone " +
              "[TIMESTAMP|VERSION] AS OF the point you need.")
        val asOfFiles = ScbfDiscovery.filesAsOf(new Path(root), conf, ts,
          ScbfDataSource.resolveFiles(Seq(root), conf))
        new ScbfScanBuilder(schema, asOfFiles, conf, tablePaths,
          aggPushdown = false, asOf = Some(ts),
          partitionCols = ScbfPartitions.partitionCols(partitionTransforms, schema))
      case None =>
        new ScbfScanBuilder(schema, Seq.empty, conf, tablePaths, maxFiles, compactInterval,
          maxFileAge, aggPushdown, reconcileEvery, onChangeCommit,
          ScbfPartitions.partitionCols(partitionTransforms, schema),
          listFilesOpt = Some(listFiles),
          bucketSpec = ScbfPartitions.bucketSpec(partitionTransforms, schema),
          streamStart = streamStart, feedReconcile = feedReconcile)
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    refuseMutationIfTravelled("write")
    cdcFromProps
    val dir = tablePaths match {
      case Seq(one) => one
      case other => throw new ScbfFormatException(
        s"SCBF write requires exactly one output path, got: $other")
    }
    ScbfDataSource.sparkToScbf(info.schema()) // fail fast on unsupported types
    // write option > table property (TBLPROPERTIES) > default — so a
    // catalog table can set its buffering/roll policy once in DDL
    val maxBuf = Option(info.options.get("maxBufferedBytes"))
      .orElse(Option(tableProps.get("maxBufferedBytes"))).map(_.toLong)
      .getOrElse(ScbfWrite.DefaultMaxBufferedBytes)
    require(maxBuf > 0, s"maxBufferedBytes must be positive, got $maxBuf")
    // per-column bloom sidecar cap (0 disables — see ScbfBloom); rides
    // the task-bound Hadoop conf so no writer signature changes. The
    // conf is copied: a write option must not leak into other writes
    // sharing this session's conf.
    val wconf0 = Option(info.options.get("bloomMaxBytes")).map(_.toInt) match {
      case Some(cap) =>
        require(cap >= 0, s"bloomMaxBytes must be >= 0, got $cap")
        val c = new Configuration(conf); c.setInt(ScbfBloom.MaxBytesKey, cap); c
      case None => conf
    }
    // histogram bin count (0 disables collection) — same conf-copy ride
    val wconf1 = Option(info.options.get("histogramBins"))
      .orElse(Option(tableProps.get("histogramBins"))).map(_.toInt) match {
      case Some(bins) =>
        require(bins >= 0, s"histogramBins must be >= 0, got $bins")
        val c = new Configuration(wconf0); c.setInt(ScbfHistogram.BinsKey, bins); c
      case None => wconf0
    }
    // string top-K size (0 disables collection) — same conf-copy ride
    val wconf2 = Option(info.options.get("topkK"))
      .orElse(Option(tableProps.get("topkK"))).map(_.toInt) match {
      case Some(k) =>
        require(k >= 0, s"topkK must be >= 0, got $k")
        val c = new Configuration(wconf1); c.setInt(ScbfStrTopK.KKey, k); c
      case None => wconf1
    }
    // zlib level for data blocks (GraftConf.ScbfDeflateLevel): write
    // option > table property > SESSION conf > default. Resolved
    // DRIVER-SIDE here because the table's Configuration is the
    // application-level hadoopConfiguration — session confs never land
    // in it — then rides the task-bound conf like the knobs above.
    // Default (-1 = zlib level 6) adds nothing to the conf: the
    // default byte path is untouched.
    val wconf = Option(info.options.get("deflateLevel"))
      .orElse(Option(tableProps.get("deflateLevel"))).map(_.toInt)
      .orElse(Option(graft.GraftConf.int(SparkSession.active,
        graft.GraftConf.ScbfDeflateLevel,
        java.util.zip.Deflater.DEFAULT_COMPRESSION))) match {
      case Some(l) if l != java.util.zip.Deflater.DEFAULT_COMPRESSION =>
        require(l >= 0 && l <= 9,
          s"deflateLevel must be -1 (zlib default) or 0..9, got $l")
        val c = new Configuration(wconf2)
        c.setInt(graft.GraftConf.ScbfDeflateLevel, l); c
      case _ => wconf2
    }
    // concurrent-writer contract knobs (ScbfDelete / ScbfMaintenance):
    // filePrefix marks this job's output so a rewrite can tell its own
    // files from a concurrent append's; replaceFileNames scopes an
    // overwrite's deletion to an explicit snapshot so files published
    // AFTER the snapshot survive the commit instead of being destroyed
    // whitelist, not a blocklist: both values are embedded verbatim in
    // tab-separated stats-manifest/sidecar lines (a tab or newline would
    // tear those) and replaceFileNames rides a comma-joined CSV — a
    // character outside the portable-filename set fails HERE, at the
    // option, not three layers later as a mysteriously-disabled skip
    val prefix = Option(info.options.get("filePrefix"))
    prefix.foreach(p => require(
      p.matches("[A-Za-z0-9_-][A-Za-z0-9._-]*"),
      s"filePrefix must match [A-Za-z0-9_-][A-Za-z0-9._-]* (no leading dot), got '$p'"))
    val replaceOnly = Option(info.options.get("replaceFileNames"))
      .map(_.split(",").filter(_.nonEmpty).toSet)
    replaceOnly.foreach(_.foreach(n => require(
      n.matches("[A-Za-z0-9._-]+"),
      s"replaceFileNames entry must match [A-Za-z0-9._-]+, got '$n'")))
    // announce-only rewrite marking for appends that REPLACE files the
    // caller deletes itself (DELETE/UPDATE's rewrite rounds): the
    // published files' discovery entries carry these names as
    // Entry.rewriteOf so log-path streams treat them as rewrites, but
    // nothing here deletes anything — deletion stays with the caller
    val rewriteOf = Option(info.options.get("rewriteOfNames"))
      .map(_.split(",").filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
    rewriteOf.foreach(n => require(
      n.matches("[A-Za-z0-9._-]+"),
      s"rewriteOfNames entry must match [A-Za-z0-9._-]+, got '$n'"))
    // CDC capture tag (ScbfCdc): a mutation's replacement append marks
    // its discovery entries with the `.scbf.cdc/<tag>/` area where it
    // retained victims and materialized change rows. Same embed rules
    // as the names above (rides a tab-separated log line).
    val cdcTag = Option(info.options.get("cdcTag"))
    cdcTag.foreach(t => require(t.matches("[a-z]+-[A-Za-z0-9-]+"),
      s"cdcTag must match <kind>-<id>, got '$t'"))
    // table root the CDC area lives under — per-partition maintenance
    // rewrites write to the partition directory but retain at the root
    val cdcRoot = Option(info.options.get("cdcRoot"))
    // OCC snapshot instant a snapshot rewrite planned at (internal —
    // ScbfMaintenance passes it; checked at the overwrite's commit)
    val occSnapTs = Option(info.options.get("occSnapTs")).map(_.toLong)
    // identity-transform partition columns route rows to col=value/
    // subdirectories, an optional bucket(n, intCol) transform to
    // <col>_bucket=<id>/ below them (ScbfPartitions); validated
    // against the WRITE schema so a bad DDL fails here, not per-task
    val partCols = ScbfPartitions.partitionCols(partitionTransforms, info.schema())
    val bucket = ScbfPartitions.bucketSpec(partitionTransforms, info.schema())
    new ScbfWriteBuilder(dir, info.schema(), wconf, maxBuf, prefix, replaceOnly, partCols,
      rewriteOf, bucket, cdcTag, cdcRoot, occSnapTs)
  }
}
