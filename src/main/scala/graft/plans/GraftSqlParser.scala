package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType, StringType, StructType, TimestampType}

import graft.sources.ScbfMaintenance

/**
 * SQL surface for SCBF table MAINTENANCE — the last piece of the
 * "a SQL-only user needs nothing from `graft.*`" contract. DELETE,
 * UPDATE and MERGE ride Spark's own grammar (SupportsDelete /
 * SupportsRowLevelOperations); OPTIMIZE and VACUUM have no vanilla
 * Spark syntax, so this parser (injected via
 * [[graft.functions.GraftExtensions]]) recognizes the Delta-shaped
 * statements and delegates EVERYTHING else untouched:
 *
 * {{{
 *   OPTIMIZE tbl [FILES n]                          -- bin-pack compaction
 *   OPTIMIZE tbl CLUSTER BY (c1[, c2…]) [FILES n]   -- range-cluster
 *   OPTIMIZE tbl ZORDER  BY (c1, c2[, …]) [FILES n] -- z-order
 *   VACUUM tbl [RETAIN h HOURS]                     -- temp/orphan sweep
 *   DESCRIBE HISTORY tbl                            -- discovery-log chain
 * }}}
 *
 * The commands resolve the table through the session catalog (provider
 * must be `scbf`; the DDL location is the table root) and route to the
 * same maintenance engine the API exposes: partitioned tables sweep
 * per partition with root-log re-announcement
 * ([[ScbfMaintenance.optimize]]), flat directories
 * rewrite in one snapshot-scoped pass. Recognition is whole-statement
 * anchored — a SELECT mentioning the word OPTIMIZE never detours.
 */
class GraftSqlParser(delegate: ParserInterface,
    session: Option[SparkSession] = None) extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlParser.maintenancePlan(sqlText)
      .orElse(GraftSqlParser.alterColumnPlan(sqlText, session))
      .orElse(GraftSqlParser.showCreatePlan(sqlText, session))
      .getOrElse(delegate.parsePlan(sqlText))
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}

object GraftSqlParser {

  private val OptimizeRe =
    """(?is)\s*OPTIMIZE\s+([\w.]+)\s+(CLUSTER|ZORDER)\s+BY\s*\(\s*([^)]+?)\s*\)(?:\s+FILES\s+(\d+))?\s*;?\s*""".r
  // plain bin-packing compaction, no BY clause (Delta's un-ZORDERed
  // OPTIMIZE) — matched AFTER the BY form so it can't shadow it
  private val OptimizePlainRe =
    """(?is)\s*OPTIMIZE\s+([\w.]+)(?:\s+FILES\s+(\d+))?\s*;?\s*""".r
  private val VacuumRe =
    """(?is)\s*VACUUM\s+([\w.]+)(?:\s+RETAIN\s+(\d+)\s+HOURS)?\s*;?\s*""".r
  // Delta-shaped history inspection — not vanilla Spark grammar, so
  // the intercept can claim the statement outright (a non-scbf table
  // fails with the real reason at run, same as OPTIMIZE/VACUUM).
  // `COMMITS` switches to per-commit granularity (one row per delta,
  // with the VERSION AS OF ordinal); `LIMIT n` bounds both views —
  // pushed into the replay, newest first, so driver memory and delta
  // reads are O(n)-ish, not O(table history).
  private val DescribeHistoryRe =
    """(?is)\s*DESC(?:RIBE)?\s+HISTORY\s+([\w.]+)(\s+COMMITS)?(?:\s+LIMIT\s+(\d+))?\s*;?\s*""".r
  // The file-level CHANGE FEED between two points — the resync
  // primitive incremental consumers lack under onChangeCommit=skip:
  // `DESCRIBE HISTORY t BETWEEN <p1> AND <p2> [LIMIT n]` enumerates
  // every add/rewrite/remove published AFTER p1 up to and including p2
  // (exclusive-start, inclusive-end — so BETWEEN VERSION v1 AND
  // VERSION v2 is exactly commits v1+1..v2: feed it your last-seen
  // version and read forward). Points are epoch millis, timestamp
  // literals (session timezone), or VERSION <n> ordinals.
  private val DescribeHistoryBetweenRe =
    ("""(?is)\s*DESC(?:RIBE)?\s+HISTORY\s+([\w.]+)\s+BETWEEN\s+""" +
      """(VERSION\s+\d+|'[^']*'|\d+)\s+AND\s+(VERSION\s+\d+|'[^']*'|\d+)""" +
      """(?:\s+LIMIT\s+(\d+))?\s*;?\s*""").r
  // Delta-shaped one-row table summary — size/row counts served from
  // the dirsum head-reads (never a full manifest parse or data open)
  private val DescribeDetailRe =
    """(?is)\s*DESC(?:RIBE)?\s+DETAIL\s+([\w.]+)\s*;?\s*""".r
  // Delta-shaped RESTORE: rolls the live table back to its AS OF
  // rendering by REMOVING the files published after the timestamp
  // (exact for append-only history — the same refusal contract as
  // time travel; a literal timestamp or epoch millis)
  private val RestoreRe =
    """(?is)\s*RESTORE\s+TABLE\s+([\w.]+)\s+TO\s+TIMESTAMP\s+AS\s+OF\s+('[^']*'|\d+)\s*;?\s*""".r
  // the VERSION spelling maps through the same commit-ordinal → max-ts
  // resolution as SELECT's VERSION AS OF (non-numeric versions refuse
  // there with the guidance, not as a bare parse error)
  private val RestoreVersionRe =
    """(?is)\s*RESTORE\s+TABLE\s+([\w.]+)\s+TO\s+VERSION\s+AS\s+OF\s+('?)(\d+)\2\s*;?\s*""".r
  private val RestoreVersionBadRe =
    """(?is)\s*RESTORE\s+TABLE\s+([\w.]+)\s+TO\s+VERSION\s+AS\s+OF\s+.*""".r

  // Delta-shaped zero-copy branching: a new session-catalog table whose
  // data is a ref list into the source's live (or AS OF) file set —
  // metadata cost only; see [[graft.sources.ScbfClone]] for the
  // contract (reads + appends; rewrites refuse; dangling refs loud).
  private val ShallowCloneRe =
    ("""(?is)\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+([\w.]+)\s+SHALLOW\s+CLONE\s+([\w.]+)""" +
      """(?:\s+(TIMESTAMP|VERSION)\s+AS\s+OF\s+('[^']*'|\d+))?""" +
      """(?:\s+LOCATION\s+'([^']+)')?\s*;?\s*""").r

  /** A feed/CDC point as spelled in SQL: `VERSION <n>`, a quoted
   * session-timezone timestamp literal, or epoch millis. */
  private def parsePoint(s: String): RestorePoint = {
    val t = s.trim
    if (t.toUpperCase(java.util.Locale.ROOT).startsWith("VERSION"))
      RestoreAtVersion(t.substring("VERSION".length).trim.toInt)
    else if (t.startsWith("'")) RestoreAtLiteral(t.substring(1, t.length - 1))
    else RestoreAtMillis(t.toLong)
  }

  // Row-level CDC as SQL (round 13): registers a TEMP VIEW over the
  // windowed enumeration (ScbfCdc.changes) — a VIEW rather than a
  // command result because change rows are DATA-sized and must stay
  // distributed; the command itself returns one summary row. `AS
  // TABLE CHANGES …` is not vanilla Spark grammar, so an ordinary
  // CREATE TEMP VIEW … AS SELECT never detours here.
  private val CdcViewRe =
    ("""(?is)\s*CREATE\s+(OR\s+REPLACE\s+)?TEMP(?:ORARY)?\s+VIEW\s+(\w+)\s+AS\s+""" +
      """TABLE\s+CHANGES\s+([\w.]+)\s+SINCE\s+(VERSION\s+\d+|'[^']*'|\d+)""" +
      """(?:\s+UNTIL\s+(VERSION\s+\d+|'[^']*'|\d+))?""" +
      """(?:\s+RECONCILE\s+(TRUE|FALSE))?\s*;?\s*""").r

  private[plans] def maintenancePlan(sql: String): Option[LogicalPlan] = sql match {
    case ShallowCloneRe(orReplace, target, source, axis, point, location) =>
      Some(GraftShallowCloneCommand(target, source,
        Option(axis).map(_.toUpperCase(java.util.Locale.ROOT)),
        Option(point), Option(location), replace = orReplace != null))
    case CdcViewRe(orReplace, view, tbl, p1, p2, reconcile) =>
      Some(GraftCdcViewCommand(view, tbl, parsePoint(p1),
        Option(p2).map(parsePoint), replace = orReplace != null,
        reconcile = Option(reconcile).forall(_.equalsIgnoreCase("TRUE"))))
    case DescribeHistoryBetweenRe(tbl, p1, p2, limit) =>
      Some(GraftDescribeHistoryCommand(tbl,
        limit = Option(limit).map(_.toInt),
        between = Some((parsePoint(p1), parsePoint(p2)))))
    case DescribeHistoryRe(tbl, commits, limit) =>
      Some(GraftDescribeHistoryCommand(tbl, commits = commits != null,
        limit = Option(limit).map(_.toInt)))
    case DescribeDetailRe(tbl) => Some(GraftDescribeDetailCommand(tbl))
    case RestoreRe(tbl, tsLit) =>
      // a string literal resolves at RUN time in the SESSION timezone —
      // the same instant `SELECT … TIMESTAMP AS OF '<literal>'` names
      // (Catalyst resolves that one; parsing here with
      // java.sql.Timestamp.valueOf would use the JVM default zone, and
      // when the two zones differ RESTORE would delete files relative
      // to a different point in time than the SELECT the user checked)
      val ts =
        if (tsLit.startsWith("'")) RestoreAtLiteral(tsLit.substring(1, tsLit.length - 1))
        else RestoreAtMillis(tsLit.toLong)
      Some(GraftRestoreTableCommand(tbl, ts))
    case RestoreVersionRe(tbl, _, v) =>
      Some(GraftRestoreTableCommand(tbl, RestoreAtVersion(v.toInt)))
    case RestoreVersionBadRe(tbl) =>
      throw new graft.scbf.ScbfFormatException(
        s"RESTORE TABLE $tbl TO VERSION AS OF needs an integer version — " +
          "the commit ordinals DESCRIBE HISTORY <tbl> COMMITS shows " +
          "(oldest = 0; ordinals are durable across compaction, though a " +
          "folded-away interior ordinal refuses with the timestamp cure). " +
          "Timestamps work too: " +
          "RESTORE TABLE ... TO TIMESTAMP AS OF <ts | 'yyyy-MM-dd HH:mm:ss'>.")
    case OptimizeRe(tbl, kind, cols, files) =>
      val colNames = cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      require(colNames.nonEmpty, s"OPTIMIZE needs at least one column: $sql")
      Some(GraftOptimizeCommand(tbl,
        zorder = kind.equalsIgnoreCase("ZORDER"), colNames,
        Option(files).map(_.toInt).getOrElse(1)))
    case OptimizePlainRe(tbl, files) =>
      Some(GraftOptimizeCommand(tbl, zorder = false, Seq.empty,
        Option(files).map(_.toInt).getOrElse(1)))
    case VacuumRe(tbl, hours) =>
      Some(GraftVacuumCommand(tbl, Option(hours).map(_.toLong * 3600 * 1000)))
    case _ => None
  }

  /** Session-catalog resolution: the table's SCBF root directory and
   * whether it is hive-partitioned. Fails loudly for non-scbf tables —
   * maintenance must never sweep a foreign format's directory. */
  private[plans] def resolveScbfTable(
      spark: SparkSession, table: String): (String, Boolean) = {
    val (_, meta) = resolveScbfMeta(spark, table)
    (new org.apache.hadoop.fs.Path(meta.location).toString,
      meta.partitionColumnNames.nonEmpty)
  }

  private[plans] def resolveScbfMeta(spark: SparkSession, table: String)
      : (TableIdentifier, org.apache.spark.sql.catalyst.catalog.CatalogTable) = {
    val parts = table.split('.')
    val ti = parts.length match {
      case 2 => TableIdentifier(parts(1), Some(parts(0)))
      // fully-qualified session-catalog names resolve too; a foreign
      // catalog fails with the real name in the message instead of a
      // mangled single-part lookup
      case 3 =>
        require(parts(0).equalsIgnoreCase("spark_catalog"),
          s"OPTIMIZE/VACUUM/ALTER COLUMN support session-catalog tables only, got $table")
        TableIdentifier(parts(2), Some(parts(1)))
      case _ => TableIdentifier(table)
    }
    val meta = spark.sessionState.catalog.getTableMetadata(ti)
    require(meta.provider.exists(_.equalsIgnoreCase("scbf")),
      s"$table is not an SCBF table (provider=${meta.provider.getOrElse("?")}): " +
        "this statement applies to USING scbf tables only")
    (ti, meta)
  }

  /** Table-root resolution that accepts BOTH session-catalog SCBF
   * tables and graft-catalog tables (`cat.ns….name` — the table IS its
   * warehouse directory). Shared by DESCRIBE HISTORY and RESTORE. */
  private[plans] def resolveAnyScbfDir(
      spark: SparkSession, table: String): org.apache.hadoop.fs.Path = {
    import graft.sources.GraftCatalog
    val parts = table.split('.')
    (if (parts.length >= 3) {
      try spark.sessionState.catalogManager.catalog(parts(0)) match {
        case g: GraftCatalog => Some(g.tableDirectory(
          org.apache.spark.sql.connector.catalog.Identifier.of(
            parts.slice(1, parts.length - 1), parts.last)))
        case _ => None
      } catch { case scala.util.control.NonFatal(_) => None }
    } else None).getOrElse {
      val (d, _) = resolveScbfTable(spark, table)
      new org.apache.hadoop.fs.Path(d)
    }
  }

  // ---- ALTER TABLE ... {ADD|DROP|RENAME|ALTER|CHANGE} COLUMN ----
  // Vanilla Spark would route these to the session catalog and update
  // ONLY the metastore schema — SCBF files carry their schema in their
  // headers (the frozen reference format has no column-mapping layer),
  // so a catalog-only ALTER leaves every existing file missing the new
  // column and every read failing. The parser therefore intercepts the
  // COLUMN forms FOR SCBF TABLES ONLY (a parse-time catalog probe; any
  // other table delegates untouched): ADD/DROP/RENAME COLUMN become
  // managed one-pass rewrites + atomic swap (the SchemaEvolutionSpec
  // recipe as ONE statement); the retype forms (ALTER/CHANGE COLUMN)
  // decline with that guidance — a type change needs an explicit CAST
  // the user must own (lossy double→int, parse-failing string→num).
  // Partition forms (ADD/DROP PARTITION, RENAME TO PARTITION, ...)
  // never match these shapes and keep their Spark paths.
  private val AlterAddColRe =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+COLUMNS?\s+(.+?)\s*;?\s*""".r
  private val AlterDropColRe =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+COLUMNS?\s+(.+?)\s*;?\s*""".r
  private val AlterRenameColRe =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*;?\s*""".r
  // the one LOSSLESS retype (int32→float64, exact for every int32) is
  // managed; every other TYPE change declines at run with the
  // CAST-ownership guidance
  private val AlterRetypeColRe =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+ALTER\s+COLUMN\s+(\w+)\s+TYPE\s+(\w+)\s*;?\s*""".r
  private val AlterOtherColRe =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+(ALTER\s+COLUMN|CHANGE\s+COLUMN)\b.*""".r
  // one column spec: name TYPE [DEFAULT <number | 'string' | "string">]
  private val ColSpecRe =
    """(?is)\s*(\w+)\s+(INT|INTEGER|DOUBLE|STRING)(?:\s+DEFAULT\s+('(?:[^']|'')*'|"(?:[^"]|"")*"|[-+]?[\d.][\w.+-]*))?\s*(?:,|$)""".r

  private[plans] def alterColumnPlan(
      sql: String, session: Option[SparkSession]): Option[LogicalPlan] = {
    def isScbf(table: String): Boolean = session.exists { s =>
      try { resolveScbfMeta(s, table); true }
      catch { case scala.util.control.NonFatal(_) => false }
    }
    sql match {
      case AlterAddColRe(tbl, spec) if isScbf(tbl) =>
        val body = spec.trim match {
          case s if s.startsWith("(") && s.endsWith(")") => s.substring(1, s.length - 1)
          case s => s
        }
        val ms = ColSpecRe.findAllMatchIn(body).toSeq
        val covered = ms.map(_.matched.length).sum
        if (ms.isEmpty || covered != body.length)
          throw new graft.scbf.ScbfFormatException(
            s"cannot parse ADD COLUMN spec '$body' for SCBF table $tbl. " +
              "Supported: ALTER TABLE t ADD COLUMN[S] [(]name {INT|DOUBLE|STRING} " +
              "DEFAULT <literal>[, ...][)] — the three SCBF types, each with an " +
              "explicit DEFAULT (the format stores no nulls, so every existing " +
              "row needs a value).")
        val cols = ms.map { m =>
          val raw = Option(m.group(3))
          GraftAddCol(m.group(1), m.group(2).toUpperCase(java.util.Locale.ROOT) match {
            case "INT" | "INTEGER" => IntegerType
            case "DOUBLE"          => org.apache.spark.sql.types.DoubleType
            case _                 => org.apache.spark.sql.types.StringType
          }, raw.getOrElse(throw new graft.scbf.ScbfFormatException(
            s"ADD COLUMN ${m.group(1)}: SCBF stores no nulls — an explicit " +
              "DEFAULT <literal> is required so every existing row gets a value")))
        }
        Some(GraftAddColumnsCommand(tbl, cols))
      case AlterDropColRe(tbl, spec) if isScbf(tbl) =>
        val body = spec.trim match {
          case s if s.startsWith("(") && s.endsWith(")") => s.substring(1, s.length - 1)
          case s => s
        }
        val names = body.split(",").map(_.trim).toSeq
        if (names.isEmpty || !names.forall(_.matches("""\w+""")))
          throw new graft.scbf.ScbfFormatException(
            s"cannot parse DROP COLUMN spec '$body' for SCBF table $tbl. " +
              "Supported: ALTER TABLE t DROP COLUMN[S] [(]name[, ...][)]")
        Some(GraftDropColumnsCommand(tbl, names))
      case AlterRenameColRe(tbl, from, to) if isScbf(tbl) =>
        Some(GraftRenameColumnCommand(tbl, from, to))
      case AlterRetypeColRe(tbl, colName, typeName) if isScbf(tbl) =>
        Some(GraftRetypeColumnCommand(tbl, colName,
          typeName.toUpperCase(java.util.Locale.ROOT)))
      case AlterOtherColRe(tbl, form) if isScbf(tbl) =>
        throw new graft.scbf.ScbfFormatException(
          s"ALTER TABLE ${form.trim.toUpperCase(java.util.Locale.ROOT)} is not " +
            s"supported for SCBF table $tbl: the file format is frozen (schema " +
            "lives in every file's header; there is no column-mapping layer), " +
            "and a type change needs an explicit CAST the user must own " +
            "(lossy double→int, parse-failing string→num). Use the rewrite " +
            "recipe: CREATE a successor table with the new schema + INSERT " +
            "INTO successor SELECT ... CAST(...) ... FROM old + swap (see " +
            "README 'Schema evolution'). ADD/DROP/RENAME COLUMN ARE " +
            "supported as managed rewrites.")
      case _ => None
    }
  }

  // ---- SHOW CREATE TABLE for scbf tables ----
  // Vanilla Spark's v1 SHOW CREATE TABLE renders USING-provider tables
  // fine, but knows nothing about SHALLOW CLONEs (it would render a
  // clone as a plain external table — losing the one fact an operator
  // re-creating it needs) and cannot resolve graft-catalog tables (the
  // v2 path). The intercept claims the statement FOR SCBF/GRAFT TABLES
  // ONLY (the same parse-time catalog probe as the ALTER COLUMN forms);
  // every other table delegates untouched.
  private val ShowCreateRe =
    """(?is)\s*SHOW\s+CREATE\s+TABLE\s+([\w.]+)\s*;?\s*""".r

  private[plans] def showCreatePlan(
      sql: String, session: Option[SparkSession]): Option[LogicalPlan] = sql match {
    case ShowCreateRe(tbl) if session.exists { s =>
      (try { resolveScbfMeta(s, tbl); true }
        catch { case scala.util.control.NonFatal(_) => false }) ||
      (tbl.split('.').length >= 3 &&
        (try s.sessionState.catalogManager.catalog(tbl.split('.')(0))
          .isInstanceOf[graft.sources.GraftCatalog]
        catch { case scala.util.control.NonFatal(_) => false }))
    } => Some(GraftShowCreateTableCommand(tbl))
    case _ => None
  }

  /** A timestamp literal resolved in the SESSION timezone — the same
   * instant Catalyst gives `SELECT … TIMESTAMP AS OF` for the same
   * string — floored to the discovery log's millisecond axis. ONE
   * implementation for RESTORE and SHALLOW CLONE, so a format or
   * timezone fix can never drift between them. */
  private[plans] def sessionTsLiteralMillis(
      spark: SparkSession, lit: String, ctx: String): Long = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    val micros = DateTimeUtils.stringToTimestamp(
      org.apache.spark.unsafe.types.UTF8String.fromString(lit),
      DateTimeUtils.getZoneId(spark.sessionState.conf.sessionLocalTimeZone))
      .getOrElse(throw new graft.scbf.ScbfFormatException(
        s"$ctx: cannot parse timestamp literal '$lit' (session timezone " +
          s"${spark.sessionState.conf.sessionLocalTimeZone}). Use " +
          "'yyyy-MM-dd HH:mm:ss[.SSS]' or epoch millis."))
    Math.floorDiv(micros, 1000L)
  }
}

/** One ADD COLUMN spec: the new column, its SCBF-representable Spark
 * type, and the raw DEFAULT literal (validated/cast at run). */
case class GraftAddCol(name: String, dataType: DataType, default: String)

/**
 * `ALTER TABLE t ADD COLUMN[S] name TYPE DEFAULT lit[, ...]` for SCBF
 * tables — the schema-evolution recipe (successor + one-pass rewrite +
 * atomic swap, SchemaEvolutionSpec) as ONE managed statement.
 *
 * LOUD about cost by design: this rewrites every data file once (at
 * 100 TB that is a full-table pass — the explicit price of a frozen,
 * reference-compatible format with no read-time column-mapping layer;
 * you pay it once here instead of every future scan funding a mapping
 * layer). Mechanics:
 *
 *  1. snapshot the live file set, read EXACTLY those files (partition
 *     values live in the data, so layout information survives);
 *  2. append the new columns as cast literals, reorder to the final
 *     catalog order (old data columns, new columns, partition columns
 *     — so rewritten files and future INSERTs agree on order);
 *  3. write the successor directory (same partition routing via
 *     partitionBy; keeper-only partitions are re-created empty with
 *     the new schema);
 *  4. swap: rename root→retired, successor→root (two renames — the
 *     atomic unit a filesystem gives; readers in the gap see a
 *     transient missing-path error, never mixed schemas). A file that
 *     appeared AFTER the snapshot (concurrent append) is detected in
 *     the retired directory and rolls the swap back loudly;
 *  5. discovery-log continuity: the ORIGINAL log moves into the new
 *     root and the rewrite announces `rewriteOf` entries per directory
 *     (rowsChanged=false — existing columns' rows are untouched), so
 *     checkpointed streams treat it exactly like a compaction rewrite;
 *  6. retire the old directory and update the catalog schema.
 */
case class GraftAddColumnsCommand(table: String, cols: Seq[GraftAddCol])
  extends LeafRunnableCommand {

  override def output: Seq[Attribute] =
    Seq(AttributeReference("files_rewritten", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.expr
    val (ti, meta) = GraftSqlParser.resolveScbfMeta(spark, table)
    cols.foreach { c =>
      require(!meta.schema.fieldNames.exists(_.equalsIgnoreCase(c.name)),
        s"column '${c.name}' already exists in $table " +
          meta.schema.fieldNames.mkString("(", ", ", ")"))
    }
    require(cols.map(_.name.toLowerCase(java.util.Locale.ROOT)).distinct.size == cols.size,
      s"duplicate new column names: ${cols.map(_.name)}")
    // validate every DEFAULT up front (cast must produce a non-null of
    // the declared type) — fail HERE, not mid-rewrite
    val probe = spark.range(1).select(
      cols.map(c => expr(c.default).cast(c.dataType).as(c.name)): _*).head()
    cols.zipWithIndex.foreach { case (c, i) =>
      require(!probe.isNullAt(i),
        s"DEFAULT ${c.default} for column '${c.name}' evaluates to NULL — " +
          "SCBF stores no nulls; give a concrete literal")
    }
    // final order: the ORIGINAL column order with the new columns
    // appended — rewritten files, future INSERTs and SELECT * all
    // agree, and partition columns keep their declared positions
    // (catalog V2 tables preserve DDL order; nothing is reshuffled)
    val newSchema = StructType(meta.schema ++
      cols.map(c => org.apache.spark.sql.types.StructField(
        c.name, c.dataType, nullable = false)))
    val rewritten = GraftSchemaRewrite.run(spark, ti, meta, table,
      op = "ADD COLUMN", tag = "addcol", newSchema,
      df => cols.foldLeft(df)((d, c) =>
        d.withColumn(c.name, expr(c.default).cast(c.dataType))))
    Seq(Row(rewritten))
  }
}

/**
 * `ALTER TABLE t DROP COLUMN[S] name[, ...]` for SCBF tables — the
 * inverse of [[GraftAddColumnsCommand]], through the same managed
 * one-pass rewrite + atomic swap ([[GraftSchemaRewrite]]; same LOUD
 * full-table cost, paid once). Partition columns are refused: dropping
 * one changes the directory layout — that is a repartitioning, not a
 * schema edit; the guidance names the CTAS recipe.
 */
case class GraftDropColumnsCommand(table: String, names: Seq[String])
  extends LeafRunnableCommand {

  override def output: Seq[Attribute] =
    Seq(AttributeReference("files_rewritten", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val (ti, meta) = GraftSqlParser.resolveScbfMeta(spark, table)
    val resolved = names.map { n =>
      meta.schema.fieldNames.find(_.equalsIgnoreCase(n)).getOrElse(
        throw new graft.scbf.ScbfFormatException(
          s"DROP COLUMN $n: no such column in $table " +
            meta.schema.fieldNames.mkString("(", ", ", ")")))
    }
    require(resolved.distinct.size == resolved.size,
      s"duplicate columns in DROP: $names")
    val partLower = meta.partitionColumnNames
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    resolved.foreach { n =>
      if (partLower.contains(n.toLowerCase(java.util.Locale.ROOT)))
        throw new graft.scbf.ScbfFormatException(
          s"DROP COLUMN $n on $table: '$n' is a partition column — dropping " +
            "it changes the directory layout (a repartitioning, not a schema " +
            "edit). Use CREATE TABLE successor ... PARTITIONED BY (<new " +
            "layout>) + INSERT SELECT + swap (README 'Schema evolution').")
    }
    val droppedLower = resolved.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val remaining = meta.schema.filterNot(f =>
      droppedLower.contains(f.name.toLowerCase(java.util.Locale.ROOT)))
    require(remaining.nonEmpty,
      s"DROP COLUMN would leave $table with no columns — DROP TABLE instead")
    val rewritten = GraftSchemaRewrite.run(spark, ti, meta, table,
      op = "DROP COLUMN", tag = "dropcol", StructType(remaining), identity)
    Seq(Row(rewritten))
  }
}

/**
 * `ALTER TABLE t RENAME COLUMN a TO b` for SCBF tables — a managed
 * rewrite like ADD/DROP (file headers carry column names; there is no
 * column-mapping layer to alias through, so a rename IS a rewrite).
 * Partition-column renames are refused: they change every `k=v`
 * directory name and the catalog partitioning; the guidance names the
 * CTAS recipe.
 */
case class GraftRenameColumnCommand(table: String, from: String, to: String)
  extends LeafRunnableCommand {

  override def output: Seq[Attribute] =
    Seq(AttributeReference("files_rewritten", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val (ti, meta) = GraftSqlParser.resolveScbfMeta(spark, table)
    val actual = meta.schema.fieldNames.find(_.equalsIgnoreCase(from)).getOrElse(
      throw new graft.scbf.ScbfFormatException(
        s"RENAME COLUMN $from: no such column in $table " +
          meta.schema.fieldNames.mkString("(", ", ", ")")))
    require(!meta.schema.fieldNames.exists(_.equalsIgnoreCase(to)),
      s"RENAME COLUMN $from TO $to: '$to' already exists in $table " +
        meta.schema.fieldNames.mkString("(", ", ", ")"))
    if (meta.partitionColumnNames.exists(_.equalsIgnoreCase(from)))
      throw new graft.scbf.ScbfFormatException(
        s"RENAME COLUMN $from on $table: '$actual' is a partition column — " +
          "renaming it changes every k=v directory name and the catalog " +
          "partitioning. Use CREATE TABLE successor ... PARTITIONED BY " +
          s"($to) + INSERT SELECT + swap (README 'Schema evolution').")
    val newSchema = StructType(meta.schema.map(f =>
      if (f.name == actual) f.copy(name = to) else f))
    val rewritten = GraftSchemaRewrite.run(spark, ti, meta, table,
      op = "RENAME COLUMN", tag = "renamecol", newSchema,
      _.withColumnRenamed(actual, to))
    Seq(Row(rewritten))
  }
}

/**
 * `ALTER TABLE t ALTER COLUMN c TYPE <T>` for SCBF tables. Exactly ONE
 * retype is managed: `INT → DOUBLE`, the lossless widening (float64
 * represents every int32 exactly). Every other TYPE change declines
 * with the CAST-ownership guidance — double→int truncates, string→num
 * can fail to parse row-by-row, num→string bakes in one rendering —
 * so the user writes the CAST in a successor rewrite and owns the
 * semantics. Partition columns refuse (the retype changes the `k=v`
 * directory rendering: `db=5` vs `db=5.0`).
 */
case class GraftRetypeColumnCommand(table: String, colName: String,
    typeName: String) extends LeafRunnableCommand {

  override def output: Seq[Attribute] =
    Seq(AttributeReference("files_rewritten", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.DoubleType
    val (ti, meta) = GraftSqlParser.resolveScbfMeta(spark, table)
    val field = meta.schema.find(_.name.equalsIgnoreCase(colName)).getOrElse(
      throw new graft.scbf.ScbfFormatException(
        s"ALTER COLUMN $colName: no such column in $table " +
          meta.schema.fieldNames.mkString("(", ", ", ")")))
    if (meta.partitionColumnNames.exists(_.equalsIgnoreCase(colName)))
      throw new graft.scbf.ScbfFormatException(
        s"ALTER COLUMN ${field.name} on $table: '${field.name}' is a " +
          "partition column — retyping it changes every k=v directory " +
          "rendering. Use CREATE TABLE successor + INSERT SELECT + swap " +
          "(README 'Schema evolution').")
    val widens = field.dataType == IntegerType &&
      (typeName == "DOUBLE" || typeName == "FLOAT8")
    if (!widens)
      throw new graft.scbf.ScbfFormatException(
        s"ALTER COLUMN ${field.name} TYPE $typeName on $table: only the " +
          s"lossless INT → DOUBLE widening is managed (${field.name} is " +
          s"${field.dataType.sql}). Any other retype needs an explicit CAST " +
          "the user must own (lossy double→int, parse-failing string→num, " +
          "rendering-bound num→string): CREATE a successor table + INSERT " +
          "INTO successor SELECT ... CAST(...) ... + swap (README 'Schema " +
          "evolution').")
    val newSchema = StructType(meta.schema.map(f =>
      if (f.name == field.name) f.copy(dataType = DoubleType) else f))
    val rewritten = GraftSchemaRewrite.run(spark, ti, meta, table,
      op = "ALTER COLUMN TYPE", tag = "retypecol", newSchema,
      _.withColumn(field.name, col(field.name).cast(DoubleType)))
    Seq(Row(rewritten))
  }
}

/**
 * Shared core of the managed schema-evolution rewrites (ADD/DROP/
 * RENAME COLUMN): snapshot the live file set, rewrite it once through
 * `transform` into a successor directory (same partition routing,
 * keeper-only partitions re-created empty with the new schema), swap
 * atomically with a concurrent-append rollback, move the ORIGINAL
 * discovery log into the successor BEFORE it becomes visible (streams
 * see a rowsChanged=false compaction — no re-delivery), retire the old
 * directory, and update the catalog schema LAST. Crash-window contract
 * documented at [[GraftAddColumnsCommand]]. Returns the number of
 * snapshot files rewritten.
 */
private[plans] object GraftSchemaRewrite {
  /** Test seam: invoked twice around the final-swap root check — phase
   * 0 BEFORE the exists check, phase 1 after it passes (just before
   * the rename) — so chaos specs can re-create the root at either
   * point and pin BOTH abort paths (pre-check and the TOCTOU nested-
   * rename backstop). */
  private[plans] var swapRaceHook: Int => Unit = _ => ()

  /** Test seam: invoked between the successor write and the retire
   * rename — the window a concurrent APPEND to the live root lands in
   * (the lateFiles rollback guard's window). */
  private[plans] var preRetireHook: () => Unit = () => ()

  def run(spark: SparkSession, ti: TableIdentifier,
      meta: org.apache.spark.sql.catalyst.catalog.CatalogTable,
      table: String, op: String, tag: String, newSchema: StructType,
      transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : Int = {
    import org.apache.spark.sql.functions.col
    import graft.sources.{ScbfDataSource, ScbfDiscovery, ScbfPartitions, ScbfUtil}
    val rootDir = new org.apache.hadoop.fs.Path(meta.location).toString
    val partCols = meta.partitionColumnNames
    val conf = spark.sessionState.newHadoopConf()
    graft.sources.ScbfClone.refuseIfClone(
      new org.apache.hadoop.fs.Path(rootDir), conf, s"ALTER TABLE $op")
    val rootP = new org.apache.hadoop.fs.Path(rootDir)
    val fs = rootP.getFileSystem(conf)
    val qroot = fs.makeQualified(rootP)
    val snapshot = ScbfDataSource.resolveFiles(Seq(rootDir), conf)
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    val successor = new org.apache.hadoop.fs.Path(rootDir + s".$tag-$uuid")
    val retired = new org.apache.hadoop.fs.Path(rootDir + s".pre-$tag-$uuid")
    def rel(p: org.apache.hadoop.fs.Path): String =
      qroot.toUri.relativize(fs.makeQualified(p).toUri).getPath.stripPrefix("/")

    val finalOrder = newSchema.fieldNames.toSeq
    if (snapshot.nonEmpty) {
      // read EXACTLY the snapshot (partition values are stored in the
      // data files, so routing information survives a by-file read)
      val df = spark.read.format("scbf")
        .load(snapshot.map(_.getPath.toString): _*)
      val out = transform(df).select(finalOrder.map(col): _*)
      val w = out.write.format("scbf").mode("overwrite")
      (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
        .save(successor.toString)
    } else fs.mkdirs(successor)
    // keeper-only directories (TRUNCATEd / freshly ADDed partitions
    // hold a 0-row file the empty-DataFrame write cannot reproduce):
    // re-create them empty with the NEW schema so no partition vanishes
    def dataDirs(root: org.apache.hadoop.fs.Path) =
      ScbfPartitions.walk(root, conf).filter(_.holdsData).map(_.dir).toSeq
    val oldDirs = dataDirs(rootP).map(rel)
    val qsucc = fs.makeQualified(successor)
    val newDirs = dataDirs(successor)
      .map(p => qsucc.toUri.relativize(
        fs.makeQualified(p).toUri).getPath.stripPrefix("/")).toSet
    oldDirs.filterNot(newDirs).foreach { d =>
      val target = if (d.isEmpty) successor
        else new org.apache.hadoop.fs.Path(successor, d)
      fs.mkdirs(target)
      ScbfUtil.writeEmptyScbf(fs, target, newSchema, s"$tag-keeper-")
    }

    // restore `src` to the root path even while a racing writer keeps
    // re-creating the root: each re-created root is set aside (never
    // destroyed — it may hold the racer's half-committed output), and
    // every restore rename is verified against the SAME rename-into-
    // existing-directory nesting the forward swap guards (a rollback
    // that silently nests the table inside the racer's root would be
    // a silent table replacement). Bounded retries; on exhaustion the
    // data stays intact at `src` and the error says where.
    def renameBackToRoot(src: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
      val strays = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.Path]
      var done = false
      var attempt = 0
      while (!done) {
        attempt += 1
        require(attempt <= 5,
          s"$op on $table: could not restore the table to $rootP after " +
            s"${attempt - 1} attempts — a concurrent writer keeps re-creating " +
            s"the root; table data is intact at $src" +
            (if (strays.isEmpty) "" else s"; racing output set aside at ${strays.mkString(", ")}"))
        if (fs.exists(rootP)) {
          val stray = new org.apache.hadoop.fs.Path(
            rootDir + s".concurrent-$tag-$uuid-$attempt")
          require(fs.rename(rootP, stray),
            s"$op on $table: a concurrent writer re-created $rootP mid-swap " +
              s"and it could not be set aside — table data is intact at $src")
          strays += stray
        }
        if (fs.rename(src, rootP)) {
          val nestedP = new org.apache.hadoop.fs.Path(rootP, src.getName)
          if (fs.exists(nestedP)) {
            // raced again between the check and the rename: the restore
            // nested `src` inside a re-created root — un-nest and retry
            require(fs.rename(nestedP, src),
              s"$op on $table: rollback raced a concurrent writer and could " +
                s"not be un-nested from $nestedP — table data is there")
          } else done = true
        }
      }
      strays.toSeq
    }

    // ---- the swap ----
    preRetireHook()
    require(fs.rename(rootP, retired),
      s"$op on $table: could not retire $rootP")
    // concurrent-append guard: a file published after the snapshot
    // would be silently destroyed with the retired directory — detect
    // it and roll the whole swap back instead
    val lateFiles = ScbfDataSource.resolveFiles(Seq(retired.toString), conf)
      .map(_.getPath.getName).toSet -- snapshot.map(_.getPath.getName).toSet
    if (lateFiles.nonEmpty) {
      // nesting-guarded; racer roots set aside and REPORTED
      val strays = renameBackToRoot(retired)
      fs.delete(successor, true)
      throw new graft.scbf.ScbfFormatException(
        s"$op on $table aborted: files were appended concurrently " +
          s"(${lateFiles.take(3).mkString(", ")}${if (lateFiles.size > 3) ", …" else ""})" +
          (if (strays.isEmpty) ""
           else s"; racing output set aside at ${strays.mkString(", ")} " +
             "(inspect or delete it)") +
          ". The table is unchanged; re-run when ingest settles.")
    }
    // ---- discovery-log continuity, BEFORE the successor is visible ----
    // The root is currently ABSENT (streams' listings and log reads
    // come up empty — quiet no-op triggers), so this is the window to
    // assemble the successor's final state: the ORIGINAL log (the
    // checkpointed streams' delta chain) replaces the successor's
    // fresh one, and the rewrite announces itself per directory like a
    // compaction (rowsChanged=false: existing columns' rows are
    // untouched). Doing it after the final rename would race a stream
    // trigger into the fresh log and re-deliver the whole table.
    val retiredLog = ScbfDiscovery.dir(retired)
    val succLog = ScbfDiscovery.dir(successor)
    var announcedNames = Set.empty[String]
    // tracks whether the ORIGINAL log was moved into the successor: the
    // abort path must only move a log back when it moved one out — a
    // previously log-less table must not inherit the successor write's
    // fresh log (it would announce only files the abort deletes,
    // poisoning later time travel with phantom entries)
    var logMoved = false
    if (fs.exists(retiredLog)) {
      fs.delete(succLog, true)
      // the flag MUST be the rename's actual result: on a failed move
      // the original log is still in place, and an abort that believed
      // otherwise would delete it and implant the announce-only
      // successor log — exactly the invariant the flag enforces
      logMoved = fs.rename(retiredLog, succLog)
    }
    if (logMoved) {
      val now = System.currentTimeMillis()
      val oldByDir = snapshot.groupBy(f => rel(f.getPath.getParent))
        .view.mapValues(_.map(f => rel(f.getPath)).sorted).toMap
      val qsucc2 = fs.makeQualified(successor)
      val newFiles = ScbfDataSource.resolveFiles(Seq(successor.toString), conf)
      def relS(p: org.apache.hadoop.fs.Path): String =
        qsucc2.toUri.relativize(fs.makeQualified(p).toUri).getPath.stripPrefix("/")
      val entries = newFiles.map { f =>
        val d = relS(f.getPath.getParent)
        ScbfDiscovery.Entry(relS(f.getPath), f.getLen, now,
          rewriteOf = oldByDir.getOrElse(d, Seq.empty), rowsChanged = false)
      }
      announcedNames = entries.map(_.name).toSet
      ScbfDiscovery.append(qsucc2, conf, entries)
    }
    // a writer JOB that started after the retire rename re-creates the
    // root via its committer's mkdirs; renaming the successor onto an
    // EXISTING root would nest it inside (Hadoop rename-into-directory
    // semantics), the require below would still pass, and deleting
    // `retired` would then destroy the only intact copy. The lateFiles
    // guard above only sees appends that COMMITTED before the check —
    // this one catches the in-flight writer. Abort: set the stray root
    // aside (it may hold the racing job's half-committed output — never
    // silently destroy it), move the original log back, scrub the
    // successor announcement (its files die with the successor; left in
    // the log they would poison later time travel as phantom removals),
    // and restore the original directory untouched.
    def abortConcurrentRoot(): Nothing = {
      // only un-move a log this rewrite moved OUT (see logMoved)
      if (logMoved && fs.exists(succLog)) {
        fs.delete(retiredLog, true)
        fs.rename(succLog, retiredLog)
        ScbfDiscovery.scrubEntries(fs.makeQualified(retired), conf, announcedNames)
      }
      val strays = renameBackToRoot(retired)
      fs.delete(successor, true)
      throw new graft.scbf.ScbfFormatException(
        s"$op on $table aborted: a concurrent writer re-created the table " +
          s"root mid-swap" +
          (if (strays.isEmpty) ""
           else s"; its partial output was set aside at ${strays.mkString(", ")} " +
             "(inspect or delete it)") +
          ". The table is unchanged; re-run when ingest settles.")
    }
    swapRaceHook(0)
    if (fs.exists(rootP)) abortConcurrentRoot()
    swapRaceHook(1)
    require(fs.rename(successor, rootP),
      s"$op on $table: table data retired to $retired but the successor " +
        s"rename failed — restore by renaming $retired back to $rootP")
    // TOCTOU backstop: the root re-appeared BETWEEN the check and the
    // rename, so the rename nested the successor inside it — un-nest
    // and take the same abort path
    val nested = new org.apache.hadoop.fs.Path(rootP, successor.getName)
    if (fs.exists(nested)) {
      require(fs.rename(nested, successor),
        s"$op on $table: swap raced a concurrent writer and the successor " +
          s"could not be un-nested from $nested — table data is intact at $retired")
      abortConcurrentRoot()
    }
    fs.delete(retired, true)

    // ---- catalog: the full new schema, partition positions intact ----
    // (not alterTableDataSchema: its dataSchema view drops the LAST
    // n-partition-columns positionally, which mis-slices any table
    // whose partition columns are not declared last)
    spark.sessionState.catalog.alterTable(meta.copy(schema = newSchema))
    spark.sessionState.catalog.refreshTable(ti)
    snapshot.size
  }
}

/**
 * `DESCRIBE HISTORY tbl [COMMITS] [LIMIT n]` — the discovery log's
 * version chain as a relation. The companion to time travel: pick any
 * `ts` here and read `TIMESTAMP AS OF` it / the `asOfTimestamp`
 * option; pick a `version` from the COMMITS view and read
 * `VERSION AS OF` it. Resolves session-catalog SCBF tables and
 * graft-catalog tables (`cat.ns.name` — through the table's own
 * catalog, like Spark resolves the relation itself).
 *
 * Two granularities:
 *  - per-FILE (default): one row per first file announcement
 *    (compaction snapshots duplicate entries verbatim; the
 *    first-per-name rule is exactly
 *    [[graft.sources.ScbfDiscovery.filesAsOf]]'s), newest first.
 *  - per-COMMIT (`COMMITS`): one row per current delta, newest first,
 *    with the `VERSION AS OF` ordinal — `fold` rows are compaction
 *    snapshots (the union of every commit folded so far), so their
 *    counts describe pre-history in aggregate, not one commit.
 *
 * `LIMIT n` is pushed INTO the replay, not applied after it: deltas
 * are visited newest-first, per-file selection keeps a bounded n-entry
 * heap (duplicates excluded by an in-heap name set, so memory is O(n)
 * even across a fold snapshot's verbatim re-announcements), and the
 * walk STOPS at the first delta whose creation-millis prefix is older
 * than the heap's n-th newest entry — at 10⁶ log entries with a recent
 * tail, `DESCRIBE HISTORY t LIMIT 10` reads a handful of small deltas
 * and materializes ten driver Rows, not a million (HistoryScale).
 *
 * `BETWEEN p1 AND p2` is the file-level CHANGE FEED (round 12): the
 * per-file view windowed to changes published AFTER p1 up to and
 * including p2 — exclusive-start/inclusive-end BY DESIGN (not SQL
 * BETWEEN's inclusive-inclusive): `BETWEEN VERSION v1 AND VERSION v2`
 * then enumerates exactly commits v1+1..v2, which is the resync
 * contract an incremental consumer needs ("everything since my
 * last-seen point"). Every action kind flows through — `append` rows
 * are new files, `rewrite` rows carry their victims in `rewrite_of`,
 * `remove` rows are metadata-only takedowns/RESTOREs — so replaying
 * the feed's adds minus its removals/rewrites reconstructs the file-
 * set delta between the two points. Bounded like LIMIT: deltas named
 * before p1 are never read (entries are stamped at or before their
 * delta's publication), so a feed over a recent window of a 10⁶-entry
 * log reads only the bracketed deltas (HistoryScale).
 */
case class GraftDescribeHistoryCommand(table: String,
    commits: Boolean = false, limit: Option[Int] = None,
    between: Option[(RestorePoint, RestorePoint)] = None)
  extends LeafRunnableCommand {

  override def output: Seq[Attribute] =
    if (commits) Seq(
      AttributeReference("version", IntegerType, nullable = false)(),
      AttributeReference("ts", TimestampType, nullable = false)(),
      AttributeReference("kind", StringType, nullable = false)(),
      AttributeReference("files", IntegerType, nullable = false)(),
      AttributeReference("bytes", LongType, nullable = false)(),
      AttributeReference("rows_changed", BooleanType, nullable = false)(),
      AttributeReference("commit", StringType, nullable = false)(),
      // victims named by this commit's removal/rewrite entries — a
      // RESTORE/takedown commit is files=0, removed=50k, not a
      // one-file append (its sentinel is not a data file)
      AttributeReference("removed", LongType, nullable = false)())
    else Seq(
      AttributeReference("ts", TimestampType, nullable = false)(),
      AttributeReference("action", StringType, nullable = false)(),
      AttributeReference("file", StringType, nullable = false)(),
      AttributeReference("len", LongType, nullable = false)(),
      AttributeReference("rows_changed", BooleanType, nullable = false)(),
      AttributeReference("rewrite_of", StringType, nullable = true)())

  override def run(spark: SparkSession): Seq[Row] = {
    import graft.sources.ScbfDiscovery
    val conf = spark.sessionState.newHadoopConf()
    val dir = GraftSqlParser.resolveAnyScbfDir(spark, table)
    val fs = dir.getFileSystem(conf)
    val qroot = fs.makeQualified(dir)
    if (!ScbfDiscovery.exists(qroot, conf)) {
      if (graft.sources.ScbfClone.isClone(qroot, conf))
        throw new graft.scbf.ScbfFormatException(
          s"DESCRIBE HISTORY $table: a SHALLOW CLONE starts with no history " +
            "of its own — the ref list IS the branch point. Inspect the " +
            "SOURCE table's history; the clone's own log begins with its " +
            "first append.")
      throw new graft.scbf.ScbfFormatException(
        s"DESCRIBE HISTORY $table: the table has no discovery log — " +
          "history is recorded by connector writes; a foreign/reference-" +
          "tool directory has none.")
    }
    limit.foreach(n => require(n > 0, s"DESCRIBE HISTORY LIMIT must be positive, got $n"))
    val window = between.map { case (p1, p2) =>
      def resolve(p: RestorePoint, which: String): Long = p match {
        case RestoreAtMillis(ms) => ms
        case RestoreAtLiteral(lit) => GraftSqlParser.sessionTsLiteralMillis(
          spark, lit, s"DESCRIBE HISTORY $table BETWEEN ($which point)")
        case RestoreAtVersion(v) =>
          graft.sources.ScbfDiscovery.versionTs(qroot, conf, v)
      }
      val lo = resolve(p1, "start")
      val hi = resolve(p2, "end")
      if (lo >= hi)
        throw new graft.scbf.ScbfFormatException(
          s"DESCRIBE HISTORY $table BETWEEN: the start point ($lo) is not " +
            s"before the end point ($hi). The feed is exclusive-start/" +
            "inclusive-end — changes AFTER the first point up to the " +
            "second; swap the points or widen the window.")
      (lo, hi)
    }
    if (commits) runCommits(qroot, conf) else runFiles(qroot, conf, window)
  }

  private def runCommits(qroot: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration): Seq[Row] = {
    import graft.sources.ScbfDiscovery
    // span-aware ordinals (durable across compaction): a fold row's
    // version is the LAST ordinal it covers — the state it renders
    val chain = ScbfDiscovery.versionedChain(qroot, conf)
    val instants = ScbfDiscovery.listLog(qroot, conf).instants
    // newest first; LIMIT bounds the DELTA READS themselves (one
    // summary row needs one delta parse, nothing table-history-sized)
    val wanted = chain.reverse.take(limit.getOrElse(chain.size))
    wanted.map { case (name, _, version) =>
      // streamed fold over the delta — counts/max plus a DISTINCT
      // victim-name set (producers attach the SAME full victim list to
      // every file a commit publishes — ScbfWrite/ScbfDelete/the swap
      // announce — so summing rewriteOf sizes would multiply the count
      // by the commit's output width; the set is transient and bounded
      // by the delta's victim population). `files` counts DATA files
      // only (len >= 0); removal sentinels count under `removed`.
      var files = 0; var bytes = 0L; var maxTs = Long.MinValue
      var rowsChanged = false
      val victims = scala.collection.mutable.HashSet.empty[String]
      ScbfDiscovery.readDeltaStream(qroot, conf, name) { e =>
        if (e.len >= 0) { files += 1; bytes += e.len }
        victims ++= e.rewriteOf
        if (e.ts > maxTs) maxTs = e.ts
        rowsChanged ||= e.rowsChanged
      }
      val removed = victims.size.toLong
      val ts = if (maxTs == Long.MinValue)
        instants.getOrElse(name, 0L)
      else maxTs
      Row(version, new java.sql.Timestamp(ts),
        if (ScbfDiscovery.isFold(name)) "fold" else "commit",
        files, bytes, rowsChanged, name, removed)
    }
  }

  private def runFiles(qroot: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration,
      window: Option[(Long, Long)] = None): Seq[Row] = {
    import graft.sources.ScbfDiscovery
    // window lower bound: a delta NAMED before the start cannot hold
    // in-window entries (entries are stamped at or before their
    // delta's publication) — the feed never reads pre-window deltas.
    // Deltas named after the end still must be read: a fold published
    // later re-announces in-window history verbatim (and may be the
    // only surviving copy of it); the per-entry window filter keeps
    // the output exact either way.
    // per-delta publication instants (v1 name millis / v2 markers) —
    // the early-stop bounds; a markerless delta has none and is read
    val instants = ScbfDiscovery.listLog(qroot, conf).instants
    val names = ScbfDiscovery.commitChain(qroot, conf).reverse // newest first
      .filter(n => window.forall { case (lo, _) =>
        instants.get(n).forall(_ > lo) })
    def inWindow(e: ScbfDiscovery.Entry): Boolean =
      window.forall { case (lo, hi) => e.ts > lo && e.ts <= hi }
    val selected: Seq[ScbfDiscovery.Entry] = limit match {
      case None =>
        // unbounded view: the full first-per-name replay; the window
        // applies to each name's FIRST announcement (its publication —
        // fold copies keep the original stamp, so they can neither
        // re-admit pre-window files nor hide in-window ones)
        val all = names.flatMap(n => ScbfDiscovery.readDelta(qroot, conf, n))
        all.groupBy(_.name).values.map(_.minBy(_.ts)).filter(inWindow).toSeq
      case Some(n) =>
        // bounded: keep the n FIRST entries under the OUTPUT order
        // (newest ts first, name ascending among ties) in a max-heap
        // whose head is the worst kept entry, with an in-heap name set
        // (duplicates are verbatim copies — compaction preserves
        // entries — so a copy can never displace anything; memory
        // stays O(n) even while scanning a fold snapshot). Early stop:
        // entries are stamped at or before their delta's creation
        // millis, so once the heap is full and the next delta's prefix
        // is strictly older than the worst kept timestamp, nothing
        // further can rank earlier.
        val ord: Ordering[(Long, String)] =
          Ordering.Tuple2(Ordering.Long.reverse, Ordering.String)
        val heap = scala.collection.mutable.PriorityQueue
          .empty[(Long, String)](ord) // head = greatest = worst kept
        val inHeap = scala.collection.mutable.HashMap.empty[String, ScbfDiscovery.Entry]
        // names whose FIRST announcement proved pre-window (a later-
        // visited delta held an older, out-of-window stamp): the file
        // was not ADDED in the window, so no copy of it may stay kept
        val excluded = scala.collection.mutable.HashSet.empty[String]
        val it = names.iterator
        var stop = false
        while (it.hasNext && !stop) {
          val d = it.next()
          if (heap.size >= n &&
              instants.get(d).exists(_ < heap.head._1)) stop = true
          else ScbfDiscovery.readDeltaStream(qroot, conf, d) { e =>
            val key = (e.ts, e.name)
            if (!inWindow(e)) {
              // an out-of-window stamp is this name's true (or earlier)
              // publication — evict any in-window copy already kept
              if (window.exists(_._1 >= e.ts)) {
                excluded += e.name
                inHeap.remove(e.name).foreach { old =>
                  val rebuilt = heap.toSeq.filterNot(_ == ((old.ts, e.name)))
                  heap.clear(); rebuilt.foreach(heap.enqueue(_))
                }
              }
            } else if (!excluded.contains(e.name)) {
              if (!inHeap.contains(e.name)) {
                if (heap.size < n) { heap.enqueue(key); inHeap(e.name) = e }
                else if (ord.compare(key, heap.head) < 0) {
                  inHeap.remove(heap.dequeue()._2)
                  heap.enqueue(key); inHeap(e.name) = e
                }
              } else if (e.ts < inHeap(e.name).ts) {
                // a later-visited delta holding the FIRST announcement
                // (older ts) of a name already selected: keep the
                // first-per-name rule by replacing the entry value (the
                // heap key must follow so ordering stays consistent)
                val rebuilt = heap.toSeq.filterNot(_ == (inHeap(e.name).ts, e.name))
                heap.clear(); rebuilt.foreach(heap.enqueue(_))
                heap.enqueue(key)
                inHeap(e.name) = e
              }
            }
          }
        }
        inHeap.values.toSeq
    }
    selected.sortBy(e => (-e.ts, e.name)).map { e =>
      // shared with the distributed history relation (ScbfHistoryRead)
      // so the pinned parity between the two cannot drift
      Row(new java.sql.Timestamp(e.ts), ScbfDiscovery.actionOf(e), e.name,
        e.len, e.rowsChanged,
        if (e.rewriteOf.isEmpty) null else e.rewriteOf.mkString(","))
    }
  }
}

/**
 * `DESCRIBE DETAIL tbl` — the Delta-shaped one-row table summary,
 * scale-honest by construction: `num_files`/`size_bytes` come from the
 * one listing the command pays (clone refs resolve through their
 * length-guarded path like any read), and `rows` is served from
 * fingerprint-validated dirsum head-reads — per directory ~200 B, zero
 * full manifest parses, zero data opens — with a BOUNDED fallback for
 * exactly the directories whose summary cannot vouch (round 12): each
 * dirty directory pays ONE manifest parse, its length-guarded entries
 * answer the manifested files, and only files the manifest misses
 * (the unmanifested append, the foreign drop-in) pay a sidecar read
 * or, last, one header read. The common incident shape — one hot
 * partition mid-ingest on a 10⁴-partition table — thus answers EXACT
 * rows for one manifest parse + one header read, while clean
 * directories keep the zero-parse head-read bill. `rows` is NULL only
 * when a file is unreadable by every route — the honest answer, never
 * a guess. Resolves session-catalog and graft-catalog tables.
 */
case class GraftDescribeDetailCommand(table: String)
  extends LeafRunnableCommand {

  override def output: Seq[Attribute] = Seq(
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("provider", StringType, nullable = false)(),
    AttributeReference("num_files", IntegerType, nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = false)(),
    AttributeReference("rows", LongType, nullable = true)(),
    AttributeReference("partition_columns", StringType, nullable = true)(),
    AttributeReference("is_clone", BooleanType, nullable = false)(),
    AttributeReference("has_history", BooleanType, nullable = false)(),
    AttributeReference("commits", IntegerType, nullable = true)())

  override def run(spark: SparkSession): Seq[Row] = {
    import graft.sources.{ScbfClone, ScbfDataSource, ScbfDiscovery, ScbfStats}
    val conf = spark.sessionState.newHadoopConf()
    val dir = GraftSqlParser.resolveAnyScbfDir(spark, table)
    val fs = dir.getFileSystem(conf)
    val qroot = fs.makeQualified(dir)
    val files = ScbfDataSource.resolveFiles(Seq(qroot.toString), conf)
    // rows: dirsum head-reads for every directory that can vouch; an
    // O(dirty-dirs) manifest fallback (+ sidecar/header per file the
    // manifest misses) for the rest — see the class scaladoc
    val byDir = files.groupBy(_.getPath.getParent).toSeq
    val rows: Option[Long] =
      if (byDir.isEmpty) Some(0L)
      else {
        lazy val lookup = new ScbfStats.Lookup(conf)
        var total = 0L
        var exact = true
        val it = byDir.iterator
        while (exact && it.hasNext) {
          val (d, fsIn) = it.next()
          ScbfStats.readDirSummary(d, conf).filter(_.matches(fsIn)) match {
            case Some(s) => total += s.rows
            case None =>
              // dirty directory: one manifest parse (cached in the
              // Lookup), length-guarded entries first, sidecar then
              // header for the files it misses
              val fit = fsIn.iterator
              while (exact && fit.hasNext) {
                val f = fit.next()
                lookup.stats(f.getPath, f.getLen) match {
                  case Some(st) => total += st.rows
                  case None =>
                    try total += graft.sources.ScbfUtil.readHeader(f, conf).totalRows
                    catch { case scala.util.control.NonFatal(_) => exact = false }
                }
              }
          }
        }
        if (exact) Some(total) else None
      }
    // partitioning: graft-catalog tables resolve through their own
    // catalog's transforms (mirroring resolveAnyScbfDir's dispatch);
    // session-catalog errors stay LOUD — no blanket swallow
    val partNames: Seq[String] = {
      val parts = table.split('.')
      val viaGraft: Option[Seq[String]] =
        if (parts.length >= 3) {
          try spark.sessionState.catalogManager.catalog(parts(0)) match {
            case g: graft.sources.GraftCatalog =>
              Some(g.loadTable(
                org.apache.spark.sql.connector.catalog.Identifier.of(
                  parts.slice(1, parts.length - 1), parts.last))
                .partitioning().toSeq
                .flatMap(_.references().toSeq.flatMap(_.fieldNames().toSeq)))
            case _ => None
          } catch { case scala.util.control.NonFatal(_) => None }
        } else None
      viaGraft.getOrElse(
        GraftSqlParser.resolveScbfMeta(spark, table)._2.partitionColumnNames)
    }
    val partCols = if (partNames.isEmpty) null else partNames.mkString(",")
    val hasHistory = ScbfDiscovery.exists(qroot, conf)
    // commits = total recorded ordinals (durable across folds), not
    // the physical delta count — the same axis COMMITS/VERSION AS OF use
    val commitCount: Any =
      if (!hasHistory) null
      else ScbfDiscovery.versionedChain(qroot, conf) match {
        case Seq() => 0
        case chain => chain.last._3 + 1
      }
    Seq(Row(qroot.toString, "scbf", files.size, files.map(_.getLen).sum,
      rows.orNull, partCols, ScbfClone.isClone(qroot, conf), hasHistory,
      commitCount))
  }
}

/**
 * `RESTORE TABLE t TO TIMESTAMP AS OF ts` — roll the LIVE table back
 * to its time-travel rendering by removing every data file published
 * after `ts` (the undo-a-bad-ingest-wave primitive). The as-of set
 * comes from the same [[graft.sources.ScbfDiscovery.filesAsOf]] replay
 * the read path uses, so RESTORE inherits its exactness contract and
 * all of its refusals: no/reset log, pre-log timestamps, unannounced
 * files, and any as-of file a later rewrite physically removed (a
 * RESTORE across a DELETE/UPDATE/OPTIMIZE boundary refuses — SCBF
 * retains no tombstoned bytes, so those rows are unrecoverable and
 * the command says so instead of "restoring" a half-table). For
 * append-only history — the common case, a bad wave on top of good
 * data — the restore is EXACT, zero-read (file deletes + manifest
 * drops, no data IO), and idempotent (re-running removes nothing).
 *
 * Stream semantics match the row-level takedown path: the removal is
 * announced to the discovery log FIRST (a sentinel removal entry,
 * R:victims, C:1), so checkpointed log-path streams get their
 * onChangeCommit policy (skip logs a warning, fail stops the stream)
 * instead of silently losing files. Partition directories emptied by
 * the restore are removed entirely — they did not exist at `ts`.
 *
 * Crash recovery: the removal entry lands in the log BEFORE the
 * physical deletes, so a crash in between leaves log-removed files
 * still on disk. [[graft.sources.ScbfDiscovery.filesAsOf]] treats an
 * announced-but-removed listed file as exactly that half-finished
 * state (the log is the truth; the bytes are garbage pending
 * deletion), so re-running the SAME RESTORE completes it: the victims
 * are still outside the as-of keep set and get deleted idempotently.
 *
 * The restore point is one of: epoch millis; a timestamp literal
 * resolved at run time in the SESSION timezone (the same resolution
 * `TIMESTAMP AS OF` gets from Catalyst, so the two spellings of one
 * literal always name one instant); or a commit-ordinal VERSION,
 * resolved through the same chain mapping as `SELECT … VERSION AS OF`
 * ([[graft.sources.ScbfDiscovery.versionTs]]).
 */
sealed trait RestorePoint
case class RestoreAtLiteral(lit: String) extends RestorePoint
case class RestoreAtMillis(ms: Long) extends RestorePoint
case class RestoreAtVersion(version: Int) extends RestorePoint

/**
 * `CREATE [OR REPLACE] TEMP VIEW v AS TABLE CHANGES tbl SINCE <p>
 * [UNTIL <p>] [RECONCILE FALSE]` — the SQL spelling of the row-level
 * CDC enumeration ([[graft.sources.ScbfCdc.changes]]; Delta's
 * `table_changes` niche). Points are `VERSION <n>` ordinals, quoted
 * session-timezone timestamp literals, or epoch millis — the same
 * grammar and the same window shape as `DESCRIBE HISTORY … BETWEEN`:
 * EXCLUSIVE start, INCLUSIVE end (`SINCE VERSION v1 UNTIL VERSION v2`
 * enumerates exactly commits v1+1..v2). `RECONCILE FALSE` is the SQL
 * escape hatch for the bypassed-producer trust check (the API's
 * `reconcile=false` — intentionally-foreign files tolerated), keeping
 * the SQL-only contract whole. The registered view IS the distributed
 * enumeration (table columns + `_change_type` + `_commit_timestamp`):
 * downstream `SELECT`s run as ordinary Spark SQL over the handful of
 * per-change-type scans, nothing data-sized ever reaches the driver.
 * The window is resolved (and its refusals — uncaptured mutations,
 * swept retention, overwrite boundaries — fire) HERE, at view
 * creation: the view snapshots the window's plan, so a consumer
 * advancing its point re-creates it with `OR REPLACE`.
 */
case class GraftCdcViewCommand(view: String, table: String,
    since: RestorePoint, until: Option[RestorePoint], replace: Boolean,
    reconcile: Boolean = true)
  extends LeafRunnableCommand {

  override def output: Seq[Attribute] = Seq(
    AttributeReference("view", StringType, nullable = false)(),
    AttributeReference("table", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftSqlParser.resolveAnyScbfDir(spark, table)
    def resolve(p: RestorePoint, which: String): (Option[Long], Option[Int]) =
      p match {
        case RestoreAtMillis(m) => (Some(m), None)
        case RestoreAtLiteral(l) => (Some(GraftSqlParser.sessionTsLiteralMillis(
          spark, l, s"TABLE CHANGES $table $which")), None)
        case RestoreAtVersion(v) => (None, Some(v))
      }
    if (!replace &&
        spark.sessionState.catalog.getTempView(view).isDefined)
      throw new graft.scbf.ScbfFormatException(
        s"CREATE TEMP VIEW $view: a temp view with this name already " +
          "exists — use CREATE OR REPLACE TEMP VIEW to re-point it at a " +
          "new window.")
    val (sMs, sV) = resolve(since, "SINCE")
    val u = until.map(resolve(_, "UNTIL"))
    val df = graft.sources.ScbfCdc.changes(spark, dir.toString,
      since = sMs, sinceVersion = sV,
      until = u.flatMap(_._1), untilVersion = u.flatMap(_._2),
      reconcile = reconcile)
    df.createOrReplaceTempView(view)
    Seq(Row(view, table))
  }
}

object GraftRestoreTableCommand {
  /** Test seam: invoked between the as-of replay (listing captured)
   * and the removal announcement — the window a concurrent append
   * lands in. The restore must neither delete nor announce the new
   * file (it is not in the captured listing), so the append legally
   * serializes AFTER the restore. */
  private[plans] var raceHook: () => Unit = () => ()
}

case class GraftRestoreTableCommand(table: String, point: RestorePoint)
  extends LeafRunnableCommand {

  override def output: Seq[Attribute] = Seq(
    AttributeReference("files_removed", IntegerType, nullable = false)(),
    AttributeReference("files_kept", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import graft.sources.{ScbfDataSource, ScbfDiscovery, ScbfRewrite, ScbfStats}
    val conf = spark.sessionState.newHadoopConf()
    // graft-catalog tables resolve through their own catalog (the table
    // IS its warehouse directory) — same resolution as DESCRIBE HISTORY
    val rootP0 = GraftSqlParser.resolveAnyScbfDir(spark, table)
    // BEFORE point resolution: a clone has no chain, and VERSION AS OF
    // would otherwise die on the generic no-log error instead of the
    // clone contract
    graft.sources.ScbfClone.refuseIfClone(rootP0, conf, "RESTORE TABLE")
    val ts = point match {
      case RestoreAtMillis(millis) => millis
      case RestoreAtLiteral(lit) =>
        GraftSqlParser.sessionTsLiteralMillis(spark, lit, s"RESTORE TABLE $table")
      case RestoreAtVersion(v) =>
        val fs0 = rootP0.getFileSystem(conf)
        ScbfDiscovery.versionTs(fs0.makeQualified(rootP0), conf, v)
    }
    val rootP = rootP0
    val fs = rootP.getFileSystem(conf)
    val qroot = fs.makeQualified(rootP)
    def rel(p: org.apache.hadoop.fs.Path): String =
      qroot.toUri.relativize(fs.makeQualified(p).toUri).getPath.stripPrefix("/")
    val listing = ScbfDataSource.resolveFiles(Seq(rootP.toString), conf)
    // the as-of rendering; every refusal (no log, pre-log ts, bypassed
    // producer, swept originals) surfaces here BEFORE anything changes
    val asOf = ScbfDiscovery.filesAsOf(qroot, conf, ts, listing)
    val keepNames = asOf.map(f => rel(f.getPath)).toSet
    require(keepNames.nonEmpty,
      s"RESTORE $table: no files were live at $ts — restoring would " +
        "empty the table; DROP or TRUNCATE it instead")
    val extras = listing.filterNot(f => keepNames.contains(rel(f.getPath)))
    if (extras.isEmpty) return Seq(Row(0, keepNames.size))
    GraftRestoreTableCommand.raceHook()
    // announce-then-remove, same contract as the row-level takedown:
    // log-path streams see the change under their onChangeCommit policy
    if (ScbfDiscovery.exists(qroot, conf)) {
      ScbfDiscovery.append(qroot, conf, Seq(ScbfRewrite.removalEntry(
        s"restore-${java.util.UUID.randomUUID().toString.take(8)}",
        extras.map(f => rel(f.getPath)), cdcTag = None)))
    }
    // zero-read removal (file + sidecars, parallel), then one manifest
    // drop per touched directory
    ScbfRewrite.removeVictims(fs, extras.map(_.getPath), retainAt = None)
    extras.groupBy(_.getPath.getParent).foreach { case (d, fsInDir) =>
      ScbfStats.mergeManifest(d, conf, Seq.empty, fresh = false,
        drop = fsInDir.map(_.getPath.getName).toSet)
      // a partition directory the restore emptied did not exist at ts —
      // remove it, walking up through emptied intermediate levels
      // (never the root; the root always keeps as-of files)
      var cur = d
      while (fs.makeQualified(cur) != qroot &&
          ScbfDataSource.resolveFiles(Seq(cur.toString), conf).isEmpty) {
        fs.delete(cur, true)
        cur = cur.getParent
      }
    }
    // best-effort cache invalidation (the restore itself is complete)
    try spark.catalog.refreshTable(table)
    catch { case scala.util.control.NonFatal(_) => }
    Seq(Row(extras.size, keepNames.size))
  }
}

/**
 * `CREATE TABLE t SHALLOW CLONE s [TIMESTAMP AS OF ts | VERSION AS OF n]
 * [LOCATION '<dir>']` — zero-copy branching (see
 * [[graft.sources.ScbfClone]] for the full contract): the new
 * session-catalog table's directory holds a ref list into the source's
 * live (or as-of) file set; creating it opens ZERO data files. The
 * clone reads through the refs (length-guarded; a source rewrite that
 * removes referenced bytes turns into a loud dangling-ref refusal, the
 * documented VACUUM/DELETE interaction) and accepts APPENDS into its
 * own directory; every rewrite surface refuses with the CTAS guidance.
 * A partitioned source clones PARTITION-GRADE (round 12): the branch's
 * catalog entry records the source's identity partitioning
 * (srcPartCols below), so ref reads keep directory pruning/rollup/SPJ
 * off the source-rooted cells AND the branch's own appends route into
 * k=v subdirectories of the clone root, preserving all three on an
 * appended-to branch. A GRAFT-CATALOG target (`CREATE TABLE
 * gcat.db.branch SHALLOW CLONE …`, round 13) records the source's
 * transforms VERBATIM — identity and bucket — so even a bucketed
 * source's branch keeps bucket-routed appends and zero-exchange
 * co-bucketed joins (the bucket function resolves through the
 * branch's own catalog). A session-catalog target of a bucketed
 * source keeps flat appends (no bucket function there — the
 * documented trade); partition MANAGEMENT refuses on any branch (see
 * ScbfClone's contract).
 *
 * `CREATE OR REPLACE … SHALLOW CLONE` is the one-statement spelling of
 * every dangling-ref refusal's cure ("re-create the clone"): the
 * existing table must itself BE a clone (replacing a real table's data
 * with refs would be silent data loss — refused), its directory is
 * dropped whole (REPLACE semantics: the branch dies, LOCAL APPENDS
 * INCLUDED — they were part of the branch), and the new ref list is
 * taken from the source's current (or AS OF) state at the SAME
 * location (an explicit different LOCATION refuses — moving the
 * directory is a different operation).
 *
 * REPLACE is STAGED, never destroy-first: the old branch is renamed
 * aside, the new ref file is published at the original location, the
 * catalog schema is refreshed in place (the entry is never dropped —
 * there is no window with no table), and only then is the old branch
 * deleted. A failure mid-replace leaves either the original branch
 * restored (ref-write failure → rename back) or, at worst, the new
 * clone live with the old branch parked at `<loc>.replaced-<uuid>`
 * (a crash between publish and cleanup — litter, never loss).
 */
case class GraftShallowCloneCommand(target: String, source: String,
    axis: Option[String], point: Option[String], location: Option[String],
    replace: Boolean = false)
  extends LeafRunnableCommand {

  override def output: Seq[Attribute] = Seq(
    AttributeReference("files_referenced", IntegerType, nullable = false)(),
    AttributeReference("bytes_referenced", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import graft.sources.{ScbfClone, ScbfDataSource, ScbfDiscovery}
    val conf = spark.sessionState.newHadoopConf()
    val srcDir = GraftSqlParser.resolveAnyScbfDir(spark, source)
    val fs = srcDir.getFileSystem(conf)
    val qsrc = fs.makeQualified(srcDir)
    // the source's CURRENT listing (flattens through a clone source's
    // own refs), or its AS OF rendering from the discovery log. An
    // AS OF over a CLONE source refuses with the clone contract (a
    // clone records no chain; the generic no-log error would mislead).
    val files = (axis, point) match {
      case (None, _) => ScbfDataSource.resolveFiles(Seq(qsrc.toString), conf)
      case (Some(a), Some(raw)) =>
        if (graft.sources.ScbfClone.isClone(qsrc, conf))
          throw new graft.scbf.ScbfFormatException(
            s"SHALLOW CLONE $source $a AS OF: the source is itself a " +
              "SHALLOW CLONE — a frozen rendering with no version chain of " +
              "its own. Clone it live (no AS OF), or clone the ORIGINAL " +
              "table at the point you need.")
        val ts = a match {
          case "TIMESTAMP" if raw.startsWith("'") =>
            GraftSqlParser.sessionTsLiteralMillis(spark,
              raw.substring(1, raw.length - 1), s"SHALLOW CLONE $source")
          case "TIMESTAMP" => raw.toLong
          case _ => // VERSION — quoted digits or bare; same mapping as SELECT's
            val v = raw.stripPrefix("'").stripSuffix("'").toIntOption
              .getOrElse(throw new graft.scbf.ScbfFormatException(
                s"SHALLOW CLONE $source VERSION AS OF $raw: versions are " +
                  "the integer ordinals DESCRIBE HISTORY <tbl> COMMITS shows"))
            ScbfDiscovery.versionTs(qsrc, conf, v)
        }
        ScbfDiscovery.filesAsOf(qsrc, conf, ts,
          ScbfDataSource.resolveFiles(Seq(qsrc.toString), conf))
      case _ => throw new graft.scbf.ScbfFormatException(
        s"SHALLOW CLONE $source: AS OF needs a point in time")
    }
    require(files.nonEmpty,
      s"SHALLOW CLONE $source: the source has no data files to reference")
    val schema = spark.table(source).schema
    // the source's IDENTITY partitioning, when resolvable: the branch's
    // catalog entry records it, so the branch's OWN appends route into
    // k=v subdirectories of the clone root — the refs keep the source's
    // layout (their paths carry the cells) and now local appends keep
    // it too, which is what preserves directory pruning, the rollup
    // fast path and SPJ key-grouping on an APPENDED-TO branch (a flat
    // local file would force SPJ off: a split without a key cannot
    // honor a key-grouped contract). Bucket transforms don't clone as
    // appendable groupings (the bucket function lives in the source's
    // catalog); those branches keep flat appends, the declared trade.
    // the source's transforms, verbatim, when it lives in a V2 catalog
    // (identity AND bucket) — what a graft-catalog TARGET records; and
    // the identity-only column list the session-catalog target path
    // keeps using (its entries cannot express bucket)
    lazy val srcTransformsOpt: Option[Array[org.apache.spark.sql.connector.expressions.Transform]] = {
      val parts0 = source.split('.')
      if (parts0.length < 3) None
      else try {
        val cat = spark.sessionState.catalogManager.catalog(parts0(0))
        Some(cat.asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
          .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
            parts0.slice(1, parts0.length - 1), parts0.last))
          .partitioning())
      } catch { case scala.util.control.NonFatal(_) => None }
    }
    val srcPartCols: Seq[String] = {
      val session =
        try Some(GraftSqlParser.resolveScbfMeta(spark, source)._2.partitionColumnNames)
        catch { case scala.util.control.NonFatal(_) => None }
      session.getOrElse {
        srcTransformsOpt.fold(Seq.empty[String]) { transforms =>
          val idents = transforms.toSeq.collect {
            case t if t.name == "identity" && t.references.length == 1 =>
              t.references.head.fieldNames.mkString(".")
          }
          if (idents.size == transforms.length) idents else Seq.empty
        }
      }
    }
    // catalog invariant for partitioned USING tables: partition columns
    // sit at the END of the stored schema (the DDL path enforces it)
    val storedSchema =
      if (srcPartCols.isEmpty) schema
      else org.apache.spark.sql.types.StructType(
        schema.fields.filterNot(f => srcPartCols.contains(f.name)) ++
          srcPartCols.flatMap(c => schema.fields.find(_.name == c)))
    // GRAFT-CATALOG target (round 13): `CREATE TABLE gcat.db.branch
    // SHALLOW CLONE gcat.db.src` — the spelling that keeps a BUCKETED
    // source's branch first-class. The target's catalog entry carries
    // the source's transforms VERBATIM (identity AND bucket), and
    // because the branch's relation resolves through the graft catalog
    // the bucket transform reports with a resolvable V2 function: the
    // branch's own appends route into `<col>_bucket=<id>/` and a
    // co-bucketed branch join keeps zero exchanges. (A session-catalog
    // target cannot — it has no `bucket` function — which is why a
    // bucketed source's session-target branch keeps flat appends, the
    // documented trade.)
    val tparts = target.split('.')
    if (tparts.length >= 3) {
      val tcat =
        try spark.sessionState.catalogManager.catalog(tparts(0))
        catch { case scala.util.control.NonFatal(_) =>
          throw new graft.scbf.ScbfFormatException(
            s"SHALLOW CLONE target $target: catalog '${tparts(0)}' is not " +
              "registered.")
        }
      tcat match {
        case g: graft.sources.GraftCatalog =>
          require(!replace, "CREATE OR REPLACE … SHALLOW CLONE with a " +
            "graft-catalog target: not supported — DROP the branch and " +
            "re-create it (graft-catalog tables own their directory whole).")
          require(location.isEmpty, "SHALLOW CLONE with a graft-catalog " +
            "target: the catalog owns the warehouse path — LOCATION is the " +
            "session-catalog spelling.")
          val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
            tparts.slice(1, tparts.length - 1), tparts.last)
          val transforms = srcTransformsOpt.getOrElse(
            srcPartCols.map(c => org.apache.spark.sql.connector.expressions
              .Expressions.identity(c)
              : org.apache.spark.sql.connector.expressions.Transform).toArray)
          // same pre-existing-content guards as the session path: a
          // meta-less warehouse directory holding bytes must neither be
          // silently absorbed into the branch nor recursively deleted
          // by the failure-path dropTable below
          val cdir = g.plannedTableDirectory(ident)
          require(!ScbfClone.isClone(cdir, conf),
            s"SHALLOW CLONE: target directory $cdir already holds a clone " +
              "ref file — an aborted clone; delete it (or the directory) " +
              "and re-run")
          require(ScbfDataSource.resolveFiles(Seq(cdir.toString), conf).isEmpty,
            s"SHALLOW CLONE: target directory $cdir already holds data files")
          g.createTable(ident, storedSchema, transforms,
            new java.util.HashMap[String, String]())
          val cfs = cdir.getFileSystem(conf)
          try ScbfClone.write(cfs.makeQualified(cdir), conf, qsrc, files,
            sourceName = Some(source))
          catch {
            case scala.util.control.NonFatal(e) =>
              try g.dropTable(ident)
              catch { case scala.util.control.NonFatal(_) => () }
              throw e
          }
          return Seq(Row(files.size, files.map(_.getLen).sum))
        case _ => () // spark_catalog 3-part names fall through below
      }
    }
    // target: a session-catalog table over the clone directory
    val parts = tparts
    val ti = parts.length match {
      case 2 => TableIdentifier(parts(1), Some(parts(0)))
      case 1 => TableIdentifier(target)
      case 3 if parts(0).equalsIgnoreCase("spark_catalog") =>
        TableIdentifier(parts(2), Some(parts(1)))
      case _ => throw new graft.scbf.ScbfFormatException(
        s"SHALLOW CLONE target must be a session-catalog table name, got $target")
    }
    val exists = spark.sessionState.catalog.tableExists(ti)
    if (exists && !replace)
      throw new graft.scbf.ScbfFormatException(
        s"SHALLOW CLONE: target table $target already exists. If it is a " +
          "clone you want to re-point at the source's current (or AS OF) " +
          "state, use CREATE OR REPLACE TABLE … SHALLOW CLONE — REPLACE " +
          "drops the whole branch, local appends included.")
    GraftShallowCloneCommand.raceHook()
    if (exists) {
      // REPLACE, staged: only a CLONE may be replaced by a clone —
      // replacing a real table's data files with refs would be silent
      // data loss. The old branch is set ASIDE (never destroyed before
      // the replacement is durably published), the new ref file is
      // written at the same location, the catalog entry is refreshed
      // in place (no drop/create — no window with no table), and the
      // parked branch is deleted LAST.
      val oldMeta = spark.sessionState.catalog.getTableMetadata(ti)
      val old = new org.apache.hadoop.fs.Path(oldMeta.location)
      val ofs = old.getFileSystem(conf)
      require(ScbfClone.isClone(old, conf),
        s"CREATE OR REPLACE … SHALLOW CLONE: $target exists and is NOT a " +
          "shallow clone — replacing a real table with a ref list would " +
          "destroy its data. DROP it explicitly if that is what you want.")
      location.foreach(l => require(
        ofs.makeQualified(new org.apache.hadoop.fs.Path(l)) ==
          ofs.makeQualified(old),
        s"CREATE OR REPLACE … SHALLOW CLONE: the existing clone lives at " +
          s"$old; a different LOCATION ($l) is a move, not a replace — " +
          "DROP and re-create instead."))
      val retired = new org.apache.hadoop.fs.Path(
        old + s".replaced-${java.util.UUID.randomUUID().toString.take(8)}")
      require(ofs.rename(old, retired),
        s"CREATE OR REPLACE … SHALLOW CLONE: could not set the existing " +
          s"branch aside ($old → $retired) — nothing was changed")
      try {
        GraftShallowCloneCommand.replacePublishHook()
        ScbfClone.write(old, conf, qsrc, files, sourceName = Some(source))
      } catch {
        case scala.util.control.NonFatal(e) =>
          // restore the original branch; a failed restore leaves it
          // intact at `retired` and the error below says so
          if (!(try { ofs.delete(old, true); ofs.rename(retired, old) }
                catch { case scala.util.control.NonFatal(_) => false }))
            throw new graft.scbf.ScbfFormatException(
              s"CREATE OR REPLACE … SHALLOW CLONE failed (${e.getMessage}) " +
                s"and the original branch could not be restored — it is " +
                s"intact at $retired; rename it back to $old.")
          throw e
      }
      try {
        spark.sessionState.catalog.alterTable(oldMeta.copy(
          schema = storedSchema, partitionColumnNames = srcPartCols))
        spark.sessionState.catalog.refreshTable(ti)
      } catch { case scala.util.control.NonFatal(_) =>
        // the clone itself is live; a stale catalog schema self-heals
        // on the next DDL — never fail the replace over it
        ()
      }
      // the replacement is durably published — the old branch dies now
      ofs.delete(retired, true)
      return Seq(Row(files.size, files.map(_.getLen).sum))
    }
    val loc = location.getOrElse(
      spark.sessionState.catalog.defaultTablePath(ti).toString)
    val locP = new org.apache.hadoop.fs.Path(loc)
    require(!ScbfClone.isClone(locP, conf),
      s"SHALLOW CLONE: target location $loc already holds a clone ref file " +
        "— an aborted clone; delete it (or the directory) and re-run")
    require(ScbfDataSource.resolveFiles(Seq(loc), conf).isEmpty,
      s"SHALLOW CLONE: target location $loc already holds data files")
    // catalog entry FIRST, refs second: a createTable failure must not
    // strand a ref file that bricks retries; a ref-write failure drops
    // the just-created entry so neither half survives alone
    val storage = org.apache.spark.sql.catalyst.catalog.CatalogStorageFormat.empty
      .copy(locationUri = Some(locP.toUri))
    spark.sessionState.catalog.createTable(
      org.apache.spark.sql.catalyst.catalog.CatalogTable(
        identifier = ti,
        tableType = org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL,
        storage = storage,
        schema = storedSchema,
        partitionColumnNames = srcPartCols,
        provider = Some("scbf")),
      ignoreIfExists = false)
    try ScbfClone.write(locP, conf, qsrc, files, sourceName = Some(source))
    catch {
      case scala.util.control.NonFatal(e) =>
        try spark.sessionState.catalog.dropTable(ti,
          ignoreIfNotExists = true, purge = false)
        catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }
    Seq(Row(files.size, files.map(_.getLen).sum))
  }
}

object GraftShallowCloneCommand {
  /** Test seam: invoked AFTER the source file list is captured and
   * BEFORE the ref file is written — the window a source mutation
   * (DELETE, OPTIMIZE, RESTORE) can land in. The contract the chaos
   * specs pin: the create still succeeds (the ref list is a snapshot
   * of the captured listing), and the FIRST READ either resolves a
   * valid branch or refuses loudly with the dangling-ref contract
   * naming CREATE OR REPLACE as the cure — never a torn ref file,
   * never a silently partial table. */
  private[graft] var raceHook: () => Unit = () => ()

  /** Test seam inside REPLACE's publish window: after the old branch
   * was renamed aside, before the new ref file is written — the crash
   * point the staged design exists for. A throw here must leave the
   * ORIGINAL branch restored (local appends included), never a
   * destroyed branch or a missing table. */
  private[graft] var replacePublishHook: () => Unit = () => ()
}

/**
 * `SHOW CREATE TABLE tbl` for scbf/graft tables — the round-trip
 * statement the DDL surface now has enough shapes to need: flat and
 * partitioned session-catalog tables render `CREATE TABLE … USING scbf
 * [PARTITIONED BY …] LOCATION …`; graft-catalog tables render their
 * transforms (identity + bucket) with no LOCATION (the catalog owns
 * the warehouse path); a SHALLOW CLONE renders its `SHALLOW CLONE
 * <source>` spelling from the ref file's recorded source name — the
 * one fact a plain external-table rendering would lose. Clones created
 * before the name was recorded fall back to the plain rendering
 * (which re-registers the same branch directory — still equivalent).
 * Re-executing the output (after DROP + directory cleanup where
 * applicable) produces an equivalent table; for a clone it re-branches
 * off the source's CURRENT state, exactly like the dangling-ref cure.
 */
case class GraftShowCreateTableCommand(table: String)
  extends LeafRunnableCommand {

  override def output: Seq[Attribute] =
    Seq(AttributeReference("createtab_stmt", StringType, nullable = false)())

  private def sqlType(dt: DataType): String = dt match {
    case IntegerType => "INT"
    case org.apache.spark.sql.types.DoubleType => "DOUBLE"
    case _ => "STRING"
  }

  override def run(spark: SparkSession): Seq[Row] = {
    import graft.sources.{GraftCatalog, ScbfClone}
    val conf = spark.sessionState.newHadoopConf()
    val parts = table.split('.')
    val viaGraft: Option[String] =
      if (parts.length >= 3) {
        try spark.sessionState.catalogManager.catalog(parts(0)) match {
          case g: GraftCatalog =>
            val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
              parts.slice(1, parts.length - 1), parts.last)
            val t = g.loadTable(ident)
            val cols = t.columns().toSeq
              .map(c => s"${c.name} ${sqlType(c.dataType)}").mkString(", ")
            val transforms = t.partitioning().toSeq.map { tr =>
              if (tr.name == "bucket") {
                val n = tr.arguments.collectFirst {
                  case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
                    String.valueOf(l.value)
                }.getOrElse("?")
                s"bucket($n, ${tr.references().head.fieldNames().mkString(".")})"
              } else tr.references().head.fieldNames().mkString(".")
            }
            Some(s"CREATE TABLE $table ($cols) USING scbf" +
              (if (transforms.isEmpty) ""
               else s" PARTITIONED BY (${transforms.mkString(", ")})"))
          case _ => None
        } catch { case scala.util.control.NonFatal(_) => None }
      } else None
    val stmt = viaGraft.getOrElse {
      val (_, meta) = GraftSqlParser.resolveScbfMeta(spark, table)
      val loc = new org.apache.hadoop.fs.Path(meta.location)
      val cloneSource: Option[String] =
        if (ScbfClone.isClone(loc, conf))
          ScbfClone.read(loc, conf).flatMap(_.sourceName)
        else None
      cloneSource match {
        case Some(src) =>
          s"CREATE TABLE $table SHALLOW CLONE $src LOCATION '$loc'"
        case None =>
          val cols = meta.schema.fields.toSeq
            .map(f => s"${f.name} ${sqlType(f.dataType)}").mkString(", ")
          s"CREATE TABLE $table ($cols) USING scbf" +
            (if (meta.partitionColumnNames.isEmpty) ""
             else s" PARTITIONED BY (${meta.partitionColumnNames.mkString(", ")})") +
            s" LOCATION '$loc'"
      }
    }
    Seq(Row(stmt))
  }
}

/** `OPTIMIZE tbl [CLUSTER|ZORDER BY (cols)] [FILES n]` — snapshot-scoped
 * rewrite via [[ScbfMaintenance]]; partitioned tables sweep every
 * partition (per-partition passes, root-log re-announce). A directory
 * already at one file with a one-file target is skipped (no job, no
 * commit), as is a balanced layout at the target count under plain
 * compaction. Returns the number of original files folded into the
 * rewrite, summed over partitions — 0 when everything was skipped. */
case class GraftOptimizeCommand(
    table: String, zorder: Boolean, cols: Seq[String], files: Int)
  extends LeafRunnableCommand {

  override def output: Seq[Attribute] =
    Seq(AttributeReference("files_rewritten", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val (dir, partitioned) = GraftSqlParser.resolveScbfTable(spark, table)
    // partitioned sweeps run per-directory rewrites as concurrent
    // Spark jobs (graft.sweep.parallelism, default 8) — partitions
    // are disjoint commit units, and a serialized sweep pays
    // O(partitions) fixed job overhead in wall-clock for no reason
    // (the same setting the API path has measured since q48)
    val par = graft.GraftConf.int(spark, graft.GraftConf.SweepParallelism, 8)
    Seq(Row(ScbfMaintenance.optimize(spark, dir, partitioned, zorder, cols, files, par)))
  }
}

/** `VACUUM tbl [RETAIN h HOURS]` — sweep aged dot-temps and orphan
 * sidecars from the table root and every partition directory holding
 * data. Returns (temps, orphans) removed. */
case class GraftVacuumCommand(table: String, olderThanMs: Option[Long])
  extends LeafRunnableCommand {

  override def output: Seq[Attribute] = Seq(
    AttributeReference("temps_removed", IntegerType, nullable = false)(),
    AttributeReference("orphans_removed", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val (dir, _) = GraftSqlParser.resolveScbfTable(spark, table)
    // every table directory sweeps, data-holding or not; directories
    // sweep concurrently (pure independent FS metadata work — see
    // ScbfMaintenance.vacuumTable). An explicit RETAIN n HOURS is ONE
    // stated horizon — it overrides both the litter and the
    // CDC-retention defaults (the operator's explicit promise beats
    // both built-ins).
    val (temps, orphans) = ScbfMaintenance.vacuumTable(spark, dir,
      olderThanMs,
      parallelism = graft.GraftConf.int(spark,
        graft.GraftConf.SweepParallelism, 8))
    Seq(Row(temps, orphans))
  }
}
